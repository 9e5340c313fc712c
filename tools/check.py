#!/usr/bin/env python3
"""Driver-faithful local stand-in for the DuckDB-oracle correctness gate.

Mirrors the driver's comparison protocol (learned empirically in round 2,
VERDICT.md "What's wrong"):
  - spark output read via pandas/pyarrow (pd.read_parquet), oracle via
    duckdb .df() — the same two read paths the driver hashes
  - columns sorted by name, rows sorted by all columns (the driver's
    sort_values is what crashes on array-typed cells)
  - dtype CLASS must match (int vs float vs bool vs datetime vs object);
    width differences (int32 vs int64, float32 vs float64) are tolerated,
    exactly like the driver's hash
  - values compare exactly (NaN==NaN, None==None); NO cross-class numeric
    equality fallback — that fallback is what produced round-2's six
    false greens
  - array-typed output columns are an immediate FAIL (the driver's pandas
    harness dies with "unhashable type: numpy.ndarray" on them)

Oracle results are cached as pickles under /tmp/graft_oracle_cache, keyed
by the sha256 of the SQL text, the DuckDB version and each fixture file's
path, size and mtime: a changed SQL string or fixture misses, and a hit's pass line ends
in "(cached)". A few oracle queries take minutes each in DuckDB at sf0.1.
Delete the directory to force a replay.
"""
import duckdb, json, sys, os, glob, hashlib
import numpy as np
import pandas as pd

TABLES = ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']

def dtype_class(dt):
    k = getattr(dt, 'kind', 'O')
    if k in 'iu': return 'int'
    if k == 'f': return 'float'
    if k == 'b': return 'bool'
    if k in 'mM': return 'datetime'
    return 'object'

def array_cols(df):
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            s = df[c].dropna()
            if len(s) and isinstance(s.iloc[0], (np.ndarray, list, dict)):
                bad.append(c)
    return bad

def canon(df):
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind='mergesort')
    return df.reset_index(drop=True)

CACHE = '/tmp/graft_oracle_cache'

def fixture_stamp(sf):
    """Path, size and mtime of every fixture file, one line each, after
    the DuckDB version that replays the SQL."""
    lines = [f'duckdb {duckdb.__version__}']
    for t in TABLES:
        p = f'{sf}/{t}.parquet'
        for f in sorted(glob.glob(f'{p}/*.parquet')) if os.path.isdir(p) else [p]:
            st = os.stat(f)
            lines.append(f'{os.path.abspath(f)} {st.st_size} {st.st_mtime_ns}')
    return '\n'.join(lines)

def oracle_df(con, sql, stamp):
    """The oracle's result for `sql` and whether it came from the cache."""
    path = f"{CACHE}/{hashlib.sha256((sql + chr(0) + stamp).encode()).hexdigest()}.pkl"
    if os.path.exists(path):
        try:
            return pd.read_pickle(path), True
        except Exception:
            pass  # unreadable entry: replay and overwrite it
    df = con.execute(sql).df()
    os.makedirs(CACHE, exist_ok=True)
    tmp = f'{path}.{os.getpid()}.tmp'
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df, False

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
    only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        # fixture tables are single files in the driver's sets, but the
        # locally generated sf1 set writes Spark-style directories
        p = f'{sf}/{t}.parquet'
        src = f'{p}/*.parquet' if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    stamp = fixture_stamp(sf)
    n_pass = n_fail = 0
    if only:
        # a typo'd / unknown key must FAIL loudly, not vacuously pass:
        # with 0 comparisons the fast loop would read green as verified
        known = set(oracle) | {d for d in os.listdir(out)
                               if os.path.isdir(f'{out}/{d}')}
        unknown = only - known
        if unknown:
            print(f'FAIL: unknown key(s) in subset filter: {sorted(unknown)}')
            n_fail += len(unknown)
    for name in sorted(oracle):
        if only and name not in only:
            continue
        d = f'{out}/{name}'
        if not os.path.isdir(d):
            print(f'FAIL {name}: spark output missing (query errored?)')
            n_fail += 1
            continue
        try:
            odf, cached = oracle_df(con, oracle[name], stamp)
        except Exception as e:
            print(f'FAIL {name}: oracle error: {e}')
            n_fail += 1
            continue
        try:
            parts = sorted(glob.glob(f'{d}/*.parquet'))
            sdf = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        except Exception as e:
            print(f'FAIL {name}: cannot read spark output: {e}')
            n_fail += 1
            continue
        # array-typed outputs kill the driver harness outright — fail early
        arr = array_cols(sdf) + array_cols(odf)
        if arr:
            print(f'FAIL {name}: array-typed output column(s) {sorted(set(arr))} '
                  f'(driver pandas harness cannot hash these — §7.3(6))')
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f'FAIL {name}: columns differ\n  spark : {sorted(sdf.columns)}\n  oracle: {sorted(odf.columns)}')
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f'FAIL {name}: row counts differ spark={len(sdf)} oracle={len(odf)}')
            n_fail += 1
            continue
        sdf, odf = canon(sdf), canon(odf)
        # dtype-class gate (the driver's hash is class-sensitive)
        classbad = []
        for c in sdf.columns:
            sc, oc = dtype_class(sdf[c].dtype), dtype_class(odf[c].dtype)
            if sc != oc:
                classbad.append(f'{c}: spark {sdf[c].dtype} ({sc}) vs oracle {odf[c].dtype} ({oc})')
        if classbad:
            print(f'FAIL {name}: dtype-class mismatch (driver hash diverges even if values equal)')
            for m in classbad:
                print(f'  {m}')
            n_fail += 1
            continue
        bad = []
        for c in sdf.columns:
            sa, oa = sdf[c], odf[c]
            try:
                eq = (sa == oa) | (sa.isna() & oa.isna())
            except Exception:
                eq = pd.Series([a == b or (pd.isna(a) and pd.isna(b))
                                for a, b in zip(sa, oa)])
            for r in np.flatnonzero(~eq.to_numpy()):
                bad.append((int(r), c, sa.iloc[r], oa.iloc[r]))
                if len(bad) >= 5:
                    break
            if len(bad) >= 5:
                break
        if bad:
            print(f'FAIL {name}: {len(bad)}+ cell mismatches (rows={len(sdf)})')
            for r, c, a, b in bad[:5]:
                print(f'  row {r} col {c}: spark={a!r} oracle={b!r}')
            n_fail += 1
        else:
            print(f'pass {name} ({len(sdf)} rows){" (cached)" if cached else ""}')
            n_pass += 1
    # queries without oracle (a_*) — confirm output exists AND is
    # driver-hashable (no array columns)
    for dname in sorted(os.listdir(out)):
        p = f'{out}/{dname}'
        if only and dname not in only:
            continue
        if os.path.isdir(p) and dname not in oracle:
            try:
                parts = sorted(glob.glob(f'{p}/*.parquet'))
                adf = pd.concat([pd.read_parquet(f) for f in parts], ignore_index=True)
                arr = array_cols(adf)
                if arr:
                    print(f'FAIL {dname}: no oracle, but array-typed column(s) {arr} crash the driver')
                    n_fail += 1
                else:
                    print(f'info {dname}: no oracle, {len(adf)} rows, dtypes ok')
            except Exception as e:
                print(f'FAIL {dname}: no oracle, unreadable output: {e}')
                n_fail += 1
    print(f'== {n_pass} pass / {n_fail} fail ==')
    sys.exit(1 if n_fail else 0)

if __name__ == '__main__':
    main()

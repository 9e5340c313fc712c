#!/usr/bin/env python3
"""Write perfbench/expected.json: the row count and order-independent
digest every batch key must reproduce.

    python3 perfbench/make_expected.py      # from the root of a checkout

For a key with oracle SQL (SparkEntry.oracleSql), DuckDB runs that SQL on
the workload's tables, the result goes to parquet, and the harness digests
it with the same code that digests the engine's output. Keys without
oracle SQL (a_*) take the engine's own output at the commit this is run
on. Either way the engine's output at this commit is digested too, and
any disagreement is printed, so a key whose oracle and engine differ is
seen here and not first in a benchmark run.
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as R  # noqa: E402

ORACLE_CAST = {"DECIMAL": "DOUBLE", "DATE": "TIMESTAMP", "TIMESTAMP_NS": "TIMESTAMP"}


def main():
    root = os.getcwd()
    classes = R.build(root)
    work = os.path.join(root, ".bench_build", "work", "expected")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = float("inf")
    out, disagree = {}, []
    for workload, (sf, lead, rest) in sorted(R.WORKLOADS.items()):
        keys = lead + rest
        data = os.path.join(R.DATA, sf)
        _, recs = R.run_jvm(root, classes, work, ["oracle", ",".join(keys)], deadline)
        sql = {r["key"]: r["sql"] for r in recs}
        con = duckdb.connect()
        for f in sorted(os.listdir(data)):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
        odir = os.path.join(work, f"oracle_{workload}")
        os.makedirs(odir)
        graded = [k for k in keys if sql.get(k)]
        for k in graded:
            rel = con.sql(sql[k])
            # tools/check.py reads the oracle through DuckDB's .df(), which
            # turns decimals into float64 and dates into datetime64; cast
            # them so that the parquet carries the type class check.py sees
            # (nanosecond timestamps compare as microseconds there too)
            cols = [f'CAST("{c}" AS {ORACLE_CAST[str(t).split("(")[0]]}) AS "{c}"'
                    if str(t).split("(")[0] in ORACLE_CAST else f'"{c}"'
                    for c, t in zip(rel.columns, rel.types)]
            con.execute(f"COPY (SELECT {', '.join(cols)} FROM ({sql[k]})) TO '{odir}/{k}.parquet' (FORMAT PARQUET)")
        _, recs = R.run_jvm(root, classes, work, ["digest", odir, ",".join(graded)], deadline)
        oracle = {r["key"]: r for r in recs}
        _, recs = R.run_jvm(root, classes, work, ["batch", data, "0", ",".join(keys)], deadline)
        engine = {r["key"]: r for r in recs if r["t"] == "check"}
        out[workload] = {}
        for k in keys:
            e = engine[k]
            if "error" in e:
                sys.exit(f"{k}: engine failed: {e['error']}")
            if k in oracle:
                want = {"rows": oracle[k]["rows"], "digest": oracle[k]["digest"], "source": "duckdb-oracle"}
                if (e["rows"], e["digest"]) != (want["rows"], want["digest"]):
                    disagree.append((workload, k, want, e))
            else:
                want = {"rows": e["rows"], "digest": e["digest"], "source": "engine-at-commit"}
            out[workload][k] = want
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, k, want, got in disagree:
        print(f"DISAGREE {w} {k}: oracle {want} engine rows={got['rows']} digest={got['digest']}")
    print(f"wrote expected.json; {len(disagree)} oracle/engine disagreements")


if __name__ == "__main__":
    main()

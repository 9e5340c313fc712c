#!/usr/bin/env python3
"""Plan-shape audit over PlanDump output (optimization-round tooling).

For every <key>.txt (explain-formatted) in the given directory, extract:
  - exchange count (shuffles), broadcast-exchange count
  - join operators used (BHJ / SMJ / SHJ / BNLJ / Cartesian)
  - Window nodes and whether any has an EMPTY partition spec (the
    "No Partition Defined" single-task shape — must be zero)
  - scan count, and whether any scan carries PushedFilters
  - range exchanges (each one pays a RangePartitioner sampling job)
    and one-partition global sorts (a global Sort over Coalesce 1,
    graft.plans.SmallSortStrategy's shape: no exchange, no sampling)
  - RankByRange nodes by input: one_partition_ranks over Coalesce 1
    (the one-partition rule of graft.plans.RankByRangeStrategy) and
    range_ranks over a range exchange (input above the rule's gate)

Usage: plan_audit.py <plans_dir> [--csv out.csv]
"""
import os, re, sys, csv

def audit(path):
    txt = open(path).read()
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", txt, re.M)
    n_exch = sum(1 for o in ops if o == "Exchange")
    n_bexch = sum(1 for o in ops if o == "BroadcastExchange")
    joins = sorted(set(o for o in ops if "Join" in o or o == "CartesianProduct"))
    n_scan = sum(1 for o in ops if o == "Scan")
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", txt))
    # unpartitioned window: the details block prints e.g.
    #   Arguments: [row_number() ...], [x ASC ...]        (2 args, no partition list)
    # vs partitioned:
    #   Arguments: [...], [part exprs], [order]
    n_win = sum(1 for o in ops if o == "Window")
    unpart = 0
    for m in re.finditer(
            r"^\(\d+\) Window\b.*\n(?:Input.*\n)?Arguments: (.*)$", txt, re.M):
        args = m.group(1)
        # partitioned windows print 3 bracketed lists; unpartitioned 2
        depth = 0; groups = 0
        for ch in args:
            if ch == "[":
                if depth == 0: groups += 1
                depth += 1
            elif ch == "]":
                depth -= 1
        if groups < 3:
            unpart += 1
    # operator details blocks: "(N) Op ...\nInput ...\nArguments: ..."
    args = {int(m.group(1)): (m.group(2).split()[0], m.group(3) or "")
            for m in re.finditer(
                r"^\((\d+)\) (.+)\n(?:(?!\(\d+\) |Arguments: ).*\n)*(?:Arguments: (.*))?",
                txt, re.M)}
    n_range = sum(1 for op, a in args.values()
                  if op == "Exchange" and a.startswith("rangepartitioning"))
    # tree lines in pre-order: a unary node's child is the next line
    tree = [int(i) for i in re.findall(
        r"^[\s:+\-]*[A-Za-z][^\n(]*? \((\d+)\)$", txt, re.M)]
    one_task = sum(1 for a, b in zip(tree, tree[1:])
                   if args.get(a, ("", ""))[0] == "Sort"
                   and args[a][1].endswith(", true, 0")
                   and args.get(b) == ("Coalesce", "1"))
    # a rank reads its input through the partition-local Sort the
    # planner adds: RankByRange -> Sort -> (Coalesce 1 | range Exchange)
    rank_inputs = [args.get(c, ("", "")) for a, c in zip(tree, tree[2:])
                   if args.get(a, ("", ""))[0] == "RankByRange"]
    one_rank = sum(1 for c in rank_inputs if c == ("Coalesce", "1"))
    range_rank = sum(1 for op, a in rank_inputs
                     if op == "Exchange" and a.startswith("rangepartitioning"))
    return dict(exchanges=n_exch, bcast=n_bexch, joins="+".join(joins),
                scans=n_scan, pushed=pushed,
                windows=n_win, unpartitioned_windows=unpart,
                range_exchanges=n_range, one_task_sorts=one_task,
                one_partition_ranks=one_rank, range_ranks=range_rank)

def main():
    d = sys.argv[1]
    rows = []
    for f in sorted(os.listdir(d)):
        if not f.endswith(".txt"):
            continue
        r = audit(os.path.join(d, f))
        r["key"] = f[:-4]
        rows.append(r)
    if "--csv" in sys.argv:
        out = sys.argv[sys.argv.index("--csv") + 1]
        with open(out, "w", newline="") as fh:
            w = csv.DictWriter(fh, fieldnames=["key", "exchanges", "bcast",
                "joins", "scans", "pushed", "windows",
                "unpartitioned_windows", "range_exchanges", "one_task_sorts",
                "one_partition_ranks", "range_ranks"])
            w.writeheader(); w.writerows(rows)
        print(f"wrote {out} ({len(rows)} keys)")
    flagged = [r for r in rows if r["unpartitioned_windows"] > 0
               or "CartesianProduct" in r["joins"]
               or "BroadcastNestedLoopJoin" in r["joins"]]
    print(f"{len(rows)} plans; {len(flagged)} flagged:")
    for r in flagged:
        print(f"  {r['key']}: joins={r['joins']} unpart_windows="
              f"{r['unpartitioned_windows']}")
    ranged = [r["key"] for r in rows if r["range_exchanges"] > 0]
    print(f"{sum(r['one_task_sorts'] > 0 for r in rows)} plans sort globally in "
          f"one partition; {len(ranged)} still range-partition (a sampling "
          f"job each): {' '.join(ranged)}")
    ranks = [r for r in rows if r["one_partition_ranks"] + r["range_ranks"] > 0]
    range_ranked = [r["key"] for r in ranks if r["range_ranks"] > 0]
    print(f"{len(ranks)} plans rank (RankByRange): "
          f"{sum(r['range_ranks'] == 0 for r in ranks)} in one partition only; "
          f"{len(range_ranked)} still range-partition a rank: {' '.join(range_ranked)}")
    top = sorted(rows, key=lambda r: -r["exchanges"])[:15]
    print("most exchanges:")
    for r in top:
        print(f"  {r['key']}: {r['exchanges']} exch, joins={r['joins']}")

if __name__ == "__main__":
    main()

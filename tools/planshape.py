#!/usr/bin/env python3
"""Join and exchange counts per query from `graft.Cli explain` output.

`graft.Cli explain` prints each query's formatted physical plan under a
header line `========== <query> ==========`. For every query this tool
counts the plan nodes named

  BroadcastHashJoin BroadcastNestedLoopJoin SortMergeJoin
  ShuffledHashJoin CartesianProduct Exchange

from the node-detail lines `(N) <Node> ...` of the formatted plan
(subquery plans included). `Exchange` is the shuffle exchange only;
`BroadcastExchange` and `ReusedExchange` are other nodes. `Scan` counts
the leaves that read input rows: `Scan <source>` (parquet, ExistingRDD,
...), `Range` and `LocalTableScan`. `InterpretedAgg` counts the
aggregate nodes that run outside whole-stage codegen:
`ObjectHashAggregate` and `SortAggregate`. An sbt `[info] ` prefix on
each line is ignored.

Usage:
  python3 tools/planshape.py PLANS
      one JSON line per query: {"query": ..., <node>: count, ...}
  python3 tools/planshape.py BEFORE AFTER
      one JSON line per query whose counts differ (or that is in only
      one file): {"query", "before", "after", "worse"}, then a summary
      line. `worse` is true when the query gains a SortMergeJoin,
      ShuffledHashJoin, CartesianProduct, Exchange, Scan or
      InterpretedAgg, or loses a broadcast join. Exit status 1 if any query is worse.

Example:
  SPARK_GRAFT_SF_DIR=/path/to/sf0.1 sbt -batch "runMain graft.Cli explain" > plans.txt
"""
import json
import re
import sys

NODES = ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "ShuffledHashJoin", "CartesianProduct", "Exchange", "Scan", "InterpretedAgg")
# detail-line node names counted under another name
GROUPED = {**dict.fromkeys(("Scan", "Range", "LocalTableScan"), "Scan"),
           **dict.fromkeys(("ObjectHashAggregate", "SortAggregate"), "InterpretedAgg")}
WORSE_IF_MORE = ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct", "Exchange", "Scan",
                 "InterpretedAgg")
BROADCAST = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")

HEADER = re.compile(r"^========== (\S+) ==========$")
DETAIL = re.compile(r"^\(\d+\) (\w+)")


def shapes(path):
    """-> {query: {node: count}} in file order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            h = HEADER.match(line)
            if h:
                cur = out.setdefault(h.group(1), dict.fromkeys(NODES, 0))
                continue
            d = DETAIL.match(line)
            node = d and GROUPED.get(d.group(1), d.group(1))
            if cur is not None and node in cur:
                cur[node] += 1
    return out


def worse(before, after):
    return (any(after[n] > before[n] for n in WORSE_IF_MORE)
            or sum(after[n] for n in BROADCAST) < sum(before[n] for n in BROADCAST))


def main(argv):
    if len(argv) == 1:
        for q, c in shapes(argv[0]).items():
            print(json.dumps({"query": q, **c}))
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = shapes(argv[0]), shapes(argv[1])
    changed = n_worse = 0
    for q in sorted(set(before) | set(after)):
        b, a = before.get(q), after.get(q)
        if b == a:
            continue
        changed += 1
        bad = b is None or a is None or worse(b, a)
        n_worse += bad
        print(json.dumps({"query": q, "before": b, "after": a, "worse": bad}))
    print(json.dumps({"queries_before": len(before), "queries_after": len(after),
                      "changed": changed, "worse": n_worse}))
    return 1 if n_worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

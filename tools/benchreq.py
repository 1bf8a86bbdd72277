#!/usr/bin/env python3
"""Per-request medians from perfbench result JSONs.

Each `perfbench/out/<workload>-<cpus>cpu-seed<N>[-trace].json` lists every
request it ran in `requests`, with its pass number and time `s`. This tool
pools the requests of passes > 0 (the cold pass 0 is left out) over all
FILES and prints one JSON line per request name, in first-seen order:

  {"request": ..., "n": runs pooled, "median_s": ..., "q1_s": ..., "q3_s": ...}

Failed requests (`ok` false) are left out. Quartiles need two samples;
with one they equal the median.

Usage:
  python3 tools/benchreq.py FILES...

Example:
  python3 tools/benchreq.py perfbench/out/fill-1e8-2d-4cpu-seed20*.json
"""
import json
import statistics
import sys


def times(paths):
    """-> {request: [seconds]} over passes > 0 of every file, in first-seen order."""
    out = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            doc = json.load(fh)
        for r in doc.get("requests", []):
            if r.get("pass", 0) > 0 and r.get("ok", True):
                out.setdefault(r["name"], []).append(r["s"])
    return out


def main(argv):
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    for name, xs in times(argv).items():
        q1, med, q3 = (statistics.quantiles(xs, n=4) if len(xs) > 1
                       else [xs[0]] * 3)
        print(json.dumps({"request": name, "n": len(xs),
                          "median_s": round(statistics.median(xs), 3),
                          "q1_s": round(q1, 3), "q3_s": round(q3, 3)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Histogram-engine benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. The first call builds the library
and the benchmark from source with sbt (`perfbench/build.sbt`) and caches
the classpath under `perfbench/out/`, keyed by a hash of the sources. Each
call then starts one JVM at local[<cpus>], runs the workload for about
`--seconds` of timed work (a closed loop: one client, the next request
after the previous one), checks every output untimed, prints every metric
as `name value unit`, writes a JSON result file named after the workload,
the CPU count and the seed, and prints as its last line a compact JSON
summary. See perfbench/README.md for workloads, metrics and the layer map.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ["fill-1e8-2d", "fill-1m-bins", "hist-queries", "pipeline-ops"]
# scale factor of the generated tables of the query workloads
QUERY_SF = 0.01
TINY_SF = 0.001

# name -> unit of the end-to-end metrics the summary line carries (--trace 0)
E2E = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s"}
# printed and stored with the above but not in the summary. fill-1e8-2d's
# median request is the fastest of three requests that take within 10% of
# each other, so request_p50_s moved up to 24% (IQR/median) between runs.
# With 3-10 measured requests per run no workload has a tail percentile (the
# maximum is printed instead). Peak RSS moves up to 24% between runs with
# the JVM's heap sizing. A run has one cold pass, and error_rate is 0
# whenever outputs are right.
E2E_EXTRA = {"request_p50_s": "s", "request_tail_s": "s", "peak_rss_mb": "MiB",
             "cold_pass_s": "s", "error_rate": "ratio"}

PIPELINE_OPS = ["graph_pagerank", "graph_hits", "dedup_jaccard_keep",
                "dedup_containment_join", "pack_lm_labels", "span_corrupt",
                "wordpiece_tokenize_bert_basic", "bpe_tokenize_pack",
                "ann_hard_negatives_lsh", "text_textrank_keywords"]
PER_LAYER = {
    "hist.build_s": "s", "hist.execute_s": "s", "hist.collect_s": "s",
    "hist.scatter_s": "s", "hist.result_rows": "count", "hist.fill_s": "s",
    "hist.fill_dense_s": "s", "hist.fill_tree_s": "s", "hist.fill_multi_s": "s",
    "hist.densify_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.codegen_compiles": "count", "plan.codegen_compile_s": "s",
    "plan.exchanges": "count", "plan.smj": "count", "plan.bhj": "count",
    "plan.codegen_fallback": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.task_overhead_s": "s", "exec.idle_core_s": "s",
    "exchange.write_bytes": "B", "exchange.write_records": "count",
    "exchange.read_bytes": "B", "exchange.fetch_wait_s": "s",
    "exchange.spill_bytes": "B", "exchange.records_per_bin_partition": "ratio",
    "exchange.partial_reduction": "ratio",
    "scan.input_rows": "count", "scan.input_bytes": "B", "driver.result_bytes": "B",
    "ops.build_s": "s", "ops.build_jobs": "count", "ops.execute_s": "s",
    "ops.jobs_per_query": "count", "ops.checkpoint_bytes_live": "B",
    **{f"ops.{q}_{m}": u for q in PIPELINE_OPS for m, u in (("s", "s"), ("jobs", "count"))},
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MiB", "trace.overhead_ratio": "ratio",
}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """The library build's heap rule: half the RAM, clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library sources under {ROOT} (build.sbt, src/main/scala/graft)")
    os.makedirs(OUT, exist_ok=True)
    stamp, cp_file = os.path.join(OUT, "build.stamp"), os.path.join(OUT, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=f, text=True, timeout=840)
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def tables(seed, sf):
    import gen_tables
    d = os.path.join(OUT, "data", f"seed{seed}-sf{sf}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, seed, sf)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(cp, workload, seed, seconds, trace, tiny, data, out):
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cpus", str(cpus()),
        "--data", data, "--out", out] + (["--tiny"] if tiny else [])
    log = os.path.join(out, "jvm.log")
    steal0, total0 = cpu_ticks()
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=170)
        except BaseException as e:  # timeout, interrupt or SIGTERM: stop the JVM first
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                fail(f"{workload}: JVM timed out; see {log}")
            raise
    res = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{workload}: JVM exited {code}; see {log}\n{tail}")
    with open(res) as f:
        r = json.load(f)
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run: explains
    # run-to-run shifts that no code change made
    r["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return r


# a CTE definition `name AS (` or `name(cols) AS (`
CTE = re.compile(r"(\b\w+|\))(\s+AS)\s*\(", re.I)


def oracle(data, results, sql):
    """Verdict per query from the library's own oracle check
    (`tools/check.py`: DuckDB runs each `oracleSql` entry on the same tables;
    types, then values exactly) over the cold pass's parquet results. A
    query the tool reports nothing for has failed too.

    Every CTE is marked MATERIALIZED: DuckDB 1.0 inlines a CTE at each
    reference, so an iterated CTE chain such as text_textrank_keywords'
    four rank steps (each read twice by the next) is evaluated 2^4 times
    and takes 90 s instead of 1 s. The SQL is deterministic, so the
    results are the same."""
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump({q: CTE.sub(r"\1\2 MATERIALIZED (", s) for q, s in sql.items()}, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, results],
                       capture_output=True, text=True, timeout=170)
    verdicts = dict.fromkeys(sql, f"no verdict (check.py exit {p.returncode})")
    for line in p.stdout.splitlines():
        kind, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if kind == "PASS" or (kind == "ROWS" and rest.endswith("(ok)")):
            verdicts[name] = "ok"
        elif kind in ("FAIL", "ROWS") and name in verdicts:
            verdicts[name] = line
    return verdicts


def run(workload, seed, seconds, trace, tiny=False):
    """Build, run one workload, check it; return (summary, full result)."""
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload!r}; one of {', '.join(WORKLOADS)}")
    cp = build()
    query = workload in ("hist-queries", "pipeline-ops")
    data = tables(seed, TINY_SF if tiny else QUERY_SF) if query else ""
    tag = f"{workload}-{cpus()}cpu-seed{seed}" + ("-trace" if trace else "") + ("-tiny" if tiny else "")
    out = os.path.join(OUT, "runs", tag)
    r = run_jvm(cp, workload, seed, seconds, trace, tiny, data, out)
    reqs = r["requests"]
    names = {q["name"] for q in reqs}
    sql = {q: r["oracle_sql"].get(q, "missing from SparkEntry.oracleSql") for q in names}
    verdicts = oracle(data, os.path.join(out, "results"), sql) if query else {}
    bad_queries = {q for q, v in verdicts.items() if v != "ok"}
    failed = sum(1 for q in reqs if not q["ok"] or q["name"] in bad_queries)
    e2e = dict(r["e2e"], error_rate=failed / len(reqs))
    r.update(oracle=verdicts, attempted=len(reqs), failed=failed, e2e=e2e)
    metrics = dict(r["per_layer"]) if trace else {k: e2e[k] for k in E2E}
    units = PER_LAYER if trace else E2E
    complete = set(metrics) == set(units) and all(
        isinstance(v, (int, float)) and math.isfinite(v) for v in metrics.values())
    correct = failed == 0 and complete and all(c["ok"] for c in r["checks"])
    r["correct"] = correct
    r["file"] = tag + ".json"
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump(r, f, indent=1)
    summary = {"correct": correct, "attempted": len(reqs), "failed": failed,
               "metrics": {k: {"value": metrics[k], "unit": units[k]}
                           for k in units if k in metrics}}
    return summary, r


def print_run(workload, seed, summary, r):
    print(f"# {workload} seed={seed} cpus={r['cpus']} trace={int(r['trace'])} "
          f"passes={len(r['passes'])} result=perfbench/out/{r['file']}")
    for k, u in {**E2E, **E2E_EXTRA}.items():
        extra = ""
        if k == "request_tail_s":
            extra = f"  (p{r['request_tail_pct']} of {r['request_tail_samples']} requests)"
        print(f"{k} {r['e2e'][k]:.6g} {u}{extra}")
    for k, u in PER_LAYER.items():
        if k in r["per_layer"]:
            print(f"{k} {r['per_layer'][k]:.6g} {u}")
    for c in r["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED pass {c['pass']} {c['name']}: {c['detail']}")
    for q, v in sorted(r["oracle"].items()):
        if v != "ok":
            print(f"ORACLE FAILED {q}: {v}")


def selftest():
    """Every workload shrunk (10^5 rows, sf0.001 tables, two queries per
    query workload), traced, so every code path, check and metric runs."""
    ok = True
    for w in WORKLOADS:
        summary, r = run(w, 1, 1, True, tiny=True)
        missing = [k for k in {**E2E, **E2E_EXTRA} if k not in r["e2e"]] + \
                  [k for k in PER_LAYER if k not in summary["metrics"]]
        good = summary["correct"] and not missing
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} {w}: {summary['attempted']} requests, "
              f"{summary['failed']} failed, missing metrics {missing}")
        if not good:
            print_run(w, 1, summary, r)
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        fail("--workload is required")
    summary, r = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print_run(a.workload, a.seed, summary, r)
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()

"""Benchmark command for ela_lib_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Runs one seeded workload (see perfbench/README.md) against the engine
in this checkout, checks every output, prints a table of the metrics
with their units and sample counts, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs with spans read from Spark's status
store and reports the per-layer metrics. All files go under the
checkout (.perfbench_work/ while running, .perfbench_out/ for the run
record and spans).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("serve", "maintain")  # the workloads in BENCHMARK.json
# Runs with the same command, not in BENCHMARK.json (perfbench/README.md)
UNGATED_WORKLOADS = ("maintain-churn",)

# name -> (unit, better); must match BENCHMARK.json
E2E = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "query_p50_ms": ("ms", "lower"),
    "build_docs_per_s": ("docs/s", "higher"),
    "index_bytes_per_posting": ("B", "lower"),
    "peak_pss_mb": ("MB", "lower"),
}
LAYERS = {
    "setup.session_s": ("s", "lower"),
    "setup.generate_s": ("s", "lower"),
    "build.docs_s": ("s", "lower"),
    "build.chunks_s": ("s", "lower"),
    "build.ledger_s": ("s", "lower"),
    "build.merge_s": ("s", "lower"),
    "build.tasks": ("count", "lower"),
    "build.shuffle_mb": ("MB", "lower"),
    "build.spill_mb": ("MB", "lower"),
    "build.executor_cpu_s": ("s", "lower"),
    "build.postings_mb": ("MB", "lower"),
    "build.chunks_mb": ("MB", "lower"),
    "index.load_s": ("s", "lower"),
    "query.pin_s": ("s", "lower"),
    "validate.deep_s": ("s", "lower"),
    "codec.decode_mpost_per_s": ("Mpost/s", "higher"),
    "codec.encode_mpost_per_s": ("Mpost/s", "higher"),
    "wand.plan_ms": ("ms", "lower"),
    "wand.exec_ms": ("ms", "lower"),
    "wand.jobs_per_query": ("count", "lower"),
    "wand.tasks_per_query": ("count", "lower"),
    "wand.rows_read_per_query": ("count", "lower"),
    "wand.shuffle_kb_per_query": ("KB", "lower"),
    "wand.executor_cpu_ms_per_query": ("ms", "lower"),
    "maintain.tiers": ("count", "lower"),
    "compact.written_mb": ("MB", "lower"),
    "compact.write_amp": ("ratio", "lower"),
    "diff.shuffle_mb": ("MB", "lower"),
    "dedup.shuffle_mb": ("MB", "lower"),
    "dedup.jobs": ("count", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_per_candidate": ("ratio", "higher"),
    "trace.overhead_pct": ("%", "lower"),
    "host.steal_pct": ("%", "lower"),
    "host.load_1m": ("load", "lower"),
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + UNGATED_WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--master", default="local[2]",
                   help="Spark master; fixed per benchmark in BENCHMARK.json")
    return p.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it and
    every process it started (Python workers) to exit."""
    from pyspark import SparkContext

    from perfbench.measure import children_of

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is None:
        return
    kids = children_of()
    tree, todo = [], [proc.pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _table(title: str, rows: list[tuple]) -> str:
    """Rows of (name, value, unit) or (name, value, unit, samples)."""
    out = [title]
    for name, value, unit, *n in rows:
        out.append(f"  {name:<34} {value:>14.6g} {unit:<8}"
                   + (f" n={n[0]}" if n else ""))
    return "\n".join(out)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    import pyspark

    from ela_lib_spark.session import get_spark
    from perfbench.measure import MemSampler, host_snapshot, steal_pct
    from perfbench.trace import Span, Tracer, self_time
    from perfbench.workloads import WORKLOADS, Run

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVMs would otherwise write /tmp/hsperfdata_<user>/<pid>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp

    host0 = host_snapshot()
    t0 = time.perf_counter()
    try:
        with MemSampler() as mem:
            spark = get_spark(
                f"perfbench-{args.workload}", master=args.master,
                driver_memory="2g",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch",
                    "spark.local.dir": os.path.join(work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                },
            )
            try:
                tr = Tracer(spark.sparkContext, bool(args.trace))
                tr.spans.append(Span("setup.session", tr.new_op(), None, 0, t0,
                                     time.perf_counter()))
                run = Run(spark, tr, work, args.seed, args.seconds)
                WORKLOADS[args.workload](run)
                wall = time.perf_counter() - t0
                java = spark.sparkContext._jvm.System.getProperty("java.version")
            finally:
                _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host1 = host_snapshot()

    run.e2e["peak_pss_mb"] = (mem.peak_mb, mem.samples)
    if args.trace:
        run.layers["trace.overhead_pct"] = 100.0 * tr.own_s / (wall - tr.own_s)
        run.layers["host.steal_pct"] = steal_pct(host0, host1)
        run.layers["host.load_1m"] = host1["load"][0]
    declared = LAYERS if args.trace else E2E
    got = run.layers if args.trace else {k: v for k, (v, _) in run.e2e.items()}
    if set(got) != set(declared):
        run.failures.append(f"metrics {sorted(set(got) ^ set(declared))} "
                            "missing or undeclared")

    attempted = max(1, run.attempted)
    e2e_rows = [(k, v, E2E[k][0], n) for k, (v, n) in run.e2e.items()]
    e2e_rows += run.notes + [("error_rate", len(run.failures) / attempted,
                              "fraction", attempted)]
    print(_table(f"{args.workload} seed={args.seed} master={args.master} "
                 f"trace={args.trace}: end-to-end", e2e_rows))
    if args.trace:
        print(_table("per-layer", [(k, v, LAYERS[k][0])
                                   for k, v in run.layers.items()]))
        if run.extra_layers:
            print(_table(f"{args.workload} only (not in BENCHMARK.json)",
                         [(k, v, "s" if k.endswith("_s") else "count")
                          for k, v in run.extra_layers.items()]))
        self_s: dict[str, list[float]] = {}
        for sp in tr.spans:
            self_s.setdefault(sp.name, []).append(self_time(sp, tr.children(sp)))
        print(_table("self time by span name (total)",
                     [(k, sum(v), "s", len(v)) for k, v in self_s.items()]))
    for f in run.failures[:20]:  # a traceback: its first and last line
        lines = f.strip().splitlines()
        print("FAILED:", lines[0] if len(lines) == 1 else f"{lines[0]} ... {lines[-1]}")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": args.master,
        "versions": {"pyspark": pyspark.__version__, "java": java,
                     "python": platform.python_version()},
        "e2e": {k: {"value": v, "unit": E2E[k][0], "samples": n}
                for k, (v, n) in run.e2e.items()},
        "layers": run.layers, "layers_table_only": run.extra_layers,
        "host": {"start": host0, "end": host1,
                 "steal_pct": steal_pct(host0, host1)},
        "mem_sampler": {"interval_s": mem.interval, "samples": mem.samples,
                        "busy_s": mem.busy_s, "peak_mb": mem.peak_mb,
                        "peak_by_pid_mb": {p: b / 2**20 for p, b in mem.at_peak.items()}},
        "attempted": run.attempted, "failures": run.failures, **run.record,
    }
    if args.trace:
        record["spans"] = tr.to_json()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    metrics = {k: {"value": v, "unit": declared[k][0]}
               for k, v in got.items() if k in declared}
    print(json.dumps({"correct": not run.failures, "attempted": attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

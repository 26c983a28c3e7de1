"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 18 --trace 0

Run from the repository root. One driver process starts Spark at
``local[nproc]`` and runs, with tracing off:

1. set-up: input generation from the seed (repeated, median taken), session
   start, and two untimed warm-up iterations;
2. the timed loop: as many iterations as fit in ``--seconds``, and at least
   three, each timed for wall and process-tree CPU (JIT compiler threads
   left out, see ``procstat.tree_cpu_s``) and each output checked against
   its oracle.

End-to-end metrics (``--trace 0``):

    setup_s             session start + median input generation + warm-up
    wall_s              median wall time of one iteration: the flagship
                        pipeline, or the sum of each headline query's median
    cpu_s               the same for process-tree CPU
    feature_rows_per_s  output rows of one iteration / wall_s (flagship:
                        feature rows; headline_queries: result rows)
    peak_rss_mb         peak resident memory of the process tree, session
                        start to the end of the timed loop

Failed iterations (an exception or a wrong output) count in ``failed`` and in
the report's ``error_rate``.

``--trace 1`` then runs one traced pass in which each layer runs alone under
its own Spark job group, and reports per-layer metrics instead of the
end-to-end ones. Workloads are listed in ``BENCHMARK.json``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the run's report: host state, every sample, and the
trace spans. Everything the run writes goes under ``.perfbench/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "feature_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
_FLAGSHIP_LAYER_UNITS = {
    "scan.busy_s": "s", "scan.rows": "count", "scan.input_bytes": "bytes",
    "plan_build.wall_s": "s", "plan_build.jobs": "count", "plan_build.cpu_s": "s",
    "windows.busy_s": "s", "windows.cpu_s": "s", "windows.shuffle_write_bytes": "bytes",
    "windows.spill_bytes": "bytes", "windows.rows_out": "count",
    "asof.busy_s": "s", "asof.cpu_s": "s", "asof.shuffle_write_bytes": "bytes",
    "asof.spill_bytes": "bytes", "asof.peak_mem_bytes": "bytes", "asof.rows_in": "count",
    "asof.match_ratio": "ratio", "asof.hot_share": "ratio", "asof.task_skew": "ratio",
    "dedup.busy_s": "s", "dedup.shuffle_write_bytes": "bytes", "dedup.keep_ratio": "ratio",
    "joinback.busy_s": "s", "joinback.broadcast_rows": "count",
    "explode.busy_s": "s", "explode.cpu_s": "s", "explode.rows_out": "count",
    "explode.task_skew": "ratio",
    "sink.busy_s": "s", "sink.bytes_written": "bytes", "sink.files": "count",
}
GEN_REPEATS = 3
# The first iteration compiles; the second still runs much code before the JIT
# has compiled it, and its CPU read 10-30% above later ones.
WARMUP_ITERATIONS = 2
MIN_ITERATIONS = 3
MAX_FAILED = 5
# Fits any host with a few GB free. A heap this size fills up early in a run,
# so the JVM's resident size stops depending on when G1 decides to grow it;
# with 3g the peak swung by a third between runs of the same input.
DRIVER_HEAP = "1g"


def per_layer_units(headline: tuple[str, ...]) -> dict[str, str]:
    units = {"session.start_s": "s", "fixtures.gen_s": "s", "fixtures.bytes": "bytes"}
    units.update(_FLAGSHIP_LAYER_UNITS)
    for q in headline:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s", f"query.{q}.rows": "count"})
    units.update({"spark.failed_tasks": "count", "trace.overhead_s": "s", "trace.coverage": "ratio"})
    return units


def _isolate(work: str) -> None:
    """Point every temporary and Spark scratch directory into ``work``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} -XX:-UsePerfData".strip()
    # the session config is part of the benchmark: pin the heap, drop overrides
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    for knob in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE_PER_CORE"):
        os.environ.pop(knob, None)


def _start_session(work: str):
    from marmot_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    return build_session(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*;
            # a fixed JIT compiler thread count keeps their CPU accountable
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids, wait_gone

    children = tree_pids()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            proc.wait(timeout=60)
    for pid in wait_gone(children, timeout_s=30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(children, timeout_s=10)


def _measure(wl, spark, in_dir: str, seconds: float, tally: dict) -> dict:
    walls, parts, rows = [], {}, []
    start = time.perf_counter()
    while tally["failed"] < MAX_FAILED:
        # stop before an iteration that would likely end past the deadline
        if len(walls) >= MIN_ITERATIONS and time.perf_counter() - start + statistics.median(walls) > seconds:
            break
        tally["attempted"] += 1
        t0 = time.perf_counter()
        try:
            it = wl.iterate(spark, in_dir)
        except Exception:  # a failed iteration is counted and reported, not fatal
            traceback.print_exc()
            tally["failed"] += 1
            continue
        walls.append(time.perf_counter() - t0)
        for name, sample in it.parts.items():
            parts.setdefault(name, []).append(sample)
        rows.append(it.rows)
        if not it.check():
            tally["failed"] += 1
    if not walls:
        raise RuntimeError("no iteration completed")
    return {"iteration_wall_s": walls, "parts": parts, "rows": rows}


def _traced_pass(wl, spark, in_dir: str, work: str, e2e: dict, tally: dict) -> dict:
    from perfbench.sparkstatus import StatusStore
    from perfbench.tracing import Tracer

    tracer = Tracer(spark)
    counts, ok = wl.trace(spark, in_dir, work, tracer)
    tally["attempted"] += 1
    tally["failed"] += not ok
    groups = StatusStore(spark).snapshot()
    covered = [tracer.spans[n] for n in wl.covered_spans]
    traced_total = max(s.end for s in covered) - min(s.start for s in covered)
    metrics = wl.layer_metrics(tracer, groups, counts)
    metrics.update({
        "spark.failed_tasks": sum(g.failed_tasks for g in groups.values()),
        "trace.overhead_s": traced_total - e2e["wall_s"],
        "trace.coverage": sum(s.cpu_s for s in covered) / e2e["cpu_s"],
    })
    return {"metrics": metrics, "spans": tracer.report()}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    from perfbench.procstat import HostWatch, RssSampler
    from perfbench.workloads import HEADLINE, WORKLOADS

    wl = WORKLOADS[workload]()
    host = HostWatch()
    in_dir = os.path.join(work, "in")
    gen_s = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(in_dir, ignore_errors=True)
        t0 = time.perf_counter()
        in_bytes = wl.generate(in_dir, seed)
        gen_s.append(time.perf_counter() - t0)
    wl.prepare_oracle(in_dir)

    tally = {"attempted": 0, "failed": 0}
    spark = None
    try:
        with RssSampler() as rss:  # session start to the end of the timed loop
            t0 = time.perf_counter()
            spark = _start_session(work)
            start_s = time.perf_counter() - t0
            spark.conf.set("spark.sql.adaptive.enabled", "true" if wl.aqe else "false")
            warmup_s = []
            for _ in range(WARMUP_ITERATIONS):
                t0 = time.perf_counter()
                warm = wl.iterate(spark, in_dir)
                warmup_s.append(time.perf_counter() - t0)
                tally["attempted"] += 1
                tally["failed"] += not warm.check()
            samples = _measure(wl, spark, in_dir, seconds, tally)
        # an iteration's median cost: the sum of each part's median
        wall_s = sum(statistics.median(w for w, _ in p) for p in samples["parts"].values())
        e2e = {
            "setup_s": start_s + statistics.median(gen_s) + sum(warmup_s),
            "wall_s": wall_s,
            "cpu_s": sum(statistics.median(c for _, c in p) for p in samples["parts"].values()),
            "feature_rows_per_s": statistics.median(samples["rows"]) / wall_s,
            "peak_rss_mb": rss.peak_mb,
        }
        traced = _traced_pass(wl, spark, in_dir, work, e2e, tally) if trace else None
    finally:
        if spark is not None:
            _stop_session(spark)

    if traced is None:
        metrics, units = e2e, END_TO_END
    else:
        units = per_layer_units(HEADLINE)
        metrics = dict.fromkeys(units, 0)  # layers this workload does not run read 0
        metrics.update({"session.start_s": start_s, "fixtures.gen_s": statistics.median(gen_s),
                        "fixtures.bytes": in_bytes})
        metrics.update(traced["metrics"])
    report = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "host": host.report(DRIVER_HEAP),
        "error_rate": tally["failed"] / tally["attempted"],
        "setup": {"session_start_s": start_s, "gen_s": gen_s, "warmup_s": warmup_s},
        "samples": {"n": len(samples["rows"]), **samples},
        "end_to_end": e2e,
        "spans": traced["spans"] if traced else [],
    }
    result = {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all' for each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        rc = 0
        for name in WORKLOADS:
            rc |= subprocess.call([sys.executable, os.path.abspath(__file__), "--workload", name,
                                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                                   "--trace", str(args.trace)])
        return rc
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        result, report = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    for name, m in result["metrics"].items():
        print(f"{args.workload:>18s} {name:36s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

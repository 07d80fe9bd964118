"""Benchmark entry point.

    python3 perfbench/run.py --workload discovery_search --seed 3 --seconds 1 --trace 0

Generates the workload's inputs from the seed, starts a local Spark
session sized to the host (all cores, a 3g driver heap), runs the
workload and prints, as the last line of standard output, one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (Spark UI off);
with ``--trace 1`` they are the per-layer ones, from a run in which half
the operations are traced. The lines before it repeat the workload's
headline metrics under their own names. ``--size tiny`` and ``--perturb``
serve the smoke test. All files go to ``.bench_work/`` in the checkout
and are removed at exit, except the spans of a traced run, which are
written to ``.bench_work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(WORK_ROOT, "traces")  # spans of traced runs, kept
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}
# the names the workloads' headline metrics go by
HEADLINE = {
    "lake_index": {"items_per_s": ("index_tables_per_s", "tables/s")},
    "discovery_search": {
        "op_p50_s": ("search_p50_s", "s"),
        "op_p90_s": ("search_p90_s", "s"),
        "items_per_s": ("search_queries_per_s", "queries/s"),
    },
    "curation_ingest": {"items_per_s": ("ingest_docs_per_s", "docs/s")},
}
EXTRA_LAYER_UNITS = {
    "session.start_s": "s",
    "index.tables_per_s": "tables/s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.load_table_s": "s",
    "sources.sketch_store.write_s": "s",
    "sources.sketch_store.files": "count",
    "sources.sketch_store.bytes_per_input_byte": "ratio",
    "search.join.input_rows_per_result": "rows",
    "spark.storage_mb_after_op": "MB",
    "operators.dedup.store_files": "count",
    "ingest.planted_dup_recall": "ratio",
    "failed_op_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.ops": "count",
}
# reported as the run's maximum, not its median: they grow during a run
PEAK_METRICS = ("spark.storage_mb_after_op", "operators.dedup.store_files")
SPAN_UNITS = {
    "calls": "count", "call_s": "s", "action_s": "s", "self_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "input_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "executor_busy_s": "s", "driver_gap_s": "s",
}


def _configure_env(work: str, ui: bool) -> None:
    """Machine fit and containment, set before the JVM starts: local[nproc],
    a driver heap that fits in RAM, and every scratch file (shuffle
    spill, temp zips, warehouse) inside the work directory."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus or 4)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions={jvm_opts} -Dderby.system.home={work}",
    ]
    if ui:
        confs += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    args = " ".join(f"--conf '{c}'" for c in confs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{_jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    process has exited (killing it if it has not within 30 s)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = _jvm_pid(spark)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)
    if proc is None or proc.pid != jvm_pid:
        # the JVM is not the process waited for above: wait for it by pid
        deadline = time.time() + 30
        while os.path.exists(f"/proc/{jvm_pid}"):
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(jvm_pid, signal.SIGKILL)
            time.sleep(0.1)


def _quantile(vals: list[float], q: int) -> float:
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[q - 1]


def main() -> int:
    ap = argparse.ArgumentParser(description="tabsketchfm_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--perturb", action="store_true", help="corrupt results (smoke test)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "tabsketchfm_spark")):
        print("tabsketchfm_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import tracing
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    fn, parts = workloads.WORKLOADS[a.workload]
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    spark = None
    try:
        import gen

        inputs = os.path.join(work, "inputs")
        truth = gen.generate(a.seed, inputs, a.size, parts)
        traced = bool(a.trace)
        _configure_env(work, ui=traced)
        from tabsketchfm_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{a.workload}", ui=traced)
        session_s = time.perf_counter() - t0

        run = workloads.Run(
            spark=spark,
            tracer=tracing.Tracer(spark, available=traced),
            work=work,
            truth=truth,
            seconds=a.seconds,
            perturb=a.perturb,
            setup_s=session_s,
        )
        fn(run, inputs)
        failed_ratio = run.failed / max(run.attempted, 1)
        if traced:
            metrics = _layer_metrics(run, spark, session_s, failed_ratio)
            os.makedirs(TRACE_DIR, exist_ok=True)
            run.tracer.dump(os.path.join(TRACE_DIR, f"{a.workload}-seed{a.seed}.json"))
            units = {**EXTRA_LAYER_UNITS}
            units.update({f"{s}.{f}": SPAN_UNITS[f] for s in tracing.LAYER_SPANS for f in SPAN_UNITS})
        else:
            lat = [dt for _k, dt, _t in run.ops]
            metrics = {
                "setup_s": run.setup_s,
                "items_per_s": run.items / sum(lat) if sum(lat) > 0 else 0.0,
                "op_p50_s": statistics.median(lat),
                "op_p90_s": _quantile(lat, 90),
            }
            units = END_TO_END
            for k, (name, unit) in HEADLINE[a.workload].items():
                print(f"{name} = {metrics[k]:.6g} {unit}")
            if "index.tables_per_s" in run.samples:
                print(f"index_tables_per_s = {run.samples['index.tables_per_s'][0]:.6g} tables/s (set-up index)")
            print(f"samples = {len(lat)}")
            print(f"failed_op_ratio = {failed_ratio:.6g} ratio ({run.failed}/{run.attempted})")
        for k, v in run.setup_parts.items():
            print(f"setup.{k}_s = {v:.6g} s")
        for k, v in metrics.items():
            print(f"{k} = {v:.6g} {units[k]}")
        out = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(out))
    return 0


def _layer_metrics(run, spark, session_s: float, failed_ratio: float) -> dict[str, float]:
    tr = run.tracer
    tr.attribute_stages()
    m = tr.layer_metrics()
    loads = [s["end"] - s["start"] for s in tr.spans if s["name"] == "sources.load_table"]
    if loads:
        run.samples["sources.load_table_s"] = loads
    for name in EXTRA_LAYER_UNITS:
        vals = run.samples.get(name)
        if vals:
            m[name] = max(vals) if name in PEAK_METRICS else statistics.median(vals)
        else:
            m[name] = 0.0
    m.update(
        {
            "session.start_s": session_s,
            "session.jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
            "failed_op_ratio": failed_ratio,
            "trace.overhead_s": _trace_overhead(run.ops),
            "trace.ops": float(sum(t for _k, _dt, t in run.ops)),
        }
    )
    return m


def _trace_overhead(ops: list[tuple[str, float, bool]]) -> float:
    """Traced minus untraced operation time: the median difference per
    operation kind, averaged over the kinds that ran both ways."""
    diffs = []
    for kind in {k for k, _dt, _t in ops}:
        on = [dt for k, dt, t in ops if k == kind and t]
        off = [dt for k, dt, t in ops if k == kind and not t]
        if on and off:
            diffs.append(statistics.median(on) - statistics.median(off))
    return statistics.mean(diffs) if diffs else 0.0


if __name__ == "__main__":
    sys.exit(main())

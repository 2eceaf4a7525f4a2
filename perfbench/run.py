"""Benchmark entry point: the paper's pipeline and a cut of the query
registry, end to end.

    python3 perfbench/run.py --workload ehr --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, ``local[4]``: it starts a
session, sets the workload up once (input generation, then EP1 or the
storage layouts), runs one untimed, checked warm-up operation, then
runs operations in a closed loop for ``--seconds`` seconds, checks
every output and prints one metric per line followed by one JSON
result line. ``--trace 1`` turns on Spark's event log and prints the
per-layer metrics instead; the per-span records are written to
``.perfbench_work/trace-<workload>-<seed>.jsonl``.

Every file the run writes stays under ``.perfbench_work/`` in the
repository root.
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
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
WORKLOADS = ("ehr", "registry")

END_TO_END = {"op_s": "s", "setup_s": "s"}
# The registry's operator families, the keys of REGISTRY_QUERIES in
# perfbench/workloads.py: a span for building each family's query and
# one for executing it.
_FAMILIES = (
    "queries", "textstats", "dedup", "search", "graph", "assoc",
    "sketch", "quality_model", "funnel", "partitioned",
)
# Per-layer metrics: "<span>.<record field>" (see perfbench/trace.py).
# A workload that bypasses a span reports 0 for it.
PER_LAYER = {
    "session.start.wall_s": "s",
    "setup.generate.wall_s": "s",
    "setup.ep1.wall_s": "s",
    "setup.layouts.wall_s": "s",
    "setup.warmup.wall_s": "s",
    "op.wall_s": "s",
    "op.jobs": "count",
    "op.idle_s": "s",
    "op.slot_util": "ratio",
    "harness.fit_models.wall_s": "s",
    "harness.fit_models.jobs": "count",
    "harness.fit_models.idle_s": "s",
    "harness.fit_models.slot_util": "ratio",
    "harness.fit_models.sched_wait_s": "s",
    "harness.write_median_predictions.wall_s": "s",
    "harness.write_median_predictions.jobs": "count",
    "harness.write_median_predictions.idle_s": "s",
    "features.fit.wall_s": "s",
    "features.fit.jobs": "count",
    "features.fit.idle_s": "s",
    "features.transform.wall_s": "s",
    "features.transform.jobs": "count",
    "features.vocab_terms": "count",
    "models.nb.fit.wall_s": "s",
    "models.nb.fit.jobs": "count",
    "models.nb.fit.idle_s": "s",
    "models.fit.wall_s": "s",
    "models.fit.jobs": "count",
    "evaluate.curve_auc.wall_s": "s",
    "evaluate.curve_auc.jobs": "count",
    "sources.read_ehr_entries.wall_s": "s",
    "sources.read_ehr_entries.rows": "count",
    "prep.merge_on_column.wall_s": "s",
    "prep.merge_on_column.rows": "count",
    "prep.merge_on_column.shuffle_write_bytes": "bytes",
    "text.clean.wall_s": "s",
    "stemmer.stem_text_udf.wall_s": "s",
    "stemmer.stem_text_udf.python_run_s": "s",
    "stemmer.stem_text_udf.python_bytes_sent": "bytes",
    "stemmer.stem_text_udf.python_rows": "count",
    "models.transform.wall_s": "s",
    "models.transform.rows": "count",
    "sources.write_predictions.wall_s": "s",
    "sources.write_predictions.rows": "count",
    "evaluate.report.wall_s": "s",
    "evaluate.report.jobs": "count",
    **{
        f"{family}.{part}.{field}": unit
        for family in _FAMILIES
        for part in ("build", "exec")
        for field, unit in (("wall_s", "s"), ("jobs", "count"))
    },
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files under ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # No JVM perf-data file in /tmp, for the launcher JVM or the driver.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the package from the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _new_session(work: str, trace: bool):
    from diagnosisextraction_ml_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    # Small shuffle-partition count, as tools/run_ep_pipelines.py uses:
    # folds are a few hundred rows.
    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=8, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers it
    started, and wait until every one of them has exited."""
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = [pid for pid in started if os.path.exists(f"/proc/{pid}")]
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _descendants(root_pid: int) -> list[int]:
    """Every process below ``root_pid`` in the process tree."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    found, frontier = [], [root_pid]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, ppid in parent.items() if ppid == pid]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _median(values) -> float:
    return float(statistics.median(values))


def _layer_metrics(records: list[dict], counts: dict) -> dict[str, float]:
    out = {}
    for metric in PER_LAYER:
        if metric in counts:
            out[metric] = float(counts[metric])
            continue
        span, field = metric.rsplit(".", 1)
        values = [
            r[field] for r in records
            if r["name"] == span and (r["op"] != "warmup" or span == "setup.warmup")
        ]
        out[metric] = _median(values) if values else 0.0
    return out


def _attempt(fn) -> bool:
    """Run ``fn``; a failure is printed and reported, never raised."""
    try:
        fn()
        return True
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return False


def run(args, work: str) -> dict:
    from perfbench import trace as tracing
    from perfbench.workloads import WORKLOADS as IMPLS

    tracer = tracing.Tracer(bool(args.trace))
    workload = IMPLS[args.workload](work, args.seed, tracer)
    spark = None
    op_s: list[float] = []
    attempted = failed = 0
    try:
        def set_up():
            nonlocal spark
            with tracer.span("session.start"):
                spark = _new_session(work, tracer.enabled)
            workload.setup(spark)

        def warm_up():
            tracer.op = "warmup"
            with tracer.span("setup.warmup"):
                workload.warm_up()

        # Set-up and warm-up are one untimed operation: a failure in
        # either counts as a failed operation.
        attempted += 1
        ready = _attempt(set_up)
        if not (ready and _attempt(warm_up)):
            failed += 1
        setup_s = time.perf_counter() - T_START

        deadline = time.perf_counter() + args.seconds
        while ready:
            attempted += 1
            tracer.op = f"op{attempted}"

            def operation():
                inputs = workload.prepare(attempted)
                t0 = time.perf_counter()
                with tracer.span("op"):
                    out = workload.run_op(attempted, inputs)
                # An operation that ran to the end is timed whatever its
                # check finds; a failed check still fails it.
                op_s.append(out.get("op_s", time.perf_counter() - t0))
                workload.check(out)

            failed += not _attempt(operation)
            if time.perf_counter() >= deadline:
                break
        if ready and tracer.enabled:
            attempted += 1
            failed += not _attempt(workload.after_ops)
    finally:
        if spark is not None:
            _stop_jvm(spark)

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if tracer.enabled:
        records = tracing.fold(
            tracer.spans, tracing.read_event_log(os.path.join(work, "eventlog")), CORES
        )
        tracing.write_records(
            os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.jsonl"),
            records,
        )
        values, units = _layer_metrics(records, tracer.counts), PER_LAYER
    else:
        # With no operation that ran to the end there is no op_s.
        values = {"op_s": _median(op_s)} if op_s else {}
        values["setup_s"] = setup_s
        units = END_TO_END
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(op_s)} ops measured, {failed} of {attempted} operations failed "
          f"(failed_frac {failed / attempted:.6g})")
    print("op times (s): " + " ".join(f"{w:.3f}" for w in op_s))
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    return result


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "diagnosisextraction_ml_spark")):
        print("perfbench: run it from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

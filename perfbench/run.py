"""Benchmark of the concurrent ETL & analytics engine.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One process runs one workload: it starts
a Spark session with the engine's defaults on every core, generates the
workload's inputs from ``--seed``, warms up, then measures whole
operations until ``--seconds`` have passed.  It prints one line per
metric and, as its last line, a JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  Any output that
differs from the expected one makes it exit with status 1.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ETL = ("etl_fanout", "etl_bulk")
QUERY = ("query_mix", "query_concurrent")
PACKAGE = "concurrent_etl_go_spark"

#: Units of the end-to-end metrics every workload reports with --trace 0.
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "cpu_s": "s"}

def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; each workload reports all of
    them, 0 for layers it bypasses."""
    from workload_query import FAMILY_METRICS, MIX, QUERIES

    units = {"session.get_spark_s": "s", "trace.overhead_ratio": "ratio"}
    for name in (
        "sources.readers.scan_s", "operators.extract.span_s",
        "sinks.http_sink.first_ack_s", "sinks.dlq.replay_s",
        "engine.phase.dlq_replay_s", "engine.phase.plan_s",
        "engine.phase.load_s", "engine.run_etl.executor_run_s",
        "operators.registry.release_s",
    ):
        units[name] = "s"
    for name in (
        "sources.readers.rows_in", "operators.extract.fetches",
        "operators.extract.inflight_peak", "operators.extract.inflight_mean",
        "operators.extract.quarantined_rows", "sinks.http_sink.posts",
        "sinks.http_sink.posts_failed", "sinks.http_sink.rows_acked",
        "sinks.http_sink.inflight_peak", "sinks.dlq.spill_files",
        "sinks.dlq.rows_spilled", "sinks.dlq.replay_files",
        "sinks.dlq.replay_rows", "engine.run_etl.jobs",
        "engine.run_etl.stages", "engine.run_etl.tasks",
        "engine.report_overcount_rows",
        "operators.registry.persistent_rdds_after",
        "operators.registry.failed_invocations",
    ):
        units[name] = "count"
    units["plans.etl_pipeline.shuffle_write_bytes"] = "bytes"
    units["sinks.http_sink.batch_fill"] = "ratio"
    units["sinks.http_sink.bytes_per_row"] = "bytes/row"
    for fam in MIX:
        for m in FAMILY_METRICS:
            unit = "s" if m.endswith("_s") else "bytes" if m.endswith("bytes") else "count"
            units[f"operators.{fam}.{m}"] = unit
    for q in QUERIES:
        units[f"operators.registry.failed_invocations.{q}"] = "count"
    return units


def context(seed: int, spark) -> dict:
    """Per-run facts recorded with the results."""
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, check=True
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        rev = None  # a plain checkout: the source digest identifies the code
    digest = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(PACKAGE)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    import pyspark

    return {
        "git_rev": rev,
        "source_sha256": digest.hexdigest()[:16],
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_1m": os.getloadavg()[0],
    }


def prepare_env(work: str) -> None:
    """Engine defaults on every core; scratch files inside the checkout."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata file under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [os.getcwd(), HERE, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    sys.path[:0] = [os.getcwd()]


def stop_spark(spark, tree) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    pids = [pid for pid in tree.pids() if pid != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001 — owner of the JVM process
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def summarize(name: str, ops: list[dict], setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics, and the printed table: latency, failures and
    memory under the names a reader of the engine knows."""
    from probes import percentile

    if name in ETL:
        lat = [o["wall_s"] for o in ops]
        rate = [o["rows_acked"] / o["wall_s"] for o in ops]
        attempted = sum(o["rows"] for o in ops)
        failed = sum(o["failed"] for o in ops)
    else:
        recs = [r for o in ops for r in o["records"]]
        lat = [r["wall_s"] for r in recs if r["ok"]] or [float("nan")]
        rate = [sum(r["ok"] for r in o["records"]) / o["wall_s"] for o in ops]
        attempted = len(recs)
        failed = sum(not r["ok"] for r in recs)
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": statistics.median(rate),
        "cpu_s": statistics.median(o["cpu_s"] for o in ops),
    }
    n = f"{len(lat)} samples"
    if name in ETL:
        table = {
            "etl_run_s": (statistics.median(lat), "s", f"median, {n}"),
            "etl_run_p90_s": (percentile(lat, 90), "s", f"nearest rank, {n}"),
            "etl_rows_per_s": (metrics["throughput_per_s"], "rows/s", "median"),
            "etl_first_ack_s": (
                statistics.median(o["first_ack_s"] for o in ops), "s", "median"
            ),
        }
    else:
        table = {
            "queries_per_min": (60 * metrics["throughput_per_s"], "1/min", "median pass"),
            "query_p50_s": (statistics.median(lat), "s", n),
            "query_p90_s": (percentile(lat, 90), "s", f"nearest rank, {n}"),
        }
    table["failed_share"] = (failed / attempted, "ratio", f"{failed} of {attempted}")
    table["peak_rss_mb"] = (peak_mb, "MB", "while measuring")
    return metrics, {"attempted": attempted, "failed": failed, "table": table}

def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=ETL + QUERY)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops the JVM and the simulator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"run from the root of a checkout: no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    results = os.path.join(root, ".perfbench_work", "results")
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    prepare_env(work)

    import probes
    from workload_etl import EtlWorkload
    from workload_query import QueryWorkload

    from concurrent_etl_go_spark.session import get_spark

    tree = probes.ProcTree(os.getpid(), set())
    tracer = probes.Tracer()
    t0 = time.monotonic()
    spark = get_spark()
    get_spark_s = time.monotonic() - t0
    kind = EtlWorkload if args.workload in ETL else QueryWorkload
    workload = None
    try:
        workload = kind(args.workload, args.seed, work, spark, tree, tracer)
        # warm-up: a checked, unmeasured run_etl call or the oracle pass
        if kind is EtlWorkload:
            workload.op(traced=False)
        else:
            workload.check_pass()
        setup_s = time.monotonic() - t_start

        untraced, traced = [], []
        t_measure = time.monotonic()
        with probes.PeakRss(tree) as rss:
            while (
                time.monotonic() - t_measure < args.seconds
                or not untraced
                or (args.trace and not traced)
            ):
                trace_this = bool(args.trace) and len(traced) < len(untraced)
                (traced if trace_this else untraced).append(workload.op(trace_this))
        ctx = context(args.seed, spark)
    finally:
        if workload is not None:
            workload.close()
        stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)

    metrics, counts = summarize(args.workload, untraced, setup_s, rss.peak_mb)
    units = END_TO_END
    if args.trace:
        units = layer_units()
        layer = {k: 0.0 for k in units}
        for key in traced[0]["layer"]:
            layer[key] = statistics.median(o["layer"][key] for o in traced)
        layer["session.get_spark_s"] = get_spark_s
        layer["trace.overhead_ratio"] = statistics.median(
            o["wall_s"] for o in traced
        ) / statistics.median(o["wall_s"] for o in untraced)
        metrics = layer
        tracer.write(os.path.join(results, f"spans-{args.workload}-seed{args.seed}.json"))

    ctx["workload"] = args.workload
    print("context " + json.dumps(ctx))
    for key, (value, unit, note) in counts["table"].items():
        print(f"{args.workload:17s} {key:44s} {value:14.6g} {unit:9s} {note}")
    for key, value in metrics.items():
        print(f"{args.workload:17s} {key:44s} {value:14.6g} {units[key]}")
    for problem in workload.problems:
        print(f"MISMATCH {problem}")

    result = {
        "correct": not workload.problems,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = dict(result, context=ctx, ops=untraced + traced)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, default=str)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

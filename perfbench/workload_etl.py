"""ETL workloads: ``run_etl`` against the device simulator and receiver."""

from __future__ import annotations

import base64
import gzip
import http.client
import json
import os
import subprocess
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

import inputs
import probes


#: Fetch threads per extract task and rows per POST (the reference's shape).
CONCURRENCY = 32
BATCH_SIZE = 200


@dataclass(frozen=True)
class EtlShape:
    devices: int
    fetch_delay_s: float
    sink_delay_s: float
    fail_every: int  # receiver answers 500 to one POST in this many; 0 never
    lanes: int | None
    fanout_partitions: int | None


SHAPES = {
    # The reference's pipelined shape (6 s fetch, 2 s receiver) at 1/48 of
    # its delays: 32 fan-out partitions of 32 devices, one fetch round each.
    "etl_fanout": EtlShape(1024, 6 / 48, 2 / 48, 0, None, 32),
    # Many cheap POSTs through the hash route, 10% of them refused.
    "etl_bulk": EtlShape(6000, 0.0, 0.0, 10, 10, None),
}


class DeviceClient:
    """The ``fetch_fn`` handed to ``run_extract``: one keep-alive HTTP
    connection per fetch thread to the device simulator."""

    def __init__(self, port: int) -> None:
        self.port = port
        self._local = threading.local()

    def __getstate__(self) -> dict:
        return {"port": self.port}

    def __setstate__(self, state: dict) -> None:
        self.__init__(state["port"])

    def __call__(self, ip: str, hostname: str) -> dict:
        conn = getattr(self._local, "conn", None)
        if conn is None:
            conn = self._local.conn = http.client.HTTPConnection(
                "127.0.0.1", self.port, timeout=60
            )
        try:
            conn.request("GET", f"/device/{inputs.device_id(hostname)}")
            resp = conn.getresponse()
            body = resp.read()
        except (http.client.HTTPException, OSError):
            conn.close()
            self._local.conn = None
            raise
        if resp.status != 200:
            raise RuntimeError(f"device answered {resp.status}")
        return json.loads(body)


class Simulator:
    """The simulator process (``sim.py``): started, queried, stopped."""

    def __init__(self, shape: EtlShape, seed: int) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(here, "sim.py"),
                "--seed", str(seed),
                "--devices", str(shape.devices),
                "--fetch-delay", repr(shape.fetch_delay_s),
                "--sink-delay", repr(shape.sink_delay_s),
                "--fail-every", str(shape.fail_every),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.port = int(self.proc.stdout.readline())

    def stats(self) -> dict:
        """Counters since the previous call; starts a new window."""
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("GET", "/stats")
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def stop(self) -> None:
        self.proc.stdin.close()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()


def read_spills(paths: list[str]) -> list[dict]:
    rows: list[dict] = []
    for path in paths:
        with gzip.open(path, "rt", encoding="utf-8") as fh:
            rows.extend(json.load(fh))
    return rows


class EtlWorkload:
    """One workload process: set-up, then ``op`` per ``run_etl`` call."""

    def __init__(self, name: str, seed: int, work: str, spark, tree, tracer) -> None:
        from concurrent_etl_go_spark.operators.extract import ExtractorConfig
        from concurrent_etl_go_spark.sinks import HttpSinkConfig

        self.shape = shape = SHAPES[name]
        self.spark = spark
        self.tree = tree
        self.tracer = tracer
        self.csv = os.path.join(work, "appliances")
        inputs.write_appliances(self.csv, shape.devices, seed)
        self.golden = [
            inputs.golden_indicators(s) for s in inputs.device_stats(shape.devices, seed)
        ]
        self.sim = Simulator(shape, seed)
        tree.excluded.add(self.sim.proc.pid)
        self.client = DeviceClient(self.sim.port)
        self.extractor = ExtractorConfig(
            timeout_s=shape.fetch_delay_s + 2.0, concurrency=CONCURRENCY
        )
        self.sink = HttpSinkConfig(
            endpoint=f"http://127.0.0.1:{self.sim.port}/load",
            auth_token="perfbench",
            batch_size=BATCH_SIZE,
            dlq_dir=os.path.join(work, "dlq"),
        )
        self.problems: list[str] = []

    def close(self) -> None:
        self.sim.stop()

    def _check(self, report, stats: dict, replayed: list[dict], spilled: list[dict]) -> int:
        """Output check of one run; returns the rows that failed (neither
        acknowledged nor spilled).  Problems are kept in ``self.problems``."""
        n = self.shape.devices
        expected = [1] * n
        for row in replayed:
            expected[inputs.device_id(row["name"])] += 1
        observed = list(base64.b64decode(stats["acked"]))
        bad_rows = stats["mismatches"]
        for row in spilled:
            i = inputs.device_id(row["name"])
            observed[i] += 1
            bad_rows += row["indicators"] != self.golden[i]
        missing = sum(max(0, e - o) for e, o in zip(expected, observed))
        extra = sum(max(0, o - e) for e, o in zip(expected, observed))
        acked, n_spilled = stats["rows_acked"], len(spilled)
        if acked + n_spilled != report.extracted_rows + report.replayed_rows:
            self.problems.append(
                f"acked {acked} + spilled {n_spilled} != extracted "
                f"{report.extracted_rows} + replayed {report.replayed_rows}"
            )
        if extra:
            self.problems.append(f"{extra} rows delivered more than once")
        if bad_rows:
            self.problems.append(
                f"{bad_rows} rows differ from the golden transform: {stats['examples']}"
            )
        if report.replayed_rows != len(replayed):
            self.problems.append(
                f"engine replayed {report.replayed_rows} rows, DLQ held {len(replayed)}"
            )
        return missing

    def _wrap_layers(self, engine) -> None:
        """Span every layer call ``run_etl`` makes (traced runs only)."""
        from concurrent_etl_go_spark.plans import etl_pipeline

        for module, attr, name in (
            (engine, "dlq_files", "sinks.dlq.dlq_files"),
            (engine, "read_dlq", "sinks.dlq.read_dlq"),
            (engine, "read_appliances_csv", "sources.readers.read_appliances_csv"),
            (engine, "run_extract", "operators.extract.run_extract"),
            (engine, "quarantine_split", "operators.extract.quarantine_split"),
            (engine, "device_pipeline", "plans.etl_pipeline.device_pipeline"),
            (etl_pipeline, "transform_cpu_stats", "plans.etl_pipeline.transform_cpu_stats"),
            (engine, "replay_union", "sinks.dlq.replay_union"),
            (engine, "run_http_sink", "sinks.http_sink.run_http_sink"),
            (engine, "clear_dlq", "sinks.dlq.clear_dlq"),
        ):
            self.tracer.wrap(module, attr, name)

    def op(self, traced: bool) -> dict:
        """One ``run_etl`` call, checked; returns its measurements."""
        from concurrent_etl_go_spark import engine
        from concurrent_etl_go_spark.sinks import dlq_files
        from concurrent_etl_go_spark.sources.readers import read_appliances_csv

        s = self.shape
        replay_files = dlq_files(self.sink.dlq_dir)
        replayed = read_spills(replay_files)
        layer: dict[str, float] = {}
        if traced:
            with self.tracer.span("sources.readers.scan") as scan, probes.job_tag(
                self.spark, "perfbench-readers"
            ):
                rows_in = read_appliances_csv(self.spark, self.csv).count()
            layer["sources.readers.scan_s"] = scan["end"] - scan["start"]
            layer["sources.readers.rows_in"] = rows_in
            self._wrap_layers(engine)
        tag = f"perfbench-run-etl-{time.monotonic_ns()}"
        cpu0 = self.tree.cpu_s()
        t0 = time.monotonic()
        try:
            run_span = self.tracer.span("engine.run_etl") if traced else nullcontext()
            with probes.job_tag(self.spark, tag), run_span:
                report = engine.run_etl(
                    self.spark,
                    self.csv,
                    self.sink,
                    fetch_fn=self.client,
                    extractor=self.extractor,
                    lanes=s.lanes,
                    fanout_partitions=s.fanout_partitions,
                )
        finally:
            self.tracer.restore()
        wall = time.monotonic() - t0
        cpu = self.tree.cpu_s() - cpu0
        stats = self.sim.stats()
        spilled = read_spills(dlq_files(self.sink.dlq_dir))
        rows = report.extracted_rows + report.quarantined_rows + len(replayed)
        failed = self._check(report, stats, replayed, spilled)
        out = {
            "wall_s": wall,
            "cpu_s": cpu,
            "rows": rows,
            "failed": failed,
            "rows_acked": stats["rows_acked"],
            "first_ack_s": (stats["first_ack_t"] or t0) - t0,
        }
        if traced:
            post, fetch = stats["post"], stats["fetch"]
            work = probes.tag_work(self.spark, tag)
            layer.update({
                "operators.extract.fetches": fetch["count"],
                "operators.extract.inflight_peak": fetch["inflight_peak"],
                "operators.extract.inflight_mean": fetch["inflight_mean"],
                "operators.extract.span_s": fetch["span_s"],
                "operators.extract.quarantined_rows": report.quarantined_rows,
                "plans.etl_pipeline.shuffle_write_bytes": work["shuffle_bytes"],
                "sinks.http_sink.posts": post["count"],
                "sinks.http_sink.posts_failed": stats["posts_failed"],
                "sinks.http_sink.rows_acked": stats["rows_acked"],
                "sinks.http_sink.batch_fill": (
                    stats["rows_posted"] / post["count"] / BATCH_SIZE
                    if post["count"] else 0.0
                ),
                "sinks.http_sink.inflight_peak": post["inflight_peak"],
                "sinks.http_sink.bytes_per_row": (
                    stats["bytes_acked"] / stats["rows_acked"]
                    if stats["rows_acked"] else 0.0
                ),
                "sinks.http_sink.first_ack_s": out["first_ack_s"],
                "sinks.dlq.spill_files": report.spill_files_after,
                "sinks.dlq.rows_spilled": len(spilled),
                "sinks.dlq.replay_files": len(replay_files),
                "sinks.dlq.replay_rows": len(replayed),
                "sinks.dlq.replay_s": report.phases["dlq_replay_s"]
                + self.tracer.total("sinks.dlq.clear_dlq", since=t0),
                "engine.phase.dlq_replay_s": report.phases["dlq_replay_s"],
                "engine.phase.plan_s": report.phases["plan_s"],
                "engine.phase.load_s": report.phases["load_s"],
                "engine.run_etl.jobs": work["jobs"],
                "engine.run_etl.stages": work["stages"],
                "engine.run_etl.tasks": work["tasks"],
                "engine.run_etl.executor_run_s": work["executor_run_s"],
                "engine.report_overcount_rows": (
                    report.delivered_rows - stats["rows_acked"]
                ),
            })
        out["layer"] = layer
        return out

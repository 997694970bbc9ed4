"""Query workloads: ``Engine.query`` + noop write + ``release_caches``."""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import math
import threading
import time

import inputs
import probes

#: The fixed mix, by operator family, in invocation order.
MIX = {
    "relational": [
        "agg_pricing_summary",
        "join_q5_local_supplier",
        "window_session",
        "etl_transform_flat",
    ],
    "iterative": ["graph_bfs_hops"],
    "llm": ["dedup_minhash_lsh", "similarity_topk", "text_tfidf", "corpus_clean"],
}
FAMILY = {q: fam for fam, names in MIX.items() for q in names}
QUERIES = [q for names in MIX.values() for q in names]
#: Clients of each workload (closed loop, one session).
CLIENTS = {"query_mix": 1, "query_concurrent": 2}
#: Scale factor of the generated tables.
SF = 0.01
FAMILY_METRICS = (
    "build_s", "action_s", "jobs", "stages", "tasks",
    "shuffle_bytes", "spill_bytes", "executor_run_s",
)


def _canon(value):
    """A value in a form both engines agree on: numbers as 12 significant
    digits, timestamps as naive UTC ISO strings, missing as None."""
    if value is None:
        return None
    if hasattr(value, "tolist") and not isinstance(value, (str, bytes)):
        value = value.tolist()
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, (int, float, decimal.Decimal)):
        f = float(value)
        return None if math.isnan(f) else format(f, ".12g")
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return value.isoformat()
    if hasattr(value, "isoformat"):
        return value.isoformat()
    try:
        if value != value:  # NaT
            return None
    except (TypeError, ValueError):
        pass
    return str(value)


def result_hash(pdf) -> tuple[int, str]:
    """Order-insensitive (rows, sha256) of a pandas frame, columns by name."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_canon(v) for v in rec) for rec in pdf[cols].itertuples(index=False)),
        key=repr,
    )
    digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return len(rows), digest


class QueryWorkload:
    """One workload process: generated tables, the oracle check pass, and
    timed passes over the mix."""

    def __init__(self, name: str, seed: int, work: str, spark, tree, tracer) -> None:
        from concurrent_etl_go_spark.engine import Engine

        self.clients = CLIENTS[name]
        self.spark = spark
        self.tree = tree
        self.tracer = tracer
        self.sf_dir = f"{work}/tables"
        self.rows = inputs.write_tables(self.sf_dir, SF, seed)
        self.engine = Engine(spark, self.sf_dir)
        self.problems: list[str] = []

    def close(self) -> None:
        pass

    def check_pass(self) -> None:
        """Untimed serial pass: every result against its DuckDB oracle, or
        by row count where the query has none.  Also warms the session."""
        import duckdb

        from concurrent_etl_go_spark.operators.registry import ORACLES

        con = duckdb.connect()
        try:
            for t in inputs.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            for q in QUERIES:
                got = self.engine.query(q).toPandas()
                self.engine.release_caches()
                n, digest = result_hash(got)
                if q in ORACLES:
                    want_n, want = result_hash(con.execute(ORACLES[q]).df())
                    if digest != want:
                        self.problems.append(
                            f"{q}: {n} rows differ from the oracle's {want_n}"
                        )
                elif n < self.min_rows(q):
                    self.problems.append(f"{q}: {n} rows, expected >= {self.min_rows(q)}")
        finally:
            con.close()

    def min_rows(self, q: str) -> int:
        """Row-count floor of a query without an oracle: the planted exact
        duplicates for the LSH dedup, one row otherwise."""
        if q == "dedup_minhash_lsh":
            return max(1, self.rows["documents"] // 500)
        return 1

    def invoke(self, q: str, traced: bool) -> dict:
        """One invocation: build, noop write, release.  A failure is
        recorded, not raised.  Traced, each step is a span."""
        from py4j.protocol import Py4JError
        from pyspark.errors import PySparkException

        span = self.tracer.span if traced else (lambda name: contextlib.nullcontext())
        fam = FAMILY[q]
        rec = {"query": q, "ok": True}
        tag = f"perfbench-{q}-{time.monotonic_ns()}"
        with span(f"query.{q}"):
            t0 = time.monotonic()
            try:
                with probes.job_tag(self.spark, tag):
                    with span(f"operators.{fam}.build"):
                        df = self.engine.query(q)
                    t1 = time.monotonic()
                    with span(f"operators.{fam}.action"):
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.monotonic()
                rec.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
            except (PySparkException, Py4JError) as exc:
                rec.update(ok=False, error=f"{type(exc).__name__}: {str(exc)[:200]}")
            t3 = time.monotonic()
            with span("operators.registry.release_caches"):
                self.engine.release_caches()
            rec["release_s"] = time.monotonic() - t3
        if traced:
            rec["work"] = probes.tag_work(self.spark, tag)
            rec["persistent_rdds"] = len(self.spark.sparkContext._jsc.getPersistentRDDs())  # noqa: SLF001
        return rec

    def op(self, traced: bool) -> dict:
        """One pass over the mix per client; clients run concurrently,
        each starting at its own offset of the mix."""
        records: list[dict] = []
        lock = threading.Lock()

        def client(k: int) -> None:
            start = k * len(QUERIES) // self.clients
            for q in QUERIES[start:] + QUERIES[:start]:
                rec = self.invoke(q, traced)
                with lock:
                    records.append(rec)

        cpu0 = self.tree.cpu_s()
        t0 = time.monotonic()
        threads = [threading.Thread(target=client, args=(k,)) for k in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        out = {
            "wall_s": time.monotonic() - t0,
            "cpu_s": self.tree.cpu_s() - cpu0,
            "records": records,
        }
        if traced:
            out["layer"] = self.layer(records)
        return out

    @staticmethod
    def layer(records: list[dict]) -> dict[str, float]:
        """Per-family sums and registry figures of one pass."""
        layer: dict[str, float] = {}
        for fam in MIX:
            for m in FAMILY_METRICS:
                layer[f"operators.{fam}.{m}"] = 0.0
        for rec in records:
            prefix = f"operators.{FAMILY[rec['query']]}."
            for m in ("build_s", "action_s"):
                layer[prefix + m] += rec.get(m, 0.0)
            for m, v in rec["work"].items():
                layer[prefix + m] += v
        layer["operators.registry.release_s"] = sum(r["release_s"] for r in records)
        layer["operators.registry.persistent_rdds_after"] = records[-1]["persistent_rdds"]
        layer["operators.registry.failed_invocations"] = sum(not r["ok"] for r in records)
        for q in QUERIES:
            layer[f"operators.registry.failed_invocations.{q}"] = sum(
                not r["ok"] for r in records if r["query"] == q
            )
        return layer

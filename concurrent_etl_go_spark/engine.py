"""Engine facade — the user-facing surface.

A user of the reference runs one program: ``main`` at etl/main.go:89-162
(setup -> scan -> DLQ replay -> extract fan-out -> transform -> route ->
micro-batch load -> drain -> resource report). ``run_etl`` is that program
on Spark; ``Engine`` additionally exposes the generalized query surface
(named operator queries, raw SQL over the shared tables).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from concurrent_etl_go_spark import schemas
from concurrent_etl_go_spark.operators.extract import (
    ExtractorConfig,
    FetchFn,
    quarantine_split,
    run_extract,
    synthetic_fetch,
)
from concurrent_etl_go_spark.plans.etl_pipeline import LOAD_WORKERS, device_pipeline
from concurrent_etl_go_spark.session import get_spark
from concurrent_etl_go_spark.sinks import (
    HttpSinkConfig,
    clear_dlq,
    dlq_files,
    read_dlq,
    replay_union,
    run_http_sink,
)
from concurrent_etl_go_spark.sources.readers import (
    read_appliances_csv,
    read_table,
    register_views,
)

logger = logging.getLogger("concurrent_etl_go_spark")


@dataclass
class RunReport:
    """S24/S26/S27 parity: resource + timing observability for one run.

    The reference logs CPU count, goroutine count, heap stats and total
    wall-clock (etl/main.go:466-485,159); the engine reports the Spark
    equivalents plus pipeline counters.
    """

    default_parallelism: int = 0
    replayed_rows: int = 0
    extracted_rows: int = 0
    quarantined_rows: int = 0
    delivered_rows: int = 0
    spill_files_before: int = 0
    spill_files_after: int = 0
    wall_clock_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)

    def log(self) -> None:
        logger.info("run report: %s", self.__dict__)


def run_etl(
    spark: SparkSession,
    appliances_csv: str,
    sink: HttpSinkConfig,
    fetch_fn: FetchFn = synthetic_fetch,
    extractor: ExtractorConfig = ExtractorConfig(),
    lanes: int | None = LOAD_WORKERS,
    fanout_partitions: int | None = None,
) -> RunReport:
    """The reference's whole ``main`` as one Spark run.

    1. DLQ replay scan (S20-S22): spilled batches become a source.
    2. Appliance CSV scan + malformed drop (S1-S3).
    3. Extract fan-out (S4-S6): ``fanout_partitions`` x
       ``extractor.concurrency`` bounds in-flight fetches — the semaphore
       (S13) as partitioning x pool width.
    4. Transform + hash route (S7-S11). ``lanes=None`` skips the routing
       shuffle and sinks straight from the extract partitions — extract and
       load then PIPELINE within each task (the reference's channel overlap;
       a repartition would barrier the whole extract before the first POST).
       Use explicit lanes only when batch-packing efficiency needs it.
    5. Micro-batched HTTP load with DLQ spill on failure (S14-S19).
    6. DLQ files that were replayed are deleted only after the sink pass
       completes (stronger than the reference's delete-after-enqueue).
    """
    report = RunReport(default_parallelism=spark.sparkContext.defaultParallelism)
    start = time.perf_counter()

    t0 = time.perf_counter()
    replayed_files = dlq_files(sink.dlq_dir)
    replayed = read_dlq(spark, sink.dlq_dir, schemas.DEVICE_DATA)
    report.spill_files_before = len(replayed_files)
    # don't spend a Spark job counting an empty DLQ
    report.replayed_rows = replayed.count() if replayed_files else 0
    report.phases["dlq_replay_s"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    appliances = read_appliances_csv(spark, appliances_csv)
    if fanout_partitions:
        appliances = appliances.repartition(fanout_partitions)
    # Persist the fetch results: the sink pass and the report counters all
    # consume them, and re-running a high-latency extract per action would
    # multiply the run's wall-clock (and re-hit the devices).
    extracted = run_extract(appliances, fetch_fn, extractor).persist()
    ok, failed = quarantine_split(extracted)
    if lanes is None:
        from concurrent_etl_go_spark.plans.etl_pipeline import transform_cpu_stats

        fresh = transform_cpu_stats(ok)  # no routing shuffle: pipelined sink
    else:
        fresh = device_pipeline(ok, lanes=lanes)
    # empty DLQ: don't pay the union node (plan/codegen cost on the
    # latency-critical load job) for a zero-row side
    merged = replay_union(fresh, replayed) if replayed_files else fresh
    report.phases["plan_s"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    try:
        run_http_sink(merged, sink)
        report.phases["load_s"] = round(time.perf_counter() - t0, 3)

        report.quarantined_rows = failed.count()
        report.extracted_rows = ok.count()
    finally:
        extracted.unpersist()

    # ack: this run's sink pass is done; replayed inputs either landed or
    # were re-spilled under new unique names — the originals can go.
    clear_dlq(replayed_files)
    report.spill_files_after = len(dlq_files(sink.dlq_dir))
    report.delivered_rows = report.extracted_rows + report.replayed_rows
    report.wall_clock_s = round(time.perf_counter() - start, 3)
    report.log()
    return report


class Engine:
    """Query-surface facade over the shared analytics tables."""

    def __init__(self, spark: SparkSession | None = None, sf_dir: str = "."):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        return read_table(self.spark, self.sf_dir, name)

    def sql(self, statement: str) -> DataFrame:
        """Raw SQL over the shared tables (views registered on demand)."""
        register_views(self.spark, self.sf_dir)
        return self.spark.sql(statement)

    def register_versioned_view(
        self, view_name: str, root: str, version: int | None = None
    ) -> None:
        """Expose a versioned table (``sources/versioned.py``) to the SQL
        surface as a temp view — latest snapshot by default, or a
        time-travel pin.  The view resolves the manifest ONCE at
        registration, so queries against it keep snapshot isolation even
        while writers commit new versions; re-register to advance."""
        from concurrent_etl_go_spark.sources.versioned import (
            read_table_version,
        )

        read_table_version(self.spark, root, version).createOrReplaceTempView(
            view_name
        )

    def query(self, name: str) -> DataFrame:
        """Run a named operator query from the registry.

        Cache-lifetime contract: some queries persist or checkpoint
        intermediates (LSH band tables, vector norms, loop state) for
        the duration of their execution. After the terminal action on
        the returned DataFrame, call :meth:`release_caches` on the
        thread that ran the query, so a long-lived engine process does
        not accumulate cached blocks across queries. The blocks belong
        to that thread: another thread's release leaves them alone.
        """
        from concurrent_etl_go_spark import operators

        return operators.QUERIES[name](self.spark, self.sf_dir)

    def release_caches(self) -> None:
        """Unpersist intermediates cached by the queries this thread ran;
        call it on the thread that ran the query."""
        from concurrent_etl_go_spark.operators.registry import release_caches

        release_caches()

    def queries(self) -> list[str]:
        from concurrent_etl_go_spark import operators

        return sorted(operators.QUERIES)

    def query_info(self) -> dict[str, dict]:
        """Registry metadata per query: scale_class ('production' vs
        'oracle_twin' — bounded correctness twins a user must not run on a
        full corpus) and whether a DuckDB oracle exists."""
        from concurrent_etl_go_spark import operators
        from concurrent_etl_go_spark.operators.registry import (
            ORACLES,
            SCALE_CLASS,
        )

        return {
            name: {
                "scale_class": SCALE_CLASS.get(name, "production"),
                "has_oracle": name in ORACLES,
            }
            for name in sorted(operators.QUERIES)
        }


def explain_query(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Formatted physical plan of a registry query — the engine's EXPLAIN
    surface (used by the plan-shape tests and for eyeballing pushdown/
    broadcast/codegen at any sf)."""
    from concurrent_etl_go_spark import operators

    df = operators.QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )

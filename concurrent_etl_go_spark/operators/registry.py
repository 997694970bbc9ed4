"""Query registry backing the driver contract.

Every implemented operator gets a named entry: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB oracle
SQL string computing the same result (same column NAMES — the driver's
compare sorts columns by name and value-hashes order-insensitively).

Convention for oracle safety (see SURVEY §7.4.6):
- no query depends on implicit row order (LIMIT queries use total
  deterministic ORDER BY with explicit tie-breaks),
- every computed double column is ROUND(x, 4) on BOTH sides so engine
  summation-order differences cannot flip the hash,
- EXCEPT money sums whose magnitude can reach ~1e9+: there the 4dp
  rounding granularity sits inside summation-order variance
  (~sqrt(n) * ulp(S)) and a total near a .00005 boundary flakes across
  engines/runs — those accumulate as exact DECIMAL instead
  (``operators/lib.py::exact_money_sum`` / ``exact_money_sum_sql``,
  order-independent and bit-identical on both engines),
- timestamps compare under the session timezone pinned to UTC.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Deferred oracle fix-ups.  A few oracles are registered with
#: placeholders that can only be inlined after OTHER operator modules
#: have loaded (e.g. ``search_eval_rbo`` embeds the BM25/rerank oracle
#: SQL, but importing ``operators.search`` from inside the llm package
#: init is circular).  ``operators/__init__`` runs these eagerly; the
#: accessor overrides below run them lazily so a consumer that imports
#: only a sub-package still gets valid SQL instead of literal
#: ``{placeholder}`` text.
ORACLE_FINALIZERS: list[Callable[[], None]] = []


def register_oracle_finalizer(fn: Callable[[], None]) -> None:
    ORACLE_FINALIZERS.append(fn)


def run_oracle_finalizers() -> None:
    while ORACLE_FINALIZERS:
        # pop BEFORE calling: finalizers may themselves read ORACLES
        # (idempotence checks), which would otherwise recurse forever
        ORACLE_FINALIZERS.pop()()


class _OracleDict(dict):
    """Oracle store that drains pending finalizers on access, so every
    lookup path — ``ORACLES[name]``, ``.get``, ``.items`` — yields
    finalized SQL regardless of import order.  (``dict(ORACLES)``'s
    C-level fast path bypasses these overrides; the operator package
    init runs the finalizers eagerly, which covers that path for every
    consumer that imports ``concurrent_etl_go_spark.operators``.)"""

    def __getitem__(self, name):
        run_oracle_finalizers()
        return super().__getitem__(name)

    def get(self, name, default=None):
        run_oracle_finalizers()
        return super().get(name, default)

    def items(self):
        run_oracle_finalizers()
        return super().items()

    def values(self):
        run_oracle_finalizers()
        return super().values()

    def copy(self):
        run_oracle_finalizers()
        return dict(super().items())


QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = _OracleDict()
SCALE_CLASS: dict[str, str] = {}

#: scale_class values:
#: - "production": the at-scale path; safe on the full corpus.
#: - "oracle_twin": correctness twin of a production operator with a
#:   deliberately simpler (often O(n^2)-blocked) plan — run it only on
#:   bounded/sampled inputs; its production counterpart is named in the
#:   registering module's docstring (e.g. dedup_ngram_jaccard ->
#:   dedup_minhash_lsh, similarity_pairs -> dedup via LSH / IVF).
SCALE_CLASSES = ("production", "oracle_twin")


class _Pinned(threading.local):
    """Blocks pinned by query functions on this thread, awaiting release.

    Registered queries return LAZY DataFrames, so a persist or
    localCheckpoint made inside a query function cannot be dropped before
    the caller's terminal action — it is recorded here and the caller
    (Engine, bench, the test harness) releases it after materializing.
    The list is per thread: concurrent clients of one session each own
    the blocks their own queries pinned, so call ``release_caches()`` on
    the thread that ran the query.  A long-lived engine process calls it
    between queries; otherwise each invocation would leak blocks into
    the shared session (evictable, but pinning executor memory until
    eviction)."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []


_PINNED = _Pinned()


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the duration of the current query's execution and
    record it for ``release_caches()``."""
    df.persist()
    _PINNED.frames.append(df)
    return df


def scoped_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded for ``release_caches()``.

    The eager form materializes now, so files ``df`` reads may be deleted
    once it returns; the lazy form persists its blocks as a side effect
    of the next action over the result."""
    out = df.localCheckpoint(eager=eager)
    _PINNED.frames.append(out)
    return out


def checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize ``df`` as a localCheckpoint AND return its row count in
    ONE driver-coordinated job: the checkpoint is marked lazily
    (``eager=False``) and the count action computes every partition, so
    the blocks are persisted as a side effect of the counting job.  The
    eager form plus a separate emptiness/size probe costs TWO jobs per
    loop round — at dimension scale each job pays the fixed
    stage-scheduling floor, so fixpoint loops (BFS frontier, SSSP delta,
    pointer-jumping CC) were paying the floor twice per round for one
    round's work."""
    out = scoped_checkpoint(df, eager=False)
    return out, out.count()


def release_df(df: DataFrame) -> None:
    """Unpersist a DataFrame's blocks, including ``localCheckpoint`` ones.

    ``DataFrame.unpersist()`` only clears SQL-cache entries; a
    localCheckpoint persists the underlying internal RDD, which otherwise
    lingers until the JVM garbage-collects it (ContextCleaner). For a
    checkpointed DataFrame the analyzed plan is a LogicalRDD whose rdd we
    can unpersist directly; for plain DataFrames that accessor raises and
    the regular unpersist has already done the work.
    """
    df.unpersist()
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)  # noqa: SLF001
    except Exception:  # noqa: BLE001 — not a LogicalRDD: nothing to free
        pass


def release_caches() -> None:
    """Unpersist every block the calling thread's query functions pinned
    since its last release. Call after the terminal action on a query's
    DataFrame, on the thread that ran the query."""
    frames = _PINNED.frames
    while frames:
        release_df(frames.pop())


def query(
    name: str, oracle: str | None = None, scale_class: str = "production"
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB-equivalent SQL.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops such as MinHash-LSH).
    ``scale_class`` marks bounded oracle-twin variants so a user cannot
    mistake them for the at-scale path (surfaced via ``Engine.queries()``).
    """
    if scale_class not in SCALE_CLASSES:
        raise ValueError(f"unknown scale_class: {scale_class}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        SCALE_CLASS[name] = scale_class
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco

"""IVF-PQ approximate nearest-neighbor search (coarse quantizer + product
quantization + asymmetric distance + exact re-rank).

This composes the engine's two ANN building blocks into the index shape
used for billion-vector corpora (FAISS-style IVFPQ, per Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 — public
literature):

1. IVF: a learned k-means coarse quantizer partitions vectors into cells;
   a query probes only the ``nprobe`` cells whose centroids score best
   (the pruning decision is made on k tiny centroids, driver-side).
2. PQ: per-subspace codebooks compress each vector to M small codes; the
   query precomputes an M x K lookup table of subspace dot products, so
   scoring a candidate is M table lookups — no float vector is touched.
3. Re-rank: the top candidates BY APPROXIMATE score are re-scored with
   exact cosine (the standard refinement step that recovers most of the
   recall PQ loses).

Scale: the k-means fits are the offline INDEX BUILD — build once, serve
cheap. ``build_ivfpq_index`` persists the fitted index (coarse cells +
PQ codebooks as JSON metadata, per-vector cluster + codes as a
``sources/versioned.py`` table keyed by a source fingerprint);
``similarity_ivfpq_topk`` READS it and only rebuilds when the source
changed (or ``rebuild=True``). Per query, driver traffic is the centroid
matrix, the single query row, and the M x K LUT literals — candidate
scoring is M lookups per code row over the probed fraction (~nprobe/k of
the corpus), and only the RERANK-sized shortlist ever touches a float
vector again (one broadcast semi-join back to the corpus). At 100 TB a
per-query refit would re-scan the corpus; the persisted index makes
query cost O(probed codes + shortlist).

Rows-only driver check (learned quantizers aren't SQL-portable);
``tests/test_llm_ops.py`` pins determinism and recall vs exact top-k.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.llm.kmeans import (
    PQ_CODEBOOK_K,
    PQ_SUBSPACES,
)
from concurrent_etl_go_spark.llm.similarity import _vectors
from concurrent_etl_go_spark.sources import versioned as vt

IVFPQ_CLUSTERS = 8
IVFPQ_NPROBE = 3
IVFPQ_TOP_K = 10
#: Approximate-score candidates kept for the exact re-rank pass.
IVFPQ_RERANK = 4 * IVFPQ_TOP_K


def _subspace_bounds(dim: int) -> list[tuple[int, int]]:
    """(1-based slice start, length) per subspace; the last absorbs any
    remainder."""
    sub_dim = dim // PQ_SUBSPACES
    return [
        (
            m * sub_dim + 1,
            sub_dim if m < PQ_SUBSPACES - 1 else dim - m * sub_dim,
        )
        for m in range(PQ_SUBSPACES)
    ]


def _pq_sub_bounds_cols(dim: int) -> tuple:
    """(start, length) Column pair selecting subspace ``m`` of ``v`` —
    the column form of ``_subspace_bounds`` (last subspace absorbs the
    remainder), so the slice bounds live in the plan SHAPE once instead
    of once per codeword literal."""
    sub_dim = dim // PQ_SUBSPACES
    start = F.col("m") * sub_dim + 1
    length = F.when(
        F.col("m") == PQ_SUBSPACES - 1,
        F.lit(dim - (PQ_SUBSPACES - 1) * sub_dim),
    ).otherwise(F.lit(sub_dim))
    return start, length


def _pq_d2_col(dim: int):
    """Squared distance of row column ``v``'s subspace ``m`` to codeword
    column ``w`` — the same left-fold ``_sq_expr_sql`` evaluates, with
    the codeword coming from a joined relation instead of a literal."""
    start, length = _pq_sub_bounds_cols(dim)
    return F.aggregate(
        F.zip_with(
            F.slice("v", start, length),
            F.col("w"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_cb_frame(spark: SparkSession, codebooks: list) -> DataFrame:
    """The codebooks as a tiny ``(m, j, w)`` relation (broadcast at use
    sites).  Keeping codewords in DATA rather than in the expression
    tree keeps the scoring plan's shape constant across Lloyd
    iterations — parse once, codegen once (the literal form re-parsed
    and re-compiled ~1,000-double expressions every iteration, which
    dominated the fit wall time at dimension scale)."""
    rows = []
    for m, cb in enumerate(codebooks):
        rows += [(m, j, list(cw)) for j, cw in enumerate(cb)]
    return spark.createDataFrame(rows, "m int, j int, w array<double>")


def pq_fit_joint(
    vectors: DataFrame,
    dim: int,
    k: int = PQ_CODEBOOK_K,
    iterations: int = 3,
) -> list[list[list[float]]]:
    """Train all ``PQ_SUBSPACES`` codebooks in ONE distributed pass per
    Lloyd iteration (per-subspace fits are independent, so they batch:
    the assign step scores every subspace in the same scan, and one
    aggregation updates every codebook).  Fitting subspaces sequentially
    costs ``PQ_SUBSPACES``x the jobs and driver round-trips for
    identical mathematics; at 100 TB the data passes ARE the index-build
    cost, so batching them is the difference between 2 and 8 scans per
    iteration.

    Round 16: codewords live in a broadcast ``(m, j, w)`` relation
    (``_pq_cb_frame``) instead of per-codeword literals, so the per-
    iteration plan is parsed/compiled once; the argmin is the
    deterministic ``min_by`` over a (d2, j) struct (ties break to the
    lowest codeword id, exactly as ``array_position`` broke them), and
    the per-(subspace, codeword, pos) means are one join + one
    aggregation.  Same deterministic init as ``kmeans_fit`` (slices of
    the k lowest vec_ids); driver traffic per iteration is the M x k
    codebook matrix.
    """
    from concurrent_etl_go_spark.operators.registry import scoped_persist

    bounds = _subspace_bounds(dim)
    sub_dim = dim // PQ_SUBSPACES
    spark = vectors.sparkSession
    base = scoped_persist(vectors.select("vec_id", "v"))
    init = base.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    codebooks = [
        [list(row.v)[start - 1 : start - 1 + length] for row in init]
        for start, length in bounds
    ]

    d2 = _pq_d2_col(dim)
    start, length = _pq_sub_bounds_cols(dim)
    sv = F.slice("v", start, length)
    for _ in range(iterations):
        # one scoring pass, NO join-back: the argmin aggregation carries
        # the vector's subspace slice alongside the winning codeword, so
        # the mean update is one posexplode + one aggregation over what
        # the argmin already grouped (the join-back variant re-shuffled
        # the exploded dimensions every iteration)
        winner = F.min_by(
            F.struct(F.col("j").alias("cluster"), sv.alias("sv")),
            F.struct("d2", "j"),
        ).alias("w")
        assigned = (
            base.crossJoin(F.broadcast(_pq_cb_frame(spark, codebooks)))
            .select("vec_id", "m", "j", d2.alias("d2"), "v")
            .groupBy("vec_id", "m")
            .agg(winner)
        )
        rows = (
            assigned.select(
                "m", F.col("w.cluster").alias("cluster"),
                F.posexplode("w.sv"),
            )
            .groupBy("m", "cluster", "pos")
            .agg(F.avg("col").alias("mean"))
            .collect()  # M x k x dim tiny rows — the only driver traffic
        )
        by_key: dict[tuple[int, int], list] = {}
        for row in rows:
            by_key.setdefault((row.m, row.cluster), []).append(
                (row.pos, row.mean)
            )
        new = [[list(cw) for cw in cb] for cb in codebooks]
        for (m, cluster), pairs in by_key.items():
            new[m][cluster] = [mean for _pos, mean in sorted(pairs)]
        codebooks = new
    return codebooks


# ------------------------------------------------ persisted index build


def _default_index_root(sf_dir: str) -> str:
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"cetl_ivfpq_index_{key}")


def _source_fingerprint(sf_dir: str) -> list[int]:
    """(size, mtime_ns) of the source parquet — cheap staleness guard so
    a refreshed corpus invalidates the index without reading any data."""
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    return [st.st_size, st.st_mtime_ns]


def fit_ivfpq(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict]:
    """Fit the IVF-PQ index IN MEMORY: coarse quantizer + PQ codebooks +
    the per-vector ``(vec_id, cluster, code_0..code_{M-1})`` codes frame,
    with no on-disk persistence.  ``build_ivfpq_index`` wraps this with
    the versioned-table persist (the production build-offline path);
    the registry query calls it directly so every bench/oracle
    invocation computes the index from the parquet inputs.

    Round-16 restructure (measured on the probe harness, sf0.1): the
    sequential ``kmeans_fit`` + ``pq_fit_joint`` path spent ~2 s per
    Lloyd iteration NOT in the data pass but in the driver — parsing,
    analyzing and Janino-compiling the ~1,000-double-literal distance
    expressions, recompiled every iteration because new literals mean a
    new plan.  The fit now keeps the codebooks in a tiny broadcast
    RELATION ``(m, j, w)`` (m = -1 is the coarse quantizer, m >= 0 the
    PQ subspaces) instead of in the expression tree, so the plan SHAPE
    is constant across iterations: parse once, codegen once, and each
    iteration is one broadcast-join scoring pass + one fused statistics
    job whose union carries the coarse per-(cluster, pos) means
    alongside the PQ per-(subspace, codeword, pos) means.  Both fits
    also share ONE persisted base and ONE seed collect (seeds + the
    dimension probe).
    Same deterministic algorithm: id-ordered seeding, argmin ties break
    to the lowest codeword id (min_by over a (d2, j) struct — the
    ``ivfpq2._assignments`` idiom), coarse assignments produced by the
    penultimate centroids, returned centroids/codebooks the post-update
    ones — exactly what the sequential fits computed."""
    from concurrent_etl_go_spark.operators.registry import scoped_persist

    n_seed = max(IVFPQ_CLUSTERS, PQ_CODEBOOK_K)
    base = scoped_persist(_vectors(spark, sf_dir).select("vec_id", "v"))
    seed_rows = (
        base.where(F.col("vec_id") < n_seed).orderBy("vec_id").collect()
    )
    if not seed_rows:
        raise ValueError(f"no vectors under {sf_dir}")
    dim = len(seed_rows[0].v)
    bounds = _subspace_bounds(dim)
    sub_dim = dim // PQ_SUBSPACES
    centroids = [
        list(row.v) for row in seed_rows if row.vec_id < IVFPQ_CLUSTERS
    ]
    codebooks = [
        [
            list(row.v)[start - 1 : start - 1 + length]
            for row in seed_rows
            if row.vec_id < PQ_CODEBOOK_K
        ]
        for start, length in bounds
    ]

    def _cb_frame(cent: list | None, books: list) -> DataFrame:
        rows = []
        if cent is not None:
            rows += [(-1, j, list(c)) for j, c in enumerate(cent)]
        for m, cb in enumerate(books):
            rows += [(m, j, list(cw)) for j, cw in enumerate(cb)]
        return spark.createDataFrame(rows, "m int, j int, w array<double>")

    # per-(vector, quantizer) argmin over the codebook relation: the
    # slice bounds come from m (constant plan shape), the squared
    # distance is the same left-fold the literal expressions evaluated
    sub_start = F.when(F.col("m") < 0, F.lit(1)).otherwise(
        F.col("m") * sub_dim + 1
    )
    sub_len = (
        F.when(F.col("m") < 0, F.lit(dim))
        .when(
            F.col("m") == PQ_SUBSPACES - 1,
            F.lit(dim - (PQ_SUBSPACES - 1) * sub_dim),
        )
        .otherwise(F.lit(sub_dim))
    )
    d2 = F.aggregate(
        F.zip_with(
            F.slice("v", sub_start, sub_len),
            F.col("w"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def _codes_long(cbdf: DataFrame) -> DataFrame:
        scored = base.crossJoin(F.broadcast(cbdf)).select(
            "vec_id", "m", "j", d2.alias("d2")
        )
        return scored.groupBy("vec_id", "m").agg(
            F.min_by("j", F.struct("d2", "j")).alias("j")
        )

    sv = F.slice("v", sub_start, sub_len)

    iterations = 2
    assign_centroids = centroids  # the centroids the codes frame uses
    for it in range(iterations):
        if it == iterations - 1:
            assign_centroids = centroids
        # one scoring pass, NO join-back: each (vector, quantizer) group's
        # argmin carries the vector slice the quantizer scores (the full
        # vector for m = -1, the subspace for m >= 0), so the mean update
        # is one posexplode + one aggregation over the argmin output
        winner = F.min_by(
            F.struct(F.col("j").alias("cluster"), sv.alias("sv")),
            F.struct("d2", "j"),
        ).alias("w")
        assigned = (
            base.crossJoin(
                F.broadcast(_cb_frame(centroids, codebooks))
            )
            .select("vec_id", "m", "j", d2.alias("d2"), "v")
            .groupBy("vec_id", "m")
            .agg(winner)
        )
        rows = (
            assigned.select(
                "m",
                F.col("w.cluster").alias("cluster"),
                F.posexplode("w.sv"),
            )
            .groupBy("m", "cluster", "pos")
            .agg(F.avg("col").alias("mean"))
            .collect()
        )
        by_key: dict[tuple[int, int], list] = {}
        for row in rows:
            by_key.setdefault((row.m, row.cluster), []).append(
                (row.pos, row.mean)
            )
        new_cent = [list(c) for c in centroids]
        new_books = [[list(cw) for cw in cb] for cb in codebooks]
        for (m, cluster), pairs in by_key.items():
            vec = [mean for _pos, mean in sorted(pairs)]
            if m == -1:
                new_cent[cluster] = vec
            else:
                new_books[m][cluster] = vec
        centroids, codebooks = new_cent, new_books

    # final encode: coarse cells from the penultimate centroids (the
    # last assign step), PQ codes from the POST-update codebooks — the
    # exact frames the sequential fits emitted, pivoted wide
    enc_long = _codes_long(_cb_frame(assign_centroids, codebooks))
    codes = enc_long.groupBy("vec_id").agg(
        F.max(F.when(F.col("m") == -1, F.col("j")))
        .cast("int")
        .alias("cluster"),
        *[
            F.max(F.when(F.col("m") == m, F.col("j")))
            .cast("int")
            .alias(f"code_{m}")
            for m in range(PQ_SUBSPACES)
        ],
    )
    meta = {"dim": dim, "centroids": centroids, "codebooks": codebooks}
    return codes, meta


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> dict:
    """Offline index build: fit the coarse quantizer + PQ codebooks, then
    persist (a) per-vector ``(vec_id, cluster, code_0..code_{M-1})`` rows
    as a versioned table under ``root/codes`` and (b) the centroid /
    codebook matrices + source fingerprint as ``root/meta.json``.

    This is the build-offline / serve-cheap split every real ANN
    deployment uses: the Lloyd fits re-scan the corpus (distributed,
    batched — see ``pq_fit_joint``), but they run once per corpus
    version, not once per query. The codes table is ~M bytes-ish per
    vector — the 250x compression that lets a 100 TB corpus's index fit
    in a fraction of one executor's scan budget.
    """
    root = root or _default_index_root(sf_dir)
    codes, fit_meta = fit_ivfpq(spark, sf_dir)
    dim = fit_meta["dim"]
    centroids, codebooks = fit_meta["centroids"], fit_meta["codebooks"]
    codes_root = os.path.join(root, "codes")
    try:
        snap = vt.write_table(codes, codes_root, mode="overwrite")
    except vt.CommitConflictError:
        # a concurrent builder won the commit race; builds are
        # deterministic, so its index is byte-equivalent — just use it
        snap = vt.snapshot(codes_root)
    meta = {
        "fingerprint": _source_fingerprint(sf_dir),
        # Atomic meta<->codes linkage: meta names the EXACT codes-table
        # version its centroids/codebooks were fit with, and loads pin
        # the read to it.  Without this a concurrent rebuild could
        # overwrite the codes table under a reader holding the old meta
        # — old centroids silently scored against new codes.
        "codes_version": snap.version,
        "dim": dim,
        "centroids": centroids,
        "codebooks": codebooks,
    }
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(root, "meta.json"))
    return meta


def load_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    rebuild: bool = False,
) -> tuple[DataFrame, dict]:
    """(codes table, metadata) for ``sf_dir``'s corpus — built on first
    use or when the source fingerprint changed; otherwise a pure read.
    ``rebuild=True`` forces a refit (the tests' escape hatch)."""
    root = root or _default_index_root(sf_dir)
    if not rebuild:
        # EXPECTED load failures fall through to a rebuild (rebuilds
        # are deterministic, hence always safe): missing/corrupt
        # meta.json, a meta missing keys from an older layout, or a
        # codes directory that is missing/vacuumed under a valid meta
        # (read_table_version raises FileNotFoundError for an absent
        # version).  The catch is deliberately NARROW — a genuine bug
        # (bad meta schema type, Spark analysis error, permissions)
        # must surface, not silently degrade into a full rebuild on
        # every call.  The codes read is PINNED to meta's
        # codes_version, so a reader racing a rebuild gets the old
        # (meta, codes) pair consistently rather than old centroids
        # against new codes.
        try:
            with open(os.path.join(root, "meta.json")) as f:
                meta = json.load(f)
            if meta["fingerprint"] == _source_fingerprint(sf_dir):
                codes = vt.read_table_version(
                    spark, os.path.join(root, "codes"),
                    version=meta["codes_version"],
                )
                return codes, meta
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            pass
    meta = build_ivfpq_index(spark, sf_dir, root)
    codes = vt.read_table_version(
        spark, os.path.join(root, "codes"), version=meta["codes_version"]
    )
    return codes, meta


@query("similarity_ivfpq_topk")  # learned quantizers — rows-only check
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k for query vector 0 against the PERSISTED index: probe
    the best ``nprobe`` of ``IVFPQ_CLUSTERS`` cells, score candidates by
    PQ asymmetric distance (M LUT lookups per code row — no float vector
    touched), exact-cosine re-rank the best ``IVFPQ_RERANK`` via one
    broadcast semi-join back to the corpus, return the top
    ``IVFPQ_TOP_K``.

    The index is FIT FRESH per invocation (``fit_ivfpq``) so every
    bench/oracle run computes from the parquet inputs — the persisted
    build/serve split (``build_ivfpq_index``/``load_ivfpq_index``)
    remains the production API for repeated serving, where query cost
    is only the probed-codes scan + a shortlist-sized join.
    Deterministic end to end: k-means inits are id-ordered, argmin ties
    break low, and every ordering carries a vec_id tie-break — required
    for the driver's rows-only determinism check (and identical whether
    the index was freshly built or read back, which
    ``tests/test_search_layout.py`` pins).
    """
    import math

    # probe the query row BEFORE fitting: an empty corpus has no seeds
    # to fit, and answers with an empty top-k
    base = _vectors(spark, sf_dir).select("vec_id", "v")
    qrow = base.where(F.col("vec_id") == 0).first()
    if qrow is None or qrow.v is None:
        return spark.createDataFrame([], "vec_id long, sim double")
    codes, meta = fit_ivfpq(spark, sf_dir)
    centroids, codebooks = meta["centroids"], meta["codebooks"]
    # the fit scoped-persisted exactly this (vec_id, v) plan, so the
    # rerank below is a cache read (no second parquet scan +
    # repartition exchange)
    q = list(qrow.v)
    # left-fold sum in array order, then IEEE sqrt — bit-identical to
    # the sqrt(dot(v, v)) norm column ``_vectors`` computes per row
    acc = 0.0
    for x in q:
        acc += x * x
    qn = math.sqrt(acc)
    dim = len(q)
    sub_dim = dim // PQ_SUBSPACES

    # --- query-time: probe decision on k tiny centroids (driver-side) ---
    def centroid_cos(c: list[float]) -> float:
        cn = sum(x * x for x in c) ** 0.5
        return sum(x * y for x, y in zip(c, q)) / ((cn * qn) or 1.0)

    probed = sorted(
        range(len(centroids)), key=lambda i: (-centroid_cos(centroids[i]), i)
    )[:IVFPQ_NPROBE]

    # Per-subspace LUTs: dot(q_sub, codeword) and ||codeword||^2 — M x K
    # floats, embedded as literals (all a code-row scorer needs).
    luts, cnorms = [], []
    for m in range(PQ_SUBSPACES):
        qs = q[m * sub_dim : (m + 1) * sub_dim if m < PQ_SUBSPACES - 1 else dim]
        luts.append(
            [sum(x * y for x, y in zip(qs, c)) for c in codebooks[m]]
        )
        cnorms.append([sum(x * x for x in c) for c in codebooks[m]])

    def lut_sql(m: int, table: list[float]) -> str:
        lits = ",".join(f"{x!r}D" for x in table)
        return f"element_at(array({lits}), code_{m} + 1)"

    approx_dot = " + ".join(lut_sql(m, luts[m]) for m in range(PQ_SUBSPACES))
    approx_norm = (
        "sqrt("
        + " + ".join(lut_sql(m, cnorms[m]) for m in range(PQ_SUBSPACES))
        + ")"
    )
    scored = codes.where(
        F.col("cluster").isin(probed) & (F.col("vec_id") != 0)
    ).withColumn(
        "approx_sim",
        F.expr(f"({approx_dot}) / ({approx_norm} * {qn!r}D)"),
    )
    shortlist = scored.orderBy(
        F.col("approx_sim").desc(), F.col("vec_id")
    ).limit(IVFPQ_RERANK)

    # --- exact re-rank: broadcast the tiny shortlist back to the corpus
    # (the only step that touches float vectors again) ---
    qlits = ",".join(f"{x!r}D" for x in q)
    hits = base.join(
        F.broadcast(shortlist.select("vec_id")), "vec_id", "inner"
    )
    # norm recomputed from the cached (vec_id, v) rows via the same
    # sqrt(dot(v, v)) expression ``_vectors`` uses — identical values,
    # no extra parquet scan for the norm column
    from concurrent_etl_go_spark.llm.similarity import dot

    exact = hits.select(
        "vec_id",
        F.round(
            F.expr(
                f"aggregate(zip_with(v, array({qlits}), (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)"
            )
            / (F.sqrt(dot(F.col("v"), F.col("v"))) * F.lit(qn)),
            4,
        ).alias("sim"),
    )
    return exact.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(
        IVFPQ_TOP_K
    )

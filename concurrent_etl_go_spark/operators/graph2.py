"""Oracle-provable graph analytics over the customer co-purchase graph.

The engine's iterative graph algorithms (``llm/dedup.py`` connected
components, ``operators/graph.py`` PageRank) run over the MinHash-LSH
near-dup graph — whose EDGES depend on engine-specific hash functions,
so those registry entries are necessarily rows-only.  This module pins
the same algorithms to an edge list BOTH engines can derive exactly from
the shared tables: customers are connected when they bought the same
part in the same ISO week (Monday-truncated, the ``agg_retention_cohort``
convention).  That graph is real (sf0.01: 1,417 nodes, 2,666 edges, a
1,404-node giant component plus six small ones) and every derivation
step — distinct (part, week, customer) triples, within-group pairing,
min-label closure, damped rank iteration, triangle join — is plain
relational algebra, so the driver's value hash proves the ITERATIVE
ALGORITHMS themselves, not just their plumbing.

Scale notes: pair generation is bounded by the (part, week) group size
(max 5 at sf0.1; both sides cap groups at ``_GROUP_CAP`` so one viral
part can never go quadratic at 100 TB).  Spark-side components use the
pointer-jumping min-label loop (O(log diameter) rounds); the oracle's
recursive-CTE closure is O(component²) rows and exists only as the
bounded correctness twin at driver scale.

Reference parity: the reference engine (etl/main.go) has no graph
surface; this extends SURVEY.md §2.B alongside ``graph_pagerank``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.lib import parallelize_narrow_scan
from concurrent_etl_go_spark.operators.registry import (
    query,
    release_df,
    scoped_checkpoint,
    scoped_persist,
)
from concurrent_etl_go_spark.sources.readers import read_table

#: Drop (part, week) groups larger than this before pairing — the skew
#: guard that keeps edge generation linear when one part goes viral.
#: Far above the observed max (5 at sf0.1), so results are unaffected
#: on the shared tables; both engine and oracle apply it identically.
_GROUP_CAP = 100

#: PageRank constants — must match ``operators/graph.py::pagerank``
#: defaults AND the unrolled oracle below.
_DAMPING = 0.85
_ITERATIONS = 8

_EDGE_SQL = f"""
    pc AS MATERIALIZED (
        SELECT DISTINCT l.l_partkey AS pk,
               date_trunc('week', o.o_orderdate) AS wk,
               o.o_custkey AS ck
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pc_ok AS MATERIALIZED (
        SELECT pk, wk, ck FROM pc
        QUALIFY COUNT(*) OVER (PARTITION BY pk, wk) <= {_GROUP_CAP}
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT a.ck AS src, b.ck AS dst
        FROM pc_ok a
        JOIN pc_ok b ON a.pk = b.pk AND a.wk = b.wk AND a.ck < b.ck
    )
"""


def _pc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (pk, wk, ck) triples with the ``_GROUP_CAP`` filter —
    the shared upstream of both edge derivations."""
    from pyspark.sql import Window

    li = parallelize_narrow_scan(
        read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
        "l_orderkey",
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    # ONE exchange serves the distinct, the cap window AND the pair
    # self-join (round 16): hash-partitioning by (pk, wk) satisfies the
    # distinct's (pk, wk, ck) clustering requirement (subset rule), the
    # window partitions by (pk, wk), and ``_pair_rows`` joins on
    # (pk, wk) — previously the distinct shuffled by all three columns
    # and the window re-shuffled by two
    pc = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_partkey").alias("pk"),
            F.date_trunc("week", F.col("o_orderdate")).alias("wk"),
            F.col("o_custkey").alias("ck"),
        )
        .repartition("pk", "wk")
        .distinct()
    )
    return (
        pc.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("pk", "wk"))
        )
        .where(F.col("n") <= _GROUP_CAP)
        .drop("n")
    )


def _pair_rows(pc_ok: DataFrame) -> DataFrame:
    """(src < dst) pair instances via the (pk, wk) self-join — one pair
    row per shared block; the fan-out is linear (group size capped)."""
    a, b = pc_ok.alias("a"), pc_ok.alias("b")
    return a.join(
        b,
        (F.col("a.pk") == F.col("b.pk"))
        & (F.col("a.wk") == F.col("b.wk"))
        & (F.col("a.ck") < F.col("b.ck")),
    ).select(F.col("a.ck").alias("src"), F.col("b.ck").alias("dst"))


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (src < dst) customer pairs that bought the same part in
    the same week — DERIVED FRESH on every call, from the parquet
    sources, with a fully distributed plan (no cross-run persistence,
    no driver-side memo: every bench/oracle invocation computes from
    the inputs).  PERSISTED (scoped) per call: every consumer reuses
    the edge list several times — the triangle query aliases it three
    ways, the PageRank loop reads it every iteration, components reads
    it twice for the symmetric union.  Without the persist each reuse
    re-derives the whole subtree from the parquet scans (the audit
    showed 36 scans / 55 shuffles for triangles)."""
    return scoped_persist(_pair_rows(_pc_triples(spark, sf_dir)).distinct())


@query(
    "graph_components_copurchase",
    oracle=f"""
    WITH RECURSIVE {_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    nodes AS (SELECT DISTINCT src AS id FROM sym),
    reach(node, lbl) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    )
    SELECT node AS id, MIN(lbl) AS component
    FROM reach GROUP BY node
    """,
)
def graph_components_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph — the driver-hash-
    provable twin of ``dedup_components``' iterative min-label loop
    (``llm/dedup.py::connected_components``, pointer-jumping, fixpoint-
    checked).  The oracle's recursive closure is the bounded correctness
    form; the engine's loop is the 100 TB path."""
    from concurrent_etl_go_spark.llm.dedup import connected_components

    edges = _copurchase_edges(spark, sf_dir)
    return connected_components(edges.select("src", "dst")).select(
        "id", "component"
    )


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as a plain CTE chain (recursive
    CTEs cannot aggregate over their own reference).  Iteration k reads
    only r{{k-1}}, exactly mirroring ``operators/graph.py::pagerank``:
    init 1.0 per node, update (1-d) + d * sum(rank/deg over in-edges)."""
    steps = [
        "r0 AS MATERIALIZED (SELECT id, 1.0 AS rank FROM deg)",
    ]
    for k in range(1, _ITERATIONS + 1):
        steps.append(
            f"""r{k} AS MATERIALIZED (
        SELECT s.dst AS id,
               {1 - _DAMPING} + {_DAMPING} * SUM(r.rank / d.n_deg) AS rank
        FROM sym s JOIN deg d ON s.src = d.id JOIN r{k - 1} r ON s.src = r.id
        GROUP BY s.dst
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS n_deg FROM sym GROUP BY src),
    {chain}
    SELECT id, ROUND(rank, 4) + 0.0 AS rank FROM r{_ITERATIONS}
    """


@query("graph_pagerank_copurchase", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the co-purchase graph — the driver-hash-
    provable twin of ``graph_pagerank``'s iterative loop (same
    ``operators/graph.py::pagerank`` code, 8 rounds, d=0.85).  Proves the
    join-per-round update rule numerically against an independent
    unrolled-SQL evaluation; ROUND(4) absorbs cross-engine summation-
    order jitter, ``+ 0.0`` canonicalizes signed zero (ranks are
    >= 0.15, but the idiom is uniform — see ``scalar_float_canary``)."""
    from concurrent_etl_go_spark.operators.graph import pagerank

    edges = _copurchase_edges(spark, sf_dir)
    ranked = pagerank(edges, damping=_DAMPING, iterations=_ITERATIONS)
    return ranked.select("id", (F.col("rank") + F.lit(0.0)).alias("rank"))


@query(
    "graph_triangles_copurchase",
    oracle=f"""
    WITH {_EDGE_SQL},
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    member AS (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT id, COUNT(*) AS n_triangles
    FROM member GROUP BY id
    """,
)
def graph_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer triangle participation counts over the co-purchase
    graph — the clustering-coefficient numerator, and the classic
    distributed-join graph kernel: with edges oriented src < dst, each
    triangle (a < b < c) is found exactly once by the path join
    (a,b)+(b,c) closed by (a,c).  Two equi-join shuffles on node keys;
    fan-out bounded by the oriented degree (further bounded upstream by
    the group cap).  Only nodes in >= 1 triangle appear."""
    e = _copurchase_edges(spark, sf_dir)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    member = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    return member.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_EDGE_SQL},
    deg AS (
        SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY 1
    )
    SELECT CAST(length(format('{{:b}}', degree)) - 1 AS BIGINT)
             AS log2_bucket,
           COUNT(*) AS n_nodes,
           MIN(degree) AS min_degree,
           MAX(degree) AS max_degree
    FROM deg
    GROUP BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in power-of-two
    buckets — the first profile a graph-pipeline owner reads before
    choosing partitioning (heavy-tailed degrees are why the pairing
    stage carries its group cap, and why PageRank shuffles by src).
    The edge list is symmetric, so out-degree over ``src`` covers every
    node.

    Scale: edges derive with the same capped pairing as the other
    co-purchase queries; degree is one hash agg on the node key and the
    histogram a second tiny agg — the ``agg_log2_histogram`` bucketing
    applied to graph structure.
    """
    e = _copurchase_edges(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    # Exact INTEGER bucketing: bit_length(degree) - 1, via the binary
    # string form on both engines.  floor(ln(d)/ln 2) is a latent
    # cross-engine flake for integer degrees — exact powers of two land
    # exactly on bucket boundaries, where a 1-ulp libm difference
    # between JVM Math.log and DuckDB's libm flips the floor (unlike
    # agg_log2_histogram's continuous prices, power-of-two degrees are
    # common).  length(bin(d)) - 1 is pure integer arithmetic.
    return deg.groupBy(
        (F.length(F.bin(F.col("degree"))) - 1)
        .cast("long")
        .alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )


#: BFS hop ceiling — matches the unrolled oracle below.
_BFS_HOPS = 6


def _bfs_oracle() -> str:
    """Unrolled bounded-hop BFS as a plain CTE chain (the PageRank
    technique: fixed-iteration loops become provable by unrolling).
    Round k min-folds the previous distance table with its one-hop
    expansion — mathematically identical to the engine's
    frontier-propagation loop (a node's first reach IS its minimal
    hop), stated in the fold form SQL can express without recursion."""
    steps = [
        "d0 AS MATERIALIZED (SELECT MIN(src) AS id, 0 AS dist FROM sym)",
    ]
    for k in range(1, _BFS_HOPS + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM d{k - 1}
            UNION ALL
            SELECT s.dst AS id, d.dist + 1 AS dist
            FROM sym s JOIN d{k - 1} d ON s.src = d.id
        ) GROUP BY id
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    {chain}
    SELECT id, CAST(dist AS BIGINT) AS dist FROM d{_BFS_HOPS}
    """


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS (single-source shortest hop counts) from the
    smallest customer in the co-purchase graph — the fourth hash-proven
    iterative kernel (after components, PageRank, triangles), and the
    reachability primitive under "within N hops of X" audience queries.

    The engine runs ``operators/graph.py::bfs_hops`` — frontier
    propagation, one join + one anti-join per round, O(frontier x
    degree) not O(nodes) per round, early exit on an empty frontier.
    Bench note: at toy scale the e2e time is dominated by per-round JOB
    LATENCY (measured ~0.55 s/round on local[32] — two actions per
    round: the eager checkpoint and the emptiness probe), not data
    volume; at cluster scale those fixed costs amortize and the
    per-round work is the frontier expansion itself.
    The oracle evaluates the same recurrence as an unrolled min-fold
    chain; pure integer ids and hop counts, so the driver hash is
    bit-exact with no float discipline needed.  Source choice (MIN of
    the edge list's src — the smallest connected customer, src < dst
    orientation makes it the global min node) is derived identically
    by both engines, never hard-coded to a data value."""
    from concurrent_etl_go_spark.operators.graph import bfs_hops

    edges = _copurchase_edges(spark, sf_dir)
    source = edges.agg(F.min("src")).first()[0]
    return bfs_hops(edges.select("src", "dst"), source, _BFS_HOPS)


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    cn AS (
      SELECT s1.dst AS a, s2.dst AS b, COUNT(*) AS n_common
      FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT cn.a, cn.b, cn.n_common
      FROM cn LEFT JOIN edges e ON e.src = cn.a AND e.dst = cn.b
      WHERE e.src IS NULL
    )
    SELECT a, b, n_common FROM nonadj
    ORDER BY n_common DESC, a, b LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor count: the top NON-adjacent
    customer pairs sharing the most co-purchase neighbors — the
    classic "people you may know" / complete-the-triangle score
    (Liben-Nowell & Kleinberg 2003, public literature).

    Scale: the wedge join (two sym-edge hops through a shared middle
    node) fans out by Sum(deg^2), which the upstream ``_GROUP_CAP``
    bounds exactly as it bounds the triangle query; candidate pairs
    then hash-agg on (a, b) and drop existing edges with one anti-join
    against the oriented edge list (pairs already carry a < b, so no
    symmetrization is needed on the probe side).  Top-20 via
    TakeOrdered, never a global sort."""
    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    cn = (
        s1.join(
            s2,
            (F.col("s1.src") == F.col("s2.src"))
            & (F.col("s1.dst") < F.col("s2.dst")),
        )
        .select(F.col("s1.dst").alias("a"), F.col("s2.dst").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = cn.join(
        e,
        (cn["a"] == e["src"]) & (cn["b"] == e["dst"]),
        "left_anti",
    )
    return nonadj.orderBy(
        F.desc("n_common"), "a", "b"
    ).limit(20)


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY 1),
    cn AS (
      SELECT s1.dst AS a, s2.dst AS b, COUNT(*) AS n_common
      FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT cn.a, cn.b, cn.n_common
      FROM cn LEFT JOIN edges e ON e.src = cn.a AND e.dst = cn.b
      WHERE e.src IS NULL
    )
    SELECT n.a, n.b, n.n_common,
           da.degree AS deg_a, db.degree AS deg_b,
           (10000 * n.n_common)
               // (da.degree + db.degree - n.n_common) AS jaccard_bp
    FROM nonadj n
    JOIN deg da ON da.node = n.a
    JOIN deg db ON db.node = n.b
    ORDER BY jaccard_bp DESC, n.a, n.b LIMIT 20
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard — common neighbors
    NORMALIZED by the union of the two neighborhoods (Liben-Nowell &
    Kleinberg 2003): the canonical companion to
    ``graph_common_neighbors``, which over-ranks high-degree hubs;
    Jaccard surfaces pairs whose neighborhoods actually overlap
    proportionally.  Pairs are non-adjacent (prediction targets), the
    score is EXACT INTEGER basis points via portable floor division
    (``10000·|∩| // (deg_a + deg_b − |∩|)``, the ``agg_basket_lift``
    convention), so ranking can never flip on float representation.

    Scale: the wedge join is the same Sum(deg²) fan-out the upstream
    ``_GROUP_CAP`` bounds for triangles/common-neighbors; degrees are
    ONE hash-agg on the symmetric node key, joined back to the
    candidate pairs (node-keyed shuffles, both sides already hash-
    partitioned); top-20 via TakeOrdered, never a global sort."""
    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    cn = (
        s1.join(
            s2,
            (F.col("s1.src") == F.col("s2.src"))
            & (F.col("s1.dst") < F.col("s2.dst")),
        )
        .select(F.col("s1.dst").alias("a"), F.col("s2.dst").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = cn.join(
        e,
        (cn["a"] == e["src"]) & (cn["b"] == e["dst"]),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    # deg is |nodes|-sized (dimension) while the candidate pairs are
    # Sum(deg²)-sized (facts): broadcast the small side explicitly so
    # the two degree attachments never shuffle the candidate set
    scored = (
        nonadj.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(
                "(10000 * n_common) div (deg_a + deg_b - n_common)"
            ).alias("jaccard_bp"),
        )
    )
    return scored.orderBy(F.desc("jaccard_bp"), "a", "b").limit(20)


#: k-core parameters: degree threshold and FIXED peel rounds (both
#: engines run exactly this many — the PageRank fixed-iteration
#: convention; a fixpoint loop would need data-dependent round counts
#: the unrolled oracle cannot express).
_KCORE_MIN_DEGREE = 2
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    steps = ["e0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(
            f"""k{r} AS MATERIALIZED (
        SELECT src AS id FROM e{r - 1}
        GROUP BY src HAVING COUNT(*) >= {_KCORE_MIN_DEGREE}
    ),
    e{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e{r - 1} e
        JOIN k{r} a ON e.src = a.id
        JOIN k{r} b ON e.dst = b.id
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    {chain}
    SELECT src AS id, COUNT(*) AS degree
    FROM e{_KCORE_ROUNDS} GROUP BY src
    """


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative 2-core peeling (fixed rounds): repeatedly remove nodes
    with degree < 2 and the edges they carry; emit the surviving nodes
    with their residual degree — the standard graph-cleanup kernel that
    strips pendant chains before community/cycle analysis (Seidman
    1983, public literature).

    Both engines run EXACTLY ``_KCORE_ROUNDS`` peel rounds (the
    fixed-iteration convention of ``graph_pagerank_copurchase``; at
    driver scale the peel converges earlier, making the fixed form
    equal to the fixpoint, and ``tests/test_llm_ops.py`` pins
    convergence).  Engine rounds run ``operators/graph.py::kcore_peel``
    — one degree hash-agg + two semi-joins on the node key, linear per
    round, localCheckpoint lineage discipline."""
    from concurrent_etl_go_spark.operators.graph import kcore_peel

    e = _copurchase_edges(spark, sf_dir)
    return kcore_peel(
        e.select("src", "dst"), _KCORE_MIN_DEGREE, _KCORE_ROUNDS
    )


#: SSSP round ceiling — matches the unrolled oracle below (the BFS
#: convention: both engines compute min length over <= _SSSP_ROUNDS-edge
#: paths, so the bound is part of the query semantics, not a fudge).
_SSSP_ROUNDS = 8

#: Edge length rule: stronger ties are shorter.  n_shared counts the
#: DISTINCT (part, week) blocks a pair co-purchased in (>= 1 by
#: construction); lengths are the all-integer GREATEST(1, 6 - n_shared),
#: so repeat co-purchasers sit at distance 1 and one-off pairs at 5.
_SSSP_LEN = "GREATEST(1, 6 - n_shared)"

_WEDGE_SQL = f"""
    wedges AS MATERIALIZED (
        SELECT src, dst, CAST({_SSSP_LEN} AS BIGINT) AS len FROM (
            SELECT a.ck AS src, b.ck AS dst, COUNT(*) AS n_shared
            FROM pc_ok a
            JOIN pc_ok b ON a.pk = b.pk AND a.wk = b.wk AND a.ck < b.ck
            GROUP BY 1, 2
        )
    )
"""


def _copurchase_edges_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(src, dst, len): the co-purchase pairs of ``_copurchase_edges``
    with the tie-strength length rule applied — the same capped pairing
    join, but counting shared blocks per pair instead of distinct-ing,
    so the fan-out bound is identical.  Derived fresh on every call
    from the parquet sources, like the plain list."""
    pairs = (
        _pair_rows(_pc_triples(spark, sf_dir))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return scoped_persist(
        pairs.select(
            "src",
            "dst",
            F.expr(_SSSP_LEN).cast("long").alias("len"),
        )
    )


def _sssp_oracle() -> str:
    """Unrolled bounded-round min-plus relaxation (the BFS min-fold
    chain with ``+ 1`` generalized to ``+ len``): round k min-folds the
    previous distance table with its one-edge weighted expansion, so
    d{k} is exactly the minimal total length over <= k-edge paths —
    the same quantity the engine's delta-relaxation loop holds after
    round k."""
    steps = [
        "d0 AS MATERIALIZED (SELECT MIN(src) AS id, 0 AS dist FROM wedges)",
    ]
    for k in range(1, _SSSP_ROUNDS + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM d{k - 1}
            UNION ALL
            SELECT s.dst AS id, d.dist + s.len AS dist
            FROM wsym s JOIN d{k - 1} d ON s.src = d.id
        ) GROUP BY id
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_EDGE_SQL},
    {_WEDGE_SQL},
    wsym AS MATERIALIZED (
        SELECT src, dst, len FROM wedges
        UNION ALL
        SELECT dst, src, len FROM wedges
    ),
    {chain}
    SELECT id, CAST(dist AS BIGINT) AS dist FROM d{_SSSP_ROUNDS}
    """


@query("graph_sssp_weighted", oracle=_sssp_oracle())
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round weighted single-source shortest paths from the
    smallest customer in the co-purchase graph, with tie-strength edge
    lengths (``_SSSP_LEN``) — the fifth hash-proven iterative kernel
    (after components, PageRank, triangles, BFS), and the min-plus
    primitive under "cheapest relationship path" queries.

    The engine runs ``operators/graph.py::sssp_weighted`` — delta
    relaxation: each round relaxes only edges out of nodes whose
    distance improved, merges by min-fold, early-exits when nothing
    improves.  O(frontier x degree) per round, localCheckpoint lineage
    discipline; all-integer ids, lengths, and distances, so the driver
    hash is bit-exact with no float discipline.  The oracle evaluates
    the identical recurrence as an unrolled min-fold chain; the source
    is MIN(src) of the edge list, derived identically by both engines
    (the ``graph_bfs_hops`` convention).

    The _EDGE_SQL CTE is carried (unused) so the oracle shares the
    registry's single edge-derivation fragment verbatim; wedges
    re-derives from pc_ok with COUNT instead of DISTINCT, exactly as
    the engine's weighted builder does beside the unweighted one."""
    edges = _copurchase_edges_weighted(spark, sf_dir)
    from concurrent_etl_go_spark.operators.graph import sssp_weighted

    source = edges.agg(F.min("src")).first()[0]
    return sssp_weighted(edges, source, _SSSP_ROUNDS)


#: Label-propagation rounds — fixed on both engines (unrolled oracle).
_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """Unrolled fixed-round synchronous label propagation: round k
    counts the round-(k-1) labels over each node's neighbors and keeps
    the (max count, min label) winner — the engine's min_by((-c, lbl))
    stated as a row_number ORDER BY c DESC, lbl.  The chain body lives
    in ``_lpa_chain_sql`` so the modularity oracle can extend it."""
    return f"""
    WITH {_lpa_chain_sql()}
    SELECT id, CAST(lbl AS BIGINT) AS label FROM l{_LPA_ROUNDS}
    """


def _lpa_chain_sql() -> str:
    """Shared WITH-body: co-purchase edges, symmetrized ``sym``, and the
    unrolled LPA chain ending at ``l{_LPA_ROUNDS}`` (id, lbl) — used by
    the ``graph_label_propagation`` oracle AND the community-modularity
    oracle (``operators/graph6.py``) chained on top of it."""
    steps = [
        "l0 AS MATERIALIZED "
        "(SELECT DISTINCT src AS id, src AS lbl FROM sym)",
    ]
    for k in range(1, _LPA_ROUNDS + 1):
        steps.append(
            f"""n{k} AS MATERIALIZED (
        SELECT s.dst AS id, l.lbl, COUNT(*) AS c
        FROM sym s JOIN l{k - 1} l ON s.src = l.id
        GROUP BY 1, 2
    ),
    l{k} AS MATERIALIZED (
        SELECT id, lbl FROM (
            SELECT id, lbl,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY c DESC, lbl) AS rn
            FROM n{k}
        ) WHERE rn = 1
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""{_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    {chain}"""


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous fixed-round label-propagation communities over the
    co-purchase graph — the sixth hash-proven iterative kernel (after
    components, PageRank, triangles, BFS, SSSP), and the cheap
    community-detection pass curation pipelines run before per-cluster
    sampling (Raghavan et al. 2007, public literature).

    The engine runs ``operators/graph.py::label_propagation`` — per
    round one edge-keyed shuffle + two hash-aggs, min_by((-count,
    label)) for the deterministic (max frequency, min label) winner,
    localCheckpoint discipline.  The oracle evaluates the identical
    synchronous recurrence unrolled; all-integer ids/labels/counts, so
    the driver hash is bit-exact.  Every node has >= 1 neighbor by
    edge-list construction, so each round relabels every node."""
    from concurrent_etl_go_spark.operators.graph import label_propagation

    e = _copurchase_edges(spark, sf_dir)
    return label_propagation(e.select("src", "dst"), _LPA_ROUNDS)


#: Personalized-PageRank constants: restart probability mass returns to
#: the SOURCE node only (not uniformly), fixed rounds, unrolled oracle.
_PPR_DAMPING = 0.85
_PPR_ROUNDS = 8


def _ppr_oracle() -> str:
    """Unrolled personalized PageRank: like ``_pagerank_oracle`` but the
    (1-d) teleport mass lands ONLY on the source node, and every node
    keeps a row every round (LEFT JOIN + COALESCE — a node with no
    ranked in-neighbors this round holds only its teleport term), so
    the recurrence matches the engine's full-node-table loop exactly."""
    d = _PPR_DAMPING
    steps = [
        """p0 AS MATERIALIZED (
        SELECT n.id, CASE WHEN n.id = s0.s THEN 1.0 ELSE 0.0 END AS rank
        FROM nodes n CROSS JOIN src0 s0
    )"""
    ]
    for k in range(1, _PPR_ROUNDS + 1):
        steps.append(
            f"""inf{k} AS MATERIALIZED (
        SELECT s.dst AS id, SUM(p.rank / dg.n_deg) AS inflow
        FROM sym s
        JOIN deg dg ON s.src = dg.id
        JOIN p{k - 1} p ON s.src = p.id
        GROUP BY s.dst
    ),
    p{k} AS MATERIALIZED (
        SELECT n.id,
               {1 - d} * CASE WHEN n.id = s0.s THEN 1.0 ELSE 0.0 END
               + {d} * COALESCE(i.inflow, 0.0) AS rank
        FROM nodes n
        CROSS JOIN src0 s0
        LEFT JOIN inf{k} i ON i.id = n.id
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS n_deg FROM sym GROUP BY src),
    nodes AS MATERIALIZED (SELECT id FROM deg),
    src0 AS MATERIALIZED (SELECT MIN(src) AS s FROM sym),
    {chain}
    SELECT id, ROUND(rank, 6) + 0.0 AS rank FROM p{_PPR_ROUNDS}
    """


@query("graph_ppr", oracle=_ppr_oracle())
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the smallest customer: the (1-d)
    restart mass teleports to the SOURCE only, so ranks measure
    proximity TO THAT NODE — the graph feature behind "people also
    bought" recommendation and local-community scoring (Page et al.
    1999 §6 personalized vector; Jeh & Widom 2003, public literature),
    where global PageRank measures importance.  The seventh hash-proven
    iterative kernel.

    Every node keeps a row every round (nodes without ranked
    in-neighbors hold only their teleport term, unreached nodes exactly
    0.0), so the engine's LEFT-JOIN round and the oracle's unrolled
    recurrence are the same total function of the edge list.  ROUND(6)
    absorbs cross-engine summation-order jitter (~1e-16 per inflow sum
    — five orders below the rounding grain; PPR ranks are small, so the
    pagerank convention's ROUND(4) would flatten real structure);
    ``+ 0.0`` canonicalizes signed zero as everywhere.

    Scale: identical per-round shape to ``graph_pagerank_copurchase``
    (one rank/deg shuffle keyed by node + a left join against the
    static node table), localCheckpoint lineage discipline; the source
    is MIN(src), derived identically by both engines."""
    from concurrent_etl_go_spark.operators.registry import release_df

    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("n_deg")
    )
    deg = scoped_persist(deg)
    nodes = deg.select("id")
    source = sym.agg(F.min("src")).first()[0]
    is_src = F.when(F.col("id") == source, 1.0).otherwise(0.0)
    ranks = nodes.select("id", is_src.alias("rank"))
    storage = None
    for _ in range(_PPR_ROUNDS):
        inflow = (
            sym.join(deg, sym["src"] == deg["id"])
            .join(
                ranks.select(
                    F.col("id").alias("rid"), F.col("rank").alias("r")
                ),
                sym["src"] == F.col("rid"),
            )
            .select(
                F.col("dst").alias("id"),
                (F.col("r") / F.col("n_deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        new_ranks = scoped_checkpoint(
            nodes.join(inflow, "id", "left").select(
                "id",
                (
                    F.lit(1 - _PPR_DAMPING) * is_src
                    + F.lit(_PPR_DAMPING)
                    * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if storage is not None:
            release_df(storage)
        storage = new_ranks
        ranks = new_ranks
    return ranks.select(
        "id", (F.round("rank", 6) + F.lit(0.0)).alias("rank")
    )


#: HITS rounds: each round is one hub update (h = A·a) followed by one
#: authority update (a = Aᵀ·h) over the DIRECTED (src < dst) edge list.
#: Two rounds keep the all-integer scores far inside int64: each
#: half-round multiplies the score bound by max-degree, so after
#: 2·rounds = 4 applications scores are bounded by deg⁴ — int64-safe
#: for degrees up to ~5·10⁴ regardless of node count (and the oracle's
#: HUGEINT accumulation turns any excursion into a loud CAST error,
#: not a silent wrap).
_HITS_ROUNDS = 2


def _hits_oracle() -> str:
    """Unrolled HITS: alternating hub/authority integer sums, sparse
    intermediates (a node absent from a step has score 0 and
    contributes nothing — the join drops it, which is arithmetically
    identical), COALESCE to 0 only at the final projection."""
    steps = []
    prev_a = "a0"
    for k in range(1, _HITS_ROUNDS + 1):
        steps.append(
            f"""h{k} AS MATERIALIZED (
        SELECT e.src AS id, CAST(SUM(p.a) AS BIGINT) AS h
        FROM edges e JOIN {prev_a} p ON p.id = e.dst GROUP BY e.src
    ),
    a{k} AS MATERIALIZED (
        SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS a
        FROM edges e JOIN h{k} h ON h.id = e.src GROUP BY e.dst
    )"""
        )
        prev_a = f"a{k}"
    chain = ",\n    ".join(steps)
    r = _HITS_ROUNDS
    return f"""
    WITH {_EDGE_SQL},
    nodes AS MATERIALIZED (
        SELECT src AS id FROM edges UNION SELECT dst FROM edges
    ),
    a0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS a FROM nodes),
    {chain}
    SELECT n.id,
           COALESCE(h.h, 0) AS hub,
           COALESCE(a.a, 0) AS auth
    FROM nodes n
    LEFT JOIN h{r} h ON h.id = n.id
    LEFT JOIN a{r} a ON a.id = n.id
    ORDER BY auth DESC, hub DESC, n.id LIMIT 20
    """


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public literature)
    over the directed (src < dst) co-purchase edge list — the eighth
    hash-proven iterative kernel: hub(u) = Σ auth(v) over out-edges,
    auth(v) = Σ hub(u) over in-edges, alternated for ``_HITS_ROUNDS``
    fixed rounds from the all-ones authority vector.

    ALL-INTEGER by construction: per-round normalization is a global
    scalar factor, so skipping it and ranking the raw integer sums
    yields exactly the ranking normalized HITS produces — and turns
    every intermediate into an exact int64 the driver hash pins
    bit-for-bit (no float, no summation-order jitter, unlike the
    damped PageRank family which needs ROUND(6)).  Sparse
    intermediates are exact: a node missing from a step has score 0
    and contributes 0 through any join.

    Scale: each half-round is ONE edge-keyed equi-join + one hash-agg
    on the opposite endpoint (identical shape to the PageRank inflow
    round, map-side combinable); localCheckpoint after each round
    keeps lineage flat; top-20 via TakeOrdered, never a global sort."""
    e = _copurchase_edges(spark, sf_dir)
    nodes = scoped_persist(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    a = nodes.select("id", F.lit(1).cast("long").alias("a"))
    h = None
    for _ in range(_HITS_ROUNDS):
        h = scoped_checkpoint(
            e.join(a, e["dst"] == a["id"])
            .groupBy(e["src"].alias("id"))
            .agg(F.sum("a").alias("h"))
        )
        a = scoped_checkpoint(
            e.join(h.select(F.col("id").alias("hid"), "h"),
                   e["src"] == F.col("hid"))
            .groupBy(e["dst"].alias("id"))
            .agg(F.sum("h").alias("a"))
        )
    out = (
        nodes.join(h.select(F.col("id").alias("id"), "h"), "id", "left")
        .join(a.select(F.col("id").alias("id"), "a"), "id", "left")
        .select(
            "id",
            F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("a", F.lit(0)).cast("long").alias("auth"),
        )
    )
    return out.orderBy(F.desc("auth"), F.desc("hub"), "id").limit(20)

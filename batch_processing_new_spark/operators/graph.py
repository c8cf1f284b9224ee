"""Graph analytics over relational data: iterative PageRank on the
part co-purchase graph.

Demonstrates the iterative-DataFrame-algorithm shape (the other
instance is the connected-components closure in dedup.py): a loop that
BUILDS the plan — join + aggregate per iteration, no driver-side data
movement — with the edge list materialized once. At 100 TB the same
loop runs with edges persisted/bucketed by src so every iteration is a
co-located join plus one shuffle on dst, and each iteration's result is
checkpointed to cut lineage.

The oracle unrolls the same three iterations as chained SQL CTEs — an
iterative algorithm with an EXACT value oracle, not just invariants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import load_table

PR_ITERS = 3
PR_DAMP = 0.85


def order_baskets(lineitem: DataFrame) -> DataFrame:
    """One row per order: ``p`` is its sorted distinct part keys."""
    return lineitem.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("p")
    )


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """Every (src < dst) part pair inside each basket, one row per
    (order, pair), generated in-row from the sorted basket."""
    p = F.col("p")
    pairs = F.flatten(
        F.transform(
            p,
            lambda x, i: F.transform(
                F.slice(p, i + 2, F.greatest(F.size(p) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return baskets.select(F.explode(pairs).alias("e")).select("e.src", "e.dst")


def copurchase_half_edges(lineitem: DataFrame) -> DataFrame:
    """Canonical (src < dst) distinct co-purchase pairs — the
    undirected edge set. Consumers needing the symmetric directed view
    (PageRank) wrap it via copurchase_edges; consumers that work on
    undirected edges (triangle counting) use this directly instead of
    paying for a mirror they immediately filter away."""
    return basket_pairs(order_baskets(lineitem)).distinct()


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct directed edges between parts sharing an order (both
    directions present by construction, so the graph is symmetric and
    has no dangling nodes — every node has out-degree >= 1).

    Shape: collect_set the parts per order (ONE scan + ONE shuffle of
    lineitem, with map-side partial aggregation), then generate the
    canonical src < dst pairs in-row from the sorted set — orders hold
    a handful of parts, so the per-row k^2 is tiny — and distinct the
    exploded pairs. The previous self-join-on-orderkey formulation
    scanned and shuffled lineitem twice before the same distinct; at
    100 TB the saved scan is the dominant win. The mirror union on the
    distinct output is a free projection.
    """
    half = copurchase_half_edges(lineitem)
    return half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damp: float = PR_DAMP,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(v, rank) after ``iters`` synchronous iterations from rank=1:
    r(v) <- (1-damp) + damp * sum_{u->v} r(u)/outdeg(u).

    Each iteration is one join (ranks to edges on src) + one aggregate
    (sum by dst): shuffle keys src then dst, nothing else. The edge
    list is materialized once (localCheckpoint) — it feeds every
    iteration plus the degree table, and re-deriving the self-join per
    iteration would dominate the cost.

    The per-dst contribution sum is a data-scale float aggregation, so
    the r/d terms are rounded to 9dp and reduced under DECIMAL (the
    q188 term-sum discipline): a raw double sum is partition-order-
    dependent at the last ulp, which compounds per iteration
    (TESTDATA.md rule 8). One double conversion per iteration, after
    the exact sum.

    ``checkpoint_every=k`` eagerly localCheckpoints the rank frame
    every k iterations, truncating lineage so the final plan nests
    O(k) instead of O(iters) joins. Measured (r06, a depth sweep +
    alternating fresh-session A/B at sf0.1; TUNING.md "Retired one-shot
    tools"): for the normal single-action pattern the UNcheckpointed
    loop is ~1.75 s/iteration FLAT through depth 20 (lineage does not
    compound — the apparent O(N^2) in the depth-sweep probe was N
    actions each replanning the full DAG), while eager checkpoints
    cost ~1.7x wall (61 s vs 35 s at depth 20) by breaking stage
    pipelining to materialize each cut. Values are bit-identical
    either way because each iteration's reduce is already
    order-independent (test_pagerank_checkpoint_knob_is_value_neutral).
    So: default OFF at any depth q102 uses; reach for the knob only
    past O(100) iterations (planner/stack growth) or on a real
    cluster where a long-lineage recompute after executor loss costs
    more than the materialization (there, prefer checkpoint_every=1
    with a cluster checkpoint dir — rank state is one row per vertex,
    so the write is tiny next to the edge shuffles).
    """
    if checkpoint_every is not None and checkpoint_every < 1:
        # 0 would silently mean "off" and negatives would checkpoint
        # EVERY iteration (the 1.7x penalty) via modulo — both are
        # caller mistakes, not modes (r06 self-review)
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    contrib_base = edges.join(deg, "src")  # (src, dst, d)
    ranks = deg.select(F.col("src").alias("v"), F.lit(1.0).alias("r"))
    contrib = F.round(F.col("r") / F.col("d"), 9).cast("decimal(30,9)")
    for i in range(iters):
        ranks = (
            contrib_base.join(ranks, contrib_base["src"] == ranks["v"])
            .select("dst", contrib.alias("c"))
            .groupBy("dst")
            .agg(
                (
                    F.lit(1.0 - damp)
                    + F.lit(damp) * F.sum("c").cast("double")
                ).alias("r")
            )
            .select(F.col("dst").alias("v"), "r")
        )
        if (
            checkpoint_every
            and (i + 1) % checkpoint_every == 0
            and (i + 1) < iters
        ):
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _pr_iter_sql(prev: str, cur: str) -> str:
    # contributions rounded then DECIMAL-summed — the exact twin of
    # pagerank()'s order-independent reduce (q188 discipline)
    return f"""
{cur} AS (
    SELECT p.dst AS v,
           {1 - PR_DAMP} + {PR_DAMP} * CAST(CAST(sum(
               CAST(round({prev}.r / deg.d, 9) AS DECIMAL(30,9))
           ) AS VARCHAR) AS DOUBLE) AS r
    FROM pairs p
    JOIN {prev} ON {prev}.v = p.src
    JOIN deg ON deg.src = p.src
    GROUP BY p.dst
)"""


@query(
    "q102_copurchase_pagerank",
    oracle=f"""
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT src, count(*) AS d FROM pairs GROUP BY src),
r0 AS (SELECT src AS v, 1.0 AS r FROM deg),{_pr_iter_sql('r0', 'r1')},{_pr_iter_sql('r1', 'r2')},{_pr_iter_sql('r2', 'r3')}
SELECT v AS part_id, round(r, 6) AS rank
FROM r3
ORDER BY part_id
""",
)
def q102_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts sharing an
    order), {PR_ITERS} iterations, damping {PR_DAMP} — 'centrality' of a
    part in the catalog's co-occurrence structure."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li)
    return (
        pagerank(edges)
        .select(F.col("v").alias("part_id"), F.round("r", 6).alias("rank"))
        .orderBy("part_id")
    )


# ------------------------------------- hierarchy closure (tree paths)

HIER_DOUBLINGS = 5  # pointer-doubling rounds; resolves depth < 2^5 = 32


@query(
    "q116_hierarchy_paths",
    oracle="""
WITH RECURSIVE anc AS (
    SELECT doc_id, 0 AS depth, doc_id::VARCHAR AS path
    FROM documents WHERE doc_id = 0
    UNION ALL
    SELECT d.doc_id, anc.depth + 1, anc.path || '/' || d.doc_id
    FROM documents d
    JOIN anc ON (d.doc_id - 1) // 2 = anc.doc_id
    WHERE d.doc_id > 0
)
SELECT doc_id, 0 AS root_id, depth, path
FROM anc
ORDER BY doc_id
""",
)
def q116_hierarchy_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening: resolve every node of a parent-pointer tree
    to (root, depth, root-to-node path) — the org-chart / category-tree
    closure. The tree is synthesized over documents as a binary heap
    (parent(n) = (n-1)/2) purely to have a deep deterministic hierarchy;
    the operator reads only (id, parent) pairs.

    Spark side is POINTER DOUBLING, not per-level descent: each round
    joins every node's state to its current ancestor's state, so the
    resolved prefix doubles — depth-D trees settle in ceil(log2 D)
    self-joins (5 rounds cover depth 32) instead of D sequential scans.
    Once a node reaches the root the generic update becomes a no-op
    (the root's state is the identity: 0 extra steps, empty chain), so
    no convergence bookkeeping is needed. The oracle is the textbook
    recursive CTE. At 100 TB: persist the state bucketed by the join
    key each round; rounds stay log-depth, the only growing payload is
    the path array itself.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    is_root = F.col("doc_id") == 0
    state = d.select(
        F.col("doc_id").alias("id"),
        F.when(is_root, F.lit(0))
        .otherwise((F.col("doc_id") - 1) / F.lit(2))
        .cast("long")
        .alias("anc"),
        F.when(is_root, F.lit(0)).otherwise(F.lit(1)).alias("steps"),
        F.when(is_root, F.array().cast("array<long>"))
        .otherwise(F.array(F.col("doc_id")))
        .alias("chain"),
    )
    for _ in range(HIER_DOUBLINGS):
        lookup = state.select(
            F.col("id").alias("l_id"),
            F.col("anc").alias("l_anc"),
            F.col("steps").alias("l_steps"),
            F.col("chain").alias("l_chain"),
        )
        state = (
            state.join(lookup, state["anc"] == lookup["l_id"])
            .select(
                "id",
                F.col("l_anc").alias("anc"),
                (F.col("steps") + F.col("l_steps")).alias("steps"),
                F.concat("chain", "l_chain").alias("chain"),
            )
            .localCheckpoint(eager=False)
        )
    path = F.concat_ws(
        "/",
        F.transform(
            F.concat(F.array(F.lit(0).cast("long")), F.reverse("chain")),
            lambda x: x.cast("string"),
        ),
    )
    return state.select(
        F.col("id").alias("doc_id"),
        F.col("anc").cast("int").alias("root_id"),
        F.col("steps").alias("depth"),
        path.alias("path"),
    ).orderBy("doc_id")


_SIM_TOPK = 5


@query(
    "q166_item_similarity",
    oracle=f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_per_item AS (
    SELECT l_partkey AS part, count(*) AS n FROM baskets GROUP BY l_partkey
),
co AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS co_orders
    FROM baskets a
    JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
),
directed AS (
    SELECT pa AS part, pb AS neighbor, co_orders FROM co
    UNION ALL
    SELECT pb AS part, pa AS neighbor, co_orders FROM co
),
scored AS (
    SELECT d.part, d.neighbor, d.co_orders,
           round(d.co_orders / (na.n + nb.n - d.co_orders), 6) AS jaccard
    FROM directed d
    JOIN n_per_item na ON na.part = d.part
    JOIN n_per_item nb ON nb.part = d.neighbor
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY part ORDER BY jaccard DESC, neighbor
    ) AS rank
    FROM scored
)
SELECT part, neighbor, co_orders, jaccard, rank
FROM ranked WHERE rank <= {_SIM_TOPK} AND part < 200
ORDER BY part, rank
""",
)
def q166_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: for each part the
    top-{_SIM_TOPK} co-purchased neighbors by Jaccard over order
    baskets (|orders with both| / |orders with either|), reported for
    parts < 200 to keep the checked slice small.

    Scale shape: baskets are collect_set per order (ONE lineitem scan
    + shuffle with map-side combine), canonical pairs are generated
    IN-ROW from the sorted basket (bounded by basket size squared —
    baskets are small; a per-basket cap guards pathological carts),
    and the pair aggregate is the only pair-scale shuffle. Per-item
    order counts re-aggregate the basket table and join the pair table
    on part keys — plain equi-shuffles, broadcast when small (AQE).
    The top-k is a per-part window over the aggregated pair set, never
    over raw co-occurrence events. This is the inverted-index
    formulation of item-CF that survives 100 TB of orders; the
    all-pairs-of-rows formulation does not.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = order_baskets(li)
    co = basket_pairs(baskets).groupBy("src", "dst").agg(
        F.count("*").alias("co_orders")
    )
    directed = co.selectExpr(
        "src AS part", "dst AS neighbor", "co_orders"
    ).unionByName(co.selectExpr("dst AS part", "src AS neighbor", "co_orders"))
    n_per_item = (
        baskets.select(F.explode("p").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("n"))
    )
    nb = n_per_item.select(
        F.col("part").alias("neighbor"), F.col("n").alias("n_b")
    )
    scored = (
        directed.join(n_per_item, "part")
        .join(nb, "neighbor")
        .select(
            "part",
            "neighbor",
            "co_orders",
            F.round(
                F.col("co_orders")
                / (F.col("n") + F.col("n_b") - F.col("co_orders")),
                6,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("part").orderBy(
        F.col("jaccard").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") <= _SIM_TOPK) & (F.col("part") < 200))
        .orderBy("part", "rank")
    )


_TRI_TOP = 20


@query(
    "q167_triangle_count",
    oracle=f"""
WITH und AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, count(*) AS d
    FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
    GROUP BY node
),
keyed AS (
    SELECT und.u, und.v, du.d AS du, dv.d AS dv
    FROM und
    JOIN deg du ON du.node = und.u
    JOIN deg dv ON dv.node = und.v
),
oriented AS (
    -- orient toward the larger (degree, id) tuple: a true
    -- lexicographic compare, safe for any id range
    SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS src,
           CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS dst,
           CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS ddst
    FROM keyed
),
wedges AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM oriented e1
    JOIN oriented e2
      ON e1.src = e2.src AND (e1.ddst, e1.dst) < (e2.ddst, e2.dst)
),
tri AS (
    SELECT w.a, w.b, w.c
    FROM wedges w
    JOIN oriented e3 ON e3.src = w.b AND e3.dst = w.c
),
per_node AS (
    SELECT node, count(*) AS triangles
    FROM (SELECT a AS node FROM tri UNION ALL
          SELECT b AS node FROM tri UNION ALL
          SELECT c AS node FROM tri)
    GROUP BY node
)
SELECT node AS part, triangles
FROM per_node
ORDER BY triangles DESC, part
LIMIT {_TRI_TOP}
""",
)
def q167_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts in the part co-purchase graph (top
    {_TRI_TOP} by participation): the local-clustering signal that
    flags tightly-bundled catalog cliques.

    Degree-oriented ("compact-forward") enumeration via NEIGHBOR-ARRAY
    INTERSECTION — the distributed triangle algorithm that scales:
    every undirected edge is oriented from its lower to its higher
    (degree, id) endpoint, each node's oriented out-neighborhood is
    collected into ONE sorted array (out-degree is O(sqrt(E)) under
    this orientation, so the array is bounded even for hub nodes —
    the classic fix for the star-graph blowup), and each oriented edge
    (u, v) closes |N+(u) ∩ N+(v)| triangles — found exactly once at
    the triangle's (deg, id)-smallest edge. The earlier wedge-join
    formulation MATERIALIZED every wedge (sum of C(outdeg, 2) rows
    shuffled through an equi-join, the dominant cost); intersecting
    in-row shuffles only 2x the adjacency arrays — measured 2.9x
    faster at sf0.1 (identical output), and the gap widens with
    density since wedges grow quadratically in out-degree while
    arrays grow linearly. Per-corner attribution stays exact: the
    edge's endpoints each earn |common|, every common neighbor earns
    1 via an in-row explode of the (already tiny) intersection.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = copurchase_half_edges(li)
    und = und.localCheckpoint(eager=False)  # feeds deg + orientation
    deg = (
        und.select(F.col("src").alias("node"))
        .unionByName(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    keyed = (
        und.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "du")
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("dv")),
            "dst",
        )
    )
    # orient toward the larger (degree, id) tuple — a lexicographic
    # compare (struct <), safe for any id range (an arithmetic
    # degree*K+id encoding overflows its id field on real catalogs)
    lt = F.struct(F.col("du"), F.col("src")) < F.struct(
        F.col("dv"), F.col("dst")
    )
    oriented = keyed.select(
        F.when(lt, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(lt, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    ).localCheckpoint(eager=False)  # feeds adjacency + both edge joins
    adj = oriented.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("nbrs")
    )
    a_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
    a_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
    tri_edges = (
        oriented.join(a_u, oriented["src"] == a_u["u"])
        # left join: a dst that is nobody's source (an orientation
        # sink) has no out-neighbors — empty array, zero triangles
        .join(a_v, oriented["dst"] == a_v["v"], "left")
        .select(
            "src",
            "dst",
            F.array_intersect(
                "nu", F.coalesce("nv", F.array().cast("array<bigint>"))
            ).alias("common"),
        )
        .where(F.size("common") > 0)
        .localCheckpoint(eager=False)  # feeds three attribution legs
    )
    per_node = (
        tri_edges.select(
            F.col("src").alias("node"), F.size("common").alias("t")
        )
        .unionByName(
            tri_edges.select(
                F.col("dst").alias("node"), F.size("common").alias("t")
            )
        )
        .unionByName(
            tri_edges.select(
                F.explode("common").alias("node"), F.lit(1).alias("t")
            )
        )
        .groupBy("node")
        .agg(F.sum("t").alias("triangles"))
    )
    return (
        per_node.select(F.col("node").alias("part"), "triangles")
        .orderBy(F.col("triangles").desc(), "part")
        .limit(_TRI_TOP)
    )

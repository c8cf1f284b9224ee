"""Distributed k-means (Lloyd's) and SemDeDup-style semantic dedup.

North-Star surface (SURVEY.md §2B similarity/dedup rows): clustering is
the scale scaffold for embedding work — IVF coarse quantization
(similarity.py reuses the same Lloyd step), nearest-centroid
classification (q93), and semantic dedup, which prunes near-duplicate
*meanings* that token-level dedup (q33-q39) cannot see.

Both queries carry EXACT value oracles: the k-means oracle unrolls
Lloyd iterations as chained SQL CTEs (the same technique as q102's
PageRank oracle), and the SemDeDup oracle extends that chain with a
within-cluster pairwise-cosine EXISTS. Cross-engine float discipline:
distances are float64 sum((a-b)^2) rounded to 9 before ranking (ties
break on cluster id), centroid means round to 6 before the next
iteration — so every iteration's decisions are engine-independent, not
just the final aggregates.

Scale notes (100 TB):
- Assignment is one Arrow-vectorized map over broadcast centroids
  (k x dim floats); the update shuffle carries (cluster, dim, partial
  sum) — map-side combine collapses each partition to k x dim rows
  regardless of corpus size. Driver traffic per iteration is k x dim
  floats, the MLlib pattern.
- SemDeDup's O(n^2) is confined to clusters (the point of clustering
  first); at 100 TB you persist the corpus partitioned by cluster and
  run the pair scan per partition, or subdivide fat clusters with a
  second k-means level.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.operators.similarity import _f64, dot
from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import (
    load_vectors,
    pin_before_sort,
)

DIM = 64
K_CLUSTERS = 8
KM_ITERS = 2       # Lloyd update rounds (assign -> re-center, twice)
SEM_THRESHOLD = 0.3  # within-cluster cosine above which the higher id drops


def _argmin_d2(V: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(best cluster, its d2) per row. d2 is float64 sum((a-b)^2)
    (computed directly, not the |a|^2-2ab+|b|^2 expansion, to keep the
    same float rounding as the oracle's per-element sum) rounded to 9;
    ties break on cluster id — exactly the oracle's ranking, so
    assignment is engine-independent."""
    d2 = np.stack(
        [((V - C[i]) ** 2).sum(axis=1) for i in range(C.shape[0])], axis=1
    )
    d2 = np.round(d2, 9)
    k = np.arange(C.shape[0])
    order = np.lexsort((np.broadcast_to(k, d2.shape), d2), axis=1)
    best = order[:, 0]
    return best, d2[np.arange(len(best)), best]


def _assign_with_d2_np(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid assignment returning
    (cluster, d2): one numpy distance matrix per batch."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    C = np.array(centroids, dtype=np.float64)  # (k, dim)
    out = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("d2", DoubleType()),
        ]
    )

    @F.pandas_udf(out)
    def assign(emb: pd.Series) -> pd.DataFrame:
        best, d2 = _argmin_d2(
            np.vstack(emb.to_numpy()).astype(np.float64), C
        )
        return pd.DataFrame({"cluster": best.astype(np.int32), "d2": d2})

    return assign


#: centroid-sum quantum: elements are quantized to exact 1e-10 units
#: BEFORE the batch partial sum, making every partial an exact int64.
#: Quantization error per mean is <= 5e-11 — four orders below the
#: 1e-6 centroid rounding grid — while float partials would make the
#: sums depend on Arrow batch layout (a float64 np.add.at partial
#: changes in its last ulps when rows regroup, and casting an
#: already-layout-dependent float to DECIMAL restores nothing).
_CENTROID_QUANTUM = 10_000_000_000


def _partial_centroid_sums(centroids: list[list[float]], dim: int = DIM):
    """Fused assign + per-batch EXACT-INTEGER partial centroid sums.

    Emits (cluster, pos, s, n) — at most k x dim rows per Arrow batch —
    instead of exploding every vector into dim rows for a JVM-side
    aggregate (measured ~4x on the whole query at sf0.1: the explode
    variant pushes rows x dim values through Arrow + shuffle). The
    partials are int64 sums of per-element quantized values, so they
    are exactly layout-independent (integer addition is associative);
    the downstream reduce is an exact long sum.
    """
    import pandas as pd_mod

    C = np.array(centroids, dtype=np.float64)
    k = C.shape[0]

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            best, _ = _argmin_d2(V, C)
            Q = np.round(V * _CENTROID_QUANTUM).astype(np.int64)
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, best, Q)
            counts = np.bincount(best, minlength=k)
            nz = np.flatnonzero(counts)
            yield pd_mod.DataFrame(
                {
                    "cluster": np.repeat(nz, dim).astype(np.int32),
                    "pos": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                    "s": sums[nz].ravel(),
                    "n": np.repeat(counts[nz], dim).astype(np.int64),
                }
            )

    return run


def lloyd_kmeans(
    emb: DataFrame, k: int = K_CLUSTERS, iters: int = KM_ITERS
) -> DataFrame:
    """(vec_id, cluster, d2) after ``iters`` Lloyd rounds from
    deterministic seeds (the k lowest vec_ids' embeddings).

    Each round is ONE fused Arrow pass (assign + per-batch partial
    centroid sums) plus a k x dim-row aggregate: mean = sum(s)/sum(n)
    rounded 6, empty clusters keep their previous centroid. Only
    k x dim floats return to the driver per round.
    """
    # no fan_out: every Lloyd pass is mapInPandas, and on a 4-core host
    # one task per row group beat a spread scan (per-site A/B, TUNING.md
    # "Scan-stage parallelism")
    vecs = emb.select("vec_id", "embedding").localCheckpoint(eager=False)
    # seeds state the SAME contract as the oracle's c0 (vec_id < k):
    # orderBy().limit(k) silently diverges on any fixture whose ids
    # are not exactly 0..k-1
    seeds = (
        emb.where(F.col("vec_id") < k)
        .select(_f64("embedding").alias("v"))
        .collect()
    )
    centroids = [list(r.v) for r in seeds]
    if not centroids:
        # empty corpus -> no seeds: emit the 0-row contract frame
        # instead of indexing into an empty centroid list (the oracle's
        # c0/a_final chain is likewise empty). An upstream filter that
        # matches nothing is routine at scale, not an error.
        return vecs.select(
            "vec_id",
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("d2"),
        ).where(F.lit(False))
    for _ in range(iters):
        partials = vecs.mapInPandas(
            _partial_centroid_sums(centroids),
            schema="cluster int, pos int, s long, n long",
        )
        means = (
            partials.groupBy("cluster", "pos")
            # exact partial sums (see _partial_centroid_sums), reduced
            # under DECIMAL(38,0): integer addition is associative so
            # the mean is partitioning-independent, and the 38-digit
            # accumulator cannot wrap — a plain LongType sum of
            # 1e10-quantized coordinates overflows 2^63 at ~1e9
            # rows/cluster, inside the 100 TB design envelope
            .agg(
                F.round(
                    F.sum(F.col("s").cast("decimal(38,0)")).cast("double")
                    / _CENTROID_QUANTUM
                    / F.sum("n"),
                    6,
                ).alias("m")
            )
            # collect the k x dim (cluster, pos, m) cells directly and
            # assemble the centroid arrays driver-side: the previous
            # second groupBy(cluster) + array_sort(collect_list(...))
            # paid one more exchange + stage per Lloyd round to build
            # arrays the driver immediately unpacked anyway. Driver
            # traffic is identical (k x dim floats), values identical
            # (assembly indexes by pos — the same order array_sort
            # produced).
            .collect()
        )
        new: dict[int, list[float | None]] = {}
        for r in means:
            new.setdefault(r.cluster, [None] * len(centroids[0]))[r.pos] = r.m
        # range over the ACTUAL seed count, not the requested k: a
        # corpus with fewer than k rows seeds fewer centroids, and
        # indexing centroids[i] past that is an IndexError, not a
        # cluster (the oracle's c0 is likewise |corpus|-bounded)
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    a = _assign_with_d2_np(centroids)("embedding").alias("a")
    return vecs.select("vec_id", a).select(
        "vec_id", F.col("a.cluster").alias("cluster"), F.col("a.d2").alias("d2")
    )


# --------------------------------------------------------- SQL oracle

# float64 squared L2 between DOUBLE[] columns e.v and c.c
_D2_SQL = (
    "(SELECT sum((e.v[i] - c.c[i]) * (e.v[i] - c.c[i])) "
    "FROM generate_series(1, 64) g(i))"
)


def _kmeans_cte(k: int = K_CLUSTERS, iters: int = KM_ITERS) -> str:
    """WITH-chain computing a_final(vec_id, cluster, d2) — Lloyd
    unrolled, one scored+assign+update CTE triple per iteration."""
    parts = [
        "emb AS (SELECT vec_id, "
        "list_transform(embedding, x -> x::DOUBLE) AS v FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0))",
        f"c0 AS (SELECT vec_id AS cid, v AS c FROM emb WHERE vec_id < {k})",
    ]
    for it in range(iters):
        parts += [
            f"""s{it} AS (
    SELECT e.vec_id, c.cid, round({_D2_SQL}, 9) AS d2
    FROM emb e CROSS JOIN c{it} c)""",
            f"""a{it} AS (
    SELECT vec_id, cid AS cluster, d2 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM s{it})
    WHERE rn = 1)""",
            # the mean replays Spark's quantize-then-exact-sum chain
            # (round to 1e-10 units -> exact int sum -> double -> two
            # divisions, same op order) instead of a float avg(): the
            # float avg agrees with the quantized mean only to ~5e-11,
            # which sits INSIDE the round(6) boundary width often
            # enough to matter across k x dim x iters cells (the q108
            # sf0.1 boundary-flip class, preempted here)
            f"""u{it} AS (
    SELECT a.cluster AS cid, g.i AS pos,
           round(CAST(sum(CAST(round(e.v[g.i] * 10000000000.0) AS BIGINT))
                      AS DOUBLE) / 10000000000.0 / count(*), 6) AS m
    FROM a{it} a JOIN emb e USING (vec_id), generate_series(1, 64) g(i)
    GROUP BY 1, 2)""",
            f"""c{it + 1} AS (
    SELECT c.cid, coalesce(u.c, c.c) AS c
    FROM c{it} c LEFT JOIN (
        SELECT cid, list(m ORDER BY pos) AS c FROM u{it} GROUP BY cid
    ) u USING (cid))""",
        ]
    parts += [
        f"""s_final AS (
    SELECT e.vec_id, c.cid, round({_D2_SQL}, 9) AS d2
    FROM emb e CROSS JOIN c{iters} c)""",
        """a_final AS (
    SELECT vec_id, cid AS cluster, d2 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM s_final)
    WHERE rn = 1)""",
    ]
    return "WITH " + ",\n".join(parts)


@query(
    "q113_kmeans",
    oracle=_kmeans_cte()
    + """
SELECT vec_id, cluster, round(d2, 6) AS d2
FROM a_final
ORDER BY vec_id
""",
)
def q113_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus: final
    (vec_id, cluster, squared-distance) after {KM_ITERS} update rounds
    from deterministic seeds — an iterative ML algorithm with an EXACT
    value oracle (Lloyd unrolled as SQL CTEs, as q102 does PageRank).
    """
    e = load_vectors(spark, sf_dir)
    return pin_before_sort(
        # the final assignment is an Arrow pandas-UDF pass; unpinned,
        # the presentation sort's range sampling re-executes it
        # (measured: 9.9 s + 15.5 s duplicate stage pair at sf0.1)
        lloyd_kmeans(e).withColumn("d2", F.round(F.col("d2"), 6))
    ).orderBy("vec_id")


# ------------------------------------------------------------ SemDeDup

# float64 pairwise cosine between DOUBLE[] columns ea.v and eb.v
_PAIR_COS_SQL = """
    (SELECT sum(ea.v[i] * eb.v[i]) FROM generate_series(1, 64) g(i))
    / (sqrt((SELECT sum(ea.v[i] * ea.v[i]) FROM generate_series(1, 64) g(i)))
       * sqrt((SELECT sum(eb.v[i] * eb.v[i]) FROM generate_series(1, 64) g(i))))
"""


@query(
    "q114_semantic_dedup",
    oracle=_kmeans_cte()
    + f""",
dups AS (
    SELECT DISTINCT a.vec_id
    FROM a_final a
    JOIN a_final b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
    JOIN emb ea ON ea.vec_id = a.vec_id
    JOIN emb eb ON eb.vec_id = b.vec_id
    WHERE round({_PAIR_COS_SQL}, 6) >= {SEM_THRESHOLD}
)
SELECT f.vec_id, f.cluster
FROM a_final f
WHERE f.vec_id NOT IN (SELECT vec_id FROM dups)
ORDER BY f.vec_id
""",
)
def q114_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster embeddings (q113's
    k-means), then inside each cluster drop any vector whose cosine to
    a LOWER-id cluster-mate reaches {SEM_THRESHOLD} — keep-lowest-id
    survivors of near-duplicate meanings. Token dedup can't catch
    paraphrases; this is the embedding-space complement.

    Scale shape: the quadratic pair scan is confined to clusters
    (norms precomputed per vector, q41's trick); the drop decision is a
    left-anti join on vec_id. Deterministic end to end: assignment and
    cosine are both rounded before any comparison.
    """
    e = load_vectors(spark, sf_dir)
    assign = lloyd_kmeans(e).select("vec_id", "cluster").localCheckpoint(
        eager=False
    )
    vecs = e.select("vec_id", _f64("embedding").alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    side_a = assign.join(vecs, "vec_id")
    side_b = side_a.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("cluster_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nrm_b"),
    )
    dups = (
        side_a.join(
            side_b,
            (F.col("cluster") == F.col("cluster_b"))
            & (F.col("id_b") < F.col("vec_id")),
        )
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("v"), F.col("vb")) / (F.col("nrm") * F.col("nrm_b")),
                6,
            ),
        )
        .where(F.col("cos_sim") >= SEM_THRESHOLD)
        .select("vec_id")
        .distinct()
    )
    return (
        assign.join(dups, "vec_id", "left_anti")
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )


# --------------------------- embedding covariance (gram) matrix

_COV_DIM = 64


@query(
    "q160_embedding_covariance",
    oracle=f"""
WITH mu AS (
    SELECT i,
           CAST(CAST(sum(CAST(embedding[i]::DOUBLE AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / (SELECT count(*) FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0)) AS m
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0), generate_series(1, {_COV_DIM}) g(i)
    GROUP BY i
),
prods AS (
    SELECT gi.i AS i, gj.i AS j,
           CAST(CAST(sum(CAST(e.embedding[gi.i]::DOUBLE * e.embedding[gj.i]::DOUBLE
                         AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS s
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e,
         generate_series(1, {_COV_DIM}) gi(i),
         generate_series(1, {_COV_DIM}) gj(i)
    WHERE gj.i >= gi.i
    GROUP BY gi.i, gj.i
)
SELECT p.i - 1 AS i, p.j - 1 AS j,
       -- "+ 0" folds IEEE negative zero to +0.0: round() can emit -0.0
       -- on one engine and +0.0 on the other (equal floats, different
       -- canonicalizer strings)
       round(p.s / (SELECT count(*) FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0))
             - mi.m * mj.m, 6) + 0 AS cov
FROM prods p
JOIN mu mi ON mi.i = p.i
JOIN mu mj ON mj.i = p.j
ORDER BY i, j
""",
)
def q160_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance (gram) matrix of the embedding corpus —
    the PCA/whitening precursor: cov[i,j] = E[x_i x_j] - E[x_i]E[x_j]
    over all {_COV_DIM}-dim vectors, upper triangle (the matrix is
    symmetric), 0-indexed.

    Plan shape: each vector explodes to its upper-triangle index pairs
    IN THE SCAN STAGE (posexplode x 2 with j >= i), and the single
    shuffle carries one partially-aggregated row per (i, j) pair per
    mapper — {_COV_DIM}*({_COV_DIM}+1)/2 = {_COV_DIM * (_COV_DIM + 1) // 2}
    cells regardless of corpus size, the same partial-sum scaling as
    q113's Lloyd step. Per-row products compute in double then sum as
    DECIMAL(38,12), so the reduction is partition-order-exact; the
    final n-division and mean-product subtraction are one deterministic
    double op per cell. At 100 TB this is the textbook one-pass
    covariance; a mapInPandas numpy X^T X partial would cut the
    explode fan-out constant, at the cost of leaving whole-stage
    codegen — measured unnecessary at fixture scale.
    """
    e = load_vectors(spark, sf_dir)
    n = e.count()
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # the projected vector table is shared by BOTH branches (pair sums
    # and means) — materialize once so the scan runs once
    vecs = e.select(v.alias("v")).localCheckpoint(eager=False)
    pairs = (
        vecs.select(F.posexplode("v").alias("i", "xi"), F.col("v"))
        .select(
            "i",
            "xi",
            F.posexplode(F.slice(F.col("v"), F.col("i") + 1, _COV_DIM)).alias(
                "dj", "xj"
            ),
        )
        .select(
            "i",
            (F.col("i") + F.col("dj")).alias("j"),
            (F.col("xi") * F.col("xj")).cast("decimal(38,12)").alias("p"),
        )
    )
    sums = pairs.groupBy("i", "j").agg(
        F.sum("p").alias("s"),
    )
    # means from a DIRECT single posexplode (dim rows per vector) —
    # deriving them by filtering i==j out of the 2080-pair explosion
    # generated ~32x the rows only to discard them
    mu = (
        vecs.select(F.posexplode("v").alias("i", "xi"))
        .groupBy("i")
        .agg(
            (
                F.sum(F.col("xi").cast("decimal(38,12)")).cast("double") / n
            ).alias("m")
        )
    )
    mi = mu.select(F.col("i").alias("mi_i"), F.col("m").alias("m_i"))
    mj = mu.select(F.col("i").alias("mj_j"), F.col("m").alias("m_j"))
    return (
        sums.join(F.broadcast(mi), sums["i"] == mi["mi_i"])
        .join(F.broadcast(mj), sums["j"] == mj["mj_j"])
        .select(
            "i",
            "j",
            (
                F.round(
                    F.col("s").cast("double") / n
                    - F.col("m_i") * F.col("m_j"),
                    6,
                )
                + F.lit(0.0)  # fold -0.0 to +0.0 (see oracle comment)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )

"""Similarity search over the embeddings table (array<float>, dim 64).

North-Star surface (SURVEY.md §2B "similarity search"): brute-force
cosine top-k as the exactness baseline, sign-LSH bucketed ANN as the
scale path, and cosine near-dup pairs.

Numeric parity design: DuckDB's ``list_cosine_similarity`` accumulates
in FLOAT32 for FLOAT[] inputs, which can't be reproduced bit-exactly by
Spark's double arithmetic — so the oracle computes the dot/norms in
FLOAT64 via generate_series indexing, both sides round the cosine to 6
decimals BEFORE ranking, and ties break on vec_id. That makes the
ranking itself (not just the scores) engine-independent.

Scale notes:
- Brute force is a broadcast nested loop: queries broadcast, corpus
  streams, per-partition top-k via window. Cost O(|Q| x |corpus|) —
  exactly right when |Q| is small, and the recall oracle for ANN.
- The ANN path buckets by sign-LSH (deterministic hash60-derived
  hyperplanes); candidates shuffle on bucket only. At 100 TB you'd
  persist bucketed embeddings (bucketBy) so queries probe without a
  corpus re-scan.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import load_vectors

DIM = 64
TOPK = 10
N_QUERIES = 5  # query set: vec_id < 5


def _f64(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential float64 dot product via zip_with + aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _cos_sql_of(a: str, b: str) -> str:
    """DuckDB float64 cosine between two FLOAT[]/DOUBLE[] column refs
    (sequential sum over generate_series == Spark's F.aggregate fold)."""
    return f"""
    (SELECT sum({a}[i]::DOUBLE * {b}[i]::DOUBLE)
     FROM generate_series(1, {DIM}) g(i))
    / (sqrt((SELECT sum({a}[i]::DOUBLE * {a}[i]::DOUBLE)
             FROM generate_series(1, {DIM}) g(i)))
       * sqrt((SELECT sum({b}[i]::DOUBLE * {b}[i]::DOUBLE)
               FROM generate_series(1, {DIM}) g(i))))
"""


# DuckDB float64 pairwise cosine over FLOAT[] columns a.embedding/b.embedding
_COS_SQL = _cos_sql_of("a.embedding", "b.embedding")


def _d2_sql_of(a: str, b: str) -> str:
    """DuckDB float64 squared-L2 distance between two array column refs,
    rounded to 9 — the twin of ``_dist2_to``'s sequential fold + the
    round(9) both cell-assignment paths apply before ranking."""
    return f"""round((SELECT sum(({a}[i]::DOUBLE - {b}[i]::DOUBLE)
                         * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))
               FROM generate_series(1, {DIM}) g(i)), 9)"""


@query(
    "q40_cosine_topk",
    oracle=f"""
WITH scored AS (
    SELECT a.vec_id AS query_id,
           b.vec_id AS neighbor_id,
           round({_COS_SQL}, 6) AS cos_sim
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) a, (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) b
    WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
    ) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY query_id, rank
""",
)
def q40_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOPK} for each query vector (vec_id < 5).

    Plan shape: broadcast the tiny query set against the corpus scan,
    rank with a per-query window — no corpus self-shuffle.
    """
    from pyspark.sql import Window

    e = load_vectors(spark, sf_dir)
    # norms precomputed per VECTOR (the q41 discipline): |q| and |c|
    # inside every pair cost two extra interpreted 64-element folds per
    # pair (~3x the scoring work); sqrt(dot(v,v)) is bit-identical per
    # vector vs per pair, so the oracle hash is unchanged
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _f64("embedding").alias("qv")
    ).withColumn("nq", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), _f64("embedding").alias("cv")
    ).withColumn("nc", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


@query(
    "q41_embedding_neardup",
    oracle=f"""
SELECT a.vec_id AS id_a,
       b.vec_id AS id_b,
       round({_COS_SQL}, 6) AS cos_sim
FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_COS_SQL}, 6) >= 0.3
ORDER BY id_a, id_b
""",
)
def q41_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (cos >= 0.3).

    Blocking on ``label`` stands in for any cheap pre-cluster key (IVF
    coarse cell, LSH bucket): the O(n^2) is confined to blocks. The
    unblocked scale path is q42's sign-LSH.
    """
    e = load_vectors(spark, sf_dir)
    # norms precomputed per VECTOR, not per pair: cosine(a, b) needs
    # dot(a,b)/(|a||b|), and |a| recomputed inside every pair costs two
    # extra 64-element interpreted dots per pair (~3x the work at any
    # block size). sqrt(dot(v,v)) on the same data is bit-identical
    # whether computed per pair or per vector, so the oracle hash is
    # unchanged.
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("label"),
        _f64("embedding").alias("va"),
    ).withColumn("na", F.sqrt(dot(F.col("va"), F.col("va"))))
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        _f64("embedding").alias("vb"),
    ).withColumn("nb", F.sqrt(dot(F.col("vb"), F.col("vb"))))
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ),
        )
        .where(F.col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------- sign-LSH ANN

N_PLANES = 12  # 12-bit signatures -> 4096 buckets
N_BANDS = 4    # probe 4 bands of 3 bits: recall dial


def _hyperplanes(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG state,
    reproducible across sessions/executors (same reason hash60 exists)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"plane:{p}:{j}".encode()).hexdigest()
            row.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)  # ~U[-1, 1)
        planes.append(row)
    return planes


def _signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH signature: bit p = [v . w_p >= 0], packed to an int."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    _const_vector([float(w) for w in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
        for p, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _signature_np(planes: list[list[float]]):
    """Arrow-vectorized sign-LSH signature: one numpy matmul per batch.

    Bit-identical to `_signature` — asserted per-vector over the full
    fixture in tests/test_similarity.py::
    test_signature_np_matches_expression_version: both compute the dot
    in float64 and test >= 0, and IEEE-754 double sums differ only
    in rounding of intermediate order — with 64 terms in [-1,1] the sign
    at the >= 0 knife-edge agrees because numpy's pairwise sum and the
    left fold round identically here (verified over the full fixture).
    Higher-order array functions (`zip_with`/`aggregate`) are
    interpreted per element, NOT codegen'd — for a dense dim x planes
    product the Arrow batch + BLAS path is the fast lane, ~3x on the
    corpus-wide signature stage.
    """
    from pyspark.sql.types import LongType

    mat = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = np.array(
        [1 << p for p in range(len(planes))], dtype=np.int64
    )

    # LongType/int64 end to end: an int32 signature silently wraps at
    # n_planes >= 32 (bit 31 is the int32 sign bit) — n_planes is an
    # exposed tuning dial, and the expression/oracle twins don't wrap
    @F.pandas_udf(LongType())
    def sig(emb: pd.Series) -> pd.Series:
        v = np.vstack(emb.to_numpy()).astype(np.float64)
        return pd.Series(((v @ mat >= 0.0) @ weights).astype(np.int64))

    return sig


def ann_lsh_topk(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOPK,
    n_planes: int = N_PLANES,
    n_bands: int = N_BANDS,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: sign-LSH band buckets -> exact cosine on
    candidates only. Recall vs q40 asserted in tests/test_similarity.py.

    ``multiprobe=1`` also probes every bucket at Hamming distance 1 from
    the query's band value (Lv et al., multi-probe LSH): near-misses on
    one sign bit are the dominant false-negative mode, and probing them
    multiplies only the QUERY side by (1 + band_bits) — the corpus is
    neither re-hashed nor re-shuffled, so wider probing stays cheap at
    any corpus size (measured sweep in TUNING.md: recall 0.67 -> ~0.99
    at the default dials on structureless random vectors, the
    LSH-pessimal case).
    """
    from pyspark.sql import Window

    planes = _hyperplanes(n_planes)
    band_bits = n_planes // n_bands
    # candidate generation is PAIRS-ONLY: signatures and band buckets
    # carry no vectors, so the bucket join + distinct shuffle narrow
    # (query_id, neighbor_id) rows instead of 2 x dim doubles each —
    # vectors are re-attached AFTER dedup, once per surviving pair.
    # the signature scan is not spread: it is an Arrow pandas UDF, and
    # one 2000-row batch beats many small ones (per-task Python worker
    # + Arrow round-trip overhead outweighs the parallelism on a corpus
    # this small).
    sig = emb.select(
        "vec_id", _signature_np(planes)("embedding").alias("sig_full")
    )
    banded = (
        sig.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band_id"),
            "sig_full",
        )
        .withColumn(
            "band",
            F.expr(
                f"(sig_full >> (band_id * {band_bits})) & {(1 << band_bits) - 1}"
            ),
        )
        # tiny (corpus x bands longs); materialize so the query and
        # corpus sides of the bucket join don't each re-run the Arrow
        # signature pass (two consumers -> the UDF executed twice)
        .localCheckpoint(eager=False)
    )
    probes = F.array(
        F.col("band"),
        *(
            [
                F.expr(f"band ^ {1 << i}")
                for i in range(band_bits)
            ]
            if multiprobe >= 1
            else []
        ),
    )
    q = (
        banded.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            "band_id",
            F.explode(probes).alias("band"),
        )
    )
    c = banded.select(
        F.col("vec_id").alias("neighbor_id"), "band_id", "band"
    )
    pairs = (
        F.broadcast(q)  # query side is tiny; corpus side streams
        .join(c, ["band_id", "band"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # vector fetch: pairs are bounded by |Q| x probe-bucket volume, so
    # broadcasting them into one corpus scan costs no corpus shuffle at
    # any corpus size; query vectors are |Q| rows, also broadcast.
    qv = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), _f64("embedding").alias("qv")
    ).withColumn("nq", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    cand = (
        emb.join(F.broadcast(pairs), emb["vec_id"] == pairs["neighbor_id"])
        .select("query_id", "neighbor_id", _f64("embedding").alias("cv"))
        .withColumn("nc", F.sqrt(dot(F.col("cv"), F.col("cv"))))
        .join(F.broadcast(qv), "query_id")
    )
    # per-vector norms (q41 discipline) — bit-identical, 1/3 the folds
    scored = cand.withColumn(
        "cos_sim",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_Q42_ORACLE = f"""
WITH dots AS (
    SELECT e.vec_id, p.p,
           (SELECT sum(e.embedding[j + 1]::DOUBLE *
                       (('0x' || substr(md5('plane:' || p.p || ':' || j), 1, 8))::BIGINT
                        / 2147483647.0 - 1.0))
            FROM generate_series(0, {DIM - 1}) g(j)) AS dot
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e, generate_series(0, {N_PLANES - 1}) p(p)
),
sig AS (
    SELECT vec_id,
           sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT
               AS sig_full
    FROM dots GROUP BY vec_id
),
banded AS (
    SELECT vec_id, b.band_id,
           (sig_full >> (b.band_id * {N_PLANES // N_BANDS}))
               & {(1 << (N_PLANES // N_BANDS)) - 1} AS band
    FROM sig, generate_series(0, {N_BANDS - 1}) b(band_id)
),
qprobe AS (
    SELECT vec_id AS query_id, band_id,
           CASE WHEN pr.i = 0 THEN band
                ELSE xor(band, (1::BIGINT << (pr.i - 1))) END AS band
    FROM banded, generate_series(0, {N_PLANES // N_BANDS}) pr(i)
    WHERE vec_id < {N_QUERIES}
),
pairs AS (
    SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
    FROM qprobe q
    JOIN banded c ON c.band_id = q.band_id AND c.band = q.band
    WHERE c.vec_id <> q.query_id
),
scored AS (
    SELECT pr.query_id, pr.neighbor_id,
           round((SELECT sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)
                  FROM generate_series(1, {DIM}) g(i))
                 / (sqrt((SELECT sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)
                          FROM generate_series(1, {DIM}) g(i)))
                    * sqrt((SELECT sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)
                            FROM generate_series(1, {DIM}) g(i)))), 6) AS cos_sim
    FROM pairs pr
    JOIN embeddings a ON a.vec_id = pr.query_id
    JOIN embeddings b ON b.vec_id = pr.neighbor_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
    ) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


@query(
    "q42_ann_lsh_topk",
    oracle=_Q42_ORACLE,
)
def q42_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-k for the q40 query set.

    The hyperplanes are md5-derived (no RNG), so the WHOLE ANN pipeline
    — signatures, banding, Hamming-1 multiprobe, candidate join, exact
    re-rank — is replayed by the DuckDB oracle (upgraded from the
    original rows-only contract). The one cross-engine hazard is a
    knife-edge sign: numpy's pairwise dot vs sequential SQL summation
    could disagree when a plane dot is within float-ulp of 0; no
    fixture vector sits on that edge (and the recall invariant in
    tests/test_similarity.py is hash-independent regardless)."""
    e = load_vectors(spark, sf_dir)
    return ann_lsh_topk(e).orderBy("query_id", "rank")


# ------------------------------------------------------------ IVF ANN

IVF_CELLS = 16   # coarse quantizer cells (K)
IVF_NPROBE = 4   # cells probed per query: the recall/cost dial


def _dist2_to(centroid: list[float], vec: Column) -> Column:
    """Squared L2 distance to a constant centroid, JVM-side."""
    # ONE array literal per centroid (_const_vector), not dim F.lit
    # calls wrapped in F.array: the element-wise form cost a py4j round
    # trip per element — with cells x dim x 3 call sites, plan
    # CONSTRUCTION dominated q57's wall (measured 6.1 s build vs 1.0 s
    # execute at sf0.01; same Literal array<double> either way)
    return F.aggregate(
        F.zip_with(
            vec,
            _const_vector([float(x) for x in centroid]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _const_vector(values: list[float]) -> Column:
    """array<double> literal in ONE py4j call via F.expr: F.lit(list)
    converts element-by-element over py4j (~0.7 s for a 16x64 matrix,
    measured), while a parsed SQL string is one round trip. ``repr``
    round-trips every finite double exactly and the ``D`` suffix pins
    the SQL literal type to DOUBLE, so the resulting Literal is
    bit-identical to the element-wise form (asserted in
    tests/test_similarity.py::test_const_matrix_literal_bits)."""
    for x in values:
        # repr(inf)/repr(nan) render as 'infD'/'nanD' — an unresolved
        # identifier at analysis, surfacing far from the cause (ADVICE
        # r11). Centroids are trained values; fail HERE, by name.
        if not math.isfinite(x):
            raise ValueError(f"_const_vector: non-finite element {x!r}")
    return F.expr("array(" + ",".join(f"{x!r}D" for x in values) + ")")


def _const_matrix(rows: list[list[float]]) -> Column:
    """array<array<double>> literal in one py4j call (see _const_vector).
    Same isfinite guard as _const_vector, same rationale."""
    for r in rows:
        for x in r:
            if not math.isfinite(float(x)):
                raise ValueError(
                    f"_const_matrix: non-finite element {x!r}"
                )
    inner = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")" for r in rows
    )
    return F.expr(f"array({inner})")


def _nearest_cells(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """Array of the n nearest centroid ids (struct array_sort: Spark
    orders struct arrays field-by-field, so (dist, cid) sorts by dist).

    Built as ONE indexed ``transform`` over a single nested
    array<array<double>> literal instead of ``cells`` separately-unrolled
    fold expressions: the unrolled form produced a plan tree of
    cells x dim literal nodes that every eager DataFrame analysis
    re-walked — q57's plan CONSTRUCTION measured 6.1 s against 1.0 s of
    execution at sf0.01. The per-cell arithmetic is unchanged (same
    zip_with fold in the same order, same round(9), same (d, cid) sort),
    so assignments are bit-identical; the lambda's index argument is the
    cid the unrolled form spelled as a literal."""
    C = _const_matrix(centroids)
    scored = F.transform(
        C,
        lambda c, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                9,
            ).alias("d"),
            i.alias("cid"),
        ),
    )
    ranked = F.slice(F.array_sort(scored), 1, n)
    return F.transform(ranked, lambda s: s["cid"])


def _nearest_cells_np(centroids: list[list[float]], n: int):
    """Arrow-vectorized nearest-centroid assignment: one numpy distance
    matrix per batch instead of cells x dim interpreted HOF ops per row
    (same rationale and ~3x win as `_signature_np`). Distances are
    rounded to 9 like `_nearest_cells` and ties break on cell id
    (lexsort), so the assignment matches the expression version.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.array(centroids, dtype=np.float64)  # (k, dim)

    @F.pandas_udf(ArrayType(IntegerType()))
    def cells(emb: pd.Series) -> pd.Series:
        V = np.vstack(emb.to_numpy()).astype(np.float64)  # (m, dim)
        # computed as sum((a-b)^2), NOT the |a|^2-2ab+|b|^2 expansion:
        # same float rounding as the expression version, then round(9)
        # before ordering
        d2 = np.stack(
            [((V - C[i]) ** 2).sum(axis=1) for i in range(C.shape[0])],
            axis=1,
        )
        d2 = np.round(d2, 9)
        k = np.arange(C.shape[0])
        order = np.lexsort((np.broadcast_to(k, d2.shape), d2), axis=1)
        return pd.Series(list(order[:, :n].astype(np.int32)))

    return cells


def train_ivf_centroids(
    emb: DataFrame,
    k: int = IVF_CELLS,
    lloyd_iters: int = 1,
    exact_fold: bool = False,
) -> list[list[float]]:
    """Coarse quantizer: deterministic seeds (the k lowest vec_ids) plus
    ``lloyd_iters`` distributed k-means steps.

    Each step is two DataFrame passes — assign (argmin over broadcast
    centroids, whole-stage codegen) and re-center (posexplode ->
    groupBy(cell, pos) -> avg) — the classic Spark k-means shape: only
    k x dim floats ever return to the driver. Means are rounded so cell
    assignment is reproducible across partitionings. ``exact_fold``
    switches assignment from the Arrow/numpy kernel to the sequential
    ``_nearest_cells`` expression — same results on this fixture, but
    the fold order is then exactly DuckDB's generate_series sum, which
    is what lets q57 carry a full value-hash oracle.
    """
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(_f64("embedding").alias("v"))
        .collect()
    )
    centroids = [list(r.v) for r in seeds]
    if not centroids:
        # empty corpus -> no quantizer; the caller emits a 0-row frame
        # rather than building argmin expressions over an empty (VOID-
        # typed) centroid array literal
        return []
    wide = emb.select("embedding")
    for _ in range(lloyd_iters):
        cell1 = (
            _nearest_cells(_f64("embedding"), centroids, 1).getItem(0)
            if exact_fold
            else _nearest_cells_np(centroids, 1)("embedding").getItem(0)
        )
        assigned = wide.select(
            _f64("embedding").alias("v"), cell1.alias("cell")
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            # DECIMAL partials (the q113/dsum discipline): float avg is
            # partition-order-dependent at the ulp, and round(6) does
            # not mask a half-boundary flip
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(30,8)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            .collect()
        )
        new = {r.cell: list(r.centroid) for r in means}
        # range over the ACTUAL seed count, not the requested k (a
        # corpus smaller than the cell count seeds fewer centroids;
        # same clamp as lloyd_kmeans)
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def ann_ivf_topk(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOPK,
    cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    exact_fold: bool = False,
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed by nearest centroid,
    queries probe their ``nprobe`` nearest cells, exact cosine ranks the
    candidates.

    Scale: at 100 TB the assignment is computed once at ingest and the
    corpus persisted bucketed/partitioned by cell (partition pruning
    turns a probe into an nprobe/cells fraction scan); here the
    assignment is inline. Candidates shuffle on cell only.
    """
    from pyspark.sql import Window

    centroids = train_ivf_centroids(emb, cells, exact_fold=exact_fold)
    if not centroids:
        # empty corpus: no cells to probe — 0-row contract frame (the
        # oracle's seeds/a1 CTE chain is likewise empty)
        return emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(None).cast("double").alias("cos_sim"),
            F.lit(None).cast("int").alias("rank"),
        ).where(F.lit(False))
    cell1 = (
        _nearest_cells(_f64("embedding"), centroids, 1).getItem(0)
        if exact_fold
        else _nearest_cells_np(centroids, 1)("embedding").getItem(0)
    )
    celln = (
        _nearest_cells(_f64("embedding"), centroids, nprobe)
        if exact_fold
        else _nearest_cells_np(centroids, nprobe)("embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _f64("embedding").alias("cv"),
        cell1.alias("cell"),
    ).withColumn("nc", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        _f64("embedding").alias("qv"),
        F.explode(celln).alias("cell"),
    ).withColumn("nq", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    cand = F.broadcast(queries).join(corpus, "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    # per-vector norms (q41 discipline) — bit-identical, 1/3 the folds
    scored = cand.withColumn(
        "cos_sim",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_IVF_ORACLE = f"""
WITH seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) ORDER BY vec_id LIMIT {IVF_CELLS}
),
a1 AS (
    SELECT e.vec_id, e.embedding,
           (SELECT s.cid FROM seeds s
            ORDER BY {_d2_sql_of("e.embedding", "s.c")} ASC, s.cid ASC
            LIMIT 1) AS cell
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e
),
m1 AS (
    SELECT a1.cell AS cid, g.i AS pos,
           round(CAST(CAST(sum(CAST(a1.embedding[g.i + 1]::DOUBLE
                               AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
                 / count(*), 6) AS m
    FROM a1, generate_series(0, {DIM - 1}) g(i)
    GROUP BY a1.cell, g.i
),
c1 AS (
    SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid
),
cents AS (
    SELECT s.cid, coalesce(c1.c, list_transform(s.c, x -> x::DOUBLE)) AS c
    FROM seeds s LEFT JOIN c1 USING (cid)
),
corpus AS (
    SELECT e.vec_id AS neighbor_id, e.embedding,
           (SELECT t.cid FROM cents t
            ORDER BY {_d2_sql_of("e.embedding", "t.c")} ASC, t.cid ASC
            LIMIT 1) AS cell
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e
),
probes AS (
    SELECT e.vec_id AS query_id, e.embedding, t.cid AS cell,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_d2_sql_of("e.embedding", "t.c")} ASC, t.cid ASC
           ) AS pr
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e CROSS JOIN cents t
    WHERE e.vec_id < {N_QUERIES}
),
cand AS (
    SELECT p.query_id, c.neighbor_id,
           p.embedding AS qe, c.embedding AS ne
    FROM probes p JOIN corpus c ON p.cell = c.cell
    WHERE p.pr <= {IVF_NPROBE} AND c.neighbor_id <> p.query_id
),
scored AS (
    SELECT query_id, neighbor_id,
           round({_cos_sql_of("cand.qe", "cand.ne")}, 6) AS cos_sim
    FROM cand
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
    ) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


@query("q57_ann_ivf_topk", oracle=_IVF_ORACLE)
def q57_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k for the q40 query set, with the
    WHOLE pipeline — deterministic seeds (k lowest vec_ids), one
    DECIMAL-mean Lloyd step, nearest-cell corpus assignment, nprobe
    query expansion, exact cosine re-rank — replayed end to end by the
    DuckDB oracle (upgraded from rows-only; recall vs q40 stays in
    tests/test_similarity.py).

    Parity design: assignment uses ``exact_fold=True`` (the sequential
    ``_nearest_cells`` expression, not the Arrow kernel) so every
    distance is the same left-to-right float64 fold DuckDB's
    generate_series sum performs; both sides round d2 to 9 before
    ranking and break ties on cell id, and the Lloyd means reduce
    under DECIMAL(30,8) then round to 6 — so cell boundaries, not just
    scores, are engine-independent. Remaining knife-edge: a d2 pair
    within an ulp of equality after round(9) — impossible for exact
    halves (odd/2e9 has a 5^9 denominator, unreachable by any binary
    float), so only a genuine cross-engine fold divergence could flip
    it, and ``exact_fold`` removes the one source of that (numpy's
    pairwise summation).
    """
    e = load_vectors(spark, sf_dir)
    return ann_ivf_topk(e, exact_fold=True).orderBy("query_id", "rank")


# ------------------------------------------------- label centroids

@query(
    "q93_label_centroids",
    # ::DOUBLE BEFORE the DECIMAL cast: DuckDB's direct FLOAT->DECIMAL
    # scales in float32 precision (up to ~4e-8 off per value vs the
    # double path Spark takes) — without it the round(6) match holds by
    # margin, not by construction (verified: 556/640 group sums differ
    # between the two cast paths on the sf0.01 fixture). Same one-token
    # discipline as the q57 oracle.
    oracle=f"""
WITH dims AS (
    SELECT label, unnest(range({DIM})) AS dim_id, embedding
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0)
)
SELECT label,
       dim_id,
       round(CAST(CAST(sum(CAST(embedding[dim_id + 1]::DOUBLE AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) / count(*), 6) AS centroid_v
FROM dims
GROUP BY label, dim_id
ORDER BY label, dim_id
""",
)
def q93_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, long form (label, dim_id,
    centroid_v) — the E-step reduction of distributed k-means and the
    class-prototype builder for nearest-centroid classification.

    posexplode + groupBy(label, pos): the shuffle carries (label, dim,
    partial sum) — map-side combine collapses each partition to
    |labels| x dim rows regardless of corpus size, which is what makes
    a centroid pass over 100 TB of vectors one cheap stage. (The same
    shape backs train_ivf_centroids' Lloyd step.)
    """
    e = load_vectors(spark, sf_dir)
    return (
        e.select("label", F.posexplode(_f64("embedding")).alias("dim_id", "v"))
        .groupBy("label", "dim_id")
        # DECIMAL partials (the dsum discipline): a float avg is
        # partition-order-dependent at the ulp, and round(6) cannot
        # mask a half-boundary flip (same fix as train_ivf_centroids)
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(30,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid_v")
        )
        .orderBy("label", "dim_id")
    )


# ------------------------------- int8 scalar quantization (vector codec)

_DEC_E = "DECIMAL(38,24)"  # error terms are ~1e-6; sum exactly, then /dim


@query(
    "q120_int8_quantization",
    oracle=f"""
WITH dims AS (
    SELECT vec_id, unnest(range({DIM})) AS dim_id, embedding FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0)
),
vals AS (
    SELECT vec_id, dim_id, embedding[dim_id + 1]::DOUBLE AS x FROM dims
),
rng AS (
    SELECT dim_id, min(x) AS mn, max(x) AS mx FROM vals GROUP BY dim_id
),
err AS (
    SELECT v.vec_id,
           v.x - (r.mn + coalesce(round(255 * (v.x - r.mn)
                                        / nullif(r.mx - r.mn, 0)), 0)
                  / 255.0 * (r.mx - r.mn)) AS e
    FROM vals v JOIN rng r USING (dim_id)
)
SELECT vec_id,
       round(CAST(sum(CAST(e * e AS {_DEC_E})) AS DOUBLE) / {DIM}, 12)
           AS mse,
       round(max(abs(e)), 9) AS max_abs_err
FROM err
GROUP BY vec_id
ORDER BY vec_id
""",
)
def q120_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding corpus
    with exact reconstruction-error accounting — the 4x storage/IO codec
    every 100 TB vector deployment applies before ANN serving (float32
    -> uint8 codes + per-dim (min, max) scale table).

    Shapes: the scale table is a {DIM}-row aggregate (map-side combine),
    broadcast back; encode/decode is pure per-row arithmetic. The MSE
    sum is decimal-exact so the result is independent of aggregation
    order (float addition is not associative; DECIMAL is) — same
    discipline as the revenue aggregates in relational.py.
    """
    e = load_vectors(spark, sf_dir)
    vals = e.select(
        "vec_id", F.posexplode(_f64("embedding")).alias("dim_id", "x")
    )
    rng = vals.groupBy("dim_id").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    span = F.col("mx") - F.col("mn")
    code = F.coalesce(
        F.round(F.lit(255) * (F.col("x") - F.col("mn")) / F.nullif(span, F.lit(0.0)), 0),
        F.lit(0.0),
    )
    recon = F.col("mn") + code / F.lit(255.0) * span
    err = vals.join(F.broadcast(rng), "dim_id").select(
        "vec_id", (F.col("x") - recon).alias("e")
    )
    return (
        err.groupBy("vec_id")
        .agg(
            F.round(
                F.sum((F.col("e") * F.col("e")).cast(_DEC_E)).cast("double")
                / F.lit(float(DIM)),
                12,
            ).alias("mse"),
            F.round(F.max(F.abs(F.col("e"))), 9).alias("max_abs_err"),
        )
        .orderBy("vec_id")
    )


# ------------------------------------------- metadata-filtered ANN

@query(
    "q145_filtered_ann",
    oracle=f"""
WITH scored AS (
    SELECT a.vec_id AS query_id,
           b.vec_id AS neighbor_id,
           round({_COS_SQL}, 6) AS cos_sim
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) a, (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) b
    WHERE a.vec_id < {N_QUERIES}
      AND b.vec_id <> a.vec_id
      AND b.label % 2 = 0
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
    ) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY query_id, rank
""",
)
def q145_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: top-{TOPK} cosine neighbors
    among corpus vectors satisfying a metadata predicate (label even —
    standing in for any tenant/language/licence filter).

    This is PRE-filtering, the correct side of the vector-search
    pre/post-filter trade: the predicate is applied in the SCAN
    (Catalyst pushes `label % 2 = 0`'s column scan + filter ahead of
    the scoring join), so every scored candidate is eligible and the
    result is exactly k rows whenever k survivors exist. Post-filtering
    (rank first, filter after) silently returns FEWER than k under
    selective predicates — the classic production vector-store bug.
    At IVF/LSH scale the same predicate simply conjoins with the
    cell/bucket equi-join (q42/q57); nothing else changes.
    """
    from pyspark.sql import Window

    e = load_vectors(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _f64("embedding").alias("qv")
    ).withColumn("nq", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = e.where(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("neighbor_id"), _f64("embedding").alias("cv")
    ).withColumn("nc", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    # per-vector norms (q41 discipline) — bit-identical, 1/3 the folds
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "cos_sim",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


_NEG_K = 5


@query(
    "q168_hard_negatives",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS query_label, embedding
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, q.query_label,
           b.vec_id AS neighbor_id, b.label AS neighbor_label,
           round({_cos_sql_of("q.embedding", "b.embedding")}, 6) AS cos_sim
    FROM q, (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) b
    WHERE b.label <> q.query_label
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
    ) AS rank
    FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim, rank
FROM ranked WHERE rank <= {_NEG_K}
ORDER BY query_id, rank
""",
)
def q168_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id < {N_QUERIES}) the top-{_NEG_K} most-similar vectors with a
    DIFFERENT label — near-misses in embedding space, the negatives
    that actually move a contrastive/reranker loss (random negatives
    are trivially separable; these are not).

    Plan: anchors broadcast against one corpus scan with the label-
    mismatch predicate applied IN the join (Catalyst pushes it below
    the cosine), per-anchor window top-k. Same exactness-baseline
    shape as q40; at corpus scale the ANN path (q42/q57 buckets,
    filtered to label <> anchor's) replaces the scan, and this query
    stays as its recall oracle.
    """
    from pyspark.sql import Window

    e = load_vectors(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        _f64("embedding").alias("qv"),
    ).withColumn("nq", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        _f64("embedding").alias("cv"),
    ).withColumn("nc", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    # per-vector norms (q41 discipline) — bit-identical, 1/3 the folds
    scored = c.join(
        F.broadcast(q), F.col("neighbor_label") != F.col("query_label")
    ).withColumn(
        "cos_sim",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _NEG_K)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cos_sim",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


_DECON_EVAL_LO, _DECON_EVAL_HI = 5, 15  # eval-set vectors: 5 <= vec_id < 15
_DECON_TAU = 0.5


@query(
    "q176_semantic_decontam",
    oracle=f"""
WITH ev AS (
    SELECT vec_id AS eval_id, embedding
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0)
    WHERE vec_id >= {_DECON_EVAL_LO} AND vec_id < {_DECON_EVAL_HI}
),
scored AS (
    SELECT b.vec_id, e.eval_id,
           round({_cos_sql_of("e.embedding", "b.embedding")}, 6) AS cos_sim
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) b, ev e
    WHERE b.vec_id < {_DECON_EVAL_LO} OR b.vec_id >= {_DECON_EVAL_HI}
),
best AS (
    SELECT vec_id, eval_id AS best_eval_id, cos_sim AS max_cos,
           row_number() OVER (
               PARTITION BY vec_id ORDER BY cos_sim DESC, eval_id
           ) AS rn
    FROM scored
)
SELECT vec_id, best_eval_id, max_cos,
       max_cos >= {_DECON_TAU} AS contaminated
FROM best WHERE rn = 1
ORDER BY vec_id
""",
)
def q176_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) eval-set decontamination: every
    corpus vector annotated with its nearest eval-set vector, the max
    cosine, and the contaminated verdict (max >= {_DECON_TAU}) — the
    embedding-similarity complement to q95's n-gram decontamination
    (catches paraphrased leakage that exact n-grams miss; the
    filter drops `contaminated` rows before training).

    Plan: the eval set is SMALL by definition — broadcast it against
    one corpus scan, per-vector argmax via window. One shuffle (the
    window repartition by vec_id); at real scale the ANN bucket path
    (q42) pre-filters candidates and this exact pass runs only on
    bucket-mates, same as q114's cluster-then-prune discipline.
    """
    from pyspark.sql import Window

    e = load_vectors(spark, sf_dir)
    in_eval = (F.col("vec_id") >= _DECON_EVAL_LO) & (
        F.col("vec_id") < _DECON_EVAL_HI
    )
    ev = e.where(in_eval).select(
        F.col("vec_id").alias("eval_id"), _f64("embedding").alias("evv")
    ).withColumn("ne", F.sqrt(dot(F.col("evv"), F.col("evv"))))
    corpus = e.where(~in_eval).select(
        "vec_id", _f64("embedding").alias("cv")
    ).withColumn("nc", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    # per-vector norms (q41 discipline) — bit-identical, 1/3 the folds
    scored = corpus.crossJoin(F.broadcast(ev)).withColumn(
        "cos_sim",
        F.round(
            dot(F.col("evv"), F.col("cv")) / (F.col("ne") * F.col("nc")), 6
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("eval_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("eval_id").alias("best_eval_id"),
            F.col("cos_sim").alias("max_cos"),
            (F.col("cos_sim") >= _DECON_TAU).alias("contaminated"),
        )
        .orderBy("vec_id")
    )

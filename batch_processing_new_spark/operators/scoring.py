"""Relevance and model-based scoring over the corpus: BM25 retrieval
and hashed-feature linear-classifier inference.

Two ops every training-data pipeline runs at scale:

- **BM25 top-k** (the Robertson/Sparck-Jones ranking function, Lucene
  variant): retrieval over the corpus for a term query — the engine
  side of hard-negative mining, dedup-candidate retrieval, and
  eval-set construction. Statistics (df, avgdl) are corpus aggregates;
  everything joins back broadcast, so the corpus scans once.
- **Quality-classifier inference** (fastText/logreg shape): hashed
  bag-of-words features dotted with a broadcast weight vector and
  squashed through a sigmoid. The weight vector is the MODEL — tiny
  next to the corpus — so inference is a ZERO-shuffle scan-stage fold,
  the same literal-map trick as q99's LM scoring. Weights here are
  md5-derived (deterministic fake, exactly like the multimodal
  pseudo-codec); a trained model swaps in real floats and nothing else
  changes.

North-Star surface (SURVEY.md §2B text analysis / similarity search;
the reference's product framing stops at per-row LLM enrichment —
retrieval and model scoring are the declared 100 TB extension). Both
queries carry exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.registry import query
from batch_processing_new_spark.functions.text_funcs import (
    hash60,
    hash60_sql,
    tokens,
)
from batch_processing_new_spark.sources.readers import (
    load_table,
    load_vectors,
    pin_before_sort,
)

# ------------------------------------------------------------- BM25

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
#: fixture-vocabulary query terms (the query is an input, not a dial)
BM25_QUERY = ("data", "table", "row")

def _bm25_term_sql(i: int) -> str:
    """SQL twin of one fixed-position BM25 term (see bm25_scored)."""
    return (
        f"ln((s.n_docs - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1)"
        f" * p.tf{i} * ({BM25_K1} + 1)"
        f" / (p.tf{i} + {BM25_K1} * (1 - {BM25_B}"
        f" + {BM25_B} * p.dl / s.avgdl))"
    )


_TFS_SQL = ",\n           ".join(
    f"len(list_filter(string_split(trim(text), ' '), x -> x = '{t}'))"
    f" AS tf{i}"
    for i, t in enumerate(BM25_QUERY)
)
_DFS_SQL = ",\n           ".join(
    f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(BM25_QUERY))
)

#: shared CTE chain producing scored(doc_id, score) — q141's ranking
#: and q151's lexical leg state the identical BM25 pipeline.
_BM25_SCORED_CTE = f"""perdoc AS (
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS dl,
           {_TFS_SQL}
    FROM documents WHERE text IS NOT NULL
),
stats AS (
    SELECT count(*) AS n_docs,
           sum(dl) * 1.0 / count(dl) AS avgdl,
           {_DFS_SQL}
    FROM perdoc
),
scored AS (
    SELECT p.doc_id,
           ({" + ".join(_bm25_term_sql(i) for i in range(len(BM25_QUERY)))})
               AS score
    FROM perdoc p CROSS JOIN stats s
    WHERE {" OR ".join(f"p.tf{i} > 0" for i in range(len(BM25_QUERY)))}
)"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-scored candidates: (doc_id, score), unrounded, one row per
    document containing at least one query term. The Spark twin of
    ``_BM25_SCORED_CTE`` — see q141's docstring for the plan shape.

    The query terms are a small CONSTANT list, so the per-term tf
    counts pivot into fixed columns inside the scan stage (one
    ``size(filter(toks, = term))`` per term) and the score is a single
    fixed-order scalar expression ``term0 + term1 + term2`` over the
    broadcast 1-row stats frame. Two properties follow:

    - ZERO joins and zero per-(doc, term) shuffle. The previous shape
      (explode hits -> groupBy(doc, t) -> broadcast df join ->
      groupBy(doc) float sum) summed each doc's <=3 float terms in
      SHUFFLE-FETCH order: the per-doc term rows live in different
      (doc, t)-hashed partitions, so even a single engine could round
      the last ulp differently run to run — nondeterminism no oracle
      or determinism re-run can reliably catch. The pivoted form
      evaluates the identical fixed-order scalar DAG on both engines:
      bit-identical before any rounding, by construction (the q163
      final-scalar discipline). A zero tf contributes exactly 0.0, so
      absent terms are exact no-ops in the sum.
    - The corpus is tokenized EXACTLY ONCE: one localCheckpoint of the
      per-document projection (doc_id, dl, per-term tfs — O(docs)
      ints, not corpus bytes) feeds both the stats aggregate and the
      score projection; df/avgdl/n_docs are one tiny aggregate
      broadcast back.

    At real query widths (hundreds of terms) the pivot stays viable up
    to codegen expression limits; beyond that the (doc, term) join
    shape returns, with the term sum DECIMAL-quantized for order
    independence.

    NULL-text docs are excluded on BOTH sides (q95 discipline): the
    oracle's perdoc CTE drops them, while an unfiltered Spark side
    would still count them into n_docs (tokens(NULL) is a NULL array,
    not zero rows) and shift every idf."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"))
    q_terms = list(BM25_QUERY)

    def tf_of(term: str) -> Column:
        # NOTE: a plain 1-arg lambda per call — a default-arg closure
        # (lambda x, t=t: ...) has arity 2, which F.filter interprets
        # as the (element, index) form and binds the term to the index
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    per_doc = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(q_terms)],
    ).localCheckpoint()
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # exact mean (long sum / count), not F.avg: Spark's int avg
        # sums in DOUBLE with partition-order noise; DuckDB's is exact
        (F.sum("dl") / F.count("dl")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(
                f"df{i}"
            )
            for i in range(len(q_terms))
        ],
    )

    def term(i: int) -> Column:
        tf = F.col(f"tf{i}")
        dfi = F.col(f"df{i}")
        return (
            F.log((F.col("n_docs") - dfi + 0.5) / (dfi + 0.5) + 1)
            * tf
            * (BM25_K1 + 1)
            / (
                tf
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )

    score = term(0)
    has_hit = F.col("tf0") > 0
    for i in range(1, len(q_terms)):
        score = score + term(i)
        has_hit = has_hit | (F.col(f"tf{i}") > 0)
    return (
        per_doc.where(has_hit)
        .crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"))
    )


@query(
    "q141_bm25_topk",
    oracle=f"""
WITH {_BM25_SCORED_CTE},
ranked AS (
    SELECT doc_id, round(score, 6) AS score,
           row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
    FROM scored
)
SELECT rank, doc_id, score FROM ranked WHERE rank <= {BM25_TOPK}
ORDER BY rank
""",
)
def q141_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-{BM25_TOPK} documents for the query terms
    {BM25_QUERY} under the Lucene BM25 formula (k1={BM25_K1},
    b={BM25_B}).

    Scale shape: scoring is bm25_scored's zero-join in-scan pivot —
    per-term tf columns computed inside the scan stage, df/avgdl/
    n_docs one tiny aggregate broadcast back, no per-(doc, term)
    shuffle anywhere. The final top-k is a TakeOrdered over the
    already-scored candidate set (only docs containing a query term),
    not the corpus. The deterministic cut is (round(score,6) DESC,
    doc_id) so the top-k row SET is engine-independent even under
    float-ordering ties.
    """
    scored = bm25_scored(spark, sf_dir)
    from pyspark.sql import Window

    # global top-k via orderBy().limit() FIRST — Spark executes it as
    # TakeOrdered (each partition contributes its local top-k, driver
    # merges k rows), never a single-partition window over the full
    # candidate set. The rank window then runs over k rows only.
    topk = scored.select(
        "doc_id", F.round("score", 6).alias("score")
    ).orderBy(F.col("score").desc(), "doc_id").limit(BM25_TOPK)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return topk.select(
        F.row_number().over(w).alias("rank"), "doc_id", "score"
    ).orderBy("rank")


# ----------------------------------- hashed linear classifier (logreg)

CLS_DIM = 64     # hashed feature buckets
CLS_BIAS = -2.0  # intercept; negative so the positive class is selective

#: deterministic fake weight for bucket j in [-1, 1):
#:   w_j = first-8-hex-digits(md5('w:' || j)) / 2^32 * 2 - 1
_W_SQL = (
    "(('0x' || substr(md5('w:' || j::VARCHAR), 1, 8))::BIGINT"
    " / 4294967296.0) * 2 - 1"
)


def _weights(spark: SparkSession | None = None) -> list[float]:
    """Driver-side twin of _W_SQL (CLS_DIM floats — the model)."""
    import hashlib

    out = []
    for j in range(CLS_DIM):
        h = hashlib.md5(f"w:{j}".encode()).hexdigest()
        out.append(int(h[:8], 16) / 4294967296.0 * 2 - 1)
    return out


@query(
    "q142_quality_classifier",
    oracle=f"""
WITH w AS (
    SELECT j, {_W_SQL} AS w
    FROM generate_series(0, {CLS_DIM - 1}) g(j)
),
tok AS (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
    FROM documents WHERE text IS NOT NULL
),
feat AS (
    SELECT doc_id, {hash60_sql('t')} % {CLS_DIM} AS j, count(*) AS cnt
    FROM tok GROUP BY doc_id, j
),
dotted AS (
    SELECT f.doc_id, sum(f.cnt * w.w) AS dot
    FROM feat f JOIN w USING (j) GROUP BY f.doc_id
)
SELECT doc_id,
       round(1 / (1 + exp(-({CLS_BIAS} + dot))), 6) AS p_good,
       CASE WHEN 1 / (1 + exp(-({CLS_BIAS} + dot))) > 0.5
            THEN 1 ELSE 0 END                        AS keep
FROM dotted
ORDER BY doc_id
""",
)
def q142_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: hashed bag-of-words features
    (hash60(token) % {CLS_DIM}) dotted with a broadcast weight vector,
    sigmoid, threshold — the fastText/logistic-regression corpus
    filter every modern pretraining pipeline runs after the heuristic
    gates (q24) and before sampling (q98).

    Scale shape: the model is {CLS_DIM} floats, so scoring folds a
    LITERAL bucket->weight map over each document's token array inside
    the scan stage — ZERO shuffle, no join, the q99 pattern. At real
    model sizes (fastText: millions of buckets) the same plan holds
    with the map swapped for a broadcast join against the weight
    table; the threshold/sigmoid never changes.
    """
    p = _cls_p_good(F.col("text"))
    # NULL-text docs excluded identically to the oracle (whose unnest
    # never emits them); an unfiltered scan would add NULL-p rows
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    # pin the scoring fold (q99 pattern): range sampling would run the
    # narrow hash-bucket/sigmoid chain twice
    return pin_before_sort(
        d.select(
            "doc_id",
            F.round(p, 6).alias("p_good"),
            F.when(p > 0.5, 1).otherwise(0).alias("keep"),
        )
    ).orderBy("doc_id")


# ------------------------------------- hybrid retrieval (RRF fusion)

RRF_K = 60        # the standard reciprocal-rank-fusion constant
HYBRID_DEPTH = 50  # per-ranker candidate depth fed into the fusion
HYBRID_TOPK = 20
HYBRID_QVEC = 0    # query vector: the embedding of vec_id 0

# cosine(query a, corpus b) in DuckDB (embeddings are FLOAT[64])
_HY_COS_SQL = """
    (SELECT sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)
     FROM generate_series(1, 64) g(i))
    / (sqrt((SELECT sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)
             FROM generate_series(1, 64) g(i)))
       * sqrt((SELECT sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)
               FROM generate_series(1, 64) g(i))))
"""


@query(
    "q151_hybrid_rrf",
    oracle=f"""
WITH {_BM25_SCORED_CTE},
lex AS (
    SELECT doc_id, round(score, 6) AS score FROM scored
    ORDER BY round(score, 6) DESC, doc_id LIMIT {HYBRID_DEPTH}
),
lexr AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
    FROM lex
),
cos AS (
    SELECT b.vec_id AS doc_id, round({_HY_COS_SQL}, 6) AS cos_sim
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) b, (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) a
    WHERE a.vec_id = {HYBRID_QVEC}
    ORDER BY round({_HY_COS_SQL}, 6) DESC, b.vec_id LIMIT {HYBRID_DEPTH}
),
cosr AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS cos_rank
    FROM cos
),
fused AS (
    SELECT coalesce(l.doc_id, c.doc_id) AS doc_id,
           l.bm25_rank, c.cos_rank,
           round(coalesce(1.0 / ({RRF_K} + l.bm25_rank), 0)
                 + coalesce(1.0 / ({RRF_K} + c.cos_rank), 0), 6) AS rrf_score
    FROM lexr l FULL OUTER JOIN cosr c ON l.doc_id = c.doc_id
),
cut AS (
    SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_TOPK}
)
SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank,
       doc_id, rrf_score, bm25_rank, cos_rank
FROM cut
ORDER BY rank
""",
)
def q151_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
    ranking (q141's pipeline, depth {HYBRID_DEPTH}) and a cosine
    vector ranking against the embedding of vec_id {HYBRID_QVEC}
    (depth {HYBRID_DEPTH}) are fused by rrf = sum 1/({RRF_K}+rank),
    top-{HYBRID_TOPK} returned with both per-ranker ranks exposed
    (NULL when a document appears in only one list). This is the
    standard two-tower retrieval recipe (RRF is rank-only, so no
    score-scale calibration between BM25 and cosine is needed).

    Scale shape: each leg is its own proven plan — BM25's single
    corpus shuffle (see q141) and the ANN broadcast scan (see q40;
    the brute-force leg swaps for q42/q57's bucketed LSH/IVF at
    corpus scale with nothing downstream changing). Both legs cut to
    {HYBRID_DEPTH} rows via TakeOrdered BEFORE the fusion, so the
    full-outer join and re-rank run on 2x{HYBRID_DEPTH} rows — the
    fusion cost is independent of corpus size.
    """
    from pyspark.sql import Window

    from batch_processing_new_spark.operators.similarity import (
        _f64,
        dot,
    )

    # lexical leg: TakeOrdered cut, then rank the k survivors
    lex = (
        bm25_scored(spark, sf_dir)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(HYBRID_DEPTH)
    )
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .alias("bm25_rank"),
    )

    # vector leg: broadcast the 1-row query vector against the corpus;
    # norms per VECTOR, not per pair (the q41 discipline — |q| is a
    # constant and |c| is needed once; bit-identical, 1/3 the folds)
    e = load_vectors(spark, sf_dir)
    qv = e.where(F.col("vec_id") == HYBRID_QVEC).select(
        _f64("embedding").alias("qv")
    ).withColumn("nq", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    cos = (
        e.select(F.col("vec_id").alias("doc_id"), "embedding")
        .select(
            "doc_id",
            _f64("embedding").alias("cv"),
        )
        .withColumn("nc", F.sqrt(dot(F.col("cv"), F.col("cv"))))
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(HYBRID_DEPTH)
    )
    cosr = cos.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), "doc_id"))
        .alias("cos_rank"),
    )

    fused = lexr.join(cosr, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("cos_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    cut = fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(
        HYBRID_TOPK
    )
    return cut.select(
        F.row_number()
        .over(Window.orderBy(F.col("rrf_score").desc(), "doc_id"))
        .alias("rank"),
        "doc_id",
        "rrf_score",
        "bm25_rank",
        "cos_rank",
    ).orderBy("rank")


# ------------------------------------- classifier calibration (q179)

_CAL_LABEL_SQL = "n_chars >= 200"  # proxy "good" label for reliability
_CAL_BUCKETS = 10


def _cls_p_good(text_col: Column) -> Column:
    """q142's classifier probability as a reusable expression."""
    weights = _weights()
    # one typed two-array literal instead of 2 x CLS_DIM F.lit round
    # trips (r12 construction finding); cast pins the key type to the
    # int the create_map form produced, and both forms constant-fold
    # to the identical Literal map
    wmap = F.map_from_arrays(
        F.lit(list(range(len(weights)))).cast("array<int>"),
        F.lit([float(w) for w in weights]),
    )
    dot = F.aggregate(
        F.transform(
            tokens(text_col),
            lambda t: F.element_at(wmap, (hash60(t) % CLS_DIM).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return 1 / (1 + F.exp(-(F.lit(CLS_BIAS) + dot)))


@query(
    "q179_calibration_table",
    oracle=f"""
WITH w AS (
    SELECT j, {_W_SQL} AS w
    FROM generate_series(0, {CLS_DIM - 1}) g(j)
),
tok AS (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
    FROM documents WHERE text IS NOT NULL
),
feat AS (
    SELECT doc_id, {hash60_sql('t')} % {CLS_DIM} AS j, count(*) AS cnt
    FROM tok GROUP BY doc_id, j
),
dotted AS (
    SELECT f.doc_id, sum(f.cnt * w.w) AS dot
    FROM feat f JOIN w USING (j) GROUP BY f.doc_id
),
scored AS (
    SELECT d.doc_id,
           round(1 / (1 + exp(-({CLS_BIAS} + dotted.dot))), 6) AS p,
           CASE WHEN d.{_CAL_LABEL_SQL} THEN 1 ELSE 0 END AS label
    FROM documents d JOIN dotted USING (doc_id)
),
bucketed AS (
    SELECT least(floor(p * {_CAL_BUCKETS}), {_CAL_BUCKETS - 1})::BIGINT
               AS bucket,
           p, label
    FROM scored
)
SELECT bucket,
       count(*)::BIGINT AS n_docs,
       round(CAST(CAST(sum(CAST(p AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) / count(*), 6)
           AS mean_p,
       round(sum(label) / count(*), 6) AS frac_good,
       round(abs(CAST(CAST(sum(CAST(p AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) / count(*)
                 - sum(label) / count(*)), 6) AS gap
FROM bucketed
GROUP BY bucket
ORDER BY bucket
""",
)
def q179_calibration_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table for the q142 quality
    classifier: documents bucketed by predicted probability into
    {_CAL_BUCKETS} deciles; per bucket the mean prediction, the
    empirical rate of the proxy label ({_CAL_LABEL_SQL!r}), and the
    |gap| — the per-bucket term of Expected Calibration Error, the
    standard audit before a classifier's threshold gates a corpus.

    Shapes: scoring is q142's zero-shuffle in-scan fold (the model is
    a broadcast literal map); the only shuffle is the groupBy(bucket)
    over {_CAL_BUCKETS} keys with map-side combine. Probabilities are
    rounded to 6dp BEFORE bucketing/averaging (engine-identical), and
    bucket means reduce under the DECIMAL dsum discipline.
    """
    # NULL-text docs excluded like the oracle (its dotted-join drops
    # them); an unfiltered scan would emit a NULL calibration bucket
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    p = F.round(_cls_p_good(F.col("text")), 6)
    scored = d.select(
        p.alias("p"),
        F.when(F.expr(_CAL_LABEL_SQL), 1).otherwise(0).alias("label"),
    )
    bucketed = scored.withColumn(
        "bucket",
        F.least(
            F.floor(F.col("p") * _CAL_BUCKETS), F.lit(_CAL_BUCKETS - 1)
        ).cast("bigint"),
    )
    dec = "decimal(30,8)"
    mean_p = F.sum(F.col("p").cast(dec)).cast("double") / F.count("*")
    frac = F.sum("label") / F.count("*")
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(mean_p, 6).alias("mean_p"),
            F.round(frac, 6).alias("frac_good"),
            F.round(F.abs(mean_p - frac), 6).alias("gap"),
        )
        .orderBy("bucket")
    )

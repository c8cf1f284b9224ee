"""Corpus-level statistics for training-data curation: cross-document
repeated n-grams and deterministic seeded sampling per source.

Two curation steps the per-document quality stack (text_analysis.py,
q83) cannot express because they aggregate ACROSS documents:

- q146: which exact 5-grams recur across many documents? Within-doc
  repetition (q83) catches degenerate generation; cross-doc repetition
  catches templated boilerplate, licence headers, and SEO spam that
  survive per-document filters — the "most common n-grams" audit every
  published corpus card reports (C4/RefinedWeb style).
- q147: a deterministic, reproducible k-per-source sample for human
  eval / labeling. Seeded hash ranking (not ``rand()``) so the sample
  is stable across runs, partitionings, and engines — the property the
  reference's whole row-id discipline exists for (SURVEY §2A op 11).

North-Star surface: SURVEY.md §2B text analysis / exact dedup rows.
Both queries carry exact DuckDB oracles; everything is JVM expressions
and equi-shuffles — no Python in either path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.functions.text_funcs import tokens
from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import load_table

_N = 5  # n-gram width, matches q83/q95's corpus-hygiene convention
_MIN_DOCS = 2  # report grams seen in at least this many documents
_TOP = 100

_SEED = "42"  # sampling seed, embedded in the hash preimage
_K = 20  # docs kept per source


@query(
    "q146_cross_doc_ngrams",
    oracle=f"""
WITH g AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(len(string_split(trim(text), ' ')) - {_N - 1}),
               i -> array_to_string(
                        list_slice(string_split(trim(text), ' '),
                                   i + 1, i + {_N}), ' ')
           ))) AS gram
    FROM documents
    WHERE len(string_split(trim(text), ' ')) >= {_N}
)
SELECT gram,
       count(*)    AS doc_count,
       min(doc_id) AS sample_doc
FROM g
GROUP BY gram
HAVING count(*) >= {_MIN_DOCS}
ORDER BY doc_count DESC, gram
LIMIT {_TOP}
""",
)
def q146_cross_doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top cross-document repeated 5-grams: for every distinct 5-gram,
    the number of documents containing it (distinct-per-doc, so a gram
    repeated inside one document counts once) and a sample doc_id;
    grams in >= 2 documents, top 100 by document count.

    Scale shape: grams are deduplicated PER DOCUMENT inside the scan
    stage (array_distinct over the in-row gram array — no exchange),
    so the single shuffle is the groupBy(gram) count, and partial
    aggregation collapses hot grams map-side before they travel. The
    final top-100 is a TakeOrdered on the aggregated (gram, count)
    set, never a global sort of the gram universe. At 100 TB the gram
    universe is huge but the shuffle carries one row per distinct
    (doc, gram) — the same cost profile as the q95 decontamination
    join, which is the proven-scalable shape for corpus n-gram work.
    """
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    # distinct in-row grams; short docs (< _N tokens) are dropped up
    # front so Spark's sequence() never sees a negative span (and the
    # oracle's range() agrees: empty list for them).
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - _N),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, _N)),
        )
    )
    exploded = (
        toked.where(F.size(toks) >= _N)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    counted = exploded.groupBy("gram").agg(
        F.count("*").alias("doc_count"),
        F.min("doc_id").alias("sample_doc"),
    )
    return (
        counted.where(F.col("doc_count") >= _MIN_DOCS)
        .orderBy(F.col("doc_count").desc(), "gram")
        .limit(_TOP)
    )


@query(
    "q147_seeded_sample_per_group",
    oracle=f"""
WITH ranked AS (
    SELECT source, doc_id,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5('{_SEED}:' || doc_id), doc_id
           ) AS sample_rank
    FROM documents
)
SELECT source, doc_id, sample_rank
FROM ranked
WHERE sample_rank <= {_K}
ORDER BY source, sample_rank
""",
)
def q147_seeded_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source document sample: rank documents
    within each source by md5(seed || doc_id) and keep the first k.

    Seeded-hash ranking instead of ``rand()`` makes the sample a pure
    function of (seed, doc_id) — rerunning, repartitioning, or porting
    engines reproduces it bit-for-bit (md5 is the engine's portable
    hash, text_funcs.hash60). Scale shape: one shuffle on source; the
    per-group top-k is a window with a rank filter, and Spark pushes
    the k-limit into the sort (TopK per partition) so no group's full
    ranking materializes. Sources are few and large here — if a group
    outgrows a task at 1000x, pre-thin with an approximate hash
    threshold (keep md5 < p where p ~= 2k/|group|) before the exact
    window; the threshold pass is map-only.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    key = F.md5(
        F.concat(F.lit(_SEED + ":"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    return (
        d.select("source", "doc_id")
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= _K)
        .orderBy("source", "sample_rank")
    )


# ----------------------- source-level vocabulary similarity


@query(
    "q161_source_vocab_jaccard",
    oracle="""
WITH vocab AS (
    SELECT DISTINCT source,
           unnest(list_distinct(string_split(trim(text), ' '))) AS term
    FROM documents
),
sizes AS (
    SELECT source, count(*) AS n FROM vocab GROUP BY source
),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
    FROM vocab a JOIN vocab b
      ON a.term = b.term AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, i.n_common,
       sa.n AS vocab_a, sb.n AS vocab_b,
       round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
ORDER BY src_a, src_b
""",
)
def q161_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset diffing: vocabulary Jaccard between every pair of
    sources — the corpus-mix analysis that tells you whether two feeds
    contribute distinct or redundant text before you weight them
    (training_mix.py's token-budget allocator is the consumer).

    Scale shape: the unit of work is the DISTINCT (source, term) set —
    one dedup shuffle from the scan — and the pair counts come from a
    term-keyed self-equi-join of that set: hot terms fan out only
    |sources|^2 pairs, and with single-digit sources the join output
    is bounded by |vocab| x pairs, never all-pairs of documents.
    Source count is small by construction; at many-source scale the
    same query runs per source-bucket or on MinHash signatures of the
    vocabularies (q36's machinery) instead of exact sets.
    """
    d = load_table(spark, sf_dir, "documents")
    from batch_processing_new_spark.functions.text_funcs import distinct_tokens

    vocab = (
        d.select("source", F.explode(distinct_tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "term")
    b = vocab.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, ["term"])
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("sa_s"), F.col("n").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("sb_s"), F.col("n").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), F.col("src_a") == F.col("sa_s"))
        .join(F.broadcast(sb), F.col("src_b") == F.col("sb_s"))
        .select(
            "src_a",
            "src_b",
            "n_common",
            "vocab_a",
            "vocab_b",
            F.round(
                F.col("n_common")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ------------------- two-sample KS distance between sources


_KS_A = "'src0'"
_KS_B = "'src1'"


@query(
    "q162_ks_statistic",
    oracle=f"""
WITH pts AS (
    SELECT n_chars AS x,
           CASE WHEN source = {_KS_A} THEN 1 ELSE 0 END AS is_a
    FROM documents WHERE source IN ({_KS_A}, {_KS_B})
),
tot AS (
    SELECT sum(is_a) AS na, sum(1 - is_a) AS nb FROM pts
),
cdf AS (
    SELECT x,
           sum(sum(is_a)) OVER (ORDER BY x) AS ca,
           sum(sum(1 - is_a)) OVER (ORDER BY x) AS cb
    FROM pts GROUP BY x
)
SELECT round(max(abs(ca * 1.0 / tot.na - cb * 1.0 / tot.nb)), 6) AS ks_d,
       CAST(tot.na AS BIGINT) AS n_a, CAST(tot.nb AS BIGINT) AS n_b
FROM cdf, tot
GROUP BY tot.na, tot.nb
""",
)
def q162_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the document-
    length distributions of two sources: D = max over x of
    |CDF_a(x) - CDF_b(x)| — the standard drift/shift test between two
    corpus slices (complements q94's quantile drift and q157's
    jackknife error bars in the distribution-audit toolkit).

    Scale shape: group by the VALUE first (one partial-agg shuffle to
    |distinct x| rows carrying two counts), then a single running-sum
    window over that compacted set. The window is unpartitioned by
    nature (a CDF is a global order) but runs over distinct values,
    not rows — for real-valued x at 100 TB, bucket x to a fine grid
    first (the D statistic is then exact on grid edges), keeping the
    windowed set bounded.
    """
    from pyspark.sql import Window

    ka, kb = _KS_A.strip("'"), _KS_B.strip("'")
    d = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin(ka, kb)
    )
    pts = d.select(
        F.col("n_chars").alias("x"),
        F.when(F.col("source") == ka, 1).otherwise(0).alias("is_a"),
    )
    per_x = pts.groupBy("x").agg(
        F.sum("is_a").alias("da"), F.sum(1 - F.col("is_a")).alias("db")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cdf = per_x.select(
        F.sum("da").over(w).alias("ca"), F.sum("db").over(w).alias("cb")
    )
    tot = pts.agg(
        F.sum("is_a").alias("n_a"), F.sum(1 - F.col("is_a")).alias("n_b")
    )
    return (
        cdf.crossJoin(F.broadcast(tot))
        # grouped (not global) agg, mirroring the oracle's GROUP BY
        # tot.na, tot.nb: on an empty corpus both sides then emit ZERO
        # rows instead of Spark fabricating one all-NULL global-agg row
        .groupBy("n_a", "n_b")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        # nullif: with only ONE source present (e.g. a
                        # 1-row relation) the other side's count is 0
                        # — the D statistic is undefined, NULL in
                        # DuckDB, an ANSI raise in Spark unguarded
                        F.col("ca") / F.nullif(F.col("n_a"), F.lit(0))
                        - F.col("cb") / F.nullif(F.col("n_b"), F.lit(0))
                    )
                ),
                6,
            ).alias("ks_d"),
        )
        .select("ks_d", "n_a", "n_b")
    )


@query(
    "q164_source_lang_pmi",
    oracle="""
WITH cells AS (
    SELECT source, lang, count(*) AS n_xy FROM documents GROUP BY source, lang
),
mx AS (SELECT source, sum(n_xy) AS n_x FROM cells GROUP BY source),
my AS (SELECT lang,   sum(n_xy) AS n_y FROM cells GROUP BY lang),
tot AS (SELECT sum(n_xy) AS n FROM cells)
SELECT c.source, c.lang, c.n_xy::BIGINT AS n_xy,
       mx.n_x::BIGINT AS n_x, my.n_y::BIGINT AS n_y,
       round(ln(c.n_xy::DOUBLE * t.n / (mx.n_x::DOUBLE * my.n_y)), 6) AS pmi,
       round(ln(c.n_xy::DOUBLE * t.n / (mx.n_x::DOUBLE * my.n_y))
             / -ln(c.n_xy::DOUBLE / t.n), 6) AS npmi
FROM cells c
JOIN mx USING (source)
JOIN my USING (lang)
CROSS JOIN tot t
ORDER BY c.source, c.lang
""",
)
def q164_source_lang_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between the source and lang
    attributes: for every observed (source, lang) cell its joint count,
    both marginals, PMI = ln(p(x,y) / (p(x) p(y))), and normalized PMI
    (npmi in [-1, 1]) — the association audit for "does this source
    skew toward a language?" that drives per-(source, lang) mix
    decisions; the identical shape computes word-association PMI over
    (word, context) pairs for phrase mining.

    Shapes: one groupBy(source, lang) over the scan [the only
    data-scale shuffle; map-side combine collapses to |cells| rows],
    then marginals re-aggregate the CELL table (tiny) — the raw table
    is scanned ONCE. Marginal/total joins run on the cell table and
    are broadcast at any scale (|sources| x |langs| rows). All floats
    derive from exact integer counts via scalar expressions, so both
    engines produce bit-identical doubles.
    """
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count("*").alias("n_xy"))
    cells = cells.localCheckpoint(eager=False)  # 3 consumers, 1 scan
    mx = cells.groupBy("source").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("lang").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").alias("n"))
    # operands cast to double BEFORE multiplying: long*long silently
    # wraps in Spark at data scale, and an IEEE product of exact
    # operands equals the rounded exact integer product on both engines
    pmi = F.log(
        F.col("n_xy").cast("double")
        * F.col("n")
        / (F.col("n_x").cast("double") * F.col("n_y"))
    )
    return (
        cells.join(F.broadcast(mx), "source")
        .join(F.broadcast(my), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_xy",
            "n_x",
            "n_y",
            F.round(pmi, 6).alias("pmi"),
            F.round(
                # nullif: a cell holding the ENTIRE corpus (n_xy == n,
                # e.g. a 1-row relation) has -ln(p) = 0 — npmi is
                # undefined, NULL in DuckDB, an ANSI raise in Spark
                pmi
                / F.nullif(
                    -F.log(F.col("n_xy").cast("double") / F.col("n")),
                    F.lit(0.0),
                ),
                6,
            ).alias("npmi"),
        )
        .orderBy("source", "lang")
    )


_TREND_HALF_LIFE_DECAY = 0.5  # per-day decay factor (half-life = 1 day)
_TREND_TOP = 20
#: decay horizon in days: activity older than this scores 0 (weight
#: would be 2^-40 ~ 9e-13 — invisible on a trending board). The clamp
#: is what keeps the score an EXACT integer multiple of 2^-40 at any
#: scale: without it, a term 2^-age with age beyond ~45 days next to a
#: count of thousands exceeds the 52-bit mantissa and the float sum
#: silently becomes partition-order-dependent again (the TESTDATA.md
#: rule-8 class — the fixture's 29-day span masked it).
_TREND_HORIZON = 40


@query(
    "q187_decayed_trending",
    oracle=f"""
WITH daily AS (
    SELECT CASE WHEN json_valid(props)
                THEN json_extract(props, '$.k')::BIGINT END AS item,
           date_trunc('day', ts)::DATE AS day,
           count(*)::BIGINT AS n
    FROM events
    GROUP BY item, day
),
anchor AS (SELECT max(day) AS last_day FROM daily),
scored AS (
    SELECT d.item,
           CAST(sum(CASE WHEN date_diff('day', d.day, a.last_day)
                              <= {_TREND_HORIZON}
                    THEN d.n::DECIMAL(38,0)
                         * CAST(power(2.0, {_TREND_HORIZON}
                                  - date_diff('day', d.day, a.last_day))
                                AS DECIMAL(38,0))
                    ELSE 0::DECIMAL(38,0) END) AS DOUBLE)
           / {float(2.0 ** _TREND_HORIZON)!r} AS score,
           sum(d.n)::BIGINT AS total_n
    FROM daily d CROSS JOIN anchor a
    GROUP BY d.item
)
SELECT item, score, total_n
FROM scored
ORDER BY score DESC, item
LIMIT {_TREND_TOP}
""",
)
def q187_decayed_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed trending items (half-life one day,
    horizon {_TREND_HORIZON} days): each item's daily event counts
    weighted by 0.5^age and summed — recent activity dominates,
    history fades, activity past the horizon scores 0; the top
    {_TREND_TOP} by decayed score. The recency-weighted popularity
    shape behind trending dashboards and freshness-aware sampling.

    Determinism note: the weights are powers of two, so the score is
    accumulated as an EXACT integer — each cell contributes
    n * 2^(H - age) (a DECIMAL(38,0) integer; power(2.0, k) is an
    exact double for k in [0, {_TREND_HORIZON}] and its DECIMAL cast
    is exact), the sum is order-independent by construction, and the
    single float rounding is the final cast-to-double / 2^H scaling —
    one correctly-rounded conversion of an exact integer, identical
    on every engine build. The horizon clamp is load-bearing: an
    UNCLAMPED dyadic sum is only exact while the age spread stays
    under the 52-bit mantissa (~45 days next to thousand-scale
    counts), beyond which partition-order noise returns — the
    TESTDATA.md rule-8 class. The score ships UNROUNDED (round(·, 6)
    of a dyadic sits exactly on the half-way boundary whose convention
    differs across engine versions — the r02 q83 failure class).
    Malformed props rows are guarded on BOTH sides (Spark's
    get_json_object NULLs them; the oracle gates json_extract behind
    json_valid the way q173 does).

    Shapes: events collapse to the (item, day) grid (the only
    data-scale shuffle); the 1-row anchor day broadcasts back; the
    per-item aggregate runs on the grid.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.count("*").alias("n"))
    daily = daily.localCheckpoint(eager=False)
    anchor = daily.agg(F.max("day").alias("last_day"))
    age = F.datediff(F.col("last_day"), F.col("day"))
    dec0 = "decimal(38,0)"
    scaled_term = F.when(
        age <= _TREND_HORIZON,
        F.col("n").cast(dec0)
        * F.pow(F.lit(2.0), _TREND_HORIZON - age).cast(dec0),
    ).otherwise(F.lit(0).cast(dec0))
    scored = (
        daily.crossJoin(F.broadcast(anchor))
        .groupBy("item")
        .agg(
            (
                F.sum(scaled_term).cast("double")
                / F.lit(float(2.0 ** _TREND_HORIZON))
            ).alias("score"),
            F.sum("n").alias("total_n"),
        )
    )
    return (
        scored.select("item", "score", "total_n")
        .orderBy(F.col("score").desc(), "item")
        .limit(_TREND_TOP)
    )


@query(
    "q188_chi_square_independence",
    oracle="""
WITH cells AS (
    SELECT source, lang, count(*)::BIGINT AS n_xy
    FROM documents GROUP BY source, lang
),
mx AS (SELECT source, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY source),
my AS (SELECT lang,   sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY lang),
tot AS (SELECT sum(n_xy)::BIGINT AS n FROM cells),
grid AS (
    SELECT mx.source, my.lang, mx.n_x, my.n_y, t.n,
           coalesce(c.n_xy, 0) AS n_xy,
           mx.n_x::DOUBLE * my.n_y / t.n AS expected
    FROM mx CROSS JOIN my CROSS JOIN tot t
    LEFT JOIN cells c ON c.source = mx.source AND c.lang = my.lang
),
terms AS (
    SELECT CAST(round((n_xy - expected) * (n_xy - expected) / expected, 9)
                AS DECIMAL(30,9)) AS term
    FROM grid
),
stat AS (
    SELECT CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS chi2,
           (SELECT (count(*) - 1) FROM mx)
           * (SELECT (count(*) - 1) FROM my) AS dof
    FROM terms
)
SELECT round(chi2, 6) AS chi2, dof::BIGINT AS dof,
       round(sqrt(chi2 / ((SELECT n FROM tot)
             * least((SELECT count(*) - 1 FROM mx),
                     (SELECT count(*) - 1 FROM my)))), 6) AS cramers_v
FROM stat
""",
)
def q188_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for the source x lang
    contingency table, with degrees of freedom and Cramer's V effect
    size — the hypothesis-test companion to q164's PMI table ("is the
    source-language association real or noise?"), and the standard
    gate before per-(source, lang) mix corrections.

    Zero-count cells are filled in (the full |sources| x |langs| grid
    via the marginals' cross join — broadcast-size at any corpus
    scale); per-cell terms are rounded then DECIMAL-summed so the
    statistic is partition-order-independent. One data-scale shuffle:
    the cell-grid groupBy.
    """
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count("*").alias("n_xy"))
    cells = cells.localCheckpoint(eager=False)
    mx = cells.groupBy("source").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("lang").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").alias("n"))
    grid = (
        mx.crossJoin(my)
        .crossJoin(F.broadcast(tot))
        .join(cells, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            "n_x",
            "n_y",
            "n",
            F.coalesce(F.col("n_xy"), F.lit(0)).alias("n_xy"),
            (
                F.col("n_x").cast("double") * F.col("n_y") / F.col("n")
            ).alias("expected"),
        )
    )
    term = F.round(
        (F.col("n_xy") - F.col("expected"))
        * (F.col("n_xy") - F.col("expected"))
        / F.col("expected"),
        9,
    ).cast("decimal(30,9)")
    n_src = mx.count()
    n_lang = my.count()
    stat = grid.agg(F.sum(term).cast("double").alias("chi2"))
    return stat.crossJoin(F.broadcast(tot)).select(
        F.round("chi2", 6).alias("chi2"),
        F.lit((n_src - 1) * (n_lang - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2")
                # nullif: a 1x1 contingency table (single source or
                # single lang) has min(r-1, c-1) = 0 — Cramer's V is
                # undefined, NULL in DuckDB, an ANSI raise in Spark
                / F.nullif(
                    F.col("n") * min(n_src - 1, n_lang - 1), F.lit(0)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q189_concentration_audit",
    oracle="""
WITH per_source AS (
    SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source
),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS k FROM per_source),
ranked AS (
    SELECT n, row_number() OVER (ORDER BY n, source) AS i
    FROM per_source
),
gini AS (
    SELECT sum((2 * r.i - t.k - 1) * r.n) * 1.0 / (t.k * t.total) AS g
    FROM ranked r CROSS JOIN tot t
    GROUP BY t.k, t.total
),
hhi AS (
    SELECT sum((p.n * 1.0 / t.total) * (p.n * 1.0 / t.total)) AS h
    FROM per_source p CROSS JOIN tot t GROUP BY t.total
),
ent AS (
    SELECT -sum((p.n * 1.0 / t.total) * ln(p.n * 1.0 / t.total)) AS e,
           any_value(t.k) AS k
    FROM per_source p CROSS JOIN tot t GROUP BY t.total
)
SELECT round(g.g, 6) + 0.0 AS gini,
       round(h.h, 6) AS hhi,
       -- + 0.0 canonicalizes IEEE negative zero: a single-source
       -- corpus has e = -(1 * ln 1) = -0.0, which renders "-0" vs
       -- Spark's "0" in the driver's %.9g hash
       round(e.e, 6) + 0.0 AS shannon_entropy,
       round(e.e / ln(e.k), 6) AS evenness
FROM gini g, hhi h, ent e
""",
)
def q189_concentration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration audit over source contributions: Gini
    coefficient (sorted-rank formula), Herfindahl-Hirschman index,
    Shannon entropy, and Pielou evenness — one row answering "is this
    corpus dominated by a few sources?", the diversity report every
    corpus card publishes and the trigger for q177/q186 rebalancing.

    The Gini rank formula needs a total order over sources — computed
    on the |sources|-row aggregate (single-partition window on ~20
    rows, NOT on data). All four statistics are scalar functions of
    exact integer counts; the few-term float sums run over the tiny
    source table in deterministic single-partition order.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count("*").alias("n"))
    per_source = per_source.coalesce(1).localCheckpoint(eager=False)
    tot = per_source.agg(
        F.sum("n").alias("total"), F.count("*").alias("k")
    )
    ranked = per_source.withColumn(
        "i", F.row_number().over(Window.orderBy("n", "source"))
    )
    joined = ranked.crossJoin(F.broadcast(tot))
    p = F.col("n") / F.col("total")
    # grouped (not global) agg, mirroring the oracle's GROUP BY t.k,
    # t.total: on an empty corpus both sides then emit ZERO rows
    # instead of Spark fabricating one all-NULL global-agg row
    agg = (
        joined.groupBy("k", "total")
        .agg(
            F.sum((2 * F.col("i") - F.col("k") - 1) * F.col("n")).alias(
                "gnum"
            ),
            F.sum(p * p).alias("hhi"),
            (-F.sum(p * F.log(p))).alias("shannon_entropy"),
        )
        .select(
            (F.col("gnum") / (F.col("k") * F.col("total"))).alias("gini"),
            "hhi",
            "shannon_entropy",
            "k",
        )
    )
    return agg.select(
        # + 0.0 mirrors the oracle's negative-zero canonicalization
        (F.round("gini", 6) + F.lit(0.0)).alias("gini"),
        F.round("hhi", 6).alias("hhi"),
        (F.round("shannon_entropy", 6) + F.lit(0.0)).alias(
            "shannon_entropy"
        ),
        F.round(
            # nullif: a single-source corpus has ln(k) = ln(1) = 0 —
            # Pielou evenness is undefined, NULL in DuckDB, an ANSI
            # raise in Spark without the guard
            F.col("shannon_entropy")
            / F.nullif(F.log(F.col("k").cast("double")), F.lit(0.0)),
            6,
        ).alias("evenness"),
    )

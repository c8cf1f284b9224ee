"""Model-evaluation analytics: the measurement half of the quality
loop. The engine already TRAINS and APPLIES cheap models (q142
classifier, q25 lang-ID, q179 calibration); these queries produce the
evaluation artifacts a data team actually reviews before trusting a
gate:

- q192: confusion matrix + accuracy + Cohen's kappa between two
  labelers (here: the q25 heuristic vs the labeled lang column — the
  inter-annotator-agreement shape, also used for model-vs-model drift);
- q193: precision / recall / F1 / support for the q142 classifier
  against its proxy label — the PR readout q179's calibration table
  complements;
- q194: Wilson 95% confidence intervals for per-source quality rates —
  the closed-form binomial CI (no bootstrap randomness), which is what
  makes small-source rates comparable to large-source ones.

All three reduce to exact integer counts followed by deterministic
scalar math — the q163/q157 final-scalar discipline — so every value
hash-matches across engines. One data-scale shuffle each (the
label-pair / prediction / per-source aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import load_table

# the q25 heuristic restated (shared contract, see text_analysis.q25)
_PRED_SQL = """
    CASE WHEN len(list_filter(string_split(trim(text), ' '),
                              x -> x IN ('the', 'a', 'of'))) * 1.0
              / len(string_split(trim(text), ' ')) >= 0.08 THEN 'en'
         WHEN len(list_filter(string_split(trim(text), ' '),
                              x -> x IN ('data', 'table', 'row'))) * 1.0
              / len(string_split(trim(text), ' ')) >= 0.10 THEN 'data-ish'
         ELSE 'unknown' END
"""


def _pred_col() -> F.Column:
    from batch_processing_new_spark.functions.text_funcs import tokens

    toks = tokens(F.col("text"))
    en = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of")))
    da = F.size(F.filter(toks, lambda x: x.isin("data", "table", "row")))
    n = F.size(toks)
    return (
        F.when(en / n >= 0.08, F.lit("en"))
        .when(da / n >= 0.10, F.lit("data-ish"))
        .otherwise(F.lit("unknown"))
    )


@query(
    "q192_annotator_agreement",
    oracle=f"""
WITH pairs AS (
    SELECT lang AS label, {_PRED_SQL} AS pred FROM documents
),
cells AS (
    SELECT label, pred, count(*)::BIGINT AS n FROM pairs GROUP BY label, pred
),
tot AS (
    SELECT sum(n)::BIGINT AS total,
           sum(CASE WHEN label = pred THEN n ELSE 0 END)::BIGINT AS agree
    FROM cells
),
chance AS (
    -- marginal products summed EXACTLY (DECIMAL(38,0)): as doubles
    -- they are exact only below 2^53, i.e. ~1e8 rows per class —
    -- beyond that the tiny sum turns partition-order-dependent
    -- (TESTDATA.md rule 8); one double conversion at the end
    SELECT CAST(sum(lm.ln::DECIMAL(38,0) * pm.pn) AS DOUBLE)
           / (t.total::DOUBLE * t.total) AS pe
    FROM (SELECT label AS c, sum(n) AS ln FROM cells GROUP BY label) lm
    JOIN (SELECT pred AS c, sum(n) AS pn FROM cells GROUP BY pred) pm
      USING (c)
    CROSS JOIN tot t
    GROUP BY t.total
)
SELECT c.label, c.pred, c.n,
       round(t.agree * 1.0 / t.total, 6) AS accuracy,
       round((t.agree * 1.0 / t.total - ch.pe) / (1 - ch.pe), 6) AS kappa
FROM cells c CROSS JOIN tot t CROSS JOIN chance ch
ORDER BY c.label, c.pred
""",
)
def q192_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the q25 lang-ID heuristic and the
    labeled lang, with overall accuracy and Cohen's kappa on every row
    — the inter-annotator-agreement report (two deterministic labelers
    here; the same query compares model generations to gold labels or
    yesterday's model to today's).

    Kappa corrects agreement for chance: pe = sum over classes of
    marginal-product probabilities. The marginal join runs on the
    |classes|^2 cell table; the only data-scale work is the one
    groupBy(label, pred). All floats derive from exact counts.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        F.col("lang").alias("label"), _pred_col().alias("pred")
    )
    cells = pairs.groupBy("label", "pred").agg(F.count("*").alias("n"))
    cells = cells.localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("label") == F.col("pred"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    lm = cells.groupBy(F.col("label").alias("c")).agg(F.sum("n").alias("ln"))
    pm = cells.groupBy(F.col("pred").alias("c")).agg(F.sum("n").alias("pn"))
    chance = (
        lm.join(pm, "c")
        .crossJoin(F.broadcast(tot))
        # grouped (not global) agg, mirroring the oracle's GROUP BY
        # t.total: when the label and pred marginals share no class
        # (possible on a 1-row relation) both sides emit ZERO rows
        # instead of Spark fabricating one all-NULL global-agg row
        .groupBy("total")
        .agg(
            # exact DECIMAL product sum (rule 8): the double
            # products are only exact below 2^53 per cell
            F.sum(F.col("ln").cast("decimal(38,0)") * F.col("pn"))
            .cast("double")
            .alias("pe_num")
        )
        .select(
            (
                F.col("pe_num")
                / (F.col("total").cast("double") * F.col("total"))
            ).alias("pe")
        )
    )
    acc = F.col("agree") / F.col("total")
    return (
        cells.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(chance))
        .select(
            "label",
            "pred",
            "n",
            F.round(acc, 6).alias("accuracy"),
            # nullif: pe = 1 (all mass in one agreeing cell) makes
            # kappa 0/0 — NULL in DuckDB, an ANSI raise in Spark
            F.round(
                (acc - F.col("pe"))
                / F.nullif(1 - F.col("pe"), F.lit(0.0)),
                6,
            ).alias("kappa"),
        )
        .orderBy("label", "pred")
    )


_PR_LABEL_SQL = "n_chars >= 200"  # q179's proxy label


@query(
    "q193_precision_recall",
    oracle=f"""
WITH w AS (
    SELECT j, (('0x' || substr(md5('w:' || j::VARCHAR), 1, 8))::BIGINT
               / 4294967296.0) * 2 - 1 AS w
    FROM generate_series(0, 63) g(j)
),
tok AS (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
    FROM documents WHERE text IS NOT NULL
),
feat AS (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS j,
           count(*) AS cnt
    FROM tok GROUP BY doc_id, j
),
dotted AS (
    SELECT f.doc_id, sum(f.cnt * w.w) AS dot
    FROM feat f JOIN w USING (j) GROUP BY f.doc_id
),
judged AS (
    SELECT CASE WHEN 1 / (1 + exp(-(-2.0 + dotted.dot))) > 0.5
                THEN 1 ELSE 0 END AS pred,
           CASE WHEN d.{_PR_LABEL_SQL} THEN 1 ELSE 0 END AS label
    FROM documents d JOIN dotted USING (doc_id)
),
counts AS (
    SELECT sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
           sum(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
    FROM judged
)
SELECT tp, fp, fn, tn,
       round(tp * 1.0 / (tp + fp), 6) AS precision,
       round(tp * 1.0 / (tp + fn), 6) AS recall,
       round(2.0 * tp / (2 * tp + fp + fn), 6) AS f1,
       round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy
FROM counts
""",
)
def q193_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 / accuracy of the q142 quality
    classifier against its proxy label ({_PR_LABEL_SQL!r}) — the PR
    readout that, with q179's calibration table, completes the
    classifier-evaluation pair every gated corpus publishes.

    Scoring is q142's zero-shuffle in-scan fold (shared expression
    _cls_p_good); the confusion counts collapse in ONE single-row
    conditional aggregate, and the metrics are exact-integer ratios.
    """
    from batch_processing_new_spark.operators.scoring import _cls_p_good

    # NULL-text docs excluded like the oracle (its dotted-join drops
    # them); unfiltered they'd score pred=0 and inflate tn
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    judged = d.select(
        F.when(_cls_p_good(F.col("text")) > 0.5, 1).otherwise(0).alias("pred"),
        F.when(F.expr(_PR_LABEL_SQL), 1).otherwise(0).alias("label"),
    )
    c = judged.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 0), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        # nullif every confusion-count denominator: a degenerate
        # relation can empty any of them (no predicted positives ->
        # precision 0/0, no actual positives -> recall 0/0) — NULL in
        # DuckDB, an ANSI DIVIDE_BY_ZERO raise in Spark unguarded
        F.round(tp / F.nullif(tp + fp, F.lit(0)), 6).alias("precision"),
        F.round(tp / F.nullif(tp + fn, F.lit(0)), 6).alias("recall"),
        F.round(
            2.0 * tp / F.nullif(2 * tp + fp + fn, F.lit(0)), 6
        ).alias("f1"),
        F.round(
            (tp + tn) / F.nullif(tp + fp + fn + tn, F.lit(0)), 6
        ).alias("accuracy"),
    )


_WILSON_Z = 1.959963985  # 95% two-sided


@query(
    "q194_wilson_intervals",
    oracle=f"""
WITH per_source AS (
    SELECT source,
           count(*)::BIGINT AS n,
           sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)::BIGINT AS k
    FROM documents GROUP BY source
)
SELECT source, n, k,
       round(k * 1.0 / n, 6) AS rate,
       round((k * 1.0 / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
              - {_WILSON_Z} * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                   + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
             / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_lo,
       round((k * 1.0 / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
              + {_WILSON_Z} * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                   + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
             / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_hi
FROM per_source
ORDER BY source
""",
)
def q194_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for each source's quality rate
    (fraction of docs with n_chars >= 200): the closed-form binomial
    CI — no bootstrap randomness, well-behaved at extreme rates and
    small n, which is exactly what makes a 40-doc source's rate
    comparable to a 4M-doc source's on one dashboard.

    One groupBy(source) over the scan; the interval is deterministic
    scalar math on two exact integers per row.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("n_chars") >= 200, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k") / F.col("n")
    z = _WILSON_Z
    half = z * F.sqrt(p * (1 - p) / F.col("n") + z * z / (4.0 * F.col("n") * F.col("n")))
    center = p + z * z / (2 * F.col("n"))
    denom = 1 + z * z / F.col("n")
    return per_source.select(
        "source",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    ).orderBy("source")

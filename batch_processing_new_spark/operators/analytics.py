"""Behavioral / data-quality analytics: funnel, retention cohorts,
robust outliers, corpus token frequencies, duplicate-n-gram quality,
PII scrubbing.

North-Star surface (SURVEY.md §2B: aggregation/window/text families) —
the reporting queries a team runs over enrichment output and the
hygiene passes a training-data pipeline runs over a raw corpus. All
JVM-side built-ins (no Python in the hot path); every query carries an
exact DuckDB oracle.

Scale notes: the funnel and retention queries shuffle on ``user_id``
twice (per-user reduction, then fact re-join); both stages share that
key so AQE coalesces into co-partitioned exchanges. The corpus queries
(q82/q83) explode tokens/n-grams — at 100 TB the explode output is the
dominant shuffle, so partial aggregation (map-side combine, free with
``groupBy().count()``) is what keeps them tractable; nothing here
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.functions.text_funcs import tokens
from batch_processing_new_spark.functions.timekit import (
    day_from_index,
    day_index,
    day_ntz,
    epoch_micros,
    epoch_seconds,
)
from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import (
    fan_out,
    load_table,
    pin_before_sort,
)


# ------------------------------------------------------- funnel

@query(
    "q79_funnel",
    oracle="""
WITH e AS (
    SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
v AS (
    SELECT user_id, min(ts) AS view_ts
    FROM e WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS click_ts
    FROM e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.view_ts
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS purchase_ts
    FROM e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
    GROUP BY e.user_id
)
SELECT stage, n_users FROM (
    SELECT '1_view' AS stage, count(*) AS n_users FROM v
    UNION ALL
    SELECT '2_click_after_view', count(*) FROM c
    UNION ALL
    SELECT '3_purchase_after_click', count(*) FROM p
) ORDER BY stage
""",
)
def q79_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase.

    Each stage requires an event strictly after the user's first event
    of the previous stage (not mere per-type existence). Reference has
    no analytics surface (SURVEY.md §2B evidence: BASELINE.json North
    Star); this is the canonical event-analytics query over the
    ``events`` fixture. Three shuffles, all keyed on ``user_id`` —
    co-partitioned, so AQE reuses the exchange layout.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )

    def stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(label).alias("stage"), "n_users"
        )

    return (
        stage(v, "1_view")
        .unionByName(stage(c, "2_click_after_view"))
        .unionByName(stage(p, "3_purchase_after_click"))
        .orderBy("stage")
    )


# ------------------------------------------------- retention cohorts

@query(
    "q80_retention",
    oracle="""
WITH e AS (
    SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
),
cohort AS (
    SELECT user_id, min(d) AS first_d FROM e GROUP BY user_id
)
SELECT
    CAST(date_trunc('week', cohort.first_d) AS TIMESTAMP)  AS cohort_week,
    CAST(date_diff('day', date_trunc('week', cohort.first_d),
                   date_trunc('week', e.d)) / 7 AS INTEGER) AS week_offset,
    count(DISTINCT e.user_id)                              AS n_active
FROM e JOIN cohort ON e.user_id = cohort.user_id
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
""",
)
def q80_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted distinct in each subsequent week.

    Spark and DuckDB both start ISO weeks on Monday, so
    ``date_trunc('week', …)`` is portable. Two shuffles on ``user_id``
    (cohort reduction + fact re-join), then one on the small
    (cohort_week, week_offset) grid.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        e.join(cohort, "user_id")
        .select(
            F.date_trunc("week", "first_d").alias("cohort_week"),
            (
                F.datediff(
                    F.date_trunc("week", "d"), F.date_trunc("week", "first_d")
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ------------------------------------------------- robust outliers

_MAD_ORACLE = """
WITH c AS (
    -- NULL values excluded on BOTH sides: a NULL cent bucket would sit
    -- at a different end of each engine's window ORDER BY (DuckDB
    -- defaults NULLS LAST, Spark NULLS FIRST), shifting every
    -- cumulative rank and therefore both medians (tools/dtype_audit.py
    -- era finding, reproduced with a 10%-NULL fixture)
    SELECT event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events WHERE value IS NOT NULL
),
h AS (
    SELECT event_type, c, count(*) AS k FROM c GROUP BY event_type, c
),
h2 AS (
    SELECT event_type, c, k,
           sum(k) OVER (PARTITION BY event_type ORDER BY c) AS cum
    FROM h
),
n AS (
    SELECT event_type, sum(k) AS n FROM h GROUP BY event_type
),
med AS (
    SELECT h2.event_type,
           sum(h2.c * (CASE WHEN h2.cum - h2.k < (n.n + 1) // 2
                             AND (n.n + 1) // 2 <= h2.cum THEN 1 ELSE 0 END
                     + CASE WHEN h2.cum - h2.k < (n.n + 2) // 2
                             AND (n.n + 2) // 2 <= h2.cum THEN 1 ELSE 0 END)
              ) AS med2
    FROM h2 JOIN n ON h2.event_type = n.event_type
    GROUP BY h2.event_type
),
d AS (
    SELECT c.event_type, abs(2 * c.c - med.med2) AS d
    FROM c JOIN med ON c.event_type = med.event_type
),
dh AS (
    SELECT event_type, d, count(*) AS k FROM d GROUP BY event_type, d
),
dh2 AS (
    SELECT event_type, d, k,
           sum(k) OVER (PARTITION BY event_type ORDER BY d) AS cum
    FROM dh
),
mad AS (
    SELECT dh2.event_type,
           sum(dh2.d * (CASE WHEN dh2.cum - dh2.k < (n.n + 1) // 2
                              AND (n.n + 1) // 2 <= dh2.cum THEN 1 ELSE 0 END
                      + CASE WHEN dh2.cum - dh2.k < (n.n + 2) // 2
                              AND (n.n + 2) // 2 <= dh2.cum THEN 1 ELSE 0 END)
              ) AS madd2
    FROM dh2 JOIN n ON dh2.event_type = n.event_type
    GROUP BY dh2.event_type
)
SELECT d.event_type,
       count(*)                                                 AS n_total,
       CAST(sum(CASE WHEN 10000 * d.d > 22239 * mad.madd2
                     THEN 1 ELSE 0 END) AS BIGINT)              AS n_outliers
FROM d JOIN mad ON d.event_type = mad.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@query("q81_outliers_mad", oracle=_MAD_ORACLE)
def q81_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |x - median| > 3 * 1.4826 * MAD per
    group (the scaled-MAD rule; 1.4826 makes MAD consistent with sigma
    under normality). Median/MAD instead of mean/stddev because
    heavy-tailed metrics (latency, spend) break z-scores.

    Environment-robustness (driver-red in r02): engine-native
    ``median`` interpolates in float and the threshold multiplies
    float constants, so an exact tie ``|x-med| == 3*1.4826*mad`` (the
    fixture's 2-dp value grid makes ties reachable) is decided by
    1-ulp noise that differs between engine builds. This version does
    the WHOLE statistic in exact int64: values quantized to cents via
    ``floor(v*100+0.5)`` (floor of a bit-identical IEEE expression —
    no rounding-mode convention involved), medians computed as the
    SUM of the two middle elements (``med2 = 2*median``, no division),
    deviations as ``|2c - med2|``, and the outlier test as the
    cross-multiplied integer inequality ``10000*d > 22239*madd2``
    (22239/10000 = 2 * 3*1.4826 / 2 — both median halvings folded in).
    Exact ties now compare equal on every engine.

    Scale shape: medians come from a per-group VALUE HISTOGRAM
    (groupBy(event_type, cents) → counts, then a rank walk over the
    tiny histogram), not a per-group sort — the histogram is bounded
    by the value grid, not the row count, so the windows here run
    over thousands of rows even at 100 TB. The fact table shuffles
    once per histogram build; the med/mad tables broadcast back.
    """
    from pyspark.sql.window import Window

    e = (
        load_table(spark, sf_dir, "events")
        # NULL values excluded like the oracle: the engines disagree on
        # where a NULL sorts inside a window ORDER BY (Spark NULLS
        # FIRST, DuckDB NULLS LAST), so a NULL cent bucket shifts the
        # cumulative ranks — and both medians — differently per engine
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        )
    )

    def _med2(vals: DataFrame, col: str) -> DataFrame:
        """Exact 2x-median of integer column ``col`` per event_type via
        a count histogram: returns (event_type, med2 = v_lo + v_hi)."""
        h = vals.groupBy("event_type", col).agg(F.count(F.lit(1)).alias("k"))
        w = Window.partitionBy("event_type").orderBy(col)
        h2 = h.withColumn("cum", F.sum("k").over(w))
        n = h.groupBy("event_type").agg(F.sum("k").alias("n"))
        lo = (F.col("n") + 1) / F.lit(2)
        hi = (F.col("n") + 2) / F.lit(2)
        lo = F.floor(lo).cast("long")
        hi = F.floor(hi).cast("long")
        prev = F.col("cum") - F.col("k")
        pick = (
            F.when((prev < lo) & (lo <= F.col("cum")), 1).otherwise(0)
            + F.when((prev < hi) & (hi <= F.col("cum")), 1).otherwise(0)
        )
        return (
            h2.join(F.broadcast(n), "event_type")
            .select("event_type", (F.col(col) * pick).alias("_contrib"))
            .groupBy("event_type")
            .agg(F.sum("_contrib").alias("med2"))
        )

    med = _med2(e, "c")
    d = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("c") - F.col("med2")).alias("d")
    )
    mad = _med2(d, "d").withColumnRenamed("med2", "madd2")
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(
                    10000 * F.col("d") > 22239 * F.col("madd2"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- corpus token frequencies

@query(
    "q82_top_tokens",
    oracle="""
WITH tok AS (
    SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
),
counted AS (
    SELECT token, count(*) AS n
    FROM tok GROUP BY token
)
SELECT token, n, rnk FROM (
    SELECT token, n,
           row_number() OVER (ORDER BY n DESC, token) AS rnk
    FROM counted
) WHERE rnk <= 20
ORDER BY rnk
""",
)
def q82_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-20 token frequencies (tie-broken on token).

    The explode is the scale cost; ``groupBy().count()`` gets map-side
    partial aggregation for free, so the shuffle carries one row per
    distinct token per partition, not one per token instance. The
    final top-k is ``orderBy(...).limit(20)`` — Spark executes it as a
    distributed TakeOrdered (each partition keeps its local top-20,
    the driver merges), so the vocabulary-scale aggregate never
    funnels through a single-partition window; the rank column is then
    re-derived by a window over the 20 surviving rows only.
    """
    d = load_table(spark, sf_dir, "documents")
    counted = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql.window import Window

    top = counted.orderBy(F.col("n").desc(), "token").limit(20)
    w = Window.orderBy(F.col("n").desc(), "token")
    return top.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


# --------------------------------------- duplicate-n-gram quality

_NGRAM_N = 5


@query(
    "q83_dup_ngram_fraction",
    oracle=f"""
WITH g AS (
    SELECT doc_id,
           unnest(list_transform(
               range(len(string_split(trim(text), ' ')) - {_NGRAM_N - 1}),
               i -> array_to_string(
                        list_slice(string_split(trim(text), ' '),
                                   i + 1, i + {_NGRAM_N}), ' ')
           )) AS gram
    FROM documents
),
per_gram AS (
    SELECT doc_id, gram, count(*) AS cnt
    FROM g GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT)                            AS n_grams,
       CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
            AS BIGINT)                                     AS n_dup
FROM per_gram
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q83_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: how many of a
    document's 5-gram instances belong to a gram occurring more than
    once within that document (high n_dup/n_grams = boilerplate /
    degenerate repetition; used as a corpus filter). Output is the
    exact integer numerator/denominator pair, NOT a rounded float
    ratio — ``round(dup/n, 6)`` sat on engine-specific half-way
    conventions and went driver-red in r02; integers hash identically
    on every engine build, and the consumer divides at display time.

    The whole statistic is per-document, so no explode and no shuffle:
    sort the gram array in-row, then an instance is "duplicate" iff it
    equals its sorted predecessor or successor. That turns the old
    explode → groupBy(doc_id, gram) → groupBy(doc_id) double shuffle
    (carrying ~5x the corpus bytes in gram strings) into a map-only
    pass that pipelines with the scan — at 100 TB the only exchange
    left is the final presentation sort. Per-row cost is the
    O(g log g) array_sort; documents are bounded (MBs), so no task
    ever sees more than one doc's grams at once.
    """
    d = load_table(spark, sf_dir, "documents")
    # tokens projected to a real column first: referencing the split
    # expression inside the transform lambda would re-tokenize the
    # document once per gram — O(len^2) (see text_funcs.shingles_of).
    # fan_out pays here: the gram chain on 4 tasks beat one row group
    # in 10/10 rounds (per-site A/B, TUNING.md "Scan-stage parallelism")
    toked = fan_out(d.select("doc_id", "text")).select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - _NGRAM_N),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, _NGRAM_N)),
    )
    # docs shorter than the gram width are dropped UP FRONT (matching
    # the oracle's empty range()): without the filter the sequence
    # descends through negative indexes and slice(start=0) is a
    # runtime ERROR, not an empty array
    sorted_grams = toked.where(F.size(toks) >= _NGRAM_N).select(
        "doc_id", F.array_sort(grams).alias("_g")
    )
    g = F.col("_g")
    n = F.size(g)
    # eq[j] = (g[j] == g[j+1]) via two shifted slices — no element_at,
    # whose index-0 case is an error, not NULL. An instance is a
    # duplicate iff it equals its sorted predecessor OR successor,
    # i.e. max of the zero-padded left/right shifts of eq.
    eq = F.zip_with(
        F.slice(g, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(g, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.when(a == b, 1).otherwise(0),
    )
    zero = F.array(F.lit(0))
    dup = F.aggregate(
        F.zip_with(
            F.concat(zero, eq),
            F.concat(eq, zero),
            lambda prev_eq, next_eq: F.greatest(prev_eq, next_eq),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # the gram-sort/dup-count chain is narrow and expensive; unpinned,
    # the presentation sort's range sampling re-executes it (measured
    # 5.6 s + 20.6 s duplicate stage pair at sf0.1)
    return pin_before_sort(
        sorted_grams.select(
            "doc_id",
            F.size(g).cast("long").alias("n_grams"),
            dup.cast("long").alias("n_dup"),
        )
    ).orderBy("doc_id")


# --------------------------------------------------- PII scrubbing

@query(
    "q84_pii_scrub",
    oracle="""
SELECT c_custkey,
       regexp_replace(c_name, '[0-9]+', '<NUM>', 'g')  AS scrubbed,
       len(regexp_extract_all(c_name, '[0-9]+'))       AS n_redacted
FROM customer
ORDER BY c_custkey
""",
)
def q84_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact digit runs, report per-row redaction
    counts.

    The fixture's PII-shaped surface is the numeric id embedded in
    ``c_name``; real deployments extend the pattern set (emails, phones,
    SSNs) — the operator shape (global regexp_replace + extract_all
    count, pure JVM codegen, no shuffle at all) is what matters at
    100 TB: it's a map-only pass that pipelines with the scan.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]+", "<NUM>").alias("scrubbed"),
        F.size(F.regexp_extract_all("c_name", F.lit("[0-9]+"), 0)).alias(
            "n_redacted"
        ),
    ).orderBy("c_custkey")


# ------------------------------------------------ k-anonymity audit

K_ANON = 5  # minimum group size over the quasi-identifier tuple


@query(
    "q143_k_anonymity",
    oracle=f"""
WITH g AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
           count(*) AS group_size
    FROM customer
    GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, bal_band, group_size,
       CASE WHEN group_size >= {K_ANON} THEN 1 ELSE 0 END AS meets_k
FROM g
ORDER BY c_nationkey, c_mktsegment, bal_band
""",
)
def q143_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the release
    gate that pairs with q84's direct-identifier scrub: rows whose
    (nation, segment, balance-band) group has fewer than {K_ANON}
    members are re-identifiable by linkage and must be suppressed or
    generalized before the table ships. Output is the per-group audit
    (size + pass flag); the suppression step itself is a semi-join of
    the source against the failing groups.

    One map-side-combined aggregation on the QI tuple — the same
    single-shuffle shape at any scale; banding (coarse quantization)
    is what keeps the group count bounded when a continuous column
    joins the QI set.
    """
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "group_size",
        F.when(F.col("group_size") >= K_ANON, 1).otherwise(0).alias("meets_k"),
    ).orderBy("c_nationkey", "c_mktsegment", "bal_band")


# ------------------------------------------------- column profiling

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "q87_profile",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{c}'                                               AS col_name,
       count(*)                                            AS n,
       count(*) - count({c})                               AS n_nulls,
       count(DISTINCT {c})                                 AS n_distinct,
       round(min({c}), 6)                                  AS min_v,
       round(max({c}), 6)                                  AS max_v,
       round(CAST(CAST(sum(CAST({c} AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
             / count({c}), 6)                              AS mean_v
FROM lineitem"""
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name",
)
def q87_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling: per-column count/nulls/distincts/min/max/mean in
    ONE scan (all per-column aggregates computed side by side, then
    unpivoted driver-side from the single result row).

    The profiling shape every ingest pipeline runs first; at 100 TB the
    one-scan property is the difference between a profile and a week.
    ``count(DISTINCT)`` over many columns multiplies with Spark's
    expand-based distinct — for wide tables swap in
    ``approx_count_distinct`` (q47's sketch) per column.
    """
    from batch_processing_new_spark.operators.relational import DEC

    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            F.round(F.min(c), 6).alias(f"{c}__min_v"),
            F.round(F.max(c), 6).alias(f"{c}__max_v"),
            F.round(
                F.sum(F.col(c).cast(DEC)).cast("double") / F.count(c), 6
            ).alias(f"{c}__mean_v"),
        ]
    wide = li.agg(*aggs)
    metric_cols = ["n", "n_nulls", "n_distinct", "min_v", "max_v", "mean_v"]
    stack_args = ", ".join(
        "'{c}', {fields}".format(
            c=c, fields=", ".join(f"`{c}__{m}`" for m in metric_cols)
        )
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        f"(col_name, {', '.join(metric_cols)})"
    ).orderBy("col_name")


# ------------------------------------------------------- SCD2 build

@query(
    "q88_scd2",
    oracle="""
SELECT user_id,
       value                                            AS attr_value,
       CAST(ts AS TIMESTAMP)                            AS valid_from,
       lead(CAST(ts AS TIMESTAMP)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)  AS valid_to,
       CASE WHEN lead(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            THEN 1 ELSE 0 END                           AS is_current
FROM events
ORDER BY user_id, valid_from, attr_value
""",
)
def q88_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: a change stream (each event =
    a new attribute value for its user) becomes validity intervals
    [valid_from, valid_to) via window lead, open interval = current.

    One shuffle on the dimension key; tie-broken on event_id so interval
    edges are deterministic under equal timestamps. At scale this is the
    standard CDC-to-warehouse compaction — pairs with q73's keep-latest
    merge (SCD1).
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            F.col("value").alias("attr_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.when(F.lead("ts").over(w).isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "attr_value")
    )


# ------------------------------------------- length-weighted sampling

@query(
    "q89_weighted_sample",
    oracle="""
SELECT doc_id, n_chars
FROM documents
WHERE ('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000
      < least(n_chars, 1000)
ORDER BY doc_id
""",
)
def q89_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted reproducible sampling: P[keep] = min(n_chars, 1000)
    / 1000 — longer documents proportionally more likely, decided by the
    same portable hash gate as q61 (partitioning-independent, stable
    under re-runs; the training-mix sampler for byte-budgeted corpora).
    """
    from batch_processing_new_spark.functions.text_funcs import salted_hash60

    d = load_table(spark, sf_dir, "documents")
    gate = salted_hash60("wsample", F.col("doc_id")) % 1000
    return (
        d.where(gate < F.least(F.col("n_chars"), F.lit(1000)))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


# --------------------------------------------- interval concurrency

@query(
    "q91_max_concurrency",
    oracle="""
WITH s AS (
    -- NULL-value events excluded on BOTH sides: a session with no
    -- duration has no sweep interval, and a NULL end point otherwise
    -- lands in a NULL day group on one engine and joins away on the
    -- other (tools/poison_sweep.py finding)
    SELECT date_trunc('second', CAST(ts AS TIMESTAMP)) AS st,
           date_trunc('second', CAST(ts AS TIMESTAMP))
             + to_seconds(CAST(floor(value * 60 + 0.5) AS BIGINT)) AS en
    FROM events WHERE value IS NOT NULL
),
pts AS (
    SELECT st AS t, 1 AS delta FROM s
    UNION ALL
    SELECT en, -1 FROM s
),
r AS (
    SELECT t, sum(delta) OVER (ORDER BY t, delta) AS c FROM pts
)
SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
       CAST(max(c) AS BIGINT) AS max_concurrent
FROM r GROUP BY 1 ORDER BY day
""",
)
def q91_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by sweep line: each event opens
    a session of ``value`` minutes; +1/-1 boundary points, a running
    sum ordered by (t, delta) (ends close before starts at the same
    instant — RANGE frames make ties deterministic on both engines),
    max per day.

    Environment-robustness (driver-red in r02): the whole sweep runs
    in INTEGER EPOCH SECONDS derived by NTZ ``timestamp_diff`` —
    ``date_trunc``/``unix_timestamp`` promote NTZ to session-zone
    TIMESTAMP and so render differently when the session and host
    timezones disagree (functions/timekit.py; caught by the split-TZ
    perturbation run, tests/run_verify.py --tz). Second truncation
    also kills sub-microsecond parquet-encoding skew between NANOS and
    MICROS fixture generations, and the session length uses
    ``floor(v*60 + 0.5)`` — floor of a bit-identical IEEE expression —
    instead of ``round``, whose half-way convention is engine-build
    specific. The output day is rebuilt from the integer day index via
    ``date_from_unix_date`` (pure calendar arithmetic).

    Scale: TWO-PHASE PREFIX SUM, not a global ordered window. Phase 1
    computes the running sum WITHIN each day shard (window partitioned
    by day — parallel across days) plus each day's total delta; phase
    2 prefix-sums the per-day totals (a window over the tiny per-day
    aggregate — thousands of rows at any corpus size) and broadcasts
    the offsets back. Same numbers as the serial sweep, no
    single-reducer stage over the fact table. Sessions here span at
    most hours, but the offset algebra is exact for any span; for
    pathological shard skew subdivide the shard key to (day, hour) and
    prefix twice.
    """
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        # NULL-value events excluded like the oracle: no duration, no
        # sweep interval
        .where(F.col("value").isNotNull())
        .select(
            epoch_seconds(F.col("ts")).alias("s"),
            F.floor(F.col("value") * 60 + 0.5).cast("long").alias("dur"),
        )
    )
    pts = (
        e.select(F.col("s").alias("t"), F.lit(1).alias("delta"))
        .unionByName(
            e.select((F.col("s") + F.col("dur")).alias("t"), F.lit(-1).alias("delta"))
        )
        .withColumn("day_idx", day_index(F.col("t")))
    )
    w_in = Window.partitionBy("day_idx").orderBy("t", "delta")
    within = pts.withColumn("c_in", F.sum("delta").over(w_in))
    w_pfx = Window.orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        pts.groupBy("day_idx")
        .agg(F.sum("delta").alias("_tot"))
        .withColumn("_off", F.coalesce(F.sum("_tot").over(w_pfx), F.lit(0)))
        .select("day_idx", "_off")
    )
    return (
        within.join(F.broadcast(offsets), "day_idx")
        .groupBy("day_idx")
        .agg(F.max(F.col("c_in") + F.col("_off")).alias("max_concurrent"))
        .select(
            day_from_index(F.col("day_idx")).alias("day"), "max_concurrent"
        )
        .orderBy("day")
    )


# --------------------------------------------- distribution drift

_DRIFT_QS = [i / 10 for i in range(1, 10)]  # 0.1 .. 0.9


@query(
    "q94_quantile_drift",
    oracle=f"""
WITH per_type AS (
    SELECT event_type,
           quantile_cont(value, {_DRIFT_QS}) AS ql
    FROM events GROUP BY event_type
),
overall AS (
    SELECT quantile_cont(value, {_DRIFT_QS}) AS gl FROM events
),
diffs AS (
    SELECT p.event_type,
           unnest(range({len(_DRIFT_QS)})) AS i,
           p.ql, g.gl
    FROM per_type p, overall g
)
SELECT event_type,
       round(max(abs(ql[i + 1] - gl[i + 1])), 6) AS max_drift
FROM diffs
GROUP BY event_type
ORDER BY event_type
""",
)
def q94_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per-segment quantile grid (deciles of
    ``value``) vs the global grid; max absolute gap per segment.

    The data-quality check run between pipeline stages / data drops to
    catch a source gone sideways before it contaminates a training mix.
    Exact interpolated percentiles both engines (rounded at 6); one
    aggregation pass per side, grids are tiny and broadcast — scales as
    two scans regardless of segment count.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    qs = F.array(*[F.lit(q) for q in _DRIFT_QS])
    per_type = e.groupBy("event_type").agg(
        F.percentile("value", qs).alias("ql")
    )
    glob = e.agg(F.percentile("value", qs).alias("gl"))
    return (
        per_type.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            F.round(
                F.array_max(
                    F.zip_with("ql", "gl", lambda a, b: F.abs(a - b))
                ),
                6,
            ).alias("max_drift"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- hypertable rollup

@query(
    "q104_hypertable_rollup",
    oracle="""
WITH g AS (
    SELECT CASE gran
             WHEN 'minute' THEN date_trunc('minute', ts)
             WHEN 'hour'   THEN date_trunc('hour', ts)
             ELSE                date_trunc('day', ts)
           END AS bucket,
           gran,
           event_type,
           value
    FROM events, unnest(['minute', 'hour', 'day']) t(gran)
)
SELECT CAST(bucket AS TIMESTAMP) AS bucket,
       gran,
       event_type,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS total_value
FROM g
GROUP BY bucket, gran, event_type
HAVING gran <> 'minute' OR n_events > 1
ORDER BY gran, bucket, event_type
""",
)
def q104_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: the same aggregate
    materialized at minute, hour, and day granularity in ONE pass — the
    continuous-aggregate ladder a time-series store keeps so dashboards
    hit the coarsest bucket that answers the query.

    One explode over the three granularities feeds one shuffle keyed
    (bucket, gran, event_type): partial aggregation collapses each
    partition to its distinct buckets before the exchange, exactly like
    Catalyst's Expand-based rollup, and each finer level is ~60x the
    rows of the next — the explode costs 3 scans' worth of input rows
    but only one shuffle. (Minute buckets with a single event are
    dropped on both sides purely to keep the verify row count sane;
    hour/day ladders are complete.)
    """
    e = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    g = e.select(
        F.explode(F.array(F.lit("minute"), F.lit("hour"), F.lit("day"))).alias(
            "gran"
        ),
        "ts",
        "event_type",
        "value",
    ).select(
        F.when(F.col("gran") == "minute", F.date_trunc("minute", "ts"))
        .when(F.col("gran") == "hour", F.date_trunc("hour", "ts"))
        .otherwise(F.date_trunc("day", "ts"))
        .alias("bucket"),
        "gran",
        "event_type",
        "value",
    )
    agg = g.groupBy("bucket", "gran", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,8)"))
        .cast("double")
        .alias("total_value"),
    )
    return agg.where(
        (F.col("gran") != "minute") | (F.col("n_events") > 1)
    ).orderBy("gran", "bucket", "event_type")


# ---------------------------------------------- winsorization

@query(
    "q107_winsorize",
    oracle="""
WITH b AS (
    SELECT event_type,
           quantile_cont(value, 0.01) AS lo,
           quantile_cont(value, 0.99) AS hi
    FROM events GROUP BY event_type
)
SELECT event_id,
       e.event_type,
       round(least(greatest(value, lo), hi), 6) AS clipped,
       CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END AS was_clipped
FROM events e JOIN b USING (event_type)
ORDER BY event_id
""",
)
def q107_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorization: clip ``value`` to its segment's exact
    [p01, p99] — the standard outlier-taming transform applied before
    statistics that aren't robust (means, regressions), complementing
    the MAD detector (q81) which only FLAGS.

    One exact-percentile aggregate per segment (tiny) broadcast back
    over the stream — the corpus scans once and never shuffles.
    """
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("lo"),
        F.percentile("value", F.lit(0.99)).alias("hi"),
    )
    return (
        e.join(F.broadcast(b), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6
            ).alias("clipped"),
            F.when(
                (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")),
                1,
            )
            .otherwise(0)
            .alias("was_clipped"),
        )
        .orderBy("event_id")
    )


# ------------------------------------- time-series interpolation

@query(
    "q108_interpolate_gaps",
    oracle="""
WITH hourly AS (
    -- DECIMAL-exact mean (dsum discipline): a float avg() is
    -- partition-order-dependent, and its last-ulp noise flipped one
    -- round(6) cell at sf0.1 (caught by the SPARK_GRAFT_VERIFY_SF_DIR
    -- sweep; invisible at the sf0.01 verify SF)
    SELECT event_type,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
           CAST(CAST(sum(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
               / count(value) AS v
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT min(h) AS h0, max(h) AS h1 FROM hourly
),
spine AS (
    SELECT t.event_type, g.h
    FROM (SELECT DISTINCT event_type FROM hourly) t,
         bounds, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) g(h)
),
joined AS (
    SELECT s.event_type, s.h, hourly.v,
           epoch(s.h) AS eh
    FROM spine s LEFT JOIN hourly USING (event_type, h)
),
ctx AS (
    SELECT *,
           last_value(v IGNORE NULLS) OVER w_prev  AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER w_prev                          AS pt,
           first_value(v IGNORE NULLS) OVER w_next AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER w_next                          AS nt
    FROM joined
    WINDOW
      w_prev AS (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_next AS (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       CAST(h AS TIMESTAMP) AS hour_ts,
       round(CASE
           WHEN v IS NOT NULL THEN v
           WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (eh - pt) / (nt - pt)
           WHEN pv IS NOT NULL THEN pv
           ELSE nv
       END, 6) AS value_filled,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
FROM ctx
ORDER BY event_type, hour_ts
""",
)
def q108_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair: hourly per-segment averages on a dense
    hour spine, missing hours LINEARLY interpolated between their
    nearest known neighbors (forward/backward fill at the edges) — the
    resample-and-interpolate step that precedes any fixed-step model.

    Builds on q71's calendar-spine gap DETECTION; the windows are two
    ignore-nulls carries (last known before / first known after), so
    the whole repair is one shuffle on (segment) regardless of gap
    structure — no per-gap joins, no iteration.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        # DECIMAL-exact mean, not F.avg: float avg is partition-order-
        # dependent and one sf0.1 cell sat on a round(6) boundary
        (
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double")
            / F.count("value")
        ).alias("v")
    )
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    joined = spine.join(hourly, ["event_type", "h"], "left").withColumn(
        "eh", F.unix_timestamp(F.col("h").cast("timestamp"))
    )
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_t = F.when(F.col("v").isNotNull(), F.col("eh"))
    ctx = (
        joined.withColumn("pv", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("pt", F.last(known_t, ignorenulls=True).over(w_prev))
        .withColumn("nv", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("nt", F.first(known_t, ignorenulls=True).over(w_next))
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("eh") - F.col("pt"))
            / (F.col("nt") - F.col("pt")),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return ctx.select(
        "event_type",
        F.col("h").cast("timestamp").alias("hour_ts"),
        F.round(interp, 6).alias("value_filled"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("was_gap"),
    ).orderBy("event_type", "hour_ts")


# ------------------------------------- time-weighted average (irregular)

@query(
    "q121_time_weighted_avg",
    oracle="""
WITH w AS (
    SELECT user_id, value,
           epoch_us(CAST(ts AS TIMESTAMP)) AS t,
           lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t2
    FROM events
),
seg AS (
    SELECT user_id, value, t2 - t AS dur FROM w WHERE t2 IS NOT NULL
)
SELECT user_id,
       count(*) AS n_segments,
       round(CAST(CAST(sum(CAST(value * dur AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(CAST(dur AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE), 6) AS twa
FROM seg
GROUP BY user_id
ORDER BY user_id
""",
)
def q121_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled signal per user:
    each observation holds (last-observation-carried-forward) until the
    next one, so its weight is the gap to the successor — the
    hypertable/metrics-store aggregate a plain avg silently gets wrong
    whenever sampling density correlates with the value.

    One window pass (lead of the epoch per user) + one aggregation;
    both shuffle on user_id only. Sums are decimal-exact so the result
    is independent of aggregation order, per the engine's float
    discipline.
    """
    from pyspark.sql import Window

    from batch_processing_new_spark.operators.relational import DEC

    ev = load_table(spark, sf_dir, "events")
    # naive epoch (timekit) — gap weights must not distort across a
    # session-zone DST transition
    t = epoch_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select("user_id", "value", t.alias("t"), F.lead(t).over(w).alias("t2"))
        .where(F.col("t2").isNotNull())
        .select("user_id", "value", (F.col("t2") - F.col("t")).alias("dur"))
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.round(
                F.sum((F.col("value") * F.col("dur")).cast(DEC)).cast("double")
                # nullif: a user whose observations all share ONE
                # timestamp has total duration 0 — the time-weighted
                # average is undefined, NULL in DuckDB, an ANSI raise
                # in Spark without the guard
                / F.nullif(
                    F.sum(F.col("dur").cast(DEC)).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("twa"),
        )
        .orderBy("user_id")
    )


# --------------------------------- last-touch conversion attribution

@query(
    "q122_last_touch_attribution",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_id, event_type, ts,
           last_value(
               CASE WHEN event_type IN ('view', 'click')
                    THEN event_id END IGNORE NULLS)
             OVER w AS attr_event_id,
           last_value(
               CASE WHEN event_type IN ('view', 'click')
                    THEN event_type END IGNORE NULLS)
             OVER w AS attr_type,
           last_value(
               CASE WHEN event_type IN ('view', 'click')
                    THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
             OVER w AS attr_t
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS purchase_id,
       user_id,
       attr_event_id,
       attr_type,
       CASE WHEN attr_t IS NULL THEN NULL
            ELSE CAST(epoch_us(CAST(ts AS TIMESTAMP)) - attr_t
                      AS DOUBLE) END AS gap_us
FROM ordered
WHERE event_type = 'purchase'
ORDER BY purchase_id
""",
)
def q122_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the same
    user's most recent PRECEDING view/click (id, type, and the gap in
    microseconds; unattributed purchases keep NULLs). The
    marketing-analytics complement of q79's funnel — per-conversion
    assignment, not stage counting.

    Single window pass: a conditional carry-forward (`last` with
    ignorenulls over an up-to-previous-row frame) per user — no
    self-join, one shuffle on user_id. The frame ends at -1 so a
    purchase can never attribute to itself even if types ever overlap.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    # naive epoch (timekit) — the gap must not distort across a
    # session-zone DST transition between touch and purchase
    t_us = epoch_micros(F.col("ts"))
    touched = ev.select(
        "user_id",
        "event_id",
        "event_type",
        t_us.alias("t"),
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("attr_event_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("attr_type"),
        F.last(F.when(is_touch, t_us), ignorenulls=True)
        .over(w)
        .alias("attr_t"),
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "attr_event_id",
            "attr_type",
            # DOUBLE, not BIGINT: a NULLABLE int column with >9-digit
            # values hashes differently across materialization paths
            # (pandas promotes nullable int64 to float64 -> "%.9g"
            # scientific form vs the int's full-digit string; q122 was
            # the registry's ONLY such column). As a double, every
            # path formats it identically; 1e12 us is exact in float64.
            (F.col("t") - F.col("attr_t")).cast("double").alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


# ------------------------------------ Benford digit-distribution check

@query(
    "q123_benford_check",
    oracle="""
WITH d AS (
    SELECT CAST(floor(o_totalprice
                      / power(10, floor(log10(o_totalprice)))) AS INT)
               AS digit
    FROM orders WHERE o_totalprice > 0
),
tot AS (SELECT count(*) AS n FROM d)
SELECT digit,
       count(*)                                   AS n_rows,
       round(count(*) * 1.0 / max(tot.n), 6)      AS observed_p,
       round(log10(1.0 + 1.0 / digit), 6)         AS benford_p,
       round(pow(count(*) * 1.0 / max(tot.n)
                 - log10(1.0 + 1.0 / digit), 2)
             / log10(1.0 + 1.0 / digit), 9)       AS chi2_term
FROM d, tot
GROUP BY digit
ORDER BY digit
""",
)
def q123_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: first-significant-
    digit frequencies against log10(1 + 1/d), with per-digit chi-square
    terms — the classic fabricated/filtered-data smell test finance and
    data-quality pipelines run on monetary columns. (The synthetic
    fixture's uniform prices will NOT follow Benford — the point of the
    query is the measurement, and a high chi2 here is the correct
    answer.)

    One scan, map-side digit extraction, a 9-key aggregate, and a
    broadcast of the scalar total — nothing scales with row count but
    the first scan.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("n"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    obs = F.col("n_rows") / F.col("n")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_rows",
            F.round(obs, 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round(F.pow(obs - benford, 2) / benford, 9).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ------------------------------------------- session path analysis

TOP_PATHS = 20


@query(
    "q129_session_paths",
    oracle=f"""
WITH gaps AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
),
sessions AS (
    SELECT user_id, event_type, ts, event_id,
           sum(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM gaps
),
paths AS (
    SELECT user_id, session_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM sessions
    GROUP BY user_id, session_id
),
counted AS (
    SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
)
SELECT path, n_sessions, rank FROM (
    SELECT path, n_sessions,
           row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
    FROM counted)
WHERE rank <= {TOP_PATHS}
ORDER BY rank
""",
)
def q129_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_PATHS} session paths: sessionize (q21's 30-min-gap
    rule), concatenate each session's ordered event-type sequence into
    a path string, rank paths by frequency — the "how do users actually
    move through the product" sequence-analytics staple behind funnel
    design.

    The path build is sort_array(collect_list(struct)) inside a
    (user, session) aggregate — deterministic ordering without a
    second window pass. The final top-k cut is ``orderBy().limit()``
    — distributed TakeOrdered: distinct paths are vocabulary-scale
    data at 100 TB (every unique event sequence is its own key), so
    the rank window runs only over the {TOP_PATHS} survivors.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # TZ-free gap (timekit) — q21's sessionize discipline
    as_sec = lambda c: epoch_micros(c) / 1_000_000.0  # noqa: E731
    gap_sec = as_sec(F.col("ts")) - as_sec(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_sec > 1800.0), 1).otherwise(0)
    sessions = e.withColumn("session_id", F.sum(is_new).over(w_run))
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    top = counted.orderBy(F.col("n_sessions").desc(), "path").limit(TOP_PATHS)
    wr = Window.orderBy(F.col("n_sessions").desc(), F.col("path"))
    return top.withColumn("rank", F.row_number().over(wr)).orderBy("rank")


# --------------------------------- time-bounded conversion rate

CONV_WINDOW_MIN = 60  # click -> purchase attribution window (minutes)


@query(
    "q134_timed_conversion",
    oracle=f"""
WITH clicks AS (
    SELECT user_id, event_id, ts,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events WHERE event_type = 'click'
),
converted AS (
    SELECT c.user_id, c.event_id, c.day,
           CASE WHEN EXISTS (
               SELECT 1 FROM events p
               WHERE p.event_type = 'purchase'
                 AND p.user_id = c.user_id
                 AND p.ts > c.ts
                 AND p.ts <= c.ts + INTERVAL {CONV_WINDOW_MIN} MINUTE
           ) THEN 1 ELSE 0 END AS converted
    FROM clicks c
)
SELECT day,
       count(*)                    AS n_clicks,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       CAST(sum(converted) AS DOUBLE) / count(*) AS conversion_rate
FROM converted
GROUP BY day
ORDER BY day
""",
)
def q134_timed_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion: the fraction of clicks followed by a
    purchase from the same user within {CONV_WINDOW_MIN} minutes,
    reported per day — the windowed complement of q79 (stage presence,
    no deadline) and q122 (credit assignment, no deadline).

    Spark shape: NO per-click EXISTS probe — one window pass over the
    user's merged event sequence answers, at each click, "is there a
    purchase in (t, t+60min]?" via a VALUE-based frame
    (``rangeBetween(1, window_us)`` over the microsecond timestamp).
    The range frame makes the strict ``p.ts > c.ts`` bound exact even
    when a purchase shares the click's timestamp (a rows-based
    next-purchase min would see the tied purchase and miss a later
    in-window one). The oracle keeps the correlated-EXISTS SQL form;
    the engine's form is the single-shuffle plan Catalyst cannot reach
    from that SQL on its own.

    Environment-robustness: event times become TZ-free NTZ epoch
    micros (functions/timekit.py — ``unix_micros`` needs a
    session-zone cast and flipped under the split-TZ perturbation
    run), the day key stays NTZ end to end, and the rate ships as the
    UNROUNDED quotient of two exact integers — one IEEE division is
    bit-identical on every engine, while ``round(·, 6)`` sits on
    engine-specific half-way conventions (the r02 q83 failure class).
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(1, CONV_WINDOW_MIN * 60_000_000)
    )
    has_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.lit(1))
    ).over(w_range)
    clicks = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            epoch_micros(F.col("ts")).alias("t"),
        )
        .withColumn("converted", F.coalesce(has_purchase, F.lit(0)))
        .where(F.col("event_type") == "click")
        .select(day_ntz(F.col("ts")).alias("day"), "converted")
    )
    return (
        clicks.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum("converted").alias("n_converted"),
            (
                F.sum("converted").cast("double") / F.count(F.lit(1))
            ).alias("conversion_rate"),
        )
        .orderBy("day")
    )


# ------------------------------- jackknife uncertainty estimation

_JK_SHARDS = 8


@query(
    "q157_jackknife_ci",
    oracle=f"""
WITH sharded AS (
    SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
               % {_JK_SHARDS} AS shard,
           CAST(o_totalprice AS DECIMAL(30,8)) AS price
    FROM orders
),
per_shard AS (
    SELECT shard, count(*) AS cnt, sum(price) AS s FROM sharded GROUP BY shard
),
tot AS (
    SELECT sum(cnt) AS n, sum(s) AS total FROM per_shard
),
loo AS (
    SELECT shard,
           CAST(CAST(tot.total - per_shard.s AS VARCHAR) AS DOUBLE)
               / (tot.n - per_shard.cnt) AS m
    FROM per_shard, tot
),
mb AS (
    SELECT CAST(CAST(sum(CAST(m AS DECIMAL(38,15))) AS VARCHAR) AS DOUBLE)
               / {_JK_SHARDS} AS mbar
    FROM loo
),
vr AS (
    SELECT CAST(CAST(sum(CAST((m - mbar) * (m - mbar) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
           * ({_JK_SHARDS} - 1.0) / {_JK_SHARDS} AS var_jk
    FROM loo, mb
)
SELECT CAST(tot.n AS BIGINT)                            AS n,
       round(CAST(CAST(tot.total AS VARCHAR) AS DOUBLE) / tot.n, 4)      AS mean_price,
       round(sqrt(vr.var_jk), 4)                        AS jk_se,
       round(CAST(CAST(tot.total AS VARCHAR) AS DOUBLE) / tot.n
             - 1.96 * sqrt(vr.var_jk), 4)               AS ci_lo,
       round(CAST(CAST(tot.total AS VARCHAR) AS DOUBLE) / tot.n
             + 1.96 * sqrt(vr.var_jk), 4)               AS ci_hi
FROM tot, vr
""",
)
def q157_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife: the mean order price with a standard
    error and 95% CI estimated by leaving out each of {_JK_SHARDS}
    hash shards in turn — the distributed-uncertainty recipe (one pass
    for per-shard sums, closed-form leave-one-out means from the
    totals) that costs one small aggregation instead of B resampling
    passes. On a pipeline this is how you put error bars on any
    corpus statistic (dedup rate, quality-score mean) without a
    second scan.

    Determinism discipline: per-shard sums are DECIMAL-exact; the
    leave-one-out means are double ratios of exact decimals (one
    deterministic rounding each); cross-shard sums of those doubles
    go through DECIMAL(38,15/18) casts so no {_JK_SHARDS}-term float
    sum depends on partition order. The md5 shard id reuses the
    engine's portable hash, so the oracle assigns identical shards.
    """
    from batch_processing_new_spark.functions.text_funcs import hash60
    from batch_processing_new_spark.operators.relational import DEC

    o = load_table(spark, sf_dir, "orders")
    per_shard = (
        o.select(
            (hash60(F.col("o_orderkey").cast("string")) % _JK_SHARDS).alias(
                "shard"
            ),
            F.col("o_totalprice").cast(DEC).alias("price"),
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("price").alias("s"))
    )
    tot = per_shard.agg(
        F.sum("cnt").alias("n"), F.sum("s").alias("total")
    )
    loo = per_shard.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n",
        "total",
        (
            (F.col("total") - F.col("s")).cast("double")
            # nullif: when one shard holds the ENTIRE sample (n == cnt,
            # e.g. a 1-row relation) the leave-it-out mean is 0/0 —
            # NULL in DuckDB, an ANSI raise in Spark without the guard
            / F.nullif(F.col("n") - F.col("cnt"), F.lit(0))
        ).alias("m"),
    )
    mb = loo.agg(
        (
            F.sum(F.col("m").cast("decimal(38,15)")).cast("double")
            / _JK_SHARDS
        ).alias("mbar")
    )
    vr = (
        loo.crossJoin(F.broadcast(mb))
        .agg(
            (
                F.sum(
                    ((F.col("m") - F.col("mbar")) * (F.col("m") - F.col("mbar")))
                    .cast("decimal(38,18)")
                ).cast("double")
                * (_JK_SHARDS - 1.0)
                / _JK_SHARDS
            ).alias("var_jk")
        )
    )
    mean = F.col("total").cast("double") / F.col("n")
    se = F.sqrt(F.col("var_jk"))
    return (
        tot.crossJoin(F.broadcast(vr))
        .select(
            F.col("n"),
            F.round(mean, 4).alias("mean_price"),
            F.round(se, 4).alias("jk_se"),
            F.round(mean - 1.96 * se, 4).alias("ci_lo"),
            F.round(mean + 1.96 * se, 4).alias("ci_hi"),
        )
    )


# -------------------------------------- SCD2 as-of snapshot (q88's read)

_SNAP_TS = "1997-06-01 00:00:00"


@query(
    "q159_scd2_snapshot",
    oracle=f"""
WITH scd AS (
    SELECT user_id, value AS attr_value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           lead(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM events
)
SELECT user_id, attr_value,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from
FROM scd
WHERE valid_from <= TIMESTAMP '{_SNAP_TS}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SNAP_TS}')
ORDER BY user_id
""",
)
def q159_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read over the SCD2 dimension: every user's attribute
    value as of {_SNAP_TS} — the interval containing the cutoff
    (valid_from <= D < valid_to, open current interval included).

    The oracle states the interval-lookup form over q88's SCD2 CTE;
    the Spark plan uses the EQUIVALENT keep-latest form — filter the
    change stream to ts <= D (pushed into the scan) and take each
    user's last change — because building intervals just to probe one
    cutoff does a window over ALL history, while keep-latest windows
    only the pre-cutoff slice and never materializes valid_to. Same
    rows, one shuffle, and at 100 TB the D-filter prunes partitions
    when the stream lands date-partitioned (q150's layout argument).
    Ties on equal ts resolve by event_id in both forms.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").where(
        F.col("ts") <= F.lit(_SNAP_TS).cast("timestamp_ntz")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("attr_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        )
        .orderBy("user_id")
    )


@query(
    "q181_event_transitions",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
),
trans AS (
    SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
totals AS (
    SELECT from_type, sum(n) AS tot FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n::BIGINT AS n,
       round(t.n / tt.tot, 6) AS p
FROM trans t JOIN totals tt USING (from_type)
ORDER BY t.from_type, t.to_type
""",
)
def q181_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (from, to) event-type pair the transition
    count and conditional probability P(to | from) — the behavioral
    fingerprint behind next-action prediction, bot detection, and
    journey simulation (q129's session paths are this matrix's
    unaggregated form).

    One shuffle to order each user's stream (window lead on the
    user-partitioned sort — ties broken by event_id, the engine's
    stable-order discipline), then a groupBy on the tiny (from, to)
    key space with map-side combine; row-count totals re-aggregate the
    transition table itself. Probabilities are exact-integer ratios.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    trans = trans.localCheckpoint(eager=False)  # feeds totals + output
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q182_position_attribution",
    oracle="""
WITH clicks AS (
    SELECT user_id, ts, event_id
    FROM events WHERE event_type = 'click'
),
conv AS (
    SELECT user_id, min(ts) AS conv_ts
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
path AS (
    SELECT c.user_id, c.ts, c.event_id,
           row_number() OVER (
               PARTITION BY c.user_id ORDER BY c.ts, c.event_id
           ) AS pos,
           count(*) OVER (PARTITION BY c.user_id) AS path_len
    FROM clicks c
    JOIN conv v ON v.user_id = c.user_id AND c.ts < v.conv_ts
),
weighted AS (
    SELECT user_id, event_id, pos, path_len,
           CASE WHEN path_len = 1 THEN 1.0
                WHEN path_len = 2 THEN 0.5
                WHEN pos = 1 THEN 0.4
                WHEN pos = path_len THEN 0.4
                ELSE 0.2 / (path_len - 2) END AS credit
    FROM path
)
SELECT user_id,
       count(*)::BIGINT AS n_touches,
       round(CAST(CAST(sum(CAST(credit AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE), 6)
           AS total_credit,
       round(max(CASE WHEN pos = 1 THEN credit END), 6) AS first_credit,
       round(max(CASE WHEN pos = path_len THEN credit END), 6)
           AS last_credit
FROM weighted
GROUP BY user_id
ORDER BY user_id
""",
)
def q182_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    converting user's pre-conversion click path earns 40% credit at
    first touch, 40% at last, and the middle 20% split evenly —
    reported per user with the touch count and the boundary credits
    (q122 is the last-touch special case of this).

    Shapes: conversions collapse to a per-user min (one shuffle);
    the path join is user-keyed (co-partitioned with the window that
    numbers it — ONE exchange serves both); credits are rational
    expressions of the window ordinals, summed under DECIMAL.
    Total_credit sums to 1.0 per user by construction — the invariant
    the test asserts.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    path = (
        clicks.join(conv, "user_id")
        .where(F.col("ts") < F.col("conv_ts"))
        .withColumn("pos", F.row_number().over(w))
        .withColumn(
            "path_len", F.count("*").over(Window.partitionBy("user_id"))
        )
    )
    credit = (
        F.when(F.col("path_len") == 1, F.lit(1.0))
        .when(F.col("path_len") == 2, F.lit(0.5))
        .when(F.col("pos") == 1, F.lit(0.4))
        .when(F.col("pos") == F.col("path_len"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("path_len") - 2))
    )
    weighted = path.withColumn("credit", credit)
    dec = "decimal(30,8)"
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(
                F.sum(F.col("credit").cast(dec)).cast("double"), 6
            ).alias("total_credit"),
            F.round(
                F.max(F.when(F.col("pos") == 1, F.col("credit"))), 6
            ).alias("first_credit"),
            F.round(
                F.max(
                    F.when(F.col("pos") == F.col("path_len"), F.col("credit"))
                ),
                6,
            ).alias("last_credit"),
        )
        .orderBy("user_id")
    )


_ANOM_Z = 2.0  # seasonal-deviation flag threshold (z-score units)


@query(
    "q185_seasonal_anomaly",
    oracle=f"""
WITH cells AS (
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           extract(hour FROM ts)::INT AS hour,
           count(*)::BIGINT AS n
    FROM events
    GROUP BY event_type, day, hour
),
base AS (
    SELECT event_type, hour,
           count(*)::BIGINT AS n_days,
           sum(n)::BIGINT AS s,
           -- HUGEINT square: BIGINT*BIGINT would overflow-error at scale
           sum((n::HUGEINT) * n) AS ss
    FROM cells
    GROUP BY event_type, hour
),
scored AS (
    SELECT c.event_type, c.day, c.hour, c.n,
           b.s * 1.0 / b.n_days AS mu,
           sqrt((b.ss::DOUBLE - b.s::DOUBLE * b.s::DOUBLE / b.n_days)
                / (b.n_days - 1)) AS sigma
    FROM cells c
    JOIN base b ON b.event_type = c.event_type AND b.hour = c.hour
    WHERE b.n_days >= 2
)
SELECT event_type, day, hour, n,
       round(mu, 6) AS mu,
       round((n - mu) / sigma, 6) AS z
FROM scored
WHERE sigma > 0 AND abs((n - mu) / sigma) > {_ANOM_Z}
ORDER BY event_type, day, hour
""",
)
def q185_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection on event volume: hourly counts per
    event type, a per-(type, hour-of-day) baseline (mean/std across
    days — the 'same hour yesterday' seasonality model), and the
    (type, day, hour) cells whose volume deviates by more than
    {_ANOM_Z} sigma — the ops alerting shape for traffic spikes and
    outages.

    Both moments derive from exact integer counts (sum, sum-of-
    squares), so mu/sigma/z are deterministic scalar math — no float
    aggregation anywhere. Shapes: one groupBy to the hourly cell grid
    (the only data-scale shuffle), a re-aggregate of the tiny grid,
    and a broadcast-size join back.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        # stringified day: the driver canonicalizer's date convention
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("n"))
    cells = cells.localCheckpoint(eager=False)  # grid feeds base + scoring
    # squares as DECIMAL: long*long silently wraps in Spark (ANSI off)
    # once a cell count passes ~3e9 — at the 100 TB target that is a
    # real hourly volume, and a wrapped ss makes sigma garbage with no
    # error. The final arithmetic runs in double on both engines (an
    # IEEE product of exact operands equals the rounded exact integer
    # product, so the engines agree at any magnitude).
    n_dec = F.col("n").cast("decimal(19,0)")
    base = cells.groupBy("event_type", "hour").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s"),
        F.sum((n_dec * n_dec).cast("decimal(38,0)")).alias("ss"),
    )
    mu = F.col("s") / F.col("n_days")
    sigma = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n_days")
        )
        / (F.col("n_days") - 1)
    )
    z = (F.col("n") - mu) / sigma
    return (
        cells.join(F.broadcast(base.where(F.col("n_days") >= 2)),
                   ["event_type", "hour"])
        .where((sigma > 0) & (F.abs(z) > _ANOM_Z))
        .select(
            "event_type",
            "day",
            "hour",
            "n",
            F.round(mu, 6).alias("mu"),
            F.round(z, 6).alias("z"),
        )
        .orderBy("event_type", "day", "hour")
    )


_AES_K = 50  # weighted-without-replacement sample size


@query(
    "q190_weighted_reservoir",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, source, n_chars,
           -ln((('0x' || substr(md5('aes:' || doc_id::VARCHAR), 1, 15))::BIGINT
                + 1.0) / 1152921504606846977.0) / n_chars AS k
    FROM documents
    WHERE n_chars > 0
),
ranked AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (ORDER BY round(k, 9), doc_id) AS draw_rank
    FROM keyed
)
SELECT doc_id, source, n_chars, draw_rank
FROM ranked
WHERE draw_rank <= {_AES_K}
ORDER BY draw_rank
""",
)
def q190_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES): each document draws key = -ln(u)/w with weight w = n_chars
    and u a seeded-hash uniform in (0, 1]; the {_AES_K} smallest keys
    are the sample. Inclusion probability is proportional to weight,
    draws never repeat, and — because u is the portable hash60 of the
    doc_id — the SAME sample reproduces across runs, partitionings,
    and engines (q89 is the Bernoulli cousin; this one hits an exact
    sample SIZE).

    Scale shape: the key is an in-scan expression; the top-{_AES_K} is
    a TakeOrdered (per-partition heaps, no global sort). Keys round to
    9dp before ranking with doc_id tiebreak, so the libm-vs-JVM ln()
    ulp can't reorder the sample.
    """
    from batch_processing_new_spark.functions.text_funcs import salted_hash60
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    u = (
        salted_hash60("aes", F.col("doc_id"))
        + 1.0
    ) / 1152921504606846977.0  # (2^60 + 1): u in (0, 1], ln never sees 0
    # zero-weight rows are excluded by definition (P proportional to w =
    # 0); they would also divide by zero -> NULL, which the engines
    # order differently (Spark NULLS FIRST vs DuckDB NULLS LAST)
    keyed = d.where(F.col("n_chars") > 0).select(
        "doc_id",
        "source",
        "n_chars",
        F.round(-F.log(u) / F.col("n_chars"), 9).alias("k"),
    )
    # global top-k via TakeOrderedAndProject (per-partition heaps), NOT
    # an unpartitioned window over the corpus; the rank window then
    # runs on the {_AES_K}-row result only
    top = keyed.orderBy("k", "doc_id").limit(_AES_K)
    w = Window.orderBy("k", "doc_id")
    return (
        top.withColumn("draw_rank", F.row_number().over(w))
        .select("doc_id", "source", "n_chars", "draw_rank")
        .orderBy("draw_rank")
    )

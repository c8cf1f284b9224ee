"""Relational core: filter/project, joins, aggregation, rollup/cube,
windows, sort/limit/top-k, set ops, string/date/JSON functions.

SURVEY.md §2B rows 1-11. Everything here is built-in DataFrame ops —
whole-stage-codegen'd JVM execution, no Python in the data path. Each query
has a DuckDB oracle.

Float determinism: double summation is order-dependent, and Spark's
partial-agg tree ordering differs from DuckDB's — so every money-ish SUM
goes through ``DECIMAL(30,8)`` (exact integer arithmetic, order-insensitive)
and is cast back to double for the output schema. That makes results
bit-identical across engines AND across partition counts — i.e. the same
query gives the same bytes at sf0.001 on 8 threads and at 100 TB on 1000
executors. Averages are exact-sum / count in double.

Scale notes per query are inline; the common ones:
- dimension joins (region/nation/customer/supplier) are broadcast —
  ``F.broadcast`` pins it even if stats are missing;
- fact-fact joins shuffle on the join key and rely on AQE for skew;
- aggregations are partial (map-side combine) by construction in Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_processing_new_spark.functions.timekit import epoch_micros
from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import load_table

# Exact, order-insensitive SUM over a double expression (see module doc).
DEC = "decimal(30,8)"


def dsum(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1))


def _dsum_sql(expr: str) -> str:
    return f"CAST(CAST(sum(CAST(({expr}) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)"


def _davg_sql(expr: str) -> str:
    return f"CAST(CAST(sum(CAST(({expr}) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) / count(*)"


# ---------------------------------------------------------------- Q1: agg

@query(
    "q01_pricing_summary",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       {_dsum_sql('l_quantity')}                                        AS sum_qty,
       {_dsum_sql('l_extendedprice')}                                   AS sum_base_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')}                AS sum_disc_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}  AS sum_charge,
       {_davg_sql('l_quantity')}                                        AS avg_qty,
       {_davg_sql('l_extendedprice')}                                   AS avg_price,
       {_davg_sql('l_discount')}                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: the flagship groupBy-agg.

    Scale: partial aggregation map-side; only |groups| rows shuffle. The
    shipdate filter and 7-column projection push into the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    pre = li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00").select(
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ------------------------------------------------- Q2: filter + project

@query(
    "q02_filter_project",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-side work: predicate pushdown + column pruning.

    ``.explain`` shows the predicates in PushedFilters and a ReadSchema of
    exactly the needed columns — the scan never materializes the rest.
    (net_price has 4 true decimal digits, so round-to-4 is on-grid and
    tie-free on both engines.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
    )


# ------------------------------------------------------- Q3: star join

@query(
    "q03_region_revenue",
    oracle=f"""
SELECT r.r_name                          AS region_name,
       count(*)                          AS n_orders,
       {_dsum_sql('o.o_totalprice')}     AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
)
def q03_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact ⋈ three dims, all broadcast.

    Scale: customer/nation/region are dimension tables — broadcasting them
    means the orders fact never shuffles; the only shuffle is the final
    5-group aggregate. At 100 TB the orders scan streams through
    map-side-only joins.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("region_name")
    )


# ----------------------------------------------- Q4/Q5: semi/anti joins

@query(
    "q04_semi_join",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""",
)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: no row multiplication, probe-side only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q05_anti_join",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
ORDER BY c_custkey
""",
)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join (dedup-against-reference shape).

    The orders side is filtered to high-value orders so the anti-join is
    non-degenerate at every SF (plain NOT EXISTS matches 0 customers at
    sf>=0.01 — a 0-row result would be a weak correctness signal).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# --------------------------------------------------- Q6: scan-heavy agg

@query(
    "q06_revenue_forecast",
    oracle=f"""
SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue,
       count(*)                                    AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 25
""",
)
def q06_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-style single-group aggregate — pure scan throughput."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.09)
        & (F.col("l_quantity") < 25)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------- Q7: distinct aggregation

@query(
    "q07_agg_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_orderkey)          AS n_orders,
       count(DISTINCT l_suppkey)           AS n_suppliers,
       count(*)                            AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty_int
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q07_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (Spark expands to a partial-agg tree)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty_int"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------------ Q8/Q9: rollup / cube

@query(
    "q08_rollup",
    oracle=f"""
SELECT o_orderstatus,
       o_orderpriority,
       count(*)                       AS n_orders,
       {_dsum_sql('o_totalprice')}    AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
-- no-op on any non-empty input (every real group aggregates >= 1
-- row); exists because Spark's rollup/cube emit NOTHING over an
-- empty relation while ANSI emits the () grand-total row — the
-- HAVING pins the oracle to the engine's (documented) behavior
HAVING count(*) > 0
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q08_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (grouping-sets family)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q09_cube",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       count(*)                     AS n_rows,
       {_dsum_sql('l_quantity')}    AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
-- same empty-relation pin as q08_rollup's HAVING (see there)
HAVING count(*) > 0
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def q09_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-dimension subtotals via CUBE."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# ------------------------------------------- Q10/Q11: window functions

@query(
    "q10_window_topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
           ) AS rn
    FROM orders
)
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def q10_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the canonical top-k-per-group window.

    Scale: one shuffle on o_custkey; per-partition sort; no global sort.
    Deterministic tie-break on o_orderkey.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


@query(
    "q11_window_running",
    oracle="""
SELECT event_id,
       user_id,
       round(sum(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 4)                                                                  AS running_value,
       round(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value,
       rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)       AS value_rank
FROM events
ORDER BY user_id, event_id
""",
)
def q11_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum, lag, rank per user.

    Running sums are sequential within a partition (same order both
    engines), so plain round-4 is deterministic here — no decimal needed.
    """
    e = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w_run), 4).alias("running_value"),
            F.round(F.lag("value").over(w_order), 4).alias("prev_value"),
            F.rank().over(w_rank).alias("value_rank"),
        )
        .orderBy("user_id", "event_id")
    )


# ------------------------------------------------ Q12: global top-k

@query(
    "q12_topk_global",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""",
)
def q12_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition top-100 then a k-way driver merge, never a full sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(100)
    )


# ------------------------------------------------------ Q13-15: set ops

@query(
    "q13_union_distinct",
    oracle="""
SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
UNION
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
ORDER BY c_custkey
""",
)
def q13_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two customer slices."""
    c = load_table(spark, sf_dir, "customer")
    a = c.where(F.col("c_custkey") % 2 == 0).select("c_custkey")
    b = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.unionByName(b).distinct().orderBy("c_custkey")


@query(
    "q14_intersect",
    oracle="""
SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
ORDER BY c_custkey
""",
)
def q14_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.where(F.col("c_custkey") % 2 == 0).select("c_custkey")
    b = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.intersect(b).orderBy("c_custkey")


@query(
    "q15_except",
    oracle="""
SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
ORDER BY c_custkey
""",
)
def q15_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.where(F.col("c_custkey") % 2 == 0).select("c_custkey")
    b = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    # subtract IS SQL EXCEPT; exceptAll().distinct() only coincides
    # when the left side is duplicate-free
    return a.subtract(b).orderBy("c_custkey")


# ------------------------------------------- Q16: string functions

@query(
    "q16_string_funcs",
    oracle="""
SELECT doc_id,
       upper(source)                                   AS source_uc,
       length(text)                                    AS text_len,
       string_split(trim(text), ' ')[1]                AS first_token,
       substr(text, 1, 20)                             AS prefix20,
       replace(substr(text, 1, 40), ' ', '_')          AS snake40,
       CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS mentions_spark
FROM documents
ORDER BY doc_id
""",
)
def q16_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (reference op 5 generalized): concat/upper/
    length/split/substring/replace/like — all codegen'd JVM expressions."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("source").alias("source_uc"),
        F.length("text").alias("text_len"),
        F.split(F.trim(F.col("text")), " ").getItem(0).alias("first_token"),
        F.substring("text", 1, 20).alias("prefix20"),
        F.regexp_replace(F.substring("text", 1, 40), " ", "_").alias("snake40"),
        F.when(F.col("text").contains("spark"), 1).otherwise(0).alias("mentions_spark"),
    ).orderBy("doc_id")


# --------------------------------------------- Q17: date/time functions

@query(
    "q17_date_funcs",
    oracle=f"""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
       count(*)                                               AS n_orders,
       {_dsum_sql('o_totalprice')}                            AS revenue,
       strftime(min(o_orderdate), '%Y-%m-%d')                 AS first_day,
       strftime(max(o_orderdate), '%Y-%m-%d')                 AS last_day
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
""",
)
def q17_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal bucketing: date_trunc + monthly revenue rollup.

    Date-ish outputs are serialized as 'YYYY-MM-DD' strings on both the
    Spark and oracle side: pandas has no date dtype, so returning DATE
    yields object-vs-datetime64 comparisons that hash unequal.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderdate") >= "1997-01-01 00:00:00")
        .groupBy(
            # trunc -> DATE (pure calendar), not date_trunc, which
            # promotes NTZ input through the session zone
            F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd")
            .alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_day"),
        )
        .orderBy("order_month")
    )


# ------------------------------------------------- Q18: JSON functions

@query(
    "q18_json_funcs",
    oracle="""
WITH x AS (
    -- CASE-gated: DuckDB's json_extract_string ERRORS on malformed
    -- JSON where Spark's from_json returns NULL, and a bare
    -- json_valid() AND does not short-circuit in a vectorized engine
    -- (tools/poison_sweep.py finding)
    SELECT event_type,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
           END AS k
    FROM events
)
SELECT event_type,
       count(*)                          AS n_events,
       CAST(sum(k) AS BIGINT)            AS sum_k,
       round(avg(k), 6)                  AS avg_k
FROM x
GROUP BY event_type
ORDER BY event_type
""",
)
def q18_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: from_json on the events.props payload.
    Malformed payload rows extract NULL on both sides (from_json's
    PERMISSIVE NULL vs the oracle's json_valid CASE gate)."""
    e = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            # exact mean: F.avg over ints sums in DOUBLE (partition-
            # order noise) while DuckDB's int avg sums exactly
            F.round(F.sum("k") / F.count("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------- Q19: pivot (cond. agg)

@query(
    "q19_pivot",
    oracle=f"""
SELECT l_returnflag,
       {_dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END")} AS qty_open,
       {_dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END")} AS qty_fulfilled,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q19_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot by conditional aggregation (explicit column list — the
    scale-safe form: no second pass to discover pivot values)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            dsum(
                F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)
            ).alias("qty_open"),
            dsum(
                F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)
            ).alias("qty_fulfilled"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------- Q20: big fact-fact join

@query(
    "q20_order_lineitem_join",
    oracle=f"""
SELECT o.o_orderpriority,
       count(DISTINCT o.o_orderkey)                            AS n_orders,
       {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')}   AS revenue
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q20_order_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact shuffle join orders ⋈ lineitem.

    Scale: both sides hash-shuffle on orderkey (co-partitioned join); the
    orderdate filter is pushed to the orders scan, shrinking the build
    side before the shuffle. AQE handles skewed order keys.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.where(
            (F.col("o_orderdate") >= "1996-01-01 00:00:00")
            & (F.col("o_orderdate") < "1998-01-01 00:00:00")
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ------------------------------------------- Q21: sessionization (batch)

@query(
    "q21_sessionize",
    oracle="""
WITH gaps AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
),
sessions AS (
    SELECT user_id, value,
           sum(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM gaps
)
SELECT user_id,
       CAST(max(session_id) AS BIGINT)  AS n_sessions,
       count(*)                         AS n_events,
       round(CAST(CAST(sum(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE), 4)
                                        AS total_value
FROM sessions
GROUP BY user_id
ORDER BY user_id
""",
)
def q21_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-min-gap sessions via lag + running sum.

    Scale: one shuffle on user_id, two window passes over the same
    partitioning (Spark reuses the exchange), then a partial agg.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # TZ-free gap: epoch micros via NTZ timestamp_diff (timekit), so a
    # session-zone DST transition inside a gap can't distort it — the
    # cast("timestamp") route interprets in the session zone, where a
    # spring-forward hour would shrink a wall-clock gap by 3600 s.
    as_sec = lambda c: epoch_micros(c) / 1_000_000.0  # noqa: E731
    gap_sec = as_sec(F.col("ts")) - as_sec(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_sec > 1800.0), 1).otherwise(0)
    return (
        e.withColumn("is_new_session", is_new)
        .withColumn("session_id", F.sum("is_new_session").over(w_run))
        .groupBy("user_id")
        .agg(
            F.max("session_id").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            # dsum discipline: a raw double sum is partition-order-
            # dependent (the q108 sf0.1 boundary-flip class)
            F.round(dsum("value"), 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------- Q22: grouping sets (explicit)

@query(
    "q22_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q22_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (via SQL — same Catalyst Expand operator)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


# ------------------------------------ VARIANT semi-structured extraction

@query(
    "q125_variant_json",
    oracle="""
WITH x AS (
    -- CASE-gated like q18: malformed props must extract NULL, not
    -- abort the audit (tools/poison_sweep.py finding)
    SELECT event_type,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
           END AS k
    FROM events
)
SELECT event_type,
       count(*)                                          AS n_events,
       CAST(min(k) AS INT)                               AS min_k,
       CAST(max(k) AS INT)                               AS max_k,
       CAST(count(DISTINCT k) AS BIGINT)                 AS distinct_k
FROM x
GROUP BY event_type
ORDER BY event_type
""",
)
def q125_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extraction — the schema-on-read path for
    payloads whose shape isn't known at pipeline-build time (q18 is the
    schema-declared ``from_json`` twin).

    Why VARIANT at scale: the parse happens once and the binary
    encoding carries ALL fields; adding an extraction later is a
    projection, not a re-parse of the raw string, and columnar readers
    can shred hot paths. Aggregation shape identical to q18 (map-side
    combine on a 5-key groupBy).
    """
    e = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: VARIANT parsing is strict, so one
    # malformed payload row would abort the whole job instead of
    # extracting NULL (tools/poison_sweep.py finding; matches q18's
    # PERMISSIVE from_json and the oracle's json_valid gate)
    v = F.try_parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("distinct_k"),
        )
        .orderBy("event_type")
    )

"""Training-corpus assembly operators: decontamination, sequence
packing, stratified splits, and token-budget mixture sampling.

These are the steps between "cleaned corpus" (dedup.py, analytics.py
quality filters) and "batches on the trainer": remove eval overlap,
carve reproducible splits, sample each source to its token budget, and
pack documents into fixed-capacity sequences. North-Star surface
(SURVEY.md §2B: text analysis / 100 TB scale; reference corpus-prep
framing at `test.py:141-285` stops at per-row enrichment — everything
here is the declared extension, validated on the `documents` fixture).

Scale notes:
- Decontamination is a broadcast join: the eval set is tiny next to the
  corpus (benchmarks are KBs-to-MBs vs TBs), so its distinct n-grams
  broadcast and the corpus scans once — no corpus shuffle at all.
- Splits / mixture sampling are hash-gated windows: the only shuffle
  keys are (lang) / (source), both low-cardinality but size-bounded
  per group by the window's streaming evaluation; deterministic
  ordering comes from the same portable md5 hash as q61/q89, so
  results are independent of partitioning and re-runs.
- Packing shuffles once on a salted shard key, then packs each shard
  independently in an Arrow-batched grouped map — the classic
  "pack within worker, never globally" trade every trainer makes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import (
    FANOUT_PY_TASK_BYTES,
    adaptive_width,
    fan_out,
    load_table,
    pin_before_sort,
)
from batch_processing_new_spark.functions.text_funcs import (
    hash60_sql,
    salted_hash60,
    tokens,
)

# 3-grams, not the 8-13 real pipelines use: the synthetic fixture's
# ~30-word vocabulary makes longer grams collision-free (5-grams flag 1
# doc of 494 at sf0.01 — a vacuous check), while 3-grams flag ~35%, so
# the oracle actually exercises the join. The n is a dial, not the op.
_N = 3            # decontamination n-gram size
EVAL_MOD = 97     # doc_id % EVAL_MOD == 0 -> held-out eval doc
PACK_CAPACITY = 512
PACK_SHARDS = 8
SPLIT_FRAC = 0.2  # validation fraction per stratum
# below every source's fixture total (1136-1553 tokens at sf0.01) so
# the budget cut is non-vacuous at the verify scale
MIX_BUDGET = 800  # token budget per source


@query(
    "q95_decontaminate",
    # text IS NOT NULL on BOTH sides: for NULL text Spark's gram
    # expression emits one empty-string gram (concat_ws skips NULLs)
    # while DuckDB's list pipeline emits none (NULL list -> no unnest
    # row) — excluding NULL-text docs identically removes the
    # divergence class before any fixture can exhibit it
    oracle=f"""
WITH tok AS (
    SELECT doc_id, string_split(trim(text), ' ') AS t
    FROM documents WHERE text IS NOT NULL
),
grams AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(greatest(len(t) - {_N}, 0) + 1),
               i -> array_to_string(list_slice(t, i + 1, i + {_N}), ' ')
           ))) AS gram
    FROM tok
),
ev AS (
    SELECT DISTINCT gram, doc_id AS eval_doc
    FROM grams WHERE doc_id % {EVAL_MOD} = 0
)
SELECT g.doc_id,
       count(DISTINCT g.gram)     AS n_shared_grams,
       count(DISTINCT ev.eval_doc) AS n_eval_docs
FROM grams g JOIN ev USING (gram)
WHERE g.doc_id % {EVAL_MOD} <> 0
GROUP BY g.doc_id
ORDER BY doc_id
""",
)
def q95_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    token n-gram (n=3 here; see _N) with the held-out eval slice (doc_id % 97 == 0 stands
    in for the benchmark corpus), with how many distinct grams and how
    many eval documents each one collides with.

    The n-gram-collision scan every serious pretraining pipeline runs
    before training. Plan shape: the eval side collapses to its
    distinct grams and BROADCASTS — the corpus side is one scan + one
    per-doc aggregation, zero corpus shuffle, which is what makes this
    viable when the corpus is 100 TB and the benchmark suite is not.
    """
    from batch_processing_new_spark.functions.text_funcs import shingles_of

    d = load_table(spark, sf_dir, "documents")
    # shingles_of IS the gram builder (identical output to the removed
    # local _grams for every array size) — one shingle implementation
    # repo-wide, so dedup and decontamination can't drift apart.
    # fan_out pays here: the shingle chain on 4 tasks beat one row group
    # in 9-10/10 rounds (per-site A/B, TUNING.md "Scan-stage parallelism")
    grams = (
        fan_out(d.select("doc_id", "text"))
        .where(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("_toks"))
        .select(
            "doc_id", F.explode(shingles_of(F.col("_toks"), _N)).alias("gram")
        )
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev = (
        grams.where(is_eval)
        .select("gram", F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    return (
        grams.where(~is_eval)
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


@query(
    "q97_stratified_split",
    oracle=f"""
WITH ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))::BIGINT,
                        doc_id
           ) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents
)
SELECT doc_id, lang,
       CASE WHEN rn <= ceil(n * {SPLIT_FRAC}) THEN 'validation'
            ELSE 'train' END AS split
FROM ranked
ORDER BY doc_id
""",
)
def q97_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified train/validation split: per language stratum,
    rank documents by a salted portable hash and take exactly
    ceil(20% of the stratum) as validation.

    Unlike the probabilistic gates (q61/q89) this honors the requested
    proportion EXACTLY per stratum — the property you need for small
    strata where a Bernoulli gate's variance could empty the split.
    Deterministic under re-runs and repartitioning (hash order, doc_id
    tiebreak), so training jobs can recompute the split instead of
    persisting membership tables.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = salted_hash60("split", F.col("doc_id"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    wn = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .select(
            "doc_id",
            "lang",
            F.when(
                F.col("rn") <= F.ceil(F.col("n") * SPLIT_FRAC), "validation"
            )
            .otherwise("train")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@query(
    "q98_token_budget_mix",
    oracle=f"""
WITH sized AS (
    SELECT doc_id, source,
           len(string_split(trim(text), ' ')) AS tok_count,
           ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
    FROM documents
),
cum AS (
    SELECT doc_id, source, tok_count,
           CAST(sum(tok_count) OVER (
               PARTITION BY source ORDER BY h, doc_id
           ) AS BIGINT) AS cum_tokens
    FROM sized
)
SELECT doc_id, source, tok_count, cum_tokens
FROM cum
WHERE cum_tokens <= {MIX_BUDGET}
ORDER BY doc_id
""",
)
def q98_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: every source contributes documents
    in deterministic hash order until its running token total reaches
    the per-source budget — the "data mixing" step that turns source
    weights into an actual corpus slice.

    One window over (source): the shuffle key is the mixture component,
    the running sum streams within each, and the hash order makes the
    slice a stable function of the corpus — rerunning after adding new
    documents only ever appends candidates at hash positions, it never
    silently reshuffles what was already sampled.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = salted_hash60("mix", F.col("doc_id"))
    sized = d.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("tok_count"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("tok_count").over(w))
        .where(F.col("cum_tokens") <= MIX_BUDGET)
        .select("doc_id", "source", "tok_count", "cum_tokens")
        .orderBy("doc_id")
    )


def nextfit_bins(sizes: list[int], capacity: int) -> list[int]:
    """Greedy next-fit: bin id per size, in order. A size that would
    overflow the open bin closes it; an oversized size still gets a bin
    (its own). Kept as a pure function so its invariants are
    property-tested (hypothesis) without driving Spark."""
    bins: list[int] = []
    cum, cur = 0, 0
    for tok in sizes:
        if cum + tok > capacity and cum > 0:
            cur += 1
            cum = 0
        cum += tok
        bins.append(cur)
    return bins


def pack_sequences(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """Greedy next-fit sequence packing: assign each document to a
    (shard, bin) so that bins hold consecutive docs (in deterministic
    hash order) whose token counts sum to <= ``capacity``; a document
    larger than the capacity gets a bin of its own.

    The trainer-side step that turns a document corpus into
    fixed-length sequence slots. Globally optimal bin packing is
    NP-hard and needs all sizes in one place; the scalable trade —
    identical to what sequence-packing dataloaders do — is to shard by
    hash (one shuffle) and pack WITHIN shards via an Arrow-batched
    grouped map, accepting next-fit's <= 2x waste bound. Shard
    boundaries, order, and therefore every bin assignment are portable
    hash functions of doc_id alone: re-runs and repartitionings
    reproduce the same packing bit-for-bit.
    """
    from pyspark.sql.types import (
        LongType,
        IntegerType,
        StructField,
        StructType,
    )

    sized = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("tok_count"),
        F.pmod(
            salted_hash60("shard", F.col("doc_id")),
            F.lit(n_shards),
        ).cast("int").alias("shard"),
        salted_hash60("pack", F.col("doc_id")).alias(
            "h"
        ),
    )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("shard", IntegerType()),
            StructField("bin_id", LongType()),
            StructField("tok_count", IntegerType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["h", "doc_id"], kind="mergesort")
        bins = nextfit_bins(list(pdf["tok_count"]), capacity)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "shard": pdf["shard"].to_numpy(),
                "bin_id": bins,
                "tok_count": pdf["tok_count"].to_numpy(),
            }
        )

    return sized.groupBy("shard").applyInPandas(pack, out_schema)


@query(
    "q96_pack_sequences",
    oracle=f"""
WITH RECURSIVE sized AS (
    SELECT doc_id,
           len(string_split(trim(text), ' '))::INT AS tok_count,
           ({hash60_sql("'shard:' || doc_id::VARCHAR")} % {PACK_SHARDS})::INT
               AS shard,
           {hash60_sql("'pack:' || doc_id::VARCHAR")} AS h
    FROM documents
),
numbered AS (
    SELECT doc_id, tok_count, shard,
           row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
    FROM sized
),
rec(shard, pos, doc_id, tok_count, bin_id, cum) AS (
    SELECT shard, pos, doc_id, tok_count, 0::BIGINT, tok_count::BIGINT
    FROM numbered WHERE pos = 1
    UNION ALL
    SELECT n.shard, n.pos, n.doc_id, n.tok_count,
           CASE WHEN r.cum + n.tok_count > {PACK_CAPACITY} AND r.cum > 0
                THEN r.bin_id + 1 ELSE r.bin_id END,
           CASE WHEN r.cum + n.tok_count > {PACK_CAPACITY} AND r.cum > 0
                THEN n.tok_count ELSE r.cum + n.tok_count END
    FROM rec r JOIN numbered n ON n.shard = r.shard AND n.pos = r.pos + 1
)
SELECT doc_id, shard, bin_id, tok_count FROM rec
ORDER BY doc_id
""",
)
def q96_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing of the documents corpus into 512-token bins.

    The oracle replays the same next-fit recurrence as a per-shard
    recursive CTE (one step per position — the capacity-reset chain is
    linear, so it IS SQL-expressible after all; upgraded from the
    original rows-only contract)."""
    d = load_table(spark, sf_dir, "documents")
    # pin the per-shard applyInPandas packing pass ahead of the
    # presentation sort: the range sampling otherwise dispatches every
    # per-shard Python call twice (r12 pin audit, FLAG-python)
    return pin_before_sort(pack_sequences(d)).orderBy("doc_id")


DOMAIN_CAP = 15  # max documents any one source may contribute


@query(
    "q105_domain_cap",
    oracle=f"""
WITH ranked AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5('cap:' || doc_id::VARCHAR), 1, 15))::BIGINT,
                        doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, source
FROM ranked
WHERE rn <= {DOMAIN_CAP}
ORDER BY doc_id
""",
)
def q105_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap: at most DOMAIN_CAP (15) documents per
    source, chosen in deterministic hash order — the "no single domain
    dominates the corpus" guard (caps boilerplate-heavy domains without
    touching the rest).

    Differs from q97 (fractional split) and q98 (token budget) in being
    an absolute per-group row cap — the third sampling primitive
    pipelines combine. Same scale shape: one window keyed on the
    capped dimension, hash order makes the kept set stable under
    re-runs and data appends.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = salted_hash60("cap", F.col("doc_id"))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= DOMAIN_CAP)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


N_SHARDS = 16  # output shards for the shuffled corpus


@query(
    "q112_seeded_shuffle_shard",
    oracle=f"""
WITH ordered AS (
    SELECT doc_id, source,
           row_number() OVER (
               ORDER BY {hash60_sql("'shuffle:' || doc_id::VARCHAR")}, doc_id
           ) - 1 AS pos
    FROM documents
)
SELECT doc_id, source, pos, pos % {N_SHARDS} AS shard
FROM ordered
ORDER BY pos
""",
)
def q112_seeded_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the "randomize
    example order, then cut into equal training shards" step every
    pre-training data build ends with. The permutation is the hash
    order of a seeded key, so it is reproducible across runs, clusters,
    and partitionings (``rand()`` is none of those), and appending new
    data permutes the new rows into place without reshuffling decisions
    already made about old rows' relative order.

    Scale shape: the global ``row_number`` is a range-partitioned sort
    on the 60-bit hash (uniform keys -> balanced ranges) followed by
    the two-pass zipWithIndex pattern: count rows per sorted partition
    (one tiny collect of P longs), prefix-sum the offsets on the
    driver, then add ``offset[pid] + local_index`` in a narrow Arrow
    pass. NO single-partition global window anywhere — every stage is
    P-way parallel, so the plan survives 100 TB. Round-robin
    ``pos % N`` makes shard sizes exactly equal (±1); writing then
    partitions by ``shard``. If exact equality is not required,
    ``hash % N`` alone drops the sort entirely (shard sizes ~Poisson)
    — that variant is the zero-shuffle path for incremental appends.

    The result is partitioning-independent: sortWithinPartitions over
    ordered range partitions IS the total (h, doc_id) order, wherever
    the range boundaries happen to fall.
    """
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")
    h = salted_hash60("shuffle", F.col("doc_id"))
    keyed = d.select("doc_id", "source", h.alias("h"))
    # data-sized range width (adaptive_width): pos is the TOTAL
    # (h, doc_id) order, so shard assignment is width-independent —
    # width only sets parallelism, and core-count ranges over a tiny
    # input pay ~cores x the per-task fixed overhead.
    # Cap stays the old max(cores, N_SHARDS) so large inputs keep
    # full-width ranges.
    n_part = min(
        adaptive_width(keyed, task_bytes=FANOUT_PY_TASK_BYTES, multiple=2),
        max(spark.sparkContext.defaultParallelism, N_SHARDS),
    )
    part = (
        keyed.repartitionByRange(n_part, "h", "doc_id")
        .sortWithinPartitions("h", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        # pin the partitioning so the count pass and the assign pass
        # see identical pids/row order
        .localCheckpoint(eager=False)
    )
    counts = {
        r.pid: r.n
        for r in part.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        if counts[pid] >= (1 << 33):
            raise ValueError(
                f"q112: range partition {pid} holds {counts[pid]} rows "
                "(>= 2^33); raise the partition width"
            )
        offsets.append((pid, acc))
        acc += counts[pid]
    off = spark.createDataFrame(
        offsets,
        T.StructType(
            [
                T.StructField("pid", T.IntegerType(), False),
                T.StructField("_off", T.LongType(), False),
            ]
        ),
    )
    # JVM-only offset assign (the with_ingest_row_id pattern, r11):
    # pos = offset[pid] + per-partition local index, where the local
    # index is the low 33 bits of monotonically_increasing_id evaluated
    # over the PINNED blocks (counter in iteration order — exactly the
    # row order the previous mapInPandas pass walked). Replaces the
    # Arrow mapInPandas offset pass: no Python workers, no Arrow
    # round-trip, no package shipping — the whole assign is one narrow
    # JVM projection plus a broadcast join of P offset rows. The final
    # sort's range sampling re-runs only this cheap chain over the
    # checkpointed blocks, so the mapInPandas-era pin is unnecessary.
    local_idx = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    pos = (F.col("_off") + F.col("_li")).cast(T.LongType())
    return (
        part.withColumn("_li", local_idx)
        .join(F.broadcast(off), "pid")
        .select(
            "doc_id",
            "source",
            pos.alias("pos"),
            (pos % N_SHARDS).cast(T.LongType()).alias("shard"),
        )
        .orderBy("pos")
    )


_TEMP_ALPHA = 0.3     # multilingual-balancing temperature (alpha < 1 upsamples tails)
_TEMP_BUDGET = 10000  # docs allocated across sources


@query(
    "q177_temperature_mix",
    oracle=f"""
WITH per_source AS (
    SELECT source, sum(n_chars)::BIGINT AS chars, count(*)::BIGINT AS docs
    FROM documents GROUP BY source
),
powed AS (
    SELECT source, chars, docs,
           CAST(round(pow(chars, {_TEMP_ALPHA}), 6) AS DECIMAL(30,6)) AS pw
    FROM per_source
),
tot AS (SELECT sum(pw) AS spw FROM powed)
SELECT p.source, p.chars, p.docs,
       round(CAST(CAST(p.pw AS VARCHAR) AS DOUBLE)
             / CAST(CAST(t.spw AS VARCHAR) AS DOUBLE), 6) AS weight,
       CAST(floor(CAST(CAST(p.pw AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(t.spw AS VARCHAR) AS DOUBLE)
                  * {_TEMP_BUDGET}) AS BIGINT)
           AS alloc_docs
FROM powed p CROSS JOIN tot t
ORDER BY p.source
""",
)
def q177_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source reweighting (the multilingual-
    balancing rule: w_i proportional to c_i^alpha, alpha=_TEMP_ALPHA=0.3): per
    source its exact char mass, the normalized sampling weight, and
    the floor-allocated doc budget out of _TEMP_BUDGET=10000. Alpha < 1
    flattens the head and upsamples low-resource sources — the
    mBERT/XLM-R exponential-smoothing recipe, and the knob q98's
    token-budget sampler consumes.

    Determinism discipline: pow() is the one non-rational step, so it
    is rounded to 6 decimals BEFORE entering the aggregate and summed
    as DECIMAL — the normalizing denominator is then exact and
    partition-order-independent (the dsum rule from relational.py
    applied to a float intermediate). Shapes: one groupBy(source) over
    the scan, a 1-row total broadcast back over the |sources| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum("n_chars").alias("chars"), F.count("*").alias("docs")
    )
    powed = per_source.withColumn(
        "pw",
        F.round(F.pow(F.col("chars"), F.lit(_TEMP_ALPHA)), 6).cast(
            "decimal(30,6)"
        ),
    )
    tot = powed.agg(F.sum("pw").alias("spw"))
    # divide as DOUBLES: Spark's decimal/decimal division rounds the
    # quotient to decimal(38,8) BEFORE the cast, which can cross a
    # floor(frac*10000) boundary the oracle's full-precision double
    # division does not (verified: quotient 0.123499996 -> alloc 1235
    # vs 1234)
    frac = F.col("pw").cast("double") / F.col("spw").cast("double")
    return (
        powed.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "chars",
            "docs",
            F.round(frac, 6).alias("weight"),
            F.floor(frac * _TEMP_BUDGET).cast("bigint").alias("alloc_docs"),
        )
        .orderBy("source")
    )


_BUCKET_W = 16  # token-length bucket width


@query(
    "q178_length_bucket_packing",
    oracle=f"""
WITH lens AS (
    SELECT doc_id,
           len(string_split(trim(text), ' '))::BIGINT AS n_tok
    FROM documents
),
bucketed AS (
    SELECT doc_id, n_tok, (n_tok // {_BUCKET_W})::BIGINT AS bucket
    FROM lens
)
SELECT bucket,
       count(*)::BIGINT AS n_docs,
       min(n_tok) AS min_tok,
       max(n_tok) AS max_tok,
       (count(*) * max(n_tok) - sum(n_tok))::BIGINT AS padding_waste,
       round((count(*) * max(n_tok) - sum(n_tok))
             / (count(*) * max(n_tok)), 6) AS waste_frac
FROM bucketed
GROUP BY bucket
ORDER BY bucket
""",
)
def q178_length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: bucket documents by token count
    (width _BUCKET_W=16 tokens), and per bucket report how much padding a
    pad-to-bucket-max batcher wastes (absolute tokens and fraction) —
    the decision table for choosing bucket boundaries in a training
    dataloader (global pad-to-max is the degenerate single bucket;
    q96's packer is the zero-padding alternative this quantifies
    against). Waste identity: sum(bucket_max - len) == n*max - sum(len),
    so one aggregate pass computes it from (count, max, sum) partials.

    One scan -> in-row token count -> groupBy(bucket) — a single
    shuffle of |buckets| rows, no window pass anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    lens = d.select(
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    bucketed = lens.withColumn(
        "bucket", F.floor(F.col("n_tok") / _BUCKET_W).cast("bigint")
    )
    agg = bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        F.sum("n_tok").alias("sum_tok"),
    )
    waste = F.col("n_docs") * F.col("max_tok") - F.col("sum_tok")
    return agg.select(
        "bucket",
        "n_docs",
        "min_tok",
        "max_tok",
        waste.alias("padding_waste"),
        F.round(waste / (F.col("n_docs") * F.col("max_tok")), 6).alias(
            "waste_frac"
        ),
    ).orderBy("bucket")


_LR_SEATS = 1000  # eval/labeling budget to apportion across sources


@query(
    "q186_largest_remainder",
    oracle=f"""
WITH per_source AS (
    SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT sum(n_docs)::BIGINT AS n FROM per_source),
quotas AS (
    SELECT p.source, p.n_docs,
           (p.n_docs * {_LR_SEATS}) // t.n AS base,
           (p.n_docs * {_LR_SEATS}) % t.n  AS rem
    FROM per_source p CROSS JOIN tot t
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
           {_LR_SEATS} - sum(base) OVER () AS leftover
    FROM quotas
)
SELECT source, n_docs, base::BIGINT AS quota_floor,
       (base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc
FROM ranked
ORDER BY source
""",
)
def q186_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a _LR_SEATS=1000-item
    labeling budget across sources, proportional to document counts:
    every source gets floor(n_i * S / N); the seats lost to flooring go
    to the largest fractional remainders (ties by source name). Unlike
    q177's independent floors, the allocations sum EXACTLY to the
    budget — the property human-labeling and eval-sampling budgets
    need.

    All arithmetic is integer (quota remainders are exact modulos), so
    the ranking is engine-identical. Shapes: one groupBy(source), then
    window ranking over the |sources|-row table — nothing data-scale
    after the first aggregate.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per_source.agg(F.sum("n_docs").alias("n"))
    quotas = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        # integer division (div), NOT floor(double /): the double
        # quotient can round up across an integer at extreme counts,
        # decoupling base from the exact modulo below
        F.expr(f"n_docs * {_LR_SEATS} div n").alias("base"),
        ((F.col("n_docs") * _LR_SEATS) % F.col("n")).alias("rem"),
    )
    w = Window.orderBy(F.col("rem").desc(), "source")
    wall = Window.partitionBy()
    ranked = quotas.withColumn("rr", F.row_number().over(w)).withColumn(
        "leftover", F.lit(_LR_SEATS) - F.sum("base").over(wall)
    )
    return ranked.select(
        "source",
        "n_docs",
        F.col("base").cast("bigint").alias("quota_floor"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("source")

"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-Star surface for training-data pipelines (SURVEY.md §2B). All four
families are pure DataFrame compositions — shuffles only on
fingerprints/shingles/buckets, Python never touches the data path:

- exact: token-set fingerprint -> groupBy  (one shuffle on the hash)
- Jaccard: inverted shingle index -> self-join -> pair agg (the join is
  on (block, token), so each posting list stays small; at 100 TB you
  block on a cheap key and/or drop ultra-common shingles)
- MinHash: explode tokens x H hash-ids -> min per (doc, hash) -> banded
  LSH buckets -> candidate pairs -> exact-Jaccard verify
- SimHash: per-token 60-bit hash -> bit-vote via explode(sequence(0,59))
  -> sign-pack to one BIGINT per doc

MinHash signatures and SimHash values use the md5-based ``hash60`` so
DuckDB recomputes them exactly (full value-hash oracles); the SimHash
pair pipeline (q39) including its chunk blocking is likewise oracled
end to end. Only the MinHash-LSH pair-finding (q37) is Spark-only —
its xxhash64 base hash has no DuckDB twin — with a recall invariant in
tests (tests/test_dedup.py) against the exact-Jaccard ground truth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.functions.text_funcs import (
    TOKEN_SET_FP_SQL,
    ascii_lower,
    distinct_tokens,
    hash60,
    hash60_sql,
    token_set_fingerprint,
)
from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import (
    fan_out,
    load_table,
    pin_before_sort,
)

NUM_MINHASHES = 8
LSH_BAND_SIZE = 2  # 4 bands of 2 -> catches Jaccard >~ 0.5 reliably


# --------------------------------------------------------- exact dedup

@query(
    "q33_dedup_exact_groups",
    oracle=f"""
SELECT {TOKEN_SET_FP_SQL}  AS token_set_fp,
       count(*)            AS n_docs,
       min(doc_id)         AS keeper_id
FROM documents
GROUP BY 1
ORDER BY token_set_fp
""",
)
def q33_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, group view: hash-groupBy on the token-set fingerprint.

    Scale: the only shuffle moves (fp, partial count, partial min) — full
    map-side combine; the document text never shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(token_set_fingerprint(F.col("text")).alias("token_set_fp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
        .orderBy("token_set_fp")
    )


@query(
    "q34_dedup_exact_keep_first",
    oracle=f"""
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY {TOKEN_SET_FP_SQL}
                              ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
ORDER BY doc_id
""",
)
def q34_dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, survivor view: deterministic keep-lowest-id.

    ``dropDuplicates`` keeps an *arbitrary* row per key — fine for
    idempotence, wrong for reproducible corpus builds — so the engine's
    dedup is an explicit window rank (deterministic at any partitioning).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(token_set_fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------- n-gram Jaccard near-dup

# q35's oracle body (no ORDER BY) — reused by q90's recursive-closure
# oracle, which clusters these exact pairs.
_Q35_PAIRS_SQL = """
WITH tok AS (
    SELECT doc_id, source,
           unnest(list_distinct(string_split(trim(text), ' '))) AS t
    FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM tok a JOIN tok b ON a.source = b.source AND a.t = b.t
                         AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.8
"""


@query(
    "q35_jaccard_pairs",
    oracle=_Q35_PAIRS_SQL + "ORDER BY id_a, id_b",
)
def q35_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard >= 0.8 pairs within source blocks.

    Inverted-index self-join: explode distinct tokens, join postings on
    (source, token), count common tokens per pair, |A∪B| = |A|+|B|-common.
    Blocking on ``source`` bounds each posting list — the scale lever
    (without a block key, drop stop-shingles / use MinHash-LSH, q37).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d.select("doc_id", "source", "text")).select(
        "doc_id", "source", F.explode(distinct_tokens(F.col("text"))).alias("t")
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b")
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------------ MinHash

def _minhash_signatures(
    docs: DataFrame,
    num_hashes: int = NUM_MINHASHES,
    elements: Column | None = None,
) -> DataFrame:
    """(doc_id, hash_id, minhash): min over elements of hash60(i||':'||e).

    ``elements`` defaults to distinct unigram tokens (q36's oracle pins
    that variant); candidate generation passes shingles — see
    functions.text_funcs.shingles for why unigrams degenerate.
    One explode (elements x hash-ids) + one partial-agg min — the
    shuffle carries (doc, i, long), never text.
    """
    if elements is None:
        elements = distinct_tokens(F.col("text"))
    tok = fan_out(docs).select("doc_id", F.explode(elements).alias("t"))
    return (
        tok.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("hash_id"),
            F.col("t"),
        )
        .select(
            "doc_id",
            "hash_id",
            hash60(
                F.concat(F.col("hash_id").cast("string"), F.lit(":"), F.col("t"))
            ).alias("h"),
        )
        .groupBy("doc_id", "hash_id")
        .agg(F.min("h").alias("minhash"))
    )


@query(
    "q36_minhash_signatures",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_distinct(string_split(trim(text), ' '))) AS t
    FROM documents
)
SELECT doc_id, hash_id,
       min({hash60_sql("hash_id::VARCHAR || ':' || t")}) AS minhash
FROM tok, generate_series(0, {NUM_MINHASHES - 1}) g(hash_id)
GROUP BY doc_id, hash_id
ORDER BY doc_id, hash_id
""",
)
def q36_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with a full SQL oracle (md5-based hash60)."""
    d = load_table(spark, sf_dir, "documents")
    return _minhash_signatures(d).orderBy("doc_id", "hash_id")


MERSENNE31 = (1 << 31) - 1  # universal-hash modulus


def _universal_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p — derived
    from md5 so they're stable across sessions, like _hyperplanes."""
    import hashlib

    out = []
    for i in range(num_hashes):
        ha = hashlib.md5(f"mh:a:{i}".encode()).hexdigest()
        hb = hashlib.md5(f"mh:b:{i}".encode()).hexdigest()
        a = (int(ha[:8], 16) % (MERSENNE31 - 1)) + 1  # a != 0
        b = int(hb[:8], 16) % MERSENNE31
        out.append((a, b))
    return out


def _minhash_wide(
    docs: DataFrame, elements: Column, num_hashes: int
) -> DataFrame:
    """(doc_id, m0..m{k-1}) via universal hashing: ONE base hash per
    element, then num_hashes affine mixes mod 2^31-1 — no per-hash row
    blowup (the k-fold explode was the dominant cost of the
    md5-per-(i, element) scheme the oracle-checked q36 pins).

    The base hash is Spark's codegen'd ``xxhash64`` (seed 42, stable
    across sessions) folded nonnegative mod p — md5 here costs ~2x the
    whole stage and buys nothing: the quality requirement is only
    pairwise independence, which affine-mod-prime over any well-mixed
    base provides. a*h fits signed 64-bit since both factors < 2^31.
    """
    params = _universal_params(num_hashes)
    # expr strings, not Column algebra: the k affine mixes cost k x ~6
    # py4j round trips as Column ops vs k one-shot parses (the r11 q57
    # _const_matrix finding, applied to the signature constructor)
    base = docs.select("doc_id", F.explode(elements).alias("e")).select(
        "doc_id", F.expr(f"pmod(xxhash64(e), {MERSENNE31}) AS h")
    )
    aggs = [
        F.expr(f"min(({a} * h + {b}) % {MERSENNE31}) AS m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return base.groupBy("doc_id").agg(*aggs)


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, toks): each document's 3-token shingle array,
    materialized ONCE — three consumers derive from it (the signature
    explode and both sides of the verify join), and the interpreted
    shingle HOF is the single most expensive scan in either LSH
    variant (~30% of wall each). Shared by the xxhash64 (q37) and md5
    (q183) pipelines so verify/threshold changes cannot drift apart.

    NULL-text docs are excluded: Spark's NULL-skipping ``greatest``
    gave them the shingle set {''} (pairing every NULL-text doc with
    every empty-text doc at Jaccard 1), while DuckDB's NULL-propagating
    ``greatest`` drops them — tools/null_text_sweep.py finding."""
    from batch_processing_new_spark.functions.text_funcs import (
        shingles_of_spark_sql,
        tokens_spark_sql,
    )

    return (
        fan_out(docs.select("doc_id", "text").where(F.col("text").isNotNull()))
        .selectExpr("doc_id", f"{tokens_spark_sql('text')} AS _toks")
        .selectExpr("doc_id", f"{shingles_of_spark_sql('_toks')} AS toks")
        .localCheckpoint(eager=False)
    )


def _verify_candidates(
    toksets: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-Jaccard verification on candidate pairs only.

    The threshold compares the UNROUNDED ratio (q35's discipline — a
    pair at true Jaccard 0.49999975 must not slip in via round(6));
    the rounded value is output-only. Shared by both LSH variants and
    consistent with the q106 composed-pipeline oracle, which also
    compares unrounded."""
    ta = toksets.selectExpr("doc_id AS id_a", "toks AS toks_a")
    tb = toksets.selectExpr("doc_id AS id_b", "toks AS toks_b")
    return (
        candidates.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "_j",
            F.expr(
                "size(array_intersect(toks_a, toks_b))"
                " / size(array_union(toks_a, toks_b))"
            ),
        )
        # float(): the literal is built from repr, which for a numpy or
        # Decimal threshold is not SQL (``np.float64(0.5)`` under numpy 2)
        .where(F.expr(f"_j >= {float(threshold)!r}D"))
        .selectExpr("id_a", "id_b", "round(_j, 6) AS jaccard")
    )


def _band_self_join(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs from any shared (band_id, band_hash)
    bucket — the banding equi-join, shared by both LSH variants."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.band_id = b.band_id AND a.band_hash = b.band_hash"
                " AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr("a.doc_id AS id_a", "b.doc_id AS id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = NUM_MINHASHES,
    band_size: int = LSH_BAND_SIZE,
) -> DataFrame:
    """Near-dup pairs via shingle MinHash-LSH + exact shingle-Jaccard
    verification (Broder w-shingling; 3-token shingles).

    Candidate generation: band signature = hash of ``band_size``
    consecutive minhashes; docs sharing any band bucket become
    candidates (standard banding: P[candidate] = 1-(1-j^r)^b). The
    verify step computes exact Jaccard only on candidates.

    Scale: candidates shuffle on (band_id, band_hash) — skew only if a
    band bucket is hot, which AQE's skew-join splits; the verify join is
    |candidates|-bounded, not |pairs|.
    """
    if num_hashes % band_size != 0:
        # flooring would silently compute-and-discard the trailing
        # minhashes and weaken the banding below what was asked for
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by "
            f"band_size={band_size}"
        )
    toksets = _shingle_sets(docs)
    wide = _minhash_wide(toksets, F.col("toks"), num_hashes)
    # band hashes straight off the wide signature row — a projection,
    # not the unpivot + second groupBy(doc, band) shuffle. The band key
    # is the POSITIONAL tuple of the band's minhashes (hash_id order):
    # the classic banding construction the P[cand] = 1-(1-j^r)^b math
    # describes, and the same key the md5 twin (q183) and its SQL
    # oracle use — a value-SORTED key would collide permuted tuples
    # into one bucket and quietly admit extra candidates.
    n_bands = num_hashes // band_size
    band_cols = [
        "md5(concat_ws(',', "
        + ", ".join(
            f"CAST(m{b * band_size + j} AS STRING)"
            for j in range(band_size)
        )
        + f")) AS bh{b}"
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, bh{b}" for b in range(n_bands))
    bands = (
        wide.selectExpr("doc_id", *band_cols)
        .selectExpr(
            "doc_id", f"stack({n_bands}, {stack_args}) AS (band_id, band_hash)"
        )
        # tiny (docs x bands); materialize so the self-join + verify
        # don't re-run the signature pipeline per branch
        .localCheckpoint(eager=False)
    )
    # exact shingle-Jaccard verify on candidates only (same element set
    # the signatures hashed — Broder w-shingling end to end)
    return _verify_candidates(toksets, _band_self_join(bands), threshold)


@query("q37_minhash_lsh_pairs")  # Spark-only: LSH banding isn't sanely SQL-oracle-able
def q37_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-dup pairs at shingle-Jaccard >= 0.5 (recall vs
    the exact shingle-Jaccard ground truth asserted in tests)."""
    d = load_table(spark, sf_dir, "documents")
    # the verify join is a narrow broadcast chain over the checkpointed
    # shingle sets; unpinned, the final sort's range sampling re-runs it
    return pin_before_sort(minhash_lsh_pairs(d, threshold=0.5)).orderBy(
        "id_a", "id_b"
    )


# ------------------------------------------------------------ SimHash

SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): sign of per-bit votes over token hashes —
    Arrow-vectorized.

    One scalar pandas UDF over the distinct-token array: md5 the tokens
    (identical to `hash60`, asserted equal to `simhash_expr` in tests),
    vote all 60 bits in one numpy broadcast, pack the sign bits. The
    expression formulation (`simhash_expr`) explodes docs x tokens x 60
    rows through two shuffles — ~15M rows at sf0.1 for 5k docs — while
    this one moves only (doc_id, tokens) through one Arrow batch and
    shuffles nothing.
    """
    import hashlib

    from pyspark.sql.types import LongType

    bitpos = np.arange(SIMHASH_BITS, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def sim(toks: pd.Series) -> pd.Series:
        out = []
        for arr in toks:
            hs = np.array(
                [
                    int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                    for t in arr
                ],
                dtype=np.uint64,
            )
            bits = (hs[:, None] >> bitpos) & np.uint64(1)  # (n_tokens, 60)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.uint64) << bitpos).sum()))
        return pd.Series(out, dtype="int64")

    return (
        docs.select(
            "doc_id", distinct_tokens(F.col(text_col)).alias("_toks")
        )
        # NULL/empty text: the expression twin's explode emits no rows,
        # so those docs are ABSENT from its output — match that here
        # (the kernel would otherwise crash on a None array, and an
        # empty array would emit simhash=0 the twin never produces).
        # size(NULL) = -1, so one predicate covers both.
        .where(F.size("_toks") > 0)
        .select("doc_id", sim("_toks").alias("simhash"))
    )


def simhash_expr(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Pure-expression SimHash (the shuffle-based formulation): bit-vote
    via explode(sequence(0,59)), two partial-agg groupBys. Kept as the
    all-JVM reference implementation; `simhash` must match it exactly
    (tests/test_dedup.py)."""
    tok = fan_out(docs.select("doc_id", text_col)).select(
        "doc_id", F.explode(distinct_tokens(F.col(text_col))).alias("t")
    ).withColumn("h", hash60(F.col("t")))
    votes = (
        tok.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(
            # shift-by-column needs the SQL form (the classic-API
            # F.shiftright only takes a literal shift amount)
            F.sum(F.expr("CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END")).alias(
                "vote"
            )
        )
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN vote > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("simhash")
    )


@query(
    "q38_simhash",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_distinct(string_split(trim(text), ' '))) AS t
    FROM documents
),
th AS (SELECT doc_id, {hash60_sql('t')} AS h FROM tok),
votes AS (
    SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
    FROM th, generate_series(0, {SIMHASH_BITS - 1}) g(b)
    GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM votes
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q38_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document, exact SQL oracle."""
    d = load_table(spark, sf_dir, "documents")
    # pin the Arrow simhash pass: range sampling would run it twice
    return pin_before_sort(simhash(d)).orderBy("doc_id")


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 12) -> DataFrame:
    """SimHash near-dup: pairs with Hamming distance <= max_hamming.

    Candidate blocking on 4 x 15-bit chunks (pigeonhole: distance <= 12
    over 60 bits cannot make all 4 chunks differ... actually it can;
    chunking is a recall/cost dial like LSH banding — verified pairs are
    exact, recall is asserted in tests).

    The signature frame is materialized once (tiny: one long per doc):
    both sides of the chunk self-join consume it, and unpinned each
    side re-ran the Arrow simhash pass from the scan."""
    sh = simhash(docs).localCheckpoint(eager=False)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_id"),
    ).withColumn("chunk", F.expr("(simhash >> (chunk_id * 15)) & 32767"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


@query(
    "q39_simhash_neardup",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_distinct(string_split(trim(text), ' '))) AS t
    FROM documents
),
th AS (SELECT doc_id, {hash60_sql('t')} AS h FROM tok),
votes AS (
    SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
    FROM th, generate_series(0, {SIMHASH_BITS - 1}) g(b)
    GROUP BY doc_id, b
),
sh AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
),
chunks AS (
    SELECT doc_id, simhash, c.chunk_id,
           (simhash >> (c.chunk_id * 15)) & 32767 AS chunk
    FROM sh, generate_series(0, 3) c(chunk_id)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sh_a, b.simhash AS sh_b
    FROM chunks a
    JOIN chunks b
      ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
     AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 12
ORDER BY id_a, id_b
""",
)
def q39_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-blocked near-dup pairs (Hamming <= 12 of 60 bits).

    The chunk blocking is a deterministic function of the (oracle-
    checked, q38) simhash values, so the ENTIRE pipeline — blocking
    included — is SQL-expressible; the oracle replays it end to end
    (upgraded from the original rows-only contract)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(d).orderBy("id_a", "id_b")


# ---------------------------------------- duplicate-cluster resolution

def connected_components(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Resolve pairwise near-dup matches into clusters: every doc gets
    the minimum doc_id reachable through any chain of pairs
    (connected components by iterative min-label propagation).

    Pure DataFrame loop — each iteration is one join + one min-agg: a
    node adopts the smallest label among itself and its neighbors'
    labels; converged when no label changes. For the hash/LSH pair
    graphs dedup produces (many tiny components, diameter rarely > a
    few hops) this converges in O(component diameter) passes, each a
    single shuffle on doc_id — the simple two-table cousin of the
    large-star/small-star algorithm used for web-scale graphs.

    Returns (doc_id, cluster_id) for every doc that appears in a pair;
    singletons are absent (callers union them back as their own id).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    # size the per-iteration state to the GRAPH, not the session:
    # dedup pair graphs are orders of magnitude smaller than the corpus
    # (hundreds of edges for thousands of docs), and every iteration
    # pays joins + a checkpoint per partition — at session width that
    # fixed cost dominates end to end (measured ~2x on q69). Sizing is
    # done with LOCAL repartitions on the loop DataFrames (plus AQE's
    # small-shuffle coalescing for the intermediate aggregates) — NOT
    # by mutating the session-global spark.sql.shuffle.partitions,
    # whose set/restore is non-reentrant: two concurrent jobs on one
    # session could interleave and leave the session permanently
    # clamped, and any unrelated query executing inside the window
    # would silently run at the clamped width.
    spark = pairs.sparkSession
    n_edges = edges.count()
    parts = max(1, min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        n_edges // 10_000 + 1,
    ))
    try:
        return _propagate_min_labels(edges, max_iterations, parts)
    finally:
        edges.unpersist()


def _propagate_min_labels(
    edges: DataFrame, max_iterations: int, parts: int
) -> DataFrame:
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("cluster_id"))
        .select(F.col("src").alias("doc_id"), "cluster_id")
        # pin the checkpointed state to the graph-sized width (the
        # session-global shuffle width would otherwise decide it)
        .repartition(parts, "doc_id")
        # truncate lineage each pass: without this, iteration k re-executes
        # all k-1 previous joins (and the pair-generation plan) from scratch
        .localCheckpoint(eager=True)
    )
    # +1: certifying that labels stopped moving takes one pass beyond
    # the moves themselves — a component of diameter exactly
    # max_iterations converges ON the last allowed pass and needs the
    # extra no-change pass to prove it (otherwise correct output raises)
    for _ in range(max_iterations + 1):
        # neighbor labels: for each node, the labels of everyone it touches
        neighbor = (
            edges.join(
                labels.withColumnRenamed("doc_id", "dst"), "dst"
            )
            .groupBy("src")
            .agg(F.min("cluster_id").alias("n_label"))
            .select(F.col("src").alias("doc_id"), "n_label")
        )
        new_labels = (
            labels.join(neighbor, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("n_label", "cluster_id")
                ).alias("cluster_id"),
            )
        )
        new_labels = new_labels.repartition(parts, "doc_id").localCheckpoint(
            eager=True
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # the loop exhausted its passes with labels still moving:
        # returning silently would hand callers SPLIT components (q69/
        # q90's transitive-closure oracles would catch it, but callers
        # without an oracle would quietly keep extra "keepers")
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (component diameter exceeds the cap); raise "
            "max_iterations"
        )
    return labels


@query(
    "q69_dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS ({_Q35_PAIRS_SQL}),
sym AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
labels AS (
    SELECT a AS doc_id, least(a, min(b)) AS cluster_id
    FROM reach GROUP BY a
)
SELECT cluster_id, count(*)::BIGINT AS n_members, min(doc_id) AS keeper_id
FROM labels
GROUP BY cluster_id
ORDER BY cluster_id
""",
)
def q69_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (exact Jaccard >= 0.8 within source blocks, q35)
    resolved into clusters, one keeper per cluster: the final step of a
    corpus dedup — emit cluster membership + size so the corpus build
    keeps exactly one representative.

    The oracle resolves the same pair graph with q90's recursive-CTE
    transitive closure, so the pointer-doubling component labels are
    value-checked (upgraded from the original rows-only contract)."""
    pairs = q35_jaccard_pairs(spark, sf_dir)
    comps = connected_components(pairs.select("id_a", "id_b"))
    return (
        comps.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("keeper_id"),
        )
        .orderBy("cluster_id")
    )


# ----------------------------------------------------- dedup apply

def dedup_apply(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The end product of the dedup pipeline: the cleaned corpus.

    Near-dup pairs -> connected components -> keep the min-doc_id
    representative per cluster, drop the rest (anti-join). Composes with
    any pair generator (exact Jaccard q35, MinHash-LSH q37, SimHash
    q39). Join strategy is left to the optimizer: at a small dup rate
    AQE broadcasts the loser set from its measured size, but a FORCED
    broadcast hint (never demoted by AQE) would collect a
    billion-doc-id loser set to the driver at a realistic 30-50% web
    dup rate and abort at the broadcast limit — the shuffled anti-join
    is the correct fallback and Spark picks between them.
    """
    comps = connected_components(pairs.select("id_a", "id_b"))
    losers = comps.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


@query(
    "q90_dedup_apply",
    oracle=f"""
WITH RECURSIVE pairs AS ({_Q35_PAIRS_SQL}),
sym AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
labels AS (
    SELECT a AS doc_id, least(a, min(b)) AS cluster_id
    FROM reach GROUP BY a
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (
    SELECT doc_id FROM labels WHERE doc_id <> cluster_id
)
ORDER BY d.doc_id
""",
)
def q90_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus after near-dup removal (exact Jaccard >= 0.8
    pairs, q35). The oracle resolves the same pair graph with a
    recursive-CTE transitive closure — so the Spark min-label-
    propagation clustering is value-checked end to end, not rows-only.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = q35_jaccard_pairs(spark, sf_dir)
    return (
        dedup_apply(d, pairs)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# ------------------------------------------- canonicalized exact dedup

# Shared canonicalization: ASCII case fold, non-alphanumerics ->
# space, collapse runs, trim. The practical exact-dedup key for
# web/scraped text, where byte-identity misses trivial reformattings
# (case, punctuation, whitespace) that q33's token-set fingerprint
# also treats as distinct when tokens themselves change (e.g.
# "Hello," vs "hello"). ascii_lower, not lower(): full case folding
# is engine-specific off the ASCII plane (Java's full mapping of
# U+0130 emits a combining dot that the punctuation pass then turns
# into a stray space; utf8proc's simple mapping does not), and a
# dedup KEY must be bit-stable across engines.
_CANON_SQL = (
    "md5(trim(regexp_replace(regexp_replace("
    "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
    " 'abcdefghijklmnopqrstuvwxyz'), "
    "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
)


def canonical_fingerprint(col: Column) -> Column:
    """md5 over normalized text (Spark twin of ``_CANON_SQL``)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(ascii_lower(col), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return F.md5(norm)


@query(
    "q111_canonical_dedup",
    oracle=f"""
SELECT {_CANON_SQL}  AS canon_fp,
       count(*)      AS n_docs,
       min(doc_id)   AS keeper_id,
       min(n_chars)  AS min_chars,
       max(n_chars)  AS max_chars
FROM documents
GROUP BY 1
ORDER BY canon_fp
""",
)
def q111_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on CANONICALIZED text: case/punctuation/whitespace
    variants of one document collapse to a single group (q33 keys on
    the raw token set; this is the normalize-first variant every
    scraped-corpus pipeline runs ahead of fuzzy dedup).

    Scale shape identical to q33: the normalization is a per-row string
    expression fused into the scan, and the only shuffle carries
    (16-byte fp, partial aggregates) — full map-side combine.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(canonical_fingerprint(F.col("text")).alias("canon_fp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("canon_fp")
    )


# ----------------------------------- incremental (batch-vs-history) dedup

HIST_MOD = 10  # doc_id % HIST_MOD < HIST_KEEP -> "already-published" history
HIST_KEEP = 8


@query(
    "q144_incremental_dedup",
    oracle=f"""
WITH hist AS (
    SELECT DISTINCT md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
    FROM documents WHERE doc_id % {HIST_MOD} < {HIST_KEEP}
),
batch AS (
    SELECT doc_id, md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
    FROM documents WHERE doc_id % {HIST_MOD} >= {HIST_KEEP}
),
marked AS (
    SELECT b.doc_id, b.fp,
           (h.fp IS NOT NULL)                          AS dup_of_history,
           row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
    FROM batch b LEFT JOIN hist h USING (fp)
)
SELECT doc_id, fp,
       dup_of_history,
       rn > 1                                          AS dup_in_batch,
       NOT dup_of_history AND rn = 1                   AS survives
FROM marked
ORDER BY doc_id
""",
)
def q144_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new arrival batch against published
    history — the daily shape of every crawl pipeline: dedup is never
    a one-shot global job at 100 TB; each day's slice dedups (a)
    against the historical fingerprint index and (b) within itself,
    WITHOUT rescanning history text.

    Scale shape: history participates only as its DISTINCT fingerprint
    column (16 bytes/doc — the index you'd keep published alongside the
    corpus, reference put_object parity: sinks/versioned publish), so
    the join shuffles fingerprints, never text. In-batch dedup is one
    window over the (small) new slice. Fixture split: doc_id % {HIST_MOD}
    >= {HIST_KEEP} is the arrival batch, the rest is history.
    """
    d = load_table(spark, sf_dir, "documents")
    # ascii_lower, not lower(): fingerprints must be bit-stable across
    # engines (text_funcs.ascii_lower docstring)
    fp = F.md5(ascii_lower(F.trim(F.col("text"))))
    hist = (
        d.where(F.col("doc_id") % HIST_MOD < HIST_KEEP)
        .select(fp.alias("fp"))
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    batch = d.where(F.col("doc_id") % HIST_MOD >= HIST_KEEP).select(
        "doc_id", fp.alias("fp")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    marked = (
        batch.join(hist, "fp", "left")
        .withColumn("dup_of_history", F.coalesce(F.col("in_hist"), F.lit(False)))
        .withColumn("rn", F.row_number().over(w))
    )
    return marked.select(
        "doc_id",
        "fp",
        "dup_of_history",
        (F.col("rn") > 1).alias("dup_in_batch"),
        (~F.col("dup_of_history") & (F.col("rn") == 1)).alias("survives"),
    ).orderBy("doc_id")


# md5-based LSH banding twin of q37: same banding algorithm, hash60
# base instead of xxhash64 — which makes the WHOLE candidate-generation
# + verify pipeline SQL-replayable. q37 stays the bench/scale variant
# (xxhash64 is ~2x cheaper on the signature scan); this query is the
# exact-oracle witness that the banding algorithm itself is right.
_LSH_ORA_BANDS = NUM_MINHASHES // LSH_BAND_SIZE

_SHINGLES_SQL = """
    list_distinct(list_transform(
        range(1, greatest(len(string_split(trim(text), ' ')) - 2, 1) + 1),
        i -> array_to_string(
                 list_slice(string_split(trim(text), ' '), i, i + 2), ' ')
    ))
"""


_Q183_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM documents WHERE text IS NOT NULL
),
el AS (
    SELECT doc_id, unnest(shingles) AS s FROM sh
),
sig AS (
    SELECT doc_id, g.hash_id,
           min({hash60_sql("hash_id::VARCHAR || ':' || s")}) AS m
    FROM el, generate_series(0, {NUM_MINHASHES - 1}) g(hash_id)
    GROUP BY doc_id, g.hash_id
),
bands AS (
    SELECT doc_id, (hash_id // {LSH_BAND_SIZE}) AS band_id,
           md5(string_agg(m::VARCHAR, ':' ORDER BY hash_id)) AS band_hash
    FROM sig
    GROUP BY doc_id, band_id
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
),
verified AS (
    -- threshold on the UNROUNDED ratio (q35 discipline; matches the
    -- Spark side and the q106 composed-pipeline oracle); round is
    -- output-only
    SELECT c.id_a, c.id_b,
           len(list_intersect(sa.shingles, sb.shingles)) * 1.0
               / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
               AS j
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, round(j, 6) AS jaccard
FROM verified
WHERE j >= 0.5
ORDER BY id_a, id_b
"""


def minhash_lsh_pairs_md5(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """q37's banding with the md5 (hash60) base hash — fully
    SQL-replayable; used by q183 and the q106 composed pipeline so
    both carry exact oracles. ~2x the signature-scan cost of the
    xxhash64 path; q37 remains the bench/scale variant."""
    toksets = _shingle_sets(docs)
    sigs = _minhash_signatures(
        toksets.select("doc_id", F.col("toks").alias("text")),
        elements=F.col("text"),
    )
    bands = (
        sigs.withColumn(
            "band_id", (F.col("hash_id") / LSH_BAND_SIZE).cast("int")
        )
        .groupBy("doc_id", "band_id")
        .agg(
            F.md5(
                F.concat_ws(
                    ":",
                    F.transform(
                        # positional (hash_id-ordered) band tuple — the
                        # struct sort orders by hash_id first, same key
                        # as q37 and the SQL oracle's ORDER BY hash_id
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("hash_id"), F.col("minhash"))
                            )
                        ),
                        lambda s: s["minhash"].cast("string"),
                    ),
                )
            ).alias("band_hash")
        )
        .localCheckpoint(eager=False)
    )
    return _verify_candidates(toksets, _band_self_join(bands), threshold)


@query("q183_minhash_lsh_oracle", oracle=_Q183_ORACLE)
def q183_minhash_lsh_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with the md5 (hash60) base hash —
    the exact-oracle twin of q37's banding: 8 minhashes over 3-token
    shingles, 4 bands of 2, candidates = any shared band bucket, then
    exact shingle-Jaccard >= 0.5 verification. The DuckDB oracle
    replays candidate generation AND verification, so the banding
    algorithm carries a hard value-hash signal (q37 keeps the 2x-
    cheaper xxhash64 base for the bench/scale path and its recall
    invariant).

    Same plan shape as q37: shingle arrays materialized once, the
    signature aggregate shuffles (doc, hash_id, long) rows only, band
    buckets equi-join, verify runs on candidates only.
    """
    d = load_table(spark, sf_dir, "documents")
    # same pin rationale as q37: the verify join is a narrow broadcast
    # chain the final sort's range sampling would otherwise re-run
    return pin_before_sort(minhash_lsh_pairs_md5(d, threshold=0.5)).orderBy(
        "id_a", "id_b"
    )

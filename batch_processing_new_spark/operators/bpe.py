"""Distributed BPE (byte-pair-encoding) vocabulary induction — the
tokenizer-training step of an LLM data pipeline, run as an iterative
DataFrame algorithm.

Classic BPE (Sennrich et al. 2016): start from characters (plus an
end-of-word marker), repeatedly find the most frequent adjacent symbol
pair over the word-frequency table and merge it, recording the merge
list in order. The merge list IS the tokenizer artifact.

Distributed shape (the k-means/PageRank discipline from
clustering.py / graph.py):

- the corpus collapses to the WORD-FREQUENCY table first (one shuffle;
  at 100 TB the distinct-word table is orders of magnitude smaller
  than the corpus, and real tokenizer training samples the corpus
  anyway — q89's weighted sampler is the feed);
- each merge round is: in-row adjacent-pair generation (zip_with over
  the symbol array — no explode of positions), an aggregate keyed on
  the pair (map-side combine collapses hot pairs), and a SINGLE-ROW
  driver collect of the argmax — the same bounded k×dim-style driver
  traffic as Lloyd centroids, never data-scale;
- the chosen merge is applied to every word's symbol array with a
  sequential left-to-right fold (F.aggregate) — non-overlapping,
  leftmost-first, exactly the reference algorithm's replacement rule;
- lineage is cut per round (localCheckpoint) so the plan does not grow
  superlinearly with merge count.

Ties break (count desc, left asc, right asc) — fully deterministic
across partitionings and engines; pair counts are exact integers.

Full SQL oracles (upgraded from rows-only in round 4): the merge
loop IS replayable as a generated CTE chain — each round is a pair
aggregate, a 1-row argmax, and a ``list_reduce`` fold whose lambda
captures the argmax row (``_bpe_state_ctes``). tests/test_bpe.py
additionally pins the merge list and segmentation against an
independent pure-Python reference implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.functions.text_funcs import tokens
from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import fan_out, load_table

N_MERGES = 12
_EOW = "</w>"  # end-of-word marker: lets merges learn suffixes


def _chars_plus_eow(word: Column | str) -> Column:
    c = F.col(word) if isinstance(word, str) else word
    return F.concat(F.split(c, ""), F.array(F.lit(_EOW)))


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs (in-row, no explode
    of an index sequence)."""
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Replace adjacent (left, right) with left+right, leftmost-first,
    non-overlapping — a sequential fold, the exact BPE replacement
    rule ("aaa" under (a,a) -> ["aa","a"])."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (s == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


# Round 12 note: an array_contains guard around the per-round fold
# ("skip words lacking either merge symbol") was tried and REVERTED —
# interleaved A/B at sf0.1 read neutral-to-negative (q169 guarded min
# 2.49 s vs unguarded 2.29 s; q180 2.60 vs 2.62, OPTIMIZATION_r12.md):
# the two probes cost about what the skipped folds save, because early
# merges pair common characters most words contain.


def learn_bpe(
    words: DataFrame, n_merges: int = N_MERGES
) -> list[tuple[int, str, str, int]]:
    """BPE merge list [(rank, left, right, pair_count)] from a
    (word, cnt) frequency table."""
    state = words.select(
        _chars_plus_eow("word").alias("syms"), F.col("cnt")
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            state.where(F.size("syms") >= 2)
            .select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, pc = top[0]["l"], top[0]["r"], int(top[0]["pc"])
        merges.append((rank, l, r, pc))
        state = state.select(
            _apply_merge(F.col("syms"), l, r).alias("syms"), "cnt"
        ).localCheckpoint(eager=False)
    return merges


def segment(words: DataFrame, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """Apply a learned merge list in order: input columns + ``pieces``.

    The fold chain for ALL merges composes into one expression, so
    applying an n-merge tokenizer is a single projection pass.
    """
    syms = _chars_plus_eow("word")
    for _, l, r, _ in merges:
        syms = _apply_merge(syms, l, r)
    return words.withColumn("pieces", syms)


def _bpe_state_ctes(n_merges: int) -> str:
    """CTE chain replaying the merge loop in DuckDB SQL (upgrades the
    BPE pair from rows-only to full value-hash oracles, VERDICT r03 #5).

    Verified engine-parity prerequisites (sandbox duckdb 1.0.0):
    ``string_split(word, '')`` splits by CODEPOINT exactly like Spark's
    ``F.split(col, '')`` (both handle astral-plane emoji as one symbol),
    and ``list_reduce`` lambdas capture outer row columns, so the
    leftmost-first non-overlapping replacement fold is expressible with
    the chosen merge (l, r) coming from each round's 1-row argmax CTE.
    The LEFT JOIN ON TRUE keeps a round a no-op when its argmax is
    empty (merges can dry up before n_merges on degenerate corpora),
    mirroring ``learn_bpe``'s early break.

    Every state CTE is ``AS MATERIALIZED``: DuckDB inlines plain CTEs,
    and each round references its predecessor TWICE (pair aggregate +
    fold), so the un-materialized chain re-evaluates state0 2^n times
    — measured minutes at n=12 where the materialized chain runs in
    seconds (the SQL mirror of the Spark side's per-round
    localCheckpoint lineage cut).
    """
    parts = [
        """
words AS MATERIALIZED (
    SELECT word, count(*) AS cnt FROM (
        SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
    ) WHERE word <> '' GROUP BY word
),
state0 AS MATERIALIZED (
    SELECT list_append(string_split(word, ''), '</w>') AS syms, cnt
    FROM words
)"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""
pairs{k} AS (
    SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
        SELECT unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
               unnest(list_slice(syms, 2, len(syms)))     AS r,
               cnt
        FROM state{p} WHERE len(syms) >= 2
    ) GROUP BY l, r
),
m{k} AS MATERIALIZED (
    SELECT l, r, pc FROM pairs{k} ORDER BY pc DESC, l, r LIMIT 1),
state{k} AS MATERIALIZED (
    SELECT CASE WHEN m.l IS NULL THEN syms
           ELSE list_reduce(
               list_transform(syms, x -> [x]),
               (acc, e) -> CASE
                   WHEN acc[-1] = m.l AND e[1] = m.r
                   THEN list_append(
                       list_slice(acc, 1, len(acc) - 1), m.l || m.r)
                   ELSE list_append(acc, e[1]) END)
           END AS syms, cnt
    FROM state{p} LEFT JOIN m{k} m ON TRUE
)"""
        )
    return ",".join(parts)


_MERGE_UNION = " UNION ALL ".join(
    f'SELECT {k} AS merge_rank, l AS "left", r AS "right", '
    f"pc AS pair_count FROM m{k}"
    for k in range(1, N_MERGES + 1)
)

_BPE_VOCAB_ORACLE = f"""
WITH {_bpe_state_ctes(N_MERGES)}
SELECT * FROM ({_MERGE_UNION}) ORDER BY merge_rank
"""


@query(
    "q169_bpe_vocab",
    oracle=_BPE_VOCAB_ORACLE,
)
def q169_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {N_MERGES} BPE merges learned from the documents corpus:
    (merge_rank, left, right, pair_count), in learned order."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        fan_out(d.select("text"))
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    merges = learn_bpe(words, N_MERGES)
    return spark.createDataFrame(
        merges, "merge_rank INT, left STRING, right STRING, pair_count BIGINT"
    )


_PIECE_TOP = 20


_BPE_TOKENIZE_ORACLE = f"""
WITH {_bpe_state_ctes(N_MERGES)},
pieces AS (
    SELECT unnest(syms) AS piece, cnt FROM state{N_MERGES}
),
agg AS (
    SELECT piece, CAST(sum(cnt) AS BIGINT) AS n
    FROM pieces GROUP BY piece
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM agg)
SELECT piece, n, round(CAST(n AS DOUBLE) / tot, 6) AS frac
FROM agg, tot
ORDER BY n DESC, piece
LIMIT {_PIECE_TOP}
"""


@query(
    "q180_bpe_tokenize_corpus",
    oracle=_BPE_TOKENIZE_ORACLE,
)
def q180_bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the learned BPE merges (train ->
    apply, the full tokenizer loop): top {_PIECE_TOP} vocabulary
    pieces by corpus frequency after {N_MERGES} merges, with the
    fraction of all pieces each accounts for.

    The merge list is learned once (q169's loop), then APPLIED in a
    single pass: the fold chain for all merges composes into one
    in-scan expression over the word-frequency table — tokenizing the
    corpus costs one scan + one |vocab|-sized aggregate regardless of
    merge count, because piece counts weight by word frequency instead
    of re-walking raw text.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        fan_out(d.select("text"))
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds learn + apply
    )
    merges = learn_bpe(words, N_MERGES)
    pieces = (
        segment(words, merges)
        .select(F.explode("pieces").alias("piece"), F.col("cnt"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("n"))
    )
    tot = pieces.agg(F.sum("n").alias("tot"))
    return (
        pieces.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("frac"),
        )
        .orderBy(F.col("n").desc(), "piece")
        .limit(_PIECE_TOP)
    )

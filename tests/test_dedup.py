"""Invariants for dedup operators that have no SQL oracle
(SURVEY.md §5.3): LSH recall vs exact-Jaccard ground truth, SimHash
properties, dedup idempotence."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_processing_new_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash,
    simhash_neardup_pairs,
)
from batch_processing_new_spark.sources.readers import load_table
from tests.conftest import SF_CORRECT


def _exact_jaccard_pairs(spark, docs, threshold, use_shingles=False):
    """Global exact Jaccard ground truth via inverted index, over
    distinct unigram tokens or (for the LSH tests, matching the
    operator's element set) 3-token shingles."""
    from batch_processing_new_spark.functions.text_funcs import (
        distinct_tokens,
        shingles,
    )

    elems = shingles(F.col("text")) if use_shingles else distinct_tokens(F.col("text"))
    tok = docs.select("doc_id", F.explode(elems).alias("t"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b")
    jac = F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b")
    )


def test_minhash_lsh_recall(spark):
    """LSH candidates must find >= 90% of true Jaccard >= 0.8 pairs, and
    every returned pair must truly exceed the 0.5 verify threshold
    (precision = 1.0 by construction: candidates are exact-verified).
    Ground truth is shingle-Jaccard — the operator's own metric; unigram
    Jaccard is degenerate on this small-vocabulary fixture (most doc
    pairs share >= 80% of tokens)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in _exact_jaccard_pairs(spark, docs, 0.8, use_shingles=True).collect()
    }
    assert truth, "fixture should contain high-Jaccard pairs"
    found = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2f} on {len(truth)} true pairs"


def test_simhash_similar_docs_have_close_hashes(spark):
    """Pairs with Jaccard >= 0.9 should have small Hamming distance; the
    mean over near-dup pairs must be far below the ~30 random baseline."""
    docs = load_table(spark, SF_CORRECT, "documents")
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    near = _exact_jaccard_pairs(spark, docs, 0.9).collect()
    assert near
    dists = [bin(sh[r.id_a] ^ sh[r.id_b]).count("1") for r in near]
    assert sum(dists) / len(dists) < 15, f"mean hamming {sum(dists)/len(dists)}"


def test_simhash_neardup_pairs_are_verified(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    pairs = simhash_neardup_pairs(docs, max_hamming=12).collect()
    assert all(r.hamming <= 12 for r in pairs)
    assert all(r.id_a < r.id_b for r in pairs)


def test_dedup_idempotence(spark):
    """dedup(dedup(X)) == dedup(X) (SURVEY.md §5.3 property check)."""
    from batch_processing_new_spark.registry import all_specs

    fn = all_specs()["q34_dedup_exact_keep_first"].fn
    once = fn(spark, SF_CORRECT)
    ids_once = {r.doc_id for r in once.collect()}
    # survivors re-deduped: every survivor has a unique fingerprint, so
    # re-running keeps all of them
    docs = load_table(spark, SF_CORRECT, "documents")
    survivors = docs.join(once.select("doc_id"), "doc_id", "left_semi")
    from batch_processing_new_spark.functions.text_funcs import token_set_fingerprint
    from pyspark.sql import Window

    w = Window.partitionBy(token_set_fingerprint(F.col("text"))).orderBy("doc_id")
    twice = (
        survivors.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    assert {r.doc_id for r in twice.collect()} == ids_once


def test_connected_components_equals_union_find(spark):
    """Distributed min-label propagation must produce exactly the
    transitive closure a driver-side union-find computes on the same
    pairs."""
    from batch_processing_new_spark.operators.dedup import (
        connected_components,
        q35_jaccard_pairs,
    )

    pairs = [
        (r.id_a, r.id_b)
        for r in q35_jaccard_pairs(spark, SF_CORRECT).collect()
    ]
    assert pairs, "fixture should produce near-dup pairs"

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    from pyspark.sql import functions as F

    pairs_df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs_df).collect()
    }
    assert got == expected


def test_dedup_apply_idempotent_and_pairfree(spark):
    """The cleaned corpus (q90) must contain no remaining near-dup pair
    (one representative per connected component), and re-applying the
    dedup must be a no-op (idempotence)."""
    from batch_processing_new_spark.operators.dedup import (
        dedup_apply,
        q35_jaccard_pairs,
        q90_dedup_apply,
    )
    from batch_processing_new_spark.functions.text_funcs import distinct_tokens

    d = load_table(spark, SF_CORRECT, "documents")
    cleaned_ids = {
        r.doc_id for r in q90_dedup_apply(spark, SF_CORRECT).collect()
    }
    assert len(cleaned_ids) < d.count()  # it removed something

    cleaned = d.where(F.col("doc_id").isin(cleaned_ids))
    tok = cleaned.select(
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
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b")
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    remaining = inter.join(sa, "id_a").join(sb, "id_b").where(jac >= 0.8).count()
    assert remaining == 0


def test_simhash_vectorized_matches_expression(spark):
    """The Arrow SimHash must equal the shuffle-based expression
    formulation bit for bit on every document."""
    from pyspark.sql import functions as F

    from batch_processing_new_spark.operators.dedup import simhash, simhash_expr
    from batch_processing_new_spark.sources.readers import load_table
    from tests.conftest import SF_CORRECT

    d = load_table(spark, SF_CORRECT, "documents")
    a = simhash(d).withColumnRenamed("simhash", "s_np")
    b = simhash_expr(d).withColumnRenamed("simhash", "s_expr")
    j = a.join(b, "doc_id")
    assert j.count() == d.count()
    assert j.where(F.col("s_np") != F.col("s_expr")).count() == 0


def test_md5_lsh_oracle_twin_recall_and_precision(spark):
    """q183 (md5-banded LSH, the exact-oracle twin of q37): every
    emitted pair truly has shingle-Jaccard >= 0.5, and recall vs the
    exact >=0.8 ground truth is high (banding with 4 bands of 2
    catches j >= 0.8 with prob 1-(1-j^2)^4 >= 0.997)."""
    from batch_processing_new_spark.operators.dedup import (
        q183_minhash_lsh_oracle,
    )
    from batch_processing_new_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    truth_05 = {
        (r.id_a, r.id_b)
        for r in _exact_jaccard_pairs(
            spark, docs, 0.5, use_shingles=True
        ).collect()
    }
    strong = {
        (r.id_a, r.id_b)
        for r in _exact_jaccard_pairs(
            spark, docs, 0.8, use_shingles=True
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in q183_minhash_lsh_oracle(spark, SF_SMOKE).collect()
    }
    # precision is exact by construction (candidates are re-verified)
    assert got <= truth_05
    if strong:
        hit = len(strong & got) / len(strong)
        assert hit >= 0.9


def test_lsh_threshold_accepts_numpy_and_decimal(spark):
    """The verify threshold is spliced into SQL: a numpy or Decimal
    threshold must give exactly the pairs of the equal Python float."""
    from decimal import Decimal

    import numpy as np

    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")

    def pairs(threshold):
        return sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(docs, threshold=threshold).collect()
        )

    want = pairs(0.5)
    assert want, "fixture should produce pairs at 0.5"
    assert pairs(np.float64(0.5)) == want
    assert pairs(Decimal("0.5")) == want

"""Web-corpus preparation: URL canonicalization and line-frequency
boilerplate removal.

The two standard steps between "crawler landed pages" (sources/
scraped.py) and the text-quality stack (text_analysis.py): collapse
URL aliases so per-URL dedup keys are stable, and strip the nav/footer
chrome that repeats across every page of a site before any token
statistic is computed (repeated boilerplate is the single largest
source of spurious n-gram mass in web corpora — the CCNet/RefinedWeb
pipelines both do a variant of this).

Both operators are pure JVM expressions + equi-shuffles — no Python in
either hot path, exact DuckDB oracles for both. Fixture URLs/pages are
synthesized deterministically from `documents` (same pattern as the
multimodal pseudo-codec: fake landing data, real processing).

North-Star surface (SURVEY.md §2B scraped sources / text analysis;
reference evidence: bs4 + captcha stack in requirements.txt:1,6,10,15
declares a web-crawl product surface with no cleaning code of its own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import (
    load_table,
    pin_before_sort,
)

# --------------------------------------------------- URL canonicalize

# Synthetic raw URL per document, deliberately messy: uppercase scheme
# and host, www prefix, explicit default port, tracking params out of
# order, and a fragment. doc_id % 5 collapses docs onto 5 hosts so the
# canonical form actually dedups.
_RAW_URL_SPARK = None  # built inline below
_RAW_URL_SQL = (
    "'HTTPS://WWW.Example' || (doc_id % 5) || '.com:443/Docs/' || doc_id "
    "|| '?utm_source=feed&b=2&utm_campaign=x&a=1#section-' || (doc_id % 3)"
)


def canonicalize_url(url: F.Column) -> F.Column:
    """Canonical dedup key for a URL, as one JVM expression tree:
    lowercase scheme+host, strip ``www.`` and the scheme's DEFAULT
    port only (``:443`` for https, ``:80`` for http — ``:443`` on an
    http URL is a different origin and must survive), drop the
    fragment, drop ``utm_*`` tracking params, sort the surviving query
    params. Idempotent: applying it twice is the identity on its own
    output."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    qry = F.regexp_extract(url, r"\?([^#]*)", 1)
    bare = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(
        (scheme == "https"), F.regexp_replace(bare, r":443$", "")
    ).when(
        (scheme == "http"), F.regexp_replace(bare, r":80$", "")
    ).otherwise(bare)
    canon_query = F.concat_ws(
        "&",
        F.array_sort(
            F.filter(F.split(qry, "&"), lambda x: ~x.startswith("utm_"))
        ),
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(canon_query == "", "").otherwise(
            F.concat(F.lit("?"), canon_query)
        ),
    )


@query(
    "q139_url_canonicalize",
    oracle=f"""
WITH u AS (
    SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
),
parts AS (
    SELECT doc_id, raw_url,
           lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1))       AS scheme,
           lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
           regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)  AS path,
           regexp_extract(raw_url, '\\?([^#]*)', 1)                    AS query
    FROM u
),
norm AS (
    SELECT doc_id, raw_url, scheme, path,
           CASE scheme
               WHEN 'https' THEN regexp_replace(
                   CASE WHEN starts_with(hostport, 'www.')
                        THEN hostport[5:] ELSE hostport END, ':443$', '')
               WHEN 'http' THEN regexp_replace(
                   CASE WHEN starts_with(hostport, 'www.')
                        THEN hostport[5:] ELSE hostport END, ':80$', '')
               ELSE CASE WHEN starts_with(hostport, 'www.')
                         THEN hostport[5:] ELSE hostport END
           END                                                         AS host,
           array_to_string(
               list_sort(list_filter(string_split(query, '&'),
                                     x -> NOT starts_with(x, 'utm_'))),
               '&')                                                    AS canon_query
    FROM parts
)
SELECT doc_id,
       scheme || '://' || host || path ||
       CASE WHEN canon_query = '' THEN '' ELSE '?' || canon_query END AS canon_url
FROM norm
ORDER BY doc_id
""",
)
def q139_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization: lowercase scheme+host, strip ``www.`` and
    the scheme-default port, drop the fragment, drop ``utm_*`` tracking
    params, and sort the surviving query params — so every alias of a
    page produces one dedup key. Entirely JVM string/array expressions
    (regexp_extract + filter/array_sort lambdas): zero Python, zero
    shuffle — the canonical form is computed inside the scan stage,
    which is the only acceptable cost for a per-URL step at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    raw_url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".com:443/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&b=2&utm_campaign=x&a=1#section-"),
        (F.col("doc_id") % 3).cast("string"),
    )
    u = d.select("doc_id", raw_url.alias("raw_url"))
    # pin the regexp-heavy canonicalization: range sampling would
    # otherwise evaluate the whole per-URL chain twice
    return pin_before_sort(
        u.select(
            "doc_id", canonicalize_url(F.col("raw_url")).alias("canon_url")
        )
    ).orderBy("doc_id")


# ------------------------------------------- boilerplate line removal

BOILER_FRAC = 0.5  # a line in > this fraction of a source's docs is chrome


def _synth_lines_sql() -> str:
    """DuckDB list of the synthetic page lines (see Spark twin below).

    The half slices are coalesced to '': DuckDB's degenerate slice
    ``toks[2:1]`` (a 1-token doc's empty second half) is NULL while
    Spark's ``slice(toks, 2, 0)`` is ``[]`` -> '' — the empty-text
    divergence tools/null_text_sweep.py caught."""
    return (
        "[ 'NAV home | about | ' || source, "
        "coalesce(array_to_string(toks[1:h], ' '), ''), "
        "coalesce(array_to_string(toks[h+1:n], ' '), ''), "
        "'(c) 2024 ' || source || ' all rights reserved' ]"
    )


@query(
    "q140_boilerplate_strip",
    oracle=f"""
WITH t AS (
    SELECT doc_id, source,
           string_split(trim(text), ' ') AS toks,
           len(string_split(trim(text), ' ')) AS n,
           CAST(ceil(len(string_split(trim(text), ' ')) / 2.0) AS INT) AS h
    FROM documents WHERE text IS NOT NULL
),
lines AS (
    SELECT doc_id, source,
           unnest({_synth_lines_sql()})                AS line,
           generate_subscripts({_synth_lines_sql()}, 1) AS idx
    FROM t
),
docs_per_source AS (
    SELECT source, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY source
),
line_df AS (
    SELECT source, line, count(DISTINCT doc_id) AS df
    FROM lines GROUP BY source, line
),
flagged AS (
    SELECT l.doc_id, l.source, l.line, l.idx,
           (d.df * 1.0 / s.n_docs) > {BOILER_FRAC} AS is_boiler
    FROM lines l
    JOIN line_df d USING (source, line)
    JOIN docs_per_source s USING (source)
)
SELECT doc_id,
       count(*)                                        AS n_lines,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       string_agg(CASE WHEN NOT is_boiler THEN line END, ' | ' ORDER BY idx)
           AS clean_text
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q140_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-frequency boilerplate removal: a line that appears in more
    than {BOILER_FRAC:.0%} of a site's documents is chrome (nav bars,
    cookie banners, copyright footers), not content — strip it before
    any token statistic. This is the distributed form of the CCNet /
    jusText line-dedup idea.

    Scale shape: explode pages to (source, line) rows, ONE map-side-
    combined aggregation for per-site line document-frequency, join the
    (small, per-site) frequent-line table back, and reassemble the
    cleaned page with an ordered string_agg. Line TEXT shuffles only
    into the DF aggregation (at 100 TB: swap the join key for
    xxhash64(line) so shuffles carry 8-byte hashes; the reassembly
    shuffle is keyed on doc_id either way). Synthetic pages wrap every
    document with a per-site NAV header and copyright footer — present
    in 100% of the site's docs, so the oracle checks that exactly those
    are flagged and the content halves survive.

    NULL-text docs are excluded on BOTH sides (q95 discipline): their
    NULL middle lines join differently than they concat
    (tools/null_text_sweep.py finding), and a page with no text has no
    lines to strip.
    """
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    from batch_processing_new_spark.functions.text_funcs import tokens

    toks = tokens(F.col("text"))
    n = F.size(toks)
    h = F.ceil(n / 2.0).cast("int")
    lines_arr = F.array(
        F.concat(F.lit("NAV home | about | "), F.col("source")),
        F.concat_ws(" ", F.slice(toks, F.lit(1), h)),
        F.concat_ws(" ", F.slice(toks, h + F.lit(1), n - h)),
        F.concat(F.lit("(c) 2024 "), F.col("source"), F.lit(" all rights reserved")),
    )
    lines = (
        d.select("doc_id", "source", lines_arr.alias("lines"))
        .select(
            "doc_id",
            "source",
            F.posexplode("lines").alias("idx0", "line"),
        )
        .withColumn("idx", F.col("idx0") + 1)
        .drop("idx0")
        # three consumers (per-source doc counts, line frequencies, the
        # flagged join) — materialize once or the scan + explode +
        # hash run three times (the bm25_scored lesson, measured there)
        .localCheckpoint(eager=False)
    )
    # all frequency bookkeeping is keyed on the 8-byte line HASH, never
    # the line text — at 100 TB the DF aggregation and the join back
    # shuffle hashes; text stays in the narrow lines relation
    lines = lines.withColumn("line_h", F.xxhash64("line"))
    docs_per_source = lines.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    line_df = lines.groupBy("source", "line_h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    flagged = (
        lines.join(line_df, ["source", "line_h"])
        .join(F.broadcast(docs_per_source), "source")
        .withColumn(
            "is_boiler", (F.col("df") / F.col("n_docs")) > BOILER_FRAC
        )
    )
    keep = F.when(~F.col("is_boiler"), F.col("line"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_boiler").cast("long")).alias("n_boiler"),
            # NULL (not '') when every line is boilerplate: string_agg
            # over all-NULLs is NULL, concat_ws is '' — the all-chrome
            # page divergence tools/null_text_sweep.py caught
            F.when(
                F.count(keep) > 0,
                F.concat_ws(
                    " | ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("idx"), keep.alias("l"))
                            )
                        ),
                        lambda s: s["l"],
                    ),
                ),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )

"""Scraped-HTML and tweet-JSON sources (SURVEY.md §2B, requirements.txt
rows 10/65 — beautifulsoup4/soupsieve — and 67 — tweety-ns).

The reference's dependency manifest declares web-scrape and tweet
ingestion as product surface but ships no scraping code, so round 1
modeled both as pre-landed text in ``documents.source``. This module
implements the engine half for real:

- **HTML -> text extraction** with the stdlib ``html.parser`` state
  machine (bs4 isn't in the image; the parser is a real tag/entity/
  script-stripping implementation, not a regex): visible text
  accumulation, ``<script>``/``<style>`` exclusion, entity unescaping,
  link harvesting. Runs as one Arrow-batched ``mapInPandas`` pass —
  scraped pages never leave the executor, no shuffle.
- **Tweet JSON lines -> typed rows** via schema-on-read
  (``from_json``/``spark.read.json``) over the tweety-style nested
  shape (author object, entity arrays), plus a flattening query.

Fixtures: pages/tweets are synthesized deterministically from the
``documents``/``events`` tables (the image has no network, and the
repo-wide rule is deterministic fakes with REAL processing plumbing —
same pattern as the multimodal pseudo-codec). The HTML builder escapes
``&``; the oracle reconstructs the expected parse output with string
SQL, so the parser's entity handling and script exclusion are
value-checked, not just smoke-tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import (
    load_table,
    pin_before_sort,
)

# --------------------------------------------------------- HTML source

#: template the fixture builder renders per document; the & in the title
#: exercises entity escaping/unescaping end to end
_PAGE_TMPL = (
    "<html><head><title>Doc {id} &amp; {src}</title>"
    "<style>p {{ color: #333 }}</style></head>"
    "<body><h1>Doc {id}</h1>"
    "<p>{text}</p>"
    "<script>var tracker = 'junk that must not leak into text';</script>"
    '<a href="https://example.com/docs/{id}">permalink</a>'
    "</body></html>"
)


def synth_html_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, html): deterministic page per document — the landing
    step a real crawler would do; every downstream op is real."""
    esc = lambda c: F.regexp_replace(c, "&", "&amp;")  # noqa: E731
    tmpl = _PAGE_TMPL.replace("{{", "\x00").replace("}}", "\x01")
    head, mid_by_text = tmpl.split("{text}")
    parts: list = []
    for i, piece in enumerate(head.split("{id}")):
        if i:
            parts.append(F.col("doc_id").cast("string"))
        for j, lit in enumerate(piece.split("{src}")):
            if j:
                parts.append(esc(F.col("source")))
            if lit:
                parts.append(F.lit(lit.replace("\x00", "{").replace("\x01", "}")))
    parts.append(esc(F.trim(F.col("text"))))
    for i, piece in enumerate(mid_by_text.split("{id}")):
        if i:
            parts.append(F.col("doc_id").cast("string"))
        if piece:
            parts.append(F.lit(piece.replace("\x00", "{").replace("\x01", "}")))
    return docs.select("doc_id", F.concat(*parts).alias("html"))


def parse_html(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, title, body_text, n_links, first_href) — stdlib
    HTMLParser per page inside mapInPandas (Arrow batches, zero
    shuffle, parser state never leaves the executor)."""
    from batch_processing_new_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from html.parser import HTMLParser

        class Extract(HTMLParser):
            """Visible-text + link extractor; skips script/style."""

            def __init__(self):
                super().__init__(convert_charrefs=True)
                self.title: list[str] = []
                self.body: list[str] = []
                self.hrefs: list[str] = []
                self._stack: list[str] = []

            def handle_starttag(self, tag, attrs):
                self._stack.append(tag)
                if tag == "a":
                    for k, v in attrs:
                        if k == "href" and v:
                            self.hrefs.append(v)

            def handle_endtag(self, tag):
                # a close tag with NO matching open (everywhere in real
                # scraped HTML) must be ignored: popping until a match
                # would wipe the stack and silently drop all subsequent
                # body/title text
                if tag in self._stack:
                    while self._stack and self._stack.pop() != tag:
                        pass

            def handle_data(self, data):
                if not data.strip():
                    return
                if "script" in self._stack or "style" in self._stack:
                    return
                if "title" in self._stack:
                    self.title.append(data)
                elif "body" in self._stack:
                    self.body.append(data.strip())

        for pdf in batches:
            titles, bodies, n_links, first_href = [], [], [], []
            for page in pdf[html_col]:
                p = Extract()
                p.feed(page)
                titles.append("".join(p.title))
                bodies.append(" ".join(p.body))
                n_links.append(len(p.hrefs))
                first_href.append(p.hrefs[0] if p.hrefs else None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "title": titles,
                    "body_text": bodies,
                    "n_links": n_links,
                    "first_href": first_href,
                }
            )

    return df.mapInPandas(
        run,
        schema="doc_id bigint, title string, body_text string, "
        "n_links int, first_href string",
    )


@query(
    "q136_scraped_html",
    oracle="""
SELECT doc_id,
       'Doc ' || doc_id || ' & ' || source                  AS title,
       'Doc ' || doc_id || ' ' || trim(text) || ' permalink' AS body_text,
       1                                                     AS n_links,
       'https://example.com/docs/' || doc_id                 AS first_href
FROM documents
WHERE trim(text) <> ''
ORDER BY doc_id
""",
)
def q136_scraped_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scraped-page ingestion: synth page -> REAL HTML parse (entity
    unescape, script/style exclusion, link harvest) -> typed columns.
    The oracle reconstructs the expected parse result from the source
    fields, so a parser that leaks script text, drops entities, or
    mangles whitespace hash-mismatches."""
    d = load_table(spark, sf_dir, "documents")
    # whitespace-only documents are excluded on BOTH sides: the parser
    # (correctly) emits no body chunk for an empty paragraph while the
    # oracle's fixed-template concat would keep a double space — a
    # latent divergence with no meaningful parse to compare
    d = d.where(F.trim(F.col("text")) != "")
    pages = synth_html_pages(d.select("doc_id", "source", "text"))
    # pin the HTML-parser Python pass ahead of the presentation sort:
    # the range sampling otherwise runs it twice (r12 pin audit)
    return pin_before_sort(parse_html(pages)).orderBy("doc_id")


# -------------------------------------------------------- tweet source

#: tweety-ns-style nested schema (author object + entity array)
TWEET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField(
            "author",
            T.StructType(
                [
                    T.StructField("username", T.StringType()),
                    T.StructField("verified", T.BooleanType()),
                ]
            ),
        ),
        T.StructField("text", T.StringType()),
        T.StructField("created_on", T.StringType()),
        T.StructField("likes", T.LongType()),
        T.StructField("hashtags", T.ArrayType(T.StringType())),
    ]
)


def read_tweets(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines tweet file -> typed DataFrame (schema-on-read; an
    explicit schema so a 100 TB read skips the inference pass)."""
    return spark.read.schema(TWEET_SCHEMA).json(path)


def synth_tweet_json(events: DataFrame) -> DataFrame:
    """(raw) one tweety-style JSON document per event row."""
    doc = F.struct(
        F.col("event_id").alias("id"),
        F.struct(
            F.concat(F.lit("user"), F.col("user_id")).alias("username"),
            (F.col("user_id") % 7 == 0).alias("verified"),
        ).alias("author"),
        F.concat(F.lit("event "), F.col("event_type")).alias("text"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("created_on"),
        # floor(x + 0.5), not round(): value sits on a 2-dp grid, so
        # value*10 lands EXACTLY on .5 — round()'s half-way convention
        # is engine-build specific (the r02 q83 failure class), floor
        # of a bit-identical IEEE expression is not
        F.floor(F.col("value") * 10 + 0.5).cast("long").alias("likes"),
        F.array(
            F.concat(F.lit("#"), F.col("event_type")),
            F.lit("#spark"),
        ).alias("hashtags"),
    )
    return events.select(F.to_json(doc).alias("raw"))


@query(
    "q137_tweet_parse",
    oracle="""
SELECT event_id                        AS tweet_id,
       'user' || user_id               AS username,
       (user_id % 7 = 0)               AS verified,
       CAST(floor(value * 10 + 0.5) AS BIGINT) AS likes,
       '#' || event_type               AS first_hashtag,
       2                               AS n_hashtags,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events
ORDER BY tweet_id
""",
)
def q137_tweet_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tweet ingestion roundtrip: events -> tweety-shaped nested JSON
    -> schema-on-read parse (from_json) -> flattened typed columns.
    The oracle computes the same projection straight from the events
    table, so any loss in the JSON encode/parse roundtrip (nested
    author object, entity array, timestamp formatting) shows up as a
    value mismatch."""
    e = load_table(spark, sf_dir, "events")
    raw = synth_tweet_json(e)
    t = raw.select(F.from_json("raw", TWEET_SCHEMA).alias("t")).select("t.*")
    return t.select(
        F.col("id").alias("tweet_id"),
        F.col("author.username").alias("username"),
        F.col("author.verified").alias("verified"),
        "likes",
        F.element_at("hashtags", 1).alias("first_hashtag"),
        F.size("hashtags").alias("n_hashtags"),
        # TZ-free: parse the naive string straight to NTZ and truncate
        # via the calendar cast — to_timestamp/date_trunc would route
        # through the session zone (functions/timekit.py rationale)
        F.col("created_on").cast("timestamp_ntz").cast("date")
        .cast("timestamp_ntz").alias("day"),
    ).orderBy("tweet_id")


@query(
    "q184_xml_ingest",
    oracle="""
SELECT event_type,
       count(*)::BIGINT AS n,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS total_value,
       max(event_id) AS max_id
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q184_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (Spark 4 native `from_xml`): events are
    serialized to XML records in-engine (the landing shape of SOAP/RSS
    /legacy-feed corpora), parsed back through an explicit schema, and
    aggregated — count, DECIMAL-exact value total, max id per type.
    The oracle re-derives the same aggregate from the raw columns, so
    the serialize -> parse -> aggregate loop is proven LOSSLESS (the
    same roundtrip contract as the q85 Kafka-wire and q137 tweet-JSON
    sources; this completes the wire-format family: CSV, JSONL, ORC,
    parquet, Excel, Kafka-JSON, scraped HTML, tweet JSON, XML).

    Plan shape: serialization and parsing are both row-local JVM
    expressions fused into the scan; the only shuffle is the final
    tiny groupBy(event_type).
    """
    from batch_processing_new_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")

    # a real serializer OMITS a NULL field's element (from_xml then
    # parses it back as NULL); a naive concat NULLs the WHOLE payload
    # the moment any one field is NULL, collapsing unrelated rows into
    # the NULL group (tools/poison_sweep.py finding)
    def _opt(tag: str, col):
        return F.coalesce(
            F.concat(F.lit(f"<{tag}>"), col, F.lit(f"</{tag}>")), F.lit("")
        )

    xml = ev.select(
        F.concat(
            F.lit("<event>"),
            _opt("id", F.col("event_id").cast("string")),
            _opt("type", F.col("event_type")),
            _opt("value", F.col("value").cast("string")),
            F.lit("</event>"),
        ).alias("payload")
    )
    parsed = xml.select(
        F.from_xml(
            "payload", "id LONG, type STRING, value DOUBLE"
        ).alias("r")
    ).select("r.id", "r.type", "r.value")
    dec = "decimal(30,8)"
    return (
        parsed.groupBy(F.col("type").alias("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(dec)).cast("double").alias(
                "total_value"
            ),
            F.max("id").alias("max_id"),
        )
        .orderBy("event_type")
    )

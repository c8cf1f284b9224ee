"""The full reference pipeline as one composable Spark job.

Mirrors ops 1-15 of SURVEY.md §2A (reference test.py:141-285):

  job spec -> CSV scan -> ingest-order _row_id -> head(max_rows) ->
  spread over 1,000-row batches -> per-row LLM map -> append Response ->
  passthrough tail (empty Response) -> order-restoring sort ->
  single-file CSV sink, observing the error report -> completion webhook.

Enrich topology: the head holds ``batches = ceil(head_rows / 1000)`` of
the reference's 1,000-row batches (``head_rows = min(max_rows, input
rows)``; test.py:163,193-194), of which the reference runs up to 10 at
once with 20 calls in flight each (test.py:116,200; SURVEY.md §2A
row 8). Spark reads any CSV under its file open-cost floor (4 MB) as ONE
split, so the head is spread over ``width = min(batches, slots)`` tasks
by one shuffle: batches beyond the task slots are folded onto the first
wave's tasks instead of queueing in a second one. Each task then gets a
call cap of ``max(concurrency, ceil(min(batches, 10) x concurrency /
width))``, so the job keeps the reference's ``min(batches, 10) x
concurrency`` calls in flight when slots are short, and exactly ``width
x concurrency`` when they are not. Heads of 1,000 rows or fewer are not
repartitioned: a shuffle would only add cost to a one-batch job.

The spread depends on the request's temperature. At temperature 0 the
answer depends only on the prompt, so the enrich kernel shares one call
among equal prompts (``operators/enrich.py``), and the spread is
``co_partition``: hash-partitioned and sorted on the input value, so
equal values are adjacent in one task and each distinct input value is
called once per request. A one-task head shares calls within each
Arrow batch. At any other temperature every row is called, and the
spread is a round-robin ``repartition(width)``, which balances rows
whatever the texts: there a hash spread would put every call of a hot
text in one task (``tools/dedupe_ab.py --case hot``, 30% NULL texts,
ran about 1.8 times as long). A text that fills much of a temperature-0
head makes its task the stage's longest, though it is called once.

Parity contract (SURVEY.md §2A.1): output rows == input rows, output
order == input order, schema == input + 'Response', rows >= max_rows get
Response == '', terminal failures carry the exact sentinel, and the
error report carries (error_count, 1-based error_indexes).
"""

from __future__ import annotations

import json
import logging
import urllib.request
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.operators.enrich import (
    SENTINEL,
    EnrichConfig,
    co_partition,
    enrich,
)
from batch_processing_new_spark.sinks.writers import write_single_csv
from batch_processing_new_spark.sources.readers import (
    read_csv,
    release_row_id_pin,
    with_ingest_row_id_and_count,
)
from batch_processing_new_spark.sources.storage import apply_s3a_conf, map_url

ROW_ID = "_row_id"
#: Rows per enrich batch: the reference's batch size (test.py:163).
BATCH_ROWS = 1000
#: Batches the reference runs at once: its outer pool's workers (test.py:200).
OUTER_POOL = 10

log = logging.getLogger(__name__)


@dataclass
class PipelineSpec:
    """The job spec of the reference's POST /process_csv (test.py:148-159)."""

    file_url: str
    column_index: int
    max_rows: int
    system_prompt: str
    model: str = "mock-model"
    temperature: float = 0.0
    tokens: int = 16
    file_name: str = "output"
    request_id: str = ""
    version_id: str = ""
    webhook_url: str | None = None
    enrich: EnrichConfig = field(default_factory=EnrichConfig)

    def validate(self) -> None:
        """400-on-missing-key equivalent (test.py:147-161)."""
        if not self.file_url:
            raise ValueError("file_url is required")
        if self.column_index < 0:
            raise ValueError("column_index must be >= 0")
        if self.max_rows < 0:
            raise ValueError("max_rows must be >= 0")


@dataclass
class PipelineResult:
    output_path: str
    row_count: int
    error_count: int
    error_indexes: list[int]  # 1-based data-row indexes (test.py:52)


def enrich_topology(head_rows: int, slots: int, concurrency: int) -> tuple[int, int]:
    """``(width, per-task call cap)`` for an enriched head of ``head_rows``
    rows on ``slots`` task slots (module docstring)."""
    batches = -(-head_rows // BATCH_ROWS)
    width = min(batches, slots)
    per_task = -(-min(batches, OUTER_POOL) * concurrency // max(width, 1))
    return width, max(concurrency, per_task)


def run_enrichment_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    output_dir: str,
    df: DataFrame | None = None,
) -> PipelineResult:
    """Execute the whole reference flow (§3.1) and return the report.

    ``df`` overrides the CSV scan for testing; otherwise ``spec.file_url``
    is read as CSV. The enriched frame has ONE consumer, the sink, like
    the reference's one pass (test.py:170-253): the error report rides
    on that same job as an ``Observation`` of the enriched head, so the
    paid LLM stage runs once with no persist and no second scan. The
    order-restoring sort is ``repartition(1)`` + ``sortWithinPartitions``
    (the sink writes one file anyway): no range-sampling jobs, and the
    enrich output lands in shuffle files, so a retried sink task reads
    them back instead of re-paying the calls.
    """
    spec.validate()
    cfg = EnrichConfig(
        **{
            **spec.enrich.__dict__,
            "system_prompt": spec.system_prompt,
            "model": spec.model,
            "temperature": spec.temperature,
            "max_tokens": spec.tokens,
        }
    )

    if df is not None:
        raw = df
    else:
        # Reference addressing parity (test.py:170): file_url may be a
        # presigned/virtual-hosted/path-style S3 HTTPS URL or an
        # s3://... URI — map to s3a:// + fs.s3a.* conf; local paths
        # pass through untouched (sources/storage.py).
        src = map_url(spec.file_url)
        if src.scheme in ("http", "https"):
            # presigned S3 / plain HTTPS: no Hadoop FS speaks these —
            # stream the single object driver-side (reference
            # test.py:170 model) and scan the local copy
            from batch_processing_new_spark.sources.storage import (
                fetch_http_to_local,
            )

            raw = read_csv(spark, fetch_http_to_local(src.path))
        else:
            raw = read_csv(spark, apply_s3a_conf(spark, src))
    input_col = raw.columns[spec.column_index]  # positional (test.py:151,86)

    with_id, total_rows = with_ingest_row_id_and_count(raw, ROW_ID)

    # LIMIT with a stable complement (ops 3 + 12): where on _row_id, not
    # df.limit(n) — the tail must be exactly the non-enriched rows.
    head = with_id.where(F.col(ROW_ID) < spec.max_rows)
    tail = with_id.where(F.col(ROW_ID) >= spec.max_rows)
    head_rows = min(spec.max_rows, total_rows)
    width, per_task = enrich_topology(
        head_rows, spark.sparkContext.defaultParallelism, cfg.concurrency
    )
    if width > 1:
        # one shuffle either way (module docstring); the sort below
        # restores ingest order
        if cfg.temperature == 0:
            head = co_partition(head, input_col, width)
        else:
            head = head.repartition(width)

    enriched_head = enrich(
        head, input_col, replace(cfg, concurrency=per_task), response_col="Response"
    )
    # op 13: error aggregation — the 1-based indexes of sentinel rows
    # (reference count_errors_in_csv, test.py:40-54), observed as the
    # sink's job runs. An empty head plans as a pruned branch that never
    # reports its metrics, so it is not observed (it has no errors).
    errors = None
    if head_rows > 0:
        errors = Observation()
        enriched_head = enriched_head.observe(
            errors,
            F.collect_list(
                F.when(F.col("Response") == SENTINEL, F.col(ROW_ID) + 1)
            ).alias("idx"),
        )
    passthrough_tail = tail.withColumn("Response", F.lit(""))

    out = enriched_head.unionByName(passthrough_tail)
    ordered = out.repartition(1).sortWithinPartitions(ROW_ID).drop(ROW_ID)

    dest = map_url(output_dir)
    try:
        if dest.scheme == "s3a":
            # object-store sink (reference put_object + public-read ACL,
            # test.py:248-253): ONE downloadable object at the final
            # key (stage + FS rename — a bare .csv(path) write would
            # leave a part-file DIRECTORY at the advertised key), ACL
            # via the s3a canned-ACL conf, and the returned URL is the
            # public HTTPS form the reference hands back
            from batch_processing_new_spark.sinks.writers import (
                write_single_csv_hadoop,
            )

            out_path = f"{apply_s3a_conf(spark, dest, public_read=True)}/{spec.file_name}_final.csv"
            write_single_csv_hadoop(spark, ordered, out_path)
            bucket_key = out_path[len("s3a://"):]
            bucket, _, key = bucket_key.partition("/")
            output_path = f"https://{bucket}.s3.amazonaws.com/{key}"
        else:
            output_path = write_single_csv(
                ordered, f"{output_dir}/{spec.file_name}_final.csv"
            )
    finally:
        # the sink was the pinned input's last reader
        release_row_id_pin(with_id)
    # a set: a re-run map stage would report its rows' ids twice
    error_indexes = sorted(set(errors.get["idx"])) if errors else []

    result = PipelineResult(
        output_path=output_path,
        row_count=total_rows,
        error_count=len(error_indexes),
        error_indexes=error_indexes,
    )
    if spec.webhook_url:
        _notify_webhook(spec, result)
    return result


def _notify_webhook(spec: PipelineSpec, result: PipelineResult) -> None:
    """Completion webhook (op 15, test.py:260-281): failures are logged
    and swallowed — job success never depends on the notification."""
    payload = {
        "message": "CSV processing completed",
        "file_url": result.output_path,
        "error_count": result.error_count,
        "request_id": spec.request_id,
    }
    try:
        req = urllib.request.Request(
            spec.webhook_url,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        urllib.request.urlopen(req, timeout=200)
    except Exception as exc:  # noqa: BLE001
        log.warning(
            "webhook notify failed (swallowed): request_id=%s: %s",
            spec.request_id,
            exc,
        )

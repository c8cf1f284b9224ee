"""Per-row LLM enrichment — the reference's core operator, Spark-first.

Reference semantics being reproduced (SURVEY.md §2A, cited to
/root/reference/test.py):

- prompt construction ``f"{system_prompt}\\n\\nInput: {cell}"`` (test.py:86-87)
- one chat-completions call per row, response text appended as a new
  ``Response`` column (test.py:57-74, test.py:186)
- retry x7 with exponential backoff 1s->64s, per-call timeout, terminal
  failure degrades to the in-band sentinel ``"Error: Unable to process"``
  (test.py:66-80) — a row never aborts the job (test.py:105-107)
- ~200 concurrent in-flight calls via a two-level thread pool
  (test.py:116,163-165,200)

Spark mapping: ``df.mapInPandas`` — each Arrow batch is processed by an
asyncio loop with a semaphore-capped client pool: Spark tasks are the
reference's outer pool of batches, the semaphore its inner per-batch
pool. Calls in flight are ``min(width, slots) x concurrency``, where
width is the input's partition count and slots are executors x cores.
``enrich()`` keeps its input's partitioning and call cap; the enrichment
pipeline (``plans/pipeline.py``, see its module docstring), whose small
CSV arrives as one split, sets both: width ``min(batches, slots)`` over
the reference's ``batches = ceil(head_rows / 1000)``, and a per-task cap
that keeps ``min(batches, 10) x concurrency`` calls in flight when the
batches outnumber the slots. The dedupe path spreads the distinct
inputs over ``defaultParallelism`` tasks. The enrichment result is a
typed struct (response, error, attempts, latency_ms) rather than an
in-band sentinel; ``response`` keeps the sentinel-compatible value for
parity.

Scale notes:
- The operator is an optimizer barrier by construction (Python UDF); keep
  it late in the plan, after filters/limits, so Catalyst prunes first.
- Spark task retries would re-run whole partitions of paid API calls —
  callers should run the enrich stage with ``spark.task.maxFailures=1``
  and speculation off, or make calls idempotent via the dedupe path.
  In ``plans/pipeline.py`` the enrich output lands in shuffle files
  (the order-restoring ``repartition(1)``), so a retried sink task reads
  them back rather than paying for the calls again; only a retried
  enrich task (or a lost shuffle file) re-pays its partition.
- ``dedupe_inputs=True`` enriches only DISTINCT input texts and joins
  results back — the big real-world cost optimization the reference
  lacks (SURVEY.md §4.2).
"""

from __future__ import annotations

import asyncio
import hashlib
import time
from collections import deque
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field, replace

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SENTINEL = "Error: Unable to process"  # exact string, reference test.py:80

# Driver-side progress accumulators pinned while their queries can still
# flush updates (see comment at the accumulator() call in enrich()).
# Bounded: a long-lived service calling enrich() per request must not
# leak one Accumulator per call forever — only recent queries can have
# straggler flushes, so keep the last 64 alive.
_LIVE_ACCUMULATORS: deque = deque(maxlen=64)


@dataclass
class EnrichConfig:
    """Job spec — mirrors the reference's POST body (test.py:148-159)."""

    system_prompt: str = ""
    model: str = "mock-model"
    temperature: float = 0.0
    max_tokens: int = 16
    # orchestration (reference: 20 row-workers/batch, 7 retries, 1s base
    # backoff doubling to 64s, 200s timeout — test.py:66-78,116)
    concurrency: int = 20
    retries: int = 7
    base_delay: float = 1.0
    max_delay: float = 64.0
    timeout: float = 200.0
    # transport: "mock" (deterministic, hermetic) or "http" (real API)
    transport: str = "mock"
    api_url: str = ""
    api_key_env: str = "OPENAI_API_KEY"
    # resolved driver-side by enrich() from api_key_env: executors do
    # NOT inherit the driver's env vars on a real cluster, so reading
    # os.environ inside the transport (which runs executor-side) would
    # silently send "Bearer " and degrade every row to the sentinel
    # after the full retry budget
    api_key: str = ""
    # mock-only: inputs for which the transport terminally fails, to
    # exercise the sentinel path deterministically in tests
    mock_fail_inputs: frozenset[str] = field(default_factory=frozenset)
    # mock-only: simulated per-call latency seconds (0 = as fast as possible)
    mock_latency: float = 0.0
    # cost optimization: enrich distinct inputs only, join back
    dedupe_inputs: bool = False

    def __post_init__(self) -> None:
        # the loop is `for attempt in range(1, retries + 1)` — the same
        # total-attempts meaning as the reference's `range(retries)`
        # (test.py:68); retries=0 would return the sentinel without a
        # single call and zero diagnostics, so reject it loudly
        if self.retries < 1:
            raise ValueError("retries means TOTAL attempts; must be >= 1")


def build_prompt(system_prompt: str, input_text: str) -> str:
    """Exact prompt shape of the reference (test.py:87)."""
    return f"{system_prompt}\n\nInput: {input_text}"


def mock_response(prompt: str) -> str:
    """Deterministic mock transport: md5-derived response.

    md5 (not sha1) because the DuckDB oracle must compute the identical
    value in SQL and DuckDB 1.0 ships md5 but not sha1.
    """
    return "resp::" + hashlib.md5(prompt.encode("utf-8")).hexdigest()[:8]


class MalformedResponseError(Exception):
    """A 2xx JSON response missing the chat-completions shape
    (choices/message/content keys, or content of the wrong type).

    Reference parity (test.py:68-80): ``response.json()`` raises
    ``requests.JSONDecodeError`` — a ``RequestException`` subclass since
    requests 2.27 — so an UNPARSEABLE body IS retried by the blanket
    ``except RequestException``; only the subsequent key lookups
    (``['choices'][0]['message']['content']``) raise KeyError/IndexError,
    which escape ``make_openai_call`` entirely and degrade to the
    sentinel in ``process_row`` with NO remaining retries. This class
    marks exactly that second, non-retryable case; JSON parse failures
    raise plain ``json.JSONDecodeError`` and take the retry path.
    """


async def _call_with_retries(
    transport: Callable,
    prompt: str,
    input_text: str,
    cfg: EnrichConfig,
    sem: asyncio.Semaphore,
) -> tuple[str, str | None, int, float]:
    """Retry x N with exponential backoff; degrade to sentinel (test.py:66-80).

    Error asymmetry (test.py:68-80): transport failures — connection,
    HTTP >= 400, timeout, AND a 200 body that isn't valid JSON (the
    reference's response.json() raises a RequestException subclass) —
    retry up to ``cfg.retries`` times; a MalformedResponseError (valid
    JSON missing the chat-completions keys) skips all remaining retries
    and degrades immediately.
    """
    t0 = time.monotonic()
    delay = cfg.base_delay
    last_err: str | None = None
    for attempt in range(1, cfg.retries + 1):
        try:
            async with sem:
                # headroom over the transport's own deadline: the
                # blocking worker self-terminates (see http_transport),
                # so wait_for is a backstop that fires only if a thread
                # is truly wedged — cancelling first would leak the
                # still-running thread's pool slot. x4: the pre-body
                # phases (connect/TLS/headers) are each bounded by the
                # remaining budget but urllib can't re-check a deadline
                # inside one socket op, so the worst honest case is a
                # few ops long.
                resp = await asyncio.wait_for(
                    transport(prompt, input_text), timeout=cfg.timeout * 4 + 1
                )
            return resp, None, attempt, (time.monotonic() - t0) * 1000.0
        except MalformedResponseError as exc:
            last_err = f"{type(exc).__name__}: {exc}"
            return SENTINEL, last_err, attempt, (time.monotonic() - t0) * 1000.0
        except Exception as exc:  # noqa: BLE001 — any failure degrades, never aborts
            last_err = f"{type(exc).__name__}: {exc}"
            if attempt < cfg.retries:
                await asyncio.sleep(min(delay, cfg.max_delay))
                delay *= 2
    return SENTINEL, last_err, cfg.retries, (time.monotonic() - t0) * 1000.0


def _make_transport(cfg: EnrichConfig) -> Callable:
    if cfg.transport == "mock":

        async def mock_transport(prompt: str, input_text: str) -> str:
            if cfg.mock_latency:
                await asyncio.sleep(cfg.mock_latency)
            # the scripted-failure hook gets the RAW input text as its
            # own argument — re-parsing it out of the prompt broke when
            # the system prompt itself contained the "\n\nInput: "
            # delimiter (a few-shot prompt demonstrating the format)
            if input_text in cfg.mock_fail_inputs:
                raise RuntimeError("scripted mock failure")
            return mock_response(prompt)

        return mock_transport

    if cfg.transport == "http":
        # Real chat-completions REST transport (reference test.py:58-74).
        # stdlib urllib (aiohttp/httpx may be absent in the image), made
        # non-blocking by a DEDICATED thread pool sized to the
        # concurrency cap: asyncio.to_thread shares the loop's default
        # executor (~32 threads), which would silently throttle a
        # 200-in-flight topology to ~32 — the semaphore must be the only
        # concurrency limiter, so the pool matches it.
        import json
        import urllib.request
        from concurrent.futures import ThreadPoolExecutor

        # cfg.api_key was resolved DRIVER-side by enrich() — this code
        # runs on executors, where the driver's env vars don't exist
        api_key = cfg.api_key
        executor = ThreadPoolExecutor(
            max_workers=max(cfg.concurrency, 1),
            thread_name_prefix="enrich-http",
        )

        async def http_transport(prompt: str, input_text: str) -> str:
            def blocking_call() -> str:
                body = json.dumps(
                    {
                        "model": cfg.model,
                        "messages": [{"role": "user", "content": prompt}],
                        "temperature": cfg.temperature,
                        "max_tokens": cfg.max_tokens,
                    }
                ).encode()
                req = urllib.request.Request(
                    cfg.api_url,
                    data=body,
                    headers={
                        "Content-Type": "application/json",
                        "Authorization": f"Bearer {api_key}",
                    },
                )
                # transport-level failures (connect refused, HTTP >= 400,
                # socket timeout, non-JSON 200 body) raise
                # URLError/HTTPError/OSError/JSONDecodeError here and
                # RETRY; a parsed-but-key-missing 200 raises
                # MalformedResponseError below and does NOT (test.py:68-80)
                #
                # The read loop enforces an OVERALL deadline: urlopen's
                # timeout bounds each socket op, so a drip-feed server
                # could hold the worker thread far beyond cfg.timeout —
                # and an abandoned (wait_for-cancelled) thread would
                # permanently occupy one of the pool's exactly-
                # `concurrency` slots. Self-terminating by deadline keeps
                # the semaphore the only concurrency limiter. The
                # pre-body phases (connect/TLS/headers) can't consult
                # the deadline mid-socket-op, so urlopen's per-op
                # timeout is the remaining budget and the deadline is
                # re-checked the moment headers land — the residual
                # worst case is a few ops x remaining, which is what
                # _call_with_retries' x4 wait_for backstop covers.
                deadline = time.monotonic() + cfg.timeout
                chunks: list[bytes] = []
                with urllib.request.urlopen(
                    req, timeout=max(1.0, deadline - time.monotonic())
                ) as r:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"headers exceeded {cfg.timeout}s deadline"
                        )
                    while True:
                        if time.monotonic() > deadline:
                            raise TimeoutError(
                                f"response exceeded {cfg.timeout}s deadline"
                            )
                        chunk = r.read(65536)
                        if not chunk:
                            break
                        chunks.append(chunk)
                raw = b"".join(chunks)
                # JSON parse failure is RETRYABLE (reference parity:
                # requests' .json() raises a RequestException subclass,
                # caught by the retry loop — test.py:69,74)
                payload = json.loads(raw)
                try:
                    return payload["choices"][0]["message"]["content"].strip()
                except (
                    KeyError,
                    IndexError,
                    TypeError,
                    AttributeError,
                ) as exc:
                    raise MalformedResponseError(
                        f"{type(exc).__name__}: {exc}"
                    ) from exc

            loop = asyncio.get_running_loop()
            return await loop.run_in_executor(executor, blocking_call)

        http_transport._executor = executor
        return http_transport

    raise ValueError(f"unknown transport: {cfg.transport}")


async def _enrich_series(texts: list[str], cfg: EnrichConfig) -> list[tuple]:
    transport = _make_transport(cfg)
    sem = asyncio.Semaphore(cfg.concurrency)
    try:
        return list(
            await asyncio.gather(
                *(
                    _call_with_retries(
                        transport, build_prompt(cfg.system_prompt, t), t, cfg, sem
                    )
                    for t in texts
                )
            )
        )
    finally:
        ex = getattr(transport, "_executor", None)
        if ex is not None:
            ex.shutdown(wait=False)


def enrich(
    df: DataFrame,
    input_col: str,
    cfg: EnrichConfig,
    response_col: str = "Response",
    with_result_struct: bool = False,
) -> DataFrame:
    """Append an LLM response column to ``df`` (reference ops 4-10).

    The input cell is string-coerced exactly as the reference does
    (``str(row[column_index])``, test.py:86). Output keeps every input
    column untouched and appends ``response_col`` (plus optionally the
    typed ``_enrich`` result struct with error/attempts/latency).
    """
    from pyspark.sql import types as T

    from batch_processing_new_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    # resolve the API key DRIVER-side: the transport is constructed on
    # executors, which don't inherit the driver's environment
    if cfg.transport == "http" and not cfg.api_key:
        import os

        cfg = replace(cfg, api_key=os.environ.get(cfg.api_key_env, ""))

    if cfg.dedupe_inputs:
        return _enrich_deduped(df, input_col, cfg, response_col, with_result_struct)

    appended = [response_col, "_enrich_error", "_enrich_attempts", "_enrich_latency_ms"]
    clash = [c for c in appended if c in df.columns]
    if clash:
        # a silent duplicate-name schema breaks every downstream select
        raise ValueError(f"enrich() output columns already exist: {clash}")
    # typed StructType, not DDL-string assembly: backticked-name
    # concatenation breaks on column names containing a backtick
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(response_col, T.StringType()),
            T.StructField("_enrich_error", T.StringType()),
            T.StructField("_enrich_attempts", T.IntegerType()),
            T.StructField("_enrich_latency_ms", T.DoubleType()),
        ]
    )
    acc = df.sparkSession.sparkContext.accumulator(0)  # progress (test.py:97-101)
    # Pin the driver-side Accumulator for session lifetime: when the
    # enriched DataFrame is GC'd, Accumulator.__del__ deregisters the id,
    # and any late JVM-side update flush (worker reuse / straggler task
    # completion during the NEXT query) then logs a noisy
    # "attempted to access non-existent accumulator" DAGScheduler error
    # (seen in BENCH_r01.json's tail between q30 and q37). One int per
    # enrich() call — bounded, never data-sized.
    _LIVE_ACCUMULATORS.append(acc)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[input_col].astype(str).tolist()
            results = asyncio.run(_enrich_series(texts, cfg))
            out = pdf.copy()
            out[response_col] = [r[0] for r in results]
            out["_enrich_error"] = [r[1] for r in results]
            out["_enrich_attempts"] = [r[2] for r in results]
            out["_enrich_latency_ms"] = [r[3] for r in results]
            acc.add(len(out))
            yield out

    result = df.mapInPandas(run, schema=out_schema)
    if not with_result_struct:
        result = result.drop("_enrich_error", "_enrich_attempts", "_enrich_latency_ms")
    return result


def _enrich_deduped(
    df: DataFrame,
    input_col: str,
    cfg: EnrichConfig,
    response_col: str,
    with_result_struct: bool,
) -> DataFrame:
    """Enrich DISTINCT inputs, then join responses back.

    Same-input rows cost one API call instead of N.

    Semantics parity with the non-dedupe path: distinct runs on the RAW
    column (not a Spark string cast — Spark's CAST renders booleans/
    floats/NULL differently than the pandas ``astype(str)`` the kernel
    applies, so casting here would change PROMPTS between the two
    paths), and the join back is null-safe so NULL inputs receive the
    same ``str(None)``-prompted response they get without dedupe
    (reference test.py:86 coerces with str() too).

    Join strategy is left to the optimizer: the map is usually tiny ->
    AQE picks a broadcast join from its actual size; an explicit
    broadcast() HINT would be forced even for a huge high-cardinality
    map (AQE never demotes a user hint) and could abort the job at the
    driver's broadcast limit — violating the never-abort contract.
    """
    base_cfg = replace(cfg, dedupe_inputs=False)
    # explicit width: AQE would coalesce a bare distinct()'s small
    # shuffle to ONE enrich task, but never an explicit partition count;
    # the aggregate reuses this hash partitioning, so it is one exchange
    distinct = (
        df.select(F.col(input_col).alias("_enrich_key"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "_enrich_key")
        .distinct()
    )
    enriched_map = enrich(
        distinct, "_enrich_key", base_cfg, response_col, with_result_struct=True
    )
    joined = df.join(
        enriched_map,
        df[input_col].eqNullSafe(enriched_map["_enrich_key"]),
        "left",
    ).drop("_enrich_key")
    if not with_result_struct:
        joined = joined.drop("_enrich_error", "_enrich_attempts", "_enrich_latency_ms")
    return joined

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

Spark mapping: an iterator ``pandas_udf`` over the input column, so
only that column crosses into Python however wide the rows are; the
other columns stay in the JVM. Each task runs its Arrow batches' calls
on one asyncio loop with a semaphore-capped client pool: Spark tasks
are the reference's outer pool of batches, the semaphore its inner
per-batch pool. Calls in flight are ``min(width, slots) x concurrency``, where
width is the input's partition count and slots are executors x cores.
``enrich()`` keeps its input's partitioning and call cap; the enrichment
pipeline (``plans/pipeline.py``, see its module docstring), whose small
CSV arrives as one split, sets both: width ``min(batches, slots)`` over
the reference's ``batches = ceil(head_rows / 1000)``, and a per-task cap
that keeps ``min(batches, 10) x concurrency`` calls in flight when the
batches outnumber the slots. The enrichment result is a typed struct
(response, error, attempts, latency_ms) rather than an in-band
sentinel; ``response`` keeps the sentinel-compatible value for parity.

Shared calls: at ``temperature == 0`` the model's answer depends only on
the prompt, so equal prompts share one call — the big real-world cost
optimization the reference lacks (SURVEY.md §4.2). The kernel calls
each Arrow batch's distinct texts once and carries the last text's call
into the next batch, so memory stays a few batches at any scale. On
input laid out by ``co_partition()`` (hash-partitioned and sorted on the
input value, so equal values are adjacent in one task) that is one call
per distinct input value; on any other layout it is at most one per
distinct prompt per batch. The kernel's key is the string-coerced text,
i.e. the prompt itself, so NULL inputs share the one ``str(None)``
prompt. Unequal values with one prompt (a NULL and the text ``"None"``;
a NULL and a NaN in a float column) may sit apart, and then each pays a
call. At any other temperature every row gets its own call, as in the
reference.

Scale notes:
- The operator is an optimizer barrier by construction (Python UDF); keep
  it late in the plan, after filters/limits, so Catalyst prunes first.
- Spark task retries would re-run whole partitions of paid API calls —
  callers should run the enrich stage with ``spark.task.maxFailures=1``
  and speculation off. In ``plans/pipeline.py`` the enrich output lands
  in shuffle files (the order-restoring ``repartition(1)``), so a
  retried sink task reads them back rather than paying for the calls
  again; only a retried enrich task (or a lost shuffle file) re-pays its
  partition (at temperature 0, its partition's distinct prompts).
- ``co_partition()`` puts all rows of one text in one task, so a text
  that fills much of the input makes that task the stage's longest.
"""

from __future__ import annotations

import asyncio
import hashlib
import time
from collections import deque
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field, replace

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SENTINEL = "Error: Unable to process"  # exact string, reference test.py:80

# Driver-side progress accumulators pinned while their queries can still
# flush updates (see comment at the accumulator() call in enrich()).
# Bounded: a long-lived service calling enrich() per request must not
# leak one Accumulator per call forever — only recent queries can have
# straggler flushes, so keep the last 64 alive.
_LIVE_ACCUMULATORS: deque = deque(maxlen=64)

# Arrow batches an enrich task holds while their calls run: the memory
# bound of a task whose batches repeat one text (no new calls to wait on)
_WINDOW_BATCHES = 8

# the kernel's per-row result; enrich() appends its fields as columns
_RESULT_NAMES = ["response", "error", "attempts", "latency_ms"]
_RESULT_TYPE = "response string, error string, attempts int, latency_ms double"


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


def _enrich_batches(
    batches: Iterator[pd.Series], cfg: EnrichConfig, count: Callable[[int], object]
) -> Iterator[pd.DataFrame]:
    """The kernel of ``enrich()``: one task's batches of input cells in,
    one result frame per batch out, in order. ``count`` gets each
    batch's number of calls."""
    loop = asyncio.new_event_loop()
    transport = _make_transport(cfg)
    sem = asyncio.Semaphore(cfg.concurrency)
    # temperature 0: equal prompts share a call (module docstring)
    share = cfg.temperature == 0
    carry: dict[str, asyncio.Task] = {}  # shared: the last text read
    window: deque = deque()  # (its rows' calls, its new calls) per batch

    def call(text: str) -> asyncio.Task:
        prompt = build_prompt(cfg.system_prompt, text)
        return loop.create_task(
            _call_with_retries(transport, prompt, text, cfg, sem)
        )

    def wait(calls: list, **kw) -> None:
        async def gathered() -> None:
            await asyncio.gather(*calls, **kw)

        loop.run_until_complete(gathered())

    def finish() -> pd.DataFrame:
        row_calls, new = window.popleft()
        # a row's call is its batch's own or an earlier batch's
        wait(new)
        return pd.DataFrame([c.result() for c in row_calls], columns=_RESULT_NAMES)

    try:
        for cells in batches:
            texts = cells.astype(str).tolist()
            if share:
                todo = [t for t in dict.fromkeys(texts) if t not in carry]
                known = {**carry, **{t: call(t) for t in todo}}
                row_calls = [known[t] for t in texts]
                new = [known[t] for t in todo]
                if texts:  # co-partitioned input: only this text can recur
                    carry = {texts[-1]: known[texts[-1]]}
            else:
                new = row_calls = [call(t) for t in texts]
            count(len(new))  # calls: rows, or new distinct prompts
            window.append((row_calls, new))
            # await the oldest batch once the batches behind it can fill
            # the call slots it frees: the slots stay full across batches,
            # also when a batch of repeated texts has few distinct ones
            while len(window) > 1 and (
                len(window) > _WINDOW_BATCHES
                or sum(len(w[1]) for w in list(window)[1:]) >= cfg.concurrency
            ):
                yield finish()
        while window:
            yield finish()
    finally:
        left = [t for t in asyncio.all_tasks(loop) if not t.done()]
        for t in left:  # the consumer stopped early
            t.cancel()
        wait(left, return_exceptions=True)
        ex = getattr(transport, "_executor", None)
        if ex is not None:
            ex.shutdown(wait=False)
        loop.close()


def prompt_cells(df: DataFrame, input_col: str) -> Column:
    """``input_col`` of ``df`` as ``enrich()`` prompts on it: taken by its
    literal name, an integer column cast to string in the JVM (see
    ``enrich()``)."""
    cells = F.col("`" + input_col.replace("`", "``") + "`")
    if isinstance(df.schema[input_col].dataType, T.IntegralType):
        cells = cells.cast("string")
    return cells


def co_partition(df: DataFrame, input_col: str, width: int) -> DataFrame:
    """``df`` in ``width`` partitions with equal values of ``input_col``
    in one partition and adjacent: the layout on which ``enrich()`` at
    temperature 0 calls each distinct input value once (module
    docstring). An explicit count,
    which AQE never coalesces, keeps the full width."""
    cells = prompt_cells(df, input_col)
    return df.repartition(width, cells).sortWithinPartitions(cells)


def enrich(
    df: DataFrame,
    input_col: str,
    cfg: EnrichConfig,
    response_col: str = "Response",
    with_result_struct: bool = False,
) -> DataFrame:
    """Append an LLM response column to ``df`` (reference ops 4-10).

    The input cell is string-coerced exactly as the reference does
    (``str(row[column_index])``, test.py:86), and a NULL is prompted as
    ``"None"``. An integer column is cast to string in the JVM first:
    Arrow hands pandas a ``float64`` for any batch holding a NULL, which
    would prompt ``1`` as ``"1.0"`` in that batch and ``"1"`` in the
    next. Output keeps every input column untouched and appends
    ``response_col`` (plus optionally the typed ``_enrich`` result
    struct with error/attempts/latency). The input's partitioning is
    kept; at ``cfg.temperature == 0`` equal prompts share a call, once
    per distinct input value on input laid out by ``co_partition()``.
    """
    from batch_processing_new_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    # resolve the API key DRIVER-side: the transport is constructed on
    # executors, which don't inherit the driver's environment
    if cfg.transport == "http" and not cfg.api_key:
        import os

        cfg = replace(cfg, api_key=os.environ.get(cfg.api_key_env, ""))

    appended = [response_col, "_enrich_error", "_enrich_attempts", "_enrich_latency_ms"]
    clash = [c for c in [*appended, "_enrich"] if c in df.columns]
    if clash:
        # a silent duplicate-name schema breaks every downstream select
        raise ValueError(f"enrich() output columns already exist: {clash}")
    cells = prompt_cells(df, input_col)
    acc = df.sparkSession.sparkContext.accumulator(0)  # progress (test.py:97-101)
    # Pin the driver-side Accumulator for session lifetime: when the
    # enriched DataFrame is GC'd, Accumulator.__del__ deregisters the id,
    # and any late JVM-side update flush (worker reuse / straggler task
    # completion during the NEXT query) then logs a noisy
    # "attempted to access non-existent accumulator" DAGScheduler error
    # (seen in BENCH_r01.json's tail between q30 and q37). One int per
    # enrich() call — bounded, never data-sized.
    _LIVE_ACCUMULATORS.append(acc)

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        return _enrich_batches(batches, cfg, acc.add)

    # only the input column crosses into Python, however wide the rows;
    # nondeterministic, so the optimizer never evaluates it twice
    calls = F.pandas_udf(run, _RESULT_TYPE).asNondeterministic()
    res = F.col("_enrich")
    appended = appended if with_result_struct else appended[:1]
    return (
        df.withColumn("_enrich", calls(cells))
        .withColumns({c: res[f] for f, c in zip(_RESULT_NAMES, appended)})
        .drop("_enrich")
    )


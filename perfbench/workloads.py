"""The benchmark's workloads: set-up, one unit of work, output checks.

A workload object is built with a ``Context`` (session, seeded RNG, work
directory, optional tracer), does its set-up in ``setup()``, and runs one
unit of work per ``unit()`` call, returning a ``UnitResult``. Every
operation is checked against an independently computed expectation; a
mismatch or an exception counts as a failed operation.
"""

from __future__ import annotations

import csv
import hashlib
import importlib
import json
import os
import shutil
import sys
import threading
import time
import traceback
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import corpus

PKG = "batch_processing_new_spark"

#: The analytics unit: one pass over these 15 registered queries (one
#: per operator family), each built with ``fn(spark, sf_dir)`` and run to
#: the noop sink.
HEADLINE = [
    "q01_pricing_summary",
    "q03_region_revenue",
    "q06_revenue_forecast",
    "q10_window_topk_per_group",
    "q20_order_lineitem_join",
    "q21_sessionize",
    "q30_enrich_map",
    "q37_minhash_lsh_pairs",
    "q42_ann_lsh_topk",
    "q83_dup_ngram_fraction",
    "q95_decontaminate",
    "q99_unigram_logprob",
    "q112_seeded_shuffle_shard",
    "q113_kmeans",
    "q117_disjunctive_join",
]


@dataclass
class Context:
    spark: object
    specs: dict
    rng: np.random.Generator
    work: str
    tracer: object = None  # spans.Tracer while a traced unit runs


@dataclass
class UnitResult:
    wall: float
    jobs: list[float]  # per-job latency, inf for a failed job
    attempted: int
    failed: int
    ops: list[dict] = field(default_factory=list)  # traced per-op records


def _mod(name: str):
    """The engine module; its functions are looked up at call time so a
    traced run's wrappers are the functions called."""
    return importlib.import_module(f"{PKG}.{name}")


@contextmanager
def _no_span(*_args, **_kwargs):
    yield {}


def _fail(what: str) -> None:
    print(f"# FAILED {what}", file=sys.stderr)


# -- analytics ----------------------------------------------------------


def _canon(cols: list[str], rows) -> list[str]:
    """Order-insensitive canonical rows: columns sorted by name, floats
    to 9 significant digits, NULL/NaN as one token."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())

    def cell(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if hasattr(v, "isoformat"):
            return v.isoformat().replace("T", " ")
        return str(v)

    return sorted("|".join(cell(r[i]) for i in order) for r in rows)


class Analytics:
    """Closed loop, one client: each unit is one pass over HEADLINE in an
    order drawn from the seed; each query's latency is construction plus
    execution to the noop sink."""

    corpus_name = "sf0.1"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "corpus")
        self.rows: dict[str, int] = {}
        self.results: dict[str, list[str] | None] = {}

    def build_corpus(self) -> dict:
        return corpus.build_sf01(self.sf_dir)

    def setup(self) -> tuple[int, int]:
        corpus.check_fingerprint(self.corpus_name, self.build_corpus())
        return self.warm_up()

    def warm_up(self) -> tuple[int, int]:
        """Run every query once and keep its canonical result. This is
        the warm-up; ``check`` compares the results with their oracles
        after the timed units, so DuckDB neither runs inside set-up nor
        competes with Spark for cores. Returns (attempted, failed)."""
        failed = 0
        for name in HEADLINE:
            try:
                df = self.ctx.specs[name].fn(self.ctx.spark, self.sf_dir)
                self.results[name] = _canon(df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 — a failing query is a failed op
                traceback.print_exc()
                failed += 1
                _fail(f"{name}: raised")
                self.results[name] = None
            self.rows[name] = len(self.results[name] or [])
        return len(HEADLINE), failed

    def check(self) -> int:
        """Compare each warm-up result with its DuckDB oracle from the
        registry; q37 has no oracle, so its canonical result must match
        the recorded fingerprint. Returns the number of wrong results
        (a query that raised was already counted)."""
        import duckdb

        con = duckdb.connect()
        for t in corpus.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._glob(t)}')")
        with open(corpus.FINGERPRINTS_FILE) as f:
            recorded = json.load(f)[self.corpus_name + ".results"]
        wrong = 0
        for name in HEADLINE:
            got = self.results[name]
            if got is None:
                continue
            oracle = self.ctx.specs[name].oracle
            if oracle is not None:
                rel = con.sql(oracle)
                ok = got == _canon(rel.columns, rel.fetchall())
            else:
                digest = hashlib.sha256("\n".join(got).encode()).hexdigest()
                ok = recorded.get(name) == {"rows": len(got), "sha256": digest}
            if not ok:
                wrong += 1
                _fail(f"{name}: result differs from its oracle")
        con.close()
        return wrong

    def _glob(self, table: str) -> str:
        path = os.path.join(self.sf_dir, f"{table}.parquet")
        return os.path.join(path, "*.parquet") if os.path.isdir(path) else path

    def unit(self) -> UnitResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        ctx, tracer = self.ctx, self.ctx.tracer
        jobs, ops, failed = [], [], 0
        t_unit = time.perf_counter()
        span = tracer.span if tracer else _no_span
        for name in ctx.rng.permutation(HEADLINE):
            op = {"name": str(name), "eager_jobs": 0}
            if tracer:
                op["op"] = tracer.new_op(op["name"])
            t0 = time.perf_counter()
            try:
                with span("operators.construct", count_jobs=True) as c:
                    df = ctx.specs[name].fn(ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                obs = Observation()
                with span("operators.exec"):
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                n = obs.get["n"]
                t2 = time.perf_counter()
                op["eager_jobs"] = c.get("jobs_after", 0)
                ok = n == self.rows[name]
                if not ok:
                    _fail(f"{name}: {n} rows, expected {self.rows[name]}")
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok, t1, t2 = False, t0, time.perf_counter()
            failed += not ok
            jobs.append(t2 - t0 if ok else float("inf"))
            op.update(construct_s=t1 - t0, exec_s=t2 - t1)
            ops.append(op)
        return UnitResult(time.perf_counter() - t_unit, jobs, len(HEADLINE), failed, ops)

    def probe_input(self):
        """The documents table under the enrich operator, as q30 runs it,
        with enrich-batch's latency-bound settings."""
        docs = _mod("sources.readers").load_table(self.ctx.spark, self.sf_dir, "documents")
        texts = [r[0] for r in docs.select("text").collect()]
        return docs.select("doc_id", "text"), "text", probe_config(texts)


class AnalyticsX10(Analytics):
    """The same pass on a x10 corpus built by the engine's own
    ``tools/scale_stress.build`` from the generated sf0.1 corpus."""

    corpus_name = "x10"

    def build_corpus(self) -> dict:
        base = os.path.join(self.ctx.work, "corpus-sf0.1")
        corpus.check_fingerprint("sf0.1", corpus.build_sf01(base))
        os.environ["SPARK_GRAFT_SF_DIR"] = base
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        import scale_stress

        scale_stress.build(self.ctx.spark, 10, self.sf_dir)
        return corpus.spark_fingerprint(self.ctx.spark, self.sf_dir)


# -- enrichment pipeline ------------------------------------------------

#: Scripted terminal failures: one input in 250 (24 of enrich-batch's
#: 6,000 head rows).
FAIL_EVERY = 250


def latency_bound_config(fails) -> "EnrichConfig":
    """enrich-batch's enrichment settings: the mock transport has 10 ms
    of latency per call, ``fails`` fail terminally, and retries and
    backoff are shortened."""
    from batch_processing_new_spark.operators.enrich import EnrichConfig

    return EnrichConfig(
        system_prompt=corpus.SYSTEM_PROMPT,
        mock_latency=0.01,
        mock_fail_inputs=frozenset(fails),
        retries=3,
        base_delay=0.005,
        max_delay=0.01,
    )


def probe_config(texts: list[str]) -> "EnrichConfig":
    """The traced enrich probe's settings on any input: enrich-batch's,
    with the scripted failures drawn from the input itself (the distinct
    texts whose md5 sorts first), so retries and sentinel rows occur
    whatever the workload."""
    distinct = sorted(set(texts), key=lambda t: hashlib.md5(t.encode()).hexdigest())
    return latency_bound_config(distinct[: max(1, len(texts) // FAIL_EVERY)])


def expected_response(text: str, fails: set[str]) -> str:
    """Independent recomputation of the mock transport's reply."""
    from batch_processing_new_spark.operators.enrich import SENTINEL

    if text in fails:
        return SENTINEL
    prompt = f"{corpus.SYSTEM_PROMPT}\n\nInput: {text}"
    return "resp::" + hashlib.md5(prompt.encode("utf-8")).hexdigest()[:8]


def check_output_csv(path: str, texts: list[str], head: int, fails: set[str]) -> bool:
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    want = [["row", "text", "Response"]] + [
        [str(i), t, expected_response(t, fails) if i < head else ""]
        for i, t in enumerate(texts)
    ]
    return rows == want


class EnrichBatch:
    """One ``run_enrichment_pipeline`` job per unit over a seeded CSV:
    about half the rows repeat another row's text, ``max_rows`` leaves a
    passthrough tail, some inputs are scripted terminal failures, and the
    mock transport has 10 ms per-call latency."""

    ROWS, HEAD = 8_000, 6_000

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "enrich", "input.csv")
        self.k = 0

    def spec(self, k: int):
        from batch_processing_new_spark.plans.pipeline import PipelineSpec

        return PipelineSpec(
            file_url=self.path,
            column_index=1,
            max_rows=self.HEAD,
            system_prompt=corpus.SYSTEM_PROMPT,
            file_name=f"batch{k}",
            request_id=f"batch{k}",
            enrich=latency_bound_config(self.fails),
        )

    def setup(self) -> tuple[int, int]:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        self.texts = corpus.write_enrich_csv(self.path, self.ctx.rng, self.ROWS, 0.5)
        head = sorted(set(self.texts[: self.HEAD]))
        pick = self.ctx.rng.choice(len(head), self.HEAD // FAIL_EVERY, replace=False)
        self.fails = {head[int(i)] for i in pick}
        self.errors = [i + 1 for i, t in enumerate(self.texts[: self.HEAD]) if t in self.fails]
        r = self.unit()  # warm-up job, checked like every other
        return r.attempted, r.failed

    def unit(self) -> UnitResult:
        self.k += 1
        out_dir = os.path.join(self.ctx.work, "enrich", f"out{self.k}")
        t0 = time.perf_counter()
        try:
            res = _mod("plans.pipeline").run_enrichment_pipeline(
                self.ctx.spark, self.spec(self.k), out_dir
            )
            wall = time.perf_counter() - t0
            ok = (
                res.row_count == self.ROWS
                and res.error_indexes == self.errors
                and res.error_count == len(self.errors)
                and check_output_csv(res.output_path, self.texts, self.HEAD, self.fails)
            )
            if not ok:
                _fail(f"enrich-batch job {self.k}: output differs")
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            ok, wall = False, time.perf_counter() - t0
        shutil.rmtree(out_dir, ignore_errors=True)
        return UnitResult(wall, [wall if ok else float("inf")], 1, int(not ok))

    def probe_input(self):
        """The enriched head, as the pipeline builds it."""
        from pyspark.sql import functions as F

        readers = _mod("sources.readers")
        raw = readers.read_csv(self.ctx.spark, self.path)
        head = readers.with_ingest_row_id(raw).where(F.col("_row_id") < self.HEAD)
        return head, "text", self.spec(0).enrich


# -- HTTP service -------------------------------------------------------


class ServiceSmallJobs:
    """Closed loop, two client threads, against ``service.EnrichmentServer``
    (zero-latency mock): each job is a 2k-row CSV with half its rows
    enriched. A unit is one round in which each client sends
    ``JOBS_PER_CLIENT`` jobs back to back.

    The warm-up sends ONE request alone before the clients start: two
    concurrent first requests on a fresh SparkContext race in
    ``shipping.ensure_package_on_executors`` (unlocked check of the
    shipped-context set, pid-keyed zip written before ``addPyFile``) and
    every job then fails with HTTP 500. A long-lived service is past its
    first request, so the benchmark measures that steady state.
    """

    ROWS, HEAD, FILES, CLIENTS, JOBS_PER_CLIENT = 2_000, 1_000, 4, 2, 2
    #: untimed rounds after the lone request: round time keeps falling
    #: for the first ~30 s of traffic while the JIT compiles, but the
    #: run budget affords only the steepest part of that warm-up
    WARMUP_ROUNDS = 2

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "service")
        self.n = 0
        self._lock = threading.Lock()
        self.latency: dict[str, float] = {}

    def setup(self) -> tuple[int, int]:
        from batch_processing_new_spark.service import EnrichmentServer

        os.makedirs(os.path.join(self.dir, "out"), exist_ok=True)
        self.inputs = []
        for i in range(self.FILES):
            path = os.path.join(self.dir, f"job{i}.csv")
            texts = corpus.write_enrich_csv(path, self.ctx.rng, self.ROWS, 0.5)
            if i == 0:
                self.texts = texts  # the enrich probe's input
            self.inputs.append(path)
        self.server = EnrichmentServer(self.ctx.spark, os.path.join(self.dir, "out"))
        self.server.start()
        ok, lat = self.post()  # alone: see the class docstring
        attempted, failed = 1, int(not ok)
        walls = []
        for _ in range(self.WARMUP_ROUNDS):
            r = self.unit()
            attempted, failed = attempted + r.attempted, failed + r.failed
            walls.append(f"{r.wall:.2f}")
        print(f"# warm-up: request alone {lat:.3f} s, rounds {' '.join(walls)} s")
        return attempted, failed

    def close(self) -> None:
        if hasattr(self, "server"):
            self.server.stop()

    def post(self) -> tuple[bool, float]:
        with self._lock:
            self.n += 1
            n = self.n
        body = {
            "s3_file_url": self.inputs[n % self.FILES],
            "column_index": 1,
            "max_rows": self.HEAD,
            "system_prompt": corpus.SYSTEM_PROMPT,
            "model": "mock-model",
            "temperature": 0.0,
            "tokens": 16,
            "file_name": f"job{n}",
            "request_id": f"req{n}",
            "version_id": "v1",
        }
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.server.port}/process_csv",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                code, reply = r.status, json.loads(r.read())
        except urllib.error.HTTPError as exc:
            code, reply = exc.code, {"error": exc.read().decode(errors="replace")}
        except OSError as exc:
            code, reply = 0, {"error": str(exc)}
        latency = time.perf_counter() - t0
        ok = code == 200 and reply.get("row_count") == self.ROWS and reply.get("error_count") == 0
        if ok:
            os.remove(reply["file_url"])
        else:
            _fail(f"service request req{n}: HTTP {code} {str(reply)[:200]}")
        self.latency[f"req{n}"] = latency
        return ok, latency

    def unit(self) -> UnitResult:
        results: list[tuple[bool, float]] = []

        def client() -> None:
            for _ in range(self.JOBS_PER_CLIENT):
                results.append(self.post())

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        return UnitResult(
            wall,
            [lat if ok else float("inf") for ok, lat in results],
            len(results),
            sum(not ok for ok, _ in results),
        )

    def probe_input(self):
        """One job's head, with enrich-batch's latency-bound settings."""
        from pyspark.sql import functions as F

        readers = _mod("sources.readers")
        raw = readers.read_csv(self.ctx.spark, self.inputs[0])
        head = readers.with_ingest_row_id(raw).where(F.col("_row_id") < self.HEAD)
        return head, "text", probe_config(self.texts[: self.HEAD])


WORKLOADS = {
    "analytics-sf0.1": Analytics,
    "analytics-x10": AnalyticsX10,
    "enrich-batch": EnrichBatch,
    "service-small-jobs": ServiceSmallJobs,
}

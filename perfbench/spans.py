"""Spans, layer wrapping and Spark stage metrics for the traced run.

Everything here lives in the benchmark: spans are recorded around calls
INTO the engine's layers by replacing each wrapped function, by name, in
every ``batch_processing_new_spark`` module that holds it, and restoring
the originals afterwards. Nothing in the engine knows it is traced.

A span has a name, start, end, parent and operation id. Each operation
(one query, one pipeline job, one service request) runs in its own Spark
job group, so its jobs and stages are read back from the status store
(``statusStore().lastStageAttempt``, which works with the UI off).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PKG = "batch_processing_new_spark"

#: (module, function, layer) — the layer boundaries the trace wraps.
WRAPPED = [
    (f"{PKG}.sources.readers", "load_table", "readers"),
    (f"{PKG}.sources.readers", "fan_out", "readers"),
    (f"{PKG}.sources.readers", "adaptive_width", "readers"),
    (f"{PKG}.sources.readers", "pin_before_sort", "readers"),
    (f"{PKG}.sources.readers", "read_csv", "readers"),
    (f"{PKG}.sources.readers", "with_ingest_row_id", "readers"),
    (f"{PKG}.operators.enrich", "enrich", "enrich"),
    (f"{PKG}.sinks.writers", "write_single_csv", "writers"),
    (f"{PKG}.plans.pipeline", "run_enrichment_pipeline", "pipeline"),
]


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    def new_op(self, label: str) -> int:
        """Start an operation on this thread: a fresh id and job group."""
        op = next(self._ops)
        self.sc.setJobGroup(f"perfbench-op-{op}", label)
        self._local.op = op
        return op

    def jobs(self, op: int) -> list[int]:
        """The op's job ids so far; the status tracker is fed by the
        asynchronous listener bus, so drain it first."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(f"perfbench-op-{op}"))

    @contextmanager
    def span(self, name: str, count_jobs: bool = False, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        op = getattr(self._local, "op", None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": op,
            "start": time.time(),
            **attrs,
        }
        if count_jobs and op is not None:
            rec["jobs_before"] = len(self.jobs(op))
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            stack.pop()
            if count_jobs and op is not None:
                rec["jobs_after"] = len(self.jobs(op))
            with self._lock:
                self.spans.append(rec)

    # -- wrapping -------------------------------------------------------

    def install(self) -> None:
        for module, func, layer in WRAPPED:
            orig = getattr(importlib.import_module(module), func)
            wrapper = self._wrapper(orig, f"{layer}.{func}", layer)
            for name, mod in list(sys.modules.items()):
                if mod is None or not name.startswith(PKG):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is orig:
                        setattr(mod, attr, wrapper)
                        self._patches.append((mod, attr, orig))

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    def _wrapper(self, orig, span_name: str, layer: str):
        tracer = self

        if layer == "pipeline":
            # a pipeline call is an operation of its own; on the service
            # it runs in a handler thread, which gets its own job group
            @functools.wraps(orig)
            def pipeline_wrapper(spark, spec, *args, **kwargs):
                tracer.new_op(f"pipeline {spec.request_id}")
                with tracer.span(span_name, request_id=spec.request_id):
                    return orig(spark, spec, *args, **kwargs)

            return pipeline_wrapper

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            stack = getattr(tracer._local, "stack", [])
            outer = not any(s["name"].startswith(layer + ".") for s in stack)
            with tracer.span(span_name, count_jobs=outer) as rec:
                out = orig(*args, **kwargs)
                if layer == "writers":
                    rec["bytes"] = os.path.getsize(out)
                return out

        return wrapper

    # -- stage metrics --------------------------------------------------

    def stages(self, job_ids) -> list[dict]:
        """Metrics of every stage that ran for ``job_ids`` (skipped
        stages excluded)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        out, seen = [], set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out.append(_stage_record(sid, sd))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _stage_record(sid: int, sd) -> dict:
    sub, first, done = (
        _ms(sd.submissionTime()),
        _ms(sd.firstTaskLaunchedTime()),
        _ms(sd.completionTime()),
    )
    return {
        "stage": sid,
        "tasks": sd.numTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "executor_run_s": sd.executorRunTime() / 1e3,
        "executor_cpu_s": sd.executorCpuTime() / 1e9,
        "shuffle_read_mb": sd.shuffleReadBytes() / 1e6,
        "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
        "spill_mb": sd.diskBytesSpilled() / 1e6,
        "submitted": sub,
        "task_wait_s": (first - sub) if sub is not None and first is not None else 0.0,
        "wall_s": (done - (first or sub)) if sub is not None and done is not None else 0.0,
    }


STAGE_SUMS = [
    "tasks", "executor_run_s", "executor_cpu_s", "task_wait_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks",
]


def sum_stages(stages: list[dict]) -> dict[str, float]:
    return {k: sum(s[k] for s in stages) for k in STAGE_SUMS}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur"]
    return {s["id"]: s["dur"] - child.get(s["id"], 0.0) for s in spans}

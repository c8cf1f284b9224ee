"""Per-layer metrics of a traced run, and the layer report.

Analytics workloads aggregate per pass (the sum over the pass's queries);
pipeline workloads per job (one pipeline call, or one service request).
Each figure is the median over the traced passes or jobs of the run.
"""

from __future__ import annotations

import statistics

from spans import STAGE_SUMS, self_times, sum_stages

PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.py_peak_rss_mb": "MB",
    "registry.load_s": "s",
    "operators.construct_s": "s",
    "operators.eager_jobs": "count",
    "operators.exec_s": "s",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.task_wait_s": "s",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.failed_tasks": "count",
    "readers.calls": "count",
    "readers.self_s": "s",
    "readers.eager_jobs": "count",
    "enrich.calls": "count",
    "enrich.retries": "count",
    "enrich.sentinel_rows": "count",
    "enrich.tasks": "count",
    "enrich.exec_s": "s",
    "enrich.inflight_mean": "calls",
    "enrich.distinct_prompt_share": "ratio",
    "pipeline.spark_jobs": "count",
    "pipeline.job_s": "s",
    "pipeline.other_s": "s",
    "writers.write_single_csv_s": "s",
    "writers.bytes_mb": "MB",
    "service.overhead_s": "s",
    "service.task_wait_s": "s",
    "trace.overhead_share": "ratio",
}


def op_records(tracer, spans: list[dict], unit, latency: dict[str, float]) -> list[dict]:
    """One record per operation of a traced unit: the operators.*,
    readers.*, pipeline.*, writers.* and service.* figures, plus the
    self times the coverage table needs (keys starting with ``self.``)."""
    selfs = self_times(spans)
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    records = []
    for q in unit.ops:  # analytics: one op per query
        op_spans = by_op.get(q["op"], [])
        jobs = tracer.jobs(q["op"])
        stages = sum_stages(tracer.stages(jobs[q["eager_jobs"]:]))
        rec = {
            "name": q["name"],
            "operators.construct_s": q["construct_s"],
            "operators.eager_jobs": q["eager_jobs"],
            "operators.exec_s": q["exec_s"],
            **{f"operators.{k}": v for k, v in stages.items()},
            **_readers(op_spans, selfs),
        }
        rec["self.operators"] = sum(
            selfs[s["id"]] for s in op_spans if s["name"].startswith("operators.")
        )
        rec["self.enrich"] = _self(op_spans, selfs, "enrich.")
        records.append(rec)
    for p in spans:  # pipeline workloads: one op per pipeline call
        if p["name"] != "pipeline.run_enrichment_pipeline":
            continue
        op_spans = by_op.get(p["op"], [])
        jobs = tracer.jobs(p["op"])
        stages = tracer.stages(jobs)
        writer = _writer(op_spans, stages)
        rec = {
            "name": p["request_id"],
            "pipeline.spark_jobs": len(jobs),
            "pipeline.job_s": p["dur"],
            "pipeline.other_s": selfs[p["id"]],
            **_readers(op_spans, selfs),
            **writer,
            "self.pipeline": selfs[p["id"]],
            "self.enrich": _self(op_spans, selfs, "enrich.")
            + sum(s["dur"] for s in op_spans if s["name"].startswith("writers."))
            - writer["writers.write_single_csv_s"],
        }
        if p["request_id"] in latency:
            rec["service.overhead_s"] = latency[p["request_id"]] - p["dur"]
            rec["service.task_wait_s"] = sum_stages(stages)["task_wait_s"]
            rec["self.service"] = rec["service.overhead_s"]
        records.append(rec)
    return records


def _self(spans, selfs, prefix: str) -> float:
    return sum(selfs[s["id"]] for s in spans if s["name"].startswith(prefix))


def _readers(spans, selfs) -> dict:
    rs = [s for s in spans if s["name"].startswith("readers.")]
    return {
        "readers.calls": len(rs),
        "readers.self_s": sum(selfs[s["id"]] for s in rs),
        "readers.eager_jobs": sum(
            s["jobs_after"] - s["jobs_before"] for s in rs if "jobs_before" in s
        ),
        "self.readers": sum(selfs[s["id"]] for s in rs),
    }


def _writer(spans, stages) -> dict:
    """Self time of ``write_single_csv``: from the submission of the
    write's last stage (the coalesced file write) to the call's return,
    so the upstream enrich stage the write triggers is excluded."""
    total, size = 0.0, 0
    for w in (s for s in spans if s["name"].startswith("writers.")):
        inside = [
            st["submitted"] for st in stages
            if st["submitted"] is not None and w["start"] <= st["submitted"] <= w["end"]
        ]
        total += w["end"] - max(inside) if inside else w["dur"]
        size += w.get("bytes", 0)
    return {"writers.write_single_csv_s": total, "writers.bytes_mb": size / 1e6, "self.writers": total}


def aggregate(per_unit: list[list[dict]], per_pass: bool) -> dict[str, float]:
    """Median over passes of per-pass sums, or over jobs of per-job
    values."""
    if per_pass:
        rows = [
            {k: sum(r.get(k, 0) for r in recs) for k in _keys(recs)}
            for recs in per_unit
        ]
    else:
        rows = [r for recs in per_unit for r in recs]
    return {
        k: statistics.median(r.get(k, 0) for r in rows) for k in _keys(rows)
    } if rows else {}


def _keys(rows: list[dict]) -> list[str]:
    return sorted({k for r in rows for k, v in r.items() if not isinstance(v, str)})


def enrich_probe(tracer, workload) -> dict[str, float]:
    """A traced ``enrich(..., with_result_struct=True)`` run over the
    workload's enrichment input. Calls and retries come from the per-row
    result struct; tasks and time from the enrich stage, which is the
    collect's final stage (the broadcast side of the row-id join runs as
    an earlier job of its own). Calls in flight are the transport's busy
    time (calls times the mock's per-call latency) over the stage's wall
    time: the struct's per-row latency also counts the wait for a
    concurrency slot, so its sum measures batch size, not concurrency."""
    import sys

    from batch_processing_new_spark.operators.enrich import SENTINEL

    enrich = sys.modules["batch_processing_new_spark.operators.enrich"].enrich
    op = tracer.new_op("enrich probe")
    df, col, cfg = workload.probe_input()
    before = len(tracer.jobs(op))  # the input's own eager jobs
    out = enrich(df, col, cfg, response_col="_probe_response", with_result_struct=True)
    rows = out.select(col, "_probe_response", "_enrich_attempts").collect()
    stage = max(tracer.stages(tracer.jobs(op)[before:]), key=lambda s: s["stage"])
    calls = sum(r[2] for r in rows)
    return {
        "enrich.calls": calls,
        "enrich.retries": calls - len(rows),
        "enrich.sentinel_rows": sum(r[1] == SENTINEL for r in rows),
        "enrich.tasks": stage["tasks"],
        "enrich.exec_s": stage["wall_s"],
        "enrich.inflight_mean": calls * cfg.mock_latency / stage["wall_s"]
        if stage["wall_s"]
        else 0.0,
        "enrich.distinct_prompt_share": len({r[0] for r in rows}) / calls,
    }


COVERAGE = ["operators", "readers", "enrich", "pipeline", "writers", "service"]


def coverage_table(title: str, recs: list[dict], wall: float) -> list[str]:
    """Layer self times against the untraced wall time of the same unit."""
    lines = [f"## layer self time vs untraced wall_s {wall:.3f} s — {title}"]
    covered = 0.0
    for layer in COVERAGE:
        t = sum(r.get(f"self.{layer}", 0.0) for r in recs)
        if t:
            covered += t
            lines.append(f"  {layer:<10} {t:9.3f} s  {t / wall:7.1%}")
    lines.append(f"  {'covered':<10} {covered:9.3f} s  {covered / wall:7.1%}")
    return lines


def query_table(recs: list[dict]) -> list[str]:
    cols = ["construct_s", "exec_s", "eager_jobs"] + STAGE_SUMS
    head = f"  {'query':<27}" + "".join(f"{c:>17}" for c in cols) + f"{'construct%':>11}"
    lines = ["## per query (operators.* of one traced pass)", head]
    for r in sorted(recs, key=lambda r: r["name"]):
        total = r["operators.construct_s"] + r["operators.exec_s"]
        lines.append(
            f"  {r['name']:<27}"
            + "".join(f"{r[f'operators.{c}']:>17.3f}" for c in cols)
            + f"{r['operators.construct_s'] / total:>11.1%}"
        )
    return lines

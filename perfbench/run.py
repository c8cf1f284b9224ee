"""The engine's benchmark: one command, four seeded workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds nothing: the engine
(``batch_processing_new_spark``) is imported from the checkout. Set-up
(session, registry, inputs, warm-up) happens once; then units of work
run until ``--seconds`` have passed (at least one unit); then the
analytics results are compared with their DuckDB oracles.
Human-readable lines go first; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exit status is 0 only if every output check passed.

Workloads and metric definitions are described in ``perfbench/NOTES.md``.
"""

import time

T0 = time.perf_counter()  # "fresh process": before any heavy import

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "batch_processing_new_spark"

#: Driver heap for every workload: the engine's 16g default exceeds
#: what a shared 15 GB host can give one benchmark process.
DRIVER_MEM = "3g"

#: The end-to-end metrics in the result JSON (BENCHMARK.json's list);
#: job_tail_s and failed_share are printed only (see NOTES.md).
END_TO_END = {"setup_s": "s", "wall_s": "s", "job_p50_s": "s"}


def parse_args() -> argparse.Namespace:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def pin_environment(work: str) -> int:
    """Pin cores, memory and every scratch location inside the checkout
    before the JVM starts. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    return cpus


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; with
    fewer than 21 samples that would sit at or below the median, so the
    maximum is reported instead."""
    s = sorted(samples)
    if not s:
        return float("nan"), "no samples"
    if len(s) < 21:
        return s[-1], "max"
    rank = len(s) - 10
    return s[rank - 1], f"p{100 * rank / len(s):.1f}"


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args, cpus: int, work: str) -> int:
    import numpy as np

    import workloads
    from spans import Tracer

    from layers import op_records

    from batch_processing_new_spark import session

    t = time.perf_counter()
    spark = session.get_spark(
        app_name=f"perfbench {args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    start_s = time.perf_counter() - t
    close = None
    try:
        sc = spark.sparkContext
        print(f"# cpus={cpus} master={sc.master} defaultParallelism={sc.defaultParallelism}")
        if sc.defaultParallelism != cpus:
            print(f"refusing to run: defaultParallelism {sc.defaultParallelism} != {cpus} cores",
                  file=sys.stderr)
            return 2
        t = time.perf_counter()
        from batch_processing_new_spark.registry import all_specs

        specs = all_specs()
        registry_s = time.perf_counter() - t

        ctx = workloads.Context(spark, specs, np.random.default_rng(args.seed), work)
        wl = workloads.WORKLOADS[args.workload](ctx)
        close = getattr(wl, "close", None)
        t = time.perf_counter()
        attempted, failed = wl.setup()
        setup_s = time.perf_counter() - T0
        print(f"# set-up {setup_s:.3f} s: session {start_s:.3f} s, registry {registry_s:.3f} s, "
              f"inputs + warm-up {time.perf_counter() - t:.3f} s", flush=True)

        # a traced run alternates untraced and traced units
        tracer = Tracer(spark) if args.trace else None
        walls, traced_walls, jobs, per_unit = [], [], [], []
        deadline = time.perf_counter() + args.seconds
        k = 0
        while not failed and (
            k == 0 or time.perf_counter() < deadline or (tracer and not traced_walls)
        ):
            traced = tracer is not None and k % 2 == 1
            if traced:
                mark = len(tracer.spans)
                ctx.tracer = tracer
                tracer.install()
            try:
                r = wl.unit()
            finally:
                if traced:
                    tracer.restore()
                    ctx.tracer = None
            attempted, failed = attempted + r.attempted, failed + r.failed
            if traced:
                traced_walls.append(r.wall)
                per_unit.append(
                    op_records(tracer, tracer.spans[mark:], r, getattr(wl, "latency", {}))
                )
            else:
                walls.append(r.wall)
                jobs.extend(r.jobs)
            detail = " ".join(f"{o['name'][:4]}={o['construct_s'] + o['exec_s']:.2f}" for o in r.ops)
            print(f"# unit {k} {'traced' if traced else 'untraced'} {r.wall:.3f} s {detail}", flush=True)
            k += 1
        if hasattr(wl, "check"):  # outside set-up and the timed units
            t = time.perf_counter()
            failed += wl.check()
            print(f"# oracle checks {time.perf_counter() - t:.3f} s", flush=True)

        end_to_end = {"setup_s": setup_s, "wall_s": _median(walls),
                      "job_p50_s": _median(jobs), "job_tail_s": tail(jobs)[0]}
        samples = {"setup_s": 1, "wall_s": len(walls), "job_p50_s": len(jobs),
                   "job_tail_s": f"{len(jobs)}, {tail(jobs)[1]}"}
        for name, value in end_to_end.items():
            print(f"{args.workload} {name} = {value:.4f} s, n={samples[name]}")
        print(f"{args.workload} failed_share = {failed}/{attempted} = {failed / attempted:.4f}")

        if tracer is None:
            metrics = {k: {"value": _finite(end_to_end[k]), "unit": u} for k, u in END_TO_END.items()}
        else:
            layer = {
                "session.start_s": start_s,
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
                "session.py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                "registry.load_s": registry_s,
                "trace.overhead_share": _median(traced_walls) / _median(walls) - 1,
            }
            metrics = layer_metrics(args, wl, tracer, per_unit, end_to_end, layer)
    finally:
        try:
            if close:
                close()
        finally:
            spark.stop()
            stop_jvm()

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def layer_metrics(args, wl, tracer, per_unit, end_to_end, layer) -> dict:
    """Aggregate a traced run's layers, run the enrich probe, print the
    layer report, write the spans, and return the per-layer metrics."""
    import workloads
    from layers import PER_LAYER, aggregate, coverage_table, enrich_probe, query_table

    per_pass = isinstance(wl, workloads.Analytics)
    layer.update(aggregate(per_unit, per_pass))
    tracer.install()
    try:
        layer.update(enrich_probe(tracer, wl))
    finally:
        tracer.restore()
    recs = per_unit[-1] if per_unit else []
    if per_pass:
        report = coverage_table(f"one pass of {args.workload}", recs, end_to_end["wall_s"])
        report += query_table(recs)
    else:
        med = {k: v for k, v in layer.items() if k.startswith("self.")}
        report = coverage_table(f"median job of {args.workload}", [med], end_to_end["job_p50_s"])
    for name, unit in PER_LAYER.items():
        shown = f"{layer[name]:.4f}" if name in layer else "0 (layer not on this path)"
        report.append(f"  {name:<32} {shown} {unit}")
    print("\n".join(report))
    out = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}.json"))
    return {k: {"value": _finite(float(layer.get(k, 0.0))), "unit": u} for k, u in PER_LAYER.items()}


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that ``get_spark`` launched and wait for it. After
    ``spark.stop()`` the JVM keeps running until its stdin closes, which
    otherwise happens only after this process has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):  # a dead JVM still gets waited for
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers outlive it
    briefly), so ``reap_children`` can wait for every process the run
    started."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(entry))
    return kids


def reap_children(timeout: float = 30.0) -> None:
    """Wait until no child of this process is left, reaping each; after
    ``timeout`` seconds, kill the ones still running."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children at all
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def _finite(v: float) -> float:
    """A failed job's latency is infinite and a failed run may have no
    samples; JSON has neither infinity nor NaN."""
    return v if math.isfinite(v) else 1e9


def main() -> int:
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    args = parse_args()
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cpus = pin_environment(work)
    become_subreaper()
    try:
        return run(args, cpus, work)
    finally:
        stop_jvm()  # a no-op unless run() left early
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

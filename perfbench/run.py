"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest-trickle --seed 1 --seconds 26 --trace 0

Run from the repository root. Prints the workload's metrics by name and
unit, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Exits 1 when an
output check fails, 3 when a hung run does not end after the watchdog
stopped it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 150.0  # a run that has not finished by then is failed
GRACE_S = 20.0


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and size the session for a small shared machine: two task threads,
    one C1 and one C2 compiler thread, two GC threads. The program's
    epochs and queries run mostly on one thread at a time, while the
    JIT keeps compiling the classes Spark generates afresh each epoch;
    more threads than that only contend for the machine's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1' pyspark-shell"
    )


def _stop_jvm() -> None:
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 — still running: kill it
            proc.kill()
            proc.wait()


class Watchdog:
    """Fails a run that hangs: at ``limit_s`` stop every stream and
    cancel every job so the workload unwinds; if it has not ended
    ``GRACE_S`` later, exit without a result."""

    def __init__(self, limit_s: float) -> None:
        self.fired = False
        self._timer = threading.Timer(limit_s, self._fire)
        self._timer.daemon = True

    def _fire(self) -> None:
        self.fired = True
        print(f"watchdog: run exceeded its limit, stopping", file=sys.stderr, flush=True)
        hard = threading.Timer(GRACE_S, lambda: os._exit(3))
        hard.daemon = True
        hard.start()
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.cancelAllJobs()

    def __enter__(self) -> "Watchdog":
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


def _report(workload: str, res, trace: bool) -> dict:
    from perfbench.measure import median, tail
    from perfbench.workloads import layer_metric_names

    ratio = res.failed / res.attempted if res.attempted else 1.0
    rate = res.items / res.timed_s if res.timed_s else 0.0
    lines = [("setup_s", res.setup_s, "s")]
    if workload == "ingest-trickle":
        t_val, t_pct, n = tail(res.latencies)
        lines += [
            ("ingest_msgs_per_s", rate, "msg/s"),
            ("epoch_latency_mean_s", res.work_s, "s"),
            ("epoch_latency_p50_s", median(res.latencies), "s"),
            (f"epoch_latency_tail_s (p{t_pct:.0f} of {n} epochs)", t_val, "s"),
        ]
    else:
        lines += [("query_total_s", res.work_s, "s"), ("queries_per_s", rate, "1/s")]
    lines += [("peak_rss_mb", res.peak_rss_mb, "MB"), ("failed_ops_ratio", ratio, "ratio")]
    print(f"workload {workload} ({'traced' if trace else 'untraced'}):")
    for name, value, unit in lines:
        print(f"  {name} = {value:.6g} {unit}")
    print("  operation latencies (s): " + " ".join(f"{x:.3f}" for x in res.latencies))
    for p in res.problems:
        print(f"  CHECK FAILED: {p}")

    if not trace:
        metrics = {
            "setup_s": (res.setup_s, "s"),
            "work_s": (res.work_s, "s"),
            "throughput_per_s": (rate, "1/s"),
        }
    else:
        layers = {**res.layers, "peak_rss_mb": res.peak_rss_mb}
        metrics = {n: (layers.get(n, 0.0), u) for n, u in layer_metric_names()}
    return {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def _print_trace(workload: str, seed: int, res) -> None:
    from perfbench.measure import median

    path = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-seed{seed}.json")
    res.tracer.dump(path)
    print(f"  spans written to {os.path.relpath(path, ROOT)}")
    roots = [s for s in res.tracer.spans if s["name"] == "stream.epoch"]
    if roots:
        # median per-epoch self time by span name: the blocking steps of an epoch
        per: dict[str, list[float]] = {}
        for r in roots:
            row: dict[str, float] = {}
            for s in res.tracer.subtree(r["id"]):
                row[s["name"]] = row.get(s["name"], 0.0) + s["self_s"]
            for k, v in row.items():
                per.setdefault(k, []).append(v)
        print("  per-epoch self time (median):")
        for k, v in sorted(per.items(), key=lambda kv: -median(kv[1])):
            print(f"    {k:40s} {median(v):.4f} s")
        print(f"    {'sum of medians':40s} {sum(median(v) for v in per.values()):.4f} s")
        share = median([r["self_s"] / r["dur_s"] for r in roots])
        bench = median([sum(s["bench_jobs"] for s in res.tracer.subtree(r["id"])) for r in roots])
        print(f"  epoch time outside every span (median share): {share:.3f}")
        print(f"  jobs the tracer added per epoch to materialize lazy results (median): {bench:.0f}")


def main(argv: list[str] | None = None) -> int:
    from perfbench.measure import now, process_age_s

    proc_start = now() - process_age_s()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["ingest-trickle", "catalog"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _environment(work)
    try:
        import report_worker_spark  # noqa: F401 — without the program, fail before any result

        from perfbench import workloads

        run = workloads.run_trickle if args.workload == "ingest-trickle" else workloads.run_catalog
        with Watchdog(WATCHDOG_S) as dog:
            res = run(work, args.seed, args.seconds, bool(args.trace), proc_start)
        if dog.fired:  # the operation it cut short has raised and counted as failed
            res.failed = max(res.failed, 1)
            res.attempted = max(res.attempted, 1)
            res.problems.append(f"watchdog: run exceeded {WATCHDOG_S:.0f} s")
        out = _report(args.workload, res, bool(args.trace))
        if args.trace:
            _print_trace(args.workload, args.seed, res)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())

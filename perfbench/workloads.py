"""The workloads. Each drives the program only through its public entry
points (the CLI ``main`` and ``plans.QUERIES``) and returns a ``Result``.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

from . import checks, inputs
from .measure import PeakRss, mean, median, now
from .tracing import Tracer, instrument

# The oracle-twinned catalog queries the catalog workload runs: the LSH
# pair generator that candidate-generation work targets, the interval join,
# and the rank-mode star upsert (the batch form of the ingest sink).
# dedup_simhash is left out: at 4-9 s a pass it was the noisiest query and
# left room for only two passes in a run.
QUERY_SET = [
    "dedup_minhash_lsh",
    "join_interval_overlap",
    "star_upsert_fact",
]
CATALOG_TABLES = ["documents", "events"]
# Warm-up before timing: the first epoch, or the collected pass of the query
# set, which loads and compiles the whole path and takes three to four times
# a steady one (epoch 18 s, then 6-9 s). Later epochs and passes keep getting
# a little faster, since Spark generates ~45 new classes each epoch for the
# JIT to compile, but each further warm-up would take 7-13 s from a run that
# 48 runs in under an hour hold to ~60 s.
WARMUP_EPOCHS = 1

INGEST_SPANS = [
    "sources.kafka.parse",
    "sources.kafka.write_dlq",
    "streaming.dimstore.get_or_insert",
    "streaming.dimstore.read",
    "streaming.pipeline.wire_to_staging",
    "streaming.pipeline.sink",
    "star.upsert_star",
    "streaming.pipeline.write_sighting",
    "streaming.pipeline.write_gear",
    "streaming.pipeline.write_location",
    "streaming.pipeline.write_fact",
]
PLAN_STATS = ["jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes"]


def layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric, (name, unit); a workload that bypasses a
    layer reports 0 for it."""
    names = [("session.get_spark_s", "s")]
    names += [(f"{s}_s", "s") for s in INGEST_SPANS]
    names += [
        ("streaming.dimstore.files", "count"),
        ("streaming.dimstore.new_rows", "count"),
        ("streaming.pipeline.files_written", "count"),
        ("streaming.pipeline.bytes_written", "bytes"),
        ("transforms.kept_ratio", "ratio"),
        ("star.fact_rows", "count"),
        ("star.dim_rows", "count"),
        ("stream.epoch_self_s", "s"),
        ("stream.trigger_s", "s"),
        ("stream.walcommit_s", "s"),
        ("spark.jobs_per_epoch", "count"),
        ("spark.tasks_per_epoch", "count"),
        ("spark.cached_rdds", "count"),
        ("peak_rss_mb", "MB"),
    ]
    for q in QUERY_SET:
        names += [(f"plans.{q}.build_s", "s"), (f"plans.{q}.exec_s", "s")]
        names += [(f"plans.{q}.{k}", "bytes" if k.endswith("bytes") else "count")
                  for k in PLAN_STATS]
    return names


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    timed_s: float = 0.0
    peak_rss_mb: float = 0.0
    latencies: list[float] = field(default_factory=list)  # one per operation
    work_s: float = 0.0  # mean time of a unit of work: an epoch, or a pass of the query set
    items: int = 0  # messages ingested, or queries run, in the timed window
    layers: dict[str, float] = field(default_factory=dict)
    tracer: Tracer | None = None
    outputs: dict = field(default_factory=dict)  # what the checks compared

    @property
    def correct(self) -> bool:
        return not self.problems and self.failed == 0


def _would_overrun(start: float, last_s: float, seconds: float) -> bool:
    """Whether another operation as long as the last one would end more
    than half of it past ``seconds`` after ``start``: the timed window
    then ends within half an operation of ``seconds``."""
    return now() - start + last_s / 2 > seconds


def _traced(trace: bool):
    tracer = Tracer() if trace else None
    return tracer, (instrument(tracer) if trace else contextlib.nullcontext())


def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


# --- ingest-trickle ----------------------------------------------------------


def run_trickle(
    work: str, seed: int, seconds: float, trace: bool, proc_start: float,
    msgs_per_file: int = 1000,
) -> Result:
    """CLI stream path in-process as a closed loop: land one wire file,
    wait for its epoch to commit, repeat while another epoch fits in
    ``seconds`` (see ``_would_overrun``).
    ``proc_start`` is the process start time on the ``now()`` clock."""
    res = Result()
    max_epochs = int(seconds) + 1  # an epoch takes well over a second
    t_gen = now()
    files = inputs.write_wire_files(
        os.path.join(work, "stage"), seed, WARMUP_EPOCHS + max_epochs, msgs_per_file
    )
    t0 = proc_start + (now() - t_gen)  # input generation is not set-up
    inbox, out, ckpt = (os.path.join(work, d) for d in ("in", "out", "ckpt"))
    os.makedirs(inbox)

    tracer, ctx = _traced(trace)
    res.tracer = tracer
    with ctx:
        from report_worker_spark import session
        from report_worker_spark.__main__ import main

        spark = session.get_spark("rws-ingest")
        cli_error: list[BaseException] = []

        def cli() -> None:
            try:
                main(["ingest", "--input", inbox, "--out", out, "--stream",
                      "--trigger", "0", "--checkpoint", ckpt])
            except BaseException as exc:  # noqa: BLE001 — reported as a failed run
                cli_error.append(exc)

        thread = threading.Thread(target=cli, daemon=True, name="cli-ingest")
        thread.start()
        while not spark.streams.active:
            if cli_error or not thread.is_alive():
                raise RuntimeError(f"ingest CLI exited before streaming: {cli_error}")
            time.sleep(0.05)
        query = spark.streams.active[0]
        commits = os.path.join(ckpt, "commits")

        def epoch(i: int) -> float:
            """Land file ``i``; block until batch ``i`` is committed."""
            landed = os.path.join(inbox, os.path.basename(files[i]["path"]))
            start = now()
            os.rename(files[i]["path"], landed)
            files[i]["path"] = landed
            # processAllAvailable can return on a trigger that listed the
            # directory just before the rename; wait for the commit itself
            while not os.path.exists(os.path.join(commits, str(i))):
                if not query.isActive:  # failed, or stopped by the watchdog
                    raise RuntimeError(f"stream stopped before batch {i}: {query.exception()}")
                query.processAllAvailable()
            return now() - start

        consumed, roots = 0, []
        try:
            for i in range(WARMUP_EPOCHS):
                if tracer:
                    tracer.root = None
                epoch(i)
                consumed += 1
                res.attempted += 1
            res.setup_s = now() - t0
            rss = PeakRss()
            with rss:
                start = now()
                for i in range(WARMUP_EPOCHS, WARMUP_EPOCHS + max_epochs):
                    if res.latencies and _would_overrun(start, res.latencies[-1], seconds):
                        break
                    res.attempted += 1
                    if tracer:
                        with tracer.span("stream.epoch") as root:
                            tracer.root = root["id"]
                            res.latencies.append(epoch(i))
                            tracer.root = None
                        roots.append(root["id"])
                        tracer.release()
                    else:
                        res.latencies.append(epoch(i))
                    consumed += 1
                res.timed_s = now() - start
            res.peak_rss_mb = rss.peak_mb
        except Exception as exc:  # noqa: BLE001 — an epoch that raises is a failed op
            res.failed += 1
            res.problems.append(f"epoch {consumed} failed: {exc!r}"[:2000])
        cached = _cached_rdds(spark)
        progress = [
            p for p in query.recentProgress
            if WARMUP_EPOCHS <= p["batchId"] < consumed and p["numInputRows"] > 0
        ]
        query.stop()
        thread.join(60)
        if cli_error:
            res.failed += 1
            res.problems.append(f"ingest CLI raised: {cli_error[0]!r}"[:2000])

    res.work_s = mean(res.latencies)
    res.items = msgs_per_file * len(res.latencies)
    res.outputs = {"out": out, "epoch_files": files[:consumed]}
    if consumed and not res.failed:
        res.problems += checks.check_ingest(out, files[:consumed])
    if tracer:
        tracer.spark_stats()
        tracer.self_times()
        res.layers = _trickle_layers(tracer, roots, msgs_per_file)
        res.layers["stream.trigger_s"] = median(
            [p["durationMs"]["triggerExecution"] / 1000 for p in progress])
        res.layers["stream.walcommit_s"] = median(
            [p["durationMs"].get("walCommit", 0) / 1000 for p in progress])
        res.layers["spark.cached_rdds"] = cached
    return res


def _trickle_layers(tracer: Tracer, roots: list[int], msgs: int) -> dict[str, float]:
    per_epoch: dict[str, list[float]] = {}
    for r in roots:
        spans = tracer.subtree(r)
        row = {f"{s}_s": 0.0 for s in INGEST_SPANS}
        for rec in spans:
            if f"{rec['name']}_s" in row:
                row[f"{rec['name']}_s"] += rec["dur_s"]
        row["stream.epoch_self_s"] = tracer.spans[r]["self_s"]
        row["spark.jobs_per_epoch"] = sum(rec["jobs"] for rec in spans)
        row["spark.tasks_per_epoch"] = sum(rec["tasks"] for rec in spans)
        counts = {k: sum(v for root, v in vals if root == r)
                  for k, vals in tracer.counts.items()}
        valid = msgs - counts.get("sources.kafka.invalid", 0)
        row["transforms.kept_ratio"] = counts.get("staging_rows", 0) / valid if valid else 0.0
        row["star.fact_rows"] = counts.get("star.fact_rows", 0)
        row["star.dim_rows"] = sum(
            counts.get(f"star.{d}_rows", 0) for d in ("sighting", "gear", "location"))
        for k in ("streaming.dimstore.new_rows", "streaming.pipeline.files_written",
                  "streaming.pipeline.bytes_written"):
            row[k] = counts.get(k, 0)
        files = [v for root, v in tracer.counts.get("streaming.dimstore.files", []) if root == r]
        row["streaming.dimstore.files"] = max(files, default=0)
        for k, v in row.items():
            per_epoch.setdefault(k, []).append(v)
    layers = {k: median(v) for k, v in per_epoch.items()}
    layers["streaming.dimstore.files"] = max(per_epoch.get("streaming.dimstore.files", [0]))
    layers["session.get_spark_s"] = _first_span(tracer, "session.get_spark")
    return layers


def _first_span(tracer: Tracer, name: str) -> float:
    return next((s["dur_s"] for s in tracer.spans if s["name"] == name), 0.0)


# --- catalog -----------------------------------------------------------------


def run_catalog(
    work: str, seed: int, seconds: float, trace: bool, proc_start: float,
    table_sizes: dict | None = None,
) -> Result:
    """One session runs the query set: a warm-up pass collected for the
    oracle check, then timed passes into the noop sink while another pass
    fits in ``seconds`` (see ``_would_overrun``)."""
    res = Result()
    t_gen = now()
    sf = os.path.join(work, "sf")
    inputs.write_catalog_tables(sf, seed, **(table_sizes or {}))
    t0 = proc_start + (now() - t_gen)  # input generation is not set-up

    tracer, ctx = _traced(trace)
    res.tracer = tracer
    results = {}
    samples: dict[str, list[float]] = {q: [] for q in QUERY_SET}
    spans: dict[str, list[tuple[int, int]]] = {q: [] for q in QUERY_SET}
    with ctx:
        from report_worker_spark import session
        from report_worker_spark.plans import ORACLE, QUERIES

        spark = session.get_spark("perfbench-catalog")
        for q in QUERY_SET:
            res.attempted += 1
            try:
                results[q] = QUERIES[q](spark, sf).toPandas()
            except Exception as exc:  # noqa: BLE001 — a query that raises is a failed op
                res.failed += 1
                res.problems.append(f"{q} raised: {exc!r}"[:2000])
        res.setup_s = now() - t0
        rss = PeakRss()
        with rss:
            start = now()
            pass_s = 0.0
            while not res.failed and not _would_overrun(start, pass_s, seconds):
                t_pass = now()
                for q in QUERY_SET:
                    res.attempted += 1
                    try:
                        t_q = now()
                        if tracer:
                            with tracer.span(f"plans.{q}.build") as b:
                                df = QUERIES[q](spark, sf)
                            with tracer.span(f"plans.{q}.exec") as e:
                                df.write.format("noop").mode("overwrite").save()
                            spans[q].append((b["id"], e["id"]))
                        else:
                            df = QUERIES[q](spark, sf)
                            df.write.format("noop").mode("overwrite").save()
                        samples[q].append(now() - t_q)
                        res.latencies.append(samples[q][-1])
                    except Exception as exc:  # noqa: BLE001
                        res.failed += 1
                        res.problems.append(f"{q} raised: {exc!r}"[:2000])
                pass_s = now() - t_pass
            res.timed_s = now() - start
        res.peak_rss_mb = rss.peak_mb
        cached = _cached_rdds(spark)

    res.items = len(res.latencies)
    res.work_s = sum(mean(v) for v in samples.values())
    for q, pdf in results.items():
        oracle = checks.oracle_frame(ORACLE[q], sf, CATALOG_TABLES)
        res.outputs[q] = (pdf, oracle)
        bad = checks.check_query(q, pdf, oracle)
        if bad:
            res.failed += 1
            res.problems += bad
    if tracer:
        tracer.spark_stats()
        tracer.self_times()
        layers = {"session.get_spark_s": _first_span(tracer, "session.get_spark"),
                  "spark.cached_rdds": cached}
        for q, pairs in spans.items():
            b, e = [tracer.spans[i] for i, _ in pairs], [tracer.spans[j] for _, j in pairs]
            layers[f"plans.{q}.build_s"] = median([s["dur_s"] for s in b])
            layers[f"plans.{q}.exec_s"] = median([s["dur_s"] for s in e])
            for k in PLAN_STATS:
                layers[f"plans.{q}.{k}"] = median([x[k] + y[k] for x, y in zip(b, e)])
        res.layers = layers
    return res

"""In-memory spans around the program's public calls (traced run only).

``Tracer`` records spans (name, start, end, parent) and per-span Spark
job groups; ``instrument`` patches module attributes of the program for
the duration of a ``with`` block and restores them after. Where a call
returns a lazy DataFrame, the patched call materializes it (cache +
count) inside the span, so the span covers the work; everything cached
that way is released by ``release``. Those counts run under a job group
of their own, so a span's job, stage and task counts are the program's
alone. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark import SparkContext

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.root: int | None = None  # parent for spans opened on other threads
        self.counts: dict[str, list[tuple[int | None, float]]] = defaultdict(list)
        self._cached: list = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "group": f"perfbench-{sid}"}
            self.spans.append(rec)
        sc = SparkContext._active_spark_context  # None before the session exists
        saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS} if sc else {}
        if sc:
            sc.setJobGroup(rec["group"], name)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def inside(self, name: str) -> bool:
        """Whether this thread is inside a span called ``name``."""
        return any(self.spans[i]["name"] == name
                   for i in self._local.__dict__.get("stack", []))

    def count(self, name: str, value: float) -> None:
        """Record a count under the current root span (the epoch)."""
        with self._lock:
            self.counts[name].append((self.root, value))

    def materialize(self, df, count_name: str | None = None):
        """Cache ``df`` and run it once, inside the current span, under
        the span's benchmark job group."""
        rec = self.spans[self._local.stack[-1]]
        sc = SparkContext._active_spark_context
        sc.setJobGroup(rec["group"] + "-bench", rec["name"])
        try:
            df = df.cache()
            n = df.count()
        finally:
            sc.setJobGroup(rec["group"], rec["name"])
        with self._lock:
            self._cached.append(df)
        if count_name:
            self.count(count_name, n)
        return df

    def release(self) -> None:
        with self._lock:
            cached, self._cached = self._cached, []
        for df in cached:
            df.unpersist()

    # --- after the run ---------------------------------------------------

    def spark_stats(self) -> None:
        """Attach the program's jobs / stages / tasks / shuffle bytes to
        every span, and the jobs of its materializing counts as
        ``bench_jobs``, read from the status store once its listener
        queue is drained."""
        sc = SparkContext._active_spark_context
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stats = {"jobs": len(jobs), "stages": 0, "tasks": 0,
                     "bench_jobs": len(tracker.getJobIdsForGroup(rec["group"] + "-bench")),
                     "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
            for s in stage_ids:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += sd.numCompleteTasks()
                stats["shuffle_read_bytes"] += sd.shuffleReadBytes()
                stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec.update(stats)

    def self_times(self) -> None:
        """A span's self time is its duration minus the union of its
        children's intervals."""
        children = defaultdict(list)
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]].append((rec["start"], rec["end"]))
        for rec in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(children[rec["id"]]):
                s, e = max(s, rec["start"]), min(e, rec["end"])
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            rec["dur_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["dur_s"] - covered

    def subtree(self, sid: int) -> list[dict]:
        kids = defaultdict(list)
        for rec in self.spans:
            kids[rec["parent"]].append(rec)
        out, todo = [], [self.spans[sid]]
        while todo:
            rec = todo.pop()
            out.append(rec)
            todo.extend(kids[rec["id"]])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh, indent=1)


class _WriterProxy:
    """Times ``.parquet(...)`` at the end of a ``df.write.mode(...)`` chain."""

    def __init__(self, writer, tracer: Tracer, name: str) -> None:
        self._w, self._t, self._name = writer, tracer, name

    def mode(self, m):
        self._w = self._w.mode(m)
        return self

    def parquet(self, *args, **kwargs):
        with self._t.span(self._name):
            return self._w.parquet(*args, **kwargs)


class _DlqFrame:
    """The DataFrame ``encode_dlq`` returns, with its write timed."""

    def __init__(self, df, tracer: Tracer) -> None:
        self._df, self._t = df, tracer

    @property
    def write(self):
        return _WriterProxy(self._df.write, self._t, "sources.kafka.write_dlq")

    def __getattr__(self, item):
        return getattr(self._df, item)


@contextlib.contextmanager
def _patched(patches: list[tuple[object, str, object]]):
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Patch the ingest path's public calls with spans (see module doc)."""
    from report_worker_spark import session, star
    from report_worker_spark.sources import kafka
    from report_worker_spark.streaming import dimstore, pipeline

    t = tracer
    orig = {
        "get_spark": session.get_spark,
        "parse_wire": kafka.parse_wire,
        "invalid_messages": kafka.invalid_messages,
        "encode_dlq": kafka.encode_dlq,
        "get_or_insert": dimstore.ParquetDimStore.get_or_insert,
        "read": dimstore.ParquetDimStore.read,
        "wire_to_staging": pipeline.wire_to_staging,
        "sink_call": pipeline.StarUpsertSink.__call__,
        "upsert_star": star.upsert_star,
        "date_writer": pipeline.date_partitioned_writer,
    }

    def get_spark(*a, **kw):
        with t.span("session.get_spark"):
            return orig["get_spark"](*a, **kw)

    def parse_wire(*a, **kw):
        with t.span("sources.kafka.parse_wire"):
            return orig["parse_wire"](*a, **kw)

    def invalid_messages(*a, **kw):
        with t.span("sources.kafka.invalid_messages"):
            bad = orig["invalid_messages"](*a, **kw)
        count = bad.count

        def timed_count():  # the CLI's invalid-count job: parse + filter
            with t.span("sources.kafka.parse"):
                n = count()
            t.count("sources.kafka.invalid", n)
            return n

        bad.count = timed_count
        return bad

    def encode_dlq(*a, **kw):
        with t.span("sources.kafka.encode_dlq"):
            return _DlqFrame(orig["encode_dlq"](*a, **kw), t)

    def get_or_insert(self, *a, **kw):
        before = _files(self.path)
        with t.span("streaming.dimstore.get_or_insert"):
            out = orig["get_or_insert"](self, *a, **kw)
        after = _files(self.path)
        new = [p for p in after if p not in before]
        t.count("streaming.dimstore.files", len(after))
        t.count("streaming.dimstore.new_rows",
                sum(pq.ParquetFile(p).metadata.num_rows for p in new))
        return out

    def read(self, *a, **kw):
        if t.inside("streaming.dimstore.get_or_insert"):  # its own read, part of its span
            return orig["read"](self, *a, **kw)
        with t.span("streaming.dimstore.read"):
            return t.materialize(orig["read"](self, *a, **kw))

    def wire_to_staging(*a, **kw):
        with t.span("streaming.pipeline.wire_to_staging"):
            return t.materialize(orig["wire_to_staging"](*a, **kw), "staging_rows")

    def sink_call(self, *a, **kw):
        with t.span("streaming.pipeline.sink"):
            return orig["sink_call"](self, *a, **kw)

    def upsert_star(*a, **kw):
        with t.span("star.upsert_star"):
            deltas = orig["upsert_star"](*a, **kw)
            out = {k: t.materialize(v, f"star.{k}_rows") for k, v in deltas.items()}
        return out

    def date_partitioned_writer(base_path, *a, **kw):
        write = orig["date_writer"](base_path, *a, **kw)

        def timed(name, df, epoch_id):
            before = _files(f"{base_path}/{name}") if name == "fact" else None
            with t.span(f"streaming.pipeline.write_{name}"):
                write(name, df, epoch_id)
            if before is not None:
                after = _files(f"{base_path}/{name}")
                new = [p for p in after if p not in before]
                t.count("streaming.pipeline.files_written", len(new))
                t.count("streaming.pipeline.bytes_written", sum(after[p] for p in new))

        return timed

    with _patched([
        (session, "get_spark", get_spark),
        (kafka, "parse_wire", parse_wire),
        (kafka, "invalid_messages", invalid_messages),
        (kafka, "encode_dlq", encode_dlq),
        (dimstore.ParquetDimStore, "get_or_insert", get_or_insert),
        (dimstore.ParquetDimStore, "read", read),
        (pipeline, "wire_to_staging", wire_to_staging),
        (pipeline.StarUpsertSink, "__call__", sink_call),
        (star, "upsert_star", upsert_star),
        (pipeline, "date_partitioned_writer", date_partitioned_writer),
    ]):
        yield

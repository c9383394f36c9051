"""Sustained-load streaming soak (VERDICT r3 #8, ST1+ST4+ST8 together):
wiregen stream → full star sink for 20+ micro-batches with a checkpoint
restart mid-run. Asserts zero duplicate fact PKs across every epoch
(effectively-once: the replayed epoch overwrites its own partition) and
monotone progress telemetry — the reference's designed cadence
(consume → batch → 7-statement txn, logged every 60 s) compressed into
CI time with a 0 s trigger."""

from __future__ import annotations

import ast
import time

import pytest
from pyspark.sql import functions as F

from report_worker_spark.sources import kafka as ksrc
from report_worker_spark.sources.pysource import register
from report_worker_spark.streaming import pipeline as pl
from report_worker_spark.streaming.stateful import ProgressRecorder

# Soak tier (VERDICT_r14 item 2): multi-minute streaming restarts —
# skipped unless SPARK_GRAFT_FULL_TESTS=1 so the driver's bounded
# pytest window completes; the builder's full run sets the flag.
pytestmark = pytest.mark.soak

ROWS_PER_BATCH = 200
PHASE1_EPOCHS = 8
TOTAL_EPOCHS = 20


@pytest.fixture()
def players(spark):
    return spark.range(300).select(
        F.concat(F.lit("player"), F.col("id").cast("string")).alias("name"),
        F.col("id").alias("id"),
    )


def test_soak_20_batches_with_restart_zero_dup_fact_pks(
    spark, players, tmp_path
):
    register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    recorder = ProgressRecorder()
    writer = pl.epoch_partitioned_writer(out)
    sink = pl.StarUpsertSink(writer=writer)
    records = []

    def process(batch, epoch_id):
        staged = pl.wire_to_staging(
            ksrc.valid_messages(ksrc.parse_wire(batch.select("value"))),
            players,
        )
        records.append(sink(staged, epoch_id))

    def run_until(total_epochs: int, budget_s: int = 240) -> None:
        q = (
            spark.readStream.format("wiregen")
            .option("rows_per_batch", ROWS_PER_BATCH)
            .load()
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        t0 = time.time()
        try:
            while len(records) < total_epochs:
                assert time.time() - t0 < budget_s, (
                    f"soak stalled at {len(records)} epochs"
                )
                time.sleep(0.5)
                recorder.record(q)
        finally:
            q.stop()
            q.awaitTermination(60)

    # phase 1, then a cold restart from the checkpoint mid-run
    run_until(PHASE1_EPOCHS)
    assert len(records) >= PHASE1_EPOCHS
    run_until(TOTAL_EPOCHS + len(records))

    fact = spark.read.parquet(f"{out}/fact")
    epochs = [r.epoch for r in fact.select("epoch").distinct().collect()]
    assert len(epochs) >= TOTAL_EPOCHS

    # ST1: zero duplicate fact PKs — within an epoch (upsert dedup) and
    # across epochs (replayed epoch replaces its own partition, and the
    # wiregen keyspace is collision-free at this scale)
    pk = ["sighting_id", "location_id", "region_id"]
    assert fact.count() == fact.select(*pk).distinct().count()

    # every fact FK resolves against the union of dim deltas
    sight = spark.read.parquet(f"{out}/sighting")
    assert (
        fact.select("sighting_id")
        .join(sight.select("sighting_id"), on="sighting_id", how="left_anti")
        .count()
        == 0
    )

    # ST8: telemetry advanced monotonically and carried real row counts
    batch_ids = [
        s["batchId"] for s in recorder.snapshots if s["batchId"] is not None
    ]
    assert batch_ids, "no progress snapshots recorded"
    assert batch_ids == sorted(batch_ids)
    assert any(
        (s["numInputRows"] or 0) > 0 for s in recorder.snapshots
    )
    # every epoch committed ok (none routed to DLQ)
    assert all(r["status"] == "ok" for r in records)


def _wire_stream(spark, max_rows: int, rows_per_batch: int):
    return (
        spark.readStream.format("wiregen")
        .option("rows_per_batch", rows_per_batch)
        .option("max_rows", max_rows)
        .load()
    )


def _read_star(spark, out: str) -> dict:
    """Star table CONTENT, independent of micro-batch boundaries: the
    epoch column is the batching artifact, and dim deltas may repeat a
    (deterministic-hash-keyed) row across epochs when the same natural
    key recurs — drop epoch, distinct the dims."""
    tables = {}
    for name in ("fact", "sighting", "gear", "location"):
        df = spark.read.parquet(f"{out}/{name}").drop("epoch")
        cols = sorted(df.columns)
        rows = sorted(
            map(
                tuple,
                (df if name == "fact" else df.distinct())
                .select(*cols)
                .collect(),
            ),
            key=repr,  # rows carry NULLs; None and int don't order
        )
        tables[name] = rows
    return tables


def test_kill_and_resume_equals_one_shot(spark, players, tmp_path):
    """ST1 end-to-end (VERDICT_r13 item 6): kill run_stream_to_star
    MID-STREAM, restart from the same checkpoint, and prove the final
    star tables are byte-equal to an uninterrupted one-shot run over
    the identical bounded message range — effectively-once as table
    CONTENT, not merely re-process idempotency."""
    register(spark)
    max_rows, rpb = 3000, 200

    def run(out: str, ckpt: str, stop_after_epochs: int | None) -> int:
        sink = pl.StarUpsertSink(writer=pl.epoch_partitioned_writer(out))
        records = []

        def staged_sink(batch, epoch_id):
            # the v1 name resolve joins/unions against the players dim,
            # so staging runs INSIDE the micro-batch (the reference's
            # consume → transform → txn batch loop)
            staged = pl.wire_to_staging(
                ksrc.valid_messages(ksrc.parse_wire(batch.select("value"))),
                players,
            )
            records.append(sink(staged, epoch_id))

        q = pl.run_stream_to_star(
            _wire_stream(spark, max_rows, rpb),
            staged_sink,
            ckpt,
            trigger_seconds=0,
        )
        t0 = time.time()
        try:
            while True:
                assert time.time() - t0 < 300, "stream stalled"
                n = len(records)
                if stop_after_epochs is not None and n >= stop_after_epochs:
                    break  # kill mid-stream: offset is nowhere near max_rows
                progress = q.lastProgress
                if progress and n >= 1:
                    end = progress["sources"][0]["endOffset"]
                    if isinstance(end, str):
                        # the python source's offset reprs as a py dict
                        end = ast.literal_eval(end) if end else {}
                    if (end or {}).get("idx", 0) >= max_rows:
                        break
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(60)
        return len(records)

    # one-shot reference run
    one_shot_out = str(tmp_path / "oneshot_out")
    run(one_shot_out, str(tmp_path / "oneshot_ckpt"), None)
    expect = _read_star(spark, one_shot_out)
    assert len(expect["fact"]) > 0

    # interrupted run: kill after ~3 epochs (1/5 of the range), resume
    # from the SAME checkpoint to completion
    out, ckpt = str(tmp_path / "resume_out"), str(tmp_path / "resume_ckpt")
    done = run(out, ckpt, stop_after_epochs=3)
    assert done < max_rows // rpb, "kill happened too late to mean anything"
    run(out, ckpt, None)

    got = _read_star(spark, out)
    for name in expect:
        assert got[name] == expect[name], f"{name} diverged after resume"

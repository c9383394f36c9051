"""The ingest pipeline (SURVEY §3): wire messages → staging shape →
star upsert, identical code in batch and streaming.

Reference lifecycle (src/main.py): Kafka → parse/validate → version
dispatch → v1 name→id resolve / v2 passthrough → ts normalize → bounds
→ clamp → flatten → batch(1000 rows/60 s) → one MySQL txn → DLQ on
failure. Spark mapping: ``readStream`` → ``wire_to_staging`` (pure
column exprs, this module) → ``foreachBatch(StarUpsertSink)`` where the
trigger interval IS the batcher (A3) and replays are idempotent
(epoch-partition overwrite or DB keys, ST1).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import star, transforms
from ..schemas import EQUIPMENT_SLOTS


def resolve_v1_names(v1: DataFrame, players: DataFrame) -> DataFrame:
    """v1 path (J1/J2/F3): sanitize both names, broadcast-join the
    players dim twice (reporter, reported), get-or-insert the misses
    with deterministic ids, null-guard the rest.

    ``players`` must have (name, id); names are pre-sanitized dim-side.
    """
    # the v1 branch's wire reporter_id/reported_id are null — replace them
    v1 = v1.drop("reporter_id", "reported_id")
    v1 = v1.withColumn("_reporter_clean", transforms.sanitize_name("reporter"))
    v1 = v1.withColumn("_reported_clean", transforms.sanitize_name("reported"))

    # distinct() BEFORE get-or-insert: the raw name column is
    # batch-sized (2 names × every message) while the distinct name
    # set is dim-sized. Resolving the pre-deduped set means the
    # get-or-insert's anti-join, id assignment, and resolve join all
    # run on dim-sized input — one batch-sized shuffle here instead of
    # three (internal dedup + batch-sized resolve join + the
    # dropDuplicates that used to re-shuffle the resolve output).
    # explode(array(...)) instead of union-of-two-selects: the union
    # form evaluated the whole upstream (JSON parse included) TWICE —
    # one scan emitting both names halves the parse work per batch.
    both = v1.select(
        F.explode(
            F.array("_reporter_clean", "_reported_clean")
        ).alias("name")
    ).distinct()
    resolved_names, _new = star.get_or_insert_dim(both, players)
    lookup = resolved_names.dropDuplicates(["name"]).select("name", "id")

    rep = lookup.select(
        F.col("name").alias("_rn1"), F.col("id").alias("reporter_id")
    )
    red = lookup.select(
        F.col("name").alias("_rn2"), F.col("id").alias("reported_id")
    )
    v1 = v1.join(
        F.broadcast(rep), v1["_reporter_clean"] == rep["_rn1"], "left"
    ).drop("_rn1")
    v1 = v1.join(
        F.broadcast(red), v1["_reported_clean"] == red["_rn2"], "left"
    ).drop("_rn2")
    v1 = v1.drop("_reporter_clean", "_reported_clean")
    # F3: missing resolution ⇒ skip message (reference src/main.py:110-117)
    return transforms.require_not_null(v1, ["reporter_id", "reported_id"])


def wire_to_staging(msgs: DataFrame, players: DataFrame | None = None) -> DataFrame:
    """Struct-typed wire messages → staging-report rows.

    The whole reference transform chain (src/main.py:100-177) as one
    declarative plan: version dispatch, v1 resolve / v2 passthrough,
    union, ms→s, bounds, clamp, flatten, bool casts.
    """
    # Pin the parsed messages before fanning out: the v1 branch, the
    # v2 branch, and the v1 name-resolution subtree each re-derive
    # ``msgs`` otherwise (measured 6 full re-parses of the 100k-row
    # from_json chain in one wire-bench plan, r14). Batch only —
    # foreachBatch hands this function batch DataFrames, so the
    # streaming path is unaffected.
    if not msgs.isStreaming:
        msgs = msgs.localCheckpoint(eager=False)
    v1, v2 = transforms.version_dispatch(msgs)

    if players is not None:
        v1 = resolve_v1_names(v1, players)
    else:
        # No dim available: v1 name-keyed rows cannot resolve — drop
        # (the reference raises PlayerDoesNotExist per message).
        v1 = v1.filter(F.lit(False))
    common = [
        "region_id",
        "x_coord",
        "y_coord",
        "z_coord",
        "ts",
        "manual_detect",
        "on_members_world",
        "on_pvp_world",
        "world_number",
        "equipment",
        "equip_ge_value",
        "version",
    ]
    merged = v1.select("reporter_id", "reported_id", *common).unionByName(
        v2.select("reporter_id", "reported_id", *common)
    )

    merged = merged.withColumn("ts", transforms.normalize_ts("ts"))
    merged = transforms.bounds_filter(merged, "ts")
    merged = transforms.flatten_struct(merged, "equipment")
    merged = transforms.clamp_equipment(merged)
    merged = transforms.int_to_bool(merged, ["manual_detect", "on_pvp_world"])

    return merged.select(
        F.col("reported_id"),
        F.col("reporter_id").alias("reporting_id"),
        "region_id",
        "x_coord",
        "y_coord",
        "z_coord",
        transforms.epoch_to_timestamp("ts").alias("timestamp"),
        "manual_detect",
        "on_members_world",
        "on_pvp_world",
        "world_number",
        *EQUIPMENT_SLOTS,
        "equip_ge_value",
        "item_bug",
    )


@dataclass
class StarUpsertSink:
    """foreachBatch sink: staging batch → star-schema deltas → writer.

    ``writer(table_name, delta_df, epoch_id)`` performs the actual
    append (parquet/Delta/JDBC txn). Replay safety is the writer's:
    ``epoch_partitioned_writer`` and ``date_partitioned_writer``
    overwrite the epoch's own partition, so a replayed micro-batch
    replaces its output instead of appending it twice, and a database
    writer's unique keys are the at-least-once backstop (ST1). Failures
    route the batch to ``dlq`` instead of poisoning the source topic
    (ST6). Each call returns the epoch's record, ``{"epoch", "status"}``
    with status ``"ok"`` or ``"dlq"``.
    """

    writer: Callable[[str, DataFrame, int], None]
    dlq: Callable[[DataFrame, int, Exception], None] | None = None

    def __call__(self, batch: DataFrame, epoch_id: int) -> dict:
        # the batch feeds four delta scans, like the reference's MEMORY
        # temp table; release it with the epoch so a stream never holds
        # more than one cached batch
        batch.cache()
        try:
            for name, df in star.upsert_star(batch).items():
                self.writer(name, df, epoch_id)
            return {"epoch": epoch_id, "status": "ok"}
        except Exception as exc:  # noqa: BLE001 — DLQ semantics need breadth
            if self.dlq is None:
                raise
            self.dlq(batch, epoch_id, exc)
            return {"epoch": epoch_id, "status": "dlq"}
        finally:
            batch.unpersist()


def run_stream_to_star(
    stream_staging: DataFrame,
    sink: StarUpsertSink,
    checkpoint: str,
    trigger_seconds: int = 60,
):
    """Wire the streaming half: 60 s trigger = the reference's max batch
    latency (A3, src/main.py:42,54); checkpoint = consumer-group offset
    tracking (ST1)."""
    return (
        stream_staging.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def epoch_partitioned_writer(base_path: str):
    """Replay-safe parquet writer for StarUpsertSink: each epoch writes
    its own ``epoch=N`` partition with overwrite, so a crashed-and-
    replayed micro-batch replaces its partial output instead of
    appending duplicates (ST1 — the parquet analog of the reference's
    INSERT IGNORE idempotency backstop)."""

    def write(name: str, df: DataFrame, epoch_id: int) -> None:
        (
            df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(f"{base_path}/{name}")
        )

    return write


def date_partitioned_writer(base_path: str, ts_col: str = "timestamp"):
    """Scale-path fact writer: partition by event date AND epoch with
    dynamic overwrite — readers prune on ``dt`` (partition pruning is
    the first-order win at 100 TB: a day's query touches a day's
    files), replays overwrite only their own (dt, epoch) leaves."""

    def write(name: str, df: DataFrame, epoch_id: int) -> None:
        cols = ["epoch"]
        if ts_col in df.columns:
            df = df.withColumn("dt", F.to_date(F.col(ts_col)))
            cols = ["dt", "epoch"]
        (
            df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .partitionBy(*cols)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(f"{base_path}/{name}")
        )

    return write


def staging_to_wire(staging: DataFrame) -> DataFrame:
    """Failed-batch re-encode (§3.3, reference views/report.py:170-208):
    staging rows back into v2 wire messages — ms epoch, bool/None→int-0
    defaults, nested equipment struct — ready for ``encode_dlq``/Kafka.
    The reconstructed message re-enters the pipeline as v2 and lands on
    the identical staging row (round-trip tested)."""
    zero = lambda c: F.coalesce(F.col(c).cast("int"), F.lit(0))  # noqa: E731
    return staging.select(
        F.struct(F.lit("v2.0.0").alias("version")).alias("metadata"),
        F.col("reporting_id").alias("reporter_id"),
        F.col("reported_id"),
        "region_id",
        "x_coord",
        "y_coord",
        "z_coord",
        transforms.timestamp_to_epoch_ms("timestamp").alias("ts"),
        zero("manual_detect").alias("manual_detect"),
        zero("on_members_world").alias("on_members_world"),
        zero("on_pvp_world").alias("on_pvp_world"),
        F.coalesce(F.col("world_number"), F.lit(0)).alias("world_number"),
        F.struct(*[F.col(s).alias(s) for s in EQUIPMENT_SLOTS]).alias(
            "equipment"
        ),
        F.coalesce(F.col("equip_ge_value"), F.lit(0)).alias("equip_ge_value"),
    )


def stop_all_streams(spark, timeout_seconds: int = 30) -> list[str]:
    """ST7 graceful shutdown (reference src/gracefull_shutdown.py:8-21
    defines one and never wires it in; ours is used): stop every active
    query and wait for termination. Returns the stopped query names."""
    stopped = []
    for q in spark.streams.active:
        name = q.name or q.id
        q.stop()
        q.awaitTermination(timeout_seconds)
        stopped.append(str(name))
    return stopped

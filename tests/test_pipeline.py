"""Wire → staging → star pipeline, batch and streaming (same code path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from report_worker_spark.schemas import (
    EQUIPMENT_SLOTS,
    EQUIP_MAX_ID,
    REPORT_WIRE_SCHEMA,
    TS_LOWER_BOUND,
    TS_UPPER_BOUND,
)
from report_worker_spark.sources import kafka as ksrc
from report_worker_spark.sources.synthetic import (
    generate_report_json,
    generate_reports,
)
from report_worker_spark.streaming.pipeline import (
    StarUpsertSink,
    wire_to_staging,
)
from tests.conftest import await_finished

N_MSG = 5000


@pytest.fixture(scope="module")
def players(spark):
    # name player{i} ↔ id i: v2 wire ids draw from the same space, like
    # the reference generator stripping the "player" prefix.
    return spark.range(300).select(
        F.concat(F.lit("player"), F.col("id")).alias("name"),
        F.col("id").alias("id"),
    )


@pytest.fixture(scope="module")
def staging(spark, players):
    msgs = generate_reports(spark, n=N_MSG, seed=42)
    return wire_to_staging(msgs, players).cache()


def test_staging_invariants(staging):
    rows = staging.collect()
    assert len(rows) > 0
    for r in rows:
        ts = r.timestamp.timestamp()
        assert TS_LOWER_BOUND <= ts <= TS_UPPER_BOUND
        for slot in EQUIPMENT_SLOTS:
            v = r[slot]
            assert v is None or 0 <= v <= EQUIP_MAX_ID
        assert r.reporting_id is not None and r.reported_id is not None
        assert isinstance(r.manual_detect, bool)


def test_v1_names_resolved_to_dim_ids(staging, players):
    # generator ids are player0..299 → dim ids 1..300
    ids = staging.select("reporting_id").distinct()
    joined = ids.join(
        players, ids.reporting_id == players.id, "left_anti"
    )
    assert joined.count() == 0


def test_json_roundtrip_equals_struct_path(spark, players, staging):
    raw = generate_report_json(spark, n=N_MSG, seed=42)
    parsed = ksrc.parse_wire(raw)
    assert ksrc.invalid_messages(parsed).count() == 0
    msgs = ksrc.valid_messages(parsed)
    via_json = wire_to_staging(msgs, players)
    a = sorted(map(tuple, via_json.collect()), key=repr)
    b = sorted(map(tuple, staging.collect()), key=repr)
    assert a == b


def test_invalid_json_routed_not_dropped(spark):
    raw = spark.createDataFrame(
        [("{not json",), ('{"ts": "also-bad-type"}',), ('{"ts": 5}',)],
        ["value"],
    )
    parsed = ksrc.parse_wire(raw)
    bad = ksrc.invalid_messages(parsed)
    good = ksrc.valid_messages(parsed)
    assert bad.count() == 2  # malformed JSON + type-invalid field
    assert good.count() == 1
    assert ksrc.encode_dlq(bad).columns == ["value"]


def test_streaming_file_source_to_star(spark, players, tmp_path):
    """Drive the same transforms through Structured Streaming with a
    file source and a parquet-writing StarUpsertSink."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    msgs = generate_reports(spark, n=1000, seed=7)
    msgs.write.parquet(str(src))

    stream = spark.readStream.schema(msgs.schema).parquet(str(src))

    def writer(name, df, epoch_id):
        df.write.mode("append").parquet(f"{out}/{name}")

    sink = StarUpsertSink(writer=writer)
    records = []

    # v1 name resolution derives dim rows from the batch itself, so it
    # runs INSIDE foreachBatch (like the reference's per-batch txn) —
    # on the raw stream it would be an unsupported stream-stream join.
    def process(batch, epoch_id):
        records.append(sink(wire_to_staging(batch, players), epoch_id))

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)

    fact = spark.read.parquet(f"{out}/fact")
    sight = spark.read.parquet(f"{out}/sighting")
    assert fact.count() > 0
    assert sight.count() > 0
    # surrogate FKs resolve: every fact sighting_id exists in the dim
    assert (
        fact.select("sighting_id")
        .join(sight.select("sighting_id"), on="sighting_id", how="left_anti")
        .count()
        == 0
    )
    assert records and all(r["status"] == "ok" for r in records)


def test_sink_dlq_on_failure(spark, players):
    msgs = generate_reports(spark, n=200, seed=9)
    batch = wire_to_staging(msgs, players)
    captured = {}

    def writer(name, df, epoch_id):
        raise RuntimeError("sink down")

    def dlq(df, epoch_id, exc):
        captured["rows"] = df.count()
        captured["exc"] = str(exc)

    sink = StarUpsertSink(writer=writer, dlq=dlq)
    record = sink(batch, epoch_id=1)
    assert captured["rows"] > 0
    assert "sink down" in captured["exc"]
    assert record == {"epoch": 1, "status": "dlq"}


def test_sink_releases_each_epoch_batch(spark, players, tmp_path):
    """A stream must not hold one cached batch per epoch: the sink
    caches its input for the four delta scans and unpersists it when
    the epoch ends."""
    from pyspark import StorageLevel

    from report_worker_spark.streaming.pipeline import (
        epoch_partitioned_writer,
    )

    sink = StarUpsertSink(writer=epoch_partitioned_writer(str(tmp_path / "star")))
    batches, records = [], []
    for epoch in range(3):
        msgs = generate_reports(spark, n=200, seed=20 + epoch)
        batch = wire_to_staging(msgs, players)
        records.append(sink(batch, epoch_id=epoch))
        batches.append(batch)
    assert [r["status"] for r in records] == ["ok"] * 3
    assert [b.storageLevel for b in batches] == [StorageLevel.NONE] * 3


def test_epoch_writer_replay_idempotent(spark, players, tmp_path):
    """A re-run of the same epoch (foreachBatch replay after crash)
    must replace, not duplicate, that epoch's output."""
    from report_worker_spark.streaming.pipeline import (
        epoch_partitioned_writer,
    )

    msgs = generate_reports(spark, n=500, seed=11)
    batch = wire_to_staging(msgs, players)
    writer = epoch_partitioned_writer(str(tmp_path / "star"))
    sink = StarUpsertSink(writer=writer)
    sink(batch, epoch_id=7)
    n1 = spark.read.parquet(str(tmp_path / "star/fact")).count()
    sink(batch, epoch_id=7)  # replay
    n2 = spark.read.parquet(str(tmp_path / "star/fact")).count()
    assert n1 == n2
    sink(batch, epoch_id=8)  # a new epoch appends its own partition
    n3 = spark.read.parquet(str(tmp_path / "star/fact")).count()
    assert n3 == 2 * n1


def test_date_partitioned_fact_prunes(spark, players, tmp_path):
    """Facts land under dt=YYYY-MM-DD partitions; a date-filtered read
    scans only that partition (PartitionFilters in the plan)."""
    from report_worker_spark.streaming.pipeline import (
        date_partitioned_writer,
    )

    msgs = generate_reports(spark, n=2000, seed=13)
    batch = wire_to_staging(msgs, players)
    writer = date_partitioned_writer(str(tmp_path / "star"))
    sink = StarUpsertSink(writer=writer)
    sink(batch, epoch_id=0)

    fact = spark.read.parquet(str(tmp_path / "star/fact"))
    assert "dt" in fact.columns
    one_day = fact.select("dt").distinct().limit(1).collect()[0].dt
    q = fact.filter(F.col("dt") == F.lit(one_day))
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert q.count() > 0


def test_dlq_reencode_roundtrip(spark, players, staging):
    """§3.3 failed-batch loop: staging → v2 wire re-encode → JSON →
    parse → pipeline again ⇒ the SAME staging rows (the reference's
    retry capability, minus its same-topic poison loop)."""
    from report_worker_spark.streaming.pipeline import staging_to_wire

    wire = staging_to_wire(staging)
    as_json = wire.select(
        F.to_json(F.struct(*[F.col(c) for c in wire.columns])).alias("value")
    )
    parsed = ksrc.parse_wire(as_json)
    assert ksrc.invalid_messages(parsed).count() == 0
    again = wire_to_staging(ksrc.valid_messages(parsed), players)

    # item_bug is a transient warn flag: the re-encoded message carries
    # already-clamped ids, so the retry pass (rightly) sees no bug
    cols = [c for c in staging.columns if c != "item_bug"]
    a = sorted(map(tuple, staging.select(*cols).collect()), key=repr)
    b = sorted(map(tuple, again.select(*cols).collect()), key=repr)
    assert a == b
    assert again.filter(F.col("item_bug")).count() == 0


def test_sql_api_same_results(spark, sf_oracle):
    """spark.sql over registered views ≡ the DataFrame catalog query
    (Catalyst compiles both to the same plan family)."""
    from report_worker_spark.plans.sql_api import sql

    from report_worker_spark.plans import QUERIES
    df_api = QUERIES["flagship_top_reported"](spark, sf_oracle)
    via_sql = sql(
        spark,
        sf_oracle,
        """
        WITH agg AS (
          SELECT user_id, count(*) AS n_reports FROM events GROUP BY user_id
        )
        SELECT a.user_id, c.c_name AS name, a.n_reports
        FROM agg a JOIN customer c ON a.user_id = c.c_custkey
        ORDER BY n_reports DESC, user_id ASC LIMIT 25
        """,
    )
    a = sorted(map(tuple, df_api.collect()))
    b = sorted(map(tuple, via_sql.collect()))
    assert a == b


def test_graceful_shutdown(spark, players, tmp_path):
    from report_worker_spark.streaming.pipeline import stop_all_streams

    msgs = generate_reports(spark, n=200, seed=3)
    src = str(tmp_path / "gs_src")
    msgs.write.parquet(src)
    stream = spark.readStream.schema(msgs.schema).parquet(src)
    q = (
        stream.writeStream.format("memory")
        .queryName("gs_q")
        .trigger(processingTime="1 second")
        .start()
    )
    assert len(spark.streams.active) >= 1
    stopped = stop_all_streams(spark)
    assert "gs_q" in stopped or stopped
    assert len(spark.streams.active) == 0


def test_forward_compatible_unknown_fields(spark, players):
    """A future-version message with EXTRA fields must parse (unknown
    JSON keys are ignored by from_json) — forward compatibility of the
    versioned envelope without code changes."""
    import json

    base = {
        "metadata": {"version": "v2.0.0"},
        "reporter_id": 1, "reported_id": 2,
        "region_id": 10100, "x_coord": 1, "y_coord": 2, "z_coord": 0,
        "ts": 1704223737, "manual_detect": 1, "on_members_world": 0,
        "on_pvp_world": 0, "world_number": 301,
        "equipment": {"equip_head_id": 5},
        "equip_ge_value": 0,
        # future fields:
        "new_field_v3": "surprise", "another": {"nested": [1, 2]},
    }
    raw = spark.createDataFrame([(json.dumps(base),)], ["value"])
    parsed = ksrc.parse_wire(raw)
    assert ksrc.invalid_messages(parsed).count() == 0
    staging = wire_to_staging(ksrc.valid_messages(parsed), players)
    rows = staging.collect()
    assert len(rows) == 1
    assert rows[0].reporting_id == 1 and rows[0].equip_head_id == 5


def test_observed_metrics_on_wire_pipeline(spark, players):
    """A4/ST8: per-batch counters via observe() — the declarative
    replacement for the reference's cache hit/miss log lines."""
    from pyspark.sql import Observation

    msgs = generate_reports(spark, n=1000, seed=4)
    obs = Observation("wire_metrics")
    staging = wire_to_staging(msgs, players).observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("item_bug").cast("long")).alias("clamped_rows"),
    )
    n = staging.count()
    got = obs.get
    assert got["rows_out"] == n
    assert 0 <= got["clamped_rows"] <= n

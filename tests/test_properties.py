"""Property-based tests (hypothesis) for the pure transforms —
the reference's semantics as laws, not examples."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from report_worker_spark import transforms
from report_worker_spark.schemas import (
    EQUIP_MAX_ID,
    MS_EPOCH_CUTOFF,
    TS_LOWER_BOUND,
    TS_UPPER_BOUND,
)

# One shared batch per property run: hypothesis drives values, Spark
# evaluates them in a single DataFrame pass (per-example sessions would
# be seconds each).

names = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters="_- "),
    min_size=0,
    max_size=30,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(names, min_size=1, max_size=50))
def test_sanitize_idempotent_and_clean(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], ["name"])
    once = df.select(transforms.sanitize_name("name").alias("s"))
    twice = once.select(transforms.sanitize_name("s").alias("s"))
    a = [r.s for r in once.collect()]
    b = [r.s for r in twice.collect()]
    assert a == b  # idempotent
    for s in a:
        assert s == s.lower()
        assert "_" not in s and "-" not in s
        assert s == s.strip()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**45), min_size=1, max_size=100))
def test_normalize_ts_range_and_idempotence(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "ts long")
    once = df.select(transforms.normalize_ts("ts").alias("t"))
    vals = [r.t for r in once.collect()]
    for x, t in zip(xs, vals):
        if x > MS_EPOCH_CUTOFF:
            assert t == x // 1000
        else:
            assert t == x
    # applying again never changes an already-normalized value that is
    # itself below the cutoff (true for every real epoch second)
    again = once.select(transforms.normalize_ts("t").alias("t"))
    vals2 = [r.t for r in again.collect()]
    for t, t2 in zip(vals, vals2):
        if t <= MS_EPOCH_CUTOFF:
            assert t2 == t


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=70000)),
        min_size=1,
        max_size=60,
    )
)
def test_clamp_bounds_and_flag(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "equip_head_id int")
    out = transforms.clamp_equipment(df, slots=["equip_head_id"]).collect()
    for x, r in zip(xs, out):
        v = r.equip_head_id
        assert v is None or 0 <= v <= EQUIP_MAX_ID
        assert r.item_bug == (x is not None and x > EQUIP_MAX_ID)
        if x is not None and x <= EQUIP_MAX_ID:
            assert v == x  # in-range values untouched


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**34), min_size=1, max_size=100))
def test_bounds_filter_is_exact_subset(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "ts long")
    kept = sorted(r.ts for r in transforms.bounds_filter(df).collect())
    expect = sorted(x for x in xs if TS_LOWER_BOUND <= x <= TS_UPPER_BOUND)
    assert kept == expect


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # reporting_id
            st.integers(min_value=0, max_value=5),   # reported_id
            st.booleans(),                           # manual_detect
            st.integers(min_value=0, max_value=3),   # region_id
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # head
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # weapon
        ),
        min_size=1,
        max_size=30,
    )
)
def test_star_upsert_invariants(spark, rows):
    """Laws of the star upsert on arbitrary batches (incl. NULL gear):
    dims unique on natural key, every fact FK resolves, fact unique on
    PK — regardless of duplication or NULL patterns in the input."""
    from report_worker_spark import star

    batch = spark.createDataFrame(
        [
            (
                r[0], r[1], r[2], r[3],
                r[3] * 10, r[3] * 11, r[3] % 2,
                r[4], r[5],
            )
            for r in rows
        ],
        "reporting_id long, reported_id long, manual_detect boolean, "
        "region_id int, x_coord int, y_coord int, z_coord int, "
        "equip_head_id int, equip_weapon_id int",
    )
    from pyspark.sql import functions as F

    for slot in [
        "equip_amulet_id", "equip_torso_id", "equip_legs_id",
        "equip_boots_id", "equip_cape_id", "equip_hands_id",
        "equip_shield_id",
    ]:
        batch = batch.withColumn(slot, F.lit(None).cast("int"))

    out = star.upsert_star(batch)
    sight, gear, loc, fact = (
        out["sighting"], out["gear"], out["location"], out["fact"]
    )
    # dims unique on natural key
    assert sight.count() == sight.dropDuplicates(
        ["reporting_id", "reported_id", "manual_detect"]
    ).count()
    assert gear.count() == gear.dropDuplicates(["equip_head_id", "equip_weapon_id"]).count()
    # every fact FK resolves into its dim
    assert fact.join(sight.select("sighting_id"), "sighting_id", "left_anti").count() == 0
    assert fact.join(gear.select("gear_id"), "gear_id", "left_anti").count() == 0
    assert fact.join(loc.select("location_id"), "location_id", "left_anti").count() == 0
    # fact unique on PK
    assert fact.count() == fact.dropDuplicates(
        ["sighting_id", "location_id", "region_id"]
    ).count()


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=0, max_value=5000),
)
def test_token_budget_sample_law(spark, rows, budget):
    """Laws of the greedy budget cut, for any weights and budget:
    kept set == the sequential md5-order prefix; cum_tokens equals the
    sequential running sum; everything before the cut is kept."""
    import hashlib

    from report_worker_spark.functions.curation import token_budget_sample

    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r.doc_id: r.cum_tokens
        for r in token_budget_sample(df, budget).collect()
    }
    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )
    want, cum = {}, 0
    for did, nt in order:
        if cum < budget:
            cum += nt
            want[did] = cum
        else:
            break
    assert got == want


def test_token_budget_sample_shard_invariance(spark):
    """The kept prefix is a property of the global md5 order, so it
    must be identical for any shard count; non-power-of-16 shard
    counts (which a hex prefix cannot select exactly) are rejected."""
    import pytest

    from report_worker_spark.functions.curation import token_budget_sample

    rows = [(i, (i * 37) % 400 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {}
    for shards in (16, 256, 4096):
        out[shards] = sorted(
            tuple(r) for r in token_budget_sample(
                df, 5000, shards=shards
            ).collect()
        )
    assert out[16] == out[256] == out[4096]
    assert out[256], "budget cut kept nothing"
    with pytest.raises(ValueError, match="power of 16"):
        token_budget_sample(df, 5000, shards=10)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**4),   # cents
            st.integers(min_value=0, max_value=2000),    # day ordinal
        ),
        min_size=1,
        max_size=60,
    )
)
def test_pareto_dominance_law(spark, pts):
    """Bucketed skyline == O(n²) dominance filter for arbitrary
    (value, date) clouds, including heavy ties on either dim."""
    from datetime import datetime, timedelta

    from pyspark.sql import Window

    base = datetime(2020, 1, 1)
    rows = [
        (i, c, base + timedelta(days=d)) for i, (c, d) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "id long, cents long, d timestamp")
    # same decomposition as olap_pareto_frontier, on raw cents
    o = df.withColumn("bkt", F.expr("cents DIV 1000"))
    b = o.groupBy("bkt").agg(F.max("d").alias("bd"))
    wb = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    hi = b.select("bkt", F.max("bd").over(wb).alias("rm_hi"))
    wi = (
        Window.partitionBy("bkt")
        .orderBy(F.col("cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    sentinel = F.lit("1000-01-01").cast("timestamp")
    keep = (
        o.join(F.broadcast(hi), on="bkt")
        .withColumn(
            "_rm",
            F.greatest(
                F.coalesce(F.col("rm_hi"), sentinel),
                F.coalesce(F.max("d").over(wi), sentinel),
            ),
        )
        .filter(F.col("_rm") <= F.col("d"))
    )
    got = {r.id for r in keep.collect()}
    want = {
        i
        for i, c, d in rows
        if not any(c2 > c and d2 > d for _, c2, d2 in rows)
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    dur=st.integers(min_value=1000, max_value=90999),
    width=st.integers(min_value=16, max_value=655),
    height=st.integers(min_value=16, max_value=495),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    cut=st.integers(min_value=1, max_value=200),
)
def test_mp4_demux_roundtrip_law(dur, width, height, seed, cut):
    """Laws of the ISO-BMFF writer/demuxer pair over its whole input
    space: (1) demux inverts the writer — frame count, timestamps, and
    payload bytes all match the deterministic plan; (2) the header
    walker agrees on duration/dims; (3) ANY truncation of the stream
    raises ValueError (never silently returns wrong frames) — the
    poison path is loud by construction."""
    from report_worker_spark.functions import multimodal as mm

    b = mm.mp4_bytes_with_frames(dur, width, height, seed)
    n, delta, sizes = mm.mp4_frame_plan(dur)
    d = mm.demux_mp4_frames(b)
    assert d["n_frames"] == n
    for i, (idx, ts, payload) in enumerate(d["frames"]):
        assert idx == i and ts == i * delta and len(payload) == sizes[i]
        assert payload == mm.keystream(f"{seed}:f{i}", sizes[i])
    hdr = mm.parse_mp4_header(b)
    assert hdr["duration_ms"] == dur
    assert (hdr["width"], hdr["height"]) == (width, height)
    try:
        mm.demux_mp4_frames(b[: len(b) - min(cut, len(b) - 1)])
    except ValueError:
        pass
    else:
        raise AssertionError("truncated stream demuxed without error")

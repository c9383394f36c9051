from __future__ import annotations

from pyspark.sql import functions as F

from report_worker_spark import star


def test_anti_join_null_safe(spark):
    batch = spark.createDataFrame(
        [(1, None), (1, 2), (3, 3)], "a int, b int"
    )
    existing = spark.createDataFrame([(1, None), (3, 3)], "a int, b int")
    out = star.anti_join_new(batch, existing, ["a", "b"]).collect()
    # null-safe: (1, NULL) matches (1, NULL) and does NOT re-insert
    assert [(r.a, r.b) for r in out] == [(1, 2)]


def test_anti_join_null_unsafe_reference_bug(spark):
    """The reference's MySQL `=` semantics: NULL keys never match ⇒
    (1,NULL) re-inserts forever. Kept available for bug-compat."""
    batch = spark.createDataFrame([(1, None)], "a int, b int")
    existing = spark.createDataFrame([(1, None)], "a int, b int")
    out = star.anti_join_new(batch, existing, ["a", "b"], null_safe=False)
    assert out.count() == 1


def test_surrogate_hash_deterministic(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, None)], "a int, b string")
    d1 = star.build_dim(df, ["a", "b"], "id", key_mode="hash")
    d2 = star.build_dim(df, ["a", "b"], "id", key_mode="hash")
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))
    assert d1.count() == 2  # dedup applied


def test_upsert_star_shapes(spark):
    batch = spark.createDataFrame(
        [
            (10, 20, True, 1, 2, 3, 4, None, 5),
            (10, 20, True, 1, 2, 3, 4, None, 5),  # exact dup
            (10, 21, False, 1, 2, 3, 4, 7, 5),
        ],
        "reporting_id long, reported_id long, manual_detect boolean, "
        "region_id int, x_coord int, y_coord int, z_coord int, "
        "equip_head_id int, equip_weapon_id int",
    )
    # fill the remaining gear slots as nulls
    for slot in [
        "equip_amulet_id", "equip_torso_id", "equip_legs_id", "equip_boots_id",
        "equip_cape_id", "equip_hands_id", "equip_shield_id",
    ]:
        batch = batch.withColumn(slot, F.lit(None).cast("int"))
    out = star.upsert_star(batch)
    assert out["sighting"].count() == 2
    assert out["gear"].count() == 2
    assert out["location"].count() == 1
    fact = out["fact"]
    assert fact.count() == 2  # dup row collapsed by fact PK
    assert {"sighting_id", "gear_id", "location_id"} <= set(fact.columns)


def test_get_or_insert_dim(spark):
    batch = spark.createDataFrame([("a",), ("b",), ("c",), ("a",)], ["name"])
    dim = spark.createDataFrame([("a", 100)], "name string, id long")
    resolved, new_rows = star.get_or_insert_dim(batch, dim, key_mode="rank")
    assert sorted((r.name, r.id) for r in new_rows.collect()) == [("b", 1), ("c", 2)]
    res = {(r.name, r.id) for r in resolved.collect()}
    assert ("a", 100) in res and ("b", 1) in res and ("c", 2) in res
    assert resolved.filter(F.col("id").isNull()).count() == 0


def test_hash_mode_plan_has_no_window_or_join(spark):
    """The production (hash-mode) upsert plan must stay row-local for
    the fact: no Window node (the global dense_rank sort is the rank
    oracle twin's, test-scale only by contract — star.py surrogate_key)
    and no join nodes resolving FKs (r14: ids computed from the fact's
    own key columns). Concrete node names, not bare substrings."""
    from report_worker_spark.schemas import STG_REPORT_SCHEMA

    stg = spark.createDataFrame(
        spark.sparkContext.emptyRDD(), STG_REPORT_SCHEMA
    )
    out = star.upsert_star(stg)
    plan = out["fact"]._jdf.queryExecution().executedPlan().toString()
    for node in (
        "Window",
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
    ):
        assert f"{node}" not in plan, node

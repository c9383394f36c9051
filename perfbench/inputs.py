"""Seeded input generators. Same seed, same bytes; nothing here touches
Spark, so input generation stays out of every timed or set-up window.

Wire files have the CLI's parquet wire shape: ``msg_id`` (long) and
``value`` (the JSON body, keys with null values omitted, as Spark's
``to_json`` writes them).
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

EQUIPMENT_SLOTS = [
    "equip_head_id", "equip_amulet_id", "equip_torso_id", "equip_legs_id",
    "equip_boots_id", "equip_cape_id", "equip_hands_id", "equip_weapon_id",
    "equip_shield_id",
]

# 2024-06-01 00:00:00 UTC: inside the ingest keep-window [2020-01-01, 2025-01-01]
TRICKLE_T0 = 1717200000
TRICKLE_DAYS = 3
TRUNCATE_SHARE = 0.01


def _player_name(rng: random.Random, n: int) -> str:
    # sanitize_name folds case, '_' and '-' and strips the ends, so one
    # player reaches the dim under several spellings
    return rng.choice(["player{}", "Player_{}", "PLAYER-{}", " player {} "]).format(n)


def wire_message(rng: random.Random, population: int, first_new: int) -> str:
    """One JSON report body. Half are v1 (name-keyed, metadata absent on
    half of those), half v2 (id-keyed). One of the two v1 names is drawn
    from the players first seen in this file, so every epoch inserts
    into the player dim."""
    msg: dict = {}
    if rng.random() < 0.5:
        if rng.random() < 0.5:
            msg["metadata"] = {"version": "v1.0.0"}
        msg["reporter"] = _player_name(rng, rng.randrange(population))
        msg["reported"] = _player_name(rng, rng.randrange(first_new, population))
    else:
        msg["metadata"] = {"version": "v2.0.0"}
        msg["reporter_id"] = rng.randrange(population)
        msg["reported_id"] = rng.randrange(population)
    msg["region_id"] = rng.randint(10_000, 10_500)
    msg["x_coord"] = rng.randint(0, 5000)
    msg["y_coord"] = rng.randint(0, 5000)
    msg["z_coord"] = rng.randint(0, 3)
    ts = TRICKLE_T0 + rng.randrange(TRICKLE_DAYS * 86_400)
    msg["ts"] = ts * 1000 if rng.random() < 0.25 else ts
    msg["manual_detect"] = rng.randint(0, 1)
    msg["on_members_world"] = rng.randint(0, 1)
    msg["on_pvp_world"] = rng.randint(0, 1)
    msg["world_number"] = rng.randint(300, 500)
    # ~30% empty slots; ids up to 40000 so some exceed the 32767 clamp
    msg["equipment"] = {
        s: rng.randint(0, 40_000) for s in EQUIPMENT_SLOTS if rng.random() >= 0.3
    }
    msg["equip_ge_value"] = 0
    return json.dumps(msg, separators=(",", ":"))


def write_wire_files(
    stage_dir: str, seed: int, n_files: int, msgs_per_file: int,
    players_start: int = 300, players_per_file: int = 40,
) -> list[dict]:
    """Write ``n_files`` wire files into ``stage_dir``; file ``i`` holds
    msg_ids ``[i*msgs_per_file, (i+1)*msgs_per_file)``. About 1% of bodies
    are cut in half (malformed JSON). Returns per-file metadata:
    path, message count, and the truncated bodies."""
    rng = random.Random(seed)
    os.makedirs(stage_dir, exist_ok=True)
    files = []
    for i in range(n_files):
        first_new = players_start + i * players_per_file
        population = first_new + players_per_file
        values, truncated = [], []
        for _ in range(msgs_per_file):
            body = wire_message(rng, population, first_new)
            if rng.random() < TRUNCATE_SHARE:
                body = body[: rng.randint(10, len(body) - 2)]
                truncated.append(body)
            values.append(body)
        ids = range(i * msgs_per_file, (i + 1) * msgs_per_file)
        path = os.path.join(stage_dir, f"wire-{i:05d}.parquet")
        pq.write_table(
            pa.table({"msg_id": pa.array(ids, pa.int64()),
                      "value": pa.array(values, pa.string())}),
            path,
        )
        files.append({"path": path, "n": msgs_per_file, "truncated": truncated})
    return files


# --- catalog tables ----------------------------------------------------------
# Shaped after the sf0.01 fixture the catalog queries are tested on, as
# profiled with DuckDB: documents draw 10-99 words uniformly from a fixed
# 30-word vocabulary, and about 5% are an earlier document with " dup"
# appended (sf0.01 has 25 pairs at 3-gram Jaccard >= 0.8, all such
# copies); events are uniform over 30 days from 2024-01-01 with event_id in
# time order, uniform users, types and props keys, and an exponential
# value with mean 50 rounded to cents.

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]  # sf0.01: 44% en, ~14% each other
DUP_SHARE = 0.05


def _documents(rng: random.Random, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < DUP_SHARE:
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99)))
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(_LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: random.Random, n_events: int, n_users: int) -> pa.Table:
    start = datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 1_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(n_events))
    return pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(
            [start + timedelta(microseconds=o) for o in offsets], pa.timestamp("us")
        ),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": pa.array(
            [rng.choice(["view", "click", "error", "signup", "purchase"])
             for _ in range(n_events)], pa.string()),
        "value": pa.array(
            [max(0.01, round(rng.expovariate(1 / 50), 2)) for _ in range(n_events)],
            pa.float64(),
        ),
        "props": pa.array(
            ['{"k": %d}' % rng.randrange(100) for _ in range(n_events)], pa.string()
        ),
    })


def write_catalog_tables(
    sf_dir: str, seed: int, n_docs: int = 500, n_events: int = 10_000, n_users: int = 150,
) -> None:
    """The two tables the catalog query set reads, ``documents`` and
    ``events``, at sf0.01 size by default."""
    rng = random.Random(seed)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(_documents(rng, n_docs), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(_events(rng, n_events, n_users), os.path.join(sf_dir, "events.parquet"))

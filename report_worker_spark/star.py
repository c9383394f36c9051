"""Relational core: star-schema upsert as set operations (SURVEY §2 J1-J5, A1-A2).

The reference does this server-side in MySQL per micro-batch: a MEMORY
temp table + ``SELECT DISTINCT`` + ``NOT EXISTS`` anti-joins into three
dims + a 3-way equi-join to resolve surrogate FKs + ``INSERT IGNORE``
into the fact (reference src/app/controllers/report.py:84-311). Here the
same semantics are plain DataFrame set algebra, which Catalyst turns
into broadcast or sort-merge joins as sizes dictate.

NULL semantics (SURVEY §2 J4): the reference's MySQL ``=`` never matches
NULL gear slots, so NULL-gear rows re-insert forever in the anti-join
and silently vanish in the FK-resolve join — a latent bug. We implement
the *intended* semantics with null-safe equality (``<=>`` /
``IS NOT DISTINCT FROM``), which also matches ``SELECT DISTINCT``'s
null handling, and document the divergence here.

Surrogate keys: MySQL auto-increment has no distributed analog. Two modes:

- ``hash``  (default, the 100 TB path): ``xxhash64`` of the null-safe
  natural key. Deterministic, embarrassingly parallel, no global
  coordination; collision odds at 64-bit are ~n²/2⁶⁵.
- ``rank``  (oracle-parity path): ``dense_rank`` over the natural key —
  reproducible in ANSI SQL, but implies a global sort; test-scale only.
  The oracle-twinned catalog queries build rank-mode dims with
  ``build_dim`` and attach them with ``resolve_fk``; ``upsert_star``,
  the ingest path, is hash-only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .schemas import GEAR_KEYS, LOCATION_KEYS, SIGHTING_KEYS


def null_safe_cond(left: DataFrame, right: DataFrame, keys: list[str]) -> Column:
    """Conjunctive ``<=>`` join condition over ``keys``."""
    return reduce(
        lambda a, b: a & b, [left[k].eqNullSafe(right[k]) for k in keys]
    )


def dedup(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """SELECT DISTINCT (A1). ``dropDuplicates`` is null-safe, matching
    DISTINCT (reference src/app/controllers/report.py:174,199-209,231)."""
    return df.dropDuplicates(keys) if keys else df.dropDuplicates()


def anti_join_new(
    batch: DataFrame, existing: DataFrame, keys: list[str], null_safe: bool = True
) -> DataFrame:
    """Rows of ``batch`` with no key-match in ``existing`` — the
    ``NOT EXISTS`` insert guard (J3, reference report.py:170-241).

    ``null_safe=True`` fixes the reference's NULL-gear forever-reinsert
    bug (see module docstring).
    """
    ex = existing.select(*keys)
    if null_safe:
        return batch.join(ex, on=null_safe_cond(batch, ex, keys), how="left_anti")
    return batch.join(ex, on=keys, how="left_anti")


def surrogate_key(keys: list[str], mode: str = "hash") -> Column:
    """Deterministic surrogate id over a natural key (see module docstring).

    CONTRACT: ``rank`` mode's dense_rank is a GLOBAL window — a
    single-partition sort of the (distinct) key set. It exists solely
    as the ANSI-SQL/oracle-parity twin and is test-scale only; the
    production path is ``hash`` mode, whose plan is row-local and
    join-free (pinned by tests/test_star.py::
    test_hash_mode_plan_has_no_window_or_join). A distributed
    replacement (range-bucketed row_number + bucket prefix-sum
    offsets) was built and measured in r15: it reproduces the ids
    exactly but costs 2.2-2.8x at sf0.1 (checkpoint materialization or
    a second derivation pass per dim vs one small in-memory sort), so
    it was reverted on that evidence — see OPTIMIZATION_r15.md §7.
    """
    if mode == "hash":
        # Map NULL key parts to a sentinel so (NULL) and ('') differ is
        # not a concern for int keys; xxhash64 already folds nulls
        # deterministically.
        return F.xxhash64(*[F.col(k) for k in keys])
    if mode == "rank":
        w = Window.orderBy(*[F.col(k).asc_nulls_first() for k in keys])
        return F.dense_rank().over(w).cast("long")
    raise ValueError(f"unknown surrogate key mode: {mode}")


def build_dim(
    batch: DataFrame, keys: list[str], id_col: str, key_mode: str = "hash"
) -> DataFrame:
    """DISTINCT natural keys + surrogate id — one dim table's batch delta."""
    return dedup(batch.select(*keys), keys).withColumn(
        id_col, surrogate_key(keys, key_mode)
    )


def resolve_fk(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    id_col: str,
    null_safe: bool = True,
) -> DataFrame:
    """Inner-join ``fact`` to ``dim`` on the natural key, attaching
    ``id_col`` (J4, reference report.py:256-283). Null-safe by default —
    the reference's MySQL ``=`` drops NULL-gear facts (documented bug).

    No broadcast hint: Catalyst statistics + AQE broadcast a dim that
    measures small at runtime and shuffle-join one that doesn't — an
    unconditional hint here would OOM the driver on a large backfill.
    """
    d = dim.select(*keys, id_col)
    cond = (
        null_safe_cond(fact, d, keys)
        if null_safe
        else reduce(lambda a, b: a & b, [fact[k] == d[k] for k in keys])
    )
    out = fact.join(d, on=cond, how="inner")
    # drop the dim's copy of the key cols (ambiguous names otherwise)
    return out.drop(*[d[k] for k in keys])


def upsert_star(batch: DataFrame) -> dict[str, DataFrame]:
    """The reference's 7-statement MySQL transaction as set algebra,
    with hash surrogate ids.

    ``batch`` is a staging-shaped DataFrame (schemas.STG_REPORT_SCHEMA
    naming). Returns the four deltas to append: sighting / gear /
    location dims and the FK-resolved fact. The dims are the batch's
    full DISTINCT key sets; the NOT-EXISTS guard against rows already
    stored is the writer's job (server-side in ``JdbcStarSink``, epoch
    partition overwrite for the parquet writers). ``batch`` feeds four
    scans; a caller that writes the deltas should cache it for their
    lifetime and unpersist it afterwards (the streaming sinks do, per
    epoch).

    Reference: src/app/controllers/report.py:84-311.
    """
    sight = build_dim(batch, SIGHTING_KEYS, "sighting_id")
    gear = build_dim(batch, GEAR_KEYS, "gear_id")
    loc = build_dim(batch, LOCATION_KEYS, "location_id")

    # Hash surrogate ids are pure row-local functions of the natural
    # key, and the dims above are DISTINCT projections of this very
    # batch — so the three null-safe FK-resolve joins would be identity
    # lookups: every fact row matches exactly one dim row, and the
    # attached id equals xxhash64 over the fact's own key columns
    # (null-safe-equal tuples hash identically). Compute the ids
    # directly instead of shuffling the fact three times through join
    # exchanges (guide §2.4 — remove shuffles outright).
    fact = batch
    for keys, id_col in (
        (SIGHTING_KEYS, "sighting_id"),
        (GEAR_KEYS, "gear_id"),
        (LOCATION_KEYS, "location_id"),
    ):
        fact = fact.withColumn(id_col, surrogate_key(keys, "hash"))
    # fact PK is (sighting_id, location_id, region_id) (01_tables.sql:139);
    # INSERT IGNORE ⇒ keep one row per PK.
    fact = fact.dropDuplicates(["sighting_id", "location_id", "region_id"])

    return {"sighting": sight, "gear": gear, "location": loc, "fact": fact}


def get_or_insert_dim(
    batch_names: DataFrame,
    dim: DataFrame,
    name_col: str = "name",
    id_col: str = "id",
    key_mode: str = "hash",
) -> tuple[DataFrame, DataFrame]:
    """Get-or-insert (J1+J2, reference src/app/controllers/player.py:38-71).

    Returns ``(resolved, new_dim_rows)``: ``resolved`` is ``batch_names``
    left-joined to ids (existing dim first, then deterministic ids for
    the misses); ``new_dim_rows`` is the delta to append to the dim.

    In the JDBC deployment the delta is written and ids re-read inside
    the same foreachBatch txn (MySQL stays authoritative); this pure-
    Spark variant assigns deterministic ids instead (semantic shift
    documented in SURVEY §7).
    """
    names = dedup(batch_names.select(name_col), [name_col])
    missing = names.join(dim.select(name_col), on=name_col, how="left_anti")
    new_rows = missing.withColumn(id_col, surrogate_key([name_col], key_mode))
    full = dim.select(name_col, id_col).unionByName(new_rows)
    # no broadcast hint: the dim side is unbounded (millions of players
    # at scale) — AQE broadcasts it when it measures small and falls
    # back to a shuffle join when it isn't; a forced broadcast here
    # would OOM the driver on a large dim
    resolved = batch_names.join(full, on=name_col, how="left")
    return resolved, new_rows

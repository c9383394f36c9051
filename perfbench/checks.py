"""Output checks, run outside every timed window.

``check_ingest`` recomputes what the CLI ingest must have written from
the generated wire files alone, in DuckDB, and compares it with the
written tables exactly, ignoring row order. ``check_query`` compares a
catalog query's rows with its oracle twin under the rule of
``tests/oracle_harness.compare``. Both return a list of problems
(empty means pass); each problem names the differing rows, so a wrong
check can be told apart from a wrong program.
"""

from __future__ import annotations

import glob
import os

import duckdb
from tests.oracle_harness import canon

from .inputs import EQUIPMENT_SLOTS

_SHOW = 5  # differing rows printed per direction
# the reference worker's ingest rules, restated here rather than imported
# so that a wrong constant in the program shows as a mismatch
TS_LOWER_BOUND = 1577883600  # 2020-01-01: older reports are dropped
TS_UPPER_BOUND = 1735736400  # 2025-01-01: future reports are dropped
EQUIP_MAX_ID = 32767  # larger gear ids are clamped to 0
MS_EPOCH_CUTOFF = 10**10  # larger ts values are milliseconds

_SIGHTING = ["reporting_id", "reported_id", "manual_detect"]
_LOCATION = ["region_id", "x_coord", "y_coord", "z_coord"]
_FACT_PK = ["epoch", *_SIGHTING, *_LOCATION]
_DIMS = (
    ("sighting", _SIGHTING, "sighting_id"),
    ("gear", EQUIPMENT_SLOTS, "gear_id"),
    ("location", _LOCATION, "location_id"),
)
_FACT_COLS = [
    "epoch", "dt", "reported_id", "reporting_id", "region_id", "x_coord",
    "y_coord", "z_coord", "ts_s", "manual_detect", "on_members_world",
    "on_pvp_world", "world_number", *EQUIPMENT_SLOTS, "equip_ge_value", "item_bug",
]


def _except(con, name: str, a: str, b: str, label: str, op: str = "EXCEPT ALL") -> list[str]:
    """Rows of query ``a`` not in query ``b``, as one problem line."""
    n = con.sql(f"SELECT count(*) FROM (({a}) {op} ({b}))").fetchone()[0]
    if not n:
        return []
    rows = con.sql(f"({a}) {op} ({b}) LIMIT {_SHOW}").fetchall()
    return [f"{name}: {n} {label} rows, e.g. {rows}"]


def _diff(con, name: str, expected: str, actual: str) -> list[str]:
    """Multiset difference both ways."""
    return (_except(con, name, expected, actual, "missing")
            + _except(con, name, actual, expected, "unexpected"))


_REPORTER = "json_extract_string(value, '$.reporter')"
_REPORTED = "json_extract_string(value, '$.reported')"


def _sanitize(col: str) -> str:
    # transforms.sanitize_name: lower, '_'/'-' -> ' ', strip spaces
    return f"trim(regexp_replace(lower({col}), '[_-]', ' ', 'g'))"


def _parquet(path: str, hive: bool = False) -> str:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    lst = ", ".join(f"'{f}'" for f in sorted(files))
    return f"read_parquet([{lst}], hive_partitioning = {str(hive).lower()})"


def check_ingest(out_dir: str, epoch_files: list[dict]) -> list[str]:
    """``epoch_files[e]`` is the generator's record of the wire file
    consumed as epoch ``e`` (path and truncated bodies)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("CREATE TABLE truncated (body VARCHAR)")
    con.executemany(
        "INSERT INTO truncated VALUES (?)",
        [(b,) for f in epoch_files for b in f["truncated"]],
    )
    wire = " UNION ALL ".join(
        f"SELECT {e} AS epoch, msg_id, value FROM read_parquet('{f['path']}')"
        for e, f in enumerate(epoch_files)
    )
    con.execute(f"CREATE TABLE wire AS {wire}")
    # every body the generator did not truncate is well-formed
    con.execute(
        "CREATE TABLE msgs AS SELECT * FROM wire "
        "WHERE value NOT IN (SELECT body FROM truncated)"
    )
    problems: list[str] = []

    # DLQ: exactly the truncated bodies, retry_count 0
    dlq = _parquet(os.path.join(out_dir, "dlq"))
    problems += _diff(
        con, "dlq",
        "SELECT body, 0 FROM truncated",
        f"SELECT json_extract_string(value, '$.raw_value'), "
        f"CAST(json_extract(value, '$.retry_count') AS INTEGER) FROM {dlq}",
    )

    # player dim: every sanitized v1 name of a valid message, one id each
    players = _parquet(os.path.join(out_dir, "_dims", "players"))
    con.execute(f"CREATE TABLE players AS SELECT DISTINCT name, id FROM {players}")
    problems += _diff(
        con, "player dim names",
        f"SELECT DISTINCT n FROM (SELECT {_sanitize(_REPORTER)} AS n FROM msgs "
        f"UNION ALL SELECT {_sanitize(_REPORTED)} FROM msgs) WHERE n IS NOT NULL",
        "SELECT DISTINCT name FROM players",
    )
    dup = con.sql(
        "SELECT name, count(*) FROM players GROUP BY name HAVING count(*) > 1 LIMIT 5"
    ).fetchall()
    if dup:
        problems.append(f"player dim: names with several ids, e.g. {dup}")

    # staging rows: version dispatch, v1 names resolved through the
    # written dim, ms->s, bounds, clamp, bool casts
    slot_cols = ",\n".join(
        f"CAST(json_extract(value, '$.equipment.{s}') AS INTEGER) AS raw_{s}"
        for s in EQUIPMENT_SLOTS
    )
    clamps = ",\n".join(
        f"CASE WHEN raw_{s} > {EQUIP_MAX_ID} THEN 0 ELSE raw_{s} END AS {s}"
        for s in EQUIPMENT_SLOTS
    )
    item_bug = " OR ".join(f"COALESCE(raw_{s} > {EQUIP_MAX_ID}, false)" for s in EQUIPMENT_SLOTS)
    con.execute(f"""
    CREATE TABLE staging AS
    WITH parsed AS (
      SELECT epoch,
        coalesce(json_extract_string(value, '$.metadata.version'), 'v1.0.0') AS version,
        {_sanitize(_REPORTER)} AS reporter,
        {_sanitize(_REPORTED)} AS reported,
        CAST(json_extract(value, '$.reporter_id') AS BIGINT) AS reporter_id_v2,
        CAST(json_extract(value, '$.reported_id') AS BIGINT) AS reported_id_v2,
        CAST(json_extract(value, '$.region_id') AS INTEGER) AS region_id,
        CAST(json_extract(value, '$.x_coord') AS INTEGER) AS x_coord,
        CAST(json_extract(value, '$.y_coord') AS INTEGER) AS y_coord,
        CAST(json_extract(value, '$.z_coord') AS INTEGER) AS z_coord,
        CAST(json_extract(value, '$.ts') AS BIGINT) AS raw_ts,
        CAST(json_extract(value, '$.manual_detect') AS INTEGER) AS manual_detect,
        CAST(json_extract(value, '$.on_members_world') AS INTEGER) AS on_members_world,
        CAST(json_extract(value, '$.on_pvp_world') AS INTEGER) AS on_pvp_world,
        CAST(json_extract(value, '$.world_number') AS INTEGER) AS world_number,
        CAST(json_extract(value, '$.equip_ge_value') AS BIGINT) AS equip_ge_value,
        {slot_cols}
      FROM msgs
    ), keyed AS (
      SELECT p.*, r1.id AS reporting_id, r2.id AS reported_id
      FROM parsed p
      JOIN players r1 ON r1.name = p.reporter
      JOIN players r2 ON r2.name = p.reported
      WHERE p.version = 'v1.0.0'
      UNION ALL
      SELECT p.*, p.reporter_id_v2, p.reported_id_v2
      FROM parsed p WHERE p.version = 'v2.0.0'
    ), norm AS (
      SELECT *, CASE WHEN raw_ts > {MS_EPOCH_CUTOFF} THEN raw_ts // 1000
                     ELSE raw_ts END AS ts_s
      FROM keyed
    )
    SELECT epoch,
      strftime(make_timestamp(ts_s * 1000000), '%Y-%m-%d') AS dt,
      reported_id, reporting_id, region_id, x_coord, y_coord, z_coord, ts_s,
      CAST(manual_detect AS BOOLEAN) AS manual_detect, on_members_world,
      CAST(on_pvp_world AS BOOLEAN) AS on_pvp_world, world_number,
      {clamps}, equip_ge_value, ({item_bug}) AS item_bug
    FROM norm
    WHERE ts_s BETWEEN {TS_LOWER_BOUND} AND {TS_UPPER_BOUND}
    """)

    # per-epoch dims: the DISTINCT natural keys of the epoch's staging rows
    for table, keys, _id in _DIMS:
        src = _parquet(os.path.join(out_dir, table), hive=True)
        con.execute(f"CREATE TABLE w_{table} AS SELECT * FROM {src}")
        cols = ", ".join(keys)
        problems += _diff(
            con, f"{table} dim",
            f"SELECT DISTINCT epoch, {cols} FROM staging",
            f"SELECT epoch, {cols} FROM w_{table}",
        )

    # fact: one row per (epoch, fact PK); each written row is one of the
    # staging rows sharing its key (dropDuplicates keeps any one of them)
    src = _parquet(os.path.join(out_dir, "fact"), hive=True)
    con.execute(
        f"CREATE TABLE w_fact AS SELECT *, CAST(epoch(timestamp) AS BIGINT) AS ts_s, "
        f"CAST(dt AS VARCHAR) AS dt_s FROM {src}"
    )
    fact_cols = ", ".join("dt_s" if c == "dt" else c for c in _FACT_COLS)
    pk = ", ".join(_FACT_PK)
    problems += _diff(
        con, "fact keys",
        f"SELECT DISTINCT {pk} FROM staging",
        f"SELECT {pk} FROM w_fact",
    )
    problems += _except(
        con, "fact rows", f"SELECT {fact_cols} FROM w_fact",
        f"SELECT {', '.join(_FACT_COLS)} FROM staging", "written rows match no staging", "EXCEPT",
    )

    # surrogate ids: the fact's FK ids equal the ids its dims carry for
    # the same natural key (no hash is recomputed here)
    for table, keys, id_col in _DIMS:
        cond = " AND ".join(f"f.{k} IS NOT DISTINCT FROM d.{k}" for k in keys)
        bad = con.sql(
            f"SELECT count(*) FROM w_fact f JOIN w_{table} d "
            f"ON f.epoch = d.epoch AND {cond} WHERE f.{id_col} <> d.{id_col}"
        ).fetchone()[0]
        if bad:
            problems.append(f"fact.{id_col}: {bad} rows disagree with the {table} dim")
    return problems


# --- catalog -----------------------------------------------------------------


def oracle_frame(sql: str, sf_dir: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def check_query(name: str, spark_pdf, oracle_pdf) -> list[str]:
    """The rule of tests/oracle_harness.compare; both-empty fails."""
    n_s, c_s, r_s = canon(spark_pdf.astype(object).where(spark_pdf.notna(), None))
    n_o, c_o, r_o = canon(oracle_pdf.astype(object).where(oracle_pdf.notna(), None))
    problems = []
    if n_s == 0 and n_o == 0:
        problems.append(f"{name}: both sides returned 0 rows")
    if c_s != c_o:
        return problems + [f"{name}: columns differ: spark={c_s} oracle={c_o}"]
    if n_s != n_o:
        problems.append(f"{name}: row counts differ: spark={n_s} oracle={n_o}")
    if r_s != r_o:
        so, oo = set(r_o), set(r_s)
        problems.append(
            f"{name}: values differ; spark-only={[r for r in r_s if r not in so][:_SHOW]} "
            f"oracle-only={[r for r in r_o if r not in oo][:_SHOW]}"
        )
    return problems

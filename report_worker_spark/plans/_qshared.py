"""Shared infrastructure for the named-query catalog: the
``@query`` registry (QUERIES/ORACLE), every cross-family helper,
oracle SQL device, and the driver verification-window rotation
machinery. Split out of the monolithic catalog.py (round 12);
definition order is preserved exactly. Family modules star-import
this namespace, so helpers stay single-sourced."""

from __future__ import annotations

import math
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .. import star, transforms
from ..functions import bpe
from ..functions import dedup as dd
from ..functions import graph as gr
from ..functions import similarity as sim
from ..functions import text as tx
from ..schemas import EQUIPMENT_SLOTS, TS_LOWER_BOUND, TS_UPPER_BOUND
from ..util import explode_strict, posexplode_strict
from .tables import load
from ..functions import multimodal as mm_mod  # noqa: E402



QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


ORACLE: dict[str, str] = {}




def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco




# ---------------------------------------------------------------------------
# Synthetic wire-format columns over `events`
#
# events.ts is a clean 2024 timestamp; the reference's wire format is an
# epoch that may be in ms and may be out of the [2020-01-01, 2025-01-01)
# keep-window (reference src/main.py:127-137). We derive a deterministic
# "raw wire epoch" from events so the normalize/bounds operators have
# something real to do, identically on both engines:
#   epoch  = floor(epoch_seconds(ts))
#   +2y    when event_id % 7 == 0   (pushes out of bounds)
#   ×1000  when event_id % 3 == 0   (ms encoding)
# ---------------------------------------------------------------------------

_RAW_TS_SQL = (
    "(CAST(floor(epoch(ts)) AS BIGINT) "
    "+ CASE WHEN event_id % 7 = 0 THEN 63072000 ELSE 0 END) "
    "* CASE WHEN event_id % 3 = 0 THEN 1000 ELSE 1 END"
)




def _usec(c) -> F.Column:
    """NTZ-safe epoch microseconds. The driver parquet may annotate
    ``ts`` naive (TIMESTAMP_NTZ — pyarrow writes no tz), and Spark 4's
    ``unix_micros`` is NTZ-strict. Session tz is pinned UTC, so the
    NTZ→LTZ cast is exactly the wall-clock mapping DuckDB's ``epoch()``
    applies to the same naive value."""
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(col.cast("timestamp"))




def _raw_ts_col() -> F.Column:
    epoch = F.unix_timestamp(F.col("ts")).cast("long")
    shifted = epoch + F.when(F.col("event_id") % 7 == 0, F.lit(63072000)).otherwise(
        F.lit(0)
    )
    return shifted * F.when(F.col("event_id") % 3 == 0, F.lit(1000)).otherwise(
        F.lit(1)
    )




# --- Full star upsert (the reference's 7-statement transaction) --------------

_STAR_STAGING_SQL = """
      SELECT event_id,
             user_id AS reporting_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS reported_id,
             event_type = 'error' AS manual_detect,
             CAST(10000 + CAST(floor(value) AS BIGINT) % 50 AS INT) AS region_id,
             CAST(CAST(floor(value * 100) AS BIGINT) % 5000 AS INT) AS x_coord,
             CAST((event_id * 7) % 5000 AS INT) AS y_coord,
             CAST(event_id % 4 AS INT) AS z_coord,
             nullif(CAST(event_id % 11 AS INT), 0) AS equip_head_id,
             nullif(CAST(user_id % 7 AS INT), 0) AS equip_weapon_id
      FROM events
"""




def _star_staging(spark: SparkSession, sf: str) -> DataFrame:
    """Map `events` into the staging-report shape (FIXTURES.md §5)."""
    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        F.col("user_id").alias("reporting_id"),
        F.get_json_object("props", "$.k").cast("long").alias("reported_id"),
        (F.col("event_type") == "error").alias("manual_detect"),
        (F.lit(10000) + F.floor("value").cast("long") % 50)
        .cast("int")
        .alias("region_id"),
        (F.floor(F.col("value") * 100).cast("long") % 5000)
        .cast("int")
        .alias("x_coord"),
        ((F.col("event_id") * 7) % 5000).cast("int").alias("y_coord"),
        (F.col("event_id") % 4).cast("int").alias("z_coord"),
        F.nullif((F.col("event_id") % 11).cast("int"), F.lit(0)).alias(
            "equip_head_id"
        ),
        F.nullif((F.col("user_id") % 7).cast("int"), F.lit(0)).alias(
            "equip_weapon_id"
        ),
    )




def _simhash_md5_oracle(max_hamming: int = 3) -> str:
    """Brute-force ANSI-SQL twin of dedup.simhash_md5_pairs: same md5
    hex-digit bit derivation, all-pairs Hamming scan (the Spark side's
    pigeonhole blocking provably finds the identical pair set)."""
    sums = ",\n        ".join(
        "sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, "
        f"{i // 4 + 1}, 1)) - 1 >> {i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(64)
    )
    lo = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))
    hi = " + ".join(
        f"(CASE WHEN s{32 + i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ), hs AS (
      SELECT doc_id, md5(tok) AS h FROM toks
    ), sums AS (
      SELECT doc_id,
        {sums}
      FROM hs GROUP BY doc_id
    ), sh AS (
      SELECT doc_id,
        CAST({hi} AS BIGINT) AS hi,
        CAST({lo} AS BIGINT) AS lo
      FROM sums
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE hamming <= {max_hamming}
    """




def _augmented_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Embeddings ∪ deterministically perturbed clones of every 10th
    vector (±0.2% per-component wobble). Both engines can express the
    augmentation exactly, which plants known near-dup pairs (cosine
    ≈ 0.999999) in otherwise near-orthogonal synthetic data — the
    ground truth an approximate near-dup query can be graded against."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    clones = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            * (
                F.lit(1.0)
                + ((i % 5) - 2).cast("double") / F.lit(1000.0)
            ),
        ).alias("embedding"),
    )
    return e.unionByName(clones)




_AUG_SQL = """
    base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    clones AS (
      SELECT vec_id + 1000000 AS vec_id,
             [v[i] * (1.0 + CAST(((i - 1) % 5) - 2 AS DOUBLE) / 1000.0)
              for i in range(1, len(v) + 1)] AS v
      FROM base WHERE vec_id % 10 = 0
    ),
    e AS (SELECT * FROM base UNION ALL SELECT * FROM clones)
"""




# ---------------------------------------------------------------------------
# Deterministic fault-injection fixtures (ADVICE r13): the catalog's
# integrity DETECTORS (sequence inversions, SPC rules, cross-source
# cluster audit, cosine near-dup) need provably non-empty input at
# every SF, but the injection must NOT live inside the detector query
# bodies — anyone reusing those as real audits would count synthetic
# faults as findings. These helpers are the explicit augmentation
# layer (the `_augmented_embeddings` pattern): a catalog entry
# composes `detector(inject(fixture))`; the detector functions stay
# clean for non-harness use.
# ---------------------------------------------------------------------------


def _events_with_stale_seq(spark: SparkSession, sf: str) -> DataFrame:
    """Events + an injected `seq_id`: a seeded ~3% of events (first
    md5 byte of the event id < 8 — engine-portable, no RNG) report a
    stale sequence id (event_id − 997), simulating a replaying
    producer. Twin SQL: :data:`_STALE_SEQ_SQL`."""
    e = load(spark, sf, "events")
    stale = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 2),
            16,
            10,
        ).cast("int")
        < 8
    )
    return e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(stale, F.col("event_id") - 997)
        .otherwise(F.col("event_id"))
        .alias("seq_id"),
    )


_STALE_SEQ_SQL = """
    faulted AS (
      SELECT user_id, ts, event_id,
             CASE WHEN CAST(('0x' || substr(
                    md5(CAST(event_id AS VARCHAR)), 1, 2)) AS INT) < 8
                  THEN event_id - 997 ELSE event_id END AS seq_id
      FROM events
    )"""


def _inject_spc_spikes(df: DataFrame) -> DataFrame:
    """Seeded synthetic SPC excursions on a (day, n) daily series:
    ×4 up-spikes on days ≡ 7 mod 11, ÷4 down-spikes on days ≡ 9
    mod 13 — the monitored stream carries the faults while control
    limits come from the unfaulted baseline. Twin SQL: the CASE in
    q_timeseries's `ts_spc_western_electric` oracle."""
    faulted = (
        F.when(F.col("day") % 11 == 7, F.col("n") * 4)
        .when(F.col("day") % 13 == 9, F.expr("n div 4"))
        .otherwise(F.col("n"))
    )
    return df.withColumn("n", faulted)


def _syndicated_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Documents ∪ deterministic syndication clones: a seeded ~5% of
    documents (first md5 byte of the doc id < 13) are replicated
    under a 'syndicated' source with shifted ids — the cross-source
    duplicate population the cluster audit exists to find (the
    documents fixture has ZERO exact-dup texts at sf0.01).
    Twin SQL: :data:`_SYNDICATED_SQL`."""
    d = load(spark, sf, "documents")
    synd = d.filter(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
            16,
            10,
        ).cast("int")
        < 13
    ).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.lit("syndicated").alias("source"),
        "text",
    )
    return d.select("doc_id", "source", "text").unionByName(synd)


_SYNDICATED_SQL = """
    synd AS (
      SELECT doc_id + 10000000 AS doc_id, 'syndicated' AS source, text
      FROM documents
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                 AS INT) < 13
    ),
    corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL SELECT doc_id, source, text FROM synd
    )"""


_LSHR_PLANES = sim.md5_planes(n_tables=6, n_planes=6, dim=64, tag="lshr")




def _lshr_bucket_sql(t: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, "
        f"[{', '.join(repr(x) for x in _LSHR_PLANES[t][p])}]) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(6)
    )




_LSHR_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
         {", ".join(f"{_lshr_bucket_sql(t)} AS b{t}" for t in range(6))}
  FROM e
),
pairs AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         list_dot_product(a.v, c.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM e a JOIN e c ON a.vec_id <> c.vec_id
),
exact AS (
  SELECT id_a, id_b
  FROM (SELECT id_a, id_b,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY cos DESC, id_b ASC) AS rn
        FROM pairs)
  WHERE rn <= 5
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.vec_id <> c.vec_id
   AND ({" OR ".join(f"a.b{t} = c.b{t}" for t in range(6))})
),
lsh AS (
  SELECT id_a, id_b
  FROM (SELECT cand.id_a, cand.id_b,
               row_number() OVER (PARTITION BY cand.id_a
                                  ORDER BY p.cos DESC, cand.id_b ASC) AS rn
        FROM cand JOIN pairs p ON p.id_a = cand.id_a AND p.id_b = cand.id_b)
  WHERE rn <= 5
)
SELECT 5 AS k,
       (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM exact JOIN lsh USING (id_a, id_b)) AS n_hits,
       CAST(floor((SELECT count(*) FROM exact JOIN lsh USING (id_a, id_b))
                  * 10000.0 / (SELECT count(*) FROM exact))
            AS BIGINT) AS recall_bps
"""




# ---------------------------------------------------------------------------






# --- Multimodal: binary columns + Arrow kernels, oracle-paired --------------
#
# Pixel-level PNG decode is REAL (round 5): the synthetic PNG pixel
# content is an md5 keystream (md5('id:0')||md5('id:1')||…), so after
# the Spark side decodes ACTUAL bytes (chunk walk → zlib inflate →
# per-row unfilter across all five PNG filter types), DuckDB
# regenerates the expected sample stream arithmetically from hex pairs
# and the integer channel sums must agree exactly. A decoder bug in any
# filter path shifts the sums and mismatches.

_PNG_KS_BYTE = (
    "(strpos('0123456789abcdef', substr(hx, CAST(2*j+1 AS INT), 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(hx, CAST(2*j+2 AS INT), 1)) - 1)"
)




# ===========================================================================
# Coverage round 4: wire pipeline in the gate, quality score, salted agg
# ===========================================================================


def _wire_h(tag: str) -> str:
    """DuckDB twin of sources.synthetic._h: uint32 md5-keystream draw."""
    return (
        "CAST(concat('0x', substr(md5('42:" + tag + ":' || "
        "CAST(msg_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    )




_WIRE_SLOT_DRAWS = ",\n    ".join(
    f"CASE WHEN {_wire_h('eqnull' + s)} % 10 < 3 THEN NULL "
    f"ELSE CAST({_wire_h('eq' + s)} % 40001 AS INTEGER) END AS {s}"
    for s in EQUIPMENT_SLOTS
)


_WIRE_SLOT_CLAMPS = ",\n  ".join(
    f"CASE WHEN {s} > 32767 THEN 0 ELSE {s} END AS {s}" for s in EQUIPMENT_SLOTS
)


_WIRE_ITEM_BUG = " OR ".join(
    f"COALESCE({s} > 32767, false)" for s in EQUIPMENT_SLOTS
)



_WIRE_ORACLE = f"""
WITH draws AS (
  SELECT msg_id,
    ({_wire_h('v1')} % 2 = 0) AS is_v1,
    {_wire_h('rep')} % 300 AS reporter_n,
    {_wire_h('red')} % 300 AS reported_n,
    838857600 + {_wire_h('ts')} % 1307059200 AS ts_s,
    ({_wire_h('ms')} % 4 = 0) AS ts_in_ms,
    CAST(10000 + {_wire_h('region')} % 501 AS INTEGER) AS region_id,
    CAST({_wire_h('x')} % 5001 AS INTEGER) AS x_coord,
    CAST({_wire_h('y')} % 5001 AS INTEGER) AS y_coord,
    CAST({_wire_h('z')} % 4 AS INTEGER) AS z_coord,
    CAST({_wire_h('md')} % 2 AS INTEGER) AS manual_detect,
    CAST({_wire_h('mw')} % 2 AS INTEGER) AS on_members_world,
    CAST({_wire_h('pw')} % 2 AS INTEGER) AS on_pvp_world,
    CAST(300 + {_wire_h('wn')} % 201 AS INTEGER) AS world_number,
    {_WIRE_SLOT_DRAWS}
  FROM (SELECT CAST(r.range AS BIGINT) AS msg_id FROM range(0, 20000) r)
),
dim AS (
  SELECT DISTINCT 'player' || CAST(c_custkey % 300 AS VARCHAR) AS name,
         CAST(c_custkey % 300 AS BIGINT) AS id
  FROM customer
),
keyed AS (
  SELECT d.*, r1.id AS rep_id, r2.id AS red_id
  FROM draws d
  JOIN dim r1 ON r1.name = 'player' || CAST(d.reporter_n AS VARCHAR)
  JOIN dim r2 ON r2.name = 'player' || CAST(d.reported_n AS VARCHAR)
  WHERE d.is_v1
  UNION ALL
  SELECT d.*, CAST(d.reporter_n AS BIGINT), CAST(d.reported_n AS BIGINT)
  FROM draws d WHERE NOT d.is_v1
),
norm AS (
  SELECT *,
    CASE WHEN raw_ts > 10000000000
         THEN CAST(floor(raw_ts / 1000) AS BIGINT)
         ELSE raw_ts END AS ts
  FROM (SELECT k.*,
               CASE WHEN ts_in_ms THEN ts_s * 1000 ELSE ts_s END AS raw_ts
        FROM keyed k)
)
SELECT
  red_id AS reported_id,
  rep_id AS reporting_id,
  region_id, x_coord, y_coord, z_coord,
  strftime(make_timestamp(ts * 1000000), '%Y-%m-%d %H:%M:%S') AS ts_utc,
  CAST(manual_detect AS BOOLEAN) AS manual_detect,
  on_members_world,
  CAST(on_pvp_world AS BOOLEAN) AS on_pvp_world,
  world_number,
  {_WIRE_SLOT_CLAMPS},
  CAST(0 AS BIGINT) AS equip_ge_value,
  ({_WIRE_ITEM_BUG}) AS item_bug
FROM norm
WHERE ts BETWEEN 1577883600 AND 1735736400
"""




def _zorder_oracle() -> str:
    """CTE-chain twin of util.zorder_key_2d (nesting the spread inline
    would duplicate the base expression 2^5 times)."""
    steps = [  # decimal: DuckDB's parser has no 0x integer literals
        (16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    ctes = ["s0 AS (SELECT event_id, CAST(user_id % 1024 AS BIGINT) AS xa,"
            " CAST(event_id % 1024 AS BIGINT) AS xb FROM events)"]
    for n, (sh, m) in enumerate(steps, start=1):
        ctes.append(
            f"s{n} AS (SELECT event_id, ((xa | (xa << {sh})) & {m}) AS xa,"
            f" ((xb | (xb << {sh})) & {m}) AS xb FROM s{n - 1})"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT event_id, (xa | (xb << 1)) AS zkey FROM s{len(steps)}"
    )




# --- OLAP breadth: TPC-H Q6/Q14/Q19/Q17/Q22 shapes ---------------------------
#
# Same integer-cents discipline as Q1/Q3/Q5: money enters the aggregate
# as BIGINT cents (×cents for discount products → 1e-4-dollar units,
# suffix _c4), so every sum is order-independent and bit-identical
# cross-engine. Ratios divide two exact BIGINTs in double at the end.

_REV_C4_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT) "
    "* (100 - CAST(round(l_discount * 100) AS BIGINT))"
)




def _rev_c4() -> F.Column:
    return F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )




# ===========================================================================
# Coverage round 3: graph analytics over co-occurrence edges, containment
# dedup, reduced-schema TPC-H Q2/Q11, gaps-and-islands, incremental dedup,
# IVF recall
# ===========================================================================

# Part co-occurrence graph: two parts are adjacent when some 1997 order
# shipped both. ~1.7k nodes / ~2.5k edges at sf0.01 — sparse, with real
# triangle structure. The Spark side builds it with one self-equi-join
# on orderkey (never all-pairs across orders).

_COOCCUR_EDGES_SQL = """
    li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
"""




def _cooccur_edges(spark: SparkSession, sf: str) -> DataFrame:
    li = (
        load(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, on="_o")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )




def _pagerank_oracle(iters: int, edges_sql: str | None = None) -> str:
    edges_sql = edges_sql or _COOCCUR_EDGES_SQL
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""
    pr{i} AS (
      SELECT d.dst AS node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             + CAST(0.85 AS DOUBLE) * list_reduce(
                 list_sort(list(p.pr / deg.outdeg)), (x, y) -> x + y) AS pr
      FROM d
      JOIN pr{i - 1} p ON d.src = p.node
      JOIN deg ON deg.node = d.src
      CROSS JOIN nn
      GROUP BY d.dst, nn.n
    )"""
        )
    return f"""
    WITH {edges_sql},
    d AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM d GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM deg CROSS JOIN nn),
    {",".join(steps)}
    SELECT node, pr, rank FROM (
      SELECT node, pr,
             ROW_NUMBER() OVER (ORDER BY pr DESC, node ASC) AS rank
      FROM pr{iters})
    WHERE rank <= 20
    """




def _kcore_oracle(k: int, iters: int) -> str:
    # unrolled peeling fixpoint (same MATERIALIZED discipline as the
    # BPE oracle: e{i} is referenced by dg{i+1} and e{i+1}, so inlined
    # CTEs would re-evaluate exponentially)
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
    dg{i} AS (
      SELECT node, count(*) AS deg
      FROM (SELECT src AS node FROM e{i - 1}
            UNION ALL SELECT dst AS node FROM e{i - 1})
      GROUP BY node
    ),
    kp{i} AS MATERIALIZED (SELECT node FROM dg{i} WHERE deg >= {k}),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst
      FROM e{i - 1} e
      JOIN kp{i} a ON e.src = a.node
      JOIN kp{i} b ON e.dst = b.node
    )""")
    return f"""
    WITH {_COOCCUR_EDGES_SQL},
    e0 AS MATERIALIZED (SELECT src, dst FROM edges),
    {",".join(steps)},
    dgf AS (
      SELECT node, count(*) AS deg
      FROM (SELECT src AS node FROM e{iters}
            UNION ALL SELECT dst AS node FROM e{iters})
      GROUP BY node
    )
    SELECT node, CAST(deg AS BIGINT) AS core_deg
    FROM dgf WHERE deg >= {k}
    """




_NGRAM3_SQL = """
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             max(a.sz) AS sz_a, max(b.sz) AS sz_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
"""




_IVFR_CENT = sim.md5_centroids(n_centroids=32, dim=64, tag="ivfr")



_IVFR_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (
  SELECT vec_id, unnest(range(0, 32)) AS j,
         unnest([{", ".join(
             f"list_dot_product(v, [{', '.join(repr(x) for x in c)}])"
             for c in _IVFR_CENT
         )}]) AS s
  FROM e
),
probes AS (
  SELECT vec_id, j,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY s DESC, j ASC) AS rn
  FROM sims
),
cells AS (SELECT vec_id, j AS cell FROM probes WHERE rn = 1),
cand AS (
  SELECT p.vec_id AS id_a, c.vec_id AS id_b
  FROM probes p JOIN cells c ON c.cell = p.j AND c.vec_id <> p.vec_id
  WHERE p.rn <= 4
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
exact AS (
  SELECT id_a, id_b
  FROM (SELECT id_a, id_b,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY cos DESC, id_b ASC) AS rn
        FROM pairs)
  WHERE rn <= 5
),
ivf AS (
  SELECT id_a, id_b
  FROM (SELECT cand.id_a, cand.id_b,
               row_number() OVER (PARTITION BY cand.id_a
                                  ORDER BY p.cos DESC, cand.id_b ASC) AS rn
        FROM cand JOIN pairs p
          ON p.id_a = cand.id_a AND p.id_b = cand.id_b)
  WHERE rn <= 5
)
SELECT 5 AS k,
       (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM exact JOIN ivf USING (id_a, id_b)) AS n_hits,
       CAST(floor((SELECT count(*) FROM exact JOIN ivf USING (id_a, id_b))
                  * 10000.0 / (SELECT count(*) FROM exact))
            AS BIGINT) AS recall_bps
"""




def _select_kth(values: DataFrame, col: str, bucket_width: int) -> int | None:
    """The two-pass selection device behind stats_exact_median_twopass,
    as a reusable scalar: the (n−1)//2-th smallest of an integer column
    with a bucket histogram + one-bucket re-scan. Driver work = the
    bucket table (bounded by the value domain / bucket width, not n).
    Two jobs total (histogram collect + one-bucket re-scan); n derives
    from Σ cnt, so there is no separate count() scan. Returns None on
    empty input. NOTE: executes Spark jobs when called — callers build
    DataFrames eagerly (see cmd_explain)."""
    hist = sorted(
        (r["_bkt"], r["_cnt"])
        for r in values.withColumn(
            "_bkt", F.expr(f"{col} DIV {bucket_width}")
        )
        .groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    )
    n = sum(c for _, c in hist)
    if n == 0:
        return None
    k = (n - 1) // 2
    before = 0
    for bkt, cnt in hist:
        if before + cnt > k:
            break
        before += cnt
    row = (
        values.filter(F.expr(f"{col} DIV {bucket_width}") == bkt)
        .orderBy(col)
        .limit(int(k - before) + 1)
        .agg(F.max(col).alias("v"))
        .collect()[0]
    )
    return int(row["v"])




_COMPONENTS_CTE = """
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             max(a.sz) AS sz_a, max(b.sz) AS sz_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE CAST(n_common AS DOUBLE) / (sz_a + sz_b - n_common) >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), rec AS (
      WITH RECURSIVE reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
      ) SELECT node, min(comp) AS comp FROM reach GROUP BY node
    )
"""




# ===========================================================================
# Exact-substring dedup (Lee et al. 2022) — duplicated token spans
# ===========================================================================

_SUBSTR_WINS_CTE = """
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    wins AS (
      SELECT doc_id, i AS pos, array_to_string(t[i+1:i+8], ' ') AS win
      FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t)-8)) AS i) g
      WHERE len(t) >= 8
    ),
    dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
    marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (win)),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(max(pos) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9) + 8
                  THEN 1 ELSE 0 END AS brk
      FROM marked
    ),
    grps AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS g
      FROM flagged
    ),
    spans AS (
      SELECT doc_id,
             CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + 7 AS BIGINT) AS span_end,
             CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens
      FROM grps GROUP BY doc_id, g
    )
"""




# ===========================================================================
# BPE tokenizer training (Sennrich et al. 2016) — oracle-paired via an
# UNROLLED SQL twin: each merge iteration is three generated CTEs (pair
# counts → argmax → replace), so DuckDB replays the exact training loop
# including the deterministic (count DESC, lhs, rhs) tie-break. The
# wrapped-symbol representation (" l  o  w ") makes one engine-native
# replace() apply a merge at every site with no overlap hazard — see
# functions/bpe.py for the 100 TB story (one corpus pass, then
# vocab-sized iterations).
# ===========================================================================

_BPE_N_MERGES = 10



_BPE_BASE_CTE = """
    w1 AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS freq,
             ' ' || array_to_string(
               list_transform(generate_series(1, length(w)),
                              i -> substring(w, i, 1)), '  ') || ' ' AS r
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE length(w) > 0
      GROUP BY w
    )"""




def _bpe_iter_ctes(n: int) -> str:
    out = []
    for i in range(1, n + 1):
        # AS MATERIALIZED is load-bearing: without it DuckDB inlines
        # every CTE reference, and since w{{i+1}} references w{{i}}
        # twice (directly and via b{{i}}) the expansion is 2^n copies
        # of the base scan — measured 55 s vs <2 s at sf0.01, n=10.
        out.append(f"""
    p{i} AS (
      SELECT s[j] AS a, s[j+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, string_split(trim(r), '  ') AS s
            FROM w{i} WHERE len(string_split(trim(r), '  ')) >= 2),
           LATERAL (SELECT unnest(generate_series(1, len(s)-1)) AS j) g
      GROUP BY a, b
    ),
    b{i} AS MATERIALIZED (
      SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ),
    m{i} AS (
      SELECT {i} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged,
             cnt AS pair_count
      FROM b{i}
    ),
    w{i + 1} AS MATERIALIZED (
      SELECT freq,
             replace(w.r, ' '||b.a||'  '||b.b||' ',
                     ' '||b.a||b.b||' ') AS r
      FROM w{i} w, b{i} b
    )""")
    return ",".join(out)




def _bpe_merges_oracle(n: int) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM m{i}" for i in range(1, n + 1)
    )
    return f"""
    WITH {_BPE_BASE_CTE},{_bpe_iter_ctes(n)}
    SELECT merge_rank, lhs, rhs, merged, pair_count
    FROM ({union})
    """




def _bpe_segment_oracle(n: int) -> str:
    # nested replace chain applying merges 1..n in rank order to one
    # wrapped word (b1..bn are cross-joined single-row tables)
    expr = (
        "' ' || array_to_string(list_transform("
        "generate_series(1, length(w)), i -> substring(w, i, 1)),"
        " '  ') || ' '"
    )
    for i in range(1, n + 1):
        expr = (
            f"replace({expr}, ' '||b{i}.a||'  '||b{i}.b||' ',"
            f" ' '||b{i}.a||b{i}.b||' ')"
        )
    tables = ", ".join(f"b{i}" for i in range(1, n + 1))
    return f"""
    WITH {_BPE_BASE_CTE},{_bpe_iter_ctes(n)}
    SELECT d.doc_id,
           CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
             AS n_words,
           CAST(list_sum(list_transform(
             string_split_regex(trim(d.text), '\\s+'),
             w -> len(string_split(trim({expr}), '  ')))) AS BIGINT)
             AS n_bpe_tokens
    FROM documents d, {tables}
    """




# ===========================================================================
# Coverage round 5: semantic dedup (SemDeDup)
# ===========================================================================

_SD_PLANES = sim.semdedup_planes(n_planes=4, dim=64, tag="sd")


_SD_CELL_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in plane)}]) > 0 "
    f"THEN {1 << p} ELSE 0 END)"
    for p, plane in enumerate(_SD_PLANES)
)




_LSHQ_PLANES = sim.md5_planes(n_tables=4, n_planes=6, dim=64, tag="lshq")




def _lshq_bucket_sql(t: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, "
        f"[{', '.join(repr(x) for x in _LSHQ_PLANES[t][p])}]) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(6)
    )




_CDC_CHUNK_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id, t, unnest(range(0, len(t))) AS p FROM toks
),
flg AS (
  -- greatest() keeps the slice valid on the p<2 rows the outer CASE
  -- discards (DuckDB evaluates vectorized branches eagerly; an invalid
  -- slice made concat('0x', NULL)='0x' and the CAST threw)
  SELECT doc_id, p, t[CAST(p+1 AS INT)] AS tok,
         CASE WHEN p >= 2 AND
              CAST(concat('0x', substr(md5(array_to_string(
                     t[CAST(greatest(p-1, 1) AS INT):CAST(p+1 AS INT)], ' ')),
                   1, 8)) AS BIGINT) % 16 = 0
         THEN 1 ELSE 0 END AS f
  FROM pos
),
cidx AS (
  SELECT doc_id, p, tok,
         CAST(COALESCE(sum(f) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS chunk_idx
  FROM flg
),
chunks AS (
  SELECT doc_id, chunk_idx,
         CAST(min(p) AS INT) AS chunk_start,
         CAST(count(*) AS BIGINT) AS n_tokens,
         md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_hash
  FROM cidx GROUP BY doc_id, chunk_idx
)
"""




_BIGRAM_CE_CTES = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    trans AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) g
      WHERE len(t) >= 2
    ),
    c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2
      FROM trans GROUP BY w1, w2
    ),
    c1 AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
    v AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS vs
      FROM (SELECT unnest(t) AS w FROM toks)
    ),
    scored AS (
      SELECT tr.doc_id,
             ln((c2.n2 + 0.5) / (c1.n1 + 0.5 * v.vs)) AS lp
      FROM trans tr JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
    ),
    ce AS (
      SELECT doc_id,
             round(-list_reduce(list_sort(list(lp)), (x, y) -> x + y)
                   / count(*), 9) AS ce
      FROM scored GROUP BY doc_id
    )
"""




# ===========================================================================
# Coverage round 7 (late batch): KMV set-operation sketch, Bloom
# semi-join reduction, Welch t-test, exponential-smoothing forecast,
# hashed linear quality scorer, GIF decode.
# ===========================================================================

# 12 hex chars of md5 = 48-bit hash: < 2^53 so BIGINT→DOUBLE casts are
# exact on both engines, and '0x'||substr CAST replays F.conv exactly.
_KMV_SPACE = 281474976710656.0  # 2^48




def _h48(col: F.Column) -> F.Column:
    """48-bit md5 device hash of a string column (cross-engine)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")




# Poisson(1) CDF thresholds on the 16-bit md5 space:
# t_k = floor(CDF(k) * 65536); weight = first k with u < t_k, else 8.
_POIS_T = [24109, 48218, 60273, 64291, 65296, 65497, 65530, 65535]




def _pois_case_sql(u_expr: str) -> str:
    arms = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {arms} ELSE 8 END"




def _mmr_oracle() -> str:
    """Unrolled 5-step greedy MMR in SQL (generated: each step is the
    same anti-join + max-redundancy + argmax block over the previous
    pick set)."""
    steps = []
    picks = "s1"
    for t in range(2, 6):
        steps.append(f"""
    r{t} AS (
      SELECT c.query_id, c.vec_id, c.qsim, max(p.sim) AS red
      FROM cand c
      JOIN pairs p ON p.query_id = c.query_id AND p.id_a = c.vec_id
      JOIN {picks} s ON s.query_id = p.query_id AND s.vec_id = p.id_b
      LEFT JOIN {picks} dup
        ON dup.query_id = c.query_id AND dup.vec_id = c.vec_id
      WHERE dup.vec_id IS NULL
      GROUP BY c.query_id, c.vec_id, c.qsim
    ),
    c{t} AS (
      SELECT query_id, vec_id, qsim, red, CAST({t} AS INT) AS rank
      FROM r{t}
      QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY qsim - red DESC, vec_id) = 1
    ),
    s{t} AS (SELECT * FROM {picks} UNION ALL SELECT * FROM c{t})""")
        picks = f"s{t}"
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) * 256) AS BIGINT)) AS qv
      FROM embeddings
    ),
    qry AS (SELECT vec_id AS query_id, qv AS query_vec
            FROM q WHERE vec_id < 4),
    scored AS (
      SELECT r.query_id, e.vec_id,
             CAST(list_dot_product(CAST(r.query_vec AS DOUBLE[]),
                                   CAST(e.qv AS DOUBLE[])) AS BIGINT)
               AS qsim,
             e.qv
      FROM qry r JOIN q e ON e.vec_id <> r.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, qsim, qv
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY qsim DESC, vec_id) <= 20
    ),
    pairs AS (
      SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                                   CAST(b.qv AS DOUBLE[])) AS BIGINT)
               AS sim
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT query_id, vec_id, qsim, CAST(0 AS BIGINT) AS red,
             CAST(1 AS INT) AS rank
      FROM cand
      QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY qsim DESC, vec_id) = 1
    ),{",".join(steps)}
    SELECT query_id, rank, vec_id, qsim, red AS redundancy FROM s5
    """




_WORD_EDGES_SQL = """
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT least(t[i], t[i+1]) AS src,
                      greatest(t[i], t[i+1]) AS dst
      FROM tok, unnest(range(1, len(t))) AS u(i)
      WHERE t[i] <> '' AND t[i+1] <> '' AND t[i] <> t[i+1]
    )
"""




# ===========================================================================
# Coverage round 7 (late batch 2): graph traversal + nonparametric stats
# ===========================================================================


def _bfs_oracle(max_hops: int) -> str:
    """Unrolled k-round BFS twin: d{h} = the distinct neighbors of
    d{h-1} not yet in any earlier layer. Each layer is a plain
    equi-join + NOT IN — the SQL mirror of the frontier expansion."""
    parts = [
        f"WITH {_COOCCUR_EDGES_SQL},",
        "adj AS (SELECT src AS a, dst AS b FROM edges"
        " UNION ALL SELECT dst, src FROM edges),",
        "d0 AS (SELECT DISTINCT a AS node FROM adj WHERE a % 97 = 0),",
        "v0 AS (SELECT node FROM d0)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f", d{h} AS (SELECT DISTINCT b AS node FROM adj"
            f" JOIN d{h - 1} s ON adj.a = s.node"
            f" WHERE b NOT IN (SELECT node FROM v{h - 1}))"
        )
        parts.append(
            f", v{h} AS (SELECT node FROM v{h - 1}"
            f" UNION ALL SELECT node FROM d{h})"
        )
    layers = " UNION ALL ".join(
        f"SELECT node, CAST({h} AS INT) AS dist FROM d{h}"
        for h in range(max_hops + 1)
    )
    return "\n".join(parts) + "\n" + layers




def _labelprop_oracle(rounds: int) -> str:
    parts = [
        f"WITH {_COOCCUR_EDGES_SQL},",
        "adj AS (SELECT src AS a, dst AS b FROM edges"
        " UNION ALL SELECT dst, src FROM edges),",
        "nodes AS (SELECT DISTINCT a AS node FROM adj),",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f", l{r} AS (SELECT node, min(lbl) AS lbl FROM ("
            f"SELECT node, lbl FROM l{r - 1}"
            f" UNION ALL SELECT adj.a AS node, p.lbl FROM adj"
            f" JOIN l{r - 1} p ON adj.b = p.node) GROUP BY node)"
        )
    return "\n".join(parts) + f"\nSELECT node, lbl FROM l{rounds}"




# Synthetic crawl URLs over `documents`: scheme / host-case / tracking
# params / fragment / trailing slash all vary deterministically with
# doc_id, while the canonical identity is (host mod 20, path mod 25,
# id mod 10) — so doc_ids congruent mod 100 collapse to one canonical
# URL and the dedup ratio is certifiable on both engines.

_URL_SQL = """
    CASE WHEN doc_id % 13 = 0 THEN 'http://' ELSE 'https://' END
    || CASE WHEN doc_id % 2 = 0
            THEN 'WWW.Site' || CAST(doc_id % 20 AS VARCHAR) || '.COM'
            ELSE 'www.site' || CAST(doc_id % 20 AS VARCHAR) || '.com' END
    || '/articles/item-' || CAST(doc_id % 25 AS VARCHAR)
    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
    || '?id=' || CAST(doc_id % 10 AS VARCHAR)
    || CASE WHEN doc_id % 3 = 0
            THEN '&utm_source=feed&utm_campaign=c'
                 || CAST(doc_id % 11 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN '&fbclid=x' || CAST(doc_id % 23 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN '#section-' || CAST(doc_id % 4 AS VARCHAR)
            ELSE '' END
"""




def _url_col() -> F.Column:
    i = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    return F.concat(
        F.when(i % 13 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(
            i % 2 == 0,
            F.concat(F.lit("WWW.Site"), s(i % 20), F.lit(".COM")),
        ).otherwise(F.concat(F.lit("www.site"), s(i % 20), F.lit(".com"))),
        F.lit("/articles/item-"),
        s(i % 25),
        F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="),
        s(i % 10),
        F.when(
            i % 3 == 0,
            F.concat(F.lit("&utm_source=feed&utm_campaign=c"), s(i % 11)),
        ).otherwise(F.lit("")),
        F.when(
            i % 7 == 0, F.concat(F.lit("&fbclid=x"), s(i % 23))
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 0, F.concat(F.lit("#section-"), s(i % 4))
        ).otherwise(F.lit("")),
    )




# Signed Johnson–Lindenstrauss projection: the ±1 matrix is derived
# from md5(d:j) first-hex-digit parity — a string-membership test both
# engines evaluate identically (no base conversion, no decimal
# literals). Fold order over d is the canonical left-to-right dim walk
# (F.aggregate ≡ list_dot_product, the repo's verified equivalence).

_JL_SIGNS_SPARK = (
    "transform(sequence(0, 63), d -> CASE WHEN substr(md5(concat("
    "cast(d AS string), ':', cast(j AS string))), 1, 1) IN "
    "('0','2','4','6','8','a','c','e') THEN CAST(1 AS DOUBLE) "
    "ELSE CAST(-1 AS DOUBLE) END)"
)



_JL_SIGNS_DUCK = (
    "list_transform(range(0, 64), d -> CASE WHEN substr(md5("
    "d || ':' || j), 1, 1) IN "
    "('0','2','4','6','8','a','c','e') THEN CAST(1 AS DOUBLE) "
    "ELSE CAST(-1 AS DOUBLE) END)"
)




# Shared dense-grid SQL for the daily backtest/symbolization twins —
# the zero-filled types×30 grid from ts_exp_smoothing, reused verbatim.

_DAILY_GRID_SQL = """
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      WHERE date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
            BETWEEN 0 AND 29
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, CAST(r.range AS INT) AS day,
             CAST(coalesce(d.n, 0) AS BIGINT) AS n
      FROM types t CROSS JOIN range(0, 30) r
      LEFT JOIN daily d
        ON d.event_type = t.event_type AND d.day = r.range
    )
"""




def _daily_grid(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    )
    daily = (
        e.select("event_type", day.alias("day"))
        .filter((F.col("day") >= 0) & (F.col("day") <= 29))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    types = daily.select("event_type").distinct()
    return (
        types.crossJoin(
            spark.range(0, 30).select(F.col("id").cast("int").alias("day"))
        )
        .join(daily, on=["event_type", "day"], how="left")
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )




def _ppr_oracle(iters: int) -> str:
    """Unrolled personalized-PageRank twin: teleport mass returns to
    the seed set; contributions fold smallest-first; missing
    contributions coalesce to 0 so unreached nodes carry exact 0.0."""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""
    c{i} AS (
      SELECT d.dst AS node,
             list_reduce(list_sort(list(p.pr / deg.outdeg)),
                         (x, y) -> x + y) AS s
      FROM d
      JOIN r{i - 1} p ON d.src = p.node
      JOIN deg ON deg.node = d.src
      GROUP BY d.dst
    ),
    r{i} AS (
      SELECT b.node,
             b.base + CAST(0.85 AS DOUBLE) * coalesce(c{i}.s,
               CAST(0 AS DOUBLE)) AS pr
      FROM b LEFT JOIN c{i} ON c{i}.node = b.node
    )"""
        )
    return f"""
    WITH {_COOCCUR_EDGES_SQL},
    d AS (SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM d GROUP BY src),
    seeds AS (SELECT DISTINCT src AS node FROM d WHERE src % 97 = 0),
    ns AS (SELECT count(*) AS n FROM seeds),
    b AS (
      SELECT deg.node,
             CASE WHEN seeds.node IS NOT NULL
                  THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / ns.n
                  ELSE CAST(0 AS DOUBLE) END AS base,
             CASE WHEN seeds.node IS NOT NULL
                  THEN CAST(1.0 AS DOUBLE) / ns.n
                  ELSE CAST(0 AS DOUBLE) END AS p0
      FROM deg LEFT JOIN seeds ON seeds.node = deg.node CROSS JOIN ns
    ),
    r0 AS (SELECT node, p0 AS pr FROM b),
    {",".join(steps)}
    SELECT node, pr, rank FROM (
      SELECT node, pr,
             ROW_NUMBER() OVER (ORDER BY pr DESC, node ASC) AS rank
      FROM r{iters})
    WHERE rank <= 20
    """




# Directed purchase graph for HITS: customer --buys-from--> supplier,
# one distinct edge per (custkey, suppkey) pair in the 1997 order year.
_BUY_EDGES_SQL = """
    e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
"""




def _buy_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct customer→supplier purchase edges, 1997 order year —
    the directed bipartite graph shared by HITS and butterfly
    counting (the Spark twin of _BUY_EDGES_SQL)."""
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_suppkey").alias("dst"),
        )
        .distinct()
    )




def _dtw_oracle() -> str:
    # DTW by anti-diagonals, unrolled: cells on diagonal d = i + j
    # depend on diagonals d-1 (left/up) and d-2 (diagonal step), so
    # each dg{d} is one filtered scan of the MATERIALIZED cost table
    # plus three small equi-joins — the same unrolled-fixpoint oracle
    # discipline as _kcore_oracle/_pagerank_oracle.
    big = 1 << 60
    steps = []
    for d in range(1, 59):
        dd_join = (
            f"""
      LEFT JOIN dg{d - 2} dd ON dd.ta = c.ta AND dd.tb = c.tb
        AND dd.i = c.i - 1 AND dd.j = c.j - 1"""
            if d >= 2
            else ""
        )
        dd_term = f"coalesce(dd.val, {big})" if d >= 2 else str(big)
        steps.append(f"""
    dg{d} AS MATERIALIZED (
      SELECT c.ta, c.tb, c.i, c.j,
             c.cost + least(coalesce(h.val, {big}),
                            coalesce(v.val, {big}),
                            {dd_term}) AS val
      FROM costs c
      LEFT JOIN dg{d - 1} h ON h.ta = c.ta AND h.tb = c.tb
        AND h.i = c.i - 1 AND h.j = c.j
      LEFT JOIN dg{d - 1} v ON v.ta = c.ta AND v.tb = c.tb
        AND v.i = c.i AND v.j = c.j - 1{dd_join}
      WHERE c.i + c.j = {d}
    )""")
    return f"""
    WITH {_DAILY_GRID_SQL},
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    costs AS MATERIALIZED (
      SELECT p.ta, p.tb, ga.day AS i, gb.day AS j,
             abs(ga.n - gb.n) AS cost
      FROM pairs p
      JOIN grid ga ON ga.event_type = p.ta
      JOIN grid gb ON gb.event_type = p.tb
    ),
    dg0 AS (SELECT ta, tb, i, j, cost AS val
            FROM costs WHERE i = 0 AND j = 0),
    {",".join(steps)}
    SELECT ta AS type_a, tb AS type_b, CAST(val AS BIGINT) AS dtw
    FROM dg58 WHERE i = 29 AND j = 29
    """




def _harmonic_oracle(hops: int) -> str:
    # per-seed BFS unrolled: each round joins the (seed, node) frontier
    # to the adjacency list and anti-joins the visited set — the
    # bfs_khop discipline with a seed tag carried through
    steps = []
    for h in range(1, hops + 1):
        steps.append(f"""
    f{h} AS MATERIALIZED (
      SELECT DISTINCT v.seed, d.dst AS node
      FROM f{h - 1} v JOIN d ON d.src = v.node
      WHERE NOT EXISTS (SELECT 1 FROM vis{h - 1} x
                        WHERE x.seed = v.seed AND x.node = d.dst)
    ),
    vis{h} AS MATERIALIZED (
      SELECT seed, node, dist FROM vis{h - 1}
      UNION ALL SELECT seed, node, {h} FROM f{h}
    )""")
    return f"""
    WITH {_COOCCUR_EDGES_SQL},
    d AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM d GROUP BY src),
    seeds AS (
      SELECT node AS seed FROM (
        SELECT node, row_number() OVER (
                 ORDER BY deg DESC, node ASC) AS r
        FROM deg
      ) WHERE r <= 8
    ),
    f0 AS (SELECT seed, seed AS node FROM seeds),
    vis0 AS (SELECT seed, seed AS node, 0 AS dist FROM seeds),
    {",".join(steps)}
    SELECT seed AS node,
           CAST(count(*) - 1 AS BIGINT) AS reached,
           round(list_reduce(
             list_sort(list(CASE WHEN dist > 0
                                 THEN 1.0 / dist ELSE 0.0 END)),
             (x, y) -> x + y), 12) AS harmonic
    FROM vis{hops} GROUP BY seed
    """




def _kcenter_oracle(k: int) -> str:
    # farthest-first traversal unrolled: step i picks the argmax of the
    # running min-d² table (ORDER BY d DESC, vec_id ASC LIMIT 1 — the
    # deterministic tie-break), then folds it into the distance table
    steps = []
    for i in range(1, k):
        steps.append(f"""
    c{i} AS MATERIALIZED (
      SELECT d.vec_id, d.d AS picked_d2
      FROM d{i - 1} d ORDER BY d.d DESC, d.vec_id ASC LIMIT 1
    ),
    d{i} AS MATERIALIZED (
      SELECT d.vec_id,
             least(d.d, q.nn + cq.nn
                   - 2 * CAST(list_sum([q.qv[j + 1] * cq.qv[j + 1]
                                        for j in range(0, 64)])
                         AS BIGINT)) AS d
      FROM d{i - 1} d
      JOIN codes q ON q.vec_id = d.vec_id
      CROSS JOIN (SELECT c.vec_id, co.qv, co.nn
                  FROM c{i} c JOIN codes co ON co.vec_id = c.vec_id) cq
    )""")
    picks = " UNION ALL ".join(
        [
            "SELECT 1 AS sel_order, (SELECT min(vec_id) FROM codes)"
            " AS vec_id, CAST(0 AS BIGINT) AS d2_when_picked"
        ]
        + [
            f"SELECT {i + 1}, vec_id, picked_d2 FROM c{i}"
            for i in range(1, k)
        ]
    )
    return f"""
    WITH codes AS MATERIALIZED (
      SELECT vec_id,
             [CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)
              for x in embedding] AS qv,
             CAST(list_sum([CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)
                            * CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)
                            for x in embedding]) AS BIGINT) AS nn
      FROM embeddings
    ),
    c0 AS (SELECT min(vec_id) AS vec_id FROM codes),
    d0 AS MATERIALIZED (
      SELECT q.vec_id,
             q.nn + cq.nn
             - 2 * CAST(list_sum([q.qv[j + 1] * cq.qv[j + 1]
                                  for j in range(0, 64)]) AS BIGINT) AS d
      FROM codes q
      CROSS JOIN (SELECT co.qv, co.nn FROM c0 c
                  JOIN codes co ON co.vec_id = c.vec_id) cq
    ),
    {",".join(steps)}
    SELECT CAST(sel_order AS BIGINT) AS sel_order, vec_id,
           d2_when_picked
    FROM ({picks})
    """




# ---------------------------------------------------------------------------
# Round-8 embedding audits sharing one device: a FIXED 100-id md5 sample
# broadcast against one corpus scan, with every pair distance an exact
# int64 on the ×256 grid (the knn-census discipline) — range search,
# triplet-margin violations, and a silhouette audit all reduce to
# map-combinable integer MIN/SUM/COUNT aggregates over that pair stream.
# ---------------------------------------------------------------------------


def _sample_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """(qid, qlab, nid, nlab, d2): the 100 smallest-md5(vec_id) sample
    vectors against the full corpus, d2 exact int64. The sample side is
    TakeOrdered + broadcast (O(100) whatever the corpus); the pair
    stream never shuffles — each downstream op aggregates it map-side."""
    emb = load(spark, sf, "embeddings")
    qz = F.expr(
        "transform(embedding,"
        " v -> cast(round(cast(v as double) * 256) as bigint))"
    )
    base = emb.select("vec_id", "label", qz.alias("qv"))
    sample = (
        base.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id"
        )
        .limit(100)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlab"),
            F.col("qv").alias("qa"),
        )
    )
    d2 = F.expr(
        "aggregate(zip_with(qa, qv, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (a, p) -> a + p)"
    )
    return (
        base.join(F.broadcast(sample), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlab",
            F.col("vec_id").alias("nid"),
            F.col("label").alias("nlab"),
            d2.alias("d2"),
        )
    )




# Literal 30-entry cos/sin tables for the period-7 Goertzel bin: both
# engines consume the SAME python-computed constants, so no cross-engine
# libm cos/sin ulp difference can enter the fold.
_G7_COS = [math.cos(2.0 * math.pi * t / 7.0) for t in range(30)]


_G7_SIN = [math.sin(2.0 * math.pi * t / 7.0) for t in range(30)]


_G7_COS_SQL = "[" + ", ".join(repr(v) for v in _G7_COS) + "]"


_G7_SIN_SQL = "[" + ", ".join(repr(v) for v in _G7_SIN) + "]"




_EMB_SAMPLE_PAIRS_SQL = """
    q AS (
      SELECT vec_id, label,
             [CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id, label, qv FROM q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100
    ),
    pairs AS (
      SELECT a.vec_id AS qid, a.label AS qlab,
             b.vec_id AS nid, b.label AS nlab,
             CAST(list_sum([(a.qv[i + 1] - b.qv[i + 1])
                            * (a.qv[i + 1] - b.qv[i + 1])
                            for i in range(0, 64)]) AS BIGINT) AS d2
      FROM qs a JOIN q b ON a.vec_id <> b.vec_id
    )
"""




def _g32_sql(table: dict[int, list[int]], k: int) -> str:
    return "[" + ", ".join(str(v) for v in table[k]) + "]"




# Rank-biased overlap weights for depths 1..50 at persistence p=0.9:
# (1-p)·p^(d-1)/d as python literals shared by both engines.
_RBO_P = 0.9


_RBO_D = 50


_RBO_W = [
    (1.0 - _RBO_P) * _RBO_P ** (d - 1) / d for d in range(1, _RBO_D + 1)
]


_RBO_W_SQL = "[" + ", ".join(repr(w) for w in _RBO_W) + "]"




def _md5_minhash_pairs_sql(n_hashes: int = 16) -> str:
    """Shared oracle CTE block: md5-permutation MinHash signatures +
    exact shingle-hash Jaccard over the doc_id % 101 == 0 pair sample.
    Yields a `pairs` relation with (matches, n_bands_hit, inter, uni)
    — all exact BIGINTs (4 bands × n/4 rows)."""
    mh_aggs = ",\n             ".join(
        f"min(CAST(concat('0x', substr(md5('{i}:' || sh), 1, 12))"
        f" AS BIGINT)) AS mh{i}"
        for i in range(n_hashes)
    )
    match_sum = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(n_hashes)
    )
    rows = n_hashes // 4
    bands = []
    for bnd in range(4):
        conj = " AND ".join(
            f"a.mh{bnd * rows + i} = b.mh{bnd * rows + i}"
            for i in range(rows)
        )
        bands.append(f"(CASE WHEN {conj} THEN 1 ELSE 0 END)")
    band_sum = " + ".join(bands)
    return f"""
    samp AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id % 101 = 0
    ),
    sh0 AS (
      SELECT doc_id,
             unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, len(t) - 1)]) AS sh
      FROM samp WHERE len(t) >= 3
    ),
    shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
    hashes AS (
      SELECT doc_id, sh,
             CAST(concat('0x', substr(md5(sh), 1, 12)) AS BIGINT) AS h
      FROM shd
    ),
    per AS (
      SELECT doc_id,
             list_sort(list(DISTINCT h)) AS hs,
             CAST(count(DISTINCT h) AS BIGINT) AS sz,
             {mh_aggs}
      FROM hashes GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({match_sum} AS BIGINT) AS matches,
             CAST({band_sum} AS BIGINT) AS n_bands_hit,
             CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
             a.sz + b.sz - len(list_intersect(a.hs, b.hs)) AS uni
      FROM per a JOIN per b ON a.doc_id < b.doc_id
    )"""




def _md5_minhash_pairs(spark: SparkSession, sf: str, n_hashes: int = 16):
    """Spark twin of :func:`_md5_minhash_pairs_sql`: returns the pair
    frame with per-permutation signature columns mh{i}_a/mh{i}_b plus
    (matches, inter, uni). The sample is fixed (doc_id % 101), so the
    all-pairs join is sample²-bounded — never corpus-scale; at 100 TB
    this audit runs on the same kind of fixed audit sample as
    emb_knn_outlier_census."""
    d = load(spark, sf, "documents").filter(F.col("doc_id") % 101 == 0)
    toks = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat(element_at(t, i), ' ',"
                " element_at(t, i + 1), ' ', element_at(t, i + 2)))"
            )
        ).alias("sh"),
    ).distinct()
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 12), 16, 10).cast("long")
    hashes = sh.select("doc_id", "sh", h.alias("h"))
    mh_aggs = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))), 1, 12
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    per = hashes.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("h")).alias("hs"),
        F.countDistinct("h").alias("sz"),
        *mh_aggs,
    )
    a = per.select(
        F.col("doc_id").alias("id_a"),
        F.col("hs").alias("hs_a"),
        F.col("sz").alias("sz_a"),
        *[F.col(f"mh{i}").alias(f"mh{i}_a") for i in range(n_hashes)],
    )
    b = per.select(
        F.col("doc_id").alias("id_b"),
        F.col("hs").alias("hs_b"),
        F.col("sz").alias("sz_b"),
        *[F.col(f"mh{i}").alias(f"mh{i}_b") for i in range(n_hashes)],
    )
    matches = None
    for i in range(n_hashes):
        t = F.when(F.col(f"mh{i}_a") == F.col(f"mh{i}_b"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("matches", matches.cast("long"))
        .withColumn("inter", inter)
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - inter)
    )




_G32_POWERS_SQL = f"""
    clip AS (
      SELECT doc_id AS media_id, doc_id % 96 + 32 AS nf
      FROM documents
    ),
    blocks AS (
      SELECT media_id, nf, unnest(range(0, 2)) AS b FROM clip
    ),
    bytes AS (
      SELECT media_id, nf, b,
             md5(CAST(media_id AS VARCHAR) || ':wav:'
                 || CAST(b AS VARCHAR)) AS hx,
             unnest(range(0, 16)) AS j
      FROM blocks
    ),
    vals AS (
      SELECT media_id, nf, b*16 + j AS gi,
             CAST({{ks_byte}} AS BIGINT) - 128 AS v
      FROM bytes WHERE b*16 + j < 32
    ),
    sums AS (
      SELECT media_id, CAST(min(nf) AS INT) AS n_frames,
             {", ".join(
                 f"CAST(sum(v * ({{cos{k}}})[gi + 1]) AS BIGINT) AS c{k}, "
                 f"CAST(sum(v * ({{sin{k}}})[gi + 1]) AS BIGINT) AS s{k}"
                 for k in (1, 2, 4, 8)
             )}
      FROM vals GROUP BY media_id
    ),
    powers AS (
      SELECT media_id, n_frames,
             {", ".join(
                 f"c{k} * c{k} + s{k} * s{k} AS p{k}" for k in (1, 2, 4, 8)
             )}
      FROM sums
    )"""




def _g32_powers_sql() -> str:
    return _G32_POWERS_SQL.format(
        ks_byte=_PNG_KS_BYTE,
        **{f"cos{k}": _g32_sql(mm_mod.G32_COS_Q, k) for k in (1, 2, 4, 8)},
        **{f"sin{k}": _g32_sql(mm_mod.G32_SIN_Q, k) for k in (1, 2, 4, 8)},
    )




_KMC_CENTROIDS = sim.md5_centroids(16, 64, tag="kmc")



_KMC_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (
  {" UNION ALL ".join(
      f"SELECT {j} AS cell, "
      f"[{', '.join(repr(x) for x in _KMC_CENTROIDS[j])}]::DOUBLE[] AS cv"
      for j in range(16)
  )}
),
scored AS (
  SELECT e.vec_id, c.cell, list_dot_product(e.v, c.cv) AS dot
  FROM e CROSS JOIN c
),
win AS (
  SELECT vec_id, cell, dot,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dot DESC, cell ASC) AS rn
  FROM scored
)
SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CAST(round(dot * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_dot_micros
FROM win WHERE rn = 1 GROUP BY cell
"""


__all__ = sorted(n for n in dir() if not n.startswith("__"))

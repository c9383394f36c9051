#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

    python bench.py                 # every headline query, one JVM each
    python bench.py --one NAME      # one query in this process

The headline set is ``HEADLINE_BENCH`` plus ``SPECIAL_BUILDERS`` (the
production scale paths that the catalog's oracle-parity twins do not
exercise). Each query runs in its OWN
subprocess — a fresh JVM, code cache and heap — because a shared session
showed +15-89% drift on queries whose code had not changed (GC and
codegen-cache pressure from neighbours), even with per-query
``System.gc()`` and an untimed warm-up. A subprocess that outlives 180 s
is killed with its whole process group and counted as failed.

``bench.py`` writes the per-query map to ``BENCH_DETAIL.json`` next to
this file (rewritten after every query) and prints one JSON line:
``{"metric": "headline_queries_total", "value": <sum of seconds>,
"unit": "sec", "sf": ..., "n_run": ..., "n_fail": ...}``.

Each query is materialized with the no-op sink (full execution, no
driver collect). Scale-sensitive picks: the similarity headliners are
the bucketed ANN paths (hyperplane LSH and IVF — per-bucket/per-cell
equi-joins, no driver round-trip) plus the cogrouped blocked-BLAS
exact path; no headline plan contains a driver collect (the
≤10⁶-vector brute_topk_matmul mid-tier is a documented utility, not a
headliner); jaccard caps hot-shingle fan-out via max_df.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The fixed headline comparator: the SURVEY §2 anchors, every family's
# heaviest measured op, and every query that ever benched >1 s at sf0.1.
# SPECIAL_BUILDERS join it automatically.
HEADLINE_BENCH = [
    # §2 anchors / star pipeline
    "flagship_top_reported",
    "olap_q1_pricing_summary",
    "star_upsert_fact",
    "a2_unique_key_dedup",
    "j4_nullsafe_fk_join",
    "f1_f2_ts_bounds",
    "s4_json_serialize",
    "f4_equality_lookup",
    "j5_fanout_join",
    # dedup family
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_containment_pairs",
    "dedup_exact_substring",
    "dedup_substring_trim",
    "dedup_semantic_semdedup",
    # text family
    "text_stats",
    "text_bpe_train_merges",
    "topk_heavy_tokens",
    "text_bm25_topk",
    "text_boilerplate_removal",
    "text_intradoc_dedup",
    "text_bigram_lm_score",
    "text_perplexity_buckets",
    "text_pmi_cooccurrence",
    "text_burrows_delta",
    "text_word_burstiness",
    # similarity / embeddings
    "sim_ivfpq_topk",
    "emb_knn_outlier_census",
    "emb_knn_label_accuracy",
    "emb_pair_distance_histogram",
    "emb_hard_negative_mining",
    # multimodal decode paths
    "multimodal_png_pixel_stats",
    "multimodal_jpeg_pixel_stats",
    # joins / OLAP / MV
    "join_interval_overlap",
    "mv_incremental_update",
    # graph family
    "graph_triangle_count",
    "graph_adamic_adar",
    "graph_clustering_global",
    "graph_closeness_topk",
    "graph_hits_scores",
    "graph_butterfly_support",
    "graph_preferential_attachment",
    # stats / curation heavies
    "stats_permutation_test",
    "stats_levene_brownforsythe",
    "curation_coreset_kcenter",
    "curation_epoch_shuffle",
]


def _catalog_thunk(name: str) -> Callable[[SparkSession], DataFrame]:
    def build(spark: SparkSession) -> DataFrame:
        from report_worker_spark.plans import QUERIES

        return QUERIES[name](spark, SF_DIR)

    return build


def _wire_100k(spark: SparkSession) -> DataFrame:
    """End-to-end wire ingest (the reference's actual workload: its
    design envelope is ~17 msg/s sustained, BASELINE.md)."""
    from pyspark.sql import functions as F

    from report_worker_spark.plans.tables import load
    from report_worker_spark.sources import kafka as ksrc
    from report_worker_spark.sources.synthetic import generate_report_json
    from report_worker_spark.streaming.pipeline import wire_to_staging

    raw = generate_report_json(spark, n=100_000, seed=42)
    players = (
        load(spark, SF_DIR, "customer")
        .select(
            F.concat(F.lit("player"), (F.col("c_custkey") % 300)).alias("name"),
            (F.col("c_custkey") % 300).alias("id"),
        )
        .dropDuplicates(["name"])
    )
    return wire_to_staging(ksrc.valid_messages(ksrc.parse_wire(raw)), players)


def _jaccard_capped(spark: SparkSession) -> DataFrame:
    from report_worker_spark.functions import dedup as dd
    from report_worker_spark.plans.tables import load

    docs = load(spark, SF_DIR, "documents")
    return dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_df=500)


def _sim(builder: str, **kw) -> Callable[[SparkSession], DataFrame]:
    def build(spark: SparkSession) -> DataFrame:
        from report_worker_spark.functions import similarity as sim
        from report_worker_spark.plans.tables import load

        emb = load(spark, SF_DIR, "embeddings")
        return getattr(sim, builder)(emb, **kw)

    return build


def _pagerank_sum(spark: SparkSession) -> DataFrame:
    """Graph scale path: map-side-combinable SUM PageRank (the catalog
    twin runs the bit-reproducible fold mode for parity)."""
    from report_worker_spark.functions import graph as gr
    from report_worker_spark.plans.catalog import _cooccur_edges

    edges = gr.undirected_edges(_cooccur_edges(spark, SF_DIR))
    return gr.pagerank(edges, iterations=3, deterministic=False)


def _ppr_sum(spark: SparkSession) -> DataFrame:
    """Personalized-PageRank scale path: map-side-combinable SUM mode
    (the catalog twin runs the bit-reproducible fold mode for
    parity) — same precedent as graph_pagerank_sum."""
    from pyspark.sql import functions as F

    from report_worker_spark.functions import graph as gr
    from report_worker_spark.plans.catalog import _cooccur_edges

    edges = gr.undirected_edges(_cooccur_edges(spark, SF_DIR))
    seeds = gr.degrees(edges).select("node").filter(F.col("node") % 97 == 0)
    return gr.personalized_pagerank(
        edges, seeds, iterations=3, deterministic=False
    )


def _star_hash(spark: SparkSession) -> DataFrame:
    """The production star-upsert path (hash surrogate keys, no global
    sort) — the rank-mode catalog query exists for oracle parity, this
    is what a deployment runs."""
    from pyspark.sql import functions as F

    from report_worker_spark import star
    from report_worker_spark.plans.catalog import _star_staging
    from report_worker_spark.schemas import EQUIPMENT_SLOTS

    staging = _star_staging(spark, SF_DIR)
    for slot in EQUIPMENT_SLOTS:
        if slot not in staging.columns:
            staging = staging.withColumn(slot, F.lit(None).cast("int"))
    deltas = star.upsert_star(staging)
    return deltas["fact"].select("sighting_id", "location_id", "region_id")


# The scale paths that are always headline. Three are plain catalog
# queries; three replace the catalog's parity-sized similarity queries of
# the same name with their bucketed production settings.
SPECIAL_BUILDERS: dict[str, Callable[[SparkSession], DataFrame]] = {
    "dedup_ngram_jaccard_capped": _jaccard_capped,
    "wire_pipeline_100k_msgs": _wire_100k,
    "tfidf_top_terms": _catalog_thunk("tfidf_top_terms"),
    "join_asof": _catalog_thunk("join_asof"),
    "join_bigbig_revenue": _catalog_thunk("join_bigbig_revenue"),
    # ANN headliners: the 100 TB paths (bucketed equi-joins)
    "sim_lsh_topk": _sim("lsh_topk", k=5, n_planes=6, n_tables=6, dim=64),
    "sim_ivf_topk": _sim("ivf_topk", k=5, n_centroids=64, n_probe=8),
    "sim_lsh_near_dup": _sim(
        "lsh_near_dup_pairs", threshold=0.99, n_planes=8, n_tables=12, dim=64
    ),
    # exact-at-scale: Q×B cogrouped BLAS tiles, no driver round-trip
    "sim_topk_matmul_blocked": _sim(
        "blocked_topk_matmul", k=5, n_blocks=4, n_query_groups=4
    ),
    "star_upsert_hash_mode": _star_hash,
    "graph_pagerank_sum": _pagerank_sum,
    # graph_ppr_sum is the bench proxy for the catalog's
    # graph_personalized_pagerank: both run
    # graph.personalized_pagerank's seeded power-iteration core
    # (this row in map-combinable SUM mode, the catalog twin in
    # deterministic fold mode for oracle parity); the catalog
    # query only adds the top-20 tail, so this row prices it
    "graph_ppr_sum": _ppr_sum,
}


def bench_builders() -> dict[str, Callable[[SparkSession], DataFrame]]:
    """name -> builder for every catalog query, special builders on top."""
    from report_worker_spark.plans import QUERIES

    builders = {name: _catalog_thunk(name) for name in QUERIES}
    builders.update(SPECIAL_BUILDERS)
    return builders


def headline_names() -> list[str]:
    return list(dict.fromkeys(HEADLINE_BENCH + list(SPECIAL_BUILDERS)))


def materialize(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_one(name: str) -> float:
    """Fresh-session measurement of one query.

    In a cold JVM the first two executions still pay janino compilation
    and interpreted-bytecode time (measured: join_asof 3.4/1.4/0.93/
    0.97/0.98 s across runs 1-5); steady state — the honest number for
    a long-lived cluster — arrives by run 3. So: up to 7 runs, report
    the min of runs 3+ (two identical 5-run benches still disagreed
    >10% on 17/37 queries, so the extra samples buy stability), with an
    18 s cap on the post-warm-up runs so multi-second queries stop at
    ~3-5 runs-worth of evidence, and sub-2 s queries stop at 5 runs."""
    from report_worker_spark.plans.tables import load
    from report_worker_spark.session import get_spark

    spark = get_spark(f"rws-bench-{name}")
    # Warm the JVM/IO path once so the query numbers measure the plan.
    load(spark, SF_DIR, "lineitem").count()
    build = bench_builders()[name]
    times = []
    for i in range(7):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        materialize(build(spark))
        times.append(time.perf_counter() - t0)
        # the cap bounds evidence time, not warm-up: run 1 pays janino
        # compile + interpreted bytecode for the whole plan (measured
        # 12.6 s vs 2.2 s steady for wire_pipeline_100k_msgs), and
        # counting it stopped heavy queries before steady state, with a
        # 2x fresh-JVM spread (3.1-6.2 s across identical solo runs)
        if i >= 2 and sum(times[1:]) > 18:
            break
        # fast queries: warm-up + 4 runs; the min still sees 3 steady
        # samples (times[2:])
        if i >= 4 and max(times[1:]) < 2.0:
            break
    warm = times[2:] if len(times) > 3 else times[1:]
    return round(min(warm), 3)


def _run_subprocess(name: str) -> float | None:
    """One fresh-JVM measurement of ``name`` (see run_one for what the
    subprocess itself measures); None if it failed or timed out."""
    # start_new_session puts the child in its own process group so a
    # timeout can killpg the WHOLE tree — the Spark JVM is a grandchild,
    # and killing only the direct Python child leaves an orphan JVM
    # stealing cores from later bench runs.
    with subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--one", name],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    ) as popen:
        try:
            out, err = popen.communicate(timeout=180)
        except BaseException as exc:  # timeout or interrupt: no orphan JVM
            try:
                os.killpg(popen.pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                popen.kill()
            popen.communicate()
            if isinstance(exc, subprocess.TimeoutExpired):
                print(f"bench: {name} TIMED OUT at 180 s", file=sys.stderr)
                return None
            raise
    lines = out.strip().splitlines()
    try:
        return json.loads(lines[-1])["sec"]
    except (IndexError, json.JSONDecodeError, KeyError):
        print(
            f"bench: {name} FAILED rc={popen.returncode}\n" + err[-2000:],
            file=sys.stderr,
        )
        return None


def _detail_payload(timings: dict[str, float | None]) -> dict:
    ok = [v for v in timings.values() if v is not None]
    return {
        "metric": "headline_queries_total",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "n_run": len(ok),
        "n_fail": len(timings) - len(ok),
        "headline": timings,
    }


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)


def main() -> None:
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    timings: dict[str, float | None] = {}
    for name in headline_names():
        timings[name] = _run_subprocess(name)
        detail = _detail_payload(timings)
        _atomic_write_json(path, detail)
    line = {k: v for k, v in detail.items() if k != "headline"}
    print(json.dumps({**line, "detail": "BENCH_DETAIL.json"}), flush=True)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--one":
        print(json.dumps({"query": sys.argv[2], "sec": run_one(sys.argv[2])}))
    else:
        main()

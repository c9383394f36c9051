"""bench.py derives its builder map from the catalog; this keeps that map
covering every catalog query and every headline name. No Spark session
is needed: builders are thunks until they are called."""

from __future__ import annotations

import bench
from report_worker_spark.plans import QUERIES


def test_bench_builders_cover_catalog_and_headline():
    builders = bench.bench_builders()
    missing = [n for n in [*QUERIES, *bench.headline_names()] if n not in builders]
    assert not missing, f"bench names without builders: {missing}"

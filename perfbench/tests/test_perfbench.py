"""Self-tests of the benchmark: each checker accepts the real output and
rejects a deliberately damaged one, and each workload completes at a
tiny size. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, run
from perfbench.measure import now, tail
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("perfbench") / "work")
    run._environment(path)
    yield path
    run._stop_jvm()


@pytest.fixture(scope="module")
def trickle(work):
    from perfbench import workloads

    return workloads.run_trickle(
        os.path.join(work, "trickle"), seed=7, seconds=0.1, trace=True,
        proc_start=now(), msgs_per_file=300,
    )


@pytest.fixture(scope="module")
def catalog(work):
    from perfbench import workloads

    return workloads.run_catalog(
        os.path.join(work, "catalog"), seed=7, seconds=0.1, trace=True,
        proc_start=now(),
        table_sizes={"n_docs": 120, "n_events": 1500, "n_users": 40},
    )


def test_trickle_completes_and_checks(trickle):
    assert trickle.problems == [] and trickle.failed == 0
    assert len(trickle.latencies) >= 1 and trickle.setup_s > 0
    assert trickle.layers["streaming.pipeline.write_fact_s"] > 0
    assert trickle.layers["spark.jobs_per_epoch"] > 0
    assert trickle.layers["streaming.dimstore.new_rows"] > 0  # first-seen names every epoch


def test_catalog_completes_and_checks(catalog):
    assert catalog.problems == [] and catalog.failed == 0
    assert catalog.work_s > 0
    assert catalog.layers["plans.dedup_minhash_lsh.jobs"] > 0


def test_trace_keeps_the_tracers_work_apart(trickle):
    spans = trickle.tracer.spans

    def ancestors(rec):
        while rec["parent"] is not None:
            rec = spans[rec["parent"]]
            yield rec["name"]

    reads = [s for s in spans if s["name"] == "streaming.dimstore.read"]
    assert reads  # the CLI's re-read after get_or_insert
    assert all("streaming.dimstore.get_or_insert" not in ancestors(s) for s in reads)
    # the materializing counts run under their own job group
    assert all(s["bench_jobs"] > 0 for s in reads)
    assert all(s["bench_jobs"] == 0 for s in spans if s["name"] == "sources.kafka.parse")


def _copy_out(trickle, tmp_path) -> str:
    out = str(tmp_path / "out")
    shutil.copytree(trickle.outputs["out"], out)
    for crc in glob.glob(os.path.join(out, "**", ".*.crc"), recursive=True):
        os.remove(crc)
    return out


def _rewrite_first(pattern: str, edit) -> None:
    path = sorted(glob.glob(pattern, recursive=True))[0]
    table = pq.read_table(path, partitioning=None)
    pq.write_table(edit(table), path)


def test_ingest_check_rejects_dropped_fact_row(trickle, tmp_path):
    out = _copy_out(trickle, tmp_path)
    files = trickle.outputs["epoch_files"]
    assert checks.check_ingest(out, files) == []
    _rewrite_first(os.path.join(out, "fact", "**", "*.parquet"), lambda t: t.slice(1))
    problems = checks.check_ingest(out, files)
    assert any(p.startswith("fact keys: 1 missing") for p in problems), problems


def test_ingest_check_rejects_altered_dlq_body(trickle, tmp_path):
    out = _copy_out(trickle, tmp_path)
    files = trickle.outputs["epoch_files"]

    def alter(t):
        values = t.column("value").to_pylist()
        values[0] = values[0].replace('"raw_value":"', '"raw_value":"x', 1)
        return t.set_column(0, "value", pa.array(values, pa.string()))

    _rewrite_first(os.path.join(out, "dlq", "*.parquet"), alter)
    problems = checks.check_ingest(out, files)
    assert any(p.startswith("dlq: 1 missing") for p in problems), problems
    assert any(p.startswith("dlq: 1 unexpected") for p in problems), problems


def test_catalog_check_rejects_changed_oracle_row(catalog):
    for name, (spark_pdf, oracle_pdf) in catalog.outputs.items():
        assert checks.check_query(name, spark_pdf, oracle_pdf) == []
        changed = oracle_pdf.copy()
        col = changed.columns[0]
        changed[col] = changed[col].astype(object)
        changed.loc[changed.index[0], col] = "changed"
        assert checks.check_query(name, spark_pdf, changed), name
        assert checks.check_query(name, spark_pdf.iloc[:0], oracle_pdf.iloc[:0])


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 21)]  # 20 samples: p50 has 10 above it
    assert tail(xs) == (10.0, 50.0, 20)


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 5.0},
    ]
    t.self_times()
    assert [s["self_s"] for s in t.spans] == [6.0, 3.0, 2.0]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

"""Same seed, same schedule, same deterministic counters: two runs of
each benchmarked workload, capped at the same number of operations,
on one Spark session. Takes a few minutes; skip it with
``-k "not determinism"``."""

from __future__ import annotations

import os

import pytest

from perfbench import harness, lake_churn, text_dedup
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
CPUS = 4


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    work = str(tmp_path_factory.mktemp("determinism"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    session = harness.start_session(work, CPUS)
    yield session
    session.stop()


def run_once(spark, tmp_path, workload, seed: int, max_ops: int, trace: bool):
    run = harness.Run(seed=seed, seconds=1e9, work=str(tmp_path), tracer=Tracer(trace),
                      max_ops=max_ops, spark=spark)
    layer = workload.main(run)
    assert run.failed == 0, run.errors
    return run.order, layer


def test_lake_churn_determinism(spark, tmp_path):
    keys = ("catalog.snapshots", "catalog.data_files_per_commit")
    a_ops, a = run_once(spark, tmp_path / "a", lake_churn, 7, 9, False)
    b_ops, b = run_once(spark, tmp_path / "b", lake_churn, 7, 9, False)
    assert a_ops == b_ops
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
    # position-delete files store data-file paths, which hold random
    # UUIDs whose compressed size varies by a byte or two
    assert a["catalog.table_bytes_per_row"] == pytest.approx(b["catalog.table_bytes_per_row"],
                                                             rel=1e-4)


def test_text_dedup_determinism(spark, tmp_path):
    one_pass = len(text_dedup.OPS)
    a_ops, a = run_once(spark, tmp_path / "a", text_dedup, 7, one_pass, True)
    b_ops, b = run_once(spark, tmp_path / "b", text_dedup, 7, one_pass, True)
    c_ops, _ = run_once(spark, tmp_path / "c", text_dedup, 8, one_pass, True)
    assert a_ops == b_ops and a_ops != c_ops
    assert a["operators.exchanges"] == b["operators.exchanges"] > 0

"""BENCHMARK.json against the metric table, and the seeded schedules.
No Spark needed."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import inputs, lake_churn, metrics, run, text_dedup
from perfbench.queries import pass_order

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    assert 1 <= len(metrics.END_TO_END) <= 16
    assert 1 <= len(metrics.PER_LAYER) <= 128
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.valid_name(name), name
    for unit, *_ in list(metrics.END_TO_END.values()) + list(metrics.PER_LAYER.values()):
        assert metrics.valid_unit(unit), unit


@pytest.mark.parametrize("bad", ["", "_x", "a b", "a/b", "x" * 65, "café"])
def test_bad_names_are_rejected(bad):
    assert not metrics.valid_name(bad)


def test_benchmark_json_matches_the_metric_table(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    per = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert per == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])


def test_benchmark_json_limits(bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert metrics.END_TO_END["setup_s"][:2] == ("s", "lower")
    assert 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in run.WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for _, _, _, workloads in metrics.PER_LAYER.values():
        assert set(workloads) <= set(run.WORKLOADS)
    # every workload listed has at least one per-layer metric of its own
    listed = {w["name"] for w in bench["workloads"]}
    for w in listed:
        assert any(w in v[3] and len(v[3]) == 1 for v in metrics.PER_LAYER.values()), w
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024


def test_every_mapped_metric_exists():
    known = set(metrics.END_TO_END) | set(metrics.PER_LAYER)
    for name, (_, _, moves, _) in metrics.PER_LAYER.items():
        assert moves in known, (name, moves)


def test_lake_schedule_is_seeded():
    a, b = lake_churn.schedule(5, 6), lake_churn.schedule(5, 6)
    assert a == b
    c = lake_churn.schedule(6, 6)
    assert c != a
    # the mix of kinds is the same for every seed; the parameters differ
    assert [k for k, _ in a] == [k for k, _ in c]
    assert sum(k == "drain" for k, _ in a) == 6 * 4 // lake_churn.DRAIN_EVERY


def test_text_pass_order_is_seeded():
    ops = text_dedup.OPS
    assert pass_order(3, ops, 0) == pass_order(3, ops, 0)
    assert sorted(pass_order(3, ops, 1)) == sorted(ops)
    assert [pass_order(3, ops, p) for p in range(3)] != [pass_order(4, ops, p) for p in range(3)]


def test_inputs_are_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        inputs.write_tables(str(tmp_path / name), seed, 0.001)
    for table in inputs.TABLES:
        a, b, c = (pq.read_table(tmp_path / d / f"{table}.parquet") for d in "abc")
        assert a.equals(b) and not a.equals(c), table


def test_age_slowdown_compares_each_commit_kind_with_itself():
    # a slow kind committed last must not read as history slowing down
    assert lake_churn.age_slowdown({"append": [1.0], "delete": [9.0]}) is None
    assert lake_churn.age_slowdown({"append": [1.0, 2.0], "overwrite": [9.0]}) == 2.0
    ratio = lake_churn.age_slowdown({"append": [1.0, 4.0], "delete": [2.0, 2.0, 2.0]})
    assert ratio == pytest.approx(2.0)  # geometric mean of 4 and 1

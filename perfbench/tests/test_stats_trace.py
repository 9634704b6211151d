"""The benchmark's own arithmetic: tails, span self times, operation
accounting. No Spark needed: ``python -m pytest perfbench/tests``."""

from __future__ import annotations

import sys
import time
import types

import pytest

from perfbench import harness
from perfbench.stats import kind_geomean, summarize, tail
from perfbench.trace import Span, Tracer, covered, layer_self_times, patch_module_functions, self_times


@pytest.mark.parametrize("n, rank, beyond", [
    (1, 0, 0), (2, 1, 0), (11, 5, 5), (21, 10, 10), (22, 11, 10),
    (40, 29, 10), (100, 89, 10),
])
def test_tail_is_highest_rank_with_ten_beyond_never_below_median(n, rank, beyond):
    samples = [float(i) for i in range(n)][::-1]  # order must not matter
    assert tail(samples) == (float(rank), beyond)


def test_summarize_scales_and_counts():
    s = summarize([0.001 * i for i in range(1, 41)], 1000.0)
    assert s["n"] == 40 and s["tail_beyond"] == 10
    assert s["p50"] == pytest.approx(20.5)
    assert s["tail"] == pytest.approx(30.0)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


def span(i, start, end, parent=None, layer="x"):
    return Span(i, f"s{i}", layer, start, end, parent, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        span(0, 0.0, 10.0, layer="bench"),
        span(1, 1.0, 5.0, parent=0, layer="operators.build"),
        span(2, 2.0, 3.0, parent=1, layer="sources.load_table"),
        span(3, 5.0, 9.0, parent=0, layer="operators.exec"),
        span(4, 5.5, 7.0, parent=3, layer="sources.load_table"),
        span(5, 6.0, 8.0, parent=3, layer="sources.load_table"),  # overlaps span 4
    ]
    st = self_times(spans)
    assert st == {0: 2.0, 1: 3.0, 2: 1.0, 3: 1.5, 4: 1.5, 5: 2.0}
    layers = layer_self_times(spans)
    assert layers == {"bench": 2.0, "operators.build": 3.0, "operators.exec": 1.5,
                      "sources.load_table": 4.5}
    # self times add up to the root span, plus what overlapping siblings share
    assert sum(layers.values()) == pytest.approx(spans[0].duration + 1.0)


def test_tracer_records_parents_and_op_ids():
    clock = iter(range(100)).__next__
    tr = Tracer(enabled=True, clock=lambda: float(clock()))
    with tr.span("a", "bench", new_op=True):
        with tr.span("b", "operators.build"):
            pass
    with tr.span("c", "bench", new_op=True):
        pass
    a, b, c = tr.spans
    assert (a.parent, b.parent, c.parent) == (None, a.span_id, None)
    assert (a.op, b.op, c.op) == (0, 0, 1)
    assert (a.start, b.start, b.end, a.end) == (0.0, 1.0, 2.0, 3.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("a", "bench", new_op=True):
        pass
    assert tr.spans == []


def test_patch_reaches_from_imports_and_restores(monkeypatch):
    def loader(x):
        return x + 1

    pkg = types.ModuleType("fakepkg")
    sub = types.ModuleType("fakepkg.sub")
    pkg.loader, sub.loader = loader, loader
    other = types.ModuleType("otherpkg")
    other.loader = loader
    for m in (pkg, sub, other):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    tr = Tracer(enabled=True)
    restore = patch_module_functions(tr, "fakepkg", loader, "load", "sources.load_table")
    assert sub.loader(1) == 2 and other.loader is loader
    assert [s.layer for s in tr.spans] == ["sources.load_table"]
    restore()
    assert pkg.loader is loader and sub.loader is loader


def make_run(**kw):
    kw.setdefault("tracer", Tracer(False))
    return harness.Run(seed=1, seconds=60.0, work="/nonexistent", **kw)


def test_raised_operation_counts_as_failed_not_skipped():
    run = make_run()

    def boom():
        raise RuntimeError("lost commit")

    assert run.op("append", "append", boom) == (False, None)
    assert run.op("append", "append", lambda: 7) == (True, 7)
    assert (run.attempted, run.failed) == (2, 1)
    assert len(run.latencies["append"]) == 1
    assert "lost commit" in run.errors[0]


def test_wrong_output_counts_as_failed():
    run = make_run()
    run.op("scan", "scan", lambda: 3)
    run.check(True, "fine")
    run.check(False, "3 rows, model 4")
    assert (run.attempted, run.failed) == (1, 1)


def test_traced_operations_are_root_spans_with_their_own_ids():
    run = make_run(tracer=Tracer(True))

    def body():
        with run.tracer.span("scan", "catalog.scan_plan"):
            return 1

    run.op("lookup", "lookup", body)
    run.op("lookup", "lookup", body)
    roots = [s for s in run.tracer.spans if s.parent is None]
    assert [s.op for s in roots] == [0, 1] and run.order == ["lookup", "lookup"]
    assert all(s.op == run.tracer.spans[s.parent].op
               for s in run.tracer.spans if s.parent is not None)


def test_max_ops_stops_the_loop():
    run = make_run(max_ops=2)
    t0 = time.perf_counter()
    assert run.more(t0)
    run.op("a", "a", lambda: None)
    run.op("a", "a", lambda: None)
    assert not run.more(t0)


def test_kind_geomean_weighs_each_kind_once():
    assert kind_geomean({"a": [0.01], "b": [1.0]}) == pytest.approx(0.1)
    # a third run of "a" does not pull the figure towards "a"
    assert kind_geomean({"a": [0.01] * 3, "b": [1.0]}) == pytest.approx(0.1)
    assert kind_geomean({"a": [0.01, 0.04], "b": [1.0], "c": []}) == pytest.approx(
        (0.02 * 1.0) ** 0.5)
    with pytest.raises(ValueError):
        kind_geomean({"a": []})

"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import types

import numpy as np
import pytest

import harness
from harness import Span, Tracer, self_time_by_layer, self_times, tail_percentile

CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- spans ----------------------------------------------------------------------

def test_self_time_subtracts_children_and_attributes_to_parent_layer():
    spans = [
        Span(1, "op.searchsimilar", "bench", 0.0, 10.0, None, 7),
        Span(2, "engine.searchsimilar", "engine", 1.0, 7.0, 1, 7),
        Span(3, "catalog.read", "catalog", 2.0, 4.0, 2, 7),
        Span(4, "catalog.live_index", "catalog", 3.5, 5.0, 2, 7),  # overlaps span 3
        Span(5, "spark.collect", "spark", 7.0, 9.5, 1, 7),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 6.0 - 2.5)
    assert own[2] == pytest.approx(6.0 - 3.0)  # union of [2,4] and [3.5,5]
    assert own[3] == pytest.approx(2.0)
    assert own[5] == pytest.approx(2.5)
    layers = self_time_by_layer(spans)
    assert layers == pytest.approx(
        {"bench": 1.5, "engine": 3.0, "catalog": 3.5, "spark": 2.5})
    # Overlapping siblings (two threads) each keep their own self time,
    # so layer totals may exceed the root's wall by the overlap.
    assert sum(layers.values()) == pytest.approx(10.0 + 0.5)


def test_tracer_records_parent_and_op_id_and_is_free_when_off():
    tr = Tracer(enabled=True)
    with tr.op(3, "op.x"):
        with tr.span("engine.x", "engine"):
            with tr.span("catalog.read", "catalog"):
                pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["catalog.read"].parent == by_name["engine.x"].span_id
    assert by_name["engine.x"].parent == by_name["op.x"].span_id
    assert by_name["op.x"].parent is None
    assert {s.op_id for s in tr.spans} == {3}
    with tr.span("after", "catalog"):
        pass
    assert tr.spans[-1].op_id is None
    off = Tracer(enabled=False)
    with off.op(1, "op.x"), off.span("engine.x", "engine"):
        off.count("n", 1)
    assert off.spans == [] and not off.counters


def test_wrap_records_spans_for_module_functions_and_static_methods():
    mod = types.ModuleType("fakepkg.mod")
    mod.f = lambda x: x + 1

    class C:
        @staticmethod
        def s(x):
            return x * 2

        def m(self, x):
            return x - 1

    tr = Tracer(enabled=True)
    seen = []
    harness.wrap(tr, mod, "f", "mod.f", "layer", lambda a, kw, r: seen.append(r))
    harness.wrap(tr, C, "s", "C.s", "layer")
    harness.wrap(tr, C, "m", "C.m", "layer")
    assert (mod.f(1), C.s(2), C().m(3), C.s.__name__) == (2, 4, 2, "s")
    assert [s.name for s in tr.spans] == ["mod.f", "C.s", "C.m"]
    assert seen == [2]


# -- the tail rule -------------------------------------------------------------

def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    value, pct, n = tail_percentile(list(range(11)))
    assert (value, n) == (0, 11) and pct == pytest.approx(100 / 11)
    value, pct, n = tail_percentile(list(range(100, 0, -1)))
    assert (value, pct, n) == (90, 90.0, 100)
    samples = list(range(20))
    value, pct, _ = tail_percentile(samples)
    assert pct == 50.0 and sum(1 for s in samples if s > value) == 10


def test_repeated_setup_returns_last_result_and_median_seconds(monkeypatch):
    clock = iter([0.0, 5.0, 10.0, 11.0, 20.0, 23.0])
    cpu = iter([0.0, 2.0, 2.0, 9.0, 9.0, 10.0])
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))
    monkeypatch.setattr(harness, "tree_cpu_s", lambda: next(cpu))
    out, cpu_s, wall_s = harness.repeated_setup(lambda i: f"dir{i}", times=3)
    assert (out, cpu_s, wall_s) == ("dir2", 2.0, 3.0)


def test_round_issues_the_pinned_read_mix():
    import ingest_mutate as im

    assert im.COMMIT_VERBS == ("insert", "update", "delete")
    kinds = [kind for _verb, reads in im.ROUND for kind in reads]
    assert len(kinds) == 5
    assert (kinds.count("searchsimilar"), kinds.count("searchsimilar_where"),
            kinds.count("search")) == (3, 1, 1)


# -- output checks catch corrupted results --------------------------------------

def _model():
    import ingest_mutate as im

    rng = np.random.default_rng(0)
    vectors, labels = im.make_vectors(rng, 500)
    live = np.ones(len(vectors), dtype=bool)
    return im.Model(vectors=vectors, labels=labels, live=live,
                    payload=[im.payload_for(i, int(lb)) for i, lb in enumerate(labels)])


def _exact_rows(model, query, k=10):
    d = np.linalg.norm(model.vectors.astype(np.float64) - query, axis=1)
    ids = np.argsort(d, kind="stable")[:k]
    return [{"id": int(i), "dist": float(d[i])} for i in ids]


def test_similar_check_accepts_exact_and_rejects_corruption():
    import ingest_mutate as im

    model = _model()
    query = model.vectors[7].astype(np.float64) + 0.01
    rows = _exact_rows(model, query)
    assert im.check_similar(model, rows, query, None) == (True, 1.0)
    bad_dist = [dict(r) for r in rows]
    bad_dist[3]["dist"] += 0.05
    assert im.check_similar(model, bad_dist, query, None)[0] is False
    assert im.check_similar(model, rows[:9], query, None)[0] is False
    # A prefiltered search: every row of the label, and no fewer than k.
    label = int(model.labels[rows[0]["id"]])
    d = np.linalg.norm(model.vectors.astype(np.float64) - query, axis=1)
    same = np.flatnonzero(model.labels == label)
    same = same[np.argsort(d[same], kind="stable")][:10]
    filtered = [{"id": int(i), "dist": float(d[i])} for i in same]
    assert im.check_similar(model, filtered, query, label)[0] is True
    assert im.check_similar(model, filtered[:-1], query, label)[0] is False
    model.live[rows[0]["id"]] = False  # a deleted row came back
    assert im.check_similar(model, rows, query, None)[0] is False


def test_search_and_final_checks_reject_corruption():
    import pandas as pd

    import ingest_mutate as im

    model = _model()
    label = int(model.labels[10])
    want = [{"id": i} for i in range(0, 200) if model.labels[i] == label]
    assert im.check_search(model, want, 0, 199, label)
    assert not im.check_search(model, want[1:], 0, 199, label)
    assert not im.check_search(model, want + want[:1], 0, 199, label)
    frame = pd.DataFrame({"id": np.arange(500), "payload": model.payload})
    assert im.check_final(model, frame)
    corrupt = frame.copy()
    corrupt.loc[5, "payload"] = "lab0 doc5 u"
    assert not im.check_final(model, corrupt)
    assert not im.check_final(model, frame.iloc[1:])


def test_query_digest_is_order_insensitive_and_value_sensitive():
    import analytics_suite as an

    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    cols = ["k", "s", "v"]
    assert an.digest(rows, cols) == an.digest(list(reversed(rows)), cols)
    assert an.digest(rows, cols) != an.digest([(1, "a", 0.5), (2, "b", 1.26)], cols)


# -- the metric sets match BENCHMARK.json ----------------------------------------

def test_benchmark_json_lists_the_metrics_the_runs_report():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.per_layer_units()
    reported = harness.complete_per_layer({})
    assert list(reported) == list(harness.per_layer_units())
    with pytest.raises(KeyError):
        harness.complete_per_layer({"not.a.metric": harness.metric(1, "s")})

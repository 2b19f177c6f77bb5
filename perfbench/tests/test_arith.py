"""Self-consistency of the benchmark's own arithmetic: percentiles and
the tail rule, error-rate counting, the result hash, span self time and
the per-layer derivations, plus the plan shapes the workloads promise."""

import datetime as dt
import decimal
import hashlib
import itertools
import json
import os

import pytest

import datagen
import layers
import stats
import tracing
import workloads as wl

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- percentiles -----------------------------------------------------------


def test_percentile_interpolates_linearly():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile([5.0], 90) == 5.0
    assert stats.percentile(list(range(101)), 90) == 90.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, tail",
    [(1, None), (99, None), (100, 90), (999, 90), (1000, 99), (5000, 99)],
)
def test_tail_needs_ten_samples_beyond_it(n, tail):
    got = stats.tail_percentile([float(i) for i in range(n)])
    assert (got[0] if got else None) == tail
    if got:
        beyond = sum(1 for i in range(n) if i > got[1])
        assert beyond >= 10


def test_summarize_reports_p90_only_with_enough_samples():
    assert set(stats.summarize([1.0] * 99)) == {"n", "p50"}
    assert set(stats.summarize([1.0] * 100)) == {"n", "p50", "p90"}
    assert stats.summarize([]) == {"n": 0}


# --- error rate ---------------------------------------------------------------


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.3]) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        stats.geomean([])


def test_error_rate_counts_failed_over_attempted():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_every_failure_kind_counts_once():
    """An exception, a wrong row count and a hash mismatch each count as
    one failed op; a matching result counts as none."""

    class _Client:
        expected = {"e": dict(zip(("rows", "hash"), stats.result_hash(["a"], [(1,), (2,)])))}

    good = {"columns": ["a"], "rows": [(2,), (1,)]}
    short = {"columns": ["a"], "rows": [(1,)]}
    wrong = {"columns": ["a"], "rows": [(1,), (3,)]}
    verdicts = [wl.check_catalog(_Client, "e", o) for o in (good, short, wrong)]
    assert verdicts[0] is None
    assert "rows" in verdicts[1] and "hash" in verdicts[2]
    failed = sum(v is not None for v in verdicts) + 1  # + one op that raised
    assert stats.error_rate(4, failed) == 0.75


# --- result hash --------------------------------------------------------------


def test_result_hash_ignores_row_and_column_order():
    rows = [(1, "x", 2.5), (2, None, 0.1), (3, "z", -1.0)]
    base = stats.result_hash(["a", "b", "c"], rows)
    for perm in itertools.permutations(rows):
        assert stats.result_hash(["a", "b", "c"], list(perm)) == base
    swapped = [(r[2], r[0], r[1]) for r in rows]
    assert stats.result_hash(["c", "a", "b"], swapped) == base


def test_result_hash_sees_values_and_duplicates():
    a = stats.result_hash(["a"], [(1,), (1,)])
    assert a != stats.result_hash(["a"], [(1,)])
    assert a != stats.result_hash(["a"], [(1,), (2,)])
    assert a != stats.result_hash(["b"], [(1,), (1,)])


def test_canon_is_engine_neutral():
    assert stats.canon(5) == stats.canon(5.0) == stats.canon(decimal.Decimal("5.00"))
    assert stats.canon(0.05) == stats.canon(decimal.Decimal("0.05"))
    assert stats.canon(True) != stats.canon(1)
    assert stats.canon(None) == "null"
    assert stats.canon(float("nan")) == "nan"
    assert stats.canon(dt.date(2024, 1, 2)) == "2024-01-02"
    assert stats.canon(dt.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02 03:04:05"
    assert stats.canon([1, 2.0]) == stats.canon((1.0, 2))


# --- spans and self time -----------------------------------------------------------


def _span(i, parent, start, end, name="x", **kw):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, **kw}


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps 1: union 1..6 covers 5
        _span(3, 1, 2.0, 3.0),
        _span(4, 0, 9.0, 12.0),  # runs past the parent: only 9..10 counts
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10 - 5 - 1)
    assert own[1] == pytest.approx(3 - 1)
    assert own[2] == pytest.approx(3)
    assert own[3] == pytest.approx(1)


def test_covered_merges_and_clips():
    assert stats.covered([], 0, 1) == 0
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert stats.covered([(-1, 2), (8, 20)], 0, 10) == pytest.approx(4)


def test_self_times_of_nested_spans_sum_to_the_op():
    spans = [
        _span(0, None, 0.0, 5.0, "op"),
        _span(1, 0, 0.5, 3.0),
        _span(2, 1, 1.0, 2.0),
        _span(3, 0, 3.5, 4.5),
    ]
    assert layers.self_sum_gaps(spans) == [pytest.approx(0.0)]


def test_tracer_nests_and_tags_ops():
    t = tracing.Tracer()
    t.op = 7
    with t.span("op") as root:
        with t.span("a") as a:
            with t.span("b") as b:
                pass
        with t.span("c") as c:
            pass
    assert root["parent"] is None
    assert a["parent"] == root["id"] and c["parent"] == root["id"]
    assert b["parent"] == a["id"]
    assert {s["op"] for s in t.spans} == {7}
    assert layers.self_sum_gaps(t.spans)[0] == pytest.approx(0.0, abs=1e-9)


def test_patches_wrap_both_binding_sites_and_restore():
    import sys
    import types

    mod = types.ModuleType("polars_view_spark._pb_probe_src")
    user = types.ModuleType("polars_view_spark._pb_probe_user")

    def f(x):
        return x + 1

    mod.f = f
    user.f = f  # a ``from src import f`` binding
    sys.modules[mod.__name__] = mod
    sys.modules[user.__name__] = user
    try:
        t = tracing.Tracer()
        p = tracing.Patches(t)
        orig_calls = tracing.LAYER_CALLS
        tracing.LAYER_CALLS = (("probe.f", mod.__name__, "f"),)
        try:
            p.install()
            assert mod.f(1) == 2 and user.f(2) == 3
            assert [s["name"] for s in t.spans] == ["probe.f", "probe.f"]
            p.remove()
            assert mod.f is f and user.f is f
        finally:
            tracing.LAYER_CALLS = orig_calls
    finally:
        del sys.modules[mod.__name__], sys.modules[user.__name__]


def test_layer_compute_derives_container_numbers():
    spans = [
        _span(0, None, 0.0, 4.0, "op", kind="open"),
        _span(1, 0, 0.0, 3.0, "container.load_data"),
        _span(2, 1, 0.0, 1.0, "readers.read_any"),
        _span(3, 1, 2.5, 3.0, "transforms.apply_pipeline"),
        _span(4, 0, 3.0, 4.0, "display.format_page"),
        _span(5, None, 10.0, 11.0, "op", kind="requery"),
        _span(6, 5, 10.0, 10.5, "container.requery"),
        _span(7, 6, 10.0, 10.5, "container.load_data"),
        _span(8, 7, 10.1, 10.2, "dialect.rewrite_query"),
    ]
    records = [{"id": 0, "name": "open", "latency": 4.0}, {"id": 1, "name": "group", "latency": 1.0}]
    m = layers.compute(spans, records, 2.0, 1.0, {}, [], 9.0, 1_000_000)
    assert set(m) == {name for name, *_ in layers.PER_LAYER}
    assert m["container.load_s"] == pytest.approx(3.0)
    assert m["container.cache_fill_s"] == pytest.approx(3.0 - 1.0 - 0.5)
    assert m["container.cache_hit_ratio"] == 1.0
    assert m["dialect.calls_per_op"] == 0.5
    assert m["readers.input_mb"] == 1.0
    assert m["trace.overhead_ratio"] == 0.5
    assert m["index.build_s"] == 0.0  # never called: reported as 0


def test_stream_phases_are_summed_per_op():
    progress = [
        (0, {"addBatch": 1000, "triggerExecution": 1500, "queryPlanning": 100, "walCommit": 50}),
        (0, {"addBatch": 500, "triggerExecution": 600}),
        (1, {"addBatch": 200, "triggerExecution": 400}),
        (None, {"addBatch": 9999}),
    ]
    records = [{"id": 0, "name": "e", "latency": 1}, {"id": 1, "name": "e", "latency": 1}]
    m = layers.compute([], records, 1, 1, {}, progress, 0, 0)
    assert m["stream.triggers_per_op"] == 1.5
    assert m["stream.add_batch_s"] == pytest.approx((1.5 + 0.2) / 2)
    assert m["stream.trigger_overhead_s"] == pytest.approx((0.6 + 0.2) / 2)


# --- plans and inputs -----------------------------------------------------------


def test_viewer_session_shape():
    ops = list(itertools.islice(wl.viewer_plan(3), 40))
    first = [o for o in ops if o["session"] == 0]
    kinds = [o["kind"] for o in first]
    assert kinds[0] == "open" and kinds[-1] == "save"
    requeries = [o for o in first if o["kind"] == "requery"]
    assert sorted(o["template"] for o in requeries) == sorted(q[0] for q in wl.VIEWER_QUERIES)
    assert requeries[-1]["template"] == "rename"
    assert sum(o["reread"] for o in requeries) == 1
    assert kinds.count("sort") == wl.SORT_STEPS
    assert list(itertools.islice(wl.viewer_plan(3), 40)) == ops  # seed-deterministic


def test_catalog_cycles_run_every_entry_once_in_order():
    n = len(wl.LLM_PIPELINE)
    ops = list(itertools.islice(wl.catalog_plan(wl.LLM_PIPELINE), 3 * n))
    assert [c for c, _ in ops] == [i // n for i in range(3 * n)]
    assert [name for _, name in ops] == list(wl.LLM_PIPELINE) * 3


def test_md5_bridge_matches_python():
    import duckdb

    got = duckdb.sql(f"SELECT {datagen.h('41', 'salt')}").fetchone()[0]
    assert got == int(hashlib.md5(b"salt:41").hexdigest()[:15], 16)


# --- the benchmark description --------------------------------------------------


def test_benchmark_json_lists_the_metrics_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(wl.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(
        layers.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, *_ in layers.PER_LAYER
    ]
    pinned = json.load(open(os.path.join(ROOT, "perfbench", "expected.json")))
    for scale in ("full", "smoke"):
        assert set(pinned[scale]) == set(wl.LLM_PIPELINE)

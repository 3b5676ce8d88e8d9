"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import measure  # noqa: E402


def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generator

def test_generator_is_deterministic():
    assert gen.digest(3) == gen.digest(3)
    assert gen.digest(3) != gen.digest(4)


def test_warc_archives_are_byte_identical():
    assert gen.warc_archives(5) == gen.warc_archives(5)


def test_kv_op_mix_is_exact_per_block():
    ops = [o for o in gen.kv_ops(7, 0, 600) if o["kind"] != "compact"]
    kinds = [o["kind"] for o in ops[:400]]
    assert kinds.count("get") == 200
    assert kinds.count("scan") == 60
    assert kinds.count("mutate") == 80
    assert kinds.count("increment") == 20
    assert kinds.count("row_before") + kinds.count("exists") == 20
    assert kinds.count("check_and_put") + kinds.count("check_and_delete") == 20


def test_kv_cells_stay_clear_of_the_ttl_cutoff():
    lo, hi = 23 * gen.HOUR_MS, 25 * gen.HOUR_MS
    assert not [c for c in gen.kv_cells(1) if lo <= c[3] < hi]


# -------------------------------------------------------- tail percentile

@pytest.mark.parametrize("n", [20, 21, 25, 40, 99, 100, 101, 150, 200, 999, 1000, 5000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    p = measure.tail_percentile(n)
    values = [v * v for v in range(n)]      # distinct, unevenly spaced
    assert sum(v > measure.percentile(values, p) for v in values) >= 10
    higher = [q for q in measure.TAIL_LADDER if q > p]
    if higher:   # the next percentile up would leave fewer than ten
        q = min(higher)
        assert sum(v > measure.percentile(values, q) for v in values) < 10


def test_tail_percentile_known_values():
    assert measure.tail_percentile(100) == 90.0
    assert measure.tail_percentile(25) == 60.0
    assert measure.tail_percentile(23) == 55.0
    assert measure.tail_percentile(1000) == 99.0
    with pytest.raises(ValueError):
        measure.tail_percentile(19)


def test_percentile_and_median():
    assert measure.percentile([5, 1, 3, 2, 4], 50) == 3
    assert measure.percentile([1, 2, 3, 4], 100) == 4
    assert measure.percentile([0, 10], 25) == 2.5
    assert measure.median([4, 1, 3, 2]) == 2.5


# ------------------------------------------------------------- self time

def _span(i, parent, start, end, layer="x"):
    return {"id": i, "name": f"s{i}", "layer": layer, "parent": parent,
            "start": start, "end": end, "op": "o"}


def test_self_time_subtracts_union_of_children():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 3.0), _span(2, 0, 2.0, 5.0),   # overlap
             _span(3, 0, 7.0, 8.0),
             _span(4, 1, 1.5, 2.5)]                           # grandchild
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 6.0)]
    assert measure.self_times(spans)[0] == pytest.approx(3.0)


def test_tracer_nests_spans_and_sums_layers():
    tr = measure.Tracer(enabled=True)
    with tr.span("op", "bench", "op-1"):
        with tr.span("inner", "table"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["op"] == "op-1"
    layers = tr.layer_self_s()
    total = outer["end"] - outer["start"]
    assert layers["bench"] + layers["table"] == pytest.approx(total)


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(enabled=False)
    with tr.span("op", "bench", "x") as s:
        assert s is None
    assert tr.spans == []


# ---------------------------------------------------- metric names

def test_end_to_end_names_match_benchmark_json():
    import run

    res = {"ops": [{"kind": "k", "cls": c, "s": 0.1 * (i + 1), "ok": True}
                   for i, c in enumerate(["read", "write"] * 10)],
           "setup_s": [1.0, 2.0, 3.0], "peak_rss_mb": 100.0, "window_s": 2.0,
           "space_amp": 1.5}
    e2e, _info = run._e2e(res, 60.0)
    assert sorted(e2e) == sorted(m["name"] for m in _spec()["end_to_end"])
    assert all(v > 0 for v in e2e.values())


def test_per_layer_names_match_benchmark_json():
    import batch_pipeline
    import kv_serving

    names = set(kv_serving.LAYER_METRICS) | set(batch_pipeline.LAYER_METRICS)
    names |= {f"self_s.{layer}" for layer in measure.LAYERS}
    assert sorted(names) == sorted(m["name"] for m in _spec()["per_layer"])


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    import run

    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(m["bound"] <= 0.25 for m in e2e.values())

"""The benchmark's own arithmetic. Run: python3 -m pytest perfbench/tests -q"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_highest_percentile_keeps_ten_samples_beyond():
    assert stats.highest_percentile(19) is None
    assert stats.highest_percentile(20) == 50
    assert stats.highest_percentile(39) == 50
    assert stats.highest_percentile(40) == 75
    assert stats.highest_percentile(99) == 75
    assert stats.highest_percentile(100) == 90
    assert stats.highest_percentile(200) == 95
    assert stats.highest_percentile(1000) == 99
    for n in range(1, 2000, 7):
        p = stats.highest_percentile(n)
        if p is not None:
            assert n * (100 - p) / 100 >= stats.MIN_BEYOND


def test_percentile_report_caps_at_supported_level():
    few = stats.percentile_report([float(i) for i in range(60)], "trigger", "s", 90)
    assert "trigger_p75_s" in few and "trigger_p90_s" not in few
    assert few["trigger_n"]["value"] == 60
    many = stats.percentile_report([float(i) for i in range(500)], "freshness", "s", 90)
    assert "freshness_p90_s" in many and "freshness_p95_s" not in many
    assert many["freshness_p50_s"]["value"] == pytest.approx(249.5)
    assert many["freshness_p90_s"]["value"] == pytest.approx(449.1)


def test_quantile_interpolates_and_rejects_empty():
    assert stats.quantile([4, 1, 3, 2], 0.5) == 2.5
    assert stats.quantile([7], 0.9) == 7
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_self_time_with_overlapping_children():
    # merge_many [0, 10]; three commit threads overlap in [2, 6], [3, 7],
    # [5, 8]; a child that runs past the parent's end counts only inside
    kids = [(2.0, 6.0), (3.0, 7.0), (5.0, 8.0), (9.5, 12.0)]
    assert stats.union_length([(2, 6), (3, 7), (5, 8)]) == 6.0
    assert stats.self_time(0.0, 10.0, kids) == pytest.approx(10 - 6 - 0.5)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 1.0, [(2.0, 3.0)]) == 1.0


def test_blocking_attribution_adds_up_to_wall():
    spans = [
        ("cdc_pipeline", 1.0, 9.0, 0),
        ("multi_merge", 2.0, 8.0, 1),
        ("table", 3.0, 5.0, 2),   # two commit threads overlapping
        ("table", 4.0, 6.0, 2),
        ("fileio", 4.5, 4.7, 3),
    ]
    charged, unaccounted = stats.blocking_attribution(spans, 0.0, 10.0)
    assert unaccounted == pytest.approx(2.0)
    assert sum(charged.values()) + unaccounted == pytest.approx(10.0)
    assert charged["table"] == pytest.approx(3.0 - 0.2)
    assert charged["fileio"] == pytest.approx(0.2)
    assert charged["multi_merge"] == pytest.approx(3.0)
    assert charged["cdc_pipeline"] == pytest.approx(2.0)


def test_scaling_efficiency():
    assert stats.scaling_efficiency(150_000, 47_000) == pytest.approx(150 / 188)
    assert stats.scaling_efficiency(40.0, 10.0) == 1.0
    assert stats.scaling_efficiency(30.0, 10.0, factor=2) == 1.5
    with pytest.raises(ValueError):
        stats.scaling_efficiency(1.0, 0.0)


def test_freshness_counts_from_due_time_even_when_generator_is_late():
    due = {"a": 10.0, "b": 10.1, "c": 10.2}
    published = {"a": 10.0, "b": 10.6, "c": 10.65}  # generator stalled
    committed = {"a": 11.0, "b": 11.0, "c": 12.0}
    f = stats.freshness(due, committed)
    assert f == pytest.approx({"a": 1.0, "b": 0.9, "c": 1.8})
    # from publication b would look 0.4 s fresh; from due time it is 0.9 s
    assert stats.lateness(due, published) == pytest.approx([0.0, 0.5, 0.45])
    # a file never committed yields no sample rather than a fake one
    assert "d" not in stats.freshness(dict(due, d=10.3), committed)


def test_failed_ratio_with_its_base():
    assert stats.failed_ratio(0, 12) == 0.0
    assert stats.failed_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failed_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failed_ratio(13, 12)


def test_failed_never_exceeds_attempted():
    from perfbench.workloads import Result

    res = Result(e2e={}, named={})
    res.attempted += 2          # one replay of two micro-batches ...
    res.fail(2, "fast-path fallback in epochs [0, 1]")
    res.fail(1, "final state differs from oracle")   # ... also wrong
    assert res.failed == 2
    assert stats.failed_ratio(res.failed, res.attempted) == 1.0
    res.attempted += 2          # the next replay is clean
    assert stats.failed_ratio(res.failed, res.attempted) == 0.5


def test_traced_metrics_are_exactly_the_benchmark_json_ones():
    import json

    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import Result

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "perfbench", "metric_map.json")) as f:
        mapped = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [n for n, _, _ in layers.per_layer_names()]
    # a traced run that entered no layer still reports every metric, as 0
    out = layers.compute(Tracer(), Result(e2e={}, named={}, windows=[(0.0, 1.0)]), 0.0)
    assert list(out) == names
    assert out["trace.unaccounted_s"] == 1.0
    assert {w["name"] for w in bench["workloads"]} == set(mapped["workloads"])
    for m in bench["end_to_end"]:
        assert set(mapped["end_to_end"][m["name"]]) == set(mapped["workloads"])
    for n in names:
        generic = (
            "fileio.calls.<method>" if n.startswith("fileio.calls.")
            else "path.<layer>_s" if n.startswith("path.")
            else "query.<leaf>_s" if n.startswith("query.") else n
        )
        assert generic in mapped["per_layer"], n


def test_tracer_links_pool_threads_to_the_open_parent():
    import time
    from concurrent.futures import ThreadPoolExecutor

    from perfbench.trace import Tracer

    tr = Tracer()
    commit = tr.wrap(lambda: time.sleep(0.05), "table.commit_delta", "table")

    def merge():
        with ThreadPoolExecutor(max_workers=3) as ex:
            for f in [ex.submit(commit) for _ in range(3)]:
                f.result()
        time.sleep(0.02)

    tr.wrap(merge, "multi_merge.merge_many", "multi_merge")()
    parent = next(s for s in tr.spans if s.name == "multi_merge.merge_many")
    kids = [s for s in tr.spans if s.name == "table.commit_delta"]
    assert len(kids) == 3 and all(k.parent == parent.id and k.depth == 1 for k in kids)
    own = stats.self_time(parent.start, parent.end, [(k.start, k.end) for k in kids])
    # three overlapping 50 ms commits block about 50 ms, not 150 ms
    assert 0.015 <= own <= parent.end - parent.start - 0.045

"""``tools/perf_ab.py``'s parser of one ``perfbench/run.py`` output.
Standard library only; no Spark."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a saved ``perfbench/run.py --workload cdc_trickle`` output
TRICKLE_OUT = """\
perfbench cdc_trickle seed=1771 trace=0
  setup_s                              14.7627 s
  cpu_ms_per_kevent                    534.375 ms
  freshness_n                          8 count
  freshness_p50_s                      0.603377 s
  trigger_p50_s                        0.542 s
  ops_failed                           0 count
  note: set-up: session 6.06 s, warm-up triggers 4.61, 0.83, 0.67, 0.84 s
  note: freshness 0.68, 0.60, 0.58, 0.67, 0.46, 0.61, 0.50, 0.61 s
  note: 8 timed files in 8 batches, 2000 rows/batch, trigger 0.40 .. 0.62 s
  note: host cpu during run: busy 25%, steal 0.1%
{"correct": true, "attempted": 8, "failed": 0, "metrics": {"setup_s": {"value": 14.762685060501099, "unit": "s"}, "cpu_ms_per_kevent": {"value": 534.3750000000002, "unit": "ms"}}}
"""


def _perf_ab():
    spec = importlib.util.spec_from_file_location(
        "perf_ab", os.path.join(ROOT, "tools", "perf_ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_parse_run_reads_metrics_steal_and_the_largest_trigger():
    perf_ab = _perf_ab()
    r = perf_ab.parse_run(TRICKLE_OUT)
    assert r["correct"] is True and r["failed"] == 0
    assert r["steal_pct"] == 0.1
    m = r["metrics"]
    assert m["cpu_ms_per_kevent"] == 534.375 and m["setup_s"] == 14.7627
    assert m["trigger_p50_s"] == 0.542 and m["freshness_p50_s"] == 0.603377
    # the warm-up note's "triggers" list is not the timed range
    assert m["trigger_max_s"] == 0.62
    assert "trigger_max_s" in perf_ab.EXTRA


def test_parse_run_of_a_bulk_output_has_no_trigger_max():
    bulk = TRICKLE_OUT.replace(
        "trigger 0.40 .. 0.62 s", "local[4] triggers: 1.20, 0.90 s"
    )
    assert "trigger_max_s" not in _perf_ab().parse_run(bulk)["metrics"]

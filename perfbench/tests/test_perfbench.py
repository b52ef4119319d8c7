"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import metrics  # noqa: E402
import mixes  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from elt_data4transformation_spark.sources import TABLES  # noqa: E402


@pytest.mark.parametrize(
    "n, pct", [(100, 90), (40, 75), (20, 50), (36, 72), (12, 50), (1000, 99)]
)
def test_tail_percentile_leaves_ten_beyond(n, pct):
    assert metrics.tail_percentile(n) == pct


@pytest.mark.parametrize("n", [20, 25, 40, 77, 100, 250])
def test_tail_value_has_at_least_ten_samples_above(n):
    values = [float(i) for i in range(n)]
    tail = metrics.quantile(values, metrics.tail_percentile(n) / 100)
    assert sum(v > tail for v in values) >= metrics.TAIL_BEYOND


def test_quantile_matches_linear_interpolation():
    assert metrics.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert metrics.quantile([5.0], 0.9) == 5.0


def test_same_seed_gives_same_pass_order():
    ops = mixes.MIXES["dashboard"]
    for pass_no in range(4):
        assert mixes.pass_order(ops, 7, pass_no) == mixes.pass_order(ops, 7, pass_no)
    assert sorted(mixes.pass_order(ops, 7, 1)) == sorted(ops)


def test_passes_and_seeds_shuffle_differently():
    ops = mixes.MIXES["dashboard"]
    orders = {tuple(mixes.pass_order(ops, s, p)) for s in (1, 2) for p in range(3)}
    assert len(orders) == 6


@pytest.mark.parametrize("workload", sorted(mixes.MIXES))
def test_pass_count_does_not_depend_on_measured_speed(workload):
    assert mixes.timed_passes(workload, 11) == 2
    assert mixes.timed_passes(workload, 1) == mixes.MIN_PASSES
    assert mixes.timed_passes(workload, 60) > 2


def test_exceptions_and_wrong_results_count_as_failures():
    log = metrics.OpLog()
    log.record("a", 0.5, ok=True)
    log.record("b", 0.7, ok=False)  # raised
    log.record("c", 0.4, ok=True)  # its query's output failed the check
    log.record("a", 0.6, ok=True)
    assert log.attempted == 4
    assert log.failed(wrong={"c"}) == 2
    summary = metrics.summarize(log, wall_s=2.0, wrong={"c"})
    assert summary["error_rate"] == 0.5
    assert summary["ops_per_s"] == 2.0
    # raised ops have no latency; the three that returned are pooled
    assert summary["samples"] == 3
    assert summary["latency_p50_s"] == 0.5


def test_summarize_refuses_a_run_where_nothing_succeeded():
    log = metrics.OpLog()
    log.record("a", 0.5, ok=False)
    with pytest.raises(ValueError):
        metrics.summarize(log, wall_s=1.0, wrong=set())


def test_datagen_is_seeded():
    a = datagen.make_tables(3)
    b = datagen.make_tables(3)
    c = datagen.make_tables(4)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_datagen_documents_hold_near_duplicates():
    docs = datagen.make_tables(5)["documents"].to_pandas()
    assert (docs.text.str.len() == docs.n_chars).all()
    assert docs.text.str.endswith(" dup").sum() == int(len(docs) * datagen.DUP_SHARE)


def test_datagen_writes_event_times_as_nanos():
    ts = datagen.make_tables(1)["events"].schema.field("ts").type
    assert str(ts) == "timestamp[ns]"


def test_oracle_match_ignores_row_order_and_float_noise():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"v": [1.0, 0.3], "k": [2, 1]})
    assert run.mismatch(a, b, "q") is None


@pytest.mark.parametrize(
    "other",
    [
        pd.DataFrame({"k": [1, 2], "v": [0.3, 1.5]}),
        pd.DataFrame({"k": [1], "v": [0.3]}),
        pd.DataFrame({"k": [1, 2], "w": [0.3, 1.0]}),
    ],
)
def test_oracle_reports_differences(other):
    a = pd.DataFrame({"k": [1, 2], "v": [0.3, 1.0]})
    assert run.mismatch(a, other, "q") is not None


def test_python_worker_cpu_counts_python_descendants():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass\n"
         "print('done', flush=True)\ntime.sleep(30)"],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        before = run.python_workers_cpu_ms(os.getpid())
        assert child.stdout.readline() == "done\n"
        assert run.python_workers_cpu_ms(os.getpid()) - before >= 250
    finally:
        child.kill()
        child.wait()
        child.stdout.close()


def test_self_time_subtracts_children():
    spans = [
        tracing.Span("op", 0.0, 10.0, None, 0),
        tracing.Span("child", 1.0, 4.0, 0, 0),
        tracing.Span("child", 3.0, 5.0, 0, 0),  # overlaps the first
        tracing.Span("grandchild", 1.5, 2.0, 1, 0),
    ]
    assert tracing.self_times(spans) == [6.0, 2.5, 2.0, 0.5]


def test_traced_wrapper_records_spans_and_pickles_as_the_original():
    tracer = tracing.Tracer()
    wrapped = tracing._Traced(json.dumps, "layer.dumps", tracer)
    tracer.enabled = True
    assert wrapped([1]) == "[1]"
    assert [s.name for s in tracer.spans] == ["layer.dumps"]
    assert pickle.loads(pickle.dumps(wrapped)) is json.dumps


def test_benchmark_json_names_what_the_runs_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(mixes.MIXES)

"""Tests for the benchmark's own arithmetic. No Spark session needed:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import ctypes
import json
import os
import threading
import time
from types import SimpleNamespace

import pytest

import proctree
import reference
import run
import stats
import tracing


# -- the tail rule -----------------------------------------------------------

def test_tail_has_exactly_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_follows_sample_count():
    value, pct, n = stats.tail([float(i) for i in range(40)])
    assert n == 40 and pct == 75.0 and value == 29.0
    value, pct, n = stats.tail([float(i) for i in range(20)])
    assert pct == 50.0 and value == 9.0


def test_tail_ignores_input_order():
    samples = [float((7 * i) % 23) for i in range(23)]  # 0..22, shuffled
    assert stats.tail(samples) == stats.tail(sorted(samples))
    assert stats.tail(samples)[0] == 12.0  # 23 samples: the 13th smallest has 10 beyond


def test_tail_below_twenty_samples_reports_the_maximum_at_p100():
    # 19 samples: the rule's percentile would sit under the median
    assert stats.tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([]) == (0.0, 0.0, 0)


# -- union of job intervals --------------------------------------------------

def test_union_counts_overlaps_once():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(1, 3), (0, 2), (2, 3)]) == 3


def test_union_clips_to_the_window():
    assert stats.union_length([(-5, 1), (9, 20)], lo=0, hi=10) == 2
    assert stats.union_length([(11, 12)], lo=0, hi=10) == 0


def test_union_of_nothing_is_zero():
    assert stats.union_length([]) == 0


def test_self_time_is_duration_minus_child_cover():
    assert stats.self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == 10 - 3 - 2


def test_no_job_time_from_a_rest_snapshot():
    t0 = tracing.parse_ts("2026-01-01T00:00:00.000GMT")
    snap = {
        "jobs": [
            {"jobId": 0, "submissionTime": "2026-01-01T00:00:01.000GMT",
             "completionTime": "2026-01-01T00:00:03.000GMT"},
            {"jobId": 1, "submissionTime": "2026-01-01T00:00:02.000GMT",
             "completionTime": "2026-01-01T00:00:04.500GMT"},
            # outside the window: another query's job
            {"jobId": 2, "submissionTime": "2026-01-01T00:00:20.000GMT",
             "completionTime": "2026-01-01T00:00:21.000GMT"},
        ],
        "stages": [], "sql": [], "executors": [],
    }
    m = tracing.window_metrics(t0, t0 + 10, snap, None)
    assert m["driver.jobs"] == 2
    assert m["driver.no_job_s"] == pytest.approx(10 - 3.5)
    assert m["stream.batches"] == 0 and m["python.nodes"] == 0


def _node(nid, name, **metrics):
    return {"nodeId": nid, "nodeName": name,
            "metrics": [{"name": k.replace("_", " "), "value": v} for k, v in metrics.items()]}


def test_python_tasks_read_the_width_of_the_nodes_stage():
    sent = {"data_sent_to_Python_workers": "2.9 MiB"}
    coalesced = {  # mapInPandas behind a shuffle that AQE coalesced to one task
        "nodes": [_node(1, "MapInPandas", **sent),
                  _node(2, "AQEShuffleRead", number_of_partitions="1"),
                  _node(3, "Exchange", number_of_partitions="32"),
                  _node(4, "Scan parquet ")],
        "edges": [{"fromId": 2, "toId": 1}, {"fromId": 3, "toId": 2}, {"fromId": 4, "toId": 3}],
        "successJobIds": [0],
    }
    scan_fed = {  # mapInPandas fused into the scan stage
        "nodes": [_node(10, "MapInPandas", **sent), _node(11, "Project"),
                  _node(12, "Scan parquet ")],
        "edges": [{"fromId": 11, "toId": 10}, {"fromId": 12, "toId": 11}],
        "successJobIds": [5],
    }
    assert tracing._python_tasks(coalesced, {}, {0: [1, 2]}) == 1
    assert tracing._python_tasks(scan_fed, {7: 4}, {5: [7]}) == 4
    idle = dict(scan_fed, nodes=[_node(10, "MapInPandas", data_sent_to_Python_workers="0.0 B")])
    assert tracing._python_tasks(idle, {7: 4}, {5: [7]}) == 0


# -- /proc sampling ----------------------------------------------------------

def test_a_forked_child_has_its_own_memory_and_counts():
    me = os.getpid()
    assert proctree.shares_memory(me, me)
    child = os.fork()
    if child == 0:  # the child only waits to be looked at
        time.sleep(5)
        os._exit(0)
    try:
        assert not proctree.shares_memory(me, child)
        assert child in proctree.descendants(me)
    finally:
        os.kill(child, 9)
        os.waitpid(child, 0)


def test_cpu_of_a_background_thread_is_told_apart():
    libc = ctypes.CDLL(None)
    done = threading.Event()

    def compile_like():  # named as HotSpot names a C2 compiler thread
        libc.prctl(15, b"C2 CompilerThread0", 0, 0, 0)  # PR_SET_NAME keeps 15 bytes
        t0 = time.thread_time()
        while time.thread_time() - t0 < 0.3:
            pass
        done.wait()

    total0, bg0, _ = proctree.cpu_seconds()
    worker = threading.Thread(target=compile_like)
    worker.start()
    try:
        time.sleep(0.6)
        total1, bg1, threads = proctree.cpu_seconds()
    finally:
        done.set()
        worker.join()
    assert threads >= 1
    assert bg1 - bg0 >= 0.2
    assert total1 - total0 >= bg1 - bg0


# -- the reference kernel ----------------------------------------------------

def test_reference_kernel_does_fixed_work():
    assert reference.kernel() == reference.kernel()
    assert reference.sample() > 0


def test_rescale_to_the_nominal_host():
    # a host on which the kernel takes twice its nominal time halves the pass CPU
    assert reference.rescale(3.0, 2 * reference.NOMINAL_S) == pytest.approx(1.5)
    assert reference.rescale(3.0, reference.NOMINAL_S) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        reference.rescale(3.0, 0.0)


# -- REST value parsing ------------------------------------------------------

@pytest.mark.parametrize("text,value", [
    ("10,000", 10000.0),
    ("2.9 MiB", 2.9 * (1 << 20)),
    ("1312.0 B", 1312.0),
    ("370 ms", 0.37),
    ("total (min, med, max (stageId: taskId))\n9.8 MiB (2.4 MiB, 2.4 MiB, 2.4 MiB (driver))",
     9.8 * (1 << 20)),
])
def test_parse_sql_metric(text, value):
    assert tracing.parse_sql_metric(text) == pytest.approx(value)


def test_parse_ts_reads_rest_and_listener_forms():
    a = tracing.parse_ts("2026-10-16T23:27:11.303GMT")
    b = tracing.parse_ts("2026-10-16T23:27:11.303Z")
    assert a == b and a % 1 == pytest.approx(0.303)


# -- failed_share with one injected failing query ----------------------------

class _Frame:
    def __init__(self):
        self.write = self

    def mode(self, _):
        return self

    def format(self, _):
        return self

    def save(self):
        return None


def _fake_spark():
    return SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))


def _spec(fn):
    return SimpleNamespace(fn=fn)


def _boom(spark, sf_dir):
    raise RuntimeError("injected failure")


def test_failed_share_counts_one_injected_failure():
    specs = {"good": _spec(lambda s, d: _Frame()), "bad": _spec(_boom),
             "also_good": _spec(lambda s, d: _Frame())}
    runner = run.Runner(_fake_spark(), specs, list(specs), seed=7)
    wall, times, _, _ = runner.run_pass()
    assert set(times) == {"good", "also_good"}
    assert runner.attempted == 3
    assert [name for name, _ in runner.failures] == ["bad"]
    assert stats.failed_share(runner.attempted, len(runner.failures)) == pytest.approx(1 / 3)


def test_failed_output_check_counts_toward_failed_share():
    specs = {"good": _spec(lambda s, d: _Frame()), "wrong": _spec(lambda s, d: _Frame())}
    parity = SimpleNamespace(check_query=lambda spark, sf, name, con=None: SimpleNamespace(
        ok=name != "wrong", detail="row count mismatch"))
    runner = run.Runner(_fake_spark(), specs, list(specs), seed=7)
    runner.run_pass()
    runner.check(parity, con=None)
    assert runner.attempted == 4
    assert [name for name, _ in runner.failures] == ["wrong"]
    assert stats.failed_share(runner.attempted, 1) == 0.25


def test_one_failed_output_check_moves_ok_share_past_its_bound():
    # five queries, each run cold, in the check, once to warm up and four
    # times timed: 35 runs, of which one output check fails
    queries = [f"q{i}" for i in range(5)]
    specs = {q: _spec(lambda s, d: _Frame()) for q in queries}
    parity = SimpleNamespace(check_query=lambda spark, sf, name, con=None: SimpleNamespace(
        ok=name != "q3", detail="row count mismatch"))
    runner = run.Runner(_fake_spark(), specs, queries, seed=7)
    runner.run_pass()
    runner.check(parity, con=None)
    for _ in range(5):
        runner.run_pass()
    assert runner.attempted == 35
    assert stats.failed_share(runner.attempted, len(runner.failures)) == pytest.approx(1 / 35)
    share = stats.ok_share(queries, [q for q, _ in runner.failures])
    assert share == pytest.approx(0.8)
    bound = next(m["bound"] for m in _benchmark_json()["end_to_end"] if m["name"] == "ok_share")
    assert 1.0 - share > bound


def test_ok_share_counts_a_query_once_however_often_it_fails():
    assert stats.ok_share(["a", "b", "c", "d"], []) == 1.0
    assert stats.ok_share(["a", "b", "c", "d"], ["b", "b", "b"]) == 0.75
    with pytest.raises(ValueError):
        stats.ok_share([], [])


def test_the_traced_run_reports_every_declared_per_layer_metric():
    declared = [m["name"] for m in _benchmark_json()["per_layer"]]
    assert sorted(declared) == sorted(tracing.LAYER_METRICS)


def _benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_failed_share_needs_attempts():
    with pytest.raises(ValueError):
        stats.failed_share(0, 0)


def test_seed_fixes_the_query_order():
    qs = [f"q{i}" for i in range(8)]
    a = run.Runner(None, {}, qs, seed=3)
    b = run.Runner(None, {}, qs, seed=3)
    assert [a.order() for _ in range(3)] == [b.order() for _ in range(3)]
    assert sorted(a.order()) == qs


# -- trend --------------------------------------------------------------------

def test_trend_compares_halves():
    assert stats.trend([10.0, 10.0, 9.0, 9.0]) == pytest.approx(-0.1)
    assert stats.trend([4.0, 100.0, 4.0]) == 0.0  # the middle pass belongs to neither half
    assert stats.trend([5.0]) == 0.0

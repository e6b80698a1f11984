"""The benchmark's own tests; Spark-free, run with

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import lambda_replay  # noqa: E402
import registry_sweep  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, union_length  # noqa: E402


def _devices(tmp_path, seed: int, tag: str) -> gen.DeviceTruth:
    d = tmp_path / tag
    return gen.device_messages(seed, str(d / "in"), str(d / "truth.parquet"),
                               n_events=3_000, n_files=3, hours=2)


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    names = cmp.common_files
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors) and bool(match)


def test_device_messages_are_byte_identical_per_seed(tmp_path):
    a = _devices(tmp_path, 7, "a")
    b = _devices(tmp_path, 7, "b")
    c = _devices(tmp_path, 8, "c")
    assert _same_tree(tmp_path / "a" / "in", tmp_path / "b" / "in")
    assert not _same_tree(tmp_path / "a" / "in", tmp_path / "c" / "in")
    assert a.users == b.users and a.file_max_ts_ms == b.file_max_ts_ms
    # the generated lateness shares are near the targets
    assert 0.03 < a.n_out_of_order / a.n_events < 0.07
    assert 0.002 < a.n_beyond_watermark / a.n_events < 0.02


def test_registry_tables_are_byte_identical_per_seed(tmp_path):
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.registry_tables(seed, str(tmp_path / tag))
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert sorted(os.listdir(tmp_path / "a")) == sorted(
        f"{t}.parquet" for t in registry_sweep.TABLES)


def _serving_rows(expected: dict):
    """The serving tables a correct replay writes, in the row shapes
    ``compare_outputs`` reads back."""
    speed = [(ws, k, v, tag) for tag, rows in expected["speed"].items()
             for ws, k, v in rows]
    hourly = [(hs, k, v, tag) for tag, rows in expected["hourly"].items()
              for hs, k, v in rows]
    return speed, hourly, list(expected["quota"])


def test_watermark_rule_matches_a_plain_python_replay(tmp_path):
    truth = _devices(tmp_path, 5, "w")
    exp = lambda_replay.expected_outputs(truth)
    import pyarrow.parquet as pq

    ev = pq.read_table(truth.events_path).to_pylist()
    fmax = [lambda_replay.EPOCH_MS + x for x in truth.file_max_ts_ms]
    win = lambda_replay.WINDOW_MS
    sums: dict = {}
    for e in ev:
        t = lambda_replay.EPOCH_MS + e["ts_ms"]
        f = e["file"]
        # batch f drops rows whose window closed under batch f - 1's watermark
        late_wm = max(fmax[: f - 1]) - gen.WATERMARK_MS if f >= 2 else None
        if late_wm is not None and t - t % win + win <= late_wm:
            continue
        key = (t - t % win, e["antenna_id"])
        sums[key] = sums.get(key, 0) + e["bytes"]
    final = max(fmax) - gen.WATERMARK_MS
    want = sorted((ws, k, v) for (ws, k), v in sums.items() if ws + win <= final)
    assert exp["speed"]["antenna_bytes_total"] == want
    assert sum(len(v) for v in exp["hourly"].values()) > 0
    assert exp["quota"], "some users must exceed their hourly quota"


def test_lambda_checks_fail_on_one_changed_bytes_hourly_value(tmp_path):
    truth = _devices(tmp_path, 9, "x")
    exp = lambda_replay.expected_outputs(truth)
    speed, hourly, quota = _serving_rows(exp)
    ok = lambda_replay.compare_outputs(exp, speed, hourly, quota, 2)
    assert len(ok) == 3 + 2 and all(passed for _, passed in ok)

    ws, k, v, tag = hourly[0]
    bad = [(ws, k, v + 1.0, tag)] + hourly[1:]
    res = lambda_replay.compare_outputs(exp, speed, bad, quota, 2)
    assert [passed for _, passed in res].count(False) == 1

    res = lambda_replay.compare_outputs(exp, speed[:-1], hourly, quota, 2)
    assert [passed for _, passed in res].count(False) == 1


def test_registry_check_fails_on_a_wrong_hash():
    cols = ["b", "a"]
    rows = [(1, "x"), (2.5, None), (3, "z")]
    got = registry_sweep.result_hash(list(reversed(rows)), cols)
    # same rows in another order and column order: same hash
    assert got == registry_sweep.result_hash([(r[1], r[0]) for r in rows], ["a", "b"])
    assert got != registry_sweep.result_hash([(1, "x"), (2.5, None), (3, "y")], cols)
    assert got != registry_sweep.result_hash(rows[:2], cols)


def test_registry_rows_cover_every_queries_module():
    sys.path.insert(0, os.path.dirname(HERE))
    from kcbdml9_big_data_processing_spark.queries import QUERIES

    mods = {registry_sweep.module_of(QUERIES[n]) for n in registry_sweep.QUERY_NAMES}
    assert mods == set(registry_sweep.MODULES)
    assert all(QUERIES[n].oracle for n in registry_sweep.QUERY_NAMES)


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    units = [{"first_per_s": [1.0], "second_per_s": [2.0, 3.0], "ops": [0.5, 0.7], "wall": (1.0, 2.0)}]
    assert set(run.end_to_end(1.0, units)) == set(e2e)
    declared = set(run.RUN_LAYER_METRICS) | set(lambda_replay.LAYER_METRICS) | set(
        registry_sweep.LAYER_METRICS)
    assert declared == set(layer) and len(layer) == len(set(layer))
    printed = run.result_metrics(spec["end_to_end"], run.end_to_end(1.0, units))
    assert list(printed) == e2e
    with pytest.raises(KeyError):
        run.result_metrics(spec["end_to_end"], {"not_declared": 1.0})


def test_self_time_excludes_overlapping_children():
    tr = Tracer(True, "t")
    tr.spans = [
        {"name": "phase.x", "start": 0.0, "end": 10.0, "parent": None, "run": "t"},
        {"name": "sinks.a", "start": 1.0, "end": 4.0, "parent": 0, "run": "t"},
        {"name": "sinks.b", "start": 3.0, "end": 6.0, "parent": 0, "run": "t"},
        {"name": "jobs.c", "start": 8.0, "end": 9.0, "parent": 0, "run": "t"},
    ]
    assert tr.self_times() == [4.0, 3.0, 3.0, 1.0]
    assert tr.layer_self_s()["sinks"] == 6.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_end_processes_waits_for_grandchildren_and_kills_stragglers():
    import subprocess
    import time

    # a shell whose child ignores SIGTERM and outlives it
    sh = subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 60 & wait"])
    time.sleep(0.3)
    below = run.descendants(sh.pid)
    assert len(below) == 1
    sh.kill()
    sh.wait()
    assert all(run.alive(p, s) for p, s in below)
    t0 = time.monotonic()
    run.end_processes(below, grace_s=0.2)
    assert time.monotonic() - t0 < 5
    assert not any(run.alive(p, s) for p, s in below)

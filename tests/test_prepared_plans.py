"""The registry's per-process caches: the prepared-plan cache in both
call shapes — the plain form hands back the same analyzed DataFrame on
every call, the lifecycle form a fresh Dataset over the same analyzed
plan plus the frames the caller persists per call — and the
scratch-artifact cache behind ``prepared_path``. Tiny ``spark.range``
builds and marker-file writes keep these fast."""

from __future__ import annotations

import os

import pytest

from kcbdml9_big_data_processing_spark.queries.registry import (
    _PREPARED_PATHS,
    _PREPARED_PLANS,
    prepared_lifecycle_plan,
    prepared_path,
    prepared_plan,
)


def _counted(build):
    calls = []

    def wrapped():
        calls.append(1)
        return build()

    return wrapped, calls


def test_plain_form_builds_once_per_key_and_returns_same_object(spark):
    build, calls = _counted(lambda: spark.range(3))
    a = prepared_plan(spark, "t_plain", "sf_a", build)
    assert prepared_plan(spark, "t_plain", "sf_a", build) is a
    assert len(calls) == 1
    # a different sf_dir or name is a different key
    assert prepared_plan(spark, "t_plain", "sf_b", build) is not a
    assert prepared_plan(spark, "t_plain_2", "sf_a", build) is not a
    assert len(calls) == 3
    assert [r.id for r in a.collect()] == [0, 1, 2]


def test_entries_of_other_applications_are_evicted(spark):
    stale = ("not-this-app", "t_stale", "sf_a")
    _PREPARED_PLANS[stale] = object()
    prepared_plan(spark, "t_evict", "sf_a", lambda: spark.range(1))
    assert stale not in _PREPARED_PLANS


def test_lifecycle_form_new_dataset_each_call_same_frames(spark):
    def make():
        base = spark.range(5)
        return base.selectExpr("id * 2 AS x"), [base]

    build, calls = _counted(make)
    out1, frames1 = prepared_lifecycle_plan(spark, "t_life", "sf_a", build)
    out2, frames2 = prepared_lifecycle_plan(spark, "t_life", "sf_a", build)
    assert len(calls) == 1
    assert out1 is not out2
    assert isinstance(frames1, tuple) and len(frames1) == 1
    assert frames2 is frames1
    assert sorted(r.x for r in out2.collect()) == [0, 2, 4, 6, 8]


def test_one_clear_rebuilds_both_forms(spark):
    plain, plain_calls = _counted(lambda: spark.range(2))
    life, life_calls = _counted(lambda: (spark.range(2), [spark.range(1)]))
    for _ in range(2):
        prepared_plan(spark, "t_clear_plain", "sf_a", plain)
        prepared_lifecycle_plan(spark, "t_clear_life", "sf_a", life)
    assert (len(plain_calls), len(life_calls)) == (1, 1)
    _PREPARED_PLANS.clear()
    prepared_plan(spark, "t_clear_plain", "sf_a", plain)
    prepared_lifecycle_plan(spark, "t_clear_life", "sf_a", life)
    assert (len(plain_calls), len(life_calls)) == (2, 2)


def _marker_writer():
    """A ``write`` that records each directory it fills."""
    written = []

    def write(path):
        with open(os.path.join(path, "marker"), "w") as f:
            f.write("x")
        written.append(path)

    return write, written


def test_prepared_path_writes_once_per_key(spark):
    write, written = _marker_writer()
    a = prepared_path(spark, "t_path", "sf_a", write)
    assert prepared_path(spark, "t_path", "sf_a", write) == a
    assert written == [a]
    assert os.path.basename(a).startswith("t_path_")
    assert os.path.isfile(os.path.join(a, "marker"))
    # a different sf_dir or name is a different key, in a fresh dir
    b = prepared_path(spark, "t_path", "sf_b", write)
    c = prepared_path(spark, "t_path_2", "sf_a", write)
    assert written == [a, b, c] and len({a, b, c}) == 3


def test_prepared_path_failed_write_leaves_no_entry(spark):
    tried = []

    def failing(path):
        tried.append(path)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        prepared_path(spark, "t_fail", "sf_a", failing)
    assert not [k for k in _PREPARED_PATHS if k[1] == "t_fail"]
    write, written = _marker_writer()
    path = prepared_path(spark, "t_fail", "sf_a", write)
    assert written == [path] and path != tried[0]
    assert prepared_path(spark, "t_fail", "sf_a", write) == path
    assert written == [path]


def test_prepared_path_evicts_other_applications(spark):
    stale = ("not-this-app", "t_path_stale", "sf_a")
    _PREPARED_PATHS[stale] = "/nonexistent"
    prepared_path(spark, "t_path_evict", "sf_a", _marker_writer()[0])
    assert stale not in _PREPARED_PATHS


def test_clearing_plans_keeps_paths(spark):
    write, written = _marker_writer()
    path = prepared_path(spark, "t_path_keep", "sf_a", write)
    _PREPARED_PLANS.clear()
    assert prepared_path(spark, "t_path_keep", "sf_a", write) == path
    assert written == [path]

"""The crash-safe commit store's meta-log reads (store.py).

Each of the three append-only meta logs — ``gen_meta`` (index
generations), ``bucket_meta`` (ngram compactions), ``run_meta``
(curate runs) — decides "never committed" by a driver-side FS
existence check and lets every other read error propagate: a reader
that swallowed the error would act on a wrong "never committed"
(serve a generational index as legacy, extend a compacted index into
its superseded tail, re-run a full curation).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kcbdml9_big_data_processing_spark import store
from kcbdml9_big_data_processing_spark.jobs import runs as R
from kcbdml9_big_data_processing_spark.queries import dedup as D
from kcbdml9_big_data_processing_spark.queries import similarity as S


def _corrupt(directory: str):
    """Overwrite every parquet data file under ``directory`` with
    non-parquet bytes (dropping its checksum sidecar) so any read
    fails; returns a function that restores the original bytes."""
    saved = {}
    for name in os.listdir(directory):
        if name.endswith(".parquet"):
            path = f"{directory}/{name}"
            with open(path, "rb") as f:
                saved[path] = f.read()
            with open(path, "wb") as f:
                f.write(b"this is not a parquet file")
            crc = f"{directory}/.{name}.crc"
            if os.path.exists(crc):
                os.remove(crc)
    assert saved, f"no parquet file under {directory}"

    def restore():
        for path, blob in saved.items():
            with open(path, "wb") as f:
                f.write(blob)

    return restore


# (meta dir name, schema, row for version v, newest-row reader,
#  version of a row the reader returned)
_LOGS = {
    "gen_meta": (
        "gen_meta",
        store._GEN_META_SCHEMA,
        lambda root, v: (f"{root}/g{v}", v),
        store.gen_meta_row,
        lambda row: row["version"],
    ),
    "bucket_meta": (
        "bucket_meta",
        D._META_SCHEMA,
        lambda root, v: (4, f"{root}/postings_bucketed_v{v}", v,
                         f"{root}/postings_tail_v{v}"),
        D._bucket_meta,
        lambda row: row["version"],
    ),
    "run_meta": (
        "run_meta",
        R._RUN_META_SCHEMA,
        lambda root, v: (v, R.run_dir(root, v), "full"),
        R.latest_run,
        lambda row: row["run_id"],
    ),
}


@pytest.mark.parametrize("log", sorted(_LOGS))
def test_meta_log_absence_is_fs_checked(spark, tmp_path, log):
    """Per meta log: an absent sidecar reads as never committed (None,
    and [] for the run log's all-rows read), an existing but empty one
    too, the newest version wins whatever the append order, and a read
    error propagates instead of reading as never committed. For
    gen_meta the legacy answer also resolves (and caches) the root
    itself as the current generation."""
    name, schema, row_for, latest, version_of = _LOGS[log]
    root = str(tmp_path / "root")
    meta_dir = f"{root}/{name}"

    assert latest(spark, root) is None
    if log == "run_meta":
        assert R.run_rows(spark, root) == []

    os.makedirs(meta_dir)
    assert latest(spark, root) is None
    if log == "gen_meta":
        assert store.gen_current(spark, root) == root

    for v in (1, 3, 2):
        store.meta_append(spark, meta_dir, schema, row_for(root, v))
    assert version_of(latest(spark, root)) == 3
    if log == "run_meta":
        assert [r["run_id"] for r in R.run_rows(spark, root)] == [1, 2, 3]

    _corrupt(meta_dir)
    with pytest.raises(Exception, match="(?i)parquet"):
        latest(spark, root)


def _words(prefix: str, n: int = 10) -> str:
    return " ".join(f"{prefix}w{j}" for j in range(n))


def test_bucket_meta_read_error_stops_extend_and_compact(spark, tmp_path):
    """A failing bucket_meta read must stop the writers. Read as
    "never compacted", extend_dedup_index would append the batch into
    the plain ``postings`` dir that searches of a compacted index no
    longer read (and vacuum deletes as tail generation 0), and
    compact_dedup_index would rewrite ``postings_bucketed_v1`` under
    the live index."""
    root = str(tmp_path / "ngram")
    docs = spark.createDataFrame(
        [(i, _words(f"d{i}")) for i in range(1, 5)], "doc_id long, text string"
    )
    D.build_dedup_index(docs, root)
    gdir = store.gen_current(spark, root)
    try:
        D.compact_dedup_index(spark, root, n_buckets=2)
        base_files = sorted(os.listdir(f"{gdir}/postings_bucketed_v1"))
        plain_rows = spark.read.parquet(f"{gdir}/postings").count()
        batch = spark.createDataFrame(
            [(50, _words("d50"))], "doc_id long, text string"
        )

        restore = _corrupt(f"{gdir}/bucket_meta")
        with pytest.raises(Exception, match="(?i)parquet"):
            D.extend_dedup_index(batch, root)
        with pytest.raises(Exception, match="(?i)parquet"):
            D.compact_dedup_index(spark, root, n_buckets=2)
        assert spark.read.parquet(f"{gdir}/postings").count() == plain_rows
        assert sorted(os.listdir(f"{gdir}/postings_bucketed_v1")) == base_files
        assert not os.path.exists(f"{gdir}/postings_bucketed_v2")

        # once the read recovers, the extend lands in the current tail
        restore()
        spark.catalog.refreshByPath(f"{gdir}/bucket_meta")
        D.extend_dedup_index(batch, root)
        tail = spark.read.parquet(f"{gdir}/postings_tail_v1")
        assert {r["doc_id"] for r in tail.collect()} == {50}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.bucketed_table_name(gdir)}")


def test_sem_meta_read_error_propagates_and_is_not_cached(spark, tmp_path):
    """A failing read of a semantic index's blocking meta must raise,
    not default to plain label blocking — and never cache that
    default: a label_ivf index searched with label blocking silently
    drops candidate pairs. An index with no meta dir (an FS check)
    still reads as label blocking."""
    from conftest import SF_SMOKE

    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    corpus = (
        read_table(spark, SF_SMOKE, "embeddings")
        .where(F.col("vec_id") % 4 == 0)
        .select(
            "vec_id",
            F.lit("all").alias("label"),
            F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
        )
    )
    root = str(tmp_path / "sem")
    S.build_semantic_index(corpus, root, n_cells=4)
    gdir = store.gen_current(spark, root)
    S._SEM_META_CACHE.pop(gdir, None)

    restore = _corrupt(f"{gdir}/meta")
    with pytest.raises(Exception, match="(?i)parquet"):
        S._sem_meta(spark, root)
    assert gdir not in S._SEM_META_CACHE

    restore()
    spark.catalog.refreshByPath(f"{gdir}/meta")
    assert S._sem_meta(spark, root) == {"blocking": "label_ivf", "n_cells": 4}

    S._SEM_META_CACHE.pop(gdir, None)
    shutil.rmtree(f"{gdir}/meta")
    assert S._sem_meta(spark, root)["blocking"] == "label"
    S._SEM_META_CACHE.pop(gdir, None)

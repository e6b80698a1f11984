"""``registry_sweep``: the named query registry behind ``__spark_entry__``.

A fixed set of registry rows, one from each ``queries`` module, over
star-schema tables generated from a fixed seed; the run's seed permutes
the query order. Each unit copies the tables into a fresh directory, so
the prepared-plan caches in ``queries/registry.py`` (keyed by input
directory) miss on the first pass and hit on the repeat passes. Every
query is materialized to the noop sink on every pass. There is no
warm-up: the first pass also pays the JVM's class loading and
compilation, as a fresh process that calls each query once does.
Outputs are checked against each row's DuckDB oracle, outside the timed
passes, once per run.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import duckdb
import numpy as np

import gen
from common import Workload
from tracing import SPARK_COUNTERS, job_group, spark_counters

#: one row per ``queries`` module, each cheap at sf0.001
#: and with an oracle DuckDB runs in well under a second, so a cold
#: first pass, the repeat passes and the checks fit one run
QUERY_NAMES = (
    "pricing_summary",          # olap
    "bytes_90s",                # parity
    "knn_centroid_suite",       # similarity
    "dedup_exact_suite",        # dedup
    "stream_bytes_90s_suite",   # stream
    "lang_profile",             # text
    "span_scrub",               # curation
    "multimodal_frame_sample",  # multimodal
    "skew_salted_agg",          # scale
    "cdc_orders_suite",         # cdc
)
MODULES = ("olap", "parity", "similarity", "dedup", "stream", "text", "curation",
           "multimodal", "scale", "cdc")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
DATA_SEED = 42
REPEAT_PASSES = 3
LAYER_METRICS = (
    *(f"spark.{p}.{c}" for p in ("registry_first", "registry_repeat") for c in SPARK_COUNTERS),
    *(f"queries.{m}.{k}.{p}" for m in MODULES for k in ("build_s", "exec_s")
      for p in ("first", "repeat")),
)


def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


class RegistrySweep(Workload):
    def prepare(self, d: str) -> None:
        gen.registry_tables(DATA_SEED, d)
        self.data = d
        order = np.random.default_rng(self.seed).permutation(len(QUERY_NAMES))
        self.names = [QUERY_NAMES[i] for i in order]

    def warm_up(self) -> None:
        """None: the first pass runs on a fresh JVM, as it does for a
        process that calls each query once."""

    def fresh_copy(self, tag: str) -> str:
        d = os.path.join(self.work, f"sf-{tag}")
        shutil.copytree(self.data, d)
        return d

    def sweep(self, sf_dir: str, phase: str) -> tuple[list[float], float]:
        """One pass: build and noop-write every query; returns the
        per-query walls and the pass wall."""
        from kcbdml9_big_data_processing_spark.queries import QUERIES

        walls = []
        a = time.perf_counter()
        with self.tracer.span(f"phase.{phase}", root=True), job_group(self.spark, phase):
            for name in self.names:
                spec = QUERIES[name]
                mod = module_of(spec)
                s = time.perf_counter()
                with self.tracer.span(f"queries.{mod}.build"):
                    df = spec.fn(self.spark, sf_dir)
                b = time.perf_counter()
                with self.tracer.span(f"queries.{mod}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                e = time.perf_counter()
                walls.append(e - s)
                if self.tracer.enabled:  # per pass
                    share = 1 / REPEAT_PASSES if phase == "registry_repeat" else 1
                    self.layer.add(f"queries.{mod}.build_s.{phase[9:]}", (b - s) * share)
                    self.layer.add(f"queries.{mod}.exec_s.{phase[9:]}", (e - b) * share)
        return walls, time.perf_counter() - a

    def unit(self) -> dict:
        sf_dir = self.fresh_copy(str(self.n_units))
        t0 = time.time()
        first, first_s = self.sweep(sf_dir, "registry_first")
        t1 = time.time()
        repeats = [self.sweep(sf_dir, "registry_repeat") for _ in range(REPEAT_PASSES)]
        t2 = time.time()
        if self.tracer.enabled:
            for phase, window, passes in (("registry_first", (t0, t1), 1),
                                          ("registry_repeat", (t1, t2), REPEAT_PASSES)):
                for k, v in spark_counters(self.spark, *window).items():
                    self.layer.add(f"spark.{phase}.{k}", v / passes)
        self.last_dir = sf_dir
        n = len(self.names)
        repeat_s = [s for _, s in repeats]
        return {"first_per_s": [n / first_s], "second_per_s": [n / s for s in repeat_s],
                "ops": [w for walls, _ in repeats for w in walls],
                "wall": (first_s, sum(repeat_s))}

    def finish(self) -> None:
        """Each query's rows against its oracle: row count plus an
        order-insensitive hash of the values, columns sorted by name."""
        from kcbdml9_big_data_processing_spark.queries import QUERIES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.last_dir}/{t}.parquet'")
        for name in self.names:
            spec = QUERIES[name]
            df = spec.fn(self.spark, self.last_dir)
            got = result_hash([tuple(r) for r in df.collect()], df.columns)
            res = con.execute(spec.oracle)
            want = result_hash(res.fetchall(), [c[0] for c in res.description])
            self.attempt(got == want, f"{name}: {got[0]} rows vs oracle {want[0]},"
                                      f" hashes {got[1][:12]} / {want[1][:12]}")
        con.close()


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def result_hash(rows, columns) -> tuple[int, str]:
    """(row count, sha256 over the sorted rows with columns sorted by name)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_norm(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return len(rows), h.hexdigest()


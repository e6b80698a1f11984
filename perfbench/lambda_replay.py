"""``lambda_replay``: the paper's whole lambda flow, replayed from files.

Speed phase: JSON-lines files -> ``sources.files.read_file_stream``
(one file per trigger) -> ``operators.parse.parse_json_payload`` ->
``streaming.job.StreamingJob`` (three watermarked 90 s window sums into
the JDBC ``bytes`` table, plus the hour-partitioned parquet archive),
run with ``availableNow``. Batch phase: for each event-hour,
``jobs.batch.BatchJob.run`` over ``sources.parquet.read_partitioned_archive``
and the ``user_metadata`` dimension read with ``sources.jdbc.read_jdbc``,
writing ``bytes_hourly`` and ``user_quota_limit``. All tables live in an
embedded Derby database.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

import gen
from common import Workload
from tracing import SPARK_COUNTERS, job_group, spark_counters

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
TYPES = ("antenna_bytes_total", "user_bytes_total", "app_bytes_total")
HOURLY_TYPES = ("antenna_bytes_total", "email_bytes_total", "app_bytes_total")
EPOCH_MS = int(gen.EPOCH.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
WINDOW_MS = 90_000
HOUR_MS = 3_600_000

LAYER_METRICS = (
    *(f"spark.{p}.{c}" for p in ("speed", "batch") for c in SPARK_COUNTERS),
    "streaming.batches", "streaming.add_batch_s", "streaming.query_planning_s",
    "streaming.offset_commit_s", "sources.latest_offset_s", "streaming.state_rows_peak",
    "streaming.state_commit_s", "streaming.rows_dropped_by_watermark",
    "sinks.jdbc_write_s", "sinks.jdbc_rows", "sinks.archive_add_batch_s",
    "sinks.archive_files", "sinks.archive_bytes",
    "jobs.batch_run_s", "jobs.batch_first_output_s", "jobs.batch_fanout_s",
    "sources.archive_rows_read",
)

N_EVENTS = 8_000
N_FILES = 4
HOURS = 4


class LambdaReplay(Workload):
    _expected: dict | None = None

    def prepare(self, d: str) -> None:
        self.truth = gen.device_messages(
            self.seed, os.path.join(d, "in"), os.path.join(d, "truth.parquet"),
            N_EVENTS, N_FILES, HOURS,
        )
        self.dir = d
        ts = pq.read_table(self.truth.events_path, columns=["ts_ms"])["ts_ms"].to_pylist()
        self.hour_rows = [0] * HOURS
        for t in ts:
            self.hour_rows[t // HOUR_MS] += 1

    def warm_up(self) -> None:
        """Provision Derby and replay the input once: a smaller replay
        left the first measured unit about 10 % slower than the next."""
        self.url = f"jdbc:derby:{self.dir}/serving;create=true"
        self.provision(self.truth.users)
        self.reset_tables()
        self.replay(os.path.join(self.dir, "in"), os.path.join(self.work, "warmup"), HOURS)

    # -- Derby ---------------------------------------------------------

    def provision(self, users) -> None:
        spark = self.spark
        with self.tracer.span("sinks.jdbc.provision"):
            dim = spark.createDataFrame(users, "id string, name string, email string, quota long")
            self.jdbc_write(dim, "user_metadata", "overwrite")
            empty = spark.createDataFrame(
                [], "timestamp timestamp, id string, value long, type string"
            )
            self.jdbc_write(empty, "bytes", "overwrite")

    def jdbc_write(self, df, table: str, mode: str = "append") -> None:
        from kcbdml9_big_data_processing_spark.sinks.jdbc import write_jdbc

        write_jdbc(df, self.url, table, driver=DERBY, mode=mode,
                   max_connections=self.cpus)

    def sql(self, statement: str) -> None:
        jvm = self.spark._jvm
        jvm.java.lang.Class.forName(DERBY)
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            conn.createStatement().executeUpdate(statement)
        finally:
            conn.close()

    def reset_tables(self) -> None:
        """Empty the speed table; drop the batch tables, which the
        first hourly write of a replay creates."""
        from py4j.protocol import Py4JJavaError

        self.sql("DELETE FROM bytes")
        for t in ("bytes_hourly", "user_quota_limit"):
            try:
                self.sql(f"DROP TABLE {t}")
            except Py4JJavaError as e:  # first replay: not created yet
                if "does not exist" not in str(e):
                    raise

    # -- one replay ----------------------------------------------------

    def replay(self, src: str, out: str, hours: int) -> dict:
        """Run the speed phase then the batch phase once; returns the
        phase walls, per-batch trigger times and hourly run walls."""
        from kcbdml9_big_data_processing_spark.jobs.batch import BatchJob, BatchJobConfig
        from kcbdml9_big_data_processing_spark.operators.parse import parse_json_payload
        from kcbdml9_big_data_processing_spark.schemas import DEVICE_MESSAGE_SCHEMA
        from kcbdml9_big_data_processing_spark.sources.files import read_file_stream
        from kcbdml9_big_data_processing_spark.sources.jdbc import read_jdbc
        from kcbdml9_big_data_processing_spark.sources.parquet import read_partitioned_archive
        from kcbdml9_big_data_processing_spark.streaming.job import (
            StreamingJob, StreamingJobConfig,
        )

        spark, tr = self.spark, self.tracer
        archive = os.path.join(out, "archive")

        sink_s: list[float] = []

        def metric_writer(batch_df, batch_id: int) -> None:
            s = time.perf_counter()
            with tr.span("sinks.jdbc.write_jdbc"):
                self.jdbc_write(batch_df, "bytes")
            sink_s.append(time.perf_counter() - s)

        t0 = time.time()
        with tr.span("phase.speed", root=True), job_group(spark, "speed"):
            with tr.span("sources.files.read_file_stream"):
                raw = read_file_stream(spark, src, _TEXT_SCHEMA(), fmt="text",
                                       max_files_per_trigger=1)
            with tr.span("operators.parse.parse_json_payload"):
                parsed = parse_json_payload(raw, "value", DEVICE_MESSAGE_SCHEMA)
            job = StreamingJob(spark, StreamingJobConfig(
                metrics=[("antenna_id", TYPES[0]), ("id", TYPES[1]), ("app", TYPES[2])],
                archive_path=archive,
                checkpoint_root=os.path.join(out, "ckpt"),
                available_now=True,
            ))
            try:
                with tr.span("streaming.job.start"):
                    job.start(parsed, metric_writer)
                # foreachBatch callbacks run on other threads; their
                # sink spans nest under this one
                with tr.span("streaming.job.await_all", root=True):
                    job.await_all()
            finally:
                job.stop()
        t1 = time.time()
        progress = [
            [json.loads(p.json()) for p in q._jsq.recentProgress()] for q in job.queries
        ]

        cfg = BatchJobConfig(
            fact_key="id", dim_key="id", ts_col="timestamp", value_col="bytes",
            metrics=list(zip(("antenna_id", "email", "app"), HOURLY_TYPES)),
            quota_user_col="email", quota_col="quota",
        )
        hour_walls, first_out, fanout = [], [], []
        with tr.span("phase.batch", root=True), job_group(spark, "batch"):
            for h in range(hours):
                at = gen.EPOCH + dt.timedelta(hours=h)
                a = time.perf_counter()
                with tr.span("sources.parquet.read_partitioned_archive"):
                    fact = read_partitioned_archive(spark, archive, at)
                with tr.span("sources.jdbc.read_jdbc"):
                    dim = read_jdbc(spark, self.url, "user_metadata", driver=DERBY)
                outs: list[float] = []

                def write(name: str, df) -> None:
                    s = time.perf_counter()
                    table = "user_quota_limit" if name == "quota_violations" else "bytes_hourly"
                    with tr.span("sinks.jdbc.write_jdbc"):
                        self.jdbc_write(df, table)
                    outs.append(time.perf_counter() - s)

                with tr.span("jobs.batch.run"):
                    BatchJob(cfg).run(fact, dim, write)
                hour_walls.append(time.perf_counter() - a)
                first_out.append(outs[0])
                fanout.append(sum(outs[1:]))
        t2 = time.time()
        return {"speed": (t0, t1), "batch": (t1, t2), "progress": progress,
                "hours": hour_walls, "first_out": first_out, "fanout": fanout,
                "archive": archive, "sink_s": sink_s}

    def unit(self) -> dict:
        out = os.path.join(self.work, f"replay{self.n_units}")
        self.reset_tables()
        r = self.replay(os.path.join(self.dir, "in"), out, HOURS)
        self.check_replay()
        trig = [
            p["durationMs"]["triggerExecution"] / 1e3 for q in r["progress"] for p in q
            if p["numInputRows"] > 0
        ]
        speed_s = r["speed"][1] - r["speed"][0]
        batch_s = r["batch"][1] - r["batch"][0]
        if self.tracer.enabled:
            self.trace_counters(r)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "first_per_s": [self.truth.n_events / speed_s],
            # one sample per hourly run: a stall hits a few, not the median
            "second_per_s": [n / w for n, w in zip(self.hour_rows, r["hours"])],
            "ops": trig,
            "wall": (speed_s, batch_s),
        }

    # -- layer counters (traced run) -----------------------------------

    def trace_counters(self, r: dict) -> None:
        m = self.layer
        for phase in ("speed", "batch"):
            for k, v in spark_counters(self.spark, *r[phase]).items():
                m.add(f"spark.{phase}.{k}", v)
        metric_q, archive_q = r["progress"][:3], r["progress"][3]

        def ds(p: dict, *keys: str) -> float:
            return sum(p["durationMs"].get(k, 0) for k in keys) / 1e3

        for q in r["progress"]:
            for p in q:
                m.add("streaming.batches", 1)
                m.add("streaming.query_planning_s", ds(p, "queryPlanning"))
                m.add("streaming.offset_commit_s", ds(p, "walCommit", "commitOffsets"))
                m.add("sources.latest_offset_s", ds(p, "latestOffset", "getBatch"))
        for q in metric_q:
            for p in q:
                m.add("streaming.add_batch_s", ds(p, "addBatch"))
                for op in p.get("stateOperators", []):
                    m.peak("streaming.state_rows_peak", op["numRowsTotal"])
                    m.add("streaming.state_commit_s", op["commitTimeMs"] / 1e3)
                    m.add("streaming.rows_dropped_by_watermark",
                          op.get("numRowsDroppedByWatermark", 0))
        for p in archive_q:
            m.add("sinks.archive_add_batch_s", ds(p, "addBatch"))
        files, nbytes = walk_bytes(r["archive"], ".parquet")
        m.add("sinks.archive_files", files)
        m.add("sinks.archive_bytes", nbytes)
        m.add("sinks.jdbc_write_s", sum(r["sink_s"]))
        m.add("sinks.jdbc_rows", self.read_table("bytes").count())
        m.add("sources.archive_rows_read", self.spark.read.parquet(r["archive"]).count())
        m.add("jobs.batch_run_s", sum(r["hours"]))
        m.add("jobs.batch_first_output_s", sum(r["first_out"]))
        m.add("jobs.batch_fanout_s", sum(r["fanout"]))

    # -- output checks -------------------------------------------------

    def read_table(self, table: str):
        from kcbdml9_big_data_processing_spark.sources.jdbc import read_jdbc

        return read_jdbc(self.spark, self.url, table, driver=DERBY)

    def check_replay(self) -> None:
        """Read the serving tables back and compare them with DuckDB."""
        from pyspark.sql import functions as F

        if self._expected is None:
            self._expected = expected_outputs(self.truth)
        speed = self.read_table("bytes").select(
            F.unix_millis("timestamp"), "id", "value", "type").collect()
        hourly = self.read_table("bytes_hourly").select(
            F.unix_millis("timestamp"), "id", "value", "type").collect()
        quota = self.read_table("user_quota_limit").select(
            "email", "usage", "quota", F.unix_millis("timestamp")).collect()
        for what, ok in compare_outputs(self._expected, speed, hourly, quota, HOURS):
            self.attempt(ok, what)


def expected_outputs(truth: gen.DeviceTruth) -> dict:
    """Expected serving tables, computed by DuckDB from the generated
    events and dimension.

    ``bytes`` applies Spark's per-micro-batch watermark rule. With one
    file per trigger, batch ``f`` evicts with the watermark ``max event
    time of files < f`` minus 15 s, and drops rows whose 90 s window
    ended at or before the previous batch's watermark; the watermark
    after the last file closes the windows emitted. The archive keeps
    every row, so the hourly tables cover all events."""
    fmax = [EPOCH_MS + x for x in truth.file_max_ts_ms]
    # wm[f]: the watermark batch f evicts with; late rows use wm[f - 1]
    wm = [None] + [max(fmax[: f + 1]) - gen.WATERMARK_MS for f in range(len(fmax))]
    late = [None] + wm[:-1]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE wm (file INT, w BIGINT)")
        con.executemany("INSERT INTO wm VALUES (?, ?)",
                        [(f, late[f]) for f in range(len(fmax))])
        con.execute(f"CREATE VIEW ev AS SELECT *, {EPOCH_MS} + ts_ms AS abs_ms"
                    f" FROM '{truth.events_path}'")
        con.execute("CREATE TABLE users (id VARCHAR, email VARCHAR, quota BIGINT)")
        con.executemany("INSERT INTO users VALUES (?, ?, ?)",
                        [(u[0], u[2], u[3]) for u in truth.users])
        speed = {}
        for key, tag in zip(("antenna_id", "id", "app"), TYPES):
            speed[tag] = sorted(con.execute(f"""
                SELECT abs_ms - abs_ms % {WINDOW_MS} AS ws, {key} AS k, SUM(bytes)::BIGINT
                FROM ev JOIN wm USING (file)
                WHERE w IS NULL OR abs_ms - abs_ms % {WINDOW_MS} + {WINDOW_MS} > w
                GROUP BY 1, 2
                HAVING ws + {WINDOW_MS} <= {wm[-1]}
            """).fetchall())
        hourly = {}
        for key, tag in zip(("antenna_id", "email", "app"), HOURLY_TYPES):
            hourly[tag] = sorted(con.execute(f"""
                SELECT abs_ms - abs_ms % {HOUR_MS} AS hs, {key} AS k, SUM(bytes)::DOUBLE
                FROM ev JOIN users USING (id) GROUP BY 1, 2
            """).fetchall())
        quota = sorted(con.execute(f"""
            SELECT email, SUM(bytes)::DOUBLE AS usage, quota,
                   abs_ms - abs_ms % {HOUR_MS} AS hs
            FROM ev JOIN users USING (id) GROUP BY email, quota, hs HAVING usage > quota
        """).fetchall())
    finally:
        con.close()
    return {"speed": speed, "hourly": hourly, "quota": quota}


def compare_outputs(expected: dict, speed, hourly, quota, hours: int) -> list[tuple[str, bool]]:
    """One operation per metric type of ``bytes`` and one per hourly
    batch run, each with whether its rows equal the expected ones.

    ``speed`` and ``hourly`` rows are (window start ms, id, value,
    type); ``quota`` rows are (email, usage, quota, hour start ms)."""
    out = []
    for tag in TYPES:
        rows = sorted((r[0], r[1], int(r[2])) for r in speed if r[3] == tag)
        want = expected["speed"][tag]
        diff = sorted(set(rows) ^ set(want))[:3]
        out.append((f"bytes/{tag}: {len(rows)} rows, expected {len(want)};"
                    f" first differences {diff}", rows == want))
    for h in range(hours):
        hs = EPOCH_MS + h * HOUR_MS
        ok = all(
            sorted((r[0], r[1], r[2]) for r in hourly if r[3] == tag and r[0] == hs)
            == [e for e in expected["hourly"][tag] if e[0] == hs]
            for tag in HOURLY_TYPES
        ) and sorted(
            (r[0], r[1], r[2], r[3]) for r in quota if r[3] == hs
        ) == [e for e in expected["quota"] if e[3] == hs]
        out.append((f"batch hour {h}: bytes_hourly or user_quota_limit differs", ok))
    return out


def walk_bytes(path: str, suffix: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path`` ending in ``suffix``."""
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def _TEXT_SCHEMA():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("value", T.StringType())])

"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` under ``.perfbench/`` in the checkout, which is removed
at exit. The run sets up (session start, input generation repeated
three times, the workload's warm-up), then repeats the workload's unit
in a closed loop from one process until ``--seconds`` of measured time
have passed, and checks the outputs. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). Every path out of the run stops the JVM and waits
until it, and every process it started, has ended.

With ``--trace 1`` every unit is traced: spans are written to
``.perfbench-traces/``, layer counters are read after each phase, and
``trace.overhead_s`` is the time spent recording spans. The traced
phase walls (``trace.wall_s``) against the untraced ones give the
overhead end to end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from tracing import LAYERS, Tracer, cpu_times, jvm_peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lambda_replay", "registry_sweep")
PREPARE_REPEATS = 3

#: per-layer metrics every traced run reports; the workloads add their own
RUN_LAYER_METRICS = (
    *(f"self_s.{layer}" for layer in LAYERS),
    "session.start_s", "peak_rss_mb", "host.steal_share", "op_p90_s", "op_samples",
    "trace.wall_s", "trace.unaccounted_s", "trace.overhead_s", "failed_ratio",
)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def workload_class(name: str):
    if name == "lambda_replay":
        from lambda_replay import LambdaReplay as cls
    else:
        from registry_sweep import RegistrySweep as cls
    return cls


def end_to_end(setup_s: float, units: list[dict]) -> dict:
    ops = [x for u in units for x in u["ops"]]
    return {
        "setup_s": setup_s,
        "first_items_per_s": statistics.median(x for u in units for x in u["first_per_s"]),
        "second_items_per_s": statistics.median(x for u in units for x in u["second_per_s"]),
        "op_p50_s": statistics.median(ops),
    }


def per_layer(wl, tracer: Tracer, units: list[dict], session_s: float,
              rss_mb: float, steal_share: float) -> dict:
    n = len(units)
    m = wl.layer.per_unit(n)
    for layer, s in tracer.layer_self_s().items():
        m[f"self_s.{layer}"] = s / n
    # phase time that no layer span covers
    m["trace.unaccounted_s"] = sum(
        t for s, t in zip(tracer.spans, tracer.self_times())
        if s["name"].startswith("phase.")
    ) / n
    m["trace.wall_s"] = statistics.median(sum(u["wall"]) for u in units)
    m["trace.overhead_s"] = tracer.overhead_s / n
    m["session.start_s"] = session_s
    m["peak_rss_mb"] = rss_mb
    m["host.steal_share"] = steal_share
    ops = [x for u in units for x in u["ops"]]
    m["op_p90_s"] = percentile(ops, 0.9)
    m["op_samples"] = len(ops)
    m["failed_ratio"] = wl.failed / max(1, wl.attempted)
    return m


def result_metrics(declared: list[dict], values: dict) -> dict:
    """Every declared metric by name with its unit; a metric of the
    other workload reads 0. A computed name that is not declared is a
    benchmark bug and raises."""
    names = {m["name"] for m in declared}
    extra = sorted(set(values) - names)
    if extra:
        raise KeyError(f"metrics missing from BENCHMARK.json: {extra}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared}


def _proc_stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name, or
    None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        f = _proc_stat(int(d)) if d.isdigit() else None
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(d))
            start[int(d)] = f[19]
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append((c, start[c]))
            todo.append(c)
    return out


def alive(pid: int, start: str) -> bool:
    """Whether the process ``pid`` that started at ``start`` still runs
    (a zombie has ended; a reused pid is another process)."""
    f = _proc_stat(pid)
    return f is not None and f[19] == start and f[0] not in "ZX"


def end_processes(procs: list[tuple[int, str]], grace_s: float = 20.0) -> None:
    """Wait until every process in ``procs`` has ended: SIGTERM those
    left after ``grace_s``, SIGKILL those left after twice that."""
    t0 = time.monotonic()
    sent = 0
    while True:
        left = [(p, s) for p, s in procs if alive(p, s)]
        if not left:
            return
        waited = time.monotonic() - t0
        if sent < 2 and waited >= grace_s * (sent + 1):
            for p, _ in left:
                try:
                    os.kill(p, signal.SIGKILL if sent else signal.SIGTERM)
                except OSError:
                    pass
            sent += 1
        time.sleep(0.05)


def stop_jvm() -> None:
    """Stop Spark and wait until its JVM and every process the JVM
    started have ended. The JVM exits by itself when its stdin closes,
    but only once this process has already gone, so the pipe is closed
    and the JVM waited for here."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    try:
        if sc is not None:
            sc.stop()
    except Exception as e:  # an interrupted run can leave py4j unusable
        print(f"stopping Spark failed: {e!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    below = descendants(proc.pid)
    if proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    end_processes(below)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cpus = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every file the run writes stays inside the checkout
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    sys.path.insert(0, ROOT)
    # a terminated run still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        return run(args, spec, work, cpus)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass


def run(args, spec: dict, work: str, cpus: int) -> int:
    cls = workload_class(args.workload)
    t0 = time.perf_counter()
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            # -XX:-UsePerfData: no /tmp/hsperfdata file
            "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -XX:-UsePerfData"
            f" -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(False, f"{args.workload}-{args.seed}")
        wl = cls(spark, work, args.seed, tracer, cpus)
        prep = []
        for i in range(PREPARE_REPEATS):
            a = time.perf_counter()
            wl.prepare(os.path.join(work, f"prep{i}"))
            prep.append(time.perf_counter() - a)
        a = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - a
        setup_s = session_s + statistics.median(prep) + warm_s
        print(f"setup: session {session_s:.2f} s, prepare {statistics.median(prep):.2f} s,"
              f" warm-up {warm_s:.2f} s", file=sys.stderr)

        tracer.enabled = bool(args.trace)
        cpu0 = cpu_times()
        units: list[dict] = []
        measured = 0.0
        while measured < args.seconds or not units:
            with tracer.span(f"unit.{args.workload}", root=True):
                u = wl.unit()
            print(f"unit {len(units)}: phases {u['wall'][0]:.2f} s, {u['wall'][1]:.2f} s",
                  file=sys.stderr)
            wl.n_units += 1
            units.append(u)
            measured += sum(u["wall"])
        tracer.enabled = False
        cpu1 = cpu_times()
        # CPU time the hypervisor gave to other guests while measuring
        steal_share = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        print(f"host steal share while measuring: {steal_share:.3f}", file=sys.stderr)
        wl.finish()

        if args.trace:
            values = per_layer(wl, tracer, units, session_s, jvm_peak_rss_mb(spark),
                               steal_share)
            declared = spec["per_layer"]
            os.makedirs(os.path.join(ROOT, ".perfbench-traces"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench-traces", f"{args.workload}-{args.seed}.jsonl"))
        else:
            values = end_to_end(setup_s, units)
            declared = spec["end_to_end"]
        for what in wl.failures:
            print(f"FAILED CHECK: {what}", file=sys.stderr)
        print(json.dumps({
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": result_metrics(declared, values),
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())

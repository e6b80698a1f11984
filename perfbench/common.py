"""What every workload shares: the operation tally and layer counters."""

from __future__ import annotations


class LayerMetrics:
    """Per-layer counters summed over the traced units (peaks kept as max)."""

    def __init__(self):
        self.sums: dict[str, float] = {}
        self.peaks: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.sums[name] = self.sums.get(name, 0.0) + value

    def peak(self, name: str, value: float) -> None:
        self.peaks[name] = max(self.peaks.get(name, 0.0), value)

    def per_unit(self, units: int) -> dict[str, float]:
        out = {k: v / max(1, units) for k, v in self.sums.items()}
        out.update(self.peaks)
        return out


class Workload:
    """One workload: ``prepare`` builds inputs (repeated during set-up),
    ``warm_up`` runs once at the end of set-up, ``unit`` is one measured
    closed-loop iteration and ``finish`` holds checks made once after
    the measured loop.

    ``unit`` returns ``first_per_s`` and ``second_per_s`` (samples of
    items per second through the workload's two phases, pooled over
    the units before the median is taken), ``ops`` (the walls of its
    repeated operation) and ``wall`` (the two phase walls)."""

    def __init__(self, spark, work: str, seed: int, tracer, cpus: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.cpus = cpus
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer = LayerMetrics()
        self.n_units = 0

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def prepare(self, d: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def unit(self) -> dict:
        raise NotImplementedError

    def finish(self) -> None:
        """Checks that run once after the measured loop."""

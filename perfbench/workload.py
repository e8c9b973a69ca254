"""What every workload shares: the run context, one unit of measured
work, and the interface ``run.py`` drives."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from harness import JobMeter, Tracer


@dataclass
class Ctx:
    """Per-run state the workloads read."""

    seed: int
    workdir: str
    cpus: int
    tracer: Tracer
    spark: object = None
    jobs: JobMeter | None = None


@dataclass
class Unit:
    """One unit of work: a table sync, a micro-batch or a query key."""

    name: str
    seconds: float
    rows: int = 0
    ok: bool = True
    detail: dict = field(default_factory=dict)


class Workload:
    """Interface ``run.py`` drives.

    ``setup`` makes the inputs, seeds the stores and runs a warm-up pass,
    leaving the state the measured passes use. ``prepare`` makes a pass's
    inputs before its timer starts. ``run_pass`` returns the pass's
    units. ``check`` runs after the last pass, untimed, and returns one
    message per failed output check. ``min_units`` is the number of
    units a run always measures; the tail percentile is fixed from it.
    """

    name = ""
    min_passes = 2
    units_per_pass = 1
    unit_kind = "unit"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    @property
    def min_units(self) -> int:
        return self.min_passes * self.units_per_pass

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.workdir, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, pass_id: int) -> None:
        """Make the inputs of pass ``pass_id`` (untimed)."""

    def run_pass(self, pass_id: int) -> list[Unit]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def layer_metrics(self, passes: list[list[Unit]]) -> dict[str, float]:
        return {}

    def stored_bytes_ratio(self) -> float | None:
        return None

    def close(self) -> None:
        """Release what the workload holds open (databases)."""

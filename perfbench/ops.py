"""The op record and the closed-loop client every workload shares."""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    name: str
    pass_id: int
    seconds: float = 0.0
    error: str = ""
    layers: dict = field(default_factory=dict)  # traced passes only

    @property
    def ok(self) -> bool:
        return not self.error


@dataclass
class Context:
    """What a workload gets from the runner."""

    spark: object
    seed: int
    data_dir: str
    work_dir: str
    tracer: object
    inject: str | None = None  # name of a deliberate fault, tests only

    def rng(self, *salt) -> random.Random:
        """A generator fixed by the seed and ``salt`` alone."""
        return random.Random(":".join(map(str, (self.seed,) + salt)))


def timed(op: Op, fn):
    """Run ``fn`` as ``op``'s timed body. An exception fails the op and the
    client moves on, as a caller retrying the next request would."""
    t0 = time.perf_counter()
    try:
        result = fn()
    except Exception as e:  # noqa: BLE001 — the closed loop must keep running
        op.seconds = time.perf_counter() - t0
        op.error = f"{type(e).__name__}: {e}"[:500]
        return None
    op.seconds = time.perf_counter() - t0
    return result


def check(op: Op, problem: str) -> None:
    """Record a failed output check against ``op``."""
    if problem:
        op.error = f"{op.error}; {problem}" if op.error else f"check: {problem}"

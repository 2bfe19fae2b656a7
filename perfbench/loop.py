"""One client, closed loop: the next op starts only after the previous one
has finished and been checked.

Each round runs every op type once, in an order drawn from the seed, so a
run always holds whole rounds and the op mix is the same on every seed. A
run holds at least one round, and ends at the round boundary nearest to the
requested run length.
"""

from __future__ import annotations

import math
import random
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

from stats import median


@dataclass
class Op:
    name: str
    build: Callable[[], object]  # the public call(s) that plan the op
    action: Callable[[object], object]  # runs it; returns what check reads
    check: Callable[[object], str | None]  # None when the result is right
    input_bytes: int  # on-disk bytes of the input files the op scans


@dataclass
class Sample:
    op: str
    op_id: int
    latency_s: float
    error: str | None  # failure or wrong result; None when correct
    traced: bool


def run_op(op: Op, op_id: int, tracer) -> Sample:
    """Time ``op`` from its public call to the end of its action, then check
    the result outside the timed region."""
    tracer.op = op_id
    start = time.perf_counter()
    try:
        with tracer.span(f"op.{op.name}"):
            with tracer.span("build"):
                planned = op.build()
            with tracer.span("action"):
                result = op.action(planned)
        latency = time.perf_counter() - start
        error = None
    except Exception as exc:  # a failed op is counted, never fatal
        latency = time.perf_counter() - start
        traceback.print_exc(file=sys.stderr)
        error = f"{type(exc).__name__}: {exc}"
    finally:
        tracer.op = None
    if error is None:
        error = op.check(result)
    return Sample(op.name, op_id, latency, error, tracer.active)


class Loop:
    def __init__(self, ops: list[Op], seed: int):
        self.ops = ops
        self._rng = random.Random(seed)
        self._next_id = 0

    def round(self, tracer, around=None) -> list[Sample]:
        """One op of each type in seeded order. ``around(op_id)`` is an
        optional context manager entered around each op (traced rounds)."""
        out = []
        for op in self._rng.sample(self.ops, len(self.ops)):
            op_id = self._next_id
            self._next_id += 1
            if around is None:
                out.append(run_op(op, op_id, tracer))
            else:
                with around(op_id):
                    out.append(run_op(op, op_id, tracer))
        return out


def another_round(elapsed_s: float, last_round_s: float, seconds: float) -> bool:
    """Runs hold whole rounds and end at the round boundary nearest to the
    requested length: start another round only if ending after it lands
    nearer to ``seconds`` than ending now."""
    return elapsed_s + last_round_s / 2 < seconds


def summarize(samples: list[Sample], wall_s: float, by_name: dict[str, Op]) -> dict:
    """End-to-end figures of a timed loop. Only correct ops count as done;
    a wrong or failed op is never timed as a success.

    ``op_geomean_ms`` is the geometric mean over op types of each type's
    median latency: the median of the pooled mix jumps between op types
    whose latencies differ by several times, this does not."""
    good = [s for s in samples if s.error is None]
    if not good:
        raise RuntimeError("no op completed correctly")
    by_type: dict[str, list[float]] = {}
    for s in good:
        by_type.setdefault(s.op, []).append(s.latency_s)
    log_mean = sum(math.log(median(v)) for v in by_type.values()) / len(by_type)
    scan = [s for s in good if by_name[s.op].input_bytes > 0]
    scan_bytes = sum(by_name[s.op].input_bytes for s in scan)
    return {
        "ops_per_s": len(good) / wall_s,
        "op_geomean_ms": math.exp(log_mean) * 1e3,
        "scan_mb_per_s": scan_bytes / sum(s.latency_s for s in scan) / 1e6,
    }

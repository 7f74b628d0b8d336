"""Spark-free arithmetic of the benchmark: percentiles, span self time,
failure accounting and the result record.  Kept apart from the Spark code
so that ``perfbench/test_perfbench.py`` can pin it without a JVM."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
from collections.abc import Iterable, Sequence

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
RECORD_KEYS = ("correct", "attempted", "failed", "metrics")

_HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(os.path.dirname(_HERE), "BENCHMARK.json")


def percentile(values: Sequence[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile and the number of samples beyond it.

    The rank is ``ceil(q/100 * n)``; the samples beyond are the ``n - rank``
    larger ones, e.g. 11 beyond the 90th percentile of 112 samples.  A
    percentile is only worth reporting when at least ten samples lie
    beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1], len(s) - rank


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def rate(n: float, seconds: float) -> float:
    """``n`` per second; NaN when nothing was timed (the operation failed)."""
    return n / seconds if seconds > 0 else math.nan


def self_times(spans: Sequence[tuple[int, int | None, float, float]]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover.

    ``spans`` holds ``(span_id, parent_id, start, end)``.  Children are
    clipped to the parent's interval; overlapping children (which a single
    thread does not produce) are merged before subtracting."""
    kids: dict[int, list[tuple[float, float]]] = {}
    bounds = {sid: (start, end) for sid, _, start, end in spans}
    for sid, parent, start, end in spans:
        if parent is not None and parent in bounds:
            kids.setdefault(parent, []).append((start, end))
    out = {}
    for sid, (start, end) in bounds.items():
        covered, cur_s, cur_e = 0.0, None, None
        for cs, ce in sorted(kids.get(sid, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = max(0.0, (end - start) - covered)
    return out


def innermost_span(
    spans: Sequence[tuple[int, int | None, float, float]], t: float
) -> int | None:
    """Id of the deepest span whose interval contains ``t`` (the span that
    was running when an event at ``t`` happened), or None."""
    best, best_start = None, -math.inf
    for sid, _, start, end in spans:
        if start <= t <= end and start >= best_start:
            best, best_start = sid, start
    return best


class Tally:
    """Operations attempted and failed in one run.  An operation fails when
    it raises or when its output check does not hold; the run goes on with
    the next operation either way."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @property
    def failed_frac(self) -> float:
        if self.attempted < 1:
            raise ValueError("no operation attempted")
        return self.failed / self.attempted


def metric_specs(trace: bool, path: str = BENCHMARK_JSON) -> list[dict]:
    """The metric list a run must print: ``end_to_end`` untraced,
    ``per_layer`` traced."""
    with open(path) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def result_record(tally: Tally, values: dict[str, float], specs: list[dict]) -> dict:
    """The run's last stdout line: every metric named in ``specs`` with its
    unit.  A metric the run did not produce is an error, not a zero."""
    missing = [s["name"] for s in specs if s["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": tally.attempted >= 1 and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]}
            for s in specs
        },
    }


def validate_record(rec: dict, specs: list[dict]) -> None:
    """Raise ValueError unless ``rec`` has the result record's schema."""
    if tuple(sorted(rec)) != tuple(sorted(RECORD_KEYS)):
        raise ValueError(f"record keys {sorted(rec)}")
    if not isinstance(rec["correct"], bool):
        raise ValueError("correct is not a bool")
    for k in ("attempted", "failed"):
        if not isinstance(rec[k], int) or isinstance(rec[k], bool) or rec[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if rec["attempted"] < 1 or rec["failed"] > rec["attempted"]:
        raise ValueError("attempted/failed out of range")
    names = [s["name"] for s in specs]
    if sorted(rec["metrics"]) != sorted(names):
        raise ValueError("metric names differ from BENCHMARK.json")
    units = {s["name"]: s["unit"] for s in specs}
    for name, m in rec["metrics"].items():
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if sorted(m) != ["unit", "value"] or m["unit"] != units[name]:
            raise ValueError(f"bad metric entry {name}: {m}")
        if not isinstance(m["value"], float) or not math.isfinite(m["value"]):
            raise ValueError(f"{name} value is not a finite number")

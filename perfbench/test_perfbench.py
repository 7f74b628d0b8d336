"""Spark-free tests of the benchmark's own logic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
import types

import pytest

from perfbench import report, twins
from perfbench.engine import heap_peak_mb, parse_metric
from perfbench.tracing import Tracer


def test_percentile_and_beyond_count():
    values = [float(i) for i in range(1, 113)]  # 112 samples, as one registry pass
    p90, beyond = report.percentile(values, 90)
    assert (p90, beyond) == (101.0, 11)
    p50, beyond50 = report.percentile(values, 50)
    assert (p50, beyond50) == (56.0, 56)
    assert report.percentile([3.0, 1.0, 2.0], 100) == (3.0, 0)
    assert report.percentile([5.0], 50) == (5.0, 0)
    with pytest.raises(ValueError):
        report.percentile([], 50)
    with pytest.raises(ValueError):
        report.percentile([1.0], 0)


def test_self_time_subtracts_children_once():
    spans = [
        (0, None, 0.0, 10.0),
        (1, 0, 1.0, 4.0),
        (2, 1, 2.0, 3.0),  # grandchild: charged to span 1, not span 0
        (3, 0, 5.0, 6.0),
        (4, 0, 9.5, 12.0),  # runs past its parent's end: clipped
    ]
    st = report.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[4] == pytest.approx(2.5)
    assert sum(st[s] for s in (0, 1, 2, 3)) + 0.5 == pytest.approx(10.0)


def test_innermost_span_picks_deepest():
    spans = [(0, None, 0.0, 10.0), (1, 0, 2.0, 5.0), (2, 1, 3.0, 4.0)]
    assert report.innermost_span(spans, 3.5) == 2
    assert report.innermost_span(spans, 4.5) == 1
    assert report.innermost_span(spans, 8.0) == 0
    assert report.innermost_span(spans, 11.0) is None


def test_failed_frac_counts_raises_and_mismatches():
    t = report.Tally()
    with pytest.raises(ValueError):
        t.failed_frac
    t.record(True, "q1")
    t.record(False, "q2 raised")
    t.record(False, "q3 differs from its twin")
    t.record(True, "q4")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert t.failures == ["q2 raised", "q3 differs from its twin"]


def test_benchmark_metric_names_are_valid_and_unique():
    with open(report.BENCHMARK_JSON) as f:
        spec = json.load(f)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert report.NAME_RE.fullmatch(name), name
    assert {"setup_s", "unit_s"} <= {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert not report.NAME_RE.fullmatch("_leading_underscore")
    assert not report.NAME_RE.fullmatch("has space")


def test_result_record_schema():
    specs = report.metric_specs(trace=False)
    tally = report.Tally()
    tally.record(True, "op")
    values = {s["name"]: 1.5 for s in specs}
    rec = report.result_record(tally, values, specs)
    report.validate_record(rec, specs)
    assert list(rec) == ["correct", "attempted", "failed", "metrics"]
    assert rec["correct"] is True
    json.loads(json.dumps(rec))

    with pytest.raises(KeyError):
        report.result_record(tally, {}, specs)
    bad = dict(rec, extra=1)
    with pytest.raises(ValueError):
        report.validate_record(bad, specs)
    wrong_unit = json.loads(json.dumps(rec))
    wrong_unit["metrics"][specs[0]["name"]]["unit"] = "furlong"
    with pytest.raises(ValueError):
        report.validate_record(wrong_unit, specs)
    tally.record(False, "mismatch")
    assert report.result_record(tally, values, specs)["correct"] is False


def test_parse_metric_formats():
    assert parse_metric("1,000") == 1000.0
    assert parse_metric("587 ms") == 587.0
    assert parse_metric("1.9 s") == pytest.approx(1900.0)
    assert parse_metric("22.2 KiB") == pytest.approx(22.2 * 1024)
    total = "total (min, med, max (stageId: taskId))\n12 ms (1 ms, 2 ms, 5 ms (stage 3.0: task 5))"
    assert parse_metric(total) == 12.0


def test_heap_peak_reads_pause_lines_in_window():
    log = [
        "[354ms] Heap Max Capacity: 2G",
        "[1778ms] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 113M->29M(2048M) 11.430ms",
        "[5000ms] GC(3) Pause Young (Normal) (G1 Evacuation Pause) 1667M->300M(2048M) 9.1ms",
        "[5100ms] GC(4) Concurrent Mark Cycle 80.2ms",
        "[6000ms] GC(5) Pause Remark 900M->880M(2048M) 4.0ms",
        "[9000ms] GC(6) Pause Full (System.gc()) 1900M->200M(2048M) 50.0ms",
    ]
    assert heap_peak_mb(log, 2000, 8000) == 1667.0
    assert heap_peak_mb(log, 0, 10_000) == 1900.0
    assert heap_peak_mb(log, 5001, 5999) == 0.0


def test_stored_twin_matches_the_registry_and_rejects_a_changed_twin():
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    for name in twins.STORED:
        stored = twins.load(name, oracles[name])
        assert len(stored) > 0
        with pytest.raises(ValueError):
            twins.load(name, oracles[name] + " ")


def test_rate_of_a_failed_operation_is_nan():
    assert report.rate(10, 2.0) == 5.0
    assert report.rate(10, 0.0) != report.rate(10, 0.0)


@pytest.fixture
def fake_package(tmp_path, monkeypatch):
    """A package on disk whose consumers are not imported yet: ``install``
    has to import them itself and record their ``from … import`` bindings."""
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "layer.py").write_text(
        "def outer(x):\n    return inner(x) + 1\n"
        "def inner(x):\n    return x * 2\n"
        "def _private(x):\n    return x\n"
        "class Runner:\n    def run(self, x):\n        return outer(x)\n"
    )
    (pkg / "consumer.py").write_text("from fakepkg.layer import outer\n")
    (tmp_path / "fake_entry.py").write_text("from fakepkg.layer import inner\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    yield
    for name in [m for m in sys.modules if m.split(".")[0] in ("fakepkg", "fake_entry")]:
        del sys.modules[name]


def test_tracer_wraps_rebinds_and_restores(fake_package):
    assert "fakepkg.consumer" not in sys.modules
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))
    n = tracer.install(package="fakepkg", layers=("layer",), consumers=("fake_entry",))
    assert n == 2
    layer, consumer = sys.modules["fakepkg.layer"], sys.modules["fakepkg.consumer"]
    entry = sys.modules["fake_entry"]
    assert consumer.outer is layer.outer and entry.inner is layer.inner
    tracer.op = "op1"
    assert consumer.outer(3) == 7
    assert layer.Runner().run(1) == 3
    names = [(s.name, s.parent, s.op) for s in tracer.spans]
    assert names == [
        ("outer", None, "op1"),
        ("inner", 0, "op1"),
        ("Runner.run", None, "op1"),
        ("outer", 2, "op1"),
        ("inner", 3, "op1"),
    ]
    rows = [(s.sid, s.parent, s.start, s.end) for s in tracer.spans]
    st = report.self_times(rows)
    assert st[0] == 2.0 and st[1] == 1.0  # outer 0..3 minus inner 1..2

    # untraced calls go through no wrapper: every binding is restored
    tracer.uninstall()
    assert not tracer.installed
    n_spans = len(tracer.spans)
    assert consumer.outer(3) == 7 and entry.inner(2) == 4 and layer.Runner().run(1) == 3
    assert len(tracer.spans) == n_spans
    assert consumer.outer is layer.outer and entry.inner is layer.inner

    # a second install re-points the same bindings
    tracer.install(package="fakepkg", layers=("layer",), consumers=("fake_entry",))
    consumer.outer(1)
    assert len(tracer.spans) == n_spans + 2
    tracer.uninstall()


def test_reap_waits_for_orphaned_grandchildren(tmp_path):
    """A grandchild whose parent exits at once is re-parented to the run
    and waited for; the run ends with no child left."""
    import os
    import subprocess

    marker = tmp_path / "done"
    script = f"""
import subprocess, sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from perfbench import run
run._become_subreaper()
subprocess.run(["sh", "-c", "(sleep 1; touch {marker}) &"], check=True)
t0 = time.monotonic()
run._reap_children()
assert time.monotonic() - t0 > 0.5 and run._children() == []
"""
    subprocess.run([sys.executable, "-c", script], check=True, timeout=60)
    assert marker.exists()

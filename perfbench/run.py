"""Benchmark entry point.

    python3 perfbench/run.py --workload skewed_featurize --seed 1 --seconds 10 --trace 0

Runs one workload (see ``perfbench/README.md``) on ``local[<cpus>]``,
prints its metrics one per line, then, as the last line of stdout, one JSON
record ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones.  ``--workload all`` runs every workload in turn, each in
its own process, and ends with a record whose metric names carry the
workload as a prefix.

Everything the run writes stays under ``perfbench/.work/``: inputs, Spark's
local and temp directories, and one log per workload that receives Spark's
stderr; a traced run also leaves its spans there, one JSON line each, in
``<workload>.spans.jsonl``.  The run exits non-zero without a record when it
cannot import the engine or when a metric is missing.

No process outlives the run: it makes itself the reaper of its orphaned
descendants (Spark's JVM, the PySpark daemon and its workers), and on every
way out, a terminating signal included, it stops Spark and waits until each
of them has ended.  A traced run starts no unit past its second that would
end later than ``RUN_BUDGET_S`` after start-up, so that it ends within
three minutes on a slow host too.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("skewed_featurize", "query_registry")
# a fixed, pre-touched heap: no first-touch page faults in the measured loop
DRIVER_MEM = "2g"
# seconds after start-up by which the measured loop must be done, checks
# and shutdown left to follow
RUN_BUDGET_S = 110.0
PR_SET_CHILD_SUBREAPER = 36


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _run_all(args) -> int:
    """Each workload in its own process; one combined record at the end."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
            try:
                out, _ = proc.communicate()
            except BaseException:  # a signal: the child stops Spark and reaps
                proc.terminate()
                proc.wait()
                raise
        lines = out.rstrip("\n").split("\n")
        print(f"== {name}")
        print("\n".join(lines[:-1]))
        if proc.returncode != 0:
            return proc.returncode
        rec = json.loads(lines[-1])
        combined["correct"] = combined["correct"] and rec["correct"]
        combined["attempted"] += rec["attempted"]
        combined["failed"] += rec["failed"]
        for k, v in rec["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def _become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process, not to init,
    so ``_reap_children`` can wait for them."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[1] == me:  # state, ppid, ...
            pids.append(int(entry))
    return pids


def _reap_children(grace_s: float = 30.0) -> None:
    """Wait until this process has no child left; what outlives
    ``grace_s`` is sent SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            for child in _children():
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait for it.
    Also stops a JVM whose session never came up."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)


def _exit_on_signal(signum, _frame):
    """A terminating signal unwinds through main's cleanup; further ones
    are ignored so the cleanup runs to its end."""
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    started = time.perf_counter()
    args = _parse(argv)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    if args.workload == "all":
        return _run_all(args)
    if not os.path.isdir(os.path.join(ROOT, "uncharted_ta1_pipeline_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    # import the engine and this package from the checkout root, and keep
    # this directory off the path so its modules shadow no library module
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    from perfbench import report

    specs = report.metric_specs(trace=bool(args.trace))
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_SHM="0",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SHUFFLE=str(2 * cpus),
        # every JVM (the launcher's and Spark's): temp files inside the checkout,
        # no hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    # Spark's stderr (and the JVM's, and the Python workers') goes to a
    # per-workload log; the benchmark's own messages keep the real stderr
    log_path = os.path.join(base, f"{args.workload}.log")
    console_fd = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    log = open(log_path, "a", buffering=1)

    _become_subreaper()
    tracer = None
    spark = None
    try:
        if args.trace:
            # install() imports the registry modules itself, so every
            # `from … import` binding of a layer function is re-pointed
            from perfbench.tracing import Tracer

            tracer = Tracer()
            tracer.install()

        from perfbench import workloads
        from uncharted_ta1_pipeline_spark.session import get_spark

        gc_log = os.path.join(work, "gc.log")
        p0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the whole heap is touched at start-up (set-up time), so no
                # first-touch page faults land in the measured loop; the GC
                # log gives the heap in use (MemSampler)
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                    f"-Xlog:gc:file={gc_log}:uptimemillis"
                ),
            },
        )
        spark.range(1).count()
        session_s = time.perf_counter() - p0
        ctx = workloads.Context(
            spark, args.seed, args.seconds, os.path.join(work, "data"), tracer, log, session_s,
            gc_log, deadline=started + RUN_BUDGET_S,
        )
        units, lines = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            values = workloads.layer_metrics(ctx, units)
            tracer.dump(os.path.join(base, f"{args.workload}.spans.jsonl"))
        else:
            values = workloads.unit_metrics(ctx, units)
        lines.append("peak_mem_mb = heap in use %.1f MiB + outside the heap %.1f MiB"
                     % ctx.mem_split_mb)
        lines.append(f"failed_frac {ctx.tally.failed_frac:.4f} ratio "
                     f"({ctx.tally.failed} of {ctx.tally.attempted})")
        for what in ctx.tally.failures:
            lines.append(f"FAILED: {what}")
        record = report.result_record(ctx.tally, values, specs)
        report.validate_record(record, specs)
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if tracer is not None:
            tracer.uninstall()
        try:
            _stop_spark(spark)
        finally:
            _reap_children()
        log.close()
        os.dup2(console_fd, 2)
        os.close(console_fd)
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} on local[{cpus}]")
    for line in lines:
        print(line)
    for s in specs:
        print(f"{s['name']} {values[s['name']]:.6g} {s['unit']}")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())

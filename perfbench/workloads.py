"""The benchmark's workloads: closed loop, one client, one operation at a
time on one SparkSession.

An operation is timed from the call of its constructor (``build``: the
engine functions that return a DataFrame, eager jobs included) to its sink
finishing (``sink``).  Each run has three parts:

1. set-up: generate the inputs from the seed (the registry's tables are a
   fixed copy in ``perfbench/data``) and run one unmeasured warm unit;
2. the measured loop: whole units until ``--seconds`` have passed (at
   least one unit; three in a traced run unless the third would end past
   the run's deadline, then two);
3. checks, untimed, of the outputs against the repo's references; each
   workload says which outputs it checks.

A unit is the workload's fixed sequence of operations.  Engine functions
are called through their modules (``salt.featurize_hybrid``) so that the
traced run's wrappers see every call.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import math
import os
import shutil
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from perfbench import engine as eng
from perfbench import report

# skewed input: three conversations just above the salting threshold, so the
# hot path does real work, plus a hundred ordinary ones
SKEW_HOT_MARGIN = 64
SKEW_SHAPE = dict(n_convs=103, mean_turns=50, hot_convs=3)
PIPELINE_SHAPE = dict(n_convs=200, mean_turns=50, hot_convs=0)
PIPELINE_BUCKETS = 8
ASOF_STATE_COLS = ["turn_idx", "last_role", "turns_incl", "tools_incl", "last_session_id"]

# registry panel: every module the layer table names is entered by at least
# one of these (see perfbench/README.md); dedup_clusters carries the eager
# connected-components loop that dominates build time
PANEL = (
    "featurize_full",
    "training_set_bucketed",
    "gap_quantiles",
    "dedup_clusters",
    "ann_bruteforce",
    "ransac_slope",
    "median_mad",
    "eval_f1",
    "geocode_enrich",
    "tfidf_top_terms",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df) -> tuple[tuple[str, ...], int, int]:
    """Order-insensitive (columns, row count, bit_xor(xxhash64(row)))."""
    cols = tuple(sorted(df.columns))
    row = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("x")
    ).first()
    return cols, int(row["n"]), int(row["x"] or 0)


@dataclass
class Op:
    name: str
    build: Callable[[], object]
    sink: Callable[[object], None]
    prepare: Callable[[], None] | None = None  # untimed, before build


@dataclass
class Timing:
    group: str  # the operation's Spark job group
    traced: bool
    ok: bool = True
    build_s: float = 0.0
    exec_s: float = 0.0
    build_jobs: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


class Context:
    """Run state shared by a workload: session, tally, set-up time."""

    def __init__(
        self, spark, seed, seconds, work_dir, tracer, log, session_s, gc_log, deadline=math.inf
    ):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.tracer = tracer
        self.log = log
        self.session_s = session_s
        self.engine = eng.Engine(spark)
        self.tally = report.Tally()
        self.setup_s = 0.0
        self.gc_log = gc_log
        self.deadline = deadline  # perf_counter() by which the measured loop ends
        self.peak_mem_mb = 0.0
        self.mem_split_mb = (0.0, 0.0)
        self._n = 0

    def run_op(self, op: Op, unit: int) -> Timing:
        """Time one operation; an exception fails it and the run goes on."""
        if op.prepare:
            op.prepare()
        sc = self.spark.sparkContext
        group = f"op{self._n:05d}"
        self._n += 1
        traced = self.tracer is not None and self.tracer.installed
        t = Timing(group, traced)
        if traced:
            self.tracer.op = group
            cg0 = self.engine.codegen_mark()
        sc.setJobGroup(group, f"perfbench {op.name}")
        p0 = time.perf_counter()
        build_end = None
        try:
            out = op.build()
            p1 = time.perf_counter()
            build_end = time.time()
            op.sink(out)
            p2 = time.perf_counter()
            t.build_s, t.exec_s = p1 - p0, p2 - p1
        except Exception:
            t.ok = False
            self.log.write(f"operation {op.name} failed:\n{traceback.format_exc()}")
        finally:
            if self.tracer is not None:
                self.tracer.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.engine.drain()
        if build_end is not None:
            t.build_jobs = sum(1 for s in self.engine.job_times(group) if s <= build_end)
        if traced:
            t.counters = self.engine.counters(group)
            t.counters["codegen_ms"] = self.engine.codegen_ms_since(cg0)
        self.tally.record(t.ok, f"{op.name} raised")
        self.log.write(
            f"perfbench op {group} unit {unit} {op.name}: build {t.build_s:.3f} s, "
            f"exec {t.exec_s:.3f} s, build jobs {t.build_jobs}\n"
        )
        return t

    def check(self, ok: bool, what: str) -> None:
        self.tally.record(ok, what)
        if not ok:
            self.log.write(f"check failed: {what}\n")

    def measure(self, ops: list[Op]) -> list[list[Timing]]:
        """Closed loop of whole units for ``seconds``.  A traced run
        alternates untraced and traced units, at least three, so the tracing
        overhead is measured within the run between units that both follow
        the first (which may hold an operation's first, cold run).  Past
        the first unit (two when traced: one of each kind), no unit starts
        that would, as long as the slowest so far, end past ``deadline``."""
        units: list[list[Timing]] = []
        min_units = 3 if self.tracer is not None else 1
        t0 = time.perf_counter()
        slowest = 0.0

        def more() -> bool:
            now = time.perf_counter()
            if len(units) < min(min_units, 2):
                return True
            if now + slowest > self.deadline:
                return False
            return len(units) < min_units or now - t0 < self.seconds

        with eng.MemSampler(self.engine, self.gc_log) as mem:
            while more():
                u0 = time.perf_counter()
                if self.tracer is not None:
                    if len(units) % 2 == 0:
                        self.tracer.uninstall()
                    else:
                        self.tracer.install()
                units.append([self.run_op(op, len(units)) for op in ops])
                slowest = max(slowest, time.perf_counter() - u0)
        if self.tracer is not None:
            self.tracer.uninstall()
        self.peak_mem_mb = mem.peak_bytes / 2**20
        self.mem_split_mb = (mem.heap_peak_bytes / 2**20, mem.outside_peak_bytes / 2**20)
        return units


def unit_metrics(ctx: Context, units: list[list[Timing]]) -> dict[str, float]:
    """End-to-end metrics over the measured units (untraced ones when the
    run is traced)."""
    plain = [u for u in units if not u[0].traced] or units
    return {
        "setup_s": ctx.setup_s,
        "unit_s": report.median(sum(t.wall_s for t in u) for u in plain),
        "peak_mem_mb": ctx.peak_mem_mb,
    }


def layer_metrics(ctx: Context, units: list[list[Timing]]) -> dict[str, float]:
    """Per-layer metrics of the traced units: ``<layer>.calls|self_s|jobs|
    exec_s`` from the spans, ``spark.<counter>`` from the engine, and the
    tracing overhead."""
    from perfbench import tracing

    traced = [t for u in units for t in u if t.traced]
    ops = {t.group: t for t in traced}
    spans = [s for s in ctx.tracer.spans if s.op in ops]
    rows = [(s.sid, s.parent, s.start, s.end) for s in spans]
    self_s = report.self_times(rows)
    out: dict[str, float] = {}
    for layer in tracing.LAYERS:
        for k in ("calls", "self_s", "jobs", "exec_s"):
            out[f"{layer}.{k}"] = 0.0
    by_op: dict[str, list] = {}
    for s in spans:
        out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.self_s"] += self_s[s.sid]
        by_op.setdefault(s.op, []).append(s)
    for group, op_spans in by_op.items():
        op_rows = [(s.sid, s.parent, s.start, s.end) for s in op_spans]
        layer_of = {s.sid: s.layer for s in op_spans}
        for when in ctx.engine.job_times(group):
            sid = report.innermost_span(op_rows, when)
            if sid is not None:
                out[f"{layer_of[sid]}.jobs"] += 1
        for layer in {s.layer for s in op_spans}:
            out[f"{layer}.exec_s"] += ops[group].exec_s
    for name in eng.COUNTERS:
        out[f"spark.{name}"] = float(sum(t.counters.get(name, 0.0) for t in traced))
    untraced = [u for u in units[1:] if not u[0].traced] or units[:1]
    traced_units = [u for u in units if u[0].traced]
    out["trace.overhead_s"] = report.median(
        sum(t.wall_s for t in u) for u in traced_units
    ) - report.median(sum(t.wall_s for t in u) for u in untraced)
    out["trace.spans"] = float(len(spans))
    return out


# ---------------------------------------------------------------------------
# skewed_featurize
# ---------------------------------------------------------------------------
def skewed_featurize(ctx: Context) -> tuple[list[list[Timing]], list[str]]:
    """Set-up warms on a slice holding one hot conversation (the same plans
    at a third of the cost); the measured units' sinks are one-row
    fingerprints, so the checks compare exactly what was timed."""
    from uncharted_ta1_pipeline_spark.operators import asof, salt, windows
    from uncharted_ta1_pipeline_spark.sources import transcripts as tr

    spark = ctx.spark
    hot_turns = salt.DEFAULT_HOT_THRESHOLD + SKEW_HOT_MARGIN
    path = os.path.join(ctx.work_dir, "transcripts.parquet")
    warm_path = os.path.join(ctx.work_dir, "warm.parquet")
    p0 = time.perf_counter()
    tr.synth_transcripts(
        spark, hot_turns=hot_turns, seed=ctx.seed, **SKEW_SHAPE
    ).write.mode("overwrite").parquet(path)
    t = spark.read.parquet(path)
    hot = sorted(
        r["conv_id"]
        for r in t.groupBy("conv_id").count().filter(F.col("count") > hot_turns - 1).collect()
    )
    t.filter(~F.col("conv_id").isin(hot[1:])).write.mode("overwrite").parquet(warm_path)
    warm_t = spark.read.parquet(warm_path)
    gen_s = time.perf_counter() - p0
    n_turns = t.count()
    n_probes = tr.make_probes(t).count()

    def state(df):
        used = F.col("tool").isNotNull() & (F.col("tool") != "")
        return df.select(
            "conv_id",
            "ts",
            "turn_idx",
            F.col("role").alias("last_role"),
            (F.col("turns_so_far") + 1).cast("long").alias("turns_incl"),
            (F.col("tools_so_far") + used.cast("long")).alias("tools_incl"),
            F.col("session_id").alias("last_session_id"),
        )

    fps: dict[str, list] = {"featurize_hybrid": [], "asof_join_bucketed": []}

    def unit(df, sink):
        feats = {}

        def build_featurize():
            feats["df"] = salt.featurize_hybrid(df)
            return feats["df"]

        def build_asof():
            return asof.asof_join_bucketed(
                tr.make_probes(df), state(feats["df"]), state_cols=ASOF_STATE_COLS
            )

        return [
            Op("featurize_hybrid", build_featurize, sink("featurize_hybrid")),
            Op("asof_join_bucketed", build_asof, sink("asof_join_bucketed")),
        ]

    def keep(name):
        return lambda df: fps[name].append(fingerprint(df))

    warm = [ctx.run_op(op, -1) for op in unit(warm_t, lambda name: fingerprint)]
    ctx.setup_s = ctx.session_s + gen_s + sum(w.wall_s for w in warm)
    ctx.check(warm[0].build_jobs > 0, "featurize_hybrid build ran no Spark job")

    units = ctx.measure(unit(t, keep))

    # checks against the repo's reference implementations; the plain
    # featurize output is cached so the as-of reference reuses it
    try:
        plain = windows.featurize(t).cache()
        ref_f = fingerprint(plain)
        ref_a = fingerprint(
            asof.asof_join(tr.make_probes(t), state(plain), state_cols=ASOF_STATE_COLS)
        )
        plain.unpersist()
    except Exception:  # every comparison below then fails
        ctx.log.write(traceback.format_exc())
        ref_f = ref_a = None
    for fp in fps["featurize_hybrid"]:
        ctx.check(fp == ref_f, "featurize_hybrid != featurize")
    for fp in fps["asof_join_bucketed"]:
        ctx.check(fp == ref_a, "asof_join_bucketed != asof_join")

    plain_units = [u for u in units if not u[0].traced] or units
    feat_s = report.median(u[0].wall_s for u in plain_units)
    asof_s = report.median(u[1].wall_s for u in plain_units)
    lines = [
        f"input: {n_turns} turns, {n_probes} probes, {len(hot)} conversations of "
        f"{hot_turns} turns; units measured: {len(plain_units)}",
        f"featurize_turns_per_s {report.rate(n_turns, feat_s):.1f} turns/s",
        f"featurize_build_s {report.median(u[0].build_s for u in plain_units):.4f} s",
        f"asof_probes_per_s {report.rate(n_probes, asof_s):.1f} probes/s",
    ]
    return units, lines


# ---------------------------------------------------------------------------
# query_registry
# ---------------------------------------------------------------------------
class _Collected:
    """A collected frame where oracle_check.compare expects a DataFrame."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def query_registry(ctx: Context) -> tuple[list[list[Timing]], list[str]]:
    import __spark_entry__ as entry
    from perfbench import twins
    from tests.oracle_check import compare, run_oracle
    from uncharted_ta1_pipeline_spark import cli
    from uncharted_ta1_pipeline_spark.plans import manifest
    from uncharted_ta1_pipeline_spark.sources import transcripts as tr

    spark = ctx.spark
    queries, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = twins.SF_DIR  # read only
    pipe_in = os.path.join(ctx.work_dir, "pipeline_input.parquet")
    pipe_wd = os.path.join(ctx.work_dir, "pipeline")
    features = os.path.join(pipe_wd, "features")

    p0 = time.perf_counter()
    tr.synth_transcripts(spark, seed=ctx.seed, **PIPELINE_SHAPE).write.mode(
        "overwrite"
    ).parquet(pipe_in)
    n_pipe_turns = spark.read.parquet(pipe_in).count()
    gen_s = time.perf_counter() - p0

    def query_op(name, sink):
        return Op(name, lambda: queries[name](spark, sf_dir), sink)

    def run_cli(_):
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(
                ["--input", pipe_in, "--workdir", pipe_wd, "--buckets", str(PIPELINE_BUCKETS)],
                spark=spark,
            )
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")

    # the pipeline's checks run untimed between its operations: the fresh
    # stage before the resume deletes half of its manifests, the resumed
    # stage before the next fresh run (or after the loop)
    stage_fps: list[tuple] = []

    def check_stage(what):
        try:
            ok = _verify(spark, features, manifest)
            fp = _stage_fingerprint(spark, features) if ok else None
        except Exception:
            ctx.log.write(traceback.format_exc())
            ok, fp = False, None
        ctx.check(ok, f"{what} pipeline stage fails verify_stage")
        stage_fps.append(fp)

    def before_fresh():
        if os.path.isdir(features):
            check_stage("resumed")
        shutil.rmtree(pipe_wd, ignore_errors=True)

    def before_resume():
        check_stage("fresh")
        # resume recomputes exactly the buckets whose manifest is missing
        for path in sorted(glob.glob(os.path.join(features, "_manifest", "bucket-*.json")))[::2]:
            os.remove(path)

    pipeline = [
        Op("pipeline_fresh", lambda: None, run_cli, prepare=before_fresh),
        Op("pipeline_resume", lambda: None, run_cli, prepare=before_resume),
    ]

    # set-up: one warm pass over the queries, collecting each output for its
    # check; the pipeline stays out of it (warming it too would add ~7 s to
    # every run), so its first runs are the measured ones
    collected: dict[str, object] = {}

    def collect(name):
        return lambda df: collected.__setitem__(name, df.toPandas())

    warm = [ctx.run_op(query_op(n, collect(n)), -1) for n in PANEL]
    ctx.setup_s = ctx.session_s + gen_s + sum(t.wall_s for t in warm)

    # checks: every panel query against its DuckDB twin
    for name in PANEL:
        if name not in collected:
            continue
        try:
            if name in twins.STORED:  # stored result of the unchanged twin
                want = twins.load(name, oracles[name])
            else:
                want = run_oracle(oracles[name], sf_dir)
            compare(_Collected(collected[name]), want, name)
            ctx.check(True, name)
        except Exception:
            ctx.log.write(traceback.format_exc())
            ctx.check(False, f"{name} differs from its twin")
    dc = warm[PANEL.index("dedup_clusters")]
    ctx.check(dc.build_jobs > 0, "dedup_clusters build ran no Spark job")

    units = ctx.measure([query_op(n, noop) for n in PANEL] + pipeline)
    check_stage("resumed")
    for fresh_fp, resumed_fp in zip(stage_fps[::2], stage_fps[1::2]):
        ctx.check(fresh_fp is not None and fresh_fp == resumed_fp, "resumed output differs")
    plain = [u for u in units if not u[0].traced] or units
    n_q = len(PANEL)
    per_query = [t.wall_s for u in plain for t in u[:n_q]]
    p50, _ = report.percentile(per_query, 50)
    p90, beyond = report.percentile(per_query, 90)
    fresh_s = report.median(u[n_q].wall_s for u in plain)
    lines = [
        f"panel: {n_q} queries + pipeline fresh/resume over {n_pipe_turns} turns; "
        f"passes measured: {len(plain)}",
        f"registry_total_s {report.median(sum(t.wall_s for t in u[:n_q]) for u in plain):.4f} s",
        f"registry_build_s {report.median(sum(t.build_s for t in u[:n_q]) for u in plain):.4f} s",
        f"query_p50_s {p50:.4f} s (n={len(per_query)})",
        f"query_p90_s {p90:.4f} s (n={len(per_query)}, {beyond} beyond)",
        f"pipeline_turns_per_s {report.rate(n_pipe_turns, fresh_s):.1f} turns/s",
        f"resume_s {report.median(u[n_q + 1].wall_s for u in plain):.4f} s",
    ]
    return units, lines


def _stage_fingerprint(spark, out_dir: str):
    return fingerprint(spark.read.parquet(out_dir))


def _verify(spark, out_dir: str, manifest) -> bool:
    rows = glob.glob(os.path.join(out_dir, "_manifest", "bucket-*.json"))
    if not rows:
        return False
    with open(rows[0]) as f:
        cfg_hash = json.load(f)["config_hash"]
    return manifest.verify_stage(out_dir, cfg_hash, spark)


WORKLOADS = {
    "skewed_featurize": skewed_featurize,
    "query_registry": query_registry,
}

"""The three workloads and the run that measures one of them.

A run: make the inputs from the seed; set up three times (start Spark,
then open a new session twice; each time load the fixtures or run a
small pipeline operation); check outputs once, outside the timed phase;
then loop closed over operations from one client in a fixed number of
whole units (a pass over a mix, or one pipeline operation) that takes
about ``seconds`` on a 4-vCPU VM. With
tracing on, units alternate traced and plain, so the same run gives the
per-layer counters and the cost of tracing.
"""

from __future__ import annotations

import itertools
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

import etl_pipeline_sam_gov_spark as eng
from etl_pipeline_sam_gov_spark.pipeline.contracts import (
    FLAGSHIP_SQL,
    filter_veteran_set_asides,
    snapshot_sink,
    transform_contracts,
)
from etl_pipeline_sam_gov_spark.pipeline.ingest import parallel_fetch_plan
from etl_pipeline_sam_gov_spark.session import configure_runtime, get_spark
from etl_pipeline_sam_gov_spark.tables import load_tables

from perfbench import fixtures, oracle, samgov
from perfbench.collector import Tracer
from perfbench.procfs import tree_peak_rss_mb
from perfbench.stats import Tally, median, percentile, quartiles, tail_percentile

#: Scale factor of the generated fixture corpus for the mixes.
SF = 0.01
#: The mixes' corpus is the same in every run (as the FIXTURES.md §B
#: corpus is one fixed draw); the run's seed orders each pass. Redrawn
#: per seed, the iterative queries' round counts follow the drawn graph
#: and their times spread by ~15% across seeds on their own.
CORPUS_SEED = 42
#: Pages (of ``samgov.PAGE_SIZE`` records) per pipeline operation.
PAGES = 1000
#: Pages of the warm-up operation that ends each pipeline set-up.
WARM_PAGES = 8
#: Set-ups per run; setup_s is their median.
SETUP_CYCLES = 3
#: Seconds one timed unit (a pass over the mix, or one pipeline
#: operation) takes on a 4-vCPU VM. A run times round(seconds / this)
#: units: the same work in every run. Stopping on the clock instead let
#: faster runs fit one more, warmer pass, which moved their medians.
UNIT_S = {"samgov_pipeline": 2.6, "relational_mix": 2.0, "iterative_mix": 3.3}

#: Plan-memoized, single-pass queries → defining module.
RELATIONAL = {
    "q1_pricing_summary": "relational",
    "q5_local_supplier": "relational",
    "q21_sole_returning_supplier": "tpch",
    "sessionize_events": "analytics",
    "contracts_transform": "contracts",
    "dq_constraint_suite": "dq",
}
#: Non-memoized, multi-round queries → defining module.
ITERATIVE = {
    "graph_pagerank_bipartite": "graph",
    "graph_kcore_membership": "graph",
}
MODULES = sorted(set(RELATIONAL.values()) | set(ITERATIVE.values()))

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "rows_per_s": "records/s",
}

#: Per-operation operator counters: metric → (collector key, scale).
OPERATOR_COUNTERS = {
    "jobs": ("jobs", 1),
    "stages": ("stages", 1),
    "tasks": ("tasks", 1),
    "task_s": ("task_ms", 1e-3),
    "task_cpu_s": ("task_cpu_ns", 1e-9),
    "gc_s": ("gc_ms", 1e-3),
    "shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "shuffle_read_bytes": ("shuffle_read_bytes", 1),
    "spill_bytes": ("spill_bytes", 1),
    "input_bytes": ("input_bytes", 1),
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    **{
        f"operators.{k}": "s" if k.endswith("_s") else (
            "bytes" if k.endswith("_bytes") else "count"
        )
        for k in OPERATOR_COUNTERS
    },
    "operators.non_task_share": "ratio",
    "operators.failed_tasks": "count",
    **{
        f"operators.{mod}.{k}": u
        for mod in MODULES
        for k, u in (("op_s", "s"), ("jobs", "count"), ("task_s", "s"))
    },
    "pipeline.ingest.records": "count",
    "pipeline.ingest.passes": "count",
    "pipeline.ingest.task_s": "s",
    "pipeline.ingest.arrow_bytes": "bytes",
    "pipeline.contracts.rows_kept": "count",
    "pipeline.contracts.rows_out": "count",
    "pipeline.contracts.build_s": "s",
    "pipeline.contracts.flagship_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_per_row": "bytes",
    "trace.overhead_ratio": "ratio",
    "process.peak_rss_mb": "MB",
}


@dataclass
class Op:
    """One timed operation."""

    name: str
    wall: float
    ok: bool
    traced: bool
    spans: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tmp: str
    cpus: int
    t_process: float
    spark: object = None
    tracer: Tracer = None
    setup_s: list = field(default_factory=list)
    session_s: list = field(default_factory=list)
    tables_s: list = field(default_factory=list)
    ops: list = field(default_factory=list)
    elapsed: float = 0.0
    correct: bool = True
    notes: list = field(default_factory=list)
    op_ids: itertools.count = field(default_factory=lambda: itertools.count(1))

    def start_session(self) -> None:
        """The first call starts Spark (``get_spark``); later calls open a
        new session on the running engine, with its own runtime confs,
        temp views, loaded tables and plan memo."""
        t = time.perf_counter()
        if self.spark is None:
            self.spark = get_spark(f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        else:
            self.spark = configure_runtime(self.spark.newSession())
        self.session_s.append(time.perf_counter() - t)
        self.tracer = Tracer(self.spark, self.trace)


# ---------------------------------------------------------------------------
# Registry mixes
# ---------------------------------------------------------------------------


class Mix:
    def __init__(self, run: Run, queries: dict[str, str]):
        self.run = run
        self.queries = queries
        self.data_dir = os.path.join(run.tmp, "data")
        self.bad: dict[str, str] = {}
        self.input_records: dict[str, int] = {}

    def make_inputs(self) -> None:
        fixtures.write(fixtures.generate(SF, CORPUS_SEED), self.data_dir)

    def setup(self) -> None:
        """Fixture loading: register every table and read it once."""
        t = time.perf_counter()
        for df in load_tables(self.run.spark, self.data_dir).values():
            df.write.format("noop").mode("overwrite").save()
        self.run.tables_s.append(time.perf_counter() - t)

    def check(self) -> None:
        """Each query's collected output against its DuckDB oracle (the
        query's first run; it also records the input rows each query
        scans, for rows_per_s), then one uncounted warm-up pass."""
        probe = Tracer(self.run.spark, True)
        con = oracle.duckdb_con(self.data_dir, fixtures.TABLE_NAMES)
        try:
            for name in self.queries:
                group = f"check-{name}"
                probe.group(group)
                try:
                    got = oracle.spark_digest(eng.QUERIES[name](self.run.spark, self.data_dir))
                    err = oracle.mismatch(got, oracle.duckdb_digest(con, eng.ORACLES[name]))
                except Exception as e:  # a query that raises fails its check
                    err = f"raised {type(e).__name__}: {e}"
                if err:
                    self.bad[name] = err
                self.input_records[name] = probe.stage_counters([group]).get(
                    "input_records", 0
                )
        finally:
            con.close()
            probe.clear_group()
        for name in self.queries:
            self.op(name, 0, False)

    def op(self, name: str, op_id: int, traced: bool) -> Op:
        spark, tr = self.run.spark, self.run.tracer if traced else Tracer()
        ok = True
        t0 = time.perf_counter()
        try:
            with tr.span("op", op_id):
                tr.group(f"op{op_id}-build")
                with tr.span("registry.build", op_id):
                    df = eng.QUERIES[name](spark, self.data_dir)
                tr.group(f"op{op_id}-exec")
                with tr.span("operators.execute", op_id):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # the loop keeps running; the op counts as failed
            ok = False
            self.run.notes.append(f"{name}: {type(e).__name__}: {e}")
        wall = time.perf_counter() - t0
        res = Op(name, wall, ok and name not in self.bad, traced)
        if traced:
            tr.clear_group()
            res.spans = _span_durations(tr, op_id)
            res.counters = tr.stage_counters([f"op{op_id}-build", f"op{op_id}-exec"])
            res.counters["build_jobs"] = len(tr.job_ids(f"op{op_id}-build"))
        return res

    def timed(self) -> None:
        rng = random.Random(self.run.seed)
        names = list(self.queries)

        def one_pass(traced: bool) -> list[Op]:
            rng.shuffle(names)
            return [self.op(n, next(self.run.op_ids), traced) for n in names]

        _timed_loop(self.run, one_pass)
        self.run.correct = not self.bad

    def rows(self, op: Op) -> int:
        return self.input_records.get(op.name, 0)

    def layer_metrics(self, traced: list[Op]) -> dict:
        out = {}
        for mod in MODULES:
            mine = [o for o in traced if self.queries.get(o.name) == mod]
            out[f"operators.{mod}.op_s"] = _mean([o.wall for o in mine])
            out[f"operators.{mod}.jobs"] = _mean([o.counters.get("jobs", 0) for o in mine])
            out[f"operators.{mod}.task_s"] = _mean(
                [o.counters.get("task_ms", 0) / 1e3 for o in mine]
            )
        out["registry.build_s"] = _mean([o.spans.get("registry.build", 0) for o in traced])
        out["registry.build_jobs"] = _mean([o.counters.get("build_jobs", 0) for o in traced])
        return out


# ---------------------------------------------------------------------------
# SAM.gov pipeline
# ---------------------------------------------------------------------------


class Pipeline:
    def __init__(self, run: Run):
        self.run = run
        self.fetcher = samgov.PageFetcher(run.seed)
        self.snapshot = os.path.join(run.tmp, "snapshot")
        self.expected: samgov.Expected | None = None

    def make_inputs(self) -> None:
        """Pages are made on the executors by the fetcher, from the seed."""

    def setup(self) -> None:
        """A small pipeline operation: starts the Python workers and
        compiles the plan. Its output is checked too."""
        exp = samgov.replay(self.run.seed, WARM_PAGES)
        got, _ = self._execute(WARM_PAGES, Tracer(), 0)
        errs = samgov.check_result(exp, got)
        if errs:
            self.run.correct = False
            self.run.notes.append(f"warm-up: {errs}")

    def check(self) -> None:
        """Replay the reference over the operation's pages, then run one
        full-size operation against it (also the timed phase's warm-up)."""
        self.expected = samgov.replay(self.run.seed, PAGES)
        self.op(0, False)

    def _execute(self, n_pages: int, tr: Tracer, op_id: int) -> tuple[dict, float]:
        obs_in, obs_kept, obs_out = (Observation(f"{k}{op_id}") for k in "ikt")
        t0 = time.perf_counter()
        with tr.span("op", op_id):
            tr.group(f"op{op_id}")
            with tr.span("pipeline.contracts.build", op_id):
                raw = parallel_fetch_plan(self.run.spark, n_pages, self.fetcher)
                raw = raw.observe(obs_in, F.count(F.lit(1)).alias("n"))
                kept = filter_veteran_set_asides(raw).observe(
                    obs_kept, F.count(F.lit(1)).alias("n")
                )
                out = transform_contracts(kept, now=samgov.NOW).observe(
                    obs_out,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("isRecent").cast("bigint")).alias("n_recent"),
                    F.sum(F.col("hasNAICS").cast("bigint")).alias("n_with_naics"),
                )
            with tr.span("sinks.write", op_id):
                snapshot_sink(out, self.snapshot)
            with tr.span("pipeline.contracts.flagship", op_id):
                self.run.spark.read.parquet(self.snapshot).createOrReplaceTempView(
                    "contracts"
                )
                top = self.run.spark.sql(FLAGSHIP_SQL).collect()
        wall = time.perf_counter() - t0
        t = obs_out.get
        got = {
            "records": obs_in.get["n"],
            "kept": obs_kept.get["n"],
            "out": t["n"],
            "n_recent": t["n_recent"] or 0,
            "n_with_naics": t["n_with_naics"] or 0,
            "top": [
                (r.title, r.solicitationNumber, r.postedDate.date(), r.setAside, r.recencyScore)
                for r in top
            ],
        }
        return got, wall

    def op(self, op_id: int, traced: bool) -> Op:
        tr = self.run.tracer if traced else Tracer()
        try:
            got, wall = self._execute(PAGES, tr, op_id)
            errs = samgov.check_result(self.expected, got)
        except Exception as e:  # the loop keeps running; the op counts as failed
            got, wall, errs = {}, 0.0, [f"raised {type(e).__name__}: {e}"]
        if errs:
            self.run.correct = False
            self.run.notes.append(f"op {op_id}: {errs}")
        res = Op("pipeline", wall, not errs, traced)
        tr.clear_group()
        if traced and not errs:
            res.spans = _span_durations(tr, op_id)
            res.counters = tr.stage_counters([f"op{op_id}"], ingest_marker="MapInPandas")
            res.counters["arrow_bytes"] = tr.sql_metric(
                [f"op{op_id}"], "MapInPandas", "data returned from Python workers"
            )
            files = [
                e.stat().st_size
                for e in os.scandir(self.snapshot)
                if e.name.startswith("part-")
            ]
            passes = got["records"] // self.expected.records
            res.counters.update(
                passes=passes,
                kept=got["kept"] // passes,
                out=got["out"],
                bytes_written=sum(files),
                files_written=len(files),
            )
        return res

    def timed(self) -> None:
        _timed_loop(self.run, lambda traced: [self.op(next(self.run.op_ids), traced)])

    def rows(self, op: Op) -> int:
        return self.expected.records

    def layer_metrics(self, traced: list[Op]) -> dict:
        c = lambda k: _mean([o.counters.get(k, 0) for o in traced])  # noqa: E731
        s = lambda k: _mean([o.spans.get(k, 0) for o in traced])  # noqa: E731
        return {
            "pipeline.ingest.records": self.expected.records,
            "pipeline.ingest.passes": c("passes"),
            "pipeline.ingest.task_s": c("ingest_task_ms") / 1e3,
            "pipeline.ingest.arrow_bytes": c("arrow_bytes"),
            "pipeline.contracts.rows_kept": c("kept"),
            "pipeline.contracts.rows_out": c("out"),
            "pipeline.contracts.build_s": s("pipeline.contracts.build"),
            "pipeline.contracts.flagship_s": s("pipeline.contracts.flagship"),
            "sinks.write_s": s("sinks.write"),
            "sinks.bytes_written": c("bytes_written"),
            "sinks.files_written": c("files_written"),
            "sinks.bytes_per_row": c("bytes_written") / max(1, c("out")),
        }


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------

WORKLOADS = {
    "samgov_pipeline": Pipeline,
    "relational_mix": lambda run: Mix(run, RELATIONAL),
    "iterative_mix": lambda run: Mix(run, ITERATIVE),
}


def _timed_loop(run: Run, unit) -> None:
    """Run the run's fixed number of whole units of work (``unit(traced)``
    → its operations). A traced run first runs one uncounted unit, so its
    plain and traced units are equally warm, then alternates traced and
    plain units, at least one of each."""
    n_units = max(2 if run.trace else 1, round(run.seconds / UNIT_S[run.workload]))
    if run.trace:
        unit(False)
    t_start = time.perf_counter()
    for n in range(n_units):
        run.ops.extend(unit(run.trace and n % 2 == 0))
    run.elapsed = time.perf_counter() - t_start


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def _span_durations(tr: Tracer, op_id: int) -> dict:
    return {s.name: s.end - s.start for s in tr.spans if s.op == op_id}


def execute(run: Run) -> dict:
    """Run one workload; the result object the benchmark prints."""
    wl = WORKLOADS[run.workload](run)
    t = time.perf_counter()
    wl.make_inputs()
    inputs_s = time.perf_counter() - t
    for cycle in range(SETUP_CYCLES):
        # the first set-up counts from process start, less input generation
        t0 = run.t_process + inputs_s if cycle == 0 else time.perf_counter()
        run.start_session()
        wl.setup()
        run.setup_s.append(time.perf_counter() - t0)
    t = time.perf_counter()
    wl.check()
    check_s = time.perf_counter() - t
    wl.timed()
    run.notes.append(
        f"phases: inputs {inputs_s:.2f}s, setups "
        + ", ".join(f"{s:.2f}s" for s in run.setup_s)
        + f", check {check_s:.2f}s, timed {run.elapsed:.2f}s"
    )
    return summarize(run, wl)


def summarize(run: Run, wl) -> dict:
    tally = Tally()
    for op in run.ops:
        tally.add(op.ok)
    plain = [o for o in run.ops if not o.traced]
    if run.trace:
        metrics = _layer_metrics(run, wl, plain)
        units = PER_LAYER_UNITS
    else:
        walls = [o.wall for o in run.ops]
        tail = tail_percentile(len(walls))
        run.notes.append(
            f"{len(walls)} operations; latency p50 {percentile(walls, 50):.4f} s, "
            f"p90 {percentile(walls, 90):.4f} s, quartiles "
            + "/".join(f"{q:.4f}" for q in quartiles(walls))
            + " s; highest percentile with 10 beyond: "
            + (f"p{tail:.0f} = {percentile(walls, int(tail)):.4f} s" if tail else "none")
        )
        good = [o for o in run.ops if o.ok]
        metrics = {
            "setup_s": median(run.setup_s),
            "ops_per_s": len(good) / run.elapsed,
            "rows_per_s": sum(wl.rows(o) for o in good) / run.elapsed,
        }
        units = END_TO_END_UNITS
    return {
        "correct": run.correct and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _layer_metrics(run: Run, wl, plain: list[Op]) -> dict:
    traced = [o for o in run.ops if o.traced]
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    out["session.start_s"] = median(run.session_s)
    out["tables.load_s"] = median(run.tables_s) if run.tables_s else 0.0
    for metric, (key, scale) in OPERATOR_COUNTERS.items():
        out[f"operators.{metric}"] = _mean([o.counters.get(key, 0) * scale for o in traced])
    task_s = sum(o.counters.get("task_ms", 0) for o in traced) / 1e3
    wall = sum(o.wall for o in traced)
    out["operators.non_task_share"] = 1 - task_s / (run.cpus * wall) if wall else 0.0
    out["operators.failed_tasks"] = sum(o.counters.get("failed_tasks", 0) for o in traced)
    out.update(wl.layer_metrics(traced))
    out["trace.overhead_ratio"] = _mean([o.wall for o in traced]) / _mean(
        [o.wall for o in plain]
    )
    out["process.peak_rss_mb"] = tree_peak_rss_mb()
    return out

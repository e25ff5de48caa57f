"""SparkSession construction tuned for this engine.

Local test profile: ``local[N]`` single-JVM. The same builder settings are
the ones we'd ship on a 1000-executor cluster (AQE on, adaptive skew-join,
partition coalescing); only memory/parallelism sizing is deployment-specific.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Runtime (SQL) confs that matter for correctness and must hold even when
#: the driver hands us a pre-built session: applied by ``configure_runtime``.
RUNTIME_CONFS = {
    # Oracle comparison is timezone-proof only if Spark interprets the
    # (timezone-naive) parquet timestamps exactly like DuckDB does: as UTC.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults ANSI on; the engine's coerce semantics (reference
    # lambda_function.py:87 `errors="coerce"`) want NULL-on-bad-parse. We
    # still use try_* functions everywhere it matters; this is belt+braces.
    "spark.sql.ansi.enabled": "false",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Essential at 100 TB; harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let a relation partitioned on a SUBSET of a join's keys co-partition
    # that join instead of forcing a full-key re-exchange (planner-freedom
    # conf — results invariant, full-registry oracle sweep green under it).
    # The iterative graph family leans on this: graph_random_walks probes
    # its (src)-partitioned ranked-neighbor cache on (src, idx) with zero
    # per-step exchange of the |E| side (operators/graph.py r7 note).
    # SCOPE NOTE (r8): this is set session-wide although only the graph
    # family needs it, and it can change join PHYSICAL plans everywhere —
    # and therefore float-summation order. Every registered query is
    # either rounded at the output or integer/decimal-exact, and the full
    # registry is oracle-swept under this conf; any NEW query that emits
    # an UNROUNDED floating-point aggregate must be swept under this conf
    # too (or round like the rest of the registry) before registration,
    # or it may drift across Spark versions in ways the graph-local
    # rationale doesn't cover.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long (nanos since epoch) and normalize to
    # micros in tables.load_tables (exact integer division).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture parquet writes timestamps with isAdjustedToUTC=false, which
    # Spark 4 infers as TIMESTAMP_NTZ — a type watermarks and unix_micros
    # reject. Read them as TIMESTAMP instead: with the session pinned to
    # UTC the wall-clock values are bit-identical to DuckDB's naive read,
    # and the streaming sources inherit a watermarkable event-time column.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Scan-split sizing. The local fixtures are single small files whose
    # row groups are ~1 MB — the 128 MB default packs each table into ONE
    # task and serializes the scan stage on a 32-core box. 1 MB splits
    # let every row group scan in parallel. On a real cluster (100 TB,
    # many ≥128 MB files) leave the default: SPARK_GRAFT_MAX_PARTITION_BYTES
    # is the deployment knob.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(1024 * 1024)
    ),
}


#: The directory holding the package and ``spark_worker_daemon.py``.
_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: Sessions already configured — configure_runtime is called by every
#: query via load_tables, and a 100-query sweep over one session should
#: pay the conf round-trips once, not per query. Weak-keyed (not id()):
#: CPython reuses ids after GC, and a stale id hit would silently skip
#: configuring a brand-new session (same hazard class as the r5
#: iso-cache advice).
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-safe)."""
    if spark in _CONFIGURED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this build: builder already set it
    _CONFIGURED.add(spark)
    return spark


def _default_driver_mem() -> str:
    """Driver heap default, sized to the machine instead of hardcoded.

    A 45-query bench sweep churns broadcasts, cached plans and codegen
    classes faster than the async ContextCleaner reclaims them; at 8g
    the old-gen pressure showed up as 2-4x per-query swings late in the
    sweep (measured r5), and 24g cured it on the 128 GiB bench box. But
    24g unconditionally would fail JVM startup (or push the host into
    swap) on small dev/CI machines, so take min(24g, ~half of
    MemAvailable) with an 8g fallback when /proc/meminfo is unreadable
    (macOS, containers with masked procfs). SPARK_DRIVER_MEM stays the
    explicit override.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, avail_gib // 2))}g"
    except OSError:
        pass
    return "8g"


def get_spark(app_name: str = "etl_pipeline_sam_gov_spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local[N, K]: K task-attempt retries before a stage aborts — the
    # robustness-sweep knob (executor loss / speculative retry
    # determinism needs tasks that can legally re-run; plain local[N]
    # pins maxFailures=1 so the first injected failure kills the job).
    retries = os.environ.get("SPARK_GRAFT_TASK_MAX_FAILURES")
    master = f"local[{cpus},{int(retries)}]" if retries else f"local[{cpus}]"
    # Robustness-sweep knob (VERDICT r08 #5 / r09 #8): an explicit
    # master — e.g. local-cluster[2,2,2048] — runs the full registry
    # with executors in SEPARATE JVMs, exercising real serialization of
    # every closure/row/broadcast instead of local mode's in-process
    # handoff. Never set by bench.py or the driver; the bench contract
    # (local[$SPARK_GRAFT_CPUS]) is unchanged.
    master = os.environ.get("SPARK_GRAFT_MASTER", master)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle parallelism sized to cores for local; on a real cluster
        # AQE coalescing makes the initial number mostly a ceiling.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # Python workers start from spark_worker_daemon (beside the package),
    # which drops Spark's jar, and its pyspark/py4j zips when the same
    # version is installed as a directory, from the workers' sys.path.
    # PySpark's worker calls importlib.invalidate_caches() per task, and
    # under CPython 3.11 each zipimporter then re-reads its archive's
    # directory (gh-103200, fixed in 3.12): 16 of them, ~0.2 CPU-s per
    # task. A mismatched or missing install keeps Spark's zips. The
    # checkout root goes on the workers' PYTHONPATH so the daemon (and
    # the package, for UDFs pickled by reference) imports from any
    # working directory. Only local masters: their executors share this
    # filesystem; other masters keep Spark's default daemon.
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "spark_worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _CHECKOUT_ROOT)
    # Build-time conf overrides for robustness sweeps (speculation and
    # other scheduler confs are frozen at SparkContext startup, so a
    # runtime spark.conf.set cannot exercise them):
    # SPARK_GRAFT_EXTRA_CONFS="k1=v1,k2=v2".
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for pair in filter(None, extra.split(",")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_runtime(spark)

"""Sources & sinks surface (SURVEY.md §2.1).

The reference's sinks: one-file parquet overwrite (S4), S3 upload (S5 —
subsumed by path scheme), console print (S8), CSV query results (S9).
Here each is the Spark-native equivalent, plus the JSON/ORC formats an
engine is expected to read/write. Everything takes/returns DataFrames;
paths may be local, ``s3a://``, or anything Hadoop FS supports — the
S3 "upload" step of the reference is just a path scheme here.

Scale notes: ``snapshot`` (fixed-key overwrite) is the reference's
semantics and is kept for parity; ``partitioned_snapshot`` is what to
use at 100 TB — dynamic partition overwrite replaces only the touched
date partitions and gives readers partition pruning (the real version
of the reference's manual date-window filter, SURVEY.md S2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_parquet_snapshot(df: DataFrame, path: str) -> None:
    """S4/S5: full-snapshot overwrite (lambda_function.py:120-128),
    staged: the write lands in ``<path>__staging`` and only a finished
    write is published with :func:`swap_into_place`. A plain overwrite
    deletes the live snapshot before its job runs, so a job that fails
    part-way would leave readers an empty directory; here it leaves the
    previous snapshot in place."""
    staging = path.rstrip("/") + "__staging"
    df.write.mode("overwrite").parquet(staging)
    swap_into_place(df.sparkSession, staging, path)


def write_partitioned_snapshot(df: DataFrame, path: str, *cols: str) -> None:
    """The 100 TB version of S4: date/key-partitioned parquet with
    dynamic partition overwrite — only rewrites touched partitions."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def write_csv_results(df: DataFrame, path: str) -> None:
    """S9: CSV result set (the Athena output-location equivalent)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def console_sink(df: DataFrame, n: int = 20) -> None:
    """S8: per-row console report (lambda_function.py:160-171) — a
    bounded show(), never a full collect."""
    df.show(n, truncate=False)


def read_any(spark: SparkSession, path: str, fmt: str, **options) -> DataFrame:
    """Uniform reader: parquet/csv/json/orc. CSV/JSON callers should
    pass an explicit ``schema`` option in production — inference scans
    the data twice."""
    reader = spark.read
    schema = options.pop("schema", None)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: tuple[str, ...] = (),
) -> int:
    """Small-file compaction: rewrite a parquet location into
    ~target_file_bytes files (per partition when partitioned), returning
    the output file count.

    The small-files problem is the chronic failure mode of streaming /
    micro-batch sinks at scale: a 100 TB table written in 10k
    micro-batches accretes millions of KB-sized files, and every reader
    then pays open/footer costs per file and loses row-group-level
    pruning. Compaction is the maintenance operator every table format
    (Delta OPTIMIZE, Iceberg rewrite_data_files) ships; this is the
    plain-parquet version: size-aware coalesce to ceil(bytes / target)
    files, staged through a temp suffix then swapped in via two renames
    (live → __old, tmp → live, delete __old) so the destination is
    absent only between two back-to-back metadata renames, never for
    the duration of a recursive delete, and a crash at any point leaves
    the data intact at exactly one of the three suffixes. (True
    atomicity needs a table format's metadata pointer — rename is not
    atomic on object stores; this is the best plain-FS approximation.)

    Unpartitioned: plain round-robin repartition to n files.
    Partitioned: repartition on the PARTITION COLUMNS plus a salt sized
    from per-partition byte estimates — round-robin would scatter every
    partition value across every task and emit up to n_files ×
    n_partitions tiny files, defeating the size targeting.

    Uses the actual on-disk byte size (Hadoop FS content summary), not
    row counts — file-size targeting is the point of the operator."""
    import math

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    if partition_cols:
        # Per-partition salt count ∝ that partition's byte share, so
        # each partition compacts toward target_file_bytes on its own.
        counts = df.groupBy(*partition_cols).count()
        total_rows = max(
            1, sum(r["count"] for r in counts.select("count").collect())
        )
        salts = counts.select(
            *partition_cols,
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.col("count") / total_rows * total_bytes / target_file_bytes
                ),
            )
            .cast("int")
            .alias("__n_salt"),
        )
        salted = df.join(F.broadcast(salts), list(partition_cols)).withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]), F.col("__n_salt")
            ),
        )
        writer = (
            salted.repartition(n_files, *partition_cols, "__salt")
            .drop("__n_salt", "__salt")
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
        )
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.parquet(tmp)
    swap_into_place(spark, tmp, path)
    it = fs.listFiles(hpath, True)
    n_out = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n_out += 1
    return n_out


def write_bucketed_table(
    df: DataFrame,
    name: str,
    n_buckets: int,
    *keys: str,
    path: str | None = None,
    sorted_by_keys: bool = True,
) -> None:
    """Bucketed (+ optionally sorted) parquet table — the co-located
    join seam for 100 TB fact tables (SURVEY.md §4, tables.py note).

    Writing both sides of a hot equi-join bucketed by the join key with
    the SAME bucket count lets Spark plan the join with ZERO shuffle
    exchanges: each task reads bucket i of both tables (hash(key) is
    the bucket id — the persisted form of HashPartitioning), so the
    join's per-key co-location is established once at write time and
    amortized over every subsequent query. With ``sorted_by_keys`` the
    per-bucket sort is persisted too, cutting the sort-merge join's
    sort to a merge when each bucket holds one file. Bucketing requires
    the table catalog (``saveAsTable``) because the bucket spec lives
    in table metadata, not in the parquet files — a plain
    ``.parquet(path)`` write cannot carry it.

    ``tests/test_bucketing.py`` pins the plan property differentially:
    the bucketed join has no shuffle exchange where the identical
    unbucketed join has two."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *keys)
    if sorted_by_keys:
        w = w.sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def swap_into_place(spark: SparkSession, tmp: str, path: str) -> None:
    """Two-rename swap of a staged dataset into its live location
    (live → __old, tmp → live, delete __old): the destination is absent
    only between two back-to-back metadata renames — never for the
    duration of a recursive delete — and a crash at any point leaves
    the data intact at exactly one of the three suffixes. Shared by
    write_parquet_snapshot and compact_snapshot. (True atomicity needs
    a table format's metadata pointer; this is the best plain-FS
    approximation.)"""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    tmp_path = sc._jvm.org.apache.hadoop.fs.Path(tmp)
    old = path.rstrip("/") + "__old"
    old_path = sc._jvm.org.apache.hadoop.fs.Path(old)
    fs.delete(old_path, True)  # clear any stale leftover from a crash
    if fs.exists(hpath):
        fs.rename(hpath, old_path)
    fs.rename(tmp_path, hpath)
    fs.delete(old_path, True)


def write_versioned_snapshot(df: DataFrame, root: str, version: str) -> str:
    """Write a snapshot under ``root/v=<version>/`` — the
    dated-snapshot layout whose newest directory is "the table" and
    whose older siblings are retained history (the reference overwrote
    ONE fixed key per run, ``lambda_function.py:15,122,126-128``,
    destroying history; versioned layouts are how production keeps
    yesterday queryable and makes every publish atomic: readers resolve
    the newest complete version, never a half-written one)."""
    path = f"{root.rstrip('/')}/v={version}"
    df.write.mode("overwrite").parquet(path)
    return path


def list_snapshot_versions(spark: SparkSession, root: str) -> list[str]:
    """Version labels present under a versioned-snapshot root, oldest
    first (lexicographic — version labels must sort chronologically,
    e.g. zero-padded dates/sequence numbers)."""
    sc = spark.sparkContext
    hroot = sc._jvm.org.apache.hadoop.fs.Path(root)
    fs = hroot.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hroot):
        return []
    out = []
    for status in fs.listStatus(hroot):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("v="):
            out.append(name[2:])
    return sorted(out)


def expire_snapshots(spark: SparkSession, root: str, keep: int) -> list[str]:
    """Retention: delete all but the newest ``keep`` versions under a
    versioned-snapshot root; returns the expired labels. The
    maintenance companion to compact_snapshot (Iceberg calls this
    expire_snapshots; Delta, VACUUM): without retention a daily
    100 TB snapshot pipeline grows unbounded. Deletion order is
    oldest-first so a crash mid-expiry leaves a contiguous (newest)
    suffix of versions intact — the invariant readers rely on."""
    if keep < 1:
        raise ValueError("keep must be >= 1 — refusing to delete every version")
    versions = list_snapshot_versions(spark, root)
    doomed = versions[: max(0, len(versions) - keep)]
    sc = spark.sparkContext
    fs = sc._jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        sc._jsc.hadoopConfiguration()
    )
    for v in doomed:
        fs.delete(sc._jvm.org.apache.hadoop.fs.Path(f"{root.rstrip('/')}/v={v}"), True)
    return doomed


def read_snapshot_version(
    spark: SparkSession, root: str, version: str | None = None
) -> DataFrame:
    """Read one version of a versioned snapshot (newest when
    ``version`` is None) with schema-evolution-on-read: mergeSchema
    unifies columns added across versions, so a reader spanning old
    and new snapshots sees the superset schema with NULLs where a
    version predates a column — the plain-parquet form of the schema
    evolution every table format guarantees."""
    versions = list_snapshot_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no versions under {root}")
    v = version if version is not None else versions[-1]
    return spark.read.option("mergeSchema", "true").parquet(
        f"{root.rstrip('/')}/v={v}"
    )

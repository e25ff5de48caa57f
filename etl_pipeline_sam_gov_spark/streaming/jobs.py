"""Structured Streaming generalization (SURVEY.md §2.9, §7 Phase 3).

The reference approximates a stream with a daily EventBridge batch over
a sliding 5-day window and a full-snapshot overwrite
(``lambda_function.py:11,18-21,122,126-128``; ``README.md:15,28``).
Here that becomes real Structured Streaming over the ``events`` table:

- tumbling / sliding windowed aggregation with event-time semantics
- session windows (the streaming twin of operators.analytics)
- stateful dedup within a watermark
- a ``foreachBatch`` snapshot sink reproducing the reference's
  overwrite-fixed-key semantics exactly once per epoch

For driver correctness these run the parquet fixture through a real
``readStream`` → memory sink → ``processAllAvailable()`` cycle, so the
streaming runtime (incrementalization, state store) is genuinely
exercised, while the final answer equals the batch aggregation — which
is what the DuckDB oracle checks. Watermarks are configured but cannot
drop anything in a replay of historical data (all data arrives before
the watermark advances past it) — exactly the semantics a backfill run
would have in production.

Scale notes: event-time windowed aggs keep O(open windows × groups)
state per partition; the watermark bounds state size. The snapshot
sink pattern (foreachBatch + overwrite) is the streaming version of
the reference's "fixed S3 key" and should become partitioned-overwrite
(replaceWhere) at 100 TB.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_sam_gov_spark.operators import curation as _cur
from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.session import configure_runtime

_counter = itertools.count()


#: path → symlink directory, scoped to THIS process via mkdtemp (a
#: world-shared fixed /tmp path would be a symlink-hijack surface on
#: multi-user hosts, and stale entries from dead sessions could mask
#: recreated fixtures).
_stream_dirs: dict[str, str] = {}


def _stream_dir_for(path: str) -> str:
    """Spark's file stream source requires a directory; expose the
    single fixture file through a per-path symlink directory (a real
    deployment points at the landing directory itself). When the path
    ALREADY is a directory (a real landing zone, or a Spark-written
    table like the stress amplifier's), stream straight from it — the
    symlink indirection would otherwise bury the part-files one level
    below the glob and the source would silently read zero files (the
    stress battery's stream rows showed 0 at every amplification)."""
    import tempfile

    if os.path.isdir(path):
        return path
    d = _stream_dirs.get(path)
    if d is None:
        d = tempfile.mkdtemp(prefix="spark_graft_stream_")
        _stream_dirs[path] = d
    link = os.path.join(d, os.path.basename(path))
    if os.path.islink(link) and not os.path.exists(link):
        os.remove(link)  # repair: target deleted and recreated elsewhere
    if not os.path.islink(link):
        os.symlink(path, link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet (file-source streaming —
    the same plan a kafka source would feed). Normalizes the
    nanos-as-long timestamp exactly like tables.load_tables."""
    configure_runtime(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema  # pre-normalization schema
    stream = spark.readStream.schema(schema).parquet(_stream_dir_for(path))
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return _denaive(stream)


def _denaive(stream: DataFrame) -> DataFrame:
    """TIMESTAMP_NTZ → TIMESTAMP (UTC session): watermarks require an
    event-time column with a timezone; the stored micros are unchanged.
    Only needed when inferTimestampNTZ couldn't be flipped (session.py)."""
    for c, t in stream.dtypes:
        if t == "timestamp_ntz":
            stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    return stream


#: State-store backend per SPARK_GRAFT_STATE_STORE: the default HDFS
#: provider keeps all state on the JVM heap (fine for replay-scale
#: fixtures); "rocksdb" switches to the spillable RocksDB provider —
#: the 100 TB choice, where per-partition state outgrows executor heap
#: and incremental checkpointing beats full-snapshot uploads.
_STATE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def run_to_memory(
    agg: DataFrame, mode: str = "complete", shuffle_partitions: int | None = None
) -> DataFrame:
    """Drive a streaming aggregation to completion against a memory
    sink; returns the final result table.

    ``shuffle_partitions`` scopes ``spark.sql.shuffle.partitions`` to
    this query: a stateful operator materializes one state-store
    instance (and, for Pandas-stateful ops, one Python worker round)
    PER shuffle partition PER micro-batch, so the session's scan-sized
    default is pure overhead for replay-scale state. The count is
    frozen into the query's state layout at start — results are
    partition-count-independent; on a live deployment size it to state
    volume, not scan volume.

    ``SPARK_GRAFT_STATE_STORE=rocksdb`` switches every stateful job to
    the RocksDB state store (results identical — the provider is a
    storage backend, not a semantics change; tests/test_streaming.py
    pins that)."""
    spark = agg.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    provider = _STATE_PROVIDERS.get(os.environ.get("SPARK_GRAFT_STATE_STORE", ""))
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = None
    if provider:
        prev_provider = spark.conf.get(_PROVIDER_KEY, None)
        spark.conf.set(_PROVIDER_KEY, provider)
    name = f"stream_out_{next(_counter)}"
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if provider:  # scope the provider to this query like the partitions
            if prev_provider is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, prev_provider)
    return spark.table(name)


@query(
    "stream_tumbling_hourly",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       round(SUM(value), 6) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window × event_type, computed by the
    streaming runtime (watermarked, complete mode) and checked against
    the batch-equivalent oracle."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    out = run_to_memory(agg, mode="complete")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "stream_sliding_quarter",
    oracle="""
WITH slides AS (SELECT unnest(range(0, 4)) * INTERVAL 15 MINUTE AS off)
SELECT strftime(date_trunc('hour', ts - off) + off, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n,
       round(SUM(value), 6) AS total_value
FROM events CROSS JOIN slides
WHERE ts >= date_trunc('hour', ts - off) + off
  AND ts <  date_trunc('hour', ts - off) + off + INTERVAL 1 HOUR
GROUP BY 1
""",
)
def stream_sliding_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min slide): each event lands in 4
    overlapping windows. Oracle replays the window assignment rule
    (aligned origin) relationally."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    out = run_to_memory(agg, mode="complete")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "total_value",
    )


@query(
    "stream_session_windows",
    oracle="""
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
),
flagged AS (
  -- strict > : Spark session windows MERGE when they touch — an event
  -- landing EXACTLY gap after its predecessor extends the session
  -- (measured; pinned by tests/test_streaming.py
  -- test_session_window_exact_gap_boundary). Matches batch
  -- sessionize_events' strict-> convention.
  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800 * 1000000
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
),
numbered AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_seq
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30 min) per user in the streaming runtime —
    stateful gap-based session assignment. Oracle = the batch
    sessionization (operators.analytics) reduced to (user, start, n)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, mode="complete")
    return out.select(
        "user_id",
        F.unix_micros("win.start").alias("session_start_us"),
        "n_events",
    )


@query(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicatesWithinWatermark) on
    (user_id, event_type) — state is bounded by the watermark instead
    of growing forever. Output keys equal batch DISTINCT."""
    events = read_events_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, mode="append")


def snapshot_stream(
    events: DataFrame, out_path: str, mode: str = "complete"
) -> "object":
    """The reference's overwrite-fixed-key sink (lambda_function.py:
    120-128) as a streaming foreachBatch: every epoch overwrites the
    snapshot atomically. Returns the StreamingQuery (caller stops it)."""

    def write_snapshot(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_path)

    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value")
    )
    return (
        agg.writeStream.outputMode(mode)
        .foreachBatch(write_snapshot)
        .trigger(availableNow=True)
        .start()
    )


@query(
    "stream_stateful_user_totals",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       round(SUM(value), 6) AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.9): a per-user running (count, sum) kept in explicit
    GroupState — the escape hatch for stateful logic the built-in
    windowed aggs can't express (counters, ML feature state, CDC
    merge). Arrow-batched per group; state is two doubles per user, so
    at 100 TB the state store stays O(distinct users), bounded further
    by a timeout in a live deployment. The historical replay drives the
    whole table through the streaming runtime in one availableNow pass,
    so the final update equals the batch GROUP BY the oracle runs.
    (tests/test_streaming.py additionally replays the same data as
    MULTIPLE micro-batches and checks the final state per user is
    unchanged — the incremental path, not just the one-shot replay.)
    """
    events = read_events_stream(spark, sf_dir)
    out = run_to_memory(
        stateful_user_totals(events), mode="update", shuffle_partitions=8
    )
    # one availableNow replay = one batch = one update row per user; a
    # multi-batch run would emit one row per (user, batch) and the final
    # row per user would be the comparable value.
    return out


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """The applyInPandasWithState plan over any events stream: per-user
    running (count, sum) in explicit GroupState."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query(
    "stream_stream_join_purchase_click",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id,
       date_diff('second', c.ts, p.ts) AS lag_s
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
""",
)
def stream_stream_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (SURVEY.md §2.9): purchases matched
    to the clicks that preceded them by ≤30 min, both sides unbounded
    streams. Watermarks bound the join state on BOTH sides — each side
    buffers only rows inside watermark + interval, so state is
    O(rate × window) however long the streams run; without the time
    bound Spark (correctly) refuses the join as unbounded-state. The
    historical replay equals the batch interval self-join the oracle
    runs."""
    events = read_events_stream(spark, sf_dir)
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    out = run_to_memory(joined, mode="append", shuffle_partitions=8)
    return out.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).cast("bigint").alias("lag_s"),
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents parquet — the landing-zone
    stream a continuously-ingesting corpus pipeline tails."""
    configure_runtime(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    return _denaive(spark.readStream.schema(schema).parquet(_stream_dir_for(path)))


@query(
    "stream_curation_corpus_counts",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, lang, source,
         len(string_split_regex(text, '\s+')) AS n_tokens
  FROM documents
),
q AS (SELECT * FROM toks WHERE n_tokens >= {_cur.MIN_TOKENS}),
rated AS (
  SELECT *, CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 10000
                 WHEN CAST(substr(source, 4) AS INT) < 10 THEN 5000
                 WHEN CAST(substr(source, 4) AS INT) < 15 THEN 2500
                 ELSE 1000 END AS keep_bp
  FROM q
),
kept AS (
  SELECT doc_id, lang, n_tokens FROM rated
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 15))::BIGINT
        % 10000 < keep_bp
),
sp AS (
  SELECT *, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                      % 100 < {_cur.SPLIT_TRAIN} THEN 'train'
                 WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                      % 100 < {_cur.SPLIT_VAL} THEN 'val'
                 ELSE 'test' END AS split
  FROM kept
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM sp GROUP BY lang, split
""",
)
def stream_curation_corpus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: the SAME stateless quality→mixture→
    split expression prefix as the batch DAG (curation.
    curated_split_docs — one code path, two runtimes) over a document
    landing stream, maintaining live per-(lang, split) corpus counters.
    One stateful aggregation in complete mode; at 100 TB the counters
    are the corpus-health dashboard a continuously-ingesting pipeline
    watches, and the state is |langs × splits| rows — constant."""
    docs = read_documents_stream(spark, sf_dir)
    sp = _cur.curated_split_docs(docs)
    agg = sp.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return run_to_memory(agg, mode="complete")


@query(
    "stream_static_enriched_counts",
    oracle="""
SELECT c_mktsegment, e.event_type, COUNT(*) AS n,
       round(SUM(e.value), 6) AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c_mktsegment, e.event_type
""",
)
def stream_static_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the events stream enriched against a batch
    dimension (customer) — the standard lookup-enrichment pattern.
    Unlike the stream-stream interval join, the static side needs no
    watermark or state. The dim side is deliberately un-hinted:
    size-based planning broadcasts it into each micro-batch while it
    fits, and at customer-table scale the planner can fall back to a
    shuffled stream-static join instead of OOMing on a pinned build
    side — one dim table serving both runtimes either way. The per-(segment, type)
    aggregate is the lone stateful op (complete mode, constant-size
    state)."""
    from etl_pipeline_sam_gov_spark.tables import load_tables as _lt

    events = read_events_stream(spark, sf_dir)
    cust = _lt(spark, sf_dir, ("customer",))["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    enriched = events.join(
        cust, F.col("c_custkey") == F.col("user_id")
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    return run_to_memory(agg, mode="complete")


def _stream_ewma_oracle() -> str:
    """Final per-user EWMA via the same recursive-CTE recurrence as the
    batch oracle (functions.udfs._ewma_oracle), reduced to each user's
    last row; rounding replicates Spark's shortest-repr HALF_UP (the
    VARCHAR -> DECIMAL chain, see udf_ewma_user_values)."""
    from etl_pipeline_sam_gov_spark.functions.udfs import EWMA_ALPHA as a

    return f"""
WITH RECURSIVE seq AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
rec AS (
  SELECT event_id, user_id, value, rn, value AS y FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_id, s.user_id, s.value, s.rn, {a} * s.value + {1 - a} * r.y
  FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id,
       CAST(rn AS BIGINT) AS n_events,
       CAST(CAST(CAST(y AS VARCHAR) AS DECIMAL(18,6)) AS DOUBLE) AS ewma
FROM (SELECT *, MAX(rn) OVER (PARTITION BY user_id) AS mx FROM rec)
WHERE rn = mx
"""


@query("stream_ewma_user_values", oracle=_stream_ewma_oracle())
def stream_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of udf_ewma_user_values: the per-user EWMA
    recurrence carried in explicit GroupState across micro-batches —
    the ORDER-SENSITIVE stateful case (unlike stateful_user_totals'
    commutative sums, a reordered event changes the answer). Each
    batch's group rows sort by (ts, event_id) before folding, and the
    recurrence resumes from the state's saved y — exact whenever
    batch boundaries respect event time per user, which the
    availableNow historical replay (and any log-ordered source, e.g. a
    time-partitioned kafka topic keyed by user) guarantees. The fold
    is op-for-op the batch kernel's loop, so the streaming final state
    hash-matches the batch recursive-CTE oracle."""
    from etl_pipeline_sam_gov_spark.functions.udfs import EWMA_ALPHA

    events = read_events_stream(spark, sf_dir)

    def update_ewma(key, pdfs, state):
        import pandas as pd

        a = EWMA_ALPHA
        n, y = state.get if state.exists else (0, None)
        chunks = [pdf for pdf in pdfs]
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        for x in pdf["value"].tolist():
            y = x if y is None or n == 0 else a * x + (1 - a) * y
            n += 1
        state.update((n, float(y)))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma_raw": [y]})

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("ewma_raw", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("y", T.DoubleType())]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    smoothed = (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_ewma,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(smoothed, mode="update", shuffle_partitions=8)
    return out.select(
        "user_id", "n_events", F.round("ewma_raw", 6).alias("ewma")
    )


#: sf_dir → heartbeat landing directory (events symlink + a two-row
#: heartbeat file), built once per process like _stream_dirs.
_hb_landings: dict[str, str] = {}


def _heartbeat_landing(spark: SparkSession, sf_dir: str) -> str:
    """Landing dir for the outer-join replay: the events fixture plus a
    two-row watermark-heartbeat file — one far-future 'purchase' (user
    -1) and one far-future 'click' (user -2), written in the fixture's
    on-disk schema. Heartbeats are the production pattern for advancing
    event-time watermarks on quiet streams (an outer join cannot emit
    its unmatched rows until the watermark passes them); the two rows
    pass each side's pushed-down event_type filter — a typed-but-
    filtered sentinel would be dropped AT THE SCAN, below the watermark
    operator, and never advance anything (measured). They use disjoint
    negative user_ids so they can never join each other or real data,
    and the query filters ids < 0 from the final table."""
    d = _hb_landings.get(sf_dir)
    if d is not None:
        # Stale guard (the _stream_dir_for repair, landing-wide): a
        # dangling events symlink means the source was deleted and
        # recreated elsewhere — rebuild rather than replay 2 rows. The
        # landing dir itself can also vanish (/tmp cleanup), so the
        # isdir check falls through to the rebuild instead of raising.
        if os.path.isdir(d) and all(
            os.path.exists(os.path.join(d, f)) for f in os.listdir(d)
        ):
            return d
        _hb_landings.pop(sf_dir)
    import glob
    import shutil
    import tempfile

    path = os.path.join(sf_dir, "events.parquet")
    raw = spark.read.parquet(path)  # on-disk schema (ts may be bigint nanos)
    ts_is_nanos = dict(raw.dtypes)["ts"] == "bigint"
    far = (10 * 3600) * (10**9 if ts_is_nanos else 1)
    top = raw.orderBy(F.col("ts").desc()).limit(1)

    def hb(event_id: int, user_id: int, etype: str):
        ts = (F.col("ts") + F.lit(far)) if ts_is_nanos else (
            F.col("ts") + F.expr("INTERVAL 10 HOURS")
        )
        return F.struct(
            F.lit(event_id).cast("bigint").alias("event_id"),
            ts.alias("ts"),
            F.lit(user_id).cast("bigint").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )

    sent = top.select(
        F.explode(F.array(hb(-1, -1, "purchase"), hb(-2, -2, "click"))).alias("r")
    ).select("r.*")
    tmp = tempfile.mkdtemp(prefix="spark_graft_hb_build_")
    sent.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    landing = tempfile.mkdtemp(prefix="spark_graft_hb_")
    if os.path.isdir(path):
        # Directory-shaped source (real landing zone / Spark-written
        # table): symlink its part-files individually — a symlinked
        # DIRECTORY sits one level below the stream glob and reads as
        # zero files (the _stream_dir_for bug, same class; caught by
        # the stress battery's row tracking showing rows=0 for both
        # heartbeat jobs at every amplification). Recursive so a
        # partitioned/nested layout still lands; the assert makes an
        # unrecognized layout fail loudly instead of replaying only
        # the two heartbeat rows.
        parts = glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        )
        assert parts, f"no parquet part-files under {path}"
        for i, f in enumerate(parts):
            os.symlink(f, os.path.join(landing, f"ev_{i}_" + os.path.basename(f)))
    else:
        os.symlink(path, os.path.join(landing, "events.parquet"))
    shutil.copy(part, os.path.join(landing, "zz_heartbeat.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)
    _hb_landings[sf_dir] = landing
    return landing


@query(
    "stream_left_outer_join_purchases",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id,
       date_diff('second', c.ts, p.ts) AS lag_s
FROM events p
LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase'
""",
)
def stream_left_outer_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase, matched
    to preceding clicks within 30 min OR emitted with NULLs once the
    watermark proves no match can still arrive — the semantics the
    inner join (stream_stream_join_purchase_click) cannot express, and
    the one that needs the runtime's state-eviction machinery: an
    unmatched purchase is held in the state store until the global
    watermark passes its eviction bound, then emitted exactly once.
    The replay appends a two-row far-future heartbeat file (see
    _heartbeat_landing) so the watermark crosses the whole historical
    timeline and the final table equals the batch LEFT JOIN the oracle
    runs. State stays O(rate × window) on both sides at any stream
    length — same bound as the inner join."""
    configure_runtime(spark)
    landing = _heartbeat_landing(spark, sf_dir)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(landing)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    stream = _denaive(stream).withWatermark("ts", "1 hour")
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    out = run_to_memory(joined, mode="append", shuffle_partitions=8)
    return out.filter(F.col("purchase_id") >= 0).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("bigint")
        .alias("lag_s"),
    )


def _hypertable_oracle() -> str:
    """The batch twin's raw-scan oracle, verbatim — one source of truth
    for what BOTH the batch and the stream-maintained rollup must equal.
    Imports the defining module first so the lookup works even when this
    module is imported standalone (not via the package __init__'s
    operators-before-streaming order)."""
    import etl_pipeline_sam_gov_spark.operators.aggregates  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["agg_hypertable_rollup"]


@query(
    "stream_hypertable_rollup",
    oracle=_hypertable_oracle(),
)
def stream_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate maintained BY THE STREAM: the 5-minute
    partial tier (count / exact-decimal sum / min / max, all mergeable)
    is a streaming groupBy whose state the runtime updates
    incrementally per micro-batch; the hourly tier then merges the
    streamed partials in batch. Same final answer as the
    agg_hypertable_rollup batch twin and the raw-scan oracle — which is
    the continuous-aggregate correctness contract: stream-maintained
    partials must be indistinguishable from a batch rebuild.

    Scale notes: per-partition state is O(open 5-minute buckets ×
    event types); a production job adds a watermark-bounded window key
    so state for closed buckets is evicted after the hourly merge
    consumes them (replaceWhere partitioned-overwrite per hour)."""
    from etl_pipeline_sam_gov_spark.functions.exact import dec2
    from etl_pipeline_sam_gov_spark.operators.aggregates import (
        HOUR_BUCKETS,
        M5_US,
    )

    events = read_events_stream(spark, sf_dir)
    partial = events.groupBy(
        F.expr(f"unix_micros(ts) div {M5_US}").alias("b5"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("value")).alias("sv"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    m5 = run_to_memory(partial, mode="complete")
    total = F.sum("sv")
    return (
        m5.groupBy(
            F.expr(f"(b5 div {HOUR_BUCKETS}) * 3600000000").alias("hour_us"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            total.cast("double").alias("total_value"),
            F.round(total.cast("double") / F.sum("n"), 6).alias("avg_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


def _pit_oracle() -> str:
    """The batch PIT join's oracle, verbatim — the serving-path stream
    must produce exactly what the training-path batch join produced
    (feature stores call this online/offline consistency). Imports the
    defining module first so decoration order doesn't matter."""
    import etl_pipeline_sam_gov_spark.operators.analytics  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["join_point_in_time_features"]


@query(
    "stream_pit_enrichment",
    oracle=_pit_oracle(),
)
def stream_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-side point-in-time feature enrichment: the purchase
    STREAM joins the batch-built SCD2 feature dimension with the
    validity band, emitting each purchase with the feature version
    valid at its event time — the online serving twin of
    join_point_in_time_features, sharing its oracle verbatim
    (online/offline consistency is the feature-store contract this
    pair pins).

    Scale shape: stream-static equi-join keyed on the entity with the
    band as residual — per micro-batch the dimension is re-read (the
    production pattern: versions published by the batch tier between
    epochs are picked up without restarting the stream)."""
    from etl_pipeline_sam_gov_spark.tables import load_tables

    events = read_events_stream(spark, sf_dir)
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    dim = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("d_user"),
        F.row_number().over(w).cast("bigint").alias("feature_version"),
        ts_us.alias("valid_from_us"),
        F.lead(ts_us).over(w).alias("valid_to_us"),
        F.round("value", 6).alias("feature_value"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.round("value", 6).alias("purchase_value"),
    )
    joined = purchases.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from_us") <= F.col("purchase_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("purchase_us") < F.col("valid_to_us"))
        ),
    ).select(
        "purchase_id",
        "user_id",
        "purchase_us",
        "feature_version",
        "feature_value",
        "purchase_value",
    )
    return run_to_memory(joined, mode="append")


STREAM_TOPK = 2  #: event types kept per window in the serving rank


@query(
    "stream_window_topk_types",
    oracle=f"""
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n, rnk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY window_start ORDER BY n DESC, event_type) AS rnk
  FROM hourly
) WHERE rnk <= {STREAM_TOPK}
""",
)
def stream_window_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rollup + serving-side rank: the tumbling-hour × type
    counts are maintained by the streaming runtime (watermarked,
    complete mode), and the consumer-facing "top event types per hour"
    leaderboard ranks the MATERIALIZED rollup — the dashboard pattern
    (rank over an incrementally-maintained aggregate), since a rank
    window inside the streaming query itself is unsupported-by-design
    for unbounded input (ranks are non-incremental: any new row can
    demote every existing one).

    Scale shape: streaming state is O(open windows × types); the rank
    runs on the windows×types-sized rollup, partitioned by window —
    WindowGroupLimit prunes to STREAM_TOPK per partition before the
    final sort. Deterministic tiebreak on event_type."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rollup = run_to_memory(agg, mode="complete").select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    )
    w = W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        rollup.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= STREAM_TOPK)
        .select("window_start", "event_type", "n", "rnk")
    )


def cdc_upsert_stream(events: DataFrame, snap_path: str) -> "object":
    """Streaming CDC MERGE: each micro-batch upserts into a keyed
    parquet snapshot — per-user event count accumulates, the latest
    (ts, event_id)-ordered value wins — and the new snapshot swaps into
    place through the staged snapshot writer (sinks.write_parquet_snapshot),
    so concurrent readers never observe a missing or half-merged table.
    Returns the StreamingQuery (caller drives and stops it).

    This is the streaming twin of merge_incremental_upsert: the same
    full-outer MERGE shape, run per epoch. The newest-wins comparison
    is on the (ts_us, event_id) tuple — NOT on batch arrival order —
    so the merge is correct even when a later micro-batch carries
    earlier events (out-of-order replay, backfill)."""
    from etl_pipeline_sam_gov_spark.sinks import write_parquet_snapshot

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        w = W.partitionBy("user_id").orderBy(
            F.col("ts_us").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("ts_us").alias("last_ts_us"),
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("last_value"),
            )
        )
        counts = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        changes = counts.join(latest, "user_id")
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(snap_path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            old = spark.read.parquet(snap_path)
            o, c = old.alias("o"), changes.alias("c")
            new_key = F.struct("c.last_ts_us", "c.last_event_id")
            old_key = F.struct("o.last_ts_us", "o.last_event_id")
            take_new = F.col("c.last_ts_us").isNotNull() & (
                F.col("o.last_ts_us").isNull() | (new_key >= old_key)
            )
            merged = o.join(c, "user_id", "full_outer").select(
                "user_id",
                (
                    F.coalesce(F.col("o.n_events"), F.lit(0))
                    + F.coalesce(F.col("c.n_events"), F.lit(0))
                ).alias("n_events"),
                F.when(take_new, F.col("c.last_ts_us"))
                .otherwise(F.col("o.last_ts_us"))
                .alias("last_ts_us"),
                F.when(take_new, F.col("c.last_event_id"))
                .otherwise(F.col("o.last_event_id"))
                .alias("last_event_id"),
                F.when(take_new, F.col("c.last_value"))
                .otherwise(F.col("o.last_value"))
                .alias("last_value"),
            )
        else:
            merged = changes
        write_parquet_snapshot(merged, snap_path)

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )


@query(
    "stream_cdc_snapshot_upsert",
    oracle="""
WITH latest AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
cnt AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
SELECT c.user_id, c.n_events,
       l.ts_us AS last_ts_us, l.event_id AS last_event_id,
       round(l.value, 6) AS last_value
FROM cnt c JOIN latest l ON c.user_id = l.user_id AND l.rn = 1
""",
)
def stream_cdc_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert into a keyed snapshot (SURVEY.md §2.9 +
    the reference's fixed-key snapshot S4, generalized): foreachBatch
    MERGEs each epoch's per-user changes into the parquet snapshot —
    counts accumulate, newest (ts, event_id) value wins — and swaps
    the result in atomically. The serving read at the end is exactly
    what a downstream consumer sees between epochs.

    Scale shape: per epoch one window over the BATCH (not the
    history), one full-outer hash join against the snapshot keyed on
    user_id, one snapshot rewrite — O(snapshot + batch) per epoch; at
    100 TB the rewrite becomes a partitioned overwrite of touched
    partitions (write_partitioned_snapshot) or a table-format MERGE.
    The availableNow replay is one epoch; the out-of-order multi-batch
    path is pinned in tests/test_streaming.py."""
    import tempfile

    events = read_events_stream(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    snap = os.path.join(
        tempfile.mkdtemp(prefix="spark_graft_cdc_"), "snapshot"
    )
    q = cdc_upsert_stream(events, snap)
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(snap).select(
        "user_id",
        "n_events",
        "last_ts_us",
        "last_event_id",
        F.round("last_value", 6).alias("last_value"),
    )


def _markov_oracle() -> str:
    """The batch Markov matrix's oracle, verbatim — the stream-fed
    transition counts must equal the batch lag-window's exactly
    (online/offline consistency, the stream_pit_enrichment contract).
    Imports the defining module first so decoration order doesn't
    matter."""
    import etl_pipeline_sam_gov_spark.operators.behavior  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["markov_event_transitions"]


@query("stream_markov_transitions", oracle=_markov_oracle())
def stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of markov_event_transitions: per-user GroupState
    carries the LAST event type across micro-batches and each batch
    emits the (prev, next) adjacent pairs — the order-sensitive
    stateful shape (stream_ewma_user_values' contract: batch rows sort
    by (ts, event_id) before the fold, and batch boundaries respect
    event time per user under availableNow replay / a log-ordered
    source). The emitted pair stream then aggregates to the transition
    matrix in batch — counts and row-normalized probabilities equal to
    what the batch lag window computes over the full history, pinned
    by sharing that query's oracle verbatim.

    Scale: state per user is ONE string (the last event type) — far
    smaller than the windowed aggs' open-window state; the pair stream
    is append-mode (each pair emitted exactly once), so the downstream
    aggregation could itself be a streaming groupBy in production."""
    events = read_events_stream(spark, sf_dir)

    def update_pairs(key, pdfs, state):
        import pandas as pd

        prev = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        prevs, nexts = [], []
        for t in pdf["event_type"].tolist():
            if prev is not None:
                prevs.append(prev)
                nexts.append(t)
            prev = t
        state.update((prev,))
        yield pd.DataFrame({"prev_type": prevs, "next_type": nexts})

    out_schema = T.StructType(
        [
            T.StructField("prev_type", T.StringType()),
            T.StructField("next_type", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_type", T.StringType())])
    from pyspark.sql.streaming.state import GroupStateTimeout

    pairs_stream = (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_pairs,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    pairs = run_to_memory(pairs_stream, mode="append", shuffle_partitions=8)
    counted = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_norm = W.partitionBy("prev_type")
    return counted.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_norm),
            6,
        ).alias("prob"),
    )


def _peaks_oracle() -> str:
    """The batch CEP peak-pattern query's oracle, verbatim — the
    stateful stream detector must find exactly the peaks the batch
    lag/lead window finds (online/offline consistency). Imports the
    defining module first so decoration order doesn't matter."""
    import etl_pipeline_sam_gov_spark.operators.windows  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["window_pattern_peaks"]


@query("stream_pattern_peaks", oracle=_peaks_oracle())
def stream_pattern_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_pattern_peaks — CEP-style pattern
    matching (``PATTERN (UP UP DOWN)``) as a per-user GroupState
    holding the last THREE events across micro-batches: each arriving
    event completes a 4-tuple, the peak predicate fires on the middle
    pair, and the buffer slides by one — the bounded-buffer NFA that
    Flink CEP compiles such patterns into, here as an
    applyInPandasWithState fold (batch rows sorted by (ts, event_id),
    the stream_ewma ordering contract). Every detection is emitted
    exactly once (append mode); sharing the batch query's oracle
    verbatim pins online = offline.

    Scale: state per user is exactly 3 events (9 scalars) — O(1), no
    open windows, no watermark-held rows; detections stream out the
    moment the closing event arrives (one-event latency, the CEP
    ideal)."""
    events = read_events_stream(spark, sf_dir)

    def detect(key, pdfs, state):
        import pandas as pd

        buf = list(state.get) if state.exists else [None] * 9
        out = []
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts_us, eid, val in zip(
            pdf["ts_us"].tolist(), pdf["event_id"].tolist(), pdf["value"].tolist()
        ):
            b = buf  # (ts,id,v) x 3, oldest first; None-padded at start
            if b[0] is not None and b[3] is not None and b[6] is not None:
                if b[2] < b[5] and b[5] < b[8] and b[8] > val:
                    out.append((key[0], b[7], b[6], b[2], b[5], b[8], val))
            buf = b[3:] + [ts_us, eid, val]
        state.update(tuple(buf))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "event_id", "ts_us",
                "v_m2", "v_m1", "v_peak", "v_p1",
            ],
        )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("v_m2", T.DoubleType()),
            T.StructField("v_m1", T.DoubleType()),
            T.StructField("v_peak", T.DoubleType()),
            T.StructField("v_p1", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ts1", T.LongType()),
            T.StructField("id1", T.LongType()),
            T.StructField("v1", T.DoubleType()),
            T.StructField("ts2", T.LongType()),
            T.StructField("id2", T.LongType()),
            T.StructField("v2", T.DoubleType()),
            T.StructField("ts3", T.LongType()),
            T.StructField("id3", T.LongType()),
            T.StructField("v3", T.DoubleType()),
        ]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    detected = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            detect,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    peaks = run_to_memory(detected, mode="append", shuffle_partitions=8)
    return peaks.select(
        "user_id",
        "event_id",
        "ts_us",
        F.round("v_m2", 6).alias("v_m2"),
        F.round("v_m1", 6).alias("v_m1"),
        F.round("v_peak", 6).alias("v_peak"),
        F.round("v_p1", 6).alias("v_p1"),
    )


def _cms_oracle() -> str:
    """The batch count-min sketch's oracle, verbatim — stream-maintained
    cells must be indistinguishable from a batch rebuild (the
    continuous-aggregate contract). Imports the defining module first
    so decoration order doesn't matter."""
    import etl_pipeline_sam_gov_spark.operators.aggregates  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["agg_count_min_sketch"]


@query("stream_count_min_sketch", oracle=_cms_oracle())
def stream_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained BY THE STREAM: the DEPTH×WIDTH cell
    counters are a streaming groupBy over the hash-exploded event feed
    — the runtime's incremental state update IS the sketch's cell-wise
    merge, which is the whole point of mergeable sketches (a counter
    update commutes with micro-batch boundaries, so replay order can't
    change the sketch). Estimates are then served batch-side by
    probing the streamed cells with each item's DEPTH cells (the
    stream_hypertable_rollup serving split: maintain partials in the
    stream, rank/serve outside it). Shares the batch CMS oracle
    verbatim — the stream-built sketch must equal a batch rebuild
    bit-for-bit, certified as exact integers.

    Scale notes: streaming state is bounded at DEPTH×WIDTH counters
    REGARDLESS of stream cardinality — the defining property that
    makes a CMS the right heavy-hitter state for an unbounded stream
    (a per-key streaming count grows with distincts; this never
    does)."""
    from etl_pipeline_sam_gov_spark.operators.aggregates import (
        CMS_DEPTH,
        CMS_WIDTH,
    )
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60
    from etl_pipeline_sam_gov_spark.tables import load_tables

    events = read_events_stream(spark, sf_dir)
    hrows = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    ).alias("i")
    cell = _spark_hash60(
        F.concat(F.col("i").cast("string"), F.lit(":"),
                 F.col("user_id").cast("string"))
    ) % CMS_WIDTH
    cells_stream = (
        events.select("user_id", hrows)
        .select("i", cell.alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cells = run_to_memory(cells_stream, mode="complete", shuffle_partitions=8)
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    probes = exact.select("user_id", "exact_count", hrows).select(
        "user_id", "exact_count", "i", cell.alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias(
                "overestimate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Stream-maintained exponential (power-of-two) value histogram
# ---------------------------------------------------------------------------


@query(
    "stream_value_histogram",
    oracle="""
WITH cents AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events WHERE value > 0
),
agg AS (
  SELECT CAST(len(bin(c)) - 1 AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sum_cents
  FROM cents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM agg)
SELECT a.bucket,
       CAST(1 AS BIGINT) << a.bucket AS lo_cents,
       a.n, a.sum_cents,
       round(CAST(a.n AS DOUBLE) / t.nt, 6) + 0.0 AS share
FROM agg a CROSS JOIN tot t
""",
)
def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential histogram maintained BY THE STREAM: the power-of-two
    bucket counts/sums (the agg_exponential_histogram law over event
    values) are a streaming groupBy whose per-bucket state the runtime
    updates incrementally each micro-batch — the pattern behind live
    latency-SLO dashboards (bounded state: ≤64 buckets regardless of
    stream volume, the extreme case of mergeable-rollup state). The
    share column is a batch post-step over the final ≤64-row table.

    Bucket index is the bit length of integer cents (string length of
    the binary rendering — no libm on bucket boundaries, the
    agg_exponential_histogram contract)."""
    events = read_events_stream(spark, sf_dir)
    cents = events.filter(F.col("value") > 0).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
    )
    agg = cents.select(
        (F.length(F.bin("c")) - 1).cast("int").alias("bucket"), "c"
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sum_cents"),
    )
    out = run_to_memory(agg, mode="complete", shuffle_partitions=4)
    tot = out.agg(F.sum("n").cast("bigint").alias("nt"))
    return out.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket)").alias("lo_cents"),
        "n",
        "sum_cents",
        (F.round(F.col("n").cast("double") / F.col("nt"), 6) + F.lit(0.0)).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming time-bound funnel: per-user GroupState chain progression
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    """The batch funnel's oracle, verbatim — online/offline consistency
    pinned the stream_pit_enrichment way. Imports the defining module
    first so a standalone import of this module still resolves."""
    import etl_pipeline_sam_gov_spark.operators.behavior  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["behavior_funnel_timebound"]


@query("stream_funnel_timebound", oracle=_funnel_oracle())
def stream_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of behavior_funnel_timebound: each user's funnel
    progress (first view → earliest qualifying click → earliest
    qualifying purchase, each within 24 h of its anchor) lives in
    GroupState and advances as events arrive — the real-time
    conversion tracker, state bounded at three timestamps per user no
    matter how long the stream runs. The greedy in-order fold takes
    the FIRST qualifying event per step, which IS the batch semantics'
    MIN over the qualifying window, so the final state hash-matches
    the batch oracle verbatim (order-sensitive like the EWMA
    recurrence: batch boundaries must respect per-user event time,
    which the availableNow replay guarantees).

    Scale shape: one shuffle on user_id into the state store; per
    micro-batch work is O(batch) with three-long state rows; output in
    update mode re-emits only users whose chain advanced."""
    from etl_pipeline_sam_gov_spark.operators.behavior import FUNNEL_WINDOW_US

    events = read_events_stream(spark, sf_dir)

    def update_funnel(key, pdfs, state):
        import pandas as pd

        v, c, p = state.get if state.exists else (None, None, None)
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        us = (pdf["ts"].astype("int64") // 1000).tolist()
        for et, u in zip(pdf["event_type"].tolist(), us):
            if et == "view" and v is None:
                v = u
            elif (
                et == "click"
                and v is not None
                and c is None
                and v < u <= v + FUNNEL_WINDOW_US
            ):
                c = u
            elif (
                et == "purchase"
                and c is not None
                and p is None
                and c < u <= c + FUNNEL_WINDOW_US
            ):
                p = u
        state.update((v, c, p))
        if v is None:
            return iter(())
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "view_us": [v],
                        "click_us": [c],
                        "purchase_us": [p],
                    }
                )
            ]
        )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("view_us", T.LongType()),
            T.StructField("click_us", T.LongType()),
            T.StructField("purchase_us", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("v", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("p", T.LongType()),
        ]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    chains = (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_funnel,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(chains, mode="update", shuffle_partitions=8)
    steps = (
        F.lit(1)
        + F.when(F.col("click_us").isNull(), 0).otherwise(1)
        + F.when(F.col("purchase_us").isNull(), 0).otherwise(1)
    )
    return out.select(
        "user_id",
        "view_us",
        "click_us",
        "purchase_us",
        steps.cast("int").alias("steps_completed"),
    )


# ---------------------------------------------------------------------------
# Stream-maintained hourly drawdown rollup
# ---------------------------------------------------------------------------


def _drawdown_oracle() -> str:
    """The batch drawdown oracle, verbatim (online/offline pinning)."""
    import etl_pipeline_sam_gov_spark.operators.analytics  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["ts_max_drawdown_hourly"]


@query("stream_max_drawdown_hourly", oracle=_drawdown_oracle())
def stream_max_drawdown_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ts_max_drawdown_hourly: the (type, hour) net
    cents cells are a streaming groupBy whose per-cell state the
    runtime maintains incrementally (mergeable-rollup state, bounded
    by the calendar × type grid, never by stream volume); the
    peak-to-trough sweep then runs batch-side on the final bounded
    grid — the same maintain-cells-online / sweep-on-serve split as
    stream_value_histogram and stream_hypertable_rollup, here feeding
    a risk metric instead of a histogram. Oracle shared verbatim with
    the batch twin."""
    events = read_events_stream(spark, sf_dir)
    cells = (
        events.select(
            F.col("event_type").alias("t"),
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            (
                F.round(F.col("value") * 100, 0).cast("bigint")
                * F.when(F.col("user_id") % 3 == 0, -1).otherwise(1)
            ).alias("net"),
        )
        .groupBy("t", "h")
        .agg(F.sum("net").cast("bigint").alias("net"))
    )
    grid = run_to_memory(cells, mode="complete", shuffle_partitions=4)
    w = (
        W.partitionBy("t")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    walk = grid.select(
        "t", "h", F.sum("net").over(w).cast("bigint").alias("cum")
    ).select(
        "t", "h", "cum", F.max("cum").over(w).cast("bigint").alias("peak")
    )
    dd = walk.select(
        "t", "h", (F.col("peak") - F.col("cum")).alias("draw")
    ).select(
        "t",
        "h",
        "draw",
        F.row_number()
        .over(W.partitionBy("t").orderBy(F.desc("draw"), "h"))
        .alias("rk"),
    )
    return dd.filter(F.col("rk") == 1).select(
        F.col("t").alias("event_type"),
        F.col("draw").cast("bigint").alias("max_drawdown_cents"),
        F.col("h").cast("bigint").alias("trough_hour"),
    )


# ---------------------------------------------------------------------------
# Streaming Kalman filter (GroupState twin of udf_kalman_filter_users)
# ---------------------------------------------------------------------------


def _kalman_stream_oracle() -> str:
    """The batch twin's recursive-CTE oracle, verbatim — one source of
    truth for both lanes (imports the defining module first so the
    lookup works under standalone import)."""
    import etl_pipeline_sam_gov_spark.functions.udfs  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["udf_kalman_filter_users"]


@query("stream_kalman_filter_users", oracle=_kalman_stream_oracle())
def stream_kalman_filter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of udf_kalman_filter_users: the per-user
    predict/update Kalman cycle carried in explicit GroupState across
    micro-batches — the adaptive-gain upgrade of
    stream_ewma_user_values' fixed-gain fold, and the richest state
    this family carries (count, estimate, error variance, last gain).
    Batch rows sort by (ts, event_id) before folding and the cycle
    resumes from the saved (x, P), so under event-time-ordered batch
    boundaries (availableNow replay; any log-ordered source) the final
    state is op-for-op the batch kernel's — it hash-matches the SAME
    recursive-CTE oracle."""
    from etl_pipeline_sam_gov_spark.functions.udfs import KF_Q, KF_R

    events = read_events_stream(spark, sf_dir)

    def update_kalman(key, pdfs, state):
        import pandas as pd

        q, r = KF_Q, KF_R
        if state.exists:
            n, x, p, k = state.get
        else:
            n, x, p, k = 0, None, None, 0.0
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for z in pdf["value"].tolist():
            if n == 0:
                x, p = z, r
            else:
                p_pred = p + q
                k = p_pred / (p_pred + r)
                x = x + k * (z - x)
                p = (1.0 - k) * p_pred
            n += 1
        state.update((n, float(x), float(p), float(k)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "x_raw": [x],
                "p_raw": [p],
                "k_raw": [k],
            }
        )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("x_raw", T.DoubleType()),
            T.StructField("p_raw", T.DoubleType()),
            T.StructField("k_raw", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("p", T.DoubleType()),
            T.StructField("k", T.DoubleType()),
        ]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    filtered = (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_kalman,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(filtered, mode="update", shuffle_partitions=8)
    return out.select(
        "user_id",
        "n_events",
        (F.round("x_raw", 6) + F.lit(0.0)).alias("kalman_estimate"),
        (F.round("p_raw", 6) + F.lit(0.0)).alias("error_variance"),
        (F.round("k_raw", 6) + F.lit(0.0)).alias("kalman_gain"),
    )


# ---------------------------------------------------------------------------
# Timeout-closed sessionization (EventTimeTimeout state eviction)
# ---------------------------------------------------------------------------


def _session_stream_oracle() -> str:
    """The batch sessionizer's oracle, verbatim — one source of truth
    (imports the defining module first for standalone-import safety)."""
    import etl_pipeline_sam_gov_spark.operators.analytics  # noqa: F401

    from etl_pipeline_sam_gov_spark.registry import ORACLES

    return ORACLES["sessionize_events"]


@query("stream_session_timeout_close", oracle=_session_stream_oracle())
def stream_session_timeout_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization where the RUNTIME closes the session: the open
    session lives in GroupState with an EVENT-TIME TIMEOUT at
    last_event + gap, mid-stream sessions close inline when a new
    event arrives past the gap, and the final open session of every
    user is flushed by the timeout callback once the watermark passes
    it (the far-future heartbeat drives the watermark across the whole
    replay) — the state-EVICTION half of the applyInPandasWithState
    API that every other stateful query here (NoTimeout) leaves
    unexercised, and the mechanism that bounds state to O(active
    users) on an unbounded stream. Emits the exact sessionize_events
    schema and hash-matches its oracle verbatim.

    The timeout path is real control flow: a timed-out invocation
    receives NO rows (hasTimedOut=True), emits the held session, and
    removes its state — the idle-user flush a production sessionizer
    must get right (the alternative, waiting for the user's next
    event, holds state forever for one-visit users)."""
    import etl_pipeline_sam_gov_spark.operators.analytics as _an

    configure_runtime(spark)
    landing = _heartbeat_landing(spark, sf_dir)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(landing)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    stream = _denaive(stream).withWatermark("ts", "10 minutes")
    gap_us = _an.SESSION_GAP_S * 1_000_000

    def fold(key, pdfs, state):
        import pandas as pd

        cols = [
            "user_id",
            "session_seq",
            "n_events",
            "session_start_us",
            "session_end_us",
            "value_sum",
        ]
        if state.hasTimedOut:
            seq, start, end, n, vsum = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], seq, n, start, end, vsum)], columns=cols
            )
            return
        if state.exists:
            seq, start, end, n, vsum = state.get
        else:
            seq, start, end, n, vsum = 0, None, None, 0, 0.0
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000)
        rows = []
        for t, v in zip(ts_us.tolist(), pdf["value"].tolist()):
            if start is None:
                seq, start, end, n, vsum = seq + 1, t, t, 1, float(v)
            elif t - end > gap_us:
                rows.append((key[0], seq, n, start, end, vsum))
                seq, start, end, n, vsum = seq + 1, t, t, 1, float(v)
            else:
                end, n, vsum = t, n + 1, vsum + float(v)
        state.update((seq, start, end, n, vsum))
        state.setTimeoutTimestamp(end // 1000 + _an.SESSION_GAP_S * 1000 + 1)
        yield pd.DataFrame(rows, columns=cols)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_seq", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("vsum", T.DoubleType()),
        ]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    sessions = (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    out = run_to_memory(sessions, mode="append", shuffle_partitions=8)
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        "session_seq",
        "n_events",
        "session_start_us",
        "session_end_us",
        (
            (F.col("session_end_us") - F.col("session_start_us")) / 1_000_000
        ).alias("duration_s"),
        F.round("value_sum", 6).alias("session_value"),
    )

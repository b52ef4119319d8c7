"""Structured Streaming renditions of the reference's incremental
patterns (SURVEY §2.11): tumbling-window aggregation with a watermark,
stateful new-vs-known id dedup, and session windows.

The reference has no true streaming — these are the Spark-native
upgrades of its batch-incremental idioms (high-watermark reads,
known-id diffs, run snapshots). Each runner here drives a bounded
parquet-backed stream to completion with a memory sink so results are
comparable 1:1 against the batch oracle; swap source/sink for Kafka +
foreachBatch in production and the plans are unchanged.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from ..sources import parquet_schema, read_parquet
from .loop import run_available_now

_COUNTER = itertools.count()

# StreamingQueryProgress state metrics of the most recent
# _run_to_memory job: one row per (micro-batch, stateful operator)
# with numRowsTotal / memoryUsedBytes. scripts/stream_stress.py reads
# this to measure state-store growth at 10x — the metrics are
# observability, never an input to any query result.
LAST_STATE_METRICS: list[dict] = []

def _events_schema(spark: SparkSession, sf_dir: str, glob: str) -> Ty.StructType:
    """Probe the parquet footer (cheap batch read, no data scan) so the
    stream schema matches whatever physical ts type the file carries —
    TIMESTAMP(MICROS) reads natively; TIMESTAMP(NANOS) (which vanilla
    Spark refuses) arrives as a long under the legacy flag and is
    converted below."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events table; a nanosecond-typed ts
    column arrives as long and is converted to a microsecond timestamp
    (micros-typed files stream as-is). ``max_files_per_trigger`` forces
    multi-micro-batch runs (tests use it to prove batch-count
    independence)."""
    # two physical layouts: the testdata dirs hold events.parquet as a
    # single FILE (stream the parent dir, glob-filtered to that file);
    # replicated stress dirs hold it as a parquet DIRECTORY of part
    # files (stream that directory itself — a pathGlobFilter of the
    # dir name would match no leaf file and read nothing)
    table_path = os.path.join(sf_dir, glob)
    as_dir = "*" not in glob and os.path.isdir(table_path)
    schema = (
        parquet_schema(spark, table_path)
        if as_dir
        else _events_schema(spark, sf_dir, glob)
    )
    reader = spark.readStream.schema(schema).format("parquet")
    if not as_dir:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(table_path if as_dir else sf_dir)
    if isinstance(schema["ts"].dataType, Ty.LongType):
        # integer div: double division would round the microsecond up
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, Ty.TimestampNTZType):
        # watermarks require TIMESTAMP (ltz); session tz is UTC so the
        # instant is unchanged
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _adaptive_state_partitions(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> int:
    """State-store partition count sized to the stream's input volume,
    not to the session's batch-shuffle default.

    Every state-store partition costs per-MICRO-BATCH overhead that is
    independent of its row count: store load/commit, a delta/snapshot
    file in the checkpoint, and a task. A watermarked aggregate over a
    few-MB fixture run at the 32-partition session default spends more
    wall time cycling 32 near-empty stores per batch than aggregating
    (measured round 10: tumbling 1.68 -> 1.15 s, watermark-dedup
    1.97 -> 1.24 s, sliding 1.45 -> 0.98 s at 4 partitions, identical
    emitted rows — partitioning never changes WHAT a state operator
    emits, only where rows live). Rule: one partition per 64 MB of
    source input, floor 4 (so a real multi-core host still overlaps
    state work), cap at the session shuffle default (a 100 TB stream
    hits the cap and uses the cluster-sized value; the fixture floor is
    a small-input optimization, not a tuned local constant). Override:
    SPARK_GRAFT_STATE_PARTITIONS."""
    env = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env:
        return int(env)
    table_path = os.path.join(sf_dir, glob)
    try:
        if os.path.isdir(table_path):
            nbytes = sum(
                e.stat().st_size for e in os.scandir(table_path) if e.is_file()
            )
        else:
            nbytes = os.path.getsize(table_path)
    except OSError:
        nbytes = 0
    session_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(4, min(session_default, -(-nbytes // (64 << 20))))


def _run_to_memory(
    stream_df: DataFrame,
    output_mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run the stream to completion into a memory sink.

    ``state_partitions``: state-store partition count for THIS job
    (spark.sql.shuffle.partitions is captured at first query start and
    frozen into the checkpoint — the standard per-streaming-job knob).
    State-heavy operators (stream-stream joins keep two keyed stores
    per partition) should size it to their STATE, not to the session's
    batch-shuffle default: on the bench fixture 32 partitions spend
    more time cycling 64+ state stores per micro-batch than joining
    (measured 6.6 s -> 4.9 s at 8). At 100 TB state you raise it; the
    emitted rows are identical either way. The session conf is
    restored after the job so batch queries are untouched."""
    spark = stream_df.sparkSession
    name = f"stream_out_{os.getpid()}_{next(_COUNTER)}"
    # the memory sink holds the rows; the checkpoint goes after stop()
    ckpt = tempfile.TemporaryDirectory(prefix="ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt.name)
            .start()
        )
        q.processAllAvailable()
        LAST_STATE_METRICS.clear()
        for p in q.recentProgress:
            for so in p.get("stateOperators") or []:
                LAST_STATE_METRICS.append(
                    {
                        "batch_id": p.get("batchId"),
                        "operator": so.get("operatorName"),
                        "numRowsTotal": so.get("numRowsTotal"),
                        "memoryUsedBytes": so.get("memoryUsedBytes"),
                    }
                )
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        ckpt.cleanup()
    return spark.table(name)


def tumbling_counts(spark: SparkSession, sf_dir: str, width: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type — the
    streaming twin of plans/events.py events_tumbling (epoch-aligned
    windows == date_trunc buckets)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    out = _run_to_memory(
        agg, "complete",
        state_partitions=_adaptive_state_partitions(spark, sf_dir),
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n",
        F.round("sum_value", 4).alias("total_value"),
    )


def stateful_new_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dropDuplicates on the entity key — the streaming form of
    new-vs-known id detection (main.py:80-85: known_ids set diff). The
    emitted set of distinct keys is deterministic even though which
    physical row wins is not; only key columns are kept."""
    ev = read_events_stream(spark, sf_dir)
    distinct_keys = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(
        distinct_keys, "append",
        state_partitions=_adaptive_state_partitions(spark, sf_dir),
    )


def watermarked_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on the entity key: unlike plain
    dropDuplicates (whose key state grows forever), dedup state here is
    EVICTED once the watermark passes — the only dedup form that
    survives an unbounded 100 TB/day stream. On the bounded fixture
    (max event ts never exceeds any key's first ts by more than the
    horizon... i.e. one logical window) the emitted key set equals
    DISTINCT, which the batch oracle checks."""
    ev = read_events_stream(spark, sf_dir)
    distinct_keys = (
        ev.withWatermark("ts", "30 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(
        distinct_keys, "append",
        state_partitions=_adaptive_state_partitions(spark, sf_dir),
    )


def session_windows(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Native session_window sessionization — the streaming twin of the
    batch lag+cumsum sessionize plan (plans/windows.py)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    out = _run_to_memory(
        agg, "complete",
        state_partitions=_adaptive_state_partitions(spark, sf_dir),
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


def foreach_batch_snapshot_diff(
    spark: SparkSession,
    sf_dir: str,
    split: str = "2024-01-16",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run-over-run snapshot diff via foreachBatch (§2.11: digest
    shifts/novelties, study_scraper/digest.py:97-139).

    Two streaming runs share a driver-held snapshot dict: run 1 (events
    before ``split``) populates the snapshot; run 2 (all events) diffs
    each micro-batch's aggregate against it inside foreachBatch —
    exactly the reference's "compare this run's aggregates against the
    stored watch_snapshots row" loop, with the snapshot table swapped
    for a keyed dict (a Delta/parquet table in production)."""
    # Per-key (sum, count) accumulated ACROSS micro-batches; the avg is
    # finalized only after the run ends. Per-batch averaging would
    # match the whole-window oracle only when the bounded fixture yields
    # exactly one micro-batch — with more input files than
    # maxFilesPerTrigger the per-batch averages diverge and duplicate
    # event_type rows would be emitted.
    prev_acc: dict[str, tuple[float, int]] = {}
    cur_acc: dict[str, tuple[float, int]] = {}

    def partial_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
        )

    def accumulate_into(acc: dict[str, tuple[float, int]]):
        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            for r in partial_agg(batch_df).collect():
                s, n = acc.get(r["event_type"], (0.0, 0))
                acc[r["event_type"]] = (s + r["s"], n + r["n"])

        return sink

    split_ts = F.lit(split).cast("timestamp")
    for flt, acc in (
        (F.col("ts") < split_ts, prev_acc),
        (F.lit(True), cur_acc),
    ):
        ev = read_events_stream(spark, sf_dir, glob, max_files_per_trigger).filter(flt)
        run_available_now(ev, accumulate_into(acc))

    def _round4(x: float) -> float:
        # half-away-from-zero, matching SQL ROUND (Python round() is
        # half-even and would drift from the DuckDB/Spark twins)
        import math

        return math.copysign(math.floor(abs(x) * 10000 + 0.5) / 10000, x)

    diffs: list[tuple[str, float | None, float, str]] = []
    for et, (s, n) in cur_acc.items():
        cur = _round4(s / n)
        ps_pn = prev_acc.get(et)
        prev = _round4(ps_pn[0] / ps_pn[1]) if ps_pn else None
        if prev is None:
            status = "new"
        elif abs(cur - prev) >= 0.5:
            status = "shift"
        else:
            status = "steady"
        diffs.append((et, prev, cur, status))
    return spark.createDataFrame(
        diffs, "event_type string, prev_avg double, cur_avg double, status string"
    )


def stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per
    (user_id) running event count + value sum held in GroupState across
    micro-batches — the §2.11 'progress checkpointing' pattern
    (ingest.py:30-36: partial run counters) as a first-class streaming
    operator. On the bounded fixture the final state equals the batch
    group-by, which is what the oracle checks."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    ev = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    latest = _run_to_memory(out, "update")
    # with >1 micro-batch a key may emit several cumulative rows; the
    # final state per key is the one with the max event count — max_by
    # keeps the (n_events, sum_value) pair consistent even if values
    # were negative (independent max() would pair a non-final max sum
    # with the final count)
    return (
        latest.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(sum_value, n_events)").alias("sum_value"),
        )
    )


def sliding_counts(
    spark: SparkSession,
    sf_dir: str,
    width: str = "2 days",
    slide: str = "1 day",
) -> DataFrame:
    """Overlapping (sliding) windowed aggregation — each event lands in
    width/slide windows (§2.11 Spark mapping; the 'rolling 7/30-day'
    dbt frames W2/W3 as a streaming operator). Epoch is day-aligned, so
    a batch union of slide-shifted date_trunc buckets is an exact
    oracle."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    out = _run_to_memory(
        agg, "complete",
        state_partitions=_adaptive_state_partitions(spark, sf_dir),
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n",
        "sum_value",
    )


def stream_static_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream joins a static per-type
    rate dimension (broadcast every micro-batch — the Spark pattern
    for enriching a stream against a slowly-changing table without
    stateful join machinery), then a watermarked tumbling aggregate
    of the rated values."""
    ev = read_events_stream(spark, sf_dir)
    rates = (
        ev.sparkSession.createDataFrame(
            [(t, (len(t) * 10 + 7) / 100.0) for t in
             ("click", "view", "purchase", "login", "error")],
            "event_type string, rate double",
        )
    )
    joined = ev.join(F.broadcast(rates), "event_type", "left")
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value") * F.coalesce("rate", F.lit(1.0))).alias(
                "rated"
            ),
        )
    )
    out = _run_to_memory(
        agg, "complete",
        state_partitions=_adaptive_state_partitions(spark, sf_dir),
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n",
        F.round("rated", 4).alias("rated_value"),
    )


def stream_upsert_materialized(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming incremental materialization: each micro-batch's
    partial per-key aggregate merges into a versioned parquet state
    table inside foreachBatch (read state vN, union the partial,
    re-aggregate, write vN+1 — copy-on-write without a table format;
    swap in Delta/Iceberg MERGE in production and the batch function
    body is one statement). The final version equals the batch
    group-by, which the oracle checks; the cross-batch merge path is
    proven by the multi-file test."""
    ev = read_events_stream(spark, sf_dir, glob, max_files_per_trigger)
    latest: dict[str, int] = {"v": -1}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy("event_type").agg(
            F.sum("value").alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        if latest["v"] >= 0:
            cur = read_parquet(spark, f"{state_root}/v{latest['v']}")
            merged = (
                cur.unionByName(part)
                .groupBy("event_type")
                .agg(
                    F.sum("sum_value").alias("sum_value"),
                    F.sum("n_events").alias("n_events"),
                    F.max("last_ts").alias("last_ts"),
                )
            )
        else:
            merged = part
        merged.write.mode("overwrite").parquet(
            f"{state_root}/v{latest['v'] + 1}"
        )
        latest["v"] += 1

    with tempfile.TemporaryDirectory(prefix="stream_mat_") as state_root:
        run_available_now(ev, merge)
        # localCheckpoint so the returned frame survives the cleanup
        return read_parquet(spark, f"{state_root}/v{latest['v']}").localCheckpoint(
            eager=True
        )


def stream_stream_view_purchase(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream inner join: each user's 'view' events
    joined to their 'purchase' events landing within the following two
    hours. Both sides carry a 1-hour watermark, so the join state for a
    view row is EVICTED once the purchase-side watermark passes
    view_ts + 2h — the property that lets this run forever on an
    unbounded stream (an unwatermarked stream-stream join grows state
    without bound). Inner-join matches emit as soon as both sides
    arrive; on the bounded fixture the emitted set equals the batch
    join, which the oracle checks."""
    def side(event_type: str, id_alias: str, ts_alias: str) -> DataFrame:
        return (
            read_events_stream(spark, sf_dir, glob, max_files_per_trigger)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{id_alias}_uid"),
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    v = side("view", "view_id", "view_ts")
    p = side("purchase", "purchase_id", "purchase_ts")
    j = v.join(
        p,
        (F.col("view_id_uid") == F.col("purchase_id_uid"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")
        ),
    )
    out = _run_to_memory(
        j, "append",
        state_partitions=_adaptive_state_partitions(spark, sf_dir, glob),
    )
    return out.select(
        F.col("view_id_uid").alias("user_id"),
        "view_id",
        "purchase_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "view_ts"
        ),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_ts"
        ),
    )


def stream_stream_view_purchase_outer(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: like
    stream_stream_view_purchase, but views with NO purchase in their
    2-hour window also emit (purchase columns NULL) — and only AFTER
    the global watermark proves no matching purchase can still arrive
    (view state eviction). That late-null emission is the semantics
    batch left-joins get for free and streams must buy with the
    watermark; the bounded-fixture twin is a left join whose unmatched
    rows are filtered to views already evictable at the final
    watermark min(max view ts, max purchase ts) - 1h."""
    def side(event_type: str, id_alias: str, ts_alias: str) -> DataFrame:
        return (
            read_events_stream(spark, sf_dir, glob, max_files_per_trigger)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{id_alias}_uid"),
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    v = side("view", "view_id", "view_ts")
    p = side("purchase", "purchase_id", "purchase_ts")
    j = v.join(
        p,
        (F.col("view_id_uid") == F.col("purchase_id_uid"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")
        ),
        "left_outer",
    )
    out = _run_to_memory(
        j, "append",
        state_partitions=_adaptive_state_partitions(spark, sf_dir, glob),
    )
    return out.select(
        F.col("view_id_uid").alias("user_id"),
        "view_id",
        "purchase_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "view_ts"
        ),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_ts"
        ),
    )

"""Structured Streaming pipelines (SURVEY §2 C6).

The reference's "stream" is hourly file arrival consumed by a daily batch
(gen_dag.py ↔ dag.py); its Spark-native form is a file-source stream with
checkpointed discovery (replacing manifests, A2) and source archiving
(replacing the archive move, A14). On top of that, the windowed operators
a real event stream needs: tumbling / sliding / session windows with
watermarked late-data handling.

Every transformation here is also valid on a batch DataFrame — the batch
twin of each query lives in plans/catalog.py (events_tumbling_agg,
events_session_agg) and is what the DuckDB oracle checks; these builders
add only watermarks + output mode, so stream and batch share one logical
plan (the Structured Streaming contract). That covers the write too:
the streaming upsert's micro-batch is the batch pipeline's one writer,
``pipeline.merge_into``, with the same stage, partition-scoped merge
and commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_SCHEMAS


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 5,
    archive_dir: str | None = None,
) -> DataFrame:
    """File-source stream over events parquet.

    ``maxFilesPerTrigger`` reproduces the reference's BATCH_SIZE=5 batching
    (dag.py:22); ``cleanSource=archive`` reproduces the post-commit archive
    move (dag.py:259-266) — both as engine options instead of DAG code.
    """
    reader = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return reader.parquet(source_dir)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling windows with late-data tolerance = ``watermark``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "sum_value")
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding windows: each event lands in width/slide overlapping buckets."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            "event_type",
            "n",
        )
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user (state merges as late events arrive)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame, watermark: str = "1 hour", keys: list[str] | None = None
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, dropping any
    duplicate that lands within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state by event time
    — per-key state is evicted once the watermark passes it, so state size
    is O(keys per horizon), not O(all keys ever seen). That bound is what
    makes continuous ingest dedup viable on an unbounded stream (the batch
    twin, ``dedup_exact`` in the catalog, has no horizon and sees all
    keys). Duplicates separated by more than the horizon are NOT caught —
    the standard at-scale trade; a periodic batch `dedup_exact` compaction
    closes that gap.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def conversion_join(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each ``left_type`` event with the
    same user's ``right_type`` events that follow within ``within``.

    The canonical attribution/conversion query. Both sides carry a
    watermark and the join condition bounds ``r.ts`` to
    ``[l.ts, l.ts + within]`` — together these let the engine evict join
    state once the watermark passes a row's reachable window, so state is
    O(events per horizon) instead of unbounded (the stream-stream join
    viability condition). Works identically on batch DataFrames (the
    oracle path: the same function is the batch twin).

    ``how="left_outer"`` gives the non-conversion variant: a view with NO
    purchase inside the horizon emits once — with null purchase columns —
    when the watermark passes the end of its join window (the engine
    proves no future match can arrive before declaring the miss; the
    final no-data micro-batch flushes the tail). This is the funnel
    drop-off / abandonment feed; inner-join consumers never see misses.
    """
    l = (
        left.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_event"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_event"),
            F.col("ts").alias("r_ts"),
        )
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select("l_user", "l_event", "l_ts", "r_event", "r_ts")


def enrich_stream_static(
    events: DataFrame, dims: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    joins against the (bounded) static dimension table.

    The standard streaming-ETL shape — fact stream, slowly-changing dim.
    The static side is broadcast: no shuffle of the stream, no join
    state at all (unlike stream-stream joins, nothing must be retained
    across micro-batches — the static side is re-resolvable every
    trigger, which is also what picks up dim updates between triggers
    for file-backed dims). Works identically on batch frames (the
    oracle path: the same function is the batch twin).
    """
    return events.join(F.broadcast(dims), key)


def stream_upsert_warehouse(
    spark: SparkSession,
    source_dir: str,
    warehouse_path: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    max_files_per_trigger: int = 5,
):
    """The reference's daily batch load as a continuous stream: file-source
    discovery → keyed last-write-wins upsert into the parquet warehouse,
    one transaction per micro-batch via ``foreachBatch``.

    Each micro-batch is one :func:`~..pipeline.merge_into` — the daily
    job's own merge and commit — on ``keys``, partitioned by the month of
    ``ts``: the batch is staged to ``.{name}_stage`` beside the table,
    and only the months it touches (plus any month holding the old copy
    of a moved key) are rewritten and published through the table's
    retired directory. The checkpoint replaces the reference's manifest
    snapshots (A2); replay of a failed batch is idempotent because the
    upsert is deterministic — the exact guarantee the reference gets
    from ON CONFLICT (README.md:31). A copy left in the retired
    directory by a crash between a commit's two renames fails every
    later micro-batch instead of being taken for "no warehouse yet", and
    so does schema drift (a stored table whose columns are not the
    micro-batch's), so the batch replays rather than dropping a stored
    column. A flat table is upgraded to the partitioned layout by its
    next micro-batch.
    """
    from ..pipeline import STAGE, _beside, merge_into

    keys = keys or ["event_id"]
    stage = _beside(warehouse_path, STAGE)

    def _apply(batch_df, batch_id: int) -> None:
        merge_into(
            batch_df.sparkSession, batch_df, stage, warehouse_path, keys,
            "ts", (), False,
        )

    events = read_events_stream(spark, source_dir, max_files_per_trigger)
    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Structured Streaming mode: the same compiled reform spec + route
table, run incrementally.

The reference is an at-arrival stream transform — each event is
reformed and re-emitted independently, no state, no watermarks, no
late-data handling (core.rb:98-112 loops a chunk; renew_time_key even
rewrites event time arbitrarily, core.rb:106-108). That maps 1:1 onto
a STATELESS Structured Streaming pipeline: ``readStream -> reform ->
route -> partitioned file sink`` with exactly-once via the sink's
checkpoint/WAL — micro-batch chunks stand in for fluentd chunks.

On top of that (north rule: per-sink aggregates), ``windowed_counts``
adds the stateful rollup — event-time windows with a watermark bounding
state, the Spark-idiomatic replacement for "aggregate downstream of the
router". Batch and streaming share the SAME spec compiler and route
compiler; only the source/sink bindings differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.reform import ReformContext, reform
from ..operators.route import RouteTable
from ..plans.spec import TransformSpec

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str | StructType = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a transcript directory. The file source
    tracks processed files in the checkpoint — the streaming analog of
    plans/lineage.py's manifest."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def reform_fanout_stream(
    stream: DataFrame,
    spec: TransformSpec,
    ctx: ReformContext,
    routes: RouteTable,
    out_dir: str,
    checkpoint_dir: str,
    *,
    tag_col: str = "tag",
    available_now: bool = False,
    drop_unmatched: bool = True,
) -> StreamingQuery:
    """reform -> route -> ONE partitioned exactly-once file sink.

    Identical single-pass fan-out shape as the batch write_fanout: the
    route column is the partition key, so N sinks never mean N scans.
    ``available_now=True`` drains the backlog then stops (used by tests
    and backfills); omit it for a continuous query.
    """
    reformed = reform(stream, spec, ctx)
    writer = (
        routes.routed(reformed, tag_col, drop_unmatched=drop_unmatched)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("route")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    stream: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("text",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each key wins; the
    dedup state is BOUNDED by the watermark horizon
    (``dropDuplicatesWithinWatermark`` — a key's state is dropped once
    the watermark passes its event time, so a duplicate arriving
    beyond the horizon re-emits; that is the documented contract,
    matching how a batch backfill would re-see old keys). The
    streaming analog of operators/dedup.exact_dedup."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def windowed_counts_stream(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("role",),
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful per-sink rollup: event-time windowed counts with a
    watermark bounding state (late rows beyond the watermark are
    dropped — the documented contract, not an accident). Append-mode
    compatible: windows finalize once the watermark passes them."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_turns",
        )
    )


def template_counts_stream(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Live log-template mining: the operators/templates mask chain is
    a stateless codegen'd projection, so it composes directly with the
    watermarked windowed rollup — per (window, template) line counts
    whose state is bounded by |windows in watermark| x |templates|
    (templates are few by construction; that is the operator's point).
    The batch mirror is ``mine_templates`` grouped by the same window;
    tests assert exact equality between the two."""
    from fluent_plugin_record_reformer_spark.operators.templates import (
        template_col,
    )

    return (
        stream.withColumn("_template", template_col(text_col))
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("win"), F.col("_template")
        )
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("_template").alias("template"),
            "n_lines",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance_seconds: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time tolerance window:
    each left event matches right events with the same ``key`` whose
    timestamp falls in ``[left_ts, left_ts + tolerance]`` — the
    request/response correlation every tool-using transcript pipeline
    needs live (turn → tool result, log line → alert ack).

    State discipline: BOTH sides carry a watermark and the join
    condition time-bounds ``right_ts`` against ``left_ts`` from both
    directions, so Structured Streaming can GC buffered rows once the
    watermark passes the tolerance horizon — without the bound the
    state store grows with the whole stream (the canonical
    stream-join OOM). Output is append-mode: a match emits once both
    sides have arrived; equality with the equivalent batch join over
    the drained input is pinned in tests.

    ``left_ts`` and ``right_ts`` must be distinct column names (both
    survive into the output).
    """
    if left_ts == right_ts:
        raise ValueError(
            "left_ts and right_ts must be distinct column names "
            f"(both got {left_ts!r}); rename one side before joining"
        )
    if tolerance_seconds < 0:
        raise ValueError(f"tolerance_seconds must be >= 0: {tolerance_seconds}")
    shared = sorted((set(left.columns) & set(right.columns)) - {key})
    if shared:
        # both copies would survive into the output ambiguously; make
        # the caller alias at construction, not at a downstream
        # AMBIGUOUS_REFERENCE
        raise ValueError(
            f"stream_interval_join: column(s) {shared} exist on both "
            "sides; alias them before joining (only the key may be shared)"
        )
    ll = left.withWatermark(left_ts, watermark)
    rr = right.withWatermark(right_ts, watermark)
    cond = (
        (ll[key] == rr[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts)
            + F.expr(f"INTERVAL {int(tolerance_seconds)} SECONDS")
        )
    )
    return ll.join(rr, cond, "inner").drop(rr[key])

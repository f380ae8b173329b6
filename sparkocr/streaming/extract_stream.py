"""Structured Streaming extraction — incremental variant of the batch DAG.

The reference is strictly batch (every run is a finite page set; the only
async piece is display-token streaming, run_dpsk_ocr_image.py:207-216), so
streaming is an extension, not a parity requirement (SURVEY.md §1.2). It
exists because a transcript table at 10^12-turn scale is really an
append-only feed: new conversation turns arrive continuously, and per-turn
extraction is stateless, so the exact same ``mapInPandas`` extractor runs
under ``readStream`` unchanged.

Shape: file-source ``readStream`` (fixed transcripts schema, required by
streaming sources) → ``extract_turns`` (same hot path as batch; stateless,
so no watermark needed) → parquet sink with a checkpoint location. The
sink checkpoint gives exactly-once file-source progress tracking — the
streaming counterpart of the batch job's lineage manifest
(sparkocr.checkpoint). Doc assembly stays a downstream batch job over the
sink table: a conversation only has a final assembly once its turns stop
arriving, which is a business rule (session timeout), not a fixed
watermark; the batch assembly reads the always-current sink.

``run_once`` uses ``Trigger.AvailableNow`` — process everything present,
then stop — which is also the deterministic mode the tests drive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparkocr import schema
from sparkocr.extract.dispatch import extract_turns


def _transcript_stream(
    spark: SparkSession, input_dir: str, max_files: int | None = None
) -> DataFrame:
    """The one readStream construction every operator here shares (declared
    schema — file sources cannot infer — plus the optional per-trigger
    file cap)."""
    reader = spark.readStream.schema(schema.TRANSCRIPTS)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(input_dir)


def streaming_turns(spark: SparkSession, input_dir: str, max_files: int | None = None) -> DataFrame:
    """readStream over a transcripts parquet directory → streaming per-turn
    extraction DataFrame (same extractor, stateless)."""
    src = _transcript_stream(spark, input_dir, max_files)
    # min_parallelism=0: a streaming micro-batch's width is its file count;
    # the round-robin widening shuffle is a batch-only concern.
    return extract_turns(src, min_parallelism=0)


def windowed_turn_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
):
    """Watermarked event-time windowed aggregation over the turn feed:
    turns and chars per (window, tool). Late rows beyond ``watermark`` are
    dropped and window state is finalized — the standard late-data design
    for an append-only transcript feed (the reference has no streaming
    semantics; this is the Spark-native extension point).

    Rows with a NULL event time cannot join any window (``F.window``
    generates no window for a null ts — they'd silently vanish from the
    counts, a second undercount distinct from the documented late-data
    drop; the file source force-nullables ``ts``, so one producer
    omitting it is enough). They are filtered EXPLICITLY and surfaced
    through an ``observe()`` metric: every micro-batch's progress event
    carries ``n_null_ts``/``n_rows`` under observation name
    ``turn_feed_quality``, so the undercount is visible per batch without
    a second (unsupported) streaming aggregate."""
    from pyspark.sql import functions as F

    src = _transcript_stream(spark, input_dir)
    src = src.observe(
        "turn_feed_quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("ts").isNull().cast("long")).alias("n_null_ts"),
    ).filter(F.col("ts").isNotNull())
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "tool")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "tool", "n_turns", "n_chars",
        )
    )


def streaming_deduped_turns(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "1 hour",
    max_files: int | None = None,
) -> DataFrame:
    """Streaming extraction over an AT-LEAST-ONCE feed: duplicate
    deliveries of a page (same ``(conv_id, turn_idx)``) are dropped with
    ``dropDuplicatesWithinWatermark`` BEFORE the extractor, so a replayed
    turn neither pays the extraction twice nor lands twice in the sink.
    This is the row-emitting counterpart of the stateful progress
    tracker (``stateful_assembly``, which *counts* once per turn): state
    here is one key per page bounded by the event-time ``watermark`` —
    a replay arriving within the watermark of its first delivery is
    dropped; state for older pages has been evicted (the unbounded
    alternative, plain ``dropDuplicates``, grows state forever on a
    10^12-turn feed).

    Rows with a NULL event time cannot enter watermark-bounded state
    (their state would never be evicted — or the row silently dropped,
    depending on engine version), and rows where ANY dedup-key column
    (``conv_id``, ``turn_idx``) is NULL must not either:
    ``dropDuplicates`` treats null keys as EQUAL, so two distinct
    null-keyed pages — different conversations with conv_id omitted, or
    one conversation's unindexed pages — would collapse to one. All
    BYPASS the dedup — passed through to extraction unchanged,
    duplicates included — and the feed quality is surfaced per
    micro-batch through PER-BRANCH ``observe()`` metrics (each branch's
    CollectMetrics sits ABOVE its own filter, so the filters stay
    directly on the scan — see the cost note below):

    - ``dedup_in``: ``n_valid`` — full-key rows entering the dedup;
    - ``dedup_out``: ``n_deduped_out`` — rows surviving it;
    - ``dedup_feed_quality`` (the bypass branch): ``n_bypass`` /
      ``n_null_ts`` / ``n_null_key`` (null event time vs null dedup
      key, disjoint: n_bypass = n_null_ts + n_null_key).

    Total feed rows per batch = ``n_valid + n_bypass``; the operator
    degrades observably, never wedges the checkpoint.

    Two honest costs of this shape, for the operator running it:

    - A delivery whose ts is older than the current watermark (max seen
      ts minus ``watermark``) is dropped by the engine as LATE even if
      it is the FIRST delivery of its page — that page never reaches the
      sink. The metrics expose the total drop per batch
      (``n_valid - n_deduped_out`` = duplicates plus late firsts; the
      engine cannot distinguish the two), so a persistent nonzero
      residual on a feed known to be duplicate-free means ``watermark``
      is smaller than the feed's real disorder — size it above the
      worst expected delivery skew.
    - The null bypass union embeds the source twice in the plan: one
      scan feeds the dedup, one the bypass. Each branch's null
      predicates sit DIRECTLY on its scan — a single shared observe()
      below both filters would pin them above the CollectMetrics node
      and block pushdown entirely (measured: ``PushedFilters: []``),
      which is why the metrics are per-branch — so the bypass scan
      prunes row groups via parquet null-count statistics and on a
      healthy feed (few nulls) is mostly footer reads, not a second
      decode."""
    from pyspark.sql import functions as F

    null_key = (
        F.col("ts").isNull()
        | F.col("turn_idx").isNull()
        | F.col("conv_id").isNull()
    )
    src = _transcript_stream(spark, input_dir, max_files)
    deduped = (
        src.filter(~null_key)
        .observe("dedup_in", F.count(F.lit(1)).alias("n_valid"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
        .observe("dedup_out", F.count(F.lit(1)).alias("n_deduped_out"))
    )
    bypass = src.filter(null_key).observe(
        "dedup_feed_quality",
        F.count(F.lit(1)).alias("n_bypass"),
        F.sum(F.col("ts").isNull().cast("long")).alias("n_null_ts"),
        F.sum(
            (
                F.col("ts").isNotNull()
                & (F.col("turn_idx").isNull() | F.col("conv_id").isNull())
            ).cast("long")
        ).alias("n_null_key"),
    )
    merged = deduped.unionByName(bypass)
    return extract_turns(merged, min_parallelism=0)


def run_once(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Process all currently-available input files to the parquet sink,
    exactly-once via the sink checkpoint, then stop."""
    q = (
        streaming_turns(spark, input_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

"""Job metrics — the avg-sec/page and counters surface (SURVEY.md §2.6).

The reference logs per-run counters: pages processed, dropped pages, avg
sec/page (app/processors.py:408-409,595-596). At table scale these become
one aggregation pass over the per-turn output: rows in/out, truncation and
repeat-flag rates, per-mode distribution, and conversation-skew statistics
(the inputs that size the salting/chunking knobs in assemble.py).

All JVM aggregates; collected to the driver only as a handful of summary
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def mode_metrics(turns: DataFrame) -> DataFrame:
    """Per-mode extraction counters → one row per `tool` value."""
    return (
        turns.groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("is_truncated").cast("int")).alias("n_truncated"),
            F.sum(F.col("has_repeat").cast("int")).alias("n_repeat_flagged"),
            F.sum((F.col("error").isNotNull()).cast("int")).alias("n_errors"),
            F.sum("n_chars_in").alias("chars_in"),
            F.sum("n_chars_out").alias("chars_out"),
            F.round(F.avg("n_chars_out"), 2).alias("avg_chars_out"),
        )
        .orderBy("tool")
    )


def conversation_skew(turns: DataFrame) -> DataFrame:
    """Conversation-size distribution: percentiles + the heavy hitters that
    motivate salted/chunked assembly. One summary row."""
    sizes = turns.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum("n_turns").alias("n_turns_total"),
        F.max("n_turns").alias("max_conv_turns"),
        F.expr("percentile_approx(n_turns, 0.5)").alias("p50_conv_turns"),
        F.expr("percentile_approx(n_turns, 0.99)").alias("p99_conv_turns"),
        F.round(
            F.max("n_turns") / F.expr("percentile_approx(n_turns, 0.5)"), 2
        ).alias("skew_ratio"),
    )


def pipeline_metrics(turns: DataFrame) -> DataFrame:
    """mode_metrics × conversation-skew exact counters in ONE pass over the
    extraction output: both finals derive from a shared (conv_id, tool)
    partial aggregate, so the two branches have an identical child subtree
    and Spark reuses its shuffle exchange (ReusedExchange) — the upstream
    extraction runs once, where separate mode_metrics + conversation_skew
    calls would each recompute it. Carries every exact mode_metrics
    counter (truncation, repeat flags, errors, chars); only the
    approximate percentile columns are excluded (no exact oracle) — use
    conversation_skew for those."""
    base = turns.groupBy("conv_id", "tool").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_truncated").cast("int")).alias("n_trunc"),
        F.sum(F.col("has_repeat").cast("int")).alias("n_rep"),
        F.sum((F.col("error").isNotNull()).cast("int")).alias("n_err"),
        F.sum("n_chars_in").alias("sum_in"),
        F.sum("n_chars_out").alias("sum_out"),
    )
    mm = base.groupBy("tool").agg(
        F.sum("n").alias("n_turns"),
        F.sum("n_trunc").alias("n_truncated"),
        F.sum("n_rep").alias("n_repeat_flagged"),
        F.sum("n_err").alias("n_errors"),
        F.sum("sum_in").alias("chars_in"),
        F.sum("sum_out").alias("chars_out"),
        F.round(F.sum("sum_out") / F.sum("n"), 2).alias("avg_chars_out"),
    )
    cs = (
        base.groupBy("conv_id")
        .agg(F.sum("n").alias("conv_turns"))
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.sum("conv_turns").alias("n_turns_total"),
            F.max("conv_turns").alias("max_conv_turns"),
        )
    )
    # both sides are metric-row-sized: the cross join broadcasts
    return mm.crossJoin(cs)


def job_summary(turns: DataFrame, wall_sec: float | None = None) -> dict:
    """Driver-side summary dict: row, truncation, error and char counts
    over ``turns``, plus wall time and turns/s when ``wall_sec`` is given."""
    row = turns.agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("is_truncated").cast("int")).alias("n_truncated"),
        F.sum((F.col("error").isNotNull()).cast("int")).alias("n_errors"),
        F.sum("n_chars_in").alias("chars_in"),
        F.sum("n_chars_out").alias("chars_out"),
    ).first()
    out = {k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}
    if wall_sec is not None:
        out["wall_sec"] = round(wall_sec, 3)
        # a quantized clock can legitimately measure 0.0 — keep the field
        # instead of silently dropping both keys (falsy-zero trap)
        out["turns_per_sec"] = (
            round(out["rows_out"] / wall_sec, 1) if wall_sec else None
        )
    return out

"""Custom stateful streaming operator: per-conversation progress tracking.

``applyInPandasWithState`` over ``conv_id``: state carries (turns seen,
chars out, seen turn_idx ranges) across micro-batches, so a turn replayed
by an at-least-once upstream (the common failure mode of a 10^12-turn
feed) is counted once, and each micro-batch emits the conversation's
updated progress row. This is the streaming counterpart of the batch
job's lineage manifest: batch resume dedups at file/bucket
granularity, the stateful operator dedups at (conv_id, turn_idx)
granularity inside the stream.

Dedup state is an INTERVAL SET of seen turn_idx ranges, not a single
max-turn watermark: files may deliver a conversation's turns in any order
(the bench datagen itself scatters turns across files by ``t mod
n_files``), and a watermark would misclassify every out-of-order NEW turn
as a replay. The interval set stays tiny when arrival is near-ordered
(contiguous runs merge to one range) and is hard-bounded at
``MAX_RANGES``: beyond that the smallest inter-range gap is absorbed
(marked seen), and ``n_gap_absorbed`` counts the turn indices given up
that way so any resulting undercount is observable downstream, never
silent.

Not expressible as SQL over a static table (the semantics depend on
arrival order and state persistence across triggers), so the driver's
correctness record for it is rows-only; the pytest suite instead proves
the state invariants directly: accumulation across micro-batches, replay
idempotence, and out-of-order first delivery.

STATE SCHEMA CHANGES: the interval-set layout replaced the round-1
max-turn watermark, and round 4 added the cumulative ``n_null_idx``
counter (null-turn_idx rows were skipped silently — the one undercount
path without a metric). Spark's state-store schema check fails loudly
on a checkpoint written by an older operator — intended: neither
layout migrates losslessly inside ``applyInPandasWithState``, so
restart such a stream from a fresh checkpoint directory (counts
rebuild from the replayed files).
"""

from __future__ import annotations

import bisect
from collections.abc import Iterator
from typing import Any

import pandas as pd

STATE_SCHEMA = (
    "n_turns long, n_chars long, starts array<int>, ends array<int>, "
    "n_gap_absorbed long, n_null_idx long"
)
OUTPUT_SCHEMA = (
    "conv_id string, n_turns long, n_chars long, max_turn int, "
    "batch_rows int, n_ranges int, n_gap_absorbed long, n_null_idx long"
)

# Hard bound on interval-set size: 128 ranges x 2 ints is a few KB per
# conversation; a 10^12-turn stream with 10^8 conversations stays in
# manageable state-store territory.
MAX_RANGES = 128


def _seen(starts: list[int], ends: list[int], t: int) -> bool:
    i = bisect.bisect_right(starts, t) - 1
    return i >= 0 and t <= ends[i]


def _insert(starts: list[int], ends: list[int], t: int) -> None:
    """Insert t into the disjoint, sorted interval set, merging adjacent
    ranges (caller guarantees t is not already covered)."""
    i = bisect.bisect_right(starts, t)
    left = i > 0 and ends[i - 1] == t - 1
    right = i < len(starts) and starts[i] == t + 1
    if left and right:
        ends[i - 1] = ends[i]
        del starts[i], ends[i]
    elif left:
        ends[i - 1] = t
    elif right:
        starts[i] = t
    else:
        starts.insert(i, t)
        ends.insert(i, t)


def track_conversations(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Grouped-map-with-state fn for ``applyInPandasWithState``."""
    (conv_id,) = key
    if state.exists:
        n_turns, n_chars, starts, ends, n_gap_absorbed, n_null_idx = state.get
        starts, ends = list(starts), list(ends)
    else:
        n_turns, n_chars, starts, ends = 0, 0, [], []
        n_gap_absorbed = n_null_idx = 0

    batch_rows = 0
    for pdf in pdfs:
        for turn_idx, text in zip(pdf["turn_idx"], pdf["text"]):
            batch_rows += 1
            # file sources force-nullable the declared schema: a null
            # turn_idx arrives as NaN and int(NaN) would crash the
            # micro-batch, which the checkpoint then replays forever —
            # skip the malformed row instead of crash-looping the stream.
            # The skip is COUNTED (cumulative, like n_gap_absorbed): an
            # unindexable turn is an undercount, and the module family's
            # invariant is that every undercount path is observable
            if turn_idx is None or turn_idx != turn_idx:
                n_null_idx += 1
                continue
            t = int(turn_idx)
            if _seen(starts, ends, t):
                continue  # replayed (or gap-absorbed) turn
            _insert(starts, ends, t)
            n_turns += 1
            n_chars += len(text or "")

    # bound the state: absorb the smallest inter-range gap until under the
    # cap, counting the indices surrendered so undercount is observable
    while len(starts) > MAX_RANGES:
        gap, j = min(
            (starts[i + 1] - ends[i], i) for i in range(len(starts) - 1)
        )
        n_gap_absorbed += gap - 1
        ends[j] = ends[j + 1]
        del starts[j + 1], ends[j + 1]

    max_turn = ends[-1] if ends else -1
    state.update((n_turns, n_chars, starts, ends, n_gap_absorbed, n_null_idx))
    yield pd.DataFrame(
        [
            (
                conv_id, n_turns, n_chars, max_turn, batch_rows,
                len(starts), n_gap_absorbed, n_null_idx,
            )
        ],
        columns=[
            "conv_id", "n_turns", "n_chars", "max_turn", "batch_rows",
            "n_ranges", "n_gap_absorbed", "n_null_idx",
        ],
    )


def streaming_conversation_progress(spark, input_dir: str, max_files_per_trigger: int = 1):
    """readStream → stateful per-conversation progress stream.

    Rows with a NULL conv_id are dropped OBSERVABLY before the state
    groupBy (observation ``progress_feed_quality``: n_rows /
    n_null_conv per micro-batch): ``groupBy`` treats NULL as one
    grouping key, so distinct conversations whose producers omitted
    conv_id would merge into a single bogus state — every later
    conversation's turns misread as replays of the first's (the same
    null-key collapse ``streaming_deduped_turns`` bypasses; a progress
    row is meaningless without an identity to track, so here the rows
    are dropped, not passed through). The observe counts BOTH totals
    pre-filter — this pins the IsNotNull above the CollectMetrics node
    (unpushable), a bounded cost accepted deliberately: the scan here
    is consumed once (no bypass union), so the loss is decoding the
    null-conv rows themselves, exactly the rows being counted."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sparkocr.streaming.extract_stream import _transcript_stream

    src = _transcript_stream(spark, input_dir, max_files_per_trigger)
    return (
        src.select("conv_id", "turn_idx", "text")
        .observe(
            "progress_feed_quality",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("conv_id").isNull().cast("long")).alias("n_null_conv"),
        )
        .filter(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .applyInPandasWithState(
            track_conversations,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

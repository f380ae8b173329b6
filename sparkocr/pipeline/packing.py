"""Sequence packing: assign documents to fixed-token-budget packs.

The standard pre-training batching operator — training sequences are
filled with whole documents up to a context budget, so short documents
don't waste context and long ones get their own pack. At 10^12 documents
exact global greedy packing is inherently sequential (each pack depends
on everything before it), so this is the scale-correct two-level shape:

1. documents are hash-assigned to ``n_groups`` independent streams
   (``pmod(xxhash64(doc_id), n_groups)`` — deterministic, partition-
   layout-independent, same trick as ``dedup.hash_split``);
2. streams are hash-shuffled on ``group_id`` and sorted within each
   partition (``repartition("group_id")`` + ``sortWithinPartitions``),
   then a ``mapInPandas`` pass STREAMS the sorted Arrow batches through
   per-group running counters — true O(1) state per group, never a
   whole group materialized in one pandas frame (a group is ~corpus /
   n_groups rows; loading it would OOM an executor at the stated
   scale). A partition holds any number of whole streams: the number
   of partitions follows ``spark.sql.shuffle.partitions`` and AQE
   coalescing, not ``n_groups``.

Determinism: pack assignment is a pure function of the (doc_id,
n_tokens) multiset, budget, and n_groups — independent of partitioning
and Arrow batching, so local[8] and a 1000-executor run produce
identical packs (the property every operator in this repo pins). The
in-stream order is (doc_id, n_tokens), so even duplicate doc_ids cannot
make downstream assignments depend on physical row order. A document
larger than the budget gets a pack of its own (callers split oversized
payloads FIRST — ``textproc.chunking.chunk_turns`` is the bounded-
segment splitter for that). ``doc_id`` is the documents schema's long
key; hash or cast string keys before calling.

Output: one row per document, ``(doc_id, n_tokens, group_id, pack_id,
pack_pos)`` — ``pack_id`` is globally unique (``group_id * 2^40 +
local pack index``), ``pack_pos`` the doc's position inside its pack.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_PACK_STRIDE = 1 << 40  # group_id * stride + local index: globally unique


def _next_local(local: int) -> int:
    """Advance a stream's local pack index, refusing id-wrap: a stream
    needing 2^40 packs would break intra-group uniqueness regardless of
    offsets, so it raises loudly instead of wrapping. ONE definition —
    both close-pack sites in the batch sweep call it."""
    local += 1
    if local >= _PACK_STRIDE:
        raise ValueError(
            "pack_sequences: a single stream exceeded "
            f"{_PACK_STRIDE} packs — pack ids would wrap; raise n_groups"
        )
    return local


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_groups: int = 64,
    size_col: str | None = None,
    id_offset: int = 0,
    group_col: str | None = None,
) -> DataFrame:
    """Pack ``docs`` (``doc_id``, ``text`` — or a precomputed
    ``size_col``) into packs of at most ``budget`` tokens per pack.

    ``size_col``: name of an existing per-doc size column; the default
    derives whitespace-token counts from ``text`` with the SAME
    expression as ``textstats.token_counts`` (one shared definition).
    Null sizes (null text, or a null/uncastable size_col value) count 0
    and negatives are clamped to 0 — a poison row must degrade, not
    kill the stage or corrupt the running total.

    ``group_col``: name of an existing stream-assignment column instead
    of the default ``pmod(xxhash64(doc_id), n_groups)``. Caller contract:
    integer values in ``[0, n_groups)`` derived from doc identity alone
    (an engine-portable assignment like ``hash_split``'s md5 bucket lets
    an external oracle replay the packing exactly); nulls degrade to
    group 0. Out-of-range values would break pack-id uniqueness, so they
    are rejected at the stream head when first seen.

    ``id_offset``: added to every pack_id — the NAMESPACE hook for
    callers that pack several partitions of a corpus independently
    (e.g. per train/val/test split) and need globally unique ids.
    Pack ids then lie in ``[id_offset, id_offset + (n_groups+1) *
    2^40)``; space successive offsets at least that far apart (the
    ``corpus_job`` uses ``i << 60``, which holds for any
    ``n_groups < 2^20``, checked here). A stream needing 2^40 packs
    would break intra-group uniqueness regardless of offsets and raises
    loudly instead of wrapping.

    Scale shape: one shuffle (the group repartition), per-partition sort,
    and a streaming map whose state is one counter per in-flight group.
    ``n_groups`` counts streams, not tasks: the shuffle hashes on the
    group column without a partition count, so the session's shuffle
    partitions and AQE coalescing size the Python map stage to the
    data. Each Python task has a fixed cost (~0.05 CPU-s of worker setup
    on a 4-core host, ``tools/pytask_cost.py``) whatever its row count,
    so a partition per stream
    would make small inputs pay ``n_groups`` of them. Raising
    ``n_groups`` bounds any stream's length; greedy next-fit loses at
    most one document's tokens per pack boundary regardless of stream
    count."""
    if budget <= 0:
        raise ValueError(f"pack_sequences: budget must be positive, got {budget}")
    if n_groups <= 0:
        raise ValueError(
            f"pack_sequences: n_groups must be positive, got {n_groups} "
            "(pmod by zero would null every group id)"
        )
    if id_offset < 0:
        raise ValueError(f"pack_sequences: id_offset must be >= 0, got {id_offset}")
    if id_offset and n_groups * _PACK_STRIDE >= id_offset:
        raise ValueError(
            f"pack_sequences: id_offset {id_offset} is inside the id range "
            f"of the {n_groups}-group layout (< {n_groups * _PACK_STRIDE}) "
            "— namespaces would overlap; use a larger offset or fewer groups"
        )
    if size_col is None:
        from sparkocr.pipeline.textstats import ws_token_count_col

        size_expr = ws_token_count_col()
    else:
        size_expr = F.col(size_col).cast("long")
    if group_col is None:
        group_expr = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_groups))
    else:
        group_expr = F.coalesce(F.col(group_col).cast("long"), F.lit(0))
    # group_id stays LONG until the range check inside the map: an int
    # cast here would wrap out-of-contract values mod 2^32 under
    # non-ANSI sessions (2^32+5 -> 5), silently aliasing a bad stream id
    # into [0, n_groups) past the rejection below
    sized = docs.select(
        "doc_id",
        F.greatest(F.lit(0), F.coalesce(size_expr, F.lit(0)))
        .cast("long")
        .alias("n_tokens"),
        group_expr.cast("long").alias("group_id"),
    )
    grouped = sized.repartition("group_id").sortWithinPartitions(
        "group_id", "doc_id", "n_tokens"
    )

    out_schema = (
        "doc_id long, n_tokens long, group_id int, pack_id long, pack_pos int"
    )

    def _pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # running state survives ACROSS Arrow batches of the sorted
        # partition; groups are contiguous after the sort, so one open
        # counter set per group suffices. The greedy recurrence is
        # inherently sequential per stream, but each PACK (not each row)
        # can be closed with one numpy searchsorted over the group's
        # token cumsum — python-interpreter work scales with #packs +
        # #groups per batch, not #rows (the one pipeline stage that used
        # to touch every doc row-by-row).
        gid = None
        local = used = pos = 0
        for pdf in batches:
            groups = pdf["group_id"].to_numpy()
            sizes = pdf["n_tokens"].to_numpy(dtype=np.int64)
            if group_col is not None and len(groups):
                bad_lo, bad_hi = groups.min(), groups.max()
                if bad_lo < 0 or bad_hi >= n_groups:
                    raise ValueError(
                        f"pack_sequences: group_col {group_col!r} has values "
                        f"outside [0, {n_groups}) (saw {bad_lo}..{bad_hi}) — "
                        "pack ids would collide across streams"
                    )
            # phase 1 walks PACK boundaries (searchsorted over the token
            # cumsum + scalar state), emitting one (pack_id, row_count,
            # start_pos) slab per pack-slice in row order; phase 2 expands
            # every slab at once with np.repeat — no per-pack slicing, no
            # scatter (slabs cover the batch rows exactly in order)
            slab_pids: list[int] = []
            slab_counts: list[int] = []
            slab_pos0: list[int] = []
            # contiguous group segments within the batch (sorted input)
            bounds = np.flatnonzero(np.diff(groups)) + 1
            seg_starts = np.concatenate(([0], bounds)) if len(groups) else []
            seg_ends = np.concatenate((bounds, [len(groups)])) if len(groups) else []
            for s, e in zip(seg_starts, seg_ends):
                g = int(groups[s])
                if g != gid:
                    gid, local, used, pos = g, 0, 0, 0
                cs = np.cumsum(sizes[s:e])
                i = 0
                # `used` tokens already sit in the open pack: the first
                # sweep's budget is what remains of it
                base = -used
                while i < e - s:
                    # maximal prefix with cumulative <= budget since the
                    # pack opened; an item overflowing an EMPTY pack still
                    # enters it alone (oversized docs get their own pack)
                    j = int(np.searchsorted(cs, base + budget, side="right"))
                    if j == i:  # first item alone exceeds the budget
                        if used > 0:  # close the open pack first
                            local = _next_local(local)
                            used, pos = 0, 0
                            base = cs[i - 1] if i else 0
                            continue
                        j = i + 1
                    slab_pids.append(id_offset + gid * _PACK_STRIDE + local)
                    slab_counts.append(j - i)
                    slab_pos0.append(pos)
                    used += int(cs[j - 1] - (cs[i - 1] if i else 0))
                    pos += j - i
                    if j < e - s:
                        # the next item overflows the remaining budget; a
                        # new pack opens only if this one holds tokens —
                        # a pack of zero-size docs stays open (used == 0,
                        # so even an oversized next doc joins it, exactly
                        # the row-at-a-time greedy rule)
                        base = cs[j - 1]
                        if used > 0:
                            local = _next_local(local)
                            used, pos = 0, 0
                    i = j
            counts = np.asarray(slab_counts, dtype=np.int64)
            pack_ids = np.repeat(np.asarray(slab_pids, dtype=np.int64), counts)
            # per-slab offset ramp: global arange minus each slab's start
            offs = np.arange(len(groups), dtype=np.int64) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            positions = (
                np.repeat(np.asarray(slab_pos0, dtype=np.int64), counts) + offs
            ).astype(np.int32)
            out = pdf[["doc_id", "n_tokens", "group_id"]].copy()
            # validated < n_groups < 2^20 above, so the declared int32
            # output column is exact
            out["group_id"] = out["group_id"].astype("int32")
            out["pack_id"] = pd.Series(pack_ids, dtype="int64")
            out["pack_pos"] = pd.Series(positions, dtype="int32")
            yield out

    return grouped.mapInPandas(_pack, out_schema)


def pack_stats(packed: DataFrame, budget: int) -> DataFrame:
    """One row per pack: docs, tokens, fill ratio — the packing-quality
    summary a pipeline monitors (mean fill is the context-waste metric)."""
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .withColumn(
            "fill",
            F.round(F.least(F.col("n_tokens") / F.lit(float(budget)), F.lit(1.0)), 6),
        )
    )

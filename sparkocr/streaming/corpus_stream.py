"""Continuous corpus ingestion: Structured Streaming over the incremental
corpus pipeline.

The batch story (``jobs.corpus_job.increment_corpus``) admits a daily
parquet drop against persisted dedup state. This module closes the loop
for a transcript FEED: a file-source ``readStream`` where each
micro-batch runs the same increment core via ``foreachBatch`` —
extract → exact/near dedup against the state → hygiene → split → pack —
writing one corpus directory per batch and appending the batch's novel
docs to the state, exactly-once.

Exactly-once under replay. ``foreachBatch`` re-runs a failed batch on
restart; the increment core's commit discipline (content-state commit
row written last, committed append-ids skip as no-ops) makes the replay
idempotent. The append id is derived from the batch's INPUT FILE SET
(``input_file_name``), not the epoch id alone: a replay of the same
files skips cleanly even if the sink checkpoint was lost and epoch
numbering restarted from zero — an epoch-keyed id would mark the new
batch 0 "done" because an unrelated old batch 0 committed, silently
dropping data. With file-set keying, same files → same id → skip;
different composition → different id → processed. (Re-delivering the
same file set under a new checkpoint is therefore also a no-op — the
semantics a dedup pipeline wants.)

Assumption, same as daily increments: a conversation's turns arrive
within one batch (files are per-day/per-export drops of whole
conversations). A conversation split across batches assembles as two
partial docs with the same doc_id; the second is dropped by the state's
doc_id filter — the batch boundary should respect conversation
boundaries upstream. The contract is OBSERVABLE, not just documented:
every batch summary carries ``byid_content_conflicts`` — docs the
doc_id filter dropped whose content the state had never seen, i.e.
exactly the second partials (or changed re-crawls). Alert on nonzero:
it means truncated docs were admitted in an earlier batch.

The state tables live in the session catalog (see ``corpus_job``'s
catalog note); the stream checkpoint tracks file progress. The two are
independent: losing the checkpoint re-offers old files, which the state
skips; losing the state (rebuild) with a kept checkpoint means old
files are NOT re-offered — rebuild state from the corpus directories or
start a fresh checkpoint alongside.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from sparkocr.pipeline import corpus_state, lsh_store
from sparkocr.streaming.extract_stream import _transcript_stream


def run_corpus_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    store: str,
    ckpt_dir: str,
    *,
    budget: int = 2048,
    min_words: int = 5,
    near_threshold: float = 0.8,
    bench_path: str | None = None,
    blocklist_path: str | None = None,
    redact: bool = False,
    size_col: str | None = None,
    max_files: int | None = None,
    id_prefix: str = "b",
) -> list[dict]:
    """One ``Trigger.AvailableNow`` pass: process every unseen file in
    ``input_dir`` through the incremental corpus core, one corpus
    directory per batch under ``out_dir``, then stop. Returns the
    per-batch summaries (the increment core's counts, plus
    ``batch_id``/``n_files``; committed replays return their skip
    marker). ``max_files`` caps files per micro-batch (the batch-size
    knob); ``id_prefix`` namespaces this stream's append ids in the
    shared state commit log."""
    from sparkocr.jobs.corpus_job import increment_corpus

    summaries: list[dict] = []

    def process(batch_df, epoch_id: int) -> None:
        # the append id is content-derived (see module docstring): a
        # stable fingerprint of the batch's input file set
        files = sorted(
            r[0]
            for r in batch_df.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
        )
        if not files:
            return  # idle trigger: no state effect, no ordinal burned
        import hashlib

        fp = hashlib.md5("\n".join(files).encode()).hexdigest()[:16]
        append_id = f"{id_prefix}{fp}"
        c = increment_corpus(
            batch_df.sparkSession,
            batch_df,
            os.path.join(out_dir, append_id),
            store,
            append_id,
            bench_path=bench_path,
            budget=budget,
            min_words=min_words,
            near_threshold=near_threshold,
            blocklist_path=blocklist_path,
            redact=redact,
            size_col=size_col,
        )
        c["batch_id"] = int(epoch_id)
        c["n_files"] = len(files)
        summaries.append(c)

    q = (
        _transcript_stream(spark, input_dir, max_files)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the batches wrote the state tables through foreachBatch's CLONED
    # micro-batch sessions: those appends refresh the clones' relation
    # caches, not this session's — a launching session that read a state
    # table before the stream (building it, auditing it) would otherwise
    # keep serving the PRE-STREAM file listing, and a subsequent batch
    # increment_corpus here would dedup against stale state and re-admit
    # the stream's docs. Refresh every state table this stream touches.
    for t in lsh_store.tables(store).tables + corpus_state.tables(store).tables:
        if spark.catalog.tableExists(t):
            spark.catalog.refreshTable(t)
    return summaries


def main(argv=None) -> list[dict]:
    """spark-submit entry — one availableNow pass over the feed
    directory (run it from cron/orchestration; each invocation drains
    whatever arrived). Deployment mirrors corpus_job: the state tables
    need a catalog that outlives one run (see that module's note)."""
    import argparse
    import json

    ap = argparse.ArgumentParser()
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--min-words", type=int, default=5)
    ap.add_argument("--near-threshold", type=float, default=0.8)
    ap.add_argument("--bench", default=None)
    ap.add_argument("--blocklist", default=None)
    ap.add_argument("--redact", action="store_true")
    ap.add_argument("--size-col", default=None)
    ap.add_argument("--max-files", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if not 0 < args.near_threshold <= 1:
        # same CLI guard as corpus_job.main: out-of-(0,1] is a typo for
        # a fraction, and routing it through the degenerate paths would
        # silently disable (or catastrophically widen) near-dedup for
        # every micro-batch
        ap.error(
            f"--near-threshold {args.near_threshold} is outside (0, 1]: "
            "thresholds are Jaccard fractions (0.8, not 8)"
        )

    from sparkocr.session import build_session

    spark = build_session("sparkocr-corpus-stream", master=args.master)
    summaries = run_corpus_stream(
        spark,
        args.input_dir,
        args.out,
        args.store,
        args.checkpoint,
        budget=args.budget,
        min_words=args.min_words,
        near_threshold=args.near_threshold,
        bench_path=args.bench,
        blocklist_path=args.blocklist,
        redact=args.redact,
        size_col=args.size_col,
        max_files=args.max_files,
    )
    for c in summaries:
        print(json.dumps(c))
    spark.stop()
    return summaries


if __name__ == "__main__":
    main()

"""Streaming corpus ingestion: foreachBatch over the incremental corpus
core — per-batch corpus directories, state appends exactly-once under
replay, dedup across batches and against the base corpus."""

import os
from datetime import datetime

import pytest

from test_incremental_corpus import BASE_TEXTS, _text, state_tables

STORE = "stream_state_t"

_STATE_TABLES = state_tables(STORE)


def _write_file(path: str, convs: dict) -> None:
    """ONE parquet file (not a directory) — the unit a file-source
    stream picks up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (cid, 0, "assistant", text, "plain", datetime(2026, 1, 1))
        for cid, text in convs.items()
    ]
    pq.write_table(
        pa.table(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
                "role": [r[2] for r in rows],
                "text": [r[3] for r in rows],
                "tool": [r[4] for r in rows],
                "ts": pa.array([r[5] for r in rows], pa.timestamp("us")),
            }
        ),
        path,
    )


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    """Base corpus + state, an input dir with two files, stream dirs."""
    from sparkocr.jobs.corpus_job import build_corpus
    from sparkocr.pipeline import caching
    from test_incremental_corpus import _write

    root = tmp_path_factory.mktemp("corpus_stream")
    base_in = _write(spark, str(root / "base_in.parquet"), BASE_TEXTS)
    build_corpus(
        spark, base_in, str(root / "base_out"), min_words=1, store=STORE
    )
    caching.release_all()
    in_dir = root / "in"
    os.makedirs(in_dir)
    # file A: an exact re-fetch of admitted b1 under a new conv + a fresh
    # doc; file B: a within-batch near pair + a fresh doc
    _write_file(
        str(in_dir / "drop-a.parquet"),
        {"sa0": BASE_TEXTS["b1"], "sa1": _text(100)},
    )
    _write_file(
        str(in_dir / "drop-b.parquet"),
        {"sb0": _text(110), "sb1": _text(110, mutate=2), "sb2": _text(120)},
    )
    yield {"root": root, "in": str(in_dir)}
    caching.release_all()
    for t in _STATE_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _corpus_rows(spark, out_root):
    rows = []
    for d in sorted(os.listdir(out_root)):
        rows += spark.read.parquet(
            os.path.join(out_root, d, "corpus")
        ).collect()
    return rows


def test_stream_ingests_batches_exactly_once(spark, stream_env):
    from sparkocr.pipeline import caching
    from sparkocr.streaming.corpus_stream import run_corpus_stream

    root = stream_env["root"]
    out = str(root / "stream_out")
    ckpt = str(root / "ckpt")
    summaries = run_corpus_stream(
        spark, stream_env["in"], out, STORE, ckpt,
        min_words=1, max_files=1,
    )
    caching.release_all()
    assert len(summaries) == 2  # one batch per file
    assert {c["ordinal"] for c in summaries} == {1, 2}
    assert sum(c["n_files"] for c in summaries) == 2
    assert sum(c["already_present"] for c in summaries) == 1  # sa0
    assert sum(c["after_near_dedup"] for c in summaries) == 3
    kept = {r.conv_id for r in _corpus_rows(spark, out)}
    assert "sa1" in kept and "sb2" in kept and len(kept) == 3
    assert kept - {"sa1", "sb2"} < {"sb0", "sb1"}  # one of the near pair

    # the launching session must see the clones' state appends: it READ
    # the sigs table pre-stream (build_lsh_store derives bands from it),
    # so without the post-stream refreshTable its cached relation would
    # keep serving the pre-stream file listing — the audit here would
    # report the stream's docs as bands-without-sigs, and a later batch
    # increment in this session would dedup against stale state
    from sparkocr.pipeline.lsh_store import check_lsh_store

    audit = check_lsh_store(spark, STORE)
    assert audit["docs"] == 3 + 4  # base + both batches' novel docs
    assert audit["missing_sig_docs"] == 0 and audit["dup_sig_docs"] == 0
    assert audit["band_mismatch_docs"] == 0

    # nothing new → idle pass, no batches, no state effect
    again = run_corpus_stream(
        spark, stream_env["in"], out, STORE, ckpt,
        min_words=1, max_files=1,
    )
    assert again == []


def test_checkpoint_loss_replay_is_noop(spark, stream_env):
    """A lost sink checkpoint re-offers every file; the content-derived
    append ids make each replayed batch a committed skip — no duplicate
    corpus rows, no new ordinals."""
    import shutil

    from sparkocr.pipeline import caching
    from sparkocr.streaming.corpus_stream import run_corpus_stream

    root = stream_env["root"]
    out = str(root / "stream_out")
    before = sorted(
        (r.conv_id, r.doc_id, r.pack_id)
        for r in _corpus_rows(spark, out)
    )
    shutil.rmtree(str(root / "ckpt"))
    summaries = run_corpus_stream(
        spark, stream_env["in"], out, STORE, str(root / "ckpt2"),
        min_words=1, max_files=1,
    )
    caching.release_all()
    assert len(summaries) == 2
    assert all(c.get("skipped") for c in summaries)
    after = sorted(
        (r.conv_id, r.doc_id, r.pack_id)
        for r in _corpus_rows(spark, out)
    )
    assert after == before
    commits = spark.table(f"{STORE}_content_commits").collect()
    assert max(int(r.ordinal) for r in commits) == 2


def test_stream_dedups_against_earlier_batches(spark, stream_env):
    """A later file near-duplicating a doc admitted by an EARLIER batch
    is dropped — the state grows as the stream runs."""
    from sparkocr.pipeline import caching
    from sparkocr.streaming.corpus_stream import run_corpus_stream

    root = stream_env["root"]
    out = str(root / "stream_out")
    _write_file(
        os.path.join(stream_env["in"], "drop-c.parquet"),
        {"sc0": _text(100, mutate=2), "sc1": _text(130)},
    )
    # ckpt2 is the live checkpoint (the original was deleted by the
    # replay test) — only the new file is unseen
    summaries = run_corpus_stream(
        spark, stream_env["in"], out, STORE, str(root / "ckpt2"),
        min_words=1, max_files=1,
    )
    caching.release_all()
    assert len(summaries) == 1  # only the new file
    c = summaries[0]
    assert c["novel_docs"] == 2
    assert c["after_near_dedup"] == 1  # sc0 drops against batch-1's sa1
    kept = {r.conv_id for r in _corpus_rows(spark, out)}
    assert "sc1" in kept and "sc0" not in kept
"""End-to-end corpus pipeline: transcripts → extract → dedup (exact +
near) → quality → decontaminate → split → pack → parquet, with honest
per-stage accounting."""

import os

import pytest


@pytest.fixture(scope="module")
def bench_file(spark, tiny_transcripts, tmp_path_factory):
    """Benchmark = a verbatim slice of one assembled document — the
    realistic contamination shape."""
    from sparkocr.assemble import assemble_docs_cli
    from sparkocr.extract.dispatch import extract_turns

    docs = assemble_docs_cli(
        extract_turns(spark.read.parquet(tiny_transcripts))
    ).collect()
    victim = max(docs, key=lambda r: len(r.doc_text or ""))
    words = (victim.doc_text or "").split()
    assert len(words) >= 30
    item = " ".join(words[5:30])
    path = str(tmp_path_factory.mktemp("bench") / "bench.parquet")
    spark.createDataFrame([(item,)], "text string").write.parquet(path)
    return path, victim.conv_id


def test_corpus_job_end_to_end(spark, tiny_transcripts, bench_file, tmp_path):
    from sparkocr.jobs.corpus_job import build_corpus
    from sparkocr.pipeline import caching

    bench_path, victim_conv = bench_file
    out = str(tmp_path / "corpus_out")
    counts = build_corpus(
        spark,
        tiny_transcripts,
        out,
        bench_path=bench_path,
        budget=512,
        min_words=3,
    )
    # monotone funnel: every stage keeps at most what the previous kept
    assert (
        counts["assembled_docs"]
        >= counts["after_exact_dedup"]
        >= counts["after_near_dedup"]
        >= counts["after_quality_filter"]
        > counts["after_decontamination"]
        == counts["packed_docs"]
        >= counts["packs"]
        > 0
    ), counts
    # stage wall-times ride the summary: one lap per count-forcing stage
    laps = counts["stage_sec"]
    assert set(laps) == {
        "extract_assemble", "exact_dedup", "near_dedup", "quality_filter",
        "decontamination", "split_pack_write",
    }
    assert all(v >= 0 for v in laps.values())
    rows = spark.read.parquet(os.path.join(out, "corpus")).collect()
    convs = {r.conv_id for r in rows}
    assert victim_conv not in convs  # the contaminated doc is gone
    for r in rows:
        assert r.split in ("train", "val", "test")
        assert r.pack_id is not None and r.pack_pos >= 0
        assert r.n_tokens >= 3  # quality floor held
    assert caching.live_count() == 0  # scope released everything


def test_summary_lands_beside_corpus_for_uri_out_dir(
    spark, tiny_transcripts, tmp_path
):
    """A URI ``out_dir`` (here ``file://``; HDFS/S3 ``--out`` alike) gets
    its ``_summary.json`` beside ``corpus/``, not in a stray tree named
    after the URI under the working directory."""
    import json

    from sparkocr.jobs.corpus_job import build_corpus

    out = tmp_path / "uri_out"
    counts = build_corpus(spark, tiny_transcripts, out.as_uri(), min_words=3)
    assert (out / "corpus").is_dir()
    with open(out / "_summary.json") as f:
        assert json.load(f) == counts


def test_corpus_job_without_bench(spark, tiny_transcripts, tmp_path):
    from sparkocr.jobs.corpus_job import build_corpus

    out = str(tmp_path / "corpus_nobench")
    counts = build_corpus(spark, tiny_transcripts, out, budget=512, min_words=3)
    assert "after_decontamination" not in counts
    assert counts["packed_docs"] == counts["after_quality_filter"] > 0


def test_near_threshold_above_one_disables_near_dedup(
    spark, tiny_transcripts, tmp_path
):
    """A threshold above 1 is degenerate-but-valid: no estimate can
    qualify, so the job runs with near-dedup effectively off instead of
    crashing on min_est's (0, 1] contract."""
    from sparkocr.jobs.corpus_job import build_corpus

    out = str(tmp_path / "corpus_thr12")
    counts = build_corpus(
        spark, tiny_transcripts, out, budget=512, min_words=3,
        near_threshold=1.2,
    )
    assert counts["after_near_dedup"] == counts["after_exact_dedup"]


def test_packs_never_cross_splits(spark, tiny_transcripts, tmp_path):
    """A pack mixing train and val/test docs is eval leakage; every pack
    must be homogeneous in split and dense in pack_pos."""
    from sparkocr.jobs.corpus_job import build_corpus

    out = str(tmp_path / "corpus_splitpack")
    build_corpus(spark, tiny_transcripts, out, budget=256, min_words=1)
    rows = spark.read.parquet(os.path.join(out, "corpus")).collect()
    splits = {r.split for r in rows}
    assert len(splits) >= 2  # fixture actually exercises multiple splits
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pid, members in by_pack.items():
        assert len({m.split for m in members}) == 1, pid
        assert sorted(m.pack_pos for m in members) == list(range(len(members)))


def test_summary_pack_counts_match_written_corpus(
    spark, tiny_transcripts, tmp_path
):
    """The summary's pack counts (observed on the corpus write) equal a
    read-back of the written corpus."""
    from pyspark.sql import functions as F

    from sparkocr.jobs.corpus_job import build_corpus

    out = str(tmp_path / "corpus_counts")
    counts = build_corpus(spark, tiny_transcripts, out, budget=256, min_words=1)
    got = spark.read.parquet(os.path.join(out, "corpus")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("pack_id").alias("packs"),
    ).first()
    assert counts["packed_docs"] == got["rows"] > 0
    assert counts["packs"] == got["packs"] > 0


def test_quality_filter_dropping_everything_packs_nothing(
    spark, tiny_transcripts, tmp_path
):
    """A quality floor above every document's word count leaves an empty
    corpus write: the observed pack counts read 0 (AQE may prune the
    observation with the empty relation) instead of raising or
    blocking."""
    from sparkocr.jobs.corpus_job import build_corpus

    out = str(tmp_path / "corpus_nothing")
    counts = build_corpus(spark, tiny_transcripts, out, min_words=10**9)
    assert counts["after_quality_filter"] == 0
    assert counts["packed_docs"] == counts["packs"] == 0


def test_size_col_packs_by_regex_tokens(spark, tiny_transcripts, tmp_path):
    """The BPE seam end-to-end: --size-col n_word_tokens swaps the
    whitespace stand-in for the regex counter; every pack's n_tokens is
    the regex count (provably different from the ws count somewhere in
    the fixture) and per-pack budgets hold under the swapped sizes."""
    from pyspark.sql import functions as F

    from sparkocr.jobs.corpus_job import build_corpus
    from sparkocr.pipeline.textstats import (
        word_token_count_col, ws_token_count_col,
    )

    out = str(tmp_path / "corpus_sc")
    counts = build_corpus(
        spark, tiny_transcripts, out, budget=256, min_words=3,
        size_col="n_word_tokens",
    )
    assert counts["packs"] > 0
    rows = spark.read.parquet(os.path.join(out, "corpus"))
    chk = rows.select(
        "pack_id", "n_tokens",
        word_token_count_col().alias("want"),
        ws_token_count_col().alias("ws"),
    ).collect()
    assert all(r.n_tokens == r.want for r in chk)
    assert any(r.want != r.ws for r in chk)  # the swap is observable
    # the internal n_ws_tokens helper must not leak into the written
    # corpus just because an explicit size column was used
    assert "n_ws_tokens" not in rows.columns
    per_pack = (
        rows.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n"))
        .collect()
    )
    assert all(p.tot <= 256 or p.n == 1 for p in per_pack)  # oversized solo

    with pytest.raises(ValueError, match="size-col"):
        build_corpus(
            spark, tiny_transcripts, str(tmp_path / "corpus_bad"),
            budget=256, min_words=3, size_col="bpe_count",
        )


def test_null_conv_id_survives_corpus_job(spark, tmp_path):
    """A null-conv document must flow through (distinct doc_id via the
    sentinel hash), not crash the injectivity guard with a spurious
    collision error."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkocr import datagen
    from sparkocr.jobs.corpus_job import build_corpus

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = {
        "conv_id": [None, "a", "b"],
        "turn_idx": [0, 0, 0],
        "role": ["user"] * 3,
        # genuinely DISSIMILAR bodies: single-turn docs share assembly's
        # page-split suffix, so near-identical bodies sit near the 0.8
        # near-dup threshold and the test would then ride minhash
        # estimator variance instead of testing null-conv survival
        "text": ["null conv keeps walruses warm", "alpha pineapple basket router",
                 "quartz telescope muffin ledger"],
        "tool": ["plain"] * 3,
        "ts": [t0] * 3,
    }
    inp = str(tmp_path / "nullconv.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=datagen.SCHEMA), inp)
    out = str(tmp_path / "corpus_nullconv")
    counts = build_corpus(spark, inp, out, budget=64, min_words=1)
    assert counts["assembled_docs"] == 3 and counts["packed_docs"] == 3
    got = spark.read.parquet(os.path.join(out, "corpus")).collect()
    ids = {r.doc_id for r in got}
    assert len(ids) == 3 and 42 not in ids  # sentinel hash, not the seed


def test_empty_input_yields_empty_summary(spark, tmp_path):
    """Zero assembled docs (empty input) must return a zeroed summary —
    not fire the injectivity guard with a spurious null-count collision
    error, and not attempt a corpus write there is nothing to write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkocr import datagen
    from sparkocr.jobs.corpus_job import build_corpus

    empty = {k: [] for k in
             ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    inp = str(tmp_path / "empty.parquet")
    pq.write_table(pa.Table.from_pydict(empty, schema=datagen.SCHEMA), inp)
    counts = build_corpus(spark, inp, str(tmp_path / "out"), budget=64)
    assert counts["assembled_docs"] == 0 and counts["packs"] == 0
    assert not os.path.exists(str(tmp_path / "out" / "corpus"))


def test_full_hygiene_chain(spark, tiny_transcripts, bench_file, tmp_path):
    """blocklist + decontamination + redaction all enabled: the funnel
    stays monotone, the blocklist DEMONSTRABLY drops a doc (the fixture
    alone has no URLs — a vacuous no-op leg would hide a broken stage),
    redaction audit columns ride into the corpus, and decontamination
    sees raw text (placeholders cannot mask an eval overlap because
    redaction runs after it)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkocr import datagen
    from sparkocr.jobs.corpus_job import build_corpus

    bench_path, victim_conv = bench_file
    # augment the fixture with one conversation linking a blocklisted
    # domain and one linking a fine domain, plus a PII-bearing turn
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    extra = {
        "conv_id": ["zz_blocked", "zz_fine"],
        "turn_idx": [0, 0],
        "role": ["user"] * 2,
        "text": ["spam with enough words https://ads.blocked.example/x here",
                 "mail me at pii@example.org with enough words here too"],
        "tool": ["plain"] * 2,
        "ts": [t0] * 2,
    }
    import os as _os
    in_dir = str(tmp_path / "in")
    _os.makedirs(in_dir)
    import shutil
    shutil.copy(tiny_transcripts, _os.path.join(in_dir, "base.parquet"))
    pq.write_table(pa.Table.from_pydict(extra, schema=datagen.SCHEMA),
                   _os.path.join(in_dir, "extra.parquet"))
    bl_path = str(tmp_path / "bl.parquet")
    spark.createDataFrame(
        [("blocked.example",)], "domain string"
    ).write.parquet(bl_path)
    out = str(tmp_path / "corpus_full")
    counts = build_corpus(
        spark,
        in_dir,
        out,
        bench_path=bench_path,
        blocklist_path=bl_path,
        redact=True,
        budget=512,
        min_words=3,
    )
    assert (
        counts["after_quality_filter"]
        > counts["after_domain_filter"]  # the blocked conv actually fell
        >= counts["after_decontamination"]
        == counts["packed_docs"]
        > 0
    ), counts
    assert counts["pii_redactions"] >= 1  # the planted email was redacted
    rows = spark.read.parquet(os.path.join(out, "corpus")).collect()
    convs = {r.conv_id for r in rows}
    assert victim_conv not in convs and "zz_blocked" not in convs
    assert "zz_fine" in convs
    pii_doc = next(r for r in rows if r.conv_id == "zz_fine")
    assert pii_doc.n_email == 1 and "<EMAIL>" in pii_doc.text


def test_near_threshold_above_one_rejected_at_cli():
    """--near-threshold 8 is a typo for 0.8, not a request to disable
    near-dedup: the CLI refuses it loudly (the programmatic API keeps
    the documented degenerate path — see the test above)."""
    from sparkocr.jobs.corpus_job import main
    from sparkocr.streaming.corpus_stream import main as stream_main

    with pytest.raises(SystemExit):
        main(["--input", "x", "--out", "y", "--near-threshold", "8"])
    # the mirror typo: at or below 0 every band-sharing pair becomes a
    # dup edge, transitively collapsing the corpus — also refused
    with pytest.raises(SystemExit):
        main(["--input", "x", "--out", "y", "--near-threshold", "0"])
    with pytest.raises(SystemExit):
        stream_main([
            "--input-dir", "x", "--out", "y", "--store", "s",
            "--checkpoint", "c", "--near-threshold", "8",
        ])


def test_empty_input_rebuild_resets_store(spark, tiny_transcripts, tmp_path):
    """A full rebuild over an (unexpectedly) empty input must still
    reset --store state: leaving a previous build's tables in place
    would make later increments silently dedup against STALE state
    while the freshly written base corpus is empty."""
    from sparkocr.jobs.corpus_job import build_corpus

    store = "t_empty_reset_store"
    suffixes = (
        "_sigs", "_bands", "_meta", "_commits",
        "_content_byhash", "_content_byid", "_content_commits",
        "_content_meta",
    )
    try:
        build_corpus(
            spark, tiny_transcripts, str(tmp_path / "full"),
            min_words=1, store=store,
        )
        assert spark.table(f"{store}_content_byhash").count() > 0

        empty = str(tmp_path / "empty.parquet")
        spark.createDataFrame(
            [],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        ).write.parquet(empty)
        counts = build_corpus(
            spark, empty, str(tmp_path / "rebuild"),
            min_words=1, store=store,
        )
        assert counts["packed_docs"] == 0
        assert counts["state_store"] == store
        assert "state_build" in counts["stage_sec"]
        # the stale state is gone: both content state and the LSH store
        # now reflect the (empty) rebuild input
        assert spark.table(f"{store}_content_byhash").count() == 0
        assert spark.table(f"{store}_sigs").count() == 0
    finally:
        for suf in suffixes:
            spark.sql(f"DROP TABLE IF EXISTS {store}{suf}")

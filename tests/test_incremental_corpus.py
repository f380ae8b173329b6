"""Incremental corpus builds: a daily batch of new transcripts processed
against persisted dedup state (content tables + LSH store) — increments
pay increment-sized work, land exactly once, and never displace an
admitted doc."""

import os
import random
from datetime import datetime

import pytest
from pyspark.sql import functions as F

STORE = "inc_state_t"


def state_tables(store: str) -> tuple[str, ...]:
    """Every table of ``store``'s LSH store and content state."""
    from sparkocr.pipeline import corpus_state, lsh_store

    return lsh_store.tables(store).tables + corpus_state.tables(store).tables


def _text(seed: int, mutate: int = 0) -> str:
    """Deterministic ~90-word text; ``mutate`` rewrites the last k words
    (a near-dup of the unmutated text — ~97% of byte shingles shared, so
    the deterministic 12-perm minhash estimate clears 0.8)."""
    rng = random.Random(seed)
    words = [f"tok{rng.randrange(100000)}" for _ in range(90)]
    for j in range(mutate):
        words[-(j + 1)] = f"mut{seed}x{j}"
    return " ".join(words)


def _write(spark, path: str, convs: dict) -> str:
    rows = [
        (cid, 0, "assistant", text, "plain", datetime(2026, 1, 1))
        for cid, text in convs.items()
    ]
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.mode("overwrite").parquet(path)
    return path


BASE_TEXTS = {"b1": _text(1), "b2": _text(2), "b3": _text(3)}


@pytest.fixture(scope="module")
def base_built(spark, tmp_path_factory):
    """Full build with --store: 3 distinct docs, state bootstrapped."""
    from sparkocr.jobs.corpus_job import build_corpus
    from sparkocr.pipeline import caching

    root = tmp_path_factory.mktemp("inc_corpus")
    base_in = _write(spark, str(root / "base_in.parquet"), BASE_TEXTS)
    counts = build_corpus(
        spark, base_in, str(root / "base_out"), min_words=1, store=STORE
    )
    caching.release_all()
    yield {"root": root, "counts": counts}
    caching.release_all()
    for t in state_tables(STORE):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _corpus(spark, out_dir):
    return spark.read.parquet(os.path.join(str(out_dir), "corpus"))


def test_full_build_bootstraps_state(spark, base_built):
    from sparkocr.pipeline.corpus_state import check_content_state

    counts = base_built["counts"]
    assert counts["state_store"] == STORE
    assert counts["packed_docs"] == 3
    assert "state_build" in counts["stage_sec"]
    # the run's funnel is persisted beside its corpus (job-level lineage)
    import json

    on_disk = json.load(
        open(os.path.join(str(base_built["root"] / "base_out"), "_summary.json"))
    )
    assert on_disk["packed_docs"] == 3 and on_disk["state_store"] == STORE
    # state holds every exact-distinct doc, committed as base
    byhash = spark.table(f"{STORE}_content_byhash")
    assert byhash.count() == 3
    assert {r.append_id for r in byhash.collect()} == {"base"}
    audit = check_content_state(spark, STORE)
    assert audit == {"orphan_rows": 0, "mismatched_docs": 0}


def test_increments_end_to_end(spark, base_built):
    """Two sequential increments: exact re-fetches, re-crawls, near-dups
    of old docs, and near pairs within the increment all resolve; pack
    ids stay globally unique across base + increments; a committed
    append-id re-run is a skipped no-op; increment 2 sees increment 1's
    docs (including its near-dup LOSERS) as state."""
    from sparkocr.jobs.corpus_job import _INC_SPAN, increment_corpus
    from sparkocr.pipeline import caching

    root = base_built["root"]
    inc1_in = _write(
        spark,
        str(root / "inc1_in.parquet"),
        {
            "n0": BASE_TEXTS["b1"],        # exact re-fetch, new conv
            "b2": _text(2, mutate=1),      # re-crawl, text changed
            "n1": _text(3, mutate=2),      # near-dup of admitted b3
            "n2": _text(10),               # near pair within increment
            "n3": _text(10, mutate=2),     # (one of n2/n3 survives)
            "n4": _text(20),               # fresh
        },
    )
    inc1_out = str(root / "inc1_out")
    c1 = increment_corpus(
        spark, inc1_in, inc1_out, STORE, "day1", min_words=1
    )
    caching.release_all()
    assert c1["ordinal"] == 1
    assert c1["assembled_docs"] == 6
    assert c1["after_exact_dedup"] == 6
    assert c1["novel_docs"] == 4          # n0 (hash) + b2 (id) dropped
    assert c1["already_present"] == 2
    # b2 was dropped BY ID with content the state never saw — exactly
    # the batch-boundary/changed-re-crawl contract violation the
    # summary must surface (n0's exact re-fetch does NOT count)
    assert c1["byid_content_conflicts"] == 1
    assert c1["after_near_dedup"] == 2    # n1 → old; n2/n3 → one
    rows1 = _corpus(spark, inc1_out).collect()
    kept1 = {r.conv_id for r in rows1}
    assert "n4" in kept1 and len(kept1) == 2
    assert kept1 < {"n2", "n3", "n4"}
    # pack ids live in increment 1's namespace, under the base's
    # val-split offset
    for r in rows1:
        assert 3 * _INC_SPAN <= r.pack_id < (1 << 60)

    # committed id → skipped no-op
    again = increment_corpus(
        spark, inc1_in, inc1_out, STORE, "day1", min_words=1
    )
    assert again == {"append_id": "day1", "ordinal": 1, "skipped": True}

    # the near-dup loser of n2/n3 is STATE now: its exact text re-sent
    # is already_present, and a near-dup of n4 drops against the store
    loser = ({"n2", "n3"} - kept1).pop()
    inc2_in = _write(
        spark,
        str(root / "inc2_in.parquet"),
        {
            "m1": _text(20, mutate=2),    # near-dup of inc-1's n4
            "m2": _text(30),              # fresh
            "m3": dict(n2=_text(10), n3=_text(10, mutate=2))[loser],
        },
    )
    inc2_out = str(root / "inc2_out")
    c2 = increment_corpus(
        spark, inc2_in, inc2_out, STORE, "day2", min_words=1
    )
    caching.release_all()
    assert c2["ordinal"] == 2
    assert c2["novel_docs"] == 2          # m3 already present by hash
    assert c2["already_present"] == 1
    # an exact re-delivery is NORMAL dedup, not a contract violation
    assert c2["byid_content_conflicts"] == 0
    assert c2["after_near_dedup"] == 1    # m1 drops against n4
    rows2 = _corpus(spark, inc2_out).collect()
    assert {r.conv_id for r in rows2} == {"m2"}
    for r in rows2:
        assert 6 * _INC_SPAN <= r.pack_id < (1 << 60)

    # global invariants across base + both increments
    allrows = (
        _corpus(spark, root / "base_out")
        .unionByName(_corpus(spark, inc1_out))
        .unionByName(_corpus(spark, inc2_out))
    )
    n = allrows.count()
    assert allrows.select("doc_id").distinct().count() == n == 6
    # pack-id namespaces are pairwise disjoint across base + increments
    # (docs within one pack legitimately share a pack_id)
    sets = [
        {r.pack_id for r in _corpus(spark, d).select("pack_id").collect()}
        for d in (root / "base_out", inc1_out, inc2_out)
    ]
    assert not (sets[0] & sets[1])
    assert not (sets[0] & sets[2])
    assert not (sets[1] & sets[2])


def _content_commit_fails(real):
    """``storage.write_commit`` that dies in the content state's commit
    window only: the increment's LSH append still commits."""

    from sparkocr.pipeline.corpus_state import tables

    def write_commit(spark, ts, *a, **kw):
        if ts == tables(STORE):
            raise RuntimeError("simulated death in the commit window")
        return real(spark, ts, *a, **kw)

    return write_commit


def test_crash_before_commit_retries_exactly_once(spark, base_built):
    """A death in the content-commit window leaves NO committed state
    (orphan rows invisible); retrying the same append-id completes and
    commits exactly once."""
    from sparkocr import storage
    from sparkocr.jobs.corpus_job import increment_corpus
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.corpus_state import (
        check_content_state,
        committed_ordinal,
    )

    root = base_built["root"]
    inc_in = _write(
        spark, str(root / "crash_in.parquet"), {"c1": _text(40)}
    )
    inc_out = str(root / "crash_out")

    real = storage.write_commit
    storage.write_commit = _content_commit_fails(real)
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            increment_corpus(
                spark, inc_in, inc_out, STORE, "dayX", min_words=1
            )
    finally:
        storage.write_commit = real
        caching.release_all()
    assert committed_ordinal(spark, STORE, "dayX") is None
    audit = check_content_state(spark, STORE)
    assert audit["orphan_rows"] == 2      # one per projection, invisible
    assert audit["mismatched_docs"] == 0  # committed view untouched

    c = increment_corpus(
        spark, inc_in, inc_out, STORE, "dayX", min_words=1
    )
    caching.release_all()
    assert c.get("skipped") is not True
    assert c["state_rows_appended"] == 1
    # the LSH append had committed in the crashed run → retried as no-op
    assert c["lsh_rows_appended"] == 1
    assert committed_ordinal(spark, STORE, "dayX") == c["ordinal"]
    assert {r.conv_id for r in _corpus(spark, inc_out).collect()} == {"c1"}
    audit = check_content_state(spark, STORE)
    assert audit["orphan_rows"] == 2      # debris remains, still invisible
    assert audit["mismatched_docs"] == 0


def test_reserved_and_malformed_append_ids_refused(spark, base_built, tmp_path):
    """'base' would match the bootstrap commit row and silently skip the
    whole increment; malformed ids would die late at the LSH append
    after the expensive stages — both are refused up front, by the job
    and by both state stores' appends."""
    from sparkocr.jobs.corpus_job import increment_corpus
    from sparkocr.pipeline.corpus_state import append_content_state
    from sparkocr.pipeline.lsh_store import append_lsh_store

    inc_in = _write(spark, str(tmp_path / "r_in.parquet"), {"r1": _text(70)})
    docs = spark.createDataFrame(
        [(7001, _text(70))], "doc_id long, text string"
    )
    for bad in ("base", "day 1", ""):
        with pytest.raises(ValueError, match="append_id"):
            increment_corpus(
                spark, inc_in, str(tmp_path / "r_out"), STORE, bad,
                min_words=1,
            )
        with pytest.raises(ValueError, match="append_id"):
            append_lsh_store(docs, STORE, bad)
        with pytest.raises(ValueError, match="append_id"):
            append_content_state(docs, STORE, bad, 50)


def test_audit_job_flags_unretried_crash(spark, base_built, tmp_path, monkeypatch):
    """audit_state: healthy on consistent state; a crashed increment
    that committed its LSH append but not its content state shows as
    lsh_only_docs (and unhealthy) until the retry heals it."""
    from sparkocr import storage
    from sparkocr.jobs.audit_job import audit_state
    from sparkocr.jobs.corpus_job import increment_corpus
    from sparkocr.pipeline import caching

    ok = audit_state(spark, STORE)
    assert ok["healthy"], ok
    assert ok["lsh_only_docs"] == 0
    assert ok["pending_increments"] == []

    inc_in = _write(spark, str(tmp_path / "a_in.parquet"), {"a1": _text(80)})
    out = str(tmp_path / "a_out")
    monkeypatch.setattr(
        storage, "write_commit", _content_commit_fails(storage.write_commit)
    )
    with pytest.raises(RuntimeError):
        increment_corpus(spark, inc_in, out, STORE, "dayA", min_words=1)
    monkeypatch.undo()
    caching.release_all()
    crashed = audit_state(spark, STORE)
    assert crashed["lsh_only_docs"] == 1
    # the pending id is NAMED (retry it to heal); an identical signature
    # also appears while an increment is mid-flight, so it does not flip
    # healthy — --strict exits nonzero on it for non-overlapping
    # schedules
    assert crashed["pending_increments"] == ["dayA"]
    assert crashed["healthy"] is True  # no hard corruption

    c = increment_corpus(spark, inc_in, out, STORE, "dayA", min_words=1)
    caching.release_all()
    # same-id retry: the committed LSH append skips itself (reporting
    # its stored row count), no skip_existing exclusion involved
    assert c["lsh_rows_appended"] == 1 and c["lsh_rows_existing"] == 0
    healed = audit_state(spark, STORE)
    assert healed["healthy"], healed
    assert healed["pending_increments"] == []
    assert healed["lsh_only_docs"] == 0
    assert healed["increments"] == c["ordinal"]


def test_empty_increment_commits_and_skips(spark, base_built, tmp_path):
    """An empty day still commits its append-id (a retry must not redo
    it) with zero rows everywhere."""
    from sparkocr.jobs.corpus_job import increment_corpus
    from sparkocr.pipeline import caching

    inc_in = str(tmp_path / "empty_in.parquet")
    spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(inc_in)
    out = str(tmp_path / "empty_out")
    c = increment_corpus(spark, inc_in, out, STORE, "day_empty", min_words=1)
    caching.release_all()
    assert c["assembled_docs"] == 0
    assert c["novel_docs"] == 0
    assert c["packed_docs"] == 0
    assert c["state_rows_appended"] == 0
    again = increment_corpus(
        spark, inc_in, out, STORE, "day_empty", min_words=1
    )
    assert again["skipped"] is True


def test_cli_increment_mode(spark, base_built, tmp_path, monkeypatch):
    """The deployment surface: ``--store --append-id`` routes main()
    into incremental mode (and --append-id without --store is refused)."""
    from sparkocr.jobs import corpus_job
    from sparkocr.pipeline import caching

    inc_in = _write(
        spark, str(tmp_path / "cli_in.parquet"), {"k1": _text(60)}
    )
    out = str(tmp_path / "cli_out")
    # main() would stop the shared test session on exit — neuter stop()
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    with pytest.raises(SystemExit):
        corpus_job.main(
            ["--input", inc_in, "--out", out, "--append-id", "day_cli"]
        )
    summary = corpus_job.main(
        [
            "--input", inc_in, "--out", out,
            "--store", STORE, "--append-id", "day_cli",
            "--min-words", "1",
        ]
    )
    caching.release_all()
    assert summary["append_id"] == "day_cli"
    assert summary["packed_docs"] == 1
    assert {r.conv_id for r in _corpus(spark, out).collect()} == {"k1"}


def test_state_side_joins_are_exchange_free(spark, base_built):
    """The scale contract, same as the LSH store's: the corpus-sized
    content tables are never shuffled — their bucketed layout serves
    both anti-joins; only the increment side exchanges."""
    from sparkocr.pipeline.corpus_state import filter_novel

    inc = spark.createDataFrame(
        [(1001, "x1", _text(50)), (1002, "x2", _text(51))],
        "doc_id long, conv_id string, text string",
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            filter_novel(inc, STORE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        lines = plan.splitlines()

        def _indent(s):
            return len(s) - len(s.lstrip(" +-:*"))

        scans = [
            i
            for i, ln in enumerate(lines)
            if "FileScan" in ln and f"{STORE}_content" in ln
        ]
        assert scans, plan
        for i in scans:
            cur = _indent(lines[i])
            for j in range(i - 1, -1, -1):
                pj = lines[j]
                if not pj.strip():
                    continue
                pind = _indent(pj)
                if pind >= cur:
                    continue
                cur = pind
                assert "Exchange" not in pj, f"state scan shuffled:\n{pj}"
                if "Join" in pj or "Aggregate" in pj:
                    break
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_catalog_holds_exactly_the_stores_tables(spark, base_built, tmp_path):
    """The two stores name every table they own: after the build and an
    increment, the catalog's ``{STORE}_*`` tables are exactly the union
    of their lists."""
    from sparkocr.jobs.corpus_job import increment_corpus
    from sparkocr.pipeline import caching

    inc_in = _write(spark, str(tmp_path / "catalog_in.parquet"), {"cat0": _text(77)})
    increment_corpus(
        spark, inc_in, str(tmp_path / "catalog_out"), STORE, "day_catalog", min_words=1
    )
    caching.release_all()
    listed = {t.name for t in spark.catalog.listTables() if t.name.startswith(f"{STORE}_")}
    assert listed == set(state_tables(STORE))
    assert len(listed) == 8

"""Incremental LSH dedup store: the increment path must agree exactly
with the full re-mine on every pair touching a new doc, with no
corpus-sized shuffle — the store tables join Exchange-free."""

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("doc_id", "text")
    )


@pytest.fixture(scope="module")
def store(spark, docs):
    """Store over the first 80% of docs; yields (name, old_df, new_df)."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import build_lsh_store

    old = docs.filter("doc_id % 5 != 0")
    new = docs.filter("doc_id % 5 = 0")
    name = "lsh_store_t"
    build_lsh_store(old, name, n_buckets=8)
    caching.release_all()
    yield name, old, new
    for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
              f"{name}_commits"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _pairs(df):
    return sorted(
        (r.id1, r.id2, r.est_jaccard) for r in df.collect()
    )


def test_incremental_matches_full_remine(spark, docs, store):
    """incremental(new) over store(old) must equal the full operator's
    pairs restricted to those touching a new doc — same est_jaccard."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.dedup import lsh_candidate_pairs
    from sparkocr.pipeline.lsh_store import incremental_lsh_pairs

    name, old, new = store
    try:
        got = _pairs(incremental_lsh_pairs(new, name, bucket_max=None))
        new_ids = {r.doc_id for r in new.select("doc_id").collect()}
        full = lsh_candidate_pairs(docs, bucket_max=None)
        want = [
            p
            for p in _pairs(full)
            if p[0] in new_ids or p[1] in new_ids
        ]
        assert got == want and len(got) > 0
    finally:
        caching.release_all()


def test_incremental_correct_after_append(spark, docs, store):
    """Appending the increment first must not change the result (store
    rows with increment ids are excluded from the old side) and the
    store must audit clean."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import (
        append_lsh_store,
        check_lsh_store,
        incremental_lsh_pairs,
    )

    name, old, new = store
    try:
        before = _pairs(incremental_lsh_pairs(new, name, bucket_max=None))
        r = append_lsh_store(new, name, "day1")
        assert r["rows"] == new.count() and not r["skipped"]
        health = check_lsh_store(spark, name)
        assert health["dup_sig_docs"] == 0 and health["band_mismatch_docs"] == 0
        assert health["missing_sig_docs"] == 0 and health["orphan_rows"] == 0
        assert health["docs"] == docs.count()
        after = _pairs(incremental_lsh_pairs(new, name, bucket_max=None))
        assert after == before
        # a blind retry of the SAME append_id is a no-op, not a dup
        retry = append_lsh_store(new, name, "day1")
        assert retry["skipped"] and retry["rows"] == r["rows"]
        assert check_lsh_store(spark, name) == health
        # re-sending docs under a NEW id used to duplicate store rows
        # (a caller bug the audit then caught); skip_existing now
        # excludes the already-committed ids and the store stays clean
        resend = append_lsh_store(new.limit(3), name, "day2")
        assert resend["rows"] == 0 and resend["n_existing"] == 3
        still = check_lsh_store(spark, name)
        assert still["dup_sig_docs"] == 0 and still["missing_sig_docs"] == 0
    finally:
        caching.release_all()
        # rebuild the fixture store for any later test
        from sparkocr.pipeline.lsh_store import build_lsh_store

        build_lsh_store(old, name, n_buckets=8)
        caching.release_all()


_STATE = ("sigs", "bands", "meta", "commits", "content_byhash",
          "content_byid", "content_commits", "content_meta")
_CRASHES = [(which, k) for which in ("lsh", "content") for k in (1, 2, 3)]


def _drop_state(spark, name):
    for t in _STATE:
        spark.sql(f"DROP TABLE IF EXISTS {name}_{t}")


def _fail_kth_write(monkeypatch, k):
    """Make the k-th call of the shared store writes (the bucketed data
    writes and the commit row, in call order) die. Returns the row
    counts the writes before it landed."""
    from sparkocr import storage

    landed = []

    def failing(real, rows_of):
        def write(*a, **kw):
            if len(landed) + 1 == k:
                raise RuntimeError(f"simulated death at write {k}")
            real(*a, **kw)
            landed.append(rows_of(*a))

        return write

    monkeypatch.setattr(
        storage, "write_bucketed",
        failing(storage.write_bucketed, lambda df, *_: df.count()),
    )
    monkeypatch.setattr(
        storage, "write_commit", failing(storage.write_commit, lambda *_: 0)
    )
    return landed


@pytest.fixture(scope="module")
def crash_state(spark, docs):
    """Both state stores of one name over 36 docs, 4 buckets — the pair
    a base corpus build leaves. Each crash case appends its own 4 docs."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.corpus_state import build_content_state
    from sparkocr.pipeline.lsh_store import build_lsh_store

    name = "crash_state_t"
    base = docs.filter("doc_id < 36")
    build_lsh_store(base, name, n_buckets=4)
    build_content_state(base, name, n_buckets=4)
    caching.release_all()
    yield name
    _drop_state(spark, name)


@pytest.mark.parametrize("which,k", _CRASHES)
def test_crashed_append_is_invisible_and_retry_safe(
    spark, docs, crash_state, monkeypatch, which, k
):
    """A death at the k-th write of an append (its data tables, then its
    commit row) leaves the committed view and the audit's anomaly counts
    unchanged, with exactly the rows written so far as invisible orphans;
    a same-id retry lands the increment once and a second retry is a
    skipped no-op."""
    from sparkocr import storage
    from sparkocr.jobs.audit_job import audit_state
    from sparkocr.pipeline import caching, corpus_state, lsh_store

    name = crash_state
    lo = 36 + 4 * _CRASHES.index((which, k))
    new = docs.filter(f"doc_id >= {lo} and doc_id < {lo + 4}")
    if which == "lsh":
        ts, names = lsh_store.tables(name), ("sigs", "bands")

        def append(aid):
            return lsh_store.append_lsh_store(new, name, aid)

        def check():
            return lsh_store.check_lsh_store(spark, name)
    else:
        ts, names = corpus_state.tables(name), ("byhash", "byid")
        ordinal = corpus_state.next_ordinal(spark, name)

        def append(aid):
            return corpus_state.append_content_state(new, name, aid, ordinal)

        def check():
            return corpus_state.check_content_state(spark, name)

    def view():
        return {
            n: sorted(tuple(r) for r in storage.committed_rows(spark, ts, n).collect())
            for n in names
        }

    def anomalies(audit):
        return {a: v for a, v in audit.items() if a != "orphan_rows"}

    before, before_audit = view(), check()
    aid = f"crash_{which}_{k}"
    landed = _fail_kth_write(monkeypatch, k)
    with pytest.raises(RuntimeError, match="simulated"):
        append(aid)
    monkeypatch.undo()
    caching.release_all()
    crashed = check()
    assert view() == before
    assert anomalies(crashed) == anomalies(before_audit)
    assert crashed["orphan_rows"] - before_audit["orphan_rows"] == sum(landed)
    assert audit_state(spark, name)["healthy"]

    r = append(aid)
    caching.release_all()
    assert not r["skipped"] and r["rows"] == 4
    healed = view()
    # sigs and byhash hold one row per doc; the audit below pins the rest
    assert len(healed[names[0]]) == len(before[names[0]]) + 4
    assert all(set(before[n]) <= set(healed[n]) for n in names)
    assert append(aid)["skipped"]
    assert anomalies(check()) == {
        **anomalies(before_audit),
        **({"docs": before_audit["docs"] + 4} if which == "lsh" else {}),
    }
    assert audit_state(spark, name)["healthy"]


@pytest.mark.parametrize("which,k", _CRASHES)
def test_crashed_build_is_refused(spark, docs, monkeypatch, which, k):
    """A rebuild that dies at any write before its meta row leaves a
    store every reader refuses with the rebuild instruction."""
    from sparkocr.pipeline import caching, corpus_state, lsh_store

    build, read_meta = {
        "lsh": (lsh_store.build_lsh_store, lsh_store.read_store_meta),
        "content": (
            corpus_state.build_content_state, corpus_state.read_content_meta
        ),
    }[which]
    name = f"crash_build_{which}_{k}"
    base = docs.filter("doc_id < 20")
    try:
        build(base, name, n_buckets=4)
        read_meta(spark, name)
        _fail_kth_write(monkeypatch, k)
        with pytest.raises(RuntimeError, match="simulated"):
            build(base, name, n_buckets=4)
        monkeypatch.undo()
        with pytest.raises(ValueError, match="rebuild"):
            read_meta(spark, name)
    finally:
        caching.release_all()
        _drop_state(spark, name)


def test_store_side_joins_are_exchange_free(spark, store):
    """The scale contract: corpus-sized store tables are never
    shuffled — bucketed layout serves both the band-bucket counts
    aggregate and the equi-joins; only increment/pair-sized sides
    exchange."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import incremental_lsh_pairs

    name, old, new = store
    # at sf0.001 AQE correctly broadcasts the tiny store — which is
    # exactly the join shape that cannot exist at 10^12 docs. Disable the
    # broadcast threshold so the plan shows the AT-SCALE strategy (sort-
    # merge against the bucketed layout); the explicit broadcast() hints
    # on the increment-sized sides are unaffected.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the hot-bucket counts aggregate reads co-located buckets
        counts_plan = (
            spark.table(f"{name}_bands")
            .groupBy("bkey")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in counts_plan, counts_plan
        plan = (
            incremental_lsh_pairs(new, name)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # every hashpartitioning Exchange must sit on increment- or
        # pair-sized subtrees; the store scans' own bucket partitioning
        # must be reused. Walk each store FileScan's ancestor chain
        # (textual plans indent children under parents) up to the first
        # join/aggregate that consumes it: no Exchange may appear on the
        # way — that would mean the corpus-sized table was shuffled.
        lines = plan.splitlines()

        def _indent(s):
            return len(s) - len(s.lstrip(" +-:*"))

        scans = [
            i for i, ln in enumerate(lines) if "FileScan" in ln and name in ln
        ]
        assert scans, plan  # store scans present
        for i in scans:
            cur = _indent(lines[i])
            for j in range(i - 1, -1, -1):
                pj = lines[j]
                if not pj.strip():
                    continue
                pind = _indent(pj)
                if pind >= cur:
                    continue  # sibling subtree, not an ancestor
                cur = pind
                assert "Exchange" not in pj, f"store scan shuffled:\n{pj}"
                if "Join" in pj or "Aggregate" in pj:
                    break  # consumed without a shuffle — contract holds
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        caching.release_all()


def test_bucket_max_caps_hot_store_buckets(spark, docs, store):
    """A store bucket over the cap stops producing new-old candidates,
    and the drop is observable via cap_metrics."""
    from pyspark.sql import Observation

    from sparkocr.pipeline import caching
    from sparkocr.pipeline.dedup import cap_metrics_get
    from sparkocr.pipeline.lsh_store import incremental_lsh_pairs

    name, old, new = store
    try:
        obs = Observation()
        capped = incremental_lsh_pairs(new, name, bucket_max=1, cap_metrics=obs)
        n_capped = capped.count()
        uncapped = incremental_lsh_pairs(new, name, bucket_max=None).count()
        metrics = cap_metrics_get(obs)
        assert metrics is not None and metrics["capped_buckets"] > 0
        assert n_capped < uncapped
    finally:
        caching.release_all()


def test_half_built_store_refused(spark, docs):
    """A build that died before writing meta leaves a store every reader
    refuses loudly."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import (
        append_lsh_store,
        build_lsh_store,
        incremental_lsh_pairs,
    )

    name = "lsh_store_half"
    try:
        build_lsh_store(docs.limit(50), name, n_buckets=4)
        caching.release_all()
        spark.sql(f"DROP TABLE IF EXISTS {name}_meta")  # simulate the crash
        with pytest.raises(ValueError, match="rebuild"):
            incremental_lsh_pairs(docs.limit(5), name)
        with pytest.raises(ValueError, match="rebuild"):
            append_lsh_store(docs.limit(5), name, "x1")
    finally:
        caching.release_all()
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
                  f"{name}_commits"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_precomputed_sigs_path_matches_default(spark, docs, store):
    """sigs= (one shared store_signatures frame for append + pairs, the
    compute-once seam increment jobs use) must be result-identical to
    the default compute-twice paths."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import (
        append_lsh_store,
        build_lsh_store,
        incremental_lsh_pairs,
        store_signatures,
    )

    name, old, new = store
    sigs = caching.register(store_signatures(new, name))
    want = _pairs(incremental_lsh_pairs(new, name))
    caching.release_all()
    sigs = caching.register(store_signatures(new, name))
    got = _pairs(incremental_lsh_pairs(new, name, sigs=sigs))
    assert got == want
    caching.release_all()

    # append via precomputed sigs lands the same committed rows as the
    # default path (two throwaway twins — the shared store fixture must
    # not be mutated)
    twins = ("lsh_store_sigtwin_a", "lsh_store_sigtwin_b")
    try:
        rows = {}
        for twin, use_sigs in zip(twins, (True, False)):
            build_lsh_store(old, twin, n_buckets=8)
            caching.release_all()
            s = (
                caching.register(store_signatures(new, twin))
                if use_sigs
                else None
            )
            append_lsh_store(new, twin, "a1", sigs=s)
            caching.release_all()
            rows[twin] = sorted(
                tuple(r)
                for r in spark.table(f"{twin}_sigs")
                .drop("append_id")
                .collect()
            )
        assert rows[twins[0]] == rows[twins[1]]
    finally:
        caching.release_all()
        for twin in twins:
            for t in (f"{twin}_sigs", f"{twin}_bands", f"{twin}_meta",
                      f"{twin}_commits"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cross_id_redelivery_does_not_duplicate_store_rows(spark, docs):
    """The per-append_id discipline alone cannot stop the same docs
    re-arriving under a DIFFERENT id (a crashed increment whose retry
    recomposed into a new batch fingerprint): skip_existing must exclude
    already-committed doc_ids, keeping the store audit clean."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import (
        append_lsh_store,
        build_lsh_store,
        check_lsh_store,
    )

    name = "lsh_store_redeliver"
    try:
        build_lsh_store(docs.filter("doc_id % 5 != 0").limit(60), name,
                        n_buckets=4)
        caching.release_all()
        batch = docs.filter("doc_id % 5 = 0").limit(20)
        first = append_lsh_store(batch, name, "x1")
        caching.release_all()
        assert first["rows"] == 20 and first["n_existing"] == 0
        # same docs, new id — the cross-id re-delivery
        second = append_lsh_store(batch, name, "x2")
        caching.release_all()
        assert second["rows"] == 0 and second["n_existing"] == 20
        audit = check_lsh_store(spark, name)
        assert audit["dup_sig_docs"] == 0
        assert audit["band_mismatch_docs"] == 0
        # opting out reproduces the corruption the default prevents
        third = append_lsh_store(batch, name, "x3", skip_existing=False)
        caching.release_all()
        assert third["rows"] == 20
        assert check_lsh_store(spark, name)["dup_sig_docs"] == 20
    finally:
        caching.release_all()
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
                  f"{name}_commits"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_to_store_without_commits_table_refused(spark, docs):
    """A stamped store whose commits table is gone (the half-migrated
    state _committed_rows refuses on read) must refuse APPENDS with the
    same guided rebuild error, not a raw TABLE_OR_VIEW_NOT_FOUND."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import append_lsh_store, build_lsh_store

    name = "lsh_store_nocommit"
    try:
        build_lsh_store(docs.limit(50), name, n_buckets=4)
        caching.release_all()
        spark.sql(f"DROP TABLE IF EXISTS {name}_commits")
        with pytest.raises(ValueError, match="rebuild"):
            append_lsh_store(docs.limit(5), name, "a1")
    finally:
        caching.release_all()
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
                  f"{name}_commits"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bad_band_divisibility_rejected(spark, docs):
    from sparkocr.pipeline.lsh_store import build_lsh_store

    with pytest.raises(ValueError, match="divisible"):
        build_lsh_store(docs, "lsh_store_bad", n_perm=12, band_rows=5)


def test_incremental_agrees_with_full_under_equal_caps(spark, docs, store):
    """bucket_max semantics must MATCH the full operator: combined
    (store + increment) bucket membership, capped buckets dropped from
    both sides — so capped incremental == capped full restricted to
    new-doc pairs."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.dedup import lsh_candidate_pairs
    from sparkocr.pipeline.lsh_store import incremental_lsh_pairs

    name, old, new = store
    try:
        cap = 3
        got = _pairs(incremental_lsh_pairs(new, name, bucket_max=cap))
        new_ids = {r.doc_id for r in new.select("doc_id").collect()}
        want = [
            p
            for p in _pairs(lsh_candidate_pairs(docs, bucket_max=cap))
            if p[0] in new_ids or p[1] in new_ids
        ]
        uncapped = _pairs(incremental_lsh_pairs(new, name, bucket_max=None))
        assert got == want
        assert len(got) < len(uncapped)  # the cap actually bit at cap=3
    finally:
        caching.release_all()


def test_incremental_min_est_matches_full_and_filtered(spark, docs, store):
    """min_est on the incremental path must equal BOTH (a) its own
    default output thresholded downstream and (b) the full operator's
    min_est output restricted to new-touching pairs — uncapped and with
    a biting cap (cap=3 bites on this fixture, see the equal-caps
    test). t=0.5 keeps the prune inert (m_min clamps to 1) and pins the
    plumbing on a nonempty result; t=0.8 activates the pigeonhole
    (m_min=2 under the default S-curve)."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.dedup import lsh_candidate_pairs
    from sparkocr.pipeline.lsh_store import incremental_lsh_pairs

    name, old, new = store
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    try:
        for cap in (None, 3):
            for t in (0.5, 0.8):
                got = _pairs(
                    incremental_lsh_pairs(new, name, bucket_max=cap, min_est=t)
                )
                filt = [
                    p
                    for p in _pairs(
                        incremental_lsh_pairs(new, name, bucket_max=cap)
                    )
                    if p[2] >= t
                ]
                assert got == filt, (cap, t)
                want = [
                    p
                    for p in _pairs(
                        lsh_candidate_pairs(docs, bucket_max=cap, min_est=t)
                    )
                    if p[0] in new_ids or p[1] in new_ids
                ]
                assert got == want, (cap, t)
                if cap is None and t == 0.5:
                    assert got  # fixture sanity: the identity is non-vacuous
    finally:
        caching.release_all()


def test_new_new_hot_bucket_is_capped(spark, docs, store):
    """A duplicate cluster arriving INSIDE one increment (same doc text
    repeated) must be capped by the same bucket_max — the new-new
    self-join cannot be allowed to go quadratic just because the hot
    bucket has no store members."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import incremental_lsh_pairs

    name, old, new = store
    try:
        one = docs.filter("doc_id = 1").select("text")
        clones = (
            spark.range(900_001, 900_041)
            .withColumnRenamed("id", "doc_id")
            .crossJoin(one)
        )
        uncapped = incremental_lsh_pairs(clones, name, bucket_max=None)
        n_unc = uncapped.count()
        assert n_unc >= 40 * 39 / 2  # the clone clique is all-pairs
        capped = incremental_lsh_pairs(clones, name, bucket_max=10)
        n_cap = capped.count()
        assert n_cap == 0, n_cap  # every clone bucket is over the cap
    finally:
        caching.release_all()


def test_empty_meta_table_refused(spark, docs):
    """A meta table that exists but holds zero rows (build died inside
    the meta overwrite) must raise the loud rebuild error, not an
    AttributeError."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import build_lsh_store, read_store_meta

    name = "lsh_store_emptymeta"
    try:
        build_lsh_store(docs.limit(30), name, n_buckets=4)
        caching.release_all()
        schema = spark.table(f"{name}_meta").schema
        spark.sql(f"DROP TABLE {name}_meta")
        spark.createDataFrame([], schema).write.saveAsTable(f"{name}_meta")
        with pytest.raises(ValueError, match="rebuild"):
            read_store_meta(spark, name)
    finally:
        caching.release_all()
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
                  f"{name}_commits"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sig_algo_version_mismatch_refused(spark, docs):
    """A store whose meta records a different signature-algorithm version
    than the running engine must refuse the recompute paths (append,
    incremental mining): mixed-algorithm signatures never collide, so the
    join would silently drop every cross-increment pair."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import (
        append_lsh_store,
        build_lsh_store,
        incremental_lsh_pairs,
    )

    name = "lsh_store_sigv"
    try:
        build_lsh_store(docs.limit(30), name, n_buckets=4)
        caching.release_all()
        meta = spark.table(f"{name}_meta").collect()[0].asDict()
        meta["sig_v"] = 1  # pretend the store predates the affine family
        spark.createDataFrame([tuple(meta.values())], list(meta.keys())) \
            .write.mode("overwrite").saveAsTable(f"{name}_meta")
        inc = docs.limit(5)
        with pytest.raises(ValueError, match="signature algorithm"):
            append_lsh_store(inc, name, "a1")
        with pytest.raises(ValueError, match="signature algorithm"):
            incremental_lsh_pairs(inc, name).count()
    finally:
        caching.release_all()
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
                  f"{name}_commits"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_edge_cases(spark, docs, store):
    """Empty increment → empty result; an increment whose doc_ids are
    ALREADY in the store (a re-delivery) excludes its own store copies
    from the old side, so no self-pairs and no duplicates."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import incremental_lsh_pairs

    name, old, new = store
    try:
        empty = docs.filter("doc_id < 0")
        assert incremental_lsh_pairs(empty, name).count() == 0
        # re-deliver docs that ARE the store: no doc may pair with its
        # own store copy (a self-pair at est 1.0), every pair touches a
        # delivered id, and nothing is emitted twice
        redelivered = old.limit(40)
        pairs = incremental_lsh_pairs(redelivered, name, bucket_max=None).collect()
        ids = {r.doc_id for r in redelivered.select("doc_id").collect()}
        assert all(p.id1 != p.id2 for p in pairs)
        assert all(p.id1 in ids or p.id2 in ids for p in pairs)
        keys = [(p.id1, p.id2) for p in pairs]
        assert len(keys) == len(set(keys))
    finally:
        caching.release_all()


def test_build_over_empty_input(spark, docs):
    """A store built over zero docs is complete (meta present) and
    answers increments without crashing — new-new pairs only."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import build_lsh_store, incremental_lsh_pairs

    name = "lsh_store_empty"
    try:
        build_lsh_store(docs.filter("doc_id < 0"), name, n_buckets=4)
        caching.release_all()
        dup_pair = docs.filter("doc_id in (1, 2)").selectExpr(
            "doc_id", "'identical twin text for the empty-store case' as text"
        )
        pairs = incremental_lsh_pairs(dup_pair, name).collect()
        assert [(p.id1, p.id2) for p in pairs] == [(1, 2)]
    finally:
        caching.release_all()
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
                  f"{name}_commits"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_min_est_exact_when_cap_hides_collisions(spark):
    """The increment's counterpart of test_minhash's hidden-collision
    case: new docs N1, N2 and store doc A share both bands (est 1.0),
    but ten store fillers share band 0 too, pushing that bucket's
    combined membership past bucket_max. Every pair then shows one
    observed band match; the prune's capped-bucket correction (the new
    doc's count for new-old pairs, the smaller of the two for new-new)
    must keep them, so pruned == unpruned filtered at min_est."""
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.lsh_store import build_lsh_store, incremental_lsh_pairs

    cols = ["doc_id", "mh_0", "mh_1", "mh_2", "mh_3"]
    old = spark.createDataFrame(
        [("A", 1, 1, 2, 2)]
        + [(f"F{i:02d}", 1, 1, 100 + i, 200 + i) for i in range(10)],
        cols,
    )
    new = spark.createDataFrame([("N1", 1, 1, 2, 2), ("N2", 1, 1, 2, 2)], cols)
    name = "lsh_store_hidden"
    try:
        build_lsh_store(old, name, n_perm=4, band_rows=2, n_buckets=2, sigs=old)
        kw = dict(bucket_max=10, sigs=new)
        default = {
            (r.id1, r.id2): r.est_jaccard
            for r in incremental_lsh_pairs(new, name, **kw).collect()
            if r.est_jaccard >= 1.0
        }
        # fixture sanity: band 0 (13 members) capped, every pair
        # survives via band 1 alone on the unpruned path
        assert default == {("A", "N1"): 1.0, ("A", "N2"): 1.0, ("N1", "N2"): 1.0}
        pruned = {
            (r.id1, r.id2): r.est_jaccard
            for r in incremental_lsh_pairs(new, name, **kw, min_est=1.0).collect()
        }
        assert pruned == default
    finally:
        caching.release_all()
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_meta",
                  f"{name}_commits"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

"""Incremental MinHash-LSH dedup over a persisted signature store.

``dedup.lsh_candidate_pairs`` re-mines the WHOLE corpus per run: shingle
explode over every document's text, a 12-way min aggregation, and a
banded self-join. Correct, but at 10^12 documents a daily increment of
0.1% new rows cannot pay a full re-mine. This module persists the two
small derived tables once and lets an increment query join against them
with no corpus-sized shuffle:

  {store}_sigs    (doc_id, mh_0..mh_{n_perm-1}, append_id)  bucketed by doc_id
  {store}_bands   (doc_id, bkey, append_id)                 bucketed by bkey
  {store}_commits (append_id, attempt, rows): one row per committed
                  build (append_id='base') or append
  {store}_meta    single row: n_perm, band_rows, k, n_buckets, sig_v,
                  max_chars, hash_kind

Builds and appends follow ``storage``'s commit protocol (meta last,
attempt-stamped rows, commit row last, orphans invisible): a death
between the sigs and bands appends (or mid-append) leaves invisible
orphan rows, never a half-visible increment, and a blind retry of a
committed id is a no-op instead of a silent duplication.
``check_lsh_store`` audits the committed view and counts the orphan
rows, so crashed attempts stay observable until a rebuild purges them.

Both tables are Spark native bucketed tables (``storage.py`` pattern —
the Parquet stand-in for Iceberg ``bucket(...)``): hash-partitioned on
their join keys at write time, so the increment-side joins below read
them with NO Exchange on the store side. Per-increment cost is one
columnar scan of each store table (two thin string columns, not the
corpus text) plus shuffles of increment-sized data only — versus the
full re-mine's shingle explode over the corpus text (~100x the bytes)
and two corpus-sized shuffles.

The bands table holds ``dedup.band_keys`` rows, and
``incremental_lsh_pairs(new_docs, ...)`` runs ``dedup``'s candidate-pair
algebra (see that module's docstring) twice — the increment against
itself and against the bands table — so it emits every pair of the full
re-mine that touches a new document, with the same ``est_jaccard``
(differential-tested). Run it BEFORE or AFTER appending the increment:
store rows whose doc_id appears in ``new_docs`` are excluded from the
"old" side either way.

Signatures use ``dedup.minhash_signatures`` with the build's
``hash_kind`` — ``"md5"`` (engine-portable default) or
``"rolling"`` (the Arrow fast path, ``minhash_fast``) — recorded in
meta and replayed by every recompute path; the meta row also records
the signature algorithm version (``sig_v`` = ``dedup.MH_SIG_V``), and
the recompute paths (append, incremental pairs) refuse a store whose
stored version differs from the running engine's — mixed-algorithm
signatures would silently never collide, eating every cross-increment
candidate pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from sparkocr import storage
from sparkocr.pipeline import caching
from sparkocr.pipeline.dedup import (
    BAND_ROWS,
    MH_MAX_CHARS,
    MH_SIG_V,
    N_PERM,
    SHINGLE,
    _require_cap,
    band_keys,
    band_pairs,
    cap_hot_buckets,
    capped_band_rows,
    check_band_divisibility,
    combined_counts,
    minhash_signatures,
)


def tables(store: str) -> storage.TableStore:
    """The store's tables: ``{store}_sigs``, ``{store}_bands``, its
    commit log and meta row (see module docstring)."""
    return storage.TableStore(
        store, f"LSH store {store!r}", "build_lsh_store", ("sigs", "bands")
    )


def _meta_max_chars(m: dict) -> int | None:
    """The stored signatured-prefix cap: 0 encodes None (uncapped) in the
    all-int meta row. Increments MUST replay the build's cap — a mixed-cap
    store would give long docs different signatures per append."""
    return m["max_chars"] or None


def _meta_hash_kind(m: dict) -> str:
    """The stored shingle→integer construction, int-encoded in the
    all-int meta row (0 = "md5", 1 = "rolling"). Increments MUST replay
    the build's kind — the two constructions' signatures never collide,
    so a mixed store would silently drop every cross-append candidate
    pair."""
    return "rolling" if m["hash_kind"] == 1 else "md5"


_HASH_KIND_CODE = {"md5": 0, "rolling": 1}


def _require_sig_v(m: dict, store: str) -> None:
    """Refuse to recompute signatures against a store built with a
    different signature algorithm (meta ``sig_v`` vs the running
    engine's ``dedup.MH_SIG_V``): mixed-algorithm signatures never
    collide, so the join would silently drop every cross-increment
    candidate pair instead of failing."""
    if m["sig_v"] != MH_SIG_V:
        raise ValueError(
            f"LSH store {store!r} was built with signature algorithm "
            f"v{m['sig_v']}, but this engine computes v{MH_SIG_V} — rebuild "
            "with build_lsh_store before appending or mining increments"
        )


def _replay_signatures(docs: DataFrame, m: dict) -> DataFrame:
    """The docs' minhash signatures under the store's meta ``m``: the
    build's parameters replayed, never re-derived."""
    return minhash_signatures(
        docs, m["n_perm"], m["k"], _meta_max_chars(m), _meta_hash_kind(m)
    )


def read_store_meta(spark: SparkSession, store: str) -> dict:
    """Store parameters, or a loud error for a half-built store."""
    return storage.read_meta(spark, tables(store))


def build_lsh_store(
    docs: DataFrame,
    store: str,
    n_perm: int = N_PERM,
    band_rows: int = BAND_ROWS,
    k: int = SHINGLE,
    n_buckets: int = 64,
    max_chars: int | None = MH_MAX_CHARS,
    hash_kind: str = "md5",
    sigs: DataFrame | None = None,
) -> None:
    """Build (or rebuild) the store from scratch. The expensive part —
    shingle explode + min aggregation — runs ONCE: signatures are
    materialized to the sigs table first and the bands table derives
    from reading that table back (a 100x-smaller input than the text).

    Under ``storage``'s commit protocol a build that dies mid-way leaves
    a store every reader refuses, never a probeable half-store.

    ``sigs``: optionally the docs' precomputed ``minhash_signatures``
    frame — a full corpus build that ALSO mines near-dup pairs over the
    same docs (``corpus_job.build_corpus(store=...)``) passes one shared
    frame so the corpus-sized signature pass runs once. MUST have been
    computed with exactly this call's (n_perm, k, max_chars, hash_kind):
    the store records those in meta and every future increment replays
    them — mismatched signatures would poison every later band join."""
    check_band_divisibility(n_perm, band_rows)
    if hash_kind not in _HASH_KIND_CODE:
        raise ValueError(f"unknown minhash hash_kind {hash_kind!r}")
    spark = docs.sparkSession
    ts = tables(store)
    storage.drop_meta(spark, ts)
    if sigs is None:
        sigs = minhash_signatures(docs, n_perm, k, max_chars, hash_kind)
    storage.write_rows(sigs, ts, "sigs", n_buckets, "doc_id", storage.BASE)
    stored = spark.table(ts.table("sigs")).drop(storage.STAMP)
    storage.write_rows(
        band_keys(stored, n_perm, band_rows), ts, "bands", n_buckets, "bkey",
        storage.BASE,
    )
    storage.write_commit(spark, ts, storage.BASE, storage.BASE, stored.count())
    # max_chars=None (uncapped) encodes as 0, hash_kind as its code
    storage.write_meta(spark, ts, {
        "n_perm": n_perm, "band_rows": band_rows, "k": k,
        "n_buckets": n_buckets, "sig_v": MH_SIG_V, "max_chars": max_chars or 0,
        "hash_kind": _HASH_KIND_CODE[hash_kind],
    })


def store_signatures(docs: DataFrame, store: str) -> DataFrame:
    """The docs' minhash signatures computed with the STORE's parameters
    (never re-derived) — the frame ``append_lsh_store`` and
    ``incremental_lsh_pairs`` each build when not given one. Compute it ONCE
    (and cache it) when calling both for the same increment and pass it
    via their ``sigs=`` parameter: the signature pass is the increment's
    dominant compute at corpus scale, and the default paths pay it
    twice."""
    spark = docs.sparkSession
    m = read_store_meta(spark, store)
    _require_sig_v(m, store)
    return _replay_signatures(docs, m)


def append_lsh_store(
    new_docs: DataFrame,
    store: str,
    append_id: str,
    sigs: DataFrame | None = None,
    skip_existing: bool = True,
) -> dict:
    """Append an increment's signatures and band keys to the store, with
    the STORED parameters (never re-derived), exactly-once per
    ``append_id`` under ``storage``'s commit protocol: a death between
    the two appends (or mid-append) leaves invisible orphan rows rather
    than docs with signatures but no bands, a retry of the crashed id
    appends fresh rows and commits them (the orphans stay invisible;
    ``check_lsh_store`` counts them, a rebuild purges them), and a blind
    retry of a COMMITTED id is a skipped no-op instead of a silent
    duplication.

    ``sigs``: optionally the increment's ``store_signatures`` output,
    computed once by a caller that also runs ``incremental_lsh_pairs``
    (the caller owns its caching). Must be built against THIS store —
    signatures under different parameters would poison the band join.

    ``skip_existing`` (default True): docs whose doc_id already has a
    COMMITTED sig row are excluded from the append. The per-append_id
    discipline alone cannot stop a re-delivery under a DIFFERENT id —
    e.g. a crashed increment whose retry recomposes into new batch
    fingerprints — from committing the same docs twice, permanently
    duplicating store rows (``check_lsh_store``'s dup_sig diagnosis).
    The guard is one anti-join, Exchange-free on the store side (sigs
    table bucketed by doc_id). Caveat: if a re-delivered doc_id carries
    CHANGED text, the stored signatures stay as first committed —
    rebuild to refresh. Pass False only when the caller has its own
    doc-id-level dedup guarantee.

    Returns ``{"append_id", "rows", "skipped", "n_existing"}`` —
    ``rows`` counts what was actually appended, ``n_existing`` what the
    guard excluded."""
    storage.check_append_id(append_id)
    spark = new_docs.sparkSession
    ts = tables(store)
    m = read_store_meta(spark, store)
    _require_sig_v(m, store)
    done = storage.committed(spark, ts, append_id)
    if done is not None:
        return {"append_id": append_id, "rows": int(done.rows), "skipped": True}
    attempt = storage.new_attempt(append_id)
    # every consuming action happens inside this function, so the
    # signature cache is scoped here instead of leaking to the caller's
    # release (a daily driver looping appends would otherwise accumulate
    # one materialized cache per day)
    with caching.scope():
        sig = (
            sigs
            if sigs is not None
            else caching.register(_replay_signatures(new_docs, m))
        )
        n_existing = 0
        if skip_existing:
            existing = storage.committed_rows(spark, ts, "sigs").select("doc_id")
            n_before = sig.count()
            sig = caching.register(sig.join(existing, "doc_id", "left_anti"))
            n_existing = n_before - sig.count()
        storage.write_rows(sig, ts, "sigs", m["n_buckets"], "doc_id", attempt)
        storage.write_rows(
            band_keys(sig, m["n_perm"], m["band_rows"]), ts, "bands",
            m["n_buckets"], "bkey", attempt,
        )
        rows = sig.count()
    storage.write_commit(spark, ts, append_id, attempt, rows)
    return {
        "append_id": append_id, "rows": rows, "skipped": False,
        "n_existing": n_existing,
    }


def check_lsh_store(spark: SparkSession, store: str) -> dict:
    """Consistency audit of the COMMITTED view (one aggregate pass per
    table): every doc must have exactly one sigs row and exactly n_bands
    band rows. Returns ``{"docs", "dup_sig_docs", "missing_sig_docs",
    "band_mismatch_docs", "orphan_rows"}``; all but ``docs`` are 0 for a
    healthy store. Diagnosis:

    - ``dup_sig_docs`` (n_sig > 1): the same doc committed in two
      appends (a caller re-sent a doc under a NEW append_id — the
      commit discipline can only dedupe retries of the SAME id);
    - ``missing_sig_docs`` (n_sig == 0 but band rows exist): committed
      bands without a signature — cannot arise from a crash under the
      commit discipline (both appends commit together), so it points at
      manual table surgery;
    - ``band_mismatch_docs`` (n_band != n_sig·n_bands): ditto;
    - ``orphan_rows``: UNcommitted rows across both tables — debris of
      crashed append attempts. Invisible to every reader; a rebuild
      purges them. Nonzero orphans with a clean committed view is the
      expected aftermath of a crash + successful retry."""
    m = read_store_meta(spark, store)
    ts = tables(store)
    n_bands = m["n_perm"] // m["band_rows"]
    sigs = storage.committed_rows(spark, ts, "sigs")
    bands = storage.committed_rows(spark, ts, "bands")
    sig_counts = sigs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sig"))
    band_counts = bands.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_band"))
    joined = sig_counts.join(band_counts, "doc_id", "full_outer").select(
        F.coalesce("n_sig", F.lit(0)).alias("n_sig"),
        F.coalesce("n_band", F.lit(0)).alias("n_band"),
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("n_sig") > 1, 1).otherwise(0)).alias("dup_sig_docs"),
        F.sum(F.when(F.col("n_sig") == 0, 1).otherwise(0)).alias(
            "missing_sig_docs"
        ),
        F.sum(
            F.when(F.col("n_band") != F.col("n_sig") * n_bands, 1).otherwise(0)
        ).alias("band_mismatch_docs"),
    ).first()
    out = {k: int(v) for k, v in row.asDict().items()}
    out["orphan_rows"] = storage.orphan_rows(spark, ts)
    return out


def incremental_lsh_pairs(
    new_docs: DataFrame,
    store: str,
    bucket_max: int | None = 10_000,
    cap_metrics: Observation | None = None,
    min_est: float | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs touching at least one NEW document, by
    ``dedup.band_pairs`` twice: new-new (self-join of the increment's
    band keys — increment-sized) and new-old (increment band keys
    joined against the store's bands table — Exchange-free on the store
    side, the bands table is bucketed by bkey). Output
    ``(id1, id2, est_jaccard)`` with id1 < id2.

    Store rows whose doc_id appears in the increment are excluded from
    the old side (broadcast anti-join on the increment's ids), so the
    operator is correct whether it runs before or after
    ``append_lsh_store`` for the same increment.

    ``bucket_max`` caps a band bucket's COMBINED membership (store + the
    increment itself, ``dedup.combined_counts``) before either join,
    and the capped bucket is dropped from BOTH sides — the same
    total-membership semantics as ``lsh_candidate_pairs`` over old∪new,
    so the two operators agree under equal caps, and a boilerplate
    cluster arriving INSIDE one increment (a crawler re-fetching a
    template 10^5 times in a day) cannot make the new-new self-join
    quadratic either. Capped drops are observable via ``cap_metrics``
    (``dedup.cap_metrics_get``).

    Scale shape: per increment, two columnar scans of the bands table
    (the counts aggregate and the join probe — two plan branches, both
    Exchange-free) and one of the sigs table (the new-old verify joins
    it on its bucket key); every shuffle moves increment-sized or
    pair-sized data. The increment is assumed broadcastable (its id set
    and band keys ride broadcast hints — roughly ≤10^8 docs); for a
    corpus-scale backfill, chunk the increment into broadcastable
    slices or rebuild the store.

    ``min_est``: the same thresholded-prune contract as
    ``lsh_candidate_pairs(min_est=...)``. Capped buckets hide
    collisions here too; the bound adds the NEW doc's capped-bucket
    count (a hidden match always needs the new side's dropped row — for
    new-new pairs the min of the two new docs'). Computing it reuses
    the combined counts (one more thin Exchange-free store-counts scan,
    only when ``min_est`` AND ``bucket_max`` are both set).

    ``sigs``: optionally the increment's ``store_signatures`` output —
    compute once, cache, and share with ``append_lsh_store`` (the
    caller owns its caching; it must be built against THIS store).

    Differential-tested ≡ the full operator's output restricted to
    new-touching pairs, with and without ``min_est``."""
    spark = new_docs.sparkSession
    m = read_store_meta(spark, store)
    _require_sig_v(m, store)
    _require_cap(bucket_max, cap_metrics)
    n_perm, band_rows = m["n_perm"], m["band_rows"]
    sig_new = (
        sigs
        if sigs is not None
        else caching.register(_replay_signatures(new_docs, m))
    )
    bands_new = band_keys(sig_new, n_perm, band_rows)
    ts = tables(store)
    store_bands = storage.committed_rows(spark, ts, "bands").join(
        F.broadcast(sig_new.select("doc_id")), "doc_id", "left_anti"
    )
    capped = None
    if bucket_max is not None:
        totals = combined_counts(bands_new, store_bands, ["bkey"])
        if min_est is not None:
            capped = capped_band_rows(bands_new, totals, bucket_max)
        # capping the INCREMENT side alone caps both joins: every pair
        # needs a new-side band row in the kept set, so no store-side
        # filter (a second consumer would also duplicate the observe
        # node and lose the metrics)
        bands_new = cap_hot_buckets(
            bands_new, ["bkey"], bucket_max, cap_metrics,
            counts=totals, broadcast_small=True,
        )
    old_sigs = storage.committed_rows(spark, ts, "sigs")
    new_new = band_pairs(
        bands_new, bands_new, sig_new, sig_new, n_perm, band_rows, min_est,
        capped, self_join=True,
    )
    new_old = band_pairs(
        bands_new, store_bands, sig_new, old_sigs, n_perm, band_rows, min_est,
        capped, self_join=False,
    )
    return new_new.unionByName(new_old)

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

``incremental_lsh_pairs(new_docs, ...)`` emits every candidate pair
touching at least one new document (new-new and new-old), with the same
``est_jaccard`` definition as ``lsh_candidate_pairs`` — the two agree
exactly on shared pairs (differential-tested). Run it BEFORE or AFTER
appending the increment: store rows whose doc_id appears in ``new_docs``
are excluded from the "old" side either way.

Signatures use ``dedup.minhash_signatures`` (this module calls it) with
the build's ``hash_kind`` — ``"md5"`` (engine-portable default) or
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
    cap_hot_buckets,
    check_band_divisibility,
    est_jaccard_col,
    min_band_matches,
    minhash_signatures,
)


def tables(store: str) -> storage.TableStore:
    """The store's tables: ``{store}_sigs``, ``{store}_bands``, its
    commit log and meta row (see module docstring)."""
    return storage.TableStore(store, f"LSH store {store!r}", "build_lsh_store")


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


def _band_keys(sig: DataFrame, n_perm: int, band_rows: int) -> DataFrame:
    """(doc_id, bkey) rows, one per band: bkey = "<band_id>:<md5 of the
    band's minhash values>" — the single-column form of
    ``lsh_candidate_pairs``' (band_id, bh) join key, so one bucketed
    column carries the whole equi-join."""
    n_bands = n_perm // band_rows
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh_{b * band_rows + r}")
                                    for r in range(band_rows)
                                ],
                            )
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bkey"),
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
        _band_keys(stored, n_perm, band_rows), ts, "bands", n_buckets, "bkey",
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
    (never re-derived) — exactly the frame ``append_lsh_store`` and
    ``incremental_lsh_pairs`` each build internally. Compute it ONCE
    (and cache it) when calling both for the same increment and pass it
    via their ``sigs=`` parameter: the signature pass is the increment's
    dominant compute at corpus scale, and the default paths pay it
    twice."""
    spark = docs.sparkSession
    m = read_store_meta(spark, store)
    _require_sig_v(m, store)
    return minhash_signatures(
        docs, m["n_perm"], m["k"], _meta_max_chars(m), _meta_hash_kind(m)
    )


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
            else caching.register(
                minhash_signatures(
                    new_docs, m["n_perm"], m["k"], _meta_max_chars(m),
                    _meta_hash_kind(m),
                )
            )
        )
        n_existing = 0
        if skip_existing:
            existing = storage.committed_rows(spark, ts, "sigs").select("doc_id")
            n_before = sig.count()
            sig = caching.register(sig.join(existing, "doc_id", "left_anti"))
            n_existing = n_before - sig.count()
        storage.write_rows(sig, ts, "sigs", m["n_buckets"], "doc_id", attempt)
        storage.write_rows(
            _band_keys(sig, m["n_perm"], m["band_rows"]), ts, "bands",
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
    out["orphan_rows"] = storage.orphan_rows(spark, ts, ("sigs", "bands"))
    return out


def incremental_lsh_pairs(
    new_docs: DataFrame,
    store: str,
    bucket_max: int | None = 10_000,
    cap_metrics: Observation | None = None,
    min_est: float | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs touching at least one NEW document:
    new-new (self-join of the increment's band keys — increment-sized)
    and new-old (increment band keys joined against the store's bands
    table — Exchange-free on the store side, the bands table is bucketed
    by bkey). Output ``(id1, id2, est_jaccard)`` with id1 < id2, the
    same estimate definition as ``lsh_candidate_pairs``
    (``dedup.est_jaccard_col`` — one shared construction).

    Store rows whose doc_id appears in the increment are excluded from
    the old side (broadcast anti-join on the increment's ids), so the
    operator is correct whether it runs before or after
    ``append_lsh_store`` for the same increment.

    ``bucket_max`` caps a band bucket's COMBINED membership (store + the
    increment itself) before either join, and the capped bucket is
    dropped from BOTH sides — the same total-membership semantics as
    ``lsh_candidate_pairs`` over old∪new, so the two operators agree
    under equal caps, and a boilerplate cluster arriving INSIDE one
    increment (a crawler re-fetching a template 10^5 times in a day)
    cannot make the new-new self-join quadratic either. The store-side
    counts aggregate is Exchange-free on the bucketed table; the
    combined totals are increment-sized (every relevant bucket is one
    the increment touches). Capped drops are observable via
    ``cap_metrics`` (``dedup.cap_metrics_get``).

    Scale shape: per increment, two columnar scans of the bands table
    (the counts aggregate and the join probe — two plan branches, both
    Exchange-free) and one of the sigs table; every shuffle moves
    increment-sized or pair-sized data. The increment is assumed
    broadcastable (its id set and band keys ride broadcast hints —
    roughly ≤10^8 docs); for a corpus-scale backfill, chunk the
    increment into broadcastable slices or rebuild the store.

    ``min_est``: the same thresholded-prune contract as
    ``lsh_candidate_pairs(min_est=...)`` — only pairs with
    ``est_jaccard >= min_est`` return, and the band-match pigeonhole
    prune runs inside the pair-dedup aggregates so a near-dup FAMILY's
    single-band collisions never reach the signature verify. Capped
    buckets hide collisions here too; the bound adds the NEW doc's
    capped-bucket count (a hidden match always needs the new side's
    dropped row — for new-new pairs the min of the two new docs').
    Computing the capped-bucket set reuses the combined-totals branch
    (one more thin Exchange-free store-counts scan, only when
    ``min_est`` AND ``bucket_max`` are both set).

    ``sigs``: optionally the increment's ``store_signatures`` output —
    compute once, cache, and share with ``append_lsh_store`` (the
    caller owns its caching; it must be built against THIS store).

    Differential-tested
    ≡ the full operator's min_est output restricted to new-touching
    pairs."""
    spark = new_docs.sparkSession
    m = read_store_meta(spark, store)
    _require_sig_v(m, store)
    _require_cap(bucket_max, cap_metrics)
    n_perm = m["n_perm"]
    # signature columns ride along with the band keys (the increment is
    # small): new-new pairs then carry BOTH signatures out of the join,
    # and new-old pairs need only one store-sigs join for the old side.
    # A caller that also appends this increment passes sigs= (its own
    # cached store_signatures frame) so the signature pass runs once.
    sig_new = (
        sigs
        if sigs is not None
        else caching.register(
            minhash_signatures(
                new_docs, n_perm, m["k"], _meta_max_chars(m),
                _meta_hash_kind(m),
            )
        )
    )
    bands_new = _band_keys(sig_new, n_perm, m["band_rows"]).join(sig_new, "doc_id")

    new_ids = sig_new.select("doc_id")
    store_bands = storage.committed_rows(spark, tables(store), "bands").join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    )
    carry_capped = min_est is not None and bucket_max is not None
    if bucket_max is not None:
        # combined bucket heat: store members (Exchange-free agg over the
        # bucketed table) + increment members, summed per touched bucket.
        # Only buckets the increment touches can produce pairs, so the
        # totals frame is increment-sized and rides broadcast semi-joins
        # onto both inputs.
        counts_new = bands_new.groupBy("bkey").agg(
            F.count(F.lit(1)).alias("bn_new")
        )
        counts_store = store_bands.groupBy("bkey").agg(
            F.count(F.lit(1)).alias("bn_store")
        )
        totals = counts_new.join(counts_store, "bkey", "left").select(
            "bkey",
            (F.col("bn_new") + F.coalesce("bn_store", F.lit(0))).alias("bn"),
        )
        if carry_capped:
            # the prune's cap correction (see docstring): per new doc,
            # how many of its band rows sit in capped buckets — hidden
            # matches need the new side's dropped row, so this bounds
            # them (same construction as lsh_candidate_pairs')
            hot = totals.filter(F.col("bn") > bucket_max).select("bkey")
            capped_docs = (
                bands_new.join(F.broadcast(hot), "bkey", "left_semi")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_capped"))
            )
        # capping the INCREMENT side alone caps both joins: every pair
        # needs a new-side band row in the kept set, so no store-side
        # filter (a second consumer would also duplicate the observe
        # node and lose the metrics)
        bands_new = cap_hot_buckets(
            bands_new, ["bkey"], bucket_max, cap_metrics,
            counts=totals, broadcast_small=True,
        )
        if carry_capped:
            bands_new = bands_new.join(
                F.broadcast(capped_docs), "doc_id", "left"
            ).withColumn("n_capped", F.coalesce("n_capped", F.lit(0)))
    elif min_est is not None:
        bands_new = bands_new.withColumn("n_capped", F.lit(0))

    xs = [F.col(f"mh_{i}").alias(f"x_{i}") for i in range(n_perm)]
    ys = [F.col(f"mh_{i}").alias(f"y_{i}") for i in range(n_perm)]
    est = est_jaccard_col(n_perm)
    m_min = (
        min_band_matches(n_perm, m["band_rows"], min_est)
        if min_est is not None
        else None
    )
    nc = [F.col("n_capped")] if min_est is not None else []

    a = bands_new.select("doc_id", "bkey", *xs, *nc).alias("a")
    b = bands_new.select("doc_id", "bkey", *ys, *nc).alias("b")
    nn_cols = [
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
        *[F.col(f"a.x_{i}") for i in range(n_perm)],
        *[F.col(f"b.y_{i}") for i in range(n_perm)],
    ]
    if min_est is not None:
        nn_cols += [
            F.col("a.n_capped").alias("_nc1"), F.col("b.n_capped").alias("_nc2")
        ]
    new_new = a.join(
        b,
        (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(*nn_cols)
    if min_est is None:
        new_new = new_new.dropDuplicates(["id1", "id2"]).select("id1", "id2", est)
    else:
        sig_cols = [f"x_{i}" for i in range(n_perm)] + [f"y_{i}" for i in range(n_perm)]
        new_new = (
            new_new.groupBy("id1", "id2")
            .agg(
                F.count(F.lit(1)).alias("_m"),
                *[F.first(c).alias(c) for c in sig_cols + ["_nc1", "_nc2"]],
            )
            .filter(F.col("_m") + F.least("_nc1", "_nc2") >= m_min)
            .select("id1", "id2", est)
        )

    old_sigs = storage.committed_rows(spark, tables(store), "sigs").select(
        "doc_id", *ys
    )
    no_pre = bands_new.select(F.col("doc_id").alias("new_id"), "bkey", *xs, *nc).join(
        store_bands.select(F.col("doc_id").alias("old_id"), "bkey"), "bkey"
    )
    if min_est is None:
        no_dedup = no_pre.dropDuplicates(["new_id", "old_id"])
    else:
        x_cols = [f"x_{i}" for i in range(n_perm)]
        no_dedup = (
            no_pre.groupBy("new_id", "old_id")
            .agg(
                F.count(F.lit(1)).alias("_m"),
                *[F.first(c).alias(c) for c in x_cols + ["n_capped"]],
            )
            .filter(F.col("_m") + F.col("n_capped") >= m_min)
        )
    new_old = (
        no_dedup
        # one store join for the old signature, on the sigs table's own
        # bucket key — Exchange-free on the store side
        .join(old_sigs.withColumnRenamed("doc_id", "old_id"), "old_id")
        .select(
            F.least("new_id", "old_id").alias("id1"),
            F.greatest("new_id", "old_id").alias("id2"),
            est,
        )
    )
    out = new_new.unionByName(new_old)
    if min_est is not None:
        out = out.filter(F.col("est_jaccard") >= min_est)
    return out

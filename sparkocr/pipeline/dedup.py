"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB: everything except SimHash is pure JVM expressions —
shingling via ``transform(sequence(...))`` + ``explode`` (no Python), the
pair join is a shuffle on the shingle/band key (never a cross join), and
MinHash signatures use lexicographic-min over md5 hex strings so the exact
same computation is expressible in ANSI SQL for the DuckDB oracle (engine
hash builtins differ across systems; md5 doesn't). SimHash packs 64 bits
with numpy inside an Arrow batch.

At scale: exact dedup is a single hash-aggregate; LSH turns the quadratic
near-dup problem into groupBy(band)+equi-join, which AQE skew-splits if one
band is hot; shingle explosion multiplies rows ~n_chars/stride so we shingle
*after* column pruning (doc_id + text only).

MinHash-LSH candidate pairs have one algebra, shared by the full operator
(``lsh_candidate_pairs``) and the incremental one over a persisted store
(``lsh_store.incremental_lsh_pairs``): ``band_keys`` turns signatures into
(doc_id, bkey) band rows; ``cap_hot_buckets`` drops buckets over
``bucket_max`` (counted over the corpus, or for an increment over old∪new
by ``combined_counts``); ``band_pairs`` joins band rows on bkey, counts
each pair's matching bands, prunes pairs that cannot reach ``min_est``
(``min_band_matches``, corrected by ``capped_band_rows`` for the matches a
cap hid), and verifies the rest against both signatures
(``est_jaccard_col``). The full operator runs ``band_pairs`` once as a
self-join; the increment runs it twice, new-new and new-old.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from sparkocr.pipeline import caching

SHINGLE = 8  # character shingle width
N_PERM = 12  # minhash permutations
BAND_ROWS = 3  # rows per LSH band → 4 bands


def _dedup_key():
    """Canonical exact-dup key: md5(text), with null-text rows keyed by
    their own doc_id — md5(NULL) is NULL and grouping on it would collapse
    every null-text doc into one bogus 'duplicate' group (dedup_corpus
    would then silently drop all but one of them)."""
    return F.coalesce(
        F.md5("text"), F.concat(F.lit("null:"), F.col("doc_id").cast("string"))
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): keep min doc_id as canonical."""
    return (
        docs.select("doc_id", _dedup_key().alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def dedup_corpus(docs: DataFrame) -> DataFrame:
    """The materialization step after exact_dedup: keep one canonical row
    (min doc_id) per distinct text, preserving all original columns — the
    output corpus a training pipeline actually feeds downstream. One
    shuffle (the groupBy) + a semi-join back on the canonical key (the key
    definition lives once, in exact_dedup)."""
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


def hash_split(
    docs: DataFrame,
    key: str = "doc_id",
    buckets: tuple[int, int] = (90, 95),
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment: bucket =
    first two hex chars of md5(key) as an int in [0, 256); rows below
    ``buckets[0]``% of 256 are train, then val, then test. Stable across
    runs, cluster sizes, and engines (md5 is bit-identical everywhere —
    unlike xxhash64/rand(seed), which differ per engine), so the split
    never churns when data is re-partitioned or appended."""
    b = (F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 2), 16, 10)).cast("int")
    lo = int(256 * buckets[0] / 100)
    hi = int(256 * buckets[1] / 100)
    split = (
        F.when(b < lo, "train").when(b < hi, "val").otherwise("test")
    )
    return docs.withColumn("bucket_256", b).withColumn("split", split)


def _shingle_rows(docs: DataFrame, k: int, max_chars: int | None = None) -> DataFrame:
    """(doc_id, sh) rows: exploded character k-shingles (multiset — no
    dedup), LINEAR in document length.

    The obvious formulation — ``transform(sequence(1, n-k+1),
    i -> substr(text, i, k))`` — is O(n²): Spark's UTF8String is
    variable-width, so ``substr(text, i, k)`` SCANS i chars to find the
    byte offset, and a pathological 24 MB document (one task — generate
    never splits a row) runs for hours (observed: the bench skew
    conversation pinned one core in ``UTF8String.substring``). Instead
    ``split(text, '')`` decodes the char array ONCE per row (a separate
    projection, so it cannot be inlined into the lambda and re-evaluated
    per element) and each window is ``slice`` (O(k) random access) +
    ``array_join`` — O(n·k) total, same output byte-for-byte (multibyte
    verified).

    ``max_chars`` bounds the shingled prefix (docs longer than the cap
    are signatured/compared on their first ``max_chars`` chars) — the
    per-doc work AND memory bound that makes one pathological document
    unable to stall its task at corpus scale.

    Docs shorter than k chars yield NO shingles: guard with an explicit
    empty array, because ``sequence(1, 0)`` in Spark is the DESCENDING
    sequence [1, 0], not empty — unguarded it fabricates a whole-text
    shingle for every short/empty doc and the empty-text ones would all
    pair with each other at jaccard 1."""
    txt = F.col("text") if max_chars is None else F.substring("text", 1, max_chars)
    pre = docs.select("doc_id", F.split(txt, "").alias("cs"), F.length(txt).alias("nc"))
    return pre.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN nc < {k} THEN array()"
                f" ELSE transform(sequence(1, nc - {k - 1}),"
                f" i -> array_join(slice(cs, i, {k}), '')) END"
            )
        ).alias("sh"),
    )


def shingles(docs: DataFrame, k: int = SHINGLE) -> DataFrame:
    """Distinct character k-shingles per doc — JVM-only explode + distinct
    (set semantics; Jaccard's |A∩B| / |A∪B| needs each shingle once)."""
    return _shingle_rows(docs, k).distinct()


DF_MAX = 1000  # default document-frequency cap on candidate-join shingles


def _require_cap(cap, cap_metrics) -> None:
    """Passing cap_metrics with the cap disabled is a silent no-op whose
    later read dies deep in Observation internals — reject it up front."""
    if cap_metrics is not None and cap is None:
        raise ValueError(
            "cap_metrics passed but the cap is disabled (None): no "
            "CollectMetrics node is ever attached, so reading the "
            "Observation would fail — drop cap_metrics or set a cap"
        )


def _observe_cap(
    counts: DataFrame, n_col: str, cap: int, obs: Observation | None
) -> DataFrame:
    """Attach cap-drop metrics to a bucket/df-counts node.

    The caps in this module silently drop hot buckets from the candidate
    join; without a counter the resulting under-count is invisible at
    scale. When ``obs`` (a fresh ``pyspark.sql.Observation`` — one per
    call, Spark forbids reuse) is passed, the SAME action that consumes
    the operator's output also materializes, at zero extra cost:

    - ``capped_buckets``: how many buckets/shingles exceeded the cap
    - ``capped_rows``: total membership of those buckets (the d in the
      avoided d² join blow-up — the magnitude of what was dropped)
    """
    if obs is None:
        return counts
    over = F.col(n_col) > F.lit(cap)
    return counts.observe(
        obs,
        F.coalesce(F.sum(F.when(over, 1)), F.lit(0)).alias("capped_buckets"),
        F.coalesce(F.sum(F.when(over, F.col(n_col))), F.lit(0)).alias("capped_rows"),
    )


def cap_metrics_get(obs: Observation) -> dict | None:
    """Read a ``cap_metrics`` Observation safely.

    When AQE empty-relation propagation collapses the operator's output
    (e.g. every candidate was capped away), the CollectMetrics node is
    pruned from the re-optimized plan and Spark publishes an EMPTY
    schema-less row — ``Observation.get`` then dies in ``toPyRow`` with a
    bare ``AssertionError`` (observed on PySpark 4.1). Returns ``None``
    for that "metrics unavailable" case instead; callers needing exact
    drop counts for an empty-output run should recompute the bucket
    histogram explicitly. Blocks until the observed query's first action,
    exactly like ``Observation.get``."""
    if obs._jo is None:
        raise ValueError(
            "Observation was never attached to a plan: pass it as "
            "cap_metrics to an operator WITH the cap enabled, and run an "
            "action, before reading it"
        )
    jrow = obs._jo.getRow()  # same wait semantics as Observation.get
    if jrow.size() == 0:
        return None
    return obs.get


def cap_hot_buckets(
    df: DataFrame,
    keys: list[str],
    cap: int,
    obs: Observation | None,
    counts: DataFrame | None = None,
    broadcast_small: bool = False,
) -> DataFrame:
    """THE hot-bucket cap: keep only ``df`` rows whose bucket (``keys``)
    has ≤ ``cap`` members, with drops observable through ``obs``
    (``_observe_cap``). ``counts`` defaults to df's own per-key counts
    (column ``bn``); incremental operators pass a COMBINED counts frame
    (store + increment membership) instead. ``broadcast_small`` hints
    the kept-keys side when it is increment-sized. One definition — the
    five cap sites (LSH bands, simhash chunks, embedding buckets full +
    indexed, incremental band store) previously each carried a copy,
    and the copies had already begun to drift."""
    if counts is None:
        counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("bn"))
    counts = _observe_cap(counts, "bn", cap, obs)
    small = counts.filter(F.col("bn") <= cap).select(*keys)
    if broadcast_small:
        small = F.broadcast(small)
    return df.join(small, keys, "left_semi")


def drop_flagged(docs: DataFrame, flagged: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Remove flagged docs from a corpus with a NULL-SAFE anti-join —
    THE fail-closed convention the hygiene operators share
    (``decontam.decontaminate``, ``redact.domain_filter``): a plain
    equi-anti-join never matches a null key, so a flagged doc whose id
    was lost would sail into the "clean" output. Null-id docs cannot be
    told apart, so if ANY is flagged ALL are removed (over-removing
    unidentifiable rows beats silently shipping the thing the filter
    exists to remove); when none is flagged they all survive."""
    return docs.join(
        flagged.select(F.col(id_col).alias("_flagged_id")),
        F.col(id_col).eqNullSafe(F.col("_flagged_id")),
        "left_anti",
    )


def jaccard_pairs(
    docs: DataFrame, k: int = SHINGLE, threshold: float = 0.5,
    df_max: int | None = DF_MAX,
    cap_metrics: Observation | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing ≥1
    candidate shingle. Join key = shingle (shuffle), no cross join.

    ``df_max`` caps the document frequency of shingles admitted to the
    candidate join: a shingle present in d documents emits d² join rows, so
    one stopword-frequency shingle ("the and..." 8-grams on real text)
    makes the join quadratic in corpus size. Shingles with df > df_max are
    dropped from BOTH the join and the intersection count (standard
    DF-capping — ubiquitous shingles carry no discriminative signal), while
    the union denominator keeps every shingle, so reported similarity is a
    conservative lower bound and a pair sharing only hot shingles is not a
    candidate. ``df_max=None`` restores exact Jaccard (quadratic risk).
    Round-2 behavior change: the default WAS exact — callers needing the
    old semantics must now pass ``df_max=None`` explicitly.

    ``cap_metrics``: optional fresh ``Observation``; after the consuming
    action, ``.get`` reports capped_buckets / capped_rows (how many
    shingles the df cap dropped and their total membership)."""
    _require_cap(df_max, cap_metrics)
    sh = caching.register(shingles(docs, k))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if df_max is not None:
        counts = _observe_cap(
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")),
            "df", df_max, cap_metrics,
        )
        keep = counts.filter(F.col("df") <= df_max).select("sh")
        cand_sh = sh.join(keep, "sh", "left_semi")
    else:
        cand_sh = sh
    a = cand_sh.alias("a")
    b = cand_sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # no broadcast hint: sizes is one row PER DOCUMENT — unbounded at scale
    # — so the join strategy is left to AQE (broadcast when small, shuffle
    # when not)
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
        .select(
            "id1",
            "id2",
            F.round(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def check_band_divisibility(n_perm: int, band_rows: int) -> None:
    """Reject a band layout that would silently drop permutations."""
    if n_perm % band_rows != 0:
        raise ValueError(
            f"n_perm={n_perm} not divisible by band_rows={band_rows}: the "
            "remainder permutations would be paid for but silently dropped "
            "from banding, changing the S-curve from the requested one"
        )


def est_jaccard_col(n_perm: int):
    """The LSH estimate column: fraction of agreeing minhashes over
    x_i / y_i signature-column pairs, rounded to 6 places."""
    agree = sum(
        F.when(F.col(f"x_{i}") == F.col(f"y_{i}"), 1).otherwise(0)
        for i in range(n_perm)
    )
    return F.round(agree / F.lit(float(n_perm)), 6).alias("est_jaccard")


def min_band_matches(n_perm: int, band_rows: int, min_est: float) -> int:
    """Pigeonhole prune bound for thresholded LSH: the smallest number of
    MATCHING bands a candidate pair can have and still reach
    ``est_jaccard >= min_est``.

    A band hash matches iff all ``band_rows`` of its minhash rows agree,
    so a NON-matching band contributes at most ``band_rows - 1``
    agreements. With ``m`` matching bands of ``n_bands`` total, the
    agreement count is at most ``m*band_rows + (n_bands-m)*(band_rows-1)
    = n_bands*(band_rows-1) + m``. A pair needs
    ``agree >= ceil(n_perm * min_est)`` to pass the (6-dp-rounded)
    estimate filter, hence ``m >= need - n_bands*(band_rows-1)``.

    The bound is SAFE, never tight-fisted: the 5e-7 slack matches the
    estimate's round-to-6-places (a pair whose true ratio sits a hair
    under the threshold but rounds onto it is kept and left to the exact
    filter), and the returned value is clamped to >= 1 (a candidate by
    definition matched at least one band). For the default S-curve
    (12 perms, 4 bands of 3) at threshold 0.8 this gives m >= 2: pairs
    colliding in a single band — the bulk of what big near-dup families
    emit — are provably below 0.8 (max agree 3 + 3*2 = 9 of 12) and
    never reach the signature verify join."""
    import math

    if not 0.0 < min_est <= 1.0:
        raise ValueError(f"min_est must be in (0, 1], got {min_est}")
    n_bands = n_perm // band_rows
    need = math.ceil(n_perm * (min_est - 5e-7))
    return max(1, need - n_bands * (band_rows - 1))


MH_PRIME = 2147483647  # 2^31-1 Mersenne prime: the affine minhash modulus
MH_SIG_V = 2  # bump whenever signature VALUES change for unchanged input
MH_MAX_CHARS = 1_048_576  # default signatured prefix (see minhash_signatures)


def mh_affine_params(n_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) constants for the affine minhash family
    h_i(x) = (a_i·x + b_i) mod MH_PRIME — fixed formulas, no RNG, so any
    engine (or a SQL oracle) regenerates the identical family from
    ``n_perm`` alone. a_i is never 0 for any reachable i (2654435761·odd
    is never ≡ 0 mod the prime for odd < MH_PRIME)."""
    return [
        (
            (2654435761 * (2 * i + 1)) % MH_PRIME,
            (40503 * (i + 1)) % MH_PRIME,
        )
        for i in range(n_perm)
    ]


def minhash_signatures(
    docs: DataFrame,
    n_perm: int = N_PERM,
    k: int = SHINGLE,
    max_chars: int | None = MH_MAX_CHARS,
    hash_kind: str = "md5",
) -> DataFrame:
    """MinHash: ONE md5 per shingle, projected to a 60-bit integer, then
    ``n_perm`` affine transforms mod 2^31-1 (``mh_affine_params``) whose
    per-doc minima are the signature. One shuffle (groupBy doc_id),
    n_perm aggregate exprs, all JVM-side.

    ``max_chars`` (default 2^20) bounds the signatured prefix: a document
    longer than the cap is near-dup-compared on its first ``max_chars``
    characters. This is the per-doc work/memory bound — a single
    pathological multi-MB document otherwise owns its task for
    minutes (its shingles never split across tasks), the exact straggler
    that serializes a 1000-executor stage. Two docs differing only past
    1M chars DO collapse to est_jaccard 1 — the conservative direction
    for dedup. ``max_chars=None`` disables the cap (exact semantics);
    stores record the cap in meta so increments always replay it.

    Engine-portable like the previous md5-per-(perm, shingle)
    construction — DuckDB replays it as
    ``(('0x' || substr(md5(sh),1,15))::BIGINT % 2147483647)`` plus the
    same affine literals — but the crypto-hash work no longer scales
    with n_perm: measured on the sf0.1 documents table (local[8]) the
    signature computation went 5.5→3.8 s at n_perm=4 and 12.5→4.3 s at
    the default n_perm=12, and the agg state is longs instead of 32-char
    strings. Arithmetic stays inside signed 64-bit under ANSI mode:
    a·hm < 2^31·2^31 = 2^62. Per-perm collision odds are 2^-31 per
    shingle pair — noise relative to the estimator's own n_perm-width
    variance.

    Deliberately does NOT reuse ``shingles()``: its ``.distinct()`` (set
    semantics, which Jaccard needs) is a second full shuffle of the
    exploded ~n_chars-sized table, and ``min`` is duplicate-insensitive —
    the signature over the shingle multiset equals the signature over the
    set. Skipping it halves the operator's shuffled volume; the map-side
    partial min-aggregation collapses each doc's shingles to n_perm
    values before anything crosses the wire.

    ``hash_kind`` selects the shingle→integer construction: ``"md5"``
    (this function's engine-portable explode+md5, the oracle-replayable
    default) or ``"rolling"`` (``minhash_fast.rolling_minhash_signatures``
    — same affine family and output schema over byte-window rolling
    hashes, measured 23x faster on the bench corpus; see that module).
    The two kinds' signatures never collide with each other — pick one
    per corpus/store and stick to it (LSH store meta records it)."""
    if hash_kind == "rolling":
        from sparkocr.pipeline.minhash_fast import rolling_minhash_signatures

        return rolling_minhash_signatures(docs, n_perm, k, max_chars)
    if hash_kind != "md5":
        raise ValueError(f"unknown minhash hash_kind {hash_kind!r}")
    h60 = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    sh = _shingle_rows(docs, k, max_chars).select(
        "doc_id", (h60 % F.lit(MH_PRIME)).alias("hm")
    )
    aggs = [
        F.min((F.lit(a) * F.col("hm") + F.lit(b)) % F.lit(MH_PRIME)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(mh_affine_params(n_perm))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_keys(sig: DataFrame, n_perm: int, band_rows: int) -> DataFrame:
    """(doc_id, bkey) rows, one per band: bkey = "<band>:<md5 of the
    band's comma-joined minhash values>". THE band join key: one string
    column carries the whole equi-join, so the LSH store's bands table
    can be bucketed on it."""
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


def combined_counts(new: DataFrame, old: DataFrame, keys: list[str]) -> DataFrame:
    """An increment's combined old∪new bucket membership: for every
    bucket (``keys``) the increment ``new`` touches, its row count plus
    ``old``'s, as column ``bn`` — the ``counts`` frame
    ``cap_hot_buckets`` takes. Only touched buckets can produce pairs,
    so the frame is increment-sized; ``old`` aggregates on its own
    (Exchange-free when it is a table bucketed on ``keys``)."""

    def count(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(name))

    return count(new, "bn_new").join(count(old, "bn_old"), keys, "left").select(
        *keys, (F.col("bn_new") + F.coalesce("bn_old", F.lit(0))).alias("bn")
    )


def capped_band_rows(bands: DataFrame, counts: DataFrame, cap: int) -> DataFrame:
    """(doc_id, n_capped): per doc of ``bands``, how many of its band
    rows sit in a bucket whose ``counts`` exceed ``cap``. A capped bucket
    hides its members' collisions from the band-match count, so a doc's
    n_capped bounds the matches the cap can hide from any pair it is in
    — the prune's correction in ``band_pairs``."""
    hot = counts.filter(F.col("bn") > cap).select("bkey")
    return (
        bands.join(F.broadcast(hot), "bkey", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_capped"))
    )


def band_pairs(
    a: DataFrame,
    b: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    n_perm: int,
    band_rows: int,
    min_est: float | None,
    capped: DataFrame | None,
    self_join: bool,
) -> DataFrame:
    """THE LSH candidate-pair algebra: join the (doc_id, bkey) band rows
    ``a`` and ``b`` on the band key, count each pair's matching bands,
    prune, then verify against the signatures (``sig_a`` for ``a``'s
    docs, ``sig_b`` for ``b``'s). Output ``(id1, id2, est_jaccard)``
    with id1 < id2.

    ``self_join``: ``a`` and ``b`` are the same rows and each pair is
    taken once (a.doc_id < b.doc_id); otherwise ``a`` is an increment
    probing disjoint old rows ``b``.

    ``min_est`` None keeps every candidate (one distinct on the pair).
    Set, the pair dedup becomes a count of matching bands ``_m`` (same
    shuffle), pairs that cannot reach ``min_band_matches`` drop before
    the verify join — a near-dup family's single-band collisions never
    reach it — and only ``est_jaccard >= min_est`` returns. ``capped``
    (``capped_band_rows`` of ``a``'s docs) keeps the prune exact under a
    hot-bucket cap: the bound is applied to ``_m`` plus the matches the
    cap may have hidden — the smaller n_capped of the two docs for a
    self-join, and ``a``'s doc's own n_capped otherwise (the cap drops
    buckets from ``a``, so a hidden match always needs that doc's
    dropped row)."""
    cond = F.col("a.bkey") == F.col("b.bkey")
    if self_join:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    cand = a.alias("a").join(b.alias("b"), cond).select(
        F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
    )
    if min_est is None:
        cand = cand.distinct()
    else:
        cand = cand.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("_m"))
        matches = F.col("_m")
        if capped is not None:
            sides = ("id1", "id2") if self_join else ("id1",)
            for c in sides:
                cand = cand.join(
                    capped.select(
                        F.col("doc_id").alias(c), F.col("n_capped").alias(f"_nc_{c}")
                    ),
                    c,
                    "left",
                )
            ncs = [F.coalesce(f"_nc_{c}", F.lit(0)) for c in sides]
            matches = matches + (F.least(*ncs) if self_join else ncs[0])
        m_min = min_band_matches(n_perm, band_rows, min_est)
        cand = cand.filter(matches >= m_min).select("id1", "id2")
    xs = sig_a.select(
        F.col("doc_id").alias("id1"),
        *[F.col(f"mh_{i}").alias(f"x_{i}") for i in range(n_perm)],
    )
    ys = sig_b.select(
        F.col("doc_id").alias("id2"),
        *[F.col(f"mh_{i}").alias(f"y_{i}") for i in range(n_perm)],
    )
    ids = (
        ["id1", "id2"]
        if self_join
        else [F.least("id1", "id2").alias("id1"), F.greatest("id1", "id2").alias("id2")]
    )
    out = cand.join(xs, "id1").join(ys, "id2").select(*ids, est_jaccard_col(n_perm))
    if min_est is not None:
        out = out.filter(F.col("est_jaccard") >= min_est)
    return out


def lsh_candidate_pairs(
    docs: DataFrame, n_perm: int = N_PERM, band_rows: int = BAND_ROWS, k: int = SHINGLE,
    bucket_max: int = 10_000,
    cap_metrics: Observation | None = None,
    max_chars: int | None = MH_MAX_CHARS,
    hash_kind: str = "md5",
    min_est: float | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH over the whole corpus: ``band_pairs`` as a self-join
    of the corpus' band rows → candidate pairs with estimated similarity
    = fraction of agreeing minhashes.

    ``min_est``: when set, only pairs with ``est_jaccard >= min_est``
    are returned, and the band-match-count pigeonhole prune
    (``min_band_matches``) runs BEFORE the signature verify join:
    the per-pair dedup aggregation counts how many bands each pair
    collided in and drops pairs that provably cannot reach the
    threshold. Result-identical to filtering the default output (the
    prune removes only sub-threshold pairs; the exact estimate filter
    still runs) — what changes is the verify join's input volume: a
    d-member near-dup FAMILY emits O(d^2) single-band collisions
    between its merely-similar cross pairs, and under the default
    S-curve (threshold 0.8 → >= 2 matching bands) those never
    materialize signature rows. Measured on the 20k-doc bench corpus:
    9.44M candidate pairs, of which 8.25M collided in exactly one band
    — the prune admits 1.20M to the verify join (7.9x fewer). At scale
    this is the difference between shuffling the near-dup FAMILY
    quadratic through the signature join and shuffling only the pairs
    that can actually clear the threshold. ``None`` keeps the full
    candidate set (the catalog/oracle contract).

    Interaction with ``bucket_max``: ``band_pairs``' capped-bucket
    correction keeps the prune result-identical under capping too
    (pinned by test_min_est_exact_when_cap_hides_collisions). With
    BOTH ``min_est`` and ``bucket_max`` set the operator goes EAGER: a
    driver-paced probe checks whether any bucket is actually hot and
    builds the correction plan only then — the zero-hot common case
    keeps the zero-overhead prune (see the in-body comment for the
    measured reason).

    ``bucket_max`` caps band-bucket membership before the self-join: a
    cluster of d exact/near-identical docs shares every band hash and
    would emit n_bands·d²/2 join rows (the same hot-key quadratic
    jaccard_pairs' df_max guards against). Members of a capped bucket
    lose that bucket's candidates — run exact_dedup first so boilerplate
    clusters collapse before LSH; ``bucket_max=None`` disables the cap,
    and ``cap_metrics`` (a fresh ``Observation``, read via
    ``cap_metrics_get``) reports how much the cap dropped.

    The signature table feeds three plan branches (bands, left/right of the
    verify join); without a cache the shingle-explode + 12-way min
    aggregation — the expensive part — would run three times. The cache
    entry outlives the returned (lazy) DataFrame: it is registered with
    ``sparkocr.pipeline.caching`` — call ``caching.release_all()`` after
    the consuming action (bench.py does), or executor storage
    accumulates.

    ``sigs``: optionally the docs' precomputed ``minhash_signatures``
    frame (the caller owns its caching) — the seam a caller that ALSO
    builds an LSH store over the same docs uses to pay the signature
    pass once. Must match this call's (n_perm, k, max_chars, hash_kind)
    or the bands/verify algebra silently disagrees with the estimate."""
    _require_cap(bucket_max, cap_metrics)
    check_band_divisibility(n_perm, band_rows)
    sig = (
        sigs
        if sigs is not None
        else caching.register(minhash_signatures(docs, n_perm, k, max_chars, hash_kind))
    )
    bands = band_keys(sig, n_perm, band_rows)
    capped = None
    if min_est is not None and bucket_max is not None:
        # Measure-then-plan (the asof_join/extract_turns discipline, and
        # the reason this operator goes eager here): one cheap probe asks
        # whether ANY bucket is hot — on the common no-hot-bucket corpus
        # the answer costs a sub-second aggregate off the cached
        # signatures and the prune keeps its zero-overhead plan (an
        # unconditional carry was measured SLOWER than not pruning at
        # all: the per-band-row attach re-shuffled the band table); only
        # when a cap will actually fire does the correction join onto
        # the PAIR aggregate (n_capped lookups on the deduped pairs,
        # AQE-sized — capped-doc membership starts at bucket_max rows, so
        # pathological floods fall back to shuffle joins on the rare path).
        counts = bands.groupBy("bkey").agg(F.count(F.lit(1)).alias("bn"))
        any_hot = counts.filter(F.col("bn") > bucket_max).limit(1).count() > 0
        if any_hot:
            capped = capped_band_rows(bands, counts, bucket_max)
        if any_hot or cap_metrics is not None:
            bands = cap_hot_buckets(
                bands, ["bkey"], bucket_max, cap_metrics, counts=counts
            )
        # else: the probe just proved NO bucket exceeds the cap, so the
        # semi-join against the kept-keys set is an identity — skip it
        # (and the re-aggregation of counts inside the main plan) rather
        # than pay a no-op join per band row. Only taken when the caller
        # asked for no cap telemetry: with cap_metrics the Observation
        # must ride the returned plan, which requires the join.
    elif bucket_max is not None:
        bands = cap_hot_buckets(bands, ["bkey"], bucket_max, cap_metrics)
    return band_pairs(
        bands, bands, sig, sig, n_perm, band_rows, min_est, capped,
        self_join=True,
    )


def _finish_on_driver(
    edges: DataFrame, nodes_ids: DataFrame | None, stats: dict | None
) -> DataFrame:
    """Small-graph ending for ``dup_clusters``: union-find over the
    collected undirected edge list, broadcast the labels back.

    Only EDGES are collected (the cached undirected ``u < v`` frame —
    at most ``driver_max_edges/2`` rows); the node
    population stays distributed and picks up a self-label via a
    broadcast ANTI join against the edge-touched set, so the output
    contract (every id labelled, untouched ids label themselves) is
    identical to the distributed loop's. The returned plan references
    the local label frame and ``nodes_ids`` ONLY — never ``edges`` —
    so consuming it after the operator's edge cache is released cannot
    re-run the expensive pair-mining plan. Root convention: the
    component root is the member with the MINIMUM original id — for
    strings both engines compare the same way (Spark's UTF8String
    binary order == Python's code-point order on valid UTF-8), so
    labels match the distributed path exactly."""
    import numpy as np

    from pyspark.sql.types import StructField, StructType

    epdf = edges.toPandas()
    codes, uniques = pd.factorize(
        pd.concat([epdf["u"], epdf["v"]], ignore_index=True), sort=False
    )
    orig = np.asarray(uniques)
    n = len(orig)
    uc = codes[: len(epdf)]
    vc = codes[len(epdf):]
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(uc.tolist(), vc.tolist()):
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if orig[ra] <= orig[rb]:
            parent[rb] = ra
        else:
            parent[ra] = rb
    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    if stats is not None and n:
        sizes = np.bincount(roots)
        sizes = sizes[sizes > 0]
        stats.update(n_components=int(len(sizes)), max_component=int(sizes.max()))

    id_type = edges.schema["u"].dataType
    lbl = edges.sparkSession.createDataFrame(
        pd.DataFrame({"id": orig, "cluster_id": orig[roots]}),
        StructType(
            [StructField("id", id_type), StructField("cluster_id", id_type)]
        ),
    )
    if nodes_ids is None:
        return lbl
    untouched = (
        nodes_ids.distinct()
        .join(F.broadcast(lbl.select("id")), "id", "left_anti")
        .select("id", F.col("id").alias("cluster_id"))
    )
    return lbl.unionByName(untouched)


#: Symmetrized-edge count at or below which ``dup_clusters`` finishes the
#: transitive closure on the driver (union-find over a collected edge
#: list) instead of running the distributed propagation loop. Set from a
#: measured crossover, not caution: on the 80k-doc 4x bench graph
#: (10.99M symmetrized / 5.5M collected edges, ~88 MB of int64 arrays)
#: the driver union-find finishes in 7-10 s while the distributed loop
#: needs 12 driver-paced rounds ≈ 34 s — the loop's per-round cost is
#: what the scaling protocol's Amdahl fit identified as the corpus
#: job's serialized slice, so the finisher stays the better plan until
#: the BYTE budget (below) refuses. 2^24 symmetrized = up to 8.4M
#: collected int rows; in practice DRIVER_MAX_BYTES binds first.
DRIVER_MAX_EDGES = 1 << 24

#: Estimated COLLECTED-edge footprint (one undirected row per edge pair
#: — half the symmetrized count) above which the driver finisher is
#: refused even under the edge-count cap — bounds the driver pandas
#: frame; the broadcast label frame is bounded by twice this (worst
#: case every edge touches two fresh nodes; real near-dup graphs are
#: clique-ish and come out far smaller).
DRIVER_MAX_BYTES = 128 << 20


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    stats: dict | None = None,
    driver_max_edges: int = DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components over candidate pairs → ``(id, cluster_id)``
    with ``cluster_id`` = the smallest doc id reachable through the pair
    graph (the canonical representative — the same min-id convention
    ``exact_dedup`` uses for ``keep_id``).

    This is the stage after pair generation that an end-to-end dedup
    pipeline actually needs: ``jaccard_pairs``/``lsh_candidate_pairs``/
    ``simhash_near_dups`` emit *edges*, but "keep one doc per near-dup
    group" requires the transitive closure — A~B and B~C must land A, B,
    C in ONE cluster even though (A, C) was never a candidate pair.

    Two execution modes, dispatched on the MEASURED symmetrized edge
    count (the same measure-then-plan shape as ``extract_turns``' skew
    dispatch):

    * **driver finisher** (``n_edges <= driver_max_edges``, default
      2^24, byte-budgeted): collect the undirected edge list (int64/str
      arrays, at most DRIVER_MAX_BYTES), run union-find with the min-id root
      convention on the driver, and broadcast the resulting
      (edge-touched-id → cluster) map back over the distributed node
      set. The full node population NEVER leaves the cluster — only
      edges do — so a 10^12-doc corpus whose pair graph mined small
      still works. This exists because the iterative loop's cost is
      per-round FIXED (driver scheduling + 3 shuffles), so on a small
      graph it anti-scales: the 20k-doc / 64k-edge bench graph took 25
      rounds ≈ 30 s regardless of core count; the finisher does it in
      well under a second and scales as the singleton labelling does.
      This driver hand-off below a measured threshold is also the
      standard production ending for distributed CC (iterate until the
      contracted graph fits, then finish locally).
    * **distributed loop** (above the cap, or ``driver_max_edges=0`` to
      force): iterative min-label propagation with pointer jumping, as
      below.

    Distributed algorithm: iterative min-label propagation with pointer jumping
    (label(v) ← min over neighbours' labels, then label(v) ←
    label(label(v))), the standard distributed-CC shape (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"). Pointer jumping
    makes rounds ~O(log diameter) — measured: a 10^6-node CHAIN of
    sequential ids (the worst-case topology; real near-dup graphs are
    near-cliques that converge in 2-3 rounds) converges in 21 rounds /
    ~66 s on local[8]. Random 64-bit ids (the xxhash64 doc keys the
    corpus pipeline feeds in) pay roughly a 2x round constant over
    sequential ids — label waves first drain to each LOCAL minimum,
    then the segment minima merge — e.g. a 20k-doc template-chained
    near-dup graph took 25 rounds, which is why the default max_iter
    is 50, not the ~log2 a sequential-id chain suggests. Every round
    is three key shuffles over the
    (id, label) table (16 bytes/node — tiny next to the corpus), never a
    join on the raw docs. Hot-component skew is survivable by
    construction: the message aggregation is a groupBy min (map-side
    partial aggregation collapses a high-degree node's messages before
    the shuffle), and the pointer-jump lookup — where a giant cluster
    converges onto ONE label value — is a plain equi-JOIN, which AQE
    skew-splitting handles (unlike window partitions). Each generation is ``localCheckpoint``-ed
    eagerly: the convergence loop is driver-paced (one count action per
    round — this is an iterative algorithm, not a single lazy plan), and
    without checkpointing the plan would double every round until the
    optimizer chokes. Superseded generations are dropped by reference
    (Spark's ContextCleaner frees their blocks); the RETURNED frame is
    the final checkpointed generation — consume or copy it before
    stopping the session.

    Each generation is also ``persist()``-ed for the one job that
    checkpoints it, then unpersisted. This is NOT about reuse — it
    resets the checkpoint's *statistics*. ``localCheckpoint`` seeds the
    new LogicalRDD with the origin plan's estimated stats, and a
    round's estimate multiplies the previous generation's sizeInBytes
    in TWICE (message join × pointer-jump join), so the estimate
    SQUARES every round: by round ~20 the driver spends minutes per
    round in BigInteger multiplication inside Catalyst's stats visitor
    (observed as a pinned driver core with idle executors). With the
    generation cached, the eager checkpoint's job materializes the
    cache first, so the stats rewrite reads the InMemoryRelation's
    ACTUAL byte size — honest, small, and constant-time — instead of
    the snowballed product.

    ``nodes``: optional single-column DataFrame of ALL ids (e.g.
    ``docs.select("doc_id")``) so isolated docs appear as singleton
    clusters (cluster_id = own id); without it only ids present in
    ``pairs`` are labelled. Null ids in ``pairs`` are dropped (a null
    endpoint identifies no document; SQL joins would drop it anyway).
    Raises after ``max_iter`` non-converged rounds instead of returning
    silently wrong labels — at the default 50 that needs a component
    diameter far beyond any real near-dup graph (the worst measured
    input, a 20k-doc random-id template chain, used 25).

    ``stats``: optional dict the run fills in place — ``n_edges`` (after
    symmetrization/dedup), ``edge_bytes`` (the estimated collected-edge
    footprint the byte budget checks), ``mode`` (``"driver"`` or
    ``"distributed"``),
    ``rounds`` (distributed propagation rounds executed; 0 for an
    edgeless graph or the driver finisher), and ``n_changed_last``
    (labels changed in the final round; 0 on convergence). The driver
    finisher additionally fills ``n_components`` and ``max_component``
    (component count / largest component over edge-touched nodes) —
    free off the union-find result, and ``max_component`` is the same
    hot-shingle-chaining early warning a rounds-used spike gives the
    distributed loop. Filled even on the max_iter ValueError path
    (inspect after catching)."""
    id_cols = pairs.columns[:2]
    e1 = pairs.select(F.col(id_cols[0]).alias("u"), F.col(id_cols[1]).alias("v"))
    # canonicalize to UNDIRECTED (u < v) before the distinct: the
    # symmetrized frame is exactly twice this one (u != v guarantees
    # every undirected edge has two directed forms), so deduping the
    # half-sized frame and symmetrizing AFTERWARDS — and only for the
    # distributed loop, which is the only consumer that needs both
    # directions — halves the distinct's shuffle, the cache, and the
    # driver collect. least/greatest compare with the same type
    # ordering as the joins, so labels are unchanged.
    und = (
        e1.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )
    nodes_ids = None
    if nodes is not None:
        nodes_ids = nodes.select(F.col(nodes.columns[0]).alias("id")).filter(
            F.col("id").isNotNull()
        )
    # undirected edges feed the driver collect or every loop round (and
    # seed labels): cache them, scoped to the operator run — released in
    # the finally, not by the caller, since unlike the lazy operators the
    # loop's actions happen right here. The count fully materializes the
    # cache up front (the expensive pair plan runs exactly once) and buys
    # the empty-graph early exit: a clean corpus yields zero candidate
    # pairs, and the answer is then just the singleton labelling — no
    # propagation rounds at all.
    und = und.cache()
    try:
        from pyspark.sql.types import StringType

        # the edge-count cap alone under-sizes string ids: 2^24 edges of
        # 64-char doc_ids is hundreds of MB on the driver (and again in
        # every executor's broadcast cache), not the two ~16 MB int64
        # arrays the cap was budgeted for — so string graphs also
        # measure average id width (same single pass as the count) and
        # the driver path additionally requires the estimated collected
        # footprint under DRIVER_MAX_BYTES. All counts/budgets stay in
        # SYMMETRIZED-edge units (n_edges = 2 * undirected count —
        # exact, since u != v) so the caps, the stats contract, and the
        # dispatch thresholds are unchanged from the symmetrized-frame
        # implementation.
        if isinstance(und.schema["u"].dataType, StringType):
            row = und.agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(F.length("u") + F.length("v")).alias("pair_chars"),
            ).collect()[0]
            n_edges = 2 * int(row["n"])
            # ~60 bytes per pandas string object on top of the payload
            pair_bytes = float(row["pair_chars"] or 0.0) + 2 * 60.0
        else:
            n_edges = 2 * und.count()
            pair_bytes = 16.0
        # the byte budget bounds what is actually COLLECTED — one
        # undirected row per edge pair, i.e. n_edges/2 rows (the earlier
        # symmetrized-count form double-counted and refused graphs the
        # driver handles comfortably: the measured 5.5M-collected-edge
        # graph is ~88 MB and union-finds in 7-10 s)
        edge_bytes = (n_edges // 2) * pair_bytes
        driver_ok = n_edges <= driver_max_edges and edge_bytes <= DRIVER_MAX_BYTES
        if stats is not None:
            stats.update(
                n_edges=n_edges, edge_bytes=edge_bytes, rounds=0,
                n_changed_last=0, mode="driver" if driver_ok else "distributed",
            )
        if n_edges == 0:
            # answer = the singleton labelling, built WITHOUT referencing
            # the edge plan (it is empty, and the cache is released on
            # return — a plan over it would re-run pair mining on consume)
            if nodes_ids is None:
                from pyspark.sql.types import StructField, StructType

                id_type = und.schema["u"].dataType
                return und.sparkSession.createDataFrame(
                    [],
                    StructType(
                        [
                            StructField("id", id_type),
                            StructField("cluster_id", id_type),
                        ]
                    ),
                )
            return nodes_ids.distinct().select(
                "id", F.col("id").alias("cluster_id")
            )
        if driver_ok:
            return _finish_on_driver(und, nodes_ids, stats)
        # only the distributed loop needs both edge directions: derive
        # them narrowly from the cached undirected frame (a projection
        # union — no second distinct, the undirected dedup already
        # guarantees the symmetrized frame is duplicate-free)
        edges = und.unionByName(
            und.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ids = und.select(F.col("u").alias("id")).unionByName(
            und.select(F.col("v").alias("id"))
        )
        if nodes_ids is not None:
            ids = ids.unionByName(nodes_ids)
        singletons = ids.distinct().select("id", F.col("id").alias("lbl"))
        labels = singletons.localCheckpoint(eager=True)
        for rnd in range(1, max_iter + 1):
            msgs = edges.join(labels, edges["u"] == labels["id"]).select(
                edges["v"].alias("id"), F.col("lbl"), F.lit(None).cast(labels.schema["lbl"].dataType).alias("old")
            )
            mine = labels.select("id", "lbl", F.col("lbl").alias("old"))
            m = (
                mine.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl1"), F.max("old").alias("old"))
            )
            # pointer jump: follow lbl1 to ITS label from the previous
            # generation. Invariant lbl(x) <= x makes coalesce(plbl, lbl1)
            # the minimum (labels only ever decrease)
            parent = labels.select(F.col("id").alias("pid"), F.col("lbl").alias("plbl"))
            # convergence count rides the checkpoint materialization as an
            # Observation — one job per round, not a second pass (the
            # observed plan is never AQE-pruned-empty here: labels has >= 1
            # row whenever edges do, so obs.get always has a real row)
            obs = Observation()
            gen = (
                m.join(parent, m["lbl1"] == parent["pid"], "left")
                .select(
                    "id",
                    F.coalesce("plbl", "lbl1").alias("lbl"),
                    (F.coalesce("plbl", "lbl1") != F.col("old")).alias("_chg"),
                )
                .observe(obs, F.sum(F.col("_chg").cast("long")).alias("n_changed"))
                # persist BEFORE the eager checkpoint: the checkpoint job
                # then materializes the cache, and the LogicalRDD's stats
                # rewrite reads the cache's actual size instead of the
                # per-round-SQUARING join-size product (see docstring)
                .persist()
            )
            nxt = gen.localCheckpoint(eager=True)
            gen.unpersist()
            prev, labels = labels, nxt.select("id", "lbl")
            n_changed = obs.get["n_changed"]
            if stats is not None:
                stats.update(rounds=rnd, n_changed_last=n_changed)
            if n_changed == 0:
                return labels.select("id", F.col("lbl").alias("cluster_id"))
            del prev  # superseded generation: ContextCleaner frees its blocks
        raise ValueError(
            f"dup_clusters: not converged after {max_iter} rounds — "
            "component diameter is far beyond any real near-dup graph "
            "(or label waves are stalling); raise max_iter"
        )
    finally:
        und.unpersist()


def neardup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> DataFrame:
    """Materialize the near-dup-filtered corpus: one canonical row (the
    cluster's min id) per connected component of ``pairs``, all other
    cluster members dropped, docs untouched by any pair kept as their own
    singleton clusters. The companion of ``dedup_corpus`` for NEAR dups —
    run that (exact) first so exact clusters collapse before the
    quadratic-risk pair generation. ``stats`` passes through to
    ``dup_clusters`` (mode / rounds / component telemetry).

    Join shape: the corpus is ANTI-joined against the DROP set (edge-
    touched non-root cluster members) rather than semi-joined against
    the keep set. The two are set-identical (keep = roots + untouched =
    docs - drops), but the drop side is bounded by the edge-touched
    node count — tiny next to the corpus — so under the driver
    clustering mode, when its byte bound is within
    ``spark.sql.autoBroadcastJoinThreshold``, it is explicitly broadcast
    and the corpus-sized ``docs`` frame (which carries full text) is
    never shuffled; the keep-set formulation shuffled the whole corpus
    through a sort-merge join whenever the optimizer could not prove the
    keep side small.
    Null-``id_col`` docs are dropped either way (they matched nothing
    in the semi join; here they are filtered explicitly), preserving
    the original contract."""
    stats = stats if stats is not None else {}
    labels = dup_clusters(pairs, stats=stats)
    drops = labels.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    # the drop set holds at most the edge-touched nodes, two ids per
    # undirected edge, so the collected-edge estimate bounds its bytes:
    # broadcast it (the corpus scan stays shuffle-free) only when that
    # bound is within the session's broadcast threshold
    conf = docs.sparkSession._jsparkSession.sessionState().conf()
    if stats["mode"] == "driver" and stats["edge_bytes"] <= conf.autoBroadcastJoinThreshold():
        drops = F.broadcast(drops)
    return docs.filter(F.col(id_col).isNotNull()).join(
        drops, id_col, "left_anti"
    )


# --------------------------------------------------------------------------
# SimHash (64-bit) — Arrow-batched numpy; oracle-verified via brute hamming
# --------------------------------------------------------------------------


def _simhash64_impl(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (md5-derived token hashes, bitwise
    majority vote), vectorized with numpy per Arrow batch."""
    import hashlib

    import numpy as np

    out = np.zeros(len(texts), dtype=np.int64)
    for row, t in enumerate(texts.fillna("")):
        toks = t.split()
        if not toks:
            continue
        hs = np.fromiter(
            (
                int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
                for w in toks
            ),
            dtype=np.uint64,
            count=len(toks),
        )
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sig = np.uint64(0)
        for i in np.flatnonzero(votes > 0):
            sig |= np.uint64(1) << np.uint64(i)
        out[row] = sig.astype(np.int64)
    return pd.Series(out)


def simhash64():
    """Arrow-batched UDF handle (lazy: pandas_udf needs an active session)."""
    return pandas_udf(_simhash64_impl, "long")


def simhash_docs(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", simhash64()("text").alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, max_hamming: int = 3, bucket_max: int = 10_000,
    cap_metrics: Observation | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on 16-bit chunks.

    The 4-chunk pigeonhole only guarantees candidate coverage for
    ``max_hamming <= 3`` (4 differing bits can land one per chunk); a
    larger radius would silently drop qualifying pairs, so it is rejected.

    ``bucket_max`` caps (chunk_id, chunk) bucket membership before the
    self-join: a chunk value shared by d docs emits d² join rows, and a
    16-bit chunk has only 65536 values — notably every empty/whitespace
    doc simhashes to 0 and would land in one bucket. Members of a capped
    bucket can still pair through their other three chunks, but the
    pigeonhole completeness guarantee no longer covers them (standard
    blocking trade-off; dedup exact/empty docs first).
    ``bucket_max=None`` disables the cap; ``cap_metrics`` (read via
    ``cap_metrics_get``) reports how much the cap dropped.

    Signatures cached: both sides of the block join read them, and the
    Arrow-batched hash UDF is the expensive stage."""
    _require_cap(bucket_max, cap_metrics)
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming}: 4-chunk blocking is only complete "
            "for distances <= 3 (pigeonhole); larger radii would drop pairs"
        )
    sig = caching.register(simhash_docs(docs))
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "simhash", "e.chunk_id", "e.chunk")
    if bucket_max is not None:
        chunks = cap_hot_buckets(chunks, ["chunk_id", "chunk"], bucket_max, cap_metrics)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return cand.select(
        "id1", "id2", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)

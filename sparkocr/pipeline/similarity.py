"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline (pure JVM:
``aggregate``/``zip_with`` — no Python in the scoring loop), plus
LSH-bucketed (random-hyperplane signatures) and IVF (coarse-quantizer
cells) variants as the scale path: at 100 TB you never brute-force 10^9
vectors against a query — you bucket, probe the query's bucket(s), and
brute-force only those.

Hyperplanes are derived deterministically (seeded numpy) and applied by an
Arrow-batched pandas UDF (one matrix multiply per batch), so results are
reproducible and the same plan runs on any cluster size.

This module is the one home of the embedding-probe algebra, shared with
the materialized index (``ann_index``): a probe picks partition keys (the
query signature's hamming ball, ``_lsh_keys``, or the nearest IVF cells,
``_ivf_keys``), keeps the candidate rows of those keys and of the query's
dimension, and scores them with ``cosine_topk``; near-dup pairs (cosine ≥ τ
inside a full-signature bucket) come from one join kernel,
``_cosine_pairs``.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from sparkocr.pipeline import caching

DIM = 64
N_PLANES = 12
_SEED = 42


def _embedding_matrix(embs, dim: int) -> np.ndarray:
    """[batch, dim] float64 matrix from an Arrow column of embeddings,
    tolerating null or wrong-dimension rows by substituting the zero
    vector — the brute-force cosine path yields NULL for those rows
    (zero-norm guard), so the bucketed paths must not crash the task on
    the same data; a zero row signs to signature 0 / nearest-to-origin
    cell and its exact cosine is null downstream either way."""
    mat = np.zeros((len(embs), dim), dtype=np.float64)
    for i, v in enumerate(embs):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape == (dim,):
            mat[i] = a
    return mat


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_expr(a, b):
    # zero vectors: 0.0/0.0 = NaN, and Spark sorts NaN ABOVE every double
    # in a descending sort, so an unguarded zero embedding would hijack
    # the top-k. Null instead (nulls sort last under desc).
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(emb: DataFrame, query: list[float], k: int = 10) -> DataFrame:
    """Brute-force top-k by cosine to a literal query vector — the one
    scoring tail: every probe builds its candidate frame and ends here."""
    q = F.array(*[F.lit(float(v)) for v in query])
    e = _as_double(F.col("embedding"))
    return (
        emb.select("vec_id", F.round(cosine_expr(e, q), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def _of_dim(dim: int):
    """The row rule of every probe and pair join: the embedding has the
    index's (query's) dimension. The signature and cell UDFs zero-fill
    null / wrong-dim rows (``_embedding_matrix``) into sig 0 or an
    arbitrary cell, where they would surface as null-cosine rows whenever
    k exceeds the real match count and count toward a near-dup bucket's
    ``bucket_max``; applied on both the recompute and the indexed path,
    the two agree on dirty tables."""
    return F.size("embedding") == int(dim)


def _probe_topk(
    cands: DataFrame, col: str, keys: list[int], query: list[float], k: int
) -> DataFrame:
    """``cosine_topk`` over the rows of ``cands`` whose ``col`` (sig / cell)
    is one of the probed ``keys``. On an index scan ``col`` is the
    partition column, so the ``isin`` lands in every scan root's
    PartitionFilters."""
    return cosine_topk(cands.filter(F.col(col).isin(keys) & _of_dim(len(query))), query, k)


def hyperplanes(dim: int = DIM, n_planes: int = N_PLANES, seed: int = _SEED) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_signature_col(emb_col, planes: np.ndarray):
    """Bit-packed random-hyperplane signature column.

    Arrow-batched numpy matmul ([batch, dim] @ planes.T, sign, bit-pack):
    the literal-array JVM expression alternative (12 planes x 64 literal
    doubles unrolled per row) blows past whole-stage-codegen method limits
    and was measured ~7x slower. One matrix multiply per Arrow batch is the
    vectorized path the cluster wants; planes are seeded/deterministic so
    the same plan runs identically anywhere."""
    from pyspark.sql.pandas.functions import pandas_udf
    import pandas as pd

    dim = planes.shape[1]

    def _sig(embs):
        if not len(embs):
            return pd.Series([], dtype="int64")
        return pd.Series(_signatures(_embedding_matrix(embs, dim), planes), dtype="int64")

    return pandas_udf(_sig, "long")(emb_col)


def _signatures(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Bit-packed signature of each row of ``mat``: bit i is set when the
    row lies on the positive side of hyperplane i. Rows and queries are
    signed by this one function, so a vector always probes its own bucket."""
    bits = (mat @ planes.T) > 0
    return bits @ (1 << np.arange(planes.shape[0], dtype=np.int64))


def _sig_ball(qsig: int, n_planes: int, hamming: int) -> list[int]:
    """All signatures within ``hamming`` bit flips of ``qsig`` —
    1 + C(n,1) + ... + C(n,hamming) values (79 at n=12, h=2)."""
    out = [qsig]
    for h in range(1, hamming + 1):
        for bits in combinations(range(n_planes), h):
            s = qsig
            for b in bits:
                s ^= 1 << b
            out.append(s)
    return out


def _lsh_keys(query: list[float], planes: np.ndarray, hamming: int) -> list[int]:
    """The LSH probe's keys: the query signature's ``hamming`` ball."""
    qsig = int(_signatures(np.asarray([query], dtype=np.float64), planes)[0])
    return _sig_ball(qsig, planes.shape[0], hamming)


def lsh_topk(emb: DataFrame, query: list[float], k: int = 10, n_planes: int = N_PLANES) -> DataFrame:
    """IVF/LSH-style ANN: score only vectors whose signature is within
    hamming ≤ 2 of the query's signature (bucket probe), then exact cosine.
    Recall < 1 by design; the scale path for 10^9-vector tables."""
    planes = hyperplanes(len(query), n_planes)
    sigged = emb.withColumn("sig", lsh_signature_col(F.col("embedding"), planes))
    return _probe_topk(sigged, "sig", _lsh_keys(query, planes, 2), query, k)


def _hash_sample(emb: DataFrame, n: int, seed: int) -> DataFrame:
    """The ``n`` non-null-embedding rows with the lowest
    md5(seed || vec_id) — a hash order, so the sample is stable across
    partition layout, cluster size, and engine (``df.sample`` is none of
    those), unbiased by vec_id (a junk-dominated low-id prefix cannot
    skew it), and executed as a per-partition top-k merge (TakeOrdered)
    with no shuffle. ONE definition on purpose: ``detect_dim`` and
    ``ivf_centroids_kmeans`` must draw the SAME sample or a dirty table
    can get its dimension from different rows than its training set."""
    h = F.md5(F.concat(F.lit(f"s{seed}:"), F.col("vec_id").cast("string")))
    return (
        emb.filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding", h.alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(n)
    )


def _majority_dim(lengths) -> int:
    """Most frequent value among driver-side vector lengths (ties →
    smaller). Deterministic, and immune to a single junk-dimension row —
    deriving the dimension from whichever row happens to be physically
    first would make centroid shape depend on partition layout."""
    from collections import Counter

    counts = Counter(lengths)
    return min(counts, key=lambda d: (-counts[d], d))


def ivf_centroids(emb: DataFrame, n_cells: int = 16, dim: int | None = None) -> np.ndarray:
    """Deterministic coarse-quantizer centroids: the ``n_cells`` lowest
    vec_id embeddings of the table's majority dimension (k-means seeding
    without the iterations — kept as the catalog/oracle quantizer because
    it is SQL-replayable; the cell assignment/probe machinery below is
    identical either way). For real recall on clustered data use
    ``ivf_centroids_kmeans``.

    Null / wrong-dimension rows are skipped (every other path zero-fills
    or nulls them — ``_embedding_matrix``; a crash here would violate the
    module's null-tolerance invariant). The dimension comes from
    ``detect_dim``'s hash-ordered sample, NOT from the lowest-vec_id
    prefix: a junk-dominated low-id prefix (e.g. legacy rows of an old
    dimension re-ingested first) must not flip the centroid shape while
    the executor paths zero-fill to the table majority. The dimension
    filter then guarantees exactly ``min(n_cells, matching rows)``
    full-dimension centroids. An empty/unusable table raises a clear
    error instead of a numpy broadcast failure downstream."""
    if dim is None:
        dim = detect_dim(emb)
    rows = (
        emb.filter(F.col("embedding").isNotNull())
        .filter(F.size("embedding") == dim)
        .orderBy("vec_id")
        .limit(n_cells)
        .select("embedding")
        .collect()
    )
    if not rows:
        # name the dimension: on a non-empty table this means no row has
        # that dimension — almost always a dim= that matches the QUERY
        # but not the table (the empty-table case reads the same)
        raise ValueError(
            f"ivf_centroids: no usable (non-null) embeddings of dim {dim} "
            "(empty table, all-null embeddings, or dim= mismatch with the data)"
        )
    return np.asarray([[float(x) for x in r["embedding"]] for r in rows])


def ivf_centroids_kmeans(
    emb: DataFrame,
    n_cells: int = 16,
    sample_size: int = 1024,
    n_iter: int = 10,
    seed: int = _SEED,
) -> np.ndarray:
    """Trained coarse-quantizer centroids: deterministic sample + small
    driver-side k-means (Lloyd, fixed iteration count).

    The sample is the ``sample_size`` rows with the lowest
    md5(seed || vec_id) — a hash order, so it is stable across
    partition layout, cluster size, and engine (``df.sample`` is none of
    those); only ``sample_size`` rows ever reach the driver. Init = first
    ``n_cells`` sample rows in hash order; a cluster that loses all
    members keeps its previous centroid (deterministic, no respawn
    randomness). First-n seeding (``ivf_centroids``) assigns near-zero
    inertia weight to clusters the first rows never visit; on clustered
    data this trainer recovers the real cell structure and measurably
    beats it on recall (tests/test_similarity_recall.py)."""
    rows = _hash_sample(emb, sample_size, seed).collect()
    if not rows:
        raise ValueError("ivf_centroids_kmeans: no non-null embeddings to train on")
    # wrong-dimension rows would make np.asarray raise on an inhomogeneous
    # sample; the executor paths zero-fill them, the trainer just leaves
    # them out — majority dimension chosen driver-side over the hash-ordered
    # sample (deterministic across partition layouts, no extra Spark action)
    vecs = [r["embedding"] for r in rows]
    dim = _majority_dim(len(v) for v in vecs)
    X = np.asarray(
        [[float(x) for x in v] for v in vecs if len(v) == dim], dtype=np.float64
    )
    k = min(n_cells, len(X))
    cents = X[:k].copy()
    for _ in range(n_iter):
        d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = np.argmin(d, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_cell_col(emb_col, centroids: np.ndarray):
    """Nearest-centroid cell id per row — Arrow-batched argmin over
    squared L2 (one [batch, cells] distance matrix per batch)."""
    from pyspark.sql.pandas.functions import pandas_udf
    import pandas as pd

    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)
    dim = c.shape[1]

    def _cell(embs):
        if not len(embs):
            return pd.Series([], dtype="int32")
        mat = _embedding_matrix(embs, dim)
        d = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ c.T) + c_sq[None, :]
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return pandas_udf(_cell, "int")(emb_col)


def _ivf_keys(query: list[float], centroids: np.ndarray, n_probe: int) -> list[int]:
    """The IVF probe's keys: the ``n_probe`` cells nearest the query. The
    sort is stable because duplicate centroids (first-n seeding over
    exact-dup embeddings) tie on distance."""
    d = ((centroids - np.asarray(query, dtype=np.float64)[None, :]) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]


def ivf_topk(
    emb: DataFrame, query: list[float], k: int = 10,
    n_cells: int = 16, n_probe: int = 4, dim: int | None = None,
) -> DataFrame:
    """IVF ANN: partition vectors into coarse cells, probe only the
    ``n_probe`` cells nearest the query, exact cosine inside them.
    Recall < 1 by design — the inverted-file scale path: at 10^9 vectors
    the scan touches n_probe/n_cells of the table, and the cell column is
    a natural partition key for the stored index. Pass ``dim`` when the
    table dimension is already known (e.g. repeated queries against the
    same table): it skips ``detect_dim``'s sample scan, leaving one
    driver-blocking job (the centroid prefix) before the probe."""
    cents = ivf_centroids(emb, n_cells, dim=dim)
    if cents.shape[1] != len(query):
        # a numpy broadcast error here would surface as an opaque task
        # failure; the mismatch is a caller bug (querying a table of a
        # different embedding dimension), so name it
        raise ValueError(
            f"ivf_topk: query dim {len(query)} != table majority dim {cents.shape[1]}"
        )
    celled = emb.withColumn("cell", ivf_cell_col(F.col("embedding"), cents))
    return _probe_topk(celled, "cell", _ivf_keys(query, cents, n_probe), query, k)


def detect_dim(emb: DataFrame, sample_size: int = 4096, seed: int = _SEED) -> int:
    """Majority embedding dimension (ties → smaller) over a bounded
    deterministic sample; DIM if the table has no non-null embeddings.

    Two rejected alternatives frame the design: a first-non-null-row
    probe is order-dependent (which physical row comes first varies with
    partition layout, so a junk-dimension row could flip the chosen
    dimension between otherwise identical runs), and a full-table
    groupBy(size).count() is a complete extra scan PLUS a shuffle before
    any consumer (index build, near-dup join) even starts. The middle
    path is ``_hash_sample`` — the SAME sampler ``ivf_centroids_kmeans``
    trains on, shared by construction so the detected dimension and the
    training set can never come from different row sets on a dirty
    table."""
    rows = _hash_sample(emb, sample_size, seed).select(
        F.size("embedding").alias("d")
    ).collect()
    if not rows:
        return DIM
    return _majority_dim(r["d"] for r in rows)


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.95, n_planes: int = N_PLANES,
    dim: int | None = None,
    bucket_max: int | None = None,
    cap_metrics=None,
) -> DataFrame:
    """Near-dup vector pairs: bucket by full LSH signature (hamming 0) then
    exact cosine ≥ threshold inside buckets — the embedding-cosine analog of
    MinHash-LSH dedup. ``dim`` is read from the data when not given (a
    hard-coded dimension would crash on any non-64-dim table).

    ``bucket_max`` (opt-in, like ``jaccard_pairs``' df cap at the scale
    call sites): a cluster of d identical/near-identical vectors shares
    one full signature and emits d²/2 join rows — cap the bucket before
    the self-join at 10^9-vector scale (run exact dedup first so the cap
    rarely bites). Bucket membership is counted over VALID rows only
    (``size(embedding) == dim``): null / wrong-dim embeddings can never
    produce a ≥-threshold pair (zero-filled sig, null cosine), so they
    are dropped up front rather than inflating sig-0's count toward the
    cap — and the incremental counterpart (``ann_index.near_dups_indexed``)
    counts the same way, keeping the two paths' capped answers equal.
    Drops are observable via ``cap_metrics`` (a fresh ``Observation``,
    read with ``dedup.cap_metrics_get``)."""
    from sparkocr.pipeline.dedup import _require_cap, cap_hot_buckets

    _require_cap(bucket_max, cap_metrics)
    if dim is None:
        dim = detect_dim(emb)
    planes = hyperplanes(dim, n_planes)
    # cached: both join sides read the signatures, and the 12-plane dot
    # products are the expensive projection; registered with caching —
    # consumers call caching.release_all() after the action (dedup.py note)
    sigged = caching.register(
        emb.filter(_of_dim(dim)).withColumn(
            "sig", lsh_signature_col(F.col("embedding"), planes)
        )
    )
    if bucket_max is not None:
        sigged = cap_hot_buckets(sigged, ["sig"], bucket_max, cap_metrics)
    return _cosine_pairs(sigged, sigged, threshold, strict=True)


def _cosine_pairs(a: DataFrame, b: DataFrame, threshold: float, strict: bool) -> DataFrame:
    """The near-dup pair kernel: rows of ``a`` and ``b`` sharing a full
    signature, with rounded cosine ≥ ``threshold``, as ``(id1, id2,
    cosine)`` with id1 < id2. ``strict`` joins ``a.vec_id < b.vec_id``
    (a self-join, each pair once); otherwise ``a.vec_id != b.vec_id``
    (two disjoint sides, either id order)."""
    a_id, b_id = F.col("a.vec_id"), F.col("b.vec_id")
    ids = (a_id < b_id) if strict else (a_id != b_id)
    return (
        a.alias("a")
        .join(b.alias("b"), (F.col("a.sig") == F.col("b.sig")) & ids)
        .select(
            F.least("a.vec_id", "b.vec_id").alias("id1"),
            F.greatest("a.vec_id", "b.vec_id").alias("id2"),
            F.round(
                cosine_expr(_as_double(F.col("a.embedding")), _as_double(F.col("b.embedding"))), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )

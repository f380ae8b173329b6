"""Materialized ANN index: signature/cell as a PARTITION column.

`similarity.lsh_topk` / `ivf_topk` recompute signatures or cells over the
whole table on every query — right for one-shot catalog queries, wrong for
a served index over 10^9 vectors, where the probe should touch only the
probed fraction of storage. This module persists the bucketed layout once:

- ``build_lsh_index``: vectors written partitioned by ``sig`` (bit-packed
  random-hyperplane signature) — one directory per signature value;
- ``build_ivf_index``: vectors partitioned by ``cell`` (nearest-centroid
  id), centroids persisted beside them;

and probe paths that read ONLY the probed partitions. The probes run
``similarity``'s probe algebra (the same probe keys, dimension rule,
scoring tail and near-dup pair kernel as the recompute operators) over the
index scan instead of over a re-signed table: the ``isin`` filter on the
partition column becomes a `PartitionFilters` entry on every parquet scan
(asserted in tests/test_ann_index.py), so Spark lists and reads just the
probed directories — n_probe/n_cells of the data for IVF, the ≤hamming
signature ball for LSH — instead of scanning everything and filtering.

Layout under ``path``:
    _index/<v>.json  the versioned manifest: kind, dim, n_planes+seed
                     (LSH) or n_cells (IVF), the current ``generation``,
                     the committed ``appends`` not yet compacted and the
                     ``folded`` ones, each with its row count. Readers
                     take the highest <v>.
    g<N>/vectors     parquet, partitioned by sig= / cell=
    g<N>/centroids   (IVF only) parquet: cell_id, centroid array<double>
    g<N>/deltas/<append_id>/
                     one ``append_to_index`` increment, same partition
                     layout as vectors/

Generations are immutable: a build writes a new ``g<N>``, an append adds
a delta dataset, and ``compact_index`` folds base + deltas into a new
``g<N>``, moving their entries from ``appends`` to ``folded``. Each then
commits through ``sparkocr.manifest``, by renaming a tmp file to the next
version name, which must not exist yet — that rename is the index's only
commit point, so a writer that dies before it leaves the previous version
(and its files) probe-able, and a writer that raced another one refuses
to publish. After publishing, builds and compactions delete what the new
version no longer names; a dead append's unlisted delta is reclaimed by
``vacuum_index``. Probes union the base with every non-empty delta in
``appends``.

Everything needed to probe is read back from the index (planes are re-seeded
from the manifest, centroids from their table), so a probe never needs the
original table — and two clusters probing the same index get identical
plans. Determinism: planes are seeded; centroids come from the passed
trainer (``ivf_centroids_kmeans`` by default — hash-ordered sample, fixed
Lloyd iterations); version and generation numbers follow from the versions
already published.

The writers ``repartition`` on the partition column first, so each
signature/cell directory holds one file per shuffle partition that owns it
(not one file per input task x value — the small-files explosion).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from sparkocr import manifest
from sparkocr.pipeline import caching
from sparkocr.pipeline.similarity import (
    N_PLANES,
    _SEED,
    _cosine_pairs,
    _ivf_keys,
    _lsh_keys,
    _of_dim,
    _probe_topk,
    detect_dim,
    hyperplanes,
    ivf_cell_col,
    ivf_centroids_kmeans,
    lsh_signature_col,
)
from sparkocr.storage import APPEND_ID_RE

#: each kind's partition column
_PCOL = {"lsh": "sig", "ivf": "cell"}


def _index(path: str) -> str:
    """The index's manifest directory."""
    return f"{path}/_index"


def _gen(path: str, m: dict) -> str:
    return f"{path}/g{m['generation']}"


def _read_manifest(spark: SparkSession, path: str, kind: str | None = None) -> dict:
    """The newest manifest, with its ``version``. An index of an unknown
    kind raises, and so does one of another ``kind`` when it is given. An
    unparseable newest manifest raises: falling back to an older version
    would revive generations its successor's writer has already deleted."""
    try:
        v, m = manifest.latest(spark, _index(path))
    except ValueError as e:
        raise ValueError(
            f"the newest ANN index manifest in {_index(path)} is unparseable: "
            "restore it or rebuild the index"
        ) from e
    if m is None:
        raise ValueError(
            f"no complete ANN index at {path}: _index/ holds no manifest — "
            "the build failed mid-way, is still in progress, or the path is "
            "wrong; rebuild the index"
        )
    if m["kind"] not in _PCOL or kind not in (None, m["kind"]):
        want = kind or " or ".join(_PCOL)
        raise ValueError(f"index at {path} is kind={m['kind']}, expected {want}")
    return {**m, "version": v}


def _delete(spark: SparkSession, path_str: str) -> None:
    _, fs, jpath = manifest.resolve(spark, path_str)
    fs.delete(jpath, True)  # recursive; absent → false, fine


def _collect(spark: SparkSession, path: str, m: dict) -> None:
    """Delete what the published manifest ``m`` no longer names: older
    versions and every entry under ``path`` except ``_index/`` and ``m``'s
    generation. Idempotent, so a writer that died mid-way is finished by
    the next build or compact."""
    manifest.collect(spark, _index(path), m["version"])
    _, fs, root = manifest.resolve(spark, path)
    keep = {"_index", f"g{m['generation']}"}
    for st in fs.listStatus(root):
        if st.getPath().getName() not in keep:
            fs.delete(st.getPath(), True)


def _read_written(spark: SparkSession, written: str, drop: str) -> DataFrame | None:
    """The parquet just written at ``written``, or None (after deleting
    ``drop``) when the write held no rows: partitionBy over zero rows
    writes only _SUCCESS, which reads as UNABLE_TO_INFER_SCHEMA. Detected
    AFTER the write (a footer-only driver read), not with a pre-write
    isEmpty(), which is an extra action recomputing the whole upstream
    DAG. Any other read failure (FS, permissions, corruption) propagates
    as-is."""
    try:
        return spark.read.parquet(written)
    except Exception as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        _delete(spark, drop)
        return None


def _centroids(spark: SparkSession, path: str, m: dict) -> np.ndarray:
    rows = spark.read.parquet(f"{_gen(path, m)}/centroids").orderBy("cell_id").collect()
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def _planes(m: dict) -> np.ndarray:
    return hyperplanes(m["dim"], m["n_planes"], m["seed"])


def _stamp(spark: SparkSession, path: str, m: dict, emb: DataFrame) -> DataFrame:
    """``emb`` with the index's partition column, computed from the
    index's OWN stored parameters (re-seeded planes / persisted centroids),
    never re-derived from data."""
    if m["kind"] == "lsh":
        col = lsh_signature_col(F.col("embedding"), _planes(m))
    else:
        col = ivf_cell_col(F.col("embedding"), _centroids(spark, path, m))
    return emb.withColumn(_PCOL[m["kind"]], col)


def _check_query_dim(query: list[float], m: dict, caller: str) -> None:
    # same caller bug ivf_topk names: without this the probe dies in numpy
    # with an opaque shapes-not-aligned / broadcast error
    if len(query) != m["dim"]:
        raise ValueError(f"{caller}: query dim {len(query)} != index dim {m['dim']}")


def vacuum_index(
    spark: SparkSession, path: str, min_age_hours: float = 24.0
) -> dict:
    """Reclaim orphan delta datasets of the current generation — appends
    that died before publishing and were retried under a DIFFERENT
    append_id (a same-id retry overwrites its own partial files). Orphans
    are invisible to probes but are full-size parquet that nothing else
    deletes short of the next build or compaction.

    An IN-FLIGHT append's delta is unlisted too, so deleting every
    unlisted dir would destroy a concurrent append's partial write.
    Guard: only orphans whose newest modification time (the delta dir
    and its direct partition children — a file landing in ``sig=x/``
    bumps that child dir's mtime) is older than ``min_age_hours`` are
    reclaimed; anything younger is reported under ``skipped_recent`` and
    left for the next vacuum. No real append runs for 24 h, so the
    default clears every true orphan while a live append stays safe.
    Pass ``min_age_hours=0`` only when provably no append is in flight.

    Returns ``{"reclaimed": [...], "skipped_recent": [...]}``."""
    import time

    m = _read_manifest(spark, path)
    _, fs, droot = manifest.resolve(spark, f"{_gen(path, m)}/deltas")
    if not fs.exists(droot):
        return {"reclaimed": [], "skipped_recent": []}
    listed = {a["append_id"] for a in m["appends"]}
    cutoff_ms = (time.time() - min_age_hours * 3600.0) * 1000.0
    reclaimed, skipped = [], []
    for st in fs.listStatus(droot):
        name = st.getPath().getName()
        if name in listed or not st.isDirectory():
            continue
        newest = max(
            [st.getModificationTime()]
            + [c.getModificationTime() for c in fs.listStatus(st.getPath())]
        )
        if newest > cutoff_ms:
            skipped.append(name)
            continue
        fs.delete(st.getPath(), True)
        reclaimed.append(name)
    return {"reclaimed": sorted(reclaimed), "skipped_recent": sorted(skipped)}


def _scan_vectors(spark: SparkSession, path: str, m: dict) -> DataFrame:
    """Manifest ``m``'s rows: base vectors plus every non-empty delta in
    ``appends``. A probe filters the union; Spark pushes the filter into
    each scan, so the partition filter prunes every scan root (sig=/cell=
    discovery runs under each delta dir exactly as under vectors/).
    Unlisted deltas (append in progress or died before publishing) are
    invisible."""
    gen = _gen(path, m)
    frames = [
        spark.read.parquet(f"{gen}/deltas/{a['append_id']}")
        for a in m["appends"]
        if a["rows"] > 0
    ]
    return reduce(DataFrame.unionByName, frames, spark.read.parquet(f"{gen}/vectors"))


def append_to_index(emb: DataFrame, path: str, append_id: str) -> dict:
    """Incrementally add ``emb``'s rows to a built index — the daily-
    increment path a 10^9-vector pipeline needs (a full rebuild re-shuffles
    the entire corpus to add 0.1% new rows). Rows are stamped with the
    index's stored parameters, written as ``g<N>/deltas/<append_id>/``
    in the same partition layout, then committed by publishing the next
    manifest version with the append listed.

    Semantics: exactly-once per ``append_id`` until the next build —
    re-running a committed id is a no-op (``{"skipped": True}``), also
    after ``compact_index`` has folded it; re-running a crashed one
    overwrites its partial files; an unlisted delta is invisible to
    probes. For IVF the centroids stay fixed (standard for IVF appends):
    recall degrades if the appended distribution drifts from the trained
    quantizer — compact + rebuild periodically.

    Returns ``{"append_id", "rows", "skipped"}``."""
    if not APPEND_ID_RE.match(append_id or ""):
        raise ValueError(
            f"append_id {append_id!r} must match {APPEND_ID_RE.pattern} "
            "(it names files and directories)"
        )
    spark = emb.sparkSession
    m = _read_manifest(spark, path)  # refuses half-built indexes by design
    for a in m["folded"] + m["appends"]:
        if a["append_id"] == append_id:
            return {"append_id": append_id, "rows": a["rows"], "skipped": True}
    pcol = _PCOL[m["kind"]]
    dpath = f"{_gen(path, m)}/deltas/{append_id}"
    _stamp(spark, path, m, emb).repartition(pcol).write.mode("overwrite").partitionBy(
        pcol
    ).parquet(dpath)
    delta = _read_written(spark, dpath, dpath)
    rows = 0 if delta is None else delta.count()  # footer-only metadata count
    if rows:
        # column-set check BEFORE commit: probes union every listed delta
        # with unionByName, so a delta whose columns differ from the base
        # (the daily job added/renamed one) would crash every future
        # probe — far from the append that caused it. Fail the append.
        base_cols = set(spark.read.parquet(f"{_gen(path, m)}/vectors").columns)
        delta_cols = set(delta.columns)
        if delta_cols != base_cols:
            _delete(spark, dpath)
            raise ValueError(
                "append_to_index: increment columns differ from the index "
                f"(extra: {sorted(delta_cols - base_cols)}, missing: "
                f"{sorted(base_cols - delta_cols)}) — delta discarded, "
                "nothing committed"
            )
        # dim check AFTER the write, on the written delta (a pre-write
        # detect_dim cannot distinguish an empty increment from a
        # wrong-dim one without an extra action on the source plan);
        # wrong-dim rows were zero-fill-stamped, so nothing crashed yet —
        # but committing them would bury junk in sig 0 / a garbage cell.
        # Guarded on a non-null embedding existing: an all-null increment
        # has no dimension (detect_dim would return its global fallback
        # and fail spuriously) and is accepted exactly like build does —
        # probes never read its rows.
        if delta.where(F.col("embedding").isNotNull()).limit(1).count():
            got = detect_dim(delta)
            if got != m["dim"]:
                _delete(spark, dpath)
                raise ValueError(
                    f"append_to_index: increment dim {got} != index dim "
                    f"{m['dim']} — delta discarded, nothing committed"
                )
    appends = m["appends"] + [{"append_id": append_id, "rows": rows}]
    v = m["version"] + 1
    manifest.publish(spark, _index(path), v, {**m, "version": v, "appends": appends})
    return {"append_id": append_id, "rows": rows, "skipped": False}


def compact_index(spark: SparkSession, path: str) -> dict:
    """Fold the listed deltas into a new generation (bounding the probe's
    scan-root count) and publish it as the next version, with the folded
    appends moved to ``folded``; then delete the old generation and
    versions. A compact that dies before publishing leaves the old
    version probe-able and its half-written generation is overwritten by
    the next try; one that dies after publishing is finished by the next
    call. If another writer published since the fold's base was read
    (e.g. the next daily append), the publish raises and that writer's
    version stands — its rows are folded next time.

    Returns ``{"compacted": n_deltas, "rows": total}`` (``rows`` is None
    when no new generation was written)."""
    m = _read_manifest(spark, path)
    folded, rows = m["appends"], None
    if folded:
        new = {
            **m, "version": m["version"] + 1, "appends": [],
            "folded": m["folded"] + folded,
        }
        if any(a["rows"] for a in folded):
            new["generation"] = new["version"]
            pcol = _PCOL[m["kind"]]
            _scan_vectors(spark, path, m).repartition(pcol).write.mode(
                "overwrite"
            ).partitionBy(pcol).parquet(f"{_gen(path, new)}/vectors")
            if m["kind"] == "ivf":
                spark.read.parquet(f"{_gen(path, m)}/centroids").write.mode(
                    "overwrite"
                ).parquet(f"{_gen(path, new)}/centroids")
        manifest.publish(spark, _index(path), new["version"], new)
        if new["generation"] != m["generation"]:
            rows = int(spark.read.parquet(f"{_gen(path, new)}/vectors").count())
        m = new
    _collect(spark, path, m)
    return {"compacted": len(folded), "rows": rows}


def _build(
    stamped: DataFrame, path: str, builder: str, params: dict, centroids=None
) -> None:
    """Write ``stamped`` (rows carrying the kind's partition column) as a
    new generation, plus the IVF ``centroids`` frame, and publish it with
    ``params``; then delete the previous index. An empty input raises
    before publishing, so the previous index stays."""
    spark = stamped.sparkSession
    v = max(manifest.versions(spark, _index(path)), default=0) + 1
    m = {"version": v, "generation": v, "appends": [], "folded": [], **params}
    gen, pcol = _gen(path, m), _PCOL[m["kind"]]
    stamped.repartition(pcol).write.mode("overwrite").partitionBy(pcol).parquet(
        f"{gen}/vectors"
    )
    if _read_written(spark, f"{gen}/vectors", gen) is None:
        raise ValueError(f"{builder}: input table has no rows — nothing was indexed")
    if centroids is not None:
        centroids.coalesce(1).write.mode("overwrite").parquet(f"{gen}/centroids")
    manifest.publish(spark, _index(path), v, m)
    _collect(spark, path, m)


def build_lsh_index(
    emb: DataFrame,
    path: str,
    n_planes: int = N_PLANES,
    seed: int = _SEED,
    dim: int | None = None,
) -> None:
    """Materialize ``emb`` partitioned by LSH signature at ``path`` as a
    new generation; a previous index at ``path`` stays probe-able until
    the new one is published, and is then deleted."""
    if dim is None:
        dim = detect_dim(emb)
    planes = hyperplanes(dim, n_planes, seed)
    _build(
        emb.withColumn("sig", lsh_signature_col(F.col("embedding"), planes)),
        path,
        "build_lsh_index",
        {"kind": "lsh", "dim": int(dim), "n_planes": int(n_planes), "seed": int(seed)},
    )


def lsh_topk_indexed(
    spark: SparkSession,
    path: str,
    query: list[float],
    k: int = 10,
    hamming: int = 2,
) -> DataFrame:
    """Probe a materialized LSH index: exact cosine inside the signature
    ball, reading ONLY the matching sig= partitions (partition pruning —
    the scan never touches the other directories)."""
    m = _read_manifest(spark, path, "lsh")
    _check_query_dim(query, m, "lsh_topk_indexed")
    keys = _lsh_keys(query, _planes(m), hamming)
    return _probe_topk(_scan_vectors(spark, path, m), "sig", keys, query, k)


def near_dups_indexed(
    spark: SparkSession,
    path: str,
    new_emb: DataFrame,
    threshold: float = 0.95,
    bucket_max: int | None = None,
    cap_metrics=None,
    max_probe_sigs: int = 10_000,
) -> DataFrame:
    """Embedding near-dup pairs touching at least one NEW vector, probed
    against a materialized LSH index — the incremental counterpart of
    ``similarity.embedding_near_dups`` (full-signature buckets, hamming
    0, exact cosine ≥ threshold inside a bucket), the same way
    ``lsh_store.incremental_lsh_pairs`` is the incremental counterpart
    of the MinHash re-mine. A daily 0.1% increment must not re-signature
    and self-join the whole 10^9-vector corpus.

    New vectors are stamped with the index's STORED planes (re-seeded
    from the manifest, never re-derived), the increment's distinct signatures
    are collected driver-side, and the index scan is partition-pruned to
    exactly those sig= directories (base + listed deltas). The sig
    collect is bounded by min(n_new, 2^n_planes) — 4,096 at the DEFAULT
    12 planes, but an index built with more planes admits up to n_new
    distinct values, so the collect is guarded by ``max_probe_sigs``
    (a million-literal isin would melt the planner before the scan ever
    ran): past the bound, chunk the increment or run the full operator.
    Index copies of the increment's vec_ids are excluded from the old
    side, so the operator is correct before or after ``append_to_index``
    of the same increment. Both sides keep only rows of the index's
    dimension, as ``embedding_near_dups`` does, and both paths join with
    the same pair kernel, so they see identical bucket membership.

    Output ``(id1, id2, cosine)`` with id1 < id2 — agrees exactly with
    ``embedding_near_dups`` over old∪new restricted to pairs touching a
    new vector (full-signature bucketing gives each vector ONE bucket,
    so no pair is emitted twice; under equal ``bucket_max`` the two also
    agree — both cap on combined valid-row old∪new bucket membership).

    ``bucket_max`` (opt-in, same semantics as ``embedding_near_dups``):
    caps a signature bucket's COMBINED membership (index + increment)
    and drops capped buckets from the increment side — which caps both
    joins, since every pair needs an increment-side row. Drops are
    observable via ``cap_metrics`` (``dedup.cap_metrics_get``)."""
    from sparkocr.pipeline.dedup import _require_cap, cap_hot_buckets, combined_counts

    _require_cap(bucket_max, cap_metrics)
    m = _read_manifest(spark, path, "lsh")
    dim = m["dim"]
    sig_new = caching.register(_stamp(spark, path, m, new_emb.filter(_of_dim(dim))))
    probe_sigs = [
        r["sig"]
        for r in sig_new.select("sig").distinct().limit(max_probe_sigs + 1).collect()
    ]
    if not probe_sigs:
        id_type = new_emb.schema["vec_id"].dataType
        return spark.createDataFrame([], StructType([
            StructField("id1", id_type),
            StructField("id2", id_type),
            StructField("cosine", DoubleType()),
        ]))
    if len(probe_sigs) > max_probe_sigs:
        raise ValueError(
            f"near_dups_indexed: the increment touches more than "
            f"{max_probe_sigs} distinct signatures — the pruning isin "
            "literal would overwhelm the planner; chunk the increment, "
            "raise max_probe_sigs deliberately, or run "
            "similarity.embedding_near_dups over the combined corpus"
        )
    new_ids = sig_new.select("vec_id")
    old = (
        _scan_vectors(spark, path, m)
        .filter(F.col("sig").isin(probe_sigs) & _of_dim(dim))
        .join(F.broadcast(new_ids), "vec_id", "left_anti")
    )
    if bucket_max is not None:
        # the cap branch reads `old` twice (counts + join): cache the
        # pruned scan so the partition listing + anti-join run once
        old = caching.register(old)
        sig_new = cap_hot_buckets(
            sig_new, ["sig"], bucket_max, cap_metrics,
            counts=combined_counts(sig_new, old, ["sig"]), broadcast_small=True,
        )
    new_new = _cosine_pairs(sig_new, sig_new, threshold, strict=True)
    new_old = _cosine_pairs(sig_new, old, threshold, strict=False)
    return new_new.unionByName(new_old)


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    trainer=ivf_centroids_kmeans,
) -> None:
    """Materialize ``emb`` partitioned by IVF cell at ``path`` as a new
    generation; centroids (from ``trainer(emb, n_cells)``) are persisted
    beside the vectors so probes replay the exact assignment. A previous
    index at ``path`` stays probe-able until the new one is published.
    The default trainer rejects an empty table before anything is
    written; the build's own empty check catches a custom trainer's."""
    cents = np.asarray(trainer(emb, n_cells), dtype=np.float64)
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    _build(
        emb.withColumn("cell", ivf_cell_col(F.col("embedding"), cents)),
        path,
        "build_ivf_index",
        {"kind": "ivf", "dim": int(cents.shape[1]), "n_cells": len(cents)},
        emb.sparkSession.createDataFrame(cent_rows, "cell_id int, centroid array<double>"),
    )


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a materialized IVF index: exact cosine inside the ``n_probe``
    cells nearest the query, reading ONLY those cell= partitions."""
    m = _read_manifest(spark, path, "ivf")
    _check_query_dim(query, m, "ivf_topk_indexed")
    keys = _ivf_keys(query, _centroids(spark, path, m), n_probe)
    return _probe_topk(_scan_vectors(spark, path, m), "cell", keys, query, k)

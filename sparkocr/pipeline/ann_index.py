"""Materialized ANN index: signature/cell as a PARTITION column.

`similarity.lsh_topk` / `ivf_topk` recompute signatures or cells over the
whole table on every query — right for one-shot catalog queries, wrong for
a served index over 10^9 vectors, where the probe should touch only the
probed fraction of storage. This module persists the bucketed layout once:

- ``build_lsh_index``: vectors written partitioned by ``sig`` (bit-packed
  random-hyperplane signature) — one directory per signature value;
- ``build_ivf_index``: vectors partitioned by ``cell`` (nearest-centroid
  id), centroids persisted beside them;

and probe paths that read ONLY the probed partitions: the ``isin`` filter
on the partition column becomes a `PartitionFilters` entry on the parquet
scan (asserted in tests/test_plans.py), so Spark lists and reads just the
probed directories — n_probe/n_cells of the data for IVF, the ≤hamming
signature ball for LSH — instead of scanning everything and filtering.

Layout under ``path``:
    vectors/   parquet, partitioned by sig= / cell=
    meta/      single-row parquet: kind, dim, n_planes|n_cells, seed
    centroids/ (IVF only) parquet: cell_id, centroid array<double>
    deltas/    incremental appends (``append_to_index``): one
               ``deltas/<append_id>/`` parquet dataset per committed
               append, same partition layout as vectors/, plus a JSON
               commit marker per append under ``deltas/_commits/``.
               Probes union the base with every COMMITTED delta (each
               scan still partition-pruned); ``compact_index`` folds the
               deltas back into vectors/. An append that dies mid-write
               leaves no marker → invisible to probes, and retrying the
               same ``append_id`` overwrites the partial files
               (idempotent, mirroring the extract job's bucket resume).

Everything needed to probe is read back from the index (planes are re-seeded
from meta, centroids from their table), so a probe never needs the original
table — and two clusters probing the same index get identical plans.
Determinism: planes are seeded; centroids come from the passed trainer
(``ivf_centroids_kmeans`` by default — hash-ordered sample, fixed Lloyd
iterations).

The writers ``repartition`` on the partition column first, so each
signature/cell directory holds one file per shuffle partition that owns it
(not one file per input task x value — the small-files explosion).
"""

from __future__ import annotations

import json
import re
from functools import reduce
from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkocr.pipeline.similarity import (
    N_PLANES,
    _SEED,
    _as_double,
    cosine_expr,
    detect_dim,
    hyperplanes,
    ivf_cell_col,
    ivf_centroids_kmeans,
    lsh_signature_col,
)
from sparkocr.storage import APPEND_ID_RE


def _write_meta(spark: SparkSession, path: str, **kv) -> None:
    spark.createDataFrame([tuple(kv.values())], list(kv.keys())).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def _invalidate_meta(spark: SparkSession, path: str) -> None:
    """Delete meta/ BEFORE a rebuild touches vectors/. meta/ is written
    last, so a complete meta marks a complete index: without this, a
    rebuild that dies after overwriting vectors leaves the OLD meta (old
    n_planes/seed) beside NEW vectors — a probe-able inconsistent index
    that silently returns near-zero recall (probe signatures computed in
    a different space than the stored partitions)."""
    from sparkocr.checkpoint import _fs

    _, fs, jpath = _fs(spark, f"{path}/meta")
    fs.delete(jpath, True)  # recursive; False (absent) is fine


def _read_meta(spark: SparkSession, path: str):
    try:
        return spark.read.parquet(f"{path}/meta").first()
    except Exception as e:
        from sparkocr.checkpoint import _fs

        # a compact that crashed inside its swap window leaves meta/
        # deleted but a pending marker behind — that state resumes in
        # seconds; telling the operator to "rebuild the index" here would
        # cost a full re-shuffle of the corpus (and the rebuild's delta
        # hygiene would delete the recoverable pending state)
        try:
            _, fs, ppath = _fs(spark, f"{path}/compact_pending.json")
            pending = fs.exists(ppath)
        except Exception:
            pending = False
        if pending:
            raise ValueError(
                f"ANN index at {path} is mid-compact (a compact crashed "
                "inside its swap window): call compact_index(spark, path) "
                "to resume it — do NOT rebuild"
            ) from e
        raise ValueError(
            f"no complete ANN index at {path}: meta/ is missing or "
            "unreadable — the build failed mid-way, is still in progress, "
            "or the path is wrong; rebuild the index"
        ) from e


def _check_vectors_nonempty(spark: SparkSession, path: str, builder: str) -> None:
    """partitionBy over zero rows writes only _SUCCESS: a probe would
    later die with an opaque UNABLE_TO_INFER_SCHEMA — fail loudly at
    build time instead. Detected AFTER the write (a footer-only driver
    read), not with a pre-write isEmpty(), which is an extra action
    recomputing the whole upstream DAG just to improve an error message.
    Only the schema-inference signature is relabelled as empty input; any
    other read failure (FS, permissions, corruption) propagates as-is."""
    try:
        spark.read.parquet(f"{path}/vectors")
    except Exception as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            raise ValueError(
                f"{builder}: input table has no rows — nothing was indexed"
            ) from e
        raise


_COMMIT_NAME_RE = re.compile(r"^([A-Za-z0-9][A-Za-z0-9._-]{0,127})\.json$")


def _commit_dir(path: str) -> str:
    return f"{path}/deltas/_commits"


def _delta_path(path: str, append_id: str) -> str:
    return f"{path}/deltas/{append_id}"


def _delete_dir(spark: SparkSession, path_str: str) -> None:
    from sparkocr.checkpoint import _fs

    _, fs, jpath = _fs(spark, path_str)
    fs.delete(jpath, True)  # recursive; absent → false, fine


def vacuum_index(
    spark: SparkSession, path: str, min_age_hours: float = 24.0
) -> dict:
    """Reclaim markerless orphan delta datasets — appends that died
    mid-write and were retried under a DIFFERENT append_id (a same-id
    retry overwrites its own partial files; compaction only drops
    COMMITTED ids). Orphans are invisible to probes but are full-size
    parquet that nothing else ever deletes short of a rebuild.

    An IN-FLIGHT append is itself a markerless delta, so deleting every
    markerless dir would destroy a concurrent append's partial write.
    Guard: only orphans whose newest modification time (the delta dir
    and its direct partition children — a file landing in ``sig=x/``
    bumps that child dir's mtime) is older than ``min_age_hours`` are
    reclaimed; anything younger is reported under ``skipped_recent`` and
    left for the next vacuum. No real append runs for 24 h, so the
    default clears every true orphan while a live append stays safe.
    Pass ``min_age_hours=0`` only when provably no append is in flight.

    Returns ``{"reclaimed": [...], "skipped_recent": [...]}``."""
    import time

    from sparkocr.checkpoint import _fs

    _, fs, droot = _fs(spark, f"{path}/deltas")
    if not fs.exists(droot):
        return {"reclaimed": [], "skipped_recent": []}
    committed = {mk["append_id"] for mk in _committed_appends(spark, path)}
    cutoff_ms = (time.time() - min_age_hours * 3600.0) * 1000.0
    reclaimed, skipped = [], []
    for st in fs.listStatus(droot):
        name = st.getPath().getName()
        if name == "_commits" or not st.isDirectory():
            continue
        if name in committed:
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


def _write_json_atomic(spark: SparkSession, path_str: str, payload: dict) -> None:
    """Module-level seam (tests crash it to simulate a death between the
    delta write and the commit); IO itself is checkpoint.py's shared
    tmp-write + delete/rename publish discipline."""
    from sparkocr.checkpoint import publish_json_atomic

    publish_json_atomic(spark, path_str, payload)


def _committed_appends(spark: SparkSession, path: str) -> list[dict]:
    """Commit markers of completed appends, sorted by append_id (stable
    probe plans). Non-conforming names (editor backups, .tmp staging) are
    skipped; an UNPARSEABLE marker, or one whose append_id is missing or
    does not match its file name, raises — silently skipping it would
    drop that append's rows from every probe, and a mismatched id would
    make probes scan the wrong delta directory."""
    from sparkocr.checkpoint import _fs, read_json_fs

    jvm, fs, cdir = _fs(spark, _commit_dir(path))
    if not fs.exists(cdir):
        return []
    out = []
    for st in fs.listStatus(cdir):
        name = st.getPath().getName()
        m = _COMMIT_NAME_RE.match(name)
        if not m:
            continue
        try:
            payload = read_json_fs(jvm, fs, str(st.getPath()))
        except ValueError as e:
            raise ValueError(
                f"corrupt append commit marker {st.getPath()}: the append's "
                "rows would silently vanish from probes — delete the marker "
                "(and its deltas/ dir) or restore it, then retry"
            ) from e
        if payload.get("append_id") != m.group(1):
            raise ValueError(
                f"append commit marker {st.getPath()} names append_id "
                f"{payload.get('append_id')!r} but is filed as {m.group(1)!r} "
                "— a hand-edited or misplaced marker; fix or delete it"
            )
        out.append(payload)
    out.sort(key=lambda d: d["append_id"])
    return out


def _drop_append(spark: SparkSession, path: str, append_id: str) -> None:
    """Remove one append's delta dataset and its commit marker — marker
    FIRST: a crash between the two leaves a markerless orphan dataset
    (invisible to probes, same as an append that died mid-write), never a
    committed marker pointing at a deleted dataset, which would crash
    every probe's scan."""
    _delete_dir(spark, f"{_commit_dir(path)}/{append_id}.json")
    _delete_dir(spark, _delta_path(path, append_id))


def _scan_vectors(spark: SparkSession, path: str, flt) -> DataFrame:
    """The probe-side scan: base vectors plus every committed non-empty
    delta, each with the SAME partition filter (pruning applies per scan
    root — sig=/cell= discovery runs under each delta dir exactly as under
    vectors/). Uncommitted deltas (no marker: append in progress or died
    mid-write) are invisible."""
    base = spark.read.parquet(f"{path}/vectors").filter(flt)
    frames = [
        spark.read.parquet(_delta_path(path, mk["append_id"])).filter(flt)
        for mk in _committed_appends(spark, path)
        if mk.get("rows", 0) > 0
    ]
    return reduce(DataFrame.unionByName, frames, base)


def append_to_index(emb: DataFrame, path: str, append_id: str) -> dict:
    """Incrementally add ``emb``'s rows to a built index — the daily-
    increment path a 10^9-vector pipeline needs (a full rebuild re-shuffles
    the entire corpus to add 0.1% new rows). Rows are stamped with the
    index's OWN stored parameters (re-seeded planes / persisted centroids,
    never re-derived from data), written as ``deltas/<append_id>/`` in the
    same partition layout, then committed with an atomic marker.

    Semantics: exactly-once per ``append_id`` — re-running a committed id
    is a no-op (``{"skipped": True}``), re-running a crashed one
    overwrites its partial files; a delta without a marker is invisible to
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
    m = _read_meta(spark, path)  # refuses half-built indexes by design
    for mk in _committed_appends(spark, path):
        if mk.get("append_id") == append_id:
            return {"append_id": append_id, "rows": mk.get("rows", 0), "skipped": True}
    if m["kind"] == "lsh":
        planes = hyperplanes(m["dim"], m["n_planes"], m["seed"])
        stamped = emb.withColumn("sig", lsh_signature_col(F.col("embedding"), planes))
        pcol = "sig"
    elif m["kind"] == "ivf":
        cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell_id").collect()
        cents = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
        stamped = emb.withColumn("cell", ivf_cell_col(F.col("embedding"), cents))
        pcol = "cell"
    else:
        raise ValueError(f"index at {path} has unknown kind={m['kind']}")
    dpath = _delta_path(path, append_id)
    stamped.repartition(pcol).write.mode("overwrite").partitionBy(pcol).parquet(dpath)
    try:
        rows = spark.read.parquet(dpath).count()  # footer-only metadata count
    except Exception as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        rows = 0  # empty increment: committed as a zero-row marker
    if rows:
        delta = spark.read.parquet(dpath)
        # column-set check BEFORE commit: probes union every committed
        # delta with unionByName, so a delta whose columns differ from the
        # base (the daily job added/renamed one) would crash every future
        # probe — far from the append that caused it — until someone
        # hand-deletes the marker. Fail the append instead.
        base_cols = set(spark.read.parquet(f"{path}/vectors").columns)
        delta_cols = set(delta.columns)
        if delta_cols != base_cols:
            _delete_dir(spark, dpath)
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
        # its rows sit in sig 0 / a junk cell and every probe's
        # size(embedding)==dim restriction already screens them out.
        if delta.where(F.col("embedding").isNotNull()).limit(1).count():
            got = detect_dim(delta)
            if got != m["dim"]:
                _delete_dir(spark, dpath)
                raise ValueError(
                    f"append_to_index: increment dim {got} != index dim "
                    f"{m['dim']} — delta discarded, nothing committed"
                )
    _write_json_atomic(
        spark,
        f"{_commit_dir(path)}/{append_id}.json",
        {"append_id": append_id, "kind": m["kind"], "dim": int(m["dim"]), "rows": int(rows)},
    )
    return {"append_id": append_id, "rows": int(rows), "skipped": False}


def compact_index(spark: SparkSession, path: str) -> dict:
    """Fold committed deltas back into ``vectors/`` (bounding the probe's
    scan-root count). Crash-safe via a pending marker: the merged copy is
    fully written to a side directory FIRST, then the swap runs under the
    meta-invalidation discipline (probes refuse the index only during the
    swap window), and a crashed swap resumes from the marker on the next
    call. The marker records exactly WHICH append_ids the side copy
    folded, and the swap deletes only those — an append committed after
    the marker (e.g. the next daily increment landing while the crashed
    compact waits for its resume) keeps its delta and stays visible; a
    blanket deltas/ wipe here would silently drop its rows.

    Returns ``{"compacted": n_deltas, "rows": total}``."""
    from sparkocr.checkpoint import _fs, read_json_fs

    pending_path = f"{path}/compact_pending.json"
    jvm, fs, ppath = _fs(spark, pending_path)
    tmp_dir = f"{path}/vectors_compacting"
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp_dir)
    vec_p = jvm.org.apache.hadoop.fs.Path(f"{path}/vectors")
    meta_p = jvm.org.apache.hadoop.fs.Path(f"{path}/meta")

    def _swap_and_commit(meta_kv: dict, folded: list[str]) -> None:
        # steps are individually idempotent; guarded by tmp existence so a
        # resume can never delete the live vectors without a replacement
        if fs.exists(tmp_p):
            _invalidate_meta(spark, path)
            fs.delete(vec_p, True)
            if not fs.rename(tmp_p, vec_p):
                raise IOError(f"compact swap failed: rename {tmp_dir}")
        for aid in folded:
            _drop_append(spark, path, aid)
        if not fs.exists(meta_p):
            _write_meta(spark, path, **meta_kv)
        fs.delete(ppath, False)

    if fs.exists(ppath):
        # resume a crashed compact (or clear a stale marker): the marker
        # is only ever written AFTER the side copy is complete
        pend = read_json_fs(jvm, fs, pending_path)
        if "meta" not in pend or "folded" not in pend:
            raise ValueError(
                f"pending compact marker {pending_path} does not record "
                "which appends its side copy folded (written by an older "
                "build, or hand-edited) — resuming blindly would either "
                "drop later appends or double-count folded ones; delete "
                f"the marker and {tmp_dir}, then re-run compact_index"
            )
        _swap_and_commit(pend["meta"], pend["folded"])
        return {"compacted": len(pend["folded"]), "rows": None, "resumed": True}

    # a compact that died BEFORE publishing its marker leaves a full-size
    # orphan side copy; nothing references it, so clear it on every fresh
    # compact (including the early-return paths below)
    _delete_dir(spark, tmp_dir)

    m = _read_meta(spark, path)
    all_marks = _committed_appends(spark, path)
    marks = [mk for mk in all_marks if mk.get("rows", 0) > 0]
    if not all_marks:
        return {"compacted": 0, "rows": None}
    folded = [mk["append_id"] for mk in all_marks]
    if not marks:
        # only zero-row appends: nothing to merge — just clear the markers
        for aid in folded:
            _drop_append(spark, path, aid)
        return {"compacted": len(all_marks), "rows": None}
    pcol = "sig" if m["kind"] == "lsh" else "cell"
    base = spark.read.parquet(f"{path}/vectors")
    frames = [spark.read.parquet(_delta_path(path, mk["append_id"])) for mk in marks]
    merged = reduce(DataFrame.unionByName, frames, base)
    merged.repartition(pcol).write.mode("overwrite").partitionBy(pcol).parquet(tmp_dir)
    _write_json_atomic(
        spark, pending_path, {"meta": m.asDict(), "folded": folded}
    )
    _swap_and_commit(m.asDict(), folded)
    rows = spark.read.parquet(f"{path}/vectors").count()
    return {"compacted": len(all_marks), "rows": int(rows)}


def build_lsh_index(
    emb: DataFrame,
    path: str,
    n_planes: int = N_PLANES,
    seed: int = _SEED,
    dim: int | None = None,
) -> None:
    """Materialize ``emb`` partitioned by LSH signature at ``path``."""
    if dim is None:
        dim = detect_dim(emb)
    planes = hyperplanes(dim, n_planes, seed)
    spark = emb.sparkSession
    _invalidate_meta(spark, path)  # meta last: no probe-able half-index
    # a REBUILD over an appended index must not leave stale deltas: the
    # new base may re-include their rows (duplicates) or carry different
    # parameters (junk partitions); same for a dead compact's leftovers
    _delete_dir(spark, f"{path}/deltas")
    _delete_dir(spark, f"{path}/compact_pending.json")
    _delete_dir(spark, f"{path}/vectors_compacting")
    sigged = emb.withColumn("sig", lsh_signature_col(F.col("embedding"), planes))
    sigged.repartition("sig").write.mode("overwrite").partitionBy("sig").parquet(
        f"{path}/vectors"
    )
    _check_vectors_nonempty(spark, path, "build_lsh_index")
    _write_meta(spark, path, kind="lsh", dim=dim, n_planes=n_planes, seed=seed)


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
    m = _read_meta(spark, path)
    if m["kind"] != "lsh":
        raise ValueError(f"index at {path} is kind={m['kind']}, expected lsh")
    if len(query) != m["dim"]:
        # same caller bug ivf_topk names: without this the probe dies in
        # np.dot with an opaque shapes-not-aligned error
        raise ValueError(
            f"lsh_topk_indexed: query dim {len(query)} != index dim {m['dim']}"
        )
    planes = hyperplanes(m["dim"], m["n_planes"], m["seed"])
    qv = np.asarray(query, dtype=float)
    qsig = 0
    for i, p in enumerate(planes):
        if float(np.dot(qv, p)) > 0:
            qsig |= 1 << i
    probe_sigs = _sig_ball(qsig, m["n_planes"], hamming)
    # size==dim mirrors lsh_topk: null / wrong-dim rows are zero-filled
    # into sig 0 at build, so a ball containing 0 would surface them as
    # null-cosine junk whenever k exceeds the real match count
    vecs = _scan_vectors(
        spark,
        path,
        F.col("sig").isin(probe_sigs) & (F.size("embedding") == int(m["dim"])),
    )
    q = F.array(*[F.lit(float(v)) for v in query])
    return (
        vecs.select(
            "vec_id",
            F.round(cosine_expr(_as_double(F.col("embedding")), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


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
    from meta, never re-derived), the increment's distinct signatures
    are collected driver-side, and the index scan is partition-pruned to
    exactly those sig= directories (base + committed deltas). The sig
    collect is bounded by min(n_new, 2^n_planes) — 4,096 at the DEFAULT
    12 planes, but an index built with more planes admits up to n_new
    distinct values, so the collect is guarded by ``max_probe_sigs``
    (a million-literal isin would melt the planner before the scan ever
    ran): past the bound, chunk the increment or run the full operator.
    Index copies of the increment's vec_ids are excluded from the old
    side, so the operator is correct before or after ``append_to_index``
    of the same increment. Wrong-dim / null embeddings on either side
    are screened by the same ``size(embedding) == dim`` restriction as
    every probe (and as ``embedding_near_dups`` itself applies), so the
    two paths see identical bucket membership.

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
    m = _read_meta(spark, path)
    if m["kind"] != "lsh":
        raise ValueError(f"index at {path} is kind={m['kind']}, expected lsh")
    planes = hyperplanes(m["dim"], m["n_planes"], m["seed"])
    dim = int(m["dim"])
    from sparkocr.pipeline import caching

    sig_new = caching.register(
        new_emb.filter(F.size("embedding") == dim).withColumn(
            "sig", lsh_signature_col(F.col("embedding"), planes)
        )
    )
    probe_sigs = [
        r["sig"]
        for r in sig_new.select("sig").distinct().limit(max_probe_sigs + 1).collect()
    ]
    if not probe_sigs:
        return spark.createDataFrame(
            [], "id1 long, id2 long, cosine double"
        )
    if len(probe_sigs) > max_probe_sigs:
        raise ValueError(
            f"near_dups_indexed: the increment touches more than "
            f"{max_probe_sigs} distinct signatures — the pruning isin "
            "literal would overwhelm the planner; chunk the increment, "
            "raise max_probe_sigs deliberately, or run "
            "similarity.embedding_near_dups over the combined corpus"
        )
    new_ids = sig_new.select("vec_id")
    old = _scan_vectors(
        spark, path, F.col("sig").isin(probe_sigs) & (F.size("embedding") == dim)
    ).join(F.broadcast(new_ids), "vec_id", "left_anti")
    if bucket_max is not None:
        # the cap branch reads `old` twice (counts + join): cache the
        # pruned scan so the partition listing + anti-join run once
        old = caching.register(old)
        sig_new = cap_hot_buckets(
            sig_new, ["sig"], bucket_max, cap_metrics,
            counts=combined_counts(sig_new, old, ["sig"]), broadcast_small=True,
        )

    def _pairs(a, b, strict):
        cond = F.col("a.sig") == F.col("b.sig")
        cond = cond & (
            (F.col("a.vec_id") < F.col("b.vec_id"))
            if strict
            else (F.col("a.vec_id") != F.col("b.vec_id"))
        )
        return (
            a.alias("a")
            .join(b.alias("b"), cond)
            .select(
                F.least("a.vec_id", "b.vec_id").alias("id1"),
                F.greatest("a.vec_id", "b.vec_id").alias("id2"),
                F.round(
                    cosine_expr(
                        _as_double(F.col("a.embedding")),
                        _as_double(F.col("b.embedding")),
                    ),
                    6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    new_new = _pairs(sig_new, sig_new, strict=True)
    new_old = _pairs(sig_new, old, strict=False)
    return new_new.unionByName(new_old)


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    trainer=ivf_centroids_kmeans,
) -> None:
    """Materialize ``emb`` partitioned by IVF cell at ``path``; centroids
    (from ``trainer(emb, n_cells)``) are persisted so probes replay the
    exact assignment."""
    cents = np.asarray(trainer(emb, n_cells), dtype=np.float64)
    spark = emb.sparkSession
    _invalidate_meta(spark, path)  # meta last: no probe-able half-index
    _delete_dir(spark, f"{path}/deltas")  # same rebuild hygiene as LSH
    _delete_dir(spark, f"{path}/compact_pending.json")
    _delete_dir(spark, f"{path}/vectors_compacting")
    celled = emb.withColumn("cell", ivf_cell_col(F.col("embedding"), cents))
    celled.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/vectors"
    )
    # the default trainer rejects an empty table before anything is
    # written, but a custom trainer with precomputed centroids would
    # otherwise build a complete, probe-crashing empty index
    _check_vectors_nonempty(spark, path, "build_ivf_index")
    cent_rows = [(int(i), [float(v) for v in c]) for i, c in enumerate(cents)]
    spark.createDataFrame(cent_rows, "cell_id int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    _write_meta(spark, path, kind="ivf", dim=int(cents.shape[1]), n_cells=len(cents))


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a materialized IVF index: exact cosine inside the ``n_probe``
    cells nearest the query, reading ONLY those cell= partitions."""
    m = _read_meta(spark, path)
    if m["kind"] != "ivf":
        raise ValueError(f"index at {path} is kind={m['kind']}, expected ivf")
    if len(query) != m["dim"]:
        raise ValueError(
            f"ivf_topk_indexed: query dim {len(query)} != index dim {m['dim']}"
        )
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell_id").collect()
    cents = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
    qv = np.asarray(query, dtype=np.float64)
    d = ((cents - qv[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]
    # same size==dim restriction ivf_topk applies: zero-filled null /
    # wrong-dim rows got a garbage cell at build time and would surface
    # as null-cosine rows whenever k exceeds the matching-row count —
    # without it the indexed and recompute probes diverge on dirty tables
    vecs = _scan_vectors(
        spark,
        path,
        F.col("cell").isin(probe) & (F.size("embedding") == int(m["dim"])),
    )
    q = F.array(*[F.lit(float(v)) for v in query])
    return (
        vecs.select(
            "vec_id",
            F.round(cosine_expr(_as_double(F.col("embedding")), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )

"""Materialized ANN index: probe results equal the recompute-everything
operators, the probe scan reads ONLY the probed partitions (partition
pruning asserted on the plan), and the trained (k-means) coarse quantizer
beats first-n seeding on clustered data."""

import re

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def query(emb):
    row = emb.filter("vec_id = 0").select("embedding").first()
    return [float(v) for v in row["embedding"]]


@pytest.fixture(scope="module")
def lsh_index(emb, tmp_path_factory):
    from sparkocr.pipeline.ann_index import build_lsh_index

    path = str(tmp_path_factory.mktemp("ann") / "lsh")
    build_lsh_index(emb, path)
    return path


@pytest.fixture(scope="module")
def ivf_index(emb, tmp_path_factory):
    from sparkocr.pipeline.ann_index import build_ivf_index
    from sparkocr.pipeline.similarity import ivf_centroids

    path = str(tmp_path_factory.mktemp("ann") / "ivf")
    # first-n trainer: the probe must then match similarity.ivf_topk exactly
    build_ivf_index(emb, path, n_cells=16, trainer=ivf_centroids)
    return path


def _rows(df):
    return [(r.vec_id, r.cosine) for r in df.collect()]


def test_lsh_indexed_matches_operator(spark, emb, query, lsh_index):
    from sparkocr.pipeline.ann_index import lsh_topk_indexed
    from sparkocr.pipeline.similarity import lsh_topk

    want = _rows(lsh_topk(emb, query, k=10))
    got = _rows(lsh_topk_indexed(spark, lsh_index, query, k=10))
    assert got == want


def test_ivf_indexed_matches_operator(spark, emb, query, ivf_index):
    from sparkocr.pipeline.ann_index import ivf_topk_indexed
    from sparkocr.pipeline.similarity import ivf_topk

    want = _rows(ivf_topk(emb, query, k=10, n_cells=16, n_probe=4))
    got = _rows(ivf_topk_indexed(spark, ivf_index, query, k=10, n_probe=4))
    assert got == want


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_probe_prunes_partitions(spark, query, lsh_index):
    from sparkocr.pipeline.ann_index import lsh_topk_indexed

    plan = _plan(lsh_topk_indexed(spark, lsh_index, query, k=10))
    # the isin on the partition column must land in PartitionFilters (the
    # scan lists only the probed sig= directories), NOT in PushedFilters /
    # a post-scan Filter over all data
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert re.search(r"sig#\d+L? IN", m.group(1)), m.group(1)


def test_ivf_probe_prunes_partitions(spark, query, ivf_index):
    from sparkocr.pipeline.ann_index import ivf_topk_indexed

    plan = _plan(ivf_topk_indexed(spark, ivf_index, query, k=10, n_probe=4))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert re.search(r"cell#\d+ IN", m.group(1)), m.group(1)


def test_lsh_index_one_file_per_signature(lsh_index):
    # repartition("sig") before partitionBy: each sig= directory holds ONE
    # parquet file, not one per input task (the small-files explosion)
    import os

    vdir = f"{lsh_index}/vectors"
    sig_dirs = [d for d in os.listdir(vdir) if d.startswith("sig=")]
    assert sig_dirs
    for d in sig_dirs:
        files = [f for f in os.listdir(os.path.join(vdir, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_kmeans_centroids_beat_first_n_on_clustered_data(spark, tmp_path):
    """8 well-separated gaussian clusters, with the low vec_ids all drawn
    from ONE cluster — first-n seeding then wastes most cells on one blob
    while k-means recovers the true structure, so probe recall@10 against
    brute force must be strictly better."""
    from sparkocr.pipeline.ann_index import build_ivf_index, ivf_topk_indexed
    from sparkocr.pipeline.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_centroids_kmeans,
    )

    # noise 2.5 vs center scale 5: wide clusters, so the near-duplicate
    # first-n centroids (all from cluster 0) scatter each true cluster's
    # members across several cells and a 1-cell probe misses most of the
    # top-10; trained centroids recover the 8 real cells (margin verified
    # against a numpy model: 0.4 vs 1.0 at this seed)
    rng = np.random.RandomState(3)
    centers = rng.randn(8, 16) * 5.0
    rows = []
    vid = 0
    # first 64 ids: cluster 0 only (poisons first-n seeding)
    for _ in range(64):
        rows.append((vid, [float(v) for v in centers[0] + rng.randn(16) * 2.5]))
        vid += 1
    for c in range(1, 8):
        for _ in range(64):
            rows.append((vid, [float(v) for v in centers[c] + rng.randn(16) * 2.5]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [float(v) for v in centers[5] + rng.randn(16) * 2.5]
    exact = {r.vec_id for r in cosine_topk(emb, query, k=10).collect()}

    def recall(trainer):
        path = str(tmp_path / trainer.__name__)
        build_ivf_index(emb, path, n_cells=8, trainer=trainer)
        got = {
            r.vec_id
            for r in ivf_topk_indexed(spark, path, query, k=10, n_probe=1).collect()
        }
        return len(got & exact) / 10

    r_first = recall(ivf_centroids)
    r_kmeans = recall(ivf_centroids_kmeans)
    assert r_kmeans == 1.0, r_kmeans  # the true cluster is one cell
    assert r_first < 1.0, r_first  # degenerate seeding demonstrably loses
    assert r_kmeans > r_first, (r_kmeans, r_first)


def test_kmeans_centroids_deterministic(spark):
    from sparkocr.pipeline.similarity import ivf_centroids_kmeans

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = ivf_centroids_kmeans(emb, n_cells=8, sample_size=128)
    # repartitioned input must give the identical centroids (hash-ordered
    # sample, not partition-order sample)
    b = ivf_centroids_kmeans(emb.repartition(7), n_cells=8, sample_size=128)
    assert np.array_equal(a, b)


def test_empty_table_rejected_at_build(spark, tmp_path):
    """An index over zero rows writes only _SUCCESS; the probe would later
    die with an opaque UNABLE_TO_INFER_SCHEMA — both builders must fail
    loudly up front instead."""
    from sparkocr.pipeline.ann_index import build_ivf_index, build_lsh_index

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no rows"):
        build_lsh_index(empty, str(tmp_path / "lsh"), dim=8)
    with pytest.raises(ValueError, match="no non-null embeddings"):
        build_ivf_index(empty, str(tmp_path / "ivf"), n_cells=4)


def test_wrong_kind_rejected(spark, query, lsh_index):
    from sparkocr.pipeline.ann_index import ivf_topk_indexed

    with pytest.raises(ValueError, match="kind=lsh"):
        ivf_topk_indexed(spark, lsh_index, query)


def test_wrong_query_dim_rejected(spark, query, lsh_index, ivf_index):
    """A query of the wrong dimension must get a named error naming both
    dims — not an opaque numpy shapes-not-aligned / broadcast failure from
    inside the probe (parity with similarity.ivf_topk's guard)."""
    from sparkocr.pipeline.ann_index import ivf_topk_indexed, lsh_topk_indexed

    short = query[: len(query) // 2]
    with pytest.raises(ValueError, match=f"query dim {len(short)} != index dim {len(query)}"):
        lsh_topk_indexed(spark, lsh_index, short)
    with pytest.raises(ValueError, match=f"query dim {len(short)} != index dim {len(query)}"):
        ivf_topk_indexed(spark, ivf_index, short)


def test_interrupted_rebuild_leaves_no_probeable_index(spark, emb, query, tmp_path, monkeypatch):
    """meta/ is written LAST and deleted FIRST: a rebuild that dies after
    overwriting vectors/ must leave an index that probes REFUSE loudly —
    with the old write order the stale meta (old n_planes/seed) survived
    beside the new vectors and probes silently computed signatures in the
    wrong space (near-zero recall, no error)."""
    from sparkocr.pipeline import ann_index

    path = str(tmp_path / "lsh")
    ann_index.build_lsh_index(emb, path, n_planes=8)
    assert len(ann_index.lsh_topk_indexed(spark, path, query, k=3).collect()) > 0

    def boom(*a, **kw):
        raise RuntimeError("driver died before meta publish")

    monkeypatch.setattr(ann_index, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="meta publish"):
        ann_index.build_lsh_index(emb, path, n_planes=12)  # rebuild, new space
    monkeypatch.undo()
    with pytest.raises(ValueError, match="no complete ANN index"):
        ann_index.lsh_topk_indexed(spark, path, query, k=3)
    # a clean rebuild recovers
    ann_index.build_lsh_index(emb, path, n_planes=12)
    assert len(ann_index.lsh_topk_indexed(spark, path, query, k=3).collect()) > 0


def test_empty_input_rejected_even_with_custom_trainer(spark, tmp_path):
    """The default IVF trainer rejects an empty table before anything is
    written, but a custom trainer with precomputed centroids used to build
    a complete, probe-crashing empty index — the post-write emptiness
    check must catch it builder-agnostically."""
    from sparkocr.pipeline.ann_index import build_ivf_index

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    cents = [[1.0] * 8, [-1.0] * 8]
    with pytest.raises(ValueError, match="no rows"):
        build_ivf_index(empty, str(tmp_path / "ivf"), n_cells=2,
                        trainer=lambda df, n: cents)


def test_indexed_probes_match_operators_on_dirty_table(spark, emb, query, tmp_path):
    """Null / wrong-dim embeddings are zero-filled into sig 0 / a garbage
    cell at build time; with k above the real match count they used to
    surface as null-cosine junk from the INDEXED probes only, diverging
    from the recompute operators. Both paths must now exclude them and
    agree row-for-row."""
    from sparkocr.pipeline.ann_index import (
        build_ivf_index, build_lsh_index, ivf_topk_indexed, lsh_topk_indexed,
    )
    from sparkocr.pipeline.similarity import ivf_centroids, ivf_topk, lsh_topk

    dim = len(query)
    junk = spark.createDataFrame(
        [(10_000, None), (10_001, [1.0] * (dim // 2)), (10_002, [0.5] * (dim * 2))],
        "vec_id long, embedding array<float>",
    )
    dirty = emb.select("vec_id", "embedding").unionByName(junk)
    k = dirty.count() + 5  # force k past the matching-row count

    lsh_path, ivf_path = str(tmp_path / "lsh"), str(tmp_path / "ivf")
    build_lsh_index(dirty, lsh_path, dim=dim)
    build_ivf_index(dirty, ivf_path, n_cells=4, trainer=ivf_centroids)

    got_lsh = lsh_topk_indexed(spark, lsh_path, query, k=k).collect()
    want_lsh = lsh_topk(dirty, query, k=k).collect()
    assert [(r.vec_id, r.cosine) for r in got_lsh] == [(r.vec_id, r.cosine) for r in want_lsh]
    assert all(r.cosine is not None for r in got_lsh)
    assert all(r.vec_id < 10_000 for r in got_lsh)

    got_ivf = ivf_topk_indexed(spark, ivf_path, query, k=k, n_probe=4).collect()
    want_ivf = ivf_topk(dirty, query, k=k, n_probe=4, n_cells=4, dim=dim).collect()
    assert [(r.vec_id, r.cosine) for r in got_ivf] == [(r.vec_id, r.cosine) for r in want_ivf]
    assert all(r.cosine is not None for r in got_ivf)


# ---- incremental appends -------------------------------------------------


def _append_fixture(spark, emb, tmp_path, kind):
    """Build an index over the even vec_ids, return (path, odd-half df)."""
    from sparkocr.pipeline.ann_index import build_ivf_index, build_lsh_index
    from sparkocr.pipeline.similarity import ivf_centroids

    base = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    path = str(tmp_path / f"{kind}_appendable")
    if kind == "lsh":
        build_lsh_index(base, path)
    else:
        build_ivf_index(base, path, n_cells=16, trainer=ivf_centroids)
    return path, rest


def test_lsh_append_probe_equals_full_build(spark, emb, query, tmp_path):
    """build(half) + append(half) must probe identically to build(full):
    the appended rows are stamped with the index's stored planes, so the
    signature space is the same space."""
    from sparkocr.pipeline.ann_index import (
        append_to_index,
        build_lsh_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    r = append_to_index(rest, path, "inc-001")
    assert r["skipped"] is False and r["rows"] == rest.count()
    full_path = str(tmp_path / "lsh_full")
    build_lsh_index(emb, full_path)
    got = _rows(lsh_topk_indexed(spark, path, query, k=10))
    want = _rows(lsh_topk_indexed(spark, full_path, query, k=10))
    assert got == want
    # idempotence: the same append_id is a committed no-op
    r2 = append_to_index(rest, path, "inc-001")
    assert r2["skipped"] is True and r2["rows"] == r["rows"]
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want


def test_ivf_append_finds_appended_vectors(spark, emb, tmp_path):
    """IVF appends keep the trained centroids fixed; an appended vector
    queried for itself must come back as its own top-1 (cell assignment
    replayed from the persisted centroids, not re-derived)."""
    from sparkocr.pipeline.ann_index import append_to_index, ivf_topk_indexed

    path, rest = _append_fixture(spark, emb, tmp_path, "ivf")
    append_to_index(rest, path, "day-2026.08.18")
    probe_row = rest.filter("embedding is not null").orderBy("vec_id").first()
    q = [float(v) for v in probe_row["embedding"]]
    top = ivf_topk_indexed(spark, path, q, k=1, n_probe=4).collect()
    assert top and top[0].vec_id == probe_row["vec_id"], top


def test_uncommitted_delta_is_invisible(spark, emb, query, tmp_path, monkeypatch):
    """An append that dies after writing its delta but before the commit
    marker must leave probe results unchanged — and retrying the same
    append_id afterwards completes it."""
    from sparkocr.pipeline import ann_index
    from sparkocr.pipeline.ann_index import append_to_index, lsh_topk_indexed

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    before = _rows(lsh_topk_indexed(spark, path, query, k=10))

    def boom(*a, **kw):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(ann_index, "_write_json_atomic", boom)
    with pytest.raises(RuntimeError):
        append_to_index(rest, path, "inc-crash")
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == before
    monkeypatch.undo()
    r = append_to_index(rest, path, "inc-crash")
    assert r["skipped"] is False and r["rows"] > 0


def test_append_rejects_wrong_dim_and_bad_id(spark, emb, tmp_path):
    from pyspark.sql import functions as F

    from sparkocr.pipeline.ann_index import append_to_index, lsh_topk_indexed

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    wrong = rest.withColumn(
        "embedding", F.expr("slice(embedding, 1, 3)")
    )
    with pytest.raises(ValueError, match="dim"):
        append_to_index(wrong, path, "inc-wrongdim")
    # the discarded delta must not have been committed
    from sparkocr.pipeline.ann_index import _committed_appends

    assert all(
        mk["append_id"] != "inc-wrongdim" for mk in _committed_appends(spark, path)
    )
    with pytest.raises(ValueError, match="append_id"):
        append_to_index(rest, path, "../escape")


def test_append_probe_still_prunes_partitions(spark, emb, query, tmp_path):
    """Every scan root (base AND delta) must keep the partition filter —
    an append must not regress the probe into a full-table scan."""
    from sparkocr.pipeline.ann_index import append_to_index, lsh_topk_indexed

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-prune")
    plan = _plan(lsh_topk_indexed(spark, path, query, k=10))
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len(filters) == 2, plan  # base + one delta
    for f in filters:
        assert re.search(r"sig#\d+L? IN", f), f


def test_compact_folds_deltas_and_resumes(spark, emb, query, tmp_path, monkeypatch):
    """compact_index merges deltas into vectors/ (probe unchanged, deltas
    gone) and a compact killed mid-swap resumes losslessly from its
    pending marker on the next call."""
    import os

    from sparkocr.pipeline import ann_index
    from sparkocr.pipeline.ann_index import (
        append_to_index,
        compact_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-a")
    want = _rows(lsh_topk_indexed(spark, path, query, k=10))
    r = compact_index(spark, path)
    assert r["compacted"] == 1 and r["rows"] == emb.count()
    # folded appends fully dropped (dataset + marker); the deltas/ root may
    # keep empty scaffolding — a blanket wipe would kill in-flight appends
    from sparkocr.pipeline.ann_index import _committed_appends

    assert _committed_appends(spark, path) == []
    assert not os.path.exists(f"{path}/deltas/inc-a")
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want

    # crash the NEXT compact right after the pending marker is published
    # (side copy complete, swap not yet run) and resume it
    append_to_index(emb.filter("vec_id < 0"), path, "inc-empty")  # zero rows
    append_to_index(rest.limit(5), path, "inc-b")
    want2 = _rows(lsh_topk_indexed(spark, path, query, k=10))
    real_write = ann_index._write_json_atomic

    def write_then_boom(spark_, p, payload):
        real_write(spark_, p, payload)
        if p.endswith("compact_pending.json"):
            raise RuntimeError("killed mid-compact")

    monkeypatch.setattr(ann_index, "_write_json_atomic", write_then_boom)
    with pytest.raises(RuntimeError):
        compact_index(spark, path)
    monkeypatch.undo()
    # swap did not run: the index still probes (old meta intact) pre-resume
    resumed = compact_index(spark, path)
    assert resumed.get("resumed") is True
    assert _committed_appends(spark, path) == []
    assert not os.path.exists(f"{path}/deltas/inc-b")
    assert not os.path.exists(f"{path}/compact_pending.json")
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want2


def test_rebuild_clears_stale_deltas(spark, emb, query, tmp_path):
    """Rebuilding over an appended index must drop the old deltas — the
    new base re-includes their rows, so keeping them would double-count."""
    from sparkocr.pipeline.ann_index import (
        append_to_index,
        build_lsh_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-stale")
    build_lsh_index(emb, path)  # full rebuild, includes rest's rows
    full_path = str(tmp_path / "lsh_full_rebuild")
    build_lsh_index(emb, full_path)
    got = _rows(lsh_topk_indexed(spark, path, query, k=10))
    assert got == _rows(lsh_topk_indexed(spark, full_path, query, k=10))


def test_append_committed_during_pending_window_survives_resume(
    spark, emb, query, tmp_path, monkeypatch
):
    """The data-loss scenario a blanket deltas/ wipe would cause: compact
    crashes right after publishing its pending marker, the NEXT daily
    append commits normally, and the eventual resume must fold only the
    appends the marker recorded — the newer append's rows stay probeable."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline import ann_index
    from sparkocr.pipeline.ann_index import (
        append_to_index,
        compact_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    first = rest.filter("vec_id % 4 = 1")
    late = rest.filter("vec_id % 4 = 3")
    append_to_index(first, path, "inc-early")

    real_write = ann_index._write_json_atomic

    def write_then_boom(spark_, p, payload):
        real_write(spark_, p, payload)
        if p.endswith("compact_pending.json"):
            raise RuntimeError("killed mid-compact")

    monkeypatch.setattr(ann_index, "_write_json_atomic", write_then_boom)
    with pytest.raises(RuntimeError):
        compact_index(spark, path)
    monkeypatch.undo()

    # the next increment lands while the crashed compact awaits its resume
    r = append_to_index(late, path, "inc-late")
    assert r["rows"] == late.count() > 0
    want = _rows(lsh_topk_indexed(spark, path, query, k=10))

    resumed = compact_index(spark, path)
    assert resumed.get("resumed") is True
    # only the folded append was dropped; the late one still probes
    from sparkocr.pipeline.ann_index import _committed_appends

    left = [mk["append_id"] for mk in _committed_appends(spark, path)]
    assert left == ["inc-late"]
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want
    # a follow-up compact folds the survivor too
    compact_index(spark, path)
    assert _committed_appends(spark, path) == []
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want


def test_append_rejects_schema_drift_uncommitted(spark, emb, tmp_path):
    """An increment whose column set differs from the base must fail the
    APPEND (uncommitted), not crash every later probe's unionByName."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline.ann_index import (
        _committed_appends,
        append_to_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    drifted = rest.withColumn("source", F.lit("daily-job"))
    with pytest.raises(ValueError, match="columns differ"):
        append_to_index(drifted, path, "inc-drift")
    assert all(
        mk["append_id"] != "inc-drift" for mk in _committed_appends(spark, path)
    )


def test_all_null_embedding_append_accepted(spark, emb, query, tmp_path):
    """Rows with only null embeddings have no dimension: the dim check
    must not fire its global fallback against them (build accepts such
    rows; probes screen them via size(embedding)==dim)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType

    from sparkocr.pipeline.ann_index import append_to_index, lsh_topk_indexed

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    before = _rows(lsh_topk_indexed(spark, path, query, k=10))
    nulls = rest.limit(7).withColumn(
        "embedding", F.lit(None).cast(ArrayType(DoubleType()))
    )
    r = append_to_index(nulls, path, "inc-nulls")
    assert r["skipped"] is False and r["rows"] == 7
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == before


def test_mismatched_marker_id_raises(spark, emb, tmp_path):
    """A commit marker filed under one name but naming another append_id
    (hand-edited / misplaced) must raise loudly, not scan a wrong dir."""
    import json as _json
    import os

    from sparkocr.pipeline.ann_index import _committed_appends, append_to_index

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-real")
    bad = os.path.join(path, "deltas", "_commits", "inc-fake.json")
    with open(bad, "w") as f:
        _json.dump({"append_id": "somewhere-else", "rows": 5}, f)
    with pytest.raises(ValueError, match="filed as"):
        _committed_appends(spark, path)


def test_probe_error_during_swap_window_points_to_resume(
    spark, emb, query, tmp_path
):
    """A compact crash INSIDE the swap (meta deleted, pending marker
    present) must tell the operator to resume, not to rebuild — and the
    resume must restore a probeable index."""
    from sparkocr.pipeline import ann_index
    from sparkocr.pipeline.ann_index import (
        _write_json_atomic,
        append_to_index,
        compact_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-swap")
    want = _rows(lsh_topk_indexed(spark, path, query, k=10))
    # reproduce the crashed-swap state: side copy complete, pending marker
    # published, meta invalidated, vectors swap not yet finished
    m = ann_index._read_meta(spark, path)
    base = spark.read.parquet(f"{path}/vectors")
    delta = spark.read.parquet(f"{path}/deltas/inc-swap")
    base.unionByName(delta).repartition("sig").write.mode("overwrite").partitionBy(
        "sig"
    ).parquet(f"{path}/vectors_compacting")
    _write_json_atomic(
        spark,
        f"{path}/compact_pending.json",
        {"meta": m.asDict(), "folded": ["inc-swap"]},
    )
    ann_index._invalidate_meta(spark, path)
    with pytest.raises(ValueError, match="compact_index"):
        lsh_topk_indexed(spark, path, query, k=10)
    resumed = compact_index(spark, path)
    assert resumed.get("resumed") is True
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want


def test_fresh_compact_clears_orphan_side_copy(spark, emb, query, tmp_path):
    """A compact that died BEFORE publishing its marker leaves a full-size
    orphan vectors_compacting/; the next fresh compact must remove it even
    when it takes an early-return path."""
    import os

    from sparkocr.pipeline.ann_index import compact_index

    path, _ = _append_fixture(spark, emb, tmp_path, "lsh")
    orphan = os.path.join(path, "vectors_compacting")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("dead compact leftovers")
    r = compact_index(spark, path)  # no committed appends: early return
    assert r["compacted"] == 0
    assert not os.path.exists(orphan)


def test_vacuum_reclaims_markerless_orphans_only(spark, emb, query, tmp_path):
    """A delta that died mid-write under a never-retried append_id is
    invisible but leaks storage; vacuum_index deletes exactly those —
    committed deltas and the _commits dir are spared, probes unchanged."""
    import os

    from sparkocr.pipeline.ann_index import (
        append_to_index,
        lsh_topk_indexed,
        vacuum_index,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-live")
    want = _rows(lsh_topk_indexed(spark, path, query, k=10))
    orphan = os.path.join(path, "deltas", "inc-dead")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("partial write")
    # the age guard: a FRESH markerless delta is indistinguishable from
    # an in-flight append, so the default vacuum must spare it
    r = vacuum_index(spark, path)
    assert r["reclaimed"] == [] and r["skipped_recent"] == ["inc-dead"]
    assert os.path.exists(orphan)
    r = vacuum_index(spark, path, min_age_hours=0)
    assert r["reclaimed"] == ["inc-dead"] and r["skipped_recent"] == []
    assert not os.path.exists(orphan)
    assert os.path.exists(os.path.join(path, "deltas", "inc-live"))
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want
    assert vacuum_index(spark, path, min_age_hours=0)["reclaimed"] == []


def test_old_format_pending_marker_refused_with_named_error(
    spark, emb, query, tmp_path
):
    """A pending compact marker lacking the folded-append record (older
    build / hand-edited) cannot be resumed safely in either direction —
    the resume must raise the remediation error, not KeyError."""
    from sparkocr.pipeline.ann_index import (
        _read_meta,
        _write_json_atomic,
        compact_index,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    m = _read_meta(spark, path)
    _write_json_atomic(spark, f"{path}/compact_pending.json", m.asDict())
    with pytest.raises(ValueError, match="folded"):
        compact_index(spark, path)


def test_near_dups_indexed_matches_full_operator(spark, emb, tmp_path):
    """Incremental near-dups over the index must equal the full
    embedding_near_dups over old∪new restricted to pairs touching a new
    vector — before AND after the increment is appended — and the probe
    scan must stay partition-pruned."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline import caching
    from sparkocr.pipeline.ann_index import (
        append_to_index,
        build_lsh_index,
        near_dups_indexed,
    )
    from sparkocr.pipeline.similarity import embedding_near_dups

    # near-dup fixture: clone a handful of vectors into "new" ids so
    # threshold pairs exist across old/new and inside new
    base = emb.filter("vec_id % 2 = 0 and embedding is not null").select(
        "vec_id", "embedding"
    )
    clones = base.filter("vec_id <= 20").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    twin = base.filter("vec_id = 4").select(
        F.lit(2_000_000).alias("vec_id"), "embedding"
    )
    new = clones.unionByName(twin)
    path = str(tmp_path / "nd_idx")
    build_lsh_index(base, path)
    try:
        got = sorted(
            (r.id1, r.id2, r.cosine)
            for r in near_dups_indexed(spark, path, new).collect()
        )
        new_ids = {r.vec_id for r in new.select("vec_id").collect()}
        want = sorted(
            (r.id1, r.id2, r.cosine)
            for r in embedding_near_dups(base.unionByName(new)).collect()
            if r.id1 in new_ids or r.id2 in new_ids
        )
        assert got == want and len(got) >= len(new_ids.difference({2_000_000}))
        # appending the increment must not change the answer (index
        # copies of the new ids are excluded from the old side)
        append_to_index(new, path, "nd-inc")
        got2 = sorted(
            (r.id1, r.id2, r.cosine)
            for r in near_dups_indexed(spark, path, new).collect()
        )
        assert got2 == got
        # pruned probe: the INDEX scan roots (base vectors + the appended
        # delta) restrict to the increment's sigs; the increment's own
        # source-table scans are unpartitioned and carry empty filters
        plan = _plan(near_dups_indexed(spark, path, new))
        filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        pruned = [f for f in filters if re.search(r"sig#\d+L? IN", f)]
        assert len(pruned) >= 2, plan  # base + delta both pruned
        # empty increment: clean empty frame, no crash
        assert near_dups_indexed(spark, path, new.filter("vec_id < 0")).count() == 0
    finally:
        caching.release_all()


def test_near_dups_cap_agrees_between_full_and_indexed(spark, emb, tmp_path):
    """Under equal bucket_max both near-dup paths cap on combined bucket
    membership: a clone cluster over the cap emits nothing (observably),
    and capped-indexed equals capped-full restricted to new pairs."""
    from pyspark.sql import Observation, functions as F

    from sparkocr.pipeline import caching
    from sparkocr.pipeline.ann_index import build_lsh_index, near_dups_indexed
    from sparkocr.pipeline.dedup import cap_metrics_get
    from sparkocr.pipeline.similarity import embedding_near_dups

    base = emb.filter("vec_id % 2 = 0 and embedding is not null").select(
        "vec_id", "embedding"
    )
    one = base.filter("vec_id = 8").select("embedding")
    clones = (
        spark.range(3_000_000, 3_000_012)
        .withColumnRenamed("id", "vec_id")
        .crossJoin(one)
    )
    # plus one re-fetched vector in a NORMAL bucket: its twin pair
    # survives the cap, so the capped plan has output (a fully-empty
    # result lets AQE prune the CollectMetrics node — the documented
    # cap_metrics_get None case — and the test would assert nothing)
    refetch = base.filter("vec_id = 30").select(
        F.lit(3_000_100).alias("vec_id"), "embedding"
    )
    inc = clones.unionByName(refetch)
    path = str(tmp_path / "nd_cap")
    build_lsh_index(base, path)
    try:
        cap = 6  # 12 clones + their base twin = 13 > 6
        obs = Observation()
        capped = sorted(
            (r.id1, r.id2, r.cosine)
            for r in near_dups_indexed(
                spark, path, inc, bucket_max=cap, cap_metrics=obs
            ).collect()
        )
        metrics = cap_metrics_get(obs)
        assert metrics is not None and metrics["capped_buckets"] >= 1
        assert all(i1 == 30 or i2 == 3_000_100 for i1, i2, _ in capped)
        assert (30, 3_000_100, 1.0) in capped  # the uncapped twin survives
        new_ids = {r.vec_id for r in inc.select("vec_id").collect()}
        obs_full = Observation()
        want = sorted(
            (r.id1, r.id2, r.cosine)
            for r in embedding_near_dups(
                base.unionByName(inc), bucket_max=cap, cap_metrics=obs_full
            ).collect()
            if r.id1 in new_ids or r.id2 in new_ids
        )
        full_metrics = cap_metrics_get(obs_full)
        assert full_metrics is not None and full_metrics["capped_buckets"] >= 1
        assert capped == want  # equal caps → equal answers
        # uncapped: the clone clique is all-pairs plus each clone's base
        # twin plus the re-fetch twin
        n_unc = near_dups_indexed(spark, path, inc).count()
        assert n_unc >= (12 * 11) // 2 + 12 + 1
    finally:
        caching.release_all()


def test_near_dups_cap_counts_valid_rows_only(spark, emb, tmp_path):
    """Null / wrong-dim embeddings can never produce a qualifying pair,
    so they must not inflate a bucket's count toward the cap — in either
    path. (Zero-filled junk all lands in sig 0; counting it would cap
    sig 0's REAL near-dups away in the full op but not the indexed one.)"""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType

    from sparkocr.pipeline import caching
    from sparkocr.pipeline.ann_index import build_lsh_index, near_dups_indexed
    from sparkocr.pipeline.similarity import embedding_near_dups

    base = emb.filter("vec_id % 2 = 0 and embedding is not null").select(
        "vec_id", "embedding"
    )
    junk = (
        spark.range(5_000_000, 5_000_040)
        .withColumnRenamed("id", "vec_id")
        .withColumn("embedding", F.lit(None).cast(ArrayType(DoubleType())))
    )
    inc = base.filter("vec_id = 12").select(
        F.lit(5_100_000).alias("vec_id"), "embedding"
    )
    path = str(tmp_path / "nd_dirty_cap")
    build_lsh_index(base.unionByName(junk), path)
    try:
        cap = 5  # far below the 40 junk rows, above any real clean bucket
        got = sorted(
            (r.id1, r.id2, r.cosine)
            for r in near_dups_indexed(spark, path, inc, bucket_max=cap).collect()
        )
        want = sorted(
            (r.id1, r.id2, r.cosine)
            for r in embedding_near_dups(
                base.unionByName(junk).unionByName(inc), bucket_max=cap
            ).collect()
            if r.id1 == 5_100_000 or r.id2 == 5_100_000
        )
        assert got == want
        assert (12, 5_100_000, 1.0) in got  # the twin survives the cap
    finally:
        caching.release_all()


# ---- crash matrix: every write of append_to_index and compact_index ------

#: the delta parquet write, then the commit marker's publish (tmp create,
#: final delete, rename)
_APPEND_WRITES = 4
#: the side-copy sweep, the side-copy write, the pending marker's publish
#: (3), the swap (meta delete, vectors delete, rename), the folded
#: append's drop (marker, delta), the meta write, the pending delete
_COMPACT_WRITES = 12


class _WriteCountingFs:
    """A Hadoop FileSystem whose mutating calls report to ``hit`` first."""

    def __init__(self, fs, hit):
        self._fs, self._hit = fs, hit

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in ("create", "delete", "rename"):
            return attr

        def call(*a):
            self._hit(f"{name} {a[0]}")
            return attr(*a)

        return call


def _fail_kth_write(monkeypatch, k):
    """Make the k-th write of the ANN index code die before it runs:
    parquet writes and the FileSystem create/delete/rename calls, in call
    order (``k=None`` never dies). Returns the writes that ran."""
    from pyspark.sql.readwriter import DataFrameWriter

    from sparkocr import checkpoint

    ran = []

    def hit(what):
        if len(ran) + 1 == k:
            raise RuntimeError(f"simulated death at write {k}: {what}")
        ran.append(what)

    real_fs, real_parquet = checkpoint._fs, DataFrameWriter.parquet

    def fs(spark, path_str):
        jvm, inner, jpath = real_fs(spark, path_str)
        return jvm, _WriteCountingFs(inner, hit), jpath

    def parquet(self, path, *a, **kw):
        hit(f"parquet {path}")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(checkpoint, "_fs", fs)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return ran


def _view(spark, path):
    """Every vec_id a probe sees (sorted, duplicates kept), or None while
    the index refuses probes mid-compact — which must then point the
    operator at the resume."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline import ann_index

    try:
        ann_index._read_meta(spark, path)
    except ValueError as e:
        assert "compact_index" in str(e), e
        return None
    scan = ann_index._scan_vectors(spark, path, F.lit(True))
    return sorted(r.vec_id for r in scan.select("vec_id").collect())


def _tree(path):
    """Every path under ``path`` except part files (per-write UUIDs)."""
    import os

    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, dirs, files in os.walk(path)
        for n in dirs + files
        if "part-" not in n
    )


@pytest.fixture(scope="module")
def crash_emb(emb):
    """48 vectors: every sig= directory is a file write, and the matrix
    runs each write sequence 17 times."""
    return emb.filter("vec_id < 48")


@pytest.fixture(scope="module")
def crash_index(spark, crash_emb, tmp_path_factory):
    """An LSH index over the even vec_ids; a copy with the odd ones
    appended as ``inc-a``; the tree a clean compact of that copy leaves."""
    import shutil

    from sparkocr.pipeline.ann_index import append_to_index, build_lsh_index, compact_index

    root = tmp_path_factory.mktemp("ann_crash")
    base, appended, compacted = (str(root / n) for n in ("base", "appended", "compacted"))
    build_lsh_index(crash_emb.filter("vec_id % 2 = 0"), base)
    shutil.copytree(base, appended)
    append_to_index(crash_emb.filter("vec_id % 2 = 1"), appended, "inc-a")
    shutil.copytree(appended, compacted)
    compact_index(spark, compacted)
    return base, appended, _tree(compacted)


def test_crash_matrix_covers_every_write(spark, crash_emb, crash_index, tmp_path, monkeypatch):
    import shutil

    from sparkocr.pipeline.ann_index import append_to_index, compact_index

    path = str(tmp_path / "idx")
    shutil.copytree(crash_index[0], path)
    ran = _fail_kth_write(monkeypatch, None)
    append_to_index(crash_emb.filter("vec_id % 2 = 1"), path, "inc-a")
    assert len(ran) == _APPEND_WRITES, ran
    ran.clear()
    compact_index(spark, path)
    assert len(ran) == _COMPACT_WRITES, ran


@pytest.mark.parametrize("k", range(1, _APPEND_WRITES + 1))
def test_crashed_append_keeps_old_view_and_retry_lands_once(
    spark, crash_emb, crash_index, tmp_path, monkeypatch, k
):
    """A death at the k-th write of an append leaves probes on the old
    committed view; a same-id retry lands the rows once, and a second
    retry is a skipped no-op."""
    import shutil

    from sparkocr.pipeline.ann_index import _committed_appends, append_to_index

    base, appended, _ = crash_index
    path = str(tmp_path / "idx")
    shutil.copytree(base, path)
    rest = crash_emb.filter("vec_id % 2 = 1")
    before = _view(spark, path)
    _fail_kth_write(monkeypatch, k)
    with pytest.raises(RuntimeError, match="simulated"):
        append_to_index(rest, path, "inc-a")
    monkeypatch.undo()
    assert _view(spark, path) == before

    r = append_to_index(rest, path, "inc-a")
    assert not r["skipped"] and r["rows"] == rest.count()
    assert _view(spark, path) == _view(spark, appended)
    assert append_to_index(rest, path, "inc-a")["skipped"]
    assert [mk["append_id"] for mk in _committed_appends(spark, path)] == ["inc-a"]


@pytest.mark.parametrize("k", range(1, _COMPACT_WRITES + 1))
def test_crashed_compact_keeps_view_and_resume_lands_once(
    spark, crash_index, tmp_path, monkeypatch, k
):
    """A death at the k-th write of a compact leaves probes on the same
    rows (compaction moves rows, never changes them) or refusing with the
    resume instruction, never a mix; the next compact_index call finishes
    the fold once and leaves exactly what a clean compact leaves."""
    import shutil

    from sparkocr.pipeline.ann_index import _committed_appends, compact_index

    _, appended, clean_tree = crash_index
    path = str(tmp_path / "idx")
    shutil.copytree(appended, path)
    want = _view(spark, path)
    _fail_kth_write(monkeypatch, k)
    with pytest.raises(RuntimeError, match="simulated"):
        compact_index(spark, path)
    monkeypatch.undo()
    assert _view(spark, path) in (want, None)

    compact_index(spark, path)
    assert _view(spark, path) == want
    assert _committed_appends(spark, path) == []
    assert _tree(path) == clean_tree
    assert compact_index(spark, path) == {"compacted": 0, "rows": None}

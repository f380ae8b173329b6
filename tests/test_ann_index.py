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


@pytest.mark.parametrize("hamming", [0, 1])
def test_lsh_indexed_small_hamming_ball(spark, query, lsh_index, hamming):
    """Below the default ball of 2, the probe scores exactly the stored
    rows whose sig is within ``hamming`` bits of the query's signature
    (signed here plane by plane, independently of the probe)."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline.ann_index import _read_manifest, _scan_vectors, lsh_topk_indexed
    from sparkocr.pipeline.similarity import cosine_topk, hyperplanes

    m = _read_manifest(spark, lsh_index)
    planes = hyperplanes(m["dim"], m["n_planes"], m["seed"])
    qsig = sum(1 << i for i, p in enumerate(planes) if float(np.dot(query, p)) > 0)
    within = _scan_vectors(spark, lsh_index, m).filter(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= hamming
    )
    k = within.count() + 5  # every row in the ball, none cut by the limit
    want = _rows(cosine_topk(within, query, k=k))
    got = _rows(lsh_topk_indexed(spark, lsh_index, query, k=k, hamming=hamming))
    assert got == want and want


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

    vdir = f"{lsh_index}/g1/vectors"
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


def test_interrupted_rebuild_keeps_old_index_probeable(spark, emb, query, tmp_path, monkeypatch):
    """A rebuild commits only by publishing its manifest: one that dies
    before that, or one over an empty table, leaves the old index
    returning its old probe results — never the old planes beside new
    vectors, and never no index at all."""
    from sparkocr import manifest
    from sparkocr.pipeline import ann_index

    path = str(tmp_path / "lsh")
    ann_index.build_lsh_index(emb, path, n_planes=8)
    old = _rows(ann_index.lsh_topk_indexed(spark, path, query, k=10))
    assert old

    def boom(*a, **kw):
        raise RuntimeError("driver died before the manifest publish")

    monkeypatch.setattr(manifest, "publish", boom)
    with pytest.raises(RuntimeError, match="manifest publish"):
        ann_index.build_lsh_index(emb, path, n_planes=12)  # rebuild, new space
    monkeypatch.undo()
    assert _rows(ann_index.lsh_topk_indexed(spark, path, query, k=10)) == old
    with pytest.raises(ValueError, match="no rows"):
        ann_index.build_lsh_index(emb.filter("vec_id < 0"), path, n_planes=12, dim=len(query))
    assert _rows(ann_index.lsh_topk_indexed(spark, path, query, k=10)) == old
    # a clean rebuild publishes the new planes with their own vectors
    ann_index.build_lsh_index(emb, path, n_planes=12)
    fresh = str(tmp_path / "fresh")
    ann_index.build_lsh_index(emb, fresh, n_planes=12)
    got = _rows(ann_index.lsh_topk_indexed(spark, path, query, k=10))
    assert got == _rows(ann_index.lsh_topk_indexed(spark, fresh, query, k=10))


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
    replayed from the persisted centroids, not re-derived) — also after
    a compact, whose new generation carries the centroids along."""
    import os

    from sparkocr.pipeline.ann_index import append_to_index, compact_index, ivf_topk_indexed

    path, rest = _append_fixture(spark, emb, tmp_path, "ivf")
    append_to_index(rest, path, "day-2026.08.18")
    probe_row = rest.filter("embedding is not null").orderBy("vec_id").first()
    q = [float(v) for v in probe_row["embedding"]]
    top = ivf_topk_indexed(spark, path, q, k=1, n_probe=4).collect()
    assert top and top[0].vec_id == probe_row["vec_id"], top
    compact_index(spark, path)
    assert sorted(os.listdir(path)) == ["_index", "g3"]
    assert ivf_topk_indexed(spark, path, q, k=1, n_probe=4).collect() == top


def test_uncommitted_delta_is_invisible(spark, emb, query, tmp_path, monkeypatch):
    """An append that dies after writing its delta but before publishing
    its manifest version must leave probe results unchanged — and
    retrying the same append_id afterwards completes it."""
    from sparkocr import manifest
    from sparkocr.pipeline.ann_index import append_to_index, lsh_topk_indexed

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    before = _rows(lsh_topk_indexed(spark, path, query, k=10))

    def boom(*a, **kw):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(manifest, "publish", boom)
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
    from sparkocr.pipeline.ann_index import _read_manifest

    assert all(
        a["append_id"] != "inc-wrongdim" for a in _read_manifest(spark, path)["appends"]
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
    """compact_index merges deltas into a new generation (probe unchanged,
    old generation and its deltas gone), and a compact killed right
    before it publishes leaves the old version probe-able and is finished
    losslessly by the next call."""
    import os

    from sparkocr import manifest
    from sparkocr.pipeline.ann_index import (
        _read_manifest,
        append_to_index,
        compact_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-a")
    want = _rows(lsh_topk_indexed(spark, path, query, k=10))
    r = compact_index(spark, path)
    assert r["compacted"] == 1 and r["rows"] == emb.count()
    assert _read_manifest(spark, path)["appends"] == []
    assert sorted(os.listdir(path)) == ["_index", "g3"]
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want

    # kill the NEXT compact after its new generation is written, right
    # before it publishes, and run it again
    append_to_index(emb.filter("vec_id < 0"), path, "inc-empty")  # zero rows
    append_to_index(rest.limit(5), path, "inc-b")
    want2 = _rows(lsh_topk_indexed(spark, path, query, k=10))

    def boom(*a, **kw):
        raise RuntimeError("killed mid-compact")

    monkeypatch.setattr(manifest, "publish", boom)
    with pytest.raises(RuntimeError):
        compact_index(spark, path)
    monkeypatch.undo()
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want2
    assert compact_index(spark, path)["compacted"] == 2
    assert _read_manifest(spark, path)["appends"] == []
    assert sorted(os.listdir(path)) == ["_index", "g6"]
    assert os.listdir(os.path.join(path, "_index")) == ["6.json"]
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want2


def test_folded_append_id_stays_skipped_across_compaction(spark, emb, tmp_path):
    """Exactly-once per append_id survives compaction: re-appending an id
    that a compact has folded is skipped and lands no rows; only a build
    starts the id list afresh."""
    from sparkocr.pipeline.ann_index import (
        _read_manifest,
        _scan_vectors,
        append_to_index,
        build_lsh_index,
        compact_index,
    )

    def scan():
        return _scan_vectors(spark, path, _read_manifest(spark, path))

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    first = append_to_index(rest, path, "inc-a")
    compact_index(spark, path)
    n = scan().count()
    assert n == emb.count()
    r = append_to_index(rest, path, "inc-a")
    assert r == {"append_id": "inc-a", "rows": first["rows"], "skipped": True}
    after = scan()
    assert after.count() == n
    assert after.select("vec_id").distinct().count() == n
    build_lsh_index(emb.filter("vec_id % 2 = 0"), path)
    assert _read_manifest(spark, path)["folded"] == []
    assert append_to_index(rest, path, "inc-a")["skipped"] is False


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


def test_compact_refuses_to_publish_over_a_concurrent_append(
    spark, emb, query, tmp_path, monkeypatch
):
    """An append that commits while a compact is folding must survive:
    the compact's publish finds its version taken and raises, the
    append's rows stay probe-able, and the next compact folds both."""
    from sparkocr import manifest
    from sparkocr.pipeline.ann_index import (
        _read_manifest,
        append_to_index,
        build_lsh_index,
        compact_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest.filter("vec_id % 4 = 1"), path, "inc-early")
    real_publish = manifest.publish

    def append_then_publish(*a):
        monkeypatch.undo()
        append_to_index(rest.filter("vec_id % 4 = 3"), path, "inc-late")
        real_publish(*a)

    monkeypatch.setattr(manifest, "publish", append_then_publish)
    with pytest.raises(ValueError, match="another writer committed"):
        compact_index(spark, path)
    appends = [a["append_id"] for a in _read_manifest(spark, path)["appends"]]
    assert appends == ["inc-early", "inc-late"]
    full_path = str(tmp_path / "lsh_full")
    build_lsh_index(emb, full_path)
    want = _rows(lsh_topk_indexed(spark, full_path, query, k=10))
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want
    assert compact_index(spark, path)["compacted"] == 2
    assert _read_manifest(spark, path)["appends"] == []
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want


def test_append_rejects_schema_drift_uncommitted(spark, emb, tmp_path):
    """An increment whose column set differs from the base must fail the
    APPEND (uncommitted), not crash every later probe's unionByName."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline.ann_index import (
        _read_manifest,
        append_to_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    drifted = rest.withColumn("source", F.lit("daily-job"))
    with pytest.raises(ValueError, match="columns differ"):
        append_to_index(drifted, path, "inc-drift")
    assert all(
        a["append_id"] != "inc-drift" for a in _read_manifest(spark, path)["appends"]
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


def test_fresh_compact_clears_orphan_side_copy(spark, emb, query, tmp_path):
    """A compact or build that died before publishing leaves a full-size
    orphan generation; the next compact must remove it even when it has
    nothing to fold."""
    import os

    from sparkocr.pipeline.ann_index import compact_index

    path, _ = _append_fixture(spark, emb, tmp_path, "lsh")
    orphan = os.path.join(path, "g2", "vectors")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("dead compact leftovers")
    assert compact_index(spark, path) == {"compacted": 0, "rows": None}
    assert sorted(os.listdir(path)) == ["_index", "g1"]


def test_vacuum_reclaims_markerless_orphans_only(spark, emb, query, tmp_path):
    """A delta that died mid-write under a never-retried append_id is
    invisible but leaks storage; vacuum_index deletes exactly those —
    listed deltas are spared, probes unchanged."""
    import os

    from sparkocr.pipeline.ann_index import (
        append_to_index,
        lsh_topk_indexed,
        vacuum_index,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-live")
    want = _rows(lsh_topk_indexed(spark, path, query, k=10))
    orphan = os.path.join(path, "g1", "deltas", "inc-dead")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("partial write")
    # the age guard: a FRESH unlisted delta is indistinguishable from
    # an in-flight append, so the default vacuum must spare it
    r = vacuum_index(spark, path)
    assert r["reclaimed"] == [] and r["skipped_recent"] == ["inc-dead"]
    assert os.path.exists(orphan)
    r = vacuum_index(spark, path, min_age_hours=0)
    assert r["reclaimed"] == ["inc-dead"] and r["skipped_recent"] == []
    assert not os.path.exists(orphan)
    assert os.path.exists(os.path.join(path, "g1", "deltas", "inc-live"))
    assert _rows(lsh_topk_indexed(spark, path, query, k=10)) == want
    assert vacuum_index(spark, path, min_age_hours=0)["reclaimed"] == []


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


def test_near_dups_indexed_empty_increment_keeps_id_type(spark, emb, tmp_path):
    """An increment with no valid embeddings returns the schema a
    non-empty one does: the ids take vec_id's type (int here), not a
    hard-coded long."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline import caching
    from sparkocr.pipeline.ann_index import build_lsh_index, near_dups_indexed

    base = emb.filter("vec_id % 2 = 0 and embedding is not null").select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    inc = base.filter("vec_id <= 20").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    invalid = inc.withColumn(
        "embedding", F.lit(None).cast(inc.schema["embedding"].dataType)
    )
    path = str(tmp_path / "nd_int")
    build_lsh_index(base, path)
    try:
        full = near_dups_indexed(spark, path, inc)
        empty = near_dups_indexed(spark, path, invalid)
        assert full.count() > 0 and empty.count() == 0
        assert empty.schema.simpleString() == full.schema.simpleString()
        assert full.schema.simpleString() == "struct<id1:int,id2:int,cosine:double>"
    finally:
        caching.release_all()


def test_unparseable_newest_manifest_raises(spark, emb, query, tmp_path):
    """A corrupt newest manifest is an error for every reader and writer —
    never skipped in favour of the older version, whose generation may
    already be gone. A rebuild is the remedy and needs no manifest."""
    import os

    from sparkocr.pipeline.ann_index import (
        append_to_index,
        build_lsh_index,
        compact_index,
        lsh_topk_indexed,
    )

    path, rest = _append_fixture(spark, emb, tmp_path, "lsh")
    append_to_index(rest, path, "inc-a")
    with open(os.path.join(path, "_index", "2.json"), "w") as f:
        f.write('{"kind": "lsh", "dim"')
    with pytest.raises(ValueError, match="unparseable"):
        lsh_topk_indexed(spark, path, query)
    with pytest.raises(ValueError, match="unparseable"):
        append_to_index(rest, path, "inc-b")
    with pytest.raises(ValueError, match="unparseable"):
        compact_index(spark, path)
    build_lsh_index(emb, path)
    assert sorted(os.listdir(os.path.join(path, "_index"))) == ["3.json"]
    assert lsh_topk_indexed(spark, path, query).count() > 0


def test_meta_layout_refused_until_rebuilt(spark, emb, query, tmp_path):
    """The meta-last layout (meta/ + vectors/ + deltas/_commits/, no
    _index/) is not an index: probes and appends refuse it with the
    rebuild error, and a build at that path probes correctly and leaves
    only _index/ and its generation."""
    import json
    import os

    from sparkocr.pipeline.ann_index import (
        append_to_index,
        build_lsh_index,
        lsh_topk_indexed,
    )
    from sparkocr.pipeline.similarity import lsh_topk

    path = str(tmp_path / "meta_layout")
    emb.write.parquet(f"{path}/vectors/sig=0")
    spark.createDataFrame(
        [("lsh", len(query), 12, 42)], "kind string, dim int, n_planes int, seed int"
    ).write.parquet(f"{path}/meta")
    os.makedirs(f"{path}/deltas/_commits")
    with open(f"{path}/deltas/_commits/inc-a.json", "w") as f:
        json.dump({"append_id": "inc-a", "kind": "lsh", "dim": len(query), "rows": 0}, f)
    with pytest.raises(ValueError, match="no complete ANN index .*rebuild"):
        lsh_topk_indexed(spark, path, query)
    with pytest.raises(ValueError, match="no complete ANN index .*rebuild"):
        append_to_index(emb, path, "inc-b")
    build_lsh_index(emb, path)
    assert sorted(os.listdir(path)) == ["_index", "g1"]
    assert os.listdir(f"{path}/_index") == ["1.json"]
    got = _rows(lsh_topk_indexed(spark, path, query, k=10))
    assert got == _rows(lsh_topk(emb, query, k=10))


# ---- crash matrix: every write of append_to_index, compact_index and a
# ---- rebuild

#: the delta parquet write, the manifest's tmp create and its rename
_APPEND_WRITES = 3
#: from the appended index (versions 1-2, generation g1): the new
#: generation's parquet write, the manifest's tmp create and rename, then
#: deleting versions 1 and 2 and generation g1
_COMPACT_WRITES = 6
#: the same writes as the compact, for a rebuild of that appended index
_REBUILD_WRITES = 6


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

    from sparkocr import manifest

    ran = []

    def hit(what):
        if len(ran) + 1 == k:
            raise RuntimeError(f"simulated death at write {k}: {what}")
        ran.append(what)

    real_fs, real_parquet = manifest.resolve, DataFrameWriter.parquet

    def fs(spark, path_str):
        jvm, inner, jpath = real_fs(spark, path_str)
        return jvm, _WriteCountingFs(inner, hit), jpath

    def parquet(self, path, *a, **kw):
        hit(f"parquet {path}")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(manifest, "resolve", fs)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return ran


def _view(spark, path):
    """What a probe sees: the newest manifest's planes and every
    (vec_id, sig) of its scan (sorted, duplicates kept) — a mix of one
    version's planes with another's vectors reads as a third view."""
    from sparkocr.pipeline import ann_index

    m = ann_index._read_manifest(spark, path)
    scan = ann_index._scan_vectors(spark, path, m)
    rows = sorted((r.vec_id, r.sig) for r in scan.select("vec_id", "sig").collect())
    return m["n_planes"], m["seed"], rows


def _tree(path):
    """Every path under ``path`` except part files (per-write UUIDs)."""
    import os

    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, dirs, files in os.walk(path)
        for n in dirs + files
        if "part-" not in n
    )


def _renumbered(tree):
    """``tree`` with version and generation numbers blanked: a rebuild
    rerun after its publish is a second build, one version later."""
    return sorted(re.sub(r"^(g|_index/)\d+", r"\1#", p) for p in tree)


@pytest.fixture(scope="module")
def crash_emb(emb):
    """48 vectors: every sig= directory is a file write, and the matrix
    runs each write sequence 16 times."""
    return emb.filter("vec_id < 48")


@pytest.fixture(scope="module")
def crash_index(spark, crash_emb, tmp_path_factory):
    """An LSH index over the even vec_ids; a copy with the odd ones
    appended as ``inc-a``; the tree a clean compact of that copy leaves;
    and a clean 8-plane rebuild of that copy over every vector."""
    import shutil

    from sparkocr.pipeline.ann_index import append_to_index, build_lsh_index, compact_index

    root = tmp_path_factory.mktemp("ann_crash")
    base, appended, compacted, rebuilt = (
        str(root / n) for n in ("base", "appended", "compacted", "rebuilt")
    )
    build_lsh_index(crash_emb.filter("vec_id % 2 = 0"), base)
    shutil.copytree(base, appended)
    append_to_index(crash_emb.filter("vec_id % 2 = 1"), appended, "inc-a")
    shutil.copytree(appended, compacted)
    compact_index(spark, compacted)
    shutil.copytree(appended, rebuilt)
    build_lsh_index(crash_emb, rebuilt, n_planes=8)
    return base, appended, _tree(compacted), rebuilt


def test_crash_matrix_covers_every_write(spark, crash_emb, crash_index, tmp_path, monkeypatch):
    import shutil

    from sparkocr.pipeline.ann_index import append_to_index, build_lsh_index, compact_index

    base, appended, _, _ = crash_index
    path, rebuilt = str(tmp_path / "idx"), str(tmp_path / "rebuilt")
    shutil.copytree(base, path)
    shutil.copytree(appended, rebuilt)
    ran = _fail_kth_write(monkeypatch, None)
    append_to_index(crash_emb.filter("vec_id % 2 = 1"), path, "inc-a")
    assert len(ran) == _APPEND_WRITES, ran
    ran.clear()
    compact_index(spark, path)
    assert len(ran) == _COMPACT_WRITES, ran
    ran.clear()
    build_lsh_index(crash_emb, rebuilt, n_planes=8)
    assert len(ran) == _REBUILD_WRITES, ran


@pytest.mark.parametrize("k", range(1, _APPEND_WRITES + 1))
def test_crashed_append_keeps_old_view_and_retry_lands_once(
    spark, crash_emb, crash_index, tmp_path, monkeypatch, k
):
    """A death at the k-th write of an append leaves probes on the old
    committed view; a same-id retry lands the rows once, and a second
    retry is a skipped no-op."""
    import shutil

    from sparkocr.pipeline.ann_index import _read_manifest, append_to_index

    base, appended, _, _ = crash_index
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
    assert [a["append_id"] for a in _read_manifest(spark, path)["appends"]] == ["inc-a"]
    assert _tree(path) == _tree(appended)


@pytest.mark.parametrize("k", range(1, _COMPACT_WRITES + 1))
def test_crashed_compact_keeps_view_and_resume_lands_once(
    spark, crash_emb, crash_index, tmp_path, monkeypatch, k
):
    """A death at the k-th write of a compact leaves probes on the same
    rows (compaction moves rows, never changes them); the next
    compact_index call finishes the fold once and leaves exactly what a
    clean compact leaves, and re-appending the folded id is skipped."""
    import shutil

    from sparkocr.pipeline.ann_index import _read_manifest, append_to_index, compact_index

    _, appended, clean_tree, _ = crash_index
    path = str(tmp_path / "idx")
    shutil.copytree(appended, path)
    want = _view(spark, path)
    _fail_kth_write(monkeypatch, k)
    with pytest.raises(RuntimeError, match="simulated"):
        compact_index(spark, path)
    monkeypatch.undo()
    assert _view(spark, path) == want

    compact_index(spark, path)
    assert _view(spark, path) == want
    assert _read_manifest(spark, path)["appends"] == []
    assert _tree(path) == clean_tree
    assert compact_index(spark, path) == {"compacted": 0, "rows": None}
    assert append_to_index(crash_emb.filter("vec_id % 2 = 1"), path, "inc-a")["skipped"]
    assert _view(spark, path) == want


@pytest.mark.parametrize("k", range(1, _REBUILD_WRITES + 1))
def test_crashed_rebuild_keeps_a_whole_view_and_rerun_lands_once(
    spark, crash_emb, crash_index, tmp_path, monkeypatch, k
):
    """A death at the k-th write of a rebuild (new planes, over an
    appended index) leaves probes on the old index or the new one, never
    old planes beside new vectors; rerunning the rebuild leaves what a
    clean rebuild leaves, with one version and one generation."""
    import shutil

    from sparkocr.pipeline.ann_index import build_lsh_index

    _, appended, _, rebuilt = crash_index
    path = str(tmp_path / "idx")
    shutil.copytree(appended, path)
    before, after = _view(spark, path), _view(spark, rebuilt)
    assert before != after
    _fail_kth_write(monkeypatch, k)
    with pytest.raises(RuntimeError, match="simulated"):
        build_lsh_index(crash_emb, path, n_planes=8)
    monkeypatch.undo()
    assert _view(spark, path) in (before, after)

    build_lsh_index(crash_emb, path, n_planes=8)
    assert _view(spark, path) == after
    assert _renumbered(_tree(path)) == _renumbered(_tree(rebuilt))

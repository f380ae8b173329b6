"""Checkpoint/lineage resume: a rerun recomputes only invalidated buckets
and yields the identical output table (north_rule resumability)."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest

from sparkocr.checkpoint import run_extract_job
from sparkocr.extract.dispatch import EXTRACTOR_VERSION

N_BUCKETS = 8


@pytest.fixture(scope="module")
def first_run(spark, tiny_transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt") / "out")
    result = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    return out, result


def _newest(out):
    """The newest manifest version's path under ``out``."""
    d = os.path.join(out, "_manifest")
    v = max(int(n[: -len(".json")]) for n in os.listdir(d) if re.fullmatch(r"\d+\.json", n))
    return os.path.join(d, f"{v}.json")


def _manifest(out):
    with open(_newest(out)) as f:
        return json.load(f)


def _edit_manifest(out, edit):
    m = _manifest(out)
    edit(m)
    with open(_newest(out), "w") as f:
        json.dump(m, f)


def _table(spark, out):
    df = spark.read.parquet(os.path.join(out, "data"))
    return sorted(
        (r["conv_id"], r["turn_idx"], r["clean_text"], r["is_truncated"])
        for r in df.collect()
    )


def test_first_run_processes_all(first_run):
    out, result = first_run
    assert result["skipped"] == []
    assert len(result["processed"]) >= 1
    m = _manifest(out)
    assert m["extractor_version"] == EXTRACTOR_VERSION
    assert sorted(map(int, m["buckets"])) == sorted(result["processed"])
    for e in m["buckets"].values():
        assert set(e) == {"input_rows", "input_hash", "rows_out"}
        assert e["rows_out"] == e["input_rows"] > 0  # one turn out per turn in
    assert sum(e["rows_out"] for e in m["buckets"].values()) == result["rows_out"]


def test_noop_rerun_skips_everything(spark, tiny_transcripts, first_run):
    out, r1 = first_run
    r2 = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert r2["processed"] == []
    assert sorted(r2["skipped"]) == sorted(r1["processed"])


def test_resume_recomputes_only_invalidated(spark, tiny_transcripts, first_run):
    out, r1 = first_run
    before = _table(spark, out)
    # simulate a lost commit for some buckets: drop two entries
    victims = sorted(r1["processed"])[:2]
    _edit_manifest(out, lambda m: [m["buckets"].pop(str(b)) for b in victims])
    r2 = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert sorted(r2["processed"]) == victims
    assert set(r2["skipped"]) == set(r1["processed"]) - set(victims)
    assert _table(spark, out) == before  # idempotent output


def test_version_bump_invalidates(spark, tiny_transcripts, first_run):
    out, r1 = first_run
    _edit_manifest(out, lambda m: m.update(extractor_version="0-stale"))
    r2 = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert r2["processed"] == sorted(r1["processed"]) and r2["skipped"] == []
    assert _manifest(out)["extractor_version"] == EXTRACTOR_VERSION


def test_input_change_invalidates(spark, tmp_path, first_run):
    # same conv ids, one text changed → exactly that conv's bucket recomputes
    out, r1 = first_run
    import pyarrow.parquet as pq
    import pyarrow as pa

    from sparkocr.datagen import generate_rows, SCHEMA

    rows = generate_rows("tiny")
    rows[0]["text"] = (rows[0]["text"] or "") + " MUTATED"
    cols = {name: [r[name] for r in rows] for name in SCHEMA.names}
    mutated = str(tmp_path / "mutated.parquet")
    pq.write_table(pa.Table.from_pydict(cols, schema=SCHEMA), mutated)
    r2 = run_extract_job(spark.getActiveSession() or spark, mutated, out, n_buckets=N_BUCKETS)
    assert len(r2["processed"]) >= 1
    assert len(r2["processed"]) < len(r1["processed"])  # most buckets untouched


def test_overwrite_mode_restored_after_job(spark, tiny_transcripts, first_run):
    # the job needs dynamic partition overwrite internally but must not
    # leave it set on the shared session (the caller's own later
    # overwrite+partitionBy writes would silently keep stale partitions)
    out, _ = first_run
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert spark.conf.get(key) == before
    assert before.lower() != "dynamic"


def test_manifest_io_leaves_no_crc_sidecars(first_run):
    # manifest IO must use the RAW local filesystem, not the checksummed
    # wrapper (which would both litter .crc files and, if checksums were
    # instead globally disabled, kill corruption detection session-wide)
    out, _ = first_run
    mdir = os.path.join(out, "_manifest")
    assert os.path.exists(_newest(out))
    assert not [f for f in os.listdir(out) + os.listdir(mdir) if f.endswith(".crc")]


def test_fingerprint_detects_even_multiplicity_change(spark):
    """bit_xor was blind to even-multiplicity edits: a row ingested twice
    then corrected twice contributes x^x = 0 before AND y^y = 0 after, so
    the changed bucket was skipped forever with stale output. The sum-of-
    hashes fingerprint must differ."""
    from sparkocr.checkpoint import input_fingerprints

    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    before = spark.createDataFrame(
        [("c0", 0, "user", "old text", "plain")] * 2, schema
    )
    after = spark.createDataFrame(
        [("c0", 0, "user", "NEW text", "plain")] * 2, schema
    )
    fa, fb = input_fingerprints(before, 1), input_fingerprints(after, 1)
    assert fa[0][0] == fb[0][0] == 2  # same row count
    assert fa[0][1] != fb[0][1]  # ...but the hash must move


def test_empty_input_refuses_to_wipe_completed_output(spark, tiny_transcripts, tmp_path):
    """All buckets 'vanishing' at once (empty snapshot, typo'd input path)
    must NOT silently delete every data partition and manifest entry of a
    completed table — that is a force=True decision."""
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest

    from sparkocr import datagen
    from sparkocr.checkpoint import run_extract_job

    out = str(tmp_path / "out")
    run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    empty = str(tmp_path / "empty.parquet")
    pq.write_table(datagen.SCHEMA.empty_table(), empty)

    with _pytest.raises(ValueError, match="refusing to delete"):
        run_extract_job(spark, empty, out, n_buckets=N_BUCKETS)

    # a torn publish attempt is NOT completed output: an out dir whose
    # only manifest file is a torn _manifest/1.json.tmp must not trigger
    # the refusal
    out2 = str(tmp_path / "out_tmp_only")
    os.makedirs(os.path.join(out2, "_manifest"))
    with open(os.path.join(out2, "_manifest", "1.json.tmp"), "w") as f:
        f.write('{"extractor_version": ')
    r0 = run_extract_job(spark, empty, out2, n_buckets=N_BUCKETS)
    assert not r0["processed"] and not r0["skipped"]
    # nothing was touched: a rerun with the real input skips every bucket
    r = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert not r["processed"] and len(r["skipped"]) > 0

    # the explicit decision works and empties the table
    r2 = run_extract_job(spark, empty, out, n_buckets=N_BUCKETS, force=True)
    assert r2["rows_out"] == 0
    assert _manifest(out)["buckets"] == {}
    assert not os.path.exists(os.path.join(out, "data")) or not [
        p for p in os.listdir(os.path.join(out, "data")) if p.startswith("bucket=")
    ]


def test_one_manifest_publish_per_run(
    spark, tiny_transcripts, tiny_transcripts_without, tmp_path, monkeypatch
):
    """Manifest traffic: a run publishes one version, and only when its
    commit changes the manifest — not one file per bucket."""
    from sparkocr import manifest

    out = str(tmp_path / "out")
    real = manifest.publish
    calls = []

    def counting(*a):
        calls.append(a[1:3])
        real(*a)

    monkeypatch.setattr(manifest, "publish", counting)

    def publishes(input_path):
        calls.clear()
        return run_extract_job(spark, input_path, out, n_buckets=N_BUCKETS), len(calls)

    mdir = os.path.join(out, "_manifest")
    r, n = publishes(tiny_transcripts)
    assert len(r["processed"]) == N_BUCKETS and n == 1
    assert calls == [(mdir, 1)]
    r, n = publishes(tiny_transcripts)
    assert r["processed"] == [] and n == 0
    # one bucket vanished, nothing pending: the pruned manifest only
    r, n = publishes(tiny_transcripts_without([0]))
    assert r["processed"] == [] and len(r["skipped"]) == N_BUCKETS - 1 and n == 1
    assert calls == [(mdir, 2)]
    # the older version is collected once the newer one is published
    assert os.listdir(mdir) == ["2.json"]


@pytest.fixture(scope="module")
def fresh_run(spark, tiny_transcripts, tmp_path_factory):
    """(out dir, data rows in key order, parsed manifest) of one run into
    an empty out dir at the session's default confs."""
    out = str(tmp_path_factory.mktemp("fresh") / "out")
    run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    return out, _rows(spark, out), _manifest(out)


def _rows(spark, out):
    return spark.read.parquet(os.path.join(out, "data")).orderBy("conv_id", "turn_idx").collect()


def _part_files(out):
    """{bucket partition dir name: its part files}."""
    data = os.path.join(out, "data")
    return {
        d: [f for f in os.listdir(os.path.join(data, d)) if f.startswith("part-")]
        for d in os.listdir(data)
        if d.startswith("bucket=")
    }


def test_one_part_file_per_bucket(fresh_run):
    """Each bucket is written by one task: one file per bucket, not one
    per (map task, bucket) pair."""
    out, _, _ = fresh_run
    files = _part_files(out)
    assert len(files) == N_BUCKETS
    assert {d: len(f) for d, f in files.items()} == {d: 1 for d in files}


@pytest.mark.parametrize("coalesce", ["true", "false"])
@pytest.mark.parametrize("shuffle_partitions", ["1", "3", "200"])
def test_output_ignores_physical_layout(
    spark, tiny_transcripts, tmp_path, fresh_run, shuffle_partitions, coalesce
):
    """The write's exchange takes its partition count from the session:
    the rows and the manifest must not depend on it."""
    confs = {
        "spark.sql.shuffle.partitions": shuffle_partitions,
        "spark.sql.adaptive.coalescePartitions.enabled": coalesce,
    }
    before = {k: spark.conf.get(k) for k in confs}
    out = str(tmp_path / "out")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    _, rows, manifest = fresh_run
    assert _rows(spark, out) == rows
    assert _manifest(out) == manifest
    assert all(len(f) == 1 for f in _part_files(out).values())


def test_empty_input_refuses_to_wipe_partitions_without_manifest(
    spark, tiny_transcripts, tmp_path
):
    """The refusal also covers bucket partitions no manifest names: with
    the manifest lost, an empty input must not delete the data."""
    import pyarrow.parquet as pq

    from sparkocr import datagen

    out = str(tmp_path / "out")
    run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    shutil.rmtree(os.path.join(out, "_manifest"))
    before = _part_files(out)
    empty = str(tmp_path / "empty.parquet")
    pq.write_table(datagen.SCHEMA.empty_table(), empty)
    with pytest.raises(ValueError, match="refusing to delete"):
        run_extract_job(spark, empty, out, n_buckets=N_BUCKETS)
    assert _part_files(out) == before

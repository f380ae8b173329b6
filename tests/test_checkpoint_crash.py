"""Crash points of the extract job's commit (checkpoint.py). A run writes
every pending bucket's data, reads the per-bucket row counts back,
publishes ``_manifest.json`` once, then deletes the data of buckets that
vanished from the input. After a crash at any of those points the rerun
must end equal to a clean run: the same data rows, the same parsed
manifest, the same files, and no ``.tmp`` left behind."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from sparkocr import checkpoint
from sparkocr.checkpoint import run_extract_job

N_BUCKETS = 8
ALL = list(range(N_BUCKETS))


class Crash(RuntimeError):
    pass


def _state(spark, out):
    """(turns rows in key order, parsed manifest, every path under ``out``
    except part files, whose names carry a per-write UUID)."""
    rows = spark.read.parquet(os.path.join(out, "data")).orderBy("conv_id", "turn_idx").collect()
    with open(os.path.join(out, "_manifest.json")) as f:
        manifest = json.load(f)
    names = sorted(
        os.path.relpath(os.path.join(d, n), out)
        for d, dirs, files in os.walk(out)
        for n in dirs + files
        if "part-" not in n
    )
    return rows, manifest, names


def _manifest_bytes(out):
    with open(os.path.join(out, "_manifest.json"), "rb") as f:
        return f.read()


@pytest.fixture(scope="module")
def clean(spark, tiny_transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("clean") / "out")
    result = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    # every bucket has rows, so every crash case below has its k buckets
    assert result["processed"] == ALL
    state = _state(spark, out)
    assert not [n for n in state[2] if n.endswith(".tmp")]
    return state


def _crashing_publish(shape):
    """``publish_json_atomic`` dying at one point of its tmp-write /
    delete / rename sequence."""
    real = checkpoint.publish_json_atomic

    def publish(spark, path_str, payload):
        if shape == "torn_tmp":  # died while writing the tmp
            with open(path_str + ".tmp", "w") as f:
                f.write('{"extractor_version": ')
        elif shape == "unrenamed":  # tmp complete, final deleted, no rename
            real(spark, path_str, payload)
            os.replace(path_str, path_str + ".tmp")
        elif shape == "published":
            real(spark, path_str, payload)
        raise Crash(shape)

    return publish


@pytest.mark.parametrize("shape", ["before_publish", "torn_tmp", "unrenamed"])
@pytest.mark.parametrize("k", [1, 4, 8])
def test_crash_at_kth_manifest_resumes_to_clean_state(
    spark, tiny_transcripts, tiny_transcripts_without, tmp_path, monkeypatch, clean, k, shape
):
    """A crash in the publish of a manifest that commits k fresh buckets
    beside the 8 - k an earlier run completed over an input that lacked
    the k. The old manifest still stands (or, once the publish deleted
    it, none does), so the rerun recomputes the k (or all 8) and keeps
    the earlier entries."""
    out = str(tmp_path / "out")
    fresh = ALL[:k]
    if k < N_BUCKETS:
        earlier = run_extract_job(
            spark, tiny_transcripts_without(fresh), out, n_buckets=N_BUCKETS
        )
        assert earlier["processed"] == ALL[k:]
    monkeypatch.setattr(checkpoint, "publish_json_atomic", _crashing_publish(shape))
    with pytest.raises(Crash):
        run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    monkeypatch.undo()

    r = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    redo = ALL if shape == "unrenamed" else fresh
    assert r["processed"] == redo
    assert r["skipped"] == sorted(set(ALL) - set(redo))
    assert _state(spark, out) == clean


def _fail_data_write(monkeypatch, victim):
    """The bucketed data write's job dies on the victim bucket's rows."""
    real = checkpoint.extract_turns

    def extract(df):
        turns = real(df)
        in_victim = F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)) == victim
        return turns.withColumn(
            "clean_text",
            F.when(in_victim, F.raise_error(F.lit("simulated data-write death"))).otherwise(
                F.col("clean_text")
            ),
        )

    monkeypatch.setattr(checkpoint, "extract_turns", extract)


def _fail_readback(monkeypatch, out):
    """The read-back of the written data dies: the data landed, the
    manifest was not yet touched."""
    real = DataFrameReader.parquet
    data = os.path.join(out, "data")

    def parquet(self, *paths, **options):
        if paths == (data,):
            raise Crash("read-back")
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)


@pytest.mark.parametrize("point", ["data_write", "readback"])
def test_crash_before_publish_resumes_to_clean_state(
    spark, tiny_transcripts, tiny_transcripts_without, tmp_path, monkeypatch, clean, point
):
    """A crash before the publish leaves the earlier manifest byte-equal;
    the rerun recomputes exactly the buckets that were pending."""
    out = str(tmp_path / "out")
    fresh = ALL[:4]
    run_extract_job(spark, tiny_transcripts_without(fresh), out, n_buckets=N_BUCKETS)
    before = _manifest_bytes(out)
    if point == "data_write":
        _fail_data_write(monkeypatch, victim=fresh[-1])
    else:
        _fail_readback(monkeypatch, out)
    with pytest.raises(Exception, match="simulated data-write death|read-back"):
        run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    monkeypatch.undo()
    assert _manifest_bytes(out) == before

    r = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert r["processed"] == fresh
    assert r["skipped"] == ALL[4:]
    assert _state(spark, out) == clean


def test_vanished_bucket_crash_before_data_delete_recomputes_on_return(
    spark, tiny_transcripts, tiny_transcripts_without, tmp_path, monkeypatch, clean
):
    """A bucket drops out of the input; the run (nothing pending) dies
    after publishing the manifest without the bucket's entry but before
    deleting its data. Manifest first: the bucket's data is left with no
    entry covering it, so when the bucket returns with identical rows it
    is recomputed, never skipped over deleted data."""
    out = str(tmp_path / "out")
    victim = 3
    run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    monkeypatch.setattr(checkpoint, "publish_json_atomic", _crashing_publish("published"))
    with pytest.raises(Crash):
        run_extract_job(spark, tiny_transcripts_without([victim]), out, n_buckets=N_BUCKETS)
    monkeypatch.undo()
    with open(os.path.join(out, "_manifest.json")) as f:
        assert sorted(map(int, json.load(f)["buckets"])) == sorted(set(ALL) - {victim})
    assert os.path.isdir(os.path.join(out, "data", f"bucket={victim}"))

    r = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert r["processed"] == [victim]
    assert _state(spark, out) == clean


def test_vanished_bucket_crash_before_data_delete_deleted_while_absent(
    spark, tiny_transcripts, tiny_transcripts_without, tmp_path, monkeypatch
):
    """The same crash, but the bucket stays absent on the rerun. No
    manifest entry names it any more and it has no input rows; the data
    listing still finds its partition, so the rerun deletes it and ends
    equal to a clean run over the input without it."""
    victim = 3
    without = tiny_transcripts_without([victim])
    fresh = str(tmp_path / "fresh")
    run_extract_job(spark, without, fresh, n_buckets=N_BUCKETS)
    out = str(tmp_path / "out")
    run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    monkeypatch.setattr(checkpoint, "publish_json_atomic", _crashing_publish("published"))
    with pytest.raises(Crash):
        run_extract_job(spark, without, out, n_buckets=N_BUCKETS)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(out, "data", f"bucket={victim}"))

    r = run_extract_job(spark, without, out, n_buckets=N_BUCKETS)
    assert r["processed"] == []
    assert not os.path.exists(os.path.join(out, "data", f"bucket={victim}"))
    assert _state(spark, out) == _state(spark, fresh)

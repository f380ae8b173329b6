"""Crash points of the extract job's manifest commit (checkpoint.py): the
job writes every pending bucket's data, then publishes one manifest per
bucket. A crash at the k-th manifest leaves buckets 1..k-1 published; the
rerun must process exactly the others and end equal to a clean run."""

from __future__ import annotations

import json
import os

import pytest

from sparkocr import checkpoint
from sparkocr.checkpoint import _manifest_dir, _manifest_path, run_extract_job

N_BUCKETS = 8


class Crash(RuntimeError):
    pass


def _state(spark, out):
    """(turns rows in key order, {manifest file name: parsed content},
    names of every file left in the manifest directory)."""
    rows = spark.read.parquet(os.path.join(out, "data")).orderBy("conv_id", "turn_idx").collect()
    mdir = _manifest_dir(out)
    names = sorted(os.listdir(mdir))
    manifests = {}
    for n in names:
        if n.endswith(".json"):
            with open(os.path.join(mdir, n)) as f:
                manifests[n] = json.load(f)
    return rows, manifests, names


@pytest.fixture(scope="module")
def clean(spark, tiny_transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("clean") / "out")
    result = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    # every bucket has rows, so k = 8 is the last manifest of the commit
    assert sorted(result["processed"]) == list(range(N_BUCKETS))
    return _state(spark, out)


@pytest.mark.parametrize("shape", ["before_publish", "torn_tmp"])
@pytest.mark.parametrize("k", [1, 4, 8])
def test_crash_at_kth_manifest_resumes_to_clean_state(
    spark, tiny_transcripts, tmp_path, monkeypatch, clean, k, shape
):
    out = str(tmp_path / "out")
    real = checkpoint.write_manifest
    calls = []

    def crashing(out_dir, m, spark=None):
        calls.append(m.bucket)
        if len(calls) == k:
            if shape == "torn_tmp":  # died inside the publish window
                os.makedirs(_manifest_dir(out_dir), exist_ok=True)
                with open(_manifest_path(out_dir, m.bucket) + ".tmp", "w") as f:
                    f.write('{"bucket": ')
            raise Crash(f"crash at manifest {k}")
        real(out_dir, m, spark)

    monkeypatch.setattr(checkpoint, "write_manifest", crashing)
    with pytest.raises(Crash):
        run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    published = calls[: k - 1]
    monkeypatch.setattr(checkpoint, "write_manifest", real)

    r = run_extract_job(spark, tiny_transcripts, out, n_buckets=N_BUCKETS)
    assert sorted(r["skipped"]) == sorted(published)
    assert sorted(r["processed"]) == sorted(set(range(N_BUCKETS)) - set(published))

    rows, manifests, names = _state(spark, out)
    clean_rows, clean_manifests, clean_names = clean
    assert rows == clean_rows
    assert manifests == clean_manifests
    assert names == clean_names
    assert not [n for n in names if n.endswith(".json.tmp")]

"""Crash points of the extract job's commit (checkpoint.py). A run writes
every pending bucket's data, reads the per-bucket row counts back, then
commits through ``sparkocr.manifest``: it creates ``_manifest/<v>.json.tmp``
and renames it to ``<v>.json``, deletes the data of buckets that vanished
from the input, and deletes the older manifest versions. After a crash at
any of those points the rerun must end equal to a clean run: the same data
rows, the same newest manifest payload, the same files (version numbers
aside), and no ``.tmp`` left behind."""

from __future__ import annotations

import json
import os
import pathlib
import re
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from sparkocr import checkpoint, manifest
from sparkocr.checkpoint import run_extract_job, with_bucket

N_BUCKETS = 8
ALL = list(range(N_BUCKETS))
#: the buckets an earlier run lacked, committed fresh by the crashed run
FRESH = ALL[:4]
#: the bucket that vanishes from the input
VICTIM = 3


class Crash(RuntimeError):
    pass


def _newest(out):
    """The newest manifest version's path under ``out``."""
    d = os.path.join(out, "_manifest")
    v = max(int(n[: -len(".json")]) for n in os.listdir(d) if re.fullmatch(r"\d+\.json", n))
    return os.path.join(d, f"{v}.json")


def _state(spark, out):
    """(turns rows in key order, the newest manifest's payload, every path
    under ``out`` except part files, whose names carry a per-write UUID,
    with manifest version numbers blanked)."""
    rows = spark.read.parquet(os.path.join(out, "data")).orderBy("conv_id", "turn_idx").collect()
    with open(_newest(out)) as f:
        payload = json.load(f)
    names = sorted(
        re.sub(r"^_manifest/\d+", "_manifest/#", os.path.relpath(os.path.join(d, n), out))
        for d, dirs, files in os.walk(out)
        for n in dirs + files
        if "part-" not in n
    )
    return rows, payload, names


def _without(spark, src, buckets, path):
    with_bucket(spark.read.parquet(src), N_BUCKETS).filter(
        ~F.col("bucket").isin(buckets)
    ).drop("bucket").write.parquet(path)
    return path


@pytest.fixture(scope="module")
def runs(spark, tiny_transcripts, tmp_path_factory):
    """Inputs and finished outputs every case starts from or compares
    with: ``full`` (every bucket), ``partial<k>`` (an input lacking the
    first k buckets) and ``without`` (an input lacking VICTIM), each run
    once into an empty out dir."""
    root = tmp_path_factory.mktemp("ckpt_crash")
    inputs = {"full": tiny_transcripts}
    for k in (1, len(FRESH)):
        inputs[f"partial{k}"] = _without(spark, tiny_transcripts, ALL[:k], str(root / f"p{k}"))
    inputs["without"] = _without(spark, tiny_transcripts, [VICTIM], str(root / "without"))
    outs = {name: str(root / f"{name}_out") for name in inputs}
    done = {
        name: run_extract_job(spark, src, outs[name], n_buckets=N_BUCKETS)["processed"]
        for name, src in inputs.items()
    }
    # every bucket has rows, so each case below has buckets to commit
    assert done == {
        "full": ALL, "partial1": ALL[1:], f"partial{len(FRESH)}": ALL[len(FRESH):],
        "without": sorted(set(ALL) - {VICTIM}),
    }
    assert not [n for n in _state(spark, outs["full"])[2] if n.endswith(".tmp")]
    return inputs, outs


#: scenario → (the out dir it starts from, or None for an empty one; the
#: input of the crashed run and its rerun; the clean out dir it must end
#: equal to; the commit's writes, relative to the out dir)
SCENARIOS = {
    # the first run into an empty out dir
    "first": (None, "full", "full", [
        "create _manifest/1.json.tmp", "rename _manifest/1.json.tmp",
    ]),
    # FRESH committed beside the buckets an earlier run completed
    "append": (f"partial{len(FRESH)}", "full", "full", [
        "create _manifest/2.json.tmp", "rename _manifest/2.json.tmp",
        "delete _manifest/1.json",
    ]),
    # VICTIM vanished from the input: nothing pending, its data deleted
    "vanish": ("full", "without", "without", [
        "create _manifest/2.json.tmp", "rename _manifest/2.json.tmp",
        f"delete data/bucket={VICTIM}", "delete _manifest/1.json",
    ]),
}


class _WriteReportingFs:
    """A Hadoop FileSystem whose mutating calls go through ``hit``."""

    def __init__(self, fs, hit):
        self._fs, self._hit = fs, hit

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in ("create", "delete", "rename"):
            return attr
        return lambda *a: self._hit(name, str(a[0]), lambda: attr(*a))


def _fail_kth_write(monkeypatch, out, k, torn=False):
    """Make the k-th FileSystem write of the commit die (``k=None`` never
    dies): before it runs, or, with ``torn``, after a create has written
    a torn prefix of the file. Returns the writes that ran, as
    ``"<call> <path relative to out>"``."""
    ran = []
    real = manifest.resolve

    def hit(name, path, run):
        what = f"{name} {os.path.relpath(path.removeprefix('file:'), out)}"
        if len(ran) + 1 == k:
            if torn:
                stream = run()
                stream.write(bytearray(b'{"extractor_version": '))
                stream.close()
            raise Crash(what)
        ran.append(what)
        return run()

    def resolve(spark, path_str):
        jvm, fs, jpath = real(spark, path_str)
        return jvm, _WriteReportingFs(fs, hit), jpath

    monkeypatch.setattr(manifest, "resolve", resolve)
    return ran


def _start(runs, scenario, tmp_path):
    inputs, outs = runs
    base, src, _, _ = SCENARIOS[scenario]
    out = str(tmp_path / "out")
    if base:
        shutil.copytree(outs[base], out)
    return out, inputs[src]


def test_crash_matrix_covers_every_write(spark, runs, tmp_path, monkeypatch):
    for scenario, (_, _, clean, writes) in SCENARIOS.items():
        out, src = _start(runs, scenario, tmp_path / scenario)
        ran = _fail_kth_write(monkeypatch, out, None)
        run_extract_job(spark, src, out, n_buckets=N_BUCKETS)
        monkeypatch.undo()
        assert ran == writes, (scenario, ran)
        assert _state(spark, out) == _state(spark, runs[1][clean])


#: a crash in the publish: at the tmp create, while writing the tmp, or
#: at the rename → (the write that dies, torn)
SHAPES = {"before_publish": (1, False), "torn_tmp": (1, True), "unrenamed": (2, False)}


def _crash_and_rerun(spark, out, src, monkeypatch, k, torn=False):
    _fail_kth_write(monkeypatch, out, k, torn)
    with pytest.raises(Crash):
        run_extract_job(spark, src, out, n_buckets=N_BUCKETS)
    monkeypatch.undo()
    return run_extract_job(spark, src, out, n_buckets=N_BUCKETS)


@pytest.mark.parametrize("shape", list(SHAPES))
@pytest.mark.parametrize("k", [1, 4, 8])
def test_crash_at_kth_manifest_resumes_to_clean_state(
    spark, runs, tmp_path, monkeypatch, k, shape
):
    """A crash in the publish of a manifest that commits k fresh buckets
    beside the 8 - k an earlier run completed over an input that lacked
    the k (k = 8: the first run into an empty out dir). The publish never
    deletes the version it replaces, so up to the rename the earlier
    version stands at every crash point, the unrenamed tmp included: the
    rerun recomputes exactly the k and skips the earlier buckets."""
    inputs, outs = runs
    out = str(tmp_path / "out")
    if k < N_BUCKETS:
        shutil.copytree(outs[f"partial{k}"], out)
    r = _crash_and_rerun(spark, out, inputs["full"], monkeypatch, *SHAPES[shape])
    assert r["processed"] == ALL[:k]
    assert r["skipped"] == ALL[k:]
    assert _state(spark, out) == _state(spark, outs["full"])


#: the crash points the cases above and the vanished-bucket tests below do
#: not cover: after the rename of a commit that adds buckets, and every
#: write of one where a bucket vanished but its data delete
CASES = [("append", 3, False)] + [
    ("vanish", k, torn) for k, torn in ((1, False), (1, True), (2, False), (4, False))
]


@pytest.mark.parametrize("scenario,k,torn", CASES)
def test_crash_at_kth_write_resumes_to_clean_state(
    spark, runs, tmp_path, monkeypatch, scenario, k, torn
):
    """A death at the k-th write of the commit (or a torn tmp file). A
    crash before the rename (the second write) leaves the previous
    version standing; a crash after it leaves the new version. Either
    way the rerun has nothing to recompute and ends equal to a clean
    run."""
    out, src = _start(runs, scenario, tmp_path)
    r = _crash_and_rerun(spark, out, src, monkeypatch, k, torn)
    assert r["processed"] == []
    assert _state(spark, out) == _state(spark, runs[1][SCENARIOS[scenario][2]])


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
    spark, runs, tmp_path, monkeypatch, point
):
    """A crash before the publish leaves the earlier manifest directory
    byte-equal; the rerun recomputes exactly the buckets that were
    pending."""
    out, src = _start(runs, "append", tmp_path)
    mdir = os.path.join(out, "_manifest")

    def manifests():
        return {n: pathlib.Path(mdir, n).read_bytes() for n in os.listdir(mdir)}

    before = manifests()
    if point == "data_write":
        _fail_data_write(monkeypatch, victim=FRESH[-1])
    else:
        _fail_readback(monkeypatch, out)
    with pytest.raises(Exception, match="simulated data-write death|read-back"):
        run_extract_job(spark, src, out, n_buckets=N_BUCKETS)
    monkeypatch.undo()
    assert manifests() == before

    r = run_extract_job(spark, src, out, n_buckets=N_BUCKETS)
    assert r["processed"] == FRESH
    assert r["skipped"] == ALL[len(FRESH):]
    assert _state(spark, out) == _state(spark, runs[1]["full"])


def test_vanished_bucket_crash_before_data_delete_recomputes_on_return(
    spark, runs, tmp_path, monkeypatch
):
    """A bucket drops out of the input; the run (nothing pending) dies
    after publishing the manifest without the bucket's entry but before
    deleting its data. Manifest first: the bucket's data is left with no
    entry covering it, so when the bucket returns with identical rows it
    is recomputed, never skipped over deleted data."""
    inputs, outs = runs
    out, src = _start(runs, "vanish", tmp_path)
    writes = SCENARIOS["vanish"][3]
    _fail_kth_write(monkeypatch, out, writes.index(f"delete data/bucket={VICTIM}") + 1)
    with pytest.raises(Crash):
        run_extract_job(spark, src, out, n_buckets=N_BUCKETS)
    monkeypatch.undo()
    with open(_newest(out)) as f:
        assert sorted(map(int, json.load(f)["buckets"])) == sorted(set(ALL) - {VICTIM})
    assert os.path.isdir(os.path.join(out, "data", f"bucket={VICTIM}"))

    r = run_extract_job(spark, inputs["full"], out, n_buckets=N_BUCKETS)
    assert r["processed"] == [VICTIM]
    assert _state(spark, out) == _state(spark, outs["full"])


def test_vanished_bucket_crash_before_data_delete_deleted_while_absent(
    spark, runs, tmp_path, monkeypatch
):
    """The same crash, but the bucket stays absent on the rerun. No
    manifest entry names it any more and it has no input rows; the data
    listing still finds its partition, so the rerun deletes it and ends
    equal to a clean run over the input without it."""
    out, src = _start(runs, "vanish", tmp_path)
    writes = SCENARIOS["vanish"][3]
    r = _crash_and_rerun(
        spark, out, src, monkeypatch, writes.index(f"delete data/bucket={VICTIM}") + 1
    )
    assert r["processed"] == []
    assert not os.path.exists(os.path.join(out, "data", f"bucket={VICTIM}"))
    assert _state(spark, out) == _state(spark, runs[1]["without"])

"""One lineage manifest per extract run + idempotent resume.

The north rule requires the job to checkpoint per partition with lineage
(input fingerprint, rows in/out, extractor version) so a killed run resumes
without recomputing completed partitions. Spark batch jobs have no built-in
partial resume, so we emulate the Iceberg-style snapshot/manifest surface on
plain Parquet (SURVEY.md §7, "Iceberg absence" risk):

- the output table ``<out_dir>/data`` is partitioned by
  ``bucket = pmod(xxhash64(conv_id), N)`` (the Parquet stand-in for Iceberg
  ``bucket(conv_id, N)``);
- one JSON file, ``<out_dir>/_manifest.json``, holds the extractor version
  once and one entry per completed bucket: its input fingerprint (row
  count, and the SUM of xxhash64 over conv_id, turn_idx, role, text and
  tool, from a single aggregate pass) plus its rows out. Like an Iceberg
  manifest list it is rewritten whole, at most once per run;
- on start, buckets whose entry matches the current fingerprint under the
  current extractor version are skipped; only pending buckets are
  filtered, extracted, and (dynamically) overwritten;
- each bucket is written by one task, so a run leaves one part file per
  bucket it wrote. ``partitionBy`` alone writes one file per (map task,
  bucket) pair, and the extract map stage runs as many tasks as the scan
  has splits; the ``repartition("bucket")`` exchange after the extractor
  (AQE coalesces it to the data) trades one shuffle of the extracted rows
  for tasks-times-fewer files to create, chmod, read back and assemble;
- a bucket partition on disk with no input rows is deleted, whether or not
  the manifest still has its entry.

All fingerprinting is JVM expressions; no data leaves the executors except
the per-bucket aggregate rows. Manifest IO goes through the Hadoop
FileSystem API (not python ``open``), so ``out_dir`` may be any filesystem
the cluster can reach — hdfs://, s3a://, or a plain local path — exactly
like the data writes beside it. The manifest is published after the data
write and its read-back, so a crash before the publish leaves the previous
manifest, whose entries never cover a bucket this run rewrote with new
content. A crash between delete and rename of the publish leaves the
manifest missing, which the resume treats as every bucket pending: never
wrong, at worst one full recompute.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkocr.extract.dispatch import EXTRACTOR_VERSION, extract_turns

_ENTRY = ("input_rows", "input_hash", "rows_out")
_PARTITION_RE = re.compile(r"bucket=(\d+)")


def _fs(spark: SparkSession, path_str: str):
    """(jvm, FileSystem, Path) for ``path_str`` under the session's Hadoop
    conf. On the local filesystem the cached instance is a checksummed
    wrapper that shadows every file with a .crc sidecar; we use its RAW
    inner filesystem for manifest IO instead of flipping checksum flags on
    the SHARED cached instance (which would silently disable corruption
    detection for every other reader in the session, Spark's own parquet
    scans included). Remote filesystems (hdfs/s3a) have no such wrapper
    and are used as-is."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    try:
        fs = fs.getRawFileSystem()  # only ChecksumFileSystem has it
    except Exception:
        pass
    return jvm, fs, jpath


def read_json_fs(jvm, fs, path_str: str) -> dict:
    """Read and parse one small JSON file through an already-resolved
    FileSystem. LOUD: missing file / IO error / bad JSON all raise —
    callers that want swallow-to-None semantics (manifest resume) wrap it.
    Shared by the manifest reader here and the ANN index's versioned
    manifests (one copy of the bulk-copy stream discipline to maintain)."""
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    stream = fs.open(p)
    try:
        bos = jvm.java.io.ByteArrayOutputStream()
        # one bulk copy instead of a py4j round trip per line
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, False)
    finally:
        stream.close()
    return json.loads(bytes(bos.toByteArray()).decode("utf-8"))


def publish_json_atomic(spark: SparkSession, path_str: str, payload: dict) -> None:
    """Write a small JSON file with the manifest publish discipline:
    write to ``.tmp`` then delete+rename. HDFS/S3 rename refuses an
    existing destination; a crash in the gap leaves the file missing,
    which every caller treats as "not committed" (safe). Hadoop reports
    most failures via a false RETURN, not an exception — a silent failed
    publish would wedge the caller's resume logic forever, so raise
    loudly instead."""
    jvm, fs, final = _fs(spark, path_str)
    fs.mkdirs(final.getParent())
    tmp = jvm.org.apache.hadoop.fs.Path(path_str + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"json publish failed: rename {path_str}.tmp")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )


def input_fingerprints(df: DataFrame, n_buckets: int) -> dict[int, tuple[int, int]]:
    """One aggregate pass: bucket → (row_count, SUM of row hashes).

    The hash covers EVERY column the extractor consumes — ``tool`` selects
    the extraction mode and ``role`` is carried through — so a row whose
    mode changes (same text) still invalidates its bucket.

    SUM (order-insensitive, multiplicity-sensitive), not bit_xor: xor is
    blind to even-multiplicity changes — a row ingested twice then
    corrected twice contributes x^x = 0 before AND y^y = 0 after, so the
    changed bucket would be skipped forever with stale output. The sum is
    carried in decimal(38,0) (input hashes cast to decimal(28,0), Spark
    widens the sum by 10 digits): |hash| < 2^63 ≈ 9.3e18, so even 10^12
    rows stay under 1e31 — no overflow, and ANSI mode cannot abort it."""
    rows = (
        with_bucket(df, n_buckets)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("conv_id", "turn_idx", "role", "text", "tool").cast(
                    "decimal(28,0)"
                )
            ).alias("h"),
        )
        .collect()
    )
    return {r["bucket"]: (r["n"], int(r["h"])) for r in rows}


def _read_manifest(jvm, fs, path_str: str) -> tuple[str | None, dict[int, tuple]]:
    """(extractor_version, {bucket: (input_rows, input_hash, rows_out)}) of
    the published manifest. Only the read/parse is error-swallowed: a
    missing, unparseable or malformed manifest reads as (None, {}), i.e.
    every bucket pending; FS resolution stays loud in the caller."""
    try:
        m = read_json_fs(jvm, fs, path_str)
        return m["extractor_version"], {
            int(b): tuple(int(e[k]) for k in _ENTRY) for b, e in m["buckets"].items()
        }
    except Exception:
        return None, {}


def _bucket_partitions(jvm, fs, data: str) -> set[int]:
    """The N of every ``bucket=N`` directory under ``data`` (none when
    ``data`` does not exist yet)."""
    found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(os.path.join(data, "bucket=*"))) or []
    return {
        int(m.group(1))
        for st in found
        if st.isDirectory() and (m := _PARTITION_RE.fullmatch(st.getPath().getName()))
    }


def run_extract_job(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 32,
    force: bool = False,
) -> dict:
    """Resumable extraction: transcripts parquet → ``<out_dir>/data``
    parquet partitioned by bucket, lineage in ``<out_dir>/_manifest.json``.

    Returns {"processed": [...], "skipped": [...], "rows_out": int}.
    """
    df = spark.read.parquet(input_path)
    fps = input_fingerprints(df, n_buckets)
    manifest = os.path.join(out_dir, "_manifest.json")
    data = os.path.join(out_dir, "data")
    jvm, fs, _ = _fs(spark, manifest)
    version, entries = _read_manifest(jvm, fs, manifest)
    on_disk = _bucket_partitions(jvm, fs, data)
    # blast-radius guard: an EMPTY input (transient producer bug, empty
    # snapshot, typo'd path resolving to a _SUCCESS-only dir) makes every
    # bucket look "vanished" — without this check the job would delete
    # every data partition of a completed table before returning
    # {"processed": [], "skipped": []}. Deleting the whole output is only
    # valid as an EXPLICIT decision (force=True).
    if not fps and not force and (entries or on_disk):
        raise ValueError(
            f"input {input_path} resolves to zero rows but completed "
            f"buckets exist at {out_dir} — refusing to delete them; pass "
            "force=True if the table is intentionally now empty"
        )
    skipped = [
        b
        for b, fp in sorted(fps.items())
        if not force and version == EXTRACTOR_VERSION and entries.get(b, ())[:2] == fp
    ]
    pending = sorted(set(fps) - set(skipped))
    # a bucket VANISHED from the input (all rows deleted) is neither
    # pending nor skipped, and dynamic overwrite never touches its
    # partition. The listing also finds partitions no entry covers: a run
    # that died between its pruned publish and the data delete left one
    vanished = sorted((set(entries) | on_disk) - set(fps))
    committed = {b: entries[b] for b in skipped}
    if pending:
        src = with_bucket(df, n_buckets).filter(F.col("bucket").isin(pending))
        turns = extract_turns(src.select("conv_id", "turn_idx", "role", "text", "tool"))
        turns = with_bucket(turns, n_buckets)
        # repartition AFTER extract_turns: the kernel stays in the
        # scan-parallel map stage, and each bucket is written by one task.
        # Dynamic partition overwrite as a WRITE-SCOPED option, not a
        # session conf: a set/restore around the job would race a second
        # run_extract_job on the same session (thread B's still-pending
        # write flips back to STATIC when thread A's finally fires —
        # static overwrite then deletes every bucket not in B's pending
        # set), and would silently retarget the caller's own concurrent
        # overwrite+partitionBy writes
        turns.repartition("bucket").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(data)
        counts = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(data)
            .filter(F.col("bucket").isin(pending))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for b in pending:
            committed[b] = (*fps[b], int(counts.get(b, 0)))
    if pending or vanished:
        publish_json_atomic(
            spark,
            manifest,
            {
                "extractor_version": EXTRACTOR_VERSION,
                "buckets": {str(b): dict(zip(_ENTRY, committed[b])) for b in sorted(committed)},
            },
        )
    # data deletes AFTER the publish: a crash between the two leaves a
    # partition no entry covers, so a bucket that returns is recomputed,
    # never skipped over deleted data
    for b in vanished:
        fs.delete(jvm.org.apache.hadoop.fs.Path(os.path.join(data, f"bucket={b}")), True)
    return {
        "processed": pending,
        "skipped": skipped,
        "rows_out": sum(committed[b][2] for b in pending),
    }

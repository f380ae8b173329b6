"""Versioned JSON manifests: the one place where commit files are read and
written.

A committed state is one small JSON file, ``<dir>/<v>.json``, that names
immutable data (the Iceberg rule: a commit is one metadata file). A writer
reads the newest version, writes its data, then publishes the next version
by writing ``<v>.json.tmp`` and renaming it to ``<v>.json``. That rename is
the only commit point:

- a writer that dies before it leaves the previous version standing, and
  its tmp file is overwritten when that version is next published;
- a version that already exists means another writer committed since this
  one read its base, so ``publish`` raises instead of dropping that
  writer's change;
- ``collect`` then deletes the versions older than the published one. It
  is idempotent, so the next writer finishes a collect that died mid-way.

IO goes through the Hadoop FileSystem API, not python ``open``, so a
directory may be on any filesystem the cluster reaches (hdfs://, s3a://, a
local path), like the data files beside it.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import SparkSession

_VERSION_RE = re.compile(r"^(\d+)\.json$")


def resolve(spark: SparkSession, path_str: str):
    """(jvm, FileSystem, Path) for ``path_str`` under the session's Hadoop
    conf. On the local filesystem the cached instance is a checksummed
    wrapper that shadows every file with a .crc sidecar; its RAW inner
    filesystem is used instead of flipping checksum flags on the SHARED
    cached instance (which would disable corruption detection for every
    other reader in the session, Spark's own parquet scans included).
    Remote filesystems (hdfs/s3a) have no such wrapper and are used
    as-is."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    try:
        fs = fs.getRawFileSystem()  # only ChecksumFileSystem has it
    except Exception:
        pass
    return jvm, fs, jpath


def read_json(spark: SparkSession, path_str: str) -> dict:
    """Read and parse one small JSON file. A missing file or an IO error
    raises from the JVM; bad JSON raises ValueError."""
    jvm, fs, jpath = resolve(spark, path_str)
    stream = fs.open(jpath)
    try:
        # one bulk read instead of a py4j round trip per line
        raw = jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(raw).decode("utf-8"))


def write_json(spark: SparkSession, path_str: str, payload: dict) -> None:
    """Write ``payload`` to ``<path_str>.tmp`` and rename it to
    ``path_str``. HDFS and S3 refuse to rename onto an existing file, so a
    caller replacing one deletes it first. Hadoop reports most failures
    through a false return, not an exception, so a failed rename raises."""
    jvm, fs, final = resolve(spark, path_str)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path_str}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise IOError(f"json write failed: rename {tmp}")


def versions(spark: SparkSession, directory: str) -> list[int]:
    """The published versions under ``directory``, oldest first; other
    names (``.tmp`` staging) are not versions."""
    _, fs, root = resolve(spark, directory)
    if not fs.exists(root):
        return []
    return sorted(
        int(v.group(1))
        for st in fs.listStatus(root)
        if (v := _VERSION_RE.match(st.getPath().getName()))
    )


def latest(spark: SparkSession, directory: str) -> tuple[int, dict | None]:
    """(newest version, its payload), or (0, None) when none is
    published. An unparseable newest version raises ValueError."""
    v = max(versions(spark, directory), default=0)
    return v, read_json(spark, f"{directory}/{v}.json") if v else None


def publish(spark: SparkSession, directory: str, version: int, payload: dict) -> None:
    """Commit ``payload`` as ``<directory>/<version>.json``. Raises if
    that version already exists: another writer committed while this one
    ran, and publishing would drop its change."""
    path = f"{directory}/{version}.json"
    _, fs, final = resolve(spark, path)
    if fs.exists(final):
        raise ValueError(
            f"{directory} already has version {version}: another writer "
            "committed while this one ran; nothing was published — rerun "
            "against the new version"
        )
    write_json(spark, path, payload)


def collect(spark: SparkSession, directory: str, version: int) -> None:
    """Delete every version under ``directory`` older than ``version``."""
    jvm, fs, _ = resolve(spark, directory)
    for v in versions(spark, directory):
        if v < version:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{directory}/{v}.json"), False)

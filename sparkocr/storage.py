"""Bucketed table storage — shuffle-free per-key operations — and the
commit protocol of the table-backed state stores.

The Iceberg design (north rule) buckets the transcript table by
``bucket(conv_id, N)``. Without the Iceberg jar, Spark's native bucketed
tables (``bucketBy`` + ``sortBy`` + ``saveAsTable``) provide the same
property through the session catalog: a table hash-bucketed on ``conv_id``
lets every downstream ``groupBy("conv_id")`` aggregation — doc assembly —
and every conv_id equi-join read co-located data with NO Exchange in the
plan (asserted in tests/test_plans.py). At 10^12 turns that removes the
single biggest shuffle in the pipeline: assembly moves zero bytes between
executors.

Requires ``spark.sql.sources.bucketing.enabled`` (default true) and a
session catalog (in-memory or Hive); the plain-parquet path with the
checkpoint module's bucket column stays the fallback for catalogless runs.

Commit protocol. The persisted dedup state (``pipeline.lsh_store``,
``pipeline.corpus_state``) is a set of bucketed data tables plus a
commit log and a meta row per store (``TableStore`` names them). Every
write to them goes through this module, under four rules:

- Meta last. A build drops the meta table first and writes it last;
  ``read_meta`` refuses a store whose meta is missing or empty, so a
  build that dies mid-way leaves a store no reader probes.
- Attempt-stamped rows. Every data row carries, in its ``append_id``
  column, the ATTEMPT that wrote it: ``base`` for a build,
  ``<append_id>-<nonce>`` for an append (``new_attempt``). A retry of a
  crashed append therefore never shares a stamp with the dead attempt.
- Commit row last. An append writes its data rows first and then one
  row ``(append_id, attempt, rows, ...)`` to the commit log; a build
  resets the log to its single ``base`` row. A committed append id is a
  skipped no-op on retry (``committed``).
- Orphans invisible. Readers see only rows whose stamp is a committed
  attempt (``committed_rows``). Rows of attempts that died before their
  commit are debris: counted by ``orphan_rows``, purged by a rebuild.

Appends are sequential per store; a crashed one is safely retried with
the same id.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

#: The attempt (and append id) of a store's build.
BASE = "base"
#: The data-table column holding a row's attempt stamp.
STAMP = "append_id"
#: Append ids name table rows here, and delta directories and manifest
#: entries in ``ann_index``.
APPEND_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    key: str,
    mode: str,
    sort: tuple[str, ...] | None = None,
) -> None:
    """Save ``df`` as a parquet table hash-bucketed on ``key`` and sorted
    within each bucket by ``sort`` (default: the key).

    The pre-write repartition matters: native bucketing writes one file
    per (task, bucket) pair, so an unrepartitioned input with T tasks
    emits up to T×n_buckets small files; repartitioning on the key uses
    the same murmur3-mod assignment as the bucket spec, giving each task
    exactly one bucket → one file per bucket."""
    (
        df.repartition(n_buckets, key)
        .write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(*(sort or (key,)))
        .format("parquet")
        .saveAsTable(table)
    )


def save_turns_bucketed(
    turns: DataFrame,
    table: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist per-turn output hash-bucketed and sorted by
    (conv_id, turn_idx): bucket pruning for point lookups, shuffle-free
    grouping for assembly, and in-bucket sort order that matches the
    stable output ordering the golden surface requires."""
    write_bucketed(turns, table, n_buckets, "conv_id", mode, ("conv_id", "turn_idx"))


@dataclass(frozen=True)
class TableStore:
    """The tables of one state store: data tables ``{prefix}_<name>`` for
    each name in ``data``, the commit log ``{prefix}_commits`` and the
    meta row ``{prefix}_meta``. ``label`` and ``builder`` word its
    errors."""

    prefix: str
    label: str
    builder: str
    data: tuple[str, ...]

    def table(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    @property
    def tables(self) -> tuple[str, ...]:
        """Every table the store owns."""
        return (*map(self.table, self.data), self.commits, self.meta)

    @property
    def commits(self) -> str:
        return self.table("commits")

    @property
    def meta(self) -> str:
        return self.table("meta")

    def rebuild_error(self, problem: str) -> ValueError:
        return ValueError(f"{self.label} {problem}; rebuild with {self.builder}")


def check_append_id(append_id: str) -> None:
    """Refuse a malformed append id, or the build's reserved one (it
    would match the base commit row and skip the append)."""
    if not APPEND_ID_RE.match(append_id or "") or append_id == BASE:
        raise ValueError(
            f"append_id {append_id!r} must match {APPEND_ID_RE.pattern} "
            f"and not be the reserved {BASE!r}"
        )


def _write_row(spark: SparkSession, table: str, row: dict, mode: str) -> None:
    df = spark.createDataFrame([tuple(row.values())], list(row))
    df.coalesce(1).write.mode(mode).saveAsTable(table)


def drop_meta(spark: SparkSession, ts: TableStore) -> None:
    """A build's first step: the store reads as half-built until
    ``write_meta``."""
    spark.sql(f"DROP TABLE IF EXISTS {ts.meta}")


def write_meta(spark: SparkSession, ts: TableStore, meta: dict) -> None:
    """A build's last step. ``meta`` is all ints (``read_meta`` casts)."""
    _write_row(spark, ts.meta, meta, "overwrite")


def read_meta(spark: SparkSession, ts: TableStore) -> dict:
    """The store's meta row, or a loud error for a half-built store."""
    try:
        row = spark.table(ts.meta).first()
    except Exception as e:
        row = None
        err = e
    else:
        err = None
    if row is None:
        raise ts.rebuild_error(
            "is not complete: its meta table is missing, unreadable, or "
            "empty (the build failed mid-way, or the name is wrong)"
        ) from err
    return {k: int(v) for k, v in row.asDict().items()}


def write_rows(
    df: DataFrame, ts: TableStore, name: str, n_buckets: int, key: str, attempt: str
) -> None:
    """Write data table ``name``'s rows stamped with ``attempt``: the
    build (attempt ``BASE``) overwrites the table, an append adds to it."""
    write_bucketed(
        df.withColumn(STAMP, F.lit(attempt)),
        ts.table(name),
        n_buckets,
        key,
        "overwrite" if attempt == BASE else "append",
    )


def write_commit(
    spark: SparkSession, ts: TableStore, append_id: str, attempt: str,
    rows: int, **extra: int,
) -> None:
    """Commit ``attempt`` as ``append_id``: written after every data row.
    The build's ``BASE`` commit resets the log, so markers of a previous
    store's appends never resurrect orphan rows."""
    _write_row(
        spark, ts.commits,
        {"append_id": append_id, "attempt": attempt, "rows": rows, **extra},
        "overwrite" if attempt == BASE else "append",
    )


def commits(spark: SparkSession, ts: TableStore) -> list[Row]:
    """The commit log, one row per committed build or append."""
    if not spark.catalog.tableExists(ts.commits):
        raise ts.rebuild_error("has no commits table")
    return spark.table(ts.commits).collect()


def committed(spark: SparkSession, ts: TableStore, append_id: str) -> Row | None:
    """``append_id``'s commit row, or None if it never committed."""
    return next((r for r in commits(spark, ts) if r.append_id == append_id), None)


def new_attempt(append_id: str) -> str:
    """A fresh stamp for one try at appending ``append_id``."""
    return f"{append_id}-{uuid.uuid4().hex[:12]}"


def committed_rows(spark: SparkSession, ts: TableStore, name: str) -> DataFrame:
    """The committed view of data table ``name``, stamp dropped. The isin
    filter sits on the scan, so bucketing survives (no Exchange), and the
    attempt list is one tiny driver-side read."""
    attempts = [r.attempt for r in commits(spark, ts)]
    return (
        spark.table(ts.table(name)).filter(F.col(STAMP).isin(attempts)).drop(STAMP)
    )


def orphan_rows(spark: SparkSession, ts: TableStore) -> int:
    """Uncommitted rows across the store's data tables."""
    attempts = [r.attempt for r in commits(spark, ts)]
    return sum(
        spark.table(ts.table(n)).filter(~F.col(STAMP).isin(attempts)).count()
        for n in ts.data
    )

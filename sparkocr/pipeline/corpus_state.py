"""Persisted exact-dedup content state for incremental corpus builds.

At 10^12-turn scale the corpus job cannot re-read the whole corpus to
admit a daily increment: the increment must discover "have I seen this
exact text / this conversation before?" by joining its OWN (small) side
against persisted state, never by shuffling anything corpus-sized. This
module is the exact-dup companion of ``lsh_store`` (which answers the
NEAR-dup version of the same question): a pair of bucketed tables
holding one row per exact-distinct document ever admitted to the
pipeline, with the same exactly-once append discipline.

Tables (warehouse-managed, like ``lsh_store``'s):

- ``{store}_content_byhash`` — ``(content_hash, doc_id, append_id)``
  bucketed by ``content_hash``: serves the "seen this text?" anti-join.
- ``{store}_content_byid`` — ``(doc_id, content_hash, append_id)``
  bucketed by ``doc_id``: serves the "seen this conversation?"
  anti-join (a re-crawl carries the same conv-derived doc_id with
  possibly different text). Two projections of the same tiny relation
  (~3 columns/doc) so BOTH anti-joins are Exchange-free on the state
  side — one table can only be bucketed on one key.
- ``{store}_content_commits`` — ``(append_id, attempt, rows,
  ordinal)``: the commit log. ``ordinal`` numbers increments 1, 2, ...
  (base build = 0) and drives per-increment pack-id namespacing.
- ``{store}_content_meta`` — ``(n_buckets, content_v)``.

Builds and appends follow ``storage``'s commit protocol (meta last,
attempt-stamped rows, commit row last, orphans invisible), like
``lsh_store``'s: a death mid-append leaves invisible orphans, a retry
lands exactly once, a committed retry is a skipped no-op.

The content hash is ``dedup._dedup_key()`` — the SAME definition
``exact_dedup`` groups on, so state membership and within-batch exact
dedup can never disagree on what "identical" means.

Concurrency contract: increments are sequential (one at a time);
retries of a crashed increment are safe. Two increments racing the
same store could interleave ordinals — unsupported, like concurrent
``append_lsh_store`` calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkocr import storage
from sparkocr.pipeline.dedup import _dedup_key

#: Version of the content-hash definition (dedup._dedup_key). Bump if
#: the hash definition changes: state built under another version must
#: be rebuilt, not silently probed with incompatible hashes.
CONTENT_V = 1


def tables(store: str) -> storage.TableStore:
    """The state's tables: ``{store}_content_byhash``,
    ``{store}_content_byid``, its commit log and meta row."""
    return storage.TableStore(
        f"{store}_content", f"content state {store!r}", "build_content_state",
        ("byhash", "byid"),
    )


def read_content_meta(spark: SparkSession, store: str) -> dict:
    """State parameters, or a loud error for a half-built state."""
    m = storage.read_meta(spark, tables(store))
    if m["content_v"] != CONTENT_V:
        raise ValueError(
            f"content state {store!r} was built under hash version "
            f"{m['content_v']} (current {CONTENT_V}) — rebuild with "
            "build_content_state"
        )
    return m


def build_content_state(docs: DataFrame, store: str, n_buckets: int = 64) -> None:
    """Build (or rebuild) the state from a full corpus build's
    exact-distinct docs. Base rows commit with ordinal 0."""
    spark = docs.sparkSession
    ts = tables(store)
    storage.drop_meta(spark, ts)
    rows = docs.select(_dedup_key().alias("content_hash"), "doc_id")
    storage.write_rows(rows, ts, "byhash", n_buckets, "content_hash", storage.BASE)
    # derive the byid projection from reading byhash back (the text is
    # hashed once; this reads the 3-column relation, not the corpus)
    stored = spark.table(ts.table("byhash")).select("doc_id", "content_hash")
    storage.write_rows(stored, ts, "byid", n_buckets, "doc_id", storage.BASE)
    storage.write_commit(
        spark, ts, storage.BASE, storage.BASE, stored.count(), ordinal=0
    )
    storage.write_meta(spark, ts, {"n_buckets": n_buckets, "content_v": CONTENT_V})


def committed_ordinal(spark: SparkSession, store: str, append_id: str):
    """The committed ordinal for ``append_id``, or None if uncommitted —
    the "has this increment already fully run?" check."""
    read_content_meta(spark, store)
    done = storage.committed(spark, tables(store), append_id)
    return None if done is None else int(done.ordinal)


def next_ordinal(spark: SparkSession, store: str) -> int:
    """The ordinal the NEXT increment will commit under (1 + max
    committed). Deterministic across a crashed increment's retries as
    long as increments are sequential (see module contract)."""
    return 1 + max(int(r.ordinal) for r in storage.commits(spark, tables(store)))


def filter_novel(
    docs: DataFrame, store: str, stats: dict | None = None
) -> DataFrame:
    """Docs not yet in the state: drop rows whose content hash is
    already committed (exact re-fetch under any conv key), then rows
    whose doc_id is already committed (a re-crawled conversation whose
    text changed — the corpus keeps the originally admitted version;
    note a 64-bit doc_id COLLISION between different conversations is
    indistinguishable here and is also dropped — astronomically
    unlikely below ~10^8 docs, the same bound ``corpus_job``'s
    injectivity check documents).

    Both anti-joins are Exchange-free on the state side (bucketed on the
    join key); only the increment side shuffles.

    ``stats``: when given, an ``Observation`` is planted between the two
    anti-joins under key ``"after_byhash_obs"`` — after the caller's
    first action over the result it reports how many docs survived the
    content-hash filter, so (that value - novel count) = docs dropped
    by the byid join with CONTENT THE STATE HAS NEVER SEEN. That
    difference is the observable signal for the module's batch-boundary
    contract: a conversation whose turns straddled two
    batches/increments (or whose text changed between crawls) shows up
    here instead of vanishing silently. Zero-cost: the count rides the
    caller's existing action, no extra job."""
    spark = docs.sparkSession
    read_content_meta(spark, store)
    byhash = storage.committed_rows(spark, tables(store), "byhash")
    byid = storage.committed_rows(spark, tables(store), "byid")
    mid = (
        docs.withColumn("content_hash", _dedup_key())
        .join(byhash.select("content_hash"), "content_hash", "left_anti")
        .drop("content_hash")
    )
    if stats is not None:
        from pyspark.sql import Observation

        obs = Observation()
        mid = mid.observe(obs, F.count(F.lit(1)).alias("n"))
        stats["after_byhash_obs"] = obs
    return mid.join(byid.select("doc_id"), "doc_id", "left_anti")


def append_content_state(
    docs: DataFrame, store: str, append_id: str, ordinal: int
) -> dict:
    """Append an increment's exact-distinct docs to the state,
    exactly-once per ``append_id`` under ``storage``'s commit protocol;
    the commit row carries the increment's ordinal. Returns
    ``{"append_id", "rows", "ordinal", "skipped"}``."""
    from sparkocr.pipeline import caching

    storage.check_append_id(append_id)
    spark = docs.sparkSession
    ts = tables(store)
    m = read_content_meta(spark, store)
    done = storage.committed(spark, ts, append_id)
    if done is not None:
        return {
            "append_id": append_id, "rows": int(done.rows),
            "ordinal": int(done.ordinal), "skipped": True,
        }
    attempt = storage.new_attempt(append_id)
    # hash once, cache the tiny 2-column increment relation, and feed
    # BOTH projections (and the count) from the cache — re-reading the
    # state table filtered by attempt would scan state-sized data per
    # append. Scoped here: every consuming action happens inside.
    with caching.scope():
        rows = caching.register(
            docs.select(_dedup_key().alias("content_hash"), "doc_id")
        )
        storage.write_rows(
            rows, ts, "byhash", m["n_buckets"], "content_hash", attempt
        )
        storage.write_rows(
            rows.select("doc_id", "content_hash"), ts, "byid", m["n_buckets"],
            "doc_id", attempt,
        )
        n = rows.count()
    storage.write_commit(spark, ts, append_id, attempt, n, ordinal=ordinal)
    return {
        "append_id": append_id, "rows": n, "ordinal": ordinal,
        "skipped": False,
    }


def check_content_state(spark: SparkSession, store: str) -> dict:
    """Consistency audit: committed rows must appear exactly once in
    BOTH projections. ``orphan_rows`` counts uncommitted debris (crashed
    attempts — invisible to readers, reclaimed by a rebuild);
    ``mismatched_docs`` counts doc_ids whose committed byhash/byid row
    counts differ (a broken append — rebuild)."""
    read_content_meta(spark, store)
    ts = tables(store)
    orphans = storage.orphan_rows(spark, ts)
    h = (
        storage.committed_rows(spark, ts, "byhash")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_h"))
    )
    i = (
        storage.committed_rows(spark, ts, "byid")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_i"))
    )
    mismatched = int(
        h.join(i, "doc_id", "full")
        .filter(
            (F.coalesce("n_h", F.lit(0)) != F.coalesce("n_i", F.lit(0)))
            | (F.col("n_h") != 1)
        )
        .count()
    )
    return {"orphan_rows": orphans, "mismatched_docs": mismatched}

"""State audit job: one spark-submit that health-checks the incremental
corpus state (LSH store + content tables) and their cross-consistency.

    spark-submit --py-files sparkocr.zip sparkocr/jobs/audit_job.py \
        --store corpus_state [--strict] [--master ...]

Prints one JSON line; the exit code is the cron/alert contract. What it
checks, beyond the per-store audits (``check_lsh_store``,
``check_content_state``):

- ``pending_increments``: append ids committed in the LSH store but not
  in the content state. The increment commits the LSH append BEFORE the
  content state, so this set is nonempty for (a) an increment RUNNING
  right now and (b) a crashed increment never retried — the audit
  cannot tell the two apart from one observation, so pending ids are
  REPORTED (by name — retry them with the same id to heal) but do not
  fail the default exit code; pass ``--strict`` to alert on them (for
  schedules that never overlap an increment). Both crash shapes heal on
  retry: same id (LSH skips, content commits) or different id (the
  store-side ``skip_existing`` guard dedups the LSH side).
- ``lsh_only_docs`` / ``content_without_sigs``: the same boundary at
  doc granularity, counted in ONE full-outer pass over the two
  bucketed-by-doc_id relations (no corpus-sized shuffle).
  ``content_without_sigs`` is legitimately nonzero for documents
  shorter than the shingle width (``minhash_signatures`` emits no row
  for them) — informational; a sudden spike still merits a look.

``healthy`` = hard corruption checks only: zero dup/missing/mismatch
counts in both store audits. Orphan rows (crashed attempts, invisible
to readers) and the pending/boundary counts are reported but do not
fail it.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F


def audit_state(spark: SparkSession, store: str) -> dict:
    from sparkocr import storage
    from sparkocr.pipeline import corpus_state, lsh_store

    lsh, content = lsh_store.tables(store), corpus_state.tables(store)
    out: dict = {"store": store}
    out["lsh"] = lsh_store.check_lsh_store(spark, store)
    out["content"] = corpus_state.check_content_state(spark, store)

    sig_ids = (
        storage.committed_rows(spark, lsh, "sigs")
        .select("doc_id").distinct().withColumn("s", F.lit(1))
    )
    content_ids = (
        storage.committed_rows(spark, content, "byid")
        .select("doc_id").distinct().withColumn("c", F.lit(1))
    )
    row = (
        sig_ids.join(content_ids, "doc_id", "full")
        .agg(
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0)).alias("lo"),
            F.sum(F.when(F.col("s").isNull(), 1).otherwise(0)).alias("co"),
        )
        .first()
    )
    out["lsh_only_docs"] = int(row["lo"] or 0)
    out["content_without_sigs"] = int(row["co"] or 0)

    content_commits = storage.commits(spark, content)
    out["pending_increments"] = sorted(
        {r.append_id for r in storage.commits(spark, lsh)}
        - {r.append_id for r in content_commits}
    )
    out["increments"] = max(int(r.ordinal) for r in content_commits)

    bad = out["lsh"]
    cbad = out["content"]
    out["healthy"] = (
        bad["dup_sig_docs"] == 0
        and bad["missing_sig_docs"] == 0
        and bad["band_mismatch_docs"] == 0
        and cbad["mismatched_docs"] == 0
    )
    return out


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True)
    ap.add_argument(
        "--strict", action="store_true",
        help="also exit nonzero on pending increments (schedules that "
        "never overlap a running increment)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from sparkocr.session import build_session

    spark = build_session("sparkocr-audit", master=args.master)
    report = audit_state(spark, args.store)
    print(json.dumps(report))
    spark.stop()
    if not report["healthy"] or (
        args.strict and report["pending_increments"]
    ):
        sys.exit(1)
    return report


if __name__ == "__main__":
    main()

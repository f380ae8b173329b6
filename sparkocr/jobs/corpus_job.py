"""End-to-end training-corpus pipeline: transcripts in, packed corpus out.

The composition the individual operators exist for, as one spark-submit
job:

    extract (per-turn, Arrow-batched)
      → assemble (per-conversation document)
      → exact dedup (md5 groups, keep min id)
      → near-dup dedup (MinHash-LSH pairs → connected components →
        one canonical doc per cluster)
      → quality filter (word-count threshold)
      → domain blocklist (optional --blocklist parquet with a
        ``domain`` column; suffix-matched, fail-closed on null ids)
      → benchmark decontamination (optional --bench parquet with a
        ``text`` column; 13-gram overlap on the RAW text — redaction
        placeholders must not mask an eval overlap — fail-closed)
      → PII redaction (optional --redact flag; audit counts ride into
        the corpus columns and the summary)
      → train/val/test hash split
      → sequence packing (fixed-token-budget packs)
      → parquet corpus + one JSON summary line with per-stage counts
        and per-stage wall seconds (``stage_sec`` — each stage count
        already forces the stage's plan, so lap times around the counts
        attribute the job's wall clock with no extra jobs).

Usage (deployment shape mirrors ``extract_job``):

    spark-submit --py-files sparkocr.zip sparkocr/jobs/corpus_job.py \
        --input transcripts.parquet --out /corpus
        [--bench bench.parquet] [--blocklist domains.parquet] [--redact]
        [--budget 2048] [--min-words 5] [--near-threshold 0.8]
        [--store corpus_state]

INCREMENTAL MODE (``--append-id``): at 10^12-turn scale a daily batch of
new transcripts must never pay corpus-proportional work. A full build
run with ``--store NAME`` persists dedup state — the incremental LSH
store (``pipeline.lsh_store``) plus exact-content tables
(``pipeline.corpus_state``), both bucketed so state-side joins are
Exchange-free — and subsequent runs with ``--append-id DAY`` process
only the increment:

    spark-submit ... corpus_job.py --input day17.parquet \
        --out /corpus/inc_day17 --store corpus_state --append-id day17

    extract/assemble the increment
      → exact dedup within the increment
      → drop docs already in the state (exact re-fetches by content
        hash; re-crawled conversations by doc_id — the corpus keeps the
        originally admitted version)
      → append the novel docs' signatures to the LSH store
        (exactly-once per append-id)
      → incremental near-dup pairs (new-new + new-old, store side
        never shuffled) → any new doc connected to an old doc drops,
        new-only clusters keep their min id
      → the same hygiene stages (quality / blocklist / decontam /
        redact) → split → pack (pack ids namespaced per increment —
        disjoint from the base corpus and every other increment)
      → parquet corpus for the increment + content-state append,
        committed LAST so a crashed run leaves no committed state and
        a retry of the same append-id lands exactly once (a completed
        append-id is a skipped no-op).

The corpus is then the base ``corpus/`` directory plus each increment's
— the usual date-partitioned lake layout; consumers read the union.
Increments are sequential (like ``append_lsh_store``); a crashed one is
safely retried with the same append-id. The state tables must live in a
catalog that OUTLIVES one job run: any production metastore (Hive
catalog, Iceberg/Glue) qualifies; Spark's default in-memory catalog
does not — for single-box runs pass
``--conf spark.sql.catalogImplementation=hive`` (embedded Derby
metastore in the job's working directory) so successive spark-submit
invocations see the same state, or run all increments in one session. Near-dup tie-breaking
deliberately differs from a full rebuild: the rebuild keeps each
cluster's min doc_id (which may be a newcomer), increments never
displace an admitted doc.

Document identity: ``doc_id = xxhash64(conv_id)`` (a long — the type the
whole pipeline keys on), with ``conv_id`` carried alongside for
traceability; the one possible null-conv document (all null-conv turns
assemble into a single doc) hashes a sentinel instead of colliding into
``xxhash64(NULL)`` = the seed. A 64-bit hash collision would silently
merge two conversations, so the job VERIFIES injectivity with one
aggregate pass (distinct doc_ids == distinct conv keys, nulls counted)
and fails loudly on a collision (astronomically unlikely below ~10^8
docs; at larger corpora key the table upstream).

Packing runs PER SPLIT: a pack mixing train and val/test documents is
eval leakage for any consumer that materializes packs wholesale, and a
split-filtered read would see holes in pack_pos — each split packs
independently and pack ids are offset per split to stay globally
unique. The base build namespaces splits at ``i << 60``; increment
``ordinal`` (1, 2, ... from the content-state commit log) namespaces at
``(3·ordinal + i) << 47`` — every window fits under the base's val
offset through ordinal 2729 (7+ years of daily increments), and the job
refuses loudly past that.

Stage counts in the summary each force an action; intermediate frames
are cached through ``pipeline.caching`` and released before exit, so the
accounting does not recompute the chain stage-by-stage.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import functions as F

#: Pack-id namespace stride for increments: comfortably above one
#: split's own id range ((n_groups+1) * 2^40 at the default 64 groups)
#: and dense enough that 2729 increments fit under the base build's
#: val-split offset at 1 << 60.
_INC_SPAN = 1 << 47


def _write_summary(spark, out_dir: str, counts: dict) -> None:
    """Persist the run's counts beside its corpus as ``_summary.json``
    (through the Hadoop filesystem, so any ``--out`` URI works): the
    job-level lineage artifact, the corpus counterpart of the extract
    job's manifest. A consumer auditing a corpus directory reads the
    funnel that produced it without the driver log. The previous run's
    file is removed first, then the new one is renamed into place."""
    from sparkocr import manifest

    path = f"{out_dir}/_summary.json"
    _, fs, jpath = manifest.resolve(spark, path)
    fs.delete(jpath, False)
    manifest.write_json(spark, path, counts)


def _thresholded_pairs(pair_fn, near_threshold: float):
    """The near-dup threshold contract, shared by the full build and the
    increment: ``min_est``'s domain is (0, 1] — in-range thresholds push
    into the operator (the band-match pigeonhole prune keeps a near-dup
    family's O(d^2) single-band collisions out of the signature verify
    join); out-of-contract values are degenerate-but-valid and keep the
    unpruned full-candidate path (non-positive = every candidate is an
    edge; above 1 = no estimate qualifies, the filter is simply
    empty). ``pair_fn(min_est=...)`` builds the operator call."""
    if 0 < near_threshold <= 1:
        return pair_fn(min_est=near_threshold)
    return pair_fn(min_est=None).filter(
        F.col("est_jaccard") >= near_threshold
    )


def _make_lap(timings: dict):
    t = time.monotonic()

    def lap(stage: str) -> None:
        nonlocal t
        now = time.monotonic()
        timings[stage] = round(now - t, 3)
        t = now

    return lap


def _assemble_docs(spark, transcripts, caching):
    """Extract + assemble into the job's document frame
    ``(doc_id, conv_id, text)`` (cached), plus the injectivity
    aggregate row. ``transcripts`` is a path or an already-loaded
    (batch) DataFrame — the latter is how the streaming wrapper feeds
    micro-batches through the same core."""
    from sparkocr.assemble import assemble_docs_cli
    from sparkocr.extract.dispatch import extract_turns

    if isinstance(transcripts, str):
        transcripts = spark.read.parquet(transcripts)
    # markdown=False: this pipeline reads only clean_text (assembly +
    # dedup feeds), so skip the second grounding-cleanup pass
    turns = extract_turns(transcripts, markdown=False)
    docs = caching.register(
        assemble_docs_cli(turns).select(
            F.xxhash64(
                F.coalesce(F.col("conv_id"), F.lit("\x00corpus_job:null-conv"))
            ).alias("doc_id"),
            "conv_id",
            F.col("doc_text").alias("text"),
        )
    )
    ids = docs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("doc_id").alias("n_ids"),
        # nulls are invisible to count_distinct; the (single) null
        # conv is a real document and must count toward injectivity
        (
            F.count_distinct("conv_id")
            + F.max(F.col("conv_id").isNull().cast("int"))
        ).alias("n_convs"),
    ).first()
    if ids["rows"] and ids["n_ids"] != ids["n_convs"]:
        raise ValueError(
            "corpus_job: the doc_id hash collided "
            f"({ids['n_convs']} conversation keys → {ids['n_ids']} "
            "doc_ids) — two conversations would silently merge; key "
            "the table upstream with a wider id"
        )
    return docs, int(ids["rows"])


def _with_ws_tokens(docs):
    """Attach the shared whitespace-token-count column (see _hygiene) —
    callers bake it into a frame that is about to be cached anyway, so
    the count costs no extra pass of its own."""
    from sparkocr.pipeline.textstats import ws_token_count_col

    return docs.withColumn("n_ws_tokens", ws_token_count_col())


def _hygiene(
    spark, caching, docs, counts, lap, *,
    min_words, blocklist_path, bench_path, redact,
):
    """The shared post-dedup stages: quality filter → domain blocklist →
    benchmark decontamination → PII redaction (each optional stage only
    when its input/flag is given; counts and laps recorded per stage)."""
    from sparkocr.pipeline.textstats import ws_token_count_col

    # the whitespace-token count is computed ONCE (upstream callers bake
    # it into the near-dedup cache via _with_ws_tokens; any other caller
    # pays it here) and every later stage reads the column: the quality
    # filter, and _split_pack_write's packing — which previously
    # re-derived the same count from text three times (once per split),
    # a full corpus text scan each, which profiling showed dominated
    # both stages. The filtered frame is NOT a second cache entry: a
    # predicate over an already-cached column costs less per consumer
    # than materializing another full-text cache copy.
    if "n_ws_tokens" not in docs.columns:
        docs = caching.register(
            docs.withColumn("n_ws_tokens", ws_token_count_col())
        )
    quality = docs.filter(F.col("n_ws_tokens") >= min_words)
    counts["after_quality_filter"] = quality.count()
    lap("quality_filter")

    final = quality
    if blocklist_path is not None:
        from sparkocr.pipeline.redact import domain_filter

        blocklist = spark.read.parquet(blocklist_path)
        final = caching.register(domain_filter(final, blocklist))
        counts["after_domain_filter"] = final.count()
        lap("domain_filter")
    if bench_path is not None:
        from sparkocr.pipeline.decontam import decontaminate

        bench = spark.read.parquet(bench_path)
        final = caching.register(decontaminate(final, bench))
        counts["after_decontamination"] = final.count()
        lap("decontamination")
    if redact:
        from sparkocr.pipeline.redact import audit_totals, redact_pii

        # redaction REWRITES text, so the precomputed count would be
        # stale — recompute it over the redacted text (withColumn
        # replaces the existing column)
        final = caching.register(
            redact_pii(final).withColumn("n_ws_tokens", ws_token_count_col())
        )
        counts["pii_redactions"] = audit_totals(final)["total"]
        lap("redaction")
    return final


def _split_pack_write(
    spark, caching, final, out_dir, counts, lap, *,
    budget, size_col, offsets,
):
    """Hash-split, pack per split (pack ids offset per ``offsets``, one
    per train/val/test), join pack columns back, and write the corpus."""
    from pyspark.sql import Observation

    from sparkocr.pipeline.dedup import cap_metrics_get, hash_split
    from sparkocr.pipeline.packing import pack_sequences
    from sparkocr.pipeline.textstats import ws_token_count_col

    # hash_split is a narrow md5-of-key projection over the (cached)
    # hygiene output — NOT registered as its own cache entry: a second
    # full-text cache copy cost more to materialize than the four cheap
    # recomputes its consumers (three per-split pack scans, which prune
    # text away anyway, and the corpus join) pay
    final = final.transform(hash_split, key="conv_id")
    # --size-col: pack by a PRECOMPUTED token-count column instead of
    # the whitespace default — the seam a production pipeline routes
    # real BPE counts through (pack_sequences sizes by whatever count
    # lands in the column; it never re-tokenizes). The three stock
    # counters materialize here by name; any other name must already
    # be a column of the corpus frame (e.g. joined in upstream).
    # n_ws_tokens is an INTERNAL helper the hygiene stage bakes into its
    # cache; it is dropped before the corpus write in every mode except
    # an explicit --size-col n_ws_tokens (where the user asked for that
    # column and earlier releases wrote it) — the output schema must not
    # depend on which size column the packing used
    drop_helper = size_col != "n_ws_tokens" and "n_ws_tokens" in final.columns
    if size_col is None and "n_ws_tokens" in final.columns:
        # the default whitespace sizing, but the count was already
        # computed (and cached) by the quality stage — pack by the
        # column instead of re-scanning text per split. pack_sequences'
        # default size expression IS ws_token_count_col, so n_tokens is
        # bit-identical.
        size_col = "n_ws_tokens"
    pack_cols = ["doc_id", "text"]
    if size_col is not None:
        if size_col not in final.columns:
            from sparkocr.pipeline.textstats import word_token_count_col

            from sparkocr.pipeline.bpe import bpe_token_count_col

            stock = {
                "n_ws_tokens": ws_token_count_col,
                "n_word_tokens": word_token_count_col,
                # vendored byte-level BPE (sparkocr/resources/
                # bpe_merges.txt): the tokenizer-shaped count a real
                # pre-training pipeline packs by
                "n_bpe_tokens": bpe_token_count_col,
            }
            if size_col not in stock:
                raise ValueError(
                    f"corpus_job: --size-col {size_col!r} is neither a "
                    f"corpus column ({final.columns}) nor a stock "
                    f"counter ({sorted(stock)})"
                )
            final = caching.register(
                final.withColumn(size_col, stock[size_col]())
            )
        pack_cols.append(size_col)
    # pack PER SPLIT: one pack must never mix train with val/test
    # docs (eval leakage / pack_pos holes for split-filtered reads);
    # per-split pack ids are offset to stay globally unique
    packed_parts = [
        pack_sequences(
            final.filter(F.col("split") == s).select(*pack_cols),
            budget,
            size_col=size_col,
            id_offset=off,  # validated against the group layout by
            # pack_sequences itself — the namespace lives there
        )
        for s, off in zip(["train", "val", "test"], offsets)
    ]
    packed = packed_parts[0]
    for part in packed_parts[1:]:
        packed = packed.unionByName(part)
    # the summary counts ride the corpus write as an Observation, so the
    # three pack plans run once, inside the write job, with no cached
    # pack frame and no separate counting job. Each final doc gets
    # exactly one pack row, so the written rows are the packed docs and
    # every pack has exactly one pack_pos == 0 row. (Caching the pack
    # frame would also pin its shuffle at spark.sql.shuffle.partitions:
    # AQE does not re-partition a cached plan.)
    obs = Observation("pack_counts")
    corpus = (
        (final.drop("n_ws_tokens") if drop_helper else final)
        .join(
            packed.select("doc_id", "n_tokens", "pack_id", "pack_pos"),
            "doc_id",
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("pack_pos") == 0).cast("long")).alias("packs"),
        )
    )
    corpus.write.mode("overwrite").parquet(os.path.join(out_dir, "corpus"))
    # None: AQE pruned an empty relation together with the observation
    stats = cap_metrics_get(obs) or {}
    counts["packed_docs"] = int(stats.get("rows") or 0)
    counts["packs"] = int(stats.get("packs") or 0)
    lap("split_pack_write")


def build_corpus(
    spark,
    transcripts_path: str,
    out_dir: str,
    bench_path: str | None = None,
    budget: int = 2048,
    min_words: int = 5,
    near_threshold: float = 0.8,
    blocklist_path: str | None = None,
    redact: bool = False,
    size_col: str | None = None,
    minhash_kind: str = "rolling",
    store: str | None = None,
) -> dict:
    from sparkocr.pipeline import caching
    from sparkocr.pipeline.dedup import (
        dedup_corpus,
        lsh_candidate_pairs,
        neardup_corpus,
    )

    counts: dict[str, int] = {}
    # per-stage wall seconds, measured around each count-forcing action —
    # every stage count already forces the stage's plan, so the lap times
    # attribute the job's wall clock honestly without extra jobs. This is
    # the first thing an owner reads when a nightly run slows down.
    timings: dict[str, float] = {}
    lap = _make_lap(timings)
    counts["stage_sec"] = timings
    with caching.scope():
        docs, n_docs = _assemble_docs(spark, transcripts_path, caching)
        counts["assembled_docs"] = n_docs
        lap("extract_assemble")
        if n_docs == 0:
            # empty input (or every turn truncated away): there is no
            # corpus to write
            counts.update(
                after_exact_dedup=0, after_near_dedup=0,
                after_quality_filter=0, packed_docs=0, packs=0,
                cluster_edges=0, cluster_mode="driver",
            )
            # optional stage keys must exist whenever their flag is on —
            # a monitoring consumer reading the summary on an empty-input
            # day must not hit a missing key
            if blocklist_path is not None:
                counts["after_domain_filter"] = 0
            if bench_path is not None:
                counts["after_decontamination"] = 0
            if redact:
                counts["pii_redactions"] = 0
            if store is not None:
                # a full REBUILD's contract is "state == this build's
                # input", even when that input is empty: skipping the
                # bootstrap here would leave either no state tables or —
                # worse — a previous build's STALE state under the same
                # name, which later --append-id increments would
                # silently dedup against while the freshly written base
                # corpus is empty. Bootstrap from the empty doc frame so
                # the store is reset like any other rebuild.
                from sparkocr.pipeline.corpus_state import (
                    build_content_state,
                )
                from sparkocr.pipeline.lsh_store import build_lsh_store

                empty = docs.select("doc_id", "text")
                build_lsh_store(empty, store, hash_kind=minhash_kind)
                build_content_state(empty, store)
                counts["state_store"] = store
                lap("state_build")
            _write_summary(spark, out_dir, counts)
            return counts

        exact = caching.register(dedup_corpus(docs))
        counts["after_exact_dedup"] = exact.count()
        lap("exact_dedup")

        # LSH emits CANDIDATES; only pairs whose estimated similarity
        # clears the threshold are duplicate edges — clustering raw
        # candidates would over-merge anything sharing one band.
        # hash_kind="rolling" by default: the Arrow rolling-hash minhash
        # (minhash_fast) — the signature stage was 80% of this job's
        # near_dedup wall time under the md5 kind (40 s vs 1.8 s on the
        # sf0.1 corpus); a one-off job has no stored sigs to stay
        # compatible with, so it takes the fast construction.
        # Threshold contract: see _thresholded_pairs. When a store will
        # be built, the corpus-sized signature pass is computed ONCE
        # here and shared between the pair mine and the store build —
        # each would otherwise recompute it from the raw text.
        sigs = None
        if store is not None:
            from sparkocr.pipeline.dedup import minhash_signatures

            sigs = caching.register(
                minhash_signatures(
                    exact.select("doc_id", "text"), hash_kind=minhash_kind
                )
            )
        pairs = _thresholded_pairs(
            lambda min_est: lsh_candidate_pairs(
                exact, hash_kind=minhash_kind, min_est=min_est, sigs=sigs
            ),
            near_threshold,
        )
        cluster_stats: dict = {}
        # n_ws_tokens rides the near-dedup cache materialization: the
        # quality stage then filters a cached column instead of paying
        # its own full-text cache copy + scan (one fewer driver-paced
        # action + one fewer corpus-sized cache — the serial floor the
        # scaling Amdahl decomposition measures)
        neardup = caching.register(
            _with_ws_tokens(neardup_corpus(exact, pairs, stats=cluster_stats))
        )
        counts["after_near_dedup"] = neardup.count()
        # clustering telemetry rides the summary: mode says whether the
        # driver finisher or the distributed loop ran; a max_component /
        # rounds spike is the hot-shingle-chaining early warning
        counts["cluster_edges"] = cluster_stats.get("n_edges", 0)
        counts["cluster_mode"] = cluster_stats.get("mode", "driver")
        lap("near_dedup")

        final = _hygiene(
            spark, caching, neardup, counts, lap,
            min_words=min_words, blocklist_path=blocklist_path,
            bench_path=bench_path, redact=redact,
        )
        _split_pack_write(
            spark, caching, final, out_dir, counts, lap,
            budget=budget, size_col=size_col,
            offsets=[i << 60 for i in range(3)],
        )

        if store is not None:
            # bootstrap incremental state from this build. State = every
            # exact-distinct doc SEEN (post exact dedup), not just
            # survivors: a future increment near-dup to a doc this build
            # DROPPED must still see the bridge — "connected to anything
            # old → drop", the same transitive rule a rebuild applies.
            from sparkocr.pipeline.corpus_state import build_content_state
            from sparkocr.pipeline.lsh_store import build_lsh_store

            build_lsh_store(
                exact.select("doc_id", "text"), store,
                hash_kind=minhash_kind, sigs=sigs,
            )
            build_content_state(exact.select("doc_id", "text"), store)
            counts["state_store"] = store
            lap("state_build")
    _write_summary(spark, out_dir, counts)
    return counts


def increment_corpus(
    spark,
    transcripts,
    out_dir: str,
    store: str,
    append_id: str,
    *,
    bench_path: str | None = None,
    budget: int = 2048,
    min_words: int = 5,
    near_threshold: float = 0.8,
    blocklist_path: str | None = None,
    redact: bool = False,
    size_col: str | None = None,
) -> dict:
    """Process one increment of new transcripts against the persisted
    dedup state (see module docstring). Exactly-once per ``append_id``;
    only increment-sized (and pair-sized) data ever shuffles — the
    state tables are joined Exchange-free on their bucket keys.
    ``transcripts`` is a parquet path or a batch DataFrame (the
    streaming wrapper passes each micro-batch frame directly).

    The minhash construction is NOT a parameter here: the LSH store
    records its kind and appends replay it, so an increment can never
    drift from the signatures it is compared against."""
    from sparkocr.pipeline import caching, corpus_state
    from sparkocr.pipeline.dedup import (
        cap_metrics_get,
        dedup_corpus,
        dup_clusters,
    )
    from sparkocr.pipeline.lsh_store import (
        append_lsh_store,
        incremental_lsh_pairs,
        store_signatures,
    )

    from sparkocr.storage import check_append_id

    # validate the id UP FRONT: 'base' would match the bootstrap commit
    # row below and silently skip the whole increment, and a malformed id
    # would otherwise run the expensive extract/dedup stages before dying
    # at the append
    check_append_id(append_id)

    counts: dict = {"append_id": append_id}
    timings: dict[str, float] = {}
    lap = _make_lap(timings)
    counts["stage_sec"] = timings

    done = corpus_state.committed_ordinal(spark, store, append_id)
    if done is not None:
        # the commit row is written after the corpus parquet: a
        # committed id means the whole increment landed — skip
        return {"append_id": append_id, "ordinal": done, "skipped": True}
    ordinal = corpus_state.next_ordinal(spark, store)
    if 3 * ordinal + 2 >= (1 << 13):
        raise ValueError(
            f"corpus_job: increment ordinal {ordinal} exhausts the "
            "pack-id namespace (2729 increments fit under the base "
            "corpus's split offsets) — run a full rebuild to compact"
        )
    counts["ordinal"] = ordinal

    with caching.scope():
        docs, n_docs = _assemble_docs(spark, transcripts, caching)
        counts["assembled_docs"] = n_docs
        lap("extract_assemble")

        exact = caching.register(dedup_corpus(docs))
        counts["after_exact_dedup"] = exact.count()
        lap("exact_dedup")

        # drop docs the corpus has already seen: exact re-fetches (by
        # content hash, any conv key) and re-crawled conversations (by
        # doc_id — the admitted version stays)
        fstats: dict = {}
        novel = caching.register(
            corpus_state.filter_novel(exact, store, stats=fstats)
        )
        counts["novel_docs"] = novel.count()
        counts["already_present"] = (
            counts["after_exact_dedup"] - counts["novel_docs"]
        )
        # contract-violation telemetry: docs the byid join dropped whose
        # CONTENT the state had never seen — a conversation straddling
        # two batches (its second partial) or a changed re-crawl. The
        # streaming wrapper's batch-boundary assumption is exactly
        # "this stays 0"; a nonzero value is the observable alarm.
        # (Observation rides the novel.count() action above; with zero
        # input docs the observed subtree may be pruned before it runs,
        # so short-circuit rather than block on an unfired observation.
        # A None read means AQE pruned the observed subtree: no conflicts.)
        byhash = (
            cap_metrics_get(fstats["after_byhash_obs"])
            if counts["after_exact_dedup"]
            else None
        )
        counts["byid_content_conflicts"] = (
            int(byhash["n"]) - counts["novel_docs"] if byhash else 0
        )
        lap("state_filter")

        # the increment's signatures are its dominant compute at scale:
        # computed ONCE with the store's parameters and shared by the
        # append and the pair mining (each would otherwise rebuild them)
        sigs = caching.register(
            store_signatures(novel.select("doc_id", "text"), store)
        )
        ap = append_lsh_store(
            novel.select("doc_id", "text"), store, append_id, sigs=sigs
        )
        counts["lsh_rows_appended"] = ap["rows"]
        # >0 here means a prior crashed run's docs re-arrived under a
        # different id and the store-side guard excluded them — worth a
        # monitoring eye even though it is handled
        counts["lsh_rows_existing"] = ap.get("n_existing", 0)
        lap("lsh_append")

        # near-dup pairs touching the increment (new-new + new-old).
        # Correct to run after the append: the store copies of the
        # increment's own docs are excluded inside the operator.
        pairs = _thresholded_pairs(
            lambda min_est: incremental_lsh_pairs(
                novel, store, min_est=min_est, sigs=sigs
            ),
            near_threshold,
        )
        new_ids = novel.select("doc_id")
        cluster_stats: dict = {}
        labels = dup_clusters(pairs, nodes=new_ids, stats=cluster_stats)
        # survivors: clusters containing NO old doc keep their min NEW
        # id; any new doc connected (even transitively) to an old doc
        # drops — the admitted corpus is immutable, newcomers never
        # displace it. (A full rebuild tie-breaks by min doc_id and
        # could keep the newcomer instead; see module docstring.)
        lab = labels.join(
            new_ids.select(
                F.col("doc_id").alias("id"), F.lit(1).alias("is_new")
            ),
            "id",
            "left",
        )
        keep = (
            lab.groupBy("cluster_id")
            .agg(
                F.max(
                    F.when(F.col("is_new").isNull(), 1).otherwise(0)
                ).alias("has_old"),
                F.min(F.when(F.col("is_new") == 1, F.col("id"))).alias(
                    "keep_id"
                ),
            )
            .filter("has_old = 0")
            .select(F.col("keep_id").alias("doc_id"))
        )
        neardup = caching.register(
            _with_ws_tokens(novel.join(keep, "doc_id", "left_semi"))
        )
        counts["after_near_dedup"] = neardup.count()
        counts["cluster_edges"] = cluster_stats.get("n_edges", 0)
        counts["cluster_mode"] = cluster_stats.get("mode", "driver")
        lap("near_dedup")

        final = _hygiene(
            spark, caching, neardup, counts, lap,
            min_words=min_words, blocklist_path=blocklist_path,
            bench_path=bench_path, redact=redact,
        )
        _split_pack_write(
            spark, caching, final, out_dir, counts, lap,
            budget=budget, size_col=size_col,
            offsets=[(3 * ordinal + i) * _INC_SPAN for i in range(3)],
        )

        # the content-state append commits LAST — after the corpus
        # parquet landed — so a death anywhere above leaves an
        # uncommitted increment a retry redoes in full (the corpus dir
        # is overwritten; the LSH append and this one skip themselves
        # if already committed)
        st = corpus_state.append_content_state(
            novel.select("doc_id", "text"), store, append_id, ordinal
        )
        counts["state_rows_appended"] = st["rows"]
        lap("state_append")
    _write_summary(spark, out_dir, counts)
    return counts


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--bench", default=None)
    ap.add_argument("--blocklist", default=None)
    ap.add_argument("--redact", action="store_true")
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--min-words", type=int, default=5)
    ap.add_argument("--near-threshold", type=float, default=0.8)
    ap.add_argument(
        "--size-col", default=None,
        help="pack by this precomputed token-count column instead of the "
        "whitespace default (stock counters n_ws_tokens / n_word_tokens "
        "/ n_bpe_tokens — the vendored byte-level BPE — materialize by "
        "name; anything else must already be a corpus column)",
    )
    ap.add_argument(
        "--minhash-kind", default="rolling", choices=["rolling", "md5"],
        help="near-dup signature construction: 'rolling' (Arrow fast "
        "path, default) or 'md5' (engine-portable, replayable in any "
        "SQL engine); incremental runs always replay the store's kind",
    )
    ap.add_argument(
        "--store", default=None,
        help="persist incremental dedup state under this table prefix "
        "(full build), or the state to process an increment against "
        "(with --append-id)",
    )
    ap.add_argument(
        "--append-id", default=None,
        help="run in INCREMENTAL mode: process --input as one increment "
        "against --store, exactly-once under this id",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if args.append_id is not None and args.store is None:
        ap.error("--append-id requires --store")
    if not 0 < args.near_threshold <= 1:
        # the programmatic API documents out-of-(0,1] values as
        # degenerate-but-valid (>1 = near-dedup off; <=0 = EVERY
        # band-sharing pair is a dup edge, transitively collapsing the
        # corpus), but from the CLI either is almost certainly a typo
        # for a fraction (--near-threshold 8 meaning 0.8) — and the
        # silent result is a corpus with no near-dedup, or most of the
        # corpus discarded. Fail loudly.
        ap.error(
            f"--near-threshold {args.near_threshold} is outside (0, 1]: "
            "thresholds are Jaccard fractions (0.8, not 8); above 1 "
            "silently disables near-dedup, at or below 0 collapses "
            "every band-sharing pair into one cluster"
        )

    from sparkocr.session import build_session

    spark = build_session("sparkocr-corpus", master=args.master)
    t0 = time.monotonic()
    if args.append_id is not None:
        counts = increment_corpus(
            spark,
            args.input,
            args.out,
            args.store,
            args.append_id,
            bench_path=args.bench,
            budget=args.budget,
            min_words=args.min_words,
            near_threshold=args.near_threshold,
            blocklist_path=args.blocklist,
            redact=args.redact,
            size_col=args.size_col,
        )
    else:
        counts = build_corpus(
            spark,
            args.input,
            args.out,
            bench_path=args.bench,
            budget=args.budget,
            min_words=args.min_words,
            near_threshold=args.near_threshold,
            blocklist_path=args.blocklist,
            redact=args.redact,
            size_col=args.size_col,
            minhash_kind=args.minhash_kind,
            store=args.store,
        )
    summary = {"elapsed_sec": round(time.monotonic() - t0, 3), **counts}
    print(json.dumps(summary))
    spark.stop()
    return summary


if __name__ == "__main__":
    main()

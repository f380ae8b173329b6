"""The benchmark's workloads.

``run.py`` drives every workload through one protocol:

- ``generate()``: write the inputs from the seed (the benchmark's own
  work, neither timed nor part of set-up);
- ``warm(spark)``: the warm-up pass, timed as part of ``setup_s``;
- ``prepare(spark)``: the references the checks compare against;
- ``reset(spark, rep)``: restore the starting state before each
  repetition, outside the timed section, so that every repetition does
  the same work;
- ``run(spark, rep, tracer)``: the timed call into the public entry
  points (spans are recorded only when a tracer is passed);
- ``check(rep, result)``: the output check, returning (ok, record);
- ``layers(...)``: the per-layer metrics of one traced repetition. A
  metric that cannot be computed raises; ``NOT_APPLICABLE`` names the
  layers the workload does not run, the only ones allowed to be absent.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import arith, inputs, kernel
from perfbench.sparkstats import MB, StatusStore

N_BUCKETS = 32
#: input files corpus_full's warm-up pass runs on (of inputs.N_FILES)
WARM_FILES = 1
BUDGET = 2048
#: the state store corpus_full's traced repetition builds (eight tables
#: named <STORE>_*)
STORE = "perfbench_state"


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _files(path: str, since: float = 0.0):
    """(path, size) of the regular files under ``path`` written at or
    after ``since`` (epoch seconds); checksum sidecars are left out."""
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            if not n.endswith(".crc") and st.st_mtime >= since:
                yield p, st.st_size


def bytes_under(path: str, since: float = 0.0) -> int:
    return sum(size for _, size in _files(path, since))


def copy_first_files(src: str, dst: str, n: int) -> None:
    os.makedirs(dst)
    for name in sorted(os.listdir(src))[:n]:
        shutil.copy(os.path.join(src, name), os.path.join(dst, name))


class Workload:
    name = ""
    #: per-layer metric prefixes this workload has no layer for
    NOT_APPLICABLE: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.n_turns = 0

    def p(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self, spark) -> None:
        pass

    def turns_covered(self) -> int:
        return self.n_turns

    def applies(self, metric: str) -> bool:
        return not metric.startswith(self.NOT_APPLICABLE)

    def traced_extra_s(self, result) -> float:
        """Seconds of work the traced repetition does that the untraced
        ones do not, left out of the tracing overhead."""
        return 0.0


def leg_metrics(stages: list[dict]) -> dict:
    """extract.scan_write_s: the scan-only leg's main stage's run time."""
    if not stages:
        raise RuntimeError("the scan leg ran no stage")
    return {"extract.scan_write_s": max(s["run_s"] for s in stages)}


def input_mb(path: str) -> dict:
    """extract.input_mb: the size of the files the scan reads. Spark's
    own input metric reads about 1% of it on these small files."""
    return {"extract.input_mb": bytes_under(path) / MB}


def span_stages(tracer, stages: list[dict], name: str) -> list[dict]:
    """The stages attributed to the last span called ``name``: submitted
    inside it and inside none of its child spans."""
    owned = arith.attribute_stages(tracer.spans, stages)
    return owned.get(tracer.named(name)[-1]["id"], [])


def extract_stage_metrics(store, candidates: list[dict]) -> dict:
    """extract.* from the extract map stage: of the candidate stages, the
    one with the most executor run time."""
    if not candidates:
        raise RuntimeError("no stage was attributed to the extract map stage")
    st = max(candidates, key=lambda s: s["run_s"])
    p50, mx = store.task_quantiles(st)
    wall = st["complete"] - st["submit"]
    return {
        "extract.executor_run_s": st["run_s"],
        "extract.executor_cpu_s": st["cpu_s"],
        "extract.gc_s": st["gc_s"],
        "extract.tasks": st["tasks"],
        "extract.task_p50_s": p50,
        "extract.task_max_s": mx,
        "extract.core_util": st["run_s"] / (wall * store.cores) if wall > 0 else 0.0,
        "extract.shuffle_write_mb": st["shuffle_write_mb"],
    }


def stage_group_metrics(store, stages: list[dict], prefix: str) -> dict:
    """<prefix>.shuffle_write_mb / .spill_mb / .task_max_s over stages."""
    if not stages:
        raise RuntimeError(f"no stage was attributed to {prefix}")
    return {
        f"{prefix}.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        f"{prefix}.spill_mb": sum(s["spill_mb"] for s in stages),
        f"{prefix}.task_max_s": max(store.task_quantiles(s)[1] for s in stages),
    }


# --------------------------------------------------------------------------
# extract workload: checkpoint.run_extract_job + assemble_docs_cli
# --------------------------------------------------------------------------


class ExtractFull(Workload):
    """A fresh ``run_extract_job`` into an emptied output, then
    ``assemble_docs_cli`` on the written turns, written as docs."""

    name = "extract_full"
    NOT_APPLICABLE = ("dedup.", "pack.", "caching.", "state.")

    def generate(self) -> None:
        self.n_turns = inputs.write_transcripts(self.p("in"), self.seed)

    def warm(self, spark) -> None:
        # the same calls into another output. On less input the first
        # timed repetition still paid first-use costs: 1-2 s more wall
        # than the next one and a peak RSS of either 2.5 or 3.6 GB
        self._pass(spark, "in", "out_warm", "docs_warm")
        _rmtree(self.p("out_warm"))
        _rmtree(self.p("docs_warm"))

    def prepare(self, spark) -> None:
        self.batches = kernel.read_batches(self.p("in"))
        ref = kernel.reference(self.batches, markdown=True)
        self.ref = kernel.digest(ref)
        self.ref_docs = kernel.digest(kernel.expected_docs(ref))

    def reset(self, spark, rep: int) -> None:
        _rmtree(self.p("out"))
        _rmtree(self.p("docs"))

    def run(self, spark, rep: int, tracer=None) -> dict:
        return self._pass(spark, "in", "out", "docs", tracer)

    def _pass(self, spark, src: str, out: str, docs: str, tracer=None) -> dict:
        from sparkocr import checkpoint
        from sparkocr.assemble import assemble_docs_cli

        if tracer is None:
            result = checkpoint.run_extract_job(spark, self.p(src), self.p(out), N_BUCKETS)
            assemble_docs_cli(spark.read.parquet(self.p(out, "data"))).write.parquet(self.p(docs))
            return result
        with tracer.patched([(checkpoint, "input_fingerprints")]):
            with tracer.span("checkpoint.run_extract_job"):
                result = checkpoint.run_extract_job(spark, self.p(src), self.p(out), N_BUCKETS)
        with tracer.span("assemble.assemble_docs_cli"):
            assemble_docs_cli(spark.read.parquet(self.p(out, "data"))).write.parquet(self.p(docs))
        return result

    def output_bytes(self, since: float) -> int:
        return bytes_under(self.p("out"), since) + bytes_under(self.p("docs"), since)

    def check(self, rep: int, result: dict) -> tuple[bool, dict]:
        got = kernel.digest(kernel.read_turns(self.p("out", "data")))
        docs = kernel.digest(kernel.read_docs(self.p("docs")))
        ok = (
            not result["skipped"]
            and result["rows_out"] == self.n_turns
            and got == self.ref
            and docs == self.ref_docs
        )
        return ok, {"turns": got, "docs": docs, "buckets": len(result["processed"])}

    def layers(self, spark, tracer, root, result, stages, jobs, store) -> dict:
        m = self._checkpoint_layers(tracer, root, result, stages, jobs, store)
        asm = tracer.named("assemble.assemble_docs_cli")[-1]
        m["assemble.wall_s"] = asm["end"] - asm["start"]
        m.update(
            stage_group_metrics(store, span_stages(tracer, stages, asm["name"]), "assemble")
        )
        m.update(kernel.kernel_leg(self.batches, markdown=True))
        m.update(self.scan_write_leg(spark, store))
        m.update(input_mb(self.p("in")))
        return m

    def _checkpoint_layers(self, tracer, root, result, stages, jobs, store) -> dict:
        """checkpoint.* and extract.* from one traced run_extract_job."""
        run = tracer.named("checkpoint.run_extract_job")[-1]
        fp = tracer.named("checkpoint.input_fingerprints")[-1]
        run_jobs = arith.within(jobs, run["start"], run["end"])
        # the count read-back is the only Spark action besides the
        # fingerprint pass that the job itself calls; its call site names
        # checkpoint.py, while the extract write's does not
        readback = [
            j
            for j in run_jobs
            if not fp["start"] <= j["submit"] <= fp["end"] and "checkpoint.py" in j["name"]
        ]
        if not readback:
            raise RuntimeError("no read-back job found in run_extract_job")
        m = {
            "checkpoint.fingerprint_s": fp["end"] - fp["start"],
            "checkpoint.readback_s": arith.union_length(
                (j["submit"], j["complete"]) for j in readback
            ),
            "checkpoint.manifest_io_s": (run["end"] - run["start"])
            - arith.union_length((j["submit"], j["complete"]) for j in run_jobs),
            "checkpoint.buckets_processed": len(result["processed"]),
            "checkpoint.buckets_skipped": len(result["skipped"]),
            "checkpoint.files_written": sum(
                1
                for f, _ in _files(self.p("out", "data"), root["start"])
                if os.path.basename(f).startswith("part-")
            ),
        }
        write_stages = [
            s
            for s in span_stages(tracer, stages, "checkpoint.run_extract_job")
            if "checkpoint.py" not in s["name"]
        ]
        m.update(extract_stage_metrics(store, write_stages))
        return m

    def scan_write_leg(self, spark, store) -> dict:
        """The extract job's scan and bucketed write with the extractor
        taken out: the same rows, the same sink."""
        from sparkocr.checkpoint import with_bucket

        df = spark.read.parquet(self.p("in")).select(*kernel.IN_COLS)
        t0 = time.time()
        with_bucket(df, N_BUCKETS).write.mode("overwrite").partitionBy("bucket").parquet(
            self.p("scan_write")
        )
        ran = arith.within(store.stages(), t0, time.time())
        _rmtree(self.p("scan_write"))
        return leg_metrics(ran)

    def profile_pass(self, spark):
        from sparkocr.extract.dispatch import extract_turns

        return extract_turns(spark.read.parquet(self.p("in")))


# --------------------------------------------------------------------------
# corpus workload: jobs.corpus_job.build_corpus
# --------------------------------------------------------------------------

#: build_corpus's funnel counts, equal on every repetition
FUNNEL = (
    "assembled_docs", "after_exact_dedup", "after_near_dedup",
    "after_quality_filter", "packed_docs", "packs", "cluster_edges",
)
#: the tables build_corpus(store=STORE) writes: lsh_store's, then corpus_state's
STATE_TABLES = tuple(
    f"{STORE}_{t}"
    for t in (
        "sigs", "bands", "commits", "meta",
        "content_byhash", "content_byid", "content_commits", "content_meta",
    )
)
#: the state tables that hold one row per stored document or band
STATE_DATA_TABLES = STATE_TABLES[:2] + STATE_TABLES[4:6]


class CorpusFull(Workload):
    """``build_corpus`` without a store over the extract_full input. The
    traced repetition passes ``store=`` instead, as a base build does, so
    that the state layer (``lsh_store`` and ``corpus_state`` bootstrap)
    is measured: it would add about a third to every timed build."""

    name = "corpus_full"
    NOT_APPLICABLE = ("checkpoint.",)

    def generate(self) -> None:
        self.n_turns = inputs.write_transcripts(self.p("in"), self.seed)
        copy_first_files(self.p("in"), self.p("in_warm"), WARM_FILES)
        self.funnel = None

    def warm(self, spark) -> None:
        # the job's first stage (extract + assemble) on one input file
        # of 32, with nothing written
        from sparkocr.assemble import assemble_docs_cli
        from sparkocr.extract.dispatch import extract_turns

        turns = extract_turns(spark.read.parquet(self.p("in_warm")), markdown=False)
        assemble_docs_cli(turns).write.format("noop").mode("overwrite").save()

    def reset(self, spark, rep: int) -> None:
        # a rebuild overwrites the store; dropping it first makes every
        # store build create the same tables from nothing
        _rmtree(self.p("out"))
        for t in STATE_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            _rmtree(self.state_dir(t))

    def state_dir(self, table: str) -> str:
        return self.p("warehouse", table)

    def run(self, spark, rep: int, tracer=None) -> dict:
        from sparkocr.jobs import corpus_job
        from sparkocr.pipeline import caching, corpus_state, lsh_store

        def build():
            return corpus_job.build_corpus(
                spark, self.p("in"), self.p("out"), budget=BUDGET,
                store=None if tracer is None else STORE,
            )

        if tracer is None:
            return build()
        self.cache_stats = {"registered": 0, "cached_mb": 0.0}
        register, release = caching.register, caching._release_from
        store = StatusStore(spark)

        def counting_register(df):
            self.cache_stats["registered"] += 1
            return register(df)

        def measuring_release(mark):
            self.cache_stats["cached_mb"] = max(self.cache_stats["cached_mb"], store.storage_mb())
            return release(mark)

        caching.register, caching._release_from = counting_register, measuring_release
        try:
            # build_corpus imports the two state builders at call time,
            # so it calls the wrapped ones
            with tracer.patched(
                [(lsh_store, "build_lsh_store"), (corpus_state, "build_content_state")]
            ):
                with tracer.span("jobs.corpus_job.build_corpus") as span:
                    counts = build()
        finally:
            caching.register, caching._release_from = register, release
        # the job's own stage laps, laid end to end from the call's start,
        # become child spans: the windows Spark stages are attributed to
        t = span["start"]
        for stage, sec in counts["stage_sec"].items():
            tracer.add(f"corpus.{stage}", t, t + sec, span["id"])
            t += sec
        return counts

    def output_bytes(self, since: float) -> int:
        return bytes_under(self.p("out"), since) + sum(
            bytes_under(self.state_dir(t), since) for t in STATE_TABLES
        )

    def check(self, rep: int, counts: dict) -> tuple[bool, dict]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        corpus = pq.read_table(self.p("out", "corpus"), columns=["doc_id", "n_tokens", "pack_id"])
        packs = corpus.group_by("pack_id").aggregate([("n_tokens", "sum"), ("doc_id", "count")])
        funnel = {k: counts[k] for k in FUNNEL}
        ok = (
            (self.funnel is None or funnel == self.funnel)
            and pc.count_distinct(corpus["doc_id"]).as_py() == corpus.num_rows == counts["packed_docs"]
            and packs.num_rows == counts["packs"]
            # an oversized document gets a pack of its own
            and all(
                tok <= BUDGET or n == 1
                for tok, n in zip(
                    packs["n_tokens_sum"].to_pylist(), packs["doc_id_count"].to_pylist()
                )
            )
            and counts["packed_docs"] == counts["after_quality_filter"]
            and (
                "state_build" not in counts["stage_sec"]
                or all(os.path.isdir(self.state_dir(t)) for t in STATE_TABLES)
            )
        )
        self.funnel = self.funnel or funnel
        return ok, {"funnel": funnel, "stage_sec": counts["stage_sec"]}

    def traced_extra_s(self, counts) -> float:
        return counts["stage_sec"]["state_build"]

    def layers(self, spark, tracer, root, counts, stages, jobs, store) -> dict:
        def lap(stage):
            return span_stages(tracer, stages, f"corpus.{stage}")

        m = {}
        ea = lap("extract_assemble")
        m.update(extract_stage_metrics(store, ea))
        mapst = max(ea, key=lambda s: s["run_s"])
        asm = [s for s in ea if s is not mapst]
        m["assemble.wall_s"] = arith.union_length((s["submit"], s["complete"]) for s in asm)
        m.update(stage_group_metrics(store, asm, "assemble"))

        m["dedup.exact_s"] = counts["stage_sec"]["exact_dedup"]
        m["dedup.near_s"] = counts["stage_sec"]["near_dedup"]
        m["dedup.cluster_edges"] = counts["cluster_edges"]
        m["dedup.drop_ratio"] = 1 - counts["after_near_dedup"] / counts["assembled_docs"]
        m.update(stage_group_metrics(store, lap("exact_dedup") + lap("near_dedup"), "dedup"))

        m["pack.wall_s"] = counts["stage_sec"]["split_pack_write"]
        pack = tracer.named("corpus.split_pack_write")[-1]
        m["pack.spark_jobs"] = len(arith.within(jobs, pack["start"], pack["end"]))
        m["caching.registered"] = self.cache_stats["registered"]
        m["caching.cached_mb"] = self.cache_stats["cached_mb"]

        m.update(self.state_layers(spark, tracer, root))
        m.update(kernel.kernel_leg(kernel.read_batches(self.p("in")), markdown=False))
        m.update(self.scan_leg(spark, store))
        m.update(input_mb(self.p("in")))
        return m

    def state_layers(self, spark, tracer, root) -> dict:
        """state.*: the two state builders' spans and what they wrote."""
        lsh = tracer.named("pipeline.lsh_store.build_lsh_store")[-1]
        content = tracer.named("pipeline.corpus_state.build_content_state")[-1]
        written = [
            size
            for t in STATE_TABLES
            for f, size in _files(self.state_dir(t), root["start"])
            if os.path.basename(f).startswith("part-")
        ]
        return {
            "state.lsh_build_s": lsh["end"] - lsh["start"],
            "state.content_build_s": content["end"] - content["start"],
            "state.rows_written": sum(spark.table(t).count() for t in STATE_DATA_TABLES),
            "state.files_written": len(written),
            "state.bytes_written_mb": sum(written) / MB,
        }

    def scan_leg(self, spark, store) -> dict:
        """Scanning the rows the map stage reads, with nothing extracted
        or written."""
        t0 = time.time()
        spark.read.parquet(self.p("in")).select(*kernel.IN_COLS).write.format("noop").mode(
            "overwrite"
        ).save()
        return leg_metrics(arith.within(store.stages(), t0, time.time()))

    def profile_pass(self, spark):
        from sparkocr.extract.dispatch import extract_turns

        return extract_turns(spark.read.parquet(self.p("in")), markdown=False)


WORKLOADS = {w.name: w for w in (ExtractFull, CorpusFull)}

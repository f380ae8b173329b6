"""Mode-dispatched Arrow-batched extractor — the hot path.

One ``mapInPandas`` over the transcripts table produces the per-turn output
schema (sparkocr.schema.TURNS_OUT). Dispatch on the ``tool`` column mirrors
the reference's entry-point/prompt planner (``get_prompt``,
app/config.py:104-122, which gates the grounding post-processing the same
way our mode column gates extractor branches):

    grounding      → clean_output_text port + spans + markdown (app/utils.py:98-127)
    grounding_cli  → CLI PDF cleanup: replace-ALL image links, latex fixes,
                     newline collapse, SKIP_REPEAT drop (run_dpsk_ocr_pdf.py:292-320)
    grounding_eval → eval-batch cleanup: clean_formula, literal-\\n collapse,
                     <center> removal (run_dpsk_ocr_eval_batch.py:156-169)
    html           → boilerplate strip (readability-style block scoring)
    pdfspans       → reading-order span assembly (deepseek_ocr.py:423-438 analog)
    markdown       → normalization + table-cell recovery
    plain/*        → strip passthrough (clean_output_text tail, app/utils.py:127)

No per-row Python UDFs: the physical plan contains a single MapInPandas
node; everything else (filters, assembly, sinks) is JVM-side. Within each
Arrow batch, rows are grouped by mode and processed with pandas; the
per-payload work is the same string algebra the reference runs per page.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Literal

import pandas as pd

from sparkocr import schema
from sparkocr.textproc import grounding, htmlmain, mdtable, pdfspans, repeats

# Bumped whenever ANY extractor's output can change for an unchanged
# input — resumable jobs key their skip decision on this
# (checkpoint.py), so an unbumped semantic change leaves stale buckets
# marked "complete" forever. "2": html flatten semantics changed
# (implicit-</head> body release, after-head <title> drop, rawtext
# full-close parity, unterminated-construct charref parity). "3": stray
# DROP-tag closes no longer cancel the head drop (leaked titles), and
# markdown fences follow CommonMark (backtick-in-info is a paragraph,
# tilde fences are fences) — both change outputs for inputs that
# previously extracted successfully.
EXTRACTOR_VERSION = "3"


def _extract_grounding(text: str):
    clean, md, spans, trunc = grounding.extract_grounded_pair(text)
    return clean, md, spans, trunc, None


def _extract_html(text: str):
    clean, spans = htmlmain.extract_html_main(text)
    return clean, clean, spans, False, None


def _extract_pdfspans(text: str):
    clean, spans, err = pdfspans.extract_pdf_spans(text)
    return clean, clean, spans, False, err


def _extract_markdown(text: str):
    norm, spans = mdtable.extract_markdown(text)
    return norm, norm, spans, False, None


def _extract_plain(text: str):
    t = (text or "").strip()
    return t, t, [], False, None


def _extract_grounding_eval(text: str):
    out = grounding.eval_batch_clean(text)
    return out, out, [], False, None


_MODES = {
    "grounding": _extract_grounding,
    "grounding_eval": _extract_grounding_eval,
    "html": _extract_html,
    "pdfspans": _extract_pdfspans,
    "markdown": _extract_markdown,
    "plain": _extract_plain,
}


def extract_batch(
    pdf: pd.DataFrame, markdown: bool = True, dedup_markdown: bool = False
) -> pd.DataFrame:
    """Extract one Arrow batch of transcript rows → TURNS_OUT columns.

    A flat per-row loop: the work is genuinely per-payload string algebra
    (an earlier by-mode grouping pass added indirection without any actual
    vectorization benefit).

    ``markdown=False`` skips the markdown-variant cleanup pass (grounding
    payloads with markers run TWO full cleanup passes — labels kept vs
    dropped — because the reference emits both files); a clean-text-only
    pipeline halves its markdown work and gets null ``markdown_text``.

    ``dedup_markdown=True`` (internal; ``extract_turns`` only) emits
    ``markdown_text`` as null whenever it equals ``clean_text`` — which is
    every mode except marker-bearing grounding, so the duplicate payload
    is never serialized back through Arrow — and ``extract_turns``
    restores it JVM-side with ``coalesce(markdown_text, clean_text)``.
    Safe because no extractor returns a null markdown beside a non-null
    clean under ``markdown=True`` (grounding always returns strings;
    every other mode returns the SAME object for both), so null
    round-trips bijectively. Callers of this function directly get the
    full un-deduped contract by default."""
    pdf = pdf.reset_index(drop=True)
    texts = pdf["text"].fillna("").tolist()
    tools = pdf["tool"].fillna("plain")
    n = len(pdf)
    clean: list = [None] * n
    md: list = [None] * n
    spans_col: list = [None] * n
    trunc = [False] * n
    err: list = [None] * n
    has_rep = [False] * n
    turn_idxs = pdf["turn_idx"].tolist()
    for pos, (t, mode) in enumerate(zip(texts, tools.tolist())):
        if mode == "grounding_cli":
            # CLI page index jdx feeds the image link names
            # (run_dpsk_ocr_pdf.py:316: images/{jdx}_{idx}.jpg); turn_idx
            # is this engine's page index. A null turn_idx (file sources
            # force-nullable the schema; one bad producer row) must
            # degrade through the error column — raising here would
            # crash-loop a streaming micro-batch on that one row forever.
            jdx = turn_idxs[pos]
            # pd.isna, not `jdx != jdx`: pandas nullable Int32 batches
            # (our own output dtype) carry pd.NA, whose != returns NA and
            # raises on bool() — the exact poison pill this guard kills
            if jdx is None or pd.isna(jdx):
                c, m, s, tr, e = None, None, [], False, "null turn_idx (grounding_cli page index)"
            else:
                cleaned, dropped = grounding.pdf_cli_clean(t, jdx=int(jdx))
                c, m, s, tr, e = cleaned, cleaned, [], dropped, None
        elif mode == "grounding" and not markdown:
            c, s, tr = grounding.clean_grounded(t)
            m, e = None, None
        else:
            fn = _MODES.get(mode, _extract_plain)
            c, m, s, tr, e = fn(t)
        clean[pos] = c
        if dedup_markdown:
            # identity first: 4 of 5 modes return the same object for both
            if m is c or m == c:
                m = None
            elif m is None and c is not None and (markdown or mode != "grounding"):
                # the null sentinel is only restorable because no extractor
                # returns a legitimate null markdown beside a non-null
                # clean (outside the documented markdown=False grounding
                # contract, which extract_turns restores by mode). A
                # future mode breaking that invariant must fail loudly
                # here, not silently coalesce markdown into clean_text.
                raise AssertionError(
                    f"extractor mode {mode!r} returned null markdown beside "
                    "non-null clean under dedup_markdown — un-restorable"
                )
        md[pos] = m
        spans_col[pos] = s
        trunc[pos] = tr
        err[pos] = e
        if mode == "grounding":
            has_rep[pos] = repeats.has_repeat(t, "pdf")
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"],
            # nullable Int32, not int32: a single null turn_idx arrives as
            # float64 NaN and plain astype raises IntCastingNaNError — in
            # a stream that poison-pills the checkpoint (the failed
            # micro-batch replays the same file on every restart)
            "turn_idx": pdf["turn_idx"].astype("Int32"),
            "role": pdf["role"],
            "tool": tools,
            "clean_text": clean,
            "markdown_text": md,
            "spans": spans_col,
            "is_truncated": trunc,
            "has_repeat": has_rep,
            "error": err,
            "n_chars_in": pd.Series([len(t) for t in texts], dtype="int32"),
            "n_chars_out": pd.Series([len(c or "") for c in clean], dtype="int32"),
        }
    )


def _map_batches(markdown: bool = True, dedup_markdown: bool = False):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield extract_batch(
                    pdf, markdown=markdown, dedup_markdown=dedup_markdown
                )

    return gen


def _scan_file_sizes(df) -> list[int] | None:
    """Byte sizes of the scan's input files, via ONE Hadoop ``listStatus``
    per parent directory (never a per-file RPC). Returns None when the plan
    exposes no input files (in-memory DataFrames, views) or the listing
    would be large (>2048 files — only reachable below the 256-split
    widening cap when many tiny files pack per split, where skew is
    impossible anyway); callers treat None as "assume balanced"."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 2048:
        return None
    # the ENTIRE py4j section is inside the degrade-to-None guard: a
    # malformed URI in an input-file string, a session without a classic
    # SparkContext, or any FS failure must mean "assume balanced", never
    # abort the extract job from inside a best-effort heuristic
    try:
        sc = df.sparkSession.sparkContext
        hconf = sc._jsc.hadoopConfiguration()
        jpath_cls = sc._jvm.org.apache.hadoop.fs.Path
        # normalize both sides through Path.toString so URI spelling
        # (file:///x vs file:/x) can't break the join
        wanted: dict[str, int | None] = {}
        parents: dict[str, object] = {}
        for f in files:
            p = jpath_cls(f)
            wanted[str(p)] = None
            parent = p.getParent()
            if parent is not None:
                parents.setdefault(str(parent), parent)
        for parent in parents.values():
            fs = parent.getFileSystem(hconf)
            for st in fs.listStatus(parent):
                key = str(st.getPath())
                if key in wanted:
                    wanted[key] = st.getLen()
    except Exception:
        return None
    sizes = [v for v in wanted.values() if v is not None]
    return sizes if len(sizes) == len(wanted) else None


def extract_turns(
    transcripts_df, min_parallelism: Literal["auto", 0] = "auto", markdown: bool = True
):
    """transcripts DataFrame → per-turn extraction DataFrame.

    ``markdown=False``: clean-text-only extraction — the markdown variant
    pass is skipped (``markdown_text`` null). Column pruning cannot reach
    inside a Python map stage, so pipelines that never read markdown_text
    (e.g. assembly + dedup feeds) opt out explicitly and skip the second
    grounding cleanup pass.

    Normally a pure MapInPandas projection (no shuffle; assembly shuffles
    later on cleaned text only, per SURVEY.md §4 two-stage design). But a
    map stage can never run wider than its input split count — a single
    large parquet file with one row group is ONE task no matter how many
    cores exist — so with ``min_parallelism='auto'`` we round-robin
    repartition the (narrow, pre-extraction) rows to 2× default
    parallelism when the scan has fewer splits than cores — or when it has
    barely enough (< 2× cores) but the input files are byte-skewed, where
    the fattest split would otherwise serialize the stage. The shuffled
    bytes are the raw payload of a *small* input; at 100 TB the input has
    thousands of splits and this is a no-op. ``min_parallelism=0`` never
    repartitions: a streaming micro-batch's width is its file count.
    """
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    src = transcripts_df.select(*cols)
    if min_parallelism == "auto":
        sc = transcripts_df.sparkSession.sparkContext
        splits = src.rdd.getNumPartitions()
        cores = sc.defaultParallelism
        # Widen scans too narrow to occupy every core; for BALANCED scans
        # that already saturate (splits >= cores) skip it — the
        # round-robin shuffle of the RAW payload costs more than the
        # 2-wave balancing it buys (A/B at sf0.1 local[32], 32 even
        # splits: widening to 64 was 8.8-10.6 s vs 7.4-7.6 s without).
        # But in the few-wave zone [cores, 2*cores) a BYTE-SKEWED scan
        # serializes on its fattest split: one 8×-dominant file among
        # splits==cores measured 19.4-21.5 s unwidened vs 4.6-5.7 s
        # widened (local[8]), so there we pay one driver-side file-size
        # listing and widen iff the largest file exceeds 2× the mean
        # bytes-per-split. splits >= 2*cores never widens (multi-wave
        # task queueing self-balances; unchanged behavior). The absolute
        # cap matters at scale: a 100 TB table with thousands of splits
        # on a cluster whose defaultParallelism exceeds that count must
        # NOT have its entire raw payload shuffled for a marginal
        # parallelism gain — past a few hundred map tasks, task queueing
        # delivers the same utilization.
        if splits < 256:
            widen = splits < cores
            if not widen and splits < cores * 2:
                sizes = _scan_file_sizes(src)
                widen = bool(sizes) and max(sizes) * splits > 2 * sum(sizes)
            if widen:
                src = src.repartition(min(cores * 2, 256))
    elif min_parallelism != 0:
        raise ValueError(f"min_parallelism must be 'auto' or 0, not {min_parallelism!r}")
    out = src.mapInPandas(
        _map_batches(markdown, dedup_markdown=True), schema.TURNS_OUT
    )
    # restore the Arrow-deduped markdown column (see extract_batch): a
    # cheap JVM projection in the same whole-stage span, instead of
    # serializing a byte-identical copy of clean_text out of every
    # html/markdown/pdfspans/plain row (~40% of the map stage's
    # output-leg bytes on the bench mix). Under markdown=False the
    # grounding rows keep their contractual null (the mode dispatch's
    # only legitimate null-markdown-beside-clean case); everything else
    # coalesces back identically in both flag states.
    from pyspark.sql import functions as F

    restored = F.coalesce("markdown_text", "clean_text")
    if not markdown:
        # eqNullSafe, NOT !=: a null tool must restore, not silently null
        # the column (plain != yields NULL for it). Unreachable today —
        # extract_batch emits the fillna("plain") series as the output
        # tool — but the restore must not depend on that cross-boundary
        # invariant holding forever.
        restored = F.when(~F.col("tool").eqNullSafe("grounding"), restored)
    return out.withColumn("markdown_text", restored)

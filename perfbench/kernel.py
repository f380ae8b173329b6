"""The kernel-only leg and the output digests.

The leg runs the extractor on pre-read Arrow batches of a workload's
input in this process, with no Spark: the Arrow→pandas input leg, the
whole ``extract_batch`` per batch, the pandas→Arrow output leg to the
``TURNS_OUT`` schema, and each mode's extractor called directly on its
own rows. The same ``extract_batch`` call, with markdown restored the
way ``extract_turns`` restores it, gives the reference the extract
workloads check their Spark output against.

Outputs are compared as Arrow tables in a canonical form: cast to the
reference schema and sorted by their key, so the comparison and the
digest recorded with it (a hash of the canonical table's IPC bytes) do
not depend on row order or file layout.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq

from sparkocr.textproc.grounding import PAGE_SPLIT

IN_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]
TURN_COLS = [
    "conv_id", "turn_idx", "role", "tool", "clean_text", "markdown_text", "spans",
    "is_truncated", "has_repeat", "error", "n_chars_in", "n_chars_out",
]
TURN_KEYS = ["conv_id", "turn_idx"]
DOC_SCHEMA = pa.schema([("conv_id", pa.string()), ("n_turns", pa.int32()), ("doc_text", pa.string())])
MODES = ("grounding", "html", "pdfspans", "markdown", "plain")
#: Spark's default Arrow batch for the session (``arrow_batch_rows``)
BATCH_ROWS = 4096


def read_batches(path: str) -> list[pa.RecordBatch]:
    """The input's rows as Arrow batches of at most BATCH_ROWS, per file."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        out.extend(pq.read_table(f, columns=IN_COLS).to_batches(max_chunksize=BATCH_ROWS))
    return [b for b in out if b.num_rows]


def _restore_markdown(out, markdown: bool):
    """What ``extract_turns`` does JVM-side after the map stage."""
    md = out["markdown_text"].where(out["markdown_text"].notna(), out["clean_text"])
    if not markdown:
        md = md.where(out["tool"] != "grounding", None)
    return out.assign(markdown_text=md)


@lru_cache(maxsize=1)
def turns_schema() -> pa.Schema:
    """TURNS_OUT as Arrow, the schema the map stage's output is cast to."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from sparkocr import schema

    return to_arrow_schema(schema.TURNS_OUT)


def reference(batches: list[pa.RecordBatch], markdown: bool) -> pa.Table:
    """What the extract map stage should output for ``batches``, in
    canonical form: ``extract_batch`` per batch, markdown restored."""
    import pandas as pd

    from sparkocr.extract import dispatch

    outs = [
        _restore_markdown(
            dispatch.extract_batch(b.to_pandas(), markdown=markdown, dedup_markdown=True), markdown
        )
        for b in batches
    ]
    ref = pd.concat(outs, ignore_index=True)
    return canonical(pa.Table.from_pandas(ref, schema=turns_schema(), preserve_index=False), TURN_KEYS)


def kernel_leg(batches: list[pa.RecordBatch], markdown: bool) -> dict:
    """Per-layer metrics of the extractor run on ``batches`` in this
    process (CPU seconds)."""
    from sparkocr.extract import dispatch
    from sparkocr.textproc import grounding, repeats

    arrow_out = turns_schema()
    cpu = time.process_time
    fns = dict(dispatch._MODES)
    if not markdown:
        fns["grounding"] = grounding.clean_grounded
    # one untimed pass over the first batch first, so lazy first-use work
    # (regex compilation, imports) is charged to neither timing below
    if batches:
        first = batches[0].to_pandas()
        dispatch.extract_batch(first, markdown=markdown, dedup_markdown=True)
        for tx, tool in zip(first["text"].tolist(), first["tool"].tolist()):
            fns.get(tool, fns["plain"])(tx or "")

    t = cpu()
    pdfs = [b.to_pandas() for b in batches]
    to_pandas_s = cpu() - t

    t = cpu()
    outs = [dispatch.extract_batch(p, markdown=markdown, dedup_markdown=True) for p in pdfs]
    batch_s = cpu() - t

    t = cpu()
    for o in outs:
        pa.RecordBatch.from_pandas(o, schema=arrow_out, preserve_index=False)
    from_pandas_s = cpu() - t

    m: dict[str, float] = {}
    direct_s = 0.0
    grounding_texts: list[str] = []
    for mode in MODES:
        texts = [
            tx or ""
            for p in pdfs
            for tx, tool in zip(p["text"].tolist(), p["tool"].tolist())
            if tool == mode
        ]
        t = cpu()
        cleans = [fns[mode](tx)[0] for tx in texts]
        m[f"kernel.{mode}.cpu_s"] = cpu() - t
        direct_s += m[f"kernel.{mode}.cpu_s"]
        m[f"kernel.{mode}.rows"] = len(texts)
        m[f"kernel.{mode}.chars_in"] = sum(map(len, texts))
        m[f"kernel.{mode}.chars_out"] = sum(len(c or "") for c in cleans)
        if mode == "grounding":
            grounding_texts = texts
    t = cpu()
    for tx in grounding_texts:
        repeats.has_repeat(tx, "pdf")
    m["kernel.repeats_cpu_s"] = cpu() - t
    m["kernel.dispatch_overhead_s"] = batch_s - direct_s - m["kernel.repeats_cpu_s"]
    m["kernel.batch_cpu_s"] = batch_s
    m["arrow.to_pandas_s"] = to_pandas_s
    m["arrow.from_pandas_s"] = from_pandas_s

    return m


def canonical(table: pa.Table, keys: list[str]) -> pa.Table:
    t = table.sort_by([(k, "ascending") for k in keys]).combine_chunks()
    return t.replace_schema_metadata(None)


def digest(table: pa.Table) -> dict:
    """Row count and a hash of the table's IPC bytes."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    h = hashlib.blake2b(sink.getvalue().to_pybytes(), digest_size=8).hexdigest()
    return {"rows": table.num_rows, "digest": h}


def read_turns(path: str) -> pa.Table:
    """A turns table written by Spark (bucket subdirectories included),
    in canonical form."""
    t = pq.read_table(path, columns=TURN_COLS)
    return canonical(t.cast(turns_schema()), TURN_KEYS)


def read_docs(path: str) -> pa.Table:
    t = pq.read_table(path, columns=DOC_SCHEMA.names)
    return canonical(t.cast(DOC_SCHEMA), ["conv_id"])


def expected_docs(turns: pa.Table) -> pa.Table:
    """What ``assemble_docs_cli`` makes of a turns table: per
    conversation, the non-truncated turns' clean text plus the
    page-split suffix, concatenated in (turn_idx, piece) order."""
    pieces: dict[str, list] = {}
    for conv, idx, clean, trunc in zip(
        *(turns.column(c).to_pylist() for c in ("conv_id", "turn_idx", "clean_text", "is_truncated"))
    ):
        # a null flag is dropped too: ~NULL filters the row out in Spark
        if trunc is not None and not trunc:
            pieces.setdefault(conv, []).append((idx, (clean or "") + PAGE_SPLIT))
    docs = pa.Table.from_pylist(
        [
            {"conv_id": c, "n_turns": len(p), "doc_text": "".join(v for _, v in sorted(p))}
            for c, p in pieces.items()
        ],
        schema=DOC_SCHEMA,
    )
    return canonical(docs, ["conv_id"])

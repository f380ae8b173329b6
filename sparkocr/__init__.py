"""sparkocr — a PySpark-native main-content extraction engine.

Re-expresses the deterministic document→text surface of the reference OCR
pipeline (grounding-span extraction & cleanup, bbox denormalization, page
assembly) as vectorized Arrow-batched transforms over transcript tables
``(conv_id, turn_idx, role, text, tool, ts)``, plus HTML boilerplate
stripping, PDF-layout span reconstruction, markdown/table recovery, and the
data-pipeline operators (dedup, similarity, text stats) a large-scale
training-data pipeline needs.

Design: DataFrame-first, fixed StructType schemas, no per-row Python UDFs on
the hot path (all Python work happens inside pandas/Arrow batches via
``mapInPandas``/``pandas_udf``); doc assembly is pure JVM (``collect_list``
+ ``array_sort`` + ``aggregate`` in one grouped aggregate, no window);
checkpoint/resume via one lineage manifest per extract run, with an entry
per output bucket.

Importing the package installs ``sparkocr.pyworker``'s zip-import fix, so
that every Python worker which unpickles a sparkocr function stops
re-reading ``pyspark.zip`` at the start of each later task.
"""

from sparkocr import pyworker as _pyworker

__version__ = "0.1.0"

_pyworker.install()

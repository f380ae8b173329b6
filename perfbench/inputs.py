"""Workload inputs, generated with ``sparkocr.datagen`` from the run's seed.

The mix is datagen's ``bench_lg`` profile scaled down so that one run
fits the benchmark's time budget: conversations of 10-90 turns, added
until they hold CONV_TURNS turns (about 300 of them), plus one skew
conversation whose turns are spread over every file, written as a
directory of parquet files (file i holds conversations c ≡ i and skew
turns t ≡ i mod the file count), each file shuffled. The fixed turn
count gives every seed the same work to within one conversation: with a
fixed conversation count instead, the turn count moved by ±4% between
seeds, and throughput and output size with it.

The skew conversation keeps bench_lg's share of the turns (about 9%:
100k of 1.1M there, 1.5k of about 16.5k here). The file count does not
scale with it: at bench_lg's ~8.6k rows per file the input would be two
files, two scan tasks, and half of a 4-core box would sit idle in the
extract map stage. Spark packs the 32 files of about 500 rows into one
scan split per core instead, each opening eight files, so the per-file
open and footer cost of bench_lg's many-files layout stays in the scan.
"""

from __future__ import annotations

import os
import random
import shutil

from sparkocr import datagen

CONV_TURNS = 15_000
MIN_TURNS, MAX_TURNS = 10, 90
SKEW_TURNS = 1500
N_FILES = 32


def write_transcripts(path: str, seed: int) -> int:
    """Write the dataset for ``seed`` under ``path``; returns the row count."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    convs: list[list[dict]] = []
    n = 0
    while n < CONV_TURNS:
        convs.append(datagen._gen_conv_rows(len(convs), MIN_TURNS, MAX_TURNS, seed))
        n += len(convs[-1])
    total = 0
    for i in range(N_FILES):
        rows = [r for conv in convs[i::N_FILES] for r in conv]
        rows.extend(datagen._gen_skew_rows(len(convs), range(i, SKEW_TURNS, N_FILES), seed))
        random.Random(f"{seed + 1}:{i}").shuffle(rows)
        datagen._write_table(rows, os.path.join(path, f"part-{i:05d}.parquet"))
        total += len(rows)
    return total

"""Tests of the benchmark's own arithmetic and bookkeeping (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import arith, kernel, metrics


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_median_reports_sample_count():
    assert arith.median_n([3.0, 1.0, 2.0]) == (2.0, 3)
    assert arith.median_n([4.0, 1.0, 2.0, 3.0]) == (2.5, 4)
    with pytest.raises(ValueError):
        arith.median_n([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.8, 10.1, 10.9, 10.3]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert arith.quartile_spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert arith.quartile_spread([5.0] * 4) == 0.0


def test_union_length_counts_overlaps_once():
    assert arith.union_length([]) == 0.0
    assert arith.union_length([(0, 1), (2, 3)]) == 2.0
    assert arith.union_length([(0, 2), (1, 3), (1.5, 2.5)]) == 3.0
    assert arith.union_length([(0, 4), (1, 2)]) == 4.0
    assert arith.union_length([(3, 1), (5, 5)]) == 0.0  # reversed and empty


def test_clip_cuts_to_window():
    assert arith.clip([(0, 2), (3, 9), (10, 11)], 1, 5) == [(1, 2), (3, 5)]


def test_self_time_subtracts_children_once():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),
        span(2, 0, 3.0, 6.0),  # overlaps its sibling: 1..6 covered once
        span(3, 1, 1.5, 2.0),
        span(4, 0, 9.0, 12.0),  # sticks out of its parent: only 9..10 counts
    ]
    self_s = arith.self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_s[1] == pytest.approx(3.0 - 0.5)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[3] == pytest.approx(0.5)
    assert self_s[4] == pytest.approx(3.0)


def test_stage_goes_to_innermost_span():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 2.0, 5.0), span(2, 1, 3.0, 4.0)]
    stages = [{"submit": t, "stage_id": i} for i, t in enumerate([1.0, 2.5, 3.5, 4.0, 11.0])]
    got = arith.attribute_stages(spans, stages)
    assert [s["stage_id"] for s in got[0]] == [0]
    assert [s["stage_id"] for s in got[1]] == [1]
    assert [s["stage_id"] for s in got[2]] == [2, 3]  # the shared boundary goes inward
    assert sum(map(len, got.values())) == 4  # submitted outside every span: dropped
    assert arith.innermost_span(spans, 11.0) is None


def test_within_selects_by_submission_time():
    items = [{"submit": t} for t in (0.5, 1.0, 2.0, 3.5)]
    assert [x["submit"] for x in arith.within(items, 1.0, 3.0)] == [1.0, 2.0]


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()
    names = [m[0] for m in metrics.END_TO_END] + metrics.PER_LAYER_NAMES
    assert len(names) == len(set(names))
    setup_bound = dict((n, b) for n, _, _, b in metrics.END_TO_END)["setup_s"]
    assert all(b <= setup_bound <= 0.25 for _, _, _, b in metrics.END_TO_END)


def _turns(rows):
    import pyarrow as pa

    full = [
        {
            "conv_id": conv, "turn_idx": idx, "role": "user", "tool": "plain",
            "clean_text": clean, "markdown_text": clean, "spans": [], "is_truncated": trunc,
            "has_repeat": False, "error": None, "n_chars_in": len(clean), "n_chars_out": len(clean),
        }
        for conv, idx, clean, trunc in rows
    ]
    return pa.Table.from_pylist(full, schema=kernel.turns_schema())


def test_digest_ignores_row_order_but_not_content():
    rows = [("a", 0, "x", False), ("a", 1, "y", False), ("b", 0, "z", False)]
    d = kernel.digest(kernel.canonical(_turns(rows), kernel.TURN_KEYS))
    assert d == kernel.digest(kernel.canonical(_turns(rows[::-1]), kernel.TURN_KEYS))
    assert d["rows"] == 3
    changed = [("a", 0, "x", False), ("a", 1, "Y", False), ("b", 0, "z", False)]
    assert kernel.digest(kernel.canonical(_turns(changed), kernel.TURN_KEYS)) != d


def test_expected_docs_orders_turns_and_drops_truncated():
    from sparkocr.textproc.grounding import PAGE_SPLIT

    rows = [("a", 2, "c", False), ("a", 0, "a", False), ("a", 1, "b", True), ("b", 0, "", False)]
    docs = {d["conv_id"]: d for d in kernel.expected_docs(_turns(rows)).to_pylist()}
    assert docs["a"]["doc_text"] == "a" + PAGE_SPLIT + "c" + PAGE_SPLIT
    assert docs["a"]["n_turns"] == 2
    assert docs["b"]["doc_text"] == PAGE_SPLIT


def test_not_applicable_prefixes_name_real_layers():
    from perfbench.workloads import WORKLOADS

    for cls in WORKLOADS.values():
        wl = cls("unused", 0)
        for prefix in cls.NOT_APPLICABLE:
            assert any(n.startswith(prefix) for n in metrics.PER_LAYER_NAMES), prefix
        # the map stage and the driver are measured on every workload
        assert wl.applies("extract.executor_run_s") and wl.applies("driver.idle_s")
    assert not WORKLOADS["extract_full"]("unused", 0).applies("dedup.near_s")
    assert not WORKLOADS["corpus_full"]("unused", 0).applies("checkpoint.fingerprint_s")


def test_descendants_cpu_counts_a_live_child():
    import subprocess
    import sys

    from perfbench import procrss

    busy = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\nprint(flush=True)\nsys.stdin.read()"
    child = subprocess.Popen([sys.executable, "-c", busy], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the child has burnt its 0.3 s and now waits
        assert procrss.descendants_cpu_s(os.getpid()) >= 0.3
    finally:
        child.stdin.close()
        child.wait()


def test_inputs_hold_a_fixed_turn_count_whatever_the_seed(tmp_path):
    from perfbench import inputs

    lo = inputs.CONV_TURNS + inputs.SKEW_TURNS
    counts = [inputs.write_transcripts(str(tmp_path / str(seed)), seed) for seed in (1, 2)]
    assert all(lo <= n < lo + inputs.MAX_TURNS for n in counts)
    assert len(os.listdir(tmp_path / "1")) == inputs.N_FILES

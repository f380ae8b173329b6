"""dup_clusters (connected components over candidate pairs) and
neardup_corpus — verified against a driver-side union-find oracle, plus
the convergence/determinism properties each execution mode claims.

dup_clusters dispatches on the measured symmetrized edge count: at or
below ``driver_max_edges`` it finishes with union-find on the driver; at
these test sizes that means the DEFAULT path is the driver finisher, so
every test pinning a distributed-loop property (rounds, pointer-jump
convergence, max_iter, checkpoint stats) forces the loop with
``driver_max_edges=0``. Both modes are held to the same oracle.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sparkocr.pipeline.dedup import dup_clusters, neardup_corpus

# force-the-loop / take-the-default parametrization: correctness must be
# mode-independent, so shared tests run under both
BOTH_MODES = pytest.mark.parametrize(
    "mode_kw",
    [
        pytest.param({}, id="driver"),
        pytest.param({"driver_max_edges": 0}, id="distributed"),
    ],
)


def _uf_clusters(ids, edges):
    """Union-find oracle with min-root convention: the final root of a
    component is its minimum id, matching dup_clusters' cluster_id."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _run(spark, ids, edges, **kw):
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id1 long, id2 long"
    )
    nodes = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
    got = dup_clusters(pairs, nodes=nodes, **kw).collect()
    return {r["id"]: r["cluster_id"] for r in got}


@BOTH_MODES
def test_random_graph_matches_union_find(spark, mode_kw):
    rng = random.Random(42)
    ids = list(range(120))
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, ids, edges, **mode_kw) == _uf_clusters(ids, edges)


def test_modes_agree_on_string_ids(spark):
    # the driver finisher's min-root convention compares Python strings;
    # the loop compares Spark UTF8Strings — both must pick the same
    # (code-point-minimal) representative
    docs = [("b",), ("aa",), ("z",), ("a0",), ("lone",)]
    prs = [("b", "aa"), ("z", "aa"), ("a0", "z")]
    pairs = spark.createDataFrame(prs, "id1 string, id2 string")
    nodes = spark.createDataFrame(docs, "doc_id string")
    drv = {r["id"]: r["cluster_id"]
           for r in dup_clusters(pairs, nodes=nodes).collect()}
    dist = {r["id"]: r["cluster_id"]
            for r in dup_clusters(pairs, nodes=nodes,
                                  driver_max_edges=0).collect()}
    assert drv == dist == {"b": "a0", "aa": "a0", "z": "a0",
                           "a0": "a0", "lone": "lone"}


def test_wide_string_ids_refuse_driver_mode(spark, monkeypatch):
    """The driver cutoff is byte-budgeted, not just edge-counted: a
    small graph of WIDE string ids (uuid/path-shaped doc_ids) must fall
    back to the distributed loop when its estimated collected footprint
    exceeds the byte budget — same labels either way."""
    from sparkocr.pipeline import dedup

    wide = [f"doc/{'x' * 60}/{i:04d}" for i in range(40)]
    prs = [(wide[i], wide[i + 1]) for i in range(0, 38, 2)]
    pairs = spark.createDataFrame(prs, "id1 string, id2 string")

    stats: dict = {}
    want = {r["id"]: r["cluster_id"]
            for r in dedup.dup_clusters(pairs, stats=stats).collect()}
    assert stats["mode"] == "driver"  # comfortably inside 128 MB

    monkeypatch.setattr(dedup, "DRIVER_MAX_BYTES", 1024)
    tight: dict = {}
    got = {r["id"]: r["cluster_id"]
           for r in dedup.dup_clusters(pairs, stats=tight).collect()}
    assert tight["mode"] == "distributed"
    assert got == want


def test_chain_converges_logarithmically(spark):
    # a 128-node path is the diameter worst case: plain min-propagation
    # needs 127 rounds; pointer jumping must close it in O(log n)
    n = 128
    ids = list(range(n))
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _run(spark, ids, edges, max_iter=12, driver_max_edges=0)
    assert got == {i: 0 for i in ids}


def test_distributed_rounds_are_observable(spark):
    """The stats out-param surfaces rounds-used without log spelunking:
    a clique closes in a couple of rounds, a chain needs more (the
    rounds-spike signal), an edgeless graph runs zero, and the max_iter
    ValueError path still fills the dict before raising."""
    clique_stats: dict = {}
    ids = list(range(10))
    _run(spark, ids, [(a, b) for a in ids for b in ids if a < b],
         stats=clique_stats, driver_max_edges=0)
    assert clique_stats["n_edges"] == 90  # symmetrized
    assert clique_stats["mode"] == "distributed"
    assert 1 <= clique_stats["rounds"] <= 3
    assert clique_stats["n_changed_last"] == 0  # converged

    chain_stats: dict = {}
    _run(spark, list(range(64)), [(i, i + 1) for i in range(63)],
         stats=chain_stats, driver_max_edges=0)
    assert chain_stats["rounds"] > clique_stats["rounds"]
    assert chain_stats["n_changed_last"] == 0

    exhausted: dict = {}
    with pytest.raises(ValueError, match="not converged"):
        _run(spark, list(range(64)), [(i, i + 1) for i in range(63)],
             max_iter=2, stats=exhausted, driver_max_edges=0)
    assert exhausted["rounds"] == 2 and exhausted["n_changed_last"] > 0


def test_driver_stats_component_telemetry(spark):
    """The driver finisher reports mode plus component telemetry —
    max_component is its analog of the loop's rounds-spike warning for
    a hot shingle chaining unrelated docs together."""
    stats: dict = {}
    # two components over edge-touched nodes: {0..4} (star) and {10, 11}
    _run(spark, list(range(20)),
         [(0, i) for i in range(1, 5)] + [(10, 11)], stats=stats)
    assert stats["mode"] == "driver"
    assert stats["rounds"] == 0 and stats["n_changed_last"] == 0
    assert stats["n_edges"] == 10  # symmetrized
    assert stats["n_components"] == 2
    assert stats["max_component"] == 5

    empty_stats: dict = {}
    _run(spark, list(range(5)), [], stats=empty_stats)
    assert empty_stats["n_edges"] == 0
    assert empty_stats["rounds"] == 0
    assert empty_stats["mode"] == "driver"


@BOTH_MODES
def test_transitivity_without_direct_pair(spark, mode_kw):
    # A~B, B~C but never (A, C): all three must share one cluster
    got = _run(spark, [1, 2, 3, 9], [(2, 1), (2, 3)], **mode_kw)
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_empty_pairs_all_singletons(spark):
    got = _run(spark, [5, 7, 11], [])
    assert got == {5: 5, 7: 7, 11: 11}


@BOTH_MODES
def test_duplicate_and_reversed_pairs_tolerated(spark, mode_kw):
    got = _run(spark, [1, 2], [(1, 2), (2, 1), (1, 2)], **mode_kw)
    assert got == {1: 1, 2: 1}


@BOTH_MODES
def test_null_endpoints_dropped(spark, mode_kw):
    pairs = spark.createDataFrame(
        [(1, None), (None, 2), (3, 4)], "id1 long, id2 long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "doc_id long")
    got = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(pairs, nodes=nodes, **mode_kw).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 3}


def test_degenerate_edges_identical_across_modes_without_nodes(spark):
    """Self-loops and null-partner pairs are filtered from the edge set
    BEFORE mode dispatch (dedup.py symmetrize/filter), so with
    nodes=None their ids appear in NEITHER mode's output — the label
    set must not flip when the measured edge count crosses the driver
    threshold."""
    pairs = spark.createDataFrame(
        [("x", "x"), ("y", None), (None, "z"), ("a", "b")],
        "id1 string, id2 string",
    )
    driver = {
        (r.id, r.cluster_id) for r in dup_clusters(pairs).collect()
    }
    dist = {
        (r.id, r.cluster_id)
        for r in dup_clusters(pairs, driver_max_edges=0).collect()
    }
    assert driver == dist == {("a", "a"), ("b", "a")}


@BOTH_MODES
def test_partition_layout_invariance(spark, mode_kw):
    rng = random.Random(7)
    ids = list(range(80))
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    a = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(pairs, nodes=nodes, **mode_kw).collect()
    }
    b = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(
            pairs.repartition(7, "id2"), nodes=nodes.repartition(3), **mode_kw
        ).collect()
    }
    assert a == b == _uf_clusters(ids, edges)


def test_consuming_result_never_reruns_pair_mining(spark):
    """The returned plan must reference the label frame and nodes ONLY —
    never the (cached-then-released) edges plan. If it leaked a reference,
    every downstream consume would re-run candidate-pair mining, the most
    expensive stage of the pipeline. Pin it with an accumulator riding the
    pair source: dup_clusters itself evaluates pairs exactly once (the
    cache-materializing count), and two collects of the result add zero."""
    sc = spark.sparkContext
    evals = sc.accumulator(0)

    def gen(part):
        evals.add(1)
        for row in part:
            yield row

    rdd = sc.parallelize([(1, 2), (2, 3), (5, 6)], 1).mapPartitions(gen)
    pairs = spark.createDataFrame(rdd, "id1 long, id2 long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")

    out = dup_clusters(pairs, nodes=nodes)
    after_build = evals.value
    assert after_build >= 1  # mined at least once inside the operator
    first = {r["id"]: r["cluster_id"] for r in out.collect()}
    second = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert first == second == _uf_clusters(
        list(range(1, 8)), [(1, 2), (2, 3), (5, 6)]
    )
    assert evals.value == after_build  # consumes never re-mined


def test_max_iter_exhaustion_raises(spark):
    # a 64-node chain cannot converge in 2 rounds; wrong labels must never
    # be returned silently (distributed loop only — the driver finisher
    # has no iteration to exhaust)
    ids = list(range(64))
    edges = [(i, i + 1) for i in range(63)]
    with pytest.raises(ValueError, match="not converged"):
        _run(spark, ids, edges, max_iter=2, driver_max_edges=0)


@BOTH_MODES
def test_no_lingering_operator_caches(spark, mode_kw):
    # the edges cache is scoped inside the operator (try/finally), not
    # delegated to the caller like the lazy operators' caches
    from sparkocr.pipeline import caching

    before = caching.live_count()
    _run(spark, [1, 2, 3], [(1, 2)], **mode_kw)
    assert caching.live_count() == before


def test_neardup_corpus_keeps_cluster_minimum(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 1), (2, 3)], "id1 long, id2 long")
    stats: dict = {}
    kept = sorted(
        r["doc_id"]
        for r in neardup_corpus(docs, pairs, stats=stats).collect()
    )
    assert kept == [1, 9]
    assert stats["mode"] == "driver" and stats["n_edges"] == 4


def test_generation_stats_do_not_snowball(spark):
    # Each round's localCheckpoint seeds the new LogicalRDD with the
    # origin plan's ESTIMATED stats, and a round's estimate multiplies
    # the previous generation's sizeInBytes in twice (message join x
    # pointer-jump join) — so without the per-generation persist() the
    # estimate SQUARES every round. By round ~20 the driver burned
    # minutes per round multiplying million-digit BigIntegers inside
    # Catalyst's stats visitor (observed: pinned driver core, idle
    # executors, 464 s CPU in one checkpoint call). The persist makes
    # the checkpoint job materialize the cache first, so the stats
    # rewrite reads the ACTUAL cached byte size. Pin that: after a
    # 14-round chain, the returned generation's sizeInBytes must be a
    # plausible byte count for 1k (id, label) rows, not a 2^14-factor
    # product (pre-fix this exceeded 10^80 even at this toy size).
    n = 1024
    ids = list(range(n))
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id1 long, id2 long"
    )
    nodes = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
    stats = {}
    labels = dup_clusters(pairs, nodes=nodes, stats=stats, driver_max_edges=0)
    assert stats["rounds"] >= 8  # enough rounds for the squaring to show
    size = int(
        labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert 0 < size < 100 * 1024 * 1024


def test_byte_budget_counts_collected_rows(spark, monkeypatch):
    """The driver-finisher byte budget bounds what is COLLECTED — one
    undirected row per edge pair — not the symmetrized count: a graph
    whose collected half fits must take the driver path even when the
    doubled count would not."""
    from sparkocr.pipeline import dedup

    n = 2000  # 2000 undirected edges = 4000 symmetrized
    pairs = spark.createDataFrame(
        [(i, i + 100_000) for i in range(n)], "id1 long, id2 long"
    )
    # budget admits the collected half (2000*16 = 32000) but NOT the
    # symmetrized count (4000*16 = 64000): must still run on the driver
    monkeypatch.setattr(dedup, "DRIVER_MAX_BYTES", 40_000)
    stats: dict = {}
    out = dedup.dup_clusters(pairs, stats=stats)
    assert stats["mode"] == "driver"
    assert out.count() == 2 * n


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_drop_set_broadcast_respects_session_threshold(spark):
    """The driver mode broadcasts the drop set only while its byte bound
    is within spark.sql.autoBroadcastJoinThreshold: at the default the
    small graph's anti-join is a broadcast join, at -1 no broadcast is
    planned — a drop set of millions of rows must not be forced onto
    every executor — and the kept rows are the same either way."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 1), (2, 3)], "id1 long, id2 long")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        stats: dict = {}
        out = neardup_corpus(docs, pairs, stats=stats)
        assert stats["mode"] == "driver"
        assert "BroadcastHashJoin" in _plan(out)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        stats = {}
        out_off = neardup_corpus(docs, pairs, stats=stats)
        assert stats["mode"] == "driver"
        assert "Broadcast" not in _plan(out_off), _plan(out_off)
        assert sorted(r["doc_id"] for r in out_off.collect()) == [1, 9]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

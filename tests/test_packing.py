"""Sequence packing: exact agreement with a pure-Python greedy oracle,
partition invariance (the cross-cluster-size reproducibility property),
and the packing invariants a training pipeline relies on."""

import pytest

SF_DIR = "/root/testdata/sf0.001"
BUDGET = 256


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "doc_id", "text"
    )


def _oracle(rows, budget, n_groups):
    """Pure-Python replay: xxhash64 grouping is replayed from Spark's own
    hash (collected once), packing greedy next-fit in doc_id order."""
    out = {}
    by_group = {}
    for doc_id, n_tokens, group_id in rows:
        by_group.setdefault(group_id, []).append((doc_id, n_tokens))
    for gid, members in by_group.items():
        local, used, pos = 0, 0, 0
        for doc_id, n in sorted(members):
            if used > 0 and used + n > budget:
                local += 1
                used, pos = 0, 0
            out[doc_id] = (gid * (1 << 40) + local, pos)
            used += n
            pos += 1
    return out


def test_packing_matches_python_oracle(spark, docs):
    from sparkocr.pipeline.packing import pack_sequences

    packed = pack_sequences(docs, BUDGET, n_groups=8).collect()
    rows = [(r.doc_id, r.n_tokens, r.group_id) for r in packed]
    want = _oracle(rows, BUDGET, 8)
    assert len(packed) == docs.count()  # every doc exactly once
    for r in packed:
        assert (r.pack_id, r.pack_pos) == want[r.doc_id], r


def test_packing_invariants(spark, docs):
    from sparkocr.pipeline.packing import pack_sequences, pack_stats

    packed = pack_sequences(docs, BUDGET, n_groups=8)
    stats = pack_stats(packed, BUDGET).collect()
    assert stats
    for p in stats:
        # a pack only exceeds the budget when a single oversized doc
        # owns it alone
        assert p.n_tokens <= BUDGET or p.n_docs == 1, p
        assert 0 < p.fill <= 1.0
    # positions within each pack are 0..n_docs-1
    rows = packed.collect()
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r.pack_pos)
    for pid, poss in by_pack.items():
        assert sorted(poss) == list(range(len(poss))), pid


def test_packing_is_partition_invariant(spark, docs):
    """Identical packs no matter how the input is partitioned — the
    property that makes local[8] and a 1000-executor run agree."""
    from sparkocr.pipeline.packing import pack_sequences

    def snap(src):
        return sorted(
            (r.doc_id, r.pack_id, r.pack_pos)
            for r in pack_sequences(src, BUDGET, n_groups=8).collect()
        )

    assert snap(docs.coalesce(1)) == snap(docs.repartition(13))


def test_packing_edges(spark, docs):
    from pyspark.sql import functions as F

    from sparkocr.pipeline.packing import pack_sequences

    # oversized doc gets its own pack; empty/null/whitespace-only text
    # counts zero tokens (trailing newlines must NOT add phantom tokens)
    fixture = spark.createDataFrame(
        [(1, "a " * 500), (2, ""), (3, None), (4, "one two three\n"),
         (5, "\n\t ")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pack_sequences(fixture, 10, n_groups=1).collect()}
    assert rows[1].n_tokens > 10  # oversized
    # the oversized doc shares its pack with nobody
    mates = [r for r in rows.values() if r.pack_id == rows[1].pack_id]
    assert mates == [rows[1]]
    assert rows[2].n_tokens == 0 and rows[3].n_tokens == 0
    assert rows[4].n_tokens == 3  # not 4: trailing newline is no token
    assert rows[5].n_tokens == 0
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(fixture, 0)
    with pytest.raises(ValueError, match="n_groups"):
        pack_sequences(fixture, 10, n_groups=0)
    # precomputed size column path: nulls count 0, negatives clamp to 0
    # (poison rows degrade instead of crashing the stage / corrupting
    # the running total)
    sized = fixture.withColumn(
        "sz",
        F.when(F.col("doc_id") == 2, F.lit(None))
        .when(F.col("doc_id") == 3, F.lit(-7))
        .otherwise(F.lit(4)),
    )
    got = {r.doc_id: r for r in
           pack_sequences(sized, 10, n_groups=1, size_col="sz").collect()}
    assert got[2].n_tokens == 0 and got[3].n_tokens == 0
    assert got[1].n_tokens == 4 and got[4].n_tokens == 4


def test_packing_token_counts_match_textstats(spark, docs):
    """The default sizer must agree exactly with textstats.token_counts —
    one shared expression, pinned so the two can never drift."""
    from sparkocr.pipeline.packing import pack_sequences
    from sparkocr.pipeline.textstats import token_counts

    want = {r.doc_id: r.n_ws_tokens for r in token_counts(docs).collect()}
    got = {r.doc_id: r.n_tokens for r in
           pack_sequences(docs, BUDGET, n_groups=4).collect()}
    assert got == {k: (v if v is not None else 0) for k, v in want.items()}


def test_packing_duplicate_doc_ids_stay_deterministic(spark):
    """Duplicate doc_ids must not break partition invariance: the stream
    order is (doc_id, n_tokens), so tied rows cannot inherit physical
    row order from the input layout."""
    from sparkocr.pipeline.packing import pack_sequences

    rows = [(42, "x " * 5), (42, "y " * 200), (7, "z"), (8, "w " * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def snap(src):
        return sorted(
            (r.doc_id, r.n_tokens, r.pack_id, r.pack_pos)
            for r in pack_sequences(src, 16, n_groups=2).collect()
        )

    assert snap(df.coalesce(1)) == snap(df.repartition(4))


def test_packing_adversarial_sizes_match_row_oracle(spark):
    """Stress the vectorized per-pack sweep against the row-at-a-time
    greedy definition on the shapes that exercise its branches: zero-size
    runs, oversized docs mid-stream, oversized docs at a batch head with
    a non-empty open pack, exact-budget fits."""
    import random

    from sparkocr.pipeline.packing import pack_sequences

    rng = random.Random(4)
    sizes = []
    for _ in range(2000):
        r = rng.random()
        if r < 0.15:
            sizes.append(0)
        elif r < 0.25:
            sizes.append(rng.randint(30, 90))  # oversized (budget 25)
        elif r < 0.35:
            sizes.append(25)  # exact fit
        else:
            sizes.append(rng.randint(1, 25))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "doc_id long, sz int"
    )
    packed = pack_sequences(df, 25, n_groups=3, size_col="sz").collect()
    rows = [(r.doc_id, r.n_tokens, r.group_id) for r in packed]
    want = _oracle(rows, 25, 3)
    for r in packed:
        assert (r.pack_id, r.pack_pos) == want[r.doc_id], r


def test_packing_group_col(spark, docs):
    """group_col: a caller-supplied engine-portable stream assignment
    (hash_split's md5 bucket here) replaces the xxhash64 default, packs
    stay greedy-exact per stream, and out-of-range groups are rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkocr.pipeline.dedup import hash_split
    from sparkocr.pipeline.packing import pack_sequences

    src = hash_split(docs).withColumn(
        "grp", (F.col("bucket_256") % 8).cast("int")
    )
    packed = pack_sequences(src, BUDGET, n_groups=8, group_col="grp").collect()
    want_groups = {r.doc_id: r.grp for r in src.collect()}
    assert {r.doc_id: r.group_id for r in packed} == want_groups
    rows = [(r.doc_id, r.n_tokens, r.group_id) for r in packed]
    want = _oracle(rows, BUDGET, 8)
    for r in packed:
        assert (r.pack_id, r.pack_pos) == want[r.doc_id], r
    bad = src.withColumn("grp", (F.col("grp") + 100).cast("int"))
    with _pytest.raises(Exception, match="outside"):
        pack_sequences(bad, BUDGET, n_groups=8, group_col="grp").collect()
    # values that alias into range mod 2^32 must ALSO be rejected: an
    # int32 cast before the range check would silently wrap 2^32+g to g
    # under non-ANSI sessions and pack the doc into the wrong stream
    aliased = src.withColumn("grp", F.col("grp").cast("long") + F.lit(2**32))
    with _pytest.raises(Exception, match="outside"):
        pack_sequences(aliased, BUDGET, n_groups=8, group_col="grp").collect()


def test_id_offset_namespacing(spark, docs):
    """id_offset shifts every pack id by exactly the offset (the
    namespace hook per-split packing uses) and rejects an offset inside
    the group layout's own id range."""
    from sparkocr.pipeline.packing import pack_sequences

    base = sorted(
        (r.doc_id, r.pack_id) for r in pack_sequences(docs, BUDGET, n_groups=8).collect()
    )
    off = sorted(
        (r.doc_id, r.pack_id)
        for r in pack_sequences(docs, BUDGET, n_groups=8, id_offset=1 << 60).collect()
    )
    assert off == [(d, p + (1 << 60)) for d, p in base]
    with pytest.raises(ValueError, match="id_offset"):
        pack_sequences(docs, BUDGET, n_groups=8, id_offset=-1)
    with pytest.raises(ValueError, match="overlap"):
        pack_sequences(docs, BUDGET, n_groups=8, id_offset=1 << 40)


@pytest.mark.parametrize("coalesce", ["true", "false"])
@pytest.mark.parametrize("partitions", [1, 3, 200])
def test_packing_ignores_physical_layout(spark, docs, partitions, coalesce):
    """Pack assignment does not depend on how many shuffle partitions the
    group exchange gets or whether AQE coalesces them: a partition may
    hold any number of whole streams."""
    from sparkocr.pipeline.packing import pack_sequences

    confs = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.coalescePartitions.enabled": coalesce,
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        packed = pack_sequences(docs, BUDGET, n_groups=8).collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    rows = [(r.doc_id, r.n_tokens, r.group_id) for r in packed]
    want = _oracle(rows, BUDGET, 8)
    assert len(packed) == docs.count()
    for r in packed:
        assert (r.pack_id, r.pack_pos) == want[r.doc_id], r


def test_pack_stage_tasks_follow_data_not_groups(spark):
    """The group exchange hashes on the column without a partition
    count, so AQE can coalesce it: 64 streams over ~300 docs run as at
    most the session's 8 shuffle partitions, not one Python task per
    stream (each Python task has a fixed setup cost)."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline.packing import pack_sequences

    src = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 40).alias("sz")
    )
    packed = pack_sequences(src, BUDGET, n_groups=64, size_col="sz")
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_COL" in plan and "REPARTITION_BY_NUM" not in plan

    # the Python map stage is the one stage of the action that reads the
    # group shuffle; its task count comes from the JVM status store
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()

    def stages():
        jsc.listenerBus().waitUntilEmpty()
        seq = store.stageList(
            None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0),
            None,
        )
        return [seq.apply(i) for i in range(seq.size())]

    seen = {s.stageId() for s in stages()}
    assert len(packed.collect()) == 300
    readers = [
        s for s in stages()
        if s.stageId() not in seen and s.shuffleReadRecords() > 0
    ]
    assert len(readers) == 1, [s.stageId() for s in readers]
    assert readers[0].numTasks() <= 8, readers[0].numTasks()

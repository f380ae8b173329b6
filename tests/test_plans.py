"""Physical-plan hygiene: the properties that make the DAG scale are
asserted, not assumed — filter pushdown reaches the parquet scan, the
extract stage is a single MapInPandas with no shuffle when the scan is
wide enough, small dimensions broadcast, and column pruning holds."""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


SF_DIR = "/root/testdata/sf0.001"


def test_page_slice_filter_pushdown(spark):
    import __spark_entry__ as e

    p = _plan(e.q_page_slice(spark, SF_DIR))
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual" in p and "LessThanOrEqual" in p


def test_extract_is_single_map_stage_no_shuffle(spark, tmp_path):
    from sparkocr.datagen import write_transcripts
    from sparkocr.extract.dispatch import extract_turns

    # 8 files -> >= 2x local[4] parallelism natural splits: no repartition
    d = str(tmp_path / "multi")
    import os

    os.makedirs(d)
    for i in range(8):
        write_transcripts(os.path.join(d, f"p{i}.parquet"), "tiny", seed=i)
    old = spark.conf.get("spark.sql.files.openCostInBytes", None)
    # one file per split (file open cost fills a whole maxPartitionBytes)
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))
    try:
        df = spark.read.parquet(d)
        plan = _plan(extract_turns(df))
    finally:
        if old is not None:
            spark.conf.set("spark.sql.files.openCostInBytes", old)
        else:
            spark.conf.unset("spark.sql.files.openCostInBytes")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan, plan


def test_extract_widens_narrow_scan(spark, tiny_transcripts):
    from sparkocr.extract.dispatch import extract_turns

    # single small file -> 1 split: the auto round-robin repartition must
    # appear (a map stage can never run wider than its input splits)
    df = spark.read.parquet(tiny_transcripts)
    plan = _plan(extract_turns(df))
    assert "Exchange RoundRobinPartitioning" in plan


def test_region_revenue_broadcasts_dims(spark):
    import __spark_entry__ as e

    p = _plan(e.q_region_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_pricing_summary_column_pruning(spark):
    import re

    import __spark_entry__ as e

    p = _plan(e.q_pricing_summary(spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>?", p)
    assert m, p
    cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if ":" in c}
    # only the columns the query touches, not all 16 lineitem columns
    assert cols <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    }, cols


def test_bucketed_table_makes_assembly_shuffle_free(spark, tiny_transcripts):
    from sparkocr.assemble import assemble_docs_cli
    from sparkocr.extract.dispatch import extract_turns
    from sparkocr.storage import save_turns_bucketed

    turns = extract_turns(spark.read.parquet(tiny_transcripts), min_parallelism=0)
    save_turns_bucketed(turns, "turns_bucketed_test", n_buckets=4)
    try:
        bucketed = spark.table("turns_bucketed_test")
        # single-phase assembly (pure groupBy conv_id) over the bucketed
        # table must read co-located buckets: NO Exchange anywhere
        plan = _plan(assemble_docs_cli(bucketed, two_phase=False))
        assert "Exchange" not in plan, plan
        # and results equal the plain-parquet path
        got = {r.conv_id: r.doc_text
               for r in assemble_docs_cli(bucketed, two_phase=False).collect()}
        want = {r.conv_id: r.doc_text
                for r in assemble_docs_cli(turns, two_phase=False).collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS turns_bucketed_test")


def test_assembly_two_phase_bounds_group_state(spark, tiny_transcripts):
    from sparkocr.assemble import assemble_docs_cli
    from sparkocr.extract.dispatch import extract_turns

    turns = extract_turns(spark.read.parquet(tiny_transcripts), min_parallelism=0)
    plan = _plan(assemble_docs_cli(turns, chunk=4))
    # two aggregation levels: (conv_id, chunk_id) then (conv_id)
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2


def test_det_assembly_is_pure_jvm(spark, tiny_transcripts):
    # the _det.mmd variant branches off the raw transcripts: no Python
    # (no MapInPandas) anywhere in its plan — EOS strip + concat are
    # whole-stage-codegen expressions
    from sparkocr.assemble import assemble_docs_det

    plan = _plan(assemble_docs_det(spark.read.parquet(tiny_transcripts)))
    assert "MapInPandas" not in plan
    # the EOS-presence filter (skip_truncated) reaches the parquet scan
    assert "StringContains(text," in plan, plan


def test_cli_mode_stays_single_map_stage(spark):
    # grounding_cli routes through the same one-MapInPandas hot path as
    # every other mode — the jdx plumbing must not add a stage
    import __spark_entry__ as e

    plan = _plan(e.q_pdf_cli_clean(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1


def test_markdown_embed_is_projection_only(spark):
    # crops come from the row's OWN spans array: exactly one MapInPandas
    # (the extractor) and no shuffle at all — a crop_regions self-join
    # would run the extractor twice
    import __spark_entry__ as e

    plan = _plan(e.q_markdown_embed(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    # no groupBy/join shuffle (the only Exchange allowed is the narrow-scan
    # widening RoundRobin from extract_turns)
    assert "Exchange hashpartitioning" not in plan, plan


def test_b64_embed_single_join_no_python(spark):
    # crop fold is a projection over the row's own spans; the only Python
    # is the extractor, the only join is the media payload lookup
    import __spark_entry__ as e

    plan = _plan(e.q_markdown_embed_b64(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1  # the extractor
    assert "Join" in plan


def test_crop_regions_is_projection_only(spark):
    # image-span numbering comes from the spans array position: no window
    # shuffle on page identity, extractor runs once
    import __spark_entry__ as e

    plan = _plan(e.q_crop_regions(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_locate_with_spans_is_projection_only(spark):
    # match offsets and candidate spans live on the same row: explode over
    # per-row arrays, no self-join back through the extraction DAG
    import __spark_entry__ as e

    plan = _plan(e.q_locate_with_spans(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_asof_chunked_splits_hot_key(spark):
    # skew hardening: one key holding ~1e5 rows must NOT become a single
    # window sort task — the chunked plan's phase-1 window partitions on
    # (key, time-chunk), visible as a two-column hashpartitioning Exchange
    import re

    from pyspark.sql import functions as F

    from sparkocr.pipeline.relational_ext import asof_join

    left = (
        spark.range(100_000)
        .select(
            F.lit("hot").alias("k"),
            (F.lit(1_700_000_000) + F.col("id")).cast("timestamp").alias("t"),
            F.col("id").alias("lid"),
        )
    )
    right = (
        spark.range(100)
        .select(
            F.lit("hot").alias("k"),
            (F.lit(1_700_000_000) + F.col("id") * 1000).cast("timestamp").alias("rt"),
            F.col("id").alias("rid"),
        )
    )
    out = asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_cols=["rid"], right_tiebreak="rid", chunk_seconds=3600,
    )
    plan = _plan(out)
    # phase-1 window runs per (key, chunk): 100k rows / 3600s chunks = 28
    # independent tasks for the hot key instead of one
    assert re.search(r"hashpartitioning\(_k#\d+L?, _chunk#\d+", plan), plan
    # and the results match the single-window plan on a subsample
    sub = left.filter(F.col("lid") % 100 == 0)
    kw = dict(key="k", left_time="t", right_time="rt",
              right_cols=["rid"], right_tiebreak="rid")
    got = {r.lid: r.rid_asof
           for r in asof_join(sub, right, chunk_seconds=3600, **kw).collect()}
    want = {r.lid: r.rid_asof for r in asof_join(sub, right, **kw).collect()}
    assert got == want


def test_asof_adaptive_dispatch_probes_skew(spark):
    # chunk_min_key_rows: the measured-skew dispatch — the SAME call
    # engages the chunked plan on a hot-key input and the single-window
    # plan on a balanced one, decided by the key-column probe
    import re

    from pyspark.sql import functions as F

    from sparkocr.pipeline.relational_ext import asof_join

    right = spark.range(10).select(
        F.lit("hot").alias("k"),
        (F.lit(1_700_000_000) + F.col("id") * 1000).cast("timestamp").alias("rt"),
        F.col("id").alias("rid"),
    )
    kw = dict(key="k", left_time="t", right_time="rt", right_cols=["rid"],
              right_tiebreak="rid", chunk_seconds=3600,
              chunk_min_key_rows=50_000)
    hot = spark.range(60_000).select(
        F.lit("hot").alias("k"),
        (F.lit(1_700_000_000) + F.col("id")).cast("timestamp").alias("t"),
        F.col("id").alias("lid"),
    )
    plan_hot = _plan(asof_join(hot, right, **kw))
    assert re.search(r"hashpartitioning\(_k#\d+, _chunk#\d+", plan_hot), plan_hot
    balanced = spark.range(60_000).select(
        (F.col("id") % 1000).cast("string").alias("k"),
        (F.lit(1_700_000_000) + F.col("id")).cast("timestamp").alias("t"),
        F.col("id").alias("lid"),
    )
    plan_bal = _plan(asof_join(balanced, right, **kw))
    assert "_chunk" not in plan_bal, plan_bal
    # probe counts the UNION of both sides: a left side just under the
    # threshold must still chunk when the right side tips the hot key over
    near = spark.range(49_995).select(
        F.lit("hot").alias("k"),
        (F.lit(1_700_000_000) + F.col("id")).cast("timestamp").alias("t"),
        F.col("id").alias("lid"),
    )
    plan_near = _plan(asof_join(near, right, **kw))
    assert re.search(r"hashpartitioning\(_k#\d+, _chunk#\d+", plan_near), plan_near


def test_session_counts_adaptive_dispatch_probes_skew(spark):
    import re

    from pyspark.sql import functions as F

    from sparkocr.pipeline.relational_ext import session_counts

    kw = dict(key="u", time="ts", gap_seconds=5, chunk_seconds=3600,
              chunk_min_key_rows=50_000)
    hot = spark.range(60_000).select(
        F.concat(F.lit("bot"), F.substring(F.col("id").cast("string"), 1, 0)).alias("u"),
        (F.lit(1_700_000_000) + F.col("id") * 7).cast("timestamp").alias("ts"),
    )
    plan_hot = _plan(session_counts(hot, **kw))
    assert re.search(r"hashpartitioning\(_k#\d+, _chunk#\d+", plan_hot), plan_hot
    row = session_counts(hot, **kw).collect()[0]
    assert (row.n_sessions, row.n_events) == (60_000, 60_000)
    balanced = spark.range(60_000).select(
        (F.col("id") % 1000).cast("string").alias("u"),
        (F.lit(1_700_000_000) + F.col("id") * 7).cast("timestamp").alias("ts"),
    )
    plan_bal = _plan(session_counts(balanced, **kw))
    assert "_chunk" not in plan_bal, plan_bal


def test_session_counts_chunked_splits_hot_key(spark):
    import re

    from pyspark.sql import functions as F

    from sparkocr.pipeline.relational_ext import session_counts

    # non-literal key (a literal would be constant-folded out of the
    # partitioning): one hot user holds all 100k events
    ev = spark.range(100_000).select(
        F.concat(
            F.lit("bot"), F.substring(F.col("id").cast("string"), 1, 0)
        ).alias("u"),
        (F.lit(1_700_000_000) + F.col("id") * 7).cast("timestamp").alias("ts"),
    )
    out = session_counts(ev, key="u", time="ts", gap_seconds=5, chunk_seconds=3600)
    plan = _plan(out)
    assert re.search(r"hashpartitioning\(_k#\d+, _chunk#\d+", plan), plan
    row = out.collect()[0]
    # every consecutive gap is 7s > 5s: each event its own session
    assert (row.n_sessions, row.n_events) == (100_000, 100_000)


def test_pipeline_metrics_reuses_extraction_exchange(spark):
    # both metric branches share the (conv_id, tool) partial aggregate:
    # after AQE finalizes, the second branch reads a ReusedExchange and
    # the extraction MapInPandas executes once (reuse is a runtime
    # property — assert on the final adaptive plan, post-collect)
    import __spark_entry__ as e

    df = e.q_pipeline_metrics(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan


def test_extract_skips_widening_when_scan_saturates_cores(spark, tmp_path):
    """splits == cores must NOT trigger the auto widening: the map stage
    already occupies every core, and the round-robin repartition would
    shuffle the entire raw payload for 2-wave balancing that measured
    SLOWER (A/B at sf0.1 local[32]: 8.8-10.6 s widened vs 7.4-7.6 s not)."""
    import os

    from sparkocr.datagen import write_transcripts
    from sparkocr.extract.dispatch import extract_turns

    d = str(tmp_path / "exact")
    os.makedirs(d)
    for i in range(spark.sparkContext.defaultParallelism):
        write_transcripts(os.path.join(d, f"p{i}.parquet"), "tiny", seed=i)
    old = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))
    try:
        plan = _plan(extract_turns(spark.read.parquet(d)))
    finally:
        if old is not None:
            spark.conf.set("spark.sql.files.openCostInBytes", old)
        else:
            spark.conf.unset("spark.sql.files.openCostInBytes")
    assert "Exchange" not in plan, plan


def test_extract_widens_byte_skewed_saturating_scan(spark, tmp_path):
    """splits == cores but one file dominates the bytes: the fattest split
    would serialize the whole map stage (measured 19.4-21.5 s unwidened vs
    4.6-5.7 s widened on an 8x-dominant file, local[8]) — the auto path
    must detect the file-size skew and widen despite saturation."""
    import os

    from sparkocr.datagen import _gen_conv_rows, _write_table
    from sparkocr.extract.dispatch import extract_turns

    d = str(tmp_path / "skewed")
    os.makedirs(d)
    cores = spark.sparkContext.defaultParallelism
    big = []
    for c in range(60):
        big.extend(_gen_conv_rows(c, 10, 14, seed=5))
    _write_table(big, os.path.join(d, "part-00000.parquet"))
    for i in range(1, cores):
        _write_table(_gen_conv_rows(60 + i, 2, 3, seed=5),
                     os.path.join(d, f"part-{i:05d}.parquet"))
    old = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))
    try:
        df = spark.read.parquet(d)
        assert df.rdd.getNumPartitions() == cores
        plan = _plan(extract_turns(df))
    finally:
        if old is not None:
            spark.conf.set("spark.sql.files.openCostInBytes", old)
        else:
            spark.conf.unset("spark.sql.files.openCostInBytes")
    assert "Exchange" in plan, plan


def test_app_assembly_has_no_window(spark, tiny_transcripts):
    """assemble_docs_app numbers pages from the sorted-array index inside
    the concat aggregate — the earlier row_number Window funnelled every
    turn of a conversation through a per-conv single-task sort and then
    shuffled AGAIN for the concat (two exchanges + a Sort for what one
    aggregate does)."""
    from sparkocr.assemble import assemble_docs_app
    from sparkocr.extract.dispatch import extract_turns

    df = assemble_docs_app(extract_turns(spark.read.parquet(tiny_transcripts)))
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan

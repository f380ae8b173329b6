"""SparkSession factory tuned for the extraction workload.

Arrow on (all hot-path Python crosses as Arrow batches), AQE on (runtime
coalesce + skew-join splitting), UTC session timezone (timestamps in
fixtures are UTC), shuffle partitions scaled to parallelism, and a driver
heap sized from the machine's physical memory (``default_driver_memory``;
``SPARKOCR_DRIVER_MEM`` overrides it). Iceberg is used when its runtime jar
is present; otherwise the Parquet fallback with an explicit bucket column +
a versioned JSON lineage manifest (sparkocr.checkpoint) provides the same
resume surface (SURVEY.md §7).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession


def iceberg_available() -> bool:
    """True iff an iceberg-spark-runtime jar ships with this pyspark.
    Decides the table format at session build: Iceberg catalog when
    present, plain parquet + the sparkocr.checkpoint manifest otherwise."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return bool(glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar")))
    except Exception:
        return False


def default_driver_memory() -> str:
    """The driver heap when ``SPARKOCR_DRIVER_MEM`` is unset: 40% of
    physical memory in whole GB, at most 24g. A local-mode driver hosts
    every executor thread, so an 8g heap GC-thrashes under 32 concurrent
    parquet writers and Arrow buffers (3-4x slower on the write stage),
    while a heap sized past the machine gets the JVM OOM-killed."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, int(0.4 * phys / 2**30)))}g"


def bench_session(app_name: str, cpus: int) -> SparkSession:
    """Benchmark-preset session shared by bench.py and the
    BENCH/run_scaling.py children: local[cpus], 2×cpus shuffle partitions,
    split knobs scaled DOWN to the ~50 MB bench table so the scan gets the
    split count a production-size table has naturally (with the default
    128 MB splits the whole dataset packs into ~5 splits and the map stage
    needs a widening shuffle it would never need at scale). ONE definition
    so retuning a knob cannot silently diverge the headline and scaling
    measurements into different scan shapes."""
    return build_session(
        app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
            "spark.sql.files.openCostInBytes": str(64 << 10),
        },
    )


def build_session(
    app_name: str = "sparkocr",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 4096,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one-ish partition per core for local[n]; for any other master
        # (local, yarn, spark://..., k8s) the core count isn't in the
        # string — fall back to a sane default and let the caller size it.
        import re as _re

        m = _re.fullmatch(r"local\[(\d+|\*)\]", master)
        if m and m.group(1) != "*":
            shuffle_partitions = max(8, int(m.group(1)))
        else:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # keep parquet scans prunable: one row-group-ish split per task
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd beats the snappy default on BOTH write wall-clock (-11% on
        # the bench extract stage) and size (36 vs 62 MB on the 1.1M-turn
        # output) — at 100 TB the smaller intermediate tables also cut
        # every downstream scan
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARKOCR_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    if iceberg_available():
        # local hadoop catalog `ice`; jobs address tables as ice.db.table.
        # Absent the jar (this sandbox), the parquet fallback with a bucket
        # column + a JSON lineage manifest provides the same resume surface.
        wh = os.environ.get("SPARKOCR_ICEBERG_WAREHOUSE", "/tmp/sparkocr_warehouse")
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.ice.type", "hadoop")
            .config("spark.sql.catalog.ice.warehouse", wh)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

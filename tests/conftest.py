import os
import sys

sys.path.insert(0, os.path.dirname(__file__))  # for oracle_ref
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

import pytest


@pytest.fixture(scope="session")
def spark():
    from sparkocr.session import build_session

    s = build_session("sparkocr-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Drop operator-internal caches after EVERY test. Tests that consume
    a cache-registering operator (lsh_candidate_pairs, jaccard_pairs, ...)
    without releasing would otherwise leak registry entries into whichever
    test happens to run next — assertions like test_corpus_job's
    ``live_count() == 0`` then depend on file ordering, not behavior."""
    yield
    from sparkocr.pipeline import caching

    caching.release_all()


@pytest.fixture(scope="session")
def tiny_transcripts(tmp_path_factory):
    """Deterministic tiny-profile transcripts parquet (FIXTURES.md §1)."""
    from sparkocr.datagen import write_transcripts

    path = str(tmp_path_factory.mktemp("data") / "transcripts_tiny.parquet")
    write_transcripts(path, "tiny")
    return path


@pytest.fixture
def tiny_transcripts_without(spark, tiny_transcripts, tmp_path):
    """Factory: the tiny transcripts minus every conversation whose
    extract-job bucket (of ``n_buckets``) is in ``buckets``, as a new
    parquet path."""
    from pyspark.sql import functions as F

    from sparkocr.checkpoint import with_bucket

    def write(buckets, n_buckets=8):
        path = str(tmp_path / f"without_{'_'.join(map(str, sorted(buckets)))}.parquet")
        with_bucket(spark.read.parquet(tiny_transcripts), n_buckets).filter(
            ~F.col("bucket").isin(list(buckets))
        ).drop("bucket").write.parquet(path)
        return path

    return write

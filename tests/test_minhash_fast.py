"""Rolling-hash (Arrow) minhash: value oracle, estimator quality, and
store hash_kind replay.

The construction under test is ``minhash_fast.rolling_minhash_signatures``
(hash_kind="rolling"): byte-window polynomial hashes mod 2^64 via the
invertible-base prefix trick, folded through the SAME affine family as
the md5 kind. The value oracle here recomputes every window hash with
plain Python big-int arithmetic — a brute-force O(n·k) per-window loop
with none of the numpy wraparound tricks — so a silent uint64 mistake
(cumsum dtype, cumprod on a view, off-by-one in the window algebra)
breaks equality loudly."""

import pytest
from pyspark.sql import functions as F

from sparkocr.pipeline import caching
from sparkocr.pipeline.dedup import (
    MH_PRIME,
    N_PERM,
    SHINGLE,
    lsh_candidate_pairs,
    mh_affine_params,
    minhash_signatures,
)
from sparkocr.pipeline.minhash_fast import ROLL_B, rolling_minhash_signatures

M64 = 2**64


def _oracle_sig(text, k=SHINGLE, n_perm=N_PERM, max_chars=None):
    """Pure-Python reference: brute-force per-window polynomial hash
    (ints, explicit mod), then the shared affine minima. None when the
    doc yields no shingles (null, or < k bytes after the char cap)."""
    if text is None:
        return None
    bs = (text if max_chars is None else text[:max_chars]).encode("utf-8")
    if len(bs) < k:
        return None
    mins = [None] * n_perm
    params = mh_affine_params(n_perm)
    for i in range(len(bs) - k + 1):
        h = 0
        for j in range(i, i + k):
            h = (h * ROLL_B + bs[j] + 1) % M64
        hm = h % MH_PRIME
        for p, (a, b) in enumerate(params):
            v = (a * hm + b) % MH_PRIME
            if mins[p] is None or v < mins[p]:
                mins[p] = v
    return mins


FIXTURE = [
    ("ascii", "the quick brown fox jumps over the lazy dog"),
    ("multibyte", "wörter — ünïcode ⚡ text with ümlaut sôup " * 3),
    ("exact_k_bytes", "12345678"),
    ("k_minus_one_bytes", "1234567"),
    # 7 chars but ≥ k BYTES: the rolling kind signs it (byte guard),
    # unlike the md5 kind's char guard — deliberate, pinned here
    ("seven_chars_many_bytes", "⚡⚡⚡⚡⚡⚡⚡"),
    ("null_text", None),
    ("empty", ""),
    ("nul_bytes", "a\x00b\x00c\x00d\x00e\x00f\x00"),
]


def test_rolling_matches_pure_python_oracle(spark):
    docs = spark.createDataFrame(FIXTURE, ["doc_id", "text"])
    got = {
        r["doc_id"]: [r[f"mh_{j}"] for j in range(N_PERM)]
        for r in rolling_minhash_signatures(docs).collect()
    }
    for doc_id, text in FIXTURE:
        want = _oracle_sig(text)
        if want is None:
            assert doc_id not in got, doc_id
        else:
            assert got[doc_id] == want, doc_id
    assert "seven_chars_many_bytes" in got


def test_rolling_char_cap_matches_oracle_and_truncated_doc(spark):
    base = "abcdefgh⚡" * 60  # multibyte so the char cap != a byte cap
    docs = spark.createDataFrame(
        [("long", base + "DIVERGENT TAIL " * 40), ("cut", base)],
        ["doc_id", "text"],
    )
    cap = len(base)
    rows = {
        r["doc_id"]: [r[f"mh_{j}"] for j in range(N_PERM)]
        for r in rolling_minhash_signatures(docs, max_chars=cap).collect()
    }
    # capped long doc == its own truncation == the pure-python oracle
    assert rows["long"] == rows["cut"] == _oracle_sig(base)


def test_rolling_schema_matches_md5_kind_and_id_passthrough(spark):
    docs_s = spark.createDataFrame([("a", "x" * 40)], ["doc_id", "text"])
    docs_l = docs_s.select(F.xxhash64("doc_id").alias("doc_id"), "text")
    for docs in (docs_s, docs_l):
        md5_schema = minhash_signatures(docs).schema
        roll_schema = rolling_minhash_signatures(docs).schema
        assert [f.name for f in roll_schema] == [f.name for f in md5_schema]
        assert roll_schema["doc_id"].dataType == docs.schema["doc_id"].dataType
        assert all(
            str(roll_schema[f"mh_{j}"].dataType) == "LongType()"
            for j in range(N_PERM)
        )


def test_rolling_partition_invariance(spark):
    docs = spark.createDataFrame(
        [(f"d{i}", f"document number {i} with shared boilerplate text " * 4)
         for i in range(40)],
        ["doc_id", "text"],
    )
    one = sorted(map(tuple, rolling_minhash_signatures(docs.coalesce(1)).collect()))
    many = sorted(map(tuple, rolling_minhash_signatures(docs.repartition(7)).collect()))
    assert one == many


def test_est_jaccard_tracks_true_byte_jaccard(spark):
    """Estimator property: a ~90%-overlap pair estimates high, disjoint
    docs estimate low — with enough perms to keep the variance sane."""
    import random

    rng = random.Random(11)
    words = [f"tok{rng.randrange(4000)}" for _ in range(600)]
    a = " ".join(words)
    b = " ".join(words[:540] + [f"new{i}" for i in range(60)])
    c = " ".join(f"other{rng.randrange(4000)}" for _ in range(600))
    docs = spark.createDataFrame([("a", a), ("b", b), ("c", c)], ["doc_id", "text"])
    with caching.scope():
        pairs = {
            (r["id1"], r["id2"]): r["est_jaccard"]
            for r in lsh_candidate_pairs(
                docs, n_perm=24, band_rows=2, hash_kind="rolling"
            ).collect()
        }
    assert pairs.get(("a", "b"), 0.0) >= 0.5
    assert pairs.get(("a", "c"), 0.0) <= 0.25 and pairs.get(("b", "c"), 0.0) <= 0.25


def test_unknown_hash_kind_rejected(spark):
    docs = spark.createDataFrame([("a", "x" * 40)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="hash_kind"):
        minhash_signatures(docs, hash_kind="sha512")


def test_store_records_and_replays_rolling_kind(spark):
    """A store built with hash_kind='rolling' must compute its increments
    with the SAME kind — cross-kind signatures never collide, so if the
    append silently used md5, the base-vs-increment duplicate below
    would produce zero candidate pairs."""
    from sparkocr.pipeline.lsh_store import (
        _meta_hash_kind,
        build_lsh_store,
        incremental_lsh_pairs,
        read_store_meta,
    )

    name = "t_roll_kind"
    text = "an unmistakably duplicated document body " * 8
    base = spark.createDataFrame(
        [("b1", text), ("b2", "completely unrelated content " * 9)],
        ["doc_id", "text"],
    )
    inc = spark.createDataFrame([("n1", text)], ["doc_id", "text"])
    try:
        build_lsh_store(base, name, n_buckets=2, hash_kind="rolling")
        m = read_store_meta(spark, name)
        assert m["hash_kind"] == 1 and _meta_hash_kind(m) == "rolling"
        with caching.scope():
            pairs = incremental_lsh_pairs(inc, name).collect()
        hits = {(r["id1"], r["id2"]): r["est_jaccard"] for r in pairs}
        assert hits.get(("b1", "n1")) == 1.0
    finally:
        for t in ("sigs", "bands", "meta", "commits"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_{t}")


def test_meta_hash_kind_codes():
    from sparkocr.pipeline.lsh_store import _meta_hash_kind

    assert _meta_hash_kind({"hash_kind": 0}) == "md5"
    assert _meta_hash_kind({"hash_kind": 1}) == "rolling"

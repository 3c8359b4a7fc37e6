"""Observed (single-job) content digest == write-then-rescan digest.

``ObjectStore.put`` folds the content digest into the stage-write job
via ``hashing.observed_content_hash`` (VERDICT r8 task 6: the rescan
was ~50% of every CAS write). The CAS contract — an object's address
IS the hash of its stored bytes — now rests on the observed metrics
matching what a rescan of the written parquet would produce, so this
suite pins, across the tricky-type matrix (NaN/±inf/-0.0/denormal
doubles, NUL-sentinel strings, binary, timestamps, decimals, nulls,
empty frames):

1. observed digest == plain two-pass ``table_content_hash(df)``;
2. observed digest == ``table_content_hash`` over a RELOAD of the
   object ``put`` stored (address verifies against stored bytes);
3. write-once dedup still fires on equal content via the observed path;
4. a nondeterministic plan stores bytes that match their address.
"""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F

from messdb_spark.hashing import observed_content_hash, table_content_hash
from messdb_spark.store import ObjectStore

_CASES = [
    ("doubles", [(1, float("nan")), (2, float("inf")), (3, float("-inf")),
                 (4, -0.0), (5, 0.0), (6, 5e-324), (7, 1e20),
                 (8, 1.7976931348623157e308), (9, None)],
     "k long, d double"),
    ("strings", [(1, ""), (2, "\x00"), (3, "\x00N"), (4, "\x00|"),
                 (5, "a\x00Eb"), (6, None), (7, "퟿ x"), (8, "🎉é")],
     "k long, s string"),
    ("binary_ts", [(1, b"", datetime.datetime(1970, 1, 2, 3, 4, 5, 6)),
                   (2, b"\x00\xff", datetime.datetime(2099, 12, 31)),
                   (3, None, None)],
     "k long, b binary, t timestamp"),
    ("decimal_date", [(1, decimal.Decimal("0.01"), datetime.date(1, 1, 1)),
                      (2, decimal.Decimal("-99999999999999.99"),
                       datetime.date(9999, 12, 31)),
                      (3, None, None)],
     "k long, dc decimal(18,2), dt date"),
    ("arrays", [(1, [1, 2, 3], {"a": 1.5}), (2, [], {}), (3, None, None)],
     "k long, xs array<long>, m map<string,double>"),
    ("empty", [], "k long, v string"),
]


@pytest.mark.parametrize("name,rows,schema", _CASES,
                         ids=[c[0] for c in _CASES])
def test_observed_equals_rescan_and_reload(spark, tmp_path, name, rows,
                                           schema):
    df = spark.createDataFrame(rows, schema)
    plain = table_content_hash(df)

    odf, finish = observed_content_hash(df)
    odf.write.mode("overwrite").parquet(str(tmp_path / "probe"))
    assert finish() == plain, f"{name}: observed digest != two-pass digest"

    store = ObjectStore(str(tmp_path / "wh"))
    h = store.put(df, table_content_hash)
    assert h == plain, f"{name}: put's observed path drifted"
    if rows:
        back = spark.read.parquet(store.path(h))
        assert table_content_hash(back) == h, \
            f"{name}: stored bytes don't verify against their address"


def test_observed_path_write_once_dedup(spark, tmp_path):
    store = ObjectStore(str(tmp_path / "wh"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)],
                               "k long, v string")
    h1 = store.put(df, table_content_hash)
    saves = store.saves
    # same multiset, different partitioning/order → same address, skip
    h2 = store.put(df.repartition(7).sortWithinPartitions(F.desc("k")),
                   table_content_hash)
    assert h2 == h1
    assert store.saves == saves and store.save_skips >= 1


def test_observed_path_nondeterministic_plan(spark, tmp_path):
    """rand() evaluates ONCE: the digested rows are the written rows,
    so the stored object must verify against its address."""
    store = ObjectStore(str(tmp_path / "wh"))
    df = spark.range(0, 1000).withColumn("r", F.rand())
    h = store.put(df, table_content_hash)
    back = spark.read.parquet(store.path(h))
    assert table_content_hash(back) == h


def test_observed_path_key_sorted_layout(spark, tmp_path):
    """key_cols layout (repartitionByRange + sortWithinPartitions)
    composes with the observed digest: same address as the plain
    two-pass path, physically key-sorted object."""
    store = ObjectStore(str(tmp_path / "wh"))
    df = spark.createDataFrame([(i % 17, i, float(i)) for i in range(500)],
                               "g long, k long, x double")
    h = store.put(df, table_content_hash, key_cols=("g", "k"))
    back = spark.read.parquet(store.path(h))
    assert table_content_hash(back) == h


def test_custom_hash_fn_keeps_rescan_path(spark, tmp_path):
    """A content_hash_fn without .observed still gets the write-then-
    rescan behavior (and its digest sees the STAGED bytes)."""
    calls = []

    def fn(df):
        calls.append(df)
        return "fixed" + str(df.count())

    store = ObjectStore(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1,), (2,)], "k long")
    h = store.put(df, fn)
    assert h == "fixed2" and len(calls) == 1
    assert store.exists(h)


# ---------------------------------------------------------------------------
# r16: per-bucket digest folded into the bucket-write job
# ---------------------------------------------------------------------------

def test_observed_bucket_hashes_equals_groupby(spark):
    """``observed_bucket_hashes`` (the digest-during-write fold of
    ``_write_tagged_buckets``) must produce exactly the dict the
    groupBy read-back ``bucket_content_hashes`` computes — including
    absent keys for empty buckets — across the tricky-type matrix."""
    from messdb_spark.hashing import (bucket_content_hashes,
                                      observed_bucket_hashes)

    rows = [(i, i % 5, float("nan") if i % 7 == 0 else i / 3.0,
             None if i % 11 == 0 else f"s\x00{i}")
            for i in range(200)]
    df = spark.createDataFrame(rows, "k long, b long, d double, s string")
    # bucket 9 is in the domain but empty; buckets 0..4 populated
    tags = [0, 1, 2, 3, 4, 9]
    expect = bucket_content_hashes(df.withColumnRenamed("b", "__b"), "__b")

    odf, finish = observed_bucket_hashes(
        df.withColumnRenamed("b", "__b"), "__b", tags)
    odf.write.format("noop").mode("overwrite").save()
    got = finish(int)
    assert got == expect
    assert 9 not in got


def test_observed_bucket_hashes_all_empty(spark):
    """An all-empty tagged frame folds to an empty dict (the
    memoized-empty-output path) without hanging on the observation."""
    from messdb_spark.hashing import observed_bucket_hashes

    df = spark.createDataFrame([], "k long, b long, v string")
    odf, finish = observed_bucket_hashes(df, "b", [0, 1])
    odf.write.format("noop").mode("overwrite").save()
    assert finish(int) == {}


def test_write_tagged_buckets_fold_matches_readback(spark, tmp_path):
    """End-to-end: a whitelisted ``_write_buckets`` call (the
    tag_domain fold path — the delta regime) must store objects at the
    SAME addresses the read-back path computes — CAS dedup across the
    two write paths depends on it — and the stored files must NOT
    carry the fold's helper hash columns."""
    from messdb_spark.plans.incremental import (_write_buckets,
                                                _write_tagged_buckets,
                                                _bucket_expr, _BUCKET)
    from messdb_spark.store import ObjectStore

    df = spark.createDataFrame(
        [(i, f"v{i}", i * 1.5) for i in range(300)],
        "k long, s string, x double")
    wl = set(range(8))          # whitelist → tag_domain → fold path
    s1 = ObjectStore(str(tmp_path / "wh1"))
    folded = _write_buckets(s1, df, ("k",), 8, bucket_whitelist=wl)
    s2 = ObjectStore(str(tmp_path / "wh2"))
    with_b = df.withColumn(_BUCKET, _bucket_expr(("k",), 8))
    readback = _write_tagged_buckets(s2, with_b, n_parts=8)  # no domain
    assert folded == readback and len(folded) > 1
    for h in folded.values():
        assert s1.exists(h) and s2.exists(h)
        cols = set(spark.read.parquet(s1.path(h)).columns)
        assert cols == {"k", "s", "x"}, cols


def test_write_tagged_buckets_escaped_string_tags(spark, tmp_path):
    """String tags the partitioned writer Hive-escapes in directory
    names (":" and "%"; a space is kept) still commit on both digest
    paths: the folded digests equal the read-back ones, and every
    object holds exactly its tag's rows."""
    from messdb_spark.plans.incremental import _BUCKET, _write_tagged_buckets
    from messdb_spark.store import ObjectStore

    tags = ["a b", "c:d", "e%f", "50%:x y"]
    df = spark.createDataFrame(
        [(i, tags[i % len(tags)], f"v{i}") for i in range(40)],
        f"k long, {_BUCKET} string, v string")
    s1 = ObjectStore(str(tmp_path / "wh1"))
    folded = _write_tagged_buckets(s1, df, key_fn=str, n_parts=len(tags),
                                   tag_domain=tags)
    s2 = ObjectStore(str(tmp_path / "wh2"))
    readback = _write_tagged_buckets(s2, df, key_fn=str, n_parts=len(tags))
    assert folded == readback and set(folded) == set(tags)
    for t, h in folded.items():
        want = sorted(r["k"] for r in df.filter(F.col(_BUCKET) == t)
                      .collect())
        assert sorted(r["k"] for r in s1.load(spark, h).collect()) == want


def test_undelivered_observation_falls_back_to_rescan(spark, tmp_path,
                                                      monkeypatch):
    """Observed metrics that never arrive (a dropped listener-bus
    event) must not block a write forever: the wait is bounded, the
    fold reports None, and ``put`` and the bucket write re-scan their
    staged bytes to the same addresses the fold computes."""
    from messdb_spark import hashing
    from messdb_spark.hashing import observed_bucket_hashes
    from messdb_spark.plans.incremental import _BUCKET, _write_tagged_buckets

    df = spark.createDataFrame([(i, f"v{i}", i % 3) for i in range(60)],
                               f"k long, v string, {_BUCKET} long")
    plain = spark.createDataFrame([(i, f"v{i}") for i in range(60)],
                                  "k long, v string")

    monkeypatch.setattr(hashing, "OBSERVE_WAIT_S", 1)
    _odf, finish = observed_content_hash(plain)       # action never runs
    assert finish() is None
    _odf, finish = observed_bucket_hashes(df, _BUCKET, [0, 1, 2])
    assert finish(int) is None

    s1 = ObjectStore(str(tmp_path / "wh1"))
    h_fold = s1.put(plain, table_content_hash)
    b_fold = _write_tagged_buckets(s1, df, n_parts=3, tag_domain=[0, 1, 2])
    monkeypatch.setattr(hashing, "_observed_row", lambda obs: None)
    s2 = ObjectStore(str(tmp_path / "wh2"))
    assert s2.put(plain, table_content_hash) == h_fold
    assert _write_tagged_buckets(s2, df, n_parts=3,
                                 tag_domain=[0, 1, 2]) == b_fold
    assert s2.exists(h_fold) and all(s2.exists(h) for h in b_fold.values())

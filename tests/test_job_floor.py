"""Spark job floor of the refresh path: work the store already knows
launches no job.

- A no-op refresh of an aggregation view and a map view, commits
  included, launches 0 jobs: every partial, the aggregation's combine
  and every map bucket are memo hits, and the combined object is
  registered without a re-write.
- Touched-bucket discovery of an upsert is one aggregation (<= 2 jobs).
- Loading an object the store wrote launches 0 jobs: its schema is
  known, so Spark reads no footer, and the known-schema read equals an
  inferred read across the tricky-type matrix.
- The combine memo is correct: the combined view equals a plain
  ``groupBy``, a no-op refresh returns the same object with no save
  and no memo miss, and a fresh ``Engine`` on the same warehouse hits.

Jobs are counted with a job group and the status tracker, after the
listener bus has drained.
"""

from __future__ import annotations

import contextlib
import uuid

import pytest
from pyspark.sql import functions as F

from messdb_spark.engine import Engine
from messdb_spark.hashing import table_content_hash
from messdb_spark.operators.core import KeyedTable
from messdb_spark.plans.incremental import (EMPTY, incremental_agg_view,
                                            incremental_map_view,
                                            incremental_upsert,
                                            touched_buckets, write_bucketed)
from messdb_spark.registry import REGISTRY
from messdb_spark.store import ObjectStore

from test_observed_digest import _CASES


@contextlib.contextmanager
def spark_jobs(spark):
    """Yield a list that, on exit, holds the ids of the Spark jobs the
    block launched."""
    sc = spark.sparkContext
    group = f"job-floor-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job floor")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _aggs():
    return {"n": ("count", F.count(F.lit(1))),
            "total": ("sum", F.sum("x")),
            "mx": ("max", F.max("x"))}


def _events(spark, n=400):
    return spark.createDataFrame(
        [(i, f"t{i % 5}", float(i % 37)) for i in range(n)],
        "k long, g string, x double")


def _delta(spark):
    return spark.createDataFrame([(3, "t9", 100.0), (10_000, "t1", 7.0)],
                                 "k long, g string, x double")


def _expected(df):
    return sorted(tuple(r) for r in df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("total"),
        F.max("x").alias("mx")).collect())


@pytest.fixture(scope="module")
def upper_g():
    REGISTRY.transforms.pop("floor_upper_g", None)

    @REGISTRY.transform("floor_upper_g", new_key_cols=("k",))
    def _upper(df):
        return df.select("k", F.upper("g").alias("g"), "x",
                         *(["__messdb_ord"] if "__messdb_ord" in df.columns
                           else []))
    return "floor_upper_g"


def _refresh(spark, eng, ref, transform):
    agg = incremental_agg_view(spark, eng.objects, eng.memo, ref,
                               "floor_by_g", ["g"], _aggs())
    agg_hash = eng.save_table("by_g", agg)
    mapped = incremental_map_view(spark, eng.objects, eng.memo, ref,
                                  transform)
    eng.save_bucketed_table("upper", mapped)
    return agg_hash


def test_noop_refresh_launches_no_job(spark, tmp_path, upper_g):
    eng = Engine(spark, str(tmp_path / "wh"))
    ref = write_bucketed(eng.objects, KeyedTable(_events(spark), ("k",)), 4)
    eng.save_bucketed_table("events", ref)
    _refresh(spark, eng, ref, upper_g)
    ref = incremental_upsert(spark, eng.objects, ref, _delta(spark))
    eng.save_bucketed_table("events", ref)
    _refresh(spark, eng, ref, upper_g)

    with spark_jobs(spark) as jobs:
        _refresh(spark, eng, ref, upper_g)
    assert jobs == [], f"no-op refresh launched jobs {jobs}"


def test_touched_bucket_discovery_is_one_aggregation(spark):
    delta = _delta(spark)
    deletes = spark.createDataFrame([(5,), (6,), (5,)], "k long")
    with spark_jobs(spark) as jobs:
        got = touched_buckets(delta, deletes, ("k",), 8)
    assert len(jobs) <= 2, f"touched-bucket discovery launched {jobs}"
    keys = delta.select("k").union(deletes.select("k"))
    want = {r["b"] for r in keys.select(
        F.pmod(F.xxhash64("k"), F.lit(8)).alias("b")).collect()}
    assert got == sorted(want)


@pytest.mark.parametrize("name,rows,schema", _CASES,
                         ids=[c[0] for c in _CASES])
def test_load_of_written_object_launches_no_job(spark, tmp_path, name,
                                                rows, schema):
    store = ObjectStore(str(tmp_path / "wh"))
    h = store.put(spark.createDataFrame(rows, schema), table_content_hash)
    with spark_jobs(spark) as jobs:
        known = store.load(spark, h)
    assert jobs == [], f"{name}: load launched jobs {jobs}"
    inferred = spark.read.parquet(store.path(h))

    def fields(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]
    assert fields(known) == fields(inferred), name
    assert sorted(map(repr, known.collect())) == \
        sorted(map(repr, inferred.collect())), name


def test_combine_memo_hits_and_matches_groupby(spark, tmp_path):
    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    base = _events(spark)
    ref = write_bucketed(eng.objects, KeyedTable(base, ("k",)), 4)
    incremental_agg_view(spark, eng.objects, eng.memo, ref, "floor_by_g",
                         ["g"], _aggs())
    delta = _delta(spark)
    ref = incremental_upsert(spark, eng.objects, ref, delta)
    view = incremental_agg_view(spark, eng.objects, eng.memo, ref,
                                "floor_by_g", ["g"], _aggs())
    final = base.join(delta.select("k"), "k", "left_anti").unionByName(delta)
    assert sorted(tuple(r) for r in view.df.select("g", "n", "total", "mx").collect()) \
        == _expected(final)
    assert view.table_hash == table_content_hash(view.df)

    saves, misses = eng.objects.saves, eng.memo.misses
    again = incremental_agg_view(spark, eng.objects, eng.memo, ref,
                                 "floor_by_g", ["g"], _aggs())
    assert again.table_hash == view.table_hash
    assert (eng.objects.saves, eng.memo.misses) == (saves, misses)

    fresh = Engine(spark, wh)
    hits = fresh.memo.hits
    reopened = incremental_agg_view(spark, fresh.objects, fresh.memo, ref,
                                    "floor_by_g", ["g"], _aggs())
    assert reopened.table_hash == view.table_hash
    assert fresh.memo.misses == 0 and fresh.objects.saves == 0
    # every non-empty partial plus the combine
    n_partials = sum(1 for h in ref.bucket_hashes if h != EMPTY)
    assert fresh.memo.hits - hits == n_partials + 1

"""The benchmark's workloads: a bucketed base table with views over it,
a seeded stream of deltas, and a from-scratch rebuild that checks the
maintained state.

``trickle_refresh`` applies small deltas aimed at a few hot buckets, so
most per-bucket view partials are memo hits. ``churn_rebuild`` touches
every bucket with every delta, so the memo misses and writes are
proportional to data. Both run the same engine code: upsert, bucketed
commit, per-bucket view refresh, catalog commits.
"""

from __future__ import annotations

import os
import time

import numpy as np
import messdb_spark.queries.engine_ops  # noqa: F401 — registers events_enrich
from messdb_spark.engine import Engine
from messdb_spark.operators.core import KeyedTable
# called through the module so a traced run's wrappers see the calls
from messdb_spark.plans import incremental
from pyspark.sql import functions as F

import inputs
from ledger import tree_bytes

#: pre-generated deltas per run; a run applies as many as fit in
#: ``--seconds``
MAX_BATCHES = 24
#: timed deltas a run applies however short ``--seconds`` is
MIN_DELTAS = 2
#: set-ups per run (input generation plus a from-scratch build in a
#: fresh warehouse); ``setup_s`` is their median
SETUPS = 3
#: base rows of the small copy of the workload that warms the JVM
#: before the first set-up
WARMUP_ROWS = 2_000


def _cents(col: str):
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


class RefreshWorkload:
    """Base table ``base_name`` keyed by ``key_cols`` in ``n_buckets``
    hash buckets, plus the views ``refresh_views`` maintains."""

    name: str
    base_name: str
    key_cols: tuple[str, ...]
    n_buckets: int
    n_rows: int

    def __init__(self, spark, work: str, seed: int, ledger) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ledger = ledger
        self.inputs_dir = os.path.join(work, "inputs")
        self.batches: list[inputs.Batch] = []
        self.batch_info: list[dict] = []

    # -- inputs ----------------------------------------------------------
    def generate(self) -> None:
        """Base table and every delta from the seed, written to parquet."""
        rng = np.random.default_rng(self.seed)
        self.base = self.make_base(rng)
        self.batches = self.make_batches(rng, self.base)
        os.makedirs(self.inputs_dir, exist_ok=True)
        self.base.to_parquet(self._path("base"), index=False)
        self.batch_info = []
        for i, b in enumerate(self.batches):
            b.upserts.to_parquet(self._path(f"up{i}"), index=False)
            b.deletes.to_parquet(self._path(f"del{i}"), index=False)
            self.batch_info.append({"rows": b.rows,
                                    "upserts": len(b.upserts),
                                    "deletes": len(b.deletes),
                                    "sha256": b.content_hash()})

    def _path(self, name: str) -> str:
        return os.path.join(self.inputs_dir, f"{name}.parquet")

    # -- engine ops --------------------------------------------------------
    def build(self, eng, parquet: str):
        """From-scratch build: bucketed base table, commit, every view."""
        df = self.spark.read.parquet(parquet)
        ref = incremental.write_bucketed(
            eng.objects, KeyedTable(df, self.key_cols), self.n_buckets)
        eng.save_bucketed_table(self.base_name, ref)
        self.create_views(eng, ref)
        return ref

    def apply_batch(self, eng, ref, i: int):
        """One delta: upsert, commit the base table, refresh every view."""
        up = self.spark.read.parquet(self._path(f"up{i}"))
        dele = self.spark.read.parquet(self._path(f"del{i}"))
        ref = incremental.incremental_upsert(self.spark, eng.objects, ref, up,
                                             dele)
        eng.save_bucketed_table(self.base_name, ref)
        self.refresh_views(eng, ref)
        return ref

    def create_views(self, eng, ref) -> None:
        self.refresh_views(eng, ref)

    def view(self, name: str):
        """Span around one view refresh, including the commit that
        forces its lazy result."""
        return self.ledger.span("plans", f"view_refresh:{name}")

    # -- checks --------------------------------------------------------------
    def view_names(self) -> list[str]:
        raise NotImplementedError

    def expected(self, final):
        """{view name: DataFrame} computed by plain Spark over the
        final-state parquet, for the views small enough to compare row by
        row."""
        raise NotImplementedError


class TrickleRefresh(RefreshWorkload):
    name = "trickle_refresh"
    base_name = "events"
    key_cols = ("event_id",)
    n_buckets = 8
    n_rows = 20_000

    def make_base(self, rng):
        return inputs.events(rng, self.n_rows)

    def make_batches(self, rng, base):
        return inputs.trickle_batches(rng, base, MAX_BATCHES, self.n_buckets)

    def aggs(self):
        return {"n": ("count", F.count(F.lit(1))),
                "cents": ("sum", F.sum(_cents("value"))),
                "max_value": ("max", F.max("value"))}

    def refresh_views(self, eng, ref) -> None:
        spark = self.spark
        with self.view("events_by_type"):
            agg = incremental.incremental_agg_view(
                spark, eng.objects, eng.memo, ref, "perfbench_events_by_type",
                ["event_type"], self.aggs())
            eng.save_table("events_by_type", agg)
        with self.view("events_enrich"):
            enriched = incremental.incremental_map_view(
                spark, eng.objects, eng.memo, ref, "events_enrich")
            eng.save_bucketed_table("events_enrich", enriched)

    def view_names(self):
        return ["events", "events_by_type", "events_enrich"]

    def expected(self, final):
        rows = (final.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(_cents("value")).alias("cents"),
                     F.max("value").alias("max_value")))
        return {"events_by_type": rows}


class ChurnRebuild(RefreshWorkload):
    name = "churn_rebuild"
    base_name = "lineitem"
    key_cols = ("l_orderkey", "l_linenumber")
    n_buckets = 8
    n_rows = 40_000
    MV_SQL = ("SELECT l_returnflag, n, quantity, cents, "
              "cents DIV n AS avg_cents FROM lineitem_by_flag")

    def make_base(self, rng):
        return inputs.lineitem(rng, self.n_rows)

    def make_batches(self, rng, base):
        return inputs.churn_batches(rng, base, MAX_BATCHES)

    def aggs(self):
        return {"n": ("count", F.count(F.lit(1))),
                "quantity": ("sum", F.sum(F.col("l_quantity").cast("long"))),
                "cents": ("sum", F.sum(_cents("l_extendedprice")))}

    def _agg_view(self, eng, ref) -> None:
        agg = incremental.incremental_agg_view(
            self.spark, eng.objects, eng.memo, ref, "perfbench_lineitem_by_flag",
            ["l_returnflag"], self.aggs())
        eng.save_table("lineitem_by_flag", agg)

    def create_views(self, eng, ref) -> None:
        self._agg_view(eng, ref)
        eng.create_materialized_view("flag_summary", self.MV_SQL)

    def refresh_views(self, eng, ref) -> None:
        with self.view("lineitem_by_flag"):
            self._agg_view(eng, ref)
        with self.view("flag_summary"):
            eng.refresh_materialized_view("flag_summary")

    def view_names(self):
        return ["lineitem", "lineitem_by_flag", "flag_summary"]

    def expected(self, final):
        agg = (final.groupBy("l_returnflag")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("l_quantity").cast("long")).alias("quantity"),
                    F.sum(_cents("l_extendedprice")).alias("cents")))
        return {"lineitem_by_flag": agg,
                "flag_summary": agg.withColumn(
                    "avg_cents", F.expr("cents DIV n"))}


WORKLOADS = {w.name: w for w in (TrickleRefresh, ChurnRebuild)}


def warm_up(w: RefreshWorkload) -> None:
    """Build a ``WARMUP_ROWS`` copy of the workload and apply one delta
    in a scratch warehouse. The JVM compiles the build and delta code
    paths here, so the set-ups and timed deltas that follow run on a
    warm JVM rather than on one that is still compiling."""
    small = type(w)(w.spark, os.path.join(w.work, "warmup"), w.seed,
                    w.ledger)
    small.n_rows = WARMUP_ROWS
    small.generate()
    eng = Engine(small.spark, os.path.join(small.work, "wh"))
    ref = small.build(eng, small._path("base"))
    small.apply_batch(eng, ref, 0)


def run(workload: RefreshWorkload, seconds: float) -> dict:
    """Warm up, set up ``SETUPS`` times, then alternate a timed delta
    refresh and two no-op refreshes until ``seconds`` have passed and at
    least ``MIN_DELTAS`` deltas ran, stopping after an even number of
    deltas; then rebuild the final state from scratch and check it.
    Returns raw measurements; ``run.py`` turns them into metrics."""
    w = workload
    t0 = time.perf_counter()
    warm_up(w)
    warmup_s = time.perf_counter() - t0
    setup_s = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        w.generate()
        eng = Engine(w.spark, os.path.join(w.work, f"wh{k}"))
        ref = w.build(eng, w._path("base"))
        setup_s.append(time.perf_counter() - t0)
    initial_bytes = _objects_bytes(eng)
    model = inputs.Model(w.base, w.key_cols)

    if w.ledger.trace:
        w.ledger.install()
    refresh, noop, rows, touched = [], [], 0, []
    space_amp = None
    i = 0
    t_start = time.perf_counter()
    try:
        # an even number of deltas carries the same number of rows
        # whatever the seed (inputs._size_schedule)
        while i < len(w.batches) and (
                len(refresh) < MIN_DELTAS or len(refresh) % 2
                or time.perf_counter() - t_start < seconds):
            before = ref
            with w.ledger.op("refresh", eng, batch=i,
                             **w.batch_info[i]) as rec:
                ref = w.apply_batch(eng, ref, i)
            n_touched = sum(a != b for a, b in zip(before.bucket_hashes,
                                                    ref.bucket_hashes))
            rec["buckets_touched"] = n_touched
            touched.append(n_touched)
            refresh.append(rec["wall_s"])
            rows += w.batches[i].rows
            model.apply(w.batches[i])
            for _ in range(2):
                with w.ledger.op("noop", eng) as rec:
                    w.refresh_views(eng, ref)
                noop.append(rec["wall_s"])
            if len(refresh) == MIN_DELTAS:
                space_amp = _objects_bytes(eng) / initial_bytes
            i += 1
    finally:
        w.ledger.uninstall()

    # independent check: plain pandas final state -> fresh warehouse
    # with an empty memo -> compare every catalog hash; then the small
    # views row by row against plain Spark over the same parquet
    final_path = w._path("final")
    model.frame().to_parquet(final_path, index=False)
    fresh = Engine(w.spark, os.path.join(w.work, "fresh"))
    t0 = time.perf_counter()
    w.build(fresh, final_path)
    build_s = time.perf_counter() - t0
    checks = {n: eng.table_hash(n) == fresh.table_hash(n)
              for n in w.view_names()}
    final = w.spark.read.parquet(final_path)
    for name, exp in w.expected(final).items():
        got = eng.load_table(name).df
        checks[f"{name}=spark"] = (sorted(map(tuple, got.select(*exp.columns)
                                               .collect()))
                                   == sorted(map(tuple, exp.collect())))
    return {"warmup_s": warmup_s, "setup_s": setup_s, "refresh_s": refresh,
            "noop_s": noop, "delta_rows": rows, "build_s": build_s,
            "space_amp": space_amp, "buckets_touched": touched,
            "checks": checks, "batches_applied": i}


def _objects_bytes(eng) -> int:
    return tree_bytes(eng.objects.objects_dir)

"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import run  # noqa: E402
from ledger import TARGETS, Ledger, _resolve  # noqa: E402


def _batch_hashes(seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    base = inputs.events(rng, 2_000)
    out = [inputs.Batch(base, base[["event_id"]]).content_hash()]
    out += [b.content_hash()
            for b in inputs.trickle_batches(rng, base, 6, 16)]
    rng = np.random.default_rng(seed)
    base = inputs.lineitem(rng, 4_000)
    out += [b.content_hash() for b in inputs.churn_batches(rng, base, 3)]
    return out


def test_generator_is_deterministic():
    assert _batch_hashes(7) == _batch_hashes(7)
    assert _batch_hashes(7) != _batch_hashes(8)


def test_trickle_deltas_touch_fixed_bucket_count():
    rng = np.random.default_rng(3)
    base = inputs.events(rng, 2_000)
    for b in inputs.trickle_batches(rng, base, 10, 16):
        keys = np.concatenate([b.upserts["event_id"], b.deletes["event_id"]])
        assert len(set(inputs.spark_bucket_of_long(keys, 16))) == 2
        assert len(b.deletes) == max(1, b.rows // 8)


def test_model_applies_upserts_and_deletes():
    base = inputs.events(np.random.default_rng(1), 10)
    m = inputs.Model(base, ("event_id",))
    up = base.iloc[[2]].assign(value=1.5)
    m.apply(inputs.Batch(up, base.iloc[[3]][["event_id"]]))
    f = m.frame().set_index("event_id")
    assert 3 not in f.index and f.loc[2, "value"] == 1.5 and len(f) == 9


def test_every_listed_metric_is_computed():
    end_to_end, per_layer = run.listed_metrics(ROOT)
    raw = {"setup_s": [3.0, 2.0, 2.5], "refresh_s": [1.0, 2.0],
           "noop_s": [0.5] * 4, "delta_rows": 60,
           "space_amp": 1.5, "checks": {"events": True}}
    e2e = run.end_to_end_metrics(raw)
    assert [m["name"] for m in end_to_end] == list(e2e)
    assert e2e["setup_s"] == 2.5 and e2e["ok_frac"] == 1.0

    counters = dict.fromkeys(["saves", "save_skips", "loads", "memo_hits",
                              "memo_misses", "bytes"], 1)
    ops = [{"op": 0, "kind": "refresh", "wall_s": 2.0, "counters": counters,
            "memo_entries": 3, "buckets_touched": 2,
            "jobs": [{"stages": 1, "tasks": 4, "t0": 0.0, "t1": 1.0}]},
           {"op": 1, "kind": "noop", "wall_s": 0.5, "jobs": []}]
    spans = [("store.put", "store", 0, None, 0.0, 0.5)]
    layers = run.layer_metrics(types.SimpleNamespace(ops=ops, spans=spans), 8)
    layers["session.peak_rss_mb"] = 1.0
    assert sorted(m["name"] for m in per_layer) == sorted(layers)


def test_wrappers_restore_the_original_functions():
    import messdb_spark.engine  # noqa: F401 — loads every target module
    import messdb_spark.plans.range_layout  # noqa: F401

    def snapshot():
        out = {}
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("messdb_spark") and mod is not None:
                out.update({(mod_name, k): v for k, v in vars(mod).items()})
        for _layer, path, attr in TARGETS:
            owner = _resolve(path)
            out[(path, attr)] = owner.__dict__.get(attr)
        return out

    before = snapshot()
    ledger = Ledger(types.SimpleNamespace(sparkContext=None), trace=True)
    ledger.install()
    assert snapshot() != before
    ledger.uninstall()
    after = snapshot()
    assert after.keys() == before.keys()
    assert all(after[k] is before[k] for k in before)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "trickle_refresh", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0 and p.stdout.strip() == ""


# -- Spark-backed tests -----------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work, 2)
    from messdb_spark.session import get_spark
    s = get_spark("perfbench-test")
    yield s
    run.stop_spark(s)


def test_bucket_function_matches_spark(spark):
    from pyspark.sql import functions as F
    keys = np.array([0, 1, -1, 42, 2**40 + 7, -(2**62), 2**63 - 1],
                    dtype=np.int64)
    got = (spark.createDataFrame([(int(k),) for k in keys], "k long")
           .select(F.pmod(F.xxhash64("k"), F.lit(16)).alias("b"))
           .toPandas()["b"].tolist())
    assert got == inputs.spark_bucket_of_long(keys, 16).tolist()


def _op_jobs(spark, work, trace: bool) -> list[tuple[int, int]]:
    """Build a small trickle_refresh state, time one delta and one
    no-op refresh under the ledger; return (jobs, stages) per op."""
    import workloads

    class Small(workloads.TrickleRefresh):
        n_rows = 2_000

    ledger = Ledger(spark, trace=trace)
    w = Small(spark, work, seed=5, ledger=ledger)
    w.generate()
    eng = workloads.Engine(spark, os.path.join(work, "wh"))
    ref = w.build(eng, w._path("base"))
    ref = w.apply_batch(eng, ref, 0)
    if trace:
        ledger.install()
    try:
        with ledger.op("refresh", eng):
            ref = w.apply_batch(eng, ref, 1)
        with ledger.op("noop", eng):
            w.refresh_views(eng, ref)
    finally:
        ledger.uninstall()
    if trace:
        assert ledger.spans and all(s is not None for s in ledger.spans)
    return [(len(r["jobs"]), sum(j["stages"] for j in r["jobs"]))
            for r in ledger.ops]


def test_ledger_launches_no_spark_jobs(spark, tmp_path):
    untraced = _op_jobs(spark, str(tmp_path / "a"), trace=False)
    traced = _op_jobs(spark, str(tmp_path / "b"), trace=True)
    assert untraced == traced
    assert all(jobs > 0 for jobs, _ in untraced)

"""Per-operation ledger: Spark jobs per timed op, and (traced runs only)
spans around the engine's public functions.

Every timed op runs under its own Spark job group. After the op has
been timed, the ledger waits for the listener bus to drain and reads
the group's jobs from the status store: job, stage and task counts and
the job intervals. This is driver-side bookkeeping only; it launches no
Spark job, so untraced runs keep it and traced and untraced runs can be
compared op by op.

A traced run also wraps the engine's public functions. Each call
appends a span (name, layer, op id, parent span, start, end) to an
in-memory list; nothing is written until the run ends. ``uninstall``
puts every original function back.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
import uuid

# (layer, module or class path, attribute). Spans are named
# "<layer>.<attribute>". A target missing from the engine is skipped,
# so a refactor that removes one costs that span, not the run.
TARGETS = [
    ("store", "messdb_spark.store:ObjectStore", "put"),
    ("store", "messdb_spark.store:ObjectStore", "save"),
    ("store", "messdb_spark.store:ObjectStore", "load"),
    ("store", "messdb_spark.store:ObjectStore", "load_many"),
    ("store", "messdb_spark.store:ObjectStore", "exists"),
    ("memo", "messdb_spark.store:MemoStore", "get"),
    ("memo", "messdb_spark.store:MemoStore", "put"),
    ("memo", "messdb_spark.store:MemoStore", "put_many"),
    ("catalog", "messdb_spark.store:Catalog", "put"),
    ("catalog", "messdb_spark.store:Catalog", "put_many"),
    ("catalog", "messdb_spark.store:Catalog", "get"),
    ("plans", "messdb_spark.plans.incremental", "write_bucketed"),
    ("plans", "messdb_spark.plans.incremental", "_write_tagged_buckets"),
    ("plans", "messdb_spark.plans.incremental", "incremental_upsert"),
    ("plans", "messdb_spark.plans.incremental", "incremental_agg_view"),
    ("plans", "messdb_spark.plans.incremental", "incremental_map_view"),
    ("plans", "messdb_spark.plans.incremental", "incremental_sort_view"),
    ("plans", "messdb_spark.plans.views:Materializer", "materialize"),
    ("plans", "messdb_spark.plans.range_layout", "range_filter_bucketed"),
    ("hashing", "messdb_spark.hashing", "table_content_hash"),
    ("hashing", "messdb_spark.hashing", "observed_content_hash"),
    ("hashing", "messdb_spark.hashing", "observed_bucket_hashes"),
    ("hashing", "messdb_spark.hashing", "bucket_content_hashes"),
    ("engine", "messdb_spark.engine:Engine", "sql"),
    ("engine", "messdb_spark.engine:Engine", "load_table"),
    ("engine", "messdb_spark.engine:Engine", "save_table"),
    ("engine", "messdb_spark.engine:Engine", "save_bucketed_table"),
    ("engine", "messdb_spark.engine:Engine", "refresh_materialized_view"),
    ("operators", "messdb_spark.operators.core", "merge_tables"),
    ("operators", "messdb_spark.operators.core", "sort_table"),
    ("operators", "messdb_spark.operators.core", "range_filter"),
    ("operators", "messdb_spark.operators.core", "canonicalize_input"),
]


def _resolve(path: str):
    mod_name, _, cls_name = path.partition(":")
    mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
    return getattr(mod, cls_name) if cls_name else mod


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(FileNotFoundError):
                total += os.path.getsize(os.path.join(root, f))
    return total


class Ledger:
    def __init__(self, spark, trace: bool) -> None:
        self.sc = spark.sparkContext
        self.trace = trace
        self.ops: list[dict] = []
        self.spans: list[tuple] = []   # (name, layer, op, parent, t0, t1)
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple] = []   # (owner, attr, original)
        # job groups outlive the ledger in the status store: keep names
        # unique per ledger so two ledgers in one session never share one
        self._group_prefix = f"perfbench-{uuid.uuid4().hex[:8]}"

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """Record one span inside the current op (no-op outside an op or
        in an untraced run)."""
        if not self.trace or self._op is None:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[idx] = (f"{layer}.{name}", layer, self._op, parent,
                               t0, time.perf_counter())
            self._stack.pop()

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        """Wrap every target, in its defining module or class and in
        every ``messdb_spark`` module that imported it by name."""
        wrapped = {}
        for layer, path, attr in TARGETS:
            owner = _resolve(path)
            fn = owner.__dict__.get(attr)
            if fn is None:
                continue
            w = self._wrap(layer, attr, fn)
            wrapped[id(fn)] = w
            self._patches.append((owner, attr, fn))
            setattr(owner, attr, w)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("messdb_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None and not isinstance(val, type):
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, w)
        # store.put reaches the digest through the hash function's
        # ``observed`` attribute, which functools.wraps copied unwrapped
        for w in wrapped.values():
            obs = getattr(w, "observed", None)
            if obs is not None and id(obs) in wrapped:
                w.observed = wrapped[id(obs)]

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- ops -----------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str, eng=None, **info):
        """Time one op under its own job group. The record is complete
        (jobs included) when the ``with`` block exits."""
        op_id = len(self.ops)
        group = f"{self._group_prefix}-{op_id}"
        rec = {"op": op_id, "kind": kind, **info}
        before = self._counters(eng) if self.trace else None
        self.sc.setJobGroup(group, f"perfbench {kind} #{op_id}")
        self._op = op_id
        rec["t0"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self._op = None
            self.sc._jsc.clearJobGroup()
            rec["jobs"] = self._jobs(group)
            if before is not None:
                after = self._counters(eng)
                rec["counters"] = {k: after[k] - before[k] for k in after}
                rec["memo_entries"] = after["memo_entries"]
            self.ops.append(rec)

    @staticmethod
    def _counters(eng) -> dict:
        o, m = eng.objects, eng.memo
        return {"saves": o.saves, "save_skips": o.save_skips,
                "loads": o.loads, "memo_hits": m.hits,
                "memo_misses": m.misses, "memo_entries": len(m._cache),
                "bytes": tree_bytes(o.objects_dir)}

    def _jobs(self, group: str) -> list[dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs = []
        for jid in ids:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            jobs.append({
                "id": jid,
                "stages": jd.stageIds().size() - jd.numSkippedStages(),
                "tasks": jd.numCompletedTasks(),
                "t0": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "t1": done.get().getTime() / 1000 if done.isDefined()
                else None})
        return jobs

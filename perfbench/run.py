"""perfbench: end-to-end and per-layer benchmark of incremental refresh.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload trickle_refresh --seed 1 \\
        --seconds 6 --trace 0

It builds the engine's state from seeded inputs on ``local[N]`` (N =
usable cores), drives one closed-loop client for ``--seconds``, checks
the result against an independent rebuild, and prints one JSON object
as the last line of stdout: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full ledger (ops, Spark
jobs, spans, inputs) goes to ``.perfbench_work/ledger/``. Everything
else it writes lives under ``.perfbench_work/`` and is removed at exit.
Exit status: 0 when every check passed, 1 when a check failed (the
JSON is still printed), 2 when the engine is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

LAYERS = ("store", "memo", "catalog", "plans", "hashing", "engine",
          "operators")


def listed_metrics(root: str) -> tuple[list, list]:
    """(end-to-end, per-layer) metric specs from ``BENCHMARK.json``."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    tempfile.tempdir = None         # re-read TMPDIR
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.local.dir={local}"),
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell"]),
    })


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> int:
    """Stop the session and its JVM, wait for the JVM to exit, and
    return the JVM's peak RSS in KiB."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return jvm_kb


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_layer_values(rec: dict, spans: list, n_buckets: int) -> dict:
    """Per-layer values of one traced refresh op."""
    mine = [(i, s) for i, s in enumerate(spans) if s and s[2] == rec["op"]]
    dur, calls, self_s = {}, {}, dict.fromkeys(LAYERS, 0.0)
    child_s: dict[int, float] = {}
    for i, (name, layer, _op, parent, t0, t1) in mine:
        if parent is not None:
            child_s[parent] = child_s.get(parent, 0.0) + (t1 - t0)
    top_of_layer = dict.fromkeys(LAYERS, 0.0)
    for i, (name, layer, _op, parent, t0, t1) in mine:
        key = name.split(":")[0]
        dur[key] = dur.get(key, 0.0) + (t1 - t0)
        calls[key] = calls.get(key, 0) + 1
        self_s[layer] += (t1 - t0) - child_s.get(i, 0.0)
        if parent is None or spans[parent][1] != layer:
            top_of_layer[layer] += t1 - t0
    jobs = rec["jobs"]
    busy = _union_s((j["t0"], j["t1"]) for j in jobs
                    if j["t0"] is not None and j["t1"] is not None)
    c = rec["counters"]
    stored = c["saves"] + c["save_skips"]
    probes = c["memo_hits"] + c["memo_misses"]

    def d(n):
        return dur.get(n, 0.0)

    def k(n):
        return calls.get(n, 0)

    out = {
        "session.jobs_per_op": len(jobs),
        "session.stages_per_op": sum(j["stages"] for j in jobs),
        "session.tasks_per_op": sum(j["tasks"] for j in jobs),
        "session.job_busy_s": busy,
        "session.driver_gap_s": rec["wall_s"] - busy,
        "store.put_calls": k("store.put"),
        "store.put_s": d("store.put"),
        "store.saves": c["saves"],
        "store.save_skips": c["save_skips"],
        "store.skip_ratio": c["save_skips"] / stored if stored else 0.0,
        "store.loads": c["loads"],
        "store.exists_calls": k("store.exists"),
        "store.bytes_written": c["bytes"],
        "memo.gets": k("memo.get"),
        "memo.hit_ratio": c["memo_hits"] / probes if probes else 0.0,
        "memo.put_calls": k("memo.put") + k("memo.put_many"),
        "memo.put_s": d("memo.put") + d("memo.put_many"),
        "memo.entries": rec["memo_entries"],
        "catalog.commits": k("catalog.put") + k("catalog.put_many"),
        "catalog.commit_s": d("catalog.put") + d("catalog.put_many"),
        "plans.upsert_s": d("plans.incremental_upsert"),
        "plans.view_refresh_s": d("plans.view_refresh"),
        "plans.bucket_write_s": d("plans._write_tagged_buckets"),
        "plans.buckets_touched": rec["buckets_touched"],
        "plans.touched_ratio": rec["buckets_touched"] / n_buckets,
        "hashing.calls": sum(v for n, v in calls.items()
                             if n.startswith("hashing.")),
        "hashing.s": top_of_layer["hashing"],
        "engine.save_s": d("engine.save_table") + d("engine.save_bucketed_table"),
        "engine.mv_refresh_s": d("engine.refresh_materialized_view"),
        "engine.s": top_of_layer["engine"],
        "operators.plan_s": top_of_layer["operators"],
        "trace.spans_per_op": len(mine),
    }
    out.update({f"{layer}.self_s": v for layer, v in self_s.items()})
    return out


def layer_metrics(ledger, n_buckets: int) -> dict:
    refresh = [r for r in ledger.ops if r["kind"] == "refresh"]
    noop = [r for r in ledger.ops if r["kind"] == "noop"]
    per_op = [op_layer_values(r, ledger.spans, n_buckets) for r in refresh]
    out = {name: statistics.median(v[name] for v in per_op)
           for name in per_op[0]}
    out["session.noop_jobs_per_op"] = statistics.median(
        len(r["jobs"]) for r in noop)
    out["trace.refresh_p50_s"] = statistics.median(r["wall_s"] for r in refresh)
    return out


def end_to_end_metrics(raw: dict) -> dict:
    failed = sum(not ok for ok in raw["checks"].values())
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "refresh_p50_s": statistics.median(raw["refresh_s"]),
        "delta_rows_per_s": (raw["delta_rows"]
                             / (sum(raw["refresh_s"]) + sum(raw["noop_s"]))),
        "noop_refresh_p50_s": statistics.median(raw["noop_s"]),
        "space_amp": raw["space_amp"],
        "ok_frac": 1 - failed / attempted_ops(raw),
    }


def attempted_ops(raw: dict) -> int:
    return len(raw["refresh_s"]) + len(raw["noop_s"]) + len(raw["checks"])


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import messdb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    end_to_end, per_layer = listed_metrics(root)

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}"
                              f"-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    configure_env(work, cores)
    load_start = os.getloadavg()

    from ledger import Ledger
    from messdb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        ledger = Ledger(spark, trace=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, ledger)
        raw = workloads.run(wl, args.seconds)
        layers = layer_metrics(ledger, wl.n_buckets) if args.trace else None
    finally:
        jvm_kb = stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    failed = sum(not ok for ok in raw["checks"].values())
    attempted = attempted_ops(raw)
    e2e = end_to_end_metrics(raw)
    if layers is not None:
        layers["session.peak_rss_mb"] = (py_kb + jvm_kb) / 1024
    # a listed metric that is not computed fails the run here
    values, listed = (layers, per_layer) if args.trace else (e2e, end_to_end)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed}

    os.makedirs(os.path.join(base, "ledger"), exist_ok=True)
    with open(os.path.join(base, "ledger", os.path.basename(work) + ".json"),
              "w") as f:
        json.dump({"args": vars(args), "cores": cores,
                   "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                   "session_s": session_s, "raw": raw,
                   "inputs": wl.batch_info[:raw["batches_applied"]],
                   "end_to_end": e2e, "per_layer": layers, "ops": ledger.ops,
                   "spans": ledger.spans}, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

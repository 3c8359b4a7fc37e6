"""Content-addressed object store + memo manifest + catalog root.

Re-expression of the reference's three storage interfaces
(``/root/reference/messdb-base/src/MessDB/Store.hs:28-37``,
``messdb-repo/src/MessDB/Repo.hs:75-77``):

- ``Store``      → ``<warehouse>/objects/<table_hash>/`` parquet dirs,
                   write-once (a save to an existing hash is a no-op,
                   mirroring ``Store/File.hs:16-23``).
- ``MemoStore``  → ``<warehouse>/memo.json``: op-digest → table-hash
                   (the op-hash cache of ``Trie.hs:280-295``).
- ``RepoStore``  → ``<warehouse>/root.json``: the single mutable cell —
                   catalog name → {table_hash, schema, key_cols};
                   atomic tmp+rename swap (``Repo.hs:85-98``).

Local filesystem here; on a cluster the same layout lives on object
storage (S3/HDFS) — parquet dirs are already the cloud-native unit, and
the two small JSON manifests would move to a transactional KV (the
reference itself uses sqlite for exactly this role).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def _atomic_write_json(path: str, obj) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX — the root-pointer swap


def _read_json(path: str, default):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


class GcBusyError(RuntimeError):
    """GC refused: a writer lease is active (an in-flight stage-write
    whose object no root references yet could be swept)."""


class ObjectStore:
    """Write-once CAS of parquet tables keyed by content hash.

    ``compression`` is the S5 ZlibStore analog
    (``messdb-store-zlib/src/MessDB/Store/Zlib.hs:11-13``): a codec
    wrapped around the same store contract — here parquet's native
    snappy/zstd/gzip instead of a zlib byte-wrapper."""

    def __init__(self, warehouse: str, compression: str = "snappy") -> None:
        self.warehouse = warehouse
        self.objects_dir = os.path.join(warehouse, "objects")
        os.makedirs(self.objects_dir, exist_ok=True)
        self.compression = compression
        self.saves = 0          # StatStore-style counters (Store/Stat.hs)
        self.save_skips = 0
        self.loads = 0
        # hash → StructType, filled on write and on the first inferred
        # load. A content hash covers every column's (name, type)
        # (hashing.schema_fingerprint), so an entry never goes stale,
        # and a read with a known schema skips Spark's footer-reading
        # job.
        self.schemas: dict = {}

    # -- writer leases (GC safety) -------------------------------------
    #: writers treat a gc sweep gate older than this as a crashed gc
    SWEEP_GATE_STALE = 120.0
    #: emit one stderr line after waiting this long on the sweep gate
    LEASE_WAIT_WARN = 5.0
    #: gate heartbeat period while a sweep runs (< SWEEP_GATE_STALE)
    SWEEP_HEARTBEAT = 30.0

    def _sweep_gate_path(self) -> str:
        return os.path.join(self.warehouse, "gc.sweep.lock")

    def sweep_gate_active(self) -> bool:
        """Is a gc sweep phase in progress? (Engine.gc raises the gate
        before its final pre-sweep re-checks and touches it while
        sweeping; a gate older than ``SWEEP_GATE_STALE`` is a crashed
        gc and is ignored.)"""
        import time
        try:
            return (time.time() - os.path.getmtime(self._sweep_gate_path())
                    < self.SWEEP_GATE_STALE)
        except OSError:
            return False

    def raise_sweep_gate(self) -> None:
        with open(self._sweep_gate_path(), "w") as f:
            f.write(str(os.getpid()))

    def touch_sweep_gate(self) -> None:
        try:
            os.utime(self._sweep_gate_path())
        except OSError:
            pass

    def lower_sweep_gate(self) -> None:
        try:
            os.remove(self._sweep_gate_path())
        except OSError:
            pass

    def sweep_gate_heartbeat(self):
        """Context manager: a daemon thread re-touches the sweep gate
        every 30 s for the duration of the sweep. Without it, gate
        freshness depended on ``Engine.gc`` touching the gate once per
        swept entry — a single rmtree of one multi-GiB object that
        outlasts ``SWEEP_GATE_STALE`` (120 s) would let waiting writers
        classify the gate as a crashed gc and proceed MID-sweep,
        reopening the dedup'd-reference window for objects later in the
        sweep snapshot (ADVICE r9). Same pattern as the 30 s lease
        heartbeat."""
        import contextlib
        import threading

        @contextlib.contextmanager
        def _ctx():
            stop = threading.Event()
            self.touch_sweep_gate()      # fresh at sweep start

            def _beat() -> None:
                while not stop.wait(self.SWEEP_HEARTBEAT):
                    self.touch_sweep_gate()

            beat = threading.Thread(target=_beat, daemon=True)
            beat.start()
            try:
                yield
            finally:
                stop.set()
        return _ctx()

    def lease(self):
        """Context manager: a writer lease held across stage-write →
        commit/registration. ``Engine.gc`` refuses to sweep while any
        live lease exists, closing the Delta-VACUUM-style window where
        a concurrent writer's just-written (but not yet
        root-referenced) object would be collected.

        Heartbeat: a daemon thread re-touches the lease file every
        30 s, so a stage-write of ANY duration stays live — without
        it, a write longer than gc's ``lease_stale_after`` would be
        reaped as a crashed writer mid-write (ADVICE r9). Crash-safe:
        a lease whose file stops being touched for ``stale_after`` is
        abandoned.

        Sweep-gate dance (lock-then-validate): the lease file is
        created FIRST, then the gc sweep gate is checked — if a sweep
        is in progress the lease is withdrawn and acquisition waits.
        Either our lease exists before gc's post-gate lease re-check
        (gc aborts), or our gate check happens after the gate went up
        (we wait) — so no writer can slip a commit (including a
        root-reference to an EXISTING dedup'd object) past a running
        sweep."""
        import contextlib
        import sys
        import threading
        import time
        import uuid

        @contextlib.contextmanager
        def _ctx():
            d = os.path.join(self.warehouse, "leases")
            os.makedirs(d, exist_ok=True)
            p = os.path.join(d, uuid.uuid4().hex + ".lease")
            waited_since = None
            warned = False
            while True:
                with open(p, "w") as f:
                    f.write(str(os.getpid()))
                if not self.sweep_gate_active():
                    break
                os.remove(p)          # withdraw; let the sweep finish
                if waited_since is None:
                    waited_since = time.monotonic()
                while self.sweep_gate_active():
                    # one observability line when a writer has been
                    # parked unusually long (stuck/slow gc sweep) — a
                    # crashed gc resolves itself via SWEEP_GATE_STALE,
                    # but until then the warehouse looks hung without
                    # this (VERDICT r9 stretch #7)
                    if (not warned and time.monotonic() - waited_since
                            > self.LEASE_WAIT_WARN):
                        warned = True
                        print(f"[messdb_spark] writer lease waiting "
                              f">{self.LEASE_WAIT_WARN:.0f}s on gc sweep "
                              f"gate {self._sweep_gate_path()}",
                              file=sys.stderr)
                    time.sleep(0.05)
            stop = threading.Event()

            def _beat() -> None:
                while not stop.wait(30.0):
                    try:
                        os.utime(p)
                    except OSError:
                        break         # released/reaped: stop beating

            beat = threading.Thread(target=_beat, daemon=True)
            beat.start()
            try:
                yield p
            finally:
                stop.set()
                try:
                    os.remove(p)
                except OSError:
                    pass
        return _ctx()

    def active_leases(self, stale_after: float = 3600.0) -> list[str]:
        """Live writer leases; files older than ``stale_after`` seconds
        are abandoned (crashed writer) and reaped in passing."""
        import time

        d = os.path.join(self.warehouse, "leases")
        if not os.path.isdir(d):
            return []
        now = time.time()
        out = []
        for f in sorted(os.listdir(d)):
            if not f.endswith(".lease"):
                continue
            p = os.path.join(d, f)
            try:
                mtime = os.path.getmtime(p)
            except OSError:
                continue                    # released between list and stat
            if now - mtime > stale_after:
                try:
                    os.remove(p)
                except OSError:
                    pass
                continue
            out.append(f)
        return out

    def path(self, table_hash: str) -> str:
        return os.path.join(self.objects_dir, table_hash)

    def exists(self, table_hash: str) -> bool:
        return os.path.exists(os.path.join(self.path(table_hash), "_SUCCESS"))

    def save(self, table_hash: str, df: DataFrame) -> str:
        """Write-once: existing hash → no job runs (``Store.hs:28-30``
        contract: the value action must not execute on a duplicate save).

        Caller-supplied-hash path: only safe when ``df`` is known
        deterministic (a re-read of stored data). For computed plans use
        :meth:`put`, which hashes the bytes it actually wrote."""
        if self.exists(table_hash):
            self.save_skips += 1
            return self.path(table_hash)
        self.saves += 1
        (df.write.mode("overwrite").option("compression", self.compression)
           .parquet(self.path(table_hash)))
        self.schemas[table_hash] = df.schema
        return self.path(table_hash)

    #: target bytes per output file for key-sorted saves; overridable
    #: per session via ``spark.messdb_spark.save.targetFileBytes``
    #: (layout tests shrink it to force multi-file objects — at 100 TB
    #: the default yields 128 MB range-disjoint files, guide §6)
    _SAVE_TARGET_BYTES = 128 * 1024 * 1024
    #: trust the optimizer estimate only while it implies at most this
    #: many files (8 GB at the default target): small estimates come
    #: from scans/checkpoints and are reliable; huge ones are usually
    #: join-bloat (a first cut trusted anything under 2^44 bytes and a
    #: MERGE INTO save with a ~1e12 B join estimate built a ~7800-
    #: partition range exchange — 2.5 s → 48 s) or Long.MaxValue
    #: sentinels from driver-local relations
    _SAVE_EST_MAX_PARTS = 64

    def _save_partitions(self, df: DataFrame) -> int:
        """File fan-out for a key-sorted save, WITHOUT running a job
        (guide §1.2/§6): size the range exchange from the optimizer's
        size estimate — one file per ~128 MB, so small frames get ONE
        file and a sample-free single-partition range exchange. The
        pre-r15 ``df.rdd.getNumPartitions()`` probe forced AQE to
        materialize every exchange in the save plan — a hidden extra
        evaluation of each content-hashed save of a join/agg plan.
        An estimate above ``_SAVE_EST_MAX_PARTS`` files is untrusted
        (join-bloat, or a Long.MaxValue sentinel from a driver-local
        relation — a trusted ~1e12 B MERGE INTO estimate once built a
        ~7800-partition range exchange), and so is a missing one: both
        get ``min(spark.sql.shuffle.partitions, _SAVE_EST_MAX_PARTS)``
        files, so a sentinel on a cluster-sized session still writes
        at most 64 sorted files. No save path evaluates its plan
        twice."""
        target = self._SAVE_TARGET_BYTES
        cap = self._SAVE_EST_MAX_PARTS
        try:
            conf = df.sparkSession.conf
            v = conf.get("spark.messdb_spark.save.targetFileBytes", None)
            if v:
                target = max(1, int(v))
            cap = min(cap, int(conf.get("spark.sql.shuffle.partitions")))
        except Exception:  # noqa: BLE001 — conf access must never fail a save
            pass
        try:
            size = int(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes())
        except Exception:  # noqa: BLE001 — private API: degrade to the cap
            size = None
        if size is not None and size >= 0:
            n = (size + target - 1) // target
            if n <= self._SAVE_EST_MAX_PARTS:
                return max(1, n)
        return max(1, cap)

    def put(self, df: DataFrame, content_hash_fn,
            key_cols: tuple = ()) -> str:
        """Stage-write → hash the WRITTEN data → rename into the CAS.

        Hash-then-write (two evaluations of the same lazy plan) lets a
        nondeterministic plan — rand(), limit, AQE-dependent float sum
        order — store bytes that don't match their content address,
        silently corrupting CAS dedup and memo hits. Here the plan runs
        exactly once into a staging dir; the digest job reads the
        staged parquet (stable bytes), and the commit is a pure rename.

        ``key_cols``: when given, the object is laid out PHYSICALLY
        SORTED by key — repartitionByRange across files +
        sortWithinPartitions inside them — the reference's defining
        always-sorted invariant (``Trie.hs:124-134``) made physical.
        Files then have disjoint key ranges and tight parquet min/max
        footers, so a later ``range_filter`` over the RELOADED object
        prunes whole files/row-groups instead of scanning everything.
        Cost: the range partitioner samples the keys (one extra pass),
        the same price the reference pays to keep tries sorted; content
        hash is order-insensitive, so the address is unchanged."""
        import uuid

        from .session import job_desc

        if key_cols:
            n = self._save_partitions(df)
            df = (df.repartitionByRange(n, *key_cols)
                    .sortWithinPartitions(*key_cols))
        # digest DURING the stage write when the hash fn supports it
        # (hashing.observed_content_hash): one job instead of
        # write-then-rescan — the rows streaming through the writer are
        # the rows digested, preserving the single-evaluation guarantee
        # for nondeterministic plans (r8 profiling put the rescan at
        # ~50% of every content-hashed write, data-size independent
        # overhead on the replay family)
        observed = getattr(content_hash_fn, "observed", None)
        finish = None
        if observed is not None:
            df, finish = observed(df)
        staging = os.path.join(self.warehouse, "staging", uuid.uuid4().hex)
        with self.lease(), job_desc(df.sparkSession, "cas.put"):
            # lease: GC must not sweep mid stage→commit
            try:
                (df.write.mode("overwrite")
                   .option("compression", self.compression).parquet(staging))
                h = finish() if finish is not None else None
                if h is None:      # no fold, or its metrics never came
                    spark = df.sparkSession
                    h = content_hash_fn(spark.read.parquet(staging))
                if self.exists(h):
                    self.save_skips += 1
                else:
                    os.makedirs(os.path.dirname(self.path(h)), exist_ok=True)
                    shutil.move(staging, self.path(h))
                    self.saves += 1
                    self.schemas[h] = df.schema
                return h
            finally:
                shutil.rmtree(staging, ignore_errors=True)

    def schema(self, spark: SparkSession, table_hash: str):
        """Schema of a stored object. Only the first read of an object
        this store did not write infers it, which costs one job."""
        s = self.schemas.get(table_hash)
        if s is None:
            s = spark.read.parquet(self.path(table_hash)).schema
            self.schemas[table_hash] = s
        return s

    def load(self, spark: SparkSession, table_hash: str) -> DataFrame:
        return self.load_union(spark, [table_hash])

    def load_union(self, spark: SparkSession,
                   table_hashes: list[str]) -> DataFrame:
        """ONE parquet scan over objects of one schema (a repeated hash
        is read once per occurrence), with the first object's known
        schema."""
        self.loads += len(table_hashes)
        return spark.read.schema(self.schema(spark, table_hashes[0])) \
            .parquet(*[self.path(h) for h in table_hashes])

    def load_many(self, spark: SparkSession,
                  table_hashes: list[str]) -> DataFrame:
        """ONE parquet scan spanning several objects — the probe
        fan-in (VERDICT r8 what's-wrong #3: an IVF probe loop was
        building an O(probed-cells) union of per-cell ``load`` plans
        driver-side; a multi-path read is one scan node and lets the
        reader schedule all files together). Rows carry
        ``__messdb_object`` (the owning object's hash, recovered from
        the file path) so callers can re-attach per-object tags with a
        broadcast join — exact even when two tags map to ONE object
        (content-equal cells dedup to a single path). IO accounting:
        one load per distinct object."""
        from pyspark.sql import functions as F

        hs = list(dict.fromkeys(table_hashes))
        self.loads += len(hs)
        df = spark.read.parquet(*[self.path(h) for h in hs])
        # the part file's PARENT directory is the object hash — robust
        # against warehouse paths that themselves contain an "objects"
        # segment (a prefix regexp would capture the wrong one)
        return df.withColumn(
            "__messdb_object",
            F.element_at(F.split(F.input_file_name(), "/"), -2))


class MemoryObjectStore(ObjectStore):
    """S1 MemoryStore analog (``Store/Memory.hs:14-38``): rows held in
    a dict, write-once. Test/tooling backend only — collects to the
    driver, so never for production data paths."""

    def __init__(self) -> None:
        self._tables: dict[str, tuple] = {}   # hash → (schema, rows)
        self.compression = "none"
        self.saves = 0
        self.save_skips = 0
        self.loads = 0

    def lease(self):
        import contextlib
        return contextlib.nullcontext()     # driver-dict store: no GC race

    def active_leases(self, stale_after: float = 3600.0) -> list:
        return []

    def path(self, table_hash: str) -> str:
        return f"memory://{table_hash}"

    def exists(self, table_hash: str) -> bool:
        return table_hash in self._tables

    def save(self, table_hash: str, df: DataFrame) -> str:
        if self.exists(table_hash):
            self.save_skips += 1
            return self.path(table_hash)
        self.saves += 1
        self._tables[table_hash] = (df.schema, df.collect())
        return self.path(table_hash)

    def put(self, df: DataFrame, content_hash_fn,
            key_cols: tuple = ()) -> str:
        """Evaluate once (collect), hash the materialized rows.
        ``key_cols`` is accepted for interface parity; a driver-side
        dict has no physical layout to sort."""
        schema, rows = df.schema, df.collect()
        materialized = df.sparkSession.createDataFrame(rows, schema=schema)
        h = content_hash_fn(materialized)
        if self.exists(h):
            self.save_skips += 1
        else:
            self.saves += 1
            self._tables[h] = (schema, rows)
        return h

    def load(self, spark: SparkSession, table_hash: str) -> DataFrame:
        self.loads += 1
        schema, rows = self._tables[table_hash]
        return spark.createDataFrame(rows, schema=schema)

    def load_many(self, spark: SparkSession,
                  table_hashes: list[str]) -> DataFrame:
        from functools import reduce

        from pyspark.sql import functions as F

        hs = list(dict.fromkeys(table_hashes))
        parts = [self.load(spark, h).withColumn("__messdb_object", F.lit(h))
                 for h in hs]        # load() counts one per object
        return reduce(lambda a, b: a.unionByName(b), parts)


class DebugStore:
    """S7 DebugStore analog (``Store/Debug.hs:9-38``): logging proxy
    around any object store."""

    def __init__(self, inner: ObjectStore, log=print) -> None:
        self._inner = inner
        self._log = log

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def save(self, table_hash: str, df: DataFrame) -> str:
        self._log(f"[store] save {table_hash[:12]}…")
        return self._inner.save(table_hash, df)

    def load(self, spark: SparkSession, table_hash: str) -> DataFrame:
        self._log(f"[store] load {table_hash[:12]}…")
        return self._inner.load(spark, table_hash)


class MemoStore:
    """Op-digest → result table-hash manifest (``MemoStore`` analog)."""

    def __init__(self, warehouse: str) -> None:
        self.path = os.path.join(warehouse, "memo.json")
        self._cache: dict[str, str] = _read_json(self.path, {})
        self.hits = 0
        self.misses = 0

    def get(self, op_digest: str) -> str | None:
        got = self._cache.get(op_digest)
        if got is None:
            self.misses += 1
        else:
            self.hits += 1
        return got

    def put(self, op_digest: str, table_hash: str) -> None:
        self._cache[op_digest] = table_hash
        _atomic_write_json(self.path, self._cache)

    def put_many(self, records: dict[str, str]) -> None:
        """Batch put with ONE disk write — memo rehydration
        (``plans.incremental.seed_map_view_memo``) writes up to
        n_buckets records at once; per-record ``put`` would rewrite
        the whole JSON n_buckets times."""
        if not records:
            return
        self._cache.update(records)
        _atomic_write_json(self.path, self._cache)

    def refresh(self) -> None:
        """Fold entries OTHER processes wrote into the in-process view
        (``_cache`` is loaded once at construction; every ``put`` goes
        straight to disk, so the union loses nothing of ours). GC calls
        this before reading memo targets — both at mark time and in its
        post-gate re-read — so a cross-process materializer's fresh
        entry is seen as live (ADVICE r10 medium)."""
        self._cache = {**self._cache, **_read_json(self.path, {})}

    def prune(self, is_live) -> int:
        """Drop entries whose target hash fails ``is_live`` (GC support:
        a memo hit must never point at a collected object)."""
        dead = [k for k, v in self._cache.items() if not is_live(v)]
        for k in dead:
            del self._cache[k]
        if dead:
            _atomic_write_json(self.path, self._cache)
        return len(dead)


@dataclass
class CatalogEntry:
    table_hash: str
    schema_json: str      # Spark StructType json — self-describing like
    key_cols: list[str]   # the reference's reified StandardSchema


class Catalog:
    """Name → table catalog with atomic root swap (``RepoRoot`` +
    ``RepoStore`` analog, ``Repo.hs:42-43,75-98``). A missing root file
    is an empty catalog (``Repo.hs:85-89``).

    Because tables are immutable content-addressed objects, keeping
    every superseded root gives snapshot history (time travel) for
    free — the messdb model's natural consequence (old roots still
    reference valid objects; nothing is overwritten). Roots are
    archived under ``roots/root-v{N}.json`` on every swap.

    Concurrency (the reference gets this from sqlite,
    ``sqlite_store.cpp:96-97``; the JSON backend must build it from
    POSIX primitives): version allocation is an optimistic CAS — the
    archived ``root-v{N}.json`` is created with ``os.link`` (atomic,
    fails EEXIST if another process claimed N), and on conflict the
    whole load→mutate→claim cycle retries against the fresh root, so
    two writers upserting different tables serialize to consecutive
    versions without either commit being lost. ``root.json`` is a
    convenience snapshot only (it can momentarily lag under a race);
    the authoritative current root is the max archived version."""

    def __init__(self, warehouse: str) -> None:
        self.root_path = os.path.join(warehouse, "root.json")
        self.roots_dir = os.path.join(warehouse, "roots")
        self.hint_path = os.path.join(warehouse, "roots", "CURRENT")

    def _load_root(self, version: int | None = None) -> dict:
        if version is None:
            v = self.current_version()
            if v == 0:
                return _read_json(self.root_path, {})
            version = v
        return _read_json(os.path.join(self.roots_dir, f"root-v{version}.json"), {})

    def current_version(self) -> int:
        """Versions are 1-based; 0 = empty initial catalog.

        O(1) steady state via the ``CURRENT`` hint file (VERDICT r8
        what's-wrong #1: the bare listdir is O(versions) on EVERY read
        and every CAS retry — a commit-per-micro-batch streaming sink
        that never GCs pays a linearly growing scan inside its commit
        loop). The hint is NON-AUTHORITATIVE, exactly like
        ``root.json``: it is written (atomic rename) after a claim
        succeeds, so it can lag under a race or a crash between claim
        and hint write. Readers verify it against the one source of
        truth — the archived ``root-v{N}.json`` names — and walk
        FORWARD from it (cost O(lag), normally 0-1 stats); a hint
        pointing at a missing version (pruned, corrupt, or from a
        copied warehouse) falls back to the full directory scan."""
        v = self._read_hint()
        if v is not None and v > 0 and self._has_version(v):
            while self._has_version(v + 1):
                v += 1
            return v
        return self._scan_version()

    def _has_version(self, v: int) -> bool:
        return os.path.exists(
            os.path.join(self.roots_dir, f"root-v{v}.json"))

    def _read_hint(self) -> int | None:
        try:
            with open(self.hint_path) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _write_hint(self, v: int) -> None:
        """Best-effort, atomic; losing the race to a later writer only
        makes the hint lag (walk-forward absorbs it)."""
        try:
            fd, tmp = tempfile.mkstemp(dir=self.roots_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                f.write(str(v))
            os.replace(tmp, self.hint_path)
        except OSError:
            pass

    def _scan_version(self) -> int:
        """Authoritative O(versions) directory scan."""
        if not os.path.isdir(self.roots_dir):
            return 0
        vs = [int(f[6:-5]) for f in os.listdir(self.roots_dir)
              if f.startswith("root-v") and f.endswith(".json")]
        return max(vs, default=0)

    def _claim_version(self, v: int, root: dict) -> bool:
        """Atomically claim version ``v``: write the payload to a temp
        file, then ``os.link`` it to ``root-v{v}.json`` — the link is
        the CAS (either this process creates the name or EEXIST)."""
        os.makedirs(self.roots_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.roots_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(root, f, indent=1, sort_keys=True)
            try:
                os.link(tmp, os.path.join(self.roots_dir, f"root-v{v}.json"))
            except FileExistsError:
                return False
            return True
        finally:
            os.unlink(tmp)

    def _commit_mutation(self, mutate) -> int:
        """Load-current → mutate → claim-next-version, retried on
        version conflict so a concurrent writer's commit is folded in
        rather than overwritten (no lost updates between processes)."""
        for _ in range(256):
            v = self.current_version()
            root = mutate(dict(self._load_root(v) if v else
                               _read_json(self.root_path, {})))
            if self._claim_version(v + 1, root):
                # convenience snapshot + version hint; authoritative
                # state is the archived roots/ names
                self._write_hint(v + 1)
                _atomic_write_json(self.root_path, root)
                return v + 1
        raise RuntimeError(
            "catalog root CAS failed 256 times — livelocked warehouse?")

    def _swap_root(self, root: dict) -> int:
        """Single-process swap (kept for restore/branch paths that
        deliberately replace the whole root)."""
        return self._commit_mutation(lambda _cur: root)

    def names(self, version: int | None = None) -> list[str]:
        return sorted(self._load_root(version).keys())

    def get(self, name: str, version: int | None = None) -> CatalogEntry | None:
        e = self._load_root(version).get(name)
        if e is None:
            return None
        return CatalogEntry(e["table_hash"], e["schema_json"], e["key_cols"])

    def put(self, name: str, entry: CatalogEntry) -> int:
        rec = {"table_hash": entry.table_hash,
               "schema_json": entry.schema_json,
               "key_cols": entry.key_cols}
        return self._commit_mutation(lambda root: {**root, name: rec})

    def put_many(self, entries: dict[str, CatalogEntry]) -> int:
        """Register several tables in ONE root swap — the multi-table
        atomic commit (the reference's single-root-swap semantics,
        generalized across the namespace: either every table in the
        batch is visible at the new version, or none is)."""
        recs = {name: {"table_hash": e.table_hash,
                       "schema_json": e.schema_json,
                       "key_cols": e.key_cols}
                for name, e in entries.items()}
        return self._commit_mutation(lambda root: {**root, **recs})

    def drop(self, name: str) -> int:
        def _rm(root: dict) -> dict:
            root.pop(name, None)
            return root
        return self._commit_mutation(_rm)

    def restore_version(self, version: int) -> int:
        """Make an archived root current again (as a NEW version — the
        linear history is append-only, like a git checkout recorded as
        a commit). The branch layer (``branches.py``) builds on this."""
        return self._swap_root(self._load_root(version))

    def prune_roots(self, min_version: int) -> int:
        """Delete archived roots older than ``min_version`` (bounds the
        time-travel horizon so GC can reclaim their objects)."""
        if not os.path.isdir(self.roots_dir):
            return 0
        n = 0
        for f in os.listdir(self.roots_dir):
            if f.startswith("root-v") and f.endswith(".json") \
                    and int(f[6:-5]) < min_version:
                os.remove(os.path.join(self.roots_dir, f))
                n += 1
        return n


class MemoryCatalog(Catalog):
    """In-memory root pointer + versioned entry roots — the S8
    ``MemoryRepo`` analog (``messdb-repo/src/MessDB/Repo/Memory.hs:11-18``:
    an IORef holding the repo root), closing SURVEY §2.3's last
    implementable row. Same observable contract as the JSON/sqlite
    backends — 1-based consecutive versions, atomic multi-table swaps,
    time travel via ``names(version=)``/``restore_version`` — with a
    dict of archived roots replacing the ``roots/`` directory, so every
    inherited read/mutate path (``put``/``put_many``/``drop``/
    ``restore_version``) runs unchanged on top of the four overridden
    storage primitives. Process-local like the reference's IORef;
    thread-safe via a lock around the version-claim CAS (the retry loop
    in the inherited ``_commit_mutation`` handles claim conflicts
    exactly as it does EEXIST on the file backend)."""

    def __init__(self) -> None:
        import threading
        self._roots: dict[int, dict] = {}
        self._lock = threading.Lock()

    def _load_root(self, version: int | None = None) -> dict:
        with self._lock:
            if version is None:
                version = max(self._roots, default=0)
            return dict(self._roots.get(version, {}))

    def current_version(self) -> int:
        # the lock (not just GIL atomicity of max() over a dict view)
        # keeps the threaded-writer contract portable to free-threaded
        # CPython/PyPy, where a concurrent _claim_version insert could
        # otherwise raise "dictionary changed size during iteration"
        with self._lock:
            return max(self._roots, default=0)

    def _has_version(self, v: int) -> bool:
        with self._lock:
            return v in self._roots

    def _claim_version(self, v: int, root: dict) -> bool:
        with self._lock:
            if v in self._roots:
                return False
            self._roots[v] = root
            return True

    def _commit_mutation(self, mutate) -> int:
        # the parent's loop, minus the root.json/hint convenience files
        # (nothing to snapshot — reads come straight from the dict)
        for _ in range(256):
            v = self.current_version()
            root = mutate(self._load_root(v))
            if self._claim_version(v + 1, root):
                return v + 1
        raise RuntimeError(
            "catalog root CAS failed 256 times — livelocked catalog?")

    def prune_roots(self, min_version: int) -> int:
        with self._lock:
            old = [v for v in self._roots if v < min_version]
            for v in old:
                del self._roots[v]
            return len(old)

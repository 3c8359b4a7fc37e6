"""Engine facade — the ``Repo`` analog
(``/root/reference/messdb-repo/src/MessDB/Repo.hs``).

Ties together: SparkSession, object store (CAS parquet), memo manifest,
catalog (name → table hash + schema + key cols), and the materializer.
``runRepoQuery``/``runRepoStatement`` (``Repo.hs:80-82,120-130``) map to
``Engine.sql`` (read path: temp views over catalog tables, full Spark
SQL — a capability superset of the reference's CREATE-TABLE-only SQL)
and ``Engine.ddl``/``save_table`` (write path: new root state).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import table_content_hash
from .operators.core import KeyedTable
from .plans.views import Materializer
from .sql_ddl import SqlError, parse_create_table
from .store import Catalog, CatalogEntry, MemoStore, ObjectStore


def sql_identifiers(sql: str) -> set[str]:
    """Lower-cased identifier tokens of a SQL text, with string
    literals and comments stripped first — the dependency scan for
    ``Engine.sql`` / materialized views. Membership-testing catalog
    names against this set (instead of regex-searching each name over
    the raw text) means a table name containing regex metacharacters
    can't break the scan, and a name appearing only inside a string
    literal or comment can't become a spurious dependency (ADVICE r5).
    A column alias that shadows a table name still false-positives —
    harmless: the extra temp view registration / digest input is a
    superset, never a miss."""
    import re

    sql = re.sub(r"--[^\n]*", " ", sql)
    sql = re.sub(r"/\*.*?\*/", " ", sql, flags=re.S)
    sql = re.sub(r"'(?:[^']|'')*'", " ", sql)          # SQL string literals
    idents = {t.lower() for t in re.findall(r"`([^`]+)`", sql)}
    sql = re.sub(r"`[^`]*`", " ", sql)
    idents |= {t.lower() for t in
               re.findall(r"[A-Za-z_][A-Za-z_0-9]*", sql)}
    return idents


def referenced_tables(sql: str, names) -> list[str]:
    """The subset of catalog ``names`` a SQL text references (by
    case-insensitive identifier membership — Spark resolves temp-view
    names case-insensitively)."""
    idents = sql_identifiers(sql)
    return [n for n in names if n.lower() in idents]


class Engine:
    def __init__(self, spark: SparkSession, warehouse: str,
                 manifest_backend: str = "json") -> None:
        """``manifest_backend``: "json" (atomic-rename files, default)
        or "sqlite" (one transactional manifest file for memo+catalog —
        the reference's own backend choice, S3 SqliteStore)."""
        self.spark = spark
        self.warehouse = warehouse
        self.objects = ObjectStore(warehouse)
        self._txn_entries: dict | None = None   # Engine.transaction buffer
        if manifest_backend == "sqlite":
            from .sqlite_store import SqliteCatalog, SqliteMemoStore
            self.memo = SqliteMemoStore(warehouse)
            self.catalog = SqliteCatalog(warehouse)
        elif manifest_backend == "json":
            self.memo = MemoStore(warehouse)
            self.catalog = Catalog(warehouse)
        else:
            raise ValueError(f"unknown manifest backend: {manifest_backend}")
        self.materializer = Materializer(spark, self.objects, self.memo,
                                         table_content_hash)
        if manifest_backend == "sqlite":
            # branch state rides the SAME sqlite file (and, in
            # _register, the same transaction) as the catalog root —
            # the two-file torn-write window of the JSON backend
            # doesn't exist here
            from .sqlite_store import SqliteBranchManager
            self.branches = SqliteBranchManager(self.catalog)
        else:
            from .branches import BranchManager
            self.branches = BranchManager(
                warehouse, current_version=self.catalog.current_version)

    # -- catalog write path (R2 saveRepoTable, Repo.hs:115-118) --------
    def save_table(self, name: str, table: KeyedTable) -> str:
        # stage-write then hash the written bytes (ObjectStore.put):
        # the plan evaluates exactly once, so nondeterministic plans
        # can't store bytes that mismatch their content address.
        # key_cols: objects are laid out key-sorted (Trie.hs:124-134
        # made physical) so reloaded range filters prune whole files.
        # The lease spans put AND register: between the CAS commit and
        # the root swap the object is referenced by nothing, and a
        # concurrent gc would sweep it out from under the registration
        # (caught by tests/test_gc_writer_race.py before this guard).
        # A table that carries the hash of the object it reads (a
        # memoized view's result) is already stored: check it exists
        # and register it, the relink_table guard, with no write.
        from .session import job_desc
        with self.objects.lease(), \
                job_desc(self.spark, f"save_table:{name}"):
            h = table.table_hash
            if h is None:
                h = self.objects.put(table.df, table_content_hash,
                                     key_cols=tuple(table.key_cols))
            elif not self.objects.exists(h):
                raise KeyError(f"object {h} not in store")
            self._register(name, CatalogEntry(
                table_hash=h,
                schema_json=table.df.schema.json(),
                key_cols=list(table.key_cols)))
        return h

    def save_bucketed_table(self, name: str, ref) -> str:
        """Register a bucket-granular table (plans/incremental) in the
        catalog: the entry points at the persisted manifest object, so
        the table is durable, time-travelable, and GC-traceable like
        any plain table."""
        from .plans.incremental import save_manifest
        with self.objects.lease():      # manifest → root swap, no gc gap
            h = save_manifest(self.objects, ref)
            self._register(name, CatalogEntry(
                table_hash=h, schema_json=ref.schema_json,
                key_cols=list(ref.key_cols)))
        return h

    def save_adaptive_table(self, name: str, ref) -> str:
        """Register an adaptively-bucketed table (plans/adaptive —
        two-level split/merge manifest): durable, time-travelable,
        GC-traceable like any plain table."""
        from .plans.adaptive import save_adaptive_manifest
        with self.objects.lease():      # manifest → root swap, no gc gap
            h = save_adaptive_manifest(self.objects, ref)
            self._register(name, CatalogEntry(
                table_hash=h, schema_json=ref.schema_json,
                key_cols=list(ref.key_cols)))
        return h

    def save_range_bucketed_table(self, name: str, ref) -> str:
        """Register a range-bucketed table (plans/range_layout) in the
        catalog — same durability/time-travel/GC contract as
        ``save_bucketed_table``, ordered-fan-out flavor."""
        from .plans.range_layout import save_range_manifest
        with self.objects.lease():      # manifest → root swap, no gc gap
            h = save_range_manifest(self.objects, ref)
            self._register(name, CatalogEntry(
                table_hash=h, schema_json=ref.schema_json,
                key_cols=list(ref.key_cols)))
        return h

    def relink_table(self, name: str, table_hash: str,
                     key_cols: tuple[str, ...]) -> str:
        """Re-register an EXISTING CAS object under a catalog name —
        the O(1) repair/restore primitive. The content is already
        stored, hashed and immutable, so pointing the catalog at it is
        pure bookkeeping: zero data jobs (schema comes from the
        object's parquet footer), one catalog entry in the current
        transaction or root swap. This is what makes a verb's
        ``restore`` mode affordable at scale — re-deriving a 100 TB
        output to fix a mispointed catalog entry is an hours-long job;
        the relink is seconds. Raises KeyError if the object is absent
        (gc-swept) — callers fall back to re-deriving from maintained
        state. The lease spans the existence check and the
        registration (same gc-race guard as ``save_table``: an object
        reachable only through pruned history could be swept between
        the two)."""
        with self.objects.lease():
            if not self.objects.exists(table_hash):
                raise KeyError(f"object {table_hash} not in store")
            from .plans.incremental import load_manifest
            ref = load_manifest(self.objects, table_hash)
            if ref is not None:       # bucketed table: schema rides the
                schema_json = ref.schema_json      # manifest, zero jobs
            else:
                schema_json = self.objects.schema(self.spark,
                                                  table_hash).json()
            self._register(name, CatalogEntry(
                table_hash=table_hash, schema_json=schema_json,
                key_cols=list(key_cols)))
        return table_hash

    def _register(self, name: str, entry: CatalogEntry) -> int:
        """Catalog put + active-branch head advance (every write path
        funnels here so a checked-out branch tracks its commits).

        Crash ordering (JSON backend — two separate files): the branch
        head is advanced to the NEXT version BEFORE the root swap. A
        crash between the two leaves the head pointing at a version
        that never materialized, which reads clamp back to the real
        current version (``BranchManager`` head clamp) — the write
        simply never happened. The old order (root first, head second)
        could instead leave a DURABLY COMMITTED root behind a stale
        head, so the next checkout would silently revert it. Version
        prediction is safe under the single-writer contract the JSON
        backend already assumes; the sqlite backend does both writes
        in one transaction and ignores the ordering question."""
        if self._txn_entries is not None:
            # inside Engine.transaction: buffer — ONE root swap at exit
            self._txn_entries[name] = entry
            return self.catalog.current_version() + 1
        txn = getattr(self.catalog, "transaction", None)
        if txn is not None:
            def unit():
                v = self.catalog.put(name, entry)
                self.branches.advance_active(v)
                return v
            return self._catalog_txn_retry(txn, unit)
        self.branches.advance_active(self.catalog.current_version() + 1)
        return self.catalog.put(name, entry)

    def _catalog_txn_retry(self, txn, unit):
        """Replay a ``catalog.transaction()``-wrapped mutation unit on
        a cross-process version conflict. Inside an explicit catalog
        transaction the sqlite PK CAS RAISES instead of retrying
        (``SqliteCatalog._commit_mutation``: the unit must replay as a
        whole) — but every engine caller composes a self-contained
        unit (root swap + branch-head advance), so the replay loop
        lives here. Without it, two engine writers racing the same
        sqlite warehouse crash with IntegrityError instead of
        serializing (caught by tests/test_gc_writer_race.py)."""
        import sqlite3
        for _ in range(256):
            try:
                with txn():
                    return unit()
            except sqlite3.IntegrityError as e:
                # only the version-CAS conflict is retryable; any other
                # constraint violation is a real bug that must surface,
                # not spin 256 times and report phantom contention
                if "repo_root.version" not in str(e):
                    raise
                continue      # transaction rolled back; replay the unit
        raise RuntimeError(
            "catalog transaction conflicted 256 times — livelocked "
            "warehouse?")

    def transaction(self):
        """Multi-table ATOMIC commit: every ``save_table`` /
        ``save_bucketed_table`` / DDL / DML inside the context lands in
        ONE catalog root swap — all visible at the new version, or
        (on any exception) none, with the pre-transaction root
        untouched. This generalizes the reference's defining
        single-root-swap semantics (R2 atomic root swap,
        ``Repo.hs:115-118``) across the namespace — the cross-table
        consistency a warehouse needs (fact + dims + rollup move
        together).

        Objects staged by an aborted transaction are unreferenced CAS
        garbage for a later gc sweep; a writer lease is held across
        the whole transaction so a concurrent gc cannot sweep a staged
        object before the commit points at it. Reads inside the
        transaction see its own writes (buffered entries resolve
        before the catalog). Reentrant: a nested transaction joins the
        outer one."""
        import contextlib

        @contextlib.contextmanager
        def _txn():
            if self._txn_entries is not None:
                yield
                return
            self._txn_entries = {}
            try:
                with self.objects.lease():
                    yield
                    entries = self._txn_entries
                    self._txn_entries = None
                    if entries:
                        ctxn = getattr(self.catalog, "transaction", None)
                        if ctxn is not None:
                            def unit():
                                v = self.catalog.put_many(entries)
                                self.branches.advance_active(v)
                                return v
                            self._catalog_txn_retry(ctxn, unit)
                        else:
                            self.branches.advance_active(
                                self.catalog.current_version() + 1)
                            self.catalog.put_many(entries)
            finally:
                self._txn_entries = None
        return _txn()

    def _drop(self, name: str) -> int:
        """Catalog drop + head advance, same crash ordering as
        ``_register``."""
        txn = getattr(self.catalog, "transaction", None)
        if txn is not None:
            def unit():
                v = self.catalog.drop(name)
                self.branches.advance_active(v)
                return v
            return self._catalog_txn_retry(txn, unit)
        self.branches.advance_active(self.catalog.current_version() + 1)
        return self.catalog.drop(name)

    # -- branches (Noms-style; see branches.py module doc) -------------
    def create_branch(self, name: str) -> None:
        """Fork a branch at the current root. The first branch ever
        created also registers ``main`` for the implicit current line
        and makes it active, so checkout/merge are symmetric."""
        v = self.catalog.current_version()
        if self.branches.active() is None and \
                "main" not in self.branches.list():
            self.branches.create("main", v)
            self.branches.set_active("main")
        self.branches.create(name, v)

    def checkout(self, name: str) -> int:
        """Switch the working catalog to a branch: restore its head
        root as a new version (append-only history) and activate it."""
        info = self.branches.get(name)
        v = self.catalog.restore_version(info.head)
        # head + active move in ONE atomic write; a crash between the
        # restore and the activate leaves the old branch active with
        # its (still correct) old head — re-running the checkout heals
        self.branches.activate(name, v)
        return v

    def merge_branch(self, name: str, policy: str = "fail") -> dict:
        """Merge branch ``name`` into the ACTIVE line. Per table:
        changed on one side only → pointer merge (catalog entry copy,
        zero data movement — CAS); changed on both → key-granular
        3-way merge (``branches.three_way_merge``); deleted on the
        only-changed side → dropped. Returns {table: action}. After a
        successful merge the branch's fork base advances to its head,
        so re-merging is a no-op.

        ATOMIC: a ``MergeConflict`` raised on any table (delete-vs-
        change under policy='fail', schema drift, or a key conflict)
        rolls the active line back to its pre-merge root — earlier
        tables' pointer/3-way merges are undone and the branch head
        restored, so a user who declines the merge loses nothing.
        (Objects written by a rolled-back 3-way stay in the CAS as
        garbage; the next ``gc`` sweeps them.)"""
        from .branches import MergeConflict, three_way_merge

        if policy not in ("fail", "ours", "theirs"):
            raise ValueError(f"unknown merge policy: {policy!r} "
                             f"(expected 'fail', 'ours' or 'theirs')")
        info = self.branches.get(name)
        base_v, theirs_v = info.base, info.head
        v0 = self.catalog.current_version()
        actions: dict[str, str] = {}
        names = set(self.catalog.names()) | set(self.catalog.names(theirs_v)) \
            | set(self.catalog.names(base_v))
        try:
            for n in sorted(names):
                eb = self.catalog.get(n, version=base_v)
                eo = self.catalog.get(n)
                et = self.catalog.get(n, version=theirs_v)
                hb = eb.table_hash if eb else None
                ho = eo.table_hash if eo else None
                ht = et.table_hash if et else None
                if ht == hb or ht == ho:
                    actions[n] = "unchanged"
                    continue
                if ho == hb:                   # changed only on theirs
                    if et is None:
                        self._drop(n)
                        actions[n] = "pointer_drop"
                    else:
                        self._register(n, et)  # pointer merge, no data
                        actions[n] = "pointer_merge"
                    continue
                # both sides changed differently → key-granular 3-way
                if eo is None or et is None:
                    if policy == "fail":
                        raise MergeConflict(
                            f"{n}: deleted on one branch but changed on the "
                            f"other; re-merge with policy='theirs'/'ours'")
                    if policy == "theirs":
                        if et is None:
                            self._drop(n)
                            actions[n] = "pointer_drop"
                        else:
                            self._register(n, et)
                            actions[n] = "pointer_merge"
                    else:
                        actions[n] = "kept_ours"
                    continue
                base_t = self.load_table(n, version=base_v) if eb else None
                ours_t = self.load_table(n)
                theirs_t = self.load_table(n, version=theirs_v)
                merged, n_conf, pinned = three_way_merge(
                    base_t, ours_t, theirs_t, policy=policy, table_name=n)
                try:
                    self.save_table(n, KeyedTable(merged, ours_t.key_cols))
                finally:
                    pinned.unpersist()
                actions[n] = f"three_way({n_conf} conflicts)"
        except MergeConflict:
            if self.catalog.current_version() != v0:
                self._rollback_to(v0)
            raise
        self.branches.set_base(name, theirs_v)
        return actions

    def _rollback_to(self, version: int) -> int:
        """Restore an earlier root as current and realign the active
        branch head (same crash ordering as ``_register``)."""
        txn = getattr(self.catalog, "transaction", None)
        if txn is not None:
            def unit():
                v = self.catalog.restore_version(version)
                self.branches.advance_active(v)
                return v
            return self._catalog_txn_retry(txn, unit)
        self.branches.advance_active(self.catalog.current_version() + 1)
        return self.catalog.restore_version(version)

    # -- catalog read path (R1 getRepoTable, Repo.hs:100-111) ----------
    def load_table(self, name: str, version: int | None = None) -> KeyedTable:
        """Load a table; ``version`` reads from an archived catalog
        root (time travel — immutable objects make old snapshots free).
        A manifest-backed entry reassembles from its bucket objects."""
        e = None
        if version is None and self._txn_entries is not None:
            e = self._txn_entries.get(name)      # read-your-writes in txn
        if e is None:
            e = self.catalog.get(name, version=version)
        if e is None:
            raise KeyError(f"no such table: {name}"
                           + (f" at version {version}" if version is not None else ""))
        from .plans.incremental import read_stored_table
        return read_stored_table(self.spark, self.objects, e.table_hash,
                                 e.key_cols)

    def table_hash(self, name: str) -> str:
        if self._txn_entries is not None and name in self._txn_entries:
            # read-your-writes inside a transaction (same contract as
            # load_table): the CAS object exists the moment save_table
            # returns — only its catalog registration is buffered
            return self._txn_entries[name].table_hash
        e = self.catalog.get(name)
        if e is None:
            raise KeyError(name)
        return e.table_hash

    def scan_ir(self, name: str) -> dict:
        e = self.catalog.get(name)
        return {"op": "scan", "table_hash": e.table_hash, "key_cols": e.key_cols}

    # -- SQL surface (§2.5) --------------------------------------------
    def ddl(self, statement: str) -> None:
        """CREATE TABLE — the only DDL the reference accepts
        (``messdb-sql/src/MessDB/SQL.hs:21-35``). Creates an empty table
        with the derived schema + key columns in the catalog.

        Existing name: ``IF NOT EXISTS`` no-ops (the existing table —
        and its data — is untouched); a plain CREATE TABLE raises, so a
        re-run can never silently reset a table to empty.

        CTAS (``CREATE TABLE t [PRIMARY KEY (k, ...)] AS SELECT ...``,
        capability superset) evaluates the SELECT over the catalog
        (O(referenced) registration) and saves the canonicalized
        result as a new keyed table — duplicate keys in the SELECT
        output fold last-wins like every other write path."""
        from .sql_ddl import parse_ctas

        ctas = parse_ctas(statement)
        if ctas is not None:
            if self.catalog.get(ctas.name) is not None:
                if ctas.if_not_exists:
                    return
                raise SqlError(f"table already exists: {ctas.name} "
                               f"(use CREATE TABLE IF NOT EXISTS to no-op)")
            for n in referenced_tables(ctas.select_sql,
                                       self.catalog.names()):
                self.load_table(n).df.createOrReplaceTempView(n)
            out = self.spark.sql(ctas.select_sql)
            keys = ctas.key_cols or [out.columns[0]]
            missing = [k for k in keys if k not in out.columns]
            if missing:
                raise SqlError(f"CTAS key columns not in SELECT output: "
                               f"{missing}")
            from .operators.core import canonicalize_input
            self.save_table(ctas.name,
                            canonicalize_input(out, tuple(keys)))
            return
        ct = parse_create_table(statement)
        if self.catalog.get(ct.name) is not None:
            if ct.if_not_exists:
                return
            raise SqlError(f"table already exists: {ct.name} "
                           f"(use CREATE TABLE IF NOT EXISTS to no-op)")
        empty = self.spark.createDataFrame([], schema=ct.schema)
        self.save_table(ct.name, KeyedTable(empty, tuple(ct.key_cols)))

    def drop_table(self, statement_or_name: str) -> dict:
        """DROP TABLE [IF EXISTS] — removes the catalog entry as a new
        root version (append-only history: the data objects stay
        reachable from older roots until GC's retention horizon sweeps
        them, so a drop is instantly reversible by checkout/restore)."""
        from .sql_ddl import parse_drop_table
        d = parse_drop_table(statement_or_name)
        name, if_exists = (d.name, d.if_exists) if d \
            else (statement_or_name, False)
        if self.catalog.get(name) is None:
            if if_exists:
                return {"op": "drop_table", "table": name, "dropped": False}
            raise SqlError(f"no such table: {name}")
        self._drop(name)
        defs = self._view_defs()
        if name in defs:
            from .store import _atomic_write_json
            defs.pop(name)
            _atomic_write_json(self._views_path(), defs)
        return {"op": "drop_table", "table": name, "dropped": True}

    def alter_add_column(self, statement: str) -> dict:
        """ALTER TABLE t ADD COLUMN [IF NOT EXISTS] c type — schema
        evolution as a metadata-plus-backfill write: existing rows get
        a typed NULL in the new column (the same typed-null backfill
        ``merge_tables(allow_schema_evolution=True)`` applies to
        deltas). Key columns cannot be added after the fact — the key
        set is the table's identity."""
        from .sql_ddl import parse_alter_add_column
        a = parse_alter_add_column(statement)
        if a is None:
            raise SqlError(f"unsupported ALTER statement: {statement[:80]!r}")
        t = self.load_table(a.table)
        if a.column in t.df.columns:
            if a.if_not_exists:
                return {"op": "alter_add_column", "table": a.table,
                        "column": a.column, "added": False}
            raise SqlError(f"column already exists: {a.column}")
        df = t.df.withColumn(a.column, F.lit(None).cast(a.dtype))
        self.save_table(a.table, KeyedTable(df, t.key_cols))
        return {"op": "alter_add_column", "table": a.table,
                "column": a.column, "added": True}

    def alter_column_type(self, statement: str) -> dict:
        """ALTER TABLE t ALTER [COLUMN] c [SET DATA] TYPE newtype —
        WIDENING-only schema evolution (byte→short→int→long→
        decimal(20,0), int→double, float→double): the rewrite is a
        single projected cast that can never truncate or overflow, so
        it commits without a data audit. Narrowing or cross-family
        changes raise — those need an explicit UPDATE/CTAS where the
        loss is visible in the statement. Key columns widen too (the
        canonical row encoding hashes the VALUE text, and widened
        integers print identically — the content hash is stable unless
        the decimal form changes, which the catalog version records
        either way)."""
        from .sql_ddl import is_widening, parse_alter_column_type
        a = parse_alter_column_type(statement)
        if a is None:
            raise SqlError(f"cannot parse ALTER TYPE: {statement[:80]!r}")
        t = self.load_table(a.table)
        if a.column not in t.df.columns:
            raise SqlError(f"no such column: {a.column}")
        cur = dict(zip(t.df.schema.names,
                       [f.dataType for f in t.df.schema.fields]))[a.column]
        if cur == a.dtype:
            return {"op": "alter_column_type", "table": a.table,
                    "column": a.column, "changed": False}
        if not is_widening(cur, a.dtype):
            raise SqlError(
                f"non-widening type change {cur.simpleString()} -> "
                f"{a.dtype.simpleString()} refused; rewrite explicitly "
                f"(UPDATE / CREATE TABLE ... AS SELECT) if truncation "
                f"is intended")
        df = t.df.withColumn(a.column, F.col(a.column).cast(a.dtype))
        self.save_table(a.table, KeyedTable(df.select(*t.df.columns),
                                            t.key_cols))
        return {"op": "alter_column_type", "table": a.table,
                "column": a.column, "changed": True,
                "from": cur.simpleString(), "to": a.dtype.simpleString()}

    def truncate_table(self, statement_or_name: str) -> dict:
        """TRUNCATE TABLE — replace the table's data with an empty
        relation of the SAME schema and key columns, as a new root
        version (instantly reversible via time travel, like DROP)."""
        from .sql_ddl import parse_truncate_table
        name = parse_truncate_table(statement_or_name) or statement_or_name
        t = self.load_table(name)       # KeyError if missing
        empty = self.spark.createDataFrame([], schema=t.df.schema)
        self.save_table(name, KeyedTable(empty, t.key_cols))
        return {"op": "truncate_table", "table": name}

    def rename_table(self, statement: str) -> dict:
        """ALTER TABLE a RENAME TO b — a pure catalog move (zero data
        movement: the entry keeps its content hash); history keeps the
        old name at older versions. A registered materialized-view
        definition follows its table."""
        from .sql_ddl import parse_rename_table
        r = parse_rename_table(statement)
        if r is None:
            raise SqlError(f"cannot parse RENAME: {statement[:80]!r}")
        old, new = r
        e = self.catalog.get(old)
        if e is None:
            raise SqlError(f"no such table: {old}")
        if self.catalog.get(new) is not None:
            raise SqlError(f"table already exists: {new}")
        txn = getattr(self.catalog, "transaction", None)
        if txn is not None:
            def unit():
                self.catalog.put(new, e)
                v = self.catalog.drop(old)
                self.branches.advance_active(v)
            self._catalog_txn_retry(txn, unit)
        else:
            self.branches.advance_active(self.catalog.current_version() + 2)
            self.catalog.put(new, e)
            self.catalog.drop(old)
        defs = self._view_defs()
        if old in defs:
            from .store import _atomic_write_json
            defs[new] = defs.pop(old)
            _atomic_write_json(self._views_path(), defs)
        return {"op": "rename_table", "from": old, "to": new}

    # -- materialized views over the memo layer (O8 made SQL) -----------
    def _views_path(self) -> str:
        return os.path.join(self.warehouse, "views.json")

    def _view_defs(self) -> dict:
        from .store import _read_json
        return _read_json(self._views_path(), {})

    def _materialize_view_sql(self, select_sql: str) -> str:
        from .plans.views import sql_view
        names = referenced_tables(select_sql, self.catalog.names())
        ir = sql_view(select_sql, {n: self.scan_ir(n) for n in names})
        return self.materializer.materialize(ir)

    def create_materialized_view(self, name: str, select_sql: str,
                                 or_replace: bool = False) -> dict:
        """CREATE MATERIALIZED VIEW — the reference's defining feature
        ("incrementally updated materialized views", its cabal
        synopsis) surfaced as SQL: the SELECT lowers to a view IR whose
        digest keys the memo layer, the result materializes into the
        CAS, and the view registers as an ordinary catalog table
        (time-travelable, GC-traced, branchable). The definition is
        recorded so REFRESH can re-resolve it against the CURRENT base
        tables; re-materializing over unchanged inputs is a manifest
        hit — zero data-path work."""
        if self.catalog.get(name) is not None:
            if not or_replace:
                raise SqlError(f"table/view already exists: {name} "
                               f"(use CREATE OR REPLACE MATERIALIZED VIEW)")
            if name not in self._view_defs():
                # OR REPLACE may only replace a materialized view — a
                # base TABLE's key columns and data pointer would be
                # silently clobbered otherwise (ADVICE r5); require an
                # explicit DROP TABLE for that
                raise SqlError(f"{name} is a base table, not a "
                               f"materialized view; DROP TABLE it first")
        h = self._materialize_view_sql(select_sql)
        self._register(name, CatalogEntry(
            table_hash=h,
            schema_json=self.objects.schema(self.spark, h).json(),
            key_cols=[]))
        from .store import _atomic_write_json
        defs = self._view_defs()
        defs[name] = select_sql
        _atomic_write_json(self._views_path(), defs)
        return {"op": "create_materialized_view", "view": name,
                "table_hash": h}

    def refresh_materialized_view(self, name: str) -> dict:
        """REFRESH MATERIALIZED VIEW: re-resolve the stored definition
        against the current catalog (base tables may have moved) and
        re-materialize. Unchanged inputs ⇒ memo manifest hit (the
        ``refreshed: False`` fast path costs one digest lookup);
        changed inputs recompute and swap the catalog entry — the
        at-rest sibling of the bucket-granular incremental views
        (``plans/incremental``), which refresh sub-table."""
        defs = self._view_defs()
        if name not in defs:
            raise SqlError(f"no such materialized view: {name}")
        hits_before = self.memo.hits
        h = self._materialize_view_sql(defs[name])
        hit = self.memo.hits > hits_before
        prev = self.catalog.get(name)
        if prev is None or prev.table_hash != h:
            self._register(name, CatalogEntry(
                table_hash=h,
                schema_json=self.objects.schema(self.spark, h).json(),
                key_cols=[]))
        return {"op": "refresh_materialized_view", "view": name,
                "table_hash": h, "refreshed": not hit}

    def sql(self, query: str, version: int | None = None) -> DataFrame:
        """Read-only query over catalog tables (capability superset:
        full Spark SQL vs the reference's unsupported-statement error,
        ``SQL.hs:41-44``). ``version`` queries a historical catalog
        root — time travel over the whole namespace.

        Only the tables the query actually references are loaded and
        registered (ADVICE r5): driver work per query is O(referenced
        tables), not O(catalog) — on a thousand-table catalog a
        two-table join no longer pays a thousand manifest loads. The
        identifier scan is a superset of true references (any bare or
        backquoted appearance counts), so a referenced table can never
        be missed.

        Per-table time travel (lakehouse-style): ``FROM t FOR VERSION
        AS OF <n>`` pins that one reference to catalog version n — so
        one query can join a table's current state against its own
        history (audit diffs, slowly-changing comparisons) without the
        whole-namespace ``version`` parameter."""
        import re

        def _pin(m):
            name, v = m.group(1), int(m.group(2))
            alias = f"{name}__v{v}"
            self.load_table(name, version=v) \
                .df.createOrReplaceTempView(alias)
            return alias

        query = re.sub(
            r"(\w+)\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+)", _pin, query,
            flags=re.IGNORECASE)
        for name in referenced_tables(query, self.catalog.names(version)):
            self.load_table(name, version=version) \
                .df.createOrReplaceTempView(name)
        return self.spark.sql(query)

    def dml(self, statement: str) -> dict:
        """Write statements — INSERT / UPDATE / DELETE (capability
        superset: the reference rejects every non-CREATE statement,
        ``SQL.hs:41-44``). Each lowers onto the engine's own operators
        so the write path stays canonical:

        - INSERT (VALUES or SELECT, optional column list) →
          ``canonicalize_input`` + O1 merge upsert — duplicate keys in
          the inserted set fold last-wins, existing keys are replaced,
          the base table is never shuffled (anti-join merge).
        - UPDATE ... SET ... [WHERE] → one projected rewrite (CASE per
          assigned column, cast back to the declared type); key columns
          reject (a re-key is O2 ``sort_table``, not UPDATE).
        - DELETE [WHERE] → one filter rewrite; NULL predicates keep the
          row (SQL semantics: DELETE removes only WHERE=TRUE rows).
        - INSERT OVERWRITE [TABLE] t [(cols)] SELECT|VALUES ... →
          atomic full replace: the canonicalized source becomes the
          table (schema/keys kept, one root swap, time-travel
          reversible like TRUNCATE).

        Returns {"op", "table", "rows"} with rows = affected count."""
        from .operators.core import canonicalize_input, merge_tables
        from .sql_ddl import (DeleteStmt, InsertStmt, MergeStmt, UpdateStmt,
                              parse_dml)

        return self._dml(statement, canonicalize_input, merge_tables,
                         DeleteStmt, InsertStmt, MergeStmt, UpdateStmt,
                         parse_dml)

    def _align_insert_source(self, t: KeyedTable,
                             columns: list[str] | None,
                             source_sql: str):
        """Shared INSERT / INSERT OVERWRITE source preparation:
        selective catalog registration, VALUES wrapping, column-list
        validation (keys mandatory), positional cast-alignment to the
        target schema, typed nulls for unlisted columns."""
        for name in referenced_tables(source_sql, self.catalog.names()):
            self.load_table(name).df.createOrReplaceTempView(name)
        src_sql = source_sql
        if src_sql.lower().startswith("values"):
            src_sql = f"SELECT * FROM ({src_sql})"
        src = self.spark.sql(src_sql)
        target_cols = columns or list(t.df.columns)
        unknown = [c for c in target_cols if c not in t.df.columns]
        if unknown:
            raise SqlError(f"unknown column(s): {unknown}")
        if len(src.columns) != len(target_cols):
            raise SqlError(
                f"INSERT arity mismatch: {len(src.columns)} values "
                f"for {len(target_cols)} columns")
        missing_keys = [k for k in t.key_cols if k not in target_cols]
        if missing_keys:
            raise SqlError(f"INSERT must provide key column(s): "
                           f"{missing_keys}")
        dtypes = dict(zip(t.df.schema.names,
                          [f.dataType for f in t.df.schema.fields]))
        aligned = src.select(*[
            F.col(s).cast(dtypes[c]).alias(c)
            for s, c in zip(src.columns, target_cols)])
        for c in t.df.columns:              # unlisted columns: typed nulls
            if c not in target_cols:
                aligned = aligned.withColumn(
                    c, F.lit(None).cast(dtypes[c]))
        return aligned.select(*t.df.columns)

    def _dml(self, statement, canonicalize_input, merge_tables,
             DeleteStmt, InsertStmt, MergeStmt, UpdateStmt, parse_dml):

        from .sql_ddl import parse_insert_overwrite

        ov = parse_insert_overwrite(statement)
        if ov is not None:
            # atomic full replace: same source alignment as INSERT,
            # but the canonicalized source BECOMES the table (one root
            # swap, time-travel reversible like TRUNCATE)
            t = self.load_table(ov.table)
            incoming = canonicalize_input(
                self._align_insert_source(t, ov.columns, ov.source_sql),
                t.key_cols)
            n = incoming.df.count()
            self.save_table(ov.table, incoming)
            return {"op": "insert_overwrite", "table": ov.table, "rows": n}

        stmt = parse_dml(statement)
        if stmt is None:
            raise SqlError(f"not a DML statement: {statement[:80]!r}")
        if isinstance(stmt, MergeStmt):
            return self._merge_into(stmt)
        t = self.load_table(stmt.table)

        if isinstance(stmt, InsertStmt):
            incoming = canonicalize_input(
                self._align_insert_source(t, stmt.columns, stmt.source_sql),
                t.key_cols)
            n = incoming.df.count()
            merged = merge_tables([t, incoming])
            self.save_table(stmt.table, merged)
            return {"op": "insert", "table": stmt.table, "rows": n}

        if isinstance(stmt, UpdateStmt):
            assigned = {c for c, _ in stmt.assignments}
            bad_keys = assigned & set(t.key_cols)
            if bad_keys:
                raise SqlError(f"UPDATE may not change key column(s) "
                               f"{sorted(bad_keys)}; re-keying is "
                               f"sort_table (O2)")
            unknown = [c for c in assigned if c not in t.df.columns]
            if unknown:
                raise SqlError(f"unknown column(s): {unknown}")
            pred = f"coalesce(({stmt.where}), false)" if stmt.where \
                else "true"
            exprs = dict(stmt.assignments)
            dtypes = dict(zip(t.df.schema.names,
                              [f.dataType for f in t.df.schema.fields]))
            # evaluate the predicate ONCE (ADVICE r5): a nondeterministic
            # WHERE (rand(), a current_timestamp boundary) must not be
            # re-evaluated between the reported count and the rewrite —
            # the __hit flag is pinned by an eager localCheckpoint and
            # both derive from that single materialization
            hit = (t.df.withColumn("__messdb_hit", F.expr(pred))
                       .localCheckpoint(eager=True))
            try:
                n = hit.where("__messdb_hit").count()
                proj = [
                    (f"CASE WHEN __messdb_hit THEN CAST(({exprs[c]}) AS "
                     f"{dtypes[c].simpleString()}) ELSE `{c}` END AS `{c}`")
                    if c in exprs else f"`{c}`"
                    for c in t.df.columns]
                self.save_table(stmt.table,
                                KeyedTable(hit.selectExpr(*proj), t.key_cols))
            finally:
                hit.unpersist()
            return {"op": "update", "table": stmt.table, "rows": n}

        assert isinstance(stmt, DeleteStmt)
        pred = f"coalesce(({stmt.where}), false)" if stmt.where else "true"
        # same single-evaluation discipline as UPDATE
        hit = (t.df.withColumn("__messdb_hit", F.expr(pred))
                   .localCheckpoint(eager=True))
        try:
            n = hit.where("__messdb_hit").count()
            kept = hit.where("NOT __messdb_hit").drop("__messdb_hit")
            self.save_table(stmt.table, KeyedTable(kept, t.key_cols))
        finally:
            hit.unpersist()
        return {"op": "delete", "table": stmt.table, "rows": n}

    def _merge_into(self, stmt) -> dict:
        """MERGE INTO lowered onto set algebra over the keyed table —
        the lakehouse upsert statement as one transactional root swap:

        - result = (target ANTI source) ∪ matched-action rows ∪
          (source ANTI target, when NOT MATCHED INSERT);
        - WHEN MATCHED UPDATE projects the assignments over the join
          (CASTs back to declared types); DELETE simply omits matched
          rows; no matched clause keeps them via a SEMI join;
        - multiple source matches for one target key fold last-wins
          through ``canonicalize_input`` (same discipline as INSERT);
        - the ON condition is evaluated once per piece — pieces are
          pinned with localCheckpoint so reported counts equal rows
          written even under a nondeterministic source.

        Scale: every piece is an anti/semi/inner join on the ON keys —
        the base table shuffles at most once per piece and the small
        delta side broadcasts under AQE, matching the O1 merge path."""
        from .operators.core import canonicalize_input

        t = self.load_table(stmt.target)
        for name in referenced_tables(stmt.source_sql, self.catalog.names()):
            self.load_table(name).df.createOrReplaceTempView(name)
        src = self.spark.sql(stmt.source_sql).localCheckpoint(eager=True)
        ta, sa = stmt.target_alias, stmt.source_alias
        if ta == sa:
            raise SqlError("MERGE target and source aliases must differ")
        t.df.createOrReplaceTempView(ta)
        src.createOrReplaceTempView(sa)
        dtypes = dict(zip(t.df.schema.names,
                          [f.dataType for f in t.df.schema.fields]))
        cols = list(t.df.columns)
        try:
            pieces = [self.spark.sql(
                f"SELECT {', '.join(f'{ta}.`{c}`' for c in cols)} "
                f"FROM {ta} LEFT ANTI JOIN {sa} ON {stmt.on}")]
            n_updated = n_deleted = n_inserted = 0
            if stmt.update_assignments is not None:
                exprs = dict(stmt.update_assignments)
                bad_keys = set(exprs) & set(t.key_cols)
                if bad_keys:
                    raise SqlError(f"MERGE may not update key column(s) "
                                   f"{sorted(bad_keys)}")
                unknown = [c for c in exprs if c not in cols]
                if unknown:
                    raise SqlError(f"unknown column(s): {unknown}")
                proj = [
                    (f"CAST(({exprs[c]}) AS {dtypes[c].simpleString()}) "
                     f"AS `{c}`") if c in exprs else f"{ta}.`{c}`"
                    for c in cols]
                upd = self.spark.sql(
                    f"SELECT {', '.join(proj)} FROM {ta} "
                    f"JOIN {sa} ON {stmt.on}").localCheckpoint(eager=True)
                n_updated = upd.count()
                pieces.append(upd)
            elif stmt.matched_delete:
                n_deleted = self.spark.sql(
                    f"SELECT count(*) AS n FROM {ta} LEFT SEMI JOIN {sa} "
                    f"ON {stmt.on}").collect()[0]["n"]
            else:      # no matched clause: matched rows pass unchanged
                pieces.append(self.spark.sql(
                    f"SELECT {', '.join(f'{ta}.`{c}`' for c in cols)} "
                    f"FROM {ta} LEFT SEMI JOIN {sa} ON {stmt.on}"))
            if stmt.insert_star or stmt.insert_cols is not None:
                if stmt.insert_star:
                    missing = [c for c in cols if c not in src.columns]
                    if missing:
                        raise SqlError(f"INSERT *: source lacks column(s) "
                                       f"{missing}")
                    sel = [f"CAST({sa}.`{c}` AS "
                           f"{dtypes[c].simpleString()}) AS `{c}`"
                           for c in cols]
                else:
                    unknown = [c for c in stmt.insert_cols
                               if c not in cols]
                    if unknown:
                        raise SqlError(f"unknown column(s): {unknown}")
                    missing_keys = [k for k in t.key_cols
                                    if k not in stmt.insert_cols]
                    if missing_keys:
                        raise SqlError(f"MERGE INSERT must provide key "
                                       f"column(s): {missing_keys}")
                    by_col = dict(zip(stmt.insert_cols, stmt.insert_values))
                    sel = [
                        (f"CAST(({by_col[c]}) AS {dtypes[c].simpleString()}) "
                         f"AS `{c}`") if c in by_col
                        else f"CAST(NULL AS {dtypes[c].simpleString()}) "
                             f"AS `{c}`"
                        for c in cols]
                ins = self.spark.sql(
                    f"SELECT {', '.join(sel)} FROM {sa} "
                    f"LEFT ANTI JOIN {ta} ON {stmt.on}") \
                    .localCheckpoint(eager=True)
                n_inserted = ins.count()
                pieces.append(ins)
            merged = pieces[0]
            for p in pieces[1:]:
                merged = merged.unionByName(p)
            result = canonicalize_input(merged, t.key_cols)
            self.save_table(stmt.target, result)
        finally:
            src.unpersist()
        return {"op": "merge", "table": stmt.target,
                "rows_updated": n_updated, "rows_deleted": n_deleted,
                "rows_inserted": n_inserted}

    # -- cross-store sync (O9 syncTrie/syncTable, Trie.hs:256-260) ------
    def sync_table(self, name: str, dst: "Engine") -> dict:
        """Push a table to ANOTHER warehouse: copy its object closure
        into the destination CAS and register the catalog entry — the
        reference's ``syncTrie`` (save into a store that may not hold
        the nodes yet, skipping nodes it already has, then rehydrate).

        Because objects are content-addressed and write-once, sync is
        INCREMENTAL for free: objects the destination already holds
        (from an earlier sync, or shared buckets of an updated table)
        are skipped without reading their bytes — re-syncing a 100 TB
        bucketed table after a small upsert ships only the changed
        bucket objects plus a manifest. Returns {copied, skipped}."""
        import shutil as _shutil

        e = self.catalog.get(name)
        if e is None:
            raise KeyError(f"no such table: {name}")
        from .plans.incremental import manifest_children
        hashes = [e.table_hash]
        children = manifest_children(self.objects, e.table_hash)
        if children is not None:
            hashes += children
        copied = skipped = 0
        for h in hashes:
            if dst.objects.exists(h):
                skipped += 1
                continue
            dst_path = dst.objects.path(h)
            os.makedirs(os.path.dirname(dst_path), exist_ok=True)
            _shutil.copytree(self.objects.path(h), dst_path)
            copied += 1
        dst.catalog.put(name, CatalogEntry(
            table_hash=e.table_hash, schema_json=e.schema_json,
            key_cols=list(e.key_cols)))
        return {"copied": copied, "skipped": skipped}

    # -- maintenance ----------------------------------------------------
    def verify_table(self, name: str) -> bool:
        """Scrub: recompute the table's content digest from its stored
        bytes and compare to its catalog address — bit-rot / partial-
        write / tampering detection, the anti-entropy check every CAS
        needs on a schedule (the reference gets the same property
        implicitly because every load re-derives from hashed nodes).
        One scan of the object, no shuffle beyond the digest agg."""
        e = self.catalog.get(name)
        if e is None:
            raise KeyError(f"no such table: {name}")
        from .hashing import bucket_content_hashes
        from .plans.incremental import EMPTY, load_manifest
        from .plans.range_layout import load_range_manifest
        try:
            from .plans.adaptive import load_adaptive_manifest
            aref = load_adaptive_manifest(self.objects, e.table_hash)
            if aref is not None:
                for h in aref.leaf_hashes():
                    df = self.objects.load(self.spark, h)
                    got = bucket_content_hashes(
                        df.withColumn("__messdb_bucket", F.lit("x")),
                        "__messdb_bucket", key_fn=str)
                    if got.get("x") != h:
                        return False
                return True
            ref = load_manifest(self.objects, e.table_hash) \
                or load_range_manifest(self.objects, e.table_hash)
            if ref is None:
                df = self.objects.load(self.spark, e.table_hash)
                return table_content_hash(df) == e.table_hash
            # bucketed (either flavor): verify every bucket object
            # against its manifest
            for b, h in enumerate(ref.bucket_hashes):
                if h == EMPTY:
                    continue
                df = self.objects.load(self.spark, h)
                got = bucket_content_hashes(
                    df.withColumn("__messdb_bucket", F.lit(b)),
                    "__messdb_bucket")
                if got.get(b) != h:
                    return False
            return True
        except Exception:
            # unreadable bytes (torn write, CRC mismatch, missing file)
            # are corruption by definition
            return False
    def compact_table(self, name: str,
                      target_bytes: int = 128 * 1024 * 1024) -> dict:
        """Small-file compaction: rewrite a table's object with file
        count sized to ``target_bytes`` per file. Streaming upserts and
        incremental merges accumulate small parquet files; at 100 TB
        the resulting footer/task overhead dominates scans, so
        compaction is routine maintenance (the OPTIMIZE of lakehouse
        engines). Content is unchanged, so the content hash is
        unchanged and history/time travel are untouched — ONLY the
        physical layout of the current object is rewritten (CAS
        object replaced in place with identical logical content;
        write-once applies to content, which is preserved).

        Returns {files_before, files_after, bytes}."""
        import math
        import os as _os

        e = self.catalog.get(name)
        if e is None:
            raise KeyError(name)
        path = self.objects.path(e.table_hash)
        files = [f for f in _os.listdir(path)
                 if f.endswith(".parquet") or f.startswith("part-")]
        size = sum(_os.path.getsize(_os.path.join(path, f)) for f in files)
        n_target = max(1, math.ceil(size / target_bytes))
        if n_target >= len(files):
            return {"files_before": len(files), "files_after": len(files),
                    "bytes": size, "skipped": True}
        df = self.objects.load(self.spark, e.table_hash)
        staging = path + ".compact"
        (df.repartition(n_target)
           .write.mode("overwrite")
           .option("compression", self.objects.compression)
           .parquet(staging))
        # verify the rewrite preserved content before swapping layouts
        if table_content_hash(self.spark.read.parquet(staging)) \
                != e.table_hash:
            import shutil as _shutil
            _shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(f"compaction changed content of {name}")
        import shutil as _shutil
        _shutil.rmtree(path)
        _os.rename(staging, path)
        after = [f for f in _os.listdir(path) if f.startswith("part-")]
        return {"files_before": len(files), "files_after": len(after),
                "bytes": size, "skipped": False}

    def write_lease(self):
        """Writer lease spanning a MULTI-STEP write (bucket objects →
        manifest → catalog register). The per-object leases inside
        ``ObjectStore.put`` / ``_write_tagged_buckets`` each cover one
        stage→commit; a compound writer should hold this around the
        whole sequence so gc can't run between its steps."""
        return self.objects.lease()

    # -- garbage collection --------------------------------------------
    def gc(self, keep_versions: int | None = None, extra_live=(),
           collect_memoized: bool = False, dry_run: bool = False,
           force: bool = False, lease_stale_after: float = 3600.0) -> dict:
        """Mark-and-sweep over the write-once CAS.

        The reference never deletes (write-once stores only); at 100 TB
        a store that only grows is not operable, so GC is the one
        liveness operation we add. Mark: every table hash reachable
        from the retained catalog roots (last ``keep_versions``
        versions; None = all), plus memoized view outputs (unless
        ``collect_memoized`` evicts the compute cache), plus
        ``extra_live`` pins — closed over bucket-manifest references
        (the trie root → child edges). Sweep: delete every other
        object; prune memo entries whose target died (a memo hit must
        never dangle) and catalog roots older than the horizon.

        Concurrent-writer safety: every writer path holds a LEASE from
        stage-write through its catalog/memo registration
        (``ObjectStore.put``, ``Engine.save_*``,
        ``Materializer.materialize``, ``Engine.transaction``); gc
        refuses (``GcBusyError``) while any live lease exists — at
        entry AND again after the mark, with the sweep restricted to a
        pre-re-check listdir snapshot and the mark restarted if the
        catalog version moved (see the in-body ordering comment). So an
        in-flight object that no root references yet cannot be swept,
        however the writer and gc interleave
        (``tests/test_gc_writer_race.py``). Leases older than
        ``lease_stale_after`` are reaped as crashed writers;
        ``force=True`` overrides (single-writer setups)."""
        import shutil

        from .store import GcBusyError

        if not dry_run and not force:
            leases = self.objects.active_leases(
                stale_after=lease_stale_after)
            if leases:
                raise GcBusyError(
                    f"{len(leases)} writer lease(s) active; an in-flight "
                    f"stage-write could lose its object — retry when "
                    f"writes settle, or gc(force=True)")
        if keep_versions is not None and keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        from .plans.incremental import manifest_children

        # mark → snapshot → GATE → re-validate → sweep, retried when
        # the catalog advances mid-mark. The initial lease check is
        # not enough on its own: a writer acquiring its lease AFTER it
        # can commit before the sweep — including a root-reference to
        # an EXISTING unreferenced object (write-once dedup skips the
        # write, so "not in snapshot" does not protect it). The sweep
        # GATE closes every interleaving: it goes up before the final
        # lease/version re-check, and lease acquisition is
        # lock-then-validate against it (see ``ObjectStore.lease``) —
        # so any writer either holds a lease the re-check sees (gc
        # aborts busy) or observes the gate and waits out the sweep.
        # A finished writer moved the version (→ re-mark); a finished
        # MEMO-ONLY writer (Materializer) moves no version, so memo
        # targets are re-read behind the gate too. A heartbeat thread
        # keeps the gate fresh through long sweeps (per-entry touches
        # stall inside one huge rmtree), and writers ignore a stale
        # gate (crashed gc).
        def _memo_targets_now() -> set[str]:
            refresh = getattr(self.memo, "refresh", None)
            if refresh is not None:
                refresh()             # fold in other processes' entries
            cache = getattr(self.memo, "_cache", None)
            return (set(cache.values()) if cache is not None
                    else self._memo_targets())

        def _close_over_manifests(live: set[str], seed) -> None:
            # close over manifest → bucket edges (any manifest flavor)
            frontier = list(seed)
            while frontier:
                children = manifest_children(self.objects, frontier.pop())
                for h in children or ():
                    if h not in live:
                        live.add(h)
                        frontier.append(h)

        gated = False
        try:
            for _attempt in range(8):
                cur = self.catalog.current_version()
                min_v = 1 if keep_versions is None \
                    else max(1, cur - keep_versions + 1)
                live: set[str] = set(extra_live)
                for v in range(min_v, cur + 1):
                    root = self.catalog._load_root(v)
                    live |= {e["table_hash"] for e in root.values()}
                live |= {e["table_hash"]
                         for e in self.catalog._load_root(None).values()}
                mark_memo = _memo_targets_now()
                if not collect_memoized:
                    live |= mark_memo
                _close_over_manifests(live, live)
                snapshot = (sorted(os.listdir(self.objects.objects_dir))
                            if os.path.isdir(self.objects.objects_dir)
                            else [])
                if dry_run or force:
                    break
                self.objects.raise_sweep_gate()
                gated = True
                if self.objects.active_leases(
                        stale_after=lease_stale_after):
                    raise GcBusyError(
                        "writer lease appeared during mark — an "
                        "in-flight commit could lose its object; retry "
                        "when writes settle, or gc(force=True)")
                if self.catalog.current_version() == cur:
                    # quiescent window for CATALOG commits — but a
                    # Materializer.materialize commits via memo.put
                    # WITHOUT bumping the catalog version, so one that
                    # ran entirely inside the mark→gate window (lease
                    # acquired and released before the re-check above)
                    # and dedup'd onto an existing unreferenced object
                    # would be invisible here: the sweep would delete
                    # its object and the prune its fresh memo entry
                    # (ADVICE r10 medium). Re-read memo targets behind
                    # the gate — no new memo commit can start now — and
                    # union the late arrivals into live. Under
                    # collect_memoized only entries that appeared SINCE
                    # the mark are protected (evicting the standing
                    # compute cache is the caller's intent; losing an
                    # in-flight writer's commit never is).
                    late = _memo_targets_now()
                    if collect_memoized:
                        late -= mark_memo
                    new = late - live
                    if new:
                        live |= new
                        _close_over_manifests(live, new)
                    break   # snapshot is sweep-safe
                self.objects.lower_sweep_gate()
                gated = False
            else:
                raise GcBusyError(
                    "catalog advanced on every mark attempt — warehouse "
                    "too busy to gc; retry when writes settle, or "
                    "gc(force=True)")

            # heartbeat the gate for the whole sweep: per-entry touches
            # go stale during ONE long rmtree of a multi-GiB object,
            # letting writers judge the gc crashed mid-sweep (ADVICE r10)
            import contextlib
            hb = (self.objects.sweep_gate_heartbeat() if gated
                  else contextlib.nullcontext())
            swept: list[str] = []
            with hb:
                for entry in snapshot:
                    if entry not in live:
                        swept.append(entry)
                        if not dry_run:
                            shutil.rmtree(os.path.join(
                                self.objects.objects_dir, entry),
                                ignore_errors=True)
            # orphaned staging dirs: a kill-9'd writer never reaches
            # its finally-cleanup, leaking its stage-write forever
            # (GiB-scale at 100 TB). Age-gate: only reap entries older
            # than ``lease_stale_after`` — a LIVE writer's lease
            # heartbeat keeps gc out entirely (a fresh lease refuses
            # the sweep), and a writer that started after the gate
            # went up is waiting, so anything old here is a crashed
            # writer's leftover. ``force=True`` (single-writer setups)
            # reaps regardless of age.
            import time as _time
            orphaned_staging = 0
            staging_root = os.path.join(self.objects.warehouse, "staging")
            if os.path.isdir(staging_root):
                now = _time.time()
                for entry in sorted(os.listdir(staging_root)):
                    p = os.path.join(staging_root, entry)
                    try:
                        mtime = os.path.getmtime(p)
                    except OSError:
                        continue      # cleaned between list and stat
                    if not force and now - mtime <= lease_stale_after:
                        continue      # possibly an in-flight stage-write
                    orphaned_staging += 1
                    if not dry_run:
                        shutil.rmtree(p, ignore_errors=True)
            from .plans.incremental import EMPTY as _EMPTY
            # EMPTY-valued memo entries (a bucket op whose output is no
            # rows) reference no object — always live
            pruned_memo = 0 if dry_run else self.memo.prune(
                lambda h: h == _EMPTY or h in live)
            pruned_roots = 0
            if keep_versions is not None and not dry_run:
                pruned_roots = self.catalog.prune_roots(min_v)
            return {"live": len(live), "swept": swept,
                    "pruned_memo": pruned_memo, "pruned_roots": pruned_roots,
                    "orphaned_staging": orphaned_staging}
        finally:
            if gated:
                self.objects.lower_sweep_gate()

    def _memo_targets(self) -> set[str]:
        """Memo result hashes for backends without a dict cache."""
        if hasattr(self.memo, "_con"):
            return {r[0] for r in
                    self.memo._con.execute("SELECT value FROM memo_store")}
        return set()

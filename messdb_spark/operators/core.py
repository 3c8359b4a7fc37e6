"""Core dataflow operators — Spark re-expression of the reference's
engine proper (SURVEY.md §2.1; ``/root/reference/messdb-base/src/MessDB/Trie.hs``).

The reference's table is a sorted key→value relation; its three real
operators are merge-with-fold (O1, ``Trie.hs:297-430``), transform+resort
(O2, ``Trie.hs:433-470``) and key-range filter (O3, ``Trie.hs:472-510``).
Here a table is a ``KeyedTable``: a DataFrame plus declared key columns.
Sorted-ness is *logical* — we never force a physical global sort until an
ordered export/scan (O6) asks for one; Catalyst keeps plans shuffle-minimal.

Scale notes (100 TB):

- O1 merge = unionByName (no shuffle) + groupBy(key) hash-agg (one
  shuffle on the key, map-side partial agg free for commutative folds;
  ``max_by`` folds also partial-aggregate since max_by is an ordinary
  declarative aggregate).
- Fold order: the reference folds equal keys left-to-right in input
  order (``Trie.hs:396-401``). Spark aggregation is unordered, so each
  input carries a precedence ordinal; folds consume (value, ordinal)
  pairs. No global row_number — the ordinal is a constant per input
  (O1) or the old key tuple (O2), both shuffle-free.
- O3 range filter is a plain Catalyst filter → parquet min/max row-group
  skipping + partition pruning, the direct analog of the reference's
  subtree pruning (``Trie.hs:492-510``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import REGISTRY, FOLD_TO_LAST, FoldFunc, TransformFunc

_ORD = "__messdb_ord"


@dataclass(frozen=True)
class KeyedTable:
    """A relation with declared key columns (``Table k v`` analog,
    ``messdb-schema/src/MessDB/Table.hs:38-40``). Key uniqueness is an
    invariant maintained by the constructors below (merge folds
    collisions), mirroring the trie's one-value-per-key shape."""

    df: DataFrame
    key_cols: tuple[str, ...]
    #: content hash of the stored object ``df`` reads, set only by code
    #: that has just loaded that object; ``Engine.save_table`` then
    #: registers it without writing it again. A derived frame is a new
    #: KeyedTable and carries no hash.
    table_hash: str | None = None

    @property
    def value_cols(self) -> tuple[str, ...]:
        return tuple(c for c in self.df.columns if c not in self.key_cols)

    def sorted_df(self) -> DataFrame:
        """Globally key-ordered view (O6 ordered scan,
        ``Trie.hs:261-278``). Range-partitioned sort — the only place
        a total order is materialized."""
        return self.df.orderBy(*self.key_cols)


def _with_ord(df: DataFrame, ordinal: Column) -> DataFrame:
    return df.withColumn(_ORD, ordinal)


def merge_tables(tables: Sequence[KeyedTable], fold: FoldFunc = FOLD_TO_LAST,
                 allow_schema_evolution: bool = False) -> KeyedTable:
    """O1 ``mergeTables`` (``Trie.hs:297-430``): n-way merge; equal keys
    folded left-to-right in input order. UNION ALL + upsert + reduce in
    one operator.

    Physical strategy (chosen for 100 TB):

    - ``fold_to_last`` / ``fold_to_first`` (whole-row winner): pairwise
      **anti-join + union** — the loser side drops colliding keys via
      LEFT ANTI, then plain union. All-hash pipeline (no SortAggregate,
      which is what a ``max_by(struct)`` aggregation degrades to), and
      when the delta side is small Catalyst broadcasts it, so the big
      base table is *never shuffled* — the Delta-Lake-MERGE shape.
      (Key columns are non-null by table contract — the PRIMARY KEY
      rule in DDL — which anti-join equality requires.)
    - any other fold: unionByName (narrow) → one hash-agg shuffle on
      the key with map-side partial aggregation; later inputs win order
      via the per-input constant ordinal.
    """
    if not tables:
        raise ValueError("merge_tables needs >= 1 input")
    keys = tables[0].key_cols
    for t in tables:
        if t.key_cols != keys:
            raise ValueError(f"key mismatch: {t.key_cols} != {keys}")
    if allow_schema_evolution:
        # union of value columns in first-seen order (dtype from the
        # first input that defines each); inputs lacking a column
        # contribute typed nulls — the ADD COLUMN upsert the
        # reference's static schemas can't express
        value_cols = []
        vtypes = {}
        for t in tables:
            for f in t.df.schema.fields:
                if f.name not in keys and f.name not in vtypes:
                    vtypes[f.name] = f.dataType
                    value_cols.append(f.name)
        norm = [t.df.select(*keys, *[
            F.col(c) if c in t.df.columns
            else F.lit(None).cast(vtypes[c]).alias(c)
            for c in value_cols]) for t in tables]
    else:
        value_cols = list(tables[0].value_cols)
        norm = [t.df.select(*(list(keys) + value_cols)) for t in tables]
    cols = list(keys) + value_cols

    if fold.key in ("fold_to_last", "fold_to_first"):
        seq = norm
        if fold.key == "fold_to_first":
            seq = list(reversed(seq))
        acc = seq[0]
        for nxt in seq[1:]:
            # rows of acc whose key collides with nxt lose (nxt is the
            # later input); anti join keeps only non-colliding acc rows
            keep = acc.join(nxt.select(*keys), on=list(keys), how="left_anti")
            acc = keep.unionByName(nxt)
        return KeyedTable(acc, keys)

    dfs = [_with_ord(df, F.lit(i).cast("long"))
           for i, df in enumerate(norm)]
    u = dfs[0]
    for d in dfs[1:]:
        u = u.unionByName(d)
    agg_cols = fold.agg(value_cols, F.col(_ORD))
    out = u.groupBy(*[F.col(k) for k in keys]).agg(*agg_cols)
    return KeyedTable(out.select(*cols), keys)


def canonicalize_input(df: DataFrame, key_cols: Sequence[str],
                       fold: FoldFunc = FOLD_TO_LAST) -> KeyedTable:
    """Fold duplicate keys WITHIN one raw input before it enters the
    merge dataflow.

    The reference routes every bulk load through ``tableFromRows``,
    which folds within-input collisions deterministically in input
    order (``Table.hs:125-140``) — so a CSV with the same key twice
    yields one row (the later one). The anti-join fast path in
    ``merge_tables`` assumes one-row-per-key inputs, so every raw
    DataFrame (CSV/JSON/parquet import, stream micro-batch, upsert
    delta) must pass through here first or within-input duplicates
    survive the merge wholesale and break the one-row-per-key
    invariant (``check_table``) and content-hash canonicality.

    Ordinal = ``monotonically_increasing_id()`` = (partition index,
    in-partition offset) = file read order for file sources, so "last
    row in the file wins" exactly like the reference's in-order fold.
    Cost: one hash-agg shuffle on the key (map-side combine applies);
    inputs already known to be canonical (catalog loads) skip this."""
    keys = tuple(key_cols)
    value_cols = [c for c in df.columns if c not in keys]
    if not value_cols:
        # every column is a key: any fold of duplicates is the row
        # itself — canonicalization degenerates to DISTINCT
        return KeyedTable(df.select(*keys).distinct(), keys)
    with_ord = df.withColumn(_ORD, F.monotonically_increasing_id())
    agg_cols = fold.agg(value_cols, F.col(_ORD))
    out = with_ord.groupBy(*[F.col(k) for k in keys]).agg(*agg_cols)
    return KeyedTable(out.select(*df.columns), keys)


def apply_cdc(base: KeyedTable, oplog: DataFrame, op_col: str,
              ord_col: str | Column) -> KeyedTable:
    """Apply a change-data-capture op-log (upserts + delete tombstones)
    to a keyed table — the MERGE-with-DELETE the reference's fold
    algebra cannot express (folds only combine values; a tombstone must
    *remove* the key, ``Trie.hs:297-430`` has no such arm). Superset
    operator for CDC replication / GDPR erasure feeds.

    ``oplog`` rows carry the base's key+value columns plus ``op_col``
    ('upsert' | 'delete') and an ordering column ``ord_col`` (commit
    timestamp / LSN); for one key, the op with the greatest ordinal
    wins — later ops shadow earlier ones exactly like the reference's
    left-to-right fold order.

    Physical strategy (100 TB): ONE shuffle folds the op-log to its
    net effect per key — ``max_by`` with the payload in the buffer is
    sort-based (struct buffers aren't hash-aggregable), but the
    *partial* max_by runs map-side, so the Exchange moves one netted
    row per (partition, key), never the raw log (plan-asserted in
    ``test_plans.py``). Then the Delta-MERGE shape from ``merge_tables``: the
    base drops all *touched* keys via LEFT ANTI (broadcast when the
    delta is small — the base never shuffles) and surviving upserts
    union back in. Deletes of absent keys are silent no-ops, matching
    SQL MERGE ... WHEN MATCHED THEN DELETE."""
    keys = list(base.key_cols)
    value_cols = list(base.value_cols)
    ordc = F.col(ord_col) if isinstance(ord_col, str) else ord_col
    # net effect per key: the winning op + its values
    payload = F.struct(F.col(op_col).alias("__op"),
                       *[F.col(c).alias(c) for c in value_cols])
    net = (oplog.withColumn(_ORD, ordc)
                .groupBy(*[F.col(k) for k in keys])
                .agg(F.max_by(payload, F.col(_ORD)).alias("__net")))
    touched = net.select(*keys)
    survivors = base.df.join(touched, on=keys, how="left_anti")
    ups = (net.filter(F.col("__net.__op") != F.lit("delete"))
              .select(*keys, *[F.col(f"__net.{c}").alias(c)
                               for c in value_cols]))
    return KeyedTable(survivors.unionByName(ups), base.key_cols)


def sort_table(table: KeyedTable, transform: TransformFunc | str,
               fold: FoldFunc | str = FOLD_TO_LAST) -> KeyedTable:
    """O2 ``sortTable`` (``Trie.hs:433-470``): re-key/re-map every row
    with a named transform, rebuild keyed by the new key, folding
    collisions — the engine's projection + GROUP BY + re-sort in one.

    Fold order under the new key = order of appearance = old key order
    (the input is key-sorted), so the precedence ordinal is the old key
    tuple itself — constant-space, no windowing, no extra shuffle.
    Plan: project (narrow) → hash-agg shuffle on the new key.
    """
    if isinstance(transform, str):
        transform = REGISTRY.get_transform(transform)
    if isinstance(fold, str):
        fold = REGISTRY.get_fold(fold)
    old_key_struct = F.struct(*[F.col(k) for k in table.key_cols])
    new_keys = transform.new_key_cols
    # ordinal column: the old key tuple (struct compares lexicographically)
    transformed = transform.fn(table.df.withColumn(_ORD, old_key_struct))
    if _ORD not in transformed.columns:
        raise ValueError(f"transform {transform.key!r} must preserve pass-through columns")
    value_cols = [c for c in transformed.columns if c not in new_keys and c != _ORD]
    agg_cols = fold.agg(value_cols, F.col(_ORD))
    out = transformed.groupBy(*[F.col(k) for k in new_keys]).agg(*agg_cols)
    return KeyedTable(out.select(*new_keys, *value_cols), tuple(new_keys))


@dataclass(frozen=True)
class KeyBound:
    """One end of a key range (``KeyRange`` analog, ``Trie.hs:540-568``).
    ``value`` is a tuple matching a key-column prefix; None = unbounded."""
    value: tuple[Any, ...] | None
    inclusive: bool = True


def _bound_expr(key_cols: Sequence[str], bound: KeyBound, lower: bool) -> Column | None:
    """Lexicographic tuple comparison as a Catalyst expression.

    Emitted as nested OR/AND of per-column comparisons so each leading-
    column predicate stays eligible for parquet min/max pushdown; a
    single-column bound compiles to one pushable comparison."""
    if bound.value is None:
        return None
    vals = bound.value
    cols = list(key_cols)[: len(vals)]
    # struct comparison: (k1,k2) >= (v1,v2) lexicographic
    expr = None
    for i in range(len(vals) - 1, -1, -1):
        c, v = F.col(cols[i]), F.lit(vals[i])
        if i == len(vals) - 1:
            if lower:
                leaf = (c >= v) if bound.inclusive else (c > v)
            else:
                leaf = (c <= v) if bound.inclusive else (c < v)
            expr = leaf
        else:
            strict = (c > v) if lower else (c < v)
            expr = strict | ((c == v) & expr)
    return expr


def range_filter(table: KeyedTable, lo: KeyBound = KeyBound(None),
                 hi: KeyBound = KeyBound(None)) -> KeyedTable:
    """O3 ``rangeFilterTable`` (``Trie.hs:472-510``): keep rows with key
    in [lo, hi]. Compiles to a pushed-down Catalyst filter — parquet
    row-group min/max skipping is the direct analog of the reference's
    prefix-range subtree pruning (``Trie/Path.hs:117-145``)."""
    df = table.df
    lo_e = _bound_expr(table.key_cols, lo, lower=True)
    hi_e = _bound_expr(table.key_cols, hi, lower=False)
    if lo_e is not None:
        df = df.filter(lo_e)
    if hi_e is not None:
        df = df.filter(hi_e)
    return KeyedTable(df, table.key_cols)


def table_from_rows(spark: SparkSession, rows: Iterable[tuple], schema,
                    key_cols: Sequence[str],
                    fold: FoldFunc = FOLD_TO_LAST) -> KeyedTable:
    """O4 ``tableFromRows`` (``Table.hs:125-140``): bulk load with
    duplicate-key folding in input order. The reference's 1024-way
    hierarchical merge is a trie artifact; here one createDataFrame +
    one fold-merge agg does it (Spark's shuffle-sort is the bulk path).
    """
    rows = list(rows)
    df = spark.createDataFrame(rows, schema=schema)
    # input-order ordinal via a zipWithIndex-free trick: rows are local
    # here (bulk load API); attach ordinal before parallelizing.
    from pyspark.sql import types as T
    base = spark.createDataFrame(
        [(*r, i) for i, r in enumerate(rows)],
        schema=T.StructType(list(df.schema.fields) + [T.StructField(_ORD, T.LongType(), False)]),
    )
    keys = tuple(key_cols)
    value_cols = [c for c in df.columns if c not in keys]
    agg_cols = fold.agg(value_cols, F.col(_ORD))
    out = base.groupBy(*keys).agg(*agg_cols)
    return KeyedTable(out.select(*df.columns), keys)


def table_insert(table: KeyedTable, row: dict[str, Any],
                 fold: FoldFunc = FOLD_TO_LAST) -> KeyedTable:
    """O5 ``tableInsert`` (``Table.hs:142-143``): point upsert = merge
    with a singleton table, new row wins. At warehouse scale this is the
    MERGE INTO pattern; as a dataflow op it is O1 with a 1-row right side
    (which Catalyst will broadcast… but the agg path keeps exact fold
    semantics)."""
    spark = table.df.sparkSession
    single = spark.createDataFrame([row], schema=table.df.schema)
    return merge_tables([table, KeyedTable(single, table.key_cols)], fold)


def check_table(table: KeyedTable) -> bool:
    """O10 ``checkTrie`` analog (``Trie.hs:593-631``): validate the
    table invariants that every operator must preserve — key columns
    exist, keys are non-null, and keys are unique (the canonical-shape
    property: one row per key, so equal content ⇒ equal content hash).
    Sortedness is logical here (enforced at ordered scan/export), so
    uniqueness + non-nullness are the machine-checkable invariants.
    One aggregation job; use in tests and after untrusted imports."""
    df = table.df
    for k in table.key_cols:
        if k not in df.columns:
            return False
    keys = [F.col(k) for k in table.key_cols]
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*keys).alias("nk"),
        # coalesce: sum over ZERO rows is NULL, and an empty table is
        # valid (invariants hold vacuously) — NULL == 0 must not fail it
        F.coalesce(
            F.sum(F.when(F.greatest(*[k.isNull() for k in keys])
                         if len(keys) > 1 else keys[0].isNull(), 1)
                  .otherwise(0)),
            F.lit(0)).alias("nulls")).collect()[0]
    return agg["nulls"] == 0 and agg["n"] == agg["nk"]


def table_to_rows(table: KeyedTable) -> list[tuple]:
    """O6 ``tableToRows`` (``Trie.hs:261-278``): ordered full scan.
    Driver-side by definition (it returns rows) — use only on small
    results; large exports go through the sinks module."""
    return [tuple(r) for r in table.sorted_df().collect()]


def diff_tables(old: KeyedTable, new: KeyedTable) -> DataFrame:
    """Version diff (CDC): rows added, removed, or changed between two
    snapshots of the same keyed table — the change feed the reference's
    content-addressed roots make natural (every catalog version is a
    live snapshot; ``Repo.hs:42-43`` keeps them all) but its API never
    exposes.

    Output: key columns + ``change`` ('added'|'removed'|'changed') +
    ``old_<c>``/``new_<c>`` for every value column. Unchanged rows are
    dropped (the common case — emitting them would make the diff as
    big as the table).

    Physical: one full-outer join on the key (null-safe value compare).
    Both sides shuffle once; at scale prefer ``plans.incremental.
    diff_bucketed``, which compares bucket digests first and joins ONLY
    the buckets whose content hash changed — the trie-diff move
    (``Trie.hs:346-348``: shared subtrees are pruned by hash equality
    without being read)."""
    if old.key_cols != new.key_cols:
        raise ValueError(f"key mismatch: {old.key_cols} != {new.key_cols}")
    keys = list(old.key_cols)
    value_cols = [c for c in old.df.columns if c not in keys]
    if set(value_cols) != set(c for c in new.df.columns if c not in keys):
        raise ValueError("diff_tables requires identical value columns")
    # explicit presence flags (value columns may be legitimately null,
    # so null-ness of a value column cannot encode which side matched)
    o = (old.df.select(*keys, *[F.col(c).alias(f"old_{c}")
                                for c in value_cols])
         .withColumn("_in_old", F.lit(True)))
    n = (new.df.select(*keys, *[F.col(c).alias(f"new_{c}")
                                for c in value_cols])
         .withColumn("_in_new", F.lit(True)))
    j = o.join(n, on=keys, how="full_outer")
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (F.when(F.col("_in_old").isNull(), "added")
               .when(F.col("_in_new").isNull(), "removed")
               .when(changed, "changed"))
    out_cols = (keys + ["change"]
                + [f"old_{c}" for c in value_cols]
                + [f"new_{c}" for c in value_cols])
    return (j.withColumn("change", status)
             .filter(F.col("change").isNotNull())
             .select(*out_cols))

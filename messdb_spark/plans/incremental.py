"""Bucket-granular incremental tables — the Spark analog of messdb's
untouched-subtree passthrough (``/root/reference/messdb-base/src/MessDB/
Trie.hs:346-348``: a subtree present in only one merge input is emitted
without descent or rehash, making incremental update cost proportional
to the *changed key-space*, not the table size).

Model: a ``BucketedRef`` is a manifest of B content-addressed bucket
objects (bucket b holds the rows with ``pmod(xxhash64(key), B) == b``) —
structurally the same thing as a trie root node holding child hashes,
with fan-out B instead of 16. The table's identity is the hash of its
manifest, so equal content ⇒ equal identity, and two tables sharing
unchanged buckets share those objects in the store (structural sharing).

Upsert of a delta D into table T:

1. bucket D with the same hash function (narrow map over the small D);
2. the touched bucket set is D's bucket set — usually ≪ B;
3. merge ONLY the touched buckets (anti-join + union, the last-wins
   physical strategy of ``operators.core.merge_tables``), write them as
   new bucket objects, re-digest them in one aggregation job;
4. untouched buckets are passed through as manifest references — no
   read, no compute, no write (the ``Trie.hs:346-348`` move).

Scale: work and IO are O(|D| + Σ touched bucket sizes). With B sized so
buckets ≈ a few GB, a point-delta upsert into a 100 TB table touches a
handful of buckets. Bucket-pruned key lookups come free: a key's bucket
is computable, so point reads open exactly one object.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hashing import bucket_content_hashes, table_content_hash
from ..operators.core import KeyedTable
from ..store import ObjectStore

_BUCKET = "__messdb_bucket"
EMPTY = "empty"   # manifest marker for an empty bucket


@dataclass(frozen=True)
class BucketedRef:
    """Manifest of bucket object hashes (trie-root-node analog)."""
    key_cols: tuple[str, ...]
    n_buckets: int
    bucket_hashes: tuple[str, ...]      # EMPTY for empty buckets
    schema_json: str

    @property
    def table_hash(self) -> str:
        payload = json.dumps({"buckets": list(self.bucket_hashes),
                              "key_cols": list(self.key_cols)}, sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()


def _bucket_expr(key_cols: tuple[str, ...], n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))


def _write_buckets(store: ObjectStore, df: DataFrame, key_cols: tuple[str, ...],
                   n_buckets: int, bucket_whitelist: set[int] | None = None
                   ) -> dict[int, str]:
    """Write df partitioned by bucket into per-bucket CAS objects.

    One partitioned write + one digest aggregation; the per-bucket dirs
    are then renamed to their content address (pure filesystem moves —
    no second data pass). Returns bucket → hash for non-empty buckets.
    """
    with_b = df.withColumn(_BUCKET, _bucket_expr(key_cols, n_buckets))
    if bucket_whitelist is not None:
        with_b = with_b.filter(F.col(_BUCKET).isin(*bucket_whitelist))
    # tag_domain (the digest fold) only on the whitelisted DELTA path:
    # a full materialization is data-bound and keeps the read-back
    return _write_tagged_buckets(
        store, with_b,
        n_parts=(len(bucket_whitelist) if bucket_whitelist is not None
                 else n_buckets),
        tag_domain=(sorted(bucket_whitelist)
                    if bucket_whitelist is not None else None))


#: fold the per-bucket digest into the write job only while the tag
#: domain keeps the observation buffer this narrow (5 aggregates per
#: tag); wider writes — e.g. a 4096-bucket full materialization at
#: scale — keep the staged read-back, whose cost is data-proportional
#: there, not job-overhead-bound
_OBSERVE_TAG_MAX = 64
#: ... and only while estimated bytes x tag count stays under this
#: bound: the fold's CollectMetrics updates run INTERPRETED per row
#: at ~5 x |tags| expression evaluations each (measured: a 100k-row
#: x 32-tag fold tripled the write stage), so it pays off exactly on
#: the job-overhead-bound regime — small delta/partial writes — while
#: row-heavy rewrites keep the codegen'd read-back scan. Callers only
#: pass ``tag_domain`` on delta paths (full builds are data-bound by
#: definition), whose inputs are scans of stored bucket objects with
#: trustworthy size estimates; a missing estimate skips the fold.
_OBSERVE_WORK_MAX = 32 * 1024 * 1024


def _estimated_bytes(df: DataFrame) -> int | None:
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — private API: degrade to read-back
        return None


def _write_tagged_buckets(store: ObjectStore, with_b: DataFrame,
                          key_fn=int, n_parts: int | None = None,
                          pre_arranged: bool = False,
                          tag_domain: list | None = None) -> dict:
    """Write a frame already carrying ``_BUCKET`` into per-bucket CAS
    objects: ONE partitioned write (+ a digest read-back only when the
    digest could not be folded into it), then pure renames — never a
    job per bucket. ``key_fn``: tag → returned dict key (int for flat
    layouts, str for adaptive ``b``/``b_c`` tags). ``n_parts``: width
    of the bucket-keyed exchange — pass the (touched) bucket count when
    known so a 2-bucket delta write doesn't fan out to
    ``spark.sql.shuffle.partitions`` near-empty tasks. ``pre_arranged``:
    the caller already repartitioned by the tag (and possibly sorted
    within partitions — zorder/range layouts); skip the internal
    exchange so that arrangement survives. ``tag_domain``: the CLOSED
    set of values ``_BUCKET`` can take — when given (and small, see
    ``_OBSERVE_TAG_MAX``), the per-bucket digests ride the write job as
    an Observation (guide §1.2: one job per bucket write instead of
    two; r16, the ``cas.put`` digest fold extended to bucket writes)."""
    spark = with_b.sparkSession
    staging = os.path.join(store.warehouse, "staging",
                           hashlib.sha256(os.urandom(16)).hexdigest()[:16])
    # stage-write FIRST, digest the same single evaluation — either
    # folded into the write job (tag_domain path) or by re-scanning the
    # staged bytes — so a nondeterministic plan can't produce bucket
    # files that mismatch their content addresses.
    # repartition by the bucket tag first: a bare partitionBy write
    # emits one file per (upstream task × bucket) — measured 8x file
    # amplification at 8 tasks, paid again by the digest read-back AND
    # by every later read_bucketed/index scan (guide §6 small-files;
    # the xs refresh re-reads the index three times per delta). Keyed
    # on the tag, each bucket lands in exactly one task → one file per
    # bucket; bucket sizing (~64k keys) bounds per-file size at scale.
    from ..hashing import observed_bucket_hashes
    from ..session import job_desc

    if pre_arranged:
        rep = with_b
    elif n_parts:
        rep = with_b.repartition(n_parts, F.col(_BUCKET))
    else:
        rep = with_b.repartition(F.col(_BUCKET))
    finish = None
    if tag_domain is not None and 0 < len(tag_domain) <= _OBSERVE_TAG_MAX:
        est = _estimated_bytes(with_b)
        if est is not None and 0 <= est * len(tag_domain) \
                <= _OBSERVE_WORK_MAX:
            # observe ON TOP of the exchange: the CollectMetrics node
            # then evaluates in the result (write) stage, whose
            # exactly-once accumulator contract observed_content_hash
            # already relies on
            rep, finish = observed_bucket_hashes(rep, _BUCKET,
                                                 list(tag_domain))
    with store.lease(), \
            job_desc(spark, f"cas.bucket_write[{n_parts or '?'}p]"):
        # lease: GC must not sweep mid stage→commit
        (rep.write.mode("overwrite").partitionBy(_BUCKET)
            .option("compression", store.compression).parquet(staging))
        # staged partition dirs by tag: the writer Hive-escapes tag
        # values in directory names (":" → "%3A", "%" → "%25")
        staged = {unquote(d.split("=", 1)[1]): d
                  for d in os.listdir(staging) if d.startswith(f"{_BUCKET}=")}
        hashes = finish(key_fn) if finish is not None else None
        if hashes is not None:
            # a tag outside the declared domain would have been written
            # but never digested/registered — catch the caller bug
            # loudly instead of silently dropping data
            extra = set(staged) - {str(t) for t in tag_domain}
            if extra:
                raise AssertionError(
                    f"bucket write produced tags outside the declared "
                    f"domain: {sorted(extra)[:8]}")
        else:     # no fold, or its metrics never came: re-scan the stage
            # explicit schema: an all-empty write leaves no part files
            # to infer from (legitimate since empty outputs memoize)
            hashes = bucket_content_hashes(
                spark.read.schema(with_b.schema).parquet(staging), _BUCKET,
                key_fn=key_fn)
        schema = with_b.drop(_BUCKET).schema
        for b, h in hashes.items():
            src = os.path.join(staging, staged[str(b)])
            dst = store.path(h)
            if store.exists(h):
                store.save_skips += 1      # content dedup: already stored
            else:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(src, dst)
                open(os.path.join(dst, "_SUCCESS"), "w").close()
                store.saves += 1
                store.schemas[h] = schema
        shutil.rmtree(staging, ignore_errors=True)
    return hashes


def write_bucketed(store: ObjectStore, table: KeyedTable,
                   n_buckets: int = 64) -> BucketedRef:
    """Materialize a table as B content-addressed bucket objects."""
    hashes = _write_buckets(store, table.df, table.key_cols, n_buckets)
    return BucketedRef(
        key_cols=table.key_cols, n_buckets=n_buckets,
        bucket_hashes=tuple(hashes.get(b, EMPTY) for b in range(n_buckets)),
        schema_json=table.df.schema.json())


def save_manifest(store: ObjectStore, ref: BucketedRef) -> str:
    """Persist a BucketedRef as a write-once CAS object (a directory
    holding ``manifest.json``) — the durable trie-root-node: the
    table's identity is the manifest hash, and the manifest carries the
    child object hashes, so catalog entries / GC / other processes can
    reach the buckets from the hash alone."""
    h = ref.table_hash
    d = store.path(h)
    if store.exists(h):
        store.save_skips += 1
        return h
    payload = {"kind": "bucketed_manifest",
               "key_cols": list(ref.key_cols),
               "n_buckets": ref.n_buckets,
               "bucket_hashes": list(ref.bucket_hashes),
               "schema_json": ref.schema_json}
    with store.lease():
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, ".manifest.tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(d, "manifest.json"))
        open(os.path.join(d, "_SUCCESS"), "w").close()
        store.saves += 1
    return h


def load_manifest(store: ObjectStore, table_hash: str) -> BucketedRef | None:
    """Read a persisted BucketedRef back; None if the object is not a
    manifest (plain parquet table)."""
    p = os.path.join(store.path(table_hash), "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        m = json.load(f)
    if m.get("kind") != "bucketed_manifest":
        return None     # a different manifest flavor (e.g. range-bucketed)
    return BucketedRef(key_cols=tuple(m["key_cols"]),
                       n_buckets=m["n_buckets"],
                       bucket_hashes=tuple(m["bucket_hashes"]),
                       schema_json=m["schema_json"])


def manifest_children(store: ObjectStore, table_hash: str) -> list[str] | None:
    """Child object hashes of ANY manifest flavor (hash- or range-
    bucketed), or None if the object is plain parquet — the one edge
    walker GC/sync need, so new layouts can't silently leak from the
    liveness closure."""
    p = os.path.join(store.path(table_hash), "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        m = json.load(f)
    if m.get("kind") not in ("bucketed_manifest", "range_bucketed_manifest",
                             "adaptive_bucketed_manifest"):
        return None
    out: list[str] = []
    for e in m["bucket_hashes"]:
        if isinstance(e, list):          # adaptive split entry: children
            out += [h for h in e if h != EMPTY]
        elif e != EMPTY:
            out.append(e)
    return out


def read_bucketed(spark: SparkSession, store: ObjectStore,
                  ref: BucketedRef, buckets: list[int] | None = None) -> KeyedTable:
    """Assemble the table (or a bucket subset — bucket pruning for
    point lookups) from its bucket objects."""
    from pyspark.sql import types as T

    wanted = range(ref.n_buckets) if buckets is None else buckets
    paths = [store.path(ref.bucket_hashes[b]) for b in wanted
             if ref.bucket_hashes[b] != EMPTY]
    schema = T.StructType.fromJson(json.loads(ref.schema_json))
    if not paths:
        return KeyedTable(spark.createDataFrame([], schema=schema), ref.key_cols)
    store.loads += len(paths)
    # the manifest's schema: an inferring read costs a footer job
    return KeyedTable(spark.read.schema(schema).parquet(*paths), ref.key_cols)


def read_stored_table(spark: SparkSession, store: ObjectStore,
                      table_hash: str, key_cols) -> KeyedTable:
    """Read any stored table by hash: a manifest of any flavor
    reassembles from its bucket objects, a plain object loads with its
    known schema. ``Engine.load_table`` and the view IR's scan node
    both resolve through here."""
    ref = load_manifest(store, table_hash)
    if ref is not None:
        return read_bucketed(spark, store, ref)
    from .range_layout import load_range_manifest, read_range_bucketed
    rref = load_range_manifest(store, table_hash)
    if rref is not None:
        return read_range_bucketed(spark, store, rref)
    from .adaptive import load_adaptive_manifest, read_adaptive
    aref = load_adaptive_manifest(store, table_hash)
    if aref is not None:
        return read_adaptive(spark, store, aref)
    return KeyedTable(store.load(spark, table_hash), tuple(key_cols))


def touched_buckets(delta: DataFrame, deletes: DataFrame | None,
                    key_cols: tuple[str, ...], n_buckets: int) -> list[int]:
    """Sorted bucket ids an upsert of ``delta`` (and ``deletes``)
    rewrites, in ONE global aggregation over the raw keys: folding
    duplicate delta keys does not change the key set, so this never
    waits on the delta's canonicalization."""
    b = _bucket_expr(key_cols, n_buckets).alias("b")
    keys = delta.select(b)
    if deletes is not None:
        keys = keys.union(deletes.select(b))
    row = keys.agg(F.collect_set("b").alias("bs")).collect()[0]
    return sorted(row["bs"])


def incremental_upsert(spark: SparkSession, store: ObjectStore,
                       ref: BucketedRef, delta: DataFrame,
                       deletes: DataFrame | None = None) -> BucketedRef:
    """Last-wins upsert of a delta, touching only the delta's buckets.

    Untouched buckets pass through by reference (``Trie.hs:346-348``);
    touched buckets re-merge via the anti-join strategy and get new
    content addresses. Total cost: one pass over the (small) delta +
    one pass over the touched buckets only.

    ``deletes``: optional key-only frame of rows to REMOVE — the churn
    analog (docs leaving a crawl). Delete keys' buckets are rewritten
    without those rows; a delete of an absent key rewrites identical
    content, which the CAS dedups back to the same bucket hash.
    """
    keys = ref.key_cols
    touched = touched_buckets(delta, deletes, keys, ref.n_buckets)
    if not touched:
        return ref
    # fold within-delta duplicate keys first (last delta row wins) —
    # the anti-join below requires a one-row-per-key delta
    from ..operators.core import canonicalize_input
    delta = canonicalize_input(delta, keys).df
    delta_b = delta.withColumn(_BUCKET, _bucket_expr(keys, ref.n_buckets))
    del_keys = None
    if deletes is not None:
        del_keys = deletes.select(*keys).distinct()
    base_touched = read_bucketed(spark, store, ref, buckets=touched).df
    delta_rows = delta_b.drop(_BUCKET).select(*base_touched.columns) \
        if base_touched.columns else delta
    # anti-join merge (operators.core strategy): delta wins on key collision
    keep = base_touched.join(delta_rows.select(*keys), on=list(keys), how="left_anti")
    if del_keys is not None:
        keep = keep.join(del_keys, on=list(keys), how="left_anti")
    merged = keep.unionByName(delta_rows)
    new_hashes = _write_buckets(store, merged, keys, ref.n_buckets,
                                bucket_whitelist=set(touched))
    bh = list(ref.bucket_hashes)
    for b in touched:
        bh[b] = new_hashes.get(b, EMPTY)
    return BucketedRef(key_cols=keys, n_buckets=ref.n_buckets,
                       bucket_hashes=tuple(bh), schema_json=ref.schema_json)


def incremental_agg_view(spark: SparkSession, store: ObjectStore, memo,
                         ref: BucketedRef, view_key: str,
                         group_cols: list[str],
                         aggs: dict[str, tuple[str, "F.Column"]]):
    """Incrementally-maintained AGGREGATION view over a bucketed table:
    ``groupBy(group_cols).agg(...)`` for distributive/algebraic
    aggregates, refreshed in cost ∝ changed buckets.

    Buckets partition the *key* space, not the group space, so a
    group's rows span buckets — but distributive aggregates re-combine
    from per-bucket partials exactly like Spark's own map-side partial
    aggregation, just persisted: each bucket's partial aggregate is a
    small content-addressed object memoized by

        sha256(OP_AGG_BUCKET ‖ view key ‖ input bucket hash)

    After a delta upsert, only the touched buckets' partials recompute;
    the final combine unions B tiny partial objects and re-aggregates
    (sum→sum, count→sum, max→max, min→min — the classic two-phase
    rule). ``aggs`` maps output name → (recombine op, partial Column).

    The combine is a memo node too, keyed by

        sha256(OP_AGG_COMBINE ‖ view key ‖ sorted partial hashes)

    and probed only when every partial was a hit (a recomputed partial
    means a new key, so ``memo.misses`` counts recomputed partials
    only). A miss stores the combined frame key-sorted in the CAS. The
    returned KeyedTable, keyed by ``group_cols``, reads that object and
    carries its hash, so ``Engine.save_table`` registers it without a
    write: a refresh over unchanged input launches no Spark job."""
    recombine = {"sum": F.sum, "count": F.sum, "max": F.max, "min": F.min}
    for name, (op, _c) in aggs.items():
        if op not in recombine:
            raise ValueError(f"{name}: non-distributive recombine op {op}")

    def bucket_digest(in_hash: str) -> str:
        return hashlib.sha256(
            f"OP_AGG_BUCKET|{view_key}|{in_hash}".encode()).hexdigest()

    partial_hashes: list[str] = []
    missed: list[int] = []
    for b, in_hash in enumerate(ref.bucket_hashes):
        if in_hash == EMPTY:
            continue
        hit = memo.get(bucket_digest(in_hash))
        if hit is not None and store.exists(hit):
            partial_hashes.append(hit)
        else:
            missed.append(b)

    if missed:
        # ALL missed partials in one pass: one multi-path read of the
        # missed buckets, bucket id re-derived from the key hash (rows
        # in bucket b hash to b by construction), one (bucket, group)
        # aggregation, one partitioned stage-write + one digest job
        # (_write_tagged_buckets) — a fixed number of jobs regardless
        # of how many buckets missed, instead of ~3 jobs per bucket.
        tagged = (read_bucketed(spark, store, ref, buckets=missed).df
                  .withColumn(_BUCKET,
                              _bucket_expr(ref.key_cols, ref.n_buckets)))
        partials = tagged.groupBy(_BUCKET, *group_cols).agg(
            *[c.alias(n) for n, (_op, c) in aggs.items()])
        new_hashes = _write_tagged_buckets(store, partials,
                                           n_parts=len(missed),
                                           tag_domain=missed)
        for b in missed:
            h = new_hashes[b]
            memo.put(bucket_digest(ref.bucket_hashes[b]), h)
            partial_hashes.append(h)

    combine_digest = hashlib.sha256(
        f"OP_AGG_COMBINE|{view_key}|{','.join(sorted(partial_hashes))}"
        .encode()).hexdigest()
    h = memo.get(combine_digest) if not missed else None
    if h is None or not store.exists(h):
        parts = store.load_union(spark, partial_hashes)
        combined = parts.groupBy(*group_cols).agg(
            *[recombine[op](F.col(n)).alias(n)
              for n, (op, _c) in aggs.items()])
        # lease: gc must not sweep between the CAS commit and the memo
        # record that keeps the object live
        with store.lease():
            h = store.put(combined, table_content_hash,
                          key_cols=tuple(group_cols))
            memo.put(combine_digest, h)
    return KeyedTable(store.load(spark, h), tuple(group_cols), table_hash=h)


def _map_bucket_digest(transform_key: str, in_hash: str) -> str:
    """The per-bucket memo key of ``incremental_map_view`` — factored
    out so ``seed_map_view_memo`` provably writes the same digests the
    view reads."""
    return hashlib.sha256(
        f"OP_MAP_BUCKET|{transform_key}|{in_hash}".encode()).hexdigest()


def seed_map_view_memo(memo, src_ref: BucketedRef, view_ref: BucketedRef,
                       transform_key: str) -> int:
    """Rehydrate per-bucket memo records from a persisted
    (source, view) manifest PAIR whose maintained invariant is
    view bucket b == transform(source bucket b).

    Memo records are STORE-LOCAL provenance: ``Engine.sync_table``
    ships objects and catalog entries to another warehouse, but not
    the memo, so the first refresh there would re-sign every untouched
    bucket — and trip the verbs' delta-bound asserts — even though
    both manifests and all their bucket objects arrived intact. The
    manifest pair itself carries everything the memo recorded (input
    hash → output hash under a named transform), so seeding is pure
    bookkeeping: zero data jobs, one batched memo write of at most
    n_buckets records; existing records are left untouched (the memo
    is advisory — a live record may already point at a newer
    equivalent object). Returns the number of records written.

    Seeding is defined ONLY for key-preserving map views — the same
    contract as ``incremental_map_view``, the sole consumer of the
    seeded records (ADVICE r12 #2: the src==view key_cols check below
    deliberately rejects re-keying transforms, not just mispaired
    manifests; a re-keying view is maintained by different machinery
    and its records would never be read back under these digests)."""
    if src_ref.n_buckets != view_ref.n_buckets:
        raise ValueError(
            f"manifest pair disagrees on n_buckets: "
            f"{src_ref.n_buckets} vs {view_ref.n_buckets}")
    # cheap mispairing rejection (ADVICE r11): the maintained invariant
    # is caller-asserted, but an obviously mismatched pair — different
    # key columns, or a transform that doesn't even produce the view's
    # keys — would silently poison the memo with wrong output hashes
    # that incremental_map_view then reuses (the objects exist, so the
    # store.exists guard passes). Catalog-metadata checks only.
    if src_ref.key_cols != view_ref.key_cols:
        raise ValueError(
            f"manifest pair disagrees on key_cols: "
            f"{src_ref.key_cols} vs {view_ref.key_cols}")
    from ..registry import REGISTRY
    if transform_key not in REGISTRY.transforms:
        raise ValueError(
            f"unknown transform {transform_key!r} — register it before "
            f"seeding (the memo digests embed the FuncKey, so records "
            f"seeded under an unregistered name could never be "
            f"validated against the transform they claim)")
    transform = REGISTRY.get_transform(transform_key)
    if tuple(transform.new_key_cols) != tuple(view_ref.key_cols):
        raise ValueError(
            f"transform {transform_key!r} produces keys "
            f"{tuple(transform.new_key_cols)} but the view manifest is "
            f"keyed by {tuple(view_ref.key_cols)}")
    fresh: dict[str, str] = {}
    for in_h, out_h in zip(src_ref.bucket_hashes, view_ref.bucket_hashes):
        if in_h == EMPTY:
            continue              # map_view never consults EMPTY inputs
        d = _map_bucket_digest(transform_key, in_h)
        if memo.get(d) is None:   # EMPTY outputs memoize too (ADVICE r5)
            fresh[d] = out_h
    if fresh:
        memo.put_many(fresh)
    return len(fresh)


def incremental_map_view(spark: SparkSession, store: ObjectStore, memo,
                         ref: BucketedRef, transform_key: str) -> BucketedRef:
    """Incrementally-maintained materialized view over a bucketed table
    for a *key-preserving* named transform (the bucket-local class: the
    output row's bucket equals its input row's bucket, so the view's
    bucket b depends only on the input's bucket b).

    Per-bucket memoization — the recursive per-node memoize of the
    reference (``Trie.hs:280-295``: each subtree's op-hash is its own
    cache entry) at bucket granularity:

        bucket_op_digest = sha256(op-tag ‖ transform key ‖ input bucket hash)

    Refresh after a delta upsert therefore recomputes ONLY the buckets
    whose input hash changed; every other bucket is a memo hit that
    reuses its existing output object. No change tracking, no delta
    log — "incrementally updated materialized views" exactly as the
    reference's cabal synopsis promises, with refresh cost ∝ changed
    key-space.
    """
    from ..registry import REGISTRY

    transform = REGISTRY.get_transform(transform_key)
    if tuple(transform.new_key_cols) != tuple(ref.key_cols):
        raise ValueError("incremental_map_view needs a key-preserving transform")

    def bucket_digest(in_hash: str) -> str:
        return _map_bucket_digest(transform_key, in_hash)

    out_hashes: list[str] = [EMPTY] * ref.n_buckets
    missed: list[int] = []
    for b, in_hash in enumerate(ref.bucket_hashes):
        if in_hash == EMPTY:
            continue
        hit = memo.get(bucket_digest(in_hash))
        if hit == EMPTY:              # memoized empty output (a filter
            continue                  # dropped the whole bucket)
        if hit is not None and store.exists(hit):
            out_hashes[b] = hit
        else:
            missed.append(b)

    out_schema_json = ref.schema_json
    if missed:
        base = read_bucketed(spark, store, ref, buckets=missed).df
        transformed = transform.fn(base.withColumn("__messdb_ord", F.lit(0)))
        transformed = transformed.drop("__messdb_ord")
        out_schema_json = transformed.schema.json()
        new_hashes = _write_buckets(store, transformed, ref.key_cols,
                                    ref.n_buckets, bucket_whitelist=set(missed))
        for b in missed:
            h = new_hashes.get(b, EMPTY)
            out_hashes[b] = h
            # EMPTY memoizes too (ADVICE r5): an unchanged bucket whose
            # transform output is empty must be a hit on the next
            # refresh, not a recompute — cost ∝ changed key-space
            memo.put(bucket_digest(ref.bucket_hashes[b]), h)
    else:
        # recover output schema from any materialized bucket
        for h in out_hashes:
            if h != EMPTY:
                out_schema_json = store.schema(spark, h).json()
                break

    return BucketedRef(key_cols=ref.key_cols, n_buckets=ref.n_buckets,
                       bucket_hashes=tuple(out_hashes),
                       schema_json=out_schema_json)


def incremental_sort_view(spark: SparkSession, store: ObjectStore, memo,
                          ref: BucketedRef, transform_key: str,
                          fold_key: str = "fold_to_last") -> KeyedTable:
    """Incrementally-maintained RE-KEYED view (O2 ``sortTable``,
    ``Trie.hs:433-470``) over a bucketed table — the class
    ``incremental_map_view`` rejects (the transform CHANGES the key, so
    an output row's bucket no longer matches its input row's bucket).

    Strategy: per-source-bucket PARTIALS keyed by the new key. Each
    input bucket folds its own rows under the new key (keeping the
    winning fold ordinal = old-key tuple, so precedence survives), and
    that partial is a content-addressed object memoized by

        sha256(OP_SORT_BUCKET ‖ transform key ‖ fold key ‖ bucket hash)

    Refresh after a delta upsert recomputes ONLY the partials of
    changed buckets — the expensive transform + input scan never runs
    for untouched key-space — then one final combine re-folds the B
    partial objects under the new key (ordinal-correct: max_by/min_by
    over the stored winner ordinals reproduces exactly the old-key-
    order fold of a from-scratch ``sort_table``; sums recombine by
    sum). The combine is the irreducible cost of a key change (every
    new key can receive rows from every bucket); it reads pre-folded
    partials, not the input table.
    """
    from ..operators.core import _ORD
    from ..registry import REGISTRY

    transform = REGISTRY.get_transform(transform_key)
    fold = REGISTRY.get_fold(fold_key)
    new_keys = tuple(transform.new_key_cols)

    def bucket_digest(in_hash: str) -> str:
        return hashlib.sha256(
            f"OP_SORT_BUCKET|{transform_key}|{fold_key}|{in_hash}"
            .encode()).hexdigest()

    ord_agg = {"fold_to_first": F.min}.get(fold_key, F.max)
    partial_hashes: list[str] = []
    missed: list[int] = []
    for b, in_hash in enumerate(ref.bucket_hashes):
        if in_hash == EMPTY:
            continue
        hit = memo.get(bucket_digest(in_hash))
        if hit == EMPTY:                  # transform emitted no rows
            continue
        if hit is not None and store.exists(hit):
            partial_hashes.append(hit)
        else:
            missed.append(b)

    value_cols: list[str] = []
    if missed:
        base = read_bucketed(spark, store, ref, buckets=missed).df
        old_key_struct = F.struct(*[F.col(k) for k in ref.key_cols])
        transformed = transform.fn(base.withColumn(_ORD, old_key_struct))
        if _ORD not in transformed.columns:
            raise ValueError(f"transform {transform_key!r} must preserve "
                             f"pass-through columns")
        # source bucket id re-derived from the ordinal (the old key
        # tuple) — the transform needn't carry a bucket column, and
        # xxhash64 over the struct fields equals the original bucketing
        in_bucket = F.pmod(
            F.xxhash64(*[F.col(_ORD).getField(k) for k in ref.key_cols]),
            F.lit(ref.n_buckets))
        value_cols = [c for c in transformed.columns
                      if c not in new_keys and c != _ORD]
        partials = (transformed.withColumn(_BUCKET, in_bucket)
                    .groupBy(_BUCKET, *new_keys)
                    .agg(*fold.agg(value_cols, F.col(_ORD)),
                         ord_agg(F.col(_ORD)).alias(_ORD)))
        new_hashes = _write_tagged_buckets(store, partials,
                                           n_parts=len(missed),
                                           tag_domain=missed)
        for b in missed:
            h = new_hashes.get(b, EMPTY)
            memo.put(bucket_digest(ref.bucket_hashes[b]), h)
            if h != EMPTY:
                partial_hashes.append(h)

    if not partial_hashes:
        raise ValueError("incremental_sort_view over an empty table")
    parts = spark.read.parquet(*[store.path(h) for h in partial_hashes])
    store.loads += len(partial_hashes)
    if not value_cols:
        value_cols = [c for c in parts.columns
                      if c not in new_keys and c != _ORD]
    combined = parts.groupBy(*new_keys).agg(
        *fold.agg(value_cols, F.col(_ORD)))
    return KeyedTable(combined.select(*new_keys, *value_cols), new_keys)


def incremental_join_view(spark: SparkSession, store: ObjectStore, memo,
                          ref_a: BucketedRef, ref_b: BucketedRef,
                          view_key: str) -> BucketedRef:
    """Incrementally-maintained JOIN view of two co-bucketed tables
    sharing the same key columns and bucket count — the
    column-extension (feature-assembly) inner join on the common
    primary key, e.g. stitching independently-produced per-document
    feature tables into one training row.

    Because both sides bucket by the SAME hash of the SAME key, output
    bucket b depends only on the input bucket pair (A_b, B_b): the
    join is bucket-local, no cross-bucket row can ever match. Each
    output bucket is a content-addressed object memoized by

        sha256(OP_JOIN_BUCKET ‖ view key ‖ A bucket hash ‖ B bucket hash)

    so refreshing after a delta to EITHER side recomputes only buckets
    whose pair changed — materialized-join-view maintenance with cost
    ∝ changed key-space, no delta log, no change tracking (the
    ``Trie.hs:346-348`` passthrough applied to a binary operator).
    Inner semantics: a bucket empty on either side is EMPTY in the
    view without any compute.

    Scale: the recompute path reads only missed buckets of each side;
    co-bucketing makes the join itself shuffle-bounded by those
    buckets (a 100 TB × 100 TB join refresh after a point delta reads
    and joins a few GB)."""
    if ref_a.key_cols != ref_b.key_cols:
        raise ValueError(f"key mismatch: {ref_a.key_cols} != {ref_b.key_cols}")
    if ref_a.n_buckets != ref_b.n_buckets:
        raise ValueError(
            f"bucket-count mismatch: {ref_a.n_buckets} != {ref_b.n_buckets}")

    def bucket_digest(ha: str, hb: str) -> str:
        return hashlib.sha256(
            f"OP_JOIN_BUCKET|{view_key}|{ha}|{hb}".encode()).hexdigest()

    out_hashes: list[str] = [EMPTY] * ref_a.n_buckets
    missed: list[int] = []
    for b, (ha, hb) in enumerate(zip(ref_a.bucket_hashes,
                                     ref_b.bucket_hashes)):
        if ha == EMPTY or hb == EMPTY:
            continue                      # inner join: provably empty
        hit = memo.get(bucket_digest(ha, hb))
        if hit == EMPTY:                  # memoized empty join output
            continue
        if hit is not None and store.exists(hit):
            out_hashes[b] = hit
        else:
            missed.append(b)

    out_schema_json = None
    if missed:
        keys = list(ref_a.key_cols)
        a = (read_bucketed(spark, store, ref_a, buckets=missed).df
             .withColumn(_BUCKET, _bucket_expr(ref_a.key_cols,
                                               ref_a.n_buckets)))
        b_df = read_bucketed(spark, store, ref_b, buckets=missed).df
        joined = a.join(b_df, on=keys, how="inner")
        out_schema_json = joined.drop(_BUCKET).schema.json()
        new_hashes = _write_tagged_buckets(store, joined,
                                           n_parts=len(missed),
                                           tag_domain=missed)
        for b in missed:
            h = new_hashes.get(b, EMPTY)
            out_hashes[b] = h
            # EMPTY memoizes too (ADVICE r5): a nonempty-input pair
            # joining to zero rows must hit on the next refresh, or the
            # pair recomputes every refresh and can spuriously trip the
            # refresh_misses <= n_changed in-body assertion
            memo.put(bucket_digest(ref_a.bucket_hashes[b],
                                   ref_b.bucket_hashes[b]), h)
    if out_schema_json is None:
        for h in out_hashes:
            if h != EMPTY:
                out_schema_json = store.schema(spark, h).json()
                break
        else:
            out_schema_json = ref_a.schema_json
    return BucketedRef(key_cols=ref_a.key_cols, n_buckets=ref_a.n_buckets,
                       bucket_hashes=tuple(out_hashes),
                       schema_json=out_schema_json)


def diff_bucketed(spark: SparkSession, store: ObjectStore,
                  old: BucketedRef, new: BucketedRef) -> DataFrame:
    """Version diff with bucket pruning — the trie-diff move
    (``Trie.hs:346-348`` in reverse): buckets whose content hash is
    EQUAL in both manifests are provably identical (write-once CAS) and
    are skipped without being read; only differing buckets pay the
    full-outer-join diff of ``operators.core.diff_tables``.

    On a 100 TB table where a delta touched 3 of 4096 buckets, the diff
    reads 2 x 3 bucket objects instead of 2 x 100 TB. Same manifest ⇒
    provably empty diff with ZERO data jobs."""
    from ..operators.core import KeyedTable, diff_tables

    if old.key_cols != new.key_cols or old.n_buckets != new.n_buckets:
        raise ValueError("diff_bucketed requires same key cols and fan-out")
    changed = [b for b in range(old.n_buckets)
               if old.bucket_hashes[b] != new.bucket_hashes[b]]
    o = read_bucketed(spark, store, old, buckets=changed)
    n = read_bucketed(spark, store, new, buckets=changed)
    return diff_tables(KeyedTable(o.df, old.key_cols),
                       KeyedTable(n.df, new.key_cols))

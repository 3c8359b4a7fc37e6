"""Order-insensitive table content hashing (SURVEY.md §4.2).

The reference's table identity IS the SHA-256 of its canonical trie root
(``/root/reference/messdb-base/src/MessDB/Trie.hs:203-212``): the same
row multiset always hashes identically, regardless of build order. We
reproduce the *property* (content → deterministic id, independent of
partitioning/insertion order) with a commutative combine over per-row
hashes — all JVM-side, one pass, map-side partial aggregation:

    row_digest  = xxhash64(canonical per-column encoding)
    table_hash  = sha256(count ‖ sum(row_digest) ‖ bit_xor(row_digest)
                         ‖ sum(rot(row_digest)) ‖ schema_fingerprint)

sum+xor+rotated-sum over 64-bit row digests makes collisions require a
deliberate attack, which is outside the threat model (the reference's
memo cache trusts SHA-256 similarly but this cache is advisory).

Canonical per-column encoding: every column is cast to string with fixed
formatting (timestamps → ISO micros, floats → repr via cast to string in
Spark's UTC session, binary → hex, arrays/structs → to_json). Every
``\\x00`` in an encoded VALUE is escaped to ``\\x00E``, so the NULL
sentinel ``\\x00N`` and the column separator ``\\x00|`` (both carrying
an unescaped ``\\x00``) cannot collide with data or shift column
boundaries — distinct rows encode distinctly. This keeps the digest
stable across partitioning, shuffle order, and parquet file layout.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NULL = "\x00N"
_SEP = "\x00|"


def _canon_col(field: T.StructField) -> F.Column:
    c = F.col(field.name)
    dt = field.dataType
    if isinstance(dt, T.BinaryType):
        s = F.hex(c)
    elif isinstance(dt, T.TimestampType):
        s = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        s = F.to_json(c)
    elif isinstance(dt, T.DoubleType) or isinstance(dt, T.FloatType):
        # cast to double first so float32 widens deterministically
        s = c.cast("double").cast("string")
    else:
        s = c.cast("string")
    # escape \x00 in the value so the sentinel/separator (which carry
    # an unescaped \x00) can't be forged by data
    s = F.replace(s, F.lit("\x00"), F.lit("\x00E"))
    return F.coalesce(s, F.lit(_NULL))


def schema_fingerprint(df: DataFrame) -> str:
    """(name, type) only — nullability is declaration metadata, not
    content: a parquet round-trip relaxes nullable flags and must not
    change a table's identity (actual NULLs are covered by the row
    encoding's sentinel)."""
    fields = sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    return hashlib.sha256(json.dumps(fields, sort_keys=True).encode()).hexdigest()


def _digest_aggs(c: F.Column | str = "c") -> list:
    # hash sums go through DECIMAL(38,0): a LONG sum wraps, which ANSI
    # mode (the default in plain Spark 4 sessions) rejects with
    # ARITHMETIC_OVERFLOW — the decimal sum is exact in both modes
    # (|sum| <= rows * 2^63, within 38 digits up to ~5e18 rows) and is
    # reduced mod 2^64 driver-side so the digest value is mode-invariant.
    # SINGLE source of truth for the digest formula: the two-pass path
    # (table_content_hash / bucket_content_hashes) and the observed
    # single-job path (observed_content_hash) must never fork — a
    # divergence would silently split content addresses between write
    # paths (tests/test_observed_digest.py pins the equality).
    if isinstance(c, str):
        c = F.col(c)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(c).cast("decimal(38,0)")).alias("s1"),
        F.bit_xor(F.xxhash64(c)).alias("x1"),
        F.sum(F.xxhash64(c, F.lit(1)).cast("decimal(38,0)")).alias("s2"),
        F.bit_xor(F.xxhash64(c, F.lit(1))).alias("x2"),
    ]


def _wrap64(v) -> str:
    return "0" if v is None else str(int(v) % (2 ** 64))


def _digest_of_row(row, schema_fp: str) -> str:
    payload = json.dumps({
        "n": row["n"], "s1": _wrap64(row["s1"]), "x1": _wrap64(row["x1"]),
        "s2": _wrap64(row["s2"]), "x2": _wrap64(row["x2"]),
        "schema": schema_fp,
    }, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()


def canon_column(df: DataFrame, exclude: tuple[str, ...] = ()) -> F.Column:
    """The canonical per-row encoding used by all content digests."""
    fields = sorted((f for f in df.schema.fields if f.name not in exclude),
                    key=lambda f: f.name)
    return F.concat_ws(_SEP, *[_canon_col(f) for f in fields])


def table_content_hash(df: DataFrame, sort_columns: bool = True) -> str:
    """Deterministic, partition-order-insensitive content hash.

    One aggregation job: row xxhash64 → {count, sum, xor, rotated sum}.
    Scale: map-side partials, single-row shuffle — O(rows) scan, O(1)
    result. Safe at 100 TB.
    """
    agg = df.select(canon_column(df).alias("c")).select(*_digest_aggs())
    return _digest_of_row(agg.collect()[0], schema_fingerprint(df))


#: seconds a digest fold waits for its observed metrics. Spark
#: delivers them on the listener bus right after the action; an event
#: the bus drops (a full queue in an overloaded JVM) would leave
#: ``Observation.get`` blocked forever, so past this wait ``finish``
#: returns None and the caller re-scans the bytes it wrote.
OBSERVE_WAIT_S = 30


def _observed_row(obs):
    """The metrics row of an Observation whose action has run, or None
    if it was not delivered within :data:`OBSERVE_WAIT_S`."""
    from py4j.protocol import Py4JJavaError

    jvm = obs._jvm
    try:
        jvm.scala.concurrent.Await.ready(
            obs._jo.future(),
            jvm.scala.concurrent.duration.Duration.create(
                OBSERVE_WAIT_S, "seconds"))
    except Py4JJavaError:
        return None
    return obs.get


def observed_content_hash(df: DataFrame):
    """Digest-during-action: returns ``(observed_df, finish)`` where
    ``observed_df`` is ``df`` with the content-digest aggregates
    attached as an :class:`pyspark.sql.Observation`, and ``finish()``
    (callable once any action has consumed ``observed_df``) returns
    the same hash :func:`table_content_hash` would compute — WITHOUT a
    second pass (None if the metrics never arrived, see
    :data:`OBSERVE_WAIT_S`). ``ObjectStore.put`` uses it to fold the digest into
    the stage-write job: the rows streaming through the parquet writer
    ARE the rows digested, so the single evaluation also guarantees a
    nondeterministic plan can't store bytes mismatching their address
    (the property the old write-then-rescan sequence bought with an
    extra O(rows) job per CAS write — VERDICT r8 task 6 measured it at
    ~50% of every content-hashed write).

    Exactness: the digest is commutative over per-row hashes, so
    observing pre-write rows equals re-scanning the written file; the
    canonical encoding sees identical values either way (parquet
    round-trips preserve NaN/-0.0/denormals, and the schema
    fingerprint already ignores the one thing a round-trip relaxes —
    nullability). Observed metrics come from each partition's first
    successful task only (Spark's exactly-once accumulator contract
    for result stages), so task retries don't double-count;
    ``tests/test_observed_digest.py`` pins observed == rescan across
    the tricky-type matrix."""
    from pyspark.sql import Observation

    obs = Observation()
    odf = df.observe(obs, *_digest_aggs(canon_column(df)))
    fp = schema_fingerprint(df)

    def finish() -> str | None:
        row = _observed_row(obs)
        return None if row is None else _digest_of_row(row, fp)
    return odf, finish


# ObjectStore.put consults this attribute to fold the digest into its
# stage-write job; any custom content_hash_fn without it keeps the
# two-job write-then-rescan path
table_content_hash.observed = observed_content_hash


def observed_bucket_hashes(df: DataFrame, bucket_col: str, tags: list):
    """Per-bucket analog of :func:`observed_content_hash` — digest ALL
    buckets of a tagged frame DURING the write action instead of
    re-scanning the staged bytes afterwards (guide §1.2: one job per
    bucket write instead of two). ``tags`` is the closed set of values
    ``bucket_col`` can take (the callers all know it: a whitelist, a
    touched list, or ``range(n_buckets)``); each tag gets the same five
    aggregates the groupBy path computes, in ONE Observation, so
    ``finish(key_fn)`` returns exactly the dict
    :func:`bucket_content_hashes` would have, or None like
    :func:`observed_content_hash` (pinned by
    ``tests/test_observed_digest.py``). Rows stream through the parquet
    writer once and are digested in the same pass — the
    single-evaluation guarantee of :func:`observed_content_hash` holds
    per bucket.

    Performance shape: ``CollectMetrics`` evaluates its aggregate
    inputs with an INTERPRETED projection, per row — putting
    ``xxhash64(canon)`` inside the aggregates made the write stage ~8x
    slower, and expanding it into per-tag ``when`` COLUMNS embedded the
    canon expression 2x|tags| times in one Project, blowing codegen
    past the huge-method limit and de-optimizing the whole write stage
    (both measured). So: the two canonical row hashes are computed
    exactly ONCE per row as real columns in a small codegen'd Project
    BELOW the observation, the observed aggregates wrap them in cheap
    per-tag conditionals (a tag compare + a column ref — fine to run
    interpreted), and the helper columns are dropped ABOVE the observe
    so the written files never carry them."""
    from pyspark.sql import Observation

    schema_fp = schema_fingerprint(df.drop(bucket_col))
    c = canon_column(df, exclude=(bucket_col,))
    H1, H2 = "__messdb_dg_h1", "__messdb_dg_h2"
    h1, h2 = F.col(H1), F.col(H2)
    aggs = []
    for i, t in enumerate(tags):
        cond = F.col(bucket_col) == F.lit(t)
        aggs += [
            F.count(F.when(cond, h1)).alias(f"n{i}"),   # h is never null
            F.sum(F.when(cond, h1).cast("decimal(38,0)")).alias(f"a{i}"),
            F.bit_xor(F.when(cond, h1)).alias(f"x{i}"),
            F.sum(F.when(cond, h2).cast("decimal(38,0)")).alias(f"b{i}"),
            F.bit_xor(F.when(cond, h2)).alias(f"y{i}"),
        ]
    obs = Observation()
    odf = (df.select("*", F.xxhash64(c).alias(H1),
                     F.xxhash64(c, F.lit(1)).alias(H2))
             .observe(obs, *aggs).drop(H1, H2))

    def finish(key_fn=int) -> dict | None:
        row = _observed_row(obs)
        if row is None:
            return None
        out = {}
        for i, t in enumerate(tags):
            if not row[f"n{i}"]:
                continue          # empty bucket: no object, like groupBy
            out[key_fn(t)] = _digest_of_row(
                {"n": row[f"n{i}"], "s1": row[f"a{i}"], "x1": row[f"x{i}"],
                 "s2": row[f"b{i}"], "x2": row[f"y{i}"]}, schema_fp)
        return out
    return odf, finish


def bucket_content_hashes(df: DataFrame, bucket_col: str,
                          key_fn=int) -> dict:
    """Per-bucket content digests in ONE aggregation job (groupBy the
    bucket id over the same canonical row encoding; the bucket column
    itself is excluded from row content). Powers bucket-level
    incremental reuse: an unchanged bucket keeps its digest without
    any per-bucket jobs. ``key_fn`` maps the bucket tag (int ids for
    flat layouts, ``"b"``/``"b_c"`` strings for the adaptive two-level
    layout) to the returned dict key."""
    schema_fp = schema_fingerprint(df.drop(bucket_col))
    agg = (df.select(F.col(bucket_col).alias("b"),
                     canon_column(df, exclude=(bucket_col,)).alias("c"))
             .groupBy("b").agg(*_digest_aggs()))
    return {key_fn(r["b"]): _digest_of_row(r, schema_fp)
            for r in agg.collect()}

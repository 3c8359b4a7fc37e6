"""View-IR + plan-digest memoization — the engine's defining feature
(O8 ``memoize``, ``/root/reference/messdb-base/src/MessDB/Trie.hs:280-295``).

The reference wraps every operator in a memo layer keyed by
SHA-256(op-tag ‖ function keys ‖ input node hashes) — op tags at
``Trie.hs:574-581``, hash sites at ``Trie.hs:306-312,446-452,481-486``.
We mirror it one level up: a small *view IR* (op tree over named
functions + input table hashes) is canonically serialized and SHA-256'd;
the digest keys a manifest of materialized parquet outputs. Hit → reuse
the stored parquet, the computation never runs (the reference's
``MemoStore`` contract). Miss → run the DataFrame job, store
content-addressed, record.

We hash our own IR rather than Catalyst's plan object so digests are
stable across Spark versions (SURVEY.md §4.2).

IR node forms (JSON):
    {"op": "scan",  "table_hash": h}
    {"op": "merge", "fold": key, "inputs": [ir...]}
    {"op": "sort",  "transform": key, "fold": key, "input": ir}
    {"op": "range", "lo": [..]|null, "lo_inc": b, "hi": .., "hi_inc": b, "input": ir}
    {"op": "sql",   "query": text, "inputs": {view_name: ir, ...}}

The op-tag strings are ours, not the reference's byte tags — parity is
semantic (same memoization behavior), not byte-level.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..operators.core import KeyBound, KeyedTable, merge_tables, range_filter, sort_table
from ..registry import REGISTRY
from ..store import MemoStore, ObjectStore


def plan_digest(ir: dict) -> str:
    """Canonical JSON → SHA-256 (op-hash analog, ``Trie.hs:306-312``)."""
    return hashlib.sha256(
        json.dumps(ir, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()


def scan(table_hash: str, key_cols: list[str]) -> dict:
    return {"op": "scan", "table_hash": table_hash, "key_cols": key_cols}


def merge(inputs: list[dict], fold: str = "fold_to_last") -> dict:
    return {"op": "merge", "fold": fold, "inputs": inputs}


def sort(input_ir: dict, transform: str, fold: str = "fold_to_last") -> dict:
    return {"op": "sort", "transform": transform, "fold": fold, "input": input_ir}


def range_(input_ir: dict, lo=None, lo_inc=True, hi=None, hi_inc=True) -> dict:
    return {"op": "range", "lo": lo, "lo_inc": lo_inc,
            "hi": hi, "hi_inc": hi_inc, "input": input_ir}


def sql_view(query: str, inputs: dict[str, dict]) -> dict:
    return {"op": "sql", "query": query,
            "inputs": {k: inputs[k] for k in sorted(inputs)}}


def xs_spans(input_ir: dict, key_col: str = "doc_id",
             text_col: str = "text", min_len: int = 30) -> dict:
    """ExactSubstr span detection as a memoizable view node (VERDICT
    r9 #2): digest = op + L + column bindings + input node, so the
    expensive detection materializes ONCE per (corpus version, L) and
    every family member — stats, clean, the CLI verb — reuses the
    cached manifest."""
    return {"op": "xs_spans", "L": int(min_len), "key_col": key_col,
            "text_col": text_col, "input": input_ir}


def xs_clean(input_ir: dict, key_col: str = "doc_id",
             text_col: str = "text", min_len: int = 30) -> dict:
    """ExactSubstr CUT step as a view node. Its evaluation first
    materializes the ``xs_spans`` node over the same input (recursive
    per-node memo — a prior spans/clean/CLI run makes detection a
    hit), then applies the span excision only."""
    return {"op": "xs_clean", "L": int(min_len), "key_col": key_col,
            "text_col": text_col, "input": input_ir}


class Materializer:
    """Evaluates view IR with memoization (recursive, like the
    reference's per-node memoize — every sub-view digest is its own
    cache entry, so shared subplans materialize once)."""

    def __init__(self, spark: SparkSession, objects: ObjectStore, memo: MemoStore,
                 content_hash_fn) -> None:
        self.spark = spark
        self.objects = objects
        self.memo = memo
        self.content_hash_fn = content_hash_fn
        self.computed_ops = 0     # ops actually executed (memo misses)

    def _eval(self, ir: dict) -> KeyedTable:
        op = ir["op"]
        if op == "scan":     # plain object or manifest of any layout
            from .incremental import read_stored_table
            return read_stored_table(self.spark, self.objects,
                                     ir["table_hash"], ir["key_cols"])
        if op == "merge":
            ins = [self._materialize_node(i) for i in ir["inputs"]]
            return merge_tables(ins, REGISTRY.get_fold(ir["fold"]))
        if op == "sort":
            return sort_table(self._materialize_node(ir["input"]),
                              REGISTRY.get_transform(ir["transform"]),
                              REGISTRY.get_fold(ir["fold"]))
        if op == "range":
            lo = KeyBound(tuple(ir["lo"]) if ir["lo"] is not None else None, ir["lo_inc"])
            hi = KeyBound(tuple(ir["hi"]) if ir["hi"] is not None else None, ir["hi_inc"])
            return range_filter(self._materialize_node(ir["input"]), lo, hi)
        if op == "sql":
            for name, sub in ir["inputs"].items():
                self._materialize_node(sub).df.createOrReplaceTempView(name)
            return KeyedTable(self.spark.sql(ir["query"]), ())
        if op == "xs_spans":
            from ..queries.linkage import exact_substring_spans_for
            t = self._materialize_node(ir["input"])
            spans, pinned = exact_substring_spans_for(
                t.df, ir["key_col"], ir["text_col"], ir["L"])
            spans.__xs_pinned__ = pinned   # released after the CAS put
            return KeyedTable(spans, ("doc_id", "span_start"))
        if op == "xs_clean":
            from ..queries.linkage import exact_substring_clean_from_spans
            spans_h = self.materialize(
                {"op": "xs_spans", "L": ir["L"], "key_col": ir["key_col"],
                 "text_col": ir["text_col"], "input": ir["input"]})
            spans = self.objects.load(self.spark, spans_h)
            doc = self._materialize_node(ir["input"]).df
            return KeyedTable(
                exact_substring_clean_from_spans(
                    doc, spans, ir["key_col"], ir["text_col"]),
                ("doc_id",))
        raise ValueError(f"unknown op {op!r}")

    def _materialize_node(self, ir: dict) -> KeyedTable:
        if ir["op"] == "scan":   # scans are already materialized objects
            return self._eval(ir)
        h = self.materialize(ir)
        key_cols = self._key_cols_of(ir)
        return KeyedTable(self.objects.load(self.spark, h), key_cols)

    def _key_cols_of(self, ir: dict) -> tuple[str, ...]:
        op = ir["op"]
        if op == "scan":
            return tuple(ir["key_cols"])
        if op == "merge":
            return self._key_cols_of(ir["inputs"][0])
        if op == "sort":
            return tuple(REGISTRY.get_transform(ir["transform"]).new_key_cols)
        if op == "range":
            return self._key_cols_of(ir["input"])
        if op == "sql":
            return ()
        if op == "xs_spans":
            return ("doc_id", "span_start")
        if op == "xs_clean":
            return ("doc_id",)
        raise ValueError(op)

    def materialize(self, ir: dict) -> str:
        """Returns the content hash of the materialized view; memo hit ⇒
        no Spark job on the data path."""
        digest = plan_digest(ir)
        hit = self.memo.get(digest)
        if hit is not None and self.objects.exists(hit):
            return hit
        table = self._eval(ir)
        self.computed_ops += 1
        # single evaluation: stage-write, hash the written data, rename
        # into the CAS (write-once: dedups equal content); keyed views
        # land key-sorted so reloads keep the pruning invariant.
        # Lease spans put AND memo.put: between CAS commit and memo
        # record the output is referenced by nothing, and a concurrent
        # gc would sweep it, leaving the memo to record a dangling hash
        pinned = getattr(table.df, "__xs_pinned__", None)
        try:
            with self.objects.lease():
                h = self.objects.put(table.df, self.content_hash_fn,
                                     key_cols=tuple(table.key_cols))
                self.memo.put(digest, h)
        finally:
            if pinned is not None:
                # blocking, and on the ERROR path too: a failed put must
                # not leak the candidate blocks into executor storage
                # (the r4 storage-leak class the pin discipline targets)
                pinned.unpersist(blocking=True)
        return h

    def dataframe(self, ir: dict) -> DataFrame:
        return self.objects.load(self.spark, self.materialize(ir))

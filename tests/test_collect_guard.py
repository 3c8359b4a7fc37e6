"""Structural no-driver-bottleneck guard (VERDICT r12 next-round #7).

Every ``.collect()`` / ``.toPandas()`` in ``messdb_spark/`` pulls rows
onto the driver — at 100 TB an unbounded one is an OOM or an
hours-long stall. The verdicts have repeatedly spot-checked that all
sites are bounded (codebooks, 1-row aggregates, quantile grids, digest
rows, bucket-id lists); this test makes the property STRUCTURAL: an
AST scan fails on any site whose enclosing function is not in the
allowlist below, and every allowlist entry must state its boundedness
argument. Adding a new collect means writing down WHY it is bounded —
or refactoring it away (``toLocalIterator`` streams; joins/aggs stay
distributed).

Keyed by ``relative/path.py::function`` (not line numbers) so ordinary
edits don't churn the list; a context with several collects carries
one argument for all of them (they share the frame being collected).
Stale entries fail too, so the list can't rot."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "messdb_spark")

# context → why every collect/toPandas in it is bounded
ALLOWED = {
    "cli.py::main": "1-row sum aggregate (dup_chars stat)",
    "engine.py::_merge_into": "1-row count of a MERGE's matched rows",
    "hashing.py::bucket_content_hashes":
        "one digest row per bucket; n_buckets is a manifest constant",
    "hashing.py::table_content_hash": "1-row xor/sum digest aggregate",
    "operators/core.py::check_table": "1-row validity aggregate",
    "operators/core.py::table_to_rows":
        "explicit small-result materializer; callers own the bound "
        "(tests and CLI tails), the engine never calls it on corpora",
    "plans/adaptive.py::lookup_adaptive":
        "point lookup: ≤1 manifest row + the rows of one key",
    "plans/adaptive.py::upsert_adaptive":
        "distinct touched bucket ids — delta-bounded by definition",
    "plans/incremental.py::touched_buckets":
        "1-row set of touched bucket ids — at most n_buckets values",
    "plans/range_layout.py::incremental_upsert_range":
        "distinct touched range-bucket ids — delta-bounded",
    "plans/zorder.py::write_zclustered":
        "per-column quantile-grid bounds: n_bits × n_cols scalars",
    "queries/engine_ops.py::dpp_partition_pruned_join":
        "1-row average over the pruned dimension side",
    "queries/features.py::exact_median_per_segment":
        "one rank row per segment (segments ≤ distinct mktsegment)",
    "queries/features.py::exact_median_twopass":
        "1-row count + 2-row boundary slice at the median rank",
    "queries/features.py::exact_percentile_grid":
        "grid of (segment × percentile) scalars",
    "queries/features.py::weighted_median_price_per_priority":
        "one threshold row per priority (≤ distinct priorities)",
    "queries/graph.py::dedup_near_incremental":
        "1-row meta record + per-change-kind delta counts (≤3 rows)",
    "queries/graph.py::_commit_dedup_outputs":
        "distinct touched OUTPUT bucket ids — ≤ n_buckets values "
        "(manifest constant), derived from the delta∪flip key frame; "
        "keys themselves never reach the driver",
    "queries/graph.py::_delta_local_labels_body":
        "1-row edge-bound aggregate (r14 edge-level delta-locality "
        "witness; r15: body split out so delta_local_labels can "
        "unpersist locally when pinned=None)",
    "queries/linkage.py::_xs_replace_docs":
        "distinct touched bucket ids — delta-bounded",
    "queries/linkage.py::dedup_substrings_incremental":
        "1-row meta record + change-kind counts (≤3 rows)",
    "queries/linkage.py::exact_substring_long_docs":
        "1-row meta/threshold aggregates over the span stats",
    "queries/linkage.py::exact_substring_refresh_for":
        "1-row meta record + delta/partner counters",
    "queries/similarity.py::ann_recall_eval":
        "per-probe recall rows: n_queries is a literal constant",
    "queries/similarity.py::embedding_quantize_int8":
        "per-dimension min/max bounds: dim scalars",
    "queries/similarity.py::incremental_ivf_refresh":
        "cell centroids + per-cell counters: n_cells literal constant",
    "queries/similarity.py::ivf_store_pruned_search":
        "probed cell ids + IO counters: ≤ n_cells rows",
    "queries/similarity.py::_check_cell_balance":
        "cell-balance gate: ≤ n_cells count rows (r13 trained "
        "codebook; r14: factored out so the gate key matches the "
        "codebook cache identity)",
    "queries/similarity.py::kmeans_fit":
        "k centroids per iteration, k a literal constant — the one "
        "training collect the whole trained-codebook family shares",
    "queries/sketches.py::bloom_prefilter_join":
        "one aggregated bloom bitset row (fixed m bits)",
    "queries/sketches.py::ddsketch_price_quantiles":
        "merged sketch: bounded bucket counts (log-γ bins)",
    "queries/sketches.py::hll_md5_distinct_orders":
        "one merged HLL register row (fixed 2^p registers)",
    "queries/tokenizer.py::_learn_merges":
        "1-row argmax per BPE merge iteration",
    "queries/tpch3.py::q15_top_supplier": "1-row max-revenue scalar",
    "store.py::put": "guarded by MemoryObjectStore (test double) — "
        "see class docstring; production ObjectStore.put writes "
        "distributed parquet",
    "store.py::save": "MemoryObjectStore test double holds rows "
        "in-process by design",
}


def _collect_contexts() -> dict[str, int]:
    found: dict[str, int] = {}
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), path)

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack: list[str] = []

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Attribute(self, n):
                    if n.attr in ("collect", "toPandas"):
                        ctx = self.stack[-1] if self.stack else "<module>"
                        key = f"{rel}::{ctx}"
                        found[key] = found.get(key, 0) + 1
                    self.generic_visit(n)

            V().visit(tree)
    return found


def test_every_collect_site_has_a_boundedness_argument():
    found = _collect_contexts()
    unlisted = sorted(set(found) - set(ALLOWED))
    assert not unlisted, (
        f"driver-side collect/toPandas in contexts with no recorded "
        f"boundedness argument: {unlisted} — either refactor the "
        f"collect away (toLocalIterator / keep it distributed) or add "
        f"the context to ALLOWED with WHY it is bounded")
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, (
        f"stale allowlist entries (context no longer collects): "
        f"{stale} — remove them so the list stays honest")
    # every argument is a real sentence, not a placeholder
    for ctx, why in ALLOWED.items():
        assert len(why) >= 10, f"{ctx}: boundedness argument too thin"

"""What each request kind calls, and the reference its output must equal.

``call`` is the timed request: it returns the DataFrames the engine hands
back, which the benchmark then collects. ``reference`` computes the same
answer with the other engine (flat for packed and write kinds, packed
for flat kinds); the test suite pins the flat engine to ``oracle.py``.
Facets are checked against a ``groupBy`` over the flat match set.
``reset`` undoes a write request's effect, untimed, after its rows are
collected, so every pass starts from the same index.
"""

from __future__ import annotations

import math
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F

# module attributes, not names bound here: the tracer patches the
# engine's module namespaces, and calls must go through them
from solrplugins_spark.index import segments as S
from solrplugins_spark.query import (
    collapse, compiler, components, feedback, mlt, parser, rerank, scorer,
)
from solrplugins_spark.query import handlers as H
from solrplugins_spark.streaming import incremental

K = 10
MLT_PARAMS = mlt.MLTParams(min_doc_freq=2, max_query_terms=20)
FACET_COL = "role"
VALUE_COL = "turn_idx"
RANGE = (0, 20, 4)  # turn_idx buckets: start, end, gap
RERANK_DOCS, RERANK_WEIGHT = 30, 2.0
N_DELETE_TOP = 3  # the read's top hits a delete removes


@dataclass
class Ctx:
    spark: object
    seg: object  # SegmentIndex: generation 0 of the streamed store
    store: str  # the streamed store (process_generation output)
    writable: object  # SegmentIndex: a copy of seg that deletes write to
    idx: object  # persisted InvertedIndex
    docs: object  # corpus DataFrame (doc_id, role, turn_idx, text, ...)
    cursors: dict = field(default_factory=dict)  # request id -> after
    deletes: dict = field(default_factory=dict)  # request id -> doc ids


def _terms(a):
    return [(t, float(w)) for t, w in a["terms"]]


def _phrase_query(a) -> str:
    q = '"' + " ".join(a["phrase"]) + '"'
    return f"{q}~{a['slop']}" if a["slop"] else q


def prepare(req: dict, ctx: Ctx) -> None:
    """Untimed inputs a request needs from the index: the page-1 cursor
    of ``cursor_page2`` and the top hits a ``delete_ids`` removes, both
    taken from the flat engine."""
    if req["kind"] == "cursor_page2":
        page1 = scorer.search_terms(ctx.idx, _terms(req["args"]), k=K).collect()
        last = page1[-1]
        ctx.cursors[req["id"]] = (float(last["score"]), int(last["doc_id"]))
    if req["kind"] == "delete_ids":
        top = scorer.search_terms(ctx.idx, _terms(req["args"]), k=N_DELETE_TOP).collect()
        ids = {int(r["doc_id"]) for r in top} | set(req["args"]["ids"])
        ctx.deletes[req["id"]] = sorted(ids)


def reset(req: dict, ctx: Ctx) -> None:
    """Undo a write request: the writable copy goes back to the served
    index's files."""
    if req["kind"] == "delete_ids":
        shutil.rmtree(ctx.writable.path)
        shutil.copytree(ctx.seg.path, ctx.writable.path)


def call(req: dict, ctx: Ctx) -> list:
    """The timed request: returns every DataFrame the engine returns."""
    kind, a, sp, seg, idx = req["kind"], req["args"], ctx.spark, ctx.seg, ctx.idx
    if kind in ("q_wand_rare", "q_wand_or", "q_wand_head_or"):
        return [S.wand_search(sp, seg, _terms(a), k=K)]
    if kind in ("q_wand_phrase", "wand_phrase_slop"):
        return [S.wand_phrase_search(sp, seg, a["phrase"], k=K, slop=a["slop"])]
    if kind == "cursor_page2":
        return [S.wand_search(sp, seg, _terms(a), k=K, after=ctx.cursors[req["id"]])]
    if kind == "wand_facet":
        return [S.wand_facet_search(sp, seg, a["query"], FACET_COL)]
    if kind == "wand_facet_range":
        return [S.wand_facet_range_search(sp, seg, a["query"], VALUE_COL, *RANGE)]
    if kind == "wand_stats":
        return [S.wand_stats_search(sp, seg, a["query"], VALUE_COL)]
    if kind == "wand_stats_facet":
        return [S.wand_stats_facet_search(sp, seg, a["query"], VALUE_COL, FACET_COL)]
    if kind == "wand_collapse":
        return [S.wand_collapse_search(sp, seg, a["query"], FACET_COL, k=K)]
    if kind == "wand_rerank":
        return [S.wand_rerank_search(
            sp, seg, a["query"], a["rerank"], k=K,
            rerank_docs=RERANK_DOCS, weight=RERANK_WEIGHT,
        )]
    if kind in ("wand_select", "gens_select"):
        # gens_select lists the store's committed generations per request,
        # as a reader that picks up new commits does
        target = incremental.packed_generations(ctx.store) if kind == "gens_select" else seg
        out = H.packed_select_handler(sp, target, a["query"], k=K, facet_fields=[FACET_COL])
        return [out["docs"], out[f"facet_{FACET_COL}"]]
    if kind == "delete_ids":
        S.delete_docs(ctx.writable.path, ctx.deletes[req["id"]])
        return [S.wand_search(sp, ctx.writable, _terms(a), k=K)]
    if kind == "wand_mlt":
        out = H.packed_mlt_handler(sp, seg, [a["seed_doc"]], MLT_PARAMS, k=K)
        return [out["docs"], out["interesting_terms"]]
    if kind == "wand_feedback":
        out = H.packed_feedback_handler(sp, seg, a["query"], MLT_PARAMS, k=K)
        return [out["docs"], out["interesting_terms"]]
    if kind in ("q_rare_term", "q_head_term", "q_boosted_or"):
        return [scorer.search_terms(idx, _terms(a), k=K)]
    if kind in ("q_boolean", "q_not"):
        return [compiler.execute_query(idx, a["query"], k=K)]
    if kind == "q_mlt":
        return [mlt.more_like_this(idx, [a["seed_doc"]], MLT_PARAMS, k=K)]
    if kind == "q_feedback":
        return [feedback.unsupervised_feedback(idx, a["query"], k=K, params=MLT_PARAMS)]
    raise ValueError(f"unknown request kind {kind!r}")


def _flat_facet(ctx: Ctx, query: str):
    tree, _ = parser.parse_query(query)
    match = compiler.compile_ast(ctx.idx, tree).select("doc_id")
    return (
        ctx.docs.join(match, "doc_id", "left_semi")
        .groupBy(FACET_COL)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def reference(req: dict, ctx: Ctx) -> tuple[list, int]:
    """The other engine's answer for the request: (frames, how many of
    ``call``'s frames it checks, counted from the first)."""
    kind, a, sp, seg, idx = req["kind"], req["args"], ctx.spark, ctx.seg, ctx.idx
    if kind in ("q_wand_rare", "q_wand_or", "q_wand_head_or"):
        return [scorer.search_terms(idx, _terms(a), k=K)], 1
    if kind in ("q_wand_phrase", "wand_phrase_slop"):
        return [compiler.execute_query(idx, _phrase_query(a), k=K)], 1
    if kind == "cursor_page2":
        return [scorer.search_terms(idx, _terms(a), k=K, after=ctx.cursors[req["id"]])], 1
    if kind == "wand_facet":
        return [_flat_facet(ctx, a["query"])], 1
    if kind == "wand_facet_range":
        vals = ctx.docs.select("doc_id", VALUE_COL)
        return [components.facet_range_search(idx, a["query"], vals, VALUE_COL, *RANGE)], 1
    if kind == "wand_stats":
        vals = ctx.docs.select("doc_id", VALUE_COL)
        return [components.stats_search(idx, a["query"], vals, VALUE_COL)], 1
    if kind == "wand_stats_facet":
        vals = ctx.docs.select("doc_id", VALUE_COL, FACET_COL)
        return [components.stats_facet_search(idx, a["query"], vals, VALUE_COL, FACET_COL)], 1
    if kind == "wand_collapse":
        groups = ctx.docs.select("doc_id", FACET_COL)
        return [collapse.collapse_search(idx, a["query"], groups, FACET_COL, k=K)], 1
    if kind == "wand_rerank":
        return [rerank.rerank_search(
            idx, a["query"], a["rerank"], k=K,
            rerank_docs=RERANK_DOCS, weight=RERANK_WEIGHT,
        )], 1
    if kind in ("wand_select", "gens_select"):
        top = compiler.execute_query(idx, a["query"], k=K)
        docs = top.join(ctx.docs.select("doc_id", "text"), "doc_id", "left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return [docs, _flat_facet(ctx, a["query"])], 2
    if kind == "delete_ids":
        # the flat top-k with the deleted ids taken out: scores keep the
        # undeleted statistics until compaction
        gone = ctx.deletes[req["id"]]
        hits = scorer.search_terms(idx, _terms(a), k=K + len(gone))
        kept = hits.where(~F.col("doc_id").isin(gone)).orderBy(F.desc("score"), F.asc("doc_id"))
        return [kept.limit(K)], 1
    if kind == "wand_mlt":
        return [mlt.more_like_this(idx, [a["seed_doc"]], MLT_PARAMS, k=K)], 1
    if kind == "wand_feedback":
        return [feedback.unsupervised_feedback(idx, a["query"], k=K, params=MLT_PARAMS)], 1
    if kind in ("q_rare_term", "q_head_term", "q_boosted_or"):
        return [S.wand_search(sp, seg, _terms(a), k=K)], 1
    if kind in ("q_boolean", "q_not"):
        return [S.wand_boolean_search(sp, seg, a["query"], k=K)], 1
    if kind == "q_mlt":
        return [H.packed_mlt_handler(sp, seg, [a["seed_doc"]], MLT_PARAMS, k=K)["docs"]], 1
    if kind == "q_feedback":
        return [H.packed_feedback_handler(sp, seg, a["query"], MLT_PARAMS, k=K)["docs"]], 1
    raise ValueError(f"unknown request kind {kind!r}")


# outputs whose row order is part of the answer (ranked lists); facet
# and stats sections are compared as sets of rows
_UNORDERED = {"wand_facet", "wand_stats_facet"}


def _close(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        if x is None or y is None:
            return x is y
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return x == y


def _norm(rows) -> list[dict]:
    return [r.asDict() for r in rows]


def mismatch(kind: str, got: list, want: list) -> str | None:
    """None when every checked section matches; else what differs."""
    for i, (g, w) in enumerate(zip(got, want)):
        g, w = _norm(g), _norm(w)
        if kind in _UNORDERED or (kind in ("wand_select", "gens_select") and i == 1):
            key = lambda r: tuple((v is None, str(v)) for _, v in sorted(r.items()))  # noqa: E731
            g, w = sorted(g, key=key), sorted(w, key=key)
        if len(g) != len(w):
            return f"section {i}: {len(g)} rows, reference has {len(w)}"
        for j, (rg, rw) in enumerate(zip(g, w)):
            if set(rg) != set(rw):
                return f"section {i}: columns {sorted(rg)} vs {sorted(rw)}"
            bad = [c for c in rg if not _close(rg[c], rw[c])]
            if bad:
                return f"section {i} row {j}: {rg} vs {rw}"
    return None

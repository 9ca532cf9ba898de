"""Seeded request generator shared by every workload.

The generator is a pure function of the seed and of facts read from the
built index: its term dictionary (term -> df) and the stored text of its
documents. Terms are drawn stratified by df band, so every seed gets the
same mix of head, mid and tail work while the concrete terms, seed
documents and phrases change with the seed:

- head: the most frequent terms (ranks HEAD);
- mid: the body of the distribution (ranks MID);
- tail: the planted rare terms plus naturally rare terms (ranks TAIL).

A pool holds one request of every kind of the workload. The timed loop replays the pool in whole passes, so requests share some
work (cached term statistics, warm files) but are not one repeated query.
Every request is ``{"id", "kind", "args"}`` with JSON-only arguments,
so a pool has a stable digest.
"""

from __future__ import annotations

import hashlib
import json
import random
import re

HEAD = (0, 12)
MID = (100, 400)
TAIL = (2000, 4000)
N_DELETE_RANDOM = 2  # seeded doc ids per delete, beside the query's top hits

# packed surfaces, timed on the local tier (serve_local) and on the
# distributed tier (serve_spark); names follow bench.py where it has one
PACKED_KINDS = (
    "q_wand_rare",
    "q_wand_or",
    "q_wand_head_or",
    "q_wand_phrase",
    "wand_phrase_slop",
    "cursor_page2",
    "wand_facet",
    "wand_facet_range",
    "wand_stats",
    "wand_stats_facet",
    "wand_collapse",
    "wand_rerank",
    "wand_select",
    "wand_mlt",
    "wand_feedback",
    "gens_select",
)
# write requests on a copy of the packed index (driver-side, no Spark
# job on either tier), timed on serve_local
WRITE_KINDS = ("delete_ids",)
# flat-engine surfaces (persisted InvertedIndex), timed on serve_spark
FLAT_KINDS = (
    "q_rare_term",
    "q_head_term",
    "q_boosted_or",
    "q_boolean",
    "q_not",
    "q_mlt",
    "q_feedback",
)
# packed kinds serve_spark leaves out to fit a run's time: each repeats a
# surface another kind times on that tier (wand_search twice more, the
# select handler on one index; gens_select runs the same handler over
# the generations list)
SPARK_SKIPS = ("q_wand_or", "cursor_page2", "wand_select")
WORKLOAD_KINDS = {
    "serve_local": PACKED_KINDS + WRITE_KINDS,
    "serve_spark": tuple(k for k in PACKED_KINDS if k not in SPARK_SKIPS) + FLAT_KINDS,
}

_TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def tokens(text: str) -> list[str]:
    """The engine's token grammar: ``[a-z0-9]+`` over lowercased text."""
    return [t for t in _TOKEN_SPLIT.split(text.lower()) if t]


def bands(dictionary: dict[str, int], planted) -> dict[str, list[str]]:
    """Split the term dictionary into df bands by rank (df desc, term asc).

    Raises ValueError when the dictionary is too small to fill a band:
    the benchmark's corpus is fixed, so that means the index is wrong.
    """
    ranked = [t for t, _ in sorted(dictionary.items(), key=lambda x: (-x[1], x[0]))]
    planted = sorted(t for t in planted if t in dictionary)
    out = {
        "head": ranked[HEAD[0]:HEAD[1]],
        "mid": ranked[MID[0]:MID[1]],
        "tail": planted + [t for t in ranked[TAIL[0]:TAIL[1]] if t not in planted],
    }
    for name, (lo, hi) in (("head", HEAD), ("mid", MID), ("tail", TAIL)):
        if len(out[name]) < (hi - lo) // 2:
            raise ValueError(f"term dictionary too small for the {name} band")
    return out


def _phrase(rng: random.Random, docs: list[tuple[int, str]], gap: int) -> list[str]:
    """Two tokens ``gap`` positions apart from a seeded document, so the
    phrase matches at least that document."""
    while True:
        _, text = docs[rng.randrange(len(docs))]
        toks = tokens(text)
        if len(toks) > gap + 1:
            j = rng.randrange(len(toks) - gap)
            return [toks[j], toks[j + gap]]


def _seed_doc(rng: random.Random, docs: list[tuple[int, str]]) -> int:
    while True:
        doc_id, text = docs[rng.randrange(len(docs))]
        if len(tokens(text)) >= 5:
            return doc_id


def _args(kind: str, rng: random.Random, b: dict, docs) -> dict:
    head = lambda: rng.choice(b["head"])  # noqa: E731
    mid = lambda: rng.choice(b["mid"])  # noqa: E731
    tail = lambda: rng.choice(b["tail"])  # noqa: E731
    if kind in ("q_wand_rare", "q_rare_term"):
        return {"terms": [[tail(), 1.0]]}
    if kind in ("q_wand_or", "q_boosted_or"):
        return {"terms": [[tail(), 2.0], [mid(), 1.0], [mid(), 0.5]]}
    if kind == "q_wand_head_or":
        return {"terms": [[head(), 1.0], [head(), 1.0], [tail(), 2.0]]}
    if kind == "q_wand_phrase":
        return {"phrase": _phrase(rng, docs, 1), "slop": 0}
    if kind == "wand_phrase_slop":
        return {"phrase": _phrase(rng, docs, 2), "slop": 2}
    if kind == "q_head_term":
        return {"terms": [[head(), 1.0]]}
    if kind == "cursor_page2":
        return {"terms": [[head(), 1.0], [tail(), 2.0]]}
    if kind in ("wand_facet", "wand_stats", "wand_collapse", "wand_select", "gens_select"):
        return {"query": f"{tail()} or {mid()}"}
    if kind in ("wand_facet_range", "wand_stats_facet"):
        return {"query": mid()}
    if kind == "wand_rerank":
        return {"query": f"{tail()} or {mid()}", "rerank": head()}
    if kind in ("wand_mlt", "q_mlt"):
        return {"seed_doc": _seed_doc(rng, docs)}
    if kind in ("wand_feedback", "q_feedback"):
        return {"query": tail()}
    if kind == "q_boolean":
        return {"query": f"{mid()} and {mid()} or {tail()}"}
    if kind == "q_not":
        return {"query": f"{tail()} and not {head()}"}
    if kind == "delete_ids":
        # the query's own top hits join these at prepare time, so the
        # delete always changes the answer of the read that follows it
        ids = sorted(docs[i][0] for i in rng.sample(range(len(docs)), N_DELETE_RANDOM))
        return {"terms": [[mid(), 1.0]], "ids": ids}
    raise ValueError(f"unknown request kind {kind!r}")


def make_pool(
    workload: str,
    seed: int,
    dictionary: dict[str, int],
    docs: list[tuple[int, str]],
    planted=(),
) -> list[dict]:
    """The workload's request pool: one request per kind, each
    ``{"id", "kind", "args"}``, in a seeded order. Arguments are drawn
    for every kind of a group before the workload's are kept, so a
    packed kind gets the same request on both workloads."""
    b = bands(dictionary, planted)
    pool = []
    for group, group_kinds in (("packed", PACKED_KINDS), ("write", WRITE_KINDS), ("flat", FLAT_KINDS)):
        rng = random.Random(f"{group}:{seed}")
        drawn = [{"kind": kind, "args": _args(kind, rng, b, docs)} for kind in group_kinds]
        pool += [req for req in drawn if req["kind"] in WORKLOAD_KINDS[workload]]
    random.Random(f"{workload}:{seed}").shuffle(pool)
    for i, req in enumerate(pool):
        req["id"] = i
    return pool


def request_terms(req: dict) -> list[str]:
    """Every index term a request names (query words, phrase words)."""
    a = req["args"]
    out = [t for t, _ in a.get("terms", [])] + list(a.get("phrase", []))
    for key in ("query", "rerank"):
        if key in a:
            out += [t for t in tokens(a[key]) if t not in ("and", "or", "not")]
    return out


def digest(pool: list[dict]) -> str:
    """Short stable digest of a request pool (same seed, same digest)."""
    blob = json.dumps(pool, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]

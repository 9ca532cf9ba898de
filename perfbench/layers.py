"""Per-layer metrics of a traced run, from its spans and request samples.

``<layer>.<function>.self_ms`` is the mean self time per call: the
call's duration minus the time its traced callees cover. Counts are per
timed request. Edge and Spark-scheduler numbers come from every timed
request; span-derived numbers from the traced passes only.
"""

from __future__ import annotations

import summary
from reqgen import FLAT_KINDS, PACKED_KINDS, WRITE_KINDS
from spans import self_times

SURFACES = (
    "wand_search", "wand_phrase_search", "wand_boolean_search",
    "wand_boolean_boosted_search", "wand_facet_search",
    "wand_facet_range_search", "wand_stats_search",
    "wand_stats_facet_search", "wand_collapse_search",
    "wand_rerank_search", "wand_scores_for_ids", "fetch_docs_local",
    "delete_docs",
)
SELF_MS = tuple(f"index.segments.{s}" for s in SURFACES) + (
    "query.handlers.packed_select_handler",
    "query.handlers.packed_mlt_handler",
    "query.handlers.packed_feedback_handler",
    "query.parser.parse_query",
    "query.scorer.search_terms",
    "query.compiler.execute_query",
    "query.compiler.compile_ast",
    "query.mlt.more_like_this",
    "query.mlt.interesting_terms",
    "query.feedback.unsupervised_feedback",
    "streaming.incremental.packed_generations",
)

# every per-layer metric, with its unit, in output order
METRICS = {
    "edge.call_ms": "ms",
    "edge.collect_ms": "ms",
    "edge.collect_share": "ratio",
    "spark.jobs_per_req": "jobs",
    "spark.stages_per_req": "stages",
    "spark.tasks_per_req": "tasks",
    "spark.zero_job_frac": "ratio",
    "spark.parquet_reads_per_req": "calls",
    "spark.create_df_per_req": "calls",
    "spark.create_df_ms": "ms",
    "spark.internal_collects_per_req": "calls",
    "arrow.parquet_reads_per_req": "calls",
    "arrow.read_ms": "ms",
    "fs.walk_calls_per_req": "calls",
    "index.codec.decode_calls_per_req": "calls",
    "index.codec.decode_ms": "ms",
    **{f"{name}.self_ms": "ms" for name in SELF_MS},
    "session.get_spark_s": "s",
    "corpus.transcripts_s": "s",
    "index.builder.build_index_s": "s",
    "index.builder.turns_per_s": "turns/s",
    "streaming.incremental.process_generation_s": "s",
    "index.segments.build_segments_s": "s",
    **{f"kind.{k}.p50_ms": "ms" for k in PACKED_KINDS + WRITE_KINDS + FLAT_KINDS},
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.spans_per_req": "spans",
}

_ARROW = ("arrow.read_table", "arrow.dataset", "arrow.to_table")


def per_layer(tracer, samples, build, session_s, n_turns, steal) -> dict:
    """{metric: (value, unit)} for every name in METRICS."""
    plain = [s for s in samples if not s["traced"]]
    traced_ids = {i for i, s in enumerate(samples) if s["traced"]}
    n_traced = max(1, len(traced_ids))
    spans = tracer.spans
    selfs = self_times(spans)

    # the edge span (edge.call / edge.collect) each span runs under
    edge: list[str | None] = []
    for name, _, _, parent, _ in spans:
        if name.startswith("edge."):
            edge.append(name)
        else:
            edge.append(edge[parent] if parent is not None else None)

    req_spans = [i for i, sp in enumerate(spans) if sp[4] in traced_ids and sp[2] is not None]

    def count(pred) -> float:
        return sum(1 for i in req_spans if pred(spans[i])) / n_traced

    def dur(i) -> float:
        return spans[i][2] - spans[i][1]

    codec = [i for i in req_spans if spans[i][0].startswith("index.codec.")]
    codec_top = [
        i for i in codec
        if spans[i][3] is None or not spans[spans[i][3]][0].startswith("index.codec.")
    ]
    call_ms = [1000 * s["call"] for s in plain]
    collect_ms = [1000 * s["collect"] for s in plain]
    total_plain = [a + b for a, b in zip(call_ms, collect_ms)]
    total_traced = [1000 * (s["call"] + s["collect"]) for s in samples if s["traced"]]
    n_all = max(1, len(samples))

    out = {
        "edge.call_ms": summary.median(call_ms),
        "edge.collect_ms": summary.median(collect_ms),
        "edge.collect_share": sum(collect_ms) / sum(total_plain),
        "spark.jobs_per_req": sum(s["jobs"] for s in samples) / n_all,
        "spark.stages_per_req": sum(s["stages"] for s in samples) / n_all,
        "spark.tasks_per_req": sum(s["tasks"] for s in samples) / n_all,
        "spark.zero_job_frac": sum(1 for s in samples if s["jobs"] == 0) / n_all,
        "spark.parquet_reads_per_req": count(lambda sp: sp[0] == "spark.read_parquet"),
        "spark.create_df_per_req": count(lambda sp: sp[0] == "spark.create_df"),
        "spark.create_df_ms": 1000 * sum(
            dur(i) for i in req_spans if spans[i][0] == "spark.create_df"
        ) / n_traced,
        "spark.internal_collects_per_req": sum(
            1 for i in req_spans if spans[i][0] == "spark.collect" and edge[i] == "edge.call"
        ) / n_traced,
        "arrow.parquet_reads_per_req": count(lambda sp: sp[0] in ("arrow.read_table", "arrow.dataset")),
        "arrow.read_ms": 1000 * sum(dur(i) for i in req_spans if spans[i][0] in _ARROW) / n_traced,
        "fs.walk_calls_per_req": count(lambda sp: sp[0] == "fs.walk"),
        "index.codec.decode_calls_per_req": len(codec) / n_traced,
        "index.codec.decode_ms": 1000 * sum(dur(i) for i in codec_top) / n_traced,
    }
    for name in SELF_MS:
        calls = [selfs[i] for i in req_spans if spans[i][0] == name]
        out[f"{name}.self_ms"] = 1000 * sum(calls) / len(calls) if calls else 0.0
    out.update({
        "session.get_spark_s": session_s,
        "corpus.transcripts_s": build["corpus"],
        "index.builder.build_index_s": build["index"],
        "index.builder.turns_per_s": n_turns / build["index"],
        "streaming.incremental.process_generation_s": build["commit"],
        # the packed build inside the commit, from set-up's spans
        "index.segments.build_segments_s": sum(
            t1 - t0 for name, t0, t1, _, req in spans
            if name == "index.segments.build_segments" and req is None and t1 is not None
        ),
    })
    for k in PACKED_KINDS + WRITE_KINDS + FLAT_KINDS:
        ms = [1000 * (s["call"] + s["collect"]) for s in plain if s["kind"] == k and s["ok"]]
        out[f"kind.{k}.p50_ms"] = summary.median(ms) if ms else 0.0
    out["host.steal_frac"] = steal
    out["trace.overhead_frac"] = (
        summary.median(total_traced) / summary.median(total_plain) - 1.0
        if total_traced else 0.0
    )
    out["trace.spans_per_req"] = len(req_spans) / n_traced
    return {k: (out[k], unit) for k, unit in METRICS.items()}

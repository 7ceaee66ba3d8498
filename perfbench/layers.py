"""Per-layer metrics of a traced run.

Layers are named after the engine's modules and measured from outside,
by the spans and job-group counters ``workloads`` records around calls
into their public functions. Each metric is the median over the run's
traced passes of its per-pass total; a layer a workload does not
exercise reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import EXEC_COUNTERS

# Modules that register queries; each gets compose/execute/jobs totals.
QUERY_MODULES = (
    "analytics_extras", "codec_queries", "corpus_extras", "curation",
    "engineering", "experiment_extras", "fidelity", "graph_queries",
    "inventory_extras", "joins", "llm_queries", "ml_eval", "order_stats",
    "pipeline_extras", "profiling", "relational", "scalar_fns", "spatial",
    "sql_api", "streaming_queries", "tpch", "windows_events",
)

CODEC_SPANS = {
    "codec.encode": "codec.encode_s",
    "codec.decode": "codec.decode_s",
    "sources.archive.scan": "sources.archive.scan_s",
    "sources.tfrecords.scan": "sources.tfrecords.scan_s",
    "sink.parquet.write": "sink.parquet.write_s",
    "sink.tfrecords.write": "sink.tfrecords.write_s",
    "bridges.first_batch": "bridges.first_batch_s",
    "bridges.feed": "bridges.feed_s",
}


def _zero_pass() -> dict:
    out = {"compose.s": 0.0, "compose.jobs": 0, "compose.job_s": 0.0, "plan.s": 0.0,
           "execute.s": 0.0, "execute.skew_max_p95": 0.0, "trace.max_untiled_pct": 0.0,
           "codec.rows": 0, "sources.records": 0, "sink.write_mb": 0.0,
           "bridges.batches": 0}
    out.update({f"execute.{k}": 0.0 for k in EXEC_COUNTERS})
    out.update({m: 0.0 for m in CODEC_SPANS.values()})
    for mod in QUERY_MODULES:
        out.update({f"{mod}.compose_s": 0.0, f"{mod}.execute_s": 0.0, f"{mod}.jobs": 0})
    return out


def _add_exec(out: dict, e: dict) -> None:
    for k in EXEC_COUNTERS:
        out[f"execute.{k}"] += e[k]
    out["execute.skew_max_p95"] = max(out["execute.skew_max_p95"], e["skew_max_p95"])


def _pass_metrics(records: list[dict], durations: dict[str, float]) -> dict:
    out = _zero_pass()
    for r in records:
        if "slug" in r:  # one query of a QueryMix pass
            out["compose.s"] += r["compose"]
            out["compose.jobs"] += r["c"]["jobs"]
            out["compose.job_s"] += r["c"]["job_s"]
            out["plan.s"] += r["plan"]
            out["execute.s"] += r["execute"]
            _add_exec(out, r["e"])
            untiled = abs(r["wall"] - r["compose"] - r["plan"] - r["execute"])
            out["trace.max_untiled_pct"] = max(out["trace.max_untiled_pct"],
                                               100.0 * untiled / r["wall"])
            mod = r["module"]
            if mod in QUERY_MODULES:
                out[f"{mod}.compose_s"] += r["compose"]
                out[f"{mod}.execute_s"] += r["execute"]
                out[f"{mod}.jobs"] += r["c"]["jobs"] + r["e"]["jobs"]
        elif r["step"] == "counts":  # work done by a CodecRoundTrip pass
            out["codec.rows"] = r["rows"]
            out["sources.records"] = r["records"]
            out["sink.write_mb"] = r["write_mb"]
            out["bridges.batches"] = r["batches"]
        else:  # one step of a CodecRoundTrip pass: all of it is Spark work
            _add_exec(out, r["e"])
    if not any("slug" in r for r in records):
        for span, name in CODEC_SPANS.items():
            out[name] = durations.get(span, 0.0)
        out["execute.s"] = sum(durations.get(s, 0.0) for s in CODEC_SPANS
                               if s not in ("codec.encode", "bridges.first_batch"))
    return out


def layer_metrics(tracer, traced: list[tuple[float, list[dict]]], untraced_walls: list[float],
                  tables: dict, nproc: int) -> dict:
    """``traced`` holds (wall, records) of each traced pass, in the order
    their ``pass`` spans appear in ``tracer``."""
    pass_ids = [s[0] for s in tracer.spans if s[1] == "pass"]
    parent_of = {s[0]: s[4] for s in tracer.spans}
    durations: dict[int, dict[str, float]] = {p: {} for p in pass_ids}
    for s in tracer.spans:
        if s[1] not in CODEC_SPANS:
            continue
        p = s[4]
        while p not in durations:
            p = parent_of[p]
        durations[p][s[1]] = durations[p].get(s[1], 0.0) + (s[3] - s[2])
    rows = [_pass_metrics(rec, durations[p]) for (_, rec), p in zip(traced, pass_ids)]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    ex = out["execute.s"]
    out["execute.core_util"] = out["execute.task_run_s"] / (ex * nproc) if ex > 0 else 0.0
    spans = {s[1]: s[3] - s[2] for s in tracer.spans if s[1] in ("session.start", "registry.load")}
    out["session.start_s"] = spans["session.start"]
    out["registry.load_s"] = spans["registry.load"]
    out["tables.read_s"] = tables["read_s"]
    out["tables.read_jobs"] = tables["read_jobs"]
    traced_wall = statistics.median(w for w, _ in traced)
    out["pass.traced_wall_s"] = traced_wall
    out["trace.overhead_pct"] = 100.0 * (traced_wall / statistics.median(untraced_walls) - 1.0)
    return out

"""Per-layer metrics of a traced run, each named after the module
whose work it counts. Timings are medians over the timed section."""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

from perfbench.trace import event_log_by_group
from perfbench.workloads import percentile


def per_layer(bench, tracer, session_s, t_start, progress, log_files, event_log: Path) -> dict:
    """``t_start``: perf_counter and wall-clock seconds at the start of
    the timed section; ``progress``: the subscriber's progress reports."""
    t_perf, t_wall = t_start

    def spans(name):
        return tracer.durations_ms(name, since=t_perf)

    ql = bench.query_layers
    mix_kinds = set(bench.mix.kinds)
    timed_kinds = {
        f"op{op}": kind for op, kind in tracer.op_kinds.items() if op >= bench.first_timed_op
    }
    groups = event_log_by_group(event_log)
    per_query = [c for g, c in groups.items() if timed_kinds.get(g) in mix_kinds]
    refreshes = [c for g, c in groups.items() if timed_kinds.get(g) == "refresh"]
    registry = [c for g, c in groups.items() if timed_kinds.get(g) == "registry"]
    batches = [
        p["durationMs"] for p in progress
        if p.get("numInputRows", 0) > 0
        and datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() >= t_wall
    ]
    maint = bench.maintenance
    counts = tracer.counts
    values = {
        "session.start_ms": (session_s * 1e3, "ms"),
        "catalog.put_ms": (percentile(spans("catalog.put_table")), "ms"),
        "catalog.log_files": (log_files, "count"),
        "engine.query_ms": (percentile(spans("engine.query")), "ms"),
        "engine.query_self_ms": (percentile(tracer.self_ms("engine.query", since=t_perf)), "ms"),
        "engine.execute_ms": (percentile(spans("engine.execute")), "ms"),
        "spark.analysis_ms": (percentile(q["analysis"] for q in ql), "ms"),
        "spark.optimization_ms": (percentile(q["optimization"] for q in ql), "ms"),
        "spark.planning_ms": (percentile(q["planning"] for q in ql), "ms"),
        "spark.jobs": (percentile(c.get("jobs", 0) for c in per_query), "count"),
        "spark.stages": (percentile(c.get("stages", 0) for c in per_query), "count"),
        "spark.tasks": (percentile(c.get("tasks", 0) for c in per_query), "count"),
        "spark.shuffle_bytes": (percentile(c.get("shuffle_bytes", 0) for c in per_query), "bytes"),
        "scan.files_read": (percentile(q["files"] for q in ql), "count"),
        "scan.bytes_read": (percentile(q["bytes"] for q in ql), "bytes"),
        "topic.shards": (percentile(bench.shard_counts), "count"),
        "topic.read_ms": (percentile(spans("topic.read")), "ms"),
        "topic.manifest_ms": (percentile(spans("topic.manifest")), "ms"),
        "topic.write_batch_ms": (percentile(spans("topic.write_batch")), "ms"),
        "topic.flush_ms": (percentile(spans("topic.flush")), "ms"),
        "bloom.files_skipped": (counts["bloom.files_skipped"] / max(bench.point_lookups, 1), "count"),
        "bloom.probes": (counts["bloom.probes"] / max(bench.point_lookups, 1), "count"),
        "incremental.refresh_ms": (percentile(spans("engine.refresh_materialized")), "ms"),
        "incremental.analyze_ms": (percentile(spans("incremental.analyze")), "ms"),
        "incremental.refresh_jobs": (percentile(c.get("jobs", 0) for c in refreshes), "count"),
        "incremental.delta_refreshes": (bench.refresh_kinds.count("delta"), "count"),
        "incremental.full_refreshes": (bench.refresh_kinds.count("full"), "count"),
        "maintenance.pass_ms": (percentile(spans("maintenance.pass")), "ms"),
        "maintenance.compact_ms": (percentile(spans("maintenance.compact")), "ms"),
        "maintenance.manifest_ms": (percentile(spans("maintenance.manifest")), "ms"),
        "maintenance.shards_merged": (percentile(m["merged"] for m in maint), "count"),
        "maintenance.rewrite_per_ingest": (
            sum(m["rewritten_bytes"] for m in maint) / max(bench.ingest_bytes, 1), "ratio"
        ),
        "stream.trigger_ms": (percentile(d.get("triggerExecution", 0) for d in batches), "ms"),
        "stream.latest_offset_ms": (percentile(d.get("latestOffset", 0) for d in batches), "ms"),
        "stream.add_batch_ms": (percentile(d["addBatch"] for d in batches), "ms"),
        "registry.query_ms": (percentile(bench.samples.registry_s) * 1e3, "ms"),
        "registry.tasks": (percentile(c.get("tasks", 0) for c in registry), "count"),
        "trace.query_p50_ms": (percentile(bench.samples.query_s) * 1e3, "ms"),
        "trace.spans": (len(tracer.spans), "count"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}

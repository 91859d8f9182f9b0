"""Per-layer metrics of a traced run, derived from spans and Spark readings.

Every "per op" number is a mean over the traced operations.  Layers that do
not run on a workload report 0 (``arrow.*`` on the SQL workloads, ``engine``
and ``sqlfront`` on ``pipeline_frames``); ratios with no attempts report 0.
"""

from __future__ import annotations

import statistics

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "catalog.read_table_calls": "count",
    "catalog.read_table_ms": "ms",
    "engine.sql_ms": "ms",
    "engine.self_ms": "ms",
    "sqlfront.classify_ms": "ms",
    "sqlfront.translate_ms": "ms",
    "indexes.choose_ms": "ms",
    "indexes.hit_ratio": "ratio",
    "ddl.parse_ms": "ms",
    "mutations.upsert_ms": "ms",
    "mutations.upsert_calls": "count",
    "mutations.delete_ms": "ms",
    "mutations.read_ms": "ms",
    "mutations.segments": "count",
    "mutations.bytes_per_user_byte": "ratio",
    "queries.build_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "jobs.count": "count",
    "jobs.stages": "count",
    "jobs.tasks": "count",
    "jobs.exec_ms": "ms",
    "jobs.executor_cpu_s": "s",
    "jobs.executor_run_s": "s",
    "jobs.gc_s": "s",
    "jobs.scheduler_delay_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_records": "count",
    "shuffle.spill_bytes": "bytes",
    "broadcast.bytes": "bytes",
    "arrow.rows": "count",
    "arrow.bytes_sent": "bytes",
    "arrow.bytes_received": "bytes",
    "arrow.boot_ms": "ms",
    "arrow.total_ms": "ms",
    "cache.rdds": "count",
    "cache.mem_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_ratio": "ratio",
}

# span name -> (metric of summed duration, metric of summed self time)
_SPAN_MS = {
    "catalog.read_table": ("catalog.read_table_ms", None),
    "engine.sql": ("engine.sql_ms", "engine.self_ms"),
    "sqlfront.classify": ("sqlfront.classify_ms", None),
    "sqlfront.translate": ("sqlfront.translate_ms", None),
    "indexes.choose_index": ("indexes.choose_ms", None),
    "ddl.parse_upsert": ("ddl.parse_ms", None),
    "ddl.parse_delete": ("ddl.parse_ms", None),
    "mutations.upsert_df": ("mutations.upsert_ms", None),
    "mutations.delete_where": ("mutations.delete_ms", None),
    "mutations.read": ("mutations.read_ms", None),
    "queries.build": ("queries.build_ms", None),
}
_UPSERT_KINDS = ("upsert", "on_dup")


def per_layer(run) -> tuple[dict, dict]:
    tracer = run.tracer
    selfs = tracer.self_times()
    traced = {lo["op"]: lo for lo in run.layer_ops}
    n = max(len(traced), 1)
    m = dict.fromkeys(UNITS, 0.0)

    choose_calls = choose_hits = 0
    upsert_calls: dict[int, int] = {}
    root_self = root_wall = 0.0
    for s in tracer.spans:
        if s["op"] not in traced:
            continue
        dur_ms = (s["end"] - s["start"]) * 1e3
        name = s["name"]
        if name == "op":
            root_self += selfs[s["id"]]
            root_wall += s["end"] - s["start"]
            continue
        if name == "catalog.read_table":
            m["catalog.read_table_calls"] += 1
        if name == "indexes.choose_index":
            choose_calls += 1
            choose_hits += bool(s.get("hit"))
        if name == "mutations.upsert_df":
            upsert_calls[s["op"]] = upsert_calls.get(s["op"], 0) + 1
        if name in _SPAN_MS:
            total, self_metric = _SPAN_MS[name]
            m[total] += dur_ms
            if self_metric:
                m[self_metric] += selfs[s["id"]] * 1e3
    for k in {"catalog.read_table_calls", *(name for pair in _SPAN_MS.values() for name in pair if name)}:
        m[k] /= n

    for lo in traced.values():
        for k, v in lo.items():
            if k in m and k != "op":
                m[k] += v / n

    # tables written (base plus each index) per traced UPSERT statement
    writes = [upsert_calls.get(i, 0) for i in traced if run.ops[i]["kind"] in _UPSERT_KINDS]
    m["mutations.upsert_calls"] = statistics.mean(writes) if writes else 0.0
    m["indexes.hit_ratio"] = choose_hits / choose_calls if choose_calls else 0.0
    m["mutations.segments"] = float(run.detail.get("segments", 0))
    m["mutations.bytes_per_user_byte"] = float(run.detail.get("bytes_per_user_byte", 0.0))

    # overhead: each kind's traced latency over its untraced latency (every
    # kind is traced in alternate cycles), geometric mean over kinds
    by_kind: dict[str, tuple[list, list]] = {}
    for o in run.ops:
        if o["ok"] and o["cycle"] >= 0:  # warm-up cycles have negative indices
            by_kind.setdefault(o["kind"], ([], []))[o["traced"]].append(o["ms"])
    ratios = [statistics.mean(t) / statistics.mean(u) for u, t in by_kind.values() if u and t]
    m["trace.overhead_ratio"] = statistics.geometric_mean(ratios) if ratios else 0.0
    m["trace.unattributed_ratio"] = root_self / root_wall if root_wall else 0.0
    return m, UNITS

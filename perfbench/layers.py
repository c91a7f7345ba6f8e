"""Per-layer metrics from a traced run.

Span names are ``<layer>.<function>`` for a call into one of the engine's
layers, and ``op.<kind>`` for one whole closed-loop op. Every metric below
is emitted for every workload; one a workload never exercises is 0 (only
counts can be 0 — every time listed here is measured on all workloads).
Times of layers a workload alone exercises go into the detail line.
"""

from __future__ import annotations

import statistics

#: spans whose self time is DataFrame construction before the action
#: (including any Spark jobs the engine runs while it builds the plan)
CONSTRUCT = {
    "operators.timeseries.build", "sources.hbase.load_hbase_fixture",
    "operators.similarity.sidecar_read", "operators.similarity.serve_construct",
    "operators.dedup.exact_dedup", "operators.dedup.dedup_funnel",
    "operators.dedup.decontaminate", "operators.text.quality_features",
}
#: spans whose time is the run of the finished plan
EXEC = {
    "operators.timeseries.exec", "operators.similarity.serve_exec",
    "sources.sinks.write",
}


#: counts of layers only some workloads exercise (0 elsewhere)
LAYER_COUNTS = (
    "operators.similarity.build_jobs",
    "operators.similarity.serve_construct_jobs",
    "operators.similarity.serve_exec_jobs",
    "operators.dedup.jobs",
    "operators.dedup.lsh_candidate_pairs",
    "operators.dedup.verified_pairs",
    "operators.text.python_eval_nodes",
)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, tr, traced: dict, untraced: dict,
              session_s: float) -> tuple[dict, dict]:
    """(metrics for the result line, detail metrics by span name)."""
    ops = [s for s in tr.spans if s.name.startswith("op.")]
    roots = [s for s in tr.spans if s.parent is None]

    def per_root(key):
        """Median over ops of a count summed over the op's spans."""
        by_op: dict = {}
        for r in roots:
            by_op[r.op] = by_op.get(r.op, 0) + tr.inclusive(r, key)
        return _med(by_op.values())

    def span_ms(name):
        return _med(s.ms for s in tr.by_name(name))

    def phase_ms(names):
        by_op: dict = {}
        for s in tr.spans:
            if s.name in names:
                by_op[s.op] = by_op.get(s.op, 0.0) + tr.self_ms(s)
        return _med(by_op.values())

    def incl(name, key):
        return sum(tr.inclusive(s, key) for s in tr.by_name(name))

    writes = tr.by_name("sources.sinks.write")
    m = {
        "session.start_s": (session_s, "s"),
        "sources.parquet.load_table_ms": (span_ms("sources.parquet.load_table"), "ms"),
        "op.construct_ms": (phase_ms(CONSTRUCT), "ms"),
        "op.exec_ms": (phase_ms(EXEC), "ms"),
        "op.scan_time_ms": (per_root("scan_time_ms"), "ms"),
        "op.agg_time_ms": (per_root("agg_time_ms"), "ms"),
        "trace.overhead_ms": (traced["round_ms"] - untraced["round_ms"], "ms"),
        "op.jobs": (per_root("jobs"), "count"),
        "op.stages": (per_root("stages"), "count"),
        "op.tasks": (per_root("tasks"), "count"),
        "op.shuffle_bytes": (per_root("shuffle_bytes"), "bytes"),
        "op.shuffle_records": (per_root("shuffle_records"), "count"),
        "sources.parquet.files_read": (per_root("files_read"), "count"),
        "sources.parquet.rows_scanned": (per_root("rows_scanned"), "count"),
        "sources.sinks.files_written": (_med(s.counts.get("files_total", 0) for s in writes), "count"),
        "sources.sinks.bytes_written": (_med(s.counts.get("output_bytes", 0) for s in writes), "bytes"),
        "operators.timeseries.jobs_per_query": (
            _med(tr.inclusive(s, "jobs") for s in tr.by_name("op.ts_query")), "count"),
        "sources.hbase.pivot_shuffle_bytes": (
            _med(tr.inclusive(s, "shuffle_bytes") for s in ops if s.name == "op.hbase_query"),
            "bytes"),
    }
    rows = per_root("result_rows")
    m["sources.parquet.rows_scanned_per_result_row"] = (
        per_root("rows_scanned") / rows if rows else 0.0, "ratio")
    m.update(dict.fromkeys(LAYER_COUNTS, (0, "count")))
    m["operators.similarity.probed_files_ratio"] = (0.0, "ratio")
    m["operators.similarity.recall_at_5"] = (0.0, "ratio")
    m["operators.dedup.verified_per_candidate"] = (0.0, "ratio")
    m.update(wl.layer_counts(tr) if hasattr(wl, "layer_counts") else {})

    # detail: every span name's median duration (seconds for the batch
    # stages), self time and jobs per call
    detail = {}
    for name in sorted({s.name for s in tr.spans}):
        ss = tr.by_name(name)
        if name.startswith(("operators.dedup.", "operators.text.")):
            detail[f"{name}_s"] = {"value": _med(s.ms for s in ss) / 1e3,
                                   "unit": "s", "n": len(ss)}
        else:
            detail[f"{name}_ms"] = {"value": _med(s.ms for s in ss), "unit": "ms",
                                    "n": len(ss)}
        detail[f"{name}.self_ms"] = {"value": _med(tr.self_ms(s) for s in ss),
                                     "unit": "ms", "n": len(ss)}
        detail[f"{name}.jobs"] = {"value": incl(name, "jobs") / len(ss),
                                  "unit": "count", "n": len(ss)}
    detail.update(wl.layer_detail(tr) if hasattr(wl, "layer_detail") else {})
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return metrics, detail

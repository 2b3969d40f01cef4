"""Metric names, units and how each is computed from a run."""

from __future__ import annotations

import numpy as np

from .runner import Run, median
from .workloads import WARMUP

# name -> unit. Untraced runs print exactly these.
END_TO_END = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "merge_s": "s",
    "append_p50_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "batch_qps": "queries/s",
    "index_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
    "success_rate": "fraction",
}

# name -> (unit, span name, count key or None for the span's duration).
# Each value is the median over the run's spans of that name.
_SPAN_METRICS = {
    "session.start_s": ("s", "session.start", None),
    "session.warmup_s": ("s", "session.warmup", None),
    "sources.synthesize_s": ("s", "sources.synthesize", None),
    "docids.assign_s": ("s", "docids.assign", None),
    "docids.spark_tasks": ("count", "docids.assign", "spark_tasks"),
    "build.build_index_s": ("s", "build.build_index", None),
    "build.segment_busy_s": ("s", "build.build_index", "segment_busy_s"),
    "build.busy_fraction": ("fraction", "build.build_index", "busy_fraction"),
    "build.segments": ("count", "build.build_index", "segments"),
    "build.postings": ("count", "build.build_index", "postings"),
    "build.bytes_written": ("bytes", "build.build_index", "bytes_written"),
    "build.spark_jobs": ("count", "build.build_index", "spark_jobs"),
    "merge.merge_s": ("s", "merge.merge_segments", None),
    "merge.busy_s": ("s", "merge.merge_segments", "busy_s"),
    "merge.bytes_rewritten": ("bytes", "merge.merge_segments", "bytes_rewritten"),
    "merge.segments_in": ("count", "merge.merge_segments", "segments_in"),
    "merge.spark_jobs": ("count", "merge.merge_segments", "spark_jobs"),
    "append.append_batch_s": ("s", "append.append_batch", None),
    "append.segments_added": ("count", "append.append_batch", "segments_added"),
    "append.spark_jobs": ("count", "append.append_batch", "spark_jobs"),
    "deletes.delete_docs_s": ("s", "deletes.delete_docs", None),
    "query.load_index_s": ("s", "query.load_index", None),
    "query.compile_s": ("s", "query.compile", None),
    "query.execute_s": ("s", "query.execute", None),
    "query.spark_jobs": ("count", "client.request", "spark_jobs"),
    "query.spark_stages": ("count", "client.request", "spark_stages"),
    "query.spark_tasks": ("count", "client.request", "spark_tasks"),
    "query.postings_read": ("count", "client.replay", "postings_read"),
    "query.blob_bytes_read": ("bytes", "client.replay", "blob_bytes_read"),
    "codec.decode_s": ("s", "codec.decode", None),
    "codec.blob_bytes": ("bytes", "codec.decode", "blob_bytes"),
    "wand.kernel_s": ("s", "wand.kernel", None),
    "wand.postings_in": ("count", "wand.kernel", "postings_in"),
    "wand.results_per_posting": ("ratio", "wand.kernel", "results_per_posting"),
}

# Layers whose median span self time is reported as `<layer>.self_s`.
SELF_TIME_LAYERS = ("session", "sources", "docids", "build", "merge", "append",
                    "deletes", "query", "codec", "wand", "client")

PER_LAYER = {
    **{name: unit for name, (unit, _, _) in _SPAN_METRICS.items()},
    **{f"{layer}.self_s": "s" for layer in SELF_TIME_LAYERS},
    "storage.index_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.query_p50_ms": "ms",
}


def end_to_end(run: Run, rss_mb: float) -> tuple[dict, dict]:
    """(metrics, properties about the samples behind them)."""
    s = run.samples
    q = s.get("query_ms", [])
    values = {
        "setup_s": median(s.get("setup_s", [])),
        "build_turns_per_s": median(s.get("build_turns_per_s", [])),
        "merge_s": median(s.get("merge_s", [])),
        "append_p50_s": median(s.get("append_s", [])),
        "query_p50_ms": median(q),
        "query_p90_ms": float(np.percentile(q, 90)) if q else 0.0,
        "batch_qps": median(s.get("batch_qps", [])),
        "index_bytes_per_text_byte": median(
            s.get("index_bytes_per_text_byte", [])),
        "peak_rss_mb": rss_mb,
        "success_rate": 1.0 - run.failed / max(run.attempted, 1),
    }
    props = {
        "samples": {k: len(v) for k, v in sorted(s.items())},
        "sample_values": {k: [round(x, 4) for x in v]
                          for k, v in sorted(s.items())},
        "query_p90_samples_beyond": len(q) - int(np.ceil(0.9 * len(q))),
        "oracle_s": run.oracle_s,
        "error_rate": run.failed / max(run.attempted, 1),
    }
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in END_TO_END.items()}
    return metrics, props


def per_layer(run: Run) -> dict:
    tr = run.tracer
    agg = tr.aggregate(skip_request=WARMUP)
    values = {name: agg.median_of(span, key)
              for name, (_, span, key) in _SPAN_METRICS.items()}
    selfs = agg.layer_self_seconds()
    for layer in SELF_TIME_LAYERS:
        values[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    values["storage.index_bytes"] = median(
        run.samples.get("storage_index_bytes", []))
    values["trace.overhead_s"] = tr.overhead_s
    values["trace.query_p50_ms"] = median(run.samples.get("query_ms", []))
    return {k: {"value": float(values[k]), "unit": u}
            for k, u in PER_LAYER.items()}

"""The benchmark's metric table and the reduction of spans to metrics.

End-to-end metrics come from untraced runs; per-layer metrics from traced
runs. A per-layer metric is ``<span>.<field>``, where the span is named after
the library call it wraps (``<module>.<function>`` or
``<module>.<Class>.<method>``). A traced run prints every per-layer metric;
a span its workload never opens reads 0 (that layer did no work there).
"""

from __future__ import annotations

import statistics

from workloads import MIN_LOOP

END_TO_END = [
    # name, unit, better, bound (share of the parent's median it may worsen).
    # Every metric gets the largest bound. Timings: on a shared 4-vCPU host
    # their spread over 10 seeds (IQR / median) measured 0.08-0.20, more when
    # runs met a slow period of the host. Recall is exact for a seed but
    # varies with the seed's data: spread 0.05-0.10.
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("build_s", "s", "lower", 0.25),
    ("search_batch_qps", "1/s", "higher", 0.25),
    ("search_p50_ms", "ms", "lower", 0.25),
    ("search_p90_ms", "ms", "lower", 0.25),
    ("recall", "ratio", "higher", 0.25),
]

_BUILD = ("busy_s", "jobs", "stages", "shuffle_bytes")
_QUERY = ("busy_s", "jobs", "construct_s", "construct_jobs", "plan_ms", "recall_at_10")
_LOOP = ("p50_ms", "jobs", "plan_ms")

# span -> fields, in the order they are printed
SPANS = {
    "operators.ann.IVFIndex.build": _BUILD,
    "operators.ann.GraphIndex.build": _BUILD,
    "operators.pq.IVFPQIndex.build": _BUILD,
    "operators.ann.GraphIndex.query_batch": _QUERY,
    "operators.pq.knn_join_ivfpq": _QUERY,
    "operators.ann.IVFIndex.query": _LOOP + ("recall_at_10",),
    "operators.ann.IVFIndex.add_items": ("busy_s", "jobs"),
    "operators.knn.knn_join": ("busy_s", "jobs", "stages", "shuffle_bytes", "plan_ms",
                               "pairs_per_s"),
    "api.VectorDB.search_vector": _LOOP,
    "rag.answer_query": ("p50_ms",),
    "streaming.ingest.run_ingest": ("busy_s", "jobs", "input_rows", "trigger_ms"),
    "operators.dedup.dedup_exact": ("busy_s", "jobs", "shuffle_bytes", "plan_ms"),
    "operators.dedup.minhash_near_dup": ("busy_s", "jobs", "construct_jobs", "shuffle_bytes",
                                         "spill_bytes", "failed_tasks", "pair_recall"),
    "operators.dedup.dedup_clusters": ("busy_s", "jobs", "construct_jobs", "shuffle_bytes"),
    "operators.dedup.simhash_near_dup": ("busy_s", "jobs", "shuffle_bytes"),
    "operators.dedup.minhash_dedup_incremental": ("busy_s", "jobs", "construct_jobs",
                                                  "shuffle_bytes", "spill_bytes"),
    "sources.store.save": ("busy_s", "jobs"),
    "sources.store.upsert": ("busy_s", "jobs"),
    "sources.store.compact": ("busy_s", "jobs"),
    "sources.store.load": ("busy_s", "jobs"),
}

# spans of the closed loop: many calls, reported per call
LOOP_SPANS = {name for name, fields in SPANS.items() if "p50_ms" in fields}

BENCH = [("bench.wall_s", "s", "lower"), ("bench.trace_overhead_s", "s", "lower")]

UNITS = {"busy_s": "s", "construct_s": "s", "jobs": "count", "construct_jobs": "count",
         "stages": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
         "failed_tasks": "count", "plan_ms": "ms", "p50_ms": "ms", "trigger_ms": "ms",
         "recall_at_10": "ratio", "pair_recall": "ratio", "pairs_per_s": "1/s",
         "input_rows": "rows"}
HIGHER = {"recall_at_10", "pair_recall", "pairs_per_s", "input_rows"}


def per_layer_table() -> list[tuple[str, str, str]]:
    """Every per-layer metric as ``(name, unit, better)``."""
    out = [(f"{span}.{f}", UNITS[f], "higher" if f in HIGHER else "lower")
           for span, fields in SPANS.items() for f in fields]
    return out + BENCH


def _field(span, f):
    if f in ("busy_s", "p50_ms"):
        return span.busy_s * (1e3 if f == "p50_ms" else 1.0)
    if hasattr(span, f):
        return getattr(span, f)
    return span.extra.get(f)


def per_layer_values(tracer, wall_s: float) -> dict[str, float]:
    """Reduce the run's spans: sums over a pass, medians per call for loop
    spans (``recall_at_10`` there is a mean over the first ``MIN_LOOP``
    calls, the queries every run serves)."""
    out = {}
    for name, fields in SPANS.items():
        spans = tracer.by_name(name)
        for f in fields:
            of = spans[:MIN_LOOP] if f == "recall_at_10" and name in LOOP_SPANS else spans
            vals = [v for v in (_field(s, f) for s in of) if v is not None]
            if not vals:
                out[f"{name}.{f}"] = 0
            elif name in LOOP_SPANS:
                agg = statistics.fmean if f == "recall_at_10" else statistics.median
                out[f"{name}.{f}"] = float(agg(vals))
            else:
                out[f"{name}.{f}"] = sum(vals)
    out["bench.wall_s"] = wall_s
    out["bench.trace_overhead_s"] = tracer.overhead_s
    return out

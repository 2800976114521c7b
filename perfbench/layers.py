"""Per-layer metrics from a traced run's spans.

Times are medians over traced requests of the layer's self time summed
within a request (or per call, where the name says so); counts are
medians per request or per call. Layers a workload does not exercise
read 0. Job and task counts come from the spans' Spark job groups.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

CURATE_STAGES = ("quality_filter", "exact_dedup", "near_dup", "semantic_dedup", "cosine_topk")
FAILURE_LAYERS = ("extractors", "store", "curate")


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(run, session_s: float) -> dict[str, tuple[float, str]]:
    t = run.tracer
    t.resolve_jobs()
    t.annotate()
    traced = sorted({s["request"] for s in t.spans if isinstance(s["request"], int)})
    by_req: dict[int, list[dict]] = defaultdict(list)
    for s in t.spans:
        if isinstance(s["request"], int):
            by_req[s["request"]].append(s)
    kids = t.children()

    def req_sum(name: str, field: str = "self_s") -> float:
        return _median(sum(s[field] for s in by_req[r] if s["name"] == name) for r in traced)

    def req_count(name: str) -> float:
        return _median(sum(1 for s in by_req[r] if s["name"] == name) for r in traced)

    def per_call(name: str, field: str) -> float:
        return _median(s[field] for r in traced for s in by_req[r] if s["name"] == name)

    def index_build(r: int) -> float:
        """Serves that missed the cache: serve time minus version resolution."""
        total = 0.0
        for s in by_req[r]:
            if s["name"] != "store.serve_features":
                continue
            ch = kids[s["id"]]
            if any(c["name"] == "cache.get" and c.get("result") is False for c in ch):
                resolve = sum(c["end"] - c["start"] for c in ch if c["name"] == "store.latest_version")
                total += (s["end"] - s["start"]) - resolve
        return total

    def lookups(r: int, hit: bool) -> int:
        """Serving-index cache lookups of request ``r`` that hit (or missed)."""
        return sum(1 for s in by_req[r] if s["name"] == "cache.get" and s.get("result") is hit)

    hits = sum(lookups(r, True) for r in traced)
    misses = sum(lookups(r, False) for r in traced)
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (session_s, "s"),
        "extractors.extract_calls": (req_count("extractors.extract"), "count"),
        "quality.validate_s": (req_sum("quality.validate"), "s"),
        "quality.validate_jobs": (per_call("quality.validate", "jobs_incl"), "count"),
        "versioning.content_version_s": (req_sum("versioning.content_version"), "s"),
        "versioning.content_version_jobs": (per_call("versioning.content_version", "jobs_incl"), "count"),
        "store.register_self_s": (req_sum("store.register_features"), "s"),
        "writers.atomic_overwrite_s": (req_sum("writers.atomic_overwrite_parquet"), "s"),
        "writers.atomic_overwrite_calls": (req_count("writers.atomic_overwrite_parquet"), "count"),
        "writers.drop_partition_dirs_s": (req_sum("writers.drop_partition_dirs"), "s"),
        "store.cleanup_s": (req_sum("store.cleanup_old_versions"), "s"),
        "store.latest_version_s": (req_sum("store.latest_version"), "s"),
        "store.latest_version_calls": (req_count("store.latest_version"), "count"),
        "store.index_build_s": (_median(index_build(r) for r in traced), "s"),
        "store.serve_jobs": (per_call("store.serve_features", "jobs_incl"), "count"),
        "store.get_features_s": (req_sum("store.get_features"), "s"),
        "store.files_per_version": (float(run.gauges.get("store.files_per_version", 0)), "count"),
        "store.bytes_per_version": (float(run.gauges.get("store.bytes_per_version", 0)), "B"),
        "readers.read_table_s": (req_sum("readers.read_table"), "s"),
        "cache.get_us": (per_call("cache.get", "self_s") * 1e6, "us"),
        "cache.hits": (_median(lookups(r, True) for r in traced), "count"),
        "cache.misses": (_median(lookups(r, False) for r in traced), "count"),
        "cache.hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "monitor.log_calls": (req_count("monitor.log"), "count"),
    }
    for st in CURATE_STAGES:
        m[f"curate.{st}_s"] = (req_sum(f"curate.{st}"), "s")
        m[f"curate.{st}_tasks"] = (per_call(f"curate.{st}", "tasks_incl"), "count")
    for layer in FAILURE_LAYERS:
        m[f"{layer}.failures"] = (float(run.failures.get(layer, 0)), "count")
    m["op_failure_ratio"] = (run.failed / max(run.attempted, 1), "ratio")
    m["trace.requests"] = (float(len(traced)), "count")
    # tracing overhead = this minus request_p50_ms of an untraced run
    m["trace.request_p50_ms"] = (run.request_p50_ms(), "ms")
    return m

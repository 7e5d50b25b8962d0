"""Per-layer metrics of the traced run, and the map from each layer
metric to the end-to-end metric it should move.

A layer is a module of the program. Every per-layer metric is reported
on every workload; a layer the workload never calls reads 0, which is
the measured form of the "no change on the bypassing workload"
prediction below.
"""

from __future__ import annotations

import statistics

from website_traffic_etl_gcp_spark import catalog, pipeline
from website_traffic_etl_gcp_spark.operators import traffic
from website_traffic_etl_gcp_spark.sources import readers, writers
from website_traffic_etl_gcp_spark.sources import snapshot_table as snap

import procs
import workloads as wls

# functions rebound to traced wrappers during a traced op
TRACED_FUNCTIONS = {
    "catalog.load_table": catalog.load_table,
    "pipeline.run_etl": pipeline.run_etl,
    "pipeline.extract": pipeline.extract,
    "readers.read_csv": readers.read_csv,
    "traffic.transform": traffic.transform,
    "traffic.quarantine": traffic.quarantine,
    "writers.backup_raw": writers.backup_raw,
    "writers.save_csv": writers.save_csv,
    "writers.load_to_warehouse": writers.load_to_warehouse,
    "snapshot.write_snapshot": snap.write_snapshot,
    "snapshot.merge_snapshot": snap.merge_snapshot,
    "snapshot.read_snapshot_pruned": snap.read_snapshot_pruned,
    "snapshot.maintain_snapshot": snap.maintain_snapshot,
    "snapshot.stage_files": snap.stage_files,
    "snapshot.read_manifest": snap.read_manifest,
}

# layer metric -> the end-to-end metric it should move, on which
# workload. Predicted no change on the workload that bypasses a layer:
# readers, writers and snapshot_table changes on queries; Arrow and
# mapInPandas kernels (operators.dedup, fingerprint, similarity) and
# catalog/plans changes on etl_lakehouse.
LAYER_MAP = {
    "session.get_spark_s": "setup_s on every workload",
    "session.peak_rss_mb": "none: reported, not gated",
    "catalog.load_table_s": "latency_s on queries",
    "plans.<query>.build_s, run_s": "latency_s on queries",
    "pipeline.spark_jobs": "latency_s (etl batch) on etl_lakehouse",
    "pipeline.failed_tasks, spark.failed_tasks": "failed ops on the workload",
    "spark.jobs_per_op, stages_per_op": "latency_s on the workload",
    "readers.scan_s": "latency_s (etl batch) on etl_lakehouse",
    "traffic.transform_self_s": "latency_s on etl_lakehouse and on queries "
    "(etl_traffic_hourly shares the transform)",
    "traffic.quarantine_ratio": "none: must equal the planted share",
    "writers.backup_raw_s, save_csv_s, load_to_warehouse_s": "latency_s "
    "(etl batch) on etl_lakehouse",
    "writers.bytes_out_per_byte_in": "none: space",
    "snapshot.merge_s, files_rewritten, files_new": "latency_s (merge) "
    "on etl_lakehouse",
    "snapshot.read_pruned_s, files_read_ratio": "latency_s (read) "
    "on etl_lakehouse",
    "snapshot.maintain_s, manifest_bytes, live_files": "ops_per_s on etl_lakehouse",
    "self.<layer>_s": "latency_s on the workloads that call the layer",
    "trace.overhead_pct": "none: cost of tracing itself",
}

SELF_LAYERS = ("op", "plans", "exec", "catalog", "pipeline", "readers",
               "traffic", "writers", "snapshot")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    names = [("session.get_spark_s", "s"), ("session.peak_rss_mb", "MB"),
             ("catalog.load_table_s", "s")]
    for q in wls.QUERIES:
        names += [(f"plans.{q}.build_s", "s"), (f"plans.{q}.run_s", "s")]
    names += [
        ("pipeline.spark_jobs", "count"), ("pipeline.failed_tasks", "count"),
        ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
        ("spark.failed_tasks", "count"),
        ("readers.scan_s", "s"), ("traffic.transform_self_s", "s"),
        ("traffic.quarantine_ratio", "ratio"),
        ("writers.backup_raw_s", "s"), ("writers.save_csv_s", "s"),
        ("writers.load_to_warehouse_s", "s"),
        ("writers.bytes_out_per_byte_in", "ratio"),
        ("snapshot.merge_s", "s"), ("snapshot.files_rewritten", "count"),
        ("snapshot.files_new", "count"), ("snapshot.read_pruned_s", "s"),
        ("snapshot.files_read_ratio", "ratio"), ("snapshot.maintain_s", "s"),
        ("snapshot.manifest_bytes", "bytes"), ("snapshot.live_files", "count"),
    ]
    names += [(f"self.{layer}_s", "s") for layer in SELF_LAYERS]
    names += [("trace.overhead_pct", "%")]
    return names


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _layer_of(span_name: str) -> str:
    parts = span_name.split(".")
    if len(parts) == 1:
        return "op"
    if parts[0] == "plans":
        return "exec" if parts[-1] == "run" else "plans"
    return parts[0]


def compute(wl, tracer, samples, get_spark_s: list[float]) -> dict[str, float]:
    """Every per-layer metric from the traced ops of one run."""
    traced = [s for s in samples if s.traced]
    requests = {i: s for i, s in enumerate(traced)}
    m: dict[str, float] = {name: 0.0 for name, _ in metric_names()}
    m["session.get_spark_s"] = _median(get_spark_s)
    m["session.peak_rss_mb"] = procs.peak_rss_mb()

    n_query_ops = sum(1 for s in traced if s.kind in wl.queries) if hasattr(wl, "queries") else 0
    if n_query_ops:
        m["catalog.load_table_s"] = sum(tracer.durations("catalog.load_table")) / n_query_ops
    for q in wls.QUERIES:
        m[f"plans.{q}.build_s"] = _median(tracer.durations(f"plans.{q}.build"))
        m[f"plans.{q}.run_s"] = _median(tracer.durations(f"plans.{q}.run"))

    jobs = [tracer.jobs[r] for r in requests]
    etl = [tracer.jobs[r] for r, s in requests.items() if s.kind == "etl_batch"]
    m["pipeline.spark_jobs"] = _mean([j["jobs"] for j in etl])
    m["pipeline.failed_tasks"] = float(sum(j["failed_tasks"] for j in etl))
    m["spark.jobs_per_op"] = _mean([j["jobs"] for j in jobs])
    m["spark.stages_per_op"] = _mean([j["stages"] for j in jobs])
    m["spark.failed_tasks"] = float(sum(j["failed_tasks"] for j in jobs))

    parts = getattr(wl, "parts", (wl,))
    etl_wl = next((p for p in parts if isinstance(p, wls.EtlIngest)), None)
    lake_wl = next((p for p in parts if isinstance(p, wls.LakehouseMerge)), None)

    if etl_wl is not None:
        wl = etl_wl
        scan = _median(tracer.durations("probe.scan"))
        m["readers.scan_s"] = scan
        m["traffic.transform_self_s"] = _median(tracer.durations("probe.transform_scan")) - scan
        # the share the program itself quarantined, over every batch
        m["traffic.quarantine_ratio"] = _mean(
            [c["quarantined"] / (c["loaded"] + c["quarantined"]) for c in wl.batch_counts]
        )
        for w in ("backup_raw", "save_csv", "load_to_warehouse"):
            m[f"writers.{w}_s"] = _median(tracer.per_request(f"writers.{w}"))
        m["writers.bytes_out_per_byte_in"] = getattr(wl, "bytes_out", 0) / wl.landing_bytes

    if lake_wl is not None:
        wl = lake_wl
        m["snapshot.merge_s"] = _median(tracer.durations("snapshot.merge_snapshot"))
        m["snapshot.files_rewritten"] = _mean([i["files_rewritten"] for i in wl.merge_info])
        m["snapshot.files_new"] = _mean([i["n_files_new"] for i in wl.merge_info])
        m["snapshot.read_pruned_s"] = _median(tracer.durations("snapshot.read_snapshot_pruned"))
        m["snapshot.files_read_ratio"] = _mean(
            [i["files_read"] / i["files_total"] for i in wl.read_info]
        )
        m["snapshot.maintain_s"] = _median(tracer.durations("snapshot.maintain_snapshot"))
        m["snapshot.manifest_bytes"] = float(getattr(wl, "manifest_bytes", 0))
        m["snapshot.live_files"] = float(getattr(wl, "live_files", 0))

    n_ops = max(1, len(traced))
    for name, secs in tracer.self_times().items():
        layer = _layer_of(name)
        if layer in SELF_LAYERS:
            m[f"self.{layer}_s"] += secs / n_ops
    m["trace.overhead_pct"] = overhead_pct(samples)
    return m


def overhead_pct(samples) -> float:
    """Traced against untraced ops of the same kind, interleaved in one
    run: the geometric mean over kinds of the ratio of their medians,
    as a percentage above 1."""
    ratios = []
    kinds = {s.kind for s in samples}
    for k in kinds:
        on = [s.seconds for s in samples if s.kind == k and s.traced]
        off = [s.seconds for s in samples if s.kind == k and not s.traced]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    if not ratios:
        return 0.0
    return (statistics.geometric_mean(ratios) - 1) * 100

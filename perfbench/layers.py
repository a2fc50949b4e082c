"""Per-layer metrics: the names BENCHMARK.json lists and how a traced run fills them.

Span metrics are means per call of the span. A workload that does not run a
span or a layer reports 0 for it, so every traced run prints every name.
"""

from __future__ import annotations

SPANS = [
    "routines.write_granules_bucket",
    "routines.merge_update",
    "readers.read.point",
    "readers.read.region",
    "readers.collect.point",
    "readers.collect.region",
    "readers.read.cube",
    "analysis.get_list_overpass_time",
    "analysis.overpass_to_grid",
    "gridding.idw_to_grid",
    "gridding.to_grid_arrays",
    "maintenance.compact_bucket",
]
GENERIC = [
    ("wall_ms", "ms"),
    ("driver_ms", "ms"),
    ("jobs", "count"),
    ("task_run_ms", "ms"),
    ("shuffle_write_bytes", "B"),
]
SPECIFIC = [
    ("writers.staged_files", "count"),
    ("writers.staged_dirs", "count"),
    ("routines.write_granules_bucket.slot_idle_ms", "ms"),
    ("writers.merged_files", "count"),
    ("writers.merged_mean_file_kb", "KiB"),
    ("writers.stored_bytes_per_input_byte", "ratio"),
    ("routines.merge_update.rewritten_bytes_per_new_byte", "ratio"),
    ("routines.failed_granules", "count"),
    ("readers.files_scanned.point", "count"),
    ("readers.files_scanned.region", "count"),
    ("readers.partitions_scanned_ratio.region", "ratio"),
    ("readers.rows_scanned_per_row_returned.point", "ratio"),
    ("readers.rows_scanned_per_row_returned.region", "ratio"),
    ("readers.collect.point.input_bytes", "B"),
    ("readers.collect.region.input_bytes", "B"),
    ("analysis.overpasses", "count"),
    ("gridding.cells_out", "count"),
    ("maintenance.compacted_partitions", "count"),
    ("spark.jobs_total", "count"),
    ("spark.gc_ms", "ms"),
    ("trace.overhead_ratio", "ratio"),
]


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order.

    The readers spans never shuffle, so their shuffle bytes are left out."""
    return [
        (f"{s}.{g}", u)
        for s in SPANS
        for g, u in GENERIC
        if not (s.startswith("readers.") and g == "shuffle_write_bytes")
    ] + SPECIFIC


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(wl, reduced: dict, overhead_ratio: float) -> dict[str, tuple[float, str]]:
    """Fill every per-layer name from the reduced event log and the workload's counts."""
    spans, app, counts = reduced["spans"], reduced["app"], {**wl.setup_layer, **wl.layer}
    out = {name: 0.0 for name, _ in names()}

    def per_call(span: str, key: str) -> float:
        s = spans.get(span)
        return _ratio(s.get(key, 0.0), s["calls"]) if s else 0.0

    for span in spans:
        for g, _ in GENERIC:
            if f"{span}.{g}" in out:
                out[f"{span}.{g}"] = per_call(span, g)
    for name in ("writers.staged_files", "writers.staged_dirs", "writers.merged_files",
                 "writers.merged_mean_file_kb", "writers.stored_bytes_per_input_byte",
                 "routines.failed_granules", "analysis.overpasses", "gridding.cells_out",
                 "maintenance.compacted_partitions"):
        out[name] = float(counts.get(name, 0.0))
    out["routines.write_granules_bucket.slot_idle_ms"] = per_call("routines.write_granules_bucket", "slot_idle_ms")
    out["routines.merge_update.rewritten_bytes_per_new_byte"] = _ratio(
        spans.get("routines.merge_update", {}).get("output_bytes", 0.0),
        counts.get("routines.merge_update.new_bytes", 0.0),
    )
    for kind in ("point", "region"):
        span = f"readers.collect.{kind}"
        out[f"readers.files_scanned.{kind}"] = per_call(span, "number_of_files_read")
        out[f"readers.collect.{kind}.input_bytes"] = per_call(span, "input_bytes")
        out[f"readers.rows_scanned_per_row_returned.{kind}"] = _ratio(
            spans.get(span, {}).get("input_records", 0.0), counts.get(f"readers.rows_returned.{kind}", 0.0)
        )
    out["readers.partitions_scanned_ratio.region"] = _ratio(
        per_call("readers.collect.region", "number_of_partitions_read"), counts.get("archive.partitions", 0.0)
    )
    out["spark.jobs_total"] = app.get("jobs", 0.0)
    out["spark.gc_ms"] = app.get("gc_ms", 0.0)
    out["trace.overhead_ratio"] = overhead_ratio
    units = dict(names())
    return {name: (value, units[name]) for name, value in out.items()}

"""Per-layer metrics of a traced run, from spans and the parsed event log.

Every value is per traced request (a sum over the traced requests divided
by their count) unless it is a ratio. A layer the workload does not reach
reports 0. DESIGN.md maps each metric to the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import GroupStats, covered_seconds

#: name → (unit, better); the order BENCHMARK.json lists them in
PER_LAYER = {
    "extract.stage_s": ("s", "lower"),
    "detect.stage_s": ("s", "lower"),
    "detect.rows_per_page": ("count", "lower"),
    "cells.stage_s": ("s", "lower"),
    "tiles.stage_s": ("s", "lower"),
    "tiles.driver_s": ("s", "lower"),
    "pipeline.stage_cover": ("ratio", "higher"),
    "iceberg.write_s": ("s", "lower"),
    "iceberg.commit_s": ("s", "lower"),
    "iceberg.files_written": ("count", "lower"),
    "iceberg.bytes_written_per_page": ("B", "lower"),
    "iceberg.load_s": ("s", "lower"),
    "iceberg.files_selected_ratio": ("ratio", "lower"),
    "classify.read_s": ("s", "lower"),
    "classify.classify_s": ("s", "lower"),
    "classify.jobs_per_request": ("count", "lower"),
    "taxonomy.validate_s": ("s", "lower"),
    "resolution.s": ("s", "lower"),
    "pip.join_s": ("s", "lower"),
    "pip.candidate_pairs": ("count", "lower"),
    "pip.hit_ratio": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_bytes": ("B", "lower"),
    "spark.fetch_wait_s": ("s", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "broadcast.build_s": ("s", "lower"),
    "broadcast.bytes": ("B", "lower"),
    "python.start_init_s": ("s", "lower"),
    "python.run_s": ("s", "lower"),
    "python.bytes_sent": ("B", "lower"),
    "python.bytes_returned": ("B", "lower"),
    "trace.overhead": ("ratio", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
}

_PIPELINE_STAGES = ("extract", "detect", "cells", "tiles")


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _median_ok(recs) -> float:
    secs = [r["seconds"] for r in recs if r["ok"]]
    return statistics.median(secs) if secs else 0.0


def per_layer(spans, groups: dict[str, GroupStats], traced, plain, wl,
              cores: int, rss_mb: float) -> dict[str, tuple[float, str]]:
    requests = {s.request: s for s in spans if s.layer == "request"}
    n = len(requests)
    by_layer = defaultdict(list)
    for s in spans:
        by_layer[s.layer].append(s)

    def wall(layer):
        return sum(s.seconds for s in by_layer[layer])

    def count(layer, key):
        return sum(s.counts.get(key, 0) for s in by_layer[layer])

    # job groups are "r<request>:<layer>"
    req_groups: dict[int, list[GroupStats]] = defaultdict(list)
    layer_groups: dict[str, list[GroupStats]] = defaultdict(list)
    for gid, g in groups.items():
        if gid.startswith("r") and ":" in gid:
            req, layer = gid[1:].split(":", 1)
            if int(req) in requests:
                req_groups[int(req)].append(g)
                layer_groups[layer].append(g)

    def gsum(attr, layers=None):
        pool = ([g for gs in req_groups.values() for g in gs] if layers is None
                else [g for la in layers for g in layer_groups[la]])
        return sum(getattr(g, attr) for g in pool)

    def gkey(key):
        return sum(g.sums.get(key, 0.0) for gs in req_groups.values()
                   for g in gs)

    writes = by_layer["iceberg.write"]
    spark_write = sum(s.counts["spark_write_s"] for s in writes)
    tile_write = sum(s.counts["spark_write_s"] for s in writes
                     if s.counts.get("table_tile_counts"))
    pages = getattr(wl, "n", 0) if wl.name == "crawl_pipeline" else 0
    req_wall = sum(s.seconds for s in requests.values())
    gaps, skews = [], []
    for r, sp in requests.items():
        ivs = [iv for g in req_groups[r] for iv in g.job_intervals]
        gaps.append(sp.seconds - covered_seconds(ivs, sp.t0, sp.t1))
        merged = GroupStats()
        for g in req_groups[r]:
            for sid, d in g.stage_tasks.items():
                merged.stage_tasks[sid].extend(d)
        skews.append(merged.task_skew())

    def per_req(x):
        return _ratio(x, n)

    v = {
        "extract.stage_s": per_req(wall("extract")),
        "detect.stage_s": per_req(wall("detect")),
        "detect.rows_per_page": _ratio(
            sum(s.counts["rows"] for s in writes
                if s.counts.get("table_detections")), pages * n),
        "cells.stage_s": per_req(wall("cells")),
        "tiles.stage_s": per_req(wall("tiles")),
        "tiles.driver_s": per_req(wall("tiles") - tile_write),
        "pipeline.stage_cover": _ratio(
            sum(wall(s) for s in _PIPELINE_STAGES), req_wall)
        if pages else 0.0,
        "iceberg.write_s": per_req(wall("iceberg.write")),
        "iceberg.commit_s": per_req(wall("iceberg.write") - spark_write),
        "iceberg.files_written": per_req(count("iceberg.write", "files")),
        "iceberg.bytes_written_per_page": _ratio(
            count("iceberg.write", "bytes"), pages * n),
        "iceberg.load_s": per_req(wall("iceberg.load")),
        "iceberg.files_selected_ratio": _ratio(
            count("iceberg.select", "selected"),
            count("iceberg.select", "total")),
        "classify.read_s": per_req(wall("classify.read")),
        "classify.classify_s": per_req(wall("classify.classify")),
        "classify.jobs_per_request": per_req(
            gsum("jobs", ["classify.read", "classify.classify"])),
        "taxonomy.validate_s": per_req(wall("taxonomy.validate")),
        "resolution.s": per_req(wall("resolution")),
        "pip.join_s": per_req(wall("pip")),
        "pip.candidate_pairs": per_req(gsum("join_rows", ["pip"])),
        "pip.hit_ratio": _ratio(count("pip", "pairs"),
                                gsum("join_rows", ["pip"])),
        "spark.jobs": per_req(gsum("jobs")),
        "spark.tasks": per_req(gsum("tasks")),
        "spark.driver_gap_s": per_req(sum(gaps)),
        "spark.core_util": _ratio(gsum("task_ms") / 1000.0, req_wall * cores),
        "spark.cpu_s": per_req(gsum("cpu_ns") / 1e9),
        "spark.gc_s": per_req(gsum("gc_ms") / 1000.0),
        "spark.shuffle_bytes": per_req(gsum("shuffle_bytes")),
        "spark.fetch_wait_s": per_req(gsum("fetch_wait_ms") / 1000.0),
        "spark.spill_bytes": per_req(gsum("spill_bytes")),
        "spark.task_skew": statistics.median(skews) if skews else 0.0,
        "broadcast.build_s": per_req(gkey("bcast_build_ms") / 1000.0),
        "broadcast.bytes": per_req(gkey("bcast_bytes")),
        "python.start_init_s": per_req(
            (gkey("py_start_ms") + gkey("py_init_ms")) / 1000.0),
        "python.run_s": per_req(gkey("py_run_ms") / 1000.0),
        "python.bytes_sent": per_req(gkey("py_bytes_sent")),
        "python.bytes_returned": per_req(gkey("py_bytes_returned")),
        "trace.overhead": _ratio(_median_ok(traced), _median_ok(plain)) - 1.0,
        # VmHWM of the driver Python process + its JVM: a per-layer figure,
        # not an end-to-end one, because the JVM's peak moves 20-40%
        # between seeds with the parallel collector's heap sizing
        "memory.peak_rss_mb": rss_mb,
    }
    return {k: (float(v[k]), PER_LAYER[k][0]) for k in PER_LAYER}


def group_table(groups: dict[str, GroupStats]) -> dict[str, dict]:
    """Readable per-layer totals across requests, for the summary line."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for gid, g in groups.items():
        layer = gid.split(":", 1)[1] if ":" in gid else (gid or "none")
        row = out[layer]
        row["jobs"] += g.jobs
        row["tasks"] += g.tasks
        row["task_s"] += g.task_ms / 1000.0
        row["join_rows"] += g.join_rows
        for k, x in g.sums.items():
            row[k] += x
    return {k: dict(v) for k, v in out.items()}

"""End-to-end pipeline: pages → extract → detect → encode → tiles.

Each stage commits an Iceberg-lite snapshot (schema + per-file row lineage +
wall-time metrics) and is skipped on resume when a committed snapshot with
the same stage key exists — checkpointed batch resumability per the north
rule. The flagship query answers: "which map tiles / S2 cells contain how
many detected coordinates, per zoom level".

Launched via ``spark-submit --py-files`` through
``cartwright_spark/jobs/pipeline.py``.
"""

from __future__ import annotations

import time

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartwright_spark.functions.geodesy import tile_id_col, tile_x_col, tile_y_col
from cartwright_spark.operators.extract import extract_pages
from cartwright_spark.sources.corpus import generate_pages
from cartwright_spark.sources.iceberg_lite import Catalog
from cartwright_spark.spatial.udfs import s2_cell


#: partition-column granularity for the time axis. Real Common-Crawl
#: snapshots span weeks-to-months, so date(warc_ts) ("day") gives the
#: bounded daily layout the north rule wants — at 100 TB each daily
#: directory is tens of GB and the per-directory write cost amortizes to
#: nothing. The synthetic corpus spreads warc_ts over ~25 YEARS at bench
#: sizes, so "day"/"month" would mean thousands of KB-sized directories
#: (measured: month = 302 dirs = 5.8 s of write overhead at 100k pages);
#: "year" reproduces the production dirs-per-byte ratio. Same machinery,
#: one knob — pruning is proven at "day" in test_plan_quality.
TIME_PARTITION = {
    "day": lambda: F.to_date("warc_ts").cast("string").alias("warc_part"),
    "month": lambda: F.date_format("warc_ts", "yyyy-MM").alias("warc_part"),
    "year": lambda: F.year("warc_ts").alias("warc_part"),
}


def _stage(catalog: Catalog, table: str, stage_key: str, parent,
           build, metrics_extra=None, force=False, partition_by=None,
           files_per_partition=1, inject_fail=None, fail_after_parts=8):
    """Run one checkpointed stage: reuse the committed snapshot if present.

    inject_fail=<table>: failure-injection knob for crash-resume proofs —
    tasks beyond `fail_after_parts` partitions raise mid-write (JVM
    assert_true, no python), so earlier tasks complete, the stage's
    snapshot manifest is never committed, and the job dies exactly the
    way a lost executor/driver kills a 100 TB run partway through a
    stage. A restart without the knob must reuse every upstream
    committed snapshot and re-run only this stage
    (tests/test_pipeline.py + scripts/failure_resume_bench.py)."""
    snap = None if force else catalog.find_snapshot(table, stage_key)
    if snap is not None:
        return snap, True
    t0 = time.perf_counter()
    df = build()
    if inject_fail == table:
        df = df.where(F.assert_true(
            F.spark_partition_id() < F.lit(fail_after_parts),
            F.lit(f"injected mid-stage failure in '{table}'")).isNull())
    snap = catalog.write_table(df, table, stage=table, stage_key=stage_key,
                               parent=parent, metrics=metrics_extra or {},
                               partition_by=partition_by,
                               files_per_partition=files_per_partition)
    # wall time is only known after the commit; amend the manifest so the
    # persisted lineage carries real per-stage latency (north rule)
    snap = catalog.amend_metrics(
        table, snap["snapshot_id"],
        {"stage_wall_sec": time.perf_counter() - t0})
    return snap, False


def run_pipeline(spark: SparkSession, workdir: str, n_pages: int = 2000,
                 s2_level: int = 10, h3_res: int = 6, zoom: int = 8,
                 force: bool = False, time_partition: str = "year",
                 inject_fail: str | None = None,
                 fail_after_parts: int = 8) -> dict:
    cat = Catalog(workdir)
    summary: dict = {"stages": {}}
    t_start = time.perf_counter()
    warc_part = TIME_PARTITION[time_partition]

    # 1) pages corpus (Iceberg-style source table), hive-partitioned on
    # the warc timestamp so every later time-bounded scan partition-prunes
    pages_snap, reused = _stage(
        cat, "pages", f"pages:n={n_pages}:tp={time_partition}:v2", None,
        lambda: generate_pages(spark, n_pages).withColumn(
            "warc_part", warc_part()),
        partition_by=["warc_part"], files_per_partition=4,
        inject_fail=inject_fail, fail_after_parts=fail_after_parts)
    summary["stages"]["pages"] = {"rows": pages_snap["row_count"], "reused": reused}

    # 2) extract text (byte-identical per url) — projection pruned to the
    # columns the stage needs so the parquet scan skips `text`; keeps the
    # pages table's time partitioning (partition col rides the select)
    def build_extract():
        pages = cat.load_table(spark, "pages", pages_snap["snapshot_id"])
        return extract_pages(
            pages.select("url", "warc_ts", "html", "lang", "warc_part")) \
            .drop("html")
    ext_snap, reused = _stage(
        cat, "extracted",
        f"extract:v2:tp={time_partition}:parent={pages_snap['snapshot_id']}",
        pages_snap, build_extract, partition_by=["warc_part"],
        files_per_partition=4, inject_fail=inject_fail,
        fail_after_parts=fail_after_parts)
    summary["stages"]["extracted"] = {"rows": ext_snap["row_count"], "reused": reused}

    # 3) detect entities in extracted text (JVM regex + broadcast joins)
    def build_detect():
        ext = cat.load_table(spark, "extracted", ext_snap["snapshot_id"])
        from cartwright_spark.operators.detect import detect_all
        return detect_all(ext, spark, text_col="extracted_text")
    det_snap, reused = _stage(
        cat, "detections", f"detect:v3:parent={ext_snap['snapshot_id']}",
        ext_snap, build_detect, inject_fail=inject_fail,
        fail_after_parts=fail_after_parts)
    summary["stages"]["detections"] = {"rows": det_snap["row_count"], "reused": reused}

    # 4) encode S2 cell + H3 hex + web-mercator tile for spatial
    # detections (north star: every detected coordinate carries BOTH cell
    # systems — S2 feeds the PIP layer, H3 the k-ring kNN layer). Both
    # cell encodes share ONE Arrow stage fed only narrow lat/lon doubles;
    # mercator tiles stay JVM codegen.
    def build_cells():
        from pyspark.sql.functions import pandas_udf

        from cartwright_spark.spatial import h3 as h3mod
        from cartwright_spark.spatial import s2 as s2mod

        # ONE Arrow stage computes BOTH cell systems from the same
        # lat/lon batch (bit-parity with the JVM form is locked by
        # tests). Measured at 100k pages / 220k coords: the staged JVM
        # S2 expression is 1.06 s (the Hilbert-walk expression tree is
        # wide even staged), the fused numpy UDF 0.62 s including H3 —
        # the r2 'single Arrow stage' rule kept the slower encode.
        @pandas_udf("struct<s2_cell: long, hex_cell: long>")
        def both_cells(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
            import numpy as np
            la = lat.to_numpy(np.float64)
            lo = lon.to_numpy(np.float64)
            return pd.DataFrame({
                "s2_cell": s2mod.latlng_to_cell(la, lo, s2_level)
                .astype(np.int64),
                "hex_cell": h3mod.latlng_to_cell(la, lo, h3_res)})

        # project to the columns the tiling layer consumes BEFORE the
        # encode — the detections table carries wide entity strings that
        # would otherwise ride through the scan, encode, and snapshot
        det = cat.load_table(spark, "detections", det_snap["snapshot_id"]) \
            .where(F.col("lat").isNotNull()) \
            .select("url", "kind", "lat", "lon")
        return (
            det.withColumn("__c", both_cells(F.col("lat"), F.col("lon")))
            .withColumn("s2_cell", F.col("__c.s2_cell"))
            .withColumn("hex_cell", F.col("__c.hex_cell"))
            .drop("__c")
            .withColumn("tile_x", tile_x_col(F.col("lon"), zoom))
            .withColumn("tile_y", tile_y_col(F.col("lat"), zoom))
            .withColumn("tile_id", tile_id_col(F.col("lat"), F.col("lon"), zoom))
            # one file per encode task, sorted on the cell id (S2's
            # Hilbert order), so each file's s2_cell min/max in the
            # manifest bounds a compact stretch of the curve. No shuffle,
            # and no directory per coarse cell: listing those cost every
            # full scan a partition-discovery job
            .sortWithinPartitions("s2_cell")
        )
    cell_snap, reused = _stage(
        cat, "cells",
        f"cells:v6:s2={s2_level}:h3={h3_res}:z={zoom}"
        f":parent={det_snap['snapshot_id']}",
        det_snap, build_cells,
        inject_fail=inject_fail, fail_after_parts=fail_after_parts)
    summary["stages"]["cells"] = {"rows": cell_snap["row_count"], "reused": reused}

    # 5) tile histogram. These five aggs are all ALGEBRAIC (count/min/
    # max), so Spark's map-side partial aggregation already absorbs the
    # hot-tile skew: every map task emits at most |distinct tiles| rows,
    # and a hot urban tile reaches its reducer as ≤ n_tasks partials, not
    # n_rows rows. The r2 salted_aggregate here was paying a full count
    # pre-pass (measured 1.59 s vs 0.82 s plain at 100k pages) to solve a
    # problem hashAggregate's partial step already solves. Salting (J9)
    # remains the tool for HOLISTIC aggs (collect_list, exact quantiles)
    # and skewed JOIN keys, where no map-side combine exists.
    # 5+6) tile histogram WITH the Gi* hot/cold-spot surface folded into
    # the SAME snapshot commit. The Gi* input is the GRID-BOUNDED rollup
    # (≤4^zoom tiles, never the pages), so its compute is near-free at
    # any corpus size — but as its own checkpointed stage (r4 commit
    # b8d5c71) it paid a fixed snapshot-commit + job-scheduling cost per
    # run that dominated at bench scale (measured: 18.9k → 12–15k docs/s
    # at 100k pages). Folding the derivation into the tile_counts action
    # keeps one commit, one lineage hop, identical gi_star values
    # (tests/test_pipeline.py::test_hotspot_stage_matches_direct_gistar).
    _TILE_SCHEMA = ("tile_id bigint, n_points bigint, lat_min double, "
                    "lat_max double, lon_min double, lon_max double, "
                    "tile_x bigint, tile_y bigint, gi_star double")

    def build_tiles():
        cells = cat.load_table(spark, "cells", cell_snap["snapshot_id"])
        agg = cells.groupBy("tile_id").agg(
            F.count("*").alias("n_points"),
            F.min("lat").alias("lat_min"), F.max("lat").alias("lat_max"),
            F.min("lon").alias("lon_min"), F.max("lon").alias("lon_max"))
        # tile_id encodes (zoom, x, y) — recover x/y with bit math
        rollup = (agg.withColumn("tile_x", F.expr("(tile_id >> 29) & 536870911"))
                  .withColumn("tile_y", F.expr("tile_id & 536870911")))
        # tile columns wrap at 2^zoom, which neighbour_stats expresses
        # as cell_deg = 360/2^zoom
        cell_deg = 360.0 / (1 << zoom)
        # METADATA guard, zero extra jobs: the rollup has ≤4^zoom rows
        # no matter the corpus size, so coarse zooms take the driver
        # path — ONE distributed agg job (Arrow toPandas), the numpy Gi*
        # kernel, and a single tiny write — instead of a checkpoint
        # round-trip + 3 grid-bounded shuffles. Fine zooms (4^zoom >
        # 300k) keep the fully distributed plan.
        if (1 << (2 * zoom)) <= 300_000:
            from cartwright_spark.spatial.autocorr import gistar_numpy
            pdf = rollup.toPandas()
            _, _, pdf["gi_star"] = gistar_numpy(
                pdf["tile_y"], pdf["tile_x"], pdf["n_points"], cell_deg)
            # ≤4^zoom rows: a handful of writer tasks, not one per core
            return spark.createDataFrame(pdf, _TILE_SCHEMA).coalesce(4)
        from cartwright_spark.spatial.autocorr import gistar_from_cells
        rollup = rollup.localCheckpoint(eager=True)
        gi = gistar_from_cells(
            rollup.select(F.col("tile_y").alias("cell_row"),
                          F.col("tile_x").alias("cell_col"),
                          F.col("n_points").alias("x")),
            cell_deg=cell_deg) \
            .select(F.col("cell_row").alias("tile_y"),
                    F.col("cell_col").alias("tile_x"), "gi_star")
        # the join puts its keys first; commit the coarse path's order
        return (rollup.join(F.broadcast(gi), ["tile_x", "tile_y"], "left")
                .select(*rollup.columns, "gi_star"))
    tile_snap, reused = _stage(
        cat, "tile_counts", f"tiles:v4:z={zoom}:parent={cell_snap['snapshot_id']}",
        cell_snap, build_tiles, inject_fail=inject_fail,
        fail_after_parts=fail_after_parts)
    summary["stages"]["tile_counts"] = {"rows": tile_snap["row_count"], "reused": reused}
    # every tile row carries its gi_star — report the folded surface
    # under the stage name the r4 lineage used so dashboards keep a row
    summary["stages"]["hotspots"] = {
        "rows": tile_snap["row_count"], "reused": reused,
        "folded_into": "tile_counts"}

    summary["wall_sec"] = time.perf_counter() - t_start
    summary["docs_per_sec"] = n_pages / summary["wall_sec"]
    summary["lineage_depth"] = len(cat.lineage("tile_counts"))
    return summary


def hotspot_surface(spark: SparkSession, workdir: str) -> DataFrame:
    """The Gi* hot/cold-spot surface — now columns of tile_counts."""
    return Catalog(workdir).load_table(spark, "tile_counts") \
        .select("tile_x", "tile_y", "n_points", "gi_star")


def tile_histogram(spark: SparkSession, workdir: str) -> DataFrame:
    return Catalog(workdir).load_table(spark, "tile_counts") \
        .orderBy(F.desc("n_points"))

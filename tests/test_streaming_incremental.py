"""Incremental micro-batch: process only newly-appended source files."""

from pyspark.sql import functions as F

from cartwright_spark.sources.corpus import generate_pages
from cartwright_spark.sources.iceberg_lite import Catalog
from cartwright_spark.streaming.incremental import incremental_stage


def _transform(df):
    return df.select("url", F.length("text").alias("text_len"))


def test_incremental_processing(spark, tmp_path):
    cat = Catalog(str(tmp_path / "inc"))

    # initial source snapshot
    cat.write_table(generate_pages(spark, 100, partitions=2), "pages",
                    stage="pages", stage_key="pages:0")
    s1 = incremental_stage(spark, cat, "pages", "lens", _transform)
    assert s1 is not None and s1["row_count"] == 100

    # no new data → no-op
    assert incremental_stage(spark, cat, "pages", "lens", _transform) is None

    # append a new source snapshot (simulating arrival of new pages)
    cat.write_table(generate_pages(spark, 150, partitions=3), "pages",
                    stage="pages", stage_key="pages:1")
    s2 = incremental_stage(spark, cat, "pages", "lens", _transform)
    assert s2 is not None and s2["row_count"] == 150

    # exactly-once at file granularity: all increments together = 250 rows
    total = sum(s["row_count"] for s in cat.snapshots("lens"))
    assert total == 250
    assert incremental_stage(spark, cat, "pages", "lens", _transform) is None


def test_incremental_hll_sketch_equals_batch(spark, tmp_path):
    """Sketch mergeability × incremental micro-batches: each increment
    commits only ITS batch's HLL register table; max-merging the
    registers across all committed increments is bit-identical to
    sketching the full data in one pass — the incremental-maintenance
    contract that lets a 100 TB distinct-count stay current by touching
    only new crawl files."""
    from cartwright_spark.operators.sketch import hll_distinct, hll_sketch
    cat = Catalog(str(tmp_path / "ihll"))
    full = spark.range(30_000).select(
        (F.col("id") % 5).cast("string").alias("grp"),
        # duplicates across batches on purpose: id and id+20000 collide
        (F.col("id") % 20_000).cast("string").alias("v"))
    batches = [full.where(F.col("id") < 10_000),
               full.where((F.col("id") >= 10_000) & (F.col("id") < 20_000)),
               full.where(F.col("id") >= 20_000)]

    def sk(df):
        return hll_sketch(df, "grp", "v", p=7)

    for b in batches:
        cat.write_table(b.repartition(3), "vals_src", stage="src")
        assert incremental_stage(spark, cat, "vals_src", "hll_regs", sk) \
            is not None
    assert incremental_stage(spark, cat, "vals_src", "hll_regs", sk) is None

    parts = [cat.load_table(spark, "hll_regs", s["snapshot_id"])
             for s in cat.snapshots("hll_regs")]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    merged = merged.groupBy("grp", "reg").agg(F.max("rho").alias("rho"))
    direct = hll_sketch(full, "grp", "v", p=7)
    got = {(r["grp"], r["reg"], r["rho"]) for r in merged.collect()}
    want = {(r["grp"], r["reg"], r["rho"]) for r in direct.collect()}
    assert got == want
    # and the estimates derived from the merged registers match the
    # one-pass estimates exactly (order-independent harmonic sum)
    est_direct = {r["grp"]: r["est_distinct"]
                  for r in hll_distinct(full, "grp", "v", p=7).collect()}
    agg = merged.groupBy("grp").agg(
        F.count("*").alias("n_regs"),
        F.sum(F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), rho)"))
        .alias("s_ne"))
    m = 128
    alpha = 0.7213 / (1 + 1.079 / m)
    s = F.col("s_ne") + (F.lit(m) - F.col("n_regs"))
    raw = F.lit(alpha * m * m) / s
    v = F.lit(m) - F.col("n_regs")
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v)).otherwise(raw)
    est_merged = {r["grp"]: r["est"]
                  for r in agg.select("grp", est.alias("est")).collect()}
    assert est_merged == est_direct


def test_incremental_grid_rollups_equal_batch(spark, tmp_path):
    """Algebraic mergeability x incremental micro-batches for the grid
    layer: per-batch cell counts committed per increment, summed by
    cell across all increments, feed gistar_from_cells / the pyramid
    ancestor rollup — and the results are IDENTICAL to one-pass
    getis_ord_gistar / tile_pyramid over the full data. This is the
    incremental-maintenance contract: a 100 TB heatmap/hotspot surface
    stays current by rolling up only new crawl files and re-deriving
    the grid-bounded statistics."""
    from cartwright_spark.spatial.autocorr import (cell_counts,
                                                   getis_ord_gistar,
                                                   gistar_from_cells)
    cat = Catalog(str(tmp_path / "igrid"))
    full = spark.range(9_000).select(
        ((F.col("id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"),
        F.col("id"))
    batches = [full.where(F.col("id") < 3_000),
               full.where((F.col("id") >= 3_000) & (F.col("id") < 6_000)),
               full.where(F.col("id") >= 6_000)]

    def cc(df):
        return cell_counts(df, cell_deg=10.0)

    for b in batches:
        cat.write_table(b.repartition(3), "pts_src", stage="src")
        assert incremental_stage(spark, cat, "pts_src", "cells", cc) \
            is not None

    parts = [cat.load_table(spark, "cells", s["snapshot_id"])
             for s in cat.snapshots("cells")]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    merged = (merged.groupBy("cell_row", "cell_col")
              .agg(F.sum("x").alias("x")))

    direct = getis_ord_gistar(full, cell_deg=10.0).collect()
    incr = gistar_from_cells(merged, cell_deg=10.0).collect()
    key = lambda r: (r["cell_row"], r["cell_col"])
    assert ({key(r): (r["x"], r["deg"], r["s"], r["gi_star"])
             for r in incr}
            == {key(r): (r["x"], r["deg"], r["s"], r["gi_star"])
                for r in direct})

"""The three closed-loop workloads.

Each workload builds its inputs from the seed in :meth:`setup`, then
serves requests one at a time: :meth:`prepare` (untimed), :meth:`request`
(timed: engine calls through the public API only) and :meth:`check`
(untimed: compares the output with ground truth from the generator).
Requests come in fixed cycles (``cycle_len``) so every cycle has the same
mix of input shapes and only the values change with the seed.

``check`` returns (matched, total, errors); ``force`` asks a workload
that checks only a sample of its requests to check this one. ``matched
/ total`` feeds
``match_rate`` and any error fails the request. ``corrupt=True`` damages
the output before it is checked; the self-test uses it to prove a wrong
answer is caught.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen


class Workload:
    name = ""
    rate_name = ""       # items_per_s under the workload's own name
    cycle_len = 1

    def __init__(self, spark, seed: int, workdir: str, tiny: bool, tracer):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tiny = tiny
        self.tr = tracer

    def setup(self):
        raise NotImplementedError

    def prepare(self, idx: int):
        """Untimed per-request preparation."""

    def request(self, idx: int):
        raise NotImplementedError

    def items(self, idx: int, out) -> int:
        raise NotImplementedError

    def check(self, idx: int, out, corrupt: bool,
              force: bool) -> tuple[int, int, list]:
        raise NotImplementedError

    def trace_extras(self, idx: int, out):
        """Traced run only: layer work that is not part of a request."""


def _read_snapshot(cat, table: str, columns: list[str]) -> pd.DataFrame:
    """The latest committed snapshot of ``table``, read with pyarrow from
    the files its manifest lists."""
    import pyarrow.parquet as pq
    snap = cat.latest_snapshot(table)
    part_cols = set(snap["partition_by"])
    frames = []
    for f in snap["files"]:
        pdf = pq.read_table(os.path.join(cat.root, f["path"]), columns=[
            c for c in columns if c not in part_cols]).to_pandas()
        for c in part_cols & set(columns):
            pdf[c] = f["partition"][c]
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True)


# --------------------------------------------------------------------------

class CrawlPipeline(Workload):
    """``plans.pipeline.run_pipeline`` over a pre-committed pages table."""

    name = "crawl_pipeline"
    rate_name = "docs_per_s"
    ZOOM = 8
    S2_LEVEL = 10

    def setup(self):
        from cartwright_spark.functions.geodesy import tile_xy_np
        from cartwright_spark.plans.pipeline import TIME_PARTITION
        from cartwright_spark.sources.corpus import PAGES_SCHEMA
        from cartwright_spark.sources.iceberg_lite import Catalog
        self.n = 400 if self.tiny else 20_000
        pdf, truth = gen.pages(self.seed, self.n)
        x, y = tile_xy_np(truth["lat"].to_numpy(), truth["lon"].to_numpy(),
                          self.ZOOM)
        self.truth = pd.DataFrame({"url": truth["url"], "tx": x, "ty": y})
        self.base = os.path.join(self.workdir, "pages_catalog")
        df = self.spark.createDataFrame(pdf, PAGES_SCHEMA)
        # the stage key run_pipeline looks for, so it reuses this table
        Catalog(self.base).write_table(
            df.withColumn("warc_part", TIME_PARTITION["year"]()),
            "pages", stage="pages",
            stage_key=f"pages:n={self.n}:tp=year:v2",
            partition_by=["warc_part"], files_per_partition=4)
        self.reference_digest = None

    def _wd(self, idx):
        return os.path.join(self.workdir, f"pipeline_{idx}")

    def prepare(self, idx):
        # the previous request's tables go first: on the disk measured a
        # request's ~250 files take 0.5-2.5 s to delete, too long to leave
        # for the end of the run. Hard links: the pipeline only reads pages.
        shutil.rmtree(self._wd(idx - 1), ignore_errors=True)
        shutil.copytree(self.base, self._wd(idx), copy_function=os.link)

    def request(self, idx):
        from cartwright_spark.plans.pipeline import run_pipeline
        return run_pipeline(self.spark, self._wd(idx), n_pages=self.n,
                            s2_level=self.S2_LEVEL, zoom=self.ZOOM)

    def items(self, idx, out):
        return self.n

    def check(self, idx, out, corrupt, force):
        from cartwright_spark.sources.iceberg_lite import Catalog
        errors = []
        stages = out["stages"]
        if not stages["pages"]["reused"]:
            errors.append("pages table was rebuilt, not reused")
        for s in ("extracted", "detections", "cells", "tile_counts"):
            if stages[s]["reused"]:
                errors.append(f"stage {s} was reused, not computed")
        # read the committed snapshots straight from their parquet files:
        # the check runs no Spark job, so it costs the loop little time
        cat = Catalog(self._wd(idx))
        got = _read_snapshot(cat, "cells", ["url", "kind", "tile_x", "tile_y"])
        got = got[got["kind"] == "coord"].copy()
        if corrupt:
            got.loc[got.index[0], "tile_x"] += 1
        if len(got) != self.n or got["url"].nunique() != self.n:
            errors.append(f"{len(got)} coord rows for {self.n} pages")
        m = self.truth.merge(got, on="url", how="left")
        ok = (m["tx"] == m["tile_x"]) & (m["ty"] == m["tile_y"])
        matched = int(ok.sum())
        if matched != self.n:
            errors.append(f"{self.n - matched} pages with a wrong tile")
        tiles = _read_snapshot(cat, "tile_counts", [
            "tile_id", "n_points", "lat_min", "lat_max", "lon_min",
            "lon_max", "gi_star"]).sort_values("tile_id")
        digest = hashlib.sha256(pd.util.hash_pandas_object(
            tiles.assign(gi_star=tiles["gi_star"].round(9)),
            index=False).values.tobytes()).hexdigest()
        if self.reference_digest is None:
            self.reference_digest = digest     # the set-up reference run
        elif digest != self.reference_digest:
            errors.append("tile_counts digest differs from the reference run")
        return matched, self.n, errors


# --------------------------------------------------------------------------

_STRFTIME_TO_SPARK = {"%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH",
                      "%M": "mm", "%S": "ss", "%y": "yy", "%B": "MMMM",
                      "%b": "MMM"}


def spark_pattern(fmt: str) -> str | None:
    """strftime → Spark datetime pattern; None when a directive has no
    parse equivalent (weekday names, AM/PM)."""
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            pat = _STRFTIME_TO_SPARK.get(fmt[i:i + 2])
            if pat is None:
                return None
            out.append(pat)
            i += 2
        else:
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


class Categorize(Workload):
    """Profile one uploaded CSV table: read_in + classify_columns, then
    resolution on the date and lat/lon columns."""

    name = "categorize"
    rate_name = "columns_per_s"

    def setup(self):
        shapes = gen.TINY_TABLE_SHAPES if self.tiny else gen.TABLE_SHAPES
        self.cycle_len = len(shapes)
        self.tables = []
        os.makedirs(os.path.join(self.workdir, "tables"), exist_ok=True)
        for i, (pdf, truth) in enumerate(gen.tables(self.seed, shapes)):
            path = os.path.join(self.workdir, "tables", f"t{i}.csv")
            pdf.to_csv(path, index=False)
            self.tables.append((path, list(pdf.columns), truth))

    def request(self, idx):
        from cartwright_spark.operators import classify
        path, _, _ = self.tables[idx % self.cycle_len]
        with self.tr.span("classify.read"):
            df = classify.read_in(self.spark, path)
        with self.tr.span("classify.classify"):
            cls = classify.classify_columns(df)
        with self.tr.span("resolution"):
            temporal, spatial = self._resolution(df, cls)
        return df, cls, temporal, spatial

    def _resolution(self, df, cls):
        from cartwright_spark.operators import resolution
        dtypes = dict(df.dtypes)
        parts = []
        for c in cls:
            if (c.category, c.subcategory) != ("time", "date") or not c.format:
                continue
            col = F.col(f"`{c.column}`")
            if dtypes[c.column] in ("date", "timestamp"):
                secs = col.cast("timestamp").cast("double")
            elif c.format == "unix_time":
                secs = col.cast("double")
            else:
                pat = spark_pattern(c.format)
                if pat is None:
                    continue
                secs = F.try_to_timestamp(col.cast("string"),
                                          F.lit(pat)).cast("double")
            parts.append(F.struct(F.lit(c.column).alias("column"),
                                  secs.alias("ts")))
        temporal = []
        if parts:
            melted = df.select(F.explode(F.array(*parts)).alias("x")) \
                .select("x.*")
            temporal = resolution.temporal_resolution_grouped(
                melted, "ts", group_col="column").collect()
        lat = next((c.column for c in cls if c.subcategory == "latitude"), None)
        lon = next((c.column for c in cls if c.subcategory == "longitude"), None)
        spatial = []
        if lat and lon:
            spatial = resolution.spatial_resolution_grouped(
                df, f"`{lat}`", f"`{lon}`").collect()
        return temporal, spatial

    def items(self, idx, out):
        return len(self.tables[idx % self.cycle_len][1])

    def check(self, idx, out, corrupt, force):
        _, columns, truth = self.tables[idx % self.cycle_len]
        df, cls, temporal, spatial = out
        if corrupt:
            cls = cls[1:]
        errors = []
        got = [c.column for c in cls]
        if got != columns:
            errors.append("result columns differ from the input columns")
        matched = sum((c.category, c.subcategory) == truth.get(c.column)
                      for c in cls)
        dates = {c.column for c in cls if (c.category, c.subcategory)
                 == ("time", "date")}
        groups = [r["group"] for r in temporal]
        if len(set(groups)) != len(groups) or not set(groups) <= dates:
            errors.append("temporal resolution groups are not the date columns")
        for r in list(temporal) + list(spatial):
            if not r["unit"] or not (r["resolution"] > 0):
                errors.append(f"bad resolution row {r}")
        return matched, len(columns), errors

    def trace_extras(self, idx, out):
        """taxonomy.validate: the validator bank alone, re-run on the
        driver over the sampled values classify_columns scores."""
        from cartwright_spark.operators.classify import sample_columns
        from cartwright_spark.taxonomy.registry import ordered_labels
        df = out[0]
        sample = sample_columns(df, list(df.columns)).toPandas()
        specs = ordered_labels()
        with self.tr.span("taxonomy.validate") as sp:
            for _, g in sample.groupby("column"):
                series = g.sort_values("rk")["value"].astype(str) \
                    .reset_index(drop=True)
                for spec in specs:
                    spec.valid_count(series)
            sp.counts = {"columns": sample["column"].nunique()}


# --------------------------------------------------------------------------

class SpatialJoin(Workload):
    """One region query over the committed cells table: pruned load, then
    a bulk point-in-polygon join. The kNN step the region query was meant
    to end with is left out: ``spatial.knn`` can miss a nearer site (see
    DESIGN.md, "Left out")."""

    name = "spatial_join"
    rate_name = "points_per_s"
    cycle_len = 3
    PIP_LEVEL = 8
    # salt 4 rather than the default 16: at these sizes the default
    # spreads ~300 (admin, salt) refine groups over 8 partitions and
    # doubles the PIP wall
    REFINE_SALT = 4

    def setup(self):
        from cartwright_spark.functions.geodesy import tile_xy_np
        from cartwright_spark.sources.iceberg_lite import Catalog
        from cartwright_spark.spatial import h3, s2
        n = 1_500 if self.tiny else 8_000
        pts = gen.points(self.seed, n)
        lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
        cell = s2.latlng_to_cell(lat, lon, 10)
        tx, ty = tile_xy_np(lat, lon, 8)
        cells = pts.assign(
            kind="coord", s2_cell=cell.astype(np.int64),
            hex_cell=h3.latlng_to_cell(lat, lon, 6), tile_x=tx, tile_y=ty,
            tile_id=(np.int64(8) << 58) | (tx << 29) | ty,
            s2_part=s2.parent(cell, 2).astype(np.int64))
        self.cat = Catalog(os.path.join(self.workdir, "cells_catalog"))
        # the pipeline's cells layout: hive-partitioned on the level-2 cell
        self.cat.write_table(self.spark.createDataFrame(cells), "cells",
                             stage="cells", stage_key="cells:bench",
                             partition_by=["s2_part"])
        self.points = pts.rename(columns={"url": "point_id"})
        self.polys = gen.polygons(self.seed)
        self.polydf = self.spark.createDataFrame(self.polys, gen.POLYGON_SCHEMA)
        # the brute-force oracle takes holes as one [(lat, lon), ...] column
        self.polys_oracle = self.polys.assign(holes=[
            None if hl is None else list(zip(hl, ho))
            for hl, ho in zip(self.polys["hole_lat"], self.polys["hole_lon"])])
        self.regions = gen.regions(self.seed, 10_000)
        self.check_rng = np.random.default_rng([self.seed, 6])

    def _region_mask(self, box):
        if box is None:
            return np.ones(len(self.points), bool)
        la0, lo0, la1, lo1 = box
        p = self.points
        return ((p["lat"] >= la0) & (p["lat"] <= la1)
                & (p["lon"] >= lo0) & (p["lon"] <= lo1)).to_numpy()

    def request(self, idx):
        from cartwright_spark.spatial import pip
        _, box = self.regions[idx]
        with self.tr.span("iceberg.load"):
            if box is None:
                def keep(part):
                    return True
            else:
                la0, lo0, la1, lo1 = box
                ring_lat = np.array([la0, la0, la1, la1])
                ring_lon = np.array([lo0, lo1, lo1, lo0])
                cover = {int(c) for c in np.asarray(
                    pip.polygon_covering_cells(ring_lat, ring_lon, 2),
                    np.uint64).astype(np.int64)}

                def keep(part):
                    return int(part["s2_part"]) in cover
            pts = self.cat.load_table(self.spark, "cells",
                                      partition_filter=keep)
        if box is not None:
            pts = pts.where(F.col("lat").between(box[0], box[2])
                            & F.col("lon").between(box[1], box[3]))
        pts = pts.select("url", "lat", "lon")
        with self.tr.span("pip") as sp:
            pairs = pip.point_in_polygon_join_bulk(
                self.spark, pts, self.polydf, level=self.PIP_LEVEL,
                point_id_col="url", refine_salt=self.REFINE_SALT).toPandas()
            sp.counts = {"pairs": len(pairs)}
        return pairs

    def items(self, idx, out):
        return int(self._region_mask(self.regions[idx][1]).sum())

    def check(self, idx, out, corrupt, force):
        from cartwright_spark.spatial.pip import brute_force_pip
        pairs = out
        # a seeded half of the requests is checked against brute force;
        # `force` (the first request of a phase) and corrupting always are
        if not (corrupt or force) and self.check_rng.random() < 0.5:
            return 0, 0, []
        if corrupt:
            pairs = pairs.iloc[1:] if len(pairs) else pd.DataFrame(
                {"point_id": ["none"], "admin_id": ["none"]})
        region = self.points[self._region_mask(self.regions[idx][1])]
        want = brute_force_pip(region, self.polys_oracle)
        got = set(zip(pairs["point_id"], pairs["admin_id"]))
        errors = []
        if len(got) != len(pairs) or got != want:
            errors.append(f"PIP pairs differ from brute force: "
                          f"{len(got ^ want)} mismatched")
        return len(got & want), len(got | want), errors


WORKLOADS = {w.name: w for w in (CrawlPipeline, Categorize, SpatialJoin)}

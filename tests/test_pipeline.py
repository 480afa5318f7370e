"""Corpus determinism, extraction byte-identity, snapshot resume."""

import hashlib
import shutil

import pytest
from pyspark.sql import functions as F

from cartwright_spark.operators.extract import extract_pages, extract_text_series
from cartwright_spark.plans.pipeline import run_pipeline
from cartwright_spark.sources.corpus import generate_pages
from cartwright_spark.sources.iceberg_lite import Catalog


def test_corpus_deterministic_across_partitionings(spark):
    a = generate_pages(spark, 300, partitions=2).orderBy("url").collect()
    b = generate_pages(spark, 300, partitions=7).orderBy("url").collect()
    assert [r["url"] for r in a] == [r["url"] for r in b]
    assert [r["html"] for r in a] == [r["html"] for r in b]


def test_extraction_byte_identical_and_matches_payload(spark):
    pages = generate_pages(spark, 200, partitions=3)
    ext = extract_pages(pages).select("url", "text", "extracted_text", "text_sha256")
    rows = ext.collect()
    for r in rows:
        # extractor recovers the embedded payload byte-identically
        assert r["extracted_text"] == r["text"], r["url"]
        assert r["text_sha256"] == hashlib.sha256(
            r["extracted_text"].encode()).hexdigest()
    # running twice gives identical hashes (pure function of html)
    again = {r["url"]: r["text_sha256"] for r in
             extract_pages(pages).select("url", "text_sha256").collect()}
    assert again == {r["url"]: r["text_sha256"] for r in rows}


def test_jvm_and_pandas_extractors_identical(spark):
    """The codegen path and the pandas path must agree byte-for-byte —
    including on malformed utf-8 and nested/boilerplate markup."""
    import pandas as pd
    from cartwright_spark.operators.extract import extract_text_col, extract_text_series
    payloads = [
        b"<html><head><title>T</title></head><body><p>plain</p></body></html>",
        b"<body><nav>m</nav>a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;</body>",
        b"<p>bad utf8 \xff\xfe here</p>",
        b"<SCRIPT>x</SCRIPT><P>upper   case\t\ntags</P>",
        b"<div><span>nested <b>bold</b></span> tail</div>",
        b"no tags at all",
        b"",
    ]
    rows = [(i, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "i int, html binary")
    jvm = {r["i"]: r["t"] for r in
           df.select("i", extract_text_col(df.html).alias("t")).collect()}
    pd_out = extract_text_series(pd.Series(payloads))
    for i in range(len(payloads)):
        assert jvm[i] == pd_out.iloc[i], f"payload {i}: {jvm[i]!r} != {pd_out.iloc[i]!r}"


def test_extractor_strips_boilerplate():
    import pandas as pd
    html = pd.Series([
        b"<html><head><title>T</title><style>a{}</style></head>"
        b"<body><nav>menu</nav><p>Hello &amp; world</p>"
        b"<script>var x=1;</script><footer>f</footer></body></html>"
    ])
    assert extract_text_series(html).iloc[0] == "Hello & world"


def test_pipeline_resume_and_lineage(spark, tmp_path):
    wd = str(tmp_path / "pipe")
    s1 = run_pipeline(spark, wd, n_pages=400)
    # ≥1 coord per page plus city/iso3/date entity detections
    assert s1["stages"]["detections"]["rows"] >= 400
    assert not any(v["reused"] for v in s1["stages"].values())
    s2 = run_pipeline(spark, wd, n_pages=400)
    assert all(v["reused"] for v in s2["stages"].values())
    # parameter change re-runs downstream stages only
    s3 = run_pipeline(spark, wd, n_pages=400, zoom=9)
    assert s3["stages"]["pages"]["reused"]
    assert s3["stages"]["extracted"]["reused"]
    assert not s3["stages"]["cells"]["reused"]
    cat = Catalog(wd)
    chain = cat.lineage("tile_counts")
    assert [c["table"] for c in chain] == [
        "tile_counts", "cells", "detections", "extracted", "pages"]
    # per-file lineage present
    assert all(f["rows"] >= 0 for c in chain for f in c["files"])


def test_hot_tiles_present(spark, tmp_path):
    wd = str(tmp_path / "hot")
    run_pipeline(spark, wd, n_pages=500)
    tiles = Catalog(wd).load_table(spark, "tile_counts")
    top = tiles.orderBy(F.desc("n_points")).limit(3).collect()
    # 20% of coords land in 3 hot boxes → 3 dominant tiles of ~33 each
    assert sum(r["n_points"] for r in top) >= 0.15 * 500


def test_resume_ignores_torn_commit(spark, tmp_path):
    """Crash-resume semantics: data files without a committed manifest (or
    with a half-written manifest) must NOT count as a completed stage —
    the stage re-runs and commits atomically on the next attempt."""
    import json
    import os

    from cartwright_spark.plans.pipeline import run_pipeline
    from cartwright_spark.sources.iceberg_lite import Catalog

    wd = str(tmp_path / "pipe")
    s1 = run_pipeline(spark, wd, n_pages=300, s2_level=8, zoom=6)
    assert not s1["stages"]["detections"]["reused"]

    # simulate a crash mid-commit of the detections stage: keep the data
    # dir, replace the manifest with a torn (truncated) JSON
    snapdir = os.path.join(wd, "detections", "_snapshots")
    fn = sorted(os.listdir(snapdir))[0]
    with open(os.path.join(snapdir, fn)) as f:
        full = f.read()
    with open(os.path.join(snapdir, fn), "w") as f:
        f.write(full[: len(full) // 2])

    cat = Catalog(wd)
    assert cat.find_snapshot("detections", json.loads(full)["stage_key"]) is None

    s2 = run_pipeline(spark, wd, n_pages=300, s2_level=8, zoom=6)
    # upstream stages reused, detections re-ran, downstream consistent
    assert s2["stages"]["pages"]["reused"]
    assert s2["stages"]["extracted"]["reused"]
    assert not s2["stages"]["detections"]["reused"]
    assert s2["stages"]["detections"]["rows"] == s1["stages"]["detections"]["rows"]
    assert s2["stages"]["tile_counts"]["rows"] == s1["stages"]["tile_counts"]["rows"]


def test_mid_stage_failure_injection_resume(spark, tmp_path):
    """VERDICT r3 item 6: kill the pipeline MID-`cells`-STAGE via the
    force-fail knob (tasks past partition 0 raise while partition 0's
    task completes — a real partial write, not a post-hoc torn file),
    then prove the restart reuses the pages/extracted/detections
    snapshots, re-runs ONLY the torn stage, and produces the same tiles
    as a never-crashed run."""
    import py4j.protocol
    import pytest as _pytest

    wd = str(tmp_path / "crash")
    with _pytest.raises(Exception) as ei:
        run_pipeline(spark, wd, n_pages=400, inject_fail="cells",
                     fail_after_parts=1)
    assert "injected mid-stage failure" in str(ei.value) or \
        isinstance(ei.value, py4j.protocol.Py4JJavaError)

    cat = Catalog(wd)
    # upstream snapshots committed before the crash; cells never committed
    assert cat.snapshots("detections")
    assert not cat.snapshots("cells")

    s2 = run_pipeline(spark, wd, n_pages=400)
    assert s2["stages"]["pages"]["reused"]
    assert s2["stages"]["extracted"]["reused"]
    assert s2["stages"]["detections"]["reused"]
    assert not s2["stages"]["cells"]["reused"]

    # equivalence with a never-crashed pipeline
    wd_clean = str(tmp_path / "clean")
    run_pipeline(spark, wd_clean, n_pages=400)
    got = {(r["tile_id"], r["n_points"])
           for r in Catalog(wd).load_table(spark, "tile_counts").collect()}
    want = {(r["tile_id"], r["n_points"])
            for r in Catalog(wd_clean).load_table(spark, "tile_counts")
            .collect()}
    assert got == want


def test_cells_layout_sorted_files_with_bounds(spark, tmp_path):
    """The cells snapshot is unpartitioned: at most one file per encode
    task, each sorted on s2_cell, with the s2_cell min/max in the
    manifest that a spatial read prunes files by."""
    import os

    import pyarrow.parquet as pq

    wd = str(tmp_path / "layout")
    run_pipeline(spark, wd, n_pages=400)
    cat = Catalog(wd)
    snap = cat.latest_snapshot("cells")
    assert snap["partition_by"] == []
    assert "s2_part" not in cat.load_table(spark, "cells").columns
    for _, dirs, _ in os.walk(os.path.join(wd, snap["data_dir"])):
        assert not dirs                       # no k=v directories
    encode_tasks = cat.load_table(
        spark, "detections", snap["parent_snapshot"]).rdd.getNumPartitions()
    assert 1 <= len(snap["files"]) <= encode_tasks
    for f in snap["files"]:
        cells = pq.read_table(os.path.join(wd, f["path"]),
                              columns=["s2_cell"])["s2_cell"].to_numpy()
        assert (cells[1:] >= cells[:-1]).all()
        assert (f["stats"]["s2_cell"]["min"], f["stats"]["s2_cell"]["max"]) \
            == (cells.min(), cells.max())


def test_time_travel_and_expiry(spark, tmp_path):
    """Snapshot time travel (by id and by timestamp) + expire_snapshots:
    each commit owns its own data dir, so old versions stay readable
    until explicitly expired — Iceberg's VERSION/TIMESTAMP AS OF and
    expire_snapshots contracts."""
    cat = Catalog(str(tmp_path / "tt"))
    v0 = spark.range(10).select(F.col("id"), F.lit("v0").alias("tag"))
    v1 = spark.range(25).select(F.col("id"), F.lit("v1").alias("tag"))
    v2 = spark.range(40).select(F.col("id"), F.lit("v2").alias("tag"))
    s0 = cat.write_table(v0, "t", stage="s", stage_key="k0")
    s1 = cat.write_table(v1, "t", stage="s", stage_key="k1")
    s2 = cat.write_table(v2, "t", stage="s", stage_key="k2")

    # by snapshot id: every version readable, bit-for-bit
    assert cat.load_table(spark, "t", snapshot_id=s0["snapshot_id"]).count() == 10
    assert cat.load_table(spark, "t", snapshot_id=s1["snapshot_id"]).count() == 25
    assert cat.load_table(spark, "t").count() == 40
    tags = set(r["tag"] for r in cat.load_table(
        spark, "t", snapshot_id=s1["snapshot_id"]).select("tag").distinct().collect())
    assert tags == {"v1"}

    # by timestamp: newest snapshot committed at-or-before the mark;
    # earlier than the first commit → loud failure
    assert cat.load_table(spark, "t", as_of_ts=s1["created_at"]).count() == 25
    mid = (s1["created_at"] + s2["created_at"]) / 2
    assert cat.load_table(spark, "t", as_of_ts=mid).count() == 25
    assert cat.load_table(spark, "t", as_of_ts=s2["created_at"] + 1).count() == 40
    with pytest.raises(FileNotFoundError):
        cat.load_table(spark, "t", as_of_ts=s0["created_at"] - 1)
    with pytest.raises(ValueError):
        cat.load_table(spark, "t", snapshot_id=0, as_of_ts=mid)

    # expiry: drop all but the 2 newest; v0 gone (manifest AND data),
    # v1/v2 untouched; HEAD can never be expired
    gone = cat.expire_snapshots("t", keep_last=2)
    assert gone == [s0["snapshot_id"]]
    with pytest.raises(FileNotFoundError):
        cat.load_table(spark, "t", snapshot_id=s0["snapshot_id"])
    assert cat.load_table(spark, "t", snapshot_id=s1["snapshot_id"]).count() == 25
    assert cat.load_table(spark, "t").count() == 40
    assert [s["snapshot_id"] for s in cat.snapshots("t")] == [
        s1["snapshot_id"], s2["snapshot_id"]]
    with pytest.raises(ValueError):
        cat.expire_snapshots("t", keep_last=0)


def test_zorder_write_prunes_box_queries(spark, tmp_path):
    """Z-order clustering (functions/zorder.py + write_table(zorder_by=)):
    a lat-lon box stats_filter over the manifest keeps a small fraction
    of a z-ordered table's files, while the same box over an ingest-
    ordered write keeps (nearly) all of them — the footer min/max
    data-skipping mechanism the layout exists for. Results must be
    row-identical either way."""
    from cartwright_spark.functions.zorder import zvalue
    cat = Catalog(str(tmp_path / "zo"))
    pts = spark.range(200_000).select(
        F.col("id"),
        (((F.col("id") * 7919) % 18001) / 100.0 - 90.0).alias("lat"),
        (((F.col("id") * 104729) % 36001) / 100.0 - 180.0).alias("lon"))
    # ingest order ≈ key order: every file's lat/lon range spans the box
    plain = cat.write_table(pts.repartition(32), "plain", stage="s",
                            stage_key="p")
    zo = cat.write_table(pts, "zo", stage="s", stage_key="z",
                         zorder_by=["lat", "lon"], zorder_files=32)
    assert zo["zorder_by"] == ["lat", "lon"]

    def box(stats):
        la, lo = stats.get("lat"), stats.get("lon")
        if la is None or lo is None:
            return True   # undecidable: keep
        return not (la["max"] < 10.0 or la["min"] > 20.0
                    or lo["max"] < 30.0 or lo["min"] > 50.0)

    kept_plain = len(cat.select_files("plain", stats_filter=box))
    kept_zo = len(cat.select_files("zo", stats_filter=box))
    n_plain = len(plain["files"])
    n_zo = len(zo["files"])
    assert kept_plain == n_plain          # no skipping without clustering
    assert kept_zo <= n_zo // 4           # z-order: large majority skipped

    # pruning is sound: the box rows from the pruned file set equal the
    # full-scan box rows, on both layouts
    want = pts.where((F.col("lat").between(10.0, 20.0))
                     & (F.col("lon").between(30.0, 50.0))) \
        .agg(F.count("*"), F.sum("id")).first()
    files = [str(tmp_path / "zo") + "/" + f["path"]
             for f in cat.select_files("zo", stats_filter=box)]
    got = (spark.read.parquet(*files)
           .where((F.col("lat").between(10.0, 20.0))
                  & (F.col("lon").between(30.0, 50.0)))
           .agg(F.count("*"), F.sum("id")).first())
    assert tuple(got) == tuple(want)

    # the z-value expression itself is pure codegen (no UDF/python)
    zcol = zvalue(pts, ["lat", "lon"], bits=8)
    plan = pts.select(zcol.alias("z")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


# ---------------------------------------------------------------------------
# WARC reader
# ---------------------------------------------------------------------------

def test_warc_roundtrip_plain_and_gzip_members():
    from cartwright_spark.sources.warc import build_warc, parse_warc
    recs = [{"url": f"https://x.org/{i}",
             "payload": bytes([i]) * (i * 13 + 1),
             "rec_type": "response" if i % 2 == 0 else "request"}
            for i in range(6)]
    for gz in (False, True):
        got = list(parse_warc(build_warc(recs, gzip_members=gz)))
        assert len(got) == 6
        for i, r in enumerate(got):
            assert r["rec_idx"] == i
            assert r["url"] == f"https://x.org/{i}"
            assert r["payload"] == bytes([i]) * (i * 13 + 1)
            assert r["rec_type"] == ("response" if i % 2 == 0
                                     else "request")


def test_warc_payload_may_contain_crlf_framing_bytes():
    # Content-Length framing (not delimiter scanning) must carry a
    # payload full of CRLFs and fake header lines intact
    from cartwright_spark.sources.warc import build_warc, parse_warc
    evil = b"\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\n" * 3
    got = list(parse_warc(build_warc(
        [{"url": "https://e", "payload": evil}])))
    assert len(got) == 1 and got[0]["payload"] == evil


def test_warc_truncation_and_bad_version_raise():
    import pytest as _pytest
    from cartwright_spark.sources.warc import build_warc, parse_warc
    blob = build_warc([{"url": "https://t", "payload": b"abcdef"}])
    with _pytest.raises(ValueError, match="truncated"):
        list(parse_warc(blob[:-10]))
    with _pytest.raises(ValueError, match="version"):
        list(parse_warc(b"HTTP/1.1 200\r\n\r\n"))


def test_warc_records_distributed(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from cartwright_spark.sources.warc import build_warc, warc_records
    rows = []
    for b in range(20):
        recs = [{"url": f"https://b{b}/r{r}",
                 "payload": f"body-{b}-{r}".encode()} for r in range(4)]
        rows.append((b, build_warc(recs, gzip_members=(b % 2 == 0))))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["blob_id", "warc"])).repartition(7)
    out = warc_records(df).toPandas()
    assert len(out) == 80
    assert set(zip(out.blob_id, out.rec_idx)) == {
        (b, r) for b in range(20) for r in range(4)}
    row = out[(out.blob_id == 3) & (out.rec_idx == 2)].iloc[0]
    assert row["url"] == "https://b3/r2"
    assert bytes(row["payload"]) == b"body-3-2"


def test_hotspot_stage_matches_direct_gistar(spark, tmp_path):
    """The pipeline's hotspot surface equals gistar_from_cells run
    directly on the committed tile table, and hot tiles score high."""
    from cartwright_spark.spatial.autocorr import gistar_from_cells
    wd = str(tmp_path / "hotspot_eq")
    s = run_pipeline(spark, wd, n_pages=500, zoom=8)
    assert s["stages"]["hotspots"]["rows"] > 0
    assert s["stages"]["hotspots"]["folded_into"] == "tile_counts"
    cat = Catalog(wd)
    tiles = cat.load_table(spark, "tile_counts")
    direct = gistar_from_cells(
        tiles.select(F.col("tile_y").alias("cell_row"),
                     F.col("tile_x").alias("cell_col"),
                     F.col("n_points").alias("x")),
        cell_deg=360.0 / 256).collect()
    stored = tiles.select("tile_x", "tile_y", "gi_star").collect()
    assert ({(r["cell_row"], r["cell_col"]): r["gi_star"] for r in direct}
            == {(r["tile_y"], r["tile_x"]): r["gi_star"] for r in stored})
    # the 3 planted hot boxes must dominate the z-scores
    top = sorted(stored, key=lambda r: -(r["gi_star"] or -9e9))[:3]
    assert all((r["gi_star"] or 0) > 1.96 for r in top)


def test_tiles_gi_star_null_is_null(spark, tmp_path):
    """Where Gi* is undefined the committed gi_star is NULL, not NaN: at
    zoom 0 every point falls in the one tile (n = 1)."""
    import os

    import pyarrow.parquet as pq

    wd = str(tmp_path / "zoom0")
    run_pipeline(spark, wd, n_pages=100, zoom=0)
    snap = Catalog(wd).latest_snapshot("tile_counts")
    gi = pq.ParquetDataset([os.path.join(wd, f["path"])
                            for f in snap["files"]]).read()["gi_star"]
    assert len(gi) == 1 and gi.null_count == 1
    assert Catalog(wd).load_table(spark, "tile_counts").first()["gi_star"] \
        is None


def test_tiles_column_order_same_at_every_zoom(spark, tmp_path):
    """tile_counts has one schema whichever Gi* path the zoom takes: zoom
    8 runs the numpy kernel, zoom 10 (4^10 tiles) the distributed join."""
    import json

    cols = []
    for zoom in (8, 10):
        wd = str(tmp_path / f"z{zoom}")
        run_pipeline(spark, wd, n_pages=100, zoom=zoom)
        snap = Catalog(wd).latest_snapshot("tile_counts")
        cols.append([f["name"] for f in json.loads(snap["schema"])["fields"]])
    assert cols[0] == cols[1]
    assert cols[0][0] == "tile_id" and cols[0][-1] == "gi_star"

"""Plan-quality regression tests: pushdown, broadcast, no accidental
cross products — the physical-plan properties the 100 TB story relies on
(SURVEY.md §4). These lock the *shape* of the plan, not timings."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_filter_and_projection_pushed_to_scan(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .where(F.col("l_quantity") > 40)
          .select("l_orderkey", "l_quantity"))
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan
    # column pruning: scan reads exactly the 2 needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_iso3_membership_is_broadcast_join(spark):
    plan = _physical(em.q_p9_iso3_membership(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pip_join_is_broadcast_no_shuffle_of_points(spark):
    plan = _physical(em.q_j6_pip_boxes(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the point side must not be exchanged for the join
    assert "SortMergeJoin" not in plan


def test_fuzzy_join_is_broadcast(spark):
    plan = _physical(em.q_fuzzy_country_join(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_tile_agg_has_partial_aggregation(spark):
    plan = _physical(em.q_j8_tile_grid(spark, SF))
    # two HashAggregates (partial + final) around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_knn_broadcasts_query_side(spark):
    plan = _physical(em.q_knn_grid(spark, SF))
    assert "Broadcast" in plan


def test_extraction_is_jvm_only(spark):
    from cartwright_spark.operators.extract import extract_pages
    from cartwright_spark.sources.corpus import generate_pages
    df = extract_pages(generate_pages(spark, 10))
    plan = _physical(df)
    # no Python evaluation node in the extraction plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_city_detection_is_codegen_no_shuffle(spark):
    # capitalized-gram city detection: whole-stage codegen, zero exchanges
    # before the broadcast gazetteer join, no interpreted HOF lambdas
    from cartwright_spark.operators.detect import detect_cities
    from cartwright_spark.sources.corpus import generate_pages
    df = detect_cities(generate_pages(spark, 10), spark, text_col="text")
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # only the broadcast exchange; the word explode stays map-side
    assert "Exchange hashpartitioning" not in plan


def test_language_id_is_codegen(spark):
    from cartwright_spark.operators.textstats import detect_language
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(detect_language(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # pure per-row map


def test_cosine_pairs_no_join_no_shuffle(spark):
    from cartwright_spark.operators.simsearch import cosine_threshold_pairs
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _physical(cosine_threshold_pairs(emb, 0.35))
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_minhash_signature_stage_is_single_pass(spark):
    from cartwright_spark.operators.dedup import minhash_signatures
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(minhash_signatures(docs))
    # no key-shuffle anywhere; the only allowed Exchange is the
    # deliberate round-robin fan-out guarding against single-file
    # sources serializing the kernel onto one core
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_classify_sampling_prunes_columns(spark):
    # the melt plan projects only the classified columns before sampling
    from cartwright_spark.operators.classify import sample_columns
    df = spark.read.parquet(f"{SF}/orders.parquet")
    s = sample_columns(df, ["o_orderstatus"], n_samples=9)
    plan = _formatted(s)
    assert "o_totalprice" not in plan.split("ReadSchema")[-1]
    # the top-k runs in the JVM: a partial per-column limit trims each
    # partition before the shuffle, and no Python stage is left
    phys = _physical(s)
    above, below = phys.split("Exchange hashpartitioning", 1)
    assert any("WindowGroupLimit" in ln and ln.endswith("Partial")
               for ln in below.splitlines())
    assert "WindowGroupLimit" in above
    for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
        assert node not in phys, node
    cols = ["o_orderstatus", "o_orderpriority", "o_totalprice"]

    def rows(d):
        return sorted(map(tuple, sample_columns(d, cols).toPandas()
                          .values.tolist()))
    assert rows(df) == rows(df.repartition(7))


def test_temporal_resolution_is_one_jvm_aggregate(spark):
    # one Exchange (collect_set's partial -> final aggregate), then array
    # expressions per group row: no window, no join, no Python stage
    out = em.q_temporal_resolution(spark, SF)
    phys = _physical(out)
    assert phys.count("Exchange") == 1, phys
    assert "ObjectHashAggregate" in phys
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "MapInPandas",
                 "Window", "Join"):
        assert node not in phys, node
    out.collect()
    final = _physical(out).split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final


def test_date_scan_is_single_pass_codegen(spark):
    """The fused 46-format date scan: one text scan (every family regex in
    one projection), codegen explodes only — no interpreted HOF lambdas
    (transform/flatten callbacks), no Python nodes, no shuffle."""
    from cartwright_spark.operators.detect import detect_dates
    from cartwright_spark.sources.corpus import generate_pages
    plan = _physical(detect_dates(generate_pages(spark, 10)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    # two generate (explode) nodes: family rows, then candidate rows...
    # plus the match-array explode = 3; lambdafunction would indicate an
    # interpreted HOF crept back in
    assert "lambdafunction" not in plan.lower()


def test_knn_site_index_materialized_once(spark):
    """The kNN join must not re-evaluate the site-encode Arrow stage per
    consumer: the site index is checkpointed, so the full plan contains
    only the query-side disc UDF evaluation (regression for the 24k-dim
    4.7 s -> 1.5 s fix)."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.spatial.knn import knn_join
    rng = np.random.default_rng(1)
    sites = spark.createDataFrame(pd.DataFrame({
        "site_id": np.arange(200, dtype=np.int64),
        "lat": rng.uniform(-60, 60, 200), "lon": rng.uniform(-170, 170, 200)}))
    queries = spark.createDataFrame(pd.DataFrame({
        "qid": np.arange(5, dtype=np.int64),
        "lat": rng.uniform(-50, 50, 5), "lon": rng.uniform(-160, 160, 5)}))
    out = knn_join(queries, sites, k=3, level=6, r_cover_m=3_000_000.0)
    plan = _physical(out)
    # the only Arrow stages left are the query-side disc evaluations
    # (one per branch: candidate path + fallback path); the site encode
    # is behind a Scan ExistingRDD from the checkpoint
    assert "ExistingRDD" in plan
    assert plan.count("ArrowEvalPython") <= 2


def test_blocked_cosine_pairs_single_shuffle(spark):
    """The distributed exact all-pairs path: exactly one exchange (the
    block-pair group shuffle), no join node, no driver-side collect in
    the plan (FlatMapGroupsInPandas over the replicated rows)."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.operators.simsearch import cosine_threshold_pairs
    rng = np.random.default_rng(2)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(300, dtype=np.int64),
        "embedding": [v.tolist() for v in rng.standard_normal((300, 8))]}))
    out = cosine_threshold_pairs(emb, 0.9, broadcast_max_rows=0,
                                 block_rows=100)
    plan = _physical(out)
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_partitioned_layout_prunes_in_catalyst(spark, tmp_path):
    """VERDICT r2 #1: a time-bounded query over the iceberg-lite `pages`
    table must partition-prune — PartitionFilters (not just
    PushedFilters) on the scan, and a strict subset of files read."""
    from cartwright_spark.sources.corpus import generate_pages
    from cartwright_spark.sources.iceberg_lite import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    pages = generate_pages(spark, 600).withColumn(
        "warc_part", F.to_date("warc_ts").cast("string"))
    snap = cat.write_table(pages, "pages", stage="pages",
                           partition_by=["warc_part"])
    assert snap["partition_by"] == ["warc_part"]
    # hive layout on disk, one file per partition dir (clustered write)
    parts = {f["partition"]["warc_part"] for f in snap["files"]}
    assert len(parts) > 3
    assert len(snap["files"]) == len(parts)

    day = sorted(parts)[1]
    df = cat.load_table(spark, "pages").where(F.col("warc_part") == day)
    plan = _formatted(df)
    assert "PartitionFilters" in plan
    assert "warc_part" in plan.split("PartitionFilters", 1)[1].split("\n")[0]
    # Catalyst actually dropped the non-matching directories
    import re
    m = re.search(r"partition count: (\d+)", plan)
    if m:  # Spark prints the pruned count in formatted mode
        assert int(m.group(1)) == 1
    # and the result is exactly the slice
    total = cat.load_table(spark, "pages").count()
    sliced = df.count()
    assert 0 < sliced < total


def test_manifest_level_file_skipping(spark, tmp_path):
    """The manifest alone (no data/footer reads) can produce the file
    subset for a resumed, time-sliced query; the manifest-pruned read
    returns exactly the rows of the full-scan filter."""
    from cartwright_spark.sources.corpus import generate_pages
    from cartwright_spark.sources.iceberg_lite import Catalog

    cat = Catalog(str(tmp_path / "cat2"))
    pages = generate_pages(spark, 400).withColumn(
        "warc_part", F.to_date("warc_ts").cast("string"))
    snap = cat.write_table(pages, "pages", stage="pages",
                           partition_by=["warc_part"])
    days = sorted({f["partition"]["warc_part"] for f in snap["files"]})
    pick = days[: len(days) // 2]
    sel = cat.select_files("pages",
                           partition_filter=lambda p: p["warc_part"] in pick)
    assert 0 < len(sel) < len(snap["files"])
    pruned = cat.load_table(spark, "pages",
                            partition_filter=lambda p: p["warc_part"] in pick)
    full = cat.load_table(spark, "pages") \
        .where(F.col("warc_part").cast("string").isin(pick))
    assert pruned.count() == full.count() == sum(f["rows"] for f in sel)
    # footer min/max stats recorded per file for stats-level skipping
    # (warc_ts itself lands as INT96, which parquet gives no stats for —
    # time pruning rides the partition values instead)
    f0 = snap["files"][0]
    assert f0["stats"]["url"]["min"].startswith("https://")
    # stats_filter keeps only files whose url range can match
    sel2 = cat.select_files(
        "pages", stats_filter=lambda s: s["url"]["max"] >= "https://site50")
    assert len(sel2) <= len(snap["files"])


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts join
    with NO Exchange on either side and no per-join Sort (sorted
    buckets) — the pre-paid-shuffle layout for 100 TB repeated joins."""
    from cartwright_spark.sources.bucketing import bucketed_join, write_bucketed

    left = spark.range(0, 10000).selectExpr(
        "id AS url_id", "id % 97 AS site")
    right = spark.range(0, 3000).selectExpr(
        "id AS url_id", "CAST(id % 7 AS DOUBLE) AS score")
    write_bucketed(left, "bk_left", "url_id", 8,
                   path=str(tmp_path / "bk_left"))
    write_bucketed(right, "bk_right", "url_id", 8,
                   path=str(tmp_path / "bk_right"))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # broadcast disabled: at bench scale Catalyst would broadcast the
        # 3k-row side; the bucketing story is about the 100 TB case where
        # neither side broadcasts and the shuffle is the cost
        j = bucketed_join(spark, "bk_left", "bk_right", "url_id")
        plan = _physical(j.filter("score >= 0"))
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan          # the whole point
        assert j.count() == 3000
        # contrast: the same join over plain parquet DOES shuffle
        lp = spark.read.parquet(str(tmp_path / "bk_left"))
        rp = spark.read.parquet(str(tmp_path / "bk_right"))
        plain = _physical(
            lp.join(rp.withColumnRenamed("score", "s2"), "url_id"))
        assert "Exchange" in plain or "Broadcast" in plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_file_meta_drops_column_on_unmergeable_rowgroup_stats(
        spark, tmp_path, monkeypatch):
    """ADVICE r3: when row-group min/max can't be merged (mixed decoded
    types), the column must vanish from the file's stats entirely —
    absent stats are undecidable/KEPT by stats_filter, while a partial
    range could wrongly skip a file whose later row groups match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cartwright_spark.sources import iceberg_lite as il

    fp = str(tmp_path / "two_groups.parquet")
    t = pa.table({"v": list(range(100)), "w": list(range(100))})
    pq.write_table(t, fp, row_group_size=50)   # 2 row groups

    real = il._json_safe
    state = {"n": 0}

    def flaky(v):
        # decode drift: first row group's stats come back as str, later
        # ones as int — min()/max() across them raises TypeError
        state["n"] += 1
        return str(real(v)) if state["n"] <= 2 else real(v)

    monkeypatch.setattr(il, "_json_safe", flaky)
    meta = il._file_meta(fp, str(tmp_path))
    assert meta["rows"] == 100
    assert "v" not in meta["stats"]          # poisoned → dropped outright
    assert meta["stats"]["w"] == {"min": 0, "max": 99}


def test_file_meta_statsless_rowgroup_poisons_column(tmp_path):
    """A row group with NO stats for a column makes the file's range
    unknowable — earlier groups' partial range must not survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cartwright_spark.sources import iceberg_lite as il

    fp = str(tmp_path / "nostats.parquet")
    t = pa.table({"v": list(range(100))})
    pq.write_table(t, fp, row_group_size=50, write_statistics=False)
    meta = il._file_meta(fp, str(tmp_path))
    assert meta["rows"] == 100
    assert meta["stats"] == {}


def test_stratified_sample_prunes_and_stays_codegen(spark):
    """The sampling contract query should read ONLY (doc_id, source)
    from the scan, shuffle nothing, and keep the hash+threshold filter
    inside whole-stage codegen."""
    import __spark_entry__ as entry
    df = entry.q_stratified_sample(spark, SF)
    plan = _formatted(df)
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan
    assert "Exchange" not in plan
    assert "codegen id" in plan      # filter runs inside whole-stage codegen


def test_sequence_packing_no_single_task_data_window(spark):
    """The packing plan's data-scale window must be partitioned on the
    range-partition id; the only global-ordered window runs over the
    P-row totals aggregate (metadata scale)."""
    import __spark_entry__ as entry
    df = entry.q_sequence_packing(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines()
                 if "windowspecdefinition" in l]
    assert win_lines
    # data window: spec mentions __pid partition; windows without __pid
    # must descend from the tiny groupBy(__pid) aggregate, whose output
    # column __ptot appears in their spec
    for l in win_lines:
        assert "__pid" in l, l
        assert ("__cum_in" not in l) or ("windowspecdefinition(__pid" in l
                                         or "__pid#" in l), l

"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: derived-coordinate S2/tile rollup on sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB-equivalent SQL per query (same column names).

Coordinates for geo operators are synthesized deterministically from
integer keys of the TPC-H-ish tables (FIXTURES.md F7): integer modular
arithmetic then a /100 division, so Spark and DuckDB produce bit-identical
doubles and value hashes match.
"""

from __future__ import annotations

import math as _math
from collections.abc import Callable
from functools import lru_cache

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → deterministic synthetic coordinates (exact doubles)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        (((F.col("l_partkey") * 7919) % 18001) / 100.0 - 90.0).alias("lat"),
        (((F.col("l_orderkey") * 104729 + F.col("l_linenumber")) % 36001) / 100.0 - 180.0).alias("lon"),
    )

_COORDS_SQL = """
    SELECT l_orderkey, l_linenumber,
           ((l_partkey * 7919) % 18001) / 100.0 - 90.0  AS lat,
           ((l_orderkey * 104729 + l_linenumber) % 36001) / 100.0 - 180.0 AS lon
    FROM lineitem
"""


def _golden_sql(name: str, columns: list[str]) -> str:
    """VALUES oracle from the locked constants in
    cartwright_spark/golden_values.py (regenerate: scripts/gen_goldens.py).
    All golden outputs are integer-typed, so literals render exactly."""
    from cartwright_spark.golden_values import GOLDEN
    rows = GOLDEN[name]
    vals = ", ".join(
        "(" + ", ".join(str(int(v)) for v in row) + ")" for row in rows)
    return f"SELECT * FROM (VALUES {vals}) AS t({', '.join(columns)})"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: coordinate synthesis → S2 encode → tile rollup (sf0.001)."""
    from cartwright_spark.functions.geodesy import tile_id_col
    from cartwright_spark.spatial.udfs import s2_cell

    pts = _coords(spark, SF_DEFAULT)
    cells = pts.withColumn("s2_cell", s2_cell(F.col("lat"), F.col("lon"), 8)) \
               .withColumn("tile_id", tile_id_col(F.col("lat"), F.col("lon"), 6))
    return (
        cells.groupBy("tile_id")
        .agg(F.count("*").alias("n_points"),
             F.approx_count_distinct("s2_cell").alias("n_cells"))
        .orderBy(F.desc("n_points"), F.asc("tile_id"))
    )


# ---------------------------------------------------------------------------
# queries — each callable (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_p4_latitude_valid(spark, sf_dir):
    """P4: lat/lon range predicates (geos.py:143-157)."""
    return (_coords(spark, sf_dir)
            .where(F.col("lat").between(-90, 90) & (F.col("lat") > 45.0))
            .select("l_orderkey", "l_linenumber", "lat"))


def q_p5_latlong_pair(spark, sf_dir):
    """P5: 'lat, lon' pair split + both-range validation (geos.py:172-178).
    The split is staged through one named array column — inlining the
    split into lat AND lon AND the pushed filter evaluated the regex split
    4× per row (measured 2.1 s → 1.5 s at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    pair = F.concat(
        ((F.col("l_partkey") % 221) - 110).cast("string"), F.lit(", "),
        ((F.col("l_orderkey") % 401) - 200).cast("string"))
    return (li.select("l_orderkey", "l_linenumber", pair.alias("pair"))
            .withColumn("__parts", F.split("pair", ",\\s*"))
            .withColumn("lat", F.col("__parts").getItem(0).cast("double"))
            .withColumn("lon", F.col("__parts").getItem(1).cast("double"))
            .where(F.col("lat").between(-90, 90)
                   & F.col("lon").between(-180, 180))
            .select("l_orderkey", "l_linenumber", "lat", "lon"))


def q_p6_unix_time(spark, sf_dir):
    """P6: unix_time predicate (dates.py:12-17)."""
    ev = _t(spark, sf_dir, "events")
    v = (F.lit(1500000000) + F.col("event_id") * 999983).cast("string")
    df = ev.select("event_id", v.alias("v"))
    num = F.col("v").cast("long")
    return (df.where((F.length("v") <= 13)
                     & num.between(-5364601438, 4102506000))
            .select("event_id", "v"))


def q_p7_year_range(spark, sf_dir):
    """P7: 1700 < year < 2200, digits only (CategoryBases.py:138-146)."""
    o = _t(spark, sf_dir, "orders")
    y = (F.lit(1650) + F.col("o_orderkey") % 600)
    return (o.select("o_orderkey", y.alias("y"))
            .where((F.col("y") > 1700) & (F.col("y") < 2200)))


def q_p9_iso3_membership(spark, sf_dir):
    """P9/J3: ISO3 membership as a broadcast equi-join (geos.py:100-112)."""
    from cartwright_spark.sources import gazetteers as gz
    p = _t(spark, sf_dir, "part")
    code = F.upper(F.substring(F.regexp_replace("p_name", "[^A-Za-z]", ""), 1, 3))
    toks = p.select("p_partkey", code.alias("code"))
    iso = F.broadcast(spark.createDataFrame(
        gz.countries_pdf()[["iso3"]])).withColumnRenamed("iso3", "code")
    return toks.join(iso, "code", "inner").select("p_partkey", "code")


def q_j8_tile_grid(spark, sf_dir):
    """J8: raster tile assignment (equirect grid) + per-tile rollup."""
    pts = _coords(spark, sf_dir)
    tx = F.floor((F.col("lon") + 180.0) / 2.5).cast("long")
    ty = F.floor((F.col("lat") + 90.0) / 2.5).cast("long")
    return (pts.withColumn("tile_x", tx).withColumn("tile_y", ty)
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_points"),
                 F.count(F.when(F.col("lat") > 0, 1)).alias("n_north")))


def q_w1_temporal_deltas(spark, sf_dir):
    """W1/A6: adjacent deltas via lag window, per user (time_resolution.py:26-29)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet stores TIMESTAMP_NTZ; session TZ is UTC so the cast is identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (ev.withColumn("delta_us", us - F.lag(us).over(w))
            .where(F.col("delta_us").isNotNull())
            .select("user_id", "event_id", "delta_us"))


def q_a5_threshold_cascade(spark, sf_dir):
    """A4/A5: valid-count + threshold gate per group (CategoryBases.py:95-100)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("l_quantity").between(10, 40), 1)
                       .otherwise(0)).alias("n_valid"))
            .withColumn("passed",
                        (F.col("n_valid") >= F.col("n") * 0.85).cast("int")))


def q_a7_uniformity(spark, sf_dir):
    """A7: uniformity classification of deltas (analysis/helpers.py:7-15)."""
    deltas = q_w1_temporal_deltas(spark, sf_dir)
    per_user = deltas.groupBy("user_id").agg(
        F.median("delta_us").alias("med"),
        F.count("*").alias("n"))
    j = deltas.join(per_user, "user_id")
    agg = j.groupBy("user_id", "med", "n").agg(
        F.max(F.abs(F.col("delta_us") - F.col("med"))).alias("max_dev"))
    return agg.select(
        "user_id", "n",
        F.when(F.col("max_dev") < 1e-9 * F.abs(F.col("med")), "PERFECT")
        .when(F.col("max_dev") < 0.01 * F.abs(F.col("med")), "UNIFORM")
        .otherwise("NOT_UNIFORM").alias("uniformity"))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5-hash groups with keeper (operators/dedup.py)."""
    from cartwright_spark.operators.dedup import exact_duplicates
    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs, "text", "doc_id")


def q_text_token_count(spark, sf_dir):
    """Token counting (operators/textstats.py): whitespace tokens AND the
    BPE-ish regex tokens (word runs | digit runs | single symbols)."""
    from cartwright_spark.operators.textstats import tokens_col
    docs = _t(spark, sf_dir, "documents")
    n_ws = F.size(F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != ""))
    return docs.select("doc_id", n_ws.alias("n_ws_tokens"),
                       F.size(tokens_col(F.col("text"))).alias("n_bpe_tokens"))


def q_text_quality_counts(spark, sf_dir):
    """Quality-scoring integer features (operators/textstats.py)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    words = F.filter(F.split(F.lower(t), "\\s+"), lambda w: w != "")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        F.size(words).alias("n_words"),
        F.length(F.regexp_replace(t, r"[^\.,;:!\?]", "")).alias("n_punct"),
    )


def q_lang_stopword_hits(spark, sf_dir):
    """Language-ID marker hits (operators/textstats.py detect_language)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), "\\s+"), lambda w: w != ""))
    en = F.size(F.array_intersect(words, F.array(
        F.lit("the"), F.lit("and"), F.lit("of"), F.lit("to"), F.lit("is"))))
    return docs.select("doc_id", en.alias("en_hits"))


def q_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition filter (operators/textstats.py
    repetition_scores): per-doc duplicate-word / top-2-gram-coverage /
    duplicate-5-gram-chars signals plus the integer-exact keep flag.
    All counts are integers so the DuckDB oracle hashes identically."""
    from cartwright_spark.operators.textstats import repetition_scores
    docs = _t(spark, sf_dir, "documents")
    return repetition_scores(docs, "text", "doc_id")


def q_asof_events(spark, sf_dir):
    """Backward as-of join (operators/temporal_join.py): each purchase
    event picks up the latest signup event by the same user at-or-before
    its timestamp. Union+window plan — ONE shuffle on user_id vs the
    inequality-join nested loop. DuckDB oracle uses its native
    ASOF LEFT JOIN."""
    from cartwright_spark.operators.temporal_join import asof_join
    ev = _t(spark, sf_dir, "events")
    left = (ev.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts"))
    right = (ev.where(F.col("event_type") == "signup")
             .select("user_id", "ts", "event_id", "value"))
    out = asof_join(left, right, ["user_id"], "ts",
                    right_payload=["event_id", "value"])
    return out.select(
        "event_id", "user_id",
        F.col("r_event_id").alias("signup_event_id"),
        F.col("r_value").alias("signup_value"),
        # NTZ → TZ cast is exact under the session's UTC timezone
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("r_ts").cast("timestamp")))
        .alias("wait_us"))


def q_range_join_orders(spark, sf_dir):
    """Binned range join (operators/temporal_join.py): lineitem ship
    days joined into per-order promo windows [orderdate,
    orderdate + o_orderkey%30 days] for 1-in-97 orders. Interval
    bin explosion + equi-join + exact refine — each pair produced
    exactly once; oracle is the naive inequality join."""
    from cartwright_spark.operators.temporal_join import binned_range_join
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 97 == 0)
    iv = orders.select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("lo_day"),
        (F.datediff("o_orderdate", F.lit("1970-01-01"))
         + F.col("o_orderkey") % 30).alias("hi_day"))
    pts = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.datediff("l_shipdate", F.lit("1970-01-01")).alias("ship_day"))
    out = binned_range_join(pts, iv, "ship_day", "lo_day", "hi_day",
                            bin_size=16)
    return out.select("o_orderkey", "l_orderkey", "l_linenumber",
                      "ship_day", "lo_day", "hi_day")


#: stratified mixing rates for the sampling contract query — exact
#: integer thresholds of 2^32 are derived on both sides from these
SAMPLE_RATES = {"src0": 0.75, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-stratified sampling
    (operators/sampling.py): per-source mixing rates applied via an md5
    prefix vs integer threshold — stateless, retry-stable, nested
    across rate increases. Pure codegen, zero shuffle."""
    from cartwright_spark.operators.sampling import hash_stratified_sample
    docs = _t(spark, sf_dir, "documents")
    out = hash_stratified_sample(docs, "source", SAMPLE_RATES, "doc_id",
                                 salt="mix-v1", default_rate=0.05)
    return out.select("doc_id", "source")


def q_stratum_cap(spark, sf_dir):
    """Per-domain cap sampling (operators/sampling.py
    stratum_cap_sample): keep the 12 smallest-hash docs per source —
    deterministic domain caps without sorting the hot stratum (count
    pre-pass → under-cap bypass → margin pre-filter → rank survivors
    only). Oracle is the naive one-window-per-stratum formulation."""
    from cartwright_spark.operators.sampling import stratum_cap_sample
    docs = _t(spark, sf_dir, "documents")
    out = stratum_cap_sample(docs, "source", 12, "doc_id", salt="cap-v1")
    return out.select("doc_id", "source")


def q_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/sampling.py):
    global token-stream layout in doc_id order cut into 4096-token
    packs, via a distributed two-pass prefix scan (the oracle is the
    equivalent — but single-task — global window cumsum)."""
    from cartwright_spark.operators.sampling import pack_sequences
    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "n_chars", 4096, "doc_id")


def q_interval_overlap(spark, sf_dir):
    """Interval-interval overlap join (operators/temporal_join.py
    binned_interval_join): promo windows of 1-in-97 orders × windows of
    1-in-89 orders, matched iff the day ranges overlap. Each pair is
    claimed in exactly one bin (the overlap-start bin) — no distinct
    pass. Oracle: the naive inequality join."""
    from cartwright_spark.operators.temporal_join import binned_interval_join
    orders = _t(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01"))

    def windows(mod, ka, kb):
        return (orders.where(F.col("o_orderkey") % mod == 0)
                .select(F.col("o_orderkey").alias(ka),
                        day.alias(f"{kb}_lo"),
                        (day + F.col("o_orderkey") % 30).alias(f"{kb}_hi")))

    left = windows(97, "okey_a", "a")
    right = windows(89, "okey_b", "b")
    out = binned_interval_join(left, right, "a_lo", "a_hi",
                               "b_lo", "b_hi", bin_size=16)
    return out.select("okey_a", "okey_b", "a_lo", "a_hi", "b_lo", "b_hi")


def q_interval_coverage(spark, sf_dir):
    """Union length of overlapping intervals per group
    (operators/temporal_join.py interval_coverage): the gaps-and-islands
    sweep as pure window arithmetic — one shuffle on the group key, no
    self-join, no UDF. Intervals are sparse order-date windows (1-in-11
    orders, spans 1–5 days) grouped by (priority, orderkey mod 7) so
    each group has real gaps. Oracle: the identical window formulation
    in DuckDB SQL. Integer-exact."""
    from cartwright_spark.operators.temporal_join import interval_coverage
    orders = _t(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01"))
    iv = (orders.where(F.col("o_orderkey") % 11 == 0)
          .select(F.col("o_orderpriority").alias("priority"),
                  (F.col("o_orderkey") % 7).alias("bucket"),
                  day.alias("lo"),
                  (day + 1 + F.col("o_orderkey") % 5).alias("hi")))
    return interval_coverage(iv, ["priority", "bucket"], "lo", "hi")


def q_pii_redact(spark, sf_dir):
    """PII redaction (operators/hygiene.py): portable Java∩RE2 regexes,
    per-class counts + redacted length. The corpus is synthetic words,
    so PII is injected deterministically in-query (same injection in
    the oracle) — 1 in 7 docs gains an email, an IPv4 and a digit run."""
    from cartwright_spark.operators.hygiene import redact_pii
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"),
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com at 10.0.3."),
                        (F.col("doc_id") % 250).cast("string"),
                        F.lit(" ref 987654321012")))
        .otherwise(F.col("text")))
    out = redact_pii(seeded)
    return out.select("doc_id", "n_email", "n_ipv4", "n_digit_run",
                      F.length("redacted").alias("redacted_len"))


def q_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/hygiene.py): docs whose
    13-gram stream hits a probe set (probes = first 13 words of every
    101st doc — the GPT-3-style eval-overlap join). Broadcast gram
    equi-join; clean docs never leave the map side."""
    from cartwright_spark.operators.hygiene import contamination_check
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), "\\s+"),
                     lambda w: w != "")
    probes = (docs.where(F.col("doc_id") % 101 == 0)
              .select(F.concat_ws(" ", F.slice(words, 1, 13))
                      .alias("probe")))
    return contamination_check(docs, probes)


def q_cms_freq(spark, sf_dir):
    """Count-Min frequency sketch (operators/sketch.py cms_build /
    cms_estimate): depth-4 × width-64 sketch of documents.source, then
    point estimates for every distinct source. Width 64 over 20 hot
    values forces real bucket collisions, so the oracle checks the
    collision arithmetic (est = min over rows of colliding-count sums),
    not just a pass-through."""
    from cartwright_spark.operators.sketch import cms_build, cms_estimate
    d = _t(spark, sf_dir, "documents")
    sk = cms_build(d, "source", depth=4, width=64)
    return cms_estimate(sk, d.select("source"), "source", width=64)


def q_weighted_sample(spark, sf_dir):
    """Per-source weighted sample without replacement
    (operators/sampling.py weighted_sample — Efraimidis-Spirakis
    exponential keys, deterministic hash uniforms): 20 docs per source
    drawn proportional to n_chars. The hot-group-safe two-stage salted
    ranking is exercised; the oracle is the naive one-window
    formulation the stages provably equal."""
    from cartwright_spark.operators.sampling import weighted_sample
    d = _t(spark, sf_dir, "documents")
    return (weighted_sample(d, "n_chars", 20, "doc_id",
                            group_col="source", salt="ws-v1")
            .select("doc_id", "source", "n_chars"))


def q_connected_components(spark, sf_dir):
    """Distributed connected components (functions/graph.py, alternating
    large-star/small-star — Kiveris et al. SoCC'14): the pairs→clusters
    closure a dedup pipeline runs after LSH. Deterministic graph from
    orderkeys: star edges to the 97-block base plus sparse cross-block
    bridges at multiples of 293 (component sizes stay bounded so the
    DuckDB recursive-closure oracle is tractable)."""
    from cartwright_spark.functions.graph import connected_components
    o = _t(spark, sf_dir, "orders")
    star = o.select(F.col("o_orderkey").alias("src"),
                    (F.col("o_orderkey") - F.col("o_orderkey") % 97)
                    .alias("dst"))
    bridge = (o.where((F.col("o_orderkey") % 293 == 0)
                      & (F.col("o_orderkey") >= 97))
              .select(F.col("o_orderkey").alias("src"),
                      (F.col("o_orderkey") - 97).alias("dst")))
    return connected_components(star.union(bridge), "src", "dst")


def q_url_normalize(spark, sf_dir):
    """URL canonicalization + registered domain (operators/urltools.py):
    the first normalization pass of a web corpus — scheme/host lowering,
    default-port + fragment + tracking-param stripping, www removal,
    eTLD+1 extraction. Raw URLs are synthesized deterministically from
    (doc_id, source) IN-QUERY on both sides (the hygiene.py PII-injection
    pattern) across four shape variants: default port + www + tracking +
    fragment; co.uk suffix with an all-tracking query; portless-path
    non-default port; mixed-case scheme/path. Pure codegen'd column
    expressions — no UDF, no shuffle."""
    from cartwright_spark.operators.urltools import normalize_urls
    d = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    raw = (F.when(v == 0, F.concat(
               F.lit("HTTP://WWW."), F.col("source"),
               F.lit(".Example.COM:80/Alpha/"), sid,
               F.lit("?utm_source=feed&id="),
               (F.col("doc_id") % 7).cast("string"),
               F.lit("&ref=Home#Frag")))
           .when(v == 1, F.concat(
               F.lit("https://news."), F.col("source"),
               F.lit(".co.uk:443/Briefing?gclid="), sid))
           .when(v == 2, F.concat(
               F.lit("http://"), F.col("source"),
               F.lit(".net:8080?b=2&utm_medium=x&a="),
               (F.col("doc_id") % 5).cast("string")))
           .otherwise(F.concat(
               F.lit("HtTpS://"), F.col("source"),
               F.lit(".COM/MiXeD/CaSe/"), sid)))
    return (normalize_urls(d.select("doc_id", raw.alias("url")))
            .select("doc_id", "url", "url_norm", "host",
                    "registered_domain"))


def _synth_pages(spark, sf_dir):
    """Deterministic page table (url, html-with-two-hrefs) from
    documents — the Spark twin of _PAGES_SQL."""
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".com/p/"), sid)
    html = F.concat(
        F.lit('<html><a href="http://www.src'),
        ((F.col("doc_id") + 3) % 20).cast("string"),
        F.lit(".example.com:80/x/"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit("?utm_source=a&q="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('">a</a><p><a href="https://news.src'),
        ((F.col("doc_id") + 7) % 20).cast("string"),
        F.lit('.co.uk:443/y#top">b</a></html>'))
    return d.select("doc_id", url.alias("url"), html.alias("html"))


def q_link_graph(spark, sf_dir):
    """Host-level link graph (operators/urltools.py host_edges): hrefs
    exploded out of html, both endpoints canonicalized with the URL
    layer, self-links dropped, multiplicity collapsed to a weight. Pages
    synthesized deterministically in-query on both sides. The only
    shuffle is the algebraic (src_host, dst_host) count."""
    from cartwright_spark.operators.urltools import host_edges
    return host_edges(_synth_pages(spark, sf_dir))


def q_host_pagerank(spark, sf_dir):
    """PageRank over the host graph that link_graph builds — the
    extract → normalize → graph composition end-to-end (the host-quality
    prior a web curation pipeline mixes into sampling weights). String
    node ids exercise pagerank's type-agnostic join path; the oracle is
    the link-graph SQL fed into the same unrolled power iteration."""
    from cartwright_spark.functions.graph import pagerank
    from cartwright_spark.operators.urltools import host_edges
    edges = host_edges(_synth_pages(spark, sf_dir))
    return pagerank(edges, "src_host", "dst_host", iters=10)


def q_link_prediction(spark, sf_dir):
    """Common-neighbor + Adamic-Adar link prediction
    (functions/graph.py link_prediction) over the host graph that
    link_graph builds: candidate pairs generated THROUGH the shared
    neighbour (hub-capped — the output-size analog of the minhash
    bucket cap), existing edges anti-joined out. Oracle: the same
    undirected canonicalization, wedge join, and 1/ln(deg) rollup in
    plain SQL over the shared link-graph CTE."""
    from cartwright_spark.functions.graph import link_prediction
    from cartwright_spark.operators.urltools import host_edges
    edges = host_edges(_synth_pages(spark, sf_dir))
    return link_prediction(edges, "src_host", "dst_host", max_hub=1024)


def q_prior_weighted_sample(spark, sf_dir):
    """The full web-curation composition in one query: synthesize pages →
    extract+canonicalize the link graph (urltools) → PageRank the host
    graph (functions/graph.py) → draw 200 pages WITHOUT replacement
    proportional to their host's rank (operators/sampling.py
    weighted_sample, global TakeOrdered path). This is the shape a
    100 TB curation run takes: the prior is host-sized (broadcast), the
    corpus is touched by one narrow normalize + one equi-join + a
    partial top-k — never globally sorted. Oracle: link-graph SQL fed
    into the unrolled power iteration, then the identical exp-key draw."""
    from cartwright_spark.functions.graph import pagerank
    from cartwright_spark.operators.sampling import weighted_sample
    from cartwright_spark.operators.urltools import host_edges, normalize_urls
    pages = _synth_pages(spark, sf_dir)
    prior = pagerank(host_edges(pages), "src_host", "dst_host", iters=10)
    ph = (normalize_urls(pages.select("doc_id", "url"), "url")
          .select("doc_id", "host"))
    weighted = (ph.join(F.broadcast(prior), ph["host"] == prior["id"])
                .select("doc_id", "host", F.col("rank_x_n").alias("w")))
    return (weighted_sample(weighted, "w", 200, "doc_id", salt="prior-v1")
            .select("doc_id", "host", "w"))


def q_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (functions/graph.py pagerank): the
    host-graph quality prior over the same deterministic orders digraph
    as connected_components (star edges into 97-block bases + sparse
    bridges). Block bases have no out-edges, so the dangling-mass
    redistribution path is exercised, not just the join. Oracle: the
    power iteration unrolled into 10 chained CTEs — value-for-value,
    no goldens."""
    from cartwright_spark.functions.graph import pagerank
    o = _t(spark, sf_dir, "orders")
    star = o.select(F.col("o_orderkey").alias("src"),
                    (F.col("o_orderkey") - F.col("o_orderkey") % 97)
                    .alias("dst"))
    bridge = (o.where((F.col("o_orderkey") % 293 == 0)
                      & (F.col("o_orderkey") >= 97))
              .select(F.col("o_orderkey").alias("src"),
                      (F.col("o_orderkey") - 97).alias("dst")))
    return pagerank(star.union(bridge), "src", "dst", iters=10)


def q_hits_scores(spark, sf_dir):
    """Fixed-iteration HITS (functions/graph.py hits): hubs &
    authorities over the same deterministic orders digraph as pagerank
    — leaves are pure hubs, block bases pure authorities, bridges mix
    both. Oracle: the mutual recursion unrolled into 8 rounds of
    chained CTEs, value-for-value (the _pagerank_unrolled pattern)."""
    from cartwright_spark.functions.graph import hits
    o = _t(spark, sf_dir, "orders")
    star = o.select(F.col("o_orderkey").alias("src"),
                    (F.col("o_orderkey") - F.col("o_orderkey") % 97)
                    .alias("dst"))
    bridge = (o.where((F.col("o_orderkey") % 293 == 0)
                      & (F.col("o_orderkey") >= 97))
              .select(F.col("o_orderkey").alias("src"),
                      (F.col("o_orderkey") - 97).alias("dst")))
    return hits(star.union(bridge), "src", "dst", iters=8)


def q_sssp_weighted(spark, sf_dir):
    """Bounded-hop cheapest path (functions/graph.py sssp_bounded):
    6-round weighted Bellman-Ford from the 1-in-211 seed set over the
    orders digraph with per-edge cost 1 + src % 13. Integer-exact.
    Oracle: the relaxation unrolled into 6 chained union+min CTEs."""
    from cartwright_spark.functions.graph import sssp_bounded
    o = _t(spark, sf_dir, "orders")
    w = (F.lit(1) + F.col("o_orderkey") % 13).alias("w")
    star = o.select(F.col("o_orderkey").alias("src"),
                    (F.col("o_orderkey") - F.col("o_orderkey") % 97)
                    .alias("dst"), w)
    bridge = (o.where((F.col("o_orderkey") % 293 == 0)
                      & (F.col("o_orderkey") >= 97))
              .select(F.col("o_orderkey").alias("src"),
                      (F.col("o_orderkey") - 97).alias("dst"), w))
    seeds = o.where(F.col("o_orderkey") % 211 == 0) \
             .select(F.col("o_orderkey").alias("id"))
    return sssp_bounded(star.union(bridge), seeds, rounds=6)


def q_kmeans_centroids(spark, sf_dir):
    """Fixed-iteration Lloyd k-means (spatial/kmeans.py): 8 clusters,
    4 rounds over integer lattice points derived from orders. Integer
    inputs make the whole fit bit-identical across engines (exact int
    sums below 2^53 + the same IEEE expression tree), so the oracle —
    Lloyd unrolled into chained CTEs — compares value-for-value with
    no tolerance. Per-round cost: broadcast k centroids + one
    algebraic groupBy; the corpus is never re-shuffled."""
    from cartwright_spark.spatial.kmeans import kmeans_lloyd
    o = _t(spark, sf_dir, "orders")
    pts = o.select((F.col("o_orderkey") % 1000).alias("x"),
                   ((F.col("o_orderkey") * 13) % 1000).alias("y"))
    return kmeans_lloyd(pts, "x", "y", k=8, iters=4)


def q_grid_cluster(spark, sf_dir):
    """Density-grid spatial clustering (functions/graph.py grid_cluster):
    snap points to 5° cells, connected-components over 8-neighbor
    adjacency of OCCUPIED cells (bounded by the grid, not the corpus),
    label points by their cell blob — DBSCAN's grid approximation."""
    from cartwright_spark.functions.graph import grid_cluster
    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 7 == 0)
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 181) - 90.0).alias("lat"),
        ((F.col("c_custkey") * 73 % 361) - 180.0).alias("lon"))
    out = grid_cluster(pts, "lat", "lon", cell_deg=5.0)
    return out.select("c_custkey", "cell_id", "cluster_id")


def q_morans_i(spark, sf_dir):
    """Global + local Moran's I spatial autocorrelation
    (spatial/autocorr.py): point->cell rollup (grid-bounded output),
    occupied-cell 8-neighbour equi-join (cell table exploded 8x, never
    the points), integer-exact moment aggregates, and the float
    statistic emitted from ONE expression generator into both engines."""
    from cartwright_spark.spatial.autocorr import morans_i
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("event_id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return morans_i(pts, cell_deg=5.0)


def q_proximity_pairs(spark, sf_dir):
    """Positional proximity search (operators/ranking.py
    proximity_pairs): documents where 'join' and 'hash' co-occur
    within 5 token positions — pair counts and minimum gap from a
    binned (J11-style) band join over term-filtered positions, never
    an inequality join over the token stream. Oracle: the naive
    position cross join with the same |i-j| predicate."""
    from cartwright_spark.operators.ranking import proximity_pairs
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return proximity_pairs(docs, "join", "hash", window=5)


def q_best_snippet(spark, sf_dir):
    """Snippet selection (operators/ranking.py best_snippet): the
    10-token span covering the most {join, hash, merge} occurrences
    per document, earliest-start tiebreak. Candidates are the hit
    positions themselves (the optimal span starts at a hit), covered
    counts from ONE logical RANGE frame — no self-join. Oracle: the
    identical RANGE frame and arg-min pick in DuckDB."""
    from cartwright_spark.operators.ranking import best_snippet
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return best_snippet(docs, ["join", "hash", "merge"], window=10)


def q_ndcg_eval(spark, sf_dir):
    """NDCG@10 retrieval evaluation (operators/ranking.py ndcg_at_k):
    for each of three term queries over the shared tokenizer, the
    system ranking is term density (occ/dl — deliberately imperfect)
    and graded relevance is least(occ, 3); per-query DCG/IDCG/NDCG
    with exact BIGINT 2^rel - 1 gains and the shared ln(2)/ln(r+1)
    discount expression. Top-k windows are partition-rank-pruned (the
    rrf_fuse pattern). Oracle: identical candidate build + windows in
    DuckDB."""
    from cartwright_spark.operators.ranking import ndcg_at_k
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda w: w != "")
    cand = (docs.select("doc_id", words.alias("__w"))
            .withColumn("dl", F.size("__w"))
            .select("doc_id", "dl", F.explode("__w").alias("w"))
            .where(F.col("w").isin(["join", "hash", "merge"]))
            .groupBy(F.col("w").alias("qid"), F.col("doc_id"), F.col("dl"))
            .agg(F.count(F.lit(1)).alias("occ"))
            .select("qid", "doc_id",
                    (F.col("occ").cast("double") / F.col("dl"))
                    .alias("score"),
                    F.least(F.col("occ"), F.lit(3)).alias("rel")))
    return ndcg_at_k(cand, k=10)


def q_dominant_direction(spark, sf_dir):
    """Leading embedding direction by power iteration
    (operators/spectral.py dominant_direction): 8 matvec rounds as two
    algebraic groupBys per round over the once-checkpointed exploded
    table — d x d never materializes; anisotropy pre-flight for the
    ANN/dedup tier. Oracle: the identical recipe unrolled into chained
    CTEs (_power_unrolled, the HITS pattern)."""
    from cartwright_spark.operators.spectral import dominant_direction
    return dominant_direction(_t(spark, sf_dir, "embeddings"))


def q_diameter_sweep(spark, sf_dir):
    """Double-sweep diameter lower bound (functions/graph.py
    diameter_double_sweep) over the undirected view of the shared
    500-node digraph, start = 0: two BFS passes, deterministic
    (max d, min id) pivot. Oracle: two recursive-CTE BFS closures with
    the same argmax pivot selection."""
    from cartwright_spark.functions.graph import diameter_double_sweep
    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(500))
    e1 = ev.select(a.alias("src"),
                   F.pmod(a * 7 + 3, F.lit(500)).alias("dst"))
    e2 = ev.select(a.alias("src"),
                   F.pmod(a * a + 11, F.lit(500)).alias("dst"))
    return diameter_double_sweep(e1.unionByName(e2), start=0)


def q_ols_trend(spark, sf_dir):
    """Grouped OLS trend + R^2 (operators/regression.py ols_trend):
    per event_type, y = quantized value against x = recentred epoch
    day — five exact BIGINT sums in ONE algebraic groupBy, fit columns
    as single float expressions over exact integers. Oracle: identical
    moments and formulas in DuckDB."""
    from cartwright_spark.operators.regression import ols_trend
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        (F.floor(F.unix_timestamp("ts") / 86400) - 20440)
        .cast("bigint").alias("x"),
        F.pmod(F.floor("value").cast("bigint"), F.lit(100)).alias("y"))
    return ols_trend(ev)


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (spatial/zonal.py zonal_stats): per-fence
    count/sum/min/max/mean of an integer measure — zones explode to
    covering grid cells (guarded), points bin once, ONE broadcast
    equi-join + exact BETWEEN refine; never a nested-loop range join.
    12 overlapping deterministic boxes over the shared point synthesis.
    Oracle: the plain inequality join in DuckDB."""
    from cartwright_spark.spatial.zonal import zonal_stats
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("event_id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"),
        F.pmod(F.col("event_id"), F.lit(97)).alias("m"))
    zones = spark.createDataFrame(
        [(i, -90.0 + i * 15.0, -90.0 + i * 15.0 + 20.0,
          -180.0 + i * 30.0, -180.0 + i * 30.0 + 45.0)
         for i in range(12)],
        "zone_id long, lat_min double, lat_max double, "
        "lon_min double, lon_max double")
    return zonal_stats(pts, zones)


def q_url_templates(spark, sf_dir):
    """URL path template mining (operators/urltools.py path_templates):
    dynamic segments collapse to {n}/{id} under RE2-safe anchored
    rules (no lookarounds — one convention, two engines); paths are
    synthesized deterministically in-query across four route shapes
    (the url_normalize pattern). Oracle: identical list_transform
    templating + rollup in DuckDB."""
    from cartwright_spark.operators.urltools import path_templates
    d = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 4
    path = (F.when(v == 0, F.concat(F.lit("/article/"),
                                    (F.col("doc_id") * 37).cast("string"),
                                    F.lit("/comments")))
            .when(v == 1, F.concat(F.lit("/user/"),
                                   F.format_string("%08x", F.col("doc_id")),
                                   F.lit("/profile")))
            .when(v == 2, F.lit("/static/css/main"))
            .otherwise(F.concat(F.lit("/item/p"),
                                F.col("doc_id").cast("string"))))
    urls = d.select(F.col("source").alias("host"), path.alias("path"))
    return path_templates(urls)


def q_assortativity(spark, sf_dir):
    """Degree assortativity (functions/graph.py degree_assortativity)
    over the shared 500-node two-family digraph: Pearson r of
    (outdeg(u), indeg(v)) across edges — exact BIGINT moments, one
    float sqrt. Oracle: the identical moment expression in DuckDB."""
    from cartwright_spark.functions.graph import degree_assortativity
    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(500))
    e1 = ev.select(a.alias("src"),
                   F.pmod(a * 7 + 3, F.lit(500)).alias("dst"))
    e2 = ev.select(a.alias("src"),
                   F.pmod(a * a + 11, F.lit(500)).alias("dst"))
    return degree_assortativity(e1.unionByName(e2))


def q_harmonic_centrality(spark, sf_dir):
    """k-source harmonic centrality (functions/graph.py
    harmonic_centrality): frontier BFS from 8 seed vertices over the
    shared 500-node two-family digraph (the scc fixture); h(v) = sum
    1/d(s,v), an 8-term float sum of exact reciprocals. Oracle:
    bounded recursive-CTE hop closure with min(d) per (s, v)."""
    from cartwright_spark.functions.graph import harmonic_centrality
    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(500))
    e1 = ev.select(a.alias("src"),
                   F.pmod(a * 7 + 3, F.lit(500)).alias("dst"))
    e2 = ev.select(a.alias("src"),
                   F.pmod(a * a + 11, F.lit(500)).alias("dst"))
    return harmonic_centrality(e1.unionByName(e2), sources=list(range(8)))


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle (operators/funnel.py
    cohort_retention): integer epoch-bucket cohorts (no engine week
    semantics), distinct (user, week_offset) activity, two corpus exchanges
    total. Oracle: identical integer bucketing in DuckDB."""
    from cartwright_spark.operators.funnel import cohort_retention
    return cohort_retention(_t(spark, sf_dir, "events"))


def q_span_corruption(spark, sf_dir):
    """T5-style span corruption (operators/spanmask.py
    span_corruption): deterministic masked-LM (input, target) pair
    construction — span starts from the portable sharding.py hash of
    (doc, pos), overlapping spans merge into sentinel runs, strings
    reassembled by ordered struct sort (never collect_list order).
    Oracle: identical hash (sharding.weight_sql — one generator, two
    engines), identical window frames, string_agg ORDER BY pos."""
    from cartwright_spark.operators.spanmask import span_corruption
    return span_corruption(_t(spark, sf_dir, "documents"))


def q_textrank(spark, sf_dir):
    """TextRank keyword scoring (operators/keywords.py
    textrank_keywords): PageRank over the word co-occurrence graph —
    lead-window pairs (linear output, no position self-join), exact
    integer weighted degrees, 10 fixed rank rounds on the vocabulary
    graph. Oracle: the identical recurrence unrolled into chained CTEs
    (_textrank_unrolled, the HITS/pagerank oracle pattern)."""
    from cartwright_spark.operators.keywords import textrank_keywords
    return textrank_keywords(_t(spark, sf_dir, "documents"))


def q_readability(spark, sf_dir):
    """Flesch reading ease + FK grade (operators/textstats.py
    readability): three exact integer counts (alpha-run words,
    [.!?]+ sentence runs floored at 1, vowel-group syllables floored
    at 1/word) and two shared float formulas — pure per-row codegen,
    zero shuffle. Oracle: identical regexes and formulas in DuckDB."""
    from cartwright_spark.operators.textstats import readability
    return readability(_t(spark, sf_dir, "documents"))


def q_scc(spark, sf_dir):
    """Strongly connected components (functions/graph.py
    strongly_connected_components): trim + forward min-label coloring +
    backward mark over a deterministic 500-node two-family digraph
    (a = event_id%500, edges to 7a+3 and a^2+11 mod 500 — cycles with
    DAG tails, so TRIM and both propagation phases all exercise).
    Oracle: recursive-CTE transitive closure; scc_id = min mutually-
    reachable vertex."""
    from cartwright_spark.functions.graph import (
        strongly_connected_components)
    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(500))
    e1 = ev.select(a.alias("src"),
                   F.pmod(a * 7 + 3, F.lit(500)).alias("dst"))
    e2 = ev.select(a.alias("src"),
                   F.pmod(a * a + 11, F.lit(500)).alias("dst"))
    return strongly_connected_components(e1.unionByName(e2))


def q_acf_lags(spark, sf_dir):
    """Per-series autocorrelation function (operators/acf.py acf):
    ACF at lags 1..4 per event_type over the total (ts, event_id)
    order, x quantized to pmod(floor(value), 10) so every moment is an
    exact BIGINT (the Geary's C discipline applied to time); r is one
    float division of two exact integers. Oracle: identical lead
    windows + moment identity in DuckDB (HUGEINT sums cast back)."""
    from cartwright_spark.operators.acf import acf
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"), "ts",
        F.col("event_id").alias("id"),
        F.pmod(F.floor("value").cast("bigint"), F.lit(10)).alias("x"))
    return acf(ev, max_lag=4)


def q_rendezvous_shards(spark, sf_dir):
    """Rendezvous/HRW shard routing (functions/sharding.py
    rendezvous_assign): every document routed to its argmax-weight
    shard of 8 via the portable two-round multiplicative mix — a pure
    per-row projection, zero shuffle. Oracle: the SAME weight
    expression (sharding.weight_sql, one generator two engines)
    unnested over shards with the (w DESC, s DESC) argmax."""
    from cartwright_spark.functions.sharding import rendezvous_assign
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return rendezvous_assign(docs, "doc_id", 8)


def q_markov_transitions(spark, sf_dir):
    """Clickstream Markov model (operators/funnel.py
    markov_transitions): per-user adjacent event-type transitions
    under the total (ts, event_id) order; counts and p(dst|src) from
    one lead window + one matrix-sized groupBy. Oracle: the identical
    lead() adjacency in DuckDB."""
    from cartwright_spark.operators.funnel import markov_transitions
    ev = _t(spark, sf_dir, "events")
    return markov_transitions(ev)


def q_gearys_c(spark, sf_dir):
    """Global + local Geary's C spatial autocorrelation
    (spatial/autocorr.py gearys_c): Moran's I's companion statistic
    over the same grid rollup — binary 8-neighbour weights collapse
    sum_ij w_ij (x_i - x_j)^2 to exact BIGINT moments (2*(sxxd - sxs)),
    and local c_i = (deg*x^2 - 2*x*s + q)/m2 needs only one extra
    neighbour moment q = sum of neighbour x^2. Float math is single
    shared-generator expressions in both engines."""
    from cartwright_spark.spatial.autocorr import gearys_c
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("event_id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return gearys_c(pts, cell_deg=5.0)


def q_bigram_lm_score(spark, sf_dir):
    """CCNet-style char-bigram LM quality score (operators/langmodel.py):
    model trained in one vocab-bounded aggregation, ln p computed once
    per distinct bigram into a DECIMAL(38,12) broadcast dim, per-doc
    scores as exact decimal sums — order- and engine-independent."""
    from cartwright_spark.operators.langmodel import bigram_lm_score
    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_score(docs)


# Point synthesis for the Gi* hotspot query — one string, two engines
# (25% of orders land in a 10°x10° band so hot cells actually exist).
_GISTAR_LAT = (
    "CASE WHEN o_orderkey % 4 = 0 THEN"
    " CAST((o_orderkey * 13) % 100 AS DOUBLE) / CAST(10.0 AS DOUBLE)"
    " + CAST(40.0 AS DOUBLE)"
    " ELSE CAST((o_orderkey * 37) % 1801 AS DOUBLE) / CAST(10.0 AS DOUBLE)"
    " - CAST(90.0 AS DOUBLE) END")
_GISTAR_LON = (
    "CASE WHEN o_orderkey % 4 = 0 THEN"
    " CAST((o_orderkey * 17) % 100 AS DOUBLE) / CAST(10.0 AS DOUBLE)"
    " + CAST(10.0 AS DOUBLE)"
    " ELSE CAST((o_orderkey * 73) % 3600 AS DOUBLE) / CAST(10.0 AS DOUBLE)"
    " - CAST(180.0 AS DOUBLE) END")


def q_gistar_hotspots(spark, sf_dir):
    """Getis-Ord Gi* hot/cold-spot z-scores (spatial/autocorr.py
    getis_ord_gistar): same grid-bounded rollup + 8-neighbour cell
    equi-join as Moran's I, reduced 1-row stats broadcast, and the Gi*
    float emitted from ONE expression generator into both engines."""
    from cartwright_spark.spatial.autocorr import getis_ord_gistar
    orders = _t(spark, sf_dir, "orders")
    pts = orders.select(F.expr(_GISTAR_LAT).alias("lat"),
                        F.expr(_GISTAR_LON).alias("lon"))
    return getis_ord_gistar(pts, cell_deg=5.0)


# Coordinate synthesis for the trajectory query — one string, two
# engines: per-user home base + small half-degree wander, with sparse
# large jumps (every 11th/13th event) that force session breaks.
_TRAJ_LAT = (
    "CAST((user_id * 37) % 120 AS DOUBLE) - CAST(60.0 AS DOUBLE)"
    " + CAST(event_id % 7 AS DOUBLE) * CAST(0.5 AS DOUBLE)"
    " + CASE WHEN event_id % 11 = 0 THEN CAST(20.0 AS DOUBLE)"
    " ELSE CAST(0.0 AS DOUBLE) END")
_TRAJ_LON = (
    "CAST((user_id * 73) % 300 AS DOUBLE) - CAST(150.0 AS DOUBLE)"
    " + CAST(event_id % 5 AS DOUBLE) * CAST(0.5 AS DOUBLE)"
    " + CASE WHEN event_id % 13 = 0 THEN CAST(25.0 AS DOUBLE)"
    " ELSE CAST(0.0 AS DOUBLE) END")


def q_tile_pyramid(spark, sf_dir):
    """Multi-resolution tile rollup (spatial/tiles.py tile_pyramid):
    ONE corpus shuffle at z_max, coarser zooms from an ancestor explode
    of the grid-bounded tile table (tx >> k), never re-shuffling the
    points per zoom."""
    from cartwright_spark.spatial.tiles import tile_pyramid
    part = _t(spark, sf_dir, "part")
    pts = part.select(
        ((F.col("p_partkey") * 37 % 1701).cast("double") / 10.0 - 85.0)
        .alias("lat"),
        ((F.col("p_partkey") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return tile_pyramid(pts, z_max=6)


def q_trend_hotspots(spark, sf_dir):
    """Mann-Kendall emerging-hotspot trend (spatial/trend.py): per-cell
    daily counts (grid x span bounded), bin-pair self-join on the cell
    key (bounded fan-out), integer-exact S / tie / n aggregates, and
    the z statistic from ONE generator expression in both engines."""
    from cartwright_spark.spatial.trend import mann_kendall_trend
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "ts",
        ((F.col("event_id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("event_id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return mann_kendall_trend(pts, cell_deg=10.0)


def q_sen_slope(spark, sf_dir):
    """Theil-Sen trend slope per cell (spatial/trend.py
    theil_sen_slope): bounded bin-pair slopes as single exact IEEE
    divisions of BIGINT counts; median = the LOWER order statistic at
    rank (n+1) DIV 2, a selected value no engine can interpolate
    differently. Same point synthesis as trend_hotspots."""
    from cartwright_spark.spatial.trend import theil_sen_slope
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "ts",
        ((F.col("event_id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("event_id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return theil_sen_slope(pts, cell_deg=10.0)


# Trajectory-session oracle SQL as a module constant: the od_matrix
# oracle composes it as a subquery (one definition, two consumers).
_TRAJ_SESSIONS_SQL = f"""
            WITH pts AS (
              SELECT event_id, user_id, ts,
                     {_TRAJ_LAT} AS lat, {_TRAJ_LON} AS lon
              FROM events
            ),
            lagged AS (
              SELECT user_id, event_id, epoch_us(ts) AS us, lat, lon,
                     lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt
              FROM pts
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id)
            ),
            flagged AS (
              SELECT user_id, event_id, us, lat, lon,
                     CASE WHEN plat IS NULL THEN 1
                          WHEN (lat - plat) * (lat - plat)
                               + (lon - plon) * (lon - plon)
                               > CAST(100.0 AS DOUBLE) THEN 1
                          WHEN dt > 604800000000 THEN 1
                          ELSE 0 END AS brk
              FROM lagged
            ),
            sess AS (
              SELECT user_id, us, lat, lon,
                     CAST(sum(brk) OVER (PARTITION BY user_id
                                         ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_points,
                   min(us) AS t_start_us, max(us) AS t_end_us,
                   CAST(sum(CAST(lat AS DECIMAL(38,12))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS clat,
                   CAST(sum(CAST(lon AS DECIMAL(38,12))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS clon
            FROM sess
            GROUP BY user_id, session_id
"""


def q_ripley_k(spark, sf_dir):
    """Ripley's K point-pattern function, grid form (spatial/autocorr.py
    ripley_k): per-ring ordered pair counts from one bounded offset
    explode of the cell table, exact BIGINT cumulation, one division
    per radius for K_hat."""
    from cartwright_spark.spatial.autocorr import ripley_k
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        ((F.col("c_custkey") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("c_custkey") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return ripley_k(pts, cell_deg=10.0, k=3)


def q_idw_surface(spark, sf_dir):
    """IDW value-surface interpolation (spatial/kde.py
    idw_interpolate): per-cell decimal-exact sample means, bounded
    offset explode, rational kernel weights with DECIMAL(38,12) term
    rounding in BOTH the numerator and denominator sums."""
    from cartwright_spark.spatial.kde import idw_interpolate
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "value",
        ((F.col("event_id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("event_id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return idw_interpolate(pts, "value", cell_deg=10.0, k=2)


def q_snap_segments(spark, sf_dir):
    """Nearest-segment snap join (spatial/mapmatch.py
    snap_to_segments): padded-bbox cell candidates for the segment dim,
    one cell per point, exact BIGINT radius gate, min(struct) argmin;
    dist2/t from the shared snap_sql kernel so both engines round
    identically."""
    from cartwright_spark.spatial.mapmatch import snap_to_segments
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_custkey") * 131 % 20000).alias("px"),
        (F.col("c_custkey") * 197 % 20000).alias("py"))
    segs = supp.select(
        F.col("s_suppkey").alias("id"),
        (F.col("s_suppkey") * 211 % 20000).alias("x0"),
        (F.col("s_suppkey") * 157 % 20000).alias("y0"),
        (F.col("s_suppkey") * 211 % 20000
         + F.col("s_suppkey") % 200 - 100).alias("x1"),
        (F.col("s_suppkey") * 157 % 20000
         + F.col("s_suppkey") * 7 % 200 - 100).alias("y1"))
    return snap_to_segments(pts, segs, radius=500)


def q_burst_detect(spark, sf_dir):
    """Temporal burst detection (operators/burst.py detect_bursts):
    one (key, hour-bin) corpus rollup, per-key exact integer moments
    over the FULL span (empty bins included), z from the shared
    burst_sql generator. Hour 7 carries an injected spike (every
    11th event) over the uniform 48-hour background."""
    from cartwright_spark.operators.burst import detect_bursts
    ev = _t(spark, sf_dir, "events")
    synth = ev.select(
        "event_type",
        F.expr("timestamp_micros((CASE WHEN event_id % 11 = 0 THEN 7"
               " ELSE event_id % 48 END) * 3600000000)").alias("ts"))
    return detect_bursts(synth, "ts", "event_type",
                         bin_micros=3_600_000_000, z_thresh=3.0)


def q_knox_spacetime(spark, sf_dir):
    """Knox space-time interaction (spatial/colocation.py
    knox_statistic): one (cell, day) corpus rollup; X/S/T/P pair
    counts as exact BIGINT sums of c*(c-1) DIV 2; ratio from one
    generator. Half the synthesized points take their latitude band
    from their DAY (real interaction), half are independent."""
    from cartwright_spark.spatial.colocation import knox_statistic
    ev = _t(spark, sf_dir, "events")
    day = "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
    pts = ev.select(
        "ts",
        F.expr(
            f"CASE WHEN event_id % 2 = 0 THEN"
            f" CAST(({day}) % 18 AS DOUBLE) * CAST(10.0 AS DOUBLE)"
            f" - CAST(85.0 AS DOUBLE)"
            f" ELSE CAST((event_id * 37) % 1801 AS DOUBLE)"
            f" / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) END"
        ).alias("lat"),
        F.expr(
            f"CASE WHEN event_id % 2 = 0 THEN"
            f" CAST(({day}) % 36 AS DOUBLE) * CAST(10.0 AS DOUBLE)"
            f" - CAST(175.0 AS DOUBLE)"
            f" ELSE CAST((event_id * 73) % 3600 AS DOUBLE)"
            f" / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) END"
        ).alias("lon"))
    return knox_statistic(pts, cell_deg=10.0)


def q_dbscan_labels(spark, sf_dir):
    """DBSCAN core/border/noise labelling (spatial/dbscan.py
    dbscan_label): sub-eps cell rollup decides dense-cell points with
    NO pair work, only undecided points enter the 5x5-cell candidate
    join, exact BIGINT ball test, n_nbrs capped at min_pts (the label
    contract — exact counts are quadratic in blob density), core-only
    second pass for borders. 70% of points sit in 5 dense blobs, the
    rest scatter over the full extent."""
    from cartwright_spark.spatial.dbscan import dbscan_label
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    blob = k % 10 < 7
    pts = cust.select(
        k.alias("id"),
        F.when(blob, (k % 5) * 5000 + (k * 13) % 160)
        .otherwise((k * 131) % 25000).cast("long").alias("px"),
        F.when(blob, (k % 5) * 4000 + (k * 29) % 160)
        .otherwise((k * 197) % 25000).cast("long").alias("py"))
    return dbscan_label(pts, eps=120, min_pts=8)


def q_heading_octants(spark, sf_dir):
    """Per-user movement-direction histogram (operators/trajectory.py
    heading_octants): lag window over (ts, event_id), EXACT integer
    45-degree sector classification from the shared octant_sql
    generator (no atan2), one user shuffle reused by the rollup."""
    from cartwright_spark.operators.trajectory import heading_octants
    ev = _t(spark, sf_dir, "events")
    synth = ev.select(
        "user_id", "ts", "event_id",
        ((F.col("event_id").cast("long") * 131) % 20000).alias("px"),
        ((F.col("event_id").cast("long") * 197) % 20000).alias("py"))
    return heading_octants(synth)


def q_std_ellipse(spark, sf_dir):
    """Standard deviational ellipse per event_type (spatial/measures.py
    std_ellipse): exact BIGINT moment rollup (one shuffle, map-side
    combine), derived doubles from the shared sde_sql generator using
    only IEEE-exact ops (no atan2 — orientation is the exact integer
    tan(2*theta) pair)."""
    from cartwright_spark.spatial.measures import std_ellipse
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_type").alias("grp"),
        ((F.col("event_id").cast("long") * 131) % 20000).alias("px"),
        ((F.col("event_id").cast("long") * 197) % 20000).alias("py"))
    return std_ellipse(pts)


def q_inverted_index(spark, sf_dir):
    """Inverted index build (operators/ranking.py inverted_index):
    explode -> map-side-deduped distinct pairs (one corpus shuffle),
    algebraic df counts, posting lists collected ONLY for terms passing
    the df<=cap gate (stop-word suppression bounds the collect state by
    construction); postings emitted as canonical sorted CSV."""
    from cartwright_spark.operators.ranking import inverted_index
    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, min_df=2, max_postings=50)


def q_grid_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop distance over the occupied-cell graph
    (functions/graph.py grid_bfs_hops): one corpus rollup folds the
    seed flag, then grid-bounded frontier expansion (guarded driver
    path at metadata scale, distributed loop past it — parity-tested).
    Oracle is a DuckDB RECURSIVE CTE over the same cell graph."""
    from cartwright_spark.functions.graph import grid_bfs_hops
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        ((F.col("c_custkey") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("c_custkey") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"),
        (F.col("c_custkey") % 97 == 0).alias("is_seed"))
    return grid_bfs_hops(pts, cell_deg=10.0, max_hops=8)


def q_pareto_front(spark, sf_dir):
    """2-D skyline per language (operators/skyline.py pareto_front):
    the O(n log n) dominance sweep as ONE window — sort (x DESC,
    y DESC, id), keep rows whose y beats the running preceding max.
    x = document length, y = a deterministic synthetic utility score."""
    from cartwright_spark.operators.skyline import pareto_front
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("lang").alias("grp"),
        F.col("doc_id").alias("id"),
        F.col("n_chars").cast("long").alias("x"),
        ((F.col("doc_id") * 7919) % 1000).cast("long").alias("y"))
    return pareto_front(scored)


def q_term_cooccurrence(spark, sf_dir):
    """Term-pair collocation mining (operators/textstats.py
    term_cooccurrence): df-gated vocabulary, rarest-16-per-doc cap
    (deterministic), checkpointed capped table feeding the doc
    self-join, lift = exact-count division (no log). The synthetic
    corpus has a ~31-term vocabulary with corpus-scale dfs, so the
    stop-word gate is left wide open here (it is unit-tested); the
    per-doc cap still bounds the quadratic step."""
    from cartwright_spark.operators.textstats import term_cooccurrence
    docs = _t(spark, sf_dir, "documents")
    return term_cooccurrence(docs, min_df=2, max_df=1_000_000_000,
                             max_terms_per_doc=16, min_pair=2)


def q_adaptive_tiles(spark, sf_dir):
    """Adaptive quadtree binning (spatial/tiles.py adaptive_tiles):
    leaf = first below-cap tile on each root-to-leaf path, derived
    JOIN-ONLY from the one-corpus-shuffle tile pyramid (no iteration);
    z_max tiles still above cap are flagged overflow."""
    from cartwright_spark.spatial.tiles import adaptive_tiles
    part = _t(spark, sf_dir, "part")
    pts = part.select(
        ((F.col("p_partkey") * 37 % 1701).cast("double") / 10.0 - 85.0)
        .alias("lat"),
        ((F.col("p_partkey") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return adaptive_tiles(pts, z_max=6, cap=25)


def q_cost_distance(spark, sf_dir):
    """Cost-distance accumulation (functions/graph.py cost_distance):
    min path cost over <= 6 hops where entering a cell costs its point
    count — exact BIGINT Bellman-Ford over the grid-bounded occupied
    cells (guarded driver relaxation at metadata scale, distributed
    min-merge loop past it). Oracle: bounded RECURSIVE CTE."""
    from cartwright_spark.functions.graph import cost_distance
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        ((F.col("c_custkey") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("c_custkey") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"),
        (F.col("c_custkey") % 97 == 0).alias("is_seed"))
    return cost_distance(pts, cell_deg=10.0, max_hops=6)


def q_colocation_lift(spark, sf_dir):
    """Category-pair spatial association (spatial/colocation.py):
    distinct (cell, category) rollup bounded by grid x categories,
    cell-key pair join with bounded fan-out, exact integer counts, one
    generator for the lift division. Categories = event_type."""
    from cartwright_spark.spatial.colocation import colocation_lift
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_type").alias("category"),
        ((F.col("event_id") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("event_id") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return colocation_lift(pts, cell_deg=10.0)


def q_od_matrix(spark, sf_dir):
    """Origin-destination matrix (operators/trajectory.py od_matrix):
    stay-region sessions -> centroid cells -> per-user consecutive
    transitions -> (origin, destination) trip counts. Composes the
    trajectory layer; output bounded by occupied-cells squared."""
    from cartwright_spark.operators.trajectory import (od_matrix,
                                                       trajectory_sessions)
    ev = _t(spark, sf_dir, "events")
    pts = ev.select("event_id", "user_id", "ts",
                    F.expr(_TRAJ_LAT).alias("lat"),
                    F.expr(_TRAJ_LON).alias("lon"))
    sess = trajectory_sessions(pts, gap_deg=10.0, gap_s=604800)
    return od_matrix(sess, cell_deg=10.0)


def q_trajectory_sessions(spark, sf_dir):
    """Per-user stay-region segmentation (operators/trajectory.py):
    one shuffle on user_id feeds the break-flag window AND the session
    rollup; degree-space squared gaps keep the break flag exact in both
    engines, centroids are DECIMAL(38,12) sums. Breaks on >10-degree
    jumps or >7-day silences."""
    from cartwright_spark.operators.trajectory import trajectory_sessions
    ev = _t(spark, sf_dir, "events")
    pts = ev.select("event_id", "user_id", "ts",
                    F.expr(_TRAJ_LAT).alias("lat"),
                    F.expr(_TRAJ_LON).alias("lon"))
    return trajectory_sessions(pts, gap_deg=10.0, gap_s=604800)


def q_stay_points(spark, sf_dir):
    """Li et al. (ACM GIS 2008) stay-point detection
    (operators/trajectory.py stay_points): anchor-scan dwell mining
    over the shared _TRAJ synthetic traces — from each anchor, extend
    while points stay within 5 degrees OF THE ANCHOR; segments dwelling
    >= 24 h emit (anchor jumps to the escape index), otherwise the
    anchor slides by one. Inherently sequential per user, so the engine
    runs an Arrow applyInPandas kernel per trace; the oracle
    precomputes every anchor's escape index with a bounded self-join
    and replays the anchor walk as a recursive CTE."""
    from cartwright_spark.operators.trajectory import stay_points
    ev = _t(spark, sf_dir, "events")
    pts = ev.select("event_id", "user_id", "ts",
                    F.expr(_TRAJ_LAT).alias("lat"),
                    F.expr(_TRAJ_LON).alias("lon"))
    return stay_points(pts, dist_deg=5.0, min_dwell_s=86400)


def q_kde_heatmap(spark, sf_dir):
    """Kernel-density heatmap (spatial/kde.py): grid-bounded cell
    rollup, bounded (2k+1)^2 offset explode of the CELL table, rational
    kernel terms rounded to DECIMAL(38,12) and decimal-summed — the
    density total is exact, associative, and engine-independent."""
    from cartwright_spark.spatial.kde import kde_heatmap
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        ((F.col("c_custkey") * 37 % 1801).cast("double") / 10.0 - 90.0)
        .alias("lat"),
        ((F.col("c_custkey") * 73 % 3600).cast("double") / 10.0 - 180.0)
        .alias("lon"))
    return kde_heatmap(pts, cell_deg=5.0, k=2)


def q_segment_intersections(spark, sf_dir):
    """Exact segment-crossing join (spatial/segjoin.py): integer
    orientation tests (no epsilon), grid-cell candidate equi-join with
    bounded bbox fan-out, pair claimed exactly once at the max of the
    two bboxes' min-cell corners — no distinct, no cartesian. Oracle is
    the same exact predicate brute-forced."""
    from cartwright_spark.spatial.segjoin import segment_intersections
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 0)
    cust = _t(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    a = orders.select(
        k.alias("id"),
        (k * 7919 % 10000).alias("x0"), (k * 104729 % 10000).alias("y0"),
        (k * 7919 % 10000 + k * 13 % 801 - 400).alias("x1"),
        (k * 104729 % 10000 + k * 17 % 801 - 400).alias("y1"))
    c = F.col("c_custkey")
    b = cust.select(
        c.alias("id"),
        (c * 6151 % 10000).alias("x0"), (c * 3571 % 10000).alias("y0"),
        (c * 6151 % 10000 + c * 19 % 801 - 400).alias("x1"),
        (c * 3571 % 10000 + c * 23 % 801 - 400).alias("y1"))
    return segment_intersections(a, b, cell=500)


def q_bm25_scores(spark, sf_dir):
    """BM25 relevance (operators/ranking.py): inverted doc-term index
    with the query-term filter pushed below the tf aggregation, df and
    corpus scalars broadcast. Emits every matched doc's score (the
    integer n_terms column is the float-free rank key; see
    bm25_topk's docstring for why the contract compares scores, not
    float-ordered ranks)."""
    from cartwright_spark.operators.ranking import bm25_scores
    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, ["spark", "join", "window"])


def q_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency fit per language slice
    (operators/textstats.py zipf_fit): OLS of ln(freq) on ln(rank)
    over each slice's top-128 terms — corpus-health power-law check.
    The engine's top-V rank is the skew-proof two-stage (salted bucket
    top-V, then exact re-rank of survivors); the oracle ranks in one
    window (same (freq DESC, term ASC) tie-break) and computes the
    identical explicit-sums OLS. Both round to 4 decimals."""
    from cartwright_spark.operators.textstats import zipf_fit
    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, "lang", "text", top_v=128)


def q_crawl_budget(spark, sf_dir):
    """Largest-remainder crawl-budget apportionment
    (operators/crawl.py crawl_budget): split a 1000-fetch recrawl
    budget across hosts proportional to page counts; quotas sum to
    exactly 1000 with remainder ties broken by host. Integer-exact;
    oracle replays the same floor/mod/rank arithmetic."""
    from cartwright_spark.operators.crawl import crawl_budget
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy(F.col("source").alias("host")) \
                 .agg(F.count(F.lit(1)).alias("n_pages"))
    return crawl_budget(counts, budget=1000)


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution (operators/crawl.py
    resolve_redirects): pointer-doubling over a synthetic 3xx map on
    the documents key space — downward chains of length 1..63 with
    terminals at multiples of 64, plus 2-cycles hung off every third
    terminal — resolved under a 32-hop fetcher cap. Chains <=32 hops
    resolve with exact hop counts; longer chains and loops come back
    resolved=false. Oracle: the walk replayed step-by-step as a
    DuckDB recursive CTE with the same hop cap."""
    from cartwright_spark.operators.crawl import resolve_redirects
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))
    e1 = docs.where(F.col("doc_id") % 64 != 0).select(
        u(F.col("doc_id")).alias("src"),
        u(F.col("doc_id") - 1).alias("dst"))
    cyc = docs.where(F.col("doc_id") % 192 == 0)
    loop = F.concat(F.lit("loop"), F.col("doc_id").cast("string"))
    e2 = cyc.select(u(F.col("doc_id")).alias("src"), loop.alias("dst"))
    e3 = cyc.select(loop.alias("src"), u(F.col("doc_id")).alias("dst"))
    out = resolve_redirects(e1.union(e2).union(e3), max_hops=32)
    return out.select("src", "final_url", "hops",
                      F.col("resolved").cast("int").alias("resolved"))


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (operators/ranking.py rrf_fuse): fuse
    three independent document rankings — by length, by crawl order,
    and a truncated top-200 pseudo-relevance list — into one top-50.
    Fixed-point contributions (10^12 div (60+rank)) keep the fused
    order exact across engines; oracle replays the same three windows
    and the integer sum in DuckDB."""
    from pyspark.sql import Window
    from cartwright_spark.operators.ranking import rrf_fuse
    docs = _t(spark, sf_dir, "documents")
    r1 = docs.select("doc_id", F.row_number().over(
        Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))).alias("rank"))
    r2 = docs.select("doc_id", F.row_number().over(
        Window.orderBy(F.asc("doc_id"))).alias("rank"))
    r3 = (docs.select("doc_id", F.row_number().over(
        Window.orderBy(F.asc((F.col("doc_id") * 7) % 1009),
                       F.asc("doc_id"))).alias("rank"))
          .where(F.col("rank") <= 200))
    return rrf_fuse([r1, r2, r3], topk=50)


def q_centroid_outlier(spark, sf_dir):
    """Embedding centroid outlier score (operators/simsearch.py): one
    algebraic (group, pos) aggregation builds the centroid, broadcast
    back; per-vector cosine is a bounded d-element fold — the corpus is
    never shuffled on a per-vector key."""
    from cartwright_spark.operators.simsearch import centroid_outlier
    emb = _t(spark, sf_dir, "embeddings")
    return centroid_outlier(emb, "label", "vec_id", "embedding")


def q_linear_score(spark, sf_dir):
    """Hashed linear scorer (operators/ranking.py): fastText-style
    inference — token → md5 bucket → broadcast (bucket, weight) dim →
    per-doc mean → sigmoid. The north star's vectorized batch-scoring
    shape with a model-as-dim-table."""
    from cartwright_spark.operators.ranking import hashed_linear_score
    docs = _t(spark, sf_dir, "documents")
    return hashed_linear_score(docs, dim=1024)


def q_kmv_distinct(spark, sf_dir):
    """KMV distinct sketch (operators/sketch.py): bottom-64 portable
    md5-derived 32-bit hashes per group via a salted two-stage ranked
    window (no collect_set, no global sort), estimate (k-1)·2^32/h_k."""
    from cartwright_spark.operators.sketch import kmv_distinct
    orders = _t(spark, sf_dir, "orders")
    return kmv_distinct(orders, "o_orderpriority", "o_custkey", k=64)


def q_bloom_semijoin(spark, sf_dir):
    """Bloom-prefiltered semi join (operators/bloom.py): lineitem rows
    survive a pure-codegen m=2^19 Bloom probe of the (rare) orders
    subset's keys BEFORE the join exchange — the shuffle sees ~2% of
    the corpus instead of all of it — then the exact join removes any
    false positives, so the result is identical to the plain semi join
    the oracle runs."""
    from cartwright_spark.operators.bloom import bloom_prefilter_join
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber")
    small = _t(spark, sf_dir, "orders") \
        .where(F.col("o_orderkey") % 50 == 0) \
        .select(F.col("o_orderkey").alias("k"))
    out = bloom_prefilter_join(li, small, "k")
    return out.select(F.col("k").alias("l_orderkey"), "l_linenumber")


def q_robots_filter(spark, sf_dir):
    """RFC 9309 robots.txt politeness filter (operators/robots.py):
    per-host robots BODIES are synthesized closed-form (a crawler-
    specific group with Disallow+Allow, plus a deny-all ``*`` group that
    must NOT be selected), parsed from scratch on the host dim, and
    applied to order-derived URLs via broadcast rules + codegen prefix
    longest-match (max_by, no window). The oracle re-derives the
    decisions from the RULE SEMANTICS directly — wrong group selection,
    wrong tie-break, or a lost default-allow URL all diverge."""
    from cartwright_spark.operators.robots import robots_decisions
    o = _t(spark, sf_dir, "orders")
    urls = o.select(
        F.col("o_orderkey").alias("k"),
        F.concat(F.lit("h"), (F.col("o_custkey") % 20).cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/p"), (F.col("o_orderkey") % 4).cast("string"),
                 F.when(F.col("o_orderkey") % 5 == 0, F.lit("/pub/page"))
                 .otherwise(F.lit("/item")),
                 F.col("o_orderkey").cast("string")).alias("path"))
    hosts = o.select((F.col("o_custkey") % 20).alias("h")).distinct()
    robots = hosts.select(
        F.concat(F.lit("h"), F.col("h").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.format_string(
            "User-agent: crawler\nDisallow: /p%d/\nAllow: /p%d/pub\n\n"
            "User-agent: *\nDisallow: /",
            (F.col("h") % 3).cast("int"),
            (F.col("h") % 3).cast("int")).alias("robots_txt"))
    return robots_decisions(urls, robots, agent="crawler")


def q_warc_records(spark, sf_dir):
    """WARC ingest (sources/warc.py — from-scratch ISO 28500 reader):
    per-doc Common-Crawl-layout blobs (three records each, every record
    its OWN gzip member) are built and exploded into record rows inside
    one mapInPandas pass. Record urls, payload lengths, and payload md5s
    are closed-form in (doc_id, rec), so the DuckDB oracle re-derives
    every value — framing, member-by-member gunzip, and payload
    extraction are value-checked end to end."""
    import pandas as pd

    from cartwright_spark.sources.warc import build_warc, warc_records
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    def mk(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].to_numpy():
                i = int(i)
                recs = [{"url": f"https://w{i}.example.com/r/{r}",
                         "payload": (f"payload-{i}-{r}-"
                                     + "x" * (i % 7 + r)).encode()}
                        for r in range(3)]
                rows.append((i, build_warc(recs, gzip_members=True)))
            yield pd.DataFrame(rows, columns=["blob_id", "warc"])

    blobs = docs.mapInPandas(mk, "blob_id long, warc binary")
    out = warc_records(blobs)
    return out.select(
        "blob_id", "rec_idx", "rec_type", "url", "n_bytes",
        F.md5(F.col("payload").cast("string")).alias("payload_md5"))


def q_multimodal_gif_frames(spark, sf_dir):
    """Multiframe media decode (operators/gif.py — from-scratch GIF89a
    codec, full LZW): deterministic palette-indexed animations built
    from doc_id, encoded and decoded distributed inside mapInPandas;
    per-frame pixel sums, decoded delays, and the cumulative frame
    start time all closed-form in (doc_id, frame), so the DuckDB oracle
    re-derives every value in pure SQL — the first REAL multiframe
    (video-shaped) decode path, with frame timing from the bitstream."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.operators.gif import decode_gif, encode_gif
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 150)
    H, W, NF, P = 10, 8, 3, 64
    palette = np.stack([(np.arange(P) * 3) % 256, (np.arange(P) * 5) % 256,
                        (np.arange(P) * 7) % 256], 1).astype(np.uint8)

    def fn(batches):
        y = np.arange(H)[:, None]
        x = np.arange(W)[None, :]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].to_numpy(np.int64):
                frames = [((int(i) * 31 + f * 13 + y * 7 + x * 3) % P)
                          .astype(np.uint8) for f in range(NF)]
                delays = [10 + 5 * f for f in range(NF)]
                decoded = decode_gif(encode_gif(frames, palette, delays))
                t = 0
                for f, (d, rgb) in enumerate(decoded):
                    rows.append((int(i), f, d, t, int(rgb.sum())))
                    t += d
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame", "delay_cs", "t_start_cs", "px_sum"])

    return docs.mapInPandas(
        fn, "media_id long, frame long, delay_cs long, "
            "t_start_cs long, px_sum long")


def q_multimodal_video_frames(spark, sf_dir):
    """TRUE video decode (operators/avi.py + jpeg.py + multimodal.py
    video_frames): deterministic rasters → encode_jpeg → MJPEG-AVI mux
    (RIFF container with hdrl/movi/idx1) per doc, then the REAL
    `video_frames` operator container-parses each payload, JPEG-decodes
    every frame, and emits bitstream-exact timing (40 ms at
    rate=25/scale=1). Frames reuse the exact-round-trip JPEG pattern
    (8x8-constant even grayscale blocks at quality 50, jpeg.py), so
    frame count, per-frame start time, AND per-frame pixel sums are all
    closed-form in (doc_id, frame) — the DuckDB oracle re-derives every
    value in pure SQL. Closes VERDICT r4 missing #1 (the GIF pattern,
    extended to a real video container)."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.operators.avi import encode_avi_mjpeg
    from cartwright_spark.operators.jpeg import encode_jpeg
    from cartwright_spark.operators.multimodal import video_frames
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 120)
    H, W, NF = 16, 32, 3

    def mk(batches):
        by = np.arange(H)[:, None] // 8
        bx = np.arange(W)[None, :] // 8
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].to_numpy(np.int64):
                frames = []
                for f in range(NF):
                    v = (((int(i) * 37 + f * 11 + by * 17 + bx * 29)
                          % 128) * 2).astype(np.uint8)
                    rgb = np.repeat(v[:, :, None], 3, axis=2)
                    frames.append(encode_jpeg(
                        rgb, quality=50, subsampling="420",
                        restart_interval=1))
                rows.append((int(i), encode_avi_mjpeg(
                    frames, W, H, rate=25, scale=1)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(mk, "media_id long, payload binary")
    vf = video_frames(media)          # the real operator under test

    def sums(batches):
        for pdf in batches:
            ps = [int(np.frombuffer(r, dtype=np.uint8).sum(dtype=np.int64))
                  for r in pdf["raster"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(np.int64),
                "frame": pdf["frame"].to_numpy(np.int64),
                "t_ms": pdf["t_ms"].to_numpy(np.int64),
                "px_sum": np.array(ps, np.int64)})

    return vf.mapInPandas(
        sums, "media_id long, frame long, t_ms long, px_sum long")


def q_multimodal_wav_stats(spark, sf_dir):
    """AUDIO decode (operators/wav.py — from-scratch RIFF/WAVE PCM
    codec): deterministic stereo 16-bit waveforms built closed-form
    from (doc_id, channel, sample index), encoded to real WAVE bytes
    and decoded back distributed inside mapInPandas, then integer-exact
    per-channel stats — energy (sum of squares), peak magnitude, and
    zero crossings under the hold-last-sign convention — plus the
    sample rate read back from the fmt chunk. Every output value is
    closed-form in (doc_id, channel, i), so the DuckDB oracle
    re-derives energy/peak by direct aggregation and the crossing count
    with an IGNORE NULLS last_value sign-hold window — the audio
    modality joining the PNG/JPEG/GIF/MJPEG tier."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.operators.wav import (decode_wav, encode_wav,
                                                wav_channel_stats)
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    def fn(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"].to_numpy(np.int64):
                d = int(d)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)[:, None]
                c = np.arange(2, dtype=np.int64)[None, :]
                s = ((d * 13 + c * 7 + i * 5) % 200) - 100
                decoded, rate = decode_wav(encode_wav(s, 8000 + d,
                                                      bits=16))
                for ch, ns, sq, peak, zc in wav_channel_stats(decoded):
                    rows.append((d, ch, rate, ns, sq, peak, zc))
            yield pd.DataFrame(rows, columns=[
                "media_id", "channel", "rate", "n_samples", "sum_sq",
                "peak_abs", "zero_cross"])

    return docs.mapInPandas(
        fn, "media_id long, channel long, rate long, n_samples long, "
            "sum_sq long, peak_abs long, zero_cross long")


def q_grouped_quantile(spark, sf_dir):
    """Per-group exact p90 (operators/quantile.py grouped_exact_quantile)
    over a deliberately skewed grouping: one 'hot' group holds ~75% of
    orders, 50 cold groups split the rest. Small groups resolve via a
    bounded per-group window; the hot group goes through simultaneous
    histogram-refinement selection (broadcast range table + one
    (group, cell) algebraic agg per round) — the hot stratum is NEVER
    sorted. Oracle: the per-group row_number window formulation."""
    from cartwright_spark.operators.quantile import grouped_exact_quantile
    o = _t(spark, sf_dir, "orders")
    grp = F.when(F.col("o_orderkey") % 4 < 3, F.lit("hot")) \
        .otherwise(F.concat(F.lit("c"),
                            (F.col("o_custkey") % 50).cast("string")))
    df = o.select(grp.alias("grp"), "o_totalprice")
    return grouped_exact_quantile(df, "grp", "o_totalprice", 0.9,
                                  hot_threshold=2000)


def q_geohash_encode(spark, sf_dir):
    """Geohash encode (functions/geohash.py) of the synthetic lineitem
    coordinates at precision 6 — pure codegen shifts/masks/element_at,
    no UDF, no shuffle. Oracle: the SAME arithmetic emitted as SQL by
    geohash_sql (one generator, two engines); verified against public
    test vectors in tests/test_tiles.py."""
    from cartwright_spark.functions.geohash import geohash_col
    pts = _coords(spark, sf_dir)
    return pts.select(
        "l_orderkey", "l_linenumber",
        geohash_col(F.col("lat"), F.col("lon"), 6).alias("gh"))


def q_exact_quantiles(spark, sf_dir):
    """Exact distributed quantiles (operators/quantile.py): the value at
    sorted index floor(q·(n−1)) of orders.o_totalprice for q ∈
    {0.1, 0.5, 0.9} — found by bounded histogram-refinement selection
    (≤B aggregate rows to the driver per round, pushed-down range filter,
    single-value cells answer immediately), NEVER a global sort. Oracle:
    the one-window row_number() formulation the selection provably
    equals."""
    from cartwright_spark.operators.quantile import exact_quantiles
    o = _t(spark, sf_dir, "orders")
    return exact_quantiles(o, "o_totalprice", [0.1, 0.5, 0.9])


def q_triangle_lcc(spark, sf_dir):
    """Per-vertex triangle counts + local clustering coefficient
    (functions/graph.py triangle_counts, degree-ordered orientation so
    hub vertices contribute no wedges) over a deterministic irregular
    circulant graph on the customer keys: edges u→(u+o) mod N for
    o ∈ {1,2,3}, dropped when (7u+o) ≡ 0 (mod 5) — irregular degrees,
    dense triangle structure. Oracle: canonical-edge three-way join
    (orientation-free — same triangle set, each counted once)."""
    from cartwright_spark.functions.graph import triangle_counts
    c = _t(spark, sf_dir, "customer")
    n = c.count()   # scalar modulus; customer keys are dense 0..N-1
    e = (c.select(F.col("c_custkey").alias("u"),
                  F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
                  .alias("o"))
         .where((F.col("u") * 7 + F.col("o")) % 5 != 0)
         .select("u", ((F.col("u") + F.col("o")) % n).alias("v")))
    return triangle_counts(e, "u", "v")


def q_polygon_measures(spark, sf_dir):
    """Spherical polygon area + perimeter (spatial/measures.py): one
    rectangle ring per supplier key (deterministic rational corners, so
    vertex synthesis is exact in both engines), measured with the
    Chamberlain-Duquette spherical shoelace and a haversine perimeter.
    Per-edge float terms are rounded to DECIMAL(38,12) and summed as
    decimal — exact, associative, layout- and engine-independent — which
    is what makes doubles-from-a-SUM oracle-checkable at all."""
    from cartwright_spark.spatial.measures import polygon_measures
    s = _t(spark, sf_dir, "supplier")
    base = s.select(
        F.col("s_suppkey").alias("poly_id"),
        ((F.col("s_suppkey") * 37 % 120) - 60.0).alias("clat"),
        ((F.col("s_suppkey") * 73 % 340) - 170.0).alias("clon"),
        (F.lit(0.5) + (F.col("s_suppkey") % 7) / 4.0).alias("hh"),
        (F.lit(0.5) + (F.col("s_suppkey") % 11) / 4.0).alias("hw"))
    corners = spark.createDataFrame(
        [(0, -1, -1), (1, -1, 1), (2, 1, 1), (3, 1, -1)],
        "pos int, sy int, sx int")
    verts = base.crossJoin(F.broadcast(corners)).select(
        "poly_id", "pos",
        (F.col("clat") + F.col("sy") * F.col("hh")).alias("lat"),
        (F.col("clon") + F.col("sx") * F.col("hw")).alias("lon"))
    return polygon_measures(verts)


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality sketch (operators/sketch.py hll_sketch /
    hll_distinct): p=6 (64 registers) over a union of a high-cardinality
    side (distinct custkeys per order priority, ~1.3k per group — raw
    harmonic estimator branch) and a low-cardinality side (distinct
    doc_ids per document source — the linear-counting correction
    branch), so the oracle value-checks BOTH estimator branches. The
    register table itself is re-derived in SQL (integer-exact rho via
    binary-string length), and every 2^-rho term is a power of two so
    the harmonic sum is order-independent in doubles."""
    from cartwright_spark.operators.sketch import hll_distinct
    o = _t(spark, sf_dir, "orders")
    d = _t(spark, sf_dir, "documents")
    vals = (o.select(F.col("o_orderpriority").alias("grp"),
                     F.col("o_custkey").cast("string").alias("v"))
            .unionByName(
                d.select(F.col("source").alias("grp"),
                         F.col("doc_id").cast("string").alias("v"))))
    return hll_distinct(vals, "grp", "v", p=6)


def q_radius_join(spark, sf_dir):
    """Within-distance (radius) spatial join (spatial/distjoin.py): every
    part-derived site within 300 km of each customer-derived query point,
    exact haversine. Engine: one S2-cell equi-join (sites one cell each,
    queries disc-cover exploded) + narrow refine — no window, no dedup
    shuffle. Oracle: the full inequality join with the mirrored haversine
    expression; exactness also brute-force-proven in
    tests/test_spatial_joins.py over random polar/dateline clusters."""
    from cartwright_spark.spatial.distjoin import within_distance_join
    cust = _t(spark, sf_dir, "customer")
    q = cust.select(
        F.col("c_custkey").alias("qid"),
        (((F.col("c_custkey") * 131) % 18001) / 100.0 - 90.0).alias("lat"),
        (((F.col("c_custkey") * 211) % 36001) / 100.0 - 180.0).alias("lon"))
    p = _t(spark, sf_dir, "part")
    sites = p.select(
        F.col("p_partkey").alias("site_id"),
        (((F.col("p_partkey") * 7919) % 18001) / 100.0 - 90.0).alias("lat"),
        (((F.col("p_partkey") * 104729) % 36001) / 100.0 - 180.0).alias("lon"))
    return within_distance_join(q, sites, r_m=300_000.0)


def q_knn_grid(spark, sf_dir):
    """J7: kNN join — 10 query points × part-derived sites, top-5 by squared
    equirect distance (integer-exact), rank via window."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 10)
    q = cust.select(
        F.col("c_custkey").alias("qid"),
        ((F.col("c_custkey") * 37 % 181) - 90.0).alias("qlat"),
        ((F.col("c_custkey") * 73 % 361) - 180.0).alias("qlon"))
    p = _t(spark, sf_dir, "part")
    sites = p.select(
        F.col("p_partkey").alias("site_id"),
        (((F.col("p_partkey") * 131) % 18001) / 100.0 - 90.0).alias("slat"),
        (((F.col("p_partkey") * 211) % 36001) / 100.0 - 180.0).alias("slon"))
    joined = sites.crossJoin(F.broadcast(q))
    d2 = (F.col("slat") - F.col("qlat")) ** 2 + (F.col("slon") - F.col("qlon")) ** 2
    w = Window.partitionBy("qid").orderBy(d2.asc(), F.col("site_id").asc())
    return (joined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("qid", "site_id", "rank"))


@lru_cache(maxsize=1)
def _pip_boxes_pdf():
    """5 axis-aligned boxes; bounds offset by .005 so no /100-grid point
    lands exactly on a boundary (ray-cast vs BETWEEN edge semantics).
    lru-cached for a stable frame identity (the PIP covering memo keys
    on it)."""
    import pandas as pd
    rows = []
    for r in range(5):
        la0, la1 = r * 25 - 60.005, r * 25 - 40.005
        lo0, lo1 = r * 50 - 150.005, r * 50 - 110.005
        rows.append({"admin_id": f"box{r}",
                     "ring_lat": [la0, la0, la1, la1],
                     "ring_lon": [lo0, lo1, lo1, lo0]})
    return pd.DataFrame(rows)


def q_j6_pip_boxes(spark, sf_dir):
    """J6: point-in-polygon join (S2 cell prefilter + ray-cast refine); the
    oracle is plain box containment SQL — same answers on rectangles."""
    from cartwright_spark.spatial.pip import point_in_polygon_join
    pts = _coords(spark, sf_dir).select(
        F.concat_ws("_", "l_orderkey", "l_linenumber").alias("point_id"),
        "lat", "lon")
    return point_in_polygon_join(spark, pts, _pip_boxes_pdf(), level=7,
                                 point_id_col="point_id")


def q_j6_pip_bulk(spark, sf_dir):
    """J6 (bulk variant): the many-polygon PIP path — covering cells
    computed distributed, shuffled candidate join, salted grouped refine
    (spatial/pip.py point_in_polygon_join_bulk). Same points and boxes as
    j6_pip_boxes, same box-containment SQL oracle."""
    from cartwright_spark.spatial.pip import point_in_polygon_join_bulk
    pts = _coords(spark, sf_dir).select(
        F.concat_ws("_", "l_orderkey", "l_linenumber").alias("point_id"),
        "lat", "lon")
    polys = spark.createDataFrame(_pip_boxes_pdf())
    return point_in_polygon_join_bulk(spark, pts, polys, level=7,
                                      point_id_col="point_id")


def q_extract_text(spark, sf_dir):
    """The north-star per-row invariant: html → byte-identical extracted
    text (operators/extract.py JVM chain). Input html synthesized in-query
    from documents text (the driver tables carry no html column); the
    oracle replays the exact rule chain in DuckDB — block-tag alternation
    expanded per tag (RE2 has no backreferences), same entity replaces,
    same whitespace collapse — and must reproduce text AND sha256."""
    from cartwright_spark.operators.extract import extract_text_col
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>t</title><script>var x=1;</script></head>"
              "<body><nav>home | about</nav><p>"),
        F.col("text"),
        F.lit(" &amp; more &lt;data&gt;</p><footer>&copy; corp</footer>"
              "</body></html>"))
    src = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    out = src.withColumn("extracted_text", extract_text_col(F.col("html")))
    return out.select(
        "doc_id", "extracted_text",
        F.sha2(F.col("extracted_text"), 256).alias("text_sha256"))


def q_j8_tile_assign(spark, sf_dir):
    """J8 (vector side): raster↔vector tile assignment — polygons → bbox
    tile cover (driver, dim-scale) → broadcast equi-join on web-mercator
    tile id (spatial/tiles.py). Full SQL oracle re-deriving the slippy
    tile formula (floor/ln/tan/clamps identical; grid coordinates sit far
    from mercator tile boundaries, so libm-vs-JVM ulp noise cannot flip a
    floor)."""
    from cartwright_spark.spatial.tiles import assign_points_to_polygons_by_tile
    pts = _coords(spark, sf_dir).select(
        F.concat_ws("_", "l_orderkey", "l_linenumber").alias("point_id"),
        "lat", "lon")
    return assign_points_to_polygons_by_tile(
        spark, pts, _pip_boxes_pdf(), zoom=6, point_id_col="point_id")


def q_cartwright_categorize(spark, sf_dir):
    """E1/E2: full column classification (sample→validator bank→cascade→
    header fuzzy). Not SQL-expressible (driver records rows-only)."""
    from cartwright_spark.operators.classify import classify_columns
    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("event_date"),
        F.date_format(F.col("ts"), "MM").alias("month"),
        F.date_format(F.col("ts"), "yyyy").alias("Year"),
        ((F.col("event_id") % 18001) / 100.0 - 90.0).alias("reading_lat"),
        F.col("event_type").alias("kind"),
        F.col("value").alias("value"),
    )
    res = classify_columns(df)
    import pandas as pd
    pdf = pd.DataFrame([{
        "column": c.column, "category": c.category or "",
        "subcategory": c.subcategory or "", "format": c.format or "",
    } for c in res])
    return spark.createDataFrame(pdf)


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs over the deterministic near-dup fixture
    corpus (sources/fixtures.py — planted 1-3-token mutations); signatures
    and band hashes are engine-defined, so the oracle is the golden pair
    set locked by scripts/gen_goldens.py. Runs the skew-safe DEFAULT
    (max_bucket=2000, VERDICT r4 item 1) — on this fixture every band
    bucket is far below the cap, so capped and exact enumeration are
    value-identical and the golden locks both. Scale-throughput for this
    operator is benched separately over the real documents table."""
    from cartwright_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures
    from cartwright_spark.sources.fixtures import near_dup_corpus_pdf
    docs = spark.createDataFrame(near_dup_corpus_pdf()).coalesce(4)
    sigs = minhash_signatures(docs, "text", "doc_id", num_perm=64)
    return minhash_lsh_pairs(sigs, bands=16, jaccard_threshold=0.7) \
        .select("id_a", "id_b")


def q_minhash_dedup_assign(spark, sf_dir):
    """Megacluster-safe near-dup ASSIGNMENT (operators/dedup.py
    minhash_dedup_assign): (id, keeper_id) with LINEAR output — band
    buckets propose min-id keepers, each doc Jaccard-validates its own
    proposals, pointer-jumping canonicalizes chains. Same fixture corpus
    and engine-defined signatures as minhash_lsh → golden oracle."""
    from cartwright_spark.operators.dedup import (minhash_dedup_assign,
                                                  minhash_signatures)
    from cartwright_spark.sources.fixtures import near_dup_corpus_pdf
    docs = spark.createDataFrame(near_dup_corpus_pdf()).coalesce(4)
    sigs = minhash_signatures(docs, "text", "doc_id", num_perm=64)
    return minhash_dedup_assign(sigs, bands=16, jaccard_threshold=0.7) \
        .select("id", "keeper_id")


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs over the near-dup fixture corpus (golden
    oracle: xxhash64 bit votes are engine-defined)."""
    from cartwright_spark.operators.dedup import simhash_near_pairs, simhash_sql
    from cartwright_spark.sources.fixtures import near_dup_corpus_pdf
    docs = spark.createDataFrame(near_dup_corpus_pdf()).coalesce(4)
    return simhash_near_pairs(simhash_sql(docs, "text", "doc_id"),
                              max_hamming=3)


def q_s2_histogram(spark, sf_dir):
    """S2 encode + per-cell rollup over the fixture point set (golden
    oracle: from-scratch Hilbert cell ids aren't SQL-computable; the ids
    themselves are locked — bit-parity with the numpy form is separately
    asserted in tests/test_spatial_s2.py)."""
    from cartwright_spark.sources.fixtures import fixture_points_pdf
    from cartwright_spark.spatial.udfs import s2_cell
    pts = spark.createDataFrame(fixture_points_pdf()).coalesce(4)
    return (pts.withColumn("s2_cell", s2_cell(F.col("lat"), F.col("lon"), 6))
            .groupBy("s2_cell").agg(F.count("*").alias("n_points")))


def q_h3_histogram(spark, sf_dir):
    """H3-style hex encode + per-cell rollup over the fixture point set
    (golden oracle, same rationale as s2_histogram)."""
    from pyspark.sql.functions import pandas_udf

    from cartwright_spark.sources.fixtures import fixture_points_pdf
    from cartwright_spark.spatial import h3 as h3mod

    @pandas_udf("long")
    def hex_cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series(h3mod.latlng_to_cell(
            lat.to_numpy(np.float64), lon.to_numpy(np.float64), 3))

    pts = spark.createDataFrame(fixture_points_pdf()).coalesce(4)
    return (pts.withColumn("hex_cell", hex_cell(F.col("lat"), F.col("lon")))
            .groupBy("hex_cell").agg(F.count("*").alias("n_points")))


def q_simsearch_topk(spark, sf_dir):
    """Brute-force cosine top-k over embeddings. Full DuckDB oracle:
    both sides cast float32 parquet to double and rank by (cosine DESC,
    neighbor_id ASC) — verified hash-identical (rank output is int-only,
    and random vectors never tie within double epsilon)."""
    from cartwright_spark.operators.simsearch import brute_force_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    return brute_force_topk(emb, q, k=5).select("qid", "neighbor_id", "rank")


def q_knn_cells(spark, sf_dir):
    """J7: the real cell-expansion kNN join (spatial/knn.py) — query points
    from customer keys vs the city gazetteer; rows-only check (haversine +
    engine cell ids), exactness asserted against the brute-force oracle in
    tests/test_spatial_joins.py."""
    from cartwright_spark.spatial.knn import knn_join
    from cartwright_spark.sources import gazetteers as gz
    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 20)
    # 20 query rows over 32 input partitions would fan a full Python-worker
    # pool out per UDF stage; collapse the tiny sides first (at scale the
    # query side is large and keeps its natural partitioning)
    q = cust.select(
        F.col("c_custkey").alias("qid"),
        ((F.col("c_custkey") * 37 % 140) - 65.0).alias("lat"),
        ((F.col("c_custkey") * 73 % 361) - 180.0).alias("lon")).coalesce(1)
    cities = gz.cities_pdf().reset_index().rename(columns={"index": "site_id"})
    sites = spark.createDataFrame(cities).coalesce(2)
    out = knn_join(q, sites, k=3, level=6, r_cover_m=3_000_000.0)
    return out.select("qid", "site_id", "rank")


def q_o2_topk(spark, sf_dir):
    """O2/W3: top-k per group via rank window (orders per priority)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("o_orderpriority", "o_orderkey", "rank"))


def q_fuzzy_country_join(spark, sf_dir):
    """J1/J2: blocked Levenshtein similarity join — typo'd country names
    (real gazetteer name keyed off n_nationkey, last character dropped) vs
    the country gazetteer (operators/fuzzyjoin.py). The typo construction
    is pure string arithmetic so the oracle reproduces it exactly, and
    every probe is guaranteed ≥0.75 similar to its source row — the join
    actually exercises the blocking + refine path (nation names in the
    testdata are synthetic NATION_k strings that match nothing)."""
    from cartwright_spark.operators.fuzzyjoin import fuzzy_join
    from cartwright_spark.sources import gazetteers as gz
    names = sorted(gz.countries_pdf()["country_name"])
    nations = _t(spark, sf_dir, "nation").select("n_nationkey")
    base = F.element_at(F.array(*[F.lit(n) for n in names]),
                        (F.col("n_nationkey") % len(names) + 1).cast("int"))
    probes = nations.withColumn(
        "probe", base.substr(F.lit(1), F.length(base) - 1))
    countries = spark.createDataFrame(gz.countries_pdf()[["country_name"]])
    out = fuzzy_join(probes.select("n_nationkey", "probe"), "probe",
                     countries, "country_name", threshold=0.75)
    return out.select("n_nationkey", "probe", "country_name", "similarity")


def q_temporal_resolution(spark, sf_dir):
    """A6-A8: per-user temporal resolution (median delta → unit match →
    uniformity) as one JVM aggregate (resolution.py
    temporal_resolution_grouped — equal to the numpy kernel per group,
    parity-asserted in tests). Full DuckDB oracle: the unit-table argmin,
    median, and uniformity thresholds are all re-derived in SQL (units as
    a VALUES table, rank by relative error with insertion-order
    tie-break)."""
    from cartwright_spark.operators.resolution import (
        temporal_resolution_grouped,
    )
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"))
    return temporal_resolution_grouped(ev, "ts", "user_id") \
        .select("group", "uniformity", "unit")


def q_spatial_grid_resolution(spark, sf_dir):
    """A9: spatial grid detection on a part-key-derived 0.5° mesh (rows-only)."""
    from cartwright_spark.operators.resolution import spatial_resolution_grouped
    p = _t(spark, sf_dir, "part")
    grid = p.select(
        ((F.col("p_partkey") % 14) * 0.5 + 10.0).alias("lat"),
        (F.floor(F.col("p_partkey") / 14) % 14 * 0.5 - 30.0).alias("lon"))
    return spatial_resolution_grouped(grid, "lat", "lon") \
        .select("group", "kind", "uniformity", "unit", "resolution")


def q_dedup_groups(spark, sf_dir):
    """Exact-dedup groups over a corpus that actually contains duplicates
    (documents unioned with an id-shifted copy) — exercises the md5-group
    keeper semantics end-to-end (operators/dedup.py)."""
    from cartwright_spark.operators.dedup import exact_duplicates
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    return exact_duplicates(doubled, "text", "doc_id")


def q_lang_detect(spark, sf_dir):
    """Language-ID argmax over stopword-marker hits (textstats.py
    detect_language): per doc the language with most distinct marker words,
    ties to the lexicographically smallest code."""
    from cartwright_spark.operators.textstats import detect_language
    docs = _t(spark, sf_dir, "documents")
    return detect_language(docs).select("doc_id", "lang_detected", "lang_score")


def q_embedding_cosine_pairs(spark, sf_dir):
    """Embedding near-dup (exact variant): all vector pairs with cosine ≥
    0.35 — ids only (float compare stays engine-side; the threshold sits in
    a gap of the cosine distribution so both engines agree)."""
    from cartwright_spark.operators.simsearch import cosine_threshold_pairs
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_threshold_pairs(emb, 0.35)


def q_embedding_cosine_blocked(spark, sf_dir):
    """The DISTRIBUTED exact all-pairs path (block-pair grouped join, no
    driver collect — the round-1 scale-killer's replacement), forced via
    broadcast_max_rows=0 and checked against the same exact-cosine SQL
    oracle as the broadcast variant."""
    from cartwright_spark.operators.simsearch import cosine_threshold_pairs
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_threshold_pairs(emb, 0.35, broadcast_max_rows=0,
                                  block_rows=1024)


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Embedding near-dup, LSH-blocked scale path (dedup.py
    embedding_near_dups) over the planted-near-dup vector fixture:
    hyperplane buckets prune the self-join. Golden oracle (bucket
    assignment is engine-defined); recall vs the exact pair set is
    asserted in tests/test_dedup_simsearch.py."""
    from cartwright_spark.operators.dedup import embedding_near_dups
    from cartwright_spark.sources.fixtures import fixture_embeddings_pdf
    emb = spark.createDataFrame(fixture_embeddings_pdf()).coalesce(4)
    return embedding_near_dups(emb, "vec_id", "embedding",
                               cosine_threshold=0.8, n_planes=4, dim=32) \
        .select("id_a", "id_b")


def q_lsh_ann_topk(spark, sf_dir):
    """ANN top-k via hyperplane-LSH buckets + multiprobe (simsearch.py)
    over the vector fixture — the scale path next to the brute-force
    baseline. Golden oracle; recall@k vs brute force is asserted in
    tests/test_dedup_simsearch.py."""
    from cartwright_spark.operators.simsearch import lsh_bucketed_topk
    from cartwright_spark.sources.fixtures import fixture_embeddings_pdf
    emb = spark.createDataFrame(fixture_embeddings_pdf()).coalesce(4)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    # multiprobe depth 3: this fixture's non-dup neighbors are
    # near-orthogonal (the hard case for hyperplane LSH) — measured
    # recall@5 is 0.95 here vs 0.6 at depth 1 (clustered corpora reach
    # the same recall at depth 1; see tests/test_dedup_simsearch.py)
    return lsh_bucketed_topk(emb, q, k=5, n_planes=6, multiprobe=3,
                             dim=32).select("qid", "neighbor_id", "rank")


def q_ivf_ann_topk(spark, sf_dir):
    """ANN top-k via a from-scratch IVF index (simsearch.py ivf_topk:
    sampled spherical k-means train → nearest-centroid assignment →
    nprobe probing) over the vector fixture. Golden oracle (centroids are
    engine-defined); recall@5 ≥0.9 vs brute force asserted in
    tests/test_dedup_simsearch.py."""
    from cartwright_spark.operators.simsearch import ivf_topk
    from cartwright_spark.sources.fixtures import fixture_embeddings_pdf
    emb = spark.createDataFrame(fixture_embeddings_pdf()).coalesce(4)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    return ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4) \
        .select("qid", "neighbor_id", "rank")


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing through mapInPandas: documents' text bytes stand
    in for media payloads; the (stub-decoded) feature extraction emits
    sha256 + byte counts — both independently computable by the oracle, so
    the Arrow batch plumbing is value-checked, not just row-counted."""
    from cartwright_spark.operators.multimodal import extract_features
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(F.lit("x/fake").alias("mime"),
                 F.lit(8).cast("int").alias("width"),
                 F.lit(8).cast("int").alias("height"),
                 F.lit(1000).cast("int").alias("duration_ms")).alias("meta"))
    return extract_features(media, fake_decode=True) \
        .select("media_id", "kind", "payload_sha256", "n_bytes")


def q_multimodal_png_decode(spark, sf_dir):
    """Real-codec multimodal path: deterministic rasters → encode_png →
    decode_png (the from-scratch stdlib-zlib PNG codec,
    operators/multimodal.py) inside mapInPandas. Per-image pixel stats
    are closed-form in media_id, so the DuckDB oracle re-derives them in
    pure SQL — the distributed decode is value-checked end to end, not
    just row-counted."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.operators.multimodal import decode_png, encode_png
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    H, W = 16, 12

    def fn(batches):
        y = np.arange(H)[:, None, None]
        x = np.arange(W)[None, :, None]
        c = np.arange(3)[None, None, :]
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            sums, mins, maxs = [], [], []
            for i in ids:
                r = ((int(i) * 31 + y * 7 + x * 3 + c * 11) % 256) \
                    .astype(np.uint8)
                out = decode_png(encode_png(r))
                sums.append(int(out.sum()))
                mins.append(int(out.min()))
                maxs.append(int(out.max()))
            yield pd.DataFrame({
                "media_id": ids,
                "px_sum": np.array(sums, np.int64),
                "px_min": np.array(mins, np.int64),
                "px_max": np.array(maxs, np.int64)})

    return docs.mapInPandas(
        fn, "media_id long, px_sum long, px_min long, px_max long")


def q_multimodal_jpeg_decode(spark, sf_dir):
    """Real-codec multimodal path #2: deterministic rasters →
    encode_jpeg → decode_jpeg (the from-scratch baseline-JPEG codec,
    operators/jpeg.py: Huffman entropy decode, dequant, vectorized
    IDCT, 4:2:0 upsampling, restart markers) inside mapInPandas. JPEG
    is lossy in general, but a grayscale image of 8x8-constant EVEN
    blocks round-trips EXACTLY at quality 50 (see jpeg.py docstring),
    so per-image pixel stats are closed-form in media_id and the DuckDB
    oracle re-derives them in pure SQL — the distributed decode is
    value-checked end to end. restart_interval=1 makes the 32px-wide
    4:2:0 image span 2 MCUs with an RST0 marker between them, so the
    restart path is inside the contract too."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.operators.jpeg import decode_jpeg, encode_jpeg
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    H, W = 16, 32

    def fn(batches):
        by = np.arange(H)[:, None] // 8
        bx = np.arange(W)[None, :] // 8
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            sums, mins, maxs = [], [], []
            for i in ids:
                v = (((int(i) * 37 + by * 17 + bx * 29) % 128) * 2) \
                    .astype(np.uint8)
                rgb = np.repeat(v[:, :, None], 3, axis=2)
                out = decode_jpeg(encode_jpeg(rgb, quality=50,
                                              subsampling="420",
                                              restart_interval=1))
                assert out.shape == (H, W, 3)
                sums.append(int(out.sum()))
                mins.append(int(out.min()))
                maxs.append(int(out.max()))
            yield pd.DataFrame({
                "media_id": ids,
                "px_sum": np.array(sums, np.int64),
                "px_min": np.array(mins, np.int64),
                "px_max": np.array(maxs, np.int64)})

    return docs.mapInPandas(
        fn, "media_id long, px_sum long, px_min long, px_max long")


def q_p8_date_format(spark, sf_dir):
    """P8: date-format predicate — validate `to_timestamp(v, fmt)` over
    event-derived strings in two formats (one valid, one not)."""
    ev = _t(spark, sf_dir, "events")
    s = F.when(F.col("event_id") % 3 == 0,
               F.date_format(F.col("ts"), "yyyy-MM-dd")) \
        .otherwise(F.concat(F.lit("not-a-date-"), F.col("event_id")))
    return (ev.select("event_id", s.alias("v"))
            .withColumn("is_valid",
                        F.try_to_timestamp(F.col("v"), F.lit("yyyy-MM-dd"))
                        .isNotNull().cast("int")))


def q_j4_continent_fuzzy(spark, sf_dir):
    """J4: continent fuzzy membership — region names vs the continent
    gazetteer (names + codes, the reference's *intended* semantics) at
    Levenshtein ratio ≥ 0.85."""
    from cartwright_spark.sources import gazetteers as gz
    regions = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    terms = spark.createDataFrame(
        pd.DataFrame({"term": list(gz.continent_terms())}))
    ln = F.lower(F.trim(F.col("r_name")))
    rt = F.lower(F.trim(F.col("term")))
    ratio = 1.0 - F.levenshtein(ln, rt) / F.greatest(F.length(ln), F.length(rt))
    return (regions.crossJoin(F.broadcast(terms))
            .where(ratio >= 0.85)
            .select("r_regionkey", "r_name", "term",
                    ratio.alias("ratio")))


def q_knn_hex(spark, sf_dir):
    """J7 (H3 variant): kNN via hex k-ring expansion (spatial/knn.py
    knn_join_h3) — rows-only (hex cell ids are engine-defined; exactness
    asserted vs the brute-force oracle in tests/test_spatial_joins.py)."""
    from cartwright_spark.spatial.knn import knn_join_h3
    from cartwright_spark.sources import gazetteers as gz
    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 16)
    q = cust.select(
        F.col("c_custkey").alias("qid"),
        ((F.col("c_custkey") * 41 % 120) - 55.0).alias("lat"),
        ((F.col("c_custkey") * 67 % 340) - 170.0).alias("lon")).coalesce(1)
    cities = gz.cities_pdf().reset_index().rename(columns={"index": "site_id"})
    sites = spark.createDataFrame(cities).coalesce(2)
    return knn_join_h3(q, sites, k=3, res=2, ring_k=2) \
        .select("qid", "site_id", "rank")


def q_incremental_microbatch(spark, sf_dir):
    """§2.9 streaming surface: file-granular incremental micro-batches
    (streaming/incremental.py). Two appends to a source table are consumed
    by two increments; the result is the per-batch aggregate union — a
    third run is a no-op. Deterministic (fixed temp dir derived from
    sf_dir, rebuilt per call); rows-only check."""
    import shutil
    import tempfile

    from cartwright_spark.sources.iceberg_lite import Catalog
    from cartwright_spark.streaming.incremental import incremental_stage
    wd = f"{tempfile.gettempdir()}/cw_entry_incr_{abs(hash(sf_dir)) % 99991}"
    shutil.rmtree(wd, ignore_errors=True)
    cat = Catalog(wd)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    batches = [ev.where(F.col("event_id") % 2 == 0),
               ev.where(F.col("event_id") % 2 == 1)]

    def agg(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"))

    for b in batches:
        cat.write_table(b.repartition(4), "events_src", stage="src")
        snap = incremental_stage(spark, cat, "events_src", "user_rollup", agg)
        assert snap is not None
    assert incremental_stage(spark, cat, "events_src", "user_rollup", agg) \
        is None  # no new files ⇒ no-op
    # appended increments union to the full rollup (exact-sum rounding so
    # the float hash is stable against summation order)
    parts = [cat.load_table(spark, "user_rollup", s["snapshot_id"])
             for s in cat.snapshots("user_rollup")]
    full = parts[0]
    for p in parts[1:]:
        full = full.unionByName(p)
    return full.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_value"), 4).alias("sum_value"))


def q_j9_salted_rollup(spark, sf_dir):
    """J9: two-stage salted aggregation over a deliberately skewed key —
    ~25% of rows share one tile (floored coarse bands). Salting must be
    RESULT-identical to a plain GROUP BY, which is exactly what the oracle
    asserts (spatial/skew.py salted_aggregate; threshold forces the hot
    key onto the salt path)."""
    from cartwright_spark.spatial.skew import salted_aggregate
    pts = _coords(spark, sf_dir)
    # skewed key: band 0 swallows every |lat| < 45 row
    band = F.when(F.abs(F.col("lat")) < 45.0, F.lit(0)) \
        .otherwise(F.floor(F.col("lat") / 10.0).cast("long"))
    df = pts.withColumn("band", band)
    out = salted_aggregate(
        df, "band",
        [("n_points", F.count("*"), "sum"),
         ("lat_min", F.min("lat"), "min"),
         ("lat_max", F.max("lat"), "max")],
        hot_threshold=1000, salt_from="l_orderkey")
    return out.select("band", "n_points", "lat_min", "lat_max")


def q_multimodal_frame_plan(spark, sf_dir):
    """Video frame-sampling plan (multimodal.py frame_sample_plan): one
    (media_id, frame_ts_ms) row per sample instant — pure sequence/explode
    expressions over typed media metadata."""
    from cartwright_spark.operators.multimodal import frame_sample_plan
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(F.lit("x/fake").alias("mime"),
                 F.lit(8).cast("int").alias("width"),
                 F.lit(8).cast("int").alias("height"),
                 (F.col("doc_id") % 7 * 500 + 1500).cast("int")
                 .alias("duration_ms")).alias("meta"))
    return frame_sample_plan(media, every_ms=400)


def q_p10_latlon_dedup(spark, sf_dir):
    """P10: lat/lon resolution pre-step — distinct coordinate pairs, nulls
    dropped, degree→radian conversion (space_resolution.py:9-26 semantics
    as dropDuplicates + na.drop + radians)."""
    pts = _coords(spark, sf_dir).select("lat", "lon") \
        .dropDuplicates(["lat", "lon"]).na.drop()
    return pts.select(
        "lat", "lon",
        F.radians("lat").alias("lat_rad"), F.radians("lon").alias("lon_rad"))


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard refine over candidate pairs (dedup.py
    ngram_jaccard_pairs — the verify step after LSH). Full SQL oracle:
    DuckDB recomputes the distinct-gram sets and |∩|/|∪| directly."""
    from cartwright_spark.operators.dedup import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = docs.where(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"))
    # prune the gram build to participating docs — the join can't infer
    # it (no dynamic pruning through a derived candidate set)
    out = ngram_jaccard_pairs(docs.where(F.col("doc_id") <= 100), cand,
                              "text", "doc_id", n=3)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


def q_corpus_curation(spark, sf_dir):
    """Composed training-data curation pipeline (plans/curation.py):
    exact dedup → quality scoring → language ID → filters. Full SQL
    oracle re-deriving every step (md5 keeper join, the same integer
    counts, the same left-associated score sum, the same marker argmax).
    quality_score rounded to 4dp on both sides for hash stability."""
    from cartwright_spark.plans.curation import curate_documents
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = curate_documents(docs, min_words=10, min_quality=0.5,
                           langs=("en", "es"))
    return out.select("doc_id", "n_words",
                      F.round("quality_score", 4).alias("quality_score"),
                      "lang_detected")


def q_stream_sessionize(spark, sf_dir):
    """§2.9 stateful-streaming surface: gap-based sessionization. The
    contract runs the batch form (streaming/structured.py
    sessionize_batch — window lag → gap breaks → per-session agg); the
    applyInPandasWithState streaming form is asserted equal to it in
    tests/test_structured_streaming.py. Full SQL oracle."""
    from cartwright_spark.streaming.structured import sessionize_batch
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = sessionize_batch(ev, gap_sec=1800.0)
    return out.select(
        "user_id",
        F.round("session_start", 3).alias("session_start"),
        F.round("session_end", 3).alias("session_end"),
        "n_events", F.round("sum_value", 4).alias("sum_value"))


def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (textstats.py): min crc32 over
    8-word grams + whole-doc xxhash64, over the fixture corpus (golden
    oracle: crc32/xxhash64 seeds are Spark-specific). Scale throughput
    for this operator is benched over the real documents table."""
    from cartwright_spark.operators.textstats import fingerprint
    from cartwright_spark.sources.fixtures import near_dup_corpus_pdf
    docs = spark.createDataFrame(near_dup_corpus_pdf()).coalesce(4)
    return fingerprint(docs).select("doc_id", "fp_min_gram", "fp_doc")


def q_winnow_fingerprint(spark, sf_dir):
    """MOSS winnowing fingerprints (operators/winnow.py
    winnow_fingerprints, Schleimer et al. SIGMOD 2003): in every
    window of 4 consecutive 8-gram hashes keep the minimum (rightmost
    tie) — the guaranteed-density local fingerprint set behind
    plagiarism/near-dup detection. Hashes are position-invariant
    polynomial k-gram hashes built from CDC-style absolute-position
    prefix sums normalized by a broadcast modular-inverse power table,
    so the DuckDB oracle re-derives every selected (pos, fp) with the
    same exact int64 arithmetic, enumerating windows explicitly."""
    from cartwright_spark.operators.winnow import winnow_fingerprints
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprints(docs, k=8, w=4, max_len=800)


def q_deletion_join(spark, sf_dir):
    """SymSpell deletion-neighbourhood edit-distance self-join
    (operators/fuzzyjoin.py deletion_join): every unordered pair of
    distinct vocabulary terms with levenshtein <= 1. Candidates =
    equi-join on the <=k-deletion variant strings (map-only
    posexplode generation, no UDF), refine = exact JVM levenshtein.
    The documents vocabulary is 31 terms, so the vocabulary is
    synthesized arithmetic-from-keys: customer keys mod 3000 mapped
    digit->letter give ~min(|customer|,3000) alphabetic terms with
    dense distance-1 neighbourhoods (substitutions, end/middle
    insertions). Oracle = brute-forced definition with the sound
    |len(a)-len(b)| <= k length window."""
    from cartwright_spark.operators.fuzzyjoin import deletion_join
    cust = _t(spark, sf_dir, "customer")
    terms = cust.select(
        F.translate((F.col("c_custkey") % 3000).cast("string"),
                    "0123456789", "abcdefghij").alias("term"))
    return deletion_join(terms, "term", k=1)


def q_prefix_jaccard(spark, sf_dir):
    """EXACT all-pairs word-3-gram Jaccard >= 0.5 self-join over the
    documents corpus via AllPairs prefix filtering (dedup.py
    prefix_jaccard_join): complete candidates from an equi-join on the
    rarest-first prefix grams (provably contains every qualifying
    pair), exact array_intersect refine. The complete/deterministic
    counterpart to minhash_lsh's probabilistic recall. Oracle =
    brute-forced definition over all pairs."""
    from cartwright_spark.operators.dedup import prefix_jaccard_join
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = prefix_jaccard_join(docs, threshold=0.5, n=3)
    return out.select("id_a", "id_b", "inter", "union_sz",
                      F.round("jaccard", 6).alias("jaccard"))


def q_boilerplate_lines(spark, sf_dir):
    """CCNet-style boilerplate line removal (hygiene.py
    remove_boilerplate_lines): lines whose normalized form appears in
    >= 50 distinct documents are dropped; survivors rejoin in original
    order. The corpus is single-line, so multi-line pages are
    synthesized arithmetic-from-keys: body text + one of three footers
    (uppercased on even ids — exercises trim+lower normalization;
    repeated IN-page on ids % 7 == 0 — exercises distinct-doc df) + a
    per-doc unique line. concat_ws skips the NULL of the conditional
    repeat in BOTH engines."""
    from cartwright_spark.operators.hygiene import remove_boilerplate_lines
    docs = _t(spark, sf_dir, "documents")
    footers = F.array(F.lit("Copyright 2024 Example Corp"),
                      F.lit("ACCEPT ALL COOKIES"),
                      F.lit("Subscribe to our newsletter"))
    f = F.element_at(footers, (F.col("doc_id") % 3 + 1).cast("int"))
    f = F.when(F.col("doc_id") % 2 == 0, F.upper(f)).otherwise(f)
    pages = docs.select(
        "doc_id",
        F.concat_ws("\n", "text", f,
                    F.when(F.col("doc_id") % 7 == 0, f),
                    F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
                    ).alias("text"))
    return remove_boilerplate_lines(pages, min_doc_freq=50)


def q_funnel_steps(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase with a
    2-hour window anchored at the first view (operators/funnel.py
    window_funnel — ClickHouse windowFunnel semantics, greedy earliest
    match, ONE user shuffle). Oracle = the sequential-min definition
    as chained per-step joins."""
    from cartwright_spark.operators.funnel import window_funnel
    ev = _t(spark, sf_dir, "events")
    return window_funnel(ev, ["view", "click", "purchase"],
                         window_sec=7200)


def q_convex_hull(spark, sf_dir):
    """Distributed convex hull per nation (spatial/hull.py convex_hull
    — hull-of-hulls: JVM per-(grp,partition,x) y-extremes with map-side
    combine, then monotone chain per partition, then per group). Strict
    vertices only, so the result is a pure function of the point set.
    Oracle = the exact integer chord characterization: p is an
    upper-hull vertex iff no chord between points left and right of it
    passes on-or-above p (symmetrically for the lower hull)."""
    from cartwright_spark.spatial.hull import convex_hull
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").cast("bigint").alias("grp"),
        ((F.col("c_custkey") * 37) % 201 - 100).alias("x"),
        ((F.col("c_custkey") * 73) % 201 - 100).alias("y"))
    return convex_hull(pts)


def q_isotonic_fit(spark, sf_dir):
    """Distributed isotonic regression per nation (operators/isotonic.py
    isotonic_fit — parallel PAVA: map-side (grp,x) pre-pooling,
    range-partitioned per-slice PAVA, pool-level re-PAVA; pooling
    decisions are exact integer cross-multiplications). y = a noisy
    increasing ramp so pools form where the noise dips. Oracle = the
    max-min identity fit(i) = max_{j<=i} min_{k>=i} mean(y_j..y_k)
    evaluated with window functions, pools recovered as runs of equal
    fitted value (adjacent pool means are strictly increasing, so the
    value-grouping is exact); fitted recomputed from pool sums so both
    engines perform the identical BIGINT/BIGINT double division."""
    from cartwright_spark.operators.isotonic import isotonic_fit
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").alias("grp"),
        (F.col("c_custkey") % 101).alias("x"),
        (3 * (F.col("c_custkey") % 101)
         + (F.col("c_custkey") * 13) % 41 - 20).alias("y"))
    out = isotonic_fit(pts)
    return out.select("grp", "x_lo", "x_hi", "n_pts", "y_sum",
                      F.round("fitted", 7).alias("fitted"))


def q_gini_concentration(spark, sf_dir):
    """Gini concentration of line-item spend per return flag
    (operators/inequality.py gini_concentration): exact-integer
    numerator/denominator from ONE rank window whose partitioning the
    following groupBy reuses. Values = extended price in cents —
    l_extendedprice is DOUBLE here, so round() BEFORE the bigint cast
    (Spark's double->bigint cast truncates, DuckDB's rounds; an
    explicit round makes both engines cast the same integer-valued
    double)."""
    from cartwright_spark.operators.inequality import gini_concentration
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"))
    out = gini_concentration(li)
    # num/den are DECIMAL(38,0) (int64 overflows at the 10x bench);
    # project the bigint-safe columns + the double coefficient
    return out.select("grp", "n", "total",
                      F.round("gini", 7).alias("gini"))


def q_rasterize_polygons(spark, sf_dir):
    """Vector -> raster (spatial/raster.py rasterize_polygons): all
    unit cells whose center is inside the polygon, even-odd over all
    rings. Polygons synthesized arithmetic-from-keys per nation:
    non-convex L-shapes, with a square hole on even ids (exercises the
    multi-ring parity path). Exact x2-scaled integer ray cast in both
    engines — the oracle replays the identical strict-crossing
    cross-multiplication per (cell, edge)."""
    from cartwright_spark.spatial.raster import rasterize_polygons
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("pid"))
    n = n.select(
        "pid",
        (10 + (F.col("pid") % 5) * 3).alias("s"),
        ((F.col("pid") * 17) % 50).alias("cx"),
        ((F.col("pid") * 29) % 50).alias("cy"))
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    outer = n.select(
        "pid",
        F.array(cx, cx + 2 * s, cx + 2 * s, cx + s, cx + s, cx)
        .alias("xs"),
        F.array(cy, cy, cy + s, cy + s, cy + 2 * s, cy + 2 * s)
        .alias("ys"))
    hole = n.where(F.col("pid") % 2 == 0).select(
        "pid",
        F.array(cx + 2, cx + 5, cx + 5, cx + 2).alias("xs"),
        F.array(cy + 2, cy + 2, cy + 5, cy + 5).alias("ys"))
    return rasterize_polygons(outer.unionByName(hole), id_col="pid")


def q_suffix_array(spark, sf_dir):
    """Distributed suffix array by prefix doubling (operators/suffix.py
    suffix_array over functions/scan.py global_dense_rank — no
    single-partition window anywhere). Input: the first 8000 chars of
    the newline-joined doc_id-ordered corpus string, exploded to (i,
    char) rows with global offsets from a metadata-sized length
    collect. Oracle = the definition: rank of substr(str, i) under
    DuckDB's binary collation (ASCII corpus, byte order == F.ascii
    order). Rounds auto-stop when all ranks are distinct. The oracle's
    string_agg(text, chr(10)) separates BETWEEN docs only, so the
    engine clamps the char filter to min(cap, total_len) — excluding
    the appended separator after the LAST doc, keeping the two strings
    identical even when the whole corpus is shorter than the cap."""
    from cartwright_spark.operators.suffix import suffix_array
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cap = 8000
    lens = docs.select("doc_id", F.length("text").alias("n")).collect()
    offs, run = {}, 0
    for r in sorted(lens, key=lambda r: r.doc_id):
        offs[r.doc_id] = run
        run += r.n + 1  # +1 for the separator
    off_df = spark.createDataFrame(
        [(int(d), int(o)) for d, o in offs.items()], ["doc_id", "off"])
    chars = (docs.join(F.broadcast(off_df), "doc_id")
             .where(F.col("off") < cap)
             .select("off", F.posexplode(
                 F.split(F.concat("text", F.lit("\n")), "")
             ).alias("p", "c"))
             .select((F.col("off") + F.col("p") + 1).alias("i"), "c")
             .where((F.col("i") <= min(cap, run - 1))
                    & (F.col("c") != "")))
    return suffix_array(chars)


def _raster_ctes_sql() -> str:
    """Shared WITH-body for the rasterize_polygons oracle and the
    dissolve_boundary composition (n .. hits CTEs)."""
    return """
            WITH n AS (
              SELECT CAST(n_nationkey AS BIGINT) AS pid,
                     CAST(10 + (n_nationkey % 5) * 3 AS BIGINT) AS s,
                     CAST((n_nationkey * 17) % 50 AS BIGINT) AS cx,
                     CAST((n_nationkey * 29) % 50 AS BIGINT) AS cy
              FROM nation
            ),
            verts AS (
              SELECT pid, 0 AS ring, t.i, 6 AS nv,
                     cx + CASE t.i WHEN 0 THEN 0 WHEN 1 THEN 2*s
                                   WHEN 2 THEN 2*s WHEN 3 THEN s
                                   WHEN 4 THEN s ELSE 0 END AS vx,
                     cy + CASE t.i WHEN 0 THEN 0 WHEN 1 THEN 0
                                   WHEN 2 THEN s WHEN 3 THEN s
                                   WHEN 4 THEN 2*s ELSE 2*s END AS vy
              FROM n, unnest([0, 1, 2, 3, 4, 5]) AS t(i)
              UNION ALL
              SELECT pid, 1, t.i, 4,
                     cx + CASE t.i WHEN 0 THEN 2 WHEN 1 THEN 5
                                   WHEN 2 THEN 5 ELSE 2 END,
                     cy + CASE t.i WHEN 0 THEN 2 WHEN 1 THEN 2
                                   WHEN 2 THEN 5 ELSE 5 END
              FROM n, unnest([0, 1, 2, 3]) AS t(i)
              WHERE pid % 2 = 0
            ),
            edges AS (
              SELECT a.pid, a.vx AS x1, a.vy AS y1,
                     b.vx AS x2, b.vy AS y2
              FROM verts a JOIN verts b
                ON a.pid = b.pid AND a.ring = b.ring
               AND b.i = (a.i + 1) % a.nv
            ),
            cells AS (
              SELECT pid,
                     unnest(generate_series(cx, cx + 2*s - 1)) AS gx,
                     cy, s
              FROM n
            ),
            cells2 AS (
              SELECT pid, gx,
                     unnest(generate_series(cy, cy + 2*s - 1)) AS gy
              FROM cells
            ),
            hits AS (
              SELECT c.pid, c.gx, c.gy,
                     sum(CASE WHEN ((2*e.y1 > 2*c.gy + 1)
                                    <> (2*e.y2 > 2*c.gy + 1))
                               AND CASE WHEN e.y2 > e.y1
                                   THEN (2*c.gx + 1 - 2*e.x1)
                                          * (2*e.y2 - 2*e.y1)
                                        < (2*c.gy + 1 - 2*e.y1)
                                          * (2*e.x2 - 2*e.x1)
                                   ELSE (2*c.gx + 1 - 2*e.x1)
                                          * (2*e.y2 - 2*e.y1)
                                        > (2*c.gy + 1 - 2*e.y1)
                                          * (2*e.x2 - 2*e.x1)
                                   END
                              THEN 1 ELSE 0 END) AS k
              FROM cells2 c JOIN edges e ON c.pid = e.pid
              GROUP BY 1, 2, 3
            )"""


def _dissolve_oracle_sql() -> str:
    from cartwright_spark.spatial.contour import case_segments_sql
    return _raster_ctes_sql() + f""",
        rast AS (
          SELECT pid, gx, gy FROM hits WHERE k % 2 = 1
        ),
        mask AS (
          SELECT DISTINCT gx AS x, gy AS y, CAST(1 AS BIGINT) AS v
          FROM rast
        ),
        mcorner AS (
          SELECT m.x - d.ox AS bx, m.y - d.oy AS by, d.k, m.v
          FROM mask m,
               (VALUES (0, 0, 0), (1, 0, 1), (1, 1, 2), (0, 1, 3))
                 AS d(ox, oy, k)
        ),
        mblocks AS (
          SELECT bx, by,
                 coalesce(max(CASE WHEN k = 0 THEN v END), 0) AS v0,
                 coalesce(max(CASE WHEN k = 1 THEN v END), 0) AS v1,
                 coalesce(max(CASE WHEN k = 2 THEN v END), 0) AS v2,
                 coalesce(max(CASE WHEN k = 3 THEN v END), 0) AS v3
          FROM mcorner GROUP BY 1, 2
        ),
        mcased AS (
          SELECT bx, by,
                 CAST((CASE WHEN v0 >= 1 THEN 1 ELSE 0 END)
                      + 2 * (CASE WHEN v1 >= 1 THEN 1 ELSE 0 END)
                      + 4 * (CASE WHEN v2 >= 1 THEN 1 ELSE 0 END)
                      + 8 * (CASE WHEN v3 >= 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS case_id
          FROM mblocks
        )
        SELECT c.bx, c.by, c.case_id,
               2 * c.bx + segs.dx1 AS x1, 2 * c.by + segs.dy1 AS y1,
               2 * c.bx + segs.dx2 AS x2, 2 * c.by + segs.dy2 AS y2
        FROM mcased c JOIN {case_segments_sql()}
          ON c.case_id = segs.case_id
        WHERE c.case_id > 0 AND c.case_id < 15
    """


def _contour_oracle_sql() -> str:
    from cartwright_spark.spatial.contour import case_segments_sql
    return f"""
        WITH pts AS (
          SELECT CAST((c_custkey * 7) % 40 AS BIGINT) AS x,
                 CAST((c_custkey * 11) % 40 AS BIGINT) AS y,
                 CAST(count(*) AS BIGINT) AS v
          FROM customer GROUP BY 1, 2
        ),
        corner AS (
          SELECT p.x - d.ox AS bx, p.y - d.oy AS by, d.k, p.v
          FROM pts p,
               (VALUES (0, 0, 0), (1, 0, 1), (1, 1, 2), (0, 1, 3))
                 AS d(ox, oy, k)
        ),
        blocks AS (
          SELECT bx, by,
                 coalesce(max(CASE WHEN k = 0 THEN v END), 1) AS v0,
                 coalesce(max(CASE WHEN k = 1 THEN v END), 1) AS v1,
                 coalesce(max(CASE WHEN k = 2 THEN v END), 1) AS v2,
                 coalesce(max(CASE WHEN k = 3 THEN v END), 1) AS v3
          FROM corner GROUP BY 1, 2
        ),
        cased AS (
          SELECT bx, by,
                 CAST((CASE WHEN v0 >= 2 THEN 1 ELSE 0 END)
                      + 2 * (CASE WHEN v1 >= 2 THEN 1 ELSE 0 END)
                      + 4 * (CASE WHEN v2 >= 2 THEN 1 ELSE 0 END)
                      + 8 * (CASE WHEN v3 >= 2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS case_id
          FROM blocks
        )
        SELECT c.bx, c.by, c.case_id,
               2 * c.bx + segs.dx1 AS x1, 2 * c.by + segs.dy1 AS y1,
               2 * c.bx + segs.dx2 AS x2, 2 * c.by + segs.dy2 AS y2
        FROM cased c JOIN {case_segments_sql()}
          ON c.case_id = segs.case_id
        WHERE c.case_id > 0 AND c.case_id < 15
    """


def _dp_oracle_sql(eps2: int = 900, rounds: int = 12) -> str:
    """Unrolled round-synchronous Douglas-Peucker: per-round
    MATERIALIZED CTEs (plain chained CTEs inline exponentially in
    DuckDB — the pagerank-oracle lesson)."""
    m = ("CASE WHEN (ex-sx)*(ex-sx)+(ey-sy)*(ey-sy) = 0 "
         "THEN (x-sx)*(x-sx)+(y-sy)*(y-sy) "
         "ELSE ((ex-sx)*(y-sy)-(ey-sy)*(x-sx))"
         "*((ex-sx)*(y-sy)-(ey-sy)*(x-sx)) END")
    thr = (f"CASE WHEN (ex-sx)*(ex-sx)+(ey-sy)*(ey-sy) = 0 THEN {eps2} "
           f"ELSE {eps2}*((ex-sx)*(ex-sx)+(ey-sy)*(ey-sy)) END")
    parts = [f"""
        WITH p AS (
          SELECT CAST(c_custkey % 40 AS BIGINT) AS tid,
                 CAST(c_custkey AS BIGINT) AS seq,
                 CAST((c_custkey * 13) % 200 AS BIGINT) AS x,
                 CAST((c_custkey * 29) % 200 AS BIGINT) AS y
          FROM customer
        ),
        ends AS (
          SELECT tid, min(seq) AS ss, max(seq) AS es,
                 arg_min(x, seq) AS sx, arg_min(y, seq) AS sy,
                 arg_max(x, seq) AS ex, arg_max(y, seq) AS ey
          FROM p GROUP BY 1
        ),
        kept_0 AS (
          SELECT p.tid, p.seq, p.x, p.y
          FROM p JOIN ends e ON p.tid = e.tid
          WHERE p.seq = e.ss OR p.seq = e.es
        ),
        active_0 AS MATERIALIZED (
          SELECT p.tid, p.seq, p.x, p.y,
                 e.ss, e.es, e.sx, e.sy, e.ex, e.ey
          FROM p JOIN ends e ON p.tid = e.tid
          WHERE p.seq > e.ss AND p.seq < e.es
        )"""]
    for k in range(rounds):
        parts.append(f""",
        best_{k} AS MATERIALIZED (
          SELECT tid, ss, es, seq AS mseq, x AS mx, y AS my FROM (
            SELECT s.*, row_number() OVER (
              PARTITION BY tid, ss, es
              ORDER BY metric DESC, seq ASC) AS rn
            FROM (SELECT a.*, {m} AS metric, {thr} AS thr
                  FROM active_{k} a) s
          ) WHERE rn = 1 AND metric > thr
        ),
        kept_{k + 1} AS (
          SELECT * FROM kept_{k}
          UNION ALL
          SELECT tid, mseq, mx, my FROM best_{k}
        ),
        active_{k + 1} AS MATERIALIZED (
          SELECT a.tid, a.seq, a.x, a.y,
            CASE WHEN a.seq > b.mseq THEN b.mseq ELSE a.ss END AS ss,
            CASE WHEN a.seq < b.mseq THEN b.mseq ELSE a.es END AS es,
            CASE WHEN a.seq > b.mseq THEN b.mx ELSE a.sx END AS sx,
            CASE WHEN a.seq > b.mseq THEN b.my ELSE a.sy END AS sy,
            CASE WHEN a.seq < b.mseq THEN b.mx ELSE a.ex END AS ex,
            CASE WHEN a.seq < b.mseq THEN b.my ELSE a.ey END AS ey
          FROM active_{k} a
          JOIN best_{k} b
            ON a.tid = b.tid AND a.ss = b.ss AND a.es = b.es
          WHERE a.seq <> b.mseq
        )""")
    parts.append(f"""
        SELECT tid, seq, x, y FROM kept_{rounds}
        UNION ALL
        SELECT tid, seq, x, y FROM active_{rounds}""")
    return "".join(parts)


def q_douglas_peucker(spark, sf_dir):
    """Trajectory simplification (spatial/simplify.py douglas_peucker):
    round-synchronous DP over interval state rows — no range join,
    each round one argmax groupBy + one split join; exact integer
    cross^2 > eps2*len2 comparisons, (max metric, min seq) tie-break,
    depth-cap keeps unproven points. Oracle = the same 12 rounds
    unrolled into MATERIALIZED CTEs."""
    from cartwright_spark.spatial.simplify import douglas_peucker
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select((F.col("c_custkey") % 40).alias("tid"),
                      F.col("c_custkey").alias("seq"),
                      ((F.col("c_custkey") * 13) % 200).alias("x"),
                      ((F.col("c_custkey") * 29) % 200).alias("y"))
    return douglas_peucker(pts, eps2=900, max_depth=12)


def q_raster_overlay(spark, sf_dir):
    """Pairwise polygon overlay (spatial/raster.py raster_overlay):
    intersection/union areas of the 25 L-shape-with-hole nation
    polygons on the unit-cell raster — cell-exact, one co-location
    join on the cell key after the shared even-odd rasterize. Oracle
    reuses the rasterize CTEs and self-joins the inside mask."""
    from cartwright_spark.spatial.raster import raster_overlay
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("pid"))
    n = n.select(
        "pid",
        (10 + (F.col("pid") % 5) * 3).alias("s"),
        ((F.col("pid") * 17) % 50).alias("cx"),
        ((F.col("pid") * 29) % 50).alias("cy"))
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    outer = n.select(
        "pid",
        F.array(cx, cx + 2 * s, cx + 2 * s, cx + s, cx + s, cx)
        .alias("xs"),
        F.array(cy, cy, cy + s, cy + s, cy + 2 * s, cy + 2 * s)
        .alias("ys"))
    hole = n.where(F.col("pid") % 2 == 0).select(
        "pid",
        F.array(cx + 2, cx + 5, cx + 5, cx + 2).alias("xs"),
        F.array(cy + 2, cy + 2, cy + 5, cy + 5).alias("ys"))
    return raster_overlay(outer.unionByName(hole), id_col="pid")


def q_dissolve_boundary(spark, sf_dir):
    """Polygon UNION via raster dissolve + re-vectorization — the
    composed roundtrip: rasterize the 25 L-shape-with-hole nation
    polygons (spatial/raster.py), dissolve overlaps with one DISTINCT
    on the cell mask, then extract the union's vector boundary with
    marching squares (spatial/contour.py) at level 1. This is the
    standard scalable cascaded-union substitute: exact on the cell
    grid, one extra shuffle (the distinct) over the two primitives.
    Output columns are the contour schema minus per-polygon identity
    (the union has none)."""
    from cartwright_spark.spatial.contour import marching_squares
    from cartwright_spark.spatial.raster import rasterize_polygons
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("pid"))
    n = n.select(
        "pid",
        (10 + (F.col("pid") % 5) * 3).alias("s"),
        ((F.col("pid") * 17) % 50).alias("cx"),
        ((F.col("pid") * 29) % 50).alias("cy"))
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    outer = n.select(
        "pid",
        F.array(cx, cx + 2 * s, cx + 2 * s, cx + s, cx + s, cx)
        .alias("xs"),
        F.array(cy, cy, cy + s, cy + s, cy + 2 * s, cy + 2 * s)
        .alias("ys"))
    hole = n.where(F.col("pid") % 2 == 0).select(
        "pid",
        F.array(cx + 2, cx + 5, cx + 5, cx + 2).alias("xs"),
        F.array(cy + 2, cy + 2, cy + 5, cy + 5).alias("ys"))
    cells = rasterize_polygons(outer.unionByName(hole), id_col="pid")
    mask = (cells.select("gx", "gy").distinct()
            .select(F.col("gx").alias("x"), F.col("gy").alias("y"),
                    F.lit(1).alias("v")))
    return marching_squares(mask, level=1)


def _compact_oracle_sql(z_max: int = 7) -> str:
    parts = [_raster_ctes_sql() + f""",
        rast AS (SELECT pid, gx, gy FROM hits WHERE k % 2 = 1),
        l{z_max} AS MATERIALIZED (
          SELECT DISTINCT gx AS tx, gy AS ty FROM rast
        )"""]
    for z in range(z_max, 0, -1):
        parts.append(f""",
        p{z} AS MATERIALIZED (
          SELECT tx // 2 AS px, ty // 2 AS py
          FROM l{z} GROUP BY 1, 2 HAVING count(*) = 4
        ),
        k{z} AS (
          SELECT CAST({z} AS BIGINT) AS z, tx, ty FROM l{z} a
          WHERE NOT EXISTS (
            SELECT 1 FROM p{z} p
            WHERE p.px = a.tx // 2 AND p.py = a.ty // 2)
        ),
        l{z - 1} AS MATERIALIZED (
          SELECT px AS tx, py AS ty FROM p{z}
        )""")
    union = "\n        UNION ALL\n        ".join(
        f"SELECT z, tx, ty FROM k{z}" for z in range(z_max, 0, -1))
    parts.append(f"""
        {union}
        UNION ALL
        SELECT CAST(0 AS BIGINT) AS z, tx, ty FROM l0""")
    return "".join(parts)


def q_compact_cells(spark, sf_dir):
    """Hierarchical tile compaction of the dissolved polygon-union
    mask (spatial/tiles.py compact_cells): complete 4-sibling groups
    promote to parents recursively -> the minimal exact cover (H3
    compactCells / S2 CellUnion normalization on the quadtree). One
    counting groupBy + anti-join per level. Oracle = the levels
    unrolled into MATERIALIZED CTEs over the shared rasterize CTEs."""
    from cartwright_spark.spatial.raster import rasterize_polygons
    from cartwright_spark.spatial.tiles import compact_cells
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("pid"))
    n = n.select(
        "pid",
        (10 + (F.col("pid") % 5) * 3).alias("s"),
        ((F.col("pid") * 17) % 50).alias("cx"),
        ((F.col("pid") * 29) % 50).alias("cy"))
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    outer = n.select(
        "pid",
        F.array(cx, cx + 2 * s, cx + 2 * s, cx + s, cx + s, cx)
        .alias("xs"),
        F.array(cy, cy, cy + s, cy + s, cy + 2 * s, cy + 2 * s)
        .alias("ys"))
    hole = n.where(F.col("pid") % 2 == 0).select(
        "pid",
        F.array(cx + 2, cx + 5, cx + 5, cx + 2).alias("xs"),
        F.array(cy + 2, cy + 2, cy + 5, cy + 5).alias("ys"))
    cells = rasterize_polygons(outer.unionByName(hole), id_col="pid")
    mask = cells.select(F.col("gx").alias("tx"), F.col("gy").alias("ty"))
    return compact_cells(mask, z_max=7)


def q_contour_segments(spark, sf_dir):
    """Raster -> vector: marching-squares isoline at level 2 over the
    customer-count grid (spatial/contour.py marching_squares — ONE
    corner-explode shuffle, broadcast 16-case literal segment dim,
    exact x2-scaled midpoint geometry; saddle convention fixed). The
    oracle consumes the SAME literal case table via
    case_segments_sql()."""
    from cartwright_spark.spatial.contour import marching_squares
    cust = _t(spark, sf_dir, "customer")
    grid = (cust.select(((F.col("c_custkey") * 7) % 40).alias("x"),
                        ((F.col("c_custkey") * 11) % 40).alias("y"))
            .groupBy("x", "y").agg(F.count("*").alias("v")))
    return marching_squares(grid, level=2)


def q_cusum_changepoint(spark, sf_dir):
    """Per-user mean-shift change point over the event stream
    (operators/changepoint.py cusum_changepoint): integer-exact CUSUM
    T_k = n*S_k - k*S_n, argmax |T_k| with smallest-k tie-break, ONE
    user-key window + a partitioning-reusing argmax. Values in cents
    (round before bigint cast — the double->bigint trunc/round engine
    difference)."""
    from cartwright_spark.operators.changepoint import cusum_changepoint
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("grp"), "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("x"))
    out = cusum_changepoint(ev)
    return out.select("grp", "n", "k_star", "ts_split", "stat",
                      F.round("shift", 7).alias("shift"))


def q_cdc_dedup(spark, sf_dir):
    """Content-defined chunking + cross-doc duplicated-span inventory
    (operators/cdc.py): rolling-hash boundaries as pure window
    arithmetic over a broadcast modpow table (p=31, M=1e9+7, w=16,
    h%64==0), chunks reassembled and md5'd in the same doc-key
    shuffle; rollup = one map-side-combinable groupBy on chunk hash.
    Oracle rebuilds the identical hash chain with a RECURSIVE powers
    CTE."""
    from cartwright_spark.operators.cdc import cdc_dedup_stats
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_dedup_stats(docs)


def q_psi_drift(spark, sf_dir):
    """Population Stability Index drift per event type between the
    first and second half of the event month (operators/drift.py
    psi_drift): ONE (group, bucket) shuffle, buckets densified to all
    20 bins (empty buckets still contribute under add-one smoothing),
    totals from the metadata-scale rollup window. ln on bit-identical
    double ratios in both engines."""
    from cartwright_spark.operators.drift import psi_drift
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.col("value").alias("v"),
        F.expr("ts < timestamp'2024-01-16'").alias("is_ref"))
    out = psi_drift(ev, value_col="v", bin_width=5.0, n_bins=20)
    return out.select("grp", "n_ref", "n_cur",
                      F.round("psi", 7).alias("psi"))


def q_template_groups(spark, sf_dir):
    """DOM-structure template detection (operators/template.py): pages
    synthesized from 5 fixed CMS-style skeletons with per-doc text
    inside — the fingerprint (ordered opening-tag names, md5) must
    collapse the corpus to exactly the 5 structural groups regardless
    of text. Pure codegen: regexp_extract_all + concat_ws + md5; one
    signature shuffle; the share denominator is a broadcast scalar.
    Oracle rebuilds byte-identical HTML and replays the same regex +
    md5 in DuckDB."""
    from cartwright_spark.operators.template import (
        dom_fingerprint,
        template_stats,
    )
    docs = _t(spark, sf_dir, "documents")
    t = F.substring("text", 1, 40)
    d = F.col("doc_id") % 5
    html = (
        F.when(d == 0, F.concat(
            F.lit('<html><head><title>t</title></head><body><h1>'), t,
            F.lit('</h1><p>p</p></body></html>')))
        .when(d == 1, F.concat(
            F.lit('<html><body><div><p>'), t,
            F.lit('</p><p>m</p></div><footer>f</footer></body></html>')))
        .when(d == 2, F.concat(
            F.lit('<html><body><ul><li>'), t,
            F.lit('</li><li>b</li><li>c</li></ul></body></html>')))
        .when(d == 3, F.concat(
            F.lit('<html><body><table><tr><td>'), t,
            F.lit('</td><td>x</td></tr></table></body></html>')))
        .otherwise(F.concat(
            F.lit('<html><body><article><section><p>'), t,
            F.lit('</p></section><aside>a</aside></article></body></html>'))))
    pages = docs.select("doc_id", html.alias("html"))
    return template_stats(dom_fingerprint(pages))


def _html_table_pages(spark, sf_dir):
    """Synthesize one Common-Crawl-style page per document carrying two
    <table>s: a header+2-data-row grid whose columns are a station string,
    a latitude, and a year (all values integer arithmetic on doc_id so the
    DuckDB oracle rebuilds byte-identical HTML with || concatenation), and
    a second table exercising nested tags + entities in cells."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    lat1 = (d % 181 - 90).cast("string")
    lat2 = F.concat(((d * 7) % 179 - 89).cast("string"),
                    F.lit("."), (d % 10).cast("string"))
    yr1 = (d % 301 + 1800).cast("string")
    yr2 = ((d * 3) % 301 + 1800).cast("string")
    html = F.concat(
        F.lit('<html><body><h1>doc</h1><table class="d"><tr><th>station'
              '</th><th>lat</th><th>year</th></tr><tr><td>st-'),
        d.cast("string"),
        F.lit("</td><td>"), lat1, F.lit("</td><td>"), yr1,
        F.lit("</td></tr><tr><td>st &amp; co</td><td>"), lat2,
        F.lit("</td><td>"), yr2,
        F.lit("</td></tr></table><p>noise</p><table><tr>"
              "<td> <b>bold</b> cell </td><td>42.5</td></tr></table>"
              "</body></html>"))
    return docs.select("doc_id", html.alias("html"))


def q_html_table_cells(spark, sf_dir):
    """HTML <table> extraction into a (doc, table, row, col, cell) grid
    (operators/tables.py extract_html_tables) — the bridge from raw crawl
    HTML to Cartwright's tabular classifier (the reference reads
    already-tabular CSVs, cartwright/categorize.py:48; a web corpus
    carries its tables inside page HTML). Whole chain is JVM
    regexp_extract_all + posexplode, zero Python; the oracle replays the
    identical RE2-portable regex cascade with generate_subscripts/unnest
    and the shared extract.py entity/whitespace cleanup."""
    from cartwright_spark.operators.tables import extract_html_tables
    out = extract_html_tables(_html_table_pages(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("table_idx").cast("long").alias("table_idx"),
        F.col("row_idx").cast("long").alias("row_idx"),
        F.col("col_idx").cast("long").alias("col_idx"),
        "cell")


def q_html_table_profile(spark, sf_dir):
    """Cartwright-style per-column profile + category over the extracted
    HTML table cells (operators/tables.py profile_table_columns): for each
    (doc, table, col) count full-match numeric / latitude-range / year
    cells, then the all-rows threshold cascade picks the most specific
    label (latitude > year > number > string) — the reference's validator
    cascade (cartwright/category_helpers.py lat/year rules) applied to
    crawl-extracted tables. One partial-agg groupBy; no skew beyond real
    giant tables."""
    from cartwright_spark.operators.tables import (
        extract_html_tables,
        profile_table_columns,
    )
    cells = extract_html_tables(_html_table_pages(spark, sf_dir))
    prof = profile_table_columns(cells)
    return prof.select(
        "doc_id",
        F.col("table_idx").cast("long").alias("table_idx"),
        F.col("col_idx").cast("long").alias("col_idx"),
        "n_cells", "n_numeric", "n_lat", "n_year", "category")


_ANCHOR_WORDS = ("climate", "data", "maps", "open", "news", "search",
                 "wiki", "shop", "travel", "sports")


def _anchor_pages(spark, sf_dir):
    """Pages whose two <a> anchors carry deterministic word content
    (doc_id-indexed picks from _ANCHOR_WORDS, a nested <b>, a stopword,
    and an &amp; entity) so the anchor-text cleanup + term split is
    value-checked, not just counted."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    words = F.array(*[F.lit(w) for w in _ANCHOR_WORDS])

    def pick(expr):
        return F.element_at(words, (expr % 10 + 1).cast("int"))

    sid = did.cast("string")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".com/p/"),
                   sid)
    html = F.concat(
        F.lit('<html><a href="http://www.src'),
        ((did + 3) % 20).cast("string"),
        F.lit(".example.com:80/x/"), (did % 13).cast("string"),
        F.lit('" class="l"><b>'), pick(did),
        F.lit("</b> the "), pick(did * 3 + 1),
        F.lit(' guide</a><p><a href="https://news.src'),
        ((did + 7) % 20).cast("string"),
        F.lit('.co.uk:443/y#top">'), pick(did * 7 + 2),
        F.lit(" &amp; "), pick(did + 5),
        F.lit(" news</a></html>"))
    return d.select("doc_id", url.alias("url"), html.alias("html"))


def q_kmv_intersection(spark, sf_dir):
    """KMV set-operation estimates between two corpus slices
    (operators/sketch.py kmv_set_estimate): union / Jaccard /
    intersection cardinality of the URGENT vs HIGH customer sets from
    two mergeable bottom-64 sketches — per-slice salted sketch builds,
    then everything downstream is <= 2k rows (metadata scale). Oracle
    replays the portable md5-derived 32-bit hash, the bottom-k merge,
    and the (k-1)*2^32/h_k estimate arithmetic verbatim."""
    from cartwright_spark.operators.sketch import kmv_set_estimate
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_custkey")
    b = orders.where(F.col("o_orderpriority") == "2-HIGH") \
        .select("o_custkey")
    return kmv_set_estimate(a, b, "o_custkey", k=64)


def q_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (operators/keywords.py rake_keywords):
    stopword/punctuation-delimited candidate phrases, corpus word
    degree/freq stats (one algebraic word rollup), integer micro-unit
    word scores ((degree*1e6) div freq — no float sum-order divergence),
    phrase score = exact bigint sum over distinct (doc, phrase), top-5
    per doc window. Oracle replays the identical two-pass stopword
    delimiting and integer arithmetic."""
    from cartwright_spark.operators.keywords import rake_keywords
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return rake_keywords(docs, top_k=5)


def _rake_oracle() -> str:
    from cartwright_spark.operators.keywords import _SCALE, RAKE_STOPWORDS
    stop = " (" + "|".join(RAKE_STOPWORDS) + ") "
    return f"""
        WITH raw AS (
          SELECT doc_id AS id,
                 ' ' || regexp_replace(regexp_replace(lower(text),
                          '[^a-z\\s]+', ' | ', 'g'), '\\s+', ' ', 'g')
                 || ' ' AS s
          FROM documents
        ),
        d1 AS (SELECT id, regexp_replace(s, '{stop}', ' | ', 'g') AS s
               FROM raw),
        d2 AS (SELECT id, regexp_replace(s, '{stop}', ' | ', 'g') AS s
               FROM d1),
        ph AS (
          SELECT id, trim(regexp_replace(p, '\\s+', ' ', 'g')) AS phrase
          FROM (SELECT id, unnest(string_split_regex(s, '\\|')) AS p
                FROM d2)
          WHERE trim(regexp_replace(p, '\\s+', ' ', 'g')) <> ''
        ),
        occ AS (
          SELECT id, len(string_split(phrase, ' ')) AS n_words,
                 unnest(string_split(phrase, ' ')) AS word
          FROM ph
        ),
        ws AS (
          SELECT word,
                 (CAST(SUM(n_words) AS BIGINT) * {_SCALE}) // COUNT(*)
                   AS wscore
          FROM occ GROUP BY 1
        ),
        dphr AS (
          SELECT id, phrase, COUNT(*) AS n_occurrences
          FROM ph GROUP BY 1, 2
        ),
        dw AS (
          SELECT id, phrase, n_occurrences,
                 CAST(len(string_split(phrase, ' ')) AS INT) AS n_words,
                 unnest(string_split(phrase, ' ')) AS word
          FROM dphr
        ),
        sc AS (
          SELECT id, phrase, n_words, n_occurrences,
                 CAST(SUM(ws.wscore) AS BIGINT) AS score_micro
          FROM dw JOIN ws USING (word) GROUP BY 1, 2, 3, 4
        ),
        rk AS (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY id
                   ORDER BY score_micro DESC, phrase ASC) AS INT)
                 AS rank
          FROM sc
        )
        SELECT id AS doc_id, phrase, n_words, n_occurrences, score_micro,
               rank
        FROM rk WHERE rank <= 5
    """


def q_hilbert_order(spark, sf_dir):
    """Hilbert-curve layout order for tile data (spatial/hilbert.py
    hilbert_index): web-mercator zoom-6 tiles of the synthetic coords,
    rolled up to (tx, ty, n_points), then the from-scratch xy2d fold —
    one narrow codegen'd select per bit level, integer-only, no shuffle
    beyond the tile rollup. Sorting tile files by this column gives
    neighbor-preserving range scans (strictly better locality than
    z-order at power-of-two seams). Oracle = the proven j8 tile formula
    + hilbert_sql's chained-CTE replay of the identical decision
    table."""
    from cartwright_spark.functions.geodesy import tile_x_col, tile_y_col
    from cartwright_spark.spatial.hilbert import hilbert_index
    pts = _coords(spark, sf_dir)
    tiles = (pts.select(tile_x_col(F.col("lon"), 6).alias("tx"),
                        tile_y_col(F.col("lat"), 6).alias("ty"))
             .groupBy("tx", "ty").agg(F.count("*").alias("n_points")))
    return hilbert_index(tiles, "tx", "ty", order=6)


def q_crawl_frontier(spark, sf_dir):
    """Per-host politeness scheduling (operators/crawl.py crawl_frontier)
    over the url_normalize synthesis: canonical-URL dedup (max priority),
    wave = deterministic row_number within host, fetch offset, and a
    50-wave per-host budget cap. One host-keyed exchange shared by the
    dedup and the window; hosts schedule independently, so the frontier
    parallelizes across hosts at any corpus size. Oracle = the
    url_normalize oracle CTE + the identical window SQL."""
    from cartwright_spark.operators.crawl import crawl_frontier
    urls = q_url_normalize(spark, sf_dir).select(
        "url_norm", "host",
        ((F.col("doc_id") * 37) % 100).alias("priority"))
    return crawl_frontier(urls, delay_s=0.5, max_per_host=50)


def q_anchor_text(spark, sf_dir):
    """Anchor-text index (operators/urltools.py anchor_text_index):
    what other pages' link text says about each destination host — the
    classic off-page web-IR signal, a host-quality feature for curation.
    Aligned two-group regex arrays + posexplode (one html pass, zero
    Python), clean_html_text fragment normalization, normalize_urls host
    canonicalization, one (dst_host, term) aggregate. Oracle replays the
    identical chain with generate_subscripts list alignment."""
    from cartwright_spark.operators.urltools import anchor_text_index
    return anchor_text_index(_anchor_pages(spark, sf_dir))


def q_containment_join(spark, sf_dir):
    """EXACT all-pairs word-3-gram CONTAINMENT >= 0.5 self-join
    (dedup.py containment_join): the asymmetric near-dup relation —
    A's grams mostly inside B — that Jaccard misses when sizes differ
    (quote/mirror/wrapper detection). Complete candidates from A-prefix
    grams against B's full postings, exact refine. Oracle =
    brute-forced definition over all ordered pairs."""
    from cartwright_spark.operators.dedup import containment_join
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = containment_join(docs, threshold=0.5, n=3)
    return out.select("id_a", "id_b", "inter", "size_a",
                      F.round("containment", 6).alias("containment"))


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training over the documents corpus
    (operators/bpe.py bpe_merges): 6 learned merge rules with exact
    adjacency counts. The only corpus-scale pass is the word-frequency
    dictionary shuffle; every learning round is vocab-scale pair
    counting + a map-only Catalyst fold merge (no UDFs). Oracle =
    rounds unrolled with recursive leftmost-replace CTEs."""
    from cartwright_spark.operators.bpe import bpe_merges
    docs = _t(spark, sf_dir, "documents").select("text")
    return bpe_merges(docs, rounds=6)


# Deterministic sitemap XML per document — a dual-engine SQL expression
# (CAST AS STRING and || work identically in Spark SQL and DuckDB).
# Block 1: loc with surrounding whitespace + lastmod + priority;
# block 2: loc + changefreq only; block 3: MALFORMED (no <loc>, must be
# dropped); block 4: relative loc only.
_SITEMAP_XML_SQL = (
    "'<urlset>"
    "<url><loc> https://h' || CAST(doc_id % 20 AS STRING) ||"
    " '.example.com/p/' || CAST(doc_id * 3 AS STRING) || ' </loc>"
    "<lastmod>2026-0' || CAST(doc_id % 9 + 1 AS STRING) || '-01</lastmod>"
    "<priority>0.' || CAST(doc_id % 10 AS STRING) || '</priority></url>"
    "<url><loc>https://h' || CAST(doc_id % 20 AS STRING) ||"
    " '.example.com/p/' || CAST(doc_id * 3 + 1 AS STRING) || '</loc>"
    "<changefreq>daily</changefreq></url>"
    "<url><lastmod>2026-01-01</lastmod></url>"
    "<url><loc>/rel/' || CAST(doc_id * 3 + 2 AS STRING) || '</loc></url>"
    "</urlset>'"
)


def q_sitemap_urls(spark, sf_dir):
    """Sitemap ingest (operators/sitemap.py parse_sitemaps): 300
    deterministic urlset documents -> exploded (loc, lastmod,
    changefreq, priority) rows; the no-<loc> block is dropped, missing
    optional tags are NULL, loc whitespace is trimmed. Pure regexp
    codegen; oracle runs the identical RE2 patterns in DuckDB."""
    from cartwright_spark.operators.sitemap import parse_sitemaps
    docs = (_t(spark, sf_dir, "documents").select("doc_id")
            .where(F.col("doc_id") < 300)
            .select(F.col("doc_id").alias("site_id"),
                    F.expr(_SITEMAP_XML_SQL).alias("xml")))
    return (parse_sitemaps(docs)
            .select(F.col("id").alias("site_id"), "loc", "lastmod",
                    "changefreq", "priority"))


def _fs_customer_weights():
    """Field weights for the entity-resolution fixture, computed ONCE
    here and injected as literals into BOTH engines (no runtime log())."""
    from cartwright_spark.operators.entity import fs_weights
    return {"name": fs_weights(0.95, 0.001),
            "addr": fs_weights(0.90, 0.010),
            "phone": fs_weights(0.85, 0.005)}


def q_entity_resolution(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage (operators/entity.py):
    customers matched against a deterministically-dirtied twin (name
    typos, moved addresses, re-dialed phones), blocked on nationkey.
    Field weights are log2 likelihood ratios computed once in Python
    and embedded as identical double literals in engine and oracle, so
    score sums are IEEE-exact. Threshold 5.0 keeps true matches with
    one disagreeing field and rejects the near-name false pairs.

    Blocking is (nationkey | name 16-prefix) — NOT nationkey alone: a
    constant-cardinality block key makes candidate volume QUADRATIC in
    corpus size (measured by the r5 scale sweep: 25 nation blocks =
    33.9 s at sf0.1 and >20 min at the 10x corpus on a <=25-way join).
    The 16-prefix covers 'Customer#' + the first 7 of 9 padded digits,
    so block cardinality GROWS with the data; it is lossless here:
    true matches keep their prefix (the synthesized typos are
    suffixes), near-name key neighbors (last-digit edits) share the
    prefix and still meet, and anything a coarser block would
    additionally admit scores below the 5.0 threshold anyway — output
    identical, candidates linear."""
    from cartwright_spark.operators.entity import fs_match_pairs
    w = _fs_customer_weights()
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    # address/phone synthesized from the key (the table carries
    # neither) — identical CASTs in the DuckDB oracle
    addr = F.concat(F.lit("st-"), ((k * 7) % 100000).cast("string"))
    phone = ((k * 131) % 10000000).cast("string")
    a = c.select(k.alias("id_a"), "c_nationkey", "c_name",
                 addr.alias("c_address"), phone.alias("c_phone"),
                 F.concat(F.col("c_nationkey").cast("string"), F.lit("|"),
                          F.substring("c_name", 1, 16)).alias("blk"))
    b = c.select(
        (k + 1000000).alias("id_b"), "c_nationkey",
        F.when(k % 3 == 0, F.concat(F.col("c_name"), F.lit("x")))
        .when(k % 7 == 0, F.concat(F.col("c_name"), F.lit("zz")))
        .otherwise(F.col("c_name")).alias("name_b"),
        F.when(k % 5 == 0, F.concat(F.lit("MOVED "), addr))
        .otherwise(addr).alias("addr_b"),
        F.when(k % 11 == 0, F.concat(F.lit("999"), phone))
        .otherwise(phone).alias("phone_b"),
        F.concat(F.col("c_nationkey").cast("string"), F.lit("|"),
                 F.substring(
                     F.when(k % 3 == 0,
                            F.concat(F.col("c_name"), F.lit("x")))
                     .when(k % 7 == 0,
                           F.concat(F.col("c_name"), F.lit("zz")))
                     .otherwise(F.col("c_name")), 1, 16)).alias("blk"))
    out = fs_match_pairs(
        a, b, block_col="blk",
        fields=[("c_name", "name_b", 1, *w["name"]),
                ("c_address", "addr_b", 0, *w["addr"]),
                ("c_phone", "phone_b", 0, *w["phone"])],
        threshold=5.0)
    return out.select("id_a", "id_b", F.round("score", 6).alias("score"))


def q_passage_chunks(spark, sf_dir):
    """RAG passage chunking (operators/chunking.py): 24-token windows
    at stride 16 over documents — map-only codegen explode, integer
    div window counts so boundaries are engine-exact. Oracle = the
    same window rule in DuckDB list arithmetic."""
    from cartwright_spark.operators.chunking import passage_chunks
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (passage_chunks(docs, size=24, stride=16)
            .select(F.col("id").alias("doc_id"), "chunk_idx",
                    "start_tok", "n_tokens", "chunk_text"))


def q_kcore(spark, sf_dir):
    """2-core of a deterministic crawl-shaped graph (functions/graph.py
    kcore): per 20-doc block, a 13-cycle with a 7-node pendant chain
    hanging off it — the pendant peels over 7 rounds, the cycles
    survive, exercising genuinely iterative peeling rather than one
    leaf-strip. Oracle = the peel unrolled into 10 fixed CTE rounds
    (converged rounds are no-ops in both engines)."""
    from cartwright_spark.functions.graph import kcore
    d = _t(spark, sf_dir, "documents").select("doc_id")
    r = F.col("doc_id") % 20
    base = F.col("doc_id") - r
    cyc = d.where(r < 13).select(
        F.col("doc_id").alias("src"), (base + (r + 1) % 13).alias("dst"))
    pend = d.where((r >= 13) & (r <= 18)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
    root = d.where(r == 13).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 13).alias("dst"))
    return kcore(cyc.union(pend).union(root), k=2)


def q_neighborhood_function(spark, sf_dir):
    """Exact graph neighborhood function N(t), t = 0..4
    (functions/neighborhood.py): directed reachable-pair counts over
    the shared orders digraph — the distance-distribution /
    effective-diameter metric. The exact pair-table path is the
    verification-scale twin of the HyperBall HLL path (same module),
    which is accuracy-gated in tests. Oracle = hops unrolled into
    chained DISTINCT-union CTEs."""
    from cartwright_spark.functions.neighborhood import (
        neighborhood_function_exact)
    o = _t(spark, sf_dir, "orders")
    star = o.select(F.col("o_orderkey").alias("src"),
                    (F.col("o_orderkey") - F.col("o_orderkey") % 97)
                    .alias("dst"))
    bridge = (o.where((F.col("o_orderkey") % 293 == 0)
                      & (F.col("o_orderkey") >= 97))
              .select(F.col("o_orderkey").alias("src"),
                      (F.col("o_orderkey") - 97).alias("dst")))
    return neighborhood_function_exact(star.union(bridge), t_max=4)


def q_coverage_select(spark, sf_dir):
    """Greedy max-coverage corpus selection (operators/selection.py):
    6 documents picked to maximize covered vocabulary, exact marginal
    gains and running covered totals. One incidence shuffle up front;
    each round = one anti-join + count agg + 1-row argmax. Oracle =
    rounds unrolled into chained anti-join CTE blocks."""
    from cartwright_spark.operators.selection import greedy_max_coverage
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return greedy_max_coverage(docs, k=6, gram_n=2)


def q_hausdorff_pairs(spark, sf_dir):
    """Discrete Hausdorff distance join (spatial/hausdorff.py): all
    trajectory pairs within H <= 45 degrees, exact squared distances.
    Trajectories = events points grouped by user_id % 40; bbox
    grid-bucket candidates (provably complete for the threshold),
    exact max-min refine with map-side partial aggs. Oracle =
    brute-forced definition over all pairs."""
    from cartwright_spark.spatial.hausdorff import hausdorff_join
    ev = _t(spark, sf_dir, "events")
    pts = ev.select((F.col("user_id") % 40).alias("traj_id"),
                    F.expr(_TRAJ_LAT).alias("lat"),
                    F.expr(_TRAJ_LON).alias("lon"))
    return (hausdorff_join(pts, max_dist=45.0)
            .select("id_a", "id_b",
                    F.round("hausdorff_sq", 6).alias("hausdorff_sq")))


def q_image_near_dup(spark, sf_dir):
    """Perceptual-hash image near-duplicate pairs (operators/phash.py):
    200 deterministic rasters in 40 base-image families of 5 variants
    (each variant inverts a different sparse pixel set), pushed through
    the REAL binary-media path — encode_png -> binary column ->
    decode_png -> integer-exact aHash64 -> pigeonhole Hamming band
    join. Pixels are closed-form in doc_id, so the DuckDB oracle
    rebuilds the 64-bit hashes in pure SQL (as two 32-bit halves) and
    brute-forces the pair distances."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.operators.multimodal import encode_png
    from cartwright_spark.operators.phash import image_ahash, ahash_near_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    H, W = 16, 24

    def mk(batches):
        y = np.arange(H)[:, None, None]
        x = np.arange(W)[None, :, None]
        c = np.arange(3)[None, None, :]
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            blobs = []
            for i in ids:
                b, v = int(i) % 40, int(i) // 40
                base = (b * 31 + y * (7 + b % 5)
                        + x * (3 + b % 7) + c * 11) % 256
                img = np.where((y * W + x) % 53 == v, 255 - base, base) \
                    .astype(np.uint8)
                blobs.append(encode_png(img))
            yield pd.DataFrame({"media_id": ids, "media": blobs})

    media = docs.mapInPandas(mk, "media_id long, media binary")
    hashes = image_ahash(media)
    return (ahash_near_pairs(hashes, max_hamming=8, band_bits=7)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    F.col("hamming").cast("int").alias("hamming")))


def q_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation
    (functions/graph.py label_propagation): 5 deterministic rounds
    (self-vote, min-label ties) over the same orders star+bridge
    digraph as pagerank/connected_components — stars converge to their
    block base in one round, the sparse bridges exercise the majority
    rule. Oracle: the round unrolled into chained CTEs, like the
    pagerank oracle — value-for-value, no goldens."""
    from cartwright_spark.functions.graph import label_propagation
    o = _t(spark, sf_dir, "orders")
    star = o.select(F.col("o_orderkey").alias("src"),
                    (F.col("o_orderkey") - F.col("o_orderkey") % 97)
                    .alias("dst"))
    bridge = (o.where((F.col("o_orderkey") % 293 == 0)
                      & (F.col("o_orderkey") >= 97))
              .select(F.col("o_orderkey").alias("src"),
                      (F.col("o_orderkey") - 97).alias("dst")))
    return label_propagation(star.union(bridge), "src", "dst", iters=5)


def q_heavy_hitters(spark, sf_dir):
    """Guaranteed heavy hitters (operators/sketch.py
    heavy_hitters_exact): every token with freq * k > n over the
    documents corpus, EXACT counts — a Misra-Gries per-partition
    candidate prefilter (<= k counters per partition, map-only Arrow
    pass) followed by a broadcast-semijoin exact recount, so the
    shuffle is candidate-bounded instead of vocabulary-wide. The oracle
    is the definition itself: GROUP BY token HAVING count*k > total."""
    from cartwright_spark.operators.sketch import heavy_hitters_exact
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+"))
                        .alias("term"))
            .where(F.col("term") != ""))
    return heavy_hitters_exact(toks, "term", k=150)


def _c4_lines(spark, sf_dir):
    """documents -> deterministic synthetic line structure for the C4
    filter: 8-word lines, terminal '.' except every (doc_id+i)%5==0
    line, 'javascript' injected every (doc_id+i)%13==0 line, page-level
    lorem-ipsum / brace markers on doc_id%17 / doc_id%11 — the same
    arithmetic the DuckDB oracle replays."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    words = F.filter(F.split(F.col("text"), "\\s+"), lambda w: w != "")
    n_lines = F.ceil(F.size(words) / F.lit(8.0)).cast("bigint")
    idx = F.when(n_lines > 0,
                 F.sequence(F.lit(0).cast("bigint"), n_lines - 1)
                 ).otherwise(F.array().cast("array<bigint>"))
    body = F.transform(
        idx,
        lambda i: F.concat(
            F.array_join(F.slice(words, (i * 8 + 1).cast("int"), 8), " "),
            F.when(F.pmod(did + i, F.lit(13)) == 0,
                   F.lit(" javascript news."))
            .when(F.pmod(did + i, F.lit(5)) == 0, F.lit(""))
            .otherwise(F.lit("."))))
    empty = F.array().cast("array<string>")
    lines = F.concat(
        body,
        F.when(F.pmod(did, F.lit(17)) == 0,
               F.array(F.lit("lorem ipsum filler text here."))
               ).otherwise(empty),
        F.when(F.pmod(did, F.lit(11)) == 0,
               F.array(F.lit("function() {"))).otherwise(empty))
    return d.select("doc_id", lines.alias("lines"))


def q_c4_filter(spark, sf_dir):
    """C4 curation filters (operators/curation_filters.py c4_filter):
    the public C4 line/page heuristics — terminal punctuation, >=3-word
    lines, javascript/lorem-ipsum/brace markers, >=5 surviving
    sentences — as one shuffle-free codegen projection over a
    deterministically re-lined documents corpus. Oracle: identical
    list-lambda arithmetic in DuckDB."""
    from cartwright_spark.operators.curation_filters import c4_filter
    return c4_filter(_c4_lines(spark, sf_dir)).select(
        "doc_id", "n_lines", "n_kept", "has_lorem", "has_brace",
        "keep", "clean_text")


def q_rolling_anomaly(spark, sf_dir):
    """Trailing-window z-score anomalies (operators/anomaly.py
    rolling_anomaly): (n*y - S)^2 > tau^2 (n*Q - S^2) over the 8
    previous points per series — EXACT bigint arithmetic, one exchange
    on the series key. Oracle: the identical rearranged inequality as
    a SQL ROWS window."""
    from cartwright_spark.operators.anomaly import rolling_anomaly
    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(64)).alias("series"),
        "event_id", "ts",
        F.pmod(F.floor("value").cast("bigint"), F.lit(100)).alias("y"))
    return rolling_anomaly(ev, "series", ["ts", "event_id"], "y").select(
        "series", "event_id", "y", "n_prev", "s_prev", "q_prev",
        "is_anomaly")


def q_canonical_pick(spark, sf_dir):
    """Duplicate-cluster keeper selection (operators/canonical.py
    canonical_pick): per exact-content cluster (md5 key), the member
    minimizing (n_chars, doc_id) — ONE algebraic min(struct) groupBy,
    no per-group sort. Oracle: row_number() over the same preference
    order (the plan the engine deliberately avoids)."""
    from cartwright_spark.operators.canonical import canonical_pick
    d = _t(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("content_key"), "doc_id", "n_chars")
    return canonical_pick(d, "content_key", "doc_id", ["n_chars"])


def q_scd2_merge(spark, sf_dir):
    """SCD2 validity intervals (operators/canonical.py scd2_merge):
    per-user event_type change log collapsed to
    (valid_from, valid_to, is_current) — lag to drop consecutive
    repeats, lead for interval ends, both windows on one exchange.
    Oracle: the identical two-window SQL."""
    from cartwright_spark.operators.canonical import scd2_merge
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("entity"), "ts",
        F.col("event_type").alias("val"), "event_id")
    return scd2_merge(ev, "entity", "ts", "val",
                      order_cols=["ts", "event_id"])


def _digraph500(spark, sf_dir):
    """The shared 500-node digraph (the diameter_sweep generator)."""
    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(500))
    e1 = ev.select(a.alias("src"),
                   F.pmod(a * 7 + 3, F.lit(500)).alias("dst"))
    e2 = ev.select(a.alias("src"),
                   F.pmod(a * a + 11, F.lit(500)).alias("dst"))
    return e1.unionByName(e2)


_DIGRAPH500_CANON_SQL = """
              SELECT DISTINCT
                     least(CAST(s AS VARCHAR), CAST(t AS VARCHAR)) AS u,
                     greatest(CAST(s AS VARCHAR), CAST(t AS VARCHAR))
                       AS v
              FROM (
                SELECT event_id % 500 AS s,
                       ((event_id % 500) * 7 + 3) % 500 AS t
                FROM events
                UNION ALL
                SELECT event_id % 500,
                       ((event_id % 500) * (event_id % 500) + 11) % 500
                FROM events
              )
              WHERE CAST(s AS VARCHAR) <> CAST(t AS VARCHAR)
"""


def q_neighbor_jaccard(spark, sf_dir):
    """Neighborhood Jaccard for non-adjacent pairs (functions/graph.py
    neighbor_jaccard) over the shared 500-node digraph: hub-capped
    wedge generation (z-degree <= 64), full degrees in the
    denominator, existing edges anti-joined out. Oracle: the identical
    capped wedge arithmetic on VARCHAR node ids."""
    from cartwright_spark.functions.graph import neighbor_jaccard
    return neighbor_jaccard(_digraph500(spark, sf_dir),
                            max_hub=64, min_common=2)


def q_modularity(spark, sf_dir):
    """Newman modularity per community (functions/graph.py
    modularity): communities = node id mod 7 over the shared 500-node
    digraph — exact bigint m_c/d_c/m, q_c = m_c/m - (d_c/2m)^2; labels
    land on endpoints via two |V|-sized equi-joins, m rides in as a
    one-row broadcast. Oracle: the same counts in DuckDB."""
    from cartwright_spark.functions.graph import modularity
    edges = _digraph500(spark, sf_dir)
    nodes = (edges.select(F.col("src").cast("string").alias("node"))
             .union(edges.select(F.col("dst").cast("string")
                                 .alias("node")))
             .distinct())
    comm = nodes.withColumn(
        "comm", F.pmod(F.col("node").cast("bigint"), F.lit(7)))
    return modularity(edges, comm)


def q_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes (operators/nbayes.py
    naive_bayes_classify): train on the doc_id%3!=0 slice (label =
    lang), score the held-out doc_id%3==0 slice — fully declarative
    train+score, ln(c+1) trick so unseen words cost nothing in the
    LEFT-join fan-out. Oracle: the identical CTE pipeline with
    row_number argmax (score DESC, label DESC)."""
    from cartwright_spark.operators.nbayes import naive_bayes_classify
    d = _t(spark, sf_dir, "documents")
    toks = (d.select("doc_id", "lang",
                     F.explode(F.split(F.lower("text"), "[^a-z]+"))
                     .alias("token"))
            .where(F.length("token") >= 2))
    train = (toks.where(F.pmod(F.col("doc_id"), F.lit(3)) != 0)
             .select("doc_id", F.col("lang").alias("label"), "token"))
    score = (toks.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
             .select("doc_id", "token"))
    return naive_bayes_classify(train, score)


def q_seasonal_profile(spark, sf_dir):
    """Seasonal index per (event_type, hour-of-day)
    (operators/seasonal.py seasonal_profile): one corpus groupBy into
    G x 24 cells, group means re-aggregated from the cells; y
    quantized to bigint so means are exact-integer ratios. Oracle: the
    same two-level rollup."""
    from cartwright_spark.operators.seasonal import seasonal_profile
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("y"))
    return seasonal_profile(ev, "event_type", F.hour("ts"), "y")


def q_score_calibration(spark, sf_dir):
    """Reliability bins + ECE terms (operators/calibration.py
    calibration_bins) for a deterministic pseudo-probability on
    lineitem (score = hash-bucket/1000, label correlated with it via
    an integer side-channel) — one groupBy on the bin index, total N
    re-aggregated from the B bin rows. Oracle: identical binning
    arithmetic."""
    from cartwright_spark.operators.calibration import calibration_bins
    li = _t(spark, sf_dir, "lineitem")
    k = F.pmod(F.col("l_partkey") * 7919, F.lit(1000))
    d = li.select(
        (k.cast("double") / 1000.0).alias("score"),
        ((k + F.pmod(F.col("l_orderkey"), F.lit(400)) - 200) > 500)
        .cast("int").alias("label"))
    return calibration_bins(d, "score", "label", bins=10)


def q_hbos_outlier(spark, sf_dir):
    """HBOS anomaly scores (operators/hbos.py hbos_scores) on three
    lineitem measures: per-feature equal-width histograms from one
    melted groupBy, scores via k broadcast joins — duplicate point ids
    flow through untouched. Oracle: identical binning and ln(N/c)
    expression shape."""
    from cartwright_spark.operators.hbos import hbos_scores
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount")
    return hbos_scores(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        bins=16).select("l_orderkey", "l_linenumber", "hbos")


def q_tfidf_topterms(spark, sf_dir):
    """Per-doc top-5 tf-idf terms (operators/ranking.py
    tfidf_top_terms): one (doc,term) groupBy, term-keyed df dim join,
    broadcast N, row_number cut with (tfidf DESC, term ASC) tiebreak.
    Oracle: identical CTEs + ln(N/df) expression shape."""
    from cartwright_spark.operators.ranking import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), topk=5)


def q_meta_tags(spark, sf_dir):
    """Head-metadata extraction (operators/extract.py extract_meta):
    title/description/og:title/canonical/lang as five RE2-safe
    regexp_extracts in one shuffle-free codegen projection over
    deterministically synthesized head sections (canonical present on
    doc_id%4==0 only). Oracle: identical synthesis + patterns."""
    from cartwright_spark.operators.extract import extract_meta
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"),
        F.lit('"><head><title>Doc '), sid, F.lit(" - "),
        F.col("source"), F.lit("</title>"),
        F.lit('<meta name="description" content="'),
        F.substring("text", 1, 40), F.lit('">'),
        F.lit('<meta property="og:title" content="OG '), sid,
        F.lit('">'),
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0,
               F.concat(F.lit('<link rel="canonical" href="https://'),
                        F.col("source"), F.lit(".com/c/"),
                        F.pmod(F.col("doc_id"), F.lit(50))
                        .cast("string"),
                        F.lit('">'))).otherwise(F.lit("")),
        F.lit("</head><body></body></html>"))
    pages = d.select("doc_id", html.alias("html"))
    return extract_meta(pages).select(
        "doc_id", "title", "description", "og_title", "canonical",
        "page_lang", "has_canonical", "title_len")


def q_personalized_pagerank(spark, sf_dir):
    """Random walk with restart (functions/graph.py
    personalized_pagerank) from 5 seed nodes of the directed 500-node
    digraph: teleport AND dangling mass restart at the seeds, edges
    checkpointed once, per-round shuffle O(nodes). Oracle: the power
    iteration unrolled into chained CTEs (_ppr_unrolled)."""
    from cartwright_spark.functions.graph import personalized_pagerank
    return personalized_pagerank(_digraph500(spark, sf_dir),
                                 seeds=[0, 100, 200, 300, 400],
                                 iters=10)


def q_dtw_pairs(spark, sf_dir):
    """Dynamic time warping (operators/dtw.py dtw_pairs) between 25
    adjacent synthetic traces (16 integer points each, derived from
    event ids): int64-exact DP in a mapInPandas kernel over narrow
    array columns — the documented built-ins-can't-express tier.
    Oracle: the DP unrolled over anti-diagonals (_dtw_unrolled)."""
    from cartwright_spark.operators.dtw import dtw_pairs
    ev = _t(spark, sf_dir, "events")
    base = ev.select(F.pmod(F.col("event_id"), F.lit(50))
                     .alias("t")).distinct()
    tr = (base.select("t", F.explode(F.sequence(F.lit(1), F.lit(16)))
                      .alias("pos"))
          .withColumn("y",
                      F.pmod(F.col("t") * 31 + F.col("pos") * 17,
                             F.lit(23))
                      + F.pmod(F.col("t") + F.col("pos"), F.lit(7))))
    pairs = (base.where((F.pmod(F.col("t"), F.lit(2)) == 0)
                        & (F.col("t") < 49))
             .select(F.col("t").alias("a_id"),
                     (F.col("t") + 1).alias("b_id")))
    return dtw_pairs(tr, pairs, id_col="t")


def q_ab_ztest(spark, sf_dir):
    """Two-proportion pooled z-test per experiment (operators/abtest.py
    ab_ztest): arms from user parity, success = value > 55 — one
    conditional-aggregate groupBy, closed-form z over exact bigint
    counts, NULL on degenerate pooled variance. Oracle: identical
    expression shape."""
    from cartwright_spark.operators.abtest import ab_ztest
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("exp"),
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0,
               F.lit("c")).otherwise(F.lit("t")).alias("variant"),
        (F.col("value") > 55).cast("int").alias("success"))
    return ab_ztest(ev, "exp", "variant", "success", "c", "t")


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (operators/abtest.py k_anonymity) over
    (event_type, user bucket) quasi-identifiers at k=5: one groupBy,
    violating combos only (output bounded by construction). Oracle:
    GROUP BY ... HAVING count < k."""
    from cartwright_spark.operators.abtest import k_anonymity
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(5000)).alias("uid_bucket"))
    return k_anonymity(ev, ["event_type", "uid_bucket"], k=5)


def q_hillshade_grid(spark, sf_dir):
    """Horn hillshade over a synthetic 40x40 DEM (spatial/terrain.py
    hillshade): scatter-gather 3x3 neighborhood — 9-way in-row
    explode, ONE groupBy with conditional directional sums (exact
    bigint), fixed-shape trig on top. Oracle: identical scatter
    arithmetic + literals."""
    from cartwright_spark.spatial.terrain import hillshade
    ev = _t(spark, sf_dir, "events")
    cells = (ev.select(F.pmod(F.col("event_id"), F.lit(1600))
                       .alias("v")).distinct()
             .select(F.pmod(F.col("v"), F.lit(40)).alias("x"),
                     F.floor(F.col("v") / 40).cast("bigint")
                     .alias("y")))
    grid = cells.withColumn(
        "z", F.pmod(F.col("x") * F.col("x") * 3
                    + F.col("y") * F.col("y") * 2
                    + F.col("x") * F.col("y"), F.lit(97)))
    return hillshade(grid)


def q_geofence_transitions(spark, sf_dir):
    """Geofence enter/exit events (spatial/geofence.py
    geofence_transitions): three broadcast circle fences on an integer
    grid, EXACT int64 membership, lag-edge detection on one
    (entity, fence) exchange. Oracle: identical predicate + window."""
    from cartwright_spark.spatial.geofence import geofence_transitions
    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(20)).alias("entity"),
        "ts", "event_id",
        F.pmod(F.col("event_id") * 37, F.lit(100)).alias("x"),
        F.pmod(F.col("event_id") * 73, F.lit(100)).alias("y"))
    fences = spark.createDataFrame(
        [(1, 25, 25, 15), (2, 70, 60, 20), (3, 50, 50, 40)],
        "fence_id int, cx long, cy long, r long")
    return geofence_transitions(ev, fences,
                                order_cols=["ts", "event_id"])


def q_route_waypoints(spark, sf_dir):
    """Great-circle densification (spatial/routes.py
    great_circle_waypoints): 9 slerp waypoints per synthetic OD pair —
    one in-row explode, zero shuffles, fixed trig expression shape.
    Oracle: the identical slerp arithmetic in DuckDB."""
    from cartwright_spark.spatial.routes import great_circle_waypoints
    k = F.col("o_orderkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (((k * 7919) % 17001) / 100.0 - 85.0).alias("lat1"),
        (((k * 104729) % 36001) / 100.0 - 180.0).alias("lon1"),
        (((k * 4241 + 13) % 17001) / 100.0 - 85.0).alias("lat2"),
        (((k * 9973 + 7) % 36001) / 100.0 - 180.0).alias("lon2"))
    return great_circle_waypoints(o, k=8).select(
        "o_orderkey", "step", "frac", "wp_lat", "wp_lon")


def q_ktruss_edges(spark, sf_dir):
    """k-truss peel (functions/graph.py ktruss_edges) at k=3 over a
    500-node circulant-block graph — C10(1,2) blocks carry triangles
    (step-1 edges support 2, step-2 support 1), the 7a+3 chords are
    mostly triangle-free and peel away; 4 declarative rounds, no
    driver convergence action. Oracle: _ktruss_unrolled."""
    from cartwright_spark.functions.graph import ktruss_edges
    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("event_id"), F.lit(500))
    i = F.pmod(a, F.lit(10))
    blk = a - i
    e1 = ev.select(a.alias("src"),
                   (blk + F.pmod(i + 1, F.lit(10))).alias("dst"))
    e2 = ev.select(a.alias("src"),
                   (blk + F.pmod(i + 2, F.lit(10))).alias("dst"))
    e3 = ev.select(a.alias("src"),
                   F.pmod(a * 7 + 3, F.lit(500)).alias("dst"))
    return ktruss_edges(e1.unionByName(e2).unionByName(e3),
                        k=3, rounds=4)


def q_viterbi_path(spark, sf_dir):
    """Viterbi decoding (operators/viterbi.py viterbi_decode): 4-state
    integer max-plus HMM over each user-bucket's first 12 quantized
    observations — exact DP in the mapInPandas kernel, deterministic
    larger-prev/larger-state tiebreaks. Oracle: the recurrence
    unrolled per step (_viterbi_unrolled) with struct-max tiebreaks."""
    from cartwright_spark.operators.viterbi import viterbi_decode
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.pmod(F.col("user_id"), F.lit(30)).alias("seq"),
        "ts", "event_id",
        F.pmod(F.floor("value").cast("bigint"), F.lit(8)).alias("o"))
    w = Window.partitionBy("seq").orderBy("ts", "event_id")
    d = d.withColumn("t", F.row_number().over(w)).where(F.col("t") <= 12)
    fullseq = (d.groupBy("seq").agg(F.count(F.lit(1)).alias("n"))
               .where(F.col("n") == 12).select("seq"))
    d = d.join(fullseq, "seq")
    return viterbi_decode(
        d, 4,
        init_w=lambda s: (s * 2 + 1) % 5,
        trans_w=lambda sp, s: (sp * 3 + s * 5) % 7,
        emit_w=lambda s, o: (s * 11 + o * 13) % 17,
        seq_col="seq", t_col="t", obs_col="o")


def q_cidr_lookup(spark, sf_dir):
    """Longest-prefix-match CIDR lookup (operators/ipmatch.py
    cidr_lookup): synthetic uint32 IPs vs a 5-length block dim
    ({8,12,16,20,24}) — broadcast dim, per-length integer-division
    candidates, max(struct) argmax on prefix length. Oracle: the same
    expansion as UNION ALL legs."""
    from cartwright_spark.operators.ipmatch import cidr_lookup
    ips = (_t(spark, sf_dir, "orders")
           .select(F.pmod(F.col("o_orderkey") * 2654435761,
                          F.lit(4294967296)).alias("ip"))
           .distinct())
    p = _t(spark, sf_dir, "part")
    plen = (8 + 4 * F.pmod(F.col("p_partkey"), F.lit(5))).cast("int")
    bip = F.pmod(F.col("p_partkey") * 104729 + 7, F.lit(4294967296))
    shift = (F.when(plen == 8, F.lit(16777216))
             .when(plen == 12, F.lit(1048576))
             .when(plen == 16, F.lit(65536))
             .when(plen == 20, F.lit(4096))
             .otherwise(F.lit(256)))
    blocks = p.select(
        plen.alias("plen"),
        F.floor(bip / shift).cast("bigint").alias("prefix"),
        F.col("p_partkey").alias("block_id"))
    return cidr_lookup(ips, blocks, plens=[8, 12, 16, 20, 24])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "p4_latitude_valid": q_p4_latitude_valid,
        "p5_latlong_pair": q_p5_latlong_pair,
        "p6_unix_time": q_p6_unix_time,
        "p7_year_range": q_p7_year_range,
        "p9_iso3_membership": q_p9_iso3_membership,
        "j8_tile_grid": q_j8_tile_grid,
        "j8_tile_assign": q_j8_tile_assign,
        "extract_text": q_extract_text,
        "w1_temporal_deltas": q_w1_temporal_deltas,
        "a5_threshold_cascade": q_a5_threshold_cascade,
        "a7_uniformity": q_a7_uniformity,
        "dedup_exact": q_dedup_exact,
        "text_token_count": q_text_token_count,
        "text_quality_counts": q_text_quality_counts,
        "lang_stopword_hits": q_lang_stopword_hits,
        "gopher_repetition": q_gopher_repetition,
        "stratified_sample": q_stratified_sample,
        "stratum_cap": q_stratum_cap,
        "sequence_packing": q_sequence_packing,
        "asof_events": q_asof_events,
        "range_join_orders": q_range_join_orders,
        "interval_overlap": q_interval_overlap,
        "interval_coverage": q_interval_coverage,
        "pii_redact": q_pii_redact,
        "contamination": q_contamination,
        "connected_components": q_connected_components,
        "weighted_sample": q_weighted_sample,
        "cms_freq": q_cms_freq,
        "pagerank": q_pagerank,
        "hits_scores": q_hits_scores,
        "sssp_weighted": q_sssp_weighted,
        "template_groups": q_template_groups,
        "kmeans_centroids": q_kmeans_centroids,
        "rrf_fusion": q_rrf_fusion,
        "crawl_budget": q_crawl_budget,
        "redirect_resolve": q_redirect_resolve,
        "url_normalize": q_url_normalize,
        "link_graph": q_link_graph,
        "host_pagerank": q_host_pagerank,
        "link_prediction": q_link_prediction,
        "prior_weighted_sample": q_prior_weighted_sample,
        "grid_cluster": q_grid_cluster,
        "morans_i": q_morans_i,
        "gearys_c": q_gearys_c,
        "proximity_pairs": q_proximity_pairs,
        "best_snippet": q_best_snippet,
        "ndcg_eval": q_ndcg_eval,
        "markov_transitions": q_markov_transitions,
        "rendezvous_shards": q_rendezvous_shards,
        "acf_lags": q_acf_lags,
        "scc": q_scc,
        "readability": q_readability,
        "textrank": q_textrank,
        "span_corruption": q_span_corruption,
        "cohort_retention": q_cohort_retention,
        "harmonic_centrality": q_harmonic_centrality,
        "assortativity": q_assortativity,
        "url_templates": q_url_templates,
        "zonal_stats": q_zonal_stats,
        "ols_trend": q_ols_trend,
        "diameter_sweep": q_diameter_sweep,
        "dominant_direction": q_dominant_direction,
        "segment_intersections": q_segment_intersections,
        "bigram_lm_score": q_bigram_lm_score,
        "gistar_hotspots": q_gistar_hotspots,
        "kde_heatmap": q_kde_heatmap,
        "trajectory_sessions": q_trajectory_sessions,
        "stay_points": q_stay_points,
        "trend_hotspots": q_trend_hotspots,
        "tile_pyramid": q_tile_pyramid,
        "sen_slope": q_sen_slope,
        "od_matrix": q_od_matrix,
        "colocation_lift": q_colocation_lift,
        "knox_spacetime": q_knox_spacetime,
        "idw_surface": q_idw_surface,
        "ripley_k": q_ripley_k,
        "snap_segments": q_snap_segments,
        "burst_detect": q_burst_detect,
        "dbscan_labels": q_dbscan_labels,
        "heading_octants": q_heading_octants,
        "std_ellipse": q_std_ellipse,
        "inverted_index": q_inverted_index,
        "grid_bfs_hops": q_grid_bfs_hops,
        "pareto_front": q_pareto_front,
        "term_cooccurrence": q_term_cooccurrence,
        "adaptive_tiles": q_adaptive_tiles,
        "cost_distance": q_cost_distance,
        "deletion_join": q_deletion_join,
        "prefix_jaccard": q_prefix_jaccard,
        "boilerplate_lines": q_boilerplate_lines,
        "funnel_steps": q_funnel_steps,
        "convex_hull": q_convex_hull,
        "isotonic_fit": q_isotonic_fit,
        "gini_concentration": q_gini_concentration,
        "rasterize_polygons": q_rasterize_polygons,
        "suffix_array": q_suffix_array,
        "contour_segments": q_contour_segments,
        "douglas_peucker": q_douglas_peucker,
        "cusum_changepoint": q_cusum_changepoint,
        "dissolve_boundary": q_dissolve_boundary,
        "cdc_dedup": q_cdc_dedup,
        "compact_cells": q_compact_cells,
        "psi_drift": q_psi_drift,
        "bm25_scores": q_bm25_scores,
        "zipf_slope": q_zipf_slope,
        "kmv_distinct": q_kmv_distinct,
        "centroid_outlier": q_centroid_outlier,
        "linear_score": q_linear_score,
        "bloom_semijoin": q_bloom_semijoin,
        "robots_filter": q_robots_filter,
        "warc_records": q_warc_records,
        "multimodal_gif_frames": q_multimodal_gif_frames,
        "multimodal_video_frames": q_multimodal_video_frames,
        "multimodal_wav_stats": q_multimodal_wav_stats,
        "html_table_cells": q_html_table_cells,
        "html_table_profile": q_html_table_profile,
        "anchor_text": q_anchor_text,
        "crawl_frontier": q_crawl_frontier,
        "hilbert_order": q_hilbert_order,
        "rake_keywords": q_rake_keywords,
        "kmv_intersection": q_kmv_intersection,
        "heavy_hitters": q_heavy_hitters,
        "label_propagation": q_label_propagation,
        "containment_join": q_containment_join,
        "bpe_merges": q_bpe_merges,
        "image_near_dup": q_image_near_dup,
        "hausdorff_pairs": q_hausdorff_pairs,
        "coverage_select": q_coverage_select,
        "neighborhood_function": q_neighborhood_function,
        "kcore_membership": q_kcore,
        "passage_chunks": q_passage_chunks,
        "entity_resolution": q_entity_resolution,
        "sitemap_urls": q_sitemap_urls,
        "raster_overlay": q_raster_overlay,
        "grouped_quantile": q_grouped_quantile,
        "geohash_encode": q_geohash_encode,
        "exact_quantiles": q_exact_quantiles,
        "triangle_lcc": q_triangle_lcc,
        "polygon_measures": q_polygon_measures,
        "hll_distinct": q_hll_distinct,
        "radius_join": q_radius_join,
        "knn_grid": q_knn_grid,
        "j6_pip_boxes": q_j6_pip_boxes,
        "j6_pip_bulk": q_j6_pip_bulk,
        "cartwright_categorize": q_cartwright_categorize,
        "minhash_lsh": q_minhash_lsh,
        "minhash_dedup_assign": q_minhash_dedup_assign,
        "simhash_pairs": q_simhash_pairs,
        "s2_histogram": q_s2_histogram,
        "h3_histogram": q_h3_histogram,
        "simsearch_topk": q_simsearch_topk,
        "temporal_resolution": q_temporal_resolution,
        "spatial_grid_resolution": q_spatial_grid_resolution,
        "fuzzy_country_join": q_fuzzy_country_join,
        "o2_topk": q_o2_topk,
        "knn_cells": q_knn_cells,
        "dedup_groups": q_dedup_groups,
        "lang_detect": q_lang_detect,
        "embedding_cosine_pairs": q_embedding_cosine_pairs,
        "embedding_cosine_blocked": q_embedding_cosine_blocked,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "multimodal_features": q_multimodal_features,
        "multimodal_png_decode": q_multimodal_png_decode,
        "multimodal_jpeg_decode": q_multimodal_jpeg_decode,
        "p8_date_format": q_p8_date_format,
        "j4_continent_fuzzy": q_j4_continent_fuzzy,
        "doc_fingerprint": q_doc_fingerprint,
        "winnow_fingerprint": q_winnow_fingerprint,
        "knn_hex": q_knn_hex,
        "p10_latlon_dedup": q_p10_latlon_dedup,
        "incremental_microbatch": q_incremental_microbatch,
        "stream_sessionize": q_stream_sessionize,
        "corpus_curation": q_corpus_curation,
        "ngram_jaccard": q_ngram_jaccard,
        "multimodal_frame_plan": q_multimodal_frame_plan,
        "j9_salted_rollup": q_j9_salted_rollup,
        "c4_filter": q_c4_filter,
        "rolling_anomaly": q_rolling_anomaly,
        "canonical_pick": q_canonical_pick,
        "scd2_merge": q_scd2_merge,
        "neighbor_jaccard": q_neighbor_jaccard,
        "modularity": q_modularity,
        "naive_bayes": q_naive_bayes,
        "seasonal_profile": q_seasonal_profile,
        "score_calibration": q_score_calibration,
        "hbos_outlier": q_hbos_outlier,
        "tfidf_topterms": q_tfidf_topterms,
        "meta_tags": q_meta_tags,
        "personalized_pagerank": q_personalized_pagerank,
        "dtw_pairs": q_dtw_pairs,
        "ab_ztest": q_ab_ztest,
        "k_anonymity": q_k_anonymity,
        "hillshade_grid": q_hillshade_grid,
        "geofence_transitions": q_geofence_transitions,
        "route_waypoints": q_route_waypoints,
        "ktruss_edges": q_ktruss_edges,
        "viterbi_path": q_viterbi_path,
        "cidr_lookup": q_cidr_lookup,
    }


def _textrank_unrolled(window: int = 3, iters: int = 10,
                       damping: float = 0.85, min_len: int = 3) -> str:
    """TextRank unrolled into chained CTEs (the _hits_unrolled pattern).
    Mirrors operators/keywords.py textrank_keywords exactly: filtered-
    sequence positions, lead(1..window) pairs, symmetric integer
    weights, r = (1-d) + d * sum (wt/wdeg)*r."""
    from cartwright_spark.operators.keywords import RAKE_STOPWORDS
    stop = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    leads = ", ".join(
        f"lead(w, {j}) OVER (PARTITION BY doc_id ORDER BY pos) AS w{j}"
        for j in range(1, window + 1))
    pair_sel = " UNION ALL ".join(
        f"SELECT w AS a, w{j} AS b FROM led "
        f"WHERE w{j} IS NOT NULL AND w{j} <> w"
        for j in range(1, window + 1))
    parts = [f"""
        WITH fw AS (
          SELECT doc_id,
                 list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                             w -> len(w) >= {min_len}
                                  AND w NOT IN ({stop})) AS ws
          FROM documents
        ),
        toks AS (
          SELECT doc_id,
                 CAST(generate_subscripts(ws, 1) AS BIGINT) AS pos,
                 unnest(ws) AS w
          FROM fw
        ),
        led AS (SELECT doc_id, pos, w, {leads} FROM toks),
        directed AS ({pair_sel}),
        sym AS (SELECT a, b FROM directed
                UNION ALL SELECT b, a FROM directed),
        e AS MATERIALIZED (
          SELECT a, b, CAST(count(*) AS BIGINT) AS wt
          FROM sym GROUP BY a, b
        ),
        nodes AS MATERIALIZED (
          SELECT a AS word, CAST(sum(wt) AS BIGINT) AS wdeg
          FROM e GROUP BY a
        ),
        r0 AS MATERIALIZED (SELECT word, 1.0 AS rank FROM nodes)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
        r{k} AS MATERIALIZED (
          SELECT n.word,
                 {1.0 - damping} + {damping} * coalesce(c.s, 0.0) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.b AS word,
                   sum(CAST(e.wt AS DOUBLE) / nd.wdeg * r.rank) AS s
            FROM e JOIN nodes nd ON e.a = nd.word
                   JOIN r{k - 1} r ON e.a = r.word
            GROUP BY e.b) c ON n.word = c.word
        )""")
    parts.append(f"""
        SELECT n.word, n.wdeg, r.rank
        FROM nodes n JOIN r{iters} r ON n.word = r.word""")
    return "".join(parts)


def _power_unrolled(iters: int = 8) -> str:
    """Power iteration unrolled into chained CTEs, mirroring
    operators/spectral.py dominant_direction exactly: double-cast
    inputs, uniform 1/sqrt(d) start, per-round dot/matvec/normalize."""
    parts = ["""
        WITH rows AS MATERIALIZED (
          SELECT vec_id AS id,
                 CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings
        ),
        dd AS (SELECT CAST(max(j) + 1 AS DOUBLE) AS d FROM rows),
        v0 AS MATERIALIZED (
          SELECT j, 1.0 / sqrt((SELECT d FROM dd)) AS v
          FROM (SELECT DISTINCT j FROM rows)
        )"""]
    for k in range(1, iters + 1):
        parts.append(f""",
        dots{k} AS MATERIALIZED (
          SELECT r.id, sum(r.x * v.v) AS dot
          FROM rows r JOIN v{k - 1} v ON r.j = v.j
          GROUP BY r.id
        ),
        s{k} AS MATERIALIZED (
          SELECT r.j, sum(r.x * d.dot) AS s
          FROM rows r JOIN dots{k} d ON r.id = d.id
          GROUP BY r.j
        ),
        n{k} AS (SELECT sqrt(sum(s * s)) AS n FROM s{k}),
        v{k} AS MATERIALIZED (
          SELECT j, s / (SELECT n FROM n{k}) AS v FROM s{k}
        )""")
    parts.append(f"""
        SELECT v.j AS dim, v.v AS loading,
               (SELECT n FROM n{iters}) AS eigval,
               (SELECT sum(x * x) FROM rows) AS var_total,
               (SELECT n FROM n{iters})
                 / (SELECT sum(x * x) FROM rows) AS var_ratio
        FROM v{iters} v""")
    return "".join(parts)


def _hits_unrolled(edges_sql: str, iters: int = 8) -> str:
    """HITS mutual recursion unrolled into chained CTEs (the
    _pagerank_unrolled pattern — aggregation over a recursive reference
    is forbidden, fixed-round algorithms oracle as straight-line SQL).
    Semantics mirror functions/graph.py hits exactly: uniform hub init,
    L1 normalization after every half-step, missing-link scores 0,
    output scores · N. Per-round CTEs are MATERIALIZED (each is
    referenced twice: contribution sum + normalization total)."""
    parts = [f"""
        WITH e0 AS ({edges_sql}),
        e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        h0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS hub FROM nodes)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
        ra{k} AS MATERIALIZED (
          SELECT e.dst AS id, sum(h.hub) AS s
          FROM e JOIN h{k - 1} h ON e.src = h.id
          GROUP BY e.dst
        ),
        a{k} AS MATERIALIZED (
          SELECT nodes.id,
                 coalesce(ra.s, 0.0) / (SELECT sum(s) FROM ra{k}) AS auth
          FROM nodes LEFT JOIN ra{k} ra ON nodes.id = ra.id
        ),
        rh{k} AS MATERIALIZED (
          SELECT e.src AS id, sum(a.auth) AS s
          FROM e JOIN a{k} a ON e.dst = a.id
          GROUP BY e.src
        ),
        h{k} AS MATERIALIZED (
          SELECT nodes.id,
                 coalesce(rh.s, 0.0) / (SELECT sum(s) FROM rh{k}) AS hub
          FROM nodes LEFT JOIN rh{k} rh ON nodes.id = rh.id
        )""")
    parts.append(f"""
        SELECT a.id,
               a.auth * (SELECT n FROM nn) AS auth_x_n,
               h.hub * (SELECT n FROM nn) AS hub_x_n
        FROM a{iters} a JOIN h{iters} h ON a.id = h.id""")
    return "".join(parts)


def _sssp_unrolled(edges_sql: str, sources_sql: str,
                   rounds: int = 6) -> str:
    """k-round Bellman-Ford unrolled into chained CTEs (the
    _pagerank_unrolled pattern). Semantics mirror functions/graph.py
    sssp_bounded exactly: parallel edges collapse to their min weight,
    dist_0 = 0 on sources, each round relaxes every edge once via
    union + min re-aggregation. Integer-exact — no float tolerance.
    ``edges_sql`` must yield (src, dst, w); ``sources_sql`` one id
    column."""
    parts = [f"""
        WITH e0 AS ({edges_sql}),
        e AS MATERIALIZED (
          SELECT src, dst, min(w) AS w FROM e0
          WHERE src <> dst GROUP BY src, dst
        ),
        d0 AS MATERIALIZED (
          SELECT DISTINCT id, CAST(0 AS BIGINT) AS dist
          FROM ({sources_sql})
        )"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
        d{k} AS MATERIALIZED (
          SELECT id, min(dist) AS dist FROM (
            SELECT id, dist FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS id, d.dist + e.w AS dist
            FROM e JOIN d{k - 1} d ON e.src = d.id
          ) GROUP BY id
        )""")
    parts.append(f"""
        SELECT id, dist FROM d{rounds}""")
    return "".join(parts)


def _kmeans_unrolled(points_sql: str, k: int = 8, iters: int = 4) -> str:
    """Lloyd's algorithm unrolled into chained CTEs (the
    _pagerank_unrolled pattern). Semantics mirror spatial/kmeans.py
    kmeans_lloyd exactly — integer inputs make every centroid
    bit-identical across engines (exact int sums below 2^53, then the
    same IEEE division), so the comparison is value-for-value with no
    tolerance. ``points_sql`` must yield integer (x, y)."""
    denom = float(max(k - 1, 1))
    parts = [f"""
        WITH p0 AS ({points_sql}),
        p AS MATERIALIZED (
          SELECT x, y, count(*) AS w FROM p0 GROUP BY x, y
        ),
        b AS (SELECT min(x) AS x0, max(x) AS x1,
                     min(y) AS y0, max(y) AS y1 FROM p),
        c0 AS MATERIALIZED (
          SELECT r.cid,
                 x0 + r.cid * (x1 - x0) / {denom!r} AS cx,
                 y0 + r.cid * (y1 - y0) / {denom!r} AS cy
          FROM b CROSS JOIN (SELECT unnest(range(0, {k})) AS cid) r
        )"""]
    assign = """(
          SELECT x, y, w, cid FROM (
            SELECT p.x, p.y, p.w, c.cid,
                   row_number() OVER (PARTITION BY p.x, p.y ORDER BY
                     (p.x - c.cx) * (p.x - c.cx)
                     + (p.y - c.cy) * (p.y - c.cy), c.cid) AS rn
            FROM p CROSS JOIN {cents} c
          ) WHERE rn = 1
        )"""
    for i in range(1, iters + 1):
        parts.append(f""",
        a{i} AS {assign.format(cents=f'c{i - 1}')},
        u{i} AS (
          SELECT cid, sum(x * w) AS sx, sum(y * w) AS sy, sum(w) AS n
          FROM a{i} GROUP BY cid
        ),
        c{i} AS MATERIALIZED (
          SELECT c.cid,
                 CASE WHEN u.n IS NOT NULL
                      THEN CAST(u.sx AS DOUBLE) / CAST(u.n AS DOUBLE)
                      ELSE c.cx END AS cx,
                 CASE WHEN u.n IS NOT NULL
                      THEN CAST(u.sy AS DOUBLE) / CAST(u.n AS DOUBLE)
                      ELSE c.cy END AS cy
          FROM c{i - 1} c LEFT JOIN u{i} u ON c.cid = u.cid
        )""")
    parts.append(f""",
        af AS {assign.format(cents=f'c{iters}')},
        nf AS (SELECT cid, sum(w) AS np FROM af GROUP BY cid)
        SELECT c.cid, c.cx, c.cy,
               CAST(coalesce(nf.np, 0) AS BIGINT) AS n_points
        FROM c{iters} c LEFT JOIN nf ON c.cid = nf.cid""")
    return "".join(parts)


def _pagerank_unrolled(edges_sql: str, d: float = 0.85,
                       iters: int = 10) -> str:
    """The power iteration unrolled into chained CTEs (one per round) —
    standard recursive CTEs forbid aggregation over the recursive
    reference, so a fixed-iteration algorithm oracles cleanly as
    generated straight-line SQL instead. Semantics mirror
    functions/graph.py pagerank exactly: uniform init, per-round
    dangling-mass redistribution, output rank·N. Every per-round CTE is
    MATERIALIZED: r{k} is referenced twice (contribs + dangling mass),
    so default inlining would blow up 2^iters.

    `edges_sql` must yield (src, dst) of any equality-comparable type —
    node ids can be ints (orders digraph) or strings (host graph)."""
    parts = [f"""
        WITH e0 AS ({edges_sql}),
        e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        od AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        parts.append(f""",
        c{k} AS (
          SELECT e.dst AS id, sum(r.rank / od.outdeg) AS contrib
          FROM e
          JOIN {p} r ON e.src = r.id
          JOIN od ON od.id = e.src
          GROUP BY e.dst
        ),
        d{k} AS (
          SELECT coalesce(sum(r.rank), 0.0) AS dang
          FROM {p} r LEFT JOIN od ON r.id = od.id
          WHERE od.id IS NULL
        ),
        r{k} AS MATERIALIZED (
          SELECT nodes.id,
                 {(1.0 - d) / 1.0!r} / (SELECT n FROM nn) * 1.0
                 + {d!r} * (coalesce(c.contrib, 0.0)
                            + (SELECT dang FROM d{k}) / (SELECT n FROM nn))
                   AS rank
          FROM nodes LEFT JOIN c{k} c ON nodes.id = c.id
        )""")
    parts.append(f"""
        SELECT id, rank * (SELECT n FROM nn) AS rank_x_n FROM r{iters}""")
    return "".join(parts)


def _ppr_unrolled(edges_sql: str, seeds_pred: str, n_seeds: int,
                  d: float = 0.85, iters: int = 10) -> str:
    """Personalized PageRank unrolled into chained CTEs (the
    _pagerank_unrolled pattern). Semantics mirror functions/graph.py
    personalized_pagerank exactly: r0 = seed indicator / |S|, teleport
    AND dangling mass restart at the seeds, output (id, ppr).
    ``seeds_pred`` is a SQL predicate over the node id column ``id``."""
    sv = f"CASE WHEN {seeds_pred} THEN {1.0 / n_seeds!r} ELSE 0.0 END"
    parts = [f"""
        WITH e0 AS ({edges_sql}),
        e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        nodes AS MATERIALIZED (
          SELECT id, {sv} AS sv FROM
            (SELECT src AS id FROM e UNION SELECT dst FROM e)
        ),
        od AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS MATERIALIZED (SELECT id, sv, sv AS rank FROM nodes)"""]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        parts.append(f""",
        c{k} AS (
          SELECT e.dst AS id, sum(r.rank / od.outdeg) AS contrib
          FROM e
          JOIN {p} r ON e.src = r.id
          JOIN od ON od.id = e.src
          GROUP BY e.dst
        ),
        d{k} AS (
          SELECT coalesce(sum(r.rank), 0.0) AS dang
          FROM {p} r LEFT JOIN od ON r.id = od.id
          WHERE od.id IS NULL
        ),
        r{k} AS MATERIALIZED (
          SELECT nodes.id, nodes.sv,
                 {(1.0 - d)!r} * nodes.sv
                 + {d!r} * (coalesce(c.contrib, 0.0)
                            + (SELECT dang FROM d{k}) * nodes.sv)
                   AS rank
          FROM nodes LEFT JOIN c{k} c ON nodes.id = c.id
        )""")
    parts.append(f"""
        SELECT id, rank AS ppr FROM r{iters}""")
    return "".join(parts)


def _dtw_unrolled(tv_sql: str, pairs_sql: str, n: int, m: int) -> str:
    """DTW DP unrolled over anti-diagonals into generated CTEs —
    recursive CTEs can't take the 3-predecessor min (single recursive
    reference, no aggregation), so each diagonal d is its own CTE with
    LEFT joins to diagonals d-1/d-2; DuckDB's least() skips NULLs, so
    border cells see only their real predecessors and (1,1) falls back
    to coalesce(..., 0). Mirrors operators/dtw.py _dtw_int exactly.
    ``tv_sql`` yields (t, pos 1..n|m, y); ``pairs_sql`` yields (a, b);
    all traces must have the fixed lengths n (a-side) and m (b-side)."""
    empty = ("SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT)"
             " AS b, CAST(NULL AS INT) AS i, CAST(NULL AS INT) AS j,"
             " CAST(NULL AS BIGINT) AS cost WHERE false")
    parts = [f"""
        WITH tv AS MATERIALIZED ({tv_sql}),
        p AS MATERIALIZED ({pairs_sql}),
        diag0 AS ({empty}),
        diag1 AS ({empty})"""]
    for d in range(2, n + m + 1):
        lo, hi = max(1, d - m), min(n, d - 1)
        parts.append(f""",
        diag{d} AS MATERIALIZED (
          SELECT p.a, p.b, CAST(av.pos AS INT) AS i,
                 CAST({d} - av.pos AS INT) AS j,
                 abs(av.y - bv.y)
                 + coalesce(least(u.cost, l.cost, g.cost), 0) AS cost
          FROM p
          JOIN tv av ON av.t = p.a
                    AND av.pos BETWEEN {lo} AND {hi}
          JOIN tv bv ON bv.t = p.b AND bv.pos = {d} - av.pos
          LEFT JOIN diag{d - 1} u ON u.a = p.a AND u.b = p.b
                    AND u.i = av.pos - 1 AND u.j = {d} - av.pos
          LEFT JOIN diag{d - 1} l ON l.a = p.a AND l.b = p.b
                    AND l.i = av.pos AND l.j = {d} - av.pos - 1
          LEFT JOIN diag{d - 2} g ON g.a = p.a AND g.b = p.b
                    AND g.i = av.pos - 1 AND g.j = {d} - av.pos - 1
        )""")
    parts.append(f"""
        SELECT a AS a_id, b AS b_id, CAST({n} AS INT) AS n,
               CAST({m} AS INT) AS m, CAST(cost AS BIGINT) AS dtw
        FROM diag{n + m}""")
    return "".join(parts)


def _ktruss_unrolled(canon_sql: str, k: int = 3,
                     rounds: int = 4) -> str:
    """k-truss peel unrolled into chained CTEs (the _kcore_unrolled
    pattern). Mirrors functions/graph.py ktruss_edges exactly: per
    round one (a<b<c) wedge-join triangle enumeration, 3-way edge
    explode, support count, >= k-2 filter; final support recount on
    the surviving edges. ``canon_sql`` must yield the canonical u<v
    DISTINCT edge list."""
    thresh = int(k) - 2
    parts = [f"""
        WITH e0 AS MATERIALIZED ({canon_sql})"""]
    for r in range(rounds + 1):
        parts.append(f""",
        tr{r} AS MATERIALIZED (
          SELECT w1.u AS a, w1.v AS b, w2.v AS c
          FROM e{r} w1
          JOIN e{r} w2 ON w1.u = w2.u AND w1.v < w2.v
          JOIN e{r} w3 ON w3.u = w1.v AND w3.v = w2.v
        ),
        s{r} AS MATERIALIZED (
          SELECT u, v, CAST(count(*) AS BIGINT) AS sup
          FROM (
            SELECT a AS u, b AS v FROM tr{r}
            UNION ALL SELECT a AS u, c AS v FROM tr{r}
            UNION ALL SELECT b AS u, c AS v FROM tr{r}
          ) GROUP BY u, v
        )""")
        if r < rounds:
            parts.append(f""",
        e{r + 1} AS MATERIALIZED (
          SELECT e.u, e.v FROM e{r} e
          LEFT JOIN s{r} s ON e.u = s.u AND e.v = s.v
          WHERE coalesce(s.sup, 0) >= {thresh}
        )""")
    parts.append(f"""
        SELECT e.u, e.v, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
        FROM e{rounds} e
        LEFT JOIN s{rounds} s ON e.u = s.u AND e.v = s.v""")
    return "".join(parts)


def _viterbi_unrolled(T: int = 12, S: int = 4) -> str:
    """Viterbi max-plus recurrence unrolled per time step into
    generated CTEs. Mirrors operators/viterbi.py viterbi_decode with
    the contract model (init (2s+1)%5, trans (3s'+5s)%7, emit
    (11s+13o)%17) exactly: struct_pack(sc, pv, ph) max implements the
    score-then-larger-prev tiebreak, the final struct_pack(sc, st, ph)
    max the score-then-larger-state rule."""
    states = ", ".join(f"({s})" for s in range(S))
    parts = [f"""
        WITH base AS (
          SELECT ((user_id % 30) + 30) % 30 AS seq, ts, event_id,
                 ((CAST(floor(value) AS BIGINT) % 8) + 8) % 8 AS o
          FROM events
        ),
        ordered AS (
          SELECT seq, o,
                 row_number() OVER (PARTITION BY seq
                                    ORDER BY ts, event_id) AS t
          FROM base
        ),
        obs AS MATERIALIZED (
          SELECT seq, t, o FROM ordered WHERE t <= {T}
        ),
        fullseq AS MATERIALIZED (
          SELECT seq FROM obs GROUP BY seq HAVING count(*) = {T}
        ),
        st(s) AS (VALUES {states}),
        v1 AS MATERIALIZED (
          SELECT obs.seq, st.s AS state,
                 CAST((st.s * 2 + 1) % 5
                      + (st.s * 11 + obs.o * 13) % 17 AS BIGINT)
                   AS score,
                 CAST(st.s AS VARCHAR) AS path
          FROM obs JOIN fullseq USING (seq) CROSS JOIN st
          WHERE obs.t = 1
        )"""]
    for t in range(2, T + 1):
        parts.append(f""",
        v{t} AS MATERIALIZED (
          SELECT m.seq, m.state,
                 m.b.sc + (m.state * 11 + obs.o * 13) % 17 AS score,
                 m.b.ph || '>' || m.state AS path
          FROM (
            SELECT v.seq, st.s AS state,
                   max(struct_pack(
                     sc := v.score + (v.state * 3 + st.s * 5) % 7,
                     pv := v.state, ph := v.path)) AS b
            FROM v{t - 1} v CROSS JOIN st
            GROUP BY v.seq, st.s
          ) m
          JOIN obs ON obs.seq = m.seq AND obs.t = {t}
        )""")
    parts.append(f"""
        SELECT seq AS seq_id, CAST(f.b.st AS INT) AS best_state,
               CAST(f.b.sc AS BIGINT) AS score, f.b.ph AS path
        FROM (
          SELECT seq, max(struct_pack(sc := score, st := state,
                                      ph := path)) AS b
          FROM v{T} GROUP BY seq
        ) f""")
    return "".join(parts)


def _lpa_unrolled(edges_sql: str, iters: int = 5) -> str:
    """Synchronous label propagation unrolled into chained CTEs (the
    _pagerank_unrolled pattern — fixed-round algorithms oracle as
    generated straight-line SQL). Semantics mirror functions/graph.py
    label_propagation exactly: symmetrized distinct edges, label_0 = id,
    per round most-frequent label among neighbours + self, min-label
    ties. Every l{k} is MATERIALIZED (referenced twice per round)."""
    parts = [f"""
        WITH e0 AS ({edges_sql}),
        e AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM e0
            UNION ALL
            SELECT dst AS a, src AS b FROM e0)
          WHERE a <> b),
        l0 AS MATERIALIZED (
          SELECT a AS id, a AS label FROM (SELECT DISTINCT a FROM e))"""]
    for k in range(1, iters + 1):
        p = f"l{k - 1}"
        parts.append(f""",
        v{k} AS MATERIALIZED (
          SELECT id, label, count(*) AS cnt FROM (
            SELECT e.b AS id, l.label FROM e JOIN {p} l ON l.id = e.a
            UNION ALL
            SELECT id, label FROM {p})
          GROUP BY id, label),
        m{k} AS (SELECT id, max(cnt) AS mx FROM v{k} GROUP BY id),
        l{k} AS MATERIALIZED (
          SELECT v.id, min(v.label) AS label
          FROM v{k} v JOIN m{k} m ON v.id = m.id AND v.cnt = m.mx
          GROUP BY v.id)""")
    parts.append(f"""
        SELECT id, label FROM l{iters}""")
    return "".join(parts)


def _bpe_unrolled(rounds: int = 6) -> str:
    """BPE merge learning unrolled into chained CTEs, one block per
    learning round (the _pagerank_unrolled pattern). Semantics mirror
    operators/bpe.py bpe_merges exactly: word-frequency dictionary over
    lowercase [a-z]{2,} whitespace tokens, adjacency pair counts
    weighted by word freq, argmax tie-broken (cnt DESC, a, b), greedy
    left-to-right non-overlapping merge. The merge itself is a
    recursive CTE replacing the LEFTMOST occurrence and rescanning —
    provably the same non-overlapping left-greedy cover the engine's
    Catalyst fold produces. Symbol strings are chr(1)-separated with
    boundary separators so pattern hits are exact symbol-boundary
    matches ([a-z]-only symbols can never contain the separator)."""
    sep = "chr(1)"
    pat = f"{sep} || bb.a || {sep} || bb.b || {sep}"
    parts = [f"""
        WITH RECURSIVE words AS (
          SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(str_split_regex(lower(text), '\\s+')) AS w
                FROM documents)
          WHERE regexp_full_match(w, '[a-z]{{2,}}')
          GROUP BY 1),
        v0 AS MATERIALIZED (
          SELECT word, freq,
                 {sep} || array_to_string(string_split(word, ''), {sep})
                       || {sep} AS s
          FROM words)"""]
    for k in range(1, rounds + 1):
        p = f"v{k - 1}"
        parts.append(f""",
        p{k} AS (
          SELECT sy[i] AS a, sy[i + 1] AS b,
                 CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i
                FROM (SELECT freq,
                             string_split(trim(s, {sep}), {sep}) AS sy
                      FROM {p}))
          GROUP BY 1, 2),
        best{k} AS MATERIALIZED (
          SELECT a, b, cnt FROM p{k}
          ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
        r{k} AS (
          SELECT word, freq, s FROM {p}
          UNION ALL
          SELECT r.word, r.freq,
                 substr(r.s, 1, instr(r.s, {pat}) - 1)
                 || {sep} || bb.a || bb.b || {sep}
                 || substr(r.s, instr(r.s, {pat}) + length({pat}))
          FROM r{k} r, best{k} bb
          WHERE instr(r.s, {pat}) > 0),
        v{k} AS MATERIALIZED (
          SELECT r.word, r.freq, r.s FROM r{k} r, best{k} bb
          WHERE instr(r.s, {pat}) = 0)""")
    sel = "\n          UNION ALL ".join(
        f"SELECT {k} AS step, a AS sym_a, b AS sym_b, a || b AS merged,"
        f" cnt AS pair_count FROM best{k}"
        for k in range(1, rounds + 1))
    parts.append(f"""
        {sel}""")
    return "".join(parts)


def _nf_unrolled(edges_sql: str, t_max: int = 4) -> str:
    """Exact neighborhood function N(t) unrolled: one CTE block per
    hop, each = previous pairs UNION (pairs hopped over an edge),
    DISTINCT. Mirrors functions/neighborhood.py
    neighborhood_function_exact (whose early-exit padding emits the
    same converged counts this straight-line form computes)."""
    parts = [f"""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM ({edges_sql})
          WHERE src IS NOT NULL AND dst IS NOT NULL),
        r0 AS MATERIALIZED (
          SELECT n AS u, n AS v FROM (
            SELECT src AS n FROM e UNION SELECT dst FROM e))"""]
    for t in range(1, t_max + 1):
        parts.append(f""",
        r{t} AS MATERIALIZED (
          SELECT DISTINCT u, v FROM (
            SELECT u, v FROM r{t - 1}
            UNION ALL
            SELECT r.u, e.dst FROM r{t - 1} r JOIN e ON r.v = e.src))""")
    sel = "\n          UNION ALL ".join(
        f"SELECT {t} AS t, CAST(count(*) AS BIGINT) AS pairs FROM r{t}"
        for t in range(0, t_max + 1))
    parts.append(f"""
        {sel}""")
    return "".join(parts)


_KCORE_EDGES_SQL = """
          SELECT doc_id AS src,
                 (doc_id - doc_id % 20) + ((doc_id % 20 + 1) % 13) AS dst
          FROM documents WHERE doc_id % 20 < 13
          UNION ALL
          SELECT doc_id, doc_id + 1
          FROM documents WHERE doc_id % 20 BETWEEN 13 AND 18
          UNION ALL
          SELECT doc_id, doc_id - 13
          FROM documents WHERE doc_id % 20 = 13
"""


def _kcore_unrolled(edges_sql: str, k: int = 2, rounds: int = 10) -> str:
    """Iterative k-core peel unrolled into fixed CTE blocks (mirrors
    functions/graph.py kcore: symmetrized distinct edges, each round
    keeps nodes with induced degree >= k and drops edges touching a
    peeled endpoint). `rounds` must be >= the fixture's peel depth —
    converged rounds are no-ops, so any larger R agrees."""
    parts = [f"""
        WITH raw AS ({edges_sql}),
        e0 AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM raw
            UNION ALL SELECT dst, src FROM raw)
          WHERE a <> b)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
        v{i} AS MATERIALIZED (
          SELECT a FROM (SELECT a, count(*) AS c FROM e{i - 1} GROUP BY a)
          WHERE c >= {k}),
        e{i} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{i - 1} e
          JOIN v{i} x ON e.a = x.a
          JOIN v{i} y ON e.b = y.a)""")
    parts.append(f"""
        SELECT a AS node FROM v{rounds}""")
    return "".join(parts)


def _coverage_unrolled(k: int = 6, n: int = 1) -> str:
    """Greedy max-coverage unrolled into k chained CTE blocks
    (operators/selection.py greedy_max_coverage semantics: marginal
    gain = count of a document's tokens outside the covered set,
    argmax tie-broken (gain DESC, doc_id ASC), covered set grows by
    the pick's tokens; vocabulary unit = word n-gram, the Jaccard
    family's shared tokenization). Each block: anti-join -> per-doc
    count -> LIMIT 1 -> covered-set union."""
    parts = [f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(list_distinct(list_transform(
                     range(0, greatest(len(ws) - {n}, 0) + 1),
                     i -> array_to_string(list_slice(ws, i + 1, i + {n}),
                                          ' ')))) AS tok
            FROM (SELECT doc_id,
                         str_split_regex(lower(text), '\\s+') AS ws
                  FROM documents))
          WHERE tok <> '')"""]
    for i in range(1, k + 1):
        excl = ""
        if i > 1:
            prior = " UNION ALL ".join(
                f"SELECT doc_id FROM b{j}" for j in range(1, i))
            excl = f" AND t.doc_id NOT IN ({prior})"
        if i > 1:
            src = f"""FROM toks t LEFT JOIN cov{i - 1} c ON t.tok = c.tok
              WHERE c.tok IS NULL{excl}"""
        else:
            src = "FROM toks t WHERE TRUE"
        parts.append(f""",
        b{i} AS MATERIALIZED (
          SELECT t.doc_id, CAST(count(*) AS BIGINT) AS gain
          {src}
          GROUP BY t.doc_id
          ORDER BY gain DESC, t.doc_id ASC LIMIT 1)""")
        if i == 1:
            parts.append(""",
        cov1 AS MATERIALIZED (
          SELECT DISTINCT t.tok FROM toks t
          JOIN b1 ON t.doc_id = b1.doc_id)""")
        else:
            parts.append(f""",
        cov{i} AS MATERIALIZED (
          SELECT tok FROM cov{i - 1}
          UNION
          SELECT t.tok FROM toks t JOIN b{i} ON t.doc_id = b{i}.doc_id)""")
    sel = "\n          UNION ALL ".join(
        f"SELECT {i} AS step, doc_id, gain,"
        f" (SELECT count(*) FROM cov{i}) AS covered_total FROM b{i}"
        for i in range(1, k + 1))
    parts.append(f"""
        {sel}""")
    return "".join(parts)


_ORDERS_DIGRAPH_SQL = """
          SELECT o_orderkey AS src,
                 o_orderkey - (o_orderkey % 97) AS dst
          FROM orders
          UNION ALL
          SELECT o_orderkey, o_orderkey - 97
          FROM orders
          WHERE o_orderkey % 293 = 0 AND o_orderkey >= 97
"""

# Deterministic page synthesis shared by link_graph / host_pagerank:
# page url from (source), html with two outbound hrefs rotated across the
# 20 sources — one www+port+tracking variant, one co.uk variant. The
# DuckDB side re-derives the identical strings.
_PAGES_SQL = """
          SELECT doc_id,
                 'https://' || source || '.com/p/' || doc_id AS url,
                 '<html><a href="http://www.src' || ((doc_id + 3) % 20)
                 || '.example.com:80/x/' || (doc_id % 13)
                 || '?utm_source=a&q=' || (doc_id % 5)
                 || '">a</a><p><a href="https://news.src'
                 || ((doc_id + 7) % 20) || '.co.uk:443/y#top">b</a></html>'
                   AS html
          FROM documents
"""

_LINK_GRAPH_SQL = f"""
          WITH pages AS ({_PAGES_SQL}),
          links AS (
            SELECT url, unnest(regexp_extract_all(html,
                       'href="([^"]*)"', 1)) AS link
            FROM pages
          ),
          n AS (
            SELECT
              regexp_replace(
                CASE WHEN s1 LIKE 'www.%' THEN substr(s1, 5) ELSE s1 END,
                ':[0-9]+$', '') AS src_host,
              regexp_replace(
                CASE WHEN s2 LIKE 'www.%' THEN substr(s2, 5) ELSE s2 END,
                ':[0-9]+$', '') AS dst_host
            FROM (
              SELECT
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)) AS s1,
                lower(regexp_extract(link,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)) AS s2
              FROM links
            )
          )
          SELECT src_host, dst_host, count(*) AS n_links
          FROM n
          WHERE src_host <> dst_host
          GROUP BY src_host, dst_host
"""


def _url_normalize_oracle() -> str:
    """DuckDB re-derivation of q_url_normalize: identical deterministic
    URL synthesis, then the same Java∩RE2-portable regex pipeline
    (DuckDB regexp_replace needs the explicit 'g' flag where Spark's is
    global by default)."""
    from cartwright_spark.operators.urltools import SUFFIX2, TRACKING_RE
    url_re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)[?]?([^#]*)"
    sfx = ", ".join(f"'{s}'" for s in SUFFIX2)
    return f"""
        WITH raw AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Alpha/'
                          || doc_id || '?utm_source=feed&id=' || (doc_id % 7)
                          || '&ref=Home#Frag'
              WHEN 1 THEN 'https://news.' || source
                          || '.co.uk:443/Briefing?gclid=' || doc_id
              WHEN 2 THEN 'http://' || source || '.net:8080?b=2&utm_medium=x&a='
                          || (doc_id % 5)
              ELSE 'HtTpS://' || source || '.COM/MiXeD/CaSe/' || doc_id
            END AS url
          FROM documents
        ),
        p AS (
          SELECT doc_id, url,
                 lower(regexp_extract(url, '{url_re}', 1)) AS scheme,
                 lower(regexp_extract(url, '{url_re}', 2)) AS auth,
                 regexp_extract(url, '{url_re}', 3) AS path,
                 regexp_extract(url, '{url_re}', 4) AS query
          FROM raw
        ),
        h AS (
          SELECT *, CASE
              WHEN scheme = 'http' AND auth LIKE '%:80'
                THEN substr(auth, 1, length(auth) - 3)
              WHEN scheme = 'https' AND auth LIKE '%:443'
                THEN substr(auth, 1, length(auth) - 4)
              ELSE auth END AS hp0
          FROM p
        ),
        h2 AS (
          SELECT *, CASE WHEN hp0 LIKE 'www.%' THEN substr(hp0, 5)
                         ELSE hp0 END AS hostport
          FROM h
        ),
        h3 AS (
          SELECT *, regexp_replace(hostport, ':[0-9]+$', '') AS host,
                 CASE WHEN path = '' THEN '/' ELSE path END AS npath,
                 regexp_replace(regexp_replace('&' || query,
                     '{TRACKING_RE}', '', 'g'), '^&+', '') AS q
          FROM h2
        ),
        r AS (
          SELECT *, regexp_extract(host, '[^.]+[.][^.]+$', 0) AS l2,
                 regexp_extract(host, '[^.]+[.][^.]+[.][^.]+$', 0) AS l3
          FROM h3
        )
        SELECT doc_id, url,
               scheme || '://' || hostport || npath
                 || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_norm,
               host,
               CASE WHEN l2 IN ({sfx}) AND l3 <> '' THEN l3
                    WHEN l2 <> '' THEN l2
                    ELSE host END AS registered_domain
        FROM r
    """


def _html_tables_cells_sql() -> str:
    """Shared WITH-chain rebuilding q_html_table_cells in DuckDB: the
    synthesized page HTML (pure || concatenation on doc_id), the th->td
    normalization, the three-level lazy-group regex explode
    (generate_subscripts/unnest = posexplode), and the extract.py
    entity/whitespace cell cleanup. Ends at CTE ``cleaned``."""
    return """
        WITH src AS (
          SELECT doc_id,
            '<html><body><h1>doc</h1><table class="d"><tr><th>station'
            || '</th><th>lat</th><th>year</th></tr><tr><td>st-'
            || CAST(doc_id AS VARCHAR) || '</td><td>'
            || CAST(doc_id % 181 - 90 AS VARCHAR) || '</td><td>'
            || CAST(doc_id % 301 + 1800 AS VARCHAR)
            || '</td></tr><tr><td>st &amp; co</td><td>'
            || CAST((doc_id * 7) % 179 - 89 AS VARCHAR) || '.'
            || CAST(doc_id % 10 AS VARCHAR) || '</td><td>'
            || CAST((doc_id * 3) % 301 + 1800 AS VARCHAR)
            || '</td></tr></table><p>noise</p><table><tr>'
            || '<td> <b>bold</b> cell </td><td>42.5</td></tr></table>'
            || '</body></html>' AS html
          FROM documents
        ),
        norm AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(html, '(?i)<th\\b', '<td',
                                               'g'),
                                '(?i)</th>', '</td>', 'g') AS h
          FROM src
        ),
        tl AS (
          SELECT doc_id,
                 regexp_extract_all(h, '(?is)<table\\b[^>]*>(.*?)</table>',
                                    1) AS ts
          FROM norm
        ),
        tbl AS (
          SELECT doc_id,
                 CAST(generate_subscripts(ts, 1) - 1 AS BIGINT)
                   AS table_idx,
                 unnest(ts) AS t
          FROM tl
        ),
        rl AS (
          SELECT doc_id, table_idx,
                 regexp_extract_all(t, '(?is)<tr\\b[^>]*>(.*?)</tr>', 1)
                   AS rs
          FROM tbl
        ),
        rowx AS (
          SELECT doc_id, table_idx,
                 CAST(generate_subscripts(rs, 1) - 1 AS BIGINT) AS row_idx,
                 unnest(rs) AS r
          FROM rl
        ),
        cl AS (
          SELECT doc_id, table_idx, row_idx,
                 regexp_extract_all(r, '(?is)<td\\b[^>]*>(.*?)</td>', 1)
                   AS cs
          FROM rowx
        ),
        cellx AS (
          SELECT doc_id, table_idx, row_idx,
                 CAST(generate_subscripts(cs, 1) - 1 AS BIGINT) AS col_idx,
                 unnest(cs) AS raw
          FROM cl
        ),
        cleaned AS (
          SELECT doc_id, table_idx, row_idx, col_idx,
                 trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                     regexp_replace(raw, '<[^>]*>', ' ', 'g'),
                     '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                     '&quot;', '"'), '&copy;', '(c)'), '&#39;', ''''),
                   '\\s+', ' ', 'g')) AS cell
          FROM cellx
        )
    """


def _anchor_text_oracle() -> str:
    """DuckDB replay of q_anchor_text: identical page synthesis (list
    indexing mirrors element_at), the SAME ANCHOR_RE constant for both
    aligned capture-group extracts, clean_html_text's replace chain,
    the link-host canonicalization twin, and the term split + stopword
    filter verbatim from ANCHOR_STOPWORDS."""
    from cartwright_spark.operators.urltools import (
        ANCHOR_RE,
        ANCHOR_STOPWORDS,
    )
    ws = ", ".join(f"'{w}'" for w in _ANCHOR_WORDS)
    stop = ", ".join(f"'{w}'" for w in ANCHOR_STOPWORDS)
    return f"""
        WITH pages AS (
          SELECT doc_id,
                 'https://' || source || '.com/p/' || doc_id AS url,
                 '<html><a href="http://www.src' || ((doc_id + 3) % 20)
                 || '.example.com:80/x/' || (doc_id % 13)
                 || '" class="l"><b>' || ([{ws}])[(doc_id % 10) + 1]
                 || '</b> the ' || ([{ws}])[((doc_id * 3 + 1) % 10) + 1]
                 || ' guide</a><p><a href="https://news.src'
                 || ((doc_id + 7) % 20) || '.co.uk:443/y#top">'
                 || ([{ws}])[((doc_id * 7 + 2) % 10) + 1]
                 || ' &amp; ' || ([{ws}])[((doc_id + 5) % 10) + 1]
                 || ' news</a></html>' AS html
          FROM documents
        ),
        la AS (
          SELECT url,
                 regexp_extract_all(html, '{ANCHOR_RE}', 1) AS hs,
                 regexp_extract_all(html, '{ANCHOR_RE}', 2) AS ts
          FROM pages
        ),
        px AS (
          SELECT url, generate_subscripts(hs, 1) AS p,
                 unnest(hs) AS link, ts
          FROM la
        ),
        cl AS (
          SELECT url, link,
                 trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                     regexp_replace(ts[p], '<[^>]*>', ' ', 'g'),
                     '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                     '&quot;', '"'), '&copy;', '(c)'), '&#39;', ''''),
                   '\\s+', ' ', 'g')) AS anchor
          FROM px
        ),
        hn AS (
          SELECT url, anchor,
                 regexp_replace(
                   CASE WHEN h LIKE 'www.%' THEN substr(h, 5) ELSE h END,
                   ':[0-9]+$', '') AS dst_host
          FROM (SELECT url, anchor,
                       lower(regexp_extract(link,
                         '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2))
                         AS h
                FROM cl)
        ),
        tm AS (
          SELECT url, dst_host,
                 unnest(string_split_regex(lower(anchor), '[^a-z]+'))
                   AS term
          FROM hn
        )
        SELECT dst_host, term,
               COUNT(DISTINCT url) AS n_pages,
               CAST(COUNT(*) AS BIGINT) AS n_anchors
        FROM tm
        WHERE term <> '' AND term NOT IN ({stop})
        GROUP BY 1, 2
    """


def oracle_sql() -> dict[str, str]:
    from cartwright_spark.sources import gazetteers as gz
    from cartwright_spark.spatial.colocation import (
        knox_sql as _knox_sql,
        lift_sql as _lift_sql,
    )
    from cartwright_spark.spatial.kde import kde_term_sql as _kde_term_sql
    from cartwright_spark.spatial.mapmatch import snap_sql as _snap_sql
    from cartwright_spark.operators.burst import burst_sql as _burst_sql
    from cartwright_spark.spatial.trend import mk_z_sql as _mk_z_sql
    from cartwright_spark.spatial.autocorr import (
        gistar_sql as _gistar_sql,
        moran_global_sql as _moran_global_sql,
        moran_local_sql as _moran_local_sql,
        geary_global_sql as _geary_global_sql,
        geary_local_sql as _geary_local_sql,
    )
    from cartwright_spark.operators.trajectory import (
        octant_sql as _octant_sql_fn,
    )
    iso3_values = ", ".join(f"('{c}')" for c in sorted(gz.iso3_set()))
    from cartwright_spark.spatial.measures import sde_sql as _sde_sql_fn
    _sk = _snap_sql()
    _octant_sql = _octant_sql_fn()
    _sde = _sde_sql_fn()
    from cartwright_spark.spatial.hilbert import hilbert_sql as _hsql
    _hilbert_tiles_sql = """
        SELECT tx, ty, COUNT(*) AS n_points
        FROM (
          SELECT
            CAST(least(greatest(floor((lon + 180.0) / 360.0 * 64), 0),
                       63) AS BIGINT) AS tx,
            CAST(least(greatest(floor((1.0 - ln(tan(radians(
                   least(greatest(lat, -85.05112878), 85.05112878)))
                 + 1.0 / cos(radians(least(greatest(lat, -85.05112878),
                   85.05112878)))) / pi()) / 2.0 * 64), 0), 63)
                 AS BIGINT) AS ty
          FROM (""" + _COORDS_SQL + """)
        ) GROUP BY 1, 2
    """
    return {
        "hilbert_order": _hsql(_hilbert_tiles_sql,
                               ["tx", "ty", "n_points"], "tx", "ty",
                               order=6),
        "anchor_text": _anchor_text_oracle(),
        "kmv_intersection": """
            WITH va AS (
              SELECT DISTINCT CAST(('0x' || substr(md5(
                       CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h
              FROM orders WHERE o_orderpriority = '1-URGENT'
            ),
            vb AS (
              SELECT DISTINCT CAST(('0x' || substr(md5(
                       CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h
              FROM orders WHERE o_orderpriority = '2-HIGH'
            ),
            sa AS (SELECT h FROM va ORDER BY h LIMIT 64),
            sb AS (SELECT h FROM vb ORDER BY h LIMIT 64),
            merged AS (
              SELECT h, max(in_a) AS in_a, max(in_b) AS in_b
              FROM (SELECT h, 1 AS in_a, 0 AS in_b FROM sa
                    UNION ALL
                    SELECT h, 0, 1 FROM sb)
              GROUP BY h
            ),
            un AS (SELECT * FROM merged ORDER BY h LIMIT 64),
            agg AS (
              SELECT COUNT(*) AS union_kept, max(h) AS kth_hash,
                     CAST(SUM(in_a * in_b) AS BIGINT) AS n_common
              FROM un
            )
            SELECT CAST(64 AS INT) AS k, union_kept, n_common,
                   CASE WHEN union_kept < 64
                        THEN CAST(union_kept AS DOUBLE)
                        ELSE 270582939648.0 / CAST(kth_hash AS DOUBLE)
                   END AS est_union,
                   CAST(n_common AS DOUBLE) / CAST(union_kept AS DOUBLE)
                     AS jaccard,
                   (CAST(n_common AS DOUBLE) / CAST(union_kept AS DOUBLE))
                   * CASE WHEN union_kept < 64
                          THEN CAST(union_kept AS DOUBLE)
                          ELSE 270582939648.0 / CAST(kth_hash AS DOUBLE)
                     END AS est_intersection
            FROM agg
        """,
        "rake_keywords": _rake_oracle(),
        "heavy_hitters": """
            WITH toks AS (
              SELECT t AS term FROM (
                SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                       AS t
                FROM documents)
              WHERE t <> ''
            ),
            n AS (SELECT count(*) AS n_total FROM toks)
            SELECT term, count(*) AS freq,
                   (SELECT n_total FROM n) AS n_total
            FROM toks GROUP BY term
            HAVING count(*) * 150 > (SELECT n_total FROM n)
        """,
        "crawl_frontier": f"""
            WITH u AS ({_url_normalize_oracle()}),
            pr AS (
              SELECT host, url_norm,
                     max((doc_id * 37) % 100) AS priority
              FROM u GROUP BY 1, 2
            ),
            wv AS (
              SELECT url_norm AS url, host, priority,
                     CAST(row_number() OVER (
                       PARTITION BY host
                       ORDER BY priority DESC, url_norm ASC) AS INT)
                       AS wave
              FROM pr
            )
            SELECT url, host, priority, wave,
                   CAST(wave - 1 AS DOUBLE) * 0.5 AS fetch_offset_s
            FROM wv WHERE wave <= 50
        """,
        "html_table_cells": _html_tables_cells_sql() + """
            SELECT doc_id, table_idx, row_idx, col_idx, cell FROM cleaned
        """,
        "html_table_profile": _html_tables_cells_sql() + """
            , data AS (
              SELECT * FROM cleaned WHERE row_idx > 0 AND cell <> ''
            ),
            prof AS (
              SELECT doc_id, table_idx, col_idx,
                     COUNT(*) AS n_cells,
                     CAST(SUM(CASE WHEN regexp_full_match(cell,
                         '-?\\d+(\\.\\d+)?') THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_numeric,
                     CAST(SUM(CASE WHEN regexp_full_match(cell,
                         '-?\\d+(\\.\\d+)?')
                         AND abs(TRY_CAST(cell AS DOUBLE)) <= 90.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lat,
                     CAST(SUM(CASE WHEN regexp_full_match(cell,
                         '(1[89]\\d\\d|20\\d\\d|2100)') THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_year
              FROM data GROUP BY 1, 2, 3
            )
            SELECT doc_id, table_idx, col_idx, n_cells, n_numeric, n_lat,
                   n_year,
                   CASE WHEN n_year = n_cells THEN 'year'
                        WHEN n_lat = n_cells THEN 'latitude'
                        WHEN n_numeric = n_cells THEN 'number'
                        ELSE 'string' END AS category
            FROM prof
        """,
        "contour_segments": _contour_oracle_sql(),
        "dissolve_boundary": _dissolve_oracle_sql(),
        "compact_cells": _compact_oracle_sql(),
        "psi_drift": """
            WITH base AS (
              SELECT event_type AS grp,
                     CAST(least(greatest(
                       floor(value / CAST(5.0 AS DOUBLE)), 0), 19)
                       AS BIGINT) AS bucket,
                     ts < TIMESTAMP '2024-01-16' AS is_ref
              FROM events WHERE value IS NOT NULL
            ),
            cnt AS (
              SELECT grp, bucket,
                     CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)
                          AS BIGINT) AS c_ref,
                     CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END)
                          AS BIGINT) AS c_cur
              FROM base GROUP BY 1, 2
            ),
            allb AS (
              SELECT g.grp, CAST(u.b AS BIGINT) AS bucket
              FROM (SELECT DISTINCT grp FROM cnt) g,
                   unnest(generate_series(0, 19)) AS u(b)
            ),
            d AS (
              SELECT f.grp, f.bucket,
                     coalesce(c.c_ref, 0) AS c_ref,
                     coalesce(c.c_cur, 0) AS c_cur
              FROM allb f LEFT JOIN cnt c
                ON f.grp = c.grp AND f.bucket = c.bucket
            ),
            t AS (
              SELECT grp, c_ref, c_cur,
                     CAST(sum(c_ref) OVER (PARTITION BY grp)
                          AS BIGINT) AS n_ref,
                     CAST(sum(c_cur) OVER (PARTITION BY grp)
                          AS BIGINT) AS n_cur
              FROM d
            )
            SELECT grp,
                   CAST(max(n_ref) AS BIGINT) AS n_ref,
                   CAST(max(n_cur) AS BIGINT) AS n_cur,
                   round(sum(
                     (CAST(c_ref + 1 AS DOUBLE)
                        / CAST(n_ref + 20 AS DOUBLE)
                      - CAST(c_cur + 1 AS DOUBLE)
                        / CAST(n_cur + 20 AS DOUBLE))
                     * ln((CAST(c_ref + 1 AS DOUBLE)
                           / CAST(n_ref + 20 AS DOUBLE))
                          / (CAST(c_cur + 1 AS DOUBLE)
                             / CAST(n_cur + 20 AS DOUBLE)))), 7) AS psi
            FROM t GROUP BY 1
        """,
        "winnow_fingerprint": """
            WITH RECURSIVE powers(pos, pw, ipw) AS (
              SELECT 1, CAST(31 AS BIGINT), CAST(129032259 AS BIGINT)
              UNION ALL
              SELECT pos + 1, (pw * 31) % 1000000007,
                     (ipw * 129032259) % 1000000007
              FROM powers WHERE pos < 800
            ),
            chars AS (
              SELECT doc_id,
                     CAST(generate_subscripts(cs, 1) AS BIGINT) AS pos,
                     unnest(cs) AS c
              FROM (SELECT doc_id,
                           str_split(substr(text, 1, 800), '') AS cs
                    FROM documents)
            ),
            t AS (
              SELECT doc_id, pos, ipw,
                     CAST((ascii(c) * pw) % 1000000007 AS BIGINT) AS t
              FROM chars JOIN powers USING (pos)
            ),
            s AS (
              SELECT doc_id, pos, ipw,
                     CAST(sum(t) OVER (PARTITION BY doc_id
                                       ORDER BY pos) AS BIGINT) AS pk
              FROM t
            ),
            g AS (
              SELECT doc_id, pos,
                     (((lead_pk - prev_pk) % 1000000007) * ipw)
                       % 1000000007 AS h
              FROM (SELECT doc_id, pos, ipw,
                           lead(pk, 7) OVER w AS lead_pk,
                           coalesce(lag(pk, 1) OVER w, 0) AS prev_pk
                    FROM s
                    WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
              WHERE lead_pk IS NOT NULL
            ),
            nk AS (
              SELECT doc_id, count(*) AS nk FROM g GROUP BY doc_id
            ),
            wins AS (
              SELECT g.doc_id, g.pos - o.o AS t, g.pos, g.h
              FROM g
              JOIN nk USING (doc_id)
              CROSS JOIN generate_series(0, 3) o(o)
              WHERE g.pos - o.o >= 1
                AND g.pos - o.o <= greatest(1, nk.nk - 3)
            ),
            picked AS (
              SELECT doc_id, pos, h,
                     row_number() OVER (PARTITION BY doc_id, t
                                        ORDER BY h ASC, pos DESC) AS rn
              FROM wins
            )
            SELECT DISTINCT doc_id, pos, CAST(h AS BIGINT) AS fp
            FROM picked WHERE rn = 1
        """,
        "cdc_dedup": """
            WITH RECURSIVE powers(pos, pw) AS (
              SELECT 1, CAST(31 AS BIGINT)
              UNION ALL
              SELECT pos + 1, CAST((pw * 31) % 1000000007 AS BIGINT)
              FROM powers WHERE pos < 2000
            ),
            chars AS (
              SELECT doc_id,
                     CAST(generate_subscripts(cs, 1) AS BIGINT) AS pos,
                     unnest(cs) AS c
              FROM (SELECT doc_id,
                           str_split(substr(text, 1, 2000), '') AS cs
                    FROM documents)
            ),
            t AS (
              SELECT doc_id, pos, c,
                     CAST((ascii(c) * pw) % 1000000007 AS BIGINT) AS t
              FROM chars JOIN powers USING (pos)
            ),
            s1 AS (
              SELECT doc_id, pos, c,
                     CAST(sum(t) OVER w1 AS BIGINT) AS pk
              FROM t WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)
            ),
            s2 AS (
              SELECT doc_id, pos, c,
                     CASE WHEN pos >= 16
                           AND ((pk - coalesce(lag(pk, 16) OVER w2, 0))
                                % 1000000007) % 64 = 0
                          THEN 1 ELSE 0 END AS flag
              FROM s1 WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
            ),
            s3 AS (
              SELECT doc_id, pos, c,
                     CAST(sum(flag) OVER w3 - flag AS BIGINT) AS chunk_id
              FROM s2 WINDOW w3 AS (PARTITION BY doc_id ORDER BY pos)
            ),
            chunks AS (
              SELECT doc_id, chunk_id,
                     CAST(count(*) AS BIGINT) AS n_chars,
                     md5(string_agg(c, '' ORDER BY pos)) AS chunk_hash
              FROM s3 GROUP BY 1, 2
            )
            SELECT chunk_hash,
                   CAST(max(n_chars) AS BIGINT) AS n_chars,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM chunks
            GROUP BY 1 HAVING count(*) > 1
        """,
        "douglas_peucker": _dp_oracle_sql(),
        "cusum_changepoint": """
            WITH e AS (
              SELECT user_id AS grp, ts,
                     CAST(round(value * 100) AS BIGINT) AS x
              FROM events WHERE value IS NOT NULL
            ),
            b AS (
              SELECT grp, ts, x,
                     row_number() OVER w AS k,
                     CAST(sum(x) OVER w AS BIGINT) AS s
              FROM e WINDOW w AS (PARTITION BY grp ORDER BY ts, x)
            ),
            t AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sn
              FROM e GROUP BY 1
            ),
            sc AS (
              SELECT b.grp, b.ts, CAST(b.k AS BIGINT) AS k, t.n,
                     abs(t.n * b.s - b.k * t.sn) AS a
              FROM b JOIN t USING (grp) WHERE b.k < t.n
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY grp ORDER BY a DESC, k ASC) AS rn
              FROM sc
            )
            SELECT grp, n, k AS k_star, ts AS ts_split,
                   CAST(a AS BIGINT) AS stat,
                   round(CAST(a AS DOUBLE)
                         / CAST(k * (n - k) AS DOUBLE), 7) AS shift
            FROM r WHERE rn = 1
        """,
        "suffix_array": """
            WITH s AS (
              SELECT substr(string_agg(text, chr(10) ORDER BY doc_id),
                            1, 8000) AS str
              FROM documents
            ),
            ix AS (
              SELECT CAST(unnest(generate_series(1, len(str)))
                          AS BIGINT) AS i
              FROM s
            )
            SELECT ix.i,
                   CAST(row_number() OVER (
                     ORDER BY substr(s.str, CAST(ix.i AS INT)))
                     AS BIGINT) AS rank
            FROM ix, s
        """,
        "rasterize_polygons": _raster_ctes_sql() + """
            SELECT pid AS poly_id, gx, gy FROM hits WHERE k % 2 = 1
        """,
        "raster_overlay": _raster_ctes_sql() + """
            , inside AS (
              SELECT pid, gx, gy FROM hits WHERE k % 2 = 1),
            areas AS (
              SELECT pid, CAST(count(*) AS BIGINT) AS area
              FROM inside GROUP BY pid),
            pairs AS (
              SELECT a.pid AS id_a, b.pid AS id_b,
                     CAST(count(*) AS BIGINT) AS inter_area
              FROM inside a JOIN inside b
                ON a.gx = b.gx AND a.gy = b.gy AND a.pid < b.pid
              GROUP BY 1, 2)
            SELECT p.id_a, p.id_b, p.inter_area,
                   x.area AS area_a, y.area AS area_b
            FROM pairs p
            JOIN areas x ON p.id_a = x.pid
            JOIN areas y ON p.id_b = y.pid
        """,
        "gini_concentration": """
            WITH v AS (
              SELECT l_returnflag AS grp,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS y
              FROM lineitem
            ),
            r AS (
              SELECT grp, y,
                     row_number() OVER (PARTITION BY grp ORDER BY y)
                       AS i
              FROM v
            ),
            a AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS total,
                     sum(i * y) AS iy  -- HUGEINT: int64 overflows at 10x
              FROM r GROUP BY 1
            )
            SELECT grp, n, total,
                   round(CASE WHEN n * total > 0
                              THEN CAST(2 * iy - (n + 1) * total AS DOUBLE)
                                   / CAST(n * total AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END, 7) AS gini
            FROM a
        """,
        "isotonic_fit": """
            WITH raw AS (
              SELECT CAST(c_nationkey AS BIGINT) AS grp,
                     CAST(c_custkey % 101 AS BIGINT) AS x,
                     CAST(3 * (c_custkey % 101)
                          + (c_custkey * 13) % 41 - 20 AS BIGINT) AS y
              FROM customer
            ),
            atoms AS (
              SELECT grp, x, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s
              FROM raw GROUP BY 1, 2
            ),
            p AS (
              SELECT grp, x, n, s,
                     row_number() OVER w AS rn,
                     CAST(sum(n) OVER w AS BIGINT) AS cn,
                     CAST(sum(s) OVER w AS BIGINT) AS cs
              FROM atoms WINDOW w AS (PARTITION BY grp ORDER BY x)
            ),
            pairs AS (
              SELECT j.grp, j.rn AS j, k.rn AS k,
                     CAST(k.cs - j.cs + j.s AS DOUBLE)
                       / CAST(k.cn - j.cn + j.n AS DOUBLE) AS m
              FROM p j JOIN p k ON j.grp = k.grp AND j.rn <= k.rn
            ),
            sm AS (
              SELECT grp, j, k AS i,
                     min(m) OVER (PARTITION BY grp, j
                                  ORDER BY k DESC) AS mn
              FROM pairs
            ),
            f AS (
              SELECT grp, i, j,
                     max(mn) OVER (PARTITION BY grp, i ORDER BY j) AS fit
              FROM sm
            ),
            fit AS (SELECT grp, i AS rn, fit FROM f WHERE j = i)
            SELECT p.grp,
                   min(p.x) AS x_lo, max(p.x) AS x_hi,
                   CAST(sum(p.n) AS BIGINT) AS n_pts,
                   CAST(sum(p.s) AS BIGINT) AS y_sum,
                   round(CAST(sum(p.s) AS DOUBLE)
                         / CAST(sum(p.n) AS DOUBLE), 7) AS fitted
            FROM p JOIN fit ON p.grp = fit.grp AND p.rn = fit.rn
            GROUP BY p.grp, round(fit.fit, 7)
        """,
        "convex_hull": """
            WITH pts AS (
              SELECT CAST(c_nationkey AS BIGINT) AS grp,
                     CAST((c_custkey * 37) % 201 - 100 AS BIGINT) AS x,
                     CAST((c_custkey * 73) % 201 - 100 AS BIGINT) AS y
              FROM customer
            ),
            ux AS (SELECT grp, x, max(y) AS y FROM pts GROUP BY 1, 2),
            lx AS (SELECT grp, x, min(y) AS y FROM pts GROUP BY 1, 2),
            uh AS (
              SELECT p.grp, p.x, p.y FROM ux p
              WHERE NOT EXISTS (
                SELECT 1 FROM ux a JOIN ux b ON a.grp = b.grp
                WHERE a.grp = p.grp AND a.x < p.x AND b.x > p.x
                  AND (b.x - a.x) * (p.y - a.y)
                      <= (b.y - a.y) * (p.x - a.x))
            ),
            lh AS (
              SELECT p.grp, p.x, p.y FROM lx p
              WHERE NOT EXISTS (
                SELECT 1 FROM lx a JOIN lx b ON a.grp = b.grp
                WHERE a.grp = p.grp AND a.x < p.x AND b.x > p.x
                  AND (b.x - a.x) * (p.y - a.y)
                      >= (b.y - a.y) * (p.x - a.x))
            )
            SELECT grp, x, y FROM uh
            UNION
            SELECT grp, x, y FROM lh
        """,
        "funnel_steps": """
            WITH e AS (
              SELECT user_id AS u, ts, event_type AS et FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            ),
            s1 AS (
              SELECT u, min(ts) AS t1 FROM e
              WHERE et = 'view' GROUP BY 1
            ),
            s2 AS (
              SELECT e.u, min(e.ts) AS t2
              FROM e JOIN s1 ON e.u = s1.u
              WHERE e.et = 'click' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL 7200 SECOND
              GROUP BY 1
            ),
            s3 AS (
              SELECT e.u, min(e.ts) AS t3
              FROM e JOIN s1 ON e.u = s1.u
                     JOIN s2 ON e.u = s2.u
              WHERE e.et = 'purchase' AND e.ts > s2.t2
                AND e.ts <= s1.t1 + INTERVAL 7200 SECOND
              GROUP BY 1
            )
            SELECT us.u AS user,
                   CAST(CASE WHEN t3 IS NOT NULL THEN 3
                             WHEN t2 IS NOT NULL THEN 2
                             WHEN t1 IS NOT NULL THEN 1
                             ELSE 0 END AS BIGINT) AS steps_completed,
                   t1, t2, t3
            FROM (SELECT DISTINCT u FROM e) us
            LEFT JOIN s1 ON us.u = s1.u
            LEFT JOIN s2 ON us.u = s2.u
            LEFT JOIN s3 ON us.u = s3.u
        """,
        "boilerplate_lines": """
            WITH base AS (
              SELECT doc_id, text,
                     CASE WHEN doc_id % 2 = 0 THEN upper(f) ELSE f END AS f
              FROM (
                SELECT doc_id, text,
                       (['Copyright 2024 Example Corp',
                         'ACCEPT ALL COOKIES',
                         'Subscribe to our newsletter'])
                         [CAST(doc_id % 3 + 1 AS INT)] AS f
                FROM documents)
            ),
            pages AS (
              SELECT doc_id,
                     concat_ws(chr(10), text, f,
                               CASE WHEN doc_id % 7 = 0 THEN f END,
                               'doc-' || CAST(doc_id AS VARCHAR)) AS page
              FROM base
            ),
            lines AS (
              SELECT doc_id,
                     generate_subscripts(str_split(page, chr(10)), 1)
                       AS pos,
                     unnest(str_split(page, chr(10))) AS line
              FROM pages
            ),
            flags AS (
              SELECT norm FROM (
                SELECT DISTINCT lower(trim(line)) AS norm, doc_id
                FROM lines)
              GROUP BY norm HAVING count(*) >= 50
            )
            SELECT l.doc_id AS id,
                   coalesce(string_agg(
                     CASE WHEN f.norm IS NULL THEN l.line END,
                     chr(10) ORDER BY l.pos), '') AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN f.norm IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
            FROM lines l
            LEFT JOIN flags f ON lower(trim(l.line)) = f.norm
            GROUP BY 1
        """,
        "prefix_jaccard": """
            WITH g AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(ws) - 3, 0) + 1),
                       i -> array_to_string(list_slice(ws, i + 1, i + 3),
                                            ' '))) AS grams
              FROM (SELECT doc_id,
                           str_split_regex(lower(text), '\\s+') AS ws
                    FROM documents)
            ),
            s AS (SELECT doc_id, grams, len(grams) AS L FROM g),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT)
                       AS inter,
                     CAST(a.L + b.L
                          - len(list_intersect(a.grams, b.grams)) AS BIGINT)
                       AS union_sz
              FROM s a JOIN s b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, inter, union_sz,
                   round(CAST(inter AS DOUBLE)
                         / greatest(union_sz, 1), 6) AS jaccard
            FROM p
            WHERE CAST(inter AS DOUBLE) / greatest(union_sz, 1)
                  >= CAST(0.5 AS DOUBLE)
        """,
        "deletion_join": """
            WITH vocab AS (
              SELECT DISTINCT translate(CAST(c_custkey % 3000 AS VARCHAR),
                                        '0123456789', 'abcdefghij') AS term
              FROM customer
            )
            SELECT a.term AS term_a, b.term AS term_b,
                   CAST(levenshtein(a.term, b.term) AS BIGINT) AS dist
            FROM vocab a JOIN vocab b
              ON a.term < b.term
             AND abs(length(a.term) - length(b.term)) <= 1
            WHERE levenshtein(a.term, b.term) <= 1
        """,
        "cost_distance": """
            WITH RECURSIVE pts AS (
              SELECT CAST((c_custkey * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((c_custkey * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
                     c_custkey % 97 = 0 AS is_seed
              FROM customer
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) * 100000
                     + CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                  / CAST(10.0 AS DOUBLE)) AS BIGINT)
                       AS cell_id,
                     CAST(count(*) AS BIGINT) AS w,
                     max(CASE WHEN is_seed THEN 1 ELSE 0 END) AS s
              FROM pts GROUP BY 1
            ),
            r AS (
              SELECT cell_id, CAST(0 AS BIGINT) AS cost, 0 AS hops
              FROM cells WHERE s = 1
              UNION
              SELECT c.cell_id, r.cost + c.w, r.hops + 1
              FROM r JOIN cells c
                ON c.cell_id IN (r.cell_id + 1, r.cell_id - 1,
                                 r.cell_id + 100000, r.cell_id - 100000)
              WHERE r.hops < 6
            )
            SELECT cell_id, CAST(min(cost) AS BIGINT) AS cost
            FROM r GROUP BY 1
        """,
        "adaptive_tiles": """
            WITH pts AS (
              SELECT CAST((p_partkey * 37) % 1701 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS lat,
                     CAST((p_partkey * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM part
            ),
            base AS (
              SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 64),
                                         0), 63) AS BIGINT) AS tx,
                     CAST(least(greatest(floor((1.0 - ln(tan(radians(
                         least(greatest(lat, -85.05112878), 85.05112878)))
                         + 1.0 / cos(radians(least(greatest(lat,
                         -85.05112878), 85.05112878)))) / pi())
                         / 2.0 * 64), 0), 63) AS BIGINT) AS ty,
                     CAST(count(*) AS BIGINT) AS n
              FROM pts GROUP BY 1, 2
            ),
            pyr AS (
              SELECT CAST(6 - k AS BIGINT) AS z,
                     tx // (1 << k) AS tile_x,
                     ty // (1 << k) AS tile_y,
                     CAST(sum(n) AS BIGINT) AS n_points
              FROM base, range(0, 7) t(k)
              GROUP BY 1, 2, 3
            )
            SELECT c.z, c.tile_x, c.tile_y, c.n_points,
                   (c.z = 6 AND c.n_points > 25) AS overflow
            FROM pyr c LEFT JOIN pyr p
              ON p.z = c.z - 1 AND p.tile_x = c.tile_x // 2
             AND p.tile_y = c.tile_y // 2
            WHERE (c.n_points <= 25
                   AND (p.n_points IS NULL OR p.n_points > 25))
               OR (c.z = 6 AND c.n_points > 25)
        """,
        "term_cooccurrence": """
            WITH pairs AS (
              SELECT DISTINCT doc_id AS doc, w.term
              FROM documents,
                   unnest(string_split_regex(lower(text), '\\s+'))
                     AS w(term)
              WHERE w.term <> ''
            ),
            vocab AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM pairs GROUP BY 1
              HAVING count(*) BETWEEN 2 AND 1000000000
            ),
            capped AS (
              SELECT doc, term, df FROM (
                SELECT p.doc, p.term, v.df,
                       row_number() OVER (PARTITION BY p.doc
                                          ORDER BY v.df, p.term) AS rn
                FROM pairs p JOIN vocab v USING (term)
              ) WHERE rn <= 16
            ),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents),
            co AS (
              SELECT a.term AS term_a, b.term AS term_b,
                     CAST(count(*) AS BIGINT) AS c_ab,
                     a.df AS df_a, b.df AS df_b
              FROM capped a JOIN capped b
                ON a.doc = b.doc AND a.term < b.term
              GROUP BY 1, 2, 4, 5
              HAVING count(*) >= 2
            )
            SELECT term_a, term_b, c_ab, df_a, df_b,
                   CAST(c_ab AS DOUBLE) * CAST(n_docs AS DOUBLE)
                     / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))
                     AS lift
            FROM co CROSS JOIN n
        """,
        "pareto_front": """
            WITH scored AS (
              SELECT lang AS grp, doc_id AS id,
                     CAST(n_chars AS BIGINT) AS x,
                     CAST((doc_id * 7919) % 1000 AS BIGINT) AS y
              FROM documents
            ),
            swept AS (
              SELECT grp, id, x, y,
                     max(y) OVER (PARTITION BY grp
                                  ORDER BY x DESC, y DESC, id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS by
              FROM scored
            )
            SELECT grp, id, x, y FROM swept
            WHERE by IS NULL OR y > by
        """,
        "grid_bfs_hops": """
            WITH RECURSIVE pts AS (
              SELECT CAST((c_custkey * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((c_custkey * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
                     c_custkey % 97 = 0 AS is_seed
              FROM customer
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) * 100000
                     + CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                  / CAST(10.0 AS DOUBLE)) AS BIGINT)
                       AS cell_id,
                     max(CASE WHEN is_seed THEN 1 ELSE 0 END) AS s
              FROM pts GROUP BY 1
            ),
            r AS (
              SELECT cell_id, CAST(0 AS BIGINT) AS hops
              FROM cells WHERE s = 1
              UNION
              SELECT c.cell_id, r.hops + 1
              FROM r JOIN cells c
                ON c.cell_id IN (r.cell_id + 1, r.cell_id - 1,
                                 r.cell_id + 100000, r.cell_id - 100000)
              WHERE r.hops < 8
            )
            SELECT cell_id, CAST(min(hops) AS BIGINT) AS hops
            FROM r GROUP BY 1
        """,
        "inverted_index": """
            WITH pairs AS (
              SELECT DISTINCT doc_id AS doc, w.term
              FROM documents,
                   unnest(string_split_regex(lower(text), '\\s+'))
                     AS w(term)
              WHERE w.term <> ''
            ),
            stats AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM pairs GROUP BY 1
              HAVING count(*) >= 2
            ),
            posts AS (
              SELECT p.term,
                     string_agg(CAST(p.doc AS VARCHAR), ','
                                ORDER BY p.doc) AS postings
              FROM pairs p JOIN stats s
                ON s.term = p.term AND s.df <= 50
              GROUP BY 1
            )
            SELECT s.term, s.df, po.postings
            FROM stats s LEFT JOIN posts po ON po.term = s.term
        """,
        "std_ellipse": f"""
            WITH pts AS (
              SELECT event_type AS grp,
                     CAST((event_id * 131) % 20000 AS BIGINT) AS px,
                     CAST((event_id * 197) % 20000 AS BIGINT) AS py
              FROM events
            ),
            mom AS (
              SELECT grp,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(px) AS BIGINT) AS sx,
                     CAST(sum(py) AS BIGINT) AS sy,
                     CAST(sum(px * px) AS BIGINT) AS sxx,
                     CAST(sum(py * py) AS BIGINT) AS syy,
                     CAST(sum(px * py) AS BIGINT) AS sxy
              FROM pts GROUP BY 1
            ),
            cm AS (
              SELECT grp, n, sx, sy,
                     n * sxx - sx * sx AS na,
                     n * syy - sy * sy AS nb,
                     n * sxy - sx * sy AS nc
              FROM mom
            )
            SELECT grp, n,
                   {_sde['cx']} AS cx, {_sde['cy']} AS cy,
                   {_sde['var_x']} AS var_x, {_sde['var_y']} AS var_y,
                   {_sde['cov_xy']} AS cov_xy,
                   {_sde['sigma_major']} AS sigma_major,
                   {_sde['sigma_minor']} AS sigma_minor,
                   CAST(2 * nc AS BIGINT) AS orient_num,
                   CAST(na - nb AS BIGINT) AS orient_den
            FROM cm
        """,
        "heading_octants": f"""
            WITH pts AS (
              SELECT user_id, epoch_us(ts) AS us, event_id,
                     CAST((event_id * 131) % 20000 AS BIGINT) AS px,
                     CAST((event_id * 197) % 20000 AS BIGINT) AS py
              FROM events
            ),
            lagged AS (
              SELECT user_id,
                     px - lag(px) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) AS dx,
                     py - lag(py) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) AS dy
              FROM pts
            ),
            moves AS (
              SELECT user_id, {_octant_sql} AS octant,
                     abs(dx) + abs(dy) AS l1
              FROM lagged WHERE dx IS NOT NULL
            )
            SELECT user_id AS user, octant,
                   CAST(count(*) AS BIGINT) AS n_moves,
                   CAST(sum(l1) AS BIGINT) AS l1_total
            FROM moves WHERE octant IS NOT NULL
            GROUP BY 1, 2
        """,
        "dbscan_labels": """
            WITH pts AS (
              SELECT CAST(c_custkey AS BIGINT) AS id,
                     CAST(CASE WHEN c_custkey % 10 < 7
                          THEN (c_custkey % 5) * 5000 + (c_custkey * 13) % 160
                          ELSE (c_custkey * 131) % 25000 END AS BIGINT) AS px,
                     CAST(CASE WHEN c_custkey % 10 < 7
                          THEN (c_custkey % 5) * 4000 + (c_custkey * 29) % 160
                          ELSE (c_custkey * 197) % 25000 END AS BIGINT) AS py
              FROM customer
            ),
            nbr AS (
              SELECT a.id,
                     CAST(least(count(*), 8) AS BIGINT) AS n_nbrs
              FROM pts a JOIN pts b
                ON (a.px - b.px) * (a.px - b.px)
                   + (a.py - b.py) * (a.py - b.py) <= 14400
              GROUP BY a.id
            ),
            flags AS (
              SELECT id, n_nbrs, n_nbrs >= 8 AS is_core FROM nbr
            ),
            border AS (
              SELECT DISTINCT a.id
              FROM pts a
              JOIN flags fa ON fa.id = a.id AND NOT fa.is_core
              JOIN pts b ON (a.px - b.px) * (a.px - b.px)
                            + (a.py - b.py) * (a.py - b.py) <= 14400
              JOIN flags fb ON fb.id = b.id AND fb.is_core
            )
            SELECT f.id, f.n_nbrs,
                   CASE WHEN f.is_core THEN 'core'
                        WHEN bo.id IS NOT NULL THEN 'border'
                        ELSE 'noise' END AS label
            FROM flags f LEFT JOIN border bo ON bo.id = f.id
        """,
        "burst_detect": f"""
            WITH e AS (
              SELECT event_type AS key,
                     CAST(CASE WHEN event_id % 11 = 0 THEN 7
                          ELSE event_id % 48 END AS BIGINT) AS bin
              FROM events
            ),
            bins AS (
              SELECT key, bin, CAST(count(*) AS BIGINT) AS c
              FROM e GROUP BY 1, 2
            ),
            mom AS (
              SELECT key,
                     CAST(max(bin) - min(bin) + 1 AS BIGINT) AS n_bins,
                     CAST(sum(c) AS BIGINT) AS s1,
                     CAST(sum(c * c) AS BIGINT) AS s2
              FROM bins GROUP BY 1
            ),
            scored AS (
              SELECT key, bin, c, {_burst_sql()} AS z
              FROM bins JOIN mom USING (key)
            )
            SELECT key, bin, c, z FROM scored
            WHERE z >= CAST(3.0 AS DOUBLE)
        """,
        "snap_segments": f"""
            WITH pts AS (
              SELECT c_custkey AS point_id,
                     (c_custkey * 131) % 20000 AS px,
                     (c_custkey * 197) % 20000 AS py
              FROM customer
            ),
            segs AS (
              SELECT s_suppkey AS seg_id,
                     (s_suppkey * 211) % 20000 AS x0,
                     (s_suppkey * 157) % 20000 AS y0,
                     (s_suppkey * 211) % 20000 + s_suppkey % 200 - 100 AS x1,
                     (s_suppkey * 157) % 20000
                       + (s_suppkey * 7) % 200 - 100 AS y1
              FROM supplier
            ),
            cand AS (
              SELECT point_id, seg_id,
                     {_sk['a']} AS snap_a,
                     {_sk['b']} AS snap_b,
                     {_sk['t']} AS t
              FROM pts CROSS JOIN segs
            ),
            gated AS (
              SELECT point_id, seg_id, {_sk['dist2']} AS dist2, t
              FROM cand
              WHERE snap_a <= CAST(500 AS BIGINT) * 500 * snap_b
            ),
            ranked AS (
              SELECT point_id, seg_id, dist2, t,
                     row_number() OVER (PARTITION BY point_id
                                        ORDER BY dist2, seg_id) AS rn
              FROM gated
            )
            SELECT point_id, seg_id, dist2, t FROM ranked WHERE rn = 1
        """,
        "cms_freq": """
            WITH sk AS (
              SELECT r.rw,
                     ('0x' || substr(md5(CAST(source AS VARCHAR)
                        || '#cms' || r.rw), 1, 8))::BIGINT % 64 AS bucket,
                     count(*) AS cnt
              FROM documents, range(4) r(rw)
              GROUP BY 1, 2
            ),
            cand AS (SELECT DISTINCT CAST(source AS VARCHAR) AS source
                     FROM documents),
            addr AS (
              SELECT source, r.rw,
                     ('0x' || substr(md5(source || '#cms' || r.rw),
                        1, 8))::BIGINT % 64 AS bucket
              FROM cand, range(4) r(rw)
            )
            SELECT a.source, min(coalesce(s.cnt, 0)) AS est
            FROM addr a
            LEFT JOIN sk s ON a.rw = s.rw AND a.bucket = s.bucket
            GROUP BY a.source
        """,
        "weighted_sample": """
            WITH keyed AS (
              SELECT doc_id, source, n_chars,
                     ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || 'ws-v1'), 1, 8))::BIGINT + 0.5)
                        / 4294967296.0) / n_chars AS key
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, source, n_chars FROM (
              SELECT *, row_number() OVER (
                 PARTITION BY source ORDER BY key DESC, doc_id ASC) AS rn
              FROM keyed)
            WHERE rn <= 20
        """,
        "pagerank": _pagerank_unrolled(_ORDERS_DIGRAPH_SQL),
        "hits_scores": _hits_unrolled(_ORDERS_DIGRAPH_SQL),
        "kmeans_centroids": _kmeans_unrolled(
            """
          SELECT o_orderkey % 1000 AS x,
                 (o_orderkey * 13) % 1000 AS y
          FROM orders
            """, k=8, iters=4),
        "sssp_weighted": _sssp_unrolled(
            """
          SELECT o_orderkey AS src,
                 o_orderkey - (o_orderkey % 97) AS dst,
                 1 + o_orderkey % 13 AS w
          FROM orders
          UNION ALL
          SELECT o_orderkey, o_orderkey - 97, 1 + o_orderkey % 13
          FROM orders
          WHERE o_orderkey % 293 = 0 AND o_orderkey >= 97
            """,
            "SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 211 = 0"),
        "label_propagation": _lpa_unrolled(_ORDERS_DIGRAPH_SQL),
        "containment_join": """
            WITH g AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(ws) - 3, 0) + 1),
                       i -> array_to_string(list_slice(ws, i + 1, i + 3),
                                            ' '))) AS grams
              FROM (SELECT doc_id,
                           str_split_regex(lower(text), '\\s+') AS ws
                    FROM documents)
            ),
            s AS (SELECT doc_id, grams, len(grams) AS L FROM g
                  WHERE len(grams) > 0),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT)
                       AS inter,
                     CAST(a.L AS BIGINT) AS size_a
              FROM s a JOIN s b ON a.doc_id <> b.doc_id
            )
            SELECT id_a, id_b, inter, size_a,
                   round(CAST(inter AS DOUBLE) / size_a, 6) AS containment
            FROM p
            WHERE 2 * inter >= size_a
        """,
        "bpe_merges": _bpe_unrolled(rounds=6),
        # aHash bits rebuilt in pure SQL as two 32-bit halves (BIGINT
        # cannot shift into bit 63); cell geometry: 16x24 image, 8x8
        # grid -> 2x3 cells, brightness = channel sum, integer-exact
        # mean test 64*cell_sum > total_sum
        "coverage_select": _coverage_unrolled(k=6, n=2),
        "neighborhood_function": _nf_unrolled(_ORDERS_DIGRAPH_SQL, t_max=4),
        "kcore_membership": _kcore_unrolled(_KCORE_EDGES_SQL, k=2,
                                            rounds=10),
        "sitemap_urls": f"""
            WITH sm AS (
              SELECT doc_id AS site_id, {_SITEMAP_XML_SQL} AS xml
              FROM documents WHERE doc_id < 300),
            b AS (
              SELECT site_id,
                     unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1))
                       AS blk
              FROM sm)
            SELECT site_id,
                   NULLIF(regexp_extract(blk,
                     '<loc>\\s*(.*?)\\s*</loc>', 1), '') AS loc,
                   NULLIF(regexp_extract(blk,
                     '<lastmod>\\s*(.*?)\\s*</lastmod>', 1), '') AS lastmod,
                   NULLIF(regexp_extract(blk,
                     '<changefreq>\\s*(.*?)\\s*</changefreq>', 1), '')
                     AS changefreq,
                   CAST(NULLIF(regexp_extract(blk,
                     '<priority>\\s*(.*?)\\s*</priority>', 1), '')
                     AS DOUBLE) AS priority
            FROM b
            WHERE NULLIF(regexp_extract(blk,
                  '<loc>\\s*(.*?)\\s*</loc>', 1), '') IS NOT NULL
        """,
        "entity_resolution": (lambda w: f"""
            WITH base AS (
              SELECT c_custkey, c_nationkey, c_name,
                     'st-' || CAST((c_custkey * 7) % 100000 AS VARCHAR)
                       AS c_address,
                     CAST((c_custkey * 131) % 10000000 AS VARCHAR)
                       AS c_phone
              FROM customer),
            b AS (
              SELECT c_custkey + 1000000 AS id_b, c_nationkey,
                     CASE WHEN c_custkey % 3 = 0 THEN c_name || 'x'
                          WHEN c_custkey % 7 = 0 THEN c_name || 'zz'
                          ELSE c_name END AS name_b,
                     CASE WHEN c_custkey % 5 = 0
                          THEN 'MOVED ' || c_address
                          ELSE c_address END AS addr_b,
                     CASE WHEN c_custkey % 11 = 0 THEN '999' || c_phone
                          ELSE c_phone END AS phone_b
              FROM base),
            p AS (
              SELECT a.c_custkey AS id_a, b.id_b,
                     ((CASE WHEN levenshtein(a.c_name, b.name_b) <= 1
                            THEN {w["name"][0]!r} ELSE {w["name"][1]!r} END
                       + CASE WHEN a.c_address = b.addr_b
                              THEN {w["addr"][0]!r} ELSE {w["addr"][1]!r} END)
                      + CASE WHEN a.c_phone = b.phone_b
                             THEN {w["phone"][0]!r} ELSE {w["phone"][1]!r} END)
                     AS score
              FROM base a JOIN b
                ON a.c_nationkey = b.c_nationkey
               AND substr(a.c_name, 1, 16) = substr(b.name_b, 1, 16))
            SELECT id_a, id_b, round(score, 6) AS score
            FROM p WHERE score >= 5.0
        """)(_fs_customer_weights()),
        "passage_chunks": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(str_split_regex(text, '\\s+'),
                                 w -> w <> '') AS ws
              FROM documents),
            c AS (
              SELECT doc_id, ws, len(ws) AS n,
                     CASE WHEN len(ws) <= 24 THEN 1
                          ELSE (len(ws) - 24 + 16 - 1) // 16 + 1
                     END AS nc
              FROM t WHERE len(ws) > 0)
            SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                   CAST(i * 16 AS BIGINT) AS start_tok,
                   CAST(least(24, n - i * 16) AS BIGINT) AS n_tokens,
                   array_to_string(
                     list_slice(ws, i * 16 + 1,
                                least(i * 16 + 24, n)), ' ') AS chunk_text
            FROM (SELECT doc_id, ws, n, unnest(range(0, nc)) AS i FROM c)
        """,
        "hausdorff_pairs": f"""
            WITH pts AS (
              SELECT DISTINCT user_id % 40 AS tid,
                     {_TRAJ_LAT} AS lat, {_TRAJ_LON} AS lon
              FROM events
              WHERE {_TRAJ_LAT} IS NOT NULL AND {_TRAJ_LON} IS NOT NULL
            ),
            mins AS (
              SELECT a.tid AS ta, b.tid AS tb, a.lat AS alat, a.lon AS alon,
                     min((a.lat - b.lat) * (a.lat - b.lat)
                         + (a.lon - b.lon) * (a.lon - b.lon)) AS md
              FROM pts a JOIN pts b ON a.tid <> b.tid
              GROUP BY 1, 2, 3, 4
            ),
            h AS (SELECT ta, tb, max(md) AS hd FROM mins GROUP BY 1, 2)
            SELECT f.ta AS id_a, f.tb AS id_b,
                   round(greatest(f.hd, r.hd), 6) AS hausdorff_sq
            FROM h f JOIN h r ON f.ta = r.tb AND f.tb = r.ta
            WHERE f.ta < f.tb
              AND greatest(f.hd, r.hd) <= CAST(2025.0 AS DOUBLE)
        """,
        "image_near_dup": """
            WITH px AS (
              SELECT d.doc_id AS id, y.r AS y, x.r AS x,
                     CASE WHEN (y.r * 24 + x.r) % 53 = d.doc_id // 40
                          THEN 255 - (((d.doc_id % 40) * 31
                                       + y.r * (7 + (d.doc_id % 40) % 5)
                                       + x.r * (3 + (d.doc_id % 40) % 7)
                                       + c.r * 11) % 256)
                          ELSE ((d.doc_id % 40) * 31
                                + y.r * (7 + (d.doc_id % 40) % 5)
                                + x.r * (3 + (d.doc_id % 40) % 7)
                                + c.r * 11) % 256
                     END AS v
              FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                   range(16) y(r), range(24) x(r), range(3) c(r)
            ),
            cells AS (
              SELECT id, (y // 2) * 8 + (x // 3) AS pos,
                     CAST(SUM(v) AS BIGINT) AS cs
              FROM px GROUP BY 1, 2
            ),
            tot AS (SELECT id, SUM(cs) AS ts FROM cells GROUP BY 1),
            h AS (
              SELECT c.id,
                     CAST(SUM(CASE WHEN 64 * cs > ts AND pos < 32
                                   THEN (CAST(1 AS BIGINT) << pos)
                                   ELSE 0 END) AS BIGINT) AS lo,
                     CAST(SUM(CASE WHEN 64 * cs > ts AND pos >= 32
                                   THEN (CAST(1 AS BIGINT) << (pos - 32))
                                   ELSE 0 END) AS BIGINT) AS hi
              FROM cells c JOIN tot t ON c.id = t.id
              GROUP BY 1
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.lo, b.lo))
                        + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
            FROM h a JOIN h b ON a.id < b.id
            WHERE bit_count(xor(a.lo, b.lo))
                  + bit_count(xor(a.hi, b.hi)) <= 8
        """,
        "url_normalize": _url_normalize_oracle(),
        "link_prediction": f"""
            WITH lg AS ({_LINK_GRAPH_SQL}),
            e AS (
              SELECT DISTINCT least(src_host, dst_host) AS u,
                     greatest(src_host, dst_host) AS v
              FROM lg WHERE src_host <> dst_host
            ),
            adj AS (
              SELECT u AS z, v AS n FROM e
              UNION ALL
              SELECT v AS z, u AS n FROM e
            ),
            deg AS (
              SELECT z, count(*) AS dz FROM adj GROUP BY z
            ),
            za AS (
              SELECT a.z, a.n, d.dz FROM adj a
              JOIN deg d ON d.z = a.z WHERE d.dz <= 1024
            ),
            pairs AS (
              SELECT l.n AS u, r.n AS v,
                     CAST(count(*) AS BIGINT) AS common,
                     sum(1.0 / ln(CAST(l.dz AS DOUBLE))) AS aa
              FROM za l JOIN za r ON l.z = r.z AND l.n < r.n
              GROUP BY 1, 2
            )
            SELECT p.u, p.v, p.common, p.aa
            FROM pairs p
            LEFT JOIN e ON e.u = p.u AND e.v = p.v
            WHERE e.u IS NULL AND p.common >= 1
        """,
        "link_graph": _LINK_GRAPH_SQL,
        "host_pagerank": _pagerank_unrolled(
            f"SELECT src_host AS src, dst_host AS dst FROM ({_LINK_GRAPH_SQL})"),
        "prior_weighted_sample": f"""
            WITH pr AS MATERIALIZED (
              {_pagerank_unrolled(
                  "SELECT src_host AS src, dst_host AS dst FROM ("
                  + _LINK_GRAPH_SQL + ")")}
            ),
            pages AS ({_PAGES_SQL}),
            ph AS (
              SELECT doc_id,
                regexp_replace(
                  CASE WHEN a LIKE 'www.%' THEN substr(a, 5) ELSE a END,
                  ':[0-9]+$', '') AS host
              FROM (
                SELECT doc_id,
                  lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)) AS a
                FROM pages)
            ),
            wtd AS (
              SELECT ph.doc_id, ph.host, pr.rank_x_n AS w
              FROM ph JOIN pr ON ph.host = pr.id
            ),
            keyed AS (
              SELECT doc_id, host, w,
                     ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || 'prior-v1'), 1, 8))::BIGINT + 0.5)
                        / 4294967296.0) / w AS key
              FROM wtd WHERE w IS NOT NULL AND w > 0
            )
            SELECT doc_id, host, w FROM keyed
            ORDER BY key DESC, doc_id ASC LIMIT 200
        """,
        "p4_latitude_valid": f"""
            SELECT l_orderkey, l_linenumber, lat
            FROM ({_COORDS_SQL})
            WHERE lat BETWEEN -90 AND 90 AND lat > 45.0
        """,
        "p5_latlong_pair": """
            WITH pairs AS (
              SELECT l_orderkey, l_linenumber,
                     CAST((l_partkey % 221) - 110 AS VARCHAR) || ', ' ||
                     CAST((l_orderkey % 401) - 200 AS VARCHAR) AS pair
              FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   CAST(str_split_regex(pair, ',\\s*')[1] AS DOUBLE) AS lat,
                   CAST(str_split_regex(pair, ',\\s*')[2] AS DOUBLE) AS lon
            FROM pairs
            WHERE CAST(str_split_regex(pair, ',\\s*')[1] AS DOUBLE) BETWEEN -90 AND 90
              AND CAST(str_split_regex(pair, ',\\s*')[2] AS DOUBLE) BETWEEN -180 AND 180
        """,
        "p6_unix_time": """
            WITH v AS (
              SELECT event_id, CAST(1500000000 + event_id * 999983 AS VARCHAR) AS v
              FROM events
            )
            SELECT event_id, v FROM v
            WHERE length(v) <= 13
              AND CAST(v AS BIGINT) BETWEEN -5364601438 AND 4102506000
        """,
        "p7_year_range": """
            SELECT o_orderkey, 1650 + o_orderkey % 600 AS y
            FROM orders
            WHERE (1650 + o_orderkey % 600) > 1700
              AND (1650 + o_orderkey % 600) < 2200
        """,
        "p9_iso3_membership": f"""
            WITH iso(code) AS (VALUES {iso3_values}),
            toks AS (
              SELECT p_partkey,
                     upper(substr(regexp_replace(p_name, '[^A-Za-z]', '', 'g'), 1, 3)) AS code
              FROM part
            )
            SELECT p_partkey, toks.code FROM toks JOIN iso USING (code)
        """,
        "j8_tile_grid": f"""
            SELECT CAST(floor((lon + 180.0) / 2.5) AS BIGINT) AS tile_x,
                   CAST(floor((lat + 90.0) / 2.5) AS BIGINT) AS tile_y,
                   count(*) AS n_points,
                   count(CASE WHEN lat > 0 THEN 1 END) AS n_north
            FROM ({_COORDS_SQL})
            GROUP BY 1, 2
        """,
        "extract_text": """
            WITH src AS (
              SELECT doc_id,
                     '<html><head><title>t</title><script>var x=1;</script>'
                     || '</head><body><nav>home | about</nav><p>' || text
                     || ' &amp; more &lt;data&gt;</p><footer>&copy; corp'
                     || '</footer></body></html>' AS html
              FROM documents
            ),
            stripped AS (
              SELECT doc_id,
                     regexp_replace(html,
                       '(?is)<script\\b.*?</script>|<style\\b.*?</style>'
                       || '|<title\\b.*?</title>|<nav\\b.*?</nav>'
                       || '|<header\\b.*?</header>|<footer\\b.*?</footer>'
                       || '|<aside\\b.*?</aside>|<[^>]*>',
                       ' ', 'g') AS s
              FROM src
            ),
            unescaped AS (
              SELECT doc_id,
                     replace(replace(replace(replace(replace(replace(
                       s, '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&copy;', '(c)'), '&#39;', '''')
                       AS s
              FROM stripped
            )
            SELECT doc_id,
                   trim(regexp_replace(s, '\\s+', ' ', 'g'))
                     AS extracted_text,
                   sha256(trim(regexp_replace(s, '\\s+', ' ', 'g')))
                     AS text_sha256
            FROM unescaped
        """,
        "j8_tile_assign": (lambda boxes_vals, coords_sql: (
            lambda TX, TY: f"""
            WITH boxes(admin_id, la0, la1, lo0, lo1) AS (VALUES
              {boxes_vals}
            ),
            bt AS (
              SELECT admin_id,
                     {TX('lo0')} AS x0, {TX('lo1')} AS x1,
                     {TY('la1')} AS y0, {TY('la0')} AS y1
              FROM boxes
            ),
            pts AS (
              SELECT CAST(l_orderkey AS VARCHAR) || '_' ||
                     CAST(l_linenumber AS VARCHAR) AS point_id,
                     {TX('lon')} AS tx, {TY('lat')} AS ty
              FROM ({coords_sql})
            )
            SELECT point_id, admin_id,
                   1729382256910270464 + tx * 536870912 + ty AS tile_id
            FROM pts JOIN bt
              ON tx BETWEEN x0 AND x1 AND ty BETWEEN y0 AND y1
        """)(
            lambda c: ("CAST(least(greatest(floor((" + c +
                       " + 180.0) / 360.0 * 64), 0), 63) AS BIGINT)"),
            lambda c: ("CAST(least(greatest(floor((1.0 - ln(tan(radians("
                       "least(greatest(" + c + ", -85.05112878), "
                       "85.05112878))) + 1.0 / cos(radians(least(greatest("
                       + c + ", -85.05112878), 85.05112878)))) / pi()) "
                       "/ 2.0 * 64), 0), 63) AS BIGINT)"),
        ))(
            ", ".join(
                f"('box{r}', {r*25-60.005!r}, {r*25-40.005!r}, "
                f"{r*50-150.005!r}, {r*50-110.005!r})" for r in range(5)),
            _COORDS_SQL),
        "w1_temporal_deltas": """
            SELECT user_id, event_id, delta_us FROM (
              SELECT user_id, event_id,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
              FROM events
            ) WHERE delta_us IS NOT NULL
        """,
        "a5_threshold_cascade": """
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(sum(CASE WHEN l_quantity BETWEEN 10 AND 40 THEN 1
                            ELSE 0 END) AS BIGINT) AS n_valid,
                   CAST(sum(CASE WHEN l_quantity BETWEEN 10 AND 40 THEN 1 ELSE 0 END)
                        >= count(*) * 0.85 AS INT) AS passed
            FROM lineitem GROUP BY l_returnflag
        """,
        "a7_uniformity": """
            WITH deltas AS (
              SELECT user_id, event_id,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
              FROM events
            ), d AS (SELECT * FROM deltas WHERE delta_us IS NOT NULL),
            med AS (
              SELECT user_id, median(delta_us) AS med, count(*) AS n
              FROM d GROUP BY user_id
            ),
            dev AS (
              SELECT d.user_id, med.med, med.n,
                     max(abs(d.delta_us - med.med)) AS max_dev
              FROM d JOIN med ON d.user_id = med.user_id
              GROUP BY d.user_id, med.med, med.n
            )
            SELECT user_id, n,
                   CASE WHEN max_dev < 1e-9 * abs(med) THEN 'PERFECT'
                        WHEN max_dev < 0.01 * abs(med) THEN 'UNIFORM'
                        ELSE 'NOT_UNIFORM' END AS uniformity
            FROM dev
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, count(*) AS n_dups,
                   min(doc_id) AS keeper_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "text_token_count": """
            SELECT doc_id,
                   len(list_filter(str_split_regex(text, '\\s+'), x -> x <> ''))
                     AS n_ws_tokens,
                   -- explicit class = Java's \\s (incl. \\x0B) for parity
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^ \\t\\n\\x0B\\f\\rA-Za-z0-9]'))
                     AS n_bpe_tokens
            FROM documents
        """,
        "bigram_lm_score": """
            WITH occ AS (
              SELECT doc_id, substring(t, CAST(i AS INT), 2) AS bg
              FROM (SELECT doc_id, lower(text) AS t,
                           unnest(range(1, length(text))) AS i
                    FROM documents)
            ),
            bgc AS (SELECT bg, count(*) AS cnt FROM occ GROUP BY bg),
            ctx AS (SELECT substr(bg, 1, 1) AS c1, sum(cnt) AS ctxn
                    FROM bgc GROUP BY 1),
            vf AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM bgc),
            dim AS (
              SELECT bg,
                     CAST(ln(CAST(cnt + 1 AS DOUBLE)
                             / CAST(ctxn + v AS DOUBLE))
                          AS DECIMAL(38,12)) AS term
              FROM bgc JOIN ctx ON substr(bgc.bg, 1, 1) = ctx.c1
              CROSS JOIN vf
            ),
            agg AS (
              SELECT o.doc_id, count(*) AS n_bigrams, sum(d.term) AS s
              FROM occ o JOIN dim d USING (bg)
              GROUP BY o.doc_id
            )
            SELECT doc_id, n_bigrams,
                   CAST(s AS DOUBLE) AS logprob,
                   (-CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
                     / CAST(0.6931471805599453 AS DOUBLE) AS bpc
            FROM agg
        """,
        "text_quality_counts": """
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> ''))
                     AS n_words,
                   length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS n_punct
            FROM documents
        """,
        "lang_stopword_hits": """
            SELECT doc_id,
                   len(list_intersect(
                     list_distinct(list_filter(str_split_regex(lower(text), '\\s+'),
                                               x -> x <> '')),
                     ['the','and','of','to','is'])) AS en_hits
            FROM documents
        """,
        "stratified_sample": (lambda: f"""
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix-v1'),
                                  1, 8))::BIGINT
                  < CASE {' '.join(
                      f"WHEN source = '{k}' THEN {int(r * (1 << 32))}"
                      for k, r in sorted(SAMPLE_RATES.items()))}
                    ELSE {int(0.05 * (1 << 32))} END
        """)(),
        "stratum_cap": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                    || 'cap-v1'), 1, 8)
                                 )::BIGINT, doc_id) AS rk
              FROM documents)
            WHERE rk <= 12
        """,
        "sequence_packing": """
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS n_tokens,
                   CAST(floor(cb / 4096) AS BIGINT) AS pack_id,
                   CAST(cb % 4096 AS BIGINT) AS pack_offset,
                   CAST(floor((cb + greatest(n_chars - 1, 0)) / 4096)
                        AS BIGINT) AS end_pack
            FROM (
              SELECT doc_id, n_chars,
                     COALESCE(sum(n_chars) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
              FROM documents)
        """,
        "asof_events": """
            WITH l AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ), r0 AS (
              SELECT user_id, ts, event_id, value,
                     row_number() OVER (PARTITION BY user_id, ts
                                        ORDER BY event_id DESC) AS rn
              FROM events WHERE event_type = 'signup'
            ), r AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1)
            SELECT l.event_id, l.user_id,
                   r.event_id AS signup_event_id,
                   r.value AS signup_value,
                   CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS wait_us
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "range_join_orders": """
            WITH iv AS (
              SELECT o_orderkey,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       AS lo_day,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       + o_orderkey % 30 AS hi_day
              FROM orders WHERE o_orderkey % 97 = 0
            ), pts AS (
              SELECT l_orderkey, l_linenumber,
                     date_diff('day', DATE '1970-01-01', l_shipdate)
                       AS ship_day
              FROM lineitem
            )
            SELECT o_orderkey, l_orderkey, l_linenumber,
                   ship_day, lo_day, hi_day
            FROM pts JOIN iv
              ON ship_day >= lo_day AND ship_day <= hi_day
        """,
        "interval_overlap": """
            WITH a AS (
              SELECT o_orderkey AS okey_a,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       AS a_lo,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       + o_orderkey % 30 AS a_hi
              FROM orders WHERE o_orderkey % 97 = 0
            ), b AS (
              SELECT o_orderkey AS okey_b,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       AS b_lo,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       + o_orderkey % 30 AS b_hi
              FROM orders WHERE o_orderkey % 89 = 0
            )
            SELECT okey_a, okey_b, a_lo, a_hi, b_lo, b_hi
            FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
        """,
        "interval_coverage": """
            WITH iv AS (
              SELECT o_orderpriority AS priority,
                     o_orderkey % 7 AS bucket,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       AS lo,
                     date_diff('day', DATE '1970-01-01', o_orderdate)
                       + 1 + o_orderkey % 5 AS hi
              FROM orders WHERE o_orderkey % 11 = 0
            ), flagged AS (
              SELECT priority, bucket, lo, hi,
                     CASE WHEN lo > coalesce(
                         max(hi) OVER (PARTITION BY priority, bucket
                                       ORDER BY lo, hi
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING),
                         lo - 1)
                     THEN 1 ELSE 0 END AS start
              FROM iv
            ), islands AS (
              SELECT priority, bucket, lo, hi,
                     sum(start) OVER (PARTITION BY priority, bucket
                                      ORDER BY lo, hi
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS island
              FROM flagged
            ), per_island AS (
              SELECT priority, bucket, island,
                     max(hi) - min(lo) AS extent, count(*) AS n
              FROM islands GROUP BY priority, bucket, island
            )
            SELECT priority, bucket,
                   CAST(sum(extent) AS BIGINT) AS covered,
                   CAST(count(*) AS BIGINT) AS n_islands,
                   CAST(sum(n) AS BIGINT) AS n_intervals
            FROM per_island GROUP BY priority, bucket
        """,
        "pii_redact": r"""
            WITH seeded AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com at 10.0.3.'
                            || CAST(doc_id % 250 AS VARCHAR)
                            || ' ref 987654321012'
                     ELSE text END AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS n_email,
                   len(regexp_extract_all(text,
                     '(\d{1,3}\.){3}\d{1,3}')) AS n_ipv4,
                   len(regexp_extract_all(text, '\d{9,}')) AS n_digit_run,
                   length(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<PII>', 'g'),
                         '(\d{1,3}\.){3}\d{1,3}', '<PII>', 'g'),
                       '\d{9,}', '<PII>', 'g')) AS redacted_len
            FROM seeded
        """,
        "contamination": r"""
            WITH arrs AS (
              SELECT doc_id,
                     list_filter(str_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS ws
              FROM documents
            ), w0 AS (
              SELECT doc_id, unnest(ws) AS w,
                     generate_subscripts(ws, 1) AS pos, len(ws) AS n
              FROM arrs
            ), leads AS (
              SELECT doc_id, pos, n, w,
                     lead(w,1) OVER win AS w1, lead(w,2) OVER win AS w2,
                     lead(w,3) OVER win AS w3, lead(w,4) OVER win AS w4,
                     lead(w,5) OVER win AS w5, lead(w,6) OVER win AS w6,
                     lead(w,7) OVER win AS w7, lead(w,8) OVER win AS w8,
                     lead(w,9) OVER win AS w9, lead(w,10) OVER win AS w10,
                     lead(w,11) OVER win AS w11, lead(w,12) OVER win AS w12
              FROM w0 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ), grams AS (
              SELECT doc_id,
                     w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
                       || ' ' || w5 || ' ' || w6 || ' ' || w7 || ' ' || w8
                       || ' ' || w9 || ' ' || w10 || ' ' || w11 || ' ' || w12
                       AS g
              FROM leads WHERE pos + 12 <= n
            ), probes AS (
              SELECT DISTINCT array_to_string(list_slice(ws, 1, 13), ' ')
                       AS g
              FROM arrs WHERE doc_id % 101 = 0
            )
            SELECT doc_id,
                   count(*) AS n_hits,
                   count(DISTINCT g) AS n_probes_hit
            FROM grams JOIN probes USING (g)
            GROUP BY doc_id
        """,
        # transitive closure of the same deterministic edge rules; MIN of
        # all labels reachable from a node = its component minimum.
        # Tractable because the edge rules bound component sizes (~97-300
        # nodes), so the reach relation stays ~nodes x comp_size.
        "connected_components": """
            WITH RECURSIVE
            e AS (
              SELECT o_orderkey AS src,
                     o_orderkey - (o_orderkey % 97) AS dst
              FROM orders
              UNION ALL
              SELECT o_orderkey, o_orderkey - 97
              FROM orders
              WHERE o_orderkey % 293 = 0 AND o_orderkey >= 97
            ),
            ee AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
            sym AS (
              SELECT src AS a, dst AS b FROM ee
              UNION
              SELECT dst, src FROM ee
            ),
            nodes AS (SELECT DISTINCT a AS id FROM sym),
            reach(id, lab) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.id
            )
            SELECT id, MIN(lab) AS component FROM reach GROUP BY id
        """,
        "grid_cluster": """
            WITH RECURSIVE
            pts AS (
              SELECT c_custkey,
                     ((c_custkey * 37) % 181) - 90.0  AS lat,
                     ((c_custkey * 73) % 361) - 180.0 AS lon
              FROM customer WHERE c_custkey % 7 = 0
            ),
            cells_pts AS (
              SELECT c_custkey,
                     CAST(floor((lat + 90.0) / 5.0) AS BIGINT) * 100000
                     + CAST(floor((lon + 180.0) / 5.0) AS BIGINT)
                       AS cell_id
              FROM pts
            ),
            cells AS (SELECT DISTINCT cell_id FROM cells_pts),
            offs(off) AS (VALUES (1), (100001), (100000), (99999)),
            sym0 AS (
              SELECT c.cell_id AS a, c.cell_id + o.off AS b
              FROM cells c CROSS JOIN offs o
              WHERE c.cell_id + o.off IN (SELECT cell_id FROM cells)
            ),
            sym AS (
              SELECT a, b FROM sym0 UNION SELECT b, a FROM sym0
            ),
            reach(id, lab) AS (
              SELECT cell_id, cell_id FROM cells
              UNION
              SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.id
            ),
            comp AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id)
            SELECT p.c_custkey, p.cell_id, c.cluster_id
            FROM cells_pts p JOIN comp c ON p.cell_id = c.id
        """,
        # float exprs emitted by the SAME generator as the Spark plan
        # (spatial/autocorr.py moran_*_sql) over integer-exact moments —
        # one generator, two engines, no float-sum ordering anywhere.
        "best_snippet": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(generate_subscripts(ws, 1) AS BIGINT) AS pos,
                     unnest(ws) AS w
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(
                               lower(text), '\\s+'), x -> x <> '') AS ws
                    FROM documents)
            ),
            hits AS (
              SELECT doc_id, pos FROM toks
              WHERE w IN ('join', 'hash', 'merge')
            ),
            counted AS (
              SELECT doc_id, pos,
                     CAST(count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                         RANGE BETWEEN CURRENT ROW
                                         AND 9 FOLLOWING) AS BIGINT)
                       AS n_hits
              FROM hits
            ),
            picked AS (
              SELECT doc_id, pos, n_hits,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY n_hits DESC, pos ASC)
                       AS rn
              FROM counted
            )
            SELECT doc_id, pos AS start_pos, n_hits
            FROM picked WHERE rn = 1
        """,
        "dominant_direction": _power_unrolled(),
        "diameter_sweep": """
            WITH RECURSIVE de AS (
              SELECT DISTINCT src, dst FROM (
                SELECT event_id % 500 AS src,
                       (event_id % 500) * 7 + 3 AS raw
                FROM events
                UNION ALL
                SELECT event_id % 500,
                       (event_id % 500) * (event_id % 500) + 11
                FROM events
              ) t(src, raw), LATERAL (SELECT raw % 500 AS dst) l
              WHERE src <> dst
            ),
            e AS (
              SELECT src, dst FROM de
              UNION SELECT dst, src FROM de
            ),
            w1(v, d) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT e.dst, w.d + 1 FROM w1 w JOIN e ON e.src = w.v
              WHERE w.d < 64
            ),
            d1 AS (SELECT v, min(d) AS d FROM w1 GROUP BY v),
            far AS (
              SELECT v, d FROM d1 ORDER BY d DESC, v ASC LIMIT 1
            ),
            w2(v, d) AS (
              SELECT (SELECT v FROM far), 0
              UNION
              SELECT e.dst, w.d + 1 FROM w2 w JOIN e ON e.src = w.v
              WHERE w.d < 64
            ),
            d2 AS (SELECT v, min(d) AS d FROM w2 GROUP BY v)
            SELECT CAST(0 AS BIGINT) AS start_id,
                   CAST((SELECT d FROM far) AS INT) AS start_ecc,
                   CAST((SELECT v FROM far) AS BIGINT) AS far_id,
                   CAST((SELECT max(d) FROM d2) AS INT) AS diameter_lb,
                   CAST((SELECT count(*) FROM d2) AS BIGINT) AS n_reached
        """,
        "ols_trend": """
            WITH base AS (
              SELECT event_type AS grp,
                     CAST(floor(epoch(ts) / 86400) - 20440 AS BIGINT)
                       AS x,
                     ((CAST(floor(value) AS BIGINT) % 100) + 100) % 100
                       AS y
              FROM events
            ),
            mom AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM base GROUP BY grp
            )
            SELECT grp, n, sx, sy, sxy, sxx, syy,
                   CASE WHEN n*sxx - sx*sx > 0 THEN
                     CAST(n*sxy - sx*sy AS DOUBLE)
                       / CAST(n*sxx - sx*sx AS DOUBLE) END AS slope,
                   CASE WHEN n*sxx - sx*sx > 0 THEN
                     (CAST(sy AS DOUBLE)
                      - CAST(n*sxy - sx*sy AS DOUBLE)
                        / CAST(n*sxx - sx*sx AS DOUBLE) * sx) / n
                   END AS intercept,
                   CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
                        THEN CAST(n*sxy - sx*sy AS DOUBLE)
                             * CAST(n*sxy - sx*sy AS DOUBLE)
                             / (CAST(n*sxx - sx*sx AS DOUBLE)
                                * CAST(n*syy - sy*sy AS DOUBLE))
                   END AS r2
            FROM mom
        """,
        "zonal_stats": """
            WITH pts AS (
              SELECT CAST(event_id * 37 % 1801 AS DOUBLE) / 10.0 - 90.0
                       AS lat,
                     CAST(event_id * 73 % 3600 AS DOUBLE) / 10.0 - 180.0
                       AS lon,
                     ((event_id % 97) + 97) % 97 AS m
              FROM events
            ),
            zones AS (
              SELECT i AS zone_id,
                     -90.0 + i * 15.0 AS lat_min,
                     -90.0 + i * 15.0 + 20.0 AS lat_max,
                     -180.0 + i * 30.0 AS lon_min,
                     -180.0 + i * 30.0 + 45.0 AS lon_max
              FROM (SELECT unnest(range(12)) AS i)
            )
            SELECT z.zone_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(p.m) AS BIGINT) AS m_sum,
                   CAST(min(p.m) AS BIGINT) AS m_min,
                   CAST(max(p.m) AS BIGINT) AS m_max,
                   CAST(sum(p.m) AS DOUBLE) / count(*) AS m_mean
            FROM pts p JOIN zones z
              ON p.lat BETWEEN z.lat_min AND z.lat_max
             AND p.lon BETWEEN z.lon_min AND z.lon_max
            GROUP BY z.zone_id
        """,
        "url_templates": """
            WITH urls AS (
              SELECT source AS host,
                     CASE doc_id % 4
                       WHEN 0 THEN '/article/' ||
                                   CAST(doc_id * 37 AS VARCHAR) ||
                                   '/comments'
                       WHEN 1 THEN '/user/' || printf('%08x', doc_id) ||
                                   '/profile'
                       WHEN 2 THEN '/static/css/main'
                       ELSE '/item/p' || CAST(doc_id AS VARCHAR)
                     END AS path
              FROM documents
            ),
            tpl AS (
              SELECT host, path,
                     array_to_string(list_transform(
                       str_split(path, '/'),
                       s -> CASE
                              WHEN regexp_matches(s, '^[0-9]+$')
                                THEN '{n}'
                              WHEN regexp_matches(s, '^[0-9a-f-]{8,}$')
                                THEN '{id}'
                              ELSE s
                            END), '/') AS template
              FROM urls
            )
            SELECT host, template,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
                   min(path) AS example_path
            FROM tpl GROUP BY host, template
        """,
        "assortativity": """
            WITH e AS (
              SELECT DISTINCT src, dst FROM (
                SELECT event_id % 500 AS src,
                       (event_id % 500) * 7 + 3 AS raw
                FROM events
                UNION ALL
                SELECT event_id % 500,
                       (event_id % 500) * (event_id % 500) + 11
                FROM events
              ) t(src, raw), LATERAL (SELECT raw % 500 AS dst) l
              WHERE src <> dst
            ),
            outd AS (SELECT src AS u, CAST(count(*) AS BIGINT) AS x
                     FROM e GROUP BY src),
            ind AS (SELECT dst AS v, CAST(count(*) AS BIGINT) AS y
                    FROM e GROUP BY dst),
            dec AS (
              SELECT o.x, i.y
              FROM e JOIN outd o ON e.src = o.u JOIN ind i ON e.dst = i.v
            ),
            mom AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM dec
            )
            SELECT m, sx, sy, sxy, sxx, syy,
                   CASE WHEN m*sxx - sx*sx > 0 AND m*syy - sy*sy > 0
                        THEN CAST(m*sxy - sx*sy AS DOUBLE)
                             / sqrt(CAST(m*sxx - sx*sx AS DOUBLE)
                                    * CAST(m*syy - sy*sy AS DOUBLE))
                   END AS r
            FROM mom
        """,
        "harmonic_centrality": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT src, dst FROM (
                SELECT event_id % 500 AS src,
                       (event_id % 500) * 7 + 3 AS raw
                FROM events
                UNION ALL
                SELECT event_id % 500,
                       (event_id % 500) * (event_id % 500) + 11
                FROM events
              ) t(src, raw), LATERAL (SELECT raw % 500 AS dst) l
              WHERE src <> dst
            ),
            seeds AS (SELECT unnest(range(8)) AS s),
            walk(s, v, d) AS (
              SELECT s, s, 0 FROM seeds
              UNION
              SELECT w.s, e.dst, w.d + 1
              FROM walk w JOIN e ON e.src = w.v
              WHERE w.d < 12
            ),
            best AS (
              SELECT s, v, min(d) AS d FROM walk GROUP BY s, v
            )
            SELECT CAST(v AS BIGINT) AS id,
                   CAST(count(*) AS BIGINT) AS n_reached,
                   sum(1.0 / d) AS h_sum
            FROM best WHERE d > 0 GROUP BY v
        """,
        "cohort_retention": """
            WITH e AS (
              SELECT user_id AS u,
                     CAST(floor(epoch(ts) / 604800) AS BIGINT) AS b
              FROM events
            ),
            first AS (SELECT u, min(b) AS cohort FROM e GROUP BY u),
            active AS (
              SELECT DISTINCT e.u, f.cohort, e.b - f.cohort AS week_offset
              FROM e JOIN first f ON e.u = f.u
            )
            SELECT cohort, week_offset, CAST(count(*) AS BIGINT) AS n_users
            FROM active GROUP BY cohort, week_offset
        """,
        "span_corruption": (lambda _h: f"""
            WITH toks AS (
              SELECT doc_id,
                     CAST(generate_subscripts(ws, 1) AS BIGINT) AS pos,
                     unnest(ws) AS tok
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(
                               text, '\\s+'), x -> x <> '') AS ws
                    FROM documents)
            ),
            started AS (
              SELECT doc_id, pos, tok,
                     CASE WHEN ({_h}) % 20 = 0 THEN 1 ELSE 0 END AS start
              FROM toks
            ),
            m AS (
              SELECT doc_id, pos, tok,
                     max(start) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN 2 PRECEDING
                                      AND CURRENT ROW) AS masked
              FROM started
            ),
            h AS (
              SELECT doc_id, pos, tok, masked,
                     CASE WHEN masked = 1 AND coalesce(
                            lag(masked) OVER (PARTITION BY doc_id
                                              ORDER BY pos), 0) = 0
                          THEN 1 ELSE 0 END AS head
              FROM m
            ),
            r AS (
              SELECT doc_id, pos, tok, masked, head,
                     sum(head) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS run_id
              FROM h
            ),
            pieces AS (
              SELECT doc_id, pos, masked, head,
                     CASE WHEN masked = 0 THEN tok
                          WHEN head = 1 THEN
                            '<extra_id_' || CAST(run_id - 1 AS VARCHAR)
                              || '>'
                     END AS inp,
                     CASE WHEN masked = 1 AND head = 1 THEN
                            '<extra_id_' || CAST(run_id - 1 AS VARCHAR)
                              || '> ' || tok
                          WHEN masked = 1 THEN tok
                     END AS tgt
              FROM r
            ),
            agged AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(sum(masked) AS BIGINT) AS n_masked,
                     CAST(sum(head) AS BIGINT) AS n_spans,
                     coalesce(string_agg(inp, ' ' ORDER BY pos), '')
                       AS input_text,
                     coalesce(string_agg(tgt, ' ' ORDER BY pos), '')
                       AS target_text
              FROM pieces GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.n_tokens, 0) AS n_tokens,
                   coalesce(a.n_masked, 0) AS n_masked,
                   coalesce(a.n_spans, 0) AS n_spans,
                   coalesce(a.input_text, '') AS input_text,
                   coalesce(a.target_text, '') AS target_text
            FROM documents d LEFT JOIN agged a ON d.doc_id = a.doc_id
        """)(__import__("cartwright_spark.functions.sharding",
                        fromlist=["weight_sql"])
             .weight_sql("doc_id", "pos")),
        "textrank": _textrank_unrolled(),
        "readability": """
            WITH counts AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                          AS BIGINT) AS n_words,
                     CAST(greatest(len(regexp_extract_all(text,
                                                          '[.!?]+')), 1)
                          AS BIGINT) AS n_sents,
                     CAST(list_sum(list_transform(
                            regexp_extract_all(lower(text), '[a-z]+'),
                            w -> greatest(len(regexp_extract_all(
                                              w, '[aeiouy]+')), 1)))
                          AS BIGINT) AS n_syll
              FROM documents
            )
            SELECT doc_id, n_words, n_sents,
                   coalesce(n_syll, 0) AS n_syll,
                   CASE WHEN n_words > 0 THEN
                     206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                             - 84.6 * (CAST(n_syll AS DOUBLE) / n_words)
                   END AS flesch_ease,
                   CASE WHEN n_words > 0 THEN
                     0.39 * (CAST(n_words AS DOUBLE) / n_sents)
                     + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59
                   END AS fk_grade
            FROM counts
        """,
        "scc": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT src, dst FROM (
                SELECT event_id % 500 AS src,
                       (event_id % 500) * 7 + 3 AS raw
                FROM events
                UNION ALL
                SELECT event_id % 500,
                       (event_id % 500) * (event_id % 500) + 11
                FROM events
              ) t(src, raw), LATERAL (SELECT raw % 500 AS dst) l
              WHERE src <> dst
            ),
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            reach(s, d) AS (
              SELECT src, dst FROM e
              UNION
              SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.d
            ),
            mutual AS (
              SELECT r1.s AS v, r1.d AS u
              FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s
            )
            SELECT n.id,
                   CAST(least(n.id, coalesce(min(m.u), n.id)) AS BIGINT)
                     AS scc_id
            FROM nodes n LEFT JOIN mutual m ON m.v = n.id
            GROUP BY n.id
        """,
        "acf_lags": (lambda lags: f"""
            WITH base AS (
              SELECT event_type AS g, ts AS t, event_id AS i,
                     ((CAST(floor(value) AS BIGINT) % 10) + 10) % 10 AS x
              FROM events
            ),
            seq AS (
              SELECT g, x,
                     {', '.join(
                         f'lead(x, {k}) OVER w AS x{k}' for k in lags)}
              FROM base
              WINDOW w AS (PARTITION BY g ORDER BY t ASC, i ASC)
            ),
            mom AS (
              SELECT g, count(*) AS n, sum(x) AS s, sum(x * x) AS q,
                     {', '.join(
                         f'count(x{k}) AS c{k}, '
                         f'sum(CASE WHEN x{k} IS NOT NULL THEN x END)'
                         f' AS sa{k}, '
                         f'sum(x{k}) AS sb{k}, sum(x * x{k}) AS sxy{k}'
                         for k in lags)}
              FROM seq GROUP BY g
            )
            {' UNION ALL '.join(f'''
            SELECT g AS grp, CAST({k} AS INT) AS lag,
                   CAST(n AS BIGINT) AS n, CAST(c{k} AS BIGINT) AS c_pairs,
                   CAST(n*n*sxy{k} - n*s*(sa{k} + sb{k}) + c{k}*s*s
                        AS BIGINT) AS num,
                   CAST(n*n*q - n*s*s AS BIGINT) AS den,
                   CAST(n*n*sxy{k} - n*s*(sa{k} + sb{k}) + c{k}*s*s
                        AS DOUBLE)
                     / CAST(n*n*q - n*s*s AS DOUBLE) AS r
            FROM mom WHERE c{k} > 0 AND n*n*q - n*s*s > 0''' for k in lags)}
        """)(range(1, 5)),
        "rendezvous_shards": (lambda _w: f"""
            WITH weighted AS (
              SELECT doc_id, CAST(s AS INT) AS s,
                     CAST({_w} AS BIGINT) AS w
              FROM documents
              CROSS JOIN (SELECT unnest(range(8)) AS s) shards
            ),
            picked AS (
              SELECT doc_id, s, w,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY w DESC, s DESC) AS rn
              FROM weighted
            )
            SELECT doc_id, s AS shard, w AS shard_w
            FROM picked WHERE rn = 1
        """)(__import__("cartwright_spark.functions.sharding",
                        fromlist=["weight_sql"])
             .weight_sql("doc_id", "s")),
        "markov_transitions": """
            WITH pairs AS (
              SELECT event_type AS src,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts ASC, event_id ASC)
                       AS dst
              FROM events
            ),
            mat AS (
              SELECT src, dst, CAST(count(*) AS BIGINT) AS n
              FROM pairs WHERE dst IS NOT NULL
              GROUP BY src, dst
            )
            SELECT src, dst, n,
                   CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS n_src,
                   CAST(n AS DOUBLE)
                     / sum(n) OVER (PARTITION BY src) AS p
            FROM mat
        """,
        "ndcg_eval": """
            WITH toks AS (
              SELECT doc_id, len(ws) AS dl, unnest(ws) AS w
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(
                               lower(text), '\\s+'), x -> x <> '') AS ws
                    FROM documents)
            ),
            cand AS (
              SELECT w AS qid, doc_id, dl, count(*) AS occ
              FROM toks WHERE w IN ('join', 'hash', 'merge')
              GROUP BY w, doc_id, dl
            ),
            gained AS (
              SELECT qid, doc_id,
                     CAST(occ AS DOUBLE) / dl AS score,
                     CAST((1::BIGINT << CAST(least(occ, 3) AS INT)) - 1
                          AS BIGINT) AS gain
              FROM cand
            ),
            sys AS (
              SELECT qid, gain,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY score DESC, doc_id ASC)
                       AS r
              FROM gained
            ),
            ideal AS (
              SELECT qid, gain,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY gain DESC, doc_id ASC)
                       AS r
              FROM gained
            ),
            dcg AS (
              SELECT qid, CAST(count(*) AS BIGINT) AS n_ranked,
                     sum(CAST(gain AS DOUBLE) * ln(2) / ln(r + 1.0))
                       AS dcg
              FROM sys WHERE r <= 10 GROUP BY qid
            ),
            idcg AS (
              SELECT qid,
                     sum(CAST(gain AS DOUBLE) * ln(2) / ln(r + 1.0))
                       AS idcg
              FROM ideal WHERE r <= 10 GROUP BY qid
              HAVING sum(CAST(gain AS DOUBLE) * ln(2) / ln(r + 1.0)) > 0
            )
            SELECT d.qid, d.n_ranked, d.dcg, i.idcg, d.dcg / i.idcg AS ndcg
            FROM dcg d JOIN idcg i ON d.qid = i.qid
        """,
        "proximity_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(generate_subscripts(ws, 1) AS BIGINT) AS pos,
                     unnest(ws) AS w
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(
                               lower(text), '\\s+'), x -> x <> '') AS ws
                    FROM documents)
            ),
            a AS (SELECT doc_id, pos AS pa FROM toks WHERE w = 'join'),
            b AS (SELECT doc_id, pos AS pb FROM toks WHERE w = 'hash'),
            pairs AS (
              SELECT a.doc_id, abs(a.pa - b.pb) AS gap
              FROM a JOIN b ON a.doc_id = b.doc_id
              WHERE abs(a.pa - b.pb) <= 5
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(min(gap) AS BIGINT) AS min_gap
            FROM pairs GROUP BY doc_id
        """,
        "gearys_c": f"""
            WITH pts AS (
              SELECT CAST((event_id * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((event_id * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM events
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2
            ),
            offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                    (0,1),(1,-1),(1,0),(1,1)),
            hits AS (
              SELECT c.cell_row, c.cell_col,
                     CAST(count(*) AS BIGINT) AS deg,
                     CAST(sum(n.x) AS BIGINT) AS s,
                     CAST(sum(n.x * n.x) AS BIGINT) AS q
              FROM cells c CROSS JOIN offs o
              JOIN cells n ON n.cell_row = c.cell_row + o.dr
                          AND n.cell_col = ((c.cell_col + o.dc) % 72 + 72) % 72
              GROUP BY 1, 2
            ),
            per_cell AS (
              SELECT c.cell_row, c.cell_col, c.x,
                     COALESCE(h.deg, 0) AS deg, COALESCE(h.s, 0) AS s,
                     COALESCE(h.q, 0) AS q
              FROM cells c LEFT JOIN hits h USING (cell_row, cell_col)
            ),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_cells,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(deg) AS BIGINT) AS w,
                     CAST(sum(x * s) AS BIGINT) AS sxs,
                     CAST(sum(x * x * deg) AS BIGINT) AS sxxd
              FROM per_cell
            )
            SELECT cell_row, cell_col, x, deg, s, q,
                   {_geary_local_sql()} AS local_c,
                   {_geary_global_sql()} AS gearys_c
            FROM per_cell CROSS JOIN stats
        """,
        "morans_i": f"""
            WITH pts AS (
              SELECT CAST((event_id * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((event_id * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM events
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2
            ),
            offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                    (0,1),(1,-1),(1,0),(1,1)),
            hits AS (
              SELECT c.cell_row, c.cell_col,
                     CAST(count(*) AS BIGINT) AS deg,
                     CAST(sum(n.x) AS BIGINT) AS s
              FROM cells c CROSS JOIN offs o
              JOIN cells n ON n.cell_row = c.cell_row + o.dr
                          AND n.cell_col = ((c.cell_col + o.dc) % 72 + 72) % 72
              GROUP BY 1, 2
            ),
            per_cell AS (
              SELECT c.cell_row, c.cell_col, c.x,
                     COALESCE(h.deg, 0) AS deg, COALESCE(h.s, 0) AS s
              FROM cells c LEFT JOIN hits h USING (cell_row, cell_col)
            ),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_cells,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(deg) AS BIGINT) AS w,
                     CAST(sum(s) AS BIGINT) AS ss,
                     CAST(sum(x * s) AS BIGINT) AS sxs,
                     CAST(sum(x * deg) AS BIGINT) AS sxd
              FROM per_cell
            )
            SELECT cell_row, cell_col, x, deg, s,
                   {_moran_local_sql()} AS local_i,
                   {_moran_global_sql()} AS morans_i
            FROM per_cell CROSS JOIN stats
        """,
        "gistar_hotspots": f"""
            WITH pts AS (
              SELECT {_GISTAR_LAT} AS lat, {_GISTAR_LON} AS lon
              FROM orders
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2
            ),
            offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                    (0,1),(1,-1),(1,0),(1,1)),
            hits AS (
              SELECT c.cell_row, c.cell_col,
                     CAST(count(*) AS BIGINT) AS deg,
                     CAST(sum(n.x) AS BIGINT) AS s
              FROM cells c CROSS JOIN offs o
              JOIN cells n ON n.cell_row = c.cell_row + o.dr
                          AND n.cell_col = ((c.cell_col + o.dc) % 72 + 72) % 72
              GROUP BY 1, 2
            ),
            per_cell AS (
              SELECT c.cell_row, c.cell_col, c.x,
                     COALESCE(h.deg, 0) AS deg, COALESCE(h.s, 0) AS s
              FROM cells c LEFT JOIN hits h USING (cell_row, cell_col)
            ),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_cells,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(x * x) AS BIGINT) AS sxx
              FROM per_cell
            )
            SELECT cell_row, cell_col, x, deg, s,
                   {_gistar_sql()} AS gi_star
            FROM per_cell CROSS JOIN stats
        """,
        "tile_pyramid": """
            WITH pts AS (
              SELECT CAST((p_partkey * 37) % 1701 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS lat,
                     CAST((p_partkey * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM part
            ),
            base AS (
              SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 64),
                                         0), 63) AS BIGINT) AS tx,
                     CAST(least(greatest(floor((1.0 - ln(tan(radians(
                         least(greatest(lat, -85.05112878), 85.05112878)))
                         + 1.0 / cos(radians(least(greatest(lat,
                         -85.05112878), 85.05112878)))) / pi())
                         / 2.0 * 64), 0), 63) AS BIGINT) AS ty,
                     CAST(count(*) AS BIGINT) AS n
              FROM pts GROUP BY 1, 2
            )
            SELECT CAST(6 - k AS BIGINT) AS z,
                   tx // (1 << k) AS tile_x,
                   ty // (1 << k) AS tile_y,
                   CAST(sum(n) AS BIGINT) AS n_points
            FROM base, range(0, 7) t(k)
            GROUP BY 1, 2, 3
        """,
        "ripley_k": """
            WITH pts AS (
              SELECT CAST((c_custkey * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((c_custkey * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM customer
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2
            ),
            offs AS (
              SELECT r.dr, c.dc FROM range(-3, 4) r(dr), range(-3, 4) c(dc)
              WHERE r.dr * r.dr + c.dc * c.dc <= 9
            ),
            rings AS (
              SELECT o.dr * o.dr + o.dc * o.dc AS d2,
                     CAST(sum(CASE WHEN o.dr = 0 AND o.dc = 0
                              THEN c.x * (n.x - 1)
                              ELSE c.x * n.x END) AS BIGINT) AS pairs_at
              FROM cells c CROSS JOIN offs o
              JOIN cells n ON n.cell_row = c.cell_row + o.dr
                          AND n.cell_col = ((c.cell_col + o.dc) % 36 + 36) % 36
              GROUP BY 1
            ),
            cum AS (
              SELECT d2, pairs_at,
                     CAST(sum(pairs_at) OVER (ORDER BY d2
                                              ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS cum_pairs
              FROM rings
            ),
            n1 AS (SELECT CAST(sum(x) AS BIGINT) AS n FROM cells)
            SELECT d2, pairs_at, cum_pairs,
                   CAST(648.0 AS DOUBLE) * CAST(cum_pairs AS DOUBLE)
                     / nullif(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE),
                              CAST(0 AS DOUBLE)) AS k_hat
            FROM cum CROSS JOIN n1
        """,
        "idw_surface": """
            WITH pts AS (
              SELECT value,
                     CAST((event_id * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((event_id * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM events
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS mv
              FROM pts GROUP BY 1, 2
            ),
            probes AS (
              SELECT mv, r.dr, c.dc,
                     cell_row + r.dr AS tr,
                     ((cell_col + c.dc) % 36 + 36) % 36 AS tc
              FROM cells, range(-2, 3) r(dr), range(-2, 3) c(dc)
            )
            SELECT tr AS cell_row, tc AS cell_col,
                   CAST(count(*) AS BIGINT) AS n_src,
                   CAST(sum(CAST(mv / CAST(1 + dr * dr + dc * dc AS DOUBLE)
                                 AS DECIMAL(38,12))) AS DOUBLE)
                     / CAST(sum(CAST(CAST(1 AS DOUBLE)
                                     / CAST(1 + dr * dr + dc * dc AS DOUBLE)
                                 AS DECIMAL(38,12))) AS DOUBLE) AS est
            FROM probes
            WHERE tr >= 0 AND tr <= 18
            GROUP BY 1, 2
        """,
        "knox_spacetime": f"""
            WITH pts AS (
              SELECT CASE WHEN event_id % 2 = 0 THEN
                       CAST((epoch_us(ts) // 86400000000) % 18 AS DOUBLE)
                         * CAST(10.0 AS DOUBLE) - CAST(85.0 AS DOUBLE)
                     ELSE CAST((event_id * 37) % 1801 AS DOUBLE)
                         / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE)
                     END AS lat,
                     CASE WHEN event_id % 2 = 0 THEN
                       CAST((epoch_us(ts) // 86400000000) % 36 AS DOUBLE)
                         * CAST(10.0 AS DOUBLE) - CAST(175.0 AS DOUBLE)
                     ELSE CAST((event_id * 73) % 3600 AS DOUBLE)
                         / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE)
                     END AS lon,
                     ts
              FROM events
            ),
            cm AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     epoch_us(ts) // 86400000000 AS mbin,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2, 3
            ),
            xr AS (SELECT CAST(sum(x * (x - 1) // 2) AS BIGINT) AS x_pairs,
                          CAST(sum(x) AS BIGINT) AS n FROM cm),
            sr AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS s_pairs
                   FROM (SELECT sum(x) AS c FROM cm
                         GROUP BY cell_row, cell_col)),
            tr AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS t_pairs
                   FROM (SELECT sum(x) AS c FROM cm GROUP BY mbin))
            SELECT n, CAST(n * (n - 1) // 2 AS BIGINT) AS p_pairs,
                   x_pairs, s_pairs, t_pairs, {_knox_sql()} AS knox_ratio
            FROM (SELECT n, x_pairs, s_pairs, t_pairs,
                         CAST(n * (n - 1) // 2 AS BIGINT) AS p_pairs
                  FROM xr CROSS JOIN sr CROSS JOIN tr) q
        """,
        "colocation_lift": f"""
            WITH pts AS (
              SELECT event_type AS cat,
                     CAST((event_id * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((event_id * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM events
            ),
            cellcat AS (
              SELECT DISTINCT
                     CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     cat
              FROM pts
            ),
            pairboth AS (
              SELECT a.cat AS cat_a, b.cat AS cat_b,
                     CAST(count(*) AS BIGINT) AS n_both
              FROM cellcat a
              JOIN cellcat b USING (cell_row, cell_col)
              WHERE a.cat < b.cat
              GROUP BY 1, 2
            ),
            per_cat AS (
              SELECT cat, CAST(count(*) AS BIGINT) AS n
              FROM cellcat GROUP BY 1
            ),
            total AS (
              SELECT CAST(count(*) AS BIGINT) AS n_cells
              FROM (SELECT DISTINCT cell_row, cell_col FROM cellcat)
            )
            SELECT cat_a, cat_b, n_both, n_a, n_b, n_cells,
                   {_lift_sql()} AS lift
            FROM (
              SELECT cat_a, cat_b, n_both,
                     pa.n AS n_a, pb.n AS n_b, n_cells
              FROM pairboth
              JOIN per_cat pa ON pa.cat = pairboth.cat_a
              JOIN per_cat pb ON pb.cat = pairboth.cat_b
              CROSS JOIN total
            ) t
        """,
        "sen_slope": """
            WITH pts AS (
              SELECT ts,
                     CAST((event_id * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((event_id * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM events
            ),
            cm AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     epoch_us(ts) // 86400000000 AS mbin,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2, 3
            ),
            pairs AS (
              SELECT a.cell_row, a.cell_col,
                     CAST(b.x - a.x AS DOUBLE)
                       / CAST(b.mbin - a.mbin AS DOUBLE) AS slope
              FROM cm a JOIN cm b USING (cell_row, cell_col)
              WHERE a.mbin < b.mbin
            ),
            ranked AS (
              SELECT cell_row, cell_col, slope,
                     row_number() OVER (PARTITION BY cell_row, cell_col
                                        ORDER BY slope) AS rk,
                     CAST(count(*) OVER (PARTITION BY cell_row, cell_col)
                          AS BIGINT) AS n_pairs
              FROM pairs
            )
            SELECT cell_row, cell_col, n_pairs, slope AS sen_slope
            FROM ranked
            WHERE rk = (n_pairs + 1) // 2
        """,
        "trend_hotspots": f"""
            WITH pts AS (
              SELECT ts,
                     CAST((event_id * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((event_id * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM events
            ),
            cm AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     epoch_us(ts) // 86400000000 AS mbin,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2, 3
            ),
            s AS (
              SELECT a.cell_row, a.cell_col,
                     CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT)
                       AS s_stat
              FROM cm a JOIN cm b USING (cell_row, cell_col)
              WHERE a.mbin < b.mbin
              GROUP BY 1, 2
            ),
            tg AS (
              SELECT cell_row, cell_col, x, CAST(count(*) AS BIGINT) AS t
              FROM cm GROUP BY 1, 2, 3
            ),
            ties AS (
              SELECT cell_row, cell_col,
                     CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                       AS tie_term,
                     CAST(sum(t) AS BIGINT) AS n_bins
              FROM tg GROUP BY 1, 2
            ),
            per_cell AS (
              SELECT t.cell_row, t.cell_col, t.n_bins,
                     CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat,
                     t.tie_term
              FROM ties t LEFT JOIN s USING (cell_row, cell_col)
            )
            SELECT cell_row, cell_col, n_bins, s_stat, tie_term,
                   {_mk_z_sql()} AS mk_z
            FROM per_cell
        """,
        "trajectory_sessions": _TRAJ_SESSIONS_SQL,
        "stay_points": f"""
            WITH RECURSIVE pts0 AS (
              SELECT user_id, epoch_us(ts) AS us, event_id,
                     {_TRAJ_LAT} AS lat, {_TRAJ_LON} AS lon
              FROM events
            ),
            pts AS (
              SELECT user_id, us, lat, lon,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) - 1 AS j
              FROM pts0
            ),
            cnt AS (
              SELECT user_id, count(*) AS n FROM pts GROUP BY user_id
            ),
            nxt AS (
              SELECT a.user_id, a.j AS a,
                     coalesce(min(b.j), min(c.n)) AS e
              FROM pts a
              JOIN cnt c ON c.user_id = a.user_id
              LEFT JOIN pts b ON b.user_id = a.user_id AND b.j > a.j
                AND (b.lat - a.lat) * (b.lat - a.lat)
                  + (b.lon - a.lon) * (b.lon - a.lon) > 25.0
              GROUP BY a.user_id, a.j
            ),
            seg AS (
              SELECT x.user_id, x.a, x.e,
                     pe.us - pa.us >= 86400000000 AS ok,
                     x.e - x.a AS n_pts,
                     pa.us AS t_start_us, pe.us AS t_end_us,
                     pa.lat AS anchor_lat, pa.lon AS anchor_lon
              FROM nxt x
              JOIN pts pa ON pa.user_id = x.user_id AND pa.j = x.a
              JOIN pts pe ON pe.user_id = x.user_id AND pe.j = x.e - 1
            ),
            walk AS (
              SELECT user_id, CAST(0 AS BIGINT) AS a
              FROM cnt WHERE n > 0
              UNION ALL
              SELECT w.user_id,
                     CASE WHEN s.ok THEN s.e ELSE w.a + 1 END
              FROM walk w
              JOIN seg s ON s.user_id = w.user_id AND s.a = w.a
              JOIN cnt c ON c.user_id = w.user_id
              WHERE CASE WHEN s.ok THEN s.e ELSE w.a + 1 END < c.n
            )
            SELECT s.user_id,
                   row_number() OVER (PARTITION BY s.user_id
                                      ORDER BY s.a) AS sp_id,
                   s.n_pts, s.t_start_us, s.t_end_us,
                   s.anchor_lat, s.anchor_lon
            FROM walk w
            JOIN seg s ON s.user_id = w.user_id AND s.a = w.a
            WHERE s.ok
        """,
        "od_matrix": f"""
            WITH cells AS (
              SELECT user_id, session_id,
                     CAST(floor((clat + CAST(90.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT)
                       AS d_row,
                     CAST(floor((clon + CAST(180.0 AS DOUBLE))
                                / CAST(10.0 AS DOUBLE)) AS BIGINT)
                       AS d_col
              FROM ({_TRAJ_SESSIONS_SQL}) s
            ),
            trans AS (
              SELECT lag(d_row) OVER w AS o_row,
                     lag(d_col) OVER w AS o_col,
                     d_row, d_col
              FROM cells
              WINDOW w AS (PARTITION BY user_id ORDER BY session_id)
            )
            SELECT o_row, o_col, d_row, d_col,
                   CAST(count(*) AS BIGINT) AS n_trips
            FROM trans
            WHERE o_row IS NOT NULL
            GROUP BY 1, 2, 3, 4
        """,
        "kde_heatmap": f"""
            WITH pts AS (
              SELECT CAST((c_custkey * 37) % 1801 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat,
                     CAST((c_custkey * 73) % 3600 AS DOUBLE)
                       / CAST(10.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon
              FROM customer
            ),
            cells AS (
              SELECT CAST(floor((lat + CAST(90.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_row,
                     CAST(floor((lon + CAST(180.0 AS DOUBLE))
                                / CAST(5.0 AS DOUBLE)) AS BIGINT) AS cell_col,
                     CAST(count(*) AS BIGINT) AS x
              FROM pts GROUP BY 1, 2
            ),
            probes AS (
              SELECT x, r.dr, c.dc,
                     cell_row + r.dr AS tr,
                     ((cell_col + c.dc) % 72 + 72) % 72 AS tc
              FROM cells, range(-2, 3) r(dr), range(-2, 3) c(dc)
            )
            SELECT tr AS cell_row, tc AS cell_col,
                   CAST(count(*) AS BIGINT) AS n_src,
                   CAST(sum({_kde_term_sql()}) AS DOUBLE) AS density
            FROM probes
            WHERE tr >= 0 AND tr <= 36
            GROUP BY 1, 2
        """,
        # brute-force cross join with the SAME exact integer orientation
        # predicate as spatial/segjoin.py — no epsilon on either side.
        "segment_intersections": """
            WITH a AS (
              SELECT o_orderkey AS id,
                     (o_orderkey * 7919) % 10000 AS x0,
                     (o_orderkey * 104729) % 10000 AS y0,
                     (o_orderkey * 7919) % 10000
                       + (o_orderkey * 13) % 801 - 400 AS x1,
                     (o_orderkey * 104729) % 10000
                       + (o_orderkey * 17) % 801 - 400 AS y1
              FROM orders WHERE o_orderkey % 3 = 0
            ),
            b AS (
              SELECT c_custkey AS id,
                     (c_custkey * 6151) % 10000 AS x0,
                     (c_custkey * 3571) % 10000 AS y0,
                     (c_custkey * 6151) % 10000
                       + (c_custkey * 19) % 801 - 400 AS x1,
                     (c_custkey * 3571) % 10000
                       + (c_custkey * 23) % 801 - 400 AS y1
            FROM customer
            ),
            d AS (
              SELECT a.id AS a_id, b.id AS b_id,
                     (a.x1-a.x0)*(b.y0-a.y0) - (a.y1-a.y0)*(b.x0-a.x0) AS d1,
                     (a.x1-a.x0)*(b.y1-a.y0) - (a.y1-a.y0)*(b.x1-a.x0) AS d2,
                     (b.x1-b.x0)*(a.y0-b.y0) - (b.y1-b.y0)*(a.x0-b.x0) AS d3,
                     (b.x1-b.x0)*(a.y1-b.y0) - (b.y1-b.y0)*(a.x1-b.x0) AS d4
              FROM a CROSS JOIN b
            )
            SELECT a_id, b_id FROM d
            WHERE ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
              AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
        """,
        # expression shapes/parenthesization mirror operators/ranking.py
        # exactly so doubles agree past the hash tolerance.
        "crawl_budget": """
            WITH counts AS (
              SELECT source AS host, count(*) AS n_pages
              FROM documents GROUP BY source
            ),
            tot AS (SELECT sum(n_pages) AS c FROM counts),
            base AS (
              SELECT host, n_pages,
                     (1000 * n_pages) // (SELECT c FROM tot) AS base,
                     (1000 * n_pages) % (SELECT c FROM tot) AS rem
              FROM counts
            ),
            extra AS (SELECT 1000 - sum(base) AS k FROM base),
            winners AS (
              SELECT host FROM (
                SELECT host, row_number() OVER (
                  ORDER BY rem DESC, host) AS rn
                FROM base
              ) WHERE rn <= (SELECT k FROM extra)
            )
            SELECT b.host,
                   CAST(b.n_pages AS BIGINT) AS n_pages,
                   CAST(b.base + CASE WHEN w.host IS NOT NULL
                                      THEN 1 ELSE 0 END AS BIGINT)
                     AS quota
            FROM base b LEFT JOIN winners w ON b.host = w.host
        """,
        "redirect_resolve": """
            WITH RECURSIVE edges_raw AS (
              SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
                     'u' || CAST(doc_id - 1 AS VARCHAR) AS dst
              FROM documents WHERE doc_id % 64 <> 0
              UNION ALL
              SELECT 'u' || CAST(doc_id AS VARCHAR),
                     'loop' || CAST(doc_id AS VARCHAR)
              FROM documents WHERE doc_id % 192 = 0
              UNION ALL
              SELECT 'loop' || CAST(doc_id AS VARCHAR),
                     'u' || CAST(doc_id AS VARCHAR)
              FROM documents WHERE doc_id % 192 = 0
            ),
            edges AS (
              SELECT src, min(dst) AS dst FROM edges_raw GROUP BY src
            ),
            walk AS (
              SELECT src, dst AS cur, 1 AS hops FROM edges
              UNION ALL
              SELECT w.src, e.dst, w.hops + 1
              FROM walk w JOIN edges e ON w.cur = e.src
              WHERE w.hops < 32
            ),
            term AS (
              SELECT w.src, w.cur, w.hops FROM walk w
              WHERE w.hops <= 32
                AND w.cur NOT IN (SELECT src FROM edges)
            )
            SELECT e.src,
                   coalesce(t.cur, '') AS final_url,
                   CAST(coalesce(t.hops, 0) AS BIGINT) AS hops,
                   CASE WHEN t.src IS NOT NULL THEN 1 ELSE 0 END
                     AS resolved
            FROM edges e LEFT JOIN term t ON e.src = t.src
        """,
        "rrf_fusion": """
            WITH r1 AS (
              SELECT doc_id, row_number() OVER (
                ORDER BY n_chars DESC, doc_id) AS rank FROM documents
            ),
            r2 AS (
              SELECT doc_id, row_number() OVER (
                ORDER BY doc_id) AS rank FROM documents
            ),
            r3 AS (
              SELECT doc_id, rank FROM (
                SELECT doc_id, row_number() OVER (
                  ORDER BY (doc_id * 7) % 1009, doc_id) AS rank
                FROM documents
              ) WHERE rank <= 200
            ),
            u AS (
              SELECT doc_id, 1000000000000 // (60 + rank) AS c FROM r1
              UNION ALL
              SELECT doc_id, 1000000000000 // (60 + rank) FROM r2
              UNION ALL
              SELECT doc_id, 1000000000000 // (60 + rank) FROM r3
            ),
            f AS (
              SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS rrf_score_e12,
                     CAST(count(*) AS BIGINT) AS n_lists
              FROM u GROUP BY doc_id
            )
            SELECT doc_id, rrf_score_e12, n_lists,
                   row_number() OVER (
                     ORDER BY rrf_score_e12 DESC, doc_id) AS rrf_rank
            FROM f
            QUALIFY rrf_rank <= 50
        """,
        "template_groups": """
            WITH pages AS (
              SELECT doc_id,
                CASE doc_id % 5
                  WHEN 0 THEN '<html><head><title>t</title></head><body><h1>'
                              || substr(text, 1, 40)
                              || '</h1><p>p</p></body></html>'
                  WHEN 1 THEN '<html><body><div><p>' || substr(text, 1, 40)
                              || '</p><p>m</p></div><footer>f</footer></body></html>'
                  WHEN 2 THEN '<html><body><ul><li>' || substr(text, 1, 40)
                              || '</li><li>b</li><li>c</li></ul></body></html>'
                  WHEN 3 THEN '<html><body><table><tr><td>'
                              || substr(text, 1, 40)
                              || '</td><td>x</td></tr></table></body></html>'
                  ELSE '<html><body><article><section><p>'
                       || substr(text, 1, 40)
                       || '</p></section><aside>a</aside></article></body></html>'
                END AS html
              FROM documents
            ),
            fp AS (
              SELECT doc_id,
                     md5(array_to_string(list_slice(
                         regexp_extract_all(lower(html),
                                            '<([a-z][a-z0-9]*)', 1),
                         1, 512), ',')) AS dom_sig,
                     CAST(len(list_slice(
                         regexp_extract_all(lower(html),
                                            '<([a-z][a-z0-9]*)', 1),
                         1, 512)) AS BIGINT) AS n_tags
              FROM pages
            ),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM fp)
            SELECT dom_sig,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   min(doc_id) AS exemplar,
                   min(n_tags) AS n_tags,
                   round(count(*) / (SELECT t FROM tot), 6) AS share
            FROM fp GROUP BY dom_sig
        """,
        "zipf_slope": r"""
            WITH w AS (
              SELECT lang,
                     unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS term
              FROM documents
            ),
            counts AS (
              SELECT lang, term, count(*) AS freq FROM w GROUP BY lang, term
            ),
            ranked AS (
              SELECT lang,
                     ln(CAST(row_number() OVER (
                         PARTITION BY lang
                         ORDER BY freq DESC, term ASC) AS DOUBLE)) AS x,
                     ln(CAST(freq AS DOUBLE)) AS y
              FROM counts
              QUALIFY row_number() OVER (PARTITION BY lang
                                         ORDER BY freq DESC, term ASC) <= 128
            ),
            agg AS (
              SELECT lang,
                     count(*) AS n_terms,
                     (count(*) * sum(x * y) - sum(x) * sum(y))
                       / (count(*) * sum(x * x) - sum(x) * sum(x)) AS slope,
                     sum(x) AS sx, sum(y) AS sy,
                     CAST(count(*) AS DOUBLE) AS n
              FROM ranked GROUP BY lang
            )
            SELECT lang, n_terms,
                   round(slope, 4) AS zipf_slope,
                   round((sy - slope * sx) / n, 4) AS zipf_intercept
            FROM agg
        """,
        "bm25_scores": r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS term
              FROM documents
            ),
            dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
            stats AS (
              SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT count(*) FROM w) * 1.0
                     / (SELECT count(*) FROM documents) AS avgdl
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM w WHERE term IN ('spark', 'join', 'window')
              GROUP BY doc_id, term
            ),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * t.tf * 2.2
                       / (t.tf + 1.2 * (1.0 - 0.75
                                        + (0.75 * l.dl) / s.avgdl)))
                     AS score
            FROM tf t
            JOIN dfq d USING (term)
            JOIN dl l USING (doc_id)
            CROSS JOIN stats s
            GROUP BY t.doc_id
        """,
        # unnest values cast to DOUBLE so the arithmetic runs in double
        # like Spark's array<double> cast (FLOAT math would diverge)
        "centroid_outlier": """
            WITH ex AS (
              SELECT vec_id, label,
                     generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings
            ),
            cent AS (
              SELECT label, pos, avg(x) AS c FROM ex GROUP BY label, pos
            )
            SELECT e.vec_id, e.label,
                   SUM(e.x * c.c)
                   / (sqrt(SUM(e.x * e.x)) * sqrt(SUM(c.c * c.c)))
                     AS cos_centroid
            FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
            GROUP BY e.vec_id, e.label
        """,
        "linear_score": r"""
            WITH weights AS (
              SELECT b AS bucket,
                     ((b * 2654435761) % 2000003) / 1000001.5 - 1.0 AS wt
              FROM range(1024) t(b)
            ),
            toks AS (
              SELECT doc_id,
                     ('0x' || substr(md5(unnest(
                        list_filter(str_split_regex(lower(text), '\s+'),
                                    x -> x <> ''))), 1, 8))::BIGINT % 1024
                       AS bucket
              FROM documents
            )
            SELECT t.doc_id,
                   count(*) AS n_tokens,
                   SUM(w.wt) AS raw,
                   1.0 / (1.0 + exp(-(SUM(w.wt) / count(*)))) AS prob
            FROM toks t JOIN weights w USING (bucket)
            GROUP BY t.doc_id
        """,
        "kmv_distinct": """
            WITH v AS (
              SELECT DISTINCT o_orderpriority AS grp,
                     ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
                     )::BIGINT AS h
              FROM orders
            ),
            r AS (
              SELECT grp, h,
                     row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
              FROM v
            ),
            b AS (SELECT grp, h FROM r WHERE rn <= 64)
            SELECT grp AS o_orderpriority,
                   count(*) AS n_kept,
                   max(h) AS kth_hash,
                   CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                        ELSE 270582939648.0 / max(h) END AS est_distinct
            FROM b GROUP BY grp
        """,
        "gopher_repetition": r"""
            WITH arrs AS (
              SELECT doc_id, str_split_regex(lower(text), '\s+') AS arr
              FROM documents
            ), w0 AS (
              SELECT doc_id, unnest(arr) AS w,
                     generate_subscripts(arr, 1) AS ord0
              FROM arrs
            ), w AS (
              SELECT doc_id, w,
                     row_number() OVER (PARTITION BY doc_id ORDER BY ord0)
                       AS pos,
                     count(*) OVER (PARTITION BY doc_id) AS n
              FROM w0 WHERE w <> ''
            ), leads AS (
              SELECT doc_id, pos, n, w,
                     lead(w,1) OVER win AS w1, lead(w,2) OVER win AS w2,
                     lead(w,3) OVER win AS w3, lead(w,4) OVER win AS w4
              FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ), grams AS (
              SELECT doc_id, 1 AS gn, w AS gram FROM leads
              UNION ALL
              SELECT doc_id, 2, w || ' ' || w1 FROM leads WHERE pos + 1 <= n
              UNION ALL
              SELECT doc_id, 5,
                     w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
              FROM leads WHERE pos + 4 <= n
            ), per_gram AS (
              SELECT doc_id, gn, gram, count(*) AS c,
                     count(*) * length(gram) AS chars
              FROM grams GROUP BY 1, 2, 3
            ), agg AS (
              SELECT doc_id,
                     sum(c) FILTER (gn = 1) AS n_words,
                     sum(c - 1) FILTER (gn = 1) AS dup_words,
                     max(chars) FILTER (gn = 2) AS top2_cov_chars,
                     sum(chars) FILTER (gn = 2) AS tot2_chars,
                     sum(chars) FILTER (gn = 5 AND c > 1) AS dup5_chars,
                     sum(chars) FILTER (gn = 5) AS tot5_chars
              FROM per_gram GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
                   CAST(COALESCE(dup_words, 0) AS BIGINT) AS dup_words,
                   CAST(COALESCE(top2_cov_chars, 0) AS BIGINT)
                     AS top2_cov_chars,
                   CAST(COALESCE(tot2_chars, 0) AS BIGINT) AS tot2_chars,
                   CAST(COALESCE(dup5_chars, 0) AS BIGINT) AS dup5_chars,
                   CAST(COALESCE(tot5_chars, 0) AS BIGINT) AS tot5_chars,
                   CAST(COALESCE(dup_words, 0) * 10
                          <= COALESCE(n_words, 0) * 3
                        AND COALESCE(top2_cov_chars, 0) * 5
                          <= COALESCE(tot2_chars, 0)
                        AND COALESCE(dup5_chars, 0) * 20
                          <= COALESCE(tot5_chars, 0) * 3
                        AS INT) AS keep_repetition
            FROM documents d LEFT JOIN agg USING (doc_id)
        """,
        "j6_pip_boxes": f"""
            WITH boxes(admin_id, la0, la1, lo0, lo1) AS (VALUES
              {', '.join(
                f"('box{r}', {r*25-60.005!r}, {r*25-40.005!r}, "
                f"{r*50-150.005!r}, {r*50-110.005!r})" for r in range(5))}
            ),
            pts AS (
              SELECT CAST(l_orderkey AS VARCHAR) || '_' ||
                     CAST(l_linenumber AS VARCHAR) AS point_id, lat, lon
              FROM ({_COORDS_SQL})
            )
            SELECT point_id, admin_id
            FROM pts JOIN boxes
              ON lat > la0 AND lat < la1 AND lon > lo0 AND lon < lo1
        """,
        "j6_pip_bulk": f"""
            WITH boxes(admin_id, la0, la1, lo0, lo1) AS (VALUES
              {', '.join(
                f"('box{r}', {r*25-60.005!r}, {r*25-40.005!r}, "
                f"{r*50-150.005!r}, {r*50-110.005!r})" for r in range(5))}
            ),
            pts AS (
              SELECT CAST(l_orderkey AS VARCHAR) || '_' ||
                     CAST(l_linenumber AS VARCHAR) AS point_id, lat, lon
              FROM ({_COORDS_SQL})
            )
            SELECT point_id, admin_id
            FROM pts JOIN boxes
              ON lat > la0 AND lat < la1 AND lon > lo0 AND lon < lo1
        """,
        "o2_topk": """
            SELECT o_orderpriority, o_orderkey, rank FROM (
              SELECT o_orderpriority, o_orderkey,
                     row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders
            ) WHERE rank <= 10
        """,
        "fuzzy_country_join": (lambda names_sorted, names_all: f"""
            WITH idx(i, nm) AS (VALUES {names_sorted}),
            gaz(country_name) AS (VALUES {names_all}),
            probes AS (
              SELECT n_nationkey,
                     substr(nm, 1, length(nm) - 1) AS probe
              FROM nation JOIN idx
                ON idx.i = (n_nationkey % (SELECT count(*) FROM idx))
            ),
            l AS (SELECT n_nationkey, probe, lower(trim(probe)) AS ln
                  FROM probes),
            r AS (SELECT country_name, lower(trim(country_name)) AS rn
                  FROM gaz)
            SELECT n_nationkey, probe, country_name,
                   1.0 - levenshtein(ln, rn) /
                         greatest(length(ln), length(rn)) AS similarity
            FROM l JOIN r
              ON substr(ln, 1, 1) = substr(rn, 1, 1)
             AND abs(length(ln) - length(rn)) <= 3
            WHERE 1.0 - levenshtein(ln, rn) /
                        greatest(length(ln), length(rn)) >= 0.75
        """)(
            ", ".join(
                f"({i}, '" + n.replace("'", "''") + "')"
                for i, n in enumerate(sorted(__import__(
                    "cartwright_spark.sources.gazetteers",
                    fromlist=["x"]).countries_pdf()["country_name"]))),
            ", ".join(
                "('" + str(n).replace("'", "''") + "')"
                for n in __import__("cartwright_spark.sources.gazetteers",
                                    fromlist=["x"]).countries_pdf()["country_name"])),
        "geohash_encode": (lambda: f"""
            SELECT l_orderkey, l_linenumber,
                   {__import__('cartwright_spark.functions.geohash',
                               fromlist=['x']).geohash_sql('lat', 'lon', 6)
                    } AS gh
            FROM ({_COORDS_SQL})
        """)(),
        "bloom_semijoin": """
            SELECT l_orderkey, l_linenumber
            FROM lineitem
            WHERE l_orderkey IN (
              SELECT o_orderkey FROM orders WHERE o_orderkey % 50 = 0)
        """,
        "robots_filter": """
            WITH u AS (
              SELECT o_orderkey AS k,
                     'h' || CAST(o_custkey % 20 AS VARCHAR)
                       || '.example.com' AS host,
                     '/p' || CAST(o_orderkey % 4 AS VARCHAR)
                       || CASE WHEN o_orderkey % 5 = 0
                               THEN '/pub/page' ELSE '/item' END
                       || CAST(o_orderkey AS VARCHAR) AS path,
                     CAST((o_custkey % 20) % 3 AS VARCHAR) AS d
              FROM orders
            )
            SELECT k, host, path,
                   CASE WHEN starts_with(path, '/p' || d || '/pub')
                          THEN TRUE
                        WHEN starts_with(path, '/p' || d || '/')
                          THEN FALSE
                        ELSE TRUE END AS allowed,
                   CASE WHEN starts_with(path, '/p' || d || '/pub')
                          THEN 7
                        WHEN starts_with(path, '/p' || d || '/')
                          THEN 4
                        ELSE 0 END AS rule_len
            FROM u
        """,
        "warc_records": """
            WITH recs AS (
              SELECT doc_id AS blob_id, r AS rec_idx,
                     'response' AS rec_type,
                     'https://w' || CAST(doc_id AS VARCHAR)
                       || '.example.com/r/' || CAST(r AS VARCHAR) AS url,
                     'payload-' || CAST(doc_id AS VARCHAR) || '-'
                       || CAST(r AS VARCHAR) || '-'
                       || repeat('x', CAST(doc_id % 7 + r AS INT))
                       AS payload
              FROM documents CROSS JOIN generate_series(0, 2) t(r)
              WHERE doc_id < 200
            )
            SELECT blob_id, rec_idx, rec_type, url,
                   CAST(length(payload) AS BIGINT) AS n_bytes,
                   md5(payload) AS payload_md5
            FROM recs
        """,
        # gif frames: pixel indices, palette, delays, and frame start
        # times are all closed-form in (doc_id, frame) — the oracle
        # recomputes the decoded rasters' sums without any codec
        "multimodal_gif_frames": """
            WITH ids AS (
              SELECT doc_id FROM documents WHERE doc_id < 150
            ),
            dims AS (
              SELECT f.f, y.y, x.x
              FROM generate_series(0, 2) f(f),
                   generate_series(0, 9) y(y),
                   generate_series(0, 7) x(x)
            ),
            px AS (
              SELECT doc_id, f,
                     (doc_id * 31 + f * 13 + y * 7 + x * 3) % 64 AS p
              FROM ids CROSS JOIN dims
            )
            SELECT doc_id AS media_id, f AS frame,
                   10 + 5 * f AS delay_cs,
                   CAST(10 * f + (5 * f * (f - 1)) // 2 AS BIGINT) AS t_start_cs,
                   CAST(sum((p * 3) % 256 + (p * 5) % 256 + (p * 7) % 256)
                     AS BIGINT) AS px_sum
            FROM px
            GROUP BY doc_id, f
        """,
        "multimodal_video_frames": """
            WITH ids AS (
              SELECT doc_id FROM documents WHERE doc_id < 120
            ),
            dims AS (
              SELECT f.f, y.y, x.x
              FROM generate_series(0, 2) f(f),
                   generate_series(0, 1) y(y),
                   generate_series(0, 3) x(x)
            ),
            px AS (
              SELECT doc_id, f,
                     ((doc_id * 37 + f * 11 + y * 17 + x * 29) % 128) * 2 AS v
              FROM ids CROSS JOIN dims
            )
            SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame,
                   CAST(40 * f AS BIGINT) AS t_ms,
                   CAST(sum(v) * 64 * 3 AS BIGINT) AS px_sum
            FROM px
            GROUP BY doc_id, f
        """,
        "multimodal_wav_stats": """
            WITH ids AS (
              SELECT doc_id FROM documents WHERE doc_id < 200
            ),
            base AS (
              SELECT doc_id, c.c AS channel, i.i AS i,
                     ((doc_id * 13 + c.c * 7 + i.i * 5) % 200) - 100 AS v
              FROM ids
              CROSS JOIN generate_series(0, 1) c(c)
              JOIN generate_series(0, 127) i(i)
                ON i.i < 64 + doc_id % 64
            ),
            held AS (
              SELECT doc_id, channel, i, v,
                     last_value(CASE WHEN v > 0 THEN 1
                                     WHEN v < 0 THEN -1 END IGNORE NULLS)
                       OVER (PARTITION BY doc_id, channel ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS s
              FROM base
            ),
            tr AS (
              SELECT *, lag(s) OVER (PARTITION BY doc_id, channel
                                     ORDER BY i) AS ps
              FROM held
            )
            SELECT doc_id AS media_id,
                   CAST(channel AS BIGINT) AS channel,
                   CAST(8000 + doc_id AS BIGINT) AS rate,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(v * v) AS BIGINT) AS sum_sq,
                   CAST(max(abs(v)) AS BIGINT) AS peak_abs,
                   CAST(coalesce(sum(CASE WHEN s IS NOT NULL
                                          AND ps IS NOT NULL
                                          AND s <> ps THEN 1 END), 0)
                     AS BIGINT) AS zero_cross
            FROM tr
            GROUP BY doc_id, channel
        """,
        "grouped_quantile": """
            WITH g AS (
              SELECT CASE WHEN o_orderkey % 4 < 3 THEN 'hot'
                          ELSE 'c' || CAST(o_custkey % 50 AS VARCHAR)
                     END AS grp,
                     o_totalprice AS v
              FROM orders WHERE o_totalprice IS NOT NULL
            ),
            ranked AS (
              SELECT grp, v,
                     row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM g
            )
            SELECT grp, n,
                   CAST(floor(CAST(0.9 AS DOUBLE) * (n - 1)) AS BIGINT) AS k,
                   v AS value
            FROM ranked
            WHERE rn = 1 + floor(CAST(0.9 AS DOUBLE) * (n - 1))
        """,
        "exact_quantiles": """
            WITH ranked AS (
              SELECT o_totalprice AS v,
                     row_number() OVER (ORDER BY o_totalprice) AS rn,
                     count(*) OVER () AS n
              FROM orders WHERE o_totalprice IS NOT NULL
            )
            SELECT CAST(q AS DOUBLE) AS q,
                   CAST(floor(CAST(q AS DOUBLE) * (n - 1)) AS BIGINT) AS k,
                   v AS value
            FROM ranked
            JOIN (VALUES (0.1), (0.5), (0.9)) t(q)
              ON rn = 1 + floor(CAST(q AS DOUBLE) * (n - 1))
        """,
        # triangle/lcc: the oracle counts triangles orientation-free via
        # the canonical u<v three-way join — provably the same triangle
        # set the engine's degree-ordered orientation finds, each exactly
        # once; lcc doubles are single divisions of exact ints (CASTs keep
        # DuckDB out of DECIMAL arithmetic)
        "triangle_lcc": """
            WITH nn AS (SELECT count(*) AS n FROM customer),
            raw AS (
              SELECT c_custkey AS u, o
              FROM customer CROSS JOIN (VALUES (1), (2), (3)) t(o)
              WHERE (c_custkey * 7 + o) % 5 <> 0
            ),
            e0 AS (
              SELECT CAST(u AS VARCHAR) AS su,
                     CAST((u + o) % (SELECT n FROM nn) AS VARCHAR) AS sv
              FROM raw
            ),
            und AS (
              SELECT DISTINCT least(su, sv) AS u, greatest(su, sv) AS v
              FROM e0 WHERE su <> sv
            ),
            deg AS (
              SELECT id, count(*) AS degree FROM (
                SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und
              ) GROUP BY id
            ),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM und e1
              JOIN und e2 ON e2.u = e1.v
              JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
            ),
            pv AS (
              SELECT id, count(*) AS triangles FROM (
                SELECT a AS id FROM tri
                UNION ALL SELECT b AS id FROM tri
                UNION ALL SELECT c AS id FROM tri
              ) GROUP BY id
            )
            SELECT d.id, d.degree, coalesce(pv.triangles, 0) AS triangles,
                   CASE WHEN d.degree >= 2
                        THEN CAST(2.0 AS DOUBLE) * coalesce(pv.triangles, 0)
                             / (d.degree * (d.degree - 1))
                        ELSE CAST(0.0 AS DOUBLE) END AS lcc
            FROM deg d LEFT JOIN pv ON pv.id = d.id
        """,
        # polygon measures: per-edge terms mirrored expression-for-
        # expression, rounded to DECIMAL(38,12) and summed as decimal on
        # BOTH sides (exact + associative ⇒ no float-sum order drift);
        # float literals Python-computed so both engines parse the same
        # doubles
        "polygon_measures": f"""
            WITH corners(pos, sy, sx) AS (
              VALUES (0, -1, -1), (1, -1, 1), (2, 1, 1), (3, 1, -1)
            ),
            base AS (
              SELECT s_suppkey AS poly_id,
                     (s_suppkey * 37 % 120) - 60.0 AS clat,
                     (s_suppkey * 73 % 340) - 170.0 AS clon,
                     0.5 + (s_suppkey % 7) / CAST(4.0 AS DOUBLE) AS hh,
                     0.5 + (s_suppkey % 11) / CAST(4.0 AS DOUBLE) AS hw
              FROM supplier
            ),
            verts AS (
              SELECT poly_id, pos,
                     clat + sy * hh AS lat, clon + sx * hw AS lon
              FROM base CROSS JOIN corners
            ),
            edges AS (
              SELECT poly_id, lat AS lat1, lon AS lon1,
                     coalesce(lead(lat) OVER w, first_value(lat) OVER w) AS lat2,
                     coalesce(lead(lon) OVER w, first_value(lon) OVER w) AS lon2
              FROM verts WINDOW w AS (PARTITION BY poly_id ORDER BY pos)
            ),
            agg AS (
              SELECT poly_id, count(*) AS n_vertices,
                     sum(CAST((radians(lon2) - radians(lon1))
                              * (2.0 + sin(radians(lat1)) + sin(radians(lat2)))
                         AS DECIMAL(38,12))) AS a,
                     sum(CAST(12742017.6 * asin(sqrt(least(greatest(
                           power(sin((radians(lat2) - radians(lat1)) / 2), 2)
                           + cos(radians(lat1)) * cos(radians(lat2))
                             * power(sin((radians(lon2) - radians(lon1)) / 2), 2),
                           0.0), 1.0))) AS DECIMAL(38,12))) AS p
              FROM edges GROUP BY poly_id
            )
            SELECT poly_id, n_vertices,
                   abs(CAST(a AS DOUBLE)) * {6371.0088 ** 2 / 2.0!r} AS area_km2,
                   CAST(p AS DOUBLE) / 1000.0 AS perimeter_km
            FROM agg
        """,
        # hll: register derivation mirrored term-for-term; rho is
        # integer-exact (binary-string length), the harmonic sum is a sum
        # of exact powers of two (order-independent), and the float
        # literals are Python-computed so both engines parse the same
        # doubles (DuckDB would otherwise fold 0.709*64*64 in DECIMAL)
        "hll_distinct": f"""
            WITH vals AS (
              SELECT o_orderpriority AS grp, CAST(o_custkey AS VARCHAR) AS v
              FROM orders
              UNION ALL
              SELECT source AS grp, CAST(doc_id AS VARCHAR) AS v
              FROM documents
            ),
            hashed AS (
              SELECT grp,
                     (('0x' || substr(md5(v || '#hllidx'), 1, 8))::BIGINT
                      % 64) AS reg,
                     ('0x' || substr(md5(v || '#hllrho'), 1, 8))::BIGINT AS h
              FROM vals
            ),
            regs AS (
              SELECT grp, reg,
                     max(CASE WHEN h = 0 THEN 33
                              ELSE 33 - length(bin(h)) END) AS rho
              FROM hashed GROUP BY grp, reg
            ),
            agg AS (
              SELECT grp, count(*) AS n_regs,
                     sum(1.0::DOUBLE / (1::BIGINT << rho)) AS s_ne
              FROM regs GROUP BY grp
            )
            SELECT grp, n_regs,
                   CASE WHEN {0.709 * 64 * 64!r} / (s_ne + (64 - n_regs))
                             <= 160.0 AND (64 - n_regs) > 0
                        THEN 64.0 * ln(64.0 / (64 - n_regs))
                        ELSE {0.709 * 64 * 64!r} / (s_ne + (64 - n_regs))
                   END AS est_distinct
            FROM agg
        """,
        # haversine mirrors functions/geodesy.py haversine_col term-for-term
        # (radians → half-angle sines → clamp → 2R·asin√h with 2R folded to
        # one literal, matching F.lit(2.0 * EARTH_RADIUS_M))
        "radius_join": """
            WITH q AS (
              SELECT c_custkey AS qid,
                     ((c_custkey * 131) % 18001) / 100.0 - 90.0 AS qlat,
                     ((c_custkey * 211) % 36001) / 100.0 - 180.0 AS qlon
              FROM customer
            ),
            sites AS (
              SELECT p_partkey AS site_id,
                     ((p_partkey * 7919) % 18001) / 100.0 - 90.0 AS slat,
                     ((p_partkey * 104729) % 36001) / 100.0 - 180.0 AS slon
              FROM part
            ),
            pairs AS (
              SELECT q.qid, s.site_id,
                     12742017.6 * asin(sqrt(least(greatest(
                       power(sin((radians(s.slat) - radians(q.qlat)) / 2), 2)
                       + cos(radians(q.qlat)) * cos(radians(s.slat))
                         * power(sin((radians(s.slon) - radians(q.qlon)) / 2), 2),
                       0.0), 1.0))) AS dist_m
              FROM q CROSS JOIN sites s
            )
            SELECT qid, site_id, dist_m FROM pairs WHERE dist_m <= 300000.0
        """,
        "knn_grid": """
            WITH q AS (
              SELECT c_custkey AS qid,
                     (c_custkey * 37 % 181) - 90.0 AS qlat,
                     (c_custkey * 73 % 361) - 180.0 AS qlon
              FROM customer WHERE c_custkey <= 10
            ),
            sites AS (
              SELECT p_partkey AS site_id,
                     ((p_partkey * 131) % 18001) / 100.0 - 90.0 AS slat,
                     ((p_partkey * 211) % 36001) / 100.0 - 180.0 AS slon
              FROM part
            ),
            scored AS (
              SELECT q.qid, s.site_id,
                     row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY (s.slat - q.qlat)^2 + (s.slon - q.qlon)^2 ASC,
                                s.site_id ASC) AS rank
              FROM sites s CROSS JOIN q
            )
            SELECT qid, site_id, rank FROM scored WHERE rank <= 5
        """,
        "simsearch_topk": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
            scored AS (
              SELECT q.qid, e.vec_id AS neighbor_id,
                     list_dot_product(e.v, q.qv) /
                     (sqrt(list_dot_product(e.v, e.v)) *
                      sqrt(list_dot_product(q.qv, q.qv))) AS cosine
              FROM e CROSS JOIN q
            ),
            ranked AS (
              SELECT qid, neighbor_id,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT qid, neighbor_id, rank FROM ranked WHERE rank <= 5
        """,
        # full re-derivation of the A6-A8 semantics: distinct epoch
        # seconds → lag deltas → median → uniformity thresholds
        # (1e-9 / 0.01 relative) → unit argmin by relative error with
        # the unit table's insertion order as tie-break
        "temporal_resolution": (lambda units: f"""
            WITH units(unit, dur, idx) AS (VALUES {units}),
            s AS (
              SELECT DISTINCT CAST(user_id AS VARCHAR) AS grp,
                     epoch_us(ts) / 1e6 AS secs
              FROM events WHERE ts IS NOT NULL
            ),
            d AS (
              SELECT grp, secs - lag(secs) OVER
                       (PARTITION BY grp ORDER BY secs) AS delta
              FROM s
            ),
            d2 AS (SELECT grp, delta FROM d WHERE delta IS NOT NULL),
            med AS (SELECT grp, median(delta) AS med FROM d2 GROUP BY grp),
            dev AS (
              SELECT d2.grp, max(abs(d2.delta - med.med)) AS maxdev
              FROM d2 JOIN med USING (grp) GROUP BY d2.grp
            ),
            u AS (
              SELECT med.grp, med.med,
                     CASE WHEN dev.maxdev < 1e-9 * abs(med.med)
                            THEN 'PERFECT'
                          WHEN dev.maxdev < 0.01 * abs(med.med)
                            THEN 'UNIFORM'
                          ELSE 'NOT_UNIFORM' END AS uniformity
              FROM med JOIN dev USING (grp)
            ),
            ranked AS (
              SELECT u.grp, u.uniformity, un.unit,
                     row_number() OVER (PARTITION BY u.grp
                       ORDER BY abs(un.dur - u.med) / un.dur ASC,
                                un.idx ASC) AS rn
              FROM u CROSS JOIN units un
            )
            SELECT grp AS "group", uniformity, unit
            FROM ranked WHERE rn = 1
        """)(", ".join(
            f"('{n}', CAST({v!r} AS DOUBLE), {i})"
            for i, (n, v) in enumerate(__import__(
                "cartwright_spark.schemas",
                fromlist=["x"]).TIME_UNITS.items()))),
        # golden-values oracles over deterministic fixtures
        # (sources/fixtures.py; constants locked by scripts/gen_goldens.py):
        # engine-defined outputs (MinHash/SimHash/crc32/xxhash64 hashes,
        # S2/H3 cell ids, LSH buckets) aren't SQL-recomputable, so the
        # exact output over an SF-independent input is the oracle
        "minhash_lsh": _golden_sql("minhash_lsh", ["id_a", "id_b"]),
        "minhash_dedup_assign": _golden_sql("minhash_dedup_assign",
                                            ["id", "keeper_id"]),
        "simhash_pairs": _golden_sql("simhash_pairs",
                                     ["id_a", "id_b", "hamming"]),
        "s2_histogram": _golden_sql("s2_histogram", ["s2_cell", "n_points"]),
        "h3_histogram": _golden_sql("h3_histogram", ["hex_cell", "n_points"]),
        "embedding_near_dup_lsh": _golden_sql("embedding_near_dup_lsh",
                                              ["id_a", "id_b"]),
        "lsh_ann_topk": _golden_sql("lsh_ann_topk",
                                    ["qid", "neighbor_id", "rank"]),
        "ivf_ann_topk": _golden_sql("ivf_ann_topk",
                                    ["qid", "neighbor_id", "rank"]),
        "doc_fingerprint": _golden_sql("doc_fingerprint",
                                       ["doc_id", "fp_min_gram", "fp_doc"]),
        # golden-values oracles: these queries' inputs are
        # SF-independent (customer keys + gazetteer sites; the part-key
        # mesh), so their exact outputs are locked as constants —
        # verified identical across sf0.001/sf0.01/sf0.1
        "knn_cells": _golden_sql("knn_cells", ["qid", "site_id", "rank"]),
        "knn_hex": _golden_sql("knn_hex", ["qid", "site_id", "rank"]),
        "spatial_grid_resolution": """
            SELECT * FROM (VALUES ('_all', 'square', 'PERFECT', 'degrees',
              CAST(0.5000000000000007 AS DOUBLE)))
            AS t("group", kind, uniformity, unit, resolution)
        """,
        # golden-values oracle: the E1/E2 classification of this fixed
        # 6-column fixture is deterministic (seeded sampling) and locked —
        # any cascade/validator regression shows up as a value mismatch
        "cartwright_categorize": """
            SELECT * FROM (VALUES
              ('event_date', 'time', 'date', '%Y-%m-%d'),
              ('month', 'time', 'date', '%m'),
              ('Year', 'time', 'date', '%Y'),
              ('reading_lat', 'geo', 'latitude', ''),
              ('kind', '', '', ''),
              ('value', 'geo', 'longitude', '')
            ) AS t("column", category, subcategory, format)
        """,
        "j9_salted_rollup": f"""
            WITH pts AS (SELECT lat FROM ({_COORDS_SQL})),
            banded AS (
              SELECT lat,
                     CASE WHEN abs(lat) < 45.0 THEN 0
                          ELSE CAST(floor(lat / 10.0) AS BIGINT) END AS band
              FROM pts
            )
            SELECT band, count(*) AS n_points,
                   min(lat) AS lat_min, max(lat) AS lat_max
            FROM banded GROUP BY band
        """,
        "multimodal_frame_plan": """
            SELECT doc_id AS media_id,
                   CAST(unnest(range(0, (doc_id % 7) * 500 + 1500, 400))
                        AS INTEGER) AS frame_ts_ms
            FROM documents
            WHERE doc_id % 3 = 2
        """,
        "incremental_microbatch": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY user_id
        """,
        # word-3-gram Jaccard re-derived: same unfiltered whitespace split,
        # same [0, max(n-3,0)] gram starts (short docs yield one short
        # gram), |∪| = |a|+|b|−|∩| over the distinct sets
        "ngram_jaccard": """
            WITH g AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(ws) - 3, 0) + 1),
                       i -> array_to_string(list_slice(ws, i + 1, i + 3),
                                            ' '))) AS grams
              FROM (SELECT doc_id,
                           str_split_regex(lower(text), '\\s+') AS ws
                    FROM documents)
            ),
            cand AS (
              SELECT doc_id AS id_a, doc_id + 1 AS id_b
              FROM documents WHERE doc_id < 100
            )
            SELECT cand.id_a, cand.id_b,
                   round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / greatest(len(a.grams) + len(b.grams)
                                    - len(list_intersect(a.grams, b.grams)),
                                    1), 6) AS jaccard
            FROM cand
            JOIN g a ON cand.id_a = a.doc_id
            JOIN g b ON cand.id_b = b.doc_id
        """,
        # full re-derivation of the curation composition: md5 min-id
        # keeper join, identical integer counts, the same left-associated
        # score sum (bit-identical double arithmetic), marker argmax with
        # (hits DESC, lang ASC) tie-break
        "corpus_curation": (lambda markers, stopwords: f"""
            WITH keeper AS (
              SELECT md5(text) AS h, min(doc_id) AS k
              FROM documents GROUP BY md5(text)
            ),
            kept AS (
              SELECT d.doc_id, d.text FROM documents d
              JOIN keeper ON md5(d.text) = keeper.h AND d.doc_id = keeper.k
            ),
            feats AS (
              SELECT doc_id, text,
                     list_filter(str_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g'))
                       AS n_punct
              FROM kept
            ),
            scored AS (
              SELECT doc_id, ws,
                     len(ws) AS n_words,
                     CASE WHEN len(ws) > 0 THEN
                       CAST(list_sum(list_transform(ws, w -> length(w)))
                            AS DOUBLE) / len(ws) ELSE 0.0 END AS mwl,
                     CASE WHEN n_chars > 0 THEN
                       CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0
                     END AS punct_ratio,
                     len(list_intersect(list_distinct(ws),
                                        [{stopwords}])) AS n_stop
              FROM feats
            ),
            q AS (
              SELECT doc_id, n_words,
                     -- CAST to DOUBLE: bare literals are DECIMAL in
                     -- DuckDB (exact decimal sums AND a Decimal-typed
                     -- result), while Spark sums doubles
                     (CASE WHEN n_words >= 10 AND n_words <= 100000
                           THEN CAST(0.4 AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN mwl >= 3 AND mwl <= 12
                             THEN CAST(0.3 AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN punct_ratio <= 0.2
                             THEN CAST(0.2 AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN n_stop >= 2
                             THEN CAST(0.1 AS DOUBLE) ELSE 0.0 END)
                       AS quality_score,
                     list_distinct(ws) AS dws
              FROM scored
            ),
            lang_scored AS (
              {" UNION ALL ".join(
                  f"SELECT doc_id, '{lang}' AS lang, "
                  f"len(list_intersect(dws, [{lst}])) AS hits FROM q"
                  for lang, lst in markers)}
            ),
            lang_pick AS (
              SELECT doc_id, lang AS lang_detected,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY hits DESC, lang ASC) AS rn
              FROM lang_scored
            )
            SELECT q.doc_id, q.n_words,
                   round(q.quality_score, 4) AS quality_score,
                   lang_pick.lang_detected
            FROM q JOIN lang_pick USING (doc_id)
            WHERE lang_pick.rn = 1
              AND q.n_words BETWEEN 10 AND 100000
              AND q.quality_score >= 0.5
              AND lang_pick.lang_detected IN ('en', 'es')
        """)(
            [(lang, ", ".join(f"'{m}'" for m in ms))
             for lang, ms in sorted(__import__(
                 "cartwright_spark.operators.textstats",
                 fromlist=["x"])._LANG_MARKERS.items())],
            ", ".join(f"'{s}'" for s in __import__(
                "cartwright_spark.operators.textstats",
                fromlist=["x"])._STOPWORDS_EN)),
        # gap-break sessionization re-derived in SQL: lag → break flag →
        # running session id → per-session aggregate (ties in secs give
        # gap 0, so session assignment is order-ambiguity-free)
        "stream_sessionize": """
            WITH src AS (
              SELECT user_id, epoch_us(ts) / 1e6 AS secs, value
              FROM events WHERE ts IS NOT NULL
            ),
            lagged AS (
              SELECT user_id, secs, value,
                     CASE WHEN secs - lag(secs) OVER
                            (PARTITION BY user_id ORDER BY secs) > 1800.0
                          THEN 1 ELSE 0 END AS brk
              FROM src
            ),
            sess AS (
              SELECT user_id, secs, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY secs
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM lagged
            )
            SELECT user_id,
                   round(min(secs), 3) AS session_start,
                   round(max(secs), 3) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM sess GROUP BY user_id, sid
        """,
        "p10_latlon_dedup": f"""
            SELECT lat, lon,
                   radians(lat) AS lat_rad, radians(lon) AS lon_rad
            FROM (SELECT DISTINCT lat, lon FROM ({_COORDS_SQL})
                  WHERE lat IS NOT NULL AND lon IS NOT NULL)
        """,
        "dedup_groups": """
            WITH doubled AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
            )
            SELECT md5(text) AS content_hash, count(*) AS n_dups,
                   min(doc_id) AS keeper_id
            FROM doubled GROUP BY md5(text) HAVING count(*) > 1
        """,
        "lang_detect": (lambda markers: f"""
            WITH words AS (
              SELECT doc_id,
                     list_distinct(list_filter(
                       str_split_regex(lower(text), '\\s+'), x -> x <> ''))
                       AS ws
              FROM documents
            ),
            scored AS (
              {" UNION ALL ".join(
                  f"SELECT doc_id, '{lang}' AS lang, "
                  f"len(list_intersect(ws, [{lst}])) AS hits FROM words"
                  for lang, lst in markers)}
            ),
            ranked AS (
              SELECT doc_id, lang, hits,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY hits DESC, lang ASC) AS rn
              FROM scored
            )
            SELECT doc_id, lang AS lang_detected,
                   CAST(hits AS INTEGER) AS lang_score
            FROM ranked WHERE rn = 1
        """)([(lang, ", ".join(f"'{m}'" for m in ms))
              for lang, ms in sorted(__import__(
                  "cartwright_spark.operators.textstats",
                  fromlist=["x"])._LANG_MARKERS.items())]),
        "embedding_cosine_pairs": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))) >= 0.35
        """,
        "embedding_cosine_blocked": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))) >= 0.35
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   ['image','audio','video'][(doc_id % 3) + 1] AS kind,
                   sha256(text) AS payload_sha256,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
            FROM documents
        """,
        "multimodal_png_decode": """
            SELECT d.doc_id AS media_id,
                   CAST(SUM((d.doc_id*31 + y.r*7 + x.r*3 + c.r*11) % 256)
                        AS BIGINT) AS px_sum,
                   CAST(MIN((d.doc_id*31 + y.r*7 + x.r*3 + c.r*11) % 256)
                        AS BIGINT) AS px_min,
                   CAST(MAX((d.doc_id*31 + y.r*7 + x.r*3 + c.r*11) % 256)
                        AS BIGINT) AS px_max
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 range(16) y(r), range(12) x(r), range(3) c(r)
            GROUP BY d.doc_id
        """,
        # JPEG round-trip is exact for 8x8-constant even-valued grayscale
        # blocks at Q50 (jpeg.py docstring), so the decoded pixels equal
        # the closed-form block values; x3 for the three equal channels
        "multimodal_jpeg_decode": """
            SELECT d.doc_id AS media_id,
                   CAST(SUM(3 * (((d.doc_id*37 + (y.r // 8)*17
                                   + (x.r // 8)*29) % 128) * 2))
                        AS BIGINT) AS px_sum,
                   CAST(MIN(((d.doc_id*37 + (y.r // 8)*17
                              + (x.r // 8)*29) % 128) * 2)
                        AS BIGINT) AS px_min,
                   CAST(MAX(((d.doc_id*37 + (y.r // 8)*17
                              + (x.r // 8)*29) % 128) * 2)
                        AS BIGINT) AS px_max
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
                 range(16) y(r), range(32) x(r)
            GROUP BY d.doc_id
        """,
        "p8_date_format": """
            WITH v AS (
              SELECT event_id,
                     CASE WHEN event_id % 3 = 0
                          THEN strftime(ts, '%Y-%m-%d')
                          ELSE 'not-a-date-' || CAST(event_id AS VARCHAR)
                     END AS v
              FROM events
            )
            SELECT event_id, v,
                   CASE WHEN try_strptime(v, '%Y-%m-%d') IS NOT NULL
                        THEN 1 ELSE 0 END AS is_valid
            FROM v
        """,
        "j4_continent_fuzzy": (lambda terms: f"""
            WITH gaz(term) AS (VALUES {terms}),
            l AS (SELECT r_regionkey, r_name, lower(trim(r_name)) AS ln
                  FROM region),
            r AS (SELECT term, lower(trim(term)) AS rt FROM gaz)
            SELECT r_regionkey, r_name, term,
                   1.0 - levenshtein(ln, rt) /
                         greatest(length(ln), length(rt)) AS ratio
            FROM l CROSS JOIN r
            WHERE 1.0 - levenshtein(ln, rt) /
                        greatest(length(ln), length(rt)) >= 0.85
        """)(", ".join(
            "('" + t.replace("'", "''") + "')"
            for t in __import__("cartwright_spark.sources.gazetteers",
                                fromlist=["x"]).continent_terms())),
        "c4_filter": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 w -> w <> '') AS words
              FROM documents
            ),
            lined AS (
              SELECT doc_id,
                list_transform(
                  range(0, CAST(ceil(len(words) / 8.0) AS BIGINT)),
                  i -> array_to_string(
                         list_slice(words, i*8 + 1, i*8 + 8), ' ')
                       || CASE WHEN (doc_id + i) % 13 = 0
                               THEN ' javascript news.'
                               WHEN (doc_id + i) % 5 = 0 THEN ''
                               ELSE '.' END)
                || CASE WHEN doc_id % 17 = 0
                        THEN ['lorem ipsum filler text here.']
                        ELSE CAST([] AS VARCHAR[]) END
                || CASE WHEN doc_id % 11 = 0
                        THEN ['function() {']
                        ELSE CAST([] AS VARCHAR[]) END AS lines
              FROM base
            ),
            kept AS (
              SELECT doc_id, lines,
                     list_filter(lines, l ->
                         regexp_matches(l, '[.!?"”]\\s*$')
                         AND len(list_filter(
                                 string_split_regex(trim(l), '\\s+'),
                                 w -> w <> '')) >= 3
                         AND NOT contains(lower(l), 'javascript'))
                       AS keptl
              FROM lined
            )
            SELECT doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(keptl) AS BIGINT) AS n_kept,
                   CAST(contains(lower(array_to_string(lines, chr(10))),
                                 'lorem ipsum') AS INT) AS has_lorem,
                   CAST(contains(array_to_string(lines, chr(10)), '{')
                        AS INT) AS has_brace,
                   CAST(len(keptl) >= 5
                        AND NOT contains(
                              lower(array_to_string(lines, chr(10))),
                              'lorem ipsum')
                        AND NOT contains(array_to_string(lines, chr(10)),
                                         '{') AS INT) AS keep,
                   COALESCE(array_to_string(keptl, chr(10)), '')
                     AS clean_text
            FROM kept
        """,
        "rolling_anomaly": """
            WITH ev AS (
              SELECT ((user_id % 64) + 64) % 64 AS series, event_id, ts,
                     ((CAST(floor(value) AS BIGINT) % 100) + 100) % 100
                       AS y
              FROM events
            ),
            sc AS (
              SELECT series, event_id, y,
                     count(y) OVER w AS n_prev,
                     CAST(sum(y) OVER w AS BIGINT) AS s_prev,
                     CAST(sum(y * y) OVER w AS BIGINT) AS q_prev
              FROM ev
              WINDOW w AS (PARTITION BY series ORDER BY ts, event_id
                           ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
            )
            SELECT series, event_id, y, n_prev, s_prev, q_prev,
                   CAST((n_prev * y - s_prev) * (n_prev * y - s_prev)
                        > 9 * (n_prev * q_prev - s_prev * s_prev)
                        AS INT) AS is_anomaly
            FROM sc
            WHERE n_prev >= 4
        """,
        "canonical_pick": """
            WITH k AS (
              SELECT md5(text) AS content_key, doc_id, n_chars
              FROM documents
            ),
            r AS (
              SELECT content_key, doc_id,
                     row_number() OVER (PARTITION BY content_key
                                        ORDER BY n_chars, doc_id) AS rn,
                     count(*) OVER (PARTITION BY content_key)
                       AS n_members
              FROM k
            )
            SELECT content_key, doc_id AS canonical_id,
                   CAST(n_members AS BIGINT) AS n_members
            FROM r WHERE rn = 1
        """,
        "scd2_merge": """
            WITH ordered AS (
              SELECT user_id AS entity, ts, event_type AS val, event_id,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                       AS prev
              FROM events
            ),
            ch AS (
              SELECT entity, ts, val, event_id FROM ordered
              WHERE prev IS NULL OR prev <> val
            )
            SELECT entity, val, ts AS valid_from,
                   lead(ts) OVER (PARTITION BY entity
                                  ORDER BY ts, event_id) AS valid_to,
                   CAST(lead(ts) OVER (PARTITION BY entity
                                       ORDER BY ts, event_id) IS NULL
                        AS INT) AS is_current
            FROM ch
        """,
        "neighbor_jaccard": f"""
            WITH e AS (
              {_DIGRAPH500_CANON_SQL}
            ),
            adj AS (
              SELECT u AS z, v AS n FROM e
              UNION ALL
              SELECT v AS z, u AS n FROM e
            ),
            deg AS (SELECT z, count(*) AS dz FROM adj GROUP BY z),
            za AS (
              SELECT adj.z, adj.n FROM adj
              JOIN deg ON adj.z = deg.z WHERE deg.dz <= 64
            ),
            pairs AS (
              SELECT l.n AS u, r.n AS v,
                     CAST(count(*) AS BIGINT) AS common
              FROM za l JOIN za r ON l.z = r.z AND l.n < r.n
              GROUP BY l.n, r.n
            ),
            cand AS (
              SELECT p.u, p.v, p.common
              FROM pairs p
              ANTI JOIN e ON p.u = e.u AND p.v = e.v
              WHERE p.common >= 2
            )
            SELECT c.u, c.v, c.common,
                   du.dz AS du, dv.dz AS dv,
                   CAST(c.common AS DOUBLE)
                     / (du.dz + dv.dz - c.common) AS jaccard
            FROM cand c
            JOIN deg du ON c.u = du.z
            JOIN deg dv ON c.v = dv.z
        """,
        "modularity": f"""
            WITH e AS (
              {_DIGRAPH500_CANON_SQL}
            ),
            mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
            deg AS (
              SELECT z, count(*) AS d
              FROM (SELECT u AS z FROM e UNION ALL SELECT v FROM e)
              GROUP BY z
            ),
            comm AS (
              SELECT z AS node, CAST(z AS BIGINT) % 7 AS comm
              FROM (SELECT DISTINCT u AS z FROM e
                    UNION SELECT DISTINCT v FROM e)
            ),
            intra AS (
              SELECT cu.comm AS comm, CAST(count(*) AS BIGINT) AS m_c
              FROM e
              JOIN comm cu ON e.u = cu.node
              JOIN comm cv ON e.v = cv.node
              WHERE cu.comm = cv.comm
              GROUP BY cu.comm
            ),
            dc AS (
              SELECT c.comm, CAST(sum(deg.d) AS BIGINT) AS d_c
              FROM deg JOIN comm c ON deg.z = c.node
              GROUP BY c.comm
            )
            SELECT dc.comm, COALESCE(intra.m_c, 0) AS m_c, dc.d_c,
                   CAST(COALESCE(intra.m_c, 0) AS DOUBLE)
                     / CAST(mm.m AS DOUBLE)
                   - (CAST(dc.d_c AS DOUBLE) / (2.0 * mm.m))
                     * (CAST(dc.d_c AS DOUBLE) / (2.0 * mm.m)) AS q_c
            FROM dc
            LEFT JOIN intra ON dc.comm = intra.comm
            CROSS JOIN mm
        """,
        "naive_bayes": """
            WITH toks AS (
              SELECT doc_id, lang,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                       AS w
              FROM documents
            ),
            toks2 AS (SELECT * FROM toks WHERE len(w) >= 2),
            tr AS (SELECT doc_id AS d, lang AS l, w FROM toks2
                   WHERE doc_id % 3 <> 0),
            sc AS (SELECT doc_id AS d, w FROM toks2
                   WHERE doc_id % 3 = 0),
            cls AS (SELECT l, count(DISTINCT d) AS n_docs
                    FROM tr GROUP BY l),
            ntot AS (SELECT count(DISTINCT d) AS n_all FROM tr),
            tl AS (SELECT l, count(*) AS t_l FROM tr GROUP BY l),
            voc AS (SELECT count(DISTINCT w) AS v FROM tr),
            clw AS (SELECT l, w, count(*) AS c FROM tr GROUP BY l, w),
            consts AS (
              SELECT cls.l,
                     ln(CAST(n_docs AS DOUBLE) / n_all) AS ln_prior,
                     ln(CAST(t_l + v AS DOUBLE)) AS ln_denom
              FROM cls JOIN tl ON cls.l = tl.l
              CROSS JOIN ntot CROSS JOIN voc
            ),
            dw AS (SELECT d, w, count(*) AS n FROM sc GROUP BY d, w),
            nd AS (SELECT d, count(*) AS n_d FROM sc GROUP BY d),
            contrib AS (
              SELECT dw.d, lbl.l,
                     sum(dw.n * ln(COALESCE(clw.c, 0) + 1.0))
                       AS evidence
              FROM dw
              CROSS JOIN (SELECT l FROM consts) lbl
              LEFT JOIN clw ON clw.l = lbl.l AND clw.w = dw.w
              GROUP BY dw.d, lbl.l
            ),
            scored AS (
              SELECT c.d, c.l,
                     consts.ln_prior - nd.n_d * consts.ln_denom
                       + c.evidence AS s
              FROM contrib c
              JOIN nd ON c.d = nd.d
              JOIN consts ON c.l = consts.l
            ),
            r AS (
              SELECT d, l, s,
                     row_number() OVER (PARTITION BY d
                                        ORDER BY s DESC, l DESC) AS rn
              FROM scored
            )
            SELECT d AS doc_id, l AS pred, s AS score FROM r
            WHERE rn = 1
        """,
        "seasonal_profile": """
            WITH cells AS (
              SELECT event_type AS grp,
                     CAST(hour(ts) AS INT) AS bucket,
                     CAST(sum(CAST(floor(value * 100) AS BIGINT))
                          AS BIGINT) AS s,
                     count(*) AS n
              FROM events
              GROUP BY event_type, hour(ts)
            ),
            totals AS (
              SELECT grp, CAST(sum(s) AS BIGINT) AS S,
                     CAST(sum(n) AS BIGINT) AS N
              FROM cells GROUP BY grp
            )
            SELECT c.grp, c.bucket, CAST(c.n AS BIGINT) AS n,
                   CAST(c.s AS DOUBLE) / c.n AS cell_mean,
                   CAST(c.s AS DOUBLE) / c.n
                     - CAST(t.S AS DOUBLE) / t.N AS seasonal
            FROM cells c JOIN totals t ON c.grp = t.grp
        """,
        "score_calibration": """
            WITH d AS (
              SELECT CAST((l_partkey * 7919) % 1000 AS DOUBLE) / 1000.0
                       AS p,
                     CAST((l_partkey * 7919) % 1000
                          + l_orderkey % 400 - 200 > 500 AS INT) AS y
              FROM lineitem
            ),
            agg AS (
              SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
                     count(*) AS n,
                     sum(p) AS sp,
                     CAST(sum(y) AS BIGINT) AS npos
              FROM d GROUP BY 1
            ),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM agg)
            SELECT bin, CAST(n AS BIGINT) AS n,
                   sp / n AS mean_pred,
                   CAST(npos AS DOUBLE) / n AS frac_pos,
                   abs(sp / n - CAST(npos AS DOUBLE) / n) AS abs_gap,
                   abs(sp / n - CAST(npos AS DOUBLE) / n) * n
                     / tot.total AS ece_term
            FROM agg CROSS JOIN tot
        """,
        "hbos_outlier": """
            WITH d AS (
              SELECT l_orderkey, l_linenumber,
                     CAST(l_quantity AS DOUBLE) AS f0,
                     CAST(l_extendedprice AS DOUBLE) AS f1,
                     CAST(l_discount AS DOUBLE) AS f2
              FROM lineitem
            ),
            st AS (
              SELECT min(f0) AS mn0, max(f0) AS mx0,
                     min(f1) AS mn1, max(f1) AS mx1,
                     min(f2) AS mn2, max(f2) AS mx2,
                     CAST(count(*) AS BIGINT) AS n
              FROM d
            ),
            b AS (
              SELECT d.l_orderkey, d.l_linenumber,
                     CASE WHEN mx0 = mn0 THEN 0
                          ELSE CAST(least(floor((f0 - mn0) / (mx0 - mn0)
                                                * 16), 15) AS INT)
                     END AS b0,
                     CASE WHEN mx1 = mn1 THEN 0
                          ELSE CAST(least(floor((f1 - mn1) / (mx1 - mn1)
                                                * 16), 15) AS INT)
                     END AS b1,
                     CASE WHEN mx2 = mn2 THEN 0
                          ELSE CAST(least(floor((f2 - mn2) / (mx2 - mn2)
                                                * 16), 15) AS INT)
                     END AS b2
              FROM d CROSS JOIN st
            ),
            c0 AS (SELECT b0, count(*) AS c FROM b GROUP BY b0),
            c1 AS (SELECT b1, count(*) AS c FROM b GROUP BY b1),
            c2 AS (SELECT b2, count(*) AS c FROM b GROUP BY b2)
            SELECT b.l_orderkey, b.l_linenumber,
                   ln(CAST(st.n AS DOUBLE) / c0.c)
                   + ln(CAST(st.n AS DOUBLE) / c1.c)
                   + ln(CAST(st.n AS DOUBLE) / c2.c) AS hbos
            FROM b
            JOIN c0 USING (b0)
            JOIN c1 USING (b1)
            JOIN c2 USING (b2)
            CROSS JOIN st
        """,
        "tfidf_topterms": """
            WITH toks AS (
              SELECT doc_id AS d,
                     unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       w -> w <> '')) AS t
              FROM documents
            ),
            toks2 AS (SELECT d, t FROM toks WHERE len(t) >= 2),
            tf AS (SELECT d, t, count(*) AS tf FROM toks2
                   GROUP BY d, t),
            dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                   FROM documents),
            scored AS (
              SELECT tf.d, tf.t, tf.tf, dfreq.df,
                     tf.tf * ln(CAST(nn.n_docs AS DOUBLE) / dfreq.df)
                       AS tfidf
              FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN nn
            ),
            r AS (
              SELECT d, t, tf, df, tfidf,
                     row_number() OVER (PARTITION BY d
                                        ORDER BY tfidf DESC, t ASC)
                       AS rank
              FROM scored
            )
            SELECT d AS doc_id, t AS term, CAST(tf AS BIGINT) AS tf,
                   CAST(df AS BIGINT) AS df, tfidf,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 5
        """,
        "meta_tags": """
            WITH pages AS (
              SELECT doc_id,
                '<html lang="' || lang || '"><head><title>Doc '
                || doc_id || ' - ' || source || '</title>'
                || '<meta name="description" content="'
                || substr(text, 1, 40) || '">'
                || '<meta property="og:title" content="OG '
                || doc_id || '">'
                || CASE WHEN doc_id % 4 = 0
                        THEN '<link rel="canonical" href="https://'
                             || source || '.com/c/' || (doc_id % 50)
                             || '">'
                        ELSE '' END
                || '</head><body></body></html>' AS html
              FROM documents
            )
            SELECT doc_id,
              regexp_extract(html, '<title>([^<]*)</title>', 1)
                AS title,
              regexp_extract(html,
                '<meta name="description" content="([^"]*)"', 1)
                AS description,
              regexp_extract(html,
                '<meta property="og:title" content="([^"]*)"', 1)
                AS og_title,
              regexp_extract(html,
                '<link rel="canonical" href="([^"]*)"', 1)
                AS canonical,
              regexp_extract(html, '<html lang="([^"]*)"', 1)
                AS page_lang,
              CAST(regexp_extract(html,
                '<link rel="canonical" href="([^"]*)"', 1) <> ''
                AS INT) AS has_canonical,
              CAST(length(regexp_extract(html,
                '<title>([^<]*)</title>', 1)) AS INT) AS title_len
            FROM pages
        """,
        "personalized_pagerank": _ppr_unrolled(
            """
              SELECT event_id % 500 AS src,
                     ((event_id % 500) * 7 + 3) % 500 AS dst
              FROM events
              UNION ALL
              SELECT event_id % 500,
                     ((event_id % 500) * (event_id % 500) + 11) % 500
              FROM events
            """,
            seeds_pred="id % 100 = 0", n_seeds=5, d=0.85, iters=10),
        "dtw_pairs": _dtw_unrolled(
            """
              SELECT t, pos,
                     (t * 31 + pos * 17) % 23 + (t + pos) % 7 AS y
              FROM (SELECT DISTINCT event_id % 50 AS t FROM events)
              CROSS JOIN (SELECT unnest(range(1, 17)) AS pos)
            """,
            """
              SELECT t AS a, t + 1 AS b
              FROM (SELECT DISTINCT event_id % 50 AS t FROM events)
              WHERE t % 2 = 0 AND t < 49
            """,
            n=16, m=16),
        "ab_ztest": """
            WITH d AS (
              SELECT event_type AS exp,
                     CASE WHEN user_id % 2 = 0 THEN 'c' ELSE 't' END
                       AS variant,
                     CAST(value > 55 AS INT) AS success
              FROM events
            ),
            agg AS (
              SELECT exp,
                CAST(sum(CASE WHEN variant = 'c' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_c,
                CAST(sum(CASE WHEN variant = 'c' THEN success
                              ELSE 0 END) AS BIGINT) AS x_c,
                CAST(sum(CASE WHEN variant = 't' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_t,
                CAST(sum(CASE WHEN variant = 't' THEN success
                              ELSE 0 END) AS BIGINT) AS x_t
              FROM d GROUP BY exp
            ),
            sel AS (
              SELECT exp, n_c, x_c, n_t, x_t,
                     CAST(x_c AS DOUBLE) / n_c AS p_c,
                     CAST(x_t AS DOUBLE) / n_t AS p_t,
                     CAST(x_c + x_t AS DOUBLE) / (n_c + n_t) AS pool
              FROM agg WHERE n_c > 0 AND n_t > 0
            )
            SELECT exp, n_c, x_c, n_t, x_t, p_c, p_t,
                   CASE WHEN pool * (1.0 - pool)
                             * (1.0 / n_c + 1.0 / n_t) > 0
                        THEN (p_t - p_c)
                             / sqrt(pool * (1.0 - pool)
                                    * (1.0 / n_c + 1.0 / n_t))
                   END AS z
            FROM sel
        """,
        "k_anonymity": """
            SELECT event_type,
                   ((user_id % 5000) + 5000) % 5000 AS uid_bucket,
                   count(*) AS n_rows,
                   CAST(5 - count(*) AS BIGINT) AS deficit
            FROM events
            GROUP BY 1, 2
            HAVING count(*) < 5
        """,
        "hillshade_grid": f"""
            WITH cells AS (
              SELECT v % 40 AS x, v // 40 AS y
              FROM (SELECT DISTINCT event_id % 1600 AS v FROM events)
            ),
            grid AS (
              SELECT x, y, (x*x*3 + y*y*2 + x*y) % 97 AS z FROM cells
            ),
            offs(dx, dy) AS (VALUES
              (-1,-1), (-1,0), (-1,1), (0,-1), (0,0), (0,1),
              (1,-1), (1,0), (1,1)),
            scat AS (
              SELECT grid.x + offs.dx AS tx, grid.y + offs.dy AS ty,
                     -offs.dx AS rx, -offs.dy AS ry,
                     CAST(grid.z AS BIGINT) AS z
              FROM grid CROSS JOIN offs
            ),
            agg AS (
              SELECT tx AS x, ty AS y, count(*) AS n9,
                CAST(sum(CASE WHEN rx=-1 AND ry=1  THEN z ELSE 0 END)
                     AS BIGINT) AS a,
                CAST(sum(CASE WHEN rx=0  AND ry=1  THEN z ELSE 0 END)
                     AS BIGINT) AS b,
                CAST(sum(CASE WHEN rx=1  AND ry=1  THEN z ELSE 0 END)
                     AS BIGINT) AS c,
                CAST(sum(CASE WHEN rx=-1 AND ry=0  THEN z ELSE 0 END)
                     AS BIGINT) AS d,
                CAST(sum(CASE WHEN rx=1  AND ry=0  THEN z ELSE 0 END)
                     AS BIGINT) AS f,
                CAST(sum(CASE WHEN rx=-1 AND ry=-1 THEN z ELSE 0 END)
                     AS BIGINT) AS g,
                CAST(sum(CASE WHEN rx=0  AND ry=-1 THEN z ELSE 0 END)
                     AS BIGINT) AS h,
                CAST(sum(CASE WHEN rx=1  AND ry=-1 THEN z ELSE 0 END)
                     AS BIGINT) AS i
              FROM scat GROUP BY tx, ty
              HAVING count(*) = 9
            ),
            d2 AS (
              SELECT x, y,
                CAST((c + 2*f + i) - (a + 2*d + g) AS DOUBLE) / 8.0
                  AS dzdx,
                CAST((a + 2*b + c) - (g + 2*h + i) AS DOUBLE) / 8.0
                  AS dzdy
              FROM agg
            )
            SELECT x, y, dzdx, dzdy,
              greatest(0.0, 255.0 * (
                {_math.cos(_math.radians(45.0))!r}
                  * cos(atan(sqrt(dzdx*dzdx + dzdy*dzdy)))
                + {_math.sin(_math.radians(45.0))!r}
                  * sin(atan(sqrt(dzdx*dzdx + dzdy*dzdy)))
                  * cos({_math.radians(315.0) - _math.pi / 2.0!r}
                        - atan2(dzdy, -dzdx)))) AS hillshade
            FROM d2
        """,
"geofence_transitions": """
            WITH pts AS (
              SELECT ((user_id % 20) + 20) % 20 AS entity, ts, event_id,
                     (((event_id * 37) % 100) + 100) % 100 AS x,
                     (((event_id * 73) % 100) + 100) % 100 AS y
              FROM events
            ),
            fences(fence_id, cx, cy, r) AS (VALUES
              (1, 25, 25, 15), (2, 70, 60, 20), (3, 50, 50, 40)),
            tagged AS (
              SELECT p.entity, p.ts, p.event_id, p.x, p.y, f.fence_id,
                     CAST((p.x - f.cx) * (p.x - f.cx)
                          + (p.y - f.cy) * (p.y - f.cy)
                          <= f.r * f.r AS INT) AS inside
              FROM pts p CROSS JOIN fences f
            ),
            lg AS (
              SELECT *, lag(inside) OVER (PARTITION BY entity, fence_id
                                          ORDER BY ts, event_id) AS prev
              FROM tagged
            )
            SELECT entity, fence_id, ts, event_id, x, y, inside,
                   CASE WHEN inside = 1 THEN 'enter'
                        ELSE 'exit' END AS event
            FROM lg
            WHERE (prev IS NULL AND inside = 1)
               OR (prev IS NOT NULL AND prev <> inside)
        """,
"route_waypoints": """
            WITH r AS (
              SELECT o_orderkey,
                ((o_orderkey * 7919) % 17001) / 100.0 - 85.0 AS lat1,
                ((o_orderkey * 104729) % 36001) / 100.0 - 180.0 AS lon1,
                ((o_orderkey * 4241 + 13) % 17001) / 100.0 - 85.0
                  AS lat2,
                ((o_orderkey * 9973 + 7) % 36001) / 100.0 - 180.0
                  AS lon2
              FROM orders
            ),
            v AS (
              SELECT o_orderkey,
                cos(lat1 * 0.017453292519943295)
                  * cos(lon1 * 0.017453292519943295) AS ax,
                cos(lat1 * 0.017453292519943295)
                  * sin(lon1 * 0.017453292519943295) AS ay,
                sin(lat1 * 0.017453292519943295) AS az,
                cos(lat2 * 0.017453292519943295)
                  * cos(lon2 * 0.017453292519943295) AS bx,
                cos(lat2 * 0.017453292519943295)
                  * sin(lon2 * 0.017453292519943295) AS by,
                sin(lat2 * 0.017453292519943295) AS bz
              FROM r
            ),
            w AS (
              SELECT *, acos(least(1.0, greatest(-1.0,
                         ax * bx + ay * by + az * bz))) AS d
              FROM v
            ),
            e AS (
              SELECT w.*, s.step
              FROM w CROSS JOIN
                   (SELECT unnest(range(0, 9)) AS step) s
              WHERE sin(w.d) > 1e-7
            )
            SELECT o_orderkey, CAST(step AS INT) AS step,
                   CAST(step AS DOUBLE) / 8.0 AS frac,
                   asin(least(1.0, greatest(-1.0,
                     sin((1.0 - CAST(step AS DOUBLE) / 8.0) * d)
                       / sin(d) * az
                     + sin(CAST(step AS DOUBLE) / 8.0 * d)
                       / sin(d) * bz)))
                     * 57.29577951308232 AS wp_lat,
                   atan2(sin((1.0 - CAST(step AS DOUBLE) / 8.0) * d)
                           / sin(d) * ay
                         + sin(CAST(step AS DOUBLE) / 8.0 * d)
                           / sin(d) * by,
                         sin((1.0 - CAST(step AS DOUBLE) / 8.0) * d)
                           / sin(d) * ax
                         + sin(CAST(step AS DOUBLE) / 8.0 * d)
                           / sin(d) * bx)
                     * 57.29577951308232 AS wp_lon
            FROM e
        """,
        "viterbi_path": _viterbi_unrolled(T=12, S=4),
        "cidr_lookup": """
            WITH ips AS (
              SELECT DISTINCT (o_orderkey * 2654435761) % 4294967296
                       AS ip
              FROM orders
            ),
            blk AS (
              SELECT CAST(8 + 4 * (p_partkey % 5) AS INT) AS plen,
                     CAST(floor(((p_partkey * 104729 + 7)
                                 % 4294967296)
                          / (1 << (32 - (8 + 4 * (p_partkey % 5)))))
                       AS BIGINT) AS prefix,
                     p_partkey AS block_id
              FROM part
            ),
            dim AS (
              SELECT plen, prefix, min(block_id) AS block_id
              FROM blk GROUP BY plen, prefix
            ),
            cand AS (
              SELECT ip, 8 AS plen,
                     CAST(floor(ip / 16777216) AS BIGINT) AS prefix
              FROM ips
              UNION ALL SELECT ip, 12,
                     CAST(floor(ip / 1048576) AS BIGINT) FROM ips
              UNION ALL SELECT ip, 16,
                     CAST(floor(ip / 65536) AS BIGINT) FROM ips
              UNION ALL SELECT ip, 20,
                     CAST(floor(ip / 4096) AS BIGINT) FROM ips
              UNION ALL SELECT ip, 24,
                     CAST(floor(ip / 256) AS BIGINT) FROM ips
            ),
            hit AS (
              SELECT c.ip, c.plen, d.block_id
              FROM cand c JOIN dim d USING (plen, prefix)
            ),
            b AS (
              SELECT ip, max(struct_pack(plen := plen,
                                         bid := block_id)) AS b
              FROM hit GROUP BY ip
            )
            SELECT ip, CAST(b.b.plen AS INT) AS plen,
                   b.b.bid AS block_id
            FROM b
        """,
        "ktruss_edges": _ktruss_unrolled(
            """
              SELECT DISTINCT
                     least(CAST(s AS VARCHAR), CAST(t AS VARCHAR)) AS u,
                     greatest(CAST(s AS VARCHAR), CAST(t AS VARCHAR))
                       AS v
              FROM (
                SELECT a AS s,
                       a - (a % 10) + ((a % 10) + 1) % 10 AS t
                FROM (SELECT event_id % 500 AS a FROM events)
                UNION ALL
                SELECT a, a - (a % 10) + ((a % 10) + 2) % 10
                FROM (SELECT event_id % 500 AS a FROM events)
                UNION ALL
                SELECT a, (a * 7 + 3) % 500
                FROM (SELECT event_id % 500 AS a FROM events)
              )
              WHERE CAST(s AS VARCHAR) <> CAST(t AS VARCHAR)
            """, k=3, rounds=4),
    }

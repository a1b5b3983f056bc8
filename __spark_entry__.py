"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl round at sf0.001. ``queries()``
exposes one DataFrame program per implemented operator family from
SURVEY.md §2 (plus the training-data extensions), and ``oracle_sql()``
gives each one's ANSI-SQL twin for the DuckDB cross-check. Crawl-specific
inputs (urls, hosts, robots, frontiers) are derived *deterministically*
from the driver's own tables (documents / orders / customer), so the
oracle can compute the expected answer independently from the same rows.

Column-name + value parity rules observed throughout:
- every computed column is aliased identically on both sides;
- integer aggregates are BIGINT on both sides;
- float math is either (a) exact (decimal sums, integer-valued doubles),
  (b) the identical left-fold expression on both engines, or (c) rounded
  the same way on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscraper_spark.functions.canon import canonicalize_url_udf
from webscraper_spark.functions.extract import extract_udf
from webscraper_spark.functions.robots import parse_robots_udf
from webscraper_spark.functions.textfns import (
    clean_rating_col,
    convalue_col,
    extract_id_col,
    filter_domain_col,
    normalize_string_udf,
    sanitize_name_col,
    site_root_col,
)
from webscraper_spark.operators.categorize import geo_pipeline, threshold_filter
from webscraper_spark.operators.dedup import (
    BloomSeenSet,
    bloom_filtered_new,
    dedup_latest,
)
from webscraper_spark.operators.multimodal import image_features
from webscraper_spark.operators.schedule import schedule_round
from webscraper_spark.operators.similarity import (
    MINHASH_PERMS,
    cosine_topk,
    embedding_near_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from webscraper_spark.operators.textstats import (
    STOPWORDS,
    bpe_ish_token_count_col,
    lang_id,
    quality_features,
    quality_score_col,
    token_count_col,
)
from webscraper_spark.operators.topk import topk_per_group
from webscraper_spark.plans.round import discover_new, fetch_and_extract

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

# Tables whose queries do heavy per-row work (Arrow kernels, interpreted
# higher-order-function hashes, per-pair cosines) BEFORE the first shuffle.
# A single-row-group parquet file scans as ONE task no matter the split
# size (parquet splits at row-group granularity), which serializes all of
# that work on one core; guide §2.5 "input skew: one huge unsplittable
# file → repartition immediately after the read".
_SPREAD_TABLES = {"documents", "embeddings"}


def _read(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread is None:
        spread = name in _SPREAD_TABLES
    if spread:
        # scale-adaptive: only repartition when the scan cannot reach the
        # session's parallelism on its own (single/few row groups). On a
        # many-file production table this branch never fires, so no
        # shuffle is added at cluster scale.
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


def _s(c) -> F.Column:
    return F.col(c).cast("string") if isinstance(c, str) else c.cast("string")


def _utc(spark: SparkSession) -> None:
    """Timestamp-producing queries pin the session timezone: the driver's
    own SparkSession may not be UTC, and TIMESTAMP literals/arithmetic
    would otherwise render shifted relative to the (naive) DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


ROUND_START = datetime(2025, 8, 1, 0, 0, 0)


# ---------------------------------------------------------------------------
# derived crawl corpus (pages/frontier/hosts built from `documents`)
# ---------------------------------------------------------------------------

def _derived_corpus(spark: SparkSession, sf_dir: str):
    """Deterministic Common-Crawl-shaped corpus derived from the driver's
    ``documents`` table: url/host from doc_id, html embeds the text plus
    two outlinks to other rows (closure over the table)."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    # metadata-only count: read unspread so parquet's count pushdown
    # answers from row-group stats instead of running the spread shuffle
    n = _read(spark, sf_dir, "documents", spread=False).count()
    i = F.col("doc_id")
    t1 = (i * 3 + 1) % n
    t2 = (i * 7 + 2) % n
    host = F.concat(F.lit("h"), _s(i % 8), F.lit(".example"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"), _s(i))

    def _link(t):
        return F.concat(
            F.lit('<a href="https://h'), _s(t % 8), F.lit(".example/d/"), _s(t),
            F.lit('">l</a>'),
        )

    html = F.concat(
        F.lit("<html><head><title>Doc "), _s(i),
        F.lit("</title></head><body><h1>Doc "), _s(i), F.lit("</h1><p>"),
        F.col("text"), F.lit("</p>"), _link(t1), _link(t2),
        F.lit("</body></html>"),
    )
    pages_full = docs.select(
        F.col("doc_id"),
        url.alias("url"),
        F.timestamp_add("SECOND", i.cast("int"), F.lit(datetime(2025, 7, 25))).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.xxhash64(url).alias("url_hash"),
        host.alias("host"),
    )
    frontier = pages_full.filter(F.col("doc_id") % 5 == 0).select(
        "url_hash", "url", "host",
        (F.col("doc_id") % 3).cast("int").alias("priority"),
        F.lit(0).alias("discovered_round"),
        F.lit(0).alias("retry_count"),
        F.lit(None).cast("timestamp").alias("next_fetch_ts"),
    )
    pages = pages_full.drop("doc_id")
    hosts = spark.range(8).select(
        F.concat(F.lit("h"), _s(F.col("id")), F.lit(".example")).alias("host"),
        F.lit(None).cast("string").alias("robots_txt"),
        F.lit(1000).cast("long").alias("crawl_delay_ms"),
        F.lit(ROUND_START).alias("next_allowed_ts"),
    )
    return pages, frontier, hosts


def _crawl_round(spark: SparkSession, sf_dir: str, budget: int = 3) -> DataFrame:
    """One full crawl round over the derived corpus, run by the production
    round's own stages (``plans/round.py``): politeness schedule → fetch
    join → Arrow extraction → outlink discovery → seen anti-join.
    Non-SQL-expressible (stateful scheduling + Python-kernel extraction):
    rows-only check."""
    pages, frontier, hosts = _derived_corpus(spark, sf_dir)
    _, fetched = fetch_and_extract(frontier, hosts, pages, ROUND_START, budget)
    # materialize the round's fetched+extracted rows ONCE (budget×hosts
    # rows — tiny by construction): both the output branch and the
    # discovery-totals branch consume `extracted`, and without the cut
    # the whole corpus-derivation→schedule→fetch→extract subtree executes
    # once per branch (it showed up twice in the physical plan). In
    # production this materialization is the round's `fetched` delta
    # write, so the cut mirrors the real pipeline. Fresh per invocation —
    # nothing persists across bench runs.
    extracted = fetched.filter(F.col("__hit")).localCheckpoint(eager=True)
    new_urls = discover_new(extracted, frontier.select("url_hash"))
    # discovery total rides as an aggregated broadcast column so the whole
    # round is ONE job (no driver-side count action)
    totals = F.broadcast(new_urls.agg(F.count("*").alias("new_urls_total")))
    return extracted.crossJoin(totals).select(
        "url", "host", F.col("host_seq").cast("long").alias("host_seq"),
        "scheduled_ts", "title",
        F.col("n_outlinks").cast("long").alias("n_outlinks"),
        F.col("new_urls_total").cast("long").alias("new_urls_total"),
    )


_PYFILES_SHIPPED = False


def _ship_package(spark: SparkSession) -> None:
    """Make the engine importable on executor Python workers regardless
    of the driver's CWD: zip webscraper_spark/ and addPyFile it (the
    sc-level twin of `spark-submit --py-files`, see tools/submit.sh).
    No-op when workers can already import it via CWD."""
    global _PYFILES_SHIPPED
    if _PYFILES_SHIPPED:
        return
    import os
    import tempfile
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"webscraper_spark_pyfiles_{os.getpid()}.zip"
    )
    tmp = zpath + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(root, "webscraper_spark")
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    zf.write(p, os.path.relpath(p, root))
    os.replace(tmp, zpath)  # atomic: concurrent processes never collide
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SHIPPED = True


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one crawl round (schedule → fetch → extract → discover →
    dedup) over the corpus derived from /root/testdata/sf0.001."""
    _ship_package(spark)
    return _crawl_round(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# scheduling / frontier queries (orders-derived urls)
# ---------------------------------------------------------------------------

def _order_urls(spark, sf_dir, private_paths: bool, spread: bool = False):
    ok = F.col("o_orderkey")
    j = ok % 12
    host = F.concat(F.lit("h"), _s(j), F.lit(".example"))
    if private_paths:
        path = F.when(ok % 10 == 0, F.concat(F.lit("/private/o/"), _s(ok))).otherwise(
            F.concat(F.lit("/o/"), _s(ok))
        )
    else:
        path = F.concat(F.lit("/o/"), _s(ok))
    url = F.concat(F.lit("https://"), host, path)
    # spread=True: the caller runs heavy per-row map work (url synthesis,
    # robots prefix matching, window pre-sorts) before its first
    # inherent exchange, so the few-row-group scan must not serialize it
    # (measured 2.6s -> 1.4s on the politeness path; a plain aggregation
    # consumer is WORSE off spread — the raw-row shuffle outweighs the
    # map parallelism — so this stays opt-in per call site)
    return _read(spark, sf_dir, "orders", spread=spread).select(
        ok.alias("o_orderkey"), host.alias("host"), url.alias("url"),
        F.xxhash64(url).alias("url_hash"),
    )


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/C4/C5: robots-gated, budgeted, per-host politeness scheduling.
    Priorities are unique per host so the rank order is oracle-computable."""
    _utc(spark)
    base = _order_urls(spark, sf_dir, private_paths=True, spread=True)
    frontier = base.select(
        "url_hash", "url", "host",
        F.col("o_orderkey").cast("int").alias("priority"),
        F.lit(0).alias("discovered_round"),
        F.lit(0).alias("retry_count"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit(datetime(2025, 9, 1)))
        .cast("timestamp").alias("next_fetch_ts"),
    )
    j = F.col("id")
    robots = F.when(
        j % 2 == 0,
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/"),
            F.when(j % 4 == 0, F.lit("\nCrawl-delay: 3")).otherwise(F.lit("")),
        ),
    )
    hosts = spark.range(12).select(
        F.concat(F.lit("h"), _s(j), F.lit(".example")).alias("host"),
        robots.alias("robots_txt"),
        (F.lit(1000) + 250 * j).cast("long").alias("crawl_delay_ms"),
        F.timestamp_add("MINUTE", j.cast("int"), F.lit(ROUND_START)).alias("next_allowed_ts"),
    )
    out = schedule_round(frontier, hosts, per_host_budget=4,
                         round_start_ts=ROUND_START)
    return out.select(
        "url", "host", F.col("host_seq").cast("long").alias("host_seq"),
        "scheduled_ts", F.col("delay_ms").cast("long").alias("delay_ms"),
    )


def q_bloom_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layered Bloom + exact anti-join dedup (J1/C1). Oracle is the exact
    set difference — proves the Bloom path has no false negatives and the
    confirm join removes its false positives."""
    cand = _order_urls(spark, sf_dir, private_paths=False)
    seen = cand.filter(F.col("o_orderkey") % 3 == 0).select("url_hash")
    bloom = BloomSeenSet.build(seen, n_shards=8)
    return bloom_filtered_new(cand, seen, bloom).select("url", "host")


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: robots.txt parse + first-match-wins admission, vectorized."""
    i = F.col("doc_id")
    j = i % 6
    host = F.concat(F.lit("rh"), _s(j), F.lit(".example"))
    path = (
        F.when(i % 4 == 0, F.concat(F.lit("/private/x/"), _s(i)))
        .when(i % 4 == 1, F.concat(F.lit("/tmp/y/"), _s(i)))
        .when(i % 4 == 2, F.concat(F.lit("/pub/"), _s(i)))
        .otherwise(F.lit("/"))
    )
    robots = F.when(
        j % 2 == 0,
        F.lit(
            "User-agent: bot\nDisallow: /pub/\n"
            "User-agent: *\nDisallow: /private/\nDisallow: /tmp/\nAllow: /tmp/ok"
        ),
    ).otherwise(F.lit("User-agent: *\nAllow: /"))
    df = _read(spark, sf_dir, "documents").select(
        i.alias("doc_id"), host.alias("host"), path.alias("path"), robots.alias("robots_txt")
    )
    from webscraper_spark.functions.robots import robots_allows_col

    parsed = df.withColumn("__r", parse_robots_udf(F.col("robots_txt")))
    return parsed.select(
        "doc_id", "host", "path",
        robots_allows_col(F.col("path"), F.col("__r.rules")).alias("allowed"),
    )


def q_canonicalize_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (url form): canonicalization kernel — case, fragment, default
    port, query-param sort, trailing slash."""
    i = F.col("doc_id")
    h = _s(i % 9)
    base = F.concat(F.lit("https://host"), h, F.lit(".example/p/"), _s(i))
    raw = (
        F.when(i % 5 == 0, F.concat(F.lit("HTTPS://HOST"), h, F.lit(".EXAMPLE/p/"), _s(i)))
        .when(i % 5 == 1, F.concat(base, F.lit("#sec")))
        .when(i % 5 == 2, F.concat(F.lit("https://host"), h, F.lit(".example:443/p/"), _s(i)))
        .when(i % 5 == 3, F.concat(base, F.lit("?b=2&a=1")))
        .otherwise(F.concat(base, F.lit("/")))
    )
    return (
        _read(spark, sf_dir, "documents")
        .select(i.alias("doc_id"), raw.alias("raw_url"))
        .withColumn("canon_url", canonicalize_url_udf(F.col("raw_url")))
    )


# ---------------------------------------------------------------------------
# relational core (TPC-H-ish)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: grouped conditional sums at scan speed (decimal-exact)."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    qd = F.col("l_quantity").cast("decimal(18,2)")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qd).cast("double").alias("sum_qty"),
        F.sum(ep).cast("double").alias("sum_base_price"),
        F.sum(ep * (F.lit(1).cast("decimal(18,2)") - dd)).cast("double").alias("sum_disc_price"),
        (F.sum(qd).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set ROLLUP (absent in the reference; free via Catalyst):
    revenue subtotals at (flag, status), (flag), and grand-total levels."""
    li = _read(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(ep).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "revenue", "n",
        )
    )


def q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast dimension joins + rollup."""
    c = _read(spark, sf_dir, "customer")
    n = F.broadcast(_read(spark, sf_dir, "nation"))
    r = F.broadcast(_read(spark, sf_dir, "region"))
    j = c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    acct = F.col("c_acctbal").cast("decimal(18,2)")
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(acct).cast("double").alias("total_acctbal"),
        (F.sum(acct).cast("double") / F.count(F.lit(1))).alias("avg_acctbal"),
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/O3: salted skew-safe top-k per group."""
    o = _read(spark, sf_dir, "orders")
    out = topk_per_group(
        o, ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3, rank_col="rank",
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))


def q_share_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/P6: per-group share-of-total threshold (the reference's 5% noise
    filter) as an analytic window."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return threshold_filter(li, group_col="l_orderkey", cnt_col="l_quantity", frac=0.05)


def q_unmatched_companies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/U1+F1: normalized-key anti-join (the crunchbase dedup kernel)."""
    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    name = (
        F.when(k % 4 == 0, F.col("c_name"))
        .when(k % 4 == 1, F.concat(F.col("c_name"), F.lit(".example")))
        .when(k % 4 == 2, F.concat(F.upper(F.col("c_name")), F.lit("!!!")))
        .otherwise(F.concat(F.col("c_name"), F.lit(" Holdings")))
    )
    incoming = c.filter(k % 2 == 0).select(
        k.alias("c_custkey"), name.alias("raw_name"),
        normalize_string_udf(name).alias("norm_key"),
    )
    crm = c.filter(k % 3 == 0).select(normalize_string_udf(F.col("c_name")).alias("norm_key"))
    return incoming.join(crm, on="norm_key", how="left_anti")


def q_matched_companies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 semi side of the same partition."""
    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    name = (
        F.when(k % 4 == 0, F.col("c_name"))
        .when(k % 4 == 1, F.concat(F.col("c_name"), F.lit(".example")))
        .when(k % 4 == 2, F.concat(F.upper(F.col("c_name")), F.lit("!!!")))
        .otherwise(F.concat(F.col("c_name"), F.lit(" Holdings")))
    )
    incoming = c.filter(k % 2 == 0).select(
        k.alias("c_custkey"), name.alias("raw_name"),
        normalize_string_udf(name).alias("norm_key"),
    )
    crm = c.filter(k % 3 == 0).select(normalize_string_udf(F.col("c_name")).alias("norm_key"))
    return incoming.join(crm, on="norm_key", how="left_semi")


# ---------------------------------------------------------------------------
# event-stream analytics (windows / aggregations)
# ---------------------------------------------------------------------------

def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/C10: newest-wins dedup ((user_id, ts) is unique in this data)."""
    e = _read(spark, sf_dir, "events")
    return dedup_latest(e, ["user_id"], "ts").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


def q_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: count by outcome."""
    return _read(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_running_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: running mean per user (decimal-exact prefix sums)."""
    e = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vd = F.col("value").cast("decimal(18,2)")
    return e.select(
        "user_id", "event_id",
        (F.sum(vd).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("running_avg"),
    )


def q_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: collect-list with per-element formatting, count-desc sorted."""
    e = _read(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    fmt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("n")).alias("negn"),
                        F.col("event_type").alias("name"),
                        F.col("n").alias("n"),
                    )
                )
            ),
            lambda x: F.concat(x["name"], F.lit(" ("), x["n"].cast("string"), F.lit(")")),
        ),
        ", ",
    )
    return counts.groupBy("user_id").agg(fmt.alias("hist"))


def q_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: collect_set → sorted join."""
    return _read(spark, sf_dir, "events").groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types")
    )


def q_event_props_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4/F15: predicate filters + JSON payload decode."""
    e = _read(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.withColumn("props_k", k)
        .filter((F.col("props_k") % 2 == 0) & (F.col("value") > 100.0))
        .select("event_id", "event_type", "props_k")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): per user, a >30-min silence
    starts a new session — the batch twin of streaming session windows.
    Two analytic windows, no self-join."""
    _utc(spark)
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))  # session tz = UTC
    gap = ts_us - F.lag(ts_us).over(w)
    flagged = e.withColumn(
        "__new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the engine's metrics
    rollup uses approx variants at scale; exact here for the oracle)."""
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# scalar kernels
# ---------------------------------------------------------------------------

def q_convalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: human-suffixed count parsing ('12k', '1.5m', '1,234')."""
    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    raw = (
        F.when(k % 5 == 0, F.concat(_s(k % 97), F.lit("k")))
        .when(k % 5 == 1, F.concat(_s(k % 97), F.lit("."), _s(k % 10), F.lit("m")))
        .when(k % 5 == 2, _s((k * 37) % 100000))
        .when(k % 5 == 3, F.lit("n/a"))
        .otherwise(
            F.concat(_s(k % 9 + 1), F.lit(","), F.lpad(_s((k * 7) % 1000), 3, "0"))
        )
    )
    return c.select(k.alias("c_custkey"), raw.alias("raw"), convalue_col(raw).alias("value"))


def q_clean_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: rating cleanup — parse, clamp to [0,5] else null."""
    e = _read(spark, sf_dir, "events")
    r = F.col("value") % 7
    return e.select("event_id", clean_rating_col(r).alias("rating"))


def q_url_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/F5/F9: host strip, site root, embedded-id regex, filename
    sanitization."""
    d = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    raw = F.concat(
        F.lit("https://WWW.Site"), _s(i % 20), F.lit(".Example.com/co/EI_IE"),
        _s(i), F.lit(".htm?ref="), F.col("source"),
    )
    return d.select(
        i.alias("doc_id"),
        raw.alias("raw_url"),
        filter_domain_col(raw).alias("domain"),
        site_root_col(raw).alias("site_root"),
        extract_id_col(raw).alias("gd_id"),
        sanitize_name_col(raw).alias("fname"),
    )


def q_fk_dereference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: FK-dereference join done set-at-a-time (the reference's N+1
    per-row GET becomes one equi-join)."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return (
        o.filter(F.col("o_totalprice") > 400000.0)
        .join(c, o.o_custkey == c.c_custkey, "left")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


def q_tag_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7: broadcast substring theta-join — tag records probed by
    containment against location-ish strings (reference's
    ``expected_name in loc_name_lower``)."""
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    locs = c.join(n, c.c_nationkey == n.n_nationkey).select(
        "c_custkey",
        F.concat(F.lit("Greater "), F.col("n_name"), F.lit(" Area")).alias("loc_name"),
    )
    tags = F.broadcast(
        n.filter(F.col("n_nationkey") % 4 == 0).select(
            F.col("n_name").alias("expected"),
            F.concat(F.lit("tag"), _s(F.col("n_nationkey"))).alias("tag"),
        )
    )
    return locs.join(
        tags, F.expr("instr(lower(loc_name), lower(expected)) > 0"), "left"
    ).select("c_custkey", "loc_name", "tag")


def q_scalar_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F11/F12/F13/F14 + P5 + O2: count-parse regexes, query-string
    encoding, tagged-pair round trip, numeric-validity filter, truncate,
    and the reference's lexicographic-reverse sort quirk."""
    from webscraper_spark.functions.textfns import (
        decode_tagged_col,
        encode_tagged_col,
        int_with_commas_col,
        parse_count_col,
        truncate_text_col,
    )

    e = _read(spark, sf_dir, "events")
    k = F.col("event_id")
    blurb = F.concat(
        F.lit("("), _s(k % 977), F.lit(" total reviews) and "),
        _s(k % 9), F.lit(","), F.lpad(_s((k * 3) % 1000), 3, "0"), F.lit(" followers"),
    )
    tagged = encode_tagged_col(F.concat(F.lit("rec"), _s(k % 50)), F.col("event_type"))
    rec_id, tag = decode_tagged_col(tagged)
    # P5 numeric-validity: rows whose id-ish string fails the long cast drop
    idish = F.concat(_s(k), F.when(k % 7 == 0, F.lit("x")).otherwise(F.lit("")))
    base = (
        e.filter((k % 3 == 0) & idish.try_cast("long").isNotNull())
        .select(
            k.alias("event_id"),
            F.col("event_type"),
            blurb.alias("blurb"),
            parse_count_col(blurb, r"\((\d+)\s+total\s+reviews?\)").alias("n_reviews"),
            int_with_commas_col(
                F.regexp_extract(blurb, r"([\d,]+)\s*followers", 1)
            ).alias("n_followers"),
            F.url_encode(F.concat(F.lit('site:example.com "'), F.col("event_type"), F.lit('"'))).alias("q_enc"),
            rec_id.alias("rec_id"),
            tag.alias("tag"),
            truncate_text_col(F.repeat(F.col("event_type"), 40), 100).alias("trunc"),
            (k % 7).alias("qn"),
        )
    )
    # O2 quirk: the reference sorts "Name (n)" STRINGS reverse-lexicographically
    quirk = F.array_join(
        F.sort_array(
            F.collect_list(F.concat(F.col("event_type"), F.lit(" ("), _s(F.col("qn")), F.lit(")"))),
            asc=False,
        ),
        ", ",
    )
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("n_reviews").alias("max_reviews"),
        F.max("n_followers").alias("max_followers"),
        F.max("q_enc").alias("q_enc"),
        F.max("rec_id").alias("max_rec"),
        F.max("tag").alias("tag"),
        F.max(F.length("trunc")).alias("trunc_len"),
        quirk.alias("quirk_sorted"),
    )


# ---------------------------------------------------------------------------
# geo categorization (the reference's analytics tail)
# ---------------------------------------------------------------------------

def q_geo_categorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J8/W2/A1/A2/A3: threshold → multi-strategy broadcast match →
    conditional rollup (EP3's categorize_employee_counts)."""
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    k = F.col("c_custkey")
    base = c.join(n, c.c_nationkey == n.n_nationkey).select(
        F.concat(F.lit("co"), _s(k % 40)).alias("url"),
        (
            F.when(k % 5 == 0, F.col("n_name"))
            .when(k % 5 == 1, F.concat(F.lit("Greater "), F.col("n_name"), F.lit(" Metropolitan Area")))
            .when(k % 5 == 2, F.concat(F.col("n_name"), F.lit(", Region "), _s(k % 3)))
            .when(k % 5 == 3, F.concat(F.col("n_name"), F.lit(" Area")))
            .otherwise(F.concat(F.lit("Nowhere "), _s(k)))
        ).alias("location"),
        (k % 23 + 1).alias("cnt"),
    )
    facts = base.groupBy("url", "location").agg(F.sum("cnt").cast("long").alias("cnt"))
    nk = F.col("n_nationkey")
    dim = n.select(
        F.lower(F.col("n_name")).alias("name"),
        F.concat(F.lit("rec"), F.lpad(_s(nk), 2, "0")).alias("record_id"),
        nk.cast("long").alias("geo_id"),
        (
            F.when(nk == 24, F.lit("country, us_city"))
            .when(nk % 5 == 4, F.lit("us_city"))
            .otherwise(F.lit("country"))
        ).alias("loc_type"),
    )
    hq = dim.filter(F.col("geo_id") < 5).select("record_id")
    out = geo_pipeline(facts, dim, hq, threshold_frac=0.05)
    return out.select(
        "url",
        F.col("hq_ee_count").cast("long").alias("hq_ee_count"),
        F.col("us_ee_count").cast("long").alias("us_ee_count"),
        "other_us_cities", "other_countries",
        F.array_join(F.col("matched_record_ids"), ",").alias("matched_record_ids"),
        F.col("total_ee_count").cast("long").alias("total_ee_count"),
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: CRM upsert as a set-at-a-time MERGE (anti-join + union) —
    replaces the reference's per-row lookup-then-PATCH-else-POST loop."""
    from webscraper_spark.sources.tables import merge_upsert

    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    target = c.filter(k % 3 == 0).select("c_custkey", "c_name", "c_acctbal")
    updates = c.filter(k % 2 == 0).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit(" (upd)")).alias("c_name"),
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
    )
    return merge_upsert(target, updates, ["c_custkey"])


def q_extract_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2/H3: field extraction with the reference's fallback-ladder
    semantics, oracle-checked — html is constructed so the expected
    rating/review/engaged values are computable independently:

      i%5=0  <span class="rating">d.d</span>  → class ladder rung
      i%5=1  bare <span>3.8</span>            → span fallback rung
      i%5=2  text mentions "2.5 stars"        → text-decimal rung
      i%5=3  class rung 'N/A', span '9.9'     → matches then clamps → null
      i%5=4  no rating anywhere               → null
    """
    d = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    r_str = F.concat(F.floor((i % 60) / 10).cast("string"), F.lit("."), _s(i % 10))
    rating_part = (
        F.when(i % 5 == 0, F.concat(F.lit('<span class="rating">'), r_str, F.lit("</span>")))
        .when(i % 5 == 1, F.lit("<span>3.8</span>"))
        .when(i % 5 == 2, F.lit("<p>about 2.5 stars overall</p>"))
        .when(i % 5 == 3, F.lit('<span class="rating">N/A</span><span>9.9</span>'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head><title>Co "), _s(i), F.lit("</title></head><body>"),
        rating_part,
        F.lit("<p>("), _s(i % 3000 + 1), F.lit(" total reviews)</p>"),
        F.when(i % 4 == 0, F.lit("<p>Engaged Employer</p>")).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    out = d.select(i.alias("doc_id"), F.encode(html, "utf-8").alias("html"))
    ex = out.withColumn("ex", extract_udf("html"))
    return ex.select(
        "doc_id",
        F.col("ex.title").alias("title"),
        F.col("ex.rating").alias("rating"),
        F.col("ex.review_count").cast("long").alias("review_count"),
        F.col("ex.engaged").alias("engaged"),
    )


def q_benefits_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 field-for-field: the reference's per-category benefits ladders
    (Glassdoor_Scraper_New.py:295-478) — hero rating + "(N Reviews)",
    Health→Dental→Vision, 401K→Pension→Retirement, keyword-parent and
    first-rating fallbacks, count-scan gated on rating>0, rating 0 ⇒
    count 0. html is synthesized per doc_id so every rung's expected
    output is oracle-computable:

      m=0  hero + Health card + 401K card        → all fields direct
      m=1  Dental card only                      → health via rung 2
      m=2  Vision + Pension cards                → rung 3 / rung 2
      m=3  keyword-parent fallback divs          → categorized ratings
      m=4  bare rating span + "N ratings" text   → first-rating + scan
      m=5  hero rating 0.0 + reviews             → count zeroed
      m=6  empty page                            → all null/0
    """
    from webscraper_spark.functions.extract import extract_benefits_udf

    d = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    m = i % 7
    r_b = F.concat(_s(i % 4 + 1), F.lit("."), _s(i % 10))     # benefits rating str
    r_h = F.concat(_s(i % 5), F.lit("."), _s(i % 3))          # health rating str
    r_r = F.concat(_s(i % 3 + 1), F.lit("."), _s(i % 7))      # retirement rating str
    c_b = _s(i % 500 + 1)
    c_h = _s(i % 97 + 1)
    c_r = _s(i % 89 + 1)

    hero = F.concat(
        F.lit('<span class="HeroRatingWrapper_benefitsRatingNumber__fqpP8">'),
        r_b, F.lit('</span><div class="HeroRatingWrapper_benefitsTotalWrapper__li_iK"><p>('),
        c_b, F.lit(" Reviews)</p></div>"),
    )

    def card(title, rating, count):
        return F.concat(
            F.lit('<div class="benefit-category-card_benefitCategoryCard__VjIA1">'
                  '<span class="benefit-category-card_title__Nu__H">'),
            F.lit(title),
            F.lit('</span><span class="benefit-category-card_ratingNumber__VyQzt">'),
            rating,
            F.lit('</span><span class="benefit-category-card_primaryText__YvBX2">'),
            count, F.lit(" Ratings</span></div>"),
        )

    body = (
        F.when(m == 0, F.concat(hero, card("Health Insurance", r_h, c_h),
                                card("401K Plan", r_r, c_r)))
        .when(m == 1, card("Dental Insurance", r_h, c_h))
        .when(m == 2, F.concat(card("Vision Insurance", r_h, c_h),
                               card("Pension Plan", r_r, c_r)))
        .when(m == 3, F.concat(
            F.lit('<div>health coverage <span class="rating">'), r_h,
            F.lit('</span></div><div>401k match <span class="rating">'), r_r,
            F.lit('</span></div><div>overall benefit <span class="rating">'), r_b,
            F.lit("</span></div>")))
        .when(m == 4, F.concat(
            F.lit('<span class="rating">'), r_b,
            F.lit("</span><p>rating summary: "), c_b, F.lit(" ratings</p>")))
        .when(m == 5, F.concat(
            F.lit('<span class="HeroRatingWrapper_benefitsRatingNumber__fqpP8">0.0'
                  '</span><div class="HeroRatingWrapper_benefitsTotalWrapper__li_iK"><p>('),
            c_b, F.lit(" Reviews)</p></div>")))
        .otherwise(F.lit(""))
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    ex = d.select(i.alias("doc_id"), F.encode(html, "utf-8").alias("html")).withColumn(
        "b", extract_benefits_udf("html")
    )
    return ex.select(
        "doc_id",
        F.col("b.benefits_rating").alias("benefits_rating"),
        F.col("b.health_rating").alias("health_rating"),
        F.col("b.retirement_rating").alias("retirement_rating"),
        F.col("b.benefits_review_count").alias("benefits_review_count"),
        F.col("b.health_review_count").alias("health_review_count"),
        F.col("b.retirement_review_count").alias("retirement_review_count"),
    )


# ---------------------------------------------------------------------------
# dedup family + similarity search (documents / embeddings)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: one hash aggregate over the scan — a round-robin
    # repartition would shuffle full text rows before the map-side
    # partial agg for no parallelism the agg doesn't already have
    d = _read(spark, sf_dir, "documents", spread=False)
    out = exact_dedup(d)
    return out.select(
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("n_copies").cast("long").alias("n_copies"),
        F.array_join(F.transform(F.col("member_ids"), lambda x: x.cast("string")), ",").alias("member_ids"),
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return lsh_candidate_pairs(d, n_hashes=32, k=3, bands=8)


def q_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production MinHash path: Arrow-vectorized signature kernel (numpy
    broadcast over blake2b shingle hashes; ~5× the SQL-expression path,
    which Catalyst interprets per lambda). Same banded-join plan —
    rows-only check; the algorithm is certified by the portable oracle
    twin plus the planted-near-dup recall test."""
    from webscraper_spark.operators.similarity import lsh_candidate_pairs_pandas

    d = _read(spark, sf_dir, "documents")
    return lsh_candidate_pairs_pandas(d, n_hashes=32, k=3, bands=8)


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH candidate pairs collapsed into
    connected components via iterative min-label propagation (the step
    from "similar pairs" to "keep one per group"; A~B, B~C ⇒ one
    cluster). DuckDB twin = the same pair algebra + a recursive-CTE
    transitive closure."""
    from webscraper_spark.operators.similarity import connected_components

    d = _read(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(d, n_hashes=32, k=3, bands=8)
    return connected_components(pairs)


def q_near_dup_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production clustering path: the Arrow MinHash pair kernel feeding
    the O(log n)-round CONTRACTION connected-components operator
    (pointer-jumped star contraction — diameter-proof, unlike the
    label-propagation twin whose shuffle count tracks chain length).
    Golden-oracled against a pure-Python union-find over the same
    blake2b pair family — the minhash_lsh_fast certification pattern."""
    from webscraper_spark.operators.similarity import (
        connected_components_contract,
        lsh_candidate_pairs_pandas,
    )

    d = _read(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs_pandas(d, n_hashes=32, k=3, bands=8)
    return connected_components_contract(pairs)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard VERIFY step gated by LSH candidates — the production
    dedup flow (candidate generation via banded MinHash, then exact
    verification via array_intersect on the candidate pairs only). The
    ungated shared-shingle self-join is never in this plan, so a hot
    shingle ("terms of service" in 10^6 docs) cannot go quadratic."""
    d = _read(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(d, n_hashes=32, k=3, bands=8)
    return ngram_jaccard_pairs(d, k=3, min_jaccard=0.1, candidates=cand)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    out = simhash_near_pairs(d, bits=30, bands=3, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SimHash path (Arrow kernel; rows-only — algorithm
    certified by the portable oracle twin + planted-near-dup recall)."""
    from webscraper_spark.operators.similarity import simhash_near_pairs_fast

    d = _read(spark, sf_dir, "documents")
    out = simhash_near_pairs_fast(d, bits=30, bands=3, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4)
    out = cosine_topk(e, q, k=10)
    return out.select("query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank"))


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "embeddings")
    return embedding_near_pairs(e, min_cosine=0.3)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (the ANN scale path: probe nprobe
    centroid buckets instead of scanning the corpus)."""
    from webscraper_spark.operators.similarity import ivf_topk

    e = _read(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8)
    q = e.filter(F.col("vec_id") % 125 == 0)
    out = ivf_topk(e, q, cent, k=10, nprobe=2)
    return out.select("query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank"))


# ---------------------------------------------------------------------------
# text-analysis operators (training-data curation)
# ---------------------------------------------------------------------------

def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data curation pass, end to end: exact-dedup
    to the canonical copy, language-ID, quality gate, then EMBED the
    surviving docs (hashed-trigram projection) and IVF-assign each to
    its nearest centroid (centroids = embeddings of every 100th doc) —
    one declarative plan from raw text to an ANN-bucketed corpus (what a
    100 TB pretraining sweep runs per shard)."""
    from webscraper_spark.operators.similarity import (
        embed_documents_fast,
        embed_kernel_pandas,
        ivf_assign_fast,
    )

    # spread scan for the kernel-heavy main pipeline; UNSPREAD scan for
    # the dedup aggregate (pure hash-agg — the spread exchange is a raw-
    # text shuffle it doesn't need, see q_exact_dedup) and the 1%-filter
    # centroid build (filter pushes to the scan)
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    d_flat = _read(spark, sf_dir, "documents", spread=False).select("doc_id", "text")
    canon = exact_dedup(d_flat).select(F.col("canonical_id").alias("doc_id"))
    kept = d.join(canon, on="doc_id", how="left_semi")
    scored = quality_features(lang_id(kept)).withColumn(
        "quality_score", quality_score_col()
    )
    gated = scored.filter(
        (F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.75)
    ).select("doc_id", "lang_pred", "quality_score", "n_tokens", "text")
    # Arrow kernels throughout: embed is bit-identical to the oracle
    # expression twin; assignment is the matmul kernel (same round-6 +
    # smallest-id contract, equivalence-tested vs the declarative form).
    # The metadata columns ride ALONGSIDE the embed/assign kernels, so
    # the plan is one linear pipeline — the former gated⋈assigned
    # self-join re-executed the whole dedup→lang-ID→quality prefix once
    # per branch (guide §2.4: don't compute a subtree twice to join it
    # back to itself). Row set and values are identical: the join was
    # 1:1 on doc_id between two projections of the same `gated`.
    emb = gated.withColumn(
        "embedding", embed_kernel_pandas()(F.col("text"))
    ).drop("text")
    cents = embed_documents_fast(d_flat.filter(F.col("doc_id") % 100 == 0))
    assigned = ivf_assign_fast(emb, cents, id_col="doc_id", vec_col="embedding")
    return assigned.select(
        "doc_id", "lang_pred", "quality_score", "n_tokens", "centroid_id"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return lang_id(d).select("doc_id", "lang", "lang_pred")


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    feats = quality_features(d).withColumn("quality_score", quality_score_col())
    return feats.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len", "stopword_ratio", "punct_ratio", "distinct_word_ratio",
        "bullet_line_ratio", "ellipsis_line_ratio", "alpha_word_ratio",
        "max_word_len", "symbol_word_ratio",
        "quality_score",
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_col("text").cast("long").alias("n_ws_tokens"),
        bpe_ish_token_count_col("text").cast("long").alias("n_bpe_tokens"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow fingerprint kernel — bit-identical to the interpreted
    expression twin (same polynomial word fold over code points), so the
    oracle hash compare certifies the fast path directly, like
    embed_documents."""
    from webscraper_spark.operators.textstats import fingerprint_kernel_pandas

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_kernel_pandas()(F.col("text")).alias("fp"))


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate-ratio repetition signal per document (Arrow kernel;
    golden-oracled — zlib is not expressible in DuckDB SQL)."""
    from webscraper_spark.operators.textstats import compression_ratio_udf

    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id", compression_ratio_udf()(F.col("text")).alias("compression_ratio")
    )


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage dedup: fixed 8-word spans hashed,
    doc-frequency counted by one narrow groupBy on the hash, spans in
    ≥2 distinct docs marked dropped. No pair join anywhere in the plan
    (a boilerplate span shared by 10^6 docs is one aggregate row)."""
    from webscraper_spark.operators.similarity import passage_dedup

    d = _read(spark, sf_dir, "documents")
    out = passage_dedup(d, span=8, min_dup_docs=2)
    return out.select(
        "doc_id",
        "passage_idx",
        "passage_hash",
        F.col("n_docs").cast("long").alias("n_docs"),
        "keep",
    )


def q_passage_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumable side of passage dedup: per-document text rebuilt
    from only the passages NOT repeated across documents (what a
    training pipeline feeds the tokenizer)."""
    from webscraper_spark.operators.similarity import passage_filter_text

    d = _read(spark, sf_dir, "documents")
    return passage_filter_text(d, span=8, min_dup_docs=2)


def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hashed char-trigram embedding (signed feature
    hashing → L2-normalized 64-dim), exploded to (doc_id, dim, val) for
    the value-hash compare. Closes the pipeline loop: pages.text →
    embeddings → the ANN/near-dup operators.

    Runs the Arrow production kernel; the DuckDB oracle checks it
    directly because the kernel is BIT-IDENTICAL to the interpreted
    expression twin (same polynomial hash over codepoints, same signed
    bincount, same HALF_UP rounding — asserted in
    tests/test_passage_embed_host.py), so the hash compare certifies
    the fast path itself, ~20× the HOF form."""
    from webscraper_spark.operators.similarity import embed_documents_exploded

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    # flatten inside the Arrow kernel (same floats, same rounding) —
    # the former posexplode over Python-built arrays cost ~4x the
    # embedding itself; see embed_documents_exploded
    e = embed_documents_exploded(d)
    return e.select("doc_id", F.col("dim").cast("long").alias("dim"), "val")


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host curation reputation (dup rate, mean quality, lang mix)
    over the derived-corpus host mapping — the table
    :func:`webscraper_spark.operators.hoststats.throttle_admission`
    joins into frontier admission."""
    from webscraper_spark.operators.hoststats import host_stats

    d = _read(spark, sf_dir, "documents").withColumn(
        "host", F.concat(F.lit("h"), _s(F.col("doc_id") % 8), F.lit(".example"))
    )
    return host_stats(d)


# ---------------------------------------------------------------------------
# non-SQL-expressible (rows-only checks)
# ---------------------------------------------------------------------------

def q_crawl_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _crawl_round(spark, sf_dir)


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media column → mapInPandas feature
    extraction. ids 0-39 use the deterministic fake codec; ids 40-47 are
    REAL baseline-JPEG blobs (in-repo T.81 encoder, quality 92) decoded
    by the stdlib decoder — the oracle's sequential golden twin decodes
    the same deterministic bytes, certifying the distributed decode
    plumbing (the codec itself is certified by tests/test_jpeg.py
    round-trips + PIL parity); ids 48-49 REAL WebP headers (lossy VP8 +
    lossless VP8L) whose dimension index (`ws/functions/webp.py`)
    yields decode-pending rows with real width/height ahead of the
    PIL/libwebp seam; id 50 a REAL progressive JPEG whose SOF2 frame
    header (`parse_jpeg_dims`) does the same ahead of the progressive
    codec seam; id 51 a REAL AVIF whose primary-item ispe property
    (`ws/functions/avif.py`, pitm→ipma resolution) does the same ahead
    of the libavif seam."""
    from webscraper_spark.functions.jpeg import encode_jpeg
    from webscraper_spark.operators.multimodal import encode_fake_image

    @F.pandas_udf(T.BinaryType())
    def _blob(ids: pd.Series) -> pd.Series:
        import numpy as np

        from webscraper_spark.functions.webp import build_webp

        def enc(i):
            i = int(i)
            if i < 40:
                return encode_fake_image(16 + (i % 5) * 4, 16, i)
            if i == 48:
                return build_webp(640, 360, "VP8")
            if i == 49:
                return build_webp(320, 200, "VP8L", has_alpha=True)
            if i == 50:
                from webscraper_spark.functions.jpeg import (
                    build_progressive_jpeg,
                )
                return build_progressive_jpeg(1280, 720)
            if i == 51:
                from webscraper_spark.functions.avif import build_avif
                # alpha item's ispe listed first: primary must still win
                return build_avif(1024, 768, extra_items=((2, 512, 384),),
                                  primary_last=True)
            yy, xx = np.mgrid[0:16, 0:20]
            img = (128 + 100 * np.sin(xx / 7.0 + (i - 40))
                   * np.cos(yy / 5.0)).astype(np.uint8)
            return encode_jpeg(img, quality=92)

        return ids.map(enc)

    media = spark.range(52).select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("kind"),
        _blob(F.col("id")).alias("blob"),
        F.when(F.col("id") < 40, 16 + (F.col("id") % 5) * 4)
        .otherwise(20).cast("int").alias("meta_w"),
        F.lit(16).cast("int").alias("meta_h"),
    )
    return image_features(media)


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video plumbing: binary video column → mapInPandas frame
    sampling (every 2nd frame re-encoded as a fake image, mean luma per
    frame). ids 0-11 fake codec, id 12 an FLV container → error row,
    ids 13-14 REAL animated GIFs decoded by the stdlib codec
    (`ws/functions/gif.py` — gray palette is lossless, so the golden
    twin states expected luma from the source arrays), id 15 a REAL
    ISO-BMFF mp4 whose keyframe index (`ws/functions/mp4.py` stss/stts/
    stco parse) yields decode-pending rows with sample timestamps and
    byte offsets, id 16 a REAL Matroska webm whose cue index
    (`ws/functions/webm.py` EBML walk) does the same with absolute
    cluster offsets. frame_blob is dropped here (binary literals don't
    embed in VALUES); its correctness is pytest-covered."""
    from webscraper_spark.operators.multimodal import (
        encode_fake_video,
        video_frame_sample,
    )

    @F.pandas_udf(T.BinaryType())
    def _blob(ids: pd.Series) -> pd.Series:
        import numpy as np

        from webscraper_spark.functions.gif import encode_gif
        from webscraper_spark.functions.mp4 import build_mp4
        from webscraper_spark.functions.webm import build_webm

        def enc(i):
            i = int(i)
            if i == 12:
                return b"FLV\x01 codec-seam junk"  # no index → error row
            if i == 15:  # REAL mp4: keyframe index rows (decode pending)
                sizes = [30 + (k * 7) % 40 for k in range(10)]
                return build_mp4(
                    [bytes([65 + k]) * s for k, s in enumerate(sizes)],
                    sync_samples=[1, 4, 8],
                )
            if i == 16:  # REAL webm: cue index rows (decode pending)
                return build_webm([j * 400 for j in range(5)],
                                  cluster_size=40, duration_ms=1600)
            if i > 12:  # REAL animated GIF (lossless gray palette)
                nf = 3 + (i - 13)
                rng = np.random.default_rng(100 + i)
                return encode_gif(rng.integers(0, 256, (nf, 16, 16), dtype=np.uint8))
            return encode_fake_video(16 + (i % 3) * 8, 16, 4 + (i % 3), i)

        return ids.map(enc)

    media = spark.range(17).select(
        F.col("id").alias("media_id"),
        F.lit("video").alias("kind"),
        _blob(F.col("id")).alias("blob"),
        F.lit(None).cast("int").alias("meta_w"),
        F.lit(None).cast("int").alias("meta_h"),
    )
    out = video_frame_sample(media, every=2)
    return out.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "mean_luma", "time_sec", "byte_offset", "decode_error",
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio plumbing: binary audio column → mapInPandas
    features (duration, RMS, zero crossings). ids 0-29 fake codec, id 30
    a truncated ogg → malformed-error row, ids 31-33 REAL WAV files
    decoded by the stdlib codec (`ws/functions/wav.py` — PCM is
    lossless, so the golden twin states expected features from the
    source samples), id 34 a REAL CBR mp3 whose frame-header walk
    (`ws/functions/mp3.py`) yields a decode-pending row with
    sample-rate/duration from the index, ids 35-36 REAL Ogg Opus and
    Vorbis streams whose page-granule walk (`ws/functions/ogg.py`)
    yields decode-pending rows (Opus reports the 48 kHz granule clock
    and subtracts pre-skip), id 37 a REAL FLAC whose STREAMINFO
    (`ws/functions/flac.py`) declares the sample count."""
    from webscraper_spark.operators.multimodal import (
        audio_features,
        encode_fake_audio,
    )

    @F.pandas_udf(T.BinaryType())
    def _blob(ids: pd.Series) -> pd.Series:
        import numpy as np

        from webscraper_spark.functions.flac import build_flac
        from webscraper_spark.functions.mp3 import build_mp3
        from webscraper_spark.functions.ogg import build_ogg
        from webscraper_spark.functions.wav import encode_wav

        def enc(i):
            i = int(i)
            if i == 30:
                return b"OggS\x00vorbis junk"  # truncated page → error row
            if i == 35:  # REAL Ogg Opus: page-granule index row
                return build_ogg("opus", n_samples=96000, sample_rate=16000,
                                 pre_skip=312)
            if i == 36:  # REAL Ogg Vorbis: stereo 44.1 kHz
                return build_ogg("vorbis", n_samples=66150,
                                 sample_rate=44100, channels=2)
            if i == 37:  # REAL FLAC: STREAMINFO-declared index row
                return build_flac(n_samples=110250, sample_rate=44100,
                                  channels=2, bits_per_sample=16)
            if i == 34:  # REAL mp3: frame-index row (decode pending)
                return build_mp3(n_frames=57, bitrate_kbps=128,
                                 sample_rate=44100, id3v2_bytes=64)
            if i > 30:  # REAL WAV (lossless 16-bit PCM sine tone)
                j = i - 31
                ns = 3000 + 500 * j
                t = np.arange(ns) / 16000.0
                tone = np.round(
                    12000.0 * np.sin(2 * np.pi * 220.0 * (j + 1) * t)
                ).astype(np.int16)
                return encode_wav(tone, 16000)
            return encode_fake_audio(8000 + (i % 5) * 400, 16000, i)

        return ids.map(enc)

    media = spark.range(38).select(
        F.col("id").alias("media_id"),
        F.lit("audio").alias("kind"),
        _blob(F.col("id")).alias("blob"),
        F.lit(None).cast("int").alias("meta_w"),
        F.lit(None).cast("int").alias("meta_h"),
    )
    out = audio_features(media)
    return out.select(
        "media_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        "duration_sec", "rms",
        F.col("zero_crossings").cast("long").alias("zero_crossings"),
        "decode_error",
    )


def q_link_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier prioritization: PageRank over the derived corpus's
    outlink graph (3 damped iterations, dangling mass uniform, ranks
    quantized per iteration to max(9, ceil(log10 n)+7) decimals for
    cross-partitioning determinism). Feeds priorities_from_rank →
    schedule_round. Oracle = sequential pure-Python twin
    (tools/golden.py, same size-scaled quantization)."""
    from webscraper_spark.operators.linkrank import pagerank

    # edge synthesis only touches doc_id (no per-row heavy work), so the
    # unspread scan is the right input; count stays metadata-only
    d = _read(spark, sf_dir, "documents", spread=False)
    n = d.count()
    i = F.col("doc_id")
    edges = d.select(i.alias("src"), ((i * 3 + 1) % n).alias("dst")).unionByName(
        d.select(i.alias("src"), ((i * 7 + 2) % n).alias("dst"))
    )
    r = pagerank(edges, n_iters=3)
    return r.select(F.col("node").cast("long").alias("node"), "rank")


def q_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm: distributed Lloyd k-means refinement of the
    IVF coarse quantizer (3 iterations, 8 centroids, round-6 quantized
    per step for cross-partitioning determinism). Oracle = sequential
    pure-Python twin (tools/golden.py). Output exploded as
    (centroid_id, dim, value) so the compare is scalar-typed."""
    from webscraper_spark.operators.similarity import ivf_train

    e = _read(spark, sf_dir, "embeddings")
    cents = ivf_train(e, n_centroids=8, n_iters=3)
    return cents.select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.posexplode("embedding").alias("dim", "value"),
    ).select("centroid_id", F.col("dim").cast("long").alias("dim"), "value")


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-source: raw WARC archives → pages table (Common-Crawl ingestion,
    `ws/sources/warc.py`). Synthesizes a two-file WARC fixture (one plain,
    one per-record-gzip — the CC layout) from doc_ids, then runs the real
    mapInPandas record-split → HTTP-body extract pipeline (the same
    splitter the binaryFile path uses, `ws/sources/warc.py`).
    Non-200 records are filtered; text comes from the pinned kernel, so
    the oracle can state it in SQL. Cluster-valid: the fixture bytes
    ship as DataFrame rows (createDataFrame), never via a driver-local
    temp path executors can't see. Fixture synthesis (render + gzip on
    the driver) is NOT part of the measured operator — it is cached per
    sf_dir so bench repeats time only the ingest pipeline."""
    files = _warc_fixture_files(spark, sf_dir)
    from webscraper_spark.sources.warc import pages_from_warc_files

    fdf = spark.createDataFrame(files, "path string, content binary")
    pages = pages_from_warc_files(fdf)
    return pages.select("url", "warc_ts", "text")


# one cached fixture per kind (last sf_dir wins): bench repeats hit the
# cache; a process touching several scale factors doesn't pin one
# corpus-sized byte blob per sf_dir forever
_FIXTURE_CACHE: "dict[str, tuple[str, list]]" = {}


def _fixture_cached(kind: str, sf_dir: str):
    hit = _FIXTURE_CACHE.get(kind)
    return hit[1] if hit is not None and hit[0] == sf_dir else None


def _warc_fixture_files(spark: SparkSession, sf_dir: str) -> list:
    """Deterministic two-file WARC fixture (one plain, one per-record-gzip
    — the CC layout) synthesized from the documents table's doc_ids.
    Driver-side render+gzip is test-harness work, not the operator under
    measurement, so the byte list is cached per sf_dir (VERDICT r04:
    fixture synthesis must not sit inside the timed bench body)."""
    hit = _fixture_cached("warc", sf_dir)
    if hit is not None:
        return hit
    from webscraper_spark.sources.warc import build_warc

    ids = [r.doc_id for r in _read(spark, sf_dir, "documents", spread=False).select("doc_id").collect()]
    base = datetime(2025, 7, 25)

    def rec(i):
        return {
            "url": f"https://w{i % 7}.example/warc/{i}",
            "warc_ts": base + timedelta(seconds=i % 86400),
            "html": (
                f"<html><head><title>W {i}</title></head>"
                f"<body><p>doc {i}</p></body></html>"
            ).encode(),
            "status": 200 if i % 5 != 4 else 404,
        }

    ids.sort()
    half = len(ids) // 2
    files = [
        ("mem://warc/a.warc", build_warc([rec(i) for i in ids[:half]])),
        ("mem://warc/b.warc.gz",
         build_warc([rec(i) for i in ids[half:]], per_record_gzip=True)),
    ]
    _FIXTURE_CACHE["warc"] = (sf_dir, files)
    return files


def q_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap source (`ws/sources/sitemap.py`): synthesizes a 6-file
    fixture from doc_ids — five <urlset> shards (one gzipped, exercising
    the spec's gzip allowance) plus a <sitemapindex> referencing them —
    and runs the real mapInPandas parse → frontier-seed pipeline.
    Entity-escaped locs, date lastmods, and partial <priority> coverage
    mirror real sitemaps; the synthesis rule is stated in SQL by the
    oracle. Fixture synthesis is cached per sf_dir (not part of the
    measured operator)."""
    from webscraper_spark.sources.sitemap import sitemap_to_frontier

    _utc(spark)
    files = _sitemap_fixture_files(spark, sf_dir)
    fdf = spark.createDataFrame(files, "path string, content binary")
    out = sitemap_to_frontier(fdf)
    return out.select("url", "host", F.col("priority").cast("long").alias("priority"), "lastmod_ts")


def _sitemap_fixture_files(spark: SparkSession, sf_dir: str) -> list:
    """Deterministic 6-file sitemap fixture (five urlset shards, one
    gzipped, plus a sitemapindex) from the documents table's doc_ids;
    cached per sf_dir so bench repeats time only the parse pipeline."""
    hit = _fixture_cached("sitemap", sf_dir)
    if hit is not None:
        return hit
    import gzip as _gzip

    ids = sorted(
        r.doc_id for r in _read(spark, sf_dir, "documents", spread=False).select("doc_id").collect()
    )

    def entry(i: int) -> str:
        loc = f"https://s{i % 9}.example/p/{i}?a=1&amp;b=2"
        lastmod = f"2025-07-{(i % 27) + 1:02d}"
        prio = f"<priority>{(i % 10) / 10:.1f}</priority>" if i % 3 == 0 else ""
        return (
            f"<url><loc>{loc}</loc><lastmod>{lastmod}</lastmod>"
            f"<changefreq>daily</changefreq>{prio}</url>"
        )

    shards: dict[int, list[str]] = {g: [] for g in range(5)}
    for i in ids:
        if i % 11 != 10:  # some pages are simply not in any sitemap
            shards[i % 5].append(entry(i))
    files = []
    for g, entries in shards.items():
        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(entries) + "</urlset>"
        ).encode()
        path = f"https://hub.example/sitemap_{g}.xml"
        if g == 4:
            xml = _gzip.compress(xml)
            path += ".gz"
        files.append((path, xml))
    index = (
        '<?xml version="1.0" encoding="UTF-8"?><sitemapindex>'
        + "".join(
            f"<sitemap><loc>{p}</loc></sitemap>" for p, _ in files
        )
        + "</sitemapindex>"
    ).encode()
    files.append(("https://hub.example/sitemap_index.xml", index))
    _FIXTURE_CACHE["sitemap"] = (sf_dir, files)
    return files


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inlink anchor aggregation (`ws/operators/anchors.py`): each doc
    renders an html page with two real `<a>` tags (targets and anchor
    texts by doc_id rule, one with entity escapes and nested markup);
    the engine EXTRACTS the pairs from the html and aggregates per
    target — the oracle states the same link rules in SQL and
    aggregates identically."""
    from webscraper_spark.operators.anchors import anchor_stats

    d = _read(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><p>intro</p><a href="https://t'),
        _s(i % 40),
        F.lit('.example/p">anchor <b>'), _s(i % 5),
        F.lit(' &amp; text</b></a><div><a href="https://t'),
        _s((i * 7) % 40),
        F.lit('.example/p">other '), _s(i % 3),
        F.lit("</a></div></body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://src"), _s(i), F.lit(".example/")).alias("url"),
        html.alias("html"),
    )
    out = anchor_stats(pages, k=3)
    return out.select(
        "dst_url",
        F.col("n_inlinks").cast("long").alias("n_inlinks"),
        F.col("n_src_pages").cast("long").alias("n_src_pages"),
        "top_anchors",
    )


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (`ws/operators/redirects.py`): chains
    `d -> d-1` terminating at multiples of 16 (up to 15 hops) plus an
    explicit 3-cycle — pointer doubling resolves in ceil(log2 64) = 6
    self-joins; the oracle walks the same graph with a recursive CTE
    and the same 64-step cap, so loop rows report identical positions."""
    from webscraper_spark.operators.redirects import resolve_redirects

    d = _read(spark, sf_dir, "documents").select("doc_id")
    chain = d.filter(F.col("doc_id") % 16 != 0).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") - 1).alias("dst"),
    )
    # cycle sentinels above max(doc_id): collision-proof at any sf
    mx = int(d.agg(F.max("doc_id")).first()[0])
    cycle = spark.createDataFrame(
        [(mx + 1, mx + 2), (mx + 2, mx + 3), (mx + 3, mx + 1)],
        "src long, dst long",
    )
    out = resolve_redirects(chain.unionAll(cycle), max_hops=64)
    return out.select(
        "src", "final_dst", "n_hops",
        F.col("terminated").cast("long").alias("terminated"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (`ws/functions/pii.py`): deterministic PII spans
    (emails, dotted-quad IPs, SSN shapes, US phone shapes) are injected
    into documents.text by doc_id rule, then counted and redacted with
    the Java∩RE2-identical pattern set — the oracle injects and redacts
    with the same SQL, so counts AND redacted text hash-match."""
    from webscraper_spark.functions.pii import redact_pii

    d = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.when(i % 3 == 0, F.concat(
            F.lit(" mail u"), _s(i), F.lit("@ex"), _s(i % 7), F.lit(".org")
        )).otherwise(F.lit("")),
        F.when(i % 4 == 1, F.concat(
            F.lit(" from 10."), _s(i % 200), F.lit(".0."), _s(i % 100)
        )).otherwise(F.lit("")),
        F.when(i % 5 == 2, F.lit(" id 123-45-6789")).otherwise(F.lit("")),
        F.when(i % 5 == 3, F.lit(" call (555) 123-4567 now"))
         .otherwise(F.lit("")),
    )
    docs = d.select("doc_id", pii_text.alias("text"))
    return redact_pii(docs).select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "text_redacted",
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (`ws/operators/sampling.py`):
    exactly 20 documents per language, ranked by xxhash64('s0:'||id) —
    reproducible across runs and cluster sizes, exact counts (not
    Bernoulli rates). The golden twin replays the per-stratum sort
    sequentially in Python with the spec-level xxHash64."""
    from webscraper_spark.operators.sampling import stratified_sample

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, ["lang"], 20).select(
        "doc_id", "lang",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (`ws/operators/decontam.py`): docs
    whose doc_id % 17 == 3 form the 'benchmark'; every document gets a
    distinct-13-gram overlap count and a contaminated flag (benchmark
    members with ≥13 tokens flag themselves; exact-dup partners flag
    transitively; short docs have no grams and stay clean). Gram = the
    literal normalized token string — no hashing — so the oracle states
    the identical computation in SQL."""
    from webscraper_spark.operators.decontam import contamination_flags

    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 3)
    return contamination_flags(d, bench).select(
        "doc_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("contaminated").cast("long").alias("contaminated"),
    )


def q_recrawl_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling (`ws/operators/recrawl.py`): a derived corpus
    (fetch_ts by doc_id) joined against discovery freshness signals
    (two signal generations per some urls, exercising the max-agg) at a
    fixed evaluation instant. Candidates = newer-signal pages (priority
    by recency-gap doubling buckets) + signal-less pages older than 30
    days; pages whose signal says the copy is current are absent — the
    fetch-budget saving the operator exists for."""
    from webscraper_spark.operators.recrawl import recrawl_candidates

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://r"), _s(F.col("doc_id") % 6),
        F.lit(".example/page/"), _s(F.col("doc_id")),
    )
    corpus = d.select(
        url.alias("url"),
        F.to_timestamp(
            F.lit("2025-07-01")
        ).cast("timestamp").alias("_base"),
        (F.col("doc_id") % 20).alias("_off"),
    ).select(
        "url",
        F.timestamp_add("DAY", F.col("_off"), F.col("_base")).alias("fetch_ts"),
    )
    sig_new = d.filter(F.col("doc_id") % 3 != 2).select(
        url.alias("url"),
        F.timestamp_add(
            "DAY", (F.col("doc_id") % 27),
            F.to_timestamp(F.lit("2025-07-01")),
        ).alias("signal_ts"),
    )
    sig_old = d.filter(F.col("doc_id") % 6 == 0).select(
        url.alias("url"),
        F.timestamp_add(
            "DAY", (F.col("doc_id") % 5),
            F.to_timestamp(F.lit("2025-07-01")),
        ).alias("signal_ts"),
    )
    out = recrawl_candidates(
        corpus, sig_new.unionAll(sig_old),
        now_ts="2025-08-15 00:00:00", max_age_days=30.0,
    )
    return out.select(
        "url", "host", "fetch_ts", "signal_ts", "reason",
        "staleness_days", F.col("priority").cast("long").alias("priority"),
    )


def q_feed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed source (`ws/sources/feeds.py`): synthesizes a 5-file
    fixture from doc_ids — two RSS 2.0 feeds (one gzipped), two Atom
    feeds (one with CDATA titles), and one non-feed document (C7 error
    row, dropped by the frontier mapping) — and runs the real
    mapInPandas parse → frontier-seed pipeline. RFC 822 and ISO 8601
    timestamps normalize to the same UTC instants, so the oracle states
    the synthesis rule in SQL. Fixture synthesis is cached per sf_dir
    (not part of the measured operator)."""
    from webscraper_spark.sources.feeds import feeds_to_frontier

    _utc(spark)
    files = _feed_fixture_files(spark, sf_dir)
    fdf = spark.createDataFrame(files, "path string, content binary")
    out = feeds_to_frontier(fdf)
    return out.select("url", "host", "title", "published_ts")


def _feed_fixture_files(spark: SparkSession, sf_dir: str) -> list:
    """Deterministic 5-file feed fixture (2×RSS + 2×Atom + 1 non-feed)
    from the documents table's doc_ids; cached per sf_dir so bench
    repeats time only the parse pipeline."""
    hit = _fixture_cached("feeds", sf_dir)
    if hit is not None:
        return hit
    import gzip as _gzip

    ids = sorted(
        r.doc_id for r in _read(spark, sf_dir, "documents", spread=False).select("doc_id").collect()
    )

    def rss_item(i: int) -> str:
        day = (i % 27) + 1
        return (
            f"<item><title>Post {i} &amp; more</title>"
            f"<link>https://f{i % 4}.example/post/{i}</link>"
            f"<pubDate>{day:02d} Jul 2025 00:00:00 +0000</pubDate>"
            f"<guid>https://f{i % 4}.example/post/{i}</guid></item>"
        )

    def atom_entry(i: int) -> str:
        day = (i % 27) + 1
        title = (f"<title><![CDATA[Post {i} & more]]></title>"
                 if i % 4 == 3 else f"<title>Post {i} &amp; more</title>")
        return (
            f"<entry>{title}"
            f'<link rel="alternate" '
            f'href="https://f{i % 4}.example/post/{i}"/>'
            f"<published>2025-07-{day:02d}T00:00:00Z</published>"
            f"<id>https://f{i % 4}.example/post/{i}</id></entry>"
        )

    groups: dict[int, list[str]] = {g: [] for g in range(4)}
    for i in ids:
        if i % 7 != 6:  # some pages are simply not syndicated
            g = i % 4
            groups[g].append(rss_item(i) if g < 2 else atom_entry(i))
    files = []
    for g, entries in groups.items():
        if g < 2:
            xml = ('<?xml version="1.0"?><rss version="2.0"><channel>'
                   + "".join(entries) + "</channel></rss>").encode()
        else:
            xml = ('<?xml version="1.0"?>'
                   '<feed xmlns="http://www.w3.org/2005/Atom">'
                   + "".join(entries) + "</feed>").encode()
        path = f"https://hub.example/feed_{g}.xml"
        if g == 1:
            xml = _gzip.compress(xml)
            path += ".gz"
        files.append((path, xml))
    files.append(("https://hub.example/not_a_feed.html",
                  b"<html><body>plain page</body></html>"))
    _FIXTURE_CACHE["feeds"] = (sf_dir, files)
    return files


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction over binary blobs: ids 0-9 REAL multi-page
    PDFs (classic xref, alternating Flate/uncompressed content streams)
    built by `ws/functions/pdf.py build_pdf`; id 10 escape-heavy text;
    id 11 a composite-font (Type0) document → flagged approximate;
    id 12 an encrypted trailer → NotImplementedError seam row; id 13
    truncated bytes → ValueError row. The golden twin states every text
    from the same line-generation constants — it never runs the
    engine's parser."""
    from webscraper_spark.functions.pdf import build_pdf
    from webscraper_spark.operators.multimodal import pdf_text

    @F.pandas_udf(T.BinaryType())
    def _blob(ids: pd.Series) -> pd.Series:
        def enc(i):
            i = int(i)
            if i < 10:
                pages = [
                    [f"Doc {i} page {p} line {ln} of the crawl corpus."
                     for ln in range(2)]
                    for p in range(1 + i % 3)
                ]
                return build_pdf(pages, compress=(i % 2 == 0))
            if i == 10:
                return build_pdf(
                    [["Parens (nested) and \\ backslash \xb0 doc 10."]]
                )
            if i == 11:
                return build_pdf([["Composite font body."]]).replace(
                    b"/Subtype /Type1", b"/Subtype /Type0"
                )
            if i == 12:
                return build_pdf([["secret"]]).replace(
                    b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
                )
            return build_pdf([["gone"]])[:120]

        return ids.map(enc)

    docs = spark.range(14).select(
        F.col("id").alias("doc_id"), _blob(F.col("id")).alias("blob")
    )
    # int-cast the flag for the gate: boolean canonicalization differs
    # between pandas/duckdb dtype paths; 1/0/NULL hashes identically
    return pdf_text(docs).withColumn(
        "has_type0_fonts", F.col("has_type0_fonts").cast("int")
    )


def q_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX text extraction over binary blobs: ids 0-9 REAL OPC
    packages (alternating deflate/stored members) built by
    `ws/functions/docx.py build_docx`; id 10 XML-escape-heavy text;
    id 11 a field-code document → flagged approximate; id 12 an OLE2
    container (legacy .doc / encrypted OOXML) → NotImplementedError
    seam row; id 13 truncated bytes → ValueError row. The golden twin
    states every text from the same paragraph-generation constants —
    it never runs the engine's extractor."""
    from webscraper_spark.functions.docx import build_docx
    from webscraper_spark.operators.multimodal import docx_text

    @F.pandas_udf(T.BinaryType())
    def _blob(ids: pd.Series) -> pd.Series:
        def enc(i):
            i = int(i)
            if i < 10:
                paras = [
                    f"Doc {i} para {p} of the crawl corpus."
                    for p in range(1 + i % 3)
                ]
                return build_docx(paras, compress=(i % 2 == 0))
            if i == 10:
                return build_docx(["<tag> & \"amp\" doc 10."])
            if i == 11:
                return build_docx(["Field body."], with_field=True)
            if i == 12:
                return (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
                        + b"\x00" * 56)
            return build_docx(["gone"])[:40]

        return ids.map(enc)

    docs = spark.range(14).select(
        F.col("id").alias("doc_id"), _blob(F.col("id")).alias("blob")
    )
    # int-cast the flag for the gate: boolean canonicalization differs
    # between pandas/duckdb dtype paths; 1/0/NULL hashes identically
    return docx_text(docs).withColumn(
        "has_fields", F.col("has_fields").cast("int")
    )


def q_image_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: perceptual-hash banded Hamming pairs over the
    binary media column (rows-only; codec stubbed)."""
    from webscraper_spark.operators.multimodal import encode_fake_image, image_near_pairs

    @F.pandas_udf(T.BinaryType())
    def _blob(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_fake_image(24, 24, int(i) % 20))

    media = spark.range(40).select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("kind"),
        _blob(F.col("id")).alias("blob"),
        F.lit(24).cast("int").alias("meta_w"),
        F.lit(24).cast("int").alias("meta_h"),
    )
    out = image_near_pairs(media, max_hamming=0)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _shipped(fn: "Callable[[SparkSession, str], DataFrame]"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(fn) for name, fn in _QUERIES.items()}


def cert_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Portable certification twins — slow-by-design bit-identical
    variants (interpreted SQL-lambda MinHash/SimHash, recursive-CTE
    clustering oracle) whose fast production twins carry the driver
    CORRECTNESS rows. Kept out of ``queries()`` so the driver gate's
    50-row window covers every production query every round; certified
    each session by ``tools/oracle_check.py`` instead."""
    return {name: _shipped(fn) for name, fn in _CERT_QUERIES.items()}


def cert_oracle_sql() -> dict[str, str]:
    full = _oracle_sql_cached()
    return {k: v for k, v in full.items() if k in _CERT_QUERIES}


# Registration order is load-bearing: the driver's correctness gate
# records the FIRST 50 entries each round, so every query whose most
# recent driver row is two rounds old sits in slots 1-50; slots 51+
# hold queries with green rows in BOTH of the two most recent recorded
# rounds (r03 AND r04), rotated back next round. Rotation ledger:
#   r04 window: all production queries incl. the 9 never-recorded ones;
#       tail = region_rollup, rollup_revenue, distinct_event_types,
#              event_type_counts, value_percentiles, convalue (r02+r03)
#   r05 window: the six r03-tail queries rotate back IN; FIFTEEN
#       r03+r04 double-green queries rotate OUT to the tail — six
#       scalar/join ones (clean_ratings, url_kernels, scalar_misc,
#       fk_dereference, tag_theta_join, event_props_filter) plus nine
#       displaced by the new gate queries added this round
#       (token_counts→pdf_extract, merge_upsert→docx_extract,
#       running_avg→feed_ingest,
#       latest_event_per_user→recrawl_candidates,
#       event_histogram→decontaminate, sessionize→stratified_sample,
#       top_orders_per_customer→pii_redact,
#       share_threshold→redirect_resolve,
#       unmatched_companies→anchor_stats) — fifteen tail entries.
#       All fifteen must rotate back IN for r06; the nine new queries
#       get their first driver rows this round and can then take tail
#       turns.
_QUERIES: "dict[str, Callable[[SparkSession, str], DataFrame]]" = {
        # crawl engine + sources
        "politeness_schedule": q_politeness_schedule,
        "bloom_seen_dedup": q_bloom_seen_dedup,
        "robots_gate": q_robots_gate,
        "canonicalize_urls": q_canonicalize_urls,
        "crawl_round": q_crawl_round,
        "host_stats": q_host_stats,
        "link_rank": q_link_rank,
        "sitemap_ingest": q_sitemap_ingest,
        "feed_ingest": q_feed_ingest,
        "recrawl_candidates": q_recrawl_candidates,
        "warc_ingest": q_warc_ingest,
        # relational core
        "pricing_summary": q_pricing_summary,
        "matched_companies": q_matched_companies,
        # event analytics
        # rotated back into the window this round (last driver rows: r03)
        "region_rollup": q_region_rollup,
        "rollup_revenue": q_rollup_revenue,
        "distinct_event_types": q_distinct_event_types,
        "event_type_counts": q_event_type_counts,
        "value_percentiles": q_value_percentiles,
        "convalue": q_convalue,
        # sinks / extraction
        "extract_ladder": q_extract_ladder,
        "benefits_ladder": q_benefits_ladder,
        # geo categorization
        "geo_categorize": q_geo_categorize,
        # dedup + similarity
        "exact_dedup": q_exact_dedup,
        "decontaminate": q_decontaminate,
        "stratified_sample": q_stratified_sample,
        "pii_redact": q_pii_redact,
        "redirect_resolve": q_redirect_resolve,
        "anchor_stats": q_anchor_stats,
        "minhash_lsh_fast": q_minhash_lsh_fast,
        "near_dup_clusters_fast": q_near_dup_clusters_fast,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash_fast": q_simhash_fast,
        "cosine_topk": q_cosine_topk,
        "embedding_near_pairs": q_embedding_near_pairs,
        "ivf_topk": q_ivf_topk,
        "ivf_kmeans": q_ivf_kmeans,
        # text analysis
        "curation_pipeline": q_curation_pipeline,
        "lang_id": q_lang_id,
        "quality_features": q_quality_features,
        "pdf_extract": q_pdf_extract,
        "docx_extract": q_docx_extract,
        "fingerprint": q_fingerprint,
        "compression_ratio": q_compression_ratio,
        "passage_dedup": q_passage_dedup,
        "passage_clean_text": q_passage_clean_text,
        "embed_documents": q_embed_documents,
        # multimodal (rows-only)
        "image_features": q_image_features,
        "image_near_pairs": q_image_near_pairs,
        "video_frame_sample": q_video_frame_sample,
        "audio_features": q_audio_features,
        # --- slot 51+ (below the driver's 50-row window this round;
        # all green in r03 AND r04, rotating back in next round) ---
        "merge_upsert": q_merge_upsert,
        "running_avg": q_running_avg,
        "latest_event_per_user": q_latest_event_per_user,
        "event_histogram": q_event_histogram,
        "sessionize": q_sessionize,
        "top_orders_per_customer": q_top_orders_per_customer,
        "share_threshold": q_share_threshold,
        "unmatched_companies": q_unmatched_companies,
        "token_counts": q_token_counts,
        "event_props_filter": q_event_props_filter,
        "clean_ratings": q_clean_ratings,
        "url_kernels": q_url_kernels,
        "scalar_misc": q_scalar_misc,
        "fk_dereference": q_fk_dereference,
        "tag_theta_join": q_tag_theta_join,
    }


_CERT_QUERIES: "dict[str, Callable[[SparkSession, str], DataFrame]]" = {
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "near_dup_clusters": q_near_dup_clusters,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

_MOD = 1_000_000_007


def _dd_words(text: str = "text") -> str:
    return rf"string_split_regex(lower(trim({text})), '\s+')"


def _dd_poly(s: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, length({s})+1), "
        f"i -> ascii(substr({s}, i, 1))::BIGINT), "
        f"(acc, c) -> (acc * 131 + c) % {_MOD})"
    )


def _dd_shingles(ws: str, k: int = 3) -> str:
    join = " || ' ' || ".join(f"{ws}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({ws}) >= {k} THEN "
        f"list_transform(range(1, len({ws}) - {k - 2}), i -> {join}) "
        f"ELSE [] END"
    )


def _dd_perms(n: int = 32) -> str:
    return "[" + ", ".join(f"[{a}::BIGINT, {b}::BIGINT]" for a, b in MINHASH_PERMS[:n]) + "]"


def _dd_dot(a: str, b: str, dims: int = 64) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dims + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, v) -> acc + v)"
    )


_DD_NORM_KEY = (
    "lower(split_part(replace(trim(regexp_replace(regexp_replace({name}, "
    r"'[^a-zA-Z0-9 .]', '', 'g'), '\s+', ' ', 'g')), ' ', ''), '.', 1))"
)

_DD_INCOMING_NAME = (
    "CASE c_custkey % 4 WHEN 0 THEN c_name WHEN 1 THEN c_name || '.example' "
    "WHEN 2 THEN upper(c_name) || '!!!' ELSE c_name || ' Holdings' END"
)

_DD_CONVALUE_RAW = (
    "CASE c_custkey % 5 "
    "WHEN 0 THEN (c_custkey % 97) || 'k' "
    "WHEN 1 THEN (c_custkey % 97) || '.' || (c_custkey % 10) || 'm' "
    "WHEN 2 THEN ((c_custkey * 37) % 100000)::VARCHAR "
    "WHEN 3 THEN 'n/a' "
    "ELSE ((c_custkey % 9) + 1) || ',' || lpad(((c_custkey * 7) % 1000)::VARCHAR, 3, '0') END"
)

_DD_GEO_BASE = """
SELECT 'co' || (c_custkey % 40) AS url,
       CASE c_custkey % 5
         WHEN 0 THEN n_name
         WHEN 1 THEN 'Greater ' || n_name || ' Metropolitan Area'
         WHEN 2 THEN n_name || ', Region ' || (c_custkey % 3)
         WHEN 3 THEN n_name || ' Area'
         ELSE 'Nowhere ' || c_custkey END AS location,
       (c_custkey % 23) + 1 AS cnt,
       CASE WHEN c_custkey % 5 = 4 THEN NULL ELSE n_nationkey END AS mk
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


_ORACLE_ALL_CACHE: "dict[str, str] | None" = None


def _oracle_sql_cached() -> dict[str, str]:
    """Build the full oracle dict once per process — the golden twins
    inside it (sequential JPEG decodes, PageRank, union-find) are
    computed eagerly, so building it twice doubles certification cost.
    A PARTIAL build (golden block failed, e.g. fixture dir briefly
    unavailable) is returned but never cached, so a later call can
    recover the hash oracles."""
    global _ORACLE_ALL_CACHE
    if _ORACLE_ALL_CACHE is not None:
        return _ORACLE_ALL_CACHE
    full = _oracle_sql_all()
    if full.pop("__partial__", None) is None:
        _ORACLE_ALL_CACHE = full
    return full


def oracle_sql() -> dict[str, str]:
    full = _oracle_sql_cached()
    return {k: v for k, v in full.items() if k in _QUERIES}


def _oracle_sql_all() -> dict[str, str]:
    ws = _dd_words()
    sh = _dd_shingles("ws")
    stop_in = {
        lang: "(" + ", ".join(f"'{w}'" for w in words) + ")"
        for lang, words in STOPWORDS.items()
    }
    sql: dict[str, str] = {}

    sql["politeness_schedule"] = """
WITH f AS (
  SELECT o_orderkey AS ok, o_orderkey % 12 AS j,
         'h' || (o_orderkey % 12) || '.example' AS host,
         CASE WHEN o_orderkey % 10 = 0 THEN '/private/o/' || o_orderkey
              ELSE '/o/' || o_orderkey END AS path
  FROM orders WHERE o_orderkey % 17 <> 0),
elig AS (
  SELECT ok, j, host, 'https://' || host || path AS url FROM f
  WHERE NOT (j % 2 = 0 AND path LIKE '/private/%')),
ranked AS (
  SELECT url, host, j, row_number() OVER (PARTITION BY host ORDER BY ok) AS host_seq
  FROM elig)
SELECT url, host, host_seq::BIGINT AS host_seq,
       TIMESTAMP '2025-08-01 00:00:00' + INTERVAL (j) MINUTE
         + INTERVAL ((host_seq - 1) * (CASE WHEN j % 4 = 0 THEN 3000 ELSE 1000 + 250 * j END)) MILLISECOND
         AS scheduled_ts,
       (CASE WHEN j % 4 = 0 THEN 3000 ELSE 1000 + 250 * j END)::BIGINT AS delay_ms
FROM ranked WHERE host_seq <= 4
"""

    sql["bloom_seen_dedup"] = """
SELECT 'https://h' || (o_orderkey % 12) || '.example/o/' || o_orderkey AS url,
       'h' || (o_orderkey % 12) || '.example' AS host
FROM orders WHERE o_orderkey % 3 <> 0
"""

    sql["robots_gate"] = """
SELECT doc_id, 'rh' || (doc_id % 6) || '.example' AS host,
       CASE doc_id % 4 WHEN 0 THEN '/private/x/' || doc_id
                       WHEN 1 THEN '/tmp/y/' || doc_id
                       WHEN 2 THEN '/pub/' || doc_id
                       ELSE '/' END AS path,
       CASE WHEN (doc_id % 6) % 2 = 0
            THEN NOT (doc_id % 4 = 0 OR doc_id % 4 = 1)
            ELSE TRUE END AS allowed
FROM documents
"""

    sql["canonicalize_urls"] = """
SELECT doc_id,
       CASE doc_id % 5
         WHEN 0 THEN 'HTTPS://HOST' || (doc_id % 9) || '.EXAMPLE/p/' || doc_id
         WHEN 1 THEN 'https://host' || (doc_id % 9) || '.example/p/' || doc_id || '#sec'
         WHEN 2 THEN 'https://host' || (doc_id % 9) || '.example:443/p/' || doc_id
         WHEN 3 THEN 'https://host' || (doc_id % 9) || '.example/p/' || doc_id || '?b=2&a=1'
         ELSE 'https://host' || (doc_id % 9) || '.example/p/' || doc_id || '/' END AS raw_url,
       'https://host' || (doc_id % 9) || '.example/p/' || doc_id
         || CASE WHEN doc_id % 5 = 3 THEN '?a=1&b=2' ELSE '' END AS canon_url
FROM documents
"""

    sql["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DOUBLE AS sum_disc_price,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE / count(*) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    sql["region_rollup"] = """
SELECT r_name, count(*)::BIGINT AS n_customers,
       sum(c_acctbal::DECIMAL(18,2))::DOUBLE AS total_acctbal,
       sum(c_acctbal::DECIMAL(18,2))::DOUBLE / count(*) AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    sql["rollup_revenue"] = """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS revenue,
       count(*)::BIGINT AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

    sql["top_orders_per_customer"] = """
SELECT o_custkey, o_orderkey, o_totalprice, rank::BIGINT AS rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) WHERE rank <= 3
"""

    sql["share_threshold"] = """
SELECT l_orderkey, l_linenumber, l_quantity FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         sum(l_quantity) OVER (PARTITION BY l_orderkey) AS total
  FROM lineitem) WHERE l_quantity >= greatest(1.0, total * 0.05)
"""

    nk = _DD_NORM_KEY.format(name=_DD_INCOMING_NAME)
    crm_nk = _DD_NORM_KEY.format(name="c_name")
    sql["unmatched_companies"] = f"""
WITH inc AS (
  SELECT c_custkey, {_DD_INCOMING_NAME} AS raw_name, {nk} AS norm_key
  FROM customer WHERE c_custkey % 2 = 0),
crm AS (SELECT {crm_nk} AS norm_key FROM customer WHERE c_custkey % 3 = 0)
SELECT norm_key, c_custkey, raw_name FROM inc
WHERE norm_key NOT IN (SELECT norm_key FROM crm)
"""
    sql["matched_companies"] = f"""
WITH inc AS (
  SELECT c_custkey, {_DD_INCOMING_NAME} AS raw_name, {nk} AS norm_key
  FROM customer WHERE c_custkey % 2 = 0),
crm AS (SELECT {crm_nk} AS norm_key FROM customer WHERE c_custkey % 3 = 0)
SELECT norm_key, c_custkey, raw_name FROM inc
WHERE norm_key IN (SELECT norm_key FROM crm)
"""

    sql["latest_event_per_user"] = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM events) WHERE rn = 1
"""

    sql["event_type_counts"] = (
        "SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY event_type"
    )

    sql["running_avg"] = """
SELECT user_id, event_id,
       sum(value::DECIMAL(18,2)) OVER w::DOUBLE
         / row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS running_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

    sql["event_histogram"] = """
WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS n FROM events GROUP BY 1, 2)
SELECT user_id,
       string_agg(event_type || ' (' || n || ')', ', ' ORDER BY n DESC, event_type ASC) AS hist
FROM c GROUP BY user_id
"""

    sql["distinct_event_types"] = """
SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS types
FROM (SELECT DISTINCT user_id, event_type FROM events) GROUP BY user_id
"""

    sql["event_props_filter"] = """
SELECT event_id, event_type, json_extract_string(props, '$.k')::BIGINT AS props_k
FROM events
WHERE json_extract_string(props, '$.k')::BIGINT % 2 = 0 AND value > 100.0
"""

    sql["sessionize"] = """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS newf
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM o)
SELECT user_id, session_no::BIGINT AS session_no,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events,
       sum(value::DECIMAL(18,2))::DOUBLE AS total_value
FROM s GROUP BY user_id, session_no
"""

    sql["value_percentiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""

    sql["convalue"] = f"""
SELECT c_custkey, {_DD_CONVALUE_RAW} AS raw,
       (CASE c_custkey % 5
         WHEN 0 THEN (c_custkey % 97) * 1000
         WHEN 1 THEN trunc(try_cast((c_custkey % 97) || '.' || (c_custkey % 10) AS DOUBLE) * 1000000)::BIGINT
         WHEN 2 THEN (c_custkey * 37) % 100000
         WHEN 3 THEN 0
         ELSE ((c_custkey % 9) + 1) * 1000 + (c_custkey * 7) % 1000 END)::BIGINT AS value
FROM customer
"""

    sql["clean_ratings"] = """
SELECT event_id,
       CASE WHEN (value % 7) BETWEEN 0 AND 5 THEN value % 7 END AS rating
FROM events
"""

    sql["url_kernels"] = """
SELECT doc_id,
       'https://WWW.Site' || (doc_id % 20) || '.Example.com/co/EI_IE' || doc_id || '.htm?ref=' || source AS raw_url,
       'site' || (doc_id % 20) || '.example.com' AS domain,
       'https://www.site' || (doc_id % 20) || '.example.com' AS site_root,
       doc_id::VARCHAR AS gd_id,
       regexp_replace('https://WWW.Site' || (doc_id % 20) || '.Example.com/co/EI_IE' || doc_id || '.htm?ref=' || source,
                      '[^\\w\\-_.]', '_', 'g') AS fname
FROM documents
"""

    sql["fk_dereference"] = """
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000.0
"""

    sql["tag_theta_join"] = """
WITH locs AS (
  SELECT c_custkey, 'Greater ' || n_name || ' Area' AS loc_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
tags AS (
  SELECT n_name AS expected, 'tag' || n_nationkey AS tag
  FROM nation WHERE n_nationkey % 4 = 0)
SELECT c_custkey, loc_name, tag
FROM locs LEFT JOIN tags ON instr(lower(loc_name), lower(expected)) > 0
"""

    sql["scalar_misc"] = """
WITH base AS (
  SELECT event_id AS k, event_type FROM events
  WHERE event_id % 3 = 0 AND event_id % 7 <> 0),
d AS (
  SELECT event_type,
         (k % 977)::BIGINT AS n_reviews,
         ((k % 9) * 1000 + (k * 3) % 1000)::BIGINT AS n_followers,
         replace(replace(replace('site:example.com "' || event_type || '"',
                 ' ', '+'), ':', '%3A'), '"', '%22') AS q_enc,
         'rec' || (k % 50) AS rec_id,
         event_type AS tag,
         (CASE WHEN length(event_type) * 40 > 100 THEN 103
               ELSE length(event_type) * 40 END)::BIGINT AS trunc_len_row,
         event_type || ' (' || (k % 7) || ')' AS quirk_s
  FROM base)
SELECT event_type, count(*)::BIGINT AS n,
       max(n_reviews) AS max_reviews,
       max(n_followers) AS max_followers,
       max(q_enc) AS q_enc,
       max(rec_id) AS max_rec,
       max(tag) AS tag,
       max(trunc_len_row) AS trunc_len,
       string_agg(quirk_s, ', ' ORDER BY quirk_s DESC) AS quirk_sorted
FROM d GROUP BY event_type
"""

    sql["merge_upsert"] = """
WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 = 0),
u AS (SELECT c_custkey, c_name || ' (upd)' AS c_name, c_acctbal + 1000.0 AS c_acctbal
      FROM customer WHERE c_custkey % 2 = 0)
SELECT * FROM u
UNION ALL
SELECT * FROM t WHERE c_custkey NOT IN (SELECT c_custkey FROM u)
"""

    sql["extract_ladder"] = """
SELECT doc_id,
       'Co ' || doc_id AS title,
       CASE doc_id % 5
         WHEN 0 THEN CASE WHEN (doc_id % 60) // 10 + (doc_id % 10) / 10.0 <= 5.0
                          THEN (doc_id % 60) // 10 + (doc_id % 10) / 10.0 END
         WHEN 1 THEN 3.8
         WHEN 2 THEN 2.5
         ELSE NULL END AS rating,
       (doc_id % 3000 + 1)::BIGINT AS review_count,
       doc_id % 4 = 0 AS engaged
FROM documents
"""

    sql["benefits_ladder"] = """
WITH b AS (
  SELECT doc_id, doc_id % 7 AS m,
    (doc_id % 4 + 1)::VARCHAR || '.' || (doc_id % 10)::VARCHAR AS r_b,
    (doc_id % 5)::VARCHAR || '.' || (doc_id % 3)::VARCHAR AS r_h,
    (doc_id % 3 + 1)::VARCHAR || '.' || (doc_id % 7)::VARCHAR AS r_r,
    (doc_id % 500 + 1)::BIGINT AS c_b,
    (doc_id % 97 + 1)::BIGINT AS c_h,
    (doc_id % 89 + 1)::BIGINT AS c_r,
    (doc_id % 5) * 10 + (doc_id % 3) AS h_num
  FROM documents)
SELECT doc_id,
  CASE m WHEN 0 THEN r_b WHEN 1 THEN r_h WHEN 2 THEN r_h WHEN 3 THEN r_b
         WHEN 4 THEN r_b WHEN 5 THEN '0.0' END AS benefits_rating,
  CASE m WHEN 0 THEN r_h WHEN 1 THEN r_h WHEN 2 THEN r_h WHEN 3 THEN r_h END AS health_rating,
  CASE m WHEN 0 THEN r_r WHEN 2 THEN r_r WHEN 3 THEN r_r END AS retirement_rating,
  CASE m WHEN 0 THEN c_b
         WHEN 1 THEN CASE WHEN h_num > 0 THEN c_h ELSE 0 END
         WHEN 2 THEN CASE WHEN h_num > 0 THEN c_h ELSE 0 END
         WHEN 4 THEN c_b ELSE 0 END AS benefits_review_count,
  CASE m WHEN 0 THEN c_h WHEN 1 THEN c_h WHEN 2 THEN c_h ELSE 0 END AS health_review_count,
  CASE m WHEN 0 THEN c_r WHEN 2 THEN c_r ELSE 0 END AS retirement_review_count
FROM b
"""

    sql["geo_categorize"] = f"""
WITH base AS ({_DD_GEO_BASE}),
facts AS (
  SELECT url, location, sum(cnt)::BIGINT AS cnt, min(mk) AS mk
  FROM base GROUP BY url, location),
kept AS (
  SELECT * FROM (
    SELECT f.*, sum(cnt) OVER (PARTITION BY url) AS total FROM facts f)
  WHERE cnt >= greatest(1.0, total * 0.05)),
m AS (
  SELECT url, location, cnt, mk,
         CASE WHEN mk IS NULL THEN NULL ELSE 'rec' || lpad(mk::VARCHAR, 2, '0') END AS rec,
         CASE WHEN mk IS NULL THEN NULL
              WHEN mk = 24 THEN 'country, us_city'
              WHEN mk % 5 = 4 THEN 'us_city'
              ELSE 'country' END AS ltype,
         CASE WHEN mk IS NOT NULL AND mk < 5 THEN TRUE END AS is_hq
  FROM kept)
SELECT url,
       coalesce(sum(cnt) FILTER (WHERE is_hq), 0)::BIGINT AS hq_ee_count,
       coalesce(sum(cnt) FILTER (WHERE ltype LIKE '%us_city%' OR lower(location) = 'united states'), 0)::BIGINT AS us_ee_count,
       coalesce(string_agg(location || ' (' || cnt || ')', ', '
                ORDER BY cnt DESC, location ASC)
                FILTER (WHERE ltype LIKE '%us_city%' AND NOT coalesce(is_hq, FALSE)), '') AS other_us_cities,
       coalesce(string_agg(location || ' (' || cnt || ')', ', '
                ORDER BY cnt DESC, location ASC)
                FILTER (WHERE ltype LIKE '%country%' AND ltype NOT LIKE '%us_city%'
                        AND lower(location) <> 'united states'), '') AS other_countries,
       coalesce(string_agg(DISTINCT rec, ',' ORDER BY rec), '') AS matched_record_ids,
       sum(cnt)::BIGINT AS total_ee_count
FROM m GROUP BY url
"""

    sql["exact_dedup"] = """
SELECT min(doc_id)::BIGINT AS canonical_id, count(*)::BIGINT AS n_copies,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS member_ids
FROM documents GROUP BY text
"""

    sql["minhash_lsh_pairs"] = f"""
WITH w AS (SELECT doc_id, {ws} AS ws FROM documents),
sg AS (SELECT doc_id, {sh} AS sg FROM w),
hs AS (SELECT doc_id, list_transform(sg, s -> {_dd_poly('s')}) AS hv FROM sg),
sig AS (SELECT doc_id, list_transform({_dd_perms()}, p ->
          list_min(list_transform(hv, h -> (p[1] * h + p[2]) % {_MOD}))) AS sig FROM hs),
banded AS (
  SELECT doc_id, t.b AS band,
         list_reduce(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4),
                     (acc, v) -> (acc * 131 + v) % {_MOD}) AS key
  FROM sig, range(0, 8) t(b))
SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
"""

    sql["near_dup_clusters"] = f"""
WITH RECURSIVE w AS (SELECT doc_id, {ws} AS ws FROM documents),
sg AS (SELECT doc_id, {sh} AS sg FROM w),
hs AS (SELECT doc_id, list_transform(sg, s -> {_dd_poly('s')}) AS hv FROM sg),
sig AS (SELECT doc_id, list_transform({_dd_perms()}, p ->
          list_min(list_transform(hv, h -> (p[1] * h + p[2]) % {_MOD}))) AS sig FROM hs),
banded AS (
  SELECT doc_id, t.b AS band,
         list_reduce(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4),
                     (acc, v) -> (acc * 131 + v) % {_MOD}) AS key
  FROM sig, range(0, 8) t(b)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
SELECT src AS node, min(dst) AS cluster_id FROM reach GROUP BY src
"""

    sql["ngram_jaccard"] = f"""
WITH w AS (SELECT doc_id, {ws} AS ws FROM documents),
sg AS (SELECT doc_id, {sh} AS sg FROM w),
hs AS (SELECT doc_id, list_transform(sg, s -> {_dd_poly('s')}) AS hv FROM sg),
dhs AS (SELECT doc_id, list_distinct(hv) AS dv FROM hs),
sig AS (SELECT doc_id, list_transform({_dd_perms()}, p ->
          list_min(list_transform(hv, h -> (p[1] * h + p[2]) % {_MOD}))) AS sig FROM hs),
banded AS (
  SELECT doc_id, t.b AS band,
         list_reduce(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4),
                     (acc, v) -> (acc * 131 + v) % {_MOD}) AS key
  FROM sig, range(0, 8) t(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id),
scored AS (
  SELECT cand.id_a, cand.id_b,
         len(list_intersect(x.dv, y.dv)) AS n_inter,
         len(x.dv) AS n_a, len(y.dv) AS n_b
  FROM cand JOIN dhs x ON cand.id_a = x.doc_id JOIN dhs y ON cand.id_b = y.doc_id)
SELECT id_a, id_b, n_inter / (n_a + n_b - n_inter) AS jaccard
FROM scored WHERE n_inter >= 1 AND n_inter / (n_a + n_b - n_inter) >= 0.1
"""

    sql["simhash_pairs"] = f"""
WITH w AS (SELECT doc_id, {ws} AS ws FROM documents),
wh AS (SELECT doc_id, list_transform(ws, s -> {_dd_poly('s')}) AS hv FROM w),
sh AS (SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, list_reverse(
    list_transform(range(0, 30), b ->
      list_reduce(list_prepend(0::BIGINT, hv),
        (acc, h) -> acc + CASE WHEN (h // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END)))),
    (acc, v) -> acc * 2 + CASE WHEN v > 0 THEN 1 ELSE 0 END) AS simhash
  FROM wh),
banded AS (
  SELECT doc_id, simhash, t.b AS band,
         (simhash // (1::BIGINT << (t.b * 10))) % (1::BIGINT << 10) AS key
  FROM sh, range(0, 3) t(b)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         bit_count(xor(a.simhash, c.simhash))::BIGINT AS hamming
  FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""

    dot_eq = _dd_dot("e.embedding", "q.qv")
    n_e = _dd_dot("e.embedding", "e.embedding")
    n_q = _dd_dot("q.qv", "q.qv")
    sql["cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({dot_eq} / (sqrt({n_e}) * sqrt({n_q})), 6) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
SELECT query_id, vec_id, cosine, rank::BIGINT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= 10
"""

    # random-hyperplane sign bits — mirrors sign_lsh_buckets exactly:
    # integer coefficients make the products exact and the left-fold sum
    # order identical, so the bucket keys match bit-for-bit
    from webscraper_spark.operators.similarity import SIGN_LSH_PLANES

    def _dd_plane_bit(p):
        lst = "[" + ", ".join(f"{c}::DOUBLE" for c in p) + "]"
        dot = (
            f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), "
            f"i -> embedding[i]::DOUBLE * ({lst})[i])), (acc, v) -> acc + v)"
        )
        return f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END"

    bucket = " || ".join(_dd_plane_bit(p) for p in SIGN_LSH_PLANES)
    dot_ab = _dd_dot("a.embedding", "c.embedding")
    n_a = _dd_dot("a.embedding", "a.embedding")
    n_c = _dd_dot("c.embedding", "c.embedding")
    sql["embedding_near_pairs"] = f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         round({dot_ab} / (sqrt({n_a}) * sqrt({n_c})), 6) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
WHERE cosine >= 0.3
"""

    def _cos(a: str, b: str) -> str:
        return f"round({_dd_dot(a, b)} / (sqrt({_dd_dot(a, a)}) * sqrt({_dd_dot(b, b)})), 6)"

    sql["ivf_topk"] = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.centroid_id ASC) AS rn
    FROM embeddings e, cent c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 125 = 0),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos('q.qv', 'c.cvec')} DESC, c.centroid_id ASC) AS rn
    FROM q, cent c) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id, {_cos('a.embedding', 'p.qv')} AS cosine
  FROM probes p JOIN assigned a USING (centroid_id)
  WHERE a.vec_id <> p.query_id)
SELECT query_id, vec_id, cosine, rank::BIGINT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= 10
"""

    hits = {
        lang: f"len(list_filter({ws}, w -> w IN {stop_in[lang]}))" for lang in STOPWORDS
    }
    # argmax over all STOPWORDS languages; tie-break = dict order, same as
    # the Spark lang_id operator
    _langs = list(STOPWORDS)
    _hit_cols = ",\n         ".join(f"{hits[l]} AS h_{l}" for l in _langs)
    _best = "greatest(" + ", ".join(f"h_{l}" for l in _langs) + ")"
    _case = (
        f"CASE WHEN {_best} IS NULL OR {_best} <= 0 THEN 'und'\n"
        + "\n".join(f"            WHEN h_{l} = {_best} THEN '{l}'" for l in _langs[:-1])
        + f"\n            ELSE '{_langs[-1]}' END"
    )
    sql["lang_id"] = f"""
WITH h AS (
  SELECT doc_id, lang, {_hit_cols}
  FROM documents)
SELECT doc_id, lang, {_case} AS lang_pred
FROM h
"""

    sql["quality_features"] = f"""
WITH f AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         (CASE WHEN trim(text) = '' THEN 0 ELSE len({ws}) END)::BIGINT AS n_tokens,
         {hits['en']} AS he,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         len(list_distinct({ws})) AS n_distinct,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)), l ->
             trim(l) LIKE '-%' OR trim(l) LIKE '*%' OR trim(l) LIKE '•%')) AS n_bullet,
         len(list_filter(string_split(text, chr(10)), l ->
             trim(l) LIKE '%...' OR trim(l) LIKE '%…')) AS n_ellipsis,
         len(list_filter({ws}, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
         list_max(list_transform({ws}, w -> length(w))) AS maxw,
         (length(text) - length(replace(text, '#', '')))
           + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_symbols
  FROM documents),
r AS (
  SELECT doc_id, n_chars, n_tokens,
         round(CASE WHEN n_tokens > 0 THEN n_chars::DOUBLE / n_tokens END, 4) AS mean_word_len,
         round(CASE WHEN n_tokens > 0 THEN he::DOUBLE / n_tokens END, 4) AS stopword_ratio,
         round(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars END, 4) AS punct_ratio,
         round(CASE WHEN n_tokens > 0 THEN n_distinct::DOUBLE / n_tokens END, 4) AS distinct_word_ratio,
         round(n_bullet::DOUBLE / n_lines, 4) AS bullet_line_ratio,
         round(n_ellipsis::DOUBLE / n_lines, 4) AS ellipsis_line_ratio,
         round(CASE WHEN n_tokens > 0 THEN n_alpha::DOUBLE / n_tokens END, 4) AS alpha_word_ratio,
         (CASE WHEN n_tokens > 0 THEN maxw END)::BIGINT AS max_word_len,
         round(CASE WHEN n_tokens > 0 THEN n_symbols::DOUBLE / n_tokens END, 4) AS symbol_word_ratio
  FROM f)
SELECT *, round((
    (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END) +
    (CASE WHEN mean_word_len BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END) +
    (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.0 END) +
    (CASE WHEN distinct_word_ratio >= 0.2 THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS quality_score
FROM r
"""

    # hashed char-trigram embedding — shared CTE chain (gram index var is
    # `j`: _dd_poly's inner lambda binds `i` and would shadow it)
    _dd_embed_ctes = f"""
et AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
eg AS (SELECT doc_id, unnest(CASE WHEN length(t) >= 3 THEN
         list_transform(range(1, length(t) - 1), j -> {_dd_poly('substr(t, j, 3)')})
         ELSE [] END) AS h FROM et),
es AS (SELECT doc_id, h % 64 AS dim,
         sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS rv
       FROM eg GROUP BY 1, 2),
ed AS (SELECT doc_id, unnest(range(0, 64)) AS dim FROM et),
ev AS (SELECT ed.doc_id, ed.dim, coalesce(es.rv, 0)::BIGINT AS rv
       FROM ed LEFT JOIN es ON es.doc_id = ed.doc_id AND es.dim = ed.dim),
en AS (SELECT doc_id, sqrt(sum((rv * rv)::DOUBLE)) AS nrm FROM ev GROUP BY 1)
"""

    _dd_cos = (
        f"round({_dd_dot('m.e', 'c.e')} / "
        f"(sqrt({_dd_dot('m.e', 'm.e')}) * sqrt({_dd_dot('c.e', 'c.e')})), 6)"
    )
    sql["curation_pipeline"] = f"""
WITH canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
kept AS (SELECT d.doc_id, d.text FROM documents d JOIN canon USING (doc_id)),
h AS (
  SELECT doc_id, text,
         {_hit_cols},
         {hits['en']} AS he,
         length(text)::BIGINT AS n_chars,
         (CASE WHEN trim(text) = '' THEN 0 ELSE len({ws}) END)::BIGINT AS n_tokens,
         len(list_distinct({ws})) AS n_distinct
  FROM kept),
r AS (
  SELECT doc_id,
         {_case} AS lang_pred,
         n_tokens,
         round(CASE WHEN n_tokens > 0 THEN n_chars::DOUBLE / n_tokens END, 4) AS mean_word_len,
         round(CASE WHEN n_tokens > 0 THEN he::DOUBLE / n_tokens END, 4) AS stopword_ratio,
         round(CASE WHEN n_tokens > 0 THEN n_distinct::DOUBLE / n_tokens END, 4) AS distinct_word_ratio
  FROM h),
q AS (
  SELECT doc_id, lang_pred, n_tokens, round((
      (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END) +
      (CASE WHEN mean_word_len BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END) +
      (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.0 END) +
      (CASE WHEN distinct_word_ratio >= 0.2 THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS quality_score
  FROM r
  WHERE lang_pred = 'en'),
gated AS (
  SELECT doc_id, lang_pred, quality_score, n_tokens FROM q
  WHERE quality_score >= 0.75),
{_dd_embed_ctes},
emb AS (
  SELECT ev.doc_id,
         list(CASE WHEN nrm = 0 THEN 0.0 ELSE round(rv / nrm, 6) END ORDER BY ev.dim) AS e
  FROM ev JOIN en USING (doc_id) GROUP BY ev.doc_id),
cents AS (SELECT doc_id AS centroid_id, e FROM emb WHERE doc_id % 100 = 0),
scored AS (
  SELECT g.doc_id, g.lang_pred, g.quality_score, g.n_tokens, c.centroid_id,
         {_dd_cos} AS cc
  FROM gated g JOIN emb m ON m.doc_id = g.doc_id CROSS JOIN cents c),
best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cc DESC, centroid_id) AS rn
  FROM scored)
SELECT doc_id, lang_pred, quality_score, n_tokens, centroid_id
FROM best WHERE rn = 1
"""

    sql["token_counts"] = rf"""
SELECT doc_id,
       (CASE WHEN trim(text) = '' THEN 0 ELSE len({ws}) END)::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe_tokens
FROM documents
"""

    sql["fingerprint"] = f"""
SELECT doc_id,
       list_reduce(list_transform({ws}, s -> {_dd_poly('s')}),
                   (acc, h) -> (acc * 131 + h) % {_MOD}) AS fp
FROM documents
"""

    sql["passage_dedup"] = f"""
WITH w AS (SELECT doc_id, {ws} AS wl FROM documents),
p AS (SELECT doc_id, unnest(range(0, len(wl) // 8)) AS passage_idx, wl FROM w),
h AS (SELECT doc_id, passage_idx,
        {_dd_poly("array_to_string(list_slice(wl, passage_idx * 8 + 1, passage_idx * 8 + 8), ' ')")} AS passage_hash
      FROM p),
c AS (SELECT passage_hash, count(DISTINCT doc_id) AS n_docs FROM h GROUP BY 1)
SELECT h.doc_id, h.passage_idx::BIGINT AS passage_idx, h.passage_hash,
       c.n_docs, c.n_docs < 2 AS keep
FROM h JOIN c USING (passage_hash)
"""

    sql["passage_clean_text"] = f"""
WITH w AS (SELECT doc_id, {ws} AS wl FROM documents),
t AS (SELECT doc_id, wl,
        -- array_to_string([]) is NULL in DuckDB, '' in the engine
        coalesce(array_to_string(list_slice(wl, (len(wl) // 8) * 8 + 1, len(wl)), ' '), '') AS trail
      FROM w),
p AS (SELECT doc_id, trail, unnest(range(0, len(wl) // 8)) AS passage_idx, wl FROM t),
h AS (SELECT doc_id, trail, passage_idx,
        array_to_string(list_slice(wl, passage_idx * 8 + 1, passage_idx * 8 + 8), ' ') AS passage
      FROM p),
hh AS (SELECT doc_id, trail, passage_idx, passage, {_dd_poly('passage')} AS passage_hash FROM h),
c AS (SELECT passage_hash, count(DISTINCT doc_id) AS n_docs FROM hh GROUP BY 1),
g AS (
  SELECT hh.doc_id,
         coalesce(string_agg(hh.passage, ' ' ORDER BY hh.passage_idx)
                    FILTER (WHERE c.n_docs < 2), '') AS kept_text,
         any_value(hh.trail) AS trail,
         count(*) FILTER (WHERE c.n_docs < 2)::BIGINT AS n_kept_passages,
         count(*)::BIGINT AS n_passages
  FROM hh JOIN c USING (passage_hash)
  GROUP BY hh.doc_id)
SELECT doc_id,
       CASE WHEN trail = '' THEN kept_text
            WHEN kept_text = '' THEN trail
            ELSE kept_text || ' ' || trail END AS clean_text,
       n_kept_passages, n_passages
FROM g
"""

    sql["embed_documents"] = f"""
WITH {_dd_embed_ctes}
SELECT ev.doc_id, ev.dim::BIGINT AS dim,
       CASE WHEN nrm = 0 THEN 0.0 ELSE round(rv / nrm, 6) END AS val
FROM ev JOIN en USING (doc_id)
"""

    sql["host_stats"] = f"""
WITH d AS (SELECT doc_id, text, lang,
             'h' || (doc_id % 8) || '.example' AS host FROM documents),
h AS (
  SELECT host, lang,
         list_reduce(list_transform({ws}, s -> {_dd_poly('s')}),
                     (acc, hh) -> (acc * 131 + hh) % {_MOD}) AS fp,
         {hits['en']} AS he,
         length(text)::BIGINT AS n_chars,
         (CASE WHEN trim(text) = '' THEN 0 ELSE len({ws}) END)::BIGINT AS n_tokens,
         len(list_distinct({ws})) AS n_distinct
  FROM d),
r AS (
  SELECT host, lang, fp, n_tokens,
         round(CASE WHEN n_tokens > 0 THEN n_chars::DOUBLE / n_tokens END, 4) AS mean_word_len,
         round(CASE WHEN n_tokens > 0 THEN he::DOUBLE / n_tokens END, 4) AS stopword_ratio,
         round(CASE WHEN n_tokens > 0 THEN n_distinct::DOUBLE / n_tokens END, 4) AS distinct_word_ratio
  FROM h),
q AS (
  SELECT host, lang, fp, round((
      (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END) +
      (CASE WHEN mean_word_len BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END) +
      (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.0 END) +
      (CASE WHEN distinct_word_ratio >= 0.2 THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS quality_score
  FROM r)
SELECT host, count(*)::BIGINT AS n_docs,
       round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 4) AS dup_rate,
       round(avg(quality_score), 4) AS mean_quality,
       round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4) AS en_ratio
FROM q GROUP BY host
"""

    sql["sitemap_ingest"] = """
SELECT 'https://s' || (doc_id % 9) || '.example/p/' || doc_id || '?a=1&b=2' AS url,
       's' || (doc_id % 9) || '.example' AS host,
       (CASE WHEN doc_id % 3 = 0
             THEN round((1.0 - (doc_id % 10) / 10.0) * 4)
             ELSE 2 END)::BIGINT AS priority,
       TIMESTAMP '2025-07-01 00:00:00' + (doc_id % 27) * INTERVAL 1 DAY AS lastmod_ts
FROM documents WHERE doc_id % 11 <> 10
"""

    sql["anchor_stats"] = """
WITH links AS (
  SELECT 'https://src' || doc_id || '.example/' AS src,
         'https://t' || (doc_id % 40) || '.example/p' AS dst,
         'anchor ' || (doc_id % 5) || ' & text' AS anchor
  FROM documents
  UNION ALL
  SELECT 'https://src' || doc_id || '.example/',
         'https://t' || ((doc_id * 7) % 40) || '.example/p',
         'other ' || (doc_id % 3)
  FROM documents
), per AS (
  SELECT dst, anchor, count(*) AS n FROM links GROUP BY dst, anchor
), ranked AS (
  SELECT dst, anchor,
         row_number() OVER (PARTITION BY dst ORDER BY n DESC, anchor ASC)
           AS rn
  FROM per
), tops AS (
  SELECT dst, string_agg(anchor, '|' ORDER BY rn) AS top_anchors
  FROM ranked WHERE rn <= 3 GROUP BY dst
), tot AS (
  SELECT dst, count(*) AS n_inlinks, count(DISTINCT src) AS n_src_pages
  FROM links GROUP BY dst
)
SELECT t.dst AS dst_url,
       t.n_inlinks::BIGINT AS n_inlinks,
       t.n_src_pages::BIGINT AS n_src_pages,
       tp.top_anchors
FROM tot t LEFT JOIN tops tp ON t.dst = tp.dst
"""

    sql["redirect_resolve"] = """
WITH RECURSIVE mx AS (
  SELECT max(doc_id) AS m FROM documents
), edges AS (
  SELECT doc_id AS src, doc_id - 1 AS dst FROM documents WHERE doc_id % 16 <> 0
  UNION ALL SELECT m + 1, m + 2 FROM mx
  UNION ALL SELECT m + 2, m + 3 FROM mx
  UNION ALL SELECT m + 3, m + 1 FROM mx
), walk(src, cur, hops) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN edges e ON w.cur = e.src
  WHERE w.hops < 64
), last AS (
  SELECT src, cur, hops,
         row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
  FROM walk
)
SELECT src,
       cur AS final_dst,
       hops::BIGINT AS n_hops,
       (CASE WHEN cur IN (SELECT src FROM edges) THEN 0 ELSE 1 END)::BIGINT
         AS terminated
FROM last WHERE rn = 1
"""

    sql["decontaminate"] = r"""
WITH toks AS (
  -- mirror the engine's words_sql: split(lower(trim(text)), '\s+').
  -- Java's \s includes vertical tab; RE2's does not, so the class is
  -- written out explicitly
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '[ \t\n\x0b\f\r]+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 11, 1))) AS i
        FROM toks)
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 3
), hits AS (
  SELECT d.doc_id, count(DISTINCT d.g) AS n_hits
  FROM grams d JOIN bench b ON d.g = b.g GROUP BY d.doc_id
)
SELECT t.doc_id,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (CASE WHEN h.n_hits IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS contaminated
FROM toks t LEFT JOIN hits h USING (doc_id)
"""

    sql["recrawl_candidates"] = """
WITH corpus AS (
  SELECT doc_id,
         'https://r' || (doc_id % 6) || '.example/page/' || doc_id AS url,
         TIMESTAMP '2025-07-01 00:00:00' + (doc_id % 20) * INTERVAL 1 DAY AS fetch_ts
  FROM documents
), sig AS (
  SELECT 'https://r' || (doc_id % 6) || '.example/page/' || doc_id AS url,
         TIMESTAMP '2025-07-01 00:00:00' + (doc_id % 27) * INTERVAL 1 DAY AS signal_ts
  FROM documents WHERE doc_id % 3 <> 2
  UNION ALL
  SELECT 'https://r' || (doc_id % 6) || '.example/page/' || doc_id,
         TIMESTAMP '2025-07-01 00:00:00' + (doc_id % 5) * INTERVAL 1 DAY
  FROM documents WHERE doc_id % 6 = 0
), latest AS (
  SELECT url, max(signal_ts) AS signal_ts FROM sig GROUP BY url
), j AS (
  SELECT c.url, c.doc_id, c.fetch_ts, l.signal_ts,
         (l.signal_ts IS NOT NULL AND l.signal_ts > c.fetch_ts) AS fresh,
         date_diff('second', c.fetch_ts, TIMESTAMP '2025-08-15 00:00:00') / 86400.0 AS age_days,
         date_diff('second', c.fetch_ts, l.signal_ts) / 86400.0 AS gap_days
  FROM corpus c LEFT JOIN latest l USING (url)
)
SELECT url,
       'r' || (doc_id % 6) || '.example' AS host,
       fetch_ts, signal_ts,
       CASE WHEN fresh THEN 'fresh_signal' ELSE 'stale_age' END AS reason,
       round(CASE WHEN fresh THEN gap_days ELSE age_days - 30.0 END, 4) AS staleness_days,
       (CASE WHEN NOT fresh THEN 4
             WHEN gap_days >= 8 THEN 0
             WHEN gap_days >= 4 THEN 1
             WHEN gap_days >= 2 THEN 2
             ELSE 3 END)::BIGINT AS priority
FROM j
WHERE fresh OR (signal_ts IS NULL AND age_days > 30.0)
"""

    sql["feed_ingest"] = """
SELECT 'https://f' || (doc_id % 4) || '.example/post/' || doc_id AS url,
       'f' || (doc_id % 4) || '.example' AS host,
       'Post ' || doc_id || ' & more' AS title,
       TIMESTAMP '2025-07-01 00:00:00' + (doc_id % 27) * INTERVAL 1 DAY AS published_ts
FROM documents WHERE doc_id % 7 <> 6
"""

    sql["warc_ingest"] = """
SELECT 'https://w' || (doc_id % 7) || '.example/warc/' || doc_id AS url,
       TIMESTAMP '2025-07-25 00:00:00' + (doc_id % 86400) * INTERVAL 1 SECOND AS warc_ts,
       'W ' || doc_id || ' doc ' || doc_id AS text
FROM documents WHERE doc_id % 5 <> 4
"""

    # ---- golden VALUES oracles for the non-SQL-expressible queries -------
    # Computed by independent pure-Python twins (tools/golden.py: spec-level
    # reimplementations — xxHash64 from the published spec, blake2b via
    # hashlib, sequential scheduling/banding loops) and embedded as VALUES
    # literals. The driver's correctness gate runs oracles at sf0.01 (the
    # same fixed dir the goldens read), so every former rows-only query is
    # now hash-checked against a second implementation.
    try:
        import os as _os
        import sys as _sys

        _sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))
        from tools import golden as _g

        _gold_sf = "/root/testdata/sf0.01"
        sql["crawl_round"] = _g.values_sql(
            _g.golden_crawl_round(_gold_sf),
            ["url", "host", "host_seq", "scheduled_ts", "title",
             "n_outlinks", "new_urls_total"],
        )
        sql["minhash_lsh_fast"] = _g.values_sql(
            _g.golden_minhash_fast_pairs(_gold_sf), ["id_a", "id_b"]
        )
        sql["simhash_fast"] = _g.values_sql(
            _g.golden_simhash_fast_pairs(_gold_sf), ["id_a", "id_b", "hamming"]
        )
        sql["image_features"] = _g.values_sql(
            _g.golden_image_features(40, n_jpeg=8),
            ["media_id", "width", "height", "mean_luma", "phash", "decode_error"],
            casts={"decode_error": "VARCHAR"},
        )
        sql["image_near_pairs"] = _g.values_sql(
            _g.golden_image_near_pairs(40), ["id_a", "id_b", "hamming"]
        )
        sql["video_frame_sample"] = _g.values_sql(
            _g.golden_video_frames(12, n_gif=2),
            ["media_id", "frame_idx", "n_frames", "mean_luma", "time_sec",
             "byte_offset", "decode_error"],
            casts={"time_sec": "DOUBLE", "byte_offset": "BIGINT"},
        )
        sql["audio_features"] = _g.values_sql(
            _g.golden_audio_features(30, n_wav=3),
            ["media_id", "n_samples", "sample_rate", "duration_sec", "rms",
             "zero_crossings", "decode_error"],
        )
        sql["pdf_extract"] = _g.values_sql(
            _g.golden_pdf_extract(),
            ["doc_id", "n_pages", "text", "has_type0_fonts", "pdf_error"],
            casts={"pdf_error": "VARCHAR"},
        )
        sql["docx_extract"] = _g.values_sql(
            _g.golden_docx_extract(),
            ["doc_id", "n_paragraphs", "text", "has_fields", "docx_error"],
            casts={"docx_error": "VARCHAR"},
        )
        sql["pii_redact"] = _g.values_sql(
            _g.golden_pii_redact(_gold_sf),
            ["doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone",
             "text_redacted"],
        )
        sql["stratified_sample"] = _g.values_sql(
            _g.golden_stratified_sample(_gold_sf),
            ["doc_id", "lang", "sample_rank"],
        )
        sql["ivf_kmeans"] = _g.values_sql(
            _g.golden_ivf_kmeans(_gold_sf), ["centroid_id", "dim", "value"]
        )
        sql["link_rank"] = _g.values_sql(
            _g.golden_link_rank(_gold_sf, n_iters=3), ["node", "rank"]
        )
        sql["near_dup_clusters_fast"] = _g.values_sql(
            _g.golden_near_dup_clusters_fast(_gold_sf), ["node", "cluster_id"]
        )
        sql["compression_ratio"] = _g.values_sql(
            _g.golden_compression_ratio(_gold_sf),
            ["doc_id", "compression_ratio"],
            casts={"compression_ratio": "DOUBLE"},
        )
    except Exception:
        # goldens are additive: if the fixed sf0.01 dir is unavailable the
        # golden-backed queries simply fall back to the rows-only check.
        # Mark the build partial so the cache does NOT freeze this
        # degraded dict for the whole process (a transient first-call
        # failure would otherwise silently downgrade 11 hash oracles).
        sql["__partial__"] = "1"

    return sql

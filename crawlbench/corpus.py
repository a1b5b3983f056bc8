"""Seeded crawl inputs for the benchmark workloads.

Every column is a Spark expression over ``spark.range`` ids, and every
hash mixes in the workload seed, so one seed always yields the same
pages, seeds and hosts tables and two seeds yield different ones of the
same shape. Nothing is collected to the driver.

Shape (both workloads):

- ``n_hosts`` hosts; a hot head of 20 hosts holds ``HEAD_PCT`` % of URLs.
- ``PRIVATE_PCT`` % of paths live under ``/private/``; every third host's
  robots.txt disallows that prefix, so about 4 % of URLs are gated.
- Every page links to ``outlinks`` other pages of the corpus (a closed
  link graph: every admitted URL is fetchable in a later round).
- ``seed_pct`` % of URLs are seeds; the rest are only reachable through
  links, so rounds admit new URLs. A few extra seeds have no page at all
  and exercise the miss/retry path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

HEAD_HOSTS = 20
HEAD_PCT = 20
PRIVATE_PCT = 12
GATED_HOST_EVERY = 3
MISS_PER_MILLE = 5
CAPTURE_TS = "2025-07-24 00:00:00"
HOST_CLOCK_TS = "2025-07-25 00:00:00"


@dataclass(frozen=True)
class Shape:
    n_urls: int
    n_hosts: int
    seed_pct: int
    outlinks: int
    filler_words: int
    per_host_budget: int


@dataclass
class Corpus:
    pages: DataFrame
    seeds: DataFrame
    hosts: DataFrame
    shape: Shape
    seed: int

    def link_targets(self, ids: Column) -> Column:
        """Array of the canonical URLs page ``ids`` links to."""
        return F.array(*[
            _url(_target(ids, k, self.seed, self.shape), self.seed, self.shape)
            for k in range(self.shape.outlinks)
        ])


def _uhash(col: Column, seed: int, salt: int, mod: int) -> Column:
    return F.pmod(F.xxhash64(col, F.lit(seed), F.lit(salt)), F.lit(mod))


def _host_idx(i: Column, seed: int, shape: Shape) -> Column:
    return F.when(
        _uhash(i, seed, 1, 100) < HEAD_PCT, _uhash(i, seed, 2, HEAD_HOSTS)
    ).otherwise(_uhash(i, seed, 3, shape.n_hosts))


def _host_name(idx: Column) -> Column:
    return F.concat(F.lit("host"), F.lpad(idx.cast("string"), 4, "0"), F.lit(".example"))


def _url(i: Column, seed: int, shape: Shape) -> Column:
    private = _uhash(i, seed, 4, 100) < PRIVATE_PCT
    prefix = F.when(private, F.lit("/private/")).otherwise(F.lit("/p/"))
    return F.concat(
        F.lit("https://"), _host_name(_host_idx(i, seed, shape)), prefix, i.cast("string")
    )


def _target(i: Column, k: int, seed: int, shape: Shape) -> Column:
    return _uhash(i, seed, 10 + k, shape.n_urls)


def build(spark: SparkSession, shape: Shape, seed: int) -> Corpus:
    """Lazy pages/seeds/hosts DataFrames for ``shape`` under ``seed``."""
    ids = spark.range(shape.n_urls)
    i = F.col("id")
    url = _url(i, seed, shape)

    words = F.concat_ws(" ", *[
        F.concat(F.lit("w"), _uhash(i, seed, 100 + w, 4096).cast("string"))
        for w in range(min(shape.filler_words, 24))
    ])
    repeats = max(1, shape.filler_words // 24)
    links = F.concat(*[
        F.concat(F.lit('<a href="'), _url(_target(i, k, seed, shape), seed, shape),
                 F.lit(f'">link {k}</a>'))
        for k in range(shape.outlinks)
    ])
    html = F.concat(
        F.lit("<html><head><title>Page "), i.cast("string"),
        F.lit("</title><script>var x=1;</script></head><body><h1>Page "),
        i.cast("string"), F.lit("</h1><p>"),
        F.repeat(F.concat(words, F.lit(" ")), repeats),
        F.lit("</p>"), links, F.lit("</body></html>"),
    )
    pages = ids.select(
        url.alias("url"),
        F.timestamp_add("SECOND", F.pmod(i, F.lit(86_400)).cast("int"),
                        F.lit(CAPTURE_TS).cast("timestamp")).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )

    seeded = ids.filter(_uhash(i, seed, 5, 100) < shape.seed_pct).select(
        url.alias("url"),
        _uhash(i, seed, 6, 3).cast("int").alias("priority"),
        F.concat(F.lit("rec"), i.cast("string")).alias("record_id"),
    )
    n_miss = max(1, shape.n_urls * MISS_PER_MILLE // 1000)
    missing = spark.range(n_miss).select(
        F.concat(F.lit("https://"), _host_name(_uhash(i, seed, 7, shape.n_hosts)),
                 F.lit("/gone/"), i.cast("string")).alias("url"),
        F.lit(0).alias("priority"),
        F.concat(F.lit("gone"), i.cast("string")).alias("record_id"),
    )
    seeds = seeded.unionByName(missing)

    j = F.col("id")
    robots = F.concat(
        F.lit("User-agent: *\n"),
        F.when(j % GATED_HOST_EVERY == 0, F.lit("Disallow: /private/\n")).otherwise(F.lit("")),
        F.when(j % 4 == 0, F.lit("Crawl-delay: 1\n")).otherwise(F.lit("")),
    )
    hosts = spark.range(shape.n_hosts).select(
        _host_name(j).alias("host"),
        robots.alias("robots_txt"),
        (F.lit(1000) + F.pmod(j * 937, F.lit(3000))).cast("long").alias("crawl_delay_ms"),
        F.lit(HOST_CLOCK_TS).cast("timestamp").alias("next_allowed_ts"),
    )
    return Corpus(pages=pages, seeds=seeds, hosts=hosts, shape=shape, seed=seed)

"""robots.txt parser: urllib.robotparser (first-match-in-order) semantics."""

from __future__ import annotations

import urllib.robotparser

from webscraper_spark.functions.robots import (
    MAX_CRAWL_DELAY_MS,
    parse_robots,
    robots_allows,
)

BODY = """
User-agent: *
Allow: /private/ok/
Disallow: /private/
Crawl-delay: 2.5

User-agent: evilbot
Disallow: /
"""


def test_parse():
    r = parse_robots(BODY)
    assert r["rules"] == ["+/private/ok/", "-/private/"]
    assert r["crawl_delay_ms"] == 2500


def test_allows_first_match():
    r = parse_robots(BODY)
    assert robots_allows(r, "/p/1")
    assert not robots_allows(r, "/private/x")
    assert robots_allows(r, "/private/ok/x")  # Allow listed first wins


def test_matches_stdlib_semantics():
    for body in (
        BODY,
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n",
        "User-agent: *\nDisallow:\n",
        "User-agent: evilbot\nDisallow: /\n",
    ):
        rp = urllib.robotparser.RobotFileParser()
        rp.parse(body.splitlines())
        r = parse_robots(body)
        for path in ["/", "/p/1", "/private/", "/private/a", "/private/ok/", "/private/ok/b"]:
            assert robots_allows(r, path) == rp.can_fetch("*", f"https://h.example{path}"), (
                body,
                path,
            )


def test_crawl_delay_out_of_range():
    def delay(val):
        return parse_robots(f"User-agent: *\nCrawl-delay: {val}\n")["crawl_delay_ms"]

    # non-finite and negative delays are ignored like unparsable ones
    for val in ("inf", "-inf", "1e400", "nan", "-1", "-0.5", "soon"):
        assert delay(val) is None, val
    # finite delays are capped at one day
    for val in ("1e17", "1e306", "86401"):
        assert delay(val) == MAX_CRAWL_DELAY_MS, val
    assert delay("86400") == MAX_CRAWL_DELAY_MS == 86_400_000
    assert delay("0") == 0
    assert delay("2.5") == 2500
    # an ignored value leaves an earlier valid one in place
    body = "User-agent: *\nCrawl-delay: 3\nCrawl-delay: -1\n"
    assert parse_robots(body)["crawl_delay_ms"] == 3000


def test_crawl_delay_out_of_range_schedules(spark):
    """The hosts' robots parse runs inside the schedule's Spark job: an
    out-of-range delay must neither fail the task nor reorder a host's
    fetches (host_seq and scheduled_ts increase together)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from webscraper_spark.operators.schedule import schedule_round

    t0 = datetime(2025, 7, 25, 1)
    bodies = ["inf", "1e400", "1e17", "-1"]
    hosts = spark.createDataFrame(
        [(f"h{i}.example", f"User-agent: *\nCrawl-delay: {b}\n", 1000, t0)
         for i, b in enumerate(bodies)],
        "host string, robots_txt string, crawl_delay_ms long, next_allowed_ts timestamp",
    )
    frontier = spark.createDataFrame(
        [(i * 10 + k, f"https://h{i}.example/p/{k}", f"h{i}.example", 0, 0, 0, None)
         for i in range(len(bodies)) for k in range(3)],
        "url_hash long, url string, host string, priority int, "
        "discovered_round int, retry_count int, next_fetch_ts timestamp",
    )
    rows = schedule_round(frontier, hosts, 3, round_start_ts=t0).orderBy(
        "host", "host_seq"
    ).collect()
    assert len(rows) == 3 * len(bodies)
    delays = {r["host"]: r["delay_ms"] for r in rows}
    assert delays == {"h0.example": 1000, "h1.example": 1000,
                      "h2.example": MAX_CRAWL_DELAY_MS, "h3.example": 1000}
    for a, b in zip(rows, rows[1:]):
        if a["host"] == b["host"]:
            assert b["scheduled_ts"] > a["scheduled_ts"]


def test_empty_and_missing():
    assert robots_allows(parse_robots(None), "/anything")
    assert robots_allows(parse_robots(""), "/anything")


def test_robots_sitemap_directives(spark):
    from pyspark.sql import functions as F

    from webscraper_spark.functions.robots import (
        robots_sitemaps,
        robots_sitemaps_udf,
    )

    body = (
        "User-agent: googlebot\nDisallow: /private/\n"
        "Sitemap: https://a.example/sitemap.xml\n"
        "User-agent: *\nDisallow: /tmp/\n"
        "sitemap: https://a.example/sitemap2.xml.gz  # comment\n"
        "Sitemap:\n"  # empty value ignored
    )
    # group-independent: BOTH directives extracted even though one sits
    # in a non-* group
    assert robots_sitemaps(body) == [
        "https://a.example/sitemap.xml",
        "https://a.example/sitemap2.xml.gz",
    ]
    assert robots_sitemaps(None) == []
    hosts = spark.createDataFrame(
        [("a.example", body), ("b.example", None)],
        "host string, robots_txt string",
    )
    out = {r["host"]: r["maps"] for r in hosts.select(
        "host", robots_sitemaps_udf(F.col("robots_txt")).alias("maps")
    ).collect()}
    assert len(out["a.example"]) == 2
    assert out["b.example"] == []


def test_robots_sitemaps_feed_sitemap_source(spark):
    """robots Sitemap: discovery → sitemap ingestion → frontier seeds,
    end to end (the fetch of the sitemap blobs is simulated by a join
    against a blob table, as the crawl round does for pages)."""
    from pyspark.sql import functions as F

    from webscraper_spark.functions.robots import robots_sitemaps_udf
    from webscraper_spark.sources.sitemap import sitemap_to_frontier

    hosts = spark.createDataFrame(
        [("a.example", "Sitemap: https://a.example/s.xml")],
        "host string, robots_txt string",
    )
    blobs = spark.createDataFrame(
        [("https://a.example/s.xml",
          b"<urlset><url><loc>https://a.example/p/1</loc></url></urlset>")],
        "path string, content binary",
    )
    wanted = hosts.select(
        F.explode(robots_sitemaps_udf(F.col("robots_txt"))).alias("path")
    )
    fetched = wanted.join(blobs, on="path")
    seeds = sitemap_to_frontier(fetched).collect()
    assert [r["url"] for r in seeds] == ["https://a.example/p/1"]

"""Politeness scheduler: ordering, budget, robots, salting invariance."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from webscraper_spark.functions.canon import with_canonical
from webscraper_spark.operators.schedule import (
    advance_host_clocks, schedule_round, with_robots_rules,
)
from webscraper_spark.operators.topk import topk_per_group

T0 = datetime(2025, 7, 25, 1, 0, 0)


def _frontier(spark, sdfs):
    return (
        with_canonical(sdfs["seeds"])
        .dropDuplicates(["url_hash"])
        .select(
            "url_hash", "url", "host",
            F.col("priority").cast("int").alias("priority"),
            F.lit(0).alias("discovered_round"),
            F.lit(0).alias("retry_count"),
            F.lit(None).cast("timestamp").alias("next_fetch_ts"),
        )
    )


def test_politeness_gap_invariant(spark, sdfs):
    sched = schedule_round(_frontier(spark, sdfs), sdfs["hosts"], per_host_budget=10,
                           round_start_ts=T0).collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r)
    for host, rows in by_host.items():
        rows.sort(key=lambda r: r["host_seq"])
        for a, b in zip(rows, rows[1:]):
            gap_ms = (b["scheduled_ts"] - a["scheduled_ts"]).total_seconds() * 1000
            assert gap_ms >= a["delay_ms"] - 1e-6, (host, gap_ms, a["delay_ms"])
        # host_seq is dense 1..n, deterministic (priority, url_hash) order
        assert [r["host_seq"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(r["priority"], r["url_hash"]) for r in rows]
        assert keys == sorted(keys)


def test_budget(spark, sdfs):
    pages = with_canonical(sdfs["pages"]).select(
        "url_hash", "url", "host",
        F.lit(0).alias("priority"), F.lit(0).alias("discovered_round"),
        F.lit(0).alias("retry_count"), F.lit(None).cast("timestamp").alias("next_fetch_ts"),
    ).dropDuplicates(["url_hash"])
    sched = schedule_round(pages, sdfs["hosts"], per_host_budget=3, round_start_ts=T0)
    mx = sched.groupBy("host").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 3


def test_robots_disallow_filters_private(spark, sdfs):
    pages = with_canonical(sdfs["pages"]).select(
        "url_hash", "url", "host",
        F.lit(0).alias("priority"), F.lit(0).alias("discovered_round"),
        F.lit(0).alias("retry_count"), F.lit(None).cast("timestamp").alias("next_fetch_ts"),
    ).dropDuplicates(["url_hash"])
    sched = schedule_round(pages, sdfs["hosts"], per_host_budget=10**6, round_start_ts=T0)
    # host000/003/... (i % 3 == 0) disallow /private/ in the fixture
    leaked = sched.filter(
        F.col("url").contains("/private/")
        & F.col("host").isin(*[f"host{i:03d}.example" for i in range(0, 12, 3)])
    ).count()
    assert leaked == 0
    # non-disallowing hosts still crawl /private/
    assert sched.filter(F.col("url").contains("/private/")).count() > 0


def test_salting_does_not_change_ranks(spark, sdfs):
    f = _frontier(spark, sdfs)
    a = schedule_round(f, sdfs["hosts"], per_host_budget=4, round_start_ts=T0, n_salt=1)
    b = schedule_round(f, sdfs["hosts"], per_host_budget=4, round_start_ts=T0, n_salt=8)
    ka = sorted((r["host"], r["host_seq"], r["url"]) for r in a.collect())
    kb = sorted((r["host"], r["host_seq"], r["url"]) for r in b.collect())
    assert ka == kb  # SURVEY §7.4: salt shards computation, never order


def test_topk_matches_unsalted(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    a = topk_per_group(df, ["g"], [F.col("v").asc()], k=10, n_salt=1)
    b = topk_per_group(df, ["g"], [F.col("v").asc()], k=10, n_salt=16)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_advance_host_clocks(spark, sdfs):
    f = _frontier(spark, sdfs)
    sched = schedule_round(f, sdfs["hosts"], per_host_budget=10, round_start_ts=T0)
    counts = {r["host"]: (r["n"], r["d"]) for r in
              sched.groupBy("host").agg(F.count("*").alias("n"), F.max("delay_ms").alias("d")).collect()}
    before = {r["host"]: r["next_allowed_ts"] for r in sdfs["hosts"].collect()}
    after = {r["host"]: r["next_allowed_ts"]
             for r in advance_host_clocks(sdfs["hosts"], sched, round_start_ts=T0).collect()}
    for host, ts in after.items():
        if host in counts:
            n, d = counts[host]
            # clamped base: a stale (pre-round) clock advances from the
            # round floor, matching the streaming scheduler's semantics
            base = max(before[host], T0) if before[host] is not None else T0
            assert (ts - base).total_seconds() * 1000 == n * d
        else:
            assert ts == before[host]


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


def test_store_without_parsed_robots_resumes_identically(spark, sdfs, tmp_path):
    """A store whose round-0 hosts snapshot has no parsed robots columns
    (how stores were written before ``init_crawl`` stored them) resumes,
    parsing on read, and commits the same rows as a fresh store; the
    fresh store's round-K snapshot still carries the parsed columns."""
    from webscraper_spark.plans.round import init_crawl, run_crawl
    from webscraper_spark.sources.tables import TableStore

    fresh = TableStore(spark, str(tmp_path / "fresh"))
    old = TableStore(spark, str(tmp_path / "old"))
    init_crawl(old, sdfs["seeds"], sdfs["hosts"])
    old.write("hosts", sdfs["hosts"], 0)
    assert "robots_rules" not in old.read_snapshot("hosts", up_to=0).columns
    for store in (fresh, old):
        run_crawl(store, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
                  n_rounds=2, per_host_budget=4)
    for name, reader in (("fetched", "read_delta"), ("frontier", "read_snapshot")):
        assert _rows(getattr(fresh, reader)(name)) == _rows(getattr(old, reader)(name)), name

    hosts = fresh.read_snapshot("hosts", up_to=2)
    parsed = ["host", "robots_rules", "robots_delay_ms"]
    assert _rows(hosts.select(*parsed)) == _rows(
        with_robots_rules(sdfs["hosts"]).select(*parsed)
    )

"""Per-shard round metrics conserve what the round committed.

Round K's ``metrics`` rows, per shard, equal counts recomputed from the
committed tables: ``scheduled``/``fetched``/``missed`` from round K's
``fetched`` rows, ``new_urls`` from the ``seen`` rows first discovered
in round K (a forced recrawl re-adds its urls to ``seen`` in the same
round, so those are set aside), and ``bytes_html`` from the html of the
pages fetched. The lineage's four counts are the column sums.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscraper_spark.plans.round import (
    N_METRIC_SHARDS, prepare_pages, run_crawl, run_round,
)
from webscraper_spark.sources.tables import TableStore

BUDGET = 4
COUNTS = ("scheduled", "fetched", "missed", "new_urls")


@pytest.fixture(scope="module")
def recrawl_crawl(spark, sdfs, tmp_path_factory):
    """Round 1 (its seeds include urls with no page: misses), then round
    2 with a forced recrawl of three of round 1's fetched urls."""
    store = TableStore(spark, str(tmp_path_factory.mktemp("metrics")))
    (first,) = run_crawl(store, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
                         n_rounds=1, per_host_budget=BUDGET)
    recrawl = (
        store.read_round("fetched", 1).filter(F.col("fetch_status") == "ok")
        .select("url").orderBy("url").limit(3)
    )
    pages_latest = prepare_pages(sdfs["pages"]).persist()
    try:
        second = run_round(store, pages_latest, 2, per_host_budget=BUDGET,
                           recrawl=recrawl)
    finally:
        pages_latest.unpersist()
    return store, {1: first, 2: second}


def _recomputed(store, pages, round_no: int) -> dict[int, tuple]:
    shard = F.pmod(F.xxhash64("host"), F.lit(N_METRIC_SHARDS)).cast("int")
    ok = F.col("fetch_status") == "ok"
    html_len = pages.select("url_hash", F.length("html").alias("__len"))
    fetched = {
        r["shard"]: r
        for r in store.read_round("fetched", round_no)
        .join(html_len, "url_hash", "left")
        .groupBy(shard.alias("shard"))
        .agg(
            F.count("*").alias("scheduled"),
            F.sum(ok.cast("int")).alias("fetched"),
            F.sum((F.col("fetch_status") == "miss").cast("int")).alias("missed"),
            F.sum(F.when(ok, F.col("__len")).otherwise(0)).alias("bytes_html"),
        )
        .collect()
    }
    discovered = store.read_round("seen", round_no).filter(
        F.col("discovered_round") == round_no
    )
    deleted = store.read_round("seen_deletes", round_no)
    if deleted is not None:
        discovered = discovered.join(deleted, "url_hash", "left_anti")
    new = {
        r["shard"]: r["n"]
        for r in discovered.groupBy(shard.alias("shard")).agg(F.count("*").alias("n")).collect()
    }
    out = {}
    for s in set(fetched) | set(new):
        f = fetched.get(s)
        out[s] = (
            f["scheduled"] if f else 0, f["fetched"] if f else 0,
            f["missed"] if f else 0, new.get(s, 0), f["bytes_html"] if f else 0,
        )
    return out


@pytest.mark.parametrize("round_no", [1, 2])
def test_metrics_equal_committed_tables(spark, sdfs, recrawl_crawl, round_no):
    store, lineages = recrawl_crawl
    lineage = lineages[round_no]
    if round_no == 1:
        assert lineage["missed"] > 0  # the round covers the miss path
    else:
        assert lineage["recrawled"] == 3
    rows = store.read_round("metrics", round_no).collect()
    got = {
        r["shard"]: (r["scheduled"], r["fetched"], r["missed"], r["new_urls"],
                     r["bytes_html"])
        for r in rows
    }
    assert len(got) == len(rows)  # one row per shard
    assert {r["round"] for r in rows} == {round_no}
    assert got == _recomputed(store, prepare_pages(sdfs["pages"]), round_no)
    for i, c in enumerate(COUNTS):
        assert lineage[c] == sum(v[i] for v in got.values()), c

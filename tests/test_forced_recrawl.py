"""Forced re-crawl invalidation (seen-set deletions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscraper_spark.plans.round import prepare_pages, run_crawl, run_round
from webscraper_spark.sources.tables import TableStore


@pytest.fixture()
def crawled_store(spark, sdfs, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    run_crawl(store, sdfs["pages"], sdfs["seeds"], sdfs["hosts"], n_rounds=2,
              per_host_budget=4)
    return store


def test_signal_recrawl_feeds_forced_refetch(spark, sdfs, crawled_store):
    """E2E composition: discovery freshness signals → ranked candidate
    selection (signal_recrawl) → run_round(recrawl=...) forced refetch.
    Signals are derived from the store's own fetched table so the test
    is corpus-agnostic: three urls get a signal 9 days newer than their
    fetch (priority-0 candidates), one gets an older signal (current —
    never selected)."""
    from webscraper_spark.operators.recrawl import signal_recrawl

    store = crawled_store
    fetched = store.read_delta("fetched", up_to=2).filter(
        F.col("fetch_status") == "ok"
    )
    corpus = fetched.select(
        "url", F.to_timestamp(F.lit("2025-07-01")).alias("fetch_ts")
    ).dropDuplicates(["url"])
    ordered = corpus.orderBy("url").limit(4).collect()
    newer = [r.url for r in ordered[:3]]
    current = ordered[3].url
    signals = spark.createDataFrame(
        [(u, "2025-07-10") for u in newer] + [(current, "2025-06-20")],
        "url string, ts string",
    ).select("url", F.to_timestamp("ts").alias("signal_ts"))

    cands = signal_recrawl(
        corpus, signals, now_ts="2025-07-15 00:00:00", limit=10
    )
    got = {r.url for r in cands.collect()}
    assert got == set(newer)  # the current-signal url is not selected

    pages_latest = prepare_pages(sdfs["pages"]).persist()
    lineage = run_round(store, pages_latest, 3, per_host_budget=4,
                        recrawl=cands)
    assert lineage["recrawled"] == 3
    refetched = {
        r.url for r in store.read_round("fetched", 3)
        .filter(F.col("fetch_status") == "ok").select("url").collect()
    }
    assert set(newer) <= refetched
    pages_latest.unpersist()


def test_recrawl_refetches_and_preserves_membership(spark, sdfs, crawled_store):
    store = crawled_store
    fetched = store.read_delta("fetched", up_to=2).filter(F.col("fetch_status") == "ok")
    targets = fetched.orderBy("url_hash").limit(3).select("url", "url_hash")
    target_hashes = {r.url_hash for r in targets.collect()}
    seen_before = {
        r.url_hash for r in store.read_delta("seen", up_to=2).select("url_hash").collect()
    }

    pages_latest = prepare_pages(sdfs["pages"]).persist()
    lineage = run_round(
        store, pages_latest, 3, per_host_budget=4,
        recrawl=targets.select("url"),
    )
    assert lineage["recrawled"] == 3

    # the targets were fetched again in round 3
    refetched = {
        r.url_hash
        for r in store.read_round("fetched", 3)
        .filter(F.col("fetch_status") == "ok")
        .select("url_hash")
        .collect()
    }
    assert target_hashes <= refetched

    # seen membership after re-add equals membership before the recrawl
    deletes = store.read_delta("seen_deletes", up_to=3)
    seen_rows = store.read_delta("seen", up_to=3)
    dmax = deletes.groupBy("url_hash").agg(F.max("deleted_round").alias("dr"))
    eff = (
        seen_rows.join(dmax, on="url_hash", how="left")
        .filter(F.col("dr").isNull() | (F.col("discovered_round") >= F.col("dr")))
    )
    seen_after = {r.url_hash for r in eff.select("url_hash").distinct().collect()}
    assert target_hashes <= seen_after
    assert seen_before <= seen_after  # nothing lost; discovery may add more

    # and a following round does NOT refetch them again
    run_round(store, pages_latest, 4, per_host_budget=4)
    fetched4 = {
        r.url_hash
        for r in store.read_round("fetched", 4).select("url_hash").collect()
    }
    assert not (target_hashes & fetched4)
    pages_latest.unpersist()

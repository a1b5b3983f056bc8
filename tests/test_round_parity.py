"""End-to-end round job vs the single-process reference simulator.

THE correctness gate from BASELINE.json north_star: identical per-host
crawl ordering, identical URL-seen membership, byte-identical extracted
text per url — engine (distributed, salted, exact anti-join) vs reference
semantics (sequential loop), same seed list + politeness budget.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscraper_spark.plans.round import prepare_pages, run_crawl, run_round
from webscraper_spark.sources.tables import TableStore

from tests.reference_sim import simulate_crawl

N_ROUNDS = 3
BUDGET = 4


@pytest.fixture(scope="module")
def engine_run(spark, sdfs, tmp_path_factory):
    store = TableStore(spark, str(tmp_path_factory.mktemp("crawl")))
    lineages = run_crawl(
        store, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
        n_rounds=N_ROUNDS, per_host_budget=BUDGET,
    )
    return store, lineages


@pytest.fixture(scope="module")
def sim_run(corpus):
    return simulate_crawl(
        corpus["pages"].to_dict("records"),
        corpus["seeds"].to_dict("records"),
        corpus["hosts"].to_dict("records"),
        n_rounds=N_ROUNDS,
        per_host_budget=BUDGET,
    )


# wall-clock + engine-internal keys, excluded from reference parity
_TIMING_KEYS = {"elapsed_sec", "eta_sec"}


def test_lineage_counts_match(engine_run, sim_run):
    _, lineages = engine_run
    counts = [{k: v for k, v in l.items() if k not in _TIMING_KEYS} for l in lineages]
    assert counts == sim_run["lineages"]


def test_round_metrics_have_real_elapsed_and_eta(engine_run):
    """C9/A5: per-round wall time is measured (not the old 0.0
    placeholder) and the running-mean ETA is derivable."""
    store, lineages = engine_run
    assert all(l["elapsed_sec"] > 0 for l in lineages)
    assert all(l["eta_sec"] >= 0 for l in lineages)
    assert lineages[-1]["eta_sec"] == 0  # last round: nothing remaining
    m = store.read_delta("metrics").select("elapsed_sec").collect()
    assert m and all(r["elapsed_sec"] > 0 for r in m)


def test_seen_membership_identical(engine_run, sim_run):
    store, _ = engine_run
    engine_seen = {r["url_hash"] for r in store.read_delta("seen").collect()}
    assert engine_seen == sim_run["seen"]


def test_per_host_order_identical(engine_run, sim_run):
    store, _ = engine_run
    fetched = store.read_delta("fetched").collect()
    engine_orders = sorted(
        (r["round"], r["host"], r["host_seq"], r["url"], r["scheduled_ts"])
        for r in fetched
    )
    sim_orders = sorted(sim_run["orders"])
    assert engine_orders == sim_orders


def test_extracted_text_byte_identical(engine_run, sim_run, corpus):
    store, _ = engine_run
    ok_rows = [r for r in store.read_delta("fetched").collect() if r["fetch_status"] == "ok"]
    assert ok_rows
    for r in ok_rows:
        assert r["text"] == sim_run["texts"][r["url"]], r["url"]


def test_frontier_state_matches(engine_run, sim_run):
    store, _ = engine_run
    engine_frontier = {r["url_hash"] for r in store.read_snapshot("frontier").collect()}
    assert engine_frontier == set(sim_run["frontier"].keys())


def test_host_clocks_match(engine_run, sim_run):
    store, _ = engine_run
    engine_clocks = {
        r["host"]: r["next_allowed_ts"] for r in store.read_snapshot("hosts").collect()
    }
    assert engine_clocks == sim_run["host_clocks"]


def test_resume_equals_uninterrupted(spark, sdfs, tmp_path_factory, engine_run):
    """C8: kill after round 1, resume, final state identical (SURVEY §5.2.3)."""
    store2 = TableStore(spark, str(tmp_path_factory.mktemp("crawl_resume")))
    run_crawl(store2, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
              n_rounds=1, per_host_budget=BUDGET)  # "crash" after round 1
    run_crawl(store2, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
              n_rounds=N_ROUNDS, per_host_budget=BUDGET)  # resume
    store1, _ = engine_run
    for name, reader in (("seen", "read_delta"), ("fetched", "read_delta")):
        a = getattr(store1, reader)(name)
        b = getattr(store2, reader)(name)
        cols = sorted(a.columns)
        assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
            map(tuple, b.select(*cols).collect())
        ), name
    fa = store1.read_snapshot("frontier")
    fb = store2.read_snapshot("frontier")
    assert sorted(map(tuple, fa.collect())) == sorted(map(tuple, fb.collect()))


def test_fetch_misses_carry_no_page_columns(spark):
    """One fetch join yields hits and misses alike; a miss, including a
    url_hash collision that joins another url's page, keeps null page
    and kernel columns."""
    from datetime import datetime

    from webscraper_spark.plans.round import fetch_and_extract

    t0 = datetime(2025, 7, 25, 1)
    frontier = spark.createDataFrame(
        [(1, "https://a.example/x"), (2, "https://a.example/y"), (3, "https://a.example/z")],
        "url_hash long, url string",
    ).selectExpr(
        "url_hash", "url", "'a.example' AS host", "0 AS priority",
        "0 AS discovered_round", "0 AS retry_count",
        "CAST(NULL AS timestamp) AS next_fetch_ts",
    )
    hosts = spark.createDataFrame(
        [("a.example", None, 1000, t0)],
        "host string, robots_txt string, crawl_delay_ms long, next_allowed_ts timestamp",
    )
    pages = spark.createDataFrame(
        [(1, "https://b.example/other", t0, b"<title>B</title><a href='/q'>q</a>", "de"),
         (3, "https://a.example/z", t0, b"<title>Z</title><a href='/w'>w</a>", "en")],
        "url_hash long, url string, warc_ts timestamp, html binary, lang string",
    )
    _, fetched = fetch_and_extract(frontier, hosts, pages, t0, per_host_budget=10)
    cols = ["__hit", "warc_ts", "lang", "title", "text", "outlinks", "n_outlinks", "__html_len"]
    got = {r["url"]: tuple(r[c] for c in cols) for r in fetched.collect()}
    miss = (False,) + (None,) * (len(cols) - 1)
    assert got["https://a.example/x"] == miss  # hash collision
    assert got["https://a.example/y"] == miss  # no page
    z = got["https://a.example/z"]
    assert z[:4] == (True, t0, "en", "Z") and z[5:] == (["https://a.example/w"], 1, 34)


class _FrontierWriteFails(TableStore):
    """A store whose round-K frontier write crashes, while the writes
    that run alongside it go through."""

    def write(self, name, df, round_no):
        if name == "frontier" and round_no > 0:
            raise RuntimeError("injected frontier write failure")
        super().write(name, df, round_no)


def test_crash_mid_round_resumes_to_uninterrupted(spark, sdfs, tmp_path, engine_run):
    """A write failing among round 2's concurrent writes fails the round
    and leaves it uncommitted; resuming with a plain store then gives the
    same tables as an uninterrupted run."""
    root = str(tmp_path / "crash")
    run_crawl(TableStore(spark, root), sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
              n_rounds=1, per_host_budget=BUDGET)
    crashing = _FrontierWriteFails(spark, root)
    pages_latest = prepare_pages(sdfs["pages"]).persist()
    try:
        with pytest.raises(RuntimeError, match="injected frontier write failure"):
            run_round(crashing, pages_latest, 2, per_host_budget=BUDGET)
    finally:
        pages_latest.unpersist()
    assert crashing.read_manifest()["committed_rounds"] == [0, 1]

    resumed = TableStore(spark, root)
    run_crawl(resumed, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
              n_rounds=N_ROUNDS, per_host_budget=BUDGET)
    store1, _ = engine_run
    for name, reader in (("seen", "read_delta"), ("fetched", "read_delta"),
                         ("frontier", "read_snapshot"), ("hosts", "read_snapshot")):
        a = getattr(store1, reader)(name)
        b = getattr(resumed, reader)(name)
        cols = sorted(a.columns)
        assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
            map(tuple, b.select(*cols).collect())
        ), name


def test_round_jobs_run_in_callers_job_group(spark, sdfs, tmp_path):
    """The writes that run on pool threads inherit the caller's job
    group, so per-round job accounting sees every job of the round."""
    from webscraper_spark.plans.round import init_crawl

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = TableStore(spark, str(tmp_path / "grouped"))
    init_crawl(store, sdfs["seeds"], sdfs["hosts"])
    pages_latest = prepare_pages(sdfs["pages"]).persist()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("round-under-test", "crawl round 1")
    try:
        run_round(store, pages_latest, 1, per_host_budget=BUDGET)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        pages_latest.unpersist()
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert len(tracker.getJobIdsForGroup("round-under-test")) >= 5  # one per write


def test_two_fresh_crawls_are_byte_identical(spark, sdfs, tmp_path):
    """Full-run determinism: two independent crawls over the same corpus
    produce identical fetched/seen/frontier tables (no wall-clock, no RNG
    anywhere in the engine)."""
    from pyspark.sql import functions as F

    from webscraper_spark.plans.round import run_crawl
    from webscraper_spark.sources.tables import TableStore

    stores = []
    for name in ("a", "b"):
        store = TableStore(spark, str(tmp_path / name))
        run_crawl(store, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
                  n_rounds=2, per_host_budget=4)
        stores.append(store)

    for table, cols in [
        ("fetched", ["url_hash", "round", "host_seq", "scheduled_ts", "text", "fetch_status"]),
        ("seen", ["url_hash", "discovered_round"]),
    ]:
        a = {tuple(r) for r in stores[0].read_delta(table, up_to=2).select(cols).collect()}
        b = {tuple(r) for r in stores[1].read_delta(table, up_to=2).select(cols).collect()}
        assert a == b, table
    fa = {tuple(r) for r in stores[0].read_snapshot("frontier", up_to=2).collect()}
    fb = {tuple(r) for r in stores[1].read_snapshot("frontier", up_to=2).collect()}
    assert fa == fb

"""End-to-end round job vs the single-process reference simulator.

THE correctness gate from BASELINE.json north_star: identical per-host
crawl ordering, identical URL-seen membership, byte-identical extracted
text per url — engine (distributed, salted, exact anti-join) vs reference
semantics (sequential loop), same seed list + politeness budget.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscraper_spark.plans.round import prepare_pages, run_crawl
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

"""Round admission is the exact seen anti-join.

``run_round`` admits a URL iff it is a canonical outlink of a page the
round fetched and its ``url_hash`` is not in the effective seen-set. The
effective seen-set is read back here from the committed ``seen`` and
``seen_deletes`` tables, so every expectation below is a pure-Python set
difference over committed state plus the corpus's own html.
"""

from __future__ import annotations

import shutil
from urllib.parse import urlsplit

import pytest
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import canonicalize_url, host_of, url_hash_py
from webscraper_spark.functions.extract import extract_fields
from webscraper_spark.functions.robots import parse_robots, robots_allows
from webscraper_spark.plans.round import prepare_pages, run_crawl, run_round
from webscraper_spark.sources.tables import TableStore

BUDGET = 4


@pytest.fixture(scope="module")
def round1_dir(spark, sdfs, tmp_path_factory):
    """A store with round 1 committed; each test crawls on a copy."""
    root = tmp_path_factory.mktemp("round1") / "store"
    run_crawl(TableStore(spark, str(root)), sdfs["pages"], sdfs["seeds"],
              sdfs["hosts"], n_rounds=1, per_host_budget=BUDGET)
    return root


@pytest.fixture(scope="module")
def pages_latest(sdfs):
    df = prepare_pages(sdfs["pages"]).persist()
    yield df
    df.unpersist()


@pytest.fixture()
def store(spark, round1_dir, tmp_path):
    shutil.copytree(round1_dir, tmp_path / "store")
    return TableStore(spark, str(tmp_path / "store"))


def _latest_html(corpus) -> dict[str, object]:
    """Newest capture per canonical url (the fetch join's page side)."""
    latest: dict[str, dict] = {}
    for r in corpus["pages"].to_dict("records"):
        cu = canonicalize_url(r["url"])
        if cu is not None and (cu not in latest or r["warc_ts"] > latest[cu]["warc_ts"]):
            latest[cu] = r
    return {u: r["html"] for u, r in latest.items()}


def _effective_seen(store: TableStore, up_to: int) -> set[int]:
    """A key is seen unless its newest deletion is newer than its newest
    (re-)discovery."""
    disc: dict[int, int] = {}
    for r in store.read_delta("seen", up_to=up_to).collect():
        disc[r.url_hash] = max(disc.get(r.url_hash, -1), r.discovered_round)
    dele: dict[int, int] = {}
    deletes = store.read_delta("seen_deletes", up_to=up_to)
    for r in deletes.collect() if deletes is not None else []:
        dele[r.url_hash] = max(dele.get(r.url_hash, -1), r.deleted_round)
    return {k for k, d in disc.items() if k not in dele or d >= dele[k]}


def _outlinks(html_by_url, url) -> set[str]:
    hrefs = extract_fields(html_by_url[url])["outlinks"] or []
    return {cu for h in hrefs if (cu := canonicalize_url(h, base=url)) is not None}


def _fetched_ok(store, round_no) -> list[str]:
    rows = store.read_round("fetched", round_no).filter(F.col("fetch_status") == "ok")
    return [r.url for r in rows.select("url").collect()]


def _expected_admissions(store, html_by_url, round_no, recrawled=frozenset()):
    outlinks = set().union(*(_outlinks(html_by_url, u) for u in _fetched_ok(store, round_no)))
    blocked = _effective_seen(store, round_no - 1) | set(recrawled)
    return {(url_hash_py(u), u) for u in outlinks if url_hash_py(u) not in blocked}


def _seen_rows(store, round_no) -> list[tuple[int, str]]:
    """The round's seen delta as a sorted list, so a duplicate row shows."""
    return sorted((r.url_hash, r.url) for r in store.read_round("seen", round_no).collect())


def test_admissions_equal_set_difference_without_deletions(store, pages_latest, corpus):
    # a manifest written while the round still recorded its probe
    # topology resumes unchanged
    m = store.read_manifest()
    m["lineage"]["1"]["bloom_mode_used"] = "broadcast"
    store._write_manifest(m)

    lineage = run_round(store, pages_latest, 2, per_host_budget=BUDGET)

    want = _expected_admissions(store, _latest_html(corpus), 2)
    assert want  # the round discovers something new
    assert _seen_rows(store, 2) == sorted(want)
    assert lineage["new_urls"] == len(want)
    assert store.read_delta("seen_deletes", up_to=2) is None
    lineages = store.read_manifest()["lineage"]
    assert lineages["1"]["bloom_mode_used"] == "broadcast"
    assert "bloom_mode_used" not in lineages["2"]


def test_admissions_equal_set_difference_with_forced_recrawl(
    spark, store, pages_latest, corpus
):
    html_by_url = _latest_html(corpus)
    seen1 = _effective_seen(store, 1)
    rules = {h["host"]: parse_robots(h["robots_txt"]) for h in corpus["hosts"].to_dict("records")}
    # recrawl three fetched pages, plus an unseen page and an unseen url
    # it links to: the linked url becomes a candidate that only this
    # round's recrawl keys keep from being admitted a second time
    unseen_page, linked = next(
        (u, v)
        for u in sorted(html_by_url)
        if url_hash_py(u) not in seen1
        and robots_allows(rules[host_of(u)], urlsplit(u).path)
        for v in sorted(_outlinks(html_by_url, u))
        if url_hash_py(v) not in seen1 and v != u
    )
    urls = sorted(_fetched_ok(store, 1))[:3] + [unseen_page, linked]
    recrawl_rows = {(url_hash_py(u), u) for u in urls}
    recrawled = frozenset(h for h, _ in recrawl_rows)

    recrawl = spark.createDataFrame([(u,) for u in urls], "url string")
    lineage = run_round(store, pages_latest, 2, per_host_budget=BUDGET, recrawl=recrawl)
    assert lineage["recrawled"] == len(urls)
    assert unseen_page in _fetched_ok(store, 2)
    want = _expected_admissions(store, html_by_url, 2, recrawled)
    assert _seen_rows(store, 2) == sorted(want | recrawl_rows)
    assert {r.url_hash for r in store.read_round("seen_deletes", 2).collect()} == recrawled

    # the next round reads a non-empty seen_deletes history
    run_round(store, pages_latest, 3, per_host_budget=BUDGET)
    assert _seen_rows(store, 3) == sorted(_expected_admissions(store, html_by_url, 3))

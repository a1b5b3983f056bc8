"""Plan-shape regression guards: the properties the 100 TB design relies
on must be visible in the physical plan, not just asserted in prose.

- no CartesianProduct anywhere in any driver query
- no row-at-a-time Python (BatchEvalPython) — Python only ever enters
  via Arrow (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas)
- the politeness budget compiles to WindowGroupLimit (map-side per-host
  top-k before the shuffle — the skew story of SURVEY §2.6)
- the gated ngram_jaccard plan contains array_intersect and does NOT
  join on an exploded shingle-hash column
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_ALL = {**entry.queries(), **entry.cert_queries()}


@pytest.mark.parametrize("name", sorted(_ALL))
def test_no_cartesian_and_no_rowwise_python(spark, name):
    df = _ALL[name](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BatchEvalPython" not in plan, f"{name} plans row-wise Python"


def test_scheduler_compiles_to_window_group_limit(spark):
    df = entry.queries()["politeness_schedule"](spark, SF)
    assert "WindowGroupLimit" in _plan(df)


def test_gated_ngram_plan_shape(spark):
    df = entry.queries()["ngram_jaccard"](spark, SF)
    plan = _plan(df)
    assert "array_intersect" in plan
    # the exploded shared-shingle self-join would show as a join on a
    # generated 'h' column coming from two Generate(explode) children
    assert plan.count("Generate explode") <= 2  # LSH banding only


def _udf_nodes(df, udf: str) -> int:
    return _plan(df).count(f"ArrowEvalPython [{udf}(")


def test_round_kernels_evaluate_once_per_row(spark, sdfs):
    """Each crawl-round kernel plans exactly one ArrowEvalPython node: an
    ``isNotNull`` filter split from its projection would run the kernel
    twice per row, and outlink discovery runs in the JVM alone."""
    from datetime import datetime

    from webscraper_spark.functions.canon import with_canonical
    from webscraper_spark.plans.round import discover_new, fetch_and_extract

    pages = with_canonical(sdfs["pages"])
    assert _udf_nodes(pages, "canonicalize_url_udf") == 1

    frontier = pages.select(
        "url_hash", "url", "host",
        F.lit(0).alias("priority"), F.lit(0).alias("discovered_round"),
        F.lit(0).alias("retry_count"),
        F.lit(None).cast("timestamp").alias("next_fetch_ts"),
    ).dropDuplicates(["url_hash"])
    _, fetched = fetch_and_extract(
        frontier, sdfs["hosts"], pages, datetime(2025, 7, 25, 1), 3
    )
    assert _udf_nodes(fetched, "extract_round_udf") == 1
    assert "html" not in fetched.columns
    # discovery's inferred non-empty-outlinks filter must not re-run it
    admitted = discover_new(fetched.filter("__hit"), frontier.select("url_hash"))
    assert _udf_nodes(admitted, "extract_round_udf") == 1

    fetched = spark.createDataFrame(
        [("https://h.example/a", 0, ["https://h.example/b"])],
        "url string, priority int, outlinks array<string>",
    )
    seen = spark.createDataFrame([(0,)], "url_hash long")
    assert "ArrowEvalPython" not in _plan(discover_new(fetched, seen))


def test_schedule_over_init_snapshot_runs_no_python(spark, sdfs, tmp_path):
    """``init_crawl`` stores the parsed robots rules with the hosts, so
    scheduling a round over its snapshot never crosses into Python."""
    from webscraper_spark.operators.schedule import schedule_round
    from webscraper_spark.plans.round import init_crawl, round_clock
    from webscraper_spark.sources.tables import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    init_crawl(store, sdfs["seeds"], sdfs["hosts"])
    scheduled = schedule_round(
        store.read_snapshot("frontier", up_to=0),
        store.read_snapshot("hosts", up_to=0),
        per_host_budget=4, round_start_ts=round_clock(1),
    )
    assert "ArrowEvalPython" not in _plan(scheduled)


def test_anchor_stats_canonicalizes_once(spark):
    import pandas as pd

    from webscraper_spark.operators.anchors import _anchor_stats_plan

    pages = spark.createDataFrame(
        pd.DataFrame([("https://s.example/", '<a href="/t">x</a>')],
                     columns=["url", "html"]),
        "url string, html string",
    )
    _, base = _anchor_stats_plan(pages, "url", "html", 3)
    try:
        assert _udf_nodes(base, "canonicalize_href_udf") == 1
    finally:
        base.unpersist()

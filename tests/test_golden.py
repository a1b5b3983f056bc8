"""Golden (pure-Python) twins vs the Spark queries they oracle.

These goldens back the oracle_sql() VALUES literals for the queries whose
Spark form is non-SQL-expressible; here each golden is checked against
the live Spark query at sf0.001 so the embedded oracle can't drift."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from tools.golden import (
    golden_crawl_round,
    golden_image_features,
    golden_image_near_pairs,
    golden_minhash_fast_pairs,
    golden_simhash_fast_pairs,
    xxh64,
)

SF = "/root/testdata/sf0.001"


def test_xxh64_matches_spark_xxhash64(spark):
    strs = ["", "a", "abc", "https://h3.example/d/123",
            "0123456789abcdef0123456789abcdef-long-tail", "中文字符串"]
    df = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    got = {r.s: r.h for r in df.collect()}
    for s in strs:
        assert got[s] == xxh64(s.encode()), s


def test_golden_crawl_round_matches_spark(spark):
    import __spark_entry__ as entry

    spark_rows = sorted(
        (
            (r.url, r.host, r.host_seq, r.scheduled_ts, r.title,
             r.n_outlinks, r.new_urls_total)
            for r in entry.q_crawl_round(spark, SF).collect()
        )
    )
    golden_rows = sorted(
        (
            (g["url"], g["host"], g["host_seq"], g["scheduled_ts"], g["title"],
             g["n_outlinks"], g["new_urls_total"])
            for g in golden_crawl_round(SF)
        )
    )
    assert spark_rows == golden_rows


def test_flagship_crawl_round_equals_run_round(spark, tmp_path):
    """The flagship query and the production round run the same stages:
    round 1 of ``run_round`` over the derived corpus commits exactly the
    flagship's fetched rows and discovery count, so the golden oracle
    above checks ``run_round`` too."""
    import __spark_entry__ as entry
    from webscraper_spark.plans.round import init_crawl, prepare_pages, run_round
    from webscraper_spark.sources.tables import TableStore

    pages, frontier, hosts = entry._derived_corpus(spark, SF)
    store = TableStore(spark, str(tmp_path / "crawl"))
    init_crawl(store, frontier.select("url", "priority"), hosts)
    lineage = run_round(store, prepare_pages(pages), 1, per_host_budget=3)

    cols = ["url", "host", "host_seq", "scheduled_ts", "title", "n_outlinks"]
    committed = sorted(
        tuple(r) for r in store.read_round("fetched", 1)
        .filter(F.col("fetch_status") == "ok").select(cols).collect()
    )
    flagship = entry.q_crawl_round(spark, SF).collect()
    assert committed == sorted(tuple(r[c] for c in cols) for r in flagship)
    assert len(committed) > 0
    assert {r.new_urls_total for r in flagship} == {lineage["new_urls"]}


def test_golden_minhash_fast_matches_spark(spark):
    from webscraper_spark.operators.similarity import lsh_candidate_pairs_pandas

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs_pandas(docs, n_hashes=32, k=3, bands=8).collect()
    }
    want = {(g["id_a"], g["id_b"]) for g in golden_minhash_fast_pairs(SF)}
    assert got == want


def test_golden_simhash_fast_matches_spark(spark):
    from webscraper_spark.operators.similarity import simhash_near_pairs_fast

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs_fast(
            docs, bits=30, bands=3, max_hamming=3
        ).collect()
    }
    want = {(g["id_a"], g["id_b"]): g["hamming"] for g in golden_simhash_fast_pairs(SF)}
    assert got == want


def test_golden_image_features_matches_spark(spark):
    import __spark_entry__ as entry

    got = {
        r.media_id: (r.width, r.height, r.mean_luma, r.phash, r.decode_error)
        for r in entry.q_image_features(spark, SF).collect()
    }
    want = {
        g["media_id"]: (g["width"], g["height"], g["mean_luma"], g["phash"],
                        g["decode_error"])
        for g in golden_image_features(40, n_jpeg=8)
    }
    assert got == want
    # the JPEG slice decoded for real (no error rows)
    assert all(got[i][4] is None for i in range(40, 48))


def test_golden_image_near_pairs_matches_spark(spark):
    import __spark_entry__ as entry

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in entry.q_image_near_pairs(spark, SF).collect()
    }
    want = {
        (g["id_a"], g["id_b"]): g["hamming"] for g in golden_image_near_pairs(40)
    }
    assert got == want

"""webscraper_spark — a PySpark-native crawl-frontier + fetch-scheduler engine.

A from-scratch re-expression of the capabilities of the reference
``matthewprisco/WebScraper`` (single-process fetch-and-parse loops) as a
distributed Spark pipeline over Parquet/Iceberg-style tables of
Common-Crawl-shaped pages ``(url, warc_ts, html, text, lang)``.

Layout
------
``functions/``   scalar kernels: URL canonicalization, xxhash64, string
                 coercion (convalue / clean_rating / normalize_string),
                 HTML text + outlink extraction (Arrow-vectorized).
``operators/``   relational operators: seen-set dedup (exact anti-join;
                 broadcast Bloom pre-probe for queries), politeness scheduler
                 (per-host ranking window + budget + skew salting),
                 geo categorization (multi-strategy fallback join),
                 similarity (minhash-LSH / simhash / ngram-jaccard / ANN),
                 text statistics (lang-id, quality, tokens, fingerprints).
``sources/``     round-versioned table layer (parquet dirs + manifest,
                 MERGE/upsert emulation, snapshot resume).
``plans/``       the crawl round job and multi-round pipeline.
``streaming/``   Structured Streaming variant of the round.

Nothing here is copied from the reference; reference file:line citations in
docstrings identify the *behavior* being re-expressed.
"""

__version__ = "0.1.0"

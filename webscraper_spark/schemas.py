"""Fixed explicit StructTypes for every engine table.

The reference's schema system is dynamic/implicit (CSV headers from the
first row — ``CrunchBase Follow/crunchbase_matching.py:83``; JSON keys
probed with multi-name ``.get()`` fallbacks —
``Quarterly Runner/GlassDoor/Glassdoor_Scraper_New.py:94``). The engine
never infers: every table has a pinned StructType so plans are stable and
parquet scans prune columns (critical: nothing but the extract stage may
ever read ``pages.html``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- input: Common-Crawl-style pages (authoritative shape per BASELINE.json
# input_hint). In the sandbox this table IS the web: a "fetch" is an
# equi-join of the scheduled frontier against it on canonical url.
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# --- frontier: the distributed work list (reference analog: the
# companies-to-scrape JSON/CSV lists, Glassdoor_url_finder.py:236-256).
FRONTIER = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),  # xxhash64(canonical url)
        T.StructField("url", T.StringType(), False),  # canonical form
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),  # 0 = highest
        T.StructField("discovered_round", T.IntegerType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("next_fetch_ts", T.TimestampType(), True),  # backoff clock
    ]
)

# --- seen: ground-truth URL-seen membership (reference analog: the Python
# set of normalized names, crunchbase_matching.py:57-62). Membership is an
# exact anti-join on url_hash; a Bloom filter is only ever a cache over it.
SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
    ]
)

# --- fetched: per-round fetch + extraction results (reference analog: the
# html_dumps file cache + CSV result logs, Glassdoor_Scraper_New.py:155-166).
FETCHED = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("host_seq", T.IntegerType(), False),  # per-host fetch order
        T.StructField("scheduled_ts", T.TimestampType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("n_outlinks", T.IntegerType(), True),
        T.StructField("fetch_status", T.StringType(), False),  # ok | miss | error
    ]
)

# --- hosts: politeness/robots dimension (reference behavior: hard-coded
# sleeps, Glassdoor_url_finder.py:330; robots awareness claimed in
# Quarterly Runner/README.md:300-301 but absent in code — implemented here).
HOSTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("robots_txt", T.StringType(), True),
        T.StructField("crawl_delay_ms", T.LongType(), False),
        T.StructField("next_allowed_ts", T.TimestampType(), False),
    ]
)

# --- metrics: one row per (round, host-shard) — per-partition lineage
# (reference analog: progress prints + run-log JSON,
# Glassdoor_url_finder.py:283-327, LinkedIn-Updated-Script.py:76-99).
METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("missed", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
        T.StructField("bytes_html", T.LongType(), False),
        T.StructField("elapsed_sec", T.DoubleType(), False),
    ]
)

# --- seeds: crawl seed list (reference: unmatched_companies.csv /
# companies_without_glassdoor.json shapes).
SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("record_id", T.StringType(), True),
    ]
)

# --- geo_dim: location dimension (reference: all_locations.json,
# LinkedIn-Updated-Script.py:424-434).
GEO_DIM = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("record_id", T.StringType(), False),
        T.StructField("geo_id", T.StringType(), True),
        T.StructField("loc_type", T.StringType(), False),
    ]
)

# --- page_locations: exploded {location: count} histogram facts
# (reference: ee_counts maps, LinkedIn-Updated-Script.py:1200-1205).
PAGE_LOCATIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("location", T.StringType(), False),
        T.StructField("cnt", T.IntegerType(), False),
    ]
)

# --- crm: upsert-target snapshot (reference: Airtable Company table probed
# by crunchbase_matching.py:36-53).
CRM = T.StructType(
    [
        T.StructField("record_id", T.StringType(), False),
        T.StructField("company_name", T.StringType(), False),
    ]
)

# Struct returned by the extraction UDF (functions/extract.py).
EXTRACTED = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
        T.StructField("rating", T.DoubleType(), True),
        T.StructField("review_count", T.LongType(), True),
        T.StructField("engaged", T.BooleanType(), True),
    ]
)

# Struct returned by the crawl round's fused kernel (functions/extract.py):
# canonical outlinks, and the raw href count that ``fetched.n_outlinks``
# records.
ROUND_EXTRACTED = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
        T.StructField("n_outlinks", T.IntegerType(), True),
    ]
)

# (The robots-rules struct lives in functions/robots.py next to its parser.)

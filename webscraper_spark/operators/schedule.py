"""Politeness scheduler — the reference's sleep loop as a ranking window.

Reference behavior (W1/C4): a strict sequential for-loop per run with
``time.sleep(random.uniform(2,5))`` between items and fixed page dwells
(``Glassdoor_url_finder.py:330``, ``Glassdoor_Scraper_New.py:583,645,892``)
— i.e., a serial per-host rate limit enforced by wall-clock sleeping.

The engine replaces wall-clock sleeps with *logical* politeness clocks:

    rank        = row_number over (host) ordered by (priority, url_hash)
    scheduled_ts = host.next_allowed_ts + (rank-1) * crawl_delay
    admitted    = rank <= per_host_budget        (per-round budget)

which is exactly a min-heap-by-next-allowed-time priority queue, expressed
as a window so Spark executes it as a shuffle + sort instead of a loop.
Robots rules (C5), parsed once into the hosts snapshot, gate admission
before ranking; per-host clocks advance by ``admitted_count *
crawl_delay`` at commit, so consecutive scheduled fetches on one host are
always ≥ crawl_delay apart — across rounds too (property-tested
politeness invariant, SURVEY §5.2.4).

Skew: the budget filter compiles to Catalyst's WindowGroupLimit (map-side
per-host top-k before the shuffle), so a Zipf-head host cannot serialize
a round into one task; :mod:`.topk` keeps an explicit salted two-phase
variant for engines without that rule (byte-identical per-host order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.robots import parse_robots_udf, robots_allows_col
from .topk import topk_per_group

DEFAULT_DELAY_MS = 2000


def with_robots_rules(hosts: DataFrame) -> DataFrame:
    """``hosts`` plus its parsed robots.txt: ``robots_rules`` (the ``*``
    group's ordered ``+``/``-`` prefixes) and ``robots_delay_ms`` (its
    Crawl-delay, null when absent). The one Python pass over robots
    bodies: ``init_crawl`` stores the result in the hosts snapshot and
    every later snapshot carries it forward, so a frame that already has
    the columns is returned as is."""
    if "robots_rules" in hosts.columns:
        return hosts
    parsed = hosts.withColumn("__rules", parse_robots_udf(F.col("robots_txt")))
    return parsed.select(
        *hosts.columns,
        F.col("__rules.rules").alias("robots_rules"),
        F.col("__rules.crawl_delay_ms").alias("robots_delay_ms"),
    )


def hosts_with_rules(hosts: DataFrame) -> DataFrame:
    """Per host: robots rules and the effective crawl delay (robots
    Crawl-delay if present else the host's configured delay). Uses the
    snapshot's parsed columns; a frame without them (a raw hosts table,
    or a store written before they existed) is parsed on read."""
    return with_robots_rules(hosts).select(
        "host",
        "next_allowed_ts",
        "robots_rules",
        F.coalesce(
            F.col("robots_delay_ms"),
            F.col("crawl_delay_ms"),
            F.lit(DEFAULT_DELAY_MS),
        ).alias("delay_ms"),
    )


def schedule_round(
    frontier: DataFrame,
    hosts: DataFrame,
    per_host_budget: int,
    round_start_ts=None,
    n_salt: int = 1,
) -> DataFrame:
    """Admit + order + timestamp this round's fetches.

    Returns columns: frontier's + ``host_seq`` (1-based per-host politeness
    sequence), ``scheduled_ts``, ``delay_ms``. Unknown hosts get default
    politeness (allowed, DEFAULT_DELAY_MS, clock = round start).

    Scale notes: the frontier→hosts join broadcasts hosts (~|distinct
    hosts| rows); at 10^8 hosts the hint must go so Spark plans a shuffle
    join co-partitioned on host. Ranking is the salted top-k; everything
    downstream sees ≤ budget rows per host.
    """
    hd = hosts_with_rules(hosts)
    joined = frontier.join(F.broadcast(hd), on="host", how="left")

    # backoff gate: rows whose next_fetch_ts is in the logical future wait
    if round_start_ts is not None:
        joined = joined.filter(
            F.col("next_fetch_ts").isNull()
            | (F.col("next_fetch_ts") <= F.lit(round_start_ts))
        )

    # robots admission (C5): path prefix match against the host's rules —
    # a JVM expression (robots_allows_col), so the per-frontier-row gate
    # never crosses the Python boundary (guide §4.1; the old pandas UDF
    # shipped every row's path and rule array to Python and back)
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    joined = joined.withColumn(
        "__allowed",
        F.when(F.col("robots_rules").isNull(), F.lit(True)).otherwise(
            robots_allows_col(path, F.col("robots_rules"))
        ),
    ).filter(F.col("__allowed")).drop("__allowed", "robots_rules")

    ranked = topk_per_group(
        joined,
        group_cols=["host"],
        order_cols=[F.col("priority").asc(), F.col("url_hash").asc()],
        k=per_host_budget,
        rank_col="host_seq",
        n_salt=n_salt,
    )

    delay = F.coalesce(F.col("delay_ms"), F.lit(DEFAULT_DELAY_MS))
    # Clamp the per-host clock to the round floor: a host idle for rounds
    # has next_allowed_ts in the past, and fetches cannot be scheduled
    # before the round starts. Matches the streaming scheduler's
    # max(state clock, batch floor) exactly (parity-tested with a host
    # that skips a round).
    if round_start_ts is not None:
        base = F.greatest(
            F.coalesce(F.col("next_allowed_ts"), F.lit(round_start_ts)),
            F.lit(round_start_ts),
        )
    else:
        base = F.col("next_allowed_ts")
    scheduled = ranked.withColumn(
        "scheduled_ts",
        F.timestamp_add(
            "MILLISECOND",
            ((F.col("host_seq") - F.lit(1)) * delay).cast("long"),
            base,
        ),
    ).withColumn("delay_ms", delay)
    return scheduled.drop("next_allowed_ts")


def advance_host_clocks(
    hosts: DataFrame, scheduled: DataFrame, round_start_ts=None
) -> DataFrame:
    """Post-round host-clock update: next_allowed_ts advances past the last
    scheduled fetch + one delay (the politeness gap carries across rounds).
    Every other hosts column, the parsed robots ones included, carries
    forward unchanged."""
    per_host = scheduled.groupBy("host").agg(
        F.count("*").alias("__n"), F.max("delay_ms").alias("__delay")
    )
    out = hosts.join(per_host, on="host", how="left")
    # Advance from the SAME clamped base the scheduler used, so the
    # politeness gap invariant (next fetch ≥ last scheduled + delay)
    # holds across rounds even for hosts whose clock was in the past.
    if round_start_ts is not None:
        base = F.greatest(
            F.coalesce(F.col("next_allowed_ts"), F.lit(round_start_ts)),
            F.lit(round_start_ts),
        )
    else:
        base = F.col("next_allowed_ts")
    advanced = F.when(
        F.col("__n").isNotNull(),
        F.timestamp_add(
            "MILLISECOND", (F.col("__n") * F.col("__delay")).cast("long"), base
        ),
    ).otherwise(F.col("next_allowed_ts"))
    return out.withColumn("next_allowed_ts", advanced).drop("__n", "__delay")

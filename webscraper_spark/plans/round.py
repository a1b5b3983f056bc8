"""The crawl round (EP2's discover + fetch+extract stages fused; SURVEY
§3, §7.1 step 6). A ``round_bulk`` round runs 21 Spark jobs, as
crawlbench's traced run counts them (``tools/layer_profile.py --round`` lists
them).

Dataflow per round K::

    frontier ⋈ hosts (robots parsed at init) ──schedule──▶ scheduled
    scheduled ⟕ pages (newest-wins) ──extract kernel──▶ fetched
        (every scheduled row once: text, title, canonical outlinks,
         __hit; html dropped after the kernel)
    fetched[__hit] ──explode(outlinks) ─dedupe ─anti-join seen──▶ new
    writes: fetched first (fills the scheduled + fetched caches), then
            seen+=new, frontier=next snapshot, hosts=advanced clocks
            (+ seen_deletes) as concurrent jobs; metrics = one
            per-shard aggregate collected to the driver
    commit: the manifest names round K

The first three lines are the lazy stages :func:`fetch_and_extract` and
:func:`discover_new`, shared with the flagship ``crawl_round`` query.
A page crosses into Python once: the extract kernel parses it and
canonicalizes its hrefs against the page url in the same pass, so
discovery is JVM-only; robots.txt is parsed once, by ``init_crawl``.

Every state change lands in one `TableStore.commit_round` — a crashed
round K is invisible and idempotently re-runnable (C8 resume semantics;
the reference's analog is JSON-checkpoint short-circuiting,
``LinkedIn-Updated-Script.py:188-194``).

Scale shape: the only wide operations are (a) the scheduler's salted
ranking window, (b) the fetch equi-join on url_hash (url equality
guards it against hash collisions) — at cluster scale both sides
bucketed by url_hash so this is co-partitioned, (c) the
exact seen anti-join on url_hash — at cluster scale the seen table is
bucketed by url_hash, so only the candidates shuffle
(``tests/test_bucketing.py``) — and (d) one groupBy for metrics, whose
at most ``N_METRIC_SHARDS`` rows are the round's only driver collect.
``pages.html`` is only read behind the scheduled-join (column pruning
keeps it out of every other scan).
"""

from __future__ import annotations

import time as _time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.canon import with_canonical
from ..functions.extract import extract_round_udf
from ..operators.dedup import anti_join_seen, dedup_latest
from ..operators.hoststats import throttle_admission
from ..operators.schedule import (
    advance_host_clocks, schedule_round, with_robots_rules,
)
from ..schemas import FRONTIER, METRICS
from ..sources.tables import TableStore

BASE_ROUND_EPOCH = datetime(2025, 7, 25, 0, 0, 0)
ROUND_INTERVAL = timedelta(hours=1)
RETRY_BACKOFF = timedelta(minutes=30)
N_METRIC_SHARDS = 32
METRIC_COUNTS = ("scheduled", "fetched", "missed", "new_urls", "bytes_html")


def round_clock(round_no: int) -> datetime:
    """Logical round start time — derived from the round number, never
    wall-clock (determinism invariant, SURVEY §7.4)."""
    return BASE_ROUND_EPOCH + round_no * ROUND_INTERVAL


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Canonicalize the pages table and keep the newest capture per url
    (C10 newest-wins). Done once per corpus, reused across rounds —
    at cluster scale this is the materialized, url_hash-bucketed form of
    the raw WARC-derived table.

    The result is hash-partitioned on ``url_hash``, but no round's fetch
    join uses that partitioning yet: under the session's 64 MiB
    broadcast threshold Spark broadcasts the whole cached table, html
    included, to the join every round."""
    canon = with_canonical(pages)
    deduped = dedup_latest(canon, ["url_hash"], "warc_ts")
    return deduped.repartition("url_hash")


def init_crawl(
    store: TableStore, seeds: DataFrame, hosts: DataFrame
) -> None:
    """Round 0: canonicalized seeds become the frontier AND the initial
    seen membership (a seed is by definition discovered). The hosts
    snapshot stores each host's parsed robots rules, so rounds schedule
    without a Python pass."""
    f = (
        with_canonical(seeds)
        .dropDuplicates(["url_hash"])
        .select(
            "url_hash",
            "url",
            "host",
            F.col("priority").cast("int").alias("priority"),
            F.lit(0).alias("discovered_round"),
            F.lit(0).alias("retry_count"),
            F.lit(None).cast("timestamp").alias("next_fetch_ts"),
        )
    )
    store.write("frontier", f, 0)
    store.write("seen", f.select("url_hash", "url", "host", "discovered_round"), 0)
    store.write("hosts", with_robots_rules(hosts), 0)
    store.commit_round(0, lineage={"seeds": f.count()})


def fetch_and_extract(
    frontier: DataFrame, hosts: DataFrame, pages_latest: DataFrame,
    start_ts: datetime, per_host_budget: int, n_salt: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Schedule, fetch and extract one round. Returns ``(scheduled,
    fetched)``: the politeness schedule, and every scheduled row joined
    once to its page and run once through the extract kernel. ``fetched``
    carries the schedule's columns, the page's ``warc_ts``, ``lang`` and
    ``__html_len``, the kernel's ``title``, ``text``, canonical
    ``outlinks`` and raw href count ``n_outlinks``, and ``__hit``; html
    stops at the kernel. A miss (no page, a null page, or a url_hash
    collision) has ``__hit`` false and null page and kernel columns.
    Lazy: nothing is persisted, the caller decides."""
    # 1. politeness scheduling (robots + ranking window + budget)
    scheduled = schedule_round(
        frontier, hosts, per_host_budget, round_start_ts=start_ts, n_salt=n_salt
    )

    # 2. "fetch" = equi-join against the pages table on url_hash ALONE.
    # pages_latest is unique per url_hash (newest-wins dedup), so the join
    # yields at most one match; the post-join url equality demotes 64-bit
    # hash collisions (possible at 10^10 keys) to misses instead of
    # fetching the wrong page.
    page_cols = pages_latest.select(
        F.col("url_hash"), F.col("url").alias("__page_url"),
        F.col("warc_ts"), F.col("html"), F.col("lang"),
    )
    joined = scheduled.join(page_cols, on="url_hash", how="left").withColumn(
        "html", F.when(F.col("__page_url") == F.col("url"), F.col("html"))
    )
    hit = F.col("html").isNotNull()

    # 3. extraction + outlink canonicalization (one Arrow batch at a time);
    # a miss reaches the kernel with null html and gets null fields back
    fetched = joined.withColumn("ex", extract_round_udf("html", "url")).select(
        *scheduled.columns,
        F.when(hit, F.col("warc_ts")).alias("warc_ts"),
        F.when(hit, F.col("lang")).alias("lang"),
        F.col("ex.title").alias("title"),
        F.col("ex.text").alias("text"),
        F.col("ex.outlinks").alias("outlinks"),
        F.col("ex.n_outlinks").alias("n_outlinks"),
        F.length(F.col("html")).alias("__html_len"),
        hit.alias("__hit"),
    )
    return scheduled, fetched


def discover_new(fetched: DataFrame, seen_keys: DataFrame) -> DataFrame:
    """Outlink discovery: explode the canonical ``fetched.outlinks`` →
    one row per url carrying its sources' min priority (``__pprio``) →
    anti-join on ``url_hash`` against ``seen_keys``. Returns ``url,
    __pprio, host, url_hash``. Lazy."""
    links = fetched.select(
        F.explode("outlinks").alias("url"),
        F.col("priority").alias("src_priority"),
    )
    candidates = (
        links.groupBy("url")
        .agg(F.min("src_priority").alias("__pprio"))
        .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
        .withColumn("url_hash", F.xxhash64(F.col("url")))
    )
    return anti_join_seen(candidates, seen_keys)


def _merge_extra_lineage(lineage: dict, extra_lineage: "dict | None") -> dict:
    """Fold caller-provided facts into the round's lineage record before
    the atomic commit (e.g. the incremental WARC ingest's file count —
    its discovery state is exactly-once only if it flips with the same
    manifest rename). Built-in counts are authoritative: a caller key
    that collides would corrupt the committed round record, so collisions
    raise instead of silently overwriting."""
    if extra_lineage:
        clash = set(extra_lineage) & set(lineage)
        if clash:
            raise ValueError(
                f"extra_lineage keys collide with built-in lineage: {sorted(clash)}"
            )
        lineage.update(extra_lineage)
    return lineage


def run_round(
    store: TableStore,
    pages_latest: DataFrame,
    round_no: int,
    per_host_budget: int = 5,
    max_retries: int = 2,
    n_salt: int = 1,
    recrawl: DataFrame | None = None,
    host_reputation: DataFrame | None = None,
    extra_lineage: dict | None = None,
) -> dict:
    """Execute round ``round_no`` (requires round ``round_no - 1``
    committed). Returns the round's lineage counts.

    ``recrawl``: optional DataFrame with a ``url`` column — forced
    re-crawl invalidations. Those urls are deleted from the effective
    seen-set (recorded in the ``seen_deletes`` delta), re-enqueued at top
    priority, and re-added to ``seen`` as discovered this round.

    ``host_reputation``: optional :func:`..operators.hoststats.host_stats`
    table — discovered URLs from hosts over the dup-rate / under the
    quality thresholds are dropped at admission, low-English hosts
    demoted (see ``throttle_admission``). Typically computed from the
    previous rounds' ``fetched`` text.
    """
    t_round0 = _time.monotonic()
    prev = round_no - 1
    frontier = store.read_snapshot("frontier", up_to=prev)
    hosts = store.read_snapshot("hosts", up_to=prev)
    seen = store.read_delta("seen", up_to=prev)
    if frontier is None or hosts is None or seen is None:
        raise ValueError(f"round {prev} not committed; cannot run round {round_no}")

    # historical forced-recrawl deletions: a key is un-seen when its last
    # deletion is newer than its last (re-)discovery
    deletes = store.read_delta("seen_deletes", up_to=prev)
    if deletes is not None:
        dmax = deletes.groupBy("url_hash").agg(F.max("deleted_round").alias("__dr"))
        seen_eff = (
            seen.join(dmax, on="url_hash", how="left")
            .filter(F.col("__dr").isNull() | (F.col("discovered_round") >= F.col("__dr")))
            .drop("__dr")
        )
    else:
        seen_eff = seen

    recrawl_rows = None
    if recrawl is not None:
        recrawl_rows = (
            with_canonical(recrawl.select("url"))
            .dropDuplicates(["url_hash"])
            .select(
                "url_hash", "url", "host",
                F.lit(0).alias("priority"),  # recrawls jump the queue
                F.lit(round_no).alias("discovered_round"),
                F.lit(0).alias("retry_count"),
                F.lit(None).cast("timestamp").alias("next_fetch_ts"),
            )
            .persist()
        )
        frontier = frontier.join(
            recrawl_rows.select("url_hash"), on="url_hash", how="left_anti"
        ).unionByName(recrawl_rows)

    start_ts = round_clock(round_no)

    # 1-3. schedule → fetch → extract, cached for their several consumers;
    # hits and misses are filters of the one cached fetched frame
    scheduled, fetched = (
        df.persist()
        for df in fetch_and_extract(
            frontier, hosts, pages_latest, start_ts, per_host_budget, n_salt
        )
    )
    hit = F.col("__hit")

    # 4. outlink discovery against the admission membership = effective
    # seen (post-deletions) plus this round's recrawl keys (they are
    # re-added below, so candidates must not re-admit them)
    seen_admit = seen_eff.select("url_hash")
    if recrawl_rows is not None:
        seen_admit = seen_admit.unionByName(recrawl_rows.select("url_hash"))
    admitted = discover_new(fetched.filter(hit), seen_admit)
    if host_reputation is not None:
        # host-reputation gate on admission: candidates from duplicate-
        # farm / junk hosts never enter the frontier, low-English hosts
        # are demoted (the CC-scale host filter; unknown hosts pass)
        admitted = throttle_admission(
            admitted.withColumnRenamed("__pprio", "priority"),
            host_reputation,
        ).withColumnRenamed("priority", "__pprio")
    new_urls = admitted.select(
        "url_hash",
        "url",
        "host",
        (F.col("__pprio") + 1).cast("int").alias("priority"),
        F.lit(round_no).alias("discovered_round"),
        F.lit(0).alias("retry_count"),
        F.lit(None).cast("timestamp").alias("next_fetch_ts"),
    ).persist()

    # 5. next frontier: remove completed fetches, back off misses, admit new
    retried = (  # misses beyond max_retries simply fall out of the frontier
        fetched.filter(~hit & (F.col("retry_count") < max_retries))
        .select(
            "url_hash", "url", "host", "priority", "discovered_round",
            (F.col("retry_count") + 1).alias("retry_count"),
            F.lit(start_ts + RETRY_BACKOFF).alias("next_fetch_ts"),
        )
    )
    remaining = frontier.join(
        scheduled.select("url_hash"), on="url_hash", how="left_anti"
    )
    next_frontier = (
        remaining.select(*[f.name for f in FRONTIER.fields])
        .unionByName(retried.select(*[f.name for f in FRONTIER.fields]))
        .unionByName(new_urls.select(*[f.name for f in FRONTIER.fields]))
    )

    # 6. fetched rows (per FETCHED schema)
    fetched_rows = fetched.select(
        "url_hash", "url", "host",
        F.lit(round_no).alias("round"),
        F.col("host_seq").cast("int"),
        "scheduled_ts", "warc_ts", "text", "title", "lang", "n_outlinks",
        F.when(hit, "ok").otherwise("miss").alias("fetch_status"),
    )
    seen_add = new_urls.select("url_hash", "url", "host", "discovered_round")
    writes = []
    if recrawl_rows is not None:
        seen_add = seen_add.unionByName(
            recrawl_rows.select("url_hash", "url", "host", "discovered_round")
        )
        writes.append(("seen_deletes", recrawl_rows.select(
            "url_hash", F.lit(round_no).alias("deleted_round")
        )))
    writes += [
        ("seen", seen_add),
        ("frontier", next_frontier),
        ("hosts", advance_host_clocks(hosts, scheduled, round_start_ts=start_ts)),
    ]

    # 7. durable writes, then the atomic commit. `fetched` goes first: its
    # job fills the scheduled and fetched caches, which every other write
    # reads. The rest read none of each other's output, so they run as
    # concurrent jobs; the commit waits for all of them, and any failure
    # propagates with the round left uncommitted.
    store.write("fetched", fetched_rows, round_no)
    # one wrapper per write: each hands its thread its own copy of the
    # caller's local properties (job group, tags); writes sharing a copy
    # would overwrite each other's SQL execution id in it
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for done in [
            pool.submit(inheritable_thread_target(store.spark)(store.write),
                        name, df, round_no)
            for name, df in writes
        ]:
            done.result()

    # 8. per-shard lineage metrics (C9): shard = pmod(xxhash64(host), N),
    # one aggregate over the cached fetched rows tagged with this round's
    # admissions; at most N_METRIC_SHARDS rows reach the driver
    shard = F.pmod(F.xxhash64("host"), F.lit(N_METRIC_SHARDS)).cast("int")

    def counts(df, **cols):
        return df.select(shard.alias("shard"), *[
            cols.get(c, F.lit(0)).alias(c) for c in METRIC_COUNTS
        ])

    tagged = counts(
        fetched, scheduled=F.lit(1), fetched=hit.cast("int"),
        missed=(~hit).cast("int"), bytes_html=F.coalesce("__html_len", F.lit(0)),
    ).unionByName(counts(new_urls, new_urls=F.lit(1)))
    per_shard = sorted(
        tagged.groupBy("shard")
        .agg(*[F.sum(c).alias(c) for c in METRIC_COUNTS])
        .collect()
    )
    lineage = {
        c: sum(r[c] for r in per_shard)
        for c in ("scheduled", "fetched", "missed", "new_urls")
    }
    # Real per-round wall time (C9/A5): measured on the driver AFTER the
    # heavy writes have executed, stamped as a literal into the metrics
    # write. Determinism-safe — it never feeds query output or any table
    # the resume-parity invariant covers; the reference's running-avg/ETA
    # (Glassdoor_url_finder.py:311-327) derives from exactly this value.
    elapsed_sec = round(_time.monotonic() - t_round0, 3)
    lineage["elapsed_sec"] = elapsed_sec
    # a pandas frame goes to the JVM as one Arrow batch: one local-scan job
    metrics = pd.DataFrame(
        [(round_no, *r, elapsed_sec) for r in per_shard],
        columns=METRICS.fieldNames(),
    )
    store.write("metrics", store.spark.createDataFrame(metrics, METRICS), round_no)

    if recrawl_rows is not None:
        lineage["recrawled"] = recrawl_rows.count()
    _merge_extra_lineage(lineage, extra_lineage)
    store.commit_round(round_no, lineage=lineage)
    for df in (scheduled, fetched, new_urls, recrawl_rows):
        if df is not None:
            df.unpersist()
    return lineage


def run_crawl(
    store: TableStore,
    pages: DataFrame,
    seeds: DataFrame,
    hosts: DataFrame,
    n_rounds: int,
    per_host_budget: int = 5,
    resume: bool = True,
    auto_host_reputation: bool = False,
    **round_kwargs,
) -> list[dict]:
    """Multi-round driver with resume: picks up after the last committed
    round (C8). An interrupted run and a fresh run converge to identical
    tables (tested).

    ``auto_host_reputation``: refresh the host-reputation table from the
    crawl's own fetched text before each round (none before anything is
    fetched, so round 1 runs ungated) and gate admission with it — the
    self-correcting loop: a host that keeps serving duplicates or junk
    stops earning frontier slots. Explicit ``host_reputation=`` in
    round_kwargs wins over the automatic one."""
    from ..operators.hoststats import host_stats_from_store

    pages_latest = prepare_pages(pages).persist()
    last = store.last_committed_round()
    if last is None:
        init_crawl(store, seeds, hosts)
        last = 0
    elif not resume:
        raise ValueError("store already initialized; pass resume=True")
    lineages = []
    for r in range(last + 1, n_rounds + 1):
        kwargs = dict(round_kwargs)
        if auto_host_reputation and "host_reputation" not in kwargs:
            kwargs["host_reputation"] = host_stats_from_store(store, up_to=r - 1)
        lineage = run_round(
            store, pages_latest, r, per_host_budget=per_host_budget, **kwargs
        )
        # running-mean ETA, the reference's progress readout
        # (Glassdoor_url_finder.py:311-327): avg secs/round so far ×
        # rounds remaining
        done = [l["elapsed_sec"] for l in lineages] + [lineage["elapsed_sec"]]
        lineage["eta_sec"] = round(sum(done) / len(done) * (n_rounds - r), 3)
        lineages.append(lineage)
    pages_latest.unpersist()
    return lineages

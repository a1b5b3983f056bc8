"""Per-layer tracing for the crawl benchmark (``--trace 1`` runs only).

Three sources, all outside the engine's own code:

- :class:`TimedStore`, a ``TableStore`` that times every call into the
  ``sources.tables`` layer. ``run_round`` builds its dataflow lazily, so
  each write executes the plan upstream of it and the write times fall on
  phase lines: ``fetched`` = schedule + fetch join + extract, ``seen`` =
  discovery + canonicalization + probe + anti-join, ``frontier`` = the
  snapshot rewrite. Time from round entry to the first write is the
  prologue (snapshot reads, seen-count sizing, Bloom build).
- Spark's event log (uncompressed, not rolled), parsed after the session
  stops into per-job-group totals of jobs, stages, tasks, executor time,
  GC, shuffle, spill and the Python-worker SQL metrics.
- Probes that call single layers on the committed state of the last
  round: ``schedule_round``, the Bloom build, ``anti_join_seen`` and
  ``bloom_filtered_new``, and the Python kernels on a fixed page sample.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import canonicalize_url
from webscraper_spark.functions.extract import extract_fields
from webscraper_spark.functions.robots import parse_robots
from webscraper_spark.operators.dedup import BloomSeenSet, anti_join_seen, bloom_filtered_new
from webscraper_spark.operators.schedule import schedule_round
from webscraper_spark.plans.round import round_clock
from webscraper_spark.sources.tables import TableStore
from webscraper_spark.sources.warc import build_warc, parse_warc_records

MB = 1 << 20
KERNEL_SAMPLE = 1000
KERNEL_MIN_S = 0.3
PHASES = ("prologue", "write_fetched", "write_seen", "write_frontier",
          "write_hosts", "write_metrics", "commit", "other")
UNITS = {
    "round.jobs": "count", "round.driver_gap_s": "s", "round.prologue_s": "s",
    "round.largest_phase_share": "ratio",
    "tables.write_fetched_s": "s", "tables.write_seen_s": "s", "tables.write_frontier_s": "s",
    "tables.write_hosts_s": "s", "tables.write_metrics_s": "s", "tables.commit_s": "s",
    "tables.read_s": "s", "tables.bytes_written_mb": "MB",
    "schedule.s": "s", "schedule.rows_in": "rows", "schedule.rows_out": "rows",
    "dedup.bloom_build_s": "s", "dedup.anti_join_s": "s", "dedup.layered_s": "s",
    "dedup.maybe_seen_frac": "ratio", "dedup.fpp_measured": "ratio",
    "extract.ms_per_page": "ms", "canon.us_per_href": "us", "robots.us_per_body": "us",
    "warc.us_per_record": "us",
    "python.worker_s": "s", "python.init_s": "s", "python.bytes_sent_mb": "MB",
    "python.bytes_returned_mb": "MB",
    "spark.stages": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.fetch_wait_s": "s", "spark.spill_mb": "MB",
    "trace.round_s": "s", "failed_frac": "ratio",
}
PY_METRICS = {
    "time to run Python workers": "py_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


@dataclass
class Call:
    op: str
    table: str
    start: float
    end: float
    nbytes: int = 0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class TimedStore(TableStore):
    """``TableStore`` that records each call's wall-clock interval."""

    def __init__(self, spark, root: str):
        super().__init__(spark, root)
        self.calls: list[Call] = []

    def _timed(self, op: str, table: str, fn, *args):
        start = time.time()
        try:
            return fn(*args)
        finally:
            self.calls.append(Call(op, table, start, time.time()))

    def write(self, name: str, df: DataFrame, round_no: int) -> None:
        self._timed("write", name, super().write, name, df, round_no)
        self.calls[-1].nbytes = _dir_bytes(self.part_path(name, round_no))

    def commit_round(self, round_no: int, lineage: dict | None = None) -> None:
        self._timed("commit", "", super().commit_round, round_no, lineage)

    def read_snapshot(self, name: str, up_to: int | None = None):
        return self._timed("read", name, super().read_snapshot, name, up_to)

    def read_delta(self, name: str, up_to: int | None = None):
        return self._timed("read", name, super().read_delta, name, up_to)

    def read_round(self, name: str, round_no: int):
        return self._timed("read", name, super().read_round, name, round_no)

    def round_breakdown(self, start: float, end: float) -> dict[str, float]:
        """Seconds per phase of the round that ran in ``[start, end]``,
        plus ``read`` seconds and ``bytes`` written."""
        inside = [c for c in self.calls if start <= c.start and c.end <= end]
        writes = [c for c in inside if c.op == "write"]
        out = dict.fromkeys(PHASES, 0.0)
        out["prologue"] = min((c.start for c in writes), default=end) - start
        for c in writes:
            out[f"write_{c.table}"] = out.get(f"write_{c.table}", 0.0) + c.end - c.start
        out["commit"] = sum(c.end - c.start for c in inside if c.op == "commit")
        out["other"] = (end - start) - sum(out[p] for p in PHASES if p != "other")
        out["read"] = sum(c.end - c.start for c in inside if c.op == "read")
        out["bytes"] = sum(c.nbytes for c in writes)
        return out


@dataclass
class GroupStats:
    """Event-log totals of one Spark job group."""
    jobs: int = 0
    intervals: list = field(default_factory=list)  # (submit_ms, complete_ms)
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    fetch_wait_ms: int = 0
    spill: int = 0
    py_ms: int = 0
    py_init_ms: int = 0
    py_sent: int = 0
    py_returned: int = 0

    def busy_s(self, start: float, end: float) -> float:
        """Length of the union of job intervals, clipped to ``[start, end]``
        (epoch seconds)."""
        total, reach = 0.0, start
        for s, e in sorted((s / 1e3, e / 1e3) for s, e in self.intervals):
            s, e = max(s, reach), min(e, end)
            if e > s:
                total += e - s
                reach = e
        return total


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from the one event log under ``log_dir``."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    submitted: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[e["Job ID"]] = g
                submitted[e["Job ID"]] = e["Submission Time"]
                for s in e["Stage IDs"]:
                    stage_group.setdefault(s, g)
                groups[g].jobs += 1
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                groups[job_group[jid]].intervals.append((submitted[jid], e["Completion Time"]))
            elif ev == "SparkListenerStageCompleted":
                groups[stage_group.get(e["Stage Info"]["Stage ID"], "")].stages += 1
            elif ev == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"], "")]
                g.tasks += 1
                m = e.get("Task Metrics") or {}
                g.run_ms += m.get("Executor Run Time", 0)
                g.cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.spill += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
                g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for a in e["Task Info"].get("Accumulables", []):
                    attr = PY_METRICS.get(a.get("Name"))
                    if attr and "Update" in a:
                        setattr(g, attr, getattr(g, attr) + int(a["Update"]))
    return groups


def _noop_s(df: DataFrame) -> float:
    """Wall seconds to execute ``df`` in full into the noop sink."""
    t = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t


def probe_schedule(store, budget: int, last_round: int) -> dict[str, float]:
    """``operators.schedule`` alone, on the last committed frontier/hosts."""
    frontier = store.read_snapshot("frontier", up_to=last_round)
    hosts = store.read_snapshot("hosts", up_to=last_round)
    scheduled = schedule_round(frontier, hosts, budget, round_start_ts=round_clock(last_round + 1))
    return {
        "schedule.s": _noop_s(scheduled),
        "schedule.rows_in": frontier.count(),
        "schedule.rows_out": scheduled.count(),
    }


def probe_dedup(spark, store, corpus, last_round: int) -> dict[str, float]:
    """``operators.dedup`` alone, on the last round's inputs: the seen-set
    committed before it and the outlinks of the pages it fetched."""
    seen = store.read_delta("seen", up_to=last_round - 1).select("url_hash")
    page_id = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    candidates = (
        store.read_round("fetched", last_round)
        .filter(F.col("fetch_status") == "ok")
        .select(F.explode(corpus.link_targets(page_id)).alias("url"))
        .distinct()
        .withColumn("url_hash", F.xxhash64("url"))
        .persist()
    )
    candidates.count()
    t = time.perf_counter()
    bloom = BloomSeenSet.build(seen)
    out = {"dedup.bloom_build_s": time.perf_counter() - t}
    out["dedup.anti_join_s"] = _noop_s(anti_join_seen(candidates, seen))
    out["dedup.layered_s"] = _noop_s(bloom_filtered_new(candidates, seen, bloom))
    probe = bloom.might_contain_udf(spark)
    tagged = candidates.join(seen.withColumn("__seen", F.lit(1)), "url_hash", "left").select(
        F.col("__seen").isNull().alias("new"), probe(F.col("url_hash")).alias("maybe")
    )
    row = tagged.agg(
        F.count("*").alias("n"),
        F.sum(F.col("maybe").cast("int")).alias("maybe"),
        F.sum(F.col("new").cast("int")).alias("new"),
        F.sum((F.col("new") & F.col("maybe")).cast("int")).alias("fp"),
    ).first()
    candidates.unpersist()
    out["dedup.maybe_seen_frac"] = row["maybe"] / max(1, row["n"])
    out["dedup.fpp_measured"] = row["fp"] / max(1, row["new"])
    return out


def _per_item_s(fn, n_items: int) -> float:
    """Seconds per item of ``fn`` (one pass over ``n_items`` items),
    repeated until at least ``KERNEL_MIN_S`` has elapsed."""
    reps, t = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t
        if elapsed >= KERNEL_MIN_S:
            return elapsed / (reps * n_items)


def probe_kernels(corpus) -> dict[str, float]:
    """``functions.*`` and ``sources.warc`` in-process on a fixed sample of
    the generated pages and every host's robots.txt."""
    pages = [(r["url"], bytes(r["html"]), r["warc_ts"])
             for r in corpus.pages.limit(KERNEL_SAMPLE).collect()]
    htmls = [h for _, h, _ in pages]
    hrefs = [(href, url) for (url, html, _) in pages for href in extract_fields(html)["outlinks"]]
    bodies = [r["robots_txt"] for r in corpus.hosts.select("robots_txt").collect()]
    warc = build_warc([{"url": u, "warc_ts": ts, "html": h} for u, h, ts in pages])
    if len(parse_warc_records(warc)) != len(pages):
        raise RuntimeError("WARC sample did not round-trip")
    return {
        "extract.ms_per_page": 1e3 * _per_item_s(
            lambda: [extract_fields(h) for h in htmls], len(htmls)),
        "canon.us_per_href": 1e6 * _per_item_s(
            lambda: [canonicalize_url(h, b) for h, b in hrefs], len(hrefs)),
        "robots.us_per_body": 1e6 * _per_item_s(
            lambda: [parse_robots(b) for b in bodies], len(bodies)),
        "warc.us_per_record": 1e6 * _per_item_s(lambda: parse_warc_records(warc), len(pages)),
    }


def layer_metrics(rounds: list[dict], groups: dict[str, GroupStats]) -> tuple[dict, str]:
    """Per-round means of the layer metrics over the timed rounds, and the
    name of the phase holding the largest share of round wall time.

    Each entry of ``rounds`` has ``group`` (its job group), ``start`` and
    ``end`` (epoch seconds) and ``phases`` (``TimedStore.round_breakdown``).
    """
    n = len(rounds)
    wall = sum(r["end"] - r["start"] for r in rounds)
    phase_s = {p: sum(r["phases"][p] for r in rounds) for p in PHASES}
    largest = max(PHASES, key=phase_s.get)
    g = [groups.get(r["group"], GroupStats()) for r in rounds]
    busy = sum(s.busy_s(r["start"], r["end"]) for s, r in zip(g, rounds))

    def mean(total):
        return total / n

    out = {
        "round.jobs": mean(sum(s.jobs for s in g)),
        "round.driver_gap_s": mean(wall - busy),
        "round.prologue_s": mean(phase_s["prologue"]),
        "round.largest_phase_share": phase_s[largest] / wall,
        "tables.write_fetched_s": mean(phase_s["write_fetched"]),
        "tables.write_seen_s": mean(phase_s["write_seen"]),
        "tables.write_frontier_s": mean(phase_s["write_frontier"]),
        "tables.write_hosts_s": mean(phase_s["write_hosts"]),
        "tables.write_metrics_s": mean(phase_s["write_metrics"]),
        "tables.commit_s": mean(phase_s["commit"]),
        "tables.read_s": mean(sum(r["phases"]["read"] for r in rounds)),
        "tables.bytes_written_mb": mean(sum(r["phases"]["bytes"] for r in rounds)) / MB,
        "python.worker_s": mean(sum(s.py_ms for s in g)) / 1e3,
        "python.init_s": mean(sum(s.py_init_ms for s in g)) / 1e3,
        "python.bytes_sent_mb": mean(sum(s.py_sent for s in g)) / MB,
        "python.bytes_returned_mb": mean(sum(s.py_returned for s in g)) / MB,
        "spark.stages": mean(sum(s.stages for s in g)),
        "spark.tasks": mean(sum(s.tasks for s in g)),
        "spark.executor_run_s": mean(sum(s.run_ms for s in g)) / 1e3,
        "spark.executor_cpu_s": mean(sum(s.cpu_ns for s in g)) / 1e9,
        "spark.gc_s": mean(sum(s.gc_ms for s in g)) / 1e3,
        "spark.shuffle_write_mb": mean(sum(s.shuffle_write for s in g)) / MB,
        "spark.shuffle_read_mb": mean(sum(s.shuffle_read for s in g)) / MB,
        "spark.fetch_wait_s": mean(sum(s.fetch_wait_ms for s in g)) / 1e3,
        "spark.spill_mb": mean(sum(s.spill for s in g)) / MB,
    }
    return out, largest

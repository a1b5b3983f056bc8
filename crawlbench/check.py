"""Output checks for a finished crawl cycle, run outside the timed region.

Per round, against the round's lineage record:

- scheduled = fetched + missed, and the committed ``fetched`` rows of the
  round (all, ``ok``, ``miss``) match those counts;
- no host was scheduled past the per-host budget (``host_seq`` and row
  count per host both at most the budget);
- the ``seen`` rows first discovered in the round number the lineage's
  ``new_urls``, and none of them repeats a ``url_hash`` already in
  ``seen``: no round admits a URL seen before it.

Per cycle: order-independent digests of the committed ``seen``,
``frontier`` and ``fetched`` tables must equal the values stored in
``expected.json`` for the workload and seed (when stored) and those of
the run's first cycle.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
DIGEST_TABLES = ("seen", "frontier", "fetched")


def round_problems(store, lineages: dict[int, dict], budget: int) -> dict[int, list[str]]:
    """Conservation problems per committed round (empty lists when sound)."""
    last = max(lineages)
    fetched = {
        row["round"]: row
        for row in store.read_delta("fetched", up_to=last).groupBy("round", "host").agg(
            F.count("*").alias("n"),
            F.max("host_seq").alias("max_seq"),
            F.sum((F.col("fetch_status") == "ok").cast("int")).alias("ok"),
            F.sum((F.col("fetch_status") == "miss").cast("int")).alias("miss"),
        ).groupBy("round").agg(
            F.sum("n").alias("n"), F.sum("ok").alias("ok"), F.sum("miss").alias("miss"),
            F.max(F.greatest("n", "max_seq")).alias("worst"),
        ).collect()
    }
    seen = {
        row["round"]: row
        for row in store.read_delta("seen", up_to=last).groupBy("url_hash").agg(
            F.count("*").alias("n"), F.min("discovered_round").alias("round"),
        ).groupBy("round").agg(
            F.sum("n").alias("rows"), (F.sum("n") - F.count("*")).alias("repeats"),
        ).collect()
    }
    out = {}
    for r, lin in lineages.items():
        problems = []
        if lin["scheduled"] != lin["fetched"] + lin["missed"]:
            problems.append(f"scheduled {lin['scheduled']} != fetched + missed")
        f = fetched.get(r)
        got = (f["n"], f["ok"], f["miss"]) if f else (0, 0, 0)
        want = (lin["scheduled"], lin["fetched"], lin["missed"])
        if got != want:
            problems.append(f"fetched rows (all, ok, miss) {got} != lineage {want}")
        if f and f["worst"] > budget:
            problems.append(f"a host was scheduled {f['worst']} fetches, budget {budget}")
        s = seen.get(r)
        if (s["rows"] if s else 0) != lin["new_urls"]:
            problems.append(f"seen gained {s['rows'] if s else 0} rows, new_urls {lin['new_urls']}")
        if s and s["repeats"]:
            problems.append(f"{s['repeats']} seen rows repeat a url_hash")
        out[r] = problems
    return out


def cycle_digests(store, last_round: int) -> dict[str, str]:
    """Per table: row count plus the wrapped sum of per-row xxhash64 over
    all columns in name order, independent of row order and partitioning."""
    tables = {
        "seen": store.read_delta("seen", up_to=last_round),
        "frontier": store.read_snapshot("frontier", up_to=last_round),
        "fetched": store.read_delta("fetched", up_to=last_round),
    }
    hashes = None
    for name, df in tables.items():
        h = df.select(F.lit(name).alias("t"),
                      F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)").alias("h"))
        hashes = h if hashes is None else hashes.unionByName(h)
    rows = hashes.groupBy("t").agg(F.count("*").alias("n"), F.sum("h").alias("s")).collect()
    got = {r["t"]: f"{r['n']}:{int(r['s']) % (1 << 64):016x}" for r in rows}
    return {t: got.get(t, "0:0000000000000000") for t in DIGEST_TABLES}


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def digest_problems(want: dict | None, got: dict) -> list[str]:
    if want is None:
        return []
    return [f"{t} digest {got[t]} != expected {want[t]}" for t in DIGEST_TABLES if got[t] != want[t]]


def record_expected(workload: str, seed: int, got: dict) -> None:
    """Store ``got`` as the expected digests of ``workload`` under ``seed``."""
    expected = load_expected()
    expected.setdefault(workload, {})[str(seed)] = got
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")

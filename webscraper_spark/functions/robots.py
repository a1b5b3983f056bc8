"""robots.txt parsing + admission predicate.

The reference *claims* respectful scraping (``Quarterly Runner/README.md:
300-301``) but has no robots code; its politeness is hard-coded sleeps.
The engine makes robots a first-class per-host dimension (SURVEY §2.10 C5):
parse once per host (vectorized), join frontier→hosts, filter disallowed.

Semantics match ``urllib.robotparser`` for the ``User-agent: *`` group:
rules are applied in file order, first prefix match wins, empty
``Disallow:`` means allow-all, no match ⇒ allowed. (This is the original
norobots spec, not Google's longest-match variant — pinned to stdlib
behavior and verified against it in tests.)

Rule encoding: each rule is a string ``"-<path>"`` (disallow) or
``"+<path>"`` (allow) so an ordered ``array<string>`` column carries the
whole group.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Crawl-delay cap (one day): the scheduler computes host_seq × delay in
# milliseconds, which must stay far inside timestamp_add's range.
MAX_CRAWL_DELAY_MS = 86_400_000

ROBOTS_RULES = T.StructType(
    [
        T.StructField("rules", T.ArrayType(T.StringType()), False),
        T.StructField("crawl_delay_ms", T.LongType(), True),
    ]
)


def parse_robots(robots_txt: str | None) -> dict:
    """Parse the ``*`` group of a robots.txt body → ordered rules dict."""
    rules: list[str] = []
    crawl_delay_ms: int | None = None
    if not robots_txt:
        return {"rules": [], "crawl_delay_ms": None}
    active = False  # inside a User-agent: * group
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            active = val == "*"
        elif active and key == "disallow":
            if val:
                rules.append("-" + val)
            # empty Disallow: allow-all → no rule
        elif active and key == "allow":
            if val:
                rules.append("+" + val)
        elif active and key == "crawl-delay":
            try:
                delay_s = float(val)
            except ValueError:
                delay_s = math.nan
            # unparsable, non-finite and negative delays are ignored
            if 0 <= delay_s < math.inf:
                crawl_delay_ms = int(min(delay_s * 1000, MAX_CRAWL_DELAY_MS))
    return {"rules": rules, "crawl_delay_ms": crawl_delay_ms}


def robots_allows(rules: dict | list | None, path: str) -> bool:
    """First-match-in-order admission decision (urllib.robotparser)."""
    rule_list = rules.get("rules", []) if isinstance(rules, dict) else (rules or [])
    if not path:
        path = "/"
    for r in rule_list:
        verdict, prefix = r[0] == "+", r[1:]
        if path.startswith(prefix):
            return verdict
    return True


# --- Spark-side -------------------------------------------------------------

@F.pandas_udf(ROBOTS_RULES)
def parse_robots_udf(bodies: pd.Series) -> pd.DataFrame:
    rows = [parse_robots(b) for b in bodies]
    return pd.DataFrame(rows, columns=["rules", "crawl_delay_ms"])


def robots_allows_col(path, rules):
    """JVM-expression twin of :func:`robots_allows` (guide §4.1: prefer
    built-ins — the admission gate runs once per FRONTIER row, and the
    pandas UDF shipped every row's path + rule array across the Python
    boundary). Semantics identical: first rule (in file order) whose
    prefix matches wins ('+' allow / '-' disallow), no match ⇒ allowed,
    empty/NULL path treated as '/'. ``path``/``rules`` are Columns."""
    p = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(path)
    first = F.try_element_at(
        F.filter(rules, lambda r: F.startswith(p, F.substr(r, F.lit(2)))),
        F.lit(1),
    )
    return F.coalesce(F.startswith(first, F.lit("+")), F.lit(True))


def robots_sitemaps(robots_txt: str | None) -> list[str]:
    """Extract ``Sitemap:`` directives (robots.txt spec: group-
    independent — they apply regardless of the active User-agent block,
    so this scans the whole file, unlike the ``*``-group rule parse).
    Feeds ``..sources.sitemap``: a crawler discovers each host's sitemap
    set from the robots fetch it already performs."""
    out: list[str] = []
    if not robots_txt:
        return out
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, sep, val = line.partition(":")
        if sep and key.strip().lower() == "sitemap":
            val = val.strip()
            if val:
                out.append(val)
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def robots_sitemaps_udf(bodies: pd.Series) -> pd.Series:
    return pd.Series([robots_sitemaps(b) for b in bodies])

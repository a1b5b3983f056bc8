"""URL canonicalization — the engine's key-normalization kernel.

Reference behavior being re-expressed (not copied):
- ``normalize_string`` name canonicalization before dedup
  (``CrunchBase Follow/crunchbase_matching.py:18-27``),
- hostname extraction with ``www.`` strip (``glassdoor-script.js:32-39``;
  the Python twin ``Glassdoor_url_finder.py:64-66`` double-escapes its
  regex and never matches — JS behavior is authoritative),
- query strip / scheme+host keep (``Linkedin-Main.py:593-595``),
- trailing-slash trim (``Linkedin-Main.py:81``).

Canonical form (per BASELINE.json north_star): lowercase scheme+host,
strip ``#fragment``, strip default port (80/443), sort query params,
trim trailing slashes on non-root paths. Idempotent by construction
(property-tested). One shared pure-Python kernel is used by BOTH the
vectorized pandas UDF (engine) and the single-process reference simulator
(tests), so drift is impossible.
"""

from __future__ import annotations

from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import xxh64_str

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str | None, base: str | None = None) -> str | None:
    """Canonicalize one URL; None if not a fetchable http(s) URL.

    Pure function of its inputs (no clock, no I/O). ``base`` resolves
    relative hrefs found during outlink extraction.
    """
    if url is None:
        return None
    u = url.strip()
    if not u or u.startswith(("javascript:", "mailto:", "data:", "#")):
        return None
    if base and "://" not in u.split("?", 1)[0].split("#", 1)[0]:
        u = _resolve_relative(base, u)
        if u is None:
            return None
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    if len(path) > 1:
        path = path.rstrip("/") or "/"
    query = ""
    if parts.query:
        # Sort raw &-separated pairs byte-lexicographically without
        # decode/re-encode (re-encoding percent escapes is not idempotent).
        pairs = sorted(p for p in parts.query.split("&") if p)
        query = "&".join(pairs)
    out = f"{scheme}://{netloc}{path}"
    if query:
        out += f"?{query}"
    return out


def _resolve_relative(base: str, href: str) -> str | None:
    """Minimal deterministic relative-href resolution (no dot-segments in
    our synthetic corpus; absolute-path and sibling cases only)."""
    try:
        b = urlsplit(base)
    except ValueError:
        return None
    if href.startswith("//"):
        return f"{b.scheme}:{href}"
    root = f"{b.scheme}://{b.netloc}"
    if href.startswith("/"):
        return root + href
    bdir = b.path.rsplit("/", 1)[0] if "/" in b.path else ""
    return f"{root}{bdir}/{href}"


def host_of(canonical_url: str) -> str:
    """Host component (sans port) of an already-canonical URL."""
    rest = canonical_url.split("://", 1)[1]
    hostport = rest.split("/", 1)[0]
    return hostport.split(":", 1)[0]


def url_hash_py(canonical_url: str) -> int:
    """Python twin of ``F.xxhash64(url)`` for the simulator/filters."""
    return xxh64_str(canonical_url)


# --- Spark-side (vectorized) ------------------------------------------------

# Both UDFs are marked asNondeterministic: every caller filters
# ``isNotNull`` on the result, and Catalyst would otherwise split that
# filter from the projection — two ArrowEvalPython nodes, two kernel
# evaluations per row. The kernel is pure; the mark only forbids Catalyst
# from duplicating it.

@F.pandas_udf(T.StringType())
def canonicalize_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize_url(u) if u is not None else None)


canonicalize_url_udf = canonicalize_url_udf.asNondeterministic()


@F.pandas_udf(T.StringType())
def canonicalize_href_udf(href: pd.Series, base: pd.Series) -> pd.Series:
    """Outlink canonicalization: resolve relative hrefs against the page's
    canonical url, then canonicalize (H5 → C1 admission path)."""
    return pd.Series(
        [canonicalize_url(h, base=b) for h, b in zip(href, base)], dtype=object
    )


canonicalize_href_udf = canonicalize_href_udf.asNondeterministic()


def with_canonical(df, url_col: str = "url"):
    """Add ``url`` (canonical), ``host``, ``url_hash`` columns; drop rows
    that canonicalize to null (non-http(s), malformed). ``url_hash`` and
    ``host`` stay JVM-side (xxhash64 / parse_url are codegen'd); only the
    canonical rewrite itself crosses into Arrow."""
    out = df.withColumn(url_col, canonicalize_url_udf(F.col(url_col)))
    out = out.filter(F.col(url_col).isNotNull())
    # host: parse_url is JVM-side; canonical urls are already lowercase and
    # default-port-free, so HOST of canonical == host_of kernel.
    out = out.withColumn(
        "host", F.expr(f"parse_url({url_col}, 'HOST')")
    ).withColumn("url_hash", F.xxhash64(F.col(url_col)))
    return out


def host_col(url_col: str = "url") -> Column:
    """JVM-side host extraction for already-canonical URLs."""
    return F.expr(f"parse_url({url_col}, 'HOST')")

"""HTML extraction kernels — the engine's Arrow-vectorized UDF surface.

Re-expresses the reference's largest code mass (SURVEY §2.9):
- text extraction / ``text_content()`` (``Glassdoor_Scraper_New.py:181,188``)
- outlink collection with admission patterns (``Glassdoor_url_finder.py:76-118``,
  ``crunchbase-main_cap.js:196-205``)
- field extraction with fallback ladders: rating → class xpath → any-span
  decimal → first-decimal-in-text; review count; Engaged flag
  (``Glassdoor_Scraper_New.py:216-293``)

The sandbox has no lxml, so the kernel is built on stdlib
``html.parser.HTMLParser``. Byte-parity contract: ``pages.text`` in the
synthetic corpus is *defined* as the output of :func:`extract_text`, and
BOTH the Spark pandas UDF and the single-process reference simulator call
the same function objects below — drift between engine and oracle is
structurally impossible (SURVEY §7.4 risk register).

Per-item error isolation (reference C7: try/except-per-company,
``Glassdoor_url_finder.py:292-336``): malformed HTML yields a null struct,
never a task failure.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import EXTRACTED, ROUND_EXTRACTED
from .canon import canonicalize_url

_SKIP_TAGS = {"script", "style", "noscript", "template"}
_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}
_RATING_RE = re.compile(r"^\d+\.\d+$")
_REVIEWS_RE = re.compile(r"\((\d[\d,]*)\s+total\s+reviews?\)", re.IGNORECASE)
_REVIEWS_FALLBACK_RE = re.compile(r"(\d[\d,]*)\s+reviews?", re.IGNORECASE)
_DECIMAL_RE = re.compile(r"\b(\d\.\d)\b")


class _Node:
    """Minimal DOM node (H4/H7/H8: generic scans + sibling/ancestor
    navigation — the tree the stdlib HTMLParser doesn't give you).
    ``content`` interleaves text strings and child nodes in document
    order, so ``text_content`` matches lxml's."""

    __slots__ = ("tag", "cls", "parent", "content")

    def __init__(self, tag: str, cls: str, parent: "_Node | None"):
        self.tag = tag
        self.cls = cls
        self.parent = parent
        self.content: list = []  # str | _Node, document order

    def text_content(self) -> str:
        out: list[str] = []
        stack = [iter(self.content)]
        while stack:
            for item in stack[-1]:
                if isinstance(item, str):
                    out.append(item)
                else:
                    stack.append(iter(item.content))
                    break
            else:
                stack.pop()
        return "".join(out)

    def iter_nodes(self):
        """Pre-order descendant traversal (self excluded)."""
        for item in self.content:
            if not isinstance(item, str):
                yield item
                yield from item.iter_nodes()

    def following_siblings(self):
        if self.parent is None:
            return
        seen_self = False
        for item in self.parent.content:
            if item is self:
                seen_self = True
            elif seen_self and not isinstance(item, str):
                yield item

    def ancestors(self):
        n = self.parent
        while n is not None:
            yield n
            n = n.parent


class _PageParser(HTMLParser):
    """One-pass tree builder + flat collectors (chunks/title/hrefs).

    Unlike the round-1 flat-buffer version, elements close on their OWN
    end tag (tag-matched stack with recovery for unclosed tags), so a
    rating element containing nested markup yields its full descendant
    text instead of truncating at the first inner end tag."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", "", None)
        self._open: list[_Node] = [self.root]
        self.chunks: list[str] = []
        self.title_chunks: list[str] = []
        self.hrefs: list[str] = []
        self._skip_depth = 0
        self._in_title = False
        # close-order NODE lists; text is computed lazily (an eager
        # text_content() per close would be quadratic on nested spans)
        self.span_nodes: list[_Node] = []
        self.rating_nodes: list[_Node] = []

    # -- text-chunk separator rule ------------------------------------------
    # Every markup construct (tag, comment, declaration, PI) outside a
    # skipped subtree separates text chunks; literal "<" in text does NOT
    # (it arrives via handle_data). extract_text joins chunks with "" and
    # collapses whitespace, so "a<b>x</b>c" → "a x c" but "2<3" → "2<3".
    # This is the pinned pages.text spec, cross-checked against the
    # independent extractor in tests/independent_extract.py.
    def _sep(self) -> None:
        if not self._skip_depth:
            self.chunks.append(" ")

    def handle_comment(self, data):
        self._sep()

    def handle_decl(self, decl):
        self._sep()

    def unknown_decl(self, data):  # marked sections, e.g. <![CDATA[...]]>
        self._sep()

    def handle_pi(self, data):
        self._sep()

    # -- tree construction -------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._sep()
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        self._sep()
        if tag == "title":
            self._in_title = True
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.hrefs.append(v)
        cls = next((v for k, v in attrs if k == "class" and v), "")
        node = _Node(tag, cls, self._open[-1])
        self._open[-1].content.append(node)
        if tag not in _VOID_TAGS:
            self._open.append(node)

    def handle_startendtag(self, tag, attrs):
        # <br/> etc: attach as leaf, never push
        if tag in _SKIP_TAGS or self._skip_depth:
            self._sep()
            return
        self._sep()
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.hrefs.append(v)
        cls = next((v for k, v in attrs if k == "class" and v), "")
        self._open[-1].content.append(_Node(tag, cls, self._open[-1]))

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            self._sep()
            return
        if self._skip_depth:
            return
        self._sep()
        # tag-matched close: find the nearest open element with this tag;
        # a stray end tag (no opener) is ignored, an end tag that skips
        # unclosed children closes them implicitly (innermost first)
        for i in range(len(self._open) - 1, 0, -1):
            if self._open[i].tag == tag:
                for node in reversed(self._open[i:]):
                    self._on_close(node)
                del self._open[i:]
                return

    def close(self):
        super().close()
        # implicitly close anything left open at EOF
        for node in reversed(self._open[1:]):
            self._on_close(node)
        del self._open[1:]

    def _on_close(self, node: _Node) -> None:
        """Close-order collectors (the H2 fallback ladder's scan order)."""
        if node.tag == "title":
            # tie title capture to node close, not just an explicit
            # </title>: an implicitly-closed <title> (e.g. via </head> or
            # EOF) must stop appending page text to title_chunks
            self._in_title = False
        if node.tag == "span":
            self.span_nodes.append(node)
        if "rating" in node.cls.lower():
            self.rating_nodes.append(node)

    @property
    def span_texts(self) -> list[str]:
        return [n.text_content() for n in self.span_nodes]

    @property
    def rating_class_texts(self) -> list[str]:
        return [n.text_content() for n in self.rating_nodes]

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_chunks.append(data)
        self.chunks.append(data)
        self._open[-1].content.append(data)


def _normalize_ws(s: str) -> str:
    return " ".join(s.split())


def _decode(html: bytes | str | None) -> str | None:
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


# Tokenizer kernel: "fast" (fused scanning parser, functions/fastparse.py)
# with automatic bailout to the stdlib html.parser spec twin; "stdlib"
# forces the twin everywhere (the parity tests run both and assert
# byte-identical output). Env override is read at import so executor
# Python workers honor it too.
import os as _os

_KERNEL = _os.environ.get("WS_SPARK_HTML_KERNEL", "fast")


def set_parse_kernel(kernel: str) -> None:
    global _KERNEL
    if kernel not in ("fast", "stdlib"):
        raise ValueError(kernel)
    _KERNEL = kernel


def parse_page(html: bytes | str | None, kernel: str | None = None) -> _PageParser | None:
    s = _decode(html)
    if s is None:
        return None
    if (kernel or _KERNEL) == "fast":
        from .fastparse import FastParseBailout, fast_parse

        try:
            return fast_parse(s)
        except FastParseBailout:
            pass  # outside the verified fast grammar → stdlib twin
        except Exception:
            return None
    p = _PageParser()
    try:
        p.feed(s)
        p.close()
    except Exception:
        return None
    return p


def extract_text(html: bytes | str | None) -> str | None:
    """Whitespace-normalized visible text — THE byte-parity kernel.

    Semantics: concatenate all text nodes outside script/style/noscript/
    template, then collapse every whitespace run to a single space and
    strip. (Stands in for lxml ``text_content()``; pinned to one
    implementation per SURVEY §7.4.)
    """
    p = parse_page(html)
    if p is None:
        return None
    return _normalize_ws("".join(p.chunks))


def extract_outlinks(html: bytes | str | None) -> list[str]:
    """Raw hrefs in document order (H5). The crawl round canonicalizes
    them in the same pass (:func:`extract_round`)."""
    p = parse_page(html)
    return [] if p is None else p.hrefs


def extract_fields(html: bytes | str | None) -> dict:
    """Full extraction struct with the reference's fallback-ladder
    semantics for rating / review_count / engaged (H2)."""
    p = parse_page(html)
    if p is None:
        return {
            "title": None, "text": None, "outlinks": None,
            "rating": None, "review_count": None, "engaged": None,
        }
    text = _normalize_ws("".join(p.chunks))
    title = _normalize_ws("".join(p.title_chunks)) or None

    # rating fallback ladder: class*=rating → any <span> decimal → first
    # decimal in page text; clamp [0,5] else null (F7 semantics). Node
    # text is computed lazily — the scan stops at the first match.
    rating = None
    for node in p.rating_nodes:
        c = node.text_content().strip()
        if _RATING_RE.match(c):
            rating = float(c)
            break
    if rating is None:
        for node in p.span_nodes:
            c = node.text_content().strip()
            if _RATING_RE.match(c):
                rating = float(c)
                break
    if rating is None:
        m = _DECIMAL_RE.search(text)
        if m:
            rating = float(m.group(1))
    if rating is not None and not (0.0 <= rating <= 5.0):
        rating = None

    review_count = None
    m = _REVIEWS_RE.search(text) or _REVIEWS_FALLBACK_RE.search(text)
    if m:
        review_count = int(m.group(1).replace(",", ""))

    engaged = "Engaged Employer" in text

    return {
        "title": title,
        "text": text,
        "outlinks": p.hrefs,
        "rating": rating,
        "review_count": review_count,
        "engaged": engaged,
    }


def extract_round(html: bytes | str | None, url: str | None) -> dict:
    """The crawl round's per-page kernel: ``title`` and ``text`` as in
    :func:`extract_fields`, ``outlinks`` canonicalized against the page's
    ``url`` (hrefs that canonicalize to None dropped, document order
    kept) and ``n_outlinks``, the raw href count. Parsing and
    canonicalization share one pass, so a page crosses into Python once.
    A page that fails to parse yields all-null fields."""
    p = parse_page(html)
    if p is None:
        return {"title": None, "text": None, "outlinks": None, "n_outlinks": None}
    return {
        "title": _normalize_ws("".join(p.title_chunks)) or None,
        "text": _normalize_ws("".join(p.chunks)),
        "outlinks": [
            c for h in p.hrefs if (c := canonicalize_url(h, base=url)) is not None
        ],
        "n_outlinks": len(p.hrefs),
    }


# --- Benefits-page ladders (H3) ---------------------------------------------
#
# Field-for-field port of the reference's largest extraction body
# (Glassdoor_Scraper_New.py:295-478, extract_benefits_data): per-category
# fallback ladders over benefit-category cards, with the same class-token
# anchors (the stable prefix of Glassdoor's hashed CSS classes), the same
# regexes, the same fallback ordering, and the same rating==0 ⇒ count=0
# consistency rule. Ratings stay strings (the reference stores
# text_content().strip() verbatim, including non-numeric values).

_HEALTH_LADDER = ["Health Insurance", "Dental Insurance", "Vision Insurance"]
_RETIREMENT_LADDER = ["401K Plan", "Pension Plan", "Retirement Plan"]
_BENEFITS_REVIEWS_RE = re.compile(r"\((\d+)\s+Reviews?\)", re.IGNORECASE)
_CARD_RATINGS_RE = re.compile(r"(\d+)\s*Ratings?", re.IGNORECASE)
_ANY_RATINGS_RE = re.compile(r"(\d+)\s*(?:ratings?|reviews?)", re.IGNORECASE)

_CLS_HERO_RATING = "benefitsRatingNumber"       # HeroRatingWrapper_benefitsRatingNumber__*
_CLS_HERO_TOTAL = "benefitsTotalWrapper"        # HeroRatingWrapper_benefitsTotalWrapper__*
_CLS_CARD_TITLE = "benefit-category-card_title"
_CLS_CARD_RATING = "benefit-category-card_ratingNumber"
_CLS_CARD = "benefit-category-card_benefitCategoryCard"
_CLS_CARD_PRIMARY = "benefit-category-card_primaryText"


def _category_rung(root: _Node, name: str) -> tuple[str | None, int]:
    """One ladder rung (Glassdoor_Scraper_New.py:327-344 generalized):
    title span containing ``name`` → following-sibling rating-number span;
    count from the ancestor card's primaryText span."""
    for node in root.iter_nodes():
        if node.tag != "span" or _CLS_CARD_TITLE not in node.cls:
            continue
        if name not in node.text_content():
            continue
        rating = None
        for sib in node.following_siblings():
            if sib.tag == "span" and _CLS_CARD_RATING in sib.cls:
                rating = sib.text_content().strip()
                break
        if rating is None:
            continue
        count = 0
        card = next(
            (a for a in node.ancestors() if a.tag == "div" and _CLS_CARD in a.cls),
            None,
        )
        if card is not None:
            for d in card.iter_nodes():
                if d.tag == "span" and _CLS_CARD_PRIMARY in d.cls:
                    m = _CARD_RATINGS_RE.search(d.text_content().strip())
                    if m:
                        count = int(m.group(1))
                    break
        return rating, count
    return None, 0


def extract_benefits(html: bytes | str | None) -> dict:
    """Benefits-page extraction with the reference's exact ladder order
    (Glassdoor_Scraper_New.py:295-478): overall hero rating + "(N
    Reviews)" count; Health→Dental→Vision; 401K→Pension→Retirement;
    parent-text keyword fallback; first-rating-element fallback;
    count-scan fallback gated on rating>0; rating 0/None ⇒ count 0."""
    out = {
        "benefits_rating": None, "health_rating": None, "retirement_rating": None,
        "benefits_review_count": 0, "health_review_count": 0,
        "retirement_review_count": 0,
    }
    p = parse_page(html)
    if p is None:
        return out
    root = p.root

    benefits_rating = None
    benefits_review_count = 0
    # hero rating (ref :304-308)
    for node in root.iter_nodes():
        if node.tag == "span" and _CLS_HERO_RATING in node.cls:
            benefits_rating = node.text_content().strip()
            break
    # hero review count: div[totalWrapper]/p, "(N Reviews)" (ref :310-318)
    for node in root.iter_nodes():
        if node.tag == "div" and _CLS_HERO_TOTAL in node.cls:
            child_p = next(
                (c for c in node.content
                 if not isinstance(c, str) and c.tag == "p"),
                None,
            )
            if child_p is not None:
                m = _BENEFITS_REVIEWS_RE.search(child_p.text_content().strip())
                if m:
                    benefits_review_count = int(m.group(1))
            break

    # per-category ladders (ref :327-407)
    health_rating, health_review_count = None, 0
    for name in _HEALTH_LADDER:
        health_rating, health_review_count = _category_rung(root, name)
        if health_rating:
            break
    retirement_rating, retirement_review_count = None, 0
    for name in _RETIREMENT_LADDER:
        retirement_rating, retirement_review_count = _category_rung(root, name)
        if retirement_rating:
            break

    # generic fallback over rating-class elements, categorized by parent
    # text keywords (ref :409-424) — only when the hero rating is missing
    if not benefits_rating:
        rating_nodes = [
            n for n in root.iter_nodes() if "rating" in n.cls.lower()
        ]
        for node in rating_nodes:
            rating_text = node.text_content().strip()
            parent_lower = (
                node.parent.text_content().lower() if node.parent is not None else ""
            )
            if not health_rating and any(
                w in parent_lower for w in ("health", "medical", "insurance")
            ):
                health_rating = rating_text
            elif not retirement_rating and any(
                w in parent_lower for w in ("retirement", "401", "pension")
            ):
                retirement_rating = rating_text
            elif any(w in parent_lower for w in ("benefit", "overall")):
                benefits_rating = rating_text
        # last resort: first rating element (ref :426-428)
        if not benefits_rating and rating_nodes:
            benefits_rating = rating_nodes[0].text_content().strip()

    # count-scan fallback, gated on a positive rating (ref :431-439)
    if benefits_review_count == 0 and benefits_rating:
        try:
            positive = float(benefits_rating) > 0
        except (TypeError, ValueError):
            positive = False
        if positive:
            for node in root.iter_nodes():
                # xpath contains(text(), ...) matches the node's DIRECT
                # text; the count regex then runs over text_content()
                direct = "".join(s for s in node.content if isinstance(s, str))
                if "rating" in direct or "Rating" in direct:
                    m = _ANY_RATINGS_RE.search(node.text_content())
                    if m:
                        benefits_review_count = int(m.group(1))
                        break

    # consistency rule: rating 0.0/None ⇒ count 0 (ref :441-452)
    try:
        if not benefits_rating or float(benefits_rating) == 0.0:
            benefits_review_count = 0
    except (TypeError, ValueError):
        if benefits_rating in ("0", "0.0", "0.00"):
            benefits_review_count = 0

    out.update(
        benefits_rating=benefits_rating or None,
        health_rating=health_rating or None,
        retirement_rating=retirement_rating or None,
        benefits_review_count=benefits_review_count,
        health_review_count=health_review_count,
        retirement_review_count=retirement_review_count,
    )
    return out


BENEFITS = T.StructType(
    [
        T.StructField("benefits_rating", T.StringType(), True),
        T.StructField("health_rating", T.StringType(), True),
        T.StructField("retirement_rating", T.StringType(), True),
        T.StructField("benefits_review_count", T.LongType(), True),
        T.StructField("health_review_count", T.LongType(), True),
        T.StructField("retirement_review_count", T.LongType(), True),
    ]
)


@F.pandas_udf(BENEFITS)
def extract_benefits_udf(html: pd.Series) -> pd.DataFrame:
    rows = [extract_benefits(h) for h in html]
    return pd.DataFrame(rows, columns=[f.name for f in BENEFITS.fields])


# --- Spark-side (one Arrow batch at a time; no per-row Python rows) --------

@F.pandas_udf(EXTRACTED)
def extract_udf(html: pd.Series) -> pd.DataFrame:
    rows = [extract_fields(h) for h in html]
    return pd.DataFrame(rows, columns=[f.name for f in EXTRACTED.fields])


@F.pandas_udf(ROUND_EXTRACTED)
def extract_round_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    rows = [extract_round(h, u) for h, u in zip(html, url)]
    return pd.DataFrame(rows, columns=[f.name for f in ROUND_EXTRACTED.fields])


# asNondeterministic: a filter on a struct field, such as the non-empty
# ``outlinks`` filter Catalyst infers for discover_new's explode, would
# otherwise be pushed below the projection and evaluate the kernel a
# second time whenever the extracted rows are not cached. The kernel is
# pure; the mark only forbids duplicating it.
extract_round_udf = extract_round_udf.asNondeterministic()


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)

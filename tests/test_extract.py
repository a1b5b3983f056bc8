"""Extraction kernel + UDF: byte-parity, fallback ladders, error isolation."""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraper_spark.functions.canon import canonicalize_url
from webscraper_spark.functions.extract import (
    extract_fields,
    extract_outlinks,
    extract_round,
    extract_round_udf,
    extract_text,
    extract_udf,
)


def test_text_byte_parity_full_corpus(corpus):
    pages = corpus["pages"]
    for _, r in pages.iterrows():
        assert extract_text(r["html"]) == r["text"]


def test_udf_matches_kernel(spark, sdfs):
    rows = (
        sdfs["pages"]
        .withColumn("ex", extract_udf("html"))
        .select(F.col("text").alias("want"), F.col("ex.text").alias("got"))
        .collect()
    )
    assert rows and all(r["want"] == r["got"] for r in rows)


def test_rating_fallback_ladder():
    # 1) class*=rating wins
    h = b'<html><body><span class="rating">3.7</span><span>4.9</span>ignore 1.2</body></html>'
    assert extract_fields(h)["rating"] == 3.7
    # 2) plain span decimal
    h = b"<html><body><span>4.9</span> and 1.2 text</body></html>"
    assert extract_fields(h)["rating"] == 4.9
    # 3) first decimal in text
    h = b"<html><body>score 1.2 of 5</body></html>"
    assert extract_fields(h)["rating"] == 1.2
    # clamp: outside [0,5] → null
    h = b'<html><body><span class="rating">9.9</span></body></html>'
    assert extract_fields(h)["rating"] is None


def test_review_count_and_engaged():
    h = b"<html><body>(1,234 total reviews) Engaged Employer</body></html>"
    f = extract_fields(h)
    assert f["review_count"] == 1234
    assert f["engaged"] is True
    h = b"<html><body>88 reviews so far</body></html>"
    assert extract_fields(h)["review_count"] == 88


def test_outlinks_document_order():
    h = b'<html><body><a href="/a">1</a><a href="https://x.example/b">2</a><a>3</a></body></html>'
    assert extract_outlinks(h) == ["/a", "https://x.example/b"]


def test_script_style_excluded():
    h = b"<html><head><style>p{}</style><script>var a;</script></head><body>keep</body></html>"
    assert extract_text(h) == "keep"


def test_error_isolation():
    # None and junk bytes must not raise (C7 per-item isolation)
    assert extract_text(None) is None
    f = extract_fields(b"\xff\xfe<not html <<<")
    assert isinstance(f, dict)


def test_title():
    h = b"<html><head><title> A  Title </title></head><body>x</body></html>"
    assert extract_fields(h)["title"] == "A Title"


# --- H3 benefits ladders (field-for-field goldens vs
#     Glassdoor_Scraper_New.py:295-478 fallback order) -----------------------

from webscraper_spark.functions.extract import extract_benefits, parse_page


def _card(title: str, rating: str, count: str) -> str:
    return (
        '<div class="benefit-category-card_benefitCategoryCard__VjIA1">'
        f'<span class="benefit-category-card_title__Nu__H">{title}</span>'
        f'<span class="benefit-category-card_ratingNumber__VyQzt">{rating}</span>'
        f'<span class="benefit-category-card_primaryText__YvBX2">{count} Ratings</span>'
        "</div>"
    )


def _hero(rating: str, reviews: str) -> str:
    return (
        f'<span class="HeroRatingWrapper_benefitsRatingNumber__fqpP8">{rating}</span>'
        '<div class="HeroRatingWrapper_benefitsTotalWrapper__li_iK">'
        f"<p>({reviews} Reviews)</p></div>"
    )


def test_benefits_full_page():
    h = ("<html><body>" + _hero("4.2", "310")
         + _card("Health Insurance", "4.5", "120")
         + _card("401K Plan", "3.9", "80") + "</body></html>").encode()
    b = extract_benefits(h)
    assert b == {
        "benefits_rating": "4.2", "health_rating": "4.5",
        "retirement_rating": "3.9", "benefits_review_count": 310,
        "health_review_count": 120, "retirement_review_count": 80,
    }


def test_benefits_health_ladder_order():
    # Health absent → Dental rung; Dental absent → Vision rung
    h = ("<html><body>" + _card("Dental Insurance", "4.0", "15")
         + _card("Vision Insurance", "3.0", "9") + "</body></html>").encode()
    b = extract_benefits(h)
    assert (b["health_rating"], b["health_review_count"]) == ("4.0", 15)
    h2 = ("<html><body>" + _card("Vision Insurance", "3.0", "9") + "</body></html>").encode()
    b2 = extract_benefits(h2)
    assert (b2["health_rating"], b2["health_review_count"]) == ("3.0", 9)


def test_benefits_retirement_ladder_order():
    h = ("<html><body>" + _card("Pension Plan", "2.5", "4")
         + _card("Retirement Plan", "2.0", "2") + "</body></html>").encode()
    b = extract_benefits(h)
    assert (b["retirement_rating"], b["retirement_review_count"]) == ("2.5", 4)


def test_benefits_keyword_parent_fallback():
    # no hero, no cards: rating-class elems categorized by parent text
    h = (b"<html><body>"
         b'<div>health coverage details <span class="rating">4.1</span></div>'
         b'<div>401k matching <span class="rating">3.2</span></div>'
         b'<div>overall benefit package <span class="rating">3.7</span></div>'
         b"</body></html>")
    b = extract_benefits(h)
    assert b["health_rating"] == "4.1"
    assert b["retirement_rating"] == "3.2"
    assert b["benefits_rating"] == "3.7"


def test_benefits_first_rating_fallback_and_count_gate():
    # no keyword matches → first rating element becomes benefits_rating;
    # count-scan fallback fires only because rating > 0
    h = (b"<html><body><span class='rating'>4.8</span>"
         b"<p>rating summary: 57 ratings</p></body></html>")
    b = extract_benefits(h)
    assert b["benefits_rating"] == "4.8"
    assert b["benefits_review_count"] == 57


def test_benefits_zero_rating_zeroes_count():
    h = ("<html><body>" + _hero("0.0", "44") + "</body></html>").encode()
    b = extract_benefits(h)
    assert b["benefits_rating"] == "0.0"
    assert b["benefits_review_count"] == 0


def test_benefits_nonnumeric_rating_passthrough():
    # the reference stores text verbatim; "N/A" must not crash the gates
    h = ("<html><body>" + _hero("N/A", "12") + "</body></html>").encode()
    b = extract_benefits(h)
    assert b["benefits_rating"] == "N/A"
    assert b["benefits_review_count"] == 12  # hero count parsed; gates tolerate N/A


def test_rating_class_nested_markup_tag_matched():
    """Regression (round-1 'What's wrong' #4): nested markup inside a
    rating element no longer truncates its text — elements close on their
    own end tag."""
    p = parse_page(b'<div class="rating"><b>4</b>.5</div>')
    assert p.rating_class_texts == ["4.5"]


def test_tree_sibling_and_ancestor_navigation():
    p = parse_page(
        b'<div class="benefit-category-card_benefitCategoryCard__x">'
        b'<span class="benefit-category-card_title__x">401K Plan</span>'
        b"<span>noise</span>"
        b'<span class="benefit-category-card_ratingNumber__x">3.3</span></div>'
    )
    title = next(
        n for n in p.root.iter_nodes()
        if n.tag == "span" and "title" in n.cls
    )
    sibs = [s.cls for s in title.following_siblings()]
    assert len(sibs) == 2  # noise + ratingNumber, in order
    assert any("ratingNumber" in c for c in sibs)
    card = next(a for a in title.ancestors() if a.tag == "div")
    assert "benefitCategoryCard" in card.cls


def test_unclosed_tags_recovered():
    # <p> never closed; </em> stray; parser must not lose text or crash
    h = b"<html><body><p>first<div>second</div><span>third</em></body></html>"
    from webscraper_spark.functions.extract import extract_text

    assert extract_text(h) == "first second third"


_ADVERSARIAL_HREFS = [
    "javascript:void(0)", "mailto:a@b.example", "data:text/plain,x", "#frag",
    "//other.example/x", "https://h.example:99999/p", "http://h.example:x/p",
    "/abs/path", "sibling", "sub/dir/", "  /spaced  ", "HTTPS://UPPER.EXAMPLE/P",
    "https://h.example:443/q?b=2&a=1#f", "ftp://h.example/f", "",
]
_ROUND_PAGES = [
    ("https://h.example/a/b",
     "<html><head><title>T</title></head><body>"
     + "".join(f'<a href="{h}">{i}</a>' for i, h in enumerate(_ADVERSARIAL_HREFS))
     + "</body></html>"),
    ("http://h.example:8080/", "<p>no links</p>"),
    ("https://h.example/x", None),  # fails to parse
]


def _want_outlinks(html, url):
    return [c for h in extract_outlinks(html)
            if (c := canonicalize_url(h, base=url)) is not None]


def test_round_kernel_equals_extract_then_canonicalize(corpus):
    pages = [(r["url"], r["html"]) for _, r in corpus["pages"].iterrows()]
    for url, html in _ROUND_PAGES + pages:
        got = extract_round(html, url)
        fields = extract_fields(html)
        assert (got["title"], got["text"]) == (fields["title"], fields["text"])
        if fields["outlinks"] is None:
            assert got["outlinks"] is None and got["n_outlinks"] is None
            continue
        assert got["outlinks"] == _want_outlinks(html, url), url
        assert got["n_outlinks"] == len(extract_outlinks(html))
    url, html = _ROUND_PAGES[0]
    adversarial = extract_round(html, url)
    assert adversarial["n_outlinks"] == len(_ADVERSARIAL_HREFS)
    assert "https://upper.example/P" in adversarial["outlinks"]
    assert "https://h.example/a/sibling" in adversarial["outlinks"]


def test_round_udf_n_outlinks_matches_size_of_raw_hrefs(spark):
    df = spark.createDataFrame(_ROUND_PAGES, "url string, html string")
    rows = df.select(
        "url",
        extract_round_udf("html", "url").alias("ex"),
        F.size(extract_udf("html").outlinks).alias("raw_size"),
    ).collect()
    html_of = dict(_ROUND_PAGES)
    assert sorted(r["url"] for r in rows) == sorted(html_of)
    for r in rows:
        html = html_of[r["url"]]
        assert r["ex"]["n_outlinks"] == r["raw_size"]
        want = None if html is None else _want_outlinks(html, r["url"])
        assert r["ex"]["outlinks"] == want
    assert any(r["raw_size"] is None for r in rows)

"""Property-based fuzz: engine kernel ⇔ refkernel byte-parity on
arbitrary HTML-ish soup (far beyond the fixture families). Catches fast-
scanner divergence from html.parser semantics on malformed input."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_extraction_api_spark.kernel.batch import extract_one
from refkernel.extract import extract_document

_FRAGMENTS = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", '<div class="nav">', "<li>",
    "</li>", "<ul>", "</ul>", "<table>", '<table border="1">',
    "</table>", "<tr>", "</tr>", "<td>", "</td>", "<th>", "</th>",
    "<pre>", "</pre>", "<a href='/x'>", "</a>", "<nav>", "</nav>",
    "<footer>", "</footer>", '<section data-page="2">', "</section>",
    "<br/>", "<img src=x>", "<script>", "</script>", "<!-- c -->",
    "<!DOCTYPE html>", "<![CDATA[x>y]]>", "<b>", "</b>", "<",
    ">", "&", "&amp;", "&#65;", "&eacute;", "&bogus;", "&#xFF;",
    "word", "123", "$1,234", "p < 0.05", "  ", "\n", "\t",
    "some longer plain prose fragment here",
    "mean std n= 42", "revenue profit", "1.0  2.0\n3.0  4.0\n",
    "café", " ", "\x01", "</", "<//>", "<3",
    "<p", "=\"", "'", '"',
    # attr-bearing rawtext, self-closing and classed tags, spaced end
    # tags: the slow path's tags through run_fused's start/end blocks
    '<script type="x">', '<style media="x">', "<script/>",
    '<br class="x" />', '<td class="a"/>', '<tr class="r">',
    "<td colspan=2>", "</td >", "</tr\t>", '<section data-page="x">',
    "<section data-page='5'>", '<pre class="c">',
    '<table class="sidebar">', '<p class="menu">', '<TABLE BORDER="0">',
    '<P CLASS="Footer">',
    # unterminated tag names that run into the next '<'
    "<a", '{"t":"<em","v":1},',
    # whole rows for the row token, and near-misses it must leave to
    # the token path
    "<tr><td>a</td><td>b</td></tr>", "<tr></tr>", "<tr><td></td></tr>",
    "<tr><th>h</td></tr>", "<tr><td>AT&amp;T</td></tr>",
    "<tr>\n <td>a</td> x <td>b</td>\n</tr>", "<TD>", "<tr><TD>u</TD></tr>",
    "<tr><td>eof", "<tr/>", "<tr><td><table><tr><td>i</td></tr></table>",
    "<noscript>", "</noscript>",
])


@st.composite
def html_soup(draw):
    parts = draw(st.lists(_FRAGMENTS, min_size=0, max_size=60))
    return "".join(parts)


def _norm(res: dict) -> tuple:
    return (
        res["n_pages"], res["extracted_text"],
        tuple(
            tuple(sorted(
                (k, tuple(map(tuple, v)) if k == "cells" else
                 tuple(sorted(v.items())) if k == "metadata" else v)
                for k, v in t.items()))
            for t in res["tables"]),
        tuple(tuple(sorted(s.items())) for s in res["spans"]),
    )


@settings(max_examples=400, deadline=None)
@given(html_soup())
def test_fuzz_engine_matches_refkernel(soup):
    html = soup.encode("utf-8")
    assert _norm(extract_one("u", html)) == _norm(
        extract_document("u", html))


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
@example(payload=b"<!")  # round-1 discovered failure (VERDICT.md #1)
@example(payload=b"<?")
@example(payload=b"<![")
@example(payload=b"<!--")
@example(payload=b"</tab")
@example(payload=b"<table border=1/>x")
def test_fuzz_raw_bytes_never_crash_and_match(payload):
    eng = extract_one("u", payload)
    ref = extract_document("u", payload)
    assert _norm(eng) == _norm(ref)

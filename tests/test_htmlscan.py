"""run_fused (the kernel's only HTML tokenizer) ⇔ stdlib html.parser
equivalence, through the full kernel, byte-compared against refkernel
(which stays on html.parser): generated corpora plus the NASTY
adversarial cases."""

from __future__ import annotations

import pytest

from fixtures.gen_pages import gen_rows
from pdf_extraction_api_spark.kernel.batch import extract_one
from refkernel.extract import extract_document

NASTY = [
    # comments, doctype, PIs
    b"<!DOCTYPE html><!-- c --><p>Real content paragraph long enough"
    b" here.</p><?php hidden ?>",
    # entities: named / numeric / hex / missing-semicolon
    b"<p>AT&amp;T &#65;&#x42; caf&eacute; fish &amp chips and more text"
    b" here</p>",
    # unquoted / single-quoted / valueless attributes
    b"<table border=1 class='x y'><tr><td data-a>a</td><td>b</td></tr>"
    b"<tr><td>c</td><td>d</td></tr></table>",
    # self-closing and void tags
    b"<p>Before the break<br/>after the break, still one block here"
    b" ok</p><img src='x.png'/>",
    # script/style rawtext containing '<' and fake tags
    b"<script>if (a < b) { x = '<p>not a tag</p>'; }</script>"
    b"<style>p > a { color: red }</style>"
    b"<p>Visible content paragraph long enough to be kept.</p>",
    # '<' as plain text, '<3' emoticon
    b"<p>I <3 parsing; 1 < 2 and 3 > 2, all just ordinary text"
    b" here.</p>",
    # stray close tags, mismatched nesting
    b"</div><p>Content paragraph long enough here okay.</p></span>",
    # attr values containing '>' inside quotes
    b'<div class="a>b"><p>Quoted-gt attr paragraph long enough'
    b" here.</p></div>",
    # uppercase tags and attributes
    b'<TABLE BORDER="1"><TR><TD>x</TD><TD>y</TD></TR>'
    b"<TR><TD>1</TD><TD>2</TD></TR></TABLE>",
    # unterminated tag at EOF
    b"<p>Tail content paragraph long enough here okay.</p><div cla",
    # bogus markup declarations
    b"<![CDATA[ x > y ]]><p>After cdata-ish block, long enough"
    b" text.</p>",
    # entities in attributes
    b'<div class="nav&#45;bar"><p>short link</p></div>',
    # nested pre with table-ish content
    b"<pre>col a      col b\n1.0      2.0\n3.0      4.0</pre>",
    # empty attr chunk whitespace
    b"<p   >Spaced tag content paragraph long enough here.</p>",
    # --- regression corpus: html.parser divergences found round 1 ---
    # unterminated declarations / comments / PIs at EOF (hypothesis
    # found b'<!': html.parser emits the remainder as data)
    b"<!",
    b"<!-",
    b"<!--",
    b"<!-- truncated comment",
    b"<![",
    b"<![CDATA[ truncated",
    b"<?php truncated",
    b"</",
    b"</div",
    b"<!DOCTYPE html",
    # '-- >' closes a comment (commentclose is --\s*>), '<!-->' doesn't
    b"<!-- x -- >visible tail text long enough to keep here.",
    b"<!-->after bogus comment, visible text long enough here.",
    # bare attr value ending in '/': NOT self-closing (attrfind eats
    # the '/' into the value) — the whole table must survive
    b"<table border=1/><tr><td>a</td><td>b</td></tr>"
    b"<tr><td>c</td><td>d</td></tr></table>",
    b'<section data-page=3/><p>Paragraph on page three long enough'
    b" here.</p></section>",
    # disallowed byte cuts the tag head: '<p' becomes data
    b"<p\x00>text after nul tag long enough to keep here okay.",
    # '</ p>' IS an end tag (endtagfind allows \s after '</')
    b"<p>Before the spaced close tag long enough here.</ p>after",
    # end tag with junk before '>': name is taken, rest ignored
    b"<p>Content here long enough to keep.</p attr='x'>tail",
    # end tag name with non-name char: html.parser takes 'p@' (tagfind
    # is broad), not 'p'
    b"<p>Content paragraph long enough to keep here.</p@>tail",
    # rawtext: '</scriptx>' and '</script foo>' do NOT close a script
    b"<script>a</scriptx>b</script>c visible tail long enough here.",
    b"<script>a</script foo>b</script>c visible tail long enough.",
    # rawtext: '</ script >' DOES close it
    b"<script>hidden</ script >visible text long enough to keep.",
    # unterminated rawtext tail is never flushed
    b"<p>Kept paragraph long enough here.</p><script>dropped tail",
    # unterminated start tag mid-soup: recovery chunks at '<'/'>'
    b"<p class='x' <div>weird nested open tag text long enough.</div>",
    b"<div cla &amp; entity inside unterminated tag no close",
    # MS marked sections close at ]>
    b"<![if x]>conditional body long enough here.<![endif]>tail",
    # pre inside a paged section, a fake <td> in rawtext, a block
    # inside a table cell
    b"<section data-page='2'><pre>a  b\nc  d</pre></section>"
    b"<script>x<td></script><table><tr><td>1<p>q</p></td></table>",
    # --- attr-bearing and self-closing tags through the start/end
    # blocks (the slow path's tags share run_fused's blocks) ---
    # self-closing void tag with a class inside a paragraph
    b'<p>Before the classed break<br class="x" />after it, still one'
    b" block long enough.</p>",
    # self-closing cell with a class inside a ruled table
    b'<table border="1"><tr><td class="a"/>x<td>b</td></tr>'
    b"<tr><td>c</td><td>d</td></tr></table>",
    # rawtext with attributes: '<' and a fake <p> stay hidden
    b'<script type="text/js">if (a < b) { y = "<p>fake</p>"; }</script>'
    b"<p>Visible paragraph after the typed script, long enough.</p>",
    # self-closing script with attrs: no CDATA mode, text stays visible
    b'<script type="x"/><p>Text after a self-closed script tag, long'
    b" enough to keep.</p>",
    # unterminated rawtext tail with attributes is never flushed
    b"<p>Kept paragraph before the style, long enough here.</p>"
    b'<style media="x">p { color: red } dropped tail',
    # boiler class tokens on a container and on a block
    b'<div class="footer"><p>Footer paragraph text long enough to'
    b' count.</p></div><p class="menu">Menu paragraph text long'
    b" enough to count.</p><p>Plain content paragraph after them.</p>",
    # boiler-classed borderless table
    b'<table class="sidebar" border="0"><tr><td>a</td><td>b</td></tr>'
    b"<tr><td>c</td><td>d</td></tr></table>",
    # data-page that is not an int keeps the current page
    b'<section data-page="x"><p>Paragraph under a bad page value,'
    b" long enough.</p></section>",
    # nested paged sections: closing the inner one restores page 2
    b'<section data-page="2"><p>Page two paragraph long enough.</p>'
    b'<section data-page="5"><p>Page five paragraph long enough.</p>'
    b"</section><p>Back on page two, paragraph long enough.</p>"
    b"</section>",
    # nested classed pre blocks
    b'<pre class="a">col a    col b\n1.0    2.0\n<pre class="b">3.0'
    b"    4.0</pre>\n5.0    6.0</pre>",
    # uppercase attr names and values on a ruled, nav-classed table
    b'<TABLE Border="1" CLASS="Nav"><TR><TD>x</TD><TD>y</TD></TR>'
    b"<TR><TD>1</TD><TD>2</TD></TR></TABLE>",
    # end tags with trailing whitespace
    b"<p>Paragraph with a spaced close, long enough here.</p >"
    b"<table border=1><tr><td>a</td\t><td>b</td></tr><tr><td>c"
    b"</td><td>d</td></tr></table><p><a href=x>link</a >tail text"
    b" long enough.</p>",
    # unterminated tag-name runs (16 KB each): the simple-start-tag
    # gate must fail without backtracking through each run
    b"<a" * 8192,
    b'{"t":"<em","v":1},' * 910,
    # --- rows the row token reads whole, and shapes it must leave to
    # the token path ---
    b"<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td>"
    b"</tr></table>",
    b"<table><tr></tr><tr><td></td></tr><tr><td>x</td><td>y</td></tr>"
    b"<tr><td>1</td><td>2</td></tr></table>",
    # a <th> closed by </td>
    b"<table><tr><th>h1</td><th>h2</th></tr><tr><td>1</td><td>2</td>"
    b"</tr></table>",
    # a cell holding &amp; and one with an unterminated entity
    b"<table><tr><th>AT&amp;T</th><th>fish &amp chips</th></tr>"
    b"<tr><td>&#65;&#x42;</td><td>caf&eacute;</td></tr></table>",
    # whitespace and text between cells, before the first cell and
    # before </tr>
    b"<table>\n  <tr>\n    <td>a</td>\n    <td> b </td>  \n  </tr>\n"
    b"  <tr>lead<td>c</td>mid<td>d</td>tail</tr>\n</table>",
    b"<table><tr><TD>upper</TD><td>lower</td></tr>"
    b"<tr><td>1</td><td>2</td></tr></table>",
    # a row at EOF with no </tr>
    b"<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td>",
    b"<table><tr/><td>a</td><td>b</td><tr><td>c</td><td>d</td></tr>"
    b"</table>",
    # a table inside a cell
    b"<table><tr><td>outer<table><tr><td>i1</td><td>i2</td></tr>"
    b"<tr><td>i3</td><td>i4</td></tr></table></td><td>o2</td></tr>"
    b"<tr><td>o3</td><td>o4</td></tr></table>",
    # rows inside <noscript> (text dropped) and <pre> (raw text)
    b"<noscript><table><tr><td>a</td><td>b</td></tr><tr><td>c</td>"
    b"<td>d</td></tr></table></noscript><p>After the noscript table,"
    b" long enough.</p>",
    b"<table><tr><td>1</td><td>2</td></tr><tr><td><pre>x  y\nz  w"
    b"</pre></td></tr></table>",
    b"<pre><table><tr><td>a</td><td>b</td></tr>\n<tr><td>c</td>"
    b"<td>d</td></tr></table></pre>",
    # an unclosed <tr> before a long text run: the failed row match
    # must stop at the next '<' (linear in the input)
    (b"<table><tr>" + b"x" * 16384) * 2,
]


def _norm(res: dict) -> tuple:
    return (
        res["n_pages"], res["extracted_text"],
        tuple(
            tuple(sorted(t.items())) if not isinstance(t, dict) else
            tuple(sorted(
                (k, tuple(map(tuple, v)) if k == "cells" else
                 tuple(sorted(v.items())) if k == "metadata" else v)
                for k, v in t.items()))
            for t in res["tables"]),
        tuple(tuple(sorted(s.items())) for s in res["spans"]),
    )


@pytest.mark.parametrize("seed", [42, 7, 99, 5])
def test_scanner_matches_refkernel_on_corpus(seed):
    for r in gen_rows(250, seed=seed):
        eng = extract_one(r["url"], r["html"])
        ref = extract_document(r["url"], r["html"])
        assert _norm(eng) == _norm(ref), r["url"]


@pytest.mark.parametrize("idx", range(len(NASTY)))
def test_scanner_matches_refkernel_on_nasty(idx):
    html = NASTY[idx]
    eng = extract_one("u", html)
    ref = extract_document("u", html)
    assert _norm(eng) == _norm(ref), html


class _CountingMatch:
    """Stands in for a compiled pattern and counts its matches."""

    def __init__(self, rx):
        self.rx = rx
        self.calls = self.hits = 0

    def match(self, s, pos):
        self.calls += 1
        mt = self.rx.match(s, pos)
        self.hits += mt is not None
        return mt


def test_row_token_reads_plain_rows_whole(monkeypatch):
    """Engine only: a plain 500-row table is read one row token per
    row, with the same grid as refkernel."""
    from pdf_extraction_api_spark.kernel import model

    proxy = _CountingMatch(model._SIMPLE_ROW)
    monkeypatch.setattr(model, "_SIMPLE_ROW", proxy)
    html = ("<table border=1>" + "".join(
        f"<tr><th>r{k}</th><td>{k}</td><td>a&amp;b</td></tr>\n"
        for k in range(500)) + "</table>").encode()
    eng = extract_one("u", html)
    assert (proxy.calls, proxy.hits) == (500, 500)
    assert _norm(eng) == _norm(extract_document("u", html))


def test_failed_row_token_is_linear():
    """Engine only: on `<table><tr>` + a long text run, the failed row
    match stops at the next '<'. Best-of-5 CPU time at 4x the input
    stays under 8x (linear gives ~4x; a scan to EOF per row, 16x)."""
    import time

    from pdf_extraction_api_spark.kernel.model import parse_document

    def cpu(k):
        html = (b"<table><tr>" + b"x" * 16384) * k
        best = float("inf")
        for _ in range(5):
            t0 = time.process_time()
            parse_document(html)
            best = min(best, time.process_time() - t0)
        return best

    small, large = cpu(64), cpu(256)
    assert large <= 8 * max(small, 1e-3), (small, large)

"""Slow-path tokenizer helpers for ``model.run_fused``.

``run_fused`` is the kernel's only HTML tokenizer: one whole-document
pass that reproduces the event stream of ``HTMLParser.goahead(end=1)``
with ``convert_charrefs=True`` (start/end/data; comments/decls/PIs are
no-ops for DocModel). It replaces stdlib ``html.parser``, which costs
a large share of kernel time (feed/close re-buffering, ``updatepos``
line counting, ``interesting`` dispatch, attribute parsing +
unescaping for every tag). Its batched dispatch token (``_FUSED_TOKEN``)
covers text runs, attribute-less start tags and simple end tags; every
other construct goes through the helpers here. The tag helpers
(``_starttag``, ``_endtag``) return the tag they parsed instead of
dispatching it, so ``run_fused``'s start-tag and end-tag blocks are
the only copy of the model's tag semantics. Together they skip the
html.parser bookkeeping DocModel never observes:

- no ``updatepos``/``getpos`` line tracking;
- attribute tuples are only *built* when the raw attr chunk could
  matter to DocModel (``class`` / ``border`` / ``data-page``
  substrings) — the attrfind walk still runs so tag/data boundaries
  are exact;
- ``html.unescape`` is only called when ``&`` is present (it
  early-outs anyway, this skips the call overhead).

Exactness strategy: every tokenization decision reuses the *stdlib's
own compiled regexes* (``locatestarttagend_tolerant``,
``tagfind_tolerant``, ``attrfind_tolerant``, ``endtagfind``,
``commentclose``, ``_markupbase`` marked-section patterns), and the
control flow mirrors ``html.parser.HTMLParser.goahead`` /
``parse_starttag`` / ``parse_endtag`` / ``parse_html_declaration`` /
``_markupbase.parse_marked_section`` line for line, including the
EOF-recovery path (incomplete construct → data up to the next ``>``,
else next ``<``, else one char, charref-unescaped) and the CDATA rule
that an unterminated <script>/<style> tail is never flushed.

One html.parser behavior needs a convention: ``parse_marked_section``
*raises AssertionError* on ``<![`` with a missing/unknown status
keyword (e.g. ``<![x]>``). refkernel catches that and stops parsing at
the offending construct (refkernel/htmlmodel.py:parse_html);
``_marked_section`` reports ``_CRASH`` and ``run_fused`` returns at the
same position, so both kernels emit identical events for such
documents.

Equivalence is enforced by tests/test_htmlscan.py (corpora + NASTY
adversarial cases) and tests/test_fuzz_parity.py (hypothesis soup +
raw-bytes fuzz), both byte-compared through the full kernel against
refkernel, which stays on html.parser.
"""

from __future__ import annotations

import _markupbase as _mb
import re
from html import parser as _hp
from html import unescape

# stdlib's own compiled tokenizer regexes — reusing them (instead of
# copying the patterns) guarantees the scanner cannot drift from
# html.parser semantics across CPython patch versions.
_LOCATE = _hp.locatestarttagend_tolerant
_TAGFIND = _hp.tagfind_tolerant
_ATTRFIND = _hp.attrfind_tolerant
_ENDTAGFIND = _hp.endtagfind
_COMMENTCLOSE = _hp.commentclose
_DECLNAME_MATCH = _mb._declname_match
_MARKEDCLOSE = _mb._markedsectionclose
_MSMARKEDCLOSE = _mb._msmarkedsectionclose

_RAWTEXT = ("script", "style")  # HTMLParser.CDATA_CONTENT_ELEMENTS
# html.parser.set_cdata_mode: rawtext ends only at a full </tag\s*>
_CDATA_CLOSE = {
    t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE) for t in _RAWTEXT
}
# check_for_whole_start_tag: chars after locatestarttagend that mean
# "end of input in or before attribute value" → incomplete
_INCOMPLETE_NEXT = "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
# attr substrings run_fused's start block reacts to (lexicon class
# tokens are checked against the raw class value, so 'class' gates all
# of them)
_INTERESTING_ATTRS = ("class", "border", "data-page")
# _markupbase.parse_marked_section status keywords
_STD_SECTIONS = frozenset({"temp", "cdata", "ignore", "include",
                           "rcdata"})
_MS_SECTIONS = frozenset({"if", "else", "endif"})

_INCOMPLETE = -1  # construct unterminated at EOF → recovery path
_CRASH = -2       # html.parser would raise AssertionError here

# Batched dispatch token for model.run_fused: ONE regex call replaces
# the per-construct find('<') + 1-char slice + class test + separate
# tagfind/endtagfind match. Composed from the stdlib's own pattern
# STRINGS (not retyped), preserving this module's no-drift guarantee:
#   group 1 — text run up to the next '<' (== s.find('<') semantics)
#   group 2 — simple start tag name: tagfind_tolerant + immediate '>'
#             (the gate `tagfind.match; s[k]=='>'`, where
#             parse_starttag yields start(tag, []) with no attrfind
#             walk). The tagfind part is an atomic group, because
#             backtracking into it can never find the '>': each char
#             it gives back is a name, whitespace or '/' char, and a
#             shorter name only lets the trailing \s|/ run retake the
#             same chars and stop where it stopped before. So a failed
#             gate fails at once instead of backtracking through the
#             whole name run, which made runs of unterminated `<a`
#             quadratic on top of html.parser's own rescans
#   group 3 — end tag name: endtagfind verbatim (sans the leading '<')
# Anything else (attrs, comments, PIs, marked sections, EOF '<') makes
# both tag groups None and falls to the verbatim slow dispatch.
# The refkernel parity suites gate this (tests/test_htmlscan.py,
# tests/test_fuzz_parity.py).
_FUSED_TOKEN = re.compile(
    "([^<]*)<(?:(?>" + _TAGFIND.pattern + ")>|"
    + _ENDTAGFIND.pattern[1:] + ")?")
assert _FUSED_TOKEN.groups == 3, "stdlib tokenizer patterns changed shape"


def _recover(s: str, i: int, data) -> int:
    """goahead's end-of-input recovery for an incomplete construct:
    emit data up to (and including) the next '>', else up to the next
    '<', else one char — charref-unescaped — and resume there."""
    k = s.find(">", i + 1)
    if k < 0:
        k = s.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    chunk = s[i:k]
    data(unescape(chunk) if "&" in chunk else chunk)
    return k


def _marked_section(s: str, lt: int, n: int) -> int:
    """_markupbase.parse_marked_section semantics for '<![' at lt.
    Returns end position, _INCOMPLETE, or _CRASH (html.parser raises
    AssertionError on a missing/unknown status keyword)."""
    j = lt + 3
    if j == n:  # _scan_name: i == n → incomplete
        return _INCOMPLETE
    m = _DECLNAME_MATCH(s, j)
    if not m:
        return _CRASH
    if m.end() == n:  # _scan_name: name runs to end of buffer
        return _INCOMPLETE
    name = m.group().strip().lower()
    if name in _STD_SECTIONS:
        m2 = _MARKEDCLOSE.search(s, j)   # ]\s*]\s*>
    elif name in _MS_SECTIONS:
        m2 = _MSMARKEDCLOSE.search(s, j)  # ]\s*>
    else:
        return _CRASH
    return _INCOMPLETE if m2 is None else m2.end()


def _starttag(s: str, lt: int, data):
    """parse_starttag + check_for_whole_start_tag, verbatim, minus the
    dispatch: returns (new_pos, tag|None, attrs, self_closing) and the
    caller runs the tag through run_fused's start (and, if
    self-closing, end) block. new_pos == _INCOMPLETE → the caller runs
    the recovery path; a desynced tag is emitted as data here and
    returned with tag None."""
    m = _LOCATE.match(s, lt)
    j = m.end()
    nxt = s[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if s.startswith("/>", j):
            endpos = j + 2
        else:
            return _INCOMPLETE, None, None, False
    elif nxt == "":
        return _INCOMPLETE, None, None, False
    elif nxt in _INCOMPLETE_NEXT:
        return _INCOMPLETE, None, None, False
    else:
        # bogus char right after the tag head: parse_starttag will
        # emit the raw slice as data (j > lt always: _LOCATE consumed
        # at least '<' + one name char)
        endpos = j
    mt = _TAGFIND.match(s, lt + 1)
    tag = mt.group(1).lower()
    k = mt.end()
    # attrfind walk — always runs (it fixes the tag/data decision),
    # but tuples are only built when DocModel could observe them.
    # NOTE: the or-chain below is a hardcoded copy of
    # _INTERESTING_ATTRS for speed — the import-time assert at the
    # bottom of this module keeps the two in sync.
    lowchunk = s[k:endpos].lower()
    want = ("class" in lowchunk or "border" in lowchunk
            or "data-page" in lowchunk)
    attrs: list[tuple[str, str | None]] = []
    while k < endpos:
        ma = _ATTRFIND.match(s, k)
        if not ma:
            break
        if want:
            attrname, rest, attrvalue = ma.group(1, 2, 3)
            if not rest:
                attrvalue = None
            elif (attrvalue[:1] == "'" == attrvalue[-1:]
                  or attrvalue[:1] == '"' == attrvalue[-1:]):
                attrvalue = attrvalue[1:-1]
            if attrvalue:
                attrvalue = unescape(attrvalue)
            attrs.append((attrname.lower(), attrvalue))
        k = ma.end()
    end_chunk = s[k:endpos].strip()
    if end_chunk not in (">", "/>"):
        # desynced tag (e.g. '<p\x00>'): raw slice as data, resume
        # right after it — handle_data is NOT unescaped here
        data(s[lt:endpos])
        return endpos, None, None, False
    return endpos, tag, attrs, end_chunk == "/>"


def _endtag(s: str, lt: int):
    """parse_endtag (non-CDATA path), verbatim, minus the dispatch:
    returns (new_pos, tag|None); tag None means no end event."""
    gtm = s.find(">", lt + 1)  # endendtag
    if gtm < 0:
        return _INCOMPLETE, None
    m = _ENDTAGFIND.match(s, lt)  # </ \s* name \s* >
    if m:
        return gtm + 1, m.group(1).lower()
    nm = _TAGFIND.match(s, lt + 2)
    if not nm:
        if s.startswith("</>", lt):
            return lt + 3, None
        # parse_bogus_comment (handle_comment is a DocModel no-op)
        pos = s.find(">", lt + 2)
        if pos < 0:  # unreachable: gtm >= lt + 2 exists
            return _INCOMPLETE, None
        return pos + 1, None
    # '>' always exists past nm.end(): the name class excludes '>'
    return s.find(">", nm.end()) + 1, nm.group(1).lower()


# _starttag's attr-interest gate hardcodes these names; if run_fused's
# start block ever reacts to a new attribute, this assert forces the
# gate to be updated too (otherwise the new attr would silently never
# be parsed).
assert _INTERESTING_ATTRS == ("class", "border", "data-page"), (
    "update the hardcoded attr-interest gate in _starttag")

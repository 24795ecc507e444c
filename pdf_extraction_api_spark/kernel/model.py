"""Engine-side single-pass HTML document model (KERNEL_SPEC.md §1-3).

Unlike refkernel's two-phase (item tape → assembler) design, this
parser accumulates spans, content text and raw table grids directly as
tags close — one traversal per document, no intermediate item list.
Output per document: (content_parts, spans, tables_by_page, n_pages).
"""

from __future__ import annotations

import re

from .lexicon import BOILER_CLASS_TOKENS, BOILER_TAGS

_WS = re.compile(r"\s+")
_GAP = re.compile(r" {2,}")

# Row token (run_fused's `<tr>` branch): the rest of a plain row, up to
# and including its `</tr>` — cells written exactly `<td>text</td>` or
# `<th>text</th>`, any text between them, nothing else. _CELL_TEXT
# then reads the cells' texts out of the matched span. The general
# path reaches the same state for such a row; see run_fused. The
# quantifiers are possessive because giving anything back can never
# help: every [^<]* run is followed by a '<', and a repetition given
# back would leave the tail to find '</tr>' where '<td>' or '<th>'
# stands. So a row that does not fit fails at its first odd '<'.
_SIMPLE_ROW = re.compile(
    r"(?:[^<]*+(?:<td>[^<]*+</td>|<th>[^<]*+</th>))*+[^<]*+</tr>")
_CELL_TEXT = re.compile(r"<t[dh]>([^<]*)<")

_SKIP = frozenset({"script", "style", "noscript", "template", "svg",
                   "head"})
_BLOCK = frozenset({"p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
                    "blockquote", "figcaption", "dt", "dd"})
_CONTAINER = frozenset({"div", "section", "article", "main", "body",
                        "ul", "ol", "nav", "footer", "header", "aside",
                        "figure"})


def _norm(s: str) -> str:
    # alnum strings contain no whitespace: sub+strip are no-ops, and
    # one C isalnum call beats the regex machinery (hot: every span).
    # " ".join(split()) == _WS.sub(" ", s).strip() for EVERY codepoint
    # (str.split's whitespace set equals regex \s — verified
    # exhaustively over all of Unicode) and measures 3x faster on the
    # real span inputs; refkernel stays on the regex spelling and the
    # parity suites pin the two equal.
    if s.isalnum():
        return s
    # (a printable/single-spaced identity fast path here measured
    # 0.89x on the real call mix — _norm's inputs are short enough
    # that the prefilter scans cost more than split+join; the same
    # path IS a 1.34x win in _emit_block where runs are longer)
    return " ".join(s.split())


def _nonws_count(s: str) -> int:
    """Non-whitespace char count — same \\s class as refkernel's
    findall(r'\\S') (Unicode-aware; str.split whitespace == regex \\s,
    verified over all codepoints) without building a new string."""
    if s.isalnum():
        return len(s)
    # printable ⇒ space is the only whitespace char present (see
    # _norm), so the non-ws count is len minus the space count —
    # position-independent, no single/double-space caveats needed
    if s.isprintable():
        return len(s) - s.count(" ")
    return sum(map(len, s.split()))


def pre_rows(raw: str) -> list[list[str]] | None:
    lines = [ln for ln in raw.split("\n") if ln.strip()]
    if len(lines) < 2:
        return None
    rows = [_GAP.split(ln.strip()) for ln in lines]
    wide = sum(1 for r in rows if len(r) >= 2)
    return rows if wide >= 2 and wide / len(lines) >= 0.5 else None


class DocModel:
    """Single-pass extractor state. The tag semantics live only in
    run_fused's start-tag and end-tag blocks; the model keeps the
    state, handle_data (block text, slow-path text) and the close/emit
    helpers those blocks call."""

    def __init__(self):
        self.spans: list[tuple[str, int, int, int]] = []
        self.content: list[str] = []
        # page → {"lattice": [...grids], "stream": [...grids]}
        self.tables: dict[int, dict[str, list]] = {}
        self.max_page = 0
        self._cursor: dict[int, int] = {}
        self._stack: list[tuple[str, bool, int]] = []
        self._page = 1
        self._skip = 0
        self._links = 0
        # open block: [page, boiler, parts, link_parts] — counts are
        # derived at flush from ONE split (see _emit_block)
        self._blk: list | None = None
        # open tables: [page, method, rows, row|None, cell|None]
        self._tbl: list[list] = []
        self._pre: list | None = None  # [page, boiler, parts, depth]

    # -- emission -------------------------------------------------------
    def _span(self, kind: str, page: int, text: str):
        start = self._cursor.get(page, 0)
        self.spans.append((kind, page, start, start + len(text)))
        self._cursor[page] = start + len(text) + 1
        if page > self.max_page:
            self.max_page = page

    def _emit_block(self, page: int, boiler: bool, raw: str,
                    link_raw: str):
        # ONE split serves normalization AND the total non-ws count
        # (total == len(text) - gaps; r4 fuse of the former per-chunk
        # _nonws_count accumulation — values identical: non-ws count
        # of the concatenated chunks equals the sum over chunks)
        if raw.isalnum():
            text = raw
            total = len(raw)
        elif (raw and "  " not in raw and raw[0] != " "
                and raw[-1] != " " and raw.isprintable()):
            # single-spaced printable run: join(split()) is the
            # identity (see _norm) and the non-ws total is len minus
            # the space count; raw is non-empty and not all-space
            # (no leading space) so parts could not have been empty
            text = raw
            total = len(raw) - raw.count(" ")
        else:
            parts = raw.split()
            if not parts:
                return
            text = " ".join(parts)
            total = len(text) - len(parts) + 1
        if boiler:
            kind = "boilerplate"
        else:
            link = _nonws_count(link_raw) if link_raw else 0
            d = link / total if total > 0 else 0.0
            kind = ("boilerplate" if d > 0.5
                    or (len(text) < 25 and d > 0.2) else "content")
        self._span(kind, page, text)
        if kind == "content":
            self.content.append(text)

    def _flush_blk(self):
        b, self._blk = self._blk, None
        if b is not None:
            self._emit_block(b[0], b[1], "".join(b[2]), "".join(b[3]))

    def _emit_table(self, page: int, method: str, rows: list[list[str]]):
        # hot: one span per non-empty cell — cursor arithmetic is kept
        # in a local and written back once (same spans as per-cell
        # _span calls, minus 2 dict ops + a method call per cell)
        spans_append = self.spans.append
        cur = self._cursor
        start = cur.get(page, 0)
        for row in rows:
            for cell in row:
                t = _norm(cell)
                if t:
                    e = start + len(t)
                    spans_append(("table_cell", page, start, e))
                    start = e + 1
        cur[page] = start
        slot = self.tables.setdefault(page, {"lattice": [], "stream": []})
        slot[method].append(rows)
        if page > self.max_page:
            self.max_page = page

    def _close_cell(self, t):
        if t[4] is not None and t[3] is not None:
            t[3].append("".join(t[4]))
        t[4] = None

    def _close_row(self, t):
        self._close_cell(t)
        if t[3] is not None:
            t[2].append(t[3])
        t[3] = None

    def _close_table(self):
        t = self._tbl.pop()
        self._close_row(t)
        self._emit_table(t[0], t[1], t[2])

    def _finish_pre(self):
        page, boiler, parts, _ = self._pre
        self._pre = None
        raw = "".join(parts)
        rows = pre_rows(raw)
        if rows is not None:
            self._emit_table(page, "stream", rows)
        else:
            # no links inside <pre> accounting: link_raw "" → d = 0,
            # same kind decision as the old (0, _nonws_count(raw))
            self._emit_block(page, boiler, raw, "")

    # -- text events (tags: run_fused's start/end blocks) ---------------
    def handle_data(self, data):
        if self._skip or not data:
            return
        if self._pre is not None:
            self._pre[2].append(data)
            return
        if self._tbl:
            t = self._tbl[-1]
            if t[4] is not None:
                t[4].append(data)
            return
        if self._blk is None:
            if not data.strip():
                return
            boiler = self._stack[-1][1] if self._stack else False
            self._blk = [self._page, boiler, [], []]
        self._blk[2].append(data)
        if self._links:
            self._blk[3].append(data)

    def finish(self):
        while self._tbl:
            self._close_table()
        if self._pre is not None:
            self._finish_pre()
        self._flush_blk()


def run_fused(m: DocModel, s: str) -> None:
    """The kernel's only HTML tokenizer, and the only copy of the model's
    start-tag and end-tag semantics.

    Event semantics are html.parser's (feed + close), reproduced with
    the stdlib's own regexes. One batched token covers text runs,
    attribute-less start tags and simple end tags; attr-bearing or
    malformed tags, comments, marked sections and EOF recovery go
    through htmlscan's slow-path helpers, which return the tag instead
    of dispatching it. Both paths set ``tag`` / ``attrd`` / ``etag``
    and fall through to the same two blocks, inline in the loop, so no
    event costs a handler call (~300-500 events/doc). A self-closing
    tag runs the start block and then the end block; a script/style
    start tag sets ``etag`` once its CDATA close is found.

    Row token: at a ``<tr>`` start tag inside a table (not self-closed,
    not under a skipped element, not in a ``<pre>``), a row that
    ``_SIMPLE_ROW`` matches whole is read with one regex match and one
    ``_CELL_TEXT.findall`` instead of one token per tag. It is exact:
    on that row the token path opens and closes each cell in turn
    (stack push then pop), appends each cell's one text chunk —
    unescaped if it holds ``&`` — and drops the text between cells
    (no cell is open there); ``</tr>`` pops the ``<tr>`` and appends
    the row. So the row token appends the same row, leaves no row open
    and the stack as it was. Any other shape (attributes, uppercase
    tags, ``<th>`` closed by ``</td>``, nested tags, no ``</tr>``)
    fails the match and takes the token path.

    Equivalence guards, both byte-compared against refkernel (which
    stays on html.parser): tests/test_htmlscan.py (corpus + NASTY) and
    tests/test_fuzz_parity.py (hypothesis soup + raw bytes through
    extract_one, which uses this path).
    """
    from . import htmlscan as H

    data = m.handle_data
    st = m._stack
    tbl = m._tbl
    unescape = H.unescape
    token = H._FUSED_TOKEN.match
    simple_row = _SIMPLE_ROW.match
    cell_text = _CELL_TEXT.findall
    n = len(s)
    i = 0
    while i < n:
        # batched dispatch: one match yields (text-run, simple-start,
        # simple-end) — see htmlscan._FUSED_TOKEN for the equivalence
        # argument vs the old find + classify + tagfind sequence
        mtok = token(s, i)
        if mtok is None:  # no '<' left: final text flush
            chunk = s[i:]
            data(unescape(chunk) if "&" in chunk else chunk)
            return
        chunk, tag, etag = mtok.group(1, 2, 3)  # one C call, not three
        if chunk:
            if "&" in chunk:
                chunk = unescape(chunk)
            # inlined handle_data fast paths (table cell / pre); the
            # block path keeps its full logic in the method
            if m._skip:
                pass
            elif m._pre is not None:
                m._pre[2].append(chunk)
            elif tbl:
                cell = tbl[-1][4]
                if cell is not None:
                    cell.append(chunk)
            else:
                data(chunk)
        if tag is not None:
            tag = tag.lower()
            attrd = None
            i = mtok.end()
        elif etag is not None:
            etag = etag.lower()
            i = mtok.end()
        else:
            # neither simple form matched at this '<': verbatim slow
            # dispatch (attr-bearing/malformed tags, comments, decls,
            # marked sections, PIs, EOF '<'), mirroring html.parser
            # goahead; only tags set tag/etag, the rest emit no event
            lt = mtok.end(1)
            c = s[lt + 1: lt + 2]
            # ASCII letters only — html.parser's starttagopen is [a-zA-Z]
            if "a" <= c <= "z" or "A" <= c <= "Z":
                i, tag, attrs, closed = H._starttag(s, lt, data)
                if i < 0:
                    i = H._recover(s, lt, data)
                    continue
                attrd = dict(attrs) if attrs else None
                if closed:
                    etag = tag
            elif c == "/":
                i, etag = H._endtag(s, lt)
                if i < 0:
                    i = H._recover(s, lt, data)
                    continue
            elif c == "!":
                if s.startswith("<!--", lt):
                    m2 = H._COMMENTCLOSE.search(s, lt + 4)
                    i = H._recover(s, lt, data) if m2 is None else m2.end()
                elif s.startswith("<![", lt):
                    k = H._marked_section(s, lt, n)
                    if k == H._CRASH:
                        # html.parser raises AssertionError; refkernel
                        # catches it and stops parsing — match that.
                        return
                    i = H._recover(s, lt, data) if k < 0 else k
                elif s[lt:lt + 9].lower() == "<!doctype":
                    gt = s.find(">", lt + 9)
                    i = H._recover(s, lt, data) if gt < 0 else gt + 1
                else:
                    # parse_bogus_comment (handle_comment is a no-op)
                    gt = s.find(">", lt + 2)
                    i = H._recover(s, lt, data) if gt < 0 else gt + 1
                continue
            elif c == "?":
                # parse_pi (handle_pi is a DocModel no-op)
                gt = s.find(">", lt + 2)
                i = H._recover(s, lt, data) if gt < 0 else gt + 1
                continue
            elif c == "":
                # lone '<' at EOF: goahead breaks, final flush emits it
                data("<")
                return
            else:
                data("<")  # raw single char, then resume as text
                i = lt + 1
                continue
        if tag is not None:
            # ---- start tag (attrd: None unless an attr can matter) ----
            boiler = st[-1][1] if st else False
            page_before = page = m._page
            if tag in _SKIP:
                m._skip += 1
                st.append((tag, boiler, page))
                if etag is None and tag in H._RAWTEXT:
                    # CDATA mode: content raw, ends only at a full
                    # </tag\s*> ; an unterminated tail is NEVER flushed
                    # (goahead: cdata break + final-emit guard). The
                    # content itself is no event: handle_data would
                    # drop it (m._skip >= 1 here)
                    m2 = H._CDATA_CLOSE[tag].search(s, i)
                    if m2 is None:
                        return
                    etag = tag
                    i = m2.end()
            else:
                if not boiler and tag in BOILER_TAGS:
                    boiler = True
                if attrd is not None:
                    cls = attrd.get("class")
                    if not boiler and cls is not None:
                        low = cls.lower()
                        boiler = any(tok in low for tok in BOILER_CLASS_TOKENS)
                    if tag == "section":
                        dp = attrd.get("data-page")
                        if dp is not None:
                            try:
                                page = m._page = int(dp)
                            except ValueError:
                                pass
                if m._pre is not None:
                    if tag == "pre":
                        m._pre[3] += 1
                elif tag == "table":
                    m._flush_blk()
                    border = attrd.get("border") if attrd is not None else None
                    tbl.append([page, "stream" if border in (None, "", "0")
                                else "lattice", [], None, None])
                elif tbl:
                    # hot path: td/tr dominate table-heavy docs — the
                    # close helpers are inlined (same logic as
                    # _close_cell/_close_row)
                    t = tbl[-1]
                    if tag == "tr":
                        row = t[3]
                        cell = t[4]
                        if cell is not None and row is not None:
                            row.append("".join(cell))
                        t[4] = None
                        if row is not None:
                            t[2].append(row)
                        if etag is None and not m._skip:
                            # row token: a plain row is read whole
                            mrow = simple_row(s, i)
                            if mrow is not None:
                                end = mrow.end()
                                row = cell_text(s, i, end)
                                if s.find("&", i, end) >= 0:
                                    row = [unescape(c) if "&" in c else c
                                           for c in row]
                                t[2].append(row)
                                t[3] = None
                                i = end
                                continue
                        t[3] = []
                    elif tag in ("td", "th"):
                        cell = t[4]
                        if cell is not None and t[3] is not None:
                            t[3].append("".join(cell))
                        if t[3] is None:
                            t[3] = []
                        t[4] = []
                elif tag == "pre":
                    m._flush_blk()
                    m._pre = [page, boiler, [], 1]
                elif tag in _BLOCK:
                    m._flush_blk()
                    m._blk = [page, boiler, [], []]
                elif tag == "a":
                    m._links += 1
                elif tag in _CONTAINER:
                    m._flush_blk()
                st.append((tag, boiler, page_before))
        if etag is not None:
            # ---- end tag ----
            if st and st[-1][0] == etag:  # well-formed fast path
                page_before = st[-1][2]
                st.pop()
            else:
                idx = None
                for j in range(len(st) - 1, -1, -1):
                    if st[j][0] == etag:
                        idx = j
                        break
                if idx is None:
                    continue
                page_before = st[idx][2]
                del st[idx:]
            if etag in _SKIP:
                m._skip = max(0, m._skip - 1)
                continue
            if m._pre is not None:
                if etag == "pre":
                    m._pre[3] -= 1
                    if m._pre[3] == 0:
                        m._finish_pre()
                continue
            if etag == "table":
                if tbl:
                    m._close_table()
            elif tbl:
                # hot path: inlined _close_row/_close_cell
                t = tbl[-1]
                if etag == "tr":
                    row = t[3]
                    cell = t[4]
                    if cell is not None and row is not None:
                        row.append("".join(cell))
                    t[4] = None
                    if row is not None:
                        t[2].append(row)
                    t[3] = None
                elif etag in ("td", "th"):
                    cell = t[4]
                    if cell is not None and t[3] is not None:
                        t[3].append("".join(cell))
                    t[4] = None
            elif etag in _BLOCK:
                m._flush_blk()
            elif etag == "a":
                m._links = max(0, m._links - 1)
            elif etag in _CONTAINER:
                m._flush_blk()
            if etag == "section":
                m._page = page_before


def parse_document(html: bytes) -> DocModel:
    try:
        text = html.decode("utf-8")
    except UnicodeDecodeError:
        text = html.decode("latin-1")
    m = DocModel()
    run_fused(m, text)
    m.finish()
    return m

"""Engine-side table pipeline: clean → validate → score → classify →
dedup → emit (KERNEL_SPEC.md §4).

Independent, batch-optimized implementation of the same spec as
refkernel (precompiled regexes, fused single-pass metrics). Byte-parity
with refkernel is enforced by tests/test_engine_kernel.py and the
golden suite.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
from itertools import compress

from .lexicon import (
    CLASS_ORDER,
    CURRENCY_MAP,
    EXTRACTORS,
    KEYWORDS,
    PATTERNS,
    TICKER_EXCLUDE,
    UNIT_PATTERNS,
)

_WS = re.compile(r"\s+")
_NUMERIC = re.compile(r"^-?\d+\.?\d*$")


def _numeric_match(c: str) -> bool:
    """Truthiness-equivalent of _NUMERIC.match(c.strip()) with no
    regex machinery at all: the grammar ^-?\\d+\\.?\\d*$ is decided
    with C-level str ops. str.isdecimal() is EXACTLY the \\d class
    (Unicode category Nd) — str.isdigit() would be a superset (Nd∪No,
    e.g. superscript two) and is deliberately not used. Both callers
    (score_quality's header and column-type loops) consume the result
    as a boolean only; equivalence vs the regex is pinned by
    tests/test_kernel.py::test_numeric_match_equiv plus the golden
    and fuzz parity suites."""
    if c.isdecimal():          # all-digit cell: no strip, no parse
        return True
    s = c.strip()
    c0 = s[:1]
    if c0 != "-" and not c0.isdecimal():
        # word cell (the common miss): ^-?\d requires a digit or '-'
        # first — bail before paying the slice + partition below
        return False
    if c0 == "-":
        s = s[1:]
    head, _dot, tail = s.partition(".")
    return head.isdecimal() and (tail == "" or tail.isdecimal())

_META = set(".^$*+?{}[]()|\\")

# Must-contain literals of the classify regexes: every match of the
# pattern holds the literal, so a grid whose lowered text lacks it
# cannot match (the gate). None of the literals can overlap itself and
# findall's matches are disjoint, so each match holds its own
# occurrence and lowered.count(lit) also bounds the match count (the
# bound classify_grid prunes with). Hand-audited; the bound is
# property-tested in tests/test_engine_kernel.py. `\$[\d,]+` matches
# "$," with no digit, so it gets "$", not a digit gate. The one regex
# without a literal is the market pattern `\d{1,3}(,\d{3})*`: each of
# its matches holds a digit, so the digit count bounds it.
_MUST_CONTAIN = {
    r"\$[\d,]+": "$",
    r"\$\d+\.\d{2}": "$",
    r"\d+%": "%",
    r"\d+\.\d+%": "%",
    r"%\s*\([^)]+\)": "%",
    r"\d+\.\d+x": "x",
    r"r\s*=\s*[0-9.-]+": "=",
    r"n\s*=\s*\d+": "=",
    r"p\s*[<=]\s*0\.\d+": "0.",
    r"phase\s+[IVX123]": "phase",
    r"tco2e?": "tco2",
    r"scope\s*[123]": "scope",
}
_DIGIT_BOUNDED = r"\d{1,3}(,\d{3})*"
_ASCII_DIGITS = "0123456789"
_ANY_DIGIT = re.compile(r"\d")

# classify runs its patterns over LOWERCASED text in both engines
# (refkernel/classify.py:204,218 and classify_grid below), so a
# pattern with a mandatory uppercase atom can never match — eliding
# it changes no count, ever. Hand-audited; the uppercase-mandatory
# property is value-tested in tests/test_engine_kernel.py.
_NEVER_ON_LOWER = frozenset({
    r"\d+[KMB]",        # [KMB]: no lowercase members
    r"[A-Z]{2}\d{10}",
    r"[A-Z]{12}",
    PATTERNS["scientific_data"][0],  # the literal 'Ã‚Â±' (uppercase Ã:
    # no code point lowercases to it; _ERRBAR counts it un-lowered)
    PATTERNS["scientific_data"][2],  # mandatory 'Ã‚Â±' (uppercase Ã)
})


def _classify_plan():
    """The classify lexicon as one import-time plan: the distinct
    literals to count per grid (the pattern literals and the regex
    gates, each once), and per class in CLASS_ORDER (its keywords, the
    most they can score, the count indices of its literals, its
    regexes as (compiled, count index of the gate, or None for the
    digit-bounded one)). A regex two classes share is one compiled
    object, so classify_grid scans it once per grid. Capture groups are
    made non-capturing: same match count, no per-match tuple."""
    counted: list[str] = []
    compiled: dict[str, re.Pattern] = {}

    def count_index(lit):
        if lit not in counted:
            counted.append(lit)
        return counted.index(lit)

    plan = []
    for ttype in CLASS_ORDER:
        kws = KEYWORDS[ttype]
        # a header hit must imply a lowered hit (see classify_grid)
        assert all(kw.isascii() for kw in kws)
        lits, rxs = [], []
        for p in PATTERNS[ttype]:
            if p in _NEVER_ON_LOWER:
                continue
            if not _META.intersection(p):
                lits.append(count_index(p))
                continue
            lit = _MUST_CONTAIN.get(p)
            assert lit is not None or p == _DIGIT_BOUNDED, (
                f"classify regex without a bound: {p}")
            rx = compiled.setdefault(
                p, re.compile(re.sub(r"(?<!\\)\((?!\?)", "(?:", p)))
            rxs.append((rx, None if lit is None else count_index(lit)))
        plan.append((kws, 5 * len(kws), tuple(lits), tuple(rxs)))
    return tuple(counted), tuple(plan)


_COUNTED, _CLASS_PLAN = _classify_plan()
_N_CLASSES = len(CLASS_ORDER)


def _digit_count(s: str) -> int:
    if s.isascii():
        return sum(map(s.count, _ASCII_DIGITS))
    return len(_ANY_DIGIT.findall(s))  # \d takes every Unicode Nd


_UNITS_C = [(p, re.compile(r"\b" + p + r"\b", re.I)) for p in UNIT_PATTERNS]
_TICKER = re.compile(r"\b[A-Z]{1,5}\b(?:\.[A-Z]{2})?")
_FISCAL = [
    re.compile(r"(Q[1-4])\s*(\d{4}|\d{2})"),
    re.compile(r"(FY|fiscal year)\s*(\d{4}|\d{2})", re.I),
    re.compile(r"(\d{1,2}/\d{1,2}/\d{2,4})\s*-\s*(\d{1,2}/\d{1,2}/\d{2,4})"),
]
_PVAL = re.compile(r"p\s*[<=]\s*0\.\d+")
_ERRBAR = re.compile(re.escape(PATTERNS["scientific_data"][0]))
_CI = re.compile(r"(CI|confidence\s*interval)", re.I)

_WEIGHTS = (0.3, 0.2, 0.2, 0.2, 0.1)


def clean_grid(raw: list[list]) -> list[list[str]]:
    out = []
    for row in raw:
        crow = []
        keep = False
        for cell in row:
            if cell is None:
                crow.append("")
                continue
            if isinstance(cell, str):
                if cell.isalnum():
                    # no whitespace, all printable: strip/sub/replace
                    # are no-ops — one C call instead of regex work
                    crow.append(cell)
                    keep = True
                    continue
                # printable ⇒ the only whitespace char present is the
                # ASCII space (every other separator/control is
                # non-printable to Python), so the printable filter
                # is a no-op and join(split()) is the identity iff
                # there are no leading/trailing/double spaces. Two
                # tiers, cheapest test deepest: most cells have no
                # space at all ("$1,234"), the rest are single-spaced
                # words ("Market Price"). Exactness fuzz-pinned in
                # test_kernel.py; ordering A/B'd in-process (1.19x
                # over the previous ascii-no-space single fast path)
                if cell and cell.isprintable():
                    if " " not in cell:
                        crow.append(cell)
                        keep = True
                        continue
                    if ("  " not in cell and cell[0] != " "
                            and cell[-1] != " "):
                        crow.append(cell)
                        keep = True
                        continue
            else:
                cell = str(cell)
            # == _WS.sub(" ", cell.strip()): str.split whitespace is
            # exactly regex \s (verified over all of Unicode), 3x
            # faster; refkernel keeps the regex spelling (parity-pinned)
            s = " ".join(cell.split())
            if not s.isprintable():
                s = "".join(ch for ch in s if ch.isprintable())
            # (refkernel follows with replace('\n'/'\r', ' ') — no-ops
            # after the whitespace collapse, so they are elided here)
            crow.append(s)
            if s:
                keep = True
        if keep:
            out.append(crow)
    return out


def _mode(counts: list[int]) -> int:
    return max(sorted(set(counts)), key=counts.count)


def grid_is_valid(raw: list[list]) -> bool:
    n = len(raw)
    if n < 2:
        return False
    total = non_empty = 0
    counts = []
    for row in raw:
        counts.append(len(row))
        total += len(row)
        for cell in row:
            if cell and str(cell).strip():
                non_empty += 1
    if total == 0 or non_empty / total < 0.2:
        return False
    m = _mode(counts)
    return sum(1 for c in counts if c == m) / n >= 0.5


def score_quality(grid: list[list[str]]) -> float:
    n = len(grid)
    if n < 2:
        return 0.0
    counts = [len(r) for r in grid]
    total = sum(counts)
    non_empty = sum(1 for r in grid for c in r if c)
    completeness = non_empty / total if total else 0

    m = _mode(counts)
    consistency = sum(1 for c in counts if c == m) / n

    first = grid[0]
    cols0 = len(first)
    header_hits = sum(1 for c in first if c and not _numeric_match(c))
    header_score = header_hits / cols0 if first else 0
    if n < 2 or cols0 < 2:
        dim = 0.3
    elif n > 1000 or cols0 > 50:
        dim = 0.7
    else:
        dim = 1.0
    structure = (header_score + dim) / 2

    # column type consistency in ONE row-major pass (the column-major
    # loop re-walked every row per column: O(rows×cols) python-level
    # iterations with an index-bounds test each)
    num_cols = max(counts)
    seen = [0] * num_cols
    numeric = [0] * num_cols
    for r in grid[1:]:
        for ci, c in enumerate(r):
            if c:
                seen[ci] += 1
                if _numeric_match(c):
                    numeric[ci] += 1
    consistent_cols = 0
    for sc, nc in zip(seen, numeric):
        if sc and (nc > sc * 0.8 or nc < sc * 0.2):
            consistent_cols += 1
    data_types = consistent_cols / num_cols if num_cols else 0

    if 2 <= n <= 500 and 2 <= cols0 <= 30:
        size = 1.0
    elif n < 2 or cols0 < 2:
        size = 0.1
    elif n > 1000 or cols0 > 50:
        size = 0.6
    else:
        size = 0.8

    vals = (completeness, consistency, structure, data_types, size)
    return sum(v * w for v, w in zip(vals, _WEIGHTS))


def classify_grid(grid: list[list[str]]) -> tuple[str, dict[str, str]]:
    """Classify a cleaned grid: the CLASS_ORDER class with the highest
    lexicon score, the first one on a tie, general_data if all score 0.

    Each class first gets an upper bound from counts alone: its
    literals' counts (exact), its regexes' gate counts (a regex's
    match count is at most its must-contain literal's count, the
    market pattern's at most the digit count) and 5 per keyword.
    Classes are then scored exactly in descending-bound order, keyword
    tests and regex scans included, and a class whose bound cannot
    beat the best score so far (a tie loses to an earlier class) is
    skipped. Same answer as scoring every class:
    tests/test_engine_kernel.py compares it with refkernel on grids
    built to tie."""
    joined = " ".join(c for r in grid for c in r if c)
    lowered = joined.lower()
    headers = (" ".join(c for c in grid[0] if c).lower() if grid else "")

    counts = list(map(lowered.count, _COUNTED))
    digits = None
    bound = []
    for _, kw_max, lits, rxs in _CLASS_PLAN:
        b = kw_max
        for k in lits:
            b += 2 * counts[k]
        for _, k in rxs:
            if k is not None:
                b += 2 * counts[k]
            else:
                if digits is None:
                    digits = _digit_count(lowered)
                b += 2 * digits
        bound.append(b)

    found: dict = {}
    best_c, best_score = 0, -1
    for c in sorted(range(_N_CLASSES), key=bound.__getitem__,
                    reverse=True):
        b = bound[c]
        if b < best_score:
            break  # the rest are bounded lower still
        if b == best_score and c > best_c:
            continue
        kws, kw_max, _, rxs = _CLASS_PLAN[c]
        # the bound with each estimate replaced by the exact value
        score = b - kw_max
        # headers is a prefix of lowered up to final-sigma spelling
        # (one non-ASCII char either way), and keywords are ASCII: a
        # header hit is always a lowered hit, so only those test headers
        for kw in compress(kws, map(lowered.__contains__, kws)):
            score += 5 if kw in headers else 2
        for rx, k in rxs:
            n = digits if k is None else counts[k]
            if n:
                m = found.get(rx)
                if m is None:
                    m = found[rx] = len(rx.findall(lowered))
                score -= 2 * (n - m)
        if score > best_score or (score == best_score and c < best_c):
            best_c, best_score = c, score
    best_type = CLASS_ORDER[best_c] if best_score else "general_data"

    md: dict[str, str] = {"table_classification": best_type}
    extract = EXTRACTORS.get(best_type, ())
    if "currency" in extract:
        code = ""
        for sym, c in CURRENCY_MAP:
            if sym in joined:
                code = c
                break
        md["currency"] = code
    if "units" in extract:
        md["units"] = json.dumps(
            [p for p, rx in _UNITS_C if rx.search(joined)])
    if "statistical_measures" in extract:
        rep = str(grid)
        md["has_p_values"] = "true" if _PVAL.search(rep) else "false"
        md["has_error_bars"] = "true" if _ERRBAR.search(rep) else "false"
        md["has_confidence_intervals"] = (
            "true" if _CI.search(rep) else "false")
    if "fiscal_period" in extract:
        period = ""
        for rx in _FISCAL:
            m = rx.search(joined)
            if m:
                period = m.group(0)
                break
        md["fiscal_period"] = period
    if "ticker_symbols" in extract:
        out, seen = [], set()
        for t in _TICKER.findall(joined):
            if t not in TICKER_EXCLUDE and t not in seen:
                seen.add(t)
                out.append(t)
                if len(out) == 10:
                    break
        md["tickers"] = json.dumps(out)
    return best_type, md


def grid_hash(grid: list[list[str]]) -> str:
    return hashlib.md5(
        json.dumps(grid, sort_keys=True).encode()).hexdigest()


# content-hash → (quality_score, table_type, metadata); FIFO-bounded.
# Purely a memo of deterministic per-grid results (golden/parity suites
# exercise it); sized so worst-case memory stays a few MB per worker.
_CLS_CACHE: dict[str, tuple] = {}
_CLS_CACHE_CAP = 4096


_CSV_SPECIAL = re.compile(r'[,"\n\r]')


def _csv(rows: list[list[str]]) -> bytes:
    special = _CSV_SPECIAL.search
    parts = []
    for row in rows:
        fields = [
            '"' + c.replace('"', '""') + '"' if special(c) else c
            for c in row
        ]
        parts.append(",".join(fields))
    return ("\n".join(parts) + "\n").encode("utf-8")


_FLOAT_START = frozenset("0123456789+-.iInN")


def _is_numeric_cell(s: str) -> bool:
    s = s.strip()
    if not s or "_" in s:
        return False
    # float() can only parse strings starting with a digit (incl.
    # unicode Nd), sign, dot, inf or nan — prefilter word cells so the
    # common miss never pays the ValueError exception cost
    c = s[0]
    if c not in _FLOAT_START and not c.isdigit():
        return False
    try:
        return not math.isnan(float(s))
    except ValueError:
        return False


def page_tables(page: int, lattice: list, stream: list) -> list[dict]:
    """Run the full per-page pipeline over raw grids in method order."""
    candidates = []
    idx = 0
    for method, grids in (("lattice", lattice), ("stream", stream)):
        for raw in grids:
            if not grid_is_valid(raw):
                continue
            grid = clean_grid(raw)
            idx += 1
            candidates.append((idx, method, grid))

    out = []
    seen: set[str] = set()
    for idx, method, grid in candidates:
        h = grid_hash(grid)
        if h in seen:
            continue
        seen.add(h)
        if not grid:
            continue
        # classify + score are pure functions of the cleaned grid, and
        # crawl corpora repeat boilerplate tables across documents
        # (12.5% even on the synthetic golden corpus) — memoize by the
        # content hash we already computed. Python workers are reused
        # across Arrow batches, so the (bounded) cache amortizes per
        # executor process.
        cached = _CLS_CACHE.get(h)
        if cached is None:
            qscore = score_quality(grid)
            ttype, md = classify_grid(grid)
            if len(_CLS_CACHE) >= _CLS_CACHE_CAP:
                _CLS_CACHE.pop(next(iter(_CLS_CACHE)))
            _CLS_CACHE[h] = (qscore, ttype, dict(md))
        else:
            qscore, ttype, md = cached
            md = dict(md)  # callers receive a private copy
        max_cols = max(len(r) for r in grid)
        padded = [r + [""] * (max_cols - len(r)) for r in grid]
        body = padded[1:]
        csvb = _csv(padded)
        n_body = len(body) * max_cols
        numeric = sum(1 for r in body for c in r if _is_numeric_cell(c))
        empty = sum(1 for r in body for c in r if c == "")
        out.append({
            "page": page,
            "table_index": idx,
            "method": method,
            "cells": padded,
            "csv_bytes": csvb,
            "table_type": ttype,
            "quality_score": qscore,
            "rows": len(body),
            "columns": max_cols,
            "numeric_percentage": numeric / n_body if n_body else 0.0,
            "empty_cell_percentage": empty / n_body if n_body else 0.0,
            "metadata": md,
            "content_hash": h,
        })
    return out

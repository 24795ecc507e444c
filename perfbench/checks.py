"""Output checks. Every check returns the number of failed operations
it found, so a run's `failed` count is their sum."""

from __future__ import annotations

import json
from collections import Counter
from decimal import Decimal, InvalidOperation
from pathlib import Path


def committed_files(warehouse: Path, table: str) -> list[Path]:
    """Data files of the table's current snapshot, read straight from
    the manifests (a full snapshot replaces everything before it)."""
    tdir = warehouse / table
    files: list[str] = []
    for m in sorted(tdir.glob("manifest-*.json")):
        info = json.loads(m.read_text())
        if info.get("full_snapshot"):
            files.clear()
        files += [f for f in info["files"] if f not in files]
    return [tdir / f for f in files]


def _read(warehouse: Path, table: str, columns=None, filters=None):
    import pyarrow.parquet as pq

    files = committed_files(warehouse, table)
    if not files:
        return None
    return pq.ParquetDataset([str(f) for f in files], filters=filters
                             ).read(columns=columns)


def exactly_once(warehouse: Path, expected_urls: set[str], run_id: str,
                 processed: int) -> int:
    """Missing, duplicate and unexpected urls, plus result rows that
    carry an error, plus every doc of the run when the audit's
    Σinput_rows for `run_id` disagrees with `processed`."""
    results = _read(warehouse, "results", ["url", "error"])
    if results is None:
        return len(expected_urls)
    urls = Counter(results.column("url").to_pylist())
    failed = sum(1 for u in expected_urls if u not in urls)
    failed += sum(c - 1 for c in urls.values() if c > 1)
    failed += sum(1 for u in urls if u not in expected_urls)
    failed += sum(1 for e in results.column("error").to_pylist()
                  if e is not None)
    audit = _read(warehouse, "audit", ["run_id", "input_rows"])
    rows = 0
    if audit is not None:
        rows = sum(r for rid, r in zip(audit.column("run_id").to_pylist(),
                                       audit.column("input_rows").to_pylist())
                   if rid == run_id)
    if rows != processed:
        failed += processed
    return failed


def _norm(res: dict) -> tuple:
    """Canonical form of a result row, as the kernel parity tests
    compare it; map columns arrive from Arrow as (key, value) lists."""
    def table(t: dict) -> tuple:
        t = dict(t)
        t["cells"] = tuple(tuple(r) for r in t["cells"])
        md = t["metadata"]
        t["metadata"] = tuple(sorted(
            md.items() if isinstance(md, dict) else md))
        return tuple(sorted(t.items()))

    return (res["n_pages"], bytes(res["extracted_text"]),
            tuple(table(t) for t in res["tables"]),
            tuple(tuple(sorted(s.items())) for s in res["spans"]))


def parity(warehouse: Path, sample: dict[str, bytes]) -> int:
    """Committed rows for the sampled urls against
    `refkernel.extract.extract_document`, byte for byte."""
    from refkernel.extract import extract_document

    got = _read(warehouse, "results",
                filters=[("url", "in", list(sample))])
    rows = {r["url"]: r for r in (got.to_pylist() if got is not None
                                  else [])}
    failed = 0
    for url, html in sample.items():
        if url not in rows or rows[url]["error"] is not None or \
                _norm(rows[url]) != _norm(extract_document(url, html)):
            failed += 1
    return failed


def _rounding_tie(a: str, b: str) -> bool:
    """Two canonical cells that are rounded decimals one unit apart in
    their last place: round(x, d) of a value that lies on the half unit,
    computed in a different summation order on each side."""
    try:
        da, db = Decimal(a), Decimal(b)
    except InvalidOperation:
        return False
    if not (da.is_finite() and db.is_finite()):
        return False
    exp = min(da.as_tuple().exponent, db.as_tuple().exponent)
    return exp >= -6 and abs(da - db) == Decimal(1).scaleb(exp)


def oracle(con, sql: str, cols: list[str], rows: list[tuple]) -> int:
    """1 when the query's rows differ from its DuckDB oracle under the
    canonical order-insensitive hash of tools/check_oracles.py; a query
    without an oracle (mm_image_metrics) is checked by row count by
    the caller.

    Cells that differ only as a rounding tie are accepted: with seeded
    inputs, round(sum(price * (1 - discount)), 2) lands on an exact half
    cent, or a float32 cosine within 1e-7 of a half unit of round(x, 4),
    on about one seed in ten, and Spark and DuckDB then round it
    apart."""
    from tools.check_oracles import _canon

    rel = con.sql(sql)
    got_cols, got = _canon(cols, rows)
    want_cols, want = _canon(list(rel.columns), rel.fetchall())
    if got_cols != want_cols or len(got) != len(want):
        return 1
    # rows that match exactly, then pair each leftover row with one that
    # differs from it only by ties (a tie can move a row in sort order)
    left = list((Counter(want) - Counter(got)).elements())
    for g in (Counter(got) - Counter(want)).elements():
        match = next((w for w in left if all(
            x == y or _rounding_tie(x, y) for x, y in zip(g, w))), None)
        if match is None:
            return 1
        left.remove(match)
    return 0

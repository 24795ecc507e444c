"""Engine kernel ⇔ refkernel equivalence (no Spark needed).

The two implementations were written independently against
KERNEL_SPEC.md; this suite byte-compares them over a generated corpus
and asserts the shared classification lexicon is identical data.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from fixtures.gen_pages import gen_rows
from pdf_extraction_api_spark.kernel import lexicon
from pdf_extraction_api_spark.kernel.batch import extract_one
from refkernel import classify as ref_classify
from refkernel.extract import extract_document


def test_lexicon_matches_refkernel():
    assert tuple(ref_classify.CLASS_ORDER) == lexicon.CLASS_ORDER
    for t in lexicon.CLASS_ORDER:
        cfg = ref_classify.CLASSIFICATIONS[t]
        assert tuple(cfg["keywords"]) == lexicon.KEYWORDS[t]
        assert tuple(cfg["patterns"]) == lexicon.PATTERNS[t]
        assert tuple(cfg["extract"]) == lexicon.EXTRACTORS[t]
    assert tuple(ref_classify.CURRENCY_MAP) == lexicon.CURRENCY_MAP
    assert tuple(ref_classify.UNIT_PATTERNS) == lexicon.UNIT_PATTERNS
    assert ref_classify.TICKER_EXCLUDE == set(lexicon.TICKER_EXCLUDE)


def _normalize_ref(res: dict) -> dict:
    return {
        "url": res["url"],
        "n_pages": res["n_pages"],
        "extracted_text": res["extracted_text"],
        "tables": res["tables"],
        "spans": res["spans"],
    }


def _normalize_eng(res: dict) -> dict:
    return {k: res[k] for k in
            ("url", "n_pages", "extracted_text", "tables", "spans")}


def test_engine_matches_refkernel_byte_for_byte():
    rows = gen_rows(400, seed=42)
    for r in rows:
        ref = _normalize_ref(extract_document(r["url"], r["html"]))
        eng = _normalize_eng(extract_one(r["url"], r["html"]))
        assert eng == ref, r["url"]


def test_engine_matches_refkernel_alt_seed():
    rows = gen_rows(150, seed=7)
    for r in rows:
        ref = _normalize_ref(extract_document(r["url"], r["html"]))
        eng = _normalize_eng(extract_one(r["url"], r["html"]))
        assert eng == ref, r["url"]


def test_engine_counters():
    res = extract_one(
        "u",
        b"<body><p>Long enough content paragraph for the counter.</p>"
        b'<table border="1"><tr><th>a</th><th>b</th></tr>'
        b"<tr><td>1</td><td>2</td></tr></table></body>")
    assert res["n_tables"] == 1
    assert res["n_content_spans"] == 1
    assert res["error"] is None


def test_engine_error_isolation():
    from pdf_extraction_api_spark.kernel.batch import kernel_batch

    recs, bytes_in, kernel_us = kernel_batch(
        ["a", "b"], [None, b"<p>fine text long enough.</p>"])
    assert [r[0] for r in recs] == ["a", "b"]
    assert [r[-1] for r in recs] == [None, None]
    assert bytes_in == [0, 29]
    assert len(kernel_us) == 2 and min(kernel_us) >= 0


def test_kernel_batch_error_record(monkeypatch):
    """A doc whose extraction raises becomes an error record; the rest
    of the batch is unaffected."""
    from pdf_extraction_api_spark.kernel import batch as B

    def boom(html):
        raise ValueError("boom")

    monkeypatch.setattr(B, "parse_document", boom)
    (rec,), _, _ = B.kernel_batch(["bad"], [b"<p>raises</p>"])
    assert B.record_dict(rec) == {
        "url": "bad", "n_pages": 0, "extracted_text": b"", "tables": [],
        "spans": [], "n_tables": 0, "n_content_spans": 0,
        "error": "ValueError: boom"}


def test_never_on_lower_patterns_are_dead():
    """The classify patterns elided by tablepipe._NEVER_ON_LOWER must
    each (a) match SOME case-sensitive probe — proving the entry names
    a real pattern, not a typo — and (b) never match that probe
    lowercased, since both engines run classify regexes on .lower()ed
    text only (refkernel/classify.py:204,218)."""
    import re

    from pdf_extraction_api_spark.kernel.tablepipe import _NEVER_ON_LOWER

    probes = {
        r"\d+[KMB]": "5K",
        r"[A-Z]{2}\d{10}": "US1234567890",
        r"[A-Z]{12}": "ABCDEFGHIJKL",
        lexicon.PATTERNS["scientific_data"][0]: "Ã‚Â±",
        lexicon.PATTERNS["scientific_data"][2]: "1.2 Ã‚Â± 3.4",
    }
    assert set(probes) == set(_NEVER_ON_LOWER)
    for pat, probe in probes.items():
        rx = re.compile(pat)
        assert rx.search(probe), pat
        assert not rx.search(probe.lower()), pat
        # and the lowercase transform is not an identity on the
        # mandatory atom (guards against a future all-caps-free edit)
        assert probe.lower() != probe


# a probe each classify regex matches, holding its must-contain literal
_GATE_PROBES = {
    r"\$[\d,]+": "$1,234",
    r"\$\d+\.\d{2}": "$12.50",
    r"\d+%": "12%",
    r"\d+\.\d+%": "1.5%",
    r"%\s*\([^)]+\)": "% (n=3)",
    r"\d+\.\d+x": "1.5x",
    r"r\s*=\s*[0-9.-]+": "r = 0.5",
    r"n\s*=\s*\d+": "n=42",
    r"p\s*[<=]\s*0\.\d+": "p < 0.05",
    r"phase\s+[IVX123]": "phase 2",
    r"tco2e?": "tco2e",
    r"scope\s*[123]": "scope 1",
}


def test_classify_regexes_have_a_bound():
    """Every classify regex that tablepipe does not elide has a
    must-contain literal, or is the digit-bounded market pattern. Each
    literal is lowercase (classify counts it in lowered text) and lies
    inside a match of its pattern."""
    import re

    from pdf_extraction_api_spark.kernel.tablepipe import (
        _DIGIT_BOUNDED,
        _META,
        _MUST_CONTAIN,
        _NEVER_ON_LOWER,
    )

    regexes = {p for ps in lexicon.PATTERNS.values() for p in ps
               if _META.intersection(p) and p not in _NEVER_ON_LOWER}
    assert regexes == set(_MUST_CONTAIN) | {_DIGIT_BOUNDED}
    assert set(_GATE_PROBES) == set(_MUST_CONTAIN)
    for pat, lit in _MUST_CONTAIN.items():
        assert lit == lit.lower(), pat
        mt = re.search(pat, _GATE_PROBES[pat])
        assert mt is not None and lit in mt.group(0), pat


_BOUND_TEXT = st.lists(st.sampled_from([
    *"0123456789.,$%=x()<- ", "p", "n", "r", "e", "phase", "scope",
    "tco2", "0.", "٣",  # ARABIC-INDIC DIGIT THREE is a \d too
]), max_size=40).map("".join)


@settings(max_examples=300, deadline=None)
@given(_BOUND_TEXT)
def test_must_contain_count_bounds_matches(text):
    """classify_grid's bounds: a regex's match count never exceeds its
    literal's count, nor the market pattern's the digit count."""
    import re

    from pdf_extraction_api_spark.kernel.tablepipe import (
        _DIGIT_BOUNDED,
        _MUST_CONTAIN,
    )

    for pat, lit in _MUST_CONTAIN.items():
        assert len(re.findall(pat, text)) <= text.count(lit), pat
    assert (len(re.findall(_DIGIT_BOUNDED, text))
            <= len(re.findall(r"\d", text)))


_CLASSIFY_VOCAB = sorted({kw for kws in lexicon.KEYWORDS.values()
                          for kw in kws}
                         | set(_GATE_PROBES.values())
                         | {"million", "cash", "flow", "mwh", "12,345"})


def test_classify_grid_ties_match_refkernel():
    """classify_grid scores classes in bound order and skips those that
    cannot win. A header cell holding two lexicon items ties the
    classes they score for whenever those differ; every pair must pick
    refkernel's class, which is the first in CLASS_ORDER on a tie."""
    from pdf_extraction_api_spark.kernel.tablepipe import classify_grid

    assert classify_grid([["margin"]])[0] == "financial_income"  # vs ratios
    for a in _CLASSIFY_VOCAB:
        for b in _CLASSIFY_VOCAB:
            grid = [[f"{a} {b}"], ["x"]]
            assert (classify_grid(grid)[0]
                    == ref_classify.classify_table(grid)[0]), grid


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_CLASSIFY_VOCAB + ["", "7"]),
                         min_size=1, max_size=3),
                min_size=1, max_size=4))
def test_classify_grid_matches_refkernel(grid):
    """Small grids of lexicon items, empty cells and a bare digit:
    the pruned classify picks refkernel's class."""
    from pdf_extraction_api_spark.kernel.tablepipe import classify_grid

    assert classify_grid(grid)[0] == ref_classify.classify_table(grid)[0]


def test_split_whitespace_equals_regex_ws():
    """model._norm/tablepipe.clean_grid use ' '.join(s.split()) where
    refkernel uses re \\s+ sub — valid ONLY if str.split's whitespace
    set equals regex \\s for every codepoint. Pin that exhaustively so
    a CPython unicode-table change can never silently split the two
    kernels."""
    import re
    import sys

    ws = re.compile(r"\s")
    bad = [cp for cp in range(sys.maxunicode + 1)
           if bool(ws.match(chr(cp))) != (chr(cp).split() == [])]
    assert bad == [], [hex(b) for b in bad[:10]]


def test_duplicate_bodies_keep_their_own_urls():
    """Exact-duplicate html under different urls: every output record
    keeps ITS OWN url and equals extract_one of that url and body."""
    from pdf_extraction_api_spark.kernel import batch as B

    html = (b"<body><p>Shared body long enough to be content.</p>"
            b'<table border="1"><tr><th>a</th><th>b</th></tr>'
            b"<tr><td>1</td><td>2</td></tr></table></body>")
    recs, _, _ = B.kernel_batch(["u1", "u2", "u3", "u4"], [html] * 4)
    assert [r[0] for r in recs] == ["u1", "u2", "u3", "u4"]
    assert B.record_dict(recs[2]) == extract_one("u3", html)


def test_columnar_assembly_matches_from_pylist(monkeypatch):
    """The mapInArrow kernel's column-wise output batch equals
    pa.RecordBatch.from_pylist over extract_one's dict view, on the
    golden corpus plus edge docs: an empty body, a None html, a None
    url (validity bitmap), a non-ASCII url and body (byte offsets off
    the ASCII fast path), a doc that raises, a golden body again
    under two more urls, and a carry column passed through unchanged;
    and a zero-row batch yields zero-length arrays of the schema's
    types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extraction_api_spark.kernel import batch as B
    from pdf_extraction_api_spark.plans.extract import (
        _RESULT_COLS,
        _make_kernel,
    )

    real_parse = B.parse_document

    def parse(html):
        if html == b"<p>raise me</p>":
            raise RuntimeError("injected")
        return real_parse(html)

    monkeypatch.setattr(B, "parse_document", parse)
    rows = pq.read_table("tests/golden/pages_tiny.parquet").to_pylist()
    docs = [(r["url"], r["html"]) for r in rows] + [
        ("edge://empty", b""),
        ("edge://none", None),
        (None, b"<p>a page without a url</p>"),
        ("edge://caf\u00e9/\u6587\u5b57", (
            "<html><body><h1>Caf\u00e9 \u00fcber alles</h1>"
            "<p>Gr\u00f6\u00dfe \u2014 \u4ef7\u683c \U0001f600 "
            "na\u00efve r\u00e9sum\u00e9 text</p><table>"
            "<tr><th>Gr\u00f6\u00dfe</th><th>\u4ef7\u683c</th></tr>"
            "<tr><td>1,5 \u20ac</td><td>\u00a520</td></tr>"
            "<tr><td>2,5 \u20ac</td><td>\u00a530</td></tr>"
            "</table></body></html>").encode("utf-8")),
        ("edge://raises", b"<p>raise me</p>"),
        ("edge://dup", rows[3]["html"]),  # same body as rows[3] ...
        ("edge://dup2", rows[3]["html"]),  # ... under a third url
    ]
    urls = [u for u, _ in docs]
    htmls = [h for _, h in docs]
    lang = pa.array([f"l{i % 3}" for i in range(len(docs))])
    rb = pa.RecordBatch.from_arrays(
        [pa.array(urls), pa.array(htmls, pa.binary()), lang],
        names=["url", "html", "lang"])

    (out, empty) = list(_make_kernel(("lang",))(
        iter([rb, rb.slice(0, 0)])))

    expected = [extract_one(u, h) for u, h in docs[:-3]] + [
        {"url": "edge://raises", "n_pages": 0, "extracted_text": b"",
         "tables": [], "spans": [], "n_tables": 0, "n_content_spans": 0,
         "error": "RuntimeError: injected"},
        extract_one("edge://dup", rows[3]["html"]),
        extract_one("edge://dup2", rows[3]["html"]),
    ]
    schema = B._arrow_result_schema()
    want = pa.RecordBatch.from_pylist(expected, schema=schema)
    got = out.select(_RESULT_COLS)
    got.validate(full=True)
    assert got.schema.equals(schema)
    assert got.equals(want)
    assert out.column("lang").equals(lang)
    assert out.column("bytes_in").to_pylist() == [
        len(h) if h is not None else 0 for h in htmls]
    assert set(out.column("partition_id").to_pylist()) == {-1}

    assert empty.schema.equals(out.schema)
    assert empty.num_rows == 0
    for col in empty.columns:
        col.validate(full=True)
        assert len(col) == 0
    assert empty.select(_RESULT_COLS).equals(
        pa.RecordBatch.from_pylist([], schema=schema))


def test_kernel_worker_never_imports_pandas(tmp_path):
    """A mapInArrow worker never needs pandas, and the kernel must not
    load it (~40 MB RSS per worker): run the kernel over the golden
    pages in a fresh interpreter and check sys.modules. The pages go
    through an Arrow IPC file because pyarrow.parquet imports pandas
    itself."""
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    ipc = tmp_path / "pages.arrow"
    table = pq.read_table("tests/golden/pages_tiny.parquet",
                          columns=["url", "html"])
    with pa.ipc.new_file(ipc, table.schema) as w:
        w.write_table(table, max_chunksize=64)
    script = (
        "import sys\n"
        "import pyarrow as pa\n"
        "from pdf_extraction_api_spark.plans.extract import _make_kernel\n"
        "with pa.ipc.open_file(sys.argv[1]) as f:\n"
        "    batches = [f.get_batch(i)"
        " for i in range(f.num_record_batches)]\n"
        "rows = sum(b.num_rows for b in _make_kernel(())(iter(batches)))\n"
        "print(rows, 'pandas' in sys.modules)\n"
    )
    # `python -c` puts the working directory first on sys.path
    res = subprocess.run(
        [sys.executable, "-c", script, str(ipc)],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr
    assert res.stdout.split() == ["200", "False"]

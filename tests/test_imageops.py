"""Image path (N1-N5): PNG codec round-trips + metric properties.

The codec must decode what it encodes byte-exactly, decode all five
scanline filters, and the metric formulas must match the reference's
math (enterprise_image_extractor.py:319-411) on constructed images
with independently-known statistics."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pdf_extraction_api_spark.kernel import png as pngc
from pdf_extraction_api_spark.operators.imageops import (
    _gen_image,
    compute_metrics,
    enhance,
    estimate_lines,
)


@pytest.mark.parametrize("shape", [(1, 1), (5, 7), (48, 64), (33, 17, 3)])
def test_png_roundtrip(shape):
    rng = np.random.default_rng(42)
    arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
    out = pngc.decode(pngc.encode(arr))
    assert out.shape == arr.shape
    assert (out == arr).all()


def _encode_with_filter(arr: np.ndarray, ftype: int) -> bytes:
    """Hand-rolled encoder emitting every scanline with filter `ftype`
    (exercises the decoder's unfilter paths independently)."""
    h, w = arr.shape
    ch = 1
    lines = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        cur = arr[y].astype(np.int32)
        if ftype == 0:
            enc = cur.copy()
        elif ftype == 1:
            enc = cur.copy()
            enc[ch:] = (cur[ch:] - cur[:-ch]) % 256
        elif ftype == 2:
            enc = (cur - prev) % 256
        elif ftype == 3:
            enc = cur.copy()
            for i in range(w):
                a = int(cur[i - ch]) if i >= ch else 0
                enc[i] = (int(cur[i]) - ((a + int(prev[i])) >> 1)) % 256
        else:  # Paeth
            enc = cur.copy()
            for i in range(w):
                a = int(cur[i - ch]) if i >= ch else 0
                c = int(prev[i - ch]) if i >= ch else 0
                enc[i] = (int(cur[i]) - pngc._paeth(a, int(prev[i]), c)) % 256
        lines.append(ftype)
        lines.extend(int(v) for v in enc)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + pngc._chunk(b"IHDR", ihdr)
            + pngc._chunk(b"IDAT", zlib.compress(bytes(lines)))
            + pngc._chunk(b"IEND", b""))


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decode_all_filters(ftype):
    rng = np.random.default_rng(7 + ftype)
    arr = rng.integers(0, 256, size=(9, 13), dtype=np.uint8)
    out = pngc.decode(_encode_with_filter(arr, ftype))
    assert (out == arr).all()


def test_metrics_flat_image():
    """Flat gray: zero sharpness/contrast/edges, perfect noise score,
    brightness by distance from 127.5 — the reference formulas."""
    arr = np.full((100, 100), 127, dtype=np.uint8)
    m = compute_metrics(arr)
    assert m["sharpness"] == 0.0
    assert m["contrast"] == 0.0
    assert m["edge_density"] == 0.0
    assert m["noise"] == 1.0
    assert m["brightness"] == pytest.approx(1.0 - 0.5 / 127.5)
    # resolution bucket: 10k px < 320*240 → 0.2
    assert m["resolution_score"] == 0.2
    assert m["quality_score"] == pytest.approx(
        0.3 * 0.2 + 0.2 * m["brightness"] + 0.1 * 1.0)


def test_metrics_checkerboard_maximal_contrast():
    yy, xx = np.mgrid[0:64, 0:64]
    arr = (((yy + xx) % 2) * 255).astype(np.uint8)
    m = compute_metrics(arr)
    assert m["contrast"] == 1.0          # std = 127.5 exactly
    assert m["sharpness"] == 1.0         # Laplacian variance >> 1000
    assert m["edge_density"] > 0.9
    assert m["brightness"] == pytest.approx(1.0)  # mean 127.5


def test_estimate_lines_counts_grid():
    arr = np.full((60, 60), 255, dtype=np.uint8)
    arr[::10, :] = 0  # 6 horizontal rules
    arr[:, ::12] = 0  # 5 vertical rules
    rows, cols = estimate_lines(arr)
    # each rule excites edge rows above and below it; the property that
    # matters: both orientations detected, horizontals > verticals
    assert rows >= 6
    assert cols >= 5


def test_enhance_changes_charts_not_flat_photos():
    _, chart = _gen_image(1)  # doc 1 → chart kind per _KINDS order
    assert (enhance(chart, "chart") != chart).any()
    flat = np.full((40, 40), 127, dtype=np.uint8)
    # photograph at mid brightness: no branch fires → unchanged
    assert (enhance(flat, "photograph") == flat).all()


def test_image_queries_deterministic_spark(spark):
    from pdf_extraction_api_spark.operators.imageops import (
        mm_image_metrics,
    )

    sf = "/root/testdata/sf0.001"
    rows_a = mm_image_metrics(spark, sf).collect()
    a = sorted(map(tuple, rows_a))
    b = sorted(map(tuple, mm_image_metrics(spark, sf).collect()))
    assert a == b
    assert len(a) > 0
    # enhancement digests ride the same (merged) query now:
    # charts/diagrams/tables/screenshots are always enhanced; flat-ish
    # photographs may pass through — so most rows change but not all
    changed = sum(1 for r in rows_a if r.changed == "true")
    assert changed >= len(rows_a) * 0.6
    assert all(r.orig_md5 != r.enhanced_md5 for r in rows_a
               if r.changed == "true")


def test_image_ahash_buckets(spark):
    """aHash collapses the genuinely identical synthetic images
    (table_image/diagram pixels depend only on (h, w)) and every
    bucket's keeper is its minimum doc_id."""
    from pdf_extraction_api_spark.operators.imageops import dd_image_ahash

    rows = dd_image_ahash(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(len(r["ahash"]) == 64 and set(r["ahash"]) <= {"0", "1"}
               for r in rows)
    assert any(r["n_copies"] > 1 for r in rows)  # real dups collapse
    import pyarrow.parquet as pq

    n_docs = pq.read_metadata(
        "/root/testdata/sf0.001/documents.parquet").num_rows
    # buckets partition the corpus (every doc lands in exactly one)
    assert sum(r["n_copies"] for r in rows) == n_docs


def test_image_ahash_matches_direct_numpy(spark):
    """Signature recomputed independently from the generated array
    (no PNG round-trip) must equal the operator's decoded-path hash."""
    import numpy as np

    from pdf_extraction_api_spark.operators.imageops import (
        _gen_image, dd_image_ahash)

    sigs = {}
    for r in dd_image_ahash(spark, "/root/testdata/sf0.001").collect():
        sigs.setdefault(r["ahash"], set())
    # recompute for every doc and check membership in the bucket keys
    for doc_id in range(50):
        _, arr = _gen_image(doc_id)
        if arr.ndim == 3:
            a = arr.astype(np.int64)
            luma = (a[:, :, 0] * 299 + a[:, :, 1] * 587
                    + a[:, :, 2] * 114) // 1000
        else:
            luma = arr.astype(np.int64)
        h, w = luma.shape
        ts, tn = int(luma.sum()), h * w
        byi = (np.arange(h) * 8) // h
        bxi = (np.arange(w) * 8) // w
        bid = (byi[:, None] * 8 + bxi[None, :]).ravel()
        bs = np.bincount(bid, weights=luma.ravel(),
                         minlength=64).astype(np.int64)
        bn = np.bincount(bid, minlength=64)
        sig = "".join(np.where(bs * tn > ts * bn, "1", "0"))
        assert sig in sigs, doc_id


def test_fused_report_matches_unfused():
    """r8 plan fusion guard: fused_report (shared gray/edge
    intermediates, decode skipped) must produce the EXACT row the
    pre-r8 pipeline produced — decode(blob), then compute_metrics +
    estimate_lines + ocr_stub + enhance, each recomputing its own
    intermediates. Exercises all five kinds x gray/RGB."""
    import hashlib

    from pdf_extraction_api_spark.operators.imageops import (
        fused_report,
        ocr_stub,
    )

    for doc_id in range(20):
        kind, arr = _gen_image(doc_id)
        blob = pngc.encode(arr)
        dec = pngc.decode(blob)
        m = compute_metrics(dec)
        er, ec = estimate_lines(dec)
        enh = pngc.encode(enhance(dec, kind))
        expected = {
            "doc_id": doc_id, "img_kind": kind,
            "width": m["width"], "height": m["height"],
            "quality_score": round(m["quality_score"], 6),
            "sharpness": round(m["sharpness"], 6),
            "contrast": round(m["contrast"], 6),
            "brightness": round(m["brightness"], 6),
            "noise": round(m["noise"], 6),
            "edge_density": round(m["edge_density"], 6),
            "est_rows": er, "est_cols": ec,
            "has_text": "true" if ocr_stub(dec, kind) else "false",
            "orig_md5": hashlib.md5(blob).hexdigest(),
            "enhanced_md5": hashlib.md5(enh).hexdigest(),
            "changed": "true" if enh != blob else "false",
        }
        assert fused_report(doc_id, kind, arr, blob) == expected


def _id_batch(ids):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(list(ids), pa.int64())], names=["doc_id"])


def test_metrics_batches_match_from_pylist():
    """row_batches assembles its output from buffers; the batches must
    equal what from_pylist builds over the same per-row function's
    rows with the query's Arrow schema. mm_image_metrics' _metrics_row
    runs over ids covering all five kinds (and gray/RGB), and over a
    zero-row batch, whose arrays must come out zero-length and typed;
    mm_frame_sample's _frames covers 1→k expansion and a binary
    column with a null."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf_extraction_api_spark.kernel.batch import row_batches
    from pdf_extraction_api_spark.operators.imageops import (
        _KINDS,
        _METRICS_SCHEMA,
        _metrics_row,
        fused_report,
    )
    from pdf_extraction_api_spark.operators.multimodal import (
        _FRAME_SCHEMA,
        _frames,
    )

    schema = to_arrow_schema(_METRICS_SCHEMA)
    id_batches = [range(0, 7), range(7, 8), range(30, 45), range(0)]
    got = list(row_batches(_metrics_row, _METRICS_SCHEMA,
                           (_id_batch(ids) for ids in id_batches)))
    assert len(got) == len(id_batches)
    kinds = set()
    for ids, rb in zip(id_batches, got):
        rows = []
        for doc_id in ids:
            kind, arr = _gen_image(doc_id)
            kinds.add(kind)
            rows.append(fused_report(doc_id, kind, arr, pngc.encode(arr)))
        want = pa.RecordBatch.from_pylist(rows, schema=schema)
        assert rb.schema == schema
        assert rb.equals(want)
    assert kinds == set(_KINDS)
    empty = got[-1]
    assert empty.num_rows == 0
    assert [len(c) for c in empty.columns] == [0] * len(schema)
    assert [c.type for c in empty.columns] == list(schema.types)

    schema = to_arrow_schema(_FRAME_SCHEMA)
    payloads = [None, b"", bytes(range(50)), bytes(range(250)) + bytes(100)]
    rb =pa.RecordBatch.from_arrays(
        [pa.array(range(len(payloads)), pa.int64()),
         pa.array(payloads, pa.binary())], names=["doc_id", "payload"])
    got = list(row_batches(_frames, _FRAME_SCHEMA, [rb, rb.slice(0, 0)]))
    rows = [r for i, p in enumerate(payloads) for r in _frames(i, p)]
    assert [r["doc_id"] for r in rows] == [0, 1, 2, 3, 3, 3]
    assert got[0].equals(pa.RecordBatch.from_pylist(rows, schema=schema))
    assert got[1].num_rows == 0 and got[1].schema == schema


def test_image_metrics_worker_never_imports_pandas(tmp_path):
    """mm_image_metrics is a mapInArrow, so its workers never need
    pandas, and its body (row_batches over _metrics_row) must not
    load it (~38 MB RSS per worker, kept for the life of a reused
    worker): run it over a few doc_id batches in a fresh interpreter
    and check sys.modules. The
    ids go through an Arrow IPC file because pyarrow.parquet imports
    pandas itself."""
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow as pa

    ipc = tmp_path / "ids.arrow"
    batches = [_id_batch(range(i, i + 10)) for i in range(0, 50, 10)]
    with pa.ipc.new_file(ipc, batches[0].schema) as w:
        for rb in batches:
            w.write_batch(rb)
    script = (
        "import sys\n"
        "import pyarrow as pa\n"
        "from pdf_extraction_api_spark.kernel.batch import row_batches\n"
        "from pdf_extraction_api_spark.operators.imageops import"
        " _METRICS_SCHEMA, _metrics_row\n"
        "with pa.ipc.open_file(sys.argv[1]) as f:\n"
        "    batches = [f.get_batch(i)"
        " for i in range(f.num_record_batches)]\n"
        "rows = sum(b.num_rows for b in"
        " row_batches(_metrics_row, _METRICS_SCHEMA, iter(batches)))\n"
        "print(rows, 'pandas' in sys.modules)\n"
    )
    # `python -c` puts the working directory first on sys.path
    res = subprocess.run(
        [sys.executable, "-c", script, str(ipc)],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr
    assert res.stdout.split() == ["50", "False"]

"""Real image path: N1-N5 (SURVEY.md §2.8) over actual PNG payloads.

The round-1 multimodal module stubbed the decode step because this
container has no PIL/cv2 — but PNG is just zlib + filtered scanlines,
so `kernel/png.py` (pure stdlib) decodes/encodes real images and the
quality/edge/line/enhancement math runs in numpy over the decoded
arrays, mirroring the reference's formulas:

- N1 quality metrics — resolution buckets, Laplacian-variance
  sharpness, stddev contrast, brightness distance, Gaussian-blur
  noise, weighted 0.3/0.2/0.2/0.2/0.1
  (ref enterprise_image_extractor.py:319-411)
- N2 edge detection + density — PIL FIND_EDGES kernel analog
  (ref enterprise_image_extractor.py:216-225, :109-111)
- N3 table row/col estimation from line projections — the
  HoughLinesP-count analog (ref enterprise_image_extractor.py:291-313)
- N4 type-conditional enhancement (contrast/sharpness/brightness)
  re-encoded to PNG (ref enterprise_image_extractor.py:416-445)
- N5 OCR — stays a deterministic stub (tesseract/easyocr genuinely
  absent; ref enterprise_image_extractor.py:450-471); import-try
  upgrade path preserved.

If Pillow is importable (real cluster), decode prefers it; the stdlib
codec is the fallback. All queries here are rows-only for the driver
(decode isn't SQL-expressible); value-level properties are pytest-
checked against independently-computed numpy in tests/test_imageops.py.

The image corpus is generated deterministically per doc_id inside the
same Python pass (seeded numpy), so the whole pipeline —
generate → encode → decode → metrics — exercises real Arrow-batched
BINARY columns end-to-end at any scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.batch import map_rows
from .relational import T

_KINDS = ("photograph", "chart", "table_image", "diagram", "screenshot")


def _noise_grid(doc_id: int, h: int, w: int, mod: int):
    """Integer white noise in [-mod//2, mod - mod//2), reproducible in
    pure SQL (the audioops._lcg_uniform trick): a 31-bit LCG keyed on
    (doc_id, y*w + x), all intermediates within int64 — so a DuckDB
    oracle reconstructs the noisy image pixels EXACTLY, which is what
    lets mm_image_resize carry a full value oracle."""
    import numpy as np

    i = np.arange(h * w, dtype=np.int64)
    s = (1103515245 * ((doc_id * 1000003 + i) % 2147483648)
         + 12345) % 2147483648
    return ((s % mod) - mod // 2).reshape(h, w)


def _gen_image(doc_id: int):
    """Deterministic synthetic image for doc_id: kind + uint8 array.
    Every pixel is exact integer arithmetic on (doc_id, y, x) — no
    float RNG — so SQL oracles can rebuild the source image."""
    import numpy as np

    kind = _KINDS[doc_id % len(_KINDS)]
    h, w = 48 + (doc_id * 13) % 48, 48 + (doc_id * 29) % 80
    yy, xx = np.mgrid[0:h, 0:w]
    if kind == "photograph":  # smooth gradient + mild noise
        img = (xx * 255 // max(w - 1, 1)
               + _noise_grid(doc_id, h, w, 17)).clip(0, 255)
    elif kind == "chart":  # vertical bars on white
        img = np.full((h, w), 240.0)
        for b in range(4):
            x0 = 4 + b * (w // 4)
            bh = int(h * (0.3 + 0.15 * ((doc_id + b) % 4)))
            img[h - bh:, x0:x0 + max(w // 8, 2)] = 30
    elif kind == "table_image":  # ruled grid
        img = np.full((h, w), 255.0)
        img[:: max(h // 6, 2), :] = 0
        img[:, :: max(w // 5, 2)] = 0
    elif kind == "diagram":  # flat regions
        img = np.full((h, w), 200.0)
        img[h // 4: h // 2, w // 4: 3 * w // 4] = 90
    else:  # screenshot: text-like horizontal strips + noise
        img = np.full((h, w), 250.0)
        img += _noise_grid(doc_id, h, w, 41)
        img[:: 4, :] = 40
        img = img.clip(0, 255)
    if doc_id % 3 == 0:  # a third are RGB
        g = img.astype(np.uint8)
        rgb = np.stack([g, (g * 0.9).astype(np.uint8),
                        (g * 0.7).astype(np.uint8)], axis=2)
        return kind, rgb
    return kind, img.astype(np.uint8)


_IMG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("img_kind", StringType()),
    StructField("png", BinaryType()),
])


def image_payloads(spark, sf):
    """(doc_id, img_kind, png BINARY) — deterministic PNG corpus keyed
    by documents.doc_id (scales with sf; only doc_id is read).

    The id column is repartitioned to the session's parallelism before
    the Python-heavy stage: a small id projection arrives as ONE scan
    split, which would serialize the codec work on a single worker —
    the shuffle moves only 8-byte ids, the expensive rows are produced
    after it (same sizing logic as the extraction kernel's
    split-by-kernel-time rule, PLANS.md)."""
    ids = (T(spark, sf, "documents").select("doc_id")
           .repartition(spark.sparkContext.defaultParallelism))

    def gen(doc_id):
        kind, arr = _gen_image(doc_id)
        yield {"doc_id": doc_id, "img_kind": kind, "png": pngc_encode(arr)}

    return map_rows(ids, gen, _IMG_SCHEMA)


def _to_gray(arr):
    """PIL convert('L') formula: ITU-R 601-2, integer truncation."""
    import numpy as np

    if arr.ndim == 2:
        return arr.astype(np.float64)
    r = arr[:, :, 0].astype(np.uint32)
    g = arr[:, :, 1].astype(np.uint32)
    b = arr[:, :, 2].astype(np.uint32)
    return ((r * 299 + g * 587 + b * 114) // 1000).astype(np.float64)


def _conv3(gray, k):
    """3x3 convolution, replicate-free interior view (edges dropped —
    matches variance/mean statistics well enough for scoring)."""
    import numpy as np

    h, w = gray.shape
    if h < 3 or w < 3:
        return np.zeros((1, 1))
    out = np.zeros((h - 2, w - 2))
    for dy in range(3):
        for dx in range(3):
            if k[dy][dx]:
                out += k[dy][dx] * gray[dy:dy + h - 2, dx:dx + w - 2]
    return out


_LAPLACIAN = ((0, 1, 0), (1, -4, 1), (0, 1, 0))       # cv2.Laplacian ksize=1
_FIND_EDGES = ((-1, -1, -1), (-1, 8, -1), (-1, -1, -1))  # PIL FIND_EDGES

# 5-tap Gaussian, sigma = 1.1 (cv2.GaussianBlur (5,5),0 default sigma
# = 0.3*((5-1)*0.5 - 1) + 0.8)
_G5 = None


def _gauss5():
    global _G5
    if _G5 is None:
        import numpy as np

        x = np.arange(-2, 3, dtype=np.float64)
        k = np.exp(-(x * x) / (2 * 1.1 * 1.1))
        _G5 = k / k.sum()
    return _G5


def _blur5(gray):
    import numpy as np

    k = _gauss5()
    # separable 5-tap with edge replication
    pad = np.pad(gray, 2, mode="edge")
    tmp = sum(k[i] * pad[:, i:i + gray.shape[1]] for i in range(5))
    return sum(k[i] * tmp[i:i + gray.shape[0], :] for i in range(5))


def compute_metrics(arr) -> dict:
    """N1+N2 metric block per the reference formulas."""
    import numpy as np

    gray = _to_gray(arr)
    h, w = gray.shape
    pixels = h * w
    if pixels >= 1920 * 1080:
        resolution = 1.0
    elif pixels >= 1280 * 720:
        resolution = 0.8
    elif pixels >= 640 * 480:
        resolution = 0.6
    elif pixels >= 320 * 240:
        resolution = 0.4
    else:
        resolution = 0.2
    lap = _conv3(gray, _LAPLACIAN)
    sharpness = min(float(lap.var()) / 1000.0, 1.0)
    contrast = min(float(gray.std()) / 127.5, 1.0)
    brightness = 1.0 - abs(float(gray.mean()) - 127.5) / 127.5
    noise_level = float(np.abs(gray - _blur5(gray)).mean())
    noise = max(1.0 - noise_level / 50.0, 0.0)
    quality = (0.3 * resolution + 0.2 * sharpness + 0.2 * contrast
               + 0.2 * brightness + 0.1 * noise)
    edges = np.abs(_conv3(gray, _FIND_EDGES)).clip(0, 255)
    edge_density = float(edges.mean()) / 255.0
    return {
        "width": w, "height": h,
        "resolution_score": resolution, "sharpness": sharpness,
        "contrast": contrast, "brightness": brightness, "noise": noise,
        "quality_score": quality, "edge_density": edge_density,
    }


def estimate_lines(arr) -> tuple[int, int]:
    """N3: ruled-line counts from edge-projection profiles (the
    HoughLinesP horizontal/vertical line-count analog): a row/col is a
    line when ≥60% of its edge profile is active."""
    import numpy as np

    gray = _to_gray(arr)
    edges = np.abs(_conv3(gray, _FIND_EDGES))
    if edges.size <= 1:
        return 0, 0
    act = edges > 64
    rows = int(((act.mean(axis=1) >= 0.6)).sum())
    cols = int(((act.mean(axis=0) >= 0.6)).sum())
    return rows, cols


def enhance(arr, kind: str, _gmean: float | None = None):
    """N4 type-conditional enhancement (numpy analog of PIL
    ImageEnhance: contrast pivots on the gray mean, sharpness blends
    against the blurred image, brightness scales). `_gmean` optionally
    passes the already-computed gray mean of the UNMODIFIED image
    (r8, fused_report): the first _gray_mean call is always on the
    pristine float copy, where float(_to_gray(a.astype(uint8)).mean())
    equals the caller's float(gray.mean()) exactly (the float64
    round-trip of a uint8 image is lossless)."""
    import numpy as np

    img = arr.astype(np.float64)

    # every _gray_mean call site below runs BEFORE img is modified
    # (contrast pivot and the photograph branch), so the precomputed
    # mean is always valid when supplied
    def _gray_mean(a):
        if _gmean is not None:
            return _gmean
        return float(_to_gray(a.astype(np.uint8)).mean())

    def _contrast(a, f):
        m = _gray_mean(a)
        return m + f * (a - m)

    def _sharpen(a, f):
        if a.ndim == 2:
            blurred = _blur5(a)
        else:
            blurred = np.stack(
                [_blur5(a[:, :, c]) for c in range(a.shape[2])], axis=2)
        return blurred + f * (a - blurred)

    if kind in ("chart", "diagram", "table_image"):
        img = _contrast(img, 1.5)
        img = _sharpen(img, 2.0)
    elif kind == "screenshot":
        img = _sharpen(img, 1.3)
    elif kind == "photograph":
        m = _gray_mean(img)
        if m < 100:
            img = img * 1.2
        elif m > 155:
            img = img * 0.8
    return img.clip(0, 255).astype(np.uint8)


def ocr_stub(arr, kind: str) -> str:
    """N5 OCR stand-in: tesseract/easyocr absent here. Upgrade path:

        try:
            import pytesseract
            return pytesseract.image_to_string(Image.fromarray(arr))
        except ImportError:
            ...

    Deterministic fake keyed on content so has_text/classification
    plumbing stays exercised."""
    import numpy as np

    gray = _to_gray(arr)
    return f"{kind} text" if float(np.asarray(gray).std()) > 30 else ""


_METRICS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("img_kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("quality_score", DoubleType()),
    StructField("sharpness", DoubleType()),
    StructField("contrast", DoubleType()),
    StructField("brightness", DoubleType()),
    StructField("noise", DoubleType()),
    StructField("edge_density", DoubleType()),
    StructField("est_rows", IntegerType()),
    StructField("est_cols", IntegerType()),
    StructField("has_text", StringType()),
    StructField("orig_md5", StringType()),
    StructField("enhanced_md5", StringType()),
    StructField("changed", StringType()),
])


def fused_report(doc_id: int, kind: str, arr, blob: bytes) -> dict:
    """The mm_image_metrics row for one image, with the shared
    intermediates computed ONCE (r8): gray, the |FIND_EDGES|
    convolution, and gray mean/std each previously recomputed inside
    compute_metrics / estimate_lines / ocr_stub / enhance (4x gray,
    2x the edge conv). Pure algebraic refactor — every value is the
    identical float op sequence on the identical arrays, pinned by
    test_fused_report_matches_unfused."""
    import hashlib

    import numpy as np

    gray = _to_gray(arr)
    h, w = gray.shape
    pixels = h * w
    if pixels >= 1920 * 1080:
        resolution = 1.0
    elif pixels >= 1280 * 720:
        resolution = 0.8
    elif pixels >= 640 * 480:
        resolution = 0.6
    elif pixels >= 320 * 240:
        resolution = 0.4
    else:
        resolution = 0.2
    lap = _conv3(gray, _LAPLACIAN)
    sharpness = min(float(lap.var()) / 1000.0, 1.0)
    gstd = float(gray.std())
    gmean = float(gray.mean())
    contrast = min(gstd / 127.5, 1.0)
    brightness = 1.0 - abs(gmean - 127.5) / 127.5
    noise_level = float(np.abs(gray - _blur5(gray)).mean())
    noise = max(1.0 - noise_level / 50.0, 0.0)
    quality = (0.3 * resolution + 0.2 * sharpness + 0.2 * contrast
               + 0.2 * brightness + 0.1 * noise)
    edges_abs = np.abs(_conv3(gray, _FIND_EDGES))
    edge_density = float(edges_abs.clip(0, 255).mean()) / 255.0
    if edges_abs.size <= 1:
        er = ec = 0
    else:
        act = edges_abs > 64
        er = int(((act.mean(axis=1) >= 0.6)).sum())
        ec = int(((act.mean(axis=0) >= 0.6)).sum())
    enh = pngc_encode(enhance(arr, kind, _gmean=gmean))
    return {
        "doc_id": int(doc_id), "img_kind": kind,
        "width": w, "height": h,
        "quality_score": round(quality, 6),
        "sharpness": round(sharpness, 6),
        "contrast": round(contrast, 6),
        "brightness": round(brightness, 6),
        "noise": round(noise, 6),
        "edge_density": round(edge_density, 6),
        "est_rows": er, "est_cols": ec,
        "has_text": "true" if (f"{kind} text" if gstd > 30 else "")
        else "false",
        "orig_md5": hashlib.md5(blob).hexdigest(),
        "enhanced_md5": hashlib.md5(enh).hexdigest(),
        "changed": "true" if enh != blob else "false",
    }


def pngc_encode(arr) -> bytes:
    from ..kernel import png as pngc

    return pngc.encode(arr)


def _metrics_row(doc_id):
    """mm_image_metrics' per-row body: the fused_report of doc_id's
    generated image."""
    kind, arr = _gen_image(doc_id)
    yield fused_report(doc_id, kind, arr, pngc_encode(arr))


def mm_image_metrics(spark, sf):
    """N1-N5 over real PNGs in ONE fused Python pass: metrics (N1),
    edge density (N2), line estimation (N3), type-conditional
    enhancement digests (N4) and the OCR flag (N5). Round 4 merged
    the analyses into one decode; r8 fuses the GENERATION stage in as
    well — the corpus PNG is encoded and analyzed inside the same
    task, so the blob never crosses the Python→JVM→Python boundary
    between two Python stages and the decode disappears outright
    (the stdlib codec is lossless, so decode(encode(a)) == a —
    pinned by test_png_roundtrip_identity and the mm_image_dims
    oracle). Shared gray/edge intermediates: see fused_report. The
    pass is ONE mapInArrow (map_rows over _metrics_row) whose output
    batches are built from buffers, so no worker running it imports
    pandas.

    Rows-only for the driver: the convolution/variance float pipeline
    (Laplacian, Gaussian blur, FIND_EDGES) isn't reconstructable in
    SQL at tolerable cost. Value properties are pytest-checked
    against independently-computed statistics (tests/test_imageops.py)
    and fused ⇔ unfused row equality is pinned by
    test_fused_report_matches_unfused."""
    # one partition per core: x4 wave-smoothing was A/B'd and lost
    # (3.97s vs 3.17s at sf1.0) — each extra Python task pays an
    # Arrow-stream + worker handshake that outweighs the straggler
    # tail at these image sizes
    ids = (T(spark, sf, "documents").select("doc_id")
           .repartition(spark.sparkContext.defaultParallelism,
                        F.col("doc_id")))
    return map_rows(ids, _metrics_row, _METRICS_SCHEMA)


def resize(arr, out_h: int, out_w: int):
    """Bilinear resize in numpy (the PIL Image.resize analog for the
    pipeline's thumbnail/normalize step)."""
    import numpy as np

    a = arr.astype(np.float64)
    h, w = a.shape[:2]
    if h == out_h and w == out_w:
        return arr.copy()
    ys = np.linspace(0, h - 1, out_h)
    xs = np.linspace(0, w - 1, out_w)
    y0 = np.floor(ys).astype(int)
    x0 = np.floor(xs).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (ys - y0)[:, None]
    wx = (xs - x0)[None, :]
    if a.ndim == 3:
        wy = wy[..., None]
        wx = wx[..., None]
    top = a[y0][:, x0] * (1 - wx) + a[y0][:, x1] * wx
    bot = a[y1][:, x0] * (1 - wx) + a[y1][:, x1] * wx
    return (top * (1 - wy) + bot * wy).round().clip(0, 255).astype(
        "uint8")


_RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("img_kind", StringType()),
    StructField("src_w", IntegerType()),
    StructField("src_h", IntegerType()),
    StructField("thumb_w", IntegerType()),
    StructField("thumb_h", IntegerType()),
    StructField("thumb_sum", LongType()),
    StructField("thumb_mean", DoubleType()),
])

THUMB = 32


def mm_image_resize(spark, sf):
    """Thumbnail normalization: decode → bilinear resize to THUMB²
    (the pre-embedding image-normalize step of a training pipeline).

    Fully oracled (promoted from rows-only in round 4): the source
    corpus is exact integer arithmetic on (doc_id, y, x) — see
    `_noise_grid` — so the oracle rebuilds every source pixel in SQL
    and replays the bilinear interpolation with the SAME IEEE double
    ops and np.linspace's exact weight formula (step = (n-1)/31
    rounded once, then i*step; last index pinned to n-1), including
    numpy's round-half-to-even on the final uint8 cast. The checked
    values are the thumb's exact pixel SUM and 6-dp mean — any
    off-by-one in corner indexing, weight order, or the codec
    round-trip shifts the sum. (The former thumb_md5 column died with
    the promotion: a PNG byte digest isn't SQL-reconstructable, and
    pixel-sum equality over an exactly-reproduced pixel grid is the
    same strength of evidence.)"""
    imgs = image_payloads(spark, sf)

    def run(doc_id, kind, blob):
        import numpy as np

        from ..kernel import png as pngc

        arr = pngc.decode(blob)
        th = resize(arr, THUMB, THUMB)
        yield {
            "doc_id": doc_id, "img_kind": kind,
            "src_w": arr.shape[1], "src_h": arr.shape[0],
            "thumb_w": th.shape[1], "thumb_h": th.shape[0],
            "thumb_sum": int(th.sum(dtype=np.int64)),
            # UNrounded on purpose: sum and count are exact ints on
            # both sides, so the division is bit-identical — while a
            # 6-dp round would hit banker's-vs-away ties on the dyadic
            # 1024 denominator (e.g. sum 212968 → x.9765625)
            "thumb_mean": float(th.mean()),
        }

    return map_rows(imgs, run, _RESIZE_SCHEMA)


_DIMS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("img_kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mode", StringType()),
])


def mm_image_dims(spark, sf):
    """Oracle-checked decode round-trip: generate → PNG-encode →
    PNG-decode → report (kind, width, height, mode). The synthetic
    corpus derives every dimension from doc_id arithmetic
    (_gen_image), so a pure-SQL oracle reconstructs the expected
    values — any codec bug (wrong scanline filter, channel mixup,
    truncated IDAT) breaks the hash match. This is the hard-signal
    cousin of the rows-only metric queries."""
    imgs = image_payloads(spark, sf)

    def run(doc_id, kind, blob):
        from ..kernel import png as pngc

        arr = pngc.decode(blob)
        yield {
            "doc_id": doc_id, "img_kind": kind,
            "width": arr.shape[1], "height": arr.shape[0],
            "mode": "RGB" if arr.ndim == 3 else "L",
        }

    return map_rows(imgs, run, _DIMS_SCHEMA)


def _noise_sql(mod: int) -> str:
    """SQL mirror of _noise_grid for one pixel (columns doc_id, y, x,
    w in scope): 31-bit LCG → % mod - mod//2, all BIGINT-exact."""
    return (f"((1103515245 * ((doc_id * 1000003 + (y * w + x))"
            f" % 2147483648) + 12345) % 2147483648) % {mod}"
            f" - {mod // 2}")


# chart bars: for b in 0..3, x in [4 + b*(w//4), +max(w//8,2)) and
# y >= h - int(h * (0.3 + 0.15*((doc_id+b)%4))) — same double ops as
# the Python int() truncation
_CHART_BARS_SQL = " OR ".join(
    f"(x >= 4 + {b} * (w // 4)"
    f" AND x < 4 + {b} * (w // 4) + greatest(w // 8, 2)"
    f" AND y >= h - CAST(trunc(h * (0.3::DOUBLE"
    f" + 0.15::DOUBLE * ((doc_id + {b}) % 4))) AS BIGINT))"
    for b in range(4))

# exact gray value of _gen_image at (y, x) given bare columns
# (doc_id, img_kind, h, w, y, x)
_GRAY_SQL = f"""CASE img_kind
  WHEN 'photograph' THEN least(255, greatest(0,
      (x * 255) // (w - 1) + ({_noise_sql(17)})))
  WHEN 'chart' THEN CASE WHEN {_CHART_BARS_SQL} THEN 30 ELSE 240 END
  WHEN 'table_image' THEN CASE
      WHEN y % greatest(h // 6, 2) = 0 OR x % greatest(w // 5, 2) = 0
      THEN 0 ELSE 255 END
  WHEN 'diagram' THEN CASE
      WHEN y >= h // 4 AND y < h // 2
       AND x >= w // 4 AND x < (3 * w) // 4
      THEN 90 ELSE 200 END
  ELSE CASE WHEN y % 4 = 0 THEN 40
       ELSE least(255, 250 + ({_noise_sql(41)})) END
END"""


def _cv_sql(t: str) -> str:
    """Channel value of corner {t}: RGB channels derive from gray by
    the same uint8 truncation as _gen_image's np.stack."""
    return (f"CASE ch.c"
            f" WHEN 1 THEN CAST(trunc({t}.g * 0.9::DOUBLE) AS DOUBLE)"
            f" WHEN 2 THEN CAST(trunc({t}.g * 0.7::DOUBLE) AS DOUBLE)"
            f" ELSE CAST({t}.g AS DOUBLE) END")


_DOCS_CTE_SQL = f"""
  SELECT doc_id,
         {list(_KINDS)!r}[CAST(doc_id % 5 AS INT) + 1] AS img_kind,
         CAST(48 + (doc_id * 13) % 48 AS BIGINT) AS h,
         CAST(48 + (doc_id * 29) % 80 AS BIGINT) AS w,
         CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS nch
  FROM documents"""

# Full value oracle for mm_image_resize: rebuild the exact source
# pixels (integer arithmetic incl. the LCG noise), replay np.linspace
# weights (step = (n-1)/31 rounded ONCE, i*step per index, index 31
# pinned to n-1), the bilinear formula with identical parenthesization
# (so every IEEE double op rounds the same), and numpy's
# round-half-to-even on the uint8 cast. Sum/mean of exact integers —
# both sides divide an exact int sum by an exact count.
MM_RESIZE_SQL = f"""
WITH docs AS ({_DOCS_CTE_SQL}),
pixbase AS (
  SELECT d.doc_id, d.img_kind, d.h, d.w, yy.y, xx.x
  FROM docs d,
       LATERAL (SELECT unnest(range(d.h)) AS y) yy,
       LATERAL (SELECT unnest(range(d.w)) AS x) xx),
pix AS (
  SELECT doc_id, y, x, {_GRAY_SQL} AS g FROM pixbase),
ycoord AS (
  SELECT d.doc_id, i.i AS ti,
         CASE WHEN i.i = {THUMB - 1} THEN d.h - 1.0
              ELSE i.i * ((d.h - 1.0) / {THUMB - 1}.0) END AS yf
  FROM docs d, LATERAL (SELECT unnest(range({THUMB})) AS i) i),
xcoord AS (
  SELECT d.doc_id, i.i AS tj,
         CASE WHEN i.i = {THUMB - 1} THEN d.w - 1.0
              ELSE i.i * ((d.w - 1.0) / {THUMB - 1}.0) END AS xf
  FROM docs d, LATERAL (SELECT unnest(range({THUMB})) AS i) i),
coords AS (
  SELECT yc.doc_id, yc.ti, xc.tj, d.nch,
         CAST(floor(yc.yf) AS BIGINT) AS y0,
         least(CAST(floor(yc.yf) AS BIGINT) + 1, d.h - 1) AS y1,
         yc.yf - floor(yc.yf) AS wy,
         CAST(floor(xc.xf) AS BIGINT) AS x0,
         least(CAST(floor(xc.xf) AS BIGINT) + 1, d.w - 1) AS x1,
         xc.xf - floor(xc.xf) AS wx
  FROM ycoord yc
  JOIN xcoord xc ON xc.doc_id = yc.doc_id
  JOIN docs d ON d.doc_id = yc.doc_id),
thumbpix AS (
  SELECT co.doc_id, co.ti, co.tj, ch.c,
         (({_cv_sql('p00')} * (1 - co.wx) + {_cv_sql('p01')} * co.wx)
            * (1 - co.wy)
          + ({_cv_sql('p10')} * (1 - co.wx) + {_cv_sql('p11')} * co.wx)
            * co.wy) AS val
  FROM coords co
  JOIN pix p00 ON p00.doc_id = co.doc_id
              AND p00.y = co.y0 AND p00.x = co.x0
  JOIN pix p01 ON p01.doc_id = co.doc_id
              AND p01.y = co.y0 AND p01.x = co.x1
  JOIN pix p10 ON p10.doc_id = co.doc_id
              AND p10.y = co.y1 AND p10.x = co.x0
  JOIN pix p11 ON p11.doc_id = co.doc_id
              AND p11.y = co.y1 AND p11.x = co.x1,
       LATERAL (SELECT unnest(range(co.nch)) AS c) ch),
rounded AS (
  SELECT doc_id,
         greatest(0, least(255,
           CASE WHEN val - floor(val) = 0.5
                THEN CAST(floor(val) AS BIGINT)
                     + CAST(floor(val) AS BIGINT) % 2
                ELSE CAST(round(val) AS BIGINT) END)) AS pv
  FROM thumbpix)
SELECT d.doc_id, d.img_kind,
       CAST(d.w AS INT) AS src_w, CAST(d.h AS INT) AS src_h,
       {THUMB} AS thumb_w, {THUMB} AS thumb_h,
       CAST(SUM(r.pv) AS BIGINT) AS thumb_sum,
       CAST(SUM(r.pv) AS DOUBLE)
         / ({THUMB} * {THUMB} * d.nch) AS thumb_mean
FROM rounded r JOIN docs d ON d.doc_id = r.doc_id
GROUP BY d.doc_id, d.img_kind, d.w, d.h, d.nch
"""


# mirrors _gen_image: h = 48 + 13*id % 48, w = 48 + 29*id % 80,
# kind = _KINDS[id % 5], RGB iff id % 3 == 0
MM_DIMS_SQL = f"""
SELECT doc_id,
       {list(_KINDS)!r}[CAST(doc_id % 5 AS INT) + 1] AS img_kind,
       CAST(48 + (doc_id * 29) % 80 AS INT) AS width,
       CAST(48 + (doc_id * 13) % 48 AS INT) AS height,
       CASE WHEN doc_id % 3 = 0 THEN 'RGB' ELSE 'L' END AS mode
FROM documents
"""


_METRICS_INT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("img_kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("res_bucket", StringType()),
    StructField("n_vals", LongType()),
    StructField("pix_sum", LongType()),
    StructField("pix_min", IntegerType()),
    StructField("pix_max", IntegerType()),
    StructField("brightness_mean", DoubleType()),
])


def mm_image_metrics_int(spark, sf):
    """Integer-exact image metrics — the fully-ORACLED sibling of the
    rows-only [mm_image_metrics] (round-6 verdict #5): decode the
    PNG once and report only statistics that are exact integer
    arithmetic on the decoded pixels — dims, a resolution bucket,
    channel-value count, exact pixel SUM (the brightness numerator as
    BIGINT), min/max channel values, and the unrounded mean (exact
    int / exact int, bit-identical across engines — the
    mm_image_resize convention; a 6-dp round would hit banker's-vs-
    away ties on dyadic denominators). The DuckDB oracle rebuilds
    every pixel from the analytic corpus model (_GRAY_SQL incl. the
    LCG noise) and the RGB channels by the same uint8 truncation —
    so a hash match certifies the whole generate → encode → decode
    pipeline VALUE-exactly, not just shape-exactly; only the float
    convolution columns of mm_image_metrics stay unoracled.

    Scale shape: identical to mm_image_dims — Arrow-batched decode
    fan-out, zero shuffles (the output is per-image)."""
    imgs = image_payloads(spark, sf)

    def run(doc_id, kind, blob):
        import numpy as np

        from ..kernel import png as pngc

        arr = pngc.decode(blob)
        h, w = arr.shape[0], arr.shape[1]
        npix = h * w
        bucket = ("small" if npix < 4096
                  else "medium" if npix < 8192 else "large")
        s = int(arr.sum(dtype=np.int64))
        yield {
            "doc_id": doc_id, "img_kind": kind,
            "width": w, "height": h,
            "res_bucket": bucket,
            "n_vals": arr.size,
            "pix_sum": s,
            "pix_min": int(arr.min()),
            "pix_max": int(arr.max()),
            "brightness_mean": s / arr.size,
        }

    return map_rows(imgs, run, _METRICS_INT_SCHEMA)


# channel-value sum of one pixel: RGB channels derive from gray by
# the same uint8 truncation as _gen_image's np.stack; max channel is
# always g (factors <= 1), min is trunc(0.7*g) for RGB
MM_METRICS_INT_SQL = f"""
WITH docs AS ({_DOCS_CTE_SQL}),
pixbase AS (
  SELECT d.doc_id, d.img_kind, d.h, d.w, d.nch, yy.y, xx.x
  FROM docs d,
       LATERAL (SELECT unnest(range(d.h)) AS y) yy,
       LATERAL (SELECT unnest(range(d.w)) AS x) xx),
pix AS (
  SELECT doc_id, nch, {_GRAY_SQL} AS g FROM pixbase),
agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN nch = 3
              THEN g + CAST(trunc(g * 0.9::DOUBLE) AS BIGINT)
                     + CAST(trunc(g * 0.7::DOUBLE) AS BIGINT)
              ELSE g END) AS BIGINT) AS pix_sum,
         CAST(min(CASE WHEN nch = 3
              THEN CAST(trunc(g * 0.7::DOUBLE) AS BIGINT)
              ELSE g END) AS INT) AS pix_min,
         CAST(max(g) AS INT) AS pix_max
  FROM pix GROUP BY doc_id)
SELECT d.doc_id, d.img_kind,
       CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
       CASE WHEN d.h * d.w < 4096 THEN 'small'
            WHEN d.h * d.w < 8192 THEN 'medium'
            ELSE 'large' END AS res_bucket,
       CAST(d.h * d.w * d.nch AS BIGINT) AS n_vals,
       a.pix_sum,
       a.pix_min,
       a.pix_max,
       CAST(a.pix_sum AS DOUBLE) / (d.h * d.w * d.nch)
         AS brightness_mean
FROM docs d JOIN agg a ON a.doc_id = d.doc_id
"""


_AHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("img_kind", StringType()),
    StructField("ahash", StringType()),
])


def dd_image_ahash(spark, sf):
    """Perceptual image dedup via average hash (aHash — the classic
    first-pass image near-dup signature): decode the PNG, integer ITU
    luma, split into an 8×8 block grid, bit j = block mean > global
    mean, 64-bit signature; identical signatures form dedup buckets
    (keeper = min doc_id). The synthetic corpus contains REAL exact
    duplicates (table_image/diagram pixels depend only on (h, w), so
    docs sharing the size cycle collide), which is what the bucket
    counts verify.

    EVERY comparison is exact integer: block_mean > global_mean is
    evaluated as block_sum * total_n > total_sum * block_n (int64-safe
    cross-multiplication — no float division anywhere, so the DuckDB
    oracle rebuilds bit-identical signatures from the analytic pixel
    model). Scale shape: Arrow-batched decode fan-out (id-repartition
    first), then ONE hash agg on the 64-char signature — the dd_exact
    plan with a decoded-feature key."""
    imgs = image_payloads(spark, sf)

    def run(doc_id, kind, blob):
        import numpy as np

        from ..kernel import png as pngc

        arr = pngc.decode(blob)
        if arr.ndim == 2:
            luma = arr.astype(np.int64)
        else:
            r = arr[:, :, 0].astype(np.int64)
            g = arr[:, :, 1].astype(np.int64)
            b = arr[:, :, 2].astype(np.int64)
            luma = (r * 299 + g * 587 + b * 114) // 1000
        h, w = luma.shape
        ts, tn = int(luma.sum()), h * w
        # block id per pixel: by = y*8//h (NOT the by*h//8 slice
        # boundaries — the two partitions differ when h % 8 != 0,
        # e.g. h=10 puts y=2 in different blocks)
        byi = (np.arange(h) * 8) // h
        bxi = (np.arange(w) * 8) // w
        bid = (byi[:, None] * 8 + bxi[None, :]).ravel()
        bs = np.bincount(bid, weights=luma.ravel(),
                         minlength=64).astype(np.int64)
        bn = np.bincount(bid, minlength=64)
        bits = np.where(bs * tn > ts * bn, "1", "0")
        yield {"doc_id": doc_id, "img_kind": kind, "ahash": "".join(bits)}

    sigs = map_rows(imgs, run, _AHASH_SCHEMA)
    return (
        sigs.groupBy("ahash", "img_kind")
        .agg(F.min("doc_id").alias("keeper_id"),
             F.count("*").alias("n_copies"))
    )


# aHash oracle: rebuild the luma plane analytically (the _GRAY_SQL
# pixel model + the same integer ITU formula for RGB docs), block/
# total sums as exact BIGINTs, bits via the same cross-multiplied
# integer comparison, signature via ordered string_agg.
DD_IMAGE_AHASH_SQL = f"""
WITH docs AS ({_DOCS_CTE_SQL}),
pixbase AS (
  SELECT d.doc_id, d.img_kind, d.h, d.w, d.nch, yy.y, xx.x
  FROM docs d,
       LATERAL (SELECT unnest(range(d.h)) AS y) yy,
       LATERAL (SELECT unnest(range(d.w)) AS x) xx),
pix AS (
  SELECT doc_id, img_kind, h, w, nch, y, x, {_GRAY_SQL} AS g
  FROM pixbase),
luma AS (
  SELECT doc_id, img_kind, h, w, y, x,
         CASE WHEN nch = 3 THEN
           (g * 299
            + CAST(trunc(g * 0.9::DOUBLE) AS BIGINT) * 587
            + CAST(trunc(g * 0.7::DOUBLE) AS BIGINT) * 114) // 1000
         ELSE g END AS l
  FROM pix),
blocks AS (
  SELECT doc_id, img_kind, (y * 8) // h AS by, (x * 8) // w AS bx,
         CAST(SUM(l) AS BIGINT) AS bs, count(*) AS bn
  FROM luma GROUP BY doc_id, img_kind, (y * 8) // h, (x * 8) // w),
totals AS (
  SELECT doc_id, CAST(SUM(l) AS BIGINT) AS ts, count(*) AS tn
  FROM luma GROUP BY doc_id),
sigs AS (
  SELECT b.doc_id, b.img_kind,
         string_agg(CASE WHEN b.bs * t.tn > t.ts * b.bn
                    THEN '1' ELSE '0' END, ''
                    ORDER BY b.by, b.bx) AS ahash
  FROM blocks b JOIN totals t USING (doc_id)
  GROUP BY b.doc_id, b.img_kind)
SELECT ahash, img_kind, min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM sigs GROUP BY ahash, img_kind
"""


QUERIES = {
    "mm_image_metrics": (mm_image_metrics, None),
    "mm_image_metrics_int": (mm_image_metrics_int, MM_METRICS_INT_SQL),
    "mm_image_resize": (mm_image_resize, MM_RESIZE_SQL),
    "mm_image_dims": (mm_image_dims, MM_DIMS_SQL),
    "dd_image_ahash": (dd_image_ahash, DD_IMAGE_AHASH_SQL),
}

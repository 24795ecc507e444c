"""Real audio path: opaque WAV payloads → numpy feature extraction.

Audio decode libraries (ffmpeg/librosa) are absent here, but WAV/PCM
is pure stdlib (`wave` + struct), so — like the PNG path in
`operators/imageops.py` — the audio modality runs for real end-to-end:
deterministic 16-bit mono WAVs are synthesized per doc_id inside the
Arrow batch, then decoded and feature-extracted with numpy:

- duration / sample rate / sample count (container metadata)
- RMS energy and peak amplitude
- zero-crossing rate (the classic voiced/unvoiced discriminator)
- spectral centroid via rFFT (brightness)
- dominant frequency (argmax bin) — recovers the synthesized tone,
  which makes the whole path value-assertable in pytest

Rows-only for the driver (decode isn't SQL-expressible); value
properties are pytest-checked in tests/test_audioops.py against the
known synthesis parameters. Swap the synthesizer for real payload
columns on a cluster — the decode/feature path doesn't change.
"""

from __future__ import annotations

import io
import wave

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

_RATE = 8000  # Hz — small deterministic clips


def _lcg_uniform(doc_id: int, n: int):
    """Deterministic white noise, reproducible in pure SQL: a 31-bit
    LCG keyed on (doc_id, sample index), mapped to [-0.4, 0.4). All
    intermediate products fit in int64 (multiplier is 31-bit, state is
    31-bit), so DuckDB BIGINT arithmetic reproduces the stream bit-
    for-bit — which is what lets mm_audio_features carry a full value
    oracle instead of a rows-only check."""
    import numpy as np

    i = np.arange(n, dtype=np.int64)
    s = (1103515245 * ((doc_id * 1000003 + i) % 2147483648)
         + 12345) % 2147483648
    return (s / 2147483648.0 - 0.5) * 0.8


def synth_wav(doc_id: int) -> tuple[str, bytes]:
    """Deterministic 16-bit mono WAV for doc_id: tone / chord / noise /
    silence, 0.1-0.35 s."""
    import numpy as np

    kind = ("tone", "chord", "noise", "silence")[doc_id % 4]
    n = int(_RATE * (0.1 + (doc_id % 6) * 0.05))
    t = np.arange(n) / _RATE
    freq = 200.0 + (doc_id % 16) * 100.0
    if kind == "tone":
        x = 0.6 * np.sin(2 * np.pi * freq * t)
    elif kind == "chord":
        x = (0.4 * np.sin(2 * np.pi * freq * t)
             + 0.3 * np.sin(2 * np.pi * freq * 1.5 * t))
    elif kind == "noise":
        x = _lcg_uniform(doc_id, n)
    else:
        x = np.zeros(n)
    pcm = (x.clip(-1, 1) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_RATE)
        w.writeframes(pcm.tobytes())
    return kind, buf.getvalue()


def decode_wav_pcm(blob: bytes):
    """WAV bytes → (raw int16 PCM array, sample_rate). The integer
    view exists so energy checks can use EXACT int64 arithmetic."""
    import numpy as np

    with wave.open(io.BytesIO(blob), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("only 16-bit mono PCM supported")
        rate = w.getframerate()
        pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    return pcm, rate


def decode_wav(blob: bytes):
    """WAV bytes → (float64 array in [-1, 1], sample_rate)."""
    import numpy as np

    pcm, rate = decode_wav_pcm(blob)
    return pcm.astype(np.float64) / 32767.0, rate


def audio_features(x, rate: int) -> dict:
    """Feature block over a mono signal (numpy; see module doc)."""
    import numpy as np

    n = len(x)
    if n == 0:
        return {"duration_s": 0.0, "rms": 0.0, "peak": 0.0, "zcr": 0.0,
                "spectral_centroid_hz": 0.0, "dominant_hz": 0.0}
    rms = float(np.sqrt((x * x).mean()))
    peak = float(np.abs(x).max())
    zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean())
    mag = np.abs(np.fft.rfft(x))
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    total = float(mag.sum())
    centroid = float((freqs * mag).sum() / total) if total > 0 else 0.0
    dominant = float(freqs[int(mag.argmax())]) if total > 0 else 0.0
    return {
        "duration_s": round(n / rate, 6), "rms": round(rms, 6),
        "peak": round(peak, 6), "zcr": round(zcr, 6),
        "spectral_centroid_hz": round(centroid, 3),
        "dominant_hz": round(dominant, 3),
    }


_AUDIO_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("audio_kind", StringType()),
    StructField("wav", BinaryType()),
])

_FEAT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("audio_kind", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_s", DoubleType()),
    StructField("sum_sq", LongType()),
    StructField("peak", DoubleType()),
    StructField("zcr", DoubleType()),
])

_SPECTRAL_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("audio_kind", StringType()),
    StructField("spectral_centroid_hz", DoubleType()),
    StructField("dominant_hz", DoubleType()),
])


def audio_payloads(spark, sf):
    # repartition the tiny id column so the Python synth/decode stage
    # parallelizes (see image_payloads)
    ids = (T(spark, sf, "documents").select("doc_id")
           .repartition(spark.sparkContext.defaultParallelism))

    def gen(doc_id):
        kind, blob = synth_wav(doc_id)
        yield {"doc_id": doc_id, "audio_kind": kind, "wav": blob}

    return map_rows(ids, gen, _AUDIO_SCHEMA)


def mm_audio_features(spark, sf):
    """Decode WAV → numpy time-domain features, Arrow-batched.

    Fully oracled (promoted from rows-only in round 4): every
    synthesis path is SQL-reproducible (sin via the same libm,
    noise via the int64 LCG in `_lcg_uniform`), so the oracle
    re-synthesizes the int16 PCM per sample with generate-series
    arithmetic and recomputes the energy/peak/zcr columns through a
    completely independent code path — a quantization, header, or
    channel bug in the WAV round-trip breaks the hash match. The
    signal energy is reported as `sum_sq`, the EXACT int64 sum of
    squared int16 PCM samples (max ~3e12 for the longest clip — no
    overflow), rather than a rounded float rms: float rms depends on
    summation order (numpy pairwise vs DuckDB sequential, ~1e-15
    relative wobble) and a value landing on a rounding boundary would
    flake the driver hash; the integer sum is summation-order-proof.
    rms itself stays available via `audio_features` for pytest value
    checks. The FFT-derived columns (centroid, dominant bin) moved to
    `mm_audio_spectral`: a DFT is O(n^2) in set-based SQL, so keeping
    them here would have forced the whole query to stay rows-only
    forever."""
    wavs = audio_payloads(spark, sf)

    def run(doc_id, kind, blob):
        import numpy as np

        pcm, rate = decode_wav_pcm(blob)
        x = pcm.astype(np.float64) / 32767.0
        f = audio_features(x, rate)
        p64 = pcm.astype(np.int64)
        yield {"doc_id": doc_id, "audio_kind": kind,
               "sample_rate": rate,
               "duration_s": f["duration_s"],
               "sum_sq": int((p64 * p64).sum()),
               "peak": f["peak"],
               "zcr": f["zcr"]}

    return map_rows(wavs, run, _FEAT_SCHEMA)


def mm_audio_spectral(spark, sf):
    """Frequency-domain features (rFFT spectral centroid + dominant
    bin — the voiced/music/noise discriminators). Rows-only for the
    driver: a DFT isn't expressible in set-based SQL at sane cost;
    value properties are pytest-checked against the synthesis
    parameters instead (dominant_hz recovers the synthesized tone
    frequency to within one FFT bin, tests/test_audioops.py)."""
    wavs = audio_payloads(spark, sf)

    def run(doc_id, kind, blob):
        x, rate = decode_wav(blob)
        f = audio_features(x, rate)
        yield {"doc_id": doc_id, "audio_kind": kind,
               "spectral_centroid_hz": f["spectral_centroid_hz"],
               "dominant_hz": f["dominant_hz"]}

    return map_rows(wavs, run, _SPECTRAL_SCHEMA)


_DIMS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("audio_kind", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
])


def mm_audio_dims(spark, sf):
    """Oracle-checked WAV round-trip (the mm_image_dims pattern):
    synth → encode → stdlib decode → container metadata, reconstructed
    by pure doc_id arithmetic in the oracle. Any header/PCM-length bug
    in kernel-side WAV handling breaks the hash match."""
    wavs = audio_payloads(spark, sf)

    def run(doc_id, kind, blob):
        x, rate = decode_wav(blob)
        yield {"doc_id": doc_id, "audio_kind": kind,
               "sample_rate": rate, "n_samples": len(x)}

    return map_rows(wavs, run, _DIMS_SCHEMA)


# Full value oracle for mm_audio_features: re-synthesize the int16
# PCM stream per (doc_id, sample) with the same IEEE double ops as
# synth_wav (same parenthesization — (2*pi*freq)*(i/8000.0) — so both
# sides round identically; sin resolves to the same host libm), then
# recompute sum_sq/peak/zcr set-wise. trunc() mirrors astype('<i2')'s
# toward-zero truncation; the LCG noise branch is exact BIGINT
# arithmetic. The energy column is SUM(p*p) as exact BIGINT — no
# float summation anywhere, so the check is summation-order-proof
# (the old rounded-sqrt rms could flake if a value landed within the
# ~1e-15 pairwise-vs-sequential wobble of a rounding boundary).
MM_AUDIO_FEATS_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         ['tone', 'chord', 'noise', 'silence'][CAST(doc_id % 4 AS INT) + 1]
           AS audio_kind,
         CAST(floor({_RATE} * (0.1::DOUBLE + (doc_id % 6) * 0.05::DOUBLE))
              AS BIGINT) AS n,
         200.0 + (doc_id % 16) * 100.0 AS freq
  FROM documents),
pcm AS (
  SELECT d.doc_id, d.audio_kind, d.n, i.i,
         CAST(trunc(greatest(-1.0, least(1.0,
           CASE d.audio_kind
             WHEN 'tone' THEN
               0.6 * sin((2 * pi() * d.freq) * (i.i / {_RATE}.0))
             WHEN 'chord' THEN
               0.4 * sin((2 * pi() * d.freq) * (i.i / {_RATE}.0))
               + 0.3 * sin(((2 * pi() * d.freq) * 1.5) * (i.i / {_RATE}.0))
             WHEN 'noise' THEN
               (((1103515245 * ((d.doc_id * 1000003 + i.i) % 2147483648)
                  + 12345) % 2147483648) / 2147483648.0 - 0.5) * 0.8
             ELSE 0.0 END)) * 32767) AS BIGINT) AS p
  FROM docs d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
lagged AS (
  SELECT doc_id, audio_kind, n, p,
         lag(p) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM pcm)
SELECT doc_id, audio_kind, {_RATE} AS sample_rate,
       round(n / {_RATE}.0, 6) AS duration_s,
       CAST(SUM(p * p) AS BIGINT) AS sum_sq,
       round(max(abs(p)) / 32767.0, 6) AS peak,
       round(CAST(SUM(CASE WHEN prev IS NOT NULL
                            AND ((p < 0) <> (prev < 0))
                       THEN 1 ELSE 0 END) AS DOUBLE) / (n - 1), 6)
         AS zcr
FROM lagged
GROUP BY doc_id, audio_kind, n
"""


# mirrors synth_wav: kind = [...][id % 4], n = int(8000*(0.1+(id%6)*.05))
# (the ::DOUBLE casts force IEEE arithmetic = Python's int(float))
MM_AUDIO_DIMS_SQL = f"""
SELECT doc_id,
       ['tone', 'chord', 'noise', 'silence'][CAST(doc_id % 4 AS INT) + 1]
         AS audio_kind,
       {_RATE} AS sample_rate,
       CAST(floor({_RATE} * (0.1::DOUBLE
                             + (doc_id % 6) * 0.05::DOUBLE)) AS INT)
         AS n_samples
FROM documents
"""


def dd_audio_dup(spark, sf):
    """Cross-clip duplicate-AUDIO detection — the audio leg of the
    multimodal dedup family beside [dd_image_ahash] and
    [dd_video_frame_dup] (real pipelines dedup silence padding and
    re-uploaded stock audio before feature extraction): each decoded
    clip gets an exact integer fingerprint (n_samples, PCM sum,
    index-weighted PCM moment — the moment separates equal-energy
    different-content clips), and a clip is a duplicate iff its
    fingerprint appears in >= 2 distinct docs. The synthetic corpus
    contains REAL collisions with known structure: silence clips of
    equal length are identical, tone/chord clips repeat on the
    (kind, length, freq) cycle (period 48), and noise clips NEVER
    collide (their LCG is keyed on doc_id) — the test pins exactly
    that.

    Scale shape: Arrow-batched decode fan-out, then ONE hash agg on
    the fingerprint (the dd_exact plan with a decoded-feature key);
    no pair enumeration. All-integer fingerprints, so the DuckDB
    oracle rebuilds the census from the analytic PCM model."""
    wavs = audio_payloads(spark, sf)

    def run(doc_id, kind, blob):
        import numpy as np

        pcm, _rate = decode_wav_pcm(blob)
        p64 = pcm.astype(np.int64)
        idx = np.arange(len(p64), dtype=np.int64)
        yield {"doc_id": doc_id, "audio_kind": kind,
               "n_samples": len(p64),
               "psum": int(p64.sum()),
               "pmom": int((idx * p64).sum())}

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("audio_kind", StringType()),
        StructField("n_samples", LongType()),
        StructField("psum", LongType()),
        StructField("pmom", LongType()),
    ])
    # persist the one-row-per-clip fingerprint relation (strictly
    # smaller than the blobs): it feeds the groups agg AND the join
    # back, and without the persist each re-ran the WAV decode 2x per
    # run (r8, round-7 verdict defect #2; [dd_substr_dup] discipline,
    # linted by test_video_audio_dup_decode_once)
    from pyspark import StorageLevel

    fr = (map_rows(wavs, run, schema)
          .persist(StorageLevel.MEMORY_AND_DISK))
    sig = ["n_samples", "psum", "pmom"]
    groups = fr.groupBy(*sig).agg(
        F.count_distinct("doc_id").alias("n_twins"))
    return (fr.join(groups, sig)
            .select("doc_id", "audio_kind", "n_samples", "n_twins",
                    F.when(F.col("n_twins") >= 2, "true")
                    .otherwise("false").alias("is_dup")))


DD_AUDIO_DUP_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         ['tone', 'chord', 'noise', 'silence'][CAST(doc_id % 4 AS INT) + 1]
           AS audio_kind,
         CAST(floor({_RATE} * (0.1::DOUBLE + (doc_id % 6) * 0.05::DOUBLE))
              AS BIGINT) AS n,
         200.0 + (doc_id % 16) * 100.0 AS freq
  FROM documents),
pcm AS (
  SELECT d.doc_id, d.audio_kind, d.n, i.i,
         CAST(trunc(greatest(-1.0, least(1.0,
           CASE d.audio_kind
             WHEN 'tone' THEN
               0.6 * sin((2 * pi() * d.freq) * (i.i / {_RATE}.0))
             WHEN 'chord' THEN
               0.4 * sin((2 * pi() * d.freq) * (i.i / {_RATE}.0))
               + 0.3 * sin(((2 * pi() * d.freq) * 1.5) * (i.i / {_RATE}.0))
             WHEN 'noise' THEN
               (((1103515245 * ((d.doc_id * 1000003 + i.i) % 2147483648)
                  + 12345) % 2147483648) / 2147483648.0 - 0.5) * 0.8
             ELSE 0.0 END)) * 32767) AS BIGINT) AS p
  FROM docs d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
sigs AS (
  SELECT doc_id, audio_kind, n AS n_samples,
         CAST(SUM(p) AS BIGINT) AS psum,
         CAST(SUM(i * p) AS BIGINT) AS pmom
  FROM pcm GROUP BY doc_id, audio_kind, n),
groups AS (
  SELECT n_samples, psum, pmom,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_twins
  FROM sigs GROUP BY n_samples, psum, pmom)
SELECT s.doc_id, s.audio_kind, s.n_samples, g.n_twins,
       CASE WHEN g.n_twins >= 2 THEN 'true' ELSE 'false' END AS is_dup
FROM sigs s JOIN groups g
  ON g.n_samples = s.n_samples AND g.psum = s.psum
 AND g.pmom = s.pmom
"""


QUERIES = {
    "mm_audio_features": (mm_audio_features, MM_AUDIO_FEATS_SQL),
    "mm_audio_spectral": (mm_audio_spectral, None),
    "mm_audio_dims": (mm_audio_dims, MM_AUDIO_DIMS_SQL),
    "dd_audio_dup": (dd_audio_dup, DD_AUDIO_DUP_SQL),
}

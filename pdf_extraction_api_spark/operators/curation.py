"""Corpus-curation operators — round-5 additions to the training-data
pipeline family (SURVEY.md "beyond §2" ops, same first-class treatment:
full DuckDB oracle + scale-safe plan each).

- dd_domain_cap       — per-domain frequency capping (C4/RefinedWeb
                        style): keep the top-K docs per host, two-phase
                        salted top-K so a mega-domain never forces a
                        single-partition sort.
- tx_top_ngram_frac   — Gopher's top-n-gram character-fraction rule
                        (Rae et al. 2021 §A1.1): fraction of characters
                        covered by the single most frequent word
                        2-gram; complements tx_gopher_quality's
                        duplicate-trigram fraction.
- tx_stratified_sample— EXACT per-stratum deterministic sampling
                        (ceil(n/DEN) smallest-hash docs per lang) via
                        the same two-level prefix-sum rank as
                        tx_pack_sequences — no per-stratum global sort.
- dd_semdedup         — SemDeDup (Abbas et al. 2023, public): k-means
                        cells → within-cell candidate pairs (capped +
                        salted) → exact-cosine threshold → drop list
                        with lowest-id exemplar.
- tx_ngram_novelty    — per-doc fraction of its distinct shingles first
                        seen in THIS doc (vs any earlier doc) — the
                        contribution/novelty score used for data
                        pruning and curriculum ordering.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .relational import T, spread
from .textops import (
    _shingle_col,
    _shingles,
    _SHINGLES_SQL,
    salted_bucket_pairs,
    token_windows,
    ws_tokens,
    SEGMENT_N,
    WS_TOKS_SQL,
)
from .vectorops import (
    _KM_COS,
    _cosine,
    _dim_of,
    EMBED_BUCKET_CAP,
    KMEANS_FINAL_CTES,
    kmeans_cells,
)

DOMAIN_CAP = 10     # max docs kept per domain
DOMAIN_SHARDS = 4   # phase-1 salt width for the two-phase top-K
SAMPLE_DEN = 5      # stratified sample keeps ceil(n_lang/5) per lang
SAMPLE_BUCKETS = 16 # rank prefix-sum buckets per stratum
SEM_TAU = 0.25      # SemDeDup cosine threshold (p99 of within-cell
                    # pairs on the synthetic embeddings — see tests)


def dd_domain_cap(spark, sf):
    """Per-domain frequency capping — the C4/RefinedWeb crawl-balance
    step: a handful of hosts dominate any web crawl, so keep at most
    DOMAIN_CAP documents per registered domain, preferring longer
    documents (n_chars DESC, doc_id ASC tie-break). Hosts are
    synthesized deterministically (domain d owns doc_ids in
    [d^2, (d+1)^2) — floor(sqrt) gives naturally growing, skewed
    domain sizes, the exact pathology the cap exists for).

    Scale shape: top-K per key WITHOUT a per-domain global sort. A
    plain Window.partitionBy(domain) puts a mega-domain's entire
    population in one task; instead (1) salt each doc into
    DOMAIN_SHARDS shards by id hash and rank within (domain, shard) —
    parallel, bounded; (2) re-rank only the ≤ SHARDS×CAP phase-1
    survivors per domain. The global top-K is always contained in the
    union of shard top-Ks, so the result is identical to the naive
    window (which is what the oracle runs)."""
    d = T(spark, sf, "documents")
    domain = F.concat(
        F.lit("host"),
        F.floor(F.sqrt(F.col("doc_id"))).cast("long").cast("string"),
        F.lit(".example.com"))
    base = d.select("doc_id", "n_chars", domain.alias("domain"))
    counts = base.groupBy("domain").agg(F.count("*").alias("n_domain"))
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
               16, 10).cast("long") % DOMAIN_SHARDS)
    w_local = Window.partitionBy("domain", "shard").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    survivors = (
        base.withColumn("shard", shard)
        .withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= DOMAIN_CAP)
    )
    w_global = Window.partitionBy("domain").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= DOMAIN_CAP)
        .join(F.broadcast(counts), "domain")
        .select("domain", "doc_id", "n_chars", "rank", "n_domain")
    )


DD_DOMAIN_CAP_SQL = f"""
WITH base AS (
  SELECT doc_id, n_chars,
         'host' || CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR)
           || '.example.com' AS domain
  FROM documents),
counts AS (SELECT domain, count(*) AS n_domain FROM base GROUP BY domain)
SELECT r.domain, r.doc_id, r.n_chars, r.rank, c.n_domain
FROM (SELECT domain, doc_id, n_chars,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id ASC)
               AS rank
      FROM base) r
JOIN counts c USING (domain)
WHERE r.rank <= {DOMAIN_CAP}
"""


def tx_top_ngram_frac(spark, sf):
    """Gopher top-n-gram rule (Rae et al. 2021 §A1.1, n=2): the
    occurrence-mass ratio of a document's single most frequent word
    2-gram — count × len(gram) / chars of the space-joined token
    stream. NOTE: occurrences of a self-overlapping bigram are each
    counted in full, so the ratio can exceed 1.0 (tokens ['a','a','a']
    → 2×3/5 = 1.2); it is a repetition score, not a strict
    "fraction of characters covered" (both engines compute the same
    formula, so cross-engine parity is exact). High values mark
    degenerate repetition ("click here click here …") that the
    duplicate-TRIGRAM fraction in tx_gopher_quality under-weights.
    Tie-break: highest count, then lexicographically smallest gram.

    Plan: posexplode-free bigram generation (sequence + element_at,
    all JVM HOFs) → one map-side-combinable (doc, gram) count → a
    per-doc window over the doc's own gram counts (bounded by doc
    length — never a corpus-wide sort) → broadcast-scale join back to
    per-doc totals. Docs with < 2 tokens report ('', 0, 0.0)."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toks = ws_tokens()
    toked = d.select("doc_id", toks.alias("toks"))
    totals = toked.select(
        "doc_id",
        F.length(F.concat_ws(" ", "toks")).alias("chars"))
    grams = (
        toked.filter(F.size("toks") >= 2)
        .select("doc_id",
                F.explode(_shingle_col("toks", 2)).alias("gram"))
        .groupBy("doc_id", "gram").agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("gram"))
    top = (grams.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") == 1))
    return (
        totals.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("gram", F.lit("")).alias("top_gram"),
            F.coalesce("n", F.lit(0)).alias("top_n"),
            F.when(
                F.col("gram").isNotNull(),
                F.round(F.col("n") * F.length("gram")
                        / F.col("chars").cast("double"), 6),
            ).otherwise(F.lit(0.0)).alias("top_frac"),
        )
    )


TX_TOP_NGRAM_SQL = rf"""
WITH toked AS (
  SELECT doc_id, {WS_TOKS_SQL} AS toks
  FROM documents),
totals AS (
  SELECT doc_id, length(array_to_string(toks, ' ')) AS chars
  FROM toked),
grams AS (
  SELECT doc_id, toks[i + 1] || ' ' || toks[i + 2] AS gram,
         count(*) AS n
  FROM toked, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) t
  WHERE len(toks) >= 2
  GROUP BY doc_id, gram),
top AS (
  SELECT doc_id, gram, n FROM (
    SELECT doc_id, gram, n,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n DESC, gram ASC) AS rk
    FROM grams)
  WHERE rk = 1)
SELECT t.doc_id,
       coalesce(g.gram, '') AS top_gram,
       CAST(coalesce(g.n, 0) AS BIGINT) AS top_n,
       CAST(CASE WHEN g.gram IS NOT NULL
            THEN round(g.n * length(g.gram) / CAST(t.chars AS DOUBLE), 6)
            ELSE 0.0 END AS DOUBLE) AS top_frac
FROM totals t LEFT JOIN top g USING (doc_id)
"""


def tx_stratified_sample(spark, sf):
    """EXACT-count stratified sampling: per lang, keep precisely
    ceil(n_lang / SAMPLE_DEN) documents — the ones with the smallest
    md5(doc_id) — fully deterministic and engine-reproducible. The
    probabilistic cousin (tx_hash_sample) gives each doc an
    independent keep decision and only approximates the stratum size;
    this operator is the version used when the mixture recipe demands
    exact per-stratum counts.

    Scale shape: an exact per-stratum rank normally means a global
    sort per stratum (Window.partitionBy(lang).orderBy(h) puts the
    whole stratum in one task). Instead, the tx_pack_sequences
    two-level prefix sum computes the EXACT rank distributively:
    bucket docs by a hash prefix (SAMPLE_BUCKETS per lang), rank
    within (lang, bucket) in parallel, cumsum the tiny per-bucket
    count table, and add the bucket base back via broadcast join.
    Because the bucket key is a prefix of the sort key, bucket-ordered
    concatenation == the global order. ceil is integer arithmetic
    ((n + DEN - 1) // DEN) — no float literal (DuckDB DECIMAL trap)."""
    d = T(spark, sf, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    base = d.select(
        "doc_id", "lang", h.alias("h"),
        F.conv(F.substring(h, 1, 1), 16, 10).cast("long").alias("bucket"))
    bucket_n = base.groupBy("lang", "bucket").agg(
        F.count("*").alias("bn"))
    w_cum = (Window.partitionBy("lang").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, -1))
    bases = bucket_n.select(
        "lang", "bucket",
        F.coalesce(F.sum("bn").over(w_cum), F.lit(0)).alias("base"))
    n_lang = bucket_n.groupBy("lang").agg(F.sum("bn").alias("n_lang"))
    # true integer ceil on BOTH engines (`div` is Spark's integral
    # division) — matching the docstring's no-float claim
    n_keep = F.expr(f"(n_lang + {SAMPLE_DEN - 1}) div {SAMPLE_DEN}")
    w_local = Window.partitionBy("lang", "bucket").orderBy(
        "h", "doc_id")
    return (
        base.withColumn("lrk", F.row_number().over(w_local))
        .join(F.broadcast(bases), ["lang", "bucket"])
        .join(F.broadcast(n_lang), "lang")
        .select(
            "lang", "doc_id",
            (F.col("base") + F.col("lrk")).alias("rnk"),
            "n_lang",
            n_keep.cast("long").alias("n_keep"),
        )
        .filter(F.col("rnk") <= F.col("n_keep"))
    )


TX_STRATIFIED_SQL = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rnk,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents)
SELECT lang, doc_id, rnk, n_lang,
       CAST((n_lang + {SAMPLE_DEN - 1}) // {SAMPLE_DEN} AS BIGINT)
         AS n_keep
FROM ranked
WHERE rnk <= (n_lang + {SAMPLE_DEN - 1}) // {SAMPLE_DEN}
"""


def dd_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023, public): semantic deduplication in
    embedding space — cluster with k-means, then inside each cluster
    drop every vector whose cosine to a LOWER-id cluster-mate exceeds
    SEM_TAU (the lowest such mate is reported as the kept exemplar).
    Unlike dd_embed_lsh's geometry hash, the cluster stage reuses the
    learned k-means cells (vectorops.kmeans_cells — the same seeded
    2-iteration Lloyd that backs ann_ivf_kmeans, so the oracle reuses
    its unrolled CTEs verbatim).

    Scale shape: candidate pairs come from salted_bucket_pairs over
    the cell id — within-cell pair generation is capped per shard, so
    a mega-cell shards instead of quadratically exploding (at real
    scale k grows ∝ sqrt(N) precisely to keep cells bounded; the salt
    is the safety net, and at the oracle's sf no cell exceeds the cap
    so results equal the exact within-cell join). Exact cosine runs
    only on candidates. Round 6: kmeans_cells checkpoints the normed
    corpus + final assignment, so referencing `final` on both pair
    sides no longer re-executes the Lloyd chain (1.9x warm at sf0.1,
    values bit-identical — PLANS.md); the checkpointed final now also
    carries (vector, norm), so both pair sides read it directly —
    zero parquet re-scans and zero norm recomputes after the Lloyd
    passes."""
    e = T(spark, sf, "embeddings")
    dim = _dim_of(e)
    final, _cent = kmeans_cells(e, dim)
    cand = salted_bucket_pairs(
        final.select("m_cell", "m_id"), "m_cell", "m_id",
        EMBED_BUCKET_CAP)
    a = final.select(
        F.col("m_id").alias("doc_a"), F.col("m_v").alias("q_v"),
        F.col("m_norm").alias("q_norm"))
    b = final.select(
        F.col("m_id").alias("doc_b"), F.col("m_v").alias("c_v"),
        F.col("m_norm").alias("c_norm"))
    hits = (
        cand.join(a, "doc_a").join(b, "doc_b")
        .select(
            # salted key is "cell#shard" — recover the cell id
            F.split("key", "#").getItem(0).cast("long").alias("cell"),
            "doc_a", "doc_b",
            _cosine().alias("cos"),
        )
        .filter(F.col("cos") >= SEM_TAU)
    )
    return (
        hits.groupBy("doc_b", "cell")
        .agg(
            F.min("doc_a").alias("dup_of"),
            F.round(F.max("cos"), 4).alias("max_cos"),
        )
        .select(F.col("doc_b").alias("vec_id"), "cell", "dup_of",
                "max_cos")
    )


# the reported max_cos must be bit-identical to Spark's (a max over
# many pairs WILL land on 4-dp rounding boundaries): cast the FLOAT[]
# embeddings to DOUBLE[] BEFORE the dot product, mirroring Spark's
# per-element .cast("double") sequential fold — list_dot_product over
# raw FLOAT[] accumulates differently and flipped a boundary at sf0.01
_SEM_COS = _KM_COS.format(a="a.ve", b="b.ve")

DD_SEMDEDUP_SQL = f"""
WITH {KMEANS_FINAL_CTES},
fd AS (
  SELECT vec_id, cell, CAST(embedding AS DOUBLE[]) AS ve FROM final),
hits AS (
  SELECT a.cell AS cell, a.vec_id AS doc_a, b.vec_id AS doc_b,
         {_SEM_COS} AS cos
  FROM fd a JOIN fd b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_SEM_COS} >= {SEM_TAU})
SELECT doc_b AS vec_id, cell, min(doc_a) AS dup_of,
       CAST(round(max(cos), 4) AS DOUBLE) AS max_cos
FROM hits
GROUP BY doc_b, cell
"""


def tx_ngram_novelty(spark, sf):
    """Per-document n-gram novelty — the contribution score used for
    data pruning / curriculum ordering: the fraction of a document's
    DISTINCT shingles whose corpus-wide first occurrence (min doc_id)
    is this document. Boilerplate-heavy late crawls score near 0,
    genuinely new text near 1. Reuses the shared _shingles relation
    (same tokenization as the MinHash family).

    Plan: one map-side-combinable min(doc_id) per shingle, join back
    on the shingle key (the grouping Exchange is reusable), one
    per-doc avg — two shuffles total; every aggregate partial."""
    sh = _shingles(spark, sf)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0)).alias("n_first"),
        )
        # int/int division → one IEEE double op, identical in DuckDB
        # (safer than avg() whose DECIMAL-input typing differs)
        .withColumn("novelty",
                    F.round(F.col("n_first") / F.col("n_grams"), 6))
    )


TX_NOVELTY_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
firsts AS (
  SELECT shingle, min(doc_id) AS first_doc
  FROM shingles GROUP BY shingle)
SELECT doc_id, n_grams, n_first,
       CAST(round(n_first / CAST(n_grams AS DOUBLE), 6) AS DOUBLE)
         AS novelty
FROM (
  SELECT s.doc_id, count(*) AS n_grams,
         CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_first
  FROM shingles s JOIN firsts f USING (shingle)
  GROUP BY s.doc_id)
"""


def tx_ft_score(spark, sf):
    """Model-based quality scoring, fastText-linear shape (the GPT-3 /
    CCNet quality-classifier step): score a document as the mean of
    per-token weights looked up by the HASHING TRICK — w(t) =
    hash16(md5(t)) - 32768, an integer surrogate for trained weights
    (no model ships in this sandbox; the docstring is explicit that
    the weights are a deterministic stand-in — the PLAN is the
    deliverable). score = Σ w(t) / (n · 32768) ∈ ~[-1, 1];
    label = keep iff score > 0.

    Plan: zero shuffles before the output — tokenize, transform to
    int weights, F.aggregate sequential fold (exact BIGINT sum: |w| ≤
    32768, so even 2^40 tokens stay inside int64), ONE double
    division at the end. At 100 TB this is a pure map over the scan,
    pushes down column pruning to (doc_id, text), and a trained
    weight table would broadcast-join on the bucket id without
    changing the shape."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toks = ws_tokens()
    w = lambda t: (F.conv(F.substring(F.md5(t), 1, 4), 16, 10)
                   .cast("long") - 32768)
    toked = d.select("doc_id", toks.alias("toks"))
    raw = F.aggregate(
        F.transform("toks", w), F.lit(0).cast("long"), lambda a, x: a + x)
    return (
        toked.filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            raw.alias("raw_score"),
            F.round(raw / (F.size("toks") * F.lit(32768)).cast("double"),
                    6).alias("ft_score"),
        )
        .withColumn("ft_label",
                    F.when(F.col("ft_score") > 0, "keep")
                    .otherwise("drop"))
    )


TX_FT_SCORE_SQL = rf"""
WITH toked AS (
  SELECT doc_id, {WS_TOKS_SQL} AS toks
  FROM documents),
scored AS (
  SELECT doc_id, len(toks) AS n_toks,
         CAST(list_sum(list_transform(toks,
           t -> CAST('0x' || substring(md5(t), 1, 4) AS BIGINT)
                - 32768)) AS BIGINT) AS raw_score
  FROM toked
  WHERE len(toks) > 0)
SELECT doc_id, n_toks, raw_score,
       CAST(round(raw_score / CAST(n_toks * 32768 AS DOUBLE), 6)
            AS DOUBLE) AS ft_score,
       CASE WHEN round(raw_score / CAST(n_toks * 32768 AS DOUBLE), 6)
                 > 0 THEN 'keep' ELSE 'drop' END AS ft_label
FROM scored
"""


SCRUB_MIN_DOCS = 2  # segment appears in >= this many docs → boilerplate


def tx_segment_scrub(spark, sf):
    """Boilerplate span SCRUBBING — the transformer counterpart of
    dd_common_segments' report (RefinedWeb's repeated-line removal,
    C4's repeated-span rule, over the same disjoint 8-token segments):
    every segment occurring in ≥ SCRUB_MIN_DOCS distinct documents is
    removed from all but its first (min doc_id) document, and the
    document text is rebuilt from the surviving segments plus the
    (<8-token) tail. Output is the rewritten corpus — clean_text — so
    this op MOVES payload by design.

    Scale shape: segment stats are one map-side-combinable hash agg
    (shared shape with dd_common_segments); the verdict join is on
    seg_hash (AQE picks broadcast while the repeated-segment table is
    small — it is: only segments with n_docs ≥ 2 matter, so the build
    side is pre-filtered); the rebuild is one groupBy(doc_id) with an
    array_sort on (position, text) structs — deterministic, no Window
    over payloads. Two payload-moving shuffles, the minimum for a
    rewriter whose OUTPUT is the text (same argument as
    tx_pack_payloads)."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toks = ws_tokens()
    toked = d.select("doc_id", toks.alias("toks"),
                     F.size(toks).alias("n"))
    # g: the segment's start token, which orders the rebuild
    seg_structs = token_windows(
        "toks", SEGMENT_N, SEGMENT_N,
        lambda seg, g: F.struct(g.alias("g"), seg.alias("seg")))
    segs = toked.select(
        "doc_id", F.explode(seg_structs).alias("s")
    ).select("doc_id", "s.g", "s.seg", F.md5("s.seg").alias("seg_hash"))
    stats = (
        segs.groupBy("seg_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= SCRUB_MIN_DOCS)
    )
    marked = (
        segs.join(stats, "seg_hash", "left")
        .select(
            "doc_id", "g", "seg",
            (F.col("n_docs").isNotNull()
             & (F.col("doc_id") > F.col("first_doc"))).alias("scrub"),
        )
    )
    rebuilt = (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.col("scrub").cast("long")).alias("n_scrubbed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(~F.col("scrub"),
                               F.struct("g", "seg")))),
                    lambda x: x["seg"]), " ").alias("kept"),
        )
    )
    tail = F.array_join(
        F.slice(F.col("toks"),
                (F.floor(F.col("n") / SEGMENT_N) * SEGMENT_N + 1)
                .cast("int"),
                (F.col("n") - F.floor(F.col("n") / SEGMENT_N)
                 * SEGMENT_N).cast("int")), " ")
    return (
        toked.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segs", F.lit(0)).alias("n_segs"),
            F.coalesce("n_scrubbed", F.lit(0)).alias("n_scrubbed"),
            F.concat_ws(
                " ",
                F.when(F.coalesce(F.col("kept"), F.lit("")) != "",
                       F.col("kept")),
                F.when(tail != "", tail)).alias("clean_text"),
        )
    )


TX_SEGMENT_SCRUB_SQL = rf"""
WITH toked AS (
  SELECT doc_id, {WS_TOKS_SQL} AS t
  FROM documents),
segs AS (
  SELECT doc_id, g.g AS g,
         array_to_string(
           t[g.g * {SEGMENT_N} + 1:g.g * {SEGMENT_N} + {SEGMENT_N}],
           ' ') AS seg
  FROM toked,
       LATERAL (SELECT unnest(range(len(t) // {SEGMENT_N})) AS g) g
  WHERE len(t) >= {SEGMENT_N}),
stats AS (
  SELECT md5(seg) AS seg_hash, count(DISTINCT doc_id) AS n_docs,
         min(doc_id) AS first_doc
  FROM segs GROUP BY md5(seg)
  HAVING count(DISTINCT doc_id) >= {SCRUB_MIN_DOCS}),
marked AS (
  SELECT s.doc_id, s.g, s.seg,
         (st.seg_hash IS NOT NULL AND s.doc_id > st.first_doc)
           AS scrub
  FROM segs s LEFT JOIN stats st ON st.seg_hash = md5(s.seg)),
rebuilt AS (
  SELECT doc_id, count(*) AS n_segs,
         CAST(SUM(CASE WHEN scrub THEN 1 ELSE 0 END) AS BIGINT)
           AS n_scrubbed,
         coalesce(string_agg(seg, ' ' ORDER BY g)
                  FILTER (WHERE NOT scrub), '') AS kept
  FROM marked GROUP BY doc_id)
SELECT tk.doc_id,
       coalesce(r.n_segs, 0) AS n_segs,
       coalesce(r.n_scrubbed, 0) AS n_scrubbed,
       concat_ws(' ',
         nullif(coalesce(r.kept, ''), ''),
         nullif(array_to_string(
           t[(len(t) // {SEGMENT_N}) * {SEGMENT_N} + 1:len(t)], ' '),
           '')) AS clean_text
FROM toked tk LEFT JOIN rebuilt r USING (doc_id)
"""


BPE_TOP_PAIRS = 20  # report the top-K first-iteration merge pairs


def tx_bpe_merges(spark, sf):
    """Tokenizer-training prep: the FIRST BPE merge iteration
    (Sennrich et al. 2016) over the corpus word-frequency table —
    count every adjacent character pair weighted by word frequency
    and report the top BPE_TOP_PAIRS merge candidates. (Full BPE
    training iterates this with re-segmentation; the first iteration
    is the representative, fully-relational kernel of the loop.)

    Scale shape: explode tokens → ONE word-frequency hash agg (the
    tx_vocab_topk shuffle), char pairs generated per DISTINCT word
    (so pair expansion is over the vocabulary, not the corpus), one
    more hash agg on the pair. The final rank window is unpartitioned
    but runs over the pair-count table, which is bounded by
    |alphabet|² — a few thousand rows regardless of corpus size."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    words = (
        d.select(F.explode(ws_tokens()).alias("w"))
        .groupBy("w").agg(F.count("*").alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.length("w") - 2),
            lambda i: F.col("w").substr(i + 1, F.lit(2)))).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_TOP_PAIRS)
        .select("rank", "pair", "n")
    )


TX_BPE_MERGES_SQL = rf"""
WITH words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest({WS_TOKS_SQL}) AS w
    FROM documents)
  GROUP BY w
  HAVING length(w) >= 2),
pairs AS (
  SELECT words.freq, i.i AS i, substring(words.w, i.i + 1, 2) AS pair
  FROM words, LATERAL (SELECT unnest(range(length(words.w) - 1)) AS i) i),
counts AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
  FROM pairs GROUP BY pair)
SELECT rank, pair, n FROM (
  SELECT pair, n,
         row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
  FROM counts)
WHERE rank <= {BPE_TOP_PAIRS}
"""


def tx_curate_v2(spark, sf):
    """Round-5 curation capstone — the crawl-balance + model-quality +
    boilerplate gate, composing the four new per-doc stages into ONE
    auditable verdict row per document: domain_kept (survived
    dd_domain_cap's per-domain top-K), ft_label (hashed-linear quality
    score), boiler_frac (share of the doc's 8-token segments scrubbed
    as cross-doc boilerplate; 'heavy' iff 2·n_scrubbed > n_segs —
    exact-integer comparison), and the advisory novelty score.
    curated = domain_kept ∧ ft keep ∧ ¬boilerplate-heavy.

    Scale shape: every stage keeps its own audited plan; the
    composition is three doc_id equi-joins (AQE picks the strategy),
    no new shuffle kinds. Same pattern as tx_curate (textops.py),
    which composes the round-3 dedup/gopher/decontam stages."""
    d = T(spark, sf, "documents").select("doc_id")
    dom = dd_domain_cap(spark, sf).select(
        "doc_id", F.lit(True).alias("domain_kept"))
    ft = tx_ft_score(spark, sf).select("doc_id", "ft_label")
    scrub = tx_segment_scrub(spark, sf).select(
        "doc_id", "n_segs", "n_scrubbed")
    nov = tx_ngram_novelty(spark, sf).select("doc_id", "novelty")
    out = (
        d.join(dom, "doc_id", "left")
        .join(ft, "doc_id", "left")
        .join(scrub, "doc_id", "left")
        .join(nov, "doc_id", "left")
    )
    kept = F.coalesce("domain_kept", F.lit(False))
    flabel = F.coalesce("ft_label", F.lit("drop"))
    heavy = (F.coalesce("n_scrubbed", F.lit(0)) * 2
             > F.coalesce("n_segs", F.lit(0)))
    return out.select(
        "doc_id",
        F.when(kept, "true").otherwise("false").alias("domain_kept"),
        flabel.alias("ft_label"),
        F.when(
            F.coalesce("n_segs", F.lit(0)) > 0,
            F.round(F.col("n_scrubbed")
                    / F.col("n_segs").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("boiler_frac"),
        F.coalesce("novelty", F.lit(0.0)).alias("novelty"),
        F.when(kept & (flabel == "keep") & ~heavy, "true")
        .otherwise("false").alias("curated"),
    )


TX_CURATE_V2_SQL = f"""
WITH dom AS (SELECT doc_id FROM ({DD_DOMAIN_CAP_SQL})),
ft AS (SELECT doc_id, ft_label FROM ({TX_FT_SCORE_SQL})),
scrub AS (SELECT doc_id, n_segs, n_scrubbed
          FROM ({TX_SEGMENT_SCRUB_SQL})),
nov AS (SELECT doc_id, novelty FROM ({TX_NOVELTY_SQL}))
SELECT d.doc_id,
       CASE WHEN dom.doc_id IS NOT NULL THEN 'true' ELSE 'false' END
         AS domain_kept,
       coalesce(ft.ft_label, 'drop') AS ft_label,
       CAST(CASE WHEN coalesce(s.n_segs, 0) > 0
            THEN round(s.n_scrubbed / CAST(s.n_segs AS DOUBLE), 6)
            ELSE 0.0 END AS DOUBLE) AS boiler_frac,
       CAST(coalesce(n.novelty, 0.0) AS DOUBLE) AS novelty,
       CASE WHEN dom.doc_id IS NOT NULL
             AND coalesce(ft.ft_label, 'drop') = 'keep'
             AND NOT (coalesce(s.n_scrubbed, 0) * 2
                      > coalesce(s.n_segs, 0))
            THEN 'true' ELSE 'false' END AS curated
FROM documents d
LEFT JOIN dom ON dom.doc_id = d.doc_id
LEFT JOIN ft ON ft.doc_id = d.doc_id
LEFT JOIN scrub s ON s.doc_id = d.doc_id
LEFT JOIN nov n ON n.doc_id = d.doc_id
"""


KMV_K = 16       # sketch size: k minimum hash values per group
KMV_SHARDS = 4   # phase-1 salt width (same scheme as dd_domain_cap)
_H60 = 1 << 60   # md5 15-hex-digit hash space


def sk_kmv_distinct(spark, sf):
    """KMV (k-minimum-values / bottom-k theta) distinct-count sketch —
    the bounded-memory cardinality estimator a 10^12-row pipeline uses
    where COUNT(DISTINCT) would shuffle every key: keep only the
    KMV_K smallest normalized hash values per group; the estimate is
    (k-1)/h_(k) (Bar-Yossef et al. 2002). Deterministic — no HLL
    register noise, so the DuckDB oracle reproduces it bit-for-bit
    from the same md5-derived 60-bit hashes. Emits per source the
    exact distinct count (the comparison baseline — production runs
    only the sketch), the KMV estimate (exact count when the group
    holds fewer than k values, the standard small-set rule), and the
    relative error; plus one '__all__' row whose sketch is MERGED
    from the per-source survivors (k smallest of the union of
    bottom-k sets == bottom-k of the union — the mergeability that
    makes KMV map-side-combinable and cross-partition cheap).

    Scale shape: bottom-k per group without a per-group global sort —
    the dd_domain_cap two-phase trick (rank within (source, shard),
    keep <= k per shard, re-rank the <= SHARDS*k survivors); the
    global row reads ONLY the phase-2 survivor sets, never rescans.
    The exact-count column is the one full-width distinct agg, kept
    solely because the operator's point is showing the sketch against
    truth."""
    d = T(spark, sf, "documents")
    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    hashes = d.select("source", h.alias("h")).distinct()
    shard = (F.col("h") % KMV_SHARDS)
    w_local = Window.partitionBy("source", "shard").orderBy(F.asc("h"))
    surv = (
        hashes.withColumn("shard", shard)
        .withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= KMV_K)
    )
    w_global = Window.partitionBy("source").orderBy(F.asc("h"))
    ranked = (surv.withColumn("rk", F.row_number().over(w_global))
              .filter(F.col("rk") <= KMV_K))
    kth = ranked.filter(F.col("rk") == KMV_K).select(
        "source", (F.col("h").cast("double") / F.lit(float(_H60)))
        .alias("frac_k"))
    exact = hashes.groupBy("source").agg(
        F.count_distinct("h").alias("n_exact"))

    # distinct: the same text under two sources survives in both
    # per-source sketches; the union sketch is over the SET of values
    w_all = Window.orderBy(F.asc("h"))
    merged = (ranked.select("h").distinct()
              .withColumn("rk", F.row_number().over(w_all))
              .filter(F.col("rk") <= KMV_K))
    kth_all = merged.filter(F.col("rk") == KMV_K).select(
        F.lit("__all__").alias("source"),
        (F.col("h").cast("double") / F.lit(float(_H60))).alias("frac_k"))
    exact_all = hashes.select("h").distinct().agg(
        F.lit("__all__").alias("source"),
        F.count("*").alias("n_exact"))

    both = (exact.join(F.broadcast(kth), "source", "left")
            .unionByName(exact_all.join(F.broadcast(kth_all),
                                        "source", "left")))
    est = F.when(F.col("frac_k").isNull(),
                 F.col("n_exact").cast("double")).otherwise(
        F.lit(KMV_K - 1) / F.col("frac_k"))
    return both.select(
        "source", "n_exact",
        F.round(est, 4).alias("n_est"),
        F.round(F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"), 6).alias("rel_err"))


SK_KMV_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT source,
         CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
  FROM hashes),
kth AS (
  SELECT source, CAST(h AS DOUBLE) / CAST({_H60} AS DOUBLE) AS frac_k
  FROM ranked WHERE rk = {KMV_K}),
exact AS (
  SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
  FROM hashes GROUP BY source),
merged AS (
  SELECT h, row_number() OVER (ORDER BY h ASC) AS rk
  FROM (SELECT DISTINCT h FROM ranked WHERE rk <= {KMV_K})),
kth_all AS (
  SELECT '__all__' AS source,
         CAST(h AS DOUBLE) / CAST({_H60} AS DOUBLE) AS frac_k
  FROM merged WHERE rk = {KMV_K}),
exact_all AS (
  SELECT '__all__' AS source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
  FROM hashes),
both_g AS (
  SELECT e.source, e.n_exact, k.frac_k FROM exact e
  LEFT JOIN kth k ON k.source = e.source
  UNION ALL
  SELECT e.source, e.n_exact, k.frac_k FROM exact_all e
  LEFT JOIN kth_all k ON k.source = e.source)
SELECT source, n_exact,
       round(CASE WHEN frac_k IS NULL THEN CAST(n_exact AS DOUBLE)
                  ELSE {KMV_K - 1} / frac_k END, 4) AS n_est,
       round(abs(CASE WHEN frac_k IS NULL THEN CAST(n_exact AS DOUBLE)
                      ELSE {KMV_K - 1} / frac_k END
                 - CAST(n_exact AS DOUBLE))
             / CAST(n_exact AS DOUBLE), 6) AS rel_err
FROM both_g
"""


def sk_kmv_intersect(spark, sf):
    """KMV / theta-sketch SET INTERSECTION between source pairs — the
    sketch family's set-operation story (round-6 verdict #7): each
    source keeps its bottom-KMV_K hash survivors ([sk_kmv_distinct]'s
    sketch); for a pair, theta = min of the two k-th minimum
    normalized hashes (1.0 when a source holds < k values — its
    sketch is the complete set), the intersection SAMPLE is the
    survivors present in BOTH sketches with hash fraction < theta,
    and the estimate is |sample| / theta (the Dataset-sketches theta
    intersection rule). Deterministic md5 hashes, so both engines
    build bit-identical sketches; the exact intersection count rides
    along as the truth baseline (production runs only the sketches —
    two k-row tables — never the full-width join).

    Scale shape: the sketches are <= KMV_K rows per source built by
    the two-phase salted bottom-k (no per-group global sort);
    EVERYTHING pairwise operates on those tiny survivor sets
    (broadcastable by construction). The full-width hash join exists
    only for the truth column."""
    d = T(spark, sf, "documents")
    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    hashes = d.select("source", h.alias("h")).distinct()
    shard = (F.col("h") % KMV_SHARDS)
    w_local = Window.partitionBy("source", "shard").orderBy(F.asc("h"))
    surv = (
        hashes.withColumn("shard", shard)
        .withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= KMV_K)
    )
    w_global = Window.partitionBy("source").orderBy(F.asc("h"))
    ranked = (surv.withColumn("rk", F.row_number().over(w_global))
              .filter(F.col("rk") <= KMV_K)
              .select("source", "h", "rk"))
    frac = F.col("h").cast("double") / F.lit(float(_H60))
    kth = ranked.filter(F.col("rk") == KMV_K).select(
        "source", frac.alias("frac_k"))
    srcs = hashes.select("source").distinct()
    theta = (srcs.join(kth, "source", "left")
             .select("source",
                     F.coalesce("frac_k", F.lit(1.0)).alias("th")))
    pairs = (theta.alias("a").join(
        theta.alias("b"),
        F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("src_a"),
                F.col("b.source").alias("src_b"),
                F.least("a.th", "b.th").alias("thp")))
    isurv = (ranked.alias("a").join(
        ranked.alias("b"),
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.source") < F.col("b.source")))
        .select(F.col("a.source").alias("src_a"),
                F.col("b.source").alias("src_b"),
                F.col("a.h").alias("h")))
    cnt = (isurv.join(F.broadcast(pairs), ["src_a", "src_b"])
           .filter(F.col("h").cast("double") / F.lit(float(_H60))
                   < F.col("thp"))
           .groupBy("src_a", "src_b")
           .agg(F.count("*").alias("n_surv")))
    exact = (hashes.alias("a").join(
        hashes.alias("b"),
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"),
                 F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("n_exact")))
    return (pairs.join(cnt, ["src_a", "src_b"], "left")
            .join(exact, ["src_a", "src_b"], "left")
            .select(
                "src_a", "src_b",
                F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
                F.coalesce("n_surv", F.lit(0)).alias("n_surv"),
                F.round(F.coalesce("n_surv", F.lit(0)).cast("double")
                        / F.col("thp"), 4).alias("n_est")))


SK_KMV_INTERSECT_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT source,
         CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
  FROM hashes),
surv AS (SELECT source, h, rk FROM ranked WHERE rk <= {KMV_K}),
kth AS (
  SELECT source, CAST(h AS DOUBLE) / CAST({_H60} AS DOUBLE) AS frac_k
  FROM ranked WHERE rk = {KMV_K}),
srcs AS (SELECT DISTINCT source FROM hashes),
theta AS (
  SELECT s.source, coalesce(k.frac_k, 1.0::DOUBLE) AS th
  FROM srcs s LEFT JOIN kth k ON k.source = s.source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         least(ta.th, tb.th) AS thp
  FROM srcs a JOIN srcs b ON a.source < b.source
  JOIN theta ta ON ta.source = a.source
  JOIN theta tb ON tb.source = b.source),
isurv AS (
  SELECT a.source AS src_a, b.source AS src_b, a.h
  FROM surv a JOIN surv b
    ON b.h = a.h AND a.source < b.source),
cnt AS (
  SELECT i.src_a, i.src_b, CAST(count(*) AS BIGINT) AS n_surv
  FROM isurv i JOIN pairs p
    ON p.src_a = i.src_a AND p.src_b = i.src_b
  WHERE CAST(i.h AS DOUBLE) / CAST({_H60} AS DOUBLE) < p.thp
  GROUP BY i.src_a, i.src_b),
ex AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_exact
  FROM hashes a JOIN hashes b
    ON b.h = a.h AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT p.src_a, p.src_b,
       CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(coalesce(c.n_surv, 0) AS BIGINT) AS n_surv,
       round(CAST(coalesce(c.n_surv, 0) AS DOUBLE) / p.thp, 4)
         AS n_est
FROM pairs p
LEFT JOIN cnt c ON c.src_a = p.src_a AND c.src_b = p.src_b
LEFT JOIN ex e ON e.src_a = p.src_a AND e.src_b = p.src_b
"""


DDQ_PCTS = (50, 90, 99)   # reported quantiles (integer percents)


def sk_dd_quantile(spark, sf):
    """DDSketch-style log-binned QUANTILE sketch (Masson et al. 2019,
    gamma = 2: bin = bit-length of the value) — the fourth sketch
    family beside KMV/HLL/CMS: a 10^12-row pipeline answers "p99 doc
    length" from a ~64-integer histogram per group instead of a
    global sort. Bins are value-domain-fixed (data-independent), so
    sketches MERGE by cell-wise count sum — demonstrated by the
    '__all__' row, built from the per-source bins, never rescanning
    the corpus. Estimation interpolates inside the winning bin with
    pure INTEGER arithmetic (lo + (hi-lo)*(rank-1) div (cnt-1)), the
    target rank is ceil(p*n/100) as exact integer math, and the bin
    index is the bit-length of n_chars via string ops (length of the
    base-2 expansion — the sk_hll_distinct trick; float log2 of big
    ints is not bit-stable cross-engine). The exact quantile rides
    along as the truth baseline via integer-rank order statistics
    over the VALUE histogram (bounded by the value domain, not the
    row count — no global row sort anywhere).

    Scale shape: one map-side-combinable (source, bin) count agg →
    ~64 rows per source; every window/cum-sum below runs on those
    tiny histograms. The exact branch's value histogram is bounded by
    |distinct n_chars| (the value domain), kept only as the
    comparison baseline."""
    d = T(spark, sf, "documents")
    b = F.when(F.col("n_chars") <= 0, F.lit(0)).otherwise(
        F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)))
    hist_src = (d.select("source", b.cast("int").alias("b"))
                .groupBy("source", "b")
                .agg(F.count("*").alias("cnt")))
    hist_all = (hist_src.groupBy("b")
                .agg(F.sum("cnt").alias("cnt"))
                .select(F.lit("__all__").alias("source"), "b", "cnt"))
    hist = hist_src.unionByName(hist_all)
    lo = F.when(F.col("b") == 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), b - 1)"))
    hi = F.when(F.col("b") == 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), b) - 1"))
    w = Window.partitionBy("source").orderBy("b")
    cum = (hist.select("source", "b", "cnt", lo.alias("lo"),
                       hi.alias("hi"))
           .withColumn("cum", F.sum("cnt").over(w)))
    n = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    pcts = spark.range(len(DDQ_PCTS)).select(
        F.element_at(F.array(*[F.lit(p) for p in DDQ_PCTS]),
                     (F.col("id") + 1).cast("int")).alias("p"))
    ranks = (n.join(F.broadcast(pcts))
             .select("source", "p", "n",
                     F.expr("CAST((p * n + 99) div 100 AS BIGINT)")
                     .alias("r")))
    est = (cum.join(ranks, "source")
           .filter((F.col("cum") >= F.col("r"))
                   & (F.col("cum") - F.col("cnt") < F.col("r")))
           .select("source", "p", "n",
                   (F.col("lo")
                    + F.expr("((hi - lo) * (r - (cum - cnt) - 1))"
                             " div greatest(cnt - 1, CAST(1 AS"
                             " BIGINT))")).alias("est_q")))
    # truth: integer-rank order statistic over the value histogram
    vh_src = (d.groupBy("source", "n_chars")
              .agg(F.count("*").alias("cnt")))
    vh_all = (vh_src.groupBy("n_chars")
              .agg(F.sum("cnt").alias("cnt"))
              .select(F.lit("__all__").alias("source"), "n_chars",
                      "cnt"))
    wv = Window.partitionBy("source").orderBy("n_chars")
    vcum = (vh_src.unionByName(vh_all)
            .withColumn("cum", F.sum("cnt").over(wv)))
    exact = (vcum.join(ranks, "source")
             .filter((F.col("cum") >= F.col("r"))
                     & (F.col("cum") - F.col("cnt") < F.col("r")))
             .select("source", "p",
                     F.col("n_chars").cast("long").alias("exact_q")))
    rel = F.when(F.col("exact_q") == 0, F.lit(0.0)).otherwise(
        F.abs(F.col("est_q") - F.col("exact_q")).cast("double")
        / F.col("exact_q").cast("double"))
    return (est.join(exact, ["source", "p"])
            .select("source", "p", "n", "exact_q", "est_q",
                    F.round(rel, 6).alias("rel_err")))


SK_DDQ_SQL = f"""
WITH base AS (
  SELECT source,
         CASE WHEN n_chars <= 0 THEN 0
              ELSE length(bin(n_chars)) END AS b,
         n_chars
  FROM documents),
hist_src AS (
  SELECT source, b, CAST(count(*) AS BIGINT) AS cnt
  FROM base GROUP BY source, b),
hist AS (
  SELECT source, b, cnt FROM hist_src
  UNION ALL
  SELECT '__all__' AS source, b, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM hist_src GROUP BY b),
cum AS (
  SELECT source, b, cnt,
         CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
              ELSE (CAST(1 AS BIGINT) << (b - 1)) END AS lo,
         CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
              ELSE (CAST(1 AS BIGINT) << b) - 1 END AS hi,
         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY b)
              AS BIGINT) AS cum
  FROM hist),
ns AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n
  FROM hist GROUP BY source),
pcts AS (SELECT unnest({list(DDQ_PCTS)!r}) AS p),
ranks AS (
  SELECT source, p, n,
         CAST((p * n + 99) // 100 AS BIGINT) AS r
  FROM ns, pcts),
est AS (
  SELECT c.source, r.p, r.n,
         c.lo + ((c.hi - c.lo) * (r.r - (c.cum - c.cnt) - 1))
                  // greatest(c.cnt - 1, CAST(1 AS BIGINT)) AS est_q
  FROM cum c JOIN ranks r ON r.source = c.source
  WHERE c.cum >= r.r AND c.cum - c.cnt < r.r),
vh_src AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
  FROM base GROUP BY source, n_chars),
vcum AS (
  SELECT source, n_chars, cnt,
         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars)
              AS BIGINT) AS cum
  FROM (SELECT source, n_chars, cnt FROM vh_src
        UNION ALL
        SELECT '__all__', n_chars, CAST(sum(cnt) AS BIGINT)
        FROM vh_src GROUP BY n_chars)),
ex AS (
  SELECT v.source, r.p, CAST(v.n_chars AS BIGINT) AS exact_q
  FROM vcum v JOIN ranks r ON r.source = v.source
  WHERE v.cum >= r.r AND v.cum - v.cnt < r.r)
SELECT e.source, e.p, e.n, x.exact_q, e.est_q,
       round(CASE WHEN x.exact_q = 0 THEN 0.0::DOUBLE
                  ELSE CAST(abs(e.est_q - x.exact_q) AS DOUBLE)
                       / CAST(x.exact_q AS DOUBLE) END, 6) AS rel_err
FROM est e JOIN ex x ON x.source = e.source AND x.p = e.p
"""


HLL_P = 4                 # HLL precision: m = 2^P = 16 registers
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.673         # standard bias constant for m = 16
_HLL_REM_BITS = 60 - HLL_P
_HLL_RMAX = _HLL_REM_BITS + 1  # register ceiling (rank of rem == 0)


def sk_hll_distinct(spark, sf):
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
    production-standard cardinality estimator (what Spark's
    approx_count_distinct runs): bucket = top HLL_P bits of the
    60-bit md5 hash, register = max over the bucket of
    (leading zeros of the remaining 56 bits + 1), estimate =
    alpha*m^2 / sum(2^-register) with the small-range
    linear-counting correction. Pairs with [sk_kmv_distinct]: same
    truth-baseline shape, different estimator family. Everything is
    exact-integer until the single final division: the rank comes
    from string ops on the binary expansion (no float log2 of a
    >2^53 int), and sum(2^-register) is carried as the BIGINT
    sum of 2^(RMAX - register) — dyadic terms of mixed scale never
    round. The '__all__' row merges per-source registers by MAX —
    the HLL merge — and is checked against the direct union estimate
    by the unit test.

    Scale shape: registers are one map-side-combinable MAX agg to
    (n_groups x m) rows; the merge is a second tiny MAX agg. The
    exact COUNT(DISTINCT) stays only as the truth baseline, as in
    the other two sketches."""
    d = T(spark, sf, "documents")
    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    mask = (1 << _HLL_REM_BITS) - 1
    rem = F.col("h").bitwiseAND(F.lit(mask))
    first_one = F.instr(
        F.lpad(F.bin(rem), _HLL_REM_BITS, "0"), "1")
    rank = F.when(rem == 0, F.lit(_HLL_RMAX)).otherwise(first_one)
    hashes = d.select(
        "source", h.alias("h")).withColumn(
        "bucket", F.shiftright("h", _HLL_REM_BITS)).withColumn(
        "rank", rank)
    regs = (hashes.groupBy("source", "bucket")
            .agg(F.max("rank").alias("r")))
    gregs = (regs.groupBy("bucket").agg(F.max("r").alias("r"))
             .select(F.lit("__all__").alias("source"), "bucket", "r"))
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RMAX} - r AS INT))")
    folded = (regs.unionByName(gregs).groupBy("source")
              .agg(F.sum(term).alias("s_occ"),
                   F.count("*").alias("n_occ")))
    n_zero = F.lit(HLL_M) - F.col("n_occ")
    s_all = (F.col("s_occ")
             + n_zero * F.lit(1 << _HLL_RMAX)).cast("double")
    e_raw = (F.lit(HLL_ALPHA * HLL_M * HLL_M)
             * F.lit(float(1 << _HLL_RMAX)) / s_all)
    est = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (n_zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / n_zero)
    ).otherwise(e_raw)
    exact = (d.select("source", h.alias("h")).distinct()
             .groupBy("source").agg(F.count("*").alias("n_exact")))
    exact_all = (d.select(h.alias("h")).distinct().agg(
        F.lit("__all__").alias("source"),
        F.count("*").alias("n_exact")))
    return (exact.unionByName(exact_all)
            .join(F.broadcast(folded), "source")
            .select("source", "n_exact",
                    F.round(est, 4).alias("n_est"),
                    F.round(F.abs(est - F.col("n_exact").cast("double"))
                            / F.col("n_exact").cast("double"), 6)
                    .alias("rel_err")))


SK_HLL_SQL = f"""
WITH hashes AS (
  SELECT source, h, h >> {_HLL_REM_BITS} AS bucket,
         CASE WHEN (h & {(1 << _HLL_REM_BITS) - 1}) = 0 THEN {_HLL_RMAX}
              ELSE instr(lpad(bin(h & {(1 << _HLL_REM_BITS) - 1}),
                              {_HLL_REM_BITS}, '0'), '1') END AS rank
  FROM (SELECT source,
               CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
        FROM documents)),
regs AS (
  SELECT source, bucket, max(rank) AS r
  FROM hashes GROUP BY source, bucket),
gregs AS (
  SELECT '__all__' AS source, bucket, max(r) AS r
  FROM regs GROUP BY bucket),
folded AS (
  SELECT source,
         CAST(sum(1::BIGINT << CAST({_HLL_RMAX} - r AS INT)) AS BIGINT)
           AS s_occ,
         CAST(count(*) AS BIGINT) AS n_occ
  FROM (SELECT * FROM regs UNION ALL SELECT * FROM gregs)
  GROUP BY source),
est_t AS (
  SELECT source,
         CASE WHEN ({HLL_ALPHA}::DOUBLE * {HLL_M * HLL_M}
                    * {1 << _HLL_RMAX}::DOUBLE
                    / CAST(s_occ + ({HLL_M} - n_occ)
                           * {1 << _HLL_RMAX}::BIGINT AS DOUBLE))
                   <= {2.5 * HLL_M}::DOUBLE
               AND ({HLL_M} - n_occ) > 0
              THEN {HLL_M}.0::DOUBLE
                   * ln({HLL_M}.0::DOUBLE / ({HLL_M} - n_occ))
              ELSE {HLL_ALPHA}::DOUBLE * {HLL_M * HLL_M}
                   * {1 << _HLL_RMAX}::DOUBLE
                   / CAST(s_occ + ({HLL_M} - n_occ)
                          * {1 << _HLL_RMAX}::BIGINT AS DOUBLE)
         END AS est
  FROM folded),
exact AS (
  SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
  FROM hashes GROUP BY source
  UNION ALL
  SELECT '__all__' AS source, CAST(count(DISTINCT h) AS BIGINT)
  FROM hashes)
SELECT e.source, e.n_exact, round(t.est, 4) AS n_est,
       round(abs(t.est - CAST(e.n_exact AS DOUBLE))
             / CAST(e.n_exact AS DOUBLE), 6) AS rel_err
FROM exact e JOIN est_t t ON t.source = e.source
"""


CMS_D = 4        # count-min sketch depth (independent hash rows)
CMS_W = 64       # count-min sketch width (buckets per row)
CMS_TOPK = 20    # heavy hitters reported


def sk_cms_heavy(spark, sf):
    """Count-min-sketch heavy hitters — the constant-memory frequency
    estimator (Cormode & Muthukrishnan 2005) a 10^12-row pipeline
    uses where an exact token count would keep the full vocabulary
    live: every token folds into a CMS_D x CMS_W cell grid (row j
    buckets by md5('j:'||tok)), estimate = min over rows of the
    probed cell. Deterministic (fixed salts, exact BIGINT cells), so
    the DuckDB oracle rebuilds the identical sketch. Emits the
    CMS_TOPK tokens by exact count with the exact count, the sketch
    estimate, and the overcount (>= 0 always: CMS never
    underestimates — pinned by test). The exact count is kept only
    as the truth baseline the sketch is judged against — production
    runs the sketch alone.

    Scale shape: the cell grid is CMS_D*CMS_W rows REGARDLESS of
    corpus size and the build is one map-side-combinable hash agg
    over (row, bucket); probing any candidate set is a broadcast
    join against that tiny grid. The only wide shuffle is the exact
    token count (the truth baseline this op exists to compare
    against)."""
    d = T(spark, sf, "documents")
    cnt = (d.select(F.explode(ws_tokens()).alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("n")))

    def bucket(j):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), F.col("tok"))), 1, 15),
            16, 10).cast("long") % CMS_W)

    # one generator pass per consumer (not CMS_D union branches that
    # would each recompute the token-count agg)
    jb = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), bucket(j).alias("b"))
        for j in range(CMS_D)])).alias("jb")
    cells = (cnt.select("n", jb).select("n", "jb.j", "jb.b")
             .groupBy("j", "b").agg(F.sum("n").alias("cell")))

    top = cnt.orderBy(F.desc("n"), F.asc("tok")).limit(CMS_TOPK)
    probes = (top.select("tok", "n", jb)
              .select("tok", "n", "jb.j", "jb.b"))
    est = (probes.join(F.broadcast(cells), ["j", "b"])
           .groupBy("tok", "n").agg(F.min("cell").alias("n_est")))
    return (est.select(
        "tok", F.col("n").alias("n_exact"), "n_est",
        (F.col("n_est") - F.col("n")).alias("overcount"))
        .orderBy(F.desc("n_exact"), F.asc("tok")))


def _cms_sql() -> str:
    rows = "\n  UNION ALL\n  ".join(
        f"SELECT {j} AS j, CAST('0x' || substring(md5('{j}:' || tok),"
        f" 1, 15) AS BIGINT) % {CMS_W} AS b, n FROM cnt"
        for j in range(CMS_D))
    probe_rows = "\n  UNION ALL\n  ".join(
        f"SELECT tok, n, {j} AS j, CAST('0x' || substring("
        f"md5('{j}:' || tok), 1, 15) AS BIGINT) % {CMS_W} AS b FROM top"
        for j in range(CMS_D))
    return f"""
WITH cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({WS_TOKS_SQL}) AS tok FROM documents)
  GROUP BY tok),
per_row AS (
  {rows}),
cells AS (
  SELECT j, b, CAST(sum(n) AS BIGINT) AS cell
  FROM per_row GROUP BY j, b),
top AS (
  SELECT tok, n FROM cnt ORDER BY n DESC, tok ASC LIMIT {CMS_TOPK}),
probes AS (
  {probe_rows})
SELECT p.tok, p.n AS n_exact, min(c.cell) AS n_est,
       min(c.cell) - p.n AS overcount
FROM probes p JOIN cells c ON c.j = p.j AND c.b = p.b
GROUP BY p.tok, p.n
ORDER BY n_exact DESC, tok ASC
"""


DSIR_B = 64      # hashed-unigram feature buckets
DSIR_TARGET = "en"  # target-domain selector (lang column)


def tx_dsir_weight(spark, sf):
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling, public): score every raw doc by how
    target-like its hashed-unigram bucket distribution is —
    log p_target(doc) - log p_raw(doc) under add-1-smoothed bucket
    unigram models, target = lang DSIR_TARGET docs, raw = the whole
    corpus. Docs with positive weight look more like the target
    domain than the corpus average; resampling by these weights is
    the DSIR selection step.

    Cross-engine determinism: the per-bucket log-ratio is rounded
    once to integer NANO units (BIGINT) and each doc's weight is an
    exact integer fold sum(c_b * w_nano_b) — float summation order
    never matters (the tx_ft_score trick); the single final division
    back to a double is exact-input rounding.

    Scale shape: both bucket histograms are ONE map-side-combinable
    agg to DSIR_B rows that broadcasts back; the per-doc score is
    one shuffle on doc_id (token -> bucket -> 64-row broadcast join
    -> per-doc sum). No vocabulary-sized state anywhere — the model
    IS the 64-row table, same as DSIR's hashed n-gram design at
    production scale."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    tb = (d.select("doc_id", "lang",
                   F.explode(ws_tokens()).alias("tok"))
          .select("doc_id", "lang",
                  (F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
                   .cast("long") % DSIR_B).alias("b")))
    hist = tb.groupBy("b").agg(
        F.count("*").alias("n_raw"),
        F.sum((F.col("lang") == DSIR_TARGET).cast("long")).alias("n_tgt"))
    tot = hist.agg(F.sum("n_raw").alias("t_raw"),
                   F.sum("n_tgt").alias("t_tgt"))
    lr = (F.log((F.col("n_tgt") + F.lit(1.0))
                / (F.col("t_tgt") + F.lit(float(DSIR_B))))
          - F.log((F.col("n_raw") + F.lit(1.0))
                  / (F.col("t_raw") + F.lit(float(DSIR_B)))))
    wtab = (hist.join(F.broadcast(tot))
            .select("b", F.round(lr * F.lit(1e9), 0)
                    .cast("long").alias("w_nano")))
    return (tb.join(F.broadcast(wtab), "b")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_toks"),
                 F.sum("w_nano").alias("nano"))
            .select("doc_id", "n_toks",
                    F.round(F.col("nano").cast("double") / F.lit(1e9), 6)
                    .alias("dsir_logw")))


TX_DSIR_SQL = f"""
WITH tb AS (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) % {DSIR_B} AS b
  FROM (SELECT doc_id, lang, unnest({WS_TOKS_SQL}) AS tok
        FROM documents)),
hist AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_raw,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_tgt
  FROM tb GROUP BY b),
tot AS (
  SELECT CAST(sum(n_raw) AS BIGINT) AS t_raw,
         CAST(sum(n_tgt) AS BIGINT) AS t_tgt
  FROM hist),
wtab AS (
  SELECT b, CAST(round((ln((n_tgt + 1.0::DOUBLE)
                           / (t_tgt + {DSIR_B}.0::DOUBLE))
                        - ln((n_raw + 1.0::DOUBLE)
                             / (t_raw + {DSIR_B}.0::DOUBLE)))
                       * 1e9::DOUBLE, 0) AS BIGINT) AS w_nano
  FROM hist, tot)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       round(CAST(CAST(sum(w.w_nano) AS BIGINT) AS DOUBLE)
             / 1e9::DOUBLE, 6) AS dsir_logw
FROM tb t JOIN wtab w ON w.b = t.b
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


WSAMPLE_K = 25   # weighted sample size


def tx_weighted_sample(spark, sf):
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006 A-ES): each doc draws key = -ln(u)/w from a deterministic
    md5-derived uniform u and weight w = n_chars; the WSAMPLE_K
    smallest keys ARE a weight-proportional sample — the standard
    one-pass distributed quality-weighted selection (heavier docs get
    stochastically smaller keys). Deterministic: u comes from the
    60-bit md5 of the doc text, and the top-k orders by the 9-dp
    ROUNDED key with a doc_id tie-break (the tx_bm25_topk convention)
    so the selected set is cross-engine stable.

    Scale shape: keys are map-side arithmetic on the scan (no
    shuffle); the selection is one TakeOrderedAndProject — per
    partition keep k, merge k*parts rows on the driver. No global
    sort, no per-key state; at 10^12 rows this is the weighted
    analogue of tx_hash_sample."""
    d = T(spark, sf, "documents")
    u = (F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
         .cast("double") / F.lit(float(_H60)))
    key = -F.log(u) / F.col("n_chars").cast("double")
    # w > 0 guard: Spark doubles give +inf on /0 but DuckDB gives
    # NULL — zero-weight rows are excluded identically instead.
    # u > 0 guard (h == 0, p ~ 2^-60): Spark log(0) is NULL (would
    # sort nulls-first into the sample) while DuckDB ln(0) throws —
    # excluded identically too.
    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    return (d.filter((F.col("n_chars") > 0) & (h > 0))
            .select("doc_id", F.col("n_chars").alias("w"),
                    F.round(key, 9).alias("es_key"))
            .orderBy(F.asc("es_key"), F.asc("doc_id"))
            .limit(WSAMPLE_K))


TX_WSAMPLE_SQL = f"""
SELECT doc_id, n_chars AS w,
       round(-ln(CAST(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT)
                      AS DOUBLE) / {_H60}::DOUBLE)
             / CAST(n_chars AS DOUBLE), 9) AS es_key
FROM documents
WHERE n_chars > 0
  AND CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) > 0
ORDER BY es_key ASC, doc_id ASC LIMIT {WSAMPLE_K}
"""


SUBSTR_W = 8   # sliding window width (tokens) for substring dedup


def dd_substr_dup(spark, sf):
    """Sliding-window cross-doc duplication rate — the ExactSubstr
    framing (Lee et al. 2022, Deduplicating Training Data, public):
    every SUBSTR_W-token SLIDING window is hashed; a window is
    duplicated if the same token run appears in >= 2 distinct docs;
    each doc reports the fraction of its windows that are duplicated.
    Complements [dd_common_segments]: the disjoint-chunk variant
    misses shifted copies by construction (its own test pins that);
    the sliding form catches any alignment, which is why the paper
    uses it for exact substring dedup.

    Scale shape: window hashes are a zero-shuffle HOF transform over
    the token array (no posexplode until the count agg); the dup-hash
    table is one map-side-combinable agg pruned to n_docs >= 2
    BEFORE it joins back (only duplicated hashes travel — on a web
    corpus that is the long tail's tiny head); per-doc rollup is one
    final hash agg. The corpus-token-sized exploded window table is
    the heaviest intermediate, so it is tokenized ONCE: n_windows is
    derived map-side from the token array (size - W + 1, never
    touching the exploded form) and the exploded table is persisted
    (MEMORY_AND_DISK, the [dd_ngram_jaccard] discipline) for its two
    remaining consumers instead of re-running tokenize + window-hash
    + explode three times (round-6 verdict #1)."""
    from pyspark import StorageLevel

    d = spread(T(spark, sf, "documents"), "doc_id")
    toked = (d.select("doc_id", ws_tokens().alias("toks"))
             .filter(F.size("toks") >= SUBSTR_W))
    wh = (toked.select("doc_id",
                       F.explode(token_windows("toks", SUBSTR_W)).alias("h"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    dup = (wh.groupBy("h")
           .agg(F.count_distinct("doc_id").alias("n_docs"))
           .filter(F.col("n_docs") >= 2)
           .select("h"))
    per_doc = toked.select(
        "doc_id",
        (F.size("toks") - SUBSTR_W + 1).cast("long").alias("n_windows"))
    dup_per_doc = (wh.join(dup, "h")
                   .groupBy("doc_id").agg(F.count("*").alias("n_dup")))
    return (per_doc.join(dup_per_doc, "doc_id", "left")
            .select(
                "doc_id", "n_windows",
                F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
                F.round(F.coalesce("n_dup", F.lit(0))
                        / F.col("n_windows").cast("double"), 6)
                .alias("dup_frac")))


DD_SUBSTR_SQL = f"""
WITH toked AS (
  SELECT doc_id, {WS_TOKS_SQL} AS toks FROM documents),
wh AS (
  SELECT doc_id,
         md5(array_to_string(toks[i + 1 : i + {SUBSTR_W}], ' ')) AS h
  FROM toked, LATERAL (
    SELECT unnest(range(len(toks) - {SUBSTR_W} + 1)) AS i) t
  WHERE len(toks) >= {SUBSTR_W}),
dup AS (
  SELECT h FROM wh GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
  FROM wh GROUP BY doc_id),
dup_per_doc AS (
  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_dup
  FROM wh w JOIN dup d ON d.h = w.h
  GROUP BY w.doc_id)
SELECT p.doc_id, p.n_windows,
       CAST(coalesce(dp.n_dup, 0) AS BIGINT) AS n_dup,
       round(CAST(coalesce(dp.n_dup, 0) AS DOUBLE)
             / CAST(p.n_windows AS DOUBLE), 6) AS dup_frac
FROM per_doc p LEFT JOIN dup_per_doc dp ON dp.doc_id = p.doc_id
"""


def tx_substr_scrub(spark, sf):
    """ExactSubstr span SCRUBBING — the transformer that closes the
    sliding-window dedup family (Lee et al. 2022): [dd_substr_dup]
    only REPORTS the duplicated-window rate, and [tx_segment_scrub]
    removes disjoint 8-token chunks so SHIFTED copies survive it (its
    own docstring admits the gap). Here every SUBSTR_W-token sliding
    window appearing in >= 2 distinct docs marks its covered token
    range for removal in every doc except the first (min doc_id)
    containing it; overlapping/adjacent marked windows are MERGED
    into maximal spans, the covered tokens are dropped, and the
    document is rebuilt from the survivors — so a copied run is
    removed wholesale regardless of alignment.

    Scale shape: window hashes are the same zero-shuffle HOF
    transform as dd_substr_dup; the dup table is pruned to
    n_docs >= 2 before joining back (only duplicated hashes travel);
    duplicated POSITIONS (not text) shuffle once per doc for the
    span merge — a sorted-array fold, no Window; the rebuild is one
    broadcast-or-hash join back to the token arrays and a pure
    map-side filter-by-index. Exactly one payload-carrying shuffle
    (the rebuild join), the minimum for a rewriter whose output is
    the text."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toked = (d.select("doc_id", ws_tokens().alias("toks"))
             .filter(F.size("toks") >= SUBSTR_W))
    wh = toked.select(
        "doc_id",
        F.posexplode(token_windows("toks", SUBSTR_W)).alias("pos", "h"))
    dup = (wh.groupBy("h")
           .agg(F.count_distinct("doc_id").alias("n_docs"),
                F.min("doc_id").alias("first_doc"))
           .filter(F.col("n_docs") >= 2)
           .select("h", "first_doc"))
    dpos = (wh.join(dup, "h")
            .filter(F.col("doc_id") > F.col("first_doc"))
            .select("doc_id", "pos"))
    # sorted window starts fold into maximal merged spans: positions
    # are distinct and ascending, so a start p extends the open span
    # iff p <= last.e + 1, and the new end is always p + W - 1
    empty = F.array().cast("array<struct<s:int,e:int>>")
    merged = F.aggregate(
        F.array_sort(F.collect_list("pos")),
        empty,
        lambda acc, p: F.when(
            (F.size(acc) > 0)
            & (p <= F.element_at(acc, -1)["e"] + 1),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["s"].alias("s"),
                    (p + SUBSTR_W - 1).cast("int").alias("e"))))
        ).otherwise(F.concat(acc, F.array(F.struct(
            p.cast("int").alias("s"),
            (p + SUBSTR_W - 1).cast("int").alias("e"))))))
    spans = dpos.groupBy("doc_id").agg(merged.alias("spans"))
    joined = toked.join(spans, "doc_id", "left").select(
        "doc_id", "toks", F.coalesce("spans", empty).alias("spans"))
    kept = F.filter(
        "toks",
        lambda x, i: ~F.exists(
            "spans", lambda s: (s["s"] <= i) & (i <= s["e"])))
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.size("spans").cast("long").alias("n_spans"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_scrubbed"),
        F.array_join(kept, " ").alias("clean_text"))


TX_SUBSTR_SCRUB_SQL = f"""
WITH toked AS (
  SELECT doc_id, {WS_TOKS_SQL} AS toks FROM documents
  WHERE len({WS_TOKS_SQL}) >= {SUBSTR_W}),
wh AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i + 1 : i + {SUBSTR_W}], ' ')) AS h
  FROM toked, LATERAL (
    SELECT unnest(range(len(toks) - {SUBSTR_W} + 1)) AS i) t),
dup AS (
  SELECT h, min(doc_id) AS first_doc FROM wh GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2),
dpos AS (
  SELECT w.doc_id, w.pos FROM wh w
  JOIN dup d ON d.h = w.h AND w.doc_id > d.first_doc),
toks AS (
  SELECT doc_id, t.i AS ti, toks[t.i + 1] AS tok
  FROM toked, LATERAL (SELECT unnest(range(len(toks))) AS i) t),
cov AS (
  SELECT t.doc_id, t.ti, t.tok, count(p.pos) > 0 AS covered
  FROM toks t LEFT JOIN dpos p
    ON p.doc_id = t.doc_id
   AND t.ti BETWEEN p.pos AND p.pos + {SUBSTR_W} - 1
  GROUP BY t.doc_id, t.ti, t.tok),
spans AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
  FROM dpos p
  WHERE NOT EXISTS (
    SELECT 1 FROM dpos q
    WHERE q.doc_id = p.doc_id
      AND q.pos < p.pos AND q.pos >= p.pos - {SUBSTR_W})
  GROUP BY doc_id)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(coalesce(min(s.n_spans), 0) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END)
            AS BIGINT) AS n_scrubbed,
       coalesce(string_agg(CASE WHEN NOT covered THEN tok END,
                           ' ' ORDER BY ti), '') AS clean_text
FROM cov c LEFT JOIN spans s ON s.doc_id = c.doc_id
GROUP BY c.doc_id
"""


SUBSTR_DROP = 0.5   # dup_frac at/above which a doc is substr-dropped


def dd_verdict(spark, sf):
    """THE per-document dedup verdict — the capstone that runs the
    whole dedup pipeline as ONE relation (what a user of the
    reference's dedup stack actually materializes before training):
    precedence exact > near > substr > keep. exact_dup = a later copy
    of an identical text (md5 group, keeper = min doc_id — dd_exact
    semantics); near_dup = a later doc whose FULL MinHash band
    signature (all N_BANDS band minima — the conservative
    signature-identical rule, no pair join needed) matches an earlier
    doc's; substr_dup = >= SUBSTR_DROP of its sliding windows REPEAT
    an earlier doc's windows (first-wins, [tx_substr_scrub]'s keeper
    rule — NOT [dd_substr_dup]'s symmetric rate, which would drop the
    keeper of every duplicate group along with its copies). Count
    evidence rides along for every rule.

    Scale shape: two map-side-combinable hash aggs (md5 groups,
    window-hash counts) + per-doc band minima computed as pure
    map-side array minima (r8, no agg at all) + broadcast-
    able verdict joins — no pair enumeration anywhere; the signature-
    identical rule trades recall for a strictly-bounded plan (the
    pairwise recall path is dd_minhash_lsh → dd_components)."""
    from .textops import N_BANDS, _band_min, _shingle_arrays

    d = T(spark, sf, "documents")
    exact = (d.groupBy(F.md5("text").alias("h"))
             .agg(F.min("doc_id").alias("e_keeper"),
                  F.count("*").alias("e_n")))
    ex = d.select("doc_id", F.md5("text").alias("h")).join(exact, "h")
    # per-doc band minima map-side over the shingle array (r8 — was an
    # explode + min-over-string SortAggregate; values bit-identical)
    sigs = _shingle_arrays(spark, sf).select(
        "doc_id", *[_band_min(b).alias(f"s{b}") for b in range(N_BANDS)])
    fullsig = sigs.select(
        "doc_id",
        F.concat_ws("|", *[f"s{b}" for b in range(N_BANDS)]).alias("fs"))
    near = (fullsig.groupBy("fs")
            .agg(F.min("doc_id").alias("n_keeper"),
                 F.count("*").alias("n_n")))
    nr = fullsig.join(near, "fs").select("doc_id", "n_keeper", "n_n")
    # first-wins window-repeat fraction (not dd_substr_dup's
    # symmetric rate): a window is a repeat iff an EARLIER doc holds
    # the same token run
    toked = (d.select("doc_id", ws_tokens().alias("toks"))
             .filter(F.size("toks") >= SUBSTR_W))
    wh = toked.select(
        "doc_id", F.explode(token_windows("toks", SUBSTR_W)).alias("h"))
    firsts = wh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    n_dup = (wh.join(firsts, "h")
             .filter(F.col("doc_id") > F.col("first_doc"))
             .groupBy("doc_id").agg(F.count("*").alias("n_dup")))
    per_doc = toked.select(
        "doc_id",
        (F.size("toks") - SUBSTR_W + 1).cast("long").alias("n_win"))
    sub = (per_doc.join(n_dup, "doc_id", "left")
           .select("doc_id",
                   F.round(F.coalesce("n_dup", F.lit(0))
                           / F.col("n_win").cast("double"), 6)
                   .alias("dup_frac")))
    j = (ex.select("doc_id", "e_keeper", "e_n")
         .join(nr, "doc_id", "left")
         .join(sub, "doc_id", "left"))
    verdict = (
        F.when((F.col("e_n") >= 2)
               & (F.col("doc_id") > F.col("e_keeper")), "exact_dup")
        .when((F.coalesce("n_n", F.lit(0)) >= 2)
              & (F.col("doc_id") > F.col("n_keeper")), "near_dup")
        .when(F.coalesce("dup_frac", F.lit(0.0)) >= SUBSTR_DROP,
              "substr_dup")
        .otherwise("keep"))
    return j.select(
        "doc_id", verdict.alias("verdict"),
        F.col("e_n").alias("exact_n"),
        F.coalesce("n_n", F.lit(0)).alias("near_n"),
        F.coalesce("dup_frac", F.lit(0.0)).alias("dup_frac"))


def _verdict_sql() -> str:
    from .textops import _SHINGLES_SQL, N_BANDS

    sig_cols = ", ".join(
        f"min(md5('{b}' || ':' || shingle)) AS s{b}"
        for b in range(N_BANDS))
    fs = " || '|' || ".join(f"s{b}" for b in range(N_BANDS))
    return f"""
WITH exact AS (
  SELECT md5(text) AS h, min(doc_id) AS e_keeper,
         CAST(count(*) AS BIGINT) AS e_n
  FROM documents GROUP BY 1),
ex AS (
  SELECT d.doc_id, e.e_keeper, e.e_n
  FROM documents d JOIN exact e ON e.h = md5(d.text)),
shingles AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id, {sig_cols} FROM shingles GROUP BY doc_id),
fullsig AS (SELECT doc_id, {fs} AS fs FROM sigs),
near AS (
  SELECT fs, min(doc_id) AS n_keeper,
         CAST(count(*) AS BIGINT) AS n_n
  FROM fullsig GROUP BY fs),
nr AS (
  SELECT f.doc_id, n.n_keeper, n.n_n
  FROM fullsig f JOIN near n ON n.fs = f.fs),
toked AS (
  SELECT doc_id, {WS_TOKS_SQL} AS toks FROM documents),
wh AS (
  SELECT doc_id,
         md5(array_to_string(toks[i + 1 : i + {SUBSTR_W}], ' ')) AS h
  FROM toked, LATERAL (
    SELECT unnest(range(len(toks) - {SUBSTR_W} + 1)) AS i) t
  WHERE len(toks) >= {SUBSTR_W}),
firsts AS (
  SELECT h, min(doc_id) AS first_doc FROM wh GROUP BY h),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
  FROM wh GROUP BY doc_id),
dup_per_doc AS (
  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_dup
  FROM wh w JOIN firsts f ON f.h = w.h AND w.doc_id > f.first_doc
  GROUP BY w.doc_id),
sub AS (
  SELECT p.doc_id,
         round(CAST(coalesce(dp.n_dup, 0) AS DOUBLE)
               / CAST(p.n_windows AS DOUBLE), 6) AS dup_frac
  FROM per_doc p LEFT JOIN dup_per_doc dp ON dp.doc_id = p.doc_id)
SELECT e.doc_id,
       CASE
         WHEN e.e_n >= 2 AND e.doc_id > e.e_keeper THEN 'exact_dup'
         WHEN coalesce(n.n_n, 0) >= 2 AND e.doc_id > n.n_keeper
           THEN 'near_dup'
         WHEN coalesce(s.dup_frac, 0.0::DOUBLE) >= {SUBSTR_DROP}::DOUBLE
           THEN 'substr_dup'
         ELSE 'keep' END AS verdict,
       e.e_n AS exact_n,
       CAST(coalesce(n.n_n, 0) AS BIGINT) AS near_n,
       CAST(coalesce(s.dup_frac, 0.0) AS DOUBLE) AS dup_frac
FROM ex e
LEFT JOIN nr n ON n.doc_id = e.doc_id
LEFT JOIN sub s ON s.doc_id = e.doc_id
"""


LANGID_M = 50    # trigram profile size per language


def tx_langid_trigram(spark, sf):
    """Character-trigram language-ID with a CONFUSION MATRIX — the
    n-gram-profile classifier (Cavnar & Trenkle 1994) behind every
    production langid pass, self-supervised here: per labeled lang,
    the LANGID_M most frequent character trigrams form the profile;
    each doc is scored by |its distinct trigrams ∩ profile| per lang,
    predicted = argmax (ties → lexicographically first lang, docs
    with no profile hit → 'unknown'), and the output is the
    (label, predicted, count) confusion matrix — the classifier-eval
    table a pipeline reviews before trusting the labels. Exact
    integer evidence end to end. Complements [tx_langid_argmax]
    (keyword CASE scores) with the real n-gram-profile method.
    (On the synthetic corpus the lang labels all draw from one shared
    vocabulary, so the matrix is honestly OFF-diagonal there — the
    eval op reporting that a classifier cannot separate unseparable
    labels is the point; the planted-corpus test pins the diagonal
    case.)

    Scale shape: trigram extraction is a zero-shuffle HOF transform
    over the text (map-side, token-scale); profiles are one hash agg
    + a per-lang top-M over the (langs x trigram) counts; scoring is
    a BROADCAST join of the tiny (langs x M) profile against per-doc
    distinct trigrams; the per-doc argmax is one row_number window
    on doc_id; the matrix is a final |langs|^2-row agg."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    # len<3 guard: Spark sequence(1, 0) DESCENDS ([1,0]) instead of
    # being empty like DuckDB range(1,1) — short docs must yield no
    # trigrams on both engines
    tris = F.when(
        F.length("text") >= 3,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.col("text").substr(i, F.lit(3))))
    ).otherwise(F.array().cast("array<string>"))
    dt = (d.select("doc_id", "lang", F.explode(tris).alias("tri")))
    prof_cnt = dt.groupBy("lang", "tri").agg(F.count("*").alias("n"))
    w_top = Window.partitionBy("lang").orderBy(
        F.desc("n"), F.asc("tri"))
    prof = (prof_cnt.withColumn("rk", F.row_number().over(w_top))
            .filter(F.col("rk") <= LANGID_M)
            .select(F.col("lang").alias("plang"), "tri"))
    hits = (dt.join(F.broadcast(prof), "tri")
            .groupBy("doc_id", "plang")
            .agg(F.count("*").alias("hits")))
    w_arg = Window.partitionBy("doc_id").orderBy(
        F.desc("hits"), F.asc("plang"))
    pred = (hits.withColumn("rk", F.row_number().over(w_arg))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("plang").alias("pred")))
    return (d.select("doc_id", "lang")
            .join(pred, "doc_id", "left")
            .groupBy("lang",
                     F.coalesce("pred", F.lit("unknown")).alias("pred"))
            .agg(F.count("*").alias("n_docs")))


TX_LANGID_TRI_SQL = f"""
WITH dt AS (
  SELECT doc_id, lang, tri
  FROM (SELECT doc_id, lang,
               list_distinct(list_transform(
                 range(1, greatest(length(text) - 2, 0) + 1),
                 i -> substr(text, CAST(i AS INT), 3))) AS tris
        FROM documents),
       LATERAL (SELECT unnest(tris) AS tri) t),
prof AS (
  SELECT lang AS plang, tri FROM (
    SELECT lang, tri,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, tri ASC) AS rk
    FROM dt GROUP BY lang, tri)
  WHERE rk <= {LANGID_M}),
hits AS (
  SELECT d.doc_id, p.plang, CAST(count(*) AS BIGINT) AS hits
  FROM dt d JOIN prof p ON p.tri = d.tri
  GROUP BY d.doc_id, p.plang),
pred AS (
  SELECT doc_id, plang AS pred FROM (
    SELECT doc_id, plang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY hits DESC, plang ASC) AS rk
    FROM hits)
  WHERE rk = 1)
SELECT d.lang, coalesce(p.pred, 'unknown') AS pred,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id
GROUP BY d.lang, coalesce(p.pred, 'unknown')
"""


COLL_MIN = 5     # min bigram occurrences for a collocation candidate
COLL_TOPK = 30


def tx_collocations(spark, sf):
    """Bigram collocation detection — the phrase-extraction primitive
    (word2vec phrase merging, Manning & Schütze ch.5) a training
    pipeline runs before tokenizer/vocab work: adjacent token pairs
    scored by PMI = ln(n_ab * N / (n_a * n_b)) AND by the classic
    t-test statistic (n_ab - n_a*n_b/N) / sqrt(n_ab) — two
    association measures over the same exact BIGINT evidence, which
    rides along so the hash pins the integers, not just the floats.
    The text-side sibling of [ev_pmi_pairs] (same scoring contract,
    adjacency instead of co-click).

    Scale shape: bigrams are a zero-shuffle HOF transform over the
    token array (no positional explode of tokens — pairs form
    map-side); the bigram count is one map-side-combinable hash agg;
    unigram marginals broadcast onto the n_ab >= COLL_MIN survivors
    only; final top-k is TakeOrderedAndProject."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toked = (d.select(ws_tokens().alias("toks"))
             .filter(F.size("toks") >= 2))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.struct(
            F.element_at("toks", i + 1).alias("w1"),
            F.element_at("toks", i + 2).alias("w2")))
    bg = (toked.select(F.explode(bigrams).alias("b"))
          .select("b.w1", "b.w2")
          .groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
          .filter(F.col("n_ab") >= COLL_MIN))
    uni = (d.select(F.explode(ws_tokens()).alias("w"))
           .groupBy("w").agg(F.count("*").alias("n")))
    n_tok = uni.agg(F.sum("n").alias("n_tok"))
    na = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a"))
    nb = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b"))
    pmi = F.log(F.col("n_ab").cast("double") * F.col("n_tok")
                / (F.col("n_a") * F.col("n_b")).cast("double"))
    t = ((F.col("n_ab").cast("double")
          - (F.col("n_a") * F.col("n_b")).cast("double")
          / F.col("n_tok").cast("double"))
         / F.sqrt(F.col("n_ab").cast("double")))
    return (bg.join(F.broadcast(na), "w1")
            .join(F.broadcast(nb), "w2")
            .join(F.broadcast(n_tok))
            .select("w1", "w2", "n_ab", "n_a", "n_b",
                    F.round(pmi, 6).alias("pmi"),
                    F.round(t, 6).alias("t_score"))
            .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
            .limit(COLL_TOPK))


TX_COLLOCATIONS_SQL = f"""
WITH toked AS (
  SELECT {WS_TOKS_SQL} AS toks FROM documents
  WHERE len({WS_TOKS_SQL}) >= 2),
bg AS (
  SELECT toks[i.i + 1] AS w1, toks[i.i + 2] AS w2,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM toked,
       LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) i
  GROUP BY 1, 2 HAVING count(*) >= {COLL_MIN}),
uni AS (
  SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({WS_TOKS_SQL}) AS tok FROM documents)
  GROUP BY tok),
nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_tok FROM uni)
SELECT b.w1, b.w2, b.n_ab, a.n AS n_a, c.n AS n_b,
       round(ln(CAST(b.n_ab AS DOUBLE) * nt.n_tok
                / CAST(a.n * c.n AS DOUBLE)), 6) AS pmi,
       round((CAST(b.n_ab AS DOUBLE)
              - CAST(a.n * c.n AS DOUBLE)
                / CAST(nt.n_tok AS DOUBLE))
             / sqrt(CAST(b.n_ab AS DOUBLE)), 6) AS t_score
FROM bg b
JOIN uni a ON a.w = b.w1
JOIN uni c ON c.w = b.w2, nt
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT {COLL_TOPK}
"""


ZIPF_TOPN = 100   # vocabulary head used for the rank-frequency fit
_ZU = 1_000_000   # micro-unit fixed point for the ln terms


def tx_zipf_fit(spark, sf):
    """Zipf rank-frequency fit — the corpus-naturalness diagnostic:
    least-squares slope of ln(freq) vs ln(rank) over the ZIPF_TOPN
    most frequent tokens (natural language reads slope ~ -1; template
    spam and gibberish deviate hard). Cross-engine exact: each ln is
    frozen once to integer MICRO units, all four regression sums
    (Sx, Sy, Sxy, Sxx) are then BIGINT — no float summation order —
    and slope/intercept are single closed-form divisions of exact
    integers at the end. Product terms x_u*y_u stay < 2^63 at micro
    (not nano) scale, which is why this op uses 1e6 units.

    Scale shape: one token-count shuffle (any tokenizing op's cost),
    TakeOrderedAndProject for the head, then a single-row fold over
    ZIPF_TOPN rows — the regression state is four integers."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    cnt = (d.select(F.explode(ws_tokens()).alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("c")))
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    head = (cnt.orderBy(F.desc("c"), F.asc("tok")).limit(ZIPF_TOPN)
            .withColumn("r", F.row_number().over(w)))
    xu = F.round(F.log(F.col("r").cast("double")) * _ZU, 0).cast("long")
    yu = F.round(F.log(F.col("c").cast("double")) * _ZU, 0).cast("long")
    terms = head.select(xu.alias("xu"), yu.alias("yu"))
    sums = terms.agg(
        F.count("*").alias("n"),
        F.sum("xu").alias("sx"), F.sum("yu").alias("sy"),
        F.sum(F.col("xu") * F.col("yu")).alias("sxy"),
        F.sum(F.col("xu") * F.col("xu")).alias("sxx"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    slope = num.cast("double") / den.cast("double")
    intercept = (F.col("sy").cast("double") / _ZU
                 - slope * F.col("sx").cast("double") / _ZU) / F.col("n")
    return sums.select(
        F.col("n").alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"))


TX_ZIPF_SQL = f"""
WITH cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({WS_TOKS_SQL}) AS tok FROM documents)
  GROUP BY tok),
head AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS r
  FROM (SELECT tok, c FROM cnt ORDER BY c DESC, tok ASC
        LIMIT {ZIPF_TOPN})),
terms AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * {_ZU}, 0) AS BIGINT) AS xu,
         CAST(round(ln(CAST(c AS DOUBLE)) * {_ZU}, 0) AS BIGINT) AS yu
  FROM head),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xu) AS BIGINT) AS sx, CAST(sum(yu) AS BIGINT) AS sy,
         CAST(sum(xu * yu) AS BIGINT) AS sxy,
         CAST(sum(xu * xu) AS BIGINT) AS sxx
  FROM terms)
SELECT n AS n_vocab,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE) / {_ZU}
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(sx AS DOUBLE) / {_ZU}) / n, 6) AS zipf_intercept
FROM sums
"""


ENTROPY_LOW = 2.0   # bits; below = repetitive/template suspect


def tx_entropy(spark, sf):
    """Per-doc token-distribution Shannon entropy — the classic
    gibberish/template quality signal (low entropy = repeated
    boilerplate or keyword stuffing, used alongside the Gopher
    rules): H = log2(n) - (1/n) * sum_t c_t*log2(c_t) over the doc's
    token counts. Deterministic cross-engine via the exact fold:
    log2(c) is rounded once to integer nano-bits, the per-doc sum
    c*log2(c) is then a BIGINT sum whose order can never matter, and
    the only float steps are the final log2(n) and one division
    (tx_dsir_weight convention). Emits n_toks, n_distinct, entropy
    and a low-entropy flag.

    Scale shape: one shuffle to (doc, token) counts, one to the
    per-doc fold; both aggs are map-side combinable and no
    vocabulary-sized state exists outside the (doc, token) stream
    any tokenizing op already carries."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    tc = (d.select("doc_id", F.explode(ws_tokens()).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("c")))
    w_nano = F.round(F.log2("c") * F.lit(1e9), 0).cast("long")
    per_doc = (tc.groupBy("doc_id")
               .agg(F.sum("c").alias("n"),
                    F.count("*").alias("n_distinct"),
                    F.sum(F.col("c") * w_nano).alias("nano")))
    ent = (F.log2("n")
           - F.col("nano").cast("double") / F.lit(1e9)
           / F.col("n").cast("double"))
    return per_doc.select(
        "doc_id", F.col("n").alias("n_toks"), "n_distinct",
        F.round(ent, 6).alias("entropy"),
        (F.round(ent, 6) < ENTROPY_LOW).alias("low_entropy"))


TX_ENTROPY_SQL = f"""
WITH tc AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({WS_TOKS_SQL}) AS tok FROM documents)
  GROUP BY doc_id, tok),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * CAST(round(log2(c) * 1e9::DOUBLE, 0) AS BIGINT))
              AS BIGINT) AS nano
  FROM tc GROUP BY doc_id)
SELECT doc_id, n AS n_toks, n_distinct,
       round(log2(n) - CAST(nano AS DOUBLE) / 1e9::DOUBLE
                       / CAST(n AS DOUBLE), 6) AS entropy,
       round(log2(n) - CAST(nano AS DOUBLE) / 1e9::DOUBLE
                       / CAST(n AS DOUBLE), 6) < {ENTROPY_LOW}::DOUBLE
         AS low_entropy
FROM per_doc
"""


QUERIES = {
    "sk_kmv_distinct": (sk_kmv_distinct, SK_KMV_SQL),
    "sk_kmv_intersect": (sk_kmv_intersect, SK_KMV_INTERSECT_SQL),
    "sk_dd_quantile": (sk_dd_quantile, SK_DDQ_SQL),
    "tx_entropy": (tx_entropy, TX_ENTROPY_SQL),
    "tx_zipf_fit": (tx_zipf_fit, TX_ZIPF_SQL),
    "dd_substr_dup": (dd_substr_dup, DD_SUBSTR_SQL),
    "tx_substr_scrub": (tx_substr_scrub, TX_SUBSTR_SCRUB_SQL),
    "tx_collocations": (tx_collocations, TX_COLLOCATIONS_SQL),
    "tx_langid_trigram": (tx_langid_trigram, TX_LANGID_TRI_SQL),
    "dd_verdict": (dd_verdict, _verdict_sql()),
    "sk_cms_heavy": (sk_cms_heavy, _cms_sql()),
    "sk_hll_distinct": (sk_hll_distinct, SK_HLL_SQL),
    "tx_dsir_weight": (tx_dsir_weight, TX_DSIR_SQL),
    "tx_weighted_sample": (tx_weighted_sample, TX_WSAMPLE_SQL),
    "dd_domain_cap": (dd_domain_cap, DD_DOMAIN_CAP_SQL),
    "tx_ft_score": (tx_ft_score, TX_FT_SCORE_SQL),
    "tx_segment_scrub": (tx_segment_scrub, TX_SEGMENT_SCRUB_SQL),
    "tx_bpe_merges": (tx_bpe_merges, TX_BPE_MERGES_SQL),
    "tx_curate_v2": (tx_curate_v2, TX_CURATE_V2_SQL),
    "tx_top_ngram_frac": (tx_top_ngram_frac, TX_TOP_NGRAM_SQL),
    "tx_stratified_sample": (tx_stratified_sample, TX_STRATIFIED_SQL),
    "dd_semdedup": (dd_semdedup, DD_SEMDEDUP_SQL),
    "tx_ngram_novelty": (tx_ngram_novelty, TX_NOVELTY_SQL),
}

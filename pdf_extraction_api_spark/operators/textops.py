"""Training-data text-pipeline operators over `documents`.

The large-scale corpus ops a 100 TB training-data pipeline needs,
expressed Spark-first (all JVM built-ins — explode/window/groupBy —
no Python in the hot path) with DuckDB oracles:

- exact dedup (hash groupBy)                      → dd_exact
- MinHash+LSH near-dup (shingle→band→bucket join) → dd_minhash_lsh
  (+ salted mega-bucket variant                   → dd_minhash_salted)
- n-gram Jaccard verification of candidates       → dd_ngram_jaccard
- SimHash signatures (bitwise majority)           → dd_simhash
- connected-components keeper selection           → dd_components
- end-to-end dedup keep-list                      → dd_keep_list
- language-ID by keyword-hit argmax               → tx_langid_argmax
- quality scoring (length/punct/stopword ratios)  → tx_quality
- Gopher repetition/quality rules                 → tx_gopher_quality
- self-trained trigram-LM perplexity signal       → tx_trigram_ppl
- token counting (whitespace + BPE-regex)         → tx_tokens(_bpe)
- document fingerprinting (min-hash of 8-grams)   → tx_fingerprint
- deterministic hash sampling / mix rebalancing   → tx_hash_sample,
                                                    tx_mix_rebalance
- benchmark decontamination (13-gram overlap)     → tx_decontam
- cross-doc common-span report (disjoint windows) → dd_common_segments
- end-to-end curation verdict (dedup ∧ gopher ∧
  not-contaminated, auditable reasons per doc)    → tx_curate
- incremental dedup: new batch vs history
  (broadcast-new EXISTS probes, no pair blowup)   → dd_incremental

Shared building blocks, used by this module and curation.py: one
whitespace tokenizer (ws_tokens, with its DuckDB mirror WS_TOKS_SQL),
one n-gram builder (_ngram: the n tokens from a start position joined
by one space; _shingle_col maps it over every start) and one token-
window builder (token_windows: every n-token window starting each
`step` tokens — sliding at step 1, disjoint segments at step n — as an
array that is total on docs shorter than n).

Portability notes: the hash primitive is md5 (identical in Spark and
DuckDB — Spark's xxhash64/hash are JVM-specific so they never appear in
an oracle-checked result); min-over-md5-hex is a valid uniform minhash
because md5 is uniform on its hex-string order. dd_minhash_num projects
the same md5 to a BIGINT (first 15 hex digits) so the band agg is a
HashAggregate instead of a SortAggregate.

Scale notes: every op is a shuffle-on-key aggregation/join; LSH bands
bound the self-join fan-out (no O(n²) pairs) and oversized band buckets
(boilerplate-identical corpora) are capped at LSH_BUCKET_CAP docs so no
single signature can square (dd_minhash_salted shards them instead,
keeping near-dup recall at the same memory bound); shingle construction
is map-side and materialized ONCE for the jaccard verification;
candidate verification (dd_ngram_jaccard) joins shingles ONLY for the
LSH survivor pairs, never all-docs × all-docs; tx_fingerprint is a
zero-shuffle map (array_min over a transform — no per-position explode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .relational import T, spread

N_BANDS = 4
SHINGLE = 3
# Max docs per (band, signature) bucket: a viral boilerplate signature
# otherwise yields |bucket|² candidate pairs. Exact duplicates are the
# job of dd_exact (cheap hash agg) — LSH only needs to catch NEAR-dups,
# so dropping mega-buckets is the standard trade.
LSH_BUCKET_CAP = 64


def ws_tokens(col: str = "text"):
    """THE whitespace tokenizer — the cross-engine parity contract
    every text operator's oracle depends on (Java \\s+ split, empties
    dropped). Every text operator tokenizes with it and every oracle
    with its DuckDB mirror WS_TOKS_SQL, but for four older oracle
    constants that spell it out; test_tokenizer_lives_in_one_place
    names them and rejects any other inline copy. Two builders take
    the token array: _ngram (the n-gram at one start position;
    _shingle_col maps it over every start) and token_windows (every
    n-token window of a doc, total on docs shorter than n)."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != "")


# the DuckDB mirror of ws_tokens (RE2 \s+ split + empty filter)
WS_TOKS_SQL = r"""list_filter(regexp_split_to_array(text, '\s+'),
                     x -> x <> '')"""


def _ngram(toks, i, n: int):
    """The n tokens of the `toks` array column from 0-based position
    `i`, joined by one space."""
    return F.concat_ws(
        " ", *[F.element_at(toks, i + k) for k in range(1, n + 1)])


def _shingle_col(toks, n: int = SHINGLE):
    """The n-token shingles of the `toks` array column, one per start
    position (docs shorter than n must be filtered out first:
    sequence(0, size - n) would run backwards)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: _ngram(toks, i, n))


def token_windows(toks, n: int, step: int = 1,
                  fn=lambda win, start: F.md5(win)):
    """fn(window, start) for each n-token window of the `toks` array
    column, one starting every `step` tokens (1: sliding windows, n:
    disjoint segments); `win` is the window's tokens joined by one
    space, `start` its 0-based start. A doc shorter than n gets an
    empty array.

    The array is TOTAL on purpose, even where the caller has already
    filtered on size(toks) >= n: InferFiltersFromGenerate derives
    `size(ws) > 0 AND isnotnull(ws)` from an explode whose input is an
    attribute and pushes it below that filter, into the scan, where it
    evaluates this expression on rows the filter would have dropped.
    Unguarded, sequence(0, size - n) then descends and slice raises
    INVALID_PARAMETER_VALUE.START. The lazy CASE on the start sequence
    makes a short doc's windows empty instead. Callers still build the
    array inline at the explode site (the cost note in [_shingles])."""
    size = F.size(toks)
    starts = F.when(
        size >= n, F.sequence(F.lit(0), size - n, F.lit(step)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda s: fn(F.concat_ws(" ", F.slice(toks, s + 1, n)), s))


# positional tokenization, oracle-side only (the engine paths build
# token arrays map-side and never need a positional explode)
# tokenizer spelled out, not {WS_TOKS_SQL}: _ORACLE_TOKENIZER_COPIES
# in tests/test_operators_smoke.py says why
_TOKENS_SQL = r"""
SELECT doc_id, pos, toks[pos + 1] AS token
FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x <> '') AS toks
      FROM documents),
     LATERAL (SELECT unnest(range(len(toks))) AS pos) t
"""


def _doc_shingles(docs: DataFrame, *, exploded: bool) -> DataFrame:
    """Each doc's distinct SHINGLE-token shingles: (doc_id, shs
    array<string>), or (doc_id, shingle) rows when `exploded`, with
    the explode's generator inline. Docs shorter than SHINGLE have
    none.

    The token array is a COLUMN of the select before the shingles are
    built: inlining the filter(split(...)) expression into the
    transform lambda makes Catalyst re-evaluate it per element (no CSE
    across lambda captures): measured 5x slowdown. CollapseProject
    keeps the tiers separate because the aliases are non-cheap and
    multiply referenced."""
    toked = docs.select("doc_id", ws_tokens().alias("toks")).filter(
        F.size("toks") >= SHINGLE)
    shs = F.array_distinct(_shingle_col("toks"))
    return toked.select(
        "doc_id",
        F.explode(shs).alias("shingle") if exploded else shs.alias("shs"))


def _shingle_arrays(spark, sf) -> DataFrame:
    """(doc_id, shs array<string>) — each doc's distinct 3-token
    shingles as ONE array column, never exploded (r8): per-doc set
    semantics need no global distinct, and keeping the set as an array
    lets the minhash band minima be computed map-side with array
    higher-order functions instead of explode → aggregate (the
    min-over-md5-string aggregate is a SortAggregate — string minima
    have no mutable agg buffer — so the old shape sorted the entire
    corpus-shingle relation through an Exchange per query side).

    The documents scan is `spread` (guide §2.5): single-row-group
    input otherwise serializes the tokenize+md5 work onto one task."""
    return _doc_shingles(
        spread(T(spark, sf, "documents"), "doc_id"), exploded=False)


def _shingles(spark, sf) -> DataFrame:
    """(doc_id, shingle) — distinct 3-token shingles, the exploded view
    for consumers that join on the shingle value (dd_containment,
    tx_ngram_novelty). Still zero shuffles before the explode.

    DELIBERATELY rebuilds the shingle expression INLINE in the
    explode instead of `_shingle_arrays(...).select(explode("shs"))`
    (r8, measured 10.2s vs 0.4s at sf0.1): when the generator is a
    bare attribute, InferFiltersFromGenerate adds `size(shs) > 0 AND
    isnotnull(shs)` and predicate pushdown then substitutes the WHOLE
    shingle-construction expression into that filter — including the
    `toks` alias, which re-runs filter(split(text)) once per shingle
    position inside the element_at lambdas. With the expensive
    generator inline, the infer rule declines and no such filter
    exists. Consumers that explode a PERSISTED array relation
    (dd_ngram_jaccard) are safe — the inferred filter then runs over
    cached arrays."""
    return _doc_shingles(
        spread(T(spark, sf, "documents"), "doc_id"), exploded=True)


_SHINGLES_SQL = f"""
SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id,
         token || ' ' || lead(token, 1) OVER w || ' '
               || lead(token, 2) OVER w AS shingle,
         lead(token, 2) OVER w AS t2
  FROM ({_TOKENS_SQL})
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
) WHERE t2 IS NOT NULL
"""


def dd_exact(spark, sf):
    """Exact dedup: hash-groupBy, keeper = min id, group size."""
    return (
        T(spark, sf, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


DD_EXACT_SQL = """
SELECT md5(text) AS h, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _band_min(b: int):
    """min over md5(band:shingle) of one band, computed map-side over
    the `shs` array column. array_min's string ordering is the same
    binary UTF8 comparison as the min() aggregate, so the signature is
    bit-identical to the old explode → min-agg form — without the
    SortAggregate (min-over-string has no mutable agg buffer) or the
    Exchange it forced."""
    return F.array_min(F.transform(
        F.col("shs"),
        lambda s: F.md5(F.concat_ws(":", F.lit(str(b)), s))))


def _band_keys(sh: DataFrame) -> DataFrame:
    """(doc_id, key) — one LSH band key per (doc, band) over an
    EXPLODED (doc_id, shingle) relation: key = band|min(md5(band:
    shingle)). r8 shape, A/B'd at sf1.0 (1.2s vs 3.1s for the
    map-side HOF array_min variant, vs ~9.5s for the r7 form): the
    four md5s are a codegen'd PROJECTION over the exploded rows
    (interpreted per-element lambda md5 inside transform() was the
    HOF variant's cost), and the min-over-string agg — still a
    SortAggregate (string minima have no mutable buffer; min_by was
    A/B'd too and is the same plan class, slightly slower) — now
    sorts only WITHIN partitions already hash-spread by doc_id, with
    no Exchange (partial+final collapse onto the spread
    partitioning) and runs ONCE (capped_bucket_pairs' shared
    exchange) instead of twice over an unspread single task. Input
    must explode with the generator INLINE (see [_shingles]) or from
    a persisted array relation — never alias-then-explode."""
    proj = sh.select(
        "doc_id",
        *[F.md5(F.concat_ws(":", F.lit(str(b)), "shingle")).alias(f"m{b}")
          for b in range(N_BANDS)],
    )
    sigs_wide = proj.groupBy("doc_id").agg(
        *[F.min(f"m{b}").alias(f"s{b}") for b in range(N_BANDS)]
    )
    return sigs_wide.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"), F.col(f"s{b}").alias("sig"))
                for b in range(N_BANDS)
            ])
        ).alias("bs"),
    ).select("doc_id", F.concat_ws("|", "bs.band", "bs.sig").alias("key"))


def capped_bucket_pairs(df: DataFrame, key: str, id_col: str,
                        cap: int) -> DataFrame:
    """(key, id) rows → candidate (key, doc_a, doc_b) pairs within
    same-key buckets of 2..cap members — the shared LSH candidate
    shape (dd_minhash_lsh here, dd_embed_lsh in vectorops).

    Shape: ONE explicit hash Exchange on `key` shared by both
    consumers (the bucket-count agg and the probe side — identical
    exchange subtrees, so ReuseExchange/AQE stage reuse evaluates the
    signature pipeline ONCE; before r8 the full upstream sig
    computation ran twice, once per consumer) → hash-agg bucket
    counts → semi-join the surviving keys → per-key collect_list
    bounded by the cap (never a mega-array: oversized keys are
    already gone) → MAP-SIDE pair expansion from the sorted id array.
    No window sort, no self-join — measured 3.7x faster than the
    windowed-count + self-join variant at sf0.1 and strictly bounded
    memory per key at 100 TB. The explicit partition count pins the
    heavy downstream stages at the session's parallelism (AQE's
    bytes-based coalescing would squeeze these CPU-bound, small-byte
    stages onto a couple of tasks)."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        # the effective value: get() without a fallback returns the
        # default (200) when the key is unset, where a "0" fallback is
        # rejected by Spark's own validation
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # non-integer, e.g. "auto" on some platforms
        shuffle = cores
    n_parts = max(cores, shuffle)
    keyed = df.select(F.col(key).alias("key"),
                      F.col(id_col).alias("_id")).repartition(
        n_parts, F.col("key"))
    # count(_id), not count(*): _id is never null so the result is
    # identical, but count(*) lets column pruning drop _id below the
    # count side's exchange, making the two exchange subtrees
    # canonically DIFFERENT — AQE's stage cache then re-ran the whole
    # upstream signature pipeline for each consumer (verified in the
    # executed final plan: two separate ShuffleQueryStages). With _id
    # required on both sides the exchanges are identical and the
    # second consumer is a ReusedExchange
    # (plans/r08/dd_minhash_lsh_after_executed.txt).
    keep = (
        keyed.groupBy("key").agg(F.count("_id").alias("count"))
        .filter((F.col("count") >= 2) & (F.col("count") <= cap))
        .select("key")
    )
    buckets = (
        keyed.join(keep, "key")
        .groupBy("key")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
    )
    return buckets.select(
        "key",
        F.explode(
            F.flatten(F.expr(
                "transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)),"
                "           y -> struct(x AS doc_a, y AS doc_b)))"
            ))
        ).alias("p"),
    ).select("key", "p.doc_a", "p.doc_b")


def salted_bucket_pairs(df: DataFrame, key: str, id_col: str,
                        cap: int) -> DataFrame:
    """capped_bucket_pairs with recall inside mega-buckets: a bucket
    larger than `cap` is salted into ceil(n/cap) shards by a
    deterministic id hash (md5 % nshards), and pairs are generated
    within shards. Each mega-bucket member still pairs with ~cap
    shard-mates — enough to link a near-dup cluster transitively —
    while per-key memory stays bounded (shard ≈ cap, hard bound 2·cap
    for hash imbalance). Plan shape: hash-agg counts → broadcastable
    join → map-side salt → the shared aggregate-then-expand pairs."""
    keyed = df.select(F.col(key).alias("key"), F.col(id_col).alias("_id"))
    counts = keyed.groupBy("key").agg(F.count("*").alias("n"))
    nshards = F.ceil(F.col("n") / F.lit(float(cap)))
    salt = F.when(
        F.col("n") > cap,
        F.conv(F.substring(F.md5(F.col("_id").cast("string")), 1, 4),
               16, 10).cast("long") % nshards,
    ).otherwise(F.lit(0))
    salted = (
        keyed.join(counts, "key")
        .select(F.concat_ws("#", "key", salt.cast("string")).alias("key"),
                "_id")
    )
    return capped_bucket_pairs(salted, "key", "_id", 2 * cap)


def dd_minhash_salted(spark, sf):
    """dd_minhash_lsh variant that salts oversized LSH buckets into
    shards instead of dropping them (round-2 verdict ask #7): keeps
    near-dup recall inside viral-boilerplate mega-buckets. At the
    oracle's sf no bucket exceeds the cap, so results equal
    dd_minhash_lsh there; the mega-bucket recall property is
    unit-tested with a 1k near-identical corpus."""
    sigs = _band_keys(_shingles(spark, sf))
    return (salted_bucket_pairs(sigs, "key", "doc_id", LSH_BUCKET_CAP)
            .select("doc_a", "doc_b").distinct())


DD_MINHASH_SALTED_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
bands AS (SELECT unnest(range({N_BANDS})) AS band),
raw_sigs AS (
  SELECT doc_id, band,
         min(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS sig
  FROM shingles, bands GROUP BY doc_id, band),
counted AS (
  SELECT doc_id, band, sig,
         count(*) OVER (PARTITION BY band, sig) AS n
  FROM raw_sigs),
salted AS (
  SELECT doc_id, band, sig,
         CASE WHEN n > {LSH_BUCKET_CAP}
              THEN CAST('0x' || substring(
                     md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                   % CAST(ceil(n / CAST({LSH_BUCKET_CAP} AS DOUBLE))
                          AS BIGINT)
              ELSE 0 END AS salt
  FROM counted),
kept AS (
  SELECT band, sig, salt FROM salted GROUP BY band, sig, salt
  HAVING count(*) BETWEEN 2 AND {2 * LSH_BUCKET_CAP})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM salted a
JOIN salted b ON a.band = b.band AND a.sig = b.sig
             AND a.salt = b.salt AND a.doc_id < b.doc_id
JOIN kept k ON k.band = a.band AND k.sig = a.sig AND k.salt = a.salt
"""


def dd_minhash_lsh(spark, sf):
    """MinHash+LSH candidate pairs: docs sharing any band signature are
    candidates. Buckets larger than LSH_BUCKET_CAP are dropped (a viral
    boilerplate signature would otherwise emit |bucket|² pairs); see
    capped_bucket_pairs for the plan shape. r8: band signatures come
    from a codegen'd md5 projection and a plain min per band
    ([_band_keys] — still a SortAggregate, string minima have no
    mutable buffer, but sorting only within doc_id-spread partitions),
    the bucket pipeline is evaluated once, and the documents scan is
    spread across cores: 9.5s -> ~2.5s at sf1.0."""
    sigs = _band_keys(_shingles(spark, sf))
    return (capped_bucket_pairs(sigs, "key", "doc_id", LSH_BUCKET_CAP)
            .select("doc_a", "doc_b").distinct())


_CAPPED_SIGS_SQL = f"""
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, band, sig,
           count(*) OVER (PARTITION BY band, sig) AS bucket_n
    FROM (
      SELECT doc_id, band,
             min(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS sig
      FROM shingles, bands GROUP BY doc_id, band))
  WHERE bucket_n <= {LSH_BUCKET_CAP}
"""

DD_MINHASH_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
bands AS (SELECT unnest(range({N_BANDS})) AS band),
sigs AS ({_CAPPED_SIGS_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigs a JOIN sigs b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def dd_components(spark, sf):
    """Dedup keeper selection: connected components over the LSH
    candidate pairs via min-label propagation — the step that turns
    near-dup PAIRS into dedup DECISIONS (component id = min doc_id in
    the cluster; that doc is the keeper). The loop is the standard
    Pregel-free CC: labels only decrease, so comparing the (monotone)
    label sum detects the fixpoint; each iteration is one shuffle join
    + one hash agg over the edge relation, exactly how GraphFrames'
    CC behaves without the dependency. Cluster diameters in near-dup
    graphs are tiny (dups of one page link to each other), so the loop
    converges in a handful of iterations regardless of corpus size;
    the driver only ever sees one scalar per iteration. DuckDB oracle:
    the same closure as a recursive CTE.

    Each iteration localCheckpoints the label relation: without
    lineage truncation the logical plan doubles per iteration
    (labels_{i+1} references sym AND labels_i) and the driver OOMs
    just STRINGIFYING the tree by iteration ~8 — the classic
    iterative-algorithm pitfall; on a cluster this would be a
    reliable checkpoint() to object storage."""
    pairs = dd_minhash_lsh(spark, sf)
    sym = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))).localCheckpoint()
    labels = (sym.select(F.col("doc_a").alias("node")).distinct()
              .withColumn("comp", F.col("node")))
    prev_sum = None
    for it in range(20):  # safety cap >> any near-dup cluster diameter
        labels = labels.localCheckpoint()  # truncate lineage, eager
        # Probe the fixpoint every OTHER iteration: labels only
        # decrease, so an unchanged sum across two propagation steps
        # is still a sound fixpoint witness, and the driver pays half
        # the collect round-trips (each is a full job launch on a
        # cluster). Worst case one extra no-op propagation.
        if it % 2 == 0:
            cur = labels.agg(F.sum("comp")).collect()[0][0]
            if cur is None or cur == prev_sum:
                break
            prev_sum = cur
        neigh = (
            sym.join(labels.withColumnRenamed("node", "doc_b"), "doc_b")
            .select(F.col("doc_a").alias("node"), "comp"))
        labels = (labels.union(neigh)
                  .groupBy("node").agg(F.min("comp").alias("comp")))
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component"),
        F.when(F.col("node") == F.col("comp"), "true")
        .otherwise("false").alias("is_keeper"))


# Shared oracle building blocks: the LSH-candidate transitive-closure
# CTE chain and the component labeling over it. DD_COMPONENTS_SQL,
# DD_KEEP_LIST_SQL and _curate_sql() all compose these — one
# definition, no positional string surgery.
_REACH_CTES_SQL = f"""shingles AS ({_SHINGLES_SQL}),
bands AS (SELECT unnest(range({N_BANDS})) AS band),
sigs AS ({_CAPPED_SIGS_SQL}),
e AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
reach(node, root) AS (
  SELECT n, n FROM (SELECT a AS n FROM e UNION SELECT b FROM e) t(n)
  UNION
  SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.root
  FROM reach r JOIN e ON r.node IN (e.a, e.b))"""

_COMP_SELECT_SQL = """SELECT node AS doc_id, min(root) AS component,
       CASE WHEN min(root) = node THEN 'true' ELSE 'false' END
         AS is_keeper
FROM reach GROUP BY node"""

DD_COMPONENTS_SQL = f"""
WITH RECURSIVE {_REACH_CTES_SQL}
{_COMP_SELECT_SQL}
"""


def dd_keep_list(spark, sf):
    """The end-to-end dedup DELIVERABLE: which documents survive.
    Composes the verified stages — exact dedup (hash groupBy keeper),
    then near-dup components over the LSH candidates — into the final
    keep-list with a reason per survivor ('unique' / 'exact_keeper' /
    'near_keeper'). A doc survives iff it is its exact-hash group's
    min id AND (it has no near-dup component or it is that component's
    keeper). Plan: the exact stage is one hash agg + self-join on the
    hash; the component stage is dd_components; the composition adds
    one broadcastable left join. Components run over the raw LSH
    candidates here (aggressive); a stricter pipeline feeds
    dd_ngram_jaccard's verified pairs into the same component step —
    the seam is the pair relation, nothing else changes."""
    d = T(spark, sf, "documents")
    ex = dd_exact(spark, sf)  # (h, keeper_id, n_copies)
    comp = dd_components(spark, sf)  # (doc_id, component, is_keeper)
    keepers = (
        d.select("doc_id", F.md5("text").alias("h"))
        .join(ex, "h")
        .filter(F.col("doc_id") == F.col("keeper_id"))
        .select("doc_id", "n_copies")
    )
    out = keepers.join(comp, "doc_id", "left")
    return (
        out.filter(F.col("is_keeper").isNull()
                   | (F.col("is_keeper") == "true"))
        .select(
            "doc_id",
            F.when(F.col("is_keeper").isNotNull(), "near_keeper")
            .when(F.col("n_copies") > 1, "exact_keeper")
            .otherwise("unique").alias("reason"),
        )
    )


_KEEP_CTES_SQL = f"""{_REACH_CTES_SQL},
comp AS ({_COMP_SELECT_SQL}),
ex AS (SELECT md5(text) AS h, min(doc_id) AS keeper_id,
              count(*) AS n_copies
       FROM documents GROUP BY md5(text))"""

_KEEP_SELECT_SQL = """SELECT d.doc_id,
       CASE WHEN c.doc_id IS NOT NULL THEN 'near_keeper'
            WHEN ex.n_copies > 1 THEN 'exact_keeper'
            ELSE 'unique' END AS reason
FROM documents d
JOIN ex ON md5(d.text) = ex.h AND d.doc_id = ex.keeper_id
LEFT JOIN comp c ON c.doc_id = d.doc_id
WHERE c.doc_id IS NULL OR c.is_keeper = 'true'"""

DD_KEEP_LIST_SQL = f"""
WITH RECURSIVE {_KEEP_CTES_SQL}
{_KEEP_SELECT_SQL}
"""


def dd_minhash_num(spark, sf):
    """Numeric MinHash band signatures: the same md5 minhash projected
    to BIGINT (first 15 hex digits, 60 bits). r8: computed map-side
    with array_min over the per-doc shingle array — no explode, no
    aggregate, no Exchange at all (the pre-r8 shape was explode +
    HashAggregate; the array form subsumes it for strings AND
    numerics, so this stays the scale path and dd_minhash_lsh's
    string variant stays the cross-checked candidate generator)."""
    sha = _shingle_arrays(spark, sf)

    def sig(b):
        return F.array_min(F.transform(
            F.col("shs"),
            lambda s: F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(str(b)), s)), 1, 15),
                16, 10,
            ).cast("long")))

    return sha.select(
        "doc_id", *[sig(b).alias(f"sig{b}") for b in range(N_BANDS)])


DD_MINHASH_NUM_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL})
SELECT doc_id,
  {", ".join(
    "min(CAST('0x' || substring(md5(CAST(%d AS VARCHAR) || ':' || shingle),"
    " 1, 15) AS BIGINT)) AS sig%d" % (b, b)
    for b in range(N_BANDS))}
FROM shingles GROUP BY doc_id
"""


def dd_ngram_jaccard(spark, sf):
    """n-gram Jaccard verification of the LSH candidates: exact
    similarity computed ONLY for dd_minhash_lsh survivor pairs (join
    candidates → their shingles), never the full shingle-shingle
    self-join — at corpus scale that would be O(Σ df²) on common
    shingles. Pairs sharing >= 5 shingles are emitted.

    The shingle relation is materialized ONCE (MEMORY_AND_DISK
    persist) and shared by all three consumers — candidate band keys
    plus both verification sides — instead of re-tokenizing the
    corpus 3× (round-2 verdict residual #2). At real scale the same
    seam is a snapshot/temp-table write; the persist is the local
    analog and spills if the shingle set outgrows executor memory.
    r8: the persisted form is the per-doc shingle ARRAY (same bytes,
    50k rows instead of ~10M) — band keys and set sizes derive
    map-side from it, and only the two verification sides explode."""
    from pyspark import StorageLevel

    sha = _shingle_arrays(spark, sf).persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        capped_bucket_pairs(
            _band_keys(sha.select(
                "doc_id", F.explode("shs").alias("shingle"))),
            "key", "doc_id", LSH_BUCKET_CAP)
        .select("doc_a", "doc_b").distinct())
    sizes = sha.select("doc_id", F.size("shs").alias("n"))
    a = sha.select(F.col("doc_id").alias("doc_a"),
                   F.explode("shs").alias("shingle"))
    b = sha.select(F.col("doc_id").alias("doc_b"),
                   F.explode("shs").alias("shingle"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
        .filter(F.col("inter") >= 5)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


DD_JACCARD_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
bands AS (SELECT unnest(range({N_BANDS})) AS band),
sigs AS ({_CAPPED_SIGS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b HAVING count(*) >= 5)
SELECT doc_a, doc_b,
       CAST(round(inter / (sa.n + sb.n - inter), 6) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


def dd_simhash(spark, sf):
    """16-bit SimHash: per-bit majority vote over md5 hex digits of the
    doc's distinct tokens; signature reassembled via shiftleft.

    Token de-dup is per-doc array_distinct BEFORE the explode (set
    semantics are per doc), so the only shuffle is the final
    groupBy(doc_id) of 16 combinable sums — the old relational
    .distinct() pushed every (doc, token-hash) row through an
    Exchange first. The scan is spread (r8): single-row-group input
    otherwise runs the tokenize+md5+votes map work on one task."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(ws_tokens())).alias("token"),
    ).select("doc_id", F.md5("token").alias("h"))
    # per-bit votes in ONE map-side-combinable agg: 16 sum columns over
    # the hashed token (md5 computed once, not once per bit), signature
    # reassembled from the 16 sums without any row blowup.
    votes = [
        (
            (
                F.expr(
                    f"instr('0123456789abcdef', substring(h, {b + 1}, 1))"
                ) - 1
            ) % 2 * 2 - 1
        ).alias(f"v{b}")
        for b in range(16)
    ]
    wide = toks.select("doc_id", *votes).groupBy("doc_id").agg(
        *[F.sum(f"v{b}").alias(f"s{b}") for b in range(16)]
    )
    sig = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
        sig = term if sig is None else sig + term
    return wide.select("doc_id", sig.cast("long").alias("simhash"))


DD_SIMHASH_SQL = f"""
WITH toks AS (SELECT DISTINCT doc_id, token FROM ({_TOKENS_SQL})),
bits AS (SELECT unnest(range(16)) AS bit),
contrib AS (
  SELECT doc_id, bit,
         ((instr('0123456789abcdef',
                 substring(md5(token), CAST(bit AS INT) + 1, 1)) - 1)
          % 2) * 2 - 1 AS vote
  FROM toks, bits),
per_bit AS (
  SELECT doc_id, bit, sum(vote) AS s FROM contrib GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN 1 << CAST(bit AS INT) ELSE 0 END)
            AS BIGINT) AS simhash
FROM per_bit GROUP BY doc_id
"""


def tx_langid_argmax(spark, sf):
    """Language/topic-ID: keyword-hit scores per class, deterministic
    first-wins argmax CASE (the A12 classification shape)."""
    d = T(spark, sf, "documents")
    s1 = sum(
        F.when(F.col("text").contains(k), 1).otherwise(0)
        for k in ("key", "agg", "row"))
    s2 = sum(
        F.when(F.col("text").contains(k), 1).otherwise(0)
        for k in ("scan", "slow", "fast"))
    s3 = sum(
        F.when(F.col("text").contains(k), 1).otherwise(0)
        for k in ("merge", "sort", "window"))
    label = (
        F.when((s1 >= s2) & (s1 >= s3) & (s1 > 0), "query")
        .when((s2 >= s3) & (s2 > 0), "exec")
        .when(s3 > 0, "plan")
        .otherwise("unknown")
    )
    return d.groupBy(label.alias("label")).agg(F.count("*").alias("n"))


TX_LANGID_SQL = """
SELECT label, count(*) AS n FROM (
  SELECT CASE
    WHEN s1 >= s2 AND s1 >= s3 AND s1 > 0 THEN 'query'
    WHEN s2 >= s3 AND s2 > 0 THEN 'exec'
    WHEN s3 > 0 THEN 'plan'
    ELSE 'unknown' END AS label
  FROM (
    SELECT
      (CASE WHEN contains(text, 'key') THEN 1 ELSE 0 END
       + CASE WHEN contains(text, 'agg') THEN 1 ELSE 0 END
       + CASE WHEN contains(text, 'row') THEN 1 ELSE 0 END) AS s1,
      (CASE WHEN contains(text, 'scan') THEN 1 ELSE 0 END
       + CASE WHEN contains(text, 'slow') THEN 1 ELSE 0 END
       + CASE WHEN contains(text, 'fast') THEN 1 ELSE 0 END) AS s2,
      (CASE WHEN contains(text, 'merge') THEN 1 ELSE 0 END
       + CASE WHEN contains(text, 'sort') THEN 1 ELSE 0 END
       + CASE WHEN contains(text, 'window') THEN 1 ELSE 0 END) AS s3
    FROM documents))
GROUP BY label
"""


def tx_quality(spark, sf):
    """Text quality: mean token length, stopword ratio, alpha ratio →
    weighted score (the corpus-filtering primitive). Scan spread (r8):
    the tokenize-heavy projection otherwise runs on one task over the
    single-row-group input."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toks = ws_tokens()
    n_tok = F.size(toks)
    mean_len = F.length(F.regexp_replace("text", r"\s+", "")) / n_tok
    stop_ratio = F.size(
        F.filter(toks, lambda x: x.isin("a", "the", "value", "key"))
    ) / n_tok
    score = F.round(
        0.5 * F.least(mean_len / F.lit(8.0), F.lit(1.0))
        + 0.5 * (1.0 - stop_ratio), 6)
    return d.select(
        "doc_id", F.col("n_chars").alias("n_chars"),
        n_tok.alias("n_tokens"), score.alias("quality"))


TX_QUALITY_SQL = rf"""
SELECT doc_id, n_chars, n_tokens,
       CAST(round(0.5 * least(mean_len / 8.0, 1.0)
                + 0.5 * (1.0 - stop_ratio), 6) AS DOUBLE) AS quality
FROM (
  SELECT doc_id, n_chars,
         len(toks) AS n_tokens,
         length(regexp_replace(text, '\s+', '', 'g'))
           / CAST(len(toks) AS DOUBLE) AS mean_len,
         len(list_filter(toks, x -> x IN ('a', 'the', 'value', 'key')))
           / CAST(len(toks) AS DOUBLE) AS stop_ratio
  FROM (SELECT doc_id, n_chars, text, {WS_TOKS_SQL} AS toks
        FROM documents))
"""


def tx_tokens(spark, sf):
    """Token counting: total + distinct per doc."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toks = ws_tokens()
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    )


TX_TOKENS_SQL = rf"""
SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_unique
FROM (SELECT doc_id, {WS_TOKS_SQL} AS toks
      FROM documents)
"""

# GPT-2-style pre-tokenizer pattern (public: openai/gpt-2 encoder.py),
# no backreferences. \s is NOT portable between Java regex (includes
# \x0B) and RE2 (does not), so the whitespace class is spelled out —
# [ \t\n\x0B\f\r], exactly Java's non-unicode \s — making the two
# engines byte-identical even on vertical tabs.
_WS_CLS = r"[ \t\n\x0B\f\r]"
_BPE_PAT = (r"'s|'t|'re|'ve|'m|'ll|'d"
            rf"| ?\p{{L}}+| ?\p{{N}}+| ?[^{_WS_CLS[1:-1]}\p{{L}}\p{{N}}]+"
            rf"|{_WS_CLS}+")


def tx_tokens_bpe(spark, sf):
    """BPE-ish token counting: the GPT-2 pre-tokenizer regex over raw
    text — the usual 'how many tokens will training see' estimate,
    next to tx_tokens' whitespace count. Whitespace-run matches are
    excluded from the count (they merge into following tokens in real
    BPE)."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
    n_all = F.size(toks)
    n_ws = F.size(F.filter(toks, lambda t: t.rlike(f"^{_WS_CLS}+$")))
    return d.select(
        "doc_id", (n_all - n_ws).alias("n_bpe_tokens"))


TX_TOKENS_BPE_SQL = rf"""
SELECT doc_id,
       len(list_filter(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}'),
                       t -> NOT regexp_matches(t, '^{_WS_CLS}+$')))
         AS n_bpe_tokens
FROM documents
"""


_FP_BLOCK = 4096  # windows materialized at once (mega-doc memory cap)


def tx_fingerprint(spark, sf):
    """Document fingerprint: min md5 over all 8-char windows (rolling-
    hash winnowing, one representative hash per doc).

    Zero-shuffle map: min-of-block-mins over nested transforms — NOT a
    per-position explode + groupBy (which shuffles ~len(text) rows per
    doc), and NOT a single flat transform (which would materialize
    len(text) md5 strings at once for a mega-doc). The inner transform
    evaluates one ≤4096-window block at a time, so peak per-row memory
    is one block regardless of document size; min-of-mins equals the
    global min exactly. tests/test_operators_smoke.py asserts the plan
    has no shuffle beyond the optional input `spread` (r8: the
    md5-per-window map is the heaviest per-char compute in textops —
    2.0s -> 0.3s at sf0.1 on the single-row-group input; at
    production scan widths spread no-ops and the plan is again
    zero-Exchange)."""
    d = spread(T(spark, sf, "documents"), "doc_id").filter(
        F.length("text") >= 8)
    b = _FP_BLOCK
    fp = F.expr(
        f"array_min(transform("
        f"  sequence(0, CAST((length(text) - 8) / {b} AS INT)),"
        f"  blk -> array_min(transform("
        f"    sequence(blk * {b} + 1,"
        f"             least(blk * {b} + {b}, length(text) - 7)),"
        f"    p -> md5(substring(text, p, 8))))))")
    return d.select("doc_id", fp.alias("fingerprint"))


TX_FINGERPRINT_SQL = """
SELECT doc_id, min(md5(substring(text, CAST(p AS INT), 8))) AS fingerprint
FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS p
      FROM documents WHERE length(text) >= 8)
GROUP BY doc_id
"""


def tx_pii_scrub(spark, sf):
    """PII scrubbing: regex redaction of emails + long digit runs
    (standard pre-training hygiene; JVM regexp_replace, no Python)."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555123456"),
        F.col("doc_id").cast("string"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            dirty, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
            "<EMAIL>"),
        r"\d{9,}", "<NUM>")
    return d.select(
        "doc_id", clean.alias("scrubbed"),
        F.regexp_count(clean, F.lit("<EMAIL>")).alias("n_emails"))


TX_PII_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or call 555123456'
                || CAST(doc_id AS VARCHAR),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           '<EMAIL>', 'g'),
         '\d{9,}', '<NUM>', 'g') AS scrubbed,
       len(regexp_extract_all(
         regexp_replace(
           regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555123456'
                  || CAST(doc_id AS VARCHAR),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
           '\d{9,}', '<NUM>', 'g'),
         '<EMAIL>')) AS n_emails
FROM documents
"""


def tx_vocab_topk(spark, sf):
    """Corpus vocabulary: top-20 tokens by document frequency (the
    token-stats sweep every corpus pipeline runs)."""
    toks = (
        T(spark, sf, "documents")
        .select(
            "doc_id",
            F.explode(F.array_distinct(ws_tokens())).alias("token"),
        )
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(20)
    )


TX_VOCAB_SQL = rf"""
SELECT token, count(*) AS doc_freq FROM (
  SELECT DISTINCT doc_id, unnest({WS_TOKS_SQL}) AS token
  FROM documents)
GROUP BY token ORDER BY doc_freq DESC, token ASC LIMIT 20
"""


def tx_hash_sample(spark, sf):
    """Deterministic hash sampling — the reproducible way to subsample
    a training corpus (seed-based sample() differs per engine/run;
    md5-prefix thresholding gives the same ~rate everywhere, is
    re-runnable, and pushes down as a plain filter). Stratified: 25%
    of 'en' docs, 50% of everything else."""
    d = T(spark, sf, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 4), 16, 10).cast("long")
    rate = F.when(F.col("lang") == "en", 0.25).otherwise(0.5)
    kept = d.filter(bucket < rate * 65536)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("first_id"),
    )


TX_HASH_SAMPLE_SQL = """
SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id
FROM documents
WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
           AS BIGINT)
      < (CASE WHEN lang = 'en' THEN 0.25 ELSE 0.5 END) * 65536
GROUP BY lang
"""


def tx_gopher_quality(spark, sf):
    """Gopher-style repetition/quality rules (Rae et al. 2021, public):
    duplicate-trigram fraction, mean word length, symbol-word ratio →
    keep/drop flag. All JVM higher-order functions over the token
    array — zero shuffles, pushes down as a plain projection+filter at
    100 TB (the standard pre-training corpus gate next to tx_quality's
    weighted score)."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toked = d.select("doc_id", ws_tokens().alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    tri = _shingle_col(toks, 3)
    dup_tri = F.when(
        n >= 3,
        F.round(1.0 - F.size(F.array_distinct(tri))
                / F.size(tri).cast("double"), 6),
    ).otherwise(F.lit(0.0))
    mean_len = F.round(
        F.aggregate(toks, F.lit(0),
                    lambda a, x: a + F.length(x)).cast("double") / n, 6)
    sym_ratio = F.round(
        F.size(F.filter(toks, lambda x: ~x.rlike("^[a-z0-9]+$")))
        / n.cast("double"), 6)
    keep = ((dup_tri <= 0.5) & (mean_len >= 2.0) & (mean_len <= 12.0)
            & (sym_ratio <= 0.3))
    return toked.filter(n > 0).select(
        "doc_id",
        dup_tri.alias("dup_trigram_frac"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        F.when(keep, "keep").otherwise("drop").alias("gopher_flag"),
    )


TX_GOPHER_SQL = rf"""
SELECT doc_id,
       CAST(round(CASE WHEN n >= 3
         THEN 1.0 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE)
         ELSE 0.0 END, 6) AS DOUBLE) AS dup_trigram_frac,
       CAST(round(charsum / CAST(n AS DOUBLE), 6) AS DOUBLE)
         AS mean_word_len,
       CAST(round(nsym / CAST(n AS DOUBLE), 6) AS DOUBLE)
         AS symbol_ratio,
       CASE WHEN (CASE WHEN n >= 3
                   THEN 1.0 - len(list_distinct(tri))
                        / CAST(len(tri) AS DOUBLE)
                   ELSE 0.0 END) <= 0.5
             AND charsum / CAST(n AS DOUBLE) BETWEEN 2.0 AND 12.0
             AND nsym / CAST(n AS DOUBLE) <= 0.3
            THEN 'keep' ELSE 'drop' END AS gopher_flag
FROM (
  SELECT doc_id, len(toks) AS n,
         list_transform(range(len(toks) - 2),
           i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])
           AS tri,
         list_sum(list_transform(toks, x -> length(x))) AS charsum,
         len(list_filter(toks,
             x -> NOT regexp_matches(x, '^[a-z0-9]+$'))) AS nsym
  FROM (SELECT doc_id, {WS_TOKS_SQL} AS toks
        FROM documents))
WHERE n > 0
"""


def tx_trigram_ppl(spark, sf):
    """CCNet-style LM quality signal without an external model: train a
    token-trigram LM on the corpus itself (two aggregations), then
    score every document by its mean log2 P(w3 | w1 w2) under that
    model — low scores mark atypical/garbled text, high scores mark
    repetitive boilerplate. Entirely relational: the model IS a pair
    of count tables, scoring is two shuffle joins on the n-gram key +
    one per-doc avg; at 100 TB the model tables prune to
    count >= threshold and broadcast if small enough (AQE decides).
    Self-trained means every doc trigram exists in the model — no
    smoothing branch needed."""
    # (_shingles is not reusable here: it is DISTINCT per doc, and LM
    # training/scoring needs occurrence counts)
    d = spread(T(spark, sf, "documents"), "doc_id")
    toked = d.select("doc_id", ws_tokens().alias("toks")).filter(
        F.size("toks") >= 3)
    toks = F.col("toks")
    tri_struct = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.struct(_ngram(toks, i, 3).alias("tri"),
                           _ngram(toks, i, 2).alias("pre")))
    occ = toked.select(
        "doc_id", F.explode(tri_struct).alias("t")
    ).select("doc_id", "t.tri", "t.pre")
    tri_n = occ.groupBy("tri").agg(F.count("*").alias("tri_n"))
    pre_n = occ.groupBy("pre").agg(F.count("*").alias("pre_n"))
    return (
        occ.join(tri_n, "tri").join(pre_n, "pre")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg(F.log2(F.col("tri_n")
                                 / F.col("pre_n").cast("double"))), 6)
            .alias("avg_log2p"),
        )
    )


# tokenizer spelled out, not {WS_TOKS_SQL}: _ORACLE_TOKENIZER_COPIES
# in tests/test_operators_smoke.py says why
TX_TRIGRAM_PPL_SQL = r"""
WITH toked AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                             x -> x <> '') AS toks
  FROM documents),
occ AS (
  SELECT doc_id,
         toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS tri,
         toks[i + 1] || ' ' || toks[i + 2] AS pre
  FROM toked, LATERAL (SELECT unnest(range(len(toks) - 2)) AS i) t
  WHERE len(toks) >= 3),
tri_n AS (SELECT tri, count(*) AS tri_n FROM occ GROUP BY tri),
pre_n AS (SELECT pre, count(*) AS pre_n FROM occ GROUP BY pre)
SELECT o.doc_id, count(*) AS n_trigrams,
       CAST(round(avg(log2(t.tri_n / CAST(p.pre_n AS DOUBLE))), 6)
            AS DOUBLE) AS avg_log2p
FROM occ o JOIN tri_n t USING (tri) JOIN pre_n p USING (pre)
GROUP BY o.doc_id
"""


_MIX_TARGET = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}


def tx_mix_rebalance(spark, sf):
    """Corpus mix rebalancing — the data-mixing step of a training
    pipeline: given target language proportions, compute per-lang keep
    rates (target share / actual share, renormalized so the largest
    rate is 1.0 — you can only downsample) and apply them with the
    deterministic md5 hash sampler (reproducible across engines/runs,
    pushes down as a plain filter). Output: per-lang kept counts +
    the applied rate. Plan: one tiny counts agg (broadcast), then a
    map-side filter over the scan — no second shuffle until the final
    rollup."""
    d = T(spark, sf, "documents")
    # Fully in-plan (round-4 rewrite of two driver .collect()s): the
    # per-lang counts, the grand total, and the max raw rate are all
    # tiny single/few-row aggregates composed via broadcast joins —
    # zero driver round-trips, and the plan no longer depends on the
    # stratification key being low-cardinality (a high-cardinality
    # key, e.g. domain instead of lang, now just makes the broadcast
    # side bigger instead of serializing through the driver). The
    # double expressions mirror the oracle op-for-op (share /
    # (n_lang / total)) so the 9-dp rates stay bit-identical.
    share = F.coalesce(*[
        F.when(F.col("lang") == k, F.lit(float(v)))
        for k, v in _MIX_TARGET.items()
    ] + [F.lit(0.0)])
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    total = counts.agg(
        F.sum("n_lang").cast("double").alias("total"))  # 1 row
    rated = (
        counts.join(F.broadcast(total))
        .select(
            "lang", "n_lang",
            (share / (F.col("n_lang") / F.col("total")))
            .alias("raw_rate"),
        )
    )
    # Guard both NULL (empty input) and 0.0 (no lang overlaps the
    # target mix): the pre-r4 driver-side code was `max_rate or 1.0`,
    # so 0.0 must also fall back to 1.0 or the division below would
    # produce 0.0/0.0 = NaN rates.
    raw_max = F.max("raw_rate")
    maxr = rated.agg(
        F.when(raw_max > 0, raw_max).otherwise(F.lit(1.0))
        .alias("max_rate"))
    rates = (
        rated.join(F.broadcast(maxr))
        .select(
            "lang", "n_lang",
            F.round(F.col("raw_rate") / F.col("max_rate"), 9)
            .alias("rate"))
    )
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 4), 16, 10).cast("long")
    kept = (
        d.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("rate") * 65536)
    )
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.min("doc_id").alias("first_id"))
        .join(rates.select("lang", "n_lang", "rate"), "lang")
        .select("lang", "n_lang", "rate", "n_kept", "first_id")
    )


def _mix_sql() -> str:
    pairs = ", ".join(f"('{k}', {v})" for k, v in _MIX_TARGET.items())
    return f"""
WITH tgt(lang, share) AS (VALUES {pairs}),
cnt AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
tot AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT c.lang, c.n_lang,
         coalesce(CAST(t.share AS DOUBLE), 0.0)
           / (c.n_lang / CAST(tot.n AS DOUBLE)) AS raw_rate
  FROM cnt c LEFT JOIN tgt t USING (lang), tot),
rates AS (
  -- mirror the Spark-side zero guard (pre-r4 `max_rate or 1.0`): an
  -- unguarded 0.0/0.0 is NULL on DuckDB 1.0 but NaN on >= 1.1, and
  -- DuckDB orders NaN above everything — the degenerate all-zero-mix
  -- corpus would then keep the whole corpus in the oracle only
  SELECT lang, n_lang,
         round(raw_rate / (SELECT CASE WHEN max(raw_rate) > 0
                           THEN max(raw_rate) ELSE 1.0 END FROM raw), 9)
           AS rate
  FROM raw),
kept AS (
  SELECT d.lang, d.doc_id
  FROM documents d JOIN rates r USING (lang)
  WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
             AS BIGINT) < r.rate * 65536)
SELECT k.lang, r.n_lang, r.rate,
       count(*) AS n_kept, min(k.doc_id) AS first_id
FROM kept k JOIN rates r USING (lang)
GROUP BY k.lang, r.n_lang, r.rate
"""


DECONTAM_N = 13   # canonical eval-overlap n-gram size (GPT-3 App. C)
DECONTAM_MOD = 7  # deterministic benchmark subset: doc_id % MOD == 0


def tx_decontam(spark, sf):
    """Benchmark decontamination — the eval-overlap gate of a training
    pipeline (GPT-3 Appendix C / PaLM style): flag corpus documents
    sharing any 13-gram with a held-out benchmark set. The benchmark
    here is the deterministic subset doc_id % 7 == 0 (a stand-in for
    the real eval suites, which are tiny next to the corpus).

    Scale shape: the benchmark's distinct 13-gram hashes are a small
    relation → BROADCAST to every executor; the corpus side builds its
    n-gram hashes map-side (array transform, no shuffle), explodes,
    and hits the broadcast hash join in-stream — the only shuffle is
    the per-doc rollup of MATCHED rows, which is tiny (contamination
    is rare by construction). At 100 TB nothing but the hits ever
    leaves the scan stage. Hashes (md5) stand in for the 64-bit
    fingerprints a production run would broadcast instead of strings."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    toked = d.select("doc_id", ws_tokens().alias("toks")).filter(
        F.size("toks") >= DECONTAM_N)
    # the window array is built inline at each explode site (r8: the
    # [_shingles] cost trap, 7.1s -> 0.6s here at sf0.1)
    bench = (
        toked.filter(F.col("doc_id") % DECONTAM_MOD == 0)
        .select(F.explode(token_windows("toks", DECONTAM_N)).alias("g"))
        .distinct()
    )
    hits = (
        toked.filter(F.col("doc_id") % DECONTAM_MOD != 0)
        .select("doc_id", F.size("toks").alias("n_toks"),
                F.explode(token_windows("toks", DECONTAM_N)).alias("g"))
        .join(F.broadcast(bench), "g")
    )
    n_ngrams = (F.max("n_toks") - DECONTAM_N + 1).cast("long")
    return (
        hits.groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hit"), n_ngrams.alias("n_ngrams"))
        .select(
            "doc_id", "n_ngrams", "n_hit",
            F.round(F.col("n_hit") / F.col("n_ngrams").cast("double"), 6)
            .alias("contam_frac"),
        )
    )


TX_DECONTAM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKS_SQL} AS t
  FROM documents),
ng AS (
  SELECT doc_id, len(t) AS n_toks,
         list_transform(range(len(t) - {DECONTAM_N} + 1),
           i -> md5(array_to_string(t[i + 1:i + {DECONTAM_N}], ' '))) AS gs
  FROM toks WHERE len(t) >= {DECONTAM_N}),
bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM ng
  WHERE doc_id % {DECONTAM_MOD} = 0)
SELECT n.doc_id,
       max(n.n_toks) - {DECONTAM_N} + 1 AS n_ngrams,
       count(DISTINCT u.g) AS n_hit,
       CAST(round(count(DISTINCT u.g)
             / CAST(max(n.n_toks) - {DECONTAM_N} + 1 AS DOUBLE), 6)
            AS DOUBLE) AS contam_frac
FROM ng n, LATERAL (SELECT unnest(n.gs) AS g) u
JOIN bench b ON b.g = u.g
WHERE n.doc_id % {DECONTAM_MOD} <> 0
GROUP BY n.doc_id
"""


SEGMENT_N = 8  # disjoint token-window width for cross-doc span dedup


def dd_common_segments(spark, sf):
    """Cross-document common-span detection (the C4 'repeated
    three-sentence span' rule re-expressed over token windows):
    chunk every document into DISJOINT 8-token segments, hash each,
    and report segments occurring in ≥2 distinct documents. Downstream
    a pipeline removes or keeps-one of these spans; the report itself
    (hash, doc count, first doc) is the auditable artifact.

    Scale shape: disjoint chunking keeps the exploded relation at
    n_tokens/8 rows (vs n_tokens for sliding shingles); the single
    shuffle is a map-side-combinable hash aggregate on the segment
    hash, and the ≥2-docs filter runs post-aggregate (HAVING) so only
    true repeats survive. No join, no window sort, no squaring."""
    d = T(spark, sf, "documents")
    toked = d.select("doc_id", ws_tokens().alias("toks")).filter(
        F.size("toks") >= SEGMENT_N)
    segs = toked.select(
        "doc_id",
        F.explode(token_windows("toks", SEGMENT_N, SEGMENT_N))
        .alias("seg_hash"))
    return (
        segs.groupBy("seg_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 2)
    )


DD_SEGMENTS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKS_SQL} AS t
  FROM documents),
segs AS (
  SELECT doc_id, md5(array_to_string(
           t[g * {SEGMENT_N} + 1:g * {SEGMENT_N} + {SEGMENT_N}], ' '))
         AS seg_hash
  FROM toks,
       LATERAL (SELECT unnest(range(len(t) // {SEGMENT_N})) AS g) u
  WHERE len(t) >= {SEGMENT_N})
SELECT seg_hash, count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS first_doc
FROM segs
GROUP BY seg_hash
HAVING count(DISTINCT doc_id) >= 2
"""


def tx_curate(spark, sf):
    """The end-to-end CURATION deliverable — what a training run
    actually consumes: the dedup keep-list (exact keepers ∩ near-dup
    component keepers), annotated per survivor with the Gopher
    keep/drop flag and the benchmark-contamination flag, plus the
    final curated verdict (kept ∧ gopher-keep ∧ not contaminated).
    One row per dedup survivor, auditable reasons on every column —
    the three stages are the already-oracled dd_keep_list /
    tx_gopher_quality / tx_decontam, composed here by two left joins.

    Scale shape: keep-list and gopher are per-doc projections of their
    stages (no new shuffles beyond what the stages own); the contam
    relation is tiny (hits only) and broadcasts; both joins are on the
    doc_id key the keep-list already carries."""
    keep = dd_keep_list(spark, sf)
    gopher = tx_gopher_quality(spark, sf).select("doc_id", "gopher_flag")
    contam = tx_decontam(spark, sf).select(
        "doc_id", F.lit("true").alias("contam"))
    out = (
        keep.join(gopher, "doc_id", "left")
        .join(F.broadcast(contam), "doc_id", "left")
    )
    gflag = F.coalesce("gopher_flag", F.lit("drop"))
    cflag = F.coalesce("contam", F.lit("false"))
    return out.select(
        "doc_id",
        F.col("reason").alias("dedup_reason"),
        gflag.alias("gopher_flag"),
        cflag.alias("contaminated"),
        F.when((gflag == "keep") & (cflag == "false"), "true")
        .otherwise("false").alias("curated"),
    )


def _curate_sql() -> str:
    """Compose the three stage oracles from the shared CTE constants:
    the keep-list CTE chain, its final SELECT as the `keep` CTE, and
    gopher/contam as additional CTEs."""
    return f"""
WITH RECURSIVE {_KEEP_CTES_SQL},
keep AS ({_KEEP_SELECT_SQL}),
gopher AS ({TX_GOPHER_SQL}),
contam AS ({TX_DECONTAM_SQL})
SELECT k.doc_id, k.reason AS dedup_reason,
       coalesce(g.gopher_flag, 'drop') AS gopher_flag,
       CASE WHEN c.doc_id IS NOT NULL THEN 'true' ELSE 'false' END
         AS contaminated,
       CASE WHEN coalesce(g.gopher_flag, 'drop') = 'keep'
             AND c.doc_id IS NULL THEN 'true' ELSE 'false' END
         AS curated
FROM keep k
LEFT JOIN gopher g ON g.doc_id = k.doc_id
LEFT JOIN contam c ON c.doc_id = k.doc_id
"""


NEW_BATCH_MOD = 5  # deterministic "new crawl batch": doc_id % 5 == 0


def dd_incremental(spark, sf):
    """Incremental dedup — the shape every RECURRING crawl actually
    runs: dedup a NEW batch against the historical corpus (not
    all-pairs over everything). Verdict per new doc: exact_dup (md5
    seen before), near_dup_candidate (shares an LSH band signature
    with history), or new_unique. The batch here is the deterministic
    slice doc_id % 5 == 0; history is the rest.

    Scale shape: the new batch is small next to history, so BOTH
    probes BROADCAST the new side and stream the historical table
    through a broadcast hash join — history is never shuffled, and
    only matching rows reach the distinct/rollup. Semi-join semantics
    (EXISTS, not pair expansion) mean a viral boilerplate signature
    cannot square — no bucket cap needed. In production the historical
    band signatures are a persisted catalog table (the SnapshotCatalog
    append/compact seam) so each batch computes signatures only for
    its own docs; here both sides derive from `documents` because
    that is the only input table."""
    d = T(spark, sf, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    hist_hashes = d.filter(~is_new).select(F.md5("text").alias("h"))
    hist_sigs = _band_keys(_shingles(spark, sf)).filter(
        F.col("doc_id") % NEW_BATCH_MOD != 0)
    return incremental_verdicts(d.filter(is_new), hist_hashes, hist_sigs)


def incremental_verdicts(new_docs: DataFrame,
                         hist_hashes: DataFrame,
                         hist_sigs: DataFrame) -> DataFrame:
    """The production form of dd_incremental: history arrives as two
    PERSISTED relations — (h) md5 hashes and (key) band signatures,
    e.g. SnapshotCatalog tables appended per crawl batch — so each run
    computes hashes/signatures ONLY for its own new docs and probes
    the catalog. Same verdict semantics and plan shape as
    dd_incremental (new side broadcast, history streamed, EXISTS
    probes); dd_incremental is this function applied to the mod-5
    split of `documents`, recomputing history because the driver
    contract has a single input table. Integration-tested against a
    real SnapshotCatalog round-trip in tests/test_catalog_model.py."""
    new_h = new_docs.select("doc_id", F.md5("text").alias("h"))
    exact = (
        hist_hashes.select("h").join(F.broadcast(new_h), "h")
        .select("doc_id").distinct()
        .withColumn("exact", F.lit("true"))
    )
    new_s = _band_keys(_doc_shingles(new_docs, exploded=True))
    near = (
        hist_sigs.select("key").join(F.broadcast(new_s), "key")
        .select("doc_id").distinct()
        .withColumn("near", F.lit("true"))
    )
    return (
        new_h.select("doc_id")
        .join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact").isNotNull(), "exact_dup")
            .when(F.col("near").isNotNull(), "near_dup_candidate")
            .otherwise("new_unique").alias("verdict"),
        )
    )


DD_INCREMENTAL_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
bands AS (SELECT unnest(range({N_BANDS})) AS band),
sigs AS (
  SELECT doc_id, band,
         min(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS sig
  FROM shingles, bands GROUP BY doc_id, band),
new AS (SELECT doc_id, md5(text) AS h FROM documents
        WHERE doc_id % {NEW_BATCH_MOD} = 0),
hist AS (SELECT md5(text) AS h FROM documents
         WHERE doc_id % {NEW_BATCH_MOD} <> 0),
exact_hit AS (
  SELECT DISTINCT n.doc_id FROM new n JOIN hist h ON h.h = n.h),
near_hit AS (
  SELECT DISTINCT ns.doc_id
  FROM sigs ns JOIN sigs hs
    ON ns.band = hs.band AND ns.sig = hs.sig
  WHERE ns.doc_id % {NEW_BATCH_MOD} = 0
    AND hs.doc_id % {NEW_BATCH_MOD} <> 0)
SELECT n.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nh.doc_id IS NOT NULL THEN 'near_dup_candidate'
            ELSE 'new_unique' END AS verdict
FROM new n
LEFT JOIN exact_hit e ON e.doc_id = n.doc_id
LEFT JOIN near_hit nh ON nh.doc_id = n.doc_id
"""


BLOOM_M = 8192   # bloom bits; small on purpose so sf0.01 exercises FPs
BLOOM_K = 3      # hash functions per key


def dd_bloom_incremental(spark, sf):
    """Bloom-filter incremental exact dedup — the constant-memory way
    to probe a new crawl batch against a 10^12-row history: the
    history is folded into a FIXED-SIZE bit set (BLOOM_M bits, BLOOM_K
    positions per key via independent md5-derived hashes), and a new
    doc is `maybe_dup` iff ALL its K positions are set. No false
    negatives by construction; false positives at the classic
    (1-e^(-kn/m))^k rate — BLOOM_M is deliberately small here so the
    sf0.01 corpus exercises real FPs, which the verdict column makes
    visible by cross-checking exact membership (`false_positive` =
    bloom hit whose md5 is NOT in history).

    Scale shape: the filter is represented relationally as the
    DISTINCT set of set bit positions — bounded by BLOOM_M rows
    regardless of history size (the bitmap in join-able clothing), so
    it BROADCASTS and membership is a broadcast-hash-join map over the
    new batch; history is scanned once, map-side-distinct'd to <= M
    values, and never reshuffled. In production the position set (or
    the equivalent packed LongArray) is a persisted catalog artifact
    appended per batch — same seam as incremental_verdicts; the exact
    md5 probe here exists only to label FPs for the quality readout.
    Batch split: doc_id % NEW_BATCH_MOD == 0 is the new batch, same
    convention as dd_incremental. Reference parity: extends the
    dedup family of enterprise_table_extractor_full.py (seen-hash
    skip) to the bounded-memory streaming form."""
    d = T(spark, sf, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0

    def positions(df):
        return df.select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    (F.conv(F.substring(F.md5(F.concat_ws(
                        "|bloom|", F.lit(str(j)), "text")), 1, 15),
                        16, 10).cast("long") % BLOOM_M).alias("pos"),
                ) for j in range(BLOOM_K)
            ])).alias("jp"),
        ).select("doc_id", F.col("jp.j").alias("j"),
                 F.col("jp.pos").alias("pos"))

    bits = (positions(d.filter(~is_new))
            .select("pos").distinct())          # <= BLOOM_M rows
    hist_h = d.filter(~is_new).select(F.md5("text").alias("h")).distinct()
    new = d.filter(is_new)
    hits = (
        positions(new)
        .join(F.broadcast(bits), "pos")
        .groupBy("doc_id")
        .agg(F.count_distinct("j").alias("n_hit"))
    )
    exact = (
        new.select("doc_id", F.md5("text").alias("h"))
        .join(F.broadcast(hist_h), "h")
        .select("doc_id").withColumn("ex", F.lit(1))
    )
    return (
        new.select("doc_id")
        .join(hits, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.when(F.coalesce("n_hit", F.lit(0)) < BLOOM_K, "fresh")
            .when(F.col("ex").isNotNull(), "dup")
            .otherwise("false_positive").alias("verdict"),
        )
    )


DD_BLOOM_SQL = f"""
WITH ks AS (SELECT unnest(range({BLOOM_K})) AS j),
pos AS (
  SELECT doc_id, j,
         CAST('0x' || substring(md5(CAST(j AS VARCHAR) || '|bloom|' || text),
                                1, 15) AS BIGINT) % {BLOOM_M} AS pos
  FROM documents, ks),
bits AS (SELECT DISTINCT pos FROM pos
         WHERE doc_id % {NEW_BATCH_MOD} <> 0),
hist AS (SELECT DISTINCT md5(text) AS h FROM documents
         WHERE doc_id % {NEW_BATCH_MOD} <> 0),
new AS (SELECT doc_id, md5(text) AS h FROM documents
        WHERE doc_id % {NEW_BATCH_MOD} = 0),
hits AS (
  SELECT p.doc_id, CAST(count(DISTINCT p.j) AS BIGINT) AS n_hit
  FROM pos p JOIN bits b ON b.pos = p.pos
  WHERE p.doc_id % {NEW_BATCH_MOD} = 0
  GROUP BY p.doc_id)
SELECT n.doc_id,
       coalesce(h.n_hit, 0) AS n_hit,
       CASE WHEN coalesce(h.n_hit, 0) < {BLOOM_K} THEN 'fresh'
            WHEN e.h IS NOT NULL THEN 'dup'
            ELSE 'false_positive' END AS verdict
FROM new n
LEFT JOIN hits h ON h.doc_id = n.doc_id
LEFT JOIN hist e ON e.h = n.h
"""


PACK_CAP = 2048      # tokens per packed training sequence
PACK_BUCKET = 256    # docs per prefix-sum bucket (see tx_pack_sequences)


def tx_pack_sequences(spark, sf):
    """GPT-style sequence packing offsets: concatenate all documents
    in doc_id order into one token stream and cut it into fixed
    PACK_CAP-token training sequences (documents may straddle cuts —
    the standard causal-LM packing). Emits per doc: its token count,
    its start offset in the global stream, and the first/last
    sequence ids it lands in.

    The scale problem is the GLOBAL running sum: a naive
    Window.orderBy(doc_id) cumsum is a single-partition sort of the
    full corpus. This plan is the classic two-level parallel prefix
    sum instead: (1) bucket docs by doc_id // PACK_BUCKET and window
    WITHIN buckets (parallel, partitioned), (2) cumsum the tiny
    per-bucket totals table (rows = n_docs/PACK_BUCKET; the only
    unpartitioned window, over thousands of rows per billion docs —
    recurse the same trick if that ever matters), (3) broadcast-join
    the bucket bases back. Exact integer math end-to-end, so the
    DuckDB oracle (a plain window cumsum) hash-matches."""
    return _pack_offsets(spark, sf, with_toks=False).select(
        "doc_id", "n_tokens", "start_offset", "first_seq", "last_seq")


def _pack_offsets(spark, sf, *, with_toks: bool):
    """Shared two-level-prefix-sum core of the packing family: per
    doc (doc_id, [toks,] n_tokens, start_offset, first_seq,
    last_seq). `with_toks` carries the token array through for the
    payload materializer; the offsets query drops it before the
    shuffle so only 16 bytes/doc move."""
    d = T(spark, sf, "documents")
    toks = ws_tokens()
    cols = [F.col("doc_id"), F.size(toks).alias("n_tokens"),
            (F.col("doc_id") / PACK_BUCKET).cast("long").alias("bucket")]
    if with_toks:
        cols.insert(1, toks.alias("toks"))
    per_doc = d.select(*cols)
    bucket_tot = per_doc.groupBy("bucket").agg(
        F.sum("n_tokens").alias("tot"))
    w_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1)
    bases = bucket_tot.select(
        "bucket",
        F.coalesce(F.sum("tot").over(w_buckets), F.lit(0)).alias("base"),
    )
    w_intra = (Window.partitionBy("bucket").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    start = (F.col("base")
             + F.coalesce(F.sum("n_tokens").over(w_intra), F.lit(0)))
    first_seq = F.floor(start / PACK_CAP)
    last_tok = start + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    keep = (["doc_id", "toks"] if with_toks else ["doc_id"])
    return (
        per_doc.join(F.broadcast(bases), "bucket")
        .select(
            *keep, "n_tokens",
            start.cast("long").alias("start_offset"),
            first_seq.cast("long").alias("first_seq"),
            # zero-token docs sit AT their offset: last = first
            F.floor(last_tok / PACK_CAP).cast("long").alias("last_seq"),
        )
    )


def tx_pack_payloads(spark, sf):
    """Packed-batch MATERIALIZER — the step that actually produces
    training rows: every PACK_CAP-token sequence's payload assembled
    from the (possibly many, possibly partial) documents that land in
    it. Per doc, explode its [first_seq, last_seq] range (guaranteed
    non-descending: zero-token docs are filtered), slice the token
    span that intersects each sequence window, then one hash agg per
    sequence stitches the parts in start-offset order (array_sort on
    a (start, part) struct — deterministic, no Window) and fingerprints
    the payload. Two shuffles move the payload: the bucket window and
    the final per-sequence agg — the minimum for a materializer whose
    OUTPUT is the payload. The oracle rebuilds every sequence with
    the same window cumsum + list slicing and an ORDER BY string_agg;
    md5 equality pins token-exact payload assembly."""
    per = _pack_offsets(spark, sf, with_toks=True).filter(
        F.col("n_tokens") >= 1)
    ex = per.select(
        "doc_id", "toks", "n_tokens", "start_offset",
        F.explode(F.expr("sequence(first_seq, last_seq)")).alias("seq"))
    lo = F.greatest(F.lit(0), F.col("seq") * PACK_CAP
                    - F.col("start_offset"))
    hi = F.least(F.col("n_tokens"),
                 (F.col("seq") + 1) * PACK_CAP - F.col("start_offset"))
    parts = ex.select(
        "seq", "start_offset",
        F.slice("toks", (lo + 1).cast("int"),
                (hi - lo).cast("int")).alias("part"),
        (hi - lo).cast("long").alias("k"))
    stitched = F.array_join(
        F.flatten(F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col("start_offset").alias("s"),
                F.col("part").alias("p")))),
            lambda x: x["p"])), " ")
    return (
        parts.groupBy("seq")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("k").alias("n_tokens"),
            F.md5(stitched).alias("payload_md5"))
        .select(F.col("seq").alias("seq_id"), "n_docs", "n_tokens",
                "payload_md5")
    )


# tokenizer spelled out, not {WS_TOKS_SQL}: _ORACLE_TOKENIZER_COPIES
# in tests/test_operators_smoke.py says why
TX_PACK_PAYLOADS_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
c AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST(COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_offset
  FROM t),
ex AS (
  SELECT doc_id, toks, n, start_offset, s.s AS seq,
         greatest(0, s.s * {PACK_CAP} - start_offset) AS lo,
         least(n, (s.s + 1) * {PACK_CAP} - start_offset) AS hi
  FROM c, LATERAL (SELECT unnest(range(start_offset // {PACK_CAP},
                   (start_offset + n - 1) // {PACK_CAP} + 1)) AS s) s
  WHERE n >= 1)
SELECT seq AS seq_id, count(*) AS n_docs,
       CAST(SUM(hi - lo) AS BIGINT) AS n_tokens,
       md5(string_agg(array_to_string(toks[lo + 1 : hi], ' '), ' '
                      ORDER BY start_offset)) AS payload_md5
FROM ex
GROUP BY seq
"""


# tokenizer spelled out, not {WS_TOKS_SQL}: _ORACLE_TOKENIZER_COPIES
# in tests/test_operators_smoke.py says why
TX_PACK_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_offset
  FROM t)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, start_offset,
       CAST(start_offset // {PACK_CAP} AS BIGINT) AS first_seq,
       CAST((start_offset + greatest(n_tokens, 1) - 1) // {PACK_CAP}
         AS BIGINT) AS last_seq
FROM c
"""


CHUNK_TOKENS = 64   # tokens per chunk window
CHUNK_STRIDE = 48   # window stride (64 - 48 = 16-token overlap)


def tx_chunk_windows(spark, sf):
    """Sliding-window chunking (RAG / long-doc training prep): per
    document, overlapping windows of CHUNK_TOKENS tokens every
    CHUNK_STRIDE — zero-shuffle map side: split → guarded sequence →
    posexplode → slice/concat_ws, all JVM HOFs.

    Its last chunk is ragged, so it is not a [token_windows] shape,
    but its chunk-count sequence is wrapped in a lazy CASE for the
    same reason: the sequence must be total (see there)."""
    d = T(spark, sf, "documents")
    toked = d.select("doc_id", ws_tokens().alias("toks"))
    chunk_ids = F.expr(
        f"CASE WHEN size(toks) >= 1 THEN "
        f"sequence(0, CAST((size(toks) - 1) / {CHUNK_STRIDE} AS INT)) "
        f"ELSE array() END")
    ex = toked.select(
        "doc_id", "toks",
        F.explode(chunk_ids).alias("chunk_id"))
    s0 = F.col("chunk_id") * CHUNK_STRIDE
    return ex.select(
        "doc_id",
        "chunk_id",
        s0.cast("int").alias("chunk_start"),
        F.least(F.lit(CHUNK_TOKENS), F.size("toks") - s0)
        .cast("int").alias("chunk_tokens"),
        F.concat_ws(
            " ", F.slice("toks", s0 + 1, CHUNK_TOKENS))
        .alias("chunk_text"),
    )


TX_CHUNK_SQL = rf"""
WITH toked AS (
  SELECT doc_id, {WS_TOKS_SQL} AS toks
  FROM documents)
SELECT doc_id, i.i AS chunk_id,
       CAST(i.i * {CHUNK_STRIDE} AS INT) AS chunk_start,
       CAST(least({CHUNK_TOKENS},
                  len(toks) - i.i * {CHUNK_STRIDE}) AS INT)
         AS chunk_tokens,
       array_to_string(
         toks[i.i * {CHUNK_STRIDE} + 1 : i.i * {CHUNK_STRIDE}
              + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM toked,
     LATERAL (SELECT unnest(range((len(toks) - 1) // {CHUNK_STRIDE}
                                  + 1)) AS i) i
WHERE len(toks) >= 1
"""


def dd_url_canonical(spark, sf):
    """URL-canonicalization dedup — the first dedup pass of every
    crawl pipeline: the same page arrives under scheme/host case
    variants, default ports, tracking parameters (utm_*, fbclid,
    gclid), fragments and trailing slashes. Deterministic crawl-style
    variant URLs are synthesized per doc (three variant shapes per
    page key = doc_id // 3), then canonicalized with a pure-JVM
    regexp chain (lowercase scheme+host, strip :443, drop fragment,
    strip tracking params + dangling separators, strip trailing
    slash) and deduplicated by min-doc_id keeper per canonical URL.
    Plan: scalar projection → one shuffle on canonical_url for the
    keeper window — no joins, no Python. The oracle replays the same
    chain in RE2 (DuckDB) — separator cleanup and backreference
    behavior must agree across regex engines, which is exactly what
    the hash check pins."""
    d = T(spark, sf, "documents")
    # host derives from the PAGE key (not the row) so each 3-doc
    # variant group shares a host and really collapses to one keeper
    pg = (F.col("doc_id") / 3).cast("long")
    page = pg.cast("string")
    host = F.concat(F.lit("s"), (pg % 20).cast("string"))
    did = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 3
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://WWW."), host,
            F.lit(".example:443/articles/"), page,
            F.lit("/?utm_source=feed&utm_campaign=c"), did))
        .when(v == 1, F.concat(
            F.lit("HTTPS://www."), host,
            F.lit(".Example/articles/"), page,
            F.lit("?fbclid=fb"), did, F.lit("#section-2")))
        .otherwise(F.concat(
            F.lit("https://www."), host,
            F.lit(".example/articles/"), page)))
    c = F.regexp_replace(url, "#.*$", "")               # fragment
    head = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
    c = F.concat(F.lower(F.regexp_extract(c, head, 0)),  # scheme+host
                 F.regexp_replace(c, head, ""))          # lowercased
    c = F.regexp_replace(c, ":443/", "/")                # default port
    c = F.regexp_replace(                                # tracking
        c, "([?&])(utm_[^&=#]*|fbclid|gclid)=[^&#]*", "$1")
    c = F.regexp_replace(c, r"\?&", "?")                 # dangling sep
    c = F.regexp_replace(c, "&&", "&")
    c = F.regexp_replace(c, "[?&]$", "")
    c = F.regexp_replace(c, "/$", "")                    # trail slash
    keeper = F.min("doc_id").over(
        Window.partitionBy("canonical_url"))
    return (
        d.select("doc_id", url.alias("url"), c.alias("canonical_url"))
        .withColumn("keeper_id", keeper)
        .select(
            "doc_id", "url", "canonical_url", "keeper_id",
            F.when(F.col("doc_id") == F.col("keeper_id"), "false")
            .otherwise("true").alias("is_dup"))
    )


DD_URL_CANONICAL_SQL = r"""
WITH u AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 'https://WWW.s' || CAST((doc_id // 3) % 20 AS VARCHAR)
             || '.example:443/articles/' || CAST(doc_id // 3 AS VARCHAR)
             || '/?utm_source=feed&utm_campaign=c' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN 'HTTPS://www.s' || CAST((doc_id // 3) % 20 AS VARCHAR)
             || '.Example/articles/' || CAST(doc_id // 3 AS VARCHAR)
             || '?fbclid=fb' || CAST(doc_id AS VARCHAR) || '#section-2'
           ELSE 'https://www.s' || CAST((doc_id // 3) % 20 AS VARCHAR)
             || '.example/articles/' || CAST(doc_id // 3 AS VARCHAR)
         END AS url
  FROM documents),
canon AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0))
                   || regexp_replace(regexp_replace(url, '#.*$', ''),
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
                   ':443/', '/', 'g'),
                 '([?&])(utm_[^&=#]*|fbclid|gclid)=[^&#]*', '\1', 'g'),
               '\?&', '?', 'g'),
             '&&', '&', 'g'),
           '[?&]$', '') AS canonical_url
  FROM u)
, canon2 AS (
  SELECT doc_id, url,
         regexp_replace(canonical_url, '/$', '') AS canonical_url
  FROM canon)
SELECT doc_id, url, canonical_url,
       min(doc_id) OVER (PARTITION BY canonical_url) AS keeper_id,
       CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
            THEN 'false' ELSE 'true' END AS is_dup
FROM canon2
"""


# BM25 retrieval constants (Robertson/Sparck-Jones, public): k1/b the
# textbook defaults, a fixed literal query so the op is deterministic.
# The retrieval use in a training pipeline is eval-set decontamination
# and targeted data selection ("find the docs most like this probe").
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
BM25_TERMS = ("spark", "vector", "stream", "customer", "window")


def tx_bm25_topk(spark, sf):
    """BM25 top-k retrieval over the corpus for a fixed query-term
    set — the ranking primitive behind retrieval-based decontamination
    and data selection. Per-term tf is computed map-side as
    size(filter(toks)) over the broadcast term list (no explode, no
    (doc, term) shuffle); N, sum(dl), and per-term document
    frequencies all come from ONE partial-aggregated single-row stats
    pass that broadcasts back; the final top-k is an ordered limit
    (TakeOrderedAndProject — no global sort materializes). Net plan:
    two linear corpus passes + a 1-row broadcast, zero wide shuffles.
    Scores are rounded to 6 dp (the tx_trigram_ppl log-parity
    convention) and ties break on doc_id via the rounded score, so
    the top-k set is cross-engine deterministic."""
    d = T(spark, sf, "documents")
    toks = ws_tokens()
    nt = len(BM25_TERMS)
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        # one-arg lambda factory: a two-arg lambda would receive the
        # ARRAY INDEX as its second argument, not the closed-over term
        *[F.size(F.filter(toks, (lambda t: lambda x: x == t)(t)))
          .cast("long").alias(f"tf{i}")
          for i, t in enumerate(BM25_TERMS)],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
          for i in range(nt)],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def term(i):
        # idf * saturated-tf; expression grouping mirrors the oracle
        # token-for-token so the 6-dp rounding boundaries agree
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5)))
        tf = F.col(f"tf{i}").cast("double")
        return idf * (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl))

    score = term(0)
    for i in range(1, nt):
        score = score + term(i)
    return (
        base.join(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def _bm25_sql() -> str:
    nt = len(BM25_TERMS)
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_TERMS))
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}" for i in range(nt))
    terms = "\n      + ".join(
        f"ln(1.0::DOUBLE + (n_docs - df{i} + 0.5::DOUBLE)"
        f" / (df{i} + 0.5::DOUBLE))"
        f" * (tf{i} * ({BM25_K1}::DOUBLE + 1.0::DOUBLE))"
        f" / (tf{i} + {BM25_K1}::DOUBLE * (1.0::DOUBLE - {BM25_B}::DOUBLE"
        f" + {BM25_B}::DOUBLE * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))"
        for i in range(nt))
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, {WS_TOKS_SQL} AS toks FROM documents)),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_cols}
  FROM base),
scored AS (
  SELECT doc_id,
    round({terms}, 6) AS bm25
  FROM base, stats)
SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


def tx_ccnet_bucket(spark, sf):
    """CCNet's head/middle/tail perplexity bucketing (Wenzek et al.
    2020, public): rank every doc per LANGUAGE by its LM score
    (avg_log2p from the self-trained trigram LM — higher = more
    fluent = lower perplexity) and cut into exact terciles: head =
    the most fluent first third (what CCNet keeps for LM training),
    tail = the garbled last third. Composes the audited
    tx_trigram_ppl stage unchanged; bucketing is pure integer
    arithmetic on the per-lang rank (rank*3 <= n etc.), ties on the
    6-dp score broken by doc_id — no float boundary can flip a
    bucket cross-engine.

    Scale shape: the rank window partitions by lang (the CCNet
    grouping) — no single-partition sort; at a 10^12-doc scale the
    same cut uses approx_percentile cutoffs per lang instead of the
    exact rank (the ev_quantiles caveat, documented there)."""
    ppl = tx_trigram_ppl(spark, sf)
    d = T(spark, sf, "documents").select("doc_id", "lang")
    j = ppl.join(d, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_log2p"), F.asc("doc_id"))
    wn = Window.partitionBy("lang")
    ranked = (j.withColumn("rk", F.row_number().over(w))
              .withColumn("n", F.count("*").over(wn)))
    bucket = (F.when(F.col("rk") * 3 <= F.col("n"), "head")
              .when(F.col("rk") * 3 <= F.col("n") * 2, "middle")
              .otherwise("tail"))
    return ranked.select(
        "doc_id", "lang", "avg_log2p",
        bucket.alias("ppl_bucket"))


TX_CCNET_SQL = f"""
WITH ppl AS ({TX_TRIGRAM_PPL_SQL}),
ranked AS (
  SELECT p.doc_id, d.lang, p.avg_log2p,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY p.avg_log2p DESC,
                                     p.doc_id ASC) AS rk,
         CAST(count(*) OVER (PARTITION BY d.lang) AS BIGINT) AS n
  FROM ppl p JOIN documents d ON d.doc_id = p.doc_id)
SELECT doc_id, lang, avg_log2p,
       CASE WHEN rk * 3 <= n THEN 'head'
            WHEN rk * 3 <= n * 2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM ranked
"""


RARE_DF_CAP = 16      # inverted-index prune: pair only on shingles
                      # seen in <= this many docs
CONT_MIN_SHARED = 3   # candidate pairs must share this many rare
                      # shingles before exact verification
CONT_TOPK = 50
CONT_TAU = 0.8        # containment flag threshold


def dd_containment(spark, sf):
    """Shingle-containment detection — the one-sided near-dup measure
    Jaccard misses: a short doc quoted whole inside a long page has
    C = inter/|small| ~= 1 but Jaccard ~ |small|/|big| (tiny), so
    MinHash-LSH (tuned for symmetric similarity) never surfaces the
    pair. Candidates come from a doc-frequency-capped inverted
    index: only shingles seen in <= RARE_DF_CAP docs generate pairs
    (the classic prefix/rarity filter), so pair volume is bounded by
    df_cap * n_shingles even when viral boilerplate shingles appear
    in millions of docs — those are exactly the shingles that are
    dropped. Exact intersection over ALL shingles is then computed
    for candidates only (the dd_ngram_jaccard verify shape). Emits
    the CONT_TOPK strongest pairs by rounded containment with the
    smaller doc identified and a >= CONT_TAU flag.

    Scale: one shuffle to shingle df, capped self-join on rare
    shingles (each side <= RARE_DF_CAP rows per key), verify joins
    only candidate docs' shingles; final top-k is
    TakeOrderedAndProject over the rounded score."""
    from pyspark import StorageLevel

    sh = _shingles(spark, sf).persist(StorageLevel.MEMORY_AND_DISK)
    rare = (sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= RARE_DF_CAP))
    rsh = sh.join(rare.select("shingle"), "shingle")
    ra = rsh.select(F.col("doc_id").alias("doc_a"), "shingle")
    rb = rsh.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (ra.join(rb, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_rare"))
            .filter(F.col("n_rare") >= CONT_MIN_SHARED)
            .select("doc_a", "doc_b"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (cand.join(a, "doc_a")
             .join(b, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("n_b"))
    cont = F.col("inter") / F.least("n_a", "n_b")
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .select(
                F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a"))
                .otherwise(F.col("doc_b")).alias("doc_small"),
                F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_b"))
                .otherwise(F.col("doc_a")).alias("doc_big"),
                F.least("n_a", "n_b").alias("n_small"),
                "inter",
                F.round(cont, 6).alias("containment"),
                (F.round(cont, 6) >= CONT_TAU).alias("contained"))
            .orderBy(F.desc("containment"), F.asc("doc_small"),
                     F.asc("doc_big"))
            .limit(CONT_TOPK))


DD_CONTAINMENT_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
rare AS (
  SELECT shingle FROM shingles
  GROUP BY shingle HAVING count(*) <= {RARE_DF_CAP}),
rsh AS (
  SELECT s.doc_id, s.shingle FROM shingles s
  JOIN rare r ON r.shingle = s.shingle),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rsh a JOIN rsh b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {CONT_MIN_SHARED}),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
  FROM shingles GROUP BY doc_id)
SELECT CASE WHEN sa.n <= sb.n THEN i.doc_a ELSE i.doc_b END
         AS doc_small,
       CASE WHEN sa.n <= sb.n THEN i.doc_b ELSE i.doc_a END
         AS doc_big,
       least(sa.n, sb.n) AS n_small, i.inter,
       round(i.inter / least(sa.n, sb.n), 6) AS containment,
       round(i.inter / least(sa.n, sb.n), 6) >= {CONT_TAU}::DOUBLE
         AS contained
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
ORDER BY containment DESC, doc_small ASC, doc_big ASC
LIMIT {CONT_TOPK}
"""


QUERIES = {
    "dd_containment": (dd_containment, DD_CONTAINMENT_SQL),
    "tx_ccnet_bucket": (tx_ccnet_bucket, TX_CCNET_SQL),
    "tx_bm25_topk": (tx_bm25_topk, _bm25_sql()),
    "tx_pack_sequences": (tx_pack_sequences, TX_PACK_SQL),
    "tx_pack_payloads": (tx_pack_payloads, TX_PACK_PAYLOADS_SQL),
    "dd_url_canonical": (dd_url_canonical, DD_URL_CANONICAL_SQL),
    "tx_chunk_windows": (tx_chunk_windows, TX_CHUNK_SQL),
    "dd_exact": (dd_exact, DD_EXACT_SQL),
    "tx_decontam": (tx_decontam, TX_DECONTAM_SQL),
    "dd_common_segments": (dd_common_segments, DD_SEGMENTS_SQL),
    "tx_curate": (tx_curate, _curate_sql()),
    "dd_incremental": (dd_incremental, DD_INCREMENTAL_SQL),
    "dd_bloom_incremental": (dd_bloom_incremental, DD_BLOOM_SQL),
    "tx_gopher_quality": (tx_gopher_quality, TX_GOPHER_SQL),
    "tx_trigram_ppl": (tx_trigram_ppl, TX_TRIGRAM_PPL_SQL),
    "tx_mix_rebalance": (tx_mix_rebalance, _mix_sql()),
    "tx_hash_sample": (tx_hash_sample, TX_HASH_SAMPLE_SQL),
    "tx_pii_scrub": (tx_pii_scrub, TX_PII_SQL),
    "tx_vocab_topk": (tx_vocab_topk, TX_VOCAB_SQL),
    "dd_minhash_lsh": (dd_minhash_lsh, DD_MINHASH_SQL),
    "dd_minhash_salted": (dd_minhash_salted, DD_MINHASH_SALTED_SQL),
    "dd_components": (dd_components, DD_COMPONENTS_SQL),
    "dd_keep_list": (dd_keep_list, DD_KEEP_LIST_SQL),
    "dd_minhash_num": (dd_minhash_num, DD_MINHASH_NUM_SQL),
    "dd_ngram_jaccard": (dd_ngram_jaccard, DD_JACCARD_SQL),
    "dd_simhash": (dd_simhash, DD_SIMHASH_SQL),
    "tx_langid_argmax": (tx_langid_argmax, TX_LANGID_SQL),
    "tx_quality": (tx_quality, TX_QUALITY_SQL),
    "tx_tokens": (tx_tokens, TX_TOKENS_SQL),
    "tx_tokens_bpe": (tx_tokens_bpe, TX_TOKENS_BPE_SQL),
    "tx_fingerprint": (tx_fingerprint, TX_FINGERPRINT_SQL),
}

"""Seeded inputs, generated in this one process and cached on disk by
(workload, size, seed) under the benchmark's work directory.

- Pages corpora come from `fixtures.gen_pages.gen_row(doc_id, seed)` and
  are written as many small parquet files, the layout of a crawl shard;
  a single-row-group file would put the whole kernel on one task.
- The query tables mirror the schema and value distributions of the
  sf0.01 star schema (plus events, documents, embeddings) so that every
  headline query and its DuckDB oracle see realistic inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from pathlib import Path

KEEP_CACHED = 2  # cached input sets kept per workload (disk bound)


def input_set(root: Path, workload: str, size: int, seed: int) -> Path:
    """The cache directory of one (workload, size, seed) input set; the
    oldest other sets of the workload are evicted to bound disk use."""
    base = root / "data" / f"{workload}-n{size}-s{seed}"
    base.mkdir(parents=True, exist_ok=True)
    others = sorted((p for p in (root / "data").glob(f"{workload}-n*")
                     if p != base), key=lambda p: p.stat().st_mtime)
    for p in others[:max(0, len(others) - (KEEP_CACHED - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    return base


def _percentile(sorted_vals: list[int], q: float) -> int:
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def _stratified_ids(first_id: int, n: int, seed: int, per_file: int):
    """Doc ids from first_id upward, taken so that every file holds the
    generator's family mix exactly (FAMILIES weights). Seeds then differ
    in content but not in how many mega docs a file or a task gets,
    which would otherwise swing pass time by more than the code does."""
    from fixtures.gen_pages import _FAM_TOTAL, FAMILIES, _family_for

    doc_id = first_id
    for lo in range(0, n, per_file):
        size = min(per_file, n - lo)
        quota = {f: w * size // _FAM_TOTAL for f, w in FAMILIES}
        quota["plain_text"] += size - sum(quota.values())
        ids = []
        while len(ids) < size:
            fam = _family_for(random.Random(f"{seed}:{doc_id}"))
            if quota[fam] > 0:
                quota[fam] -= 1
                ids.append(doc_id)
            doc_id += 1
        yield ids


def write_pages(out: Path, first_id: int, n: int, seed: int,
                per_file: int) -> dict:
    """Write n docs (ids from first_id up, see _stratified_ids) as
    per_file-row parquet files under `out`; return their input
    properties."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fixtures.gen_pages import gen_row

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    urls, sizes, digests = [], [], []
    for k, ids in enumerate(_stratified_ids(first_id, n, seed, per_file)):
        rows = [gen_row(i, seed) for i in ids]
        urls += [r["url"] for r in rows]
        sizes += [len(r["html"]) for r in rows]
        digests += [hashlib.md5(r["html"]).digest() for r in rows]
        table = pa.table({c: [r[c] for r in rows] for c in schema.names},
                         schema=schema)
        pq.write_table(table, tmp / f"part-{k:05d}.parquet")
    props = {"docs": n, "files": len(list(tmp.glob("*.parquet"))),
             "urls": urls, "sizes": sizes,
             "digests": [d.hex() for d in digests]}
    (tmp / "_props.json").write_text(json.dumps(props))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return props


def pages(base: Path, name: str, first_id: int, n: int, seed: int,
          per_file: int) -> tuple[Path, dict]:
    """The pages directory `name` of an input set, generated on first
    use; returns it with its properties."""
    out = base / name
    props_file = out / "_props.json"
    if props_file.exists():
        return out, json.loads(props_file.read_text())
    return out, write_pages(out, first_id, n, seed, per_file)


def merge_pages(out: Path, a: Path, b: Path) -> None:
    """Write file i of `out` as file i of `a` followed by file i of `b`,
    so every shard mixes both sets in the same proportion."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    for fa, fb in zip(sorted(a.glob("*.parquet")), sorted(b.glob("*.parquet")),
                      strict=True):
        pq.write_table(pa.concat_tables([pq.read_table(fa),
                                         pq.read_table(fb)]),
                       out / fa.name)


def input_properties(props_list: list[dict]) -> dict:
    """input.* metrics over the union of the given page sets."""
    sizes = sorted(s for p in props_list for s in p["sizes"])
    seen, dups = set(), 0
    for p in props_list:
        for d in p["digests"]:
            dups += d in seen
            seen.add(d)
    return {
        "input.docs": len(sizes),
        "input.files": sum(p["files"] for p in props_list),
        "input.doc_bytes_p50": _percentile(sizes, 0.50),
        "input.doc_bytes_p99": _percentile(sizes, 0.99),
        "input.dup_body_frac": dups / max(1, len(sizes)),
    }


# --- headline query tables ------------------------------------------

# sf0.01 row counts of the reference star schema
TABLE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
              "orders": 15000, "lineitem": 60000, "events": 10000,
              "documents": 500, "embeddings": 500}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_PART_ADJ = "large hot blue old cold small red green".split()
_PART_NOUN = "ring bolt plate gear nut screw pipe valve".split()


def query_tables(base: Path, seed: int) -> tuple[Path, dict]:
    """<table>.parquet for every query table, generated on first use."""
    out = base / "tables"
    done = out / "_props.json"
    if done.exists():
        return out, json.loads(done.read_text())
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    props = _write_query_tables(tmp, seed)
    (tmp / "_props.json").write_text(json.dumps(props))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, props


def _write_query_tables(out: Path, seed: int) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = TABLE_ROWS

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        d = np.datetime64(start, "D") + rng.integers(0, span, size)
        return d.astype("datetime64[us]")

    def pick(values, size):
        return np.asarray(values, dtype=object)[
            rng.integers(0, len(values), size)]

    def write(name, cols):
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                              "BUILDING", "FURNITURE"], n["customer"])})
    write("supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"])})
    write("part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            pick(_PART_ADJ, n["part"]), pick(_PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(
            900 + (np.arange(n["part"]) % 1000) * 0.1, 1)})
    write("orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": pick(["O", "P", "F"], n["orders"]),
        "o_totalprice": money(1000, 500000, n["orders"]),
        "o_orderdate": days("1995-01-01", 2404, n["orders"]),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n["orders"])})
    nl = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": days("1995-01-02", 2498, nl)})
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs,
        "user_id": rng.integers(0, 150, ne),
        "event_type": pick(["signup", "click", "error", "view",
                            "purchase"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    texts = _documents_text(rng, n["documents"])
    write("documents", {
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "zh", "es", "fr", "de"], n["documents"]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    sizes = sorted(len(t.encode()) for t in texts)
    return {
        "input.docs": len(texts),
        "input.files": len(TABLES),
        "input.doc_bytes_p50": _percentile(sizes, 0.50),
        "input.doc_bytes_p99": _percentile(sizes, 0.99),
        "input.dup_body_frac": 1 - len(set(texts)) / len(texts),
    }


def _documents_text(rng, n: int) -> list[str]:
    """Word-salad documents; one in ten is a near-duplicate of an
    earlier one (a word swapped for 'dup'), which the dedup queries
    must find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB),
                                                     rng.integers(10, 101))]
        texts.append(" ".join(words))
    return texts

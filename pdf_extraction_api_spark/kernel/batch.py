"""Arrow-batched extraction kernel — the UDTF shape (SURVEY.md §2.9 #1).

One row in → one row out with nested results; vectorized transport
(Arrow), scalar byte-exact semantics (Python str ops, KERNEL_SPEC.md).
The html column travels as BinaryType end-to-end so byte-identity is
never at the mercy of UTF-8 normalization (SURVEY.md §7 hard part #1).

`kernel_batch` is the one per-document loop: both the mapInArrow plan
(plans/extract.py) and the SQL UDF run it. It yields packed records —
one tuple per document in RESULT_SCHEMA order, spans as kind codes
plus int32 columns instead of one dict per span — and `record_arrays`
turns a batch of them into Arrow arrays column by column. The loop is
a pure per-document transform: every document, duplicate bodies
included, is parsed on its own. One thing outlives a document:
`tablepipe._CLS_CACHE`, a FIFO memo of score and classify by grid
content hash (at most 4,096 entries), kept for the life of the worker
process, so across batches, tasks and job runs. It changes no output
byte, only cost: a worker that gets back a scan split it ran before
finds all of the split's grids there (if they fit the 4,096 entries),
a worker with a new split about 7% (ROADMAP direction 4 has the
measurements). Skipping exact-duplicate bodies, if it ever pays,
belongs in the plan (a hash aggregate on the body before the
kernel), not in worker state.

Every output array is built from buffers (`arrow_array`), never by
`pa.array` over a Python sequence: that call imports pandas through
pyarrow's lazy pandas shim (~40 MB RSS), which a mapInArrow worker
otherwise never loads, and the kernel runs in one worker per
executor core. `map_rows` gives the operators the same batches: a
mapInArrow over a per-row Python function, its output built with
`arrow_array`.
"""

from __future__ import annotations

import time
from array import array
from collections.abc import Iterable, Sequence
from functools import cache, partial
from itertools import accumulate, chain

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .model import parse_document
from .tablepipe import page_tables

TABLE_TYPE = StructType([
    StructField("page", IntegerType()),
    StructField("table_index", IntegerType()),
    StructField("method", StringType()),
    StructField("cells", ArrayType(ArrayType(StringType()))),
    StructField("csv_bytes", BinaryType()),
    StructField("table_type", StringType()),
    StructField("quality_score", DoubleType()),
    StructField("rows", IntegerType()),
    StructField("columns", IntegerType()),
    StructField("numeric_percentage", DoubleType()),
    StructField("empty_cell_percentage", DoubleType()),
    StructField("metadata", MapType(StringType(), StringType())),
    StructField("content_hash", StringType()),
])

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("page", IntegerType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
])

RESULT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("extracted_text", BinaryType()),
    StructField("tables", ArrayType(TABLE_TYPE)),
    StructField("spans", ArrayType(SPAN_TYPE)),
    StructField("n_tables", IntegerType()),
    StructField("n_content_spans", IntegerType()),
    StructField("error", StringType()),
])

_RESULT_COLS = tuple(f.name for f in RESULT_SCHEMA.fields)
_SPANS = _RESULT_COLS.index("spans")

# Span kinds, indexed by the one-byte codes of a packed record's spans.
SPAN_KINDS = ("content", "boilerplate", "table_cell")
_KIND_CODE = {k: i for i, k in enumerate(SPAN_KINDS)}
_CONTENT = _KIND_CODE["content"]
# (kind codes, pages, starts, ends) of a document without spans; shared
# by every such record, so never mutated
_NO_SPANS = (b"", array("i"), array("i"), array("i"))


def extract_record(url: str, html: bytes) -> tuple:
    """Full per-document extraction (engine implementation) as a packed
    record: one tuple in RESULT_SCHEMA order whose `spans` field is
    (kind codes as bytes indexing SPAN_KINDS, then array('i') columns
    for page, start and end)."""
    m = parse_document(html if html is not None else b"")
    tables: list[dict] = []
    for page in sorted(m.tables):
        slot = m.tables[page]
        tables.extend(page_tables(page, slot["lattice"], slot["stream"]))
    if m.spans:
        kinds, pages, starts, ends = zip(*m.spans)
        spans = (bytes(map(_KIND_CODE.__getitem__, kinds)),
                 array("i", pages), array("i", starts), array("i", ends))
    else:
        spans = _NO_SPANS
    return (url, m.max_page, "\n\n".join(m.content).encode("utf-8"),
            tables, spans, len(tables), spans[0].count(_CONTENT), None)


def record_dict(rec: tuple) -> dict:
    """A packed record as the nested dict refkernel returns (one dict
    per span)."""
    out = dict(zip(_RESULT_COLS, rec))
    kinds, pages, starts, ends = rec[_SPANS]
    out["spans"] = [
        {"kind": SPAN_KINDS[k], "page": p, "start": s, "end": e}
        for k, p, s, e in zip(kinds, pages, starts, ends)
    ]
    return out


def extract_one(url: str, html: bytes) -> dict:
    """extract_record's dict view — what the refkernel parity suites
    compare. Production runs kernel_batch, which never builds it."""
    return record_dict(extract_record(url, html))


def kernel_batch(
    urls: Iterable[str], htmls: Iterable[bytes | None],
) -> tuple[list[tuple], list[int], list[int]]:
    """The per-document loop: (urls, htmls) → (packed records, input
    bytes per doc, µs per doc). Every document is parsed on its own,
    so the worker keeps no result state between documents or batches;
    a doc that raises yields its error record instead of failing the
    batch."""
    records: list[tuple] = []
    bytes_in: list[int] = []
    kernel_us: list[int] = []
    clock = time.perf_counter_ns
    for url, html in zip(urls, htmls):
        t0 = clock()
        try:
            rec = extract_record(url, html)
        except Exception as exc:  # a bad doc never kills a task
            rec = (url, 0, b"", [], _NO_SPANS, 0, 0,
                   f"{type(exc).__name__}: {exc}")
        records.append(rec)
        bytes_in.append(len(html) if html is not None else 0)
        kernel_us.append((clock() - t0) // 1000)
    return records, bytes_in, kernel_us


@cache
def _arrow_result_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(RESULT_SCHEMA)


# array-module typecodes of the fixed-width leaves arrow_array builds
_FIXED_CODES = {"int32": "i", "int64": "q", "double": "d"}


def _offsets(lengths: Iterable[int]):
    """int32 offsets buffer: 0 then the running sum of `lengths`."""
    import pyarrow as pa

    return pa.py_buffer(array("i", accumulate(lengths, initial=0)))


def arrow_array(values: Sequence, typ):
    """Arrow array of `typ` from a Python sequence, assembled from
    buffers: fixed-width leaves are one array-module buffer; string and
    binary leaves are offsets plus joined bytes, with a validity bitmap
    only when a value is None; lists, maps and structs recurse on their
    flattened children. Covers the types RESULT_SCHEMA and the lineage
    columns use; pa.array builds the same arrays but imports pandas."""
    import pyarrow as pa

    n = len(values)
    if isinstance(typ, (pa.ListType, pa.MapType)):
        offsets = pa.Array.from_buffers(
            pa.int32(), n + 1, [None, _offsets(map(len, values))])
        if isinstance(typ, pa.MapType):
            return pa.MapArray.from_arrays(
                offsets,
                arrow_array([k for d in values for k in d], typ.key_type),
                arrow_array([v for d in values for v in d.values()],
                            typ.item_type),
                type=typ)
        return pa.ListArray.from_arrays(
            offsets,
            arrow_array(list(chain.from_iterable(values)), typ.value_type),
            type=typ)
    if isinstance(typ, pa.StructType):
        return pa.StructArray.from_arrays(
            [arrow_array([v[f.name] for v in values], f.type) for f in typ],
            fields=list(typ))
    code = _FIXED_CODES.get(str(typ))
    if code is not None:
        return pa.Array.from_buffers(
            typ, n, [None, pa.py_buffer(array(code, values))])
    text = typ == pa.string()
    if not text and typ != pa.binary():
        raise TypeError(f"arrow_array: unsupported type {typ}")
    nulls = values.count(None)
    validity = None
    if nulls:
        bits = "".join("0" if v is None else "1" for v in values)
        validity = pa.py_buffer(
            int(bits[::-1], 2).to_bytes((n + 7) // 8, "little"))
        empty = "" if text else b""
        values = [empty if v is None else v for v in values]
    if text:
        joined = "".join(values)
        data = joined.encode("utf-8")
        # ASCII: byte offsets are the str lengths
        lengths = (map(len, values) if len(data) == len(joined)
                   else (len(v.encode("utf-8")) for v in values))
    else:
        data = b"".join(values)
        lengths = map(len, values)
    return pa.Array.from_buffers(
        typ, n, [validity, _offsets(lengths), pa.py_buffer(data)],
        null_count=nulls)


def row_batches(fn, schema, batches):
    """mapInArrow body over a per-row function: `fn(*values)` gets each
    input row's values in column order (Python objects, from
    to_pylist) and yields that row's output dicts, 0..n per row. Each
    input batch becomes one output batch of Spark schema `schema`,
    built column by column with arrow_array, so the worker never
    imports pandas."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    for rb in batches:
        rows = [out
                for values in zip(*(c.to_pylist() for c in rb.columns))
                for out in fn(*values)]
        yield pa.RecordBatch.from_arrays(
            [arrow_array([r[f.name] for r in rows], f.type)
             for f in arrow_schema],
            schema=arrow_schema)


def map_rows(df, fn, schema):
    """`df` through the per-row function `fn` as one mapInArrow (see
    row_batches) whose output has Spark schema `schema`: the operators'
    one adapter from Python rows to Arrow batches."""
    return df.mapInArrow(partial(row_batches, fn, schema), schema=schema)


def _spans_array(spans: tuple, list_type):
    """ListArray<SPAN_TYPE> from packed spans: the four columns of every
    doc are concatenated into one buffer each; kind is a take of the
    codes on SPAN_KINDS."""
    import pyarrow as pa

    i32 = pa.int32()
    offsets = array("i", accumulate((len(s[0]) for s in spans), initial=0))
    n = offsets[-1]

    def column(j: int, typ):
        buf = pa.py_buffer(b"".join(s[j] for s in spans))
        return pa.Array.from_buffers(typ, n, [None, buf])

    kind = arrow_array(SPAN_KINDS, pa.string()).take(column(0, pa.uint8()))
    values = pa.StructArray.from_arrays(
        [kind, column(1, i32), column(2, i32), column(3, i32)],
        fields=list(list_type.value_type))
    return pa.ListArray.from_arrays(
        pa.Array.from_buffers(i32, len(spans) + 1,
                              [None, pa.py_buffer(offsets)]),
        values, type=list_type)


def record_arrays(records: list[tuple]) -> list:
    """Packed records → one Arrow array per RESULT_SCHEMA column, in
    order; the same arrays pa.RecordBatch.from_pylist builds from the
    records' dict views. Built from buffers (arrow_array, _spans_array)
    so the worker never imports pandas: pa.array on a Python list
    would load it on the first batch and keep it for the worker's
    life."""
    schema = _arrow_result_schema()
    columns = zip(*records) if records else [()] * len(schema)
    return [
        _spans_array(col, field.type) if i == _SPANS
        else arrow_array(col, field.type)
        for i, (field, col) in enumerate(zip(schema, columns))
    ]

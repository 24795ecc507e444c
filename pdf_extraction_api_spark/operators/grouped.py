"""Grouped custom ops via applyInArrow (the per-group kernel shape).

`vec_centroid_by_label` — per-cluster embedding centroid computed with
numpy inside applyInArrow (the grouped-map UDF surface; at scale this
is the k-means update step / IVF coarse-quantizer training). Oracle:
per-dimension AVG via position explode in SQL — so even the grouped
Python path is value-checked against an independent engine.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..kernel.batch import arrow_array
from .relational import T

_CENTROID_SCHEMA = StructType([
    StructField("label", IntegerType()),
    StructField("dim", IntegerType()),
    StructField("centroid", DoubleType()),
])


def _centroid(tbl):
    """One label's group (a pyarrow.Table) → its per-dimension mean
    rows, the columns built with arrow_array."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    mat = np.array(tbl.column("embedding").to_pylist(), dtype="float64")
    dims = mat.shape[1]
    schema = to_arrow_schema(_CENTROID_SCHEMA)
    columns = ([tbl.column("label")[0].as_py()] * dims, list(range(dims)),
               np.round(mat.mean(axis=0), 6).tolist())
    return pa.Table.from_arrays(
        [arrow_array(c, f.type) for c, f in zip(columns, schema)],
        schema=schema)


def vec_centroid_by_label(spark, sf):
    e = T(spark, sf, "embeddings").select("label", "embedding")
    return e.groupBy("label").applyInArrow(
        _centroid, schema=_CENTROID_SCHEMA)


# float32→float64 promotion order matters: the oracle must average the
# same float64 values numpy sees (cast each element, then avg)
VEC_CENTROID_SQL = """
SELECT label, CAST(pos AS INT) AS dim,
       CAST(round(avg(CAST(embedding[pos + 1] AS DOUBLE)), 6) AS DOUBLE)
         AS centroid
FROM embeddings,
     LATERAL (SELECT unnest(range(len(embedding))) AS pos) t
GROUP BY label, pos
"""


QUERIES = {
    "vec_centroid_by_label": (vec_centroid_by_label, VEC_CENTROID_SQL),
}

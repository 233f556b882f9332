"""Single-py4j-literal array constructors and driver-row frames.

Three code sites independently discovered that building array literals
element-wise is a plan-construction hazard: ``F.array(*lits)`` — and
``F.lit(list)``, which loops ``lit()`` per element internally — pay
~1 ms of py4j round-trip per element (measured: ~15 s / ~4 s for an
8,192-long Bloom mask; 0.6 s per bench run for a 670-word profile in
operators/text.py). The fix is always the same: ONE string literal +
split + cast, which Catalyst constant-folds to the array. This module
is the shared home so the numeric variants stop drifting
(operators/text.py keeps its space-joined string variant, whose
no-space-in-word contract doesn't fit here).

The same economics hold for whole frames built from driver-side rows.
``spark.createDataFrame`` over a list of tuples pickles the rows into a
Python RDD, so every job that scans the frame runs Python-worker tasks
(measured on a 4-core VM, median of 6: a broadcast join against a
60-row map took 0.88 s that way vs 0.38 s from a local relation; at
200k rows the two tie, 1.53 vs 1.59 s). :func:`local_frame` builds one
Arrow table against the Spark schema instead, which plans as a JVM
``LocalRelation``. It is the package's one ``createDataFrame`` call
site.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def lit_long_array(vals: Sequence[int]) -> F.Column:
    """One-literal array<long>. Empty input folds to array()."""
    if not len(vals):  # split('') would yield [''] -> [null] after cast
        return F.array().cast(T.ArrayType(T.LongType()))
    return F.split(F.lit(",".join(str(int(v)) for v in vals)), ",").cast(
        T.ArrayType(T.LongType())
    )


def _double_repr(v: float) -> str:
    """Spark-castable spelling of one double. repr() round-trips finite
    IEEE doubles exactly, but repr(inf)/repr(nan) yield 'inf'/'nan',
    which Spark's string→double cast does NOT accept ('Infinity'/'NaN'
    are the castable spellings) — non-finite elements would throw under
    ANSI or silently become NULL (r10 ADVICE)."""
    f = float(v)
    if f != f:
        return "NaN"
    if f == float("inf"):
        return "Infinity"
    if f == float("-inf"):
        return "-Infinity"
    return repr(f)


def lit_double_array(vals: Sequence[float]) -> F.Column:
    """One-literal array<double>; finite values repr()-round-trip
    exactly, non-finite values map to Spark-castable 'Infinity'/'NaN'
    spellings. Empty input folds to array()."""
    if not len(vals):
        return F.array().cast(T.ArrayType(T.DoubleType()))
    return F.split(
        F.lit(",".join(_double_repr(v) for v in vals)), ","
    ).cast(T.ArrayType(T.DoubleType()))


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: "T.StructType | str"
) -> DataFrame:
    """A frame over driver-side ``rows`` (tuples or Rows, in ``schema``
    field order) that plans as a ``LocalRelation``: the rows go to the
    JVM as one Arrow table typed by ``schema`` (a StructType or a DDL
    string), never through a pickled Python RDD. Nested values follow
    the Spark types: a struct is a tuple, an array a list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [[] for _ in arrow_schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)

"""Arrow-backed construction of small driver-local DataFrames.

``spark.createDataFrame(list_of_tuples, schema)`` routes through a
pickled Python RDD parallelized to one partition per core — every
materialization of the frame launches one Python-worker round-trip PER
CORE (task summaries on an idle 32-core box: ~250 ms median task wall
with ~3 ms of CPU — pure worker wait; optimization guide §4, the Python
boundary). Building the identical frame from a pandas DataFrame instead
takes the Arrow path: rows cross to the JVM once as Arrow batches and
execution never touches a Python worker (measured 0.48 s → 0.10 s per
materialization warm, and these control-plane frames are materialized
once per broadcast join in every lakehouse commit).

With an explicit ``schema``, both paths map tuple fields positionally
and apply the same type coercions for the shapes pinned by
``tests/test_localdf.py``. ``dtype=object`` keeps pandas from coercing
ints to floats when a column carries ``None``. Two shapes the Arrow
path would change go to the list path instead: dict rows (``tuple()``
of a dict is its keys) and rows holding a top-level float NaN (Arrow's
pandas conversion reads NaN as NULL). A NaN nested inside an array or
struct value still becomes NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` minus the Python-RDD tax.

    `rows` is a list of tuples/Rows (anything ``tuple()`` accepts) or
    dicts; `schema` is a DDL string or StructType. Falls back to the
    classic list path when pandas/Arrow cannot represent the rows.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    if rows and not any(map(_list_path_only, rows)):
        try:
            import pandas as pd

            pdf = pd.DataFrame([tuple(r) for r in rows], dtype=object)
            return spark.createDataFrame(pdf, schema)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


def _list_path_only(row) -> bool:
    return isinstance(row, dict) or any(
        isinstance(v, float) and v != v for v in row
    )

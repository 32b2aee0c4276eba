"""Driver-local rows as pure-JVM LocalTableScans.

``SparkSession.createDataFrame(list_of_tuples)`` builds a PYTHON-RDD-backed
plan: the local rows are pickled into ``defaultParallelism`` RDD slices and
every downstream job evaluates them through Python worker round-trips. For
the tiny control frames this engine builds on the driver (a retraction id
list, an offset seed list, an empty-store placeholder) that cost dominates
the job — measured on local[32]: a one-row ``coalesce(1).write`` pays
~5-7 s because the single coalesced task drains 32 pickled slices through
sequential Python worker handshakes.

Two constructions avoid Python at execution time, one per size class:

- :func:`local_df` — small CONTROL frames. Rows route through a pandas
  DataFrame (the session enables ``spark.sql.execution.arrow.pyspark.enabled``),
  converted ONCE on the driver via Arrow into a JVM ``LocalTableScan``.
- :func:`scan_df` — corpus-sized driver rows (the feed reader's page
  batches). Rows become a ``pyarrow`` table directly (no pandas), the same
  JVM ``LocalTableScan``, then ``coalesce(defaultParallelism)``. The
  coalesce is a barrier: without it the optimizer's
  ``ConvertToLocalRelation`` rule folds every downstream deterministic
  projection over a ``LocalRelation`` into an EAGER single-threaded driver
  evaluation at plan time, re-run on every action that embeds the frame.
  Staging a 102 619-row feed to the ``noop`` sink (4 cores, warm):
  Arrow + barrier 0.99 s, pickled list 1.26 s, Arrow without the barrier
  2.30 s. On the 5.4k-row delta feed: Arrow + barrier 0.18-0.21 s against
  0.40-0.55 s for the pickled list.

Empty frames take the ``range(0)`` projection form (:func:`empty_df`):
pandas' empty-frame path would silently fall back to the pickled-row
constructor.
Values are unchanged either way — these helpers only pick the physical
construction of the same local rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    """Zero-row DataFrame with ``schema`` as a JVM-only plan (a projection
    over ``range(0)``), never a pickled-row RDD."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small driver-local ``rows`` → DataFrame backed by a JVM
    LocalTableScan (via pandas/Arrow), falling back to :func:`empty_df`
    for zero rows. ``schema`` may be a StructType, a DDL string, or a
    column-name list (types inferred from the data, exactly as
    ``createDataFrame(rows, names)`` would)."""
    import pandas as pd  # noqa: PLC0415

    if isinstance(schema, (StructType, str)):
        st = (
            schema
            if isinstance(schema, StructType)
            else spark.createDataFrame([], schema).schema
        )
        if not rows:
            return empty_df(spark, st)
        pdf = pd.DataFrame(rows, columns=[f.name for f in st.fields])
        return spark.createDataFrame(pdf, st)
    # column-name list: infer types from the data like createDataFrame does
    names = list(schema)
    if not rows:
        return spark.createDataFrame([], StructType([]))  # degenerate; callers
        # with possibly-empty rows pass an explicit schema
    return spark.createDataFrame(pd.DataFrame(rows, columns=names))


def scan_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Corpus-sized driver-local ``rows`` (tuples in ``schema`` order) →
    an Arrow-built JVM ``LocalTableScan`` behind a
    ``coalesce(defaultParallelism)`` barrier, so downstream projections
    run as executor tasks instead of folding into the driver (see the
    module docstring). Zero rows give :func:`empty_df`."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    if not rows:
        return empty_df(spark, schema)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array(col, type=f.type) for col, f in zip(zip(*rows), arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema).coalesce(
        spark.sparkContext.defaultParallelism
    )

"""Driver-local rows -> DataFrame without the empty-slice trap.

``SparkSession.createDataFrame(list_of_rows, ...)`` parallelizes the rows
with the RDD default slice count — ``defaultParallelism`` — even when the
list holds one row, so a single-row metadata frame becomes an RDD of 32
Python-backed partitions, 31 of them empty. Every empty partition still
costs a JVM<->Python worker round-trip when computed; worse, a downstream
``coalesce(1)`` (the usual "write one file" idiom) folds them into ONE task
that drains all 32 parent partitions SEQUENTIALLY — measured ~6.5 s for a
one-row write on local[32] vs ~0.4 s with one slice (optimization guide
§4: the Python boundary is paid per partition, not per row).

``local_rows_df`` sizes the slice count to the data instead:
``min(len(rows), defaultParallelism)`` — tiny metadata frames collapse to
one partition while genuinely parallel work lists (file paths fanned out
to executors) keep one row per slice exactly as before. Row order is
preserved either way (``parallelize`` keeps list order across slices), so
results are byte-identical to the stock path.

The per-document map stage lives here too: ``spread_ids`` fans a small
id frame out across the cores, and ``map_docs`` runs one Python function
per document over Arrow batches.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_rows_df(
    spark: SparkSession,
    rows: Iterable[Any],
    schema,
    slices: int | None = None,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with a data-sized slice
    count (see module docstring). ``slices`` overrides when the caller
    wants a specific fan-out."""
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        # one empty slice, not defaultParallelism of them: an empty frame
        # built via createDataFrame([], schema) still carries 32 empty
        # Python partitions that each cost a worker round-trip downstream
        return spark.createDataFrame(
            spark.sparkContext.parallelize([], 1), schema
        )
    if slices is None:
        slices = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


def spread_ids(
    df: DataFrame,
    max_width: int | None = None,
    sf_dir: str | None = None,
    table: str = "documents",
) -> DataFrame:
    """Round-robin a small id-only frame across the session's cores.

    Invariants:

    - Only ever applied to id-only frames, so at most a few KB of longs
      shuffle; payload-carrying scans keep their native splits.
    - The target width is the session's ``defaultParallelism``, never a
      constant, so the fan-out tracks the cluster.
    - When ``sf_dir`` is given and the source ``table``'s footer
      row-group count (probed once per process) already reaches that
      width, the input is splittable and the frame comes back
      unchanged: ``repartition(cores)`` would otherwise shrink a
      many-split scan into core-count giant partitions.
    - ``max_width`` caps the width for light per-document work (a few
      ms per document), where one task per core costs more in
      scheduling than the work it spreads. It only binds when the
      row-group guard above has not already returned the input.
    """
    sc = df.sparkSession.sparkContext
    width = sc.defaultParallelism
    if sf_dir is not None:
        from pyiceberg_lakehouse_spark.sources.testdata import (
            row_group_count,
        )

        if row_group_count(sf_dir, table) >= width:
            return df
    if max_width is not None:
        width = min(width, max_width)
    return df.repartition(width)


def map_docs(
    df: DataFrame,
    row_fn: Callable[..., Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """Per-document map: ``row_fn(*input_values)`` runs once per input row
    and yields zero or more output tuples, in ``schema`` field order.

    The input row's values arrive as plain Python objects in ``df``'s
    column order (``bytes`` for binary, ``int`` for integral, ``None``
    for NULL). Each Arrow batch of output is built straight from the
    schema with ``pa.array(column, type=field.type)``, through
    ``mapInArrow`` and with no pandas step, so:

    - ``None`` is NULL and ``float('nan')`` is NaN, in every column;
    - a value that does not fit its field's type (an int overflowing
      ``IntegerType``, a bool in an integral field) raises instead of
      being wrapped or cast;
    - a tuple whose length differs from the schema's raises.
    """
    arrow_schema = to_arrow_schema(schema)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            rows = [
                out
                for args in zip(*(c.to_pylist() for c in batch.columns))
                for out in row_fn(*args)
            ]
            cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(col, type=field.type)
                    for col, field in zip(cols, arrow_schema, strict=True)
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(batches, schema)

"""Small relations and write counts kept on the JVM side.

Ingest runs a fixed amount of bookkeeping per file: one audit row, the
report fold, a read-back gate. Two PySpark idioms make that bookkeeping
cost more than the rows it moves:

- ``spark.createDataFrame(<python list>, schema)`` builds a
  ``LogicalRDD`` over ``parallelize`` + ``applySchemaToPythonRDD``, so
  every action over it starts Python-worker tasks. :func:`_local_rows`
  builds the same typed relation from one JSON literal that the JVM
  parses itself (``Range`` → ``inline(from_json(...))``), with O(1) py4j
  calls whatever the row count.
- ``df.persist(); write(df); df.count()`` spends two extra jobs to learn
  how many rows the write consumed. :func:`_observed_write` counts them
  with an :class:`~pyspark.sql.Observation` on the write itself.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def _local_rows(spark: SparkSession, rows: Iterable[Sequence], schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a one-partition relation
    typed exactly as the DDL ``schema``, every column nullable — what
    ``createDataFrame(rows, schema)`` returns, without a Python-side
    RDD.

    Values must be JSON-native (str, int, float, bool, None). The parse
    is FAILFAST: a value that does not fit its column (a string in a
    BIGINT, an INT overflow) raises on the first action instead of
    reading back as NULL."""
    struct = StructType.fromDDL(schema)
    payload = json.dumps([dict(zip(struct.names, row)) for row in rows])
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(payload), ArrayType(struct), {"mode": "FAILFAST"}))
    )


def _observed_write(df: DataFrame, write: Callable[[DataFrame], None]) -> int:
    """Run ``write`` over ``df`` and return how many rows of ``df`` it
    consumed, counted by an Observation on that same action — no
    persist, no second job.

    ``write`` must run exactly one action over its argument. The count
    is the plan's row count as it ran, not what reached the files:
    callers still read the written files back to catch a short write.

    Under AQE, a shuffle stage that produced no rows can be replaced by
    an empty relation before the final plan exists, and its metric row
    comes back empty. That only happens to an empty stage, so it reads
    as zero."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    try:
        return int(obs.get["rows"])
    except Py4JJavaError as exc:
        if "AssertionError" not in str(exc.java_exception):
            raise
        return 0

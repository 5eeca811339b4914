"""Write path: the reference's ``insert_order`` (SURVEY.md §2.1 S4,
§2.4 A1/A2).

Reference semantics (``DatabaseAccessor.py:119-136``):
- id = max(order_id) + 1, computed and appended under a
  ``threading.Lock`` → ids are DENSE ASCENDING, assigned in arrival
  order, single-writer linearized;
- price_sum rounded to 1 decimal (F4, ``:127``);
- create_time = now as 'YYYY-MM-DD HH:MM:SS' (F3, ``:130``).

Distributed caveat (documented, not hidden): max+1 is not safely
parallelizable — two concurrent writers would mint the same id. This
module preserves the reference's contract under the same single-
writer assumption the reference itself makes. For multi-writer
deployments use ``surrogate_ids`` (unique, ascending, NOT dense),
or route inserts through a single streaming writer task.

Rows built in Python enter the plan as a one-row SQL relation with
their values BOUND as named parameters (never formatted into SQL
text — ``movie_name`` is user input), not via
``createDataFrame([row])``. That call parallelizes a pickled Python
RDD, so every insert ran ``defaultParallelism`` Python worker tasks
for one row: a median 1.43 s of CPU per insert on 4 cores, against
0.37 s for the bound relation (perfbench ``serve``). The bound
relation plans as a ``Project`` over ``OneRowRelation``: no RDD, no
Python worker.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import ORDER_SCHEMA


# one CAST(:name AS type) per ORDER_SCHEMA field; only the schema's
# names and types are formatted in, the values are bound per call
_ORDER_ROW_SQL = "SELECT " + ", ".join(
    f"CAST(:{f.name} AS {f.dataType.simpleString()}) AS {f.name}"
    for f in ORDER_SCHEMA
)


def next_order_id(order_info: DataFrame) -> int:
    """A1/A2: max+1 (empty table → 1). One scalar aggregate that scans
    the ``order_id`` column: for these DSv1 parquet tables Spark reads
    no footer MAX statistics (aggregate pushdown is DSv2-only)."""
    row = order_info.agg(F.max("order_id").alias("m")).head()
    return (row["m"] or 0) + 1


def build_order_row(
    spark: SparkSession,
    order_info: DataFrame,
    item: dict,
    now: str | None = None,
) -> DataFrame:
    """One new order row with reference-identical derivations, as a
    bound one-row SQL relation (module docstring)."""
    oid = next_order_id(order_info)
    row = {
        "order_id": oid,
        "movie_id": int(item["movie_id"]),
        "movie_name": str(item["movie_name"]),
        "movie_num": int(item["movie_num"]),
        # F4: 1-decimal rounding, as float('%.1f' % price_sum)
        "price_sum": round(float(item["price_sum"]), 1),
        # F3: wall-clock formatted timestamp
        "create_time": now or time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    return spark.sql(_ORDER_ROW_SQL, args=row)


def insert_order(
    spark: SparkSession,
    order_info: DataFrame,
    item: dict,
    table: str | None = None,
    now: str | None = None,
) -> DataFrame:
    """S4: append the new row. With ``table`` set, appends to the
    managed table (the durable path); otherwise returns the unioned
    DataFrame (the functional path used in tests)."""
    new_row = build_order_row(spark, order_info, item, now=now)
    if table is not None:
        new_row.write.mode("append").format("parquet").saveAsTable(table)
        return spark.table(table)
    return order_info.unionByName(new_row)


def surrogate_ids(df: DataFrame, id_col: str = "order_id", offset: int = 0) -> DataFrame:
    """Multi-writer-safe id assignment: unique ascending (NOT dense)
    via monotonically_increasing_id + offset. The documented
    trade-off vs the reference's dense ids."""
    return df.withColumn(id_col, (F.monotonically_increasing_id() + offset + 1).cast("int"))

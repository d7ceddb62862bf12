"""Table catalog over the driver-provided parquet testdata.

All query builders load tables through :func:`table` (batch) or
:func:`stream_table` (streaming) so type normalization (nanosecond
timestamps -> microsecond NTZ) happens in exactly one place and matches
what the DuckDB oracle sees (DuckDB truncates parquet NANOS to its
microsecond TIMESTAMP).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """Normalize timestamp physical types of a batch or streaming read.

    - ``events.ts`` is parquet TIMESTAMP(NANOS): with
      ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a raw long which
      we floor-divide to microseconds — the same truncation DuckDB applies —
      and expose as TIMESTAMP_NTZ.
    - millisecond timestamps (orders/lineitem) already read as TIMESTAMP_NTZ.
    """
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalized by :func:`_normalize`."""
    tune_session(spark)
    return _normalize(spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet"), name)


def stream_table(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, int | None]:
    """``readStream`` over one testdata table, normalized like :func:`table`.

    Returns ``(stream, nbytes)``: ``nbytes`` is the on-disk size of the
    streamed file (driver-side metadata only), the input size streaming
    state is sized from; None when it is not a plain local file. File
    streams need an explicit schema, taken from a static read of the same
    file; the source wants a directory, so it is glob-filtered to the one
    table.
    """
    tune_session(spark)
    root = sf_dir.rstrip("/")
    path = f"{root}/{name}.parquet"
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(root)
    )
    try:
        nbytes = os.path.getsize(path)
    except OSError:
        nbytes = None
    return _normalize(stream, name), nbytes


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views named exactly like the oracle's DuckDB views."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)

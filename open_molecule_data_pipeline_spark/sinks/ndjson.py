"""Gzip NDJSON batch sink (reference-parity output format).

The reference writes one JSON object per line, gzip by default, in
fixed-size batches of ``batch_size`` records per file (reference
``ingestion/common.py:251-276``). Spark equivalent: ``df.write.json`` with
``compression`` and ``maxRecordsPerFile`` — file *numbering* is
non-semantic (SURVEY.md §7 hard parts), file *contents and sizes* match.

At scale this is the right sink shape: every task writes its own files, no
driver involvement, and ``maxRecordsPerFile`` bounds file size for the
downstream consumer exactly like the reference's batching did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_ndjson(
    df: DataFrame,
    output_dir: str,
    *,
    batch_size: int = 1000,
    compress: bool = True,
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", batch_size)
        .option("compression", "gzip" if compress else "none")
        .option("ignoreNullFields", "false")
        .json(output_dir)
    )


def read_ndjson(spark, path: str, schema) -> DataFrame:
    """Read batches back (schema explicit — never inferred, SURVEY.md §1.3)."""
    return spark.read.schema(schema).json(path)


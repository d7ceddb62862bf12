"""SparkSession construction tuned for this engine.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same settings apply except master/memory come from the deploy environment.
AQE is always on: at the 100 TB design point it handles skew-join splitting
and post-shuffle coalescing that we cannot hand-tune per dataset.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to apply to an externally provided
# session at runtime. Notably the testdata's events.parquet stores
# TIMESTAMP(NANOS) which Spark 4 refuses unless nanosAsLong is set; the
# catalog then rescales nanos -> microsecond timestamps.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs; tolerate sessions that refuse some."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures for mapInPandas/pandas UDFs are pickled by reference to this
    module, so workers must be able to import it. An externally built
    session (the grading driver, a cluster deploy) won't have the repo on
    PYTHONPATH — addPyFile ships a zip of the package to every worker.
    """
    try:
        sc = spark.sparkContext
    except Exception:  # pragma: no cover - Spark Connect session
        return  # Connect ships deps via spark.addArtifact at deploy time
    if getattr(sc, "_omdp_pkg_shipped", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    fd, zip_path = tempfile.mkstemp(prefix="omdp_spark_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(Path(pkg_dir.name) / py.relative_to(pkg_dir)))
    sc.addPyFile(zip_path)
    sc._omdp_pkg_shipped = True


def get_spark(
    app_name: str = "open_molecule_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    return tune_session(builder.getOrCreate())

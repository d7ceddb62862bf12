"""Shared input and sink plumbing for the ``stream_*`` twins.

Testdata tables stream through :func:`..catalog.stream_table`; inputs that
must arrive as ORDERED micro-batches are staged by :func:`staged_stream`;
every twin runs to completion through :func:`run_to_memory`. Scratch space
(checkpoints, staged files, MV working dirs) comes from
:func:`scratch_dir`.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir, on RAM-backed ``/dev/shm`` when it is writable:
    twin scratch is written once, read once and deleted, so disk I/O for
    it is pure overhead."""
    root = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix=prefix, dir=root)


@contextmanager
def staged_stream(spark, df, band: str, order: Sequence) -> Iterator:
    """Stage ``df`` as one parquet file per value of column ``band`` and
    stream them ONE FILE PER MICRO-BATCH in ``order``.

    One input scan: a coalesced ``partitionBy(band)`` write emits one part
    file per band, each non-empty band is promoted to a leaf
    ``<band>.parquet`` (a band can be empty at tiny scale factors; it is
    skipped), and FileStreamSource's modification-time ordering is pinned
    by explicit mtimes. Yields ``(stream, staged_bytes)``: the stream has
    ``df``'s columns minus ``band``; ``staged_bytes`` is the total size of
    the staged files, the stream's exact input. The staged files are
    deleted on exit, so the caller must finish the stream inside the
    ``with`` block.
    """
    stage = scratch_dir("omdp_stream_stage_")
    try:
        part_root = f"{stage}/_parts"
        df.coalesce(1).write.mode("overwrite").partitionBy(band).parquet(part_root)
        leaves = []
        for value in order:
            parts = glob.glob(f"{part_root}/{band}={value}/part-*.parquet")
            if parts:
                leaf = f"{stage}/{value}.parquet"
                shutil.move(parts[0], leaf)
                leaves.append(leaf)
        shutil.rmtree(part_root, ignore_errors=True)
        now = time.time()
        for i, leaf in enumerate(leaves):
            t = now - 60 * (len(leaves) - i)
            os.utime(leaf, (t, t))
        stream = (
            spark.readStream.schema(df.drop(band).schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(stage)
        )
        yield stream, sum(os.path.getsize(leaf) for leaf in leaves)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def run_to_memory(spark, df, output_mode: str, input_bytes: int | None = None):
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink and return the result table.

    Stateful streaming disables AQE, so the session's shuffle.partitions
    (200 on a vanilla session) becomes the state-store partition count
    verbatim — size it for the run and restore the session conf
    afterwards. (A literal would pin the state-store width forever on a
    real cluster: state-store partition count is fixed at the first
    checkpoint.) ``input_bytes`` is the byte count the stream's reader
    returned; the width is INPUT-SIZED from it (guide §2.2, fewer larger
    reduce partitions): one state partition per ~4 MB of compressed
    stream input, clamped to [1, defaultParallelism]. Every state
    partition costs a store open + delta commit per micro-batch
    regardless of rows, so core-count-wide stores over kilobyte inputs
    are pure fan-out overhead (measured on stream_aspect_batch_twin:
    32 -> input-sized cut addBatch ~1.5 s -> ~0.75 s per micro-batch);
    large inputs saturate at the session's real parallelism, so the
    policy stays scale-adaptive, never a local-mode literal. When the
    size is unknown (None) the width is the core count. The checkpoint
    is disposable for an availableNow one-shot over an immutable input,
    so it lives in :func:`scratch_dir` and is deleted after the run.
    """
    name = f"stream_twin_{uuid.uuid4().hex[:8]}"
    key = "spark.sql.shuffle.partitions"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    try:
        par = spark.sparkContext.defaultParallelism
        if input_bytes is not None:
            par = max(1, min(par, (int(input_bytes) + (4 << 20) - 1) >> 22))
        width = str(par)
    except Exception:  # Spark Connect: no sparkContext — keep session conf
        width = prev
    ck_dir = scratch_dir("omdp_stream_twin_")
    try:
        if width is not None:
            spark.conf.set(key, width)
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck_dir)
            .start()
        )
        query.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        # the memory sink holds the result; the checkpoint is disposable
        shutil.rmtree(ck_dir, ignore_errors=True)
    return spark.table(name)

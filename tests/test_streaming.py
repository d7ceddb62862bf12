"""Structured Streaming tests: file-stream ingestion with checkpoint resume,
watermarked windows, session windows, streaming dedup."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from open_molecule_data_pipeline_spark.streaming.jobs import (
    EVENT_SCHEMA,
    stream_dedup_within_watermark,
    stream_ndjson_ingest,
    stream_sessionized,
    stream_windowed_counts,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _event_rows(spec):
    """spec: list of (event_id, minutes_offset, user_id, event_type, value)."""
    return [
        (eid, T0 + timedelta(minutes=m), uid, et, val)
        for eid, m, uid, et, val in spec
    ]


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if stream_df.isStreaming else "append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_ndjson_ingest_stream_resume(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    def write_batch(path, records):
        with open(path, "w") as fh:
            for r in records:
                fh.write(json.dumps(r) + "\n")

    write_batch(
        landing / "b1.jsonl",
        [
            {"source": "s", "identifier": "a", "smiles": "C", "metadata": {}},
            {"source": "s", "identifier": "b", "smiles": "CC", "metadata": {}},
        ],
    )
    writer = stream_ndjson_ingest(spark, str(landing), str(out), str(ckpt))
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(str(out)).count() == 2

    # second batch arrives; restart consumes ONLY the new file (checkpoint
    # offsets = the reference's resume cursor, common.py:38-43)
    write_batch(
        landing / "b2.jsonl",
        [{"source": "s", "identifier": "c", "smiles": "N", "metadata": {}}],
    )
    q2 = stream_ndjson_ingest(spark, str(landing), str(out), str(ckpt)).start()
    q2.processAllAvailable()
    q2.stop()
    df = spark.read.parquet(str(out))
    assert df.count() == 3
    assert {r.identifier for r in df.collect()} == {"a", "b", "c"}


@pytest.fixture()
def event_stream(spark, tmp_path):
    """Parquet-backed bounded stream of events."""

    def make(spec):
        src = tmp_path / "events_src"
        spark.createDataFrame(_event_rows(spec), schema=EVENT_SCHEMA).write.mode(
            "overwrite"
        ).parquet(str(src))
        return spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))

    return make


def test_windowed_counts(spark, event_stream):
    stream = event_stream(
        [
            (1, 0, 1, "click", 1.0),
            (2, 2, 1, "click", 2.0),
            (3, 7, 2, "view", 3.0),
        ]
    )
    agg = stream_windowed_counts(stream, watermark="1 minute", window="5 minutes")
    # append mode only emits closed windows; use update-capable sink via
    # complete mode on a fresh writer instead
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM win_counts").collect()
    # the first 5-minute window [00:00,00:05) closes once the watermark
    # passes; with a bounded source the final window may stay open, so we
    # assert on what appended
    closed = {(r.window_start.minute, r.event_type): r.n for r in rows}
    assert closed.get((0, "click")) == 2


def test_sessionization_stream(spark, event_stream):
    stream = event_stream(
        [
            (1, 0, 1, "click", 1.0),
            (2, 5, 1, "click", 1.0),   # same session (gap 5m < 30m)
            (3, 60, 1, "click", 1.0),  # new session
            (4, 300, 1, "click", 1.0), # closes previous sessions via watermark
        ]
    )
    agg = stream_sessionized(stream, watermark="1 minute", gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sessions ORDER BY session_start").collect()
    assert [r.n_events for r in rows] == [2, 1]
    assert rows[0].session_start.minute == 0


def test_stream_dedup(spark, event_stream):
    stream = event_stream(
        [
            (1, 0, 1, "click", 1.0),
            (1, 1, 1, "click", 1.0),  # duplicate event_id within watermark
            (2, 2, 1, "view", 2.0),
        ]
    )
    deduped = stream_dedup_within_watermark(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT event_id FROM deduped").collect()
    assert sorted(r.event_id for r in rows) == [1, 2]


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches."""
    import json as _json

    from open_molecule_data_pipeline_spark.streaming.jobs import (
        stream_running_user_totals,
    )

    src = tmp_path / "stateful_src"
    src.mkdir()

    def write_batch(name, rows):
        with open(src / name, "w") as fh:
            for eid, minute, uid, et, val in rows:
                fh.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
                            "user_id": uid,
                            "event_type": et,
                            "value": val,
                        }
                    )
                    + "\n"
                )

    write_batch("b1.jsonl", [(1, 0, 1, "click", 1.5), (2, 1, 1, "view", 2.5)])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = stream_running_user_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    q.processAllAvailable()
    write_batch("b2.jsonl", [(3, 2, 1, "click", 6.0), (4, 3, 2, "view", 1.0)])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT * FROM running_totals ORDER BY user_id, n_events"
    ).collect()
    # user 1 appears twice (update mode): first n=2, then n=3 with carried state
    latest = {}
    for r in rows:
        latest[r.user_id] = (r.n_events, r.total_value)
    assert latest[1] == (3, 10.0)
    assert latest[2] == (1, 1.0)


def test_foreach_batch_ndjson_sink(spark, tmp_path):
    """foreachBatch drives the reference-parity gzip NDJSON sink with
    write-then-commit ordering."""
    import gzip as _gzip

    from open_molecule_data_pipeline_spark.streaming.jobs import (
        stream_ndjson_foreach_batch,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b1.jsonl").write_text(
        json.dumps({"source": "s", "identifier": "a", "smiles": "C", "metadata": {}})
        + "\n"
    )
    writer = stream_ndjson_foreach_batch(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    files = sorted((tmp_path / "out").rglob("*.json.gz"))
    assert files
    with _gzip.open(files[0], "rt") as fh:
        rec = json.loads(fh.readline())
    assert rec["identifier"] == "a" and rec["source"] == "s"


def test_cli_stream_drains_and_resumes(spark, tmp_path, capsys):
    from open_molecule_data_pipeline_spark.plans import cli

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b1.jsonl").write_text(
        json.dumps({"source": "s", "identifier": "a", "smiles": "C", "metadata": {}})
        + "\n"
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    assert cli.main(["stream", "--landing", str(landing), "--output", out,
                     "--checkpoint", ck]) == 0
    assert spark.read.parquet(out).count() == 1
    # new file arrives; second drain picks up ONLY the new one
    (landing / "b2.jsonl").write_text(
        json.dumps({"source": "s", "identifier": "b", "smiles": "N", "metadata": {}})
        + "\n"
    )
    assert cli.main(["stream", "--landing", str(landing), "--output", out,
                     "--checkpoint", ck]) == 0
    assert spark.read.parquet(out).count() == 2


def test_stream_stream_join_attribution(spark, event_stream, tmp_path):
    from open_molecule_data_pipeline_spark.streaming.jobs import (
        stream_click_attribution,
    )

    # impressions at minute 0 and 50; clicks at minutes 5, 20, 55.
    # with a 30-minute attribution window: click@5 and click@20 attribute
    # to imp@0, click@55 to imp@50.
    imp = event_stream([(10, 0, 1, "imp", 0.0), (11, 50, 1, "imp", 0.0)])

    src2 = tmp_path / "clicks_src"
    spark.createDataFrame(
        _event_rows([(20, 5, 1, "click", 1.0), (21, 20, 1, "click", 1.0),
                     (22, 55, 1, "click", 1.0)]),
        schema=EVENT_SCHEMA,
    ).write.mode("overwrite").parquet(str(src2))
    clk = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src2))

    joined = stream_click_attribution(imp, clk, watermark="1 minute",
                                      max_delay="30 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    pairs = {
        (r.imp_id, r.clk_id)
        for r in spark.sql("SELECT imp_id, clk_id FROM attrib").collect()
    }
    assert pairs == {(10, 20), (10, 21), (11, 22)}


def test_incremental_materialized_view(spark, tmp_path):
    """foreachBatch merge-upsert keeps a keyed parquet aggregate equal to
    the full recompute after multiple micro-batches."""
    from pyspark.sql import functions as F

    from open_molecule_data_pipeline_spark.streaming.jobs import (
        stream_incremental_user_totals,
    )

    src = tmp_path / "events_src"
    state = tmp_path / "state"
    ckpt = tmp_path / "ckpt"

    batch1 = [(1, 0, 1, "click", 1.0), (2, 1, 2, "view", 2.0)]
    batch2 = [(3, 2, 1, "click", 3.0), (4, 3, 3, "view", 4.0)]

    spark.createDataFrame(_event_rows(batch1), schema=EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(str(src))
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
    writer = stream_incremental_user_totals(spark, stream, str(state), str(ckpt))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)

    spark.createDataFrame(_event_rows(batch2), schema=EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(str(src))
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
    writer = stream_incremental_user_totals(spark, stream, str(state), str(ckpt))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.read.parquet(str(state)).collect()
    }
    assert got == {1: (2, 4.0), 2: (1, 2.0), 3: (1, 4.0)}


def test_incremental_totals_replay_is_idempotent(spark, tmp_path):
    """ADVICE r1: foreachBatch is at-least-once — a replayed batch_id must
    not double-count (the merged batch id is persisted inside the state)."""
    import shutil

    from open_molecule_data_pipeline_spark.streaming.jobs import (
        stream_incremental_user_totals,
    )

    src = tmp_path / "events_src"
    state = tmp_path / "state"
    ckpt = tmp_path / "ckpt"
    batch1 = [(1, 0, 1, "click", 1.0), (2, 1, 2, "view", 2.0)]
    spark.createDataFrame(_event_rows(batch1), schema=EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(str(src))

    def run_once(checkpoint):
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
        writer = stream_incremental_user_totals(spark, stream, str(state), checkpoint)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once(str(ckpt))
    # wipe the offset log -> Spark replays batch 0 with identical data
    shutil.rmtree(ckpt)
    run_once(str(ckpt))
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.read.parquet(str(state)).collect()
    }
    assert got == {1: (1, 1.0), 2: (1, 2.0)}  # NOT doubled


def test_incremental_totals_restores_from_old_generation(spark, tmp_path):
    """ADVICE r1: crash between state.rename(old) and tmp.rename(state)
    leaves only the _old generation — the next batch must restore it, not
    silently rebuild from its own delta."""
    from open_molecule_data_pipeline_spark.streaming.jobs import (
        stream_incremental_user_totals,
    )

    src = tmp_path / "events_src"
    state = tmp_path / "state"
    ckpt = tmp_path / "ckpt"
    batch1 = [(1, 0, 1, "click", 1.0), (2, 1, 2, "view", 2.0)]
    spark.createDataFrame(_event_rows(batch1), schema=EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(str(src))

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
        writer = stream_incremental_user_totals(spark, stream, str(state), str(ckpt))
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()
    # simulate the crash window: live state vanished mid-swap
    state.rename(tmp_path / "state_old")
    batch2 = [(3, 2, 1, "click", 3.0)]
    spark.createDataFrame(_event_rows(batch2), schema=EVENT_SCHEMA).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.read.parquet(str(state)).collect()
    }
    assert got == {1: (2, 4.0), 2: (1, 2.0)}  # prior totals survived


def test_tws_registers_with_runtime_dispatch(spark):
    """stream_tws_user_stats is always registered: it runs the real
    transformWithStateInPandas twin when google.protobuf (the TWS
    state-server protocol dependency) is importable, and otherwise an
    equivalent applyInPandasWithState state machine — so the contract entry
    executes in every runtime instead of disappearing behind a gate."""
    from open_molecule_data_pipeline_spark.operators import streaming_twin as st
    from open_molecule_data_pipeline_spark.registry import load_all

    assert "stream_tws_user_stats" in load_all()
    proc = st._UserStatsProcessor().build()  # builds regardless of runtime
    assert hasattr(proc, "handleInputRows") and hasattr(proc, "init")
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in st.stream_tws_user_stats(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from pyspark.sql import functions as F

    want = {
        r.user_id: (r.n, r.s)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long"))
                / F.lit(100).cast("double")
            ).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_staged_stream_bands_arrive_in_order(spark, monkeypatch, tmp_path):
    """staged_stream delivers one band per micro-batch in the GIVEN order
    (not lexical: z before a), skips a band with no rows, and deletes its
    scratch dir when the ``with`` block exits."""
    import os

    from pyspark.sql import functions as F

    from open_molecule_data_pipeline_spark.operators import _stream

    made = []
    real_scratch_dir = _stream.scratch_dir

    def recording_scratch_dir(prefix):
        made.append(real_scratch_dir(prefix))
        return made[-1]

    monkeypatch.setattr(_stream, "scratch_dir", recording_scratch_dir)

    df = spark.createDataFrame(
        [(1, "z"), (2, "z"), (3, "a"), (4, "m"), (5, "m"), (6, "m")],
        "k long, tag string",
    ).withColumn("band", F.col("tag"))
    batches = []

    def collect(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batches.append(
                (sorted({r.tag for r in rows}), sorted(r.k for r in rows))
            )

    with _stream.staged_stream(spark, df, "band", ("z", "empty", "a", "m")) as (
        stream,
        nbytes,
    ):
        assert stream.columns == ["k", "tag"]
        assert nbytes > 0
        (stage,) = made
        assert sorted(os.listdir(stage)) == ["a.parquet", "m.parquet", "z.parquet"]
        query = (
            stream.writeStream.foreachBatch(collect)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    assert batches == [
        (["z"], [1, 2]),
        (["a"], [3]),
        (["m"], [4, 5, 6]),
    ]
    assert not os.path.exists(stage)

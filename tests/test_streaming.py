"""Structured Streaming pipeline tests: stream output equals batch
output; metrics stream aggregates with watermark; checkpoint resume."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.plans.pipeline import extract_and_score
from readability_scanner_spark.sources.transcripts import transcripts_df
from readability_scanner_spark.streaming.jobs import run_extract_stream, run_metrics_stream


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    transcripts_df(spark, n_conversations=8, seed=42).write.mode("overwrite").parquet(path)
    return path


def test_stream_matches_batch(spark, stream_input, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = run_extract_stream(spark, stream_input, out, ckpt)
    q.awaitTermination(180)

    streamed = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "text_content", "words", "parse_failed")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    batch = (
        extract_and_score(spark.read.parquet(stream_input), repartition_to=0)
        .select(
            "conv_id", "turn_idx", F.col("cleaned_data").alias("text_content"), "words", "parse_failed"
        )
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert streamed == batch


def test_stream_resume_no_duplicates(spark, stream_input, tmp_path):
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    q = run_extract_stream(spark, stream_input, out, ckpt)
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()
    # restart with same checkpoint, no new input → no new rows
    q2 = run_extract_stream(spark, stream_input, out, ckpt)
    q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == n1


def test_metrics_stream(spark, stream_input, tmp_path):
    q = run_metrics_stream(spark, stream_input, str(tmp_path / "ckpt3"), query_name="m1")
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM m1").collect()
    assert rows
    total = sum(r.turns for r in rows)
    assert total == spark.read.parquet(stream_input).count()
    for r in rows:
        assert 0.0 <= r.mean_content_ratio <= 1.0


def test_stateful_streaming_sessions(spark, tmp_path):
    """applyInPandasWithState: session state must carry across
    micro-batches (two files → maxFilesPerTrigger=1 → two batches).

    The processing-time timeout keeps scheduling no-data batches, so the
    availableNow query never terminates on its own: wait until all four
    input rows are processed, then stop it."""
    import time

    import pandas as pd
    from readability_scanner_spark.streaming.sessions import streaming_sessions

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    batch1 = pd.DataFrame({
        "event_id": [1, 2],
        "user_id": [100, 100],
        "ts": pd.to_datetime(["2025-01-01 10:00:00", "2025-01-01 10:10:00"]),
    })
    batch2 = pd.DataFrame({
        "event_id": [3, 4],
        "user_id": [100, 100],
        # 3 continues the session (15 min gap), 4 starts a new one (2h gap)
        "ts": pd.to_datetime(["2025-01-01 10:25:00", "2025-01-01 12:30:00"]),
    })
    batch1.to_parquet(in_dir / "b1.parquet", coerce_timestamps="us")
    batch2.to_parquet(in_dir / "b2.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        streaming_sessions(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.monotonic() + 180
        while sum(p.numInputRows for p in q.recentProgress) < 4:
            assert q.isActive and time.monotonic() < deadline, q.exception()
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM sessions_out ORDER BY last_ts"
    ).collect()
    # snapshot per (user, batch-group call); final state: session 2 with 1 event
    assert rows[-1].session_idx == 2 and rows[-1].n_events == 1
    # an earlier snapshot must show session 1 accumulating across batches
    sess1 = [r for r in rows if r.session_idx == 1]
    assert sess1 and max(r.n_events for r in sess1) == 3  # events 1,2 then +3


def test_session_timeout_flushes_and_clears_state():
    """The hasTimedOut branch must emit the open session as a final row
    and remove the per-user state (unbounded state at 10^12 users
    otherwise). Drive make_session_fn directly with a fake GroupState."""
    from readability_scanner_spark.streaming.sessions import make_session_fn

    class FakeState:
        def __init__(self, tup):
            self._t = tup
            self.exists = tup is not None
            self.hasTimedOut = True
            self.removed = False

        @property
        def get(self):
            return self._t

        def remove(self):
            self.removed = True

        def update(self, t):  # pragma: no cover - not hit on timeout path
            raise AssertionError("timeout path must not update state")

    fn = make_session_fn(gap_minutes=30)
    # open session: idx 2, 5 events, started t=1000, last seen t=1600
    st = FakeState((2, 5, 1000.0, 1600.0))
    frames = list(fn((7,), iter(()), st))
    rows = pd.concat(frames)
    assert st.removed
    assert len(rows) == 1
    r = rows.iloc[0]
    assert (r.user_id, r.session_idx, r.n_events, r.span_seconds) == (7, 2, 5, 600.0)

    # timed out with no existing state: no output, no crash
    st_empty = FakeState(None)
    frames = list(fn((8,), iter(()), st_empty))
    assert pd.concat(frames).empty


def test_event_time_session_windows_emit_on_watermark(spark, tmp_path):
    """Append-mode session_window: a session is emitted once the
    watermark passes its end; the still-open newest session is held in
    state, not emitted."""
    from readability_scanner_spark.streaming.sessions import streaming_session_windows

    in_dir = tmp_path / "sw_in"
    in_dir.mkdir()
    pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "user_id": [7, 7, 7, 7],
            # session A: 10:00, 10:10; session B: 16:00; session C: 23:00
            # watermark 1h off max(23:00) = 22:00 → A and B closed, C open
            "ts": pd.to_datetime(
                ["2025-01-01 10:00:00", "2025-01-01 10:10:00",
                 "2025-01-01 16:00:00", "2025-01-01 23:00:00"]
            ),
        }
    ).to_parquet(in_dir / "b1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .parquet(str(in_dir))
    )
    q = (
        streaming_session_windows(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sw_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM sw_out ORDER BY session_start").collect()
    assert [(r.n_events, r.session_start.hour) for r in rows] == [(2, 10), (1, 16)]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate keys arriving within the
    watermark are dropped; state is evicted afterwards (bounded)."""
    from readability_scanner_spark.streaming.jobs import streaming_dedup

    in_dir = tmp_path / "dd_in"
    in_dir.mkdir()
    pd.DataFrame(
        {
            "k": [1, 2, 1, 3, 2],
            "ts": pd.to_datetime(
                ["2025-01-01 10:00:00", "2025-01-01 10:00:30", "2025-01-01 10:01:00",
                 "2025-01-01 10:02:00", "2025-01-01 10:03:00"]
            ),
            "v": [10, 20, 11, 30, 21],
        }
    ).to_parquet(in_dir / "b1.parquet", coerce_timestamps="us")

    stream = spark.readStream.schema("k long, ts timestamp, v long").parquet(str(in_dir))
    q = (
        streaming_dedup(stream, ["k"], "ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT k, v FROM dd_out ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 10), (2, 20), (3, 30)]


def test_streaming_rollup_partials_reaggregate_exactly(spark, stream_input, tmp_path):
    """Continuous-aggregate roundtrip: streaming minute partials, rolled
    up to day by the BATCH rollup_up, must equal the direct batch rollup
    from raw rows — the incremental-refresh correctness contract."""
    from readability_scanner_spark.operators.rollup import finalize, rollup_base, rollup_up
    from readability_scanner_spark.streaming.jobs import streaming_rollup_minute

    in_dir = tmp_path / "ru_in"
    in_dir.mkdir()
    rng_rows = pd.DataFrame(
        {
            "ts": pd.to_datetime("2025-03-01 00:00:00")
            + pd.to_timedelta((pd.Series(range(500)) * 137) % 100000, unit="s"),
            "value": [((i * 31) % 97) / 7.0 for i in range(500)],
        }
    )
    # watermark-pusher sentinel: a far-future row advances the watermark
    # past every real window so append mode emits them all; its own
    # (held, unemitted) window is excluded from the comparison below
    sentinel_day = "2025-03-10"
    rng_rows = pd.concat(
        [rng_rows, pd.DataFrame({"ts": [pd.Timestamp(f"{sentinel_day} 12:00:00")], "value": [0.0]})]
    )
    rng_rows.to_parquet(in_dir / "b1.parquet", coerce_timestamps="us")

    stream = spark.readStream.schema("ts timestamp, value double").parquet(str(in_dir))
    q = (
        streaming_rollup_minute(stream, "ts", "value")
        .writeStream.format("memory")
        .queryName("ru_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ru_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed_minute = spark.sql("SELECT * FROM ru_out")
    via_stream = finalize(rollup_up(rollup_up(streamed_minute, "hour"), "day"))
    batch = spark.read.parquet(str(in_dir))
    direct = finalize(rollup_up(rollup_up(rollup_base(batch, "ts", "value"), "hour"), "day"))
    closed = F.col("bucket") < sentinel_day
    assert sorted(via_stream.where(closed).collect()) == sorted(direct.where(closed).collect())
    assert via_stream.where(closed).count() > 0


def test_stream_extracts_pdf_payloads(spark, tmp_path):
    """The streaming path shares the batch UDF's format dispatch — PDF
    turns in a stream extract identically to batch, no parse failures."""
    path = str(tmp_path / "pdf_in")
    transcripts_df(spark, n_conversations=6, seed=11, pdf_rate=0.4).write.mode(
        "overwrite"
    ).parquet(path)
    out = str(tmp_path / "pdf_out")
    ckpt = str(tmp_path / "pdf_ckpt")
    q = run_extract_stream(spark, path, out, ckpt)
    q.awaitTermination(180)

    src = spark.read.parquet(path)
    n_pdf = src.where(F.col("text").startswith("%PDF-")).count()
    assert n_pdf > 0
    streamed = spark.read.parquet(out)
    pdf_rows = streamed.join(
        src.where(F.col("text").startswith("%PDF-")).select("conv_id", "turn_idx"),
        ["conv_id", "turn_idx"],
    )
    assert pdf_rows.count() == n_pdf
    assert pdf_rows.where(F.col("parse_failed")).count() == 0
    assert pdf_rows.where(F.length("text_content") > 0).count() == n_pdf

"""applyInPandasWithState: per-conversation running state across batches."""

from pyspark.sql import functions as F

from cheque_ocr_project_spark.streaming import stateful as SS
from cheque_ocr_project_spark.streaming import stream as ST


def test_conversation_progress_accumulates(spark, fixture_data, tmp_path):
    transcripts, _m, _dd = fixture_data
    convs = sorted(transcripts.conv_id.unique())[:6]
    subset = transcripts[transcripts.conv_id.isin(convs)]

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    sdf = spark.createDataFrame(subset).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    sdf.write.mode("append").parquet(str(input_dir))

    stream = ST.read_transcript_stream(spark, str(input_dir))
    out = SS.conversation_progress(stream, idle_timeout_ms=2000)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("conv_progress_t")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM conv_progress_t").collect()
    # update mode: memory sink keeps every emission; the last row per conv is
    # the idle-timeout "conversation closed" finalization
    latest = {}
    for r in rows:
        latest[r.conv_id] = r

    expected = subset.groupby("conv_id").agg(
        turns=("turn_idx", "size"), max_idx=("turn_idx", "max")
    )
    for conv in convs:
        r = latest[conv]
        assert r.turns_seen == int(expected.loc[conv, "turns"])
        assert r.max_turn_idx == int(expected.loc[conv, "max_idx"])
    # at least the running (non-closed) emission happened for every conv
    open_rows = {r.conv_id for r in rows if not r.closed}
    assert open_rows == set(convs)
    # marker counting is plausible (some cheque-like turns carry PAY/ORDER OF)
    assert sum(r.payee_marker_turns for r in latest.values()) > 0


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """The applyInPandasWithState gap-sessionizer must assign the exact
    session numbering the batch operator (driver-oracle-backed
    q_sessionize) produces, across multiple micro-batches with session
    gaps straddling batch boundaries."""
    import pandas as pd

    from cheque_ocr_project_spark.plans import events

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    # three time-ordered chunks -> in-order arrival per user across
    # micro-batches (maxFilesPerTrigger=1 forces one batch per file)
    pdf = ev.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    cuts = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    input_dir = tmp_path / "ev_in"
    input_dir.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(3):
        chunk = pdf.iloc[cuts[i]:cuts[i + 1]]
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       input_dir / f"{i:03d}.parquet",
                       coerce_timestamps="us")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    out = SS.streaming_sessionize(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_sessions_t")
        .option("checkpointLocation", str(tmp_path / "cp_sess"))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow does NOT self-terminate while applyInPandasWithState
    # processing-time timers are pending (the idle-timeout keeps scheduling
    # batches), so poll the sink for completeness and stop explicitly —
    # an un-asserted awaitTermination would silently compare a partial
    # sink on a slow box.
    import time

    n_expected = spark.read.parquet(f"{sf}/events.parquet").count()
    deadline = time.time() + 240
    while time.time() < deadline:
        if spark.sql(
            "SELECT count(*) FROM stream_sessions_t"
        ).collect()[0][0] >= n_expected:
            break
        time.sleep(2)
    q.stop()
    q.awaitTermination(60)

    got = (
        spark.sql("SELECT * FROM stream_sessions_t").toPandas()
        .sort_values("event_id").reset_index(drop=True)
    )
    exp = events.q_sessionize(spark, sf).toPandas()
    exp["ts_us"] = exp["ts"].astype("int64") // 1000
    exp = exp.drop(columns=["ts"]).sort_values("event_id").reset_index(drop=True)
    assert len(got) == len(exp) > 0
    for c in ("event_id", "user_id", "ts_us", "session_seq"):
        assert (got[c].astype("int64") == exp[c].astype("int64")).all(), c
    assert (got["is_session_start"] == exp["is_session_start"]).all()
    # the fixture genuinely exercises the gap rule: in-session
    # continuations exist (54 at sf0.001), so the equality above proves
    # both the carried last-timestamp and the carried session count, not
    # just trivially-incrementing singleton sessions
    assert int((~got["is_session_start"]).sum()) > 0

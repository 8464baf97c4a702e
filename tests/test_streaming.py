"""Structured Streaming wiring checks (SURVEY.md §5.2-5): the
watermark/late-data contract has no SQL oracle — it is asserted with a
real micro-batch pipeline over a file source.
"""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime

import pytest

from mapreduceplusplus_spark.streaming.windows import streaming_pipeline


@pytest.fixture()
def stream_dirs():
    src = tempfile.mkdtemp(prefix="stream_src_")
    chk = tempfile.mkdtemp(prefix="stream_chk_")
    yield src, chk
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)


def _write_batch(spark, src, rows, n):
    df = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    df.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch{n}")


def test_watermark_drops_late_events(spark, stream_dirs):
    """Append-mode windowed count with a 10-minute watermark:
    a window is emitted once the watermark passes its end, and events
    older than the watermark are dropped — batch 2's late event must
    NOT reappear as an update to the already-finalized window."""
    src, chk = stream_dirs
    T = datetime

    # batch 1: three events in [10:00, 10:10) + one at 11:00 that will
    # advance the watermark to 10:50, finalizing the 10:00 window
    _write_batch(
        spark,
        src,
        [
            (T(2024, 1, 1, 10, 0, 30), 1),
            (T(2024, 1, 1, 10, 3, 0), 2),
            (T(2024, 1, 1, 10, 5, 0), 3),
            (T(2024, 1, 1, 11, 0, 0), 4),
        ],
        1,
    )
    agg = streaming_pipeline(
        spark, f"{src}/batch*", "ts timestamp, user_id bigint",
        window="10 minutes", watermark="10 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for the finalized 10:00 window
        # (watermark is 10:50 > window end 10:10 → must be dropped)
        # plus one at 12:00 to finalize the 11:00 window
        _write_batch(
            spark,
            src,
            [
                (T(2024, 1, 1, 10, 2, 0), 9),
                (T(2024, 1, 1, 12, 0, 0), 5),
            ],
            2,
        )
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        r.win_start.strftime("%H:%M"): r.n_events
        for r in spark.sql("SELECT * FROM wm_sink").collect()
    }
    # 10:00 window finalized with 3 events — the late 10:02 event was
    # dropped, not merged and not re-emitted
    assert rows.get("10:00") == 3
    # 11:00 window finalized by batch 2's 12:00 event
    assert rows.get("11:00") == 1


def test_append_mode_emits_exactly_closed_windows_vs_batch(spark, stream_dirs):
    """VERDICT r9 item 5: the APPEND-mode output matrix pin.  Complete
    mode re-emits everything; the production sink mode is append, whose
    contract is FINALIZED-WINDOW-ONLY emission: (a) at no point may a
    window whose end the watermark hasn't passed appear in the sink,
    (b) the final sink must equal the BATCH aggregation restricted to
    closed windows — computed over the punctual events only, because
    (c) a late event must neither re-open nor re-emit its finalized
    window (the eviction half of the contract: the batch aggregation
    WITH the late event would disagree, and the test asserts that
    disagreement)."""
    from pyspark.sql import functions as F

    src, chk = stream_dirs
    T = datetime
    b1 = [
        (T(2024, 1, 1, 10, 0, 30), 1),
        (T(2024, 1, 1, 10, 3, 0), 2),
        (T(2024, 1, 1, 10, 11, 0), 3),
        (T(2024, 1, 1, 10, 31, 0), 4),  # advances watermark to 10:21
    ]
    late = (T(2024, 1, 1, 10, 5, 0), 9)  # watermark 10:21 → dropped
    b2 = [late, (T(2024, 1, 1, 11, 5, 0), 5)]
    b3 = [(T(2024, 1, 2, 0, 0, 0), 99)]  # closes everything else
    _write_batch(spark, src, b1, 1)
    agg = streaming_pipeline(
        spark, f"{src}/batch*", "ts timestamp, user_id bigint",
        window="10 minutes", watermark="10 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("append_matrix_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )

    def sink():
        return {
            (r.win_start, r.win_end): r.n_events
            for r in spark.sql("SELECT * FROM append_matrix_sink").collect()
        }

    try:
        q.processAllAvailable()
        # (a) mid-run: watermark is 10:21 — only windows ending ≤ 10:21
        # may have been emitted; [10:30, 10:40) is still open
        wm1 = T(2024, 1, 1, 10, 21, 0)
        assert all(we <= wm1 for _, we in sink()), sink()
        _write_batch(spark, src, b2, 2)
        q.processAllAvailable()
        wm2 = T(2024, 1, 1, 10, 55, 0)
        assert all(we <= wm2 for _, we in sink()), sink()
        _write_batch(spark, src, b3, 3)
        q.processAllAvailable()
    finally:
        q.stop()

    got = sink()
    final_wm = T(2024, 1, 1, 23, 50, 0)
    assert all(we <= final_wm for _, we in got), got

    # (b) equivalence vs batch on closed windows, punctual events only
    punctual = b1 + [b2[1]] + b3
    closed_batch = {
        (r.win_start, r.win_end): r.n_events
        for r in (
            spark.createDataFrame(punctual, "ts timestamp, user_id bigint")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                "n_events",
            )
            .collect()
        )
        if r.win_end <= final_wm
    }
    assert got == closed_batch and len(got) == 4, (got, closed_batch)

    # (c) the eviction half: WITH the late event the batch count for
    # the 10:00 window would be 3 — append mode kept the finalized 2
    w10 = (T(2024, 1, 1, 10, 0, 0), T(2024, 1, 1, 10, 10, 0))
    assert got[w10] == 2


def test_update_mode_reemits_and_latest_state_matches_batch(spark, stream_dirs):
    """The third cell of the output-mode matrix (complete / append /
    UPDATE): update mode re-emits a window EVERY micro-batch that
    changes it — captured per-batch via foreachBatch — and the LATEST
    emission per window must equal the batch aggregation over punctual
    events; watermark eviction still drops late data, so a closed
    window is neither re-opened nor re-emitted."""
    from pyspark.sql import functions as F

    src, chk = stream_dirs
    T = datetime
    b1 = [(T(2024, 1, 1, 10, 1, 0), 1), (T(2024, 1, 1, 10, 3, 0), 2)]
    b2 = [(T(2024, 1, 1, 10, 5, 0), 3), (T(2024, 1, 1, 11, 0, 0), 4)]
    # watermark after b2 = 10:50 → the 10:04 event is late (dropped);
    # 11:05 updates the [11:00, 11:10) window a second time
    b3 = [(T(2024, 1, 1, 10, 4, 0), 9), (T(2024, 1, 1, 11, 5, 0), 5)]
    _write_batch(spark, src, b1, 1)
    agg = streaming_pipeline(
        spark, f"{src}/batch*", "ts timestamp, user_id bigint",
        window="10 minutes", watermark="10 minutes",
    )
    captured = []

    def capture(df, batch_id):
        captured.append(
            {(r.win_start, r.win_end): r.n_events for r in df.collect()}
        )

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch(capture)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, b2, 2)
        q.processAllAvailable()
        _write_batch(spark, src, b3, 3)
        q.processAllAvailable()
    finally:
        q.stop()

    w10 = (T(2024, 1, 1, 10, 0, 0), T(2024, 1, 1, 10, 10, 0))
    w11 = (T(2024, 1, 1, 11, 0, 0), T(2024, 1, 1, 11, 10, 0))
    nonempty = [c for c in captured if c]
    # (a) re-emission: the 10:00 window appears in ≥ 2 distinct
    # micro-batch emissions with GROWING counts (2 then 3) — the
    # update-vs-append distinction
    w10_counts = [c[w10] for c in nonempty if w10 in c]
    assert w10_counts == [2, 3], (w10_counts, nonempty)
    # (b) latest emission per window == batch agg over punctual events
    latest = {}
    for c in nonempty:
        latest.update(c)
    punctual = b1 + b2 + [b3[1]]
    batch_counts = {
        (r.win_start, r.win_end): r.n_events
        for r in (
            spark.createDataFrame(punctual, "ts timestamp, user_id bigint")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                "n_events",
            )
            .collect()
        )
    }
    assert latest == batch_counts, (latest, batch_counts)
    # (c) eviction: after the watermark passed 10:10, the late 10:04
    # event produced NO further emission of the 10:00 window — its
    # last emitted count stays 3 (b3's only emission touches 11:00)
    assert all(w10 not in c for c in nonempty[2:]), nonempty
    assert latest[w11] == 2


def test_streaming_matches_batch_semantics(spark, stream_dirs):
    """The streaming aggregation over a fully-delivered source equals
    the same F.window aggregation run in batch (one micro-batch, no
    late data): event-time windows are mode-independent."""
    from pyspark.sql import functions as F

    src, chk = stream_dirs
    T = datetime
    rows = [
        (T(2024, 1, 1, 10, m, s), u)
        for m, s, u in [(0, 10, 1), (4, 0, 2), (11, 5, 3), (12, 0, 4), (25, 0, 5), (40, 0, 6)]
    ]
    _write_batch(spark, src, rows, 1)

    agg = streaming_pipeline(
        spark, f"{src}/batch*", "ts timestamp, user_id bigint",
        window="10 minutes", watermark="0 seconds",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("batch_equiv_sink")
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r.win_start, r.win_end): r.n_events
        for r in spark.sql("SELECT * FROM batch_equiv_sink").collect()
    }

    batch_df = (
        spark.read.parquet(f"{src}/batch1")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), F.col("w.end").alias("win_end"), "n_events")
    )
    batched = {(r.win_start, r.win_end): r.n_events for r in batch_df.collect()}
    assert streamed == batched and len(batched) == 4


def test_stateful_fold_with_runs_straddling_arrow_batches(spark):
    """The batch fold carries a user's state across Arrow batches: with
    7-record batches most user runs straddle a batch boundary, and the
    result must equal the default-batch result exactly."""
    from mapreduceplusplus_spark import registry
    from tests.conftest import SF_DIR_ORACLE

    q = registry.queries()["stream_stateful_running_total"]
    want = sorted(map(tuple, q(spark, SF_DIR_ORACLE).collect()))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = sorted(map(tuple, q(spark, SF_DIR_ORACLE).collect()))
    finally:
        spark.conf.set(key, prev)
    assert len(want) > 1
    assert got == want


def test_stateful_running_total_stream_matches_batch(spark, stream_dirs):
    """The applyInPandasWithState operator replayed over THREE
    micro-batches must land on exactly the state the batch-mode fold
    computes over the union — the state-transition associativity
    contract (streaming/stateful.py)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.streaming.stateful import (
        _advance,
        stateful_running_total_stream,
    )

    src, chk = stream_dirs
    T = datetime
    batches = [
        [(T(2024, 1, 1, 10, 0, 30), 1, 5.0), (T(2024, 1, 1, 10, 3, 0), 2, 1.5)],
        [(T(2024, 1, 1, 11, 0, 0), 1, 2.5), (T(2024, 1, 1, 11, 5, 0), 1, 1.0)],
        [(T(2024, 1, 1, 12, 0, 0), 2, 4.0), (T(2024, 1, 1, 12, 1, 0), 3, 9.0)],
    ]
    schema = "ts timestamp, user_id bigint, value double"
    spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/batch1")

    stream = spark.readStream.schema(schema).parquet(f"{src}/batch*")
    q = (
        stateful_running_total_stream(stream)
        .writeStream.format("memory")
        .queryName("stateful_sink")
        .outputMode("update")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=2):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{src}/batch{i}")
            q.processAllAvailable()
    finally:
        q.stop()

    # last update per user wins (update output mode appends each revision)
    sink = spark.sql("SELECT * FROM stateful_sink").collect()
    final = {}
    for r in sink:
        final[r.user_id] = (r.n_events, round(r.sum_value, 2), r.last_ts)

    all_rows = [r for b in batches for r in b]
    batch_pdf = pd.DataFrame(all_rows, columns=["ts", "user_id", "value"])
    expected = {}
    for uid, grp in batch_pdf.groupby("user_id"):
        n, total, last_us = _advance(None, grp)
        expected[uid] = (n, round(total, 2), pd.Timestamp(last_us, unit="us"))
    assert final == expected
    # and the streaming state saw every revision: user 1 appears in >=2
    # distinct update emissions (batch 1 and batch 2)
    assert sum(1 for r in sink if r.user_id == 1) >= 2


def test_stateful_checkpoint_recovery(spark, stream_dirs):
    """Exactly-once recovery contract: kill the stateful query after
    batch N, restart FROM THE SAME CHECKPOINT, and the final per-user
    totals must equal the uninterrupted run's — per-user state survives
    the restart via the state store, and already-committed batches are
    not reprocessed (the recovery guarantee real pipelines depend on)."""
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        _advance,
        stateful_running_total_stream,
    )

    import tempfile

    src, chk = stream_dirs
    sink_dir = tempfile.mkdtemp(prefix="stream_sink_")
    T = datetime
    schema = "ts timestamp, user_id bigint, value double"
    b1 = [(T(2024, 1, 1, 10, 0, 0), 1, 5.0), (T(2024, 1, 1, 10, 1, 0), 2, 1.5)]
    b2 = [(T(2024, 1, 1, 11, 0, 0), 1, 2.5)]
    b3 = [
        (T(2024, 1, 1, 12, 0, 0), 1, 1.0),
        (T(2024, 1, 1, 12, 1, 0), 2, 4.0),
        (T(2024, 1, 1, 12, 2, 0), 3, 9.0),
    ]

    def start():
        # the memory sink refuses checkpoint recovery, so the sink is a
        # foreachBatch parquet append stamped with the micro-batch id —
        # the recovery-capable sink shape real pipelines use
        from pyspark.sql import functions as F

        def write_updates(bdf, batch_id):
            bdf.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                sink_dir
            )

        stream = spark.readStream.schema(schema).parquet(f"{src}/batch*")
        return (
            stateful_running_total_stream(stream)
            .writeStream.foreachBatch(write_updates)
            .outputMode("update")
            .option("checkpointLocation", chk)
            .start()
        )

    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/batch1")
    q = start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/batch2")
        q.processAllAvailable()
    finally:
        q.stop()  # simulated failure after batch 2 committed

    pre_restart = spark.read.parquet(sink_dir)
    max_committed = pre_restart.agg({"batch_id": "max"}).first()[0]

    # new data arrives while the query is down
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(f"{src}/batch3")
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    sink2 = spark.read.parquet(sink_dir).where(
        f"batch_id > {max_committed}"
    ).collect()
    shutil.rmtree(sink_dir, ignore_errors=True)
    # committed batches were NOT reprocessed: the restarted query emits
    # exactly one update per user, all triggered by batch 3
    assert sorted(r.user_id for r in sink2) == [1, 2, 3]
    final = {
        r.user_id: (r.n_events, round(r.sum_value, 2), r.last_ts) for r in sink2
    }
    pdf = pd.DataFrame(b1 + b2 + b3, columns=["ts", "user_id", "value"])
    expected = {}
    for uid, grp in pdf.groupby("user_id"):
        n, total, last_us = _advance(None, grp)
        expected[uid] = (n, round(total, 2), pd.Timestamp(last_us, unit="us"))
    # user 1's count=4 / user 2's count=2 can only come from state that
    # survived the restart (batch 3 alone contributes 1 event each)
    assert final == expected


def test_streaming_dedup_keeps_first_arrival(spark, stream_dirs):
    """dropDuplicates over micro-batches: the first arrival per key
    wins, duplicates in the SAME batch and in LATER batches are both
    dropped, and feeding batches in event-time order reproduces the
    batch-mode deterministic-keeper result."""
    from mapreduceplusplus_spark.streaming.windows import streaming_dedup_pipeline

    src, chk = stream_dirs
    T = datetime
    schema = "ts timestamp, user_id bigint, event_type string, value double"
    b1 = [
        (T(2024, 1, 1, 10, 0, 0), 1, "click", 1.0),
        (T(2024, 1, 1, 10, 1, 0), 1, "click", 2.0),   # same-batch dup
        (T(2024, 1, 1, 10, 2, 0), 2, "view", 3.0),
    ]
    b2 = [
        (T(2024, 1, 1, 11, 0, 0), 1, "click", 9.0),   # cross-batch dup
        (T(2024, 1, 1, 11, 1, 0), 1, "view", 4.0),    # new key
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/batch1")

    dedup = streaming_dedup_pipeline(
        spark, f"{src}/batch*", schema, keys=["user_id", "event_type"]
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/batch2")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.event_type): r.value
        for r in spark.sql("SELECT * FROM dedup_sink").collect()
    }
    assert got == {(1, "click"): 1.0, (2, "view"): 3.0, (1, "view"): 4.0}


def test_foreach_batch_sink_roundtrip(spark, stream_dirs):
    """foreachBatch — the programmable streaming sink: each micro-batch
    lands as a parquet append through ordinary DataFrame writes, and
    the union of all batch outputs equals the union of inputs (at-least
    -once per epoch; exactly-once here because each epoch writes once)."""
    import tempfile

    src, chk = stream_dirs
    out = tempfile.mkdtemp(prefix="feb_out_")
    T = datetime
    schema = "ts timestamp, user_id bigint"
    b1 = [(T(2024, 1, 1, 10, 0, 0), 1), (T(2024, 1, 1, 10, 1, 0), 2)]
    b2 = [(T(2024, 1, 1, 11, 0, 0), 3)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/batch1")

    def sink(df, epoch_id):
        df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(out)

    from pyspark.sql import functions as F

    stream = spark.readStream.schema(schema).parquet(f"{src}/batch*")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/batch2")
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert got.count() == 3
    assert got.select("user_id").toPandas()["user_id"].sort_values().tolist() == [1, 2, 3]
    # distinct epochs prove per-micro-batch invocation
    assert got.select("epoch").distinct().count() == 2
    import shutil

    shutil.rmtree(out, ignore_errors=True)

def test_stream_stream_join_matches_batch(spark, stream_dirs):
    """Watermarked stream-stream inner join over a fully-delivered
    source equals the same join run in batch: the attribution pairs are
    time-range semantics, not arrival-order artifacts.  Delivered in
    TWO micro-batches so the second batch's purchases must match click
    state retained (within the watermark horizon) from the first."""
    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.streaming.sjoin import streaming_join_pipeline

    src, chk = stream_dirs
    T = datetime
    schema = "ts timestamp, user_id bigint, event_id bigint, event_type string"

    def write(rows, n):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch{n}")

    # batch 1: clicks for users 1 and 2, one purchase for user 1
    write(
        [
            (T(2024, 1, 1, 10, 0, 0), 1, 100, "click"),
            (T(2024, 1, 1, 10, 2, 0), 1, 101, "click"),
            (T(2024, 1, 1, 10, 5, 0), 1, 102, "purchase"),   # joins 100, 101
            (T(2024, 1, 1, 10, 1, 0), 2, 200, "click"),
            (T(2024, 1, 1, 10, 20, 0), 3, 300, "click"),
        ],
        1,
    )
    joined = streaming_join_pipeline(
        spark, f"{src}/batch*", schema, lookback="10 minutes", watermark="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: purchase for user 2 joining batch-1 click state;
        # purchase for user 3 OUTSIDE the 10-min lookback (no match);
        # purchase for user 4 with no click at all
        write(
            [
                (T(2024, 1, 1, 10, 8, 0), 2, 201, "purchase"),   # joins 200
                (T(2024, 1, 1, 10, 45, 0), 3, 301, "purchase"),  # 25 min after click
                (T(2024, 1, 1, 10, 9, 0), 4, 400, "purchase"),
            ],
            2,
        )
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r.user_id, r.click_id, r.purchase_id, r.gap_sec)
        for r in spark.sql("SELECT * FROM ssj_sink").collect()
    }
    assert streamed == {
        (1, 100, 102, 300),
        (1, 101, 102, 180),
        (2, 200, 201, 420),
    }

    # batch equivalence on the same delivered data
    ev = spark.read.parquet(f"{src}/batch*")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    batch = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") < F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select(
        F.col("p.user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (F.unix_timestamp(F.col("p.ts")) - F.unix_timestamp(F.col("c.ts"))).alias("gap_sec"),
    )
    assert streamed == {tuple(r) for r in batch.collect()}


def test_foreach_batch_idempotent_replay(spark, stream_dirs):
    """The exactly-once SINK idiom: foreachBatch writing epoch-
    partitioned parquet with DYNAMIC partition overwrite is idempotent
    under micro-batch replay — after a failure between the sink write
    and the checkpoint commit, Structured Streaming re-delivers the
    same epoch, and the overwrite semantics make the re-delivery
    rewrite (not duplicate) that epoch's partition.  This is the sink
    half of the exactly-once story; ``test_stateful_checkpoint_
    recovery`` covers the state half."""
    import shutil
    import tempfile
    from datetime import datetime as T

    from pyspark.sql import functions as F

    src, chk = stream_dirs
    out = tempfile.mkdtemp(prefix="feb_idem_")
    schema = "ts timestamp, user_id bigint"
    b1 = [(T(2024, 1, 1, 10, 0, 0), 1), (T(2024, 1, 1, 10, 1, 0), 2)]
    b2 = [(T(2024, 1, 1, 11, 0, 0), 3)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/batch1")

    def sink(df, epoch_id):
        (
            df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out)
        )

    stream = spark.readStream.schema(schema).parquet(f"{src}/batch*")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        n_after_b1 = spark.read.parquet(out).count()
        # simulate the replay: the engine re-invokes the sink with the
        # SAME epoch id and the same batch content after a crash-before-
        # commit — the dynamic overwrite must leave the sink unchanged
        sink(spark.createDataFrame(b1, schema), 0)
        assert spark.read.parquet(out).count() == n_after_b1, (
            "epoch replay duplicated rows — sink is not idempotent"
        )
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/batch2")
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert got.count() == 3
    assert sorted(r.user_id for r in got.collect()) == [1, 2, 3]
    shutil.rmtree(out, ignore_errors=True)


def test_watermark_drop_is_observable_in_progress(spark, stream_dirs):
    """The drop in test_watermark_drops_late_events is not just
    inferable from the sink — Spark REPORTS it: the stateful
    operator's progress metrics carry numRowsDroppedByWatermark, the
    counter a production pipeline alerts on (silent late-data loss is
    the #1 streaming correctness incident).  One batch establishes a
    high watermark; the next delivers one event older than it; the
    recent-progress metrics must record exactly that one dropped row."""
    src, chk = stream_dirs
    T = datetime

    _write_batch(
        spark,
        src,
        [(T(2024, 1, 1, 10, 0, 30), 1), (T(2024, 1, 1, 11, 0, 0), 2)],
        1,
    )
    agg = streaming_pipeline(
        spark, f"{src}/batch*", "ts timestamp, user_id bigint",
        window="10 minutes", watermark="10 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_metrics_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # one event far below the 10:50 watermark -> dropped AND counted
        _write_batch(spark, src, [(T(2024, 1, 1, 9, 0, 0), 9)], 2)
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in (p["stateOperators"] if isinstance(p, dict) else p.stateOperators)
        )
    finally:
        q.stop()
    assert dropped == 1, f"expected exactly 1 watermark-dropped row, got {dropped}"


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _run_tws_batches(spark, src, chk, schema, batches, wire, sink_name, mode):
    """Shared TWS integration runner (review r7s4: the RocksDB
    provider save/set/restore + per-batch parquet replay was
    copy-pasted between the twin and the timer tests): writes batch 1,
    starts the wired streaming query on the RocksDB provider (the only
    provider transformWithState supports), replays the remaining
    batches with processAllAvailable barriers, and restores the
    provider conf whatever happens."""
    spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/batch1")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(schema).parquet(f"{src}/batch*")
        q = (
            wire(stream)
            .writeStream.format("memory")
            .queryName(sink_name)
            .outputMode(mode)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            for i, rows in enumerate(batches[1:], start=2):
                spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(f"{src}/batch{i}")
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if saved is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, saved)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas's Python state-server protocol "
    "requires the protobuf package, absent from this container "
    "(no pip installs permitted); the operator itself is implemented "
    "and this test runs wherever protobuf exists",
)
def test_tws_twin_matches_applyinpandaswithstate(spark, stream_dirs):
    """Round-7 stretch (VERDICT r6 item 8): the
    ``transformWithStateInPandas`` twin (Spark 4's successor API,
    RocksDB-backed ValueState) replayed over the SAME three
    micro-batches must land on exactly the same final per-user state
    as (a) the ``applyInPandasWithState`` form's contract — the batch
    ``_advance`` fold over the union — and (b) emit a revision per
    touched user per batch (update semantics), proving the two
    operator forms are drop-in equivalent."""
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        _advance,
        stateful_running_total_tws,
    )

    src, chk = stream_dirs
    T = datetime
    batches = [
        [(T(2024, 1, 1, 10, 0, 30), 1, 5.0), (T(2024, 1, 1, 10, 3, 0), 2, 1.5)],
        [(T(2024, 1, 1, 11, 0, 0), 1, 2.5), (T(2024, 1, 1, 11, 5, 0), 1, 1.0)],
        [(T(2024, 1, 1, 12, 0, 0), 2, 4.0), (T(2024, 1, 1, 12, 1, 0), 3, 9.0)],
    ]
    schema = "ts timestamp, user_id bigint, value double"
    _run_tws_batches(
        spark, src, chk, schema, batches,
        stateful_running_total_tws, "tws_sink", "update",
    )

    sink = spark.sql("SELECT * FROM tws_sink").collect()
    final = {}
    for r in sink:
        final[r.user_id] = (r.n_events, round(r.sum_value, 2), r.last_ts)

    all_rows = [r for b in batches for r in b]
    batch_pdf = pd.DataFrame(all_rows, columns=["ts", "user_id", "value"])
    expected = {}
    for uid, grp in batch_pdf.groupby("user_id"):
        n, total, last_us = _advance(None, grp)
        expected[uid] = (n, round(total, 2), pd.Timestamp(last_us, unit="us"))
    assert final == expected
    # update semantics: user 1 saw revisions in batches 1 AND 2
    assert sum(1 for r in sink if r.user_id == 1) >= 2


def test_tws_processor_state_machine_matches_batch_fold():
    """Environment-independent half of the TWS stretch: drive
    ``RunningTotalProcessor`` directly with a stub handle/ValueState
    (the state machine is pure Python over pandas batches — only the
    streaming RUNNER needs protobuf) and assert that per-key
    micro-batched emissions converge to exactly the batch ``_advance``
    fold, including the numpy-typed state round-trip the Arrow store
    produces."""
    import numpy as np
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        RunningTotalProcessor,
        _advance,
    )

    class StubValueState:
        """Like the real ValueState, implicitly scoped to the CURRENT
        grouping key (the runtime swaps the key under the same state
        object between handleInputRows calls)."""

        def __init__(self, handle):
            self._h = handle
            self._slots = {}

        def exists(self):
            return self._h.current_key in self._slots

        def get(self):
            return self._slots.get(self._h.current_key)

        def update(self, v):
            # emulate the Arrow round-trip: scalars come back numpy-typed
            self._slots[self._h.current_key] = (
                np.int64(v[0]),
                np.float64(v[1]),
                np.int64(v[2]),
            )

        def clear(self):
            self._slots.pop(self._h.current_key, None)

    class StubHandle:
        def __init__(self):
            self.states = {}
            self.current_key = None

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, StubValueState(self))

    T = datetime
    batches = [
        [(T(2024, 1, 1, 10, 0, 30), 1, 5.0), (T(2024, 1, 1, 10, 3, 0), 2, 1.5)],
        [(T(2024, 1, 1, 11, 0, 0), 1, 2.5), (T(2024, 1, 1, 11, 5, 0), 1, 1.0)],
        [(T(2024, 1, 1, 12, 0, 0), 2, 4.0), (T(2024, 1, 1, 12, 1, 0), 3, 9.0)],
    ]
    proc = RunningTotalProcessor()
    handle = StubHandle()
    proc.init(handle)
    emissions = []
    for rows in batches:
        pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        for uid, grp in pdf.groupby("user_id"):
            handle.current_key = int(uid)
            emissions.extend(
                out
                for out in proc.handleInputRows((uid,), iter([grp]))
            )
    proc.close()
    final = {}
    for out in emissions:
        r = out.iloc[0]
        final[int(r.user_id)] = (
            int(r.n_events),
            round(float(r.sum_value), 2),
            r.last_ts,
        )
    all_pdf = pd.DataFrame(
        [r for b in batches for r in b], columns=["ts", "user_id", "value"]
    )
    all_pdf["ts"] = pd.to_datetime(all_pdf["ts"])
    expected = {}
    for uid, grp in all_pdf.groupby("user_id"):
        n, total, last_us = _advance(None, grp)
        expected[int(uid)] = (n, round(total, 2), pd.Timestamp(last_us, unit="us"))
    assert final == expected
    # update semantics: user 1 got a revision in batch 1 AND batch 2
    assert sum(1 for o in emissions if int(o.iloc[0].user_id) == 1) == 2


def test_stream_static_enrich_matches_batch(spark, stream_dirs):
    """The stream-static enrichment join replayed over TWO
    micro-batches (complete output mode) must equal the same join +
    rollup run in batch over the union — stream-static joins are
    stateless per micro-batch, so the only state is the downstream
    aggregation's."""
    from mapreduceplusplus_spark.streaming.sjoin import static_enrich_stream

    src, chk = stream_dirs
    T = datetime
    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY"), (3, "BUILDING")],
        "c_custkey bigint, c_mktsegment string",
    )
    schema = "ts timestamp, user_id bigint, event_type string, value double"
    b1 = [
        (T(2024, 1, 1, 10, 0, 0), 1, "click", 1.25),
        (T(2024, 1, 1, 10, 1, 0), 2, "view", 2.0),
        (T(2024, 1, 1, 10, 2, 0), 9, "click", 5.0),  # no dim row: dropped
    ]
    b2 = [
        (T(2024, 1, 1, 11, 0, 0), 3, "click", 0.75),
        (T(2024, 1, 1, 11, 1, 0), 1, "click", 0.5),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/batch1")

    stream = spark.readStream.schema(schema).parquet(f"{src}/batch*")
    q = (
        static_enrich_stream(stream, dim)
        .writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/batch2")
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r.c_mktsegment, r.event_type): (r.n_events, r.value_cents)
        for r in spark.sql("SELECT * FROM enrich_sink").collect()
    }
    # the SAME builder on a batch frame — the test now checks that
    # micro-batch replay through complete-mode streaming state equals
    # single-batch execution of one shared definition
    batch = static_enrich_stream(spark.createDataFrame(b1 + b2, schema), dim)
    batched = {
        (r.c_mktsegment, r.event_type): (r.n_events, r.value_cents)
        for r in batch.collect()
    }
    assert streamed == batched
    # the un-joined user (9) was dropped by the inner join
    assert ("BUILDING", "click") in streamed
    assert streamed[("BUILDING", "click")] == (3, 250)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python state-server protocol "
    "requires the protobuf package, absent from this container "
    "(the stub-handle timer unit test below runs everywhere)",
)
def test_tws_event_time_timer_closes_session(spark, stream_dirs):
    """The TWS TIMER surface (the piece the running-total twin doesn't
    exercise): user 1's events stop after batch 1; batches 2-3 carry
    only user 2, advancing the event-time watermark past user 1's
    last_event + gap -> the registered timer fires, emitting user 1's
    closed session EXACTLY ONCE with the integer-cent sum, while user
    2 (still active, timer not yet expired) emits nothing."""
    from datetime import datetime as T
    from datetime import timedelta

    from mapreduceplusplus_spark.streaming.stateful import (
        SESSION_GAP_MS,
        session_close_tws,
    )

    src, chk = stream_dirs
    gap = timedelta(milliseconds=SESSION_GAP_MS)
    t0 = T(2024, 1, 1, 10, 0, 0)
    batches = [
        # user 1: two events 5 min apart (one session, 3.25+1.25)
        [(t0, 1, 3.25), (t0 + timedelta(minutes=5), 1, 1.25)],
        # user 2 advances the watermark just short of user 1's expiry
        [(t0 + timedelta(minutes=5) + gap - timedelta(seconds=1), 2, 9.0)],
        # ... and then past it
        [(t0 + timedelta(minutes=5) + gap + timedelta(minutes=1), 2, 2.0)],
    ]
    schema = "ts timestamp, user_id bigint, value double"
    _run_tws_batches(
        spark, src, chk, schema, batches,
        session_close_tws, "tws_session_sink", "append",
    )

    rows = spark.sql("SELECT * FROM tws_session_sink").collect()
    assert len(rows) == 1, rows                      # exactly once
    [r] = rows
    assert r.user_id == 1
    assert r.n_events == 2
    assert r.sum_cents == 450                        # 325 + 125
    assert r.closed_by == "timer"


def test_tws_timer_processor_state_machine():
    """Environment-independent half of the timer surface: drive
    ``SessionTimeoutProcessor`` with a stub handle that records timer
    registration/deletion and fires expiries manually. Pins the timer
    DISCIPLINE (exactly one live timer per key, old timer deleted on
    extension), the integer-cent session accumulation across
    micro-batches, emit-exactly-once-on-expiry with state cleared, and
    the cleared-key expiry race returning nothing."""
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        SESSION_GAP_MS,
        SessionTimeoutProcessor,
    )

    class StubValueState:
        def __init__(self, handle):
            self._h = handle
            self._slots = {}

        def exists(self):
            return self._h.current_key in self._slots

        def get(self):
            return self._slots.get(self._h.current_key)

        def update(self, v):
            self._slots[self._h.current_key] = tuple(v)

        def clear(self):
            self._slots.pop(self._h.current_key, None)

    class StubHandle:
        def __init__(self):
            self.states = {}
            self.current_key = None
            self.timers = {}          # key -> set of expiry ms

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, StubValueState(self))

        def registerTimer(self, ms):
            self.timers.setdefault(self.current_key, set()).add(ms)

        def deleteTimer(self, ms):
            self.timers.get(self.current_key, set()).discard(ms)

    def pdf(rows):
        return pd.DataFrame(rows, columns=["ts", "user_id", "value"]).astype(
            {"ts": "datetime64[ns]"}
        )

    t0 = pd.Timestamp("2024-01-01 10:00:00")
    t0_ms = t0.value // 1_000_000
    proc = SessionTimeoutProcessor()
    handle = StubHandle()
    proc.init(handle)

    # batch 1: two events for key (1,)
    handle.current_key = (1,)
    out = list(
        proc.handleInputRows(
            (1,), iter([pdf([(t0, 1, 3.25), (t0 + pd.Timedelta(minutes=5), 1, 1.25)])])
        )
    )
    assert out == []                               # no emission on input
    exp1 = t0_ms + 5 * 60 * 1000 + SESSION_GAP_MS
    assert handle.timers[(1,)] == {exp1}           # one live timer

    # batch 2: a later event EXTENDS the session: old timer deleted
    later = t0 + pd.Timedelta(minutes=10)
    out = list(proc.handleInputRows((1,), iter([pdf([(later, 1, 0.50)])])))
    assert out == []                               # within gap: no split
    exp2 = later.value // 1_000_000 + SESSION_GAP_MS
    assert handle.timers[(1,)] == {exp2}           # extended, not leaked

    # batch 3: an event BEYOND the gap arrives before the timer could
    # fire (input runs before timers in the runtime) -> the input path
    # must split: stale session emitted with closed_by='gap', new
    # session started from the late event
    far = later + pd.Timedelta(milliseconds=SESSION_GAP_MS + 1)
    [gap_emit] = list(proc.handleInputRows((1,), iter([pdf([(far, 1, 2.00)])])))
    assert gap_emit["n_events"].iloc[0] == 3
    assert gap_emit["sum_cents"].iloc[0] == 500    # 325 + 125 + 50
    assert gap_emit["closed_by"].iloc[0] == "gap"
    exp3 = far.value // 1_000_000 + SESSION_GAP_MS
    assert handle.timers[(1,)] == {exp3}           # fresh session's timer

    # expiry: exactly one row, state cleared, integer cents summed
    class Info:
        def getExpiryTimeInMs(self):
            return exp3

    [emitted] = list(proc.handleExpiredTimer((1,), None, Info()))
    assert emitted["n_events"].iloc[0] == 1
    assert emitted["sum_cents"].iloc[0] == 200
    assert emitted["closed_by"].iloc[0] == "timer"
    assert not handle.states["session"].exists()   # cleared

    # cleared-key race: a second expiry for the same key emits nothing
    assert list(proc.handleExpiredTimer((1,), None, Info())) == []

    # chunk-boundary invariance (review r7s4): 0.105-valued events are
    # the rounding worst case (0.105*100 = 10.4999... in binary) — the
    # per-CHUNK rounded sum gave 21 cents together but 20 split, so
    # the state depended on Arrow chunking.  Per-event rounding must
    # give the SAME cents whether the two events share a chunk or not.
    def run(chunks):
        h = StubHandle()
        p9 = SessionTimeoutProcessor()
        p9.init(h)
        h.current_key = (9,)
        for c in chunks:
            list(p9.handleInputRows((9,), iter([pdf(c)])))
        return h.states["session"].get()[1]

    e1 = (t0, 9, 0.105)
    e2 = (t0 + pd.Timedelta(minutes=1), 9, 0.105)
    assert run([[e1, e2]]) == run([[e1], [e2]])    # invariant to chunking


# ---------------------------------------------------------------------------
# Mini-runner emulation of the TWS micro-batch loop (VERDICT r7 item 3).
# The container cannot install protobuf (no network — `pip download
# protobuf` fails with NewConnectionError, no wheel on disk), so the two
# integration tests above can never execute here.  These tests replay the
# SAME micro-batch sequences through a pure-Python emulation of pyspark
# 4.1's TransformWithStateInPandas serializer loop
# (sql/streaming/stateful_processor_util.py): per micro-batch, input rows
# are handled for every key FIRST, then every registered timer whose
# expiry the current watermark has passed fires via handleExpiredTimer
# (TransformWithStateInPandasFuncMode ordering); the watermark entering
# batch N is max(event time over batches < N) minus the configured delay
# (0 s for session_close_tws), Spark's global watermark update rule; and
# trailing no-data batches run until timer quiescence — which is exactly
# what processAllAvailable's no-data micro-batch does.  Each test asserts
# the IDENTICAL outcomes its gated integration twin asserts.
# ---------------------------------------------------------------------------


class _RunnerValueState:
    """ValueState implicitly scoped to the handle's current grouping key
    (the real runtime swaps the key under one shared state object)."""

    def __init__(self, handle):
        self._h = handle
        self._slots = {}

    def exists(self):
        return self._h.current_key in self._slots

    def get(self):
        return self._slots.get(self._h.current_key)

    def update(self, v):
        self._slots[self._h.current_key] = tuple(v)

    def clear(self):
        self._slots.pop(self._h.current_key, None)


class _RunnerHandle:
    def __init__(self):
        self.states = {}
        self.current_key = None
        self.timers = {}  # key -> set of expiry ms

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _RunnerValueState(self))

    def registerTimer(self, ms):
        self.timers.setdefault(self.current_key, set()).add(int(ms))

    def deleteTimer(self, ms):
        self.timers.get(self.current_key, set()).discard(int(ms))


class _MiniTwsRunner:
    """Drive a StatefulProcessor through micro-batches with Spark's
    input-then-expired-timers ordering and watermark update rule."""

    def __init__(self, processor, event_time=False, delay_ms=0):
        self.proc = processor
        self.handle = _RunnerHandle()
        self.proc.init(self.handle)
        self.event_time = event_time
        self.delay_ms = delay_ms
        self.watermark_ms = None  # None until first batch completes
        self._max_seen_ms = None
        self.emissions = []  # (batch_no, pdf) in emission order

    def _fire_expired(self, batch_no):
        import pandas as pd

        if not self.event_time or self.watermark_ms is None:
            return False
        fired = False
        # deterministic order: by (expiry, key) like the JVM's sorted
        # timer iteration
        pending = sorted(
            (exp, key)
            for key, exps in self.handle.timers.items()
            for exp in exps
            # "the watermark passes the expiry": strict comparison
            if exp < self.watermark_ms
        )
        for exp, key in pending:
            self.handle.current_key = key

            class _Info:
                def __init__(self, ms):
                    self._ms = ms

                def getExpiryTimeInMs(self):
                    return self._ms

            self.handle.timers[key].discard(exp)  # runtime removes fired timers
            for out in self.proc.handleExpiredTimer(key, None, _Info(exp)):
                self.emissions.append((batch_no, out))
            fired = True
        return fired

    def run_batch(self, batch_no, rows_by_key):
        """rows_by_key: dict key-tuple -> pandas DataFrame (may be empty
        for a no-data batch)."""
        import pandas as pd

        for key, pdf in rows_by_key.items():
            self.handle.current_key = key
            for out in self.proc.handleInputRows(key, iter([pdf])):
                self.emissions.append((batch_no, out))
            if self.event_time and len(pdf):
                m = int(pd.to_datetime(pdf["ts"]).astype("int64").max() // 1_000_000)
                self._max_seen_ms = (
                    m if self._max_seen_ms is None else max(self._max_seen_ms, m)
                )
        self._fire_expired(batch_no)
        # watermark advances AFTER the batch, from this batch's max event
        # time — visible to the NEXT batch's timer pass
        if self.event_time and self._max_seen_ms is not None:
            self.watermark_ms = self._max_seen_ms - self.delay_ms

    def drain(self, batch_no):
        """Trailing no-data batches until no timer fires (what
        processAllAvailable's no-data micro-batch achieves)."""
        while self._fire_expired(batch_no):
            batch_no += 1


def test_tws_runner_emulation_twin_matches_batch_fold():
    """Runner-loop emulation of test_tws_twin_matches_applyinpandaswithstate:
    the same three micro-batches through RunningTotalProcessor under the
    input-loop ordering must land on the batch _advance fold per user and
    emit a revision per touched user per batch (update semantics)."""
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        RunningTotalProcessor,
        _advance,
    )

    T = datetime
    batches = [
        [(T(2024, 1, 1, 10, 0, 30), 1, 5.0), (T(2024, 1, 1, 10, 3, 0), 2, 1.5)],
        [(T(2024, 1, 1, 11, 0, 0), 1, 2.5), (T(2024, 1, 1, 11, 5, 0), 1, 1.0)],
        [(T(2024, 1, 1, 12, 0, 0), 2, 4.0), (T(2024, 1, 1, 12, 1, 0), 3, 9.0)],
    ]
    runner = _MiniTwsRunner(RunningTotalProcessor(), event_time=False)
    for i, rows in enumerate(batches, start=1):
        pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        runner.run_batch(
            i, {(int(u),): g for u, g in pdf.groupby("user_id")}
        )

    final = {}
    for _, out in runner.emissions:
        r = out.iloc[0]
        final[int(r.user_id)] = (
            int(r.n_events),
            round(float(r.sum_value), 2),
            r.last_ts,
        )
    all_pdf = pd.DataFrame(
        [r for b in batches for r in b], columns=["ts", "user_id", "value"]
    )
    all_pdf["ts"] = pd.to_datetime(all_pdf["ts"])
    expected = {}
    for uid, grp in all_pdf.groupby("user_id"):
        n, total, last_us = _advance(None, grp)
        expected[int(uid)] = (n, round(total, 2), pd.Timestamp(last_us, unit="us"))
    assert final == expected
    # update semantics: user 1 revised in batches 1 AND 2 (same
    # assertion as the integration twin's memory-sink row count)
    u1_batches = [
        b for b, out in runner.emissions if int(out.iloc[0].user_id) == 1
    ]
    assert u1_batches == [1, 2]


def test_tws_runner_emulation_timer_closes_session():
    """Runner-loop emulation of test_tws_event_time_timer_closes_session:
    identical batch data, watermark schedule, and assertions — user 1's
    session closes EXACTLY ONCE by timer (not by input), with the
    integer-cent sum, after the watermark passes last_event + gap; user
    2 (still active) emits nothing."""
    from datetime import timedelta

    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        SESSION_GAP_MS,
        SessionTimeoutProcessor,
    )

    T = datetime
    gap = timedelta(milliseconds=SESSION_GAP_MS)
    t0 = T(2024, 1, 1, 10, 0, 0)
    batches = [
        [(t0, 1, 3.25), (t0 + timedelta(minutes=5), 1, 1.25)],
        [(t0 + timedelta(minutes=5) + gap - timedelta(seconds=1), 2, 9.0)],
        [(t0 + timedelta(minutes=5) + gap + timedelta(minutes=1), 2, 2.0)],
    ]
    runner = _MiniTwsRunner(
        SessionTimeoutProcessor(), event_time=True, delay_ms=0
    )
    for i, rows in enumerate(batches, start=1):
        pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        runner.run_batch(
            i, {(int(u),): g for u, g in pdf.groupby("user_id")}
        )
        # nothing may close while the watermark is short of the expiry:
        # after batch 2 the watermark is expiry-1s -> still zero rows
        if i <= 2:
            assert runner.emissions == []
    # batch 3's data advanced the watermark past user 1's expiry; the
    # fire happens in the trailing no-data batch (processAllAvailable's
    # extra micro-batch), not during batch 3's own timer pass
    runner.drain(batch_no=4)

    rows = [out for _, out in runner.emissions]
    assert len(rows) == 1, rows                      # exactly once
    r = rows[0].iloc[0]
    assert int(r.user_id) == 1
    assert int(r.n_events) == 2
    assert int(r.sum_cents) == 450                   # 325 + 125
    assert r.closed_by == "timer"
    # user 2's state is still live (session open), its timer pending
    runner.handle.current_key = (2,)
    assert runner.handle.states["session"].exists()
    assert len(runner.handle.timers[(2,)]) == 1
    # and a further drain fires nothing new until the watermark moves
    runner.drain(batch_no=5)
    assert len(runner.emissions) == 1


def test_tws_ttl_state_machine_and_delete_if_exists():
    """VERDICT r7 stretch item 8: the TTL running-total variant's state
    machine under a TTL-enforcing stub store with a mock processing
    clock.  Pins: (a) init drops the legacy state name via
    handle.deleteIfExists exactly once (the schema-migration idiom) and
    registers the state WITH ttlDurationMs=TTL_IDLE_MS; (b) while every
    update stays inside the TTL window, emissions are IDENTICAL to the
    non-TTL twin's (equivalence vs the batch _advance fold transitively,
    which the twin already pins); (c) an update resets the expiry clock
    (sliding idle window — two sub-TTL gaps summing past the TTL do NOT
    expire); (d) a key idle past the TTL restarts from zero."""
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        LEGACY_STATE_NAME,
        TTL_IDLE_MS,
        ExpiringRunningTotalProcessor,
        RunningTotalProcessor,
    )

    class TtlStubValueState:
        def __init__(self, handle, ttl_ms):
            self._h = handle
            self._ttl = ttl_ms
            self._slots = {}  # key -> (value, expiry_ms)

        def _live(self):
            slot = self._slots.get(self._h.current_key)
            if slot is None:
                return None
            value, expiry = slot
            if self._ttl is not None and self._h.now_ms >= expiry:
                # store-side eviction: expired state reads as absent
                del self._slots[self._h.current_key]
                return None
            return value

        def exists(self):
            return self._live() is not None

        def get(self):
            return self._live()

        def update(self, v):
            expiry = (
                self._h.now_ms + self._ttl
                if self._ttl is not None
                else float("inf")
            )
            self._slots[self._h.current_key] = (tuple(v), expiry)

        def clear(self):
            self._slots.pop(self._h.current_key, None)

    class TtlStubHandle:
        def __init__(self):
            self.states = {}
            self.ttls = {}
            self.deleted_names = []
            self.current_key = None
            self.now_ms = 1_000_000  # mock processing clock

        def getValueState(self, name, schema, ttlDurationMs=None):
            self.ttls[name] = ttlDurationMs
            return self.states.setdefault(
                name, TtlStubValueState(self, ttlDurationMs)
            )

        def deleteIfExists(self, name):
            self.deleted_names.append(name)
            self.states.pop(name, None)

    def feed(proc, handle, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        out = []
        for uid, grp in pdf.groupby("user_id"):
            handle.current_key = (int(uid),)
            out.extend(proc.handleInputRows((int(uid),), iter([grp])))
        return out

    T = datetime
    b1 = [(T(2024, 1, 1, 10, 0, 0), 1, 5.0), (T(2024, 1, 1, 10, 3, 0), 1, 1.5)]
    b2 = [(T(2024, 1, 1, 11, 0, 0), 1, 2.5)]
    b3 = [(T(2024, 1, 1, 12, 0, 0), 1, 4.0)]

    proc = ExpiringRunningTotalProcessor()
    handle = TtlStubHandle()
    proc.init(handle)
    # (a) migration + TTL registration
    assert handle.deleted_names == [LEGACY_STATE_NAME]
    assert handle.ttls == {"running_total_ttl": TTL_IDLE_MS}

    # twin WITHOUT ttl, same batches, for the equivalence leg
    twin, twin_handle = RunningTotalProcessor(), TtlStubHandle()
    twin.init(twin_handle)
    assert twin_handle.ttls == {"running_total": None}

    # (b) inside the TTL window: emissions identical to the twin
    out1 = feed(proc, handle, b1)
    handle.now_ms += TTL_IDLE_MS // 2            # idle, but sub-TTL
    out2 = feed(proc, handle, b2)
    for rows in (b1, b2):
        feed(twin, twin_handle, rows)
    # (c) the b2 update RESET the clock: another sub-TTL gap (total
    # idle since b1 > TTL) must still accumulate
    handle.now_ms += TTL_IDLE_MS // 2 + 1
    out3 = feed(proc, handle, b3)
    out3_twin = feed(twin, twin_handle, b3)
    state = handle.states["running_total_ttl"]
    twin_state = twin_handle.states["running_total"]
    handle.current_key = twin_handle.current_key = (1,)
    assert tuple(map(float, state.get())) == tuple(map(float, twin_state.get()))
    assert int(out3[0].iloc[0].n_events) == 4    # 2 + 1 + 1, no reset
    assert out3[0].equals(out3_twin[0])
    assert int(out1[0].iloc[0].n_events) == 2
    assert int(out2[0].iloc[0].n_events) == 3

    # (d) idle PAST the TTL: state evicted, the key restarts from zero
    handle.now_ms += TTL_IDLE_MS + 1
    out4 = feed(proc, handle, [(T(2024, 1, 1, 13, 0, 0), 1, 9.0)])
    r = out4[0].iloc[0]
    assert int(r.n_events) == 1                  # fresh start
    assert float(r.sum_value) == 9.0


@pytest.mark.slow
def test_python_stream_source_checkpoint_recovery(spark, stream_dirs):
    """Exactly-once across restart for the Python streaming data
    source (round 8): kill the query mid-stream, restart FROM THE SAME
    CHECKPOINT, and the union of delivered rows must cover the bounded
    sequence with NO GAP at the kill point (offset replay via
    ``readBetweenOffsets`` — implementing it was forced by this test;
    the base class raises NotImplementedError).  The sink is a
    foreachBatch parquet append, which Spark guarantees only
    AT-LEAST-ONCE: a batch whose write committed just before the kill
    may replay after restart (review r8 — the first cut asserted
    exactly-once on the raw appends and was flaky by design).  The
    assertions therefore follow the documented idempotent-consumer
    pattern: full coverage after dedup on the key, any replayed rows
    byte-identical to the originals, and at most one batch's worth of
    duplication."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.sources.custom import (
        STREAM_ROWS,
        register_seq_source,
    )

    _src, chk = stream_dirs
    sink_dir = tempfile.mkdtemp(prefix="pystream_rec_")
    register_seq_source(spark)

    def append(bdf, batch_id):
        bdf.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink_dir)

    def start():
        return (
            spark.readStream.format("mrpp_seq")
            .load()
            .writeStream.foreachBatch(append)
            .option("checkpointLocation", chk)
            .trigger(processingTime="1 second")
            .start()
        )

    q1 = start()
    try:
        # wait for at least one committed micro-batch, then kill
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(
                (p["numInputRows"] if isinstance(p, dict) else p.numInputRows) > 0
                for p in q1.recentProgress
            ):
                break
            time.sleep(0.2)
    finally:
        q1.stop()

    delivered_before = spark.read.parquet(sink_dir).count()
    assert delivered_before > 0, "no micro-batch committed before the kill"

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    out = spark.read.parquet(sink_dir)
    # full coverage, no gap at the kill point: every sequence element
    # delivered at least once
    assert out.select("i").distinct().count() == STREAM_ROWS
    # at-least-once, bounded: at most ONE planned batch can replay
    from mapreduceplusplus_spark.sources.custom import STREAM_CHUNK

    assert STREAM_ROWS <= out.count() <= STREAM_ROWS + STREAM_CHUNK
    # any replayed rows are byte-identical (deterministic source):
    # per key there is exactly one (sq, bucket) combination
    assert (
        out.select("i", "sq", "bucket").distinct().count() == STREAM_ROWS
    )
    bad = out.where(F.col("sq") != F.col("i") * F.col("i")).count()
    assert bad == 0
    # the restart actually continued from the checkpoint (fresh query
    # ids per start, shared offset log): batches came from BOTH runs
    # unless the first run already drained everything
    if delivered_before < STREAM_ROWS:
        assert out.count() > delivered_before


class _StubListState:
    def __init__(self, handle):
        self._h = handle
        self._slots = {}

    def exists(self):
        return self._h.current_key in self._slots

    def get(self):
        return iter(self._slots.get(self._h.current_key, []))

    def put(self, rows):
        self._slots[self._h.current_key] = [tuple(r) for r in rows]

    def appendValue(self, row):
        self._slots.setdefault(self._h.current_key, []).append(tuple(row))

    def clear(self):
        self._slots.pop(self._h.current_key, None)


class _StubMapState:
    def __init__(self, handle):
        self._h = handle
        self._slots = {}  # key -> {subkey: value}

    def _m(self):
        return self._slots.setdefault(self._h.current_key, {})

    def exists(self):
        return bool(self._slots.get(self._h.current_key))

    def containsKey(self, k):
        return tuple(k) in self._m()

    def getValue(self, k):
        return self._m().get(tuple(k))

    def updateValue(self, k, v):
        self._m()[tuple(k)] = tuple(v)

    def iterator(self):
        return iter(self._m().items())

    def keys(self):
        return iter(self._m().keys())

    def removeKey(self, k):
        self._m().pop(tuple(k), None)

    def clear(self):
        self._slots.pop(self._h.current_key, None)


class _TypedStateHandle:
    def __init__(self):
        self.states = {}
        self.current_key = None

    def getValueState(self, name, schema, ttlDurationMs=None):
        raise AssertionError("these processors must not use ValueState")

    def getListState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _StubListState(self))

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return self.states.setdefault(name, _StubMapState(self))


def test_tws_liststate_leaderboard_matches_batch_topk():
    """ListState surface (round 8): the per-key top-K leaderboard
    replayed over micro-batches must land on exactly the batch top-K
    of the union (bounded-state merge is order/boundary-invariant),
    state never holds more than K entries, and each batch emits the
    key's CURRENT ranked leaderboard."""
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        LEADERBOARD_K,
        TopKLeaderboardProcessor,
    )

    batches = [
        [(1, 5.00), (1, 1.25), (2, 9.99)],
        [(1, 7.50), (1, 0.10)],
        [(1, 6.00), (2, 2.00)],
    ]
    proc = TopKLeaderboardProcessor()
    handle = _TypedStateHandle()
    proc.init(handle)
    last = {}
    for rows in batches:
        pdf = pd.DataFrame(rows, columns=["user_id", "value"])
        for uid, grp in pdf.groupby("user_id"):
            handle.current_key = (int(uid),)
            [out] = list(proc.handleInputRows((int(uid),), iter([grp])))
            last[int(uid)] = list(out["value_cents"])
            assert list(out["rank"]) == list(range(1, len(out) + 1))
            # state bounded at K
            assert len(list(handle.states["leaderboard"].get())) <= LEADERBOARD_K

    all_vals = {}
    for rows in batches:
        for uid, v in rows:
            all_vals.setdefault(uid, []).append(int(round(v * 100)))
    for uid, vals in all_vals.items():
        assert last[uid] == sorted(vals, reverse=True)[:LEADERBOARD_K], uid


def test_tws_mapstate_type_counts_matches_batch_counts():
    """MapState surface (round 8): per-key per-event-type counters
    replayed over micro-batches must converge to the batch GROUP BY
    counts; each batch's emission carries only the TOUCHED sub-keys
    with their new totals (point updates, not a whole-map rewrite)."""
    import pandas as pd

    from mapreduceplusplus_spark.streaming.stateful import (
        EventTypeCountsProcessor,
    )

    batches = [
        [(1, "click"), (1, "view"), (2, "click")],
        [(1, "click"), (1, "click")],
        [(2, "error"), (1, "view")],
    ]
    proc = EventTypeCountsProcessor()
    handle = _TypedStateHandle()
    proc.init(handle)
    final = {}
    for rows in batches:
        pdf = pd.DataFrame(rows, columns=["user_id", "event_type"])
        for uid, grp in pdf.groupby("user_id"):
            handle.current_key = (int(uid),)
            [out] = list(proc.handleInputRows((int(uid),), iter([grp])))
            # only touched sub-keys are emitted
            assert set(out["event_type"]) == set(grp["event_type"])
            for _, r in out.iterrows():
                final[(int(r.user_id), r.event_type)] = int(r.n)

    expect = {}
    for rows in batches:
        for uid, et in rows:
            expect[(uid, et)] = expect.get((uid, et), 0) + 1
    assert final == expect


# ------------------------------------------------- session-window twins (r9)


def _write_sess_batch(spark, src, rows, n):
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id bigint, event_type string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch{n}")


_SESS_SCHEMA = "ts timestamp, user_id bigint, event_type string"


def test_session_window_streaming_matches_batch_fixed_gap(spark, stream_dirs):
    """VERDICT r8 item 3a: ``F.session_window`` with a FIXED gap driven
    through a real micro-batch run (file source, watermark, append
    mode) equals the identical batch aggregation — including a session
    EXTENDED across a micro-batch boundary (10:00 + 10:50 in batch 1,
    11:20 in batch 2 → one merged [10:00, 12:20) session)."""
    from datetime import datetime as T

    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.streaming.windows import (
        streaming_session_pipeline,
    )

    src, chk = stream_dirs
    b1 = [
        (T(2024, 1, 1, 10, 0, 0), 1, "view"),
        (T(2024, 1, 1, 10, 50, 0), 1, "view"),
        (T(2024, 1, 1, 9, 30, 0), 2, "view"),
    ]
    # batch 2 EXTENDS user 1's open session across the batch boundary,
    # then a far-future advancer (user 99) pushes the watermark past
    # every other session's end so append mode finalizes them
    b2 = [
        (T(2024, 1, 1, 11, 20, 0), 1, "view"),
        (T(2024, 1, 3, 0, 0, 0), 99, "view"),
    ]
    _write_sess_batch(spark, src, b1, 1)
    agg = streaming_session_pipeline(
        spark, f"{src}/batch*", _SESS_SCHEMA, gap="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_fixed_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_sess_batch(spark, src, b2, 2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_fixed_sink").collect()
    }
    batch_df = spark.createDataFrame(b1 + b2, _SESS_SCHEMA)
    expect = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in (
            batch_df.groupBy(
                F.session_window("ts", "1 hour").alias("w"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("sess_start"),
                F.col("w.end").alias("sess_end"),
                "n_events",
            )
            .where(F.col("user_id") != 99)  # advancer not yet finalized
            .collect()
        )
    }
    assert got == expect
    # the cross-boundary merge really happened: ONE user-1 session of 3
    u1 = [g for g in got if g[0] == 1]
    assert len(u1) == 1 and u1[0][3] == 3


def test_session_window_streaming_matches_batch_dynamic_gap(spark, stream_dirs):
    """VERDICT r8 item 3b: the DYNAMIC-gap form under micro-batches.
    The adversarial shape: a long-gap click (2 h) in batch 1 bridges a
    short-gap view (1 h) arriving in batch 2 — the view STARTS after
    its own gap would have closed a session, but inside the click's
    [ts, ts+2h) span, so the merge must happen ACROSS the batch
    boundary; a later 30-min-gap event past the merged end opens a new
    session.  Equivalence-pinned against the identical batch
    aggregation (the same expression ``stream_session_window_dynamic_gap``
    oracles in batch mode)."""
    from datetime import datetime as T

    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.streaming.windows import (
        streaming_session_pipeline,
    )

    src, chk = stream_dirs
    gap = (
        F.when(F.col("event_type") == "click", F.lit("2 hours"))
        .when(F.col("event_type") == "view", F.lit("1 hour"))
        .otherwise(F.lit("30 minutes"))
    )
    b1 = [(T(2024, 1, 1, 10, 0, 0), 1, "click")]  # spans [10:00, 12:00)
    b2 = [
        # view at 11:30 spans [11:30, 12:30): starts INSIDE the click's
        # window → merged session [10:00, 12:30)
        (T(2024, 1, 1, 11, 30, 0), 1, "view"),
        # purchase at 13:30 (30 min gap): 13:30 ≥ 12:30 → NEW session
        (T(2024, 1, 1, 13, 30, 0), 1, "purchase"),
        (T(2024, 1, 3, 0, 0, 0), 99, "view"),  # watermark advancer
    ]
    _write_sess_batch(spark, src, b1, 1)
    agg = streaming_session_pipeline(
        spark, f"{src}/batch*", _SESS_SCHEMA, gap=gap
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_dyn_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_sess_batch(spark, src, b2, 2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_dyn_sink").collect()
    }
    batch_df = spark.createDataFrame(b1 + b2, _SESS_SCHEMA)
    expect = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in (
            batch_df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("sess_start"),
                F.col("w.end").alias("sess_end"),
                "n_events",
            )
            .where(F.col("user_id") != 99)
            .collect()
        )
    }
    assert got == expect
    # the long-gap event really bridged the later short-gap one: the
    # merged session ends at the VIEW's end (12:30), not the click's
    u1 = sorted(g for g in got if g[0] == 1)
    assert len(u1) == 2
    assert u1[0][2] == T(2024, 1, 1, 12, 30, 0) and u1[0][3] == 2
    assert u1[1][1] == T(2024, 1, 1, 13, 30, 0) and u1[1][3] == 1


def test_stream_stream_left_outer_null_timing(spark, stream_dirs):
    """VERDICT r10 item 6: the watermarked LEFT OUTER stream-stream
    join must (a) emit matched pairs immediately, (b) HOLD the null
    extension of an unmatched purchase while a matching click could
    still arrive (watermark below its match window), and (c) emit the
    null row once the watermark proves the window closed — then the
    delivered total equals the batch LEFT join on the same data."""
    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.streaming.sjoin import streaming_join_pipeline

    src, chk = stream_dirs
    T = datetime
    schema = "ts timestamp, user_id bigint, event_id bigint, event_type string"

    def write(rows, n):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch{n}")

    # batch 1: user 1 converts with a click (matched immediately);
    # user 4 purchases with NO click — its null row must be HELD:
    # a click with ts in [09:59, 10:09) could still arrive while the
    # watermark (max_ts 10:09 - 10 min = 09:59) is below the window
    write(
        [
            (T(2024, 1, 1, 10, 0, 0), 1, 100, "click"),
            (T(2024, 1, 1, 10, 5, 0), 1, 102, "purchase"),
            (T(2024, 1, 1, 10, 9, 0), 4, 400, "purchase"),
        ],
        1,
    )
    joined = streaming_join_pipeline(
        spark,
        f"{src}/batch*",
        schema,
        lookback="10 minutes",
        watermark="10 minutes",
        how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_left_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )

    def delivered():
        return {
            (r.user_id, r.click_id, r.purchase_id, r.gap_sec)
            for r in spark.sql("SELECT * FROM ssj_left_sink").collect()
        }

    try:
        q.processAllAvailable()
        got1 = delivered()
        assert (1, 100, 102, 300) in got1, got1
        assert not any(r[0] == 4 for r in got1), (
            f"null extension emitted EARLY (watermark still below the "
            f"match window): {got1}"
        )
        # batch 2: a later matched pair advances BOTH sides' watermarks
        # (each side's watermark node sits behind its event_type
        # filter, so advancing only one type stalls the global min) to
        # 10:20 — past user 4's whole match window [09:59, 10:09)
        write(
            [
                (T(2024, 1, 1, 10, 29, 0), 5, 500, "click"),
                (T(2024, 1, 1, 10, 30, 0), 5, 502, "purchase"),
            ],
            2,
        )
        q.processAllAvailable()
        got2 = delivered()
        assert (5, 500, 502, 60) in got2, got2
        # outer-join nulls are evicted on the micro-batch AFTER the
        # watermark advance lands in state — deliver one more batch
        write(
            [
                (T(2024, 1, 1, 10, 39, 0), 6, 600, "click"),
                (T(2024, 1, 1, 10, 40, 0), 6, 602, "purchase"),
            ],
            3,
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = delivered()
    assert (4, None, 400, None) in got, got

    # delivered total == batch LEFT join on the same delivered data
    ev = spark.read.parquet(f"{src}/batch*")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    batch = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") < F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES")),
        "left",
    ).select(
        F.col("p.user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (
            F.unix_timestamp(F.col("p.ts")) - F.unix_timestamp(F.col("c.ts"))
        ).alias("gap_sec"),
    )
    assert got == {tuple(r) for r in batch.collect()}


def test_stream_stream_full_outer_click_null_timing(spark, stream_dirs):
    """VERDICT r11 item 7: the FULL OUTER stream-stream join adds the
    CLICK-side extension on top of the LEFT form's purchase side — an
    unconverted click must (a) be HELD while a purchase could still
    arrive in its forward window ``(c_ts, c_ts + lookback]``, (b) be
    emitted with a NULL purchase once the watermark proves that window
    closed, and (c) the delivered total must equal the batch FULL
    OUTER join on the same data (both sides' extensions)."""
    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.streaming.sjoin import streaming_join_pipeline

    src, chk = stream_dirs
    T = datetime
    schema = "ts timestamp, user_id bigint, event_id bigint, event_type string"

    def write(rows, n):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch{n}")

    # batch 1: user 1 converts (matched immediately); user 7 CLICKS at
    # 10:08 with no purchase — its forward match window is
    # (10:08, 10:18], and the global watermark (min of both sides:
    # purchases max 10:05 → 09:55) is far below it: HOLD the null row
    write(
        [
            (T(2024, 1, 1, 10, 0, 0), 1, 100, "click"),
            (T(2024, 1, 1, 10, 5, 0), 1, 102, "purchase"),
            (T(2024, 1, 1, 10, 8, 0), 7, 700, "click"),
        ],
        1,
    )
    joined = streaming_join_pipeline(
        spark,
        f"{src}/batch*",
        schema,
        lookback="10 minutes",
        watermark="10 minutes",
        how="full_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_full_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )

    def delivered():
        return {
            (r.user_id, r.click_id, r.purchase_id, r.gap_sec)
            for r in spark.sql("SELECT * FROM ssj_full_sink").collect()
        }

    try:
        q.processAllAvailable()
        got1 = delivered()
        assert (1, 100, 102, 300) in got1, got1
        assert not any(r[0] == 7 for r in got1), (
            f"click-side null extension emitted EARLY (a purchase in "
            f"(10:08, 10:18] could still arrive): {got1}"
        )
        # batch 2: a later matched pair advances BOTH sides' watermarks
        # to ≥ 10:19 — past user 7's whole forward window (10:08, 10:18]
        write(
            [
                (T(2024, 1, 1, 10, 29, 0), 5, 500, "click"),
                (T(2024, 1, 1, 10, 30, 0), 5, 502, "purchase"),
            ],
            2,
        )
        q.processAllAvailable()
        got2 = delivered()
        assert (5, 500, 502, 60) in got2, got2
        # outer-join nulls are evicted on the micro-batch AFTER the
        # watermark advance lands in state — deliver one more batch
        write(
            [
                (T(2024, 1, 1, 10, 39, 0), 6, 600, "click"),
                (T(2024, 1, 1, 10, 40, 0), 6, 602, "purchase"),
            ],
            3,
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = delivered()
    assert (7, 700, None, None) in got, got

    # delivered total == batch FULL OUTER join on the same data
    ev = spark.read.parquet(f"{src}/batch*")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    batch = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") < F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce(F.col("p.user_id"), F.col("c.user_id")).alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (
            F.unix_timestamp(F.col("p.ts")) - F.unix_timestamp(F.col("c.ts"))
        ).alias("gap_sec"),
    )
    assert got == {tuple(r) for r in batch.collect()}


def test_stream_dedup_near_streaming_matches_batch(spark, stream_dirs):
    """r16: the continuous-ingest near-dedup pipeline (foreachBatch
    probe/append against the persisted band+shingle stores) produces
    EXACTLY the registered ``stream_dedup_near`` batch replay — fed the
    same documents in the same 4 micro-batches, the union of per-batch
    reports equals the batch form row-for-row, including a near-pair
    SPLIT ACROSS a micro-batch boundary (doc 425 vs doc 25), the
    greedy pairwise rule (doc 450 matches BOTH earlier T2 variants,
    425's own 'drop' verdict notwithstanding) and a micro-batch with no
    candidate at all (doc 600: its empty ``sk`` census reads no
    shingle partition)."""
    import itertools
    import os
    import shutil
    import tempfile

    from mapreduceplusplus_spark.streaming.neardup import (
        build_neardup_store,
        stream_dedup_near,
        streaming_neardup_pipeline,
    )

    words = ["".join(t) for t in itertools.product("abcdefghijkl", repeat=3)]

    def chunk(k):
        return words[k * 60 : (k + 1) * 60]

    def variant(ws, repl):
        v = list(ws)
        v[-1] = repl
        return v

    T1, T2, T3 = chunk(0), chunk(1), chunk(2)
    spare = words[-8:]
    texts = {
        # corpus (doc_id % 25 != 0)
        1: chunk(3),
        2: chunk(4),
        3: T1,
        4: chunk(5),
        # stream (doc_id % 25 == 0); batch tiles of width 200
        0: chunk(6),                # batch 0, unique -> keep
        25: T2,                     # batch 0, first T2 -> keep
        50: T3,                     # batch 0, first T3 -> keep
        75: variant(T3, spare[0]),  # batch 0, in-batch dup vs 50
        200: variant(T1, spare[1]),  # batch 1, dup vs CORPUS doc 3
        425: variant(T2, spare[2]),  # batch 2, dup vs 25 (cross-boundary)
        450: variant(T2, spare[3]),  # batch 2, dup vs 25 AND 425 (greedy)
        600: chunk(7),              # batch 3, collides with nothing
    }
    rows = [
        (i, " ".join(ws), "en", "synthetic", len(" ".join(ws)))
        for i, ws in sorted(texts.items())
    ]
    doc_schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

    sf_tmp = tempfile.mkdtemp(prefix="neardup_sf_")
    idx_tmp = tempfile.mkdtemp(prefix="neardup_idx_")
    rep_tmp = os.path.join(tempfile.mkdtemp(prefix="neardup_rep_"), "report")
    try:
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(sf_tmp, "documents.parquet"))

        # ---- registered batch replay (also oracle-checked by the
        # differential suite on the standard fixture)
        batch_rows = {
            tuple(r) for r in stream_dedup_near(spark, sf_tmp).collect()
        }
        expected = {
            (0, 0, 0, 0, "keep"),
            (25, 0, 0, 0, "keep"),
            (50, 0, 0, 0, "keep"),
            (75, 0, 0, 1, "drop"),
            (200, 1, 1, 0, "drop"),
            (425, 2, 0, 1, "drop"),
            (450, 2, 0, 2, "drop"),
            (600, 3, 0, 0, "keep"),
        }
        assert batch_rows == expected

        # ---- real streaming run: corpus store, then 4 micro-batches
        corpus = spark.createDataFrame(
            [(i, " ".join(texts[i])) for i in [1, 2, 3, 4]],
            "doc_id BIGINT, text STRING",
        )
        build_neardup_store(spark, corpus, idx_tmp)

        src, chk = stream_dirs
        src = os.path.join(src, "neardup")
        os.makedirs(src, exist_ok=True)
        batches = [[0, 25, 50, 75], [200], [425, 450], [600]]

        def write_file(ids, n):
            spark.createDataFrame(
                [(i, " ".join(texts[i])) for i in ids],
                "doc_id BIGINT, text STRING",
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src, f"b{n}")
            )

        write_file(batches[0], 0)
        writer = streaming_neardup_pipeline(
            spark, f"{src}/b*", "doc_id BIGINT, text STRING", idx_tmp, rep_tmp
        )
        q = writer.option(
            "checkpointLocation", os.path.join(chk, "neardup")
        ).start()
        try:
            q.processAllAvailable()
            write_file(batches[1], 1)
            q.processAllAvailable()
            write_file(batches[2], 2)
            q.processAllAvailable()
            write_file(batches[3], 3)
            q.processAllAvailable()
        finally:
            q.stop()

        stream_rows = {
            tuple(r) for r in spark.read.parquet(rep_tmp).collect()
        }
        assert stream_rows == batch_rows
    finally:
        shutil.rmtree(sf_tmp, ignore_errors=True)
        shutil.rmtree(idx_tmp, ignore_errors=True)
        shutil.rmtree(os.path.dirname(rep_tmp), ignore_errors=True)


def test_stream_dedup_near_plan_shape_and_ingest_consistency(spark):
    """r16 plan + consistency pins for ``stream_dedup_near``: (a) the
    executed plan has no CartesianProduct / BroadcastNestedLoop — every
    pair materializes inside the (band, bkey) equi-join; and (b) on the
    standard fixture the streaming twin agrees doc-for-doc with
    ``dedup_incremental_ingest_near`` (same split, same banding, same
    greedy rule): ``dup_vs_corpus == (matches_corpus > 0)``,
    ``dup_in_batch == (matches_stream > 0)``, identical verdicts."""
    from mapreduceplusplus_spark import registry
    from tests.conftest import SF_DIR_ORACLE

    qs = registry.queries()
    sdf = qs["stream_dedup_near"](spark, SF_DIR_ORACLE)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    stream_rows = {r.doc_id: r for r in sdf.collect()}
    ingest_rows = {
        r.doc_id: r
        for r in qs["dedup_incremental_ingest_near"](
            spark, SF_DIR_ORACLE
        ).collect()
    }
    assert set(stream_rows) == set(ingest_rows)
    for doc_id, s in stream_rows.items():
        g = ingest_rows[doc_id]
        assert g.dup_vs_corpus == (s.matches_corpus > 0), doc_id
        assert g.dup_in_batch == (s.matches_stream > 0), doc_id
        assert g.verdict == s.verdict, doc_id

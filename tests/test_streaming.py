"""Structured Streaming: stateful op, stream dedup/join, rollup,
semantic dedup stream.

All tests use availableNow/one-shot triggers over file sources so
they're deterministic and fast.
"""

from __future__ import annotations

import os
import time


def _run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # processAllAvailable (not awaitTermination) — stateful queries
    # with processing-time timeouts stay alive after the data drains.
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return q


def test_stateful_session_operator(spark, tmp_path):
    from scratchdata_spark.streaming.stateful import user_session_stream

    src = str(tmp_path / "stateful_src")
    os.makedirs(src)
    import pandas as pd

    pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "value": [10.0, 5.0, 3.0],
            "ts_us": [1_000_000, 2_000_000, 1_500_000],
        }
    ).to_parquet(os.path.join(src, "b1.parquet"))

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("ts_us", LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    # short inactivity timeout + processing-time trigger so the
    # timeout path (closed=1 emission + state removal) actually fires
    out = user_session_stream(stream, timeout_ms=2000)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        closed = {}
        while time.time() < deadline:
            rows = spark.sql("select * from stateful_sessions").collect()
            closed = {r.user_id: r for r in rows if r.closed == 1}
            if len(closed) == 2:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.sql("select * from stateful_sessions").collect()
    snaps = {r.user_id: r for r in rows if r.closed == 0}
    assert snaps[1].n_events == 2 and snaps[1].total_value == 15.0
    assert snaps[2].n_events == 1 and snaps[2].total_value == 3.0
    assert snaps[1].last_ts_us == 2_000_000
    # inactivity timeout closed both sessions with the final counters
    assert len(closed) == 2
    assert closed[1].n_events == 2 and closed[2].n_events == 1


def test_stream_dedup_and_stream_join(spark):
    """s_stream_dedup / s_stream_stream_join registry entries run as
    real streaming jobs and match batch semantics on sf0.001."""
    from scratchdata_spark.streaming.queries import (
        s_stream_dedup,
        s_stream_stream_join,
    )

    sf = "/root/testdata/sf0.001"
    dd = s_stream_dedup(spark, sf)
    batch = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type"
    ).distinct()
    assert sorted(map(tuple, dd.collect())) == sorted(map(tuple, batch.collect()))

    sj = s_stream_stream_join(spark, sf).collect()
    # every joined click falls inside [purchase, purchase + 1h]
    assert all(
        r.purchase_ts_us <= r.click_ts_us <= r.purchase_ts_us + 3_600_000_000
        for r in sj
    )


def test_continuous_rollup_multibatch_and_replay(spark, tmp_path):
    """Partials accumulate across micro-batches (maxFilesPerTrigger=1
    forces several) and replaying the stream over the same checkpoint
    must not change the result (idempotent batch writes)."""
    import pandas as pd

    from scratchdata_spark.streaming.rollup import (
        rollup_result,
        start_rollup_stream,
    )
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )
    import datetime

    src = tmp_path / "src"
    src.mkdir()
    base = datetime.datetime(2024, 1, 1, 0, 30)
    for i in range(3):  # three files → three micro-batches
        pd.DataFrame(
            {
                "etime": [base + datetime.timedelta(hours=i)] * 2,
                "event_type": ["a", "b"],
                "value": [1.25, 2.50],
            }
        ).to_parquet(src / f"f{i}.parquet", coerce_timestamps="us")

    schema = StructType(
        [
            StructField("etime", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_rollup_stream(
            stream, "etime", ["event_type"], "value",
            str(tmp_path / "rollup"), str(tmp_path / "ckpt"), "1 hour",
        )
        q.awaitTermination()

    run()
    first = sorted(
        map(tuple, rollup_result(spark, str(tmp_path / "rollup"), ["event_type"]).collect())
    )
    assert len(first) == 6  # 3 hours × 2 types
    assert all(r[2] == 1 for r in first)  # n per (bucket, type)
    assert {r[3] for r in first} == {1.25, 2.50}

    run()  # replay over the drained checkpoint: no new batches, no dupes
    again = sorted(
        map(tuple, rollup_result(spark, str(tmp_path / "rollup"), ["event_type"]).collect())
    )
    assert again == first


def test_semantic_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming SemDeDup (streaming/semantic.py): embedding files
    arriving as micro-batches probe a persisted corpus index; the
    union of streamed outputs must equal the batch incremental
    operator over the same increments, and a checkpoint re-run must
    not reprocess consumed files (exactly-once)."""
    import random

    from scratchdata_spark.operators.semantic import (
        prepare_corpus_index,
        semantic_dedup_incremental,
    )
    from scratchdata_spark.streaming.semantic import (
        start_semantic_dedup_stream,
    )

    rng = random.Random(5)

    def vec(center, jitter=0.02):
        return [c + rng.uniform(-jitter, jitter) for c in center]

    centers = [[10.0 if i == j else 0.0 for i in range(8)] for j in range(4)]
    corpus_rows = [
        (cid * 100 + i, vec(centers[cid]))
        for cid in range(4) for i in range(12)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>"
    )

    # increments: near-dups of corpus vectors + novel directions
    inc1 = [(1000 + i, vec(centers[i % 4])) for i in range(6)]
    inc2 = [(2000 + i, vec([5.0] * 8)) for i in range(4)]  # novel
    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    os.makedirs(src)
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(inc1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "f1"))
    spark.createDataFrame(inc2, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "f2"))
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(str(tmp_path / d)):
            if f.endswith(".parquet"):
                os.rename(
                    str(tmp_path / d / f), os.path.join(src, f"inc{i}.parquet")
                )

    q, unpersist = start_semantic_dedup_stream(
        spark, src, corpus, out, ckpt,
        threshold=0.98, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    unpersist()
    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() == 2  # one per file

    # batch reference over the same increments with the same index
    index = prepare_corpus_index(corpus)
    index[1].persist()
    want = semantic_dedup_incremental(
        spark.createDataFrame(inc1 + inc2, schema), None,
        threshold=0.98, corpus_index=index,
    )
    gotmap = {r.vec_id: (r.cluster_id, r.dup_of) for r in got.collect()}
    wantmap = {r.vec_id: (r.cluster_id, r.dup_of) for r in want.collect()}
    index[1].unpersist()
    assert gotmap == wantmap
    # the near-dup increments flagged, the novel ones clean
    assert all(gotmap[1000 + i][1] is not None for i in range(6))
    assert all(gotmap[2000 + i][1] is None for i in range(4))

    # exactly-once across restarts: nothing reprocessed
    n_before = got.count()
    q2, unpersist2 = start_semantic_dedup_stream(
        spark, src, corpus, out, ckpt, threshold=0.98
    )
    q2.awaitTermination(120)
    unpersist2()
    assert spark.read.parquet(out).count() == n_before

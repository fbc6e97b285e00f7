"""Structured Streaming: windowed aggregation parity and stateful
first-seen dedup."""

import os

from pyspark.sql import functions as F

from wiki_entity_linker_spark.streaming.events import windowed_event_counts


def test_windowed_counts_stream_equals_batch(spark, sf0001, tmp_path):
    import shutil

    events_path = os.path.join(sf0001, "events.parquet")
    batch = spark.read.parquet(events_path)
    want = {
        (r["win_start"], r["event_type"], r["n_events"])
        for r in windowed_event_counts(batch).collect()
    }

    # streaming file sources require a DIRECTORY of drops
    stream_dir = str(tmp_path / "events_stream")
    os.makedirs(stream_dir)
    shutil.copy(events_path, os.path.join(stream_dir, "part-000.parquet"))
    stream = spark.readStream.schema(batch.schema).parquet(stream_dir)
    q = (
        windowed_event_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win_start"], r["event_type"], r["n_events"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got == want and len(want) > 0


def test_streaming_first_seen_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState first-seen filter: the first micro-batch
    carrying a key emits its min-id representative; later batches are
    suppressed (state persists across batches)."""
    import json as _json

    from wiki_entity_linker_spark.streaming.events import streaming_first_seen

    stream_dir = str(tmp_path / "dedup_stream")
    os.makedirs(stream_dir)
    schema = "content_hash string, file_id string"

    def drop(name, rows):
        with open(os.path.join(stream_dir, name), "w") as f:
            for h, i in rows:
                f.write(_json.dumps({"content_hash": h, "file_id": i}) + "\n")

    # batch 1: A (two members -> min id wins), B
    drop("b1.jsonl", [("A", "f2"), ("A", "f1"), ("B", "f3")])
    stream = spark.readStream.schema(schema).json(stream_dir)
    q = (
        streaming_first_seen(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("first_seen_out")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r["content_hash"], r["file_id"], r["n_dupes_prior"])
            for r in spark.sql("SELECT * FROM first_seen_out").collect()
        }
        assert got1 == {("A", "f1", 1), ("B", "f3", 0)}
        # batch 2: A again (suppressed), C (new)
        drop("b2.jsonl", [("A", "f9"), ("C", "f4")])
        q.processAllAvailable()
        got2 = {
            (r["content_hash"], r["file_id"], r["n_dupes_prior"])
            for r in spark.sql("SELECT * FROM first_seen_out").collect()
        }
        assert got2 == got1 | {("C", "f4", 0)}
    finally:
        q.stop()


def test_streaming_first_seen_survives_restart(spark, tmp_path):
    """VERDICT r3 #8: the stateful first-seen operator must restore its
    state store from the checkpoint on process restart — a key seen before
    the stop stays suppressed after it."""
    import json as _json

    from wiki_entity_linker_spark.streaming.events import streaming_first_seen

    stream_dir = str(tmp_path / "restart_stream")
    ckpt = str(tmp_path / "restart_ckpt")
    os.makedirs(stream_dir)
    schema = "content_hash string, file_id string"

    def drop(name, rows):
        with open(os.path.join(stream_dir, name), "w") as f:
            for h, i in rows:
                f.write(_json.dumps({"content_hash": h, "file_id": i}) + "\n")

    out_dir = str(tmp_path / "restart_out")
    os.makedirs(out_dir)

    def start():
        stream = spark.readStream.schema(schema).json(stream_dir)

        def sink(batch_df, batch_id):
            rows = batch_df.collect()
            if rows:
                with open(os.path.join(out_dir, f"emit-{batch_id}.jsonl"),
                          "w") as f:
                    for r in rows:
                        f.write(_json.dumps(
                            {"content_hash": r["content_hash"],
                             "file_id": r["file_id"]}) + "\n")

        return (
            streaming_first_seen(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    def emitted():
        rows = set()
        for name in os.listdir(out_dir):
            for ln in open(os.path.join(out_dir, name)):
                d = _json.loads(ln)
                rows.add((d["content_hash"], d["file_id"]))
        return rows

    drop("b1.jsonl", [("A", "f1"), ("B", "f2")])
    q1 = start()
    try:
        q1.processAllAvailable()
        assert emitted() == {("A", "f1"), ("B", "f2")}
    finally:
        q1.stop()

    # process restart: a fresh query against the same checkpoint
    drop("b2.jsonl", [("A", "f9"), ("D", "f4")])
    q2 = start()
    try:
        q2.processAllAvailable()
        # A was seen before the restart: suppressed by the RESTORED state;
        # only the genuinely new key is emitted
        assert emitted() == {("A", "f1"), ("B", "f2"), ("D", "f4")}
    finally:
        q2.stop()


def test_session_window_stream_equals_batch(spark, sf0001, tmp_path):
    """Native gap-based session windows (the streaming-capable form of the
    batch sessionize query): identical results on the same data whether it
    arrives as a batch frame or as an availableNow stream."""
    import shutil

    from wiki_entity_linker_spark.streaming.events import session_event_counts

    events_path = os.path.join(sf0001, "events.parquet")
    batch = spark.read.parquet(events_path)
    want = {
        (r["session_start"], r["session_end"], r["user_id"], r["n_events"])
        for r in session_event_counts(batch).collect()
    }
    assert len(want) > 0
    # sessions must actually merge events (fewer sessions than events)
    assert len(want) < batch.count()

    stream_dir = str(tmp_path / "events_sessions")
    os.makedirs(stream_dir)
    shutil.copy(events_path, os.path.join(stream_dir, "part-000.parquet"))
    stream = spark.readStream.schema(batch.schema).parquet(stream_dir)
    q = (
        session_event_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["session_start"], r["session_end"], r["user_id"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert got == want


def test_streaming_asof_enrichment_equals_batch(spark, sf0001, tmp_path):
    """Stream-static temporal enrichment: purchases arriving as a stream
    are as-of joined (foreachBatch) against the static views table; the
    union of all batch outputs equals the one-shot batch as-of join."""
    import shutil

    from pyspark.sql import functions as F

    from wiki_entity_linker_spark.operators.asof import asof_join

    events_path = os.path.join(sf0001, "events.parquet")
    ev = spark.read.parquet(events_path)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )

    def enrich(purchases):
        return asof_join(
            purchases.select("event_id", "user_id", "ts"),
            views,
            on=["user_id"], left_ts="ts", right_ts="ts",
            right_tie="event_id",
            payload={"view_event_id": "event_id"},
        )

    batch_out = enrich(ev.filter(F.col("event_type") == "purchase"))
    want = {
        (r["event_id"], r["view_event_id"]) for r in batch_out.collect()
    }
    assert len(want) > 0

    stream_dir = str(tmp_path / "purchases_stream")
    os.makedirs(stream_dir)
    # two drops: the enrichment must be per-batch-correct, not whole-input
    ev.filter((F.col("event_type") == "purchase") & (F.col("event_id") % 2 == 0)) \
        .write.parquet(os.path.join(stream_dir, "d0"))
    ev.filter((F.col("event_type") == "purchase") & (F.col("event_id") % 2 == 1)) \
        .write.parquet(os.path.join(stream_dir, "d1"))
    got = set()

    def sink(batch_df, epoch_id):
        for r in enrich(batch_df).collect():
            got.add((r["event_id"], r["view_event_id"]))

    purchases_schema = ev.schema
    stream = (
        spark.readStream.schema(purchases_schema)
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == want

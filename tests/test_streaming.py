"""Structured Streaming: windowed term counts + staged incremental postings."""

from __future__ import annotations

from pyspark.sql import functions as F

from keywords4cv_spark.config import EngineConfig
from keywords4cv_spark.index.build import term_frequencies, tokenized_docs
from keywords4cv_spark.sources.corpus import synth_documents
from keywords4cv_spark.streaming.incremental import (
    stage_postings_stream,
    staged_term_frequencies,
    windowed_term_counts,
)

CFG = EngineConfig()


def _write_stream_input(spark, tmp_path, n=300):
    path = str(tmp_path / "stream_in")
    synth_documents(spark, n, seed=11).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    return path, schema


def test_windowed_term_counts_match_batch(spark, tmp_path):
    path, schema = _write_stream_input(spark, tmp_path)
    stream = spark.readStream.schema(schema).parquet(path)
    q = (
        windowed_term_counts(stream, window="1 hour", watermark="0 seconds", cfg=CFG)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("wtc")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start, r.term): r.n for r in spark.sql("SELECT * FROM wtc").collect()
    }
    batch = spark.read.parquet(path)
    toks = tokenized_docs(batch, CFG)
    want = {
        (r.ws, r.term): r.n
        for r in toks.select(
            F.date_trunc("hour", "warc_ts").alias("ws"), F.explode("terms").alias("term")
        )
        .groupBy("ws", "term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode watermark semantics end to end: a window is emitted
    once the watermark passes it, and an event arriving AFTER the
    watermark passed its window is dropped — the late contribution must
    not appear in the finalized counts."""
    import time as _time

    import pandas as pd

    in_dir = tmp_path / "wm_in"
    in_dir.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "warc_ts"]
        ).astype({"doc_id": "int64"})
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).astype("datetime64[us]")
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(in_dir / name)
        )

    t0 = "2025-01-01 00:30:00"
    write_batch("b1", [
        (1, "alpha alpha", "en", t0),
        (2, "beta", "en", "2025-01-01 05:30:00"),  # advances watermark to 04:30
    ])
    _time.sleep(1.1)
    write_batch("b2", [(4, "gamma", "en", "2025-01-01 06:30:00")])
    _time.sleep(1.1)
    # Spark's LATE-EVENT watermark lags the eviction watermark by one
    # batch (a row arriving in the very next batch after its window was
    # passed still lands) — so the late row goes in a THIRD batch, two
    # triggers after its window closed
    write_batch("b3", [(3, "alpha", "en", t0)])
    schema = spark.read.parquet(str(in_dir / "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    q = (
        windowed_term_counts(stream, window="1 hour", watermark="1 hour", cfg=CFG)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start, r.term): r.n for r in spark.sql("SELECT * FROM wm").collect()
    }
    emitted_alpha = {k: v for k, v in got.items() if k[1] == "alpha"}
    assert len(emitted_alpha) == 1
    # the late batch-2 alpha must NOT be counted: 2, not 3
    assert list(emitted_alpha.values()) == [2], got


def test_stateful_sessionize_matches_batch(spark, tmp_path, sf_dir):
    """applyInPandasWithState sessionization == batch sessionizer on the
    CLOSED sessions (each user's final session is still open in state).
    Two time-ordered micro-batches force state to cross batches."""
    import time as _time

    from keywords4cv_spark.operators.relational import events_sessionized
    from keywords4cv_spark.streaming.incremental import sessionize_stream

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    epoch = F.col("ts").cast("timestamp").cast("double")
    cut = events.select(
        F.percentile(epoch, F.lit(0.5)).alias("p")
    ).collect()[0]["p"]
    in_dir = str(tmp_path / "ev_stream")
    events.filter(epoch <= cut).coalesce(1).write.mode("overwrite").parquet(in_dir)
    _time.sleep(1.1)  # file mod-time orders the micro-batches
    events.filter(epoch > cut).coalesce(1).write.mode("append").parquet(in_dir)
    schema = events.schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end,
                                    round(r.session_value, 6))
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    batch = events_sessionized(spark, sf_dir)
    from pyspark.sql.window import Window

    last = Window.partitionBy("user_id")
    closed_batch = batch.withColumn(
        "max_sid", F.max("session_id").over(last)
    ).filter(F.col("session_id") < F.col("max_sid"))
    want = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end,
                                    round(r.session_value, 6))
        for r in closed_batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_staged_postings_equal_batch_tf(spark, tmp_path):
    path, schema = _write_stream_input(spark, tmp_path)
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    q = stage_postings_stream(stream, staging, ckpt, CFG)
    q.awaitTermination(120)
    got = staged_term_frequencies(spark, staging)
    want = term_frequencies(tokenized_docs(spark.read.parquet(path), CFG))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_sessions_closed_reuses_one_slot(spark, sf_dir):
    """Repeated stream_sessions_closed calls reuse one checkpoint dir and
    one sess_* memory-sink view per sf_dir instead of leaving a new pair
    behind on every call."""
    import glob
    import os
    import re
    import tempfile

    from keywords4cv_spark import __version__
    from keywords4cv_spark.driver_queries import QUERIES

    tag = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))

    def slots():
        ckpts = glob.glob(
            os.path.join(tempfile.gettempdir(), f"k4cv_sess_ckpt_{__version__}_*")
        )
        views = [
            t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("sess_")
        ]
        return sorted(ckpts), sorted(views)

    run = QUERIES["stream_sessions_closed"]
    first = sorted(run(spark, sf_dir).collect())
    after_first = slots()
    assert sorted(run(spark, sf_dir).collect()) == first
    assert slots() == after_first
    ckpts, views = after_first
    assert len([c for c in ckpts if c.endswith(tag)]) == 1, ckpts
    assert len([v for v in views if v.endswith(tag)]) == 1, views

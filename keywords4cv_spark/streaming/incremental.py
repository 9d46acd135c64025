"""Structured Streaming surface: incremental index maintenance.

The reference is strictly batch (SURVEY.md §2.10 — its "streaming" is
generator-based out-of-core batch), so there is no parity obligation
here; this module is the idiomatic-Spark continuation the north star
implies: new crawl snapshots arrive → token stats update with
event-time windows → new postings are staged per micro-batch and
periodically folded into the main index.

- ``windowed_term_counts``: watermarked tumbling-window term counts
  over the document stream (event time = warc_ts).
- ``stage_postings_stream``: foreachBatch sink that tokenizes each
  micro-batch and appends ``(doc_id, term, tf, dl, batch_id)`` rows to
  a staging directory — the write side of an LSM-style index: cheap
  sequential appends, no read-modify-write of compressed blocks.
- ``staged_term_frequencies``: reads the staging area back as the same
  relation ``index.build.term_frequencies`` produces, so a periodic
  compaction is just ``build_index`` over (old docs ∪ staged docs) —
  Iceberg snapshot semantics at sandbox scale.
- ``sessionize_stream``: custom stateful operator via
  ``applyInPandasWithState`` — per-user gap sessionization whose closed
  sessions match the batch window-sum sessionizer
  (operators/relational.events_sessionized) exactly; open sessions ride
  in state across micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.index.build import (
    term_frequencies_fused,
    tokenized_docs,
)


def windowed_term_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Streaming tumbling-window counts of terms by event time."""
    toks = tokenized_docs(stream, cfg)
    terms = toks.select("warc_ts", F.explode("terms").alias("term"))
    return (
        terms.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "term")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "term",
            "n",
        )
    )


def stage_postings_stream(
    stream: DataFrame,
    staging_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
):
    """Start a foreachBatch query staging per-micro-batch postings."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        # fused tokenize+count (index.build.term_frequencies_fused):
        # each micro-batch stages as scan → mapInPandas → append, with
        # no shuffle at all — the identical relation the classic
        # explode+groupBy path produces (parity-pinned in pytest)
        tf = term_frequencies_fused(batch_df, cfg)
        tf.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            staging_dir
        )

    return (
        stream.writeStream.foreachBatch(stage)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "session_start timestamp, session_end timestamp, session_value double"
)
# state rides across micro-batches: the OPEN session per user
# (n_late counts dropped late rows — see the sessionize_stream docstring)
SESSION_STATE_SCHEMA = (
    "session_id long, n_events long, start_us long, last_us long, value double, "
    "n_late long"
)


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Stateful gap sessionization (applyInPandasWithState).

    Semantics match the batch sessionizer
    (operators/relational.events_sessionized): a new session starts when
    the gap to the previous event of the same user exceeds
    ``gap_seconds``, where the gap is measured on WHOLE epoch seconds
    (the batch/oracle predicate is ``epoch(ts)`` cast to BIGINT — the
    microsecond-exact gap would diverge on sub-second timestamps);
    session ids are 1-based per user in time order. CLOSED sessions are
    emitted as soon as the event that supersedes them arrives; the
    still-open session lives in per-user state until a later micro-batch
    closes it. Parallelism: state is hash-partitioned by user_id — the
    standard Spark stateful-shuffle shape.

    Late data: an event arriving in a LATER micro-batch with ts earlier
    than the open session's last event would produce a negative gap —
    extending the session and dragging last_us backwards, corrupting
    every subsequent gap. Such rows are DROPPED (the watermark semantics
    windowed_term_counts applies declaratively, enforced here by hand
    because applyInPandasWithState leaves late-row policy to the
    operator); the drop count rides in state for observability.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        user_id = int(key[0])
        if state.exists:
            sid, n, start_us, last_us, value, n_late = state.get
        else:
            sid, n, start_us, last_us, value, n_late = 0, 0, 0, 0, 0.0, 0
        closed = []
        # a large group arrives as MULTIPLE Arrow chunks in shuffle order:
        # concatenate and sort ONCE — sorting per chunk would interleave
        # out-of-order events across chunk boundaries
        chunks = list(pdfs)
        batch = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(batch):
            import numpy as np

            batch = batch.sort_values(["ts", "event_id"])
            # vectorized twin of the per-event loop (the loop paid a
            # pd.Timestamp construction + branches PER EVENT): session
            # boundaries from the whole-second gap array, per-session
            # slices from the boundary indices. Per-session values are
            # still summed left-to-right over the slice (Python sum) —
            # bit-identical to the sequential accumulation.
            t_us = batch["ts"].to_numpy("datetime64[us]").astype(np.int64)
            vals = batch["value"].to_numpy(np.float64)
            if n > 0:
                # sorted batch ⇒ only a prefix can be late vs. the open
                # session's last event (last_us only ever advances)
                late = t_us < last_us
                n_late += int(late.sum())
                t_us, vals = t_us[~late], vals[~late]
            if t_us.size:
                sec = t_us // 1_000_000
                prev = np.empty_like(sec)
                prev[0] = last_us // 1_000_000
                prev[1:] = sec[:-1]
                new_sess = sec - prev > gap_seconds
                if n == 0:
                    new_sess[0] = True
                starts = np.flatnonzero(new_sess)
                bounds = np.concatenate(
                    [[0], starts, [t_us.size]]
                ) if (starts.size == 0 or starts[0] != 0) else np.concatenate(
                    [starts, [t_us.size]]
                )
                # bounds delimits segments [bounds[i], bounds[i+1]); the
                # first segment extends the open session when it starts
                # at index 0 without a new-session mark
                for i in range(len(bounds) - 1):
                    lo, hi = int(bounds[i]), int(bounds[i + 1])
                    if lo == hi:
                        continue
                    fresh = bool(new_sess[lo])
                    if fresh:
                        if n > 0:
                            closed.append((sid, n, start_us, last_us, value))
                        sid, n, start_us, value = sid + 1, 0, int(t_us[lo]), 0.0
                    n += hi - lo
                    last_us = int(t_us[hi - 1])
                    for v in vals[lo:hi]:
                        value += float(v)
        state.update((sid, n, start_us, last_us, value, n_late))
        if not closed:
            return iter([])
        out = pd.DataFrame(
            closed, columns=["session_id", "n_events", "start_us", "last_us", "value"]
        )
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": user_id,
                        "session_id": out["session_id"].astype("int64"),
                        "n_events": out["n_events"].astype("int64"),
                        "session_start": pd.to_datetime(out["start_us"], unit="us"),
                        "session_end": pd.to_datetime(out["last_us"], unit="us"),
                        "session_value": out["value"].astype("float64"),
                    }
                )
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def staged_term_frequencies(spark: SparkSession, staging_dir: str) -> DataFrame:
    """Staged rows re-aggregated to the batch term_frequencies relation.

    A doc appears in exactly one micro-batch, so summing tf across
    batch_ids is exact (and idempotent compaction drops batch_id)."""
    return (
        spark.read.parquet(staging_dir)
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"))
    )

"""Structured Streaming: incremental ingest of web pages -> mentions/triples.

The reference is batch-only (SURVEY.md §2.10); its incremental story is
stable_id dedup + re-apply (tests/e2e/test_incremental.py). The Spark-native
equivalent is a streaming pipeline: ``readStream`` over the web_pages table
directory, the SAME fused parse+mention stage (mapInPandas works unchanged
on streaming DataFrames), and an append sink — new documents flow through
without touching processed ones, and the sink + checkpointLocation give
exactly-once per-batch semantics (the streaming analogue of the snapshot
commits in checkpoints.py).

Also provides the watermarked windowed aggregation shape for event streams
(late-data tolerant counts), exercised against the driver's events table.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .corpus import WEB_PAGES_SCHEMA
from .mentions_op import MentionSpec, fused_mentions
from .parse import WEB_PAGES, ParseConfig


def stream_web_pages(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of web_pages parquet drops (new files = new docs)."""
    return (
        spark.readStream
        .schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def stream_mentions(pages: DataFrame, specs: Sequence[MentionSpec],
                    cfg: Optional[ParseConfig] = None) -> DataFrame:
    """Streaming fused parse+mention extraction over (url, html) pages: the
    batch kernel and batch loop (parse.map_documents), so a page that
    fails to parse yields one ``PARSE_ERROR_TYPE`` marker row here too."""
    return fused_mentions(pages, WEB_PAGES, specs, cfg)


def run_stream_to_parquet(stream_df: DataFrame, out_dir: str,
                          checkpoint_dir: str, await_termination: bool = True):
    """Append sink with exactly-once per-batch checkpointing; availableNow
    processes the current backlog then stops (batch-equivalent semantics for
    tests and backfills)."""
    q = (
        stream_df.writeStream
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def run_stream_updates_to_parquet(stream_df: DataFrame, out_dir: str,
                                  checkpoint_dir: str,
                                  await_termination: bool = True):
    """Update-mode sink for stateful operators (the parquet file sink is
    append-only, so each micro-batch's updated rows land via foreachBatch);
    availableNow drains the backlog then stops."""
    q = (
        stream_df.writeStream
        .foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-event_type running (count, sum) totals that persist across stream
    micro-batches through the state store (the checkpointLocation). Each
    trigger emits one row per active group with the cumulative totals.

    This is the engine's template for custom stateful operators the built-in
    windowed aggregations can't express (e.g. cross-batch incremental dedup
    state keyed by url at ingest time).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("total_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ])

    def fn(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({
            "event_type": [key[0]],
            "total_events": [n],
            "total_value": [round(s, 2)],
        })

    return (
        events.groupBy("event_type")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_state(docs: DataFrame) -> DataFrame:
    """Cross-batch incremental EXACT-DEDUP via ``applyInPandasWithState``:
    per content hash, state = (n_seen, first_doc_id) persists across
    micro-batches through the state store — the ingest-time dedup a
    100-TB crawl pipeline runs in front of parsing (a duplicate arriving
    three days later still hits the same state row). Each trigger emits
    the group's cumulative (text_hash, n_seen, first_doc); reading the
    update-mode sink back, max(n_seen)/min(first_doc) per key recover the
    final state deterministically regardless of micro-batch slicing.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = docs.select(F.md5(F.col("text")).alias("text_hash"),
                        F.col("doc_id").cast("long").alias("doc_id"))
    out_schema = T.StructType([
        T.StructField("text_hash", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("first_doc", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("first", T.LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        n, first = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            lo = int(pdf["doc_id"].min())
            first = lo if first is None else min(first, lo)
        state.update((n, first))
        yield pd.DataFrame({
            "text_hash": [key[0]], "n_seen": [n], "first_doc": [first],
        })

    return keyed.groupBy("text_hash").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation for late-arriving events —
    works on both batch and streaming frames."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


def merge_triple_partial(spark: SparkSession, table, partial: DataFrame):
    """Combine one batch's PARTIAL triple aggregate into the committed
    graph table by (subj, pred, obj): matched keys take prob = max,
    n_provenance = sum, provenance = capped union (read-modify-write on
    only the TOUCHED keys); SnapshotTable.merge then carries unmatched
    committed rows over as a parquet scan. max and + are associative and
    commutative, so ANY micro-batch slicing of the corpus converges to the
    batch-run table."""
    latest = table.latest()
    if latest is None:
        return table.commit(partial)
    committed = table.read(spark, latest.snapshot_id)
    old = committed.select(
        "subj", "pred", "obj",
        F.col("prob").alias("_old_prob"),
        F.col("n_provenance").alias("_old_n"),
        F.col("provenance").alias("_old_prov"),
    )
    combined = (
        partial.join(old, ["subj", "pred", "obj"], "left")
        .select(
            "subj", "pred", "obj",
            F.greatest(F.col("prob"),
                       F.coalesce("_old_prob", F.lit(0.0))).alias("prob"),
            (F.col("n_provenance")
             + F.coalesce("_old_n", F.lit(0))).alias("n_provenance"),
            F.slice(
                F.concat(
                    F.coalesce("_old_prov", F.array().cast("array<string>")),
                    F.col("provenance")),
                1, 16).alias("provenance"),
        )
    )
    return table.merge(combined, ["subj", "pred", "obj"])


def stream_triples_incremental(
    spark: SparkSession,
    docs_dir: str,
    work_dir: str,
    pred: str,
    prob_threshold: float = 0.5,
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """The FULL pipeline streamed end to end (docs -> candidates -> labels
    -> triples) with an incremental foreachBatch MERGE — the streaming
    analogue of the batch kg pipeline whose final table must equal the
    batch run row-for-row (VERDICT r5 task #6).

    Per micro-batch: the same fused parse+mention+candidate stage as batch
    (candidate relations are document-local, and a document's row lives in
    exactly one input file, so per-batch extraction is exact), majority-vote
    labeling, then a PARTIAL triple aggregation within the batch. The
    partial merges into the committed graph table by (subj, pred, obj):
    matched keys combine (prob = max, n_provenance = sum, provenance
    capped-union) via a read-modify-write on ONLY the touched keys, then
    SnapshotTable.merge carries unmatched committed rows over as a parquet
    scan — the foreachBatch incremental-MERGE pattern over the engine's
    Iceberg-style snapshot tables (checkpoints.py). Returns the final
    committed triples table.

    Scale notes: each micro-batch shuffles only its own partial aggregate
    (uniform triple keys); the committed side joins broadcast when the
    touched-key set is small (the common incremental case). max(prob) over
    batches == global max and sums are associative, so micro-batch slicing
    cannot change the final table.
    """
    from .cache import released
    from .checkpoints import SnapshotTable
    from .pipeline import scored_candidates
    from .triples import materialize_triples

    table = SnapshotTable(work_dir, "triples")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
    )

    def process_batch(batch_df: DataFrame, _bid: int) -> None:
        # each micro-batch is a new plan, so its caches are new too: release
        # them once the batch is merged, or a long-running stream grows
        # without bound
        with released():
            partial = materialize_triples(
                scored_candidates(batch_df), pred=pred,
                prob_threshold=prob_threshold)
            merge_triple_partial(spark, table, partial)

    q = (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", f"{work_dir}/_stream_cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark)


def sessionize(
    events: DataFrame,
    gap: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window``:
    per-user sessions merge while consecutive events arrive within ``gap``
    of the session's end; a session's window is [first_ts, last_ts + gap).
    Works identically over a batch frame and a watermarked stream (the
    session_window aggregation is the streaming-state form Spark manages
    natively — no custom applyInPandasWithState needed for this shape).

    Monetary-style values are summed as exact integer CENTS
    (round(value*100) cast long) so the aggregate is order-independent and
    hash-comparable across engines — a double sum's accumulation order
    would not be. Output: (user, session_start, session_end, n_events,
    sum_cents), session_end = last event + gap.

    Scale: ONE shuffle on the user key; the session merge is Spark-native
    state logic, no per-row Python. Skewed hot users are a groupBy skew
    like any other (AQE).
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    return (
        events
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(cents).alias("sum_cents"))
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events", "sum_cents",
        )
    )

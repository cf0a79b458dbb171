"""Structured Streaming extension: the same parse -> enrich -> route ->
aggregate pipeline over a streaming tokens source.

The reference is a synchronous library (no streaming); this is the
pipeline-level extension the north rule's scale posture implies: watermarked
event-time windows for the per-sink aggregates, checkpointed state for
resume, and foreachBatch for fan-out sinks (exactly-once per epoch,
partitioned by the batch path's (rfc, sink_class) sink key under a
per-epoch directory, without the batch path's salted repartition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .grammar import ParseConfig
from .pipeline import parse_stage
from .route import with_route_columns

TOKENS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])


def read_token_stream(spark: SparkSession, src_dir: str,
                      max_files: int = 16) -> DataFrame:
    return (spark.readStream
            .schema(TOKENS_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .parquet(src_dir))


def streaming_hourly_counts(stream: DataFrame,
                            cfg: ParseConfig | None = None,
                            watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window facility x severity counts.  Late rows
    beyond the watermark are dropped by Spark's state store — the streaming
    analogue of the batch hourly_counts."""
    parsed = parse_stage(stream, cfg)
    return (parsed
            .where(F.col("parse_error").isNull())
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"),
                     "facility", "severity")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("hour"), "facility", "severity",
                    "n_events"))


def _epoch_writer(path: str, *partition_cols: str):
    """The foreachBatch writer of every streaming job: exactly once per
    epoch, under its own epoch=<id> partition (then ``partition_cols``)
    with dynamic-partition OVERWRITE, so a failure between a partial
    write and the checkpoint commit is repaired by the replay overwriting
    exactly that epoch's partitions (a blind append would duplicate
    rows)."""
    def write_epoch(df: DataFrame, epoch_id: int) -> None:
        (df.withColumn("epoch", F.lit(epoch_id))
           .write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy("epoch", *partition_cols)
           .parquet(path))

    return write_epoch


def start_streaming_job(spark: SparkSession, src_dir: str, out_dir: str,
                        checkpoint: str, cfg: ParseConfig | None = None):
    """Fan-out sink writer via foreachBatch (_epoch_writer): exactly-once-
    per-epoch writes partitioned by (epoch, rfc, sink_class),
    checkpointed for resume."""
    from .enrich import enrich

    parsed = with_route_columns(
        enrich(parse_stage(read_token_stream(spark, src_dir), cfg), spark))
    return (parsed.writeStream
            .foreachBatch(_epoch_writer(f"{out_dir}/sinks", "rfc",
                                        "sink_class"))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def user_state_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (n_events, distinct event types, ts range) across epochs.
    Every aggregate is order-insensitive and monotone, so the FINAL
    emission per user is exact whatever order the file source feeds
    epochs — that is what makes this state op oracle-checkable."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("min_ts", T.TimestampType()),
        T.StructField("max_ts", T.TimestampType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("types", T.ArrayType(T.StringType())),
        T.StructField("mn", T.LongType()),   # epoch micros
        T.StructField("mx", T.LongType()),
    ])

    def update(key, pdfs, state):
        n, types, mn, mx = 0, set(), None, None
        if state.exists:
            n, tlist, mn, mx = state.get
            types = set(tlist)
        for pdf in pdfs:
            n += len(pdf)
            types |= set(pdf["event_type"])
            ts = pdf["ts"].astype("datetime64[us]").astype("int64")
            lo, hi = int(ts.min()), int(ts.max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        state.update((n, sorted(types), mn, mx))
        yield pd.DataFrame({
            "user_id": [int(key[0])],
            "n_events": [n],
            "n_types": [len(types)],
            "min_ts": [pd.Timestamp(mn, unit="us")],
            "max_ts": [pd.Timestamp(mx, unit="us")],
        })

    return (stream
            .groupBy(F.col("user_id").cast("long").alias("user_id"))
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def run_user_state_job(spark: SparkSession, events_dir: str, out_dir: str,
                       checkpoint: str) -> DataFrame:
    """The stateful per-user aggregate, run to completion: the
    update-mode emissions land in an epoch-partitioned parquet sink
    (_epoch_writer), and the final per-user row is reduced from the sink
    DISTRIBUTEDLY, so nothing accumulates on the driver at any corpus
    size."""
    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(events_dir))
    q = (user_state_stream(stream)
         .writeStream
         .foreachBatch(_epoch_writer(f"{out_dir}/user_state"))
         .outputMode("update")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return read_user_state_result(spark, out_dir)


def read_user_state_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final per-user aggregate from the epoch-partitioned sink: n_events
    is monotone across epochs, so the max-n_events row per user is the
    complete state (a window over the sink — distributed, no collect)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc(),
                                              F.col("epoch").desc())
    return (spark.read.parquet(f"{out_dir}/user_state")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "epoch"))


def run_streaming_hourly_batch(spark: SparkSession, tokens_dir: str,
                               checkpoint: str,
                               cfg: ParseConfig | None = None,
                               name: str = "streaming_hourly_sink"):
    """Run the availableNow hourly-counts stream to completion and return
    the final windowed counts as a batch DataFrame (complete-mode memory
    sink, so windows still open at end-of-stream are included — the batch
    oracle sees every hour)."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (streaming_hourly_counts(read_token_stream(spark, tokens_dir), cfg)
         .writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


DOCS_STREAM_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def run_incremental_dedup_stream(spark: SparkSession, batch_dir: str,
                                 corpus: DataFrame, out_dir: str,
                                 checkpoint: str,
                                 max_files: int = 2) -> DataFrame:
    """Continuous-ingestion dedup: a file-source stream of new documents
    probes the STATIC corpus's key/band tables per epoch (stream-static
    via foreachBatch, so each epoch runs the exact batch probe operator
    — queries._probe_corpus_flags), writing per-epoch flag rows with the
    same epoch-partition overwrite idempotence (_epoch_writer).

    The corpus tables are prepared ONCE, deduplicated to unique keys,
    and persisted — they are the artifacts a nightly run_dedup
    materializes in production — so each epoch pays only its own probe,
    never a corpus rescan.  Epoch inputs are bounded by
    maxFilesPerTrigger, so the probe lists are broadcast
    unconditionally.  Within-batch keep-first is deliberately NOT
    computed here: it depends on whole-batch doc ordering, a
    batch/compaction concern (queries.dedup_incremental), not a
    per-epoch one — which is exactly why the unioned epoch outputs equal
    the batch operator's corpus-facing flags regardless of how the file
    source splits epochs."""
    from .queries import _collapse, _gk_bands, _probe_corpus_flags, _text_key

    c_keyed, c_grp = _collapse(corpus.where(F.col("text").isNotNull()),
                               _text_key("text"), "doc_id",
                               text=F.min("text"))
    c_gks = c_keyed.select("gk").distinct().persist()
    c_bands = _gk_bands(c_grp).persist()

    write = _epoch_writer(out_dir)

    def write_epoch(df: DataFrame, epoch_id: int) -> None:
        _, _, probe = _probe_corpus_flags(df, c_gks, c_bands, F.broadcast)
        write(probe.select("doc_id", "exact_dup_corpus", "near_dup_corpus"),
              epoch_id)

    try:
        q = (spark.readStream.schema(DOCS_STREAM_SCHEMA)
             .option("maxFilesPerTrigger", max_files)
             .parquet(batch_dir)
             .writeStream.foreachBatch(write_epoch)
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        # a failed epoch must not leak the persisted corpus tables into
        # the caller's session
        c_gks.unpersist()
        c_bands.unpersist()
    try:
        return spark.read.parquet(out_dir)
    except Exception:
        # an EMPTY batch dir fires zero epochs, so nothing was ever
        # written and the read cannot infer a schema — return the empty
        # result the batch operator produces on the same input
        return spark.createDataFrame(
            [], "doc_id long, exact_dup_corpus boolean, "
                "near_dup_corpus boolean, epoch int")

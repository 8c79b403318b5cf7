"""Structured Streaming ingestion of transcript turns.

The reference is batch-only (SURVEY.md §2.10) and the north rule's
execution model is batch over Iceberg snapshots — but a transcripts table
at 10^12 turns is *fed* by a stream, so the engine ships the ingestion
path: a file-source ``readStream`` over the transcript layout with

* **event-time watermarking** on ``ts`` (late turns beyond the watermark
  horizon are dropped at the aggregation, not silently double-counted),
* **streaming dedup** on (conv_id, turn_idx) within the watermark — the
  per-turn idempotence guard for at-least-once upstream delivery,
* a windowed per-conversation mention-rate aggregate (tumbling windows)
  as the running data-quality signal, and
* ``foreachBatch`` handoff into the same checkpointed batch pipeline
  (io.write_stage), so the stream and batch paths share one storage
  contract.

Tested with ``trigger(availableNow=True)`` against the static parquet —
the bounded-replay mode a backfill would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_twitter_spark.functions.hashing import toks_col
from ed_twitter_spark.operators.mentions import mention_positions

WATERMARK = "2 minutes"  # late-data horizon (event time)
WINDOW = "1 minute"  # tumbling aggregate window


def read_transcript_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the transcripts-shaped parquet directory.

    ``maxFilesPerTrigger`` bounds per-micro-batch work; schema is pinned
    (streams cannot infer), matching BASELINE.json input_hint.
    """
    static = spark.read.parquet(f"{sf_dir}")
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(sf_dir)
    )


def deduped_turns(stream: DataFrame) -> DataFrame:
    """At-least-once → exactly-once turns: watermark-bounded dedup state on
    the (conv_id, turn_idx) natural key (state evicted past the watermark,
    so it stays O(in-flight window), not O(stream))."""
    return stream.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def mention_rate(stream: DataFrame) -> DataFrame:
    """Tumbling-window per-conversation mention counts with late-data
    handling: the streaming twin of the batch `mentions` aggregate.

    The watermark is inherited from the upstream dedup stage (Spark
    disallows redefining it across chained stateful operators)."""
    toks = stream.select(
        "conv_id",
        "ts",
        F.size(mention_positions(toks_col())).alias("n_mentions"),
    )
    return (
        toks.groupBy(F.window("ts", WINDOW), "conv_id")
        .agg(F.sum("n_mentions").alias("mentions"))
        .select(
            F.col("window.start").alias("win_start"),
            "conv_id",
            "mentions",
        )
    )


def run_ingest_to_stage(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, stage_root: str
) -> list[str]:
    """``foreachBatch`` handoff into the checkpointed batch catalog: each
    micro-batch of watermark-deduped turns lands via :func:`io.write_stage`
    as its own stage (``stream_turns_b<batch_id>``) with the same
    lineage record the batch pipeline writes — the
    stream and batch paths share one storage contract. The streaming
    checkpoint makes redelivered batches replay idempotently (same
    batch_id → same stage dir, overwritten not duplicated).

    Returns the stage names written, oldest first."""
    import time

    from ed_twitter_spark import io as kgio

    turns = deduped_turns(read_transcript_stream(spark, src_dir))
    stages: list[str] = []

    def handle(batch_df, batch_id: int) -> None:
        name = f"stream_turns_b{batch_id}"
        kgio.write_stage(
            batch_df,
            stage_root,
            name,
            fp=kgio.fingerprint("stream_turns", str(batch_id), src_dir),
            deps=["transcript_stream"],
            started_at=time.time(),
        )
        stages.append(name)

    q = (
        turns.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return stages


def run_ingest_once(
    spark: SparkSession, src_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Bounded replay (availableNow) of the stream into a memory sink;
    returns the windowed aggregate as a DataFrame (the memory-sink table —
    nothing is driver-materialized; callers decide whether to collect).

    ``append`` output mode is what makes the watermark contract real: a
    window row is emitted exactly once, when the watermark passes its end
    (finalized — late turns past the horizon can no longer change it), and
    its aggregation state is then evicted. Windows still within the
    watermark horizon at end-of-replay stay in state for the next run —
    ``complete`` mode would re-emit everything and never drop late data."""
    stream = read_transcript_stream(spark, src_dir)
    agg = mention_rate(deduped_turns(stream))
    q = (
        agg.writeStream.format("memory")
        .queryName("mention_rate")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql("SELECT * FROM mention_rate")

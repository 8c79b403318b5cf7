"""Incremental KG maintenance over date-partitioned fact tables.

At 10^12 turns the transcripts table is append-only and lands one ingest
date at a time (``io.write_partitioned``). Re-deriving entity statistics
from scratch every day means re-reading 100 TB for a <0.1 TB delta; the
incremental path instead:

1. reads ONLY the new ``dt=`` partition (directory pruning — the scan
   never opens prior days' files; asserted via PartitionFilters in
   ``tests/test_incremental.py``), typed by the table's ``_schema.json``
   record (``io.read_partitioned``), so a day starts no schema-inference
   job over the whole table,
2. links just that day's turns into triples,
3. folds the day's non-NIL link rows into a persistent state table.

The state is kept at ``(obj, conv_id)`` granularity — the finest key any
downstream statistic needs — so every statistic derived from it is a pure
re-aggregation and the fold is associative: ``merge(merge(s, d1), d2) ==
merge(s, d1 ∪ d2)``. COUNT DISTINCT conv_id (not distributive on its own)
becomes a plain COUNT over the state key. The state table is entity-sized
(vertex-table scale), not turn-sized. A day's link rows enter the fold as
state rows (``n_links = 1``), so the day shuffles once, on the state key:
Spark's partial aggregation above the union combines them map-side, and the
exchange carries about |day partials| + |state| rows. A day runs three Spark
jobs: the KB broadcast, that shuffle and the write.

State snapshots are versioned directories (``snap=N``): parquet cannot
overwrite a path that is an input of the same job, and versioning gives
atomic publish + time travel (the poor man's Iceberg snapshot; with an
Iceberg catalog configured this becomes ``MERGE INTO``). Only committed
snapshots (those holding the ``_SUCCESS`` marker) are served: a fold killed
mid-write leaves a ``snap=N`` with no marker, which :func:`read_state`
skips and :func:`merge_state` numbers past. Snapshots are listed through
the session's Hadoop ``FileSystem``, so a state path may be a URI
(``file://``, ``hdfs://``, ``s3a://``).

The reference has no incremental path — it recomputes every TSV from
scratch per run (`deep-ed-pytorch/run_all.sh:22-36`); this module is the
scale-mandated replacement for that rebuild-the-world loop.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_twitter_spark.io import _glob, read_partitioned
from ed_twitter_spark.session import arrow_frame

_STATE_SCHEMA = (
    "obj string, conv_id string, n_links bigint, score_sum double"
)
_STATE_COLUMNS = ("obj", "conv_id", "n_links", "score_sum")


def day_turns(spark: SparkSession, turns_path: str, dt: str) -> DataFrame:
    """The day's slice of the partitioned fact table.

    The ``dt`` equality lands in the FileScan's PartitionFilters — whole
    non-matching day directories are skipped at planning time. The read is
    typed by the table's schema record when ``io.write_partitioned`` wrote
    one, else inferred.
    """
    return read_partitioned(spark, turns_path).where(F.col("dt") == dt)


def day_partials(triples_df: DataFrame) -> DataFrame:
    """(obj, conv_id, n_links, score_sum) partial aggregates of triples.

    One map-side-combined aggregation; output is bounded by (entities ×
    conversations touched). This is the one-shot and serving path
    (``entity_stats`` over a whole table or a built KG's edges);
    ``ingest_day`` folds link rows into the state directly instead.
    """
    return (
        triples_df.where(F.col("obj") != "NIL")
        .groupBy("obj", "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum("score").alias("score_sum"),
        )
    )


def day_links(triples_df: DataFrame) -> DataFrame:
    """The non-NIL triples as state rows: (obj, conv_id, n_links = 1,
    score_sum = score), not aggregated."""
    return triples_df.where(F.col("obj") != "NIL").select(
        "obj",
        "conv_id",
        F.lit(1).cast("bigint").alias("n_links"),
        F.col("score").cast("double").alias("score_sum"),
    )


def _snap_dirs(spark: SparkSession, state_path: str, committed: bool = False) -> list[int]:
    """Sorted versions of the ``snap=N`` directories under ``state_path``,
    listed through Hadoop; with ``committed``, only those holding a
    ``_SUCCESS`` marker."""
    marker = "/_SUCCESS" if committed else ""
    _, paths = _glob(spark, f"{state_path}/snap=*{marker}")
    out = []
    for path in paths:
        m = re.search(rf"/snap=(\d+){marker}$", path)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest committed state snapshot, read typed (no schema-inference
    job), or an empty state built JVM-side if none is committed yet."""
    snaps = _snap_dirs(spark, state_path, committed=True)
    if not snaps:
        return arrow_frame(spark, dict.fromkeys(_STATE_COLUMNS, []), _STATE_SCHEMA)
    return spark.read.schema(_STATE_SCHEMA).parquet(f"{state_path}/snap={snaps[-1]}")


def fold_state(spark: SparkSession, state_path: str, rows: DataFrame) -> DataFrame:
    """The latest committed state with ``rows`` folded in: union +
    re-aggregate on the state key, one shuffle."""
    return (
        read_state(spark, state_path)
        .unionByName(rows)
        .groupBy("obj", "conv_id")
        .agg(
            F.sum("n_links").alias("n_links"),
            F.sum("score_sum").alias("score_sum"),
        )
    )


def merge_state(spark: SparkSession, state_path: str, rows: DataFrame) -> int:
    """Fold ``rows`` into the state; returns the new version.

    ``rows`` are in the state schema: ``day_partials`` output or
    ``day_links``' unaggregated link rows. Union + re-aggregate on the state
    key: conversations spanning ingest days merge their per-day counts
    here, which is what keeps the fold order-insensitive. The write goes to
    a NEW ``snap=N`` directory, numbered past every existing one, committed
    or not — the served snapshot stays readable until the write completes
    (atomic publish, no read-write cycle on one path).
    """
    snaps = _snap_dirs(spark, state_path)
    version = (snaps[-1] if snaps else 0) + 1
    fold_state(spark, state_path, rows).write.mode("errorifexists").parquet(
        f"{state_path}/snap={version}"
    )
    return version


def entity_stats(state_df: DataFrame) -> DataFrame:
    """(obj, n_links, n_convs, score_sum) — the serving-layer statistic.

    Pure re-aggregation of the state: COUNT(*) over the (obj, conv_id)
    key IS the distinct-conversation count.
    """
    return state_df.groupBy("obj").agg(
        F.sum("n_links").alias("n_links"),
        F.count(F.lit(1)).alias("n_convs"),
        F.round(F.sum("score_sum"), 6).alias("score_sum"),
    )


def ingest_day(
    spark: SparkSession,
    turns_path: str,
    state_path: str,
    dt: str,
    kb_df: DataFrame,
) -> int:
    """One daily increment: typed prune-read → link → fold, one shuffle.
    Returns the version."""
    from ed_twitter_spark.operators.candidates import (
        gen_candidates,
        link_prior_argmax,
    )
    from ed_twitter_spark.operators.mentions import detect_mentions

    turns = day_turns(spark, turns_path, dt)
    triples = link_prior_argmax(gen_candidates(detect_mentions(turns), kb_df))
    return merge_state(spark, state_path, day_links(triples))

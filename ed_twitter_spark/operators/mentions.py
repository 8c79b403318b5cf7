"""Mention detection + context windows over transcripts.

Turn-local contexts follow the reference's tweets variant, which splits the
whole tweet around the mention into left/right context strings
(`deep-ed-pytorch/data_gen/gen_test_train_data/gen_from_tweets.py:156-168`);
a turn plays the role of a tweet. The ±100-token *conversation-level* window
(`gen_aida_train.py:113-127`) is built by `linker.build_mention_windows`,
whose token streams cross turn boundaries; it takes each turn's tokens and
mention positions from :func:`mention_positions`.

This is the one module that turns a token array (`hashing.toks_col`) into
mention rows (:func:`mention_rows`) or mention positions
(:func:`mention_positions`); the mention test itself is `synth.is_mention`.
Everything here is pure DataFrame algebra — posexplode + slice — so Catalyst
prunes columns and pushes the length filter into the scan; no Python runs
per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col
from ed_twitter_spark.synth import TRANSCRIPTS_SQL, is_mention, is_mention_sql


def mention_rows(df: DataFrame, toks: str | Column, *keep: str) -> DataFrame:
    """One row per mention token of the token array ``toks``: the ``keep``
    columns, the token's 0-based position ``mention_idx`` and the token
    ``mention``."""
    return df.select(*keep, F.posexplode(toks).alias("mention_idx", "mention")).where(
        is_mention(F.col("mention"))
    )


def mention_positions(toks: str | Column) -> Column:
    """The 0-based positions of the mention tokens in ``toks``, ascending."""
    return F.filter(
        F.transform(toks, lambda t, i: F.when(is_mention(t), i)),
        lambda i: i.isNotNull(),
    )


def detect_mentions(transcripts_df: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, mention_idx, mention, lctx, rctx, doc_id).

    mention_idx is the 0-based token position within the turn (counting all
    tokens, like the reference's word offsets).
    """
    toks = transcripts_df.select(
        "conv_id", "turn_idx", "doc_id", toks_col().alias("toks")
    )
    exploded = mention_rows(toks, "toks", "conv_id", "turn_idx", "doc_id", "toks")
    return exploded.select(
        "conv_id",
        "turn_idx",
        F.col("mention_idx").cast("int").alias("mention_idx"),
        "mention",
        F.array_join(F.slice("toks", 1, F.col("mention_idx")), " ").alias("lctx"),
        F.array_join(
            F.slice(
                "toks",
                F.col("mention_idx") + 2,
                F.size("toks") - F.col("mention_idx") - 1,
            ),
            " ",
        ).alias("rctx"),
        "doc_id",
    )


MENTIONS_SQL_TEMPLATE = """
WITH transcripts AS ({transcripts_sql}),
tk AS (
  SELECT conv_id, turn_idx, doc_id,
         {toks} AS toks
  FROM transcripts
),
m AS (
  SELECT conv_id, turn_idx, doc_id, toks,
         unnest(toks) AS mention,
         CAST(unnest(range(len(toks))) AS INTEGER) AS mention_idx
  FROM tk
)
SELECT conv_id, turn_idx, mention_idx, mention,
       COALESCE(array_to_string(list_slice(toks, 1, mention_idx), ' '), '')             AS lctx,
       COALESCE(array_to_string(list_slice(toks, mention_idx + 2, len(toks)), ' '), '') AS rctx,
       doc_id
FROM m
WHERE {is_mention}
"""


def mentions_sql() -> str:
    return MENTIONS_SQL_TEMPLATE.format(
        transcripts_sql=TRANSCRIPTS_SQL,
        toks=TOKS_SQL,
        is_mention=is_mention_sql("mention"),
    )

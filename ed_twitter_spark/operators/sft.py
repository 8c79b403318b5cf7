"""SFT-pair extraction and chat-template rendering over transcripts.

Neither exists in the reference (it links mentions and stops); both are
the first post-KG consumers a training-data pipeline bolts onto the
transcript table (input_hint schema: conv_id, turn_idx, role, text,
tool, ts):

* ``sft_pairs`` — (prompt, response) supervised-fine-tuning pairs: each
  ``user`` turn paired with the NEXT ``assistant`` turn in the same
  conversation (tool turns in between are skipped, exactly how agent
  traces are mined for SFT). One window pass computes the answer turn
  index; one self-join on (conv_id, turn_idx) attaches the response
  text. Both sides hash-partition on conv_id, so the join reuses the
  window's shuffle — at 10^12 turns this is one Exchange total.
* ``chat_render`` — per-conversation chat-template rendering truncated
  to the LAST ``RENDER_LAST_TURNS`` turns ("role: text" lines joined by
  newline) — the context-assembly step that turns a transcript table
  into model-ready training strings. Implemented as one bounded
  aggregation per conversation: row_number from the conversation tail
  caps the collected rows, so a viral million-turn conversation
  contributes at most RENDER_LAST_TURNS rows to the groupBy — the
  aggregation state is O(K), never O(conversation).

Cross-engine exactness: outputs are strings, ints and exact counts —
no floats anywhere, so the DuckDB twins hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import toks_col, toks_sql

RENDER_LAST_TURNS = 8


def sft_pairs_df(t: DataFrame) -> DataFrame:
    """(conv_id, prompt_turn_idx, prompt, response_turn_idx, response,
    prompt_tokens, response_tokens) — one row per user turn that has a
    later assistant turn in its conversation."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ans_idx = F.min(
        F.when(F.col("role") == "assistant", F.col("turn_idx"))
    ).over(w)
    prompts = (
        t.withColumn("response_turn_idx", ans_idx)
        .where((F.col("role") == "user") & F.col("response_turn_idx").isNotNull())
        .select(
            "conv_id",
            F.col("turn_idx").alias("prompt_turn_idx"),
            F.col("text").alias("prompt"),
            "response_turn_idx",
        )
    )
    answers = t.select(
        "conv_id",
        F.col("turn_idx").alias("response_turn_idx"),
        F.col("text").alias("response"),
    )
    return (
        prompts.join(answers, on=["conv_id", "response_turn_idx"])
        .select(
            "conv_id",
            "prompt_turn_idx",
            "prompt",
            "response_turn_idx",
            "response",
            F.size(toks_col("prompt")).cast("long").alias("prompt_tokens"),
            F.size(toks_col("response")).cast("long").alias("response_tokens"),
        )
    )


def sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sft_pairs_df(synth.transcripts(spark, sf_dir))


SFT_PAIRS_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL}),
nxt AS (
  SELECT conv_id, turn_idx, role, text,
         MIN(CASE WHEN role = 'assistant' THEN turn_idx END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS response_turn_idx
  FROM t
)
SELECT u.conv_id,
       u.turn_idx                                    AS prompt_turn_idx,
       u.text                                        AS prompt,
       u.response_turn_idx,
       a.text                                        AS response,
       CAST(len({toks_sql('u.text')}) AS BIGINT) AS prompt_tokens,
       CAST(len({toks_sql('a.text')}) AS BIGINT) AS response_tokens
FROM nxt u
JOIN t a ON a.conv_id = u.conv_id AND a.turn_idx = u.response_turn_idx
WHERE u.role = 'user' AND u.response_turn_idx IS NOT NULL
"""


def chat_render_df(t: DataFrame, last_turns: int = RENDER_LAST_TURNS) -> DataFrame:
    """(conv_id, n_turns_total, n_turns_rendered, rendered, render_chars)
    — the last ``last_turns`` turns rendered as "role: text" lines.

    row_number DESC bounds the per-conversation aggregation state before
    the groupBy; sort_array on (turn_idx, line) restores turn order
    inside each group without a second shuffle (same conv_id hash
    partitioning carries from the window into the aggregation)."""
    w_desc = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
    w_all = Window.partitionBy("conv_id")
    kept = (
        t.withColumn("rn_from_end", F.row_number().over(w_desc))
        .withColumn("n_turns_total", F.count(F.lit(1)).over(w_all))
        .where(F.col("rn_from_end") <= last_turns)
    )
    line = F.concat_ws(": ", "role", "text")
    return (
        kept.groupBy("conv_id", "n_turns_total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns_rendered"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct(F.col("turn_idx"), line.alias("line")))),
                    lambda s: s.line,
                ),
                "\n",
            ).alias("rendered"),
        )
        .select(
            "conv_id",
            F.col("n_turns_total").cast("long").alias("n_turns_total"),
            "n_turns_rendered",
            "rendered",
            F.length("rendered").cast("long").alias("render_chars"),
        )
    )


def chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chat_render_df(synth.transcripts(spark, sf_dir))


CHAT_RENDER_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL}),
k AS (
  SELECT conv_id, turn_idx, role || ': ' || text AS line,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC)
           AS rn_from_end,
         COUNT(*) OVER (PARTITION BY conv_id) AS n_turns_total
  FROM t
)
SELECT conv_id,
       CAST(n_turns_total AS BIGINT)            AS n_turns_total,
       CAST(COUNT(*) AS BIGINT)                 AS n_turns_rendered,
       string_agg(line, chr(10) ORDER BY turn_idx) AS rendered,
       CAST(length(string_agg(line, chr(10) ORDER BY turn_idx)) AS BIGINT)
         AS render_chars
FROM k
WHERE rn_from_end <= {RENDER_LAST_TURNS}
GROUP BY conv_id, n_turns_total
"""


# ---------------------------------------------------------------------------
# preference-pair mining and tool-grounding analysis
# ---------------------------------------------------------------------------

PREF_PREFIX_TOKENS = 2


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO-style candidate preference pairs: SFT pairs whose prompts share
    a PREF_PREFIX_TOKENS-token prefix (the blocking key for "same
    instruction, different completion" mining) paired chosen-vs-rejected
    by a deterministic quality proxy (longer response wins; conv/turn id
    break ties so both engines emit identical pairs).

    One pair per block (rn 1 beside rn 2), so output is bounded by the
    number of blocks regardless of block size — a head instruction
    repeated 10^6 times across a crawl yields ONE row, not C(10^6, 2).
    Emits (block_key, chosen_*, rejected_*) with the proxy scores kept so
    a downstream reward model can re-rank."""
    p = sft_pairs_df(synth.transcripts(spark, sf_dir))
    key = F.array_join(
        F.slice(toks_col("prompt"), 1, PREF_PREFIX_TOKENS), " "
    )
    w = Window.partitionBy("block_key").orderBy(
        F.col("response_tokens").desc(),
        F.col("conv_id"),
        F.col("prompt_turn_idx"),
    )
    ranked = p.withColumn("block_key", key).withColumn(
        "rn", F.row_number().over(w)
    )
    top = ranked.where(F.col("rn") == 1).select(
        "block_key",
        F.col("conv_id").alias("chosen_conv"),
        F.col("prompt").alias("chosen_prompt"),
        F.col("response").alias("chosen_response"),
        F.col("response_tokens").alias("chosen_tokens"),
    )
    runner = ranked.where(F.col("rn") == 2).select(
        "block_key",
        F.col("conv_id").alias("rejected_conv"),
        F.col("response").alias("rejected_response"),
        F.col("response_tokens").alias("rejected_tokens"),
    )
    return top.join(runner, on="block_key")


PREFERENCE_PAIRS_SQL = f"""
WITH p AS ({SFT_PAIRS_SQL}),
ranked AS (
  SELECT p.*,
         array_to_string({toks_sql('prompt')}[1:{PREF_PREFIX_TOKENS}], ' ')
           AS block_key,
         ROW_NUMBER() OVER (
           PARTITION BY array_to_string({toks_sql('prompt')}[1:{PREF_PREFIX_TOKENS}], ' ')
           ORDER BY response_tokens DESC, conv_id, prompt_turn_idx
         ) AS rn
  FROM p
)
SELECT a.block_key,
       a.conv_id          AS chosen_conv,
       a.prompt           AS chosen_prompt,
       a.response         AS chosen_response,
       a.response_tokens  AS chosen_tokens,
       b.conv_id          AS rejected_conv,
       b.response         AS rejected_response,
       b.response_tokens  AS rejected_tokens
FROM ranked a
JOIN ranked b ON b.block_key = a.block_key AND b.rn = 2
WHERE a.rn = 1
"""


def tool_grounding_df(t: DataFrame) -> DataFrame:
    """(conv_id, tool_turn_idx, answer_turn_idx, n_tool_tokens,
    n_answer_tokens, n_shared_tokens, grounding_ratio) — for each tool
    turn, how much of the NEXT assistant turn's vocabulary appears in the
    tool output: the per-call grounding signal agent-quality filters cut
    on (an assistant turn that shares nothing with the tool result it
    follows is either ignoring the tool or hallucinating past it).

    Same single-window + conv-partitioned-join shape as ``sft_pairs``;
    the token-set intersection is exact distinct-token counting via
    higher-order array functions on both engines (no explode, no
    shuffle beyond the one join)."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ans_idx = F.min(
        F.when(F.col("role") == "assistant", F.col("turn_idx"))
    ).over(w)
    tools = (
        t.withColumn("answer_turn_idx", ans_idx)
        .where((F.col("role") == "tool") & F.col("answer_turn_idx").isNotNull())
        .select(
            "conv_id",
            F.col("turn_idx").alias("tool_turn_idx"),
            F.array_distinct(toks_col()).alias("tool_toks"),
            "answer_turn_idx",
        )
    )
    answers = t.select(
        "conv_id",
        F.col("turn_idx").alias("answer_turn_idx"),
        F.array_distinct(toks_col()).alias("ans_toks"),
    )
    shared = F.size(
        F.filter("ans_toks", lambda x: F.array_contains("tool_toks", x))
    )
    return (
        tools.join(answers, on=["conv_id", "answer_turn_idx"])
        .select(
            "conv_id",
            "tool_turn_idx",
            "answer_turn_idx",
            F.size("tool_toks").cast("long").alias("n_tool_tokens"),
            F.size("ans_toks").cast("long").alias("n_answer_tokens"),
            shared.cast("long").alias("n_shared_tokens"),
            F.round(shared / F.size("ans_toks"), 6).alias("grounding_ratio"),
        )
    )


def tool_grounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tool_grounding_df(synth.transcripts(spark, sf_dir))


TOOL_GROUNDING_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL}),
nxt AS (
  SELECT conv_id, turn_idx, role, text,
         MIN(CASE WHEN role = 'assistant' THEN turn_idx END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS answer_turn_idx
  FROM t
),
j AS (
  SELECT g.conv_id, g.turn_idx AS tool_turn_idx, g.answer_turn_idx,
         list_distinct({toks_sql('g.text')}) AS tool_toks,
         list_distinct({toks_sql('a.text')}) AS ans_toks
  FROM nxt g
  JOIN t a ON a.conv_id = g.conv_id AND a.turn_idx = g.answer_turn_idx
  WHERE g.role = 'tool' AND g.answer_turn_idx IS NOT NULL
)
SELECT conv_id, tool_turn_idx, answer_turn_idx,
       CAST(len(tool_toks) AS BIGINT) AS n_tool_tokens,
       CAST(len(ans_toks) AS BIGINT)  AS n_answer_tokens,
       CAST(len(list_filter(ans_toks, x -> list_contains(tool_toks, x))) AS BIGINT)
         AS n_shared_tokens,
       ROUND(len(list_filter(ans_toks, x -> list_contains(tool_toks, x)))
             / CAST(len(ans_toks) AS DOUBLE), 6) AS grounding_ratio
FROM j
"""


# ---------------------------------------------------------------------------
# the composed SFT dataset build — extraction→quality→dedup→split as ONE query
# ---------------------------------------------------------------------------

SFT_MIN_PROMPT_TOKENS = 3
SFT_MIN_RESPONSE_TOKENS = 3
SFT_TRAIN_PCT = 80  # md5-bucket split, same convention as dataset_split


def sft_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end SFT dataset build as ONE composed query (the
    transcript-side twin of ``corpus_pipeline``): mine pairs → quality
    floor (min prompt/response tokens) → exact dedup on (prompt,
    response) keeping the earliest occurrence → deterministic md5-bucket
    train/val split. One oracle pins the stage ORDER, not just each
    stage: a pair deduped away must never reach the split.

    Scale shape: the dedup groupBy keys on the pair text (same shuffle
    budget as dedup_exact); the split is a pure map (md5 of the prompt),
    so the composition adds exactly ONE Exchange beyond sft_pairs."""
    p = sft_pairs_df(synth.transcripts(spark, sf_dir)).where(
        (F.col("prompt_tokens") >= SFT_MIN_PROMPT_TOKENS)
        & (F.col("response_tokens") >= SFT_MIN_RESPONSE_TOKENS)
    )
    w = Window.partitionBy("prompt", "response").orderBy(
        "conv_id", "prompt_turn_idx"
    )
    deduped = (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("prompt")), 1, 8), 16, 10).cast("long")
        % 100
    )
    return deduped.select(
        "conv_id",
        "prompt_turn_idx",
        "prompt",
        "response",
        "prompt_tokens",
        "response_tokens",
        F.when(bucket < SFT_TRAIN_PCT, "train").otherwise("val").alias("split"),
    )


SFT_PIPELINE_SQL = f"""
WITH pairs AS ({SFT_PAIRS_SQL}),
q AS (
  SELECT * FROM pairs
  WHERE prompt_tokens >= {SFT_MIN_PROMPT_TOKENS}
    AND response_tokens >= {SFT_MIN_RESPONSE_TOKENS}
),
d AS (
  SELECT * FROM (
    SELECT q.*,
           ROW_NUMBER() OVER (PARTITION BY prompt, response
                              ORDER BY conv_id, prompt_turn_idx) AS rn
    FROM q
  ) WHERE rn = 1
)
SELECT conv_id, prompt_turn_idx, prompt, response,
       prompt_tokens, response_tokens,
       CASE WHEN CAST(('0x' || substr(md5(prompt), 1, 8)) AS BIGINT) % 100
                 < {SFT_TRAIN_PCT}
            THEN 'train' ELSE 'val' END AS split
FROM d
"""

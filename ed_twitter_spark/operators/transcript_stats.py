"""Transcript-table analytics over the input_hint columns (role, tool, ts).

The BASELINE.json input is a conversation/agent-transcript table
``(conv_id, turn_idx, role, text, tool, ts)``; these are the operational
queries a transcript pipeline runs beside the KG extraction — per-
conversation shape/duration stats, tool-usage rollups, and the
conversation-flow role-transition matrix.

Scale shape: every query is one shuffle on its group key; the
per-conversation window (gaps, next-role) and the groupBy share the
conv_id partitioning, the same single-exchange pattern as
``event_sessions``. Timestamps are compared cross-engine in integer
microseconds (Spark ``unix_micros`` after a timestamp cast ≡ DuckDB
``epoch_us``) so no float or timezone drift can flip a value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col, toks_sql


def conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation_stats_df(synth.transcripts(spark, sf_dir))


def conversation_stats_df(t: DataFrame) -> DataFrame:
    """Core operator over any transcripts-shaped frame. Over a materialized
    table the whole query is a single conv_id exchange (the gap window and
    the aggregate share it — plan-audited in tests/test_plans.py); the
    synthetic registry wrapper adds one more for the conv derivation."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    g = (
        t.withColumn("us", us)
        .withColumn("gap_us", F.col("us") - F.lag("us").over(w))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("role") == "user").cast("int")).alias("n_user"),
            F.sum((F.col("role") == "assistant").cast("int")).alias("n_assistant"),
            F.sum(F.col("tool").isNotNull().cast("int")).alias("n_tool_calls"),
            F.sum(F.length("text")).alias("total_chars"),
            ((F.max("us") - F.min("us")) / 1_000_000.0).alias("duration_s"),
            F.round(F.avg("gap_us") / 1_000_000.0, 6).alias("mean_gap_s"),
        )
    )
    return g.select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool_calls",
        "total_chars",
        F.round("duration_s", 6).alias("duration_s"),
        "mean_gap_s",
    )


CONVERSATION_STATS_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL}),
g AS (
  SELECT conv_id, turn_idx, role, tool, text,
         epoch_us(ts) AS us,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS gap_us
  FROM t
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       ROUND((MAX(us) - MIN(us)) / 1000000.0, 6) AS duration_s,
       ROUND(AVG(gap_us) / 1000000.0, 6) AS mean_gap_s
FROM g GROUP BY conv_id
"""


def tool_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = synth.transcripts(spark, sf_dir)
    return (
        t.where(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.round(F.avg(F.length("text")), 6).alias("avg_text_len"),
            F.unix_micros(F.min(F.col("ts").cast("timestamp"))).alias("first_us"),
            F.unix_micros(F.max(F.col("ts").cast("timestamp"))).alias("last_us"),
        )
    )


TOOL_USAGE_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL})
SELECT tool,
       CAST(COUNT(*) AS BIGINT) AS n_calls,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
       ROUND(AVG(length(text)), 6) AS avg_text_len,
       epoch_us(MIN(ts)) AS first_us,
       epoch_us(MAX(ts)) AS last_us
FROM t WHERE tool IS NOT NULL GROUP BY tool
"""


def role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-flow bigram: (role, next_role) frequencies across every
    adjacent turn pair, turn order per conversation."""
    t = synth.transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = t.withColumn("next_role", F.lead("role").over(w)).where(
        F.col("next_role").isNotNull()
    )
    return pairs.groupBy("role", "next_role").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


ROLE_TRANSITIONS_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL}),
p AS (
  SELECT conv_id, role,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
  FROM t
)
SELECT role, next_role,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM p WHERE next_role IS NOT NULL
GROUP BY role, next_role
"""


def turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(role, next_role, n, avg_latency_us, max_latency_us) — response
    latency per adjacent role transition (the time-to-respond profile an
    agent-serving team watches). Integer-microsecond arithmetic end to
    end, so the cross-engine averages are exact after one ROUND."""
    t = synth.transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pairs = (
        t.select("conv_id", "turn_idx", "role", us.alias("us"))
        .withColumn("next_role", F.lead("role").over(w))
        .withColumn("lat", F.lead("us").over(w) - F.col("us"))
        .where(F.col("next_role").isNotNull())
    )
    return pairs.groupBy("role", "next_role").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("lat"), 4).alias("avg_latency_us"),
        F.max("lat").cast("long").alias("max_latency_us"),
    )


TURN_LATENCY_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL}),
p AS (
  SELECT conv_id, role,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role,
         LEAD(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           - epoch_us(ts) AS lat
  FROM t
)
SELECT role, next_role,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(lat), 4)       AS avg_latency_us,
       CAST(MAX(lat) AS BIGINT) AS max_latency_us
FROM p WHERE next_role IS NOT NULL
GROUP BY role, next_role
"""


# ---------------------------------------------------------------------------
# context-budget truncation point — how much conversation tail fits
# ---------------------------------------------------------------------------

CONTEXT_BUDGET_TOKENS = 512


def conv_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_context_budget_df(synth.transcripts(spark, sf_dir))


def conv_context_budget_df(t: DataFrame) -> DataFrame:
    """(conv_id, n_turns, total_tokens, fit_turns, fit_tokens, truncated)
    — per conversation, the largest SUFFIX of turns whose whitespace-token
    sum fits CONTEXT_BUDGET_TOKENS: the context-window truncation point
    every chat-template renderer needs ("how many recent turns can this
    model see"), computed corpus-wide so the training pipeline can size
    RENDER_LAST_TURNS / packing bins from data instead of guesswork.

    One window pass: a reverse (turn_idx DESC) running token sum per
    conversation, then one aggregation counting the rows under budget —
    both share the single conv_id exchange, the same plan shape as
    ``conversation_stats``. A turn longer than the whole budget yields
    fit_turns = 0 for that conversation's tail, never a partial turn.
    """
    ntok = F.size(toks_col())
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = (
        t.withColumn("ntok", ntok)
        .withColumn("rsum", F.sum("ntok").over(w))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
            F.sum(
                (F.col("rsum") <= CONTEXT_BUDGET_TOKENS).cast("int")
            ).cast("bigint").alias("fit_turns"),
            F.max(
                F.when(
                    F.col("rsum") <= CONTEXT_BUDGET_TOKENS, F.col("rsum")
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("fit_tokens"),
        )
    )
    return g.select(
        "conv_id",
        "n_turns",
        "total_tokens",
        "fit_turns",
        "fit_tokens",
        (F.col("fit_turns") < F.col("n_turns")).alias("truncated"),
    )


CONV_CONTEXT_BUDGET_SQL = f"""
WITH t AS ({synth.TRANSCRIPTS_SQL}),
g AS (
  SELECT conv_id,
         len({TOKS_SQL}) AS ntok,
         SUM(len({TOKS_SQL})) OVER (
           PARTITION BY conv_id ORDER BY turn_idx DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rsum
  FROM t
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN rsum <= {CONTEXT_BUDGET_TOKENS} THEN 1 ELSE 0 END) AS BIGINT)
         AS fit_turns,
       CAST(MAX(CASE WHEN rsum <= {CONTEXT_BUDGET_TOKENS} THEN rsum ELSE 0 END) AS BIGINT)
         AS fit_tokens,
       SUM(CASE WHEN rsum <= {CONTEXT_BUDGET_TOKENS} THEN 1 ELSE 0 END) < COUNT(*)
         AS truncated
FROM g GROUP BY conv_id
"""


# ---------------------------------------------------------------------------
# agent retry-loop profile — runs of identical consecutive turns
# ---------------------------------------------------------------------------
#
# Failed tool calls and stuck agents leave a characteristic scar in
# transcripts: the same (role, text) turn repeated back-to-back while
# the loop spins. Those conversations are poison for SFT (the model
# learns to repeat itself) and noise for the KG (the same mentions
# re-asserted per spin), so the standard hygiene pass drops or
# truncates them. A "repeat" here is an exact match on the normalized
# turn fingerprint md5(role # lower(trim(text))) — near-duplicate
# variants belong to the shingle machinery (conv_dedup); the loop
# signature in practice is verbatim retry.
#
# Emitted as a PROFILE over every conversation (a healthy corpus — like
# the synthetic fixture — reports n_runs = n_turns, max_run = 1,
# looping = false everywhere; the gate then certifies the run
# arithmetic on real data, while the loop branch is pinned by hand
# fixtures in tests). One conv-partitioned lag/cumsum islands pass (the
# bio_span_merge pattern) + one (conv, run) aggregation + one per-conv
# rollup — every stage keyed by conv_id, the transcript table's own
# clustering; nothing sees more than the turn stream once.

LOOP_MIN_RUN = 3


def loop_profile(transcripts: DataFrame) -> DataFrame:
    """(conv_id, n_turns, n_runs, max_run, run_role, run_start,
    loop_turns, looping) — per conversation: distinct consecutive-turn
    runs, the longest run (role + starting turn_idx; equal lengths
    resolve to the earliest start, a total order), the turns inside
    runs ≥ LOOP_MIN_RUN (the truncation budget a cleaner would
    reclaim), and the ≥-threshold flag."""
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.md5(
            F.concat_ws("#", F.col("role"), F.lower(F.trim(F.col("text"))))
        ).alias("fp"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = t.withColumn(
        "new_run",
        F.coalesce((F.lag("fp").over(w) != F.col("fp")).cast("int"), F.lit(1)),
    ).withColumn(
        "run_id",
        F.sum("new_run").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = t.groupBy("conv_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("turn_idx").alias("run_start"),
        F.min("role").alias("role"),
    )
    rw = Window.partitionBy("conv_id").orderBy(
        F.desc("run_len"), F.asc("run_start")
    )
    ranked = runs.withColumn("rn", F.row_number().over(rw))
    return ranked.groupBy("conv_id").agg(
        F.sum("run_len").cast("long").alias("n_turns"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max(F.when(F.col("rn") == 1, F.col("run_len")))
        .cast("long")
        .alias("max_run"),
        F.max(F.when(F.col("rn") == 1, F.col("role"))).alias("run_role"),
        F.max(F.when(F.col("rn") == 1, F.col("run_start")))
        .cast("int")
        .alias("run_start"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("run_len") >= LOOP_MIN_RUN, F.col("run_len")
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("loop_turns"),
        F.max(
            (F.when(F.col("rn") == 1, F.col("run_len")) >= LOOP_MIN_RUN)
        ).alias("looping"),
    )


def conv_loop_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the loop profile of the corpus transcripts."""
    return loop_profile(synth.transcripts(spark, sf_dir))


def conv_loop_detect_oracle_sql() -> str:
    return f"""
WITH tr AS ({synth.TRANSCRIPTS_SQL}),
t AS (
  SELECT conv_id, turn_idx, role,
         md5(role || '#' || lower(trim(text))) AS fp
  FROM tr
),
marked AS (
  SELECT conv_id, turn_idx, role, fp,
         CASE WHEN LAG(fp) OVER (PARTITION BY conv_id ORDER BY turn_idx) = fp
              THEN 0 ELSE 1 END AS new_run
  FROM t
),
runs0 AS (
  SELECT conv_id, turn_idx, role,
         SUM(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
),
runs AS (
  SELECT conv_id, run_id, COUNT(*) AS run_len,
         MIN(turn_idx) AS run_start, MIN(role) AS role
  FROM runs0 GROUP BY conv_id, run_id
),
ranked AS (
  SELECT conv_id, run_len, run_start, role,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY run_len DESC, run_start ASC) AS rn
  FROM runs
)
SELECT conv_id,
       CAST(SUM(run_len) AS BIGINT)  AS n_turns,
       CAST(COUNT(*) AS BIGINT)      AS n_runs,
       CAST(MAX(CASE WHEN rn = 1 THEN run_len END) AS BIGINT)   AS max_run,
       MAX(CASE WHEN rn = 1 THEN role END)                      AS run_role,
       CAST(MAX(CASE WHEN rn = 1 THEN run_start END) AS INTEGER) AS run_start,
       CAST(SUM(CASE WHEN run_len >= {LOOP_MIN_RUN} THEN run_len ELSE 0 END)
            AS BIGINT)               AS loop_turns,
       MAX(CASE WHEN rn = 1 THEN run_len END) >= {LOOP_MIN_RUN} AS looping
FROM ranked
GROUP BY conv_id
"""


# ---------------------------------------------------------------------------
# assistant echo profile — extractive parroting of the previous user turn
# ---------------------------------------------------------------------------
#
# The complement of the retry-loop scar above: an assistant turn that
# recycles the USER's phrasing wholesale (quote-back summaries, sycophant
# echo, RAG copy-through) trains imitators that parrot instead of answer,
# so SFT curation scores each response's n-gram precision against its
# prompt and drops or downweights the verbatim tail. The measure here is
# ROUGE-2 precision in its set form: |distinct word bigrams shared with
# the preceding user turn| / |distinct word bigrams of the assistant
# turn| — bigrams rather than unigrams so shared topic words don't read
# as parroting, distinct so a repeated phrase can't saturate the score.

ECHO_MIN_BIGRAMS = 3


def echo_profile(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, n_bigrams, n_shared, echo) — one row per
    assistant turn whose IMMEDIATELY preceding turn (by turn_idx) is a
    user turn and that has ≥ ECHO_MIN_BIGRAMS distinct bigrams; echo is
    the shared-bigram fraction, 6 dp.

    Plan shape: ONE conv_id-partitioned lag window (the transcript
    table's own clustering key — the same single exchange every
    turn-stream operator here pays) followed by per-row JVM array
    algebra (split → transform → array_distinct → filter/contains);
    no joins, no explode, no Python. The bigram arrays live only inside
    the projection, so nothing turn-pair-sized is ever shuffled."""

    def bigrams(col: str):
        # adjacent-pair zip of the token array with its own 1-shift —
        # bigram i = toks[i] + ' ' + toks[i+1], no explode
        toks = toks_col(F.lower(F.trim(F.col(col))))
        n = F.greatest(F.size(toks) - 1, F.lit(0))
        return F.array_distinct(
            F.zip_with(
                F.slice(toks, 1, n),
                F.slice(toks, 2, n),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        )

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("text"),
        F.lag("text").over(w).alias("prev_text"),
        F.lag("role").over(w).alias("prev_role"),
    ).where(
        (F.col("role") == "assistant")
        & (F.col("prev_role") == "user")
    )
    ba = bigrams("text")
    bp = bigrams("prev_text")
    out = t.select(
        "conv_id",
        "turn_idx",
        F.size(ba).alias("n_bigrams"),
        F.size(F.filter(ba, lambda x: F.array_contains(bp, x))).alias("n_shared"),
    ).where(F.col("n_bigrams") >= ECHO_MIN_BIGRAMS)
    return out.select(
        "conv_id",
        "turn_idx",
        "n_bigrams",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_bigrams"), 6).alias("echo"),
    )


def conv_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the assistant echo profile of the corpus."""
    return echo_profile(synth.transcripts(spark, sf_dir))


def conv_echo_oracle_sql() -> str:
    return f"""
WITH tr AS ({synth.TRANSCRIPTS_SQL}),
lagged AS (
  SELECT conv_id, turn_idx, role, text,
         LAG(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_text,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM tr
),
pairs AS (
  SELECT conv_id, turn_idx,
         {toks_sql('lower(trim(text))')}      AS ta,
         {toks_sql('lower(trim(prev_text))')} AS tp
  FROM lagged
  WHERE role = 'assistant' AND prev_role = 'user'
),
bg AS (
  SELECT conv_id, turn_idx,
         list_distinct(list_transform(generate_series(1, len(ta) - 1),
                                      i -> ta[i] || ' ' || ta[i + 1])) AS ba,
         list_distinct(list_transform(generate_series(1, len(tp) - 1),
                                      i -> tp[i] || ' ' || tp[i + 1])) AS bp
  FROM pairs
)
SELECT conv_id, turn_idx,
       CAST(len(ba) AS INTEGER) AS n_bigrams,
       CAST(len(list_filter(ba, x -> list_contains(bp, x))) AS INTEGER) AS n_shared,
       ROUND(len(list_filter(ba, x -> list_contains(bp, x))) * 1.0 / len(ba), 6)
         AS echo
FROM bg
WHERE len(ba) >= {ECHO_MIN_BIGRAMS}
"""


# ---------------------------------------------------------------------------
# key-turn extraction — per-conversation TextRank over turn similarity
# ---------------------------------------------------------------------------
#
# Extractive summarization as data curation: when a pipeline can only
# afford to keep (or embed, or show an annotator) a couple of turns per
# conversation, the standard pick is TextRank (Mihalcea & Tarau 2004) —
# PageRank over the turn-similarity graph, so a turn is central when it
# shares vocabulary with many other central turns. Similarity here is
# distinct-token Jaccard (a ratio of two integers — engine-exact);
# scores run the classic S(i) = (1-d) + d·Σ_j w_ji/Σ_k w_jk·S(j)
# recurrence with d = 0.85 for a fixed TEXTRANK_ITERS iterations, each
# iteration's state rounded to 9 dp so both engines carry bit-identical
# intermediate scores (the ranker-train shared-state trick) and the
# top-K cut cannot flip on a 1-ulp summation-order difference.

TEXTRANK_ITERS = 3
TEXTRANK_D = 0.85
KEY_TURNS_K = 2
# Similarity edges only between turns within this turn-distance — the
# windowed-similarity form of TextRank. Without it the per-conversation
# pair fan-out is turns², which a single viral conversation (10^5-10^6
# turns at corpus scale) turns into a 10^10-pair straggler; the band
# makes it <= 2*BAND*turns, linear, while keeping the local-coherence
# signal the score actually uses.
KEY_TURNS_BAND = 16


def key_turns(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, rank, score) — the KEY_TURNS_K most central
    turns per conversation by TextRank; ties break to the earlier turn.

    Plan shape: ONE conv_id-keyed self-join builds the similarity
    edges, banded to |Δturn| ≤ KEY_TURNS_BAND so the fan-out is
    LINEAR in conversation length (≤ 2·BAND·turns) — a viral 10⁶-turn
    conversation contributes ~3·10⁷ pairs, not 10¹²; each iteration is
    an edge join + a (conv_id, turn)-keyed aggregate, co-partitioned on
    conv_id throughout, so at 10^12 turns the whole computation is
    per-conversation local with one exchange.
    """
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        F.array_distinct(toks_col(F.lower(F.trim(F.col("text"))))).alias(
            "toks"
        ),
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    uni = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    edges = (
        a.join(b, on="conv_id")
        .where(
            (F.col("a.turn_idx") != F.col("b.turn_idx"))
            & (
                F.abs(F.col("a.turn_idx") - F.col("b.turn_idx"))
                <= KEY_TURNS_BAND
            )
        )
        .select(
            "conv_id",
            F.col("a.turn_idx").alias("src"),
            F.col("b.turn_idx").alias("dst"),
            (inter / uni).alias("w"),
        )
        .where(F.col("w") > 0)
    )
    from ed_twitter_spark.caching import persist_tracked

    edges = persist_tracked(edges)
    outw = edges.groupBy("conv_id", "src").agg(F.sum("w").alias("wout"))
    nodes = t.select("conv_id", "turn_idx")
    score = nodes.withColumn("s", F.lit(1.0))
    for _ in range(TEXTRANK_ITERS):
        contrib = (
            edges.join(
                score.select(
                    "conv_id", F.col("turn_idx").alias("src"), "s"
                ),
                on=["conv_id", "src"],
            )
            .join(outw, on=["conv_id", "src"])
            .groupBy("conv_id", F.col("dst").alias("turn_idx"))
            .agg(F.sum(F.col("w") / F.col("wout") * F.col("s")).alias("mass"))
        )
        score = nodes.join(contrib, on=["conv_id", "turn_idx"], how="left").select(
            "conv_id",
            "turn_idx",
            F.round(
                F.lit(1.0 - TEXTRANK_D)
                + F.lit(TEXTRANK_D) * F.coalesce("mass", F.lit(0.0)),
                9,
            ).alias("s"),
        )
    w = Window.partitionBy("conv_id").orderBy(F.desc("s"), F.asc("turn_idx"))
    return (
        score.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KEY_TURNS_K)
        .select(
            "conv_id",
            "turn_idx",
            F.col("rank").cast("int").alias("rank"),
            F.round("s", 6).alias("score"),
        )
    )


def conv_key_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: TextRank key turns of the corpus transcripts."""
    return key_turns(synth.transcripts(spark, sf_dir))


def conv_key_turns_oracle_sql() -> str:
    d = TEXTRANK_D
    its = []
    prev = "s0"
    for i in range(1, TEXTRANK_ITERS + 1):
        its.append(
            f"""c{i} AS (
  SELECT e.conv_id, e.dst, SUM(e.w / o.wout * p.s) AS mass
  FROM e
  JOIN outw o ON o.conv_id = e.conv_id AND o.src = e.src
  JOIN {prev} p ON p.conv_id = e.conv_id AND p.turn_idx = e.src
  GROUP BY e.conv_id, e.dst
),
s{i} AS (
  SELECT t.conv_id, t.turn_idx,
         ROUND({1.0 - d} + {d} * COALESCE(c{i}.mass, 0), 9) AS s
  FROM t LEFT JOIN c{i}
    ON c{i}.conv_id = t.conv_id AND c{i}.dst = t.turn_idx
)"""
        )
        prev = f"s{i}"
    return f"""
WITH tr AS ({synth.TRANSCRIPTS_SQL}),
t AS (
  SELECT conv_id, turn_idx,
         list_distinct({toks_sql('lower(trim(text))')}) AS toks
  FROM tr
),
e AS (
  SELECT a.conv_id, a.turn_idx AS src, b.turn_idx AS dst,
         len(list_filter(a.toks, x -> list_contains(b.toks, x))) * 1.0
         / (len(a.toks) + len(b.toks)
            - len(list_filter(a.toks, x -> list_contains(b.toks, x)))) AS w
  FROM t a JOIN t b
    ON a.conv_id = b.conv_id AND a.turn_idx <> b.turn_idx
   AND abs(a.turn_idx - b.turn_idx) <= {KEY_TURNS_BAND}
  WHERE len(list_filter(a.toks, x -> list_contains(b.toks, x))) > 0
),
outw AS (SELECT conv_id, src, SUM(w) AS wout FROM e GROUP BY conv_id, src),
s0 AS (SELECT conv_id, turn_idx, 1.0 AS s FROM t),
{",".join(its)},
ranked AS (
  SELECT conv_id, turn_idx, s,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY s DESC, turn_idx ASC) AS rank
  FROM {prev}
)
SELECT conv_id, turn_idx, CAST(rank AS INTEGER) AS rank, ROUND(s, 6) AS score
FROM ranked WHERE rank <= {KEY_TURNS_K}
"""


def conv_summary_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, n_kept, summary) — the extractive summary document:
    the TextRank key turns re-joined to their text and concatenated in
    TURN order (summaries read chronologically regardless of rank).
    This is the consumer composition of :func:`key_turns` — the string
    a budgeted annotation or embedding pass actually stores.

    Plan shape: the key-turn table (K rows per conversation) joins the
    transcript on (conv_id, turn_idx) — co-partitioned on the table's
    own clustering key — then one conv-keyed aggregate builds the
    ordered concat via array_sort over (turn_idx, text) structs, so the
    ordering is engine-invariant without a window."""
    t = synth.transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    kt = key_turns(t).select("conv_id", "turn_idx")
    j = kt.join(t, on=["conv_id", "turn_idx"])
    return (
        j.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("summary"),
        )
        .orderBy("conv_id")
    )


def conv_summary_render_oracle_sql() -> str:
    return f"""
WITH kt AS ({conv_key_turns_oracle_sql()}),
tr AS ({synth.TRANSCRIPTS_SQL}),
j AS (
  SELECT kt.conv_id, kt.turn_idx, tr.text
  FROM kt JOIN tr ON tr.conv_id = kt.conv_id AND tr.turn_idx = kt.turn_idx
)
SELECT conv_id,
       CAST(COUNT(*) AS INTEGER) AS n_kept,
       string_agg(text, ' ' ORDER BY turn_idx) AS summary
FROM j GROUP BY conv_id ORDER BY conv_id
"""

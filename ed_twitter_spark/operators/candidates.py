"""Candidate generation: the one KB alias join (J1) + prior-argmax linking (T7).

The reference probes an in-memory dict `ent_p_e_m_index[mention]`
(`mulrel-nel/nel/dataset.py` callers; index built at
`yago_crosswikis_wiki.py:15-36`). In Spark the dictionary is the KB alias
table (one row per surface and candidate) or its one per-surface roll-up,
:func:`candidate_arrays` (the candidates' ``ent_id`` / ``ent_name`` /
``prior`` arrays in rank order), and the probe is one left join
(:func:`_join`) whose physical strategy is **selected by the KB side's
size**:

* fits in executor memory → **broadcast hash join**: the mention stream
  never shuffles, which is the plan we want at 10^12 turns.
* too large to broadcast (a full cross-wiki alias table can reach tens
  of GB) → **salted shuffle-hash join**: head surface forms ("the", brand
  names, viral hashtags) concentrate mention traffic on a few keys, so a
  plain shuffle join sends every occurrence of a hot mention to one
  reducer. Salting the probe side with a uniform per-occurrence salt and
  replicating the KB rows across all salt values splits each hot key into
  ``SALT_BUCKETS`` independent reducers, at the cost of a bounded
  ``SALT_BUCKETS×`` blow-up of the (dim-sized) KB shuffle — the standard
  skew trade. AQE's skew-join splitting stays on as a second line of
  defense for residual imbalance.

Every linker goes through that join: :func:`attach_candidates` joins the
candidate table (array form: embedding and cosine linkers, hyperlink and
tweet-context emitters, which cap it with ``F.slice``); :func:`gen_candidates`
joins the KB rows themselves (row form: prior linker, daily ingest,
streaming — one row per candidate is what they consume, and a per-call
roll-up would cost each daily increment an extra shuffle).

A left join preserves the EMPTYCAND path (`gen_aida_test.py:198-203`):
unmatched mentions surface with NULL candidates and become NIL predictions
downstream — every mention occurrence carries exactly one salt value, so
the salted left join emits exactly one NULL row for them too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

# Above this estimated candidate-table size, J1 stops broadcasting. Matches
# the session's autoBroadcastJoinThreshold scaled to leave headroom for the
# executor heap share a broadcast relation occupies (deserialized, per
# executor, alongside the hash relation built from it).
BROADCAST_LIMIT_BYTES = 64 * 1024 * 1024

# Salt fan-out for the shuffle path: each hot mention key splits across
# this many reducers. KB shuffle volume grows by the same factor, so keep
# it a small constant.
SALT_BUCKETS = 8

_OUT_COLS = (
    "conv_id",
    "turn_idx",
    "mention_idx",
    "mention",
    "ent_id",
    "ent_name",
    "prior",
    "rank",
    "doc_id",
)


def _size_estimate(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes (no job is run —
    for parquet sources this derives from file footers/statistics, the same
    signal autoBroadcastJoinThreshold uses)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # py4j hiccup → conservative: too big to broadcast
        return 1 << 62


def candidate_arrays(kb_df: DataFrame) -> DataFrame:
    """The KB-side candidate table: one row per ``mention`` with
    ``cand_ids``, ``cand_names`` and ``cand_priors`` in rank order (prior
    desc / ent_name asc — the reference sorts candidates by count desc with
    Python's stable sort, `merge_crosswikis_wiki.py:91-92`).

    Rolled up on the *small* side (|KB| rows → |distinct surface| rows), so
    the mention stream joins one row per key and never regroups."""
    c = F.sort_array(F.collect_list(F.struct("rank", "ent_id", "ent_name", "prior")))
    return kb_df.groupBy("mention").agg(c.alias("c")).select(
        "mention",
        F.col("c.ent_id").alias("cand_ids"),
        F.col("c.ent_name").alias("cand_names"),
        F.col("c.prior").alias("cand_priors"),
    )


def _join(mentions_df: DataFrame, kb_side: DataFrame, broadcast_limit_bytes: int) -> DataFrame:
    """J1: ``mentions_df`` LEFT JOIN a ``mention``-keyed KB-side table,
    broadcast iff its size estimate fits ``broadcast_limit_bytes``, salted
    shuffle-hash otherwise. Both arms produce identical rows."""
    if _size_estimate(kb_side) <= broadcast_limit_bytes:
        return mentions_df.join(F.broadcast(kb_side), on="mention", how="left")
    # Uniform deterministic salt per mention *occurrence* (not per surface
    # form — that is the whole point: occurrences of one hot mention spread
    # over all buckets): a hash of the probe row's scalar columns, which
    # carry the occurrence key (conv/turn/position, tweet/ordinal, ...).
    scalars = [
        f.name
        for f in mentions_df.schema.fields
        if not isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    salt = F.pmod(F.xxhash64(*scalars), F.lit(SALT_BUCKETS)).cast("int")
    build = kb_side.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    )
    # shuffle_hash: per-salt build side is dim-sized — hashing it beats
    # sorting the (huge) probe side, which sort-merge would require.
    return (
        mentions_df.withColumn("_salt", salt)
        .join(build.hint("shuffle_hash"), on=["mention", "_salt"], how="left")
        .drop("_salt")
    )


def attach_candidates(
    mentions_df: DataFrame,
    kb_df: DataFrame,
    broadcast_limit_bytes: int = BROADCAST_LIMIT_BYTES,
) -> DataFrame:
    """Array form of J1: every ``mentions_df`` row plus its surface's
    ``cand_ids`` / ``cand_names`` / ``cand_priors`` (NULL when the KB has
    no such surface)."""
    return _join(mentions_df, candidate_arrays(kb_df), broadcast_limit_bytes)


def gen_candidates(
    mentions_df: DataFrame,
    kb_df: DataFrame,
    broadcast_limit_bytes: int = BROADCAST_LIMIT_BYTES,
) -> DataFrame:
    """Row form of J1: one output row per (mention occurrence, candidate),
    the KB's own rows joined as they are (no roll-up to pay per call).

    Columns: conv_id, turn_idx, mention_idx, mention, ent_id, ent_name,
    prior, rank (1-based, prior desc / ent_name asc), doc_id; one all-NULL
    candidate row for a mention the KB does not know."""
    kb_rows = kb_df.select("mention", "ent_id", "ent_name", "prior", "rank")
    return _join(mentions_df, kb_rows, broadcast_limit_bytes).select(*_OUT_COLS)


def link_prior_argmax(candidates_df: DataFrame) -> DataFrame:
    """Top-1 candidate by prior → (subj, pred, obj, score) triples.

    This is the reference's fallback prediction when context is empty /
    model scores tie (argmax over p(e|m), `ed_ranker.py:433-436` with the
    prior as the only signal). NULL-candidate mentions become obj='NIL'
    (`dataset.py:227-233` excludes NIL from the precision denominator).
    """
    top1 = candidates_df.where((F.col("rank") == 1) | F.col("rank").isNull())
    return top1.select(
        F.concat_ws("#", "conv_id", "turn_idx", "mention_idx").alias("subj"),
        F.lit("links_to").alias("pred"),
        F.coalesce("ent_name", F.lit("NIL")).alias("obj"),
        F.coalesce("prior", F.lit(0.0)).alias("score"),
        "conv_id",
        "turn_idx",
        "mention_idx",
        "mention",
        "doc_id",
    )


def mention_skew(mentions_df: DataFrame) -> DataFrame:
    """One-row skew profile of the candidate-join probe key.

    This is the decision input for the broadcast-vs-salted selection above:
    ``skew_ratio`` (hottest key count / mean key count) and ``top1_share``
    say whether a plain shuffle join would serialize on one reducer.
    Computed as one map-side-combined count per key (the only pass over the
    mention stream) followed by key-cardinality-sized aggregates; the top-10
    mass uses ``orderBy().limit(10)`` — Spark's distributed TakeOrdered —
    never a global sort.
    """
    counts = mentions_df.groupBy("mention").agg(F.count(F.lit(1)).alias("cnt"))
    overall = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_count"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_count"),
    )
    top10 = (
        counts.orderBy(F.desc("cnt"), F.asc("mention"))
        .limit(10)
        .agg(F.sum("cnt").alias("top10_mass"))
    )
    return overall.crossJoin(top10).select(
        "n_rows",
        "n_keys",
        "max_count",
        "p99_count",
        F.round(F.col("max_count") / F.col("n_rows"), 6).alias("top1_share"),
        F.round(F.col("top10_mass") / F.col("n_rows"), 6).alias("top10_share"),
        F.round(F.col("max_count") * F.col("n_keys") / F.col("n_rows"), 6).alias(
            "skew_ratio"
        ),
    )


def mention_skew_oracle_sql() -> str:
    from ed_twitter_spark.operators.mentions import mentions_sql

    return f"""
WITH m AS ({mentions_sql()}),
counts AS (SELECT mention, CAST(COUNT(*) AS BIGINT) AS cnt FROM m GROUP BY mention),
overall AS (
  SELECT CAST(SUM(cnt) AS BIGINT)        AS n_rows,
         CAST(COUNT(*) AS BIGINT)        AS n_keys,
         MAX(cnt)                        AS max_count,
         ROUND(quantile_cont(cnt, 0.99), 6) AS p99_count
  FROM counts
),
top10 AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS top10_mass
  FROM (SELECT cnt FROM counts ORDER BY cnt DESC, mention ASC LIMIT 10)
)
SELECT n_rows, n_keys, max_count, p99_count,
       ROUND(CAST(max_count AS DOUBLE) / n_rows, 6)          AS top1_share,
       ROUND(CAST(top10_mass AS DOUBLE) / n_rows, 6)         AS top10_share,
       ROUND(CAST(max_count AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio
FROM overall CROSS JOIN top10
"""


def q_mention_skew(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators.mentions import detect_mentions

    return mention_skew(detect_mentions(synth.transcripts(spark, sf_dir)))

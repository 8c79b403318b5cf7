"""Oracle surface for the W1/W3 conversation windows (linker stage 1).

``link_embed`` is rows-only under the driver gate (LBP is not
SQL-expressible), so this query puts its **stage-1 semantics** — the
cross-turn ±100-token raw window, the importance filter, and the ±50
filtered slice, including the halo partitioning — under the value-exact
DuckDB oracle: for every mention it emits the filtered left/right context
*token-id sequences* as comma-joined strings. Any off-by-one in the
window slicing, the stopword/number filter, the md5 word coding, or the
segment-halo reconstruction shows up as a hash mismatch here.

Reference semantics: `gen_aida_train.py:113-127` (raw ±100) →
`ed_ranker.py:196-204` (filter + ±50 slice); word code = md5-prefix mod
n_vectors (functions/fixtures.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import TOKS_SQL
from ed_twitter_spark.functions.text import STOPWORDS
from ed_twitter_spark.operators.linker import CTX_WINDOW, RAW_WINDOW, build_mention_windows

_SW_SQL = "(" + ", ".join(f"'{w}'" for w in sorted(STOPWORDS)) + ")"
_HALF = CTX_WINDOW // 2


def mention_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_vec = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .agg(F.max("vec_id"))
        .first()[0]
        + 1
    )
    w = build_mention_windows(synth.transcripts(spark, sf_dir), n_vec)
    csv = lambda c: F.concat_ws(",", F.transform(F.col(c), lambda x: x.cast("string")))
    return w.select(
        "conv_id",
        "turn_idx",
        "mention_idx",
        "mention",
        csv("lctx_ids").alias("l_ids"),
        csv("rctx_ids").alias("r_ids"),
    )


MENTION_WINDOWS_SQL = f"""
WITH transcripts AS ({synth.TRANSCRIPTS_SQL}),
tok AS (
  SELECT conv_id, turn_idx,
         unnest({TOKS_SQL}) AS tok,
         CAST(unnest(range(len({TOKS_SQL}))) AS INTEGER) AS pos
  FROM transcripts
),
g AS (
  SELECT conv_id, turn_idx, pos, tok,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx, pos) - 1 AS gpos,
         CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT)
           % (SELECT MAX(vec_id) + 1 FROM embeddings) AS wid,
         (length(tok) > 1 AND lower(tok) NOT IN {_SW_SQL}
          AND TRY_CAST(tok AS DOUBLE) IS NULL) AS imp
  FROM tok
),
m AS (
  SELECT conv_id, turn_idx, pos AS mention_idx, tok AS mention, gpos
  FROM g WHERE {synth.is_mention_sql('tok')}
),
lwin AS (
  SELECT m.conv_id, m.turn_idx, m.mention_idx, t.gpos, t.wid,
         ROW_NUMBER() OVER (PARTITION BY m.conv_id, m.gpos ORDER BY t.gpos DESC) AS rno
  FROM m JOIN g t
    ON t.conv_id = m.conv_id AND t.imp
   AND t.gpos BETWEEN m.gpos - {RAW_WINDOW} AND m.gpos - 1
  QUALIFY rno <= {_HALF}
),
rwin AS (
  SELECT m.conv_id, m.turn_idx, m.mention_idx, t.gpos, t.wid,
         ROW_NUMBER() OVER (PARTITION BY m.conv_id, m.gpos ORDER BY t.gpos ASC) AS rno
  FROM m JOIN g t
    ON t.conv_id = m.conv_id AND t.imp
   AND t.gpos BETWEEN m.gpos + 1 AND m.gpos + {RAW_WINDOW}
  QUALIFY rno <= {_HALF}
),
lagg AS (
  SELECT conv_id, turn_idx, mention_idx,
         string_agg(CAST(wid AS VARCHAR), ',' ORDER BY gpos) AS l_ids
  FROM lwin GROUP BY conv_id, turn_idx, mention_idx
),
ragg AS (
  SELECT conv_id, turn_idx, mention_idx,
         string_agg(CAST(wid AS VARCHAR), ',' ORDER BY gpos) AS r_ids
  FROM rwin GROUP BY conv_id, turn_idx, mention_idx
)
SELECT m.conv_id, m.turn_idx, m.mention_idx, m.mention,
       COALESCE(l.l_ids, '') AS l_ids,
       COALESCE(r.r_ids, '') AS r_ids
FROM m
LEFT JOIN lagg l USING (conv_id, turn_idx, mention_idx)
LEFT JOIN ragg r USING (conv_id, turn_idx, mention_idx)
"""

"""W5/S2 — hyperlink-context training-data emitter.

The reference walks the anchor-marked wiki dump accumulating each page's
clean word stream plus per-hyperlink word offsets, then emits one training
record per hyperlink whose gold entity appears in its candidate list
(`data_gen/gen_wiki_data/gen_wiki_hyp_train_data.py:82-177`):

* left context  = words[max(0, start−101) : start−1] — note the
  reference's off-by-one (``end = start_off - 1``) drops the word
  immediately left of the mention; transcribed faithfully;
* right context = words[end : end+100];
* EMPTYCTXT sentinels for empty sides;
* candidates from p(e|m) capped at 33 (the ``pos > 32`` break admits 33),
  record kept only when the gold is among them (``gt_pos > 0``);
* the training-time ±10 slice (`learn_e2v/minibatch_a.py:68-75`,
  ``hyp_ctxt_len`` default 10) emitted alongside as hyp_left/hyp_right.

Spark-first shape: the anchors table IS the marked-mention stream (word
offsets are the anchor positions), so the whole emitter is the shared J1
candidate join (`candidates.attach_candidates`, capped with ``F.slice``)
plus JVM array slices over the tokenized page — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col
from ed_twitter_spark.operators.candidates import attach_candidates

HYP_CAND_CAP = 33  # gen_wiki_hyp_train_data.py:149 (`pos > 32` admits 33)
RAW_LEFT = 101  # words[max(0, start-101) : start-1]
RAW_RIGHT = 100  # words[end : end+100]
HYP_CTXT_LEN = 10  # learn_a.py:50 -hyp_ctxt_len


def hyperlink_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select("doc_id", toks_col().alias("toks"))
    hyp = synth.anchors(spark, sf_dir)  # (doc_id, pos, mention, ent_name)
    hyp = hyp.withColumn("gold_ent_id", synth.ent_id_col(F.col("ent_name")))

    kb = synth.kb_alias(spark, sf_dir)
    j = attach_candidates(hyp, kb).join(pages, "doc_id")
    cand_ids = F.slice("cand_ids", 1, HYP_CAND_CAP)
    p = F.col("pos")
    llo = F.greatest(p - RAW_LEFT, F.lit(0))  # 0-based slice start
    lctx = F.slice("toks", llo + 1, F.greatest(p - 1 - llo, F.lit(0)))
    rlen = F.greatest(F.least(F.size("toks") - p - 1, F.lit(RAW_RIGHT)), F.lit(0))
    rctx = F.slice("toks", p + 2, rlen)
    gt_pos = F.array_position(cand_ids, F.col("gold_ent_id"))

    out = j.select(
        "doc_id",
        p.cast("int").alias("pos"),
        "mention",
        F.col("ent_name").alias("gold_ent"),
        F.when(F.size(lctx) > 0, F.array_join(lctx, " "))
        .otherwise(F.lit("EMPTYCTXT"))
        .alias("lctx"),
        F.when(F.size(rctx) > 0, F.array_join(rctx, " "))
        .otherwise(F.lit("EMPTYCTXT"))
        .alias("rctx"),
        # W5 training slice: last/first hyp_ctxt_len words — taken from the
        # *written field* like minibatch_a.py does, so an empty side slices
        # the EMPTYCTXT sentinel itself
        F.when(
            F.size(lctx) > 0,
            F.array_join(
                F.slice(
                    lctx,
                    F.greatest(F.size(lctx) - HYP_CTXT_LEN, F.lit(0)) + 1,
                    F.lit(HYP_CTXT_LEN),
                ),
                " ",
            ),
        ).otherwise(F.lit("EMPTYCTXT")).alias("hyp_left"),
        F.when(
            F.size(rctx) > 0, F.array_join(F.slice(rctx, 1, HYP_CTXT_LEN), " ")
        ).otherwise(F.lit("EMPTYCTXT")).alias("hyp_right"),
        gt_pos.cast("int").alias("gt_pos"),
        F.size(cand_ids).cast("int").alias("n_cands"),
    )
    return out.where(F.col("gt_pos") >= 1)


HYPERLINK_CONTEXTS_SQL = f"""
WITH a AS ({synth.ANCHORS_SQL}),
tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
kb AS ({synth.KB_ALIAS_SQL}),
kbl AS (
  SELECT mention,
         list_slice(list(ent_id ORDER BY rank), 1, {HYP_CAND_CAP}) AS cand_ids
  FROM kb GROUP BY mention
),
j AS (
  SELECT a.doc_id, a.pos, a.mention, a.ent_name,
         {synth.ent_id_expr_sql('a.ent_name')} AS gold_ent_id,
         tk.toks, kbl.cand_ids
  FROM a JOIN tk ON tk.doc_id = a.doc_id
         JOIN kbl ON kbl.mention = a.mention
),
sl AS (
  SELECT doc_id, pos, mention, ent_name, gold_ent_id, cand_ids,
         CASE WHEN pos <= 1 THEN []::VARCHAR[]
              ELSE list_slice(toks, CASE WHEN pos - {RAW_LEFT - 1} > 1
                                         THEN pos - {RAW_LEFT - 1} ELSE 1 END,
                              pos - 1) END AS lctx,
         list_slice(toks, pos + 2, pos + 1 + {RAW_RIGHT}) AS rctx
  FROM j
)
SELECT doc_id, CAST(pos AS INTEGER) AS pos, mention,
       ent_name AS gold_ent,
       CASE WHEN len(lctx) > 0 THEN array_to_string(lctx, ' ')
            ELSE 'EMPTYCTXT' END AS lctx,
       CASE WHEN len(rctx) > 0 THEN array_to_string(rctx, ' ')
            ELSE 'EMPTYCTXT' END AS rctx,
       CASE WHEN len(lctx) = 0 THEN 'EMPTYCTXT'
            ELSE array_to_string(list_slice(lctx,
               CASE WHEN len(lctx) - {HYP_CTXT_LEN} > 0
                    THEN len(lctx) - {HYP_CTXT_LEN} + 1 ELSE 1 END,
               len(lctx)), ' ') END AS hyp_left,
       CASE WHEN len(rctx) = 0 THEN 'EMPTYCTXT'
            ELSE array_to_string(list_slice(rctx, 1, {HYP_CTXT_LEN}), ' ') END
         AS hyp_right,
       CAST(list_position(cand_ids, gold_ent_id) AS INTEGER) AS gt_pos,
       CAST(len(cand_ids) AS INTEGER) AS n_cands
FROM sl
WHERE list_position(cand_ids, gold_ent_id) >= 1
"""

"""Cosine linker: "cosine over averaged word/entity embeddings" (K1/A9 core).

The SQL-expressible distillation of the reference's disambiguation kernel:
score(candidate e | mention m) = Σ_{w ∈ ±25-token window} n(e)·n(w)  +  ln p(e|m)
where n(·) is L2 normalization (`ed_ranker.py:32-39`) and the sum-of-dots is
dot-of-sum by linearity (`ntee.py:20-27` EmbeddingBag sum).

Scale shape (the linker.py pattern, no driver-side state):

* mention detection, word-id coding (md5[:6] mod n) and the ±25 turn-local
  context slices are **pure JVM column algebra** — posexplode + transform +
  slice, whole-stage codegen, no Python; the tokens and mention rows come
  from the package's one tokenizer and mention test
  (`hashing.toks_col`, `mentions.mention_rows`), so this linker sees the
  same mentions, at the same positions, as every other;
* candidates come from the one J1 join (`candidates.attach_candidates`):
  per-surface ``cand_ids`` / ``cand_names`` / ``cand_priors`` arrays rolled
  up KB-side, broadcast while the KB fits — the KB is never collected, and
  the embedding row is the KB's ``ent_id`` (md5[:8]) mod n, so the scorer
  never hashes;
* scoring is one Arrow-batched ``mapInPandas`` doing a batched gather +
  einsum against the broadcast embedding matrix — no per-mention or
  per-candidate Python loop.

The DuckDB oracle computes the identical sum via ``list_dot_product``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ed_twitter_spark.functions import kernels
from ed_twitter_spark.functions.fixtures import load_embedding_matrix
from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col
from ed_twitter_spark.operators.candidates import attach_candidates
from ed_twitter_spark.operators.mentions import mention_rows, mentions_sql

COS_WINDOW = 25  # ±25 tokens, turn-local (prerank_ctx_window // 2)

_OUT_SCHEMA = StructType(
    [
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("mention_idx", IntegerType()),
        StructField("mention", StringType()),
        StructField("score_r4", DoubleType()),
    ]
)

_OUT_COLS = [f.name for f in _OUT_SCHEMA.fields]


def _word_id_col(tok, n_vec: int):
    return (F.conv(F.substring(F.md5(tok), 1, 6), 16, 10).cast("long") % n_vec).cast(
        "int"
    )


def link_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth

    emb = load_embedding_matrix(spark, sf_dir)  # already L2-normalized
    n_vec = emb.shape[0] - 1
    unk_id = n_vec
    bc = spark.sparkContext.broadcast(emb)

    t = synth.transcripts(spark, sf_dir)
    kb = synth.kb_alias(spark, sf_dir)

    # JVM-side tokenization + word-id coding + ±25 slices (mention excluded)
    toks = toks_col()
    turns = t.select(
        "conv_id",
        "turn_idx",
        toks.alias("toks"),
        F.transform(toks, lambda tk: _word_id_col(tk, n_vec)).alias("wids"),
    )
    p = F.col("mention_idx")
    lo = F.greatest(p - COS_WINDOW, F.lit(0))
    left = F.slice("wids", lo + 1, p - lo)
    right = F.slice(
        "wids", p + 2, F.least(F.size("wids") - p - 1, F.lit(COS_WINDOW))
    )
    m = mention_rows(turns, "toks", "conv_id", "turn_idx", "wids").select(
        "conv_id",
        "turn_idx",
        p.cast("int").alias("mention_idx"),
        "mention",
        F.concat(left, right).alias("ctx_ids"),
    )
    # inner semantics: KB surfaces only
    cands = attach_candidates(m, kb).where(F.col("cand_ids").isNotNull())

    def score_batches(it):
        emb_m = bc.value
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(columns=_OUT_COLS)
                continue
            ctx_sums = kernels.segment_sum_vecs(
                [list(x) for x in pdf["ctx_ids"]], emb_m, unk_id
            )
            # an empty context contributes an exact zero vector (matching
            # the oracle's COALESCE(dot_sum, 0.0)) — summing the unk row
            # (1e-10 elements) would add tiny candidate-dependent dots
            # that can flip prior-tied argmaxes off the ent_name-asc
            # tie-break
            empty = np.fromiter(
                (len(x) == 0 for x in pdf["ctx_ids"]), dtype=bool, count=n
            )
            if empty.any():
                ctx_sums[empty] = 0.0
            lens = np.fromiter(
                (len(x) for x in pdf["cand_ids"]), dtype=np.int64, count=n
            )
            cmax = int(lens.max())
            rows = np.repeat(np.arange(n), lens)
            cols = np.concatenate([np.arange(k) for k in lens])
            codes = np.full((n, cmax), unk_id, dtype=np.int64)
            codes[rows, cols] = (
                np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf["cand_ids"]])
                % n_vec
            )
            priors = np.zeros((n, cmax))
            priors[rows, cols] = np.concatenate(
                [np.asarray(x, dtype=np.float64) for x in pdf["cand_priors"]]
            )
            names = np.empty((n, cmax), dtype=object)
            names[rows, cols] = np.concatenate(
                [np.asarray(x, dtype=object) for x in pdf["cand_names"]]
            )
            mask = np.zeros((n, cmax), dtype=bool)
            mask[rows, cols] = True

            scores = np.einsum("md,mcd->mc", ctx_sums, emb_m[codes]) + np.log(
                priors + 1e-20
            )
            scores[~mask] = -np.inf
            best = scores.argmax(axis=1)
            ar = np.arange(n)
            # candidates arrive in rank order: an exact score tie goes to
            # the smallest ent_name, as the oracle's ORDER BY score DESC,
            # ent_name does
            tied = (scores == scores[ar, best][:, None]) & mask
            for i in np.flatnonzero(tied.sum(axis=1) > 1):
                best[i] = min(np.flatnonzero(tied[i]), key=lambda j: names[i, j])
            out = pd.DataFrame(
                {
                    "subj": (
                        pdf["conv_id"].astype(str)
                        + "#"
                        + pdf["turn_idx"].astype(str)
                        + "#"
                        + pdf["mention_idx"].astype(str)
                    ).values,
                    "pred": "links_to",
                    "obj": names[ar, best],
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].values,
                    "mention_idx": pdf["mention_idx"].values,
                    "mention": pdf["mention"].values,
                    "score_r4": np.round(scores[ar, best], 4),
                }
            )
            yield out[_OUT_COLS]

    return cands.mapInPandas(score_batches, schema=_OUT_SCHEMA)


def link_cosine_oracle_sql() -> str:
    from ed_twitter_spark import synth

    return f"""
WITH m AS ({mentions_sql()}),
kb AS ({synth.KB_ALIAS_SQL}),
nv AS (SELECT MAX(vec_id) + 1 AS n FROM embeddings),
wv AS (
  SELECT vec_id,
         list_transform(embedding,
            x -> CAST(x AS DOUBLE) / sqrt(list_dot_product(
                 list_transform(embedding, y -> CAST(y AS DOUBLE)),
                 list_transform(embedding, y -> CAST(y AS DOUBLE))))) AS vec
  FROM embeddings
),
tok_pos AS (
  SELECT doc_id,
         unnest({TOKS_SQL}) AS tok,
         CAST(unnest(range(len({TOKS_SQL}))) AS INTEGER) AS pos
  FROM documents
),
ctx AS (
  -- token wvid PROJECTED (nv via cross join), never a scalar subquery
  -- inside a join key: that shape defeats DuckDB's hash join and cost
  -- ~90 s at sf0.001 (same rows, same values)
  SELECT m.conv_id, m.turn_idx, m.mention_idx,
         CAST(('0x' || substr(md5(tp.tok), 1, 6)) AS BIGINT) % nv.n AS wvid
  FROM m JOIN tok_pos tp
    ON m.doc_id = tp.doc_id
   AND tp.pos <> m.mention_idx
   AND abs(tp.pos - m.mention_idx) <= {COS_WINDOW}
  CROSS JOIN nv
),
ctx_dots AS (
  SELECT c.conv_id, c.turn_idx, c.mention_idx, kb.ent_name,
         SUM(list_dot_product(ev.vec, wv.vec)) AS dot_sum
  FROM ctx c
  JOIN (SELECT conv_id, turn_idx, mention_idx, mention FROM m) mm
    USING (conv_id, turn_idx, mention_idx)
  JOIN (SELECT kb.*,
               CAST(('0x' || substr(md5(kb.ent_name), 1, 8)) AS BIGINT) % nv.n AS evid
        FROM kb CROSS JOIN nv) kb ON kb.mention = mm.mention
  JOIN wv ON wv.vec_id = c.wvid
  JOIN wv ev ON ev.vec_id = kb.evid
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT m.conv_id, m.turn_idx, m.mention_idx, m.mention,
         kb.ent_name,
         COALESCE(cd.dot_sum, 0.0) + ln(kb.prior + 1e-20) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY m.conv_id, m.turn_idx, m.mention_idx
           ORDER BY COALESCE(cd.dot_sum, 0.0) + ln(kb.prior + 1e-20) DESC,
                    kb.ent_name) AS rnk
  FROM m
  JOIN kb ON kb.mention = m.mention
  LEFT JOIN ctx_dots cd
    ON cd.conv_id = m.conv_id AND cd.turn_idx = m.turn_idx
   AND cd.mention_idx = m.mention_idx AND cd.ent_name = kb.ent_name
)
SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) || '#' ||
         CAST(mention_idx AS VARCHAR) AS subj,
       'links_to' AS pred,
       ent_name   AS obj,
       conv_id, turn_idx, mention_idx, mention,
       ROUND(score, 4) AS score_r4
FROM scored WHERE rnk = 1
"""

"""Ranker training — the reference's Adam trainer, distilled deterministic.

The reference trains its MulRelRanker with Adam (lr 1e-4), a margin
ranking loss (margin 0.01) over candidate scores vs the gold candidate,
per-epoch dev micro-F1 evaluation, and an LR drop to 1e-5 once the best
dev F1 reaches 0.915 (`mulrel-nel/nel/ed_ranker.py:262-369`,
`mulrel-nel/nel/main.py:73-98`). The full torch model's gradient is not
SQL-expressible; the honest distributed distillation keeps the LOOP
MECHANISMS (margin-0.01 hinge, Adam update math, monotone best-F1 LR
drop, the `ed_ranker.py:358-367` early-stop counter with equal-F1 reset)
and makes two explicitly-declared substitutions beyond the model
shrinking: (a) eval cadence — the reference evaluates dev micro-F1 only
every `eval_after_n_epochs` epochs (5, then 2 after the LR drop,
`ed_ranker.py:288-300`), while this loop evaluates after EVERY step, so
the LR-drop/early-stop triggers fire on a denser schedule; (b) eval set —
the reference uses a held-out dev split, this loop scores the training
frame itself (the synthetic corpus has no dev split). The model is the
linear scorer over the two per-candidate signals the repo's linkers
already compute:

    s(m, c; θ) = w1·ctx_dot(m, c) + w2·ln p(c|m) + b

(θ = (1, 1, 0) recovers `link_cosine`'s score exactly). Each step is a
full-batch pass: hinge coefficients per (mention, candidate), a 3-scalar
gradient aggregate, a deterministic Adam update (β1 0.9, β2 0.999,
eps 1e-8 — torch defaults), post-step micro-F1, and the reference's
monotone best-F1 LR-drop rule. Features are rounded to 4 dp and per-step
scores to 6 dp so both engines make identical hinge/argmax decisions;
gradients are rounded to 6 dp before entering the Adam state (the shared
cross-engine representation), after which the scalar Adam recurrence is
plain IEEE arithmetic. Reproducibility caveat (why this is
"empirically stable at tested SFs", not bit-for-bit by construction):
the gradient sums underneath the 6-dp rounding are unordered
floating-point reductions (Spark partition order vs DuckDB scan order),
and Python round() is half-even over exact decimals while DuckDB ROUND
is std::round over x*1e6 — a sum landing within ~1e-13 of a 6-dp
midpoint could round differently per engine/run. The tested SFs sit far
from midpoints (verified green across rounds); per-row pre-rounding, as
done for slot scores, is the escalation path if a future SF trips it.

Scale shape: the feature build is the corpus-wide pass (context-vector
sums per mention — one shuffle on the mention key; the KB and the
normalized embedding table ride broadcast joins); each training step is
ONE aggregate over the persisted feature frame + one argmax-F1 aggregate.
Optimizer state is 9 floats — held on the driver exactly like the
reference holds its optimizer object; nothing corpus-sized ever leaves
the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col
from ed_twitter_spark.operators.cosine_linker import COS_WINDOW
from ed_twitter_spark.operators.mentions import detect_mentions, mentions_sql

EMB_DIMS = 64
RANK_MARGIN = 0.01  # MarginRankingLoss margin (main.py:86)
RANK_LR = 1e-4  # Adam lr (main.py:73)
RANK_LR_DROPPED = 1e-5  # after best dev F1 >= F1_DROP (ed_ranker.py:300-312)
F1_DROP = 0.915
ADAM_B1, ADAM_B2, ADAM_EPS = 0.9, 0.999, 1e-8
N_STEPS = 4
THETA0 = (1.0, 1.0, 0.0)  # w1, w2, b — the link_cosine scorer


def _norm_wv(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.transform("embedding", lambda x: x.cast("double"))
    n = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    )
    return emb.select(
        "vec_id", F.transform(v, lambda x: x / n).alias("vec")
    )


def rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (mention occurrence, candidate): subj key, ent_name,
    f1 = ctx_dot (±25-token window, dot-of-sum, round 4), f2 =
    ln(prior + 1e-20) (round 4), is_gold. Only mentions whose gold
    candidate is present survive (the reference's GT filter)."""
    wv = _norm_wv(spark, sf_dir)
    n_vec_df = wv.groupBy().agg(F.max("vec_id").alias("mx"))
    m = detect_mentions(synth.transcripts(spark, sf_dir))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.posexplode(toks_col()).alias("pos", "tok")
    )
    ctx = (
        m.join(
            toks,
            (m["doc_id"] == toks["doc_id"])
            & (F.col("pos") != F.col("mention_idx"))
            & (F.abs(F.col("pos") - F.col("mention_idx")) <= COS_WINDOW),
        )
        .drop(toks["doc_id"])
        .crossJoin(F.broadcast(n_vec_df))
        .select(
            "conv_id",
            "turn_idx",
            "mention_idx",
            (
                F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("long")
                % (F.col("mx") + 1)
            ).alias("vec_id"),
        )
        .join(wv, "vec_id")
        .select("conv_id", "turn_idx", "mention_idx", F.posexplode("vec").alias("dim", "x"))
        .groupBy("conv_id", "turn_idx", "mention_idx", "dim")
        .agg(F.sum("x").alias("cx"))
        .groupBy("conv_id", "turn_idx", "mention_idx")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cx"))), lambda s: s["cx"]
            ).alias("csum")
        )
    )
    kb = synth.kb_alias(spark, sf_dir)
    suffix = synth.gold_suffix_col(F.col("doc_id"), F.col("mention_idx"))
    cand = (
        m.join(F.broadcast(kb), "mention")
        .crossJoin(F.broadcast(n_vec_df))
        .select(
            F.concat_ws("#", "conv_id", "turn_idx", "mention_idx").alias("subj"),
            "conv_id",
            "turn_idx",
            "mention_idx",
            "ent_name",
            "prior",
            (
                F.col("ent_name")
                == F.concat(
                    F.lit("E"), suffix.cast("string"), F.lit("_"), F.col("mention")
                )
            ).cast("int").alias("is_gold"),
            (
                F.conv(F.substring(F.md5("ent_name"), 1, 8), 16, 10).cast("long")
                % (F.col("mx") + 1)
            ).alias("evid"),
        )
    )
    feats = (
        cand.join(wv.select(F.col("vec_id").alias("evid"), F.col("vec").alias("ev")), "evid")
        .join(ctx, ["conv_id", "turn_idx", "mention_idx"], "left")
        .select(
            "subj",
            "ent_name",
            "is_gold",
            F.round(
                F.coalesce(
                    F.aggregate(
                        F.zip_with("csum", "ev", lambda a, b: a * b),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("f1"),
            F.round(F.log(F.col("prior") + 1e-20), 4).alias("f2"),
        )
    )
    has_gold = Window.partitionBy("subj")
    return (
        feats.withColumn("hg", F.max("is_gold").over(has_gold))
        .where(F.col("hg") == 1)
        .drop("hg")
    )


N_NOT_INC = 10  # early stop after this many strictly-worse evals (main.py:79)


def early_stop_update(nb: int, best_f1: float, f1: float) -> tuple[int, float]:
    """The reference's post-eval counter (`ed_ranker.py:358-367`): a
    STRICT decrease vs the best increments the not-better counter; an
    equal-or-better eval resets it and advances the best. Stop when the
    counter reaches N_NOT_INC."""
    if f1 < best_f1:
        return nb + 1, best_f1
    return 0, f1


def run_rank_training(
    spark: SparkSession,
    sf_dir: str,
    n_steps: int = N_STEPS,
    f1_drop: float = F1_DROP,
    n_not_inc: int = N_NOT_INC,
) -> list[dict]:
    """The training loop: per step (1-indexed) score → hinge loss →
    3-scalar gradient → Adam update → post-step micro-F1 → monotone
    best-F1 LR drop → early-stop counter. Returns one dict per step
    actually run (the reference breaks AFTER the stopping eval)."""
    from ed_twitter_spark.caching import persist_tracked

    feats = persist_tracked(rank_features(spark, sf_dir))
    w1, w2, b = THETA0
    m1 = m2 = mb = v1 = v2 = vb = 0.0
    lr, best_f1, nb = RANK_LR, 0.0, 0
    out = []
    for t in range(1, n_steps + 1):
        s = F.round(F.lit(w1) * F.col("f1") + F.lit(w2) * F.col("f2") + F.lit(b), 6)
        sc = feats.withColumn("s", s)
        wnd = Window.partitionBy("subj")
        sc = sc.withColumn(
            "s_gold", F.max(F.when(F.col("is_gold") == 1, F.col("s"))).over(wnd)
        ).withColumn("nc", F.count(F.lit(1)).over(wnd))
        viol = (F.col("is_gold") == 0) & (
            F.lit(RANK_MARGIN) - F.col("s_gold") + F.col("s") > 0
        )
        sc = sc.withColumn("viol", viol.cast("int"))
        nviol = F.sum("viol").over(wnd)
        c = F.when(F.col("is_gold") == 1, -nviol / F.col("nc")).otherwise(
            F.col("viol") / F.col("nc")
        )
        lterm = F.when(
            F.col("viol") == 1,
            (F.lit(RANK_MARGIN) - F.col("s_gold") + F.col("s")) / F.col("nc"),
        ).otherwise(F.lit(0.0))
        agg = (
            sc.withColumn("c", c)
            .withColumn("lterm", lterm)
            .agg(
                F.countDistinct("subj").alias("M"),
                F.sum("lterm").alias("L"),
                F.sum(F.col("c") * F.col("f1")).alias("g1"),
                F.sum(F.col("c") * F.col("f2")).alias("g2"),
                F.sum("c").alias("gb"),
            )
            .first()
        )
        M = agg["M"]
        avg_loss = round(agg["L"] / M, 6)
        g1, g2, gb = (round(agg[k] / M, 6) for k in ("g1", "g2", "gb"))

        # Adam (torch defaults), bias-corrected; inputs are the 6-dp
        # gradients so both engines evolve identical IEEE state
        m1 = ADAM_B1 * m1 + (1 - ADAM_B1) * g1
        m2 = ADAM_B1 * m2 + (1 - ADAM_B1) * g2
        mb = ADAM_B1 * mb + (1 - ADAM_B1) * gb
        v1 = ADAM_B2 * v1 + (1 - ADAM_B2) * g1 * g1
        v2 = ADAM_B2 * v2 + (1 - ADAM_B2) * g2 * g2
        vb = ADAM_B2 * vb + (1 - ADAM_B2) * gb * gb
        import math

        bc1, bc2 = 1 - ADAM_B1**t, 1 - ADAM_B2**t
        lr_used = lr
        # math.sqrt (correctly-rounded IEEE) — NOT ** 0.5 (libm pow), so
        # the scalar state matches the SQL twin's sqrt() bit-for-bit
        w1 = w1 - lr_used * (m1 / bc1) / (math.sqrt(v1 / bc2) + ADAM_EPS)
        w2 = w2 - lr_used * (m2 / bc1) / (math.sqrt(v2 / bc2) + ADAM_EPS)
        b = b - lr_used * (mb / bc1) / (math.sqrt(vb / bc2) + ADAM_EPS)
        w1, w2, b = round(w1, 6), round(w2, 6), round(b, 6)

        # post-step micro-F1 (every mention gets a prediction → P = R)
        s2 = F.round(F.lit(w1) * F.col("f1") + F.lit(w2) * F.col("f2") + F.lit(b), 6)
        rnk = F.row_number().over(
            Window.partitionBy("subj").orderBy(F.desc("s2"), F.asc("ent_name"))
        )
        pred = feats.withColumn("s2", s2).withColumn("rnk", rnk).where(F.col("rnk") == 1)
        correct = pred.agg(F.sum("is_gold").alias("ok")).first()["ok"]
        micro_f1 = round(correct / M, 6)
        nb, best_f1 = early_stop_update(nb, best_f1, micro_f1)
        if best_f1 >= f1_drop:
            lr = RANK_LR_DROPPED  # monotone: best F1 never decreases
        out.append(
            {
                "step": t,
                "n_mentions": M,
                "avg_loss": avg_loss,
                "micro_f1": micro_f1,
                "lr_used": lr_used,
                "w1": w1,
                "w2": w2,
                "b": b,
            }
        )
        if nb == n_not_inc:  # break AFTER the stopping eval (ed_ranker.py:366)
            break
    return out


def rank_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, n_mentions, avg_loss, micro_f1, lr_used, w1, w2, b) — the
    oracle-checked surface of the Adam training loop."""
    rows = run_rank_training(spark, sf_dir)
    return spark.createDataFrame(
        [
            (
                r["step"],
                int(r["n_mentions"]),
                float(r["avg_loss"]),
                float(r["micro_f1"]),
                float(r["lr_used"]),
                float(r["w1"]),
                float(r["w2"]),
                float(r["b"]),
            )
            for r in rows
        ],
        "step int, n_mentions bigint, avg_loss double, micro_f1 double,"
        " lr_used double, w1 double, w2 double, b double",
    )


# ---------------------------------------------------------------------------
# DuckDB twin: features once, then the steps unrolled as chained CTEs
# ---------------------------------------------------------------------------


def _feats_sql() -> str:
    return f"""
m AS ({mentions_sql()}),
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
  -- wvid computed as a PROJECTED column (nv via cross join), never as a
  -- scalar subquery inside a join key — the latter defeats the hash join
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % nv.n AS wvid
  FROM (
    SELECT doc_id,
           unnest({TOKS_SQL}) AS tok,
           CAST(unnest(range(len({TOKS_SQL}))) AS INTEGER) AS pos
    FROM documents
  ) CROSS JOIN nv
),
ctx_sum AS MATERIALIZED (
  -- dot-of-sum: one 64-dim context-sum vector per mention, then ONE dot
  -- per candidate — the Spark side's association order, and ~|window|×
  -- less dot work than summing per-token dots (link_cosine's oracle
  -- shape, which is fine at one evaluation but not inside a step chain)
  SELECT conv_id, turn_idx, mention_idx, list(cx ORDER BY dim) AS csum
  FROM (
    SELECT m.conv_id, m.turn_idx, m.mention_idx, d.dim,
           SUM(wv.vec[d.dim + 1]) AS cx
    FROM m
    JOIN tok_pos tp
      ON m.doc_id = tp.doc_id
     AND tp.pos <> m.mention_idx
     AND abs(tp.pos - m.mention_idx) <= {COS_WINDOW}
    JOIN wv ON wv.vec_id = tp.wvid
    CROSS JOIN (SELECT CAST(unnest(range({EMB_DIMS})) AS INTEGER) AS dim) d
    GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2, 3
),
feats0 AS (
  SELECT m.conv_id || '#' || CAST(m.turn_idx AS VARCHAR) || '#' ||
           CAST(m.mention_idx AS VARCHAR) AS subj,
         kb.ent_name,
         CASE WHEN kb.ent_name = 'E' ||
                CAST({synth.gold_suffix_sql('m.doc_id', 'm.mention_idx')} AS VARCHAR)
                || '_' || m.mention THEN 1 ELSE 0 END AS is_gold,
         ROUND(COALESCE(list_dot_product(cs.csum, ev.vec), 0.0), 4) AS f1,
         ROUND(ln(kb.prior + 1e-20), 4) AS f2
  FROM m
  JOIN (SELECT kb.*,
               CAST(('0x' || substr(md5(kb.ent_name), 1, 8)) AS BIGINT) % nv.n AS evid
        FROM kb CROSS JOIN nv) kb ON kb.mention = m.mention
  JOIN wv ev ON ev.vec_id = kb.evid
  LEFT JOIN ctx_sum cs
    ON cs.conv_id = m.conv_id AND cs.turn_idx = m.turn_idx
   AND cs.mention_idx = m.mention_idx
),
feats AS MATERIALIZED (
  -- MATERIALIZED: every step's scorer and F1 pass reads this frame;
  -- without it DuckDB re-inlines the whole feature build once per
  -- reference and the unrolled chain goes exponential
  SELECT * FROM (
    SELECT *, MAX(is_gold) OVER (PARTITION BY subj) AS hg FROM feats0
  ) WHERE hg = 1
)"""


def _step_sql(t: int, f1_drop: float, n_not_inc: int) -> str:
    p = t - 1
    bc1, bc2 = 1 - ADAM_B1**t, 1 - ADAM_B2**t
    return f"""
sc{t} AS (
  SELECT f.*, th.lr, th.best_f1,
         th.m1 AS pm1, th.m2 AS pm2, th.mb AS pmb,
         th.v1 AS pv1, th.v2 AS pv2, th.vb AS pvb,
         ROUND(th.w1 * f.f1 + th.w2 * f.f2 + th.b, 6) AS s
  FROM feats f CROSS JOIN th{p} th
),
hc{t} AS (
  SELECT *,
         CASE WHEN is_gold = 0 AND {RANK_MARGIN!r} - s_gold + s > 0
              THEN 1 ELSE 0 END AS viol
  FROM (
    SELECT *,
           MAX(CASE WHEN is_gold = 1 THEN s END) OVER (PARTITION BY subj) AS s_gold,
           COUNT(*) OVER (PARTITION BY subj) AS nc
    FROM sc{t}
  )
),
cc{t} AS MATERIALIZED (
  SELECT *,
         CASE WHEN is_gold = 1
              THEN -(SUM(viol) OVER (PARTITION BY subj)) * 1.0 / nc
              ELSE viol * 1.0 / nc END AS c,
         CASE WHEN viol = 1 THEN ({RANK_MARGIN!r} - s_gold + s) / nc
              ELSE 0.0 END AS lterm
  FROM hc{t}
),
g{t} AS MATERIALIZED (
  SELECT COUNT(DISTINCT subj) AS M,
         ROUND(SUM(lterm) / COUNT(DISTINCT subj), 6) AS avg_loss,
         ROUND(SUM(c * f1) / COUNT(DISTINCT subj), 6) AS g1,
         ROUND(SUM(c * f2) / COUNT(DISTINCT subj), 6) AS g2,
         ROUND(SUM(c) / COUNT(DISTINCT subj), 6) AS gb,
         ANY_VALUE(lr) AS lr_used, ANY_VALUE(best_f1) AS pbest,
         ANY_VALUE(pm1) AS pm1, ANY_VALUE(pm2) AS pm2, ANY_VALUE(pmb) AS pmb,
         ANY_VALUE(pv1) AS pv1, ANY_VALUE(pv2) AS pv2, ANY_VALUE(pvb) AS pvb
  FROM cc{t}
),
ad{t} AS MATERIALIZED (
  SELECT *,
         {ADAM_B1!r} * pm1 + {1 - ADAM_B1!r} * g1 AS m1,
         {ADAM_B1!r} * pm2 + {1 - ADAM_B1!r} * g2 AS m2,
         {ADAM_B1!r} * pmb + {1 - ADAM_B1!r} * gb AS mb,
         {ADAM_B2!r} * pv1 + {1 - ADAM_B2!r} * g1 * g1 AS v1,
         {ADAM_B2!r} * pv2 + {1 - ADAM_B2!r} * g2 * g2 AS v2,
         {ADAM_B2!r} * pvb + {1 - ADAM_B2!r} * gb * gb AS vb
  FROM g{t}
),
nw{t} AS MATERIALIZED (
  SELECT ad.*,
         ROUND(th.w1 - ad.lr_used * (ad.m1 / {bc1!r}) / (sqrt(ad.v1 / {bc2!r}) + {ADAM_EPS!r}), 6) AS w1,
         ROUND(th.w2 - ad.lr_used * (ad.m2 / {bc1!r}) / (sqrt(ad.v2 / {bc2!r}) + {ADAM_EPS!r}), 6) AS w2,
         ROUND(th.b  - ad.lr_used * (ad.mb / {bc1!r}) / (sqrt(ad.vb / {bc2!r}) + {ADAM_EPS!r}), 6) AS b
  FROM ad{t} ad CROSS JOIN th{p} th
),
f1s{t} AS MATERIALIZED (
  SELECT ROUND(SUM(is_gold) * 1.0 / COUNT(*), 6) AS micro_f1
  FROM (
    SELECT f.subj, f.is_gold,
           ROW_NUMBER() OVER (
             PARTITION BY f.subj
             ORDER BY ROUND(nw.w1 * f.f1 + nw.w2 * f.f2 + nw.b, 6) DESC,
                      f.ent_name) AS rnk
    FROM feats f CROSS JOIN nw{t} nw
  ) WHERE rnk = 1
),
th{t} AS MATERIALIZED (
  SELECT nw.w1, nw.w2, nw.b, nw.m1, nw.m2, nw.mb, nw.v1, nw.v2, nw.vb,
         CASE WHEN GREATEST(nw.pbest, f1s.micro_f1) >= {f1_drop!r}
              THEN {RANK_LR_DROPPED!r} ELSE nw.lr_used END AS lr,
         GREATEST(nw.pbest, f1s.micro_f1) AS best_f1,
         CASE WHEN f1s.micro_f1 < nw.pbest THEN th.nb + 1 ELSE 0 END AS nb,
         th.stopped OR
           (CASE WHEN f1s.micro_f1 < nw.pbest THEN th.nb + 1 ELSE 0 END)
             = {n_not_inc} AS stopped
  FROM nw{t} nw CROSS JOIN f1s{t} f1s CROSS JOIN th{p} th
),
row{t} AS (
  SELECT {t} AS step, CAST(g.M AS BIGINT) AS n_mentions, g.avg_loss,
         f1s.micro_f1, g.lr_used, nw.w1, nw.w2, nw.b
  FROM g{t} g CROSS JOIN f1s{t} f1s CROSS JOIN nw{t} nw
  CROSS JOIN th{p} th WHERE NOT th.stopped
)"""


def rank_train_steps_sql(
    n_steps: int = N_STEPS,
    f1_drop: float = F1_DROP,
    n_not_inc: int = N_NOT_INC,
) -> str:
    th0 = (
        f"th0 AS (SELECT {THETA0[0]!r} AS w1, {THETA0[1]!r} AS w2,"
        f" {THETA0[2]!r} AS b, 0.0 AS m1, 0.0 AS m2, 0.0 AS mb,"
        f" 0.0 AS v1, 0.0 AS v2, 0.0 AS vb,"
        f" {RANK_LR!r} AS lr, 0.0 AS best_f1,"
        f" 0 AS nb, FALSE AS stopped)"
    )
    blocks = ",".join(
        _step_sql(t, f1_drop, n_not_inc) for t in range(1, n_steps + 1)
    )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM row{t}" for t in range(1, n_steps + 1)
    )
    return "WITH " + _feats_sql() + "," + th0 + "," + blocks + "\n" + union

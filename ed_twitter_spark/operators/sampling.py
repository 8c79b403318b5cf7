"""K8/K9 — the embedding-training support operators, made deterministic.

* ``negative_sampling`` — the reference samples negative words from the
  unigram^0.6 distribution by binary-searching a cumulative-frequency
  table with uniform randoms (`w_freq_index.py:106-122`,
  `minibatch_a.py:97-111`). Distributed + testable, the randoms become
  **deterministic stratified probes** u_k = (k+½)/K · total — the inverse-
  CDF structure (power weighting, cumulative table, first-bucket-≥-probe
  search) is identical, only the RNG is pinned. The search is an
  interval assignment: each (cum−w, cum] bucket enumerates the probe
  indices that can land in it (Σ candidates ≈ K + |vocab|, no theta
  join anywhere in the plan).
* ``ent_vec_init`` — entity-embedding initialization as the average of
  the entity's title-word vectors (`entities/learn_e2v/model_a.py:22-53`),
  emitted per (entity, dim) so the oracle hashes every component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.caching import persist_tracked
from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col

N_PROBES = 100
POW = 0.6
MIN_FREQ = 10
CUM_PARTS = 8  # range partitions of the two-pass distributed prefix sum
# power weights are quantized to integer micro-units so every partial sum
# is exact — the prefix sum is then identical under ANY summation order
# (per-partition + offset in Spark, sequential window in DuckDB) and no
# probe can flip buckets on a floating-point ulp
W_SCALE = 1_000_000


def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, word) — the word each stratified probe lands on.

    The cumulative table is built with the standard **two-pass
    per-partition-offset prefix sum**: range-repartition by the rank order,
    rank + cumulate locally per partition (parallel), then shift each
    partition by the counts/sums of its predecessors (a CUM_PARTS-row
    triangular self-join — constant size at any vocab). No global
    single-partition sort/window touches the vocabulary-sized table, so
    the plan survives a vocab 1000× this one.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wc = (
        docs.select(F.explode(toks_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= MIN_FREQ)
    )
    wq = wc.select(
        "word",
        "freq",
        F.round(F.pow("freq", F.lit(POW)) * W_SCALE).cast("long").alias("w"),
    )
    # pass 1: range partitions follow the global (freq desc, word) order, so
    # partition-local rank/cumsum + predecessor offsets = the global ones.
    # The ranked table is persisted — it is vocab-sized (≪ corpus) and every
    # downstream branch reads it, so the corpus word-count runs exactly once.
    ranged = wq.repartitionByRange(CUM_PARTS, F.desc("freq"), F.asc("word"))
    part = ranged.withColumn("pid", F.spark_partition_id())
    wloc = Window.partitionBy("pid").orderBy(F.desc("freq"), F.asc("word"))
    local = persist_tracked(
        part.withColumn("lrn", F.row_number().over(wloc)).withColumn(
            "lcum", F.sum("w").over(wloc.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    # pass 2: per-partition totals (CUM_PARTS rows). Each source partition
    # explodes to every target pid, and ONE aggregation produces the
    # exclusive prefix offsets (sum over src < pid) AND the grand total
    # (sum over all src) per target — no self-join, no scalar cross join,
    # no window; the fan-out is the constant CUM_PARTS².
    per_part = local.groupBy("pid").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("w").alias("wsum")
    )
    fan = per_part.select(
        "cnt",
        "wsum",
        F.col("pid").alias("src"),
        F.explode(F.sequence(F.lit(0), F.lit(CUM_PARTS - 1))).alias("pid"),
    )
    pred = F.col("src") < F.col("pid")
    offs = fan.groupBy("pid").agg(
        F.coalesce(F.sum(F.when(pred, F.col("cnt"))), F.lit(0)).cast("long").alias("n_off"),
        F.coalesce(F.sum(F.when(pred, F.col("wsum"))), F.lit(0)).cast("long").alias("w_off"),
        # with integer micro-unit weights, Σ per-partition sums ≡ max(cum)
        # ≡ the oracle's sequential running sum — summation order cannot
        # matter, so the probes derive from the identical total as the
        # buckets
        F.sum("wsum").cast("long").alias("total"),
    )
    c = local.join(F.broadcast(offs), "pid").select(
        "word",
        (F.col("lrn") + F.col("n_off")).alias("wid"),
        (F.col("lcum") + F.col("w_off")).alias("cum"),
        (F.col("lcum") + F.col("w_off") - F.col("w")).alias("prev"),
        "total",
    )
    # Probe→bucket assignment WITHOUT a theta join: "first wid with
    # cum ≥ u" ≡ "u ∈ (cum − w, cum]" because cum is strictly increasing
    # (w ≥ 1). The probes are deterministic u_k = (k+½)/K·total, so each
    # word's interval knows which probe indices can land inside it —
    # explode over that (almost always empty) k-range with a ±1 float
    # guard, then apply the exact float condition. Candidate rows are
    # Σ(k_hi−k_lo+1) ≈ K + |vocab| (linear), vs the former
    # cum ≥ u nested-loop's ~K·|vocab|/2 intermediate.
    ck = c
    kf = F.lit(float(N_PROBES))
    k_lo = F.greatest(
        F.lit(0).cast("long"),
        F.floor(F.col("prev") / F.col("total") * kf - 0.5) - 1,
    )
    k_hi = F.least(
        F.lit(N_PROBES - 1).cast("long"),
        F.floor(F.col("cum") / F.col("total") * kf - 0.5) + 1,
    )
    cand = ck.select(
        "word",
        "cum",
        "prev",
        "total",
        F.explode(
            F.when(k_hi >= k_lo, F.sequence(k_lo, k_hi)).otherwise(
                F.lit(None).cast("array<bigint>")
            )
        ).alias("kl"),
    )
    # identical float expression to the probe build the oracle uses, so
    # the boundary comparisons match DuckDB bit-for-bit; each u lies in
    # exactly one (prev, cum] interval, hence exactly one row per k
    u = (F.col("kl") + 0.5) / N_PROBES * F.col("total")
    return cand.where((u <= F.col("cum")) & (u > F.col("prev"))).select(
        F.col("kl").cast("int").alias("k"), "word"
    )


NEGATIVE_SAMPLING_SQL = f"""
WITH tok AS (SELECT unnest({TOKS_SQL}) AS word FROM documents),
wc AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word HAVING COUNT(*) >= {MIN_FREQ}),
p AS (
  SELECT word, CAST(ROUND(power(freq, {POW}) * {W_SCALE}) AS BIGINT) AS w,
         ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS wid
  FROM wc
),
c AS (
  SELECT word, wid,
         CAST(SUM(w) OVER (ORDER BY wid ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM p
),
probes AS (
  SELECT CAST(k AS INTEGER) AS k,
         (k + 0.5) / {N_PROBES} * (SELECT MAX(cum) FROM c) AS u
  FROM UNNEST(range(0, {N_PROBES})) AS t(k)
),
hit AS (
  SELECT probes.k, MIN(c.wid) AS wid
  FROM probes JOIN c ON c.cum >= probes.u
  GROUP BY probes.k
)
SELECT hit.k, c.word FROM hit JOIN c ON c.wid = hit.wid
"""


def ent_vec_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ent_name, dim, val) — average of md5-keyed title-word vectors."""
    kb = synth.kb_alias(spark, sf_dir).select("ent_name").distinct()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vec = emb.agg(F.max("vec_id") + 1).first()[0]
    words = kb.select(
        "ent_name", F.explode(F.split("ent_name", "_")).alias("tw")
    ).select(
        "ent_name",
        (F.conv(F.substring(F.md5("tw"), 1, 6), 16, 10).cast("long") % n_vec).alias(
            "vec_id"
        ),
    )
    comp = words.join(emb, "vec_id").select(
        "ent_name", F.posexplode("embedding").alias("dim", "v")
    )
    return comp.groupBy("ent_name", "dim").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("val")
    )


ENT_VEC_INIT_SQL = f"""
WITH kb AS ({synth.KB_ALIAS_SQL}),
ents AS (SELECT DISTINCT ent_name FROM kb),
words AS (
  SELECT ent_name,
         CAST(('0x' || substr(md5(tw), 1, 6)) AS BIGINT)
           % (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id
  FROM (SELECT ent_name, unnest(string_split(ent_name, '_')) AS tw FROM ents)
),
comp AS (
  SELECT w.ent_name,
         CAST(unnest(range(len(e.embedding))) AS INTEGER) AS dim,
         CAST(unnest(e.embedding) AS DOUBLE) AS v
  FROM words w JOIN embeddings e ON e.vec_id = w.vec_id
)
SELECT ent_name, dim, ROUND(AVG(v), 6) AS val
FROM comp GROUP BY ent_name, dim
"""

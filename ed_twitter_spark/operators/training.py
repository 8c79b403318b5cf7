"""K7 — deterministic entity-embedding training epoch (max-margin).

The reference trains entity vectors with a max-margin ranking loss over
(entity, positive-context-word, negative-words) examples
(`deep-ed-pytorch/entities/learn_e2v/learn_a.py:96-98,148-208`): each
example scores cos(normalize(word_vec), normalize(ent_vec)) for one
positive word placed at a random slot among ``num_neg_words`` (default 5)
negatives drawn from unigram^0.6 (`minibatch_a.py:99-113`,
`model_a.py:56-93`), then steps ``MultiMarginLoss(margin=0.1)`` with only
the entity embedding table as parameters (word vectors stay fixed,
`learn_a.py:113`; SGD is a supported optimizer choice, `learn_a.py:118`).

The Spark distillation keeps that forward exactly and makes the epoch a
deterministic *batch* job, which is the only honest distributed shape:

* training records are the W5 ``hyperlink_contexts`` emitter's ±10 word
  slices (`minibatch_a.py:68-75` reads the same csv fields);
* the reference's three RNG draws (positive word, its slot, each
  negative) become md5 probes keyed by (doc_id, pos, i, j), and the
  negative distribution is K8's deterministic inverse-CDF probe table
  (``negative_sampling`` — same unigram^0.6 cumulative structure);
* entity vectors start from the K9 init (average of title-word vectors,
  `model_a.py:22-53`), unrounded;
* one epoch = one full-batch gradient step at lr 0.3 (`learn_a.py:22`):
  because only entity rows carry gradient, the per-example gradients
  decompose as a per-entity sum — a map-side-combined groupBy — instead
  of the reference's sequential minibatch loop. Slot scores are rounded
  to 6 decimals before the hinge so both engines (and the pytest
  transcription) make identical margin decisions.

Everything is JVM-side DataFrame algebra (array zip_with dots over the
64-dim vectors, coefficient aggregation per (entity, word-vector) pair);
no Python runs in the epoch. At 100 TB the example build is the big scan
and the only wide shuffle is the (entity, vec_id) coefficient aggregate,
which map-side combines; head entities concentrate there but the value
payload is a single double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import TOKS_SQL, h32_col, h32_sql, toks_col
from ed_twitter_spark.operators.hyperlinks import hyperlink_contexts
from ed_twitter_spark.operators.sampling import NEGATIVE_SAMPLING_SQL, negative_sampling

WORDS_PER_ENT = 4  # positives sampled per example (reference default 20, learn_a.py:25)
NEG_SLOTS = 5  # num_neg_words: 1 positive + 4 negatives (learn_a.py:28)
MARGIN = 0.1  # MultiMarginLoss margin (learn_a.py:97)
LR = 0.3  # learn_a.py:22
N_PROBES = 100  # K8 probe-table size

EMB_DIMS = 64


def _n_vec(spark: SparkSession, sf_dir: str) -> int:
    # vocab-scalar read at plan build (same pattern as ent_vec_init)
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .agg(F.max("vec_id"))
        .first()[0]
        + 1
    )


def _wvid(col, n_vec: int):
    """token → vector id, md5[:6] % n_vec (functions/fixtures.py:word_code)."""
    return F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("long") % n_vec


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _ent_init_vecs(
    spark: SparkSession, sf_dir: str, n_vec: int, ents: DataFrame
) -> DataFrame:
    """(ent_name, evec array<double>, en norm) — K9 init, unrounded.

    ``ents`` is the training universe (entities appearing as hyperlink
    golds); duplicates among title words count twice, like the
    reference's per-word loop (`model_a.py:33-48`)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tw = ents.select(
        "ent_name", F.explode(F.split("ent_name", "_")).alias("tw")
    ).select("ent_name", _wvid(F.col("tw"), n_vec).alias("vec_id"))
    comp = (
        tw.join(F.broadcast(emb), "vec_id")
        .select("ent_name", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("ent_name", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("val"))
    )
    ev = (
        comp.groupBy("ent_name")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))), lambda s: s["val"]
            ).alias("evec")
        )
        .select(
            "ent_name", "evec", F.sqrt(_dot(F.col("evec"), F.col("evec"))).alias("en")
        )
    )
    return ev


def _epoch_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared epoch inputs: (sc, ev, emb) where ``sc`` is the
    slot-score + coefficient frame, persisted because the loss, the
    coefficient aggregate, s_e, and the row count all read it (released
    by the harness via caching.release_caches)."""
    from ed_twitter_spark.caching import persist_tracked

    n_vec = _n_vec(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("wemb"),
    )
    emb = emb.select(
        "vec_id", "wemb", F.sqrt(_dot(F.col("wemb"), F.col("wemb"))).alias("wn")
    )
    hc = hyperlink_contexts(spark, sf_dir)
    ents = hc.select(F.col("gold_ent").alias("ent_name")).distinct()
    ev = _ent_init_vecs(spark, sf_dir, n_vec, ents)
    sc = _with_coeffs(_slot_scores(hc, emb, ev, n_vec, spark, sf_dir))
    return persist_tracked(sc), ev, emb


def _slot_scores(
    hc: DataFrame,
    emb: DataFrame,
    ev: DataFrame,
    n_vec: int,
    spark: SparkSession,
    sf_dir: str,
    suffix: str = "",
) -> DataFrame:
    """One row per (example, positive i, slot j) with the rounded cosine.

    Columns: doc_id, pos, ent_name, i, j, t (positive slot), word (slot
    word), wvid (its vector id), x (round(cos, 6)).

    ``suffix`` namespaces the deterministic md5 probes: the reference
    redraws its positive/slot/negative randoms every epoch
    (`learn_a.py:158-160` reads fresh minibatches each epoch), so epoch
    e ≥ 2 salts every probe key with ``@e{e}`` — epoch 1 keeps the
    unsuffixed keys so the single-epoch queries stay bit-stable.
    """
    key = F.concat_ws("#", "doc_id", "pos")
    if suffix:
        key = F.concat(key, F.lit(suffix))
    ctx = F.filter(
        F.split(F.concat_ws(" ", "hyp_left", "hyp_right"), " "),
        lambda w: (w != "EMPTYCTXT") & (w != ""),
    )
    # fallback chain of minibatch_a.py:88-97: context words, else title words
    pos_w = F.when(F.size(ctx) > 0, ctx).otherwise(F.split("gold_ent", "_"))
    base = hc.select(
        "doc_id",
        "pos",
        F.col("gold_ent").alias("ent_name"),
        key.alias("key"),
        pos_w.alias("pos_w"),
    )

    ex = base.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(WORDS_PER_ENT - 1))).alias("i")
    )
    pidx = h32_col(F.concat_ws("#", "key", F.lit("p"), "i")) % F.size("pos_w")
    tslot = h32_col(F.concat_ws("#", "key", F.lit("t"), "i")) % NEG_SLOTS
    ex = ex.select(
        "doc_id",
        "pos",
        "ent_name",
        "key",
        "i",
        F.element_at("pos_w", (pidx + 1).cast("int")).alias("wpos"),
        tslot.cast("int").alias("t"),
    )

    slots = ex.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(NEG_SLOTS - 1))).alias("j")
    )
    nk = F.when(
        F.col("j") != F.col("t"),
        (h32_col(F.concat_ws("#", "key", F.lit("n"), "i", "j")) % N_PROBES).cast("int"),
    )
    slots = slots.withColumn("nk", nk)
    probes = negative_sampling(spark, sf_dir).select(
        F.col("k").alias("nk"), F.col("word").alias("wneg")
    )
    slots = slots.join(F.broadcast(probes), "nk", "left").select(
        "doc_id",
        "pos",
        "ent_name",
        "i",
        "j",
        "t",
        F.when(F.col("j") == F.col("t"), F.col("wpos"))
        .otherwise(F.col("wneg"))
        .alias("word"),
    )
    slots = slots.withColumn("wvid", _wvid(F.col("word"), n_vec))

    scored = (
        slots.join(F.broadcast(emb), slots["wvid"] == emb["vec_id"])
        .join(F.broadcast(ev), "ent_name")
        .select(
            "doc_id",
            "pos",
            "ent_name",
            "i",
            "j",
            "t",
            "word",
            "wvid",
            # model_a.py:60-76: cos(normalize(w), normalize(e)); rounded so
            # every engine makes the same margin decision
            F.round(
                _dot(F.col("wemb"), F.col("evec"))
                / (F.col("wn") * F.col("en")),
                6,
            ).alias("x"),
        )
    )
    return scored


def _with_coeffs(scored: DataFrame) -> DataFrame:
    """Attach the per-slot MultiMarginLoss pieces: x_t, violation flag,
    per-slot loss term and dL/dx coefficient (PyTorch semantics: mean
    over examples, 1/K per class inside each example)."""
    w = Window.partitionBy("doc_id", "pos", "i")
    xt = F.max(F.when(F.col("j") == F.col("t"), F.col("x"))).over(w)
    sc = scored.withColumn("xt", xt)
    viol = (F.col("j") != F.col("t")) & (
        F.lit(MARGIN) - F.col("xt") + F.col("x") > 0
    )
    sc = sc.withColumn("viol", viol.cast("int"))
    nviol = F.sum("viol").over(w)
    c = (
        F.when(F.col("j") == F.col("t"), -nviol / F.lit(float(NEG_SLOTS)))
        .otherwise(F.col("viol") / F.lit(float(NEG_SLOTS)))
    )
    lterm = F.when(
        F.col("viol") == 1, (F.lit(MARGIN) - F.col("xt") + F.col("x")) / NEG_SLOTS
    ).otherwise(F.lit(0.0))
    return sc.withColumn("c", c).withColumn("lterm", lterm)


def train_epoch_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_examples, avg_loss) — the epoch's MultiMarginLoss (mean reduction
    over batch_size·num_words_per_ent rows, learn_a.py:166-176)."""
    sc, _, _ = _epoch_frames(spark, sf_dir)
    return sc.agg(
        (F.count(F.lit(1)) / NEG_SLOTS).cast("long").alias("n_examples"),
        F.round(F.sum("lterm") / (F.count(F.lit(1)) / NEG_SLOTS), 6).alias("avg_loss"),
    )


def _epoch_update(sc: DataFrame, ev_full: DataFrame, emb: DataFrame) -> DataFrame:
    """(ent_name, dim, val) — one full-batch max-margin step applied to
    the vectors in ``ev_full`` given the coefficiented slot frame ``sc``.

    grad_e = (1/N)·Σ_rows c·∂cos/∂e with ∂cos(w,e)/∂e = (ŵ − cos·ê)/‖e‖,
    decomposed as (Σ c·ŵ − (Σ c·x)·ê)/‖e‖ so the heavy part aggregates
    per (entity, word-vector id) before touching any 64-dim array."""
    n_rows = sc.groupBy().agg(F.count(F.lit(1)).alias("nr"))  # N·K, one row

    # per-(entity, word-vec) coefficient sums → A_e,d = Σ coef·ŵ_d
    coef = sc.groupBy("ent_name", "wvid").agg(F.sum("c").alias("coef"))
    a_ed = (
        coef.join(F.broadcast(emb), coef["wvid"] == emb["vec_id"])
        .select(
            "ent_name",
            F.posexplode(
                F.transform("wemb", lambda v: F.col("coef") * v / F.col("wn"))
            ).alias("dim", "a"),
        )
        .groupBy("ent_name", "dim")
        .agg(F.sum("a").alias("a"))
    )
    # s_e = Σ c·x per entity
    s_e = sc.groupBy("ent_name").agg(F.sum(F.col("c") * F.col("x")).alias("s"))

    ev = ev_full.select("ent_name", F.posexplode("evec").alias("dim", "e"), "en")
    upd = (
        ev.join(a_ed, ["ent_name", "dim"], "left")
        .join(F.broadcast(s_e), "ent_name", "left")
        .crossJoin(F.broadcast(n_rows))
        .select(
            "ent_name",
            "dim",
            F.round(
                F.col("e")
                - F.lit(LR)
                * (
                    F.coalesce(F.col("a"), F.lit(0.0))
                    - F.coalesce(F.col("s"), F.lit(0.0)) * F.col("e") / F.col("en")
                )
                / F.col("en")
                / (F.col("nr") / NEG_SLOTS),
                6,
            ).alias("val"),
        )
    )
    return upd


def train_entity_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ent_name, dim, val) — entity vectors after one full-batch
    max-margin step from the K9 init."""
    sc, ev_full, emb = _epoch_frames(spark, sf_dir)
    return _epoch_update(sc, ev_full, emb)


# ---------------------------------------------------------------------------
# K7 full scope — the multi-epoch loop (learn_a.py:148-208)
# ---------------------------------------------------------------------------

N_EPOCHS = 3  # registry/oracle default (reference runs 85, learn_a.py:137)
EPOCH_STAGE_VERSION = "v1"  # bump when epoch semantics change


def _epoch_suffix(epoch: int) -> str:
    return "" if epoch == 1 else f"@e{epoch}"


def _vecs_of(comp: DataFrame) -> DataFrame:
    """(ent_name, dim, val) components → (ent_name, evec, en)."""
    return (
        comp.groupBy("ent_name")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))), lambda s: s["val"]
            ).alias("evec")
        )
        .select(
            "ent_name", "evec", F.sqrt(_dot(F.col("evec"), F.col("evec"))).alias("en")
        )
    )


def _default_epoch_root(sf_dir: str) -> str:
    """Checkpoint root keyed by (path, input content signature): a
    regenerated or cache-restored sf_dir lands in a fresh directory, so
    concurrent runs over different data can never interleave writes in
    one stage dir, and runs over identical data write identical bytes."""
    import hashlib

    key = f"{sf_dir}|{_input_stat_sig(sf_dir)}"
    return f"/tmp/ed_twitter_train_epochs/{hashlib.md5(key.encode()).hexdigest()[:10]}"


def _input_stat_sig(sf_dir: str) -> str:
    """Content signature of the parquet inputs the epoch chain reads.
    Mixed into every epoch fingerprint so a REGENERATED sf_dir (same
    path, new data — the driver rewrites /root/testdata per round)
    invalidates stale /tmp checkpoints instead of serving old vectors
    against fresh oracle data. Beyond (size, mtime_ns), each file
    contributes a digest of its parquet FOOTER bytes (row counts,
    column min/max statistics, offsets — pyarrow reads just the footer,
    not the data pages), so even a `cp -p`/cache-restored file with
    preserved stat metadata but different content re-keys the chain;
    two files with identical footers are byte-identical data in
    practice (the footer embeds per-column chunk offsets + stats)."""
    import hashlib
    import os

    parts = []
    for t in ("documents", "embeddings"):
        p = f"{sf_dir}/{t}.parquet"
        try:
            st = os.stat(p)
            try:
                import pyarrow.parquet as pq

                md = pq.ParquetFile(p).metadata
                foot = hashlib.md5(
                    repr(
                        (
                            md.num_rows,
                            md.num_row_groups,
                            md.serialized_size,
                            [
                                (
                                    md.row_group(g).column(c).statistics.min
                                    if md.row_group(g).column(c).statistics
                                    else None,
                                    md.row_group(g).column(c).statistics.max
                                    if md.row_group(g).column(c).statistics
                                    else None,
                                    md.row_group(g).column(c).total_compressed_size,
                                    md.row_group(g).column(c).file_offset,
                                )
                                for g in range(md.num_row_groups)
                                for c in range(md.row_group(g).num_columns)
                            ],
                        )
                    ).encode()
                ).hexdigest()[:12]
            except Exception:
                foot = "nofooter"
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}:{foot}")
        except OSError:
            parts.append(f"{t}:missing")
    return "|".join(parts)


ADAGRAD_EPS = 1e-10  # torch.optim.Adagrad default (learn_a.py:112-113)


def _epoch_grad(sc: DataFrame, ev_full: DataFrame, emb: DataFrame) -> DataFrame:
    """(ent_name, dim, e, g) — the raw full-batch gradient, rounded to
    6 dp (the cross-engine state representation), beside the current
    component. Same decomposition as `_epoch_update`; kept separate so the
    long-committed SGD value chain (which rounds only the updated value)
    stays bit-stable."""
    n_rows = sc.groupBy().agg(F.count(F.lit(1)).alias("nr"))
    coef = sc.groupBy("ent_name", "wvid").agg(F.sum("c").alias("coef"))
    a_ed = (
        coef.join(F.broadcast(emb), coef["wvid"] == emb["vec_id"])
        .select(
            "ent_name",
            F.posexplode(
                F.transform("wemb", lambda v: F.col("coef") * v / F.col("wn"))
            ).alias("dim", "a"),
        )
        .groupBy("ent_name", "dim")
        .agg(F.sum("a").alias("a"))
    )
    s_e = sc.groupBy("ent_name").agg(F.sum(F.col("c") * F.col("x")).alias("s"))
    ev = ev_full.select("ent_name", F.posexplode("evec").alias("dim", "e"), "en")
    return (
        ev.join(a_ed, ["ent_name", "dim"], "left")
        .join(F.broadcast(s_e), "ent_name", "left")
        .crossJoin(F.broadcast(n_rows))
        .select(
            "ent_name",
            "dim",
            "e",
            F.round(
                (
                    F.coalesce(F.col("a"), F.lit(0.0))
                    - F.coalesce(F.col("s"), F.lit(0.0)) * F.col("e") / F.col("en")
                )
                / F.col("en")
                / (F.col("nr") / NEG_SLOTS),
                6,
            ).alias("g"),
        )
    )


def run_train_epochs(
    spark: SparkSession,
    sf_dir: str,
    n_epochs: int = N_EPOCHS,
    checkpoint_root: str | None = None,
    resume: bool = True,
    optimizer: str = "sgd",
) -> tuple[DataFrame, DataFrame]:
    """The reference's epoch loop (`learn_a.py:148-208`), distributed.

    ``optimizer``: "sgd" (one plain full-batch step per epoch) or
    "adagrad" — the reference's actual optimizer (`learn_a.py:112-113`,
    torch Adagrad, lr 0.3): per-component squared-gradient accumulators
    carried across epochs as their own checkpointed stage, update
    e − lr·g/(√G + 1e-10). Gradients are rounded to 6 dp before entering
    the accumulator (the shared cross-engine state representation); the
    remaining arithmetic (g², Σ over the fixed epoch order, IEEE sqrt) is
    exactly reproducible in both engines.

    Epoch k+1 consumes epoch k's entity vectors exactly as the reference's
    optimizer state persists across epochs; every epoch redraws its
    positive/slot/negative probes (suffix-salted md5, mirroring the fresh
    minibatch sampling per epoch) and takes one deterministic full-batch
    step. Each epoch's vectors AND loss row are materialized through the
    S10 checkpoint machinery (`io.write_stage` — data + lineage record,
    the analog of ``ent_vecs__ep_{k}``, `learn_a.py:199-208`): the
    boundary truncates lineage (the epoch-k plan never re-executes inside
    epoch k+1), and a killed run resumes at the first epoch whose recorded
    fingerprint is missing or stale.

    Returns ``(losses, final_components)`` where losses has one row per
    epoch ``(epoch, n_examples, avg_loss)`` and final_components is
    ``(ent_name, dim, val)`` after the last epoch.

    Scale shape: the per-epoch wide work is the same as the single epoch
    (context scan is read from the persisted W5 frame, the coefficient
    aggregate map-side combines); the epoch boundary is an entity-count-
    sized dim table — at 10^12 turns each epoch is one bounded job and the
    chain is N jobs, not one N-times-deeper plan.
    """
    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.caching import persist_tracked

    root = checkpoint_root or _default_epoch_root(sf_dir)
    n_vec = _n_vec(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("wemb"),
    )
    emb = emb.select(
        "vec_id", "wemb", F.sqrt(_dot(F.col("wemb"), F.col("wemb"))).alias("wn")
    )

    hc = None  # built lazily — a fully-resumed run never scans the corpus

    def _contexts() -> DataFrame:
        nonlocal hc
        if hc is None:
            hc = persist_tracked(hyperlink_contexts(spark, sf_dir))
        return hc

    if optimizer not in ("sgd", "adagrad"):
        raise ValueError(f"unknown optimizer {optimizer!r}")
    pfx = "" if optimizer == "sgd" else "adagrad_"
    comp = None  # (ent_name, dim, val) of the previous epoch (None → K9 init)
    gstate = None  # (ent_name, dim, gsq) adagrad accumulator (None → zeros)
    losses: list[DataFrame] = []
    fp_prev = _input_stat_sig(sf_dir)
    import time

    kinds = ["ent_vecs", "train_loss"] + (["gsq"] if optimizer == "adagrad" else [])
    lineages = kgio.read_lineages(
        spark, root, [f"{pfx}{k}_ep_{e}" for e in range(1, n_epochs + 1) for k in kinds]
    ) if resume else {}
    for epoch in range(1, n_epochs + 1):
        vec_stage = f"{pfx}ent_vecs_ep_{epoch}"
        loss_stage = f"{pfx}train_loss_ep_{epoch}"
        gsq_stage = f"{pfx}gsq_ep_{epoch}"
        fp = kgio.fingerprint(
            vec_stage, EPOCH_STAGE_VERSION, optimizer, sf_dir, fp_prev
        )
        fp_prev = fp
        recs = [lineages.get(f"{pfx}{k}_ep_{epoch}") for k in kinds]
        if all(rec is not None and rec["fingerprint"] == fp for rec in recs):
            comp = kgio.read_stage(spark, root, vec_stage)
            if optimizer == "adagrad":
                gstate = kgio.read_stage(spark, root, gsq_stage)
            losses.append(kgio.read_stage(spark, root, loss_stage))
            continue
        t0 = time.time()
        ev = _ent_init_vecs(
            spark,
            sf_dir,
            n_vec,
            _contexts().select(F.col("gold_ent").alias("ent_name")).distinct(),
        ) if comp is None else _vecs_of(comp)
        sc = persist_tracked(
            _with_coeffs(
                _slot_scores(
                    _contexts(), emb, ev, n_vec, spark, sf_dir, _epoch_suffix(epoch)
                )
            )
        )
        loss = sc.agg(
            (F.count(F.lit(1)) / NEG_SLOTS).cast("long").alias("n_examples"),
            F.round(F.sum("lterm") / (F.count(F.lit(1)) / NEG_SLOTS), 6).alias(
                "avg_loss"
            ),
        ).select(F.lit(epoch).alias("epoch"), "n_examples", "avg_loss")
        if optimizer == "sgd":
            upd = _epoch_update(sc, ev, emb)
        else:
            grad = _epoch_grad(sc, ev, emb)
            if gstate is None:
                grad = grad.withColumn("gsq_prev", F.lit(0.0))
            else:
                grad = grad.join(
                    gstate.withColumnRenamed("gsq", "gsq_prev"),
                    ["ent_name", "dim"],
                    "left",
                ).withColumn("gsq_prev", F.coalesce("gsq_prev", F.lit(0.0)))
            grad = grad.withColumn(
                "gsq", F.col("gsq_prev") + F.col("g") * F.col("g")
            )
            upd = grad.select(
                "ent_name",
                "dim",
                F.round(
                    F.col("e")
                    - F.lit(LR)
                    * F.col("g")
                    / (F.sqrt("gsq") + F.lit(ADAGRAD_EPS)),
                    6,
                ).alias("val"),
            )
            kgio.write_stage(
                grad.select("ent_name", "dim", "gsq"),
                root,
                gsq_stage,
                fp,
                [],
                started_at=t0,
            )
            gstate = kgio.read_stage(spark, root, gsq_stage)
        kgio.write_stage(upd, root, vec_stage, fp, [], started_at=t0)
        comp = kgio.read_stage(spark, root, vec_stage)
        kgio.write_stage(loss, root, loss_stage, fp, [vec_stage], started_at=t0)
        losses.append(kgio.read_stage(spark, root, loss_stage))

    out = losses[0]
    for extra in losses[1:]:
        out = out.unionByName(extra)
    return out, comp


def train_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(epoch, n_examples, avg_loss) per epoch of the N-epoch loop —
    the oracle-checked surface of `run_train_epochs` (the loss sequence
    pins every epoch's slot scores, hinge decisions AND the vectors the
    next epoch consumed, since epoch k's scores read epoch k−1's step)."""
    losses, _ = run_train_epochs(spark, sf_dir)
    return losses.select(
        "epoch", "n_examples", F.col("avg_loss").cast("double").alias("avg_loss")
    )


def train_epochs_vectors(
    spark: SparkSession, sf_dir: str, n_epochs: int = N_EPOCHS
) -> DataFrame:
    """(ent_name, dim, val) after ``n_epochs`` chained epochs."""
    _, comp = run_train_epochs(spark, sf_dir, n_epochs=n_epochs)
    return comp


def fixed_batch_loss(
    spark: SparkSession, sf_dir: str, comp: DataFrame | None = None
) -> DataFrame:
    """(avg_loss) of the *epoch-1* example set under the given vectors
    (K9 init when ``comp`` is None) with NO update — the held-fixed-batch
    probe the multi-epoch test uses to show training actually descends
    (per-epoch train losses are not comparable across epochs because each
    epoch redraws its examples, exactly like the reference's fresh
    minibatches)."""
    n_vec = _n_vec(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("wemb"),
    )
    emb = emb.select(
        "vec_id", "wemb", F.sqrt(_dot(F.col("wemb"), F.col("wemb"))).alias("wn")
    )
    hc = hyperlink_contexts(spark, sf_dir)
    if comp is None:
        ents = hc.select(F.col("gold_ent").alias("ent_name")).distinct()
        ev = _ent_init_vecs(spark, sf_dir, n_vec, ents)
    else:
        ev = _vecs_of(comp)
    sc = _with_coeffs(_slot_scores(hc, emb, ev, n_vec, spark, sf_dir))
    return sc.agg(
        F.round(F.sum("lterm") / (F.count(F.lit(1)) / NEG_SLOTS), 6).alias("avg_loss")
    )


def epoch_relatedness_validation(
    spark: SparkSession,
    sf_dir: str,
    rel_pairs: DataFrame,
    n_epochs: int = N_EPOCHS,
    checkpoint_root: str | None = None,
    resume: bool = True,
) -> DataFrame:
    """Per-epoch entity-relatedness validation — the reference validates
    every epoch's entity vectors on the relatedness validation split
    (`learn_a.py:128-139`: compute_relatedness each epoch, logged beside
    the train loss). One row per epoch 0..n_epochs where epoch 0 is the
    K9 init and epoch k the vectors after k chained epochs; columns
    (epoch, map, ndcg1, ndcg5, ndcg10, mrr).

    ``rel_pairs``: (query_id int, e1 string, e2 string, label int) with
    e1/e2 = ent_name keys into the trained vector table — the candidate
    ranking is by round-6 cosine of the epoch's vectors, metrics are the
    reference-exact MAP/NDCG (sources.relatedness.relatedness_metrics)
    plus MRR of the first relevant candidate.

    Training runs (or resumes) once; each epoch's vectors are then read
    back from the S10 checkpoint stages, so the validation adds only
    |pairs|-sized scoring jobs on top of the chain. IMPORTANT honesty
    note (BASELINE.md r4): on the driver's synthetic corpus the token
    stream is iid-uniform — there is NO co-occurrence structure for
    training to learn, so this validation is flat there by construction.
    The gated test (tests/test_training.py) therefore runs it on a
    deterministic topic-structured fixture corpus where windowed
    co-occurrence is the ONLY signal (the title-word init cannot encode
    it), and asserts epoch-N MRR strictly beats the init."""
    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.sources.relatedness import relatedness_metrics

    root = checkpoint_root or _default_epoch_root(sf_dir)
    run_train_epochs(
        spark, sf_dir, n_epochs=n_epochs, checkpoint_root=root, resume=resume
    )
    n_vec = _n_vec(spark, sf_dir)
    ents = (
        hyperlink_contexts(spark, sf_dir)
        .select(F.col("gold_ent").alias("ent_name"))
        .distinct()
    )
    out = None
    for epoch in range(0, n_epochs + 1):
        if epoch == 0:
            vecs = _ent_init_vecs(spark, sf_dir, n_vec, ents)
        else:
            vecs = _vecs_of(kgio.read_stage(spark, root, f"ent_vecs_ep_{epoch}"))
        vecs = vecs.select("ent_name", "evec")
        scored = (
            rel_pairs.join(
                vecs.select(F.col("ent_name").alias("e1"), F.col("evec").alias("v1")),
                "e1",
            )
            .join(
                vecs.select(F.col("ent_name").alias("e2"), F.col("evec").alias("v2")),
                "e2",
            )
            .select(
                "query_id",
                "e2",
                "label",
                F.round(
                    _dot(F.col("v1"), F.col("v2"))
                    / (
                        F.sqrt(_dot(F.col("v1"), F.col("v1")))
                        * F.sqrt(_dot(F.col("v2"), F.col("v2")))
                    ),
                    6,
                ).alias("score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("e2"))
        first_rel = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("label") == 1)
            .groupBy("query_id")
            .agg(F.min("rn").alias("first_rel"))
        )
        mrr = first_rel.agg(F.round(F.avg(1.0 / F.col("first_rel")), 6).alias("mrr"))
        row = (
            relatedness_metrics(scored)
            .crossJoin(mrr)
            .select(F.lit(epoch).alias("epoch"), "map", "ndcg1", "ndcg5", "ndcg10", "mrr")
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# DuckDB twins — the same epoch as one SQL pipeline
# ---------------------------------------------------------------------------

_WVID_SQL = "CAST(('0x' || substr(md5({w}), 1, 6)) AS BIGINT) % (SELECT MAX(vec_id) + 1 FROM embeddings)"

_SLOT_SQL = f"""
hyp AS ({{HYP_SQL}}),
probes AS ({NEGATIVE_SAMPLING_SQL}),
wv AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS wemb,
         sqrt(list_dot_product(list_transform(embedding, v -> CAST(v AS DOUBLE)),
                               list_transform(embedding, v -> CAST(v AS DOUBLE)))) AS wn
  FROM embeddings
),
einit AS (
  SELECT ent_name, dim, AVG(v) AS val
  FROM (
    SELECT tw.ent_name,
           CAST(unnest(range(len(wv.wemb))) AS INTEGER) AS dim,
           unnest(wv.wemb) AS v
    FROM (
      SELECT ent_name, {_WVID_SQL.format(w='tw')} AS vec_id
      FROM (SELECT ent_name, unnest(string_split(ent_name, '_')) AS tw
            FROM (SELECT DISTINCT gold_ent AS ent_name FROM hyp))
    ) tw JOIN wv ON wv.vec_id = tw.vec_id
  ) GROUP BY ent_name, dim
),
ev AS (
  SELECT ent_name, list(val ORDER BY dim) AS evec,
         sqrt(list_dot_product(list(val ORDER BY dim), list(val ORDER BY dim))) AS en
  FROM einit GROUP BY ent_name
),
base AS (
  SELECT doc_id, pos, gold_ent AS ent_name,
         doc_id || '#' || CAST(pos AS VARCHAR) AS key,
         CASE WHEN len(ctx) > 0 THEN ctx ELSE string_split(gold_ent, '_') END AS pos_w
  FROM (
    SELECT *, list_filter(string_split(hyp_left || ' ' || hyp_right, ' '),
                          w -> w <> 'EMPTYCTXT' AND w <> '') AS ctx
    FROM hyp
  )
),
ex AS (
  SELECT doc_id, pos, ent_name, key, i,
         pos_w[CAST({h32_sql("key || '#p#' || CAST(i AS VARCHAR)")} % len(pos_w) AS INTEGER) + 1] AS wpos,
         CAST({h32_sql("key || '#t#' || CAST(i AS VARCHAR)")} % {NEG_SLOTS} AS INTEGER) AS t
  FROM base, UNNEST(range(0, {WORDS_PER_ENT})) AS s(i)
),
slots AS (
  SELECT q.doc_id, q.pos, q.ent_name, q.i, q.j, q.t,
         CASE WHEN q.j = q.t THEN q.wpos ELSE p.word END AS word
  FROM (
    SELECT ex.*, s.j,
           CAST({h32_sql("ex.key || '#n#' || CAST(ex.i AS VARCHAR) || '#' || CAST(s.j AS VARCHAR)")} % {N_PROBES} AS INTEGER) AS nk
    FROM ex, UNNEST(range(0, {NEG_SLOTS})) AS s(j)
  ) q
  LEFT JOIN probes p ON q.j <> q.t AND p.k = q.nk
),
scored AS MATERIALIZED (
  -- wvid PROJECTED before the join: the scalar subquery inside a join
  -- key defeats the hash join (see cosine_linker.py's oracle note)
  SELECT sl.doc_id, sl.pos, sl.ent_name, sl.i, sl.j, sl.t, sl.word, sl.wvid,
         ROUND(list_dot_product(wv.wemb, ev.evec) / (wv.wn * ev.en), 6) AS x
  FROM (SELECT s.*, {_WVID_SQL.format(w='s.word')} AS wvid FROM slots s) sl
  JOIN wv ON wv.vec_id = sl.wvid
  JOIN ev ON ev.ent_name = sl.ent_name
),
cf AS (
  SELECT *,
         CASE WHEN j <> t AND {MARGIN} - xt + x > 0 THEN 1 ELSE 0 END AS viol
  FROM (
    SELECT *, MAX(CASE WHEN j = t THEN x END)
                OVER (PARTITION BY doc_id, pos, i) AS xt
    FROM scored
  )
),
cc AS MATERIALIZED (
  SELECT *,
         CASE WHEN j = t
              THEN -(SUM(viol) OVER (PARTITION BY doc_id, pos, i)) / {NEG_SLOTS}.0
              ELSE viol / {NEG_SLOTS}.0 END AS c,
         CASE WHEN viol = 1 THEN ({MARGIN} - xt + x) / {NEG_SLOTS} ELSE 0.0 END AS lterm
  FROM cf
)
"""


def _hyp_sql() -> str:
    from ed_twitter_spark.operators.hyperlinks import HYPERLINK_CONTEXTS_SQL

    return HYPERLINK_CONTEXTS_SQL


def train_epoch_loss_sql() -> str:
    return (
        "WITH "
        + _SLOT_SQL.format(HYP_SQL=_hyp_sql())
        + f"""
SELECT CAST(COUNT(*) / {NEG_SLOTS} AS BIGINT) AS n_examples,
       ROUND(SUM(lterm) / (COUNT(*) / {NEG_SLOTS}), 6) AS avg_loss
FROM cc
"""
    )


# --- multi-epoch twin: the same chain unrolled, one CTE block per epoch ---

_EPOCH_PREFIX_SQL = f"""
hyp AS ({{HYP_SQL}}),
probes AS ({NEGATIVE_SAMPLING_SQL}),
wv AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS wemb,
         sqrt(list_dot_product(list_transform(embedding, v -> CAST(v AS DOUBLE)),
                               list_transform(embedding, v -> CAST(v AS DOUBLE)))) AS wn
  FROM embeddings
),
ei0 AS MATERIALIZED (
  SELECT ent_name, dim, AVG(v) AS val
  FROM (
    SELECT tw.ent_name,
           CAST(unnest(range(len(wv.wemb))) AS INTEGER) AS dim,
           unnest(wv.wemb) AS v
    FROM (
      SELECT ent_name, {_WVID_SQL.format(w='tw')} AS vec_id
      FROM (SELECT ent_name, unnest(string_split(ent_name, '_')) AS tw
            FROM (SELECT DISTINCT gold_ent AS ent_name FROM hyp))
    ) tw JOIN wv ON wv.vec_id = tw.vec_id
  ) GROUP BY ent_name, dim
),
ev0 AS MATERIALIZED (
  SELECT ent_name, list(val ORDER BY dim) AS evec,
         sqrt(list_dot_product(list(val ORDER BY dim), list(val ORDER BY dim))) AS en
  FROM ei0 GROUP BY ent_name
),
base AS (
  SELECT doc_id, pos, gold_ent AS ent_name,
         doc_id || '#' || CAST(pos AS VARCHAR) AS key,
         CASE WHEN len(ctx) > 0 THEN ctx ELSE string_split(gold_ent, '_') END AS pos_w
  FROM (
    SELECT *, list_filter(string_split(hyp_left || ' ' || hyp_right, ' '),
                          w -> w <> 'EMPTYCTXT' AND w <> '') AS ctx
    FROM hyp
  )
)
"""


def _epoch_block_sql(e: int) -> str:
    """CTE block for epoch ``e`` reading vectors ei{e-1}/ev{e-1} and
    producing loss source cc{e} + updated vectors ei{e}/ev{e}."""
    p = e - 1
    return _cc_chain_sql(e) + f""",
ei{e} AS MATERIALIZED (
  SELECT evd.ent_name, evd.dim,
         ROUND(evd.e - {LR} * (COALESCE(a_ed.a, 0.0)
                   - COALESCE(s_e.s, 0.0) * evd.e / evd.en)
               / evd.en / (nr.nr / {NEG_SLOTS}), 6) AS val
  FROM (SELECT ev.ent_name, ei.dim, ei.val AS e, ev.en
        FROM ei{p} ei JOIN ev{p} ev ON ev.ent_name = ei.ent_name) evd
  LEFT JOIN a_ed{e} a_ed ON a_ed.ent_name = evd.ent_name AND a_ed.dim = evd.dim
  LEFT JOIN s_e{e} s_e ON s_e.ent_name = evd.ent_name
  CROSS JOIN nr{e} nr
),
ev{e} AS MATERIALIZED (
  SELECT ent_name, list(val ORDER BY dim) AS evec,
         sqrt(list_dot_product(list(val ORDER BY dim), list(val ORDER BY dim))) AS en
  FROM ei{e} GROUP BY ent_name
)"""


def _cc_chain_sql(e: int) -> str:
    """The optimizer-independent per-epoch CTEs: probe draws, slot scores
    against ev{e-1}, maxm coefficients, and the gradient aggregates."""
    suf = _epoch_suffix(e)
    p = e - 1
    return f"""
ex{e} AS (
  SELECT doc_id, pos, ent_name, key, i,
         pos_w[CAST({h32_sql(f"key || '{suf}#p#' || CAST(i AS VARCHAR)")} % len(pos_w) AS INTEGER) + 1] AS wpos,
         CAST({h32_sql(f"key || '{suf}#t#' || CAST(i AS VARCHAR)")} % {NEG_SLOTS} AS INTEGER) AS t
  FROM base, UNNEST(range(0, {WORDS_PER_ENT})) AS s(i)
),
slots{e} AS (
  SELECT q.doc_id, q.pos, q.ent_name, q.i, q.j, q.t,
         CASE WHEN q.j = q.t THEN q.wpos ELSE pb.word END AS word
  FROM (
    SELECT ex.*, s.j,
           CAST({h32_sql(f"ex.key || '{suf}#n#' || CAST(ex.i AS VARCHAR) || '#' || CAST(s.j AS VARCHAR)")} % {N_PROBES} AS INTEGER) AS nk
    FROM ex{e} ex, UNNEST(range(0, {NEG_SLOTS})) AS s(j)
  ) q
  LEFT JOIN probes pb ON q.j <> q.t AND pb.k = q.nk
),
scored{e} AS (
  SELECT sl.doc_id, sl.pos, sl.ent_name, sl.i, sl.j, sl.t, sl.wvid,
         ROUND(list_dot_product(wv.wemb, ev.evec) / (wv.wn * ev.en), 6) AS x
  FROM (SELECT s.*, {_WVID_SQL.format(w='s.word')} AS wvid FROM slots{e} s) sl
  JOIN wv ON wv.vec_id = sl.wvid
  JOIN ev{p} ev ON ev.ent_name = sl.ent_name
),
cc{e} AS (
  SELECT *,
         CASE WHEN j = t
              THEN -(SUM(viol) OVER (PARTITION BY doc_id, pos, i)) / {NEG_SLOTS}.0
              ELSE viol / {NEG_SLOTS}.0 END AS c,
         CASE WHEN viol = 1 THEN ({MARGIN} - xt + x) / {NEG_SLOTS} ELSE 0.0 END AS lterm
  FROM (
    SELECT *,
           CASE WHEN j <> t AND {MARGIN} - xt + x > 0 THEN 1 ELSE 0 END AS viol
    FROM (
      SELECT *, MAX(CASE WHEN j = t THEN x END)
                  OVER (PARTITION BY doc_id, pos, i) AS xt
      FROM scored{e}
    )
  )
),
nr{e} AS (SELECT COUNT(*) AS nr FROM cc{e}),
coef{e} AS (SELECT ent_name, wvid, SUM(c) AS coef FROM cc{e} GROUP BY ent_name, wvid),
a_ed{e} AS (
  SELECT ent_name, dim, SUM(a) AS a
  FROM (
    SELECT coef.ent_name,
           CAST(unnest(range(len(wv.wemb))) AS INTEGER) AS dim,
           unnest(list_transform(wv.wemb, v -> coef.coef * v / wv.wn)) AS a
    FROM coef{e} coef JOIN wv ON wv.vec_id = coef.wvid
  ) GROUP BY ent_name, dim
),
s_e{e} AS (SELECT ent_name, SUM(c * x) AS s FROM cc{e} GROUP BY ent_name)"""


def _adagrad_block_sql(e: int) -> str:
    """CTE block for one Adagrad epoch: the shared chain, then the raw
    6-dp gradient g{e}, the squared-gradient accumulator gs{e} (carried
    from gs{e-1}), and the e − lr·g/(√G + eps) update."""
    p = e - 1
    prev = (
        "0.0"
        if e == 1
        else "COALESCE(gp.gsq, 0.0)"
    )
    join_prev = (
        ""
        if e == 1
        else f"LEFT JOIN gs{p} gp ON gp.ent_name = g.ent_name AND gp.dim = g.dim"
    )
    return _cc_chain_sql(e) + f""",
g{e} AS MATERIALIZED (
  SELECT evd.ent_name, evd.dim, evd.e,
         ROUND((COALESCE(a_ed.a, 0.0)
                   - COALESCE(s_e.s, 0.0) * evd.e / evd.en)
               / evd.en / (nr.nr / {NEG_SLOTS}), 6) AS g
  FROM (SELECT ev.ent_name, ei.dim, ei.val AS e, ev.en
        FROM ei{p} ei JOIN ev{p} ev ON ev.ent_name = ei.ent_name) evd
  LEFT JOIN a_ed{e} a_ed ON a_ed.ent_name = evd.ent_name AND a_ed.dim = evd.dim
  LEFT JOIN s_e{e} s_e ON s_e.ent_name = evd.ent_name
  CROSS JOIN nr{e} nr
),
gs{e} AS MATERIALIZED (
  -- MATERIALIZED (with g{e}): both are read twice (update + next epoch's
  -- accumulator); inlined they re-expand the whole upstream chain 2^N×
  SELECT g.ent_name, g.dim, {prev} + g.g * g.g AS gsq
  FROM g{e} g {join_prev}
),
ei{e} AS MATERIALIZED (
  SELECT g.ent_name, g.dim,
         ROUND(g.e - {LR} * g.g / (sqrt(gs.gsq) + {ADAGRAD_EPS}), 6) AS val
  FROM g{e} g JOIN gs{e} gs ON gs.ent_name = g.ent_name AND gs.dim = g.dim
),
ev{e} AS MATERIALIZED (
  SELECT ent_name, list(val ORDER BY dim) AS evec,
         sqrt(list_dot_product(list(val ORDER BY dim), list(val ORDER BY dim))) AS en
  FROM ei{e} GROUP BY ent_name
)"""


def train_epochs_sql(n_epochs: int = N_EPOCHS) -> str:
    """(epoch, n_examples, avg_loss) for the chained N-epoch loop."""
    blocks = ",".join(_epoch_block_sql(e) for e in range(1, n_epochs + 1))
    losses = "\nUNION ALL\n".join(
        f"SELECT {e} AS epoch, CAST(COUNT(*) / {NEG_SLOTS} AS BIGINT) AS n_examples,"
        f" ROUND(SUM(lterm) / (COUNT(*) / {NEG_SLOTS}), 6) AS avg_loss FROM cc{e}"
        for e in range(1, n_epochs + 1)
    )
    return (
        "WITH "
        + _EPOCH_PREFIX_SQL.format(HYP_SQL=_hyp_sql())
        + ","
        + blocks
        + "\n"
        + losses
    )


def train_epochs_vectors_sql(n_epochs: int = N_EPOCHS) -> str:
    """(ent_name, dim, val) after the final chained epoch."""
    blocks = ",".join(_epoch_block_sql(e) for e in range(1, n_epochs + 1))
    return (
        "WITH "
        + _EPOCH_PREFIX_SQL.format(HYP_SQL=_hyp_sql())
        + ","
        + blocks
        + f"\nSELECT ent_name, dim, val FROM ei{n_epochs}"
    )


def train_epochs_adagrad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(epoch, n_examples, avg_loss) per epoch under the reference's
    actual optimizer (torch Adagrad, lr 0.3, `learn_a.py:112-113`):
    squared-gradient accumulators persist across epochs as their own
    checkpointed stage, exactly like the optimizer state object the
    reference keeps alive across its epoch loop."""
    losses, _ = run_train_epochs(spark, sf_dir, optimizer="adagrad")
    return losses.select(
        "epoch", "n_examples", F.col("avg_loss").cast("double").alias("avg_loss")
    )


def train_epochs_adagrad_sql(n_epochs: int = N_EPOCHS) -> str:
    """The Adagrad chain unrolled: per-epoch g/gs accumulator CTEs."""
    blocks = ",".join(_adagrad_block_sql(e) for e in range(1, n_epochs + 1))
    losses = "\nUNION ALL\n".join(
        f"SELECT {e} AS epoch, CAST(COUNT(*) / {NEG_SLOTS} AS BIGINT) AS n_examples,"
        f" ROUND(SUM(lterm) / (COUNT(*) / {NEG_SLOTS}), 6) AS avg_loss FROM cc{e}"
        for e in range(1, n_epochs + 1)
    )
    return (
        "WITH "
        + _EPOCH_PREFIX_SQL.format(HYP_SQL=_hyp_sql())
        + ","
        + blocks
        + "\n"
        + losses
    )


# ---------------------------------------------------------------------------
# K7 loss variants — neg / nce / is beside maxm (model_a.py:81-93,
# learn_a.py:39-42,96-101, batch_dataset_a.py:82-90)
# ---------------------------------------------------------------------------
#
# The reference selects among four criteria over the SAME slot-score
# matrix; only the score adjustment and the criterion differ:
#   maxm: MultiMarginLoss(margin=0.1) on raw cosines (the default above);
#   neg : SoftMarginLoss with targets +1 at the positive slot, −1
#         elsewhere, scores unadjusted (no branch in model_a's if-chain);
#   nce : same SoftMarginLoss, scores shifted by −ln(p_pow(word)·(K−1));
#   is  : CrossEntropyLoss over the K slots, scores shifted by
#         −ln(p_pow(word)).
# p_pow is the word's probability under the SAME quantized unigram^0.6
# distribution K8 samples negatives from (w/total with w =
# round(freq^0.6·1e6)); words below K8's MIN_FREQ vocabulary floor fall
# back to weight W_SCALE (freq-1 equivalent) — deterministic on both
# engines. Adjusted scores are re-rounded to 6 dp so every engine makes
# identical decisions downstream.

LOSS_VARIANTS = ("maxm", "neg", "nce", "is")


def _word_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, w) — K8's integer micro-unit power weights (sampling.py)."""
    from ed_twitter_spark.operators.sampling import MIN_FREQ, POW, W_SCALE

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.explode(toks_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= MIN_FREQ)
        .select(
            "word", F.round(F.pow("freq", F.lit(POW)) * W_SCALE).cast("long").alias("w")
        )
    )


def _with_ppow(scored: DataFrame, wpw: DataFrame) -> DataFrame:
    """Attach p = p_pow(word) to the slot frame. The vocab table is a
    dim-side broadcast (word counts ≪ corpus); missing words coalesce to
    the freq-1 weight."""
    from ed_twitter_spark.operators.sampling import W_SCALE

    tot = wpw.groupBy().agg(F.sum("w").alias("total"))
    return (
        scored.join(F.broadcast(wpw), "word", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "p", F.coalesce(F.col("w"), F.lit(W_SCALE)) * F.lit(1.0) / F.col("total")
        )
    )


def _variant_coeffs(sp: DataFrame, loss: str) -> DataFrame:
    """Per-slot (lterm, c) under the given criterion; c is dL/dcos scaled
    so `_epoch_update`'s final /N division completes the mean reduction
    (÷K inside for the elementwise losses, softmax row terms for is)."""
    if loss == "maxm":
        return _with_coeffs(sp)
    if loss in ("neg", "nce"):
        xa = (
            F.round(F.col("x") - F.log(F.col("p") * (NEG_SLOTS - 1)), 6)
            if loss == "nce"
            else F.col("x")
        )
        sp = sp.withColumn("xa", xa)
        y = F.when(F.col("j") == F.col("t"), F.lit(1.0)).otherwise(F.lit(-1.0))
        z = -y * F.col("xa")  # SoftMarginLoss: log(1 + exp(−y·x))
        return sp.withColumn(
            "lterm", F.log(F.lit(1.0) + F.exp(z)) / NEG_SLOTS
        ).withColumn("c", -y / (F.lit(1.0) + F.exp(-z)) / NEG_SLOTS)
    if loss == "is":
        sp = sp.withColumn("xa", F.round(F.col("x") - F.log("p"), 6))
        w = Window.partitionBy("doc_id", "pos", "i")
        sp = sp.withColumn("lse", F.log(F.sum(F.exp("xa")).over(w)))
        return sp.withColumn(
            "lterm",
            F.when(F.col("j") == F.col("t"), F.col("lse") - F.col("xa")).otherwise(
                F.lit(0.0)
            ),
        ).withColumn(
            "c",
            F.exp(F.col("xa") - F.col("lse"))
            - F.when(F.col("j") == F.col("t"), F.lit(1.0)).otherwise(F.lit(0.0)),
        )
    raise ValueError(f"unknown loss {loss!r}")


def train_loss_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(loss, n_examples, avg_loss) — all four criteria over the shared
    epoch-1 slot scores (one scored-frame build, four cheap aggregates)."""
    from ed_twitter_spark.caching import persist_tracked

    n_vec = _n_vec(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("wemb"),
    )
    emb = emb.select(
        "vec_id", "wemb", F.sqrt(_dot(F.col("wemb"), F.col("wemb"))).alias("wn")
    )
    hc = hyperlink_contexts(spark, sf_dir)
    ents = hc.select(F.col("gold_ent").alias("ent_name")).distinct()
    ev = _ent_init_vecs(spark, sf_dir, n_vec, ents)
    sp = persist_tracked(
        _with_ppow(
            _slot_scores(hc, emb, ev, n_vec, spark, sf_dir),
            _word_weights(spark, sf_dir),
        )
    )
    out = None
    for loss in LOSS_VARIANTS:
        agg = _variant_coeffs(sp, loss).agg(
            (F.count(F.lit(1)) / NEG_SLOTS).cast("long").alias("n_examples"),
            F.round(F.sum("lterm") / (F.count(F.lit(1)) / NEG_SLOTS), 6).alias(
                "avg_loss"
            ),
        )
        agg = agg.select(F.lit(loss).alias("loss"), "n_examples", "avg_loss")
        out = agg if out is None else out.unionByName(agg)
    return out


def train_entity_epoch_nce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ent_name, dim, val) — one full-batch step under the NCE criterion
    (the same `_epoch_update` gradient plumbing; only dL/dcos changes)."""
    n_vec = _n_vec(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("wemb"),
    )
    emb = emb.select(
        "vec_id", "wemb", F.sqrt(_dot(F.col("wemb"), F.col("wemb"))).alias("wn")
    )
    hc = hyperlink_contexts(spark, sf_dir)
    ents = hc.select(F.col("gold_ent").alias("ent_name")).distinct()
    ev = _ent_init_vecs(spark, sf_dir, n_vec, ents)
    sp = _with_ppow(
        _slot_scores(hc, emb, ev, n_vec, spark, sf_dir), _word_weights(spark, sf_dir)
    )
    return _epoch_update(_variant_coeffs(sp, "nce"), ev, emb)


def _ppow_sql() -> str:
    from ed_twitter_spark.operators.sampling import MIN_FREQ, POW, W_SCALE

    return f"""
wpw AS (
  SELECT word, CAST(ROUND(power(COUNT(*), {POW}) * {W_SCALE}) AS BIGINT) AS w
  FROM (SELECT unnest({TOKS_SQL}) AS word FROM documents)
  GROUP BY word HAVING COUNT(*) >= {MIN_FREQ}
),
tot AS (SELECT SUM(w) AS total FROM wpw),
sp AS MATERIALIZED (
  SELECT s.*, COALESCE(wpw.w, {W_SCALE}) * 1.0 / tot.total AS p
  FROM scored s LEFT JOIN wpw ON wpw.word = s.word CROSS JOIN tot
)"""


def train_loss_variants_sql() -> str:
    k = NEG_SLOTS
    soft = """
SELECT '{name}' AS loss, CAST(COUNT(*) / {k} AS BIGINT) AS n_examples,
       ROUND(SUM(ln(1 + exp(CASE WHEN j = t THEN -{xa} ELSE {xa} END)) / {k})
             / (COUNT(*) / {k}), 6) AS avg_loss
FROM {src}"""
    return (
        "WITH "
        + _SLOT_SQL.format(HYP_SQL=_hyp_sql())
        + ","
        + _ppow_sql()
        + f""",
nce_x AS (SELECT *, ROUND(x - ln(p * {k - 1}), 6) AS xa FROM sp),
is_x AS (
  SELECT *, ln(SUM(exp(xa)) OVER (PARTITION BY doc_id, pos, i)) AS lse
  FROM (SELECT *, ROUND(x - ln(p), 6) AS xa FROM sp)
)
SELECT 'maxm' AS loss, CAST(COUNT(*) / {k} AS BIGINT) AS n_examples,
       ROUND(SUM(lterm) / (COUNT(*) / {k}), 6) AS avg_loss
FROM cc
UNION ALL
{soft.format(name="neg", k=k, xa="x", src="sp")}
UNION ALL
{soft.format(name="nce", k=k, xa="xa", src="nce_x")}
UNION ALL
SELECT 'is' AS loss, CAST(COUNT(*) / {k} AS BIGINT) AS n_examples,
       ROUND(SUM(CASE WHEN j = t THEN lse - xa ELSE 0.0 END)
             / (COUNT(*) / {k}), 6) AS avg_loss
FROM is_x
"""
    )


def train_entity_epoch_nce_sql() -> str:
    k = NEG_SLOTS
    return (
        "WITH "
        + _SLOT_SQL.format(HYP_SQL=_hyp_sql())
        + ","
        + _ppow_sql()
        + f""",
ncc AS (
  SELECT *,
         ln(1 + exp(CASE WHEN j = t THEN -xa ELSE xa END)) / {k} AS lterm,
         (CASE WHEN j = t THEN -1.0 ELSE 1.0 END)
           / (1 + exp(CASE WHEN j = t THEN xa ELSE -xa END)) / {k} AS c
  FROM (SELECT *, ROUND(x - ln(p * {k - 1}), 6) AS xa FROM sp)
),
nr AS (SELECT COUNT(*) AS nr FROM ncc),
coef AS (SELECT ent_name, wvid, SUM(c) AS coef FROM ncc GROUP BY ent_name, wvid),
a_ed AS (
  SELECT ent_name, dim, SUM(a) AS a
  FROM (
    SELECT coef.ent_name,
           CAST(unnest(range(len(wv.wemb))) AS INTEGER) AS dim,
           unnest(list_transform(wv.wemb, v -> coef.coef * v / wv.wn)) AS a
    FROM coef JOIN wv ON wv.vec_id = coef.wvid
  ) GROUP BY ent_name, dim
),
s_e AS (SELECT ent_name, SUM(c * x) AS s FROM ncc GROUP BY ent_name),
evd AS (
  SELECT e.ent_name, ei.dim, ei.val AS e, e.en
  FROM einit ei JOIN ev e ON e.ent_name = ei.ent_name
)
SELECT evd.ent_name, evd.dim,
       ROUND(evd.e - {LR} * (COALESCE(a_ed.a, 0.0)
                 - COALESCE(s_e.s, 0.0) * evd.e / evd.en)
             / evd.en / (nr.nr / {k}), 6) AS val
FROM evd
LEFT JOIN a_ed ON a_ed.ent_name = evd.ent_name AND a_ed.dim = evd.dim
LEFT JOIN s_e ON s_e.ent_name = evd.ent_name
CROSS JOIN nr
"""
    )


def train_entity_epoch_sql() -> str:
    return (
        "WITH "
        + _SLOT_SQL.format(HYP_SQL=_hyp_sql())
        + f"""
, nr AS (SELECT COUNT(*) AS nr FROM cc),
coef AS (SELECT ent_name, wvid, SUM(c) AS coef FROM cc GROUP BY ent_name, wvid),
a_ed AS (
  SELECT ent_name, dim, SUM(a) AS a
  FROM (
    SELECT coef.ent_name,
           CAST(unnest(range(len(wv.wemb))) AS INTEGER) AS dim,
           unnest(list_transform(wv.wemb, v -> coef.coef * v / wv.wn)) AS a
    FROM coef JOIN wv ON wv.vec_id = coef.wvid
  ) GROUP BY ent_name, dim
),
s_e AS (SELECT ent_name, SUM(c * x) AS s FROM cc GROUP BY ent_name),
evd AS (
  SELECT e.ent_name, ei.dim, ei.val AS e, e.en
  FROM einit ei JOIN ev e ON e.ent_name = ei.ent_name
)
SELECT evd.ent_name, evd.dim,
       ROUND(evd.e - {LR} * (COALESCE(a_ed.a, 0.0)
                 - COALESCE(s_e.s, 0.0) * evd.e / evd.en)
             / evd.en / (nr.nr / {NEG_SLOTS}), 6) AS val
FROM evd
LEFT JOIN a_ed ON a_ed.ent_name = evd.ent_name AND a_ed.dim = evd.dim
LEFT JOIN s_e ON s_e.ent_name = evd.ent_name
CROSS JOIN nr
"""
    )

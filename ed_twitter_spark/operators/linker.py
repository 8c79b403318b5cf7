"""The full embedding-based entity linker, distributed.

Pipeline (SURVEY.md §3.3 "Spark lifecycle equivalent"):

1. **window build** (W1-W5): the JVM splits each turn and lists its
   mention positions with the package's one tokenizer and mention test
   (`hashing.toks_col`, `mentions.mention_positions`); then
   `applyInPandas` over (conv_id, segment) rebuilds the conversation token
   stream from those tokens and emits one row per listed mention with its
   raw ±100 window sliced → stopword-filtered ±50 ids (W3), and the
   turn-local ±3 relation window (W4). Exact slice chain of
   `gen_aida_train.py:113-127` → `ed_ranker.py:196-235`.
2. **candidate attach** (J1): `candidates.attach_candidates` — the one
   join against the KB-side candidate table (per-surface ``cand_ids`` /
   ``cand_names`` / ``cand_priors`` arrays in rank order), broadcast or
   salted by the table's size.
3. **scoring** (K1-K6, T5, T7): `applyInPandas` over (conv_id, chunk) —
   documents >100 mentions are chunked exactly like `ed_ranker.py:253-256`
   — running the numpy kernels with the broadcast embedding matrix.

Scale notes: stage 1 and 3 shuffle once each on conv_id (stage 3 reuses the
partitioning modulo chunk salt — the chunk key also bounds LBP memory, which
is O(M²·C²)); stage 2 is a broadcast join (no shuffle) while the KB fits,
and a salted shuffle join that splits head mentions when it does not.
Viral conversations are bounded by chunking.

Each task of stages 1 and 3 also pays a fixed cost in its Python worker,
whatever its rows. Forked from Spark's default daemon, a reused worker
spent about 300 ms of CPU per task on a 4-core host, re-reading Spark's
archives on its import path and collecting every imported pandas and
pyarrow object. Forked from ``ed_twitter_spark.daemon`` (``session.py``)
it spends about 30 ms, so more, smaller partitions cost little extra.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ed_twitter_spark.functions import kernels
from ed_twitter_spark.functions.fixtures import (
    ModelWeights,
    fixture_weights,
    load_embedding_matrix,
    word_code,
)
from ed_twitter_spark.functions.hashing import toks_col
from ed_twitter_spark.functions.text import is_important_word
from ed_twitter_spark.operators.candidates import attach_candidates
from ed_twitter_spark.operators.mentions import mention_positions

RAW_WINDOW = 100  # ±100 raw tokens (gen_aida_train.py:113-127)
CTX_WINDOW = 100  # filtered window total (main.py --ctx_window)
PRERANK_WINDOW = 50  # main.py --prerank_ctx_window
SND_WINDOW = 6  # main.py --snd_local_ctx_window
N_CANDS_BEFORE_RANK = 30  # main.py --n_cands_before_rank
KEEP_CTX_ENT = 4
KEEP_P_E_M = 4
DOC_CHUNK = 100  # ed_ranker.py:253-256

_WINDOW_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("mention_idx", IntegerType()),
        StructField("seq", LongType()),  # global per-conv mention index (10^12-scale safe)
        StructField("mention", StringType()),
        # int32 ids: word codes are md5[:6] mod n_vectors (< 2^24), and the
        # arrays dominate the Arrow/shuffle bytes of stages 1-3 — halving
        # element width halves that traffic
        StructField("lctx_ids", ArrayType(IntegerType())),
        StructField("rctx_ids", ArrayType(IntegerType())),
        StructField("snd_l_ids", ArrayType(IntegerType())),
        StructField("snd_m_ids", ArrayType(IntegerType())),
        StructField("snd_r_ids", ArrayType(IntegerType())),
        StructField("doc_id", LongType()),
    ]
)

_TRIPLE_SCHEMA = StructType(
    [
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("score", DoubleType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("mention_idx", IntegerType()),
        StructField("mention", StringType()),
    ]
)


# Segment length (tokens) for halo partitioning of the window build: a
# conversation's stream is cut into SEG_TOKENS-token segments, each sent to
# its own task together with ±RAW_WINDOW halo tokens from the neighbours,
# so a viral conversation parallelizes instead of becoming one straggler
# task. Halo duplication overhead ≈ 2·RAW_WINDOW/SEG_TOKENS ≈ 5%. Read
# when the plan is built, so a caller may change it first.
SEG_TOKENS = 4096


def build_mention_windows(transcripts_df: DataFrame, n_vectors: int) -> DataFrame:
    """Stage 1: ordered window build, halo-partitioned per conversation.

    Two steps, both shuffle-light:

    1. **JVM-side tokens and segment assignment**: each turn's token and
       mention counts (sizes of `hashing.toks_col` and
       `mentions.mention_positions`; null text is no tokens) give running
       offsets (window function) that place its token span on the
       conversation's global token axis, and its mentions on the
       conversation's mention axis. Each turn is then exploded to the
       segment(s) whose ±RAW_WINDOW context range it overlaps. Skewed
       (viral) conversations fan out over ceil(n_tokens/SEG_TOKENS)
       independent tasks — the reference's own doc-chunking trick
       (`ed_ranker.py:253-256`) applied at window scope. Only the text
       crosses the exchanges; after the segment exchange the same helpers
       rebuild each turn's ``toks`` and ``ment_pos`` arrays.
    2. **grouped-map per (conv_id, segment)**: rebuild the local stream from
       the received tokens with global positions, code each distinct token
       once (md5 memo), and slice the ±100/±50 windows via O(log n)
       ``searchsorted`` probes over the important-token position array. A
       listed mention is emitted only by its owning segment; halo turns
       contribute context tokens only, so the output is row-identical to an
       unpartitioned per-conversation build.
    """
    from pyspark.sql import Window

    half_ctx = CTX_WINDOW // 2
    seg_tokens = SEG_TOKENS

    wconv = Window.partitionBy("conv_id").orderBy("turn_idx")
    before = wconv.rowsBetween(Window.unboundedPreceding, -1)
    toks = F.coalesce(toks_col(), F.array().cast("array<string>"))
    turns = (
        transcripts_df.select(
            "conv_id",
            "turn_idx",
            "doc_id",
            "text",
            F.size(toks).alias("ntok"),
            F.size(mention_positions(toks)).alias("nment"),
        )
        .withColumn("tok_off", F.coalesce(F.sum("ntok").over(before), F.lit(0)).cast("long"))
        .withColumn("ment_off", F.coalesce(F.sum("nment").over(before), F.lit(0)).cast("long"))
    )
    # segments whose context range [s·seg − RAW, (s+1)·seg + RAW) this turn
    # overlaps: s_lo = floor(max(0, tok_off − RAW)/seg),
    # s_hi = floor((tok_off + ntok + RAW − 1)/seg)
    seg = F.lit(seg_tokens)
    s_lo = F.floor(F.greatest(F.col("tok_off") - RAW_WINDOW, F.lit(0)) / seg)
    s_hi = F.floor((F.col("tok_off") + F.col("ntok") + RAW_WINDOW - 1) / seg)
    segmented = turns.withColumn("seg", F.explode(F.sequence(s_lo, s_hi)))

    def per_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        conv_id = pdf["conv_id"].iloc[0]
        own_lo = int(pdf["seg"].iloc[0]) * seg_tokens
        own_hi = own_lo + seg_tokens
        turn_rows = list(
            zip(pdf["turn_idx"], pdf["toks"], pdf["ment_pos"], pdf["doc_id"],
                pdf["tok_off"], pdf["ment_off"])
        )
        # local stream over the received turns, on the global token axis;
        # a turn's tokens start at stream index `start`
        stream: list[str] = []
        starts, gpos_parts = [], []
        for _, toks, _, _, tok_off, _ in turn_rows:
            starts.append(len(stream))
            stream.extend(toks)
            gpos_parts.append(np.arange(tok_off, tok_off + len(toks), dtype=np.int64))
        gpos = np.concatenate(gpos_parts)
        # each distinct token is coded and importance-tested once
        codes = {tok: word_code(tok) % n_vectors for tok in set(stream)}
        important = {tok for tok in codes if is_important_word(tok)}
        ids = np.fromiter((codes[t] for t in stream), dtype=np.int64, count=len(stream))
        imp_idx = np.fromiter(
            (i for i, t in enumerate(stream) if t in important), dtype=np.int64
        )
        imp_gpos = gpos[imp_idx]
        imp_ids = ids[imp_idx]

        rows = []
        for (turn_idx, toks, ment_pos, doc_id, tok_off, ment_off), start in zip(
            turn_rows, starts
        ):
            for ordinal, pos in enumerate(ment_pos):
                g = tok_off + pos
                if not (own_lo <= g < own_hi):
                    continue  # halo turn — owned by a neighbour segment
                # W1 raw ±100 (mention excluded) → P4 filter → W3 ±50 slice
                # (gen_aida_train.py:113-127 → ed_ranker.py:196-204)
                lo = np.searchsorted(imp_gpos, g - RAW_WINDOW, side="left")
                mid_l = np.searchsorted(imp_gpos, g, side="left")
                l_all = imp_ids[lo:mid_l]
                l_ids = l_all[max(0, len(l_all) - half_ctx) :].tolist()
                mid_r = np.searchsorted(imp_gpos, g, side="right")
                hi = np.searchsorted(imp_gpos, g + RAW_WINDOW, side="right")
                r_ids = imp_ids[mid_r:hi][:half_ctx].tolist()
                # W4 turn-local ±3 relation window (sentence = turn)
                i = start + pos
                snd_l = ids[start + max(0, pos - SND_WINDOW // 2) : i].tolist()
                snd_r = ids[i + 1 : min(i + 1 + SND_WINDOW // 2, start + len(toks))].tolist()
                rows.append(
                    (
                        conv_id,
                        int(turn_idx),
                        int(pos),
                        int(ment_off) + ordinal,
                        toks[pos],
                        l_ids,
                        r_ids,
                        snd_l,
                        [int(ids[i])],
                        snd_r,
                        int(doc_id),
                    )
                )
        return pd.DataFrame(rows, columns=[f.name for f in _WINDOW_SCHEMA.fields])

    # Explicit numbered repartition on the group keys: the segment rows are
    # tiny (bytes per turn) but each group costs real Python CPU, so AQE's
    # size-based coalescing would fold the whole grouped map into one task.
    # A user-numbered repartition is exempt from AQE coalescing, and
    # applyInPandas reuses the compatible hash partitioning (no second
    # exchange — see tests/test_plans.py).
    n_parts = max(
        2 * transcripts_df.sparkSession.sparkContext.defaultParallelism, 8
    )
    # the turn's text, not its token arrays, crosses the two exchanges (less
    # than half the bytes); the arrays are rebuilt on the receiving side
    return (
        segmented.repartition(n_parts, "conv_id", "seg")
        .select(
            "conv_id", "seg", "turn_idx", "doc_id", "tok_off", "ment_off",
            toks.alias("toks"),
        )
        .withColumn("ment_pos", mention_positions("toks"))
        .groupBy("conv_id", "seg")
        .applyInPandas(per_segment, schema=_WINDOW_SCHEMA)
    )


def prepare_chunk(pdf: pd.DataFrame, emb: np.ndarray, n_vec: int, unk_id: int) -> dict:
    """Shared per-chunk data prep for the scorer AND the full-model
    trainer: candidate packing, K1 prerank + T5 selection, and the K2
    token-window tensors. Returns the sorted frame plus every packed
    array; `score_mentions` consumes it for inference and
    `operators/ranker_full.py` for training, so both see bit-identical
    inputs (the trainer's θ-at-fixture forward must equal inference)."""
    pdf = pdf.sort_values("seq")
    m = len(pdf)
    c = N_CANDS_BEFORE_RANK

    # --- candidate packing, vectorized over the ragged arrays ---
    # flatten the per-mention candidate lists (truncated to c) once,
    # then scatter into the rectangular (m, c) frames. A None name leaves
    # a gap: slot j stays unk/1e-8/0 but the compacted `named` list drops
    # it (ed_ranker keeps parallel arrays the same way). Embedding rows are
    # the KB's ent_id (md5[:8] of the name) mod n_vec — no hashing here.
    names_trunc: list[list] = []
    lens = np.zeros(m, dtype=np.int64)
    id_parts, prior_parts = [], []
    for i, (ns, ps, ids) in enumerate(
        zip(pdf["cand_names"], pdf["cand_priors"], pdf["cand_ids"])
    ):
        ln = 0 if ns is None or ps is None else min(len(ns), len(ps), c)
        lens[i] = ln
        names_trunc.append(list(ns[:ln]) if ln else [])
        if ln:
            id_parts.append(np.asarray(ids[:ln]))
            prior_parts.append(np.asarray(ps[:ln]))
    n_flat = int(lens.sum())
    rows_ix = np.repeat(np.arange(m), lens)
    cols_ix = np.arange(n_flat) - np.repeat(np.cumsum(lens) - lens, lens)
    nonnull = np.fromiter(
        (nme is not None for ns in names_trunc for nme in ns), dtype=bool, count=n_flat
    )
    cand_rows = np.full((m, c), unk_id, dtype=np.int64)
    pem = np.full((m, c), 1e-8, dtype=np.float64)
    mask = np.zeros((m, c), dtype=np.float64)
    if n_flat:
        rnn, cnn = rows_ix[nonnull], cols_ix[nonnull]
        cand_rows[rnn, cnn] = np.concatenate(id_parts)[nonnull].astype(np.int64) % n_vec
        # ed_ranker.py:164 clip; min/max on a python float and np.clip on a
        # float64 array produce identical doubles
        pem[rnn, cnn] = np.clip(
            np.concatenate(prior_parts)[nonnull].astype(np.float64), 1e-3, 1.0
        )
        mask[rnn, cnn] = 1.0
    named: list[list[str]] = [
        [nme for nme in ns if nme is not None] for ns in names_trunc
    ]
    for nm in named:
        if len(nm) < c:
            nm.extend(["#UNK#"] * (c - len(nm)))

    ent_vecs = emb[cand_rows]  # (M,C,d)

    # K1 prerank over ±25 slice of the filtered window (ed_ranker.py:75-81)
    half = PRERANK_WINDOW // 2
    pr_tok = [
        np.concatenate((np.asarray(l)[max(0, len(l) - half) :], np.asarray(r)[:half]))
        for l, r in zip(pdf["lctx_ids"], pdf["rctx_ids"])
    ]
    sum_vecs = kernels.segment_sum_vecs(pr_tok, emb, unk_id)
    log_probs = kernels.ntee_log_probs(sum_vecs, ent_vecs, mask)
    selected = kernels.prerank_select(log_probs, KEEP_CTX_ENT, KEEP_P_E_M)

    sel_ix = np.asarray(selected, dtype=np.int64)  # (M,k) — sorted per row
    sel_rows = np.take_along_axis(cand_rows, sel_ix, axis=1)
    sel_pem = np.take_along_axis(pem, sel_ix, axis=1)
    sel_mask = np.take_along_axis(mask, sel_ix, axis=1)
    sel_named = [[named[i][j] for j in sel_ix[i]] for i in range(m)]
    sel_vecs = emb[sel_rows]  # (M,k,d)

    # K2 token window tensors (full filtered window)
    tok_lists = [
        np.concatenate((np.asarray(l), np.asarray(r)))
        for l, r in zip(pdf["lctx_ids"], pdf["rctx_ids"])
    ]
    tok_ids, tok_mask = kernels.pad_token_ids(tok_lists, unk_id)
    return {
        "pdf": pdf,
        "named": named,
        "names_trunc": names_trunc,  # slot-space names (gaps preserved)
        "sel_ix": sel_ix,
        "sel_vecs": sel_vecs,
        "sel_pem": sel_pem,
        "sel_mask": sel_mask,
        "sel_named": sel_named,
        "tok_ids": tok_ids,
        "tok_mask": tok_mask,
    }


def score_mentions(
    cands_df: DataFrame,
    emb: np.ndarray,
    weights: ModelWeights | None = None,
) -> DataFrame:
    """Stage 3: grouped-map kernel scoring per (conv_id, chunk)."""
    w = weights or fixture_weights()
    n_vec = emb.shape[0] - 1  # last row is unk
    unk_id = n_vec
    # ship the embedding matrix once per executor, not once per task
    bc_emb = cands_df.sparkSession.sparkContext.broadcast(emb)

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        emb = bc_emb.value
        prep = prepare_chunk(pdf, emb, n_vec, unk_id)
        pdf = prep["pdf"]
        sel_vecs, sel_pem = prep["sel_vecs"], prep["sel_pem"]
        sel_mask, sel_named = prep["sel_mask"], prep["sel_named"]
        local = kernels.local_attention_scores(
            emb[prep["tok_ids"]], prep["tok_mask"], sel_vecs, sel_mask, w
        )

        # A9 bow context for the relation model
        # _segment_sums np.asarray()s each row, so the Arrow-native numpy
        # arrays pass through without a per-row list() copy
        lv = kernels.masked_mean_vecs(list(pdf["snd_l_ids"]), emb, unk_id)
        mv = kernels.masked_mean_vecs(list(pdf["snd_m_ids"]), emb, unk_id)
        rv = kernels.masked_mean_vecs(list(pdf["snd_r_ids"]), emb, unk_id)
        bow = np.concatenate([lv, mv, rv], axis=1)

        scores = kernels.global_lbp_scores(local, sel_vecs, sel_mask, sel_pem, bow, w)
        objs = kernels.argmax_with_fallback(scores, sel_mask, sel_named)
        best = scores.max(axis=1)

        return pd.DataFrame(
            {
                "subj": [
                    f"{cid}#{t}#{mi}"
                    for cid, t, mi in zip(
                        pdf["conv_id"], pdf["turn_idx"], pdf["mention_idx"]
                    )
                ],
                "pred": "links_to",
                "obj": objs,
                "score": best,
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "mention_idx": pdf["mention_idx"].values,
                "mention": pdf["mention"].values,
            }
        )

    chunked = cands_df.withColumn("chunk", (F.col("seq") / DOC_CHUNK).cast("long"))
    # Numbered repartition for the same reason as the window stage: AQE's
    # size-based coalescing sees small shuffle bytes and folds this — the
    # most Python-CPU-heavy stage in the engine — into fewer tasks than
    # cores (measured: 64 → 30 at local[32], one straggler wave). 4× the
    # parallelism gives several waves so uneven LBP chunk costs (O(m²c²)
    # per group) load-balance instead of serializing on the largest chunk.
    n_parts = max(
        4 * cands_df.sparkSession.sparkContext.defaultParallelism, 16
    )
    return (
        chunked.repartition(n_parts, "conv_id", "chunk")
        .groupBy("conv_id", "chunk")
        .applyInPandas(per_chunk, schema=_TRIPLE_SCHEMA)
    )


def link_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end full-fidelity linker over the synthetic transcripts."""
    from ed_twitter_spark import synth

    emb = load_embedding_matrix(spark, sf_dir)
    t = synth.transcripts(spark, sf_dir)
    kb = synth.kb_alias(spark, sf_dir)
    windows = build_mention_windows(t, emb.shape[0] - 1)
    cands = attach_candidates(windows, kb)
    return score_mentions(cands, emb)

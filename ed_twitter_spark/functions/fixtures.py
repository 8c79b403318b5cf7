"""Deterministic model-weight fixtures + embedding matrix loading.

The reference trains its weights offline (deep-ed-pytorch learn_a.py; nel
training loop); inference is pure tensor math given fixed weights
(SURVEY.md §2.9). Here weights are a seed-42 fixture with the exact shapes
of the reference modules (`local_ctx_att_ranker.py:22-28`,
`mulrel_ranker.py:58-87`), and the word/entity embedding matrix comes from
the driver-provided ``embeddings.parquet`` rows, md5-keyed:

    vec_id(token)    = int(md5(token)[:6], 16)  % n_vectors
    vec_id(ent_name) = int(md5(ent_name)[:8], 16) % n_vectors

Rows are L2-normalized like the reference does at load
(`mulrel-nel/nel/ed_ranker.py:32-39`).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from functools import lru_cache

import numpy as np

EMB_DIMS = 64  # driver embeddings.parquet dimensionality
HID_DIMS = 100  # main.py --hid_dims default
N_RELS = 3  # 3-relation ment-norm model (mulrel-nel/README.md:33)


# lru_cache: word codes are recomputed per occurrence inside the hot
# applyInPandas window loop (every token of every window); the token
# vocabulary is Zipfian, so a bounded memo turns ~all of those md5 calls
# into dict hits. The cache lives per Python worker and survives across
# Arrow batches.
@lru_cache(maxsize=1 << 18)
def word_code(token: str) -> int:
    return int(hashlib.md5(token.encode()).hexdigest()[:6], 16)


def ent_code(ent_name: str) -> int:
    """Python twin of the KB's ``ent_id`` (``synth.ent_id_col``)."""
    return int(hashlib.md5(ent_name.encode()).hexdigest()[:8], 16)


def load_embedding_matrix(spark, sf_dir: str) -> np.ndarray:
    """(n_vectors, 64) float64, rows L2-normalized; row n_vectors is the unk
    row set to 1e-10 (`ed_ranker.py:35,39`).

    Read driver-side with pyarrow when the path is a plain local file (a
    Spark collect of the same rows costs seconds of serial driver time per
    run); falls back to a Spark collect for non-local storage."""
    path = f"{sf_dir}/embeddings.parquet"
    import os

    if os.path.exists(path):
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["vec_id", "embedding"])
        vec_ids = t.column("vec_id").to_numpy()
        col = t.column("embedding").combine_chunks()
        embs = (
            col.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(len(col), EMB_DIMS)
        )
        n = int(vec_ids.max()) + 1
        mat = np.zeros((n + 1, EMB_DIMS), dtype=np.float64)
        mat[vec_ids] = embs
        norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        mat = mat / norms
        mat[n] = 1e-10  # unk row
        return mat

    rows = (
        spark.read.parquet(path)
        .select("vec_id", "embedding")
        .collect()
    )
    n = max(r["vec_id"] for r in rows) + 1
    mat = np.zeros((n + 1, EMB_DIMS), dtype=np.float64)
    for r in rows:
        mat[r["vec_id"]] = np.asarray(r["embedding"], dtype=np.float64)
    norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    mat = mat / norms
    mat[n] = 1e-10  # unk row
    return mat


@dataclass(frozen=True)
class ModelWeights:
    """Inference-time parameters (shapes match the reference modules)."""

    att_mat_diag: np.ndarray  # (d,)   local_ctx_att_ranker.py:22
    tok_score_mat_diag: np.ndarray  # (d,)   local_ctx_att_ranker.py:23
    comb_w1: np.ndarray  # (hid, 2) score_combine linear 1
    comb_b1: np.ndarray  # (hid,)
    comb_w2: np.ndarray  # (1, hid) score_combine linear 2
    comb_b2: np.ndarray  # (1,)
    ctx_w: np.ndarray  # (d, 3d)  mulrel ctx_layer linear
    ctx_b: np.ndarray  # (d,)
    rel_embs: np.ndarray  # (R, d)   mulrel_ranker.py:69-77
    ew_embs: np.ndarray  # (R, d)   mulrel_ranker.py:79-80
    pad_ent_emb: np.ndarray  # (d,)     mulrel_ranker.py:61
    pad_ctx_vec: np.ndarray  # (d,)     mulrel_ranker.py:62
    tok_top_n: int = 25  # main.py --tok_top_n
    n_loops: int = 10  # main.py --n_loops
    df: float = 0.5  # main.py --df (damping)
    ent_top_n: int = 1000  # mulrel_ranker.py:34 (threshold off at default)


def fixture_weights(seed: int = 42, d: int = EMB_DIMS, hid: int = HID_DIMS,
                    n_rels: int = N_RELS) -> ModelWeights:
    """Seed-42 weights, initialized like the reference modules initialize
    theirs (diag vectors at 1, rel head near 1, small-noise elsewhere) so
    score magnitudes are realistic."""
    rs = np.random.RandomState(seed)
    rel = rs.randn(n_rels, d) * 0.01
    rel[0] = 1 + rs.randn(d) * 0.01  # mulrel_ranker.py:71
    # "trained-like" combiner: exact ReLU decomposition of
    #   out = 2·model_score + 0.5·log p(e|m)
    # (model_score is a softmax prob ≥ 0, log p ≤ 0, so both halves pass
    # through ReLU unclipped). A random MLP here would scramble the prior
    # signal; a trained one learns a monotone combination like this.
    comb_w1 = np.zeros((hid, 2))
    comb_w1[0, 0] = 2.0
    comb_w1[1, 1] = -0.5
    comb_w2 = np.zeros((1, hid))
    comb_w2[0, 0] = 1.0
    comb_w2[0, 1] = -1.0
    return ModelWeights(
        att_mat_diag=1.0 + rs.randn(d) * 0.05,
        tok_score_mat_diag=1.0 + rs.randn(d) * 0.05,
        comb_w1=comb_w1,
        comb_b1=np.zeros(hid),
        comb_w2=comb_w2,
        comb_b2=np.zeros(1),
        ctx_w=rs.randn(d, 3 * d) * (1.0 / np.sqrt(3 * d)),
        ctx_b=rs.randn(d) * 0.05,
        rel_embs=rel,
        ew_embs=rs.randn(n_rels, d) * 0.01,
        pad_ent_emb=rs.randn(d) * 0.1,
        pad_ctx_vec=rs.randn(d) * 0.1,
    )

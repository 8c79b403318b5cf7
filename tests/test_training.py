"""K7 epoch vs an independent numpy transcription of the reference forward.

The transcription re-implements the max-margin training math straight from
the reference semantics — cos(normalize(w), normalize(e)) slot scores
(`deep-ed-pytorch/entities/learn_e2v/model_a.py:56-93`),
``MultiMarginLoss(margin=0.1)`` with mean reduction (`learn_a.py:96-98`),
one SGD step on the entity table only (`learn_a.py:113,118-119`) — using
numpy and DuckDB only (no Spark operators), then checks the Spark epoch
reproduces the loss and every updated vector component.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

from ed_twitter_spark.operators import training as T
from tests.conftest import SF_SMOKE


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _wvid(w: str, n_vec: int) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:6], 16) % n_vec


def _numpy_epochs(sf_dir: str, n_epochs: int = 1, optimizer: str = "sgd"):
    """Pure numpy/DuckDB rerun of the deterministic chained epochs.

    Follows the engine chain exactly: epoch e ≥ 2 salts every probe key
    with ``@e{e}`` (fresh samples per epoch, `learn_a.py:158-160`) and
    consumes the previous epoch's vectors ROUNDED to 6 decimals (the
    checkpoint representation both engines share). Returns
    (ents, N, losses, new) with one loss per epoch and ``new`` the final
    un-rounded update."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    hyp = con.sql(T._hyp_sql()).df()
    probes = (
        con.sql(T.NEGATIVE_SAMPLING_SQL).df().sort_values("k")["word"].tolist()
    )

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vec_ids = tbl.column("vec_id").to_numpy()
    col = tbl.column("embedding").combine_chunks()
    raw = np.zeros((int(vec_ids.max()) + 1, T.EMB_DIMS))
    raw[vec_ids] = (
        col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), T.EMB_DIMS)
    )
    n_vec = raw.shape[0]
    wnorm = raw / np.linalg.norm(raw, axis=1, keepdims=True)

    # K9 init: entity vec = mean of raw title-word vectors (model_a.py:33-48)
    ents = sorted(hyp["gold_ent"].unique())
    e_index = {e: i for i, e in enumerate(ents)}
    evec = np.stack(
        [np.mean([raw[_wvid(w, n_vec)] for w in e.split("_")], axis=0) for e in ents]
    )

    K, P = T.NEG_SLOTS, T.WORDS_PER_ENT
    losses, new, N = [], None, 0
    G = None  # adagrad squared-gradient accumulator
    for epoch in range(1, n_epochs + 1):
        suf = "" if epoch == 1 else f"@e{epoch}"
        en = np.linalg.norm(evec, axis=1)
        ehat = evec / en[:, None]

        rows_e, rows_w, rows_t = [], [], []
        for r in hyp.itertuples():
            key = f"{r.doc_id}#{r.pos}{suf}"
            ctx = [
                w
                for w in f"{r.hyp_left} {r.hyp_right}".split(" ")
                if w not in ("EMPTYCTXT", "")
            ]
            pos_w = ctx if ctx else r.gold_ent.split("_")
            for i in range(P):
                wpos = pos_w[_h32(f"{key}#p#{i}") % len(pos_w)]
                t = _h32(f"{key}#t#{i}") % K
                slot_words = [
                    wpos if j == t else probes[_h32(f"{key}#n#{i}#{j}") % 100]
                    for j in range(K)
                ]
                rows_e.append(e_index[r.gold_ent])
                rows_t.append(t)
                rows_w.append([_wvid(w, n_vec) for w in slot_words])

        e_idx = np.asarray(rows_e)
        t_idx = np.asarray(rows_t)
        w_idx = np.asarray(rows_w)  # (N, K)
        N = len(e_idx)

        W = wnorm[w_idx]  # (N, K, d)
        X = np.round(np.einsum("nkd,nd->nk", W, ehat[e_idx]), 6)
        Xt = X[np.arange(N), t_idx]
        H = T.MARGIN - Xt[:, None] + X  # hinge argument per slot
        H[np.arange(N), t_idx] = 0.0
        viol = H > 0
        losses.append(float(np.sum(np.where(viol, H, 0.0)) / K / N))

        # dL/dx coefficients (mean reduction): 1/K per violating slot, minus
        # the violation count at the target slot
        C = viol.astype(float) / K
        C[np.arange(N), t_idx] = -viol.sum(axis=1) / K
        # grad_e = (1/N)·Σ (Σ_j c_j ŵ_j − (Σ_j c_j x_j)·ê)/‖e‖
        A = np.zeros_like(evec)
        np.add.at(A, e_idx, np.einsum("nk,nkd->nd", C, W))
        s = np.zeros(len(ents))
        np.add.at(s, e_idx, np.einsum("nk,nk->n", C, X))
        grad = (A - s[:, None] * ehat) / en[:, None] / N
        if optimizer == "adagrad":
            g6 = np.round(grad, 6)  # the 6-dp cross-engine state repr
            G = g6 * g6 if G is None else G + g6 * g6
            new = evec - T.LR * g6 / (np.sqrt(G) + T.ADAGRAD_EPS)
        else:
            new = evec - T.LR * grad
        evec = np.round(new, 6)  # the 6-dp checkpoint both engines store
    return ents, N, losses, new


def _numpy_epoch(sf_dir: str):
    ents, n, losses, new = _numpy_epochs(sf_dir, 1)
    return ents, n, losses[0], new


def _numpy_variants(sf_dir: str):
    """Independent transcription of the neg/nce/is criteria
    (model_a.py:81-93, learn_a.py:96-101, batch_dataset_a.py:82-90) over
    the epoch-1 slot matrix. Returns ({loss: avg_loss}, ents, nce_new)."""
    from ed_twitter_spark.operators.sampling import MIN_FREQ, POW, W_SCALE

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    hyp = con.sql(T._hyp_sql()).df()
    probes = con.sql(T.NEGATIVE_SAMPLING_SQL).df().sort_values("k")["word"].tolist()
    wfreq = dict(
        con.sql(
            r"SELECT word, COUNT(*) AS f FROM (SELECT unnest(string_split_regex(text,"
            rf" '\s+')) AS word FROM documents) GROUP BY word HAVING COUNT(*) >= {MIN_FREQ}"
        ).fetchall()
    )
    wts = {w: round((f**POW) * W_SCALE) for w, f in wfreq.items()}
    total = sum(wts.values())

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vec_ids = tbl.column("vec_id").to_numpy()
    col = tbl.column("embedding").combine_chunks()
    raw = np.zeros((int(vec_ids.max()) + 1, T.EMB_DIMS))
    raw[vec_ids] = (
        col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), T.EMB_DIMS)
    )
    n_vec = raw.shape[0]
    wnorm = raw / np.linalg.norm(raw, axis=1, keepdims=True)

    ents = sorted(hyp["gold_ent"].unique())
    e_index = {e: i for i, e in enumerate(ents)}
    evec = np.stack(
        [np.mean([raw[_wvid(w, n_vec)] for w in e.split("_")], axis=0) for e in ents]
    )
    en = np.linalg.norm(evec, axis=1)
    ehat = evec / en[:, None]

    K, P = T.NEG_SLOTS, T.WORDS_PER_ENT
    rows_e, rows_w, rows_t, rows_p = [], [], [], []
    for r in hyp.itertuples():
        key = f"{r.doc_id}#{r.pos}"
        ctx = [
            w
            for w in f"{r.hyp_left} {r.hyp_right}".split(" ")
            if w not in ("EMPTYCTXT", "")
        ]
        pos_w = ctx if ctx else r.gold_ent.split("_")
        for i in range(P):
            wpos = pos_w[_h32(f"{key}#p#{i}") % len(pos_w)]
            t = _h32(f"{key}#t#{i}") % K
            slot_words = [
                wpos if j == t else probes[_h32(f"{key}#n#{i}#{j}") % 100]
                for j in range(K)
            ]
            rows_e.append(e_index[r.gold_ent])
            rows_t.append(t)
            rows_w.append([_wvid(w, n_vec) for w in slot_words])
            rows_p.append([wts.get(w, W_SCALE) * 1.0 / total for w in slot_words])

    e_idx, t_idx = np.asarray(rows_e), np.asarray(rows_t)
    w_idx, pmat = np.asarray(rows_w), np.asarray(rows_p)  # (N, K)
    N = len(e_idx)
    W = wnorm[w_idx]
    X = np.round(np.einsum("nkd,nd->nk", W, ehat[e_idx]), 6)
    Y = -np.ones_like(X)
    Y[np.arange(N), t_idx] = 1.0

    losses = {}
    # neg: SoftMarginLoss on raw cosines, mean over N·K elements
    losses["neg"] = float(np.sum(np.log1p(np.exp(-Y * X)) / K) / N)
    # nce: scores shifted by -ln(p_pow·(K-1)) first
    Xn = np.round(X - np.log(pmat * (K - 1)), 6)
    losses["nce"] = float(np.sum(np.log1p(np.exp(-Y * Xn)) / K) / N)
    # is: shifted by -ln(p_pow), CrossEntropy over the K slots
    Xi = np.round(X - np.log(pmat), 6)
    lse = np.log(np.sum(np.exp(Xi), axis=1))
    losses["is"] = float(np.sum(lse - Xi[np.arange(N), t_idx]) / N)

    # nce full-batch entity step: dL/dx = -y·sigma(-y·x̃)/(N·K)
    C = (-Y / (1.0 + np.exp(Y * Xn))) / K
    A = np.zeros_like(evec)
    np.add.at(A, e_idx, np.einsum("nk,nkd->nd", C, W))
    s = np.zeros(len(ents))
    np.add.at(s, e_idx, np.einsum("nk,nk->n", C, X))
    grad = (A - s[:, None] * ehat) / en[:, None] / N
    nce_new = evec - T.LR * grad
    return losses, ents, nce_new


@pytest.fixture(scope="module")
def numpy_epoch():
    return _numpy_epoch(SF_SMOKE)


def test_epoch_loss_matches_transcription_and_golden(spark, numpy_epoch):
    ents, n, loss, _ = numpy_epoch
    row = T.train_epoch_loss(spark, SF_SMOKE).first()
    assert row["n_examples"] == n
    assert row["avg_loss"] == pytest.approx(loss, abs=1e-5)
    # committed golden: the deterministic (md5-probe) epoch at sf0.001
    assert (row["n_examples"], row["avg_loss"]) == (89660, 0.115903)


def test_entity_update_matches_transcription(spark, numpy_epoch):
    ents, _, _, new = numpy_epoch
    got = T.train_entity_epoch(spark, SF_SMOKE).toPandas()
    assert len(got) == len(ents) * T.EMB_DIMS
    g = got.set_index(["ent_name", "dim"])["val"]
    for ei, e in enumerate(ents):
        for d in range(0, T.EMB_DIMS, 7):  # stride keeps the check O(n/7)
            assert g[(e, d)] == pytest.approx(new[ei, d], abs=5e-5), (e, d)


def test_loss_variants_match_transcription(spark):
    """Each alternative criterion's epoch-1 loss equals the independent
    numpy transcription of the reference math (golden-loss per loss)."""
    want, _, _ = _numpy_variants(SF_SMOKE)
    got = {
        r["loss"]: r["avg_loss"]
        for r in T.train_loss_variants(spark, SF_SMOKE).collect()
    }
    assert set(got) == {"maxm", "neg", "nce", "is"}
    for loss, expected in want.items():
        assert got[loss] == pytest.approx(expected, abs=1e-5), loss
    # maxm row must equal the long-standing single-epoch query
    base = T.train_epoch_loss(spark, SF_SMOKE).first()["avg_loss"]
    assert got["maxm"] == pytest.approx(base, abs=1e-9)


def test_nce_update_matches_transcription(spark):
    """The NCE full-batch entity step reproduces the numpy gradient."""
    _, ents, nce_new = _numpy_variants(SF_SMOKE)
    g = T.train_entity_epoch_nce(spark, SF_SMOKE).toPandas().set_index(
        ["ent_name", "dim"]
    )["val"]
    for ei, e in enumerate(ents):
        for d in range(0, T.EMB_DIMS, 13):
            assert g[(e, d)] == pytest.approx(nce_new[ei, d], abs=5e-5), (e, d)


def test_train_epochs_chain_matches_transcription(spark, tmp_path):
    """The 3-epoch chain (fresh probes per epoch, epoch k+1 reading epoch
    k's 6-dp-rounded checkpoint) reproduces the numpy transcription's
    per-epoch loss sequence and final vectors."""
    ents, n, losses, new = _numpy_epochs(SF_SMOKE, T.N_EPOCHS)
    got_losses, comp = T.run_train_epochs(
        spark, SF_SMOKE, checkpoint_root=str(tmp_path / "ck")
    )
    rows = {r["epoch"]: r for r in got_losses.collect()}
    assert sorted(rows) == list(range(1, T.N_EPOCHS + 1))
    for e, expected in enumerate(losses, start=1):
        assert rows[e]["n_examples"] == n
        assert rows[e]["avg_loss"] == pytest.approx(expected, abs=1e-5), e
    g = comp.toPandas().set_index(["ent_name", "dim"])["val"]
    for ei, e in enumerate(ents):
        for d in range(0, T.EMB_DIMS, 13):
            assert g[(e, d)] == pytest.approx(new[ei, d], abs=5e-5), (e, d)


def test_adagrad_chain_matches_transcription(spark, tmp_path):
    """The Adagrad chain (6-dp gradients entering a cross-epoch squared
    accumulator, e − lr·g/(√G + eps) updates) reproduces the numpy
    transcription's loss sequence and final vectors, and genuinely
    diverges from the SGD chain after epoch 1."""
    ents, n, losses, new = _numpy_epochs(SF_SMOKE, T.N_EPOCHS, optimizer="adagrad")
    got_losses, comp = T.run_train_epochs(
        spark, SF_SMOKE, checkpoint_root=str(tmp_path / "ck"), optimizer="adagrad"
    )
    rows = {r["epoch"]: r for r in got_losses.collect()}
    for e, expected in enumerate(losses, start=1):
        assert rows[e]["n_examples"] == n
        assert rows[e]["avg_loss"] == pytest.approx(expected, abs=1e-5), e
    g = comp.toPandas().set_index(["ent_name", "dim"])["val"]
    for ei, e in enumerate(ents):
        for d in range(0, T.EMB_DIMS, 13):
            assert g[(e, d)] == pytest.approx(new[ei, d], abs=5e-5), (e, d)
    # epoch-1 losses agree across optimizers (same init vectors), later
    # epochs must not (different step sizes → different vectors)
    _, _, sgd_losses, _ = _numpy_epochs(SF_SMOKE, T.N_EPOCHS)
    assert rows[1]["avg_loss"] == pytest.approx(sgd_losses[0], abs=1e-5)
    assert rows[T.N_EPOCHS]["avg_loss"] != pytest.approx(
        sgd_losses[T.N_EPOCHS - 1], abs=1e-7
    )


def test_train_epochs_resume_skips_recompute(spark, tmp_path, monkeypatch):
    """S10 semantics: a second run over an intact checkpoint root reads
    every epoch back (zero write_stage calls) and returns identical
    losses; wiping one epoch's lineage re-runs that epoch and its
    descendants only."""
    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.operators import training as tr

    root = str(tmp_path / "ck")
    first = {r["epoch"]: r["avg_loss"] for r in
             T.run_train_epochs(spark, SF_SMOKE, checkpoint_root=root)[0].collect()}

    calls = []
    real = kgio.write_stage

    def counting(df, *a, **k):
        calls.append(a[1])
        return real(df, *a, **k)

    monkeypatch.setattr(kgio, "write_stage", counting)
    second = {r["epoch"]: r["avg_loss"] for r in
              T.run_train_epochs(spark, SF_SMOKE, checkpoint_root=root)[0].collect()}
    assert calls == []
    assert second == first

    # wipe epoch 2's lineage (simulated mid-chain loss) → ONLY epoch 2
    # re-runs: the deterministic fingerprint chain proves the recompute
    # reproduces the exact vectors epoch 3's still-valid checkpoint was
    # built from, so later epochs stay skipped (minimal-recompute resume)
    import os

    os.remove(f"{root}/ent_vecs_ep_2/_lineage.json")
    third = {r["epoch"]: r["avg_loss"] for r in
             T.run_train_epochs(spark, SF_SMOKE, checkpoint_root=root)[0].collect()}
    assert third == first
    assert sorted(calls) == ["ent_vecs_ep_2", "train_loss_ep_2"]

    # a regenerated input dir (same path, new bytes → new stat signature)
    # must invalidate EVERY epoch: stale vectors over fresh data is a
    # silent-wrong-answer, not a resume
    calls.clear()
    monkeypatch.setattr(tr, "_input_stat_sig", lambda d: "regenerated!")
    T.run_train_epochs(spark, SF_SMOKE, checkpoint_root=root)
    assert sorted(calls) == sorted(
        [f"ent_vecs_ep_{e}" for e in range(1, T.N_EPOCHS + 1)]
        + [f"train_loss_ep_{e}" for e in range(1, T.N_EPOCHS + 1)]
    )


def test_training_descends_on_fixed_batch(spark, tmp_path):
    """Held-fixed-batch probe (the epoch-1 example set): the chained
    3-epoch vectors must score a strictly lower hinge loss than the K9
    init — the distributed loop genuinely optimizes the reference
    objective even though per-epoch train losses are over fresh samples."""
    init_loss = T.fixed_batch_loss(spark, SF_SMOKE).first()["avg_loss"]
    _, comp = T.run_train_epochs(spark, SF_SMOKE, checkpoint_root=str(tmp_path / "ck"))
    final_loss = T.fixed_batch_loss(spark, SF_SMOKE, comp).first()["avg_loss"]
    assert final_loss < init_loss


def test_trained_embeddings_roundtrip_linker(spark, numpy_epoch):
    """The epoch's output feeds back into the linker: overwrite the
    entity rows of the embedding matrix (normalized, as the reference
    normalizes at final save, learn_a.py:203-206 + load-time normalize
    ed_ranker.py:32-39) and the full K1-K6 scorer runs end-to-end with
    some predictions shifting."""
    from ed_twitter_spark import synth
    from ed_twitter_spark.functions.fixtures import ent_code, load_embedding_matrix
    from ed_twitter_spark.operators import linker as L

    ents, _, _, new = numpy_epoch
    emb = load_embedding_matrix(spark, SF_SMOKE)
    n_vec = emb.shape[0] - 1
    emb2 = emb.copy()
    for ei, e in enumerate(ents):
        v = new[ei]
        emb2[ent_code(e) % n_vec] = v / max(np.linalg.norm(v), 1e-12)

    t = synth.transcripts(spark, SF_SMOKE)
    kb = synth.kb_alias(spark, SF_SMOKE)
    windows = L.build_mention_windows(t, n_vec)
    cands = L.attach_candidates(windows, kb)
    base = {
        r["subj"]: r["obj"]
        for r in L.score_mentions(cands, emb).select("subj", "obj").collect()
    }
    got = {
        r["subj"]: r["obj"]
        for r in L.score_mentions(cands, emb2).select("subj", "obj").collect()
    }
    assert len(got) == len(base) > 0
    assert any(got[k] != base[k] for k in base), "training had no effect"


# ---------------------------------------------------------------------------
# per-epoch relatedness validation gate (learn_a.py:128-139)
# ---------------------------------------------------------------------------

N_TOPICS, WORDS_PER_TOPIC = 6, 5


def _topic_corpus(out_dir: str) -> dict[str, int]:
    """Deterministic topic-structured fixture corpus: 30 five-char tokens
    in 6 topics; each doc samples 90% of its 30 tokens from ONE topic.
    Windowed co-occurrence (what the W5 training contexts see) is the ONLY
    relatedness signal — word vectors are seeded isotropic Gaussian, so
    the K9 title-word init is topic-blind by construction (the r4
    BASELINE.md honesty note: the driver corpus is iid-uniform, where this
    validation is flat; here training has something real to learn).
    Returns {token: topic}."""
    import pyarrow as pa

    vocab = [f"tok{t}{j}q" for t in range(N_TOPICS) for j in range(WORDS_PER_TOPIC)]
    topic_of = {w: t // WORDS_PER_TOPIC for t, w in enumerate(vocab)}
    rng = np.random.default_rng(7)
    n_docs, doc_len, in_topic = 300, 30, 0.9
    texts = []
    for d in range(n_docs):
        t = d % N_TOPICS
        tw = vocab[t * WORDS_PER_TOPIC : (t + 1) * WORDS_PER_TOPIC]
        toks = [
            (rng.choice(tw) if rng.random() < in_topic else rng.choice(vocab))
            for _ in range(doc_len)
        ]
        texts.append(" ".join(toks))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * n_docs),
                "source": pa.array(["fix"] * n_docs),
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    m = 500
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(m, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array((np.arange(m) % 10).astype(np.int32)),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return topic_of


def test_epoch_relatedness_gate(spark, tmp_path):
    """VERDICT r4 item 3: per-epoch relatedness validation as a GATE.
    On the topic corpus the ground truth (same-topic entity pairs) depends
    only on co-occurrence structure; asserting epoch-N MRR strictly beats
    the K9 init means the epochs demonstrably learn the corpus structure
    (reference behavior: learn_a.py:128-139 validates every epoch's
    vectors on entity relatedness)."""
    from pyspark.sql import functions as F

    corpus = str(tmp_path / "corpus")
    import os

    os.makedirs(corpus)
    topic_of = _topic_corpus(corpus)

    # ground-truth pairs over the entity universe E{0,1}_{tok}: every
    # entity queries all others, relevant = same topic
    ents = [f"E{s}_{w}" for w in topic_of for s in (0, 1)]
    rows = []
    for qi, q in enumerate(sorted(ents)):
        qt = topic_of[q.split("_", 1)[1]]
        for c in sorted(ents):
            if c == q:
                continue
            rows.append((qi, q, c, int(topic_of[c.split("_", 1)[1]] == qt)))
    rel_pairs = spark.createDataFrame(rows, "query_id int, e1 string, e2 string, label int")

    got = (
        T.epoch_relatedness_validation(
            spark, corpus, rel_pairs, checkpoint_root=str(tmp_path / "ck")
        )
        .orderBy("epoch")
        .collect()
    )
    assert [r["epoch"] for r in got] == [0, 1, 2, 3]
    mrrs = [r["mrr"] for r in got]
    maps = [r["map"] for r in got]
    # the gate: strict improvement of the trained vectors over the init
    assert mrrs[-1] > mrrs[0], f"epoch-{len(mrrs)-1} MRR {mrrs[-1]} !> init {mrrs[0]}"
    assert maps[-1] > maps[0], f"epoch-{len(maps)-1} MAP {maps[-1]} !> init {maps[0]}"
    # and each epoch moved the needle monotonically on this fixture
    assert all(b >= a for a, b in zip(mrrs, mrrs[1:]))


# ---------------------------------------------------------------------------
# TransE KG-embedding trainer (operators/kg_embed.py)
# ---------------------------------------------------------------------------


def test_transe_ent_index_matches_md5_order(spark):
    from ed_twitter_spark.operators.kg_embed import _ent_index

    import hashlib

    names = [f"e:E{i}" for i in range(37)]
    ents = spark.createDataFrame([(n,) for n in names], "ent string")
    got = {r["ent"]: r["idx"] for r in _ent_index(ents).collect()}
    want_order = sorted(names, key=lambda n: (hashlib.md5(n.encode()).hexdigest(), n))
    assert got == {n: i for i, n in enumerate(want_order)}


def test_transe_edges_channel_typing(spark):
    from ed_twitter_spark.operators.kg_embed import transe_edges

    typed = spark.createDataFrame(
        [
            ("m1", "mentioned_by_user", "e:A", "c1"),
            ("m2", "mentioned_in_search", "e:B", "c1"),
            ("m3", "mentioned_by_user", "e:B", "c2"),  # lone entity, no pair
            ("m4", "mentioned_by_user", "e:A", "c1"),  # dup channel collapses
        ],
        "subj string, pred string, obj_vertex string, conv_id string",
    )
    got = {(r["h"], r["r"], r["t"]) for r in transe_edges(typed).collect()}
    assert got == {("e:A", "user~search", "e:B")}


def test_transe_step_math_matches_numpy(spark):
    """One full-batch step on a hand graph vs a direct numpy transcription
    of the same rounded-L1 TransE update."""
    import hashlib

    import numpy as np

    from ed_twitter_spark.operators import kg_embed as ke

    typed = spark.createDataFrame(
        [
            ("m1", "mentioned_by_user", "e:A", "c1"),
            ("m2", "mentioned_in_search", "e:B", "c1"),
            ("m3", "mentioned_by_user", "e:B", "c2"),
            ("m4", "mentioned_in_search", "e:C", "c2"),
        ],
        "subj string, pred string, obj_vertex string, conv_id string",
    )
    edges = [("e:A", "user~search", "e:B"), ("e:B", "user~search", "e:C")]

    def hex6(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:6], 16)

    ents = sorted(
        {e for h, _, t in edges for e in (h, t)},
        key=lambda n: (hashlib.md5(n.encode()).hexdigest(), n),
    )
    eidx = {i: n for i, n in enumerate(ents)}

    def init(key, salt):
        v = np.array(
            [hex6(f"{key}{salt}{d}") % 10000 / 10000.0 - 0.5 for d in range(ke.TRANSE_DIM)]
        )
        nn = np.sqrt(max(round(float((v * v).sum()), 12), 1e-12))
        return np.round(v / nn, 4)

    ev = {n: init(n, "#e") for n in ents}
    rv = {"user~search": init("user~search", "#r")}

    g_ent = {n: np.zeros(ke.TRANSE_DIM) for n in ents}
    g_rel = {r: np.zeros(ke.TRANSE_DIM) for r in rv}
    n_active, loss = 0, 0.0
    for h, r, t in edges:
        tneg = eidx[hex6(f"{h}|{r}|{t}#neg1") % len(ents)]
        dvp = ev[h] + rv[r] - ev[t]
        dvn = ev[h] + rv[r] - ev[tneg]
        hinge = ke.TRANSE_MARGIN + round(float(np.abs(dvp).sum()), 6) - round(
            float(np.abs(dvn).sum()), 6
        )
        if hinge > 0:
            n_active += 1
            loss += hinge
            sp, sn = np.sign(dvp), np.sign(dvn)
            g_ent[h] += sp - sn
            g_ent[t] += -sp
            g_ent[tneg] += sn
            g_rel[r] += sp - sn
    ev1 = {}
    for n in ents:
        v = ev[n] - ke.TRANSE_LR * g_ent[n]
        nn = np.sqrt(max(round(float((v * v).sum()), 12), 1e-12))
        ev1[n] = np.round(v / nn, 4)

    from ed_twitter_spark.operators.graph import kg_typed_edges  # noqa: F401  (shape doc)

    te = ke.transe_edges(typed)
    assert {(r["h"], r["r"], r["t"]) for r in te.collect()} == set(edges)

    # run one step through the real loop by monkey-free composition:
    # reuse the module internals on the tiny typed frame
    from ed_twitter_spark.caching import persist_tracked  # noqa: F401

    curve, evf, _, _ = _run_transe_on_typed(spark, typed, steps=1)
    crow = curve.collect()[0]
    assert crow["step"] == 1 and crow["n_active"] == n_active
    assert abs(crow["loss"] - round(loss, 4)) < 1e-9
    got = {}
    for r in evf.collect():
        got.setdefault(r["ent"], [0.0] * ke.TRANSE_DIM)[r["d"]] = r["val"]
    for n in ents:
        assert np.allclose(got[n], ev1[n], atol=1e-9), n


def _run_transe_on_typed(spark, typed, steps):
    """run_transe with the typed-edge build swapped for a fixture frame."""
    from unittest import mock

    from ed_twitter_spark.operators import graph as graph_ops
    from ed_twitter_spark.operators import kg_embed as ke
    from ed_twitter_spark import synth

    with mock.patch.object(graph_ops, "kg_typed_edges", lambda *_: typed), \
         mock.patch.object(graph_ops, "q_kg_edges", lambda *_: None), \
         mock.patch.object(synth, "transcripts", lambda *_: None):
        return ke.run_transe(spark, "/unused", steps=steps)


def test_transe_entity_vectors_stay_unit_norm(spark):
    import numpy as np

    typed = spark.createDataFrame(
        [
            ("m1", "mentioned_by_user", "e:A", "c1"),
            ("m2", "mentioned_in_search", "e:B", "c1"),
        ],
        "subj string, pred string, obj_vertex string, conv_id string",
    )
    _, evf, _, _ = _run_transe_on_typed(spark, typed, steps=2)
    norms = {}
    for r in evf.collect():
        norms.setdefault(r["ent"], 0.0)
        norms[r["ent"]] += r["val"] ** 2
    for n, sq in norms.items():
        assert abs(np.sqrt(sq) - 1.0) < 1e-3, (n, sq)


def test_transe_rank_eval_hand_fixture(spark):
    from ed_twitter_spark.operators.kg_embed import transe_rank_eval

    edges = spark.createDataFrame(
        [("A", "r", "B"), ("A", "r", "C")], "h string, r string, t string"
    )
    ev = spark.createDataFrame(
        [("A", 0, 0.0), ("B", 0, 1.0), ("C", 0, 5.0)],
        "ent string, d int, val double",
    )
    rv = spark.createDataFrame([("r", 0, 1.0)], "r string, d int, val double")
    row = transe_rank_eval(edges, ev, rv).collect()[0]
    # (A,r,B): d_B=0 -> rank 1.  (A,r,C): d_A=1, d_B=0 < d_C=4 -> rank 3.
    assert row["n_triples"] == 2
    assert row["mean_rank"] == 2.0
    assert row["hits_at_1"] == 0.5
    assert row["hits_at_3"] == 1.0


def test_transe_training_improves_link_prediction(spark):
    """The trained-vs-init gate (the TransE analog of the epoch
    relatedness gate): 2 steps must strictly improve mean rank on the
    co-mention graph (measured 13.04 -> 9.81 at the fixture SFs)."""
    from pyspark.sql import functions as F

    from ed_twitter_spark import synth
    from ed_twitter_spark.operators import graph as graph_ops
    from ed_twitter_spark.operators import kg_embed as ke

    sf = "/root/testdata/sf0.001"
    typed = graph_ops.kg_typed_edges(
        graph_ops.q_kg_edges(spark, sf), synth.transcripts(spark, sf)
    )
    edges = ke.transe_edges(typed).localCheckpoint()
    ents = (
        edges.select(F.col("h").alias("ent"))
        .unionByName(edges.select(F.col("t").alias("ent")))
        .distinct()
    )
    eidx = ke._ent_index(ents).localCheckpoint()
    ev0 = ke._l2_normalize(
        ke._init_vecs(spark, eidx.select("ent"), "ent", "#e"), "ent"
    ).localCheckpoint()
    rv0 = ke._l2_normalize(
        ke._init_vecs(spark, edges.select("r").distinct(), "r", "#r"), "r"
    ).localCheckpoint()
    init = ke.transe_rank_eval(edges, ev0, rv0).collect()[0]

    _, ev, rv, tr_edges = ke.run_transe(spark, sf)
    trained = ke.transe_rank_eval(tr_edges, ev, rv).collect()[0]

    assert trained["mean_rank"] < init["mean_rank"]
    assert trained["hits_at_3"] > init["hits_at_3"]

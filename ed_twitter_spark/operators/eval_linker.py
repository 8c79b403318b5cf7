"""Full linker over the reference's Twitter eval set (parity pipeline).

Mirrors `nel.main --mode eval` (SURVEY.md §3.3): CSV read (S5) → coref
candidate rewrite (J6) → context id build (P3/P4/W2/W3) → K1-K6 scoring via
the same distributed ``score_mentions`` operator used for transcripts →
micro-F1 (A8).

Fidelity notes (deviations are deliberate and documented):

* snd-ctx relation windows default to all-unk because the reference's
  CSV↔CoNLL merge never attaches (``dataset.py:93-94`` tests int membership
  in a list of dicts — always False-match). ``align=True`` enables the
  *intended* cursor alignment (J5) instead.
* the reference drops context words missing from its trained word2vec
  vocabulary; our vocabulary is hash-total (every token embeds), except the
  'EMPTYCTXT' sentinel which is dropped like an unk.
* person names for coref are a parameter (the reference reads persons.txt
  from its data download, which is not part of the repo).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.fixtures import word_code
from ed_twitter_spark.functions.text import is_important_word
from ed_twitter_spark.operators.linker import (
    CTX_WINDOW,
    _WINDOW_SCHEMA,
    score_mentions,
)
from ed_twitter_spark.sources.twitter_eval import align_csv_conll

from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

# copy, not .add() — StructType.add mutates in place
_CAND_SCHEMA = StructType(
    list(_WINDOW_SCHEMA.fields)
    + [
        StructField("cand_names", ArrayType(StringType())),
        StructField("cand_priors", ArrayType(DoubleType())),
    ]
)


def with_coref(rows: list[dict], person_names: set[str]) -> None:
    """J6 in-place candidate rewrite (dataset.py:184-217), exact semantics:
    sequential in doc order, antecedent lists may already be rewritten,
    averaged priors, sort-asc-then-reverse tie order."""
    for cur in rows:
        cur_m = cur["mention"].lower()
        coref = []
        for m in rows:
            if len(m["cands"]) == 0 or m["cands"][0][0] not in person_names:
                continue
            mention = m["mention"].lower()
            start = mention.find(cur_m)
            if start == -1 or mention == cur_m:
                continue
            end = start + len(cur_m) - 1
            if (start == 0 or mention[start - 1] == " ") and (
                end == len(mention) - 1 or mention[end + 1] == " "
            ):
                coref.append(m)
        if coref:
            acc: dict[str, float] = {}
            for m in coref:
                for c, p in m["cands"]:
                    acc[c] = acc.get(c, 0.0) + p
            items = [(c, p / len(coref)) for c, p in acc.items()]
            cur["cands"] = sorted(items, key=lambda x: x[1])[::-1]


def _ctx_ids(s: str, n_vectors: int) -> list[int]:
    toks = (s or "").strip().split()
    ids = [
        word_code(t) % n_vectors
        for t in toks
        if t != "EMPTYCTXT" and is_important_word(t)
    ]
    return ids


def prepare_eval_mentions(
    csv_df: DataFrame,
    conll_df: DataFrame | None,
    n_vectors: int,
    person_names: set[str] | None = None,
    align: bool = False,
) -> DataFrame:
    persons = frozenset(person_names or ())
    unk = n_vectors

    def build(rows: pd.DataFrame, conll: pd.DataFrame | None) -> pd.DataFrame:
        rows = rows.sort_values("row_idx")
        recs = [
            {
                "mention": m,
                "cands": list(
                    zip(
                        cn if cn is not None else [],
                        cp if cp is not None else [],
                    )
                ),
                "lctx": l,
                "rctx": r,
            }
            for m, cn, cp, l, r in zip(
                rows["mention"],
                rows["cand_names"],
                rows["cand_priors"],
                rows["lctx"],
                rows["rctx"],
            )
        ]
        with_coref(recs, persons)

        matches: list[dict | None] = [None] * len(recs)
        sentences = []
        if align and conll is not None and len(conll) > 0:
            conll = conll.sort_values("sent_id")
            sentences = [list(t) for t in conll["sent_toks"]]
            first = conll.iloc[0]
            mentions = [
                {"sent_id": s, "start": a, "end": b}
                for s, a, b in zip(first["m_sents"], first["m_starts"], first["m_ends"])
            ]
            matches = align_csv_conll(
                [{"mention": r["mention"]} for r in recs],
                {"sentences": sentences, "mentions": mentions},
            )

        out = []
        doc_name = rows["doc_name"].iloc[0]
        for seq, (rec, row_idx, match) in enumerate(
            zip(recs, rows["row_idx"], matches)
        ):
            l_ids = _ctx_ids(rec["lctx"], n_vectors)
            l_ids = l_ids[max(0, len(l_ids) - CTX_WINDOW // 2) :]
            r_ids = _ctx_ids(rec["rctx"], n_vectors)[: CTX_WINDOW // 2]
            if match is not None:
                sent = sentences[match["sent_id"]]
                s, e = match["start"], match["end"]
                snd_l = [word_code(t) % n_vectors for t in sent[max(0, s - 3) : s]]
                snd_r = [word_code(t) % n_vectors for t in sent[e : e + 3]]
                snd_m = [word_code(t) % n_vectors for t in sent[s:e]]
            else:
                snd_l, snd_m, snd_r = [unk], [unk], [unk]
            out.append(
                (
                    doc_name,
                    0,
                    int(row_idx),
                    seq,
                    rec["mention"],
                    l_ids,
                    r_ids,
                    snd_l or [unk],
                    snd_m or [unk],
                    snd_r or [unk],
                    0,
                    [c for c, _ in rec["cands"]],
                    [p for _, p in rec["cands"]],
                )
            )
        return pd.DataFrame(out, columns=[f.name for f in _CAND_SCHEMA.fields])

    if align and conll_df is not None:
        return (
            csv_df.groupBy("doc_id")
            .cogroup(conll_df.groupBy("doc_id"))
            .applyInPandas(
                lambda left, right: build(left, right), schema=_CAND_SCHEMA
            )
        )
    return csv_df.groupBy("doc_name").applyInPandas(
        lambda pdf: build(pdf, None), schema=_CAND_SCHEMA
    )


def link_eval_set(
    spark: SparkSession,
    csv_path: str,
    sf_dir: str,
    conll_path: str | None = None,
    person_names: set[str] | None = None,
    align: bool = False,
) -> DataFrame:
    """Triples over an eval CSV, scored with the fixture weights + md5-keyed
    embedding matrix from ``sf_dir``. conv_id in output = doc_name."""
    from ed_twitter_spark.functions.fixtures import load_embedding_matrix
    from ed_twitter_spark.sources.twitter_eval import read_conll, read_mentions_csv

    emb = load_embedding_matrix(spark, sf_dir)
    csv_df = read_mentions_csv(spark, csv_path)
    conll_df = read_conll(spark, conll_path) if (align and conll_path) else None
    cands = prepare_eval_mentions(
        csv_df, conll_df, emb.shape[0] - 1, person_names, align
    ).withColumn("cand_ids", F.transform("cand_names", synth.ent_id_col))
    return score_mentions(cands, emb)

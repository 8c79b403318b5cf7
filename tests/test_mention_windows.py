"""The embedding linker's window build on irregular and degenerate input.

The window build takes each turn's tokens and mention positions from the
JVM (`hashing.toks_col`, `mentions.mention_positions`), so it must list
exactly the mentions of `mentions.detect_mentions` on any whitespace, and
number them 0..n-1 per conversation (`seq` sorts and chunks the scorer's
input). Also covered: the multi-segment (halo) path, which no test corpus
reaches at the default segment length, and the linker's stages on empty,
null-text, mention-free and single-mention conversations.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.fixtures import load_embedding_matrix
from ed_twitter_spark.operators import linker as L
from ed_twitter_spark.operators.mentions import detect_mentions

_TURNS_SCHEMA = "conv_id string, turn_idx int, text string, doc_id bigint"
_KEY = ["conv_id", "turn_idx", "mention_idx", "mention"]


def _turns(spark, rows):
    return spark.createDataFrame(rows, _TURNS_SCHEMA)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_window_build_lists_the_mentions_of_detect_mentions(spark):
    """Leading space, double space, tab, NBSP and null text: the window
    build emits exactly detect_mentions' (conv_id, turn_idx, mention_idx,
    mention) rows, with seq 0..n-1 and no duplicates per conversation."""
    t = _turns(
        spark,
        [
            ("c0", 0, " Paris meets London", 0),
            ("c0", 1, "Berlin\u00a0Madrid  Rome", 1),
            ("c0", 2, None, 2),
            ("c0", 3, "Tokyo\tKyoto Osaka", 3),
            ("c1", 0, None, 4),
            ("c1", 1, "  Lima and\t\tQuito ", 5),
        ],
    )
    n_vec = load_embedding_matrix(spark, SF_SMOKE).shape[0] - 1
    w = L.build_mention_windows(t, n_vec)
    got = _rows(w, _KEY)
    assert got == _rows(detect_mentions(t), _KEY)
    # the JVM split: NBSP is not a separator, a leading separator makes a
    # leading empty token
    assert ("c0", 0, 1, "Paris") in got
    assert ("c0", 1, 0, "Berlin\u00a0Madrid") in got
    seqs: dict[str, list[int]] = {}
    for conv_id, seq in _rows(w, ["conv_id", "seq"]):
        seqs.setdefault(conv_id, []).append(seq)
    assert seqs == {"c0": list(range(8)), "c1": list(range(2))}
    # seq follows (turn_idx, mention_idx) order
    by_seq = _rows(w, ["conv_id", "seq", "turn_idx", "mention_idx"])
    assert by_seq == sorted(by_seq, key=lambda r: (r[0], r[2], r[3]))


def test_window_build_halo_segments_equal_default(spark, monkeypatch):
    """Every smoke conversation fits one default segment; at 64-token
    segments most span several, so each mention's windows are rebuilt
    from halo tokens of neighbouring segments. Rows must not change."""
    t = synth.transcripts(spark, SF_SMOKE)
    n_vec = load_embedding_matrix(spark, SF_SMOKE).shape[0] - 1
    default = L.build_mention_windows(t, n_vec)
    monkeypatch.setattr(L, "SEG_TOKENS", 64)
    small = L.build_mention_windows(t, n_vec)
    longest = (
        t.groupBy("conv_id")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert longest > 4 * 64
    assert small.count() == default.count() > 0
    assert small.exceptAll(default).count() == 0
    assert default.exceptAll(small).count() == 0


@pytest.mark.parametrize(
    "rows, n_mentions",
    [
        ([], 0),
        ([("c0", 0, None, 0)], 0),
        ([("c0", 0, "a bb ccc", 0), ("c0", 1, "", 1)], 0),
        ([("c0", 0, "a {m} ccc", 0), ("c0", 1, None, 1)], 1),
    ],
    ids=["empty", "null_text", "no_mentions", "single_mention"],
)
def test_linker_stages_on_degenerate_input(spark, rows, n_mentions):
    """windows → candidates → scoring on degenerate conversations: one
    typed triple per mention, and a typed empty frame for no mentions."""
    emb = load_embedding_matrix(spark, SF_SMOKE)
    kb = synth.kb_alias(spark, SF_SMOKE)
    surface = kb.orderBy("mention").first()["mention"]
    t = _turns(spark, [(c, i, x and x.format(m=surface), d) for c, i, x, d in rows])
    windows = L.build_mention_windows(t, emb.shape[0] - 1)
    cands = L.attach_candidates(windows, kb)
    triples = L.score_mentions(cands, emb)
    assert windows.schema == L._WINDOW_SCHEMA
    assert triples.schema == L._TRIPLE_SCHEMA
    assert windows.count() == cands.count() == n_mentions
    got = triples.collect()
    assert len(got) == n_mentions
    if n_mentions:
        (r,) = got
        assert (r["subj"], r["mention"]) == ("c0#0#1", surface)
        assert r["obj"] in {row["ent_name"] for row in kb.where(F.col("mention") == surface).collect()}

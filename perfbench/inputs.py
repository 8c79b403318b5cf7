"""Seeded input corpus for the benchmark workloads.

``documents.parquet`` + ``embeddings.parquet``, the input directory that
``plans.pipeline.run_pipeline`` reads. Documents have the ``tools/gen_sf.py``
length distribution (10-100 tokens), but their tokens are drawn Zipf(1.0)
from ~20k generated surfaces instead of gen_sf's 30-word vocabulary, so the
KB, the candidate arrays, the per-name entity-hash memo and
canonicalization work at a realistic width. Embeddings come from gen_sf's
own generator at its vectors-per-document ratio.

The same seed always gives the same files. The day layout that the ingest
workload reads is derived from this corpus by the program's own
``synth.transcripts`` and is written by the caller, which holds the Spark
session.
"""

from __future__ import annotations

import os
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_sf  # noqa: E402  (tools/gen_sf.py, imported unchanged)

WIDE_SURFACES = 20_000
WIDE_ZIPF_S = 1.0
# Surface lengths 3..9 cycle with the Zipf rank. Surfaces of 3 letters are
# context-only tokens and 4+ letters are mentions (synth.MENTION_MIN_LEN):
# 79% of tokens are mentions, as with gen_sf's 24 of 30 words.
WIDE_LEN_RANGE = (3, 10)


def _surfaces(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct random words, in Zipf rank order.

    Lengths cycle with the rank, so the share of mention tokens, which is
    set by the lengths of the head surfaces, is the same for every seed.
    """
    letters = np.array(list(string.ascii_lowercase))
    lo, hi = WIDE_LEN_RANGE
    seen: set[str] = set()
    out: list[str] = []
    for length in lo + np.arange(n) % (hi - lo):
        word = "".join(rng.choice(letters, size=int(length)))
        while word in seen:
            word = "".join(rng.choice(letters, size=int(length)))
        seen.add(word)
        out.append(word)
    return np.array(out)


def wide_documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = _surfaces(rng, WIDE_SURFACES)
    w = 1.0 / np.arange(1, WIDE_SURFACES + 1) ** WIDE_ZIPF_S
    # gen_sf's length distribution, uniform over 10..100 tokens, taken as
    # evenly spaced quantiles in a seeded order: the total token count, and
    # with it the work of a run, is then the same for every seed
    lens = rng.permutation(np.linspace(10, 100, n).round().astype(np.int64))
    toks = vocab[rng.choice(WIDE_SURFACES, size=int(lens.sum()), p=w / w.sum())]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(doc) for doc in np.split(toks, cuts)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
        }
    )


def write_corpus(out_dir: str, n_docs: int, seed: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = wide_documents(rng, n_docs)
    # gen_sf's vectors-per-document ratio (20k vectors per 50k docs)
    n_vecs = max(64, n_docs * gen_sf.VECS_PER_SF // gen_sf.DOCS_PER_SF)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(gen_sf.gen_embeddings(rng, n_vecs, skew=False), os.path.join(out_dir, "embeddings.parquet"))


# Ingest day of a document: day = doc_id * n_days // n_docs, so each day
# holds a contiguous doc_id range and every conversation spans all days.
DAY_FMT = "2026-01-%02d"


def day_label(day: int) -> str:
    return DAY_FMT % (day + 1)

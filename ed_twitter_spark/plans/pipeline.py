"""Resumable staged KG pipeline: the spark-submit entry for a real cluster.

The end-to-end dataflow (SURVEY.md §3.3 "Spark lifecycle equivalent") as an
explicit DAG of checkpointed stages. Each stage writes its data and a lineage
record through :mod:`ed_twitter_spark.io`; on re-run a stage
whose recorded fingerprint still matches (code version + sf_dir + input
fingerprints) is **skipped** and loaded from its checkpoint, so a run killed
mid-pipeline resumes at the first incomplete stage (north rule,
BASELINE.json:6,14). The reference's equivalent is the strict file-dataflow
of run_all.sh (`deep-ed-pytorch/run_all.sh:22-36`) plus torch memo-caches —
ours adds fingerprint invalidation: a re-run stage re-runs exactly its
downstream suffix, and the code version is a digest of the package sources
(:data:`CODE_VERSION`), so a checkpoint built by other code is never reused.

Deciding what to rebuild runs no Spark job: :func:`run_pipeline` reads the
lineage records of all stages on the driver (:func:`io.read_lineages`), so a
full resume runs no job at all. A stage whose record is missing, truncated,
corrupt or another stage's counts as absent and rebuilds with its
descendants. A rebuilt stage reads its inputs typed by the schemas their
records hold, so loading a checkpoint starts no schema-inference job.

Stage boundaries double as shuffle barriers: transcripts and kb_alias scan
the raw input once each; windows/triples shuffle on conv_id; components is
the iterative CC loop; vertices/edges are broadcast-side joins. At 10^12
turns every stage is restartable without recomputing its ancestors.

Run:  spark-submit --py-files ed_twitter_spark.zip -m ed_twitter_spark.plans.pipeline
(or `python -m ed_twitter_spark.plans.pipeline [sf_dir] [checkpoint_root]`).
"""

from __future__ import annotations

import hashlib
import sys
import time
from dataclasses import dataclass
from importlib import resources
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ed_twitter_spark import io as kgio


@dataclass(frozen=True)
class Stage:
    name: str
    version: str  # CODE_VERSION: a checkpoint is reused only by the code that built it
    deps: tuple[str, ...]
    build: Callable[[SparkSession, str, dict[str, DataFrame]], DataFrame]


def source_digest(pkg=None) -> str:
    """md5[:16] over the relative path and bytes of every ``.py`` source of
    the package (``pkg``: a directory, default the installed package — a
    zip on ``--py-files`` works too). Any code edit changes it, so a resumed
    run cannot reuse a checkpoint that different code built; the price is
    that an edit anywhere in the package rebuilds every stage."""
    h = hashlib.md5()

    def walk(node, rel: str) -> None:
        for child in sorted(node.iterdir(), key=lambda c: c.name):
            if child.is_dir():
                walk(child, f"{rel}{child.name}/")
            elif child.name.endswith(".py"):
                h.update(f"{rel}{child.name}\0".encode())
                h.update(child.read_bytes())

    walk(pkg if pkg is not None else resources.files("ed_twitter_spark"), "")
    return h.hexdigest()[:16]


CODE_VERSION = source_digest()  # once per process


def _transcripts(spark, sf_dir, _):
    from ed_twitter_spark import synth

    return synth.transcripts(spark, sf_dir)


def _kb_alias(spark, sf_dir, _):
    from ed_twitter_spark import synth

    return synth.kb_alias(spark, sf_dir)


def _windows(spark, sf_dir, inputs):
    from ed_twitter_spark.functions.fixtures import load_embedding_matrix
    from ed_twitter_spark.operators.linker import build_mention_windows

    emb = load_embedding_matrix(spark, sf_dir)
    return build_mention_windows(inputs["transcripts"], emb.shape[0] - 1)


def _candidates(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.candidates import attach_candidates

    return attach_candidates(inputs["windows"], inputs["kb_alias"])


def _triples(spark, sf_dir, inputs):
    from ed_twitter_spark.functions.fixtures import load_embedding_matrix
    from ed_twitter_spark.operators.linker import score_mentions

    emb = load_embedding_matrix(spark, sf_dir)
    return score_mentions(inputs["candidates"], emb)


def _components(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.canonicalize import (
        connected_components,
        surface_equivalence_edges,
    )

    edges = surface_equivalence_edges(inputs["triples"], inputs["kb_alias"])
    return connected_components(edges)


def _vertices(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.graph import kg_vertices

    return kg_vertices(inputs["components"])


def _edges(spark, sf_dir, inputs):
    from ed_twitter_spark.operators.graph import kg_edges

    return kg_edges(inputs["triples"], inputs["components"])


STAGES: tuple[Stage, ...] = (
    Stage("transcripts", CODE_VERSION, (), _transcripts),
    Stage("kb_alias", CODE_VERSION, (), _kb_alias),
    Stage("windows", CODE_VERSION, ("transcripts",), _windows),
    Stage("candidates", CODE_VERSION, ("windows", "kb_alias"), _candidates),
    Stage("triples", CODE_VERSION, ("candidates",), _triples),
    Stage("components", CODE_VERSION, ("triples", "kb_alias"), _components),
    Stage("vertices", CODE_VERSION, ("components",), _vertices),
    Stage("edges", CODE_VERSION, ("triples", "components"), _edges),
)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    resume: bool = True,
    force: tuple[str, ...] = (),
) -> dict[str, dict]:
    """Execute the DAG; returns {stage: lineage record + 'skipped' flag}.

    ``resume=False`` rebuilds everything; ``force`` invalidates the named
    stages (and, via fingerprints, their descendants) and must name stages
    of :data:`STAGES`. All lineage records are read up front on the driver;
    each rebuilt stage reads its inputs typed by their recorded schemas.
    """
    names = [st.name for st in STAGES]
    unknown = sorted(set(force) - set(names))
    if unknown:
        raise ValueError(f"force names unknown stages {unknown}; stages are {names}")
    lineages = kgio.read_lineages(spark, root, names) if resume else {}
    results: dict[str, dict] = {}
    fps: dict[str, str] = {}
    rebuilt: set[str] = set()
    for st in STAGES:
        fp = kgio.fingerprint(st.name, st.version, sf_dir, *(fps[d] for d in st.deps))
        fps[st.name] = fp
        lineage = lineages.get(st.name)
        must_run = (
            lineage is None
            or lineage["fingerprint"] != fp
            or st.name in force
            # a forced/invalidated ancestor rebuilt this run: its output may
            # differ from what this stage's checkpoint was built from
            or any(d in rebuilt for d in st.deps)
        )
        if not must_run:
            results[st.name] = {**lineage, "skipped": True}
            continue
        rebuilt.add(st.name)
        inputs = {d: kgio.read_stage(spark, root, d) for d in st.deps}
        t0 = time.time()
        df = st.build(spark, sf_dir, inputs)
        record = kgio.write_stage(df, root, st.name, fp, list(st.deps), started_at=t0)
        results[st.name] = {**record, "skipped": False}
    return results


def main(argv: list[str]) -> None:
    from ed_twitter_spark.session import get_spark

    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    root = argv[2] if len(argv) > 2 else "/tmp/kg_checkpoints"
    spark = get_spark("kg_pipeline")
    for name, rec in run_pipeline(spark, sf_dir, root).items():
        flag = "SKIP" if rec["skipped"] else "RUN "
        print(f"{flag} {name}: rows={rec['rows']} wall={rec['wall_s']}s fp={rec['fingerprint']}")


if __name__ == "__main__":
    main(sys.argv)

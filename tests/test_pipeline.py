"""Checkpoint/resume pipeline: lineage records, per-partition metrics, resume."""

from __future__ import annotations

import os
import shutil

import pytest
from conftest import SF_SMOKE, jobs_of

from ed_twitter_spark import io as kgio
from ed_twitter_spark.plans.pipeline import STAGES, run_pipeline


def test_pipeline_runs_resumes_and_invalidates(spark, tmp_path):
    root = str(tmp_path / "ckpt")

    # cold run: every stage executes and lands a checkpoint
    r1 = run_pipeline(spark, SF_SMOKE, root)
    assert set(r1) == {s.name for s in STAGES}
    assert all(not rec["skipped"] for rec in r1.values())
    assert all(rec["rows"] > 0 for rec in r1.values())

    # warm run: identical fingerprints → everything skipped
    r2 = run_pipeline(spark, SF_SMOKE, root)
    assert all(rec["skipped"] for rec in r2.values())
    assert {n: rec["rows"] for n, rec in r2.items()} == {
        n: rec["rows"] for n, rec in r1.items()
    }

    # force mid-pipeline: the named stage and every descendant re-run
    # (a distrusted checkpoint invalidates everything built from it);
    # ancestors stay skipped
    r3 = run_pipeline(spark, SF_SMOKE, root, force=("candidates",))
    assert r3["transcripts"]["skipped"] and r3["kb_alias"]["skipped"]
    assert r3["windows"]["skipped"]
    for st in ("candidates", "triples", "components", "vertices", "edges"):
        assert not r3[st]["skipped"], st
        assert r3[st]["rows"] == r1[st]["rows"], st


def test_force_rejects_unknown_stage_names(spark, tmp_path):
    """A misspelt ``force`` name used to force nothing; now it fails
    before any stage runs."""
    root = str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="triple"):
        run_pipeline(spark, SF_SMOKE, root, force=("triple",))
    with pytest.raises(ValueError):
        run_pipeline(spark, SF_SMOKE, root, force="triples")  # a str, not a tuple
    assert not os.path.exists(root)


def _rebuilt(results: dict[str, dict]) -> set[str]:
    return {n for n, rec in results.items() if not rec["skipped"]}


def test_resume_rebuilds_exactly_the_broken_stages(spark, tmp_path, monkeypatch):
    """A stage counts as complete only once its lineage record is written:
    a crash after the data and before the record, a truncated, garbage or
    empty record and another stage's record each rebuild that stage and its
    descendants, and nothing upstream."""
    root = str(tmp_path / "ckpt")
    real = kgio._write_record

    def record(stage):
        return f"{root}/{stage}/_lineage.json"

    def crc(stage):
        return f"{root}/{stage}/._lineage.json.crc"

    def crash_on_triples_record(spark, path, rec):
        if path == record("triples"):
            raise RuntimeError("killed before the lineage record")
        real(spark, path, rec)

    after_triples = {"triples", "components", "vertices", "edges"}
    with monkeypatch.context() as m:
        m.setattr(kgio, "_write_record", crash_on_triples_record)
        with pytest.raises(RuntimeError, match="killed"):
            run_pipeline(spark, SF_SMOKE, root)
    assert os.listdir(kgio.data_path(root, "triples"))  # the data did land
    assert _rebuilt(run_pipeline(spark, SF_SMOKE, root)) == after_triples

    # the same crash while overwriting a complete stage: its old record
    # must not vouch for the new, possibly partial, data
    with monkeypatch.context() as m:
        m.setattr(kgio, "_write_record", crash_on_triples_record)
        with pytest.raises(RuntimeError, match="killed"):
            run_pipeline(spark, SF_SMOKE, root, force=("triples",))
    assert _rebuilt(run_pipeline(spark, SF_SMOKE, root)) == after_triples

    # a record cut short, without its checksum: the JSON parse fails
    with open(record("components"), "r+b") as f:
        f.truncate(os.path.getsize(record("components")) // 2)
    os.remove(crc("components"))
    assert kgio.read_lineage(spark, root, "components") is None
    assert _rebuilt(run_pipeline(spark, SF_SMOKE, root)) == {"components", "vertices", "edges"}

    # a garbage record under its stale checksum: the checksum fails
    with open(record("vertices"), "wb") as f:
        f.write(b'{"stage": "vertices", "garbage": true}')
    assert kgio.read_lineage(spark, root, "vertices") is None
    assert _rebuilt(run_pipeline(spark, SF_SMOKE, root)) == {"vertices"}

    # a zero-byte record
    open(record("edges"), "wb").close()
    assert kgio.read_lineage(spark, root, "edges") is None
    assert _rebuilt(run_pipeline(spark, SF_SMOKE, root)) == {"edges"}

    # another stage's valid record, checksum and all
    shutil.copy(record("edges"), record("vertices"))
    shutil.copy(crc("edges"), crc("vertices"))
    assert kgio.read_lineage(spark, root, "vertices") is None
    assert kgio.read_lineages(spark, root, ["vertices", "edges"]).keys() == {"edges"}
    assert _rebuilt(run_pipeline(spark, SF_SMOKE, root)) == {"vertices"}
    assert _rebuilt(run_pipeline(spark, SF_SMOKE, root)) == set()


def test_full_resume_starts_no_spark_job(spark, tmp_path):
    """Deciding that nothing needs rebuilding reads every lineage record on
    the driver, and a stage read is typed by its recorded schema: neither
    starts a job before an action."""
    root = str(tmp_path / "ckpt")
    run_pipeline(spark, SF_SMOKE, root)

    results, n_jobs = jobs_of(spark, lambda: run_pipeline(spark, SF_SMOKE, root))
    assert all(rec["skipped"] for rec in results.values())
    assert n_jobs == 0

    schema = results["triples"]["schema"]
    df, n_jobs = jobs_of(spark, lambda: kgio.read_stage(spark, root, "triples"))
    assert n_jobs == 0
    assert df.schema.json() == schema
    assert df.count() == results["triples"]["rows"]


def test_catalog_bookkeeping_runs_no_spark_job(spark, tmp_path):
    """``write_stage`` runs the data write and the per-partition count (3
    jobs for a narrow frame); reading the record, the typed data and the
    metrics frame back starts none. A stage with no committed record
    cannot be read."""
    import time

    root = str(tmp_path / "ckpt")
    narrow = spark.range(100).selectExpr("id AS x", "CAST(id AS STRING) AS y")
    kgio.write_stage(narrow, root, "warmup", fp="f0", deps=[], started_at=time.time())
    rec, n_jobs = jobs_of(
        spark, lambda: kgio.write_stage(narrow, root, "narrow", "f0", [], started_at=time.time())
    )
    assert n_jobs == 3
    assert sum(n for _, n in rec["partitions"]) == rec["rows"] == 100

    recs, n_jobs = jobs_of(spark, lambda: kgio.read_lineages(spark, root, ["narrow", "warmup"]))
    assert n_jobs == 0 and recs["narrow"] == rec
    df, n_jobs = jobs_of(spark, lambda: kgio.read_stage(spark, root, "narrow"))
    assert n_jobs == 0 and df.schema.json() == rec["schema"]
    m, n_jobs = jobs_of(spark, lambda: kgio.read_metrics(spark, root, "narrow"))
    assert n_jobs == 0
    assert sorted(tuple(r) for r in m.collect()) == sorted(
        [("narrow", -1, 100)] + [("narrow", pid, n) for pid, n in rec["partitions"]]
    )

    os.remove(f"{root}/narrow/_lineage.json")
    with pytest.raises(FileNotFoundError, match="narrow"):
        kgio.read_stage(spark, root, "narrow")
    with pytest.raises(FileNotFoundError, match="never_written"):
        kgio.read_stage(spark, root, "never_written")


def test_stage_versions_are_the_source_digest(spark, tmp_path, monkeypatch):
    """A checkpoint is reused only by the code that built it: with the same
    code every stage skips; under another source digest every stage
    rebuilds."""
    import dataclasses

    from ed_twitter_spark.plans import pipeline

    assert {st.version for st in STAGES} == {pipeline.CODE_VERSION}
    root = str(tmp_path / "ckpt")
    run_pipeline(spark, SF_SMOKE, root)
    assert all(rec["skipped"] for rec in run_pipeline(spark, SF_SMOKE, root).values())

    other = "0" * 16
    assert other != pipeline.CODE_VERSION
    monkeypatch.setattr(
        pipeline, "STAGES", tuple(dataclasses.replace(st, version=other) for st in STAGES)
    )
    assert not any(rec["skipped"] for rec in run_pipeline(spark, SF_SMOKE, root).values())


def test_source_digest_tracks_every_source_file(tmp_path):
    import shutil
    from pathlib import Path

    from ed_twitter_spark.plans import pipeline

    pkg = Path(pipeline.__file__).resolve().parents[1]
    copy = tmp_path / "pkg"
    shutil.copytree(pkg, copy, ignore=shutil.ignore_patterns("__pycache__"))
    assert pipeline.source_digest(copy) == pipeline.CODE_VERSION
    (copy / "notes.txt").write_text("not a source")
    assert pipeline.source_digest(copy) == pipeline.CODE_VERSION
    with open(copy / "operators" / "linker.py", "a") as f:
        f.write("\n")
    assert pipeline.source_digest(copy) != pipeline.CODE_VERSION


def test_metrics_per_partition_sum_to_total(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    run_pipeline(spark, SF_SMOKE, root)
    m = kgio.read_metrics(spark, root, "triples").collect()
    total = next(r for r in m if r["partition_id"] == -1)
    parts = [r for r in m if r["partition_id"] >= 0]
    assert len(parts) >= 1
    assert sum(r["rows"] for r in parts) == total["rows"]
    lineage = kgio.read_lineage(spark, root, "triples")
    assert lineage["rows"] == total["rows"]
    assert lineage["deps"] == '["candidates"]'


def test_write_stage_empty_output(spark, tmp_path):
    """A stage that legitimately produces zero rows still checkpoints: the
    (stage, -1, 0) totals row exists and lineage records rows=0 — an empty
    stage is complete, not broken."""
    import time

    root = str(tmp_path / "ckpt_empty")
    empty = spark.range(0).selectExpr("id AS x")
    rec = kgio.write_stage(empty, root, "nothing", fp="f0", deps=[], started_at=time.time())
    assert rec["rows"] == 0
    m = kgio.read_metrics(spark, root, "nothing").collect()
    totals = [r for r in m if r["partition_id"] == -1]
    assert len(totals) == 1 and totals[0]["rows"] == 0
    assert kgio.read_lineage(spark, root, "nothing")["rows"] == 0


def test_graph_tables_consistent(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    run_pipeline(spark, SF_SMOKE, root)
    v = kgio.read_stage(spark, root, "vertices")
    e = kgio.read_stage(spark, root, "edges")
    t = kgio.read_stage(spark, root, "triples")
    # every non-NIL triple becomes exactly one edge with a resolved vertex
    n_non_nil = t.where(t.obj != "NIL").count()
    assert e.count() == n_non_nil
    assert e.where(e.obj_vertex.isNull()).count() == 0
    # edge vertices ⊆ vertex table ids; every vertex has a canonical name
    ids = {r.vertex_id for r in v.select("vertex_id").collect()}
    used = {r.obj_vertex for r in e.select("obj_vertex").distinct().collect()}
    assert used <= ids
    assert v.where(v.canonical_name.isNull()).count() == 0

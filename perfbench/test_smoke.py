"""Smoke self-test of the benchmark.

Run from the repository root:  python3 -m pytest perfbench/test_smoke.py -q

The CLI tests run every workload at a tiny size, untraced and traced, and
check that every metric named in BENCHMARK.json is printed with its unit.
The other tests show that the correctness checks fire, that the event-log
fold and the ``/proc`` sampler count what they claim, and that the
benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import procstat  # noqa: E402
import run as bench  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture
def tmp_path():
    """A fresh directory inside the checkout, which is where the benchmark writes."""
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    path = tempfile.mkdtemp(prefix="test-", dir=base)
    yield pathlib.Path(path)
    shutil.rmtree(path, ignore_errors=True)


def _cli(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=400,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_cli_emits_every_metric_with_its_unit(workload, trace):
    p = _cli(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--docs", "40")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {w["name"]: w["unit"] for w in wanted}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_cli_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _cli(str(tmp_path), "--workload", "kg_ingest", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _triples_checkpoint(root, subj, obj, score):
    os.makedirs(root / "triples" / "data")
    pq.write_table(
        pa.table({"subj": subj, "obj": obj, "score": score}),
        root / "triples" / "data" / "part-0.parquet",
    )


def test_build_checks_fire(tmp_path, monkeypatch):
    _triples_checkpoint(tmp_path, ["c#0#0", "c#0#1"], ["E0_ab", "NIL"], [0.5, 0.25])
    results = {s: {"rows": 2, "skipped": False} for s in ("windows", "candidates", "triples", "edges")}
    results["candidates"]["rows"] = 3
    run = bench.Run("kg_build_widekb", 5, 1, False, 10)
    monkeypatch.setattr(bench, "load_pins", lambda: {bench.pin_key("kg_build_widekb", 10, 5): "0" * 16})
    bench.check_build(run, results, str(tmp_path))
    bench.check_resume(run, {"transcripts": {"skipped": True}, "edges": {"skipped": False}})
    failed = {c["check"] for c in run.checks if not c["ok"]}
    assert failed == {
        "windows_candidates_triples_rows_equal",
        "edges_equal_non_nil_triples",
        "triples_digest_pinned",
        "resume_skipped_every_stage",
    }
    assert run.failed == 4 and len(run.checks) == 5


def test_build_checks_pass_and_digest_ignores_order(tmp_path, monkeypatch):
    _triples_checkpoint(tmp_path, ["c#0#1", "c#0#0"], ["NIL", "E0_ab"], [0.25, 0.50004])
    digest = bench.triples_digest(["c#0#0", "c#0#1"], ["E0_ab", "NIL"], [0.5, 0.25])
    results = {s: {"rows": 2, "skipped": False} for s in ("windows", "candidates", "triples")}
    results["edges"] = {"rows": 1, "skipped": False}
    run = bench.Run("kg_build_widekb", 5, 1, False, 10)
    monkeypatch.setattr(bench, "load_pins", lambda: {bench.pin_key("kg_build_widekb", 10, 5): digest})
    bench.check_build(run, results, str(tmp_path))
    assert run.failed == 0 and run.digest == digest


def test_repeat_warms_each_op_untimed_then_interleaves():
    calls = []
    run = bench.Run("kg_build_widekb", 5, 0, False, 10)
    resumes, reads = bench.repeat(run, (lambda: calls.append("r"), 1), (lambda: calls.append("q"), 3))
    # the untimed warm-up rounds, then at least MIN_REPEATS timed ones
    assert calls == ["r", "q", "q", "q"] * (bench.WARMUP_ROUNDS + bench.MIN_REPEATS)
    assert len(resumes) == bench.MIN_REPEATS and len(reads) == 3 * bench.MIN_REPEATS


def test_corpus_size_is_the_same_for_every_seed():
    import numpy as np

    import inputs

    sizes = {
        len(" ".join(inputs.wide_documents(np.random.default_rng(seed), 50)["text"].to_pylist()).split())
        for seed in range(4)
    }
    assert len(sizes) == 1


def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "windows", "spark.sql.execution.id": "3"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 3,
         "sparkPlanInfo": {"nodeName": "Scan parquet ", "metadata": {"PartitionFilters": "[(dt = 1)]"},
                           "metrics": [{"name": "number of files read", "accumulatorId": 9}], "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[9, 2], [10, 99]]},
    ]
    for stage, run_ms in ((0, 10), (0, 10), (0, 40), (1, 5)):
        events.append(
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
             "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}
        )
    events.append({"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}})
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_eventlog_fold_groups_tasks_by_job_group(tmp_path):
    _event_log(tmp_path / "local-1")
    groups = eventlog.fold(eventlog.log_file(str(tmp_path), "local-1"))
    g = groups["windows"]
    assert (g.jobs, g.tasks, g.shuffle_write_bytes, g.gc_ms) == (1, 4, 400, 4)
    assert g.task_skew == 4.0  # stage 0: max 40 ms over p50 10 ms
    assert g.partitioned_files_read == 2
    assert groups[""].jobs == 1 and groups[""].tasks == 0


def test_procstat_counts_reaped_children():
    before = procstat.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "t = __import__('time').time()\nwhile __import__('time').time() - t < 0.5: pass"], check=True)
    assert procstat.tree_cpu_s() - before >= 0.3
    with procstat.PeakMem(interval_s=0.01) as peak:
        time.sleep(0.05)
    assert peak.peak_mb > 1

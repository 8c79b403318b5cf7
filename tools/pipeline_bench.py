"""Checkpoint-pipeline benchmark: cold run, full resume, forced mid-restart.

Writes BENCH/PIPELINE.md with per-stage rows/wall and the three resume
behaviors the north rule requires evidence for (BASELINE.json:6,14), each
with its wall time and the CPU time of the process tree (this process, the
Spark JVM, the Python daemon and its workers).

Usage: python tools/pipeline_bench.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.procstat import CpuWall  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    root = tempfile.mkdtemp(prefix="kg_ckpt_bench_")
    try:
        from ed_twitter_spark.plans.pipeline import STAGES, run_pipeline
        from ed_twitter_spark.session import get_spark

        spark = get_spark("pipeline_bench")
        sc = spark.sparkContext
        with CpuWall() as cold:
            r1 = run_pipeline(spark, sf_dir, root)
        sc.setJobGroup("resume", "full resume")
        with CpuWall() as warm:
            r2 = run_pipeline(spark, sf_dir, root)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        resume_jobs = len(sc.statusTracker().getJobIdsForGroup("resume"))
        with CpuWall() as mid:
            r3 = run_pipeline(spark, sf_dir, root, force=("triples",))

        os.makedirs(f"{REPO}/BENCH", exist_ok=True)
        with open(f"{REPO}/BENCH/PIPELINE.md", "w") as f:
            f.write(
                f"""# BENCH — checkpoint/resume pipeline at `{sf_dir}`

Every stage writes its data and one lineage record, `_lineage.json`
(fingerprint, schema, rows and per-partition row counts), which the driver
writes and reads without a Spark job (ed_twitter_spark/io.py); a re-run
skips stages whose fingerprint still matches and re-runs a forced stage
plus all its descendants.

| stage | rows | wall (s) | resume skips? | re-runs on force('triples')? |
|---|---|---|---|---|
"""
            )
            for st in STAGES:
                n = st.name
                f.write(
                    f"| {n} | {r1[n]['rows']} | {r1[n]['wall_s']} | "
                    f"{r2[n]['skipped']} | {not r3[n]['skipped']} |\n"
                )
            f.write(
                f"""
| scenario | wall (s) | CPU (s) |
|---|---|---|
| cold end-to-end | {cold.wall_s:.1f} | {cold.cpu_s:.1f} |
| resume, everything checkpointed (Spark jobs: {resume_jobs}) | {warm.wall_s:.2f} | {warm.cpu_s:.2f} |
| forced re-run of `triples` (+ descendants) | {mid.wall_s:.1f} | {mid.cpu_s:.1f} |

CPU is user + system time of this process and everything below it.
Host: {len(os.sched_getaffinity(0))} usable CPUs of {os.cpu_count()}, Spark `{sc.master}`.

Regenerate: `python tools/pipeline_bench.py {sf_dir}`
"""
            )
        print(
            f"cold={cold.wall_s:.1f}s cpu={cold.cpu_s:.1f}s resume={warm.wall_s:.2f}s"
            f" cpu={warm.cpu_s:.2f}s ({resume_jobs} jobs) forced-mid={mid.wall_s:.1f}s"
            f" cpu={mid.cpu_s:.1f}s -> BENCH/PIPELINE.md"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Checkpoint-pipeline benchmark: cold run, full resume, forced mid-restart.

Writes BENCH/PIPELINE.md with per-stage rows/wall and the three resume
behaviors the north rule requires evidence for (BASELINE.json:6,14).

Usage: python tools/pipeline_bench.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    root = tempfile.mkdtemp(prefix="kg_ckpt_bench_")
    try:
        from ed_twitter_spark.plans.pipeline import STAGES, run_pipeline
        from ed_twitter_spark.session import get_spark

        spark = get_spark("pipeline_bench")
        sc = spark.sparkContext
        t0 = time.time()
        r1 = run_pipeline(spark, sf_dir, root)
        cold = time.time() - t0
        sc.setJobGroup("resume", "full resume")
        t0 = time.time()
        r2 = run_pipeline(spark, sf_dir, root)
        warm = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        resume_jobs = len(sc.statusTracker().getJobIdsForGroup("resume"))
        t0 = time.time()
        r3 = run_pipeline(spark, sf_dir, root, force=("triples",))
        mid = time.time() - t0

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
| scenario | wall (s) |
|---|---|
| cold end-to-end | {cold:.1f} |
| resume, everything checkpointed (Spark jobs: {resume_jobs}) | {warm:.2f} |
| forced re-run of `triples` (+ descendants) | {mid:.1f} |

Host: {os.cpu_count()} cores, Spark `{sc.master}`.

Regenerate: `python tools/pipeline_bench.py {sf_dir}`
"""
            )
        print(
            f"cold={cold:.1f}s resume={warm:.2f}s ({resume_jobs} jobs) forced-mid={mid:.1f}s"
            " -> BENCH/PIPELINE.md"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Pin the triples digest of ``kg_build_widekb`` for a range of seeds.

Run from the repository root, on a tree whose triples are known good:

    python3 perfbench/pin.py 0 31

One session builds each seed's corpus cold, exactly as ``run.py`` does,
and merges ``workload:docs:seed -> digest`` into ``pinned_digests.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench

WORKLOAD = "kg_build_widekb"


def main(first: int, last: int) -> None:
    import pyarrow.parquet as pq

    runs = [bench.Run(WORKLOAD, seed, 0, False, None) for seed in range(first, last + 1)]
    bench.configure_env(runs[0].work)
    sys.path.insert(0, bench.ROOT)
    import inputs

    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.plans.pipeline import run_pipeline

    pins = bench.load_pins()
    spark = None
    try:
        for run in runs:
            inputs.write_corpus(run.sf_dir, run.docs, run.seed)
            if spark is None:
                spark = bench.start_session(run)
            root = run.path("ckpt")
            run_pipeline(spark, run.sf_dir, root, resume=False)
            t = pq.read_table(kgio.data_path(root, "triples"), columns=["subj", "obj", "score"]).to_pydict()
            digest = bench.triples_digest(t["subj"], t["obj"], t["score"])
            pins[bench.pin_key(WORKLOAD, run.docs, run.seed)] = digest
            bench.log(f"seed {run.seed}: {digest}")
            # the session's scratch directories live in the first run's work dir
            shutil.rmtree(root, ignore_errors=True)
    finally:
        runs[0].spark = spark
        bench.shutdown(runs[0])
        for run in runs:
            shutil.rmtree(run.work, ignore_errors=True)
    with open(bench.PINS_FILE, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    os.chdir(bench.ROOT)
    main(int(sys.argv[1]), int(sys.argv[2]))

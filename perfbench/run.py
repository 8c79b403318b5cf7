"""KG-build benchmark over ``plans.pipeline.run_pipeline`` and ``plans.incremental.ingest_day``.

Run from the repository root:

    python3 perfbench/run.py --workload kg_build_widekb --seed 1 --seconds 8 --trace 0

Workloads (inputs generated from ``--seed``, see ``inputs.py``):

* ``kg_build_widekb``: a cold ``run_pipeline(resume=False)`` into a fresh
  checkpoint root, then full-checkpoint resumes and entity-stats reads of
  the built edges.
* ``kg_ingest``: the corpus split into ``dt=`` day partitions (written
  untimed); ``ingest_day`` for each day in order, then repeated
  ``entity_stats(read_state(...))`` serving reads.

See README.md for the metrics, the checks and the predictions.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` makes a separate traced run that prints the per-layer
metrics, timing each layer from outside (job groups, the Spark event log,
``/proc`` and an in-process replay of the linker kernels). Correctness
checks gate every run: a failed check makes ``correct`` false, counts in
``failed`` and makes the exit code 1. The last line of standard output
is the result JSON; progress goes to standard error.

Work files go to ``.perfbench_work/`` under the repository root; a record
of each run (host probe, checks, metrics) and, for traced runs, the span
file stay in ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procstat  # noqa: E402
from procstat import CpuWall, PeakMem  # noqa: E402

WORKLOADS = {
    "kg_build_widekb": {"docs": 200},
    "kg_ingest": {"docs": 1000, "days": 8},
}
# per-layer metric prefixes of layers a workload does not exercise
IDLE_LAYERS = {
    "kg_build_widekb": ("ingest.",),
    "kg_ingest": ("stage.", "kernel.", "linker.", "cc.", "resume."),
}
MIN_REPEATS = 5  # resumes and reads behind each p50, at least
READS_PER_RESUME = 3  # a read takes about a third of a resume
# untimed rounds first: reads still speed up by a fifth over the first two
# rounds after a cold build, while the JVM compiles their code paths
WARMUP_ROUNDS = 2
REPLAY_GROUPS = 24  # (conv_id, chunk) groups replayed through the kernels
KERNEL_STEPS = ("prep", "local_attn", "bow", "lbp", "argmax")
PINS_FILE = os.path.join(HERE, "pinned_digests.json")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def du(path: str) -> int:
    """Bytes of regular files under ``path``, Spark's hidden ``.crc`` files excluded."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if not f.startswith("."))
    return total


def configure_env(work: str) -> None:
    """Process environment this process, the JVM and the Python workers inherit.

    Set before numpy or pyspark is imported: one BLAS thread per process
    (the kernel replay then runs like a worker does), the package on the
    workers' path, a 1 GB JVM heap and temporary files in ``work``.
    """
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # shuffle and spill files
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # spark-submit first runs a small JVM that only builds the real command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Spans:
    """In-memory spans (name, start, end, parent, run id), written at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, docs: int | None):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.spec = WORKLOADS[workload]
        self.docs = docs or self.spec["docs"]
        self.cores = len(os.sched_getaffinity(0))
        self.id = f"{workload}-s{seed}-t{int(trace)}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
        self.work = os.path.join(ROOT, ".perfbench_work", self.id)
        self.records = os.path.join(ROOT, ".perfbench_work", "records")
        self.sf_dir = self.path("sf")
        self.spark = None
        self.checks: list[dict] = []
        self.spans = Spans(self.id)
        self.digest: str | None = None
        self.samples: dict[str, list[float]] = {}  # raw timings behind the medians

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")

    @property
    def failed(self) -> int:
        return sum(not c["ok"] for c in self.checks)


# ---------------------------------------------------------------------------
# session set-up
# ---------------------------------------------------------------------------


def start_session(run: Run):
    from ed_twitter_spark.session import get_spark

    extra = {
        # a fixed heap (-Xms = spark.driver.memory) keeps heap resizing, which
        # follows GC timing on a busy host, out of peak_pss_mb
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={run.path('tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        os.makedirs(run.path("eventlog"), exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": run.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", cores=run.cores, extra=extra)
    # WindowExec and other planner warnings would otherwise bury the output
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _touch_workers(batches):
    import numpy  # noqa: F401  (imported once per reused worker)

    from ed_twitter_spark.functions import kernels  # noqa: F401

    yield from batches


def warm(spark, sf_dir: str, cores: int) -> None:
    """Fault the input into the page cache, compile a scan, start the workers."""
    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.expr("bit_xor(xxhash64(doc_id, text))")
    ).collect()
    spark.range(0, cores, 1, cores).mapInPandas(_touch_workers, "id long").count()


def setup(run: Run) -> float:
    """Launch the JVM, start the session and warm it up; returns the seconds.

    One set-up per run: a second round costs a JVM launch (~20 s on a
    4-core host) or at least a SparkContext restart with new Python workers
    (~5 s), which the benchmark's run budget does not allow.
    """
    t0 = time.perf_counter()
    run.spark = start_session(run)
    warm(run.spark, run.sf_dir, run.cores)
    return time.perf_counter() - t0


def shutdown(run: Run) -> None:
    """Stop the session, close the JVM and wait until it has exited."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    run.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while procstat.tree_size() > 1 and time.time() < deadline:
        time.sleep(0.1)


def repeat(run: Run, *ops: tuple) -> list[list[float]]:
    """Rounds of ``(op, n)`` pairs, each op run ``n`` times in turn, for
    MIN_REPEATS rounds and ``run.seconds`` at least; returns each op's times.

    WARMUP_ROUNDS untimed rounds come first: the first call after other
    work compiles its code paths in the JVM and takes about twice the
    steady time. Interleaving the ops spreads each one's samples over the whole
    phase, so a burst of load on the host moves all of them a little
    instead of one of them a lot.
    """
    for _ in range(WARMUP_ROUNDS):
        for op, n in ops:
            for _ in range(n):
                op()
    times: list[list[float]] = [[] for _ in ops]
    rounds = 0
    t_start = time.perf_counter()
    while rounds < MIN_REPEATS or time.perf_counter() - t_start < run.seconds:
        for (op, n), out in zip(ops, times):
            for _ in range(n):
                t0 = time.perf_counter()
                op()
                out.append(time.perf_counter() - t0)
        rounds += 1
    return times


# ---------------------------------------------------------------------------
# correctness checks
# ---------------------------------------------------------------------------


def triples_digest(subj, obj, score) -> str:
    """Order-insensitive digest of (subj, obj, round(score, 4))."""
    lines = sorted(f"{s}\t{o}\t{sc:.4f}" for s, o, sc in zip(subj, obj, score))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def pin_key(workload: str, docs: int, seed: int) -> str:
    return f"{workload}:docs={docs}:seed={seed}"


def load_pins() -> dict:
    if not os.path.exists(PINS_FILE):
        return {}
    with open(PINS_FILE) as f:
        return json.load(f)


def check_build(run: Run, results: dict, root: str) -> None:
    """Row-count invariants of the DAG and the pinned triples digest."""
    import pyarrow.parquet as pq

    from ed_twitter_spark import io as kgio

    rows = {name: rec["rows"] for name, rec in results.items()}
    run.check("cold_build_ran_every_stage", not any(r["skipped"] for r in results.values()))
    run.check(
        "windows_candidates_triples_rows_equal",
        rows["windows"] == rows["candidates"] == rows["triples"],
        f"{rows['windows']} / {rows['candidates']} / {rows['triples']}",
    )
    t = pq.read_table(kgio.data_path(root, "triples"), columns=["subj", "obj", "score"]).to_pydict()
    non_nil = sum(o != "NIL" for o in t["obj"])
    run.check("edges_equal_non_nil_triples", rows["edges"] == non_nil, f"{rows['edges']} vs {non_nil}")
    run.digest = triples_digest(t["subj"], t["obj"], t["score"])
    pinned = load_pins().get(pin_key(run.workload, run.docs, run.seed))
    if pinned is None:
        log(f"triples digest {run.digest} has no pin for this workload, size and seed")
    else:
        run.check("triples_digest_pinned", run.digest == pinned, f"{run.digest} vs pinned {pinned}")


def check_resume(run: Run, results: dict) -> None:
    ran = [name for name, rec in results.items() if not rec["skipped"]]
    run.check("resume_skipped_every_stage", not ran, f"rebuilt: {ran}")


def stats_rows(rows) -> dict:
    return {r["obj"]: (r["n_links"], r["n_convs"], r["score_sum"]) for r in rows}


def check_ingest(run: Run, turns_path: str, kb_df, served: dict) -> None:
    """The folded state's entity_stats equals a one-shot entity_stats over
    day_partials of the whole table (the fold's associativity contract)."""
    from ed_twitter_spark.operators.candidates import gen_candidates, link_prior_argmax
    from ed_twitter_spark.operators.mentions import detect_mentions
    from ed_twitter_spark.plans.incremental import day_partials, entity_stats

    spark = run.spark
    triples = link_prior_argmax(gen_candidates(detect_mentions(spark.read.parquet(turns_path)), kb_df))
    one_shot = stats_rows(entity_stats(day_partials(triples)).collect())
    diff = [
        k
        for k in one_shot.keys() | served.keys()
        if k not in one_shot
        or k not in served
        or one_shot[k][:2] != served[k][:2]
        or abs(one_shot[k][2] - served[k][2]) > 1e-6
    ]
    run.check(
        "ingest_stats_equal_one_shot",
        not diff and bool(one_shot),
        f"{len(one_shot)} entities, {len(diff)} differ, e.g. {sorted(diff)[:3]}",
    )


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def build_query(run: Run, root: str) -> None:
    """Serving read over the built KG: per-entity stats of the edges."""
    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.plans.incremental import day_partials, entity_stats

    rows = entity_stats(day_partials(kgio.read_stage(run.spark, root, "edges"))).collect()
    run.check("stats_query_nonempty", len(rows) > 0, f"{len(rows)} rows")


def build_end_to_end(run: Run) -> dict:
    from ed_twitter_spark.caching import release_caches
    from ed_twitter_spark.plans.pipeline import run_pipeline

    root = run.path("ckpt")

    def resume():
        check_resume(run, run_pipeline(run.spark, run.sf_dir, root, resume=True))

    with PeakMem() as peak:
        with CpuWall() as cold:
            results = run_pipeline(run.spark, run.sf_dir, root, resume=False)
        release_caches()
        steps, queries = repeat(run, (resume, 1), (lambda: build_query(run, root), READS_PER_RESUME))
    run.samples = {"stage_wall_s": [results[s]["wall_s"] for s in results], "resume_s": steps, "query_s": queries}
    check_build(run, results, root)
    log(f"cold {cold.wall_s:.3f}s {({k: v['wall_s'] for k, v in results.items()})}, {len(steps)} resumes, {len(queries)} reads")
    return {
        "cold_s": cold.wall_s,
        "step_p50_s": statistics.median(steps),
        "query_p50_s": statistics.median(queries),
        "cpu_s": cold.cpu_s,
        "peak_pss_mb": peak.peak_mb,
    }


def prepare_days(run: Run):
    """Untimed: the day-partitioned turns table and the KB it links against."""
    from pyspark.sql import functions as F

    import inputs
    from ed_twitter_spark import io as kgio
    from ed_twitter_spark import synth

    n_days = run.spec["days"]
    turns_path, kb_path = run.path("turns"), run.path("kb")
    day = (F.col("doc_id") * n_days / run.docs).cast("int")
    turns = synth.transcripts(run.spark, run.sf_dir).withColumn(
        "dt", F.format_string(inputs.DAY_FMT, day + 1)
    )
    kgio.write_partitioned(turns, turns_path, ["dt"])
    synth.kb_alias(run.spark, run.sf_dir).write.parquet(kb_path)
    days = [inputs.day_label(d) for d in range(n_days)]
    return turns_path, run.spark.read.parquet(kb_path), days


def ingest_pass(run: Run, turns_path: str, kb_df, state: str, days: list[str], day_ctx=None) -> list[float]:
    """``ingest_day`` for each day in order; returns the per-day wall times.

    ``day_ctx(dt)``, if given, is a context manager entered around each day.
    """
    from ed_twitter_spark.plans.incremental import ingest_day

    times = []
    for i, dt in enumerate(days):
        with day_ctx(dt) if day_ctx else contextlib.nullcontext():
            t0 = time.perf_counter()
            version = ingest_day(run.spark, turns_path, state, dt, kb_df)
            times.append(time.perf_counter() - t0)
        run.check("ingest_day_published_next_snapshot", version == i + 1, f"day {dt}: snap={version}")
    return times


def ingest_end_to_end(run: Run, turns_path: str, kb_df, days: list[str]) -> dict:
    from ed_twitter_spark.plans.incremental import entity_stats, read_state

    state = run.path("state")
    served: dict = {}

    def query():
        served.clear()
        served.update(stats_rows(entity_stats(read_state(run.spark, state)).collect()))
        run.check("stats_query_nonempty", bool(served), f"{len(served)} rows")

    with PeakMem() as peak:
        with CpuWall() as cold:
            day_s = ingest_pass(run, turns_path, kb_df, state, days)
        (queries,) = repeat(run, (query, 1))
    run.samples = {"day_s": day_s, "query_s": queries}
    check_ingest(run, turns_path, kb_df, served)
    log(f"ingest {cold.wall_s:.3f}s over {len(days)} days, {len(queries)} reads")
    return {
        "cold_s": cold.wall_s,
        "step_p50_s": statistics.median(day_s),
        "query_p50_s": statistics.median(queries),
        "cpu_s": cold.cpu_s,
        "peak_pss_mb": peak.peak_mb,
    }


# ---------------------------------------------------------------------------
# traced runs
# ---------------------------------------------------------------------------


def _cpu_bound_check(run: Run, cpu: float, wall: float, n_units: int) -> None:
    # each /proc read truncates utime and stime to a clock tick per process
    slack = 2 * n_units * procstat.tree_size() / os.sysconf("SC_CLK_TCK")
    run.check(
        "layer_cpu_within_cores_x_wall",
        cpu <= run.cores * wall + slack,
        f"sum cpu {cpu:.2f}s vs {run.cores} cores x {wall:.2f}s",
    )


def kernel_replay(run: Run, root: str) -> dict:
    """Replay a seeded sample of (conv_id, chunk) groups from the candidates
    checkpoint through the linker kernels, one BLAS thread, timing each step.

    Mirrors ``linker.score_mentions``'s per-chunk body call for call, and
    checks that its argmax equals the ``triples`` checkpoint's ``obj`` for
    every replayed mention.
    """
    import numpy as np
    import pyarrow.parquet as pq

    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.functions import kernels
    from ed_twitter_spark.functions.fixtures import fixture_weights, load_embedding_matrix
    from ed_twitter_spark.operators import linker

    emb = load_embedding_matrix(run.spark, run.sf_dir)
    n_vec = emb.shape[0] - 1
    unk_id = n_vec
    w = fixture_weights()
    cands = pq.read_table(kgio.data_path(root, "candidates")).to_pandas()
    cands["chunk"] = cands["seq"] // linker.DOC_CHUNK
    groups = sorted(cands.groupby(["conv_id", "chunk"]).indices.items())
    rng = np.random.default_rng(run.seed)
    pick = sorted(rng.choice(len(groups), size=min(REPLAY_GROUPS, len(groups)), replace=False))
    t = pq.read_table(kgio.data_path(root, "triples"), columns=["subj", "obj"]).to_pydict()
    obj_of = dict(zip(t["subj"], t["obj"]))

    step_s = dict.fromkeys(KERNEL_STEPS, 0.0)
    mentions = live = slots = mismatched = 0
    for i in pick:
        t0 = time.perf_counter()
        prep = linker.prepare_chunk(cands.iloc[groups[i][1]], emb, n_vec, unk_id)
        t1 = time.perf_counter()
        pdf, sel_vecs, sel_mask = prep["pdf"], prep["sel_vecs"], prep["sel_mask"]
        local = kernels.local_attention_scores(emb[prep["tok_ids"]], prep["tok_mask"], sel_vecs, sel_mask, w)
        t2 = time.perf_counter()
        bow = np.concatenate(
            [kernels.masked_mean_vecs(list(pdf[c]), emb, unk_id) for c in ("snd_l_ids", "snd_m_ids", "snd_r_ids")],
            axis=1,
        )
        t3 = time.perf_counter()
        scores = kernels.global_lbp_scores(local, sel_vecs, sel_mask, prep["sel_pem"], bow, w)
        t4 = time.perf_counter()
        objs = kernels.argmax_with_fallback(scores, sel_mask, prep["sel_named"])
        t5 = time.perf_counter()
        for name, dt in zip(KERNEL_STEPS, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
            step_s[name] += dt
        subjs = [f"{c}#{tu}#{m}" for c, tu, m in zip(pdf["conv_id"], pdf["turn_idx"], pdf["mention_idx"])]
        mismatched += sum(obj_of.get(s) != o for s, o in zip(subjs, objs))
        mentions += len(pdf)
        live += int(sel_mask.sum())
        slots += sel_mask.size
    run.check(
        "kernel_replay_argmax_equals_triples",
        mentions > 0 and mismatched == 0,
        f"{mismatched} of {mentions} replayed mentions differ",
    )
    out = {f"kernel.{k}_s": v / mentions * 1000 for k, v in step_s.items()}
    out["kernel.live_slot_frac"] = live / slots
    out["kernel.mentions_per_chunk"] = len(cands) / len(groups)
    out["_kernel_s_per_mention"] = sum(step_s.values()) / mentions
    return out


def build_traced(run: Run) -> dict:
    from ed_twitter_spark import io as kgio
    from ed_twitter_spark.caching import release_caches
    from ed_twitter_spark.operators.canonicalize import connected_components, surface_equivalence_edges
    from ed_twitter_spark.plans.pipeline import STAGES, run_pipeline

    spark, sc = run.spark, run.spark.sparkContext

    def plain_build(name: str) -> float:
        sc.setJobGroup(name, "untraced build")
        with CpuWall() as cw:
            run_pipeline(spark, run.sf_dir, run.path(name), resume=False)
        release_caches()
        return cw.wall_s

    # the first build in a JVM also compiles its code paths: keep it out of
    # the comparison, then measure the traced build against a plain one
    plain_build("warmup_build")

    # run_pipeline's loop, one job group and span per stage
    root = run.path("ckpt")
    fps: dict[str, str] = {}
    stage: dict[str, dict] = {}
    results: dict[str, dict] = {}
    cc_stats: dict = {}
    with run.spans.span("build"):
        for st in STAGES:
            fp = kgio.fingerprint(st.name, st.version, run.sf_dir, *(fps[d] for d in st.deps))
            fps[st.name] = fp
            sc.setJobGroup(st.name, f"stage {st.name}")
            with run.spans.span(f"stage.{st.name}") as sp, CpuWall() as cw:
                started = time.time()
                inputs = {d: kgio.read_stage(spark, root, d) for d in st.deps}
                if st.name == "components":
                    edges = surface_equivalence_edges(inputs["triples"], inputs["kb_alias"])
                    df = connected_components(edges, stats=cc_stats)
                else:
                    df = st.build(spark, run.sf_dir, inputs)
                rec = kgio.write_stage(df, root, st.name, fp, list(st.deps), started_at=started)
            sp.update(cpu_s=cw.cpu_s, rows=rec["rows"])
            results[st.name] = {**rec, "skipped": False}
            stage[st.name] = {"wall_s": cw.wall_s, "cpu_s": cw.cpu_s, "out_bytes": du(kgio.data_path(root, st.name))}
    release_caches()
    traced_wall = sum(s["wall_s"] for s in stage.values())
    _cpu_bound_check(run, sum(s["cpu_s"] for s in stage.values()), traced_wall, len(STAGES))
    plain_s = plain_build("reference_build")

    sc.setJobGroup("resume", "resume")
    with run.spans.span("resume.read_lineage") as sp:
        t0 = time.perf_counter()
        for st in STAGES:
            kgio.read_lineage(spark, root, st.name)
        read_lineage_s = time.perf_counter() - t0
    check_resume(run, run_pipeline(spark, run.sf_dir, root, resume=True))
    check_build(run, results, root)

    sc.setJobGroup("probe", "untimed probes")
    triples, kb = kgio.read_stage(spark, root, "triples"), kgio.read_stage(spark, root, "kb_alias")
    cc_edges = surface_equivalence_edges(triples, kb).count()
    with run.spans.span("kernel_replay"):
        replay = kernel_replay(run, root)

    app_id = sc.applicationId
    shutdown(run)
    groups = eventlog.fold(eventlog.log_file(run.path("eventlog"), app_id))
    m: dict[str, float] = {}
    for name, s in stage.items():
        g = groups.get(name, eventlog.Group())
        m.update(
            {
                f"stage.{name}.wall_s": s["wall_s"],
                f"stage.{name}.cpu_s": s["cpu_s"],
                f"stage.{name}.shuffle_bytes": g.shuffle_write_bytes,
                f"stage.{name}.spill_bytes": g.spill_bytes,
                f"stage.{name}.task_skew": g.task_skew,
                f"stage.{name}.out_bytes": s["out_bytes"],
            }
        )
    kernel_s = replay.pop("_kernel_s_per_mention") * results["triples"]["rows"]
    m.update(replay)
    m["linker.outside_kernel_frac"] = 1 - kernel_s / stage["triples"]["cpu_s"]
    m["cc.nodes"] = results["components"]["rows"]
    m["cc.edges"] = cc_edges
    m["cc.rounds"] = cc_stats.get("rounds", 0)
    stage_groups = [groups.get(st.name, eventlog.Group()) for st in STAGES]
    m["pipeline.jobs"] = sum(g.jobs for g in stage_groups)
    m["pipeline.tasks"] = sum(g.tasks for g in stage_groups)
    m["pipeline.gc_s"] = sum(g.gc_ms for g in stage_groups) / 1000
    m["resume.read_lineage_s"] = read_lineage_s
    m["tracing.overhead_frac"] = traced_wall / plain_s - 1
    log(f"traced build {traced_wall:.3f}s vs untraced {plain_s:.3f}s")
    return m


def ingest_traced(run: Run, turns_path: str, kb_df, days: list[str]) -> dict:
    from ed_twitter_spark.plans.incremental import entity_stats, read_state

    sc = run.spark.sparkContext

    def plain_ingest(name: str) -> float:
        sc.setJobGroup(name, "untraced ingest")
        with CpuWall() as cw:
            ingest_pass(run, turns_path, kb_df, run.path(name), days)
        return cw.wall_s

    # as for the builds: warm up, then compare against a plain pass
    plain_ingest("warmup_ingest")

    state = run.path("state")
    per_day: list[dict] = []

    @contextlib.contextmanager
    def traced_day(dt: str):
        sc.setJobGroup(f"ingest.{dt}", f"ingest day {dt}")
        with run.spans.span(f"ingest.{dt}") as sp, CpuWall() as cw:
            yield
        sp["cpu_s"] = cw.cpu_s
        per_day.append({"dt": dt, "wall_s": cw.wall_s, "cpu_s": cw.cpu_s})

    with run.spans.span("ingest"):
        ingest_pass(run, turns_path, kb_df, state, days, day_ctx=traced_day)
    traced_wall = sum(d["wall_s"] for d in per_day)
    _cpu_bound_check(run, sum(d["cpu_s"] for d in per_day), traced_wall, len(days))
    plain_s = plain_ingest("reference_ingest")

    sc.setJobGroup("probe", "untimed probes")
    served = stats_rows(entity_stats(read_state(run.spark, state)).collect())
    check_ingest(run, turns_path, kb_df, served)
    state_rows = read_state(run.spark, state).count()
    written = sum(du(f"{state}/snap={v}") for v in range(1, len(days) + 1))
    day_input = sum(du(f"{turns_path}/dt={dt}") for dt in days)

    app_id = sc.applicationId
    shutdown(run)
    groups = eventlog.fold(eventlog.log_file(run.path("eventlog"), app_id))
    day_groups = [groups.get(f"ingest.{dt}", eventlog.Group()) for dt in days]
    log(f"traced ingest {traced_wall:.3f}s vs untraced {plain_s:.3f}s")
    return {
        "ingest.day_cpu_s": statistics.median(d["cpu_s"] for d in per_day),
        "ingest.day_shuffle_bytes": statistics.median(g.shuffle_write_bytes for g in day_groups),
        "ingest.files_scanned_per_day": statistics.median(g.partitioned_files_read for g in day_groups),
        "ingest.state_rows": state_rows,
        "ingest.state_bytes_written": written,
        "ingest.write_amp": written / day_input,
        "pipeline.jobs": sum(g.jobs for g in day_groups),
        "pipeline.tasks": sum(g.tasks for g in day_groups),
        "pipeline.gc_s": sum(g.gc_ms for g in day_groups) / 1000,
        "tracing.overhead_frac": traced_wall / plain_s - 1,
    }


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def measure(run: Run) -> dict:
    """The metrics of one run, by name; the caller picks the ones to print."""
    import inputs

    inputs.write_corpus(run.sf_dir, run.docs, run.seed)
    setup_s = setup(run)
    if run.workload == "kg_ingest":
        turns_path, kb_df, days = prepare_days(run)
        if run.trace:
            return ingest_traced(run, turns_path, kb_df, days)
        # codegen warm-up, counted in setup_s: every day into a scratch state.
        # Day times fall by a third over the first pass through a fresh JVM,
        # so timing that pass would measure the JIT compiler, not the fold.
        warmup_s = sum(ingest_pass(run, turns_path, kb_df, run.path("state_warmup"), days))
        shutil.rmtree(run.path("state_warmup"), ignore_errors=True)
        return {**ingest_end_to_end(run, turns_path, kb_df, days), "setup_s": setup_s + warmup_s}
    if run.trace:
        return build_traced(run)
    return {**build_end_to_end(run), "setup_s": setup_s}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="override the workload's document count")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ed_twitter_spark", "__init__.py")):
        log(f"the ed_twitter_spark package is not in {ROOT}: run from a full checkout")
        return 2
    spec = load_spec()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.docs)
    os.makedirs(run.work, exist_ok=True)
    os.makedirs(run.records, exist_ok=True)
    configure_env(run.work)
    sys.path.insert(0, ROOT)
    import bench  # the repository's host contention probe

    probe = bench.host_probe()
    log(f"run {run.id} host_probe {json.dumps(probe)}")
    steal0, total0 = procstat.host_cpu_ticks()
    try:
        values = measure(run)
    finally:
        shutdown(run)
        shutil.rmtree(run.work, ignore_errors=True)
    steal1, total1 = procstat.host_cpu_ticks()
    probe["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)

    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    # a layer that does no work on this workload (the kernels on kg_ingest,
    # the ingest fold on the builds) reports 0
    idle = IDLE_LAYERS[run.workload] if run.trace else ()
    missing = [w["name"] for w in wanted if w["name"] not in values and not w["name"].startswith(idle)]
    unknown = values.keys() - {w["name"] for w in wanted}
    if missing or unknown:
        raise KeyError(f"metrics not measured: {missing}; not in BENCHMARK.json: {sorted(unknown)}")
    metrics = {w["name"]: {"value": float(values.get(w["name"], 0.0)), "unit": w["unit"]} for w in wanted}
    record = {
        "run_id": run.id,
        "workload": run.workload,
        "seed": run.seed,
        "docs": run.docs,
        "trace": run.trace,
        "host_probe": probe,
        "triples_digest": run.digest,
        "samples": run.samples,
        "checks": run.checks,
        "metrics": metrics,
    }
    with open(os.path.join(run.records, f"{run.id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if run.trace:
        run.spans.write(os.path.join(run.records, f"{run.id}.spans.jsonl"))
    result = {
        "correct": run.failed == 0,
        "attempted": len(run.checks),
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

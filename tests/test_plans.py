"""Physical-plan audits: the scale properties the operators claim must be
visible in the optimized plan, not just in docstrings.

Each assertion inspects ``explain(formatted)`` output: broadcast joins stay
broadcast, scans prune to the referenced columns, filters reach the parquet
reader, and the zero-shuffle claims hold (no Exchange where none is
needed)."""

from __future__ import annotations

import re

import pytest
from conftest import SF_SMOKE

from ed_twitter_spark import synth
from ed_twitter_spark.functions.fixtures import load_embedding_matrix
from ed_twitter_spark.operators.linker import attach_candidates, build_mention_windows


# a broadcast limit no size estimate exceeds: pins J1 to its broadcast arm
ALWAYS_BROADCAST = 1 << 63


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_candidate_join_is_broadcast(spark):
    from ed_twitter_spark.operators.candidates import gen_candidates
    from ed_twitter_spark.operators.mentions import detect_mentions

    m = detect_mentions(synth.transcripts(spark, SF_SMOKE))
    kb = synth.kb_alias(spark, SF_SMOKE)
    plan = plan_of(gen_candidates(m, kb))
    assert "BroadcastHashJoin" in plan
    # the mention stream side must not shuffle for the join
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_candidate_join_salted_shuffle_path(spark):
    from ed_twitter_spark.operators.candidates import gen_candidates
    from ed_twitter_spark.operators.mentions import detect_mentions

    m = detect_mentions(synth.transcripts(spark, SF_SMOKE))
    kb = synth.kb_alias(spark, SF_SMOKE)
    salted = gen_candidates(m, kb, broadcast_limit_bytes=0)
    plan = plan_of(salted)
    # the large-KB arm must NOT materialize the KB on every executor...
    assert "BroadcastHashJoin" not in plan
    # ...and must use the hash (not sort-merge) shuffle join we hint
    assert "ShuffledHashJoin" in plan
    # identical rows to the broadcast arm (left-join NULLs included)
    broadcast = gen_candidates(m, kb, broadcast_limit_bytes=ALWAYS_BROADCAST)
    assert salted.exceptAll(broadcast).count() == 0
    assert broadcast.exceptAll(salted).count() == 0


def test_candidate_join_bucketed_zero_exchange(spark, tmp_path):
    """The co-located layout arm: both sides bucketed by the join key →
    the join plan carries NO Exchange at all (the shuffle was paid once at
    bucketed-write time), scans are bucket-aware, and rows equal the
    broadcast arm's."""
    from ed_twitter_spark.operators.candidates import gen_candidates
    from ed_twitter_spark.operators.mentions import detect_mentions
    from ed_twitter_spark.plans.bucketing import bucketed_candidates

    bucketed = bucketed_candidates(spark, SF_SMOKE, scratch=str(tmp_path))
    plan = plan_of(bucketed)
    assert "Exchange" not in plan  # neither shuffle nor broadcast exchange
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    m = detect_mentions(synth.transcripts(spark, SF_SMOKE))
    kb = synth.kb_alias(spark, SF_SMOKE)
    broadcast = gen_candidates(m, kb, broadcast_limit_bytes=ALWAYS_BROADCAST)
    assert bucketed.exceptAll(broadcast).count() == 0
    assert broadcast.exceptAll(bucketed).count() == 0


def test_candidate_join_auto_selects_by_kb_size(spark):
    from ed_twitter_spark.operators.candidates import gen_candidates
    from ed_twitter_spark.operators.mentions import detect_mentions

    m = detect_mentions(synth.transcripts(spark, SF_SMOKE))
    kb = synth.kb_alias(spark, SF_SMOKE)
    # default limit: this KB is tiny → broadcast
    assert "BroadcastHashJoin" in plan_of(gen_candidates(m, kb))
    # force the estimate over the limit → shuffle arm
    small_limit = gen_candidates(m, kb, broadcast_limit_bytes=1)
    assert "BroadcastHashJoin" not in plan_of(small_limit)


def test_attach_candidates_zero_shuffle_on_stream(spark):
    emb = load_embedding_matrix(spark, SF_SMOKE)
    w = build_mention_windows(synth.transcripts(spark, SF_SMOKE), emb.shape[0] - 1)
    plan = plan_of(attach_candidates(w, synth.kb_alias(spark, SF_SMOKE)))
    assert "BroadcastHashJoin" in plan
    # exchanges may exist on the KB (dim) side / upstream window build, but
    # the window stream must flow into the join without a hash exchange on
    # the join key
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_attach_candidates_salted_arm_equals_broadcast(spark):
    """The pipeline's J1 (array form) has the large-KB arm too: forced onto
    the salted shuffle-hash join it returns exactly the broadcast rows,
    NULL-candidate windows included (a third of the surfaces are dropped
    from the KB so that the left join has misses)."""
    emb = load_embedding_matrix(spark, SF_SMOKE)
    w = build_mention_windows(synth.transcripts(spark, SF_SMOKE), emb.shape[0] - 1)
    kb = synth.kb_alias(spark, SF_SMOKE).where("pmod(hash(mention), 3) <> 0")
    salted = attach_candidates(w, kb, broadcast_limit_bytes=0)
    plan = plan_of(salted)
    assert "BroadcastHashJoin" not in plan and "ShuffledHashJoin" in plan
    broadcast = attach_candidates(w, kb, broadcast_limit_bytes=ALWAYS_BROADCAST)
    assert salted.columns == broadcast.columns
    assert salted.where("cand_ids IS NULL").count() > 0
    assert salted.exceptAll(broadcast).count() == 0
    assert broadcast.exceptAll(salted).count() == 0


def test_mentions_scan_prunes_columns(spark):
    from ed_twitter_spark.operators.mentions import detect_mentions

    plan = plan_of(detect_mentions(synth.transcripts(spark, SF_SMOKE)))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # transcripts derivation needs doc_id + text only — lang/source/n_chars
    # must be pruned out of the parquet scan
    assert cols == {"doc_id", "text"}, cols


def test_documents_filter_pushdown(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    from pyspark.sql import functions as F

    plan = plan_of(docs.where(F.col("doc_id") > 100).select("doc_id"))
    assert re.search(r"PushedFilters: \[.*GreaterThan\(doc_id,100\)", plan), plan


def test_text_stats_is_jvm_only_single_pass(spark):
    from ed_twitter_spark.operators.textstats import text_stats

    plan = plan_of(text_stats(spark, SF_SMOKE))
    # pure column algebra: no python UDF evaluation nodes, no shuffle —
    # the whole query is one Project over the parquet scan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_lang_id_ngram_is_jvm_only_single_pass(spark):
    from ed_twitter_spark.operators.textstats import lang_id_ngram

    plan = plan_of(lang_id_ngram(spark, SF_SMOKE))
    # the trigram array + 4 profile counts live inside one Project over the
    # scan: no explode, no join against a profile table, no Python
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan and "Generate" not in plan
    assert "Scan parquet" in plan


def test_event_sessions_single_exchange(spark):
    from ed_twitter_spark.operators.sessions import event_sessions

    plan = plan_of(event_sessions(spark, SF_SMOKE))
    # the window and the session groupBy share the user_id partitioning:
    # exactly one exchange node in the whole plan (formatted mode lists
    # each operator once as "(n) Exchange")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan


@pytest.mark.parametrize("qname", ["kg_edges"])
def test_component_join_is_broadcast(spark, qname):
    from ed_twitter_spark.plans import registry

    plan = plan_of(registry.queries()[qname](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_negative_sampling_no_global_sort(spark):
    """The cumulative-frequency table must be built with the two-pass
    per-partition-offset prefix sum: range partitioning present, and no
    global (single-partition) sort anywhere in the executed plan."""
    from ed_twitter_spark.operators.sampling import negative_sampling

    df = negative_sampling(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan, plan
    # a global sort prints as "Sort [...], true, 0" (global flag set)
    assert not re.search(r"Sort \[[^\]]*\], true,", plan), plan
    # the vocab table is cached: both passes read one materialization
    assert "InMemoryTableScan" in plan, plan
    # the probe lookup is an interval assignment + constant-key broadcast,
    # NOT a cum ≥ u theta join (which was a ~K·|vocab|/2 nested loop)
    assert "NestedLoop" not in plan, plan


def test_ngram_jaccard_single_scan(spark):
    """The inverted-index jaccard is one linear pipeline: the corpus is
    scanned once (posting-list pair expansion, no self-join re-reading the
    shingle build) and nothing (no count job) runs at plan-build time."""
    from ed_twitter_spark.operators.dedup import dedup_ngram_jaccard

    df = dedup_ngram_jaccard(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1, plan


def test_link_cosine_broadcast_no_driver_kb(spark):
    """The cosine linker's candidate attach must be a broadcast hash join
    of KB-side pre-aggregated arrays — the mention stream never shuffles
    and the KB is never collected to the driver (no dict side-channel: the
    join is in the plan). Scoring is the single MapInPandas stage."""
    from ed_twitter_spark.operators.cosine_linker import link_cosine

    plan = plan_of(link_cosine(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan


def test_conversation_stats_single_exchange(spark, tmp_path):
    """Over a materialized transcripts table (the deployment shape), the
    inter-turn-gap window and the per-conversation aggregate share the
    conv_id partitioning: one exchange in the whole plan."""
    from ed_twitter_spark.operators.transcript_stats import conversation_stats_df

    p = str(tmp_path / "transcripts_tbl")
    synth.transcripts(spark, SF_SMOKE).write.parquet(p)
    plan = plan_of(conversation_stats_df(spark.read.parquet(p)))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan


def test_dataset_split_no_shuffle(spark):
    """Deterministic hash-bucket split is a pure projection: no Exchange,
    no Python, straight over the scan."""
    from ed_twitter_spark.operators.corpus_filters import dataset_split

    plan = plan_of(dataset_split(spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-subset gram table (small side) must broadcast: the training
    shingle stream joins without shuffling on the gram key."""
    from ed_twitter_spark.operators.corpus_filters import decontaminate

    plan = plan_of(decontaminate(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_window_build_stays_parallel(spark):
    """Regression: AQE once coalesced the tiny segment-row shuffle into a
    single partition, serializing the Python-heavy window build. The
    explicit numbered repartition must keep the grouped map spread over
    multiple tasks."""
    from pyspark.sql import functions as F

    emb = load_embedding_matrix(spark, SF_SMOKE)
    w = build_mention_windows(synth.transcripts(spark, SF_SMOKE), emb.shape[0] - 1)
    n_parts = (
        w.select(F.spark_partition_id().alias("pid")).distinct().count()
    )
    assert n_parts > 1, "window build collapsed to a single task"


def test_partitioned_write_prunes_at_plan_time(spark, tmp_path):
    """Date-partitioned fact layout: a dt filter must become a
    PartitionFilter (directory pruning), not a row-level PushedFilter —
    and non-matching partitions must not be scanned at all."""
    from pyspark.sql import functions as F

    from ed_twitter_spark import synth
    from ed_twitter_spark.io import write_partitioned

    # the smoke fixture spans <1 day of event time; spread it over three
    # ingest dates deterministically so pruning is observable
    t = synth.transcripts(spark, SF_SMOKE).withColumn(
        "dt",
        F.date_format(
            F.date_add(F.to_date(F.col("ts")), (F.col("doc_id") % 3).cast("int")),
            "yyyy-MM-dd",
        ),
    )
    path = str(tmp_path / "turns_by_day")
    write_partitioned(t, path, ["dt"])
    assert t.select("dt").distinct().count() >= 2

    one_day = spark.read.parquet(path).where(F.col("dt") == "2026-01-01")
    plan = plan_of(one_day)
    m = re.search(r"PartitionFilters: \[[^\]]*dt[^\]]*2026-01-01[^\]]*\]", plan)
    assert m, f"dt filter did not become a partition filter:\n{plan}"
    # the filter must NOT appear as a row-level parquet pushdown
    assert not re.search(r"PushedFilters: \[[^\]]*dt", plan)
    assert one_day.count() == t.where("dt = '2026-01-01'").count()


def test_kg_analytics_plans(spark):
    """PMI: vertex-sized marginals must broadcast onto the pair table;
    triangles: every join must be hash-keyed — no cartesian product
    anywhere in the census."""
    from ed_twitter_spark.operators.graph import (
        q_kg_cooccurrence_pmi,
        cooccurrence_edges,
        q_kg_edges,
    )

    pmi_plan = plan_of(q_kg_cooccurrence_pmi(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pmi_plan
    assert "CartesianProduct" not in pmi_plan

    from pyspark.sql import functions as F

    e = cooccurrence_edges(q_kg_edges(spark, SF_SMOKE))
    a, b = e.alias("x"), e.alias("y")
    wedge_plan = plan_of(a.join(b, F.col("x.dst") == F.col("y.src")))
    assert "CartesianProduct" not in wedge_plan


def test_doc_embed_lsh_broadcasts_planes_no_nl(spark):
    """The hyperplane table (2048-row constant) and the per-pair verify
    joins all broadcast; no nested-loop or cartesian anywhere."""
    from ed_twitter_spark.operators.doc_embed import dedup_embed_neardup

    plan = plan_of(dedup_embed_neardup(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tfidf_singleton_is_the_only_nl_join(spark):
    """The corpus-count singleton rides a broadcast nested-loop join —
    linear with a 1-row build side, the standard scalar-broadcast shape.
    It must be the ONLY nested-loop in the plan, and the df join must
    stay a hash join."""
    import re as _re

    from ed_twitter_spark.operators.textstats import tfidf_top_terms

    plan = plan_of(tfidf_top_terms(spark, SF_SMOKE))
    assert len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "CartesianProduct" not in plan


def test_relatedness_reader_is_jvm_only(spark, tmp_path):
    """The relatedness-format parse is pure column algebra over the text
    scan — no Python in the row path (no BatchEvalPython / ArrowEval /
    mapInPandas), and the only Exchanges are the two query_id windows."""
    from ed_twitter_spark.sources.relatedness import read_relatedness_txt

    p = tmp_path / "val.txt"
    p.write_text("1 qid:1 # 2-3\n0 qid:1 # 2-4\n")
    plan = plan_of(read_relatedness_txt(spark, str(p)))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_loss_variants_reuse_one_slot_frame(spark):
    """All four criteria aggregate the SAME persisted slot-score frame:
    the union's plan reads InMemoryTableScan (not four rebuilt score
    pipelines), so the corpus-side work runs once per epoch regardless of
    how many criteria are evaluated."""
    from ed_twitter_spark.caching import release_caches
    from ed_twitter_spark.operators.training import train_loss_variants

    try:
        df = train_loss_variants(spark, SF_SMOKE)
        plan = plan_of(df)
        assert plan.count("InMemoryTableScan") >= 4
    finally:
        release_caches()


def test_bgp_compiler_no_cartesian_and_pushed_constants(spark):
    """The BGP join plan: every pattern's constant terms become filters
    evaluated before any join (so a constant-pred pattern never scans the
    whole store into a join), all joins are hash equi-joins on variables,
    and no cartesian product appears for connected patterns."""
    from ed_twitter_spark.operators.bgp import BGP_DEMO_PATTERNS, bgp_query

    triples = spark.createDataFrame(
        [("m1", "mentioned_by_user", "e:E1"), ("m1", "in_conv", "c1"),
         ("m2", "mentioned_in_search", "e:E1"), ("m2", "in_conv", "c1")],
        "s string, p string, o string",
    )
    plan = plan_of(bgp_query(triples, BGP_DEMO_PATTERNS, select=["c", "e"]))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # each constant predicate appears as a filter condition in the plan
    for pred in ("mentioned_by_user", "mentioned_in_search", "in_conv"):
        assert pred in plan


def test_second_wave_plans_no_cartesian(spark):
    """The round-5 second-wave operators' physical plans: no cartesian
    product, no nested-loop join anywhere (the distinct_sketch scalar
    1×1 combine is the documented exception, asserted separately), and
    the BGP OPTIONAL compiles to an equi left join on the shared vars."""
    from conftest import SF_SMOKE

    from ed_twitter_spark.operators import corpus_pipeline as cpl
    from ed_twitter_spark.operators import packing as pk
    from ed_twitter_spark.operators import sketches as sk
    from ed_twitter_spark.operators.bgp import (
        BGP_OPT_FILTERS,
        BGP_OPT_GROUP,
        BGP_OPT_REQUIRED,
        bgp_query,
    )
    from ed_twitter_spark.operators.dedup import dedup_substring

    for df in (
        cpl.corpus_pipeline(spark, SF_SMOKE),
        pk.dataset_pack(spark, SF_SMOKE),
        pk.chunk_documents(spark, SF_SMOKE),
        dedup_substring(spark, SF_SMOKE),
        sk.heavy_hitters_cms(spark, SF_SMOKE),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    # distinct_sketch: exactly ONE nested-loop join — the 1-row × 1-row
    # scalar combine — and no cartesian over data-sized inputs
    plan = plan_of(sk.distinct_sketch(spark, SF_SMOKE))
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # header + node line
    assert "CartesianProduct" not in plan

    triples = spark.createDataFrame(
        [("m1", "mentioned_by_user", "e:E1"), ("m1", "in_conv", "c1"),
         ("m2", "mentioned_in_search", "e:E1"), ("m2", "in_conv", "c1")],
        "s string, p string, o string",
    )
    plan = plan_of(
        bgp_query(
            triples,
            BGP_OPT_REQUIRED,
            select=["c", "e", "pt"],
            optional=BGP_OPT_GROUP,
            optional_filters=BGP_OPT_FILTERS,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftOuter" in plan


def test_bgp_minus_and_aggregate_plans(spark):
    """MINUS compiles to a left anti equi-join; the aggregate is a hash
    aggregation over the audited join plan — no cartesian anywhere."""
    from ed_twitter_spark.operators.bgp import (
        BGP_MINUS_GROUP,
        BGP_OPT_FILTERS,
        BGP_OPT_REQUIRED,
        bgp_aggregate,
        bgp_query,
    )

    triples = spark.createDataFrame(
        [("m1", "mentioned_by_user", "e:E1"), ("m1", "in_conv", "c1"),
         ("m2", "mentioned_in_search", "e:E1"), ("m2", "in_conv", "c1")],
        "s string, p string, o string",
    )
    plan = plan_of(
        bgp_query(
            triples,
            BGP_OPT_REQUIRED,
            select=["c", "e"],
            minus=BGP_MINUS_GROUP,
            minus_filters=BGP_OPT_FILTERS,
        )
    )
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = plan_of(
        bgp_aggregate(
            triples, BGP_OPT_REQUIRED, group_by=["c"], count_distinct="e"
        )
    )
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "CartesianProduct" not in plan


def test_bpe_pair_count_is_partial_agged(spark):
    """The per-round pair count must be a map-side-combined hash aggregate
    over the vocab (partial then final), with the 1-row argmax compiled to
    TakeOrderedAndProject — no global sort of the pair table."""
    from pyspark.sql import functions as F

    from ed_twitter_spark.operators.bpe import _pair_counts, _word_vocab

    vocab = _word_vocab(spark, SF_SMOKE)
    best = _pair_counts(vocab).orderBy(F.desc("cnt"), "a", "b").limit(1)
    plan = plan_of(best)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_embed_pca_moments_single_scan(spark):
    """The integer moment packets come from ONE embedding scan through
    mapInPandas, merged by a map-side-combined sum."""
    from pyspark.sql import functions as F

    from ed_twitter_spark.operators.embed_pca import _moment_packets

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    merged = _moment_packets(emb).groupBy("i", "j").agg(F.sum("val").alias("v"))
    plan = plan_of(merged)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "MapInPandas" in plan
    assert plan.count("HashAggregate") >= 2


def test_quality_classifier_step_is_one_scalar_agg(spark):
    """One GD step = one scalar aggregation over the feature frame with the
    1-row weight frame broadcast — no shuffle keyed on data columns beyond
    the aggregate itself."""
    from pyspark.sql import functions as F

    from ed_twitter_spark.operators.quality_classifier import (
        _NF,
        _feature_frame,
        _z,
    )

    feats = _feature_frame(spark, SF_SMOKE)
    w = spark.createDataFrame(
        [tuple(0.0 for _ in range(_NF))], [f"w{j}" for j in range(_NF)]
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z()))
    stat = feats.crossJoin(F.broadcast(w)).agg(
        *[
            F.avg((p - F.col("y")) * F.col(f"x{j}")).alias(f"g{j}")
            for j in range(_NF)
        ]
    )
    plan = plan_of(stat)
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row weight attach
    assert "SortMergeJoin" not in plan


def test_dataset_curriculum_no_global_window(spark):
    """The global index must come from (phase, bucket)-partitioned windows
    plus driver offsets — never a single-partition global sort window."""
    from ed_twitter_spark.operators.corpus_filters import dataset_curriculum

    plan = plan_of(dataset_curriculum(spark, SF_SMOKE))
    assert not re.search(r"Window.*SinglePartition", plan, re.DOTALL) or (
        "partitionBy" not in plan
    )
    # the partitioned window's exchange is hash, not a global range sort
    assert "rangepartitioning" not in plan.lower()


def test_dsir_log_ratio_is_broadcast_no_cartesian(spark):
    """DSIR's scoring join must broadcast the ≤N_BUCKETS log-ratio table
    into the per-(doc, bucket) counts — the document axis never shuffles
    on a feature key — and nothing may plan as a cartesian product."""
    from ed_twitter_spark.plans.registry import queries

    plan = plan_of(queries()["dataset_dsir"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_doc_novelty_no_cartesian_no_python(spark):
    """The novelty score is pure hash aggregation + one shingle-keyed
    join: no cartesian, no Python evaluation anywhere."""
    from ed_twitter_spark.plans.registry import queries

    plan = plan_of(queries()["doc_novelty"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bootstrap_ci_is_jvm_only(spark):
    """32 Poisson replicates ride ONE weighted aggregation over the
    exploded (example, replicate) frame — JVM column algebra only."""
    from ed_twitter_spark.plans.registry import queries

    plan = plan_of(queries()["eval_bootstrap_ci"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_loop_profile_single_conv_exchange(spark):
    """The loop profile is conv-keyed end-to-end: every Exchange in the
    plan hashes on conv_id (never an all-to-one or foreign-key shuffle)."""
    from ed_twitter_spark.plans.registry import queries

    plan = plan_of(queries()["conv_loop_detect"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^,)]+)", plan):
        assert "conv_id" in m.group(1), plan


def test_conv_echo_no_join_no_python(spark):
    """The echo profile is one conv-partitioned window plus per-row JVM
    array algebra: no join of any kind, no Python stage, and every
    Exchange hashes on conv_id."""
    from ed_twitter_spark.plans.registry import queries

    plan = plan_of(queries()["conv_echo"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^,)]+)", plan):
        assert "conv_id" in m.group(1), plan


def test_key_turns_conv_keyed_no_cartesian(spark):
    """TextRank's similarity self-join and iteration joins all key on
    conv_id — never a cartesian or nested-loop pairing."""
    from ed_twitter_spark.plans.registry import queries

    plan = plan_of(queries()["conv_key_turns"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_open_relations_no_cartesian_conv_keyed(spark):
    """The relation extractor is a LEAD window over linked mentions plus
    one co-partitioned (conv_id, turn_idx) join to fetch token arrays."""
    from ed_twitter_spark.plans.registry import queries

    plan = plan_of(queries()["kg_open_relations"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_one_tokenizer_and_one_mention_test():
    """Structural guard: the whitespace tokenizer is defined only in
    ``functions/hashing.py`` (``toks_col`` / ``toks_sql``) and the mention
    test only in ``synth.py`` (``is_mention`` / ``is_mention_sql``), so a
    second mention detector cannot grow back unnoticed."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "ed_twitter_spark"
    split_col = re.compile(r"F\.split\([^;]{0,200}?r\"\\s\+\"", re.S)
    split_sql = re.compile(r"string_split_regex\([^;]{0,200}?'\\\\s\+'", re.S)
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(pkg).as_posix()
        if rel != "synth.py" and "MENTION_MIN_LEN" in src:
            offenders.append(f"{rel}: MENTION_MIN_LEN")
        if rel != "functions/hashing.py":
            offenders += [f"{rel}: {m.group(0)!r}" for m in split_col.finditer(src)]
            offenders += [f"{rel}: {m.group(0)!r}" for m in split_sql.finditer(src)]
    assert not offenders, offenders
    linker_src = (pkg / "operators" / "linker.py").read_text()
    assert ".split(" not in linker_src

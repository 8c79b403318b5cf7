"""Incremental KG maintenance: daily partition folds ≡ full recompute.

The associativity claim in plans/incremental.py is the contract: linking
one ingest-date partition at a time and folding (obj, conv_id) partials
into the versioned state must yield exactly the statistics a from-scratch
run over the whole table computes — including conversations whose turns
span ingest days (their per-day partial counts must merge).
"""

from __future__ import annotations

import re

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F


def _turns_by_day(spark):
    from ed_twitter_spark import synth

    # spread the smoke fixture over three ingest dates; conv_ids land on
    # different days turn-by-turn (doc_id varies within a conversation),
    # which exercises the cross-day merge of one conversation's partials
    return synth.transcripts(spark, SF_SMOKE).withColumn(
        "dt",
        F.date_format(
            F.date_add(
                F.to_date(F.col("ts")), (F.col("doc_id") % 3).cast("int")
            ),
            "yyyy-MM-dd",
        ),
    )


@pytest.fixture(scope="module")
def day_layout(spark, tmp_path_factory):
    from ed_twitter_spark.io import write_partitioned

    t = _turns_by_day(spark)
    root = tmp_path_factory.mktemp("incr")
    turns_path = str(root / "turns")
    write_partitioned(t, turns_path, ["dt"])
    days = sorted(r["dt"] for r in t.select("dt").distinct().collect())
    assert len(days) == 3
    return turns_path, days, str(root / "state")


def test_day_scan_prunes_partitions(spark, day_layout):
    from ed_twitter_spark.plans.incremental import day_turns

    import contextlib
    import io

    turns_path, days, _ = day_layout
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        day_turns(spark, turns_path, days[1]).explain("formatted")
    plan = buf.getvalue()
    assert re.search(
        r"PartitionFilters: \[[^\]]*dt[^\]]*" + days[1], plan
    ), plan


def test_incremental_equals_full_recompute(spark, day_layout):
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators.candidates import (
        gen_candidates,
        link_prior_argmax,
    )
    from ed_twitter_spark.operators.mentions import detect_mentions
    from ed_twitter_spark.plans.incremental import (
        day_partials,
        entity_stats,
        ingest_day,
        read_state,
    )

    turns_path, days, state_path = day_layout
    kb = synth.kb_alias(spark, SF_SMOKE)

    versions = [
        ingest_day(spark, turns_path, state_path, d, kb) for d in days
    ]
    assert versions == [1, 2, 3]

    incr = entity_stats(read_state(spark, state_path))

    full_triples = link_prior_argmax(
        gen_candidates(detect_mentions(_turns_by_day(spark)), kb)
    )
    full = entity_stats(day_partials(full_triples))

    key = lambda r: r["obj"]
    assert sorted(incr.collect(), key=key) == sorted(full.collect(), key=key)


def test_state_snapshots_are_versioned(spark, day_layout):
    from ed_twitter_spark.plans.incremental import _snap_dirs

    _, _, state_path = day_layout
    # all three snapshots remain readable (time travel); latest is served
    assert _snap_dirs(state_path) == [1, 2, 3]


def test_read_state_is_typed(spark, tmp_path):
    """The snapshot read is typed by ``_STATE_SCHEMA``: it starts no job
    before an action."""
    from conftest import jobs_of

    from ed_twitter_spark.plans.incremental import _STATE_SCHEMA, merge_state, read_state

    state_path = str(tmp_path / "state")
    typed = spark.createDataFrame([("e", "c", 2, 0.5)], _STATE_SCHEMA)
    assert merge_state(spark, state_path, typed) == 1
    df, n_jobs = jobs_of(spark, lambda: read_state(spark, state_path))
    assert n_jobs == 0
    assert df.schema == typed.schema
    assert [tuple(r) for r in df.collect()] == [("e", "c", 2, 0.5)]


def test_empty_state_starts_no_python_worker(spark, tmp_path):
    """With no snapshot yet, the state is an empty frame typed by
    ``_STATE_SCHEMA`` that the JVM builds: reading it runs no Spark job, so
    no task and no Python worker (a pickled Python RDD ran four)."""
    from conftest import jobs_of

    from ed_twitter_spark.plans.incremental import _STATE_SCHEMA, read_state

    empty = read_state(spark, str(tmp_path / "state"))
    assert empty.schema == spark.createDataFrame([], _STATE_SCHEMA).schema
    rows, n_jobs = jobs_of(spark, empty.collect)
    assert rows == []
    assert n_jobs == 0
    assert "PythonRDD" not in empty._jdf.queryExecution().toRdd().toDebugString()

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
    assert _snap_dirs(spark, state_path) == [1, 2, 3]


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


@pytest.fixture(scope="module")
def kb_table(spark, tmp_path_factory):
    """The smoke KB read back from Parquet, as a day's fold sees it: its
    broadcast is one scan, not a plan of its own."""
    from ed_twitter_spark import synth

    path = str(tmp_path_factory.mktemp("kb") / "kb")
    synth.kb_alias(spark, SF_SMOKE).write.parquet(path)
    return spark.read.parquet(path)


def _state_rows(spark, state_path):
    from ed_twitter_spark.plans.incremental import read_state

    return sorted(
        (r["obj"], r["conv_id"], r["n_links"], round(r["score_sum"], 9))
        for r in read_state(spark, state_path).collect()
    )


def test_ingest_day_runs_three_jobs(spark, day_layout, kb_table, tmp_path):
    """A day on an existing state is the KB broadcast, one shuffle on the
    state key and the write: 3 jobs (a schema-inference job over the whole
    table and a second shuffle made 5)."""
    from conftest import jobs_of

    from ed_twitter_spark.plans.incremental import ingest_day

    turns_path, days, _ = day_layout
    state_path = str(tmp_path / "state")
    assert ingest_day(spark, turns_path, state_path, days[0], kb_table) == 1
    version, n_jobs = jobs_of(
        spark, lambda: ingest_day(spark, turns_path, state_path, days[1], kb_table)
    )
    assert version == 2
    assert n_jobs == 3


def test_day_turns_is_typed_by_the_schema_record(spark, day_layout, tmp_path):
    """``write_partitioned`` records the read schema, so ``day_turns`` starts
    no job before an action; a table written without the record reads with
    inference to the same schema and rows."""
    from conftest import jobs_of

    from ed_twitter_spark.plans.incremental import day_turns

    turns_path, days, _ = day_layout
    recorded, n_jobs = jobs_of(spark, lambda: day_turns(spark, turns_path, days[1]))
    assert n_jobs == 0

    plain_path = str(tmp_path / "plain")
    _turns_by_day(spark).write.partitionBy("dt").parquet(plain_path)
    inferred = day_turns(spark, plain_path, days[1])
    assert inferred.schema == recorded.schema
    key = lambda r: (r["conv_id"], r["turn_idx"])
    rows = sorted(recorded.collect(), key=key)
    assert rows and rows == sorted(inferred.collect(), key=key)


def test_fold_shuffles_once(spark, day_layout, kb_table, tmp_path):
    """The day's link rows and the state meet in one union-and-aggregate:
    one shuffle ``Exchange`` in the fold's plan besides the KB's
    ``BroadcastExchange`` (pre-aggregating the day first made two)."""
    import contextlib
    import io

    from ed_twitter_spark.operators.candidates import (
        gen_candidates,
        link_prior_argmax,
    )
    from ed_twitter_spark.operators.mentions import detect_mentions
    from ed_twitter_spark.plans.incremental import (
        day_links,
        day_turns,
        fold_state,
        ingest_day,
    )

    turns_path, days, _ = day_layout
    state_path = str(tmp_path / "state")
    ingest_day(spark, turns_path, state_path, days[0], kb_table)
    turns = day_turns(spark, turns_path, days[1])
    links = day_links(link_prior_argmax(gen_candidates(detect_mentions(turns), kb_table)))
    folded = fold_state(spark, state_path, links)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        folded.explain("formatted")
    nodes = re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), re.M)
    assert nodes.count("Exchange") == 1, buf.getvalue()
    assert nodes.count("BroadcastExchange") == 1, buf.getvalue()


def test_state_path_may_be_a_uri(spark, day_layout, kb_table, tmp_path):
    """Snapshots and the schema record are found through Hadoop, so paths
    given as ``file://`` URIs fold day after day (listing with ``os`` saw
    no snapshot and re-published ``snap=1``)."""
    from ed_twitter_spark.plans.incremental import _snap_dirs, ingest_day

    turns_path, days, _ = day_layout
    plain, uri = str(tmp_path / "plain"), f"file://{tmp_path}/uri"
    for state_path in (plain, uri):
        versions = [
            ingest_day(spark, f"file://{turns_path}", state_path, d, kb_table)
            for d in days[:2]
        ]
        assert versions == [1, 2]
    assert _snap_dirs(spark, uri) == [1, 2]
    assert _state_rows(spark, uri) == _state_rows(spark, plain)


def test_torn_snapshot_is_not_served(spark, day_layout, kb_table, tmp_path):
    """A fold killed mid-write leaves ``snap=2`` holding only
    ``_temporary/``: the state served is still ``snap=1``, and the next day
    publishes ``snap=3`` = ``snap=1`` folded with that day."""
    import os

    from ed_twitter_spark.plans.incremental import _snap_dirs, ingest_day

    turns_path, days, _ = day_layout
    clean, torn = str(tmp_path / "clean"), str(tmp_path / "torn")
    for d in days[:2]:
        ingest_day(spark, turns_path, clean, d, kb_table)

    assert ingest_day(spark, turns_path, torn, days[0], kb_table) == 1
    snap_1 = _state_rows(spark, torn)
    os.makedirs(f"{torn}/snap=2/_temporary/0")
    assert _snap_dirs(spark, torn) == [1, 2]
    assert _snap_dirs(spark, torn, committed=True) == [1]
    assert _state_rows(spark, torn) == snap_1

    assert ingest_day(spark, turns_path, torn, days[1], kb_table) == 3
    assert _snap_dirs(spark, torn, committed=True) == [1, 3]
    assert _state_rows(spark, torn) == _state_rows(spark, clean)


def test_day_without_turns_republishes_the_state(spark, day_layout, kb_table, tmp_path):
    """A day with no turns publishes the next snapshot holding exactly the
    previous state's rows; into an empty state, an empty snapshot typed by
    ``_STATE_SCHEMA``."""
    from ed_twitter_spark.plans.incremental import (
        _STATE_SCHEMA,
        _snap_dirs,
        ingest_day,
        read_state,
    )

    turns_path, days, _ = day_layout
    no_day = "2099-01-01"
    assert no_day not in days

    empty = str(tmp_path / "empty")
    assert ingest_day(spark, turns_path, empty, no_day, kb_table) == 1
    assert _snap_dirs(spark, empty, committed=True) == [1]
    typed = spark.createDataFrame([], _STATE_SCHEMA).schema
    assert spark.read.parquet(f"{empty}/snap=1").schema == typed
    assert read_state(spark, empty).count() == 0

    state_path = str(tmp_path / "state")
    rows = lambda: sorted(map(tuple, read_state(spark, state_path).collect()))
    assert ingest_day(spark, turns_path, state_path, days[0], kb_table) == 1
    before = rows()
    assert before
    assert ingest_day(spark, turns_path, state_path, no_day, kb_table) == 2
    assert _snap_dirs(spark, state_path, committed=True) == [1, 2]
    assert rows() == before

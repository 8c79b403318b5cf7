"""Checkpoint catalog: Iceberg-or-Parquet stage tables + one lineage record each.

The north rule (BASELINE.json:6,14) requires every pipeline stage to
checkpoint per-partition state with **lineage + metrics** so a run can
resume mid-pipeline. This sandbox has no Iceberg runtime jar, so the catalog
is abstracted (SURVEY.md §7): with an Iceberg catalog configured on the
session we write via ``df.writeTo(catalog.db.name).createOrReplace()``;
otherwise each stage is a Parquet directory. The bookkeeping is one JSON
file that the driver writes and reads through the session's Hadoop
``FileSystem``, at no Spark job:

* ``<root>/<stage>/data/``          — the stage output
* ``<root>/<stage>/_lineage.json``  — one record per write: stage,
  fingerprint (stage version + input fingerprints + sf_dir), dep list,
  schema JSON, rows, wall seconds, written_at, and ``partitions``: the
  ``[partition_id, rows]`` pairs of the data as persisted

Resume contract: a stage is *complete* iff its record exists and its
fingerprint equals the one recomputed from the current code version and the
fingerprints of its (possibly re-run) inputs, so any upstream change
invalidates exactly the downstream suffix of the DAG. A full resume runs no
Spark job (:func:`read_lineages`: one glob, one file read per stage). A
record that is missing, truncated, unparsable, fails its checksum or names
another stage counts as an absent stage. ``write_stage`` deletes the old
record before it writes the data and writes the new one last, so a write
killed at any point leaves the stage absent, not complete over partial data.

Stage reads are always typed, so none starts a schema-inference job:
:func:`read_stage` by the schema the record holds (it raises on a stage with
no committed record), ``write_stage``'s re-read by the frame's own schema.

The reference's analog is its torch.save memo-cache of parsed indexes
(`deep-ed-pytorch/entities/ent_name2id_freq/ent_name_id.py:41-48,93`,
`relatedness.py:99-105`) — load-if-exists, rebuild otherwise — minus any
lineage check, which we add because a 10^12-turn run cannot afford a silently
stale stage.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, if any (else None → Parquet)."""
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and v.endswith("SparkCatalog"):
            return k.split(".")[3]
    return None


@functools.cache
def _gateway_lookup(gateway, name: str):
    return functools.reduce(getattr, name.split("."), gateway.jvm)


def _jvm(spark: SparkSession, name: str):
    """The JVM class or static method ``name`` (``"org.apache.hadoop.fs.Path"``),
    looked up once per py4j gateway: the lookup through ``spark._jvm`` takes a
    round trip per dotted part, about ten times the cost of a call on what it
    returns. The gateway is the key, so a session restarted on a new gateway
    never calls into a dead one."""
    return _gateway_lookup(spark.sparkContext._gateway, name)


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop config."""
    p = _jvm(spark, "org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _glob(spark: SparkSession, pattern: str) -> tuple:
    """``(FileSystem, paths)``: the paths matching the Hadoop glob
    ``pattern``, as strings, in four py4j calls whatever their number (a
    step through a py4j array costs two round trips). Scala's
    ``genericWrapArray`` takes the ``Path[]`` as an ``Object``, which py4j
    passes; it will not pass it as an ``Object[]``."""
    fs, p = _hadoop_path(spark, pattern)
    statuses = fs.globStatus(p)
    if statuses is None:  # a pattern with no wildcard that matched nothing
        return fs, []
    paths = _jvm(spark, "org.apache.hadoop.fs.FileUtil.stat2Paths")(statuses)
    joined = _jvm(spark, "scala.Predef.genericWrapArray")(paths).mkString("\n")
    return fs, joined.split("\n") if joined else []


def fingerprint(*parts: str) -> str:
    return hashlib.md5("\x1f".join(parts).encode()).hexdigest()[:16]


def data_path(root: str, stage: str) -> str:
    return f"{root}/{stage}/data"


def _record_path(root: str, stage: str) -> str:
    return f"{root}/{stage}/_lineage.json"


def _write_record(spark: SparkSession, path: str, record: dict) -> None:
    """Write ``record`` as JSON from the driver (no Spark job)."""
    fs, p = _hadoop_path(spark, path)
    with contextlib.closing(fs.create(p, True)) as out:
        _jvm(spark, "org.apache.commons.io.IOUtils.write")(json.dumps(record), out, "UTF-8")


def _read_record(spark: SparkSession, fs, path):
    """The JSON record at Hadoop ``path`` of ``fs``, read on the driver (no
    Spark job). None if the record is missing or unparsable."""
    try:
        with contextlib.closing(fs.open(path)) as stream:
            return json.loads(_jvm(spark, "org.apache.commons.io.IOUtils.toString")(stream, "UTF-8"))
    except (Py4JJavaError, ValueError):
        return None


def write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    fp: str,
    deps: list[str],
    started_at: float,
) -> dict:
    """Materialize a stage: data, then its lineage record.

    ``started_at`` is the wall-clock when the stage's build began; the
    recorded wall_s spans build + execution + write. Returns the record
    (also written as ``_lineage.json``).
    """
    spark = df.sparkSession
    # the record is the commit marker: drop the old one first, so a write
    # that dies before the new record lands leaves the stage absent
    fs, record_path = _hadoop_path(spark, _record_path(root, stage))
    fs.delete(record_path, False)
    cat = _iceberg_catalog(spark)
    if cat is not None:
        df.writeTo(f"{cat}.{root}.{stage}").createOrReplace()
        written = spark.read.table(f"{cat}.{root}.{stage}")
    else:
        df.write.mode("overwrite").parquet(data_path(root, stage))
        written = spark.read.schema(df.schema).parquet(data_path(root, stage))

    # per-partition row counts over the data *as persisted* (scan
    # partitioning), in one aggregation job; the total is their sum, so an
    # *empty* stage still records rows=0 — empty-but-complete
    part_rows = (
        written.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    partitions = sorted([r["partition_id"], r["rows"]] for r in part_rows)
    record = {
        "stage": stage,
        "fingerprint": fp,
        "deps": json.dumps(deps),
        "schema": written.schema.json(),
        "rows": sum(n for _, n in partitions),
        "wall_s": round(time.time() - started_at, 3),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "partitions": partitions,
    }
    _write_record(spark, _record_path(root, stage), record)
    return record


def _schema_path(path: str) -> str:
    return f"{path}/_schema.json"


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned layout for the fact tables.

    At 10^12 turns the transcripts/events tables are written partitioned by
    ingest date (``dt=YYYY-MM-DD/`` directories): any query filtering on the
    partition column prunes whole directories at planning time — the scan
    never opens non-matching files, which is the difference between reading
    one day and reading 100 TB. The pruning is asserted in the plan audit
    (``PartitionFilters`` on the FileScan, `tests/test_plans.py`).

    After the data, the table's read schema (data columns, then partition
    columns typed as Spark infers them from the directory names) is written
    as ``<path>/_schema.json``; Spark skips files whose names start with
    ``_``. :func:`read_partitioned` types its read by it.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    spark = df.sparkSession
    _write_record(spark, _schema_path(path), spark.read.parquet(path).schema.jsonValue())


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """The partitioned table at ``path``, typed by its ``_schema.json``
    record (no schema-inference job); a table with no readable record is
    read with inference."""
    fs, p = _hadoop_path(spark, _schema_path(path))
    record = _read_record(spark, fs, p)
    if record is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(record)).parquet(path)


def read_lineages(spark: SparkSession, root: str, stages: list[str]) -> dict[str, dict]:
    """``{stage: lineage record}`` of every named stage fully written, read on
    the driver (one ``globStatus`` over ``{a,b,…}/_lineage.json``, one file
    read each). An unreadable record, or one naming another stage, is left
    out: its stage is absent."""
    fs, paths = _glob(spark, _record_path(root, f"{{{','.join(stages)}}}"))
    records = {}
    for path in paths:
        stage = path.rsplit("/", 2)[-2]
        record = _read_record(spark, fs, _jvm(spark, "org.apache.hadoop.fs.Path")(path))
        if isinstance(record, dict) and record.get("stage") == stage:
            records[stage] = record
    return records


def read_lineage(spark: SparkSession, root: str, stage: str) -> dict | None:
    """The stage's lineage record, or None if never (fully) written."""
    return read_lineages(spark, root, [stage]).get(stage)


def _committed(spark: SparkSession, root: str, stage: str) -> dict:
    record = read_lineage(spark, root, stage)
    if record is None:
        raise FileNotFoundError(f"stage {stage!r} under {root} has no committed lineage record")
    return record


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """The stage's data, typed by its record's schema (no inference job);
    ``FileNotFoundError`` on a stage with no committed record."""
    cat = _iceberg_catalog(spark)
    if cat is not None:
        return spark.read.table(f"{cat}.{root}.{stage}")
    schema = StructType.fromJson(json.loads(_committed(spark, root, stage)["schema"]))
    return spark.read.schema(schema).parquet(data_path(root, stage))


def read_metrics(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """``(stage, partition_id, rows)`` per output partition plus a totals row
    (``partition_id = -1``), from the record as JVM literals: ``createDataFrame``
    would ship them through the Python serializer as a parallelized RDD."""
    record = _committed(spark, root, stage)
    structs = [
        F.struct(
            F.lit(stage).alias("stage"),
            F.lit(pid).cast("int").alias("partition_id"),
            F.lit(n).cast("bigint").alias("rows"),
        )
        for pid, n in sorted(record["partitions"] + [[-1, record["rows"]]])
    ]
    return spark.range(1, numPartitions=1).select(F.inline(F.array(*structs)))

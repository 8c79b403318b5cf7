"""Checkpoint catalog: Iceberg-or-Parquet stage tables + lineage/metrics rows.

The north rule (BASELINE.json:6,14) requires every pipeline stage to
checkpoint per-partition state with **lineage + metrics rows** so a run can
resume mid-pipeline. This sandbox has no Iceberg runtime jar, so the catalog
is abstracted (SURVEY.md §7): when an Iceberg catalog is configured on the
session we write via ``df.writeTo(catalog.db.name).createOrReplace()``;
otherwise each stage is a Parquet directory with two sidecar tables of
identical schema/semantics:

* ``<root>/<stage>/data/``        — the stage output
* ``<root>/<stage>/_metrics/``    — one row **per output partition**
  (stage, partition_id, rows) plus a totals row (partition_id = -1)
* ``<root>/<stage>/_lineage/``    — one row per write: stage, fingerprint
  (stage version + input fingerprints + sf_dir), dep list, schema JSON,
  row count, wall seconds, written_at

Resume contract: a stage is *complete* iff its lineage row exists and its
recorded fingerprint equals the fingerprint recomputed from the current code
version and the fingerprints of its (possibly re-run) inputs. Any upstream
change therefore invalidates exactly the downstream suffix of the DAG.
:func:`read_lineages` reads the lineage rows of every stage a run needs in
one typed read (one Spark job, no schema inference), and a sidecar that is
missing, partial (a write that died in ``_temporary/``) or corrupt counts as
an absent stage. ``write_stage`` deletes the stage's old lineage before it
writes the data and writes the new row last, so a write killed at any point
leaves the stage absent rather than complete over partial data.

Catalog reads are typed, so none starts a schema-inference job: the
sidecars by their DDL, a stage's data by the schema its lineage row records
(``read_stage(..., schema=)``), and ``write_stage``'s re-read of what it
wrote by the schema of the frame written.

The reference's analog is its torch.save memo-cache of parsed indexes
(`deep-ed-pytorch/entities/ent_name2id_freq/ent_name_id.py:41-48,93`,
`relatedness.py:99-105`) — load-if-exists, rebuild otherwise — minus any
lineage check, which we add because a 10^12-turn run cannot afford a silently
stale stage.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, if any (else None → Parquet)."""
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and v.endswith("SparkCatalog"):
            return k.split(".")[3]
    return None


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop config."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fingerprint(*parts: str) -> str:
    return hashlib.md5("\x1f".join(parts).encode()).hexdigest()[:16]


def data_path(root: str, stage: str) -> str:
    return f"{root}/{stage}/data"


# sidecar schemas; _lineage's columns are in name order, the order existing
# checkpoints were written in
_METRICS_DDL = "stage string, partition_id int, rows bigint"
_LINEAGE_DDL = (
    "deps string, fingerprint string, rows bigint, schema string, stage string,"
    " wall_s double, written_at string"
)


def _write_rows(spark: SparkSession, ddl: str, rows: list[dict], path: str) -> None:
    """Write a few driver-side rows, typed by ``ddl``, as JVM literals:
    createDataFrame on a Python list ships it through the Python serializer
    as a parallelized RDD, which costs more than the job that made them."""
    cols = [c.split() for c in ddl.split(",")]
    structs = [F.struct(*(F.lit(r[n]).cast(t).alias(n) for n, t in cols)) for r in rows]
    spark.range(1, numPartitions=1).select(F.inline(F.array(*structs))).write.mode(
        "overwrite"
    ).parquet(path)


def write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    fp: str,
    deps: list[str],
    started_at: float,
) -> dict:
    """Materialize a stage: data + per-partition metrics + lineage row.

    ``started_at`` is the wall-clock when the stage's build began; the
    recorded wall_s spans build + execution + write. Returns the lineage
    record (also written as a 1-row table).
    """
    spark = df.sparkSession
    # the lineage row is the commit marker: drop the old one first, so a
    # write that dies before the new row lands leaves the stage absent
    fs, lineage = _hadoop_path(spark, f"{root}/{stage}/_lineage")
    fs.delete(lineage, True)
    cat = _iceberg_catalog(spark)
    if cat is not None:
        df.writeTo(f"{cat}.{root}.{stage}").createOrReplace()
        written = spark.read.table(f"{cat}.{root}.{stage}")
    else:
        df.write.mode("overwrite").parquet(data_path(root, stage))
        written = spark.read.schema(df.schema).parquet(data_path(root, stage))

    # per-partition metrics over the data *as persisted* (scan partitioning):
    # one aggregation job whose result is at most one row per scan
    # partition; the totals row is summed from those collected rows, so an
    # *empty* stage still records its (stage, -1, 0) row — empty-but-complete
    part_rows = (
        written.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    n_rows = sum(r["rows"] for r in part_rows)
    metrics = sorted([(r["partition_id"], r["rows"]) for r in part_rows] + [(-1, n_rows)])
    _write_rows(
        spark,
        _METRICS_DDL,
        [{"stage": stage, "partition_id": pid, "rows": n} for pid, n in metrics],
        f"{root}/{stage}/_metrics",
    )

    record = {
        "stage": stage,
        "fingerprint": fp,
        "deps": json.dumps(deps),
        "schema": written.schema.json(),
        "rows": n_rows,
        "wall_s": round(time.time() - started_at, 3),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    _write_rows(spark, _LINEAGE_DDL, [record], f"{root}/{stage}/_lineage")
    return record


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
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_lineages(spark: SparkSession, root: str, stages: list[str]) -> dict[str, dict]:
    """``{stage: lineage record}`` for every named stage that was fully
    written, in one Spark job: the ``_lineage`` directories a ``{a,b,…}``
    glob finds, read typed by ``_LINEAGE_DDL`` (past 32 directories Spark
    adds a parallel listing job). A ``_lineage`` that is
    missing, holds no data file or holds only unreadable ones
    (``ignoreCorruptFiles``) yields no row, so its stage is absent."""
    fs, pattern = _hadoop_path(spark, f"{root}/{{{','.join(stages)}}}/_lineage")
    dirs = [str(st.getPath()) for st in fs.globStatus(pattern) or []]
    if not dirs:
        return {}
    rows = (
        spark.read.schema(_LINEAGE_DDL)
        .option("ignoreCorruptFiles", "true")
        .parquet(*dirs)
        .collect()
    )
    return {r["stage"]: r.asDict() for r in rows}


def read_lineage(spark: SparkSession, root: str, stage: str) -> dict | None:
    """The stage's lineage record, or None if never (fully) written."""
    return read_lineages(spark, root, [stage]).get(stage)


def read_stage(
    spark: SparkSession, root: str, stage: str, schema: str | None = None
) -> DataFrame:
    """The stage's data; ``schema`` (the lineage row's ``schema`` JSON)
    types the read, so it starts no job before an action."""
    cat = _iceberg_catalog(spark)
    if cat is not None:
        return spark.read.table(f"{cat}.{root}.{stage}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(schema)))
    return reader.parquet(data_path(root, stage))


def read_metrics(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.read.schema(_METRICS_DDL).parquet(f"{root}/{stage}/_metrics")

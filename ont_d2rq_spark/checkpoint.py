"""Per-stage checkpoint tables with lineage manifests + metrics.

North-rule requirement (BASELINE.json): every pipeline stage writes its
output to a table, a per-partition lineage manifest, and triple-count
metrics, so any stage restarts from the last good table.

In production these are Iceberg tables (``df.writeTo(...)`` — atomic
snapshot commit, partition evolution); this sandbox ships no Iceberg
runtime jars, so the same layout is realized as parquet directories:

    <root>/<stage>/data/         the stage output (parquet)
    <root>/<stage>/_lineage/     (partition_id, rows_out, stage, written_at-free)
    <root>/<stage>/_metrics/     stage-declared aggregate metrics
    <root>/<stage>/_SUCCESS_STAGE  commit marker (written LAST → atomicity)

Resume semantics: ``run_stage`` returns the stored table when the
marker exists, otherwise computes, writes data+lineage+metrics, then
the marker.  A crash mid-write leaves no marker → the stage re-runs.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _dir(root: str, stage: str, sub: str = "data") -> str:
    return os.path.join(root, stage, sub)


def _marker(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_SUCCESS_STAGE")


def lineage_manifest(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts — cheap scan, no extra shuffle."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .withColumn("stage", F.lit(stage))
    )


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    compute: Callable[[], DataFrame],
    metrics: Optional[Callable[[DataFrame], DataFrame]] = None,
    partition_by: Optional[list[str]] = None,
    force: bool = False,
) -> DataFrame:
    """Compute-or-resume one stage.  Idempotent: if the stage committed
    before, its table is read back (lineage intact downstream)."""
    if not force and os.path.exists(_marker(root, stage)):
        return spark.read.parquet(_dir(root, stage))
    df = compute()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(_dir(root, stage))
    stored = spark.read.parquet(_dir(root, stage))
    lineage_manifest(stored, stage).write.mode("overwrite").parquet(
        _dir(root, stage, "_lineage")
    )
    mdf = metrics(stored) if metrics else stored.agg(
        F.count(F.lit(1)).alias("rows")
    ).withColumn("stage", F.lit(stage))
    mdf.write.mode("overwrite").parquet(_dir(root, stage, "_metrics"))
    with open(_marker(root, stage), "w") as f:
        f.write("ok\n")
    return stored


def stored(df: DataFrame) -> DataFrame:
    """``df`` computed once for every later read: the one way the package
    reuses an intermediate frame.  The fill is eager, so the frame is
    filled and marked in the calling thread before any other plan can
    read it; a lazy mark lands in the first job that reads the frame,
    maybe in a broadcast-exchange thread, which deadlocks the driver JVM
    against the DAG scheduler reading the same RDD.  It is a local
    checkpoint, not ``persist``: the blocks belong to the result's RDD,
    so the ContextCleaner frees them with it and the CacheManager stays
    empty."""
    return df.localCheckpoint(eager=True)


def triple_count_metrics(df: DataFrame) -> DataFrame:
    """Triple counts per predicate (SURVEY §2.4 A2)."""
    return df.groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples"))


def read_metrics(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.read.parquet(_dir(root, stage, "_metrics"))


def read_lineage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.read.parquet(_dir(root, stage, "_lineage"))

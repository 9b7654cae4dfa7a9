"""Incremental triple emission via Structured Streaming.

Absent in the reference (D2RQ is batch-only over a live RDBMS —
SURVEY §2.9); this is the Spark-native extension (§7.6): new rows
appended to a source table stream through the SAME compiled bridge
transforms (they are source-agnostic DataFrame closures) and emit
triples incrementally.

Late/duplicate handling: event-time watermark +
``dropDuplicatesWithinWatermark`` on the triple key — the streaming
analogue of the batch dump's global DISTINCT (exact global dedup is
not possible unbounded; the watermark bounds state, the batch job
remains the ground truth).
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ont_d2rq_spark.compiler.relation import TRIPLE_IDENTITY, MappingCompiler, canonical_triples
from ont_d2rq_spark.mapping.model import Mapping


def incremental_triples(
    spark: SparkSession,
    mapping: Mapping,
    table: str,
    stream_df: DataFrame,
    event_time_col: Optional[str] = None,
) -> DataFrame:
    """Compile every bridge rooted at `table` against the STREAMING
    DataFrame and union the results.  Bridges that join other tables
    use the batch side from the mapping's catalog (stream-static joins
    — supported natively by Structured Streaming)."""
    compiler = MappingCompiler(mapping, spark, extra_tables={table: stream_df})
    bridges = [cb for cb in compiler.compile() if cb.base_table == table]
    if not bridges:
        raise ValueError(f"no bridges rooted at table {table!r}")
    frames = [compiler.bridge_df(cb) for cb in bridges if cb.limit is None and cb.order_column is None]
    out = reduce(lambda a, b: a.unionByName(b), frames)
    if event_time_col is not None:
        # processing-time stamp for bounded-state dedup downstream
        out = out.withColumn(event_time_col, F.current_timestamp())
    return out


def dedup_within_watermark(
    triples: DataFrame, event_time_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Bounded-state streaming dedup on the triple identity, the one the
    batch dump's DISTINCT keys on (compiler.relation.TRIPLE_IDENTITY)."""
    canonical = canonical_triples(triples).withWatermark(event_time_col, watermark)
    return canonical.dropDuplicatesWithinWatermark(list(TRIPLE_IDENTITY))


def write_stream_parquet(
    triples: DataFrame, path: str, checkpoint: str, available_now: bool = True
):
    """Sink: append triples to a parquet table (Iceberg `.toTable` in
    production).  availableNow processes the backlog then stops —
    used by tests; continuous deployments drop the trigger."""
    w = (
        triples.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

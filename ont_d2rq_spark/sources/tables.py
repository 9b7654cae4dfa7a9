"""Table loading with scan-parallelism repair.

The driver test parquet files are written as ONE row group each, and a
parquet scan cannot split inside a row group — so every downstream
narrow operation (URI minting, encoding, explode) would run in a single
task per table no matter how many cores the cluster has.  On a real
100 TB Iceberg table this does not happen (many files / row groups);
when it does happen (badly-compacted uploads are common in ingest
pipelines), the standard repair is one round-robin repartition of the
poorly-split source before the CPU-heavy projection — Catalyst prunes
columns below the exchange, so only the needed columns are shuffled.

``balanced_read`` applies that repair only when needed: source splits
< cores AND the file is big enough that the shuffle pays for itself.
Small dimension tables stay unsplit (they broadcast anyway).

``source_meta`` is the one place that decides which files make up a
source path; the split estimate, the handle-cache key, the compiler's
FK-broadcast size guard and ``parquet_rows`` all follow its rule.
"""

from __future__ import annotations

import os
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

_URI = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def _local(path: str) -> Optional[str]:
    """Filesystem path of a local source (plain path or ``file://``
    URI), None for any other URI scheme."""
    if path.startswith("file://"):
        return path[len("file://"):]
    return None if _URI.match(path) else path


def source_meta(spark: SparkSession, path: str) -> tuple[Optional[int], Optional[tuple]]:
    """What is on disk at a source path: ``(bytes, stamp)``.

    The one place that decides which files make up a table.  A local
    path (or ``file://`` URI) is a file or a directory walked
    recursively, skipping names that start with ``_`` or ``.`` at any
    depth (Spark's hidden-file rule: ``_SUCCESS``, ``.crc``, staging
    dirs); the stamp is (file count, total bytes, max mtime_ns) over
    the same files, so any edit inside a partition changes it.  Other
    schemes take bytes from Hadoop's ``getContentSummary`` (driver-side
    metadata, no data read) and have no stamp.  ``(None, None)`` when
    the path is missing or its size cannot be read."""
    local = _local(path)
    if local is None:
        try:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            return int(fs.getContentSummary(jpath).getLength()), None
        except Exception:
            return None, None
    try:
        if not os.path.isdir(local):
            stats = [os.stat(local)]
        else:
            stats = []
            for dirpath, dirs, files in os.walk(local):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                stats += [
                    os.stat(os.path.join(dirpath, f))
                    for f in files
                    if not f.startswith(("_", "."))
                ]
    except OSError:
        return None, None
    total = sum(st.st_size for st in stats)
    return total, (len(stats), total, max((st.st_mtime_ns for st in stats), default=0))


def parquet_rows(spark: SparkSession, path: str) -> int:
    """Exact row count of a parquet source from footer metadata —
    driver-side file reads only, no Spark job.  The dataset discovery
    recurses and skips ``_``/``.`` names like :func:`source_meta`.
    Non-local paths fall back to a Spark count."""
    local = _local(path)
    if local is not None:
        import pyarrow.dataset as ds

        return ds.dataset(local, format="parquet").count_rows()
    return spark.read.parquet(path).count()


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Spark byte-size string ('128m', '1g', '134217728', '128mb') → bytes."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIX:
        return int(float(s[:-1]) * _BYTE_SUFFIX[s[-1]])
    try:
        return int(s)
    except ValueError:
        return 128 << 20


_EXT_FORMAT = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
}


def balanced_read(
    spark: SparkSession,
    path: str,
    min_split_bytes: int = 1 << 20,
    fmt: str | None = None,
    schema: str | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Load a mapped table from any Spark file source.

    Format is taken from ``fmt`` or inferred from the path extension
    (the reference's analogue is the JDBC driver choice in
    map/Database; here a D2RQ "database" is a directory of files).
    ``schema`` is a DDL string — REQUIRED practice for csv/json at
    scale: without it Spark schema-inference runs an extra full scan
    of the source before the real job."""
    if fmt is None:
        base = path[:-1] if path.endswith("/") else path
        fmt = _EXT_FORMAT.get(os.path.splitext(base)[1].lower(), "parquet")
    opts = dict(options or {})
    # Session-scoped handle cache: every fresh VirtualGraph/compiler
    # re-opened its tables, and each first load() runs a schema/footer
    # job plus driver planning.  A DataFrame is an immutable lazy plan,
    # so the handle is safely shared; the key carries the source's
    # stamp so a rewritten path — or a file added or edited anywhere
    # inside a partitioned directory — is re-opened (a cached scan pins
    # its file listing).  Paths without a stamp are never cached.
    # This caches PLANS, never results.
    total, stamp = source_meta(spark, path)
    cache = getattr(spark, "_balanced_read_cache", None)
    if cache is None:
        cache = spark._balanced_read_cache = {}
    key = (path, fmt, schema, tuple(sorted(opts.items())), min_split_bytes, stamp)
    if stamp is not None and key in cache:
        return cache[key]
    if fmt == "csv":
        opts.setdefault("header", "true")
        if path.rstrip("/").endswith(".tsv"):
            opts.setdefault("sep", "\t")
        if schema is None:
            opts.setdefault("inferSchema", "true")
    reader = spark.read.format(fmt).options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)
    # Estimate the scan's split count from on-disk bytes instead of
    # materializing df.rdd (each .rdd call converts the whole logical
    # plan to a physical RDD DAG — several hundred ms of driver/py4j
    # work PER TABLE, measured as the serial job cascade at the front
    # of every dump).  A file-source scan packs splits of
    # maxPartitionBytes (+ openCostInBytes per file), so splits ≈
    # ceil(bytes / maxPartitionBytes) — exact for the single-file
    # tables this engine maps, conservative for directories.
    target = spark.sparkContext.defaultParallelism
    if total is not None and total >= min_split_bytes:
        max_split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        if max(1, -(-total // max_split)) < target:
            df = df.repartition(target)
    if stamp is not None:
        cache[key] = df
    return df

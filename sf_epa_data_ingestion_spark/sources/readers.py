"""Batch sources: parquet tables, CSV id-lists, binary-file stages.

Reference parity (citations into /root/reference/):
- S1 warehouse table scan (epa_ingestion.py:90-104)  -> ``load_table``
- S2 view scan (epa_ingestion.py:467-478)            -> ``register_views`` + spark.table
- S6 stage directory catalog (epa_ingestion.py:485-494) -> ``load_binary_stage``
- S9 CSV id list (EPA_LIST.csv)                      -> ``load_id_csv``

Every reader is a plain declarative ``spark.read`` so Catalyst keeps
predicate pushdown / column pruning / partition pruning. Nothing here
materializes on the driver.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf

#: The driver-generated synthetic tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright (PARQUET_TYPE_ILLEGAL). Footer-only metadata
    read on the driver — no data IO."""
    import glob as _glob

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    # a table may be a single file (the driver's testdata) or a directory
    # of part files (any Spark-written table); the footer probe reads one
    # part — every part of a table shares the schema
    if os.path.isdir(path):
        parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        path = parts[0]
    schema = pq.read_schema(path)
    return [f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns"]


#: Session-scoped memo of table scans. Each load_table call costs a
#: pyarrow footer probe + a spark.read.parquet py4j round-trip (~90 ms
#: of pure driver time, profiled r15) — a 100-query suite pays that
#: hundreds of times for the same ten static tables. Keyed by (Spark
#: application, real path, path mtime_ns) so a rewritten table is
#: reopened, never served stale; DataFrames are immutable plans, so
#: sharing across calls in one session is safe. Bounded FIFO.
_TABLE_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Columnar scan; filters/projections push down.

    Tables with nanosecond-precision timestamps (the driver's ``events``
    table) are read via ``spark.sql.legacy.parquet.nanosAsLong`` and the
    raw nanos are truncated to microsecond TIMESTAMP_NTZ — the same
    floor-truncation DuckDB applies, so oracle values line up exactly.
    Both that conf and a UTC session time zone are scoped to the read
    and the column derivation: the frame keeps its long-typed scan and
    its UTC cast once they are restored, and the caller's session keeps
    its own values. Opened tables are memoized per session (see
    ``_TABLE_CACHE``).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (
            spark.sparkContext.applicationId,
            os.path.realpath(path),
            os.stat(path).st_mtime_ns,
        )
    except OSError:
        key = None  # missing path: let spark.read raise its own error
    if key is not None:
        hit = _TABLE_CACHE.get(key)
        if hit is not None:
            return hit
    nanos = _nanos_timestamp_cols(path)
    if not nanos:
        df = spark.read.parquet(path)
    else:
        utc_nanos = {
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.session.timeZone": "UTC",
        }
        with scoped_conf(spark, utc_nanos):
            df = spark.read.parquet(path)
            for c in nanos:
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
                )
    if key is not None:
        if len(_TABLE_CACHE) >= 64:
            _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
        _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on it.

    Mirrors the reference's named-view discipline (CREATE OR REPLACE VIEW,
    epa_ingestion.py:432, 484) — views are metadata only, re-planned per
    query, so pushdown still reaches the scans.
    """
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def load_id_csv(spark: SparkSession, path: str) -> DataFrame:
    """S9: header'd CSV of ids (EPA_LIST.csv shape: one ``EPA`` column)."""
    return spark.read.option("header", True).csv(path)


def load_binary_stage(spark: SparkSession, stage_dir: str, glob: str | None = None) -> DataFrame:
    """S6: the stage *directory table*.

    The reference queried ``directory(@PDF_STORE)`` for
    RELATIVE_PATH/SIZE/LAST_MODIFIED/MD5/FILE_URL (epa_ingestion.py:485-494).
    Spark's binaryFile source gives path/modificationTime/length/content;
    the remaining catalog columns are derived declaratively.

    Scale note: binaryFile scans parallelize per-file; at 100 TB of PDFs
    the listing itself is distributed by the InMemoryFileIndex and content
    is only read when the ``content`` column survives pruning.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(stage_dir)
    return df.select(
        F.regexp_replace(F.col("path"), r"^.*?://", "").alias("full_path"),
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("relative_path"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("last_modified"),
        F.md5(F.col("content")).alias("md5"),
        F.col("content"),
    )


def load_binary_files(
    spark: SparkSession, directory: str, suffix: str | None = None
) -> DataFrame:
    """Binary file source that does NOT skip ``_``/``.``-prefixed names.

    Spark's InMemoryFileIndex hardcodes a hidden-file filter: any path
    whose name starts with ``_`` or ``.`` is treated as metadata and
    silently dropped — even when listed explicitly. Real stages contain
    such names (the reference corpus ships ``_USF_0411.pdf``;
    epa_ingestion.py:485-494 lists the stage unfiltered), so silently
    losing them is a correctness bug, not a convention.

    Listing happens driver-side (metadata-scale: one (path, size) row per
    file); byte reads happen executor-side through ``pyarrow.fs`` inside
    ``mapInPandas``, so content never moves through the driver and the
    same code path serves local, HDFS, and S3 URIs on a cluster.
    """
    import pyarrow.fs as pafs

    fs, root = pafs.FileSystem.from_uri(directory)
    infos = fs.get_file_info(pafs.FileSelector(root, recursive=True))
    paths = sorted(
        (i.path, i.size)
        for i in infos
        if i.type == pafs.FileType.File
        and (suffix is None or i.path.lower().endswith(suffix.lower()))
    )
    listing = spark.createDataFrame(paths, "path string, length long")

    def read_bytes(batches):
        import pandas as pd
        import pyarrow.fs as pafs2

        fs2, _ = pafs2.FileSystem.from_uri(directory)
        for pdf in batches:
            contents = []
            for p in pdf["path"]:
                with fs2.open_input_stream(p) as f:
                    contents.append(f.read())
            yield pd.DataFrame(
                {"path": pdf["path"], "length": pdf["length"], "content": contents}
            )

    # spread the (tiny) listing so file reads parallelize across cores
    n = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    return listing.repartition(n).mapInPandas(
        read_bytes, schema="path string, length long, content binary"
    )

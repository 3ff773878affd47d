"""Native binary serialization (reference save/load_df src/io.jl:835-847)
→ Parquet, the columnar at-rest format the reference's column vectors
approximate.

``save`` defaults to snappy parquet with optional partitioning and
bucketing — the two levers that decide join/agg shuffle cost at 100 TB:
partition columns give scan pruning; bucket columns give shuffle-free
joins on the bucket key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def save(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    bucket_by: tuple[int, Sequence[str]] | None = None,
    table_name: str | None = None,
    mode: str = "overwrite",
) -> None:
    """save(filename, df) (reference src/io.jl:835-841)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucketed writes require table_name (Hive metastore)")
        w.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(table_name)
        return
    w.parquet(path)


# Session confs that change what Parquet schema inference returns for
# the same bytes; part of every cache stamp.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# path -> (stamp, inferred schema); one entry per path, so it stays
# bounded by the number of distinct paths a process loads.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(spark: SparkSession, path: str) -> tuple:
    """(path, length, mtime) of every file the path names, recursing into
    directories (partitioned datasets nest), plus the inference confs.
    Lists through the Hadoop FileSystem, so every scheme and glob takes
    this one path; a missing path yields no files and so never matches a
    stored stamp."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    files = []
    todo = list(fs.globStatus(p) or ())
    while todo:
        st = todo.pop()
        if st.isDirectory():
            todo.extend(fs.listStatus(st.getPath()))
        else:
            files.append(
                (st.getPath().toString(), st.getLen(), st.getModificationTime())
            )
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return tuple(sorted(files)), confs


def load_df(spark: SparkSession, path: str) -> DataFrame:
    """load_df(filename) (reference src/io.jl:843-847): the engine's one
    Parquet read of a stored table.

    ``spark.read.parquet`` runs a Spark job to read footers on every call,
    even for one unchanged file. The inferred schema is therefore kept per
    path under a stamp of the file statuses and the session's inference
    confs; while the stamp matches, the read passes that schema and runs
    no job. A rewritten file or a flipped conf re-infers. Every call still
    returns a fresh relation (new attribute ids), so self-joins of two
    loads stay unambiguous."""
    stamp = _stamp(spark, path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df

"""Stage I/O — per-stage materialization, the engine's checkpoint/lineage
mechanism.

The reference materializes every pipeline stage to a text file before
the next stage runs, which is what makes its CLI resumable per stage
(/root/reference/image_deduper.cpp:293-359; file formats
samples.cpp:379-425). Here each stage is a parquet directory (Iceberg
would be a drop-in at deployment — the runtime here has no Iceberg jar,
so parquet is the documented fallback) with an atomic ``_SUCCESS``
marker; ``stage_exists`` gates resume. Existence checks and the layout
marker go through the Hadoop ``FileSystem`` of the path's scheme, like the
parquet reads and writes, so a ``file://`` or ``s3a://`` checkpoint dir
resumes the same as a plain local path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stage_path(checkpoint_dir: str, stage: str) -> str:
    return os.path.join(checkpoint_dir, stage)


def _hadoop_path(path: str):
    """(FileSystem, Path) for ``path`` under the active session's Hadoop
    configuration — the scheme (none, ``file://``, ``s3a://``, …) picks
    the filesystem, as it does for ``spark.read``/``df.write``."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(f"no active SparkSession to resolve {path!r}")
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(path: str) -> bool:
    fs, p = _hadoop_path(path)
    return fs.exists(p)


def read_text(path: str) -> str:
    fs, p = _hadoop_path(path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def write_text(path: str, text: str) -> None:
    """Create (or replace) the file ``path``, making parent dirs."""
    fs, p = _hadoop_path(path)
    stream = fs.create(p, True)
    try:
        stream.write(text.encode("utf-8"))
    finally:
        stream.close()


def stage_exists(checkpoint_dir: str | None, stage: str) -> bool:
    if not checkpoint_dir:
        return False
    return path_exists(os.path.join(stage_path(checkpoint_dir, stage), "_SUCCESS"))


def write_stage(df: DataFrame, checkpoint_dir: str, stage: str) -> None:
    df.write.mode("overwrite").parquet(stage_path(checkpoint_dir, stage))


def read_stage(spark: SparkSession, checkpoint_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(stage_path(checkpoint_dir, stage))


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a web_pages table (parquet dir written by the corpus
    generator or an upstream crawler export)."""
    return spark.read.parquet(path)


def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts for the lineage record (north_rule:
    per-partition lineage + metrics). Computed executor-side."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .count()
        .withColumn("stage", F.lit(stage))
    )

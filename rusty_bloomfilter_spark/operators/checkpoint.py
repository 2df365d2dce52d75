"""Checkpointable, resumable sketch builds.

The north rule requires batch jobs "resumable from per-partition
checkpoints with lineage + metrics". Spark has no native checkpointing
for batch aggregation state, so we define the unit of work as the
*input file* (deterministic across runs, unlike physical partition
ids): one sketch row per input file, persisted to a parquet checkpoint
directory. Resume = list input files, anti-join against checkpointed
lineage, build only the missing files, merge everything.

At 100 TB scale this is the natural granularity: a file (or Iceberg
data file) is the retry/skip unit; the checkpoint table stays tiny
(one O(sketch_bytes) row per file) and the final tree merge reads only
sketch rows, never raw data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import MergePayloadsFn, UpdateFn, fold_sketches, tree_merge

CKPT_SCHEMA = "file string, payload binary, n_items bigint, n_rows bigint"


def _list_input_files(spark: SparkSession, input_path: str) -> list[str]:
    """Deterministic work-list. Uses Spark's own file index so the
    lineage matches what the scan would read."""
    df = spark.read.parquet(input_path)
    return sorted(df.inputFiles())


def _file_sketches(
    df: DataFrame,
    make_empty,
    update: UpdateFn,
    columns: list[str],
) -> DataFrame:
    """One sketch row per input file: the keyed stage-1 fold on
    input_file_name(), with no merge. A big file read as several splits
    yields several rows that merge later (OR-merge is associative, so
    split boundaries don't matter)."""
    picked = df.select(F.input_file_name().alias("_file"), *columns)
    folded = fold_sketches(picked, [("file", make_empty, update, None)], key_col="_file")
    return folded.select(
        F.col("key").alias("file"),
        F.col("payload_file").alias("payload"),
        F.col("n_file").alias("n_items"),
        "n_rows",
    )


@dataclass
class CheckpointReport:
    total_files: int
    resumed_files: int
    built_files: int
    payload: bytes
    n_items: int

    def metrics(self) -> dict:
        return {
            "total_files": self.total_files,
            "resumed_files": self.resumed_files,
            "built_files": self.built_files,
            "n_items": self.n_items,
            "sketch_bytes": len(self.payload),
        }


def build_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    ckpt_dir: str,
    make_empty,
    update: UpdateFn,
    merge_payloads: MergePayloadsFn,
    *,
    columns: list[str],
    fanout: int = 16,
) -> CheckpointReport:
    """Idempotent resumable build.

    1. work-list = input files; done-list = checkpointed lineage
    2. build sketches only for missing files; append to ckpt_dir
    3. tree-merge ALL checkpointed rows into the final sketch

    Killing the job mid-build loses at most the in-flight files;
    rerunning skips everything already persisted.
    """
    files = _list_input_files(spark, input_path)
    done: set[str] = set()
    if _ckpt_exists(spark, ckpt_dir):
        done = {
            r["file"]
            for r in spark.read.parquet(ckpt_dir).select("file").distinct().collect()
        }
    missing = [f for f in files if f not in done]

    if missing:
        part = _file_sketches(
            spark.read.parquet(*missing), make_empty, update, columns=columns
        )
        part.write.mode("append").parquet(ckpt_dir)

    # semi-join, not isin(): a 100k-file lineage list as an IN-expression
    # would blow up the plan; a broadcast semi join stays O(files)
    files_df = spark.createDataFrame([(f,) for f in files], "file string")
    ckpt = spark.read.parquet(ckpt_dir).join(F.broadcast(files_df), "file", "left_semi")
    merged = tree_merge(
        ckpt.select("payload", "n_items"), merge_payloads, fanout=fanout
    ).collect()[0]
    return CheckpointReport(
        total_files=len(files),
        resumed_files=len(done & set(files)),
        built_files=len(missing),
        payload=bytes(merged["payload"]),
        n_items=int(merged["n_items"]),
    )


def _ckpt_exists(spark: SparkSession, ckpt_dir: str) -> bool:
    path = ckpt_dir.removeprefix("file:")
    if os.path.isdir(path):
        return any(name.endswith(".parquet") for name in os.listdir(path))
    return False

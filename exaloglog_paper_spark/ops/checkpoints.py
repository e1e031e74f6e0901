"""Per-partition lineage/metrics checkpoints and resume-after-failure.

North-rule requirement: long sketch builds over 10^12 rows must be
resumable with per-partition lineage + metrics. Design:

- The unit of work is a *bucket*: a deterministic group of row-group splits
  (``split_index % num_buckets``). Buckets are sized so one bucket is
  minutes of work on the target cluster.
- Each completed bucket writes its partial-sketch rows to
  ``<ckpt_dir>/bucket=<i>/`` (parquet, with Spark's ``_SUCCESS`` marker) —
  the rows carry (group keys, sketch, n_values, partition_id, build_secs)
  plus a sha256 state digest: that parquet IS the lineage/metrics table.
- On rerun, completed buckets are detected by their ``_SUCCESS`` marker and
  skipped; only missing buckets are recomputed. The final tree merge reads
  all bucket partials. Because sketch states are exact functions of their
  input sets (merge algebra tests), a resumed run is byte-identical to an
  uninterrupted one — asserted in tests.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .agg import tree_merge
from .source import list_row_group_splits, split_partials, split_table


def _bucket_dir(ckpt_dir: str, bucket: int) -> str:
    return os.path.join(ckpt_dir, f"bucket={bucket}")


def completed_buckets(ckpt_dir: str, num_buckets: int) -> list[int]:
    return [
        b
        for b in range(num_buckets)
        if os.path.exists(os.path.join(_bucket_dir(ckpt_dir, b), "_SUCCESS"))
    ]


def checkpointed_sketch_agg(
    spark: SparkSession,
    path: str,
    spec,
    extractor,
    ckpt_dir: str,
    by: Sequence[str] = (),
    num_buckets: int = 8,
    fanin: int = 64,
) -> DataFrame:
    """Resumable sketch aggregation over a parquet table.

    Computes partials bucket-by-bucket (skipping buckets already
    checkpointed), then tree-merges all bucket partials. Returns the same
    (byte-identical) result as :func:`ops.source.scan_sketch_agg`.
    """
    splits = list_row_group_splits(path)
    if not splits:
        raise FileNotFoundError(f"no parquet files under {path}")

    done = set(completed_buckets(ckpt_dir, num_buckets))
    for b in range(num_buckets):
        if b in done:
            continue
        bucket_splits = [s for i, s in enumerate(splits) if i % num_buckets == b]
        if not bucket_splits:
            os.makedirs(_bucket_dir(ckpt_dir, b), exist_ok=True)
            open(os.path.join(_bucket_dir(ckpt_dir, b), "_SUCCESS"), "w").close()
            continue
        par = min(len(bucket_splits), spark.sparkContext.defaultParallelism * 2)
        sdf = split_table(spark, bucket_splits, par)
        partials = split_partials(sdf, splits[0][0], spec, extractor, by, par)
        partials = partials.withColumn("state_sha256", F.sha2(F.col("sketch"), 256))
        partials.write.mode("overwrite").parquet(_bucket_dir(ckpt_dir, b))

    all_partials = spark.read.parquet(
        *[_bucket_dir(ckpt_dir, b) for b in range(num_buckets)]
    ).drop("state_sha256")
    return tree_merge(all_partials, spec, by=by, num_partials=len(splits), fanin=fanin)


def lineage_metrics(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """The lineage/metrics table: one row per (bucket partition × group) with
    n_values, build_secs, and the sha256 state digest."""
    return spark.read.option("basePath", ckpt_dir).parquet(ckpt_dir + "/bucket=*")

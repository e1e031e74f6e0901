"""Python-native columnar parquet source for sketch building.

Why: Spark's JVM->Arrow bridge converts ``array<int32>`` columns
element-wise when shipping rows to Python workers — measured ~19s overhead
for a 67M-token sf0.1 scan where the raw JVM columnar scan takes 1.75s and
a direct pyarrow read of the same files takes ~4s single-threaded. For
full-table sketch builds (the 10^12-row production case) we instead
parallelize over *row-group splits* and let each task read its split with
pyarrow directly: parquet -> Arrow with zero JVM round-trip, preserving
column pruning (explicit ``columns=``) and row-group pruning (optional
pyarrow ``filter``).

This is the standard DataSourceV2-python-reader pattern expressed with the
DataFrame API; the row-DataFrame path in ops/agg.py remains for inputs that
are outputs of arbitrary Spark plans (joins, filters).
"""

from __future__ import annotations

import glob
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def list_row_group_splits(path: str) -> list[tuple[str, int]]:
    """Enumerate (file, row_group) splits of a parquet file/directory."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # flat Spark output dirs and hive/Iceberg-style partitioned layouts
        files = sorted(
            glob.glob(os.path.join(path, "*.parquet"))
            or glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    else:
        files = [path]
    splits: list[tuple[str, int]] = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            splits.append((f, rg))
    return splits


_TARGET_SPLIT_BYTES = int(
    os.environ.get("SPARK_GRAFT_SCAN_TARGET_SPLIT_BYTES", str(256 * 1024**2))
)


def splits_df(spark: SparkSession, path: str, parallelism: int | None = None) -> DataFrame:
    """One row per row-group split, spread deterministically (round-robin
    slicing, no shuffle) so every task gets ≥1 split when possible.

    Task count is SCALE-ADAPTIVE (guide §2/§6): enough tasks that each
    reads ~256 MB of parquet (finer granularity as the table grows — at
    100 TB that is ~4·10^5 tasks, many waves per core, good straggler
    balance), floored at one wave over the cluster's cores so small
    inputs still use every core. The former fixed 2× defaultParallelism
    put exactly two waves of sub-second tasks on small inputs — pure
    scheduling overhead (~0.6 s per scan at sf0.1, measured)."""
    splits = list_row_group_splits(path)
    if not splits:
        raise FileNotFoundError(f"no parquet files under {path}")
    if parallelism is None:
        total_bytes = sum(os.path.getsize(f) for f in {f for f, _ in splits})
        parallelism = min(
            len(splits),
            max(
                spark.sparkContext.defaultParallelism,
                -(-total_bytes // _TARGET_SPLIT_BYTES),
            ),
        )
    return split_table(spark, splits, parallelism)


def split_table(spark: SparkSession, splits, parallelism: int) -> DataFrame:
    """The given (path, row_group) splits as a DataFrame of ``parallelism``
    partitions.

    Arrow-backed LocalRelation + round-robin repartition instead of
    sc.parallelize: the parallelize RDD carries pickled Python rows whose
    scan re-runs a Python deserialization step chained in front of every
    downstream mapInArrow task; the LocalRelation ships the split list
    (KB) JVM-side once. Round-robin assignment is deterministic
    (sortBeforeRepartition), so the order-dependent summaries (MG/KLL)
    see the same split->task assignment on every run."""
    import pandas as pd

    pdf = pd.DataFrame(splits, columns=["path", "row_group"])
    return spark.createDataFrame(pdf, "path string, row_group int").repartition(
        parallelism
    )


def batch_iterator(split_rows, columns: Sequence[str], batch_rows: int = 65536):
    """Yield Arrow record batches for the given (path, row_group) rows."""
    import pyarrow.parquet as pq

    for path, groups in split_rows:
        pf = pq.ParquetFile(path)
        yield from pf.iter_batches(
            batch_size=batch_rows, row_groups=groups, columns=list(columns)
        )


def split_partials(
    sdf: DataFrame,
    first_file: str,
    spec,
    extractor,
    by: Sequence[str],
    num_partitions: int,
    batch_rows: int = 65536,
) -> DataFrame:
    """Stage A over a split table (:func:`split_table`): each task reads
    its (path, row_group) splits with pyarrow and builds one partial row
    per group — the partial rows of ``ops.agg.sketch_partials``, with the
    by-columns' Spark types taken from ``first_file``'s parquet schema."""
    import pyarrow.parquet as pq

    from .agg import _build_partials_batches, _by_schema_from_fields

    by = list(by)
    cols = list(dict.fromkeys(by + list(extractor.input_cols)))

    def run(batches):
        # gather this task's splits (tiny), then stream its row groups
        split_rows: list[tuple[str, list[int]]] = []
        for b in batches:
            for prow, grow in zip(b.column("path").to_pylist(), b.column("row_group").to_pylist()):
                split_rows.append((prow, [grow]))
        yield from _build_partials_batches(
            batch_iterator(split_rows, cols, batch_rows),
            spec,
            extractor,
            by,
            num_partitions=num_partitions,
        )

    file_schema = pq.ParquetFile(first_file).schema_arrow
    schema = _by_schema_from_fields([file_schema.field(c) for c in by])
    return sdf.mapInArrow(run, schema=schema)


def scan_sketch_agg(
    spark: SparkSession,
    path: str,
    spec,
    extractor,
    by: Sequence[str] = (),
    fanin: int = 64,
    batch_rows: int = 65536,
) -> DataFrame:
    """sketch_agg over a parquet table using the pyarrow-native scan.

    Equivalent result (byte-identical states) to
    ``sketch_agg(spark.read.parquet(path), ...)`` — asserted in tests — at a
    fraction of the transfer cost for array columns.
    """
    from .agg import tree_merge

    sdf = splits_df(spark, path)
    num_p = sdf.rdd.getNumPartitions()
    first = list_row_group_splits(path)[0][0]
    partials = split_partials(sdf, first, spec, extractor, by, num_p, batch_rows)
    # Grouped aggregations keep the distributed tree unconditionally: a
    # grouped driver-fold fast path (JVM approx_count_distinct probe +
    # collect + numpy fold) was tried in r6 and measured NO faster than
    # the tree at sf0.1 (interleaved A/B: 1.18 vs 1.12 s min) — the
    # applyInPandas merge pipeline overlaps with the partials stage, so
    # the probe's extra jobs bought nothing. Rejected; see
    # OPTIMIZATION_r06.md.
    return tree_merge(partials, spec, by=by, num_partials=num_p, fanin=fanin)


def resolve_format(source: str, fmt: str = "auto") -> str:
    """THE iceberg-vs-parquet 'auto' rule (single definition — the job and
    read_tokens both call this so their decisions can't drift): a path
    separator, a parquet-ish suffix, or an existing filesystem path means
    parquet; otherwise only the full ``catalog.db.table`` two-dot shape is
    an Iceberg identifier. A single-dot relative name that doesn't exist
    yet (``tokens.v2``, a typo'd path) resolves to parquet so the reader's
    error talks about the path the user actually meant."""
    if fmt != "auto":
        return fmt
    if source.endswith(".orc"):
        return "orc"
    if "/" in source or source.endswith((".parquet", ".pq")) or os.path.exists(source):
        return "parquet"
    return "iceberg" if source.count(".") >= 2 else "parquet"


def read_tokens(spark: SparkSession, source: str, fmt: str = "auto") -> DataFrame:
    """Load the pre-tokenized sequence table (doc_id, tokens:array<int32>,
    n_tok, source) — the BASELINE.json input_hint shape — from either an
    Iceberg table or parquet files.

    ``fmt``:
      - ``"iceberg"``: ``source`` is a catalog identifier
        (``catalog.db.table``) or a path for ``spark.read.format("iceberg")``
        — requires ``iceberg-spark-runtime`` on the cluster classpath (the
        production deployment; this sandbox has no Iceberg jars, so the
        path is exercised on real clusters only). All downstream operators
        consume the DataFrame, so Iceberg's hidden partitioning / snapshot
        isolation compose for free; use the DataFrame route
        (``ops.agg.sketch_agg``), not the pyarrow row-group scan, which is
        parquet-file-layout specific.
      - ``"parquet"``: ``source`` is a parquet file/directory.
      - ``"orc"``: ``source`` is an ORC file/directory (auto-detected for
        ``*.orc`` paths). Downstream is format-agnostic (DataFrame route);
        the pyarrow row-group scan stays parquet-only.
      - ``"auto"``: see :func:`resolve_format`.
    """
    fmt = resolve_format(source, fmt)
    if fmt == "orc":
        return spark.read.orc(source)
    if fmt == "iceberg":
        try:
            return spark.read.format("iceberg").load(source)
        except Exception as e:  # jars absent or table missing: actionable error
            raise RuntimeError(
                f"cannot read Iceberg table {source!r}: is "
                "iceberg-spark-runtime on the classpath and the catalog "
                "configured? (if this was meant as a parquet path, pass "
                f"fmt='parquet') ({e})"
            ) from e
    try:
        return spark.read.parquet(source)
    except Exception as e:
        # 'auto' resolves single-dot names (`db.table`) to parquet; if the
        # path doesn't exist the caller may have meant a 2-part Iceberg
        # identifier against the session default catalog — say so
        raise RuntimeError(
            f"cannot read parquet at {source!r} (if this was meant as an "
            "Iceberg identifier, e.g. a 2-part `db.table` name against the "
            f"session default catalog, pass fmt='iceberg') ({e})"
        ) from e

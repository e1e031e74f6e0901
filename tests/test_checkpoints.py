"""Resume-after-failure: checkpointed builds are byte-identical to
uninterrupted ones; lineage/metrics are queryable."""

import shutil

import pytest
from pyspark.sql import functions as F

from exaloglog_paper_spark.ops import tokens as tok
from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, token_array_values
from exaloglog_paper_spark.ops.checkpoints import (
    checkpointed_sketch_agg,
    completed_buckets,
    lineage_metrics,
)
from exaloglog_paper_spark.ops.source import scan_sketch_agg


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt") / "tokens.parquet")
    tok.token_table(spark, 300, num_partitions=12).write.parquet(path)
    return path


def test_checkpointed_equals_direct(spark, tokens_path, tmp_path):
    spec = ExaLogLogSpec(2, 20, 8)
    ckpt = str(tmp_path / "ck1")
    direct = scan_sketch_agg(spark, tokens_path, spec, token_array_values("tokens")).collect()[0]
    ck = checkpointed_sketch_agg(
        spark, tokens_path, spec, token_array_values("tokens"),
        ckpt_dir=ckpt, num_buckets=4,
    ).collect()[0]
    assert bytes(ck.sketch) == bytes(direct.sketch)
    assert ck.n_values == direct.n_values
    assert completed_buckets(ckpt, 4) == [0, 1, 2, 3]
    # lineage table: per-partition metrics + state digests
    lin = lineage_metrics(spark, ckpt)
    assert lin.count() >= 4
    row = lin.agg(F.sum("n_values")).collect()[0]
    assert row[0] == direct.n_values
    assert lin.filter(F.length("state_sha256") != 64).count() == 0


def test_resume_skips_completed_buckets(spark, tokens_path, tmp_path):
    spec = ExaLogLogSpec(2, 20, 8)
    ckpt = str(tmp_path / "ck2")
    full = checkpointed_sketch_agg(
        spark, tokens_path, spec, token_array_values("tokens"),
        ckpt_dir=ckpt, num_buckets=4, by=["source"],
    ).collect()
    # simulate a failure that lost bucket 2
    shutil.rmtree(f"{ckpt}/bucket=2")
    assert completed_buckets(ckpt, 4) == [0, 1, 3]
    resumed = checkpointed_sketch_agg(
        spark, tokens_path, spec, token_array_values("tokens"),
        ckpt_dir=ckpt, num_buckets=4, by=["source"],
    ).collect()
    a = {r.source: bytes(r.sketch) for r in full}
    b = {r.source: bytes(r.sketch) for r in resumed}
    assert a == b


def test_checkpointed_rejects_directory_without_parquet(spark, tmp_path):
    """An empty write leaves a directory holding only ``_SUCCESS``: the
    checkpointed build raises the engine-standard FileNotFoundError (as
    splits_df does), not an IndexError from an empty split list."""
    src = str(tmp_path / "empty_tokens")
    tok.token_table(spark, 5, num_partitions=2).filter(F.lit(False)).write.parquet(src)
    with pytest.raises(FileNotFoundError, match="no parquet files under"):
        checkpointed_sketch_agg(
            spark, src, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"),
            ckpt_dir=str(tmp_path / "ck"), num_buckets=2,
        )

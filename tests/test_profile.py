"""One-pass multi-sketch profiler (ops/profile.py): the single-scan
states must equal independent per-spec builds — byte-identical for the
register/linear sketches (ELL, count-sketch: partitioning-invariant merge
algebras), guarantee-level for the partitioning-dependent summaries
(Misra-Gries bracket, KLL rank tolerance) — and the exact counters must
be exact."""

import numpy as np

from exaloglog_paper_spark.ops import tokens as tok
from exaloglog_paper_spark.ops.agg import ExaLogLogSpec
from exaloglog_paper_spark.ops.profile import profile_token_table
from exaloglog_paper_spark.ops.specs import CountSketchSpec
from exaloglog_paper_spark.sketchlib.bitops import splitmix64


def test_profile_matches_independent_builds(spark):
    tdf = tok.token_table(spark, 400, num_partitions=7)
    profs = profile_token_table(tdf)

    rows = tdf.select("source", "tokens", "n_tok").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert set(profs) == set(by_src)

    ell_spec = ExaLogLogSpec(2, 20, 10)
    cs_spec = CountSketchSpec(8192, 5)
    for s, rs in by_src.items():
        p = profs[s]
        flat = np.concatenate(
            [np.asarray(r.tokens, dtype=np.int64) for r in rs]
        )
        h = splitmix64(flat.view(np.uint64))
        # exact counters
        assert p.n_docs == len(rs)
        assert p.n_tokens == len(flat)
        # partitioning-invariant states: byte-identical to a single build
        assert ell_spec.serialize(p.ell) == ell_spec.serialize(
            ell_spec.add(ell_spec.empty(), h)
        )
        assert cs_spec.serialize(p.cs) == cs_spec.serialize(
            cs_spec.add(cs_spec.empty(), h)
        )
        # Misra-Gries: deterministic bracket vs exact counts
        ids, cnt = np.unique(flat, return_counts=True)
        est = p.mg.estimate(ids)
        assert (est <= cnt).all()
        assert (cnt - est <= p.mg.err_bound + 1e-9).all()
        # KLL: saw every row; median within rank tolerance
        assert p.kll.n == len(rs)
        ntoks = np.array([r.n_tok for r in rs], dtype=np.float64)
        med = float(p.kll.quantile(0.5))
        assert abs((ntoks <= med).mean() - 0.5) <= 0.08


def test_checkpointed_profile_resumes_byte_identically(spark, tmp_path):
    """checkpointed_profile: uninterrupted vs crash-and-resume (one bucket
    dir deleted) produce byte-identical states for ALL four sketches —
    including the merge-order-dependent MG/KLL, thanks to the
    deterministic sorted driver fold — and the register/linear states
    match the direct one-pass build exactly."""
    import shutil

    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.checkpoints import lineage_metrics
    from exaloglog_paper_spark.ops.profile import checkpointed_profile

    src = str(tmp_path / "cp_tokens")
    tok.token_table(spark, 300, num_partitions=6).write.parquet(src)
    ck1 = str(tmp_path / "ck1")
    ck2 = str(tmp_path / "ck2")

    full = checkpointed_profile(spark, src, ck1, num_buckets=4)
    # lineage/metrics table is readable and carries the composite state
    # digest (one per partial row, covering all four members)
    lm = lineage_metrics(spark, ck1)
    assert lm.count() > 0
    assert "state_sha256" in lm.columns

    # crash simulation: run, destroy one bucket, resume
    checkpointed_profile(spark, src, ck2, num_buckets=4)
    shutil.rmtree(str(tmp_path / "ck2" / "bucket=2"))
    resumed = checkpointed_profile(spark, src, ck2, num_buckets=4)

    ell_spec = ExaLogLogSpec(2, 20, 10)
    cs_spec = CountSketchSpec(8192, 5)
    profs_direct = profile_token_table(spark.read.parquet(src))
    assert set(full) == set(resumed) == set(profs_direct)
    for g in full:
        a, b = full[g], resumed[g]
        assert (a.n_docs, a.n_tokens) == (b.n_docs, b.n_tokens)
        assert ell_spec.serialize(a.ell) == ell_spec.serialize(b.ell)
        assert cs_spec.serialize(a.cs) == cs_spec.serialize(b.cs)
        assert a.mg.serialize() == b.mg.serialize()
        assert a.kll.serialize() == b.kll.serialize()
        # partitioning-invariant states also equal the direct Spark build
        d = profs_direct[g]
        assert ell_spec.serialize(a.ell) == ell_spec.serialize(d.ell)
        assert cs_spec.serialize(a.cs) == cs_spec.serialize(d.cs)
        assert (d.n_docs, d.n_tokens) == (a.n_docs, a.n_tokens)


def test_scan_profile_matches_spark_scan_build(spark, tmp_path):
    """The pyarrow-native scan path produces the same profile: exact
    counters equal, register/linear states byte-identical (partitioning-
    invariant), MG/KLL guarantee-level (spot: n equal)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.profile import scan_profile

    src = str(tmp_path / "scan_tokens")
    tok.token_table(spark, 300, num_partitions=4).write.parquet(src)
    a = profile_token_table(spark.read.parquet(src))
    b = scan_profile(spark, src)
    ell_spec = ExaLogLogSpec(2, 20, 10)
    cs_spec = CountSketchSpec(8192, 5)
    assert set(a) == set(b)
    for g in a:
        assert (a[g].n_docs, a[g].n_tokens) == (b[g].n_docs, b[g].n_tokens)
        assert ell_spec.serialize(a[g].ell) == ell_spec.serialize(b[g].ell)
        assert cs_spec.serialize(a[g].cs) == cs_spec.serialize(b[g].cs)
        assert a[g].kll.n == b[g].kll.n


def test_profile_high_cardinality_group_key(spark):
    """Group dispatch must stay correct when ``by`` has many groups per
    batch (the sort-based dispatch path): per-doc profile of 120 docs."""
    from exaloglog_paper_spark.ops import tokens as tok

    tdf = tok.token_table(spark, 120, num_partitions=2)
    profs = profile_token_table(tdf, by="doc_id", mg_k=16, kll_k=50)
    rows = tdf.select("doc_id", "tokens", "n_tok").collect()
    assert set(profs) == {r.doc_id for r in rows}
    for r in rows:
        p = profs[r.doc_id]
        assert p.n_docs == 1
        assert p.n_tokens == len(r.tokens)
        exact_distinct = len(set(r.tokens))
        assert abs(p.ell.estimate() / max(exact_distinct, 1) - 1) < 0.15


def test_profile_empty_and_all_null_group_inputs(spark, tmp_path):
    """Profiles of empty tables and tables whose group keys are all NULL
    are {} — no crashes in the builder or the fold."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.profile import scan_profile

    empty = tok.token_table(spark, 5, num_partitions=2).filter(F.lit(False))
    assert profile_token_table(empty) == {}
    src = str(tmp_path / "empty_tokens")
    empty.write.parquet(src)
    # an empty write produces zero part files; the pyarrow scan raises the
    # engine-wide informative error rather than silently profiling nothing
    # (same contract as scan_sketch_agg / splits_df)
    import pytest

    with pytest.raises(FileNotFoundError):
        scan_profile(spark, src)
    nullsrc = tok.token_table(spark, 10).withColumn(
        "source", F.lit(None).cast("string")
    )
    assert profile_token_table(nullsrc) == {}


def test_profile_fold_is_distributed(spark):
    """r6 plan pin: the profiler's fold runs as a grouped executor-side
    stage (FlatMapGroupsInPandas over the partials), and the fold output
    is ONE row per group — only KB-per-group rows ever reach the driver,
    never the raw (task x group) partial states (VERDICT r5 item 1)."""
    from exaloglog_paper_spark.ops.agg import sketch_partials
    from exaloglog_paper_spark.ops.profile import (
        ProfileSpec,
        fold_partials_df,
        profile_values,
    )

    df = tok.token_table(spark, 2_000, num_partitions=8)
    spec = ProfileSpec(2, 20, 8, cs_width=512, cs_depth=3, mg_k=32, kll_k=64)
    partials = sketch_partials(df, spec, profile_values(), by=["source"])
    folded = fold_partials_df(partials, spec, num_partials=8)
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # the fold is a grouped stage
    rows = folded.collect()
    assert len(rows) == len({r.source for r in rows})  # one row per group
    # and it matches the driver-side merge of the raw partials exactly
    raw: dict[str, list] = {}
    for r in partials.collect():
        raw.setdefault(r.source, []).append(r)
    assert set(raw) == {r.source for r in rows}
    for r in rows:
        direct = spec.merge_many(spec.deserialize(p.sketch) for p in raw[r.source])
        assert spec.serialize(direct) == bytes(r.sketch)
        assert sum(p.n_values for p in raw[r.source]) == r.n_values


def test_profile_counts_zero_length_rows(spark):
    """Hostile input: rows with empty token arrays count in n_docs and in
    KLL (one n_tok value per row) but add nothing to n_tokens — including
    a group made only of such rows. A row with a NULL n_tok counts in
    n_docs, not in KLL, and only its tokens count in n_tokens."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "source": ["a", "a", "a", "a", "a", "empty", "empty"],
            "tokens": [[1, 2, 3], [], [4], [], [5], [], []],
            "n_tok": pd.array([3, 0, 1, None, None, 0, 0], dtype="Int32"),
        }
    )
    df = spark.createDataFrame(
        pdf, "source string, tokens array<int>, n_tok int"
    ).repartition(2)
    profs = profile_token_table(df)
    assert set(profs) == {"a", "empty"}
    a, e = profs["a"], profs["empty"]
    assert (a.n_docs, a.n_tokens, a.kll.n) == (5, 5, 3)
    assert (e.n_docs, e.n_tokens, e.kll.n) == (2, 0, 2)
    assert float(e.kll.quantile(0.5)) == 0.0
    assert e.ell.estimate() == 0.0

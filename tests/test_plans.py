"""Physical-plan assertions: the Catalyst properties the engine relies on at
100 TB must hold in the plan, not just in prose (SURVEY.md §4).

Each test captures .explain() output and asserts the load-bearing feature:
filter pushdown reaching the parquet scan, column pruning in ReadSchema,
broadcast joins for small dimensions, whole-stage codegen on exact
aggregates, and a single shuffle for the sketch partial/final aggregation.
"""

import contextlib
import io

import pytest

from exaloglog_paper_spark.ops import queries as Q


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


SF_DIR = "/root/testdata/sf0.001"


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = _plan(Q.q1_pricing_summary(spark, SF_DIR))
    # the shipdate predicate must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must not read columns the query never touches
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_top_customers_uses_broadcast_join(spark):
    plan = _plan(Q.top_customers_by_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the fact table side is aggregated before the join (partial agg first),
    # so no SortMergeJoin of raw orders against customers
    assert "SortMergeJoin" not in plan


def test_exact_aggregates_run_in_wholestage_codegen(spark):
    df = Q.exact_distinct_words_per_source(spark, SF_DIR)
    df.collect()  # AQE: codegen annotations appear on the final plan
    plan = _plan(df)
    # formatted mode tags codegen stages; the explode + hash aggregate
    # pipeline must be inside one
    assert "[codegen id :" in plan
    assert "HashAggregate" in plan


def test_sketch_agg_by_group_single_shuffle(spark):
    """The sketch partial/final pattern shuffles once: tiny partial states on
    the group key. More exchanges would mean shuffling raw rows."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_array_values,
    )

    df = tok.token_table(spark, 500)
    out = sketch_agg(df, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"), by=["source"])
    plan = _plan(out)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, plan  # one hashpartitioning (+ AQE read at most)
    assert "hashpartitioning(source" in plan, plan


def test_token_scan_prunes_to_used_columns(spark):
    """The flagship per-source query over a parquet token table must read
    only (tokens, source) — not doc_id/n_tok (SURVEY.md §4 'What Catalyst
    already gives us')."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_array_values,
    )

    path = tok.materialize_token_table("sf0.001")
    df = spark.read.parquet(path)
    out = sketch_agg(df, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"), by=["source"])
    plan = _plan(out)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "tokens" in scan and "source" in scan
    assert "doc_id" not in scan and "n_tok" not in scan


def test_dedup_plans_have_partial_aggregation(spark):
    """Map-side partial aggregation must precede the shuffle for the
    dedup/minhash groupBys (partial_min / partial_count in the plan).
    r6: the band table is a lazy localCheckpoint boundary, which hides the
    signature build from the final explain — so the minhash pin targets
    the signature subplan the pipeline routes through."""
    from exaloglog_paper_spark.ops.dedup import minhash_signatures

    plan = _plan(minhash_signatures(Q._words(spark, SF_DIR)))
    assert "partial_" in plan, plan
    plan = _plan(Q.dedup_exact_summary(spark, SF_DIR))
    assert "partial_" in plan, plan


def test_jaccard_wordset_agg_is_candidate_pruned(spark):
    """The exact-Jaccard verification must aggregate word sets ONLY for docs
    in the candidate list (VERDICT r2 item 1): the collect_set aggregate's
    input carries a LeftSemi join against the candidate ids, so the
    full-corpus word table is never shuffled or cached for verification.
    r6: the verification stage eagerly checkpoints its intermediates (plan
    truncation), which hides this subplan from the final explain — so the
    pin targets the named helper jaccard_verified_pairs routes through."""
    from exaloglog_paper_spark.ops import dedup

    words = Q._words(spark, SF_DIR)
    cand_ids = words.sparkSession.range(50).selectExpr("id AS doc_id")
    plan = _plan(dedup._candidate_word_sets(words, cand_ids, "doc_id", "word"))
    assert "LeftSemi" in plan, plan
    # and the prune is a broadcast, not a full shuffle of the word table
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # the wiring pin: jaccard_verified_pairs' ws really is this helper's
    # output (source-level, cheap, survives the checkpoint boundary)
    import inspect

    assert "_candidate_word_sets" in inspect.getsource(dedup.jaccard_verified_pairs)


def test_quantile_bound_checks_are_single_pass(spark):
    """The KLL/t-digest bound verification must run ONE verification job
    (count + all rank checks + exact percentiles in a single agg), not a
    filter().count() per quantile (VERDICT r1 item 3)."""
    from pyspark.sql import functions as F

    tracker = spark.sparkContext.statusTracker()
    docs = Q._docs(spark, SF_DIR).select(F.col("n_chars").cast("double").alias("v"))
    before = len(tracker.getJobIdsForGroup(None) or [])
    Q._quantile_bound_rows(docs, [100.0, 200.0, 300.0, 400.0, 500.0])
    after = len(tracker.getJobIdsForGroup(None) or [])
    # one agg == one job (+1 AQE final-stage materialization); the old
    # per-quantile filter().count() loop needed ~12
    assert after - before <= 2, f"too many verification jobs: {after - before}"
    before = after
    Q.kll_nchars_quantiles_bound(spark, SF_DIR)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 6, f"too many total jobs: {after - before}"


def test_ivf_partitioned_probe_prunes_partitions(spark, tmp_path):
    """The IVF scale path (ops/similarity.py docstring): embeddings written
    partitioned by ivf_cell let a probe read ONLY the probed cells' files —
    the partition filter must appear in the scan (PartitionFilters), not as
    a post-scan Filter over all files."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import (
        train_ivf_centroids,
        with_ivf_cell,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent = train_ivf_centroids(emb, n_centroids=8)
    path = str(tmp_path / "emb_by_cell")
    with_ivf_cell(emb, cent).write.partitionBy("ivf_cell").parquet(path)

    probed = spark.read.parquet(path).filter(F.col("ivf_cell").isin(0, 1))
    plan = _plan(probed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "ivf_cell" in pf[0], plan
    # directory-pruned scan returns only the probed cells
    cells = {r.ivf_cell for r in probed.select("ivf_cell").distinct().collect()}
    assert cells <= {0, 1}


def test_bloom_verification_never_collects_data_columns(spark):
    """Bloom bound check must aggregate (members, false_negs, fps)
    distributed — the only driver-side results are KB-sized sketch rows and
    the final 4-long aggregate (VERDICT r1 item 2)."""
    from unittest import mock

    from pyspark.sql import DataFrame

    real_collect = DataFrame.collect
    sizes = []

    def spying_collect(self):
        rows = real_collect(self)
        sizes.append((len(rows), len(self.columns)))
        return rows

    with mock.patch.object(DataFrame, "collect", spying_collect):
        Q.bloom_membership_bound(spark, SF_DIR)
    # every collect returns a handful of rows (sketch partials / final agg),
    # never a per-document hash column
    assert all(n_rows <= 16 for n_rows, _ in sizes), sizes


def test_lsh_probe_is_bucket_equi_join_not_nlj(spark):
    """Multi-probe sign-LSH must probe via an equi-join on the bucket key
    (BroadcastHashJoin on lsh_bucket over the expanded probe set), never a
    BroadcastNestedLoopJoin + post-join hamming filter that popcount-tests
    every (row, query) pair (VERDICT r3 item 2)."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import lsh_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    df = lsh_cosine_topk(emb, queries, k=5, nbits=8, probe_hamming=2, dim=64)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the join key is the bucket
    assert "lsh_bucket" in plan


def test_ivf_probe_is_cell_equi_join_not_nlj(spark):
    """The IVF probe must mirror the LSH one: an equi-join on ivf_cell over
    the exploded (query, cell) probe rows (BroadcastHashJoin), never a
    BroadcastNestedLoopJoin + array_contains test of every (row, query)
    pair (VERDICT r4 item 2)."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    cent = train_ivf_centroids(emb, n_centroids=8)
    df = ivf_cosine_topk(emb, queries, k=5, centroids=cent, nprobe=3)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ivf_cell" in plan


def test_lsh_partitioned_probe_prunes_partitions(spark, tmp_path):
    """The LSH scale path mirrors the IVF one: embeddings written
    partitioned by lsh_bucket let a probe read ONLY the probed buckets'
    files — the bucket filter must appear as PartitionFilters in the
    scan."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import with_lsh_bucket

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "emb_by_bucket")
    with_lsh_bucket(emb, "embedding", dim=64, nbits=4).write.partitionBy(
        "lsh_bucket"
    ).parquet(path)

    probed = spark.read.parquet(path).filter(F.col("lsh_bucket").isin(3, 7))
    plan = _plan(probed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lsh_bucket" in pf[0], plan
    buckets = {r.lsh_bucket for r in probed.select("lsh_bucket").distinct().collect()}
    assert buckets <= {3, 7}


def test_contamination_probe_is_broadcast_join(spark):
    """The benchmark-shingle probe in contamination_ngram_overlap must be a
    broadcast LEFT join on the shingle (benchmark set = small side by
    contract) — never a SortMergeJoin shuffling the full training shingle
    table on a string key."""
    df = Q.contamination_ngram_overlap(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stable_sample_filter_is_scan_level(spark):
    """The md5-nibble sampling predicate is key-pure and must evaluate as a
    plain Filter over the scan — no shuffle before the per-source
    aggregation's single exchange, no RNG/nondeterministic expression
    (nondeterministic exprs block pushdown and re-evaluate per retry,
    breaking sample stability under task re-execution)."""
    df = Q.stable_sample_digest(spark, SF_DIR)
    plan = _plan(df, mode="extended")
    assert "rand(" not in plan  # no RNG anywhere in the sampling plan
    # sampled-side plan: Filter directly over the file scan
    assert "Filter" in plan


def test_bloom_probe_is_scan_side_no_shuffle(spark):
    """The Bloom prefilter mark must be a pure map stage: scan ->
    mapInArrow, no Exchange anywhere in the marked DataFrame's plan (the
    100-TB property: only filter hits ever reach a join shuffle), and the
    exact-finish semi join must broadcast the (small) distinct key side."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.joins import (
        bloom_semi_join,
        build_key_filter,
        with_bloom_hit,
    )

    left = spark.read.parquet(f"{SF_DIR}/customer.parquet").select("c_custkey")
    right = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    fb, spec = build_key_filter(right, "o_custkey", num_bits=1 << 16)
    marked = with_bloom_hit(left, "c_custkey", fb, spec)
    plan = _plan(marked)
    assert "MapInArrow" in plan
    assert "Exchange" not in plan, "probe mark must not shuffle"
    joined = bloom_semi_join(left, right, "c_custkey", "o_custkey", num_bits=1 << 16)
    jplan = _plan(joined)
    assert "BroadcastHashJoin" in jplan or "BroadcastExchange" in jplan


def test_profile_scan_prunes_to_input_columns(spark):
    """The one-pass profiler must read only (source, tokens, n_tok) from
    the parquet scan — doc_id is pruned even though the profiler consumes
    whole Arrow batches (pinned on the REAL distributed stage: the
    profile's partials through sketch_partials)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import sketch_partials
    from exaloglog_paper_spark.ops.profile import ProfileSpec, profile_values

    path = tok.materialize_token_table("sf0.001")
    df = spark.read.parquet(path)
    partials = sketch_partials(
        df,
        ProfileSpec(2, 20, 8, cs_width=512, cs_depth=3, mg_k=32, kll_k=100),
        profile_values("tokens", "n_tok"),
        by=["source"],
    )
    plan = _plan(partials)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "tokens" in scan and "source" in scan and "n_tok" in scan
    assert "doc_id" not in scan


def test_trigram_estimate_plan_has_no_explode(spark):
    """The trigram-novelty ESTIMATE path must not contain a Generate
    (explode) node: windows are hashed inside the Arrow batch, never
    materialized as rows (the exact verification side explodes, the
    estimator must not)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_trigram_values,
    )

    path = tok.materialize_token_table("sf0.001")
    df = spark.read.parquet(path)
    out = sketch_agg(df, ExaLogLogSpec(2, 20, 8), token_trigram_values("tokens"))
    plan = _plan(out)
    assert "Generate" not in plan and "explode" not in plan.lower()

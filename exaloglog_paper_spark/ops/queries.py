"""Registered engine queries: each returns a DataFrame given (spark, sf_dir).

Two families:

1. *Exact* queries — deterministic relational results with ANSI-SQL DuckDB
   oracles (word-level distinct counts, dedup, heavy hitters, quantiles,
   TPC-H-style aggregates, ANN top-k).
2. *Sketch-bound* queries — the approximate estimate is checked against the
   algorithm's published error bound *inside* the query: the output carries
   the exact value (computable by the SQL oracle) plus a boolean
   ``within_bound`` that the oracle asserts TRUE. This turns the paper's
   statistical acceptance criterion (RSE ≤ C_ml[t][d]/√2^p,
   AbstractSpecificExaLogLogTest.java:350-447) into a hash-comparable
   result, while pure-estimate variants stay available un-oracled.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .agg import (
    ExaLogLogSpec,
    HyperLogLogSpec,
    hash64_values,
    sketch_agg,
    token_array_values,
    with_estimate,
)
from . import tokens as tok

WORD_SPLIT_RE = "[^a-z0-9]+"


_SCHEMA_CACHE: dict = {}


def _read_pq(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with a per-path schema memo: schema inference
    reads the footer in a small job on EVERY read call, and query
    constructors here re-read the same tables several times per
    execution. Caching the inferred StructType (metadata, not data — the
    scan itself is unchanged) skips those jobs; a real deployment gets
    the same effect from a catalog."""
    sch = _SCHEMA_CACHE.get(path)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_pq(spark, f"{sf_dir}/documents.parquet")


def _spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Fan a small scan out to cluster parallelism before CPU-heavy per-row
    work (explode + hashing). A tiny parquet file arrives as one split, which
    would serialize the downstream map work onto one core; at real scale the
    scan already has >= defaultParallelism splits and this is a no-op.

    When ``key_cols`` are given the spread hash-partitions on them instead
    of round-robin: a downstream groupBy/window on the same key then REUSES
    this exchange (one shuffle instead of two — guide §2.4), and a dense
    unique id spreads exactly as evenly as round-robin."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    cols = [F.col(c) for c in key_cols]
    return df.repartition(par, *cols) if cols else df.repartition(par)


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents exploded to one row per word (deterministic tokenization
    shared with the DuckDB oracle)."""
    return (
        _spread(_docs(spark, sf_dir), "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower(F.col("text")), WORD_SPLIT_RE)).alias("word"),
        )
        .filter(F.col("word") != "")
    )


# ---------------------------------------------------------------------------
# exact relational queries (oracle-checked)
# ---------------------------------------------------------------------------


def _shingles(
    spark: SparkSession, sf_dir: str, n: int = 3, extra_cols: Sequence[str] = ()
) -> DataFrame:
    """documents exploded to one row per word n-gram shingle (order-aware
    dedup unit; same deterministic tokenization as _words). The shingle
    table has the exact (doc_id, word) shape the MinHash/LSH/Jaccard
    machinery consumes, so n-gram dedup reuses it unchanged;
    ``extra_cols`` carries document attributes (e.g. source) through."""
    words = F.filter(F.split(F.lower(F.col("text")), WORD_SPLIT_RE), lambda w: w != "")
    cnt = F.size(words) - (n - 1)  # number of shingles; <= 0 for short docs
    sh = F.when(
        cnt > 0,
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return _spread(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", *extra_cols, F.explode(sh).alias("word")
    )


def exact_distinct_words_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _words(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count_distinct("word").alias("distinct_words"),
            F.count("word").alias("total_words"),
        )
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem (exact aggregates;
    doubles rounded for cross-engine hash stability)."""
    li = _read_pq(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 3).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 3
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def rollup_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(source, lang): distinct words + doc counts at all three
    levels (exact; sketch-based rollups share the same shape via
    ops/rollup.sketch_rollup — byte-equal re-aggregation, tested)."""
    words = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), WORD_SPLIT_RE)).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    return words.rollup("source", "lang").agg(
        F.count_distinct("word").alias("distinct_words"),
        F.count_distinct("doc_id").alias("docs"),
    )


def sketch_cube_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-native CUBE(source, lang): all four grouping sets of
    distinct-word estimates derived by re-merging ONE pass of
    per-(source, lang) sketches (ops/rollup.sketch_cube) — the raw corpus is
    never rescanned. Exact counts ride along; the oracle (DuckDB GROUP BY
    CUBE) recomputes them and asserts every estimate is within 5·RSE."""
    from .agg import hash64_values
    from .rollup import sketch_cube

    spec = ExaLogLogSpec(2, 20, 10)
    words = (
        _spread(_docs(spark, sf_dir))
        .select(
            "source",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), WORD_SPLIT_RE)).alias("word"),
        )
        .filter(F.col("word") != "")
        .withColumn("h", F.xxhash64("word"))
        .persist()  # fine sketches + exact cube share one corpus explode
    )
    fine = sketch_agg(words, spec, hash64_values("h"), by=["source", "lang"])
    cube = with_estimate(sketch_cube(fine, spec, ["source", "lang"]), spec)
    exact = (
        words.cube("source", "lang")
        .agg(
            F.count("word").alias("total_words"),
            F.count_distinct("word").alias("exact_distinct_words"),
            F.grouping_id().cast("int").alias("e_gid"),
        )
        .select(
            F.col("source").alias("e_source"),
            F.col("lang").alias("e_lang"),
            "e_gid",
            "total_words",
            "exact_distinct_words",
        )
    )
    bound = 5 * spec.theoretical_rse()
    return cube.join(
        exact,
        cube["source"].eqNullSafe(exact["e_source"])
        & cube["lang"].eqNullSafe(exact["e_lang"])
        & (cube["gid"] == exact["e_gid"]),
    ).select(
        "source",
        "lang",
        "gid",
        "total_words",
        "exact_distinct_words",
        (
            F.abs(F.col("estimate") / F.col("exact_distinct_words") - 1) <= F.lit(bound)
        ).alias("within_bound"),
    )


def heavy_hitters_words_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-20 words by frequency (deterministic tie-break)."""
    counts = _words(spark, sf_dir).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("word")).limit(20)


# ---------------------------------------------------------------------------
# sketch queries with in-query bound verification (oracle-checked)
# ---------------------------------------------------------------------------


def ell_distinct_words_per_source_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExaLogLog(2,20,10) estimate vs exact per source; oracle asserts the
    estimate satisfies 5·RSE (RSE = 0.0113 at p=10, BASELINE.md)."""
    spec = ExaLogLogSpec(2, 20, 10)
    # sketch and exact sides share one corpus explode
    words = _words(spark, sf_dir).withColumn("h", F.xxhash64("word")).persist()
    sk = with_estimate(
        sketch_agg(words, spec, hash64_values("h"), by=["source"]),
        spec,
    )
    exact = words.groupBy("source").agg(
        F.count_distinct("word").alias("distinct_words"),
        F.count("word").alias("total_words"),
    )
    bound = 5 * spec.theoretical_rse()
    return (
        exact.join(F.broadcast(sk.select("source", "estimate")), "source")
        .select(
            "source",
            "distinct_words",
            (
                F.abs(F.col("estimate") / F.col("distinct_words") - 1) <= F.lit(bound)
            ).alias("within_bound"),
        )
    )


def hll_distinct_words_global_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog(p=12) global distinct-word estimate vs exact + bound."""
    spec = HyperLogLogSpec(p=12)
    words = _words(spark, sf_dir).withColumn("h", F.xxhash64("word")).persist()
    sk = with_estimate(sketch_agg(words, spec, hash64_values("h")), spec)
    bound = 5 * spec.theoretical_rse()
    exact = words.agg(F.count_distinct("word").alias("distinct_words"))
    return exact.crossJoin(F.broadcast(sk.select("estimate"))).select(
        "distinct_words",
        (F.abs(F.col("estimate") / F.col("distinct_words") - 1) <= F.lit(bound)).alias(
            "within_bound"
        ),
    )


def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join orders x customer + window rank: top-10 customers by
    total order value per market segment (relational breadth: join, window,
    exact agg; the dimension side is explicitly broadcast)."""
    from pyspark.sql.window import Window

    orders = _read_pq(spark, f"{sf_dir}/orders.parquet")
    cust = _read_pq(spark, f"{sf_dir}/customer.parquet")
    rev = (
        orders.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 3).alias("revenue"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("c_mktsegment", "rank", "c_custkey", "revenue")
    )


def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function sessionization over the events stream table: sessions
    split on >30-minute gaps per user; per-user session count + avg session
    event count."""
    from pyspark.sql.window import Window

    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is UTC so the epoch matches DuckDB's
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    marked = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_session = sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("sessions"),
        F.round(F.avg("events"), 6).alias("avg_events_per_session"),
    )


def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows over the events table: counts + exact
    distinct users (the batch twin of streaming/windows.py; exact for the
    oracle — the streaming variant uses approx_count_distinct)."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.count_distinct("user_id").alias("users"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
    )


def sliding_window_distinct_users_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour sliding windows (1-hour step) of distinct users over the
    events table, estimated by MERGING per-hour ExaLogLog states instead of
    rescanning rows per window.

    The scale shape: raw events are sketched ONCE into tumbling 1-hour
    states (one shuffle, KB per hour); each hour state then fans out to
    the 24 sliding windows that cover it and the per-window sketch is a
    pure state merge (24 register folds of ~3.6 KB each — the merge
    algebra's ``state(A∪B) == merge(state(A), state(B))`` is what makes
    the derivation exact). At 10^12 events the alternative — exploding
    every ROW into its 24 covering windows — multiplies the shuffle by
    the overlap factor; the state-fanout path shuffles 24 KB-sized rows
    per hour regardless of event volume. The exact side (and the DuckDB
    oracle) computes the row-explode form for verification; the oracle
    asserts the estimate is within 5·RSE of the exact count per window.
    """
    from .agg import tree_merge

    spec = ExaLogLogSpec(2, 20, 10)
    bound = 5 * spec.theoretical_rse()
    ev = (
        _read_pq(spark, f"{sf_dir}/events.parquet")
        .select(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "user_id",
        )
        # NULL user_ids carry through xxhash64 as NULL; drop them so the
        # sketch matches count_distinct's NULL-ignoring semantics (the
        # synthetic table has none — this is the generic-operator contract)
        .filter(F.col("user_id").isNotNull())
        .withColumn("h", F.xxhash64("user_id"))
    )
    hour_states = sketch_agg(ev, spec, hash64_values("h"), by=["hour"])
    fanned = (
        hour_states.select(
            "hour", "sketch", "n_values", "build_secs",
            F.explode(F.sequence(F.lit(0), F.lit(23))).alias("k"),
        )
        .select(
            F.expr("timestampadd(HOUR, -k, hour)").alias("window_start"),
            "sketch",
            "n_values",
            F.col("k").cast("long").alias("partition_id"),
            "build_secs",
        )
    )
    est = with_estimate(
        tree_merge(fanned, spec, by=["window_start"], num_partials=24), spec
    )
    exact = (
        ev.select("hour", "user_id", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("k"))
        .select(F.expr("timestampadd(HOUR, -k, hour)").alias("window_start"), "user_id")
        .groupBy("window_start")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return exact.join(
        F.broadcast(est.select("window_start", "estimate")), "window_start"
    ).select(
        "window_start",
        "exact_users",
        (F.abs(F.col("estimate") / F.col("exact_users") - 1) <= F.lit(bound)).alias(
            "within_bound"
        ),
    )


def intersection_distinct_words_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct words common to src0 and src1 via sketch inclusion-exclusion
    vs the exact INTERSECT count; the oracle asserts the derived bound
    |est − exact| ≤ 5·RSE·(est_A + est_B) (variance of the I-E sum)."""
    from .agg import ExaLogLogSpec, hash64_values, sketch_agg
    from .rollup import estimate_intersection

    spec = ExaLogLogSpec(2, 20, 10)
    words = _words(spark, sf_dir).withColumn("h", F.xxhash64("word")).persist()
    states = {
        r.source: bytes(r.sketch)
        for r in sketch_agg(
            words.filter(F.col("source").isin("src0", "src1")),
            spec,
            hash64_values("h"),
            by=["source"],
        ).collect()
    }
    est = estimate_intersection(spec, states["src0"], states["src1"])
    est_a = spec.finalize(spec.deserialize(states["src0"]))
    est_b = spec.finalize(spec.deserialize(states["src1"]))
    exact = (
        words.filter(F.col("source") == "src0").select("word").distinct()
        .intersect(words.filter(F.col("source") == "src1").select("word").distinct())
        .count()
    )
    tol = 5 * spec.theoretical_rse() * (est_a + est_b)
    return spark.createDataFrame(
        [(int(exact), bool(abs(est - exact) <= tol))],
        "exact_common_words long, within_bound boolean",
    )


# ---------------------------------------------------------------------------
# companion-sketch queries with in-query bound verification (oracle-checked)
# ---------------------------------------------------------------------------


_QUANTILE_GRID = [0.1, 0.25, 0.5, 0.75, 0.9]


def _quantile_bound_rows(docs, ests, qs=_QUANTILE_GRID, tol=0.05):
    """Single-pass verification of sketch quantile estimates: ONE ``agg``
    computes the row count, every ``rank(v <= est_q)`` conditional sum, and
    all exact percentiles (``percentile(v, array(...))``) together — one
    Spark job, not 2 + 2·len(qs) like a per-quantile filter/count loop."""
    agg_cols = [F.count(F.lit(1)).alias("n")]
    agg_cols += [
        F.sum((F.col("v") <= float(e)).cast("long")).alias(f"le{i}")
        for i, e in enumerate(ests)
    ]
    agg_cols.append(
        F.expr(f"percentile(v, array({','.join(str(q) for q in qs)}))").alias("exacts")
    )
    row = docs.agg(*agg_cols).collect()[0]
    n = max(int(row.n), 1)
    return [
        (
            q,
            round(float(row.exacts[i]), 6),
            bool(abs(int(row[f"le{i}"]) / n - q) <= tol),
        )
        for i, q in enumerate(qs)
    ]


def kll_nchars_quantiles_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL(k=200) quantiles of documents.n_chars: output carries the exact
    type-7 quantiles (oracle-computable) and a flag that every KLL estimate
    lands within 0.05 normalized rank of its target (the published KLL
    rank-error bound at k=200 is ~1.33·a/k << 0.05)."""
    import numpy as np

    from .agg import float_values, sketch_agg
    from .specs import KLLSpec

    docs = _docs(spark, sf_dir).select(F.col("n_chars").cast("double").alias("v"))
    spec = KLLSpec(k=200)
    row = sketch_agg(docs, spec, float_values("v")).collect()[0]
    sk = spec.deserialize(bytes(row.sketch))
    ests = sk.quantile(np.array(_QUANTILE_GRID))
    data = _quantile_bound_rows(docs, ests)
    return spark.createDataFrame(data, "q double, exact_quantile double, within_rank_tol boolean")


def tdigest_nchars_quantiles_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest(δ=200) version of the quantile bound check."""
    import numpy as np

    from .agg import float_values, sketch_agg
    from .specs import TDigestSpec

    docs = _docs(spark, sf_dir).select(F.col("n_chars").cast("double").alias("v"))
    spec = TDigestSpec(delta=200)
    row = sketch_agg(docs, spec, float_values("v")).collect()[0]
    td = spec.deserialize(bytes(row.sketch))
    ests = td.quantile(np.array(_QUANTILE_GRID))
    data = _quantile_bound_rows(docs, ests)
    return spark.createDataFrame(data, "q double, exact_quantile double, within_rank_tol boolean")


def cms_heavy_hitters_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min top words: output = exact top-10 (word, cnt) + flag that the
    CMS estimate covers it within the eps*N overcount bound. Item ids are
    JVM-side xxhash64(word) (codegen; no per-row Python anywhere)."""
    import numpy as np

    from ..sketchlib.bitops import splitmix64
    from .agg import hash64_values, sketch_agg
    from .specs import CountMinSpec

    words = _words(spark, sf_dir).withColumn("h", F.xxhash64("word"))
    exact_top = (
        words.groupBy("word", "h").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word")).limit(10)
    ).collect()
    spec = CountMinSpec(width=8192, depth=5, track=256)
    row = sketch_agg(words, spec, hash64_values("h")).collect()[0]
    cm, _cand = spec.deserialize(bytes(row.sketch))
    n_total = int(row.n_values)
    eps = float(np.e / 8192)
    data = []
    for r in exact_top:
        wid = np.array([r.h], dtype=np.int64)
        est = int(cm.query(splitmix64(wid.view(np.uint64)))[0])
        ok = est >= r.cnt and (est - r.cnt) <= 2 * eps * n_total
        data.append((r.word, int(r.cnt), bool(ok)))
    return spark.createDataFrame(data, "word string, cnt long, within_bound boolean")


def bloom_membership_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over src0 documents' digests: zero false negatives
    (guaranteed) + false-positive rate below 3x the (1-e^{-kn/m})^k formula.

    Scale design: the filter BUILD is the distributed ``sketch_agg`` path;
    the VERIFICATION broadcasts the serialized filter bytes (KB-sized) and
    checks membership inside ``mapInArrow``, emitting only per-batch count
    triples (members, false_negs, fps) that a single ``agg`` sums — no data
    column ever reaches the driver, so this runs unchanged at 10^12 docs.
    """
    from .agg import hash64_values, sketch_agg
    from .specs import BloomSpec

    docs = _docs(spark, sf_dir)
    members = docs.filter(F.col("source") == "src0").select(
        F.xxhash64("text").alias("h")
    )
    spec = BloomSpec(num_bits=1 << 18, num_hashes=7)
    row = sketch_agg(members, spec, hash64_values("h")).collect()[0]
    filter_bytes = bytes(row.sketch)
    bc = spark.sparkContext.broadcast(filter_bytes)

    all_h = docs.select(
        F.xxhash64("text").alias("h"),
        (F.col("source") == "src0").alias("is_member"),
    )

    def check(batches):
        import numpy as np
        import pyarrow as pa

        bf = spec.deserialize(bc.value)
        for b in batches:
            h = b.column("h").to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
            is_m = b.column("is_member").to_numpy(zero_copy_only=False).astype(bool)
            hit = bf.contains_hashes(h) if len(h) else np.zeros(0, dtype=bool)
            yield pa.record_batch(
                {
                    "n_members": pa.array([int(is_m.sum())], pa.int64()),
                    "n_false_neg": pa.array([int((is_m & ~hit).sum())], pa.int64()),
                    "n_fp": pa.array([int((~is_m & hit).sum())], pa.int64()),
                    "n_non_members": pa.array([int((~is_m).sum())], pa.int64()),
                }
            )

    counts = all_h.mapInArrow(
        check,
        schema="n_members long, n_false_neg long, n_fp long, n_non_members long",
    ).agg(
        F.sum("n_members").alias("m"),
        F.sum("n_false_neg").alias("fn"),
        F.sum("n_fp").alias("fp"),
        F.sum("n_non_members").alias("nm"),
    ).collect()[0]
    n_members = int(counts.m or 0)
    no_false_neg = int(counts.fn or 0) == 0
    fpr = (int(counts.fp or 0) / counts.nm) if counts.nm else 0.0
    fpr_ok = fpr <= 3 * spec.cfg.expected_fpr(max(n_members, 1)) + 0.001
    return spark.createDataFrame(
        [(n_members, bool(no_false_neg), bool(fpr_ok))],
        "members long, no_false_negatives boolean, fpr_within_bound boolean",
    )


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text analysis
# ---------------------------------------------------------------------------


def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (md5) dedup accounting per source: docs, unique contents,
    duplicate docs that keep-first dedup would remove."""
    from .dedup import with_content_digest

    d = with_content_digest(_docs(spark, sf_dir))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.count_distinct("content_digest").alias("unique_contents"),
        (F.count(F.lit(1)) - F.count_distinct("content_digest")).alias("removed_by_dedup"),
    )


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)/LSH(4 bands x 2) near-duplicate candidate pairs over the
    word sets (hex-string minhashes — bit-identical to the SQL oracle)."""
    from .dedup import lsh_candidate_pairs, minhash_signatures

    words = _words(spark, sf_dir)
    sigs = minhash_signatures(words)
    return lsh_candidate_pairs(sigs)


def jaccard_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard >= 0.8 pairs among MinHash-LSH candidates (exact
    verification stage of the near-dup pipeline; oracle-checked)."""
    from .dedup import jaccard_verified_pairs, lsh_candidate_pairs, minhash_signatures

    words = _words(spark, sf_dir)
    cands = lsh_candidate_pairs(minhash_signatures(words))
    return jaccard_verified_pairs(words, cands, threshold=0.8)


def near_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    Jaccard >= 0.8 pair graph — the unit a dedup pipeline actually keeps
    one representative of. Output: (component = min doc_id reachable,
    members). Spark side is iterative min-label propagation
    (dedup.connected_components); the DuckDB oracle computes the same
    components with a recursive transitive-closure CTE."""
    from .dedup import connected_components

    pairs = jaccard_near_duplicates(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.groupBy("component").agg(F.count(F.lit(1)).alias("members"))


def near_duplicate_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of the near-dup dedup DECISION: how many docs
    survive keep-first (component representative = min doc_id) vs get
    dropped. The terminal op of the fuzzy-dedup pipeline — what a training
    -data build actually executes (dedup.drop_near_duplicates: broadcast
    anti-join of the loser list against the corpus; one scan, no shuffle).
    Oracle recomputes the components with a recursive transitive-closure
    CTE and the same keep-first rule."""
    from .dedup import connected_components, drop_near_duplicates

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    pairs = jaccard_near_duplicates(spark, sf_dir)
    comp = connected_components(pairs)
    kept = drop_near_duplicates(docs, comp).groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs")
    )
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"))
        .join(kept, "source", "left")  # a source whose docs are ALL dropped
        # still gets a row (kept_docs=0), matching the oracle's LEFT JOIN
        .select(
            "source",
            "docs",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            (F.col("docs") - F.coalesce("kept_docs", F.lit(0))).alias("dropped_near_dups"),
        )
    )


def ngram_jaccard_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware near-dup pairs: 3-word-shingle sets through the SAME
    MinHash/LSH/exact-Jaccard pipeline (threshold 0.8). Word-set Jaccard is
    order-blind ('a b c' == 'c b a'); shingle Jaccard is the n-gram dedup
    unit the brief calls for. One parameter swap — the pipeline machinery
    is shared, so every scale property (bucket cap, persisted band table,
    array_intersect verification) carries over."""
    from .dedup import jaccard_verified_pairs, lsh_candidate_pairs, minhash_signatures

    # the shingle explosion is the expensive per-row stage and feeds BOTH
    # branches (signature build + word-set verification) — materialize it
    # once. Lazy localCheckpoint instead of persist (r6): same one-pass
    # materialization folded into the first consumer job, but the reread
    # avoids the InMemoryRelation's columnar compress/decompress on these
    # wide string rows and the downstream plans truncate — interleaved A/B
    # 2.10 -> 1.61 s min (2.53 -> 1.73 med) for the full ngram query at
    # sf0.1, rows identical (same fault-tolerance trade as the band
    # tables, ops/dedup.py).
    shingles = _shingles(spark, sf_dir, n=3).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(minhash_signatures(shingles))
    return jaccard_verified_pairs(shingles, cands, threshold=0.8)


def mass_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band buckets above the quadratic-blowup cap: the mass-duplicate
    clusters the star-edge path links linearly instead of all-pairs
    (ops/dedup._cap_bucket_size). Output: one row per oversized (band,
    bucket) with its hub (min doc_id) and member count — the dedup-pipeline
    observability surface for 'how much did the cap reroute'. Cap is set
    low here so sf0.01 exercises the path; production uses 2000."""
    from .dedup import band_table, minhash_signatures

    cap = 200
    sigs = minhash_signatures(_words(spark, sf_dir))
    exploded = band_table(sigs)  # THE banding convention (shared helper)
    return (
        exploded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("members"), F.min("doc_id").alias("hub"))
        .filter(F.col("members") > cap)
    )


def embedding_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4 over unit-noise 64-d vectors ~ 3.2 sigma), exact over the
    embeddings table (at 10^12 scale the LSH/IVF bucketing in
    ops/similarity.py prunes the pair space; semantics identical)."""
    emb = _spread(
        _read_pq(spark, f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 1000)  # bounded sample for the exact pass
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    from .similarity import _norm_expr

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (_norm_expr("ea") * _norm_expr("eb"))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
    )


def simhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (hamming <= 3 via 16-bit banding); bits
    derived from md5 nibbles so the DuckDB oracle reproduces the pipeline
    exactly (see dedup._simhash_chunk_cols for the shared bit convention)."""
    from .dedup import simhash_near_pairs, simhash_signatures

    return simhash_near_pairs(simhash_signatures(_words(spark, sf_dir)))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 neighbors for query vectors vec_id<3."""
    from .similarity import cosine_topk

    emb = _spread(_read_pq(spark, f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    return cosine_topk(emb, queries, k=5)


def checkpoint_resume_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule reliability gate: bucket-granular resume is byte-exact.
    Builds per-source sketches with lineage checkpoints, deletes one bucket,
    reruns (only the missing bucket recomputes), and compares final states
    byte-for-byte. The oracle recomputes per-source token volumes from the
    parquet twin and asserts the resume flag."""
    import os
    import shutil
    import tempfile

    from .agg import token_array_values
    from .checkpoints import checkpointed_sketch_agg

    spec = ExaLogLogSpec(2, 20, 8)
    path = tok.materialize_token_table(_sf_name(sf_dir))
    ck = tempfile.mkdtemp(prefix="ellck_")
    try:
        first = {
            r.source: (bytes(r.sketch), int(r.n_values))
            for r in checkpointed_sketch_agg(
                spark, path, spec, token_array_values("tokens"), ck,
                by=["source"], num_buckets=4,
            ).collect()
        }
        shutil.rmtree(os.path.join(ck, "bucket=2"))
        second = {
            r.source: (bytes(r.sketch), int(r.n_values))
            for r in checkpointed_sketch_agg(
                spark, path, spec, token_array_values("tokens"), ck,
                by=["source"], num_buckets=4,
            ).collect()
        }
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    rows = [
        (src, n, bool(second.get(src) == (state, n)))
        for src, (state, n) in sorted(first.items())
    ]
    return spark.createDataFrame(
        rows, "source string, total_tokens long, resume_byte_identical boolean"
    )


def streaming_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of the flagship: availableNow micro-batched
    stream over the materialized token parquet, per-source stateful sketches
    via applyInPandasWithState (streaming/stateful.py). Emits per source the
    exact token volume plus a flag that the streamed final estimate equals
    the batch pipeline's bit-for-bit (same kernel, same states); the oracle
    recomputes the volumes from the same parquet and asserts the parity."""
    import uuid

    from ..streaming.stateful import streaming_distinct_sketch

    import os

    spec = ExaLogLogSpec(2, 20, 8)
    path = tok.materialize_token_table(_sf_name(sf_dir))
    # the file streaming source requires a directory; hard-link the twin in
    stream_dir = path + ".dir"
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "part-0.parquet")
    if not os.path.exists(link):
        os.link(path, link)
    name = f"stream_parity_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(tok.TOKEN_TABLE_SCHEMA)
        .parquet(stream_dir)
        .selectExpr("source AS key", "tokens")
        .groupBy("key")
    )
    q = (
        streaming_distinct_sketch(stream, spec)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # update-mode memory sink: later rows supersede; dict keeps the last
    got = {
        r.key: (r.estimate, r.n_values)
        for r in spark.sql(f"select key, estimate, n_values from {name}").collect()
    }
    batch = with_estimate(
        sketch_agg(
            spark.read.parquet(path), spec, token_array_values("tokens"), by=["source"]
        ),
        spec,
    ).collect()
    rows = [
        (r.source, int(r.n_values), bool(got.get(r.source) == (r.estimate, r.n_values)))
        for r in batch
    ]
    return spark.createDataFrame(
        rows, "source string, total_tokens long, stream_equals_batch boolean"
    )


def multimodal_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline stats per kind: blob volume, video
    frame-sampling output size, and unit-norm check of the (stubbed) decoded
    feature vectors. The media table is deterministic and materialized for
    the DuckDB oracle, which recomputes counts/bytes/frame-cardinality from
    the same parquet (frame count follows the byte-window formula of
    ops/multimodal.sample_frames)."""
    from .multimodal import (
        decode_and_featurize,
        materialize_media_table,
        sample_frames,
        synth_media_table,
    )

    materialize_media_table()
    media = synth_media_table(spark, 2_000).cache()
    feats = decode_and_featurize(media, dim=64, fake_codec=True)
    sq_norm = F.aggregate(
        "features", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    norm_ok = feats.groupBy("kind").agg(
        F.min((F.abs(sq_norm - 1.0) < 1e-3).cast("int")).alias("norm_ok_int")
    )
    frames = (
        sample_frames(media)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("video_frames"))
        .withColumn("kind", F.lit("video"))
    )
    base = media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.length("blob")).alias("total_bytes"),
    )
    return (
        base.join(norm_ok, "kind")
        .join(frames, "kind", "left")
        .select(
            "kind",
            "n_media",
            "total_bytes",
            F.coalesce("video_frames", F.lit(0)).alias("frames_sampled"),
            (F.col("norm_ok_int") == 1).alias("feat_norm_ok"),
        )
    )


def ivf_ann_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (16-cell deterministic k-means coarse quantizer, nprobe=12)
    recall@10 vs exact brute force, per query vector; the oracle asserts
    recall >= 0.5 for every query (measured min 0.6 on the unit-noise
    synthetic embeddings — weak cluster structure is the hard case for IVF).
    This is the 100TB-scale ANN path: the table is partitioned by ivf_cell
    so probing prunes whole files."""
    from .similarity import cosine_topk, ivf_cosine_topk, train_ivf_centroids

    emb = _spread(_read_pq(spark, f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb = emb.cache()
    queries = emb.filter(F.col("vec_id") < 5)
    cent = train_ivf_centroids(emb, n_centroids=16)
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = ivf_cosine_topk(emb, queries, k=10, centroids=cent, nprobe=12).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    hit = exact.join(
        approx,
        (exact["query_id"] == approx["a_qid"]) & (exact["neighbor_id"] == approx["a_nid"]),
        "left",
    )
    return hit.groupBy("query_id").agg(
        (
            F.sum(F.when(F.col("a_nid").isNotNull(), 1).otherwise(0)) / F.count(F.lit(1))
            >= 0.5
        ).alias("recall_ok")
    )


def lsh_ann_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN (8 deterministic hyperplanes, probe buckets
    within hamming<=4) recall@10 vs exact brute force, per query vector;
    the oracle asserts recall >= 0.5 per query (measured min 0.6 at this
    probe depth on the unit-noise synthetic embeddings — unstructured
    random vectors are sign-LSH's hard case, same as IVF's nprobe=12/16;
    real embedding spaces cluster and prune far harder). This is the
    bucket-pruned scan path for spaces where IVF's coarse quantizer fits
    poorly; `dim` is passed explicitly so bucketing adds zero driver
    jobs."""
    from .similarity import cosine_topk, lsh_cosine_topk

    emb = _spread(_read_pq(spark, f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb = emb.cache()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = lsh_cosine_topk(
        emb, queries, k=10, nbits=8, probe_hamming=4, dim=64
    ).select(F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid"))
    hit = exact.join(
        approx,
        (exact["query_id"] == approx["a_qid"]) & (exact["neighbor_id"] == approx["a_nid"]),
        "left",
    )
    return hit.groupBy("query_id").agg(
        (
            F.sum(F.when(F.col("a_nid").isNotNull(), 1).otherwise(0)) / F.count(F.lit(1))
            >= 0.5
        ).alias("recall_ok")
    )


def incremental_update_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch-table maintenance is byte-exact: two increments
    (a deterministic hash-split of the token table) folded into a
    versioned sketch table must equal a one-shot build over the full
    table, state-byte-for-state-byte per source — the daily-pipeline
    pattern where history is never rescanned. The oracle recomputes
    per-source token volumes from the parquet twin and asserts the flag."""
    import shutil
    import tempfile

    from .agg import sketch_agg, token_array_values
    from .sketch_table import read_sketch_table, update_sketch_table

    spec = ExaLogLogSpec(2, 20, 8)
    path = tok.materialize_token_table(_sf_name(sf_dir))
    tdf = spark.read.parquet(path)
    halves = [
        tdf.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == i) for i in (0, 1)
    ]
    tdir = tempfile.mkdtemp(prefix="ellinc_")
    try:
        for h in halves:
            update_sketch_table(
                spark,
                tdir,
                sketch_agg(h, spec, token_array_values("tokens"), by=["source"]),
                spec,
                by=["source"],
            )
        incr = {
            r.source: (bytes(r.sketch), int(r.n_values))
            for r in read_sketch_table(spark, tdir).collect()
        }
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    full = {
        r.source: (bytes(r.sketch), int(r.n_values))
        for r in sketch_agg(
            tdf, spec, token_array_values("tokens"), by=["source"]
        ).collect()
    }
    rows = [
        (src, n, bool(incr.get(src) == (state, n)))
        for src, (state, n) in sorted(full.items())
    ]
    return spark.createDataFrame(
        rows, "source string, total_tokens long, incremental_byte_identical boolean"
    )


def snapshot_time_travel_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-committed sketch table (Iceberg semantics on plain files,
    ops/snapshot_table.py): two increments committed as snapshots must
    (a) end byte-identical to a one-shot build over the full table,
    (b) time-travel — reading snapshot 1 after BOTH commits must be
    byte-identical to a one-shot build over increment 1 alone (immutable
    manifests), and (c) carry honest lineage — the final snapshot's
    recorded total_values equals the table's exact token volume. The
    oracle recomputes per-source volumes from the parquet twin and
    asserts all three flags."""
    import shutil
    import tempfile

    from .agg import sketch_agg, token_array_values
    from .snapshot_table import (
        read_snapshot_table,
        snapshot_history,
        update_snapshot_table,
    )

    spec = ExaLogLogSpec(2, 20, 8)
    path = tok.materialize_token_table(_sf_name(sf_dir))
    tdf = spark.read.parquet(path)
    halves = [
        tdf.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == i) for i in (0, 1)
    ]
    tdir = tempfile.mkdtemp(prefix="ellsnap_")
    try:
        for i, h in enumerate(halves):
            update_snapshot_table(
                spark,
                tdir,
                sketch_agg(h, spec, token_array_values("tokens"), by=["source"]),
                spec,
                by=["source"],
                lineage={"increment": f"half-{i}"},
            )
        final = {
            r.source: (bytes(r.sketch), int(r.n_values))
            for r in read_snapshot_table(spark, tdir).collect()
        }
        snap1 = {
            r.source: (bytes(r.sketch), int(r.n_values))
            for r in read_snapshot_table(spark, tdir, snapshot_id=1).collect()
        }
        hist = snapshot_history(tdir)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    full = {
        r.source: (bytes(r.sketch), int(r.n_values))
        for r in sketch_agg(
            tdf, spec, token_array_values("tokens"), by=["source"]
        ).collect()
    }
    half0 = {
        r.source: (bytes(r.sketch), int(r.n_values))
        for r in sketch_agg(
            halves[0], spec, token_array_values("tokens"), by=["source"]
        ).collect()
    }
    lineage_ok = bool(
        hist[-1]["summary"]["total_values"] == sum(n for _, n in full.values())
        and hist[0]["summary"]["total_values"] == sum(n for _, n in half0.values())
        and [s["lineage"]["increment"] for s in hist] == ["half-0", "half-1"]
    )
    rows = [
        (
            src,
            n,
            bool(final.get(src) == (state, n)),
            bool(snap1.get(src) == half0.get(src)),
            lineage_ok,
        )
        for src, (state, n) in sorted(full.items())
    ]
    return spark.createDataFrame(
        rows,
        "source string, total_tokens long, final_byte_identical boolean, "
        "time_travel_byte_identical boolean, lineage_totals_ok boolean",
    )


def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated text-quality features per source (exact; oracle-checked).

    Hash-stable by construction: every ratio is ONE division of exact
    integer sums (order-independent in any engine), rounded once — never
    avg() over per-doc doubles, whose partial-aggregation order is
    partition-nondeterministic in the last ulp.
    """
    from .textstats import with_text_features

    feats = with_text_features(_docs(spark, sf_dir))
    tw = F.sum("n_words").cast("long")
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        tw.alias("total_words"),
        F.round(tw / F.count(F.lit(1)), 6).alias("avg_words"),
        F.round(
            F.sum("word_chars").cast("long") / F.greatest(tw, F.lit(1)), 6
        ).alias("mean_word_len"),
        F.round(
            F.sum("n_distinct_words").cast("long") / F.greatest(tw, F.lit(1)), 6
        ).alias("distinct_word_ratio"),
    )


def token_count_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish approximate token counts per source (words + punctuation
    runs; pure JVM expressions). Hash-stable: one division of exact integer
    sums, rounded once (same rule as text_quality_by_source)."""
    from .textstats import bpe_ish_token_count

    d = bpe_ish_token_count(_docs(spark, sf_dir))
    tot = F.sum("approx_tokens").cast("long")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        tot.alias("total_approx_tokens"),
        F.round(tot / F.count(F.lit(1)), 6).alias("avg_approx_tokens"),
    )


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the metadata lang column (counts)."""
    from .textstats import predicted_lang

    return (
        predicted_lang(_docs(spark, sf_dir))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/duplication-robust content fingerprints: distinct-word-set md5
    groups with >1 doc (near-exact dedup beyond byte identity)."""
    from .textstats import doc_fingerprint

    fp = doc_fingerprint(_docs(spark, sf_dir))
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keeper"))
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# token-table queries (synthetic input_hint table; rows-only driver check)
# ---------------------------------------------------------------------------


def _sf_name(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("/", 1)[-1]


def ell_distinct_tokens_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-source approximate distinct-token counts over the
    (doc_id, tokens, n_tok, source) table with ExaLogLog(2,20,10).

    Oracle-checkable end to end: the deterministic table is materialized to
    parquet for DuckDB, which recomputes total/exact-distinct tokens per
    source; ``within_bound`` asserts |est/exact - 1| <= 5*RSE."""
    spec = ExaLogLogSpec(2, 20, 10)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    out = sketch_agg(df, spec, token_array_values("tokens"), by=["source"])
    est = with_estimate(out, spec).select(
        "source", F.col("n_values").alias("total_tokens"), "estimate"
    )
    exact = (
        df.select("source", F.explode("tokens").alias("t"))
        .groupBy("source")
        .agg(F.count_distinct("t").alias("exact_distinct_tokens"))
    )
    bound = 5 * spec.theoretical_rse()
    return est.join(exact, "source").select(
        "source",
        "total_tokens",
        "exact_distinct_tokens",
        (
            F.abs(F.col("estimate") / F.col("exact_distinct_tokens") - 1) <= F.lit(bound)
        ).alias("within_bound"),
    )


def salted_vs_mapside_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking: the salted-shuffle aggregation path must produce
    byte-identical per-source states to the map-side partial path (explicit
    skew-mitigation correctness; the oracle independently recounts the
    source groups from the materialized parquet twin)."""
    from .agg import ExaLogLogSpec, sketch_agg, sketch_agg_salted, token_array_values

    spec = ExaLogLogSpec(2, 20, 8)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    a = {
        r.source: bytes(r.sketch)
        for r in sketch_agg(df, spec, token_array_values("tokens"), by=["source"]).collect()
    }
    b = {
        r.source: bytes(r.sketch)
        for r in sketch_agg_salted(
            df, spec, token_array_values("tokens"), by=["source"],
            salt_col="doc_id", n_salts=8,
        ).collect()
    }
    return spark.createDataFrame(
        [(len(a), a == b)], "sources long, states_identical boolean"
    )


def sketch_rollup_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-native rollup: per-source + grand-total distinct-token
    estimates derived from ONE pass (coarser level re-merged from finer
    sketch rows, no rescan)."""
    from .agg import ExaLogLogSpec, sketch_agg, token_array_values, with_estimate
    from .rollup import sketch_rollup

    spec = ExaLogLogSpec(2, 20, 10)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    fine = sketch_agg(df, spec, token_array_values("tokens"), by=["source"])
    levels = sketch_rollup(fine, spec, [("source",), ()])
    est = with_estimate(levels, spec).select(
        "source", "level", F.col("n_values").alias("total_tokens"), "estimate"
    )
    exact = (
        df.select("source", F.explode("tokens").alias("t"))
        .rollup("source")
        .agg(
            F.count_distinct("t").alias("exact_distinct_tokens"),
            F.grouping("source").cast("int").alias("e_level"),
        )
        .select(F.col("source").alias("e_source"), "e_level", "exact_distinct_tokens")
    )
    bound = 5 * spec.theoretical_rse()
    return est.join(
        exact,
        est["source"].eqNullSafe(exact["e_source"]) & (est["level"] == exact["e_level"]),
    ).select(
        "source",
        "level",
        "total_tokens",
        "exact_distinct_tokens",
        (
            F.abs(F.col("estimate") / F.col("exact_distinct_tokens") - 1) <= F.lit(bound)
        ).alias("within_bound"),
    )


def sparse_distinct_tokens_per_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-mode hybrid sketch on a small sample: per-row sketch-free
    token estimates vs exact per-row distinct counts (all within 2%)."""
    from .functions import token_stream_estimate

    tok.materialize_token_table(_sf_name(sf_dir))
    # deterministic sample: zero-padded doc_ids make this a stable prefix cut
    df = tok.token_table_for_sf_dir(spark, sf_dir).filter(
        F.col("doc_id") < "doc-0000000200"
    )
    # per-row: tokens -> element hashes -> ExaLogLog tokens -> estimate
    hashed = df.select(
        "doc_id",
        F.expr("transform(tokens, x -> xxhash64(x))").alias("hs"),
        F.size(F.array_distinct("tokens")).alias("exact_distinct"),
    )
    ests = hashed.select(
        "doc_id",
        "exact_distinct",
        token_stream_estimate(
            _tokens_of_hashes_col(F.col("hs"))
        ).alias("est"),
    )
    return ests.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum((F.abs(F.col("est") / F.col("exact_distinct") - 1) > 0.02).cast("long")).alias(
            "rows_outside_2pct"
        ),
    )


def _tokens_of_hashes_col(col):
    """array<long> of hashes -> array<int> of ExaLogLog tokens (Arrow UDF)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    from ..sketchlib.exaloglog import compute_token

    def f(s):
        def conv(arr):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            return compute_token(h).astype(np.uint32).view(np.int32)

        return s.map(conv)

    return F.pandas_udf(f, ArrayType(IntegerType()))(col)


def token_passthrough_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row invariant vs reference (BASELINE.json input_hint): the tokens
    array passes through the engine bit-identically and n_tok == len(tokens).

    The engine's distributed table is full-outer-joined row-by-row against
    the materialized parquet copy (the same file the DuckDB oracle reads), so
    ``bad_tokens`` counts any array<int32> that survives Spark scan/shuffle
    non-identically. All violation counts must be zero."""
    path = tok.materialize_token_table(_sf_name(sf_dir))
    gen = tok.token_table_for_sf_dir(spark, sf_dir)
    ref = spark.read.parquet(path).select(
        "doc_id",
        F.col("tokens").alias("ref_tokens"),
        F.col("n_tok").alias("ref_n_tok"),
    )
    j = gen.join(ref, "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.when(F.size("tokens").eqNullSafe(F.col("n_tok")), 0).otherwise(1)
        ).alias("bad_len"),
        F.sum(
            F.when(
                F.col("tokens").eqNullSafe(F.col("ref_tokens"))
                & F.col("n_tok").eqNullSafe(F.col("ref_n_tok")),
                0,
            ).otherwise(1)
        ).alias("bad_tokens"),
    )


def martingale_distinct_tokens_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source martingale (HIP) distinct-token estimate within its
    published error bound — the reference's SECOND estimator exercised as a
    query operator, not only in unit tests.

    The martingale is order-dependent and explicitly per-stream
    (MartingaleEstimator.java javadoc: not for distributed merging), so the
    operator scope is one sequential stream per group: ``applyInPandas``
    over sources, each group's token arrays concatenated in doc_id order
    and fed through the vectorized first-hit replay
    (sketchlib.replay.martingale_estimate_stream — batch-speed, pinned to
    the per-element add(long, MartingaleEstimator) semantics). The oracle
    recomputes exact per-source distinct tokens from the parquet twin;
    ``martingale_within_bound`` asserts |est/exact - 1| <= 5*RSE_mart with
    RSE_mart = 0.019858·sqrt(256/2^p) (≙ the published martingale RSE
    constant, martingale_theoretical_relative_standard_error_constants)."""
    import numpy as np
    import pandas as pd

    from ..sketchlib.bitops import splitmix64
    from ..sketchlib.constants import theoretical_rse_martingale
    from ..sketchlib.replay import martingale_estimate_stream

    t_, d_, p_ = 2, 20, 8
    bound = 5 * theoretical_rse_martingale(t_, d_, p_)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)

    def est_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # Group-concatenation form: holds ONE group's token arrays in
        # memory — small-group-only by contract. For unbounded streams use
        # ops.functions.martingale_partition_estimates (bounded-memory
        # per-partition StreamingFirstHits).
        pdf = pdf.sort_values("doc_id")  # deterministic stream order
        arrays = [np.asarray(a) for a in pdf["tokens"]]
        flat = (
            np.concatenate(arrays) if arrays else np.empty(0, np.int64)
        )
        if flat.size == 0:
            # all-empty group: estimator and exact count agree at 0
            return pd.DataFrame(
                {
                    "source": [pdf["source"].iloc[0]],
                    "total_tokens": [0],
                    "exact_distinct_tokens": [0],
                    "martingale_within_bound": [True],
                }
            )
        # same value->hash mapping as the sketch pipeline (ops/agg.py)
        h = splitmix64(flat.astype(np.int64, copy=False).view(np.uint64))
        est = martingale_estimate_stream(h, t_, d_, p_)
        exact = int(pd.unique(flat).size)
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "total_tokens": [int(pdf["n_tok"].sum())],
                "exact_distinct_tokens": [exact],
                "martingale_within_bound": [abs(est / exact - 1.0) <= bound],
            }
        )

    return (
        df.groupBy("source")
        .applyInPandas(
            est_group,
            "source string, total_tokens long, exact_distinct_tokens long, "
            "martingale_within_bound boolean",
        )
        .orderBy("source")
    )


def martingale_partition_stream_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket martingale (HIP) estimates through the BOUNDED-MEMORY
    per-partition path — the scale form of
    :func:`martingale_distinct_tokens_bound`'s group concatenation.

    The token table is repartitioned on an md5-derived bucket (first hex
    nibble of md5(doc_id) mod 8 — engine-portable, the DuckDB oracle
    recomputes the identical split), sorted (bucket, doc_id) within
    partitions for a deterministic stream order, and each task feeds its
    Arrow batches chunk-by-chunk through one
    sketchlib.replay.StreamingFirstHits accumulator per bucket: task state
    is O(buckets_in_task · m·K), NEVER the partition's tokens, so the
    operator survives arbitrarily long streams. Hash partitioning sends
    every bucket to exactly one task, so the per-bucket estimates are
    partition-layout independent. The martingale stays strictly sequential
    per stream, exactly as the reference prescribes
    (MartingaleEstimator.java:32-35: not for distributed merging).

    ``martingale_within_bound`` asserts |est/exact - 1| <= 5*RSE_mart, the
    published martingale RSE for (2,20,8)."""
    import numpy as np
    import pyarrow as pa

    from ..sketchlib.constants import theoretical_rse_martingale
    from ..sketchlib.replay import StreamingFirstHits, _event_luts
    from .agg import token_array_values

    t_, d_, p_ = 2, 20, 8
    n_buckets = 8
    bound = 5 * theoretical_rse_martingale(t_, d_, p_)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id")), 1, 1), 16, 10).cast("int"),
        F.lit(n_buckets),
    ).cast("int")
    tb = df.withColumn("bucket", bucket)
    extractor = token_array_values("tokens")

    def run(batches):
        luts = _event_luts(t_, d_, p_)
        accs: dict[int, StreamingFirstHits] = {}
        for batch in batches:
            values, lengths = extractor(batch)
            buckets = batch.column("bucket").to_numpy(zero_copy_only=False)
            if len(buckets) == 0:
                continue
            tok_off = np.r_[0, np.cumsum(lengths)]
            change = np.flatnonzero(np.diff(buckets)) + 1
            starts = np.r_[0, change]
            ends = np.r_[change, len(buckets)]
            for s, e in zip(starts, ends):
                b = int(buckets[s])
                acc = accs.get(b)
                if acc is None:
                    acc = accs[b] = StreamingFirstHits(t_, d_, p_, luts)
                acc.update(values[tok_off[s] : tok_off[e]])
        if accs:
            bs = sorted(accs)
            yield pa.RecordBatch.from_pydict(
                {
                    "bucket": pa.array(bs, type=pa.int32()),
                    "total_tokens": pa.array(
                        [accs[b].n for b in bs], type=pa.int64()
                    ),
                    "martingale_estimate": pa.array(
                        [accs[b].martingale_estimate() for b in bs],
                        type=pa.float64(),
                    ),
                }
            )

    est = (
        tb.select("bucket", "doc_id", "tokens")
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "doc_id")
        .mapInArrow(
            run, "bucket int, total_tokens long, martingale_estimate double"
        )
    )
    exact = (
        tb.select("bucket", F.explode("tokens").alias("t"))
        .groupBy("bucket")
        .agg(F.count_distinct("t").alias("exact_distinct_tokens"))
    )
    return (
        est.join(exact, "bucket")
        .select(
            "bucket",
            "total_tokens",
            "exact_distinct_tokens",
            (
                F.abs(
                    F.col("martingale_estimate") / F.col("exact_distinct_tokens")
                    - 1.0
                )
                <= bound
            ).alias("martingale_within_bound"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# training-data governance queries (oracle-checked)
# ---------------------------------------------------------------------------


def source_overlap_matrix_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-word overlap between EVERY source pair via sketch
    inclusion-exclusion, verified against the exact pairwise intersection
    counts.

    Scale shape: ONE grouped sketch aggregation (a single shuffle moving
    KB register states, `ops/agg.sketch_agg`) produces one ExaLogLog per
    source; the S*(S-1)/2 pairwise estimates are then pure driver-side
    folds over those KB states (`ops/rollup.estimate_intersection`) — no
    second pass over the data, no pairwise shuffle, O(S^2) work on KB
    inputs (fine to thousands of sources). The exact self-join on the
    distinct (source, word) table is the verification harness only; the
    production answer is the sketch matrix. Cited behavior:
    ExaLogLog.java merge + getDistinctCountEstimate (inclusion-exclusion
    is the documented composition of the two).

    The bound multiplier is calibrated against the variance of the I-E
    sum est_A + est_B - est_AuB (three correlated estimates; the union
    shares both operands' hash randomness, so 5·RSE·(est_A+est_B) is a
    conservative envelope — the same bound the single-pair
    intersection_distinct_words_bound query has pinned since round 2).
    """
    from itertools import combinations

    from .rollup import estimate_intersection

    spec = ExaLogLogSpec(2, 20, 10)
    words = _words(spark, sf_dir).withColumn("h", F.xxhash64("word")).persist()
    state_rows = sketch_agg(words, spec, hash64_values("h"), by=["source"]).collect()
    states = {r.source: bytes(r.sketch) for r in state_rows}
    ests = {s: spec.finalize(spec.deserialize(b)) for s, b in states.items()}
    rse = spec.theoretical_rse()
    pairs = [
        (
            a,
            b,
            float(estimate_intersection(spec, states[a], states[b])),
            float(5.0 * rse * (ests[a] + ests[b])),
        )
        for a, b in combinations(sorted(states), 2)
    ]
    estdf = spark.createDataFrame(pairs, "s1 string, s2 string, est double, tol double")
    dw = words.select("source", "word").distinct()
    exact = (
        dw.alias("a")
        .join(dw.alias("b"), "word")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        estdf.join(exact, ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            F.coalesce(F.col("common"), F.lit(0)).cast("long").alias("exact_common_words"),
            (
                F.abs(F.col("est") - F.coalesce(F.col("common"), F.lit(0)))
                <= F.col("tol")
            ).alias("within_bound"),
        )
        .orderBy("s1", "s2")
    )


def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose 5-gram
    shingle sets overlap a held-out benchmark set (the classic eval-leak
    check for LLM training corpora).

    The benchmark set is carved deterministically (first md5 nibble of
    doc_id == '0', ~1/16 of docs — portable across engines, CLAUDE.md's
    md5 convention); every non-benchmark doc is scored by
    |shingles(doc) ∩ shingles(benchmark)| / |shingles(doc)| and a source
    is summarized by its checked/flagged/contaminated doc counts and max
    overlap ratio.

    Scale shape: the benchmark shingle set is the SMALL side by contract
    (real benchmarks are a few thousand docs vs 10^12 training docs), so
    the probe is an explicitly broadcast LEFT join keyed on the shingle —
    no shuffle of the full training shingle table, no pairwise doc×doc
    work; the per-doc aggregation is a single groupBy(doc_id) whose input
    was already partitioned by the scan. Threshold 0.5 marks verbatim or
    near-verbatim leakage; ov > 0 is the audit trail.
    """
    n = 5
    sh = _shingles(spark, sf_dir, n=n, extra_cols=("source",)).withColumn(
        "bench",
        F.expr("instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1")
        == 0,
    )
    sh = sh.persist()
    bench_set = sh.filter(F.col("bench")).select("word").distinct().withColumn(
        "hit", F.lit(1)
    )
    cand = (
        sh.filter(~F.col("bench")).select("doc_id", "source", "word").distinct()
    )
    per_doc = (
        cand.join(F.broadcast(bench_set), "word", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("tot"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("ov"),
        )
        .withColumn("ratio", F.col("ov") / F.col("tot"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_checked"),
            F.sum((F.col("ov") > 0).cast("long")).alias("docs_flagged"),
            F.sum((F.col("ratio") >= 0.5).cast("long")).alias("docs_contaminated"),
            F.round(F.max("ratio"), 6).alias("max_overlap_ratio"),
        )
        .orderBy("source")
    )


def stable_sample_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling with cross-engine membership
    proof: keep a document iff the first md5 nibble of its doc_id is < 4
    (rate 1/4), per source.

    Reproducible splits are a training-pipeline primitive (holdout
    carving, ablation subsets, progressive scaling runs): the sampling
    rule is a pure function of the row key, so ANY engine — and any
    re-run over re-partitioned data — selects byte-identically the same
    rows. The output pins that: `sample_digest` is the md5 of the
    lexically sorted sampled id list, so the oracle comparison verifies
    sample MEMBERSHIP, not just counts.

    Scale shape: the predicate is a scan-level filter (no shuffle, no
    RNG state, trivially pushed past column pruning); the digest
    aggregation is per-source collect_list over the SAMPLED subset only
    — at production scale one would digest per (source, shard) and merge,
    but membership is already guaranteed by the key-pure predicate, so
    the digest is a verification artifact, not the scale path.
    """
    docs = _docs(spark, sf_dir)
    nib = F.expr(
        "instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1"
    )
    pop = docs.groupBy("source").agg(F.count(F.lit(1)).alias("population_docs"))
    samp = (
        docs.filter(nib < 4)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("sampled_docs"),
            F.md5(
                F.concat_ws(
                    ",", F.sort_array(F.collect_list(F.col("doc_id").cast("string")))
                )
            ).alias("sample_digest"),
        )
    )
    return (
        pop.join(samp, "source", "left")
        .select(
            "source",
            "population_docs",
            F.coalesce(F.col("sampled_docs"), F.lit(0)).cast("long").alias("sampled_docs"),
            F.coalesce(F.col("sample_digest"), F.md5(F.lit(""))).alias("sample_digest"),
        )
        .orderBy("source")
    )


def theta_set_ops_words_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native set-algebra estimates via the Theta/KMV companion sketch:
    distinct-shingle INTERSECTION and DIFFERENCE of the even- vs
    odd-doc_id corpus halves from two KB KMV states, verified against
    exact INTERSECT / EXCEPT counts.

    Where register-sketch inclusion-exclusion (the
    intersection_distinct_words_bound query) carries the UNION's error —
    useless for small overlaps — the KMV state is a uniform hash sample
    below theta, so intersection/difference errors scale with the result
    size itself: the bound here is 5·sigma with
    sigma = sqrt(n·(1-theta)/theta) (sketchlib/theta.estimate_set_ops).

    Scale shape: identical to every sketch query — one grouped
    sketch_agg (single KB-state shuffle), set algebra as a driver-side
    fold over two <=32 KB states; the exact INTERSECT/EXCEPT pass is the
    verification harness only.
    """
    from .specs import ThetaSpec

    spec = ThetaSpec(k=4096)
    # 3-gram shingle sets of the even- vs odd-doc_id halves of the corpus:
    # ~10k distinct shingles per side at sf0.01, so both KMV states
    # SATURATE (theta ~ 0.4) and the query exercises the sampling
    # estimator, not the exact small-set mode
    sh = (
        _shingles(spark, sf_dir, n=3)
        .withColumn("par", (F.col("doc_id") % 2).cast("int"))
        .withColumn("h", F.xxhash64("word"))
        .persist()
    )
    states = {
        r.par: bytes(r.sketch)
        for r in sketch_agg(sh, spec, hash64_values("h"), by=["par"]).collect()
    }
    ops = spec.set_ops(states[0], states[1])
    dw0 = sh.filter(F.col("par") == 0).select("word").distinct()
    dw1 = sh.filter(F.col("par") == 1).select("word").distinct()
    exact_common = dw0.intersect(dw1).count()
    exact_only0 = dw0.subtract(dw1).count()
    return spark.createDataFrame(
        [
            (
                int(exact_common),
                int(exact_only0),
                bool(
                    abs(ops["intersection"] - exact_common)
                    <= 5 * ops["intersection_sigma"]
                ),
                bool(
                    abs(ops["difference"] - exact_only0)
                    <= 5 * ops["difference_sigma"]
                ),
            )
        ],
        "exact_common_shingles long, exact_even_only_shingles long, "
        "intersection_within_bound boolean, difference_within_bound boolean",
    )


def mg_heavy_hitter_tokens_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries deterministic heavy hitters over the token table.

    Count-min's complement: MG UNDERcounts with a deterministic (not
    probabilistic) guarantee — est(x) <= true(x) <= est(x) + err with
    err <= n/(k+1) for EVERY token x, including absent ones
    (sketchlib/freqitems.py; Misra-Gries 1982; merge rule per Agarwal et
    al., "Mergeable Summaries", PODS 2012). Output = exact top-10 tokens
    (Zipf head) + the flag that the merged distributed summary's estimate
    brackets each exact count.

    Scale shape: identical to every other companion — one mapInArrow
    partial per partition (the per-batch exact histogram is a numpy
    np.unique, no per-row Python), KB states through the tree merge, and
    the deterministic bound survives ANY merge schedule, so 10^5
    partitions on 10^12 rows need no coordination.
    """
    import numpy as np

    from .specs import MisraGriesSpec, token_array_ids

    spec = MisraGriesSpec(k=256)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    row = sketch_agg(df, spec, token_array_ids("tokens")).collect()[0]
    mg = spec.deserialize(bytes(row.sketch))
    exact_top = (
        df.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(10)
    ).collect()
    ids = np.array([r.token for r in exact_top], dtype=np.int64)
    est = mg.estimate(ids)
    err = mg.err_bound
    data = [
        (int(r.token), int(r.cnt), bool(int(e) <= r.cnt and (r.cnt - int(e)) <= err))
        for r, e in zip(exact_top, est)
    ]
    return spark.createDataFrame(data, "token int, cnt long, within_bound boolean")


def bottomk_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic uniform sample (bottom-k priorities) of
    documents per source — the fixed-SIZE complement of the rate-based
    ``stable_sample_digest`` rule.

    The priority is the first 16 hex chars of md5(doc_id) (a key-pure
    uniform rank), computed JVM-side; the sketch state is the k smallest
    priorities per group (ops/specs.BottomKSampleSpec — a KMV state, so
    merges are byte-identical under any partitioning / merge tree). The
    DuckDB oracle re-derives the sample EXACTLY (row_number() over md5
    order), making this a hash-compared full-match query, not a bound
    check: cross-engine-reproducible fixed-size samples are a
    training-pipeline primitive (eval carve-outs, human-review draws,
    per-source inspection quotas).

    Scale shape: the build is the standard sketch_agg partial/tree-merge
    (KB states; one row per group per partition); payload recovery is a
    broadcast semi-join of the S*k winning priorities back against the
    scan — no extra shuffle of the data, no driver-side data rows.
    """
    K = 8
    docs = _docs(spark, sf_dir)
    dig = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "source",
        "doc_id",
        F.conv(F.substring(dig, 1, 8), 16, 10).cast("long").alias("prio_hi"),
        F.conv(F.substring(dig, 9, 8), 16, 10).cast("long").alias("prio_lo"),
    )
    from .specs import BottomKSampleSpec, md5_priority_values

    spec = BottomKSampleSpec(k=K)
    states = sketch_agg(keyed, spec, md5_priority_values(), by=["source"]).collect()
    rows = []
    for r in states:
        for p in spec.deserialize(bytes(r.sketch)):
            v = int(p)
            rows.append((r.source, v >> 32, v & 0xFFFFFFFF))
    winners = spark.createDataFrame(rows, "source string, prio_hi long, prio_lo long")
    return (
        keyed.join(F.broadcast(winners), ["source", "prio_hi", "prio_lo"], "inner")
        .select(
            "source",
            F.col("doc_id").cast("long").alias("doc_id"),
            # reassemble the 16-hex-char priority from the two halves
            # keyed already carries instead of a second md5 per matched row
            F.concat(
                F.lpad(F.lower(F.hex("prio_hi")), 8, "0"),
                F.lpad(F.lower(F.hex("prio_lo")), 8, "0"),
            ).alias("priority_hex"),
        )
        .orderBy("source", "priority_hex")
    )


def priority_sample_docs_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sample (Duffield-Lund-Thorup, JACM 2007) of
    documents ∝ n_tok from the token table, with the unbiased DLT
    subset-sum estimate of the TOTAL token mass — the token-budget-aware
    complement of the uniform ``bottomk_doc_sample`` (sample long
    documents preferentially, then estimate any subset's token total from
    the sample alone).

    Cross-engine exact: the priority ``q = n_tok / u`` uses a key-pure
    ``u = max(hi/2^32 + lo/2^64, 2^-64)`` from the first 16 hex chars of
    md5(doc_id), and every arithmetic step is one IEEE-754 double op, so
    numpy and DuckDB produce BIT-IDENTICAL priorities — the oracle
    re-derives the sample row-for-row AND the estimator value, plus a
    within_bound flag at 5x Szegedy's sigma <= W/sqrt(k-1) variance bound
    (STOC 2006).

    Scale shape: one sketch_agg pass (KB state: top-(k+1) (key, weight)
    pairs, byte-identical merges under any partitioning —
    sketchlib/prioritysample.py); payload recovery broadcasts the k
    winning priorities back against the scan. No shuffle of data rows, no
    driver-side data.
    """
    K = 16
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    dig = F.md5(F.col("doc_id"))
    keyed = df.select(
        "doc_id",
        "n_tok",
        F.conv(F.substring(dig, 1, 8), 16, 10).cast("long").alias("prio_hi"),
        F.conv(F.substring(dig, 9, 8), 16, 10).cast("long").alias("prio_lo"),
    )
    from .specs import PrioritySampleSpec, keyed_weight_values

    spec = PrioritySampleSpec(k=K)
    row = sketch_agg(keyed, spec, keyed_weight_values("n_tok")).collect()[0]
    ps = spec.deserialize(bytes(row.sketch))
    skeys, _, w_hat = ps.sample()
    est = ps.estimate_total()
    within = bool(abs(est - ps.sum_w) <= 5.0 * ps.sigma_bound())
    winners = spark.createDataFrame(
        [
            (i + 1, int(k) >> 32, int(k) & 0xFFFFFFFF, float(wh))
            for i, (k, wh) in enumerate(zip(skeys, w_hat))
        ],
        "rank int, prio_hi long, prio_lo long, w_hat double",
    )
    return (
        keyed.join(F.broadcast(winners), ["prio_hi", "prio_lo"], "inner")
        .select(
            "rank",
            "doc_id",
            "n_tok",
            F.round("w_hat", 6).alias("w_hat"),
            F.round(F.lit(est), 6).alias("est_total_tokens"),
            F.lit(ps.sum_w).alias("exact_total_tokens"),
            F.lit(within).alias("within_bound"),
        )
        .orderBy("rank")
    )


def kll_ntok_quantiles_by_source_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_tok quantiles over the token table via GROUPED KLL
    sketch aggregation — the north rule's "n_tok quantiles over the
    pre-tokenized table" as a distributed mergeable-UDAF query (the
    nchars variants exercise the ungrouped path on documents).

    Scale shape: one sketch_agg(by=source) — KB KLL states per
    (partition x source) through the tree merge, one shuffle. The
    verification computes every exact percentile AND every rank
    |rank(est)/n - q| in ONE grouped agg over 5x5 conditional sums (a
    single extra data pass, driver sees only 5 rows + 25 counters)."""
    import numpy as np

    from .agg import float_values, sketch_agg
    from .specs import KLLSpec

    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir).select(
        "source", F.col("n_tok").cast("double").alias("v")
    )
    spec = KLLSpec(k=200)
    states = {
        r.source: spec.deserialize(bytes(r.sketch))
        for r in sketch_agg(df, spec, float_values("v"), by=["source"]).collect()
    }
    qs = _QUANTILE_GRID
    ests = {s: sk.quantile(np.array(qs)) for s, sk in states.items()}
    agg_cols = [
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile(v, array({','.join(str(q) for q in qs)}))").alias("exacts"),
    ]
    for s, es in sorted(ests.items()):
        for i, e in enumerate(es):
            agg_cols.append(
                F.sum(
                    ((F.col("source") == s) & (F.col("v") <= float(e))).cast("long")
                ).alias(f"le_{s}_{i}")
            )
    per_src = {r.source: r for r in df.groupBy("source").agg(*agg_cols).collect()}
    data = []
    for s in sorted(ests):
        r = per_src[s]
        n = max(int(r.n), 1)
        for i, q in enumerate(qs):
            data.append(
                (
                    s,
                    q,
                    round(float(r.exacts[i]), 6),
                    bool(abs(int(r[f"le_{s}_{i}"]) / n - q) <= 0.05),
                )
            )
    return spark.createDataFrame(
        data, "source string, q double, exact_quantile double, within_rank_tol boolean"
    )


def bloom_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi AND anti join vs their exact definitions
    (ops/joins.py): customers with / without an urgent order.

    The output digests both result sets (count + key sum) so the DuckDB
    oracle's EXISTS / NOT EXISTS recomputation hash-verifies exactness —
    false positives must be weeded by the exact-finish stage, misses must
    be kept (anti) / dropped (semi) soundly — plus the partition check
    semi + anti == all customers. num_bits is deliberately small (2^16 for
    ~10k build keys) so the false-positive path is genuinely exercised.

    Scale shape: the build side collapses to ONE KB..MB filter state via
    sketch_agg; the probe is a scan-side vectorized mapInArrow mark; only
    filter hits reach a join (which then prunes to the distinct build
    keys). At 10^12 probe rows the shuffle carries ~(match + fpr)
    fraction instead of everything.
    """
    from .joins import bloom_anti_join, bloom_semi_join

    cust = _read_pq(spark, f"{sf_dir}/customer.parquet").select("c_custkey")
    urgent = _read_pq(spark, f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    semi = bloom_semi_join(cust, urgent, "c_custkey", "o_custkey", num_bits=1 << 16)
    anti = bloom_anti_join(cust, urgent, "c_custkey", "o_custkey", num_bits=1 << 16)
    s = semi.agg(
        F.count(F.lit(1)).alias("semi_customers"),
        F.coalesce(F.sum("c_custkey"), F.lit(0)).alias("semi_key_sum"),
    ).collect()[0]
    a = anti.agg(
        F.count(F.lit(1)).alias("anti_customers"),
        F.coalesce(F.sum("c_custkey"), F.lit(0)).alias("anti_key_sum"),
    ).collect()[0]
    total = cust.count()
    return spark.createDataFrame(
        [
            (
                int(s.semi_customers),
                int(s.semi_key_sum),
                int(a.anti_customers),
                int(a.anti_key_sum),
                bool(s.semi_customers + a.anti_customers == total),
            )
        ],
        "semi_customers long, semi_key_sum long, anti_customers long, "
        "anti_key_sum long, partition_complete boolean",
    )


def tail_exact_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT extreme quantiles of n_tok via the tail order-statistics
    sketch (ops/specs.TailQuantileSpec): the m smallest + m largest values
    survive the distributed build byte-identically (multiset-truncation
    merge algebra), so q ∈ {0.0001, 0.001, 0.999, 0.9999, 1.0} are exact
    order statistics, not estimates — the hash oracle compares VALUES, no
    bound flag needed. This is the extreme-tail region where rank-error
    sketches are weakest; the body is KLL's job
    (kll_ntok_quantiles_by_source_bound).

    Scale shape: standard sketch_agg — each partition contributes one
    2*m-value state; at 10^12 rows with m=4096 the tails cover
    q <= 4.1e-9 / q >= 1 - 4.1e-9 exactly with 64 KB states.
    """
    from .agg import float_values, sketch_agg
    from .specs import TailQuantileSpec

    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir).select(
        F.col("n_tok").cast("double").alias("v")
    )
    spec = TailQuantileSpec(m=1024)
    row = sketch_agg(df, spec, float_values("v")).collect()[0]
    tq = spec.deserialize(bytes(row.sketch))
    qs = [0.0001, 0.001, 0.999, 0.9999, 1.0]
    data = [(q, float(tq.quantile_disc(q))) for q in qs]
    return spark.createDataFrame(data, "q double, ntok_exact double")


def countsketch_hh_tokens_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-sketch UNBIASED heavy hitters over the token table — the
    two-sided complement of count-min (overcount-only) and Misra-Gries
    (undercount bracket): |est(x) - true(x)| <= 6*sqrt(F2/width) per row,
    boosted by the median over depth rows (Charikar-Chen-Farach-Colton
    2002; sketchlib/countsketch.py). The bound is fully SKETCH-DERIVED:
    F2 comes from the same state's AMS estimate, inflated by its own
    relative-error bound, so no exact second pass feeds the flag — only
    the exact top-10 counts the oracle needs anyway.

    Scale shape: standard sketch_agg — one Arrow-batch partial per
    partition (np.bincount rows, no per-row Python), a fixed
    depth*width*8-byte LINEAR state through the tree merge (vector
    addition — byte-identical under any partitioning, structurally), and
    driver-side point queries on the single merged KB-scale state.
    """
    import numpy as np

    from ..sketchlib.bitops import splitmix64
    from .agg import sketch_agg, token_array_values
    from .specs import CountSketchSpec

    spec = CountSketchSpec(width=8192, depth=5)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    row = sketch_agg(df, spec, token_array_values("tokens")).collect()[0]
    cs = spec.deserialize(bytes(row.sketch))
    exact_top = (
        df.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(10)
    ).collect()
    ids = np.array([r.token for r in exact_top], dtype=np.int64)
    est = cs.query(splitmix64(ids.view(np.uint64)))
    f2_ub = cs.f2() * (1.0 + spec.cfg.rel_f2_error_bound)
    bound = 6.0 * float(np.sqrt(f2_ub / spec.cfg.width))
    data = [
        (int(r.token), int(r.cnt), bool(abs(float(e) - r.cnt) <= bound))
        for r, e in zip(exact_top, est)
    ]
    return spark.createDataFrame(data, "token int, cnt long, within_bound boolean")


def countsketch_f2_tokens_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second frequency moment (self-join size) of the token-frequency
    distribution — sum_x f(x)^2, the classic skew statistic
    (Alon-Matias-Szegedy 1996): it prices every hash-partitioned token
    shuffle (a pairwise-collision count) and is the quantity LSH bucket
    caps and salting decisions key off. Estimated from the count-sketch
    state's per-row sum of squared counters (median over rows), relative
    error <= 6*sqrt(2/width) (CountSketchConfig.rel_f2_error_bound).

    Scale shape: ONE pass, KB linear states, no explode — the exact
    explode+groupBy F2 computed here for the flag is verification only
    (the oracle recomputes it in DuckDB); the estimator itself never
    shuffles a data-sized relation.
    """
    from .agg import sketch_agg, token_array_values
    from .specs import CountSketchSpec

    spec = CountSketchSpec(width=8192, depth=5)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    row = sketch_agg(df, spec, token_array_values("tokens")).collect()[0]
    cs = spec.deserialize(bytes(row.sketch))
    est = cs.f2()
    f2_exact = (
        df.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2"))
    ).collect()[0].f2
    ok = abs(est / float(f2_exact) - 1.0) <= spec.cfg.rel_f2_error_bound
    return spark.createDataFrame(
        [(int(f2_exact), bool(ok))], "f2_exact long, within_bound boolean"
    )


def join_size_estimate_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation WITHOUT executing the join: the
    inner product of two count sketches over orders.o_custkey and
    customer.c_custkey is an unbiased estimate of
    |orders JOIN customer ON custkey| = sum_k f_o(k)*f_c(k), with
    |err| <= 6*sqrt(2*F2(orders)*F2(customer)/width) (AMS 1996; the
    optimizer statistic classical engines keep for join planning). Both
    F2 terms in the bound are the sketches' OWN estimates inflated by
    their relative-error bound — the estimate+flag pipeline touches each
    relation exactly once, map-side only; the exact join here feeds the
    oracle's verification column, nothing else.

    Scale shape: two independent single-pass sketch_aggs (KB linear
    states, byte-identical under any partitioning), one driver-side dot
    product. At 10^12 x 10^9 rows this estimates the join size with two
    map-only passes and zero shuffle — the join itself would shuffle TBs.
    """
    import numpy as np

    from .agg import hash64_values, sketch_agg
    from .specs import CountSketchSpec
    from ..sketchlib.countsketch import join_size_error_bound

    spec = CountSketchSpec(width=16384, depth=5)
    orders = _read_pq(spark, f"{sf_dir}/orders.parquet").select(
        F.xxhash64(F.col("o_custkey").cast("long")).alias("h")
    )
    cust = _read_pq(spark, f"{sf_dir}/customer.parquet").select(
        F.xxhash64(F.col("c_custkey").cast("long")).alias("h")
    )
    row_o = sketch_agg(orders, spec, hash64_values("h")).collect()[0]
    row_c = sketch_agg(cust, spec, hash64_values("h")).collect()[0]
    cs_o = spec.deserialize(bytes(row_o.sketch))
    cs_c = spec.deserialize(bytes(row_c.sketch))
    est = cs_o.inner_product(cs_c)
    infl = 1.0 + spec.cfg.rel_f2_error_bound
    bound = join_size_error_bound(spec.cfg, cs_o.f2() * infl, cs_c.f2() * infl)
    join_exact = (
        _read_pq(spark, f"{sf_dir}/orders.parquet")
        .join(
            F.broadcast(_read_pq(spark, f"{sf_dir}/customer.parquet")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .count()
    )
    ok = abs(est - float(join_exact)) <= bound
    return spark.createDataFrame(
        [(int(join_exact), bool(ok))], "join_size_exact long, within_bound boolean"
    )


def token_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PASS multi-sketch table profile (ANALYZE-style optimizer
    statistics; ops/profile.py): a single scan builds, per source,
    ExaLogLog distinct-token cardinality, count-sketch F2 (the shuffle
    skew statistic) + unbiased top-token frequency, the Misra-Gries
    deterministic heavy-hitter bracket, and the KLL n_tok median — where
    classical ANALYZE runs one pass per statistic family. Tokens are
    flattened and splitmix-hashed ONCE per Arrow batch, shared by the ELL
    and count-sketch updates.

    Output per source: exact doc/token counts (hash-compared), exact
    distinct/F2/top-token/median (verification columns) and the four
    bound flags — ELL within 5*RSE, F2 within 6*sqrt(2/w), top token
    inside BOTH the MG bracket and the count-sketch two-sided bound
    (fully sketch-derived), median within 5% rank tolerance.

    Scale shape: map-only pass + KB states per (partition, group) into
    the bounded-fanin tree merge (ProfileSpec through sketch_agg); every
    exact quantity here is verification-only — the profile itself never
    shuffles a data-sized relation.
    """
    import numpy as np

    from ..sketchlib.bitops import splitmix64
    from ..sketchlib.countsketch import CountSketchConfig
    from .agg import ExaLogLogSpec
    from .profile import profile_token_table

    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    profs = profile_token_table(df)

    ell_bound = 5 * ExaLogLogSpec(2, 20, 10).theoretical_rse()
    cs_cfg = CountSketchConfig(8192, 5)

    # exact verification stats in two grouped passes (driver sees 5 rows);
    # freq feeds both the distinct/F2 agg and the top-1 rank branch —
    # persist the small (source, token, cnt) intermediate (CLAUDE.md: no
    # ReusedExchange across aliases)
    exploded = df.select("source", F.explode("tokens").alias("token"))
    freq = exploded.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    ).persist()
    from pyspark.sql.window import Window

    w_top = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("token"))
    exact = (
        freq.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("distinct_exact"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("f2_exact"),
        )
        .join(
            freq.withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") == 1)
            .select(
                "source",
                F.col("token").alias("top_token"),
                F.col("cnt").alias("top_cnt"),
            ),
            "source",
        )
    )
    exact_rows = {r.source: r for r in exact.collect()}
    freq.unpersist()
    med_ests = {s: float(p.kll.quantile(0.5)) for s, p in profs.items()}
    med_cols = [
        F.sum(
            ((F.col("source") == s) & (F.col("n_tok") <= med_ests[s])).cast("long")
        ).alias(f"le_{s}")
        for s in sorted(med_ests)
    ]
    med_row = df.agg(*med_cols).collect()[0]
    n_docs_total = {s: profs[s].n_docs for s in profs}

    data = []
    for s in sorted(profs):
        p = profs[s]
        r = exact_rows.get(s)
        f2_est = p.cs.f2()
        if r is None:
            # a group whose docs all have EMPTY token arrays: the exact
            # side (derived from explode) has no row — emit the degenerate
            # profile with provable flags instead of crashing
            data.append(
                (s, int(p.n_docs), 0, 0, bool(p.ell.estimate() == 0.0),
                 0, bool(f2_est == 0.0), -1, 0, True, True)
            )
            continue
        ell_ok = abs(p.ell.estimate() / r.distinct_exact - 1) <= ell_bound
        f2_ok = abs(f2_est / float(r.f2_exact) - 1) <= cs_cfg.rel_f2_error_bound
        tid = np.array([r.top_token], dtype=np.int64)
        mg_est = int(p.mg.estimate(tid)[0])
        cs_est = float(p.cs.query(splitmix64(tid.view(np.uint64)))[0])
        cs_hh_bound = 6.0 * float(
            np.sqrt(f2_est * (1.0 + cs_cfg.rel_f2_error_bound) / cs_cfg.width)
        )
        hh_ok = (
            mg_est <= r.top_cnt <= mg_est + p.mg.err_bound
            and abs(cs_est - r.top_cnt) <= cs_hh_bound
        )
        med_ok = (
            abs(int(med_row[f"le_{s}"]) / max(n_docs_total[s], 1) - 0.5) <= 0.05
        )
        data.append(
            (
                s,
                int(p.n_docs),
                int(p.n_tokens),
                int(r.distinct_exact),
                bool(ell_ok),
                int(r.f2_exact),
                bool(f2_ok),
                int(r.top_token),
                int(r.top_cnt),
                bool(hh_ok),
                bool(med_ok),
            )
        )
    return spark.createDataFrame(
        data,
        "source string, n_docs long, n_tokens long, distinct_exact long, "
        "distinct_within_bound boolean, f2_exact long, f2_within_bound boolean, "
        "top_token int, top_cnt long, hh_within_bounds boolean, "
        "median_within_rank_tol boolean",
    )


def trigram_novelty_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level novelty: distinct 3-token windows vs total windows
    over the whole corpus — the sub-document repetition statistic a
    memorization/contamination audit keys off (document-level dedup can't
    see a corpus that repeats the same passages across distinct docs).
    Distinct trigrams are estimated by ExaLogLog over the sliding-window
    extractor (ops/agg.token_trigram_values: windows never cross row
    boundaries, hashed order-sensitively in one flat pass per batch);
    total windows is exact arithmetic (sum(max(n_tok-2, 0))).

    Scale shape: ONE sketch_agg pass — the window expansion never
    materializes as rows (a posexplode at 10^12 sequences would triple the
    shuffle input; here trigram hashes exist only inside the Arrow batch),
    KB states to the driver. The exact distinct count here feeds the
    verification flag only; the oracle recomputes it in DuckDB.
    """
    from .agg import ExaLogLogSpec, sketch_agg, token_trigram_values

    spec = ExaLogLogSpec(2, 20, 10)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    row = sketch_agg(df, spec, token_trigram_values("tokens")).collect()[0]
    est = spec.finalize(spec.deserialize(bytes(row.sketch)))
    total = int(row.n_values)

    exact = (
        df.filter(F.size("tokens") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tokens) - 3), i -> "
                    "struct(tokens[i] AS a, tokens[i+1] AS b, tokens[i+2] AS c))"
                )
            ).alias("tri")
        )
        .agg(F.count_distinct("tri").alias("d"))
    ).collect()[0].d
    bound = 5 * spec.theoretical_rse()
    if total == 0:
        # no document reaches 3 tokens: the statistic is degenerate but
        # the row is still valid (est must be exactly 0 on an empty state)
        out = (0, 0, 0.0, bool(est == 0.0))
    else:
        ok = abs(est / float(exact) - 1.0) <= bound
        out = (int(total), int(exact), round(float(exact) / total, 6), bool(ok))
    return spark.createDataFrame(
        [out],
        "total_trigrams long, distinct_trigrams_exact long, "
        "novelty_ratio double, within_bound boolean",
    )


def f2_rollup_tokens_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-native F2 ROLLUP on the LINEAR count-sketch state: per-source
    + grand-total second frequency moments from ONE pass — the coarser cell
    is the vector SUM of the finer states, and because the state is linear
    the merged sketch estimates the merged DISTRIBUTION's F2 exactly as if
    built in one pass: grand-total F2 counts cross-source token overlap
    (sum over tokens of (Σ_source cnt)²), which is strictly more than the
    sum of per-source F2s — no rescan, no per-level recount.

    Scale shape: identical to sketch_rollup_tokens — one fine-level
    sketch_agg, KB states re-merged per level; every exact F2 below is
    verification-only (oracle recomputes in DuckDB GROUP BY).
    """
    from .agg import sketch_agg, token_array_values
    from .rollup import sketch_rollup
    from .specs import CountSketchSpec

    spec = CountSketchSpec(width=8192, depth=5)
    tok.materialize_token_table(_sf_name(sf_dir))
    df = tok.token_table_for_sf_dir(spark, sf_dir)
    fine = sketch_agg(df, spec, token_array_values("tokens"), by=["source"])
    levels = sketch_rollup(fine, spec, [("source",), ()]).collect()

    # freq feeds BOTH exact branches (per-source F2 and the overlap-aware
    # total) — persist the small (source, token, cnt) intermediate
    # (CLAUDE.md: no ReusedExchange across aliases)
    freq = (
        df.select("source", F.explode("tokens").alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).persist()
    per_src = {
        r.source: int(r.f2)
        for r in freq.groupBy("source")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2"))
        .collect()
    }
    total_f2 = int(
        freq.groupBy("t")
        .agg(F.sum("cnt").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
        .collect()[0]
        .f2
    )
    freq.unpersist()
    tol = spec.cfg.rel_f2_error_bound
    data = []
    for r in levels:
        exact = total_f2 if r.level == 1 else per_src[r.source]
        est = spec.finalize(spec.deserialize(bytes(r.sketch)))
        data.append(
            (r.source, int(r.level), int(exact), bool(abs(est / exact - 1) <= tol))
        )
    # the linearity dividend, asserted: total >= sum of parts requires
    # cross-source overlap to be counted — pin it as a verified column
    cross_terms_positive = total_f2 > sum(per_src.values())
    return spark.createDataFrame(
        [d + (bool(cross_terms_positive),) for d in data],
        "source string, level int, f2_exact long, within_bound boolean, "
        "total_exceeds_sum_of_parts boolean",
    )


def sliding_window_heavy_users_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour sliding windows (1-hour step) of heavy-hitter users over the
    events table via per-hour Misra-Gries states — the frequency-family
    twin of sliding_window_distinct_users_bound: raw events are summarized
    ONCE into tumbling 1-hour MG states (one shuffle, KB per hour); each
    window is a pure 24-state merge, and the PODS-2012 merge rule keeps
    the deterministic bracket est <= true <= est + err under that schedule
    too, so the flags below are provable, not probabilistic.

    Output: per window, the EXACT top-3 users (hash-compared) + the flag
    that the merged window summary brackets each exact count. At 10^12
    events the row-explode alternative multiplies the shuffle by the
    24x overlap factor; the state-fanout path shuffles 24 KB-rows per
    hour regardless of event volume (exact side = verification only).
    """
    from .agg import id64_values, tree_merge
    from .specs import MisraGriesSpec

    spec = MisraGriesSpec(k=64)
    # ev feeds BOTH the hour-state build and the exact-top verification
    # branch — persist the small projected intermediate so the events scan
    # and xxhash64 don't recompute per branch (no ReusedExchange across
    # aliases; same convention as token_profile_by_source's freq)
    ev = (
        _read_pq(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "user_id",
            F.xxhash64("user_id").alias("uid"),
        )
        .persist()
    )
    hour_states = sketch_agg(ev, spec, id64_values("uid"), by=["hour"])
    fanned = (
        hour_states.select(
            "hour", "sketch", "n_values", "build_secs",
            F.explode(F.sequence(F.lit(0), F.lit(23))).alias("k"),
        )
        .select(
            F.expr("timestampadd(HOUR, -k, hour)").alias("window_start"),
            "sketch",
            "n_values",
            F.col("k").cast("long").alias("partition_id"),
            "build_secs",
        )
    )
    window_states = {
        r.window_start: spec.deserialize(bytes(r.sketch))
        for r in tree_merge(
            fanned, spec, by=["window_start"], num_partials=24
        ).collect()
    }

    from pyspark.sql.window import Window

    w_rank = Window.partitionBy("window_start").orderBy(
        F.desc("cnt"), F.asc("user_id")
    )
    exact_top = (
        ev.select(
            "user_id", "uid",
            F.explode(F.sequence(F.lit(0), F.lit(23))).alias("k"),
            "hour",
        )
        .select(
            F.expr("timestampadd(HOUR, -k, hour)").alias("window_start"),
            "user_id",
            "uid",
        )
        .groupBy("window_start", "user_id", "uid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
    ).collect()
    ev.unpersist()

    import numpy as np

    data = []
    for r in exact_top:
        mg = window_states[r.window_start]
        est = int(mg.estimate(np.array([r.uid], dtype=np.int64))[0])
        ok = est <= r.cnt <= est + mg.err_bound + 1e-9
        data.append(
            (r.window_start, int(r.rank), int(r.user_id), int(r.cnt), bool(ok))
        )
    return spark.createDataFrame(
        data,
        "window_start timestamp, rank int, user_id long, cnt long, "
        "within_bracket boolean",
    )

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line with per-query seconds.

The token table (BASELINE.json input_hint shape) is materialized to parquet
once per sf under /tmp so the timed path is a real parquet scan -> sketch
build -> tree merge -> estimate, matching the production shape (Iceberg scan
at 10^12 rows). Headline metric: tokens/sec of the global ExaLogLog build.

Scaling evidence (north rule N -> 4N executors proxy): run
``python scripts/scaling_bench.py`` which invokes this file at two
parallelism levels and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from exaloglog_paper_spark.ops import tokens as tok  # noqa: E402
from exaloglog_paper_spark.ops.agg import (  # noqa: E402
    ExaLogLogSpec,
    sketch_agg,
    token_array_values,
    with_estimate,
)
from exaloglog_paper_spark.ops.source import scan_sketch_agg  # noqa: E402
from exaloglog_paper_spark.session import available_cpus, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or available_cpus())


def calibrate_ns_per_element(n: int = 2_000_000, reps: int = 5) -> float:
    """Single-thread insert kernel (the microbench's 2M-element
    ExaLogLog(2,20,8) add_hashes, best-of-N) as a box-speed probe.

    The box is shared with co-tenants and hypervisor-throttled under
    sustained load (BENCH_r04 recorded 26 s for a suite that measures
    ~20 s on a quiet box). Running this CPU-bound, IO-free, Spark-free
    kernel before AND after the suite stamps the run with the machine
    speed it actually got: a healthy run reports ~14-16 ns/element
    (BENCH/BASELINE.md); a throttled one is self-identifying instead of
    silently recording an outlier suite time."""
    import time as _time

    from exaloglog_paper_spark.sketchlib.bitops import splitmix64_stream
    from exaloglog_paper_spark.sketchlib.exaloglog import ExaLogLog

    hashes = splitmix64_stream(1, n)
    best = float("inf")
    for _ in range(reps):
        t0 = _time.perf_counter()
        ExaLogLog.create(2, 20, 8).add_hashes(hashes)
        best = min(best, _time.perf_counter() - t0)
    return round(best / n * 1e9, 1)


def calibrate_parallel_ratio(workers: int = 8) -> dict:
    """Multi-core throttle probe: run the same single-thread kernel in
    ``workers`` concurrent subprocesses on distinct data and compare the
    median per-worker rate to the solo rate. On a healthy box the kernels
    sit on separate cores (ratio ~1.0-1.2, memory-bandwidth noise); a
    hypervisor that caps AGGREGATE cpu — the failure mode single-thread
    calibration cannot see, where wide Spark stages stall while solo
    probes stay fast — pushes the median ratio well past 1.3."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    code = (
        f"import sys; sys.path.insert(0, {here!r})\n"
        "from bench import calibrate_ns_per_element\n"
        "print(calibrate_ns_per_element(reps=2))\n"
    )
    single = calibrate_ns_per_element(reps=3)
    procs = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
        for _ in range(workers)
    ]
    rates = sorted(float(p.communicate()[0].split()[-1]) for p in procs)
    median = rates[len(rates) // 2]
    return {
        "single_ns": single,
        "parallel_median_ns": median,
        "parallel_worst_ns": rates[-1],
        "ratio_median": round(median / single, 2),
    }


def materialize_token_table(spark, sf_name: str):
    # 4 splits per core so the pyarrow scan load-balances across stragglers
    path = f"/tmp/exaloglog_bench/{sf_name}/tokens.parquet"
    if not os.path.exists(path + "/_SUCCESS"):
        n = tok.ROWS_PER_SF.get(sf_name, 20_000)
        tok.token_table(spark, n, num_partitions=max(CPUS, 8) * 4).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def main() -> None:
    sf_name = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    calib_before = calibrate_ns_per_element()
    par_before = calibrate_parallel_ratio()
    spark = get_spark(app_name=f"bench-{sf_name}", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    tdf = materialize_token_table(spark, sf_name)

    timings: dict[str, float] = {}
    spreads: dict[str, list] = {}
    extras: dict[str, float] = {}
    query_defs: list = []  # (name, fn, clear_cache)
    query_out: dict = {}

    def timed_min(name: str, fn, reps: int = 3, clear_cache: bool = False):
        """Register a query for PASS-INTERLEAVED min-of-N timing.

        The box is shared with co-tenants whose load arrives in multi-second
        BURSTS: back-to-back reps of one query can all land inside a stall
        window, poisoning that query's minimum while its neighbors run
        clean. So instead of rep-adjacent timing, the suite runs ``reps``
        full PASSES over all registered queries and takes each query's min
        across passes — a burst now hits different queries in different
        passes and the per-query minima heal. clear_cache drops internally
        persisted intermediates after every execution so each one
        re-persists (same work measured each time). The [min, max] spread
        and cache policy are reported alongside (VERDICT r2 item 2) so a
        self-reported min and an external single-shot measurement can't
        diverge silently: the external number should land within
        [min, max]."""
        query_defs.append((name, fn, clear_cache))

    pass_calibs: list = []

    def run_passes(reps: int = 3):
        for _ in range(reps):
            for name, fn, clear_cache in query_defs:
                t0 = time.monotonic()
                out = fn()
                el = round(time.monotonic() - t0, 3)
                if name not in timings or el < timings[name]:
                    timings[name] = el
                prev = spreads.get(name)
                worst = el if prev is None else max(prev[1], el)
                spreads[name] = [
                    timings[name], worst,
                    "cold-persists" if clear_cache else "warm",
                ]
                query_out[name] = out
                if clear_cache:
                    spark.catalog.clearCache()
            # one cheap single-thread probe per pass: endpoint-only
            # calibration misses mid-suite co-tenant bursts
            pass_calibs.append(calibrate_ns_per_element(reps=2))

    spec = ExaLogLogSpec(2, 20, 10)
    tokens_path = f"/tmp/exaloglog_bench/{sf_name}/tokens.parquet"

    # warm up: JVM codegen, Python workers on both paths, OS page cache for
    # the scanned file (the benchmark targets engine throughput, not this
    # container's cold-disk latency)
    sketch_agg(tdf.limit(200), ExaLogLogSpec(2, 20, 6), token_array_values("tokens")).collect()
    tdf.count()
    scan_sketch_agg(spark, tokens_path, ExaLogLogSpec(2, 20, 6), token_array_values("tokens")).collect()

    def q_global_build():
        row = with_estimate(
            scan_sketch_agg(spark, tokens_path, spec, token_array_values("tokens")),
            spec,
        ).collect()[0]
        extras["total_tokens"] = int(row.n_values)
        extras["distinct_tokens_est"] = round(float(row.estimate), 1)
        return row

    timed_min("ell_global_build", q_global_build)

    timed_min(
        "ell_by_source",
        lambda: scan_sketch_agg(
            spark, tokens_path, spec, token_array_values("tokens"), by=["source"]
        ).collect(),
    )

    timed_min(
        "ell_global_build_jvm_bridge",
        lambda: sketch_agg(tdf, spec, token_array_values("tokens")).collect(),
    )

    timed_min(
        "spark_builtin_approx_count_distinct",
        lambda: tdf.select(F.explode("tokens").alias("t"))
        .agg(F.approx_count_distinct("t", 0.0113))
        .collect(),
    )

    timed_min(
        "spark_builtin_hll_sketch_agg",
        lambda: tdf.select(F.explode("tokens").alias("t"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("t", 14)))
        .collect(),
    )

    timed_min(
        "exact_distinct_tokens",
        lambda: tdf.select(F.explode("tokens").alias("t")).agg(F.count_distinct("t")).collect(),
    )

    timed_min(
        "ntok_stats",
        lambda: tdf.groupBy("source").agg(F.avg("n_tok"), F.expr("percentile(n_tok, 0.5)")).collect(),
    )

    # one-pass ANALYZE profile (round 5): ELL + count-sketch + Misra-Gries
    # + KLL per source from a single scan — compare against the SUM of the
    # individual passes it replaces (ell_by_source + builtin quantile +
    # separate frequency scans)
    def q_profile():
        from exaloglog_paper_spark.ops.profile import scan_profile

        profs = scan_profile(spark, tokens_path)
        extras["profile_sources"] = len(profs)
        return profs

    timed_min("token_profile_onepass", q_profile)

    # training-data ops at sf scale (documents/embeddings tables)
    def q_minhash():
        from exaloglog_paper_spark.ops.queries import minhash_lsh_candidates

        return minhash_lsh_candidates(spark, SF_DIR).count()

    timed_min("minhash_lsh_candidates", q_minhash, clear_cache=True)

    def q_dedup():
        from exaloglog_paper_spark.ops.queries import dedup_exact_summary

        return dedup_exact_summary(spark, SF_DIR).collect()

    timed_min("dedup_exact_summary", q_dedup)

    def q_jaccard():
        from exaloglog_paper_spark.ops.queries import jaccard_near_duplicates

        return jaccard_near_duplicates(spark, SF_DIR).count()

    timed_min("jaccard_near_duplicates", q_jaccard, clear_cache=True)

    def q_ann():
        from exaloglog_paper_spark.ops.queries import ann_cosine_topk

        return ann_cosine_topk(spark, SF_DIR).collect()

    timed_min("ann_cosine_topk", q_ann)

    def q_simhash():
        from exaloglog_paper_spark.ops.queries import simhash_near_duplicates

        return simhash_near_duplicates(spark, SF_DIR).count()

    timed_min("simhash_near_duplicates", q_simhash, clear_cache=True)

    def q_ngram():
        from exaloglog_paper_spark.ops.queries import ngram_jaccard_near_duplicates

        return ngram_jaccard_near_duplicates(spark, SF_DIR).count()

    timed_min("ngram_jaccard_near_duplicates", q_ngram, clear_cache=True)

    def q_textq():
        from exaloglog_paper_spark.ops.queries import text_quality_by_source

        return text_quality_by_source(spark, SF_DIR).collect()

    timed_min("text_quality_by_source", q_textq)

    run_passes(reps=3)
    # Healing passes: if a co-tenant burst landed inside the suite (a
    # per-pass calibration probe ran hot), the poisoned queries' minima can
    # still recover — run up to 2 extra passes. Minima only improve; the
    # throttle flag below sees every probe either way.
    healing_passes = 0
    healthy_ns = 16.0
    while healing_passes < 2 and (
        max(pass_calibs) > 1.3 * healthy_ns
        or max(pass_calibs) > 1.3 * min([calib_before, *pass_calibs])
    ):
        run_passes(reps=1)
        healing_passes += 1
    extras["tokens_per_sec"] = round(
        extras["total_tokens"] / timings["ell_global_build"], 1
    )
    extras["minhash_pairs"] = query_out["minhash_lsh_candidates"]
    extras["jaccard_pairs"] = query_out["jaccard_near_duplicates"]
    extras["simhash_pairs"] = query_out["simhash_near_duplicates"]
    extras["ngram_jaccard_pairs"] = query_out["ngram_jaccard_near_duplicates"]
    total = round(sum(timings.values()), 3)
    calib_after = calibrate_ns_per_element()
    # BENCH/BASELINE.md quotes ~14.5 ns/element on a quiet box; a run whose
    # calibration kernel is >1.3x that, or degrades >1.3x across the suite,
    # ran on a throttled/contended box and its suite time under-reports the
    # engine (BENCH_r04's 26 s vs the re-measured 19.7 s).
    par_after = calibrate_parallel_ratio()
    all_calibs = [calib_before, *pass_calibs, calib_after]
    throttled = (
        max(all_calibs) > 1.3 * healthy_ns
        or max(all_calibs) > 1.3 * min(all_calibs)
        or max(par_before["ratio_median"], par_after["ratio_median"]) > 1.3
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "query_spreads": spreads,
                "sf": sf_name,
                "cpus": CPUS,
                "calibration_ns_per_element": {
                    "before": calib_before,
                    "per_pass": pass_calibs,
                    "after": calib_after,
                    "healthy_reference": healthy_ns,
                },
                "parallel_calibration": {
                    "before": par_before,
                    "after": par_after,
                },
                "throttled_box": throttled,
                "healing_passes": healing_passes,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

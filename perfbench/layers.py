"""Per-layer metrics of a traced run, and the table that says what each
one should move.

The layers are the engine's modules (ROADMAP L0-L3): the numpy kernel
``sketchlib`` (L0), the pyarrow scan ``ops.source``, the builder/merge/
estimate ``ops.agg`` (L1), ``ops.profile``, the driver-side query builders
``ops.queries`` and ``ops.dedup`` (L3), the durable state ``ops.snapshot_table``
and ``ops.checkpoints``, the ``session``, and the Spark runtime underneath
(L2). Every per-layer metric is reported on every workload; a layer a
workload never calls reads 0 there.

Times are per round of the workload's operations: for each operation the
median over its traced instances, summed over the operations. For each
operation, the ``*.self_s`` times, ``spark.action_s`` and
``driver.residual_s`` add up to its wall time.

``TABLE`` rows are (metric, unit, better, how it is measured, the
end-to-end figure it should move, workloads where it should move,
workloads where no change is expected). The end-to-end figures named here
are the per-operation wall times in each run's report line
(``build_tokens_per_s``, ``commit_p50_s``, ...); BENCHMARK.json gates their
roll-ups ``round_wall_s`` (wall time) and ``round_cpu_s`` (CPU time).
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

TS, ND = "token_scan", "near_dup"

TABLE = [
    ("sketchlib.insert_ns_per_el", "ns", "lower", "driver-side add_hashes over a sample of the workload's own hashed elements, best of 5", "build_tokens_per_s, profile_s", [TS], [ND]),
    ("sketchlib.serialize_us", "us", "lower", "serialize of 16 states built from that sample, per state", "build_tokens_per_s, profile_s", [TS], [ND]),
    ("sketchlib.merge_many_us", "us", "lower", "spec.merge_many over those 16 states, per call", "grouped_build_s, commit_p50_s, read_s", [TS], [ND]),
    ("sketchlib.estimate_us", "us", "lower", "finalize_batch over those 16 states, per state", "grouped_build_s, commit_p50_s, read_s", [TS], [ND]),
    ("source.self_s", "s", "lower", "self time of ops.source spans (scan_sketch_agg, splits_df, list_row_group_splits)", "build_tokens_per_s", [TS], [ND]),
    ("source.plan_s", "s", "lower", "duration of splits_df calls (split listing + split DataFrame)", "build_tokens_per_s", [TS], [ND]),
    ("source.splits", "count", "lower", "row-group splits listed per scan, median", "build_tokens_per_s", [TS], [ND]),
    ("agg.self_s", "s", "lower", "self time of ops.agg spans (sketch_partials, tree_merge, with_estimate, local_df)", "grouped_build_s, commit_p50_s", [TS], [ND]),
    ("agg.build_ns_per_token", "ns", "lower", "build_secs / n_values of the global build's result row", "build_tokens_per_s", [TS], [ND]),
    ("agg.build_task_s", "s", "lower", "build_secs of the global build (in-task builder time summed over tasks)", "build_tokens_per_s", [TS], [ND]),
    ("agg.partials", "count", "lower", "num_partials tree_merge is planned with, median", "grouped_build_s, commit_p50_s", [TS], [ND]),
    ("agg.driver_fold", "ratio", "higher", "share of tree_merge calls that return a driver-folded LocalRelation", "grouped_build_s, commit_p50_s", [TS], [ND]),
    ("agg.merge_s", "s", "lower", "duration of tree_merge calls (includes the partial stage when it driver-folds)", "grouped_build_s, commit_p50_s, read_s", [TS], [ND]),
    ("agg.estimate_s", "s", "lower", "duration of with_estimate calls", "grouped_build_s, read_s", [TS], [ND]),
    ("profile.self_s", "s", "lower", "self time of ops.profile spans", "profile_s", [TS], [ND]),
    ("profile.scan_s", "s", "lower", "duration of scan_profile", "profile_s", [TS], [ND]),
    ("profile.fold_s", "s", "lower", "duration of fold_partials_df (plan construction)", "profile_s", [TS], [ND]),
    ("queries.self_s", "s", "lower", "self time of ops.queries spans", "jaccard_s, ngram_s, simhash_s", [ND], [TS]),
    ("queries.construct_s", "s", "lower", "time until each query function returns (plan construction plus the eager jobs inside it)", "jaccard_s, ngram_s, simhash_s", [ND], [TS]),
    ("queries.construct_jobs", "count", "lower", "Spark jobs launched before the query function returns (cap probe, eager checkpoints)", "jaccard_s, ngram_s, simhash_s", [ND], [TS]),
    ("dedup.self_s", "s", "lower", "self time of ops.dedup spans", "minhash_s, jaccard_s, simhash_s, ngram_s", [ND], [TS]),
    ("dedup.minhash_sig_s", "s", "lower", "self time of minhash_signatures", "minhash_s, jaccard_s, ngram_s", [ND], [TS]),
    ("dedup.lsh_candidates_s", "s", "lower", "self time of lsh_candidate_pairs and band_table (includes the cap probe job)", "minhash_s, jaccard_s, ngram_s", [ND], [TS]),
    ("dedup.jaccard_verify_s", "s", "lower", "self time of jaccard_verified_pairs (includes its eager checkpoint)", "jaccard_s, ngram_s", [ND], [TS]),
    ("dedup.simhash_sig_s", "s", "lower", "self time of simhash_signatures", "simhash_s", [ND], [TS]),
    ("dedup.simhash_pairs_s", "s", "lower", "self time of simhash_near_pairs (includes the cap probe job)", "simhash_s", [ND], [TS]),
    ("dedup.candidate_pairs", "count", "lower", "rows of minhash_lsh_candidates", "jaccard_s, ngram_s", [ND], [TS]),
    ("dedup.verified_pairs", "count", "higher", "rows of jaccard_near_duplicates", "jaccard_s", [ND], [TS]),
    ("dedup.verify_yield", "ratio", "higher", "verified pairs / candidate pairs", "jaccard_s, ngram_s", [ND], [TS]),
    ("snapshot_table.self_s", "s", "lower", "self time of update_snapshot_table and read_snapshot_table", "commit_p50_s, commit_tail_s, read_s", [TS], [ND]),
    ("snapshot_table.commit_jobs", "count", "lower", "Spark jobs inside one update_snapshot_table call, median", "commit_p50_s, commit_tail_s", [TS], [ND]),
    ("snapshot_table.bytes_per_commit", "B", "lower", "size of the data dir a commit writes, median", "commit_p50_s, commit_tail_s", [TS], [ND]),
    ("snapshot_table.files_per_commit", "count", "lower", "files in the data dir a commit writes, median", "commit_p50_s, commit_tail_s", [TS], [ND]),
    ("checkpoints.self_s", "s", "lower", "self time of checkpointed_sketch_agg", "resume_s", [TS], [ND]),
    ("checkpoints.buckets_recomputed", "count", "lower", "bucket dirs written by a re-run after one was deleted", "resume_s", [TS], [ND]),
    ("checkpoints.bytes_written", "B", "lower", "bytes of the bucket dirs a re-run wrote", "resume_s", [TS], [ND]),
    ("spark.action_s", "s", "lower", "self time of the benchmark's collect()/count() calls (job execution not started during construction)", "every time metric", [TS, ND], []),
    ("spark.jobs", "count", "lower", "jobs per round, from the job group each span sets (StatusTracker)", "every time metric", [TS, ND], []),
    ("spark.stages", "count", "lower", "stages of those jobs", "every time metric", [TS, ND], []),
    ("spark.tasks", "count", "lower", "tasks of those stages", "every time metric", [TS, ND], []),
    ("spark.failed_tasks", "count", "lower", "failed tasks of those stages", "every time metric", [TS, ND], []),
    ("spark.task_busy_s", "s", "lower", "executor run time of those tasks (event log of the traced run)", "grouped_build_s, near_dup times, commit_p50_s", [TS, ND], []),
    ("spark.slot_idle_frac", "ratio", "lower", "1 - task busy time / (round wall time x cores)", "grouped_build_s, near_dup times, commit_p50_s", [TS, ND], []),
    ("spark.shuffle_bytes", "B", "lower", "shuffle bytes written by those tasks (event log)", "grouped_build_s, near_dup times, commit_p50_s", [TS, ND], []),
    ("spark.peak_rss_mb", "MB", "lower", "sum of each process's peak resident memory (VmHWM) over the driver JVM and its Python workers, read after the measured rounds", "none (memory; too unsteady run to run for an end-to-end bound)", [TS, ND], []),
    ("session.start_s", "s", "lower", "get_spark() time per set-up cycle, median", "setup_s", [TS, ND], []),
    ("inputs.generate_s", "s", "lower", "time to generate the run's inputs and their ground truth (outside setup_s)", "none (benchmark cost)", [], [TS, ND]),
    ("driver.residual_s", "s", "lower", "operation wall time not covered by any layer span", "any", [TS, ND], []),
    ("trace.overhead_frac", "ratio", "lower", "geomean over operations of traced / untraced median wall time, minus 1", "none (tracing cost)", [], [TS, ND]),
]
UNITS = {row[0]: row[1] for row in TABLE}

SELF_LAYERS = ["source", "agg", "profile", "queries", "dedup", "snapshot_table", "checkpoints"]
SPAN_COUNTS = ["jobs", "stages", "tasks", "failed_tasks", "task_busy_s", "shuffle_bytes"]
# metric -> the traced functions whose durations ("dur") or self times ("self") it sums
FUNCTION_TIMES = {
    "source.plan_s": ("dur", ["splits_df"]),
    "agg.merge_s": ("dur", ["tree_merge"]),
    "agg.estimate_s": ("dur", ["with_estimate"]),
    "profile.scan_s": ("dur", ["scan_profile"]),
    "profile.fold_s": ("dur", ["fold_partials_df"]),
    "dedup.minhash_sig_s": ("self", ["minhash_signatures"]),
    "dedup.lsh_candidates_s": ("self", ["lsh_candidate_pairs", "band_table"]),
    "dedup.jaccard_verify_s": ("self", ["jaccard_verified_pairs"]),
    "dedup.simhash_sig_s": ("self", ["simhash_signatures"]),
    "dedup.simhash_pairs_s": ("self", ["simhash_near_pairs"]),
}


def register_observers(tracer, ctx) -> None:
    """Counts read off traced calls' arguments and results."""

    def splits(sp, args, kwargs, out):
        ctx.layer_sample("source.splits", len(out))

    def tree_merge(sp, args, kwargs, out):
        n = kwargs.get("num_partials", args[3] if len(args) > 3 else None)
        if n is not None:
            ctx.layer_sample("agg.partials", n)
        ctx.layer_sample("agg.driver_fold", 1.0 if out.isLocal() else 0.0)

    tracer.observers.update(list_row_group_splits=splits, tree_merge=tree_merge)


def _instance_values(spans: list[dict]) -> dict:
    """Layer figures of one traced operation instance."""
    by_id = {s["id"]: s for s in spans}
    root = next(s for s in spans if s["parent"] is None or s["parent"] not in by_id)
    v: dict[str, float] = defaultdict(float)
    v["wall"] = root["dur"]
    for s in spans:
        if s is root:
            v["driver.residual_s"] += s["self"]
        elif s["layer"] == "spark":
            v["spark.action_s"] += s["self"]
        else:
            v[f"{s['layer']}.self_s"] += s["self"]
        v[f"fn.{s['name']}.self"] += s["self"]
        v[f"fn.{s['name']}.dur"] += s["dur"]
        if s["layer"] == "queries":
            v["queries.construct_s"] += s["dur"]
        for c in SPAN_COUNTS:
            v[f"spark.{c}"] += s["counts"].get(c, 0)
        # jobs count toward every enclosing traced function
        jobs, anc = s["counts"].get("jobs", 0), s
        while anc is not None:
            v[f"fn.{anc['name']}.jobs"] += jobs
            if anc["layer"] == "queries":
                v["queries.construct_jobs"] += jobs
            anc = by_id.get(anc["parent"])
    return v


def per_layer(tracer, ctx, workload, cores: int) -> tuple[dict, dict]:
    """(metric -> value, per-operation breakdown) of a traced run."""
    instances: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.self_times():
        if s["op"] is not None:
            instances[s["op"]].append(s)
    kinds: dict[str, list[dict]] = defaultdict(list)
    for inst, spans in instances.items():
        kinds[inst.split("#")[0]].append(_instance_values(spans))

    def per_round(key: str) -> float:
        return sum(statistics.median([d.get(key, 0.0) for d in insts]) for insts in kinds.values())

    def layer_median(name: str) -> float:
        s = ctx.layer_samples.get(name)
        return statistics.median(s) if s else 0.0

    out = {f"{layer}.self_s": per_round(f"{layer}.self_s") for layer in SELF_LAYERS}
    out["spark.action_s"] = per_round("spark.action_s")
    out["driver.residual_s"] = per_round("driver.residual_s")
    out["queries.construct_s"] = per_round("queries.construct_s")
    out["queries.construct_jobs"] = per_round("queries.construct_jobs")
    for metric, (kind, fns) in FUNCTION_TIMES.items():
        out[metric] = sum(per_round(f"fn.{f}.{kind}") for f in fns)
    for c in SPAN_COUNTS:
        out[f"spark.{c}"] = per_round(f"spark.{c}")
    wall = per_round("wall")
    out["spark.slot_idle_frac"] = 1.0 - out["spark.task_busy_s"] / (wall * cores) if wall else 0.0
    commits = kinds.get("commit", [])
    out["snapshot_table.commit_jobs"] = (
        statistics.median([d.get("fn.update_snapshot_table.jobs", 0.0) for d in commits]) if commits else 0.0
    )
    for name in (
        "source.splits",
        "agg.build_ns_per_token",
        "agg.build_task_s",
        "agg.partials",
        "snapshot_table.bytes_per_commit",
        "snapshot_table.files_per_commit",
        "checkpoints.buckets_recomputed",
        "checkpoints.bytes_written",
    ):
        out[name] = layer_median(name)
    fold = ctx.layer_samples.get("agg.driver_fold")
    out["agg.driver_fold"] = statistics.fmean(fold) if fold else 0.0
    out["dedup.candidate_pairs"] = layer_median("dedup.minhash_pairs")
    out["dedup.verified_pairs"] = layer_median("dedup.jaccard_pairs")
    cand = out["dedup.candidate_pairs"]
    out["dedup.verify_yield"] = out["dedup.verified_pairs"] / cand if cand else 0.0
    ratios = [
        statistics.median(ctx.traced_samples[op]) / statistics.median(ctx.samples[op])
        for op in workload.ops
        if ctx.traced_samples.get(op) and ctx.samples.get(op)
    ]
    out["trace.overhead_frac"] = math.exp(statistics.fmean(math.log(r) for r in ratios)) - 1.0 if ratios else 0.0

    breakdown = {}
    for kind, insts in kinds.items():
        mid = sorted(insts, key=lambda d: d["wall"])[(len(insts) - 1) // 2]
        selfs = {k: mid.get(k, 0.0) for k in [f"{layer}.self_s" for layer in SELF_LAYERS] + ["spark.action_s"]}
        explained = sum(selfs.values()) + mid["driver.residual_s"]
        breakdown[kind] = {
            "wall_s": mid["wall"],
            "self_s": selfs,
            "residual_s": mid["driver.residual_s"],
            "wall_minus_sum_s": mid["wall"] - explained,
            "traced_instances": len(insts),
        }
    return out, breakdown

"""The workloads: their inputs, operations and output checks.

Each operation is one closed-loop call from input to complete result, timed
by ``Ctx.op``; an operation whose output check fails, or that raises, counts
as failed. Sizes are chosen so that one run, set-up included, fits the
benchmark's time budget on a 4-core box (see BASELINE.md).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import inputs

SPEC_ARGS = (2, 20, 10)  # the paper's headline ELL(2, 20, p=10)
EST_SIGMAS = 4  # estimates must fall within 4 RSE of the exact count

SIZES = {
    "full": {"token_rows": 50_000, "token_files": 16, "increment_rows": 1_000, "docs": 400},
    "tiny": {"token_rows": 3_000, "token_files": 4, "increment_rows": 250, "docs": 500},
}


def _spec():
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec

    return ExaLogLogSpec(*SPEC_ARGS)


def _extractor():
    from exaloglog_paper_spark.ops.agg import token_array_values

    return token_array_values("tokens")


def _close(est: float, exact: int, rse: float) -> bool:
    return abs(est - exact) <= EST_SIGMAS * rse * max(exact, 1)


def _digest(rows) -> dict:
    """{source: sha256 of its sketch state}."""
    return {r["source"]: hashlib.sha256(bytes(r["sketch"])).hexdigest() for r in rows}


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    min_rounds = 1  # measured rounds, at the least
    repeat = 1  # instances of each operation in a row, per round

    def __init__(self, scale: str) -> None:
        self.size = SIZES[scale]

    def prepare(self, pool, input_dir: str, seed: int) -> dict:
        """Generate (or reuse) this workload's inputs under ``input_dir``."""
        raise NotImplementedError

    def measure(self, ctx, seconds: float) -> None:
        raise NotImplementedError

    def details(self, ctx) -> dict:
        raise NotImplementedError


class TokenScan(Workload):
    """The paper's headline pipeline (parquet scan -> partial ELL build ->
    merge -> estimate), global and by source, plus the one-pass profile;
    and beside these reads, the durable-state writes: one small increment
    committed into a snapshot table per round, a time-travel read of it, and
    a checkpointed re-run of the by-source build with one bucket deleted."""

    name = "token_scan"
    ops = ("global_build", "grouped_build", "profile", "commit", "read", "resume")
    min_rounds = 3
    NUM_BUCKETS = 4

    def prepare(self, pool, input_dir, seed):
        size = self.size
        self.path = os.path.join(input_dir, f"tokens-{size['token_rows']}")
        self.truth = inputs.token_files(self.path, size["token_rows"], seed, size["token_files"], pool)
        self.seed = seed
        return self.truth

    def measure(self, ctx, seconds):
        from exaloglog_paper_spark.ops.agg import with_estimate
        from exaloglog_paper_spark.ops.checkpoints import checkpointed_sketch_agg
        from exaloglog_paper_spark.ops.profile import scan_profile
        from exaloglog_paper_spark.ops.snapshot_table import (
            current_metadata,
            read_snapshot_table,
            update_snapshot_table,
        )
        from exaloglog_paper_spark.ops.source import scan_sketch_agg

        spark, spec, ex, path = ctx.spark, _spec(), _extractor(), self.path
        rse = spec.theoretical_rse()
        want = self.truth["per_source"]
        run_dir = os.path.join(ctx.work, "run", self.name)
        shutil.rmtree(run_dir, ignore_errors=True)
        table, increments, ckpt = (os.path.join(run_dir, d) for d in ("table", "increments", "ckpt"))
        os.makedirs(increments)
        chunks = []  # truth of each increment, in commit order
        state = {"grouped": None}  # by-source state digests of the token table

        def check_groups(rows, truth) -> bool:
            got = {r["source"]: r for r in rows}
            return set(got) == set(truth) and all(
                got[s]["n_values"] == w["tokens"] and _close(got[s]["estimate"], w["distinct"], rse)
                for s, w in truth.items()
            )

        def global_build():
            r = ctx.action("collect", with_estimate(scan_sketch_agg(spark, path, spec, ex), spec).collect)[0]
            ctx.layer_sample("agg.build_ns_per_token", r["build_secs"] / max(r["n_values"], 1) * 1e9)
            ctx.layer_sample("agg.build_task_s", r["build_secs"])
            return r["n_values"] == self.truth["tokens"] and _close(r["estimate"], self.truth["distinct"], rse)

        def grouped_build():
            df = with_estimate(scan_sketch_agg(spark, path, spec, ex, by=["source"]), spec)
            rows = ctx.action("collect", df.collect)
            digests = _digest(rows)
            ok = check_groups(rows, want) and state["grouped"] in (None, digests)
            state["grouped"] = digests
            return ok

        def profile():
            profs = scan_profile(spark, path)
            return set(profs) == set(want) and all(
                profs[s].n_docs == w["docs"]
                and profs[s].n_tokens == w["tokens"]
                and _close(profs[s].ell.estimate(), w["distinct"], rse)
                for s, w in want.items()
            )

        def next_increment():
            # the rows past the end of the token table, one increment per
            # round: same seed, disjoint row ids
            per, i = self.size["increment_rows"], len(chunks)
            lo = self.size["token_rows"] + i * per
            chunks.append(inputs.token_chunk(os.path.join(increments, f"part-{i:06d}.parquet"), lo, lo + per, self.seed))

        def commit():
            done = ctx.count("commit") - 1
            inc = scan_sketch_agg(spark, os.path.join(increments, chunks[done]["file"]), spec, ex, by=["source"])
            update_snapshot_table(spark, table, inc, spec, by=["source"], lineage={"increment": str(done)})
            snap = current_metadata(table)["snapshots"][-1]
            data = os.path.join(table, snap["manifest"][0])
            files = [os.path.join(data, f) for f in os.listdir(data)]
            ctx.layer_sample("snapshot_table.files_per_commit", len(files))
            ctx.layer_sample("snapshot_table.bytes_per_commit", sum(os.path.getsize(f) for f in files))
            want_total = sum(c["tokens"] for ch in chunks[: done + 1] for c in ch["per_source"].values())
            return snap["id"] == done + 1 and snap["summary"]["total_values"] == want_total

        def read():
            # time travel to the middle of the snapshot history
            snap_id = max(1, ctx.count("commit") // 2)
            prefix = inputs.summarize(chunks[:snap_id])["per_source"]
            df = with_estimate(read_snapshot_table(spark, table, snapshot_id=snap_id), spec)
            return check_groups(ctx.action("collect", df.collect), prefix)

        def checkpointed():
            df = checkpointed_sketch_agg(spark, path, spec, ex, ckpt, by=["source"], num_buckets=self.NUM_BUCKETS)
            return _digest(ctx.action("collect", df.collect))

        def resume():
            shutil.rmtree(os.path.join(ckpt, f"bucket={(ctx.count('resume') - 1) % self.NUM_BUCKETS}"))
            before = _bucket_bytes(ckpt)
            ok = checkpointed() == state["grouped"]
            redone = {b: v for b, v in _bucket_bytes(ckpt).items() if b not in before}
            ctx.layer_sample("checkpoints.buckets_recomputed", len(redone))
            ctx.layer_sample("checkpoints.bytes_written", sum(redone.values()))
            return ok

        fns = {
            "global_build": global_build,
            "grouped_build": grouped_build,
            "profile": profile,
            "commit": commit,
            "read": read,
            "resume": resume,
        }
        full = checkpointed()  # every bucket, before the timed re-runs
        ctx.rounds(self.ops, fns, seconds, before_round=next_increment)
        ctx.check("checkpointed_equals_scan", full == state["grouped"])
        # the snapshot chain equals a from-scratch build over its increments
        ref = _digest(ctx.action("collect", scan_sketch_agg(spark, increments, spec, ex, by=["source"]).collect))
        final = _digest(ctx.action("collect", read_snapshot_table(spark, table).collect))
        ctx.check("final_snapshot_equals_scratch", final == ref)

    def details(self, ctx):
        g = ctx.median("global_build")
        commits = sorted(ctx.samples["commit"])
        n = len(commits)
        # the tail is the highest percentile with at least ten samples
        # beyond it; a run with fewer than 11 commits has none
        return {
            "build_tokens_per_s": (self.truth["tokens"] / g if g else None, "1/s"),
            "grouped_build_s": (ctx.median("grouped_build"), "s"),
            "profile_s": (ctx.median("profile"), "s"),
            "commit_p50_s": (ctx.median("commit"), "s"),
            "commit_tail_s": (commits[n - 11] if n >= 11 else None, "s"),
            "commit_tail_percentile": (100.0 * (n - 10) / n if n >= 11 else None, "%"),
            "commit_samples": (n, "count"),
            "read_s": (ctx.median("read"), "s"),
            "resume_s": (ctx.median("resume"), "s"),
            "input_tokens": (self.truth["tokens"], "count"),
        }


class NearDup(Workload):
    """The four near-duplicate queries over a generated documents table.

    Each query runs three times in a row. Spark's cache of generated code
    (100 classes by default) is about as large as the classes the four
    queries generate together, so in some sessions running them in turn
    evicts each query's classes before it runs again and every instance
    compiles anew; a round then takes about 1.3x as long as in the other
    sessions. Back to back, only the first instance of a query can miss
    the cache, and the median of the three does not depend on the session."""

    name = "near_dup"
    ops = ("minhash", "jaccard", "simhash", "ngram")
    repeat = 3
    QUERY = {
        "minhash": "minhash_lsh_candidates",
        "jaccard": "jaccard_near_duplicates",
        "simhash": "simhash_near_duplicates",
        "ngram": "ngram_jaccard_near_duplicates",
    }

    def prepare(self, pool, input_dir, seed):
        self.path = os.path.join(input_dir, f"docs-{self.size['docs']}")
        self.truth = inputs.documents(self.path, self.size["docs"], seed)
        return self.truth

    def measure(self, ctx, seconds):
        from exaloglog_paper_spark.ops import queries

        spark = ctx.spark

        def make(op):
            query = getattr(queries, self.QUERY[op])
            want = self.truth["pairs"][self.QUERY[op]]

            def run():
                n = ctx.action("count", query(spark, self.path).count)
                spark.catalog.clearCache()
                ctx.layer_sample(f"dedup.{op}_pairs", n)
                return n == want

            return run

        ctx.rounds(self.ops, {op: make(op) for op in self.ops}, seconds)

    def details(self, ctx):
        return {
            **{f"{op}_s": (ctx.median(op), "s") for op in self.ops},
            **{f"{op}_pairs": (self.truth["pairs"][q], "count") for op, q in self.QUERY.items()},
        }


def _bucket_bytes(ckpt: str) -> dict:
    """{bucket dir: bytes} for every completed bucket of a checkpoint dir."""
    out = {}
    for b in os.listdir(ckpt):
        path = os.path.join(ckpt, b)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            out[b] = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return out


WORKLOADS = {w.name: w for w in (TokenScan, NearDup)}

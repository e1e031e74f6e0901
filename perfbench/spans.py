"""Spans around the benchmark's calls into the engine's layers.

The engine is not edited: ``instrument`` wraps the public driver-side
functions of each ``exaloglog_paper_spark`` module (replacing every module
attribute bound to the original, so calls between modules are traced too),
and the workloads open their own spans around Spark actions and around each
operation. Functions that run inside Spark tasks are never wrapped, so no
tracer code is pickled to the executors.

A span records name, layer, start, end, parent and the operation it belongs
to; spans stay in memory until the run ends. Each span also sets a Spark job
group, so the jobs, stages and tasks it launched are read back from the
StatusTracker and, when the Spark event log is on, its task busy time and
shuffle bytes. A span's self time is its duration minus its children's
(spans nest strictly on the one driver thread), so for every operation the
self times of its spans plus its root's self time (the unexplained driver
residual) add up to its wall time exactly.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, layer, driver-side public functions traced in it)
TRACED = [
    ("exaloglog_paper_spark.ops.source", "source", ["list_row_group_splits", "splits_df", "scan_sketch_agg"]),
    ("exaloglog_paper_spark.ops.agg", "agg", ["sketch_partials", "tree_merge", "with_estimate", "local_df"]),
    ("exaloglog_paper_spark.ops.profile", "profile", ["scan_profile", "fold_partials_df"]),
    (
        "exaloglog_paper_spark.ops.queries",
        "queries",
        [
            "minhash_lsh_candidates",
            "jaccard_near_duplicates",
            "simhash_near_duplicates",
            "ngram_jaccard_near_duplicates",
        ],
    ),
    (
        "exaloglog_paper_spark.ops.dedup",
        "dedup",
        [
            "minhash_signatures",
            "band_table",
            "lsh_candidate_pairs",
            "jaccard_verified_pairs",
            "simhash_signatures",
            "simhash_near_pairs",
        ],
    ),
    ("exaloglog_paper_spark.ops.snapshot_table", "snapshot_table", ["update_snapshot_table", "read_snapshot_table"]),
    ("exaloglog_paper_spark.ops.checkpoints", "checkpoints", ["checkpointed_sketch_agg"]),
    ("exaloglog_paper_spark.session", "session", ["get_spark"]),
]


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # set once a SparkContext exists: spans then label jobs
        self.observers: dict[str, object] = {}  # span name -> fn(span, args, kwargs, result)

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp) -> None:
        if self.sc is None or self.sc._jsc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{sp['id']}", f"{sp['layer']}.{sp['name']}")

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(fn.__name__, layer) as sp:
                out = fn(*args, **kwargs)
                observe = tracer.observers.get(fn.__name__)
                if observe is not None:
                    observe(sp, args, kwargs, out)
                return out

        traced.__wrapped_by_perfbench__ = True
        return traced

    def instrument(self) -> None:
        """Wrap every TRACED function wherever the package binds it."""
        for mod_name, layer, names in TRACED:
            mod = importlib.import_module(mod_name)
            for name in names:
                orig = getattr(mod, name)
                if getattr(orig, "__wrapped_by_perfbench__", False):
                    continue
                traced = self.wrap(orig, layer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("exaloglog_paper_spark") and getattr(m, name, None) is orig:
                        setattr(m, name, traced)

    # ------------------------------------------------------------------
    # read back what each span launched
    # ------------------------------------------------------------------

    def collect_job_info(self) -> None:
        """Jobs/stages/tasks per span from the StatusTracker (call before
        the SparkContext stops)."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = list(st.getJobIdsForGroup(f"pb{sp['id']}"))
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    si = st.getStageInfo(s)
                    if si is None:
                        continue
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
            sp["counts"].update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def collect_event_log(self, log_dir: str) -> None:
        """Task busy seconds and shuffle bytes written per span, from the
        Spark event log of the last application (call after it stopped)."""
        files = glob.glob(os.path.join(log_dir, "local-*"))
        if not files:
            return
        path = max(files, key=os.path.getmtime)
        stage_group: dict[int, str] = {}
        busy: dict[str, float] = defaultdict(float)
        shuffle: dict[str, int] = defaultdict(int)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    busy[group] += m.get("Executor Run Time", 0) / 1000.0
                    shuffle[group] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for sp in self.spans:
            g = f"pb{sp['id']}"
            sp["counts"].update(task_busy_s=busy.get(g, 0.0), shuffle_bytes=shuffle.get(g, 0))

    # ------------------------------------------------------------------
    # self times
    # ------------------------------------------------------------------

    def self_times(self) -> list[dict]:
        """Spans with ``dur`` and ``self`` (seconds) filled in."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp["end"] is not None and sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out = []
        for sp in self.spans:
            if sp["end"] is None:
                continue
            dur = sp["end"] - sp["start"]
            out.append({**sp, "dur": dur, "self": dur - child[sp["id"]]})
        return out

"""Mergeable-sketch aggregation over Spark DataFrames.

The distributed pattern mirrors Spark's own partial/final hash aggregation,
expressed with Arrow-vectorized UDFs (never per-row Python):

  stage A  ``mapInArrow``    — one partial sketch per (partition × group);
                               skew-proof: a hot group contributes one tiny
                               binary state per partition, not its raw rows.
  stage B  tree merge        — ``groupBy(by, pmod(partition_id, buckets))``
                               levels while the partial count exceeds the
                               fan-in, so no single reducer ever sees more
                               than ``fanin`` states (matters at 10^5
                               input partitions on a real cluster).
  stage C  ``groupBy(by)``   — final merge + estimate.

This is the Spark-native equivalent of the reference's
fan-out / per-thread-sketch / merge harness
(``ExaLogLogEstimationErrorSimulation.java:101-121``) and of its 5-op
sketch protocol (``SketchConfig.java:345-353``).

For *high-cardinality* ``by`` (millions of groups), per-partition dicts of
states would exhaust map-side memory; use :func:`sketch_agg_salted`, which
shuffles rows on ``(by, salt)`` — explicit salt-based skew mitigation — and
builds per-(group, salt) sketches with ``applyInPandas`` before the final
merge.
"""

from __future__ import annotations

import abc
import time
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from ..sketchlib.bitops import as_u64, splitmix64
from ..sketchlib.exaloglog import ExaLogLog, ExaLogLogConfig

# ---------------------------------------------------------------------------
# sketch protocol
# ---------------------------------------------------------------------------


class SketchSpec(abc.ABC):
    """Picklable description of a mergeable sketch (the 5-op protocol)."""

    name: str = "sketch"

    @abc.abstractmethod
    def empty(self):
        ...

    @abc.abstractmethod
    def add(self, state, values: np.ndarray):
        """Fold a batch of values into state; returns the (new) state."""

    @abc.abstractmethod
    def merge(self, a, b):
        ...

    @abc.abstractmethod
    def serialize(self, state) -> bytes:
        ...

    @abc.abstractmethod
    def deserialize(self, data: bytes):
        ...

    @abc.abstractmethod
    def finalize(self, state) -> float:
        """Scalar result (e.g. the distinct-count estimate)."""

    def serialize_batch(self, states) -> list:
        """Serialize many states; must equal the per-state ``serialize``
        byte-for-byte (specs with fixed-width register states may override
        with a batched pack — identity pinned by test)."""
        return [self.serialize(s) for s in states]

    def merge_many(self, states):
        """Fold many states into one; must equal the sequential pairwise
        fold exactly (specs whose merge is associative+commutative may
        override with a batched strategy — byte-identity is pinned by the
        cross-strategy property test). Empty input yields ``empty()``."""
        states = list(states)
        if not states:
            return self.empty()
        out = states[0]
        for s in states[1:]:
            out = self.merge(out, s)
        return out


class ExaLogLogSpec(SketchSpec):
    """ExaLogLog over pre-hashed 64-bit values (uint64 numpy arrays)."""

    def __init__(self, t: int = 2, d: int = 20, p: int = 10):
        self.cfg = ExaLogLogConfig(t, d, p)
        self.name = f"exaloglog_t{t}_d{d}_p{p}"

    def empty(self) -> ExaLogLog:
        return ExaLogLog.from_config(self.cfg)

    def add(self, state: ExaLogLog, values: np.ndarray) -> ExaLogLog:
        return state.add_hashes(values)

    def merge(self, a: ExaLogLog, b: ExaLogLog) -> ExaLogLog:
        return a.merge_(b)

    def merge_many(self, states):
        """Batched k-way merge: stack the (same-config) register arrays and
        tree-reduce with O(log k) vectorized calls — byte-identical to the
        sequential fold, ~10x cheaper per pair on KB states."""
        from ..sketchlib.exaloglog import merge_registers_many

        states = list(states)
        if not states:
            return self.empty()
        if len(states) == 1:
            return states[0]
        c0 = states[0].cfg
        if any(s.cfg != c0 for s in states[1:]):
            return super().merge_many(states)  # heterogeneous: pairwise merge_
        out = states[0]
        out.regs = merge_registers_many(
            np.stack([s.regs for s in states]), c0.d
        )
        return out

    def serialize(self, state: ExaLogLog) -> bytes:
        return state.serialize()

    def serialize_batch(self, states) -> list:
        """Batched bit-pack of homogeneous register states (one numpy pass
        for the whole flush instead of ~16.5 µs of dispatch per state);
        falls back to the per-state loop for mixed/foreign states."""
        from ..sketchlib.bitops import pack_registers_batch

        states = list(states)
        cfg = self.cfg
        if len(states) < 2 or not all(
            isinstance(s, ExaLogLog) and s.cfg == cfg for s in states
        ):
            return [self.serialize(s) for s in states]
        packed = pack_registers_batch(
            np.stack([s.regs for s in states]), cfg.register_bits
        )
        return [row.tobytes() for row in packed]

    def deserialize(self, data: bytes) -> ExaLogLog:
        return ExaLogLog.wrap(self.cfg.t, self.cfg.d, data)

    def finalize(self, state: ExaLogLog) -> float:
        return state.estimate()

    def finalize_batch(self, states) -> np.ndarray:
        """Batched estimates straight from serialized states: one
        unpackbits + one contribute + one vectorized ML solve for the whole
        batch instead of a per-row deserialize + estimate — the estimate
        stage of many-group rollups/cubes (10^6+ groups at 100 TB)."""
        from ..sketchlib.bitops import unpack_registers_batch
        from ..sketchlib.exaloglog import estimate_batch

        cfg = self.cfg
        arr = np.frombuffer(b"".join(bytes(s) for s in states), dtype=np.uint8)
        regs2d = unpack_registers_batch(
            arr.reshape(len(states), -1), cfg.register_bits, cfg.m
        )
        return estimate_batch(regs2d, cfg.t, cfg.d, cfg.p)

    def theoretical_rse(self) -> float:
        return self.cfg.theoretical_rse_ml()


class SparseExaLogLogSpec(ExaLogLogSpec):
    """Hybrid sparse/dense ExaLogLog (the reference's sparse-mode design,
    ExaLogLog.java:236-253 javadoc): states stay a deduplicated sorted
    uint32 token array while small (near-exact estimates via the
    sketch-free token estimator, DistinctCountUtil.java:215-264), and
    densify to registers once the token set would outgrow the register
    state. Merge handles all sparse/dense combinations; dense(tokens(X))
    == dense-built(X) exactly, so mixed pipelines stay byte-consistent.

    Serialized form: 1-byte tag (0=sparse, 1=dense) + payload.
    """

    # sparse states are variable-length (tag + token array): no fixed-width
    # batch path — fall back to the per-row finalize
    finalize_batch = None

    def __init__(self, t: int = 2, d: int = 20, p: int = 10, max_sparse: int | None = None):
        super().__init__(t, d, p)
        # default: switch when the token array would exceed the dense state
        self.max_sparse = max_sparse or max(self.cfg.state_num_bytes // 4, 64)
        self.name = f"sparse_exaloglog_t{t}_d{d}_p{p}"

    def empty(self):
        return np.empty(0, dtype=np.uint32)  # sparse

    def _densify(self, tokens: np.ndarray) -> ExaLogLog:
        sk = ExaLogLog.from_config(self.cfg)
        sk.add_tokens(tokens.astype(np.uint64))
        return sk

    def add(self, state, values: np.ndarray):
        from ..sketchlib.exaloglog import compute_token

        tokens = compute_token(as_u64(values)).astype(np.uint32)
        if isinstance(state, ExaLogLog):
            state.add_tokens(tokens.astype(np.uint64))
            return state
        merged = np.union1d(state, tokens)
        if len(merged) > self.max_sparse:
            return self._densify(merged)
        return merged

    def merge(self, a, b):
        if isinstance(a, ExaLogLog):
            if isinstance(b, ExaLogLog):
                return a.merge_(b)
            a.add_tokens(b.astype(np.uint64))
            return a
        if isinstance(b, ExaLogLog):
            b.add_tokens(a.astype(np.uint64))
            return b
        merged = np.union1d(a, b)
        if len(merged) > self.max_sparse:
            return self._densify(merged)
        return merged

    def merge_many(self, states):
        """K-way merge across sparse/dense mixtures: one union over all
        sparse token arrays + one stacked register reduce over the dense
        states. Byte-identical to the sequential fold — the union is
        order-free and dense(tokens(X)) == dense-built(X) exactly, so the
        densify point doesn't affect the final state."""
        from ..sketchlib.exaloglog import merge_registers_many

        states = list(states)
        if not states:
            return self.empty()
        sparse = [s for s in states if not isinstance(s, ExaLogLog)]
        dense = [s for s in states if isinstance(s, ExaLogLog)]
        tokens = (
            np.unique(np.concatenate(sparse)) if sparse else np.empty(0, np.uint32)
        )
        if not dense:
            if len(tokens) > self.max_sparse:
                return self._densify(tokens)
            return tokens
        out = dense[0]
        if len(dense) > 1:
            out.regs = merge_registers_many(
                np.stack([s.regs for s in dense]), self.cfg.d
            )
        if tokens.size:
            out.add_tokens(tokens.astype(np.uint64))
        return out

    def serialize(self, state) -> bytes:
        if isinstance(state, ExaLogLog):
            return b"\x01" + state.serialize()
        return b"\x00" + state.astype("<u4").tobytes()

    def serialize_batch(self, states) -> list:
        # sparse states carry a mode prefix byte — the inherited
        # register-pack fast path would drop it; per-state is correct here
        return [self.serialize(s) for s in states]

    def deserialize(self, data: bytes):
        if data[:1] == b"\x01":
            return ExaLogLog.wrap(self.cfg.t, self.cfg.d, data[1:])
        return np.frombuffer(data, dtype="<u4", offset=1).copy()

    def finalize(self, state) -> float:
        if isinstance(state, ExaLogLog):
            return state.estimate()
        from ..sketchlib.exaloglog import estimate_distinct_from_tokens

        return estimate_distinct_from_tokens(state.astype(np.uint64))


class HyperLogLogSpec(ExaLogLogSpec):
    """ML-estimated HyperLogLog = ExaLogLog with t=0, d=0 (shared kernel).

    The identity is the reference's own framing: HLL is the (q=6, d=0, b=2)
    point of the generalized register model (``python/mvp.py:231``,
    ``probability_densities.py:31-36``); RSE constant 1.0367/√m
    (``PrecomputedConstants.java:45``).
    """

    def __init__(self, p: int = 12):
        super().__init__(t=0, d=0, p=p)
        self.name = f"hll_p{p}"


# ---------------------------------------------------------------------------
# value extractors: Arrow RecordBatch -> (flat values, per-row lengths)
#
# Extractors work on Arrow data directly (zero-copy buffer access for
# array<int32> columns) because Arrow->pandas conversion of list columns
# materializes one numpy object per row — measured 30-50x slower than
# reading the flattened values buffer.
# ---------------------------------------------------------------------------


class Extractor:
    """Turns a RecordBatch into a flat value array for SketchSpec.add.

    ``lengths`` is per-row value multiplicity (None = one value per row) —
    used to align values with group keys when aggregating with ``by``.
    """

    input_cols: tuple[str, ...] = ()

    def __call__(self, batch) -> tuple[np.ndarray, np.ndarray | None]:
        raise NotImplementedError


def flat_list_values(batch, col: str) -> tuple[np.ndarray, np.ndarray]:
    """(flat int64 values, per-row lengths) of an ``array<int32>`` column.

    THE child-array access pattern — offsets are never null so the
    zero-copy view applies; the ``zero_copy_only=False`` form routes the
    child array through a pathological conversion (~58 ms per batch
    measured for 1.5k offsets!) and is kept only as the fallback for
    exotic layouts. Single definition: token_array_values,
    token_trigram_values, and ops.profile.profile_values all call this so
    the fallback and slicing logic cannot drift."""
    arr = batch.column(col)
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    off_arr = arr.offsets
    try:
        offsets = off_arr.to_numpy().astype(np.int64, copy=False)
    except Exception:
        offsets = off_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.values.to_numpy(zero_copy_only=False)
    flat = flat[offsets[0] : offsets[-1]]  # respect any slicing
    return flat.astype(np.int64, copy=False), np.diff(offsets)


class token_array_values(Extractor):
    """Flatten an ``array<int32>`` column zero-copy and hash every token to
    64 bits with splitmix64 (the primary tokens:array<int32> path)."""

    def __init__(self, col: str):
        self.col = col
        self.input_cols = (col,)

    def __call__(self, batch):
        flat, lengths = flat_list_values(batch, self.col)
        return splitmix64(flat.view(np.uint64)), lengths


class token_trigram_values(Extractor):
    """Sliding 3-token windows of an ``array<int32>`` column, hashed to 64
    bits (order-sensitive chained splitmix64) — the sequence-level novelty
    unit: distinct trigrams vs total trigrams measures corpus repetition
    below the document level. Windows never cross row boundaries; rows
    shorter than 3 tokens contribute nothing. All work is one flat pass
    over the batch (no per-row Python)."""

    def __init__(self, col: str):
        self.col = col
        self.input_cols = (col,)

    def __call__(self, batch):
        flat, lengths = flat_list_values(batch, self.col)
        h = splitmix64(flat.view(np.uint64))
        n = len(h)
        if n < 3:
            return np.empty(0, dtype=np.uint64), np.zeros_like(lengths)
        # a window starting at flat position i is valid iff i+2 is still
        # inside the same row: i + 2 < row_end(i)
        rel_ends = np.repeat(np.cumsum(lengths), lengths)
        idx = np.arange(n, dtype=np.int64)
        s = idx[idx + 2 < rel_ends]
        # order-sensitive chaining: mix the accumulator BEFORE each xor
        # (a bare xor of the three would be symmetric under permutation)
        tri = splitmix64(splitmix64(splitmix64(h[s]) ^ h[s + 1]) ^ h[s + 2])
        return tri, np.maximum(lengths - 2, 0)


class hash64_values(Extractor):
    """Column already holds 64-bit hashes (e.g. from JVM-side F.xxhash64 —
    keeps the hashing inside whole-stage codegen)."""

    def __init__(self, col: str):
        self.col = col
        self.input_cols = (col,)

    def __call__(self, batch):
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        return vals.astype(np.int64, copy=False).view(np.uint64), None


class id64_values(Extractor):
    """Integer column passed through as RAW int64 ids (no hashing) — for
    identifiable-item summaries (Misra-Gries, count-min candidates) whose
    retained ids must round-trip to the caller. Do NOT feed these to
    register sketches (they want uniform hashes); and keep the dtype
    int64: mixing uint64 views into MG's int64 id arrays would silently
    promote to float64 (see CLAUDE.md numpy notes)."""

    def __init__(self, col: str):
        self.col = col
        self.input_cols = (col,)

    def __call__(self, batch):
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        return vals.astype(np.int64, copy=False), None


class int_values(Extractor):
    """Integer column hashed with splitmix64."""

    def __init__(self, col: str):
        self.col = col
        self.input_cols = (col,)

    def __call__(self, batch):
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        return splitmix64(vals.astype(np.int64, copy=False).view(np.uint64)), None


class float_values(Extractor):
    """Raw float values (for quantile sketches — no hashing)."""

    def __init__(self, col: str):
        self.col = col
        self.input_cols = (col,)

    def __call__(self, batch):
        return batch.column(self.col).to_numpy(zero_copy_only=False).astype(np.float64), None


# ---------------------------------------------------------------------------
# distributed aggregation
# ---------------------------------------------------------------------------


PARTIAL_COLS = "sketch binary, n_values long, partition_id long, build_secs double"


def local_df(spark, rows, schema: str) -> DataFrame:
    """Small driver-side rows -> DataFrame as a JVM LocalRelation.

    ``spark.createDataFrame(list, schema)`` builds a Python-RDD-backed
    plan whose scan re-runs a Python worker on EVERY execution (~0.3 s
    per job, measured) — a hidden per-query tax for the KB-sized result
    and seed rows this engine assembles. Routing the same rows through a
    pandas DataFrame (Arrow conversion path) materializes them into the
    JVM once, so downstream executions scan a LocalTableScan (~25 ms).
    Falls back to the classic path if the Arrow conversion rejects a
    type; results are identical either way."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    try:
        from pyspark.sql.types import _parse_datatype_string

        names = [f.name for f in _parse_datatype_string(schema).fields]
        pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=names)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def _by_schema(df: DataFrame, by: Sequence[str]) -> str:
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return "".join(f"{c} {fields[c]}, " for c in by)


_PA_TO_SPARK = {
    "string": "string",
    "large_string": "string",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "long",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "date32[day]": "date",
}


def _by_schema_from_fields(fields) -> str:
    parts = []
    for f in fields:
        parts.append(f"{f.name} {_PA_TO_SPARK[str(f.type)]}, ")
    return "".join(parts) + PARTIAL_COLS


def _build_partials_batches(
    batches,
    spec: "SketchSpec",
    extractor: "Extractor",
    by,
    flush_groups: int = 16384,
    num_partitions: int | None = None,
):
    """Shared stage-A builder: consume Arrow record batches, emit one partial
    sketch row per group seen in this task (vectorized grouping).

    Map-side memory is BOUNDED regardless of group cardinality: once the
    partial-state dict reaches ``flush_groups`` entries it is emitted and
    reset (the downstream tree merge groups by key, so multiple partials
    for the same group from one task merge exactly like partials from
    different tasks — byte-identical results, pinned in tests with forced
    mid-task flushes). In-memory states are UNPACKED register vectors
    (2^p x 8 B + dict overhead — ~8 KB at p=10, not the ~3.5 KB serialized
    form), and the threshold is checked per input batch, so the true bound
    is ~2 x flush_groups x unpacked_state_bytes: ~256 MB at the 16384
    default and p=10.

    Each flush is stamped with a DISTINCT partition_id
    (``pid + num_partitions * emit_index``) so the tree merge's
    pmod-bucketing spreads a hot group's flushed partials across reducers
    instead of funnelling them all into one (the fanin bound would
    otherwise break for groups present in every flush window).
    """
    import pyarrow as pa

    by = list(by)
    states: dict = {}
    counts: dict = {}
    key_fields = None
    t0 = time.monotonic()
    n_emits = 0
    stride = num_partitions or 65536

    def emit():
        nonlocal states, counts, t0, n_emits
        tc = TaskContext.get()
        base_pid = tc.partitionId() if tc is not None else 0
        pid = base_pid + stride * n_emits
        n_emits += 1
        secs = time.monotonic() - t0
        keys = list(states)
        data = {}
        fields = []
        for i, c in enumerate(by):
            f = key_fields[i]
            data[c] = pa.array([k[i] for k in keys], type=f.type)
            fields.append(pa.field(c, f.type))
        data["sketch"] = pa.array(
            spec.serialize_batch([states[k] for k in keys]), type=pa.binary()
        )
        data["n_values"] = pa.array([counts[k] for k in keys], type=pa.int64())
        data["partition_id"] = pa.array([pid] * len(keys), type=pa.int64())
        data["build_secs"] = pa.array([secs] * len(keys), type=pa.float64())
        fields += [
            pa.field("sketch", pa.binary()),
            pa.field("n_values", pa.int64()),
            pa.field("partition_id", pa.int64()),
            pa.field("build_secs", pa.float64()),
        ]
        states, counts = {}, {}
        t0 = time.monotonic()
        return pa.RecordBatch.from_arrays(
            [data[f.name] for f in fields], schema=pa.schema(fields)
        )

    for batch in batches:
        if key_fields is None and by:
            key_fields = [batch.schema.field(c) for c in by]
        values, lengths = extractor(batch)
        if not by:
            st = states.get(())
            states[()] = spec.add(st if st is not None else spec.empty(), values)
            counts[()] = counts.get((), 0) + len(values)
            continue
        if len(by) == 1:
            col = batch.column(by[0])
            if hasattr(col, "combine_chunks"):
                col = col.combine_chunks()
            enc = col.dictionary_encode()
            idx = enc.indices
            uniques = enc.dictionary.to_pylist()
            if idx.null_count:
                # null key rows get null dictionary indices (NaN -> INT64_MIN
                # under astype); group them under an explicit None key to
                # match Spark/SQL groupBy semantics (null is a group)
                idx = idx.fill_null(len(uniques))
                uniques = uniques + [None]
            try:
                # null-free -> zero-copy; zero_copy_only=False on this child
                # array is a ~40 ms/batch pathological conversion
                codes = idx.to_numpy().astype(np.int64, copy=False)
            except Exception:
                codes = idx.to_numpy(zero_copy_only=False).astype(np.int64)
            key_of = lambda c: (uniques[c],)  # noqa: E731
        else:
            pdf = pa.Table.from_batches([batch]).select(by).to_pandas()
            # normalize NaN -> None so null keys group together (NaN != NaN
            # would otherwise split a null group per row)
            key_cols = [
                pdf[c].astype(object).where(pd.notna(pdf[c]), None) for c in by
            ]
            codes, uniq = pd.factorize(
                pd.Series(list(zip(*key_cols))), sort=False
            )
            uniques = list(uniq)
            key_of = lambda c: tuple(uniques[c])  # noqa: E731
        rep = np.repeat(codes, lengths) if lengths is not None else codes
        order = np.argsort(rep, kind="stable")
        sv = values[order]
        rs = rep[order]
        starts = np.flatnonzero(np.concatenate(([True], rs[1:] != rs[:-1])))
        ends = np.concatenate((starts[1:], [len(rs)]))
        for s_i, e_i in zip(starts.tolist(), ends.tolist()):
            key = key_of(rs[s_i])
            seg = sv[s_i:e_i]
            st = states.get(key)
            states[key] = spec.add(st if st is not None else spec.empty(), seg)
            counts[key] = counts.get(key, 0) + (e_i - s_i)
        if by and len(states) >= flush_groups:
            yield emit()
    if not states:
        if by:
            return
        states[()] = spec.empty()
        counts[()] = 0
    yield emit()


def sketch_partials(
    df: DataFrame,
    spec: SketchSpec,
    extractor: Extractor,
    by: Sequence[str] = (),
) -> DataFrame:
    """Stage A: one partial sketch row per (input partition × group).

    Implemented with ``mapInArrow`` so list columns are consumed from the
    flattened Arrow values buffer (zero-copy) — never converted to pandas
    object arrays. Within a batch, rows are grouped by dictionary-encoding
    the key column and segment-sorting the repeated codes (all vectorized).

    Output schema: ``by..., sketch binary, n_values long, partition_id long,
    build_secs double`` — the metrics columns double as per-partition lineage
    (see ops/checkpoints.py).
    """
    by = list(by)
    cols = list(dict.fromkeys(by + list(extractor.input_cols)))
    df = df.select(*cols)  # column pruning reaches the scan

    schema = _by_schema(df, by) + PARTIAL_COLS
    num_p = df.rdd.getNumPartitions()

    def build(batches):
        yield from _build_partials_batches(
            batches, spec, extractor, by, num_partitions=num_p
        )

    return df.mapInArrow(build, schema=schema)


def _merge_level(
    partials: DataFrame, spec: SketchSpec, by: Sequence[str], bucket_expr
) -> DataFrame:
    """One tree-merge level: groupBy(by + bucket) -> merged partial rows."""
    by = list(by)
    gcols = by + ["__bucket"]
    lvl = partials.withColumn("__bucket", bucket_expr)
    schema = _by_schema(partials, by) + PARTIAL_COLS

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        st = spec.merge_many(spec.deserialize(bytes(d)) for d in pdf["sketch"])
        out = {c: [pdf[c].iloc[0]] for c in by}
        out["sketch"] = [spec.serialize(st)]
        out["n_values"] = [int(pdf["n_values"].sum())]
        out["partition_id"] = [int(pdf["__bucket"].iloc[0])]
        out["build_secs"] = [float(pdf["build_secs"].sum())]
        return pd.DataFrame(out)

    return lvl.groupBy(*gcols).applyInPandas(merge_group, schema=schema)


def tree_merge(
    partials: DataFrame,
    spec: SketchSpec,
    by: Sequence[str] = (),
    num_partials: int | None = None,
    fanin: int = 64,
    driver_fold_max_partials: int = 4096,
) -> DataFrame:
    """Stages B+C: iterative tree merge so no reducer sees > fanin states.

    ``num_partials`` = number of stage-A input partitions (known at plan
    time); with P partials we add ⌈log_fanin(P)⌉ - 1 intermediate levels.

    GLOBAL small-P fast path: an ungrouped aggregation with at most
    ``driver_fold_max_partials`` planned partials (KB-sized states, so a
    few MB total) collects the partial rows and folds them in numpy on
    the driver — the blessed collect-tiny-states pattern — skipping the
    shuffle + applyInPandas merge stages that otherwise dominate small-job
    wall time (~0.4 s of fixed DAG floor per query at sf0.1). Byte-
    identical by the exact merge algebra (order-independent); beyond the
    gate (e.g. 100k partials at 100 TB) the distributed tree runs as
    before. Grouped aggregations always take the tree (group states must
    stay distributed).

    Bound caveat under map-side flushing: stage A stamps each mid-task
    flush with a distinct partition_id (pid + stride*emit), so a task that
    flushes E times contributes up to E states per group — a first-level
    bucket then sees ~E×fanin states, not fanin. The flush stamps spread
    those states ACROSS buckets (pmod of distinct ids), so the overload is
    even, and each extra state costs one O(m) register-fold merge (~25 µs)
    — flushing only triggers at >=16384 live groups per task, where the
    per-group state count per task is near 1 and E stays small. Callers
    expecting pathological flushing (huge group cardinality × huge tasks)
    can lower ``fanin`` to restore headroom; the merge algebra keeps the
    result byte-identical regardless (pinned by the multi-batch flush
    byte-identity test).
    """
    by = list(by)
    if not by:
        if num_partials is not None and num_partials <= driver_fold_max_partials:
            rows = partials.collect()
            st = spec.merge_many(spec.deserialize(bytes(r.sketch)) for r in rows)
            n = sum(int(r.n_values) for r in rows)
            secs = float(sum(float(r.build_secs) for r in rows))
            return local_df(
                partials.sparkSession,
                [(spec.serialize(st), n, secs)],
                "sketch binary, n_values long, build_secs double",
            )
        # guarantee one output row even when the input plan is empty
        # (Catalyst may prune the scan to an empty relation, so stage A
        # never runs); merging the seed empty state is an identity
        seed = local_df(
            partials.sparkSession,
            [(spec.serialize(spec.empty()), 0, 0, 0.0)],
            PARTIAL_COLS,
        )
        partials = partials.unionByName(seed)
    remaining = num_partials if num_partials is not None else fanin
    while remaining > fanin:
        buckets = (remaining + fanin - 1) // fanin
        partials = _merge_level(
            partials, spec, by, F.pmod(F.col("partition_id"), F.lit(buckets))
        )
        remaining = buckets
    final = _merge_level(partials, spec, by, F.lit(0))
    return final.drop("partition_id")


def sketch_agg(
    df: DataFrame,
    spec: SketchSpec,
    extractor: Extractor,
    by: Sequence[str] = (),
    fanin: int = 64,
) -> DataFrame:
    """Full pipeline: partials -> tree merge. Returns one row per group with
    columns ``by..., sketch, n_values, build_secs``."""
    num_p = df.rdd.getNumPartitions()
    partials = sketch_partials(df, spec, extractor, by=by)
    return tree_merge(partials, spec, by=by, num_partials=num_p, fanin=fanin)


def sketch_agg_salted(
    df: DataFrame,
    spec: SketchSpec,
    extractor: Extractor,
    by: Sequence[str],
    salt_col: str,
    n_salts: int = 32,
    num_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Shuffle-based aggregation with explicit salting for skewed groups.

    Rows are repartitioned on ``(by, pmod(xxhash64(salt_col), n_salts))`` so
    a hot group (e.g. source='web' at 62% of a 10^12-row table) is split
    across n_salts reducers before any per-group state is built; the same
    vectorized Arrow partial builder then runs per shuffled partition and
    the tree merge recombines per group. Use when ``by`` has too many groups
    for map-side dict state on unshuffled partitions, or when a single
    group's rows must be spread to avoid reducer hot spots.
    """
    by = list(by)
    cols = list(dict.fromkeys(by + [salt_col] + list(extractor.input_cols)))
    n_part = num_shuffle_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism, n_salts
    )
    work = (
        df.select(*cols)
        .withColumn("__salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts)))
        .repartition(n_part, *(by + ["__salt"]))
        .drop("__salt")
    )
    partials = sketch_partials(work, spec, extractor, by=by)
    return tree_merge(partials, spec, by=by, num_partials=n_part)


def with_estimate(
    df: DataFrame, spec: SketchSpec, sketch_col: str = "sketch", out: str = "estimate"
) -> DataFrame:
    """Attach the sketch's scalar result as a double column (Arrow UDF).

    Specs exposing ``finalize_batch`` (dense ExaLogLog) estimate the whole
    Arrow batch in one vectorized shot; others fall back to per-row
    deserialize + finalize.
    """
    batch_fn = getattr(spec, "finalize_batch", None)

    if df.isLocal():
        # LocalRelation input (e.g. tree_merge's driver-fold row): collect
        # is driver-local and free, so estimate here and return another
        # LocalRelation instead of paying a one-row Python-UDF job
        # (~0.45 s of worker dispatch per execution). Identical values —
        # same finalize/finalize_batch code either way.
        rows = df.collect()
        sketches = [bytes(r[sketch_col]) for r in rows]
        if batch_fn is not None and rows:
            ests = [float(v) for v in np.asarray(batch_fn(sketches))]
        else:
            ests = [float(spec.finalize(spec.deserialize(s))) for s in sketches]
        return local_df(
            df.sparkSession,
            [tuple(r) + (e,) for r, e in zip(rows, ests)],
            ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
            )
            + f", {out} double",
        )

    @F.pandas_udf(DoubleType())
    def est(s: pd.Series) -> pd.Series:
        if batch_fn is not None and len(s):
            return pd.Series(np.asarray(batch_fn(list(s))), index=s.index)
        return s.map(lambda data: float(spec.finalize(spec.deserialize(bytes(data)))))

    return df.withColumn(out, est(F.col(sketch_col)))


def merge_two(spec: SketchSpec, a: bytes, b: bytes) -> bytes:
    """Driver-side convenience: merge two serialized states."""
    return spec.serialize(spec.merge(spec.deserialize(a), spec.deserialize(b)))

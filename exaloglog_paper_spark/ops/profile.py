"""One-pass multi-sketch table profiling (ANALYZE-style statistics).

``profile_token_table`` scans the token table ONCE and builds, per group,
every optimizer statistic the engine's sketches can answer:

- ExaLogLog  → distinct-token cardinality (ML estimate + published bound)
- count sketch → F2 / self-join size (the skew statistic pricing every
  hash-partitioned shuffle) + unbiased per-token frequencies
- Misra-Gries → deterministic heavy-hitter bracket
- KLL → n_tok quantiles (rank error ≤ eps)

The classical engine shape is one ANALYZE pass per statistic family; here
the four states ride the engine's single aggregation path as one
composite sketch (:class:`ProfileSpec`): ``sketch_agg`` /
``scan_sketch_agg`` / ``checkpointed_sketch_agg`` build one partial per
(task × group) over the same decoded Arrow batch (tokens are flattened
and splitmix-hashed once by :class:`profile_values`, shared by the ELL
and count-sketch updates) and fold them with the bounded-fanin tree
merge, so only one KB-state row per group ever reaches the driver. NULL
keys follow the engine rule (NULL is its own group); the profile
decoding drops that group.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from ..sketchlib.bitops import splitmix64
from ..sketchlib.countsketch import CountSketch
from ..sketchlib.exaloglog import ExaLogLog
from ..sketchlib.freqitems import MisraGries
from ..sketchlib.kll import KLL
from .agg import (
    ExaLogLogSpec,
    Extractor,
    SketchSpec,
    flat_list_values,
    sketch_agg,
    tree_merge,
)
from .checkpoints import checkpointed_sketch_agg
from .source import scan_sketch_agg
from .specs import CountSketchSpec, KLLSpec, MisraGriesSpec


@dataclass
class TokenProfile:
    """Per-group profile: merged sketch states + exact row/token counts."""

    group: str
    n_docs: int
    n_tokens: int
    ell: ExaLogLog
    cs: CountSketch
    mg: MisraGries
    kll: KLL


# One 16-byte element per token plus one marker per row, so zero-length
# rows still reach every group's state. A token carries its raw int64 ``id``
# and its splitmix64 hash ``h``; a row marker has ``id == ROW_MARKER``
# (outside the int32 token domain) and its row's ``ntok`` in the bytes of
# ``h`` (the two fields overlap).
ROW_MARKER = np.iinfo(np.int64).min
PROFILE_DTYPE = np.dtype(
    {
        "names": ["h", "ntok", "id"],
        "formats": ["<u8", "<f8", "<i8"],
        "offsets": [0, 0, 8],
    }
)


class profile_values(Extractor):
    """The profile's rows as one :data:`PROFILE_DTYPE` array per batch:
    each row is its marker followed by its tokens, hashed once here for
    both ELL and the count sketch. The stable group sort keeps every
    group's token and row order, so the member states match a per-group
    sequential build."""

    def __init__(self, tokens_col: str = "tokens", ntok_col: str = "n_tok"):
        self.tokens_col = tokens_col
        self.ntok_col = ntok_col
        self.input_cols = (tokens_col, ntok_col)

    def __call__(self, batch):
        flat, lengths = flat_list_values(batch, self.tokens_col)
        lengths = lengths + 1
        markers = np.cumsum(lengths) - lengths
        tok = np.ones(len(flat) + len(lengths), dtype=bool)
        tok[markers] = False
        out = np.empty(len(tok), dtype=PROFILE_DTYPE)
        out["id"][markers] = ROW_MARKER
        out["ntok"][markers] = batch.column(self.ntok_col).to_numpy(
            zero_copy_only=False
        )
        out["id"][tok] = flat
        out["h"][tok] = splitmix64(flat.view(np.uint64))
        return out, lengths


class _Members(list):
    """The [ell, cs, mg, kll] states; ``key`` keeps their serialized bytes
    when the state came from ``deserialize`` (the canonical merge key)."""

    key: tuple | None = None


class ProfileSpec(SketchSpec):
    """The profile's composite sketch over :data:`PROFILE_DTYPE` values:
    ELL and count sketch over the tokens' ``h``, Misra-Gries over their
    ``id``, KLL over the markers' ``ntok`` (a NULL ``n_tok`` is NaN,
    which KLL skips). Misra-Gries counts every token, so ``mg.n`` is the
    token count and ``n_values - mg.n`` the row count.

    Serialized form: four little-endian uint32 member lengths, then the
    member states in that order."""

    name = "profile"

    def __init__(
        self, t=2, d=20, p=10, cs_width=8192, cs_depth=5, mg_k=256, kll_k=200
    ):
        self.members = (
            ExaLogLogSpec(t, d, p),
            CountSketchSpec(cs_width, cs_depth),
            MisraGriesSpec(mg_k),
            KLLSpec(kll_k),
        )

    def empty(self):
        return _Members(m.empty() for m in self.members)

    def add(self, state, values):
        ell, cs, mg, kll = self.members
        ids = values["id"]
        doc = ids == ROW_MARKER
        tok = ~doc
        h = values["h"][tok]
        return _Members(
            (
                ell.add(state[0], h),
                cs.add(state[1], h),
                mg.add(state[2], ids[tok]),
                kll.add(state[3], values["ntok"][doc]),
            )
        )

    def merge(self, a, b):
        return self.merge_many([a, b])

    def merge_many(self, states):
        """Fold in canonical order: MG and KLL retain merge-order-dependent
        sets, so partials are sorted on their member bytes first — the
        same partial set merges the same way whatever order the shuffle
        delivers it in (resumes and reruns stay byte-identical)."""
        states = sorted(
            states,
            key=lambda s: s.key
            if s.key is not None
            else tuple(m.serialize(x) for m, x in zip(self.members, s)),
        )
        return _Members(
            m.merge_many([s[i] for s in states])
            for i, m in enumerate(self.members)
        )

    def serialize(self, state) -> bytes:
        parts = [m.serialize(x) for m, x in zip(self.members, state)]
        return struct.pack("<4I", *map(len, parts)) + b"".join(parts)

    def deserialize(self, data):
        data = bytes(data)
        parts, off = [], 16
        for n in struct.unpack_from("<4I", data):
            parts.append(data[off : off + n])
            off += n
        state = _Members(m.deserialize(b) for m, b in zip(self.members, parts))
        state.key = tuple(parts)
        return state

    def finalize(self, state) -> float:
        return self.members[0].finalize(state[0])


def fold_partials_df(
    partials: DataFrame, spec: ProfileSpec, num_partials: int | None = None
) -> DataFrame:
    """Tree-merge per-``source`` ``ProfileSpec`` partials
    (``sketch_partials(..., by=["source"])``) to one row per source. The
    profile entry points reach ``tree_merge`` through the agg entry
    points; this name stays for the fold-plan tests, ``bench_extra.py``
    and the benchmark tracer's span."""
    return tree_merge(partials, spec, by=["source"], num_partials=num_partials)


def _profiles(rows, spec: ProfileSpec, by: str) -> dict[str, TokenProfile]:
    """Decode merged rows into TokenProfiles (the NULL group is dropped)."""
    out: dict[str, TokenProfile] = {}
    for r in rows:
        if r[by] is None:
            continue
        ell, cs, mg, kll = spec.deserialize(r["sketch"])
        g = str(r[by])
        out[g] = TokenProfile(g, r["n_values"] - mg.n, mg.n, ell, cs, mg, kll)
    return out


def profile_token_table(
    df: DataFrame,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
    t: int = 2,
    d: int = 20,
    p: int = 10,
    cs_width: int = 8192,
    cs_depth: int = 5,
    mg_k: int = 256,
    kll_k: int = 200,
) -> dict[str, TokenProfile]:
    """One scan of ``df`` → per-``by``-group TokenProfile."""
    spec = ProfileSpec(t, d, p, cs_width, cs_depth, mg_k, kll_k)
    ex = profile_values(tokens_col, ntok_col)
    return _profiles(sketch_agg(df, spec, ex, by=[by]).collect(), spec, by)


def checkpointed_profile(
    spark,
    path: str,
    ckpt_dir: str,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
    t: int = 2,
    d: int = 20,
    p: int = 10,
    cs_width: int = 8192,
    cs_depth: int = 5,
    mg_k: int = 256,
    kll_k: int = 200,
    num_buckets: int = 8,
) -> dict[str, TokenProfile]:
    """Resumable one-pass ANALYZE over a parquet token table:
    ``profile_token_table`` through ``checkpointed_sketch_agg``, so a
    rerun recomputes ONLY missing buckets and the canonical merge order
    makes the resumed result byte-identical to an uninterrupted run for
    every state, including the merge-order-dependent MG/KLL summaries.
    ``ops.checkpoints.lineage_metrics`` reads the bucket dirs directly as
    the lineage/metrics table."""
    spec = ProfileSpec(t, d, p, cs_width, cs_depth, mg_k, kll_k)
    ex = profile_values(tokens_col, ntok_col)
    df = checkpointed_sketch_agg(
        spark, path, spec, ex, ckpt_dir, by=[by], num_buckets=num_buckets
    )
    return _profiles(df.collect(), spec, by)


def scan_profile(
    spark,
    path: str,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
    t: int = 2,
    d: int = 20,
    p: int = 10,
    cs_width: int = 8192,
    cs_depth: int = 5,
    mg_k: int = 256,
    kll_k: int = 200,
) -> dict[str, TokenProfile]:
    """``profile_token_table`` over the pyarrow-native row-group scan
    (``scan_sketch_agg``) — bypasses the JVM→Arrow bridge for the
    ``array<int32>`` column. Same result contract: register/linear states
    byte-identical to the Spark-scan build; MG/KLL guarantee-level (their
    retained sets are partitioning-dependent)."""
    spec = ProfileSpec(t, d, p, cs_width, cs_depth, mg_k, kll_k)
    ex = profile_values(tokens_col, ntok_col)
    df = scan_sketch_agg(spark, path, spec, ex, by=[by])
    return _profiles(df.collect(), spec, by)

"""Seeded input generators for the workloads.

Every input is a pure function of ``(seed, size)`` and is written to parquet
under the benchmark's work directory; the engine only ever sees those files.
Ground truth is computed while generating, so the output checks never run
the engine against itself:

- token tables use the engine's own F1 generator (``ops.tokens.generate_rows``),
  written in chunks by a small process pool so no process holds the table;
  each chunk returns per-source row/token totals and an exact distinct-token
  bitmap over the 50,257-token vocabulary;
- the documents table mimics the ``documents`` test tables (TESTDATA.md; uniform
  words over a 30-word vocabulary, 10-100 words per doc, 5% of docs a copy
  of an earlier doc plus " dup", ``source = src{doc_id % 20}``); the seed
  shuffles a fixed corpus (see ``document_rows``). Its expected
  near-duplicate pair counts come from ``neardup_oracle``.

A finished input directory holds ``truth.json`` (written last), so a rerun
with the same seed and size reuses it.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np


def _token_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("doc_id", pa.string()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
        ]
    )


def token_chunk(path: str, lo: int, hi: int, seed: int) -> dict:
    """Generate rows [lo, hi) into one parquet file of one row group; return
    its exact truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from exaloglog_paper_spark.ops.tokens import VOCAB_SIZE, generate_rows

    pdf = generate_rows(np.arange(lo, hi, dtype=np.uint64), seed)
    table = pa.Table.from_pandas(pdf, schema=_token_schema(), preserve_index=False)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    per_source = {}
    for src in np.unique(pdf["source"]):
        sel = (pdf["source"] == src).to_numpy()
        toks = np.concatenate(pdf.loc[sel, "tokens"].to_list())
        seen = np.zeros(VOCAB_SIZE, dtype=bool)
        seen[toks] = True
        per_source[str(src)] = {
            "docs": int(sel.sum()),
            "tokens": int(len(toks)),
            "bitmap": np.packbits(seen).tobytes().hex(),
        }
    return {"file": os.path.basename(path), "per_source": per_source}


def _bitmap(hexstr: str) -> np.ndarray:
    return np.unpackbits(np.frombuffer(bytes.fromhex(hexstr), dtype=np.uint8)).astype(bool)


def summarize(chunks: list[dict]) -> dict:
    """Fold chunk truths into exact per-source and global counts."""
    sources: dict[str, dict] = {}
    global_seen = None
    for ch in chunks:
        for src, t in ch["per_source"].items():
            bm = _bitmap(t["bitmap"])
            s = sources.setdefault(src, {"docs": 0, "tokens": 0, "seen": np.zeros_like(bm)})
            s["docs"] += t["docs"]
            s["tokens"] += t["tokens"]
            s["seen"] |= bm
            global_seen = bm.copy() if global_seen is None else global_seen | bm
    per_source = {
        src: {"docs": s["docs"], "tokens": s["tokens"], "distinct": int(s["seen"].sum())}
        for src, s in sorted(sources.items())
    }
    return {
        "rows": sum(s["docs"] for s in per_source.values()),
        "tokens": sum(s["tokens"] for s in per_source.values()),
        "distinct": int(global_seen.sum()) if global_seen is not None else 0,
        "per_source": per_source,
    }


def _done(out_dir: str) -> dict | None:
    try:
        with open(os.path.join(out_dir, "truth.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _fresh(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)


def _finish(out_dir: str, truth: dict, t0: float) -> dict:
    truth["generate_s"] = time.perf_counter() - t0
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def token_files(out_dir: str, rows: int, seed: int, files: int, pool) -> dict:
    """F1 token table of rows ``0 .. rows`` split into ``files`` parquet
    files, one row group each."""
    cached = _done(out_dir)
    if cached is not None:
        return cached
    t0 = time.perf_counter()
    _fresh(out_dir)
    bounds = np.linspace(0, rows, files + 1).astype(np.int64)
    paths = [os.path.join(out_dir, f"part-{i:04d}.parquet") for i in range(files)]
    chunks = pool.map(token_chunk, paths, bounds[:-1].tolist(), bounds[1:].tolist(), [seed] * files)
    return _finish(out_dir, summarize(list(chunks)), t0)


VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.14, 0.15, 0.15, 0.15]


CORPUS_SEED = 42


def document_rows(n: int, seed: int):
    """The documents table as a pandas frame (see module docstring): a
    corpus drawn once from ``CORPUS_SEED``, shuffled by ``seed`` and
    renumbered 0..n-1, so each seed lays out the same documents under other
    ids, sources and partitions. The content stays fixed because the
    near-dup work grows with the square of the LSH/SimHash bucket sizes:
    two freshly drawn 400-doc corpora differ by up to 2x in SimHash work."""
    import pandas as pd

    rng = np.random.default_rng(CORPUS_SEED)
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang_idx = np.minimum(np.searchsorted(np.cumsum(LANG_WEIGHTS), rng.random(n), side="right"), len(LANGS) - 1)
    order = np.random.default_rng(seed).permutation(n)
    ids = np.arange(n, dtype=np.int64)
    texts = [texts[i] for i in order]
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.asarray(LANGS)[lang_idx[order]],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def documents(out_dir: str, n: int, seed: int) -> dict:
    """``out_dir/documents.parquet`` plus the exact pair counts of the four
    near-dup queries (``neardup_oracle``)."""
    cached = _done(out_dir)
    if cached is not None:
        return cached
    import pyarrow as pa
    import pyarrow.parquet as pq

    from neardup_oracle import pair_counts

    t0 = time.perf_counter()
    _fresh(out_dir)
    pdf = document_rows(n, seed)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(out_dir, "documents.parquet"))
    return _finish(out_dir, {"docs": n, "pairs": pair_counts(pdf["doc_id"].to_numpy(), pdf["text"].tolist())}, t0)

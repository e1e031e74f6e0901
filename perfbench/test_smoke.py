"""Smoke test of the benchmark at tiny size (a few thousand token rows, 500
documents): every metric BENCHMARK.json names prints with its unit, and every
output check passes. Also pins the numpy near-dup oracle to the repo's DuckDB
oracles.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Run from the root of the checkout; it takes a few minutes (one Spark session
per workload and trace mode).
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _left_behind() -> list[int]:
    """Processes a run left behind. This process is a child subreaper, so a
    process that outlives the run that started it is re-parented here, and
    stays listed (as a zombie) even if it exits right after the run; each
    one found is stopped and reaped."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    me, found = os.getpid(), []
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited while listing
            continue
        if ppid == me:
            found.append(int(p))
    for p in found:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
        os.waitpid(p, 0)
    return found


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_prints_and_checks_pass(workload, trace):
    _left_behind()
    proc = _run(workload, trace)
    assert not _left_behind(), "a process the run started outlived it"
    assert proc.returncode == 0, proc.stderr[-4000:]
    report, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    assert result["correct"] is True and result["failed"] == 0, report["failures"]
    assert result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and got["value"] == got["value"], m["name"]
    if trace:
        for op, b in report["layer_breakdown"].items():
            assert abs(b["wall_minus_sum_s"]) < 1e-6, op
    else:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in wanted)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(BENCH["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_layer_table_matches_benchmark_json():
    import layers

    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        (row[0], row[1], row[2]) for row in layers.TABLE
    ]


def test_neardup_oracle_matches_duckdb(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entry

    import inputs
    from neardup_oracle import pair_counts

    pdf = inputs.document_rows(500, seed=7)
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path, index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    sql = entry.oracle_sql()
    got = pair_counts(pdf["doc_id"].to_numpy(), pdf["text"].tolist())
    want = {q: con.execute(f"SELECT count(*) FROM ({sql[q]})").fetchone()[0] for q in got}
    assert got == want

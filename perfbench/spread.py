"""Run the benchmark on several seeds per workload and summarise each
end-to-end metric: median, quartiles and spread (quartile distance / median).

    python3 perfbench/spread.py --seeds 101-110 [--workloads token_scan,near_dup] [--out perfbench/baseline.json]

Run from the root of the checkout. Each run is a separate process, one at a
time, with the command and run length BENCHMARK.json gives; the summary is
printed as JSON and, with ``--out``, written to that file together with every
run's result line.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    runs: dict[str, list[dict]] = {}
    for name in names:
        for seed in seeds(args.seeds):
            cmd = bench["command"] + [
                "--workload", name, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                return 1
            report, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
            runs.setdefault(name, []).append(
                {
                    "seed": seed,
                    "result": result,
                    "operations": report["operations"],
                    "samples": report["samples"],
                    "cpu_samples": report["cpu_samples"],
                    "stamp": report["stamp"],
                }
            )
            print(name, seed, json.dumps(result), file=sys.stderr, flush=True)
    summary = {
        name: {
            "correct": all(r["result"]["correct"] for r in rs),
            "metrics": {
                m: summarise([r["result"]["metrics"][m]["value"] for r in rs]) for m in rs[0]["result"]["metrics"]
            },
            "operations": {
                op: summarise([r["operations"][op]["value"] for r in rs])
                for op in rs[0]["operations"]
                if all(isinstance(r["operations"][op]["value"], (int, float)) for r in rs)
            },
        }
        for name, rs in runs.items()
    }
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

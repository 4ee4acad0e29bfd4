"""Steadiness evidence: two independent sets of runs per workload.

    python3 perfbench/steadiness.py --seeds 10 --sets 2 [--workloads extract ...]

Each set runs every workload once per seed through ``run.py`` (set k
uses seeds k*1000+1 .. k*1000+N, so no two runs share inputs). For each
end-to-end metric it records the set's median and quartiles, and the
spread: the distance between the quartiles as a share of the median.
A workload is steady when every spread except that of ``setup_s`` is
below a third of the metric's bound in BENCHMARK.json and each set's
median is within the bound of the first set's. Writes
``perfbench/results/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
REPO = HERE.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med}


def worse_by(metric: dict, base: float, new: float) -> float:
    """How much worse `new` is than `base`, as a share of `base`."""
    change = (new - base) / base
    return change if metric["better"] == "lower" else -change


def judge(sets: list[dict], metrics: dict) -> dict:
    """Per metric: the largest spread of any set, and how much worse
    than the first set's median any later set's median is."""
    verdict = {}
    for n, m in metrics.items():
        spreads = [s["metrics"][n]["spread"] for s in sets]
        drift = max((worse_by(m, sets[0]["metrics"][n]["median"], s["metrics"][n]["median"])
                     for s in sets[1:]), default=0.0)
        verdict[n] = {
            "max_spread": max(spreads),
            "spread_limit": m["bound"] / 3,
            "max_median_drift": drift,
            "bound": m["bound"],
            "steady": (n == "setup_s" or max(spreads) < m["bound"] / 3)
                      and drift <= m["bound"],
        }
    return verdict


def main() -> int:
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=str(HERE / "results" / "steadiness.json"))
    args = ap.parse_args()

    metrics = {m["name"]: m for m in bench["end_to_end"]}
    report: dict = {"seconds": args.seconds, "seeds_per_set": args.seeds, "workloads": {}}
    for workload in args.workloads:
        sets = []
        for k in range(args.sets):
            runs = []
            for seed in range(k * 1000 + 1, k * 1000 + args.seeds + 1):
                r = run_once(workload, seed, args.seconds)
                runs.append(r)
                print(workload, k, seed, json.dumps(
                    {n: round(m["value"], 4) for n, m in r["metrics"].items()}),
                    flush=True)
            sets.append({
                "seeds": [k * 1000 + 1, k * 1000 + args.seeds],
                "failed": sum(r["failed"] for r in runs),
                "attempted": sum(r["attempted"] for r in runs),
                "metrics": {n: summarize([r["metrics"][n]["value"] for r in runs])
                            for n in metrics},
            })
        verdict = judge(sets, metrics)
        report["workloads"][workload] = {"sets": sets, "verdict": verdict}
        print(workload, json.dumps(verdict), flush=True)

    out = pathlib.Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/results/steadiness.json

Runs ``perfbench/run.py`` once per seed and workload, one process at a time,
and reports for every metric its median, quartiles and spread: the distance
between the first and third quartile (``statistics.quantiles(values, n=4)``)
as a share of the median. With ``--trace 1`` it runs the traced form and
also reports whether each count repeats exactly across the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    report: dict = {"seconds": args.seconds, "trace": args.trace, "workloads": {}}
    for workload in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            if args.trace:
                record = os.path.join(
                    ROOT, ".perfbench_work", "traces", f"{workload}-seed{seed}-trace1.json"
                )
                with open(record) as fh:
                    result["traced_end_to_end"] = json.load(fh)["end_to_end"]
            runs.append({"seed": seed, "wall_s": wall, **result})
            print(f"{workload} seed {seed}: {wall:.1f} s, correct={result['correct']}", flush=True)
        metrics = {
            name: summarize([r["metrics"][name]["value"] for r in runs])
            for name in runs[0]["metrics"]
        }
        entry = {
            "runs": len(runs),
            "all_correct": all(r["correct"] for r in runs),
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "metrics": metrics,
        }
        if args.trace:
            entry["traced_end_to_end"] = {
                name: summarize([r["traced_end_to_end"][name] for r in runs])
                for name in runs[0]["traced_end_to_end"]
            }
            entry["counts_repeat_exactly"] = {
                m["name"]: len(set(metrics[m["name"]]["values"])) == 1
                for m in spec["per_layer"]
                if m["unit"] == "count"
            }
        report["workloads"][workload] = entry
        for name, m in metrics.items():
            print(f"  {name:40s} median {m['median']:12.6g}  spread {m['spread']:.4f}")

    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

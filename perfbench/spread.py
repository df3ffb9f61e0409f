#!/usr/bin/env python3
"""Runs the benchmark once per seed and reports each end-to-end metric's
spread: the distance between the first and third quartile of its values
(statistics.quantiles(values, n=4)) as a share of their median.

    python3 perfbench/spread.py --workload registry_mix --seeds 10 [--first-seed 1]

Run from the repository root. Every run's result line is appended to
.bench_out/spread-<workload>.jsonl. Exits non-zero if any run failed.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int,
                   default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"])
    a = p.parse_args()
    out = pathlib.Path(".bench_out")
    out.mkdir(exist_ok=True)
    values, bad = {}, 0
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            bad += 1
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(last)
        with open(out / f"spread-{a.workload}.jsonl", "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        if len(vs) >= 2:
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"{k}: n={len(vs)} median={statistics.median(vs):.4f} "
                  f"spread={(q3 - q1) / statistics.median(vs):.4f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

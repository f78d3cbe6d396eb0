"""Run one workload over several seeds and report each metric's median
and quartile spread (interquartile distance as a share of the median),
the statistic the bounds in BENCHMARK.json are set against.

    python3 perfbench/spread.py --workload kg_build --seeds 1-10 [--trace 0]

One run at a time; each run's JSON result line is appended to
``perfbench/_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.tracing import median, quartile_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    log = os.path.join(HERE, "_work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, timeout=900,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            continue
        res = json.loads(lines[-1])
        # the run's summary lines (host speed, wall-clock times, info)
        summary = [x for x in proc.stderr.splitlines() if x.startswith("perfbench: ")]
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **res,
                                "summary": summary}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {walls[-1]:.1f} s correct {res['correct']} "
              f"failed {res['failed']}/{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                  if args.trace == 0), flush=True)
    print(f"process wall: median {median(walls):.1f} s, max {max(walls):.1f} s")
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for k, vs in values.items():
        if len(vs) >= 2:
            spread = quartile_spread(vs)
            b = bounds.get(k)
            note = "" if b is None else f"  bound {b} (spread/bound {spread / b:.2f})"
            print(f"{k}: n={len(vs)} median {median(vs):.4g} spread {spread:.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

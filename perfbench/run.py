"""driftmind_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload kg_build --seed 42 --seconds 10 --trace 0

Run from the repository root (or anywhere: paths are resolved from this
file).  Inputs are generated from ``--seed`` and cached under
``perfbench/_work``.  With ``--trace 0`` the result holds the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` Spark's event log and
the benchmark's spans are on and the result holds the per-layer metrics.
Every operation's output is checked; the last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A human-readable summary (host, extra figures, tracing overhead) goes to
standard error.  See perfbench/README.md.
"""

from __future__ import annotations

import os
import time

# Process start, for setup_s: the supervisor's, passed on to the child
# that runs the benchmark (perf_counter is the system-wide monotonic
# clock on Linux).
T_START = float(os.environ.get("PERFBENCH_T_START", time.perf_counter()))

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end wall times, reported at the reference host speed
TIMES = ("setup_s", "work_s")
# a run that has not ended by then is stopped, and fails
DEADLINE_S = 175


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark threads (default: every CPU in the affinity mask)")
    ap.add_argument("--record", action="store_true",
                    help="store this run's outputs as the expected outputs "
                         "of the default seed")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    missing = [p for p in ("driftmind_spark", "__spark_entry__.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        return _fail(f"{', '.join(missing)} not found under {ROOT}: run the "
                     "benchmark from a full checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)

    # import the benchmark as a package from the repository root, not its
    # modules by bare name from this directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench.harness import Bench, host_cores
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    allowed = host_cores()
    cores = args.cores or allowed
    if cores > allowed:
        return _fail(f"asked for {cores} Spark threads but the affinity mask "
                     f"allows {allowed} CPUs")
    if args.seconds < 1:
        return _fail("--seconds must be at least 1")

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
              cores, T_START)
    try:
        b.calibrate()
        result = WORKLOADS[args.workload](b)
        b.stop_spark()
        b.calibrate()
        bad = b.verify(record=args.record)
    finally:
        b.close()
    slowdown = b.slowdown()
    raw = result["e2e"]
    e2e = {k: v / slowdown if k in TIMES else v for k, v in raw.items()}

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        layers = dict(result["layers"])
        for phase in ("session", "registry", "warm_pass", "index"):
            layers[f"setup.{phase}_s"] = b.setup.get(phase, 0.0)
        names = [m["name"] for m in spec["per_layer"]]
        unlisted = sorted(set(layers) - set(names))
        if unlisted:
            return _fail(f"per-layer metrics missing from BENCHMARK.json: {unlisted}")
        # a layer the workload does not run did no work: 0
        values = {n: layers.get(n, 0) for n in names}
    else:
        values = e2e
        absent = [m["name"] for m in spec["end_to_end"] if m["name"] not in values]
        if absent:
            return _fail(f"workload {args.workload} did not measure {absent}")

    # tracing overhead: traced end-to-end figures against the last
    # untraced run of the same workload and seed
    res_path = os.path.join(HERE, "_work", "results", f"{args.workload}-s{args.seed}.json")
    if not args.trace:
        os.makedirs(os.path.dirname(res_path), exist_ok=True)
        with open(res_path, "w") as f:
            json.dump(e2e, f)
    elif os.path.exists(res_path):
        with open(res_path) as f:
            base = json.load(f)
        over = {k: f"{e2e[k] - v:+.3f} ({(e2e[k] / v - 1) * 100:+.1f}%)"
                for k, v in base.items() if k in e2e and v}
        _log(f"tracing overhead vs untraced run: {over}")
    else:
        _log("tracing overhead: no untraced run of this workload and seed recorded")

    _log(f"host {json.dumps(b.host)}")
    _log(f"{args.workload} seed {args.seed}: end-to-end "
         f"{json.dumps({k: round(v, 4) for k, v in e2e.items()})}")
    _log(f"host slowdown {slowdown:.3f} x reference (control bursts "
         f"{json.dumps([round(c, 3) for c in b.calib])} s); wall-clock "
         f"{json.dumps({k: round(raw[k], 4) for k in TIMES})}")
    _log(f"setup phases {json.dumps({k: round(v, 3) for k, v in b.setup.items()})}, "
         f"input generation {b.gen_s:.3f} s")
    _log(f"info {json.dumps(result['info'])}")
    if bad:
        _log(f"OUTPUT MISMATCH in {len(bad)} operation(s): {bad}")
    out = {
        "correct": not bad,
        "attempted": b.attempted,
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if not bad else 1


def supervised() -> int:
    """Run :func:`main` in a child process and return when it, and every
    process it started (the Spark JVM, Python workers, control-burst
    workers), has ended."""
    sys.path.insert(0, ROOT)
    from perfbench.procs import supervise

    env = dict(os.environ, PERFBENCH_CHILD="1", PERFBENCH_T_START=repr(T_START))
    rc = supervise([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                   env, DEADLINE_S)
    if rc == 124:
        _log(f"stopped: the run did not end within {DEADLINE_S} s")
    elif rc == 130:
        _log("stopped by a signal")
    return 128 - rc if rc < 0 else rc


if __name__ == "__main__":
    sys.exit(main() if os.environ.get("PERFBENCH_CHILD") else supervised())

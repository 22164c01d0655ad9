#!/usr/bin/env python3
"""Run the benchmark once per seed and report, for each workload and
end-to-end metric, the median, the quartiles and the spread
((Q3 - Q1) / median) next to the metric's bound.

    python3 perfbench/spread.py --runs 10 [--workload olap] [--first-seed 1] \
        [--out perfbench/baseline.json]

Runs are sequential (one Spark process at a time). A metric is steady
when its spread is below a third of its bound; the exit code is 1 if
any metric is not steady or any run failed. ``--out`` records the
figures with the workload definitions (the "why" of each is copied
from BENCHMARK.json), input sizes and host core count, as the baseline
later changes are compared against.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import cores  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, float, list[float]]:
    """One untraced run: its result line, its wall time and the host
    loop readings it logged."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=600, check=True)
    host = [float(line.split()[1]) for line in out.stderr.splitlines()
            if line.startswith("host_loop_s ")]
    return json.loads(out.stdout.strip().splitlines()[-1]), time.perf_counter() - t0, host


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def input_sizes(sf: float, seed: int) -> tuple[int, int]:
    """Bytes of the generated tables, and delay events of the GTFS feed
    the traced run's chain ingests, for ``seed``."""
    sys.path.insert(0, ROOT)
    from transit_data_pipeline_spark.gtfs import synth

    tmp = os.path.join(HERE, "_work", f"sizes-{os.getpid()}")
    try:
        n_bytes = gen.write(tmp, sf, seed)
        n_events = len(synth.generate(os.path.join(tmp, "gtfs"), seed=seed)["delay_events"])
        return n_bytes, n_events
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    report = {
        "nproc": cores(),
        "loop": "closed",
        "clients": 1,
        "run_seconds": spec["run_seconds"],
        "workloads": {},
    }
    why = {w["name"]: w["why"] for w in spec["workloads"]}
    ok = True
    for name in args.workload or list(why):
        wl = WORKLOADS[name]
        runs = [run_once(spec, name, s)
                for s in range(args.first_seed, args.first_seed + args.runs)]
        results = [r for r, _, _ in runs]
        failed = sum(r["failed"] for r in results)
        attempted = sum(r["attempted"] for r in results)
        ok &= failed == 0
        print(f"{name}: {attempted} calls attempted, {failed} failed")
        metrics = {}
        for m, meta in e2e.items():
            s = summarize([r["metrics"][m]["value"] for r in results])
            steady = s["spread"] < meta["bound"] / 3
            ok &= steady
            print(f"  {m:14s} median {s['median']:.4g} {meta['unit']}  "
                  f"Q1 {s['q1']:.4g}  Q3 {s['q3']:.4g}  spread {s['spread']:.3f}  "
                  f"bound {meta['bound']}{'' if steady else '  NOT STEADY'}")
            metrics[m] = {"unit": meta["unit"], "better": meta["better"],
                          "bound": meta["bound"], **s}
        n_bytes, n_events = input_sizes(wl.sf, args.first_seed)
        report["workloads"][name] = {
            "why": why[name],
            "queries": list(wl.queries),
            "sf": wl.sf,
            "input_bytes": n_bytes,
            "gtfs_part": wl.gtfs_part,
            "gtfs_delay_events": n_events,
            "seeds": [args.first_seed, args.first_seed + args.runs - 1],
            "attempted": attempted,
            "failed": failed,
            "run_wall_s": [round(w, 1) for _, w, _ in runs],
            # per run: host loop time at its start and at its passes' end
            "host_loop_s": [[round(h, 3) for h in hs] for _, _, hs in runs],
            "metrics": metrics,
        }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

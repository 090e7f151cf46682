"""Steadiness check: repeat each workload over several seeds and report
each end-to-end metric's run-to-run spread against its bound.

    python3 perfbench/steady.py                      # every workload in BENCHMARK.json
    python3 perfbench/steady.py --workloads ingest_curate --seeds 5
    python3 perfbench/steady.py --traced             # also one traced run per workload

Run from the root of a checkout. Each run is a fresh process
(``perfbench/run.py``), one after another. The spread of a metric is
the distance between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) as a share of their median;
a bound in BENCHMARK.json should sit at three times the spread or
more. After the seeded runs, one more run uses a seed that was not
used while the benchmark was built, and must agree with the others.
With ``--traced``, one traced run per workload gives the tracing
overhead: its end-to-end numbers minus those of the untraced run of
the same seed. Results also go to ``.perfbench_out/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

UNSEEN_SEED = 104729


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    named, info = {}, ""
    for line in lines:
        if line.startswith("info "):
            info = line[5:]
        if line.startswith("metric "):
            _, name, value, unit = line.split()
            named[name] = float(value)
    return {"result": json.loads(lines[-1]), "named": named, "info": info, "wall_s": wall}


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv: list[str] | None = None) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, default=10, help="seeds 1..N")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {}
    ok = True
    for wl in args.workloads:
        runs = [run_once(wl, s, args.seconds, 0) for s in range(1, args.seeds + 1)]
        rows = {}
        for name, bound in bounds.items():
            values = [r["result"]["metrics"][name]["value"] for r in runs]
            med, spr = spread(values)
            rows[name] = {"median": med, "spread": spr, "bound": bound, "values": values}
            mark = "ok" if spr <= bound / 3 else ("wide" if spr <= bound else "FAIL")
            ok = ok and spr <= bound
            print(f"{wl:8s} {name:14s} median {med:12.4f}  spread {spr:6.3f}  "
                  f"bound {bound:5.2f}  {mark}", flush=True)
        failed = sum(r["result"]["failed"] for r in runs)
        walls = [r["wall_s"] for r in runs]
        print(f"{wl:8s} failed ops {failed}; wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s", flush=True)
        unseen = run_once(wl, UNSEEN_SEED, args.seconds, 0)
        for name, row in rows.items():
            v = unseen["result"]["metrics"][name]["value"]
            print(f"{wl:8s} unseen seed {UNSEEN_SEED} {name:14s} {v:12.4f} "
                  f"({(v - row['median']) / row['median']:+.3f} of median)", flush=True)
        report[wl] = {"metrics": rows, "failed": failed, "wall_s": walls,
                      "named": [r["named"] for r in runs], "info": [r["info"] for r in runs],
                      "unseen": unseen}
        if args.traced:
            traced = run_once(wl, 1, args.seconds, 1)
            overhead = {k: traced["named"][k] - runs[0]["named"][k]
                        for k in traced["named"] if k in runs[0]["named"]}
            for k in bounds:
                print(f"{wl:8s} tracing overhead {k:14s} {overhead.get(k, float('nan')):+.4f}",
                      flush=True)
            report[wl]["tracing_overhead"] = overhead
    os.makedirs(".perfbench_out", exist_ok=True)
    with open(".perfbench_out/steady.json", "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 --out set1.json

Runs ``perfbench/run.py`` once per seed for each workload, one run at a
time, from the current directory (the repository root). For every
end-to-end metric it prints the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and the spread: the
distance between the quartiles as a share of the median. ``--out`` keeps
every run's result and per-op times as JSON. A run that leaves a process
running after it exits stops the script with an error.
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
sys.path.insert(0, HERE)

from harness import become_subreaper, live_children, reap_children  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    )
    left = live_children()  # the run's orphans are handed to this process
    if left:
        reap_children(grace_s=0)
        raise SystemExit(f"{workload} seed {seed}: the run left processes "
                         f"{sorted(left)} running after it exited")
    lines = p.stdout.strip().splitlines()
    return {"info": json.loads(lines[-2])["perfbench_run"],
            "result": json.loads(lines[-1]),
            "wall_s": time.monotonic() - t0}


def spread_table(runs: list[dict]) -> dict[str, dict[str, float]]:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / statistics.median(vals)}
    return out


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    ap.add_argument("--out")
    a = ap.parse_args()
    become_subreaper()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in workloads:
        runs = [run_once(w, a.first_seed + k, bench["run_seconds"], 0)
                for k in range(a.runs)]
        table = spread_table(runs)
        report[w] = {"runs": runs, "spread": table}
        for name, s in table.items():
            print(f"{w:16s} {name:12s} median {s['median']:12.3f} "
                  f"q1 {s['q1']:12.3f} q3 {s['q3']:12.3f} "
                  f"spread {s['spread']:.3f} (bound {bounds[name]})")
        print(f"{w:16s} failed ops {sum(r['result']['failed'] for r in runs)}"
              f" of {sum(r['result']['attempted'] for r in runs)}; "
              f"run wall {statistics.median(r['wall_s'] for r in runs):.1f} s "
              f"(median)", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

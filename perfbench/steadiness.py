"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload point_serve --seeds 1-10 --sets 2

Each seed is one ``run.py`` process of BENCHMARK.json's ``run_seconds``,
as the benchmark is normally run; ``--sets`` runs the whole list of
seeds that many times in turn. For every end-to-end metric and set it
prints the median, the first and third quartile
(``statistics.quantiles(values, n=4)``) and the spread,
(q3 - q1) / median. With two or more sets it also prints how much worse
each later set's median is than the first's, as a share of the first,
next to the metric's bound. The last line is all of it as one JSON
object.
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
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def run_set(workload: str, seeds: list[int]) -> list[dict] | None:
    runs = []
    for seed in seeds:
        t = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        wall = time.monotonic() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            sys.stderr.write(p.stderr[-4000:])
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            return None
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, "result": result,
                     "detail": json.loads(lines[-2])["metrics"]})
        print(f"seed {seed} wall {wall:.1f}s correct {result['correct']} "
              f"failed {result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    return runs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args()

    sets = []
    for n in range(args.sets):
        runs = run_set(args.workload, _seeds(args.seeds))
        if runs is None:
            return 1
        summary = {m["name"]: summarise([r["result"]["metrics"][m["name"]]["value"]
                                         for r in runs])
                   for m in SPEC["end_to_end"]}
        print(f"set {n + 1}: mean wall {statistics.mean(r['wall_s'] for r in runs):.1f}s")
        for k, s in summary.items():
            print(f"  {k:20s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
                  f"q3 {s['q3']:12.4f}  spread {s['spread']:.3f}")
        sets.append({"runs": runs, "summary": summary})

    # how much worse a later set's median is than the first set's
    worse = {}
    for m in SPEC["end_to_end"]:
        first = sets[0]["summary"][m["name"]]["median"]
        sign = 1 if m["better"] == "lower" else -1
        worse[m["name"]] = [sign * (s["summary"][m["name"]]["median"] - first) / first
                            for s in sets[1:]]
        if worse[m["name"]]:
            print(f"  {m['name']:20s} later sets worse by "
                  + " ".join(f"{w:+.3f}" for w in worse[m["name"]])
                  + f"  (bound {m['bound']})")
    ok = all(r["result"]["correct"] for s in sets for r in s["runs"])
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "run_seconds": SPEC["run_seconds"], "sets": sets,
                      "median_worse_than_first_set": worse}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

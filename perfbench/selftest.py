"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload at a tiny size (a few thousand keys, twenty seconds)
and checks that

- an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and a traced run every per-layer metric, all correct;
- a deliberately corrupted model entry is caught as a failed op;
- the same seed gives the same op stream and the same seed-determined
  counts (Spark jobs and tasks per op, partitions per point read, deltas
  folded per versioned read);
- run.py exits non-zero, printing no result, in a directory that holds
  only BENCHMARK.json and the benchmark's own files.

Exit code 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import TINY_SIZES, WORKLOADS  # noqa: E402

SECONDS = 20.0  # room for the warm-up cycle and a traced cycle on every workload
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _tiny(workload: str, seed: int, trace: bool, after_setup=None) -> dict:
    return run.run(workload, seed, SECONDS, trace, sizes=TINY_SIZES[workload],
                   after_setup=after_setup)


def _expect_metrics(result: dict, spec: list[dict]) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    missing = sorted(set(want) - set(got))
    assert not missing, f"missing metrics {missing}"
    extra = sorted(set(got) - set(want))
    assert not extra, f"metrics not in BENCHMARK.json {extra}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{name}: unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), name


def _expect_correct(res: dict) -> None:
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res


def test_end_to_end_metrics_printed() -> None:
    for workload in WORKLOADS:
        res = _tiny(workload, 7, False)["result"]
        _expect_correct(res)
        _expect_metrics(res, SPEC["end_to_end"])


def test_corrupted_model_is_caught() -> None:
    def corrupt(wl) -> None:
        wl.vals[wl.hot_key()] += 1

    res = _tiny("point_serve", 7, False, after_setup=corrupt)["result"]
    assert not res["correct"] and res["failed"] >= 1, res


def _op_signatures(tag: str) -> list[tuple]:
    """Per-op (kind, keys, request digest, jobs, tasks, partitions of
    each point probe, deltas folded into each versioned read's plan)."""
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    ops = [json.loads(line) for line in open(os.path.join(out_dir, f"ops-{tag}.jsonl"))]
    spans = [json.loads(line) for line in open(os.path.join(out_dir, f"trace-{tag}.jsonl"))]
    spans = [s for s in spans if "name" in s]
    parts: dict[str, list] = {}
    folded: dict[str, list] = {}
    for sid, s in enumerate(spans):
        if s["name"] == "point.owning_partitions":
            parts.setdefault(s["op"], []).append(s["partitions"])
        if s["name"] == "versioned.plan":
            n = sum(1 for c in spans if c["parent"] == sid
                    and c["name"] in ("core.multiput_df", "core.delete_df"))
            folded.setdefault(s["op"], []).append(n)
    return [
        (o["kind"], o["keys"], o.get("digest"), o.get("jobs"), o.get("tasks"),
         parts.get(f"op{o['i']}"), folded.get(f"op{o['i']}"))
        for o in ops
    ]


def test_traced_runs_repeat() -> None:
    """Per-layer metrics are printed, and two traced runs on one seed
    agree op by op."""
    for workload in WORKLOADS:
        tag = f"{workload}-s11-t1"
        sigs = []
        for _ in range(2):
            res = _tiny(workload, 11, True)["result"]
            _expect_correct(res)
            _expect_metrics(res, SPEC["per_layer"])
            sigs.append(_op_signatures(tag))
        n = min(len(s) for s in sigs)
        assert n >= 3, f"{workload}: only {n} ops in common"
        assert sigs[0][:n] == sigs[1][:n], (workload, sigs[0][:n], sigs[1][:n])
        counted = [s for s in sigs[0][:n] if s[3] is not None]
        assert counted, f"{workload}: no traced op"


def test_fails_without_the_program() -> None:
    bare = os.path.join(os.getcwd(), ".perfbench_selftest", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "point_serve",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        assert p.returncode != 0, p.returncode
        assert '"correct"' not in p.stdout, p.stdout
    finally:
        shutil.rmtree(os.path.dirname(bare), ignore_errors=True)


def main() -> int:
    tests = [test_fails_without_the_program, test_corrupted_model_is_caught,
             test_end_to_end_metrics_printed, test_traced_runs_repeat]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"PASS {t.__name__}", flush=True)
        except Exception:
            failed += 1
            traceback.print_exc()
            print(f"FAIL {t.__name__}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

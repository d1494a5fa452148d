"""Closed-loop key-value serving benchmark for spark_indexedrdd_spark.

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 10 --trace 0

One client thread in one process drives one workload against a
``local[4]`` session: it sends the next request only after the previous
one returned, and checks every result against the workload's model.
Each workload's op stream repeats a fixed cycle of op kinds; the client
starts cycles until ``--seconds`` have passed and finishes the cycle it
is in, so every run measures the same mix. The first cycle warms the
JVM's JIT and the Python workers: its ops are checked but left out of
the figures. Set-up (session start, data generation, build,
index or store init) is repeated SETUP_REPS times and its median is
``setup_s``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs the
layer wrappers (tracer.py), traces the odd cycles, and reports the
per-layer metrics; the untraced even cycles of the same run give the
tracing overhead. Spans and per-op records are written to ``.perfbench_out/``.

The last line of stdout is the result object; the line before it holds
every end-to-end figure that applies to the workload, with units,
percentile labels and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import spark_indexedrdd_spark  # noqa: E402,F401  (fail fast without the package)

import harness  # noqa: E402
from tracer import Tracer, layer_metrics  # noqa: E402
from workloads import OP_CLASS, SIZES, WORKLOADS  # noqa: E402

SETUP_REPS = 3
WRITE_KINDS = tuple(k for k, c in OP_CLASS.items() if c == "write")
# read_keys_per_s counts the keys and the time of every read, in memory
# and through the versioned store alike
READ_KINDS = tuple(k for k, c in OP_CLASS.items() if c.endswith("read"))

# the end-to-end metrics every workload reports (BENCHMARK.json
# end_to_end); the detail line adds the ones that apply to one workload
# and peak_rss_mb, whose run-to-run spread (JVM heap sizing) is too wide
# to bound
E2E = ("setup_s", "read_p50_ms", "read_keys_per_s", "ops_per_s")


def _timing(xs: list[float], scale: float, unit: str) -> dict:
    p = harness.tail_percentile(len(xs))
    return {
        "p50": {"value": harness.median(xs) * scale, "unit": unit},
        "tail": {"value": harness.percentile(xs, p) * scale, "unit": unit,
                 "percentile": p},
        "samples": len(xs),
    }


def e2e_metrics(ops: list[dict], setup_s: list[float], rss_mb: tuple[float, float],
                extra: dict, attempted: int, failed: int) -> tuple[dict, dict]:
    ok = [o for o in ops if o["ok"]]

    def lat(kinds) -> list[float]:
        return [o["latency_s"] for o in ok if o["kind"] in kinds]

    reads = [o for o in ok if o["kind"] in READ_KINDS]
    read_s = sum(o["latency_s"] for o in reads)
    busy = sum(o["latency_s"] for o in ok)
    detail = {
        "setup_s": {"value": harness.median(setup_s), "unit": "s",
                    "reps": [round(x, 4) for x in setup_s]},
        "ops_per_s": {"value": len(ok) / busy if busy else 0.0, "unit": "1/s",
                      "samples": len(ok)},
        "read_keys_per_s": {
            "value": sum(o["keys"] for o in reads) / read_s if read_s else 0.0,
            "unit": "keys/s"},
        "peak_rss_mb": {"value": sum(rss_mb), "unit": "MB",
                        "python_mb": rss_mb[0], "jvm_mb": rss_mb[1]},
        "failed_frac": {"value": failed / attempted if attempted else 0.0,
                        "unit": "share"},
    }
    for name, kinds, scale, unit in (
        ("read", ("read",), 1000, "ms"),
        ("store_read", ("store_read",), 1000, "ms"),
        ("history_read", ("history_read",), 1000, "ms"),
        ("write", WRITE_KINDS, 1000, "ms"),
    ):
        xs = lat(kinds)
        if xs:
            t = _timing(xs, scale, unit)
            detail[f"{name}_p50_{unit}"] = {**t["p50"], "samples": t["samples"]}
            detail[f"{name}_tail_{unit}"] = {**t["tail"], "samples": t["samples"]}
    for name, kinds in (("compact_s", ("reindex", "compact")), ("scan_s", ("scan",))):
        xs = lat(kinds)
        if xs:
            detail[name] = {"value": harness.median(xs), "unit": "s",
                            "samples": len(xs)}
    detail.update(extra)
    metrics = {k: {"value": detail[k]["value"], "unit": detail[k]["unit"]}
               for k in E2E if k in detail}
    return metrics, detail


def job_counts(sc, op_ids: list[str]) -> dict[str, tuple[int, int]]:
    """(jobs, completed tasks) per job group, after the status store has
    caught up with the listener bus."""
    st = sc.statusTracker()
    deadline = time.monotonic() + 20
    last = None
    while time.monotonic() < deadline:
        seen = sum(len(st.getJobIdsForGroup(g)) for g in op_ids[-3:])
        if not st.getActiveJobsIds() and seen == last:
            break
        last = seen
        time.sleep(0.2)
    out = {}
    for g in op_ids:
        jobs = st.getJobIdsForGroup(g)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        out[g] = (len(jobs), tasks)
    return out


def start_session(work: str):
    from spark_indexedrdd_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=harness.MASTER,
        shuffle_partitions=harness.SHUFFLE_PARTITIONS,
        extra_conf=harness.spark_conf(work),
    )


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: dict | None = None, after_setup=None) -> dict:
    """One benchmark run; returns the result object (and prints
    nothing). ``after_setup(workload)`` lets the self-tests tamper with
    the model before the timed window."""
    work = harness.prepare_workdir(os.getcwd())
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer = Tracer()
    if trace:
        tracer.install()
    wl = WORKLOADS[workload](seed, sizes or SIZES[workload], tracer, work)
    spark = None
    try:
        setup_s = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            tracer.op_id, tracer.recording = f"setup{rep}", trace
            t0 = perf_counter()
            with tracer.span("session.get_spark"):
                spark = start_session(work)
            wl.setup(spark, rep)
            setup_s.append(perf_counter() - t0)
            tracer.recording = False
        if after_setup is not None:
            after_setup(wl)

        sc = spark.sparkContext
        ops: list[dict] = []
        attempted = failed = 0
        deadline = perf_counter() + seconds
        i = 0
        while i % wl.cycle or perf_counter() < deadline:
            op = wl.op(i)
            traced = trace and (i // wl.cycle) % 2 == 1
            if trace:
                sc.setJobGroup(f"op{i}", op.kind)
            tracer.op_id, tracer.recording = f"op{i}", traced
            t0 = perf_counter()
            try:
                res, err = op.run(), None
            except Exception as e:  # a failed request is counted, not fatal
                res, err = None, e
            latency = perf_counter() - t0
            tracer.recording = False
            ok = False
            if err is None:
                try:
                    ok = bool(op.check(res))
                except Exception:
                    traceback.print_exc(file=sys.stderr)
            else:
                traceback.print_exception(err, file=sys.stderr)
            if not ok:
                print(f"op {i} ({op.kind}) failed", file=sys.stderr)
            attempted += 1
            failed += not ok
            ops.append({"i": i, "kind": op.kind, "keys": op.keys,
                        "latency_s": latency, "ok": ok, "traced": traced,
                        **op.info})
            i += 1
        if trace:
            ids = [f"op{o['i']}" for o in ops if o["traced"]]
            jobs = job_counts(sc, ids)
            for o in ops:
                o["jobs"], o["tasks"] = jobs.get(f"op{o['i']}", (None, None))
            sc.setJobGroup("final", "final checks")
        fa = ff = 0
        if wl.restart_checks:
            # restart visibility: a fresh session of the same JVM
            spark.stop()
            spark = start_session(work)
            fa, ff = wl.final_checks(spark)
            attempted += fa
            failed += ff
        rss = (harness.vm_hwm_mb(os.getpid()), harness.vm_hwm_mb(harness.jvm_pid(spark)))
        measured = [o for o in ops if o["i"] >= wl.cycle]
        metrics, detail = e2e_metrics(measured, setup_s, rss, wl.detail(), attempted, failed)
        if wl.restart_checks:
            detail["restart_checks"] = {"value": fa, "unit": "count"}
        if trace:
            metrics = layer_metrics(tracer, measured, SETUP_REPS, jobs)
        tag = f"{workload}-s{seed}-t{int(trace)}"
        with open(os.path.join(out_dir, f"ops-{tag}.jsonl"), "w") as f:
            for o in ops:
                f.write(json.dumps(o) + "\n")
        if trace:
            tracer.dump(os.path.join(out_dir, f"trace-{tag}.jsonl"))
    finally:
        tracer.uninstall()
        if spark is not None:
            harness.shutdown_spark(spark)
        harness.cleanup_workdir(work)
    return {
        "detail": {"workload": workload, "seed": seed, "trace": int(trace),
                   "ops": len(ops), "metrics": detail},
        "result": {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

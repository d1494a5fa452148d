"""Benchmark-side tracing of the layer boundaries.

Spans are recorded by wrappers this file installs around the public
functions of each module (``core``, ``localframe``, ``operators.point``,
``hashing``, ``sources.versioned``) and around the PySpark calls that
launch work (``DataFrame.collect``/``count``, ``SparkContext.runJob``,
``RDD.count``, ``DataFrameWriter.parquet``). Nothing in the program is
changed. A span is ``[name, start, end, parent, op_id, attrs]``; spans
stay in memory and are written out as JSON lines when the run ends.
The workloads add spans of their own around calls that span several
layers (``core.build``, ``versioned.read``).

``hashing.spark_partition_of`` runs once per key, so it is counted
(calls, seconds) instead of getting a span per call.
"""

from __future__ import annotations

import functools
import json
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter

from harness import mean, median
from workloads import OP_CLASS


def _len(x) -> int | None:
    return len(x) if hasattr(x, "__len__") else None


class Tracer:
    def __init__(self) -> None:
        self.recording = False
        self.op_id: str | None = None
        self.spans: list[list] = []
        self.counts: dict[tuple[str, str], list[float]] = defaultdict(
            lambda: [0, 0.0]
        )
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- #
    # recording
    # -------------------------------------------------------------- #

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, perf_counter(), None, parent, self.op_id, {}])
        self._stack.append(sid)
        return sid

    def _close(self, sid: int, attrs: dict) -> None:
        rec = self.spans[sid]
        rec[2] = perf_counter()
        rec[5].update(attrs)
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        """Span around a call made from the benchmark itself."""
        if not self.recording:
            yield
            return
        sid = self._open(name)
        try:
            yield
        finally:
            self._close(sid, {})

    # -------------------------------------------------------------- #
    # wrappers
    # -------------------------------------------------------------- #

    def _replace(self, owner, attr: str, wrapper) -> None:
        raw = owner.__dict__[attr]
        self._undo.append((owner, attr, raw))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.recording:
                return orig(*a, **kw)
            sid = tracer._open(name)
            extra: dict = {}
            try:
                res = orig(*a, **kw)
                if attrs is not None:
                    extra = attrs(a, res)
                return res
            finally:
                tracer._close(sid, extra)

        self._replace(owner, attr, wrapper)

    def count(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.recording:
                return orig(*a, **kw)
            t = perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                c = tracer.counts[(tracer.op_id, name)]
                c[0] += 1
                c[1] += perf_counter() - t

        self._replace(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark import RDD, SparkContext
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from spark_indexedrdd_spark import core
        from spark_indexedrdd_spark.operators import point
        from spark_indexedrdd_spark.sources import versioned

        idf = core.IndexedDataFrame
        self.wrap(idf, "multiget", "core.multiget",
                  lambda a, r: {"keys": len(set(a[1])), "found": len(r)})
        self.wrap(idf, "multiput", "core.multiput",
                  lambda a, r: {"keys": _len(a[1])})
        self.wrap(idf, "delete", "core.delete",
                  lambda a, r: {"keys": _len(a[1])})
        self.wrap(idf, "multiput_df", "core.multiput_df")
        self.wrap(idf, "delete_df", "core.delete_df")
        self.wrap(idf, "reindex", "core.reindex")
        self.wrap(idf, "inner_join", "core.inner_join")
        self.wrap(core, "local_rows_df", "localframe.local_rows_df",
                  lambda a, r: {"rows": _len(a[1])})
        nhpi = point.NativeHashPointIndex
        self.wrap(nhpi, "__init__", "point.index_build")
        self.wrap(nhpi, "multiget", "point.multiget")
        self.wrap(nhpi, "owning_partitions", "point.owning_partitions",
                  lambda a, r: {"partitions": len(r)})
        self.count(point, "spark_partition_of", "hashing.partition_of")
        store = versioned.VersionedKVStore
        self.wrap(store, "commit_puts", "versioned.commit")
        self.wrap(store, "commit_deletes", "versioned.commit")
        # read() only builds the fold plan; the read itself executes
        # under the workload's versioned.read span
        self.wrap(store, "read", "versioned.plan")
        self.wrap(store, "compact", "versioned.compact")
        self.wrap(DataFrame, "collect", "spark.sql")
        self.wrap(DataFrame, "count", "spark.sql")
        self.wrap(DataFrameWriter, "parquet", "spark.write")
        self.wrap(SparkContext, "runJob", "spark.pyjob")
        self.wrap(RDD, "count", "spark.pyjob")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op, attrs in self.spans:
                f.write(json.dumps({
                    "name": name, "start": start, "end": end,
                    "parent": parent, "op": op, **attrs,
                }) + "\n")
            for (op, name), (n, s) in sorted(
                self.counts.items(), key=lambda kv: str(kv[0])
            ):
                f.write(json.dumps(
                    {"counter": name, "op": op, "calls": n, "seconds": s}
                ) + "\n")


# ------------------------------------------------------------------ #
# per-layer summary
# ------------------------------------------------------------------ #

OP_CLASSES = tuple(dict.fromkeys(OP_CLASS.values()))
SELF_LAYERS = (
    "core", "localframe", "point", "hashing", "versioned",
    "spark_sql", "spark_pyjob", "spark_write", "other",
)


def _layer(name: str) -> str:
    head, _, tail = name.partition(".")
    return f"spark_{tail}" if head == "spark" else head


def layer_metrics(tracer: Tracer, ops: list, reps: int, jobs: dict) -> dict:
    """Per-layer figures from the spans of the traced ops (``ops`` are
    the run's op records; ``jobs`` maps op id -> (jobs, tasks))."""
    spans = tracer.spans
    traced = [o for o in ops if o["traced"] and o["ok"]]
    by_op = {f"op{o['i']}": o for o in traced}
    children: dict[int, list[int]] = defaultdict(list)
    for sid, s in enumerate(spans):
        if s[3] is not None:
            children[s[3]].append(sid)

    def dur(sid: int) -> float:
        return spans[sid][2] - spans[sid][1]

    def named(name: str, top: bool = False) -> list[int]:
        out = []
        for sid, s in enumerate(spans):
            if s[0] != name or s[4] not in by_op:
                continue
            if top and s[3] is not None and spans[s[3]][0] == name:
                continue
            out.append(sid)
        return out

    def per_rep(name: str) -> float:
        return median(
            sum((dur(sid) for sid, s in enumerate(spans)
                 if s[0] == name and s[4] == f"setup{r}"), 0.0)
            for r in range(reps)
        )

    def mean_dur(name: str) -> float:
        return mean(dur(sid) for sid in named(name, top=True))

    def child_named(sid: int, name: str) -> list[int]:
        return [c for c in children[sid] if spans[c][0] == name]

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (per_rep("session.get_spark"), "s")
    m["core.build_s"] = (per_rep("core.build"), "s")

    # multiget: walk the overlay chain of each top-level call of the
    # in-memory reads (a store read's multiget runs the fold, which
    # versioned.read_s reports)
    mgets = [sid for sid in named("core.multiget", top=True)
             if by_op[spans[sid][4]]["kind"] == "read"]
    depths, top_keys, base_keys = [], 0, 0
    for sid in mgets:
        depth, cur = 1, sid
        while nxt := child_named(cur, "core.multiget"):
            depth, cur = depth + 1, nxt[0]
        depths.append(depth)
        top_keys += spans[sid][5].get("keys") or 0
        if children[cur]:  # the base did a lookup (filter job or index probe)
            base_keys += spans[cur][5].get("keys") or 0
    m["core.multiget_s"] = (mean(dur(s) for s in mgets), "s")
    m["core.multiget_keys"] = (mean(spans[s][5].get("keys") or 0 for s in mgets), "count")
    m["core.overlay_key_share"] = (
        1 - base_keys / top_keys if top_keys else 0.0, "share"
    )
    m["core.chain_depth"] = (mean(depths), "count")
    for op_name in ("multiput", "delete", "reindex", "inner_join"):
        m[f"core.{op_name}_s"] = (mean_dur(f"core.{op_name}"), "s")

    lrd = named("localframe.local_rows_df")
    m["localframe.local_rows_df_s"] = (mean(dur(s) for s in lrd), "s")
    m["localframe.rows"] = (mean(spans[s][5].get("rows") or 0 for s in lrd), "count")

    m["point.index_build_s"] = (per_rep("point.index_build"), "s")
    own = named("point.owning_partitions")
    m["point.owning_partitions_s"] = (mean(dur(s) for s in own), "s")
    m["point.probe_job_s"] = (
        mean(sum(dur(c) for c in child_named(s, "spark.pyjob"))
             for s in named("point.multiget")),
        "s",
    )
    m["point.partitions_per_read"] = (
        mean(spans[s][5].get("partitions", 0) for s in own), "count"
    )
    reads = [o for o in traced if o["kind"] == "read"]
    hash_counts = [tracer.counts.get((f"op{o['i']}", "hashing.partition_of"), [0, 0.0])
                   for o in reads]
    m["hashing.partition_of_calls"] = (mean(c[0] for c in hash_counts), "count")
    m["hashing.partition_of_s"] = (mean(c[1] for c in hash_counts), "s")

    commits = [o for o in traced if o["kind"].startswith("commit_")]
    user = sum(o.get("user_bytes", 0) for o in commits)
    m["versioned.commit_s"] = (mean_dur("versioned.commit"), "s")
    m["versioned.bytes_written"] = (
        mean(o.get("bytes_written", 0) for o in commits), "B"
    )
    m["versioned.write_amp"] = (
        sum(o.get("bytes_written", 0) for o in commits) / user if user else 0.0,
        "ratio",
    )
    m["versioned.read_s"] = (mean_dur("versioned.read"), "s")
    m["versioned.deltas_folded"] = (
        mean(len(child_named(s, "core.multiput_df")) + len(child_named(s, "core.delete_df"))
             for s in named("versioned.plan")),
        "count",
    )
    m["versioned.compact_s"] = (mean_dur("versioned.compact"), "s")
    m["versioned.compact_bytes_rewritten"] = (
        mean(o.get("bytes_written", 0) for o in traced if o["kind"] == "compact"), "B"
    )

    for cls in OP_CLASSES:
        ids = [f"op{o['i']}" for o in traced if OP_CLASS[o["kind"]] == cls]
        m[f"spark.jobs_per_op.{cls}"] = (mean(jobs[i][0] for i in ids), "count")
        m[f"spark.tasks_per_op.{cls}"] = (mean(jobs[i][1] for i in ids), "count")

    # self time per layer, per traced op
    self_s = {layer: 0.0 for layer in SELF_LAYERS}
    for sid, s in enumerate(spans):
        if s[4] not in by_op:
            continue
        own_s = dur(sid) - sum(dur(c) for c in children[sid])
        self_s[_layer(s[0])] += own_s
        if s[3] is None:
            self_s["other"] -= dur(sid)
    for (op, name), (_, secs) in tracer.counts.items():
        if op in by_op:
            self_s["hashing"] += secs
            self_s["point"] -= secs
    self_s["other"] += sum(o["latency_s"] for o in traced)
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = (1000 * self_s[layer] / max(len(traced), 1), "ms")

    # tracing overhead: traced minus untraced ops of the same kind,
    # weighted by how many ops of each kind ran
    diff, weight = 0.0, 0
    for kind in {o["kind"] for o in ops}:
        on = [o["latency_s"] for o in ops if o["kind"] == kind and o["ok"] and o["traced"]]
        off = [o["latency_s"] for o in ops if o["kind"] == kind and o["ok"] and not o["traced"]]
        if on and off:
            diff += (median(on) - median(off)) * (len(on) + len(off))
            weight += len(on) + len(off)
    m["trace.overhead_ms"] = (1000 * diff / weight if weight else 0.0, "ms")
    m["trace.spans_per_op"] = (
        sum(1 for s in spans if s[4] in by_op) / max(len(traced), 1), "count"
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

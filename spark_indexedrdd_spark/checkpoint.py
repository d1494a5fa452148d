"""Pluggable lineage-truncation device for iterative loops and shared
intermediates.

Every iterative operator here (pagerank / label propagation / BFS,
connected components, BPE training, streaming SCD compaction) and every
multi-consumer intermediate (dedup fingerprints, dhash proxies,
classifier features) truncates its growing plan by materializing the
small state. The DEVICE matters at 100 TB:

- ``local`` (default): ``DataFrame.localCheckpoint`` — blocks live on
  EXECUTORS only, nothing is written to the reliable store. Fast, and
  correct on local[N] or whenever retry-from-scratch is an acceptable
  failure mode; but an executor lost mid-loop fails the job, because a
  checkpointed frame has no lineage left to recompute from.
- ``reliable``: ``DataFrame.checkpoint`` into the configured Spark
  checkpoint directory (HDFS/S3/DBFS) — survives executor loss at the
  cost of a write to durable storage per truncation. The right device
  for long multi-hour loops on preemptible fleets.

Select with env ``SPARK_GRAFT_CHECKPOINT`` = ``local`` | ``reliable``;
``reliable`` uses the session's checkpoint dir if already set, else
``SPARK_GRAFT_CHECKPOINT_DIR``. The produced VALUES are identical under
either device (both materialize the same rows); only durability and
cost differ — pytest-pinned in tests/test_graph.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage with the configured
    checkpoint device (module docstring)."""
    mode = os.environ.get("SPARK_GRAFT_CHECKPOINT", "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            cdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            if not cdir:
                raise ValueError(
                    "SPARK_GRAFT_CHECKPOINT=reliable needs a checkpoint "
                    "directory: call sparkContext.setCheckpointDir(...) "
                    "or set SPARK_GRAFT_CHECKPOINT_DIR"
                )
            sc.setCheckpointDir(cdir)
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"unknown SPARK_GRAFT_CHECKPOINT mode {mode!r} "
        "(expected 'local' or 'reliable')"
    )


def release_lineage(df: DataFrame) -> None:
    """Drop the blocks a ``truncate_lineage`` output holds (a local
    checkpoint's executor blocks; a reliable checkpoint's files are the
    checkpoint directory's). Only for a frame its caller owns: nothing
    derived from ``df`` can be read afterwards."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)

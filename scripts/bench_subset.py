"""Run a subset of bench.py's suite with per-query timings — the
measure-first harness for optimization rounds (guide §1).

Usage: python scripts/bench_subset.py [-r ROUNDS] query [query ...]

Producers a consumer depends on (store writers, index builds) are
auto-included so a subset run is self-contained; their timings are
reported too. Prints one line per query per round plus the min.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# consumer -> producers that must run first (state or on-disk store)
DEPS: dict[str, tuple[str, ...]] = {
    "multiget_isin": ("build_index",),
    "native_index_build": ("build_index",),
    "multiget_native": ("build_index", "native_index_build"),
    "multiput_merge": ("build_index",),
    "delete": ("build_index",),
    "diff": ("build_index",),
    "inner_join": ("build_index",),
    "left_join": ("build_index",),
    "full_outer_join": ("build_index",),
    "join_update": ("build_index",),
    "aggregate_using_index": ("build_index",),
    "scan_count": ("build_index",),
    "bucketed_write_once": ("build_index",),
    "bucketed_join_zero_shuffle": ("build_index", "bucketed_write_once"),
    "dedup_incremental_from_store": ("sigstore_write_once",),
    "semantic_dedup_incremental": ("ivf_store_write_once",),
    "ivf_store_delete_serve": ("ivf_store_write_once",),
    "ivf_store_optimize_serve": ("ivf_store_write_once", "ivf_store_delete_serve"),
    "similarity_ann_filtered": ("ivf_filtered_store_write_once",),
    "mmr_filtered_serve": ("ivf_filtered_store_write_once",),
    "ivfpq_store_serve": ("ivfpq_store_write_once",),
    "ivfpq_filtered_serve": ("ivfpq_filtered_store_write_once",),
    "classifier_score_from_store": ("classifier_model_write_once",),
    "sketch_store_serve": ("sketch_store_write_once",),
    "topk_store_serve": ("topk_store_write_once",),
    "lm_xent_from_store": ("ngram_store_write_once",),
    "corpus_kl_drift_serve": ("ngram_store_write_once", "ngram_store_b_write_once"),
    "dsir_from_stores": ("ngram_store_write_once", "ngram_store_b_write_once"),
    "bm25_from_store": ("postings_store_write_once",),
    "postings_takedown_serve": ("postings_store_write_once",),
    "postings_snapshot_serve": ("postings_store_write_once", "postings_takedown_serve"),
    "bm25_rm3_from_store": ("postings_store_write_once", "postings_takedown_serve"),
    "versioned_store_commit_and_read": ("versioned_store_init_once",),
    "readme_1m_point_index": ("readme_1m_build",),
    "readme_1m_multiget_1k": ("readme_1m_build", "readme_1m_point_index"),
    "readme_1m_put_get_delete": ("readme_1m_build",),
    "zonemap_pruned_scan": ("zonemap_write_once",),
    "bloom_pruned_multiget": ("bloom_index_write_once",),
    "partition_pruned_read": ("partitioned_write_once",),
}


def closure(names: list[str]) -> frozenset:
    # run_suite dereferences state["kv"] unconditionally
    out: set[str] = set()
    todo = list(names) + ["build_index"]
    while todo:
        n = todo.pop()
        if n in out:
            continue
        out.add(n)
        todo.extend(DEPS.get(n, ()))
    return frozenset(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-r", "--rounds", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import bench
    from spark_indexedrdd_spark.session import get_spark

    spark = get_spark(
        app_name="bench_subset",
        master=f"local[{bench.CPUS}]",
        shuffle_partitions=bench.CPUS,
    )
    only = closure(args.queries)
    best: dict[str, float] = {}
    for r in range(args.rounds):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        t = bench.run_suite(spark, only=only)
        wall = time.perf_counter() - t0
        for k in sorted(t, key=t.get, reverse=True):
            print(f"round {r}: {t[k]:8.3f}s  {k}", flush=True)
        print(f"round {r}: {wall:8.3f}s  TOTAL", flush=True)
        best = {k: min(v, best.get(k, v)) for k, v in t.items()}
    print("--- min over rounds ---")
    for k in sorted(best, key=best.get, reverse=True):
        print(f"min: {best[k]:8.3f}s  {k}")
    spark.stop()


if __name__ == "__main__":
    main()

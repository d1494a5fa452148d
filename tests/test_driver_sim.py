"""Driver-environment simulation: the correctness harness runs entry()
and queries() in ITS OWN SparkSession — bone-stock config, possibly a
non-UTC timezone. This regression test runs a representative slice of
the contract in a subprocess with that session shape, so session-config
dependencies (legacy parquet flags, timezone-sensitive casts) can't
creep back in. The core count is deliberately not part of the
simulated shape: results are core-count independent by contract, and
the subprocess uses ``local[6]`` whatever core count the harness uses."""

import os
import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[6]')
         .config('spark.ui.enabled','false')
         .config('spark.sql.session.timeZone','America/New_York')
         .config('spark.sql.shuffle.partitions','8')
         .getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
import __spark_entry__ as E
import duckdb
con = duckdb.connect()
for t in ["orders","lineitem","customer","events","documents",
          "supplier","nation","part","embeddings","region"]:
    con.sql(f"CREATE VIEW {{t}} AS SELECT * FROM '/root/testdata/sf0.001/{{t}}.parquet'")
assert E.entry(spark).count() > 0
qs, osql = E.queries(), E.oracle_sql()
# exactly the queries the driver will hash-check this round: the
# 50-slot window, read from the rotation itself so this rehearsal can
# never drift out of sync with it, plus a few rotated-out sentinels
# whose timezone sensitivity round 4 proved the hard way
for name in list(qs)[:50] + [
        "multiput_merge", "asof_join", "tumbling_window",
        "funnel_purchase_after_signup", "funnel_signup_conversion",
        "shipping_priority", "quality_filter", "similarity_topk_fast",
        "similarity_ann_lsh", "similarity_ann_ivf_det",
        "corpus_span_stats", "remove_duplicate_spans", "semantic_dedup"]:
    s = qs[name](spark, "/root/testdata/sf0.001").toPandas()
    o = con.sql(osql[name]).df()
    s = s.reindex(sorted(s.columns), axis=1).sort_values(
        list(s.columns), na_position='first').reset_index(drop=True)
    o = o.reindex(sorted(o.columns), axis=1).sort_values(
        list(o.columns), na_position='first').reset_index(drop=True)
    assert s.equals(o[s.columns]), name
print("DRIVER_SIM_PASS")
"""


STREAM_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[4]')
         .config('spark.ui.enabled','false')
         .config('spark.sql.shuffle.partitions','4')
         .getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
# NO load_table first: the streaming readers must set the nanos conf
# themselves (regression: they used to rely on an earlier batch load)
from spark_indexedrdd_spark.streaming.joins import streaming_purchase_after_signup
out = streaming_purchase_after_signup(spark, '/root/testdata/sf0.001/events.parquet')
q = (out.writeStream.outputMode('append').format('memory')
     .queryName('m').trigger(availableNow=True).start())
q.processAllAvailable(); q.stop()
assert spark.sql('SELECT count(*) c FROM m').collect()[0].c > 0
print("STREAM_FRESH_SESSION_PASS")
"""


def test_streaming_readers_are_session_independent():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", STREAM_SCRIPT.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert "STREAM_FRESH_SESSION_PASS" in out.stdout, (
        out.stdout[-2000:] + out.stderr[-2000:]
    )


def test_window_covers_every_query_within_coverage_horizon():
    """Rotation-bookkeeping tripwire: the driver hash-checks only the
    first 50 ``queries()`` entries per round, so the tightest possible
    guarantee is full-contract coverage every ceil(n/50) rounds — with
    n <= 100 that is the two-round cycle this test originally pinned;
    past 100 contract queries the horizon grows to 3, and this test
    asserts the rotation stays ON that tightest-achievable schedule:
    every query must appear in this round's window or in the last
    (horizon - 1) recorded rounds. Red here means: rotate the window —
    silent staleness is exactly how the round-4 events regression
    hid."""
    import glob
    import json
    import math

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n = len(E.queries())
    horizon = max(2, math.ceil(n / 50))
    window = set(list(E.queries().keys())[:50])
    assert tuple(E._WINDOW) == tuple(list(E.queries().keys())[:50]), (
        "_WINDOW bookkeeping drifted from queries() iteration order"
    )
    records = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    recent = records[-(horizon - 1):]
    prev = set()
    for rec in recent:
        prev |= set(json.load(open(rec)))
    history = set()
    for rec in records:
        history |= set(json.load(open(rec)))
    # Escape hatch for queries added AFTER the window's 50 slots were
    # consumed: valid only with no verification history at all, and the
    # declaration obliges the next rotation to front-queue them.
    past_cutoff = set(getattr(E, "PAST_CUTOFF_NEW", ()))
    assert past_cutoff <= set(E.queries()), "PAST_CUTOFF_NEW names unknown query"
    assert not (past_cutoff & window), (
        "PAST_CUTOFF_NEW entries are in the window — remove the declaration"
    )
    assert not (past_cutoff & history), (
        "PAST_CUTOFF_NEW entries have driver history — they are STALE, not "
        "new; they must rotate into the window, not hide behind the hatch"
    )
    # ROWS_ONLY entries are exempt: the driver records `no_oracle` for
    # them rather than a rows-only pass (r6 VERDICT item 3 — observed in
    # CORRECTNESS_r06.json), so window-listing one burns a slot with no
    # evidence. Their hash-green det twins pin the same pipelines.
    uncheckable = set(getattr(E, "ROWS_ONLY", ()))
    stale = [
        q
        for q in E.queries()
        if q not in window
        and q not in prev
        and q not in past_cutoff
        and q not in uncheckable
    ]
    assert not stale, (
        f"{len(stale)} queries absent from this round's window and from "
        f"the last {horizon - 1} recorded round(s) "
        f"({[os.path.basename(r) for r in recent]}): {stale}"
    )


def test_plain_session_non_utc_runs_contract():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TZ="America/New_York")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
    )
    assert "DRIVER_SIM_PASS" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


# The exact stale list the staleness tripwire emitted after
# CORRECTNESS_r07 landed (r7 VERDICT item 1). Pinned verbatim so a
# PARTIAL round-8 rotation cannot pass locally: every name must be in
# the declared window — or, once the round-8 record exists, covered by
# it (after which the dynamic tripwire above owns staleness again).
TRIPWIRE_R08 = (
    "similarity_topk", "similarity_ann_lsh", "volume_shipping_q7",
    "returned_items_q10", "promo_revenue_q14", "bloom_pruned_join",
    "pack_documents", "skew_salted_revenue", "shipping_priority",
    "local_supplier_volume", "cube_doc_counts", "json_prop_stats",
    "pivot_lang_source", "binary_meta", "build_scan", "multiget",
    "multiput_merge", "delete", "filter_mapvalues", "diff",
    "inner_join", "left_join", "full_outer_join", "join_update",
    "aggregate_using_index", "aggregate_fold", "create_using_index",
    "composite_key_scan", "composite_key_join",
)


def test_r8_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r08.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [q for q in TRIPWIRE_R08 if q not in covered]
    assert not missing, f"r8 rotation is partial — not windowed: {missing}"


# The exact stale list the staleness tripwire emitted after
# CORRECTNESS_r08 landed (r8 VERDICT item 1). Pinned verbatim so a
# PARTIAL round-9 rotation cannot pass locally: every name must be in
# the declared window — or, once the round-9 record exists, covered by
# it (after which the dynamic tripwire above owns staleness again).
TRIPWIRE_R09 = (
    "quality_filter", "repetition_stats", "domain_cap_sample",
    "temperature_sample", "weighted_sample", "dedup_incremental_lsh",
    "training_order", "similarity_ann_pq", "similarity_ann_ivfpq",
    "similarity_ann_ivfpq_res", "ann_recall", "dedup_pipeline",
    "forecast_revenue_q6", "order_priority_q4", "customer_order_dist_q13",
    "large_orders_q18", "disjunctive_revenue_q19", "waiting_customers_q22",
    "small_qty_revenue_q17", "waiting_suppliers_q21", "market_share_q8",
    "top_supplier_q15", "min_cost_supplier_q2", "important_parts_q11",
    "excess_suppliers_q20", "product_profit_q9", "shipmode_priority_q12",
    "parts_supplier_q16", "chunk_documents", "epoch_upsample",
    "embedding_quantize_stats", "profile_documents",
)


def test_r9_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r09.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [q for q in TRIPWIRE_R09 if q not in covered]
    assert not missing, f"r9 rotation is partial — not windowed: {missing}"


# The exact stale list the staleness tripwire emitted after
# CORRECTNESS_r09 landed (last hash-green r07). Pinned verbatim so a
# PARTIAL round-10 rotation cannot pass locally: every name must be in
# the declared window — or, once the round-10 record exists, covered
# by it (after which the dynamic tripwire above owns staleness again).
TRIPWIRE_R10 = (
    "lang_id", "doc_fingerprint", "winnow_fingerprints", "bm25_topk",
    "tfidf_keywords", "redact_pii", "contamination_check", "dedup_exact",
    "minhash_signatures", "dedup_lsh_candidates", "simhash",
    "dedup_ngram_jaccard", "simhash_near_pairs", "embedding_neardup",
    "dedup_clusters", "top_orders_per_customer", "global_topk_orders",
    "rollup_doc_counts", "customers_without_orders",
    "orders_above_cust_avg", "hash_split", "doc_sample",
    "supplier_diversity", "grouping_sets_doc_stats", "segment_except_all",
    "segment_set_ops", "segment_intersect", "percentiles_by_segment",
    "distinct_counts", "revenue_percentiles", "similarity_ann_binary",
    "dsir_select", "lm_cross_entropy",
)


def test_r10_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r10.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [q for q in TRIPWIRE_R10 if q not in covered]
    assert not missing, f"r10 rotation is partial — not windowed: {missing}"


# The exact stale list the staleness tripwire emitted after
# CORRECTNESS_r10 landed (last hash-green r08). Pinned verbatim so a
# PARTIAL round-11 rotation cannot pass locally: every name must be in
# the declared window — or, once the round-11 record exists, covered
# by it (after which the dynamic tripwire above owns staleness again).
# aggregate_fold was CONSOLIDATED into the aggregate_using_index entry
# this round (r10 VERDICT item 2): the merged query runs both the
# native-agg and the user-reduce fold path, so the consolidated name
# stands in for it below.
TRIPWIRE_R11 = (
    "text_stats", "corpus_top_terms", "stratified_split",
    "duplicate_spans", "remove_duplicate_spans", "corpus_span_stats",
    "similarity_topk", "similarity_topk_fast", "similarity_ann_lsh",
    "volume_shipping_q7", "returned_items_q10", "promo_revenue_q14",
    "bloom_pruned_join", "pack_documents", "skew_salted_revenue",
    "shipping_priority", "local_supplier_volume", "cube_doc_counts",
    "json_prop_stats", "pivot_lang_source", "binary_meta",
    "quality_classifier", "short_key_ops", "char_key_ops", "build_scan",
    "multiget", "multiput_merge", "delete", "filter_mapvalues", "diff",
    "inner_join", "left_join", "full_outer_join", "join_update",
    "aggregate_using_index", "aggregate_fold", "create_using_index",
    "composite_key_scan", "composite_key_join",
)

# The seven r10 past-cutoff debuts the escape-hatch contract obliges
# the r11 rotation to front-queue alongside the stale batch.
OBLIGED_DEBUTS_R11 = (
    "bm25_store_time_travel", "postings_store_changes",
    "zonemap_snapshot_scan", "ivfpq_takedown_serve",
    "hybrid_rrf_retrieval", "similarity_ann_filtered", "mmr_rerank",
)


def test_survey_header_matches_contract():
    """SURVEY.md's implementation-status header advertises the contract
    size to the judge — r11 found it 23 queries stale. Pin it to the
    registry it describes: the header must state len(queries()) and
    the oracle/rows-only split exactly."""
    import re

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SURVEY.md")) as fh:
        head = fh.read(2000)
    n = len(E.queries())
    n_rows_only = len(getattr(E, "ROWS_ONLY", ()))
    m = re.search(
        r"Contract size: (\d+) queries — (\d+) DuckDB-oracle-checked"
        r" \+ (\d+) rows-only",
        head.replace("\n> ", " "),
    )
    assert m, "SURVEY.md header lost its contract-size line"
    assert (int(m[1]), int(m[2]), int(m[3])) == (
        n, n - n_rows_only, n_rows_only,
    ), (
        f"SURVEY.md header says {m.groups()}, registry has "
        f"({n}, {n - n_rows_only}, {n_rows_only}) — update the header"
    )


# The exact stale list the staleness tripwire emitted after
# CORRECTNESS_r11 landed (last hash-green r09). Pinned verbatim so a
# PARTIAL round-12 rotation cannot pass locally: every name must be in
# the declared window — or, once the round-12 record exists, covered
# by it (after which the dynamic tripwire above owns staleness again).
TRIPWIRE_R12 = (
    "quality_filter", "repetition_stats", "domain_cap_sample",
    "temperature_sample", "weighted_sample", "dedup_incremental_lsh",
    "training_order", "similarity_ann_pq", "similarity_ann_ivfpq",
    "similarity_ann_ivfpq_res", "ann_recall", "dedup_pipeline",
    "pricing_summary", "forecast_revenue_q6", "order_priority_q4",
    "customer_order_dist_q13", "large_orders_q18",
    "disjunctive_revenue_q19", "waiting_customers_q22",
    "small_qty_revenue_q17", "waiting_suppliers_q21", "market_share_q8",
    "top_supplier_q15", "min_cost_supplier_q2", "important_parts_q11",
    "excess_suppliers_q20", "product_profit_q9", "shipmode_priority_q12",
    "parts_supplier_q16", "running_revenue_by_month", "chunk_documents",
    "epoch_upsample", "late_shipment_orders", "revenue_month_over_month",
    "windowed_event_dedup", "range_join_sessions", "orders_by_month",
    "image_dhash", "embedding_quantize_stats", "profile_documents",
    "pagerank_trade", "communities_trade", "trade_hops",
    "event_rate_anomalies", "uuid_key_ops", "decimal_key_ops", "count",
)

# The single r11 past-cutoff debut the escape-hatch contract obliges
# the r12 rotation to front-queue alongside the stale batch.
OBLIGED_DEBUTS_R12 = ("postings_optimize_serve",)

# The exact stale list the staleness tripwire emitted after
# CORRECTNESS_r12 landed (last hash-green r10). Pinned verbatim so a
# PARTIAL round-13 rotation cannot pass locally: every name must be in
# the declared window — or, once the round-13 record exists, covered
# by it (after which the dynamic tripwire above owns staleness again).
TRIPWIRE_R13 = (
    "lang_id", "doc_fingerprint", "winnow_fingerprints", "bm25_topk",
    "bm25_postings_store", "bm25_takedown_serve", "bloom_pruned_multiget",
    "tfidf_keywords", "redact_pii", "contamination_check", "dedup_exact",
    "minhash_signatures", "dedup_lsh_candidates", "simhash",
    "dedup_ngram_jaccard", "simhash_near_pairs", "semantic_dedup",
    "embedding_neardup", "similarity_ann_ivf_det", "dedup_clusters",
    "top_orders_per_customer", "global_topk_orders", "rollup_doc_counts",
    "customers_without_orders", "orders_above_cust_avg",
    "funnel_purchase_after_signup", "funnel_signup_conversion",
    "hash_split", "doc_sample", "scd2_merge", "cohort_retention",
    "ordered_funnel", "ewma_by_user", "supplier_diversity",
    "grouping_sets_doc_stats", "segment_except_all", "segment_set_ops",
    "segment_intersect", "percentiles_by_segment", "asof_join",
    "distinct_counts", "revenue_percentiles", "tumbling_window",
    "session_window", "similarity_ann_binary", "dsir_select",
    "lm_cross_entropy",
)

# The single r12 past-cutoff debut the escape-hatch contract obliges
# the r13 rotation to front-queue alongside the stale batch.
OBLIGED_DEBUTS_R13 = ("hybrid_pinned_serve",)

# The exact stale list the staleness tripwire emitted after
# CORRECTNESS_r13 landed (last hash-green r11). Pinned verbatim so a
# PARTIAL round-14 rotation cannot pass locally: every name must be in
# the declared window — or, once the round-14 record exists, covered
# by it (after which the dynamic tripwire above owns staleness again).
# segment_intersect and segment_except_all were CONSOLIDATED into the
# segment_set_ops report entry this round (r13 VERDICT item 2): the
# merged entry's hash pins all three set-op pipelines, so the
# consolidated name stands in for them below.
TRIPWIRE_R14 = (
    "text_stats", "corpus_top_terms", "dedup_takedown_lsh",
    "bm25_store_time_travel", "postings_store_changes",
    "zonemap_snapshot_scan", "ivfpq_takedown_serve",
    "hybrid_rrf_retrieval", "similarity_ann_filtered", "mmr_rerank",
    "mmr_filtered_serve", "bm25_rm3_topk", "stratified_split",
    "similarity_topk_fast", "similarity_ann_lsh", "volume_shipping_q7",
    "returned_items_q10", "promo_revenue_q14", "bloom_pruned_join",
    "pack_documents", "skew_salted_revenue", "sessionize",
    "shipping_priority", "local_supplier_volume", "cube_doc_counts",
    "json_prop_stats", "pivot_lang_source", "sliding_window",
    "binary_meta", "quality_classifier", "short_key_ops",
    "char_key_ops", "build_scan", "multiget", "multiput_merge",
    "delete", "filter_mapvalues", "diff", "inner_join", "left_join",
    "full_outer_join", "join_update", "aggregate_using_index",
    "create_using_index", "composite_key_scan", "composite_key_join",
)


def test_r14_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qs = set(E.queries())
    # the r14 consolidation must be real: the folded names gone from
    # the contract, the consolidated report entry still present (its
    # parity pins live in tests/test_analytics_streaming.py — per-op
    # DuckDB twins + the report≡per-op-union pin)
    for folded in ("segment_intersect", "segment_except_all"):
        assert folded not in qs, (
            f"{folded} was consolidated into the segment_set_ops report "
            "entry — re-adding it must revisit the rotation budget note"
        )
    assert "segment_set_ops" in qs
    # the fold's reclaimed slots funded the r14 debuts, in-window
    for debut in ("bm25_rm3_from_store", "ivfpq_filtered_serve"):
        assert debut in qs
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r14.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [q for q in TRIPWIRE_R14 if q not in covered]
    assert not missing, f"r14 rotation is partial — not windowed: {missing}"


TRIPWIRE_R15 = (
    "quality_filter", "repetition_stats", "domain_cap_sample",
    "ivf_store_delete_serve", "zonemap_pruned_scan",
    "postings_optimize_serve", "temperature_sample", "weighted_sample",
    "dedup_incremental_lsh", "training_order", "similarity_ann_pq",
    "similarity_ann_ivfpq", "similarity_ann_ivfpq_res", "ann_recall",
    "dedup_pipeline", "pricing_summary", "forecast_revenue_q6",
    "order_priority_q4", "customer_order_dist_q13", "large_orders_q18",
    "disjunctive_revenue_q19", "waiting_customers_q22",
    "small_qty_revenue_q17", "waiting_suppliers_q21", "market_share_q8",
    "top_supplier_q15", "min_cost_supplier_q2", "important_parts_q11",
    "excess_suppliers_q20", "product_profit_q9", "shipmode_priority_q12",
    "parts_supplier_q16", "running_revenue_by_month", "chunk_documents",
    "epoch_upsample", "late_shipment_orders", "revenue_month_over_month",
    "windowed_event_dedup", "range_join_sessions", "orders_by_month",
    "image_dhash", "embedding_quantize_stats", "profile_documents",
    "pagerank_trade", "communities_trade", "trade_hops",
    "event_rate_anomalies", "uuid_key_ops", "decimal_key_ops", "count",
)


def test_r15_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r15.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [q for q in TRIPWIRE_R15 if q not in covered]
    assert not missing, f"r15 rotation is partial — not windowed: {missing}"


def test_r13_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qs = set(E.queries())
    # the r13 consolidation must be real: the folded name gone from
    # the contract, the consolidated report entry still present (its
    # parity pins live in tests/test_text_dedup.py and the per-doc
    # form's own DuckDB-twin / Hypothesis tests)
    assert "duplicate_spans" not in qs, (
        "duplicate_spans was consolidated into the corpus_span_stats "
        "report entry — re-adding it must revisit the rotation budget "
        "note"
    )
    assert "corpus_span_stats" in qs
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r13.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [
        q for q in TRIPWIRE_R13 + OBLIGED_DEBUTS_R13 if q not in covered
    ]
    assert not missing, f"r13 rotation is partial — not windowed: {missing}"


def test_r12_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qs = set(E.queries())
    # the r12 consolidation must be real: the folded name gone from
    # the contract, the consolidated entry still present (its parity
    # pin lives in tests/test_similarity.py)
    assert "similarity_topk" not in qs, (
        "similarity_topk was consolidated into similarity_topk_fast — "
        "re-adding it must revisit the rotation budget note"
    )
    assert "similarity_topk_fast" in qs
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r12.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [
        q for q in TRIPWIRE_R12 + OBLIGED_DEBUTS_R12 if q not in covered
    ]
    assert not missing, f"r12 rotation is partial — not windowed: {missing}"


def test_r11_window_front_queues_every_tripwire_name():
    import json

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qs = set(E.queries())
    # the consolidation must be real: the folded name gone from the
    # contract, the consolidated entry still present
    assert "aggregate_fold" not in qs, (
        "aggregate_fold was consolidated into aggregate_using_index — "
        "re-adding it must revisit the rotation budget note"
    )
    assert "aggregate_using_index" in qs
    covered = set(list(E.queries().keys())[:50])
    rec = os.path.join(repo, "CORRECTNESS_r11.json")
    if os.path.exists(rec):
        covered |= set(json.load(open(rec)))
    missing = [
        q
        for q in TRIPWIRE_R11 + OBLIGED_DEBUTS_R11
        if q not in covered and q != "aggregate_fold"
    ]
    assert not missing, f"r11 rotation is partial — not windowed: {missing}"

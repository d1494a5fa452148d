"""Plan-shape assertions: the physical properties the reference
hand-implements must actually hold in our Catalyst plans.

- co-partitioned IndexedDataFrame joins run with ZERO live shuffles
  (the reference's zipIndexedRDDPartitions path, IndexedRDD.scala:185-198)
- driver-side delete batches broadcast (base never moves)
- multiput uses a shuffled-hash full outer (no sort of the base; only the
  updates side shuffles) — the Spark analog of the reference's per-
  partition probe kernel (PARTPartition.scala:51-61)
- point lookups push the key predicate into the parquet scan
- projections prune columns at the scan
"""

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import SUM_MERGE, IndexedDataFrame
from spark_indexedrdd_spark.plans import explain as X
from spark_indexedrdd_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_delete_driver_batch_broadcasts(spark, orders):
    kv = IndexedDataFrame.from_unique(
        orders.select("o_orderkey", "o_totalprice"), "o_orderkey"
    )
    out = kv.delete([1, 2, 3])
    plan = X.executed_plan(out.df)
    assert X.has_broadcast_join(X.final_plan_section(plan)), plan


def test_multiput_no_sort_and_base_never_shuffles(spark, orders):
    kv = IndexedDataFrame.from_unique(
        orders.select("o_orderkey", "o_totalprice"), "o_orderkey", num_partitions=8
    ).reindex()
    out = kv.multiput({1: 1.0, -5: 2.0}, f=SUM_MERGE)
    plan = X.executed_plan(out.df)
    final = X.final_plan_section(plan)
    assert "ShuffledHashJoin" in final, final
    assert "SortMergeJoin" not in final, final
    # only the tiny updates side shuffles (dup-fold agg + join alignment)
    assert X.count_live_shuffles(out.df) <= 2, final


def test_point_lookup_pushes_predicate_to_scan(spark, orders):
    df = orders.select("o_orderkey", "o_totalprice").where(
        F.col("o_orderkey").isin([1, 2, 3])
    )
    pushed = X.pushed_filters(df)
    assert "In(o_orderkey" in pushed, pushed


def test_projection_prunes_scan_columns(spark, orders):
    df = orders.select("o_orderkey")
    schema = X.read_schema(df)
    assert "o_orderkey" in schema
    assert "o_totalprice" not in schema, schema


def test_copartitioned_join_zero_live_shuffles(spark, orders, no_broadcast):
    """Two cached IndexedDataFrames with the same key/partition count:
    the join reuses their partitioning — no runtime shuffle at all."""
    a = IndexedDataFrame.from_unique(
        orders.select("o_orderkey", "o_totalprice"), "o_orderkey", num_partitions=8
    ).reindex()
    b = IndexedDataFrame.from_unique(
        orders.select("o_orderkey", (F.col("o_totalprice") * 2).alias("v2")),
        "o_orderkey",
        num_partitions=8,
    ).reindex()
    joined = a.inner_join(b, lambda x, y: x + y)
    n = X.count_live_shuffles(joined.df)
    assert n == 0, (
        f"expected zero live shuffles, got {n}:\n"
        f"{X.final_plan_section(X.executed_plan(joined.df))}"
    )


def test_range_join_is_not_nested_loop(spark, sf_dir, no_broadcast):
    """The bucketized range join must plan as an equi-join (hash/SMJ) +
    post-filter, never BroadcastNestedLoopJoin (the all-pairs plan Spark
    produces for a raw inequality join)."""
    from spark_indexedrdd_spark.operators.analytics import events_to_sessions

    events = load_table(spark, sf_dir, "events")
    out = events_to_sessions(events)
    plan = X.executed_plan(out.df if hasattr(out, "df") else out)
    final = X.final_plan_section(plan)
    assert "NestedLoop" not in final, final
    assert ("SortMergeJoin" in final) or ("ShuffledHashJoin" in final), final


def test_filter_preserves_partitioning(spark, orders, no_broadcast):
    kv = IndexedDataFrame.from_unique(
        orders.select("o_orderkey", "o_totalprice"), "o_orderkey", num_partitions=8
    ).reindex()
    filtered = kv.filter(F.col("o_totalprice") > 1000)
    joined = filtered.inner_join(kv, lambda x, y: x + y)
    assert X.count_live_shuffles(joined.df) == 0, X.final_plan_section(
        X.executed_plan(joined.df)
    )

def test_aggregate_using_index_expr_elides_redundant_exchange(spark, orders):
    """When the index's partition count equals
    spark.sql.shuffle.partitions, the hash-agg's own final exchange IS
    the index layout, so ``aggregate_using_index_expr`` must NOT add a
    second repartition — pagerank's per-iteration message combine rides
    this fast path (core.py aggregate_using_index_expr docstring); a
    silent regression here doubles every iteration's shuffle cost."""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    kv = IndexedDataFrame.from_unique(
        orders.select("o_orderkey", "o_totalprice"),
        "o_orderkey", num_partitions=n_shuffle,
    )
    msgs = orders.select(
        F.col("o_orderkey"), F.col("o_totalprice").alias("m")
    )
    out = kv.aggregate_using_index_expr(msgs, F.sum("m"), alias="m")
    plan = X.final_plan_section(X.executed_plan(out.df))
    assert X.count_exchanges(plan) == 1, plan
    # the mismatched-count path must still add its explicit repartition
    kv2 = IndexedDataFrame.from_unique(
        orders.select("o_orderkey", "o_totalprice"),
        "o_orderkey", num_partitions=max(2, n_shuffle // 2),
    )
    out2 = kv2.aggregate_using_index_expr(msgs, F.sum("m"), alias="m")
    plan2 = X.final_plan_section(X.executed_plan(out2.df))
    assert X.count_exchanges(plan2) == 2, plan2


def test_runtime_bloom_filter_injected_for_selective_dim_join(spark):
    """The bloom-prunable join shape must actually get Catalyst's
    runtime bloom filter (might_contain on the fact side) when the join
    shuffles and the application-side threshold allows it."""
    from pyspark.sql import functions as F

    from spark_indexedrdd_spark.operators import bloom as B
    from spark_indexedrdd_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    od = load_table(spark, "/root/testdata/sf0.001", "orders")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = B.urgent_revenue_bloom(li, od, force_for_small_data=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        # and pruning must not change results vs the plain join
        plain = (
            li.join(
                od.where(F.col("o_orderpriority") == "1-URGENT"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_returnflag")
            .agg(F.count("*").cast("long").alias("n_items"))
        )
        got = {r.l_returnflag: r.n_items for r in out.collect()}
        want = {r.l_returnflag: r.n_items for r in plain.collect()}
        assert {k: v for k, v in got.items()}.keys() == want.keys()
        for k in want:
            assert got[k] == want[k]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_plan_report_shapes(spark):
    from pyspark.sql import functions as F

    from spark_indexedrdd_spark.operators import analytics as AN
    from spark_indexedrdd_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    q = AN.shipping_priority(
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
    )
    r = X.plan_report(q, execute=True)
    assert r["broadcast_joins"] >= 1          # customer broadcasts
    assert r["nested_loop_joins"] == 0
    assert r["python_stages"] == 0            # fully JVM-side
    assert r["codegen_spans"] >= 1
    assert "o_orderdate" in r["pushed_filters"] or "lt" in r["pushed_filters"].lower()
    # column pruning reached the scans: lineitem's text-heavy columns absent
    assert "l_comment" not in r["read_schema"]
    assert isinstance(r["live_shuffles"], int)


def test_tpch_shape_plans(spark):
    """The r6 TPC-H shapes must compile to the plan each docstring
    promises — the plan IS the contract at 100 TB, not an accident."""
    from spark_indexedrdd_spark.functions import text as T
    from spark_indexedrdd_spark.operators import analytics as AN
    from spark_indexedrdd_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    docs = load_table(spark, sf, "documents")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # Q4: EXISTS compiles to LEFT SEMI, never join+distinct
    p = plan(AN.order_priority_semijoin(orders, li))
    assert "LeftSemi" in p and "Distinct" not in p

    # Q19: per-side conjuncts pushed into BOTH parquet scans; the small
    # part side broadcasts so lineitem is never shuffled
    p = plan(AN.disjunctive_part_revenue(li, part))
    assert "BroadcastHashJoin" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("p_size" in l for l in pushed), pushed
    # column pruning: only the 4 needed lineitem columns reach the scan
    scan = next(l for l in p.splitlines() if "l_extendedprice" in l)
    assert "l_shipdate" not in scan

    # Q18: the quantity sum aggregates BEFORE the join (probe side is the
    # tiny HAVING survivor set, broadcastable)
    p = plan(AN.large_orders(orders, li))
    assert "BroadcastHashJoin" in p

    # domain caps: rank<=cap truncates below the exchange too
    # (partial + final WindowGroupLimit)
    p = plan(T.domain_cap_sample(docs))
    assert p.count("WindowGroupLimit") == 2

    # Q8: all dimension legs broadcast (part/supplier/nation/region);
    # the p_type filter is pushed into the part scan; never a cartesian
    p = plan(
        AN.market_share(
            part,
            load_table(spark, sf, "supplier"),
            li,
            orders,
            load_table(spark, sf, "customer"),
            load_table(spark, sf, "nation"),
            load_table(spark, sf, "region"),
        )
    )
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("p_type" in l for l in pushed), pushed

    # Q11: the |parts|-row aggregate is checkpointed (ONE lineitem
    # scan, at the checkpoint), the global threshold is a broadcast
    # 1-row aggregate — NEVER a single-partition window (|parts| grows
    # with SF, so a global window here is a real bottleneck)
    p = plan(AN.important_parts(li))
    assert "Window" not in p, p
    li_scans = [
        l for l in p.splitlines() if "Scan parquet" in l and "l_partkey" in l
    ]
    assert len(li_scans) == 0, li_scans  # only the checkpoint is read

    # Q20: the nested-IN chain is semi joins over aggregated views,
    # never a cartesian or join+distinct reconstruction
    p = plan(
        AN.excess_suppliers(
            li, load_table(spark, sf, "supplier"), part
        )
    )
    assert "LeftSemi" in p and "CartesianProduct" not in p

    # Q2: correlated min decorrelates to aggregate-then-join; the
    # part filter reaches its scan; top-k is TakeOrderedAndProject,
    # never a global sort
    p = plan(
        AN.min_cost_supplier(
            li, part, load_table(spark, sf, "supplier"),
            load_table(spark, sf, "nation"),
        )
    )
    assert "TakeOrderedAndProject" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("p_size" in l for l in pushed), pushed

    # Q15: the per-supplier view is checkpointed (ONE lineitem scan,
    # at the checkpoint — the scalar-subquery form planned two), the
    # max is a broadcast 1-row aggregate — no single-partition window
    p = plan(AN.top_supplier(li, load_table(spark, sf, "supplier")))
    assert "BroadcastHashJoin" in p
    assert "Window" not in p, p
    li_scans = [
        l for l in p.splitlines() if "Scan parquet" in l and "l_suppkey" in l
    ]
    assert len(li_scans) == 0, li_scans  # only the checkpoint is read
    # ...and the quarter filter still reaches the PRE-checkpoint scan
    # (the checkpoint hides it from the plan above, so assert on the
    # factored revenue view the checkpoint wraps)
    pre = plan(AN._q15_supplier_revenue(li, "1996-01-01", "1996-04-01"))
    pushed = [l for l in pre.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), pushed


def test_q21_single_lineitem_scan_window_form(spark):
    """Q21's EXISTS + NOT EXISTS are both correlated only on
    l_orderkey, so the r14 form answers them with ONE lineitem scan +
    one hash(l_orderkey) exchange + per-order windows — never the
    three-scan semi/anti join reconstruction (which broadcast the whole
    fact table twice), a cartesian, or a join+distinct."""
    from spark_indexedrdd_spark.operators import analytics as AN
    from spark_indexedrdd_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    p = (
        AN.waiting_suppliers(
            load_table(spark, sf, "lineitem"),
            load_table(spark, sf, "orders"),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    li_scans = [
        l
        for l in p.splitlines()
        if "Scan parquet" in l or "lineitem" in l.lower()
    ]
    assert (
        sum("lineitem" in l.lower() for l in li_scans) == 1
    ), li_scans  # exactly one fact scan
    assert "Window" in p
    assert "CartesianProduct" not in p and "Distinct" not in p
    # the order-correlated windows must never be single-partition
    assert "Window" in p and "hashpartitioning(l_orderkey" in p, p


def test_contract_wide_no_accidental_cross_joins(spark):
    """Safety net over the ENTIRE queries() contract: no query may
    compile to a CartesianProduct, and BroadcastNestedLoopJoin is
    allowed only where it is the intended shape — a broadcast query set
    crossed against the corpus (brute-force cosine scorer and its
    recall consumer) or a broadcast one-row scalar-subquery frame
    (Q22). Anything else is an accidental O(n*m) plan regression."""
    import __spark_entry__ as E

    BNLJ_INTENDED = {
        # ("similarity_topk" left the contract in the r12 fold; its
        #  brute scorer still rides in via ann_recall/hybrid/mmr below)
        "ann_recall",             # embeds the brute-force scorer as truth
        "hybrid_rrf_retrieval",   # dense branch IS the brute scorer (the
                                  # oracle tier; the store twin's IVF
                                  # branch is the pruned equi-join form)
        "mmr_rerank",             # candidate pool from the brute scorer
                                  # (same contract; external pools via
                                  # mmr_over_candidates skip it)
        "waiting_customers_q22",  # broadcast 1-row avg (scalar subquery)
        "corpus_span_stats",      # r13 consolidated report: the final
                                  # combine is a 1-row x 1-row scalar
                                  # crossJoin of the two constituent
                                  # aggregates (stats x per-doc fold) —
                                  # a broadcast of one row, no data
                                  # movement
        "similarity_ann_pq",      # broadcast ADC tables x code scan (the
                                  # brute-ADC scorer; IVFPQ is the pruned
                                  # equi-join form)
        "ordered_funnel",         # steps x stages theta-join of two
                                  # aggregates, both <= |steps|+1 rows
        "similarity_ann_binary",  # broadcast queries x sketch scan; the
                                  # Hamming stage is the cheap prefilter
                                  # and its top-M is WindowGroupLimit-
                                  # pruned before the exchange
        "dsir_select",            # broadcast ONE-ROW log-ratio array x
                                  # corpus scoring fold (scalar-frame
                                  # pattern, same class as Q22)
        "lm_cross_entropy",       # same one-row broadcast model arrays
        "bm25_topk",              # broadcast 1-row corpus stats (n_docs,
                                  # avgdl) x matched-postings scorer
        "bm25_rm3_topk",          # same 1-row stats broadcast, twice:
                                  # the feedback pass IS bm25_topk and
                                  # the expanded re-score re-joins the
                                  # same scalar stats frame
        "tfidf_keywords",         # broadcast 1-row n_docs scalar
        "corpus_top_terms",       # broadcast 1-row grand total onto the
                                  # k result rows (checkpointed-counts
                                  # variant; replaces the r7-flagged
                                  # single-partition total-sum window)
        "top_supplier_q15",       # broadcast 1-row max onto the
                                  # checkpointed per-supplier view
                                  # (same discipline)
        "important_parts_q11",    # broadcast 1-row total/count onto the
                                  # checkpointed per-part view — the
                                  # |parts| input grows with SF, so the
                                  # window this replaces was a real
                                  # single-task bottleneck
    }
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in E.queries().items():
        p = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in p:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in p and name not in BNLJ_INTENDED:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_span_ops_keep_token_fence(spark):
    """Regression tripwire for the measured HOF-CSE fix: the span
    Generate must consume a MATERIALIZED token column (the _tokenized
    projection), never re-derive split/filter inside the generator —
    that shape re-tokenized every document once per span (2.8 s vs
    0.5 s at sf0.1 for the explode alone)."""
    from spark_indexedrdd_spark.functions import text as T
    from spark_indexedrdd_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for df in (
        T.duplicate_spans(docs),
        T.remove_duplicate_spans(docs),
        T.corpus_span_stats(docs),
        T.corpus_span_report(docs),
    ):
        p = df._jdf.queryExecution().executedPlan().toString()
        gen = [l for l in p.splitlines() if "Generate explode" in l
               or "Generate posexplode" in l]
        assert gen, p
        for l in gen:
            assert "split(" not in l, (
                "tokenization leaked back into the span generator:\n" + l
            )
    # repetition_stats: same fence, projection form (no Generate) —
    # the output projection must reference __t, not re-split text
    p = (
        T.repetition_stats(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    out_proj = next(
        l for l in p.splitlines() if "dup_bigram_frac" in l
    )
    assert "split(" not in out_proj, out_proj


def test_span_ops_reuse_the_span_exchange(spark):
    """Every span operator with two consumers of the exploded
    per-(doc, span) aggregation must compute that subtree ONCE —
    ReusedExchange serves the second branch. Two ingredients make the
    subtrees canonically identical (SCALING.md r13: report 6.30 →
    4.39 s, duplicate_spans 5.58 → 4.55 s, remove 4.40 → 3.98 s at
    sf1.0): the explicit null-id predicate at the shared base
    (_span_tokenized — otherwise Catalyst pushes the join side's
    IsNotNull into one branch only) and both branches referencing the
    SAME aggregation (remove_duplicate_spans' old shape re-joined raw
    occurrences instead). AQE finalizes reuse at runtime, so assert on
    the executed final plan."""
    from spark_indexedrdd_spark.functions import text as T
    from spark_indexedrdd_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    from spark_indexedrdd_spark.functions import hybrid as H
    from spark_indexedrdd_spark.functions import retrieval as R

    for name, df in (
        ("corpus_span_report", T.corpus_span_report(docs)),
        ("duplicate_spans", T.duplicate_spans(docs)),
        ("remove_duplicate_spans", T.remove_duplicate_spans(docs)),
        # the BM25 family's tf aggregate feeds both the scorer and the
        # df_t branch — shared via _df_t's reduction-proof COUNT form
        ("bm25_topk", R.bm25_topk(docs)),
        ("tfidf_keywords", R.tfidf_keywords(docs)),
        # r14 audit: the hybrid fusion's lexical branch IS bm25_topk —
        # the reuse must survive the extra fusion join/agg on top
        ("hybrid_rrf", H.hybrid_rrf(docs, emb)),
    ):
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        final = p.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in p, name
        assert "ReusedExchange" in final, (
            f"{name}: the branches stopped sharing the shared-aggregate "
            "exchange — the explode now runs per branch:\n" + p
        )
        n_explodes = final.count("Generate explode") + final.count(
            "Generate posexplode"
        )
        assert n_explodes <= 2, (
            f"{name}: {n_explodes} explodes in the final plan — a "
            "consumer stopped sharing:\n" + p
        )


def test_dedup_pipeline_tokenizes_once_behind_the_checkpoint(spark):
    """r14 audit (r13 VERDICT item 6): dedup_pipeline's exact pass and
    verdict join both consume the fingerprint frame, which is
    eager-localCheckpoint'd precisely so the full-corpus tokenize runs
    ONCE. If that checkpoint is ever removed, Catalyst inlines the
    md5(concat_ws(split(...))) computation into BOTH the group-table
    and doc→rep branches and tokenization reappears in the final plan
    — so the fence is: zero split() calls downstream of the
    checkpointed leaves (the near-pass tokenizes only the
    representatives subset, inside its own checkpointed CC stages)."""
    from spark_indexedrdd_spark.functions import dedup as DD

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = DD.dedup_pipeline(docs)
    out.collect()
    p = out._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert "split(" not in final, (
        "tokenization leaked past the fingerprint checkpoint — the "
        "exact-pass branches re-tokenize the corpus per consumer:\n" + p
    )


def test_corpus_top_terms_no_full_vocab_single_partition_window(spark):
    """r7 VERDICT item 6: the grand-total sum must NOT ride an
    unpartitioned window over the whole vocabulary. The checkpointed
    variant's plan: rank-filter collapses to TakeOrderedAndProject
    (map-side top-k), the total is a two-phase aggregate, and the only
    Window node ranks the already-limited k rows."""
    from spark_indexedrdd_spark.functions import text as T

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = X.executed_plan(T.corpus_top_terms(docs))
    assert "TakeOrderedAndProject" in plan, plan
    # the old shape: Window [sum(n) ... windowspecdefinition()] with an
    # empty partition spec feeding every vocab row through one task
    for line in plan.splitlines():
        if "Window [sum(" in line:
            raise AssertionError(f"full-vocab total-sum window still present: {line}")

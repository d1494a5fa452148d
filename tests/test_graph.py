"""Iterative vertex-program tests (operators/graph.py): the fixed-point
PageRank against a pure-Python model, its conservation/determinism
properties, and the lineage-cut equivalence."""

from pyspark.sql import functions as F

from spark_indexedrdd_spark.operators.graph import (
    RANK_SCALE,
    pagerank,
    pagerank_trade,
    trade_edges,
)
from spark_indexedrdd_spark.sources.tables import load_table


def _py_pagerank(edges, iterations, scale=RANK_SCALE, damping_pct=85):
    """Reference model: the identical integer recurrence in plain Python."""
    from collections import defaultdict

    out = defaultdict(list)
    deg = defaultdict(int)
    for s, d in edges:
        out[s].append(d)
        deg[s] += 1
    rank = {v: scale for v in out}
    teleport = (100 - damping_pct) * scale // 100
    for _ in range(iterations):
        inflow = defaultdict(int)
        for s, dsts in out.items():
            msg = rank[s] // deg[s]
            for d in dsts:
                inflow[d] += msg
        rank = {v: teleport + (damping_pct * m) // 100 for v, m in inflow.items()}
    return rank


def _sym(pairs):
    es = set()
    for a, b in pairs:
        es.add((a, b))
        es.add((b, a))
    return sorted(es)


TOY = _sym([(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)])


def test_pagerank_matches_python_model(spark):
    edges = spark.createDataFrame(TOY, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert got == _py_pagerank(TOY, 5)


def test_pagerank_mass_conserved_within_truncation(spark):
    """Integer truncation only ever LOSES mass (div floors, damping
    floors), and each node loses < outdeg + 1 units per iteration — so
    total mass stays within a tiny band under n_nodes * scale."""
    edges = spark.createDataFrame(TOY, "src long, dst long")
    total = (
        pagerank(edges, iterations=8)
        .agg(F.sum("rank").alias("t"))
        .collect()[0]
        .t
    )
    n_nodes = 5
    assert total <= n_nodes * RANK_SCALE
    assert total >= n_nodes * RANK_SCALE - 8 * n_nodes * 100


def test_pagerank_checkpoint_equivalence(spark):
    """checkpoint_every is a lineage cut, never a semantic change."""
    edges = spark.createDataFrame(TOY, "src long, dst long")
    plain = sorted(map(tuple, pagerank(edges, iterations=4).collect()))
    cut = sorted(
        map(tuple, pagerank(edges, iterations=4, checkpoint_every=2).collect())
    )
    assert plain == cut


def test_pagerank_cut_keeps_key_layout(spark, no_broadcast, monkeypatch):
    """A lineage cut keeps the rank state's key hash partitioning, so the
    message join of the iteration after a cut shuffles nothing: the
    edges are cached by src and the cut state is already laid out by id."""
    from spark_indexedrdd_spark.core import IndexedDataFrame
    from spark_indexedrdd_spark.plans import explain as X

    combine = IndexedDataFrame.aggregate_using_index_expr
    live = []

    def spy(self, elems, agg_expr, alias="v"):
        live.append(X.count_live_shuffles(elems))  # elems = the message join
        return combine(self, elems, agg_expr, alias)

    monkeypatch.setattr(IndexedDataFrame, "aggregate_using_index_expr", spy)
    edges = spark.createDataFrame(TOY, "src long, dst long")
    got = pagerank(edges, iterations=4, checkpoint_every=2).collect()
    assert {r.id: r.rank for r in got} == _py_pagerank(TOY, 4)
    # iteration 2 joins the state cut after iteration 1
    assert len(live) == 4 and live[2] == 0, live


def test_pagerank_hub_outranks_leaf(spark):
    """Node 1 (degree 4 in TOY) must outrank the pendant node 5."""
    edges = spark.createDataFrame(TOY, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(edges, iterations=8).collect()}
    assert got[1] > got[5]
    assert got[1] == max(got.values())


def test_trade_edges_symmetric_and_disjoint(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    e = trade_edges(li, orders).cache()
    fwd = {(r.src, r.dst) for r in e.collect()}
    assert fwd == {(b, a) for a, b in fwd}  # symmetric closure
    # suppliers strictly negative, customers strictly positive
    assert all((a < 0) != (b < 0) for a, b in fwd)  # bipartite
    e.unpersist()


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA must separate them
    (each clique's min id wins its clique), and the deterministic
    tie-break must label every member of a clique identically."""
    from spark_indexedrdd_spark.operators.graph import label_propagation

    cliq1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    cliq2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a != b]
    bridge = [(4, 10), (10, 4)]
    edges = spark.createDataFrame(
        cliq1 + cliq2 + bridge, "src long, dst long"
    )
    got = {r.id: r.community for r in label_propagation(edges, 4).collect()}
    assert len({got[i] for i in range(1, 5)}) == 1
    assert len({got[i] for i in range(10, 14)}) == 1
    assert got[1] != got[10]


def test_label_propagation_matches_python_model(spark):
    """The exact sync-LPA recurrence in plain Python over TOY."""
    from collections import Counter, defaultdict

    from spark_indexedrdd_spark.operators.graph import label_propagation

    inn = defaultdict(list)
    for s, d in TOY:
        inn[d].append(s)
    label = {v: v for v in inn}
    for _ in range(4):
        new = {}
        for v, srcs in inn.items():
            counts = Counter(label[s] for s in srcs)
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        label = new
    edges = spark.createDataFrame(TOY, "src long, dst long")
    got = {r.id: r.community for r in label_propagation(edges, 4).collect()}
    assert got == label


def test_shortest_hops_matches_python_bfs(spark):
    """Bounded-depth BFS over TOY vs a plain Python BFS."""
    from collections import deque

    from spark_indexedrdd_spark.operators.graph import shortest_hops

    adj = {}
    for s, d in TOY:
        adj.setdefault(s, []).append(d)
    want, dq = {5: 0}, deque([5])
    while dq:
        u = dq.popleft()
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    edges = spark.createDataFrame(TOY, "src long, dst long")
    got = {r.id: r.hops for r in shortest_hops(edges, [5], 6).collect()}
    assert got == want
    # bounded depth: 1 iteration reaches only the sources + neighbors
    got1 = {r.id: r.hops for r in shortest_hops(edges, [5], 1).collect()}
    assert got1 == {5: 0, 1: 1}


def test_shortest_hops_frontier_equals_plain(spark, sf_dir):
    """The frontier-delta form must produce the identical table (and
    its early exit must not truncate reach) — on TOY and on the real
    trade graph."""
    from spark_indexedrdd_spark.operators.graph import (
        shortest_hops,
        trade_edges,
    )

    edges = spark.createDataFrame(TOY, "src long, dst long")
    a = sorted(map(tuple, shortest_hops(edges, [5], 6).collect()))
    b = sorted(map(tuple, shortest_hops(edges, [5], 6, frontier=True).collect()))
    assert a == b
    te = trade_edges(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )
    c = sorted(map(tuple, shortest_hops(te, [0], 4).collect()))
    d = sorted(map(tuple, shortest_hops(te, [0], 4, frontier=True).collect()))
    assert c == d


def test_shortest_hops_multi_source_min_wins(spark):
    from spark_indexedrdd_spark.operators.graph import shortest_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 3)], "src long, dst long"
    )
    got = {r.id: r.hops for r in shortest_hops(edges, [1, 9], 3).collect()}
    assert got[3] == 1  # via 9, not 2 via 1->2->3


def test_graph_iterations_never_sort(spark, sf_dir):
    """Regression tripwire for the shuffle_hash hint: a stats-less
    iteration subtree defaults to SortMergeJoin, re-sorting the full
    edge list every round. Neither graph loop may plan a sort."""
    from pyspark.sql import functions as F

    from spark_indexedrdd_spark.core import IndexedDataFrame
    from spark_indexedrdd_spark.operators.graph import trade_edges

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    e = trade_edges(li, orders)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edeg = e.join(deg, "src").repartition(8, "src").cache()
    ranks = IndexedDataFrame.from_unique(
        edeg.select(F.col("src").alias("id")).distinct()
        .withColumn("rank", F.lit(10**12).cast("long")),
        "id", num_partitions=8, cache=False,
    )
    msgs = edeg.join(
        ranks.df.hint("shuffle_hash"), F.col("src") == F.col("id")
    ).select(F.col("dst").alias("id"), F.expr("rank div outdeg").alias("msg"))
    inflow = ranks.aggregate_using_index_expr(msgs, F.sum("msg"), alias="v")
    top = (
        inflow.df._jdf.queryExecution().executedPlan().toString()
        .split("InMemoryRelation")[0]
    )
    assert "SortMergeJoin" not in top and "ShuffledHashJoin" in top
    edeg.unpersist()


def test_pagerank_trade_runs_on_testdata(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    out = pagerank_trade(li, orders, iterations=3)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.rank > 0 for r in rows)


def test_driver_graph_paths_equal_distributed_exactly(spark, sf_dir, monkeypatch):
    """The numpy driver fast paths (small-graph gate) and the
    distributed loops produce IDENTICAL rows for all three trade
    queries — the same both-paths pin the CC union-find and classifier
    driver GD carry. All three algorithms are exact integer arithmetic,
    so equality is bitwise, not approximate."""
    from spark_indexedrdd_spark.operators.graph import (
        communities_trade,
        trade_hops,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    for fn in (pagerank_trade, communities_trade, trade_hops):
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_DRIVER_MAX_EDGES", "100000000")
        fast = sorted(map(tuple, fn(li, orders).collect()))
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_DRIVER_MAX_EDGES", "0")
        slow = sorted(map(tuple, fn(li, orders).collect()))
        assert fast == slow, fn.__name__
        assert len(fast) > 0, fn.__name__


def test_checkpoint_device_knob(spark, sf_dir, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT=reliable swaps the lineage-truncation
    device (localCheckpoint -> reliable checkpoint) without changing a
    single value; an unset checkpoint dir fails loudly."""
    import pytest as _pytest

    from spark_indexedrdd_spark.checkpoint import truncate_lineage

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    local = sorted(map(tuple, pagerank_trade(li, orders, iterations=3).collect()))

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    if not spark.sparkContext.getCheckpointDir():
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    reliable = sorted(
        map(tuple, pagerank_trade(li, orders, iterations=3).collect())
    )
    assert local == reliable

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "bogus")
    with _pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT"):
        truncate_lineage(li.limit(1))

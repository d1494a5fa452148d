"""Iterative graph analytics over the IndexedDataFrame vertex store.

The reference's motivating workload is exactly this: IndexedRDD grew out
of GraphX's vertex-state RDDs (reference README.md:5 "efficient joins
and point lookups, updates" — the join/aggregate ops 12-17 are the
vertex-program primitives; `aggregateUsingIndex` IS GraphX's
aggregateMessages combine step, IndexedRDD.scala:293-297). This module
runs a real vertex program — PageRank — with the rebuilt machinery:

- vertex state = :class:`IndexedDataFrame` keyed by node id,
- message combine = ``aggregate_using_index_expr`` (hash agg with
  map-side partial combine, shuffled straight into the index's
  partitioning — reference kernel PARTPartition.scala:201-203),
- vertex update = ``map_values`` (partitioning preserved, reference
  IndexedRDD.scala:210-216).

Determinism / oracle story: ranks are **fixed-point BIGINTs** (``scale``
units = 1.0 of initial mass per node). Every step is integer arithmetic
— ``rank div outdeg`` per edge message, exact BIGINT sums, integer
damping ``(85 * inflow) div 100`` — so the result is bit-identical on
any engine and any summation order, and :func:`sql_pagerank_trade`
reproduces it in DuckDB as an unrolled chain of CTEs. (Float PageRank
cannot be hash-checked: grouped double sums are order-nondeterministic.)

Scale (100 TB): the per-iteration plan is the optimal PageRank shape —
ONE shuffle per iteration (the message combine, map-side partial), with
the edges→ranks join co-partitioned: edges are cached partitioned by
``src`` with the same partition count as the rank index, so
EnsureRequirements elides both exchanges on the join. Overflow bound:
total mass never exceeds ``n_nodes * scale`` (damping only shrinks it),
and the widest intermediate is ``damping_pct * inflow``, so keep
``n_nodes * scale * 100`` under 2^63 — at the default scale=10^12 that
is ~90M nodes; drop ``scale`` to 10^8 for a 100 TB graph (~10^13 node
budget) at the cost of 4 fewer digits of rank resolution. For deep
iteration counts, ``checkpoint_every`` cuts the growing lineage with a
localCheckpoint (same device as the dedup pointer-jumping loop,
functions/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import IndexedDataFrame
from spark_indexedrdd_spark.localframe import local_rows_df
from spark_indexedrdd_spark.checkpoint import truncate_lineage

# 1.0 of rank mass, in fixed-point units. 10^12 keeps integer-division
# truncation error ~12 digits below the mass while leaving ~90M nodes of
# BIGINT headroom (see module docstring for the 100 TB setting).
RANK_SCALE = 10**12
DAMPING_PCT = 85  # the classic 0.85, as an integer percentage


def trade_edges(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """The supplier↔customer trade graph: an undirected edge whenever a
    supplier shipped a line item belonging to a customer's order.
    Supplier s maps to node ``-(s+1)`` (strictly negative — plain
    negation would collide supplier 0 with customer 0), customers map
    to their non-negative keys — disjoint node spaces, one BIGINT id
    column. Returned as a DIRECTED edge list with
    both orientations (symmetric closure), so no node is dangling and
    the PageRank loop needs no per-iteration driver action for leaked
    mass.

    Scale: the join is an equi-join on l_orderkey (broadcast or shuffle
    as Catalyst sizes it) and the DISTINCT is one hash aggregate —
    both map-side-combinable.
    """
    pairs = _trade_pairs(lineitem, orders)
    fwd = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    rev = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    return fwd.unionByName(rev)


def _trade_pairs(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Distinct directed (s, c) trade pairs — half the rows of the
    symmetric closure. :func:`trade_edges` mirrors them in-plan (the
    two halves are individually distinct, so their union is distinct by
    construction — no second exchange over the doubled edge list); the
    driver fast paths mirror them in numpy after collecting, halving
    the transferred bytes."""
    return (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (-(F.col("l_suppkey") + 1)).alias("s"),
            F.col("o_custkey").alias("c"),
        )
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 6,
    scale: int = RANK_SCALE,
    damping_pct: int = DAMPING_PCT,
    num_partitions: int | None = None,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list ``(src, dst)``.

    ``checkpoint_every`` defaults to 2: without lineage truncation the
    final action optimizes ONE plan nesting all ``iterations`` join+agg
    subtrees, and with AQE each materialized stage re-optimizes the
    remaining (still-nested) plan — planner cost grows superlinearly in
    iterations at any data scale. Truncating every 2 iterations
    materializes only the n_nodes-row rank state (eager
    localCheckpoint) and keeps every per-iteration plan shallow —
    measured 7.4s -> 4.5s for 6 iterations at sf0.1, results
    bit-identical (the state is integer; checkpointing changes no
    values).

    Every node must have at least one out-edge (feed a symmetric edge
    list, e.g. :func:`trade_edges`, or pre-handle dangling mass) — this
    keeps the loop free of per-iteration driver actions.

    Per iteration (the vertex-program steps, reference ops cited in the
    module docstring):

    1. messages: ``rank div outdeg`` routed along each edge — a
       co-partitioned join of the cached edge list (partitioned by src)
       against the rank index (partitioned by id), zero extra exchange;
    2. combine: ``aggregate_using_index_expr(sum)`` — ONE shuffle,
       map-side partial sums (exact BIGINT);
    3. update: ``teleport + (damping_pct * inflow) div 100`` via
       ``map_values`` — narrow, partitioning preserved.

    Returns (id BIGINT, rank BIGINT); ``rank / scale`` is the rank in
    units of initial per-node mass (sums to ~n_nodes, minus documented
    truncation leakage).
    """
    spark = edges.sparkSession
    n = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions")
    )
    teleport = (100 - damping_pct) * scale // 100

    # outdeg via a count window over the src partitioning rather than
    # groupBy+join: the aggregate-join form exchanges the FULL edge
    # list by src for the join AND builds/exchanges the degree table,
    # while the window rides the single repartition the loop needs
    # anyway (one exchange of the edges, a local per-partition sort,
    # no second relation). Values identical (COUNT(*) per src).
    from pyspark.sql import Window as _W

    edeg = (
        edges.repartition(n, "src")
        .withColumn(
            "outdeg", F.count(F.lit(1)).over(_W.partitionBy("src"))
        )
        .cache()
    )
    ranks = IndexedDataFrame.from_unique(
        edeg.select(F.col("src").alias("id")).distinct()
        .withColumn("rank", F.lit(scale).cast("long")),
        "id",
        num_partitions=n,
        cache=False,
    )
    for i in range(iterations):
        # SHUFFLE_HASH on the rank side: both sides already satisfy the
        # join's distribution (edges cached by src, ranks by id), so the
        # hint picks a sort-free hash join with the per-partition rank
        # map as build side — partition-sized state, never a broadcast
        # of the full vertex set (the 100 TB-safe choice, same rationale
        # as multiput_df). Without it, the iteration subtree has no
        # stats at planning time and compiles to SortMergeJoin with a
        # Sort over the FULL edge list in every iteration
        # (plan-verified; sf0.1 interleaved A/B min 12.3 s → 11.1 s,
        # and the sort cost grows with |E| log |E| at scale).
        msgs = (
            edeg.join(ranks.df.hint("shuffle_hash"), F.col("src") == F.col("id"))
            .select(
                F.col("dst").alias("id"),
                F.expr("rank div outdeg").alias("msg"),
            )
        )
        inflow = ranks.aggregate_using_index_expr(
            msgs, F.sum("msg"), alias="inflow"
        )
        ranks = inflow.map_values(
            lambda v: F.expr(
                f"CAST({teleport} + ({damping_pct} * inflow) div 100 AS BIGINT)"
            ),
            alias="rank",
        )
        # never on the final iteration: the terminal state is eagerly
        # checkpointed on return anyway
        if (
            checkpoint_every
            and (i + 1) % checkpoint_every == 0
            and (i + 1) < iterations
        ):
            ranks = ranks.reindex()
    # Materialize the final state and release the edge cache — an
    # iterative job's terminal state is checkpointed anyway, and a
    # lazily-returned plan would pin the cached edges forever (the
    # accumulating-cache failure mode the streaming dedup fix removed).
    out = ranks.df.select("id", "rank").transform(truncate_lineage)
    edeg.unpersist()
    return out


# --------------------------------------------------------------------- #
# Driver fast path for SMALL graphs (the CC-union-find /
# classifier-driver-GD pattern): every algorithm here is exact integer
# arithmetic, so a single-machine numpy run is bit-identical to the
# distributed loop — and a loop whose per-iteration real work is
# milliseconds pays ~1 blocking scheduler job per checkpoint cadence in
# pure overhead. The TRADE wrappers gate on a METADATA-CHEAP upper
# bound (2 x lineitem rows >= directed trade edges — each lineitem row
# contributes at most one distinct pair, mirrored once; the row count
# comes from parquet footers, no data pass) against
# ``SPARK_GRAFT_GRAPH_DRIVER_MAX_EDGES`` (default 4M directed edges
# ~ 64 MB collected; 0 disables). Past the cap the distributed loops
# run UNCHANGED — they stay the 100 TB path and the pytest pin keeps
# both paths bit-identical.
# --------------------------------------------------------------------- #


def _collect_trade_edges(lineitem: DataFrame, orders: DataFrame):
    """(src_idx, dst_idx, ids) — the symmetric trade edge list with
    endpoints densified to indices into the sorted distinct-id array.
    Only the distinct (s, c) pairs cross the driver boundary (Arrow);
    the mirror is a numpy concatenate, producing exactly
    :func:`trade_edges`'s fwd-union-rev edge multiset."""
    import numpy as np

    pdf = _trade_pairs(lineitem, orders).toPandas()
    s = pdf["s"].to_numpy(dtype="int64")
    c = pdf["c"].to_numpy(dtype="int64")
    src = np.concatenate([s, c])
    dst = np.concatenate([c, s])
    ids = np.unique(src)
    return np.searchsorted(ids, src), np.searchsorted(ids, dst), ids


def _graph_driver_cap() -> int:
    import os as _os

    return int(
        _os.environ.get("SPARK_GRAFT_GRAPH_DRIVER_MAX_EDGES", "4000000")
    )


def _edges_bound(lineitem: DataFrame) -> int:
    # parquet-footer count: metadata-only on a raw table scan
    return 2 * lineitem.count()


def _pagerank_np(lineitem: DataFrame, orders: DataFrame, iterations: int,
                 scale: int, damping_pct: int) -> DataFrame:
    """Driver twin of :func:`pagerank` over the trade graph — same
    integer recurrence, same truncating divisions (all quantities
    non-negative, so numpy's floor division equals Spark's ``div``),
    exact int64 sums (order-free)."""
    import numpy as np

    src_idx, dst_idx, ids = _collect_trade_edges(lineitem, orders)
    n = len(ids)
    teleport = (100 - damping_pct) * scale // 100
    outdeg = np.bincount(src_idx, minlength=n)
    ranks = np.full(n, scale, dtype=np.int64)
    for _ in range(iterations):
        msgs = ranks[src_idx] // outdeg[src_idx]
        inflow = np.zeros(n, dtype=np.int64)
        np.add.at(inflow, dst_idx, msgs)
        ranks = teleport + (damping_pct * inflow) // 100
    return local_rows_df(
        lineitem.sparkSession,
        [(int(i), int(r)) for i, r in zip(ids, ranks)],
        "id long, rank long",
    )


def pagerank_trade(
    lineitem: DataFrame, orders: DataFrame, iterations: int = 6
) -> DataFrame:
    """PageRank over the supplier↔customer trade graph — the contract
    query instantiation ("trade influence": which suppliers/customers
    sit in the densest purchasing neighborhoods)."""
    cap = _graph_driver_cap()
    if cap and _edges_bound(lineitem) <= cap:
        return _pagerank_np(
            lineitem, orders, iterations, RANK_SCALE, DAMPING_PCT
        )
    return pagerank(trade_edges(lineitem, orders), iterations=iterations)


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    num_partitions: int | None = None,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over a directed edge list ``(src, dst)`` — the classic
    near-linear community algorithm, made DETERMINISTIC (the paper's
    random tie-break would never hash-match): every node starts with
    its own id as label; each round it adopts the most frequent label
    among its in-neighbors, ties broken by the SMALLEST label, for a
    FIXED number of rounds (no data-dependent stopping — the oracle
    unrolls the same count). Feed a symmetric edge list so every node
    has in-neighbors.

    This complements :func:`pagerank` (influence) and
    `dedup.resolve_duplicate_clusters` (connected components = the
    degenerate LPA where any shared label wins): LPA splits a connected
    graph into dense neighborhoods.

    Scale: ONE exchange per round — the joined messages repartitioned
    by ``dst`` feed both the (dst, label) count and the per-node argmax
    (``max_by`` over the counted pairs, never a sorted window)
    exchange-free, and land already in the index partitioning for the
    next round's co-partitioned join. Trade-off vs the previous
    3-exchange form (partial-combined count by (dst,label), argmax
    re-exchange, index repartition): the single exchange carries the
    raw 16 B messages instead of map-side-combined pairs — fewer
    stages and fewer total bytes whenever neighbor labels are mostly
    distinct (every early round), marginally more on a late-round
    converged graph; a graph with a single 10^9-degree hub would want
    the combined form back (or a salted two-level count), the same
    single-giant-key caveat every keyed aggregate carries.
    Label state is 16 B/node; ``checkpoint_every`` truncates
    the growing iteration lineage exactly like :func:`pagerank`
    (integer labels — checkpointing changes no values). Default off:
    LPA's lineage is LINEAR in iterations (the label state appears
    once per round), and at the contract's 4 rounds the truncation's
    materialization cost measured ≥ its planner saving (5.91s vs 6.12s
    at sf0.1); set it for deep runs. Contrast :func:`shortest_hops`'s
    default relaxation, where the state appears TWICE per round (union
    + join) so the plan DOUBLES per iteration and truncation is load-
    bearing (6.63s -> 4.22s at 4 rounds).

    Output: (id, community) where community = the converged label.

    Note: on BIPARTITE graphs (like :func:`trade_edges`) synchronous
    LPA is known to oscillate between the two sides; a fixed EVEN
    iteration count lands on a stable, side-consistent labeling —
    another reason the fixed-rounds contract (rather than
    run-to-convergence) is the right deterministic form.
    """
    spark = edges.sparkSession
    n = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions")
    )
    e = edges.repartition(n, "src").cache()
    labels = IndexedDataFrame.from_unique(
        e.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id")),
        "id",
        num_partitions=n,
        cache=False,
    )
    for i in range(iterations):
        # same sort-free hash-join choice as the pagerank loop; ONE
        # exchange per round: repartitioning the joined messages by dst
        # satisfies BOTH downstream aggregates' required distributions
        # (hash(dst) clusters (dst,label) too), so the count and the
        # argmax run exchange-free on top of it and the output is
        # already in the index partitioning — the groupBy(dst,label) +
        # groupBy(dst) + repartition(id) form paid three exchanges per
        # round for the same rows (plan-verified 54 -> 48 Exchange
        # nodes over 4 unrolled rounds; sf0.1 3.57 -> 2.79 s,
        # bit-identical labels)
        neigh = (
            e.join(labels.df.hint("shuffle_hash"), F.col("src") == F.col("id"))
            .repartition(n, "dst")
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (count desc, label asc): one hash aggregate — the
        # max_by ordering struct compares cnt first, then -label (so a
        # larger -label, i.e. the smaller label, wins ties)
        picked = neigh.groupBy(F.col("dst").alias("id")).agg(
            F.max_by(
                F.col("label"), F.struct(F.col("cnt"), -F.col("label"))
            ).alias("label")
        )
        labels = IndexedDataFrame(picked, ["id"], n)
        if (
            checkpoint_every
            and (i + 1) % checkpoint_every == 0
            and (i + 1) < iterations
        ):
            labels = labels.reindex()
    out = labels.df.select("id", F.col("label").alias("community"))
    out = out.transform(truncate_lineage)
    e.unpersist()
    return out


def _label_propagation_np(lineitem: DataFrame, orders: DataFrame,
                          iterations: int) -> DataFrame:
    """Driver twin of :func:`label_propagation` over the trade graph —
    identical counts and the identical (cnt DESC, label ASC) argmax
    tie-break, on label INDICES whose order equals label-value order
    (np.unique sorts ascending). Per round: one in-place sort of the
    (dst, label) message keys gives run-length counts, and the argmax
    is a packed-key max — maximize (cnt, n-1-label) ⇔ maximize
    cnt·n + (n-1-label), since 0 ≤ n-1-label < n."""
    import numpy as np

    src_idx, dst_idx, ids = _collect_trade_edges(lineitem, orders)
    n = len(ids)
    if n == 0:
        return local_rows_df(
            lineitem.sparkSession, [], "id long, community long"
        )
    labels = np.arange(n, dtype=np.int64)
    dstn = dst_idx * np.int64(n)
    for _ in range(iterations):
        comb = dstn + labels[src_idx]
        comb.sort()
        starts = np.flatnonzero(
            np.concatenate(([True], comb[1:] != comb[:-1]))
        )
        keys = comb[starts]
        cnt = np.diff(np.concatenate((starts, [len(comb)])))
        d = keys // n
        lab = keys % n
        packed = cnt * np.int64(n) + (np.int64(n) - 1 - lab)
        best = np.zeros(n, dtype=np.int64)
        np.maximum.at(best, d, packed)
        # symmetric edge list: every node receives >= 1 message, so
        # best > 0 everywhere and the label table is fully overwritten
        # each round (the distributed loop's `picked` likewise REPLACES
        # the state)
        labels = (np.int64(n) - 1) - (best % n)
    return local_rows_df(
        lineitem.sparkSession,
        [(int(i), int(ids[l])) for i, l in zip(ids, labels)],
        "id long, community long",
    )


def communities_trade(
    lineitem: DataFrame, orders: DataFrame, iterations: int = 4
) -> DataFrame:
    """Label-propagation communities of the supplier↔customer trade
    graph — purchasing neighborhoods (which customers cluster around
    which supplier groups)."""
    cap = _graph_driver_cap()
    if cap and _edges_bound(lineitem) <= cap:
        return _label_propagation_np(lineitem, orders, iterations)
    return label_propagation(
        trade_edges(lineitem, orders), iterations=iterations
    )


def shortest_hops(
    edges: DataFrame,
    sources: "list[int]",
    iterations: int = 6,
    num_partitions: int | None = None,
    frontier: bool = False,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Single-source(-set) BFS hop distances: (id, hops) for every node
    reachable from ``sources`` within ``iterations`` hops — the
    reachability/distance member of the graph family (pagerank =
    influence, label propagation = communities,
    dedup.resolve_duplicate_clusters = components).

    Synchronous min-plus relaxation, unrolled a fixed number of rounds
    (bounded-depth BFS — the deterministic, oracle-unrollable form; a
    node first reached at hop h > iterations is absent). Integer hops:
    bit-exact on any engine.

    Scale: per round, one shuffle — the relax candidates (edges joined
    to the current distance table, sort-free via the same shuffle_hash
    hint as the other loops) merge with the table in a single min
    aggregate with map-side combine. Distance state is 12 B/node.

    ``frontier=True`` switches to the frontier-delta form: each round
    joins the edges against only LAST round's newly-discovered nodes
    (in unweighted BFS the first discovery is already minimal, so a
    settled node never improves — new = candidates anti-joined against
    settled). The default re-relaxes the whole table each round —
    simplest and fine for small fixed depth; the delta form is the
    large-diameter / large-graph choice (its per-round cost tracks the
    frontier, not the reach), at the price of one eager checkpoint per
    round. Both produce identical tables (pytest-pinned)."""
    spark = edges.sparkSession
    n = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions")
    )
    e = edges.repartition(n, "src").cache()
    dist = IndexedDataFrame.from_unique(
        local_rows_df(
            spark, [(int(s), 0) for s in sources], "id long, hops int"
        ).repartition(n, "id"),
        "id",
        num_partitions=n,
        cache=False,
    )
    if frontier:
        front = dist.df
        for _ in range(iterations):
            cand = (
                e.join(front.hint("shuffle_hash"), F.col("src") == F.col("id"))
                .select(
                    F.col("dst").alias("id"),
                    (F.col("hops") + F.lit(1)).alias("hops"),
                )
                .groupBy("id")
                .agg(F.min("hops").alias("hops"))
            )
            new = cand.join(dist.df, "id", "left_anti").transform(truncate_lineage)
            if not new.take(1):  # frontier drained: BFS complete
                break
            dist = IndexedDataFrame(
                dist.df.unionByName(new), ["id"], n
            )
            front = new
    else:
        for i in range(iterations):
            relax = (
                e.join(dist.df.hint("shuffle_hash"), F.col("src") == F.col("id"))
                .select(
                    F.col("dst").alias("id"),
                    (F.col("hops") + F.lit(1)).alias("hops"),
                )
            )
            merged = dist.df.unionByName(relax)
            dist = IndexedDataFrame(
                merged.groupBy("id").agg(F.min("hops").alias("hops")),
                ["id"],
                n,
            )
            # lineage truncation, same rationale/cadence as pagerank
            # (integer hop state — checkpointing changes no values)
            if (
                checkpoint_every
                and (i + 1) % checkpoint_every == 0
                and (i + 1) < iterations
            ):
                dist = dist.reindex()
    out = dist.df.select("id", F.col("hops").cast("int")).transform(truncate_lineage)
    e.unpersist()
    return out


def _shortest_hops_np(
    lineitem: DataFrame, orders: DataFrame, sources: "list[int]",
    iterations: int
) -> DataFrame:
    """Driver twin of :func:`shortest_hops` (plain relaxation form)
    over the trade graph: synchronous min-plus rounds — candidates are
    computed from the PREVIOUS round's snapshot before the min-merge,
    exactly like the distributed union+min aggregate. Sources absent
    from the graph keep their 0 row (they relax nothing), as in the
    distributed loop."""
    import numpy as np

    src_idx, dst_idx, ids = _collect_trade_edges(lineitem, orders)
    n = len(ids)
    INF = np.int64(1) << 62
    dist = np.full(n, INF, dtype=np.int64)
    extras: dict[int, int] = {}
    for s in sources:
        pos = int(np.searchsorted(ids, s))
        if pos < n and ids[pos] == s:
            dist[pos] = 0
        else:
            extras[int(s)] = 0
    for _ in range(iterations):
        m = dist[src_idx] < INF
        cand = dist[src_idx[m]] + 1  # snapshot BEFORE the merge
        cand_dst = dst_idx[m]
        np.minimum.at(dist, cand_dst, cand)
    rows = sorted(
        [(int(i), int(h)) for i, h in zip(ids, dist) if h < INF]
        + list(extras.items())
    )
    return local_rows_df(lineitem.sparkSession, rows, "id long, hops int")


def trade_hops(
    lineitem: DataFrame,
    orders: DataFrame,
    source_customer: int = 0,
    iterations: int = 4,
) -> DataFrame:
    """BFS hop distances over the trade graph from one customer: hop 1 =
    their suppliers, hop 2 = those suppliers' other customers, ... —
    the supply-chain blast radius of a single account."""
    cap = _graph_driver_cap()
    if cap and _edges_bound(lineitem) <= cap:
        return _shortest_hops_np(
            lineitem, orders, [source_customer], iterations
        )
    return shortest_hops(
        trade_edges(lineitem, orders), [source_customer], iterations
    )


def sql_trade_hops(source_customer: int = 0, iterations: int = 4) -> str:
    """Exact DuckDB twin of :func:`trade_hops`: the identical min-plus
    relaxation unrolled (integer hops — bit-exact)."""
    ctes = [
        """edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT -(l_suppkey + 1) AS src, o_custkey AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                UNION ALL
                SELECT o_custkey AS src, -(l_suppkey + 1) AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            )
        )""",
        f"d0 AS (SELECT CAST({int(source_customer)} AS BIGINT) AS id, 0 AS hops)",
    ]
    for i in range(iterations):
        ctes.append(f"""d{i + 1} AS (
            SELECT id, MIN(hops) AS hops FROM (
                SELECT id, hops FROM d{i}
                UNION ALL
                SELECT e.dst AS id, d.hops + 1 AS hops
                FROM d{i} d JOIN edges e ON d.id = e.src
            ) GROUP BY id
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(hops AS INTEGER) AS hops FROM d{iterations}"
    )


def sql_communities_trade(iterations: int = 4) -> str:
    """Exact DuckDB twin of :func:`communities_trade`: same edge CTE as
    :func:`sql_pagerank_trade`, then one CTE per LPA round — neighbor
    label counts, ROW_NUMBER argmax with the identical (cnt DESC, label
    ASC) tie-break. Integer counts, integer labels: bit-exact."""
    ctes = [
        """edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT -(l_suppkey + 1) AS src, o_custkey AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                UNION ALL
                SELECT o_custkey AS src, -(l_suppkey + 1) AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            )
        )""",
        """l0 AS (
            SELECT src AS id, src AS label
            FROM (SELECT DISTINCT src FROM edges)
        )""",
    ]
    for i in range(iterations):
        ctes.append(f"""l{i + 1} AS (
            SELECT id, label FROM (
                SELECT e.dst AS id, l.label,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.dst
                           ORDER BY COUNT(*) DESC, l.label ASC
                       ) AS rn
                FROM l{i} l JOIN edges e ON l.id = e.src
                GROUP BY e.dst, l.label
            ) WHERE rn = 1
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, label AS community FROM l{iterations}"
    )


def sql_pagerank_trade(
    iterations: int = 6,
    scale: int = RANK_SCALE,
    damping_pct: int = DAMPING_PCT,
) -> str:
    """Exact DuckDB twin of :func:`pagerank_trade`: the same integer
    fixed-point recurrence unrolled as one CTE per iteration. BIGINT
    sums are order-independent and ``//`` truncates toward zero exactly
    like Spark's ``div`` (all quantities here are non-negative), so the
    hash-compare is bit-exact with no rounding games."""
    teleport = (100 - damping_pct) * scale // 100
    ctes = [
        """edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT -(l_suppkey + 1) AS src, o_custkey AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                UNION ALL
                SELECT o_custkey AS src, -(l_suppkey + 1) AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            )
        )""",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        f"""r0 AS (
            SELECT src AS id, CAST({scale} AS BIGINT) AS rank
            FROM (SELECT DISTINCT src FROM edges)
        )""",
    ]
    for i in range(iterations):
        ctes.append(f"""r{i + 1} AS (
            SELECT e.dst AS id,
                   CAST({teleport} + ({damping_pct} * SUM(r.rank // d.outdeg)) // 100
                        AS BIGINT) AS rank
            FROM r{i} r
            JOIN deg d ON r.id = d.src
            JOIN edges e ON r.id = e.src
            GROUP BY e.dst
        )""")
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, rank FROM r{iterations}"
    )

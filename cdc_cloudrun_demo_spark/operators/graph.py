"""Graph analytics: PageRank over the customer–supplier trade graph.

Iterative algorithms are the classic "can't oracle it" category — float
PageRank accumulates in partition order, so no two engines (or two runs)
agree to the last ulp. This implementation makes the WHOLE computation
exact integer arithmetic: rank mass is carried in fixed-point units
(10¹² total), per-edge contributions use floor division, and the damping
mix is integer (85·x)//100 — every iteration is a pure function of the
edge set, identical in Spark and DuckDB, so even a 10-iteration
fixed-point PageRank hash-matches its oracle (the oracle unrolls the
iterations as chained CTEs — no recursive-aggregate support needed).

Scale shape: each iteration is one shuffle keyed on the destination node
(contribution aggregation) plus a broadcast of the bounded per-source
contribution vector; the annotated edge list is derived once and pinned
with `localCheckpoint` (the Pregel/GraphX edge-partition discipline), so
it never re-derives and the iterative lineage stays a shallow chain of
LogicalRDD→join→agg steps. Rank leakage from floor division (< 1 unit
per node per iteration) stays in the system as an explicit residual —
conservation is property-tested.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

TOTAL_MASS = 1_000_000_000_000  # 10^12 fixed-point rank units
N_ITER = 10
DAMP_NUM, DAMP_DEN = 85, 100

# Gate for the per-iteration rank-vector join strategy. Below this node
# count the rank/contribution vector is broadcast (zero shuffles of the
# pinned edge list, one dst-keyed agg per iteration); above it the rank
# vector would blow the broadcast budget (~24 bytes/node ⇒ ~1.2 GB at
# 50M nodes), so edges are pinned HASH-PARTITIONED ON src and the rank
# vector — already hash-partitioned on node by the previous iteration's
# aggregate — joins with NO new exchange at all (shuffle-hash join over
# two co-partitioned children). The arithmetic is identical either way,
# so both paths hash-match the same unrolled-CTE oracle. The gate reads
# the candidate node-id tables' parquet COUNTs (metadata-only scans),
# not the edge join. Env override SPARK_GRAFT_RANK_BROADCAST_MAX for the
# plan test to force the co-partitioned path on small data.
RANK_BROADCAST_MAX_NODES = 50_000_000

# Lineage-truncation cadence for iterative rank/distance loops: one giant
# AQE plan re-optimizes the whole logical plan after every finished stage
# (quadratic in stage count — measured ~2× slower across 10 iterations on
# the r6 shape), while checkpointing every iteration materializes
# needlessly. Re-swept in r14 on the final runtime-verified pin shape
# (edge side never shuffles in any segment, iterations run at the pin's
# bytes-derived width): with iterations this slim, replan containment
# dominates again and ce=3 wins the sweep (best-of-6 at sf0.1: 4.39 vs
# 5.13 @5 vs 6.93 @10), matching broadcast mode's long-standing value.
# Kept as a separate env knob for experiments.
CHECKPOINT_EVERY = int(os.environ.get("SPARK_GRAFT_PR_CE", "3"))
CHECKPOINT_EVERY_COPART = int(os.environ.get("SPARK_GRAFT_PR_CE_COPART", "3"))


_RANK_MODE_MEMO: dict[tuple[str, int], str] = {}


from contextlib import contextmanager


@contextmanager
def _static_pin_plan(spark: SparkSession):
    """Compile the enclosed ``localCheckpoint`` pins WITHOUT adaptive
    execution so the checkpointed RDD keeps its hash partitioning.

    Under AQE, ``Dataset.checkpoint`` reads the partitioning off the
    ``AdaptiveSparkPlanExec`` wrapper before any final plan exists, so
    every pinned RDD comes back ``UnknownPartitioning`` (verified on
    4.1.2: ``repartition(k).localCheckpoint().groupBy(k)`` re-shuffles;
    with AQE off the same pin preserves ``hashpartitioning(k)`` and the
    groupBy plans exchange-free). The iterative rank loops live and die
    by that preservation — it is the difference between one edge-list
    shuffle at build and one per iteration — so the PIN subtrees
    compile statically; the surrounding query (and the final action)
    still run under AQE, which adds no exchange when the pinned
    partitioning already satisfies the distribution. Scoped + restored
    in ``finally``; construction is driver-side single-threaded, so the
    session-wide toggle cannot leak into a concurrent caller's plan
    beyond this window."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _rank_join_mode(spark: SparkSession, sf_dir: str, mode: str) -> str:
    """Resolve 'auto' to 'broadcast' or 'copartition' by node count.

    Memoized per (corpus, gate): the decision is table-stats metadata —
    the same cardinality an engine's catalog caches between queries —
    so the two footer-count jobs run once per corpus, not once per
    query construction."""
    if mode != "auto":
        return mode
    gate = int(
        os.environ.get("SPARK_GRAFT_RANK_BROADCAST_MAX", RANK_BROADCAST_MAX_NODES)
    )
    key = (sf_dir, gate)
    cached = _RANK_MODE_MEMO.get(key)
    if cached is not None:
        return cached
    n_nodes = (
        load_table(spark, sf_dir, "customer").count()
        + load_table(spark, sf_dir, "supplier").count()
    )
    resolved = "broadcast" if n_nodes <= gate else "copartition"
    _RANK_MODE_MEMO[key] = resolved
    return resolved


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier edges from orders⋈lineitem, both
    directions (symmetric graph ⇒ no dangling nodes). Node ids: customer
    c → 2c, supplier s → 2s+1 (disjoint, reversible)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust"),
            (F.col("l_suppkey") * 2 + 1).alias("supp"),
        )
        .distinct()
    )
    # Both directions come from ONE pass over the distinct pairs: a
    # union of two selects duplicates the whole join+distinct subtree in
    # the plan (lineitem scanned and shuffled twice — observed, not
    # hypothetical); explode(array(fwd, rev)) emits both edges per pair
    # from the single materialized subtree.
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("cust").alias("src"), F.col("supp").alias("dst")),
                F.struct(F.col("supp").alias("src"), F.col("cust").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def graph_pagerank(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = N_ITER,
    rank_join: str = "auto",
) -> DataFrame:
    """Fixed-point PageRank (damping 0.85, ``n_iter`` iterations) over
    the trade graph; returns every node's rank in integer units plus its
    kind. See module docstring for why this is hash-match oracleable.

    Iteration shape (round-6 rework — the r5 version re-derived the
    lineitem⋈orders edge join inside every iteration's lineage and paid
    3 joins per step): the destination's outdegree and the damping
    constants are attached to the edge list ONCE, and the whole annotated
    edge list is materialized via lazy localCheckpoint (the Pregel/GraphX
    discipline — every iterative graph system pins the edge partitions).
    Each iteration is then exactly ONE broadcast join (the slim
    per-source contribution vector onto the pinned edges) and ONE
    aggregation keyed on dst — which yields the next rank vector
    directly, because the graph is symmetric by construction (both
    directions of every pair are emitted), so every node has indegree
    ≥ 1 and no left-join against a node table is needed. Constants are
    computed IN-PLAN (the oracle's consts CTE) — no driver-side count().
    NOTE on timing: AQE resolves the checkpoint's query stages at toRdd,
    so the one-time edge materialization executes while this function
    BUILDS the plan, before any action fires; bench.py therefore times
    this query from construction start (FULL_TIMED) so that cost cannot
    escape the measurement. The
    contribution-vector broadcast is bounded: the node set is customer ∪
    supplier — DIMENSION cardinality, not fact cardinality. Above
    ``RANK_BROADCAST_MAX_NODES`` (``rank_join='auto'`` gate, or force
    with ``'copartition'``) the broadcast is swapped for co-hash
    partitioning: edges are pinned partitioned on src, the rank vector
    exits each iteration's aggregate already partitioned on node, and a
    shuffle-hash join joins the two with ZERO additional exchanges —
    one dst-keyed shuffle per iteration total, nothing broadcast, which
    is the shape that survives a billion-node graph. Identical integer
    arithmetic on both paths ⇒ one oracle."""
    mode = _rank_join_mode(spark, sf_dir, rank_join)
    raw = _trade_edges(spark, sf_dir)
    deg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    consts = deg.agg(
        F.expr(f"{TOTAL_MASS} div count(1)").alias("init"),
        F.expr(
            f"({DAMP_DEN - DAMP_NUM} * ({TOTAL_MASS} div count(1)))"
            f" div {DAMP_DEN}"
        ).alias("base"),
    )
    dst_deg = deg.select(F.col("src").alias("dst"), F.col("outdeg").alias("dst_outdeg"))
    edges = raw.join(dst_deg, "dst").crossJoin(F.broadcast(consts)).select(
        "src", "dst", "dst_outdeg", "init", "base"
    )
    # Round-14 two-step pin (guide §2.4): derive the edge CONTENT under
    # AQE (runtime broadcast conversion + coalescing for the li⋈o joins),
    # then re-pin it hash-partitioned on the per-iteration key through a
    # TRIVIAL static plan (scan→exchange — nothing for AQE to improve)
    # so the partitioning survives into the LogicalRDD (see
    # _static_pin_plan: under AQE every checkpoint pins as
    # UnknownPartitioning, which silently re-shuffled the FULL edge list
    # inside every copart iteration and re-shuffled the agg input every
    # broadcast-mode iteration in the r13 plans). copartition pins on
    # src (the rank join key: join needs no exchange, the agg pays the
    # iteration's one slim shuffle); broadcast pins on dst (the agg key:
    # contribs is broadcast, so ALL per-iteration exchanges vanish).
    # (eager: the re-pin below reads the materialized partition count)
    edges = edges.localCheckpoint(eager=True)
    # Keyed-pin width = AQE's own coalescing decision on the materialized
    # content (bytes-derived: ~1-2 partitions at sf0.1, hundreds on a
    # cluster edge list) — scale-adaptive with zero constants. A fixed
    # spark.sql.shuffle.partitions here was tried and costs locally:
    # the pinned side blocks AQE coalescing through every iteration
    # join, so 10 iterations ran at 32 near-empty partitions (suite
    # copart 7.0 → 11.3 s). Floor of 2: hashpartitioning(k, 1)
    # canonicalizes to SinglePartition and no longer reports as
    # hash-compatible to the iteration join's co-partitioning check, so
    # a 1-partition pin silently re-shuffles the edge list every
    # iteration (measured; n>=2 never does). The copart loop re-keys
    # its slim contribs vector to this exact width each iteration (see
    # below), so the join is co-partitioned at the pin's width by
    # construction at any scale.
    n_parts = max(edges.rdd.getNumPartitions(), 2)
    key = F.col("src") if mode == "copartition" else F.col("dst")
    with _static_pin_plan(spark):
        edges = edges.repartition(n_parts, key).localCheckpoint(eager=False)
    # rank vector: (node, outdeg, base, rank); seeded from the annotated
    # edges so an empty corpus yields an empty, correctly-typed result
    ranks = edges.groupBy(F.col("dst").alias("node")).agg(
        F.min("dst_outdeg").alias("outdeg"),
        F.min("base").alias("base"),
        F.min("init").alias("rank"),
    )
    for i in range(n_iter):
        contribs = ranks.select("node", F.expr("rank div outdeg").alias("c"))
        if mode == "copartition":
            # Explicitly co-partition the slim contribution vector to
            # the pin's count: a shuffle-hash join demands both sides
            # hash-partitioned with the SAME count, and the aggregate's
            # spark.sql.shuffle.partitions never equals the pin's
            # bytes-derived count, so without this the executed plan
            # silently re-shuffled the FULL edge list every iteration
            # (hashpartitioning(src, 1) satisfies nothing at 32). The
            # repartition moves ~24 bytes/node — node-scaled, the slim
            # side — while the edge side (fact-scaled) never moves; it
            # also frees AQE to coalesce the aggregate reads (nothing
            # downstream requires their width), so local iterations run
            # at the bytes-derived width instead of a fixed 32. The
            # shuffle_hash hint keeps AQE from demoting the join to
            # broadcast (defeating the gate) or sort-merge (adding
            # per-iteration sorts).
            contribs = contribs.repartition(n_parts, "node").hint("shuffle_hash")
        else:
            contribs = F.broadcast(contribs)
        ranks = (
            edges.join(contribs, edges.src == contribs.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.min("dst_outdeg").alias("outdeg"),
                F.min("base").alias("base"),
                (
                    F.min("base")
                    + F.expr(f"{DAMP_NUM} * sum(c) div {DAMP_DEN}")
                ).alias("rank"),
            )
        )
        # truncate the iterative lineage every few steps: one giant AQE
        # plan re-optimizes the WHOLE logical plan after every finished
        # stage (quadratic in stage count — measured ~2× slower across 10
        # iterations); short checkpointed segments keep each AQE plan
        # small. FULL_TIMED in bench.py times this query from
        # construction start, so the work these checkpoints execute
        # early is still measured.
        ce = CHECKPOINT_EVERY if mode == "broadcast" else CHECKPOINT_EVERY_COPART
        if (i + 1) % ce == 0 and i + 1 < n_iter:
            # rank-segment pins stay AQE-planned: a static segment
            # serializes 3 iterations of work into the final action's
            # single classic job (measured 5.1 → 7.5 s on copart), and
            # the only thing the static compile would preserve — the
            # rank vector's hash(node) at the segment boundary — guards
            # a contribs-sized (node-scaled, slim) re-shuffle, not the
            # fact-scaled edge list.
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.col("rank").alias("rank_units"),
    )


def _pagerank_oracle(n_iter: int = N_ITER) -> str:
    """The identical computation as unrolled chained CTEs (DuckDB's
    recursive CTEs disallow aggregation in the recursive term, and
    unrolling is exact anyway). `//` is DuckDB floor division — both
    operands are non-negative, matching Spark's `div`."""
    head = f"""
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), edges AS (
            SELECT cust AS src, supp AS dst FROM pairs
            UNION ALL
            SELECT supp AS src, cust AS dst FROM pairs
        ), deg AS (
            SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
        ), nodes AS (
            SELECT src AS node, outdeg FROM deg
        ), consts AS (
            SELECT COUNT(*) AS n,
                   {TOTAL_MASS} // COUNT(*) AS init,
                   ({DAMP_DEN - DAMP_NUM} * ({TOTAL_MASS} // COUNT(*)))
                     // {DAMP_DEN} AS base
            FROM nodes
        ), pr0 AS (
            SELECT node, init AS rank FROM nodes, consts
        )"""
    steps = []
    for i in range(n_iter):
        steps.append(f"""
        , inc{i} AS (
            SELECT e.dst, SUM(p.rank // d.outdeg) AS inc
            FROM pr{i} p JOIN deg d ON p.node = d.src
                         JOIN edges e ON e.src = p.node
            GROUP BY e.dst
        ), pr{i + 1} AS (
            SELECT n.node,
                   c.base + ({DAMP_NUM} * COALESCE(i.inc, 0)) // {DAMP_DEN} AS rank
            FROM nodes n CROSS JOIN consts c LEFT JOIN inc{i} i ON n.node = i.dst
        )""")
    tail = f"""
        SELECT node,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
               CAST(rank AS BIGINT) AS rank_units
        FROM pr{n_iter}
    """
    return head + "".join(steps) + tail


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph, split by node kind — the
    first diagnostic any graph pipeline runs (skew detection: a
    power-law hub is what forces salting/broadcast decisions in the
    iterative ops). One aggregation to per-node degree, one to the
    (kind, degree) histogram; the histogram is |distinct degrees| rows
    regardless of graph size."""
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(
            F.when(F.col("src") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("kind"),
            "degree",
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select("kind", F.col("degree").cast("long").alias("degree"), "n_nodes")
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ordered part co-purchase edges (a < b: parts appearing in
    the same order) — a UNIPARTITE graph (the trade graph is bipartite,
    so its triangle count is trivially 0). The per-order self-join
    explodes each order into its item pairs — bounded: C(items,2) per
    order with ≤7 items — then global distinct. At 100 TB this is one
    shuffle on l_orderkey (co-partitioned self-join) plus the distinct's
    shuffle on the pair; a pathological mega-order would need a
    per-order item cap first (the posting-list cap discipline,
    functions/dedup.py)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    return (
        x.join(y, "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT triangle count + global clustering coefficient over the
    part co-purchase graph, via DEGREE ORIENTATION — the formulation
    that survives power-law hubs at 100 TB: every undirected edge is
    directed from its lower-(degree, id) endpoint to its higher one, so
    each triangle is counted exactly once as two out-edges (u→v, u→w)
    at its lowest-ranked corner closed by the (necessarily v→w oriented)
    third edge, and — the point — every out-degree is O(√m), capping
    the wedge join at O(m^1.5) where an id-orientation lets one hub of
    degree d generate C(d,2) wedges. The orientation rank is the single
    scalar (deg·2³² + id): totally ordered without any global window
    (no single-reducer rank pass). Closure is a SEMI join back to the
    oriented edge list — non-triangle wedges never reach the output.
    Wedge total W = Σ_v C(deg,2) comes from the degree table (|V| rows);
    clustering = 3T/W is one exact int→double division. The oracle
    keeps the simpler id-oriented SQL: the COUNTS are
    orientation-invariant, so the cross-engine check certifies the
    degree-oriented plan against independent arithmetic. Shuffles:
    pair-gen on l_orderkey, edge distinct, two vertex-keyed degree
    joins, the wedge join on the low corner — all keyed, no broadcast
    of anything data-scaled."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    rank = (F.col("d") * F.lit(1 << 32) + F.col("v")).alias("r")
    ranks = deg.select("v", rank)
    with_ra = edges.join(ranks.withColumnRenamed("v", "a").withColumnRenamed("r", "ra"), "a")
    with_rb = with_ra.join(
        ranks.withColumnRenamed("v", "b").withColumnRenamed("r", "rb"), "b"
    )
    oriented = with_rb.select(
        F.when(F.col("ra") < F.col("rb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ra") < F.col("rb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.greatest("ra", "rb").alias("rdst"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, F.col("o1.src") == F.col("o2.src"))
        .filter(F.col("o1.rdst") < F.col("o2.rdst"))
        .select(F.col("o1.dst").alias("v"), F.col("o2.dst").alias("w"))
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2)).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("global_clustering"),
        )
    )


def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge SUPPORT — for every co-purchase edge, the number of
    triangles it participates in (= common neighbors of its endpoints):
    the building block of k-truss decomposition, the standard
    community-robustness filter (an edge with support < k-2 cannot be in
    a k-truss) and the graph analog of the dedup pipeline's "how
    corroborated is this pair" signal. Triangles are ENUMERATED once via
    the same degree-oriented wedge join as `graph_triangle_count`
    (out-degrees capped at O(√m), so enumeration is O(m^1.5) not
    O(Σ C(deg,2))), then each triangle credits its three edges — a
    3-row explode, narrow — and one count keyed on the (a<b id-ordered)
    edge. Zero-support edges are reported too (left join from the edge
    list), since a truss peel needs them first. Exact integers → full
    hash-match oracle; the oracle re-derives support independently via
    id-oriented wedges, certifying the degree-oriented enumeration."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranks = deg.select("v", (F.col("d") * F.lit(1 << 32) + F.col("v")).alias("r"))
    with_ra = edges.join(
        ranks.withColumnRenamed("v", "a").withColumnRenamed("r", "ra"), "a"
    )
    with_rb = with_ra.join(
        ranks.withColumnRenamed("v", "b").withColumnRenamed("r", "rb"), "b"
    )
    oriented = with_rb.select(
        F.when(F.col("ra") < F.col("rb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ra") < F.col("rb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.greatest("ra", "rb").alias("rdst"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, F.col("o1.src") == F.col("o2.src"))
        .filter(F.col("o1.rdst") < F.col("o2.rdst"))
        .select(
            F.col("o1.src").alias("u"),
            F.col("o1.dst").alias("v"),
            F.col("o2.dst").alias("w"),
        )
    )
    triangles = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    tri_edges = triangles.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
                F.struct(F.col("u").alias("x"), F.col("w").alias("y")),
                F.struct(F.col("v").alias("x"), F.col("w").alias("y")),
            )
        ).alias("e")
    ).select(
        F.least("e.x", "e.y").alias("a"), F.greatest("e.x", "e.y").alias("b")
    )
    support = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    return edges.join(support, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def graph_components(spark: SparkSession, sf_dir: str, max_iter: int = 20) -> DataFrame:
    """Connected components of the REPEATED co-purchase graph (parts
    bought together in ≥2 distinct orders — the support filter that
    turns one dense hairball into meaningful product families, and the
    same shape as a dedup pipeline's cluster step on any pair graph).
    Pregel-style min-label propagation: each round every node takes
    min(own, neighbors') labels; fixpoint in O(diameter) rounds. One
    edge-keyed join + one aggregate per round, labels localCheckpoint'd
    so lineage doesn't grow with iterations, and the driver reads ONE
    scalar (the changed-count) per round — the idiomatic Spark iterative
    shape shared with `dedup_ngram_clusters` and PageRank. Exact
    fixpoint → full hash-match oracle: DuckDB reproduces it as a
    recursive transitive-closure CTE (min reachable id per node) —
    two entirely different algorithms, provably the same labeling."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(y, "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("a", "b")
    )
    # Pinned hash(src) via the two-step discipline (see graph_pagerank)
    # so the per-round propagation join never re-shuffles the edge list:
    # a bare .persist() caches the ROWS but leaves them unpartitioned,
    # and every round's join paid a full sym shuffle anyway.
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    # floor of 2: a 1-partition pin canonicalizes to SinglePartition
    # (see graph_pagerank)
    with _static_pin_plan(spark):
        sym = sym.repartition(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2),
            F.col("src"),
        ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component_id"))
        .persist()
    )
    for _ in range(max_iter):
        # shuffle_hash: keeps the propagation join from demoting to
        # sort-merge at scale (which would sort the pinned edge side
        # every round); the labels build side is node-scaled.
        nbr_min = (
            sym.join(labels.hint("shuffle_hash"), sym.src == labels.node)
            .groupBy("dst")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nbr_min"), F.col("component_id")),
                ).alias("component_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component_id") != F.col("o.component_id"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("part_id"), "component_id")


BFS_SEED_NATION = 1
BFS_MAX_HOPS = 4


def graph_bfs_hops(
    spark: SparkSession,
    sf_dir: str,
    max_hops: int = BFS_MAX_HOPS,
    rank_join: str = "auto",
) -> DataFrame:
    """Bounded-hop BFS: minimum hop distance from a seed set (customers
    of one nation) to every node of the trade graph reachable within
    ``max_hops`` — the multi-source shortest-path primitive behind
    "blast radius" / label-propagation-from-anchors queries (and, in a
    data pipeline, "documents within k citation hops of a trusted set").
    Hop counts are exact integers, so unlike float shortest paths the
    whole computation hash-matches an oracle that unrolls the same
    min-fold as chained CTEs.

    Iteration shape: dist_{i+1} = min-fold of dist_i ∪ (dist_i ⋈ edges
    + 1), i.e. one src-keyed broadcast-or-shuffle join plus one
    node-keyed aggregate per hop — the Pregel relaxation step. The edge
    list is annotated once and pinned (`localCheckpoint`, same
    discipline as `graph_pagerank`) so the bounded loop's lineage stays
    shallow. The full-distance-vector fold (not a frontier delta) keeps
    every iteration a pure function of the previous one — exactly the
    oracle's CTE — at the cost of re-touching settled nodes; a frontier
    variant saves work once hop counts stabilize but needs a changed-set
    diff per round (the `graph_components` shape). max_hops is a
    CONSTANT (4), so the unrolled plan depth is bounded by design.

    Reference anchor: the reference's recursive lookups are single-row
    JPA fetches (MessageResource.java:19); this is the set-at-a-time
    generalization a relational engine needs for graph reachability.

    ``rank_join``: same gate as ``graph_pagerank`` — above
    ``RANK_BROADCAST_MAX_NODES`` the edge list is pinned partitioned on
    src and the distance vector (already partitioned on node by the
    min-fold aggregate) relaxes via an exchange-free shuffle-hash join
    instead of letting AQE broadcast the growing distance vector."""
    mode = _rank_join_mode(spark, sf_dir, rank_join)
    edges = _trade_edges(spark, sf_dir)
    if mode == "copartition":
        # Same two-step pin as graph_pagerank: under AQE a checkpoint
        # pins UnknownPartitioning, so the plain repartition(src) this
        # used to do was silently discarded and every hop re-shuffled
        # the edge list. Derive content under AQE, then statically
        # re-pin at the relaxation join's partition count.
        edges = edges.localCheckpoint(eager=True)
        n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
        with _static_pin_plan(spark):
            edges = edges.repartition(n_parts, F.col("src")).localCheckpoint(
                eager=False
            )
    else:
        edges = edges.localCheckpoint(eager=False)
    cust = load_table(spark, sf_dir, "customer")
    seeds = (
        cust.filter(F.col("c_nationkey") == BFS_SEED_NATION)
        .select((F.col("c_custkey") * 2).alias("node"))
        .withColumn("hops", F.lit(0).cast("long"))
    )
    if mode == "copartition":
        # Seed the fold already partitioned on node so iteration 1's
        # relaxation join is exchange-free like the rest.
        seeds = seeds.repartition(F.col("node"))
    dist = seeds
    for i in range(max_hops):
        probe = dist.hint("shuffle_hash") if mode == "copartition" else dist
        relaxed = (
            probe.join(edges, probe.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        # no checkpoint after the final hop: the consumer's plan keeps
        # the last relaxation join visible (plan tests pin its shape)
        # and skips one needless materialization
        if i + 1 < max_hops:
            dist = dist.localCheckpoint(eager=False)
    return dist.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.col("hops").cast("long").alias("hops"),
    )


def _bfs_oracle(max_hops: int = BFS_MAX_HOPS) -> str:
    """Identical min-fold, unrolled: d_{i+1} = MIN over d_i ∪ (d_i⋈edges)."""
    head = f"""
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), edges AS (
            SELECT cust AS src, supp AS dst FROM pairs
            UNION ALL
            SELECT supp AS src, cust AS dst FROM pairs
        ), d0 AS (
            SELECT c_custkey * 2 AS node, 0 AS hops
            FROM customer WHERE c_nationkey = {BFS_SEED_NATION}
        )"""
    steps = []
    for i in range(max_hops):
        steps.append(f"""
        , d{i + 1} AS (
            SELECT node, MIN(hops) AS hops FROM (
                SELECT node, hops FROM d{i}
                UNION ALL
                SELECT e.dst AS node, d.hops + 1 AS hops
                FROM d{i} d JOIN edges e ON d.node = e.src
            ) GROUP BY node
        )""")
    tail = f"""
        SELECT node,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
               CAST(hops AS BIGINT) AS hops
        FROM d{max_hops}
    """
    return head + "".join(steps) + tail


def graph_bfs_frontier(
    spark: SparkSession, sf_dir: str, max_hops: int = BFS_MAX_HOPS
) -> DataFrame:
    """Frontier-delta BFS — the at-scale alternative to
    ``graph_bfs_hops``' full-vector min-fold, which re-aggregates EVERY
    settled node each hop. Here each hop expands only the nodes
    discovered in the previous hop: relax the frontier across the
    pinned edge list, dedup, anti-join the already-visited set, tag the
    survivors with the hop number. On a wide graph the frontier
    typically peaks early and collapses (hop 4 of this trade graph
    touches a fraction of what hop 2 did), so per-iteration work tracks
    |frontier ⋈ edges| instead of |all reached nodes| — the difference
    between O(edges · diameter) and O(edges reached once) total work.
    BFS layering makes the first discovery of a node its minimum hop
    distance, so the result is EXACTLY the min-fold's — one oracle
    proves both algorithms. Edges are pinned hash-partitioned on src;
    the frontier exits its dedup partitioned on node; each discovered
    layer is checkpointed so the accumulated distance table is a
    shallow union of materialized layers, not an iteration-deep plan."""
    # Two-step pin (see graph_pagerank): a one-step repartition+checkpoint
    # loses its partitioning under AQE and the hop joins re-shuffle the
    # edge list every round.
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    with _static_pin_plan(spark):
        edges = edges.repartition(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2),
            F.col("src"),
        ).localCheckpoint(eager=False)
    cust = load_table(spark, sf_dir, "customer")
    seeds = (
        cust.filter(F.col("c_nationkey") == BFS_SEED_NATION)
        .select((F.col("c_custkey") * 2).alias("node"))
        .withColumn("hops", F.lit(0).cast("long"))
        .repartition(F.col("node"))
        .localCheckpoint(eager=False)
    )
    dist = seeds
    frontier = seeds
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.hint("shuffle_hash")
            .join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop).cast("long"))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionAll(nxt)
        frontier = nxt
    return dist.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.col("hops").cast("long").alias("hops"),
    )


def graph_pagerank_copart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale rank-join path (see ``graph_pagerank``): edges
    pinned hash-partitioned on src, rank vector joined shuffle-hash with
    zero extra exchanges, nothing broadcast. Registered separately so
    the driver hash-proves the co-partitioned plan computes the exact
    same fixed-point as the broadcast plan (same oracle)."""
    return graph_pagerank(spark, sf_dir, rank_join="copartition")


def graph_bfs_copart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-scale BFS relaxation (see ``graph_bfs_hops``): co-partitioned
    distance-vector join, no broadcast; same oracle as the gated entry."""
    return graph_bfs_hops(spark, sf_dir, rank_join="copartition")


QUERIES = {
    "graph_bfs_hops": graph_bfs_hops,
    "graph_bfs_copart": graph_bfs_copart,
    "graph_bfs_frontier": graph_bfs_frontier,
    "graph_pagerank_copart": graph_pagerank_copart,
    "graph_components": graph_components,
    "graph_degree_stats": graph_degree_stats,
    "graph_pagerank": graph_pagerank,
    "graph_triangle_count": graph_triangle_count,
    "graph_edge_support": graph_edge_support,
}

ORACLES = {
    "graph_bfs_hops": _bfs_oracle(),
    "graph_bfs_copart": _bfs_oracle(),
    "graph_bfs_frontier": _bfs_oracle(),
    "graph_pagerank_copart": _pagerank_oracle(),
    "graph_components": """
        WITH RECURSIVE pairs AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
            WHERE x.l_partkey < y.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), sym AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION
            SELECT b AS src, a AS dst FROM pairs
        ), reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        ), minreach AS (
            SELECT src, MIN(dst) AS m FROM reach GROUP BY src
        )
        SELECT n.node AS part_id,
               LEAST(n.node, COALESCE(mr.m, n.node)) AS component_id
        FROM (SELECT DISTINCT src AS node FROM sym) n
        LEFT JOIN minreach mr ON mr.src = n.node
    """,
    "graph_degree_stats": """
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), edges AS (
            SELECT cust AS src, supp AS dst FROM pairs
            UNION ALL
            SELECT supp AS src, cust AS dst FROM pairs
        ), deg AS (
            SELECT src, COUNT(*) AS degree FROM edges GROUP BY src
        )
        SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
               CAST(degree AS BIGINT) AS degree,
               COUNT(*) AS n_nodes
        FROM deg GROUP BY 1, 2
    """,
    "graph_pagerank": _pagerank_oracle(),
    "graph_triangle_count": """
        WITH edges AS (
            SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
            WHERE x.l_partkey < y.l_partkey
        ), tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            WHERE EXISTS (
                SELECT 1 FROM edges e3 WHERE e3.a = e1.a AND e3.b = e2.b
            )
        ), deg AS (
            SELECT v, COUNT(*) AS d FROM (
                SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
            ) GROUP BY v
        ), stats AS (
            SELECT COUNT(*) AS n_nodes,
                   CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
            FROM deg
        ), ne AS (
            SELECT COUNT(*) AS n_edges FROM edges
        )
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
                 AS global_clustering
        FROM stats CROSS JOIN ne CROSS JOIN tri
    """,
    "graph_edge_support": """
        WITH edges AS (
            SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
            WHERE x.l_partkey < y.l_partkey
        ), triangles AS (
            SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ), tri_edges AS (
            SELECT u AS a, v AS b FROM triangles
            UNION ALL SELECT u, w FROM triangles
            UNION ALL SELECT v, w FROM triangles
        ), support AS (
            SELECT a, b, COUNT(*) AS s FROM tri_edges GROUP BY a, b
        )
        SELECT e.a, e.b, CAST(COALESCE(s.s, 0) AS BIGINT) AS support
        FROM edges e LEFT JOIN support s ON s.a = e.a AND s.b = e.b
    """,
}

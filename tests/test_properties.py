"""Property-based tests (hypothesis): the CDC fold against a first-
principles Python model, and plan-equivalence of the salted top-k.

Bounded example counts — each example runs Spark jobs, so the budget is
spent on structural variety (op mixes, replays, interleavings), not volume.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_cloudrun_demo_spark.operators.cdc import _fold
from cdc_cloudrun_demo_spark.streaming.cdc_stream import lww_merge
from tests.test_streaming import _update_rows

CHANGE_SCHEMA = "seq long, op string, id long, content string, ts timestamp"

_ops = st.sampled_from(["INSERT", "UPDATE", "DELETE"])
_events = st.lists(
    st.tuples(_ops, st.integers(min_value=1, max_value=5), st.text("ab", max_size=3)),
    min_size=1,
    max_size=12,
)


def _model_fold(events: list[tuple[int, str, int, str]]) -> dict[int, tuple[str, int]]:
    """Reference model: dict fold in seq order, tombstones drop keys."""
    state: dict[int, tuple[str, int]] = {}
    for seq, op, key, content in sorted(events):
        if op == "DELETE":
            state.pop(key, None)
        else:
            state[key] = (content, seq)
    return state


def _rows(events):
    t0 = datetime(2024, 1, 1)
    return [
        (seq, op, key, content, t0 + timedelta(minutes=seq))
        for seq, op, key, content in events
    ]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events)
def test_cdc_fold_matches_model(spark, raw):
    events = [(i + 1, op, key, c) for i, (op, key, c) in enumerate(raw)]
    df = spark.createDataFrame(_rows(events), CHANGE_SCHEMA)
    got = {r["id"]: (r["content"], r["last_seq"]) for r in _fold(df).collect()}
    assert got == _model_fold(events)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events, _events)
def test_cdc_merge_is_incremental(spark, raw_a, raw_b):
    """Folding the whole log at once == folding two slices to update rows
    and merging them with the sink's `lww_merge` (tombstones retained
    through the merge, filtered by the reader)."""
    a = [(i + 1, op, key, c) for i, (op, key, c) in enumerate(raw_a)]
    b = [(len(a) + i + 1, op, key, c) for i, (op, key, c) in enumerate(raw_b)]
    df_all = spark.createDataFrame(_rows(a + b), CHANGE_SCHEMA)
    df_a = spark.createDataFrame(_rows(a), CHANGE_SCHEMA)
    df_b = spark.createDataFrame(_rows(b), CHANGE_SCHEMA)

    whole = {
        r["id"]: (r["content"], r["last_seq"]) for r in _fold(df_all).collect()
    }
    merged = lww_merge(_update_rows(df_a).unionByName(_update_rows(df_b)))
    got = {
        r["id"]: (r["content"], r["last_seq"])
        for r in merged.filter(~F.col("is_deleted")).collect()
    }
    assert got == whole


def test_stratified_sample_invariants(spark, sf_smoke):
    """≤ per_stratum rows per stratum; deterministic across runs; every
    sampled row exists in the source."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.sampling import sample_stratified

    s1 = sample_stratified(spark, sf_smoke).collect()
    s2 = sample_stratified(spark, sf_smoke).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # deterministic
    per = {}
    for r in s1:
        per[r["l_returnflag"]] = per.get(r["l_returnflag"], 0) + 1
    assert all(n <= 200 for n in per.values()), per
    src = {
        (r["l_orderkey"], r["l_linenumber"], r["l_quantity"])
        for r in load_table(spark, sf_smoke, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .collect()
    }
    assert all((r["l_orderkey"], r["l_linenumber"], r["l_quantity"]) in src for r in s1)


def test_gap_fill_conserves_events_and_fills_forward(spark, sf_smoke):
    """Gap-fill must neither invent nor lose events (Σ n_events equals the
    raw count), the grid must be hour-dense per user, and filled_value is
    non-null from each user's first observation on."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.streaming_batch import stream_gap_fill

    ev = load_table(spark, sf_smoke, "events")
    out = stream_gap_fill(spark, sf_smoke)
    assert out.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    # dense grid: rows per user == hours between first and last hour + 1
    spans = (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            ((F.unix_timestamp(F.max("hour")) - F.unix_timestamp(F.min("hour")))
             / 3600 + 1).alias("n_hours"),
        )
        .filter(F.col("n_rows") != F.col("n_hours"))
        .count()
    )
    assert spans == 0
    assert out.filter(F.col("filled_value").isNull()).count() == 0


def test_connected_components_are_consistent(spark, sf_smoke):
    """Cluster labels must be idempotent under the edge relation: both
    endpoints of every near-dup edge share a label, every label is the min
    doc_id of its own cluster, and non-edge docs label themselves."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.functions.dedup import (
        dedup_ngram_clusters,
        dedup_ngram_jaccard,
    )

    labels = {r["doc_id"]: r["cluster_id"] for r in dedup_ngram_clusters(spark, sf_smoke).collect()}
    edges = [(r["id_a"], r["id_b"]) for r in dedup_ngram_jaccard(spark, sf_smoke).collect()]
    for a, b in edges:
        assert labels[a] == labels[b], (a, b, labels[a], labels[b])
    touched = {x for e in edges for x in e}
    for doc, lbl in labels.items():
        if doc not in touched:
            assert lbl == doc
    # every cluster's label is its own minimum member
    from collections import defaultdict

    members = defaultdict(list)
    for doc, lbl in labels.items():
        members[lbl].append(doc)
    assert all(min(v) == k for k, v in members.items())


def test_log_compaction_preserves_materialized_state(spark, sf_smoke):
    """The compaction invariant: replaying the compacted log through the
    LWW fold yields the identical materialized state (tombstones
    retained, no resurrected keys)."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.operators.cdc import _fold, cdc_log_compact
    from cdc_cloudrun_demo_spark.fixtures import message_changes_df

    full = _fold(message_changes_df(spark, sf_smoke))
    compacted = _fold(cdc_log_compact(spark, sf_smoke))
    assert sorted(full.collect()) == sorted(compacted.collect())
    # and keep_versions=1 (pure latest) still folds identically
    compact1 = _fold(cdc_log_compact(spark, sf_smoke, keep_versions=1))
    assert sorted(full.collect()) == sorted(compact1.collect())


def test_pack_offsets_are_contiguous_per_source(spark, sf_smoke):
    """Packing invariant: within a source stream, each doc's offset equals
    the sum of all earlier docs' token counts (no gaps, no overlaps), and
    the bin/boundary bookkeeping is consistent with the offsets."""
    from cdc_cloudrun_demo_spark.functions.text import text_pack_offsets

    rows = text_pack_offsets(spark, sf_smoke).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.offset == cum, (src, r.doc_id, r.offset, cum)
            assert r.bin_id == r.offset // 512
            expect_span = (r.offset + r.n_tokens - 1) // 512 != r.bin_id
            assert r.spans_boundary == expect_span
            cum += r.n_tokens


def test_hll_merge_is_lossless(spark, sf_smoke):
    """Segment-then-merge HLL must equal the single-pass sketch EXACTLY
    (register-wise merge is lossless), and land within 5% of the true
    distinct count at this cardinality."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.aggregates import agg_hll_merge

    merged = agg_hll_merge(spark, sf_smoke).collect()[0][0]
    ev = load_table(spark, sf_smoke, "events")
    single = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).collect()[0][0]
    exact = ev.select("user_id").distinct().count()
    assert merged == single, (merged, single)
    assert abs(merged - exact) / exact < 0.05, (merged, exact)


@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=200
    )
)
@settings(max_examples=200, deadline=None)
def test_scaled_long_discipline_is_exact_for_cent_values(cents):
    """The cross-engine sum discipline (operators/_util): for any value
    that IS an exact number of cents, floor(x·100 + 0.5) on the double
    x = k/100 must recover k exactly — positive or negative — so the
    scaled-long sum equals the true decimal sum, independent of
    summation order. This is the property every dsum oracle relies on."""
    import math

    recovered = [math.floor((k / 100) * 100 + 0.5) for k in cents]
    assert recovered == cents
    assert sum(recovered) == sum(cents)


def test_quantile_sketch_rank_error_and_merge_identity(spark, sf_oracle):
    """Two contracts of the KMV quantile sketch: (a) the merged bottom-k
    equals the bottom-k a single whole-corpus pass builds (the sketch is
    a pure function of membership — merge loses nothing); (b) each
    estimated percentile's TRUE rank in the full data is within the
    sampling tolerance of its target (rank error ~ O(1/sqrt(k)))."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.aggregates import (
        agg_quantile_sketch_merge,
    )

    row = agg_quantile_sketch_merge(spark, sf_oracle).collect()[0]
    orders = load_table(spark, sf_oracle, "orders")
    n = orders.count()
    k = row["sample_k"]
    assert k == 256

    # (a) merge identity: global bottom-k without segmenting
    h = F.md5(F.col("o_orderkey").cast("string"))
    direct = [
        r["o_totalprice"]
        for r in orders.select("o_totalprice", h.alias("h"))
        .orderBy("h")
        .limit(k)
        .collect()
    ]
    merged_vals = sorted(direct)
    import math

    for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        assert row[col] == merged_vals[math.ceil(p * k) - 1], col

    # (b) rank accuracy: true CDF position of the estimate near p
    for p, col in ((0.5, "p50"), (0.9, "p90")):
        below = orders.filter(F.col("o_totalprice") <= row[col]).count()
        assert abs(below / n - p) < 4 / (k ** 0.5), (col, below / n)


def test_pagerank_mass_conservation_and_structure(spark, sf_oracle):
    """Fixed-point PageRank invariants: (a) total rank mass stays within
    the floor-division leakage envelope (each node loses < 1 unit per
    division, bounded and explicit — never created); (b) every node gets
    at least the undamped base mass; (c) both node kinds are present."""
    from cdc_cloudrun_demo_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        N_ITER,
        TOTAL_MASS,
        graph_pagerank,
    )

    rows = graph_pagerank(spark, sf_oracle).collect()
    n = len(rows)
    total = sum(r["rank_units"] for r in rows)
    assert total <= TOTAL_MASS
    # floor-division leakage per iteration: the contribution split loses
    # up to (outdeg-1) units per node (outdeg·(rank//outdeg) ≤ rank), i.e.
    # ≤ |edges| - n per iteration graph-wide, plus <1 unit per node at the
    # damping division, plus the init remainder
    from cdc_cloudrun_demo_spark.operators.graph import _trade_edges

    n_edges = _trade_edges(spark, sf_oracle).count()
    max_loss = N_ITER * (n_edges - n + n) + TOTAL_MASS % n
    assert total >= TOTAL_MASS - max_loss, (total, max_loss)
    base = (DAMP_DEN - DAMP_NUM) * (TOTAL_MASS // n) // DAMP_DEN
    assert all(r["rank_units"] >= base for r in rows)
    kinds = {r["kind"] for r in rows}
    assert kinds == {"customer", "supplier"}


def test_bfs_hops_bipartite_parity_and_triangle_inequality(spark, sf_oracle):
    """Bounded BFS invariants: (a) every seed is at hop 0 and every
    reported hop ≤ the bound; (b) the trade graph is bipartite
    (customer↔supplier edges only), so customer nodes sit at EVEN hops
    and supplier nodes at ODD hops — any parity violation means a
    relaxation crossed a non-existent same-side edge; (c) one extra
    relaxation round never increases any node's distance (monotone
    min-fold)."""
    from cdc_cloudrun_demo_spark.operators.graph import (
        BFS_MAX_HOPS,
        BFS_SEED_NATION,
        graph_bfs_hops,
    )
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table

    rows = {r["node"]: r for r in graph_bfs_hops(spark, sf_oracle).collect()}
    seeds = {
        r["c_custkey"] * 2
        for r in load_table(spark, sf_oracle, "customer")
        .filter(F.col("c_nationkey") == BFS_SEED_NATION)
        .collect()
    }
    assert seeds <= set(rows)
    for s in seeds:
        assert rows[s]["hops"] == 0
    for r in rows.values():
        assert 0 <= r["hops"] <= BFS_MAX_HOPS
        parity = 0 if r["kind"] == "customer" else 1
        assert r["hops"] % 2 == parity, r
    more = {
        r["node"]: r["hops"]
        for r in graph_bfs_hops(spark, sf_oracle, max_hops=BFS_MAX_HOPS + 1).collect()
    }
    assert set(rows) <= set(more)
    for node, row in rows.items():
        assert more[node] <= row["hops"]


def test_pareto_frontier_matches_quadratic_dominance(spark, sf_oracle):
    """The windowed running-max skyline must equal the O(n²) dominance
    definition computed directly: a (price, size) point is on the
    frontier iff no same-brand point has (price ≤, size ≥) with one
    strict. Certifies the sort-based identity the operator (and its
    oracle) both use, against arithmetic neither uses."""
    from collections import defaultdict

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.analytics import qx_pareto_frontier

    got = {
        (r["p_brand"], r["price_cents"], r["p_size"])
        for r in qx_pareto_frontier(spark, sf_oracle).collect()
    }
    pts = defaultdict(set)
    for r in load_table(spark, sf_oracle, "part").collect():
        pts[r["p_brand"]].add(
            (int(r["p_retailprice"] * 100 + 0.5), int(r["p_size"]))
        )
    want = set()
    for brand, ps in pts.items():
        for p, s in ps:
            dominated = any(
                (p2 <= p and s2 >= s) and (p2 < p or s2 > s) for p2, s2 in ps
            )
            if not dominated:
                want.add((brand, p, s))
    assert got == want


def test_compaction_plan_matches_sequential_packing(spark, sf_oracle):
    """The one-window-pass plan must equal the sequential cursor packing
    computed imperatively: per month, walk files in (size desc, day)
    order, assign bin = floor(rows_packed_so_far / target). Also checks
    the plan is non-trivial at test scale (some month uses > 1 bin) so
    the packing arithmetic is actually exercised."""
    from collections import defaultdict

    from cdc_cloudrun_demo_spark.operators.layout import (
        _COMPACT_TARGET,
        layout_compaction_plan,
    )

    rows = layout_compaction_plan(spark, sf_oracle).collect()
    by_month = defaultdict(list)
    for r in rows:
        by_month[r["part_month"]].append(r)
    assert by_month
    saw_multi_bin = False
    for month, files in by_month.items():
        files.sort(key=lambda r: (-r["n_rows"], r["file_day"]))
        packed = 0
        for r in files:
            assert r["target_file"] == packed // _COMPACT_TARGET, (month, r)
            packed += r["n_rows"]
        saw_multi_bin = saw_multi_bin or packed > _COMPACT_TARGET
    assert saw_multi_bin


def test_cms_overestimates_every_key_and_merges_exactly(spark, sf_oracle):
    """CMS contracts: (a) for EVERY key in the corpus (not just the
    probes) the sketch estimate is >= the exact count — collisions only
    ever add; (b) the per-month segment sketches summed cell-wise equal
    the whole-pass sketch bit-for-bit (sum associativity is the merge
    guarantee a distributed per-partition sketch refresh relies on);
    (c) total sketch mass per hash row equals the corpus row count
    (every row lands in exactly one cell per row)."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.aggregates import (
        _CMS_SALTS,
        _cms_bucket_sql,
    )

    orders = load_table(spark, sf_oracle, "orders")
    rows = orders.select(
        F.month("o_orderdate").alias("m"),
        F.col("o_custkey").cast("string").alias("k"),
    )
    salts = F.array(*[F.lit(s) for s in _CMS_SALTS])
    hashed = rows.select("m", "k", F.explode(salts).alias("s"))
    seg = hashed.groupBy("m", "s", F.expr(_cms_bucket_sql("s", "k")).alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    merged = {
        (r["s"], r["b"]): r["c"]
        for r in seg.groupBy("s", "b").agg(F.sum("c").alias("c")).collect()
    }
    whole = {
        (r["s"], r["b"]): r["c"]
        for r in hashed.groupBy("s", F.expr(_cms_bucket_sql("s", "k")).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert merged == whole  # (b) segment-then-merge == whole-pass

    n_rows = orders.count()
    for s in _CMS_SALTS:
        assert sum(c for (ss, _), c in merged.items() if ss == s) == n_rows  # (c)

    # (a) estimate >= exact for every key
    key_buckets = {
        (r["k"], r["s"]): r["b"]
        for r in rows.select("k").distinct()
        .select("k", F.explode(salts).alias("s"))
        .select("k", "s", F.expr(_cms_bucket_sql("s", "k")).alias("b"))
        .collect()
    }
    exact = {
        r["k"]: r["c"]
        for r in rows.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for k, cnt in exact.items():
        est = min(merged.get((s, key_buckets[(k, s)]), 0) for s in _CMS_SALTS)
        assert est >= cnt, (k, est, cnt)


def test_weighted_sample_systematic_guarantees(spark, sf_oracle):
    """Weighted systematic sampling contracts: (a) the sample size is
    within 1 of the target k (every step boundary in (0, w_total] is
    crossed exactly once); (b) CERTAINTY inclusion — any document whose
    weight is >= the step is always selected (its interval must contain
    a boundary), the defining property that makes systematic sampling
    safe for heavy items where independent sampling can miss them;
    (c) the selection is deterministic across invocations."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.sampling import sample_weighted

    rows1 = {r["doc_id"]: r["pick_idx"] for r in sample_weighted(spark, sf_oracle).collect()}
    rows2 = {r["doc_id"]: r["pick_idx"] for r in sample_weighted(spark, sf_oracle).collect()}
    assert rows1 == rows2  # (c)

    d = load_table(spark, sf_oracle, "documents")
    w_total = d.agg(F.sum(F.col("n_chars").cast("long"))).first()[0]
    step = max(w_total // 100, 1)
    n_boundaries = w_total // step  # boundaries step, 2*step, ..., <= w_total
    assert abs(len(rows1) - min(n_boundaries, 100)) <= 1, (len(rows1), n_boundaries)

    heavy = {
        r["doc_id"]
        for r in d.filter(F.col("n_chars").cast("long") >= step).collect()
    }
    assert heavy <= set(rows1), heavy - set(rows1)  # (b)


def test_bitmap_distinct_merge_is_exact_under_any_split(spark, sf_oracle):
    """Bitmap-distinct contracts: (a) the bitmap count equals
    count(DISTINCT) per month (certified row-by-row by the oracle too —
    re-asserted here so the property stands alone); (b) MERGEABILITY:
    word masks built per arbitrary segment (here: per order-priority
    slice, a split uncorrelated with month) OR-combine to the identical
    global distinct count — the invariant that lets a 100 TB refresh
    re-OR only touched words instead of rescanning history."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.aggregates import (
        _BM_WORD,
        agg_bitmap_distinct,
    )

    rows = agg_bitmap_distinct(spark, sf_oracle).collect()
    assert rows
    for r in rows:
        assert r["n_distinct_bitmap"] == r["n_distinct_exact"], r  # (a)

    orders = load_table(spark, sf_oracle, "orders")
    seg_words = (
        orders.select(
            F.col("o_orderpriority").alias("seg"),
            (F.col("o_custkey") % _BM_WORD).cast("int").alias("bit"),
            F.expr(f"o_custkey div {_BM_WORD}").alias("word"),
        )
        .groupBy("seg", "word")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("mask"))
    )
    merged = (
        seg_words.groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
        .agg(F.sum(F.bit_count("mask")).cast("long").alias("n"))
        .first()["n"]
    )
    exact = orders.agg(F.countDistinct("o_custkey")).first()[0]
    assert merged == exact, (merged, exact)  # (b)


def test_kmv_setops_estimator_bounds(spark, sf_oracle):
    """KMV set-op contracts: (a) k_inter <= k_merged <= k; (b) the union
    estimate is within the standard KMV relative-error envelope of the
    exact union (3 standard deviations, sigma ~ 1/sqrt(k-2)); (c) the
    Jaccard estimate is within the same envelope of exact Jaccard (the
    merged sketch is a uniform k-sample of the union, so the
    intersection share is a hypergeometric proportion)."""
    from cdc_cloudrun_demo_spark.operators.aggregates import _KMV_K, agg_kmv_setops

    r = agg_kmv_setops(spark, sf_oracle).first()
    assert 0 <= r["k_inter"] <= r["k_merged"] <= _KMV_K  # (a)
    sigma = 1.0 / (_KMV_K - 2) ** 0.5
    if r["k_merged"] == _KMV_K:  # estimator regime (fallback is exact)
        rel = abs(r["n_union_est"] - r["n_union_exact"]) / r["n_union_exact"]
        assert rel <= 3 * sigma, (rel, sigma)  # (b)
    assert abs(r["jaccard_est"] - r["jaccard_exact"]) <= 3 * sigma + 1.0 / _KMV_K  # (c)


def test_triangle_count_matches_handwritten_graph(spark, tmp_path):
    """Triangle counting on a graph with a KNOWN answer: build a corpus
    whose co-purchase graph is K4 plus a pendant edge — K4 has C(4,3)=4
    triangles, 6 edges; the pendant adds 1 edge, 0 triangles. Wedge
    total W = sum C(deg,2) = 3*3 + 2*C(4,2)... computed exactly below.
    Catches both orientation bugs (double/zero counting) and closure
    bugs that corpus-level totals would mask."""
    import os

    from cdc_cloudrun_demo_spark.operators.graph import graph_triangle_count

    # one order containing parts {1,2,3,4} -> K4; one order {4,5} -> pendant
    rows = [(100, p) for p in (1, 2, 3, 4)] + [(200, 4), (200, 5)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    d = str(tmp_path / "tri")
    os.makedirs(d, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    r = graph_triangle_count(spark, d).first()
    assert r["n_nodes"] == 5
    assert r["n_edges"] == 7
    assert r["n_triangles"] == 4
    # degrees: 1,2,3 have deg 3; 4 has deg 4; 5 has deg 1
    assert r["n_wedges"] == 3 * 3 + 6 + 0
    assert abs(r["global_clustering"] - 3.0 * 4 / 15) < 1e-12


def test_perplexity_gate_is_exact_subset_of_scored(spark, sf_oracle):
    """The perplexity gate keeps exactly the scored docs whose integer
    sum clears threshold*n_bigrams — subset + boundary exactness (no
    float mean anywhere in the decision)."""
    from cdc_cloudrun_demo_spark.functions.pipeline import (
        _PPL_THRESHOLD_UNATS,
        pipeline_perplexity_kept,
    )
    from cdc_cloudrun_demo_spark.functions.text import text_bigram_logprob

    kept = {r["doc_id"]: r for r in pipeline_perplexity_kept(spark, sf_oracle).collect()}
    scored = {r["doc_id"]: r for r in text_bigram_logprob(spark, sf_oracle).collect()}
    assert set(kept) <= set(scored)
    for doc_id, r in scored.items():
        should_keep = r["sum_logp_unats"] >= _PPL_THRESHOLD_UNATS * r["n_bigrams"]
        assert (doc_id in kept) == should_keep, (doc_id, r)


def test_edge_support_matches_handwritten_graph(spark, tmp_path):
    """Edge support on K4 + pendant: every K4 edge sits in exactly 2
    triangles, the pendant in 0; Σ support = 3 · n_triangles (each
    triangle credits its three edges exactly once)."""
    import os

    from cdc_cloudrun_demo_spark.operators.graph import graph_edge_support

    rows = [(100, p) for p in (1, 2, 3, 4)] + [(200, 4), (200, 5)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    d = str(tmp_path / "sup")
    os.makedirs(d, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    sup = {(r["a"], r["b"]): r["support"] for r in graph_edge_support(spark, d).collect()}
    assert len(sup) == 7
    assert sup[(4, 5)] == 0
    k4_edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    for e in k4_edges:
        assert sup[e] == 2, (e, sup[e])
    assert sum(sup.values()) == 3 * 4


def test_epoch_plan_apportionment_is_exact(spark, sf_oracle):
    """Largest-remainder contracts: Σ n_draws == N exactly; every source
    gets base or base+1; exactly (N - Σ base) sources got the +1; and
    any +1 recipient's remainder is >= every non-recipient's remainder
    (the defining largest-remainder property)."""
    from cdc_cloudrun_demo_spark.functions.pipeline import (
        _EPOCH_DRAWS,
        pipeline_epoch_plan,
    )

    rows = pipeline_epoch_plan(spark, sf_oracle).collect()
    assert sum(r["n_draws"] for r in rows) == _EPOCH_DRAWS
    for r in rows:
        assert r["n_draws"] - r["base_draws"] == (1 if r["got_leftover"] else 0)
    n_plus = sum(1 for r in rows if r["got_leftover"])
    assert n_plus == _EPOCH_DRAWS - sum(r["base_draws"] for r in rows)

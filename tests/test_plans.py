"""Physical-plan property tests — the 100 TB checklist (SURVEY §4).

Correctness says the operator computes the right answer; these say the
*plan* is the one that survives a 100× scale-up: filters reach the scan,
projections prune columns, dims broadcast, hot paths stay in codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_cloudrun_demo_spark.catalog import load_table
from cdc_cloudrun_demo_spark.operators.aggregates import agg_pricing_summary
from cdc_cloudrun_demo_spark.operators.joins import (
    join_asof,
    join_broadcast_dim,
    join_star_revenue,
)
from cdc_cloudrun_demo_spark.operators.relational import (
    s1_scan_projection,
    s2_point_lookup,
)
from cdc_cloudrun_demo_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_pushed_filter,
    has_whole_stage_codegen,
    reads_columns,
    uses_broadcast_join,
)


def test_point_lookup_pushes_predicate(spark, sf_smoke):
    df = s2_point_lookup(spark, sf_smoke)
    assert has_pushed_filter(df, "o_orderkey"), formatted_plan(df)


def test_projection_prunes_columns(spark, sf_smoke):
    df = s1_scan_projection(spark, sf_smoke)
    cols = reads_columns(df)
    assert set(cols) == {"c_custkey", "c_mktsegment"}, cols


def test_pricing_summary_pushes_filter_and_codegens(spark, sf_smoke):
    df = agg_pricing_summary(spark, sf_smoke)
    assert has_pushed_filter(df, "l_quantity"), formatted_plan(df)
    assert has_whole_stage_codegen(df)
    # scan must not read unused columns (e.g. l_partkey, l_shipdate)
    cols = set(reads_columns(df))
    assert "l_partkey" not in cols and "l_shipdate" not in cols, cols


def test_dim_join_broadcasts(spark, sf_smoke):
    assert uses_broadcast_join(join_broadcast_dim(spark, sf_smoke))


def test_star_join_broadcasts_dims(spark, sf_smoke):
    df = join_star_revenue(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    # the lineitem⨝orders fact join shuffles; everything else should not:
    # allow the fact-join exchanges + one for the final agg, nothing more
    assert count_exchanges(df) <= 5, plan


def test_asof_join_single_shuffle_per_side(spark, sf_smoke):
    """The as-of plan is union→window: one Exchange for the window
    partitioning (plus scan-side coalesces), never a join explosion."""
    df = join_asof(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert count_exchanges(df) <= 2, plan


def test_filter_stays_jvm_side(spark, sf_smoke):
    """No Python UDF (BatchEvalPython) in built-in operator plans."""
    for fn in (agg_pricing_summary, join_star_revenue, join_asof):
        plan = formatted_plan(fn(spark, sf_smoke))
        assert "BatchEvalPython" not in plan, (fn.__name__, plan)


def test_jaccard_is_not_cartesian(spark, sf_smoke):
    """The similarity join must stay a posting-list plan: no cartesian or
    nested-loop join may appear, whatever the optimizer decides."""
    from cdc_cloudrun_demo_spark.functions.dedup import dedup_ngram_jaccard

    plan = formatted_plan(dedup_ngram_jaccard(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_never_shuffles_corpus_for_probing(spark, sf_smoke):
    """IVF candidate generation is broadcast-driven: centroid assignment
    and query probing reach the corpus via broadcast, so the only
    exchanges are the tiny argmax windows — never a corpus-wide join
    shuffle."""
    from cdc_cloudrun_demo_spark.functions.similarity import sim_ann_ivf_topk

    df = sim_ann_ivf_topk(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_join_needs_no_exchange(spark, sf_smoke, tmp_path):
    """Co-located joins via bucketing: writing both sides bucketed by the
    join key lets the sort-merge join run with ZERO exchanges — the
    pre-shuffled layout every repeated 100 TB fact⨝fact join should use."""
    o = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_smoke, "customer").select("c_custkey", "c_mktsegment")
    warehouse = str(tmp_path / "wh")
    for name, df, key in [("b_orders", o, "o_custkey"), ("b_cust", c, "c_custkey")]:
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key).option(
            "path", f"{warehouse}/{name}"
        ).saveAsTable(name)
    try:
        # disable broadcast so the join exercises the bucketed SMJ path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_cust"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        joined.collect()
        assert count_exchanges(joined) == 0, formatted_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        for name in ("b_orders", "b_cust"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_events_ts_is_timestamp(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # conversion must be lossless to the µs
    row = ev.select(F.max("ts").alias("m")).collect()[0]
    assert row["m"].microsecond != 0  # data has sub-second precision


def test_systematic_sample_is_narrow(spark, sf_smoke):
    """Deterministic sampling must not shuffle: one codegen stage, scan→out."""
    from cdc_cloudrun_demo_spark.operators.sampling import sample_systematic

    df = sample_systematic(spark, sf_smoke)
    assert count_exchanges(df) == 0, formatted_plan(df)
    assert has_whole_stage_codegen(df)
    cols = set(reads_columns(df))
    assert "l_extendedprice" not in cols, cols  # projection pruned


def test_chunking_is_narrow_and_pruned(spark, sf_smoke):
    """Chunk explosion is per-document: no Exchange, scan reads 2 columns."""
    from cdc_cloudrun_demo_spark.functions.text import text_chunking

    df = text_chunking(spark, sf_smoke)
    assert count_exchanges(df) == 0, formatted_plan(df)
    assert set(reads_columns(df)) == {"doc_id", "text"}, reads_columns(df)


def test_scalar_subquery_broadcasts_not_shuffles_fact(spark, sf_smoke):
    """The 1-row global aggregate must broadcast into the fact scan; the
    only Exchange in the plan is the final group-by (plus the scalar agg's
    own single-partition exchange if AQE inserts one) — the fact table is
    never hash-repartitioned for the comparison itself."""
    from cdc_cloudrun_demo_spark.operators.joins import join_scalar_subquery

    df = join_scalar_subquery(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # orders appears twice (scalar agg + probe), never more
    import re

    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 2, plan


def test_cosine_dedup_norms_precomputed_once(spark, sf_smoke):
    """The pairwise-cosine join condition must reference each side's
    PREcomputed norm, not re-fold the 64-element vector per pair: exactly
    one aggregate(zip_with(...)) — the dot product — may appear in the
    join condition (a regression here triples the per-pair flops)."""
    from cdc_cloudrun_demo_spark.functions.dedup import dedup_embedding_cosine

    plan = (
        dedup_embedding_cosine(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the pairwise join is the BroadcastHashJoin; its condition is the
    # first line of that fragment
    join_frag = plan.split("BroadcastHashJoin")[1].split("\n")[0]
    assert join_frag.count("aggregate(zip_with") == 1, join_frag[:800]


def test_keygen_has_no_single_partition_exchange(spark, sf_smoke):
    """cdc_keygen's global rank must be two-phase (range partitions +
    partition-local ordinal + broadcast offsets) — the plan may never
    funnel the data through an Exchange SinglePartition, which is what a
    naive Window.orderBy(seq) global row_number compiles to."""
    from cdc_cloudrun_demo_spark.operators.cdc import cdc_keygen

    plan = formatted_plan(cdc_keygen(spark, sf_smoke))
    # the ranking window must be keyed on the bucket id, never global
    assert "windowspecdefinition(pid" in plan, plan
    # the only single-partition exchange allowed is the 1-row min/max
    # bounds aggregate (one row per task after partial agg) — the data
    # itself may never funnel through one task
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_streaming_materializer_has_no_memory_sink(spark, sf_smoke):
    """The streaming materializer's state must live in the atomic
    snapshot sink's committed files — never a memory sink collected on
    the Spark driver."""
    import inspect

    from cdc_cloudrun_demo_spark.operators import cdc

    src = inspect.getsource(cdc._run_tx_materializer)
    assert 'format("memory")' not in src
    assert "tx_snapshot_sink" in src


def test_stream_fold_is_a_native_stateful_aggregate(spark, tmp_path, capsys):
    """The streaming LWW fold runs as Spark's own stateful aggregate: the
    executed plan of a `materialize_with_state` → `tx_snapshot_sink`
    query holds a ``StateStoreSave`` and no Python node — a per-key
    pandas fold (``FlatMapGroupsInPandasWithState``) or any other
    Python/Arrow evaluation fails here."""
    from datetime import datetime

    from cdc_cloudrun_demo_spark.streaming.cdc_stream import (
        CHANGE_SCHEMA,
        materialize_with_state,
    )
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import tx_snapshot_sink

    rows = [(i + 1, "INSERT", i, f"c{i}", datetime(2024, 1, 1)) for i in range(5)]
    log = str(tmp_path / "log")
    spark.createDataFrame(rows, CHANGE_SCHEMA).coalesce(1).write.parquet(log)
    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(log)
    q = tx_snapshot_sink(
        materialize_with_state(stream),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert "StateStoreSave" in plan, plan
    for node in ("FlatMapGroupsInPandasWithState", "Python", "Pandas", "Arrow"):
        assert node not in plan, plan


def test_interval_join_is_hash_not_nested_loop(spark, sf_smoke):
    """The bucketed interval self-join must plan as an equi hash/SMJ join,
    never a nested-loop/cartesian over per-user event pairs."""
    from cdc_cloudrun_demo_spark.operators.joins import join_interval_bucketed

    plan = formatted_plan(join_interval_bucketed(spark, sf_smoke))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_join_has_no_exchange(spark, sf_smoke):
    """Co-located bucketed join: both facts bucketed+sorted on the key →
    the SortMergeJoin must consume the bucket layout directly, with ZERO
    Exchange (and zero extra Sort of the big sides) before the join. One
    Exchange total is allowed: the post-join groupBy of the tiny result."""
    from cdc_cloudrun_demo_spark.operators.joins import join_bucketed_colocated

    df = join_bucketed_colocated(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan, plan
    # the tree prints top-down, so everything below the SortMergeJoin line
    # (until the blank line ending the tree) is the join's input side —
    # nothing there may shuffle: the bucket layout IS the exchange, paid
    # once at ingest
    tree = plan.split("\n\n")[0]
    below_join = tree.split("SortMergeJoin")[1]
    assert "Exchange" not in below_join, below_join
    assert count_exchanges(df) <= 2, plan  # partial+final agg of grouped rows


def test_funnel_join_is_hash_not_nested_loop(spark, sf_smoke):
    """The funnel's view→purchase range join rides on the user_id equality
    — it must plan as a hash/SMJ join, never a nested loop over pairs."""
    from cdc_cloudrun_demo_spark.operators.analytics import qx_funnel_conversion

    plan = formatted_plan(qx_funnel_conversion(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_top_supplier_no_global_sort(spark, sf_smoke):
    """Q15's argmax must come from a broadcast 1-row max joined back —
    no global Sort and no single-partition Exchange of the revenue view."""
    from cdc_cloudrun_demo_spark.operators.analytics import qx_top_supplier

    df = qx_top_supplier(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # no global range-sort anywhere: the argmax never orders the view
    assert "rangepartitioning" not in plan, plan


def test_pack_offsets_single_exchange(spark, sf_smoke):
    """Concat-then-chop packing is ONE shuffle (hash on source for the
    running-sum window); everything downstream is narrow arithmetic."""
    from cdc_cloudrun_demo_spark.functions.text import text_pack_offsets

    df = text_pack_offsets(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "Window" in plan, plan
    assert count_exchanges(df) <= 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_vocab_encode_broadcasts_vocab(spark, sf_smoke):
    """The encode join must broadcast the tiny vocab against the exploded
    token stream — never shuffle the corpus for the lookup."""
    from cdc_cloudrun_demo_spark.functions.text import text_vocab_encode

    plan = formatted_plan(text_vocab_encode(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_agg_pushes_split_predicates(spark, sf_smoke):
    """IVM: both segment scans must push their ts bound to parquet, and
    the merge must join the two aggregate tables, not the raw events."""
    from cdc_cloudrun_demo_spark.operators.cdc import cdc_incremental_agg

    df = cdc_incremental_agg(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "PushedFilters" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_containment_is_not_cartesian(spark, sf_smoke):
    """Containment shares the capped posting-list plan with Jaccard —
    never a cartesian/nested-loop pairing of documents."""
    from cdc_cloudrun_demo_spark.functions.dedup import dedup_containment

    plan = formatted_plan(dedup_containment(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_topk_assignment_has_no_window_exchange(spark, sf_smoke):
    """IVF list assignment must be the narrow inlined-centroid argmax:
    no crossJoin leftovers (CartesianProduct / nested loop) and no
    Window operator for the assignment — the only Window allowed is the
    final per-query top-k."""
    import re

    from cdc_cloudrun_demo_spark.functions.similarity import sim_ann_ivf_topk

    plan = formatted_plan(sim_ann_ivf_topk(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    # count Window OPERATOR nodes ("Window (n)"), not WindowGroupLimit
    n_windows = len(re.findall(r"\bWindow \(\d+\)", plan))
    assert n_windows <= 1, plan


def test_embedding_ivf_dedup_is_not_cartesian(spark, sf_smoke):
    """Cell-blocked candidate generation must be an equality join on the
    cell id, never an all-pairs plan."""
    from cdc_cloudrun_demo_spark.functions.dedup import dedup_embedding_ivf

    plan = formatted_plan(dedup_embedding_ivf(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_contamination_train_side_never_shuffled_on_gram(spark, sf_smoke):
    """The train-gram stream must meet the bounded eval set via
    broadcast semi-joins only: a SortMergeJoin(LeftSemi) in this plan
    would mean the unbounded train side was shuffled on the gram key."""
    from cdc_cloudrun_demo_spark.functions.text import text_contamination

    plan = formatted_plan(text_contamination(spark, sf_smoke))
    assert "SortMergeJoin" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_csv_roundtrip_reads_with_explicit_schema(spark, sf_smoke):
    """The CSV read-back scan must carry the declared schema (no
    inferSchema pre-pass) and aggregate with one exchange."""
    from cdc_cloudrun_demo_spark.sources.file_formats import source_csv_roundtrip

    df = source_csv_roundtrip(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "Scan csv" in plan, plan
    assert count_exchanges(df) == 1, plan


def test_orc_roundtrip_pushes_filter(spark, sf_smoke):
    """The ORC read-back scan must push the quantity predicate and prune
    to the 5 selected columns — same scan discipline as parquet."""
    from cdc_cloudrun_demo_spark.sources.file_formats import source_orc_roundtrip

    df = source_orc_roundtrip(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "Scan orc" in plan, plan
    assert "PushedFilters: [" in plan and "l_quantity" in plan, plan


def test_partition_directory_pruning(spark, sf_smoke, tmp_path):
    """Hive-style partition pruning — the other half of the scan story
    (PushedFilters prunes row groups; partition filters prune whole
    DIRECTORIES before any footer is opened). Write events partitioned
    by day, filter one day, and assert the plan's PartitionFilters
    carries the predicate while the scan touches a fraction of the
    files — the mechanism a date-partitioned 100 TB lake lives on."""
    import glob

    from cdc_cloudrun_demo_spark.catalog import load_table

    ev = load_table(spark, sf_smoke, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(path)
    n_days = len(glob.glob(f"{path}/day=*"))
    assert n_days > 3, "need several partitions for the pruning assertion"

    one_day = spark.read.parquet(path).filter(F.col("day") == "2024-01-03")
    plan = formatted_plan(one_day)
    assert "PartitionFilters" in plan and "day" in plan, plan
    # structural check is the PartitionFilters above; the behavioral check:
    # rows returned equal exactly the one day's rows
    want = ev.filter(F.col("day") == "2024-01-03").count()
    assert one_day.count() == want and want > 0


def test_dpp_join_prunes_fact_partitions(spark, sf_smoke):
    """Dynamic partition pruning: the month-partitioned fact scan must
    carry a `dynamicpruning` partition filter injected from the dim's
    runtime filter — the scan touches only the dim-selected months at
    any scale — and the result must actually come from a pruned read
    (3 of 12 month partitions)."""
    from cdc_cloudrun_demo_spark.operators.joins import join_dpp_partitioned

    df = join_dpp_partitioned(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan
    rows = df.collect()
    assert {r["om"] for r in rows} <= {1, 2, 3} and rows, rows


def test_bloom_prefilter_prunes_without_false_negatives(spark, sf_smoke):
    """The Bloom prefilter must pass EVERY true match (no false
    negatives — every build-key bit is set) while pruning a substantial
    share of non-matching fact rows before the join shuffle (fill
    ~25% at 4 hashes → non-member pass rate ≲ 1%)."""
    from cdc_cloudrun_demo_spark.operators.joins import (
        _BLOOM_SALTS,
        _bloom_pos_sql,
        join_bloom_prefiltered,
    )

    o = load_table(spark, sf_smoke, "orders")
    c = load_table(spark, sf_smoke, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    true_keys = {r["c_custkey"] for r in c.select("c_custkey").collect()}
    n_true = o.filter(F.col("o_custkey").isin(true_keys)).count()
    n_all = o.count()

    # reconstruct the prefilter pass count by re-running the same probe
    result = {
        r["o_orderpriority"]: r["n_orders"]
        for r in join_bloom_prefiltered(spark, sf_smoke).collect()
    }
    assert sum(result.values()) == n_true  # oracle equivalence locally

    # pruning: recompute the bloom pass set standalone
    positions = {
        r["p"]
        for r in c.select(
            F.explode(
                F.array(*[F.expr(_bloom_pos_sql(s, "c_custkey")) for s in _BLOOM_SALTS])
            ).alias("p")
        ).distinct().collect()
    }
    words = [0] * 64
    for p in positions:
        words[p // 64] |= 1 << (p % 64)
    bits_sql = "array({})".format(
        ", ".join(
            f"CAST({w - (1 << 64) if w >= 1 << 63 else w} AS BIGINT)" for w in words
        )
    )
    clauses = [
        f"((shiftright(element_at({bits_sql}, CAST(({_bloom_pos_sql(s, 'o_custkey')}) div 64 AS INT) + 1),"
        f" CAST(({_bloom_pos_sql(s, 'o_custkey')}) % 64 AS INT)) & 1) = 1)"
        for s in _BLOOM_SALTS
    ]
    n_pass = o.filter(F.expr(" AND ".join(clauses))).count()
    assert n_pass >= n_true  # superset: no false negatives
    # false-positive envelope: pass set ≤ true matches + 5% of non-matches
    assert n_pass <= n_true + max(10, int(0.05 * (n_all - n_true))), (
        n_pass, n_true, n_all,
    )


def test_match_rising_shares_one_exchange(spark, sf_smoke):
    """The CEP run detector's two windows (lag mark, running-sum island)
    and the per-run aggregate all partition on o_custkey — Catalyst must
    fold them onto ONE exchange, or every pattern query pays 3 shuffles
    of the fact table at scale."""
    from cdc_cloudrun_demo_spark.operators.windows import win_match_rising

    df = win_match_rising(spark, sf_smoke)
    assert count_exchanges(df) == 1, formatted_plan(df)


def test_bm25_topk_is_take_ordered_not_global_sort(spark, sf_smoke):
    """BM25's top-k must plan as TakeOrderedAndProject (per-partition
    heap + bounded merge), never a full global sort of the scored docs."""
    from cdc_cloudrun_demo_spark.functions.text import text_bm25_search

    df = text_bm25_search(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_spell_variants_blocking_is_equi_join(spark, sf_smoke):
    """The fuzzy join's lossless length-band blocking must plan as a
    hash equi-join on the exploded length key — the levenshtein
    predicate is a post-join filter, never part of a nested-loop join
    condition."""
    from cdc_cloudrun_demo_spark.functions.text import text_spell_variants

    df = text_spell_variants(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the join itself must be hash-based on the length key
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or (
        "ShuffledHashJoin" in plan
    ), plan


def test_pagerank_copart_never_broadcasts_rank_vector(spark, sf_smoke):
    """Above the node-count gate the per-iteration rank join must be a
    shuffle-hash join over co-partitioned children — NO BroadcastHashJoin
    anywhere in the iterative plan (the broadcast of a billion-node rank
    vector is exactly what the gate exists to prevent), and no
    per-iteration sorts (SortMergeJoin) either. The one allowed
    broadcast-shaped node is the single-row consts crossJoin."""
    from cdc_cloudrun_demo_spark.operators.graph import graph_pagerank

    df = graph_pagerank(spark, sf_smoke, n_iter=3, rank_join="copartition")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_pagerank_auto_gate_picks_copartition_above_threshold(
    spark, sf_smoke, monkeypatch
):
    """rank_join='auto' must flip to the co-partitioned plan when the
    node count exceeds the (env-overridable) broadcast gate."""
    from cdc_cloudrun_demo_spark.operators.graph import graph_pagerank

    monkeypatch.setenv("SPARK_GRAFT_RANK_BROADCAST_MAX", "1")
    df = graph_pagerank(spark, sf_smoke, n_iter=2, rank_join="auto")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" not in plan, plan
    monkeypatch.setenv("SPARK_GRAFT_RANK_BROADCAST_MAX", "999999999")
    df = graph_pagerank(spark, sf_smoke, n_iter=2, rank_join="auto")
    assert "BroadcastHashJoin" in formatted_plan(df)


def test_bfs_copart_never_broadcasts_distance_vector(spark, sf_smoke):
    """Same gate for BFS: the relaxation join over the pinned edge list
    must stay shuffle-hash, nothing broadcast."""
    from cdc_cloudrun_demo_spark.operators.graph import graph_bfs_hops

    df = graph_bfs_hops(spark, sf_smoke, max_hops=2, rank_join="copartition")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def _executed_final_plan(df) -> str:
    """Run the frame and return its EXECUTED final plan (AQE-resolved),
    with the appended '== Initial Plan ==' echo stripped."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("Initial Plan")[0]


def test_pagerank_copart_pinned_edges_never_reshuffled(spark, sf_smoke):
    """The keyed edge pin must hold AT RUNTIME, not just in the static
    plan: under AQE a localCheckpoint pins UnknownPartitioning, and a pin
    whose partition count differs from the rank aggregate's can never
    satisfy the shuffle-hash join's co-partitioning — either way the
    executed plan silently re-shuffles the fact-scaled edge list every
    iteration (the r13 regression this guards against). With the
    matching-count static pin the only executed exchanges are the
    dst-keyed rank aggregates: zero Exchange on the edge key."""
    import re

    from cdc_cloudrun_demo_spark.operators.graph import graph_pagerank

    df = graph_pagerank(spark, sf_smoke, n_iter=3, rank_join="copartition")
    final = _executed_final_plan(df)
    src_shuffles = re.findall(
        r"(?<!Reused)Exchange hashpartitioning\(src", final
    )
    assert not src_shuffles, final[:2000]


def test_bfs_copart_pinned_edges_never_reshuffled(spark, sf_smoke):
    """Runtime counterpart of the BFS pin (same failure mode as
    pagerank's: the pre-r14 one-step repartition+checkpoint lost its
    partitioning under AQE and every hop re-shuffled the edge list)."""
    import re

    from cdc_cloudrun_demo_spark.operators.graph import graph_bfs_hops

    df = graph_bfs_hops(spark, sf_smoke, max_hops=2, rank_join="copartition")
    final = _executed_final_plan(df)
    assert not re.findall(
        r"(?<!Reused)Exchange hashpartitioning\(src", final
    ), final[:2000]


def test_cbo_stats_driven_join_reorder(spark, sf_smoke):
    """Cost-based join reorder: with table+column statistics in the
    catalog and CBO on, a 3-way join WRITTEN fact-first must be
    re-planned dims-first (the selective supplier⋈nation join collapses
    to a handful of rows before the fact table is touched). This is the
    declarative-planning contract at 100 TB: the user writes semantics,
    the optimizer orders the joins from statistics — no hand-scheduled
    join trees. The assertion reads the optimized logical plan: the
    INNER (first-executed) join must be mid⋈small, with the fact
    relation joined last."""
    import uuid

    sfx = uuid.uuid4().hex[:8]
    big, mid, small = f"cbo_big_{sfx}", f"cbo_mid_{sfx}", f"cbo_small_{sfx}"
    for t, n in [("lineitem", big), ("supplier", mid), ("nation", small)]:
        spark.read.parquet(f"{sf_smoke}/{t}.parquet").write.mode(
            "overwrite"
        ).saveAsTable(n)
        spark.sql(f"ANALYZE TABLE {n} COMPUTE STATISTICS FOR ALL COLUMNS")
    old_cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    old_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        df = spark.sql(
            f"""
            SELECT count(*) AS n
            FROM {big} b JOIN {mid} m ON b.l_suppkey = m.s_suppkey
            JOIN {small} s ON m.s_nationkey = s.n_nationkey
            WHERE s.n_name = 'FRANCE'
            """
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the innermost join (deepest in the tree = executed first) must
        # not involve the fact table: big appears only after the second
        # Join node in a pre-order walk of the reordered tree
        # pre-order print of the reordered tree Join(Join(mid, small), big)
        # lists both join nodes first, then the two dim relations, then
        # the fact relation LAST; the written order (fact joined first)
        # would print the fact relation before either dim. Two joins must
        # exist (no join was collapsed), and the fact scan must follow
        # both dim scans.
        first_join = plan.index("Join Inner")
        assert plan.index("Join Inner", first_join + 1) > first_join
        assert plan.index(big) > plan.index(mid), plan
        assert plan.index(big) > plan.index(small), plan
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", old_reorder)
        for n in (big, mid, small):
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_filtered_ann_pushes_filter_before_probe(spark, sf_smoke):
    """sim_ann_filtered_topk's plan contract (the round-10 production
    retrieval query): the metadata predicate restricts the corpus via a
    SEMI join BEFORE the probe join (never top-k-then-filter), the
    probe against the bounded query set broadcasts, and no cartesian /
    nested-loop join appears anywhere. Round 11: the allowed-id set is
    the per-corpus DISK MEMO (`_allowed_ids_cached` — quality flags are
    ingest-time document metadata), so the search plan must contain NO
    quality scoring at all: no regex tokenization, no documents scan —
    just the memo's parquet scan feeding the semi join."""
    from cdc_cloudrun_demo_spark.functions.similarity import (
        sim_ann_filtered_topk,
    )

    df = sim_ann_filtered_topk(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, plan  # the filter joins the corpus pre-probe
    assert uses_broadcast_join(df), plan  # the probe side broadcasts
    # the per-query plan never re-runs the quality scan: the regex
    # machinery and the documents table are absent — the predicate is
    # one parquet scan of the memoized metadata column
    assert "regexp_extract_all" not in plan, plan
    assert "documents" not in plan, plan

"""Scale lint: EVERY registry entry's physical plan, automatically.

The hand-written assertions in tests/test_plans.py pin the headline
queries' plans; this sweep generalizes the scale-killer checks to the
whole surface, so a future operator cannot ship an accidental
cartesian, a single-reducer exchange, or an unbounded nested-loop
join without failing CI. The plan is built (which for a handful of
eager ops also runs their bounded setup) but never executed over data.
"""

from __future__ import annotations

from cdc_cloudrun_demo_spark.operators import registry

# BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side is
# bounded by construction — one scalar-aggregate row or a tiny literal
# relation. Each entry here names its bounded side; anything not listed
# that plans a BNLJ fails the lint.
BNLJ_BOUNDED = {
    "layout_zorder_key": "1-row global min/max bounds aggregate",
    "layout_hilbert_key": "1-row global min/max bounds aggregate",
    "join_scalar_subquery": "1-row global mean aggregate",
    "join_salted_skew": "n_salt-row literal salt relation",
    "text_heavy_hitters": "<= counters x partitions Misra-Gries candidates",
    "qx_sales_opportunity": "1-row scalar AVG subquery (TPC-H Q22 shape)",
    "sample_mixture": "n_sources-row quota aggregate",
    "cdc_keygen": "1-row bounds aggregate + P-row offset table",
    "pipeline_pack_sequences": "1-row bounds aggregate + P-row bucket-total "
    "offset table (the cdc_keygen two-phase prefix-sum shape)",
    "pipeline_pack_stats": "inherits pipeline_pack_sequences' 1-row bounds "
    "+ P-row offset broadcasts",
    "text_bpe_train": "1-row argmax merge pair broadcast per round "
    "(n_merges rounds, each crossed onto the bounded vocabulary)",
    "text_bpe_segment": "inherits text_bpe_train's per-round 1-row merge "
    "broadcasts (same unrolled trainer state)",
    "text_bpe_encode_trained": "inherits text_bpe_train's per-round 1-row "
    "merge broadcasts; the segmentation lookup itself is an equi hash join",
    "text_bpe_fertility": "inherits text_bpe_train's per-round 1-row merge "
    "broadcasts; the fertility lookup is an equi hash join folding to "
    "|langs| rows",
    "sim_cosine_topk": "bounded query set (fixed id filter)",
    "sim_mips_topk": "bounded query set (fixed id filter)",
    "text_unigram_logprob": "1-row total/UNK aggregate",
    "text_bigram_logprob": "1-row token-total aggregate",
    "pipeline_perplexity_kept": "1-row token-total aggregate (inherited from the bigram LM)",
    "pipeline_domain_mixture": "1-row sqrt-token normalizer over |sources| rows",
    "pipeline_quality_bins": "1-row quartile-threshold aggregate",
    "pipeline_epoch_plan": "|sources|-row quota table: 1-row normalizer/leftover + triangular self-join",
    "pipeline_dataset_card": "two 1-row corpus aggregates composed at the end",
    "agg_kmv_setops": "k<=256-row sketches + 1-row exact-count aggregates",
    "graph_triangle_count": "three 1-row count aggregates composed at the end",
    "dq_constraints": "1-row per-constraint aggregates (FK check's scalar count side)",
    "text_tfidf_topterms": "1-row document-count aggregate",
    "qx_nested_agg": "1-row scalar aggregate subquery",
    "sample_weighted": "1-row total-weight aggregate (step size)",
    "qx_basket_lift": "1-row distinct-order-count aggregate (lift normalizer)",
    "text_bm25_search": "1-row (n_docs, total_len) corpus aggregate",
    "layout_zone_map_prune": "1-row min/max bounds aggregate per layout",
    "dq_freshness_lag": "1-row global-max-timestamp aggregate",
    "sim_ann_graph_topk": "1-row MIN(vec_id) entry-point aggregate crossed "
    "onto the bounded (vec_id < 5) query set",
    "dq_drift_psi": "1-row reference min/max bounds aggregate + 1-row "
    "segment-totals aggregate crossed onto the n_bins=10 spine",
    "sim_ann_hnsw_topk": "1-row MIN layer-entry aggregate crossed onto "
    "the bounded query set; <= n_cells-row hub table crossed onto the "
    "coarse layer (both execute inside the eager index build)",
    "sim_ann_binary_topk": "bounded query set (fixed id filter) broadcast "
    "over the 17-byte/vector sketch scan; the exact rerank side is an "
    "equi hash join on the |Q|*rerank shortlist",
    "sim_ann_recall_eval": "inherits sim_cosine_topk's bounded-query-set "
    "cross (the exact brute-force baseline runs on the |Q|=5 sample only)",
    "sim_ann_recall_eval_graph": "bounded (vec_id < 5) query sample "
    "broadcast over the quantized corpus — the exact integer-L2 truth "
    "side; the walk side is the already-vetted bounded-hop plan",
    "sim_ann_recall_eval_adc": "bounded (vec_id < 5) query sample "
    "broadcast over the quantized corpus — the exact integer-L2 truth "
    "side; the ADC walk side is the already-vetted bounded-hop plan",
    "sim_ann_recall_eval_filtered": "bounded (vec_id < 5) query sample "
    "broadcast over the allowed-restricted quantized corpus — the "
    "filtered exact-truth side; the walk side is the vetted filtered "
    "bounded-hop plan",
    "sim_ann_maintenance_advisor": "1-row signal aggregates (drift TVD, "
    "per-family recall percent, posting skew) crossJoined into the "
    "3-row verdict relation, plus the inherited bounded-query-sample "
    "cross of the shared exact-truth scan — every broadcast side is a "
    "scalar aggregate or the |Q|=5 sample",
}


def test_no_scale_killers_in_any_registry_plan(spark, sf_smoke):
    queries, _ = registry()
    offenders: list[str] = []
    for name, fn in queries.items():
        df = fn(spark, sf_smoke)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "Exchange SinglePartition" in plan:
            # a single-reducer exchange funnels the data through one task
            offenders.append(f"{name}: Exchange SinglePartition")
        if "BatchEvalPython" in plan:
            # row-at-a-time Python; Arrow paths show ArrowEvalPython /
            # MapInPandas instead and are allowed
            offenders.append(f"{name}: BatchEvalPython (row-wise Python UDF)")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BOUNDED:
            offenders.append(f"{name}: unvetted BroadcastNestedLoopJoin")
        if "BroadcastNestedLoopJoin" in plan and name in BNLJ_BOUNDED:
            # the vetted BNLJ must actually broadcast (never shuffle-NLJ)
            assert "BroadcastExchange" in plan or "broadcast" in plan.lower(), name
    assert not offenders, "scale-killers found:\n" + "\n".join(offenders)


def test_no_unvetted_driver_collects_in_engine_source():
    """Static lint: `.collect()`/`.toPandas()` in engine source funnels
    data through the driver — fatal at 100 TB unless the collected set
    is bounded by construction. Every occurrence must be on the vetted
    list below (each names its bound); a new one fails CI until it is
    justified here."""
    import glob
    import os

    VETTED = {
        # file -> (max occurrences, bound)
        "plans/__init__.py": (1, "plan-audit tooling, not an operator path"),
        "streaming/cdc_stream.py": (
            0,
            "none: touched-bucket discovery lives in the tx sink",
        ),
        "streaming/tx_snapshot.py": (
            3,
            "<= n_buckets (bucket, count) rows of the buckets holding an "
            "expired tombstone (tombstone compaction) and two 1-row "
            "MIN/MAX(last_seq) watermark aggregates (live TTL contract "
            "check + restart rehydration); the sink's append commit "
            "collects nothing",
        ),
        "streaming/ann_ingest.py": (
            6,
            "<= n_edge_buckets ints each: the touched-bucket merge's "
            "write set, the delete batch's dead-id reverse buckets, and "
            "the reverse index's touched dst buckets; the IVF and PQ "
            "reindex retrains' fixed-size (sample_size=2048) "
            "md5-ordered training samples — distributed top-ks, never "
            "data-scaled; and the ADC state search's query-vector "
            "fetch, bounded by the explicit query_ids list",
        ),
        "operators/cdc.py": (
            1,
            "1-row MAX(seq) watermark aggregate (tombstone GC horizon)",
        ),
        "operators/schema_evolution.py": (
            1,
            "<= n_buckets ints: the live evolution sink's touched-bucket "
            "write set (dynamic partition overwrite of touched buckets)",
        ),
        "sources/file_formats.py": (
            1,
            "40 LIMIT-bounded fixture rows (binaryFile blob fixture — "
            "production blobs land from the upstream store); the Delta "
            "operators commit through merge_commit and collect nothing",
        ),
        "session.py": (2, "64-row session warmup, corpus-independent"),
        "functions/similarity.py": (
            4,
            "fixed 2048-row k-means + PQ training samples; the ANN "
            "query-set collects bounded by each entry's n_queries knob "
            "(5 headline / 500 for the ADC batch twin, which builds one "
            "ADC LUT per collected query driver-side) — never "
            "corpus-scaled",
        ),
        "operators/joins.py": (
            1,
            "<= m=4096 distinct Bloom bit positions (never keys, never "
            "data-scaled) for the inlined runtime filter",
        ),
        "sources/postgres_io.py": (
            4,
            "the COPY staging of the message table into the real "
            "Postgres server (roundtrip + partitioned-scan entries) — "
            "bounded by the same message-table serving contract as "
            "serving/rest_api.py (COPY is the bulk path; at scale the "
            "staging side is a distributed CSV/COPY export, not a "
            "driver collect); the partitioned SCAN side is driver-free "
            "(executor readers stream their own COPY ranges)",
        ),
        "serving/rest_api.py": (
            4,
            "the REST serve loop: every collect is bounded by the "
            "MESSAGE-TABLE serving contract — the reference's GET "
            "/messages returns the whole table as one JSON response "
            "(MessageController.java:17-20), so the seed serializes "
            "exactly that table, and the flush's (id, bucket) collect "
            "is bounded by the WAL buffer; reads are per-bucket pyarrow "
            "reads of committed snapshot files (no collect), bounded by "
            "the same contract; the entry's request script enumerates "
            "the same PKs client-side, as the reference's own benchmark "
            "clients do (compare_services.sh)",
        ),
    }
    root = os.path.join(os.path.dirname(__file__), "..", "cdc_cloudrun_demo_spark")
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        n = 0
        for line in open(path):
            stripped = line.split("#", 1)[0]
            if ".collect()" in stripped or ".toPandas()" in stripped:
                n += 1
        if n == 0:
            continue
        cap = VETTED.get(rel, (0, None))[0]
        if n > cap:
            offenders.append(f"{rel}: {n} collect/toPandas (vetted cap {cap})")
    assert not offenders, "unvetted driver-side collection:\n" + "\n".join(offenders)


def test_every_entry_survives_an_empty_corpus(spark, sf_smoke, tmp_path):
    """Degenerate-input sweep: every registry entry must run (not
    necessarily return rows) against a corpus where every table has its
    real schema and ZERO rows. Empty partitions are routine at scale —
    a fresh ingest, an over-pruned filter, a dried-up stream — and an
    operator that crashes on them (null aggregate bounds, empty k-means
    samples, zero-length models) fails in production exactly when
    things are already going wrong."""
    import os

    empty = str(tmp_path / "empty_sf")
    os.makedirs(empty)
    for f in os.listdir(sf_smoke):
        if f.endswith(".parquet"):
            spark.read.parquet(os.path.join(sf_smoke, f)).limit(0).coalesce(
                1
            ).write.parquet(os.path.join(empty, f))

    failures = []
    for name, fn in registry()[0].items():
        try:
            fn(spark, empty).count()
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:90]}")
    assert not failures, "entries crash on an empty corpus:\n" + "\n".join(failures)


def test_every_entry_survives_injected_nulls(spark, sf_smoke, tmp_path):
    """Degenerate-input sweep #2: NULLs in the value columns (missing
    text, lost payloads, null measurements — routine in any real-world
    feed). ~10% of documents.text/lang, events.value/payload, and the
    comment columns are nulled; every registry entry must run without
    raising. The multimodal decode boundary skips NULL payloads by
    contract (`sources/multimodal.py:_decodable`) instead of letting a
    missing blob kill a whole Arrow batch."""
    import os

    from pyspark.sql import functions as F

    nullable = {
        "documents.parquet": ["text", "lang"],
        "events.parquet": ["value", "payload"],
        "orders.parquet": ["o_comment"],
        "lineitem.parquet": ["l_comment"],
    }
    out = str(tmp_path / "null_sf")
    os.makedirs(out)
    for f in os.listdir(sf_smoke):
        if not f.endswith(".parquet"):
            continue
        df = spark.read.parquet(os.path.join(sf_smoke, f))
        for c in nullable.get(f, []):
            if c in df.columns:
                df = df.withColumn(
                    c,
                    F.when(
                        F.xxhash64(df.columns[0]) % 10 == 0, F.lit(None)
                    ).otherwise(F.col(c)),
                )
        df.coalesce(1).write.parquet(os.path.join(out, f))

    failures = []
    for name, fn in registry()[0].items():
        try:
            fn(spark, out).count()
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:90]}")
    assert not failures, "entries crash on injected nulls:\n" + "\n".join(failures)

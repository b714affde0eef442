"""CDC materializer — the engine's core (SURVEY §1.4, §7 Phase 2).

The reference's `message` table is mutated only through REST calls
(``MessageController.java:22-45``); recast as a change log
``{seq, op, id, content, ts}``, the queryable table is a *fold*:
last-write-wins per key ordered by ``seq``, dropping keys whose latest op
is DELETE (tombstone; delete-of-absent-key is silent, adopting the Quarkus
``Message.deleteById`` semantics over Spring's throw —
``MessageResource.java:43-48`` vs ``MessageController.java:42-45``).

Batch implementation: one window pass (`row_number` per key by seq desc) —
a single shuffle on the key; at 100 TB the change log is partitioned by
key so the fold is shuffle-free. Streaming twin lives in
``cdc_cloudrun_demo_spark.streaming.cdc_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..fixtures import MESSAGE_CHANGES_SQL, message_changes_df
from ._util import sql_dsum

# DuckDB-side CTE shared by every oracle here
_CTE = f"WITH message_changes AS ({MESSAGE_CHANGES_SQL})"


def _fold(changes: DataFrame) -> DataFrame:
    """LWW-per-key + tombstone drop. The canonical materialization."""
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select("id", "content", F.col("seq").alias("last_seq"), F.col("ts").alias("updated_at"))
    )


def cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fold(message_changes_df(spark, sf_dir))


def cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State as of 2024-01-15 (time travel over the log: filter then fold)."""
    changes = message_changes_df(spark, sf_dir)
    return _fold(changes.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp")))


def cdc_tombstone_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys whose latest op is DELETE — the left_anti side of S5."""
    changes = message_changes_df(spark, sf_dir)
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "DELETE"))
        .select("id", F.col("seq").alias("tombstone_seq"))
    )


def cdc_op_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes = message_changes_df(spark, sf_dir)
    return changes.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").alias("n_keys"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
    )


def cdc_keygen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 IDENTITY key assignment, replay-deterministic (SURVEY §7 risk #1).

    New surrogate ids for INSERT events are assigned from the *event seq
    total order*, never from wall clock or `monotonically_increasing_id`
    (non-contiguous, partition-dependent). Continues after the 5 seed rows
    (sequence restarts at 6, reference ``import.sql:20-21``).

    Two-phase global rank — no single-reducer sort of the data anywhere:
      1. bucket by value range: pid = floor((seq - min) · P / span). The
         bounds come from one map-side-combined min/max aggregate
         broadcast back in (its exchange carries one row per task, never
         the data). Unlike ``repartitionByRange``, the bucket is a pure
         *function of seq* — deterministic across the plan's two
         evaluations of this subtree (range sampling is not, and skewed
         the offsets). Buckets are ordered and disjoint by construction.
      2. partition-local ordinal (window keyed on pid — every bucket ranks
         in parallel), then offset each bucket by the total row count of
         the buckets before it: a P-row aggregate joined back by
         broadcast. offset + local ordinal is the exact global rank
         because ``seq`` is unique and buckets are ordered.
    ``seq`` is a dense event id, so value-range buckets are balanced; a
    skewed key would call for sampled boundaries materialized once. (Plan
    asserted shuffle-parallel in
    tests/test_plans.py::test_keygen_has_no_single_partition_exchange.)
    """
    changes = message_changes_df(spark, sf_dir)
    inserts = changes.filter(F.col("op") == "INSERT").select("seq", "content")
    n_parts = max(spark.sparkContext.defaultParallelism // 2, 4)
    bounds = inserts.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"))
    span = F.col("hi") - F.col("lo") + 1
    pid = F.least(
        F.lit(n_parts - 1),
        F.floor(((F.col("seq") - F.col("lo")) * n_parts) / span),
    ).cast("int")
    ranged = inserts.crossJoin(F.broadcast(bounds)).select(
        "seq", "content", pid.alias("pid")
    )
    local = ranged.withColumn(
        "local_rn", F.row_number().over(Window.partitionBy("pid").orderBy("seq"))
    )
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    # offset(pid) = Σ cnt of earlier partitions; triangular broadcast join
    # over the P-row counts table keeps even this step off a single reducer.
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("offset"))
    )
    return local.join(F.broadcast(offsets), "pid").select(
        "seq",
        (F.col("offset") + F.col("local_rn") + F.lit(5)).cast("long").alias("assigned_id"),
        "content",
    )


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history: every version of every key with its validity
    interval [valid_from_seq, valid_to_seq) and a current-version flag —
    the audit/time-travel table a warehouse derives from a CDC log.
    One window pass (lead over seq per key); DELETE closes the interval
    and contributes no version row itself. Single shuffle on the key, so
    the plan is identical at any log size; partition the log by key and
    even that exchange disappears."""
    changes = message_changes_df(spark, sf_dir)
    w = Window.partitionBy("id").orderBy("seq")
    versions = changes.withColumn("next_seq", F.lead("seq").over(w)).withColumn(
        "next_op", F.lead("op").over(w)
    )
    return (
        versions.filter(F.col("op") != "DELETE")
        .select(
            "id",
            "content",
            F.col("seq").alias("valid_from_seq"),
            F.col("next_seq").alias("valid_to_seq"),
            F.col("next_seq").isNull().alias("is_current"),
        )
    )


def cdc_materialize_tx(
    spark: SparkSession, sf_dir: str, backend: str = "manifest"
) -> DataFrame:
    """The REAL Structured Streaming materializer, oracle-checked: the
    change log is written as file slices and replayed one file per
    micro-batch (availableNow) through the LWW fold — a native streaming
    aggregation over the same LWW aggregate list as the sink's merge
    (`cdc_stream.lww_aggs`) — and each micro-batch's updates commit
    through the ATOMIC sink (`streaming/tx_snapshot.py`) — immutable data files + an
    atomic manifest swap, the Iceberg commit protocol reduced to its
    minimum, with batch_id replay-skip and time-travel-able history.
    Nothing is collected on the Spark driver: the sink's merge is a
    distributed keyed aggregate and the final state is read straight
    off the committed snapshot. Hash-matching the SAME oracle as the
    batch fold proves the streaming fold and the transactional commit
    path end to end (slicing invariance and the crash/replay/GC
    properties are proven separately in tests/test_streaming.py)."""
    import os

    from ..streaming.tx_snapshot import read_tx_snapshot

    tmp = _run_tx_materializer(spark, sf_dir, backend)
    return read_tx_snapshot(spark, os.path.join(tmp, "state")).select(
        "id", "content", "last_seq", "updated_at"
    )


def _replay_change_log(spark: SparkSession, sf_dir: str, prefix: str, start) -> str:
    """Shared replay harness for the streaming entries: write the change
    log as seq-ordered micro-batch files, open it as a file stream that
    delivers one file per trigger in ascending seq order, run the query
    ``start(stream, tmp)`` returns to completion, and return the scratch
    dir ``tmp`` holding the query's outputs."""
    import os
    from .._scratch import scratch_dir

    from ..streaming.cdc_stream import CHANGE_SCHEMA

    tmp = scratch_dir(prefix)
    log_dir = os.path.join(tmp, "log")
    message_changes_df(spark, sf_dir).orderBy("seq").coalesce(4).write.mode(
        "overwrite"
    ).parquet(log_dir)
    # Enforce the in-order micro-batch contract rather than assume it:
    # FileStreamSource orders files by MODIFICATION time, which is
    # parallel-task completion order — a higher-seq slice finishing
    # first would feed the stream out of order (fatal for the live-TTL
    # sink). The global sort's range partitioning makes part-file NAME
    # order the seq order (coalesce merges consecutive partitions), so
    # stamping strictly ascending mtimes in name order pins the source's
    # delivery order to ascending seq.
    parts = sorted(f for f in os.listdir(log_dir) if f.startswith("part-"))
    base = max(os.path.getmtime(os.path.join(log_dir, f)) for f in parts)
    for i, f in enumerate(parts):
        t = base + i + 1
        os.utime(os.path.join(log_dir, f), (t, t))
    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir)
    )
    q = start(stream, tmp)
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise RuntimeError("streaming replay did not finish within 300s")
    if q.exception() is not None:
        raise q.exception()
    return tmp


def _run_tx_materializer(
    spark: SparkSession,
    sf_dir: str,
    backend: str,
    tombstone_ttl_seqs: int | None = None,
) -> str:
    """Shared harness for the tx-sink entries: replay the change log
    through `tx_snapshot_sink` with the given commit protocol, and
    return the scratch dir holding ``state``."""
    import os

    from ..streaming.cdc_stream import materialize_with_state
    from ..streaming.tx_snapshot import tx_snapshot_sink

    def start(stream, tmp):
        return tx_snapshot_sink(
            materialize_with_state(stream),
            state_dir=os.path.join(tmp, "state"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            backend=backend,
            tombstone_ttl_seqs=tombstone_ttl_seqs,
        )

    return _replay_change_log(spark, sf_dir, "cdc_tx_q_", start)


def cdc_tombstone_gc(
    spark: SparkSession, sf_dir: str, backend: str = "manifest"
) -> DataFrame:
    """Tombstone GC on the transactional CDC snapshot: fold the full
    change log through the atomic sink, then compact tombstones behind
    the source watermark (`streaming/tx_snapshot.py::compact_tombstones`
    — here the log is fully folded, so the horizon is its max seq) and
    vacuum. The returned frame is the RAW compacted snapshot with NO
    tombstone filter; hash-matching the LIVE-fold oracle therefore
    proves both halves at once: every expired tombstone is physically
    gone from the state files, and no live row was lost or altered by
    the compaction commit. The replay-safety half (a replayed old batch
    cannot resurrect a dropped key) is proven in
    tests/test_streaming.py::test_tombstone_gc_replay_safe, parametrized
    over both commit protocols. Reference anchor: the DELETE semantics
    of MessageResource.java:43-48 and SURVEY §7's "state growth
    (tombstone TTL)" hard item."""
    import os
    from ..streaming.tx_snapshot import compact_tombstones, open_store

    tmp = _run_tx_materializer(spark, sf_dir, backend)
    store = open_store(os.path.join(tmp, "state"))
    horizon = message_changes_df(spark, sf_dir).agg(
        F.max("seq").alias("m")
    ).collect()[0]["m"]
    compact_tombstones(store, spark, horizon_seq=horizon)
    store.gc()
    return store.read(spark).select("id", "content", "last_seq", "updated_at")


def cdc_materialize_ttl_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention policy running LIVE inside the streaming sink
    (`tx_snapshot_sink(tombstone_ttl_seqs=0)`): after every micro-batch
    commit, tombstones behind the sequence watermark are compacted
    automatically — the production shape, where a materializer folding
    months of churn never accretes dead keys in the first place, rather
    than waiting for maintenance-time `compact_tombstones`. ttl=0
    declares the in-order source this sliced change log is (each batch's
    max seq is a true frontier); the out-of-order safety half — a lag
    ttl retaining tombstones until late data can no longer arrive — is
    proven in tests/test_streaming.py::test_live_ttl_lag_blocks_late_
    resurrection. Returns the RAW final snapshot, so hash-matching the
    live-fold oracle proves every tombstone was dropped in-flight AND no
    live row was harmed."""
    import os
    from ..streaming.tx_snapshot import open_store

    tmp = _run_tx_materializer(spark, sf_dir, "manifest", tombstone_ttl_seqs=0)
    return (
        open_store(os.path.join(tmp, "state"))
        .read(spark)
        .select("id", "content", "last_seq", "updated_at")
    )


def cdc_tombstone_gc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cdc_tombstone_gc` over the Delta Lake log protocol backend —
    the compaction commit is an ordinary put-if-absent log version
    (removes for the compacted buckets' old files, adds for the
    rewritten ones), so readers switch atomically and time travel to
    the pre-compaction snapshot keeps working until vacuum."""
    return cdc_tombstone_gc(spark, sf_dir, backend="delta")


def cdc_scd2_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cdc_scd2_history` maintained by a REAL Structured Streaming run:
    the change log replays as a sliced file stream, a stateful
    applyInPandasWithState operator keeps each key's change list and
    re-emits its recomputed validity intervals every batch the key
    appears in (arrival-order-insensitive — see
    streaming/cdc_stream.py::_scd2_state_fn), emissions append to a
    parquet sink, and the reader keeps each key's latest interval set.
    Hash-matching the SAME oracle as the batch window-pass proves a live
    warehouse-history table converges to the batch-derived truth."""
    import os

    from ..streaming.cdc_stream import scd2_with_state

    def start(stream, tmp):
        return (
            scd2_with_state(stream)
            .writeStream.format("parquet")
            .option("path", os.path.join(tmp, "out"))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    tmp = _replay_change_log(spark, sf_dir, "cdc_scd2_live_", start)
    raw = spark.read.schema(
        "id long, content string, valid_from_seq long, valid_to_seq long,"
        " is_current boolean, n_changes long"
    ).parquet(os.path.join(tmp, "out"))
    w = Window.partitionBy("id")
    return (
        raw.withColumn("mx", F.max("n_changes").over(w))
        .filter(F.col("n_changes") == F.col("mx"))
        .select("id", "content", "valid_from_seq", "valid_to_seq", "is_current")
    )


def cdc_materialize_tx_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cdc_materialize_tx` with the Delta Lake transaction-log backend
    (`streaming/delta_log.py` — the public delta-io PROTOCOL.md format:
    _delta_log JSON commits, put-if-absent versions, txn replay-skip).
    Hash-matching the same batch-fold oracle proves the engine's
    streaming CDC path lands correctly in a real public table format."""
    return cdc_materialize_tx(spark, sf_dir, backend="delta")


def cdc_log_compact(
    spark: SparkSession, sf_dir: str, keep_versions: int = 2
) -> DataFrame:
    """Kafka-style log compaction: rewrite the change log keeping only the
    newest ``keep_versions`` events per key. Tombstones are retained like
    any other version (compaction must never resurrect a deleted key),
    and replaying the compacted log through the LWW fold yields the
    IDENTICAL materialized state — the compaction invariant, asserted by
    the oracle via hash equality on the full output.

    Scale shape: one window pass (rank per key by seq desc, same single
    shuffle as the fold itself); at 100 TB this runs as the periodic
    maintenance job that bounds log storage at O(keys · keep_versions)
    instead of O(all events ever)."""
    changes = message_changes_df(spark, sf_dir)
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= keep_versions)
        .select("seq", "op", "id", "content", "ts")
    )


def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a per-user count/sum aggregate:
    the materialized state is built from the historical segment (ts <
    2024-01-20), then a NEW delta segment is folded in WITHOUT touching
    history — aggregate the delta alone and merge the two tiny aggregate
    tables with a full-outer coalesce-sum. The oracle is the full
    recompute over all events, so the entry proves the IVM identity
    agg(A ∪ B) = merge(agg(A), agg(B)) for self-maintainable aggregates
    (count/sum — the sums are exact scaled longs, so the merge is
    associative with no float drift).

    At 100 TB this is THE refresh pattern: each micro-batch/partition
    aggregates its own slice (map-side, partial) and the merge touches
    only |keys| rows of state, never the raw history. Non-self-
    maintainable aggregates (exact distinct, median) need the auxiliary
    structures the dedup/sketch entries provide (HLL, t-digest)."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-20").cast("timestamp")

    def seg_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("s"),
        )

    base = seg_agg(ev.filter(F.col("ts") < split))
    delta = seg_agg(ev.filter(F.col("ts") >= split))
    b = base.select("user_id", F.col("n").alias("n0"), F.col("s").alias("s0"))
    d = delta.select("user_id", F.col("n").alias("n1"), F.col("s").alias("s1"))
    return b.join(d, "user_id", "full_outer").select(
        "user_id",
        (F.coalesce("n0", F.lit(0)) + F.coalesce("n1", F.lit(0))).alias("n_events"),
        (
            (F.coalesce("s0", F.lit(0)) + F.coalesce("s1", F.lit(0))).cast("double")
            / F.lit(100.0)
        ).alias("sum_value"),
    )


def cdc_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta rule
    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, specialized to the common
    fact-aggregation shape V = orders ⋈ (lineitem ⊳ Σ revenue per key):

    * lineitem splits into a historical segment and a delta (late lines
      l_linenumber > 4 arriving for EXISTING orders); each segment
      aggregates ALONE and the two |keys|-row aggregate tables merge
      with a full-outer coalesce-sum — history is never re-scanned;
    * orders splits likewise (new orders o_orderkey % 10 = 0); the
      dimension-side delta is a plain union of rows.

    The view after BOTH deltas — incremental on the fact side, union on
    the dim side — must equal the direct join-aggregate over the full
    tables, which is exactly what the oracle computes: a hash match
    proves the IVM algebra, not just a rerun. Revenue sums are exact
    scaled longs, so the merge is associative with zero float drift.
    At 100 TB this is how a revenue view absorbs a day's lineitems:
    aggregate the new slice (map-side partial), merge |touched keys|
    rows of state, re-join only through the aggregate — the raw history
    is never read again."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rev = F.sum(
        F.floor(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long")
    ).alias("s")

    def seg_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("l_orderkey").agg(rev, F.count(F.lit(1)).alias("n"))

    li_old = seg_agg(li.filter(F.col("l_linenumber") <= 4))
    li_new = seg_agg(li.filter(F.col("l_linenumber") > 4))
    a = li_old.select("l_orderkey", F.col("s").alias("s0"), F.col("n").alias("n0"))
    b = li_new.select("l_orderkey", F.col("s").alias("s1"), F.col("n").alias("n1"))
    merged = a.join(b, "l_orderkey", "full_outer").select(
        "l_orderkey",
        (F.coalesce("s0", F.lit(0)) + F.coalesce("s1", F.lit(0))).alias("s"),
        (F.coalesce("n0", F.lit(0)) + F.coalesce("n1", F.lit(0))).alias("n"),
    )
    orders_all = orders.filter(F.col("o_orderkey") % 10 != 0).unionByName(
        orders.filter(F.col("o_orderkey") % 10 == 0)
    )
    return (
        orders_all.join(
            merged, orders_all["o_orderkey"] == merged["l_orderkey"]
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("s").cast("double") / F.lit(100.0)).alias("revenue"),
            F.col("n").alias("n_lines"),
        )
    )


def cdc_disorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness metrics over the change log — the statistic that
    SIZES a watermark: per key in commit (seq) order, an event is LATE
    by how far its event time sits behind the max event time already
    seen for that key; the max over the log is the smallest watermark
    delay that would drop nothing, and the late fraction is what a
    smaller delay sacrifices. One window pass (the same key-partitioned
    shuffle as the LWW fold — at scale this piggybacks on the fold's
    exchange), lateness in exact integer microseconds, rolled up per op
    so insert/update/delete disorder is visible separately."""
    changes = message_changes_df(spark, sf_dir)
    w = (
        Window.partitionBy("id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = changes.withColumn(
        "late_us",
        F.greatest(
            F.lit(0).cast("long"),
            F.coalesce(
                F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts"),
                F.lit(0).cast("long"),
            ),
        ),
    )
    return late.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
        F.max("late_us").alias("max_late_us"),
        F.sum("late_us").alias("sum_late_us"),
    )


_DIFF_ASOF = "2024-01-15"


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF — the table-format time-travel comparison
    (`SELECT * FROM t VERSION AS OF a EXCEPT ...` generalized): fold the
    log as of t1 and as of head, full-outer join on the key, and classify
    every key as ADDED / REMOVED / CHANGED / UNCHANGED — the audit query
    a CDC consumer runs to answer "what did this week's replication
    actually change?". Both snapshots fold from ONE scan of the log
    (the t1 fold is the head fold's window re-filtered, so Spark reuses
    the exchange); the join keys on id — the same partitioning the folds
    already shuffled on, so AQE plans it shuffle-free locally and a
    key-partitioned 100 TB log diffs without any new exchange. UNCHANGED
    keys are kept (the oracle certifies the classifier on every key);
    a production diff would filter them out before materializing."""
    changes = message_changes_df(spark, sf_dir)
    t1 = _fold(
        changes.filter(F.col("ts") < F.lit(_DIFF_ASOF).cast("timestamp"))
    ).select(F.col("id"), F.col("content").alias("content_before"))
    t2 = _fold(changes).select(F.col("id"), F.col("content").alias("content_after"))
    j = t1.join(t2, "id", "full_outer")
    change = (
        F.when(F.col("content_before").isNull(), F.lit("ADDED"))
        .when(F.col("content_after").isNull(), F.lit("REMOVED"))
        .when(F.col("content_before") != F.col("content_after"), F.lit("CHANGED"))
        .otherwise(F.lit("UNCHANGED"))
    )
    return j.select("id", change.alias("change"), "content_before", "content_after")


QUERIES = {
    "cdc_snapshot_diff": cdc_snapshot_diff,
    "cdc_disorder_stats": cdc_disorder_stats,
    "cdc_incremental_join": cdc_incremental_join,
    "cdc_incremental_agg": cdc_incremental_agg,
    "cdc_materialize": cdc_materialize,
    "cdc_log_compact": cdc_log_compact,
    "cdc_materialize_tx": cdc_materialize_tx,
    "cdc_materialize_tx_delta": cdc_materialize_tx_delta,
    "cdc_tombstone_gc": cdc_tombstone_gc,
    "cdc_tombstone_gc_delta": cdc_tombstone_gc_delta,
    "cdc_materialize_ttl_live": cdc_materialize_ttl_live,
    "cdc_scd2_history": cdc_scd2_history,
    "cdc_scd2_live": cdc_scd2_live,
    "cdc_snapshot_asof": cdc_snapshot_asof,
    "cdc_tombstone_keys": cdc_tombstone_keys,
    "cdc_op_stats": cdc_op_stats,
    "cdc_keygen": cdc_keygen,
}

_FOLD_SQL = """
    SELECT id, content, seq AS last_seq, ts AS updated_at
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
        FROM {src}
    ) f
    WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES = {
    "cdc_snapshot_diff": f"""
        {_CTE}
        , t1 AS (
            SELECT id, content AS content_before FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
                FROM message_changes WHERE ts < TIMESTAMP '{_DIFF_ASOF}'
            ) WHERE rn = 1 AND op <> 'DELETE'
        ), t2 AS (
            SELECT id, content AS content_after FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
                FROM message_changes
            ) WHERE rn = 1 AND op <> 'DELETE'
        )
        SELECT COALESCE(t1.id, t2.id) AS id,
               CASE WHEN t1.content_before IS NULL THEN 'ADDED'
                    WHEN t2.content_after IS NULL THEN 'REMOVED'
                    WHEN t1.content_before <> t2.content_after THEN 'CHANGED'
                    ELSE 'UNCHANGED' END AS change,
               t1.content_before, t2.content_after
        FROM t1 FULL OUTER JOIN t2 ON t1.id = t2.id
    """,
    "cdc_disorder_stats": f"""
        {_CTE}
        , late AS (
            SELECT op,
                   GREATEST(0, COALESCE(
                       MAX(epoch_us(ts)) OVER (
                           PARTITION BY id ORDER BY seq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) - epoch_us(ts), 0)) AS late_us
            FROM message_changes
        )
        SELECT op,
               COUNT(*) AS n_changes,
               CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_late,
               CAST(MAX(late_us) AS BIGINT) AS max_late_us,
               CAST(SUM(late_us) AS BIGINT) AS sum_late_us
        FROM late GROUP BY op
    """,
    # full recompute — the join-view IVM must be indistinguishable from it
    "cdc_incremental_join": """
        SELECT o.o_orderkey,
               o.o_orderdate,
               CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1.0 - l.l_discount))
                                   * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS revenue,
               COUNT(*) AS n_lines
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    """,
    # full recompute — the IVM merge must be indistinguishable from it
    "cdc_incremental_agg": f"""
        SELECT user_id, COUNT(*) AS n_events, {sql_dsum("value")} AS sum_value
        FROM events GROUP BY user_id
    """,
    "cdc_materialize": f"{_CTE} {_FOLD_SQL.format(src='message_changes')}",
    "cdc_log_compact": f"""
        {_CTE}
        SELECT seq, op, id, content, ts
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
            FROM message_changes
        ) v WHERE rn <= 2
    """,
    # the streaming fold must converge to the identical batch state
    "cdc_materialize_tx": f"{_CTE} {_FOLD_SQL.format(src='message_changes')}",
    "cdc_materialize_tx_delta": f"{_CTE} {_FOLD_SQL.format(src='message_changes')}",
    # the RAW compacted snapshot vs the LIVE fold: equality proves zero
    # surviving tombstones AND untouched live rows (see cdc_tombstone_gc)
    "cdc_tombstone_gc": f"{_CTE} {_FOLD_SQL.format(src='message_changes')}",
    "cdc_tombstone_gc_delta": f"{_CTE} {_FOLD_SQL.format(src='message_changes')}",
    "cdc_materialize_ttl_live": f"{_CTE} {_FOLD_SQL.format(src='message_changes')}",
    "cdc_scd2_history": f"""
        {_CTE},
        v AS (
            SELECT id, content, op, seq,
                   LEAD(seq) OVER (PARTITION BY id ORDER BY seq) AS next_seq
            FROM message_changes
        )
        SELECT id, content,
               seq AS valid_from_seq,
               next_seq AS valid_to_seq,
               next_seq IS NULL AS is_current
        FROM v WHERE op <> 'DELETE'
    """,
    "cdc_scd2_live": f"""
        {_CTE},
        v AS (
            SELECT id, content, op, seq,
                   LEAD(seq) OVER (PARTITION BY id ORDER BY seq) AS next_seq
            FROM message_changes
        )
        SELECT id, content,
               seq AS valid_from_seq,
               next_seq AS valid_to_seq,
               next_seq IS NULL AS is_current
        FROM v WHERE op <> 'DELETE'
    """,
    "cdc_snapshot_asof": f"""
        {_CTE},
        filtered AS (SELECT * FROM message_changes WHERE ts < TIMESTAMP '2024-01-15')
        {_FOLD_SQL.format(src='filtered')}
    """,
    "cdc_tombstone_keys": f"""
        {_CTE}
        SELECT id, seq AS tombstone_seq
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
            FROM message_changes
        ) f
        WHERE rn = 1 AND op = 'DELETE'
    """,
    "cdc_op_stats": f"""
        {_CTE}
        SELECT op, COUNT(*) AS n, COUNT(DISTINCT id) AS n_keys,
               MIN(seq) AS first_seq, MAX(seq) AS last_seq
        FROM message_changes GROUP BY op
    """,
    "cdc_keygen": f"""
        {_CTE}
        SELECT seq,
               CAST(ROW_NUMBER() OVER (ORDER BY seq) + 5 AS BIGINT) AS assigned_id,
               content
        FROM message_changes WHERE op = 'INSERT'
    """,
}

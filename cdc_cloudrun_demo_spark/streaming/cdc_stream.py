"""Streaming CDC materializer (SURVEY §7 Phase 2 — the hard part).

One streaming path and ONE last-writer-wins (LWW) fold, the same as
operators/cdc.py:

``materialize_with_state`` — a native Structured Streaming aggregation:
each change event becomes an update row (``last_seq = seq``, DELETE as a
tombstone) and the rows are grouped by ``id`` with `lww_aggs`, the same
aggregate list `lww_merge` uses. The per-key state is the aggregation
buffer, kept in the configured state store (HDFS-backed locally,
RocksDB at scale via ``spark.sql.streaming.stateStore.providerClass``),
and update mode emits each touched key's folded row per micro-batch. No
Python worker runs on this path. Replays and late events are idempotent
by ``max``: a lower or equal ``seq`` never displaces the folded row.
The updates land in ``tx_snapshot_sink`` (streaming/tx_snapshot.py),
which appends each micro-batch as per-bucket delta files in one atomic
snapshot commit, exactly-once via the recorded ``batch_id``; readers
fold a bucket's files with ``lww_merge`` — the same aggregates again.

A checkpoint written by the earlier pandas keyed-state form of this
operator cannot be resumed: its state schema differs. Start such a
query from a fresh checkpoint; the sink's committed snapshot is
unaffected.

Ordering: events are folded by `seq` (the replay-deterministic total
order, never wall clock), so any micro-batch slicing of the log produces
the same final state — asserted against the batch oracle in
tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CHANGE_SCHEMA = "seq long, op string, id long, content string, ts timestamp"
# update-mode output of the keyed-state materializer (tombstones flagged)
UPDATES_SCHEMA = (
    "id long, content string, last_seq long, updated_at timestamp, is_deleted boolean"
)

N_STATE_BUCKETS = 16


def bucket_expr(n_buckets: int):
    """THE bucket function — ``pmod(xxhash64(id), n)`` — defined once so
    the sink, both tx store backends, and the DataSource round-trip
    cannot silently diverge on how a key maps to a state bucket."""
    return F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int")


def lww_aggs() -> list:
    """THE last-writer-wins aggregate list over ``UPDATES_SCHEMA``
    columns: the newest ``last_seq`` wins every column, tombstones
    retained (``is_deleted`` carries forward, so replays stay
    idempotent). Shared by the streaming fold (`materialize_with_state`)
    and the sink merge (`lww_merge`), so the two cannot drift."""
    return [
        F.max_by("content", "last_seq").alias("content"),
        F.max("last_seq").alias("last_seq"),
        F.max_by("updated_at", "last_seq").alias("updated_at"),
        F.max_by("is_deleted", "last_seq").alias("is_deleted"),
    ]


def lww_merge(updates: DataFrame) -> DataFrame:
    """The keyed LWW fold over (bucket, id). One definition shared by the
    snapshot readers of both tx store backends (which fold a bucket's
    base + delta files with it) and compaction — the merge semantics
    cannot drift between them."""
    return updates.groupBy("bucket", "id").agg(*lww_aggs())


def _scd2_state_fn(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key SCD2 (type-2 history) maintenance. The state is the key's
    full change list (seq/op/content arrays — at production scale a key's
    history is bounded by upstream log compaction, `cdc_log_compact`);
    every batch the key appears in, the WHOLE interval set is recomputed
    from the sorted list and re-emitted, tagged with the monotone change
    count. Recompute-from-state makes the operator insensitive to
    arrival order ACROSS micro-batches (a late low-seq change simply
    re-derives the corrected intervals — the interval-closing logic
    never trusts arrival order), and the reader keeps each key's
    highest-tag emission. DELETE closes the open interval and
    contributes no version row — the exact `cdc_scd2_history` batch
    semantics, hash-matched against the same oracle."""
    if state.exists:
        seqs, ops, contents = (list(x) for x in state.get)
    else:
        seqs, ops, contents = [], [], []
    for pdf in pdf_iter:
        seqs.extend(int(s) for s in pdf["seq"])
        ops.extend(pdf["op"])
        contents.extend(pdf["content"])
    state.update((seqs, ops, contents))
    order = sorted(range(len(seqs)), key=lambda i: seqs[i])
    out = {
        "id": [],
        "content": [],
        "valid_from_seq": [],
        "valid_to_seq": [],
        "is_current": [],
        "n_changes": [],
    }
    n = len(order)
    for pos, i in enumerate(order):
        if ops[i] == "DELETE":
            continue
        nxt = seqs[order[pos + 1]] if pos + 1 < n else None
        out["id"].append(key[0])
        out["content"].append(contents[i])
        out["valid_from_seq"].append(seqs[i])
        out["valid_to_seq"].append(nxt)
        out["is_current"].append(nxt is None)
        out["n_changes"].append(n)
    pdf = pd.DataFrame(out)
    pdf["valid_to_seq"] = pd.array(out["valid_to_seq"], dtype="Int64")
    yield pdf


def scd2_with_state(changes_stream: DataFrame):
    """SCD2 history maintained by a live stream (see ``_scd2_state_fn``).
    Emissions are append-mode interval sets; the reader keeps each key's
    latest (highest ``n_changes``) emission."""
    out_schema = (
        "id long, content string, valid_from_seq long, valid_to_seq long,"
        " is_current boolean, n_changes long"
    )
    state_schema = "seqs array<long>, ops array<string>, contents array<string>"
    return changes_stream.groupBy("id").applyInPandasWithState(
        _scd2_state_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def materialize_with_state(changes_stream: DataFrame) -> DataFrame:
    """Keyed-state materializer: a native streaming aggregation of
    `lww_aggs` by ``id`` over the events mapped to ``UPDATES_SCHEMA``
    rows. In update mode it emits each touched key's folded row per
    batch. Filter ``is_deleted`` downstream for the live view."""
    deleted = F.col("op") == "DELETE"
    return (
        changes_stream.select(
            "id",
            F.when(~deleted, F.col("content")).alias("content"),
            F.col("seq").alias("last_seq"),
            F.col("ts").alias("updated_at"),
            deleted.alias("is_deleted"),
        )
        .groupBy("id")
        .agg(*lww_aggs())
    )

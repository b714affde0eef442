"""Streaming end-to-end: the CDC materializer replayed as a real stream
must converge to the batch fold, regardless of micro-batch slicing
(SURVEY §5 test pyramid, tier 2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_cloudrun_demo_spark.fixtures import message_changes_df
from cdc_cloudrun_demo_spark.operators.cdc import cdc_materialize
from cdc_cloudrun_demo_spark.sources import file_stream
from cdc_cloudrun_demo_spark.streaming.cdc_stream import (
    CHANGE_SCHEMA,
    N_STATE_BUCKETS,
    bucket_expr,
    lww_merge,
    materialize_with_state,
)
from cdc_cloudrun_demo_spark.streaming.event_windows import (
    run_to_memory,
    session_aggregates,
    tumbling_counts,
)
from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
    read_tx_snapshot,
    tx_snapshot_sink,
)


def _write_change_log_files(spark, sf_dir: str, out_dir: str, n_slices: int = 5) -> None:
    """Slice the change log into n sequential files (≈ WAL segments)."""
    changes = message_changes_df(spark, sf_dir).orderBy("seq")
    total = changes.count()
    per = (total + n_slices - 1) // n_slices
    rows = changes.collect()
    for i in range(n_slices):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            continue
        spark.createDataFrame(chunk, schema=changes.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"slice_{i:03d}"))


def _expected_state(spark, sf_dir: str):
    return {
        r["id"]: (r["content"], r["last_seq"])
        for r in cdc_materialize(spark, sf_dir).collect()
    }


def _await(q, timeout: int = 120) -> None:
    """Wait for an availableNow query to finish. A timed-out or failed
    stream fails HERE, instead of being read mid-fold and surfacing as a
    misleading state diff."""
    finished = q.awaitTermination(timeout)
    if not finished:
        q.stop()
    assert finished, f"stream did not finish within {timeout}s"
    if q.exception() is not None:
        raise q.exception()


def _tx_materialize(
    spark, log_glob: str, state_dir: str, ckpt: str, backend: str = "manifest"
) -> None:
    """Replay the change-log files under ``log_glob`` (one file per
    micro-batch) through the streaming CDC path: the keyed-state LWW
    fold into the atomic snapshot sink."""
    stream = file_stream(spark, log_glob, CHANGE_SCHEMA, max_files_per_trigger=1)
    _await(
        tx_snapshot_sink(
            materialize_with_state(stream), state_dir, ckpt, backend=backend
        )
    )


def _tx_state(spark, state_dir: str):
    return {
        r["id"]: (r["content"], r["last_seq"])
        for r in read_tx_snapshot(spark, state_dir).collect()
    }


def _update_rows(changes):
    """The change log folded to the rows the keyed-state materializer
    emits (latest event per key, DELETE kept as a tombstone), bucketed
    as the sink buckets them."""
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            bucket_expr(N_STATE_BUCKETS).alias("bucket"),
            "id",
            "content",
            F.col("seq").alias("last_seq"),
            F.col("ts").alias("updated_at"),
            (F.col("op") == "DELETE").alias("is_deleted"),
        )
    )


def test_foreach_batch_replay_idempotent(spark, sf_smoke):
    """Re-merging already-applied updates must not change state: the
    sink's `lww_merge` is a fixpoint under replay of the same batch AND
    of an older one (an older tombstone or update never outvotes a
    newer row)."""
    changes = message_changes_df(spark, sf_smoke)
    updates = _update_rows(changes)
    mid = changes.agg(F.percentile_approx("seq", 0.5)).first()[0]
    older = _update_rows(changes.filter(F.col("seq") <= mid))
    state = lww_merge(updates)
    want = sorted(state.collect())
    assert sorted(lww_merge(state.unionByName(updates)).collect()) == want
    assert sorted(lww_merge(state.unionByName(older)).collect()) == want


def test_stream_fold_update_mode_matches_batch(spark, sf_smoke, tmp_path):
    """The keyed-state fold's update-mode emissions, collected in a memory
    sink: the newest emission per key is the batch fold's state."""
    log_dir = str(tmp_path / "log2")
    ckpt = str(tmp_path / "ckpt2")
    _write_change_log_files(spark, sf_smoke, log_dir, n_slices=3)

    stream = file_stream(
        spark, os.path.join(log_dir, "slice_*"), CHANGE_SCHEMA, max_files_per_trigger=1
    )
    updates = materialize_with_state(stream)
    q = run_to_memory(updates, "cdc_state_updates", ckpt, output_mode="update")
    q.awaitTermination(120)

    # last update per key across all micro-batches == final state
    final = (
        spark.table("cdc_state_updates")
        .groupBy("id")
        .agg(F.max_by("content", "last_seq").alias("content"),
             F.max("last_seq").alias("last_seq"),
             F.max_by("is_deleted", "last_seq").alias("is_deleted"))
        .filter(~F.col("is_deleted"))
    )
    got = {r["id"]: (r["content"], r["last_seq"]) for r in final.collect()}
    assert got == _expected_state(spark, sf_smoke)


def test_streaming_tumbling_matches_batch(spark, sf_smoke, tmp_path):
    """Windowed streaming agg over the full (on-time) replay equals the
    batch computation — watermark only drops genuinely late data."""
    from cdc_cloudrun_demo_spark.catalog import load_table

    ev = load_table(spark, sf_smoke, "events")
    ev_dir = str(tmp_path / "events_replay")
    ev.write.mode("overwrite").parquet(ev_dir)

    stream = file_stream(
        spark, ev_dir, ev.schema, max_files_per_trigger=100
    )
    # complete mode: append-mode windows only finalize when a LATER batch
    # advances the watermark past them, so a finite replay would drop the
    # tail windows; complete emits the whole result table every trigger.
    agg = tumbling_counts(stream, "1 day", watermark="1 day")
    q = run_to_memory(agg, "tumbling_out", str(tmp_path / "ckpt3"), output_mode="complete")
    q.awaitTermination(120)

    batch = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.table("tumbling_out").collect()
    }
    want = {(r["window_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_watermark_finalizes_windows_and_drops_late_events(spark, tmp_path):
    """Append-mode watermark contract: once the watermark passes a window's
    end the window is emitted exactly once, and a later-arriving event for
    that window is dropped — it must NOT re-open the window or produce a
    duplicate emission. (The late-data policy the reference never had to
    define; its "stream" was synchronous REST.)"""
    from datetime import datetime

    schema = "ts timestamp, event_type string, value double"
    day = lambda d, h=0: datetime(2024, 1, d, h)  # noqa: E731
    batches = [
        [(day(10, h), "click", 1.0) for h in range(5)],  # window [10, 11)
        [(day(13), "view", 1.0)],   # watermark → day 12, strictly past [10, 11)
        [(day(14), "view", 1.0)],   # [10, 11) evicted + emitted this batch
        [(day(10, 6), "click", 1.0)],  # late: window already finalized → dropped
    ]
    log_dir = tmp_path / "late_log"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(log_dir / f"slice_{i:03d}"))

    stream = file_stream(
        spark, str(log_dir / "slice_*"), schema, max_files_per_trigger=1
    )
    agg = tumbling_counts(stream, "1 day", watermark="1 day")
    q = run_to_memory(agg, "late_out", str(tmp_path / "ckpt_late"), output_mode="append")
    q.awaitTermination(120)

    rows = [
        r
        for r in spark.table("late_out").collect()
        if r["window_start"].day == 10 and r["event_type"] == "click"
    ]
    # exactly one emission, counting only the 5 on-time events
    assert len(rows) == 1, rows
    assert rows[0]["n"] == 5, rows


def test_foreach_batch_restart_from_checkpoint(spark, sf_smoke, tmp_path):
    """Stop the materializer mid-log, deliver more WAL segments, restart
    with the same checkpoint: the fold resumes from the committed offset
    and converges — no duplicates, no lost updates (exactly-once effect
    via the sink's batch_id commit + offset tracking)."""
    import shutil

    log_dir = str(tmp_path / "log_restart")
    state_dir = str(tmp_path / "state_restart")
    ckpt = str(tmp_path / "ckpt_restart")
    _write_change_log_files(spark, sf_smoke, log_dir, n_slices=5)
    # phase 1: only the first 3 segments exist in a staged dir
    staged = str(tmp_path / "staged_log")
    os.makedirs(staged)
    names = sorted(os.listdir(log_dir))
    for n in names[:3]:
        shutil.copytree(os.path.join(log_dir, n), os.path.join(staged, n))
    staged_glob = os.path.join(staged, "slice_*")
    _tx_materialize(spark, staged_glob, state_dir, ckpt)

    # phase 2: the rest of the log arrives; restart from the same checkpoint
    for n in names[3:]:
        shutil.copytree(os.path.join(log_dir, n), os.path.join(staged, n))
    _tx_materialize(spark, staged_glob, state_dir, ckpt)

    assert _tx_state(spark, state_dir) == _expected_state(spark, sf_smoke)


def test_streaming_session_windows_match_batch(spark, sf_smoke, tmp_path):
    """Gap-merged session windows computed as a stream (stateful window
    merge) equal the batch session_window fold over the same events."""
    from cdc_cloudrun_demo_spark.catalog import load_table

    ev = load_table(spark, sf_smoke, "events").select("ts", "user_id")
    ev_dir = str(tmp_path / "events_sess")
    ev.write.mode("overwrite").parquet(ev_dir)

    stream = file_stream(spark, ev_dir, ev.schema, max_files_per_trigger=100)
    agg = session_aggregates(stream, gap="30 minutes", watermark="1 hour")
    q = run_to_memory(
        agg, "sessions_out", str(tmp_path / "ckpt_sess"), output_mode="complete"
    )
    q.awaitTermination(120)

    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.table("sessions_out").collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in batch.collect()
    }
    assert got == want


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_snapshot_sink_rewrites_only_touched_buckets(spark, tmp_path, backend):
    """The tx snapshot sink must do O(batch) I/O per batch: a micro-batch
    updating one key only APPENDS a delta file to that key's bucket.
    Every prior file of every bucket, touched or not, is carried into
    the next committed version verbatim, and new files appear only in
    the touched bucket."""
    from datetime import datetime

    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import open_store

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        _tx_materialize(spark, str(log_dir / "slice_*"), state_dir, ckpt, backend)

    spark.createDataFrame(_tx_rows_phase1(), CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_000"))
    run_stream()
    store = open_store(state_dir)
    before = store.latest_manifest()
    assert len(before["buckets"]) > 1, "need >1 bucket for the pruning assertion"

    # phase 2: a single-key update arrives; same checkpoint → one new batch
    rows2 = [(1000, "UPDATE", 0, "updated-0", datetime(2024, 1, 2))]
    spark.createDataFrame(rows2, CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_001"))
    run_stream()
    after = store.latest_manifest()
    assert after["version"] == before["version"] + 1

    touched = str(
        spark.createDataFrame([(0,)], "id long")
        .select(bucket_expr(N_STATE_BUCKETS))
        .first()[0]
    )
    assert set(after["buckets"]) == set(before["buckets"])
    for b, files in before["buckets"].items():
        assert after["buckets"][b][: len(files)] == files, f"bucket {b} rewritten"
        added = after["buckets"][b][len(files):]
        if b == touched:
            assert len(added) == 1, f"touched bucket gained {added}"
            assert not set(added) & set(files)
        else:
            assert not added, f"untouched bucket {b} gained {added}"

    # and the final state reflects the update
    final = {r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()}
    assert final[0] == "updated-0" and len(final) == 50


def _tx_rows_phase1():
    from datetime import datetime

    return [
        (i + 1, "INSERT", i, f"content-{i}", datetime(2024, 1, 1, 0, 0, i % 60))
        for i in range(50)
    ]


def _tx_rows_phase2():
    from datetime import datetime

    return [
        (1000 + i, "DELETE" if i == 3 else "UPDATE", i,
         None if i == 3 else f"updated-{i}", datetime(2024, 1, 2, 0, 0, i))
        for i in range(10)
    ]


def _tx_want_final():
    return {i: f"updated-{i}" for i in range(10) if i != 3} | {
        i: f"content-{i}" for i in range(10, 50)
    }


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_tx_sink_atomic_visibility_under_crash(spark, tmp_path, backend):
    """The transactional sink's core guarantee: a crash BETWEEN writing
    the new data files and publishing the manifest leaves the reader on
    the previous snapshot IN FULL — never a torn mix of old and new
    buckets. Restarting replays the batch and commits; gc() then sweeps
    the orphan generation the crashed attempt left behind.

    Parametrized over BOTH commit-protocol backends — the bespoke
    manifest pointer and the public Delta Lake transaction log
    (streaming/delta_log.py) — same assertions verbatim, proving the
    contract is the protocol's, not one implementation's."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        open_store,
        read_tx_snapshot,
        tx_snapshot_sink,
    )

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_stream(on_before_commit=None):
        stream = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(log_dir / "slice_*"))
        )
        return tx_snapshot_sink(
            materialize_with_state(stream), state_dir, ckpt,
            on_before_commit=on_before_commit, backend=backend,
        )

    spark.createDataFrame(_tx_rows_phase1(), CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_000"))
    q = run_stream()
    assert q.awaitTermination(120)
    phase1 = {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    }
    assert phase1 == {i: f"content-{i}" for i in range(50)}

    # phase 2 arrives, but the process "dies" after the data files are
    # written and before the manifest publish
    spark.createDataFrame(_tx_rows_phase2(), CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_001"))

    def die(batch_id: int) -> None:
        raise RuntimeError("injected crash before manifest publish")

    q = run_stream(on_before_commit=die)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
        raise AssertionError("query should have failed")  # pragma: no cover

    # the reader still sees phase 1 exactly — no torn view, ever
    after_crash = {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    }
    assert after_crash == phase1
    store = open_store(state_dir)
    v_before = store.latest_manifest()["version"]

    # restart: checkpoint replays the batch, the commit publishes atomically
    q = run_stream()
    assert q.awaitTermination(120)
    got = {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    }
    assert got == _tx_want_final()
    assert store.latest_manifest()["version"] == v_before + 1
    # tombstone retained in the raw snapshot, filtered in the live view
    raw = store.read(spark)
    assert [r["id"] for r in raw.filter(F.col("is_deleted")).collect()] == [3]
    # time travel: the pre-batch snapshot remains readable by version
    travel = {
        r["id"]: r["content"]
        for r in read_tx_snapshot(spark, state_dir, version=v_before).collect()
    }
    assert travel == phase1

    # the crashed attempt left no orphan: the retry REUSED its generation
    # number (commit() clears leftovers before rewriting), so GC finds
    # nothing — the torn attempt cost zero permanent garbage. Retaining
    # both versions keeps time travel alive through the sweep.
    assert store.gc(retain_versions=2) == 0
    assert {
        r["id"]: r["content"]
        for r in read_tx_snapshot(spark, state_dir, version=v_before).collect()
    } == phase1

    # phase 3 touches every bucket; compacting every bucket then folds its
    # base + delta files into one new base, fully superseding generations
    # 1 to 3 (merge-on-read commits only append, so only a compaction
    # supersedes files). GC reclaims them, and the committed snapshot
    # survives the sweep
    from datetime import datetime

    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import compact

    rows3 = [
        (2000 + i, "UPDATE", i, f"final-{i}", datetime(2024, 1, 3, 0, 0, i % 60))
        for i in range(50)
    ]
    spark.createDataFrame(rows3, CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_002"))
    q = run_stream()
    assert q.awaitTermination(120)
    compact(store, spark, [int(b) for b in store.latest_manifest()["buckets"]])
    assert store.gc() >= 2  # default retention collapses history to newest
    assert {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    } == {i: f"final-{i}" for i in range(50)}
    # expired versions are gone for readers too
    with pytest.raises(ValueError, match="no committed snapshot"):
        read_tx_snapshot(spark, state_dir, version=v_before)


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_tx_sink_replay_skips_committed_batch(spark, tmp_path, backend):
    """foreachBatch's double-fire case: the batch COMMITTED to the
    manifest but the checkpoint lost the commit marker (crash between
    sink commit and checkpoint commit). On restart the sink must SKIP
    the replayed batch — exactly-once enforced at the commit via the
    manifest's batch_id (the Delta backend's ``txn`` appId/version — the
    protocol's idempotent-writer action), not argued from merge algebra
    — leaving the manifest version unchanged."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        open_store,
        read_tx_snapshot,
        tx_snapshot_sink,
    )

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(log_dir / "slice_*"))
        )
        q = tx_snapshot_sink(
            materialize_with_state(stream), state_dir, ckpt, backend=backend
        )
        assert q.awaitTermination(120)

    spark.createDataFrame(_tx_rows_phase1(), CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_000"))
    run_stream()
    spark.createDataFrame(_tx_rows_phase2(), CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_001"))
    run_stream()

    store = open_store(state_dir)
    m = store.latest_manifest()

    # erase the checkpoint's commit marker: Spark now believes the last
    # batch never ran and will replay it
    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if not f.startswith(".")), key=int)
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    run_stream()
    m2 = store.latest_manifest()
    assert m2["version"] == m["version"], "replayed batch must not re-commit"
    assert m2["batch_id"] == m["batch_id"]
    got = {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    }
    assert got == _tx_want_final()


def _tx_stream(spark, log_dir, state_dir, ckpt, backend):
    """Start the streaming CDC path over ``log_dir/slice_*`` (one file
    per micro-batch) without waiting for it."""
    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir / "slice_*"))
    )
    return tx_snapshot_sink(
        materialize_with_state(stream), state_dir, ckpt, backend=backend
    )


def _write_slice(spark, log_dir, i: int, rows) -> None:
    spark.createDataFrame(rows, CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / f"slice_{i:03d}"))


def _unreferenced_data_files(store) -> set[str]:
    """Parquet data files under the store that NO committed version
    references (the log and manifest directories excluded)."""
    referenced = {
        f
        for v in store.versions()
        for fl in store.manifest(v)["buckets"].values()
        for f in fl
    }
    on_disk = set()
    for root, dirs, files in os.walk(store.state_dir):
        dirs[:] = [d for d in dirs if d not in ("_delta_log", "manifests")]
        on_disk.update(
            os.path.relpath(os.path.join(root, f), store.state_dir)
            for f in files
            if f.endswith(".parquet")
        )
    return on_disk - referenced


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_tx_sink_torn_publish_keeps_previous_version(
    spark, tmp_path, monkeypatch, backend
):
    """The orphan-file window itself: the commit's data files are on disk
    and the publish (`os.link` of the manifest / log entry) fails once.
    Readers still see the previous version in full, a restart converges
    to the fold, and no data file outlives the retry plus `gc()` unless a
    retained version references it (the manifest backend's retry clears
    and rewrites its generation directory; the Delta backend's orphans
    carry unique names and are vacuumed by `gc()`)."""
    from cdc_cloudrun_demo_spark.streaming import delta_log, tx_snapshot
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import open_store

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_slice(spark, log_dir, 0, _tx_rows_phase1())
    _await(_tx_stream(spark, log_dir, state_dir, ckpt, backend))
    phase1 = _tx_state(spark, state_dir)
    store = open_store(state_dir)
    v1 = store.latest_manifest()["version"]

    _write_slice(spark, log_dir, 1, _tx_rows_phase2())
    mod = tx_snapshot if backend == "manifest" else delta_log
    real_link = os.link
    seen = {}

    def link_fails_once(src, dst, *a, **kw):
        if not seen and str(dst).startswith(state_dir):
            seen["orphans"] = _unreferenced_data_files(store)
            raise OSError("injected publish failure")
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(mod.os, "link", link_fails_once)
    q = _tx_stream(spark, log_dir, state_dir, ckpt, backend)
    with pytest.raises(Exception, match="injected publish failure"):
        _await(q)
    assert seen["orphans"], "the publish failed before any data file was written"

    # the torn attempt is invisible: version and content are phase 1's
    assert store.latest_manifest()["version"] == v1
    assert _tx_state(spark, state_dir) == phase1
    orphans = _unreferenced_data_files(store)
    assert orphans == seen["orphans"]

    # restart: the checkpoint replays the batch and the commit publishes
    _await(_tx_stream(spark, log_dir, state_dir, ckpt, backend))
    assert store.latest_manifest()["version"] == v1 + 1
    assert {
        i: c for i, (c, _seq) in _tx_state(spark, state_dir).items()
    } == _tx_want_final()
    store.gc(retain_versions=2)
    on_disk_after = _unreferenced_data_files(store)
    assert not on_disk_after, f"unreferenced data survived gc: {on_disk_after}"
    for f in orphans:
        assert not os.path.exists(os.path.join(state_dir, f)), f
    assert {
        r["id"]: r["content"]
        for r in read_tx_snapshot(spark, state_dir, version=v1).collect()
    } == {i: c for i, (c, _s) in phase1.items()}


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_late_and_replayed_events_lose_across_batches(spark, tmp_path, backend):
    """LWW across micro-batches: the second batch carries a LOWER-seq
    UPDATE for a key the first batch deleted, and an exact re-delivery of
    an event the first batch already folded. Neither may change state:
    the committed rows (tombstones included) equal the one-shot fold of
    the whole log, so the key stays deleted and the other row stays
    as it was."""
    from datetime import datetime

    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import open_store

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    first = [
        (1, "INSERT", 1, "a", datetime(2024, 1, 1, 0, 0, 1)),
        (2, "INSERT", 2, "b", datetime(2024, 1, 1, 0, 0, 2)),
        (5, "DELETE", 1, None, datetime(2024, 1, 1, 0, 0, 5)),
        (6, "UPDATE", 2, "b2", datetime(2024, 1, 1, 0, 0, 6)),
    ]
    second = [
        (3, "UPDATE", 1, "late", datetime(2024, 1, 1, 0, 0, 3)),
        (6, "UPDATE", 2, "b2", datetime(2024, 1, 1, 0, 0, 6)),
    ]
    cols = ["bucket", "id", "content", "last_seq", "updated_at", "is_deleted"]

    def committed():
        return sorted(open_store(state_dir).read(spark).select(*cols).collect())

    _write_slice(spark, log_dir, 0, first)
    _await(_tx_stream(spark, log_dir, state_dir, ckpt, backend))
    after_first = committed()
    batch0 = open_store(state_dir).latest_manifest()["batch_id"]
    _write_slice(spark, log_dir, 1, second)
    _await(_tx_stream(spark, log_dir, state_dir, ckpt, backend))
    # the second batch ran through the fold and committed
    assert open_store(state_dir).latest_manifest()["batch_id"] == batch0 + 1

    one_shot = sorted(
        _update_rows(spark.createDataFrame(first + second, CHANGE_SCHEMA))
        .select(*cols)
        .collect()
    )
    assert committed() == one_shot == after_first
    rows = {r["id"]: r for r in one_shot}
    assert rows[1]["is_deleted"] and rows[1]["content"] is None
    assert (rows[2]["content"], rows[2]["last_seq"]) == ("b2", 6)


def _job_ids(spark, *groups) -> int:
    """The newest Spark job id across ``groups`` (None = no job group).
    Job ids grow monotonically, so a delta of this counts jobs even when
    the status tracker no longer lists old ones."""
    tracker = spark.sparkContext.statusTracker()
    return max([-1, *(j for g in groups for j in tracker.getJobIdsForGroup(g))])


def _pin_slice_order(log_dir, n: int) -> None:
    """Deliver ``slice_000`` .. ``slice_<n-1>`` in name order (the file
    source orders by modification time)."""
    t0 = os.path.getmtime(str(log_dir / "slice_000"))
    for i in range(n):
        d = log_dir / f"slice_{i:03d}"
        for f in os.listdir(str(d)):
            os.utime(str(d / f), (t0 + i, t0 + i))


def _churn_slices(spark, log_dir, n_slices: int, n_keys: int = 64) -> list:
    """Write ``n_slices`` change-log slices, each touching every key:
    updates, a rotating set of deletes and re-inserts, and one LATE event
    per slice (a seq below the previous slice's) that must lose. Returns
    all events."""
    from datetime import datetime

    events = []
    for k in range(n_slices):
        rows = [
            (
                (k + 1) * 1000 + i,
                "DELETE" if (i + k) % 5 == 0 else "UPDATE",
                i,
                None if (i + k) % 5 == 0 else f"v{k}-{i}",
                datetime(2024, 1, 1 + k, 0, 0, i % 60),
            )
            for i in range(n_keys)
        ]
        if k:
            rows.append((k * 1000 - 1, "UPDATE", 1, "late", datetime(2024, 1, 1)))
        _write_slice(spark, log_dir, k, rows)
        events.extend(rows)
    _pin_slice_order(log_dir, n_slices)
    return events


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_tx_sink_runs_one_spark_job_per_micro_batch(spark, tmp_path, backend):
    """Merge-on-read commits: without a TTL, a data micro-batch is ONE
    Spark job — the upstream stateful fold and the delta-file write run
    together, and the commit reads no current state. The replay crosses
    ``MAX_BUCKET_FILES``, so the batch that compacts every bucket counts
    too: its fold runs inside the same job. Counted as the job-id delta
    over the query's job group and ungrouped jobs, the way the benchmark
    counts Spark jobs per batch."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        MAX_BUCKET_FILES,
        open_store,
    )

    n = MAX_BUCKET_FILES + 1
    log_dir = tmp_path / "log"
    _churn_slices(spark, log_dir, n)
    j0 = _job_ids(spark, None)
    q = _tx_stream(
        spark, log_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"), backend
    )
    _await(q)
    data = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data) == n
    assert _job_ids(spark, None, str(q.runId)) - j0 == len(data)
    lists = open_store(str(tmp_path / "state")).latest_manifest()["buckets"]
    assert {len(fl) for fl in lists.values()} == {1}


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_appended_delta_files_read_as_the_fold(spark, tmp_path, backend):
    """A bucket holding N appended delta files (one per micro-batch)
    reads exactly as the copy-on-write fold of the whole log would:
    the raw snapshot, tombstones included, equals the one-shot LWW fold,
    and the live view (`read_tx_snapshot`) equals its live rows."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import open_store

    n = 4
    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    events = _churn_slices(spark, log_dir, n)
    _await(_tx_stream(spark, log_dir, state_dir, str(tmp_path / "ckpt"), backend))
    store = open_store(state_dir)
    assert {len(fl) for fl in store.latest_manifest()["buckets"].values()} == {n}

    cols = ["bucket", "id", "content", "last_seq", "updated_at", "is_deleted"]
    fold = _update_rows(spark.createDataFrame(events, CHANGE_SCHEMA)).select(*cols)
    assert sorted(store.read(spark).select(*cols).collect()) == sorted(fold.collect())
    live = cols[1:-1]
    got = read_tx_snapshot(spark, state_dir).select(*live).collect()
    assert sorted(got) == sorted(
        fold.filter(~F.col("is_deleted")).select(*live).collect()
    )


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_snapshot_read_resolves_without_a_spark_job(spark, tmp_path, backend):
    """Building a snapshot reader runs no Spark job, even when the
    manifest lists more files than Spark's parallel-listing threshold:
    the schema is given (no footer inference job) and the file list is
    read in chunks below the threshold (no listing job). Only the
    action on the folded frame runs jobs."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        TxSnapshotStore,
        bucket_expr,
    )

    cls = TxSnapshotStore if backend == "manifest" else DeltaLogStore
    store = cls(str(tmp_path / "state"), n_buckets=4)
    threshold = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
    )
    n_commits = threshold // 4 + 2
    for k in range(n_commits):  # plain appends: nothing compacts
        rows = spark.createDataFrame(
            [(i, f"v{k}-{i}", k * 100 + i, None, False) for i in range(16)],
            "id long, content string, last_seq long, updated_at timestamp,"
            " is_deleted boolean",
        ).withColumn("bucket", bucket_expr(4))
        store.commit(rows.repartition("bucket"), None, batch_id=k)
    n_files = sum(len(fl) for fl in store.latest_manifest()["buckets"].values())
    assert n_files > threshold
    j0 = _job_ids(spark, None)
    snap = store.read(spark)
    assert _job_ids(spark, None) == j0
    k = n_commits - 1
    assert sorted(r["content"] for r in snap.collect()) == sorted(
        f"v{k}-{i}" for i in range(16)
    )


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_crossing_the_file_cap_compacts_each_bucket_to_one_file(
    spark, tmp_path, backend
):
    """`merge_commit` appends one delta file per touched bucket until a
    bucket's list holds ``MAX_BUCKET_FILES`` files; the next commit
    folds each such bucket's files with its own rows into ONE base
    file, in the same commit. The compacted snapshot is
    the copy-on-write fold of every batch, and the replay-skip frontier
    (``batch_id``) is the new batch's."""
    from functools import reduce

    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        MAX_BUCKET_FILES,
        TxSnapshotStore,
        bucket_expr,
        lww_merge,
        merge_commit,
    )

    cls = TxSnapshotStore if backend == "manifest" else DeltaLogStore
    store = cls(str(tmp_path / "state"), n_buckets=4)

    def batch(k: int):
        return spark.createDataFrame(
            [
                (i, None if (i + k) % 3 == 0 else f"v{k}-{i}", k * 100 + i, None,
                 (i + k) % 3 == 0)
                for i in range(16)
            ],
            "id long, content string, last_seq long, updated_at timestamp,"
            " is_deleted boolean",
        )

    for k in range(MAX_BUCKET_FILES):
        merge_commit(store, spark, batch(k), batch_id=k)
    full = store.latest_manifest()
    assert len(full["buckets"]) == 4
    assert {len(fl) for fl in full["buckets"].values()} == {MAX_BUCKET_FILES}

    k = MAX_BUCKET_FILES
    merge_commit(store, spark, batch(k), batch_id=k)
    m = store.latest_manifest()
    assert m["version"] == full["version"] + 1
    assert m["batch_id"] == k
    assert {len(fl) for fl in m["buckets"].values()} == {1}
    # the base files are folded: one row per key, superseded rows gone
    files = [os.path.join(store.state_dir, f) for fl in m["buckets"].values() for f in fl]
    assert spark.read.parquet(*files).count() == 16
    cols = ["bucket", "id", "content", "last_seq", "updated_at", "is_deleted"]
    every = reduce(lambda a, b: a.unionByName(b), [batch(j) for j in range(k + 1)])
    fold = lww_merge(every.withColumn("bucket", bucket_expr(4))).select(*cols)
    compacted = sorted(store.read(spark).select(*cols).collect())
    assert compacted == sorted(fold.collect())
    assert sorted(r["content"] for r in compacted if not r["is_deleted"]) == sorted(
        f"v{k}-{i}" for i in range(16) if (i + k) % 3
    )


def test_rate_source_cdc_replay_matches_closed_form(spark, tmp_path):
    """The LWW fold is source-agnostic: drive `materialize_with_state`
    from a CONTINUOUS rate-generated change stream (the Kafka/Debezium
    stand-in, no files anywhere) and assert the folded state matches the
    closed form the generator implies. `rate_change_stream` makes every
    event a pure function of the rate source's `value`, so for each key
    k the final state must be exactly the max-seq event for k among the
    processed prefix — same fold code as the file-driven tests, zero
    file dependency."""
    import time

    from cdc_cloudrun_demo_spark.sources import rate_change_stream

    n_keys = 10
    changes = rate_change_stream(spark, rows_per_batch=200, n_keys=n_keys)
    updates = materialize_with_state(changes)
    q = (
        updates.writeStream.format("memory")
        .queryName("rate_cdc_updates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        deadline = time.time() + 120
        # wait for >= 2 committed micro-batches (each batch updates every key)
        while time.time() < deadline:
            if spark.table("rate_cdc_updates").count() >= 2 * n_keys:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    out = spark.table("rate_cdc_updates")
    final = (
        out.groupBy("id")
        .agg(
            F.max("last_seq").alias("last_seq"),
            F.max_by("content", "last_seq").alias("content"),
            F.max_by("is_deleted", "last_seq").alias("is_deleted"),
        )
        .collect()
    )
    assert {r["id"] for r in final} == set(range(n_keys))
    for r in final:
        v = r["last_seq"]
        assert v % n_keys == r["id"]
        assert v >= 200 - n_keys, "fewer than one full batch folded"
        if v % 7 == 3:
            assert r["is_deleted"] and r["content"] is None
        else:
            assert not r["is_deleted"] and r["content"] == f"v-{v}"


@pytest.mark.parametrize("n_slices", [1, 7])
def test_slicing_invariance(spark, sf_smoke, tmp_path, n_slices):
    """Final state is independent of how the log is micro-batched."""
    log_dir = str(tmp_path / f"log_{n_slices}")
    state_dir = str(tmp_path / f"state_{n_slices}")
    ckpt = str(tmp_path / f"ckpt_{n_slices}")
    _write_change_log_files(spark, sf_smoke, log_dir, n_slices=n_slices)
    _tx_materialize(spark, os.path.join(log_dir, "slice_*"), state_dir, ckpt)
    assert _tx_state(spark, state_dir) == _expected_state(spark, sf_smoke)


def test_streaming_drop_duplicates_matches_batch(spark, sf_smoke, tmp_path):
    """State-backed streaming dedup: replay the change log TWICE through a
    file stream (1 file per micro-batch) with dropDuplicates on the
    logical key — every record must be emitted exactly once even when its
    duplicate arrives in a later micro-batch (cross-batch state, unlike a
    per-batch distinct). This is the streaming twin of dedup_exact; at
    scale the state store bounds memory via watermark-scoped retention
    (dropDuplicatesWithinWatermark)."""
    changes = message_changes_df(spark, sf_smoke)
    src = str(tmp_path / "dups")
    changes.coalesce(1).write.mode("append").parquet(src)
    changes.coalesce(1).write.mode("append").parquet(src)  # full replay
    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.dropDuplicates(["id", "seq"])
        .writeStream.format("memory")
        .queryName("dedup_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("dedup_stream_sink").count()
    assert got == changes.count(), f"{got} != {changes.count()}"


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke, tmp_path):
    """The purchase→click attribution join, replayed as two file streams
    (time-ordered slices, 1 file per micro-batch), must emit exactly the
    batch join's result set — the interval condition + watermarks only
    bound state, never change inner-join semantics for in-order input."""
    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.streaming.event_windows import (
        interval_join_attribution,
    )

    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "slices")
    # 4 time-ordered slices so the watermark advances monotonically
    sliced = events.orderBy("ts").withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts"))
    )
    for i in range(1, 5):
        sliced.filter(F.col("slice") == i).drop("slice").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    expected = {
        (r["click_id"], r["purchase_id"])
        for r in interval_join_attribution(*sides(events)).collect()
    }
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        interval_join_attribution(*sides(stream))
        .writeStream.format("memory")
        .queryName("attribution_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.table("attribution_sink").collect()
    }
    assert got == expected and len(expected) > 0, (
        f"stream={len(got)} batch={len(expected)}"
    )


def test_stream_stream_left_outer_join_watermark_semantics(spark, sf_smoke, tmp_path):
    """Left-outer stream-stream join: matched rows must equal the batch
    join exactly; NULL (unmatched) rows may only emit once the watermark
    closes a click's join window, so every batch-unmatched click safely
    older than max_ts - horizon - watermark-delay must appear, and no
    stream null row may contradict the batch result."""
    from cdc_cloudrun_demo_spark.catalog import load_table

    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "slices")
    sliced = events.orderBy("ts").withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts"))
    )
    for i in range(1, 5):
        sliced.filter(F.col("slice") == i).drop("slice").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def join(df):
        c = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_uid"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        ).withWatermark("click_ts", "1 hour")
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_uid"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        ).withWatermark("purchase_ts", "1 hour")
        return c.join(
            p,
            (F.col("c_uid") == F.col("p_uid"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
            "left_outer",
        )

    batch = join(events).collect()
    batch_matched = {(r["click_id"], r["purchase_id"]) for r in batch if r["purchase_id"] is not None}
    batch_unmatched = {r["click_id"] for r in batch if r["purchase_id"] is None}

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        join(stream)
        .writeStream.format("memory")
        .queryName("louter_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("louter_sink").collect()
    got_matched = {(r["click_id"], r["purchase_id"]) for r in got if r["purchase_id"] is not None}
    got_null = {r["click_id"] for r in got if r["purchase_id"] is None}

    assert got_matched == batch_matched
    # null rows never contradict batch
    assert got_null <= batch_unmatched, got_null - batch_unmatched
    # clicks whose window closed well before end-of-stream must have emitted
    import datetime

    # the global watermark is the MIN across both inputs (each max_ts - 1h
    # delay); a click emits null only once watermark > click_ts + 2h horizon
    side_max = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .collect()
    )
    final_wm = min(r["m"] for r in side_max) - datetime.timedelta(hours=1)
    cutoff = final_wm - datetime.timedelta(hours=2, minutes=10)  # horizon + margin
    must_emit = {
        r["click_id"]
        for r in join(events).collect()
        if r["purchase_id"] is None and r["click_ts"] < cutoff
    }
    assert must_emit <= got_null, f"missing {len(must_emit - got_null)} closed-window nulls"


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_tx_sink_rejects_concurrent_commit(spark, tmp_path, backend):
    """The commit publish is a compare-and-swap: if another writer
    already published the version this commit computed, the commit must
    fail LOUDLY (single-writer contract), never silently overwrite the
    winner's commit — the lost-update failure rename-based publishing
    would allow. Delta backend: the rogue owns log version 1
    (= snapshot v2); the spec's put-if-absent of the version file is the
    same CAS."""
    import json as _json

    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import TxSnapshotStore

    cls = TxSnapshotStore if backend == "manifest" else DeltaLogStore
    store = cls(str(tmp_path / "state"))
    df = spark.createDataFrame(
        [(0, 1, "a", 1, None, False)],
        "bucket int, id long, content string, last_seq long, "
        "updated_at timestamp, is_deleted boolean",
    ).select("bucket", "id", "content", "last_seq", "updated_at", "is_deleted")
    store.commit(df, [0], batch_id=0)
    # a rogue second writer publishes snapshot v2 behind our back
    if backend == "manifest":
        os.makedirs(store.manifest_dir, exist_ok=True)
        rogue = {"version": 2, "batch_id": 99, "buckets": {}}
        rogue_path = os.path.join(store.manifest_dir, "v2.json")
        with open(rogue_path, "w") as fh:
            _json.dump(rogue, fh)
    else:
        # the rogue committed a DATA file too — the loser must not
        # destroy it (a predicted-name cleanup/overwrite would, since
        # both writers compute the same version number)
        rogue_data_rel = f"bucket=0/part-{1:020d}-00000-r0gue.snappy.parquet"
        rogue_data = os.path.join(store.state_dir, rogue_data_rel)
        os.makedirs(os.path.dirname(rogue_data), exist_ok=True)
        with open(rogue_data, "wb") as fh:
            fh.write(b"winner's committed bytes")
        rogue_path = os.path.join(store.log_dir, f"{1:020d}.json")
        with open(rogue_path, "w") as fh:
            fh.write(_json.dumps({"txn": {"appId": "rogue", "version": 99}}) + "\n")
            fh.write(
                _json.dumps(
                    {
                        "add": {
                            "path": rogue_data_rel,
                            "partitionValues": {"bucket": "0"},
                            "size": 24,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )
    rogue_bytes = open(rogue_path, "rb").read()
    with pytest.raises(RuntimeError, match="concurrent commit"):
        # Simulate the true race: we compute v2 ourselves from the v1
        # snapshot while the rogue already owns v2.
        prev = store.manifest(1)
        store_race = cls(str(tmp_path / "state"))
        # force the racing writer's view of "latest" to v1
        import unittest.mock as mock

        with mock.patch.object(store_race, "latest_manifest", return_value=prev):
            store_race.commit(df, [0], batch_id=1)
    # the rogue's commit survived untouched (no silent overwrite)
    assert open(rogue_path, "rb").read() == rogue_bytes
    if backend == "delta":
        # ... including its committed DATA file, byte for byte, and the
        # loser reclaimed its own staged files on the way out
        assert open(rogue_data, "rb").read() == b"winner's committed bytes"
        leftovers = [
            f
            for f in os.listdir(os.path.dirname(rogue_data))
            if f.endswith(".parquet") and "r0gue" not in f and "-00000000000000000001-" in f
        ]
        assert leftovers == [], f"loser left staged files: {leftovers}"


def test_scd2_live_converges_under_reversed_slice_order(spark, sf_smoke, tmp_path):
    """The SCD2 stream's core claim (cdc_stream.py::_scd2_state_fn):
    interval reconstruction is insensitive to arrival order ACROSS
    micro-batches. Replay the change log sliced so the HIGHEST seqs
    arrive first (each slice one micro-batch) — every interval-closing
    decision that trusted arrival order would be wrong — and assert the
    converged history equals the batch window-pass exactly."""
    from cdc_cloudrun_demo_spark.operators.cdc import cdc_scd2_history
    from cdc_cloudrun_demo_spark.streaming.cdc_stream import (
        CHANGE_SCHEMA,
        scd2_with_state,
    )

    changes = message_changes_df(spark, sf_smoke).orderBy(F.desc("seq"))
    rows = changes.collect()
    n_slices, per = 4, (len(rows) + 3) // 4
    log_dir = tmp_path / "log"
    for i in range(n_slices):
        chunk = rows[i * per : (i + 1) * per]  # slice_000 = highest seqs
        if chunk:
            spark.createDataFrame(chunk, schema=changes.schema).coalesce(
                1
            ).write.mode("overwrite").parquet(str(log_dir / f"slice_{i:03d}"))

    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir / "slice_*"))
    )
    out = str(tmp_path / "out")
    q = (
        scd2_with_state(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    raw = spark.read.schema(
        "id long, content string, valid_from_seq long, valid_to_seq long,"
        " is_current boolean, n_changes long"
    ).parquet(out)
    w = Window.partitionBy("id")
    got = {
        (r["id"], r["valid_from_seq"]): (
            r["content"],
            r["valid_to_seq"],
            r["is_current"],
        )
        for r in raw.withColumn("mx", F.max("n_changes").over(w))
        .filter(F.col("n_changes") == F.col("mx"))
        .collect()
    }
    want = {
        (r["id"], r["valid_from_seq"]): (
            r["content"],
            r["valid_to_seq"],
            r["is_current"],
        )
        for r in cdc_scd2_history(spark, sf_smoke).collect()
    }
    assert got == want


def test_delta_crashed_attempt_orphans_invisible_until_vacuum(spark, tmp_path):
    """A crash AFTER a Delta commit's data files moved into the table but
    BEFORE the log version published leaves orphan part files no log
    version references. Data-file names are globally unique (version +
    attempt token), so the retry NEVER deletes or overwrites a
    pre-existing file — deleting by predicted name is exactly how a
    racing loser would destroy a winner's committed data. The orphan
    stays invisible to every reader and is reclaimed by gc's vacuum."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore

    store = DeltaLogStore(str(tmp_path / "t"))
    schema = (
        "bucket int, id long, content string, last_seq long,"
        " updated_at timestamp, is_deleted boolean"
    )

    def df(rows):
        return spark.createDataFrame(rows, schema).select(
            "bucket", "id", "content", "last_seq", "updated_at", "is_deleted"
        )

    store.commit(df([(0, 1, "a", 1, None, False)]), [0], batch_id=0)

    # forge a crashed attempt at delta version 1: files moved, log absent
    part_dir = os.path.join(store.state_dir, "bucket=0")
    orphan = os.path.join(part_dir, f"part-{1:020d}-00000-deadbeef.snappy.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"torn garbage, not parquet")
    # reader is unaffected: no log version references the orphan
    assert {r["id"] for r in store.read(spark).collect()} == {1}

    # the retry commits version 1 for real under fresh unique names,
    # touching nothing already on disk (the orphan included)
    store.commit(df([(0, 1, "b", 2, None, False)]), [0], batch_id=1)
    assert os.path.exists(orphan), "commit must never remove pre-existing files"
    snap = {r["id"]: r["content"] for r in store.read(spark).collect()}
    assert snap == {1: "b"}
    # vacuum reclaims exactly the unreferenced orphan; both retained
    # snapshots stay whole and readable
    assert store.gc(retain_versions=2) == 1
    assert not os.path.exists(orphan)
    assert {r["content"] for r in store.read(spark, 1).collect()} == {"a"}
    assert {r["content"] for r in store.read(spark, 2).collect()} == {"b"}


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_tombstone_gc_replay_safe(spark, tmp_path, backend):
    """Watermark-gated tombstone compaction (SURVEY §7's "state growth
    (tombstone TTL)" item): fold batches including a delete, compact
    tombstones at the watermark, then prove a dropped key CANNOT be
    resurrected — (a) a replayed old batch is dropped by the
    exactly-once batch_id skip, whose frontier the compaction commit
    preserves; (b) late data is excluded by the watermark contract; and
    a genuinely NEW batch above the watermark still folds correctly
    afterward, including a legitimate re-insert of the deleted key with
    a newer seq (that's LWW, not resurrection). Parametrized over both
    commit protocols."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        compact,
        compact_tombstones,
        open_store,
        read_tx_snapshot,
        tx_snapshot_sink,
    )

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(log_dir / "slice_*"))
        )
        q = tx_snapshot_sink(
            materialize_with_state(stream), state_dir, ckpt, backend=backend
        )
        assert q.awaitTermination(120)

    spark.createDataFrame(_tx_rows_phase1(), CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_000"))
    run_stream()
    spark.createDataFrame(_tx_rows_phase2(), CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_001"))
    run_stream()

    store = open_store(state_dir)
    m_before = store.latest_manifest()
    live_before = {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    }
    assert live_before == _tx_want_final()
    raw = store.read(spark)
    assert raw.filter(F.col("is_deleted")).count() == 1  # key 3's tombstone

    # compact at the source watermark: every folded seq <= 1009
    assert compact_tombstones(store, spark, horizon_seq=1009) == 1
    m_after = store.latest_manifest()
    assert m_after["version"] == m_before["version"] + 1  # a real commit
    assert m_after["batch_id"] == m_before["batch_id"], (
        "compaction must preserve the replay-skip frontier"
    )
    raw = store.read(spark)
    assert raw.filter(F.col("is_deleted")).count() == 0, "tombstone not dropped"
    assert {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    } == live_before, "compaction altered live rows"
    # idempotent: nothing left behind the watermark
    assert compact_tombstones(store, spark, horizon_seq=1009) == 0

    # replay: erase the checkpoint's commit marker so Spark re-fires the
    # last committed batch — the sink must skip it (batch_id frontier),
    # so the dropped key stays dead and the version doesn't move
    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if not f.startswith(".")), key=int)
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_stream()
    assert store.latest_manifest()["version"] == m_after["version"], (
        "replayed batch must not re-commit"
    )
    assert 3 not in {
        r["id"] for r in read_tx_snapshot(spark, state_dir).collect()
    }, "replay resurrected a compacted key"

    # a NEW batch above the watermark still folds: re-insert the deleted
    # key (legitimate — newer seq beats the already-dropped tombstone by
    # absence) and delete another key (fresh tombstone, above horizon)
    from datetime import datetime

    rows3 = [
        (2000, "INSERT", 3, "reborn-3", datetime(2024, 1, 3, 0, 0, 0)),
        (2001, "DELETE", 7, None, datetime(2024, 1, 3, 0, 0, 1)),
    ]
    spark.createDataFrame(rows3, CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(log_dir / "slice_002"))
    run_stream()
    live = {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    }
    want = dict(live_before)
    want[3] = "reborn-3"
    del want[7]
    assert live == want
    # the fresh tombstone (seq 2001 > old horizon) is retained...
    raw = store.read(spark)
    assert raw.filter(F.col("is_deleted")).count() == 1
    # ...until the watermark passes it
    assert compact_tombstones(store, spark, horizon_seq=2001) == 1
    assert store.read(spark).filter(F.col("is_deleted")).count() == 0
    # vacuum after compaction: superseded generations reclaimed, state
    # intact. Commits only append, so fold every bucket into one base
    # file first; every earlier generation is then superseded
    compact(store, spark, [int(b) for b in store.latest_manifest()["buckets"]])
    assert store.gc() >= 1
    assert {
        r["id"]: r["content"] for r in read_tx_snapshot(spark, state_dir).collect()
    } == want


@pytest.mark.parametrize("backend", ["manifest", "delta"])
def test_tombstone_compaction_folds_only_buckets_holding_one(
    spark, tmp_path, backend
):
    """`compact_tombstones` finds its buckets with a narrow scan of the
    raw files: a bucket whose files hold no tombstone at or below the
    horizon is neither folded nor rewritten (its file list carries over
    verbatim), while a bucket holding one — even one already superseded
    by a re-insert — is folded into one base file. The count is taken
    in the folded view, so the superseded tombstone does not count."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        TxSnapshotStore,
        bucket_expr,
        compact_tombstones,
        merge_commit,
    )

    cls = TxSnapshotStore if backend == "manifest" else DeltaLogStore
    store = cls(str(tmp_path / "state"), n_buckets=4)
    schema = (
        "id long, content string, last_seq long, updated_at timestamp,"
        " is_deleted boolean"
    )
    ids = list(range(32))
    bucket = {
        r["id"]: r["b"]
        for r in spark.createDataFrame([(i,) for i in ids], "id long")
        .select("id", bucket_expr(4).alias("b"))
        .collect()
    }
    dead = ids[0]  # tombstoned, then left dead
    back = next(i for i in ids if bucket[i] != bucket[dead])  # deleted, re-inserted
    quiet = sorted(set(bucket.values()) - {bucket[dead], bucket[back]})
    assert quiet, "fixture needs a bucket without tombstones"
    merge_commit(
        store, spark,
        spark.createDataFrame([(i, f"v{i}", 10 + i, None, False) for i in ids], schema),
        batch_id=0,
    )
    merge_commit(
        store, spark,
        spark.createDataFrame(
            [(dead, None, 100, None, True), (back, None, 101, None, True)], schema
        ),
        batch_id=1,
    )
    merge_commit(
        store, spark,
        spark.createDataFrame([(back, "again", 102, None, False)], schema),
        batch_id=2,
    )
    before = store.latest_manifest()
    assert compact_tombstones(store, spark, horizon_seq=102) == 1
    after = store.latest_manifest()
    assert after["version"] == before["version"] + 1
    for b in quiet:
        assert after["buckets"][str(b)] == before["buckets"][str(b)]
    for b in {bucket[dead], bucket[back]}:
        assert len(after["buckets"][str(b)]) == 1
    rows = {r["id"]: (r["content"], r["is_deleted"]) for r in store.read(spark).collect()}
    assert dead not in rows and rows[back] == ("again", False)
    assert len(rows) == len(ids) - 1
    # nothing left at or below the horizon: no further commit
    assert compact_tombstones(store, spark, horizon_seq=102) == 0
    assert store.latest_manifest()["version"] == after["version"]


def test_delta_optimize_folds_superseded_rows(spark, tmp_path):
    """OPTIMIZE is the store's one compaction path (`tx_snapshot.compact`):
    it folds a bucket's files, so superseded rows are gone from the
    rewritten files, while the folded snapshot is unchanged and the
    change feed emits nothing for the OPTIMIZE version."""
    import pyarrow.parquet as pq

    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import merge_commit

    store = DeltaLogStore(str(tmp_path / "table"), n_buckets=4)
    schema = (
        "id long, content string, last_seq long, updated_at timestamp,"
        " is_deleted boolean"
    )
    merge_commit(
        store, spark,
        spark.createDataFrame([(i, f"a{i}", 1, None, False) for i in range(40)], schema),
        batch_id=0,
    )
    merge_commit(
        store, spark,
        spark.createDataFrame(
            [(i, f"b{i}", 2, None, i % 4 == 0) for i in range(0, 40, 2)], schema
        ),
        batch_id=1,
    )
    m1 = store.latest_manifest()
    before = sorted(tuple(r) for r in store.read(spark).collect())
    assert store.optimize(spark) == sum(len(fl) for fl in m1["buckets"].values())
    m2 = store.latest_manifest()
    assert all(len(fl) == 1 for fl in m2["buckets"].values())
    assert sorted(tuple(r) for r in store.read(spark).collect()) == before
    n_file_rows = sum(
        pq.ParquetFile(str(tmp_path / "table" / f)).metadata.num_rows
        for fl in m2["buckets"].values()
        for f in fl
    )
    assert n_file_rows == 40  # one row per key: superseded rows dropped
    assert store.change_feed(spark, from_version=m1["version"]).count() == 0


def test_delta_optimize_compacts(spark, tmp_path):
    """OPTIMIZE: a fragmented commit (8 parts per bucket) is bin-packed
    to one file per bucket by a log version whose remove+add actions
    carry dataChange:false; content is unchanged, the pre-OPTIMIZE
    version stays time-travelable, a second OPTIMIZE is a no-op, and
    vacuum reclaims exactly the superseded fragments."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import bucket_expr

    store = DeltaLogStore(str(tmp_path / "table"), n_buckets=4)
    rows = [(i, f"c{i}", 1, None, False) for i in range(64)]
    base = (
        spark.createDataFrame(
            rows,
            "id long, content string, last_seq long,"
            " updated_at timestamp, is_deleted boolean",
        )
        .withColumn("bucket", bucket_expr(4))
        .repartition(8)
    )
    store.commit(base, [0, 1, 2, 3], batch_id=0)
    m1 = store.latest_manifest()
    frag_files = sum(len(fl) for fl in m1["buckets"].values())
    assert frag_files > 4, "fixture failed to fragment"
    before = {(r["id"], r["content"]) for r in store.read(spark).collect()}

    removed = store.optimize(spark)
    assert removed == frag_files
    m2 = store.latest_manifest()
    assert m2["version"] == m1["version"] + 1
    assert all(len(fl) == 1 for fl in m2["buckets"].values())
    assert {(r["id"], r["content"]) for r in store.read(spark).collect()} == before
    # the swap is flagged as data-invisible, per the protocol
    import json as _json

    log = open(
        str(tmp_path / "table" / "_delta_log" / f"{m1['version']:020d}.json")
    ).read()
    acts = [_json.loads(line) for line in log.splitlines() if line.strip()]
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    ) and all(not a["remove"]["dataChange"] for a in acts if "remove" in a)
    # pre-OPTIMIZE snapshot still time travels
    assert {
        (r["id"], r["content"]) for r in store.read(spark, m1["version"]).collect()
    } == before
    # idempotent; vacuum reclaims exactly the fragments
    assert store.optimize(spark) == 0
    assert store.gc() == frag_files
    assert {(r["id"], r["content"]) for r in store.read(spark).collect()} == before


def test_change_feed_transitions(spark, tmp_path):
    """CDF semantics over the LWW store's full transition matrix:
    version 1 emits pure inserts (diff against the pre-table void), a
    tombstone flip reads as delete (preimage values), a tombstone
    RESURRECTION reads as insert, value changes emit pre+post image
    pairs, an arriving tombstone for a never-seen key emits nothing
    (no live change), and an empty version range returns an empty,
    correctly-typed frame."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import bucket_expr, lww_merge

    store = DeltaLogStore(str(tmp_path / "table"), n_buckets=2)
    schema = (
        "id long, content string, last_seq long,"
        " updated_at timestamp, is_deleted boolean"
    )

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "bucket", bucket_expr(2)
        )

    # v1: keys 1 (live), 2 (live), 3 (tombstone on arrival)
    store.commit(df([(1, "a", 1, None, False), (2, "b", 1, None, False),
                     (3, None, 1, None, True)]), [0, 1], batch_id=0)
    # v2: key 1 updated, key 2 deleted, key 3 resurrected, key 4 inserted
    upd = df([(1, "a2", 2, None, False), (2, "b", 2, None, True),
              (3, "back", 2, None, False), (4, "new", 2, None, False)])
    cur = store.read(spark, 1)
    store.commit(lww_merge(cur.unionByName(upd)), [0, 1], batch_id=1)

    feed = {
        (r["version"], r["change_type"], r["id"]): (r["content"], r["last_seq"])
        for r in store.change_feed(spark, from_version=0).collect()
    }
    # v1: only the LIVE keys insert; the arrival-tombstone key 3 is silent
    assert feed[(1, "insert", 1)] == ("a", 1)
    assert feed[(1, "insert", 2)] == ("b", 1)
    assert (1, "insert", 3) not in feed and (1, "delete", 3) not in feed
    # v2: the full matrix
    assert feed[(2, "update_preimage", 1)] == ("a", 1)
    assert feed[(2, "update_postimage", 1)] == ("a2", 2)
    assert feed[(2, "delete", 2)] == ("b", 1)  # preimage values
    assert feed[(2, "insert", 3)] == ("back", 2)  # resurrection
    assert feed[(2, "insert", 4)] == ("new", 2)
    assert len(feed) == 7
    # empty range: typed empty frame
    empty = store.change_feed(spark, from_version=2)
    assert empty.count() == 0
    assert set(empty.columns) == {"version", "change_type", "id", "content",
                                  "last_seq"}


def test_live_ttl_lag_blocks_late_resurrection(spark, tmp_path):
    """Live TTL with a LAG: the sink compacts only tombstones older than
    frontier - ttl, so a late batch (within the ttl window) carrying a
    lower seq for a deleted key must still LOSE the LWW merge against
    the retained tombstone; once the frontier advances past the window,
    the tombstone is dropped automatically. This is the out-of-order
    half of the live retention contract (cdc_materialize_ttl_live's
    in-order ttl=0 shape is hash-proven by the driver)."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import (
        open_store,
        read_tx_snapshot,
        tx_snapshot_sink,
    )
    from datetime import datetime

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(log_dir / "slice_*"))
        )
        q = tx_snapshot_sink(
            materialize_with_state(stream), state_dir, ckpt,
            tombstone_ttl_seqs=5,
        )
        assert q.awaitTermination(120)

    ts = datetime(2024, 1, 1)
    # batch A: insert keys 1,2 then delete key 1 at seq 10 (frontier 10,
    # horizon 5 → the tombstone at 10 survives compaction)
    spark.createDataFrame(
        [(1, "INSERT", 1, "one", ts), (2, "INSERT", 2, "two", ts),
         (10, "DELETE", 1, None, ts)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(log_dir / "slice_000"))
    run_stream()
    store = open_store(state_dir)
    assert store.read(spark).filter(F.col("is_deleted")).count() == 1

    # batch B: LATE update for key 1 at seq 8 (< 10, within ttl) — the
    # retained tombstone must outvote it; frontier stays 10
    spark.createDataFrame(
        [(8, "UPDATE", 1, "late-loser", ts)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(log_dir / "slice_001"))
    run_stream()
    assert 1 not in {
        r["id"] for r in read_tx_snapshot(spark, state_dir).collect()
    }, "late update resurrected a deleted key"
    assert store.read(spark).filter(F.col("is_deleted")).count() == 1

    # batch C: frontier advances to 20 → horizon 15 > 10 → the tombstone
    # is compacted automatically, live state unchanged
    spark.createDataFrame(
        [(20, "UPDATE", 2, "two-v2", ts)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(log_dir / "slice_002"))
    run_stream()
    assert store.read(spark).filter(F.col("is_deleted")).count() == 0
    assert {
        (r["id"], r["content"])
        for r in read_tx_snapshot(spark, state_dir).collect()
    } == {(2, "two-v2")}


def test_live_ttl_guard_rejects_out_of_order_batch(spark, tmp_path):
    """The watermark CONTRACT is enforced, not assumed (round-8 advice):
    if a micro-batch arrives carrying a seq at or below the
    already-compacted horizon — i.e. the source broke its "no update
    more than ttl seqs late" promise — the sink must fail LOUDLY before
    committing, because the tombstone that should suppress the late row
    is already physically gone and the merge could silently resurrect a
    deleted key."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import tx_snapshot_sink
    from datetime import datetime

    log_dir = tmp_path / "log"
    ts = datetime(2024, 1, 1)
    # slice A: high seqs, including a delete at 10 → with ttl=0 the
    # tombstone is compacted the moment it commits (frontier 10)
    spark.createDataFrame(
        [(9, "INSERT", 1, "one", ts), (10, "DELETE", 1, None, ts)],
        CHANGE_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(str(log_dir / "slice_000"))
    # slice B: a LATE batch below the compacted horizon — contract broken
    spark.createDataFrame(
        [(1, "UPDATE", 1, "resurrect-me", ts)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(log_dir / "slice_001"))
    # pin delivery order A → B via mtime (FileStreamSource's order)
    t0 = os.path.getmtime(str(log_dir / "slice_000"))
    for i, d in enumerate(["slice_000", "slice_001"]):
        for f in os.listdir(str(log_dir / d)):
            os.utime(str(log_dir / d / f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir / "slice_*"))
    )
    q = tx_snapshot_sink(
        materialize_with_state(stream),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        tombstone_ttl_seqs=0,
    )
    with pytest.raises(Exception, match="TTL contract violated"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_change_feed_errors_past_retention(spark, tmp_path):
    """After log retention, a change_feed range needing a snapshot older
    than the retained log must ERROR (real Delta CDF behavior), never
    silently diff against the void and fabricate whole-bucket inserts
    for what were updates/deletes (round-8 advice)."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import bucket_expr, lww_merge

    store = DeltaLogStore(str(tmp_path / "table"), n_buckets=2)
    schema = (
        "id long, content string, last_seq long,"
        " updated_at timestamp, is_deleted boolean"
    )

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "bucket", bucket_expr(2)
        )

    store.commit(df([(1, "a", 1, None, False)]), [0, 1], batch_id=0)
    cur = store.read(spark, 1)
    store.commit(
        lww_merge(cur.unionByName(df([(1, "a2", 2, None, False)]))),
        [0, 1],
        batch_id=1,
    )
    cur = store.read(spark, 2)
    store.commit(
        lww_merge(cur.unionByName(df([(2, "b", 3, None, False)]))),
        [0, 1],
        batch_id=2,
    )
    store.gc(retain_versions=1)  # only v3 readable now
    assert store.versions() == [3]
    with pytest.raises(ValueError, match="oldest retained log version"):
        store.change_feed(spark, from_version=1)
    with pytest.raises(ValueError, match="oldest retained log version"):
        store.change_feed(spark, from_version=0)
    # an empty in-retention range still works
    assert store.change_feed(spark, from_version=3).count() == 0


def test_change_feed_null_content_update(spark, tmp_path):
    """A row differing only by NULL-vs-non-NULL content must read as an
    update: the diff uses eqNullSafe, not `!=` (which yields NULL there
    and silently drops the row — round-8 advice). Pinned with the
    last_seq held CONSTANT so nothing else can mask the content flip."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import bucket_expr

    store = DeltaLogStore(str(tmp_path / "table"), n_buckets=2)
    schema = (
        "id long, content string, last_seq long,"
        " updated_at timestamp, is_deleted boolean"
    )

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "bucket", bucket_expr(2)
        )

    store.commit(df([(1, None, 1, None, False)]), [0, 1], batch_id=0)
    # a rewrite, not an append: two rows of one key at one last_seq would
    # leave the fold's winner undefined
    store.commit(
        df([(1, "now-set", 1, None, False)]), [0, 1], batch_id=1,
        replace_all_touched=True,
    )
    feed = {
        (r["change_type"]): (r["content"])
        for r in store.change_feed(spark, from_version=1).collect()
    }
    assert feed == {"update_preimage": None, "update_postimage": "now-set"}


def test_disk_memoized_concurrent_first_miss_builds_once(spark, tmp_path):
    """Two threads missing the memo for the SAME key must not both run
    build() and interleave writes at the deterministic path: builds are
    serialized per key, land via temp + atomic rename, and the cache
    insert happens only after the publish (round-8 advice)."""
    import threading
    from collections import OrderedDict

    from cdc_cloudrun_demo_spark.functions.similarity import _disk_memoized

    cache: OrderedDict = OrderedDict()
    n_builds = {"n": 0}
    lock = threading.Lock()

    def build():
        with lock:
            n_builds["n"] += 1
        return spark.range(100).withColumnRenamed("id", "v")

    results, errs = [], []

    def worker():
        try:
            df = _disk_memoized(
                spark, cache, ("k", "fp"), "fp", "test_memo_", build
            )
            results.append(sorted(r["v"] for r in df.collect()))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert n_builds["n"] == 1, "concurrent first-misses must share one build"
    assert all(r == list(range(100)) for r in results) and len(results) == 4


def test_delta_optimize_zorder(spark, tmp_path):
    """OPTIMIZE ZORDER: a randomly-fragmented commit is rewritten into
    z-range files clustered by the Morton key of (id, last_seq); real
    parquet FOOTER stats must then prune strictly more files for a
    range predicate on either clustering column than the fragmented
    layout could; content is bit-identical, every rewrite action
    carries dataChange:false, pre-rewrite time travel works, and the
    change feed emits nothing for the rewrite version."""
    import json as _json

    import pyarrow.parquet as pq

    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import bucket_expr

    n = 2048
    store = DeltaLogStore(str(tmp_path / "table"), n_buckets=4)
    # second dimension decorrelated from id so the z-key is genuinely 2-D
    rows = [(i, f"c{i % 7}", (i * 997) % n, None, False) for i in range(n)]
    base = (
        spark.createDataFrame(
            rows,
            "id long, content string, last_seq long,"
            " updated_at timestamp, is_deleted boolean",
        )
        .withColumn("bucket", bucket_expr(4))
        .repartition(8)  # random fragmentation: files span the id range
    )
    store.commit(base, [0, 1, 2, 3], batch_id=0)
    m1 = store.latest_manifest()
    before = {tuple(r) for r in store.read(spark).collect()}

    def pruned_fraction(manifest, col, lo, hi):
        files = [
            f for fl in manifest["buckets"].values() for f in fl
        ]
        pruned = 0
        for f in files:
            md = pq.ParquetFile(str(tmp_path / "table" / f)).metadata
            idx = md.schema.names.index(col)
            mn = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            mx = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if mx < lo or mn > hi:
                pruned += 1
        return pruned / len(files), len(files)

    lo, hi = n // 2, n // 2 + n // 10  # a ~10% range probe
    pre_id, n_pre = pruned_fraction(m1, "id", lo, hi)
    pre_seq, _ = pruned_fraction(m1, "last_seq", lo, hi)

    removed = store.optimize_zorder(spark)
    assert removed == sum(len(fl) for fl in m1["buckets"].values())
    m2 = store.latest_manifest()
    assert m2["version"] == m1["version"] + 1
    post_id, n_post = pruned_fraction(m2, "id", lo, hi)
    post_seq, _ = pruned_fraction(m2, "last_seq", lo, hi)
    # the fragmented random layout prunes ~nothing; z-range files must
    # skip most of the table on BOTH clustering dimensions
    assert post_id > pre_id and post_id >= 0.5, (pre_id, post_id, n_post)
    assert post_seq > pre_seq and post_seq >= 0.25, (pre_seq, post_seq)

    # content invisibility + protocol flags + time travel + silent CDF
    assert {tuple(r) for r in store.read(spark).collect()} == before
    log = open(
        str(tmp_path / "table" / "_delta_log" / f"{m1['version']:020d}.json")
    ).read()
    acts = [_json.loads(line) for line in log.splitlines() if line.strip()]
    assert acts and all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    ) and all(not a["remove"]["dataChange"] for a in acts if "remove" in a)
    assert {
        tuple(r) for r in store.read(spark, m1["version"]).collect()
    } == before
    assert (
        store.change_feed(spark, from_version=m1["version"]).count() == 0
    )


def test_disk_memoized_eviction_grace(spark):
    """LRU eviction of the on-disk memo must give evicted subdirs ONE
    eviction generation of grace before deleting them (a concurrent
    reader's lazy DataFrame holds only the path — round-8 advice), and
    every still-cached key must stay readable throughout."""
    import os
    from collections import OrderedDict

    from cdc_cloudrun_demo_spark.functions import similarity as S

    cache: OrderedDict = OrderedDict()
    paths: dict[int, str] = {}
    old_max = S._CENTROID_CACHE_MAX
    S._CENTROID_CACHE_MAX = 2
    try:
        def put(i: int):
            df = S._disk_memoized(
                spark, cache, ("evict", i), "fp", "test_evict_",
                lambda: spark.range(i, i + 10).withColumnRenamed("id", "v"),
            )
            paths[i] = cache[("evict", i)]
            return df

        put(0); put(1)
        assert all(os.path.isdir(p) for p in paths.values())
        put(2)  # evicts key 0 -> pending (grace), NOT deleted yet
        assert os.path.isdir(paths[0]), "evictee deleted without grace"
        put(3)  # evicts key 1; key 0's dir (previous generation) goes
        assert not os.path.isdir(os.path.dirname(paths[0]))
        assert os.path.isdir(paths[1]), "grace must cover the newest evictee"
        # cached keys stay readable end to end
        assert sorted(r["v"] for r in put(3).collect()) == list(range(3, 13))
        assert sorted(r["v"] for r in put(2).collect()) == list(range(2, 12))
    finally:
        S._CENTROID_CACHE_MAX = old_max


def test_live_ttl_guard_survives_restart(spark, tmp_path):
    """The tombstone-TTL contract guard must survive a sink RESTART
    (round-9 advice): the frontier is closure state and resets to None
    on every restart, but the compaction it protects against is durable
    on disk — so the first batch after a restart must rehydrate the seq
    watermark from the committed snapshot, and a late batch at or below
    the already-compacted horizon must still fail loudly instead of
    silently resurrecting a deleted key in exactly the crash-recovery
    window where late data is most likely."""
    from datetime import datetime

    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import tx_snapshot_sink

    log_dir = tmp_path / "log"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime(2024, 1, 1)

    def run_stream():
        # a FRESH sink per call: new closure, frontier reset to None —
        # the restart shape under test
        stream = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(log_dir / "slice_*"))
        )
        q = tx_snapshot_sink(
            materialize_with_state(stream), state_dir, ckpt,
            tombstone_ttl_seqs=0,
        )
        finished = q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
        assert finished

    # run 1: delete at seq 10; ttl=0 compacts the tombstone immediately
    spark.createDataFrame(
        [(9, "INSERT", 1, "one", ts), (10, "DELETE", 1, None, ts)],
        CHANGE_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(str(log_dir / "slice_000"))
    run_stream()

    # run 2 (RESTARTED sink, frontier None): a late batch below the
    # compacted horizon — without rehydration this would commit and
    # resurrect key 1
    spark.createDataFrame(
        [(1, "UPDATE", 1, "resurrect-me", ts)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(log_dir / "slice_001"))
    with pytest.raises(Exception, match="TTL contract violated"):
        run_stream()


def test_change_feed_errors_beyond_latest(spark, tmp_path):
    """change_feed must ERROR on versions beyond the latest commit (real
    Delta CDF behavior) instead of yielding an empty feed a polling
    caller cannot distinguish from a quiescent table (round-9 advice).
    from_version == latest stays legal: the caught-up poll."""
    from cdc_cloudrun_demo_spark.streaming.delta_log import DeltaLogStore
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import bucket_expr

    store = DeltaLogStore(str(tmp_path / "table"), n_buckets=2)
    schema = (
        "id long, content string, last_seq long,"
        " updated_at timestamp, is_deleted boolean"
    )
    df = spark.createDataFrame([(1, "a", 1, None, False)], schema).withColumn(
        "bucket", bucket_expr(2)
    )
    store.commit(df, [0, 1], batch_id=0)
    assert store.versions() == [1]
    assert store.change_feed(spark, from_version=1).count() == 0  # caught up
    with pytest.raises(ValueError, match="beyond the latest"):
        store.change_feed(spark, from_version=2)
    with pytest.raises(ValueError, match="beyond the latest"):
        store.change_feed(spark, from_version=0, to_version=5)


def test_quality_gate_live_survives_one_sided_run(spark, tmp_path):
    """A run where EVERY document routes to one side must not break the
    read-back (round-9 advice): the untouched sink holds only batch=N
    subdirs with no part files, and schema inference would fail with
    'unable to infer schema' — the gate reads both sinks with an
    explicit schema instead."""
    import os

    from cdc_cloudrun_demo_spark.operators.streaming_batch import (
        stream_quality_gate_live,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    # all docs pass every quality predicate: 12 distinct 4-letter words
    text = " ".join(f"word{chr(97 + i)}" for i in range(12))
    spark.createDataFrame(
        [(i, text, "en", "web", len(text)) for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    out = stream_quality_gate_live(spark, sf)
    routes = {r["route"] for r in out.select("route").distinct().collect()}
    assert routes == {"clean"}
    assert out.count() == 6


def test_neardup_gate_live_matches_batch_closed_form(spark, sf_oracle):
    """The live near-dup gate (operators/streaming_batch.py::
    stream_neardup_gate_live) must agree with the batch MinHash-banded
    closed form replayed in slices: a doc is quarantined exactly when
    one of dedup_minhash_banded's candidate pairs links it to an
    EARLIER ARRIVAL (slice = doc_id % 4 replayed in order, ascending
    doc_id within a batch). Also pins that the first arrival of every
    colliding pair stays CLEAN — dedup never loses content, it parks
    the later copy."""
    from cdc_cloudrun_demo_spark.functions.dedup import dedup_minhash_banded
    from cdc_cloudrun_demo_spark.operators.streaming_batch import (
        stream_neardup_gate_live,
    )

    gate = {
        r["doc_id"]: r["route"]
        for r in stream_neardup_gate_live(spark, sf_oracle).collect()
    }
    pairs = [
        (r["id_a"], r["id_b"])
        for r in dedup_minhash_banded(spark, sf_oracle).collect()
    ]

    def rank(d: int) -> tuple[int, int]:
        return (d % 4, d)

    expected_dup = set()
    for a, b in pairs:
        expected_dup.add(max(a, b, key=rank))
    assert expected_dup, "test is vacuous: no banded near-dups in corpus"
    got_dup = {d for d, r in gate.items() if r == "quarantine"}
    assert got_dup == expected_dup
    # every colliding pair's earliest arrival is clean unless itself a
    # later arrival of ANOTHER pair
    firsts = {min(a, b, key=rank) for a, b in pairs} - expected_dup
    assert firsts and all(gate[d] == "clean" for d in firsts)


def test_neardup_gate_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch must not double-route or double-index:
    both the routed outputs and the posting shard are per-batch-subdir
    overwrites, so running the SAME gate stream twice over one
    checkpoint (second run replays nothing new) leaves byte-stable
    routing. Built directly on the gate's internals with a tiny corpus
    containing one exact near-dup pair split across slices."""
    import os

    from cdc_cloudrun_demo_spark.operators.streaming_batch import (
        stream_neardup_gate_live,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    text_a = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (0, text_a, "en", "web", len(text_a)),          # slice 0 (0 % 4)
        (1, "completely different words " * 8, "en", "web", 0),  # slice 1
        (4, text_a, "en", "web", len(text_a)),          # slice 0, later id
        (7, text_a, "en", "web", len(text_a)),          # slice 3 duplicate
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    out1 = {
        (r["doc_id"], r["route"])
        for r in stream_neardup_gate_live(spark, sf).collect()
    }
    # doc 0 arrives first (slice 0, smaller id) and stays clean; doc 4
    # (same slice, later id) and doc 7 (later slice) collide with it
    assert (0, "clean") in out1 and (1, "clean") in out1
    assert (4, "quarantine") in out1 and (7, "quarantine") in out1

    # determinism / replay: a second full run over a fresh scratch dir
    # routes identically (the gate is a pure function of the corpus)
    out2 = {
        (r["doc_id"], r["route"])
        for r in stream_neardup_gate_live(spark, sf).collect()
    }
    assert out2 == out1


def test_live_schema_evolution_full_replay_is_idempotent(spark, sf_smoke):
    """Re-driving the ENTIRE evolved log into an ALREADY-CONVERGED state
    dir under a fresh checkpoint (the lost-checkpoint worst case: every
    batch replays) must leave the LWW state byte-equal - the keyed merge
    is idempotent, so recovery at any granularity converges."""
    import os

    from cdc_cloudrun_demo_spark.operators.schema_evolution import (
        _run_evolution_fold,
        _write_evolving_log,
    )

    root = _write_evolving_log(spark, sf_smoke)
    first = sorted(
        map(
            tuple,
            _run_evolution_fold(spark, root, os.path.join(root, "ckpt1")).collect(),
        )
    )
    assert first
    # SAME root (same v1/v2 log, same state dir), FRESH checkpoint:
    # Structured Streaming reprocesses every file as new batches over
    # the existing state
    replayed = sorted(
        map(
            tuple,
            _run_evolution_fold(spark, root, os.path.join(root, "ckpt2")).collect(),
        )
    )
    assert replayed == first


def test_neardup_gate_mid_batch_replay_does_not_self_collide(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The crash window the round-10 review found: a batch that crashed
    AFTER writing its posting shard but BEFORE the checkpoint commit
    replays with its own bands already in standing state — without the
    own-doc anti-join every doc self-collides and the whole batch lands
    in quarantine. Simulated by pre-seeding post/batch=0 with batch-0's
    exact bands (what the failed first attempt left behind) and running
    the gate from scratch: routing must equal the clean run's."""
    import os

    import cdc_cloudrun_demo_spark._scratch as scratch_mod
    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.functions.dedup import minhash_bands_for
    from cdc_cloudrun_demo_spark.operators.streaming_batch import (
        stream_neardup_gate_live,
    )

    clean_run = sorted(
        map(tuple, stream_neardup_gate_live(spark, sf_smoke).collect())
    )

    root = str(tmp_path / "ndgate_replay")
    os.makedirs(root)
    d = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    slice0 = d.filter(F.col("doc_id") % 4 == 0)  # batch 0 = slice_000
    minhash_bands_for(slice0).write.parquet(os.path.join(root, "post", "batch=0"))

    real_scratch = scratch_mod.scratch_dir
    monkeypatch.setattr(
        scratch_mod,
        "scratch_dir",
        lambda prefix: root if prefix == "ndgate_" else real_scratch(prefix),
    )
    replayed = sorted(
        map(tuple, stream_neardup_gate_live(spark, sf_smoke).collect())
    )
    assert replayed == clean_run


def test_curation_funnel_live_routing_properties(spark, sf_smoke):
    """The chained live funnel: (a) EXHAUSTIVE — every training doc
    routed exactly once, eval docs never enter; (b) stage agreement —
    its quality-stage quarantine equals the batch quality gate's
    reject set on the training split (chaining must not change stage-1
    semantics); (c) the funnel is monotone: survivors shrink stage by
    stage; (d) clean docs pass all three batch predicates."""
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.functions.text import pipeline_quality_kept
    from cdc_cloudrun_demo_spark.operators.streaming_batch import (
        stream_curation_funnel_live,
    )

    rows = stream_curation_funnel_live(spark, sf_smoke).collect()
    routed = {r["doc_id"]: r["stage"] for r in rows}
    train = {
        r["doc_id"]
        for r in load_table(spark, sf_smoke, "documents")
        .filter(F.col("doc_id") % 50 != 0)
        .select("doc_id")
        .collect()
    }
    assert len(rows) == len(routed) == len(train)  # once each, no eval
    assert set(routed) == train

    q_kept = {
        r["doc_id"]
        for r in pipeline_quality_kept(spark, sf_smoke)
        .filter("kept")
        .select("doc_id")
        .collect()
    }
    funnel_q_rej = {d for d, s in routed.items() if s == "quality"}
    assert funnel_q_rej == train - q_kept  # stage-1 ≡ batch predicate

    n_q = len(train) - len(funnel_q_rej)
    n_nd = n_q - sum(1 for s in routed.values() if s == "neardup")
    n_clean = sum(1 for s in routed.values() if s == "clean")
    assert (
        len(train) >= n_q >= n_nd >= n_clean
    ), "funnel stages must only shrink the survivor set"
    assert n_clean == n_nd - sum(
        1 for s in routed.values() if s == "contamination"
    )

    # the published survivor report is a projection of the same routing
    from cdc_cloudrun_demo_spark.operators.streaming_batch import (
        stream_curation_funnel_report,
    )

    report = {
        r["stage"]: r["n_docs"]
        for r in stream_curation_funnel_report(spark, sf_smoke).collect()
    }
    assert report == {
        "ingested": len(train),
        "quality_kept": n_q,
        "neardup_kept": n_nd,
        "clean": n_clean,
    }


def test_live_export_restart_and_crash_replay_converge(
    spark, sf_oracle, tmp_path
):
    """The live curated export's commit protocol end-to-end: the sliced
    replay split across a RESTART of the same checkpoint, with a forged
    crash in between (the last batch's commit marker erased, so the
    restart REPLAYS it over already-written shard/state dirs), must
    converge to byte-the-same manifest as the single uninterrupted run
    — per-batch idempotent overwrite + the near-dup state's
    current-batch anti-join make the replayed batch rewrite exactly its
    own dirs with identical content."""
    import os

    from cdc_cloudrun_demo_spark.operators.streaming_batch import (
        _run_curation_funnel_stream,
        read_export_shard_manifest,
        stream_curation_export_live,
    )

    want = sorted(
        map(tuple, stream_curation_export_live(spark, sf_oracle).collect())
    )
    assert want and sum(r[1] for r in want) > 0  # a real corpus shipped

    root = str(tmp_path / "exp_root")
    _run_curation_funnel_stream(
        spark, sf_oracle, export_clean=True, root=root, slice_ids=[0, 1]
    )
    # forge the crash: erase batch 1's commit marker; the restart will
    # replay it over the already-written batch=1 dirs
    commits = os.path.join(root, "ckpt", "commits")
    last = max(
        (f for f in os.listdir(commits) if not f.startswith(".")), key=int
    )
    assert int(last) == 1
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _run_curation_funnel_stream(
        spark, sf_oracle, export_clean=True, root=root, slice_ids=[2, 3]
    )
    got = sorted(
        map(tuple, read_export_shard_manifest(spark, root).collect())
    )
    assert got == want

"""``cdc_stream_replay``: the sf0.1-shape change log (100,000 events on
1,500 keys) staged as equal, seq-ordered parquet slices and replayed
through ``materialize_with_state`` → ``tx_snapshot_sink(backend=
"manifest")``, one slice per micro-batch. The sink triggers
``availableNow``, so this is a catch-up replay; its per-batch latency stands
in for freshness at rates below capacity. Bypasses ``serving``.

Unit of work: one micro-batch (``triggerExecution`` of the query's public
progress reports). The final snapshot (``read_tx_snapshot``) must equal the
batch fold ``cdc_materialize`` of the same log.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import (
    Result,
    SparkJobs,
    cds_mapped,
    describe,
    digest,
    median,
    now,
    rejects_wrong,
    retained_mb,
    rss_peak_mb,
    self_time_metrics,
    start_spark,
    stop_spark,
    tail,
)

N_SLICES = 3
FOLD_COLS = ["id", "content", "last_seq", "updated_at"]


def stage_slices(spark, data_dir: str, log_dir: str, n_slices: int) -> int:
    """Write the change log (``fixtures.message_changes_df``) as
    ``n_slices`` equal seq-ordered files with ascending modification times,
    which is the order the file source delivers them in. Returns the
    number of events."""
    from cdc_cloudrun_demo_spark.fixtures import message_changes_df

    log = message_changes_df(spark, data_dir).toPandas().sort_values("seq")
    table = pa.Table.from_pandas(log, preserve_index=False).cast(
        pa.schema(
            [
                ("seq", pa.int64()),
                ("op", pa.string()),
                ("id", pa.int64()),
                ("content", pa.string()),
                ("ts", pa.timestamp("us", tz="UTC")),
            ]
        )
    )
    os.makedirs(log_dir)
    n = table.num_rows
    base = time.time() - 3600
    for i in range(n_slices):
        lo, hi = n * i // n_slices, n * (i + 1) // n_slices
        path = os.path.join(log_dir, f"slice-{i:04d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (base + i, base + i))
    return n


class _CommitTimer:
    """Times ``TxSnapshotStore.commit`` (wrapped on the class for the trace
    run) and the ``on_before_commit`` seam: per batch, the pre-commit point,
    the commit interval and the number of data files it wrote. Odd batches
    run the bare commit, the untraced baseline for the tracing overhead."""

    def __init__(self):
        self.before: dict[int, float] = {}
        self.commits: list[tuple[int, float, float, int]] = []

    def on_before_commit(self, batch_id: int) -> None:
        self.before[batch_id] = now()

    def wrap(self, store_cls):
        orig = store_cls.commit
        timer = self

        def commit(store, merged, touched, batch_id, *a, **kw):
            if batch_id % 2:
                return orig(store, merged, touched, batch_id, *a, **kw)
            t0 = now()
            out = orig(store, merged, touched, batch_id, *a, **kw)
            t1 = now()
            m = store.latest_manifest()
            gen = f"gen-{m['version']}"
            files = sum(
                1 for fl in m["buckets"].values() for f in fl if f.split(os.sep)[1] == gen
            )
            timer.commits.append((batch_id, t0, t1, files))
            return out

        store_cls.commit = commit
        return orig


def replay(ctx, spark, data_dir: str, tag: str, timer: _CommitTimer | None,
           n_slices: int = N_SLICES):
    """Stage the log and replay it; returns (wall seconds, data-batch
    progress reports, state dir, events, job count)."""
    from cdc_cloudrun_demo_spark.streaming.cdc_stream import (
        CHANGE_SCHEMA,
        materialize_with_state,
    )
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import tx_snapshot_sink

    root = ctx.path(tag)
    n_events = stage_slices(spark, data_dir, os.path.join(root, "log"), n_slices)
    jobs = SparkJobs(spark)
    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "log"))
    )
    j0 = jobs.last_id()
    t0 = now()
    q = tx_snapshot_sink(
        materialize_with_state(stream),
        state_dir=os.path.join(root, "state"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        backend="manifest",
        on_before_commit=timer.on_before_commit if timer else None,
    )
    done = q.awaitTermination(170)
    wall = now() - t0
    if not done:
        q.stop()
        raise RuntimeError("stream replay did not finish within 170 s")
    if q.exception() is not None:
        raise RuntimeError(f"stream replay failed: {q.exception()}")
    n_jobs = jobs.last_id((None, str(q.runId))) - j0
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return wall, progress, os.path.join(root, "state"), n_events, n_jobs


def run(ctx) -> Result:
    from cdc_cloudrun_demo_spark.operators.cdc import cdc_materialize
    from cdc_cloudrun_demo_spark.streaming import tx_snapshot

    data = datagen.write_tables(ctx.path("data"), ctx.seed)
    warm = datagen.write_tables(ctx.path("warm"), ctx.seed + 1, scale=0.01)
    ctx.phase("inputs written")
    spark, get_spark_s = start_spark(ctx)
    try:
        # workload state: the change log staged as micro-batch slices
        setups = []
        for i in range(3):
            t0 = now()
            stage_slices(spark, data, ctx.path(f"stage{i}"), N_SLICES)
            setups.append(now() - t0)
        setup_s = get_spark_s + median(setups)
        ctx.phase("setup done")
        replay(ctx, spark, warm, "warmup", None, n_slices=1)
        ctx.phase("warm-up done")

        timer = _CommitTimer() if ctx.trace else None
        orig_commit = timer.wrap(tx_snapshot.TxSnapshotStore) if timer else None
        try:
            wall, progress, state_dir, n_events, n_jobs = replay(
                ctx, spark, data, "replay", timer
            )
        finally:
            if orig_commit is not None:
                tx_snapshot.TxSnapshotStore.commit = orig_commit
        ctx.phase("replayed")
        snap = tx_snapshot.read_tx_snapshot(spark, state_dir).select(*FOLD_COLS).toPandas()
        got = digest(snap)
        want = digest(cdc_materialize(spark, data).select(*FOLD_COLS).toPandas())
        ok = got == want
        canary_ok = rejects_wrong(snap, want)
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        folded = sum(p["numInputRows"] for p in progress)
        if folded != n_events:
            ok = False
        rss = rss_peak_mb(spark)
        retained = retained_mb(spark)
        tail_v = tail(batch_s)[1]
        ctx.say(f"setup_s: {setup_s:.4f} s (get_spark {get_spark_s:.3f} s + median of {len(setups)} log stagings)")
        ctx.say(
            describe("stream_batch_ms", batch_s, "ms", 1000.0)
            + f" {[round(b, 3) for b in batch_s]}"
        )
        ctx.say(f"stream_events_per_s: {n_events / wall:.1f} 1/s ({folded} events in {len(batch_s)} batches, {wall:.3f} s)")
        ctx.say(f"snapshot rows {got[0]} vs batch fold {want[0]}: {'match' if ok else 'MISMATCH'}; canary {'rejected' if canary_ok else 'NOT rejected'}; rss_peak_mb {rss:.1f}")
        e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": median(batch_s) * 1000.0,
            "latency_tail_ms": tail_v * 1000.0,
            "throughput_per_s": n_events / wall,
            "rss_peak_mb": rss,
            "mem_retained_mb": retained,
        }
        layer: dict[str, float] = {}
        if ctx.trace:
            layer = _layer_metrics(ctx, progress, timer, n_jobs)
            layer["session.get_spark_s"] = get_spark_s
            layer["session.cds_mapped"] = float(cds_mapped(spark))
    finally:
        stop_spark(spark)
    if ctx.trace:
        layer["stream.events_per_s_1cpu"] = _one_cpu_rate(ctx, data)
    return Result(ok and canary_ok, len(batch_s) + 1, 0 if ok else 1, e2e, layer)


def _layer_metrics(ctx, progress, timer, n_jobs) -> dict[str, float]:
    tr = ctx.tracer
    d = lambda key: [p["durationMs"].get(key, 0) for p in progress]  # noqa: E731
    commits = {b: (t0, t1, files) for b, t0, t1, files in timer.commits}
    for i, p in enumerate(progress):
        end = commits.get(p["batchId"], (None, now(), 0))[1]
        start = end - p["durationMs"]["triggerExecution"] / 1000.0
        sid = tr.record(i, "stream", "trigger", start, max(end, start))
        if p["batchId"] in commits:
            c0, c1, _ = commits[p["batchId"]]
            b0 = timer.before.get(p["batchId"], c0)
            tr.record(i, "sink", "commit", b0, c1, parent=sid)
    last = progress[-1]["stateOperators"][0] if progress else {}
    inputs = sum(p["numInputRows"] for p in progress)
    updated = sum(p["stateOperators"][0]["numRowsUpdated"] for p in progress)
    return {
        "stream.trigger_ms.p50": median(d("triggerExecution")),
        "stream.add_batch_ms.p50": median(d("addBatch")),
        "stream.plan_ms.p50": median(d("queryPlanning")),
        "stream.wal_ms.p50": median(d("walCommit")),
        "sink.commit_ms.p50": median(
            [(t1 - timer.before.get(b, t0)) * 1000.0 for b, t0, t1, _ in timer.commits]
        ),
        "sink.files_per_commit": median([f for *_, f in timer.commits]),
        "spark.jobs_per_batch": n_jobs / max(len(progress), 1),
        "stream.state_rows": last.get("numRowsTotal", 0),
        "stream.state_bytes": last.get("memoryUsedBytes", 0),
        "stream.rows_updated_ratio": updated / max(inputs, 1),
        "trace.overhead_ms": median(
            [p["durationMs"]["triggerExecution"] for p in progress if p["batchId"] % 2 == 0]
        )
        - median(
            [p["durationMs"]["triggerExecution"] for p in progress if p["batchId"] % 2]
        ),
        **self_time_metrics(tr),
    }


def _one_cpu_rate(ctx, data: str) -> float:
    """Diagnostic: the same replay on a ``local[1]`` session."""
    spark, _ = start_spark(ctx, master="local[1]")
    try:
        wall, _p, _s, n_events, _j = replay(ctx, spark, data, "replay1", None)
    finally:
        stop_spark(spark)
    ctx.say(f"stream_events_per_s at 1 CPU: {n_events / wall:.1f} 1/s")
    return n_events / wall

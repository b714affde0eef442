"""Transactional snapshot sink: the atomic-commit materializer for the CDC
fold — the local, minimum-size form of a MERGE INTO a Delta/Iceberg table.

The reference wraps every mutation in a database transaction
(`quarkus_cloud_run/src/main/java/com/example/quarkus_cloud_run/MessageResource.java:19,33,45`
``@Transactional``) — a reader never observes a half-applied request. A
sink that overwrites state buckets in place cannot promise that: a crash
mid-commit leaves a torn mix of old/new buckets that is only repaired on
restart. This module gives the guarantee with the commit protocol
transactional table formats use, reduced to its minimum:

* **Immutable data files.** Each batch writes NEW parquet files under
  ``data/gen-<version>/bucket=<b>/`` — nothing ever overwrites a file a
  reader might hold open.
* **Manifest pointer.** ``manifests/v<version>.json`` lists, per bucket,
  exactly the files that make up the snapshot, plus the id of the batch
  that produced it. The manifest is staged to a temp name and
  ``os.rename``d into place — atomic on POSIX and HDFS; on S3 the same
  protocol swaps the rename for a conditional PUT of the pointer object.
* **Readers resolve the newest manifest** and read only its files: they
  see version N or version N+1 in full, NEVER a mix. A crash after the
  data-file writes but before the manifest rename leaves orphan files
  that no manifest references — invisible, garbage-collected later.
* **Commit-level idempotence.** The manifest records ``batch_id``; a
  replayed batch (checkpoint said uncommitted, manifest says committed —
  the classic foreachBatch double-fire) is SKIPPED, not re-merged, so
  exactly-once is enforced at the commit, not argued from LWW algebra.

Per-batch I/O stays O(touched state): untouched buckets' file lists are
carried into the new manifest verbatim; only touched buckets are read,
merged (keyed LWW by ``last_seq``, tombstones retained) and rewritten.
Crash-consistency and replay-skip are proven in
tests/test_streaming.py::test_tx_sink_*.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cdc_stream import N_STATE_BUCKETS, UPDATES_SCHEMA, bucket_expr, lww_merge


def read_manifest_files(
    spark: SparkSession, state_dir: str, manifest: dict | None, n_buckets: int
) -> DataFrame:
    """A committed snapshot as a DataFrame: exactly the manifest's file
    set, bucket RECOMPUTED from the key (a pure function of id), not
    parsed from the directory layout — leaf-file reads skip partition
    discovery, and deriving beats parsing anyway. Shared by both store
    backends so read semantics stay identical by construction."""
    files = [
        f for fl in (manifest or {"buckets": {}})["buckets"].values() for f in fl
    ]
    if not files:
        return spark.createDataFrame([], UPDATES_SCHEMA + ", bucket int")
    return spark.read.parquet(
        *[os.path.join(state_dir, f) for f in files]
    ).withColumn("bucket", bucket_expr(n_buckets))


class TxSnapshotStore:
    """Manifest-pointer snapshot store (see module docstring)."""

    def __init__(self, state_dir: str, n_buckets: int = N_STATE_BUCKETS):
        self.state_dir = state_dir
        self.n_buckets = n_buckets
        self.manifest_dir = os.path.join(state_dir, "manifests")
        self.data_dir = os.path.join(state_dir, "data")

    # -- manifest resolution ------------------------------------------------
    def versions(self) -> list[int]:
        """All committed snapshot versions, ascending."""
        if not os.path.isdir(self.manifest_dir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_manifest(self) -> dict | None:
        """Newest committed manifest, or None before the first commit.
        Resolution is a directory listing + max(version) — no lock: the
        rename publishing a manifest is atomic, so every version that
        lists is complete."""
        return self.manifest(None)

    def manifest(self, version: int | None) -> dict | None:
        """A specific committed manifest (None ⇒ newest)."""
        versions = self.versions()
        if not versions:
            return None
        if version is None:
            version = versions[-1]
        elif version not in versions:
            raise ValueError(f"no committed snapshot v{version}; have {versions}")
        with open(os.path.join(self.manifest_dir, f"v{version}.json")) as fh:
            return json.load(fh)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """A committed snapshot as a DataFrame (bucket column included) —
        the newest by default, or any retained historical ``version``
        (time travel: every commit's manifest is a complete file listing,
        so old snapshots stay readable until `gc` reclaims their files).
        Reads exactly the committed file set — concurrent commits cannot
        tear the view because the file list came from ONE manifest."""
        return read_manifest_files(
            spark, self.state_dir, self.manifest(version), self.n_buckets
        )

    # -- commit -------------------------------------------------------------
    def _bucket_files(self, gen_dir: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for entry in os.listdir(gen_dir):
            if not entry.startswith("bucket="):
                continue
            b = entry.split("=", 1)[1]
            rel = os.path.relpath(os.path.join(gen_dir, entry), self.state_dir)
            out[b] = sorted(
                os.path.join(rel, f)
                for f in os.listdir(os.path.join(gen_dir, entry))
                if f.endswith(".parquet")
            )
        return out

    def commit(
        self,
        merged_touched: DataFrame,
        touched: list[int],
        batch_id: int,
        replace_all_touched: bool = False,
    ) -> None:
        """Write new data files for the touched buckets, then publish a
        new manifest atomically. Crash before the final rename ⇒ orphan
        data files, old manifest still current, snapshot consistent."""
        prev = self.latest_manifest() or {"version": 0, "batch_id": -1, "buckets": {}}
        version = prev["version"] + 1
        gen_dir = os.path.join(self.data_dir, f"gen-{version}")
        shutil.rmtree(gen_dir, ignore_errors=True)  # leftovers from a crash
        merged_touched.write.mode("overwrite").partitionBy("bucket").parquet(gen_dir)
        buckets = dict(prev["buckets"])  # untouched entries carried verbatim
        new_files = self._bucket_files(gen_dir)
        for b in touched:
            if replace_all_touched:
                # compaction semantics (compact_tombstones): a touched
                # bucket's new content IS the staged set — possibly
                # nothing, when every remaining row was an expired
                # tombstone
                buckets[str(b)] = new_files.get(str(b), [])
            # a touched bucket may legitimately produce no file (all rows
            # merged away is impossible under retained tombstones, but an
            # empty batch partition is) — keep the old list then
            elif str(b) in new_files:
                buckets[str(b)] = new_files[str(b)]
        manifest = {"version": version, "batch_id": batch_id, "buckets": buckets}
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".v{version}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        # Publish via link(2), not rename(2): rename silently OVERWRITES,
        # so two racing writers that both computed version V+1 would lose
        # one commit; link fails with EEXIST — a true compare-and-swap,
        # which is exactly the primitive Iceberg requires of its catalog
        # (on S3: a conditional PUT). The loser must re-read and retry
        # atop the winner's manifest; we surface it loudly instead of
        # auto-merging because the streaming sink is single-writer by
        # contract (foreachBatch batches are serial) and a second writer
        # is a deployment bug, not a race to paper over.
        final = os.path.join(self.manifest_dir, f"v{version}.json")
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise RuntimeError(
                f"concurrent commit detected: manifest v{version} already "
                "published by another writer; this store is single-writer"
            ) from e
        finally:
            os.unlink(tmp)

    def gc(self, retain_versions: int = 1) -> int:
        """Delete data generations referenced by NONE of the newest
        ``retain_versions`` manifests (orphans from torn commits +
        superseded files), and drop the expired manifests themselves —
        the time-travel retention window, same dial as Iceberg's
        expire_snapshots. Safe any time AFTER a commit: readers resolve
        files through a manifest, and every retained manifest's file set
        is left whole. Returns the number of data directories removed."""
        versions = self.versions()
        if not versions or not os.path.isdir(self.data_dir):
            return 0
        retain_versions = max(1, retain_versions)
        keep = versions[-retain_versions:]
        live_gens: set[str] = set()
        for v in keep:
            for fl in self.manifest(v)["buckets"].values():
                for f in fl:  # data/gen-N/bucket=b/part-*.parquet
                    live_gens.add(f.split(os.sep)[1])
        removed = 0
        for entry in os.listdir(self.data_dir):
            if entry.startswith("gen-") and entry not in live_gens:
                gen_v = int(entry.split("-", 1)[1])
                if gen_v <= keep[-1]:  # never GC a commit in flight
                    shutil.rmtree(os.path.join(self.data_dir, entry))
                    removed += 1
        for v in versions[:-retain_versions]:
            os.remove(os.path.join(self.manifest_dir, f"v{v}.json"))
        return removed


def _frontier_sidecar(state_dir: str) -> str:
    return os.path.join(state_dir, "_seq_frontier.json")


def _read_frontier(state_dir: str) -> int | None:
    """The durably recorded max committed ``last_seq`` (None before the
    first TTL-mode commit)."""
    try:
        with open(_frontier_sidecar(state_dir)) as fh:
            return json.load(fh)["max"]
    except FileNotFoundError:
        return None


def _write_frontier(state_dir: str, value: int) -> None:
    """Persist the seq watermark atomically (tmp + rename). Ordering
    contract with the sink: written AFTER the commit and BEFORE the
    compaction it licenses — a crash between commit and sidecar leaves a
    stale (lower) frontier whose compaction never ran (safe), and a
    crash between sidecar and compaction leaves a guard that is merely
    stricter than the disk state (still just the source's own lateness
    contract)."""
    tmp = _frontier_sidecar(state_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"max": value}, fh)
    os.replace(tmp, _frontier_sidecar(state_dir))


def open_store(state_dir: str, n_buckets: int = N_STATE_BUCKETS):
    """Store for an existing (or new) state dir, backend auto-detected:
    a ``_delta_log`` directory marks a Delta-protocol table
    (streaming/delta_log.py), anything else the manifest-pointer store.
    Both satisfy the same interface, so readers and the sink are
    backend-agnostic."""
    if os.path.isdir(os.path.join(state_dir, "_delta_log")):
        from .delta_log import DeltaLogStore

        return DeltaLogStore(state_dir, n_buckets)
    return TxSnapshotStore(state_dir, n_buckets)


def compact_tombstones(store, spark: SparkSession, horizon_seq: int) -> int:
    """Watermark-gated tombstone GC — the state-retention policy the
    CDC fold needs at production churn (SURVEY §7's own hard list:
    "state growth (tombstone TTL)"). Without it every sink retains
    tombstones forever and the snapshot accretes dead keys without
    bound; a materializer folding months of deletes
    (`MessageResource.java:43-48`'s DELETE semantics) hits this first.

    A tombstone exists to outvote LATE data: a row for its key carrying
    a lower ``last_seq`` must lose the LWW merge. It is therefore safe
    to drop exactly when no future batch can carry such a row:

    * **Replayed batches can't** — the sink's exactly-once skip drops
      any batch with ``batch_id <= manifest.batch_id`` before merging,
      so everything already folded is unreachable (both backends; the
      Delta store records the frontier in its ``txn`` action).
    * **New batches are bounded by the source watermark** — the caller
      passes ``horizon_seq``, the source's promise that every future
      update has ``last_seq > horizon_seq`` (the same contract as
      ``withWatermark`` on event time).

    Tombstones with ``last_seq <= horizon_seq`` are dropped by
    committing a COMPACTION snapshot over the affected buckets — a
    normal commit (immutable files + atomic pointer publish) that
    re-uses the previous manifest's ``batch_id``, so the replay-skip
    frontier is unchanged and readers switch atomically from the
    uncompacted to the compacted view. Untouched buckets' files carry
    over verbatim; reclaiming the superseded files is ``store.gc()``'s
    job, as for any commit. Returns the number of tombstones dropped.

    Replay-safety is proven in tests/test_streaming.py::
    test_tombstone_gc_* (parametrized over both protocols): fold N
    batches, compact, replay old batches → state identical, and the raw
    snapshot hash-matches the live fold (no tombstone survives)."""
    prev = store.latest_manifest()
    if prev is None:
        return 0
    snap = store.read(spark)
    expired = F.col("is_deleted") & (F.col("last_seq") <= F.lit(horizon_seq))
    touched = [
        r["bucket"]
        for r in snap.filter(expired).select("bucket").distinct().collect()
    ]  # ≤ n_buckets ints — bounded metadata
    if not touched:
        return 0
    kept = snap.filter(F.col("bucket").isin(touched)).filter(~expired).persist()
    try:
        n_before = snap.filter(F.col("bucket").isin(touched)).count()
        n_after = kept.count()  # also materializes `kept` pre-commit
        store.commit(
            kept, touched, batch_id=prev["batch_id"], replace_all_touched=True
        )
    finally:
        kept.unpersist()
    return n_before - n_after


def merge_commit(
    store, spark: SparkSession, updates: DataFrame, touched: list[int], batch_id: int
) -> None:
    """THE touched-bucket merge + commit, shared by `tx_snapshot_sink` and
    the REST serve loop (serving/rest_api.py): read the store's current
    rows of the ``touched`` buckets, fold them with ``updates`` (rows of
    ``UPDATES_SCHEMA`` plus ``bucket``) through `lww_merge` and publish
    the result as ONE atomic commit recording ``batch_id``. Untouched
    buckets keep their file lists verbatim (`TxSnapshotStore.commit`)."""
    cur = store.read(spark).filter(F.col("bucket").isin(touched))
    store.commit(lww_merge(cur.unionByName(updates)), touched, batch_id)


def tx_snapshot_sink(
    updates_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_buckets: int = N_STATE_BUCKETS,
    on_before_commit: Callable[[int], None] | None = None,
    backend: str = "manifest",
    tombstone_ttl_seqs: int | None = None,
):
    """foreachBatch sink with ATOMIC snapshot commits (module docstring):
    each micro-batch's updates are merged into the touched buckets by
    `lww_merge` (keyed LWW by last_seq, tombstones retained), and a
    reader sees the previous manifest until the instant the new one is
    published.

    ``on_before_commit(batch_id)`` is a fault-injection seam for the
    crash tests — it runs after the replay skip and the TTL contract
    check, and BEFORE `merge_commit` reads the touched buckets, merges
    and writes any data file. A crash between the data-file write and
    the publish is injected at the publish itself (tests/
    test_streaming.py::test_tx_sink_torn_publish_*). Production passes
    None.

    ``backend``: ``'manifest'`` (this module's pointer store) or
    ``'delta'`` (the public Delta Lake log protocol,
    streaming/delta_log.py). Identical commit contract — the tx test
    suite runs unchanged against both.

    ``tombstone_ttl_seqs``: when set, the retention policy runs LIVE —
    after each commit the sink compacts tombstones behind
    ``frontier - ttl`` where frontier is the max ``last_seq`` committed
    so far (the sequence-domain watermark: the source's promise that no
    update arrives more than ttl seqs late). ttl=0 declares an in-order
    source and drops each tombstone the moment it is committed. None
    (default) retains tombstones forever and leaves compaction to
    maintenance-time `compact_tombstones`."""
    spark = updates_stream.sparkSession
    if backend == "delta":
        from .delta_log import DeltaLogStore

        store = DeltaLogStore(state_dir, n_buckets)
    elif backend == "manifest":
        store = TxSnapshotStore(state_dir, n_buckets)
    else:
        raise ValueError(f"unknown tx snapshot backend: {backend!r}")
    bucket_of = bucket_expr(n_buckets)
    frontier = {"max": None}  # max committed last_seq (closure state)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = store.latest_manifest()
        if prev is not None and batch_id <= prev["batch_id"]:
            # Replayed batch already committed: exactly-once skip. The
            # batch must still be DRAINED — the upstream native
            # aggregation's state store commits each partition only when
            # it is processed, and Spark validates that every partition
            # committed (STATE_STORE_COMMIT_VALIDATION_FAILED on an early
            # return).
            batch_df.count()
            return
        if (
            tombstone_ttl_seqs is not None
            and frontier["max"] is None
            and prev is not None
        ):
            # Rehydrate the seq watermark from DURABLE state on the
            # first batch after a (re)start: the frontier is closure
            # state and resets to None, but the tombstone compaction it
            # guards against is on disk — without this, a late batch at
            # or below the already-compacted horizon would slip past the
            # contract check in exactly the crash-recovery window where
            # late/replayed data is most likely (round-9 advice). The
            # frontier sidecar is written after every commit; a
            # max(last_seq) over the snapshot alone would NOT suffice —
            # when the compacted tombstone itself held the max seq, the
            # surviving rows under-state the horizon. The data max still
            # serves as a floor for state dirs predating the sidecar.
            data_max = store.read(spark).agg(
                F.max("last_seq")
            ).collect()[0][0]
            frontier["max"] = max(
                (
                    v
                    for v in (_read_frontier(state_dir), data_max)
                    if v is not None
                ),
                default=None,
            )
        batch_df = batch_df.withColumn("bucket", bucket_of).persist()
        try:
            touched = [
                r["bucket"] for r in batch_df.select("bucket").distinct().collect()
            ]  # ≤ n_buckets ints — bounded metadata
            if not touched:
                return
            if tombstone_ttl_seqs is not None:
                # Enforce the watermark CONTRACT before committing, not
                # just assume it: ttl promises no update arrives more
                # than ttl seqs late, and every tombstone at or below
                # frontier - ttl is already physically gone — a batch
                # row at or below that horizon could silently resurrect
                # a deleted key (its suppressing tombstone no longer
                # exists to win the LWW merge). One bounded 1-row
                # aggregate yields both ends of the batch's seq range;
                # a violation fails the stream loudly pre-commit rather
                # than publishing corrupt state (round-8 advice).
                agg = batch_df.agg(
                    F.min("last_seq").alias("mn"), F.max("last_seq").alias("mx")
                ).collect()[0]
                mn, mx = agg["mn"], agg["mx"]
                if (
                    mn is not None
                    and frontier["max"] is not None
                    and mn <= frontier["max"] - tombstone_ttl_seqs
                ):
                    raise RuntimeError(
                        f"tombstone TTL contract violated: batch "
                        f"{batch_id} contains last_seq={mn} at or below "
                        f"the compacted horizon "
                        f"{frontier['max'] - tombstone_ttl_seqs} "
                        f"(frontier={frontier['max']}, "
                        f"ttl={tombstone_ttl_seqs}); the source promised "
                        "no update arrives more than ttl seqs late"
                    )
            if on_before_commit is not None:
                on_before_commit(batch_id)
            merge_commit(store, spark, batch_df, touched, batch_id)
            if tombstone_ttl_seqs is not None:
                # live retention (docstring): the pre-commit aggregate
                # advances the seq watermark, then tombstones behind
                # frontier - ttl are compacted — an ordinary commit over
                # only the buckets holding one
                if mx is not None and (
                    frontier["max"] is None or mx > frontier["max"]
                ):
                    frontier["max"] = mx
                if frontier["max"] is not None:
                    # durable BEFORE the compaction it licenses — the
                    # restart rehydration above depends on this ordering
                    _write_frontier(state_dir, frontier["max"])
                    compact_tombstones(
                        store, spark, frontier["max"] - tombstone_ttl_seqs
                    )
        finally:
            batch_df.unpersist()

    return (
        updates_stream.writeStream.foreachBatch(process_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_tx_snapshot(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame:
    """Live view of a tx snapshot (tombstones filtered): the newest
    commit, or a retained historical ``version`` (time travel). The
    backend is auto-detected (``open_store``), so the same reader serves
    manifest-pointer and Delta-protocol state dirs."""
    return (
        open_store(state_dir)
        .read(spark, version)
        .filter(~F.col("is_deleted"))
        .drop("bucket")
    )

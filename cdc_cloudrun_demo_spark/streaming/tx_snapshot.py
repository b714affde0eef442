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

Merge-on-read: a commit APPENDS. Each batch's update rows are written
as one delta file per bucket they fall in and appended to that bucket's
file list; untouched buckets' lists are carried into the new manifest
verbatim, and a commit reads no current state beyond the files of a
bucket it compacts (below). Readers fold a
bucket's base + delta files with ``lww_merge`` (keyed LWW by
``last_seq``, tombstones retained) — the same fold for both store
backends and every Spark reader (`read_manifest_files`). Compaction
REPLACES a bucket's files with one folded base file: ``merge_commit``
does it inside the commit for any bucket already listing
``MAX_BUCKET_FILES`` files (its files are folded with the batch in the
same write), `compact` does it as a commit of its own that keeps
``batch_id`` — the path of `compact_tombstones`, which drops expired
tombstones in the same pass, and of the Delta store's OPTIMIZE. This
is the copy-on-write → merge-on-read trade of Iceberg v2 row-level
deletes and Delta deletion vectors.
Crash-consistency and replay-skip are proven in
tests/test_streaming.py::test_tx_sink_*.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cdc_stream import N_STATE_BUCKETS, UPDATES_SCHEMA, bucket_expr, lww_merge


# the most files a bucket's list holds: `merge_commit` folds a bucket
# that already lists this many into one base file. Measured on 24-slice
# replays of the 100k-event change log (4-CPU VM; docs/SCALE.md §5): the
# compacting micro-batch costs ~35 ms more per listed file, and a fold
# read reads every listed file, while the median micro-batch was flat
# from 4 to 16. 4 keeps both the compaction spike and reads small; 2
# puts a compaction in every other micro-batch.
MAX_BUCKET_FILES = 4
UPDATE_COLS = ["id", "content", "last_seq", "updated_at", "is_deleted"]


def _raw_rows(
    spark: SparkSession, state_dir: str, manifest: dict | None, n_buckets: int
) -> DataFrame | None:
    """The manifest's files as rows, UNFOLDED (None when it lists no
    file). The bucket is RECOMPUTED from the key (a pure function of
    id), not parsed from the directory layout — leaf-file reads skip
    partition discovery. Resolving the read runs no Spark job: the
    schema is given, not inferred from a footer, and the files are read
    in chunks of at most Spark's parallel-listing threshold, above which
    listing them would itself be a job."""
    paths = [
        os.path.join(state_dir, f)
        for fl in (manifest or {"buckets": {}})["buckets"].values()
        for f in fl
    ]
    if not paths:
        return None
    step = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
    )
    reader = spark.read.schema(UPDATES_SCHEMA)
    rows = reduce(
        DataFrame.unionByName,
        [reader.parquet(*paths[i : i + step]) for i in range(0, len(paths), step)],
    )
    return rows.withColumn("bucket", bucket_expr(n_buckets))


def read_manifest_files(
    spark: SparkSession, state_dir: str, manifest: dict | None, n_buckets: int
) -> DataFrame:
    """A committed snapshot as a DataFrame: exactly the manifest's file
    set, folded per key with `lww_merge` (a bucket's base and delta
    files hold several rows of a key; the newest ``last_seq`` wins).
    Shared by both store backends so read semantics stay identical by
    construction."""
    rows = _raw_rows(spark, state_dir, manifest, n_buckets)
    if rows is None:
        return spark.createDataFrame([], UPDATES_SCHEMA + ", bucket int")
    return lww_merge(rows).select(*UPDATE_COLS, "bucket")


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
        rows: DataFrame,
        touched: list[int] | None,
        batch_id: int,
        replace_all_touched: bool = False,
    ) -> list[int]:
        """Write ``rows`` (``UPDATES_SCHEMA`` plus ``bucket``) as new data
        files, then publish a new manifest atomically. By default the
        commit APPENDS: each bucket the rows fall in gets its new files
        appended to its list (``touched`` is not consulted). With
        ``replace_all_touched`` (compaction) each bucket in ``touched``
        gets exactly its new files as its list — possibly none, when
        every remaining row was an expired tombstone — while the new
        files of any other bucket are still appended. Crash before the
        final link ⇒ orphan data files, old manifest still current,
        snapshot consistent. Returns the buckets whose lists changed."""
        prev = self.latest_manifest() or {"version": 0, "batch_id": -1, "buckets": {}}
        version = prev["version"] + 1
        gen_dir = os.path.join(self.data_dir, f"gen-{version}")
        shutil.rmtree(gen_dir, ignore_errors=True)  # leftovers from a crash
        rows.write.mode("overwrite").partitionBy("bucket").parquet(gen_dir)
        buckets = dict(prev["buckets"])  # untouched entries carried verbatim
        new_files = self._bucket_files(gen_dir)
        replaced = {str(b) for b in touched} if replace_all_touched else set()
        for b in replaced:
            buckets[b] = new_files.get(b, [])
        for b, fl in new_files.items():
            if b not in replaced:
                buckets[b] = buckets.get(b, []) + fl
        changed = sorted(int(b) for b in replaced | set(new_files))
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
        return changed

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


def compact(
    store, spark: SparkSession, buckets: list[int], horizon_seq: int | None = None
) -> int:
    """Fold each of ``buckets`` into ONE base file: read the bucket's
    base + delta files through the reader's `lww_merge`, drop the
    tombstones with ``last_seq <= horizon_seq`` when a horizon is given,
    and publish the result as a ``replace_all_touched`` commit — a
    normal commit (immutable files + atomic pointer publish) that
    re-uses the previous manifest's ``batch_id``, so the replay-skip
    frontier is unchanged and readers switch atomically from the
    uncompacted to the compacted view. Untouched buckets' files carry
    over verbatim; reclaiming the superseded files is ``store.gc()``'s
    job, as for any commit. Returns the number of tombstones dropped
    (0 without a horizon)."""
    prev = store.latest_manifest() if buckets else None
    if prev is None:
        return 0
    part = {"buckets": {str(b): prev["buckets"].get(str(b), []) for b in buckets}}
    raw = _raw_rows(spark, store.state_dir, part, store.n_buckets)
    if raw is None:  # nothing to fold: publish the buckets as empty
        raw = spark.createDataFrame([], UPDATES_SCHEMA + ", bucket int")
    # partitioned by bucket BEFORE the fold: the fold's clustering by
    # (bucket, id) is then already met, so the fold and the one-file-
    # per-bucket write share a single exchange
    rows = lww_merge(raw.repartition("bucket")).select(*UPDATE_COLS, "bucket")
    if horizon_seq is None:
        store.commit(rows, buckets, prev["batch_id"], replace_all_touched=True)
        return 0
    rows = rows.persist()  # the fold feeds both the count and the write
    try:
        dropped = rows.filter(_expired(horizon_seq)).count()
        store.commit(
            rows.filter(~_expired(horizon_seq)), buckets, prev["batch_id"],
            replace_all_touched=True,
        )
    finally:
        rows.unpersist()
    return dropped


def _expired(horizon_seq: int):
    return F.col("is_deleted") & (F.col("last_seq") <= F.lit(horizon_seq))


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

    The candidate buckets come from a NARROW scan of the raw files (no
    fold, no shuffle): a bucket can hold an expired tombstone in the
    folded view only if one of its files holds a tombstone with
    ``last_seq <= horizon_seq``. Only those buckets are folded, by
    `compact`, into one base file without their expired tombstones, so
    no older delta file of the bucket survives to resurrect the key; a
    bucket whose raw tombstone was already superseded is folded too,
    which drops the superseded row. Returns the number of tombstones
    dropped (counted in the folded view).

    Replay-safety is proven in tests/test_streaming.py::
    test_tombstone_gc_* (parametrized over both protocols): fold N
    batches, compact, replay old batches → state identical, and the raw
    snapshot hash-matches the live fold (no tombstone survives)."""
    raw = _raw_rows(spark, store.state_dir, store.latest_manifest(), store.n_buckets)
    if raw is None:
        return 0
    candidates = (
        raw.filter(_expired(horizon_seq)).select("bucket").distinct().collect()
    )  # ≤ n_buckets rows — bounded metadata
    return compact(store, spark, sorted(r["bucket"] for r in candidates), horizon_seq)


def merge_commit(
    store, spark: SparkSession, updates: DataFrame, batch_id: int
) -> None:
    """THE snapshot commit, shared by `tx_snapshot_sink`, the REST serve
    loop (serving/rest_api.py) and the Delta source operators: write
    ``updates`` (``UPDATES_SCHEMA`` rows) repartitioned by bucket — one
    delta file per bucket they fall in — and publish them as ONE atomic
    append commit recording ``batch_id``; the touched buckets are taken
    from the files the commit wrote. Current state is not read —
    readers fold base + deltas with `lww_merge` — with one exception,
    compaction: a bucket whose list already holds ``MAX_BUCKET_FILES``
    files is compacted by this commit. Its files join the batch's rows
    ahead of the bucket exchange, are folded, and replace the list with
    one base file, inside the same write. So no list exceeds
    ``MAX_BUCKET_FILES`` files, and a micro-batch stays one Spark job
    when it compacts.

    Contract on ``last_seq`` (the one tie rule of the store): two rows
    of a key, in one batch or across commits, never share a
    ``last_seq`` unless they are the same write emitted again (the
    stream re-emits a key's unchanged folded row when a late event
    loses; a replayed batch is skipped before it gets here). Every
    producer keeps it: the stream's seqs are the change log's, the
    serve loop numbers its rows ``flush_no * SEQ_STRIDE + request
    order``, the Delta source operators commit one row per key per
    batch at distinct seqs. Which of two DIFFERENT rows at one
    ``last_seq`` a fold keeps is unspecified — `lww_merge` and the
    serve loop's pyarrow fold may pick differently."""
    rows = updates.select(*UPDATE_COLS).withColumn(
        "bucket", bucket_expr(store.n_buckets)
    )
    prev = store.latest_manifest() or {"buckets": {}}
    full = sorted(
        int(b) for b, fl in prev["buckets"].items() if len(fl) >= MAX_BUCKET_FILES
    )
    if not full:
        store.commit(rows.repartition("bucket"), None, batch_id)
        return
    # a full bucket is compacted IN this commit: its files join the
    # batch rows ahead of the bucket exchange, and the fold runs inside
    # the one write (other buckets' rows are folded within the batch
    # only, and their new file is appended as usual)
    raw = _raw_rows(
        spark,
        store.state_dir,
        {"buckets": {str(b): prev["buckets"][str(b)] for b in full}},
        store.n_buckets,
    )
    folded = lww_merge(rows.unionByName(raw).repartition("bucket"))
    store.commit(
        folded.select(*UPDATE_COLS, "bucket"), full, batch_id,
        replace_all_touched=True,
    )


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
    each micro-batch's updates are appended by `merge_commit` as
    per-bucket delta files, readers fold them with `lww_merge` (keyed LWW
    by last_seq, tombstones retained), and a reader sees the previous
    manifest until the instant the new one is published. Without a TTL
    a data micro-batch is ONE Spark job: the upstream stateful fold and
    the delta-file write run together.

    ``on_before_commit(batch_id)`` is a fault-injection seam for the
    crash tests — it runs after the replay skip and the TTL contract
    check, and BEFORE the single fold + write job of `merge_commit`
    writes any data file. A crash between the data-file write and
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
        if tombstone_ttl_seqs is None:
            if on_before_commit is not None:
                on_before_commit(batch_id)
            merge_commit(store, spark, batch_df, batch_id)
            return
        if frontier["max"] is None and prev is not None:
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
        # persisted as a projection: Spark cannot cache the bare
        # foreachBatch frame of a stateful query (InMemoryRelation fails
        # with "key not found" on its output attributes)
        batch_df = batch_df.withColumn("bucket", bucket_of).persist()
        try:
            # Enforce the watermark CONTRACT before committing, not just
            # assume it: ttl promises no update arrives more than ttl
            # seqs late, and every tombstone at or below frontier - ttl
            # is already physically gone — a batch row at or below that
            # horizon could silently resurrect a deleted key (its
            # suppressing tombstone no longer exists to win the LWW
            # fold). One bounded 1-row aggregate yields both ends of the
            # batch's seq range (both None for an empty batch); a
            # violation fails the stream loudly pre-commit rather than
            # publishing corrupt state (round-8 advice).
            agg = batch_df.agg(
                F.min("last_seq").alias("mn"), F.max("last_seq").alias("mx")
            ).collect()[0]
            mn, mx = agg["mn"], agg["mx"]
            if mn is None:
                return
            if (
                frontier["max"] is not None
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
            merge_commit(store, spark, batch_df, batch_id)
            # live retention (docstring): the pre-commit aggregate
            # advances the seq watermark, then tombstones behind
            # frontier - ttl are compacted — an ordinary commit over
            # only the buckets holding one
            if frontier["max"] is None or mx > frontier["max"]:
                frontier["max"] = mx
            # durable BEFORE the compaction it licenses — the restart
            # rehydration above depends on this ordering
            _write_frontier(state_dir, frontier["max"])
            compact_tombstones(store, spark, frontier["max"] - tombstone_ttl_seqs)
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

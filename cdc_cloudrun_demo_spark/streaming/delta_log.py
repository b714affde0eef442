"""Delta Lake transaction-log backend for the tx snapshot sink.

``TxSnapshotStore`` (tx_snapshot.py) proves the atomic-commit contract
with a bespoke manifest pointer. This module proves the SAME contract —
same interface, same tests — against the public Delta Lake table
protocol (delta-io/delta PROTOCOL.md), implemented from the spec:

* **Log.** ``_delta_log/<v0-padded-20>.json`` holds one JSON action per
  line. Version 0 carries ``protocol`` + ``metaData`` (schema string,
  ``partitionColumns=["bucket"]``, parquet format). Every commit carries
  a ``txn`` action (``appId``/``version``) — Delta's idempotent-writer
  primitive, which maps 1:1 onto the sink's batch_id replay-skip — plus
  ``add`` actions (path, partitionValues, size, modificationTime) for
  the new files, then ``commitInfo``. A sink commit appends
  (merge-on-read: readers fold a bucket's files with ``lww_merge``),
  plus ``remove`` actions for the files of a full bucket it folds into
  one (``tx_snapshot.merge_commit``). A compaction commit of its own
  (``tx_snapshot.compact``, also behind ``optimize``) keeps the
  ``batch_id`` and flags its removes and adds ``dataChange: false``:
  no live row changes (an expired tombstone it drops was not live).
* **Atomic publish = put-if-absent of the version file.** The spec
  requires the log store to fail if the version exists; on POSIX that is
  ``os.link`` (CAS, loser gets EEXIST), the same primitive the manifest
  backend uses — on S3 a conditional PUT.
* **Snapshot = replay.** A reader folds the actions up to version V:
  adds minus removes is the exact file set, latest metaData/protocol
  win, the txn map carries each appId's high-water batch. Never a torn
  mix — a version file either lists completely or does not exist.
* **Checkpoints.** ``gc``/maintenance writes
  ``<v>.checkpoint.parquet`` (one row per live action, the spec's
  checkpoint schema) plus ``_last_checkpoint``, so replay cost is
  O(commits since checkpoint), not O(table age); expired log JSONs are
  then deletable (Delta's log-retention) and unreferenced data files are
  vacuumed.

Data files live under ``bucket=<b>/`` Hive-style partition dirs with
globally unique names (version + per-attempt token), the spec's own
discipline: two writers racing for the same version can never collide
on a data-file name, so the CAS loser's staged files simply become
orphans no snapshot references — invisible to readers, reclaimed by
``gc``'s vacuum — and the winner's committed files are never touched.
(A deterministic per-version name would force the loser to delete or
overwrite the winner's already-committed data before the CAS even
fires — silent destruction ahead of the loud failure.)

The reference anchor is the same as tx_snapshot.py: the ``@Transactional``
boundary of MessageResource.java:19,33,45 — a reader never observes a
half-applied request. Scale: commits are O(touched buckets), reads plan
from an explicit file list (no directory listing on the data path), and
the log replay the driver performs is metadata-only (KBs per commit).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cdc_stream import N_STATE_BUCKETS, UPDATES_SCHEMA

APP_ID = "cdc-tx-snapshot-sink"  # the txn action's appId (single stream)

_LOG_FMT = "{:020d}.json"
_CKPT_FMT = "{:020d}.checkpoint.parquet"


def _now_ms() -> int:
    return int(time.time() * 1000)


def _state_schema_json(n_cols_schema: str = UPDATES_SCHEMA) -> str:
    """The table schema (updates schema + bucket partition column) as the
    Spark JSON schema string Delta's metaData requires."""
    schema = T._parse_datatype_string(n_cols_schema + ", bucket int")
    return schema.json()


class DeltaLogStore:
    """Delta-protocol implementation of the tx snapshot store interface
    (``versions`` / ``latest_manifest`` / ``manifest`` / ``read`` /
    ``commit`` / ``gc``) — see module docstring.

    Interface note: ``manifest()`` returns the same dict shape the
    manifest backend produces (``version``, ``batch_id``, ``buckets``),
    reconstructed from a log replay, so the sink and the tests are
    backend-agnostic. Versions are the manifest backend's 1-based counts;
    Delta log versions are 0-based (manifest v = delta v + 1).
    """

    def __init__(self, state_dir: str, n_buckets: int = N_STATE_BUCKETS):
        self.state_dir = state_dir
        self.n_buckets = n_buckets
        self.log_dir = os.path.join(state_dir, "_delta_log")
        # incremental-replay cache: (delta_version, folded state). A
        # replay for any v >= cached version folds only the commits in
        # between — the sink's per-batch metadata cost stays O(1) per
        # commit instead of O(versions) (Delta readers keep the same
        # in-memory snapshot and update it incrementally).
        self._cache: tuple[int, dict[str, Any]] | None = None

    # -- log resolution -----------------------------------------------------
    def _log_versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".", 1)[0])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and f.split(".", 1)[0].isdigit()
        )

    def _checkpoint_version(self) -> int | None:
        lc = os.path.join(self.log_dir, "_last_checkpoint")
        if not os.path.exists(lc):
            return None
        with open(lc) as fh:
            return int(json.load(fh)["version"])

    def _checkpoint_versions(self) -> list[int]:
        """All on-disk checkpoint versions, ascending. ``_last_checkpoint``
        is the spec's HINT (it saves a listing on object stores); the
        authoritative set is the files themselves — gc keeps a horizon
        checkpoint OLDER than the hinted one, and replaying a retained
        historical version must be able to start from it."""
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".", 1)[0])
            for f in os.listdir(self.log_dir)
            if f.endswith(".checkpoint.parquet")
        )

    def versions(self) -> list[int]:
        """Committed snapshot versions readable right now (1-based).
        A delta version v is readable iff it can be replayed: the JSON
        chain 0..v is intact, or a checkpoint c <= v exists with the
        chain c+1..v intact (log retention may have expired the head)."""
        logset = set(self._log_versions())
        readable: set[int] = set()
        v = 0
        while v in logset:  # contiguous-from-origin chain
            readable.add(v)
            v += 1
        for ckpt in self._checkpoint_versions():
            readable.add(ckpt)  # the checkpoint alone reconstructs it
            v = ckpt + 1
            while v in logset:  # contiguous-from-checkpoint chain
                readable.add(v)
                v += 1
        return sorted(v + 1 for v in readable)

    def _replay(self, upto_delta_version: int) -> dict[str, Any]:
        """Fold the log (checkpoint + JSON commits) up to and including
        ``upto_delta_version`` into a snapshot state. Incremental: a
        fold at or past the cached version starts from the cached state
        and reads only the commits in between."""
        if self._cache is not None and self._cache[0] == upto_delta_version:
            return self._cache[1]
        # newest usable checkpoint for THIS target — not the hint:
        # _last_checkpoint points at the newest checkpoint, which may be
        # PAST a retained historical version being time-traveled to
        ckpt = max(
            (c for c in self._checkpoint_versions() if c <= upto_delta_version),
            default=None,
        )
        files: dict[str, dict] = {}
        txns: dict[str, int] = {}
        meta: dict | None = None
        start = 0
        if (
            self._cache is not None
            and self._cache[0] < upto_delta_version
            and (ckpt is None or ckpt <= self._cache[0])
        ):
            cached_v, cached = self._cache
            files = dict(cached["files"])
            txns = dict(cached["txns"])
            meta = cached["metaData"]
            start = cached_v + 1
        elif ckpt is not None and ckpt <= upto_delta_version:
            import pyarrow.parquet as pq

            tbl = pq.read_table(
                os.path.join(self.log_dir, _CKPT_FMT.format(ckpt))
            ).to_pylist()
            def _demap(v):  # Arrow map<str,str> round-trips as [(k, v)]
                if isinstance(v, list) and all(
                    isinstance(x, tuple) and len(x) == 2 for x in v
                ):
                    return dict(v)
                if isinstance(v, dict):
                    return {k: _demap(x) for k, x in v.items()}
                return v

            for row in tbl:
                if row.get("add") is not None:
                    add = _demap(row["add"])
                    files[add["path"]] = add
                if row.get("txn") is not None:
                    txns[row["txn"]["appId"]] = row["txn"]["version"]
                if row.get("metaData") is not None:
                    meta = _demap(row["metaData"])
            start = ckpt + 1
        for v in range(start, upto_delta_version + 1):
            path = os.path.join(self.log_dir, _LOG_FMT.format(v))
            if not os.path.exists(path):
                raise ValueError(
                    f"no committed snapshot v{v + 1}; log file missing "
                    "(expired by retention or never committed)"
                )
            with open(path) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "add" in action:
                        files[action["add"]["path"]] = action["add"]
                    elif "remove" in action:
                        files.pop(action["remove"]["path"], None)
                    elif "txn" in action:
                        txns[action["txn"]["appId"]] = action["txn"]["version"]
                    elif "metaData" in action:
                        meta = action["metaData"]
        state = {"files": files, "txns": txns, "metaData": meta}
        if self._cache is None or upto_delta_version >= self._cache[0]:
            self._cache = (upto_delta_version, state)
        return state

    # -- manifest-compatible interface --------------------------------------
    def latest_manifest(self) -> dict | None:
        return self.manifest(None)

    def manifest(self, version: int | None) -> dict | None:
        versions = self.versions()
        if not versions:
            return None
        if version is None:
            version = versions[-1]
        elif version not in versions:
            raise ValueError(f"no committed snapshot v{version}; have {versions}")
        state = self._replay(version - 1)
        buckets: dict[str, list[str]] = {}
        for path, add in sorted(state["files"].items()):
            b = add["partitionValues"]["bucket"]
            buckets.setdefault(b, []).append(path)
        return {
            "version": version,
            "batch_id": state["txns"].get(APP_ID, -1),
            "buckets": buckets,
        }

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """A committed snapshot as a DataFrame — exactly the replayed
        file set (shared reader: tx_snapshot.read_manifest_files)."""
        from .tx_snapshot import read_manifest_files

        return read_manifest_files(
            spark, self.state_dir, self.manifest(version), self.n_buckets
        )

    # -- commit -------------------------------------------------------------
    def _initial_actions(self) -> list[dict]:
        """protocol + metaData for delta version 0 (spec: both required
        in the first commit)."""
        return [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _state_schema_json(),
                    "partitionColumns": ["bucket"],
                    "configuration": {},
                }
            },
        ]

    def commit(
        self,
        rows: DataFrame,
        touched: list[int] | None,
        batch_id: int,
        replace_all_touched: bool = False,
    ) -> list[int]:
        """Stage new data files, then publish the next log version via
        put-if-absent. Same semantics as ``TxSnapshotStore.commit``: by
        default an APPEND — ``add`` actions for the new files and no
        ``remove``; with ``replace_all_touched`` (compaction) every
        previous file of each bucket in ``touched`` is removed as well,
        and other buckets' new files are appended. A commit that
        keeps the previous ``batch_id`` (`tx_snapshot.compact`) is a
        rewrite of already-folded rows, logged as OPTIMIZE with
        ``dataChange: false`` so change feeds skip it; a commit that
        brings a new batch is a data change. Crash before the publish ⇒
        staged/moved files no version references — invisible to every
        reader; the retry writes FRESH uniquely-named files (never
        touching anything already on disk) and the crashed attempt's
        orphans wait for ``gc``'s vacuum. A concurrent writer racing for
        the same version loses the CAS loudly AFTER staging only its own
        uniquely-named files — the winner's committed data is never
        deleted or overwritten. Returns the buckets whose file sets
        changed."""
        prev = self.latest_manifest()
        delta_v = 0 if prev is None else prev["version"]
        data_change = prev is None or batch_id != prev["batch_id"]
        adds = self._stage(
            delta_v,
            lambda d: rows.write.mode("overwrite").partitionBy("bucket").parquet(d),
            data_change,
        )
        replaced = sorted(touched) if replace_all_touched else []
        removes = self._removes(prev, replaced, data_change)
        changed = sorted(
            set(replaced)
            | {int(a["add"]["partitionValues"]["bucket"]) for a in adds}
        )
        actions: list[dict] = []
        if delta_v == 0:
            actions.extend(self._initial_actions())
        actions.append({"txn": {"appId": APP_ID, "version": batch_id}})
        actions.extend(removes)
        actions.extend(adds)
        if not data_change:
            operation = "OPTIMIZE"
        elif delta_v:
            operation = "STREAMING UPDATE"
        else:
            operation = "CREATE TABLE AS SELECT"
        actions.append(
            {
                "commitInfo": {
                    "operation": operation,
                    "operationParameters": {"touchedBuckets": len(changed)},
                    "timestamp": _now_ms(),
                }
            }
        )
        self._publish(delta_v, actions, adds)
        # the spec's cadence: checkpoint every 10 commits so a cold
        # reader's replay is O(commits since checkpoint), not O(table
        # age), without waiting for a maintenance gc()
        if delta_v > 0 and delta_v % 10 == 0:
            self._write_checkpoint(delta_v)
        return changed

    def _stage(self, delta_v: int, write, data_change: bool) -> list[dict]:
        """Run ``write(staging_dir)`` (a Spark write partitioned by
        ``bucket``, possibly with finer partition dirs below it), then
        move every parquet part into the table's ``bucket=<b>/`` dir
        under a globally unique name (version + attempt token): no name
        can collide with a committed file or another in-flight attempt,
        so no pre-existing file is ever removed or replaced here.
        Returns the ``add`` actions, in part order within each bucket."""
        token = uuid.uuid4().hex[:12]
        staging = os.path.join(self.state_dir, f"_staging-{delta_v}-{token}")
        shutil.rmtree(staging, ignore_errors=True)
        write(staging)
        now_ms = _now_ms()
        adds: list[dict] = []
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("bucket="):
                continue
            b = entry.split("=", 1)[1]
            part_dir = os.path.join(self.state_dir, entry)
            os.makedirs(part_dir, exist_ok=True)
            parts = sorted(
                os.path.join(root, f)
                for root, _dirs, files in os.walk(os.path.join(staging, entry))
                for f in files
                if f.endswith(".parquet")
            )
            for i, src in enumerate(parts):
                name = f"part-{delta_v:020d}-{i:05d}-{token}.snappy.parquet"
                dst = os.path.join(part_dir, name)
                os.replace(src, dst)
                adds.append(
                    {
                        "add": {
                            "path": f"{entry}/{name}",
                            "partitionValues": {"bucket": b},
                            "size": os.path.getsize(dst),
                            "modificationTime": now_ms,
                            "dataChange": data_change,
                        }
                    }
                )
        shutil.rmtree(staging, ignore_errors=True)
        return adds

    @staticmethod
    def _removes(prev: dict | None, buckets, data_change: bool) -> list[dict]:
        """``remove`` actions for every file ``prev`` lists in ``buckets``."""
        now_ms = _now_ms()
        return [
            {
                "remove": {
                    "path": old,
                    "deletionTimestamp": now_ms,
                    "dataChange": data_change,
                }
            }
            for b in buckets
            for old in (prev or {"buckets": {}})["buckets"].get(str(b), [])
        ]

    def _publish(self, delta_v: int, actions: list[dict], adds: list[dict]) -> None:
        """Publish one log version via put-if-absent (the spec's commit
        CAS). On a lost race, reclaim exactly the uniquely-named files
        this attempt staged in (the winner's data is never touched) and
        surface the conflict loudly — the store is single-writer by
        contract."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".{delta_v:020d}.json.tmp")
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(self.log_dir, _LOG_FMT.format(delta_v))
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            for a in adds:
                try:
                    os.remove(os.path.join(self.state_dir, a["add"]["path"]))
                except OSError:
                    pass
            raise RuntimeError(
                f"concurrent commit detected: delta log version {delta_v} "
                "already published by another writer; this store is "
                "single-writer"
            ) from e
        finally:
            os.unlink(tmp)

    def change_feed(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level changes AFTER ``from_version`` up to ``to_version``
        (default newest) — the Delta Change Data Feed shape, derived by
        replay instead of stored _change_data files: for each commit,
        the snapshots at v-1 and v are diffed by key over ONLY the
        buckets that commit's ``dataChange: true`` adds touched (file
        bookkeeping names them; untouched buckets can't differ). A
        commit whose actions are all ``dataChange: false`` (OPTIMIZE)
        emits nothing — the flag exists precisely so incremental
        consumers skip byte movement. Output: (version, change_type
        ∈ insert/delete/update_preimage/update_postimage, id, content,
        last_seq); a key whose tombstone flag flips reads as
        delete/insert, matching the LWW fold's semantics. Per-version
        cost is O(touched-bucket rows), never the table; the version
        loop is bounded by the retained log."""
        versions = self.versions()
        latest = versions[-1] if versions else 0
        # Out-of-range versions ERROR instead of yielding an empty feed:
        # a caller polling with a too-new from_version would otherwise
        # get output indistinguishable from a quiescent table (real
        # Delta CDF errors on versions beyond the latest commit —
        # round-9 advice). from_version == latest is the legal
        # caught-up poll and yields empty.
        if from_version > latest:
            raise ValueError(
                f"change_feed from_version {from_version} is beyond the "
                f"latest committed version {latest}"
            )
        if to_version is None:
            to_version = versions[-1] if versions else from_version
        elif to_version > latest:
            raise ValueError(
                f"change_feed to_version {to_version} is beyond the "
                f"latest committed version {latest}"
            )
        # A change at version v is derived by diffing v-1 → v, so the
        # whole requested range must sit inside the retained log: after
        # log GC, diffing against a missing v-1 would fabricate
        # whole-bucket "insert" rows for what were updates/deletes.
        # Real Delta CDF errors on an unservable range; so do we
        # (round-8 advice).
        if versions and from_version < to_version:
            servable = from_version >= versions[0] or (
                from_version == 0 and versions[0] == 1
            )
            if not servable:
                raise ValueError(
                    f"change_feed range ({from_version}, {to_version}] "
                    f"precedes the oldest retained log version "
                    f"{versions[0]}; changes before it are not servable "
                    "after log retention"
                )
        out: DataFrame | None = None
        for v in versions:
            if not (from_version < v <= to_version):
                continue
            touched: set[str] = set()
            data_change = False
            with open(os.path.join(self.log_dir, _LOG_FMT.format(v - 1))) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    for kind in ("add", "remove"):
                        if kind in a and a[kind].get("dataChange", True):
                            data_change = True
                            if kind == "add":
                                touched.add(
                                    a[kind]["partitionValues"]["bucket"]
                                )
            if not data_change or not touched:
                continue
            tb = [int(b) for b in sorted(touched)]
            new = self.read(spark, v).filter(F.col("bucket").isin(tb))
            if v - 1 in versions:
                old = self.read(spark, v - 1).filter(F.col("bucket").isin(tb))
            elif v == 1:  # the ONLY legal void diff: the first commit ever
                old = new.filter(F.lit(False))
            else:  # defensive: a gap inside the retained log
                raise ValueError(
                    f"change_feed cannot derive version {v}: snapshot "
                    f"{v - 1} is not readable from the retained log"
                )
            o = old.select(
                F.col("id").alias("o_id"),
                F.col("content").alias("o_content"),
                F.col("last_seq").alias("o_seq"),
                F.col("is_deleted").alias("o_del"),
            )
            n = new.select("id", "content", "last_seq", "is_deleted")
            j = n.join(o, n.id == o.o_id, "full_outer")
            # eqNullSafe, not `!=`: a row differing only by NULL-vs-
            # non-NULL content must read as changed; `!=` yields NULL
            # there and the filter would drop it (round-8 advice).
            changed = j.filter(
                F.col("o_id").isNull()
                | F.col("id").isNull()
                | ~F.col("content").eqNullSafe(F.col("o_content"))
                | ~F.col("last_seq").eqNullSafe(F.col("o_seq"))
                | ~F.col("is_deleted").eqNullSafe(F.col("o_del"))
            )
            was_live = F.col("o_id").isNotNull() & ~F.col("o_del")
            is_live = F.col("id").isNotNull() & ~F.col("is_deleted")
            ins = changed.filter(is_live & ~was_live).select(
                F.lit(v).alias("version"),
                F.lit("insert").alias("change_type"),
                "id", "content", "last_seq",
            )
            dele = changed.filter(was_live & ~is_live).select(
                F.lit(v).alias("version"),
                F.lit("delete").alias("change_type"),
                F.col("o_id").alias("id"),
                F.col("o_content").alias("content"),
                F.col("o_seq").alias("last_seq"),  # preimage, per CDF
            )
            upd = changed.filter(was_live & is_live)
            pre = upd.select(
                F.lit(v).alias("version"),
                F.lit("update_preimage").alias("change_type"),
                F.col("o_id").alias("id"),
                F.col("o_content").alias("content"),
                F.col("o_seq").alias("last_seq"),
            )
            post = upd.select(
                F.lit(v).alias("version"),
                F.lit("update_postimage").alias("change_type"),
                "id", "content", "last_seq",
            )
            part = ins.unionByName(dele).unionByName(pre).unionByName(post)
            out = part if out is None else out.unionByName(part)
        if out is None:
            return spark.createDataFrame(
                [], "version int, change_type string, id long,"
                " content string, last_seq long"
            )
        return out

    # -- maintenance --------------------------------------------------------
    def optimize(self, spark: SparkSession, max_files_per_bucket: int = 1) -> int:
        """The spec's OPTIMIZE (bin-packing compaction): fold every
        bucket holding more than ``max_files_per_bucket`` data files
        into one file through `tx_snapshot.compact` — the same
        compaction the sink runs — and publish the swap as a log version
        whose remove+add actions carry ``dataChange: false``, the
        protocol's marker that the commit moved BYTES, not rows, so
        incremental consumers (streams, change feeds) skip it instead of
        re-emitting the table. The folded view is identical before and
        after (hash-proven by `source_delta_optimize`); superseded rows
        are dropped from the files, and time travel to pre-OPTIMIZE
        versions keeps working until vacuum reclaims the old files.
        Returns the number of files compacted away. Reference anchor:
        delta-io PROTOCOL.md dataChange semantics; the local analog of
        `layout_compaction_plan`'s bin-packing, executed
        transactionally."""
        from .tx_snapshot import compact

        prev = self.latest_manifest()
        if prev is None:
            return 0
        frag = {
            b: fl
            for b, fl in prev["buckets"].items()
            if len(fl) > max_files_per_bucket
        }
        compact(self, spark, sorted(int(b) for b in frag))
        return sum(len(fl) for fl in frag.values())

    def optimize_zorder(
        self,
        spark: SparkSession,
        zorder_by: tuple[str, str] = ("id", "last_seq"),
        files_per_bucket: int = 4,
    ) -> int:
        """OPTIMIZE ZORDER: rewrite EVERY bucket's data clustered by the
        Morton interleave of two integer columns, cut into
        ``files_per_bucket`` z-range files per bucket — so each
        rewritten file covers a tight [min,max] of BOTH clustering
        columns and a range scan on either prunes files from parquet
        footer stats alone (Delta's OPTIMIZE ZORDER BY). The rewrite
        reads the folded snapshot (`read`), so superseded rows are
        dropped as in plain OPTIMIZE, and the commit is the same
        remove+add with ``dataChange: false`` — the folded view is
        unchanged, so snapshot content is bit-identical (hash-proven by
        `source_delta_optimize_zorder`) and change feeds skip it.

        Plan shape: the reader's fold, then one tiny global min/max
        aggregate of the two columns broadcasts back onto a narrow
        per-row zkey expression (the `layout_zorder_key` discipline — no
        global sort, no range exchange); file assignment is exact integer division of the
        zkey span, and one repartition on (bucket, zfile) lands each
        output file's rows in exactly one task. Returns the number of
        files the rewrite replaced."""
        from ..operators.layout import _BITS, _interleave_sql

        prev = self.latest_manifest()
        if prev is None:
            return 0
        old_files = {b: fl for b, fl in prev["buckets"].items() if fl}
        if not old_files:
            return 0
        delta_v = prev["version"]
        merged = self.read(spark)  # folded: superseded rows are dropped
        ca, cb = zorder_by
        bounds = merged.agg(
            F.min(ca).alias("a_mn"),
            F.max(ca).alias("a_mx"),
            F.min(cb).alias("b_mn"),
            F.max(cb).alias("b_mx"),
        )
        scale = (1 << _BITS) - 1
        # widen BEFORE the multiply: zorder_by accepts arbitrary column
        # pairs, and a 32-bit INT with a span above ~32k would overflow
        # the non-ANSI multiply silently and scramble z-keys (round-9
        # advice); the store's own (id, last_seq) are longs either way
        na = (
            f"CAST({ca} - a_mn AS BIGINT) * {scale}"
            f" div greatest(CAST(a_mx - a_mn AS BIGINT), 1)"
        )
        nb = (
            f"CAST({cb} - b_mn AS BIGINT) * {scale}"
            f" div greatest(CAST(b_mx - b_mn AS BIGINT), 1)"
        )
        # NULL clustering values land deterministically in z-range 0
        # (a NULL zkey would otherwise become a corrupt hive partition)
        zkey = F.coalesce(
            F.expr(_interleave_sql(f"({na})", f"({nb})", "fn")).cast("long"),
            F.lit(0),
        )
        zmax = (1 << (2 * _BITS)) - 1
        zfile = F.expr(
            f"least({files_per_bucket - 1},"
            f" CAST(__zkey * {files_per_bucket} AS BIGINT) div {zmax + 1})"
        )
        clustered = (
            merged.crossJoin(F.broadcast(bounds))
            .withColumn("__zkey", zkey)
            .withColumn("zfile", zfile)
            .drop("a_mn", "a_mx", "b_mn", "b_mx")
            .repartition(
                len(old_files) * files_per_bucket, "bucket", "zfile"
            )
            .sortWithinPartitions("bucket", "zfile", "__zkey")
            .drop("__zkey")  # narrow projection keeps the task-local order
        )
        adds = self._stage(
            delta_v,
            lambda d: clustered.write.mode("overwrite")
            .partitionBy("bucket", "zfile")
            .parquet(d),
            data_change=False,
        )
        actions = (
            self._removes(prev, sorted(old_files), data_change=False)
            + adds
            + [
                {
                    "commitInfo": {
                        "operation": "OPTIMIZE",
                        "operationParameters": {
                            "zOrderBy": list(zorder_by),
                            "rewrittenBuckets": len(old_files),
                        },
                        "timestamp": _now_ms(),
                    }
                }
            ]
        )
        self._publish(delta_v, actions, adds)
        return sum(len(fl) for fl in old_files.values())

    def _write_checkpoint(self, delta_v: int) -> None:
        """The spec's checkpoint: one parquet row per live action at
        ``delta_v`` (add/txn/metaData/protocol columns), then
        ``_last_checkpoint`` points readers at it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        state = self._replay(delta_v)
        rows: list[dict] = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": state["metaData"]},
        ]
        for app, v in sorted(state["txns"].items()):
            rows.append({"txn": {"appId": app, "version": v}})
        for _, add in sorted(state["files"].items()):
            rows.append({"add": add})
        # explicit Arrow schema: the spec types partitionValues /
        # configuration / format.options as map<string,string> (pylist
        # inference would see untyped empty structs and fail)
        str_map = pa.map_(pa.string(), pa.string())
        schema = pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32())]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            (
                                "format",
                                pa.struct(
                                    [("provider", pa.string()),
                                     ("options", str_map)]
                                ),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            ("configuration", str_map),
                        ]
                    ),
                ),
                pa.field(
                    "txn",
                    pa.struct([("appId", pa.string()), ("version", pa.int64())]),
                ),
                pa.field(
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("partitionValues", str_map),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
            ]
        )
        cols = ["protocol", "metaData", "txn", "add"]
        tbl = pa.Table.from_pylist(
            [{c: r.get(c) for c in cols} for r in rows], schema=schema
        )
        tmp = os.path.join(self.log_dir, f".ckpt-{delta_v}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(self.log_dir, _CKPT_FMT.format(delta_v)))
        # the pointer is FORWARD-ONLY: gc writes a retention-horizon
        # checkpoint that may be OLDER than the newest auto checkpoint,
        # and repointing the hint backward would make every cold replay
        # fold more JSON commits than necessary (round-7 advice)
        cur = self._checkpoint_version()
        if cur is None or delta_v > cur:
            lc_tmp = os.path.join(self.log_dir, "._last_checkpoint.tmp")
            with open(lc_tmp, "w") as fh:
                json.dump({"version": delta_v, "size": len(rows)}, fh)
            os.replace(lc_tmp, os.path.join(self.log_dir, "_last_checkpoint"))

    def gc(self, retain_versions: int = 1) -> int:
        """Vacuum + log retention: checkpoint the newest version, delete
        data files referenced by NONE of the newest ``retain_versions``
        snapshots, and expire the log JSONs (and stale checkpoints)
        before the retention window. Returns data files removed."""
        versions = self.versions()
        if not versions:
            return 0
        retain_versions = max(1, retain_versions)
        keep = versions[-retain_versions:]
        live: set[str] = set()
        for v in keep:
            for fl in self.manifest(v)["buckets"].values():
                live.update(fl)
        # Retention needs a checkpoint at EXACTLY the oldest retained
        # snapshot's delta version (keep[0]-1): the JSONs before it are
        # about to expire, so that version — and every retained version
        # after it, whose chain from this checkpoint stays intact — must
        # be replayable from it. Skip the write when it already exists
        # (idempotent re-gc), and never when only NEWER checkpoints
        # exist — those can't serve the oldest retained version. The
        # _last_checkpoint hint stays forward-only (_write_checkpoint),
        # so this horizon checkpoint never degrades cold replays of the
        # head (round-7 advice).
        if keep[0] - 1 > 0 and keep[0] - 1 not in self._checkpoint_versions():
            self._write_checkpoint(keep[0] - 1)  # oldest retained snapshot
        removed = 0
        for entry in os.listdir(self.state_dir):
            if not entry.startswith("bucket="):
                continue
            part_dir = os.path.join(self.state_dir, entry)
            for f in os.listdir(part_dir):
                rel = f"{entry}/{f}"
                if f.endswith(".parquet") and rel not in live:
                    os.remove(os.path.join(part_dir, f))
                    removed += 1
        for v in self._log_versions():
            if v < keep[0] - 1:
                os.remove(os.path.join(self.log_dir, _LOG_FMT.format(v)))
        for f in os.listdir(self.log_dir):
            if f.endswith(".checkpoint.parquet"):
                if int(f.split(".", 1)[0]) < keep[0] - 1:
                    os.remove(os.path.join(self.log_dir, f))
        return removed

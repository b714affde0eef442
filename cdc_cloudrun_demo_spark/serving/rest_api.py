"""A long-running HTTP serve loop over the engine's CDC primitives —
the executable analog of the reference's one user-facing surface
(``MessageController.java:17-45``: GET/POST ``/messages``, GET/PUT/
DELETE ``/messages/{id}`` over the ``Message(id, content)`` entity,
``Message.java``).

Architecture (the served table IS the CDC materializer's snapshot):

- **Writes are change events, not mutations.** Every mutating request
  appends an (id, content, is_deleted, request time) event to an
  in-memory WAL buffer; the buffer FLUSHES on the next read, an
  explicit ``flush()`` or a graceful ``close()`` — a thousand writes
  cost one commit, never one Spark job per request.
- **A flush is one atomic snapshot commit.** The buffer becomes
  ``UPDATES_SCHEMA`` rows (``last_seq`` = flush number × 1,000,000 +
  request order) and goes through the SAME commit as the streaming
  materializer (`tx_snapshot.merge_commit`) into a `TxSnapshotStore`
  under ``log_dir``: the rows are APPENDED as one delta file per
  touched bucket, without reading current state; a bucket already
  listing ``MAX_BUCKET_FILES`` files is folded into one base file by
  the same commit. Readers see manifest version N or N+1 in full — the
  reference's ``@Transactional`` visibility.
- **Reads need no Spark job.** The driver keeps the bounded PK index
  ``id → bucket``. A point read resolves its bucket's file list in the
  newest manifest under the mutex, then reads that bucket's base +
  delta files with pyarrow outside it, keeping the newest ``last_seq``
  per id (`lww_merge`'s rule for Spark readers), cached by the
  bucket's file-list tuple. A commit carries untouched buckets' file
  lists verbatim, so a write reloads only the buckets it touched.
  ``GET /messages`` reads every bucket of ONE manifest, so it never
  mixes versions.
- **Recovery is the newest manifest.** A restart over the same
  ``log_dir`` rebuilds ``id → bucket`` from its live rows, the flush
  counter from its ``batch_id`` and the next generated key from the
  max id in it, tombstones included (IDENTITY: max id EVER assigned +
  1, never reused after a delete — ``Message.java:@GeneratedValue``).
  That holds because the server never drops tombstones: its
  compactions fold a bucket's files and keep them. At 100 TB
  the PK index would move to a state store / bloom probe — the
  contract documented in docs/SCALE.md.
- **Concurrent reads, single-writer state.** The loop is a
  ``ThreadingHTTPServer`` (the reference's Cloud Run envelope is 80
  concurrent requests per container, ``terraform/cloud_run.tf`` /
  ``README.md:293``): requests overlap at the HTTP layer, while ONE
  mutex serializes exactly the state transitions (WAL append, flush +
  commit, PK-index/counter updates). Readers leave the lock BEFORE
  their file read: committed data files are immutable, so a resolved
  file list stays valid however many commits follow.

Endpoint map (reference parity):

    GET    /messages          → findAll()        (S1)
    POST   /messages          → save(new)        (S3, generated key)
    GET    /messages/{id}     → findById()       (S2; null body if absent)
    PUT    /messages/{id}     → update content   (S4; null if absent,
                                                  never creates)
    DELETE /messages/{id}     → deleteById()     (S5, tombstone)
    GET    /healthz           → liveness + snapshot version (S8)
    GET    /db-info[/test]    → DatabaseInfoResource.java (S6 count,
                                S7 first-row, S9 backend identity)
    GET    /metrics[/startup|/memory] → MetricsController.java
                                (M1 derived scalars, M2 nested maps)
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.cdc_stream import UPDATES_SCHEMA, bucket_expr
from ..streaming.tx_snapshot import TxSnapshotStore, merge_commit

# a flush numbers its rows flush_no * SEQ_STRIDE + request order, so the
# WAL buffer is flushed before it holds SEQ_STRIDE events
SEQ_STRIDE = 1_000_000
_READ_COLS = ["id", "content", "last_seq", "is_deleted"]


def _read_rows(state_dir: str, files: tuple[str, ...]):
    """(id, content, is_deleted) of a bucket's committed base + delta
    files, one row per id: the newest ``last_seq`` wins, tombstones
    kept — a plain pyarrow read, no Spark job. Rows of one id never
    share a ``last_seq`` unless identical (`tx_snapshot.merge_commit`'s
    contract), so no tie rule is needed here."""
    import pyarrow.parquet as pq

    newest: dict = {}
    for f in files:
        t = pq.ParquetFile(os.path.join(state_dir, f)).read(columns=_READ_COLS)
        for i, c, seq, d in zip(*(t.column(k).to_pylist() for k in _READ_COLS)):
            if i not in newest or seq >= newest[i][1]:
                newest[i] = (c, seq, d)
    for i, (c, _seq, d) in newest.items():
        yield i, c, d


def _rss_mb() -> float:
    """This process's CURRENT resident set (VmRSS), in MB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _phys_mem_mb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20


class MessageServer:
    """The serve loop. ``seed`` (optional DataFrame of (id, content))
    initializes an EMPTY store with insert events — re-seeding an
    existing store is ignored, so restart recovery is
    snapshot-authoritative. ``port=0`` binds an ephemeral port (read it
    back from ``.port``)."""

    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        seed: DataFrame | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        t_boot = time.monotonic()
        self.spark = spark
        self.log_dir = log_dir
        self._store = TxSnapshotStore(log_dir)
        # ONE mutex serializes state transitions; readers read immutable
        # committed files OUTSIDE it (module docstring)
        self._mu = threading.RLock()
        self._stats_mu = threading.Lock()  # the counters below
        self._routes: Counter = Counter()
        self._flushes = self._commits = 0
        self._commit_ms = 0.0
        self._hits = self._misses = 0
        self._pending: list[tuple] = []
        # the PK index: live id -> bucket (None until its first flush)
        self._live: dict[int, int | None] = {}
        # bucket -> (file-list tuple, {id: content} of its live rows)
        self._cache: dict[int, tuple[tuple[str, ...], dict]] = {}
        m = self._store.latest_manifest()
        self._set_manifest(m)
        if m is None:
            self._flush_no, self._next_id = 0, 1
            if seed is not None:
                # the seed is the message table itself — bounded by the
                # serving contract (the reference serves this table as
                # one JSON response); see VETTED in tests/test_scale_lint
                for r in seed.select("id", "content").collect():
                    self._enqueue(r["id"], r["content"], False)
                    self._live[r["id"]] = None
                    self._next_id = max(self._next_id, r["id"] + 1)
        else:
            # recover the bounded metadata from the newest manifest: the
            # PK index, the flush counter and the max id EVER assigned
            # (IDENTITY: tombstones are never compacted here, so a
            # deleted max id still counts)
            self._flush_no = m["batch_id"] + 1
            ever = 0
            for b, files in self._files.items():
                rows = {}
                for i, c, deleted in _read_rows(log_dir, files):
                    ever = max(ever, i)
                    if not deleted:
                        rows[i] = c
                        self._live[i] = b
                self._cache[b] = (files, rows)
            self._next_id = ever + 1
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, route, obj, status=200):
                with server._stats_mu:
                    server._routes[route] += 1
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _id(self):
                parts = self.path.rstrip("/").split("/")
                try:
                    return int(parts[-1])
                except ValueError:
                    return None

            def _body(self):
                n = int(self.headers.get("Content-Length", 0))
                return json.loads(self.rfile.read(n) or b"{}")

            def handle_one_request(self):
                # a malformed request must answer with a status, not
                # kill the connection with a traceback (Spring returns
                # 400 for unparseable bodies)
                try:
                    super().handle_one_request()
                except json.JSONDecodeError:
                    self._reply("error", {"error": "malformed JSON body"}, 400)
                except Exception as e:  # pragma: no cover - defensive
                    try:
                        self._reply("error", {"error": str(e)[:200]}, 500)
                    except Exception:
                        pass

            def do_GET(self):
                path = self.path.rstrip("/")
                if self.path == "/healthz":
                    self._reply(
                        "GET /healthz",
                        {"status": "UP", "log_version": server._version},
                    )
                elif path == "/metrics":
                    self._reply("GET /metrics", server.metrics())
                elif path == "/metrics/startup":
                    # MetricsController.java:89-100 sub-view
                    m = server.metrics()
                    self._reply(
                        "GET /metrics/startup",
                        {
                            k: m[k]
                            for k in (
                                "imageType", "startupTimeMs",
                                "startupTimeSeconds", "profile",
                            )
                        },
                    )
                elif path == "/metrics/memory":
                    # MetricsController.java:102-118 sub-view
                    self._reply("GET /metrics/memory", server.metrics()["memory"])
                elif path == "/db-info":
                    self._reply("GET /db-info", server.db_info())
                elif path == "/db-info/test":
                    self._reply("GET /db-info/test", server.db_test())
                elif path == "/messages":
                    self._reply("GET /messages", server.find_all())
                else:
                    self._reply(
                        "GET /messages/{id}", server.find_by_id(self._id())
                    )

            def do_POST(self):
                self._reply(
                    "POST /messages", server.create(self._body().get("content"))
                )

            def do_PUT(self):
                self._reply(
                    "PUT /messages/{id}",
                    server.update(self._id(), self._body().get("content")),
                )

            def do_DELETE(self):
                server.delete(self._id())
                self._reply("DELETE /messages/{id}", None)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        self._t0_monotonic = time.monotonic()
        # recovery + bind time — the reference's applicationStartupMillis
        self._startup_ms = int((self._t0_monotonic - t_boot) * 1000)

    # -- engine side -------------------------------------------------
    def _set_manifest(self, m: dict | None) -> None:
        """Adopt a committed manifest. The file-list map is REPLACED,
        never mutated, so a reader holding the old one keeps a whole
        version."""
        self._version = 0 if m is None else m["version"]
        self._files = {
            int(b): tuple(fl) for b, fl in (m or {"buckets": {}})["buckets"].items()
        }

    def _enqueue(self, mid, content, deleted: bool) -> None:
        if len(self._pending) >= SEQ_STRIDE:
            self._flush_locked()
        self._pending.append((mid, content, deleted, datetime.now()))

    def flush(self) -> None:
        """Commit the WAL buffer as ONE atomic snapshot version. Caller
        holds or takes the state mutex; an in-flight reader's resolved
        file list stays valid (data files are immutable)."""
        with self._mu:
            self._flush_locked()

    def _flush_locked(self) -> None:
        if not self._pending:
            return
        self._flushes += 1
        t0 = time.monotonic()
        base = self._flush_no * SEQ_STRIDE
        # request order within the buffer rides last_seq — LWW needs a
        # total order, and a PUT after a POST of the same id must win
        batch = self.spark.createDataFrame(
            [(i, c, base + j, ts, d) for j, (i, c, d, ts) in enumerate(self._pending)],
            UPDATES_SCHEMA,
        ).withColumn("bucket", bucket_expr(self._store.n_buckets))
        # the PK index needs each id's bucket: one collect, bounded by
        # the buffer (< SEQ_STRIDE rows)
        bucket_of = {
            r["id"]: r["bucket"] for r in batch.select("id", "bucket").collect()
        }
        merge_commit(self._store, self.spark, batch, self._flush_no)
        self._set_manifest(self._store.latest_manifest())
        for i, b in bucket_of.items():
            if i in self._live:
                self._live[i] = b
        self._pending.clear()
        self._flush_no += 1
        with self._stats_mu:
            self._commits += 1
            self._commit_ms += (time.monotonic() - t0) * 1000.0

    def _resolve_locked(self, mid):
        """(bucket, file list) of a live id in the newest version, after
        flushing the WAL buffer; None for an absent id."""
        self._flush_locked()
        b = self._live.get(mid)
        return None if b is None else (b, self._files.get(b, ()))

    def _bucket_rows(self, b: int, files: tuple[str, ...]) -> dict:
        """{id: content} of a bucket's live rows, cached by file list."""
        hit = self._cache.get(b)
        if hit is not None and hit[0] == files:
            with self._stats_mu:
                self._hits += 1
            return hit[1]
        rows = {
            i: c for i, c, deleted in _read_rows(self.log_dir, files) if not deleted
        }
        self._cache[b] = (files, rows)
        with self._stats_mu:
            self._misses += 1
        return rows

    def _read(self, mid, where) -> dict | None:
        if where is None:
            return None  # reference returns a null body, status 200
        rows = self._bucket_rows(*where)
        return {"id": mid, "content": rows[mid]} if mid in rows else None

    # -- repository operations (MessageController.java parity) ------
    def find_all(self) -> list[dict]:
        with self._mu:
            self._flush_locked()
            files = self._files  # one version, pinned under the mutex
        rows: dict = {}
        for b, fl in files.items():  # read outside it
            rows.update(self._bucket_rows(b, fl))
        return [{"id": i, "content": rows[i]} for i in sorted(rows)]

    def find_by_id(self, mid) -> dict | None:
        with self._mu:
            where = self._resolve_locked(mid)
        return self._read(mid, where)

    def create(self, content) -> dict:
        with self._mu:
            mid = self._next_id
            self._next_id += 1
            self._enqueue(mid, content, False)
            self._live[mid] = None
        return {"id": mid, "content": content}

    def update(self, mid, content) -> dict | None:
        with self._mu:
            if mid is None or mid not in self._live:
                return None  # PUT never creates (findById().map)
            self._enqueue(mid, content, False)
        return {"id": mid, "content": content}

    def delete(self, mid) -> None:
        with self._mu:
            if mid is not None and mid in self._live:
                self._enqueue(mid, None, True)
                del self._live[mid]

    def metrics(self) -> dict:
        """`MetricsController.getMetrics` analog
        (MetricsController.java:34-88): startup/uptime, memory with
        the reference's exact formatting discipline (%.3f seconds,
        %.2f MB, %.1f%% usage — the M1 derived-metric shapes), nested
        sub-maps (M2) and an ISO timestamp — computed from THIS serve
        loop's runtime instead of a JVM MXBean. Memory is this
        process's current resident set against the machine's physical
        memory. ``serving`` carries the counters a data-engine process
        actually monitors: snapshot version, requests by route, flushes,
        commits and their total latency, and bucket-cache hits/misses."""
        from datetime import timezone

        up_ms = int((time.monotonic() - self._t0_monotonic) * 1000)
        used_mb = _rss_mb()
        max_mb = _phys_mem_mb()
        with self._stats_mu:
            routes = dict(self._routes)
            serving = {
                "logVersion": self._version,
                "requests": sum(routes.values()),
                "requestsByRoute": routes,
                "flushes": self._flushes,
                "commits": self._commits,
                "commitMsTotal": round(self._commit_ms, 3),
                "bucketCacheHits": self._hits,
                "bucketCacheMisses": self._misses,
                "liveMessages": len(self._live),
            }
        return {
            "application": "spark-cdc-engine",
            "profile": "local",
            "imageType": "JVM (Spark driver)",
            "connectionPool": "tx-snapshot-store",
            "startupTimeMs": self._startup_ms,
            "startupTimeSeconds": f"{self._startup_ms / 1000.0:.3f}",
            "uptimeMs": up_ms,
            "uptimeSeconds": f"{up_ms / 1000.0:.3f}",
            "memory": {
                "usedMB": f"{used_mb:.2f}",
                "maxMB": f"{max_mb:.2f}",
                "usagePercent": f"{used_mb * 100.0 / max_mb:.1f}%",
            },
            "serving": serving,
            "timestamp": datetime.now(timezone.utc).isoformat(),
        }

    def db_info(self) -> dict:
        """`DatabaseInfoResource.getDatabaseInfo` analog
        (DatabaseInfoResource.java:24-53): backend identity + record
        counts, from the PK index of the newest commit (S6)."""
        with self._mu:
            self._flush_locked()
            n, version = len(self._live), self._version
        return {
            "databaseProductName": "spark+tx-snapshot-store",
            "connected": True,
            "recordCounts": {"Message": n},
            "logVersion": version,
        }

    def db_test(self) -> dict:
        """`DatabaseInfoResource.testConnection` analog
        (DatabaseInfoResource.java:56-86): count + first sample record
        (S6 + S7). ``firstResult`` here is first-by-PK — deterministic
        where the reference's heap order is incidental."""
        with self._mu:
            self._flush_locked()
            n = len(self._live)
            first = min(self._live) if n else None
            where = self._resolve_locked(first)
        out: dict = {"status": "SUCCESS", "messageCount": n}
        if n > 0:
            out["sampleMessage"] = self._read(first, where)
        return out

    def close(self) -> None:
        """Stop serving, then commit the WAL buffer: a write answered
        with 200 survives a graceful close (no-op when nothing is
        pending)."""
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(10)
        with self._mu:
            self._flush_locked()
        self._cache.clear()


def _http_json(url: str, method: str = "GET", body: dict | None = None):
    import urllib.request

    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url,
        data=data,
        method=method,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read() or b"null")


def serve_message_api(
    spark: SparkSession,
    sf_dir: str,
    upd_mod: int = 7,
    upd_rem: int = 1,
    del_mod: int = 9,
    del_rem: int = 2,
    n_posts: int = 3,
) -> DataFrame:
    """The serve loop exercised END-TO-END over real HTTP — the
    registry face of the reference's REST lifecycle: seed the message
    table from the customer table (c_custkey → id, c_name → content,
    PKs non-null by the serving contract), then as an HTTP CLIENT
    update every id ≡ upd_rem (mod upd_mod), delete every id ≡ del_rem
    (mod del_mod), insert ``n_posts`` new messages (generated keys —
    max seed id + 1.., the IDENTITY discipline), and return the final
    GET /messages as a DataFrame. Every mutation traveled the socket,
    the WAL buffer, one atomic append commit through the tx sink's
    `merge_commit` and the per-bucket LWW-folding snapshot read — the
    DuckDB oracle computes the same lifecycle in closed form, so the
    served state hash-matches. Scale shape: requests are O(1) driver
    work; content state flows through one append commit per flush (the
    streaming materializer's sink), and a read loads only the buckets a
    commit changed."""
    from .._scratch import scratch_dir
    from ..catalog import load_for_compute

    seed = (
        load_for_compute(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").isNotNull())
        .select(
            F.col("c_custkey").cast("long").alias("id"),
            F.col("c_name").cast("string").alias("content"),
        )
    )
    srv = MessageServer(spark, scratch_dir("msg_api_"), seed=seed)
    try:
        base = f"http://127.0.0.1:{srv.port}/messages"
        # the request script enumerates the table's PKs client-side —
        # the reference's own benchmark clients do the same
        # (compare_services.sh drives the API over known ids)
        ids = sorted(r["id"] for r in seed.select("id").collect())
        for i in ids:
            if i % upd_mod == upd_rem:
                _http_json(
                    f"{base}/{i}", "PUT", {"content": f"updated-{i}"}
                )
        for i in ids:
            if i % del_mod == del_rem:
                _http_json(f"{base}/{i}", "DELETE")
        for j in range(1, n_posts + 1):
            created = _http_json(base, "POST", {"content": f"posted-{j}"})
            assert created["id"] == (max(ids) if ids else 0) + j
        rows = _http_json(base)
        out = spark.createDataFrame(
            [(r["id"], r["content"]) for r in rows],
            "id long, content string",
        )
        return out
    finally:
        srv.close()


def serve_db_info(
    spark: SparkSession,
    sf_dir: str,
    del_mod: int = 9,
    del_rem: int = 2,
    n_posts: int = 2,
) -> DataFrame:
    """The reference's introspection endpoint served live
    (``DatabaseInfoResource.java:56-86``, GET /db-info/test: record
    count + first sample record): seed the message table from the
    customer table, mutate it over HTTP (delete every id ≡ del_rem mod
    del_mod, then insert ``n_posts``), and return the endpoint's
    response — (status, message_count, sample_id, sample_content) —
    as a 1-row DataFrame. Count is S6 and the sample is S7, both
    answered from the snapshot commits the requests produced;
    the DuckDB oracle computes the same lifecycle in closed form."""
    from .._scratch import scratch_dir
    from ..catalog import load_for_compute

    seed = (
        load_for_compute(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").isNotNull())
        .select(
            F.col("c_custkey").cast("long").alias("id"),
            F.col("c_name").cast("string").alias("content"),
        )
    )
    srv = MessageServer(spark, scratch_dir("msg_dbinfo_"), seed=seed)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        ids = sorted(r["id"] for r in seed.select("id").collect())
        for i in ids:
            if i % del_mod == del_rem:
                _http_json(f"{base}/messages/{i}", "DELETE")
        for j in range(1, n_posts + 1):
            _http_json(
                f"{base}/messages", "POST", {"content": f"posted-{j}"}
            )
        info = _http_json(f"{base}/db-info/test")
        sample = info.get("sampleMessage") or {}
        return spark.createDataFrame(
            [
                (
                    info["status"],
                    info["messageCount"],
                    sample.get("id"),
                    sample.get("content"),
                )
            ],
            "status string, message_count long, sample_id long, "
            "sample_content string",
        )
    finally:
        srv.close()


def _db_info_oracle() -> str:
    import inspect

    d = {
        p.name: p.default
        for p in inspect.signature(serve_db_info).parameters.values()
    }
    dm, dr, np_ = d["del_mod"], d["del_rem"], d["n_posts"]
    return f"""
        WITH seed AS (
            SELECT c_custkey AS id, CAST(c_name AS VARCHAR) AS content
            FROM customer WHERE c_custkey IS NOT NULL
        ), mx AS (
            SELECT COALESCE(MAX(id), 0) AS m FROM seed
        ), kept AS (
            SELECT id, content FROM seed WHERE id % {dm} <> {dr}
        ), posted AS (
            SELECT m + i AS id, 'posted-' || CAST(i AS VARCHAR) AS content
            FROM mx CROSS JOIN (
                SELECT UNNEST(generate_series(1, {np_})) AS i
            )
        ), final AS (
            SELECT id, content FROM kept
            UNION ALL
            SELECT id, content FROM posted
        )
        SELECT 'SUCCESS' AS status,
               (SELECT COUNT(*) FROM final) AS message_count,
               f.id AS sample_id, f.content AS sample_content
        FROM (SELECT id, content FROM final ORDER BY id LIMIT 1) f
    """


def _serve_oracle() -> str:
    import inspect

    d = {
        p.name: p.default
        for p in inspect.signature(serve_message_api).parameters.values()
    }
    um, ur, dm, dr, np_ = (
        d["upd_mod"], d["upd_rem"], d["del_mod"], d["del_rem"], d["n_posts"],
    )
    return f"""
        WITH seed AS (
            SELECT c_custkey AS id, CAST(c_name AS VARCHAR) AS content
            FROM customer WHERE c_custkey IS NOT NULL
        ), mx AS (
            SELECT COALESCE(MAX(id), 0) AS m FROM seed
        ), updated AS (
            SELECT id,
                   CASE WHEN id % {um} = {ur}
                        THEN 'updated-' || CAST(id AS VARCHAR)
                        ELSE content END AS content
            FROM seed WHERE id % {dm} <> {dr}
        ), posted AS (
            SELECT m + i AS id, 'posted-' || CAST(i AS VARCHAR) AS content
            FROM mx CROSS JOIN (
                SELECT UNNEST(generate_series(1, {np_})) AS i
            )
        )
        SELECT id, content FROM updated
        UNION ALL
        SELECT id, content FROM posted
    """


QUERIES = {
    "serve_message_api": serve_message_api,
    "serve_db_info": serve_db_info,
}
ORACLES = {
    "serve_message_api": _serve_oracle(),
    "serve_db_info": _db_info_oracle(),
}

"""The REST workloads: ``serving/rest_api.py``'s ``MessageServer`` seeded
with the 15,000 ``customer`` rows (``c_custkey`` → id, ``c_name`` →
content, as ``serve_message_api`` does), driven over HTTP from this process.

- ``serve_read_mostly``: no writes; 94% ``GET /messages/{id}`` over
  Zipf-skewed keys (5% of them absent), 5% ``GET /db-info/test``, 1%
  ``GET /messages``. The state version never changes, so this isolates the
  point-read path.
- ``serve_mixed_rw``: 60% reads, 25% PUT, 10% POST, 5% DELETE over uniform
  keys; reads after writes pay the WAL flush plus a full-log LWW refold.

Each run has two timed phases after an untimed warm-up. An open loop of
seeded Poisson arrivals at a fixed rate, sent by ``nproc`` client threads,
times every request from when it was due (so a stall delays the requests
behind it); it holds ``--seconds`` worth of requests. A closed loop of
``nproc`` clients then sends whole blocks of 100 requests and measures
capacity. Every response is checked against a
client-side model of the message table; a final ``GET /messages`` must
equal the model.
"""

from __future__ import annotations

import http.client
import json
import threading
import time

import numpy as np

import datagen
from common import (
    Result,
    SparkJobs,
    cds_mapped,
    describe,
    median,
    now,
    percentile,
    retained_mb,
    rss_peak_mb,
    self_time_metrics,
    start_spark,
    stop_spark,
    tail,
)

BLOCK = 100  # requests come in blocks with the mix's exact composition
N_WARMUP = 50  # untimed closed-loop requests after setup
# offered rate (requests/s) of the open loop, and the closed-loop rate the
# seed code reaches with 4 clients (which only sizes the closed loop)
RATES = {"serve_read_mostly": 9.0, "serve_mixed_rw": 1.5}
CAPACITY = {"serve_read_mostly": 25.0, "serve_mixed_rw": 3.0}
MIXES = {
    # 94% point reads, 5% of which (4.7 → 5 in 100) ask for absent ids
    "serve_read_mostly": (("get", 0.89), ("get_absent", 0.05), ("db_test", 0.05), ("list", 0.01)),
    "serve_mixed_rw": (("get", 0.60), ("put", 0.25), ("post", 0.10), ("delete", 0.05)),
}
# A point read is a ``first()`` over the cached fold: a key in its first
# partition costs one Spark job, any other key two. A steeper skew lets the
# few hottest keys, and so the seed, decide the latency median.
ZIPF_S = 0.8
N_SETUPS = 3
HTTP_TIMEOUT_S = 120.0
READS = ("get", "db_test", "list")


# -- request generation -----------------------------------------------------


class RequestGen:
    """Seeded request stream: ``(kind, key, body)`` triples. Read-mostly
    keys are Zipf-ranked over a seeded permutation of the seed ids, with a
    share of ids that were never assigned; mixed keys are uniform over the
    seed ids."""

    def __init__(self, workload: str, rng: np.random.Generator, n_ids: int):
        self.rng = rng
        kinds, weights = zip(*MIXES[workload])
        # kinds come in shuffled blocks of 100 with the mix's exact counts,
        # so every seed offers the same composition
        self.block = [k for k, w in zip(kinds, weights) for _ in range(round(w * BLOCK))]
        self.pending: list[str] = []
        self.skewed = workload == "serve_read_mostly"
        self.n_ids = n_ids
        self.perm = rng.permutation(n_ids)
        ranks = np.arange(1, n_ids + 1, dtype=float) ** -ZIPF_S
        self.zipf_cum = np.cumsum(ranks) / ranks.sum()
        self.n = 0

    def _key(self, kind: str) -> int:
        if kind == "get_absent":
            return int(self.n_ids + self.rng.integers(0, self.n_ids))
        if self.skewed:
            rank = int(np.searchsorted(self.zipf_cum, self.rng.random()))
            return int(self.perm[min(rank, self.n_ids - 1)])
        return int(self.rng.integers(0, self.n_ids))

    def next(self) -> tuple[str, int | None, str | None]:
        if not self.pending:
            self.pending = [self.block[i] for i in self.rng.permutation(len(self.block))]
        kind = self.pending.pop()
        self.n += 1
        key = self._key(kind) if kind in ("get", "get_absent", "put", "delete") else None
        body = f"w{self.n}-{kind}" if kind in ("put", "post") else None
        return ("get" if kind == "get_absent" else kind), key, body


# -- HTTP -------------------------------------------------------------------


def http_call(port: int, kind: str, key, body):
    """One request on a fresh connection (the server speaks HTTP/1.0);
    returns the decoded JSON body."""
    method, path = {
        "get": ("GET", f"/messages/{key}"),
        "db_test": ("GET", "/db-info/test"),
        "list": ("GET", "/messages"),
        "put": ("PUT", f"/messages/{key}"),
        "post": ("POST", "/messages"),
        "delete": ("DELETE", f"/messages/{key}"),
    }[kind]
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
    try:
        payload = json.dumps({"content": body}) if body is not None else None
        conn.request(method, path, body=payload, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}")
        return json.loads(data or b"null")
    finally:
        conn.close()


# -- the client-side model ----------------------------------------------------


class Model:
    """Expected message table. Each key maps to the set of contents a read
    may return (``None`` = absent): one value, or several while writes to
    the key overlap in time. POST must return IDENTITY keys: max id ever
    assigned + 1, never reused."""

    def __init__(self, seed_rows: dict[int, str]):
        self.mu = threading.Lock()
        self.vals: dict[int, set] = {k: {v} for k, v in seed_rows.items()}
        self.last_write: dict[int, tuple[float, float]] = {}
        self.seed_max = max(seed_rows)
        self.posted: list[int] = []
        self.n_writes = 0

    def allowed(self, key) -> set:
        return self.vals.get(key, {None})

    def _apply(self, key, value, send, end) -> None:
        prev = self.last_write.get(key)
        if prev is not None and prev[1] > send:  # overlapping writes
            self.vals[key] = self.allowed(key) | {value}
        else:
            self.vals[key] = {value}
        self.last_write[key] = (send, end)

    def check(self, kind, key, body, resp, send, end) -> bool:
        """Is ``resp`` a correct answer? Acknowledged writes update the
        model."""
        with self.mu:
            if kind == "get":
                got = None if resp is None else resp.get("content")
                if resp is not None and resp.get("id") != key:
                    return False
                ok = got in self.allowed(key) or self._overlaps(key, send)
                return ok
            if kind == "list":
                return self.matches_table(resp)
            if kind == "db_test":
                live = sorted(k for k, v in self.vals.items() if v != {None})
                if self.last_write or not live:  # only checked exactly with no writes
                    return resp.get("status") == "SUCCESS"
                sample = resp.get("sampleMessage") or {}
                return (
                    resp.get("status") == "SUCCESS"
                    and resp.get("messageCount") == len(live)
                    and sample.get("id") == live[0]
                    and sample.get("content") in self.vals[live[0]]
                )
            self.n_writes += 1
            if kind == "post":
                mid = resp.get("id") if resp else None
                if not isinstance(mid, int) or mid <= self.seed_max or mid in self.vals:
                    return False
                self.posted.append(mid)
                self._apply(mid, body, send, end)
                return resp.get("content") == body
            if kind == "put":
                if resp is None:  # PUT never creates: only absent keys
                    return None in self.allowed(key) or self._overlaps(key, send)
                live = self.allowed(key) != {None} or self._overlaps(key, send)
                self._apply(key, body, send, end)
                return live and resp == {"id": key, "content": body}
            if kind == "delete":
                self._apply(key, None, send, end)
                return resp is None
        return False

    def _overlaps(self, key, send) -> bool:
        w = self.last_write.get(key)
        return w is not None and w[1] > send

    def matches_table(self, rows) -> bool:
        if not isinstance(rows, list):
            return False
        got = {r["id"]: r["content"] for r in rows}
        if len(got) != len(rows) or [r["id"] for r in rows] != sorted(got):
            return False
        for k, v in self.vals.items():
            if v == {None}:
                if k in got:
                    return False
            elif k not in got and None not in v or k in got and got[k] not in v:
                return False
        return set(got) <= set(self.vals)

    def posts_are_identity(self, first_free: int) -> bool:
        """POSTed ids are exactly first_free, first_free+1, ..."""
        return sorted(self.posted) == list(range(first_free, first_free + len(self.posted)))


# -- the traced server --------------------------------------------------------


def traced_server_class():
    """A ``MessageServer`` whose public methods record their wall time as
    ``serving`` spans, with the flush count before and after (a read during
    which it advanced paid a WAL flush and a refold)."""
    from cdc_cloudrun_demo_spark.serving.rest_api import MessageServer

    class TracedServer(MessageServer):
        calls: list[tuple]  # (method, arg, start, end, flushed)
        tracing = False

        def _timed(self, method, arg, fn, *a):
            if not self.tracing:
                return fn(*a)
            f0 = self.metrics()["serving"]["flushes"]
            t0 = now()
            out = fn(*a)
            t1 = now()
            flushed = self.metrics()["serving"]["flushes"] > f0
            self.calls.append((method, arg, t0, t1, flushed))
            return out

        def find_by_id(self, mid):
            return self._timed("get", mid, super().find_by_id, mid)

        def find_all(self):
            return self._timed("list", None, super().find_all)

        def db_test(self):
            return self._timed("db_test", None, super().db_test)

        def create(self, content):
            return self._timed("post", None, super().create, content)

        def update(self, mid, content):
            return self._timed("put", mid, super().update, mid, content)

        def delete(self, mid):
            return self._timed("delete", mid, super().delete, mid)

    TracedServer.calls = []
    return TracedServer


# -- load ---------------------------------------------------------------------


class Outcome:
    __slots__ = ("i", "kind", "key", "due", "send", "end", "ok", "traced")

    def __init__(self, i, kind, key, due, send, end, ok, traced):
        self.i, self.kind, self.key = i, kind, key
        self.due, self.send, self.end = due, send, end
        self.ok, self.traced = ok, traced


def _send(port, model, i, kind, key, body, due, traced) -> Outcome:
    send = now()
    try:
        resp = http_call(port, kind, key, body)
        end = now()
        ok = model.check(kind, key, body, resp, send, end)
    except Exception:  # refused, reset or timed out: counted as failed
        end = now()
        ok = False
    return Outcome(i, kind, key, due, send, end, bool(ok), traced)


def open_loop(port, model, schedule, n_clients, server, tracing) -> list[Outcome]:
    """Send ``schedule`` [(offset, kind, key, body)] from ``n_clients``
    threads, each request at its due time or as soon as a client frees up.
    In a trace run tracing alternates on and off in blocks of ten requests
    (the off blocks are the untraced baseline)."""
    out: list[Outcome] = []
    mu = threading.Lock()
    nxt = [0]
    t0 = now() + 0.05

    def client():
        while True:
            with mu:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(schedule):
                return
            offset, kind, key, body = schedule[i]
            due = t0 + offset
            delay = due - now()
            if delay > 0:
                time.sleep(delay)
            traced = tracing and (i // 10) % 2 == 0
            if server is not None:
                server.tracing = traced
            o = _send(port, model, i, kind, key, body, due, traced)
            with mu:
                out.append(o)

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(out, key=lambda o: o.i)


def closed_loop(port, model, gen: RequestGen, n_clients, n_requests) -> tuple[int, int, float]:
    """``n_clients`` clients, each sending its next request when the last
    returns, until ``n_requests`` have been sent; returns (correct, failed,
    seconds from the first send to the last reply)."""
    mu = threading.Lock()
    counts = [0, 0, 0]  # sent, correct, failed

    def client():
        while True:
            with mu:
                if counts[0] >= n_requests:
                    return
                counts[0] += 1
                kind, key, body = gen.next()
            o = _send(port, model, -1, kind, key, body, now(), False)
            with mu:
                counts[1] += o.ok
                counts[2] += not o.ok

    t0 = now()
    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return counts[1], counts[2], now() - t0


# -- the workload ---------------------------------------------------------------


def run(ctx) -> Result:
    from pyspark.sql import functions as F

    from cdc_cloudrun_demo_spark.catalog import load_for_compute
    from cdc_cloudrun_demo_spark.serving.rest_api import MessageServer

    data = datagen.write_tables(ctx.path("data"), ctx.seed)
    seed_rows = dict(enumerate(datagen.customer_names(range(datagen.N_CUSTOMERS))))
    rng = np.random.default_rng(ctx.seed)
    blocks = lambda n: BLOCK * max(1, round(n / BLOCK))  # noqa: E731
    n_req = max(1, round(RATES[ctx.workload] * ctx.seconds))
    n_cap = blocks(CAPACITY[ctx.workload] * ctx.seconds / 4)
    t_open = n_req / RATES[ctx.workload]
    gen = RequestGen(ctx.workload, rng, datagen.N_CUSTOMERS)
    offsets = np.sort(rng.uniform(0.0, t_open, n_req))
    schedule = [(float(o), *gen.next()) for o in offsets]
    cap_gen = RequestGen(ctx.workload, np.random.default_rng(ctx.seed + 7919), datagen.N_CUSTOMERS)
    warm_gen = RequestGen(ctx.workload, np.random.default_rng(ctx.seed + 104729), datagen.N_CUSTOMERS)
    server_cls = traced_server_class() if ctx.trace else MessageServer
    ctx.phase("inputs written")

    spark, get_spark_s = start_spark(ctx)
    srv = None
    try:
        seed_df = load_for_compute(spark, data, "customer").filter(
            F.col("c_custkey").isNotNull()
        ).select(
            F.col("c_custkey").cast("long").alias("id"),
            F.col("c_name").cast("string").alias("content"),
        )
        # workload state: a server booted over a fresh log, first fold served
        boots, firsts = [], []
        for i in range(N_SETUPS):
            if srv is not None:
                srv.close()
            t0 = now()
            srv = server_cls(spark, ctx.path(f"log{i}"), seed=seed_df)
            t1 = now()
            first = http_call(srv.port, "get", 0, None)
            boots.append(t1 - t0)
            firsts.append(now() - t1)
            if first != {"id": 0, "content": seed_rows[0]}:
                raise RuntimeError(f"first read returned {first!r}")
        setup_s = get_spark_s + median([b + f for b, f in zip(boots, firsts)])
        ctx.phase("setup done")

        model = Model(seed_rows)
        warm = closed_loop(srv.port, model, warm_gen, ctx.cpus, N_WARMUP)
        ctx.phase("warm-up done")
        jobs = SparkJobs(spark)
        j0, f0 = jobs.last_id(), srv.metrics()["serving"]["flushes"]
        w0 = model.n_writes
        outcomes = open_loop(srv.port, model, schedule, ctx.cpus, srv if ctx.trace else None, ctx.trace)
        n_jobs = jobs.last_id() - j0
        flushes = srv.metrics()["serving"]["flushes"] - f0
        if ctx.trace:
            srv.tracing = False
        writes_open = model.n_writes - w0
        ctx.phase("open loop done")
        good, cap_failed, t_cap = closed_loop(srv.port, model, cap_gen, ctx.cpus, n_cap)
        ctx.phase("closed loop done")
        final_ok = model.matches_table(http_call(srv.port, "list", None, None))
        if model.posted:
            final_ok = final_ok and model.posts_are_identity(datagen.N_CUSTOMERS)
        # the check can fail: a model with one wrong content must reject
        # the same table
        k = next(iter(model.vals))
        saved = model.vals[k]
        model.vals[k] = {"deliberately wrong"}
        canary_ok = not model.matches_table(http_call(srv.port, "list", None, None))
        model.vals[k] = saved
        serving_metrics = srv.metrics()["serving"]
        rss = rss_peak_mb(spark)
        retained = retained_mb(spark)
        cds = cds_mapped(spark)
    finally:
        if srv is not None:
            srv.close()
        stop_spark(spark)

    failed_open = sum(1 for o in outcomes if not o.ok)
    # a failed request misses every latency limit: it counts as the client
    # timeout
    lat = [(o.end - o.due) if o.ok else HTTP_TIMEOUT_S for o in outcomes]
    reads = [x for o, x in zip(outcomes, lat) if o.kind in READS]
    writes = [x for o, x in zip(outcomes, lat) if o.kind not in READS]
    read_tail = tail(reads)[1]
    ctx.say(f"setup_s: {setup_s:.4f} s (get_spark {get_spark_s:.3f} s + median of {N_SETUPS} boot+first-read: {[round(b + f, 3) for b, f in zip(boots, firsts)]})")
    ctx.say(describe("read_ms", reads, "ms", 1000.0) + f" at {RATES[ctx.workload]} req/s offered")
    if writes:
        ctx.say(describe("write_ms", writes, "ms", 1000.0))
    ctx.say(f"capacity_rps: {good / t_cap:.3f} ({good} correct of {n_cap} in {t_cap:.3f} s, {ctx.cpus} clients)")
    ctx.say(f"error_rate: {failed_open + cap_failed}/{len(outcomes) + n_cap}; final table {'matches' if final_ok else 'DIFFERS'}; canary {'rejected' if canary_ok else 'NOT rejected'}; rss_peak_mb {rss:.1f}")
    attempted = N_WARMUP + len(outcomes) + n_cap + 1
    failed = warm[1] + failed_open + cap_failed + (0 if final_ok else 1)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(reads) * 1000.0,
        "latency_tail_ms": read_tail * 1000.0,
        "throughput_per_s": good / t_cap,
        "rss_peak_mb": rss,
        "mem_retained_mb": retained,
    }
    layer: dict[str, float] = {}
    if ctx.trace:
        layer = _layer_metrics(ctx, server_cls.calls, outcomes, n_jobs, flushes, writes_open, serving_metrics)
        layer.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.cds_mapped": float(cds),
                "serving.boot_s": median(boots),
                "serving.first_read_s": median(firsts),
            }
        )
    return Result(failed == 0 and canary_ok, attempted, failed, e2e, layer)


def _layer_metrics(ctx, calls, outcomes, n_jobs, flushes, n_writes, serving) -> dict[str, float]:
    """Per-layer numbers from the server spans and the client outcomes. A
    server call is matched to the traced request of the same method and
    key whose client interval contains it."""
    tr = ctx.tracer
    traced = [o for o in outcomes if o.traced]
    used: set[int] = set()
    http_ms = []
    for method, arg, c0, c1, _flushed in calls:
        cands = [
            o for o in traced
            if o.i not in used and o.kind == method and o.key == arg
            and o.send <= c0 and c1 <= o.end
        ]
        if not cands:
            continue
        o = max(cands, key=lambda o: o.send)
        used.add(o.i)
        root = tr.record(o.i, "loadgen", o.kind, o.due, o.end)
        hid = tr.record(o.i, "http", o.kind, o.send, o.end, parent=root)
        tr.record(o.i, "serving", method, c0, c1, parent=hid)
        http_ms.append(((o.end - o.send) - (c1 - c0)) * 1000.0)
    by = lambda m: [(c1 - c0) * 1000.0 for meth, _a, c0, c1, _f in calls if meth == m]  # noqa: E731
    gets = by("get")
    refolded = [(c1 - c0) * 1000.0 for m, _a, c0, c1, f in calls if f and m in READS]
    n_reads = sum(1 for o in outcomes if o.kind in READS)
    on = [o.end - o.due for o in outcomes if o.traced and o.ok]
    off = [o.end - o.due for o in outcomes if not o.traced and o.ok]
    return {
        "serving.find_by_id_ms.p50": median(gets),
        "serving.find_by_id_ms.tail": tail(gets)[1],
        "serving.db_test_ms.p50": median(by("db_test")),
        "serving.find_all_ms.p50": median(by("list")),
        "serving.http_ms.p50": median(http_ms),
        "serving.write_method_ms.p50": median(by("put") + by("post") + by("delete")),
        "serving.reads_refolded": len(refolded),
        "serving.refold_read_ms.p50": median(refolded),
        "serving.events_per_flush": n_writes / flushes if flushes else 0.0,
        "serving.log_batches": serving["logVersion"],
        "spark.jobs_per_read": n_jobs / max(n_reads, 1),
        "loadgen.lag_ms.p99": percentile([(o.send - o.due) * 1000.0 for o in outcomes], 99.0),
        "trace.overhead_ms": (median(on) - median(off)) * 1000.0,
        **self_time_metrics(tr),
    }

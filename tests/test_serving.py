"""The live REST serve loop (serving/rest_api.py) — reference parity
for MessageController.java's five endpoints, exercised over a real
socket, plus the engine-side contracts the controller can't see:
durable change-log recovery and LWW-within-a-buffer ordering."""

from __future__ import annotations

import json
import urllib.request


def _req(base, path, method="GET", body=None):
    data = json.dumps(body).encode() if body is not None else None
    r = urllib.request.Request(
        base + path,
        data=data,
        method=method,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(r, timeout=30) as resp:
        return resp.status, json.loads(resp.read() or b"null")


def test_rest_crud_lifecycle_over_http(spark, tmp_path):
    from cdc_cloudrun_demo_spark.serving import MessageServer

    seed = spark.createDataFrame(
        [(1, "one"), (2, "two"), (5, "five")], "id long, content string"
    )
    srv = MessageServer(spark, str(tmp_path / "log"), seed=seed)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        st, rows = _req(base, "/messages")
        assert st == 200
        assert rows == [
            {"id": 1, "content": "one"},
            {"id": 2, "content": "two"},
            {"id": 5, "content": "five"},
        ]
        # S2 point lookup; absent id -> null body, 200 (reference
        # orElse(null), MessageController.java:27-30)
        assert _req(base, "/messages/2")[1] == {"id": 2, "content": "two"}
        assert _req(base, "/messages/99")[1] is None
        # S3 generated key: max ever + 1, even though id 3,4 are free
        st, created = _req(base, "/messages", "POST", {"content": "six"})
        assert created == {"id": 6, "content": "six"}
        # S4 update; PUT never creates (findById().map, :32-40)
        assert _req(base, "/messages/1", "PUT", {"content": "ONE"})[1] == {
            "id": 1,
            "content": "ONE",
        }
        assert _req(base, "/messages/77", "PUT", {"content": "x"})[1] is None
        # S5 delete + the key is never reused
        _req(base, "/messages/2", "DELETE")
        assert _req(base, "/messages/2")[1] is None
        st, created = _req(base, "/messages", "POST", {"content": "seven"})
        assert created["id"] == 7
        st, rows = _req(base, "/messages")
        assert rows == [
            {"id": 1, "content": "ONE"},
            {"id": 5, "content": "five"},
            {"id": 6, "content": "six"},
            {"id": 7, "content": "seven"},
        ]
        # S8 health probe
        st, health = _req(base, "/healthz")
        assert st == 200 and health["status"] == "UP"
        # malformed body answers 400, the connection survives, and the
        # state is untouched
        import urllib.error
        import urllib.request

        bad = urllib.request.Request(
            base + "/messages",
            data=b"{not json",
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(bad, timeout=30)
            raise AssertionError("malformed body was accepted")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        st, after_bad = _req(base, "/messages")
        assert st == 200 and len(after_bad) == 4
        # S6/S7 introspection (DatabaseInfoResource.java:24-86 parity)
        st, info = _req(base, "/db-info")
        assert info["connected"] and info["recordCounts"]["Message"] == 4
        st, t = _req(base, "/db-info/test")
        assert t["status"] == "SUCCESS" and t["messageCount"] == 4
        assert t["sampleMessage"] == {"id": 1, "content": "ONE"}
    finally:
        srv.close()


def test_metrics_endpoint_reference_shapes(spark, tmp_path):
    """`/metrics` carries the reference's derived-metric shapes
    (MetricsController.java:34-88): %.3f-second strings, %.2f MB
    memory sub-map with a %.1f%% usage, nested sub-maps, ISO
    timestamp — plus the serve loop's own counters, which must move
    with traffic (requests) and with landed write batches (flushes /
    logVersion)."""
    import re

    from cdc_cloudrun_demo_spark.serving import MessageServer

    srv = MessageServer(spark, str(tmp_path / "log"))
    try:
        base = f"http://127.0.0.1:{srv.port}"
        st, m = _req(base, "/metrics")
        assert st == 200
        assert m["application"] == "spark-cdc-engine"
        assert m["startupTimeMs"] >= 0 and m["uptimeMs"] >= 0
        assert re.fullmatch(r"\d+\.\d{3}", m["uptimeSeconds"])
        assert re.fullmatch(r"\d+\.\d{2}", m["memory"]["usedMB"])
        assert re.fullmatch(r"\d+\.\d%", m["memory"]["usagePercent"])
        assert "T" in m["timestamp"]
        v0, r0 = m["serving"]["logVersion"], m["serving"]["requests"]
        _req(base, "/messages", "POST", {"content": "x"})
        _req(base, "/messages")  # forces the flush
        st, m2 = _req(base, "/metrics")
        assert m2["serving"]["requests"] > r0
        assert m2["serving"]["logVersion"] == v0 + 1
        assert m2["serving"]["flushes"] >= 1
        assert m2["serving"]["liveMessages"] == 1
        assert m2["uptimeMs"] >= m["uptimeMs"]
        # the reference's sub-views (MetricsController.java:89-118)
        st, sub = _req(base, "/metrics/startup")
        assert set(sub) == {
            "imageType", "startupTimeMs", "startupTimeSeconds", "profile",
        }
        st, mem = _req(base, "/metrics/memory")
        assert re.fullmatch(r"\d+\.\d{2}", mem["usedMB"])
        assert re.fullmatch(r"\d+\.\d%", mem["usagePercent"])
    finally:
        srv.close()


def test_rest_state_recovers_from_durable_log(spark, tmp_path):
    """Restart the serve loop over the same change log: the recovered
    state (content via the LWW fold, PK index and the IDENTITY
    high-water mark via bounded metadata recovery) is identical —
    including that a deleted id stays retired."""
    from cdc_cloudrun_demo_spark.serving import MessageServer

    log = str(tmp_path / "log")
    seed = spark.createDataFrame(
        [(10, "a"), (20, "b")], "id long, content string"
    )
    srv = MessageServer(spark, log, seed=seed)
    base = f"http://127.0.0.1:{srv.port}"
    _req(base, "/messages/10", "PUT", {"content": "A2"})
    _req(base, "/messages/20", "DELETE")
    _req(base, "/messages", "POST", {"content": "c"})  # id 21
    before = _req(base, "/messages")[1]
    srv.close()

    srv2 = MessageServer(spark, log, seed=seed)  # re-seed must be ignored
    try:
        base2 = f"http://127.0.0.1:{srv2.port}"
        assert _req(base2, "/messages")[1] == before == [
            {"id": 10, "content": "A2"},
            {"id": 21, "content": "c"},
        ]
        assert _req(base2, "/messages/20")[1] is None
        # IDENTITY high-water mark survived the restart
        assert _req(base2, "/messages", "POST", {"content": "d"})[1][
            "id"
        ] == 22
    finally:
        srv2.close()


def test_graceful_close_keeps_acknowledged_writes(spark, tmp_path):
    """A write answered with 200 and never read back survives a graceful
    ``close()``: the WAL buffer is committed before the server stops."""
    from cdc_cloudrun_demo_spark.serving import MessageServer

    log = str(tmp_path / "log")
    srv = MessageServer(spark, log)
    base = f"http://127.0.0.1:{srv.port}"
    status, posted = _req(base, "/messages", "POST", {"content": "kept"})
    assert status == 200
    srv.close()

    srv2 = MessageServer(spark, log)
    try:
        assert srv2.find_all() == [{"id": posted["id"], "content": "kept"}]
    finally:
        srv2.close()


def test_threaded_serving_under_concurrent_load(spark, tmp_path):
    """The reference's Cloud Run envelope is concurrent requests per
    container; the serve loop must survive overlapping readers and
    writers: 6 reader threads hammer GET /messages and point lookups
    while two writers mutate DISJOINT id domains (updates on the seed,
    posts+deletes elsewhere). Every response must be a consistent
    snapshot (each returned id carries a complete row), no request may
    error, and the final state must equal the deterministic merge of
    both writers' work — the single-writer mutex serializes state
    transitions while Spark actions overlap."""
    import threading

    from cdc_cloudrun_demo_spark.serving import MessageServer

    seed = spark.createDataFrame(
        [(i, f"seed-{i}") for i in range(1, 11)], "id long, content string"
    )
    srv = MessageServer(spark, str(tmp_path / "log"), seed=seed)
    base = f"http://127.0.0.1:{srv.port}"
    errors: list = []

    def reader():
        try:
            for _ in range(12):
                _st, rows = _req(base, "/messages")
                assert all(
                    set(r) == {"id", "content"} and r["id"] is not None
                    for r in rows
                )
                _req(base, "/messages/3")
        except Exception as e:  # surfaced after join
            errors.append(e)

    def writer_updates():
        try:
            for rnd in range(3):
                for i in range(1, 6):
                    _req(
                        base, f"/messages/{i}", "PUT",
                        {"content": f"u{rnd}-{i}"},
                    )
        except Exception as e:
            errors.append(e)

    def writer_churn():
        try:
            for i in range(6, 11):
                _req(base, f"/messages/{i}", "DELETE")
            for j in range(3):
                _req(base, "/messages", "POST", {"content": f"new-{j}"})
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(6)] + [
        threading.Thread(target=writer_updates),
        threading.Thread(target=writer_churn),
    ]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not errors, errors
        _st, rows = _req(base, "/messages")
        got = {r["id"]: r["content"] for r in rows}
        want = {i: f"u2-{i}" for i in range(1, 6)}
        want.update({11 + j: f"new-{j}" for j in range(3)})
        assert got == want, got
    finally:
        srv.close()


def test_rest_lww_within_one_buffer(spark, tmp_path):
    """Insert → update → delete → re-insert of one id inside a SINGLE
    un-flushed WAL buffer must fold in request order (the fractional
    seq discipline in `MessageServer.flush`)."""
    from cdc_cloudrun_demo_spark.serving import MessageServer

    srv = MessageServer(spark, str(tmp_path / "log"))
    try:
        base = f"http://127.0.0.1:{srv.port}"
        assert _req(base, "/messages", "POST", {"content": "v1"})[1]["id"] == 1
        _req(base, "/messages/1", "PUT", {"content": "v2"})
        _req(base, "/messages/1", "DELETE")
        assert _req(base, "/messages", "POST", {"content": "v3"})[1]["id"] == 2
        assert _req(base, "/messages")[1] == [{"id": 2, "content": "v3"}]
    finally:
        srv.close()


def test_metrics_memory_is_current_rss_against_physical_memory(spark, tmp_path):
    """`memory.usedMB` is the CURRENT resident set, so it can never
    exceed the process's peak (``VmHWM``, read after it), and `maxMB`
    is the machine's physical memory, not a fixed budget."""
    import os

    from cdc_cloudrun_demo_spark.serving import MessageServer

    srv = MessageServer(spark, str(tmp_path / "log"))
    try:
        mem = srv.metrics()["memory"]
        with open("/proc/self/status") as fh:
            peak_mb = next(
                int(ln.split()[1]) / 1024.0 for ln in fh if ln.startswith("VmHWM:")
            )
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20
        assert 0 < float(mem["usedMB"]) <= peak_mb + 0.01  # %.2f rounding
        assert mem["maxMB"] == f"{phys_mb:.2f}"
        pct = float(mem["usagePercent"].rstrip("%"))
        assert abs(pct - float(mem["usedMB"]) * 100.0 / phys_mb) <= 0.1
    finally:
        srv.close()


def test_point_reads_hit_the_bucket_cache(spark, tmp_path):
    """Point reads on an unchanged table run no flush and load each
    bucket at most once; a write commits only its touched bucket, so
    reading the written id reloads exactly that one bucket."""
    from cdc_cloudrun_demo_spark.serving import MessageServer

    seed = spark.createDataFrame(
        [(i, f"m{i}") for i in range(1, 65)], "id long, content string"
    )
    srv = MessageServer(spark, str(tmp_path / "log"), seed=seed)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        assert _req(base, "/messages/1")[1] == {"id": 1, "content": "m1"}
        s0 = srv.metrics()["serving"]
        for n in range(200):
            i = 1 + (n * 7) % 64
            assert _req(base, f"/messages/{i}")[1] == {"id": i, "content": f"m{i}"}
        s1 = srv.metrics()["serving"]
        assert s1["flushes"] == s0["flushes"] == 1
        assert s1["commits"] == 1 and s1["commitMsTotal"] > 0
        assert s1["bucketCacheMisses"] - s0["bucketCacheMisses"] <= 16
        assert s1["bucketCacheHits"] - s0["bucketCacheHits"] >= 200 - 16
        routes0, routes1 = s0["requestsByRoute"], s1["requestsByRoute"]
        assert routes1["GET /messages/{id}"] - routes0["GET /messages/{id}"] == 200
        assert s1["requests"] == sum(routes1.values())

        _req(base, "/messages/5", "PUT", {"content": "five"})
        assert _req(base, "/messages/5")[1] == {"id": 5, "content": "five"}
        s2 = srv.metrics()["serving"]
        assert s2["flushes"] == s1["flushes"] + 1
        assert s2["logVersion"] == s1["logVersion"] + 1
        assert s2["bucketCacheMisses"] == s1["bucketCacheMisses"] + 1
        assert s2["requestsByRoute"]["PUT /messages/{id}"] == 1
    finally:
        srv.close()


def test_restart_after_deleting_the_highest_id_keeps_identity(spark, tmp_path):
    """IDENTITY never reuses a key: after the HIGHEST id is deleted and
    the server restarts, the next POST still gets max + 1 — the retained
    tombstone carries the high-water mark through recovery."""
    from cdc_cloudrun_demo_spark.serving import MessageServer

    log = str(tmp_path / "log")
    seed = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, content string"
    )
    srv = MessageServer(spark, log, seed=seed)
    base = f"http://127.0.0.1:{srv.port}"
    assert _req(base, "/messages", "POST", {"content": "d"})[1]["id"] == 4
    _req(base, "/messages/4", "DELETE")
    assert [r["id"] for r in _req(base, "/messages")[1]] == [1, 2, 3]
    srv.close()

    srv2 = MessageServer(spark, log)
    try:
        base2 = f"http://127.0.0.1:{srv2.port}"
        assert _req(base2, "/messages/4")[1] is None
        assert _req(base2, "/messages", "POST", {"content": "e"})[1] == {
            "id": 5,
            "content": "e",
        }
        assert _req(base2, "/db-info/test")[1]["messageCount"] == 4
    finally:
        srv2.close()


def test_merge_on_read_serving_keeps_newest_across_flushes(spark, tmp_path):
    """Flushes only APPEND delta files, so a bucket holds several rows of
    one id. A PUT of the same id in two flushes and a DELETE in a third
    must read as the newest value and then as nothing, before and after
    a restart, and the restart's IDENTITY counter must still count the
    max id when its tombstone lives only in a delta file."""
    from cdc_cloudrun_demo_spark.serving import MessageServer
    from cdc_cloudrun_demo_spark.streaming.cdc_stream import bucket_expr

    log = str(tmp_path / "log")
    seed = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, content string"
    )
    srv = MessageServer(spark, log, seed=seed)
    try:
        srv.flush()
        for v in ("v1", "v2"):
            srv.update(3, f"{v}-3")
            srv.update(4, f"{v}-4")
            srv.flush()
            assert srv.find_by_id(4) == {"id": 4, "content": f"{v}-4"}
        srv.delete(4)
        srv.flush()
        assert srv.find_by_id(4) is None
        assert srv.find_by_id(3) == {"id": 3, "content": "v2-3"}
        b4 = str(
            spark.createDataFrame([(4,)], "id long")
            .select(bucket_expr(srv._store.n_buckets))
            .first()[0]
        )
        # seed base + two PUT deltas + the DELETE delta
        assert len(srv._store.latest_manifest()["buckets"][b4]) == 4
    finally:
        srv.close()

    srv2 = MessageServer(spark, log)
    try:
        assert srv2.find_by_id(4) is None
        assert srv2.find_all() == [
            {"id": 1, "content": "a"},
            {"id": 2, "content": "b"},
            {"id": 3, "content": "v2-3"},
        ]
        assert srv2.create("e") == {"id": 5, "content": "e"}
    finally:
        srv2.close()


def test_concurrent_readers_never_see_a_mix_of_versions(spark, tmp_path):
    """Each flush is one atomic snapshot commit: while a writer commits
    rounds that rewrite EVERY id (a whole round enqueued under the
    server mutex, so one flush carries exactly one round), concurrent
    readers over HTTP must see each GET /messages from a single round —
    never buckets from two versions — and, per reader, never an older
    round after a newer one (point reads included)."""
    import sys
    import threading

    from cdc_cloudrun_demo_spark.serving import MessageServer

    ids = list(range(1, 33))
    seed = spark.createDataFrame(
        [(i, "r0") for i in ids], "id long, content string"
    )
    srv = MessageServer(spark, str(tmp_path / "log"), seed=seed)
    base = f"http://127.0.0.1:{srv.port}"
    errors: list = []
    done = threading.Event()
    n_rounds = 5

    def writer():
        try:
            for rnd in range(1, n_rounds + 1):
                with srv._mu:
                    for i in ids:
                        srv.update(i, f"r{rnd}")
                srv.flush()
        except Exception as e:
            errors.append(e)
        finally:
            done.set()

    def reader(k):
        last = 0
        try:
            while not done.is_set():
                rows = _req(base, "/messages")[1]
                assert [r["id"] for r in rows] == ids
                rounds = {r["content"] for r in rows}
                assert len(rounds) == 1, rounds
                rnd = int(rounds.pop()[1:])
                assert rnd >= last
                last = rnd
                i = ids[(k * 5 + last) % len(ids)]
                rnd = int(_req(base, f"/messages/{i}")[1]["content"][1:])
                assert rnd >= last
                last = rnd
        except Exception as e:  # surfaced after join
            errors.append(e)

    # more readers than cores, and frequent thread switches
    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader, args=(k,)) for k in range(6)
    ]
    switch = sys.getswitchinterval()
    try:
        # the seed lands as its own commit before the rounds start
        assert _req(base, "/messages")[1] == [{"id": i, "content": "r0"} for i in ids]
        sys.setswitchinterval(1e-5)
        for t in threads:
            t.start()
        for t in threads:
            t.join(180)
        sys.setswitchinterval(switch)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        rows = _req(base, "/messages")[1]
        assert rows == [{"id": i, "content": f"r{n_rounds}"} for i in ids]
        assert srv.metrics()["serving"]["commits"] == n_rounds + 1
    finally:
        sys.setswitchinterval(switch)
        srv.close()


def test_find_all_reads_one_version_when_a_commit_lands_mid_read(
    spark, tmp_path, monkeypatch
):
    """The deterministic form of the race above: a commit that rewrites
    every id lands after GET /messages has read its first bucket. The
    response must still come from the version it started on, because
    the whole file list was pinned under the mutex; the next read sees
    the new version."""
    from cdc_cloudrun_demo_spark.serving import MessageServer, rest_api

    ids = list(range(1, 33))
    seed = spark.createDataFrame(
        [(i, "r0") for i in ids], "id long, content string"
    )
    srv = MessageServer(spark, str(tmp_path / "log"), seed=seed)
    srv.flush()
    read_rows = rest_api._read_rows
    fired = []

    def read_rows_then_commit(state_dir, files):
        if not fired:
            fired.append(True)
            for i in ids:
                srv.update(i, "r1")
            srv.flush()
        yield from read_rows(state_dir, files)

    monkeypatch.setattr(rest_api, "_read_rows", read_rows_then_commit)
    try:
        assert srv.find_all() == [{"id": i, "content": "r0"} for i in ids]
        assert fired and srv.metrics()["serving"]["commits"] == 2
        assert srv.find_all() == [{"id": i, "content": "r1"} for i in ids]
    finally:
        srv.close()

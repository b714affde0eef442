"""Measurement helpers shared by the workloads: order statistics, Spark job
counting, memory high-water marks, result digests and the span tracer."""

from __future__ import annotations

import hashlib
import os
import resource
import signal
import subprocess
import threading
import time

import numpy as np
import pandas as pd

# percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values) -> float:
    return percentile(values, 50.0)


def percentile(values, p: float) -> float:
    """Linearly interpolated percentile; 0.0 for no samples."""
    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), p))


def tail(values) -> tuple[str, float]:
    """The highest ladder percentile with at least ten samples beyond it,
    as ``(label, value)``. With fewer than 40 samples no percentile
    qualifies and the tail is the maximum."""
    n = len(values)
    if n == 0:
        return "none", 0.0
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0:
            return f"p{p:g}", percentile(values, p)
    return "max", float(max(values))


def describe(name: str, values, unit: str, scale: float = 1.0) -> str:
    """One human-readable line: median and tail with their sample count."""
    label, tv = tail(values)
    return (
        f"{name}: p50 {median(values) * scale:.4g} {unit}, "
        f"{label} {tv * scale:.4g} {unit} (n={len(values)})"
    )


class SparkJobs:
    """Counts Spark jobs by job-id delta. Job ids grow monotonically, while
    the status tracker retains only the newest ``spark.ui.retainedJobs``
    ids, so the number of ids listed under-counts long runs; the newest id
    does not."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()

    def last_id(self, groups=(None,)) -> int:
        ids = [-1]
        for g in groups:
            ids.extend(self._tracker.getJobIdsForGroup(g))
        return max(ids)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Resident-set high-water mark of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def rss_peak_mb(spark) -> float:
    """Driver JVM high-water mark plus this Python process's."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return vm_hwm_mb(jvm_pid(spark)) + py


def retained_mb(spark) -> float:
    """Live memory after a full collection: JVM heap in use after
    ``System.gc()`` plus this Python process's resident set."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    with open("/proc/self/status") as fh:
        rss = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
    return heap / 2**20 + rss / 1024.0


def cds_mapped(spark) -> bool:
    """True when the driver JVM has the AppCDS archive mapped."""
    with open(f"/proc/{jvm_pid(spark)}/maps") as fh:
        return any(line.rstrip().endswith(".jsa") for line in fh)


# -- the Spark process --------------------------------------------------------


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        for p in live:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM and
    every process under it (Python workers) have ended."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = _descendants(os.getpid())
    spark.stop()
    gw.shutdown()
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap(procs, 30)


def start_spark(ctx, master: str | None = None):
    from cdc_cloudrun_demo_spark import session

    t0 = now()
    spark = session.get_spark(app_name=f"perfbench-{ctx.workload}", master=master)
    took = now() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took


# -- result digests ---------------------------------------------------------


def _canon_column(s: pd.Series) -> pd.Series:
    """Cells as strings that agree between Spark and DuckDB results: nulls
    as ``\\N``, timestamps at µs precision, integral numbers without a
    fraction, other floats by ``repr``."""
    null = s.isna()
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        out = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    elif pd.api.types.is_bool_dtype(s):
        out = s.astype(str)
    elif pd.api.types.is_numeric_dtype(s):
        v = s.astype("float64").to_numpy()
        integral = np.isfinite(v) & (np.floor(v) == v) & (np.abs(v) < 2**53)
        if pd.api.types.is_integer_dtype(s) and not null.any():
            out = s.astype("int64").astype(str)
        else:
            ints = np.where(integral, v, 0).astype(np.int64).astype(str)
            floats = np.array([repr(float(x)) for x in v], dtype=object)
            out = pd.Series(np.where(integral, ints, floats), index=s.index)
    else:
        out = s.map(lambda x: x if isinstance(x, str) else str(x))
    return out.where(~null, "\\N")


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """Order-insensitive ``(row count, sha256)`` of a result frame, over
    its columns in name order."""
    cols = sorted(pdf.columns)
    if len(pdf) == 0:
        return 0, hashlib.sha256("|".join(cols).encode()).hexdigest()
    canon = [_canon_column(pdf[c]).astype(str) for c in cols]
    rows = canon[0].str.cat(canon[1:], sep="\x1f") if len(canon) > 1 else canon[0]
    h = hashlib.sha256("|".join(cols).encode())
    for r in sorted(rows.tolist()):
        h.update(r.encode())
        h.update(b"\n")
    return len(pdf), h.hexdigest()


def rejects_wrong(pdf: pd.DataFrame, expected: tuple[int, str]) -> bool:
    """The digest check can fail: the same result with one cell replaced
    must not match ``expected``."""
    bad = pdf.astype(object)
    bad.iat[0, 0] = "deliberately wrong"
    return digest(bad) != expected


# -- tracing ----------------------------------------------------------------


class Tracer:
    """In-memory spans: ``(trace_id, span_id, parent_id, layer, name,
    start, end)`` with monotonic-clock seconds. Spans of one unit of work
    (a request, a micro-batch, a query) share ``trace_id``. A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._mu = threading.Lock()
        self._next = 0

    def record(self, trace_id, layer, name, start, end, parent=None) -> int:
        if not self.enabled:
            return -1
        with self._mu:
            self._next += 1
            sid = self._next
            self.spans.append((trace_id, sid, parent, layer, name, start, end))
        return sid

    def self_times(self) -> dict[str, list[float]]:
        """Per layer, the self time (seconds) of each trace: span duration
        minus the part of it that child spans cover, summed over the
        trace's spans of that layer."""
        children: dict[int, list[tuple]] = {}
        for sp in self.spans:
            if sp[2] is not None:
                children.setdefault(sp[2], []).append(sp)
        per: dict[tuple, float] = {}
        for tid, sid, _parent, layer, _name, start, end in self.spans:
            covered = 0.0
            cur = start
            for c in sorted(children.get(sid, []), key=lambda c: c[5]):
                lo, hi = max(c[5], cur), min(c[6], end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            per[(layer, tid)] = per.get((layer, tid), 0.0) + (end - start - covered)
        out: dict[str, list[float]] = {}
        for (layer, _tid), v in per.items():
            out.setdefault(layer, []).append(v)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for tid, sid, parent, layer, name, start, end in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "trace": tid,
                            "span": sid,
                            "parent": parent,
                            "layer": layer,
                            "name": name,
                            "start": start,
                            "end": end,
                        }
                    )
                    + "\n"
                )


def now() -> float:
    return time.perf_counter()


# -- the result a workload returns ------------------------------------------

# (name, unit) of every end-to-end metric; each workload reports all of them
END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("mem_retained_mb", "MB"),
)

QUERY_SUITE = (
    "cdc_materialize",
    "cdc_snapshot_asof",
    "cdc_tombstone_keys",
    "cdc_op_stats",
    "cdc_keygen",
    "cdc_scd2_history",
    "cdc_snapshot_diff",
    "cdc_incremental_agg",
    "cdc_incremental_join",
    "cdc_disorder_stats",
    "cdc_log_compact",
)

# (name, unit) of every per-layer metric; a workload that does not reach a
# layer reports 0 for it
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.cds_mapped", "bool"),
    ("serving.boot_s", "s"),
    ("serving.first_read_s", "s"),
    ("serving.find_by_id_ms.p50", "ms"),
    ("serving.find_by_id_ms.tail", "ms"),
    ("serving.db_test_ms.p50", "ms"),
    ("serving.find_all_ms.p50", "ms"),
    ("serving.http_ms.p50", "ms"),
    ("serving.write_method_ms.p50", "ms"),
    ("serving.reads_refolded", "count"),
    ("serving.refold_read_ms.p50", "ms"),
    ("serving.events_per_flush", "count"),
    ("serving.log_batches", "count"),
    ("spark.jobs_per_read", "count"),
    ("loadgen.lag_ms.p99", "ms"),
    ("stream.trigger_ms.p50", "ms"),
    ("stream.add_batch_ms.p50", "ms"),
    ("stream.plan_ms.p50", "ms"),
    ("stream.wal_ms.p50", "ms"),
    ("sink.commit_ms.p50", "ms"),
    ("sink.files_per_commit", "count"),
    ("spark.jobs_per_batch", "count"),
    ("stream.state_rows", "count"),
    ("stream.state_bytes", "bytes"),
    ("stream.rows_updated_ratio", "ratio"),
    ("stream.events_per_s_1cpu", "1/s"),
    *((f"operators.{q}_s", "s") for q in QUERY_SUITE),
    ("catalog.events_scan_s", "s"),
    ("spark.jobs_per_query", "count"),
    ("self_ms.loadgen", "ms"),
    ("self_ms.http", "ms"),
    ("self_ms.serving", "ms"),
    ("self_ms.stream", "ms"),
    ("self_ms.sink", "ms"),
    ("self_ms.operators", "ms"),
    ("trace.overhead_ms", "ms"),
    ("rss_peak_mb", "MB"),
    ("error_rate", "ratio"),
)


class Result:
    """Correctness counts plus both metric sets, each filled out to the
    full list above."""

    def __init__(self, correct: bool, attempted: int, failed: int,
                 end_to_end: dict, per_layer: dict):
        self.correct = bool(correct)
        self.attempted = max(int(attempted), 1)
        self.failed = int(failed)
        self.end_to_end = {n: (float(end_to_end[n]), u) for n, u in END_TO_END}
        per_layer = dict(
            per_layer,
            error_rate=self.failed / self.attempted,
            rss_peak_mb=end_to_end["rss_peak_mb"],
        )
        self.per_layer = {
            n: (float(per_layer.get(n, 0.0)), u) for n, u in PER_LAYER
        }


def self_time_metrics(tracer: Tracer) -> dict[str, float]:
    """``self_ms.<layer>``: median over traced units of each layer's self
    time."""
    return {
        f"self_ms.{layer}": median(v) * 1000.0
        for layer, v in tracer.self_times().items()
    }

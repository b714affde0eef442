#!/usr/bin/env python3
"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``; every
output is checked. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones. Lines before it
are the same numbers for people, with percentiles and sample counts.
Workloads, metrics and layer mappings are in ``perfbench/README.md``.

All scratch state (inputs, change logs, checkpoints, Spark local dirs, JVM
temp files) lives under ``.perfbench_tmp/`` in the checkout and is removed
at exit; the AppCDS archive is cached in ``.cds_cache/`` across runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cdc_cloudrun_demo_spark"
T_START = time.monotonic()

WORKLOADS = (
    "serve_read_mostly",
    "serve_mixed_rw",
    "cdc_stream_replay",
    "batch_cdc_queries",
)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--spans-out",
        default=None,
        help="with --trace 1, also write every span as JSON lines here",
    )
    return ap.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Point every temp/scratch location of this process, its Spark JVM and
    the Python workers into ``tmp``, and make the package importable from
    any working directory (Spark's Python workers import it to run the
    pandas state function)."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    # no console progress bar; the log level is set once the context is up
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.chdir(tmp)  # spark-warehouse/ and derby.log land here too


class Ctx:
    """What a workload gets: its arguments, scratch dir, tracer, and a
    place for its human-readable lines."""

    def __init__(self, args, tmp: str):
        from common import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tmp = tmp
        self.tracer = Tracer(self.trace)
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self._ticks = self._cpu_ticks()

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def say(self, line: str) -> None:
        print(line, flush=True)

    @staticmethod
    def _cpu_ticks() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def phase(self, name: str) -> None:
        """Progress note on stderr: seconds since the process started, and
        the share of CPU time the host took from this machine (steal) since
        the previous note."""
        ticks = self._cpu_ticks()
        total = sum(ticks) - sum(self._ticks)
        steal = (ticks[7] - self._ticks[7]) / total if total > 0 else 0.0
        self._ticks = ticks
        print(
            f"perfbench [{time.monotonic() - T_START:7.2f} s] {name} (steal {steal:.1%})",
            file=sys.stderr,
            flush=True,
        )


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(
            f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]
    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_root)
    cwd = os.getcwd()
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # remove the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _isolate(tmp)
        from cdc_cloudrun_demo_spark import session

        # the one-time install step, outside every timed region
        session.ensure_cds_archive()
        if args.workload.startswith("serve_"):
            import serve as workload
        elif args.workload == "cdc_stream_replay":
            import stream as workload
        else:
            import batch as workload
        ctx = Ctx(args, tmp)
        res = workload.run(ctx)
        if ctx.trace and args.spans_out:
            ctx.tracer.dump(os.path.join(cwd, args.spans_out))
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch_root)  # only when no other run is using it
        except OSError:
            pass
    metrics = res.per_layer if args.trace else res.end_to_end
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""``batch_cdc_queries``: warm passes over the ``operators/cdc.py`` batch
family at sf0.1 shape, each result hash-checked against its ``ORACLES``
SQL run by DuckDB over the same parquet. No HTTP, no streaming.

Unit of work: one pass over the suite (``query_wall_ms``), each query timed
from the call to the complete result in pandas. A run makes whole passes over the suite until ``--seconds`` have
passed, after one untimed warm-up pass over a second set of inputs made
from another seed.
"""

from __future__ import annotations

import duckdb

import datagen
from common import (
    QUERY_SUITE,
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

TABLES = ("customer", "events", "orders", "lineitem")


def oracle_digests(ctx, data_dir: str) -> dict[str, tuple[int, str]]:
    from cdc_cloudrun_demo_spark.operators.cdc import ORACLES

    con = duckdb.connect(config={"threads": ctx.cpus, "temp_directory": ctx.path("duckdb")})
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {q: digest(con.sql(ORACLES[q]).df()) for q in QUERY_SUITE}
    finally:
        con.close()


def run(ctx) -> Result:
    from cdc_cloudrun_demo_spark.catalog import load_table
    from cdc_cloudrun_demo_spark.operators.cdc import QUERIES

    data = datagen.write_tables(ctx.path("data"), ctx.seed)
    warm = datagen.write_tables(ctx.path("warm"), ctx.seed + 1)
    ctx.phase("inputs written")
    expected = oracle_digests(ctx, data)
    ctx.phase("oracle digests done")
    spark, get_spark_s = start_spark(ctx)
    try:
        # workload state: every input table resolved (schema read)
        setups = []
        for _ in range(3):
            t0 = now()
            for t in TABLES:
                load_table(spark, data, t).schema
            setups.append(now() - t0)
        setup_s = get_spark_s + median(setups)
        ctx.phase("setup done")
        for q in QUERY_SUITE:
            QUERIES[q](spark, warm).toPandas()
        ctx.phase("warm-up done")

        jobs = SparkJobs(spark)
        lat: dict[str, list[float]] = {q: [] for q in QUERY_SUITE}
        traced, untraced = [], []
        attempted = failed = 0
        mismatches: list[str] = []
        n_jobs = 0
        t_start = now()
        while now() - t_start < ctx.seconds:
            for q in QUERY_SUITE:
                j0 = jobs.last_id()
                t0 = now()
                pdf = QUERIES[q](spark, data).toPandas()
                t1 = now()
                n_jobs += jobs.last_id() - j0
                # trace run: every other query is traced, the rest give the
                # untraced baseline for the overhead
                if ctx.trace and attempted % 2 == 0:
                    ctx.tracer.record(attempted, "operators", q, t0, t1)
                    traced.append(t1 - t0)
                else:
                    untraced.append(t1 - t0)
                attempted += 1
                lat[q].append(t1 - t0)
                if digest(pdf) != expected[q]:
                    failed += 1
                    mismatches.append(q)
        canary_ok = rejects_wrong(pdf, expected[q])
        ctx.phase("measured")
        passes = attempted // len(QUERY_SUITE)
        per_pass = [sum(v[i] for v in lat.values()) for i in range(passes)]
        wall = sum(per_pass)
        rss = rss_peak_mb(spark)
        retained = retained_mb(spark)
        ctx.say(f"setup_s: {setup_s:.4f} s (get_spark {get_spark_s:.3f} s + median of {len(setups)} table resolutions)")
        ctx.say(describe("query_wall_ms", per_pass, "ms", 1000.0) + f" {[round(p, 3) for p in per_pass]}")
        ctx.say(describe("query_ms", [x for v in lat.values() for x in v], "ms", 1000.0))
        ctx.say(f"throughput: {attempted / wall:.4f} queries/s; rss_peak_mb {rss:.1f}")
        ctx.say(
            f"error_rate: {failed}/{attempted}"
            + (f" mismatched {sorted(set(mismatches))}" if mismatches else "")
            + f"; canary {'rejected' if canary_ok else 'NOT rejected'}"
        )
        e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": median(per_pass) * 1000.0,
            "latency_tail_ms": tail(per_pass)[1] * 1000.0,
            "throughput_per_s": attempted / wall,
            "rss_peak_mb": rss,
            "mem_retained_mb": retained,
        }
        layer: dict[str, float] = {}
        if ctx.trace:
            scans = []
            for _ in range(3):
                t0 = now()
                load_table(spark, data, "events").count()
                scans.append(now() - t0)
            layer = {
                "session.get_spark_s": get_spark_s,
                "session.cds_mapped": float(cds_mapped(spark)),
                **{f"operators.{q}_s": median(v) for q, v in lat.items()},
                "catalog.events_scan_s": median(scans),
                "spark.jobs_per_query": n_jobs / attempted,
                "trace.overhead_ms": (median(traced) - median(untraced)) * 1000.0,
                **self_time_metrics(ctx.tracer),
            }
    finally:
        stop_spark(spark)
    return Result(not failed and canary_ok, attempted, failed, e2e, layer)

"""Schema evolution over the CDC change log (SURVEY §1.2).

The reference auto-migrates its relational schema on deploy
(``hello_cloud_run/src/main/resources/application-cloud-sql.properties:23``
``spring.jpa.hibernate.ddl-auto=update`` — additive DDL only). The
columnar-log analog: a producer starts emitting change events with an
extra nullable column mid-stream; old log segments keep the v1 schema,
new segments carry v2, and every reader — batch fold, snapshot, time
travel — must see one unioned schema without rewriting history.

Spark-first mechanics: the two schema generations live as separate
parquet segment directories under one log root; ``mergeSchema=true`` on
the read unions the footers (v1 rows get NULL for the added column —
exactly Hibernate's ``ADD COLUMN`` semantics, no table rewrite). At
100 TB this is the only viable migration: evolution costs one footer
merge at planning time, zero data I/O. The fold then carries the evolved
column through LWW, so keys last touched before the migration surface
NULL and keys touched after carry the producer's value.

Deterministic fixture: the split point is the fixed literal
``2024-01-30`` — late enough in the event range that some keys' LAST
write predates it (their state rows surface NULL channel) while most
post-date it, at every test SF — and v2's added column ``channel``
derives from the event key; both are reproducible in the DuckDB oracle
without reading our parquet.
"""

from __future__ import annotations

import os


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._scratch import scratch_dir
from ..fixtures import MESSAGE_CHANGES_SQL, message_changes_df

_SPLIT = "2024-01-30"
# v2's new column: producer-assigned delivery channel, derived from the
# key so the oracle can recompute it. Mirrored in _CHANNEL_SQL. (Built
# lazily — Column construction needs an active SparkContext.)
def _channel_col():
    return (
        F.when(F.col("id") % 3 == 0, "web")
        .when(F.col("id") % 3 == 1, "mobile")
        .otherwise("api")
    )


_CHANNEL_SQL = (
    "CASE WHEN id % 3 = 0 THEN 'web' WHEN id % 3 = 1 THEN 'mobile' ELSE 'api' END"
)


def _write_evolving_log(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the two-generation log: segment dirs v1/ (5 columns)
    and v2/ (6 columns, added nullable ``channel``) under one root."""
    root = scratch_dir("cdc_log_")
    changes = message_changes_df(spark, sf_dir)
    cut = F.col("ts") < F.lit(_SPLIT).cast("timestamp")
    changes.filter(cut).write.mode("overwrite").parquet(os.path.join(root, "v1"))
    (
        changes.filter(~cut)
        .withColumn("channel", _channel_col())
        .write.mode("overwrite")
        .parquet(os.path.join(root, "v2"))
    )
    return root


def read_evolved_log(spark: SparkSession, root: str) -> DataFrame:
    """One logical table over both schema generations. ``mergeSchema``
    unions parquet footers at planning time; v1 rows yield NULL for
    ``channel``. (Default readers take the schema of one footer — the
    option is the explicit evolution contract, as the test asserts.)"""
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, "v1"), os.path.join(root, "v2"))
    )


def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW materialization across the schema break: the evolved state
    carries ``channel``, NULL for keys last written pre-migration."""
    log = read_evolved_log(spark, _write_evolving_log(spark, sf_dir))
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select(
            "id",
            "content",
            "channel",
            F.col("seq").alias("last_seq"),
            F.col("ts").alias("updated_at"),
        )
    )


def _write_widening_log(spark: SparkSession, sf_dir: str) -> str:
    """Two-generation log where the SAME column changes TYPE: v1 wrote
    ``value_cents`` as INT; the producer's counter outgrew 2^31 and v2
    writes BIGINT. Values derive from seq (v2 offset by 3e9, provably
    outside int range) so the oracle recomputes them."""
    root = scratch_dir("cdc_widen_")
    changes = message_changes_df(spark, sf_dir)
    cut = F.col("ts") < F.lit(_SPLIT).cast("timestamp")
    (
        changes.filter(cut)
        .withColumn("value_cents", (F.col("seq") % 100000).cast("int"))
        .write.mode("overwrite")
        .parquet(os.path.join(root, "v1"))
    )
    (
        changes.filter(~cut)
        .withColumn(
            "value_cents", (F.col("seq") % 100000 + F.lit(3_000_000_000)).cast("long")
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "v2"))
    )
    return root


def cdc_schema_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING schema evolution — the migration `mergeSchema`
    CANNOT do: parquet footer merging refuses int vs bigint ("Failed to
    merge incompatible data types", asserted in
    tests/test_sources.py), because unlike an added nullable column
    there is no lossless union of two physical encodings at planning
    time. The correct 100 TB path is explicit SCHEMA-ON-READ: each
    segment generation is read with its own schema, the narrow
    generation is cast up to the widened type (int→bigint is lossless
    by construction), and the union + LWW fold proceed as if the log
    had always been wide — still zero data rewrite, the cast rides the
    scan projection. This is exactly what table formats (Delta/Iceberg
    type widening) do under the hood; here the mechanism is explicit
    and oracle-checked."""
    root = _write_widening_log(spark, sf_dir)
    v1 = spark.read.parquet(os.path.join(root, "v1")).withColumn(
        "value_cents", F.col("value_cents").cast("long")
    )
    v2 = spark.read.parquet(os.path.join(root, "v2"))
    log = v1.unionByName(v2)
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select(
            "id",
            F.col("seq").alias("last_seq"),
            "value_cents",
            (F.col("value_cents") > F.lit(2_147_483_647)).alias("post_widening"),
        )
    )


def cdc_schema_evolution_live(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> DataFrame:
    """The additive migration crossed by a LIVE stream — the production
    moment schema evolution actually bites: a continuously-running CDC
    materializer reads a log whose producer added a nullable column
    MID-STREAM. The streaming reader declares the EVOLVED schema once
    (a file-stream schema is fixed at query start — the right contract:
    you deploy the reader that knows about ``channel``, and the parquet
    scan fills the column with NULL for v1-era segment files), replays
    both schema generations one file per micro-batch, and a foreachBatch
    sink merges each batch into a bucketed state snapshot by LWW on seq
    — touched buckets only (dynamic partition overwrite: per-batch I/O
    is O(touched state), never O(total state)); tombstones are RETAINED in state so replays
    cannot resurrect deletes, and the keyed LWW merge is idempotent so a
    crash mid-commit converges on replay. The final snapshot
    hash-matches the BATCH `cdc_schema_evolution` oracle verbatim: keys
    last written pre-migration surface NULL channel, post-migration
    keys carry the producer's value — a reader cannot tell whether the
    migration was crossed live or read back in batch."""
    root = _write_evolving_log(spark, sf_dir)
    return _run_evolution_fold(spark, root, os.path.join(root, "ckpt"), n_buckets)


def _run_evolution_fold(
    spark: SparkSession, root: str, ckpt: str, n_buckets: int = 8
) -> DataFrame:
    """Drive the live evolution fold over an EXISTING two-generation log
    root into that root's state dir — split out so tests can re-drive
    the same state under a fresh checkpoint (full-replay idempotence)."""
    from ..streaming.cdc_stream import bucket_expr

    evolved = (
        "seq long, op string, id long, content string, ts timestamp, "
        "channel string"
    )
    stream = (
        spark.readStream.schema(evolved)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "v*"))
    )
    state_dir = os.path.join(root, "state")
    current = os.path.join(state_dir, "current")
    bucket_of = bucket_expr(n_buckets)
    state_schema = evolved + ", bucket int"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        batch_df = batch_df.withColumn("bucket", bucket_of).persist()
        try:
            touched = [
                r["bucket"] for r in batch_df.select("bucket").distinct().collect()
            ]  # ≤ n_buckets ints — bounded metadata, not data
            if not touched:
                return
            cur = (
                spark.read.schema(state_schema)
                .parquet(current)
                .filter(F.col("bucket").isin(touched))
                if os.path.exists(current)
                else spark.createDataFrame([], state_schema)
            )
            w = Window.partitionBy("id").orderBy(F.desc("seq"))
            merged = (
                cur.unionByName(batch_df)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            stage = os.path.join(state_dir, "stage")
            shutil.rmtree(stage, ignore_errors=True)
            merged.write.mode("overwrite").parquet(stage)
            (
                spark.read.schema(state_schema)
                .parquet(stage)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(current)
            )
            shutil.rmtree(stage, ignore_errors=True)
        finally:
            batch_df.unpersist()

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise RuntimeError("live schema-evolution fold did not finish in 300s")
    if q.exception() is not None:
        raise q.exception()
    if not os.path.exists(current):  # empty corpus: no batch ever committed
        return spark.createDataFrame([], state_schema).select(
            "id", "content", "channel",
            F.col("seq").alias("last_seq"), F.col("ts").alias("updated_at"),
        )
    snap = spark.read.schema(state_schema).parquet(current)
    return snap.filter(F.col("op") != "DELETE").select(
        "id",
        "content",
        "channel",
        F.col("seq").alias("last_seq"),
        F.col("ts").alias("updated_at"),
    )


QUERIES = {
    "cdc_schema_widen": cdc_schema_widen,
    "cdc_schema_evolution": cdc_schema_evolution,
    "cdc_schema_evolution_live": cdc_schema_evolution_live,
}

ORACLES = {
    "cdc_schema_evolution": f"""
        WITH message_changes AS ({MESSAGE_CHANGES_SQL}),
        unioned AS (
            SELECT seq, op, id, content, ts, CAST(NULL AS VARCHAR) AS channel
            FROM message_changes WHERE ts < TIMESTAMP '{_SPLIT}'
            UNION ALL
            SELECT seq, op, id, content, ts, {_CHANNEL_SQL} AS channel
            FROM message_changes WHERE ts >= TIMESTAMP '{_SPLIT}'
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
            FROM unioned
        )
        SELECT id, content, channel, seq AS last_seq, ts AS updated_at
        FROM ranked WHERE rn = 1 AND op <> 'DELETE'
    """,
    "cdc_schema_widen": f"""
        WITH message_changes AS ({MESSAGE_CHANGES_SQL}),
        unioned AS (
            SELECT seq, op, id,
                   CASE WHEN ts < TIMESTAMP '{_SPLIT}'
                        THEN CAST(seq % 100000 AS BIGINT)
                        ELSE CAST(seq % 100000 + 3000000000 AS BIGINT) END
                     AS value_cents
            FROM message_changes
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
            FROM unioned
        )
        SELECT id, seq AS last_seq, value_cents,
               value_cents > 2147483647 AS post_widening
        FROM ranked WHERE rn = 1 AND op <> 'DELETE'
    """,
}

# the live fold must converge to the batch evolution fold exactly —
# same oracle verbatim
ORACLES["cdc_schema_evolution_live"] = ORACLES["cdc_schema_evolution"]

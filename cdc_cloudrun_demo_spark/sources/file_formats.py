"""Text-format ingestion exercised end-to-end: CSV and JSON-lines.

The reference persists through JDBC only, but any engine claiming its
workload must also ingest the flat-file formats data actually arrives in.
Both entries here round-trip a real table Spark → text format → Spark
with an EXPLICIT schema (the 100 TB discipline — ``inferSchema`` is an
extra full scan of the input, and a schema drifting under you mid-corpus
is how silent corruption ships), then aggregate the read-back rows.
Hash-matching an oracle that reads the pristine parquet proves the
text hop is lossless: NULLs, quoting, µs timestamps, float round-trip.

Scale notes baked into the plans:

* Reads pass the schema; writes/reads pin ``timestampFormat`` with
  microsecond precision (Spark's JSON/CSV default emits millis — a
  silent 1000× precision loss on event times).
* The aggregate uses the scaled-long sum discipline (operators/_util)
  so the value hash is engine-exact.
* The round-trip parallelism comes from the source files themselves
  (one file per input partition); a production ingest points the same
  reader at a directory of thousands of files and gets scan
  parallelism for free — nothing here collects rows to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._scratch import scratch_dir
from ..catalog import load_table
from ..operators._util import dsum, sql_dsum

_TS_US = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, quoted strings, µs timestamps) → orders,
    then a per-status revenue summary over the read-back rows."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    o = load_table(spark, sf_dir, "orders").select(*cols)
    path = os.path.join(scratch_dir("csv_rt_"), "orders_csv")
    # nullValue pinned on BOTH sides: Spark's default maps an empty field
    # to NULL on read, so an empty-string cell would not round-trip —
    # the explicit sentinel keeps ''-vs-NULL distinct for any input
    (
        o.write.option("header", "true")
        .option("timestampFormat", _TS_US)
        .option("nullValue", "\\N")
        .mode("overwrite")
        .csv(path)
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp"
    )
    back = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", _TS_US)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_total"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines (µs timestamps, nullable value) → events,
    then a per-type activity summary over the read-back rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = os.path.join(scratch_dir("jsonl_rt_"), "events_jsonl")
    ev.write.option("timestampFormat", _TS_US).mode("overwrite").json(path)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    back = (
        spark.read.schema(schema).option("timestampFormat", _TS_US).json(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        dsum("value", 6).alias("sum_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → ORC → aggregate, proving the columnar-format
    matrix beyond parquet. ORC round-trips types natively (no text
    parsing), so the interesting checks are predicate pushdown and
    column pruning on the read-back scan — the same PushedFilters
    discipline the parquet plans are tested for; the oracle proves
    value identity through the format hop."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    path = os.path.join(scratch_dir("orc_rt_"), "lineitem_orc")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("l_quantity") < 25)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("sum_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


def source_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lakehouse layout: documents written
    ``partitionBy('lang')`` (one directory per language — THE layout for
    a multilingual corpus, since language is the dominant filter of
    every downstream curation query), read back with a two-language
    filter that must resolve as PARTITION PRUNING — directories never
    opened, no row-level work, `PartitionFilters` in the scan node
    (plan-pinned in tests/test_sources.py) — then summarized per
    language with an order-independent modular membership digest (the
    `pipeline_shard_manifest` discipline): equal digests prove the
    partition hop moved every row to exactly one directory and back,
    not just equal counts. The partition column round-trips from
    directory names, the classic silent seam for type fidelity."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    path = os.path.join(scratch_dir("hive_rt_"), "documents_by_lang")
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    # explicit schema: a zero-row write leaves no partition directories
    # and no footers to infer from (the empty-corpus case), and at scale
    # it also skips the footer-sampling inference pass
    back = spark.read.schema(
        "doc_id long, text string, n_chars long, lang string"
    ).parquet(path).filter(F.col("lang").isin("en", "de"))
    member_v = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % F.lit(1000003)
    )
    return back.select("lang", "doc_id", "n_chars", member_v.alias("v")).groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        (F.sum("v") % F.lit(1000003)).alias("member_digest"),
    )


def source_text_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured-text ingestion: events → access-log-style LINES →
    `spark.read.text` → regexp parse → aggregate. The write side
    renders each event as `user - - [epoch_us] "GET /<type>" 200
    <value_cents|->` (NULL metrics become `-`, the real access-log
    convention); the read side recovers every field with ONE
    `regexp_extract_all` pass per line — all JVM-side, whole-stage
    codegen, the pattern every raw-log ETL at 100 TB starts with (text
    splits by line, so a directory of log files scans fully parallel
    with no schema inference pass). The timestamp rides as integer
    epoch-µs: log-format timestamp STRINGS (locale month names, zone
    suffixes) are the classic silent-corruption seam, and the integer
    form makes the round-trip provably exact. Hash-match oracle
    aggregates the pristine parquet — losslessness of the text hop,
    NULL sentinel included, is the thing certified."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    line = F.concat(
        F.col("user_id").cast("string"),
        F.lit(" - - ["),
        F.unix_micros(F.col("ts")).cast("string"),
        F.lit('] "GET /'),
        F.col("event_type"),
        F.lit('" 200 '),
        F.coalesce(cents.cast("string"), F.lit("-")),
    )
    path = os.path.join(scratch_dir("textlog_"), "events_log")
    ev.select(line.alias("value")).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    pat = r'^(\d+) - - \[(\d+)\] "GET /([a-z_]+)" 200 (\d+|-)$'
    parsed = raw.select(
        F.regexp_extract("value", pat, 1).cast("long").alias("user_id"),
        F.timestamp_micros(
            F.regexp_extract("value", pat, 2).cast("long")
        ).alias("ts"),
        F.regexp_extract("value", pat, 3).alias("event_type"),
        F.nullif(F.regexp_extract("value", pat, 4), F.lit("-"))
        .cast("long")
        .alias("value_cents"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("value_cents").alias("sum_cents"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def _make_sqldump_source():
    """Custom Python DataSource (Spark 4 DataSource API) that reads
    pg_dump-style ``INSERT INTO ... VALUES (...);`` statement files —
    the format the reference actually seeds its database with
    (quarkus_cloud_run/src/main/resources/import.sql:6). Defined inside
    a factory so the module imports even if the API is absent.

    Planning: `partitions()` returns ONE InputPartition PER FILE, so a
    directory of N dump files scans with N-way parallelism and each
    task streams its file line-by-line — never loads the dump whole.
    Parsing handles the SQL quoting rules the formats family exists to
    prove lossless: single-quoted strings with '' escapes, NULL
    literals, and timestamp literals."""
    import re
    from datetime import datetime

    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    _VALS = re.compile(r"VALUES\s*\((.*)\);\s*$", re.IGNORECASE)

    def _split_tuple(s: str) -> list[str]:
        """Split a VALUES tuple on commas not inside single quotes
        ('' is the in-string escape, so quote state just toggles)."""
        out, cur, in_q = [], [], False
        for ch in s:
            if ch == "'":
                in_q = not in_q
                cur.append(ch)
            elif ch == "," and not in_q:
                out.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        out.append("".join(cur).strip())
        return out

    def _lit(tok: str):
        if tok.upper() == "NULL":
            return None
        if tok.startswith("'") and tok.endswith("'"):
            return tok[1:-1].replace("''", "'")
        return tok

    class _FilePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class SqlDumpReader(DataSourceReader):
        def __init__(self, options):
            self.dir = options["path"]

        def partitions(self):
            import glob as _glob

            return [
                _FilePartition(p)
                for p in sorted(_glob.glob(os.path.join(self.dir, "*.sql")))
            ]

        def read(self, partition):
            with open(partition.path, encoding="utf-8") as fh:
                for line in fh:
                    m = _VALS.search(line)
                    if not m:
                        continue
                    k, st, tp, dt, note = (_lit(t) for t in _split_tuple(m.group(1)))
                    yield (
                        int(k) if k is not None else None,
                        st,
                        float(tp) if tp is not None else None,
                        datetime.strptime(dt, "%Y-%m-%d %H:%M:%S")
                        if dt is not None
                        else None,
                        note,
                    )

    from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

    class _WroteFile(WriterCommitMessage):
        def __init__(self, path: str, pid: int):
            self.path = path
            self.pid = pid

    class SqlDumpWriter(DataSourceWriter):
        """The WRITE half of the custom DataSource API (Spark 4
        ``DataSource.writer``): each task serializes its partition as
        INSERT statements into a task-private temp file and returns the
        path as its commit message; ``commit`` (driver-side, after every
        task succeeded) renames them into place — the standard
        task-attempt → job-commit protocol, so a failed/speculated task
        leaves no partial file behind ``abort``'s cleanup."""

        def __init__(self, options):
            self.dir = options["path"]

        def write(self, it):
            from pyspark import TaskContext

            os.makedirs(self.dir, exist_ok=True)
            ctx = TaskContext.get()
            pid = ctx.partitionId()
            # temp name keyed by task ATTEMPT, not just partition: a
            # speculative/retried attempt racing a zombie first attempt
            # must not write into the same file (the standard commit
            # protocol); exactly one attempt's message wins commit()
            tmp = os.path.join(
                self.dir, f".part-{pid:05d}-{ctx.taskAttemptId()}.sql.tmp"
            )
            with open(tmp, "w", encoding="utf-8") as fh:
                def lit(v):
                    if v is None:
                        return "NULL"
                    if hasattr(v, "strftime"):
                        return f"'{v.strftime('%Y-%m-%d %H:%M:%S')}'"
                    if isinstance(v, str):
                        return "'" + v.replace("'", "''") + "'"
                    # repr = shortest float round-trip; the reader's
                    # float() reconstructs the exact bits
                    return repr(v)

                for row in it:
                    vals = ", ".join(
                        lit(v)
                        for v in (
                            row.o_orderkey,
                            row.o_orderstatus,
                            row.o_totalprice,
                            row.o_orderdate,
                            row.note,
                        )
                    )
                    fh.write(
                        "INSERT INTO orders (o_orderkey, o_orderstatus,"
                        f" o_totalprice, o_orderdate, note) VALUES ({vals});\n"
                    )
            return _WroteFile(tmp, pid)

        def commit(self, messages):
            # one message per partition (Spark commits exactly one
            # attempt); publish under the deterministic partition name —
            # only the BASENAME loses its hidden-file dot (a naive
            # whole-path replace would corrupt any '/.'-segment in the
            # table directory itself, e.g. ~/.cache/...)
            for m in messages:
                os.replace(
                    m.path,
                    os.path.join(os.path.dirname(m.path), f"part-{m.pid:05d}.sql"),
                )

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class SqlDumpDataSource(DataSource):
        @classmethod
        def name(cls):
            return "sqldump"

        def schema(self):
            return (
                "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
                " o_orderdate timestamp, note string"
            )

        def reader(self, schema):
            return SqlDumpReader(self.options)

        def writer(self, schema, overwrite):
            return SqlDumpWriter(self.options)

    return SqlDumpDataSource


def source_sqldump_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → pg_dump-style INSERT statements → back through a CUSTOM
    Python DataSource — the engine-extension path for a format Spark has
    no built-in reader for, planned with one partition per dump file.
    The synthesized ``note`` column embeds a single quote per row
    (written as the SQL '' escape), so the hash-match against the
    pristine-parquet oracle proves the dump writer and the custom
    parser agree on the quoting rules — the exact seed-file semantics
    of the reference's import.sql. Scale: the dump is written from the
    distributed rows (one statement per row, text sink) and read back
    file-parallel; nothing passes through the driver."""
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    o = load_table(spark, sf_dir, "orders").select(*cols)
    note = F.concat(
        F.lit("it's #"), F.col("o_orderkey"), F.lit(" "), F.col("o_orderstatus")
    )
    stmt = F.concat(
        F.lit("INSERT INTO orders (o_orderkey, o_orderstatus, o_totalprice,"
              " o_orderdate, note) VALUES ("),
        F.col("o_orderkey"),
        F.lit(", '"),
        F.col("o_orderstatus"),
        F.lit("', "),
        # double → string via Spark's shortest-round-trip repr, so the
        # Python float() in the reader reconstructs the EXACT bits (a
        # fixed-decimals format would quietly round the value instead)
        F.col("o_totalprice").cast("string"),
        F.lit(", '"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit("', '"),
        F.regexp_replace(note, "'", "''"),
        F.lit("');"),
    )
    path = os.path.join(scratch_dir("sqldump_"), "dump")
    o.select(stmt.alias("value")).repartition(4).write.mode("overwrite").text(path)
    for f in os.listdir(path):
        if f.startswith("part-") and not f.endswith(".sql"):
            os.rename(os.path.join(path, f), os.path.join(path, f + ".sql"))
    spark.dataSource.register(_make_sqldump_source())
    back = spark.read.format("sqldump").option("path", path).load()
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_total"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.sum(F.length("note")).alias("note_len_sum"),
        F.sum(F.when(F.col("note").contains("'"), 1).otherwise(0))
        .cast("long")
        .alias("n_quoted"),
    )


def _delta_orders_two_commits(spark: SparkSession, sf_dir: str, prefix: str):
    """A Delta-protocol table under a fresh scratch dir holding two
    `merge_commit`s: every order as (id, status) at seq 1, then the
    o_orderkey % 7 == 0 keys overwritten to content 'X' and the % 11 ==
    0 keys tombstoned at seq 2. The second commit appends delta files to
    only those keys' buckets; readers fold them with `lww_merge`."""
    from ..streaming.delta_log import DeltaLogStore
    from ..streaming.tx_snapshot import merge_commit

    store = DeltaLogStore(os.path.join(scratch_dir(prefix), "table"))
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("content"),
        F.lit(1).cast("long").alias("last_seq"),
        F.lit(None).cast("timestamp").alias("updated_at"),
        F.lit(False).alias("is_deleted"),
    )
    merge_commit(store, spark, base, batch_id=0)
    upd = base.filter((F.col("id") % 7 == 0) | (F.col("id") % 11 == 0)).select(
        "id",
        F.when(F.col("id") % 11 == 0, F.col("content"))
        .otherwise(F.lit("X"))
        .alias("content"),
        F.lit(2).cast("long").alias("last_seq"),
        F.col("updated_at"),
        (F.col("id") % 11 == 0).alias("is_deleted"),
    )
    merge_commit(store, spark, upd, batch_id=1)
    return store


def source_delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two commits through the Delta-protocol table store
    (streaming/delta_log.py — public delta-io PROTOCOL.md log format),
    then BOTH snapshots read back via log replay and summarized: commit
    1 seeds every order as (id, status); commit 2 LWW-overwrites the
    o_orderkey % 7 == 0 keys to content 'X' and tombstones the
    % 11 == 0 keys (`_delta_orders_two_commits`: commit 2 only adds
    delta files, which readers fold). Hash-matching the closed-form
    oracle proves the whole add/txn replay chain and the fold — v1 must
    NOT see the updates, v2 must see exactly them. Scale: a commit
    appends the batch's rows as one delta file per touched bucket and
    never reads current state; the log fold the driver performs is
    metadata-only."""
    store = _delta_orders_two_commits(spark, sf_dir, "delta_rt_")
    out = None
    for v in (1, 2):
        snap = (
            store.read(spark, v)
            .filter(~F.col("is_deleted"))
            .groupBy(F.lit(v).alias("version"), "content")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id"))
        )
        out = snap if out is None else out.unionByName(snap)
    return out


def source_delta_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE (bin-packing compaction) on a deliberately FRAGMENTED
    Delta-protocol table: the orders seed is committed from an 8-way
    random repartition, so every hash bucket receives up to 8 small
    parquet parts in one commit — the small-file accumulation a
    long-running merge sink produces and OPTIMIZE exists to repair.
    `DeltaLogStore.optimize` then rewrites each bucket to one file via
    remove+add actions with ``dataChange: false`` (protocol semantics:
    bytes moved, zero rows changed) and the compacted snapshot is
    summarized. Hash-matching the SAME closed form as the uncompacted
    seed proves OPTIMIZE is content-invisible end to end; file-count
    collapse, pre-OPTIMIZE time travel, dataChange flags and vacuum are
    pinned in tests/test_streaming.py::test_delta_optimize_compacts.
    Scale: one Spark job regardless of fragmentation (fragmented files
    read with basePath, repartitioned BY bucket, one output file per
    bucket); driver work is ≤ n_buckets of file bookkeeping."""
    from ..streaming.delta_log import DeltaLogStore
    from ..streaming.tx_snapshot import bucket_expr

    state_dir = os.path.join(scratch_dir("delta_opt_"), "table")
    store = DeltaLogStore(state_dir)
    base = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("content"),
            F.lit(1).cast("long").alias("last_seq"),
            F.lit(None).cast("timestamp").alias("updated_at"),
            F.lit(False).alias("is_deleted"),
        )
        .withColumn("bucket", bucket_expr(store.n_buckets))
        .repartition(8)  # the fragmentation under repair
    )
    store.commit(base, list(range(store.n_buckets)), batch_id=0)
    store.optimize(spark)
    return (
        store.read(spark)
        .filter(~F.col("is_deleted"))
        .groupBy("content")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id"))
    )


def source_delta_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on the Delta-protocol table: the orders seed is
    committed from an 8-way RANDOM repartition (every bucket's files
    span the whole id range — footer stats prune nothing), then
    `DeltaLogStore.optimize_zorder` rewrites each bucket into 4 z-range
    files clustered by the Morton interleave of (id, last_seq) — here
    last_seq carries o_custkey, so the z-key is a genuine 2-D key and a
    range scan on EITHER column skips most files on parquet footer
    stats alone. The commit is remove+add with ``dataChange: false``;
    hash-matching the same closed form as the fragmented seed proves
    the clustering rewrite is content-invisible end to end. The
    pruning-ratio improvement (pre vs post, real parquet footers) and
    the protocol details are pinned in
    tests/test_streaming.py::test_delta_optimize_zorder. Scale: one
    tiny min/max broadcast + one repartition on (bucket, z-range) —
    no global sort; per-file driver work is bookkeeping."""
    from ..streaming.delta_log import DeltaLogStore
    from ..streaming.tx_snapshot import bucket_expr

    state_dir = os.path.join(scratch_dir("delta_zorder_"), "table")
    store = DeltaLogStore(state_dir)
    base = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("content"),
            F.col("o_custkey").cast("long").alias("last_seq"),
            F.lit(None).cast("timestamp").alias("updated_at"),
            F.lit(False).alias("is_deleted"),
        )
        .withColumn("bucket", bucket_expr(store.n_buckets))
        .repartition(8)  # the fragmentation under repair
    )
    store.commit(base, list(range(store.n_buckets)), batch_id=0)
    store.optimize_zorder(spark)
    return (
        store.read(spark)
        .filter(~F.col("is_deleted"))
        .groupBy("content")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("last_seq").alias("sum_seq"),
        )
    )


def source_delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed over the Delta-protocol store: three commits —
    the orders seed, an LWW update/delete wave (the roundtrip shapes:
    %7 keys overwritten to 'X', %11 keys tombstoned), then an OPTIMIZE
    — and `DeltaLogStore.change_feed` emits the row-level changes after
    version 1: inserts/deletes/update pre+post images diffed from the
    touched buckets of each ``dataChange: true`` commit, while the
    OPTIMIZE version contributes NOTHING (its actions carry
    ``dataChange: false`` — the protocol's reason for the flag, proven
    here end to end because a single leaked byte-move row would break
    the hash). Summarized per (version, change_type) with exact key
    sums; the oracle is the closed form over orders. Scale: each
    version's diff reads only its touched buckets at v and v-1; the
    feed never scans the table."""
    store = _delta_orders_two_commits(spark, sf_dir, "delta_cdf_")
    store.optimize(spark)
    return (
        store.change_feed(spark, from_version=1)
        .groupBy("version", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("last_seq").alias("sum_seq"),
        )
    )


def source_sqldump_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → the custom DataSource's WRITE path
    (``df.write.format("sqldump")``, Spark 4 ``DataSourceWriter`` with
    the task-temp-file → driver-commit protocol) → back through its
    reader. Complements ``source_sqldump_roundtrip``, which writes via
    the built-in text sink: here the engine-extension API covers BOTH
    directions, and the hash-match against pristine parquet proves the
    writer's quoting/escaping/float-repr agrees with the reader's
    parser on every row. Scale: each task streams its partition to its
    own file (nothing through the driver but ≤ |tasks| commit
    messages); rename-on-commit gives failed tasks zero partial
    output."""
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    o = load_table(spark, sf_dir, "orders").select(*cols)
    note = F.concat(
        F.lit("w/ 'quote' #"), F.col("o_orderkey"), F.lit(" "), F.col("o_orderstatus")
    )
    path = os.path.join(scratch_dir("sqldump_w_"), "dump")
    spark.dataSource.register(_make_sqldump_source())
    o.withColumn("note", note).repartition(4).write.format("sqldump").option(
        "path", path
    ).mode("append").save()
    back = spark.read.format("sqldump").option("path", path).load()
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_total"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.sum(F.length("note")).alias("note_len_sum"),
        F.sum(F.when(F.col("note").contains("'"), 1).otherwise(0))
        .cast("long")
        .alias("n_quoted"),
    )


def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents metadata → XML files (Spark 4's native XML source, one
    <doc> element per row) → read back with an explicit schema → per-lang
    aggregate over the read-back rows. The XML write omits null elements
    and the read restores them as NULL, so null langs land in the null
    group on both sides — the oracle aggregates the pristine parquet, and
    a hash match proves the XML hop is identity on every row. Scale
    shape: XML scan/write are file-parallel JVM operators like CSV; the
    aggregate is one map-side-combined exchange."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = os.path.join(scratch_dir("xml_rt_"), "docs_xml")
    d.write.format("xml").option("rowTag", "doc").mode("overwrite").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id bigint, lang string, n_chars bigint")
        .load(path)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SOURCE_XML_ORACLE = """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY lang
"""


def source_binary_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` ingestion — THE source for multimodal corpora at
    scale (image/audio/video blobs landed as object-store files): a
    bounded fixture subset of documents is written out as one .bin file
    per doc (utf-8 text bytes; fixture construction only — see bound
    note), then read back via `spark.read.format("binaryFile")` and
    fingerprinted (doc_id parsed from the filename, byte length, md5 of
    the content). The oracle fingerprints the same rows straight from
    parquet, so a hash match proves the blob hop preserved every byte.
    Scale shape: the binaryFile scan is file-parallel (one task per
    blob batch, pathGlobFilter/recursiveFileLookup for layout control)
    and feeds the same Arrow decode pipeline as `sources/multimodal.py`;
    nothing here is bounded by corpus size at read time. The WRITE side
    is a test fixture: 40 rows fetched to the driver (bounded by the
    LIMIT, vetted in tests/test_scale_lint.py) — a production corpus
    lands its blobs from the upstream store; Spark has no row-per-file
    binary writer and an engine should not pretend otherwise."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
    )
    root = scratch_dir("blob_rt_")
    blob_dir = os.path.join(root, "blobs")
    os.makedirs(blob_dir, exist_ok=True)
    for row in d.collect():  # bounded: LIMIT 40 fixture rows, vetted
        with open(os.path.join(blob_dir, f"doc_{row['doc_id']}.bin"), "wb") as f:
            f.write(row["text"].encode("utf-8"))
    back = spark.read.format("binaryFile").load(blob_dir)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


SOURCE_BINARY_ORACLE = """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL
        ORDER BY doc_id LIMIT 40
    )
"""


QUERIES = {
    "source_xml_roundtrip": source_xml_roundtrip,
    "source_binary_blobs": source_binary_blobs,
    "source_sqldump_writer_roundtrip": source_sqldump_writer_roundtrip,
    "source_delta_roundtrip": source_delta_roundtrip,
    "source_delta_optimize": source_delta_optimize,
    "source_delta_optimize_zorder": source_delta_optimize_zorder,
    "source_delta_change_feed": source_delta_change_feed,
    "source_sqldump_roundtrip": source_sqldump_roundtrip,
    "source_csv_roundtrip": source_csv_roundtrip,
    "source_jsonl_roundtrip": source_jsonl_roundtrip,
    "source_orc_roundtrip": source_orc_roundtrip,
    "source_partitioned_roundtrip": source_partitioned_roundtrip,
    "source_text_log_parse": source_text_log_parse,
}

ORACLES = {
    # The oracles read the PRISTINE parquet: equality proves the text
    # hop (quote/escape/precision) is identity on every row.
    "source_partitioned_roundtrip": """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id,
               CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 1000003) % 1000003 AS BIGINT) AS member_digest
        FROM documents
        WHERE lang IN ('en', 'de')
        GROUP BY lang
    """,
    "source_xml_roundtrip": SOURCE_XML_ORACLE,
    "source_binary_blobs": SOURCE_BINARY_ORACLE,
    "source_sqldump_writer_roundtrip": f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice")} AS sum_total,
               MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order,
               CAST(SUM(LENGTH('w/ ''quote'' #' || o_orderkey || ' '
                               || o_orderstatus)) AS BIGINT) AS note_len_sum,
               COUNT(*) AS n_quoted
        FROM orders
        GROUP BY o_orderstatus
    """,
    "source_delta_roundtrip": """
        SELECT 1 AS version, o_orderstatus AS content,
               COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_id
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT 2 AS version,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                 AS content,
               COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_id
        FROM orders WHERE o_orderkey % 11 <> 0
        GROUP BY 2
    """,
    "source_delta_optimize": """
        SELECT o_orderstatus AS content,
               COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_id
        FROM orders GROUP BY o_orderstatus
    """,
    "source_delta_optimize_zorder": """
        SELECT o_orderstatus AS content,
               COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_id,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_seq
        FROM orders GROUP BY o_orderstatus
    """,
    "source_delta_change_feed": """
        SELECT 2 AS version, 'delete' AS change_type,
               COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_id,
               CAST(COUNT(*) AS BIGINT) AS sum_seq
        FROM orders WHERE o_orderkey % 11 = 0
        UNION ALL
        SELECT 2, 'update_preimage',
               COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
        UNION ALL
        SELECT 2, 'update_postimage',
               COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
               CAST(2 * COUNT(*) AS BIGINT)
        FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
    """,
    "source_sqldump_roundtrip": f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice")} AS sum_total,
               MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order,
               CAST(SUM(LENGTH('it''s #' || o_orderkey || ' ' || o_orderstatus))
                    AS BIGINT) AS note_len_sum,
               COUNT(*) AS n_quoted
        FROM orders
        GROUP BY o_orderstatus
    """,
    "source_csv_roundtrip": f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice")} AS sum_total,
               MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order
        FROM orders
        GROUP BY o_orderstatus
    """,
    "source_orc_roundtrip": f"""
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               {sql_dsum("l_extendedprice")} AS sum_price,
               MIN(l_shipdate) AS first_ship,
               MAX(l_shipdate) AS last_ship
        FROM lineitem
        WHERE l_quantity < 25
        GROUP BY l_returnflag
    """,
    "source_text_log_parse": """
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
               MAX(CAST(ts AS TIMESTAMP)) AS last_ts
        FROM events
        GROUP BY event_type
    """,
    "source_jsonl_roundtrip": f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               {sql_dsum("value", 6)} AS sum_value,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts
        FROM events
        GROUP BY event_type
    """,
}

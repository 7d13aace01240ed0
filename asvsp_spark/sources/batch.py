"""Batch I/O edges: explicit-schema CSV scan, partitioned parquet write,
SQL-file execution, and JDBC sinks. The pure-transform core never touches
I/O; these adapters live at the edges (SURVEY §7.0).

Reference parity map:
- S1  CSV scan            load_hourly.py:28 (header, no inference)
- S3  partitioned write   load_hourly.py:82-84, daily_aggregation.py:32
- S5  SQL-file execution  export_to_postgres.py:23-27
- S6  JDBC batch sink     export_to_postgres.py:28-36
- S10 JDBC stream sink    consumer1.py:93-103 (foreachBatch + empty guard)

Scale notes: the CSV reader takes an explicit StructType so Spark skips
the inference pass (one full extra scan at 100TB); partitioned writes use
the table's partition spec so downstream partition-key filters prune at
the source; JDBC writes batch rows and parallelize across partitions.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from asvsp_spark.sources.store import BatchStore, hadoop_fs


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True) -> DataFrame:
    """Explicit-schema CSV scan (S1). The reference reads all-string and
    casts after (load_hourly.py:28,67-80); declaring the schema up front
    gives the same types without the string detour and keeps column
    pruning effective.
    """
    return (
        spark.read
        .schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_csv_raw(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """All-string CSV scan — the reference's exact shape
    (inferSchema=false, load_hourly.py:28) for sources whose headers need
    normalization before typing (see ingest.normalize_column_names).
    """
    return (
        spark.read
        .option("header", str(header).lower())
        .option("inferSchema", "false")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType,
               keep_corrupt: bool = True) -> DataFrame:
    """Explicit-schema JSONL scan — the interchange format LLM corpora
    actually ship in (one JSON document per line). Same discipline as
    ``read_csv``: the schema is declared up front so Spark skips the
    inference pass (a full extra scan at 100 TB) and column pruning
    reaches the reader.

    ``keep_corrupt=True`` (default) appends a ``_corrupt_record``
    string column carrying any unparseable line verbatim (PERMISSIVE
    mode) so a quality pipeline can COUNT and quarantine bad lines
    instead of silently nulling them; ``keep_corrupt=False`` switches
    to FAILFAST — first bad line kills the read, the right mode for
    curated inputs where corruption means an upstream bug.

    Spark gotcha: a query may not reference ONLY the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — column
    pruning would leave nothing to parse); include any data column in
    the projection when counting/quarantining bad lines, or cache the
    frame first."""
    if keep_corrupt:
        full = T.StructType(
            list(schema.fields)
            + [T.StructField("_corrupt_record", T.StringType())])
        return (spark.read.schema(full)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", "_corrupt_record")
                .json(path))
    return (spark.read.schema(schema)
            .option("mode", "FAILFAST")
            .json(path))


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip",
                mode: str = "overwrite") -> None:
    """JSONL write (Spark's json sink IS newline-delimited). gzip by
    default: JSONL text compresses ~10x and every downstream consumer
    of the format splits per-file anyway — at export scale the
    bandwidth win beats splittability within one file (pass
    ``compression=None`` for splittable plain text)."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_orc(spark: SparkSession, path: str,
             schema: T.StructType | None = None) -> DataFrame:
    """Explicit-schema ORC scan. ORC ships in Spark's distribution (no
    extra jar) and is the interchange format of Hive-era warehouses —
    the reference's Hive metastore tables (load_hourly.py:82) would be
    ORC under many site defaults, so a drop-in engine needs the reader.

    Same discipline as ``read_csv``/``read_jsonl``: pass the schema so
    the footer-merge inference pass is skipped and column pruning plus
    predicate pushdown reach the reader (ORC carries min/max stride
    statistics exactly like parquet; `.explain` shows PushedFilters).
    ``schema=None`` falls back to footer inference for ad-hoc reads.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str,
              partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
    """ORC write, optionally hive-partitioned — the ORC twin of
    ``write_partitioned``: same directory layout, so partition-key
    filters prune at the scan whichever columnar format the warehouse
    standardized on. Compression stays at Spark's zstd/snappy default
    (`spark.sql.orc.compression.codec`), which is the right call at
    100 TB: per-stripe codec choice belongs in cluster conf, not code.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None,
                      recursive: bool = False) -> DataFrame:
    """Raw-file ingestion via the built-in ``binaryFile`` source:
    one row per file with columns (path, modificationTime, length,
    content binary). This is the on-ramp for the multimodal operators
    (operators/multimodal.py): crawl output / image dumps / audio
    shards land as files; this scan turns them into the opaque-binary
    column shape `media_features`/`decode_*` consume.

    Scale notes: the source is read-only and splits per FILE (a file
    is never split), so at 100 TB the parallelism unit is the file —
    keep shards in the 10–500 MB range upstream. ``glob`` maps to
    pathGlobFilter (pushed into file listing, so non-matching files
    are never opened); ``recursive`` maps to recursiveFileLookup.
    Pair with `spark.sql.files.maxPartitionBytes` to batch many small
    files into one task rather than one task per tiny file.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def read_text_docs(spark: SparkSession, path: str,
                   wholetext: bool = False,
                   line_sep: str | None = None) -> DataFrame:
    """Plain-text ingestion: (file_path, text). ``wholetext=True``
    reads ONE ROW PER FILE — the document-per-file corpus layout —
    while the default reads one row per line (``line_sep`` overrides
    the newline delimiter for e.g. NUL-separated exports).

    file_path comes from the hidden ``_metadata.file_path`` struct
    (constant-folded per split, no per-row Python), giving downstream
    dedup/provenance a stable doc key without requiring ids inside the
    payload. Whole-file rows are not splittable, same caveat as
    ``read_binary_files``.
    """
    # parameters, not .option(): pyspark's text() re-sets wholetext
    # from its own keyword default, clobbering a reader-level option
    df = spark.read.text(path, wholetext=wholetext, lineSep=line_sep)
    return df.select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("value").alias("text"))


def write_partitioned(df: DataFrame, path: str, partition_by: list[str],
                      mode: str = "overwrite") -> None:
    """Partitioned parquet write (S3): layout mirrors the reference's
    warehouse tables (hourly by pollutant; daily by pollutant/year/month
    — load_hourly.py:84, daily_aggregation.py:32) so partition-key
    filters prune at the scan. At 100TB also consider bucketing the join
    key via ``writeTo(...).partitionedBy(...)`` on a catalog table.
    """
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def run_sql_file(spark: SparkSession, sql_path: str | Path) -> DataFrame:
    """Execute a .sql file's text (S5, export_to_postgres.py:23-27)."""
    return spark.sql(Path(sql_path).read_text())


def jdbc_write(df: DataFrame, url: str, table: str,
               properties: dict[str, str] | None = None,
               mode: str = "overwrite") -> None:
    """Batch JDBC sink (S6, export_to_postgres.py:28-36). Requires the
    JDBC driver jar on the cluster classpath; not exercised in the test
    environment (no database), kept API-compatible for deployments.
    """
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def foreach_batch_jdbc(url: str, table: str,
                       properties: dict[str, str] | None = None):
    """foreachBatch JDBC appender for streaming sinks (S10,
    consumer1.py:93-103). Uses df.isEmpty() instead of the reference's
    rdd.isEmpty() — no RDD materialization of the batch.
    """
    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        jdbc_write(batch_df, url, table, properties, mode="append")
    return _sink


def foreach_batch_jdbc_exactly_once(url: str, table: str,
                                    properties: dict[str, str] | None = None,
                                    batch_id_col: str = "_batch_id",
                                    delete_fn=None):
    """Exactly-once JDBC streaming sink: batch-id-keyed upsert.

    The plain ``foreach_batch_jdbc`` append duplicates rows whenever
    Structured Streaming replays a micro-batch (checkpoint recovery,
    task retry after the write partially landed) — the reference papers
    over this with a truncate-and-append ritual per run
    (streaming_pipeline_dag.py:42-43), which is exactly-once only if
    nothing else writes the table. This sink instead keys every row
    with foreachBatch's epoch id (``batch_id_col``) and makes the batch
    write idempotent:

      1. DELETE FROM table WHERE batch_id = <epoch>   -- clears any
         rows a previous (partial or complete) attempt of THIS batch
         landed; a first attempt deletes nothing;
      2. append the batch tagged with the epoch id.

    Re-running a micro-batch therefore converges to the same table
    state (delete wipes the earlier attempt, the re-append writes the
    identical rows — epoch ids are stable across restarts from the same
    checkpoint). Readers that do not care about lineage just ignore the
    extra column; a unique index on (batch_id, natural key) is NOT
    required.

    ``delete_fn(batch_id)`` is injectable for tests and for dialects
    whose delete needs quoting beyond the default; the default executes
    the DELETE through java.sql.DriverManager on the driver (the JDBC
    driver jar must be on the classpath, same requirement as
    ``jdbc_write``). The DELETE interpolates only ``int(batch_id)`` —
    no string interpolation of user data.
    """
    def _default_delete(spark: SparkSession, batch_id: int) -> None:
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            # batch 0 against a fresh database: the table is created by
            # the first append below, so there is nothing to delete yet
            # — probing metadata (identifier-cased variants: as-is plus
            # the upper/lower folds dialects apply to unquoted names)
            # instead of letting DELETE raise keeps real delete failures
            # (permissions, locks) loud, which the idempotency contract
            # depends on
            bare = table.rsplit(".", 1)[-1]
            meta = conn.getMetaData()
            exists = False
            for cand in dict.fromkeys((bare, bare.upper(), bare.lower())):
                rs = meta.getTables(None, None, cand, None)
                try:
                    if rs.next():
                        exists = True
                        break
                finally:
                    rs.close()
            if not exists:
                return
            st = conn.createStatement()
            st.executeUpdate(
                f"DELETE FROM {table} WHERE {batch_id_col} = "
                f"{int(batch_id)}")
            st.close()
        finally:
            conn.close()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if delete_fn is not None:
            delete_fn(batch_id)
        else:
            _default_delete(batch_df.sparkSession, batch_id)
        tagged = batch_df.withColumn(batch_id_col, F.lit(int(batch_id)))
        jdbc_write(tagged, url, table, properties, mode="append")
    return _sink


def overwrite_window_partitions(df: DataFrame, path: str,
                                partition_by: list[str]) -> None:
    """Idempotent materialization: dynamic partition overwrite replaces
    ONLY the partitions present in ``df``, leaving the rest of the table
    untouched. Re-running a micro-batch or a backfill for one day/window
    converges to the same bytes instead of appending duplicates — the
    engine's replacement for the reference's truncate-and-append
    idempotency ritual (streaming_pipeline_dag.py:33-46; SURVEY §7.3).
    """
    # write-scoped option, NOT the session conf: setting the session-wide
    # partitionOverwriteMode would silently turn every later plain
    # overwrite in the same session dynamic (r1 advice)
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_by).parquet(path))


def foreach_batch_overwrite_partitions(path: str, partition_by: list[str],
                                       files_per_partition: bool = False):
    """Exactly-once-per-window streaming sink: each micro-batch overwrites
    the (e.g. window_start-derived) partitions it carries. Combined with
    update output mode, a window re-emitted by a later batch — or by a
    whole re-run after checkpoint loss — simply replaces its partition:
    the sink is idempotent without any truncate step (SURVEY §7.3
    'batch-id-keyed upserts or overwrite-by-window partitions').

    ``files_per_partition`` bounds the sink's file count: without it,
    every upstream task writes its own file into every partition dir it
    touches (shuffle_partitions x |partition values| files per batch —
    small-files accretion plus one commit per file). When true, it
    repartitions the batch by the partition columns so each partition
    value lands in exactly one file.

    There is no emptiness pre-check: every batch runs the write. An
    empty frame writes no file and replaces no partition (dynamic
    overwrite only touches partitions that received rows), so the
    write is already a no-op for it. A stateful micro-batch must
    execute once anyway to commit its state-store version, and
    ``isEmpty()`` would execute its stateful stage a second time,
    state-store commits included, so the check could only add work.
    """
    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        out = batch_df
        if files_per_partition:
            out = out.repartition(*[F.col(c) for c in partition_by])
        overwrite_window_partitions(out, path, partition_by)
    return _sink


def _swap_in(spark: SparkSession, path: str, tag: str,
             write: Callable[[str], None]) -> None:
    """Replace the directory at ``path`` with what ``write(tmp)`` puts
    in a temp sibling. Protocol: write the sibling, rename the live dir
    aside, move the sibling into place, then delete the old dir — the
    old data survives (under ``__old``) until the new dir is live, so a
    crash at any step never loses the only copy, and a failed write or
    rename leaves no sibling behind. Renames and deletes go through the
    session's Hadoop FileSystem (``store.hadoop_fs``), so a file:// or
    hdfs:// path swaps like a local one. This is NOT an atomic swap: a
    reader listing between the two renames sees a missing dir, and one
    that listed before them can fail mid-scan. True atomicity needs
    renameat2(RENAME_EXCHANGE) or a catalog-level commit (Iceberg/Delta);
    for single-writer maintenance windows this protocol is standard."""
    fs, live = hadoop_fs(spark, path)
    token = uuid.uuid4().hex[:8]
    tmp, old = live.suffix(f"__{tag}_{token}"), live.suffix(f"__old_{token}")
    try:
        write(tmp.toString())
    except BaseException:
        fs.delete(tmp, True)
        raise
    if not fs.rename(live, old):  # same-dir rename: no cross-fs copy
        fs.delete(tmp, True)
        raise OSError(f"could not move {live} aside to {old}")
    try:
        if not fs.rename(tmp, live):
            raise OSError(f"could not move {tmp} to {live}")
    except BaseException:
        fs.rename(old, live)      # roll back: old data becomes live again
        fs.delete(tmp, True)
        raise
    fs.delete(old, True)


def _read_for_rewrite(spark: SparkSession, path: str):
    """(rows, partition columns) of the parquet dataset at ``path``,
    for a rewrite in place. An incremental-operator store
    (``sources/store.py``) is read through ``BatchStore``, since a
    plain read skips its root files once it has batch directories, and
    is to be written back with one directory per committed batch, so
    replays after the rewrite still recognise their own rows. The
    layout check lists through the session's Hadoop FileSystem, so a
    file:// or hdfs:// store is recognised too."""
    fs, root = hadoop_fs(spark, path)
    if fs.exists(root) and any(
            st.isDirectory() and st.getPath().getName().startswith("batch_id=")
            for st in fs.listStatus(root)):
        return BatchStore(spark, path).read(), ["batch_id"]
    # mergeSchema: a dataset can carry mixed footers; a plain read
    # infers the schema from ONE arbitrary part-file, so a rewrite
    # here could silently drop the newer columns
    return spark.read.option("mergeSchema", "true").parquet(path), None


def compact_parquet(spark: SparkSession, path: str,
                    target_file_bytes: int = 512 * 1024 * 1024,
                    partition_by: list[str] | None = None) -> int:
    """Small-files compaction: rewrite a parquet dataset into files of
    ~``target_file_bytes`` each and return the output file count.

    Streaming sinks and per-window overwrites accrete many small files;
    at 100TB, scan cost is dominated by file-open overhead and the
    driver's file listing long before bytes matter (the classic small-
    files problem). Compaction sizes the rewrite from the dataset's
    ACTUAL on-disk bytes (via the file index, no data scan), coalescing
    to ceil(bytes / target).

    The rewrite goes through the crash-safe directory swap of
    ``_swap_in``; an incremental-operator store keeps one directory per
    committed batch (``_read_for_rewrite``). The returned count lists
    through the session's Hadoop FileSystem, like the swap.
    """
    import math

    df, layout = _read_for_rewrite(spark, path)
    partition_by = partition_by or layout
    # size from the file source relation's computed statistics (listing
    # only — parquet footers are not read for sizeInBytes)
    total = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_files = max(1, math.ceil(total / target_file_bytes))

    def write(tmp: str) -> None:
        w = df.repartition(n_files).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)

    _swap_in(spark, path, "compact", write)
    fs, root = hadoop_fs(spark, path)
    files, n_out = fs.listFiles(root, True), 0
    while files.hasNext():
        n_out += files.next().getPath().getName().endswith(".parquet")
    return n_out


def merge_upsert(spark, path: str, updates, key_cols: list[str],
                 delete_col: str | None = None) -> dict:
    """MERGE INTO over a plain-parquet dataset: upsert ``updates`` into
    the dataset at ``path`` by ``key_cols`` — matched rows are replaced
    by the update row, unmatched update rows are inserted, and (when
    ``delete_col`` names a boolean column) update rows with it true
    DELETE the matched base row. Returns counts per action.

    This is the reference's truncate-and-reload ritual replaced by a
    keyed merge (and the operation Delta/Iceberg call MERGE, expressed
    on raw parquet): one full-outer join on the key, action decided per
    row, rewrite through the crash-safe directory swap of ``_swap_in``
    (old data survives aside until the new dir is live; an
    incremental-operator store keeps its batch directories). Scale: the
    join shuffles base+updates by key once — for partitioned bases
    where updates touch few partitions, join against only those
    partitions and use overwrite_window_partitions instead; this
    full-merge path is the general fallback.
    """
    base, layout = _read_for_rewrite(spark, path)
    data_cols = [c for c in base.columns if c not in key_cols]
    upd_cols = [c for c in updates.columns
                if c not in key_cols and c != delete_col]
    if set(upd_cols) != set(data_cols):
        raise ValueError(
            f"update columns {sorted(upd_cols)} must match base data "
            f"columns {sorted(data_cols)}")
    u = updates.withColumn(
        "_del",
        F.col(delete_col) if delete_col else F.lit(False))
    b = base.withColumn("_present", F.lit(True))
    u = u.withColumn("_updated", F.lit(True))
    joined = b.alias("b").join(
        u.alias("u"), key_cols, "full_outer").localCheckpoint(eager=False)

    in_base = F.col("b._present").isNotNull()
    in_upd = F.col("u._updated").isNotNull()
    deleted = in_upd & F.col("u._del")
    counts = {
        row["action"]: row["n"]
        for row in (joined.select(
            F.when(deleted & in_base, "delete")
             # delete flag on a key absent from the base: nothing to
             # remove and the row is excluded from the merged output, so
             # it must not be counted as an insert
             .when(deleted, "delete_noop")
             .when(in_upd & in_base, "update")
             .when(in_upd, "insert")
             .otherwise("keep").alias("action"))
            .groupBy("action").agg(F.count(F.lit(1)).alias("n"))
            .collect())
    }
    merged = (
        joined
        .filter(~deleted)
        .select(*key_cols,
                *[F.when(in_upd, F.col(f"u.{c}"))
                   .otherwise(F.col(f"b.{c}")).alias(c)
                  for c in data_cols])
    )
    w = merged.write.mode("overwrite")
    _swap_in(spark, path, "merge",
             (w.partitionBy(*layout) if layout else w).parquet)
    return {k: counts.get(k, 0) for k in
            ("insert", "update", "delete", "delete_noop", "keep")}

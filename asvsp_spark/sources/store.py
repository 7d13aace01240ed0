"""Replay-safe append-only parquet stores: the one write path of the
seven incremental operators (exact, MinHash, substring, paragraph and
semantic dedup, the drift gate and the value-histogram sketch).

Each operator call is one *batch*, keyed by its delta's content, and
``BatchStore`` gives it the contract of the delete-then-append JDBC
sink (``batch.foreach_batch_jdbc_exactly_once``): ``read`` returns the
committed rows of every OTHER batch, so a retry computes against the
store its first attempt saw and returns the same result; ``commit``
writes the batch into ``_pending-<key>/`` (skipped by every parquet
reader, overwritten by a retry) and renames it to ``batch_id=<key>/``
in place of any earlier commit of the key. A write that dies part-way
is never read, and a replayed batch is stored once. Layout::

    <store>/part-*.parquet    rows written before batch keys existed,
                              foreign to every batch
    <store>/batch_id=<key>/   one committed batch
    <store>/_pending-<key>/   an attempt in flight or abandoned

A plain ``spark.read.parquet(<store>)`` skips the root files, without
an error, once batch directories exist, so every store read goes
through ``read``; ``compact_parquet`` keeps the batch directories.

The key is the delta's row count plus two independent 64-bit hash
sums over its rows (``key_columns``), summed inside an aggregate the
operator already runs: order-independent, and no call gains a Spark
job. Trade-off: a later delta byte-identical to an earlier one counts
as a replay of it. It is computed against the store without the
earlier batch's rows (with nothing committed in between, that is the
first call's result) and replaces its commit instead of adding to it.

Listing, the existence check and the commit rename go through the
session's Hadoop FileSystem, the same resolution ``spark.read`` uses,
so hdfs:// and s3a:// stores work. A store has one writer at a time.
"""
from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def key_columns(df: DataFrame) -> list[Column]:
    """Two independent 64-bit hashes of each row of ``df`` (maps, which
    do not hash, as strings), as decimals that sum without overflow."""
    cols = [df[f.name].cast("string") if isinstance(f.dataType, T.MapType)
            else df[f.name] for f in df.schema]
    # xxhash64 skips NULLs, so (1, NULL) and (NULL, 1) would collide
    # unless the NULL pattern is hashed too
    cols.insert(0, F.array(*[c.isNull() for c in cols]))
    return [F.xxhash64(*cols).cast("decimal(38,0)").alias("_k1"),
            F.xxhash64(F.lit("_k2"), *cols).cast("decimal(38,0)")
            .alias("_k2")]


def key_sums() -> list[Column]:
    """The aggregates that fold ``key_columns`` (or partial sums of
    them) into the batch key's two hash sums."""
    return [F.sum("_k1").alias("_k1"), F.sum("_k2").alias("_k2")]


def count_and_key(df: DataFrame) -> tuple[int, str]:
    """Row count and batch key of ``df`` in one aggregate, for operators
    whose only scalar pass over the raw delta is a count."""
    row = (df.select(*key_columns(df))
           .agg(F.count(F.lit(1)).alias("_n"), *key_sums()).first())
    return int(row["_n"]), batch_key(int(row["_n"]), row)


def batch_key(n_rows: int, sums) -> str:
    """The key of a delta of ``n_rows`` rows from a row holding its
    ``key_sums``."""
    return "n{}-{:016x}-{:016x}".format(
        n_rows, *(int(sums[c] or 0) % 2 ** 64 for c in ("_k1", "_k2")))


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) of ``path`` through the session's Hadoop
    configuration: the resolution ``spark.read`` uses, so local paths,
    file:// and hdfs:// URIs all list, rename and delete alike."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    return root.getFileSystem(spark._jsc.hadoopConfiguration()), root


class BatchStore:
    """One store directory, seen by the batch ``key`` (``None``: by no
    batch, so every committed row is visible)."""

    def __init__(self, spark, path: str, key: str | None = None):
        self.spark, self.key = spark, key
        self._fs, self._root = hadoop_fs(spark, path)

    def _committed(self) -> tuple[list[str], list[str]]:
        """(root files, batch directories) of every other batch."""
        files, batches = [], []
        if not self._fs.exists(self._root):
            return files, batches
        for st in self._fs.listStatus(self._root):
            name = st.getPath().getName()
            if st.isDirectory():
                if (name.startswith("batch_id=")
                        and name != f"batch_id={self.key}"):
                    batches.append(st.getPath().toString())
            elif not name.startswith(("_", ".")):
                files.append(st.getPath().toString())
        return files, batches

    def exists(self) -> bool:
        """Whether another batch committed rows; a listing, no read."""
        return any(self._committed())

    def read(self) -> DataFrame | None:
        """The committed rows of every other batch; ``None`` when there
        are none. mergeSchema: files written by different versions of an
        operator can differ in columns."""
        files, batches = self._committed()
        parts = []
        if files:
            parts.append(self.spark.read.option("mergeSchema", "true")
                         .parquet(*files))
        if batches:
            parts.append(self.spark.read.option("mergeSchema", "true")
                         .option("basePath", self._root.toString())
                         .parquet(*batches)
                         .withColumn("batch_id",
                                     F.col("batch_id").cast("string")))
        if not parts:
            return None
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def commit(self, rows: DataFrame) -> None:
        """Store ``rows`` as this batch, replacing any earlier attempt."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path
        pending = path(self._root, f"_pending-{self.key}")
        final = path(self._root, f"batch_id={self.key}")
        rows.write.mode("overwrite").parquet(pending.toString())
        self._fs.delete(final, True)
        if not self._fs.rename(pending, final):
            raise OSError(f"could not commit {pending} as {final}")

"""Table catalog over the driver's parquet test tables.

Mirrors the reference's fixed-and-explicit schema stance (SURVEY §1.3:
schemas are declared, never inferred) — we declare StructTypes for every
table and verify on load, so a drifted file fails loudly instead of
silently changing types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; parquet carries its own schema (column pruning and
    predicate pushdown reach the scan because we never materialize first).

    events.ts is stored as TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a long which we
    convert to a microsecond timestamp via integer division (`div`, not
    `/`: nanos since epoch ~1.7e18 exceed double's 2^53 exact-integer
    range, so float division would corrupt timestamps).
    """
    if name not in TPCH_TABLES:
        raise KeyError(f"unknown table {name!r}")
    if name == "events":
        # The driver may hand us a session built without this legacy conf;
        # it is runtime-settable, so pin it here instead of relying on the
        # session factory (events.ts is TIMESTAMP(NANOS), which the Spark
        # parquet reader otherwise rejects outright).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Normalize TIMESTAMP_NTZ → TIMESTAMP for every declared-timestamp
    # column. The fixtures have shipped both flavors across rounds
    # (TIMESTAMP(NANOS) and TIMESTAMP(MICROS, isAdjustedToUTC=false), the
    # latter read natively as timestamp_ntz); the session timezone is
    # pinned to UTC, so the cast re-tags the same wall-clock instant and
    # downstream code (unix_micros, watermarks, oracles) sees one type.
    ntz_cols = [f.name for f in SCHEMAS[name].fields
                if f.dataType.simpleString() == "timestamp"
                and dict(df.dtypes).get(f.name) == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols})
    expected = {f.name for f in SCHEMAS[name].fields}
    actual = set(df.columns)
    if not expected <= actual:
        raise ValueError(
            f"table {name!r} at {sf_dir} is missing declared columns "
            f"{sorted(expected - actual)} (found {sorted(actual)}) — "
            "schema drift fails loudly instead of changing types silently")
    # type drift fails loudly too: a column silently arriving as a
    # different type (o_totalprice as string, l_quantity as int) would
    # change money_cents rounding / join semantics downstream. events.ts
    # is exempt: declared TimestampType, read as nanos-long and converted
    # above.
    actual_types = dict(df.dtypes)
    # the fixtures store dates as TIMESTAMP_NTZ; wall-clock semantics are
    # identical under the session's pinned UTC zone, so either flavor
    # satisfies a declared timestamp
    _norm = {"timestamp_ntz": "timestamp"}
    for f in SCHEMAS[name].fields:
        if name == "events" and f.name == "ts":
            continue
        want = _norm.get(f.dataType.simpleString(), f.dataType.simpleString())
        got = _norm.get(actual_types[f.name], actual_types[f.name])
        if got != want:
            raise ValueError(
                f"table {name!r} at {sf_dir}: column {f.name!r} is "
                f"{got}, declared {want} — type drift fails loudly "
                "instead of changing semantics silently")
    return df

"""Unit tests for the ingest cleaning transforms (SURVEY §1.4 semantics)
and batch I/O edges, using tiny in-memory/tmp fixtures."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from asvsp_spark.sources import batch as B
from asvsp_spark.sources import ingest as I


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2)], ["State Code", "Site Num"])
    assert I.normalize_column_names(df).columns == ["State_Code", "Site_Num"]


def test_repair_values_when_chain(spark):
    df = spark.createDataFrame(
        [("Californi",), ("District",), ("Texas",)], ["state"])
    repaired = df.select(
        I.repair_values(F.col("state"), {
            "Californi": "California",
            "District": "District Of Columbia",
        }).alias("state"))
    assert sorted(r.state for r in repaired.collect()) == [
        "California", "District Of Columbia", "Texas"]


def test_normalize_units_ppb_to_ppm(spark):
    df = spark.createDataFrame(
        [(1000.0, "Parts per billion"), (2.0, "Parts per million")],
        ["value", "units"])
    v, u = I.normalize_units(
        F.col("value"), F.col("units"),
        {"Parts per billion": (1000.0, "Parts per million")})
    out = {r.units: r.value for r in
           df.select(v.alias("value"), u.alias("units")).collect()}
    assert out == {"Parts per million": 2.0} or out["Parts per million"] in (1.0, 2.0)
    rows = df.select(v.alias("value"), u.alias("units")).collect()
    assert all(r.units == "Parts per million" for r in rows)
    assert sorted(r.value for r in rows) == [1.0, 2.0]


def test_hour_from_time_string(spark):
    df = spark.createDataFrame([("07:00",), ("23:59",)], ["Time_Local"])
    hrs = sorted(r.h for r in df.select(
        I.hour_from_time_string(F.col("Time_Local")).alias("h")).collect())
    assert hrs == [7, 23]


def test_typed_projection(spark):
    df = spark.createDataFrame([("3", "1.5", "x")], ["a", "b", "c"])
    out = I.typed_projection(df, {
        "a": ("int", "a_int"),
        "b": ("double", "b_dbl"),
        "c": ("string", "c_str"),
    })
    assert dict(out.dtypes) == {"a_int": "int", "b_dbl": "double", "c_str": "string"}
    row = out.collect()[0]
    assert (row.a_int, row.b_dbl, row.c_str) == (3, 1.5, "x")


def test_csv_roundtrip_and_partitioned_write(spark, tmp_path):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "data.csv").write_text(
        "State Name,Sample Measurement,Time Local\n"
        "Texas,1.25,07:00\nCaliforni,2.5,13:30\n")
    schema = T.StructType([
        T.StructField("State Name", T.StringType()),
        T.StructField("Sample Measurement", T.DoubleType()),
        T.StructField("Time Local", T.StringType()),
    ])
    df = I.normalize_column_names(B.read_csv(spark, str(csv_dir), schema))
    assert df.columns == ["State_Name", "Sample_Measurement", "Time_Local"]
    cleaned = df.select(
        I.repair_values(F.col("State_Name"),
                        {"Californi": "California"}).alias("state"),
        F.col("Sample_Measurement").alias("value"),
        I.hour_from_time_string(F.col("Time_Local")).alias("hour"),
    )
    out_dir = tmp_path / "parquet"
    B.write_partitioned(cleaned, str(out_dir), ["state"])
    back = spark.read.parquet(str(out_dir))
    rows = {r.state: (r.value, r.hour) for r in back.collect()}
    assert rows == {"Texas": (1.25, 7), "California": (2.5, 13)}
    # partition layout on disk -> partition pruning is possible
    assert any(p.name.startswith("state=") for p in out_dir.iterdir())


def test_read_csv_raw_all_strings(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text("a,b\n1,2.5\n")
    df = B.read_csv_raw(spark, str(p))
    assert all(t == "string" for _, t in df.dtypes)


def test_overwrite_window_partitions_idempotent(spark, tmp_path):
    """Dynamic partition overwrite replaces only the partitions present in
    the incoming frame; re-running the same write converges (no dupes)."""
    path = str(tmp_path / "idem")
    full = spark.createDataFrame(
        [("click", "d1", 1), ("click", "d2", 2), ("view", "d1", 3)],
        ["event_type", "day", "v"])
    B.overwrite_window_partitions(full, path, ["event_type", "day"])

    # revise ONE partition; other partitions must survive untouched
    revised = spark.createDataFrame([("click", "d1", 99)],
                                    ["event_type", "day", "v"])
    sink = B.foreach_batch_overwrite_partitions(path, ["event_type", "day"])
    sink(revised, 0)
    sink(revised, 1)  # replayed micro-batch: same bytes, not duplicates

    got = {(r.event_type, r.day): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("click", "d1"): 99, ("click", "d2"): 2, ("view", "d1"): 3}

    # empty batch is a no-op, not an empty overwrite: the sink writes it
    # unguarded, so pin the listing too (no file added, no partition
    # directory removed), not just the row count
    def listing():
        return sorted(
            (os.path.relpath(d, path), sorted(f for f in fs
                                              if f.endswith(".parquet")))
            for d, _, fs in os.walk(path))

    before = listing()
    sink(full.limit(0), 2)
    assert listing() == before
    assert spark.read.parquet(path).count() == 3


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """200 tiny files -> one right-sized file; data byte-identical."""
    from asvsp_spark.sources.batch import compact_parquet
    from asvsp_spark import tables
    from tests.conftest import SF_DIR
    path = str(tmp_path / "frag")
    orders = tables.load(spark, SF_DIR, "orders")
    orders.repartition(200).write.parquet(path)
    import glob
    assert len(glob.glob(f"{path}/*.parquet")) == 200
    before = sorted(tuple(str(v) for v in r) for r in orders.collect())

    n = compact_parquet(spark, path)
    assert n < 200
    after_df = spark.read.parquet(path)
    after = sorted(tuple(str(v) for v in r) for r in after_df.collect())
    assert after == before


def test_jdbc_write_threads_options_to_jdbc_layer(spark):
    """jdbc_write must reach Spark's JDBC data source with our options:
    a bogus driver class fails with THAT class name (proving url/driver
    options were threaded through), not with an API/validation error."""
    import pytest as _pytest
    from asvsp_spark.sources.batch import jdbc_write
    df = spark.createDataFrame([(1,)], "a int")
    with _pytest.raises(Exception) as ei:
        jdbc_write(df, "jdbc:nosuchdb://nowhere/db", "t",
                   {"driver": "com.example.MissingDriver"})
    assert "com.example.MissingDriver" in str(ei.value)


def test_compact_parquet_cleans_up_on_write_failure(spark, tmp_path):
    """A failed rewrite must leave the live dataset untouched and no
    temp siblings behind (the swap protocol's crash-safety contract)."""
    import glob as g
    import pytest as _pytest
    from asvsp_spark.sources.batch import compact_parquet
    path = str(tmp_path / "ds")
    spark.range(100).write.parquet(path)
    with _pytest.raises(Exception):
        # force a rewrite failure: nonexistent partition column
        compact_parquet(spark, path, partition_by=["no_such_col"])
    assert spark.read.parquet(path).count() == 100
    assert g.glob(str(tmp_path / "ds__*")) == []


def test_merge_upsert_actions_and_survivors(spark):
    """MERGE semantics: update replaces, insert appends, delete removes,
    untouched rows survive; the action counts report each class."""
    import tempfile
    from asvsp_spark.sources.batch import merge_upsert
    d = tempfile.mkdtemp(prefix="merge-") + "/t"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double").write.parquet(d)
    updates = spark.createDataFrame(
        [(2, "B", 22.0, False),   # update
         (4, "d", 40.0, False),   # insert
         (3, None, 0.0, True)],   # delete
        "id long, name string, v double, is_deleted boolean")
    counts = merge_upsert(spark, d, updates, ["id"],
                          delete_col="is_deleted")
    assert counts == {"insert": 1, "update": 1, "delete": 1,
                      "delete_noop": 0, "keep": 1}
    got = sorted((r.id, r.name, r.v)
                 for r in spark.read.parquet(d).collect())
    assert got == [(1, "a", 10.0), (2, "B", 22.0), (4, "d", 40.0)]


def test_merge_upsert_delete_of_absent_key_is_noop(spark):
    """A delete-flagged update whose key is absent from the base must
    not be counted as an insert (it is excluded from the output); it
    lands in its own delete_noop bucket so counts agree with the data."""
    import tempfile
    from asvsp_spark.sources.batch import merge_upsert
    d = tempfile.mkdtemp(prefix="merge-noop-") + "/t"
    spark.createDataFrame([(1, "a", 10.0)],
                          "id long, name string, v double").write.parquet(d)
    updates = spark.createDataFrame(
        [(9, None, 0.0, True),    # delete of a key that does not exist
         (2, "b", 20.0, False)],  # genuine insert
        "id long, name string, v double, is_deleted boolean")
    counts = merge_upsert(spark, d, updates, ["id"],
                          delete_col="is_deleted")
    assert counts == {"insert": 1, "update": 0, "delete": 0,
                      "delete_noop": 1, "keep": 1}
    got = sorted((r.id, r.name, r.v)
                 for r in spark.read.parquet(d).collect())
    assert got == [(1, "a", 10.0), (2, "b", 20.0)]


def test_merge_upsert_rejects_schema_mismatch(spark):
    import tempfile
    import pytest as _pytest
    from asvsp_spark.sources.batch import merge_upsert
    d = tempfile.mkdtemp(prefix="merge-bad-") + "/t"
    spark.createDataFrame([(1, "a")], "id long, name string") \
        .write.parquet(d)
    upd = spark.createDataFrame([(1, 5.0)], "id long, other double")
    with _pytest.raises(ValueError, match="must match"):
        merge_upsert(spark, d, upd, ["id"])


def test_foreach_batch_jdbc_exactly_once_replay_converges(spark, monkeypatch):
    """Replay-convergence contract for the batch-id-keyed upsert sink
    (no DB in the sandbox — an in-memory table stands in for JDBC):
    a replayed micro-batch, including one whose first attempt landed
    PARTIALLY, leaves the table exactly as a single clean run would;
    url/table/properties reach jdbc_write, and an empty micro-batch
    does no delete and no write."""
    from asvsp_spark.sources import batch as B

    table: list[tuple] = []        # (batch_id, a)
    calls: list[tuple] = []        # ("delete", batch_id) / ("write", n)
    fail_once = {"armed": False}

    def fake_jdbc_write(df, url, tbl, properties=None, mode="overwrite"):
        assert (url, tbl, properties, mode) == (
            "jdbc:postgresql://h/db", "t", {"user": "u"}, "append")
        calls.append(("write", df.count()))
        rows = [(r["_batch_id"], r["a"]) for r in df.collect()]
        if fail_once["armed"]:
            fail_once["armed"] = False
            table.extend(rows[:1])          # partial landing, then crash
            raise RuntimeError("connection reset mid-append")
        table.extend(rows)

    def delete_fn(batch_id):
        calls.append(("delete", batch_id))
        table[:] = [r for r in table if r[0] != int(batch_id)]

    monkeypatch.setattr(B, "jdbc_write", fake_jdbc_write)
    sink = B.foreach_batch_jdbc_exactly_once(
        "jdbc:postgresql://h/db", "t", {"user": "u"}, delete_fn=delete_fn)

    b7 = spark.createDataFrame([(1,), (2,)], "a int")
    b8 = spark.createDataFrame([(3,)], "a int")

    # batch 7: first attempt lands partially and dies
    fail_once["armed"] = True
    try:
        sink(b7, 7)
    except RuntimeError:
        pass
    assert table == [(7, 1)]               # the partial debris is visible
    # streaming engine replays batch 7 -> delete wipes the partial rows,
    # re-append lands the full batch exactly once
    sink(b7, 7)
    assert sorted(table) == [(7, 1), (7, 2)]
    # a THIRD replay of the same completed batch changes nothing
    sink(b7, 7)
    assert sorted(table) == [(7, 1), (7, 2)]
    # the next batch appends alongside
    sink(b8, 8)
    assert sorted(table) == [(7, 1), (7, 2), (8, 3)]
    # empty batches short-circuit (no delete, no write)
    before, n_calls = list(table), len(calls)
    sink(spark.createDataFrame([], "a int"), 9)
    assert table == before and len(calls) == n_calls


def test_orc_roundtrip_partitioned_and_pruned(spark, tmp_path):
    """ORC twin of the CSV/parquet round-trips: explicit-schema read
    returns the exact rows, hive partitioning lays out key=value dirs,
    and a predicate on a data column reaches the ORC reader as a
    pushed filter."""
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    df = spark.createDataFrame(
        [(1, "click", 1.5), (2, "view", 2.5), (3, "click", 3.5)], schema)
    dest = str(tmp_path / "orc")
    B.write_orc(df, dest, partition_by=["event_type"])

    import os
    parts = sorted(d for d in os.listdir(dest) if d.startswith("event_type="))
    assert parts == ["event_type=click", "event_type=view"]

    back_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_type", T.StringType()),
    ])
    back = B.read_orc(spark, dest, back_schema)
    rows = sorted((r.event_id, r.event_type, r.value) for r in back.collect())
    assert rows == [(1, "click", 1.5), (2, "view", 2.5), (3, "click", 3.5)]

    plan = back.filter(F.col("value") > 2.0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(value" in plan


def test_binary_files_feed_multimodal_pipeline(spark, tmp_path):
    """binaryFile scan -> media frame -> media_features: raw files on
    disk become the opaque-binary column shape the multimodal decoders
    consume, and the md5 digests match hashlib over the file bytes."""
    import hashlib
    raw = tmp_path / "raw"
    raw.mkdir()
    blobs = {"7.img": b"RAWI" + bytes(range(48)), "9.img": b"RAWIabcdef"}
    for name, data in blobs.items():
        (raw / name).write_bytes(data)
    (raw / "ignore.txt").write_text("not media")

    files = B.read_binary_files(spark, str(raw), glob="*.img")
    assert set(files.columns) == {"path", "modificationTime", "length",
                                  "content"}
    media = files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.img$", 1)
         .cast("long").alias("doc_id"),
        F.lit("image").alias("media_type"),
        F.col("content").alias("payload"))

    from asvsp_spark.operators.multimodal import media_features
    feats = {r.doc_id: r for r in media_features(media).collect()}
    assert set(feats) == {7, 9}
    assert feats[7].n_bytes == 52 and feats[9].n_bytes == 10
    for doc_id, name in ((7, "7.img"), (9, "9.img")):
        assert feats[doc_id].digest == hashlib.md5(blobs[name]).hexdigest()
        assert feats[doc_id].head_hex == blobs[name][:8].hex().upper()


def test_read_text_docs_lines_and_wholetext(spark, tmp_path):
    corpus = tmp_path / "txt"
    corpus.mkdir()
    (corpus / "a.txt").write_text("alpha\nbeta\n")
    (corpus / "b.txt").write_text("gamma\n")

    lines = B.read_text_docs(spark, str(corpus))
    assert lines.columns == ["file_path", "text"]
    got = sorted((r.file_path.rsplit("/", 1)[-1], r.text)
                 for r in lines.collect())
    assert got == [("a.txt", "alpha"), ("a.txt", "beta"), ("b.txt", "gamma")]

    docs = B.read_text_docs(spark, str(corpus), wholetext=True)
    whole = {r.file_path.rsplit("/", 1)[-1]: r.text for r in docs.collect()}
    assert whole == {"a.txt": "alpha\nbeta\n", "b.txt": "gamma\n"}

"""Round-7 operators: variable-length exact-substring dedup
(dup_substring_runs / dup_substring_table — the Lee-et-al cluster
complement of dup_spans)."""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401
from hypothesis import HealthCheck, given, settings, strategies as st

SET = settings(max_examples=15, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture,
                                      HealthCheck.too_slow])


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_runs(rows, w, min_count):
    """Brute-force reference: window occurrence counting on the window
    TEXT itself (no hashing), strictly-consecutive run merging, run
    text fingerprint = the text (compared directly)."""
    occ: dict[str, int] = {}
    per_doc: dict[int, list[str]] = {}
    for d, text in rows:
        toks = text.strip().split()
        per_doc[d] = toks
        for i in range(len(toks) - w + 1):
            key = " ".join(toks[i:i + w])
            occ[key] = occ.get(key, 0) + 1
    runs = []
    for d, toks in per_doc.items():
        flagged = [i + 1 for i in range(len(toks) - w + 1)
                   if occ[" ".join(toks[i:i + w])] >= min_count]
        start = prev = None
        for p in flagged + [None]:
            if prev is not None and p is not None and p == prev + 1:
                prev = p
                continue
            if start is not None:
                runs.append((d, start, prev + w - 1,
                             " ".join(per_doc[d][start - 1:prev + w - 1])))
            start = prev = p
    return runs


def _brute_table(rows, w, min_count):
    from collections import Counter
    runs = _brute_runs(rows, w, min_count)
    c = Counter(r[3] for r in runs)
    docs: dict[str, set] = {}
    for d, _, _, t in runs:
        docs.setdefault(t, set()).add(d)
    return {t: (len(t.split()), len(docs[t]), n)
            for t, n in c.items() if n >= min_count}


def test_dup_substring_runs_fixture(spark):
    """Hand-checked fixture: a 10-token block at 4 sites across 3 docs
    (twice within doc 4) yields 4 aligned occurrences sharing one
    fingerprint; the cluster table reports exactly that."""
    from asvsp_spark.operators.dedup import (dup_substring_runs,
                                             dup_substring_table)
    block = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, f"intro words here now {block} tail one two three"),
        (2, f"other start {block} different ending text goes here"),
        (3, "completely unrelated text with no duplication at all "
            "whatsoever today"),
        (4, f"within doc repeat {block} middle pad1 pad2 pad3 pad4 pad5 "
            f"pad6 {block} end"),
    ]
    runs = dup_substring_runs(_docs(spark, rows), window=8).collect()
    assert len(runs) == 4
    assert len({r["fp"] for r in runs}) == 1
    assert all(r["n_tokens"] == 10 for r in runs)
    spans = {(r["doc_id"], r["span_start"], r["span_end"]) for r in runs}
    assert (4, 4, 13) in spans and (4, 21, 30) in spans   # within-doc x2
    tab = dup_substring_table(_docs(spark, rows), window=8).collect()
    assert len(tab) == 1
    assert (tab[0]["n_tokens"], tab[0]["n_docs"],
            tab[0]["n_occurrences"]) == (10, 3, 4)


def test_dup_substring_runs_vs_brute(spark):
    """Deterministic mixed corpus against the brute-force reference:
    runs (positions + extents) and the cluster table must agree
    exactly, including docs shorter than the window (no rows) and a
    min_count=3 threshold."""
    import hashlib
    from asvsp_spark.operators.dedup import (dup_substring_runs,
                                             dup_substring_table)
    blk_a = " ".join(f"a{i}" for i in range(12))
    blk_b = " ".join(f"b{i}" for i in range(9))
    rows = [
        (1, f"x1 x2 {blk_a} y1 y2 y3 {blk_b}"),
        (2, f"{blk_a} mid {blk_b} z9"),
        (3, f"{blk_b} solo padding words q1 q2 q3 q4"),
        (4, "tiny doc"),                         # shorter than window
        (5, f"w1 w2 w3 w4 w5 {blk_a}"),
        (6, "nothing shared here with anything else at all really truly"),
    ]
    for mc in (2, 3):
        got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
               for r in dup_substring_runs(
                   _docs(spark, rows), window=8, min_count=mc).collect()}
        want = {(d, s, e, e - s + 1)
                for d, s, e, _ in _brute_runs(rows, 8, mc)}
        assert got == want, f"min_count={mc}"
        gtab = {r["fp"]: (r["n_tokens"], r["n_docs"], r["n_occurrences"])
                for r in dup_substring_table(
                    _docs(spark, rows), window=8, min_count=mc).collect()}
        wtab = {hashlib.md5(t.encode()).hexdigest(): v
                for t, v in _brute_table(rows, 8, mc).items()}
        assert gtab == wtab, f"min_count={mc}"


def test_line_dedup_within_doc(spark):
    """Keep-first per document, order preserved, blanks dropped; the
    funnel counts must be computed against the ORIGINAL text (pins the
    alias-shadowing hazard: aliasing the cleaned text to the input
    column name corrupted sibling expressions for some rows)."""
    from asvsp_spark.operators.dedup import line_dedup_docs
    docs = spark.createDataFrame([
        (1, "a\nb\na\nc\nb"),          # 2 repeats
        (2, "x\nx\nx"),                # 2 repeats of one line
        (3, "only\nunique\nlines"),    # untouched
        (4, "\n\nkeep\n\nkeep\n"),     # blanks dropped, 1 repeat
        (5, ""),                       # empty doc
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup_docs(docs).collect()}
    assert (out[1]["text"], out[1]["n_lines"], out[1]["n_removed"]) == \
        ("a\nb\nc", 5, 2)
    assert (out[2]["text"], out[2]["n_removed"]) == ("x", 2)
    assert (out[3]["text"], out[3]["n_removed"]) == \
        ("only\nunique\nlines", 0)
    assert (out[4]["text"], out[4]["n_lines"], out[4]["n_removed"]) == \
        ("keep", 2, 1)
    assert (out[5]["text"], out[5]["n_lines"], out[5]["n_removed"]) == \
        ("", 0, 0)


def test_pipeline_line_dedup_stage(spark, tmp_path):
    """Opt-in line-dedup stage (2b) on a crafted newline corpus: the
    stage runs on the documents' REAL '\\n' structure before the
    paragraph pass, duplicate lines vanish from the written corpus,
    single newlines in clean docs survive untouched (the joiner is the
    operator's own '\\n', never the paragraph joiner), a
    whitespace-only doc drops and is attributed to line_dedup in the
    audit, and the funnel stays monotone."""
    import shutil
    from pyspark.sql import functions as F  # noqa: F811
    from tests.conftest import SF_DIR
    from asvsp_spark.pipeline import run_corpus_pipeline

    # crafted sf_dir: real documents replaced by a newline-bearing
    # corpus; per-doc filler keeps the docs textually distinct so the
    # near-dedup stage downstream cannot collapse them
    def filler(d):
        return " ".join(f"d{d}w{i} and of to in on for with"
                        for i in range(6))

    sf = str(tmp_path / "sf")
    import os
    os.makedirs(sf)
    f1, f2, f4 = filler(1), filler(2), filler(4)
    spark.createDataFrame(
        [(1, f"{f1} alpha\ndup line {f1}\ndup line {f1}\n{f1} omega",
          "web", "en"),
         (2, f"{f2} one\n{f2} two", "web", "en"),   # clean
         (3, "   \n  \n ", "web", "en"),            # whitespace-only
         (4, f"{f4} solo", "web", "en")],
        "doc_id long, text string, source string, lang string"
    ).withColumn("n_chars", F.length("text").cast("long")) \
     .write.parquet(f"{sf}/documents.parquet")

    out = str(tmp_path / "corpus_out")
    counts = run_corpus_pipeline(spark, sf, out, quality_pct=0.0,
                                 line_dedup=True, audit=True)
    assert counts["line_deduped"] == 3          # doc 3 dropped
    assert counts["quality_gated"] >= counts["line_deduped"] \
        >= counts["exact_deduped"]
    corpus = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(f"{out}/corpus").collect()}
    # duplicate line removed from doc 1, first kept, order preserved
    assert corpus[1].count("dup line") == 1
    # clean doc's single newline untouched (not doubled by any joiner)
    assert corpus[2] == f"{f2} one\n{f2} two"
    assert 3 not in corpus
    audit = {r["doc_id"]: r["dropped_at"]
             for r in spark.read.parquet(f"{out}/drop_audit").collect()}
    assert audit[3] == "line_dedup" and audit[2] == "kept"


def test_jsonl_roundtrip_and_corrupt_handling(spark, tmp_path):
    """JSONL source/sink: documents round-trip exactly; a corrupt line
    lands verbatim in _corrupt_record under PERMISSIVE and kills the
    read under FAILFAST."""
    import pytest
    from pyspark.sql import types as T
    from tests.conftest import SF_DIR
    from asvsp_spark import tables
    from asvsp_spark.sources.batch import read_jsonl, write_jsonl

    docs = tables.load(spark, SF_DIR, "documents")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, compression=None)
    schema = T.StructType([f for f in docs.schema.fields])
    back = read_jsonl(spark, out, schema)
    assert "_corrupt_record" in back.columns
    # full-row collect sidesteps the documented corrupt-column-only
    # pruning restriction (see read_jsonl docstring)
    back_rows = back.collect()
    assert all(r["_corrupt_record"] is None for r in back_rows)
    got = sorted(tuple(r[c] for c in docs.columns) for r in back_rows)
    want = sorted(map(tuple, docs.collect()))
    assert got == want

    bad = str(tmp_path / "bad")
    import os
    os.makedirs(bad)
    with open(f"{bad}/part-0.jsonl", "w") as fh:
        fh.write('{"doc_id": 1, "text": "ok"}\n')
        fh.write("not json at all {{{\n")
    s2 = T.StructType([T.StructField("doc_id", T.LongType()),
                       T.StructField("text", T.StringType())])
    perm = read_jsonl(spark, bad, s2)
    rows = {r["doc_id"]: r for r in perm.collect()}
    assert rows[1]["_corrupt_record"] is None and rows[1]["text"] == "ok"
    corrupt = [r for r in rows.values() if r["_corrupt_record"]]
    assert len(corrupt) == 1
    assert corrupt[0]["_corrupt_record"].startswith("not json")
    with pytest.raises(Exception, match="FAILFAST|Malformed|corrupt"):
        read_jsonl(spark, bad, s2, keep_corrupt=False).collect()


def _stage_wire(spark, tmp_path, frame):
    """Record a kafka_wire_frame to parquet in Kafka's full wire shape
    (key/value plus the broker-assigned metadata columns)."""
    wire = frame.select(
        "key", "value", F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.lit(None).cast("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"))
    path = str(tmp_path / "wire")
    wire.write.parquet(path)
    return path


def _intercept_kafka(spark, monkeypatch, wire_path, captured=None):
    """Patch readStream so kafka_stream's .load() returns a file-source
    stream of the recorded wire bytes (same shape Kafka would hand it)."""
    from pyspark.sql import SparkSession
    kafka_wire = ("key binary, value binary, topic string, partition int, "
                  "offset long, timestamp timestamp, timestampType int")
    real = SparkSession.readStream

    class FakeReader:
        def format(self, fmt):
            if captured is not None:
                captured["format"] = fmt
            return self

        def option(self, k, v):
            if captured is not None:
                captured.setdefault("options", {})[k] = v
            return self

        def load(self):
            return (real.fget(spark).schema(kafka_wire)
                    .parquet(wire_path))

    monkeypatch.setattr(SparkSession, "readStream",
                        property(lambda self: FakeReader()))


def test_kafka_wire_roundtrip_bit_exact(spark, monkeypatch, tmp_path):
    """Producer -> consumer closure: events published through
    kafka_wire_frame (the sink projection) and read back through
    kafka_stream's parse chain recover every row BIT-EXACTLY, including
    microsecond timestamps — the wire format and the payload schema
    are two halves of one contract."""
    from tests.conftest import SF_DIR
    from asvsp_spark import tables
    from asvsp_spark.streaming.source import (drain, kafka_stream,
                                              kafka_wire_frame)

    events = tables.load(spark, SF_DIR, "events").limit(200)
    wire_path = _stage_wire(spark, tmp_path,
                            kafka_wire_frame(events, key_cols=("user_id",)))
    # key contract: reference producer.py keys records entity_id-style
    keys = spark.read.parquet(wire_path).select(
        F.decode("key", "UTF-8").alias("k")).collect()
    assert all(r.k.isdigit() for r in keys)

    _intercept_kafka(spark, monkeypatch, wire_path)
    stream = kafka_stream(spark, "b:9092", "events")
    monkeypatch.undo()
    got = sorted(map(tuple, drain(stream, spark,
                                  output_mode="append").collect()))
    want = sorted(map(tuple, events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).collect()))
    assert got == want


def test_kafka_sink_option_contract(spark, monkeypatch, tmp_path):
    """kafka_batch_sink and kafka_replay_sink must reach Spark's writer
    with format='kafka', the broker/topic options, and the (key, value)
    binary wire projection; replay adds checkpointing + availableNow."""
    from asvsp_spark.streaming.source import (kafka_batch_sink,
                                              kafka_replay_sink)

    events = spark.createDataFrame(
        [(1, "2024-03-01 10:15:00", 7, "click", 1.5, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string").withColumn("ts", F.to_timestamp("ts"))

    cap = {}

    class FakeWriter:
        def __init__(self, df):
            cap["schema"] = dict(df.dtypes)

        def format(self, fmt):
            cap["format"] = fmt
            return self

        def option(self, k, v):
            cap.setdefault("options", {})[k] = v
            return self

        def trigger(self, **kw):
            cap["trigger"] = kw
            return self

        def save(self):
            cap["saved"] = True

        def start(self):
            cap["started"] = True

    # patch the RUNTIME DataFrame class (pyspark.sql.DataFrame is the
    # abstract facade in Spark 4; .write resolves on the classic class)
    DataFrame = type(events)
    monkeypatch.setattr(DataFrame, "write",
                        property(lambda self: FakeWriter(self)))
    kafka_batch_sink(events, "b1:9092", "events_out")
    assert cap == {
        "schema": {"key": "binary", "value": "binary"},
        "format": "kafka", "saved": True,
        "options": {"kafka.bootstrap.servers": "b1:9092",
                    "topic": "events_out"}}

    cap.clear()
    monkeypatch.setattr(DataFrame, "writeStream",
                        property(lambda self: FakeWriter(self)))
    kafka_replay_sink(events, "b1:9092", "events_out",
                      checkpoint_dir=str(tmp_path / "ck"))
    assert cap["format"] == "kafka" and cap["started"]
    assert cap["schema"] == {"key": "binary", "value": "binary"}
    assert cap["trigger"] == {"availableNow": True}
    assert cap["options"]["checkpointLocation"] == str(tmp_path / "ck")


def test_sq1_source_agnostic_over_kafka_wire(spark, monkeypatch, tmp_path):
    """The docstring claim 'SQ transforms are source-agnostic' made
    real: sq1's full pipeline (windowed agg + stream-static broadcast
    join) over kafka_stream's parse path on recorded wire bytes equals
    the file-replay result row-for-row."""
    from tests.conftest import SF_DIR
    from asvsp_spark import tables
    from asvsp_spark.streaming.queries import sq1_vs_baseline
    from asvsp_spark.streaming.source import kafka_stream, kafka_wire_frame

    events = tables.load(spark, SF_DIR, "events")
    wire_path = _stage_wire(spark, tmp_path, kafka_wire_frame(events))

    _intercept_kafka(spark, monkeypatch, wire_path)
    stream = kafka_stream(spark, "b:9092", "events")
    monkeypatch.undo()

    via_kafka = sorted(map(tuple,
                           sq1_vs_baseline(spark, SF_DIR,
                                           stream=stream).collect()))
    via_files = sorted(map(tuple, sq1_vs_baseline(spark, SF_DIR).collect()))
    assert via_kafka == via_files and len(via_files) > 0


@given(docs_lines=st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", " ", ""]),
             min_size=0, max_size=10),
    min_size=1, max_size=6))
@SET
def test_line_dedup_property(spark, docs_lines):
    """Property: keep-first over a tiny line alphabet (collisions and
    blanks everywhere) equals the Python reference."""
    from asvsp_spark.operators.dedup import line_dedup_docs
    rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs_lines)]
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
           for r in line_dedup_docs(_docs(spark, rows)).collect()}
    for d, text in rows:
        lines = [x for x in text.split("\n") if x.strip()]
        seen, kept = set(), []
        for x in lines:
            if x not in seen:
                seen.add(x)
                kept.append(x)
        assert got[d] == ("\n".join(kept), len(lines),
                          len(lines) - len(kept)), f"doc {d}"


def test_kafka_wire_roundtrip_adversarial_strings(spark, monkeypatch,
                                                  tmp_path):
    """The wire contract must survive payloads that stress JSON
    escaping: quotes, backslashes, newlines, unicode, embedded JSON in
    props — every row recovers bit-exactly through the producer →
    consumer chain."""
    import pyspark.sql.functions as F  # noqa: F811
    from asvsp_spark.streaming.source import (drain, kafka_stream,
                                              kafka_wire_frame)

    nasty = [
        (1, "2024-03-01 10:15:00.000001", 7, 'click "quoted"', 1.5,
         '{"k": "v", "n": [1, 2]}'),
        (2, "2024-03-01 11:00:00.999999", 8, "line\nbreak\ttab", -0.0,
         "back\\slash and § unicode ©"),
        (3, "2024-03-01 12:00:00", 9, "", 1e-300, ""),
        (4, "2024-03-01 13:00:00", 10, "emoji 🙂 and 中文", 2.5, "{}"),
    ]
    events = spark.createDataFrame(
        nasty, "event_id long, ts string, user_id long, "
               "event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    wire_path = _stage_wire(spark, tmp_path, kafka_wire_frame(events))
    _intercept_kafka(spark, monkeypatch, wire_path)
    stream = kafka_stream(spark, "b:9092", "events")
    monkeypatch.undo()
    got = sorted(map(tuple, drain(stream, spark,
                                  output_mode="append").collect()))
    want = sorted(map(tuple, events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).collect()))
    assert got == want


@given(docs_toks=st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14),
    min_size=1, max_size=8))
@SET
def test_dup_substring_runs_property(spark, docs_toks):
    """Property: over a tiny 3-token alphabet (duplication everywhere,
    runs break and merge in adversarial ways), the operator equals the
    brute-force reference for window=3."""
    from asvsp_spark.operators.dedup import dup_substring_runs
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)]
    rows = [(d, t) for d, t in rows if t] or [(0, "a")]
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in dup_substring_runs(
               _docs(spark, rows), window=3).collect()}
    want = {(d, s, e) for d, s, e, _ in _brute_runs(rows, 3, 2)}
    assert got == want

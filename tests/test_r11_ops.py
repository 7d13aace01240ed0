"""Round 11 (optimization) pins: the array-local gaps-and-islands
rewrite of the substring-run assembly (operators/dedup.py
_assemble_runs / dup_spans), connected_components on multi-round
chains and self-loop-only vertices, and the audit-only late drain
(drain_with_late_audit keep_ontime=False). Each test pins the
optimized internals against either a hand-computed expectation or the
pre-r11 formulation's semantics so an equivalence-breaking edit fails
here before it reaches the oracle gate."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------- _assemble_runs


def test_assemble_runs_islands_edge_cases(spark):
    """The index-aware-filter islands must reproduce the classic
    p - row_number() grouping on the awkward shapes: a single flagged
    position, two adjacent runs separated by one gap, a run at the
    array head/tail, and two docs whose positions interleave."""
    from asvsp_spark.operators.dedup import _assemble_runs

    w = 3
    # doc 1: positions 1,2,3 (one run) then 5 (second run: gap at 4)
    # doc 2: single position 7
    # doc 3: 2,3 then 6,7,8 — two runs, tail run ends at array end
    flagged = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (1, 5),
         (2, 7),
         (3, 2), (3, 3), (3, 6), (3, 7), (3, 8)],
        "doc long, p int")
    toks = spark.createDataFrame(
        [(1, [f"t{i}" for i in range(1, 11)]),
         (2, [f"u{i}" for i in range(1, 11)]),
         (3, [f"v{i}" for i in range(1, 11)])],
        "doc long, toks array<string>")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_tokens)
        for r in _assemble_runs(toks, flagged, w, "doc_id").collect())
    assert got == [
        (1, 1, 5, 5),   # run 1..3 -> span 1..(3+w-1)=5, 3-1+w=5 tokens
        (1, 5, 7, 3),   # run 5..5
        (2, 7, 9, 3),
        (3, 2, 5, 4),
        (3, 6, 10, 5),
    ]


def test_assemble_runs_fingerprint_is_run_text_md5(spark):
    """fp must be md5 of the space-joined tokens covered by the run
    (slice semantics unchanged by the array-local rewrite)."""
    import hashlib

    from asvsp_spark.operators.dedup import _assemble_runs

    w = 2
    flagged = spark.createDataFrame([(1, 2), (1, 3)], "doc long, p int")
    toks = spark.createDataFrame(
        [(1, ["a", "b", "c", "d", "e"])], "doc long, toks array<string>")
    [row] = _assemble_runs(toks, flagged, w, "doc_id").collect()
    # run p1=2..p2=3 covers tokens 2..(3+w-1)=4 -> "b c d"
    assert (row.span_start, row.span_end) == (2, 4)
    assert row.fp == hashlib.md5(b"b c d").hexdigest()


def test_dup_spans_islands_gap_rule(spark):
    """dup_spans merges flagged windows whose positions are within w of
    each other (overlapping or abutting); a gap of w+1 starts a new
    span, and n_windows counts flagged positions per span — pinned on a
    corpus where both cases occur within one document."""
    from asvsp_spark.operators.dedup import dup_spans

    # 8 docs share two distinct 3-token boilerplate blocks so that the
    # flagged windows inside doc 1 form two islands: positions 1..2
    # (abutting) and a far-away repeat at position 9.
    shared_a = "alpha beta gamma delta"        # windows at p=1,2 (w=3)
    shared_b = "omega psi chi"                 # window at p=9
    filler = "x1 x2 x3 x4"
    docs = spark.createDataFrame(
        [(1, f"{shared_a} {filler} {shared_b}"),
         (2, f"{shared_a} y1 y2 y3 y4 {shared_b}"),
         ],
        "doc_id long, text string")
    got = sorted((r.doc_id, r.span_start, r.span_end, r.n_windows)
                 for r in dup_spans(docs, window=3, min_docs=2).collect())
    # doc 1: island p=1..2 -> span 1..4; island p=9 -> span 9..11
    assert (1, 1, 4, 2) in got
    assert (1, 9, 11, 1) in got
    # doc 2 has the same two islands (same token positions: the filler
    # is 4 tokens in both docs)
    assert (2, 1, 4, 2) in got
    assert (2, 9, 11, 1) in got


# ------------------------------------------------- connected_components


def test_connected_components_chain_needs_multiple_rounds(spark):
    """Star contraction must converge on a chain that needs more than
    one round, keep a vertex that appears only in a self-loop (40) as
    its own component, and return a frame that is safely consumable
    more than once."""
    from asvsp_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(10, 18)]      # 10-...-18
    plus = [(30, 31), (40, 40)]                      # pair + self-loop
    edges = spark.createDataFrame(chain + plus, "doc_a long, doc_b long")
    cc = connected_components(edges)
    got = {r.vertex: r.component for r in cc.collect()}
    assert all(got[v] == 10 for v in range(10, 19))
    assert got[30] == 30 and got[31] == 30 and got[40] == 40
    # consume twice: a second action recomputes from the checkpointed
    # frames the loop left behind
    assert cc.count() == len(got)


# ------------------------------------------- drain_with_late_audit sides


def test_late_audit_keep_ontime_false_same_late_side(spark, tmp_path):
    """keep_ontime=False must route the SAME rows to the late side as
    the default (the watermark clock is fed by the full batch either
    way) while skipping the on-time sink entirely: the on-time side is
    None, so a caller that reads it anyway fails loudly instead of
    seeing an empty frame."""
    from asvsp_spark.streaming.source import (drain_with_late_audit,
                                              write_event_rows)

    hour = 3_600_000_000
    base = 1_600_000_000 * 1_000_000
    rows1 = [(1, base + 10 * hour, 1, "view", 1.0, None),
             (2, base + 11 * hour, 1, "view", 1.0, None)]
    # batch 2: one on-time row, two late (older than max(b1) - 2h)
    rows2 = [(3, base + 12 * hour, 2, "view", 1.0, None),
             (4, base + 8 * hour, 2, "view", 1.0, None),
             (5, base + 7 * hour, 2, "view", 1.0, None)]
    now = time.time()
    d = str(tmp_path / "stream")
    import os
    os.makedirs(d)
    write_event_rows(f"{d}/b1.parquet", rows1, mtime=now - 100)
    write_event_rows(f"{d}/b2.parquet", rows2, mtime=now - 99)

    def reader():
        from asvsp_spark.streaming.source import events_stream_reader
        return events_stream_reader(spark, d, max_files_per_trigger=1)

    ontime_def, late_def = drain_with_late_audit(
        reader(), spark, delay_seconds=7200)
    ontime_off, late_off = drain_with_late_audit(
        reader(), spark, delay_seconds=7200, keep_ontime=False)

    late_ids_def = sorted(r.event_id for r in late_def.collect())
    late_ids_off = sorted(r.event_id for r in late_off.collect())
    assert late_ids_def == [4, 5]
    assert late_ids_off == late_ids_def
    assert ontime_def.count() == 3
    assert ontime_off is None             # sink skipped entirely


# --------------------------------------------------- drain local batch


def test_local_batch_arrow_path_value_parity(spark):
    """_local_batch's columnar (Arrow) materialization must reproduce
    the classic createDataFrame values exactly on the guarded types —
    including int64 past 2^53 (where a float round-trip would corrupt)
    and NULLs in every column — and must fall back to the classic path
    for nested schemas and small batches."""
    from pyspark.sql import Row, types as T

    from asvsp_spark.streaming.source import _local_batch

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("big", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
    ])
    huge = (1 << 62) + 12345  # not float64-representable
    rows = [Row(s=f"k{i}", big=huge + i, d=i / 7.0, b=i % 2 == 0)
            for i in range(1500)]
    rows[3] = Row(s=None, big=None, d=None, b=None)

    def key(rows_out):
        return sorted(tuple(repr(v) for v in r) for r in rows_out)

    got = _local_batch(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert key(got.collect()) == key(want.collect())

    # small batch: classic path (identical result either way — this
    # pins only that it doesn't error and keeps values)
    small = rows[:10]
    got_small = _local_batch(spark, small, schema)
    assert key(got_small.collect()) == key(small)

    # nested schema: guarded out of the Arrow path, still correct
    nested = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("xs", T.ArrayType(T.LongType())),
    ])
    nrows = [Row(k=f"n{i}", xs=[i, i + 1]) for i in range(1200)]
    got_nested = _local_batch(spark, nrows, nested)
    assert sorted(r.k for r in got_nested.collect()) == \
        sorted(r.k for r in nrows)

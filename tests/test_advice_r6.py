"""Regression tests for the round-6 ADVICE.md findings, fixed in r7:
CLI escape decoding, minhash_calibration oracle zero-overlap coverage,
stitch_documents id-type derivation and over-max chain reporting."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_decode_escapes_preserves_non_ascii():
    """ADVICE r6: the utf-8→unicode_escape round-trip mojibake'd any
    non-ASCII joiner ('§' → 'Â§'); the whitelist decoder must rewrite
    backslash sequences AND pass multi-byte characters through."""
    from asvsp_spark.cli import _decode_escapes

    assert _decode_escapes(r"\n\n") == "\n\n"
    assert _decode_escapes(r"\t|\r") == "\t|\r"
    assert _decode_escapes(r"\\n") == "\\n"          # escaped backslash
    assert _decode_escapes("§¶•") == "§¶•"           # no mojibake
    assert _decode_escapes("»\\n«") == "»\n«"        # mixed
    assert _decode_escapes("plain") == "plain"
    assert _decode_escapes(r"\x41") == r"\x41"       # not whitelisted


def test_minhash_calibration_keeps_zero_overlap_candidates(
        spark, monkeypatch):
    """ADVICE r6: an LSH candidate pair with DISJOINT shingle sets (a
    pure min-hash band collision) must surface in decile 0, not vanish
    — conservation: sum(n_pairs) over buckets == |candidate pairs|.
    Collisions are vanishingly rare with 32-bit slices, so one is
    injected by wrapping _lsh_candidates; the DuckDB oracle mirrors
    this with LEFT JOIN inter + coalesce (plans/oracle_text.py)."""
    from asvsp_spark.operators import dedup as D

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),   # disjoint from doc 1
        (3, "alpha beta gamma delta epsilon zeta"), # true dup of doc 1
        (4, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    real = D._lsh_candidates

    def with_injected(*a, **kw):
        sets, sig, cand = real(*a, **kw)
        extra = cand.sparkSession.createDataFrame(
            [(1, 2)], "doc_a long, doc_b long")
        return sets, sig, cand.unionByName(extra).distinct()

    monkeypatch.setattr(D, "_lsh_candidates", with_injected)
    out = D.minhash_calibration(docs, n=3, num_hashes=16, bands=8)
    got = {r.j_bucket: r for r in out.collect()}

    # the injected disjoint pair lands in decile 0 with exact J = 0
    assert 0 in got and got[0].n_pairs >= 1
    assert got[0].avg_exact == 0.0
    # conservation across buckets: nothing dropped
    _, _, cand = with_injected(docs, 3, 16, 8, 500, "doc_id", "text")
    assert sum(r.n_pairs for r in got.values()) == cand.count()
    # the true-dup pair still reports decile 9 with agreement 1.0
    assert 9 in got and got[9].avg_est == 1.0


def test_kafka_wire_ts_carries_zone_offset(spark, tmp_path):
    """Review r7: the wire timestamp string must pin the INSTANT, not a
    zone-less local rendering — a producer session in any timezone and
    a UTC consumer must agree. Pinned by formatting the same frame
    under two session timezones and asserting both wire strings parse
    back to the identical instant."""
    import pyspark.sql.functions as F
    from asvsp_spark.streaming.source import kafka_wire_frame

    df = spark.createDataFrame(
        [(1, "2024-03-01 10:15:00.123456", 7, "click", 1.5, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string").withColumn("ts", F.to_timestamp("ts"))
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        vals = {}
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            wire = kafka_wire_frame(df).collect()[0]["value"]
            import json
            vals[tz] = json.loads(bytes(wire))["ts"]
        # the two renderings differ textually but carry an offset...
        assert vals["America/New_York"].endswith("-05:00")
        assert vals["UTC"].endswith("Z")
        # ...and parse to the SAME instant under a UTC consumer
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        parsed = spark.createDataFrame(
            [(vals["UTC"],), (vals["America/New_York"],)], "s string"
        ).select(F.to_timestamp("s").alias("t")).collect()
        assert parsed[0]["t"] == parsed[1]["t"]
        assert str(parsed[0]["t"]) == "2024-03-01 10:15:00.123456"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)



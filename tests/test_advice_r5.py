"""Regression tests for the round-4 ADVICE findings (fixed round 5):

- split_expr weight validation (negative / zero / sub-resolution weights
  used to silently misallocate or empty a split);
- PII phone pattern word-boundary guards (3-3-4 runs embedded in longer
  digit strings used to be redacted);
- identifier quoting in catalog DDL/ANALYZE (backtick injection).

The semantic-dedup string-id and PQ zero-vector pins live in
test_similarity.py with the other similarity tests.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_split_expr_rejects_nonpositive_weights(spark):
    from asvsp_spark.operators.splits import split_expr
    with pytest.raises(ValueError, match="> 0"):
        split_expr("c", {"train": 0.9, "valid": -0.1, "test": 0.2})
    with pytest.raises(ValueError, match="> 0"):
        split_expr("c", {"train": 1.0, "valid": 0.0})


def test_split_expr_rejects_sub_resolution_weights(spark):
    from asvsp_spark.operators.splits import split_expr
    # 0.001 of 256 buckets truncates onto the previous boundary -> the
    # 'valid' split would be silently empty
    with pytest.raises(ValueError, match="1/256"):
        split_expr("c", {"train": 0.999, "valid": 0.001, "test": 0.5})
    # healthy weights still build
    assert split_expr("c", {"train": 0.8, "valid": 0.1, "test": 0.1}) \
        is not None


def test_phone_pattern_boundary_guards(spark):
    """3-3-4 digit runs embedded in longer digit strings are NOT phone
    matches; genuine phones (with or without +) are. Verified in both
    engines — the pattern must stay in the Java/RE2 intersection."""
    import duckdb
    from asvsp_spark.functions.text import PII_PATTERNS

    cases = [
        ("call 555-123-4567 now", 1),
        ("+555 123 4567", 1),
        ("id 9555-123-4567 trail", 0),     # leading digit glued on
        ("run 555-123-45678", 0),          # trailing digit glued on
        ("v123.456.78901 build", 0),       # long dotted id
        ("x 555.123.4567.", 1),            # trailing punctuation is fine
        ("1.234.567.8901", 0),             # r6 residual: digit-dot prefix
        ("fee 1.234.567.8901 fie", 0),     # same, embedded in prose
        ("call.555-123-4567", 1),          # sentence dot is not a digit run
        (".555-123-4567", 1),              # string-leading dot (r8 fix)
        ("1.555-123-4567", 0),             # the sole deliberate residual
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, t string")
    got = {r.i: r.n for r in df.select(
        "i", F.regexp_count("t", F.lit(PII_PATTERNS["phone"])).alias("n")
    ).collect()}
    want = {i: n for i, (_, n) in enumerate(cases)}
    assert got == want

    con = duckdb.connect()
    duck = {
        i: con.execute(
            "SELECT len(regexp_extract_all(?, ?))",
            [t, PII_PATTERNS["phone"]]).fetchone()[0]
        for i, (t, _) in enumerate(cases)
    }
    assert duck == want


def test_quote_ident_doubles_backticks():
    from asvsp_spark.sources.catalog import _quote_ident
    assert _quote_ident("plain") == "`plain`"
    assert _quote_ident("we`ird") == "`we``ird`"
    # a name trying to break out of the quoting stays one identifier
    assert _quote_ident("x` DROP TABLE y --") == "`x`` DROP TABLE y --`"


# ---- second r5 review round ----


def test_drift_empty_delta_no_store_corruption(spark, tmp_path):
    """An empty delta must not crash, must not bootstrap an empty
    baseline store, and a later real bootstrap must work normally."""
    from asvsp_spark.operators.drift import incremental_drift_check
    store = str(tmp_path / "mixbase")
    empty = spark.createDataFrame([], "ts timestamp, event_type string")
    report, stats = incremental_drift_check(spark, empty, store)
    assert report.count() == 0
    assert stats == {"delta_events": 0, "delta_keys": 0,
                     "bootstrapped": False}
    import glob
    assert not glob.glob(f"{store}/*"), "store must stay untouched"
    real = spark.createDataFrame(
        [("2024-01-01 00:00:00", "click")] * 4
        + [("2024-01-01 01:00:00", "view")] * 4,
        "ts string, event_type string").selectExpr(
            "cast(ts as timestamp) ts", "event_type")
    report2, stats2 = incremental_drift_check(spark, real, store)
    assert stats2["bootstrapped"] and stats2["delta_events"] == 8
    # self-baseline bootstrap: zero drift
    assert all(r.kl_nats == 0.0 for r in report2.collect())


def test_cli_quality_score_null_text(spark, tmp_path, capsys):
    """quality-score must skip NULL-text rows instead of crashing
    HashingTF mid-scan."""
    from asvsp_spark.cli import main
    src = str(tmp_path / "docs")
    good = "the history of science is a story about careful evidence"
    bad = "click here free winner claim your prize now now now"
    rows = ([(2 * i, f"{good} {i}") for i in range(8)]
            + [(2 * i + 1, f"{bad} {i}") for i in range(8)]
            + [(100, None)])
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)
    out = str(tmp_path / "scores")
    assert main(["quality-score", src, out,
                 "--features", "4096", "--max-iter", "5"]) == 0
    assert "16 docs scored" in capsys.readouterr().out


def test_corpus_pipeline_contract_fk_ref_path(spark, tmp_path, capsys):
    """--contract foreign_key specs carry a parquet path; the CLI must
    resolve it to a frame before the pipeline evaluates the suite."""
    import json
    from asvsp_spark.cli import main
    from tests.conftest import SF_DIR
    parent = str(tmp_path / "langs")
    spark.createDataFrame([("xx",)], "lang string").write.parquet(parent)
    contract = str(tmp_path / "contract.json")
    with open(contract, "w") as fh:
        json.dump([{"check": "foreign_key", "column": "lang",
                    "ref": parent, "ref_column": "lang"}], fh)
    out = str(tmp_path / "clean")
    # the ref path must resolve to a frame (no AttributeError), then
    # every document's lang is an orphan vs the xx-only parent -> abort
    with pytest.raises(ValueError, match="contract violated"):
        main(["corpus-pipeline", "--sf-dir", SF_DIR,
              "--out-dir", out, "--contract", contract])


def test_heuristic_labels_degenerate_docs(spark):
    """Whitespace-only docs don't crash the shared formula (the
    tokenizer yields [''] so n_tokens >= 1 always) and land at the
    bottom of the quality ranking — labeled bad, never good."""
    from asvsp_spark.operators.classify import heuristic_labels
    docs = spark.createDataFrame(
        [(i, " ".join(["the quick brown fox jumps"] * (1 + i)), "en")
         for i in range(8)] + [(100, "   ", "en")],
        "doc_id long, text string, lang string")
    got = {r.doc_id: r.label for r in heuristic_labels(docs).collect()}
    assert got.get(100, 0) == 0 and 1 in got.values()


def test_dq_check_config_error_exit_code(spark, tmp_path, capsys):
    """A malformed contract (not a JSON list) is a CONFIG error: exit 2,
    distinct from 1 = checks failed — for both dq-check and
    corpus-pipeline."""
    import json
    from asvsp_spark.cli import main
    src = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "k int").write.parquet(src)
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as fh:
        json.dump({"check": "min_rows"}, fh)
    assert main(["dq-check", src, "--checks", bad]) == 2
    assert "JSON list" in capsys.readouterr().err
    assert main(["corpus-pipeline", "--out-dir", str(tmp_path / "o"),
                 "--contract", bad]) == 2

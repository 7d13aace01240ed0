"""The incremental store operators and their shared replay-safe store
(``sources/store.py``): for each of the seven operators, a replayed
delta returns its first result and is stored once, and an append that
dies part-way is never read; plus legacy stores, compaction, the
Hadoop-resolved path and the CLI entry points."""

from __future__ import annotations

import datetime
from contextlib import contextmanager

import pytest
from pyspark.sql.readwriter import DataFrameWriter


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, datetime.datetime.fromisoformat(ts), et, v)
         for i, (ts, et, v) in enumerate(rows)],
        "event_id long, ts timestamp, event_type string, value double")


def _plain(v):
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_plain(x) for x in v)
    return v


def _rows(df) -> list:
    return sorted((_plain(r) for r in df.collect()), key=repr)


def _ids(df) -> list:
    return sorted(r[0] for r in df.collect())


# Each case: (run, store parts, delta 1, delta 2). run(spark, delta,
# store) returns everything a caller sees — output rows and counts —
# as plain values; the parts are the store's parquet directories.

def _exact(spark):
    from asvsp_spark.operators.dedup import incremental_exact_dedup

    def run(spark, delta, store):
        fresh, counts = incremental_exact_dedup(spark, delta, store)
        return _ids(fresh), counts
    return run, ("",), _docs(spark, [
        (1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")]), _docs(
        spark, [(10, "alpha beta"), (11, "epsilon zeta"),
                (12, "epsilon zeta"), (13, "eta theta")])


def _minhash(spark):
    from asvsp_spark.operators.dedup import incremental_minhash_dedup
    base = "spark engine shuffles data across the cluster while it plans"

    def run(spark, delta, store):
        fresh, counts = incremental_minhash_dedup(spark, delta, store)
        return _ids(fresh), counts
    return run, ("",), _docs(spark, [
        (1, base), (2, "cooking pasta with tomatoes garlic and basil"),
        (3, "hi")]), _docs(spark, [
            (10, base + " today"),
            (11, "sailing boats across the quiet harbor at dawn"),
            (12, "ok bye")])


def _substring(spark):
    from asvsp_spark.operators.dedup import incremental_dup_substring
    blk = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"

    def run(spark, delta, store):
        runs, counts = incremental_dup_substring(spark, delta, store)
        return _rows(runs), counts
    return run, ("",), _docs(spark, [(1, f"day one prefix {blk}")]), \
        _docs(spark, [(2, f"day two other lead-in {blk} trailer")])


def _paragraph(spark):
    from asvsp_spark.operators.dedup import incremental_paragraph_dedup

    def run(spark, delta, store):
        rebuilt, counts = incremental_paragraph_dedup(spark, delta, store)
        return _rows(rebuilt), counts
    return run, ("",), _docs(spark, [(1, "boiler\n\nfresh one")]), \
        _docs(spark, [(2, "boiler\n\nnew stuff\n\nmore")])


def _semantic(spark):
    from asvsp_spark.operators.similarity import incremental_semantic_dedup

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def run(spark, delta, store):
        fresh, counts = incremental_semantic_dedup(
            spark, delta, store, threshold=0.95)
        return _ids(fresh), counts
    return run, ("/centroids", "/vectors"), vecs([
        (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.99, 0.01]),
        (4, [0.6, 0.8])]), vecs([(5, [0.9999, 0.0001]), (6, [0.7, 0.7]),
                                 (7, [-1.0, 0.2])])


def _drift(spark):
    from asvsp_spark.operators.drift import incremental_drift_check

    def run(spark, delta, store):
        report, stats = incremental_drift_check(spark, delta, store)
        return _rows(report), stats
    return run, ("",), _events(spark, [
        ("2024-01-01 00:00:00", "x", 1.0), ("2024-01-01 01:00:00", "x", 2.0),
        ("2024-01-01 02:00:00", "y", 3.0)]), _events(spark, [
            ("2024-01-02 00:00:00", "y", 4.0),
            ("2024-01-02 01:00:00", "y", 5.0),
            ("2024-01-02 02:00:00", "z", 6.0)])


def _histogram(spark):
    from asvsp_spark.operators.sketches import (append_value_histogram,
                                                stored_percentiles)

    def run(spark, delta, store):
        stats = append_value_histogram(spark, delta, store)
        return _rows(stored_percentiles(spark, store)), stats
    return run, ("",), _events(spark, [
        ("2024-01-01 00:00:00", "x", 1.5), ("2024-01-01 01:00:00", "x", 250.0),
        ("2024-01-01 02:00:00", "y", 3.0)]), _events(spark, [
            ("2024-01-02 00:00:00", "x", 7.25),
            ("2024-01-02 01:00:00", "y", 9999.0)])


CASES = {"exact": _exact, "minhash": _minhash, "substring": _substring,
         "paragraph": _paragraph, "semantic": _semantic, "drift": _drift,
         "histogram": _histogram}


def _store_rows(spark, store, parts) -> list:
    return [_rows(spark.read.parquet(store + p)) for p in parts]


@contextmanager
def _append_dies_midway(monkeypatch, store):
    """The first parquet write under ``store`` lands one of its rows and
    then raises, as an executor lost in the middle of the write would."""
    real = DataFrameWriter.parquet
    fired = []

    def flaky(self, path, *args, **kwargs):
        if str(path).startswith(store) and not fired:
            fired.append(path)
            real(self._df.limit(1).write.mode("append"), path)
            raise OSError("injected: executor lost mid-append")
        return real(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", flaky)
        yield
    assert fired, "no store write was interrupted"


@pytest.mark.parametrize("op", sorted(CASES))
def test_replay_returns_first_result(spark, tmp_path, op):
    """The same delta twice, nothing in between (a caller retrying after
    its own output write failed): the retry returns the first call's
    output and counts, and the store still holds each row once."""
    run, parts, d1, d2 = CASES[op](spark)
    store = str(tmp_path / "store")
    run(spark, d1, store)
    first = run(spark, d2, store)
    held = _store_rows(spark, store, parts)
    assert run(spark, d2, store) == first
    assert _store_rows(spark, store, parts) == held


@pytest.mark.parametrize("op", sorted(CASES))
def test_interrupted_append_retry_matches_clean_run(spark, tmp_path,
                                                    monkeypatch, op):
    """A store write that dies after landing part of a batch is not
    read: the retry returns what an uninterrupted run returns and leaves
    the same store. Interrupts the bootstrap delta (the centroid write,
    for the semantic store) and then the next delta."""
    run, parts, d1, d2 = CASES[op](spark)
    clean = str(tmp_path / "clean")
    want = [run(spark, d1, clean), run(spark, d2, clean)]
    store = str(tmp_path / "store")
    for delta, expected in zip((d1, d2), want):
        with _append_dies_midway(monkeypatch, store):
            with pytest.raises(OSError, match="injected"):
                run(spark, delta, store)
        assert run(spark, delta, store) == expected
    assert _store_rows(spark, store, parts) == \
        _store_rows(spark, clean, parts)


def test_batch_key_ignores_row_order_but_not_null_positions(spark):
    """Two deltas get one key only when they hold the same rows: the
    order rows arrive in does not matter, which column is NULL does."""
    from asvsp_spark.sources.store import count_and_key

    def key(rows):
        return count_and_key(spark.createDataFrame(rows, "a long, b long"))

    rows = [(1, None), (2, 3), (2, 3)]
    assert key(rows) == key(rows[::-1])
    assert key([(1, None)]) != key([(None, 1)])
    assert key(rows)[0] == 3 and key(rows) != key(rows[:2])


def test_store_resolves_scheme_qualified_paths(spark, tmp_path):
    """A store given as a URI (file:// here, hdfs:// or s3a:// on a
    cluster) is listed and committed through the session's Hadoop
    FileSystem: a driver-local os.path check would find nothing there
    and bootstrap every delta."""
    from asvsp_spark.operators.dedup import incremental_exact_dedup
    store = f"file://{tmp_path}/store"
    b1 = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
    b2 = _docs(spark, [(3, "alpha beta"), (4, "eta theta")])
    assert incremental_exact_dedup(spark, b1, store)[1]["fresh"] == 2
    fresh, c2 = incremental_exact_dedup(spark, b2, store)
    assert (_ids(fresh), c2["known_dupes"]) == ([4], 1)
    assert incremental_exact_dedup(spark, b2, store)[1] == c2


def test_compact_and_merge_swap_scheme_qualified_store(spark, tmp_path):
    """compact_parquet and merge_upsert on a file:// store: the layout
    check, the directory swap and the file count go through the
    session's Hadoop FileSystem. An os.rename of the URI raised after
    the rewrite and left a full <store>__compact_<token> copy beside
    the store."""
    from asvsp_spark.operators.dedup import incremental_exact_dedup
    from asvsp_spark.sources.batch import compact_parquet, merge_upsert
    from asvsp_spark.sources.store import BatchStore
    store = f"file://{tmp_path}/store"
    b1 = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
    b2 = _docs(spark, [(3, "alpha beta"), (4, "eta theta")])
    incremental_exact_dedup(spark, b1, store)
    fresh, c2 = incremental_exact_dedup(spark, b2, store)
    first = (_ids(fresh), c2)

    def stored():
        df = BatchStore(spark, store).read()
        return _rows(df.select(*sorted(df.columns)))

    before = stored()
    assert compact_parquet(spark, store) >= 1
    assert stored() == before
    counts = merge_upsert(spark, store, spark.read.parquet(store), ["fp"])
    assert counts["update"] == len(before) == 3
    assert stored() == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["store"]
    # the batch directories survive both rewrites: a replay of the last
    # delta still returns its first result
    fresh, c2 = incremental_exact_dedup(spark, b2, store)
    assert (_ids(fresh), c2) == first


@pytest.mark.parametrize("mode", [[], ["--paragraph", r"\n{2,}"]],
                         ids=["exact", "paragraph"])
def test_cli_dedup_incremental_replay(spark, tmp_path, capsys, mode):
    """dedup-incremental writes the store before --out: run twice on
    the same delta (the retry after a failed --out write), it writes the
    same --out and prints the same counts."""
    from asvsp_spark.cli import main
    delta = str(tmp_path / "delta")
    _docs(spark, [(1, "boiler\n\nfresh one"), (2, "boiler\n\nfresh one"),
                  (3, "other text\n\nboiler")]).write.parquet(delta)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    argv = ["dedup-incremental", delta, "--store", store, "--out", out,
            *mode]
    assert main(argv) == 0
    first = (capsys.readouterr().out, _rows(spark.read.parquet(out)))
    assert first[1]
    assert main(argv) == 0
    assert (capsys.readouterr().out, _rows(spark.read.parquet(out))) == first


def test_cli_value_sketch_replay(spark, tmp_path, capsys):
    """value-sketch run twice on the same delta prints the same
    percentiles: the retry does not fold the delta in twice."""
    from asvsp_spark.cli import main
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    _events(spark, [("2024-01-01 00:00:00", "x", 1.5),
                    ("2024-01-01 01:00:00", "x", 250.0)]).write.parquet(d1)
    _events(spark, [("2024-01-02 00:00:00", "x", 7.25),
                    ("2024-01-02 01:00:00", "x", 99.0)]).write.parquet(d2)
    store = str(tmp_path / "store")
    assert main(["value-sketch", d1, "--store", store]) == 0
    assert main(["value-sketch", d2, "--store", store]) == 0
    first = capsys.readouterr().out.splitlines()[-1]
    assert "n=4" in first
    assert main(["value-sketch", d2, "--store", store]) == 0
    assert capsys.readouterr().out.splitlines()[-1] == first


def test_cli_compact_then_replay(spark, tmp_path, capsys):
    """compact rewrites the store and keeps the replay contract: the
    last delta replayed after compaction still returns its first
    result."""
    from asvsp_spark.cli import main
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    _docs(spark, [(1, "alpha beta"), (2, "gamma delta")]).write.parquet(d1)
    _docs(spark, [(3, "alpha beta"), (4, "eta theta")]).write.parquet(d2)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    assert main(["dedup-incremental", d1, "--store", store]) == 0
    assert main(["dedup-incremental", d2, "--store", store,
                 "--out", out]) == 0
    first = (capsys.readouterr().out.splitlines()[-4:],
             _rows(spark.read.parquet(out)))
    assert main(["compact", store]) == 0
    assert main(["dedup-incremental", d2, "--store", store,
                 "--out", out]) == 0
    assert (capsys.readouterr().out.splitlines()[-4:],
            _rows(spark.read.parquet(out))) == first


def test_incremental_paragraph_replay_idempotent(spark, tmp_path):
    """ADVICE r6: a replayed delta (downstream write failed after the
    store append) must NOT see its own winners as 'known' and rebuild
    empty documents. The replay reproduces the first run's corpus and
    funnel exactly and stores nothing twice."""
    from asvsp_spark.operators.dedup import incremental_paragraph_dedup

    store = str(tmp_path / "seg")
    b1 = _docs(spark, [(1, "boiler\n\nfresh one")])
    out1, c1 = incremental_paragraph_dedup(
        spark, b1, store)
    first = sorted(map(tuple, out1.collect()))
    assert first[0][1] == "boiler\n\nfresh one"

    # replay the SAME delta: identical output
    out1r, c1r = incremental_paragraph_dedup(
        spark, b1, store)
    assert sorted(map(tuple, out1r.collect())) == first
    assert c1r == c1
    # and the store was not double-appended
    assert spark.read.parquet(store).count() == 2

    # a NEW delta over the same store sees batch 1 as known
    b2 = _docs(spark, [(2, "boiler\n\nnew stuff")])
    out2, c2 = incremental_paragraph_dedup(
        spark, b2, store)
    assert c2["known_segments"] == 1 and c2["fresh_segments"] == 1
    assert out2.collect()[0]["text"] == "new stuff"


def test_compact_preserves_mixed_store_batch_ids(spark, tmp_path):
    """Review r7: compact_parquet on a mixed-footer store (legacy 2-col
    files + batch_id-stamped appends) must keep the batch_id column —
    a schema picked from one arbitrary legacy footer would silently
    drop the replay stamps and reintroduce the empty-rebuild bug."""
    from asvsp_spark.operators.dedup import incremental_paragraph_dedup
    from asvsp_spark.sources.batch import compact_parquet

    store = str(tmp_path / "seg")
    spark.createDataFrame(
        [("0" * 32, 1)], "h string, keeper_id long").write.parquet(store)
    b = _docs(spark, [(2, "boiler\n\nnew stuff")])
    _, c1 = incremental_paragraph_dedup(spark, b, store)
    compact_parquet(spark, store)
    cols = set(spark.read.parquet(store).columns)
    assert "batch_id" in cols
    # replay after compaction still idempotent
    out, c2 = incremental_paragraph_dedup(spark, b, store)
    assert c2 == c1
    assert out.collect()[0]["text"] == "boiler\n\nnew stuff"


def test_incremental_paragraph_legacy_store_then_batch_id(spark, tmp_path):
    """A store written before batch tracking (no batch_id column, or
    untracked calls) keeps working: its rows stay 'known' to every
    later tracked delta, and mixed-footer reads merge cleanly."""
    from asvsp_spark.operators.dedup import incremental_paragraph_dedup

    store = str(tmp_path / "seg")
    # simulate a legacy 2-col store
    _docs(spark, [(0, "x")]).sparkSession.createDataFrame(
        [("0" * 32, 1)], "h string, keeper_id long"
    ).write.parquet(store)
    import pyspark.sql.functions as F  # noqa: F401
    from asvsp_spark.operators.dedup import _doc_segments
    legacy_h = _doc_segments(
        _docs(spark, [(1, "boiler")]), r"\n{2,}", "doc_id", "text"
    ).select("h").collect()[0]["h"]
    spark.createDataFrame(
        [(legacy_h, 1)], "h string, keeper_id long"
    ).write.mode("append").parquet(store)

    b2 = _docs(spark, [(2, "boiler\n\nnew stuff")])
    out2, c2 = incremental_paragraph_dedup(
        spark, b2, store)
    assert c2["known_segments"] == 1 and c2["fresh_segments"] == 1
    assert out2.collect()[0]["text"] == "new stuff"
    # replay of b2 over the now-mixed store is still idempotent
    out2r, c2r = incremental_paragraph_dedup(
        spark, b2, store)
    assert c2r == c2
    assert out2r.collect()[0]["text"] == "new stuff"


def test_incremental_dup_substring_bootstrap_equals_global(spark, tmp_path):
    """With no store, one batch equals the global dup_substring_runs on
    the same documents (shared staging + assembly helpers)."""
    from asvsp_spark.operators.dedup import (dup_substring_runs,
                                             incremental_dup_substring)
    blk = "the quick brown fox jumps over the lazy dog again"
    rows = [(1, f"intro words here now {blk} tail one two"),
            (2, f"other start {blk} different ending here"),
            (3, "nothing shared at all in this one truly")]
    runs, counts = incremental_dup_substring(
        spark, _docs(spark, rows), str(tmp_path / "w"))
    glob = dup_substring_runs(_docs(spark, rows), window=8)
    assert sorted(map(tuple, runs.collect())) == \
        sorted(map(tuple, glob.collect()))
    assert counts["hot_windows"] > 0
    assert counts["store_known_windows"] == 0


def test_incremental_dup_substring_cross_batch_threshold(spark, tmp_path):
    """A substring seen ONCE per batch trips the min_count=2 threshold
    the day the second batch arrives — only then do its runs emit; a
    replay of batch 2 reproduces the same runs and funnel."""
    from asvsp_spark.operators.dedup import incremental_dup_substring
    blk = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    store = str(tmp_path / "w")
    b1 = _docs(spark, [(1, f"day one prefix {blk}")])
    b2 = _docs(spark, [(2, f"day two other lead-in {blk} trailer")])
    r1, c1 = incremental_dup_substring(spark, b1, store)
    assert r1.count() == 0                      # not yet duplicated
    assert c1["store_known_windows"] == 0 and c1["hot_windows"] == 0
    r2, c2 = incremental_dup_substring(spark, b2, store)
    got = r2.collect()
    assert len(got) == 1                        # now it is
    assert (got[0]["doc_id"], got[0]["n_tokens"]) == (2, 10)
    assert c2["hot_windows"] == 3               # the 3 windows of blk
    assert c2["store_known_windows"] == 3
    # replay of batch 2: identical output + funnel, no double-append
    r2r, c2r = incremental_dup_substring(spark, b2, store)
    assert sorted(map(tuple, r2r.collect())) == sorted(map(tuple, got))
    assert c2r == c2
    assert spark.read.parquet(store).count() == \
        c1["distinct_windows"] + c2["distinct_windows"]


def test_incremental_dup_substring_window_mismatch_raises(spark, tmp_path):
    """Review r7: a store bootstrapped at one window size must refuse a
    delta at another — different-length n-gram hashes can never match,
    which would silently void the cross-batch guarantee."""
    import pytest
    from asvsp_spark.operators.dedup import incremental_dup_substring
    store = str(tmp_path / "w")
    incremental_dup_substring(
        spark, _docs(spark, [(1, "a b c d e f g h i")]), store, window=8)
    with pytest.raises(ValueError, match="window=8"):
        incremental_dup_substring(
            spark, _docs(spark, [(2, "j k l m n o p q r")]), store,
            window=4)

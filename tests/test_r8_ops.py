"""Round-8 operators + the r7-advice regression pins:

- line_dedup_docs preserve_blanks (paragraph boundaries survive 2b);
- the combined line_dedup + paragraph_delimiter pipeline flags (the r7
  medium finding: line dedup used to erase every paragraph boundary,
  silently disabling stage 2c);
- the string-leading-dot phone redaction context;
- remove_dup_substring_runs keep-one semantics + pipeline stage 2d;
- gapfill week grain;
- sq15 streaming near-duplicate dedup eviction semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_line_dedup_preserve_blanks(spark):
    """preserve_blanks keeps blank lines in place (so '\\n\\n'
    paragraph boundaries survive) while still deduping non-blank
    lines; whitespace-only docs still empty out."""
    from asvsp_spark.operators.dedup import line_dedup_docs
    docs = spark.createDataFrame([
        (1, "a\nb\n\na\nc"),        # dup 'a' across a paragraph break
        (2, "x\n\n\nx\ny"),         # blank run preserved verbatim
        (3, "  \n \n"),             # whitespace-only: still empties
        (4, "p\nq"),                # untouched
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           line_dedup_docs(docs, preserve_blanks=True).collect()}
    assert (out[1]["text"], out[1]["n_lines"], out[1]["n_removed"]) == \
        ("a\nb\n\nc", 4, 1)
    assert (out[2]["text"], out[2]["n_removed"]) == ("x\n\n\ny", 1)
    assert (out[3]["text"], out[3]["n_removed"]) == ("", 0)
    assert (out[4]["text"], out[4]["n_removed"]) == ("p\nq", 0)


def test_pipeline_line_plus_paragraph_dedup(spark, tmp_path):
    """The r7-advice medium finding, pinned: with BOTH line_dedup=True
    and paragraph_delimiter set, a corpus-wide repeated paragraph must
    still be stripped by stage 2c (line dedup used to erase the blank-
    line boundaries, so the paragraph pass saw one segment per doc and
    removed nothing)."""
    import os
    from asvsp_spark.pipeline import run_corpus_pipeline

    def filler(d):
        return " ".join(f"d{d}w{i} and of to in on for with"
                        for i in range(6))

    boiler = "all rights reserved contact admin for license terms"
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    f1, f2, f4 = filler(1), filler(2), filler(4)
    spark.createDataFrame(
        [(1, f"{boiler}\n\n{f1} alpha\ndup line {f1}\ndup line {f1}",
          "web", "en"),
         (2, f"{boiler}\n\n{f2} body two", "web", "en"),
         (4, f"{f4} solo", "web", "en")],
        "doc_id long, text string, source string, lang string"
    ).withColumn("n_chars", F.length("text").cast("long")) \
     .write.parquet(f"{sf}/documents.parquet")

    out = str(tmp_path / "corpus_out")
    counts = run_corpus_pipeline(
        spark, sf, out, quality_pct=0.0, line_dedup=True,
        paragraph_delimiter=r"\n{2,}", paragraph_joiner="\n\n")
    assert counts["line_deduped"] == 3
    assert counts["paragraph_deduped"] == 3
    corpus = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(f"{out}/corpus").collect()}
    # line dedup still fired inside doc 1
    assert corpus[1].count("dup line") == 1
    # the repeated boilerplate paragraph survives ONCE corpus-wide:
    # kept in doc 1 (smallest doc id), stripped from doc 2
    assert boiler in corpus[1]
    assert boiler not in corpus[2]
    # doc 2's own body survived the strip
    assert f"{f2} body two" in corpus[2]


RUN10 = " ".join(f"r{i}" for i in range(1, 11))   # a 10-token run


def _sub_docs(spark):
    return spark.createDataFrame([
        (1, f"a1 a2 a3 {RUN10} b1 b2"),      # canonical site (doc 1, p4)
        (2, f"c1 c2 {RUN10} d1"),            # loser at p3
        (3, f"{RUN10} e1 {RUN10}"),          # two loser sites in one doc
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),   # untouched
    ], "doc_id long, text string")


def test_remove_dup_substring_runs_keep_first(spark):
    """Per fingerprint the smallest (doc, span_start) occurrence
    survives; every other occurrence is stripped; untouched docs pass
    through byte-identical."""
    from asvsp_spark.operators.dedup import (dup_substring_runs,
                                             remove_dup_substring_runs)
    docs = _sub_docs(spark)
    out = {r["doc_id"]: r for r in remove_dup_substring_runs(
        docs, dup_substring_runs(docs)).collect()}
    assert out[1]["text"] == f"a1 a2 a3 {RUN10} b1 b2"   # keeper intact
    assert out[1]["n_tokens_removed"] == 0
    assert (out[2]["text"], out[2]["n_tokens_removed"]) == ("c1 c2 d1", 10)
    assert (out[3]["text"], out[3]["n_tokens_removed"]) == ("e1", 20)
    assert out[4]["text"] == "u1 u2 u3 u4 u5 u6 u7 u8 u9"


def test_remove_dup_substring_runs_keep_none(spark):
    """keep='none' strips EVERY occurrence — the incremental-delta
    policy where the canonical copy lives in a prior batch; composes
    with incremental_dup_substring's runs frame (same schema)."""
    from asvsp_spark.operators.dedup import (dup_substring_runs,
                                             remove_dup_substring_runs)
    docs = _sub_docs(spark)
    runs = dup_substring_runs(docs)
    out = {r["doc_id"]: r["text"] for r in remove_dup_substring_runs(
        docs, runs, keep="none").collect()}
    assert out[1] == "a1 a2 a3 b1 b2"      # canonical stripped too
    assert out[2] == "c1 c2 d1" and out[3] == "e1"
    with pytest.raises(ValueError, match="keep must be"):
        remove_dup_substring_runs(docs, runs, keep="all")


def test_remove_composes_with_incremental_runs(spark, tmp_path):
    """The incremental path: a delta's runs (detected against the
    store) drive keep='none' removal over the delta — the canonical
    copies live in batch 1, so batch 2 keeps nothing of the run."""
    from asvsp_spark.operators.dedup import (incremental_dup_substring,
                                             remove_dup_substring_runs)
    store = str(tmp_path / "wins")
    b1 = spark.createDataFrame(
        [(1, f"a1 a2 {RUN10}")], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, f"z1 {RUN10} z2")], "doc_id long, text string")
    incremental_dup_substring(spark, b1, store)
    runs, counts = incremental_dup_substring(spark, b2, store)
    assert counts["hot_windows"] == 3      # 10-token run, w=8 -> 3 wins
    out = remove_dup_substring_runs(b2, runs, keep="none").collect()
    assert (out[0]["text"], out[0]["n_tokens_removed"]) == ("z1 z2", 10)


def test_sq15_eviction_semantics(spark, tmp_path):
    """sq15's watermark-eviction model pinned against a THIRD
    implementation (pure-python hashlib mirror of the key / bucket /
    eviction algebra) on a crafted corpus: exact dups collapse in
    batch 1, evicted-bucket keys re-emit at the replay hour, live-
    bucket keys stay suppressed even under brand-new doc ids, the
    sentinel emits once, and the eviction comparison is non-strict
    (bucket == max-4 evicts)."""
    import hashlib
    from asvsp_spark.streaming.queries import (SQ15_ID_OFFSET,
                                               SQ15_REPLAY_HOURS,
                                               SQ15_SENTINEL_HOURS,
                                               SQ15_SENTINEL_TEXT,
                                               sq15_neardup_dedup)

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def hslice(h, t=0):
        return int(h[8 * t:8 * t + 8], 16)

    def key(doc, text):
        toks = text.strip().split()
        sh = list(dict.fromkeys(
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)))
        if not sh:
            return f"e{doc}"
        hs = [md5("0|" + s) for s in sh]
        return "_".join(str(min(hslice(h, t) for h in hs))
                        for t in range(4))

    texts = {i: " ".join(f"doc{i}tok{j} common filler word {j % 3}"
                         for j in range(8)) for i in range(12)}
    texts[12] = texts[3]          # exact duplicate of doc 3
    texts[13] = "two tokens"      # no shingles: id-keyed
    import pyarrow as pa
    import pyarrow.parquet as pq
    sf = str(tmp_path / "sf")
    import os
    os.makedirs(sf)
    pq.write_table(pa.table({
        "doc_id": pa.array(sorted(texts), pa.int64()),
        "text": pa.array([texts[i] for i in sorted(texts)], pa.string()),
    }), f"{sf}/documents.parquet")

    # python model
    keys1 = {key(d, t) for d, t in texts.items()}
    bucket = {k: hslice(md5(k)) % 72 for k in keys1}
    mxh = max(bucket.values())
    live = {k for k in keys1 if bucket[k] > mxh - 4}
    skey = key(-1, SQ15_SENTINEL_TEXT)
    keys3 = ({key(d, t) for d, t in texts.items() if len(t.split()) >= 3}
             | {f"e{d + SQ15_ID_OFFSET}" for d, t in texts.items()
                if len(t.split()) < 3})
    emits3 = {k for k in keys3 if k not in live and k != skey}
    want: dict[int, tuple[int, int]] = {}
    for rows_h, ks in ([(bucket[k], k) for k in keys1]
                       + [(SQ15_SENTINEL_HOURS, skey)]
                       + [(SQ15_REPLAY_HOURS, k) for k in emits3]):
        n, ck = want.get(rows_h, (0, 0))
        want[rows_h] = (n + 1, ck + hslice(md5(ks)) % 1_000_003)

    got = {}
    for r in sq15_neardup_dedup(spark, sf).collect():
        h = (int(r["window_start"][8:10]) - 1) * 24 \
            + int(r["window_start"][11:13])
        got[h] = (r["n_kept"], r["key_checksum"])
    assert got == want
    # semantics spot-checks on the model itself
    assert len(emits3) < len(keys3)          # something WAS suppressed
    assert got[SQ15_SENTINEL_HOURS][0] == 1
    assert sum(n for n, _ in got.values()) \
        == len(keys1) + 1 + len(emits3)      # exact dup collapsed


def test_substring_removed_plan_shape(spark):
    """dedup_substring_removed's plan: no cartesian product anywhere,
    and the loser-span frame joins back to the corpus by broadcast
    (spans are a small fraction of any sane corpus)."""
    from asvsp_spark import tables
    from asvsp_spark.operators.dedup import (dup_substring_runs,
                                             remove_dup_substring_runs)
    from tests.conftest import SF_DIR
    docs = tables.load(spark, SF_DIR, "documents")
    out = remove_dup_substring_runs(docs, dup_substring_runs(docs))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_gapfill_week_grain_iso_monday(spark):
    """Week-grain gap-fill pins ISO-week bucketing: a Sunday event
    lands in the PRIOR Monday's bucket, the spine steps calendar weeks,
    and LOCF carries across empty weeks. 2001-01-07 is a Sunday;
    2001-01-01 is a Monday."""
    from asvsp_spark.operators.asof import gapfill
    ev = spark.createDataFrame(
        [("a", "2001-01-07 10:00:00", 2.0),     # Sunday -> week of 1/1
         ("a", "2001-01-22 00:00:00", 6.0)],    # Monday, two weeks on
        "event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {str(r["week"]): r for r in
            gapfill(ev, grain="week").collect()}
    assert sorted(rows) == ["2001-01-01 00:00:00", "2001-01-08 00:00:00",
                            "2001-01-15 00:00:00", "2001-01-22 00:00:00"]
    assert rows["2001-01-01 00:00:00"]["avg_value"] == 2.0
    assert rows["2001-01-08 00:00:00"]["filled"] is True
    assert rows["2001-01-08 00:00:00"]["avg_value"] == 2.0   # LOCF
    assert rows["2001-01-22 00:00:00"]["avg_value"] == 6.0


def test_pipeline_substring_dedup_stage(spark, tmp_path):
    """Opt-in stage 2d: the duplicated run keeps its first occurrence
    corpus-wide, a fully-duplicated doc empties and drops with audit
    attribution, and the funnel stays monotone."""
    import os
    from asvsp_spark.pipeline import run_corpus_pipeline

    def filler(d):
        return " ".join(f"d{d}w{i} and of to in on for with"
                        for i in range(6))

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    f1, f2 = filler(1), filler(2)
    spark.createDataFrame(
        [(1, f"{f1} {RUN10} {f1} tail", "web", "en"),
         (2, f"{f2} head {RUN10} {f2}", "web", "en"),
         (5, RUN10, "web", "en")],          # entirely the duplicated run
        "doc_id long, text string, source string, lang string"
    ).withColumn("n_chars", F.length("text").cast("long")) \
     .write.parquet(f"{sf}/documents.parquet")

    out = str(tmp_path / "corpus_out")
    counts = run_corpus_pipeline(spark, sf, out, quality_pct=0.0,
                                 substring_dedup=True, audit=True)
    assert counts["substring_deduped"] == 2            # doc 5 dropped
    assert counts["quality_gated"] >= counts["substring_deduped"] \
        >= counts["exact_deduped"]
    corpus = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert RUN10 in corpus[1]              # canonical copy survives
    assert RUN10 not in corpus[2]
    assert 5 not in corpus
    audit = {r["doc_id"]: r["dropped_at"]
             for r in spark.read.parquet(f"{out}/drop_audit").collect()}
    assert audit[5] == "substring_dedup" and audit[1] == "kept"


# ---- mid-r8: source formats, unpivot, VARIANT ----

def test_unpivot_roundtrips_pivot_and_excludes_nulls(spark):
    """unpivot_daily_type is pivot's inverse: the long frame carries
    exactly the non-NULL wide cells (EXCLUDE NULLS), with the avg_
    prefix stripped — a day with no 'error' events yields no error
    row, not a NULL one."""
    from asvsp_spark.operators.grouping import (pivot_daily_type,
                                                unpivot_daily_type)
    events = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "click", 1.0),
         (2, "2024-01-01 11:00:00", "click", 2.0),
         (3, "2024-01-01 12:00:00", "view", 5.0),
         (4, "2024-01-02 09:00:00", "error", 3.0)],
        "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    long_rows = {(r.day, r.event_type): r.avg_value
                 for r in unpivot_daily_type(events).collect()}
    assert long_rows == {
        ("2024-01-01", "click"): 1.5,
        ("2024-01-01", "view"): 5.0,
        ("2024-01-02", "error"): 3.0,
    }
    # every non-NULL wide cell appears, NULL cells are absent
    wide = pivot_daily_type(events).collect()[0]
    assert wide.avg_signup is None and wide.avg_purchase is None


def test_variant_semantics(spark):
    """The three VARIANT landmines the oracle rides on: typed nested
    traversal, try_variant_get NULL on an absent path, and
    schema_of_variant's inference string."""
    from asvsp_spark.operators.semistruct import variant_props_rollup
    events = spark.createDataFrame(
        [(1, 10, "click", '{"k": 7}'),
         (2, 10, "click", '{"k": 0}'),
         (3, 11, "view", '{"k": -3}')],
        "event_id long, user_id long, event_type string, props string")
    rows = {r.etype: r for r in variant_props_rollup(events).collect()}
    assert set(rows) == {"click", "view"}  # nested $.m.t traversal
    c = rows["click"]
    assert (c.n_events, c.k_sum, c.k_max, c.k_nonzero) == (2, 7, 7, 1)
    assert c.n_missing_retry == 2          # $.retry never exists
    assert c.n_users == 1
    assert c.props_schema == "OBJECT<k: BIGINT>"
    assert rows["view"].k_sum == -3


def test_variant_rollup_plan_is_jvm_only_single_agg(spark):
    """Variant decode must stay in JVM kernels: no Python evaluation
    node anywhere, exactly one pair of hash aggregates (partial+final)
    plus the distinct-count expand."""
    from asvsp_spark.operators.semistruct import variant_props_rollup
    from asvsp_spark.tables import load
    plan = variant_props_rollup(load(spark, "/root/testdata/sf0.001",
                                     "events"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "MapInPandas" not in plan


# ---- exact-integer PQ (pq_rerank_topk oracle-pairing) ----

def test_ivfpq_int_full_probe_equals_pq_scan(spark):
    """With every cell probed the IVF pruning is a no-op, so
    ivfpq_rerank_topk must equal pq_rerank_topk exactly at the
    same m/k_codes/shortlist — the degenerate-configuration identity
    the persisted index also pins in test_similarity.py (both share
    the PQ sample gate and codebooks by construction)."""
    from asvsp_spark.operators.similarity import (ivfpq_rerank_topk,
                                                  pq_rerank_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fp = sorted(map(tuple, ivfpq_rerank_topk(
        emb, n_probe=10**9, shortlist=100).collect()))
    pq = sorted(map(tuple, pq_rerank_topk(
        emb, shortlist=100).collect()))
    assert fp == pq


def test_ivfpq_int_pruned_recall_bound(spark):
    """At the registry's own n_probe=4/shortlist=50 the pruned scan
    keeps >= 0.5 of the exact top-5 (measured 0.58 — identical to
    ivf_topk@4, i.e. the cell pruning, not the 8-byte codes, is what
    recall pays for; the ADC shortlist recovers everything the probes
    admit)."""
    from asvsp_spark.operators.similarity import (cosine_topk,
                                                  ivfpq_rerank_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in ivfpq_rerank_topk(emb).collect()}
    assert len(got & exact) / len(exact) >= 0.5


# ---- exact-integer SemDeDup (semantic_dedup_report oracle-pairing) ----

def test_semantic_dedup_int_chain_and_boundary(spark):
    """Greedy-by-id semantics on a crafted single-cell chain: a~b and
    b~c above threshold but a!~c — keep a (first), drop b (conflicts
    with kept a), KEEP c (its only conflict b was dropped, never kept).
    Plus the exact rational boundary: cos((1,0),(3,4)) = 3/5 exactly,
    and the decision rule is >=, so at threshold 3/5 the pair drops —
    pinned in exact integer arithmetic, no float could express this."""
    from asvsp_spark.operators.similarity import semantic_dedup
    docs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]),
         (1, [0.9, 0.45, 0.0, 0.0]),     # cos vs 0 = .894, vs 2 = .447
         (2, [0.45, 0.9, 0.0, 0.0])],    # cos vs 1 = .8
        "vec_id long, embedding array<double>")
    out = {r.vec_id: r.is_keeper
           for r in semantic_dedup(docs, threshold_num=4,
                                   threshold_den=5,
                                   n_cells=1).collect()}
    assert out == {0: True, 1: False, 2: True}

    edge = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<double>")
    out = {r.vec_id: r.is_keeper
           for r in semantic_dedup(edge, threshold_num=3,
                                   threshold_den=5,
                                   n_cells=1).collect()}
    assert out == {0: True, 1: False}    # cos = 3/5 exactly, >= drops


def test_semantic_dedup_int_greedy_invariants_on_fixture(spark):
    """The two properties that fully characterize greedy-by-order
    output, checked against an independent python replay of the exact
    rational test over the fixture: (a) no two KEPT vectors of a cell
    conflict; (b) every DROPPED vector conflicts with an earlier-id
    KEPT vector of its cell."""
    from asvsp_spark.operators.similarity import (IVF_QUANT_SCALE,
                                                  semantic_dedup)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = semantic_dedup(emb, threshold_num=3,
                          threshold_den=10).collect()

    def q(x):
        # Spark F.round is HALF AWAY FROM ZERO; python round() is
        # banker's — an exact-.5 micro-unit boundary would diverge
        import math
        y = x * IVF_QUANT_SCALE
        return math.floor(y + 0.5) if y >= 0 else -math.floor(-y + 0.5)

    vecs = {r["vec_id"]: [q(x) for x in r["embedding"]]
            for r in emb.collect()}

    def conflicts(a, b):
        x, y = vecs[a], vecs[b]
        dot = sum(p * q for p, q in zip(x, y))
        nx = sum(p * p for p in x)
        ny = sum(q * q for q in y)
        return dot > 0 and 100 * dot * dot >= 9 * nx * ny

    assert sum(1 for r in rows if not r.is_keeper) > 0   # greedy exercised
    by_cell: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r.vec_id):
        by_cell.setdefault(r.cell, []).append(r)
    for members in by_cell.values():
        kept = [r.vec_id for r in members if r.is_keeper]
        for i, a in enumerate(kept):
            for b in kept[i + 1:]:
                assert not conflicts(a, b), (a, b)
        for r in members:
            if not r.is_keeper:
                assert any(k < r.vec_id and conflicts(k, r.vec_id)
                           for k in kept), r.vec_id


def test_int_ann_ops_empty_input(spark):
    """Empty corpora return empty frames with the contract schema
    instead of an opaque NoneType crash from the dim metadata agg."""
    from asvsp_spark.operators.similarity import (ivf_topk,
                                                  ivfpq_rerank_topk,
                                                  pq_rerank_topk,
                                                  semantic_dedup)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for fn in (pq_rerank_topk, ivfpq_rerank_topk, ivf_topk):
        out = fn(empty)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rnk"]
    out = semantic_dedup(empty)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cell", "is_keeper"]


def test_int_ann_overflow_guard_is_loud(spark):
    """Embeddings whose micro-unit components exceed the int64-identity
    headroom must RAISE, not wrap: numpy int64 overflows silently while
    the DuckDB twin promotes to HUGEINT, so an unguarded overflow would
    surface as a hash mismatch instead of an error."""
    from asvsp_spark.operators.similarity import pq_rerank_topk
    big = spark.createDataFrame(
        [(i, [500.0] * 8) for i in range(12)],   # 5e8 micro-units
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="overflow the exact-int64"):
        pq_rerank_topk(big, m=2, k_codes=2, n_queries=2).count()


def test_int_ann_overflow_guard_is_dimension_aware():
    """The headroom bound is dim*(2*max)^2, not a fixed component cap:
    components that are safe at dim=64 (the historical |x|<=1.5e8
    envelope) overflow at dim=512 — the guard must scale with the
    actual vector width (r8 ADVICE, similarity.py guard)."""
    import numpy as np
    from asvsp_spark.operators.similarity import _check_int_vec_range
    ok64 = np.full((3, 64), 150_000_000, dtype=np.int64)
    _check_int_vec_range(ok64, "test")          # boundary of old cap: ok
    bad512 = np.full((3, 512), 150_000_000, dtype=np.int64)
    with pytest.raises(ValueError, match="dim=512"):
        _check_int_vec_range(bad512, "test")
    # zero vectors are always in range whatever the width
    _check_int_vec_range(np.zeros((2, 100_000), dtype=np.int64), "test")

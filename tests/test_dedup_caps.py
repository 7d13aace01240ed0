"""Scale-guard tests for the dedup candidate-generation caps: the shingle
document-frequency cap (df_capped_posting) and the MinHash-LSH band-bucket
cap. Both exist so one piece of boilerplate shared by k documents cannot
turn candidate generation into k^2 rows; verification stays exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asvsp_spark.operators.dedup import (
    df_capped_posting, jaccard_pairs, minhash_lsh_pairs, shingle_posting)


def _boilerplate_corpus(spark, k: int = 40):
    """k docs sharing exactly ONE hot shingle ('common boiler plate');
    every other shingle is unique to its doc."""
    rows = [(i, f"common boiler plate u{i}a u{i}b u{i}c") for i in range(k)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _candidates(posting):
    a, b = posting.alias("a"), posting.alias("b")
    return (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc"), F.col("b.doc")).distinct().count())


def test_df_cap_keeps_candidates_linear(spark):
    """One shingle with df=40 makes 780 uncapped candidate pairs; the cap
    drops it and the candidate count collapses to zero."""
    docs = _boilerplate_corpus(spark, 40)
    posting = shingle_posting(docs)
    assert _candidates(posting) == 40 * 39 // 2
    assert _candidates(df_capped_posting(posting, max_df=10)) == 0


def test_df_cap_preserves_scores_via_rare_shingles(spark):
    """A true near-dup pair is still found through its rare shared
    shingles, and its jaccard is computed over the FULL sets — the hot
    shingle counts toward the score even though it never generated the
    candidate."""
    docs = _boilerplate_corpus(spark, 40).unionByName(
        spark.createDataFrame(
            [(100, "common boiler plate x1 x2 x3 x4 x5 x6"),
             (101, "common boiler plate x1 x2 x3 x4 x5 zz")],
            "doc_id long, text string"))
    got = {(r.doc_a, r.doc_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
           for r in jaccard_pairs(docs, threshold=0.5, max_df=10).collect()}
    # 7 shingles each, 6 shared (incl. the hot one), union 8 -> 0.75
    assert got == {(100, 101): (6, 7, 7, 0.75)}


def test_jaccard_default_cap_matches_uncapped_on_fixture(spark):
    """At fixture scale the default cap must be a no-op: same pairs,
    same scores as the uncapped run (this is what keeps the driver's
    oracle row green)."""
    from asvsp_spark import tables
    from tests.conftest import SF_DIR
    docs = tables.load(spark, SF_DIR, "documents")

    def rs(df):
        return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())

    assert rs(jaccard_pairs(docs, threshold=0.3)) == \
        rs(jaccard_pairs(docs, threshold=0.3, max_df=None))


def test_minhash_bucket_cap_drops_giant_cliques_only(spark):
    """30 identical docs collide in every band: with the cap they are
    dropped (candidates stay linear); without it they produce 435
    pairs. A small clique below the cap is unaffected."""
    rows = [(i, "same exact duplicated text body here okay") for i in range(30)]
    rows += [(100 + i, "tiny clique of rare duplicated words") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_lsh_pairs(docs, threshold=0.9, max_bucket=10).collect()
    assert sorted((r.doc_a, r.doc_b) for r in capped) == \
        [(100, 101), (100, 102), (101, 102)]
    uncapped = minhash_lsh_pairs(docs, threshold=0.9, max_bucket=None).collect()
    assert len(uncapped) == 30 * 29 // 2 + 3


def test_minhash_rejects_indivisible_bands():
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(None, num_hashes=16, bands=5)


def test_star_cc_long_chain_few_rounds(spark):
    """A 10,000-vertex path graph: min-label propagation would need
    10k rounds; star contraction must collapse it to one component
    within 15 alternating rounds."""
    from asvsp_spark.operators.components import connected_components
    edges = spark.range(9999).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    got = connected_components(edges, max_iter=15)
    comps = got.select("component").distinct().collect()
    assert [r.component for r in comps] == [0]
    assert got.count() == 10000


def test_star_cc_equals_label_propagation(spark):
    """On a mixed graph (cliques + chains + singleton-free ids) star
    contraction computes the labeling min-label propagation converges
    to: every vertex -> the min id reachable from it, here computed by a
    pure-Python union-find that keeps the smaller id as the root."""
    from asvsp_spark.operators.components import connected_components
    rows = [(i, i + 1) for i in range(0, 40)]            # chain 0..40
    rows += [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    rows += [(200, 201), (203, 202), (201, 203)]         # mixed order
    edges = spark.createDataFrame(rows, "doc_a long, doc_b long")

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = sorted((v, find(v)) for v in parent)
    got = sorted((r.vertex, r.component)
                 for r in connected_components(edges).collect())
    assert got == want


def test_winnowing_guarantee_and_compression(spark):
    """Winnowing's core guarantee: two docs sharing a token run of
    length >= k + w - 1 (= 6 here) share at least one fingerprint; the
    sketch is smaller than the full k-gram set; a doc shorter than k
    tokens fingerprints to empty; a short doc (< w k-grams) keeps a
    single min."""
    from asvsp_spark.operators.dedup import (winnow_fingerprints,
                                             winnow_pairs)
    shared_run = "alpha beta gamma delta epsilon zeta"   # 6 tokens
    docs = spark.createDataFrame(
        [(1, f"one two {shared_run} three four five six seven"),
         (2, f"nine ten {shared_run} eleven twelve thirteen fourteen"),
         (3, "totally different words everywhere here folks okay"),
         (4, "tiny doc"),                                 # < k tokens
         (5, "four little tokens here")],                 # < w k-grams
        "doc_id long, text string")
    fps = {r.doc: r.fps for r in winnow_fingerprints(docs).collect()}
    assert set(fps[1]) & set(fps[2]), "shared 6-token run must collide"
    assert fps[4] == []
    assert len(fps[5]) == 1
    # compression: fewer fingerprints than k-grams (13 tokens -> 11 kg)
    assert len(fps[1]) < 11
    pairs = {(r.doc_a, r.doc_b) for r in
             winnow_pairs(docs, threshold=0.1).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnow_df_cap_drops_boilerplate_only(spark):
    """A fingerprint shared by many docs is dropped by the cap
    (candidates stay linear); pairs sharing rare fingerprints survive
    with containment over the capped sketch."""
    from asvsp_spark.operators.dedup import winnow_pairs
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, f"{shared} filler{i}a filler{i}b") for i in range(30)]
        + [(100, f"unique one two three {shared}"),
           (101, f"unique one two three {shared} tail")],
        "doc_id long, text string")
    capped = winnow_pairs(docs, threshold=0.4, max_df=10).collect()
    uncapped = winnow_pairs(docs, threshold=0.4, max_df=None).collect()
    # uncapped: the 30 boilerplate docs pair up quadratically
    assert len(uncapped) > len(capped)
    got = {(r.doc_a, r.doc_b) for r in capped}
    assert (100, 101) in got, "rare-fingerprint pair must survive the cap"
    assert not any(a < 100 and b < 100 for a, b in got), \
        "boilerplate-only pairs must be capped away"


def test_source_overlap_matrix_hand_computed(spark):
    """Three sources with known trigram sets: exact intersections and
    Jaccard, zero-overlap pairs present, and the hot-shingle cap
    undercounts only the capped shingle's contribution."""
    from asvsp_spark.operators.dedup import source_overlap_matrix
    docs = spark.createDataFrame(
        [
            # srcA: shingles {a b c, b c d} (two docs, one shared shingle)
            (0, "a b c d", "srcA"),
            (1, "a b c", "srcA"),
            # srcB: {a b c, x y z}
            (2, "a b c", "srcB"),
            (3, "x y z", "srcB"),
            # srcC: {p q r} — overlaps nobody
            (4, "p q r", "srcC"),
            (5, "p q", "srcC"),          # < n words: no shingles
        ],
        "doc_id long, text string, source string")
    got = {(r.source_a, r.source_b): r
           for r in source_overlap_matrix(docs, n=3).collect()}
    assert set(got) == {("srcA", "srcB"), ("srcA", "srcC"),
                        ("srcB", "srcC")}
    ab = got[("srcA", "srcB")]
    assert (ab.n_a, ab.n_b, ab.n_common) == (2, 2, 1)
    assert ab.jaccard == round(1 / 3, 6)
    ac = got[("srcA", "srcC")]
    assert (ac.n_common, ac.jaccard) == (0, 0.0)

    # cap=1 drops 'a b c' (carried by 2 sources) from candidate
    # generation: the A-B intersection undercounts to 0; sizes keep
    # the exact per-source set counts
    capped = {(r.source_a, r.source_b): r
              for r in source_overlap_matrix(
                  docs, n=3, max_sources_per_shingle=1).collect()}
    cab = capped[("srcA", "srcB")]
    assert (cab.n_a, cab.n_b, cab.n_common) == (2, 2, 0)

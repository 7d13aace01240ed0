"""IVF-PQ persistent index (operators/similarity.py
build_ivfpq_index / query_ivfpq_index): layout, exactness in the
degenerate full-probe/full-shortlist configuration, recall under real
pruning, and the two scan-pruning properties that make it the
billion-scale shape (partition pruning by cell, codes-only column
projection in the ADC stage)."""

import glob

import pytest
from pyspark.sql import functions as F

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _build(spark, tmp_path, **kw):
    from asvsp_spark.operators.similarity import build_ivfpq_index
    emb = spark.read.parquet(EMB)
    idx = str(tmp_path / "ivfpq")
    meta = build_ivfpq_index(emb, idx, **kw)
    return emb, idx, meta


def test_layout_and_meta(spark, tmp_path):
    emb, idx, meta = _build(spark, tmp_path, n_centroids=4, m=8,
                            k_codes=16)
    assert meta["n_centroids"] == 4
    assert glob.glob(f"{idx}/vectors/cell=*"), "cell-partitioned layout"
    stored = spark.read.parquet(f"{idx}/vectors")
    assert {"vec_id", "embedding", "codes", "cell"} <= set(stored.columns)
    assert stored.count() == meta["n_vectors"] == emb.count()
    cb = spark.read.parquet(f"{idx}/codebooks")
    assert cb.count() == 8 * 16


def test_full_probe_full_shortlist_is_exact(spark, tmp_path):
    """n_probe covering every cell + shortlist >= corpus reduces IVF-PQ
    to brute force: the rerank sees every candidate, so the result set
    must equal cosine_topk exactly."""
    from asvsp_spark.operators.similarity import (cosine_topk,
                                                  query_ivfpq_index)
    emb, idx, meta = _build(spark, tmp_path, n_centroids=4, m=8,
                            k_codes=64)
    n = emb.count()
    got = {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rnk"])
           for r in query_ivfpq_index(
               spark, idx, emb.filter(F.col("vec_id") < 10), k=5,
               n_probe=meta["n_centroids"], shortlist=n).collect()}
    exact = {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rnk"])
             for r in cosine_topk(emb, k=5, n_queries=10).collect()}
    assert got == exact


def test_pruned_recall_bound(spark, tmp_path):
    """Real pruning (half the cells probed, 50-candidate shortlist)
    keeps >= 60% of the exact top-5 on the fixture — the documented
    recall/scan-bytes trade."""
    from asvsp_spark.operators.similarity import (cosine_topk,
                                                  query_ivfpq_index)
    emb, idx, _ = _build(spark, tmp_path, n_centroids=4, m=8,
                         k_codes=64)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, k=5, n_queries=10).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in query_ivfpq_index(
               spark, idx, emb.filter(F.col("vec_id") < 10), k=5,
               n_probe=2, shortlist=50).collect()}
    assert len(got & exact) / len(exact) >= 0.6


def test_adc_stage_prunes_partitions_and_columns(spark, tmp_path):
    """The scale contract: the probed-cell filter must reach the file
    listing as a partition predicate, and the ADC scan must read ONLY
    (vec_id, codes) — never the fat embedding column."""
    _, idx, _ = _build(spark, tmp_path, n_centroids=4, m=8, k_codes=16)
    stored = spark.read.parquet(f"{idx}/vectors")
    adc_scan = (stored.filter(F.col("cell").isin([0, 1]))
                .select("vec_id", "codes"))
    plan = adc_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "codes" in read_schema and "embedding" not in read_schema


def test_cli_ann_build_query_pq_roundtrip(spark, tmp_path, capsys):
    """CLI: ann-build --pq persists the IVF-PQ layout; ann-query
    auto-detects the codebooks and routes through the ADC+rerank path."""
    from asvsp_spark.cli import main
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "topk")
    q_src = str(tmp_path / "queries")
    spark.read.parquet(EMB).filter(F.col("vec_id") < 5) \
        .write.parquet(q_src)
    assert main(["ann-build", EMB, idx, "--centroids", "4", "--pq",
                 "--pq-codes", "32"]) == 0
    assert "IVF-PQ" in capsys.readouterr().out
    assert main(["ann-query", idx, q_src, out, "--k", "3",
                 "--n-probe", "4", "--shortlist", "20"]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert set(got.columns) == {"query_id", "neighbor_id", "cos_sim",
                                "rnk"}


def _queries_32d(spark):
    """Two fixture vectors cut to 32 of their 64 dims."""
    return (spark.read.parquet(EMB).filter(F.col("vec_id") < 2)
            .select("vec_id", F.slice("embedding", 1, 32)
                    .alias("embedding")))


@pytest.mark.parametrize("pq", [False, True], ids=["ivf", "ivfpq"])
def test_index_query_rejects_dimension_mismatch(spark, tmp_path, pq):
    """A 32-d query against a 64-d index must raise, naming both
    dimensions. zip_with NULL-pads the shorter array, so an unguarded
    probe ranked every cell by a NULL distance and returned k rows per
    query, all with a NULL cos_sim and no error."""
    from asvsp_spark.operators.similarity import (build_ivf_index,
                                                  query_ivf_index,
                                                  query_ivfpq_index)
    if pq:
        _, idx, _ = _build(spark, tmp_path, n_centroids=4, m=8,
                           k_codes=16)
        query = query_ivfpq_index
    else:
        idx = str(tmp_path / "ivf")
        build_ivf_index(spark.read.parquet(EMB), idx, n_centroids=4)
        query = query_ivf_index
    with pytest.raises(Exception, match="query vector has 32 dims, "
                                        "index centroids have 64 dims"):
        query(spark, idx, _queries_32d(spark), k=3).collect()


def test_cli_ann_query_rejects_dimension_mismatch(spark, tmp_path):
    """ann-query fails on a query file of the wrong width instead of
    writing NULL-scored neighbor rows."""
    from asvsp_spark.cli import main
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "topk")
    q_src = str(tmp_path / "queries")
    _queries_32d(spark).write.parquet(q_src)
    assert main(["ann-build", EMB, idx, "--centroids", "4"]) == 0
    with pytest.raises(Exception, match="query vector has 32 dims"):
        main(["ann-query", idx, q_src, out, "--k", "3"])
    assert not glob.glob(f"{out}/*.parquet")

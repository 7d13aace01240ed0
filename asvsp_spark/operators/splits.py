"""Leakage-safe train/valid/test splitting: every document in the same
(near-)duplicate cluster lands in the SAME split. Plain row-hash splits
leak — a near-copy of a training document scores as "held out" while
being memorized verbatim — so production pipelines split by duplicate
CLUSTER, not by document (the same reason benchmark decontamination
exists; see operators/dedup.py decontaminate_report). Beyond-parity
extension; no reference analogue.

Split assignment is a pure function of the cluster id: the first two
hex chars of md5(cluster_id || salt) are compared against cumulative
weight boundaries in 256ths. md5-hex string comparison is the engine's
established cross-engine determinism primitive (sampling.py
sample_k_per_group uses the same trick for ordering), so EXACT split
membership is oracle-checkable, reproducible across runs, retries,
repartitions, and engines — an auditability requirement for training
data, not a nicety.

Scale shape: exact clustering is one window-min over the fingerprint
(single shuffle on a 16-byte key); near-dup clustering reuses
dedup_clusters (components over the pair list). The split expression
itself is narrow — each row decides locally from its cluster id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from asvsp_spark.functions.text import fingerprint

DEFAULT_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def split_expr(cluster_col: str, weights: dict[str, float] | None = None,
               salt: str = "split42") -> F.Column:
    """CASE expression mapping a cluster id to its split name: bucket =
    first 2 hex chars of md5(cluster || salt), boundaries = cumulative
    weights scaled to 256 buckets (so weights resolve in 1/256 steps)."""
    w = weights or DEFAULT_WEIGHTS
    names = list(w)
    if len(names) < 2:
        raise ValueError("need at least two splits")
    bad = {k: v for k, v in w.items() if not v > 0}
    if bad:
        # a negative weight makes the cumulative boundaries
        # non-monotonic (rows silently land in the preceding split);
        # a zero weight silently empties the split — both are caller
        # bugs, not resolvable policies
        raise ValueError(f"split weights must be > 0, got {bad}")
    total = sum(w.values())
    h2 = F.substring(
        F.md5(F.concat(F.col(cluster_col).cast("string"), F.lit(salt))),
        1, 2)
    expr = None
    acc = 0.0
    prev_bucket = 0
    for name in names[:-1]:
        acc += w[name] / total
        bucket = min(255, int(acc * 256))
        if bucket <= prev_bucket:
            # the 256-bucket resolution floor: a weight under ~1/256
            # truncates onto the previous boundary and the split would
            # be silently empty
            raise ValueError(
                f"split '{name}' resolves to an empty 1/256 bucket "
                f"range (weight {w[name]} too small next to the "
                "others); use coarser weights or fewer splits")
        prev_bucket = bucket
        bound = format(bucket, "02x")
        cond = h2 < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(names[-1])


def leakage_safe_split(documents: DataFrame, edges: DataFrame | None = None,
                       weights: dict[str, float] | None = None,
                       salt: str = "split42",
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, cluster_id, split) for every document.

    ``edges=None``: EXACT-duplicate clusters — cluster_id = min doc id
    per canonical fingerprint (window-min; fully SQL-expressible, the
    oracle-paired shape). With a near-dup pair list (jaccard_pairs /
    minhash_lsh_pairs / cosine_dup_pairs output): connected-component
    clusters via dedup_clusters, so near-copies can never straddle a
    split boundary either.
    """
    if edges is None:
        win = Window.partitionBy("fp")
        assigned = (
            documents
            .select(F.col(id_col).alias("doc_id"),
                    fingerprint(F.col(text_col)).alias("fp"))
            .withColumn("cluster_id", F.min("doc_id").over(win))
            .select("doc_id", "cluster_id"))
    else:
        from asvsp_spark.operators.components import dedup_clusters
        assigned = (dedup_clusters(documents, edges, id_col=id_col)
                    .select("doc_id", "cluster_id"))
    return assigned.withColumn("split", split_expr("cluster_id", weights,
                                                   salt))


def split_report(documents: DataFrame, edges: DataFrame | None = None,
                 weights: dict[str, float] | None = None,
                 salt: str = "split42",
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-split audit: document count and distinct duplicate-cluster
    count — the numbers a training run records next to its data hash.
    One partial-aggregated shuffle on the (tiny) split key."""
    return (
        leakage_safe_split(documents, edges, weights, salt, id_col, text_col)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.countDistinct("cluster_id").alias("n_clusters"))
    )

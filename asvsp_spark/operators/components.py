"""Connected components over a pair/edge list — the clustering step of a
dedup pipeline: near-dup PAIRS (jaccard_pairs, minhash_lsh_pairs,
cosine_dup_pairs) become dedup CLUSTERS, and min-id-per-cluster picks the
canonical document to keep. The reference has no graph/iterative
operator of any kind; this is the §7.5 extension family's capstone.

Algorithm: alternating large-star/small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14). Every
vertex ends up labeled with the min vertex id reachable from it, in
O(log n) rounds on ANY graph shape — a chain of n vertices included,
where min-label propagation would need n rounds. Deterministic (min is
order-independent), so the result is oracle-checkable (DuckDB
recursive-CTE reachability computes the same min). Vertex ids may be of
any orderable type: the steps compare ids with least/greatest and the
convergence test hashes them.

Scale notes (100TB): each round is two window shuffles of the edge
list, independent of the graph's diameter. Lineage is truncated every
round with localCheckpoint (on a cluster, configure
``spark.checkpoint.dir`` and use checkpoint() for fault tolerance —
without truncation the plan grows per round and the driver OOMs on
plan analysis long before data is the problem).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iter: int = 20) -> DataFrame:
    """(vertex, component) for every vertex appearing in ``edges``,
    self-loop-only vertices included; component = min vertex id
    reachable over undirected edges.

    Round shape: each star step attaches the per-key min with ONE
    window aggregate over the star key, so a step costs only the one
    exchange it fundamentally needs — two per round (guide §2.4). Both
    steps only ever connect vertices to smaller reachable ids, and at
    the fixpoint every non-root points directly at its component min.

    Raises after ``max_iter`` rounds without convergence — with
    alternating stars that means a bug, not a deep graph.
    """
    # canonical (min, max) pairs. Self-loops are kept here so that a
    # vertex seen only in (x, x) still gets its own row; the loop drops
    # them. An edge with a NULL endpoint connects nothing.
    canon = (
        edges.dropna(subset=[src, dst])
        .select(F.least(src, dst).alias("u"),
                F.greatest(src, dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_vertices = (canon.select(F.col("u").alias("vertex"))
                    .unionByName(canon.select(F.col("v").alias("vertex")))
                    .distinct()
                    .localCheckpoint(eager=True))
    cur = canon.filter(F.col("u") != F.col("v"))

    def checksum(df: DataFrame):
        # mod keeps each term < 2^30 so the ANSI-mode sum cannot overflow
        # a long before ~2^33 edges
        h = F.pmod(F.xxhash64("u", "v"), F.lit(1 << 30))
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(h).alias("h")).collect()[0]
        return (row["n"], row["h"])

    prev_sig = checksum(cur)
    for _ in range(max_iter):
        # LARGE-STAR: at each vertex u, connect all strictly larger
        # neighbors to m = min(neighbors(u) + {u}). m is a per-u
        # constant: a window min over the u-partitioning attaches it in
        # the ONE exchange this step needs.
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # no distinct here: small-star's window min is insensitive to
        # duplicate edges and ss dedups its own output — dropping the
        # mid-round Exchange saves one shuffle per round
        ls = (
            sym.withColumn(
                "m", F.least("u", F.min("v").over(Window.partitionBy("u"))))
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("u"),
                    F.greatest("v", "m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # SMALL-STAR: key each edge by its LARGER endpoint (ls is
        # canonical, u < v, so that is v; its neighbors are all
        # smaller); connect it and its non-min neighbors to the min
        joined = ls.withColumn(
            "m", F.min("u").over(Window.partitionBy("v")))
        ss = (
            joined.filter(F.col("u") != F.col("m"))
            .select(F.col("u"), F.col("m").alias("vv"))
            .unionByName(joined.select(F.col("v").alias("u"),
                                       F.col("m").alias("vv")))
            .select(F.least("u", "vv").alias("u"),
                    F.greatest("u", "vv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = checksum(ss)
        cur = ss
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds")
    # fixpoint edges are stars (min, x): direct component lookup
    labels = cur.select(F.col("v").alias("vertex"),
                        F.col("u").alias("component"))
    return (
        all_vertices.join(labels, "vertex", "left")
        .select("vertex", F.coalesce("component", "vertex").alias("component"))
    )


def dedup_clusters(documents: DataFrame, edges: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Cluster assignment for every document: near-dup cluster id (= min
    doc id in the component), cluster size, and whether this doc is the
    canonical keeper. Documents with no near-dup edge form singleton
    clusters of themselves.
    """
    cc = connected_components(edges)
    assigned = (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(cc, F.col("doc_id") == cc.vertex, "left")
        .select("doc_id",
                F.coalesce("component", "doc_id").alias("cluster_id"))
    )
    # one shuffle on cluster_id (window count) instead of the
    # groupBy + join-back pair; cluster cardinality per task is bounded
    # by the largest dedup cluster, same bound either formulation has
    w = Window.partitionBy("cluster_id")
    return (
        assigned
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select("doc_id", "cluster_id", "cluster_size",
                (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"))
    )

"""Similarity search over embedding columns: the brute-force cosine
top-k baseline, random-hyperplane LSH, and one trained vector quantizer.

Scale design (100TB / billions of vectors):
- Brute force is the correctness baseline: broadcast the (small) query
  set, scan the corpus once, per-partition partial top-k via window rank.
  Works at any corpus size as long as |queries| x k fits on the driver.
- The LSH paths bucket vectors by random-hyperplane sign sketches (plane
  matrix regenerated per Arrow batch inside a pandas UDF — deterministic
  across batches/executors/runs with no stored model); candidates only
  within matching buckets — sub-linear per query, recall < 1 by
  construction, with bands/planes as the recall/cost knobs.
  ``lsh_bucketed_topk`` derives its plane signs from md5, so DuckDB
  replays the sketch and the ``lsh_topk`` entry is oracle-paired; the
  near-dup pair fallback (``_cosine_pairs_lsh``) uses seeded numpy
  planes and is unit-tested only.
- The quantizer is exact-integer: vectors become micro-unit BIGINTs
  (``_to_micro_int``), coarse cells (``ivf_centroids``) and PQ
  codebooks (``pq_codebooks``) train by farthest-point seeding plus
  integer Lloyd steps over a bounded md5 sample, and ``assign_cells`` /
  ``pq_encode`` are row-local int64 argmin passes. Every stage is
  DuckDB-replayable, so ``ivf_topk``, ``pq_rerank_topk``,
  ``ivfpq_rerank_topk`` and ``semantic_dedup_report`` are
  oracle-paired. The persisted IVF / IVF-PQ index
  (``build_*_index`` / ``query_*_index``) and the incremental semantic
  store run the same stages from disk, so a persisted index returns
  exactly what the in-memory operator returns.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from asvsp_spark.functions.vectors import as_double, cosine, l2_norm
from asvsp_spark.plans.base import fanout, round_fixed
from asvsp_spark.sources.store import BatchStore, count_and_key


def embedding_stats(embeddings: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, dim, l2_norm) — cheap sanity scan, oracle-checkable."""
    v = as_double(F.col(vec_col))
    return embeddings.select(
        F.col(id_col),
        F.size(vec_col).alias("dim"),
        round_fixed(l2_norm(v), 6).alias("norm_l2"),
    )


def cosine_topk(embeddings: DataFrame, k: int = 5, n_queries: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k neighbors for the first n_queries vectors.

    The query side is tiny and explicitly broadcast; the corpus side
    streams through one scan — no shuffle of the corpus. Rank window
    partitions by query id (bounded cardinality).
    """
    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim",
                    round_fixed(cosine(as_double(F.col("q_vec")),
                                       as_double(F.col("c_vec"))), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def cosine_dup_pairs(embeddings: DataFrame, threshold: float = 0.45,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     n_blocks: int | None = None,
                     target_block: int = 2048,
                     max_exact: int = 2_000_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector leg of the dedup
    family): all (a, b) with a < b and cosine >= threshold.

    Execution — fully executor-side, nothing is materialized on the
    driver (r1 review flagged a driver ``toPandas`` collect here):

    - The corpus is hash-assigned to B id-blocks; every unordered block
      pair (bi <= bj) becomes one ``applyInPandas`` group whose pdf holds
      both blocks' rows (side-tagged), and the task multiplies the two
      matrices (vectorized BLAS matmul, not per-row Python). Each side is
      replicated ~(B+1)/2 times, so total shuffle is ~(B+1)x the corpus
      and task memory is bounded by 2 x target_block x dim doubles
      regardless of corpus size — the standard blocked all-pairs shape.
      B defaults to ceil(n / target_block), so block size (hence executor
      memory per task) stays constant as n grows while task count grows
      as B^2/2. (A cogroup formulation reads more naturally, but a
      self-cogroup of two projections of the SAME scan mis-binds the
      right side's columns to the left's expression ids — Spark's
      analyzer dedup — silently pruning the right side's data columns;
      the tagged-union single-group form has no dual-child ambiguity.)
    - Zero-norm vectors are kept with a guarded norm (sim contribution
      0), not NaN — they can never cross a positive threshold.
    - Past ``max_exact`` vectors the quadratic task count stops being
      the right trade, and the operator automatically reroutes to the
      sub-linear LSH candidate path (random-hyperplane buckets + exact
      cosine verification, recall < 1): at that scale exact all-pairs is
      a deliberate choice a caller must opt into by raising max_exact.
    """
    import numpy as np
    import pandas as pd

    n = embeddings.count()
    if n > max_exact:
        return _cosine_pairs_lsh(embeddings, threshold, id_col, vec_col, n=n)

    B = n_blocks or max(1, -(-n // target_block))
    blocked = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"))
    # side 0 owns block pairs (blk, bj >= blk); side 1 owns (bi <= blk, blk)
    a_rep = blocked.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("bj"),
        "vid", "vec", F.lit(0).alias("side"))
    b_rep = blocked.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        "vid", "vec", F.lit(1).alias("side"))
    tagged = a_rep.unionByName(b_rep)

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])

    def _mat(pdf):
        m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(norms > 0, norms, 1.0)

    def score_block_pair(key, pdf):
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cos_sim": pd.Series(dtype="float64")})
        a_ids = left["vid"].to_numpy()
        b_ids = right["vid"].to_numpy()
        sims = _mat(left) @ _mat(right).T
        if key[0] == key[1]:
            # diagonal group: both sides are the same block — order by id
            # so each unordered pair is emitted exactly once
            rows_i, cols_j = np.nonzero(
                (sims >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            id_a, id_b = a_ids[rows_i], b_ids[cols_j]
        else:
            # off-diagonal: sides are disjoint blocks (every pair appears
            # in exactly one group) but hash blocking doesn't respect id
            # order — canonicalize to (min, max)
            rows_i, cols_j = np.nonzero(sims >= threshold)
            id_a = np.minimum(a_ids[rows_i], b_ids[cols_j])
            id_b = np.maximum(a_ids[rows_i], b_ids[cols_j])
        return pd.DataFrame({
            "id_a": id_a.astype("int64"),
            "id_b": id_b.astype("int64"),
            "cos_sim": np.round(sims[rows_i, cols_j], 6),
        })

    return (
        tagged.groupby("bi", "bj")
        .applyInPandas(score_block_pair, out_schema)
    )


def _cosine_pairs_lsh(embeddings: DataFrame, threshold: float,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n: int | None = None,
                      bands: int = 8, rows_per_band: int | None = None,
                      max_bucket: int | None = 500,
                      target_bucket: int = 32) -> DataFrame:
    """Sub-linear near-dup pair path for corpora past the exact-all-pairs
    budget: the banded random-hyperplane twin of ``minhash_lsh_pairs``.

    Shape (mirrors the MinHash band join, ``dedup.py``):

    - Sketch: ``bands x rows_per_band`` sign bits per vector from a
      seeded numpy ``default_rng`` plane matrix regenerated per Arrow
      batch (deterministic, no stored model). Each band's bit-slice
      becomes one band key, so a pair collides if ANY band matches —
      collision prob 1-(1-p^r)^b with p = 1 - theta/pi, tuned for the
      high-similarity (near-dup) regime this path serves.
    - ``rows_per_band`` scales with the corpus: r = log2(n /
      target_bucket) clamped to [8, 24], keeping the EXPECTED bucket near
      ``target_bucket`` (~32: candidate volume ~ bands * target_bucket/2
      per vector — linear in n with a small constant) instead of the
      fixed 2^8 buckets that made the old formulation quadratic exactly
      past the 2M-vector reroute point.
    - Hot-bucket cap: band buckets holding more than ``max_bucket``
      vectors are dropped before the self-join (k^2 candidates otherwise)
      — same guard and same recall caveat as the MinHash path: giant
      duplicate cliques surface through their other bands.
    - Exact cosine verifies every candidate (vectors joined back by id,
      linear shuffles), so there are no false positives; recall < 1 by
      design and the operator is registered rows-only.
    """
    if n is None:
        n = embeddings.count()
    if rows_per_band is None:
        import math
        rows_per_band = max(8, min(24, math.ceil(
            math.log2(max(2.0, n / max(1, target_bucket))))))
    sketched = embeddings.select(
        F.col(id_col).alias("vid"),
        F.explode(_hyperplane_band_keys(
            vec_col, bands, rows_per_band)).alias("band_key"))
    cand = _lsh_band_candidates(sketched, max_bucket)
    vecs = embeddings.select(F.col(id_col).alias("vid"),
                             F.col(vec_col).alias("vec"))
    va = vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos_sim",
                    round_fixed(cosine(as_double(F.col("vec_a")),
                                       as_double(F.col("vec_b"))), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _lsh_band_candidates(sketched: DataFrame,
                         max_bucket: int | None) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from an exploded
    (vid, band_key) table, with buckets larger than ``max_bucket``
    dropped before the self-join — the band-join hot-key guard shared
    with ``minhash_lsh_pairs`` (dedup.py). Factored out so the
    giant-bucket unit test can assert candidate counts directly."""
    buckets = sketched
    if max_bucket is not None:
        cold = (buckets.groupBy("band_key")
                .agg(F.count(F.lit(1)).alias("bsz"))
                .filter(F.col("bsz") <= max_bucket)
                .select("band_key"))
        buckets = buckets.join(cold, "band_key", "left_semi")
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.vid") < F.col("b.vid")))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )


def _hyperplane_band_keys(vec_col_name: str, bands: int, rows_per_band: int,
                          seed: int = 7) -> F.Column:
    """``bands`` band keys per vector as ARRAY<LONG>, Arrow-vectorized:
    one (n, dim) x (dim, bands*rows_per_band) matmul per batch, each
    band's bit-slice packed as band_index * 2^r + bits (disjoint key
    spaces across bands). The +-1 plane matrix is regenerated per batch
    from the fixed seed — deterministic everywhere, no stored model.

    NULL / ragged / non-finite embeddings yield a NULL key array (the
    explode drops them): degenerate vectors can never cross a positive
    cosine threshold, matching the exact path's zero-norm guard."""
    total = bands * rows_per_band

    @F.pandas_udf("array<long>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        import numpy as np
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        arrs = [np.asarray(v, dtype=np.float64)
                if v is not None else None for v in vecs]
        dim = next((a.shape[0] for a in arrs
                    if a is not None and a.ndim == 1 and a.shape[0] > 0), None)
        out = [None] * len(arrs)
        if dim is None:
            return pd.Series(out, dtype="object")
        valid = [i for i, a in enumerate(arrs)
                 if a is not None and a.ndim == 1 and a.shape[0] == dim
                 and np.isfinite(a).all()]
        if valid:
            m = np.stack([arrs[i] for i in valid])
            planes = (np.random.default_rng(seed)
                      .choice(np.array([-1.0, 1.0]), size=(dim, total)))
            bits = (((m @ planes) > 0.0).astype(np.int64)
                    .reshape(len(valid), bands, rows_per_band))
            w = np.int64(1) << np.arange(rows_per_band, dtype=np.int64)
            base = np.int64(1) << np.int64(rows_per_band)
            keys = ((bits * w).sum(axis=2)
                    + np.arange(bands, dtype=np.int64) * base)
            for j, i in enumerate(valid):
                out[i] = [int(kk) for kk in keys[j]]
        return pd.Series(out, dtype="object")

    return band_keys(F.col(vec_col_name))


def _hyperplane_sketch(vec_col_name: str, n_planes: int = 8) -> F.Column:
    """Random-hyperplane sign sketch as one LONG, Arrow-vectorized: each
    batch is one (n, dim) x (dim, n_planes) matrix multiply in numpy,
    sign bits packed into the result long. The +-1 Rademacher plane
    matrix is derived per entry from md5(plane|dim)'s low bit (the
    dedup family's md5-slice construction), regenerated per batch
    (dim x n_planes hashes — negligible): deterministic across batches,
    executors, runs AND engines — DuckDB reproduces the identical
    sketch with ('0x'||substr(md5(j||'|'||d),1,8))::BIGINT & 1, which
    is what makes lsh_topk oracle-checkable. Rademacher signs satisfy
    the same sign-LSH collision bound as Gaussian planes
    (P[collision] = 1 - angle/pi holds approximately; Achlioptas 2001
    for the projection quality).

    An expression-level formulation (aggregate/zip_with/transform with a
    per-element hash) computes the same thing but is interpreted
    per-element by Catalyst: ~3x slower on the sf0.1 fixture and growing
    with dimension; the batched matmul is the scale path.

    NULL / ragged / non-finite embeddings map to sentinel bucket 0
    instead of raising inside the Python worker (the rest of the
    similarity family tolerates degenerate vectors; the sketch must
    too)."""

    @F.pandas_udf("long")
    def sketch(vecs: pd.Series) -> pd.Series:
        import numpy as np
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        arrs = [np.asarray(v, dtype=np.float64)
                if v is not None else None for v in vecs]
        dim = next((a.shape[0] for a in arrs
                    if a is not None and a.ndim == 1 and a.shape[0] > 0), None)
        vals = np.zeros(len(arrs), dtype=np.int64)
        if dim is not None:
            valid = [i for i, a in enumerate(arrs)
                     if a is not None and a.ndim == 1 and a.shape[0] == dim
                     and np.isfinite(a).all()]
            if valid:
                import hashlib
                m = np.stack([arrs[i] for i in valid])
                planes = np.array(
                    [[1.0 if int(hashlib.md5(f"{j}|{d}".encode())
                                 .hexdigest()[:8], 16) & 1 else -1.0
                      for j in range(n_planes)] for d in range(dim)])
                bits = (m @ planes) > 0.0
                vv = (bits.astype(np.int64)
                      << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
                vals[valid] = vv
        return pd.Series(vals)

    return sketch(F.col(vec_col_name))


def lsh_bucketed_topk(embeddings: DataFrame, k: int = 5, n_queries: int = 10,
                      n_planes: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: random-hyperplane sign LSH buckets, cosine only
    within the query's bucket (plus Hamming-1 probes via per-bit flips).
    Sub-linear: each query scores only its bucket's members.
    """
    sketched = embeddings.select(
        F.col(id_col), F.col(vec_col),
        _hyperplane_sketch(vec_col, n_planes).alias("bucket"))
    q = sketched.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        F.col("bucket").alias("q_bucket"))
    # multi-probe: exact bucket + all Hamming-1 neighbors of the sketch
    probes = q.select(
        "query_id", "q_vec",
        F.explode(F.array(
            F.col("q_bucket"),
            *[F.col("q_bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )).alias("bucket"))
    c = sketched.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "bucket")
    scored = (
        c.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_sim",
                    round_fixed(cosine(as_double(F.col("q_vec")),
                                       as_double(F.col("c_vec"))), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def quantize_int8(embeddings: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x| / 127,
    q_i = round(x_i / scale) clamped to [-127, 127]. The 4x storage/
    bandwidth reduction every billion-vector store takes before anything
    else; dot products on int8 with a per-vector scale reconstruct
    cosine to ~1e-2, which the IVF/LSH candidate stages don't notice
    (exact rescoring happens on the shortlist anyway).

    Pure column expressions (transform over the array) — quantization is
    a scan-speed map, no shuffle. Zero vectors get scale=0 and an all-
    zero code (guarded division).
    """
    x = as_double(F.col(vec_col))
    amax = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = amax / F.lit(127.0)
    q = F.when(
        amax > 0,
        F.transform(x, lambda v:
                    F.greatest(F.lit(-127),
                               F.least(F.lit(127),
                                       F.round(v / scale, 0).cast("int"))))
    ).otherwise(F.transform(x, lambda v: F.lit(0)))
    return embeddings.select(
        F.col(id_col),
        q.alias("q8"),
        round_fixed(scale, 9).alias("scale"))


IVF_SEED_SALT = "ivfseed"
IVF_QUANT_SCALE = 1_000_000      # micro-unit quantization for training
IVF_LLOYD_ITERS = 2


def _to_micro_int(vec_col: str) -> F.Column:
    """round(x * IVF_QUANT_SCALE) cast to BIGINT — THE cross-engine
    quantization contract (oracle mirror: ``CAST(round(x * 1000000) AS
    BIGINT)``). Every ANN/semantic operator and the persisted index
    must use this single definition: one engine changing scale or
    rounding breaks only its own hash pairing, silently."""
    return F.transform(
        as_double(F.col(vec_col)),
        lambda x: F.round(x * IVF_QUANT_SCALE, 0).cast("long"))


def _with_micro(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, v): the vectors beside their micro-unit integers."""
    return df.select(F.col(id_col), F.col(vec_col),
                     _to_micro_int(vec_col).alias("v"))


def _queries(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, q_vec, q_v): the query side of every top-k search."""
    return df.select(F.col(id_col).alias("query_id"),
                     F.col(vec_col).alias("q_vec"),
                     _to_micro_int(vec_col).alias("q_v"))


def _empty_topk(embeddings: DataFrame, id_col: str) -> DataFrame:
    """The top-k output contract with no rows (empty corpus)."""
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return embeddings.sparkSession.createDataFrame(
        [], f"query_id {id_type}, neighbor_id {id_type}, "
            "cos_sim double, rnk int")


def _md5_sample_gate(emb: DataFrame, n: int, target: int,
                     id_col: str) -> DataFrame:
    """Bounded-training sample gate shared by every integer-quantizer
    caller (oracle mirror: the ``pp`` CTE — fires at n > 2*target,
    denom = max(2, n // target), md5-slice pmod). md5, not xxhash64:
    the hash must be DuckDB-reproducible."""
    from asvsp_spark.plans.base import md5_slice_long

    if n > 2 * target:
        denom = max(2, n // target)
        return emb.filter(
            F.pmod(md5_slice_long(F.col(id_col).cast("string")),
                   F.lit(denom)) == 0)
    return emb


def _exact_cosine_rerank(emb: DataFrame, q: DataFrame, short: DataFrame,
                         k: int, id_col: str,
                         vec_col: str) -> DataFrame:
    """Shared rerank tail of pq_rerank_topk / ivfpq_rerank_topk /
    query_ivfpq_index:
    fetch original vectors for only the queries×shortlist ids via
    broadcast semi-join and rank by exact cosine (round_fixed 6) —
    cosine_topk's output contract (query_id, neighbor_id, cos_sim,
    rnk)."""
    cand = (emb.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("n_vec"))
            .join(F.broadcast(short), "neighbor_id")
            .join(F.broadcast(q.select("query_id", "q_vec")), "query_id")
            .withColumn("cos_sim",
                        round_fixed(cosine(as_double(F.col("q_vec")),
                                           as_double(F.col("n_vec"))), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (cand.withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rnk"))


# int64 headroom for the ||v||^2 - 2 v.c + ||c||^2 identity: with
# |v_i| <= M every term's magnitude is bounded by dim * (2M)^2
# (||v-c||^2 itself, and |nV - 2 v.c| <= 3*dim*M^2 < dim*(2M)^2), so
# the guard is DIMENSION-AWARE — a fixed component cap tuned for
# dim=64 would let a 512-dim corpus wrap silently. We keep ~60%
# headroom under the 2^63 wrap point (at dim=64 this admits exactly
# the historical |x| <= 1.5e8 micro-unit / raw |x| <= 150 envelope).
# The guard must be LOUD: numpy int64 WRAPS silently on overflow while
# the DuckDB twin's list_sum promotes to HUGEINT — out-of-range
# embeddings would hash-mismatch instead of erroring.
_INT_HEADROOM = (2 ** 63) * 5 // 8


def _check_int_vec_range(V, where: str) -> None:
    import numpy as np

    if not len(V):
        return
    m = int(np.abs(V).max())
    dim = int(V.shape[1]) if getattr(V, "ndim", 1) == 2 else int(len(V))
    # python ints are unbounded, so the check itself cannot wrap
    if m and dim * (2 * m) ** 2 > _INT_HEADROOM:
        raise ValueError(
            f"{where}: dim={dim} micro-unit vectors with max "
            f"component {m} overflow the exact-int64 distance identity "
            f"(need dim*(2*max)^2 <= {_INT_HEADROOM}) — numpy wraps "
            "silently; the SQL twin promotes to HUGEINT, so results "
            "would silently diverge. Rescale the embeddings or lower "
            "IVF_QUANT_SCALE.")


def assign_cells(emb_int: DataFrame, cents_rows,
                 id_col: str = "vec_id") -> DataFrame:
    """(id, cell) — exact-int64 numpy argmin of every vector against
    the collected centroid matrix, the scale path for full-corpus
    assignment. The crossJoin + interpreted zip_with formulation
    evaluates the 64-dim distance lambda per (row, centroid) PAIR
    outside codegen — measured 22× at 40k vectors × 200 cells on the
    20× probe; this Arrow pass is one row-local batch natively
    vectorized in int64, no shuffle, the k×dim centroid tensor shipped
    by closure. Ties → lower cell: centroids are compacted 0..k-1 so
    np.argmin's first-hit IS the lowest cell id, matching the oracle's
    ORDER BY d2, cell."""
    import numpy as np

    C = np.array([r["c"] for r in sorted(cents_rows,
                                         key=lambda r: r["cell"])],
                 dtype=np.int64)
    nC = (C * C).sum(axis=1)
    id_type = emb_int.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            V = np.array(pdf["v"].tolist(), dtype=np.int64)
            if len(V) == 0:
                continue
            _check_int_vec_range(V, "assign_cells")
            # exact int64 identity ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2
            # (integer matmul is exact; the (batch, k, dim) broadcast-
            # subtract allocated ~1 GB per 10k-row batch)
            nV = (V * V).sum(axis=1)
            d2 = nV[:, None] - 2 * (V @ C.T) + nC[None, :]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "cell": d2.argmin(axis=1).astype("int32")})

    return emb_int.select(id_col, "v").mapInPandas(
        run, schema=f"{id_col} {id_type}, cell int")


def _adc_lut(q: DataFrame, cb: DataFrame, d_sub: int) -> DataFrame:
    """Exact-BIGINT ADC lookup table: per (query, sub, code) squared
    distance of the query's subvector against the broadcast integer
    codebooks (queries × m × k rows, tiny)."""
    return (q.crossJoin(F.broadcast(cb))
            .withColumn("d_part", _int_sq_dist(
                F.slice("q_v", F.col("sub") * d_sub + 1, d_sub),
                F.col("c")))
            .select("query_id", "sub", "code", "d_part"))


def _int_sq_dist(v_col: F.Column, c_col: F.Column) -> F.Column:
    """Exact BIGINT squared euclidean distance between two micro-unit
    integer vectors (diff^2 ~ 1e12 x 64 dims ~ 6e13 — far inside
    signed-64; the fold is left-to-right in BOTH engines but with pure
    integer terms the order could not matter anyway)."""
    return F.aggregate(
        F.zip_with(v_col, c_col, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def _round_half_away(s: int, n: int) -> int:
    """round(s / n) with HALF AWAY FROM ZERO in pure integer arithmetic
    (python round() is banker's; this must match the integer formula
    the DuckDB oracle evaluates — no IEEE quotient anywhere, so the
    .5 boundary can never drift an ulp between engines)."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((-2 * s + n) // (2 * n))


def ivf_centroids(train_int: DataFrame, kc: int,
                  iters: int = IVF_LLOYD_ITERS,
                  id_col: str = "vec_id",
                  max_train_rows: int = 250_000) -> DataFrame:
    """Deterministic, cross-engine-EXACT coarse quantizer over
    micro-unit integer vectors: farthest-point seeding (Gonzalez 1985
    — seed 1 = md5-rank-smallest id, each next seed maximizes the
    minimum exact BIGINT squared distance to the chosen set, ties to
    the smaller id; measured +12pt recall over hash-random seeds on
    the fixture) followed by ``iters`` Lloyd steps (assign by exact
    integer distance, ties to the lower cell; centroid = exact-integer
    round-half-away-from-zero of sum/count). EVERY operation is
    integer arithmetic, so a DuckDB oracle (recursive CTE for the
    sequential seeding — the packing_best_fit_bins replay pattern —
    plus unrolled Lloyd CTEs) reproduces the trained centroids
    bit-identically, which a float k-means (random init, double-sum
    means) cannot give. Input: (id_col, v array<long>); output:
    (cell int, c array<long>). Cells that lose every member in a Lloyd
    step drop (both engines identically).

    Training runs DRIVER-SIDE in numpy over the collected sample:
    farthest-point selection is inherently sequential (kc dependent
    steps), and the caller bounds the sample to ~40*kc rows, so the
    collect is a bounded, guarded scalar-class materialization (loud
    raise past ``max_train_rows``), never the corpus. Assignment of
    the actual corpus stays fully distributed (``assign_cells``)."""
    spark = train_int.sparkSession
    ids, V = _collect_train_sample(train_int, id_col, max_train_rows,
                                   "ivf_centroids")
    if not ids:
        return spark.createDataFrame([], schema="cell int, c array<long>")
    C = _train_int_kmeans(ids, V, kc, iters)
    return spark.createDataFrame(
        [(c, [int(x) for x in C[c]]) for c in range(len(C))],
        schema="cell int, c array<long>")


def _train_cells(emb: DataFrame, n: int, kc: int,
                 id_col: str) -> DataFrame:
    """``ivf_centroids`` over the md5 training sample (~40 vectors per
    cell) of ``emb``'s (id, v) — the coarse training of every IVF
    operator, the persisted index and both semantic dedups."""
    return ivf_centroids(
        _md5_sample_gate(emb, n, 40 * kc, id_col).select(id_col, "v"),
        kc, id_col=id_col)


def _collect_train_sample(train_int: DataFrame, id_col: str,
                          max_train_rows: int, caller: str):
    """Bounded driver-side materialization of a (id, v array<long>)
    training frame. The size guard bounds the materialization itself,
    not follows it: limit(max+1) caps what can ever reach the driver,
    and seeing exactly max+1 rows proves the input exceeded the cap."""
    import numpy as np

    sample = train_int.select(F.col(id_col).alias("i"), "v")
    # driver-ok: bounded training sample (~40*k rows, limit-capped)
    rows = sample.limit(max_train_rows + 1).collect()
    if len(rows) > max_train_rows:
        raise ValueError(
            f"{caller}: training sample has {len(rows)} rows "
            f"(max_train_rows={max_train_rows}) — the driver-side "
            "quantizer needs a bounded sample; lower the sample target "
            "or pass a smaller centroid/code count")
    if not rows:
        return [], None
    ids = [r["i"] for r in rows]
    V = np.array([r["v"] for r in rows], dtype=np.int64)
    return ids, V


def _train_int_kmeans(ids: list, V, kc: int, iters: int):
    """The numpy core shared by ivf_centroids and pq_codebooks:
    farthest-point seeding from the md5-rank-smallest id + ``iters``
    exact-integer Lloyd steps over already-collected (ids, V int64)
    training rows. Returns the (<= kc, dim) int64 centroid matrix —
    empty clusters drop (compacted labels; only the RELATIVE code order
    matters downstream, which compaction preserves)."""
    import hashlib

    import numpy as np

    kc = min(kc, len(ids))

    def hk(i) -> int:
        return int(hashlib.md5(
            f"{i}|{IVF_SEED_SALT}".encode()).hexdigest()[:8], 16)

    # all distances via the exact int64 identity ||v-c||^2 =
    # ||v||^2 - 2 v.c + ||c||^2: numpy integer matmul is exact (no
    # float path) and avoids the (n, k, dim) broadcast-subtract
    # temporary that dominated training at 8k x 200 x 64 (~820 MB per
    # Lloyd step, measured ~20 s; the matmul form is ~1 s).
    _check_int_vec_range(V, "_train_int_kmeans")
    nV = (V * V).sum(axis=1)

    # farthest-point seeding — exact integer min-distances throughout
    start = min(range(len(ids)), key=lambda j: (hk(ids[j]), ids[j]))
    chosen = [start]
    d = nV - 2 * (V @ V[start]) + nV[start]
    for _ in range(kc - 1):
        cand = np.flatnonzero(d == d.max())
        j = int(cand[min(range(len(cand)), key=lambda t: ids[cand[t]])])
        chosen.append(j)
        d = np.minimum(d, nV - 2 * (V @ V[j]) + nV[j])
    C = V[chosen].copy()

    for _ in range(iters):
        nC = (C * C).sum(axis=1)
        d2 = nV[:, None] - 2 * (V @ C.T) + nC[None, :]
        assign = d2.argmin(axis=1)          # ties -> lower cell (argmin)
        nxt = []
        for c in range(len(C)):
            m = assign == c
            if not m.any():
                continue                    # empty cell drops
            s = V[m].sum(axis=0, dtype=np.int64)
            n = int(m.sum())
            nxt.append([_round_half_away(int(x), n) for x in s])
        C = np.array(nxt, dtype=np.int64)
    return C


def _probe_cells(q: DataFrame, cents: DataFrame, n_probe: int,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """(query_id, *carry, cell): each query's ``n_probe`` nearest cells
    of the broadcast centroid table by the quantizer's own exact
    integer metric, ties to the lower cell. ``q`` carries (query_id,
    q_v) and the ``carry`` columns.

    A query whose dimension differs from the centroids' raises:
    zip_with NULL-pads a length mismatch, which would silently rank
    every cell by a NULL distance and return NULL cosines."""
    q_dim, c_dim = F.size("q_v"), F.size("c")
    d2 = F.when(q_dim == c_dim, _int_sq_dist(F.col("q_v"), F.col("c"))
                ).otherwise(F.raise_error(F.concat(
                    F.lit("ANN index query: query vector has "),
                    F.coalesce(q_dim.cast("string"), F.lit("NULL")),
                    F.lit(" dims, index centroids have "),
                    F.coalesce(c_dim.cast("string"), F.lit("NULL")),
                    F.lit(" dims"))))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("cell"))
    return (q.crossJoin(F.broadcast(cents))
            .withColumn("d2", d2)
            .withColumn("pr", F.rank().over(w_probe))
            .filter(F.col("pr") <= n_probe)
            .select("query_id", *carry, "cell"))


def _probed_topk(vectors: DataFrame, probes: DataFrame, k: int,
                 id_col: str, vec_col: str) -> DataFrame:
    """Exact cosine top-k of each query over the members of its probed
    cells — the IVF scan of ivf_topk and query_ivf_index. ``vectors``
    carries (id, vec, cell), ``probes`` (query_id, q_vec, cell). Ties
    (cos_sim DESC, id ASC) like every top-k in the engine."""
    scored = (
        vectors.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cos_sim",
                    round_fixed(cosine(as_double(F.col("q_vec")),
                                       as_double(F.col(vec_col))), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col))
    return (scored.withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", F.col(id_col).alias("neighbor_id"),
                    "cos_sim", "rnk"))


def ivf_topk(embeddings: DataFrame, k: int = 5, n_queries: int = 10,
             n_centroids: int | None = None, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) approximate top-k: a trained coarse
    quantizer (deterministic integer Lloyd, ``ivf_centroids``), exact
    cosine only inside the n_probe nearest centroid cells.

    The second scale path beside LSH (lsh_bucketed_topk): a TRAINED
    partition of the vector space instead of random hyperplanes — cells
    adapt to the data distribution, so the same probe budget buys higher
    recall on clustered corpora.

    Oracle-paired: training quantizes vectors to micro-unit integers,
    seeds by farthest-point traversal from the md5-rank-smallest id and
    runs exactly IVF_LLOYD_ITERS assign/mean iterations in exact
    integer arithmetic, so cell assignment, the probe ranking AND the
    final cosine top-k are all DuckDB-reproducible — recall vs
    cosine_topk stays < 1 by design, but the output is deterministic
    and hash-checkable. ``query_ivf_index`` over ``build_ivf_index``
    returns exactly this operator's rows (tested).

    Scale shape (billions of vectors): training runs on a bounded
    deterministic md5-hash sample (~40 vectors/centroid — the standard
    IVF practice: centroids from a sample, assignment over everything);
    full-corpus cell assignment is one row-local Arrow argmin pass
    (``assign_cells``, no shuffle of the corpus); the probe list per
    query is (query x centroid) — tiny — and the candidate scan touches
    only the probed cells' members via a broadcast join on the cell id.
    n_centroids defaults to sqrt(N) (cell size ~ sqrt(N) keeps scan
    cost ~ n_probe*sqrt(N)).

    With n_probe >= n_centroids every cell is probed and the result is
    EXACTLY cosine_topk whatever the quantizer (tested; that full-probe
    twin shares cosine_topk's oracle).
    """
    # cache + explicit unpersist, NOT
    # localCheckpoint: checkpoint blocks are only released at driver GC,
    # so repeated invocations in one session (bench, test suites) would
    # pin two corpus copies each in executor storage
    emb = _with_micro(embeddings, id_col, vec_col).cache()
    n = emb.count()
    if n == 0:
        # empty corpus: no centroids to train, and assign_cells with an
        # empty centroid list would AxisError on the driver
        emb.unpersist()
        return _empty_topk(embeddings, id_col)
    kc = n_centroids or max(2, int(n ** 0.5))
    cents = _train_cells(emb, n, kc, id_col)
    # driver-ok: kc centroid rows
    argmin = assign_cells(emb, cents.collect(), id_col=id_col)
    assigned = (emb.join(argmin, id_col)
                .select(F.col(id_col), F.col(vec_col), "cell")
                .localCheckpoint(eager=True))
    emb.unpersist()   # assigned is materialized; don't leak storage

    q = _queries(assigned.filter(F.col(id_col) < n_queries), id_col,
                 vec_col)
    probes = _probe_cells(q, cents, n_probe, carry=("q_vec",))
    return _probed_topk(assigned, probes, k, id_col, vec_col)


def semantic_dedup(embeddings: DataFrame, threshold_num: int = 9,
                   threshold_den: int = 10,
                   n_cells: int | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_keep_refs: int = 10_000) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning (Abbas et al.,
    "SemDeDup", arXiv:2303.09540 — public method): trained cells as the
    blocking stage, greedy within-cell cosine pruning as the decision
    stage. Returns one row per vector: (id, cell, is_keeper).

    Decision rule (deterministic, matching the dedup family's min-id
    keeper convention): scan each cell in ascending id order; a vector
    is DROPPED iff its cosine to some already-KEPT vector of the cell
    reaches the RATIONAL threshold num/den, evaluated without ever
    computing a cosine:

        cos(x, y) >= num/den
        <=>  dot > 0  AND  den^2 * dot^2 >= num^2 * |x|^2 * |y|^2

    on micro-unit integer vectors — exact BIGINT dots, exact
    arbitrary-precision squares (python ints here, HUGEINT in the
    DuckDB twin), no float anywhere in the decision. Zero vectors have
    dot = 0 against everything and are always kept. Cells come from the
    deterministic integer quantizer (``ivf_centroids`` — the
    ivf_topk machinery, DuckDB-replayable training + argmin
    assignment). Cross-cell near-duplicates are missed by construction
    — the standard blocking trade, with cells trained on the data
    instead of random hyperplanes (see `_cosine_pairs_lsh` for the
    untrained alternative).

    Scale shape (billions of vectors): bounded md5-sample training
    (~40 vectors per cell), one broadcast-argmin assignment pass, one
    shuffle on the cell id into an applyInPandas whose per-cell work is
    an exact int64 numpy dot against the kept-reference prefix. Cell
    size ~ sqrt(N) by default; ``max_keep_refs`` caps the kept
    reference set per cell so one pathological mega-cell cannot go
    quadratic — vectors past the cap compare against the first
    ``max_keep_refs`` keepers only (documented recall cap)."""
    import numpy as np

    emb = embeddings.select(F.col(id_col),
                            _to_micro_int(vec_col).alias("v"))
    n = emb.count()
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, cell int, is_keeper boolean"
    if not n:
        return embeddings.sparkSession.createDataFrame([], out_schema)
    cents = _train_cells(emb, n, n_cells or max(2, int(n ** 0.5)), id_col)
    # driver-ok: kc centroid rows
    assigned = emb.join(assign_cells(emb, cents.collect(), id_col=id_col),
                        id_col)

    tn2 = threshold_num * threshold_num
    td2 = threshold_den * threshold_den
    t = threshold_num / threshold_den

    def prune(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        V = np.asarray(pdf["v"].tolist(), dtype=np.int64)
        _check_int_vec_range(V, "semantic_dedup")
        nsq = [int(x) for x in (V * V).sum(axis=1)]
        buf = np.empty((min(len(pdf), max_keep_refs), V.shape[1]),
                       dtype=np.int64)
        ref_nsq: list[int] = []
        n_ref = 0
        keep = np.zeros(len(pdf), dtype=bool)
        for i in range(len(pdf)):
            dropped = False
            if n_ref:
                dots = buf[:n_ref] @ V[i]      # exact int64 (~1e16 max)
                # float prefilter with a guard band so the exact
                # arbitrary-precision test runs only near the boundary:
                # micro-unit dots reach ~1e18 >> 2^53 so the int64 →
                # double conversion is NOT exact, but its relative
                # error (plus sqrt/divide) totals ~1e-15 — six orders
                # of magnitude inside the 1e-9 band, so no pair can be
                # misclassified past the band. The interpreted big-int
                # loop is O(boundary pairs), not O(all pairs)
                rn = np.array(ref_nsq[:n_ref], dtype=np.float64)
                # 0/0 -> nan on zero-norm vectors; nan compares False
                # everywhere below, i.e. "no conflict" — the exact
                # rule's dot > 0 can never hold against a zero vector
                with np.errstate(invalid="ignore", divide="ignore"):
                    c = dots / np.sqrt(rn * float(nsq[i]))
                if np.any(c >= t + 1e-9):
                    dropped = True
                else:
                    for j in np.flatnonzero(c >= t - 1e-9):
                        d = int(dots[j])
                        if (d > 0
                                and td2 * d * d
                                >= tn2 * ref_nsq[j] * nsq[i]):
                            dropped = True
                            break
            keep[i] = not dropped
            if not dropped and n_ref < buf.shape[0]:
                buf[n_ref] = V[i]
                ref_nsq.append(nsq[i])
                n_ref += 1
        return pd.DataFrame({
            id_col: pdf[id_col], "cell": pdf["cell"].astype("int32"),
            "is_keeper": keep})

    return assigned.groupBy("cell").applyInPandas(prune, out_schema)


def semantic_dedup_report(embeddings: DataFrame, threshold_num: int = 9,
                          threshold_den: int = 10,
                          n_cells: int | None = None,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Per-cell pruning audit over :func:`semantic_dedup`: vectors
    seen, keepers, drop fraction — one partial-aggregated shuffle over
    the (bounded) cell key. drop_frac is the only float: one
    small-integer division rounded once, stable cross-engine."""
    return (
        semantic_dedup(embeddings, threshold_num, threshold_den,
                       n_cells, id_col, vec_col)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             F.sum(F.col("is_keeper").cast("int")).alias("n_keepers"),
             F.min(id_col).alias("first_id"))
        .withColumn("drop_frac",
                    round_fixed(1 - F.col("n_keepers") / F.col("n_vectors"),
                                6))
    )


def incremental_semantic_dedup(spark, new_docs: DataFrame, store_path: str,
                               threshold: float = 0.95,
                               n_cells: int | None = None,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               max_keep_refs: int = 10_000):
    """Embedding-space member of the incremental dedup family
    (dedup.incremental_exact_dedup / incremental_minhash_dedup):
    each arriving delta of vectors is semantically deduplicated within
    itself AND against every vector ever kept, without rescanning prior
    deltas. State = the kept raw embeddings plus the integer centroids
    FROZEN at bootstrap (store_path/centroids + store_path/vectors) —
    the rolling-index cadence of a production vector store. Returns
    ``(fresh_docs, counts)``.

    Steps:
      1. bootstrap (no store): train cells on the batch with the
         integer quantizer of ivf_topk (``_train_cells``) and persist
         the centroids (cell, c array<long>); the batch then runs
         step 2 against an empty store, so its keepers follow the same
         greedy rule;
      2. delta: assign to the FROZEN cells via ``assign_cells`` (same
         exact metric every delta — a retrained quantizer would
         silently re-shard the space and break the vs-store guarantee),
         then one ``applyInPandas`` per cell over the side-tagged union
         of stored + delta vectors: stored rows are immutable keepers;
         delta rows in ascending id order are dropped iff cosine to
         any kept reference (stored first, then newly kept delta rows)
         reaches ``threshold`` — first-seen wins, min-id within the
         delta, exactly the family convention;
      3. commit delta survivors' embeddings to the vector store.

    Both stores are ``sources/store.BatchStore``s: a retried delta sees
    the vectors without its own (same fresh set and counts) and the
    committed centroids with its own (the cells stay frozen), and a
    write that dies part-way is never read. A store whose centroids
    lack the integer ``c`` column (written by the earlier float
    quantizer) fails on read and must be rebuilt. Scale shape: centroid
    table is tiny and broadcast; the per-cell pass shuffles each vector
    once on its cell id; ``max_keep_refs`` caps the reference matrix
    per cell (hot-cell guard).
    """
    import numpy as np

    cent_path = store_path.rstrip("/") + "/centroids"
    n_batch, key = count_and_key(new_docs)
    if not n_batch:
        # nothing to train on: an empty bootstrap would commit an empty
        # centroid set that every later delta reads as frozen
        return new_docs, {"batch": 0, "sem_dupes": 0, "fresh": 0}
    emb = _with_micro(new_docs, id_col, vec_col)

    centroids = BatchStore(spark, cent_path).read()
    if centroids is None:
        kc = n_cells or max(2, int(max(n_batch, 4) ** 0.5))
        centroids = _train_cells(emb, n_batch, kc, id_col)
        BatchStore(spark, cent_path, key).commit(centroids.coalesce(1))

    # driver-ok: the frozen kc centroid rows
    cells = assign_cells(emb, centroids.collect(), id_col=id_col)
    assigned = emb.join(cells, id_col).select(id_col, vec_col, "cell")

    vectors = BatchStore(spark, store_path.rstrip("/") + "/vectors", key)
    stored = vectors.read()
    delta_tag = assigned.withColumn("is_store", F.lit(False))
    both = (delta_tag if stored is None else stored.select(
        F.col(id_col), F.col(vec_col), F.col("cell"),
        F.lit(True).alias("is_store")).unionByName(delta_tag))

    id_type = new_docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, cell int"

    def prune(pdf):
        import pandas as pd
        pdf = pdf.sort_values([id_col])
        store_mask = pdf["is_store"].to_numpy()
        X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = 1.0
        X = X / norms[:, None]
        # preallocated reference buffer: fancy-indexing the kept rows
        # anew each row copies O(kept x dim) per row; stored keepers
        # pre-seed the buffer in id order up to the cap, delta keepers
        # append after, and each row dots against its filled VIEW
        buf = np.empty((min(len(pdf), max_keep_refs), X.shape[1]))
        n_ref = 0
        for i in np.flatnonzero(store_mask):
            if n_ref < buf.shape[0]:
                buf[n_ref] = X[i]
                n_ref += 1
        fresh_rows: list[int] = []
        for i in np.flatnonzero(~store_mask):
            if n_ref and float(np.max(buf[:n_ref] @ X[i])) >= threshold:
                continue
            if n_ref < buf.shape[0]:
                buf[n_ref] = X[i]
                n_ref += 1
            fresh_rows.append(int(i))
        out = pdf.iloc[fresh_rows]
        return pd.DataFrame({id_col: out[id_col],
                             "cell": out["cell"].astype("int32")})

    fresh_ids = (both.groupBy("cell").applyInPandas(prune, out_schema)
                 .localCheckpoint(eager=True))
    n_fresh = fresh_ids.count()

    vectors.commit(assigned.join(fresh_ids.select(id_col), id_col,
                                 "left_semi").select(id_col, vec_col, "cell"))

    fresh = new_docs.join(fresh_ids.select(id_col), id_col, "left_semi")
    return fresh, {
        "batch": n_batch,
        "sem_dupes": n_batch - n_fresh,
        "fresh": n_fresh,
    }


# ---- persisted IVF / IVF-PQ index: query by partition pruning ----

def _build_index(embeddings: DataFrame, index_path: str,
                 n_centroids: int | None, id_col: str, vec_col: str,
                 pq: tuple[int, int] | None = None) -> dict[str, int]:
    """The shared builder of build_ivf_index / build_ivfpq_index: the
    training and assignment stages of ivf_topk (and, with ``pq`` =
    (m, k_codes), the codebooks and codes of ivfpq_rerank_topk) run
    once and persisted."""
    emb = _with_micro(embeddings, id_col, vec_col).cache()
    n = emb.count()
    kc = n_centroids or max(2, int(n ** 0.5))
    cents = _train_cells(emb, n, kc, id_col)
    # driver-ok: kc centroid rows
    vectors = emb.join(assign_cells(emb, cents.collect(), id_col=id_col),
                       id_col)
    cols = [id_col, vec_col, "cell"]
    if pq:
        cb, codes, _ = _train_codes(emb, n, *pq, id_col)
        cb.write.mode("overwrite").parquet(f"{index_path}/codebooks")
        vectors, cols = vectors.join(codes, id_col), cols + ["codes"]
    vectors.select(*cols).write.mode("overwrite").partitionBy("cell") \
        .parquet(f"{index_path}/vectors")
    emb.unpersist()
    cents.write.mode("overwrite").parquet(f"{index_path}/centroids")
    return {"n_vectors": n, "n_centroids": kc}


def build_ivf_index(embeddings: DataFrame, index_path: str,
                    n_centroids: int | None = None,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> dict[str, int]:
    """Train the IVF coarse quantizer ONCE and persist the index on
    disk: ``{index_path}/centroids`` (cell, c array<long>; tiny
    parquet) plus ``{index_path}/vectors`` partitioned BY CELL — Hive
    partition pruning then IS the inverted file: a query that probes 4
    of 1000 cells reads 4/1000ths of the corpus bytes, no search
    structure beyond the directory layout.

    Cells are ivf_topk's (sqrt(N) by default, ``ivf_centroids`` over
    the same md5 sample, ``assign_cells`` argmin), so
    :func:`query_ivf_index` returns exactly what ``ivf_topk`` returns
    for the same parameters and queries, and inherits its DuckDB
    oracle. Recall of the exact top-5 on the sf0.001 fixture at 8
    cells and n_probe 2: 0.50. An index written before the quantizer
    was integer (centroids without column ``c``) fails on query and
    must be rebuilt. Returns {'n_vectors', 'n_centroids'}.
    """
    return _build_index(embeddings, index_path, n_centroids, id_col,
                        vec_col)


def _rank_probe_cells(q: DataFrame, centers: DataFrame, n_probe: int,
                      carry: tuple[str, ...] = ()):
    """Probe stage of the persisted index: ``_probe_cells`` (which
    raises on a query/index dimension mismatch) plus the collected,
    deduplicated cell ids (bounded metadata, ≤ queries × n_probe ints)
    for the static partition predicate."""
    probes = _probe_cells(q, centers, n_probe, carry).localCheckpoint(
        eager=False)
    # driver-ok: bounded metadata — ≤ queries × n_probe cell ids, deduped
    cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    return probes, cells


def query_ivf_index(spark, index_path: str, queries: DataFrame, k: int = 5,
                    n_probe: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors from a persisted IVF index: per query,
    rank the stored centroids by exact integer distance to the
    micro-unit query (``_to_micro_int``), then scan ONLY the probed
    cells' partitions — the `cell IN (...)` filter is a static
    partition predicate, so pruning happens at file listing, before any
    byte of the unprobed cells is read.

    The probe-cell collect is bounded metadata (≤ queries × n_probe
    ints, deduplicated). The stages are ivf_topk's, so over
    ``build_ivf_index(emb)`` and queries ``emb.filter(id < n)`` the
    result equals ``ivf_topk(emb, n_queries=n)`` row for row; with
    n_probe ≥ n_centroids it is exactly brute force (tested against
    cosine_topk). Ties broken (cos_sim DESC, neighbor id ASC) like
    every other top-k in the engine.
    """
    probes, cells = _rank_probe_cells(
        _queries(queries, id_col, vec_col),
        spark.read.parquet(f"{index_path}/centroids"), n_probe,
        carry=("q_vec",))
    vectors = (spark.read.parquet(f"{index_path}/vectors")
               .filter(F.col("cell").isin(cells)))
    return _probed_topk(vectors, probes, k, id_col, vec_col)


# ---- exact-integer product quantization: ADC shortlist + rerank ----

def pq_codebooks(train_int: DataFrame, m: int = 8, k_codes: int = 16,
                 iters: int = IVF_LLOYD_ITERS, id_col: str = "vec_id",
                 max_train_rows: int = 250_000) -> DataFrame:
    """Deterministic, cross-engine-EXACT product-quantizer codebooks
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011): each subspace k-means'd with the ``ivf_centroids``
    arithmetic (micro-unit integer subvectors, farthest-point seeding
    from the md5-rank-smallest id, exact-BIGINT Lloyd with
    round-half-away integer means) so a DuckDB oracle can replay the
    ENTIRE training per subspace.

    Input: (id_col, v array<long>) micro-unit vectors. Output:
    (sub int, code int, c array<long>) — m × (<= k_codes) rows, tiny.
    One bounded driver-side collect serves all m subspaces (slices of
    the same sample rows); codes within a subspace are compacted to
    0..k-1 after empty-cluster drops, which preserves relative order —
    the only property the argmin tie-breaks and ADC joins consume."""
    spark = train_int.sparkSession
    ids, V = _collect_train_sample(train_int, id_col, max_train_rows,
                                   "pq_codebooks")
    schema = "sub int, code int, c array<long>"
    if not ids:
        return spark.createDataFrame([], schema=schema)
    dim = V.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    rows = []
    for sub in range(m):
        C = _train_int_kmeans(ids, V[:, sub * d_sub:(sub + 1) * d_sub],
                              k_codes, iters)
        rows += [(sub, c, [int(x) for x in C[c]]) for c in range(len(C))]
    return spark.createDataFrame(rows, schema=schema)


def pq_encode(emb_int: DataFrame, cb_rows, m: int,
              id_col: str = "vec_id") -> DataFrame:
    """(id, codes array<int>): each micro-unit integer subvector
    snapped to its nearest codebook centroid by exact int64 squared
    distance, ties to the lower code (numpy argmin takes the FIRST
    minimum — deterministic, matching the oracle's ORDER BY d2, code).

    Arrow-batched mapInPandas: encode is the corpus-wide hot path, and
    a literal-codebook expression tree pays m×k interpreted
    higher-order-function evaluations per row — measured ~5 ms/row at
    m=8, k=16 vs microseconds here (the jl_project lesson, but at
    EXECUTION time rather than analysis time). Row-local: no shuffle,
    the ~m×k×d_sub int codebook tensor ships by closure. Every
    operation is int64 (broadcast-subtract square-sum, no matmul
    identity — the cross-term trick is for BLAS floats; these are
    exact integers), so the result is bit-identical to the DuckDB
    replay."""
    import numpy as np

    by_sub: dict[int, list] = {}
    for r in sorted(cb_rows, key=lambda r: (r["sub"], r["code"])):
        by_sub.setdefault(r["sub"], []).append(r["c"])
    cents = [np.array(by_sub[s], dtype=np.int64) for s in range(m)]
    d_sub = cents[0].shape[1]

    id_type = emb_int.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, codes array<int>"

    def run(batches):
        for pdf in batches:
            v = np.array(pdf["v"].tolist(), dtype=np.int64)
            _check_int_vec_range(v, "pq_encode")
            sv = v.reshape(len(v), m, d_sub)
            codes = np.empty((len(v), m), dtype=np.int32)
            for sub in range(m):
                d2 = ((sv[:, sub, None, :] - cents[sub][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, sub] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "codes": list(codes)})

    return emb_int.select(id_col, "v").mapInPandas(run, schema=out_schema)


def _train_codes(emb: DataFrame, n: int, m: int, k_codes: int,
                 id_col: str):
    """``pq_codebooks`` over the md5 training sample (~40 vectors per
    code) of ``emb``'s (id, v), and every vector's codes: returns
    (codebooks frame, codes frame, subvector width)."""
    cb = pq_codebooks(
        _md5_sample_gate(emb, n, 40 * k_codes, id_col).select(id_col, "v"),
        m=m, k_codes=k_codes, id_col=id_col)
    # driver-ok: bounded metadata — the m×k codebook rows
    cb_rows = cb.collect()
    return (cb, pq_encode(emb, cb_rows, m, id_col=id_col),
            len(cb_rows[0]["c"]))


def _adc_shortlist(coded: DataFrame, probes: DataFrame, lut: DataFrame,
                   shortlist: int, id_col: str) -> DataFrame:
    """(query_id, neighbor_id): per query, the ``shortlist`` members of
    its probed cells nearest by exact-BIGINT ADC — (id, sub, code)
    triples joined to the broadcast per-query LUT, partial-aggregated
    map-side to one row per (query, id); ties to the lower id.
    ``coded`` carries (id, cell, codes), ``probes`` (query_id, cell)."""
    adc = (coded.join(F.broadcast(probes), "cell")
           .filter(F.col(id_col) != F.col("query_id"))
           .select("query_id", id_col,
                   F.posexplode("codes").alias("sub", "code"))
           .join(F.broadcast(lut), ["query_id", "sub", "code"])
           .groupBy("query_id", id_col)
           .agg(F.sum("d_part").alias("approx_dist")))
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc(id_col))
    return (adc.withColumn("sr", F.rank().over(w_short))
            .filter(F.col("sr") <= shortlist)
            .select("query_id", F.col(id_col).alias("neighbor_id")))


def pq_rerank_topk(embeddings: DataFrame, k: int = 5,
                   n_queries: int = 10, m: int = 8, k_codes: int = 16,
                   shortlist: int = 50, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Oracle-paired PQ ANN with exact reranking — the FAISS
    PQ+refine shape on the deterministic integer quantizer: ADC over
    the 8-byte codes SHORTLISTS ``shortlist`` candidates per query (the
    cheap full scan), then exact cosine reranks only those. Micro-unit
    vectors, ``pq_codebooks`` training (DuckDB-replayable
    farthest-point + integer Lloyd per subspace), one shuffle-free
    Arrow encode pass (``pq_encode``), exact-BIGINT ADC over the codes
    (raw squared euclidean, the metric ivf_topk's cells use), exact
    cosine (on the ORIGINAL double vectors, round_fixed 6) to rerank:
    every intermediate number is exact integer arithmetic and the
    output hash-checks against the SQL twin.

    Scale shape (billions of vectors): training collects a bounded
    md5-hash sample (~40·k_codes rows — FAISS practice: codebook
    quality saturates on a sample, cost independent of corpus size);
    encode is one row-local Arrow pass (no shuffle); the ADC scan is
    ``_adc_shortlist`` with every vector in one cell that every query
    probes; the rerank fetches original vectors for only
    queries×shortlist ids via broadcast semi-join. Output (query_id,
    neighbor_id, cos_sim, rnk) — drop-in comparable with cosine_topk;
    recall bounds pinned in unit tests."""
    emb = _with_micro(embeddings, id_col, vec_col)
    n = emb.count()
    if not n:
        return _empty_topk(embeddings, id_col)
    cb, codes, d_sub = _train_codes(emb, n, m, k_codes, id_col)
    q = _queries(emb.filter(F.col(id_col) < n_queries), id_col, vec_col)
    short = _adc_shortlist(codes.withColumn("cell", F.lit(0)),
                           q.select("query_id", F.lit(0).alias("cell")),
                           _adc_lut(q, cb, d_sub), shortlist, id_col)
    return _exact_cosine_rerank(emb, q, short, k, id_col, vec_col)


def ivfpq_rerank_topk(embeddings: DataFrame, k: int = 5,
                      n_queries: int = 10, n_probe: int = 4,
                      n_centroids: int | None = None, m: int = 8,
                      k_codes: int = 16, shortlist: int = 50,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Oracle-paired IVF-PQ: the three FAISS stages (probe → ADC
    shortlist → exact rerank) on the deterministic integer quantizers —
    coarse cells from ``ivf_centroids`` (ivf_topk's trained partition),
    PQ codes from ``pq_codebooks`` over the raw (non-residual) vectors,
    so a DuckDB twin replays BOTH trainings plus the pruned ADC scan
    bit-identically. ``query_ivfpq_index`` over ``build_ivfpq_index``
    runs the same stages from disk and returns exactly these rows
    (tested).

    Stage shape at scale: cell assignment is one broadcast-argmin pass
    + an id-keyed join (ivf_topk's reviewed pattern); PQ encode is one
    row-local Arrow pass (pq_encode, no shuffle); the ADC scan
    touches only the probed cells' (id, sub, code) triples against a
    broadcast (query, sub, code) LUT with exact-BIGINT partials
    (map-side combine to one row per (query, id)); the rerank fetches
    original vectors for queries×shortlist ids via broadcast semi-join.
    Output (query_id, neighbor_id, cos_sim, rnk) — drop-in comparable
    with cosine_topk / pq_rerank_topk."""
    emb = _with_micro(embeddings, id_col, vec_col)
    n = emb.count()
    if not n:
        return _empty_topk(embeddings, id_col)
    cents = _train_cells(emb, n, n_centroids or max(2, int(n ** 0.5)),
                         id_col)
    cb, codes, d_sub = _train_codes(emb, n, m, k_codes, id_col)
    # driver-ok: kc centroid rows
    argmin = assign_cells(emb, cents.collect(), id_col=id_col)
    q = _queries(emb.filter(F.col(id_col) < n_queries), id_col, vec_col)
    short = _adc_shortlist(codes.join(argmin, id_col),
                           _probe_cells(q, cents, n_probe),
                           _adc_lut(q, cb, d_sub), shortlist, id_col)
    return _exact_cosine_rerank(emb, q, short, k, id_col, vec_col)


def build_ivfpq_index(embeddings: DataFrame, index_path: str,
                      n_centroids: int | None = None, m: int = 8,
                      k_codes: int = 16, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> dict:
    """Persist the full FAISS-IVFPQ shape on parquet: the IVF cell
    layout of :func:`build_ivf_index` with each stored row ALSO carrying
    its PQ code array, plus the trained codebooks beside the centroids.

    Layout: ``{index}/centroids`` (cell, c array<long>; tiny),
    ``{index}/codebooks`` (sub, code, c array<long>; m × k_codes,
    tiny), ``{index}/vectors`` partitioned by cell with columns (id,
    embedding, codes). Cells and codes are ivfpq_rerank_topk's (same
    samples, same integer trainers), so :func:`query_ivfpq_index`
    returns exactly its rows and inherits its DuckDB oracle.

    Why this is the billion-scale shape: a query prunes to n_probe
    cells at FILE LISTING (Hive partition pruning = the inverted file),
    and the ADC stage projects ONLY the (id, codes) columns — parquet's
    columnar layout means the fat embedding column is not read until
    the final shortlist×queries rerank fetch. Scan bytes per query ≈
    (n_probe/cells) × 8-byte codes + shortlist raw vectors.

    Build cost: one bounded-sample training per quantizer, one
    distributed encode and one assignment pass, id-keyed joins of cells
    and codes onto vectors (build-time only, amortized over every
    query), one cell-partitioned write. Returns {'n_vectors',
    'n_centroids'}. An index written before the quantizer was integer
    must be rebuilt.
    """
    return _build_index(embeddings, index_path, n_centroids, id_col,
                        vec_col, pq=(m, k_codes))


def query_ivfpq_index(spark, index_path: str, queries: DataFrame,
                      k: int = 5, n_probe: int = 4, shortlist: int = 50,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors from a persisted IVF-PQ index — the three
    FAISS stages of ivfpq_rerank_topk as three pruned scans:

    1. **probe**: rank the broadcast centroid table per micro-unit
       query; collect the ≤ queries × n_probe cell ids (bounded
       metadata) into a static partition predicate.
    2. **ADC shortlist**: scan ONLY the probed cells' (id, codes)
       columns and keep the ``shortlist`` nearest per query by the
       exact-BIGINT ADC distance (``_adc_shortlist``).
    3. **rerank**: fetch the raw vectors for just the shortlisted ids
       (broadcast semi-join against the same pruned partitions) and
       rank by exact cosine.

    Output (query_id, neighbor_id, cos_sim, rnk) — equal to
    ``ivfpq_rerank_topk`` at the same parameters and queries; with
    n_probe covering every cell and shortlist ≥ corpus it is exactly
    brute force. Recall of the exact top-5 on the sf0.001 fixture, 4
    cells: 0.62 at k_codes 64, n_probe 2, shortlist 50; at k_codes
    128 and every cell probed, 0.40 at shortlist 5 (the raw ADC
    ranking) and 0.92 at shortlist 50.
    """
    cb = spark.read.parquet(f"{index_path}/codebooks")
    d_sub = int(cb.agg(F.max(F.size("c"))).first()[0])
    q = _queries(queries, id_col, vec_col)
    probes, cells = _rank_probe_cells(
        q, spark.read.parquet(f"{index_path}/centroids"), n_probe)
    stored = (spark.read.parquet(f"{index_path}/vectors")
              .filter(F.col("cell").isin(cells)))
    # ADC stage: codes column only — the embedding column stays unread
    short = _adc_shortlist(stored.select(id_col, "cell", "codes"), probes,
                           _adc_lut(q, cb, d_sub), shortlist, id_col)
    return _exact_cosine_rerank(stored, q, short, k, id_col, vec_col)


def jl_project(embeddings: DataFrame, in_dim: int, out_dim: int = 16,
               seed: int = 42, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a Rademacher
    (±1) projection (Achlioptas, JCSS'03: ±1 entries satisfy the JL
    guarantee with the same distortion bounds as Gaussian): project
    ``in_dim``-d embeddings to ``out_dim`` dims, each output component
    rounded to 6dp. Output: (id_col, proj ARRAY<DOUBLE>). The matrix is
    never stored or shipped — sign(i, j) is a pure md5 function of
    (seed, i, j), regenerated as literals at plan-build time, so the
    projection is bit-reproducible everywhere (same trick as the
    LSH hyperplanes and MinHash family) and DuckDB can mirror it.

    Shape, at 100 TB: zero shuffles — one narrow projection per row,
    entirely whole-stage-codegen'd (out_dim sums of ±x_j literals; no
    Python boundary, no UDF, no model broadcast). Use it to cut ANN
    memory/IO ahead of IVF/PQ (64→16 dims = 4× smaller vectors) when
    recall at reduced d is acceptable.

    Components sum j = 0..in_dim-1 in ascending order in BOTH engines,
    so the float result is bit-identical (± of exact float32→double
    promotions, added in the same sequence).
    """
    import hashlib
    import math

    def sign(i: int, j: int) -> float:
        d = hashlib.md5(f"jl|{seed}|{i}|{j}".encode()).hexdigest()
        return 1.0 if int(d[0], 16) % 2 == 0 else -1.0

    scale = 1.0 / math.sqrt(float(out_dim))
    # literal sign ROWS + zip_with/aggregate folds, NOT out_dim*in_dim
    # nested Add/Multiply nodes: the expanded tree costs seconds of
    # analyzer/codegen time per plan at 16x64 (measured 6.8s -> the
    # data itself is microseconds); a constant-folded array literal per
    # output dim keeps the plan out_dim nodes wide. The fold runs
    # ((0+t0)+t1)+... ascending j — 0.0+t0 == t0 exactly, so the result
    # is bit-identical to the mirror's left-to-right term chain.
    comps = []
    for i in range(int(out_dim)):
        signs_i = F.array(*[F.lit(sign(i, j)) for j in range(int(in_dim))])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), signs_i, lambda x, s: x * s),
            F.lit(0.0), lambda acc, x: acc + x)
        comps.append(round_fixed(dot * F.lit(scale), 6))
    # zip_with NULL-pads a length mismatch, which would silently turn
    # every projection into an all-NULL array — fail loudly instead
    proj = F.when(
        F.size(F.col(vec_col)) == int(in_dim), F.array(*comps)
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"jl_project: expected {int(in_dim)}-d embeddings, got "),
        F.coalesce(F.size(F.col(vec_col)).cast("string"), F.lit("NULL")))))
    return fanout(embeddings).select(F.col(id_col), proj.alias("proj"))

"""Deterministic shuffle-and-shard planning for training-data output.

The last step of a 100 TB corpus pipeline is neither a query nor a
filter: the surviving documents must be globally SHUFFLED (so each
training batch is an unbiased corpus sample — sequential source order
bakes curriculum artifacts into the run) and split into N shards that
downstream data loaders read independently. Doing this with a random()
column is irreproducible across retries and engines; these operators
make the permutation a pure function of the document id, the same
md5-slice stance as ``hash_stratified_sample`` / ``mixture_rebalance``,
so the exact shard layout is auditable and DuckDB-oracle-checkable.

Scale notes:
- ``shard_assignments`` (hash mode) is NARROW: shard id and intra-shard
  sort key are per-row expressions; the only exchange is the per-shard
  window rank, which partitions by shard — N reducers, each holding
  (id, key) pairs only, never text. At 100 TB with N=10k shards this is
  the write-side shuffle the job needs anyway (one reducer per output
  shard).
- ``shard_assignments(by_tokens=True)`` adds an LPT-style round-robin
  over a GLOBAL token-count rank — one single-reducer sort of ~12-byte
  rows. Fine to ~1e9 docs; past that, use hash mode (token balance then
  holds only in expectation, CV ~ 1/sqrt(docs-per-shard) — negligible
  at millions of docs per shard).
- ``shard_manifest`` is the N-row summary a loader config consumes;
  it partial-aggregates map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from asvsp_spark.functions.text import token_count
from asvsp_spark.plans.base import hex_slice_long


def _perm_key(id_col: str, salt: str) -> F.Column:
    """64-bit md5-slice permutation key of the doc id — deterministic,
    engine-independent (DuckDB: substr(md5(id || '|' || salt), 1, 16)),
    compared lexicographically as hex."""
    return F.substring(
        F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))),
        1, 16)


def shard_assignments(documents: DataFrame, n_shards: int = 16,
                      salt: str = "shard42", by_tokens: bool = False,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      curriculum_col: str | None = None) -> DataFrame:
    """(doc_id, shard, pos_in_shard, n_tokens): the deterministic
    global-shuffle shard plan.

    Hash mode (default): shard = first-32-md5-bits(id|salt) mod N, and
    pos_in_shard ranks the same md5 key WITHIN the shard — together a
    uniform pseudo-random permutation of the corpus with no global
    sort; every decision is a pure function of the id, so a retried
    stage, a different cluster, or the DuckDB oracle lay out bytes
    identically.

    Curriculum mode (``curriculum_col`` set): shard membership stays
    the hash permutation (every shard holds the full difficulty mix),
    but pos_in_shard orders WITHIN each shard by (curriculum_col ASC,
    md5 key, id) — so N workers reading their shards position-by-
    position consume an easy→hard schedule globally, with the md5 key
    shuffling ties. The column must be cross-engine-stable (integers or
    round_fixed scores) for the plan to stay oracle-checkable. Same
    cost as hash mode: no global sort, one per-shard rank.

    Token-balanced mode (``by_tokens=True``): documents are ranked
    globally by (n_tokens DESC, id) and dealt round-robin to shards —
    longest-processing-time-first scheduling, max shard skew bounded by
    one max-length doc. Costs one global rank (see module scale notes).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if by_tokens and curriculum_col is not None:
        raise ValueError("by_tokens and curriculum_col are exclusive: "
                         "LPT dealing fixes both shard and position")
    extra = [F.col(curriculum_col).alias("_cur")] if curriculum_col else []
    docs = documents.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        _perm_key(id_col, salt).alias("pk"), *extra)
    if by_tokens:
        rk = F.row_number().over(
            Window.orderBy(F.desc("n_tokens"), F.asc(id_col)))
        ranked = docs.withColumn("rk", rk)
        return ranked.select(
            id_col,
            F.pmod(F.col("rk") - 1, F.lit(n_shards)).cast("int")
             .alias("shard"),
            ((F.col("rk") - 1 - F.pmod(F.col("rk") - 1, F.lit(n_shards)))
             / n_shards + 1).cast("int").alias("pos_in_shard"),
            F.col("n_tokens").cast("int").alias("n_tokens"))
    shard = F.pmod(hex_slice_long(F.col("pk"), 1, 8),
                   F.lit(n_shards)).cast("int")
    with_shard = docs.withColumn("shard", shard)
    # asc_nulls_last: unscored (NULL-difficulty) docs train LAST, and
    # the order matches DuckDB's ASC default (NULLS LAST) — plain asc
    # would put NULLs first in Spark and silently diverge both ways
    order = ([F.asc_nulls_last("_cur")] if curriculum_col else []) + \
        [F.asc("pk"), F.asc(id_col)]
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy(*order))
    return with_shard.select(
        id_col, "shard",
        pos.alias("pos_in_shard"),
        F.col("n_tokens").cast("int").alias("n_tokens"))


def shard_manifest(documents: DataFrame, n_shards: int = 16,
                   salt: str = "shard42", by_tokens: bool = False,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-shard loader manifest: (shard, n_docs, n_tokens,
    max_doc_tokens) — the N-row table a training job's data-loader
    config consumes, and the balance audit for the chosen mode."""
    plan = shard_assignments(documents, n_shards, salt, by_tokens,
                             id_col, text_col)
    return (plan.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("int").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.max("n_tokens").cast("int").alias("max_doc_tokens")))

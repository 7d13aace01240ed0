"""Sequence packing: assign documents to fixed-token-budget training
windows ("bins") — the step between a cleaned corpus and a token stream,
where docs are concatenated and cut every ``budget`` tokens so no
compute is spent on padding (GPT-style document packing). Beyond-parity
extension; no reference analogue.

Scale design: a SINGLE global concatenation order is a serialization
point (one total order = one partition's worth of window state), so the
operator packs per SHARD — documents hash into ``n_shards`` independent
streams, each packed by a running token prefix-sum over (shard, doc_id)
order. Every shard's window is independent: the plan is one shuffle by
shard and scales with executors, and bin ids are (shard, bin) pairs. A
trainer consuming k data-parallel readers sets n_shards = k and each
reader streams its own shard's bins in order.

Contiguous packing semantics (docs straddle bin boundaries, exactly like
training-time concatenation): a doc's bin is the bin its FIRST token
lands in — floor(start_offset / budget) where start_offset is the sum of
all earlier docs' token counts in the shard. Fully expression-level
(window prefix sum), no UDF, oracle-checkable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from asvsp_spark.functions.text import token_count


def pack_contiguous(documents: DataFrame, budget: int = 512,
                    n_shards: int = 4,
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    shard_expr: F.Column | None = None) -> DataFrame:
    """Per-document packing assignment: (doc_id, shard, bin_id,
    n_tokens, start_offset). Whitespace token counts (the engine's
    standard tokenizer — swap in a BPE count column upstream for exact
    budgets); deterministic for a fixed (corpus, budget, n_shards).

    ``shard_expr`` overrides the default xxhash64 id-hash shard (any
    int expression over the row, e.g. a plain id modulus when the
    assignment must be reproducible outside Spark).
    """
    shard = (shard_expr if shard_expr is not None
             else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)))
    toked = documents.select(
        F.col(id_col),
        shard.cast("int").alias("shard"),
        token_count(F.col(text_col)).alias("n_tokens"))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        toked
        .withColumn("start_offset",
                    F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("bin_id",
                    F.floor(F.col("start_offset") / budget).cast("long"))
        .select(id_col, "shard", "bin_id", "n_tokens", "start_offset")
    )


def pack_whole_docs(documents: DataFrame, budget: int = 512,
                    n_shards: int = 4, method: str = "best_fit",
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    shard_expr: F.Column | None = None) -> DataFrame:
    """WHOLE-document packing: every doc lands entirely inside one bin
    (no straddling — for consumers that must not cut documents across
    training windows), so bins carry padding and the packer's job is to
    minimize it.

    - ``method="best_fit"``: best-fit-decreasing — docs sorted by token
      count descending, each placed in the open bin with the LEAST
      remaining capacity that still fits (the classic ~11/9·OPT+1
      bin-packing heuristic);
    - ``method="first_fit"``: docs in id order, each into the lowest-id
      bin that fits — the naive sequential baseline best-fit is
      measured against.

    Docs longer than ``budget`` get a dedicated bin each (split or
    truncate upstream; flagged by n_tokens > budget).

    Scale shape: bin state is inherently sequential WITHIN a shard (the
    same serialization point pack_contiguous shards around), so this
    runs one ``applyInPandas`` per shard — a vectorized capacity scan
    per placement, no per-row Python beyond the placement loop, and
    shards scale with executors exactly like the contiguous path. Not
    SQL-expressible (the bin chosen for doc k depends on all k-1 prior
    placements), hence rows-only for the driver oracle; the unit suite
    pins capacity-respect, determinism, and the utilization win over
    first-fit.
    """
    if method not in ("best_fit", "first_fit"):
        raise ValueError(f"unknown packing method {method!r}")
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    shard = (shard_expr if shard_expr is not None
             else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)))
    toked = documents.select(
        F.col(id_col),
        shard.cast("int").alias("shard"),
        token_count(F.col(text_col)).alias("n_tokens"))
    out_schema = StructType(list(toked.schema.fields)
                            + [StructField("bin_id", LongType(), False)])

    def pack(pdf):
        if method == "best_fit":
            pdf = pdf.sort_values(["n_tokens", id_col],
                                  ascending=[False, True])
        else:
            pdf = pdf.sort_values(id_col)
        rem = np.empty(0, dtype=np.int64)     # remaining capacity per bin
        assigned = np.empty(len(pdf), dtype=np.int64)
        for i, tok in enumerate(pdf["n_tokens"].to_numpy()):
            if tok >= budget:                 # dedicated bin, never reused
                rem = np.append(rem, 0)
                assigned[i] = len(rem) - 1
                continue
            fits = np.flatnonzero(rem >= tok)
            if len(fits) == 0:
                rem = np.append(rem, budget - tok)
                assigned[i] = len(rem) - 1
            else:
                # best_fit: tightest bin that fits; first_fit: lowest id
                j = fits[np.argmin(rem[fits])] if method == "best_fit" \
                    else fits[0]
                rem[j] -= tok
                assigned[i] = j
        return pdf.assign(bin_id=assigned)

    return toked.groupBy("shard").applyInPandas(pack, out_schema)


def packing_stats(documents: DataFrame, budget: int = 512,
                  n_shards: int = 4,
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  shard_expr: F.Column | None = None,
                  method: str = "contiguous") -> DataFrame:
    """Per-(shard, bin) packing report: docs starting in the bin, their
    token mass, and utilization = tokens starting here / budget (can
    exceed 1 when a long doc straddles into later bins — the tail bins
    it covers receive no starts, which is the contiguous-packing
    accounting). Rolls up the packer with one partial-aggregated
    shuffle onto (shard, bin) keys — bounded cardinality ~ total_tokens
    / budget.

    ``method`` picks the packer: "contiguous" (default, straddling —
    the registered oracle-paired shape) or the whole-doc
    "best_fit"/"first_fit" variants, whose utilization is <= 1 and
    measures padding waste directly.
    """
    from asvsp_spark.plans.base import round_fixed
    if method == "contiguous":
        packed = pack_contiguous(documents, budget, n_shards, id_col,
                                 text_col, shard_expr=shard_expr)
    else:
        packed = pack_whole_docs(documents, budget, n_shards, method,
                                 id_col, text_col, shard_expr=shard_expr)
    return (
        packed
        .groupBy("shard", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("n_tokens"),
             F.min(id_col).alias("first_doc"))
        .withColumn("utilization",
                    round_fixed(F.col("n_tokens") / budget, 6))
    )

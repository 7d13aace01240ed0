"""Stratified sampling for training-data mixture construction.

A 100TB corpus is never trained on whole: pipelines draw a per-stratum
mixture (by language, source, quality bucket) with fixed fractions.
``hash_stratified_sample`` keeps a row when a hash of its id falls under
its stratum's fraction, so membership is a pure function of the row, not
of the partitioning.

Scale notes: the sample is narrow (no shuffle — each row decides
locally); the fraction reaches the scan as a filter, so downstream
stages see only the sample. It is reproducible across engines, runs,
cluster layouts, AND retries (a Bernoulli ``sampleBy`` is only stable
for a fixed partitioning), which is what makes training mixtures
auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_FRACTIONS = {"en": 0.5, "de": 0.3, "fr": 0.3, "es": 0.3, "it": 0.3}


def hash_stratified_sample(documents: DataFrame,
                           fractions: dict[str, float] | None = None,
                           strat_col: str = "lang", id_col: str = "doc_id",
                           salt: int = 42) -> DataFrame:
    """Deterministic stratified sample: row kept iff
    ``int(md5(id|salt)[0:8 hex]) mod 10^6 < fraction * 10^6`` for its
    stratum — membership depends only on the row id, so the sample is
    identical across runs, retries, repartitions, AND engines: the
    md5-slice bucket (same construction as minhash_signatures) is
    bit-identical in DuckDB, so the exact sampled row set is
    oracle-checkable. The price is hash-uniformity instead of true
    randomness (fine for mixture construction, not for statistical
    bootstrap).
    """
    fr = fractions or DEFAULT_FRACTIONS
    from asvsp_spark.plans.base import md5_slice_long
    bucket = F.pmod(
        md5_slice_long(F.concat_ws("|", F.col(id_col).cast("string"),
                                   F.lit(str(salt)))),
        F.lit(1_000_000))
    keep = F.lit(False)
    for stratum, frac in fr.items():
        keep = keep | ((F.col(strat_col) == stratum)
                       & (bucket < int(frac * 1_000_000)))
    return documents.filter(keep)


def sample_k_per_group(documents: DataFrame, k: int = 10,
                       strat_col: str = "lang", id_col: str = "doc_id",
                       salt: str = "s42") -> DataFrame:
    """Exactly-k-per-stratum sample (fewer if the stratum is smaller):
    rank rows within each stratum by md5(id || salt) and keep rank <= k —
    the deterministic, engine-portable stand-in for per-group reservoir
    sampling (md5 exists in every engine, so the EXACT sample membership
    is oracle-checkable; a true reservoir is RNG- and order-dependent).

    Scale: one shuffle on the stratum key; rank over a hash needs no
    pre-sorted data. For strata too hot for one reducer, pre-aggregate a
    per-partition top-k first (same hash order) — the merge of partition
    top-ks is the global top-k, the classic distributed-reservoir trick.
    """
    w = Window.partitionBy(strat_col).orderBy("h", id_col)
    return (
        documents
        .withColumn("h", F.md5(F.concat(F.col(id_col).cast("string"),
                                        F.lit(salt))))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(F.col(id_col), F.col(strat_col), F.col("rk"))
    )


def weighted_sample_k(documents: DataFrame, k: int, weight_col: str,
                      group_col: str | None = None, id_col: str = "doc_id",
                      salt: str = "ws42", max_weight: int = 1024
                      ) -> DataFrame:
    """EXACT weighted random sampling without replacement (Efraimidis &
    Spirakis, IPL 2006) for integer weights, in md5 hash space: each of
    a row's ``w`` weight units gets an independent uniform draw
    (md5 of id|unit|salt), the row's key is the MAX draw — distributed
    as U^(1/w), the E-S key — and the top-k keys win (per ``group_col``
    when given, else globally). Quality-weighted corpus selection
    ("sample 1M docs, high-quality docs 10× likelier") with none of
    ``sampleBy``'s caveats: membership is a pure function of (id, salt),
    so the sample is reproducible across engines, runs, partitionings,
    and retries, and EXACT set equality is oracle-checkable.

    Scale: the key is one shuffle-free projection (array_max over a
    w-element transform — w is bounded by ``max_weight``, enforced
    row-level with raise_error so a corrupt weight fails loudly instead
    of skewing the draw); grouped top-k is a per-group window over keys,
    global top-k is orderBy+limit (TakeOrdered, no single-partition
    window). Key ties ARE possible — draws are 32-bit md5 slices, so
    two rows share a max key with birthday probability at corpus
    scale — which is why every ordering here tie-breaks on the id;
    the result stays total-order deterministic regardless.

    Output: id_col [, group_col], weight, sample_rank (1 = highest key).
    """
    from asvsp_spark.plans.base import md5_slice_long

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = F.col(weight_col).cast("int")
    # the equality leg rejects fractional weights: cast('int') truncates
    # silently (2.7 -> 2 draws would bias the sample low, no ANSI error),
    # so a non-integer weight must fail loudly like any other corrupt one
    ok = (w.isNotNull() & (w >= 1) & (w <= max_weight)
          & (F.col(weight_col) == w))
    id_str = F.col(id_col).cast("string")
    draws = F.transform(
        F.sequence(F.lit(0), w - 1),
        lambda r: md5_slice_long(
            F.concat_ws("|", id_str, r.cast("string"), F.lit(salt))))
    key = F.when(ok, F.array_max(draws)).otherwise(
        F.raise_error(F.lit(
            f"{weight_col} must be an integer in [1, {max_weight}]")))
    cols = [id_col] + ([group_col] if group_col else [])
    keyed = documents.select(*cols, w.alias("weight"), key.alias("_key"))
    if group_col:
        win = Window.partitionBy(group_col).orderBy(F.desc("_key"), id_col)
        return (keyed.withColumn("sample_rank", F.row_number().over(win))
                .filter(F.col("sample_rank") <= k)
                .select(*cols, "weight",
                        F.col("sample_rank").cast("int").alias("sample_rank")))
    top = keyed.orderBy(F.desc("_key"), id_col).limit(k)
    win = Window.orderBy(F.desc("_key"), id_col)
    return (top.withColumn("sample_rank",
                           F.row_number().over(win).cast("int"))
            .select(*cols, "weight", "sample_rank"))


def token_budget_mixing_plan(documents: DataFrame, token_budget: int,
                             weights: dict[str, float],
                             strat_col: str = "source",
                             text_col: str = "text") -> DataFrame:
    """Turn target mixture WEIGHTS plus a total token BUDGET into the
    per-stratum repeat plan a training run actually consumes: how many
    tokens each stratum must contribute (its normalized share of the
    budget), how many it HAS, and therefore its epoch count — full
    passes plus the leftover tokens the loader draws partially. This is
    the planning step between redundancy analysis
    (dedup.source_overlap_matrix) and materialization
    (mixture_rebalance / sharding): mixtures like "40% web, 30% code"
    are specified in tokens, and any stratum with target > available
    must repeat (epochs > 1), which the plan makes explicit instead of
    silently undersampling.

    Output per stratum: n_docs, n_tokens (BPE-ish subword estimator,
    functions/text.subword_token_count), target_tokens, epochs
    (round-6 double), n_full_epochs, remainder_tokens, and an
    ``oversampled`` flag (integer compare target > available — exact).

    Determinism/scale: shares are normalized DRIVER-SIDE so each
    stratum's target token count is an integer literal in the plan;
    the only data-dependent inputs are the per-stratum (n_docs,
    n_tokens) from ONE map-side-combining groupBy over the corpus scan;
    the epoch arithmetic is integer (floor division via the %-identity,
    no float boundary), so DuckDB hash-matches. Strata not in
    ``weights`` are excluded from the plan (weight them or they don't
    train); a weighted stratum whose normalized share rounds to a
    ZERO-token target raises up front — the budget cannot honor the
    declared mix, which must not degrade into a silent do-nothing row;
    weighted strata absent from the corpus simply have no row —
    check n_rows == len(weights) upstream if that must hold. A stratum
    whose texts are all empty/NULL supplies zero tokens and is likewise
    excluded (no epoch count is meaningful over an empty supply).
    """
    from asvsp_spark.functions.text import subword_token_count
    from asvsp_spark.plans.base import round_fixed

    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of positive "
                         f"shares, got {weights!r}")
    total_w = sum(weights.values())
    targets = {s: round(token_budget * (w / total_w))
               for s, w in weights.items()}
    zeroed = sorted(s for s, t in targets.items() if t == 0)
    if zeroed:
        # a weighted stratum whose share rounds to a zero-token target
        # is exactly the silent undersampling this plan exists to make
        # explicit — refuse instead of emitting a do-nothing row
        raise ValueError(
            "token_budget too small for the weight mix: strata "
            f"{zeroed} round to a zero-token target; raise the budget "
            "or their weights")

    t_expr = F.lit(None).cast("long")
    for stratum, target in targets.items():
        t_expr = F.when(F.col(strat_col) == stratum,
                        F.lit(int(target))).otherwise(t_expr)
    avail = (
        documents
        .withColumn("_target", t_expr)
        .filter(F.col("_target").isNotNull())
        .groupBy(strat_col)
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(subword_token_count(F.col(text_col))).alias("n_tokens"),
             F.max("_target").alias("target_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    tgt, n = F.col("target_tokens"), F.col("n_tokens")
    full = ((tgt - tgt % n) / n).cast("long")
    return avail.select(
        strat_col, "n_docs", "n_tokens", "target_tokens",
        round_fixed(tgt / n, 6).alias("epochs"),
        full.alias("n_full_epochs"),
        (tgt - full * n).alias("remainder_tokens"),
        (tgt > n).alias("oversampled"),
    )


def mixture_rebalance(documents: DataFrame,
                      targets: dict[str, float] | None = None,
                      strat_col: str = "lang", id_col: str = "doc_id",
                      salt: str = "mix42") -> DataFrame:
    """Rebalance a corpus toward TARGET mixture weights — the step that
    turns raw stratum counts into a training mixture ("40% en, 15% each
    es/de/fr/zh"): find the largest total M such that every stratum can
    supply its share (M = min over strata of n_s / t_s), set each
    stratum's quota to floor(M * t_s), and keep exactly that many
    documents, chosen deterministically by md5-rank (the same
    engine-portable order as sample_k_per_group, so EXACT membership is
    oracle-checkable). Strata without a target weight are dropped.

    Scale: stratum counts are a partial-aggregated groupBy on a
    low-cardinality key and both derived tables (counts, quotas) are
    broadcast; the rank needs one shuffle on the stratum key. Exact
    quotas cost that per-stratum rank — when approximate shares are
    acceptable at extreme scale, hash_stratified_sample keeps the same
    determinism with zero shuffles; exact quotas are what a token-budget
    mixture spec wants.
    """
    tg = targets or {"en": 0.4, "es": 0.15, "de": 0.15,
                     "fr": 0.15, "zh": 0.15}
    t_expr = F.lit(None).cast("double")
    for stratum, share in tg.items():
        t_expr = F.when(F.col(strat_col) == stratum,
                        F.lit(float(share))).otherwise(t_expr)
    d = documents.withColumn("_t", t_expr).filter(F.col("_t").isNotNull())
    counts = d.groupBy(strat_col).agg(
        F.count(F.lit(1)).alias("n_s"), F.max("_t").alias("t_s"))
    m = counts.agg(F.min(F.col("n_s") / F.col("t_s")).alias("m_total"))
    quotas = (counts.crossJoin(F.broadcast(m))
              .select(strat_col,
                      F.floor(F.col("m_total") * F.col("t_s"))
                      .alias("quota")))
    w = Window.partitionBy(strat_col).orderBy("h", id_col)
    return (
        d.withColumn("h", F.md5(F.concat(F.col(id_col).cast("string"),
                                         F.lit(salt))))
        .withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(quotas), strat_col)
        .filter(F.col("rk") <= F.col("quota"))
        .select(F.col(id_col), F.col(strat_col),
                F.col("rk").cast("int").alias("rk"),
                F.col("quota").cast("int").alias("quota"))
    )

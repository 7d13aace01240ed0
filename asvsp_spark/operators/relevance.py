"""Corpus relevance / vocabulary statistics: bigram counts, TF-IDF and
BM25 — the scoring layer of a training-data pipeline (quality-weighted
sampling, query-based filtering, vocabulary auditing). Beyond-parity
extension in the SURVEY §7.5 family (the reference has no text
relevance surface).

All pure column expressions + aggregations (no Python UDFs): one
explode over the token array, partial-aggregating counts, and a join
against per-term document frequencies. At 100 TB the explode is the
dominant cost and is embarrassingly parallel; every aggregation is a
map-side-combining groupBy on bounded keys (vocabulary, not corpus,
cardinality), and the scalar corpus stats (N, avgdl) are attached via
a broadcast cross-join of a 1-row frame — no driver collect.

Determinism: counts are exact integers; scores round to 4 decimals
AFTER all float math, and every rank orders by the ROUNDED score with
a lexical tie-break, so Spark and the DuckDB oracle rank identical
values (`ln` on both engines is the only sub-ulp risk and sits far
from the rounding boundary for these magnitudes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from asvsp_spark.functions import text as TX
from asvsp_spark.plans.base import fanout


def _round4(col: F.Column) -> F.Column:
    return F.round(col * 10000) / F.lit(10000.0)


def bigrams(text: F.Column) -> F.Column:
    """Adjacent-token bigram array; empty array for 0/1-token docs
    (the greatest() guard keeps slice() from negative lengths)."""
    toks = TX.tokens(text)
    return F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def top_bigrams(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Corpus-wide top-k adjacent-token bigrams by total frequency.

    Plan shape: explode -> partial-aggregating count -> TakeOrdered
    top-k (orderBy+limit is distributed; no global sort of the full
    vocabulary), then a rank column over the k survivors.
    """
    counts = (
        docs.select(F.explode(bigrams(F.col("text"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("bigram"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("tf"), F.asc("bigram"))
    return counts.withColumn("rk", F.row_number().over(w))


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, term) one row per token occurrence. No fanout():
    split+explode is whole-stage-codegen'd, so the round-robin shuffle
    of the full text costs more than the extra cores return (measured
    1.9x SLOWER at sf0.1 with fanout) — unlike the interpreted n-gram
    pipelines in operators/dedup.py, which fan out."""
    return docs.select(
        "doc_id", "lang",
        F.explode(TX.tokens(F.col("text"))).alias("term"))


def tfidf_top_terms(docs: DataFrame, top_k: int = 10) -> DataFrame:
    """Top-k terms per language by TF-IDF: tf = term occurrences within
    the language, idf = ln(N / df) with df = corpus-wide count of
    documents containing the term.

    Two bounded-key aggregations (lang×term, term) joined on term; N
    rides in via a broadcast 1-row cross-join. The final rank runs on
    the tiny lang×term aggregate, partitioned by lang.
    """
    toks = _doc_tokens(docs)
    tf = (toks.groupBy("lang", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_ = (toks.groupBy("term")
           .agg(F.countDistinct("doc_id").alias("df")))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf",
                    _round4(F.col("tf") *
                            F.log(F.col("n_docs") / F.col("df"))))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= top_k)
            .select("lang", "term", F.col("tf").alias("tf"),
                    F.col("df").alias("df"), "tfidf", "rk"))


def bm25_topk(docs: DataFrame, query_terms: tuple[str, ...],
              k1: float = 1.2, b: float = 0.75,
              top_k: int = 20) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25 (Robertson/
    Sparck Jones; the +1 inside the ln keeps idf positive for common
    terms — the 'BM25+'-style floor Lucene uses).

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1-b+b·dl/avgdl))

    The token explode is filtered to the query terms BEFORE the
    shuffle (a handful of terms -> the aggregated state is tiny), dl
    and avgdl are exact integer counts, and the per-term df join is a
    broadcast (|query| rows). One corpus scan total.
    """
    terms = list(dict.fromkeys(query_terms))
    dl = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"))
    hits = (_doc_tokens(docs)
            .filter(F.col("term").isin(terms))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf")))
    df_ = hits.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    idf = (df_.crossJoin(F.broadcast(stats))
           .withColumn("idf",
                       F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                             / (F.col("df") + 0.5))))
    per_term = (
        hits.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .withColumn(
            "contrib",
            F.col("idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf")
               + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))
    )
    scored = (per_term.groupBy("doc_id")
              .agg(_round4(F.sum("contrib")).alias("bm25"),
                   F.count(F.lit(1)).alias("n_terms_matched"))
              .orderBy(F.desc("bm25"), F.asc("doc_id"))
              .limit(top_k))
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return scored.withColumn("rk", F.row_number().over(w))


def unigram_logprob_score(docs: DataFrame,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          lang_col: str = "lang") -> DataFrame:
    """Per-document average unigram log-probability under that document's
    own language model — the CCNet-style perplexity proxy used to rank
    corpus quality (low average log-prob = out-of-distribution text).

    Model = corpus-trained unigram MLE per language: p(tok | lang) =
    count(lang, tok) / total(lang). Every token the scorer sees exists
    in the model by construction (trained on the same corpus), so there
    is no OOV branch; a held-out split would add one coalesce.

    Shape: one explode feeds BOTH the model counts and the scoring join —
    groupBy (lang, tok) partial-aggregates to vocabulary cardinality, the
    per-lang totals broadcast, and the scoring join shuffles on the
    (lang, tok) key (vocabulary-distributed, not corpus-hot). Scores sum
    exact integer counts through ln() and round to 6 AFTER the division.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"), F.col(lang_col).alias("lang"),
        F.explode(TX.tokens(F.col(text_col))).alias("tok"))
    model = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("c_lt"))
    totals = model.groupBy("lang").agg(F.sum("c_lt").alias("c_l"))
    scored = (
        toks.join(model, ["lang", "tok"])
        .join(F.broadcast(totals), "lang")
        .groupBy(F.col("doc").alias("doc_id"), "lang")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.avg(F.log(F.col("c_lt") / F.col("c_l")))
              .alias("avg_lp"))
    )
    from asvsp_spark.plans.base import round_fixed
    return scored.select(
        "doc_id", "lang", F.col("n_tokens").cast("int").alias("n_tokens"),
        round_fixed(F.col("avg_lp"), 6).alias("avg_logprob"))


def bigram_backoff_score(docs: DataFrame, train_filter=None,
                         alpha: float = 0.4,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         lang_col: str = "lang") -> DataFrame:
    """Per-document average bigram log-probability under Stupid Backoff
    (Brants et al., "Large Language Models in Machine Translation",
    EMNLP 2007 — the web-scale scoring rule that skips normalization):

        S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if bigram seen
                         = alpha * (c(w_i) + 1) / (N + V) otherwise
                           (add-one-smoothed unigram backoff, so unseen
                           tokens never hit log(0))

    trained per language on the ``train_filter`` subset (default: even
    doc_ids — a deterministic held-out split, so the backoff branch
    genuinely fires for odd docs' unseen bigrams) and scored over all
    documents with >= 1 bigram whose language HAS a trained model —
    a language with zero training-split docs has no (N, V) row, and its
    documents are excluded from the output (inner model join, mirrored
    by the oracle) rather than scored against nothing; pick a
    train_filter that covers every language you need scored.

    Shape: bigram extraction is shuffle-free (arrays_zip of two slices
    of the token array, exploded — no per-doc sort window); model
    counts partial-aggregate to vocabulary cardinality; scoring joins
    shuffle on (lang, prev[, tok]) — vocabulary-distributed keys; the
    per-lang (N, V) table broadcasts. Exact integer counts flow through
    ln() with rounding only after the final average, the same
    cross-engine contract as unigram_logprob_score.
    """
    from asvsp_spark.plans.base import round_fixed

    if train_filter is None:
        train_filter = F.col(id_col) % 2 == 0

    base = docs.select(
        F.col(id_col).alias("doc"), F.col(lang_col).alias("lang"),
        TX.tokens(F.col(text_col)).alias("toks"), train_filter.alias("tr"))
    pairs = (base
             .withColumn("prevs", F.expr("slice(toks, 1, size(toks) - 1)"))
             .withColumn("nexts", F.expr("slice(toks, 2, size(toks) - 1)"))
             .withColumn("z", F.explode(F.arrays_zip("prevs", "nexts")))
             .select("doc", "lang", "tr",
                     F.col("z.prevs").alias("prev"),
                     F.col("z.nexts").alias("tok")))
    train_pairs = pairs.filter("tr")
    c2 = (train_pairs.groupBy("lang", "prev", "tok")
          .agg(F.count(F.lit(1)).alias("c2")))
    train_toks = (base.filter("tr")
                  .select("lang", F.explode("toks").alias("tok")))
    c1 = train_toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("c1"))
    nv = c1.groupBy("lang").agg(F.sum("c1").alias("n_l"),
                                F.count(F.lit(1)).alias("v_l"))
    c1_prev = c1.select("lang", F.col("tok").alias("prev"),
                        F.col("c1").alias("c1_prev"))
    s = (pairs
         .join(c2, ["lang", "prev", "tok"], "left")
         .join(c1_prev, ["lang", "prev"], "left")
         .join(c1, ["lang", "tok"], "left")
         .join(F.broadcast(nv), "lang")
         .withColumn("s", F.when(
             F.col("c2").isNotNull(),
             F.col("c2") / F.col("c1_prev"))
             .otherwise(F.lit(alpha) * (F.coalesce("c1", F.lit(0)) + 1)
                        / (F.col("n_l") + F.col("v_l")))))
    return (s.groupBy(F.col("doc").alias(id_col), "lang")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.avg(F.log("s")).alias("avg_lp"))
            .select(id_col, "lang",
                    F.col("n_bigrams").cast("int").alias("n_bigrams"),
                    round_fixed(F.col("avg_lp"), 6).alias("avg_logprob")))


# ----------------------------------------------------------- DSIR

def _md5_bucket(col: F.Column, n_buckets: int, salt: str = "") -> F.Column:
    """Deterministic feature-hash bucket: first 32 bits of md5, mod
    n_buckets — the dedup family's md5-slice construction, bit-identical
    in DuckDB (('0x'||substr(md5(..),1,8))::BIGINT % B), which is what
    keeps every DSIR stage oracle-checkable."""
    from asvsp_spark.plans.base import md5_slice_long
    src = F.concat(col, F.lit(salt)) if salt else col
    return F.pmod(md5_slice_long(src), F.lit(n_buckets))


def dsir_weights(docs: DataFrame, target_filter: F.Column | None = None,
                 n: int = 2, n_buckets: int = 10_000,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023 — public method):
    score every RAW document by how target-like its hashed n-gram
    profile is,

        log w(x) = sum over n-gram instances g of x:
                   ln p_target(h(g)) - ln q_raw(h(g))

    with h = md5-bucket into ``n_buckets`` and both models add-1
    smoothed bucket unigrams. ``target_filter`` marks the target-domain
    rows INSIDE ``docs`` (default: lang = 'en'); the raw model is the
    whole corpus. Output: (doc_id, n_grams, log_weight) for every doc,
    n_grams counting instances (not distinct — DSIR is a bag-of-features
    statistic).

    Scale shape: one token explode (embarrassingly parallel), two
    bounded groupBys onto the n_buckets feature space, one broadcast
    join of the (n_buckets)-row model table onto the gram stream, and a
    map-side-combining per-doc sum. Nothing shuffles at corpus
    cardinality except the per-doc aggregate keyed by doc id. The
    model table is ~n_buckets rows regardless of corpus size — at
    100 TB the models are still a broadcast.
    """
    from asvsp_spark.plans.base import round_fixed
    if target_filter is None:
        target_filter = F.col("lang") == "en"
    # NULL predicate (e.g. lang IS NULL under the default filter) means
    # "not target", not "unknown": an un-coalesced NULL poisons c_tgt's
    # sum for every bucket whose grams come only from such docs (sum of
    # all-NULL is NULL, not 0), which NULLs the log-ratio and corrupts
    # the weight of every doc touching those buckets (r10 edge probe).
    toks = fanout(docs).select(
        F.col(id_col).alias("doc"),
        F.coalesce(target_filter, F.lit(False)).alias("is_target"),
        TX.tokens(F.col(text_col)).alias("toks"))
    grams = toks.select(
        "doc", "is_target",
        F.explode(TX.token_ngrams("toks", n)).alias("g"))
    feats = grams.select(
        "doc", "is_target", _md5_bucket(F.col("g"), n_buckets).alias("b"))

    # add-1-smoothed bucket models; a single pass computes both counts
    counts = (feats.groupBy("b")
              .agg(F.count(F.lit(1)).alias("c_raw"),
                   F.sum(F.col("is_target").cast("long")).alias("c_tgt")))
    totals = counts.agg(F.sum("c_raw").alias("t_raw"),
                        F.sum("c_tgt").alias("t_tgt"))
    model = (counts.crossJoin(F.broadcast(totals))
             .select("b",
                     (F.log((F.col("c_tgt") + 1)
                            / (F.col("t_tgt") + n_buckets))
                      - F.log((F.col("c_raw") + 1)
                              / (F.col("t_raw") + n_buckets))).alias("lr")))
    return (feats.join(F.broadcast(model), "b")
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum("lr").alias("lw"))
            .select(F.col("doc").alias(id_col),
                    F.col("n_grams").cast("int").alias("n_grams"),
                    round_fixed(F.col("lw"), 6).alias("log_weight")))


def dsir_resample(docs: DataFrame, keep_frac: float = 0.4,
                  target_filter: F.Column | None = None,
                  n: int = 2, n_buckets: int = 10_000,
                  id_col: str = "doc_id", text_col: str = "text",
                  salt: str = "dsir42") -> DataFrame:
    """The resampling half of DSIR: keep ``keep_frac`` of the scored
    corpus by Gumbel-top-k over the importance weights — sampling
    WITHOUT replacement proportional to w(x) (Vieira 2014's Gumbel-max
    trick), which is DSIR's selection rule. The Gumbel noise is
    DETERMINISTIC: u = (md5-bucket(doc_id|salt) + 0.5) / 1e6,
    g = -ln(-ln(u)) — reproducible across runs, retries and engines,
    so the EXACT kept set is oracle-checkable (same stance as
    mixture_rebalance's md5-rank membership).

    Output: the kept documents' (doc_id, n_grams, log_weight, rk) with
    rk the 1-based Gumbel-perturbed rank. Quota = floor(keep_frac * N)
    over scored docs (docs with zero n-grams score no weight and are
    never kept — they carry no evidence either way).

    Scale note: the exact Gumbel-top-k needs ONE global rank over the
    scored corpus (an unpartitioned row_number — a single-reducer sort
    of (key, id) pairs, ~16 bytes/doc; fine to ~1e9 docs, and the
    exactness is what makes the kept set oracle-checkable). Past that,
    select by THRESHOLD instead: approxQuantile(k, 1 - keep_frac) and
    filter — same distribution, no global sort, rows-only check.
    """
    from asvsp_spark.plans.base import round_fixed
    w = dsir_weights(docs, target_filter, n, n_buckets, id_col, text_col)
    u = (_md5_bucket(F.col(id_col).cast("string"), 1_000_000,
                     salt="|" + salt) + 0.5) / 1_000_000.0
    key = F.col("log_weight") + (-F.log(-F.log(u)))
    win = Window.orderBy(F.desc("k"), F.asc(id_col))
    scored = w.withColumn("k", round_fixed(key, 6))
    total = scored.agg(F.count(F.lit(1)).alias("n_scored"))
    return (scored
            .withColumn("rk", F.row_number().over(win))
            .crossJoin(F.broadcast(total))
            .filter(F.col("rk")
                    <= F.floor(F.lit(keep_frac) * F.col("n_scored")))
            .select(id_col, "n_grams", "log_weight",
                    F.col("rk").cast("int").alias("rk")))


# --------------------------------------------------- PMI collocations

def pmi_collocations(docs: DataFrame, min_pair_count: int = 5,
                     top_k: int = 50,
                     text_col: str = "text") -> DataFrame:
    """Top-k collocations by pointwise mutual information (Church &
    Hanks, "Word Association Norms, Mutual Information, and
    Lexicography", CL 1990):

        pmi(a, b) = ln( (n_ab / N_pairs) / ((n_a / N) * (n_b / N)) )

    over adjacent-token pairs, with ``min_pair_count`` suppressing the
    low-count pairs whose PMI estimates are noise (the standard guard —
    PMI diverges for hapax pairs). Output: (w1, w2, n_pair, pmi, rk).

    Shape at 100 TB: two corpus explodes (tokens, bigrams) feed two
    partial-aggregating counts keyed by VOCABULARY (bounded, tiny
    relative to the corpus); the pair table joins the unigram table
    twice on a word key — vocabulary-sized shuffles, never
    corpus-sized, and the min-count filter runs BEFORE the joins so
    only plausible collocations move. Top-k is orderBy+limit
    (TakeOrdered, no global sort of the pair vocabulary).
    """
    from asvsp_spark.plans.base import round_fixed
    split_docs = docs.select(TX.tokens(F.col(text_col)).alias("toks"))
    toks = split_docs.select(F.explode("toks").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    n_uni = uni.agg(F.sum("n_w").alias("n_tokens"))
    # token_ngrams, not the zip_with/slice bigrams() helper: the
    # direct-subscript form is the measured-faster spelling for the
    # corpus-dominant explode (see dedup._shingle_array_expr)
    pairs = (split_docs.select(
                 F.explode(TX.token_ngrams("toks", 2)).alias("bg"))
             .groupBy("bg").agg(F.count(F.lit(1)).alias("n_pair"))
             .filter(F.col("n_pair") >= int(min_pair_count))
             .select(F.split(F.col("bg"), " ").getItem(0).alias("w1"),
                     F.split(F.col("bg"), " ").getItem(1).alias("w2"),
                     "n_pair"))
    # N_pairs needs no extra corpus pass: every doc with t tokens has
    # t - 1 adjacent pairs, so N_pairs = N_tokens - N_docs. count(text)
    # (not count(*)) so NULL-text docs — zero tokens, zero pairs — do
    # not deflate N_pairs and bias every PMI upward.
    n_docs = docs.agg(F.count(F.col(text_col)).alias("n_docs"))
    scored = (pairs
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("n_w").alias("n_w1")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("n_w").alias("n_w2")), "w2")
              .crossJoin(F.broadcast(n_uni))
              .crossJoin(F.broadcast(n_docs))
              .select("w1", "w2", "n_pair",
                      round_fixed(
                          F.log((F.col("n_pair")
                                 / (F.col("n_tokens") - F.col("n_docs")))
                                / ((F.col("n_w1") / F.col("n_tokens"))
                                   * (F.col("n_w2") / F.col("n_tokens")))),
                          6).alias("pmi")))
    top = (scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
           .limit(int(top_k)))
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (top.withColumn("rk", F.row_number().over(w))
            .select("w1", "w2", F.col("n_pair").cast("int").alias("n_pair"),
                    "pmi", F.col("rk").cast("int").alias("rk")))

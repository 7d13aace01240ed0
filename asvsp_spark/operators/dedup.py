"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard near-dup, MinHash+LSH, SimHash. Beyond-parity extension
(SURVEY §7.5) designed for 100TB corpora.

Scale design:
- Exact dedup is a hash-groupBy — one shuffle on a 16-byte digest, fully
  partial-aggregatable.
- Near-dup NEVER does an O(n^2) crossJoin. Exact Jaccard uses an inverted
  shingle index (explode -> self-join on shingle -> pair counts): cost is
  sum over shingles of df^2, which posting-list pruning keeps near-linear
  for natural corpora.
- MinHash-LSH is the sub-linear path: k hash functions -> b bands of r
  rows; candidate pairs only within equal band buckets, then verified
  with exact Jaccard. All hashing is expression-level (an md5-derived
  double-hashing family, DuckDB-reproducible), no Python in the loop.
- SimHash gives a 64-bit sketch per document via xxhash64 bit-voting —
  joinable on (near-)equal sketches; Hamming-close pairs via band keys.

Every operator is a pure DataFrame transform returning columns the
oracle can check (where SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from asvsp_spark.functions.text import fingerprint, token_count, tokens
from asvsp_spark.plans.base import fanout, round_fixed
from asvsp_spark.sources.store import (BatchStore, batch_key, count_and_key,
                                       key_columns, key_sums)


def exact_dedup(documents: DataFrame,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Canonical-text exact dedup: one row per distinct fingerprint with
    the smallest id as the keeper and the duplicate count."""
    return (
        documents
        .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_posting(documents: DataFrame, n: int = 3,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Inverted-index posting list: one (doc, sh) row per DISTINCT word
    n-gram shingle per document.

    Shape: SHUFFLE-FREE — split once into a token-array column, build
    the distinct n-gram array per doc (TX.token_ngrams direct-subscript
    transform + array_distinct), then explode. Both the within-doc dedup (array_distinct) and the
    n-gram assembly are per-row, so the posting list streams out of the
    parquet scan with no exchange at all; downstream consumers shuffle
    on whatever key they need. Documents shorter than n words contribute
    no rows (explicit CASE — Spark's sequence(1, 0) counts DOWN, so an
    unguarded transform would emit junk sub-n-grams for short docs).

    Two formulations measured at sf0.1 (260k shingles) before this one:
    posexplode + window-lead + dropDuplicates = two shuffles, 1.8-3.6 s;
    a single-expression HOF that re-splits the text inside the lambda
    (Catalyst evaluates the split per ELEMENT) ~3 s. Pre-splitting into
    a column first: 0.55 s. fanout() spreads the interpreted n-gram
    projection across all cores when the scan arrives under-split
    (plans/base.py — no-op at production partition counts).
    """
    documents = fanout(documents)
    toks = documents.select(
        F.col(id_col).alias("doc"),
        tokens(F.col(text_col)).alias("toks"))
    return toks.select(
        "doc", F.explode(_shingle_array(n)).alias("sh"))


def _shingle_array(n: int) -> F.Column:
    """Distinct n-gram array from a `toks` column — TX.token_ngrams
    (the single direct-subscript n-gram spelling: slice-in-lambda
    copies n elements PER POSITION, measured ~20% slower at sf0.1)
    wrapped in the within-doc dedup."""
    from asvsp_spark.functions.text import token_ngrams
    return F.array_distinct(token_ngrams("toks", n))


def shingled(documents: DataFrame, n: int = 3,
             id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, shingles array<string>) — set form of shingle_posting for
    operators that need whole-set ops (array_intersect verification).
    Built directly in one shuffle-free projection (the same expression
    shingle_posting explodes), NOT by re-grouping the posting list —
    exploding and collect_list-ing back would add a full shuffle for
    no semantic gain. Docs shorter than n words carry an EMPTY array
    (one row per input doc): filtering them here would evaluate the
    interpreted n-gram expression twice (once in the size() predicate,
    once in the projection — no cross-operator CSE for non-codegen
    exprs; measured 15x slower at sf0.1), and every consumer either
    explodes (empty arrays vanish) or joins by doc id (empty arrays
    cannot be candidates). fanout() spreads the interpreted n-gram
    build across cores when the scan arrives under-split."""
    documents = fanout(documents)
    toks = documents.select(
        F.col(id_col).alias("doc"),
        tokens(F.col(text_col)).alias("toks"))
    return toks.select("doc", _shingle_array(n).alias("shingles"))


def df_capped_posting(posting: DataFrame, max_df: int | None) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The scale guard for every posting-list self-join: a boilerplate
    shingle shared by k documents contributes k^2 candidate rows, so one
    hot shingle (license header, template banner) turns a near-linear
    join quadratic. High-df shingles carry no discriminative signal —
    dropping them from CANDIDATE GENERATION (never from verification)
    keeps candidate counts linear without changing verified scores.
    """
    if max_df is None:
        return posting
    rare = (posting.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("sh"))
    return posting.join(rare, "sh", "left_semi")


def jaccard_pairs(documents: DataFrame, n: int = 3, threshold: float = 0.5,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_df: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via inverted shingle
    index (no crossJoin). Candidates = pairs sharing >= 1 shingle with
    document frequency <= max_df; scores stay EXACT under the cap. A
    pair whose every shared shingle is hotter than max_df is missed by
    construction — such pairs share only boilerplate.

    Shape (the self-join stays pair-count aggregation, never per-pair
    set materialization): shingles are split into RARE (df <= max_df)
    and HOT. Hot shingles number at most posting_rows / max_df by
    definition, so the hot list broadcasts at any corpus size; the
    rare/hot split is then two broadcast semi/anti joins — no extra
    shuffle of the posting list. Shared-shingle counts come from the
    capped self-join (rare part, linear by construction) plus an
    array_intersect of the tiny per-doc HOT sets (exact correction), so
    the cap bounds discovery cost without distorting a single score.

    The posting list feeds several branches; localCheckpoint
    materializes it once instead of recomputing the window+dedup
    pipeline per branch. The per-doc shingle count rides ON the posting
    rows (F.size of the pre-explode array — free at build time) instead
    of a posting-wide groupBy(doc) + two pair-list joins at the end:
    that removes one full posting shuffle and two shuffles of the pair
    list for 8 bytes per posting row through the sh self-join
    (guide §2.3/§2.4; r10)."""
    # the ARRAY form is what gets checkpointed (minhash_lsh_pairs'
    # staging rule): size() and explode() must read the MATERIALIZED
    # column — deriving them straight off the lazy shingled() projection
    # lets Catalyst collapse the projects and inline the interpreted
    # n-gram expression once under each consumer (measured 6x slower at
    # sf0.1, the same trap the shingled() docstring documents)
    sets = (shingled(documents, n, id_col, text_col)
            .localCheckpoint(eager=False))
    posting = sets.select(
        "doc", F.size("shingles").cast("long").alias("n_sh"),
        F.explode("shingles").alias("sh"))
    if max_df is not None:
        # <= posting_rows/max_df distinct hot shingles: broadcastable by
        # construction (each one occurs in > max_df posting rows).
        # Checkpointed: THREE consumers below (anti, semi, and their
        # broadcasts) would otherwise each re-run the posting-wide df
        # aggregate — no cross-branch CSE in Catalyst (r10).
        hot = (posting.groupBy("sh")
               .agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > max_df)
               .select("sh")
               .localCheckpoint(eager=False))
        pruned = posting.join(F.broadcast(hot), "sh", "left_anti")
        hot_sets = (posting.join(F.broadcast(hot), "sh", "left_semi")
                    .groupBy("doc")
                    .agg(F.collect_list("sh").alias("hot_sh")))
    else:
        pruned = posting
        hot_sets = None
    a, b = pruned.alias("a"), pruned.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_rare"),
             F.min(F.col("a.n_sh")).alias("n_a"),
             F.min(F.col("b.n_sh")).alias("n_b"))
    )
    if hot_sets is not None:
        ha = hot_sets.select(F.col("doc").alias("doc_a"),
                             F.col("hot_sh").alias("hot_a"))
        hb = hot_sets.select(F.col("doc").alias("doc_b"),
                             F.col("hot_sh").alias("hot_b"))
        inter = (
            inter.join(ha, "doc_a", "left").join(hb, "doc_b", "left")
            .withColumn(
                "n_inter",
                F.col("n_rare") + F.when(
                    F.col("hot_a").isNotNull() & F.col("hot_b").isNotNull(),
                    F.size(F.array_intersect("hot_a", "hot_b"))
                ).otherwise(F.lit(0)))
            .select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
        )
    else:
        inter = inter.select("doc_a", "doc_b",
                             F.col("n_rare").alias("n_inter"),
                             "n_a", "n_b")
    return (
        inter
        .withColumn("jaccard",
                    F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b",
                round_fixed(F.col("jaccard"), 6).alias("jaccard"))
    )


def minhash_signatures(posting: DataFrame, num_hashes: int = 16) -> DataFrame:
    """k minhash values per doc via seeded-md5 slicing: md5(seed||'|'||s)
    per seed j = 0..ceil(k/4)-1, each 128-bit digest sliced into four
    INDEPENDENT 32-bit hash values (8 hex chars each):

        h_{4j+t}(s) = int(md5(j||'|'||s)[8t : 8t+8 hex]),  t in 0..3

    Independence across the k hashes is what makes the agreement
    estimator's variance shrink as j(1-j)/k — a double-hashing family
    (h1 + i*h2 mod P) reuses 128 bits across all k and its correlated
    minima estimate Jaccard with near-constant variance (measured: a
    J=0.4 pair estimated at 0.59 with 64 "hashes"). Slicing costs
    ceil(k/4) md5 calls per shingle instead of k.

    Every step — md5 of the seeded string, hex substring, hex->int — is
    bit-identical in DuckDB (('0x'||substr(md5(j||'|'||s),..))::BIGINT),
    so MinHash-LSH output is DuckDB-oracle-checkable end-to-end, the
    same property that made ``winnow_fingerprints`` hash-checkable.
    32-bit values keep doc-internal birthday collisions negligible and
    sit far inside signed-64 range in both engines.

    Shape: explode shingles once, compute the k hashes as PLAIN columns
    (whole-stage codegen; each digest's four slices share one md5 under
    codegen subexpression elimination), then groupBy(doc).agg(min...).
    Higher-order lambda variants (array_min over transform) are
    interpreted per-element by Catalyst and run orders of magnitude
    slower on wide corpora. The k mins partial-aggregate map-side, so
    the shuffle carries one k-wide row per doc. Input is a (doc, sh)
    posting list. (A hash-the-distinct-vocabulary-then-join variant was
    measured at sf0.1: the dedup shuffle + join cost MORE than the
    9.6x duplicate-factor md5 saving — inline 0.3-0.6 s vs joined
    0.8-1.0 s on a materialized posting; codegen'd md5 is cheap enough
    that recompute beats exchange.)
    """
    from asvsp_spark.plans.base import md5_slice_long
    hash_cols = []
    for i in range(num_hashes):
        j, t = divmod(i, 4)
        seeded = F.concat_ws("|", F.lit(str(j)), F.col("sh"))
        hash_cols.append(md5_slice_long(seeded, t).alias(f"h_{i}"))
    return (
        posting.select("doc", *hash_cols)
        .groupBy("doc")
        .agg(*[F.min(f"h_{i}").alias(f"mh_{i}") for i in range(num_hashes)])
    )


def _lsh_candidates(documents: DataFrame, n: int, num_hashes: int,
                    bands: int, max_bucket: int | None,
                    id_col: str, text_col: str):
    """Shared LSH staging for ``minhash_lsh_pairs`` and
    ``minhash_calibration`` — the calibration MUST measure the exact
    candidate set the pair query emits, so there is one copy of the
    shingle/signature/band/hot-bucket construction. Returns
    (sets, sig, candidates): the checkpointed per-doc shingle arrays,
    the checkpointed signature frame, and the distinct (doc_a < doc_b)
    candidate pairs. Checkpoint policy and the max_bucket anti-join
    rationale are documented at the minhash_lsh_pairs call site.
    """
    rows = num_hashes // bands
    sets = (shingled(documents, n, id_col, text_col)
            .localCheckpoint(eager=False))
    posting = sets.select("doc", F.explode("shingles").alias("sh"))
    sig = minhash_signatures(posting, num_hashes).localCheckpoint(eager=True)
    band_cols = [
        F.concat_ws("_", F.lit(bi),
                    *[F.col(f"mh_{bi * rows + r}") for r in range(rows)])
        .alias("band_key")
        for bi in range(bands)
    ]
    buckets = sig.select(
        "doc", F.explode(F.array(*band_cols)).alias("band_key"))
    if max_bucket is not None:
        hot = (buckets.groupBy("band_key")
               .agg(F.count(F.lit(1)).alias("bsz"))
               .filter(F.col("bsz") > max_bucket)
               .select("band_key"))
        buckets = buckets.join(hot, "band_key", "left_anti")
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return sets, sig, candidates


def minhash_lsh_pairs(documents: DataFrame, n: int = 3, threshold: float = 0.5,
                      num_hashes: int = 16, bands: int = 8,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_bucket: int | None = 500) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    bands x rows = num_hashes; a pair collides if any band's row-slice of
    the signature matches. Collision probability 1-(1-j^r)^b — with 16
    hashes / 8 bands (r=2), j=0.5 pairs are caught w.p. ~0.9. Verified
    pairs are a (high-recall) subset of jaccard_pairs' output; the final
    jaccard is exact, so no false positives.

    Hot-key guard (the band-join twin of df_capped_posting): a band
    bucket holding k docs yields k^2 candidates, so buckets larger than
    ``max_bucket`` are dropped before the self-join — standard LSH
    practice; only recall on giant (> max_bucket) duplicate cliques is
    affected, and those surface through any of their other bands.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): a remainder would silently drop hashes and "
            "change the advertised collision probability")
    # EAGER checkpoints on the small shared subtrees: the per-doc
    # shingle ARRAY feeds the signature build AND the verification
    # join; sig feeds the band explode THREE times (self-join a/b +
    # the hot-bucket count); the candidate set feeds the final join
    # twice. Left lazy, Catalyst re-executes each subtree per consumer
    # (only identical Exchanges are reused) — measured 5.4 s vs ~3 s
    # staged at sf0.1. Keeping the SET form (one array row per doc)
    # instead of the exploded posting also lets verification join the
    # arrays directly — no collect_list re-grouping shuffle. All
    # checkpointed frames are one-row-per-doc (or smaller), so
    # executor storage cost is negligible at any SF. Two tradeoffs,
    # deliberate: CONSTRUCTING this DataFrame runs the staging jobs
    # eagerly (this is a terminal pipeline stage, not a composable
    # view — call it when you mean to run it), and localCheckpoint
    # truncates lineage, so losing an executor mid-invocation fails
    # the query instead of recomputing — the standard re-run-the-stage
    # answer for batch pipelines, not for jobs needing lineage HA.
    # sets is a LAZY checkpoint: the eager sig job below computes it
    # once and persists it as a side effect (one fewer job), and the
    # final verification join reads the persisted copy.
    # staging shared with minhash_calibration (see _lsh_candidates).
    # max_bucket policy: anti-join against the HOT key set (<=
    # rows/max_bucket keys by construction) rather than semi-join
    # against the large cold set. No forced broadcast hint:
    # rows/max_bucket is SMALL relative to the corpus but still grows
    # linearly with it (~16M keys at 1e9 docs x 8 bands / 500) — a hard
    # F.broadcast would bypass autoBroadcastJoinThreshold and OOM
    # exactly at scale; AQE picks broadcast at runtime whenever the set
    # actually fits, which is every sane corpus size below that.
    sets, _sig, candidates = _lsh_candidates(
        documents, n, num_hashes, bands, max_bucket, id_col, text_col)
    # exact verification on candidates only: join the checkpointed
    # per-doc shingle arrays straight onto the (tiny) candidate pair
    # list — only candidate docs' arrays move, and there is no
    # re-grouping shuffle because the set form was never exploded
    sh_a = sets.select(F.col("doc").alias("doc_a"),
                       F.col("shingles").alias("sh_a"))
    sh_b = sets.select(F.col("doc").alias("doc_b"),
                       F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sh_a, "doc_a").join(sh_b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        # arrays are distinct sets, so |A u B| = |A| + |B| - |A n B| —
        # one set-hash pass instead of array_union's second
        .withColumn("n_union",
                    F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
        .withColumn("jaccard", F.col("n_inter") / F.col("n_union"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", round_fixed(F.col("jaccard"), 6).alias("jaccard"))
    )


def simhash64(documents: DataFrame,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: md5 each token, vote per bit of the
    digest's first 64 bits, pack the sign vector. Expression-level fold
    (conditional-sum aggregates); no Python in the loop.

    The token hash is the digest's two leading 32-bit hex slices
    (h_lo = hex[0:8], h_hi = hex[8:16]) — the same DuckDB-reproducible
    construction as ``minhash_signatures`` (('0x'||substr)::BIGINT is
    bit-identical to conv(substring(...),16,10)), which makes the WHOLE
    simhash + Hamming-band pipeline oracle-checkable; xxhash64 (the
    previous family) has no DuckDB twin.

    Output: (doc_id, simhash long). Near-dups have small Hamming
    distance; pair generation joins on 4x16-bit band keys (any equal
    band => candidate), the standard <=3-bit-error trick scaled to 64
    bits.
    """
    # Shape: explode tokens, hash each ONCE (md5 shared across the two
    # slices by codegen CSE), aggregate 64 conditional-sum vote columns
    # (plain codegen'd expressions, map-side partial agg), then pack
    # the sign vector. The lambda/HOF formulation (aggregate + zip_with
    # over a 64-element array per token) is interpreted by Catalyst and
    # ~100x slower.
    from asvsp_spark.plans.base import md5_slice_long
    # fanout: the small-file guard every other tokenizing operator
    # already carries (shingle_posting, _window_hash_arrays) — without
    # it a sub-split-size corpus file arrives as ONE scan partition and
    # the token explode + md5 + 64 vote aggregates run on a single core
    # (measured 2.6 s -> 1.0 s at sf0.1 local[32]); no-op at production
    # partition counts.
    tok_hashes = (
        fanout(documents)
        .select(F.col(id_col).alias("doc"),
                F.explode(tokens(F.col(text_col))).alias("t"))
        .select("doc",
                md5_slice_long(F.col("t"), 0).alias("h_lo"),
                md5_slice_long(F.col("t"), 1).alias("h_hi"))
    )
    vote_cols = [
        F.sum(
            F.when(F.shiftright(F.col("h_lo" if b < 32 else "h_hi"),
                                b % 32).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(64)
    ]
    pack = None
    for b in range(64):
        # shiftleft on a JVM long: bit 63 wraps to the sign bit, which a
        # Python 1 << 63 literal (> Long.MAX_VALUE) cannot express
        bit = F.when(F.col(f"v_{b}") > 0,
                     F.shiftleft(F.lit(1).cast("long"), b)) \
               .otherwise(F.lit(0).cast("long"))
        pack = bit if pack is None else pack.bitwiseOR(bit)
    return (
        tok_hashes.groupBy("doc").agg(*vote_cols)
        .select(F.col("doc").alias(id_col), pack.alias("simhash"))
    )


def simhash_pairs(documents: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hamming-close pairs via 4x16-bit SimHash bands: pairs within
    Hamming distance 3 must share at least one of 4 bands."""
    sig = simhash64(documents, id_col, text_col)
    # band key as ONE long (slot*2^16 + 16-bit band value) instead of a
    # 'slot_value' string: same collision classes (slots are disjoint
    # ranges), ~3x narrower join key through the band exchange
    # (optimization guide §2.3 "narrower types").
    bands = sig.select(
        F.col(id_col).alias("doc"), "simhash",
        F.explode(F.array(*[
            (F.shiftright("simhash", i * 16)
             .bitwiseAND(F.lit(0xFFFF).cast("long"))
             + F.lit(i * 65536).cast("long"))
            for i in range(4)
        ])).alias("band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    # hamming filter BEFORE the dedup exchange: hamming is a pure
    # function of the candidate pair, so filtering first drops the
    # (vastly more numerous) far pairs from the distinct's shuffle
    # instead of deduplicating rows we then discard (guide §2.3
    # "shuffle fewer bytes"). Result set unchanged — distinct over
    # (doc_a, doc_b, hamming) dedups band-collision multiplicity
    # exactly as the old pre-filter distinct did.
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnow_fingerprints(documents: DataFrame, k: int = 3, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(doc, fps array<string>) — winnowing document fingerprints
    (Schleimer et al., "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD'03 — the MOSS scheme): hash every word
    k-gram, then keep the minimum hash of each window of ``w``
    consecutive k-gram hashes. Guarantees any shared substring of
    length >= k + w - 1 tokens contributes at least one shared
    fingerprint, while storing ~2/(w+1) of the k-gram hashes — the
    sketch that makes substring-level dedup affordable at corpus scale.

    Pure array expressions in one projection (no explode, no shuffle):
    fingerprinting runs at parquet scan speed. Hashes are md5 hex
    strings min-compared LEXICOGRAPHICALLY — identical in DuckDB, so
    the operator is oracle-checkable end-to-end. Docs shorter than k
    tokens fingerprint to empty; docs with fewer than w k-grams keep
    the single global min (standard winnowing tail case).
    """
    from asvsp_spark.functions.text import token_ngrams
    kg = documents.select(
        F.col(id_col).alias("doc"),
        tokens(F.col(text_col)).alias("toks"))
    kg = kg.select("doc", token_ngrams("toks", k).alias("kg"))
    hs = kg.select("doc", F.expr("transform(kg, g -> md5(g))").alias("hs"))
    return hs.select(
        "doc",
        F.expr(
            f"CASE WHEN size(hs) >= {w} THEN "
            f"array_distinct(transform(sequence(0, size(hs) - {w}), "
            f"i -> array_min(slice(hs, i + 1, {w})))) "
            f"WHEN size(hs) > 0 THEN array(array_min(hs)) "
            f"ELSE array() END").alias("fps"))


def winnow_pairs(documents: DataFrame, k: int = 3, w: int = 4,
                 threshold: float = 0.5,
                 id_col: str = "doc_id", text_col: str = "text",
                 max_df: int | None = 1000) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing fingerprints:
    containment = |shared fps| / min(|fps_a|, |fps_b|) >= threshold.

    Same inverted-index shape as jaccard_pairs but over the winnowed
    sketch — the posting list is ~2/(w+1) the size of the full shingle
    index, so the self-join shuffles a fraction of the corpus. The same
    hot-key guard applies: fingerprints shared by more than ``max_df``
    documents (boilerplate) are dropped from the sketch ENTIRELY —
    candidates, shared counts and set sizes — via a broadcast anti-join
    (<= rows/max_df distinct hot fps by construction). Unlike
    jaccard_pairs there is no exact-score correction: winnowing is
    already a recall sketch, and a boilerplate fingerprint carries no
    dedup signal, so containment is simply defined over the capped
    sketch.

    The fingerprint projection MUST be materialized (localCheckpoint)
    before fanning into the three consumers: the interpreted
    higher-order-function chain otherwise gets inlined into every join
    branch and re-evaluated per probed row (~100x at fixture scale).
    """
    fps = winnow_fingerprints(documents, k, w, id_col, text_col) \
        .localCheckpoint(eager=False)
    posting = fps.select("doc", F.explode("fps").alias("fp"))
    if max_df is not None:
        hot = (posting.groupBy("fp")
               .agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > max_df)
               .select("fp"))
        posting = posting.join(F.broadcast(hot), "fp", "left_anti") \
            .localCheckpoint(eager=False)
    sizes = posting.groupBy("doc").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = posting.alias("a"), posting.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        shared.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("containment",
                    F.col("n_shared") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b",
                round_fixed(F.col("containment"), 6).alias("containment"))
    )


def source_overlap_matrix(documents: DataFrame, n: int = 3,
                          source_col: str = "source",
                          text_col: str = "text",
                          max_sources_per_shingle: int | None = None
                          ) -> DataFrame:
    """Pairwise n-gram overlap between SOURCES — the "how redundant are
    these corpora against each other?" matrix a mixing plan needs
    before weighting sources (cross-source duplication inflates a
    mixture's effective epochs exactly like within-source dup does).
    Output: one row per unordered source pair (source_a < source_b)
    with each side's distinct-shingle count, the intersection size, and
    the set Jaccard — including zero-overlap pairs, so the matrix is
    complete.

    Shape at 100 TB: ONE corpus scan builds the (source, shingle)
    posting shuffle-free (same projection as shingle_posting, keyed by
    source instead of doc id), one distinct collapses it to
    per-source shingle SETS, and the self-join is keyed on shingle —
    per-shingle fan-out is bounded by the number of sources carrying
    it (≤ |sources|, or ``max_sources_per_shingle`` when a boilerplate
    shingle spans thousands of sources; the cap UNDERCOUNTS
    intersections by the dropped shingles, so leave it None when the
    matrix must be exact — the default, and what the oracle checks).
    The pair frame itself is |sources|² — driver-tiny — so the size
    join and the complete-matrix cross join broadcast.
    """
    ss = (shingle_posting(documents, n, id_col=source_col,
                          text_col=text_col)
          .distinct())
    sizes = (ss.groupBy(F.col("doc").alias("src"))
             .agg(F.count(F.lit(1)).alias("n_sh")))
    capped = df_capped_posting(ss, max_sources_per_shingle)
    inter = (capped.alias("a")
             .join(capped.alias("b"),
                   (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc") < F.col("b.doc")))
             .groupBy(F.col("a.doc").alias("source_a"),
                      F.col("b.doc").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    pairs = (sizes.alias("sa")
             .crossJoin(F.broadcast(sizes.alias("sb")))
             .filter(F.col("sa.src") < F.col("sb.src"))
             .select(F.col("sa.src").alias("source_a"),
                     F.col("sb.src").alias("source_b"),
                     F.col("sa.n_sh").alias("n_a"),
                     F.col("sb.n_sh").alias("n_b")))
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0).cast("long")))
        .withColumn("jaccard", round_fixed(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
    )


def decontaminate_report(documents: DataFrame, benchmark: DataFrame,
                         n: int = 3, min_hits: int = 1,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with an evaluation/benchmark set — the test-set-overlap
    removal every training-data pipeline runs before a corpus ships
    (the n-gram collision method of GPT-3 appendix C / PaLM; no
    reference analogue — beyond-parity extension like the rest of the
    dedup family).

    Returns one row per corpus document: (doc_id, n_hits = how many of
    its DISTINCT n-grams appear anywhere in the benchmark set,
    contaminated = n_hits >= min_hits). Callers drop flagged docs with a
    filter/anti-join; keeping the full report (zeros included) makes the
    result deterministic and oracle-checkable.

    Scale shape: the corpus side is the same shingle_posting inverted
    index as jaccard_pairs (linear, whole-stage-codegen'd); the
    benchmark side collapses to its DISTINCT shingle set, which is tiny
    relative to any 100TB corpus (eval suites are MBs) and is explicitly
    broadcast — the corpus never shuffles: posting rows stream through a
    broadcast-hash semi-match and a partial-agg count by doc. A LEFT
    join from the id spine restores hit-less documents. When the
    "benchmark" is itself a large corpus (corpus-vs-corpus
    decontamination), pass ``broadcast_benchmark=False``: both posting
    lists then shuffle once on the shingle for a sort-merge semi-join —
    linear, just no longer map-side.
    """
    corpus_sh = shingle_posting(documents, n, id_col, text_col)
    bench_sh = (shingle_posting(benchmark, n, id_col, text_col)
                .select("sh").distinct())
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    hits = (corpus_sh
            .join(bench_sh, "sh", "left_semi")
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    spine = documents.select(F.col(id_col).alias("doc"))
    return (
        spine.join(hits, "doc", "left")
        .select(F.col("doc").alias(id_col),
                F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"))
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )


def incremental_exact_dedup(spark, new_docs: DataFrame, store_path: str,
                            id_col: str = "doc_id",
                            text_col: str = "text"):
    """Production-cadence exact dedup: deduplicate an arriving DELTA
    (today's crawl) against the accumulated fingerprint store instead of
    re-scanning the whole corpus — the incremental form every batch
    operator here ultimately runs as (the global ``exact_dedup`` is the
    bootstrap/backfill path). Returns ``(fresh_docs, counts)`` where
    fresh_docs are the delta's first-seen documents and counts reports
    the funnel.

    Steps, one delta scan + one store anti-join:
      1. fingerprint the delta (same canonical-text digest as
         exact_dedup, so the two paths converge on identical stores);
      2. collapse within-delta duplicates (min id per fingerprint);
      3. LEFT-ANTI join against the store on the fingerprint — only
         fingerprints never seen before survive;
      4. commit the survivors' (fp, keeper_id) rows as this delta's
         batch of the store.

    The store is a ``sources/store.BatchStore``: a retried delta (say,
    after the caller's output write failed) sees the store without its
    own rows and returns the same fresh docs and counts, and an append
    that dies part-way is never read. First-seen keeper wins. The
    anti-join shuffles delta-side fingerprints only (the store side
    prunes to its fp column).
    """
    # ONE fingerprint pass over the delta, checkpointed: the funnel
    # counts and the batch key fall out of one scalar agg over the
    # cached groups, and the anti-join reuses the same materialization
    delta = (new_docs
             .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"),
                     *key_columns(new_docs))
             .groupBy("fp")
             .agg(F.min(id_col).alias("keeper_id"),
                  F.count(F.lit(1)).alias("_cnt"), *key_sums())
             .localCheckpoint(eager=True))
    drow = delta.agg(F.sum("_cnt").alias("nb"),
                     F.count(F.lit(1)).alias("nd"), *key_sums()).collect()[0]
    n_batch = int(drow["nb"] or 0)
    n_delta = int(drow["nd"])

    store = BatchStore(spark, store_path, batch_key(n_batch, drow))
    fresh_fps = delta.select("fp", "keeper_id")
    committed = store.read()
    if committed is not None:
        fresh_fps = fresh_fps.join(committed.select("fp"), "fp", "left_anti")
    fresh_fps = fresh_fps.localCheckpoint(eager=True)
    n_fresh = fresh_fps.count()

    store.commit(fresh_fps)
    fresh = new_docs.join(
        fresh_fps.select(F.col("keeper_id").alias(id_col)),
        id_col, "left_semi")
    return fresh, {
        "batch": n_batch,
        "within_batch_dupes": n_batch - n_delta,
        "known_dupes": n_delta - n_fresh,
        "fresh": n_fresh,
    }


def incremental_minhash_dedup(spark, new_docs: DataFrame, store_path: str,
                              n: int = 3, threshold: float = 0.5,
                              num_hashes: int = 64, bands: int = 32,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              max_bucket: int | None = 500):
    """Near-dup twin of ``incremental_exact_dedup``: continuous corpus
    ingestion where each arriving delta is near-deduplicated BOTH within
    itself and against everything ever kept — without storing (or
    rescanning) any prior text. The state is a MinHash signature store:
    one array of ``num_hashes`` longs per kept document (~0.5 KB at the
    defaults, vs the document itself), the standard industry shape for
    rolling web-crawl dedup. Returns ``(fresh_docs, counts)``.

    Steps:
      1. within-delta: the exact-verified ``minhash_lsh_pairs`` edges ->
         ``dedup_clusters`` -> keep each cluster's min-id representative
         (identical semantics to the batch pipeline stage);
      2. vs store: band-join the survivors' signatures against the
         stored signatures (same banded LSH, same ``max_bucket``
         hot-bucket guard on the store side) and estimate Jaccard as the
         fraction of agreeing signature components — the unbiased
         MinHash estimator (standard error sqrt(0.25/64) ≈ 0.06 at the
         j=0.5 boundary at the 64-hash default); there is no old text to
         verify exactly against, so the estimator IS the verification.
         Matches at or above ``threshold`` drop the new doc;
      3. SHORT DOCS (< n words) produce no shingles, hence no signature
         — the LSH path can neither drop nor protect them. They pass
         through guarded by the exact canonical fingerprint instead:
         collapsed within the delta (min id per fingerprint) and
         anti-joined against previously stored short-doc fingerprints,
         mirroring ``incremental_exact_dedup``. This keeps parity with
         the batch pipeline (which also keeps short docs) while still
         stopping exact replays of them across deltas;
      4. commit the survivors' rows as this delta's batch of the store.

    The store is a ``sources/store.BatchStore`` of (doc, sig, fp) rows
    with ``incremental_exact_dedup``'s replay contract; ``sig`` null
    marks a short doc carrying only its fingerprint. Band keys are
    recomputed from the array on read, so there is no posting-list store
    to compact; the band join shuffles one row per (doc, band), linear
    in corpus size. First-seen docs win by construction.
    """
    from asvsp_spark.operators.components import dedup_clusters

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    rows = num_hashes // bands

    n_batch, key = count_and_key(new_docs)
    edges = minhash_lsh_pairs(
        new_docs, n, threshold, num_hashes, bands, id_col, text_col,
        max_bucket).select("doc_a", "doc_b")
    batch_kept = new_docs.join(
        dedup_clusters(new_docs, edges, id_col=id_col)
        .filter(F.col("is_keeper")).select(F.col("doc_id").alias(id_col)),
        id_col, "left_semi").localCheckpoint(eager=False)

    posting = shingle_posting(batch_kept, n, id_col, text_col)
    sig = minhash_signatures(posting, num_hashes)
    sig_rows = sig.select(
        "doc",
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
        F.lit(None).cast("string").alias("fp"))
    # docs the shingler cannot see: no signature row — carry the exact
    # fingerprint instead, collapsing within-delta exact copies
    short_rows = (
        batch_kept
        .select(F.col(id_col).alias("doc"),
                fingerprint(F.col(text_col)).alias("fp"))
        .join(sig.select("doc"), "doc", "left_anti")
        .groupBy("fp").agg(F.min("doc").alias("doc"))
        .select("doc", F.lit(None).cast("array<bigint>").alias("sig"), "fp"))
    new_rows = sig_rows.unionByName(short_rows)
    n_within = new_rows.count()

    def band_rows(sigs: DataFrame, doc_alias: str) -> DataFrame:
        band_cols = [
            F.concat_ws("_", F.lit(bi),
                        *[F.element_at("sig", bi * rows + r + 1)
                          for r in range(rows)]).alias("band_key")
            for bi in range(bands)
        ]
        return sigs.select(
            F.col("doc").alias(doc_alias), F.col("sig").alias(f"sig_{doc_alias}"),
            F.explode(F.array(*band_cols)).alias("band_key"))

    store = BatchStore(spark, store_path, key)
    stored = store.read()
    if stored is not None:
        # stores written before the fp column existed
        if "fp" not in stored.columns:
            stored = stored.withColumn("fp", F.lit(None).cast("string"))
        # loud guard: a store written at a different num_hashes would
        # band-join on degenerate NULL-padded keys and estimate j <=
        # stored_len/num_hashes — every replay would silently pass as
        # fresh. Better to fail than to corrupt the dedup guarantee.
        stored_len = (stored.filter(F.col("sig").isNotNull())
                      .select(F.size("sig").alias("n")).first())
        if stored_len is not None and stored_len["n"] != num_hashes:
            raise ValueError(
                f"signature store at {store_path} holds "
                f"{stored_len['n']}-hash signatures but num_hashes="
                f"{num_hashes}; re-bootstrap the store or pass the "
                "store's original num_hashes")
        old_b = band_rows(stored.filter(F.col("sig").isNotNull()), "old_doc")
        if max_bucket is not None:
            # anti-join against the HOT key set (see minhash_lsh_pairs)
            # instead of semi-joining the large cold set; no forced
            # broadcast — the hot set grows with the store, AQE
            # broadcasts at runtime while it fits
            hot = (old_b.groupBy("band_key")
                   .agg(F.count(F.lit(1)).alias("bsz"))
                   .filter(F.col("bsz") > max_bucket)
                   .select("band_key"))
            old_b = old_b.join(hot, "band_key", "left_anti")
        new_b = band_rows(new_rows.filter(F.col("sig").isNotNull()),
                          "new_doc")
        est = F.size(F.filter(
            F.zip_with("sig_new_doc", "sig_old_doc",
                       lambda x, y: x == y),
            lambda v: v)) / F.lit(float(num_hashes))
        dup_lsh = (
            new_b.join(old_b, "band_key")
            .dropDuplicates(["new_doc", "old_doc"])
            .withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            .select(F.col("new_doc").alias("doc"))
        )
        dup_short = (
            new_rows.filter(F.col("sig").isNull())
            .join(stored.filter(F.col("fp").isNotNull()).select("fp"),
                  "fp", "left_semi")
            .select("doc"))
        dup_new = dup_lsh.unionByName(dup_short).distinct()
        fresh_rows = new_rows.join(dup_new, "doc", "left_anti")
    else:
        fresh_rows = new_rows
    fresh_rows = fresh_rows.localCheckpoint(eager=True)
    n_fresh = fresh_rows.count()

    store.commit(fresh_rows)
    fresh = new_docs.join(fresh_rows.select(F.col("doc").alias(id_col)),
                          id_col, "left_semi")
    return fresh, {
        "batch": n_batch,
        "within_batch_near_dupes": n_batch - n_within,
        "known_near_dupes": n_within - n_fresh,
        "fresh": n_fresh,
    }


def _window_hash_arrays(documents: DataFrame, w: int, id_col: str,
                        text_col: str, checkpoint_toks: bool = False):
    """Shared windowed-hash staging for ``dup_spans`` and
    ``dup_substring_runs`` — ONE copy of the tokenize + token_ngrams ->
    (1-based position, 64-bit md5-slice hash) struct projection, so a
    hash-scheme change can never diverge between the two oracle-paired
    operators. Returns (toks, wins_arr): the (doc, toks array) frame
    and the checkpointed (doc, wins array<struct<p,h>>) frame.
    ``checkpoint_toks`` pins toks too, for callers that re-read the
    token arrays after the window stage (run-text slicing)."""
    from asvsp_spark.functions.text import token_ngrams
    toks = fanout(documents).select(
        F.col(id_col).alias("doc"),
        tokens(F.col(text_col)).alias("toks"))
    if checkpoint_toks:
        toks = toks.localCheckpoint(eager=True)
    wins_arr = toks.select("doc", F.transform(
        token_ngrams("toks", w),
        lambda g, i: F.struct((i + 1).alias("p"),
                              F.substring(F.md5(g), 1, 16).alias("h"))
    ).alias("wins")).localCheckpoint(eager=True)
    return toks, wins_arr


def dup_spans(documents: DataFrame, window: int = 8, min_docs: int = 2,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-substring duplicate spans (the windowed formulation of Lee
    et al., "Deduplicating Training Data Makes Language Models Better",
    ACL'22): every ``window``-token span whose exact text occurs in at
    least ``min_docs`` DISTINCT documents is flagged, and overlapping /
    abutting flagged windows are merged into maximal spans per document.
    Output: (doc_id, span_start, span_end, n_windows) with 1-based
    token positions, span_end inclusive — the removal plan a trainer
    applies before tokenization. The suffix-array construction in the
    paper is a single-machine algorithm; the Spark-first equivalent is
    this hashed-window inverted index: same guarantee for duplicated
    substrings of length >= ``window`` tokens, embarrassingly parallel.

    Shape, at 100 TB:
    - One projection builds, per doc, the array of (position, 64-bit
      md5-slice window hash) structs — HOF kept in a single projection
      (interpreted lambdas get no cross-operator CSE). The per-doc
      ARRAY frame is what gets checkpointed and shared (the
      minhash_lsh_pairs staging lesson: one row per doc, never the
      exploded stream), feeding both consumers below. Same tradeoffs
      as there: construction runs the staging job eagerly, and the
      truncated lineage means an executor loss fails the invocation
      instead of recomputing (re-run the stage).
    - The hot-window set needs count(DISTINCT doc) per hash; the
      within-doc dedup happens NARROWLY via array_distinct over the
      per-doc hash array before the explode, so the aggregate is a
      plain partial-aggregatable count — no (hash, doc) dedup shuffle.
    - Membership join back is a LEFT SEMI on the hash: output is
      bounded by the input positions (no fan-out, no df^2 term — unlike
      pair generation, span flagging never multiplies by document
      frequency, so boilerplate needs no max_df cap here). AQE turns
      it into a broadcast join when the hot set is small at runtime.
    - Span merge is gaps-and-islands PER DOC, assembled inside one
      array per document (no window function, no global sort): the
      flagged positions gather into one sorted array per doc through a
      partial-aggregatable ``collect_list``, and a new island starts
      where a position exceeds its predecessor by more than ``window``
      (strictly more than the span it covers), i.e. overlapping and
      directly-abutting windows merge. Island starts and ends are two
      index-aware filters over that array and ``n_windows`` is their
      index distance. Positions are unique per doc by construction, so
      no distinct is needed, and the aggregate is the only exchange
      after the semi-join.

    Every step (md5 hex slice, group-having, islands) is bit-identical
    to the DuckDB oracle, which computes the islands with lag/sum
    windows, so the full span report is oracle-checkable.
    """
    w = int(window)
    _, wins_arr = _window_hash_arrays(documents, w, id_col, text_col)
    hot = (wins_arr
           .select(F.explode(F.expr("array_distinct(transform(wins, x -> x.h))"))
                   .alias("h"))
           .groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
           .filter(F.col("nd") >= int(min_docs))
           .select("h"))
    wins = (wins_arr.select("doc", F.explode("wins").alias("win"))
            .select("doc", F.col("win.p").alias("p"),
                    F.col("win.h").alias("h")))
    pos = wins.join(hot, "h", "left_semi").select("doc", "p")
    # gaps-and-islands assembled ARRAY-LOCALLY per doc (same shape as
    # _assemble_runs, gap-w variant): flagged positions gather into one
    # sorted array per document — the partial-aggregatable collect_list
    # ships ONE row per flagged doc where the former doc-partitioned
    # Exchange + Sort + lag/sum Window moved and sorted every position
    # row (guide §2.4). Island starts/ends fall out of two index-aware
    # filters (gap to predecessor/successor > w); n_windows is the
    # index distance. The boundary elements are decided by the
    # i=0 / i=size-1 disjuncts, and OR short-circuits, so the probes
    # never run there. That matters for i=0: try_element_at(ps, 0)
    # raises INVALID_INDEX_OF_ZERO even in try mode.
    spans_expr = F.expr(f"""
        zip_with(
          filter(transform(ps, (x, i) -> struct(x AS p, i AS i)),
                 s -> s.i = 0 OR s.p - try_element_at(ps, s.i) > {w}),
          filter(transform(ps, (x, i) -> struct(x AS p, i AS i)),
                 e -> e.i = size(ps) - 1
                      OR try_element_at(ps, e.i + 2) - e.p > {w}),
          (s, e) -> struct(s.p AS mn, e.p AS mx, e.i - s.i + 1 AS nw))
    """)
    return (pos.groupBy("doc")
            .agg(F.sort_array(F.collect_list("p")).alias("ps"))
            .select("doc", F.explode(spans_expr).alias("r"))
            .select(F.col("doc").alias(id_col),
                    F.col("r.mn").cast("int").alias("span_start"),
                    (F.col("r.mx") + w - 1).cast("int").alias("span_end"),
                    F.col("r.nw").cast("int").alias("n_windows")))


def remove_dup_spans(documents: DataFrame, spans: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Apply a ``dup_spans`` report: rebuild each document's text with
    every flagged token span dropped. Output: (doc_id, text,
    n_tokens_removed); unflagged documents pass through BYTE-IDENTICAL
    (original column value, never re-tokenized) with n_tokens_removed =
    0 — only flagged documents are rebuilt, and their rebuild joins
    surviving tokens with single spaces (token-level surgery cannot
    preserve the original inter-token whitespace around a removed
    span). Removing EVERY occurrence (rather than keeping one canonical
    copy) is the conservative boilerplate-strip policy; keep-one-copy
    requires attributing spans to duplicate clusters, which is
    ``dedup_components``' job on the pair graph.

    Shape: the span report holds only flagged docs (a small fraction of
    any sane corpus), so the collect_list re-grouping and the LEFT join
    back to the corpus leave AQE a broadcast-sized build side; the
    token filtering is one array expression per row — no explode, no
    extra shuffle. The whole transform is oracle-checkable (DuckDB
    list comprehension over the same 1-based positions).
    """
    sp = (spans.groupBy(id_col)
          .agg(F.collect_list(F.struct("span_start", "span_end"))
               .alias("_spans")))
    joined = fanout(documents).join(sp, id_col, "left")
    kept = (
        "filter(transform(split(trim({text}), '[ \\\\t\\\\n\\\\f\\\\r]+'), "
        "(t, i) -> struct(t AS t, i + 1 AS p)), "
        "x -> _spans IS NULL OR NOT exists(_spans, "
        "s -> x.p >= s.span_start AND x.p <= s.span_end))"
    ).format(text=text_col)
    return joined.select(
        F.col(id_col),
        F.when(F.col("_spans").isNull(), F.col(text_col))
         .otherwise(F.expr(f"concat_ws(' ', transform({kept}, x -> x.t))"))
         .alias(text_col),
        F.when(F.col("_spans").isNull(), F.lit(0))
         .otherwise(token_count(F.col(text_col))
                    - F.expr(f"size({kept})"))
         .cast("int").alias("n_tokens_removed"))


def dup_substring_runs(documents: DataFrame, window: int = 8,
                       min_count: int = 2, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-occurrence maximal duplicated-substring runs — the
    variable-length complement of ``dup_spans`` (Lee et al. ACL'22 find
    maximal duplicated substrings with a suffix array; the Spark-first
    equivalent is hot fixed-width windows extended to maximal
    CONSECUTIVE runs, then verified by full-text fingerprint). Output:
    one row per occurrence — (id_col, span_start, span_end, fp,
    n_tokens), 1-based inclusive token positions, fp the full 128-bit
    md5 of the run's space-joined token text.

    Semantics vs ``dup_spans``:
    - ``min_count`` thresholds total OCCURRENCES of a window, not
      distinct documents — a substring repeated twice inside one
      document is duplication too (the paper dedups within documents).
    - Runs break on any non-hot position (strictly consecutive), not
      on gap > window: a run is the maximal stretch where EVERY
      length-``window`` subwindow is duplicated, which is exactly the
      condition a duplicated substring of length >= window satisfies
      at all of its occurrence sites.
    - The 64-bit window-hash stage can in principle collide; the final
      fingerprint is the full md5 of the run TEXT, so downstream
      grouping (``dup_substring_table``) never reports a false
      duplicate — a collision can only perturb a run's extent.

    Shape, at 100 TB: same staging as dup_spans (per-doc window-hash
    arrays checkpointed once, occurrence counting is a partial-agg
    count on 8-byte keys, membership is a LEFT SEMI the AQE turns into
    a broadcast when the hot set is small). Run assembly is
    gaps-and-islands per doc (p - row_number() keys consecutive
    stretches; positions are unique per doc so no distinct). The only
    new join is runs-back-to-token-arrays to slice the run text —
    runs are a small fraction of any sane corpus, so the build side is
    broadcast-sized; no step fans out by document frequency.
    """
    w, mc = int(window), int(min_count)
    # checkpoint_toks: the token arrays feed the window build AND the
    # run-text slicing join below
    toks, wins_arr = _window_hash_arrays(documents, w, id_col, text_col,
                                         checkpoint_toks=True)
    # occurrence count, NOT distinct-doc count: no array_distinct —
    # within-doc repeats must count every site
    hot = (wins_arr
           .select(F.explode(F.expr("transform(wins, x -> x.h)")).alias("h"))
           .groupBy("h").agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") >= mc)
           .select("h"))
    flagged = (wins_arr.select("doc", F.explode("wins").alias("win"))
               .select("doc", F.col("win.p").alias("p"),
                       F.col("win.h").alias("h"))
               .join(hot, "h", "left_semi"))
    return _assemble_runs(toks, flagged, w, id_col)


def _assemble_runs(toks: DataFrame, flagged: DataFrame, w: int,
                   id_col: str) -> DataFrame:
    """Flagged (doc, p) positions -> maximal strictly-consecutive runs
    with full-text fingerprints, assembled ARRAY-LOCALLY per doc: the
    flagged positions are gathered into one sorted array per document
    (partial-aggregatable collect_list — each doc's rows sit in one
    task, so the exchange moves ONE row per flagged doc, not one per
    position) and the islands fall out of two index-aware filters
    (run starts = positions whose predecessor is absent, run ends =
    positions whose successor is absent; positions are unique per doc
    by construction). This replaces the former doc-partitioned
    Exchange + Sort + row_number Window + re-aggregate (guide §2.4 —
    the per-doc window sort was the substring family's floor) with one
    hash aggregate and per-row array expressions; the join back to the
    token arrays now carries one array row per doc instead of one row
    per run. The i=0 / i=size-1 disjuncts decide the boundary
    elements and OR short-circuits, so the probes never run there;
    ``try_element_at(ps, 0)`` would raise INVALID_INDEX_OF_ZERO even
    in try mode.
    Shared by the global and incremental substring-dedup paths."""
    runs_expr = F.expr("""
        zip_with(
          filter(ps, (x, i) -> i = 0 OR try_element_at(ps, i) <> x - 1),
          filter(ps, (x, i) -> i = size(ps) - 1
                               OR try_element_at(ps, i + 2) <> x + 1),
          (s, e) -> struct(s AS p1, e AS p2))
    """)
    per_doc = (flagged.groupBy("doc")
               .agg(F.sort_array(F.collect_list("p")).alias("ps"))
               .select("doc", runs_expr.alias("runs")))
    return (per_doc.join(toks, "doc")
            .select("doc", "toks", F.explode("runs").alias("r"))
            .select(F.col("doc").alias(id_col),
                    F.col("r.p1").cast("int").alias("span_start"),
                    (F.col("r.p2") + w - 1).cast("int").alias("span_end"),
                    F.md5(F.expr(
                        f"concat_ws(' ', "
                        f"slice(toks, r.p1, r.p2 - r.p1 + {w}))"))
                     .alias("fp"),
                    (F.col("r.p2") - F.col("r.p1") + w).cast("int")
                     .alias("n_tokens")))


def dup_substring_table(documents: DataFrame, window: int = 8,
                        min_count: int = 2, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """The corpus-wide duplicated-substring cluster table over
    ``dup_substring_runs``: group occurrences by full-text fingerprint
    and keep clusters seen at least ``min_count`` times. Output:
    (fp, n_tokens, n_docs, n_occurrences) — one row per distinct
    duplicated substring of length >= ``window`` tokens whose maximal
    extent AGREES across its occurrence sites (aligned duplicates: the
    injected-boilerplate case — licence blocks, navigation chrome,
    templated headers — which is what the cluster table is for; a
    duplicate embedded in differing surroundings still surfaces in
    every row of the runs/occurrence view and in ``dup_spans``'
    removal plan). Grouping on the full 128-bit text md5 IS the
    verification pass: window-hash collisions cannot create a false
    cluster. One extra shuffle over the runs (8-byte keys, partial-agg
    counts); DuckDB reproduces every step bit-identically."""
    occ = dup_substring_runs(documents, window=window,
                             min_count=min_count,
                             id_col=id_col, text_col=text_col)
    return (occ.groupBy("fp", "n_tokens")
            .agg(F.countDistinct(id_col).alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= int(min_count)))


def remove_dup_substring_runs(documents: DataFrame, runs: DataFrame,
                              keep: str = "first",
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Apply a ``dup_substring_runs`` report with KEEP-ONE-OCCURRENCE
    semantics (Lee et al. ACL'22 keep one copy of each duplicated
    substring, unlike ``remove_dup_spans``' strip-every-occurrence
    boilerplate policy): per full-text fingerprint, the canonical
    occurrence — smallest (doc id, span_start) — survives; every OTHER
    occurrence's token span is stripped. Output: (id_col, text,
    n_tokens_removed), one row per input document, untouched docs
    byte-identical (remove_dup_spans' contract — this operator only
    computes the loser-span plan and delegates the surgery).

    ``keep``: ``'first'`` (default) keeps the canonical occurrence;
    ``'none'`` strips EVERY occurrence — the policy for an INCREMENTAL
    delta whose runs came from ``incremental_dup_substring``, where the
    canonical copy lives in a prior batch already in the corpus (the
    runs frames share one schema, so both paths compose directly).

    Conservative edge: runs whose fingerprint occurs ONCE (a duplicated
    window stretch whose maximal extent disagrees across sites —
    misaligned surroundings) are left in place under 'first': with no
    verified second copy of the full run text, deleting would risk the
    only occurrence. They still surface in ``dup_spans`` for the
    strip-everything policy. When a kept span overlaps a different
    fingerprint's loser span in the same document, the overlap tokens
    are removed (span union semantics, same as remove_dup_spans).

    Shape: keeper election is a partial-aggregatable min(struct) on the
    (small) runs frame — no window sort, no skew concentration however
    many occurrences one fingerprint has; the loser join back is
    many-to-one on fp. The corpus-scale work stays inside
    remove_dup_spans (one array projection per doc).
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if keep == "none":
        losers = runs.select(id_col, "span_start", "span_end")
    else:
        # keep='first' reads `runs` TWICE (keeper election + loser
        # join). Un-materialized, Catalyst inlines the whole runs
        # pipeline above its staging checkpoints into BOTH branches —
        # the hot-window count, semi-join and run assembly execute
        # twice per invocation (visible as a duplicated Exchange chain
        # in dedup_substring_removed's r11 plan dump). A lazy
        # localCheckpoint materializes the (small, flagged-docs-only)
        # runs frame once at first action; same policy as the rest of
        # the family (guide §1.2 — don't compute things twice).
        runs = runs.localCheckpoint(eager=False)
        keeper = runs.groupBy("fp").agg(
            F.min(F.struct(F.col(id_col).alias("d"),
                           F.col("span_start").alias("s"))).alias("k"))
        losers = (runs.join(keeper, "fp")
                  .filter(~((F.col(id_col) == F.col("k.d"))
                            & (F.col("span_start") == F.col("k.s"))))
                  .select(id_col, "span_start", "span_end"))
    return remove_dup_spans(documents, losers, id_col, text_col)


def incremental_dup_substring(spark, new_docs: DataFrame, store_path: str,
                              window: int = 8, min_count: int = 2,
                              id_col: str = "doc_id",
                              text_col: str = "text"):
    """Duplicated-substring detection for an arriving DELTA against all
    text ever seen, without rescanning prior text — the substring-
    granular member of the incremental family. State is one
    (window-hash, occurrence-count) row per distinct window per batch; a
    window is hot when its occurrences across the store PLUS this delta
    reach ``min_count``, so boilerplate that only becomes duplicated
    ACROSS batches is caught the day the threshold trips. Returns
    ``(runs, counts)``: runs has the ``dup_substring_runs`` schema over
    the delta's documents; counts reports the window funnel (n_windows
    occurrences, distinct_windows, hot_windows at/over threshold,
    store_known_windows of those already in the store).

    Bootstrap invariant: with no store, one batch equals the global
    ``dup_substring_runs`` on the same documents (shared staging +
    assembly helpers, pinned by unit test).

    Scale shape: the corpus-scale work is the delta's own window pass;
    the store side is pruned with a LEFT SEMI to the delta's distinct
    hashes BEFORE its counts are summed, so a years-deep store costs
    one hash-key semi-join + a partial-agg sum over only the matching
    rows. The store is a ``sources/store.BatchStore`` keyed by the
    delta's window occurrences (doc, position, hash): a retried delta
    does not count its own windows twice, so it reproduces the first
    run's runs and funnel instead of reaching the threshold at half
    ``min_count``.
    """
    w, mc = int(window), int(min_count)
    toks, wins_arr = _window_hash_arrays(new_docs, w, id_col, text_col,
                                         checkpoint_toks=True)
    # the per-doc ARRAY frame is the checkpointed artifact (dup_spans'
    # staging rule) — the exploded per-occurrence stream is derived
    # TWICE from it (counts below, flagging at the end) but never
    # materialized: recomputing a narrow explode beats pinning one row
    # per window occurrence in executor storage
    wins = (wins_arr.select("doc", F.explode("wins").alias("win"))
            .select("doc", F.col("win.p").alias("p"),
                    F.col("win.h").alias("h")))
    # the scalar agg that keys the batch also materializes the lazy
    # checkpoint of the per-hash counts, and answers the delta side of
    # the funnel (occurrence total, distinct hashes)
    grouped = (wins.select("h", *key_columns(wins)).groupBy("h")
               .agg(F.count(F.lit(1)).alias("n"), *key_sums())
               .localCheckpoint(eager=False))
    drow = grouped.agg(F.sum("n").alias("occ"),
                       F.count(F.lit(1)).alias("dst"), *key_sums()).first()
    n_occurrences = int(drow["occ"] or 0)
    n_distinct = int(drow["dst"])
    delta_counts = grouped.select("h", "n")

    store = BatchStore(spark, store_path, batch_key(n_occurrences, drow))
    stored = store.read()
    if stored is not None:
        # window-size guard: a store bootstrapped at a different w
        # holds md5s of different-length n-grams, so the semi-join
        # would match nothing FOREVER — store_known_windows silently 0,
        # the cross-batch guarantee void. The mismatch is undetectable
        # from the hashes themselves (same 16 hex chars at any w), so
        # every row carries w and the read path fails loudly — the
        # same stance as incremental_minhash_dedup's num_hashes check.
        probe = stored.select("w").limit(1).collect()
        if probe and int(probe[0]["w"]) != w:
            raise ValueError(
                f"window-count store at {store_path} was built with "
                f"window={int(probe[0]['w'])}; this call uses "
                f"window={w}. Hashes of different-length windows can "
                "never match — rebuild the store or pass the store's "
                "window.")
        # prune the (possibly years-deep) store to the delta's hashes
        # BEFORE summing — the semi-join is the only store-sized step
        store_counts = (stored.join(delta_counts.select("h"),
                                    "h", "left_semi")
                        .groupBy("h").agg(F.sum("n").alias("n_store")))
        combined = (delta_counts.join(store_counts, "h", "left")
                    .select("h", "n", (F.col("n")
                                       + F.coalesce("n_store", F.lit(0)))
                            .alias("total"),
                            F.col("n_store").isNotNull().alias("known")))
    else:
        combined = delta_counts.select(
            "h", "n", F.col("n").alias("total"),
            F.lit(False).alias("known"))
    combined = combined.localCheckpoint(eager=True)
    hot = combined.filter(F.col("total") >= mc)
    crow = combined.agg(
        F.sum((F.col("total") >= mc).cast("long")).alias("hot"),
        F.sum(F.col("known").cast("long")).alias("known")).collect()[0]

    store.commit(delta_counts.withColumn("w", F.lit(w).cast("int")))

    flagged = wins.join(hot.select("h"), "h", "left_semi")
    runs = _assemble_runs(toks, flagged, w, id_col)
    return runs, {
        "n_windows": n_occurrences,
        "distinct_windows": n_distinct,
        "hot_windows": int(crow["hot"] or 0),
        "store_known_windows": int(crow["known"] or 0),
    }


def line_dedup_docs(documents: DataFrame, delimiter: str = r"\n",
                    joiner: str = "\n", id_col: str = "doc_id",
                    text_col: str = "text",
                    preserve_blanks: bool = False) -> DataFrame:
    """WITHIN-document duplicate-line removal (the RefinedWeb/Gopher
    line-wise cleanup: repeated nav items, echoed headers, chat-log
    stutter): keep the FIRST occurrence of each distinct non-blank
    line inside each document, preserve order, rejoin with ``joiner``.
    Output: (id_col, text, n_lines, n_removed) — n_lines counts the
    non-blank lines. The between-document complement is
    ``paragraph_dedup`` (corpus-wide keep-first);
    ``repetition_features`` computes the filter SIGNALS where this is
    the repair.

    ``preserve_blanks=False`` (default) drops blank lines — the lean
    single-pass cleanup when no downstream stage reads document
    structure. ``preserve_blanks=True`` keeps every blank line in
    place (deduping only the non-blank ones), so blank-separator
    structure like the ``'\\n{2,}'`` paragraph boundaries SURVIVES the
    rewrite — required when paragraph-level dedup runs afterwards (the
    r7-advice pipeline bug: the blank-dropping rejoin erased every
    paragraph boundary before stage 2c, silently disabling it). A doc
    with no non-blank lines still empties to '' under either mode, so
    whitespace-only docs drop at the same funnel stage.

    Shape: one projection, zero shuffles — the keep-first is a pure
    array expression (a line survives iff its first index equals its
    own index; array_position returns the FIRST 1-based match), so the
    whole transform runs at scan speed inside the same stage as the
    read. Per-doc cost is O(lines²) string compares, bounded by
    document size — the same envelope as every other per-doc array
    fold in the engine. Bit-identical in DuckDB (list_filter with the
    same first-index predicate; DuckDB lambda indexes are 1-based
    where Spark's are 0-based — the oracle shifts), so fully
    oracle-checkable."""
    raw = F.split(F.col(text_col), delimiter)
    lines = F.filter(raw, lambda x: F.trim(x) != "")
    if preserve_blanks:
        # blanks pass through untouched; a non-blank survives iff it is
        # the first occurrence among ALL lines (blank positions can
        # never equal a non-blank line, so first-match-in-raw works)
        kept = F.filter(
            raw, lambda x, i: (F.trim(x) == "")
            | (F.array_position(raw, x) == i + 1))
        rebuilt = F.when(F.size(lines) == 0, F.lit("")) \
            .otherwise(F.array_join(kept, joiner))
    else:
        kept = F.filter(lines,
                        lambda x, i: F.array_position(lines, x) == i + 1)
        rebuilt = F.array_join(kept, joiner)
    n_kept = F.size(F.filter(kept, lambda x: F.trim(x) != "")) \
        if preserve_blanks else F.size(kept)
    # the rebuilt text takes a TEMP name inside the projection: aliasing
    # an output to the same name as the input column it reads corrupts
    # SIBLING expressions that also read that input (measured: a select
    # aliasing the cleaned text to 'text' returned n_removed computed
    # against the cleaned value for some rows) — rename after.
    return (fanout(documents).select(
        F.col(id_col),
        rebuilt.alias("_cleaned"),
        F.size(lines).cast("int").alias("n_lines"),
        (F.size(lines) - n_kept).cast("int").alias("n_removed"))
        .withColumnRenamed("_cleaned", text_col))


def paragraph_dedup(documents: DataFrame, delimiter: str = r"\n{2,}",
                    joiner: str = "\n\n", id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the CCNet / RefinedWeb
    boilerplate pass: Wenzek et al. 2020 dedup shards by paragraph
    hash; Penedo et al. 2023 run it corpus-wide): split every document
    into segments on ``delimiter``, keep only the FIRST occurrence of
    each distinct segment corpus-wide (first = smallest (doc_id,
    position)), and rebuild each document from its surviving segments
    joined with ``joiner``. Output: (id_col, text, n_segments,
    n_removed) — one row per input document, text '' when every
    segment was a repeat. Whitespace-only segments are dropped on both
    engines before hashing (split semantics around leading/trailing
    delimiters differ across engines; non-empty segments do not).

    This is the between-document complement of ``dup_spans``: spans
    flag repeated substrings anywhere, paragraph dedup removes repeats
    of STRUCTURAL units and keeps one canonical copy (headers, nav
    boilerplate, licence blocks — the dominant duplication mode in web
    crawls at 100 TB).

    Shape, at 100 TB:
    - One posexplode per document; segment hash is the full 16-byte
      md5 (hash the segment, never shuffle segment text for the argmin;
      no truncation — keep-first deletes on hash equality with no text
      re-verification, so collision probability must stay 2^-128-class
      even at web-crawl segment cardinalities).
    - Keep-first is min(struct(doc, pos)) per hash — a plain partial-
      aggregatable min, so a boilerplate paragraph occurring a billion
      times combines map-side and never concentrates on one reducer
      (the reason this is NOT a row_number window, which would sort the
      hot hash's entire posting in one task).
    - The winner join back is many-to-ONE on the hash (keeper is unique
      per hash), so no pair fan-out at any document frequency — unlike
      pair generation, keep-first never multiplies by df.
    - Rebuild is one groupBy(doc): collect_list skips the NULLed-out
      losers, array_sort restores segment order without a sort
      exchange. A final LEFT join from the corpus re-attaches docs
      whose text produced no segments at all.

    Every step (md5 slice, argmin-by-struct == row_number keep flag,
    ordered string_agg) is bit-identical in DuckDB, so the rebuilt
    corpus is oracle-checkable end-to-end.
    """
    segs = _doc_segments(documents, delimiter, id_col, text_col)
    keeper = segs.groupBy("h").agg(
        F.min(F.struct(F.col("doc"), F.col("pos"))).alias("k"))
    flagged = (segs.join(keeper, "h")
               .withColumn("keep", (F.col("doc") == F.col("k.doc"))
                           & (F.col("pos") == F.col("k.pos"))))
    return _rebuild_docs(documents, flagged, joiner, id_col, text_col)


def _doc_segments(documents: DataFrame, delimiter: str, id_col: str,
                  text_col: str) -> DataFrame:
    """(doc, pos, seg, h) — one row per non-whitespace segment, pos
    0-based within the doc, h the full 128-bit md5 of the segment text
    (no truncation: keep-first DELETES on hash equality with no text
    re-verification, so a 64-bit slice would silently merge distinct
    segments at web-crawl cardinalities).
    Shared by the global and incremental paragraph-dedup paths so both
    converge on identical stores."""
    return (fanout(documents)
            .select(F.col(id_col).alias("doc"),
                    F.posexplode(F.split(F.col(text_col), delimiter))
                     .alias("pos", "seg"))
            .filter(F.trim(F.col("seg")) != "")
            .withColumn("h", F.md5(F.col("seg"))))


def _rebuild_docs(documents: DataFrame, flagged: DataFrame, joiner: str,
                  id_col: str, text_col: str) -> DataFrame:
    """Reassemble (id_col, text, n_segments, n_removed) from a flagged
    segment frame (doc, pos, seg, keep): collect_list skips the
    NULLed-out losers, array_sort restores segment order without a sort
    exchange, and the LEFT join from the corpus re-attaches docs whose
    text produced no segments at all."""
    rebuilt = (flagged.groupBy("doc").agg(
        F.concat_ws(joiner, F.expr(
            "transform(array_sort(collect_list("
            "CASE WHEN keep THEN struct(pos, seg) END)), x -> x.seg)"))
         .alias("_text"),
        F.count(F.lit(1)).alias("_n_segments"),
        (F.count(F.lit(1)) - F.sum(F.col("keep").cast("long")))
         .alias("_n_removed")))
    return (documents.select(F.col(id_col))
            .join(rebuilt, F.col(id_col) == F.col("doc"), "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
                    F.coalesce(F.col("_n_segments"), F.lit(0))
                     .cast("int").alias("n_segments"),
                    F.coalesce(F.col("_n_removed"), F.lit(0))
                     .cast("int").alias("n_removed")))


def incremental_paragraph_dedup(spark, new_docs: DataFrame,
                                store_path: str,
                                delimiter: str = r"\n{2,}",
                                joiner: str = "\n\n",
                                id_col: str = "doc_id",
                                text_col: str = "text"):
    """Production-cadence paragraph dedup: strip from an arriving DELTA
    every segment already kept by any prior batch (or earlier in this
    one) without rescanning prior text — the segment-granular member of
    the incremental family (``incremental_exact_dedup`` = whole-doc
    exact, ``incremental_minhash_dedup`` = whole-doc near). Returns
    ``(rebuilt_docs, counts)``: rebuilt_docs has the global
    ``paragraph_dedup`` schema (id, text, n_segments, n_removed);
    counts reports the segment funnel (n_segments occurrences,
    within_batch_repeats occurrences that lost to a within-delta
    winner, known_segments distinct hashes already in the store,
    fresh_segments distinct hashes first seen in this delta).

    Bootstrap invariant: with no store, one batch rebuilds EXACTLY as
    the global ``paragraph_dedup`` (same keep-first argmin, same
    reassembly — shared helpers, pinned by unit test), so backfill and
    steady state converge on identical corpora.

    Scale shape: state is one full-width 16-byte md5 + keeper id per
    distinct segment ever kept (first-seen keeper is never rewritten);
    the store side of the anti-join prunes to its hash column.

    Replay contract: the store commit happens BEFORE the caller
    materializes ``rebuilt_docs``, but the store is a
    ``sources/store.BatchStore`` keyed by the delta's segments, so a
    retried delta does not see its own winners as known: it rebuilds the
    same corpus and counts instead of every document empty.
    """
    # one eager checkpoint each: segs feeds four consumers (the key and
    # count agg, the winner grouping, the rebuild join) and winners
    # feeds three — without pinning them the full delta lineage re-runs
    # per action
    segs = _doc_segments(new_docs, delimiter, id_col, text_col) \
        .localCheckpoint(eager=True)
    winners = segs.groupBy("h").agg(
        F.min(F.struct(F.col("doc"), F.col("pos"))).alias("k")) \
        .localCheckpoint(eager=True)
    srow = segs.select(*key_columns(segs)).agg(
        F.count(F.lit(1)).alias("n"), *key_sums()).first()
    n_occurrences = int(srow["n"])
    n_distinct = winners.count()

    store = BatchStore(spark, store_path, batch_key(n_occurrences, srow))
    stored = store.read()
    if stored is not None:
        probe = stored.select("h").limit(1).collect()
        if probe and len(probe[0]["h"]) != 32:
            # a store written with a different hash width would anti-join
            # to ZERO matches forever — every known segment re-admitted,
            # mixed-width rows appended, silently. Fail loudly instead.
            raise ValueError(
                f"segment store at {store_path} holds "
                f"{len(probe[0]['h'])}-char hashes; this build writes "
                "full 32-char md5. Rebuild the store from the corpus "
                "(bootstrap run against an empty path).")
        fresh = winners.join(stored.select("h"), "h", "left_anti")
    else:
        fresh = winners
    fresh = fresh.localCheckpoint(eager=True)
    n_fresh = fresh.count()

    store.commit(fresh.select("h", F.col("k.doc").alias("keeper_id")))

    flagged = (segs.join(fresh, "h", "left")
               .withColumn("keep", F.col("k").isNotNull()
                           & (F.col("doc") == F.col("k.doc"))
                           & (F.col("pos") == F.col("k.pos"))))
    rebuilt = _rebuild_docs(new_docs, flagged, joiner, id_col, text_col)
    return rebuilt, {
        "n_segments": n_occurrences,
        "within_batch_repeats": n_occurrences - n_distinct,
        "known_segments": n_distinct - n_fresh,
        "fresh_segments": n_fresh,
    }


def boundary_overlap_pairs(documents: DataFrame, k: int = 3,
                           max_df: int = 64, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Crawl-stitching detection: pairs (left, right) where the LAST
    ``k`` tokens of one document exactly equal the FIRST ``k`` tokens
    of another — the signature of a document truncated by a fetch
    limit and re-crawled as a continuation, or of shingled pagination.
    Output: (left_id, right_id, boundary_text), left ≠ right, one row
    per ordered overlapping pair. Documents shorter than ``k`` tokens
    have no boundary and never pair.

    Shape, at 100 TB:
    - Each document contributes exactly ONE head k-gram and ONE tail
      k-gram (two 16-byte hashes + the k-gram text for verification) —
      constant per-doc state, no posting explosion.
    - The candidate join is tail-hash == head-hash. A ubiquitous
      boundary (boilerplate headers/footers) would fan out df_tail ×
      df_head, so both sides are df-capped at ``max_df`` distinct
      documents per hash BEFORE the join (same policy as
      ``df_capped_posting``): a k-gram shared by more than max_df
      heads is navigation chrome, not a continuation boundary. The
      cap makes worst-case candidate volume max_df² per hash — bounded
      and known, never quadratic in the corpus.
    - Exact text equality re-verifies every hash match (collision
      guard), pushed into the join condition so it filters during the
      probe, not after materialization.

    Head/tail slicing, md5 hashes, the df cap (count per hash) and the
    equality verify are all bit-identical in DuckDB, so the pair list
    is oracle-checkable.
    """
    kk = int(k)
    toks = fanout(documents).select(
        F.col(id_col).alias("doc"),
        tokens(F.col(text_col)).alias("toks"))
    toks = toks.filter(F.size("toks") >= kk)
    ends = toks.select(
        "doc",
        F.concat_ws(" ", F.slice(F.col("toks"), 1, kk)).alias("head"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.size("toks") - kk + 1, kk))
         .alias("tail"))
    ends = ends.select(
        "doc", "head", "tail",
        F.substring(F.md5(F.col("head")), 1, 16).alias("hh"),
        F.substring(F.md5(F.col("tail")), 1, 16).alias("th"))
    # four consumers below (two df-cap aggregates + both join sides);
    # without materialization each one re-executes the corpus scan +
    # tokenize pipeline — FOUR full corpus passes in one plan (no
    # cross-branch CSE in Catalyst). Checkpointing the narrow
    # per-doc boundary table (two k-grams + two 16-byte hashes per
    # doc) makes it ONE corpus pass at any scale (guide §1.2).
    ends = ends.localCheckpoint(eager=False)
    head_df = (ends.groupBy("hh").agg(F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") <= int(max_df)).select("hh"))
    tail_df = (ends.groupBy("th").agg(F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") <= int(max_df)).select("th"))
    heads = (ends.join(head_df, "hh", "left_semi")
             .select(F.col("doc").alias("right_id"),
                     F.col("hh").alias("bh"), F.col("head").alias("bt")))
    tails = (ends.join(tail_df, "th", "left_semi")
             .select(F.col("doc").alias("left_id"),
                     F.col("th").alias("bh"), F.col("tail").alias("tt")))
    return (tails.join(heads, ["bh"])
            .filter((F.col("left_id") != F.col("right_id"))
                    & (F.col("tt") == F.col("bt")))
            .select("left_id", "right_id",
                    F.col("tt").alias("boundary_text")))


def minhash_calibration(documents: DataFrame, n: int = 3,
                        num_hashes: int = 16, bands: int = 8,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_bucket: int | None = 500) -> DataFrame:
    """Measure-don't-guess for the MinHash estimator ON this corpus:
    for every LSH candidate pair (same band join + hot-bucket cap as
    ``minhash_lsh_pairs``, no threshold filter), compare the signature
    AGREEMENT estimate (matching components / num_hashes — the
    statistic ``incremental_minhash_dedup`` decides drops with) against
    the EXACT shingle Jaccard, bucketed by exact-Jaccard decile.
    Output: (j_bucket 0..9, n_pairs, avg_est, avg_exact, avg_abs_err)
    — the operational answer to "how many hashes do I need at my
    threshold": if avg_abs_err at the decision decile exceeds the
    threshold margin, raise num_hashes.

    Everything aggregates in exact integers (est micro-units are
    matches·1e6/num_hashes — an integer when num_hashes divides 1e6;
    exact-Jaccard micro-units round once per pair), so FP summation
    order cannot move a digit and the whole report is
    DuckDB-hash-checkable. Decile = floor(10·n_inter/n_union): one
    IEEE-correctly-rounded division on identical operands in both
    engines, hence identical buckets.

    Shape: identical staging to ``minhash_lsh_pairs`` (shared
    ``shingled``/``minhash_signatures`` helpers, same checkpoint
    policy); the extra work over the pair query is one 16-comparison
    projection per candidate and a 10-group aggregate.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands})")
    if 1_000_000 % num_hashes != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide 1e6 so the "
            "estimate's micro-units stay exact integers")
    sets, sig, candidates = _lsh_candidates(
        documents, n, num_hashes, bands, max_bucket, id_col, text_col)
    sig_a = sig.select(F.col("doc").alias("doc_a"),
                       *[F.col(f"mh_{i}").alias(f"a_{i}")
                         for i in range(num_hashes)])
    sig_b = sig.select(F.col("doc").alias("doc_b"),
                       *[F.col(f"mh_{i}").alias(f"b_{i}")
                         for i in range(num_hashes)])
    matches = None
    for i in range(num_hashes):
        m = (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("long")
        matches = m if matches is None else matches + m
    sh_a = sets.select(F.col("doc").alias("doc_a"),
                       F.col("shingles").alias("sh_a"))
    sh_b = sets.select(F.col("doc").alias("doc_b"),
                       F.col("shingles").alias("sh_b"))
    per_pair = (
        candidates.join(sig_a, "doc_a").join(sig_b, "doc_b")
        .withColumn("est_u", matches * (1_000_000 // num_hashes))
        .join(sh_a, "doc_a").join(sh_b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union",
                    F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
        .withColumn("j_u", F.round(F.col("n_inter") * 1_000_000
                                   / F.col("n_union"), 0).cast("long"))
        .withColumn("j_bucket",
                    F.least(F.lit(9), F.floor(
                        F.col("n_inter") * 10 / F.col("n_union")))
                    .cast("int")))
    return (per_pair.groupBy("j_bucket")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 round_fixed(F.avg("est_u") / 1e6, 4).alias("avg_est"),
                 round_fixed(F.avg("j_u") / 1e6, 4).alias("avg_exact"),
                 round_fixed(F.avg(F.abs(F.col("est_u") - F.col("j_u")))
                             / 1e6, 4).alias("avg_abs_err")))


def stitch_documents(documents: DataFrame, k: int = 3, max_df: int = 64,
                     max_chain: int = 16, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Apply-side of ``boundary_overlap_pairs`` (the dup_spans →
    remove_dup_spans pattern): reassemble documents that a crawler's
    fetch limit split into continuation fragments. Only UNAMBIGUOUS
    chains stitch — each fragment has at most one successor and one
    predecessor among the detected pairs, chains with no head (cycles)
    are dropped, and chains longer than ``max_chain`` are refused: the
    boundary k-gram is chrome, not a split. Refused chains are emitted
    as FLAGGED rows (refused=true, text='', full membership in
    doc_ids) rather than raised — at corpus scale one pathological
    chain must not kill the job, and the flagged row carries exactly
    what an operator needs to triage (raise k or lower max_df).
    Output: one row per chain — (chain_id = head doc id, doc_ids
    comma-joined in order, text with each continuation's ``k``-token
    overlap dropped, '' when refused, n_docs, refused). chain_id
    carries the INPUT id type — integral and string ids both
    supported; integral ids must be non-negative (-1 is the internal
    no-successor sentinel, kept off the NULL path because a nullable
    long crosses Arrow as float64 and int(float) corrupts ids above
    2^53). Untouched documents are NOT emitted; callers join fragments
    out of the corpus by doc_ids.

    Shape, at 100 TB:
    - Pair detection and the ambiguity filters are plain aggregates on
      the (already df-capped) pair list — corpus-scale work ends there.
    - Chain ordering is inherently sequential WITHIN a chain (the same
      serialization point whole-doc packing shards around), so chains
      assemble in one ``applyInPandas`` per chain group; groups are
      paths of ≤ max_chain tiny rows by construction, and chains scale
      across executors like any grouped map.
    - Ordering + merge are deterministic (successor map is a function),
      so the whole report is oracle-checkable via a recursive CTE.
    """
    # checkpoint the detection output: three consumers below (both
    # ambiguity filters + the edge projection) must not re-execute the
    # corpus-scale tokenize/hash/df-cap pipeline
    pairs = boundary_overlap_pairs(documents, k=k, max_df=max_df,
                                   id_col=id_col, text_col=text_col
                                   ).localCheckpoint(eager=True)
    # unambiguous: unique successor per left AND unique predecessor
    # per right — both computed on the pair list, corpus untouched
    uniq_l = (pairs.groupBy("left_id").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") == 1).select("left_id"))
    uniq_r = (pairs.groupBy("right_id").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") == 1).select("right_id"))
    edges = (pairs.join(uniq_l, "left_id", "left_semi")
             .join(uniq_r, "right_id", "left_semi")
             .select("left_id", "right_id")
             .localCheckpoint(eager=True))
    # chain membership by POINTER DOUBLING on the predecessor map — the
    # ambiguity semi-joins above guarantee in-degree <= 1 and out-degree
    # <= 1, so every component is a simple path or a simple cycle, and
    # the general-graph CC machinery (star contraction: ~4 edge-list
    # shuffles + a checksum collect per round) is overkill. Doubling
    # does ONE self-join of the tiny pair-scale pointer table per round
    # and halves every vertex's distance to its chain head, so it
    # resolves ALL paths in ceil(log2(longest chain)) rounds — the same
    # O(log d) bound star contraction has, at a quarter of the per-round
    # shuffles (guide §1.2 / §2.4; r10 plan diff in plans/r10/). Cycle
    # members never resolve (no head to reach); they are dropped here,
    # exactly as the old CC+assemble path dropped them (assemble
    # returned no row for a headless component).
    ptr = edges.select(F.col("right_id").alias("vertex"),
                       F.col("left_id").alias("anc"))
    verts = (edges.select(F.col("left_id").alias("vertex"))
             .unionByName(edges.select(F.col("right_id").alias("vertex")))
             .distinct())
    # heads have no predecessor row: they are their own chain id
    heads_self = (verts.join(ptr.select("vertex"), "vertex", "left_anti")
                  .select("vertex", F.col("vertex").alias("component")))
    ptr = ptr.withColumn("done", F.lit(False)).localCheckpoint(eager=True)
    unresolved = ptr.count()
    # ceil(log2(chain)) rounds; 64 bounds chains past any physical id
    # space, so exhausting it means a bug upstream, not a deep chain
    for _ in range(64):
        if unresolved == 0:
            break
        p2 = ptr.select(F.col("vertex").alias("_av"),
                        F.col("anc").alias("_aa"),
                        F.col("done").alias("_ad"))
        ptr = (ptr.join(p2, ptr.anc == p2._av, "left")
               .select(
                   "vertex",
                   F.coalesce("_aa", "anc").alias("anc"),
                   # resolved when anc has no pointer row (anc IS a
                   # head) or anc's pointer already reached its head
                   (F.col("_av").isNull() | F.col("_ad")).alias("done"))
               ).localCheckpoint(eager=False)
        still = ptr.filter(~F.col("done")).count()
        if still == unresolved:
            break   # only cycles remain: every acyclic vertex strictly
            # approaches its head each round, so a stalled count means
            # no path vertices are left unresolved
        unresolved = still
    comp = (ptr.filter(F.col("done"))
            .select("vertex", F.col("anc").alias("component"))
            .unionByName(heads_self))
    members = (comp.join(
        documents.select(F.col(id_col).alias("vertex"),
                         F.col(text_col).alias("_text")), "vertex"))
    succ = edges.select(F.col("left_id").alias("vertex"),
                        F.col("right_id").alias("_next"))
    id_type = documents.schema[id_col].dataType
    id_sql = id_type.simpleString()
    integral = id_sql in ("tinyint", "smallint", "int", "bigint")
    if not integral and id_sql != "string":
        raise ValueError(
            f"stitch_documents: id_col '{id_col}' is {id_sql}; only "
            "integral and string document ids are supported")
    members = members.join(succ, "vertex", "left")
    if integral:
        # -1 sentinel instead of NULL: a nullable long crosses Arrow as
        # float64 and int(float) corrupts doc ids above 2^53. String
        # ids keep NULL (object dtype preserves None exactly).
        members = members.withColumn(
            "_next", F.coalesce("_next", F.lit(-1)))

    kk, mc = int(k), int(max_chain)
    out_schema = (f"chain_id {id_sql}, doc_ids string, text string, "
                  "n_docs int, refused boolean")
    conv = int if integral else str
    is_end = (lambda v: v == -1) if integral else (lambda v: v is None)

    def assemble(pdf):
        import pandas as pd
        nxt = dict(zip(pdf["vertex"], pdf["_next"]))
        txt = dict(zip(pdf["vertex"], pdf["_text"]))
        tails = {v for v in nxt.values() if not is_end(v)}
        heads = [v for v in nxt if v not in tails]
        if len(heads) != 1:   # cycle (no head): refuse to guess
            return pd.DataFrame(
                columns=["chain_id", "doc_ids", "text", "n_docs",
                         "refused"])
        order = [conv(heads[0])]
        # defensive termination bound: the unique-successor/predecessor
        # semi-joins upstream guarantee each component is a simple path,
        # so the walk can never visit more vertices than the component
        # holds — but a regression in those filters (or in the CC step)
        # must surface as a refused row, not an executor-hanging
        # infinite loop or a KeyError. Free: pdf is already in memory.
        broken = False
        missing = object()   # distinct from the end-of-chain sentinel:
        # a successor pointing OUTSIDE the component's vertex set is
        # exactly the regression class this bound exists to surface —
        # it must become a refused row, never a silently-truncated
        # "clean" chain
        while True:
            nv = nxt.get(order[-1], missing)
            if nv is missing:
                broken = True
                break
            if is_end(nv):
                break
            if len(order) >= len(pdf):   # would revisit: cycle/regression
                broken = True
                break
            order.append(conv(nv))
        refused = broken or len(order) > mc
        if refused:
            text = ""
        else:
            parts = [txt[order[0]]]
            for v in order[1:]:
                parts.append(" ".join(txt[v].split()[kk:]))
            text = " ".join(p for p in parts if p)
        return pd.DataFrame([{
            "chain_id": order[0],
            "doc_ids": ",".join(str(v) for v in order),
            "text": text,
            "n_docs": len(order),
            "refused": refused,
        }])

    return members.groupBy("component").applyInPandas(
        assemble, schema=out_schema)

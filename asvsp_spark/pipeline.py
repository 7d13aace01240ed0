"""End-to-end materialized batch chain — the reference's layered
warehouse as one composable run (SURVEY §3.1: load -> daily -> monthly
-> annual + baselines, each layer durable partitioned parquet).

The reference materializes every layer to Parquet+Hive so streaming can
reuse the baselines (reference src/batch/process.sh:19-32); this engine
keeps that layering but each stage is a pure transform, so a single-
session caller may also fuse stages by skipping the writes.

Partition specs mirror SURVEY §1.1 (scaled to the events entity):
daily by (event_type, yr, mon), monthly by (event_type, yr), baselines
by event_type — so every downstream partition-key filter prunes at scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from asvsp_spark import tables
from asvsp_spark.operators import rollups as R
from asvsp_spark.sources.batch import write_partitioned


def run_batch_chain(spark: SparkSession, sf_dir: str,
                    out_dir: str) -> dict[str, DataFrame]:
    """Materialize the rollup hierarchy under ``out_dir`` and return
    readers over the written layers."""
    events = tables.load(spark, sf_dir, "events")

    daily = R.daily_rollup(events)
    write_partitioned(daily, f"{out_dir}/daily", ["event_type", "yr", "mon"])
    daily_r = spark.read.parquet(f"{out_dir}/daily")

    monthly = R.monthly_rollup(daily_r)
    write_partitioned(monthly, f"{out_dir}/monthly", ["event_type", "yr"])

    base = R.baselines(events)
    write_partitioned(base, f"{out_dir}/baselines", ["event_type"])

    return {
        "daily": daily_r,
        "monthly": spark.read.parquet(f"{out_dir}/monthly"),
        "baselines": spark.read.parquet(f"{out_dir}/baselines"),
    }


# ingest-gate flavor of streaming/source.py DOCS_STREAM_SCHEMA: the
# corpus pipeline groups by lang from stage 1 on, so the gate carries
# it through; ts_us is the crawl/arrival event time in microseconds
INGEST_DOCS_SCHEMA = "doc_id long, text string, lang string, ts_us long"


def streaming_ingest_dedup(spark: SparkSession, ingest_dir: str,
                           staged_dir: str,
                           checkpoint_dir: str | None = None,
                           watermark: str = "72 hours") -> DataFrame:
    """Ingest-time NEAR-duplicate gate (opt-in stage 0s of the corpus
    pipeline — the sq15 operator productionized): documents arriving
    as parquet batches under ``ingest_dir`` are keyed by their
    content-derived MinHash band key (streaming/queries.py
    with_doc_band_key — a row-local projection, no shuffle) and
    deduplicated with ``dropDuplicatesWithinWatermark``, so a
    re-crawl/mirror of a document seen within the watermark horizon is
    suppressed at the door WHATEVER its doc_id — before a single batch
    stage spends a scan on it. Survivors land in the ``staged_dir``
    manifest sink (exactly-once file sink; readers only see committed
    files) and the returned frame READS THE SINK — the cumulative
    staged corpus across all drains of this checkpoint.

    With a persistent ``checkpoint_dir`` this is the production
    cadence (mirror of how stage 2d composes with the incremental
    substring store): each pipeline run drains only NEW arrivals, and
    the dedup state carries across runs, so a re-crawl within the
    horizon of a PRIOR run is suppressed too. State is one
    (band_key, expiry) entry per distinct content key inside the
    horizon — O(arrival rate x horizon), never O(corpus).
    """
    import os

    from pyspark.sql import functions as F

    from asvsp_spark.sources.store import hadoop_fs
    from asvsp_spark.streaming.queries import with_doc_band_key
    from asvsp_spark.streaming.source import drain_to_parquet

    def _has_entries(path: str) -> bool:
        # Hadoop-FS listing, not os.listdir: staged_dir/checkpoint_dir
        # may be any Hadoop-resolvable URI (hdfs://, s3a://) and a
        # driver-local listdir would misread a remote sink as fresh —
        # either bypassing the silent-skip guard (guard 1 fails open)
        # or refusing a legitimate resume (guard 2 fails closed; both
        # r10 review findings). sources/store.hadoop_fs resolves it.
        # A missing/empty dir reads as "no entries"; any OTHER access
        # failure (permissions, I/O) propagates — treating an
        # unreadable sink as fresh would drop every new arrival.
        fs, hpath = hadoop_fs(spark, path)
        if not fs.exists(hpath):
            return False
        return any(not st.getPath().getName().startswith(".")
                   for st in fs.listStatus(hpath))

    # one probe, used by both symmetric guards below (r10 review:
    # spelling it twice invites drift)
    sink_used = _has_entries(os.path.join(staged_dir, "_spark_metadata"))
    if sink_used and (
            checkpoint_dir is None
            or not _has_entries(os.path.join(checkpoint_dir, "offsets"))):
        # a fresh checkpoint (None, a not-yet-created dir, or a dir
        # with no recorded offsets — i.e. one that never ran against
        # this sink) restarts micro-batch ids at 0, and the manifest
        # sink already committed a batch 0 — Spark would log "skipping
        # already committed batch" and SILENTLY write nothing, so
        # every new arrival would vanish. Refuse loudly instead (r9
        # review finding; widened from the checkpoint_dir-is-None case
        # to ANY offset-less checkpoint by the r10 ADVICE finding).
        # A checkpoint WITH offsets replaying over the sink is the
        # legitimate crash-recovery path and passes through.
        raise ValueError(
            f"streaming_ingest_dedup: staged sink {staged_dir!r} has "
            "committed batches from a previous drain, but "
            f"checkpoint_dir {checkpoint_dir!r} has no recorded "
            "offsets — re-draining with a fresh checkpoint would "
            "silently skip every new arrival. Pass the original "
            "checkpoint_dir (the incremental cadence) or a fresh "
            "staged_dir.")
    if (checkpoint_dir is not None and not sink_used
            and _has_entries(os.path.join(checkpoint_dir, "commits"))):
        # the CONVERSE mismatch: a checkpoint with COMMITTED batches
        # against a sink with none means the checkpoint ran with a
        # DIFFERENT staged_dir — Spark would resume past the committed
        # batches, so every arrival they covered would never be
        # written to THIS empty sink and the returned frame would
        # silently read an incomplete corpus (r10 review of the
        # guard's symmetry). Keyed on commits/, not offsets/: a crash
        # between the offset write and the first sink commit leaves
        # offsets-but-no-commits, and THAT restart is legitimate
        # (Spark re-runs the in-flight batch against this sink).
        raise ValueError(
            f"streaming_ingest_dedup: checkpoint_dir {checkpoint_dir!r}"
            " has committed batches but staged sink "
            f"{staged_dir!r} has none — resuming this checkpoint "
            "against a fresh sink would silently skip the batches it "
            "already committed elsewhere. Pair the checkpoint with ITS "
            "staged_dir, or start both fresh.")
    raw = spark.readStream.schema(INGEST_DOCS_SCHEMA).parquet(ingest_dir)
    keyed = (with_doc_band_key(raw)
             .withColumn("ts", F.timestamp_micros(F.col("ts_us"))))
    deduped = (keyed.withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(["band_key"])
               .select("doc_id", "text", "lang", "ts"))
    return drain_to_parquet(deduped, spark, partition_by=[],
                            path=staged_dir, sink="append_manifest",
                            output_mode="append",
                            checkpoint_dir=checkpoint_dir)


def run_corpus_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                        quality_pct: float = 0.25,
                        jaccard_threshold: float = 0.5,
                        targets: dict[str, float] | None = None,
                        near_dedup: str = "minhash",
                        benchmark: DataFrame | None = None,
                        scrub_pii: bool = False,
                        n_shards: int | None = None,
                        min_norm_entropy: float | None = None,
                        bpe_merges: int | None = None,
                        contract: list[dict] | None = None,
                        audit: bool = False,
                        paragraph_delimiter: str | None = None,
                        paragraph_joiner: str = "\n\n",
                        line_dedup: bool = False,
                        substring_dedup: bool = False,
                        substring_window: int = 8,
                        ingest_dir: str | None = None,
                        ingest_checkpoint: str | None = None,
                        ingest_staged: str | None = None,
                        ingest_watermark: str = "72 hours",
                        classifier_gate: bool = False,
                        classifier_train_cap: int = 10_000,
                        ) -> dict[str, int]:
    """The LLM training-data preparation chain, end to end — what a user
    of this engine actually runs over a raw corpus:

      0s. ingest gate — with ``ingest_dir`` set, documents arrive as a
                     STREAM (parquet batches of INGEST_DOCS_SCHEMA) and
                     pass the content-keyed near-dup gate
                     (streaming_ingest_dedup above: MinHash band key +
                     dropDuplicatesWithinWatermark) before any batch
                     stage runs; a re-crawl within ``ingest_watermark``
                     of a seen document never reaches the pipeline.
                     With a persistent ``ingest_checkpoint`` the gate
                     is incremental across runs (the production
                     cadence). Funnel rows: ``ingest_raw`` (arrivals)
                     then ``raw`` (staged survivors),
      0. contract  — with ``contract`` set (a list of validate.py check
                     specs), the raw documents must pass the declarative
                     data-quality suite first; any failing check aborts
                     the whole build before a single corpus scan is
                     spent (the gate itself is one aggregate pass),
      1. profile   — per-doc quality score + language (one scan,
                     functions/text.py expressions),
      2. gate      — drop each language's bottom ``quality_pct`` by exact
                     percentile threshold (broadcast thresholds); with
                     ``min_norm_entropy`` set, also drop template-spam
                     docs whose normalized token entropy
                     (functions/text.py token_entropy, shuffle-free)
                     falls below the absolute cutoff,
      2b. line dedup — with ``line_dedup=True``, the RefinedWeb
                     within-document keep-first line cleanup (repeated
                     nav/stutter) rewrites text in place at scan speed
                     on the documents' real '\\n' structure — first,
                     so the paragraph rebuild below can never erase
                     the newlines it splits on; when paragraph dedup
                     is ALSO requested the rewrite preserves blank
                     lines in place (preserve_blanks) so stage 2c's
                     '\\n{2,}' boundaries survive; whitespace-only
                     docs empty out and drop here,
      2c. paragraph dedup — with ``paragraph_delimiter`` set, strip
                     corpus-wide repeated segments (keep-first) before
                     any document-level dedup — the CCNet ordering, so
                     boilerplate-only differences collapse into exact
                     duplicates; emptied docs drop here,
      2d. substring dedup — with ``substring_dedup=True``, the Lee-
                     et-al pass: every duplicated substring of length
                     >= ``substring_window`` tokens keeps its FIRST
                     occurrence corpus-wide and loses the rest
                     (operators/dedup.py dup_substring_runs ->
                     remove_dup_substring_runs) — the finest-grained
                     rewrite stage, catching verbatim duplication that
                     crosses paragraph boundaries; docs that were
                     entirely duplicated spans empty out and drop.
                     For incremental cadences the same removal
                     composes with ``incremental_dup_substring``'s
                     runs (keep='none': the canonical copy lives in a
                     prior batch),
      2e. classifier gate — with ``classifier_gate=True``, the learned
                     quality gate (GPT-3/RefinedWeb shape): the exact-
                     integer NB-weighted classifier trains on the
                     surviving docs' heuristic extremes and keeps docs
                     its calibrated cut predicts positive (classify.py
                     nb_quality_scores — the oracle-paired scorer;
                     ``classifier_train_cap`` bounds its md5-sampled
                     training slice); runs on cleaned text, before any
                     dedup,
      3. exact dedup — keep the smallest doc_id per canonical-text
                     fingerprint,
      4. near dedup — candidate pairs from the ``near_dedup`` generator
                     -> connected components; keep each cluster's
                     canonical representative. Generators: ``minhash``
                     (default — MinHash-LSH bands: sub-linear candidate
                     volume; the 20x adversarial-duplication probe in
                     COVERAGE.md measures it at 3.3x growth where exact
                     ``jaccard`` hits 26x, which is why production
                     defaults to the sketch), ``jaccard`` (exact
                     inverted-index pairs — the quadratic-output answer
                     a small/audited corpus can afford), ``winnow``
                     (MOSS fingerprints: substring-level containment),
      5. decontaminate — if a ``benchmark`` eval set is supplied, drop
                     docs sharing any word trigram with it (broadcast
                     collision anti-join; dedup.decontaminate_report),
      6. rebalance — exact-quota mixture toward ``targets`` (md5-rank
                     membership); with ``scrub_pii`` the surviving text
                     is then redacted in place (functions/text.py
                     pii_scrub — emails/phones/IPs/SSNs to typed
                     placeholders, cross-engine-pinned patterns),
      7. write     — the cleaned corpus partitioned by lang, via the
                     idempotent partitioned writer; with ``n_shards``
                     set, partitioned instead by the deterministic
                     shuffle-shard plan (operators/sharding.py — shard
                     and intra-shard order are pure md5 functions of
                     the doc id) with the per-shard loader manifest
                     written beside it — the training-ready layout,
      8. tokenize  — with ``bpe_merges`` set, learn that many BPE
                     merges over the WRITTEN corpus (the tokenizer
                     trains on exactly the data that ships,
                     operators/vocab.py) and land the merge table at
                     ``{out_dir}/bpe_merges``.

    With ``audit=True`` the build also writes ``{out_dir}/drop_audit``:
    one row per RAW document with the first stage that dropped it
    (``dropped_at`` ∈ quality_gate / line_dedup / paragraph_dedup /
    substring_dedup / classifier_gate / exact_dedup / near_dedup /
    decontaminate / rebalance, or ``kept``) — the "why is my document
    not in the corpus?" provenance table. Cost: the per-stage id sets
    are already materialized for the funnel counts, so the audit adds
    only id-keyed anti-joins over 8-byte keys and an id-sized write —
    no extra corpus scan, no text movement.

    Every stage is the already-oracle-checked operator — this function
    only composes them — and each materializes a narrow id set, so the
    full text travels exactly twice (profile scan + final write-out
    semi-join). Returns per-stage surviving counts (monotone
    non-increasing; pinned in tests under both the minhash and jaccard
    generators), plus — when requested — the learned-artifact count
    ``bpe_merges`` (a vocabulary size, outside the monotone funnel).
    """
    from pyspark.sql import functions as F

    from asvsp_spark.functions import text as TX
    from asvsp_spark.operators.components import dedup_clusters
    from asvsp_spark.operators.dedup import (
        exact_dedup, jaccard_pairs, minhash_lsh_pairs, winnow_pairs)
    from asvsp_spark.operators.sampling import mixture_rebalance
    from asvsp_spark.plans.base import round_fixed

    pair_generators = {
        "minhash": minhash_lsh_pairs,
        "jaccard": jaccard_pairs,
        "winnow": winnow_pairs,
    }
    if near_dedup not in pair_generators:
        raise ValueError(
            f"near_dedup must be one of {sorted(pair_generators)}, "
            f"got {near_dedup!r}")
    pair_gen = pair_generators[near_dedup]

    counts: dict[str, int] = {}
    if ingest_dir is not None:
        # 0s: streaming ingest near-dup gate (opt-in) — re-crawls
        # within the watermark horizon are suppressed BEFORE the batch
        # stages ever see them; `raw` below is then the staged-survivor
        # count, so the monotone funnel's head already reflects the
        # gate, and ingest_raw records the arrivals it saw
        counts["ingest_raw"] = (spark.read.schema(INGEST_DOCS_SCHEMA)
                                .parquet(ingest_dir).count())
        docs = streaming_ingest_dedup(
            spark, ingest_dir,
            ingest_staged or f"{out_dir}/ingest_staged",
            checkpoint_dir=ingest_checkpoint,
            watermark=ingest_watermark,
        ).select("doc_id", "text", "lang")
    else:
        docs = tables.load(spark, sf_dir, "documents")
    counts["raw"] = docs.count()
    # (stage name, surviving doc_id frame) checkpoints for the optional
    # drop audit — id-only projections of frames the funnel already
    # materializes, so recording them is free
    audit_stages: list[tuple[str, DataFrame]] = []

    # 0: optional declarative contract gate (operators/validate.py) —
    # fail fast on garbage input BEFORE spending the corpus scans below;
    # one aggregate pass per non-FK suite, so the gate costs one scan
    if contract:
        from asvsp_spark.operators.validate import check_suite
        report = check_suite(docs, "documents", contract).collect()
        failed = [r["check"] for r in report
                  if not r["passed"] and r["severity"] == "error"]
        if failed:
            raise ValueError(
                "input contract violated, refusing to build the corpus: "
                + ", ".join(failed))
        # warn-severity violations surface in the report but don't gate
        counts["contract_checks"] = len(report)

    # 1-2: score and gate (the canonical shared formula)
    scored = (docs
              .withColumn("toks", TX.tokens(F.col("text")))
              .withColumn("n_tokens", F.size("toks"))
              .withColumn("n_stop", TX.stopword_count("toks"))
              .withColumn("q", round_fixed(TX.quality_score_expr(
                  F.col("n_tokens"), F.col("n_stop")), 6)))
    if min_norm_entropy is not None:
        # reuse the toks column from the scoring projection — the
        # entropy gate must not pay a second corpus-wide tokenization
        n_uniq = F.size(F.array_distinct(F.col("toks")))
        norm_h = F.when(
            n_uniq > 1,
            TX.token_entropy("toks") / F.log(n_uniq.cast("double"))
        ).otherwise(F.lit(0.0))
        scored = scored.filter(norm_h >= F.lit(min_norm_entropy))
    scored = scored.drop("toks")
    th = scored.groupBy("lang").agg(
        F.percentile("q", quality_pct).alias("q_min"))
    gated = (scored.join(F.broadcast(th), "lang")
             .filter(F.col("q") >= F.col("q_min"))
             .drop("q", "q_min", "n_tokens", "n_stop")
             .localCheckpoint(eager=False))
    counts["quality_gated"] = gated.count()
    audit_stages.append(("quality_gate", gated.select("doc_id")))

    def _rewrite_stage(base, cleaned, count_key, audit_name):
        """Shared in-place text-rewrite stage plumbing (2b/2c): docs the
        rewrite emptied (all lines blank / every segment a repeat) drop
        here, keeping the funnel monotone and letting the audit
        attribute them to this stage."""
        out = (base.drop("text")
               .join(cleaned.filter(F.col("text") != "")
                     .select("doc_id", "text"), "doc_id")
               .localCheckpoint(eager=False))
        counts[count_key] = out.count()
        audit_stages.append((audit_name, out.select("doc_id")))
        return out

    # 2b: within-document line dedup (opt-in) — the RefinedWeb
    # line-wise cleanup runs FIRST, on the documents' real newline
    # structure with the operator's own '\n' split/join (paragraph
    # options do not apply: this is a line operation, and running it
    # before the paragraph rebuild means the rebuild can never erase
    # the delimiters it needs). Docs differing only in repeated-line
    # stutter normalize here, so they collapse into exact duplicates
    # downstream; whitespace-only docs empty out and drop.
    # With paragraph dedup ALSO requested, blank lines are preserved in
    # place (preserve_blanks) so the '\n{2,}'-style boundaries stage 2c
    # splits on survive this rewrite — without it the blank-dropping
    # '\n' rejoin collapses every doc into ONE paragraph segment and
    # stage 2c silently removes nothing (the r7 advice finding; the
    # combined-flag pipeline test pins the fix).
    if line_dedup:
        from asvsp_spark.operators.dedup import line_dedup_docs
        gated = _rewrite_stage(
            gated,
            line_dedup_docs(gated,
                            preserve_blanks=paragraph_delimiter is not None),
            "line_deduped", "line_dedup")

    # 2c: paragraph-level dedup (opt-in) — the CCNet placement: strip
    # corpus-wide repeated segments BEFORE document-level dedup, so
    # boilerplate-only differences collapse docs into exact duplicates
    # the next stage removes. Rewrites text in place (keep-first,
    # operators/dedup.py paragraph_dedup); docs whose every segment was
    # a repeat empty out and are dropped here.
    if paragraph_delimiter is not None:
        from asvsp_spark.operators.dedup import paragraph_dedup
        gated = _rewrite_stage(
            gated,
            paragraph_dedup(gated, delimiter=paragraph_delimiter,
                            joiner=paragraph_joiner),
            "paragraph_deduped", "paragraph_dedup")

    # 2d: substring-level keep-one dedup (opt-in) — the finest rewrite:
    # duplicated runs of >= substring_window tokens keep their first
    # occurrence corpus-wide, every other occurrence is stripped. Runs
    # AFTER the structural passes (a stripped paragraph must not also
    # count as a substring occurrence) and before exact dedup (shorn
    # docs may now collapse into exact duplicates).
    if substring_dedup:
        from asvsp_spark.operators.dedup import (dup_substring_runs,
                                                 remove_dup_substring_runs)
        runs = dup_substring_runs(gated, window=substring_window)
        gated = _rewrite_stage(
            gated, remove_dup_substring_runs(gated, runs),
            "substring_deduped", "substring_dedup")

    # 2e: model-based quality gate (opt-in) — the GPT-3/RefinedWeb
    # learned gate layered on the heuristic one: train the exact-
    # integer NB-weighted classifier on the SURVIVORS' heuristic
    # extremes (classify.py nb_quality_scores — bounded md5-gated
    # training sample, broadcast weight table) and keep docs the
    # calibrated cut predicts positive. Runs after the rewrite stages
    # (the model should see the CLEANED text, which is also why the
    # label bootstrap re-tokenizes rather than reusing stage 1's
    # pre-rewrite toks — and its 0.25/0.75 extremes percentiles over
    # the gated subset are different quantiles over a different set
    # than stage 2's quality_pct threshold, so nothing here is a
    # redundant recomputation) and before dedup (dropping low-quality
    # docs first shrinks every pair-generation stage downstream).
    if classifier_gate:
        from asvsp_spark.operators.classify import nb_quality_scores
        # classifier_train_cap bounds the md5-sampled training slice
        # (classify.py gate) — the production knob for corpora whose
        # labeled extremes exceed what a driver-side calibration rank
        # should sort; threaded so the sampled path is testable
        # end-to-end (r9 verdict item 3)
        pos_ids = (nb_quality_scores(gated,
                                     train_cap=classifier_train_cap)
                   .filter(F.col("predicted") == 1).select("doc_id"))
        gated = gated.join(pos_ids, "doc_id", "left_semi") \
            .localCheckpoint(eager=False)
        counts["classifier_gated"] = gated.count()
        audit_stages.append(("classifier_gate", gated.select("doc_id")))

    # 3: exact dedup — keepers only
    keepers = exact_dedup(gated).select(
        F.col("keeper_id").alias("doc_id"))
    exact = gated.join(F.broadcast(keepers), "doc_id", "left_semi") \
        .localCheckpoint(eager=False)
    counts["exact_deduped"] = exact.count()
    audit_stages.append(("exact_dedup", exact.select("doc_id")))

    # 4: near-dup clusters -> canonical representative per cluster
    edges = pair_gen(exact, threshold=jaccard_threshold) \
        .select("doc_a", "doc_b")
    clusters = dedup_clusters(exact, edges)
    near = exact.join(
        clusters.filter(F.col("is_keeper")).select("doc_id"),
        "doc_id", "left_semi").localCheckpoint(eager=False)
    counts["near_deduped"] = near.count()
    audit_stages.append(("near_dedup", near.select("doc_id")))

    # 5: benchmark decontamination (optional — needs an eval set)
    if benchmark is not None:
        from asvsp_spark.operators.dedup import decontaminate_report
        clean_ids = (decontaminate_report(near, benchmark)
                     .filter(~F.col("contaminated")).select("doc_id"))
        near = near.join(clean_ids, "doc_id", "left_semi") \
            .localCheckpoint(eager=False)
        counts["decontaminated"] = near.count()
        audit_stages.append(("decontaminate", near.select("doc_id")))

    # 6: mixture rebalance (targets default to sampling.mixture_rebalance's)
    kept_ids = mixture_rebalance(near, targets=targets).select("doc_id")
    final = near.join(kept_ids, "doc_id", "left_semi")
    counts["rebalanced"] = final.count()
    audit_stages.append(("rebalance", final.select("doc_id")))

    if audit:
        # first-drop attribution: walk the funnel's id sets; a doc's
        # row carries the earliest stage whose survivor set lost it
        prev = docs.select("doc_id")
        parts = []
        for name, ids in audit_stages:
            parts.append(prev.join(ids, "doc_id", "left_anti")
                         .select("doc_id",
                                 F.lit(name).alias("dropped_at")))
            prev = ids
        parts.append(prev.select("doc_id", F.lit("kept").alias("dropped_at")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/drop_audit")

    # 6b: PII redaction (opt-in) — rewrites the text column in place
    # with typed placeholders; row count unchanged by construction, so
    # the funnel stays monotone. Runs LAST before the write: scrubbing
    # after dedup means the regex chain touches only surviving docs.
    if scrub_pii:
        final = final.withColumn("text", TX.pii_scrub(F.col("text")))

    # 7: durable, partition-pruned layout — analytics partitions by
    # default; deterministic training shards + loader manifest on demand
    if n_shards is not None:     # `is not None`: --shards 0 must error
        from asvsp_spark.operators.sharding import shard_assignments
        plan = shard_assignments(final, n_shards)
        sharded = final.join(
            plan.select("doc_id", "shard", "pos_in_shard"), "doc_id")
        write_partitioned(sharded, f"{out_dir}/corpus", ["shard"])
        # manifest aggregated from the plan already built — NOT
        # shard_manifest(final, ...), which would re-scan and re-rank
        # the whole corpus a second time for the same 16 rows
        (plan.groupBy("shard")
         .agg(F.count(F.lit(1)).cast("int").alias("n_docs"),
              F.sum("n_tokens").cast("long").alias("n_tokens"),
              F.max("n_tokens").cast("int").alias("max_doc_tokens"))
         .write.mode("overwrite").parquet(f"{out_dir}/manifest"))
    else:
        write_partitioned(final, f"{out_dir}/corpus", ["lang"])
    counts["written"] = spark.read.parquet(f"{out_dir}/corpus").count()

    # 8: tokenizer training on the shipped corpus (opt-in)
    if bpe_merges is not None:
        from asvsp_spark.operators.vocab import bpe_merge_table
        merges = bpe_merge_table(
            spark.read.parquet(f"{out_dir}/corpus"),
            num_merges=bpe_merges)
        merges.write.mode("overwrite").parquet(f"{out_dir}/bpe_merges")
        counts["bpe_merges"] = (
            spark.read.parquet(f"{out_dir}/bpe_merges").count())
    return counts

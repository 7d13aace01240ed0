"""Round-10 regression tests.

- sq15 oracle NULL-text branch: the engine keys NULL-text docs as
  'e'||doc_id (with_doc_band_key's r9 fix); the DuckDB oracle must do
  the same instead of silently dropping the doc (r10 ADVICE finding —
  latent because the fixture corpus has no NULL-text docs).
"""

from __future__ import annotations

import datetime
import os

import duckdb

import pytest
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import compare_frames_hashed


def test_sq15_oracle_keeps_null_text_docs(spark, tmp_path):
    """Cross-engine parity of sq15 on a crafted corpus containing a
    NULL-text doc (plus an exact dup, a sub-3-token doc, and normal
    docs): before the r10 fix the oracle's len(shingles)=0 branch
    matched neither arm for NULL shingles and the doc vanished from
    the oracle while the engine kept it under 'e'||doc_id."""
    from asvsp_spark.plans.oracle_ext import ORACLE_EXT
    from asvsp_spark.streaming.queries import sq15_neardup_dedup

    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "one two three four five six seven eight nine",
        2: "alpha beta gamma delta epsilon zeta eta theta",  # exact dup
        3: "two tokens",                                      # no shingles
        4: None,                                              # NULL text
        5: "iota kappa lambda mu nu xi omicron pi rho sigma",
    }
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(pa.table({
        "doc_id": pa.array(sorted(texts), pa.int64()),
        "text": pa.array([texts[i] for i in sorted(texts)], pa.string()),
    }), f"{sf}/documents.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"parquet_scan('{sf}/documents.parquet')")

    spark_df = sq15_neardup_dedup(spark, sf)
    duck_rel = con.sql(ORACLE_EXT["sq15_neardup_dedup"])
    compare_frames_hashed(spark_df, duck_rel,
                          context="sq15 NULL-text corpus")

    # the NULL-text doc must actually be REPRESENTED on both sides:
    # total kept across batch 1 = distinct content keys (4 distinct
    # texts key by signature/e-key; doc 2 collapses into doc 0) + the
    # NULL-text doc's e-key = 5, plus 1 sentinel, plus batch-3 re-emits
    total_kept = sum(r["n_kept"] for r in spark_df.collect())
    oracle_kept = con.sql(
        "SELECT sum(n_kept) FROM (" + ORACLE_EXT["sq15_neardup_dedup"]
        + ")").fetchone()[0]
    assert total_kept == oracle_kept
    # batch-1 keys: 3 signature keys + e3 + e4 = 5 (not 4 — the NULL
    # doc survives)
    n_batch1 = 5
    assert total_kept >= n_batch1 + 1  # + sentinel (+ any re-emits)


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_null_and_empty_text_cross_engine_parity(spark, tmp_path):
    """NULL-text and empty-text docs through every text-consuming
    oracle pair on one crafted corpus (r10 NULL probe, promoted to a
    pin): NULL text must flow with null-UNSAFE join semantics (a NULL
    fingerprint never matches a store — always fresh, never known),
    rewrites must pass NULL docs through as NULL with exact row
    cardinality (the length-filter projection trick silently DROPPED
    them until r10), and empty docs must rebuild to '' in both engines
    (DuckDB's array_to_string on [] is NULL — oracle-trap #8)."""
    import duckdb

    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    from tests.conftest import compare_frames_hashed

    docs = [(0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, None),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, None),
            (4, "one two three four five six seven eight nine ten"),
            (5, "")]
    d = str(tmp_path)
    (spark.createDataFrame(docs, "doc_id long, text string")
     .withColumn("lang", F.lit("en"))
     .withColumn("source", F.lit("p"))
     .withColumn("n_chars", F.length("text").cast("long"))
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(d, "documents.parquet")))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM parquet_scan("
                f"'{os.path.join(d, 'documents.parquet')}/*.parquet')")
    qs, osql = all_queries(), all_oracle_sql()
    for name in ("dedup_exact", "jaccard_pairs", "minhash_lsh_pairs",
                 "simhash_pairs", "winnow_pairs", "dup_spans",
                 "line_dedup_docs", "paragraph_dedup_docs",
                 "decontaminate_report", "doc_length_histogram",
                 "chunk_documents", "dedup_substring_removed",
                 "dedup_spans_removed", "dedup_components",
                 "dedup_representative", "incremental_dedup_report",
                 "doc_repetition", "text_profile", "lang_id",
                 "doc_fingerprint", "corpus_datacard",
                 "leakage_split_report", "dup_substring_runs",
                 "dup_substring_table", "incremental_substring_runs",
                 "incremental_paragraph_report",
                 "boundary_overlap_pairs", "gopher_quality_report",
                 "c4_quality_report", "quality_classifier_scores"):
        n_rows = compare_frames_hashed(qs[name](spark, d),
                                       con.sql(osql[name]),
                                       context=f"NULL-corpus {name}")
        if name in ("dedup_substring_removed", "dedup_spans_removed",
                    "line_dedup_docs"):
            # the rewrite entries keep corpus cardinality: one row per
            # input doc, NULL docs included (no plan re-execution — the
            # count comes from the compare's collect)
            assert n_rows == len(docs), name


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_events_edge_corpus_cross_engine_parity(spark, tmp_path):
    """NULL values / NULL event_type / NULL user_id / malformed and
    NULL JSON props / single-event groups / leap-day and year-end
    timestamps through 27 events-based oracle pairs (r10 events edge
    probe, promoted to a pin). The probe found and fixed: count(*) vs
    count(value) in the daily/baseline oracles (an all-NULL-value
    group has n = 0 in both engines), the heavy-hitters oracle
    counting the NULL key its engine contract excludes, the unpivot
    oracle emitting the NULL cells Spark's UNPIVOT drops, FAILFAST
    parse_json aborting both variant entries on one malformed record
    (now try_parse_json: NULL decodes, still counted), format_string
    rendering NULL event_type as a literal 'null' group key, and the
    sq3 oracle's unguarded json_extract erroring where the engine's
    from_json is PERMISSIVE."""
    import datetime

    import duckdb

    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    from tests.conftest import compare_frames_hashed

    TS = datetime.datetime
    rows = [
        # single-event day+type group; n=1 stddev -> NULL in both
        (0, TS(2024, 1, 1, 0, 0, 1), 1, "error", 185.22, '{"k": 1}'),
        # two identical values (stddev exactly 0)
        (1, TS(2024, 1, 2, 5, 0, 0), 2, "signup", 10.0, '{"k": 2}'),
        (2, TS(2024, 1, 2, 6, 0, 0), 3, "signup", 10.0, '{"k": 3}'),
        # NULL value / NULL event_type / NULL user_id
        (3, TS(2024, 1, 3, 1, 0, 0), 4, "purchase", None, '{"k": 4}'),
        (4, TS(2024, 1, 3, 2, 0, 0), 5, None, 7.25, '{"k": 5}'),
        (5, TS(2024, 1, 3, 3, 0, 0), None, "view", 1.0, '{"k": 6}'),
        # leap day midnight; year-end microsecond boundary
        (6, TS(2024, 2, 29, 0, 0, 0), 6, "view", 2.5, '{"k": 7}'),
        (7, TS(2024, 12, 31, 23, 59, 59, 999999), 7, "view", 3.75,
         '{"k": 8}'),
        # negative and huge values
        (8, TS(2024, 3, 1, 12, 0, 0), 8, "error", -50.5, '{"k": 9}'),
        (9, TS(2024, 3, 1, 13, 0, 0), 8, "error", 1e7, '{"k": 10}'),
        # malformed and NULL props
        (10, TS(2024, 3, 2, 9, 0, 0), 9, "view", 4.0, 'not json'),
        (11, TS(2024, 3, 2, 10, 0, 0), 9, "view", 5.0, None),
    ]
    d = str(tmp_path)
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    }), os.path.join(d, "events.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM parquet_scan("
                f"'{os.path.join(d, 'events.parquet')}')")
    qs, osql = all_queries(), all_oracle_sql()
    for name in ("rollup_daily_events", "rollup_monthly_events",
                 "baselines_events", "distinct_users_daily",
                 "funnel_daily", "user_day_bookends",
                 "sessionize_users", "heavy_hitters_users",
                 "key_skew_report", "gapfill_daily_values",
                 "gapfill_weekly_values", "gapfill_hourly_interp",
                 "sketch_value_percentiles", "pivot_daily_type",
                 "unpivot_daily_type", "type_correlation",
                 "distribution_drift_daily", "variant_props_decode",
                 "sq16_variant_hourly", "sq1_vs_baseline",
                 "sq2_dominant_trend", "sq3_top_users",
                 "sq5_rank_anomaly", "sq7_dedup_hourly",
                 "sq12_drift_hourly", "sq13_contract_hourly",
                 "sq14_value_percentiles_hourly"):
        compare_frames_hashed(qs[name](spark, d), con.sql(osql[name]),
                              context=f"events-edge {name}")


def test_events_null_ts_corpus_cross_engine_parity(spark, tmp_path):
    """NULL event_time rows through the 14 batch events oracle pairs
    (the r10 events fuzzer's falsifying corpus, promoted to a pin).
    The fuzzer caught: DuckDB's plain arg_min/arg_max SKIP rows whose
    arg is NULL, so on a (user, day) group whose first-by-ord event
    has NULL event_type the bookends oracle returned the NEXT type up
    the ordering where Spark's min_by returns the true first row's
    NULL — fixed by struct-wrapping the arg (oracle_ext). The corpus
    also pins the all-NULL-ord group (every engine pair must agree on
    NULL bookends there) and NULL-ts rows sharing a user with real
    ones."""
    from tests.conftest import compare_frames_hashed

    from asvsp_spark.plans.registry import all_oracle_sql, all_queries

    TS = datetime.datetime
    rows = (
        [(None, None, None, None, None)] * 2
        # first-by-ord row of (NULL user, 2024-01-01) has NULL type …
        + [(TS(2024, 1, 1, 0, 0), None, None, None, None)]
        + [(None, None, None, None, None)] * 6
        # … and the later row has a real one the oracle must NOT pick
        + [(TS(2024, 1, 1, 10, 54, 16), None, "click", None, None)]
        # NULL-ts rows sharing a user with real events
        + [(None, 3, "view", 1.5, '{"k": 1}'),
           (TS(2024, 1, 2, 1, 0), 3, None, None, "not json"),
           (TS(2024, 1, 2, 2, 0), 3, "view", 2.5, None)])
    d = str(tmp_path)
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[2] for r in rows], pa.string()),
        "value": pa.array([r[3] for r in rows], pa.float64()),
        "props": pa.array([r[4] for r in rows], pa.string()),
    }), os.path.join(d, "events.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM parquet_scan("
                f"'{os.path.join(d, 'events.parquet')}')")
    qs, osql = all_queries(), all_oracle_sql()
    for name in ("rollup_daily_events", "rollup_monthly_events",
                 "baselines_events", "distinct_users_daily",
                 "user_day_bookends", "sessionize_users",
                 "heavy_hitters_users", "key_skew_report",
                 "pivot_daily_type", "unpivot_daily_type",
                 "distribution_drift_daily", "variant_props_decode",
                 "scd2_user_state", "sketch_value_percentiles"):
        compare_frames_hashed(qs[name](spark, d), con.sql(osql[name]),
                              context=f"events-null-ts {name}")


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_edge_vectors_cross_engine_parity(spark, tmp_path):
    """Edge vectors through the embedding/ANN oracle pairs (r10 probe,
    promoted to a pin): zero vectors, an exact duplicate, and
    magnitude-1e-8 vectors must hash-match the DuckDB twins end to end
    (zero-norm guards, int8 amax gate, cosine/IVF/PQ paths), and a
    1e8-magnitude vector must trip the r9 dimension-aware int64
    overflow guard LOUDLY at the entry level rather than silently
    diverge."""
    import duckdb

    import numpy as np
    import pytest

    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    from tests.conftest import compare_frames_hashed

    rng = np.random.RandomState(7)
    dim = 64
    vecs = [(i, [float(x) for x in rng.randn(dim).astype("float32") * 0.1],
             int(i % 8)) for i in range(40)]
    vecs += [(40, [0.0] * dim, 1),        # zero vector
             (41, vecs[0][1], 2),         # exact duplicate of vec 0
             (42, [1e-8] * dim, 4),       # tiny magnitude
             (43, [0.0] * dim, 5)]        # second zero vector
    d = str(tmp_path)

    def write(rows, path):
        pq.write_table(pa.table({
            "vec_id": pa.array([v[0] for v in rows], pa.int64()),
            "embedding": pa.array([v[1] for v in rows],
                                  pa.list_(pa.float32())),
            "label": pa.array([v[2] for v in rows], pa.int32())}), path)

    write(vecs, os.path.join(d, "embeddings.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM parquet_scan("
                f"'{os.path.join(d, 'embeddings.parquet')}')")
    qs, osql = all_queries(), all_oracle_sql()
    for name in ("embedding_stats", "embedding_quantize_int8",
                 "cosine_topk", "cosine_dup_pairs", "jl_projection",
                 "label_centroids", "lsh_topk", "ivf_topk",
                 "ivfpq_rerank_topk", "pq_rerank_topk",
                 "semantic_dedup_report", "ivf_topk_full_probe"):
        compare_frames_hashed(qs[name](spark, d), con.sql(osql[name]),
                              context=f"edge-vec {name}")

    # a huge-magnitude vector overflows the exact-int64 distance
    # identity; the guard must refuse loudly, never wrap
    d2 = str(tmp_path / "overflow")
    os.makedirs(d2)
    write(vecs + [(44, [1e8] * dim, 3)],
          os.path.join(d2, "embeddings.parquet"))
    with pytest.raises(ValueError, match="overflow the exact-int64"):
        qs["ivf_topk"](spark, d2).collect()


def test_nb_quality_sampled_path_oracle_parity(spark, duck):
    """The md5 training-sample gate path (labeled extremes > 2x
    train_cap), previously only reachable at >20k labeled docs: with
    train_cap=60 the sf0.001 fixture fires it, and the engine must
    stay bit-identical to the parameterized oracle replay — training,
    calibration AND scoring all run off the SAMPLED labeled slice."""
    import duckdb

    from asvsp_spark.operators.classify import (heuristic_labels,
                                                nb_quality_scores)
    from asvsp_spark.plans.oracle_text import _nb_quality_sql
    from asvsp_spark.tables import load
    from tests.conftest import SF_DIR, compare_frames_hashed, duck_with_views

    cap = 60
    docs = load(spark, SF_DIR, "documents").filter(
        "text IS NOT NULL").select("doc_id", "text", "lang")
    n_lab = heuristic_labels(docs).count()
    assert n_lab > 2 * cap, "fixture must fire the gate for this test"

    duck_with_views(duck, SF_DIR)
    # the md5-slice replay: the sampled slice the engine trains on
    denom = max(2, n_lab // cap)
    n_sampled = duck.sql(f"""
        SELECT count(*) FROM documents
        WHERE text IS NOT NULL
          AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % {denom} = 0""").fetchone()[0]
    # the bound train_cap exists to enforce: the sampled slice is
    # ~n_lab/denom <= ~cap, never the full labeled set
    assert 0 < n_sampled < n_lab

    got = nb_quality_scores(docs, train_cap=cap)
    want = duck.sql(_nb_quality_sql(train_cap=cap))
    compare_frames_hashed(got, want, context="nb sampled path")


def test_pipeline_classifier_gate_sampled_path_funnel_exact(
        spark, tmp_path):
    """End-to-end: stage 2e with a train_cap small enough that the md5
    gate fires on the fixture — the funnel must stay monotone and the
    drop audit exact (one row per raw doc, per-stage audit counts ==
    funnel diffs, kept == written) even when the classifier trained on
    a sampled labeled slice."""
    from asvsp_spark.pipeline import run_corpus_pipeline
    from tests.conftest import SF_DIR

    out = str(tmp_path / "out")
    counts = run_corpus_pipeline(spark, SF_DIR, out, classifier_gate=True,
                                 classifier_train_cap=60, audit=True)
    assert counts["raw"] >= counts["quality_gated"] \
        >= counts["classifier_gated"] >= counts["exact_deduped"] \
        >= counts["near_deduped"] >= counts["rebalanced"] \
        == counts["written"] > 0
    audit = spark.read.parquet(f"{out}/drop_audit")
    rows = audit.groupBy("dropped_at").count().collect()
    by_stage = {r["dropped_at"]: r["count"] for r in rows}
    assert sum(by_stage.values()) == counts["raw"]
    assert by_stage.get("kept", 0) == counts["written"]
    assert by_stage.get("classifier_gate", 0) \
        == counts["quality_gated"] - counts["classifier_gated"]
    assert by_stage.get("exact_dedup", 0) \
        == counts["classifier_gated"] - counts["exact_deduped"]


def test_ingest_gate_refuses_offsetless_checkpoint_on_used_sink(
        spark, tmp_path):
    """Widened r9 silent-skip guard (r10 ADVICE finding): passing an
    explicit but FRESH/mismatched checkpoint_dir (no recorded offsets)
    against a staged sink with committed batches must refuse exactly
    like the checkpoint_dir=None case — Spark would otherwise skip
    'already committed' batch 0 and silently drop every new arrival.
    The legitimate recovery path (the ORIGINAL checkpoint, which has
    offsets) must still pass."""
    import pytest

    from asvsp_spark.pipeline import streaming_ingest_dedup
    from tests.test_r9_ops import BASE_US, _doc_text, _write_arrivals

    ingest = tmp_path / "arrivals"
    ingest.mkdir()
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    _write_arrivals(str(ingest / "b0.parquet"),
                    [(1, _doc_text(1), "en", BASE_US)])
    assert streaming_ingest_dedup(spark, str(ingest), staged,
                                  checkpoint_dir=ckpt).count() == 1

    _write_arrivals(str(ingest / "b1.parquet"),
                    [(2, _doc_text(2), "en", BASE_US)])
    # a brand-new checkpoint path (never created) -> refuse
    with pytest.raises(ValueError, match="no recorded offsets"):
        streaming_ingest_dedup(spark, str(ingest), staged,
                               checkpoint_dir=str(tmp_path / "ckpt2"))
    # an existing-but-empty checkpoint dir -> refuse
    (tmp_path / "ckpt3").mkdir()
    with pytest.raises(ValueError, match="no recorded offsets"):
        streaming_ingest_dedup(spark, str(ingest), staged,
                               checkpoint_dir=str(tmp_path / "ckpt3"))
    # the original checkpoint (has offsets): incremental drain works
    out = streaming_ingest_dedup(spark, str(ingest), staged,
                                 checkpoint_dir=ckpt)
    assert {r.doc_id for r in out.select("doc_id").collect()} == {1, 2}
    # the CONVERSE mismatch: a used checkpoint against a fresh sink
    # would resume past recorded batches and silently never write them
    with pytest.raises(ValueError,
                       match="committed batches but staged sink"):
        streaming_ingest_dedup(spark, str(ingest),
                               str(tmp_path / "staged2"),
                               checkpoint_dir=ckpt)


def test_relevance_sampling_edge_corpus_cross_engine_parity(
        spark, tmp_path):
    """NULL lang / NULL source / NULL+empty text / single-token,
    zero-entropy and frequency-tie docs through 28 relevance + sampling
    + packing oracle pairs, plus a crafted embeddings table (NULL
    vector, empty vector, NULL label, near-zero norm) through
    label_centroids (r10 relevance/sampling edge probe, promoted to a
    pin). The probe found and fixed two engine bugs: (1) dsir's
    is_target predicate stayed NULL for NULL-lang docs, so any hash
    bucket fed only by such docs got c_tgt = sum(all-NULL) = NULL,
    NULLing its log-ratio and corrupting the weight of EVERY doc
    touching the bucket (doc-5 weight became NULL, doc-12 silently
    skipped buckets — at corpus scale a NULL-lang subpopulation poisons
    its neighbors' weights); (2) token_budget_stats' count()-visibility
    filter `n_subword_tokens >= 0` silently dropped NULL-text docs —
    the same projection-trick row-loss the r10 NULL-text pin closed
    elsewhere."""
    import duckdb

    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    from tests.conftest import compare_frames_hashed

    docs = [
        (0, "the cat sat on the mat and the cat sat again", "en", "web"),
        (1, None, "en", "web"),
        (2, "", "en", "books"),
        (3, "spark spark spark spark spark", "en", "web"),
        (4, "one", "en", "books"),
        (5, "the quick brown fox jumps over the lazy dog", None, "web"),
        (6, "alpha beta gamma alpha beta gamma alpha beta", "de", None),
        (7, "tie tie bird bird", "de", "web"),
        (8, "zebra yak xylophone wombat vulture unicorn", "fr", "news"),
        (9, "the cat sat on the mat and the dog sat too", "en", "news"),
        (10, "a b c d e f g h i j k l m n o p q r s t", "fr", "news"),
        (11, "supercalifragilisticexpialidocious", "en", "web"),
        (12, "the the the cat cat dog", None, None),
        (13, "query terms cat dog fox present here", "en", "web"),
    ]
    d = str(tmp_path)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": pa.array([r[1] for r in docs], pa.string()),
        "lang": pa.array([r[2] for r in docs], pa.string()),
        "source": pa.array([r[3] for r in docs], pa.string()),
        "n_chars": pa.array([len(r[1]) if r[1] is not None else None
                             for r in docs], pa.int64()),
    }), os.path.join(d, "documents.parquet"))
    emb = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.0], 1),
        (3, None, 1),
        (4, [0.5, 0.5, 0.5, 0.5], None),
        (5, [], 2),
        (6, [-1.0, -1.0, 1.0, 1.0], 2),
        (7, [1e-30, 0.0, 0.0, 0.0], 2),
    ]
    pq.write_table(pa.table({
        "vec_id": pa.array([r[0] for r in emb], pa.int64()),
        "embedding": pa.array([r[1] for r in emb],
                              pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in emb], pa.int32()),
    }), os.path.join(d, "embeddings.parquet"))
    con = _duck_views(d, ("documents", "embeddings"))
    qs, osql = all_queries(), all_oracle_sql()
    for name in ("text_quality", "token_length_histogram",
                 "top_terms_per_lang", "top_bigrams", "tfidf_top_terms",
                 "bm25_search", "token_entropy", "unigram_logprob_score",
                 "bigram_backoff_score", "quality_filter_report",
                 "token_budget_stats", "pmi_collocations",
                 "vocab_coverage", "bpe_merge_table", "label_centroids",
                 "sample_k_per_group", "stratified_sample_docs",
                 "weighted_sample_docs", "curriculum_shards",
                 "token_budget_mixing_plan", "mixture_rebalance",
                 "source_overlap_matrix", "packing_bins",
                 "packing_best_fit_bins", "shard_assignments",
                 "shard_manifest_lpt", "dsir_weights", "dsir_sample"):
        n = compare_frames_hashed(qs[name](spark, d),
                                  con.sql(osql[name]),
                                  context=f"relevance-edge {name}")
        if name == "token_budget_stats":
            # NULL-text docs must be KEPT (one row per input doc)
            assert n == len(docs), name


def _duck_views(tmpdir, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan("
            f"'{os.path.join(tmpdir, t + '.parquet')}')")
    return con


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_tpch_edge_corpus_cross_engine_parity(spark, tmp_path):
    """Crafted relational edge corpus through 29 TPC-H-family oracle
    pairs: orders with no lineitems, orphan lineitems/custkeys, NULL
    keys/dates/prices/flags, discount 0 and 1, negative price, two
    nations with bit-identical yearly revenue (rank tie), an event
    exactly ON the order day (inclusive as-of tie), interval-join
    events at exactly +7d and +7d+1us, leap days, a year-end
    microsecond timestamp, and single-row percentile groups.

    The probe found and fixed four divergence classes (r10):
    - Spark ASC windows default NULLS FIRST where DuckDB defaults
      NULLS LAST — every LAG/cumulative/rank over a NULL-bearing key
      (NULL o_orderdate -> NULL yr/mon) silently shifted; swept every
      ASC window key in plans/queries.py + operators/rollups.py to
      asc_nulls_last and annotated the shared oracle/SQL-twin strings
      with explicit NULLS LAST (DESC already agreed).
    - asof_join matched NULL keys to NULL keys (window partitionBy
      groups NULLs) and let a NULL right-timestamp row — which sorts
      NULLS FIRST — become "the most recent prior" for left rows that
      precede every real right row. Both violate join semantics: the
      match index now drops NULL-key/NULL-ts right rows, left rows
      keep left-join semantics.
    - skew_join checksum: concat_ws silently SKIPS a NULL component
      (integrity digest can't see the field) while the oracle's ||
      propagates NULL and drops the row from the sum; both sides now
      render NULL cents as an explicit sentinel.
    """
    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    from tests.conftest import compare_frames_hashed

    TS = datetime.datetime
    d = str(tmp_path)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, name + ".parquet"))

    write("region", {
        "r_regionkey": pa.array([0, 1, 2, 3], pa.int32()),
        "r_name": pa.array(["AMERICA", "EUROPE", "EMPTYREG", None]),
    })
    write("nation", {
        "n_nationkey": pa.array([0, 1, 2, 3, 4, 5], pa.int32()),
        "n_name": pa.array(["USA", "GERMANY", "FRANCE", None,
                            "ORPHANIA", "QUIETLAND"]),
        "n_regionkey": pa.array([0, 1, 1, 0, 99, 3], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array([1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
                              pa.int64()),
        "c_name": pa.array(["Alice", "Bob", "Carol", "Dave", "Eve",
                            "NoOrders", "Alice", "Heidi", "Nullia",
                            "Quinn"]),
        "c_nationkey": pa.array([0, 1, 2, None, 0, 1, 0, 4, 3, 5],
                                pa.int32()),
        "c_acctbal": pa.array([100.0, -50.25, None, 10.0, 0.0, 5.0,
                               100.0, 3.0, 7.0, 9.0], pa.float64()),
        "c_mktsegment": pa.array(["BUILDING", "AUTOMOBILE", "MACHINERY",
                                  "BUILDING", None, "FURNITURE",
                                  "BUILDING", "HOUSEHOLD", "BUILDING",
                                  "MACHINERY"]),
    })
    write("supplier", {
        "s_suppkey": pa.array([1, 2, 3, 4], pa.int64()),
        "s_name": pa.array(["S1", "S2", "SNull", "SNoItems"]),
        "s_nationkey": pa.array([0, 1, None, 2], pa.int32()),
        "s_acctbal": pa.array([100.0, None, 5.0, 1.0], pa.float64()),
    })
    write("part", {
        "p_partkey": pa.array([1, 2, 3], pa.int64()),
        "p_name": pa.array(["p-alpha", "p-beta", "p-unused"]),
        "p_brand": pa.array(["B1", "B2", "B1"]),
        "p_type": pa.array(["TYPE A", None, "TYPE B"]),
        "p_size": pa.array([5, None, 9], pa.int32()),
        "p_retailprice": pa.array([100.0, None, 50.0], pa.float64()),
    })
    ORD = [
        (1, 1, "O", 1000.0, TS(1995, 3, 1), "1-URGENT"),
        (2, 1, "F", 1500.0, TS(1996, 2, 29), "2-HIGH"),
        (3, 1, "O", 1200.0, TS(1998, 6, 15), "3-MEDIUM"),
        (4, 1, "P", 2000.0, TS(2000, 2, 29), "1-URGENT"),
        (5, 1, "O", 2500.0, TS(2001, 8, 1), "5-LOW"),
        (6, 2, "O", 1000.0, TS(1995, 7, 4), "2-HIGH"),
        (7, 2, "F", 900.0, TS(1996, 1, 1), "4-NOT SPECIFIED"),
        (8, 2, "O", 800.0, TS(2000, 12, 31, 23, 59, 59, 999999),
         "1-URGENT"),
        (9, 3, "O", 700.0, TS(2001, 1, 1), "3-MEDIUM"),
        (10, 3, "O", 300.0, TS(1996, 5, 5), "5-LOW"),
        (11, 5, "O", 250000.0, TS(2001, 5, 5), "1-URGENT"),
        (12, 5, "F", 100.0, TS(2001, 5, 5), "2-HIGH"),
        (13, 8, "O", 450.0, TS(1995, 9, 9), "3-MEDIUM"),
        (17, 8, "O", 550.0, TS(1996, 9, 9), "3-MEDIUM"),
        (90, 1, "O", 333.0, None, "1-URGENT"),
        (91, None, "O", 444.0, TS(1998, 4, 4), "2-HIGH"),
        (92, 2, "F", None, TS(1999, 3, 3), "3-MEDIUM"),
        (93, 3, "O", 555.0, TS(1999, 6, 6), None),
        (94, 1, None, 666.0, TS(1999, 9, 9), "4-NOT SPECIFIED"),
        (95, 42, "O", 777.0, TS(2000, 1, 1), "5-LOW"),
        (65, 5, "O", 888.0, TS(2000, 6, 6), "1-URGENT"),
        (85, 2, "O", 999.0, TS(1998, 8, 8), "2-HIGH"),
        # r10 review additions: an order for the NULL-named nation's
        # customer (NULL nation key flows into every nation grouping)
        # and a QUIETLAND order with NULL totalprice (a nation whose
        # revenue aggregates to NULL — exercises the NULLS LAST rank
        # in nation_revenue_distribution)
        (18, 9, "O", 600.0, TS(1997, 5, 5), "2-HIGH"),
        (20, 10, "O", None, TS(1998, 2, 2), "3-MEDIUM"),
    ]
    write("orders", {
        "o_orderkey": pa.array([r[0] for r in ORD], pa.int64()),
        "o_custkey": pa.array([r[1] for r in ORD], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in ORD]),
        "o_totalprice": pa.array([r[3] for r in ORD], pa.float64()),
        "o_orderdate": pa.array([r[4] for r in ORD], pa.timestamp("us")),
        "o_orderpriority": pa.array([r[5] for r in ORD]),
    })
    LI = [
        (1, 1, 1, 1, 5.0, 500.0, 0.1, 0.05, "N", "O", TS(1995, 3, 5)),
        (1, 2, 2, 2, 3.0, 300.0, 0.0, 0.0, "A", "F", TS(1995, 3, 10)),
        (2, 1, 1, 1, 2.0, 800.0, 0.2, 0.08, "R", "F", TS(1996, 3, 1)),
        (3, 2, 2, 1, 1.0, 1200.0, 0.05, 0.02, "N", "O", TS(1998, 6, 20)),
        (4, 1, 1, 1, 4.0, 2000.0, 0.15, 0.04, "N", "O", TS(2000, 3, 15)),
        (5, 3, 1, 1, 7.0, 2500.0, 0.0, 0.01, "R", "O", TS(2001, 8, 3)),
        (6, 1, 2, 1, 2.0, 1000.0, 0.1, 0.05, "A", "O", TS(1995, 7, 10)),
        (7, 2, 1, 1, 1.0, 900.0, 0.3, 0.0, "N", "F", TS(1996, 1, 20)),
        (8, 1, 1, 1, 3.0, 800.0, 0.25, 0.06, "R", "O", TS(2001, 1, 15)),
        (9, 3, 2, 1, 2.0, 700.0, 0.0, 0.03, "N", "O", TS(2001, 1, 4)),
        (10, 1, 1, 1, 1.0, 300.0, 0.05, 0.01, "A", "F", TS(1996, 5, 25)),
        (11, 2, 2, 1, 9.0, 250000.0, 0.02, 0.07, "N", "O",
         TS(2001, 5, 9)),
        (12, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", TS(2001, 5, 6)),
        (13, 3, 1, 1, 2.0, 450.0, 0.1, 0.02, "R", "F", TS(1995, 9, 12)),
        (17, 1, 1, 1, 2.0, 550.0, 0.1, 0.02, "R", "F", TS(1996, 9, 12)),
        (1, 1, 1, 3, None, 50.0, 0.1, 0.0, "N", "O", TS(1995, 4, 1)),
        (2, 2, 2, 2, 1.0, None, 0.0, None, "A", "O", TS(1996, 3, 2)),
        (3, 1, 1, 2, 1.0, 10.0, None, 0.0, None, None, TS(1998, 7, 1)),
        (4, 2, 2, 2, 1.0, 20.0, 1.0, 0.0, "R", "F", TS(2000, 4, 1)),
        (5, 1, 3, 2, 1.0, -10.0, 0.0, 0.0, "R", "O", TS(2001, 8, 2)),
        (6, 2, 3, 2, 1.0, 30.0, 0.5, 0.0, "N", "O", None),
        (7, 1, 1, 2, 1.0, 40.0, 0.0, 0.0, "A", "F", TS(1995, 12, 1)),
        (9, 2, 2, 2, 1.0, 15.0, 0.0, 0.0, "N", "O", TS(2004, 1, 1)),
        (999, 1, 1, 1, 1.0, 25.0, 0.0, 0.0, "N", "O", TS(1997, 1, 1)),
        (8, 3, 1, 1, 1.0, 5.0, 0.0, 0.0, "R", "O", TS(2001, 2, 1)),
        # NULL l_suppkey: a NULL supplier group at the q13 top-k
        # boundary must cut/rank identically in both engines
        (18, 1, None, 1, 1.0, 600.0, 0.0, 0.0, "N", "O",
         TS(1997, 5, 10)),
        (20, 2, 2, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", TS(1998, 2, 5)),
    ]
    write("lineitem", {
        "l_orderkey": pa.array([r[0] for r in LI], pa.int64()),
        "l_partkey": pa.array([r[1] for r in LI], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in LI], pa.int64()),
        "l_linenumber": pa.array([r[3] for r in LI], pa.int32()),
        "l_quantity": pa.array([r[4] for r in LI], pa.float64()),
        "l_extendedprice": pa.array([r[5] for r in LI], pa.float64()),
        "l_discount": pa.array([r[6] for r in LI], pa.float64()),
        "l_tax": pa.array([r[7] for r in LI], pa.float64()),
        "l_returnflag": pa.array([r[8] for r in LI]),
        "l_linestatus": pa.array([r[9] for r in LI]),
        "l_shipdate": pa.array([r[10] for r in LI], pa.timestamp("us")),
    })
    EV = [
        (1, TS(2001, 8, 1, 0, 0, 0), 1, "purchase", 10.0, None),
        (2, TS(2001, 8, 8, 0, 0, 0), 1, "view", 5.0, "{}"),
        (3, TS(2001, 8, 8, 0, 0, 0, 1), 1, "view", 1.0, "{}"),
        (4, TS(2024, 1, 5, 12, 0, 0), 2, "error", 2.0, '{"k":1}'),
        (5, TS(1994, 1, 1, 0, 0, 0), 1, "view", 3.0, "{}"),
        (6, TS(2001, 6, 15, 0, 0, 0), None, "view", 1.5, "{}"),
        (7, TS(2001, 6, 15, 0, 0, 0), 42, "view", None, "{}"),
        (8, TS(2001, 5, 5, 0, 0, 0), 5, "signup", 4.0, "{}"),
        (9, TS(2000, 3, 1, 0, 0, 0), 5, "purchase", 6.0, "{}"),
    ]
    write("events", {
        "event_id": pa.array([r[0] for r in EV], pa.int64()),
        "ts": pa.array([r[1] for r in EV], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in EV], pa.int64()),
        "event_type": pa.array([r[3] for r in EV]),
        "value": pa.array([r[4] for r in EV], pa.float64()),
        "props": pa.array([r[5] for r in EV]),
    })
    docs = [(0, "the cat sat on the mat", "en", "web"),
            (1, None, "en", None), (2, "", None, "books"),
            (3, "alpha beta gamma delta", "de", "web")]
    write("documents", {
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": pa.array([r[1] for r in docs], pa.string()),
        "lang": pa.array([r[2] for r in docs], pa.string()),
        "source": pa.array([r[3] for r in docs], pa.string()),
        "n_chars": pa.array([len(r[1]) if r[1] is not None else None
                             for r in docs], pa.int64()),
    })
    con = _duck_views(d, ("region", "nation", "customer", "supplier",
                          "part", "orders", "lineitem", "events"))
    qs, osql = all_queries(), all_oracle_sql()
    for name in ("q01_yearly_rank_yoy", "q02_peak_month",
                 "q03_cumulative_top10", "q04_mom_pct_change",
                 "q05_same_month_yoy", "q06_moving_average",
                 "q07_ntile_quartiles", "q08_period_compare",
                 "q09_weekend_effect", "q10_improvement_streaks",
                 "q11_pricing_summary", "q12_late_shipments",
                 "q13_supplier_margin_topk", "rollup_annual_nation",
                 "asof_last_order", "snapshot_diff_orders",
                 "inactive_customers", "repeat_buyer_segments",
                 "customer_retention_setops", "cohort_retention",
                 "cube_revenue_nation_year", "priority_percentiles",
                 "rollup_revenue_region_nation",
                 "nation_revenue_distribution", "join_fanout_report",
                 "events_after_order", "skew_join_plain",
                 "skew_join_salted", "sq11_late_audit"):
        compare_frames_hashed(qs[name](spark, d), con.sql(osql[name]),
                              context=f"tpch-edge {name}")
    # three-way coherence: every Spark-SQL twin (built from the SAME
    # oracle strings via the dialect shims, NULLS LAST included) must
    # agree with its DataFrame builder on this corpus too -- the twins
    # had only ever been compared on NULL-free fixtures (r10 review)
    import collections

    from asvsp_spark.plans.sql_queries import (EXT_NAMES, Q_NAMES,
                                               run_sql_variant)
    for name in Q_NAMES + EXT_NAMES:
        a, b = qs[name](spark, d), run_sql_variant(spark, d, name)
        cols = sorted(a.columns)
        assert cols == sorted(b.columns), name
        ra = collections.Counter(
            tuple(str(r[c]) for c in cols) for r in a.collect())
        rb = collections.Counter(
            tuple(str(r[c]) for c in cols) for r in b.collect())
        assert ra == rb, f"sql-twin {name}"


def test_null_ts_events_cross_engine_parity(spark, tmp_path):
    """A NULL-timestamp event and a fully-NULL event row through 20
    events-family oracle pairs. The probe found and fixed (r10):
    rollup_monthly_events counted days_with_data as count(day) — 0 for
    the NULL-day group — and the downstream division ABORTED the whole
    job under ANSI mode (one degenerate row must not kill a 100 TB
    rollup; now count(*) with a zero-guarded centi_avg matching
    DuckDB's NULL-on-/0); sessionize_users' oracle kept NULL-ts rows
    as phantom sessions where Spark's session_window drops NULL
    event-time by design (the oracle now mirrors the deliberate
    exclusion)."""
    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    from tests.conftest import compare_frames_hashed

    TS = datetime.datetime
    rows = [
        (0, TS(2024, 1, 1, 0, 0, 1), 1, "error", 185.22, '{"k": 1}'),
        (1, TS(2024, 1, 2, 5, 0, 0), 2, "signup", 10.0, '{"k": 2}'),
        (2, TS(2024, 1, 2, 6, 0, 0), 3, "signup", 10.0, '{"k": 3}'),
        (3, TS(2024, 1, 3, 1, 0, 0), 4, "purchase", None, '{"k": 4}'),
        (4, None, 5, "view", 7.25, '{"k": 5}'),
        (5, None, None, None, None, None),
        (6, TS(2024, 2, 29, 0, 0, 0), 6, "view", 2.5, '{"k": 7}'),
        # NULL-ts event for a user who ALSO has real events: scd2's
        # interval ordering must place it NULLS LAST in both engines
        # (r10 review: the first corpus only gave NULL-ts rows to
        # userless/otherwise-eventless rows, so the path was unpinned)
        (7, None, 1, "signup", 2.0, '{"k": 8}'),
    ]
    d = str(tmp_path)
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    }), os.path.join(d, "events.parquet"))
    con = _duck_views(d, ("events",))
    qs, osql = all_queries(), all_oracle_sql()
    for name in ("rollup_daily_events", "rollup_monthly_events",
                 "baselines_events", "distinct_users_daily",
                 "funnel_daily", "user_day_bookends", "sessionize_users",
                 "heavy_hitters_users", "key_skew_report",
                 "gapfill_daily_values", "gapfill_weekly_values",
                 "gapfill_hourly_values", "gapfill_hourly_interp",
                 "sketch_value_percentiles", "pivot_daily_type",
                 "unpivot_daily_type", "type_correlation",
                 "distribution_drift_daily", "variant_props_decode",
                 "scd2_user_state"):
        compare_frames_hashed(qs[name](spark, d), con.sql(osql[name]),
                              context=f"null-ts {name}")


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_streaming_null_ts_edge_corpus_cross_engine_parity(
        spark, tmp_path):
    """NULL-ts / all-NULL / NULL-value / malformed-props events through
    every streaming (sq*) oracle pair, plus data_quality_report,
    stitch_report and dedup_components on edge tables — closing
    the last un-edge-pinned oracle entries (r10).

    Event-time contract established by this probe: a NULL event
    timestamp is not placeable on the event-time axis, so
    events_stream_reader excludes such rows AT INGESTION (one
    documented filter) — Spark's watermarked window aggregations
    already dropped them, but the stateful/dedup paths behaved
    inconsistently: dropDuplicatesWithinWatermark kept them with no
    evictable state, and the FIRST NULL value reaching
    applyInPandasWithState CRASHED the whole query on an int64 cast
    (IntCastingNaNError). The stateful trend operators now mirror the
    windowed-agg siblings exactly: sum skips NULL values, count
    includes the rows, an all-NULL window emits a NULL average whose
    trend falls through the oracle's CASE to 'stable', and the
    rounding is half-away-from-zero (floor(x+0.5) diverged on negative
    halves once negative values entered the corpus). Every streaming
    oracle gained the matching `ts IS NOT NULL` at its event scan;
    sq7b's replay branch additionally re-stamps NULL-ts rows with a
    valid event time (no state exists for them, so they flow as new
    arrivals — exactly what the engine's replay harness does)."""
    import datetime as _dt

    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    from tests.conftest import compare_frames_hashed

    TS = _dt.datetime
    d = str(tmp_path)
    rows = [
        (0, TS(2024, 1, 1, 0, 0, 1), 1, "error", 185.22, '{"k": 1}'),
        (1, TS(2024, 1, 2, 5, 0, 0), 2, "signup", 10.0, '{"k": 2}'),
        (2, TS(2024, 1, 2, 6, 0, 0), 3, "signup", 10.0, '{"k": 3}'),
        (3, TS(2024, 1, 3, 1, 0, 0), 4, "purchase", None, '{"k": 4}'),
        (4, None, 5, "view", 7.25, '{"k": 5}'),
        (5, None, None, None, None, None),
        (6, TS(2024, 2, 29, 0, 0, 0), 6, "view", 2.5, '{"k": 7}'),
        (7, TS(2024, 1, 2, 5, 30, 0), 2, "purchase", 20.0, '{"k": 8}'),
        (8, TS(2024, 1, 2, 5, 45, 0), 2, "view", 1.0, 'not json'),
        (9, TS(2024, 1, 3, 2, 0, 0), 4, "view", 3.0, None),
        (10, TS(2024, 12, 31, 23, 59, 59, 999999), 7, "error", -5.0,
         '{"k": 9}'),
        (11, TS(2024, 1, 2, 5, 0, 0), 2, "signup", 10.0, '{"k": 10}'),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    }), os.path.join(d, "events.parquet"))
    docs = [
        (0, "the cat sat on the mat and the cat sat again", "en", "web"),
        (1, None, "en", "web"),
        (2, "", "en", "books"),
        (3, "the cat sat on the mat and the cat sat again", "de", "web"),
        (4, "one", "en", "books"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
         None, None),
    ]
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": pa.array([r[1] for r in docs], pa.string()),
        "lang": pa.array([r[2] for r in docs], pa.string()),
        "source": pa.array([r[3] for r in docs], pa.string()),
        "n_chars": pa.array([len(r[1]) if r[1] is not None else None
                             for r in docs], pa.int64()),
    }), os.path.join(d, "documents.parquet"))
    TSO = TS
    ORD = [(1, 1, "O", 100.0, TSO(1995, 1, 1), "1-URGENT"),
           (2, None, "X", -5.0, None, None),
           (3, 2, "F", 2e7, TSO(1996, 1, 1), "5-LOW")]
    pq.write_table(pa.table({
        "o_orderkey": pa.array([r[0] for r in ORD], pa.int64()),
        "o_custkey": pa.array([r[1] for r in ORD], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in ORD]),
        "o_totalprice": pa.array([r[3] for r in ORD], pa.float64()),
        "o_orderdate": pa.array([r[4] for r in ORD], pa.timestamp("us")),
        "o_orderpriority": pa.array([r[5] for r in ORD]),
    }), os.path.join(d, "orders.parquet"))
    LI = [(1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", TSO(1995, 1, 2)),
          (999, 1, 1, 1, None, None, None, None, None, None, None),
          (3, 1, 1, 1, 1.0, 50.0, 1.5, 0.0, "Z", "O", TSO(1996, 1, 2))]
    pq.write_table(pa.table({
        "l_orderkey": pa.array([r[0] for r in LI], pa.int64()),
        "l_partkey": pa.array([r[1] for r in LI], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in LI], pa.int64()),
        "l_linenumber": pa.array([r[3] for r in LI], pa.int32()),
        "l_quantity": pa.array([r[4] for r in LI], pa.float64()),
        "l_extendedprice": pa.array([r[5] for r in LI], pa.float64()),
        "l_discount": pa.array([r[6] for r in LI], pa.float64()),
        "l_tax": pa.array([r[7] for r in LI], pa.float64()),
        "l_returnflag": pa.array([r[8] for r in LI]),
        "l_linestatus": pa.array([r[9] for r in LI]),
        "l_shipdate": pa.array([r[10] for r in LI], pa.timestamp("us")),
    }), os.path.join(d, "lineitem.parquet"))
    pq.write_table(pa.table({
        "c_custkey": pa.array([1, 2, None], pa.int64()),
        "c_name": pa.array(["A", None, "C"]),
        "c_nationkey": pa.array([0, None, 1], pa.int32()),
        "c_acctbal": pa.array([1.0, None, -2.0], pa.float64()),
        "c_mktsegment": pa.array(["BUILDING", "BOGUS", None]),
    }), os.path.join(d, "customer.parquet"))
    con = _duck_views(d, ("events", "documents", "orders", "lineitem",
                          "customer"))
    qs, osql = all_queries(), all_oracle_sql()
    names = sorted(n for n in qs
                   if n.startswith("sq") and n in osql)
    names += ["data_quality_report", "stitch_report",
              "dedup_components"]
    assert len([n for n in names if n.startswith("sq")]) >= 19
    for name in names:
        compare_frames_hashed(qs[name](spark, d), con.sql(osql[name]),
                              context=f"stream-null-ts {name}")

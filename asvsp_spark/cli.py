"""Command-line entry points (SURVEY §7.1 step 7): the reference is
driven by spark-submit scripts + Airflow DAGs (reference
src/batch/process.sh:3-23, airflow/dags/batch_pipeline_dag.py:54-91);
this engine exposes the same operations as subcommands of one module:

    python -m asvsp_spark list
    python -m asvsp_spark run-query q01_yearly_rank_yoy --sf-dir /root/testdata/sf0.01 --limit 20
    python -m asvsp_spark oracle q01_yearly_rank_yoy
    python -m asvsp_spark run-batch --sf-dir ... --out-dir /tmp/warehouse
    python -m asvsp_spark explain cube_revenue_nation_year

Every subcommand builds the session itself — no external launcher or
metastore needed (cluster users pass --master spark://...).
"""

from __future__ import annotations

import argparse
import sys


def _load_contract(spark, path: str) -> list[dict]:
    """Parse a data-quality contract JSON (a list of validate.py check
    specs) and resolve each foreign_key spec's ``ref`` parquet path to
    a DataFrame — shared by dq-check and corpus-pipeline --contract."""
    import json

    with open(path) as fh:
        specs = json.load(fh)
    if not isinstance(specs, list):
        # config error, not a contract failure — callers map this to
        # exit code 2 (distinct from 1 = "checks failed")
        raise ValueError(
            f"{path}: a contract must be a JSON list of check specs")
    for spec in specs:
        if spec.get("check") == "foreign_key":
            spec["ref"] = spark.read.parquet(spec["ref"])
    return specs


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "0": "\0", "\\": "\\"}


def _decode_escapes(value: str) -> str:
    """Shell-supplied joiner strings arrive with literal backslash
    escapes ('\\n\\n'); decode just those sequences so the rebuilt
    documents carry real newlines. A utf-8→unicode_escape round-trip
    would mojibake non-ASCII joiners ('§' → 'Â§') because
    unicode_escape decodes bytes as latin-1, so only the whitelisted
    \\n \\t \\r \\0 \\\\ sequences are rewritten and every other
    character (including multi-byte ones) passes through untouched."""
    import re

    return re.sub(
        r"\\([ntr0\\])", lambda m: _ESCAPES[m.group(1)], value)


def _session(args):
    from asvsp_spark.session import get_session
    s = get_session("asvsp-cli", master=args.master)
    s.sparkContext.setLogLevel("ERROR")
    return s


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="asvsp_spark")
    p.add_argument("--master", default="local[*]")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries (+oracle status)")

    rq = sub.add_parser("run-query", help="run one registered query")
    rq.add_argument("name")
    rq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rq.add_argument("--limit", type=int, default=20)

    ex = sub.add_parser("explain", help="print a query's physical plan")
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    orc = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    orc.add_argument("name")

    rb = sub.add_parser("run-batch", help="materialize the rollup chain")
    rb.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rb.add_argument("--out-dir", required=True)

    xp = sub.add_parser("export", help="write a query result to disk")
    xp.add_argument("name")
    xp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    xp.add_argument("--out", required=True)
    xp.add_argument("--format", choices=("parquet", "csv"), default="parquet")

    cp = sub.add_parser("compact", help="compact a parquet dataset's small files")
    cp.add_argument("path")
    cp.add_argument("--target-mb", type=int, default=512)

    zo = sub.add_parser("zorder", help="rewrite a dataset Z-ordered on two columns")
    zo.add_argument("src")
    zo.add_argument("dest")
    zo.add_argument("col_a")
    zo.add_argument("col_b")
    zo.add_argument("--files", type=int, default=8)

    rt = sub.add_parser("register-table",
                        help="register a parquet dir as a catalog table (MSCK-style repair)")
    rt.add_argument("name")
    rt.add_argument("path")
    rt.add_argument("--partition-cols", default="")

    cpip = sub.add_parser("corpus-pipeline",
                          help="profile -> quality gate -> dedup -> rebalance -> write")
    cpip.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cpip.add_argument("--out-dir", required=True)
    cpip.add_argument("--near-dedup", default="minhash",
                      choices=["minhash", "jaccard", "winnow"],
                      help="near-dup candidate generator (minhash = "
                           "sub-linear sketch default)")
    cpip.add_argument("--benchmark", default=None,
                      help="parquet path of an eval set (doc_id, text); "
                           "when given, docs sharing a trigram with it "
                           "are dropped before rebalancing")
    cpip.add_argument("--scrub-pii", action="store_true",
                      help="redact emails/phones/IPs/SSNs to typed "
                           "placeholders before the final write")
    cpip.add_argument("--shards", type=int, default=None,
                      help="write the corpus as N deterministic training "
                           "shards (+ loader manifest) instead of lang "
                           "partitions")
    cpip.add_argument("--min-entropy", type=float, default=None,
                      help="drop template-spam docs whose normalized "
                           "token entropy is below this cutoff (0..1)")
    cpip.add_argument("--bpe-merges", type=int, default=None,
                      help="after the write, learn N BPE merges over "
                           "the shipped corpus and land the merge "
                           "table at OUT_DIR/bpe_merges")
    cpip.add_argument("--contract", default=None,
                      help="JSON file of data-quality check specs "
                           "(operators/validate.py) evaluated against "
                           "the raw documents first; any failure aborts "
                           "the pipeline before it spends a corpus scan")
    cpip.add_argument("--paragraph-joiner", default="\n\n",
                      help="separator used to rebuild documents from "
                           "surviving segments (default: blank line)")
    cpip.add_argument("--paragraph-delimiter", default=None,
                      help="segment-split regex enabling corpus-wide "
                           "paragraph dedup (keep-first) before "
                           "document-level dedup — e.g. '\\n{2,}' for "
                           "real paragraph breaks")
    cpip.add_argument("--line-dedup", action="store_true",
                      help="within-document keep-first newline-line "
                           "dedup (RefinedWeb line-wise cleanup), run "
                           "before the paragraph pass; whitespace-only "
                           "docs drop")
    cpip.add_argument("--substring-dedup", action="store_true",
                      help="Lee-et-al substring pass (stage 2d): every "
                           "duplicated run of >= --substring-window "
                           "tokens keeps its first occurrence corpus-"
                           "wide, the rest are stripped; fully-"
                           "duplicated docs drop")
    cpip.add_argument("--substring-window", type=int, default=8,
                      help="minimum duplicated-substring length in "
                           "tokens for --substring-dedup")
    cpip.add_argument("--audit", action="store_true",
                      help="also write OUT_DIR/drop_audit: one row per "
                           "raw doc with the first stage that dropped "
                           "it (or 'kept') — id-only anti-joins, no "
                           "extra corpus scan")
    cpip.add_argument("--ingest-dir", default=None,
                      help="streaming ingest gate (stage 0s): read "
                           "arriving parquet batches (doc_id, text, "
                           "lang, ts_us) from this dir and suppress "
                           "content near-duplicates within "
                           "--ingest-watermark BEFORE the batch "
                           "stages; replaces --sf-dir's documents "
                           "table as the corpus source")
    cpip.add_argument("--ingest-checkpoint", default=None,
                      help="persistent checkpoint dir for the ingest "
                           "gate — reuse it across runs for the "
                           "incremental cadence (only new arrivals "
                           "drain; re-crawls within the horizon of a "
                           "prior run stay suppressed)")
    cpip.add_argument("--ingest-staged", default=None,
                      help="staged-survivor sink dir (default "
                           "OUT_DIR/ingest_staged)")
    cpip.add_argument("--ingest-watermark", default="72 hours",
                      help="near-dup suppression horizon for the "
                           "ingest gate")
    cpip.add_argument("--classifier-gate", action="store_true",
                      help="stage 2e: learned quality gate — train the "
                           "exact-integer NB classifier on the "
                           "survivors' heuristic extremes and keep "
                           "docs its calibrated cut predicts positive")

    mg = sub.add_parser("merge", help="MERGE updates parquet into a base dataset by key")
    mg.add_argument("base")
    mg.add_argument("updates")
    mg.add_argument("--keys", required=True, help="comma-separated key columns")
    mg.add_argument("--delete-col", default=None)

    pk = sub.add_parser("pack",
                        help="assign docs to fixed-token-budget training "
                             "bins (contiguous packing), partitioned by shard")
    pk.add_argument("src", help="parquet with (doc_id, text)")
    pk.add_argument("out")
    pk.add_argument("--budget", type=int, default=512)
    pk.add_argument("--shards", type=int, default=4)

    di = sub.add_parser("dedup-incremental",
                        help="dedup an arriving delta against the "
                             "accumulated store and advance it")
    di.add_argument("delta", help="parquet with (doc_id, text)")
    di.add_argument("--store", required=True,
                    help="fingerprint/signature store dir (created on "
                         "first run)")
    di.add_argument("--out", default=None,
                    help="write surviving docs here (parquet)")
    di.add_argument("--near", action="store_true",
                    help="MinHash near-dedup (signature store) instead "
                         "of exact (fingerprint store)")
    di.add_argument("--paragraph", default=None, metavar="DELIM",
                    help="paragraph-level dedup against a segment-hash "
                         "store, segmenting on this regex (e.g. "
                         "'\\n{2,}'); writes rebuilt docs to --out")
    di.add_argument("--joiner", default="\n\n",
                    help="separator for rebuilt docs under --paragraph; "
                         "MUST match the bootstrap run's joiner or the "
                         "batch/incremental corpora diverge (backslash "
                         "escapes like \\n are decoded)")
    di.add_argument("--semantic", action="store_true",
                    help="embedding-cosine near-dedup (frozen-cell "
                         "vector store); input parquet needs "
                         "(vec_id, embedding); pair with a threshold "
                         "like 0.95")
    di.add_argument("--threshold", type=float, default=0.5)

    an = sub.add_parser("analyze",
                        help="compute catalog statistics for a "
                             "registered table (CBO input)")
    an.add_argument("name")
    an.add_argument("--columns", default="",
                    help="comma-separated columns for NDV/min/max stats")

    ch = sub.add_parser("chunk",
                        help="split docs into overlapping token windows "
                             "(embedding/pretraining chunking)")
    ch.add_argument("src", help="parquet with (doc_id, text)")
    ch.add_argument("out")
    ch.add_argument("--chunk-tokens", type=int, default=64)
    ch.add_argument("--overlap", type=int, default=16)

    bp = sub.add_parser("bpe",
                        help="learn a BPE merge table over a corpus "
                             "(tokenizer-training vocabulary step); "
                             "optionally apply it back for per-doc "
                             "subword token counts")
    bp.add_argument("src", help="parquet with (doc_id, text)")
    bp.add_argument("out", help="merge-table parquet "
                                "(rank, left, right, merged, pair_count)")
    bp.add_argument("--num-merges", type=int, default=64)
    bp.add_argument("--min-pair-count", type=int, default=2)
    bp.add_argument("--apply-out", default=None,
                    help="also segment src with the learned table and "
                         "write (doc_id, n_words, n_bpe_tokens) here")

    dg = sub.add_parser("diagnose",
                        help="pre-shuffle diagnostics: key skew for a "
                             "group/join key, or join output fan-out "
                             "for a key pair")
    dg.add_argument("kind", choices=["skew", "fanout"])
    dg.add_argument("paths", nargs="+",
                    help="skew: one parquet path; fanout: left and "
                         "right parquet paths")
    dg.add_argument("--key", required=True, help="key column")
    dg.add_argument("--right-key", default=None,
                    help="fanout: right-side key column when it "
                         "differs from --key")
    dg.add_argument("--top-k", type=int, default=10)

    dcard = sub.add_parser("datacard",
                           help="one-scan dataset-card table for a "
                                "documents parquet: per-(source, lang) "
                                "volumes, exact length percentiles, "
                                "fingerprint dup rate, quality score")
    dcard.add_argument("path", help="documents parquet path (doc_id, "
                                    "text, lang, source)")
    dcard.add_argument("--out", default=None,
                       help="also write the table as parquet here")

    gf = sub.add_parser("gapfill",
                        help="Timescale-style time_bucket_gapfill over "
                             "an events parquet: dense per-group bucket "
                             "spine with locf/interpolate/null fills")
    gf.add_argument("path", help="events parquet (ts, event_type, value)")
    gf.add_argument("--grain", default="hour",
                    choices=["hour", "day", "week"])
    gf.add_argument("--fill", default="locf",
                    choices=["locf", "interpolate", "null"])
    gf.add_argument("--group-col", default="event_type")
    gf.add_argument("--out", default=None,
                    help="write the filled series as parquet here")
    gf.add_argument("--limit", type=int, default=20,
                    help="rows to print when --out is not given")

    dc = sub.add_parser("drift-check",
                        help="score an arriving events delta against "
                             "the accumulated baseline mix (KL/TVD per "
                             "day), then fold the delta into the store")
    dc.add_argument("src", help="delta parquet with (ts, <key>) columns")
    dc.add_argument("--store", required=True,
                    help="append-only per-key count store (parquet)")
    dc.add_argument("--key", default="event_type")
    dc.add_argument("--out", default=None,
                    help="also write the per-day report here")

    vs = sub.add_parser("value-sketch",
                        help="fold an events delta into the append-only "
                             "quantile-sketch store, then print period "
                             "percentiles from the store alone")
    vs.add_argument("src", help="delta parquet with (ts, value, <keys>)")
    vs.add_argument("--store", required=True,
                    help="append-only day-grain bucket-count store "
                         "(parquet)")
    vs.add_argument("--keys", default="event_type",
                    help="comma-separated grouping columns")
    vs.add_argument("--since", default=None,
                    help="only include stored days >= YYYY-MM-DD in "
                         "the percentile read-off")

    qs = sub.add_parser("quality-score",
                        help="model-based quality filtering: train the "
                             "hashed-n-gram logistic gate and score "
                             "every document (GPT-3/RefinedWeb shape)")
    qs.add_argument("src", help="parquet with (doc_id, text[, lang])")
    qs.add_argument("out", help="scores parquet (doc_id, p_good, "
                                "predicted)")
    qs.add_argument("--labeled", default=None,
                    help="curated parquet with (doc_id, text, label); "
                         "omit to bootstrap labels from the heuristic "
                         "extremes")
    qs.add_argument("--tau", type=float, default=None,
                    help="also report how many docs pass p_good >= tau")
    qs.add_argument("--features", type=int, default=1 << 16,
                    help="hashed feature-space width")
    qs.add_argument("--max-iter", type=int, default=10)

    dq = sub.add_parser("dq-check",
                        help="evaluate a declarative data-quality "
                             "contract suite against a dataset and gate "
                             "on it (exit 1 if any check fails)")
    dq.add_argument("src", help="parquet dataset to validate")
    dq.add_argument("--checks", required=True,
                    help="JSON file: list of check specs (see "
                         "operators/validate.py check_suite); a "
                         "foreign_key spec's 'ref' is a parquet path")
    dq.add_argument("--table", default=None,
                    help="table label in the report (default: src "
                         "basename)")
    dq.add_argument("--out", default=None,
                    help="also write the report parquet here")

    ab = sub.add_parser("ann-build",
                        help="train and persist an IVF ANN index with "
                             "ivf_topk's exact-integer quantizer: "
                             "centroids + vectors partitioned by cell "
                             "(partition pruning IS the inverted file); "
                             "indexes from the earlier float quantizer "
                             "must be rebuilt")
    ab.add_argument("src", help="parquet with (vec_id, embedding)")
    ab.add_argument("index", help="index directory to write")
    ab.add_argument("--centroids", type=int, default=None,
                    help="cell count (default sqrt(N))")
    ab.add_argument("--pq", action="store_true",
                    help="also train ivfpq_rerank_topk's integer "
                         "product quantizer and store PQ codes beside "
                         "each vector (FAISS-IVFPQ shape: queries "
                         "ADC-scan the 8-byte codes of the probed cells, "
                         "then rerank exactly)")
    ab.add_argument("--pq-m", type=int, default=8,
                    help="PQ subspaces (with --pq)")
    ab.add_argument("--pq-codes", type=int, default=16,
                    help="codes per subspace (with --pq)")

    aq = sub.add_parser("ann-query",
                        help="top-k cosine neighbors from a persisted "
                             "IVF index, reading only the probed cells")
    aq.add_argument("index", help="index directory from ann-build")
    aq.add_argument("queries", help="parquet with (vec_id, embedding)")
    aq.add_argument("out", help="result parquet "
                                "(query_id, neighbor_id, cos_sim, rnk)")
    aq.add_argument("--k", type=int, default=5)
    aq.add_argument("--n-probe", type=int, default=4)
    aq.add_argument("--shortlist", type=int, default=50,
                    help="ADC shortlist size before the exact rerank "
                         "(PQ indexes only; auto-detected from the "
                         "stored codebooks)")

    sd = sub.add_parser("stream-drain",
                        help="incrementally drain the events stream "
                             "into an hourly rollup; re-invoke with the "
                             "same --checkpoint to process only files "
                             "added since the last run")
    sd.add_argument("events_dir", help="directory of events parquet files")
    sd.add_argument("out", help="partitioned parquet rollup sink")
    sd.add_argument("--checkpoint", required=True,
                    help="persistent checkpoint dir (file-source log + "
                         "aggregation state; keep it between runs)")
    sd.add_argument("--watermark", default="2 hours")

    sp = sub.add_parser("split",
                        help="leakage-safe train/valid/test split: every "
                             "duplicate cluster lands in one split")
    sp.add_argument("src", help="parquet with (doc_id, text)")
    sp.add_argument("out", help="partitioned-by-split parquet assignment")
    sp.add_argument("--weights", default="train=0.8,valid=0.1,test=0.1",
                    help="name=weight pairs, comma-separated")
    sp.add_argument("--edges", default=None,
                    help="near-dup pair parquet (doc_a, doc_b); omit for "
                         "exact-fingerprint clusters")

    args = p.parse_args(argv)

    from asvsp_spark.plans.registry import all_oracle_sql, all_queries
    queries, oracles = all_queries(), all_oracle_sql()

    if args.cmd == "list":
        for name in sorted(queries):
            print(f"{name:32s} {'oracle' if name in oracles else 'rows-only'}")
        return 0

    if args.cmd == "oracle":
        if args.name not in oracles:
            print(f"{args.name}: no oracle (rows-only query)", file=sys.stderr)
            return 1
        print(oracles[args.name].strip())
        return 0

    if args.cmd in ("run-query", "explain"):
        if args.name not in queries:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 1
        df = queries[args.name](_session(args), args.sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
            print(f"({df.count()} rows total)")
        return 0

    if args.cmd == "export":
        if args.name not in queries:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 1
        df = queries[args.name](_session(args), args.sf_dir)
        w = df.write.mode("overwrite")
        if args.format == "csv":
            w.option("header", True).csv(args.out)
        else:
            w.parquet(args.out)
        print(f"{args.name}: {df.count()} rows -> {args.out} ({args.format})")
        return 0

    if args.cmd == "run-batch":
        from asvsp_spark.pipeline import run_batch_chain
        layers = run_batch_chain(_session(args), args.sf_dir, args.out_dir)
        for name, df in layers.items():
            print(f"{name}: {df.count()} rows -> {args.out_dir}/{name}")
        return 0

    if args.cmd == "compact":
        from asvsp_spark.sources.batch import compact_parquet
        n = compact_parquet(_session(args), args.path,
                            target_file_bytes=args.target_mb * 1024 * 1024)
        print(f"{args.path}: compacted to {n} files")
        return 0

    if args.cmd == "zorder":
        from asvsp_spark.sources.layout import write_zordered
        spark = _session(args)
        write_zordered(spark.read.parquet(args.src), args.dest,
                       args.col_a, args.col_b, n_files=args.files)
        print(f"{args.src} -> {args.dest} (z-ordered on {args.col_a},{args.col_b})")
        return 0

    if args.cmd == "register-table":
        from asvsp_spark.sources.catalog import register_parquet_table
        parts = tuple(c for c in args.partition_cols.split(",") if c)
        t = register_parquet_table(_session(args), args.name, args.path,
                                   partition_cols=parts, replace=True)
        print(f"table {args.name}: {t.count()} rows at {args.path}")
        return 0

    if args.cmd == "corpus-pipeline":
        from asvsp_spark.pipeline import run_corpus_pipeline
        spark = _session(args)
        bench = (spark.read.parquet(args.benchmark)
                 if args.benchmark else None)
        try:
            contract = (_load_contract(spark, args.contract)
                        if args.contract else None)
        except ValueError as e:
            print(e, file=sys.stderr)
            return 2
        counts = run_corpus_pipeline(spark, args.sf_dir, args.out_dir,
                                     near_dedup=args.near_dedup,
                                     benchmark=bench,
                                     scrub_pii=args.scrub_pii,
                                     n_shards=args.shards,
                                     min_norm_entropy=args.min_entropy,
                                     bpe_merges=args.bpe_merges,
                                     contract=contract,
                                     audit=args.audit,
                                     paragraph_delimiter=(
                                         args.paragraph_delimiter),
                                     paragraph_joiner=_decode_escapes(
                                         args.paragraph_joiner),
                                     line_dedup=args.line_dedup,
                                     substring_dedup=args.substring_dedup,
                                     substring_window=args.substring_window,
                                     ingest_dir=args.ingest_dir,
                                     ingest_checkpoint=(
                                         args.ingest_checkpoint),
                                     ingest_staged=args.ingest_staged,
                                     ingest_watermark=(
                                         args.ingest_watermark),
                                     classifier_gate=args.classifier_gate)
        for stage, n in counts.items():
            print(f"{stage:16s} {n}")
        return 0

    if args.cmd == "merge":
        from asvsp_spark.sources.batch import merge_upsert
        spark = _session(args)
        counts = merge_upsert(spark, args.base,
                              spark.read.parquet(args.updates),
                              args.keys.split(","),
                              delete_col=args.delete_col)
        print(f"{args.base}: {counts}")
        return 0

    if args.cmd == "pack":
        from asvsp_spark.operators.packing import pack_contiguous
        spark = _session(args)
        packed = pack_contiguous(spark.read.parquet(args.src),
                                 budget=args.budget, n_shards=args.shards)
        packed.write.mode("overwrite").partitionBy("shard").parquet(args.out)
        print(f"{args.src}: {spark.read.parquet(args.out).count()} docs "
              f"packed into {args.shards}-shard bins of {args.budget} "
              f"tokens -> {args.out}")
        return 0

    if args.cmd == "dedup-incremental":
        from asvsp_spark.operators.dedup import (incremental_exact_dedup,
                                                 incremental_minhash_dedup)
        spark = _session(args)
        delta = spark.read.parquet(args.delta)
        if args.semantic:
            from asvsp_spark.operators.similarity import (
                incremental_semantic_dedup)
            fresh, counts = incremental_semantic_dedup(
                spark, delta, args.store, threshold=args.threshold)
        elif args.paragraph is not None:
            from asvsp_spark.operators.dedup import (
                incremental_paragraph_dedup)
            fresh, counts = incremental_paragraph_dedup(
                spark, delta, args.store, delimiter=args.paragraph,
                joiner=_decode_escapes(args.joiner))
        elif args.near:
            fresh, counts = incremental_minhash_dedup(
                spark, delta, args.store, threshold=args.threshold)
        else:
            fresh, counts = incremental_exact_dedup(spark, delta, args.store)
        if args.out:
            fresh.write.mode("overwrite").parquet(args.out)
        for stage, cnt in counts.items():
            print(f"{stage:24s} {cnt}")
        return 0

    if args.cmd == "stream-drain":
        from asvsp_spark.streaming.queries import incremental_hourly_drain
        spark = _session(args)
        out = incremental_hourly_drain(spark, args.events_dir, args.out,
                                       args.checkpoint,
                                       watermark=args.watermark)
        print(f"{args.events_dir}: hourly rollup now {out.count()} rows "
              f"-> {args.out} (checkpoint {args.checkpoint})")
        return 0

    if args.cmd == "analyze":
        from asvsp_spark.sources.catalog import analyze_table
        cols = tuple(c for c in args.columns.split(",") if c)
        stats = analyze_table(_session(args), args.name, columns=cols)
        for k, v in stats.items():
            print(f"{k}: {v}")
        return 0

    if args.cmd == "chunk":
        from asvsp_spark.operators.chunking import chunk_documents
        spark = _session(args)
        chunks = chunk_documents(spark.read.parquet(args.src),
                                 chunk_tokens=args.chunk_tokens,
                                 overlap=args.overlap)
        chunks.write.mode("overwrite").parquet(args.out)
        print(f"{args.src}: {spark.read.parquet(args.out).count()} chunks "
              f"({args.chunk_tokens} tokens, {args.overlap} overlap) "
              f"-> {args.out}")
        return 0

    if args.cmd == "gapfill":
        from asvsp_spark.operators.asof import gapfill
        spark = _session(args)
        filled = gapfill(spark.read.parquet(args.path), grain=args.grain,
                         group_col=args.group_col, fill=args.fill)
        if args.out:
            filled.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"wrote {n} {args.grain}-grain rows to {args.out}")
        else:
            for r in (filled.orderBy(args.group_col, args.grain)
                      .limit(args.limit).collect()):
                print(f"{str(r[args.group_col]):12s} {r[args.grain]} "
                      f"avg={r['avg_value']} n={r['n_events']} "
                      f"filled={r['filled']}")
        return 0

    if args.cmd == "datacard":
        from asvsp_spark.operators.grouping import corpus_datacard
        spark = _session(args)
        card = corpus_datacard(spark.read.parquet(args.path))
        if args.out:
            # print from the written table: re-collecting the uncached
            # plan would run the whole corpus aggregation a second time
            card.write.mode("overwrite").parquet(args.out)
            card = spark.read.parquet(args.out)
        for r in card.orderBy("source", "lang").collect():
            print(f"{str(r['source']):10s} {str(r['lang']):4s} "
                  f"docs={r['n_docs']:<8} tokens={r['n_tokens']:<10} "
                  f"p50={r['p50_tokens']:<8} p95={r['p95_tokens']:<8} "
                  f"dup_rate={r['dup_rate']:<9} "
                  f"quality={r['avg_quality']}")
        return 0

    if args.cmd == "diagnose":
        from asvsp_spark.operators.skew import (join_fanout_report,
                                                key_skew_report)
        spark = _session(args)
        if args.kind == "skew":
            if len(args.paths) != 1:
                print("diagnose skew takes exactly one parquet path",
                      file=sys.stderr)
                return 2
            rows = key_skew_report(spark.read.parquet(args.paths[0]),
                                   args.key, top_k=args.top_k).collect()
            for r in rows:
                print(f"#{r['rank']:<3} {str(r['key']):24s} "
                      f"rows={r['n_rows']:<10} share={r['share']:<9} "
                      f"cum={r['cum_share']:<9} "
                      f"vs_median={r['skew_vs_median']}")
        else:
            if len(args.paths) != 2:
                print("diagnose fanout takes left and right parquet "
                      "paths", file=sys.stderr)
                return 2
            rows = join_fanout_report(
                spark.read.parquet(args.paths[0]),
                spark.read.parquet(args.paths[1]), args.key,
                right_key_col=args.right_key, top_k=args.top_k).collect()
            for r in rows:
                print(f"#{r['rank']:<3} {str(r['key']):24s} "
                      f"out_rows={r['out_rows']:<12} "
                      f"({r['n_left']}x{r['n_right']}) "
                      f"share={r['share']:<9} "
                      f"total={r['total_out_rows']}")
        return 0

    if args.cmd == "drift-check":
        from asvsp_spark.operators.drift import incremental_drift_check
        spark = _session(args)
        report, stats = incremental_drift_check(
            spark, spark.read.parquet(args.src), args.store,
            key_col=args.key)
        tag = "bootstrap" if stats["bootstrapped"] else "delta"
        print(f"{tag}: {stats['delta_events']} events, "
              f"{stats['delta_keys']} keys vs {args.store}")
        if args.out:
            report.write.mode("overwrite").parquet(args.out)
            print(f"report -> {args.out}")
        else:
            for r in report.orderBy("day").collect():
                print(f"{r['day']}  n={r['n_events']:<8} "
                      f"kl={r['kl_nats']:.6f}  tvd={r['tvd']:.6f}")
        return 0

    if args.cmd == "value-sketch":
        from asvsp_spark.operators.sketches import (append_value_histogram,
                                                    stored_percentiles)
        spark = _session(args)
        keys = tuple(k.strip() for k in args.keys.split(",") if k.strip())
        stats = append_value_histogram(
            spark, spark.read.parquet(args.src), args.store,
            key_cols=keys)
        tag = "bootstrap" if stats["bootstrapped"] else "delta"
        print(f"{tag}: {stats['delta_values']} values, "
              f"{stats['delta_buckets']} day-buckets -> {args.store}")
        pct = stored_percentiles(spark, args.store, keys,
                                 since_day=args.since)
        if pct is None:
            print("empty delta and no existing store: nothing to report")
            return 0
        for r in pct.orderBy(*keys).collect():
            key = ",".join(str(r[k]) for k in keys)
            print(f"{key:24s} n={r['n_values']:<10} p50={r['p50']:<10} "
                  f"p90={r['p90']:<10} p99={r['p99']}")
        return 0

    if args.cmd == "quality-score":
        from pyspark.sql import functions as F
        from asvsp_spark.operators.classify import (
            heuristic_labels, score_quality, train_quality_classifier)
        spark = _session(args)
        # NULL text can't be featurized (HashingTF throws mid-scan) —
        # dirty corpora are exactly what this gate sees first
        docs = (spark.read.parquet(args.src)
                .filter(F.col("text").isNotNull()))
        labeled = (spark.read.parquet(args.labeled)
                   .filter(F.col("text").isNotNull())
                   if args.labeled else heuristic_labels(docs))
        model = train_quality_classifier(labeled,
                                         n_features=args.features,
                                         max_iter=args.max_iter)
        scores = score_quality(docs, model)
        scores.write.mode("overwrite").parquet(args.out)
        scores = spark.read.parquet(args.out)
        n = scores.count()
        print(f"{args.src}: {n} docs scored -> {args.out}")
        if args.tau is not None:
            kept = scores.filter(F.col("p_good") >= args.tau).count()
            print(f"gate p_good >= {args.tau}: {kept}/{n} pass")
        return 0

    if args.cmd == "dq-check":
        import os as _os
        from asvsp_spark.operators.validate import check_suite
        spark = _session(args)
        try:
            specs = _load_contract(spark, args.checks)
        except ValueError as e:
            print(e, file=sys.stderr)
            return 2
        table = args.table or _os.path.basename(args.src.rstrip("/"))
        report = check_suite(spark.read.parquet(args.src), table, specs)
        if args.out:
            # land the report once, read the rows back — never run the
            # scan + FK joins twice
            report.write.mode("overwrite").parquet(args.out)
            rows = (spark.read.parquet(args.out)
                    .orderBy("table", "check").collect())
        else:
            rows = report.collect()
        failed = warned = 0
        for r in rows:
            if r["passed"]:
                mark = "ok  "
            elif r["severity"] == "warn":
                mark, warned = "WARN", warned + 1
            else:
                mark, failed = "FAIL", failed + 1
            print(f"{mark} {r['table']}.{r['check']:<40s} "
                  f"metric={r['metric']:.6f} threshold={r['threshold']}")
        tail = f" ({warned} warn)" if warned else ""
        print(f"{len(rows) - failed - warned}/{len(rows)} checks "
              f"passed{tail}")
        # warn-severity violations report but never gate
        return 1 if failed else 0

    if args.cmd == "ann-build":
        from asvsp_spark.operators.similarity import (build_ivf_index,
                                                      build_ivfpq_index)
        spark = _session(args)
        if args.pq:
            meta = build_ivfpq_index(spark.read.parquet(args.src),
                                     args.index,
                                     n_centroids=args.centroids,
                                     m=args.pq_m, k_codes=args.pq_codes)
        else:
            meta = build_ivf_index(spark.read.parquet(args.src),
                                   args.index, n_centroids=args.centroids)
        kind = "IVF-PQ" if args.pq else "IVF"
        print(f"{args.src}: {meta['n_vectors']} vectors -> "
              f"{meta['n_centroids']} cells ({kind}) at {args.index}")
        return 0

    if args.cmd == "ann-query":
        from asvsp_spark.operators.similarity import (query_ivf_index,
                                                      query_ivfpq_index)
        from asvsp_spark.sources.store import hadoop_fs
        spark = _session(args)
        queries_df = spark.read.parquet(args.queries)
        fs, codebooks = hadoop_fs(spark, f"{args.index}/codebooks")
        if fs.exists(codebooks):
            res = query_ivfpq_index(spark, args.index, queries_df,
                                    k=args.k, n_probe=args.n_probe,
                                    shortlist=args.shortlist)
        else:
            res = query_ivf_index(spark, args.index, queries_df,
                                  k=args.k, n_probe=args.n_probe)
        res.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"{n} neighbor rows (k={args.k}, n_probe={args.n_probe}) "
              f"-> {args.out}")
        return 0

    if args.cmd == "bpe":
        from asvsp_spark.operators.vocab import bpe_apply, bpe_merge_table
        spark = _session(args)
        docs = spark.read.parquet(args.src)
        merges = bpe_merge_table(docs, num_merges=args.num_merges,
                                 min_pair_count=args.min_pair_count)
        merges.write.mode("overwrite").parquet(args.out)
        learned = spark.read.parquet(args.out)
        print(f"{args.src}: learned {learned.count()} merges "
              f"(requested {args.num_merges}, min pair count "
              f"{args.min_pair_count}) -> {args.out}")
        if args.apply_out:
            bpe_apply(docs, learned).write.mode("overwrite") \
                .parquet(args.apply_out)
            print(f"segmented counts -> {args.apply_out}")
        return 0

    if args.cmd == "split":
        from asvsp_spark.operators.splits import leakage_safe_split
        spark = _session(args)
        weights = {}
        try:
            for part in args.weights.split(","):
                name, _, val = part.partition("=")
                if not name.strip() or not val:
                    raise ValueError(part)
                weights[name.strip()] = float(val)
            if len(weights) < 2 or sum(weights.values()) <= 0:
                raise ValueError(args.weights)
        except ValueError:
            p.error(f"--weights must be name=weight pairs like "
                    f"train=0.8,valid=0.1,test=0.1 (got {args.weights!r})")
        edges = spark.read.parquet(args.edges) if args.edges else None
        assigned = leakage_safe_split(spark.read.parquet(args.src),
                                      edges=edges, weights=weights)
        assigned.write.mode("overwrite").partitionBy("split").parquet(args.out)
        for r in (spark.read.parquet(args.out).groupBy("split").count()
                  .orderBy("split").collect()):
            print(f"{r['split']:8s} {r['count']}")
        return 0

    return 1


if __name__ == "__main__":
    raise SystemExit(main())

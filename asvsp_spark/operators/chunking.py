"""Document chunking: split each document into fixed-size token windows
with overlap — the step between a cleaned corpus and an embedding /
pretraining batch (RAG indexing chunks with overlap so no answer spans
a boundary; pretraining chunks long docs to the context length).
Beyond-parity extension; no reference analogue.

Whole-expression implementation: tokenize once, posexplode a chunk-index
sequence, slice the token array per chunk — everything stays in
whole-stage codegen, no Python in the loop, and the plan is one narrow
projection + generate (no shuffle at all: each document's chunks are
computed where the document lives). SQL-expressible, so the registry
entry is oracle-paired (DuckDB list_slice reproduces the exact chunks).

Stride semantics: chunk i starts at token i*(chunk_tokens - overlap),
0-based, and takes chunk_tokens tokens (the last chunk may be shorter).
A document emits ceil(max(n - overlap, 1) / stride) chunks, so every
token is covered and consecutive chunks share exactly ``overlap``
tokens. Documents shorter than one chunk emit themselves as chunk 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from asvsp_spark.functions.text import tokens


def chunk_documents(documents: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, chunk_id, start_tok, n_tokens, chunk_text) — one row per
    token window. ``overlap`` must be < ``chunk_tokens``."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap ({overlap}) < chunk_tokens ({chunk_tokens})")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size("toks")
    # ceil(max(n - overlap, 1) / stride) without float math
    n_chunks = (F.greatest(n - F.lit(overlap), F.lit(1))
                + F.lit(stride - 1)).cast("long") / F.lit(stride)
    n_chunks = F.floor(n_chunks).cast("int")
    return (
        documents
        .select(F.col(id_col), toks.alias("toks"))
        .select(F.col(id_col), "toks",
                F.posexplode(F.sequence(F.lit(0), n_chunks - 1))
                .alias("chunk_id", "_i"))
        .select(
            id_col, "chunk_id",
            (F.col("chunk_id") * stride).alias("start_tok"),
            F.slice("toks", F.col("chunk_id") * stride + 1,
                    chunk_tokens).alias("_ctoks"))
        .select(
            id_col, "chunk_id", "start_tok",
            F.size("_ctoks").alias("n_tokens"),
            F.array_join("_ctoks", " ").alias("chunk_text"))
    )

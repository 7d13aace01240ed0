"""Multimodal column operators: opaque ``binary`` payloads with typed
metadata, processed by Arrow-batched pandas pipelines (mapInPandas).

Design for 100TB of media (beyond-parity extension; the reference is
tabular-only, SURVEY §2.9):
- Media travels as a ``binary`` column plus a typed metadata struct —
  never decoded JVM-side. Decode/resize/frame-sample run inside
  ``mapInPandas``: Arrow ships each partition to Python in columnar
  batches (spark.sql.execution.arrow.maxRecordsPerBatch bounds peak
  memory per batch — size it so batch_bytes ~ batches x avg_media_size
  fits the executor's Python worker).
- Partitioning: media rows are large and skewed; repartition by a
  uniform key (doc_id) before the Python stage so no worker gets a
  multi-GB batch, and keep the feature output narrow (drop the payload
  column right after extraction) so the shuffle that follows carries
  features, not bytes.
- No image/audio/video codec library is a dependency, so the decoders
  (``decode_image_raw``, ``decode_audio_raw``, ``frame_sample_raw``) run
  end to end over a deterministic synthetic raw format, and
  ``media_features`` computes real byte-level features; the Spark-side
  plumbing (schema, batching, UDF signature) is fully exercised and
  oracle-checked. A real codec swaps into the same mapInPandas contract.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_TYPES = ("image", "audio", "video")

MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("n_chars", T.LongType()),
        T.StructField("source", T.StringType()),
    ])),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("head_hex", T.StringType()),
    T.StructField("digest", T.StringType()),
])


def attach_fake_media(documents: DataFrame) -> DataFrame:
    """Deterministic media fixture: the document text utf-8 encoded as the
    binary payload, media_type assigned round-robin by doc_id. Stands in
    for real blobs so every downstream operator is testable; the payload
    column is genuinely BinaryType so the pipeline shape is the real one.
    """
    mt = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]),
        (F.col("doc_id") % len(MEDIA_TYPES) + 1).cast("int"))
    return documents.select(
        "doc_id",
        mt.alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(F.col("n_chars"), F.col("source")).alias("meta"),
    )


def media_features(media: DataFrame) -> DataFrame:
    """Byte-level feature extraction via mapInPandas (Arrow-batched):
    size, head-of-file hex (magic-number fingerprint), md5 digest.

    This is the template every real decoder follows: iterate pandas
    batches, compute per-row features, yield a narrow frame matching
    FEATURE_SCHEMA — payload dropped before anything shuffles.
    """
    def extract(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": payload.map(len).astype("int32"),
                "head_hex": payload.map(lambda b: bytes(b)[:8].hex().upper()),
                "digest": payload.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
            })

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


# ---- synthetic raw codec: the decode/resize/frame-sample pipelines run
# END-TO-END against a deterministic uncompressed format (numpy-only), so
# the full plumbing — binary parsing, per-row decode, Python-side explode,
# batch shapes — is exercised and testable in an environment with no real
# codecs. Swapping RAWI/RAWA/RAWV parsing for PIL/soundfile/pyav turns
# these into the production decoders without touching any Spark code.

RAW_IMAGE_MAGIC = b"RAWI"   # RAWI | w:u16 | h:u16 | w*h grayscale bytes
RAW_AUDIO_MAGIC = b"RAWA"   # RAWA | rate:u32 | n:u32 | n int8 samples
RAW_VIDEO_MAGIC = b"RAWV"   # RAWV | frames:u16 | w:u16 | h:u16 | frames*w*h


def _det_bytes(doc_id: int, tag: str, n: int) -> bytes:
    """n deterministic pseudo-random bytes from chained md5 digests of
    (doc_id, tag, block) — the engine's standard md5-derivation stance,
    so the EXACT payload bytes are reproducible in DuckDB (string_agg
    of md5 hex blocks), which is what lets the media decode queries be
    oracle-paired despite parsing binary."""
    out = bytearray()
    k = 0
    while len(out) < n:
        out += hashlib.md5(f"{doc_id}|{tag}|{k}".encode()).digest()
        k += 1
    return bytes(out[:n])


def attach_synthetic_media(documents: DataFrame) -> DataFrame:
    """Deterministic RAWI/RAWA/RAWV payloads generated per doc_id inside
    mapInPandas (md5-chained byte streams — identical across runs,
    partitionings, executors AND engines; see _det_bytes). Same
    round-robin media_type assignment as attach_fake_media, but the
    payloads PARSE."""
    def gen(batches: Iterator) -> Iterator:
        import pandas as pd
        import struct
        for pdf in batches:
            payloads = []
            mtypes = []
            for doc_id in pdf["doc_id"]:
                kind = MEDIA_TYPES[int(doc_id) % len(MEDIA_TYPES)]
                mtypes.append(kind)
                if kind == "image":
                    w, h = 8 + int(doc_id) % 25, 6 + int(doc_id) % 19
                    px = _det_bytes(int(doc_id), "px", w * h)
                    payloads.append(RAW_IMAGE_MAGIC
                                    + struct.pack(">HH", w, h) + px)
                elif kind == "audio":
                    rate = 8000
                    n = 1000 + int(doc_id) % 3000
                    smp = _det_bytes(int(doc_id), "au", n)
                    payloads.append(RAW_AUDIO_MAGIC
                                    + struct.pack(">II", rate, n) + smp)
                else:
                    nf, w, h = 4 + int(doc_id) % 13, 8, 6
                    px = _det_bytes(int(doc_id), "vx", nf * w * h)
                    payloads.append(RAW_VIDEO_MAGIC
                                    + struct.pack(">HHH", nf, w, h) + px)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": mtypes,
                "payload": payloads,
                "meta": pdf["meta"],
            })

    from asvsp_spark.plans.base import fanout
    # input is pruned to exactly what gen reads (doc_id + meta):
    # mapInPandas input needn't match the OUTPUT schema, and the old
    # encode(text) placeholder payload shipped the whole text column
    # through the exchange and Arrow only to be discarded. fanout is
    # the standard small-file guard — documents.parquet at test SFs
    # arrives as ONE scan partition, which would serialize payload
    # generation and the downstream (narrow) decode on a single core;
    # no-op on a well-split production scan.
    base = fanout(documents.select(
        "doc_id", F.struct(F.col("n_chars"), F.col("source")).alias("meta")))
    return base.mapInPandas(gen, schema=MEDIA_SCHEMA)


def decode_image_raw(media: DataFrame, max_side: int = 16) -> DataFrame:
    """Decode + nearest-neighbor resize of RAWI images: (doc_id, width,
    height, out_width, out_height, mean_intensity). The resize is a pure
    numpy stride decimation — the production swap-in is PIL.thumbnail
    with identical input/output contract."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ])

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        import struct
        for pdf in batches:
            rows = []
            for doc_id, mt, payload in zip(pdf["doc_id"], pdf["media_type"],
                                           pdf["payload"]):
                if mt != "image":
                    continue
                buf = bytes(payload)
                assert buf[:4] == RAW_IMAGE_MAGIC, "not a RAWI payload"
                w, h = struct.unpack(">HH", buf[4:8])
                px = np.frombuffer(buf[8:8 + w * h],
                                   dtype=np.uint8).reshape(h, w)
                sx = max(1, -(-w // max_side))
                sy = max(1, -(-h // max_side))
                small = px[::sy, ::sx]
                rows.append((int(doc_id), w, h,
                             small.shape[1], small.shape[0],
                             round(float(px.mean()), 6)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height",
                               "out_width", "out_height", "mean_intensity"])

    return media.mapInPandas(decode, schema=out_schema)


def decode_audio_raw(media: DataFrame, target_rate: int = 4000) -> DataFrame:
    """Decode + linear-resample RAWA audio: (doc_id, rate, n_samples,
    duration_s, out_samples, rms). Production swap-in: soundfile/librosa
    with the same contract."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("out_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
    ])

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        import struct
        for pdf in batches:
            rows = []
            for doc_id, mt, payload in zip(pdf["doc_id"], pdf["media_type"],
                                           pdf["payload"]):
                if mt != "audio":
                    continue
                buf = bytes(payload)
                assert buf[:4] == RAW_AUDIO_MAGIC, "not a RAWA payload"
                rate, n = struct.unpack(">II", buf[4:12])
                smp = np.frombuffer(buf[12:12 + n], dtype=np.int8)
                out_n = max(1, int(n * target_rate / rate))
                res = np.interp(np.linspace(0, n - 1, out_n),
                                np.arange(n), smp.astype(np.float64))
                rows.append((int(doc_id), rate, n,
                             round(n / rate, 6), out_n,
                             round(float(np.sqrt((res ** 2).mean())), 6)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "rate", "n_samples", "duration_s",
                               "out_samples", "rms"])

    return media.mapInPandas(decode, schema=out_schema)


def frame_sample_raw(media: DataFrame, every_n: int = 2) -> DataFrame:
    """RAWV frame sampling — the Python-side EXPLODE shape: one input
    video row yields one output row per sampled frame (index + digest).
    Repartition by doc_id before this stage in production so decode cost
    spreads evenly; the output is narrow (no frame payloads shuffled)."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_mean", T.DoubleType()),
        T.StructField("frame_digest", T.StringType()),
    ])

    def sample(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        import struct
        for pdf in batches:
            rows = []
            for doc_id, mt, payload in zip(pdf["doc_id"], pdf["media_type"],
                                           pdf["payload"]):
                if mt != "video":
                    continue
                buf = bytes(payload)
                assert buf[:4] == RAW_VIDEO_MAGIC, "not a RAWV payload"
                nf, w, h = struct.unpack(">HHH", buf[4:10])
                frames = np.frombuffer(
                    buf[10:10 + nf * w * h],
                    dtype=np.uint8).reshape(nf, h, w)
                for idx in range(0, nf, every_n):
                    fr = frames[idx]
                    # digest over the frame's lowercase HEX, not raw
                    # bytes: equally content-addressing, and DuckDB md5
                    # is VARCHAR-only — this keeps the whole frame
                    # stream oracle-checkable
                    rows.append((int(doc_id), idx,
                                 round(float(fr.mean()), 6),
                                 hashlib.md5(
                                     fr.tobytes().hex().encode()
                                 ).hexdigest()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_mean",
                               "frame_digest"])

    return media.mapInPandas(sample, schema=out_schema)

"""Multimodal columns: binary payloads + typed metadata (SURVEY.md §2.11).

Model: media is an opaque `binary` column beside a typed metadata
struct — the lakehouse-native layout for images/audio/video at 100 TB
(payload bytes travel with the row, metadata is prunable/filterable
without touching payloads; Parquet stores the binary column contiguously
so a metadata-only query never reads it).

Every per-row media operator goes through ONE kernel, `_per_row`:
an Arrow-batched `mapInPandas` that hands each input row to a row
function returning 0..N output tuples in schema order, and emits the
operator's quarantine row when that function raises ValueError. The
output schema is declared up front so Catalyst plans around it. The
kernel is the one seam a native codec binds to: swapping in a native
decoder changes only the row function, never the schema, batching or
quarantine contract.

Codec layer: nine real, dependency-free codecs cover all three media
branches — images: 24-bit uncompressed BMP
(`encode_bmp24`/`decode_bmp24`), zlib-compressed PNG
(`encode_png`/`decode_png`), QOI (`encode_qoi`/`decode_qoi`) and
LOSSY baseline JPEG (jpeg.py: DCT + Huffman, 4:4:4/4:2:0, restart
markers); audio: RIFF/WAVE PCM-16, compressed G.711 mu-law
(`decode_wav16`, `encode_wav_mulaw`) and lossless FLAC (flac.py:
Rice + predictors, CRC/MD5-verified); video: YUV4MPEG2
(`encode_y4m`/`decode_y4m`) AND compressed Motion-JPEG AVI (mjpeg.py)
— pure numpy/stdlib, each exercised end-to-end by an oracle-checked
roundtrip catalog query (`mm_{bmp,png,qoi,jpeg,wav,mulaw,flac}_
roundtrip_stats`, `mm_y4m_frame_stats`, `mm_mjpeg_frame_stats`) and
byte-level tests. The `raw-u8` operators (`decode_stats`,
`resize_images`, `sample_frames`) interpret the payload bytes
themselves as samples/pixels; that is their defined behaviour, and
each has a real-format sibling. Inter-frame (H.264-family) video is
the one branch that needs a codec library; it binds at
`video_frame_stats`' ``interframe_decoder`` and quarantines when
unbound. The contract any decoder must satisfy: consume `payload`
bytes per row, honor NULL/empty payloads (quarantine or NULL stats,
never a batch failure), and emit the declared output schema — the
tests in tests/test_multimodal.py are the executable specification.

Scale notes:
- Payload skew is the hazard: a 4 GB video next to 4 KB thumbnails.
  `repartition_by_payload` salts rows into even-sized partitions by
  cumulative byte size, bounding per-task memory.
- `spark.sql.execution.arrow.maxRecordsPerBatch` is the batch-size
  knob when payloads are large (set ~32 for video, default for
  thumbnails).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("meta", MEDIA_META),
        T.StructField("content", T.BinaryType()),
    ]
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic media fixtures from the `documents` table: the
    UTF-8 bytes of the text become the payload; metadata is derived
    from the id. Pure column ops — no UDF, reproducible at any SF."""
    n = F.coalesce(F.length("text").cast("int"), F.lit(0))
    width = (n / F.lit(8)).cast("int") + F.lit(1)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("media_type"),
            width.alias("width"),
            F.lit(8).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("doc_id") % 7 + 1).cast("int").alias("n_frames"),
            F.lit("raw-u8").alias("codec"),
        ).alias("meta"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
    )


def _as_u8(content: bytes | None) -> np.ndarray:
    if content is None or len(content) == 0:
        return np.zeros(1, dtype=np.uint8)
    return np.frombuffer(bytes(content), dtype=np.uint8)


def _bucket_features(arr: np.ndarray, dim: int) -> list[float]:
    """Shared featurizer kernel: `dim` bucket means over a 1-D float
    array, L2-normalized (zero-norm passthrough) — one definition so
    the fake (`extract_features`) and real (`bmp_features`) paths can
    never silently diverge."""
    buckets = np.array(
        [b.mean() if len(b) else 0.0 for b in np.array_split(arr, dim)],
        dtype=np.float32,
    )
    norm = float(np.linalg.norm(buckets))
    return (buckets / norm if norm else buckets).tolist()


def _nn_index(src_n: int, out_n: int) -> np.ndarray:
    """Nearest-neighbor center-sampling index map (PIL-NEAREST's
    floor((i+0.5)·src/out) rule, clamped) — one definition shared by
    the image-resize axes and the audio resampler."""
    return np.minimum(
        ((np.arange(out_n) + 0.5) * src_n / out_n).astype(np.int64),
        src_n - 1,
    )


# ---------------------------------------------------------- per-row kernel

_MEDIA_IN = ("media_id", "content")


def _row_batches(cols, names, row_fn, error_row=None):
    """The batch function `_per_row` hands to mapInPandas, separate so
    it can be driven with plain pandas frames. For each input row,
    ``row_fn(*values of cols)`` returns a list of 0..N output tuples in
    ``names`` order. When it raises ValueError and ``error_row`` is
    given, the row quarantines as ``(int(first value), *error_row,
    message)`` — the media_id first, the decode_error last — instead
    of failing the batch; without ``error_row`` the error propagates."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for vals in zip(*(pdf[c] for c in cols)):
                try:
                    out += row_fn(*vals)
                except ValueError as e:
                    if error_row is None:
                        raise
                    out.append((int(vals[0]), *error_row, str(e)))
            yield pd.DataFrame(
                {n: [r[i] for r in out] for i, n in enumerate(names)}
            )

    return batches


def _per_row(df: DataFrame, cols, schema: str, row_fn, error_row=None) -> DataFrame:
    """THE per-row media kernel: ``df.select(*cols)`` mapped through
    `_row_batches` into ``schema`` (a flat DDL string, so the output
    column names are its comma-separated heads)."""
    names = [f.split()[0] for f in schema.split(",")]
    return df.select(*cols).mapInPandas(
        _row_batches(cols, names, row_fn, error_row), schema
    )


def _payload(content) -> bytes:
    return bytes(content) if content is not None else b""


def _tiled_text(text, n: int) -> np.ndarray:
    """The pixel/sample rule every fixture synthesizer shares: ``n``
    uint8 bytes tiling the UTF-8 text (byte j = text_byte[j mod len]),
    all zero for empty or NULL text. SQL-replayable, so the DuckDB
    oracles verify each encode→decode roundtrip without parsing the
    format."""
    tb = np.frombuffer(
        (text if isinstance(text, str) else "").encode("utf-8"), dtype=np.uint8
    )
    return tb[np.arange(n) % len(tb)] if len(tb) else np.zeros(n, dtype=np.uint8)


def _synthesize(docs: DataFrame, cols, encode) -> DataFrame:
    """Fixture media: one (media_id, content) row per document with
    content = ``encode(int(id), *other cols)``; ``cols[0]`` is the id."""
    return _per_row(
        docs, cols, "media_id long, content binary",
        lambda mid, *rest: [(int(mid), encode(int(mid), *rest))],
    )


# --------------------------------------------------------------- operators


def decode_stats(media: DataFrame) -> DataFrame:
    """Per-item decode + summary stats (the "can we read it" pass every
    media pipeline runs first). Fake codec: bytes are the samples.
    Empty payloads report honestly: n_bytes=0 and NULL stats (the
    zeros(1) pad of `_as_u8` is only for operators that need a
    non-empty sample array, not for integrity reporting)."""

    def row(mid, meta, content):
        raw = _payload(content)
        if not raw:
            return [(mid, meta["media_type"], 0, None, None, None)]
        a = _as_u8(raw)
        return [(mid, meta["media_type"], len(raw), float(a.mean()),
                 int(a.min()), int(a.max()))]

    return _per_row(
        media, ("media_id", "meta", "content"),
        "media_id long, media_type string, n_bytes long, "
        "mean_value double, min_value int, max_value int",
        row,
    )


def resize_images(media: DataFrame, out_width: int, out_height: int) -> DataFrame:
    """Strided "resize": sample the payload down to out_width*out_height
    bytes (nearest-neighbor over the fake 1-D pixel space). Output keeps
    the media schema shape with updated metadata + payload. For actual
    image files use the real-path sibling `resize_bmp`."""
    target = out_width * out_height

    def row(mid, content):
        a = _as_u8(content)
        idx = np.linspace(0, len(a) - 1, num=target).astype(np.int64)
        return [(mid, out_width, out_height, a[idx].tobytes())]

    return _per_row(
        media, _MEDIA_IN, "media_id long, width int, height int, content binary", row
    )


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling for video rows: split the payload into
    `meta.n_frames` equal frames, keep every `every_n`-th — a 1→N
    operator (output rows ≠ input rows), the shape a real
    keyframe-extractor has. For actual video files use the real-path
    siblings `y4m_frame_stats` / `y4m_frames_to_bmp`."""

    def row(mid, meta, content):
        if meta["media_type"] != "video":
            return []
        n = max(int(meta["n_frames"] or 1), 1)
        frames = np.array_split(_as_u8(content), n)
        return [(mid, i, f.tobytes()) for i, f in enumerate(frames) if i % every_n == 0]

    return _per_row(
        media, ("media_id", "meta", "content"),
        "media_id long, frame_index int, frame binary", row,
    )


def torch_feature_encoder(model_path: str):
    """Batch-infer binding to the OPTIONAL public `torch` dependency —
    the real implementation of the embedding-encoder seam in
    `extract_features` (the `pyav_decoder` treatment applied to the
    encoder: a genuine body behind an import probe, exercised in the
    dependency-free tree via a sys.modules-injected fake torch —
    tests/test_multimodal.py).

    Loads a TorchScript module ONCE per call site (i.e. once per
    executor task via the lazy resolve inside the mapInPandas body)
    and returns a closure mapping an (n, d_in) float32 pre-feature
    matrix to the L2-normalized (n, d_out) float32 embedding matrix.
    Raises ImportError when torch is absent (the probe's signal) and
    ValueError when the module mis-shapes its output — a wrong model
    must be loud, never silently approximate."""
    import torch  # optional public dependency

    model = torch.jit.load(model_path)
    if hasattr(model, "eval"):
        model.eval()

    def _encode(pre: np.ndarray) -> np.ndarray:
        with torch.no_grad():
            out = np.asarray(
                model(torch.from_numpy(pre)).numpy(), dtype=np.float32
            )
        if out.ndim != 2 or out.shape[0] != pre.shape[0]:
            raise ValueError(
                f"encoder returned shape {out.shape} for a batch of "
                f"{pre.shape[0]} rows"
            )
        norms = np.linalg.norm(out, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return out / norms

    return _encode


def resolve_feature_encoder():
    """Deployment probe for the real embedding encoder (the
    `resolve_interframe_decoder` idiom): bound when
    ``SPARK_GRAFT_ENCODER_PATH`` names a TorchScript module, None when
    the knob is unset (callers keep the deterministic bucket
    featurizer). A SET path with torch unimportable raises — that
    deployment ASKED for model inference, and a silent fallback would
    ship bucket-feature vectors into an index built for model
    embeddings."""
    path = os.environ.get("SPARK_GRAFT_ENCODER_PATH")
    if not path:
        return None
    try:
        import torch  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "SPARK_GRAFT_ENCODER_PATH is set but `torch` is not "
            "importable on this worker — install torch or unset the knob"
        ) from e
    return torch_feature_encoder(path)


def extract_features(media: DataFrame, dim: int = 16, encoder=None) -> DataFrame:
    """Fixed-dim feature vector per item (the embed step before
    similarity search / near-dup). Default featurizer: per-bucket byte
    means, L2-normalized — deterministic, vectorized, and shaped exactly
    like a real encoder's output (`array<float>[dim]`). When a real
    encoder is bound — `encoder=` directly, or the
    ``SPARK_GRAFT_ENCODER_PATH`` TorchScript probe
    (`resolve_feature_encoder`, resolved lazily INSIDE the task so the
    model loads on executors, not the driver) — the same pre-feature
    matrix batch-infers through it, one Arrow batch per call. For
    actual image files use the real-path siblings `bmp_features` /
    `image_features` (the latter sniffs BMP/PNG/QOI/JPEG)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    schema = f"media_id long, features array<float>"  # noqa: F541

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = encoder if encoder is not None else resolve_feature_encoder()
        for pdf in it:
            pre = [
                _bucket_features(_as_u8(c).astype(np.float32), dim)
                for c in pdf["content"]
            ]
            if enc is None:
                feats = pre
            else:
                mat = np.asarray(pre, dtype=np.float32).reshape(-1, dim)
                feats = list(enc(mat))
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media.mapInPandas(batches, schema=schema)


# ------------------------------------------- frozen linear text encoder

# Frozen integer weight matrix for `embed_text_linear` — a pure
# function of (i, j) so the Spark expression and the DuckDB oracle
# inline IDENTICAL literals (the quality_model_score frozen-weights
# pattern applied to vectors). Values span [-6, 6]: small enough that
# e_i = W·f stays far inside int64 for any real document.
EMBED_FEATURES = 16  # hash-bucketed bag-of-words feature width
EMBED_DIM = 8


def embed_weight(i: int, j: int) -> int:
    return ((7 * i + 11 * j) % 13) - 6


def embed_text_vec(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, vec array<long>) — the frozen-linear-encoder vector of
    `embed_text_linear`, kept as a real array for downstream vector
    ops (`mm_embed_ann_topk` retrieves over it); the catalog-facing
    string form lives in `embed_text_linear` (complex-cell ban).
    ``keep`` threads extra input columns through both staged
    projections unchanged, so a composed pipeline can encode and
    derive other per-row columns in ONE corpus pass instead of
    re-reading a checkpoint per derivation (pipeline_rag_retrieval)."""
    from ..functions.text import words_expr
    from ..operators.pipeline import portable_hash_bucket

    # One pass, compact expression tree: bucket every word once, fold
    # the bucket stream into a 16-bin histogram, then fold the literal
    # weight matrix against the histogram. The first formulation here
    # (16 per-bucket filter-counts, 8 dims each re-referencing all 16)
    # collapsed into ~128 copies of the tokenizer subtree under
    # CollapseProject and OOM'd the optimizer on a 1 GiB driver when
    # composed downstream (pipeline_rag_retrieval). Values are
    # identical: histogram[j] = count of words in bucket j, and each
    # zip_with/aggregate dim is the same left-fold Σ_j W[i][j]·f_j.
    buckets = F.transform(
        words_expr(F.col(text_col)),
        lambda w: portable_hash_bucket(w, EMBED_FEATURES),
    )
    hist = F.aggregate(
        buckets,
        F.array_repeat(F.lit(0).cast("long"), EMBED_FEATURES),
        lambda acc, b: F.transform(
            acc,
            lambda v, i: F.when(i == b.cast("int"), v + 1).otherwise(v),
        ),
    )
    wmat = F.array(
        *[
            F.array(
                *[
                    F.lit(embed_weight(i, j)).cast("long")
                    for j in range(EMBED_FEATURES)
                ]
            )
            for i in range(EMBED_DIM)
        ]
    )
    # Kept columns must not collide with the operator's own outputs /
    # internals — a clash would silently produce duplicate or
    # ambiguous columns downstream (ADVICE r13).
    reserved = {id_col, "vec", "__f"} & set(keep)
    if reserved:
        raise ValueError(
            f"embed_text_vec: keep={sorted(reserved)} collides with the "
            f"operator's own columns ({id_col!r}, 'vec', '__f')"
        )
    extra = [F.col(c) for c in keep]
    staged = df.select(F.col(id_col), *extra, hist.alias("__f"))
    vec = F.transform(
        wmat,
        lambda row: F.aggregate(
            F.zip_with(row, F.col("__f"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return staged.select(id_col, *extra, vec.alias("vec"))


def embed_text_linear(df: DataFrame) -> DataFrame:
    """Documents → embedding vectors as a VERIFIED derivation: a
    frozen integer-quantized linear encoder over hash-bucketed
    bag-of-words counts. f_j = count of words whose portable md5
    bucket (operators/pipeline.portable_hash_bucket) is j;
    e_i = Σ_j W[i][j]·f_j with the frozen `embed_weight` matrix —
    exact integer math end to end, so the DuckDB oracle
    (`mm_embed_text`) replays every vector bit-for-bit. The engine's
    `embeddings` fixture table remains an INPUT; this row is the
    documents→embeddings derivation the pretraining pipeline needs,
    with the real-model seam (`extract_features` + TorchScript probe)
    swapping in for the frozen matrix at deployment.

    Scale shape: ONE map-only projection — tokenize, bucket, count,
    matrix-multiply are all JVM expressions per row; no shuffle, no
    UDF, no model on the driver. Emits the vector as a space-joined
    string (catalog-wide complex-cell ban) plus integer checksums."""
    vec = F.col("vec")
    return embed_text_vec(df).select(
        "doc_id",
        F.array_join(vec, " ").alias("embedding"),
        F.aggregate(vec, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "sum_e"
        ),
        F.aggregate(
            vec, F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("l2_sq"),
    )


def repartition_by_payload(media: DataFrame, target_bytes: int = 128 << 20) -> DataFrame:
    """Rebalance so each partition carries ~target_bytes of payload.

    Binary rows are size-skewed; hash partitioning by row COUNT gives
    some tasks 100× the bytes of others. One aggregation measures the
    total payload, the partition count is total/target, and rows hash
    uniformly into those partitions — expected bytes per partition ≈
    target (hash balance, not bin packing: a single row larger than
    target still owns its partition, which is unavoidable since rows
    can't split). At 100 TB this is the difference between a smooth
    stage and three stragglers."""
    with_size = media.withColumn("_sz", F.coalesce(F.length("content"), F.lit(0)))
    total = with_size.agg(F.sum("_sz")).collect()[0][0] or 0
    n_parts = max(int(total // target_bytes) + 1, 1)
    bucket = F.pmod(F.xxhash64("media_id"), F.lit(n_parts))
    return (
        with_size.withColumn("_bucket", bucket)
        .repartition(n_parts, F.col("_bucket"))
        .drop("_sz", "_bucket")
    )


# ----------------------------------------------------------- real codec: BMP

# A REAL image decode path needs no external library: 24-bit
# uncompressed BMP (BITMAPINFOHEADER, BI_RGB) is a fixed 54-byte header
# plus bottom-up, 4-byte-padded BGR rows — parseable with numpy alone.
# This is the production image branch of the codec layer: any 24-bit
# BMP from any producer decodes here (the `raw-u8` operators keep
# reading bytes as pixels; `resize_bmp` etc. are their real siblings).

_BMP_HEADER = 54


def encode_bmp24(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 RGB array as a 24-bit BI_RGB BMP
    (bottom-up rows, BGR channel order, rows padded to 4 bytes)."""
    import struct

    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {pixels.shape}")
    h, w = pixels.shape[:2]
    row = w * 3
    stride = (row + 3) // 4 * 4
    img_size = stride * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", _BMP_HEADER + img_size, 0, 0, _BMP_HEADER,
        40, w, h, 1, 24, 0, img_size, 0, 0, 0, 0,
    )
    bgr = pixels.astype(np.uint8)[::-1, :, ::-1]  # bottom-up, RGB→BGR
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :row] = bgr.reshape(h, row)
    return header + rows.tobytes()


def decode_bmp24(content: bytes | bytearray | memoryview) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP into an (h, w, 3) uint8 RGB
    array. Validates magic/bpp/compression, honors the header's pixel
    offset, strips row padding, flips bottom-up storage and swaps
    BGR→RGB; top-down files (negative height) are handled too. Raises
    ValueError on anything malformed — a decode error must surface as
    a quarantinable failure, never as silently-wrong pixels."""
    b = bytes(content)
    if len(b) < _BMP_HEADER or b[:2] != b"BM":
        raise ValueError("not a BMP payload (bad magic or truncated header)")
    offset = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    hgt = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} compression={comp}")
    if w <= 0 or hgt == 0:
        raise ValueError(f"bad BMP dimensions: {w}x{hgt}")
    # A pixel offset inside (or before) the 54-byte header would decode
    # header bytes as pixels — malformed files must raise, never yield
    # silently wrong data.
    if offset < _BMP_HEADER or offset >= len(b):
        raise ValueError(f"bad BMP pixel-data offset {offset}")
    topdown = hgt < 0
    h = abs(hgt)
    stride = (w * 3 + 3) // 4 * 4
    if len(b) < offset + stride * h:
        raise ValueError("truncated BMP pixel data")
    data = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    bgr = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not topdown:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()


def synthesize_bmp_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format image fixtures: each document becomes
    a (id%5+2) × (id%3+2) 24-bit BMP whose RGB bytes tile the UTF-8
    text (byte j = text_byte[j mod len]; all-zero pixels for empty
    text). The pixel rule is SQL-replayable, so a DuckDB oracle can
    verify the full encode→decode roundtrip without ever parsing BMP —
    geometry and channel order included (see mm_bmp_roundtrip_stats)."""

    def encode(mid, text):
        w, h = mid % 5 + 2, mid % 3 + 2
        return encode_bmp24(_tiled_text(text, w * h * 3).reshape(h, w, 3))

    return _synthesize(docs, ("doc_id", "text"), encode)


def bmp_decode_stats(media: DataFrame) -> DataFrame:
    """Decode-stats over REAL BMP payloads: width/height come from the
    parsed header (not carried metadata), stats from the decoded RGB
    array, and `corner_value` is pixel (0, 0) RED — positionally
    sensitive, so a bottom-up flip or BGR-swap bug changes the answer
    (a mean alone would hide both). Malformed payloads surface as NULL
    stats with an error string rather than failing the batch — the
    quarantine contract of `parse_json_quarantine`, applied to media."""
    return _image_decode_stats(media, decode_bmp24).drop("channels", "last_value")


# ----------------------------------------------------------- real codec: WAV

# The AUDIO branch's real decoder: RIFF/WAVE PCM is a chunked container
# with int16 little-endian samples — parseable with numpy alone, like
# BMP for images (and Y4M for video, below). Any PCM-16 WAV from any
# producer decodes here.


def encode_wav16(
    samples: np.ndarray, sample_rate: int = 16000
) -> bytes:
    """Serialize int16 PCM samples — shape (n,) mono or (n, channels)
    interleaved — as a canonical 44-byte-header RIFF/WAVE file."""
    import struct

    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError(f"expected (n,) or (n, channels) samples, got {s.shape}")
    n, ch = s.shape
    data = s.reshape(-1).tobytes()  # interleaved LE
    block_align = ch * 2
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, ch, sample_rate,
        sample_rate * block_align, block_align, 16,
        b"data", len(data),
    )
    return header + data


def decode_wav16(
    content: bytes | bytearray | memoryview,
) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE PCM-16 payload into ((n, channels) int16
    array, sample_rate). Walks the chunk list (so files with extra
    LIST/fact chunks decode too), validates the format tag and bit
    depth, and raises ValueError on anything malformed — decode errors
    must surface as quarantinable failures, never as garbage samples."""
    b = bytes(content)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (bad RIFF/WAVE magic)")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        if cid == b"fmt ":
            # A duplicate fmt/data chunk means a corrupt or concatenated
            # RIFF file — raise (quarantinable) instead of silently
            # decoding only the LAST chunk, matching the PNG decoder's
            # duplicate-IHDR strictness.
            if fmt is not None:
                raise ValueError("duplicate fmt chunk in WAV payload")
            fmt = body
        elif cid == b"data":
            if data is not None:
                raise ValueError("duplicate data chunk in WAV payload")
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if not ((audio_format == 1 and bits == 16) or (audio_format == 7 and bits == 8)):
        raise ValueError(
            f"unsupported WAV variant: format={audio_format} bits={bits} "
            "(PCM-16 and 8-bit G.711 mu-law supported)"
        )
    if channels < 1:
        raise ValueError(f"bad channel count {channels}")
    if sample_rate < 1:
        raise ValueError(f"bad sample rate {sample_rate}")
    bytes_per_sample = 2 if audio_format == 1 else 1
    if len(data) % (bytes_per_sample * channels):
        raise ValueError(
            f"WAV data length {len(data)} is not a whole number of "
            f"{channels}-channel frames (trailing partial frame)"
        )
    if len(data) == 0:
        return np.zeros((0, channels), dtype=np.int16), sample_rate
    if audio_format == 7:
        arr = mulaw_decode(np.frombuffer(data, dtype=np.uint8))
    else:
        arr = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
    return arr.reshape(-1, channels).copy(), sample_rate


# The COMPRESSED audio branch's real codec: ITU-T G.711 mu-law is the
# classic 2:1 companding format (WAVE_FORMAT_MULAW, tag 7) — telephony
# and speech corpora ship it inside ordinary WAV containers, and the
# transform is pure integer math (the public-domain Sun g711.c
# algorithm), so no library seam is needed. decode_wav16 expands tag-7
# files transparently, which means wav_decode_stats / resample_wav and
# every downstream audio operator consume mu-law payloads unchanged.

_MULAW_BIAS = 0x84
_MULAW_CLIP = 32635


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """Expand G.711 mu-law bytes to linear int16 (vectorized)."""
    u = (~np.asarray(codes, dtype=np.uint8)).astype(np.int32) & 0xFF
    t = (((u & 0x0F) << 3) + _MULAW_BIAS) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, _MULAW_BIAS - t, t - _MULAW_BIAS).astype(np.int16)


def mulaw_encode(samples: np.ndarray) -> np.ndarray:
    """Compress linear int16 to G.711 mu-law bytes (vectorized).
    Round-trip law: mulaw_encode(mulaw_decode(c)) == c for every code
    except 0x7F (negative zero re-encodes as positive zero 0xFF) —
    pinned by tests/test_multimodal.py."""
    s = np.asarray(samples, dtype=np.int32)
    sign = np.where(s < 0, 0x80, 0)
    mag = np.minimum(np.abs(s), _MULAW_CLIP) + _MULAW_BIAS
    # exponent = position of the highest set bit above bit 7 (mag is
    # in [132, 32767], so log2 is exact enough for integer floor)
    exponent = np.clip(np.floor(np.log2(mag)).astype(np.int32) - 7, 0, 7)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return (~(sign | (exponent << 4) | mantissa) & 0xFF).astype(np.uint8)


def encode_wav_mulaw(samples: np.ndarray) -> bytes:
    """Serialize int16 samples — (n,) mono or (n, channels) — as a
    REAL compressed WAV: G.711 mu-law companding (format tag 7, 8 bits
    per sample, 2:1 vs PCM-16) at G.711's 8 kHz. Any telephony-grade WAV reader plays
    the output; `decode_wav16` expands it back transparently."""
    import struct

    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError(f"expected (n,) or (n, channels) samples, got {s.shape}")
    ch = s.shape[1]
    data = mulaw_encode(s.reshape(-1)).tobytes()
    block_align = ch  # one byte per sample per channel
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 7, ch, 8000,
        8000 * block_align, block_align, 8,
        b"data", len(data),
    )
    return header + data


def synthesize_mulaw_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL compressed-audio fixtures: each document
    becomes a mono G.711 mu-law WAV (format tag 7, 8 kHz) of
    (id%50+10) samples, sample j = mulaw_decode(text_byte[j mod len])
    — i.e. the tiled text bytes are treated as mu-law CODES, so every
    synthesized sample sits exactly on the mu-law codebook and the
    compress→expand roundtrip is lossless (encode∘decode is the
    identity on codes up to the 0x7F/0xFF negative-zero alias, and
    both aliases decode to 0). The Sun-g711.c decode formula is pure
    integer math, so a DuckDB oracle replays it value-for-value
    (mm_mulaw_roundtrip_stats) — putting the G.711 expansion inside
    decode_wav16 under the driver's hash gate, not just pytest."""
    return _synthesize(
        docs, ("doc_id", "text"),
        lambda mid, text: encode_wav_mulaw(
            mulaw_decode(_tiled_text(text, mid % 50 + 10))
        ),
    )


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format audio fixtures: each document becomes
    a mono PCM-16 WAV of (id%50+10) samples at 8/12/16 kHz (id%3),
    sample j = (text_byte[j mod len] - 128) * 256 (all-zero for empty
    text; the 256 scale keeps every value inside int16 — byte 0 maps
    to -32768 exactly). The sample rule is SQL-replayable, so a DuckDB
    oracle verifies the encode→decode roundtrip without parsing WAV
    (see mm_wav_roundtrip_stats)."""
    return _synthesize(
        docs, ("doc_id", "text"),
        lambda mid, text: encode_wav16(*_fixture_pcm(mid, text)),
    )


def _fixture_pcm(mid: int, text) -> tuple[np.ndarray, int]:
    """The WAV/FLAC fixture rule: mono, (id%50+10) samples at
    8/12/16 kHz (id%3), sample j = (text_byte[j mod len] - 128) * 256,
    all zero for empty text."""
    n = mid % 50 + 10
    rate = 8000 + (mid % 3) * 4000
    if not (isinstance(text, str) and text):
        return np.zeros(n, dtype=np.int16), rate
    tiled = _tiled_text(text, n).astype(np.int32)
    return ((tiled - 128) * 256).astype(np.int16), rate


def wav_decode_stats(media: DataFrame) -> DataFrame:
    """Decode-stats over REAL WAV payloads: rate/shape from the parsed
    header, stats over the decoded samples, and `first_sample` as a
    positional probe (an endianness or interleave bug changes it).
    Malformed payloads quarantine as decode_error rows — same contract
    as `bmp_decode_stats`."""
    return _audio_decode_stats(media, decode_wav16).drop("last_sample")


def _audio_decode_stats(media: DataFrame, decode_fn) -> DataFrame:
    """Shared decode-stats kernel for the audio decoders (WAV, FLAC):
    parsed rate/shape, value stats, first/last sample probes (NULL for
    a zero-sample payload), NULL row + error string on ValueError."""

    def row(mid, content):
        arr, rate = decode_fn(_payload(content))
        if arr.ndim == 1:
            arr = arr[:, None]
        flat = arr.reshape(-1)
        probes = (
            (float(flat.mean()), int(flat.min()), int(flat.max()),
             int(flat[0]), int(flat[-1]))
            if flat.size else (None,) * 5
        )
        return [(int(mid), rate, int(arr.shape[0]), int(arr.shape[1]), *probes, None)]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, sample_rate int, n_samples long, channels int, "
        "mean_value double, min_value int, max_value int, "
        "first_sample int, last_sample int, decode_error string",
        row, (None,) * 8,
    )


# ----------------------------------------------------------- real codec: Y4M

# The VIDEO branch's real decoder: YUV4MPEG2 ("Y4M") is the standard
# uncompressed video interchange container (ffmpeg/mjpegtools read and
# write it): an ASCII parameter header, then per-frame "FRAME\n"
# markers followed by raw planar pixel data. Dependency-free by
# construction — with this, all three media branches (image/audio/
# video) run real formats; only inter-frame compressed video still
# needs a codec library.


def encode_y4m(
    frames: np.ndarray, fps: tuple[int, int] = (25, 1), colorspace: str = "mono"
) -> bytes:
    """Serialize (n_frames, h, w) uint8 luma frames as YUV4MPEG2.
    ``colorspace='mono'`` writes one Y plane per frame; ``'420'``
    appends flat 128-valued chroma planes (gray video) — both forms
    are real files any Y4M consumer plays."""
    f = np.asarray(frames, dtype=np.uint8)
    if f.ndim != 3:
        raise ValueError(f"expected (n_frames, h, w) luma array, got {f.shape}")
    n, h, w = f.shape
    if colorspace == "mono":
        cs, chroma = b"Cmono", b""
    elif colorspace == "420":
        if h % 2 or w % 2:
            raise ValueError("C420 needs even dimensions")
        cs = b"C420jpeg"
        chroma = bytes([128]) * ((h // 2) * (w // 2) * 2)
    else:
        raise ValueError(f"unsupported colorspace {colorspace!r}")
    header = b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 %s\n" % (w, h, *fps, cs)
    out = [header]
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(f[i].tobytes())
        out.append(chroma)
    return b"".join(out)


def decode_y4m(
    content: bytes | bytearray | memoryview,
) -> tuple[np.ndarray, tuple[int, int]]:
    """Parse a YUV4MPEG2 stream into ((n_frames, h, w) uint8 LUMA
    array, (fps_num, fps_den)). Supports Cmono and C420* colorspaces
    (chroma planes are skipped — the luma is what the analysis
    kernels consume); raises ValueError on malformed headers, unknown
    colorspaces, or truncated frames."""
    b = bytes(content)
    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a Y4M payload (bad YUV4MPEG2 signature)")
    w = h = None
    fps = (25, 1)
    cs = "420"
    for tok in b[:nl].split()[1:]:
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            num, den = val.split(":")
            fps = (int(num), int(den))
        elif tag == "C":
            cs = val
    if not w or not h or w <= 0 or h <= 0:
        raise ValueError("Y4M header missing W/H")
    if cs == "mono":
        chroma_bytes = 0
    elif cs.startswith("420"):
        if h % 2 or w % 2:
            raise ValueError("C420 with odd dimensions")
        chroma_bytes = (h // 2) * (w // 2) * 2
    elif cs.startswith("444"):
        chroma_bytes = h * w * 2
    else:
        raise ValueError(f"unsupported Y4M colorspace {cs!r}")
    luma_bytes = h * w
    frames = []
    pos = nl + 1
    while pos < len(b):
        fnl = b.find(b"\n", pos)
        if fnl < 0 or not b[pos : pos + 5] == b"FRAME":
            raise ValueError("bad Y4M frame marker")
        pos = fnl + 1
        end = pos + luma_bytes
        if end + chroma_bytes > len(b):
            raise ValueError("truncated Y4M frame")
        frames.append(
            np.frombuffer(b, dtype=np.uint8, count=luma_bytes, offset=pos).reshape(
                h, w
            )
        )
        pos = end + chroma_bytes
    return (
        np.stack(frames) if frames else np.zeros((0, h, w), dtype=np.uint8),
        fps,
    )


def synthesize_y4m_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format video fixtures: each document becomes
    a (id%4+1)-frame mono Y4M clip of (id%5+2) × (id%3+2) pixels whose
    luma tiles the UTF-8 text across ALL frames (byte j of the
    concatenated frame data = text_byte[j mod len]; zeros for empty
    text). SQL-replayable, so a DuckDB oracle verifies the
    encode→decode roundtrip (see mm_y4m_frame_stats)."""

    def encode(mid, text):
        nf, w, h = mid % 4 + 1, mid % 5 + 2, mid % 3 + 2
        return encode_y4m(_tiled_text(text, nf * h * w).reshape(nf, h, w))

    return _synthesize(docs, ("doc_id", "text"), encode)


def y4m_frame_stats(media: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL frame sampling: decode each Y4M payload, keep every
    ``every_n``-th frame, emit one row per KEPT frame with its luma
    stats — the 1→N fan-out a production keyframe pass has, running
    an actual container parse. `first_pixel` is the
    frame's (0,0) luma: positionally sensitive to frame-boundary bugs.
    Malformed payloads emit a single frame_index=-1 row with
    decode_error set (the quarantine contract — corrupt clips must
    be visible, not vanish from a 1→N operator)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    return _frame_stats_op(media, lambda b: decode_y4m(b)[0], every_n, -1)


def _frame_stats(luma: np.ndarray) -> tuple:
    """(width, height, mean_value, first_pixel) of one (h, w) luma
    frame — the per-frame stats every frame-stats operator emits;
    first_pixel rounds half-up (exact for integer lumas)."""
    h, w = luma.shape
    return w, h, float(luma.mean()), int(np.floor(luma[0, 0] + 0.5))


def _frame_stats_op(media: DataFrame, decode_lumas, every_n: int, bad_index) -> DataFrame:
    """One `_frame_stats` row per kept frame of the (n, h, w) luma
    stack ``decode_lumas(payload)`` returns; a clip that fails to
    decode quarantines as ONE row with frame_index ``bad_index``."""

    def row(mid, content):
        lumas = decode_lumas(_payload(content))
        return [
            (int(mid), i, *_frame_stats(lumas[i]), None)
            for i in range(0, len(lumas), every_n)
        ]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, frame_index int, width int, height int, "
        "mean_value double, first_pixel int, decode_error string",
        row, (bad_index, None, None, None, None),
    )


def resize_bmp(media: DataFrame, out_width: int, out_height: int) -> DataFrame:
    """REAL image resize: decode each BMP, nearest-neighbor resample
    the RGB grid to (out_height, out_width), re-encode as BMP — the
    output payloads are themselves valid BMP files, so this composes
    with every other real-path operator (decode-stats the output,
    re-resize it, ship it). Vectorized per image (one fancy-index per
    axis); corrupt inputs quarantine as NULL content + decode_error,
    mirroring `bmp_decode_stats`."""
    if out_width <= 0 or out_height <= 0:
        raise ValueError(f"bad target size {out_width}x{out_height}")

    def row(mid, content):
        px = decode_bmp24(_payload(content))
        h, w = px.shape[:2]
        resized = px[_nn_index(h, out_height)][:, _nn_index(w, out_width)]
        return [(int(mid), out_width, out_height, encode_bmp24(resized), None)]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, width int, height int, content binary, decode_error string",
        row, (None, None, None),
    )


def resample_wav(media: DataFrame, target_rate: int) -> DataFrame:
    """REAL audio resample (nearest-sample / zero-order hold): decode
    each WAV, pick source frames at the target grid's time centers,
    re-encode at ``target_rate``. Output payloads are valid WAV files.
    No interpolation — nearest-sample keeps the kernel exact-integer
    (deterministic across platforms) and is the standard cheap path
    for feature pipelines that only need a uniform rate."""
    if target_rate <= 0:
        raise ValueError(f"bad target_rate {target_rate}")

    def row(mid, content):
        arr, rate = decode_wav16(_payload(content))
        n = arr.shape[0]
        # floor(x + 0.5) half-up, NOT Python round(): banker's
        # rounding diverges from SQL engines on exact .5 ties
        # (round(10.5) = 10 vs DuckDB/Spark 11), and the output
        # length must be oracle-replayable cross-engine.
        out_n = int(n * target_rate / rate + 0.5) if n else 0
        res = arr[_nn_index(n, out_n)] if out_n else arr[:0]
        return [(int(mid), target_rate, int(res.shape[0]),
                 encode_wav16(res, target_rate), None)]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, sample_rate int, n_samples long, content binary, "
        "decode_error string",
        row, (None, None, None),
    )


def _frames_to_bmp(media: DataFrame, every_n: int, decode_fn, to_rgb) -> DataFrame:
    """Shared video→image bridge kernel: decode a clip with
    ``decode_fn``, keep every ``every_n``-th frame, convert each via
    ``to_rgb`` (frame → (h, w, 3) uint8) and emit it as a standalone
    24-bit BMP. Corrupt clips quarantine as a frame_index=-1 row.
    Both public bridges (Y4M, MJPEG) wrap this with their codec's
    decode/convert pair, so the sampling semantics, output schema and
    quarantine contract can never diverge between formats."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def row(mid, content):
        frames, _fps = decode_fn(_payload(content))
        rgbs = [(i, to_rgb(frames[i])) for i in range(0, frames.shape[0], every_n)]
        return [
            (int(mid), i, rgb.shape[1], rgb.shape[0], encode_bmp24(rgb), None)
            for i, rgb in rgbs
        ]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, frame_index int, width int, height int, "
        "content binary, decode_error string",
        row, (-1, None, None, None),
    )


def y4m_frames_to_bmp(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Video → image bridge: decode each Y4M clip, keep every
    ``every_n``-th frame, emit each as a standalone 24-bit BMP
    (grayscale luma replicated across RGB). The 1→N output rows feed
    the IMAGE pipeline unchanged — `bmp_decode_stats`, `resize_bmp`,
    `bmp_features` — because the payloads are real BMP files, not an
    internal representation. Corrupt clips quarantine as a
    frame_index=-1 row."""
    return _frames_to_bmp(
        media,
        every_n,
        decode_y4m,
        lambda luma: np.repeat(luma[:, :, None], 3, axis=2),
    )


# ----------------------------------------------------------- real codec: PNG

# The COMPRESSED image branch's real decoder: PNG is DEFLATE-compressed
# filtered scanlines inside CRC-checked chunks, and `zlib` ships in the
# Python stdlib — so unlike H.264 (which genuinely needs a codec
# library like av), a complete non-interlaced PNG codec is
# dependency-free. This closes the "compressed codecs are library
# seams" gap for one real compressed format: chunk walk with CRC32
# verification, zlib inflate, and all five scanline filters
# (None/Sub/Up/Average/Paeth) reconstructed per the PNG spec.
# Supported slice: bit depth 8, color types 0/2/4/6 (gray, RGB,
# gray+alpha, RGBA), no Adam7 interlace — the dominant layout for
# ML-pipeline thumbnails. Palette/16-bit/interlaced files raise
# ValueError (quarantinable), they never decode silently wrong.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth_predict(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized PNG Paeth predictor over int32 inputs."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels: np.ndarray) -> bytes:
    """Serialize a (h, w) or (h, w, c) uint8 array (c = 1/2/3/4 →
    color type 0/4/2/6) as a real non-interlaced 8-bit PNG. The
    per-row filter type is chosen deterministically as
    ``(row * 7 + h) % 5`` — across the synthesized fixture corpus
    (h ∈ {2,3,4}) every one of the five PNG filters appears, so the
    decoder's full reconstruction surface is exercised by the
    roundtrip oracle, not just the trivial None filter. Any standard
    PNG reader accepts the output (filter choice is encoder-free per
    the spec; it affects compression, never decoded pixels)."""
    import struct
    import zlib

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"expected (h, w, 1..4) uint8 array, got {px.shape}")
    h, w, ch = px.shape
    if h < 1 or w < 1:
        raise ValueError(f"bad PNG dimensions: {w}x{h}")
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = px.reshape(h, w * ch).astype(np.int32)
    zero = np.zeros(w * ch, dtype=np.int32)
    out = bytearray()
    for y in range(h):
        line = raw[y]
        prev = raw[y - 1] if y else zero
        left = np.concatenate([zero[:ch], line[:-ch]])
        upleft = np.concatenate([zero[:ch], prev[:-ch]])
        ftype = (y * 7 + h) % 5
        if ftype == 0:
            filt = line
        elif ftype == 1:
            filt = line - left
        elif ftype == 2:
            filt = line - prev
        elif ftype == 3:
            filt = line - (left + prev) // 2
        else:
            filt = line - _paeth_predict(left, prev, upleft)
        out.append(ftype)
        out += (filt % 256).astype(np.uint8).tobytes()
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(content: bytes | bytearray | memoryview) -> np.ndarray:
    """Parse a non-interlaced 8-bit PNG into an (h, w, channels) uint8
    array. Real decode work, not a header peek: walks the chunk stream
    verifying each CRC32, concatenates IDAT segments, zlib-inflates,
    and reconstructs every scanline per its filter byte — Sub via
    per-lane cumulative sum, Up vectorized, Average/Paeth by the
    spec's sequential recurrence (channel-vectorized per pixel; for
    megapixel production files hand this to a C codec via the PIL
    seam — this path's job is correctness and thumbnail scale).
    Raises ValueError on bad signature/CRC/length, unsupported depth/
    palette/interlace, or inflated size mismatch — malformed files
    quarantine, they never yield silently-wrong pixels."""
    import struct
    import zlib

    b = bytes(content)
    if len(b) < len(_PNG_SIG) or b[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    saw_iend = False
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > len(b):
            raise ValueError(f"truncated PNG chunk {tag!r}")
        data = b[pos + 8 : end]
        (crc,) = struct.unpack(">I", b[end : end + 4])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if ihdr is None and tag != b"IHDR":
            raise ValueError("PNG missing leading IHDR chunk")
        if tag == b"IHDR":
            if ihdr is not None:
                raise ValueError("duplicate PNG IHDR chunk")
            if len(data) != 13:
                raise ValueError(f"bad PNG IHDR length {len(data)} (want 13)")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            saw_iend = True
            break
        pos = end + 4
    if ihdr is None:
        raise ValueError("PNG missing leading IHDR chunk")
    if not saw_iend:
        raise ValueError("truncated PNG chunk stream (no IEND terminator)")
    if not idat:
        raise ValueError("PNG has no IDAT data")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color_type={color_type} "
            "(8-bit gray/RGB/gray+alpha/RGBA only; palette needs PLTE handling)"
        )
    if comp or filt:
        raise ValueError(f"bad PNG compression/filter method {comp}/{filt}")
    if interlace:
        raise ValueError("Adam7-interlaced PNG unsupported")
    if w < 1 or h < 1:
        raise ValueError(f"bad PNG dimensions: {w}x{h}")
    ch = _PNG_CHANNELS[color_type]
    stride = w * ch
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from None
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG inflated size {len(raw)} != expected {h * (1 + stride)}"
        )
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    recon = np.zeros((h, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = int(lines[y, 0])
        line = lines[y, 1:].astype(np.int32)
        prev = recon[y - 1].astype(np.int32) if y else zero
        if ftype == 0:
            row = line
        elif ftype == 1:
            row = np.cumsum(line.reshape(w, ch), axis=0, dtype=np.int64) % 256
            row = row.reshape(stride)
        elif ftype == 2:
            row = line + prev
        elif ftype in (3, 4):
            row = np.empty(stride, dtype=np.int32)
            left = np.zeros(ch, dtype=np.int32)
            upleft = np.zeros(ch, dtype=np.int32)
            for x in range(0, stride, ch):
                up = prev[x : x + ch]
                if ftype == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth_predict(left, up, upleft)
                left = (line[x : x + ch] + pred) % 256
                upleft = up
                row[x : x + ch] = left
        else:
            raise ValueError(f"bad PNG filter type {ftype} on row {y}")
        recon[y] = (row % 256).astype(np.uint8)
    return recon.reshape(h, w, ch)


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-compressed-format image fixtures: each
    document becomes a (id%4+2) × (id%3+2) 8-bit RGB PNG whose pixel
    bytes tile the UTF-8 text (byte j = text_byte[j mod len]; zeros
    for empty text) — the same SQL-replayable rule as the BMP/WAV/Y4M
    fixtures, so a DuckDB oracle verifies the full
    compress→chunk→inflate→unfilter roundtrip without parsing PNG
    (see mm_png_roundtrip_stats)."""

    def encode(mid, text):
        w, h = mid % 4 + 2, mid % 3 + 2
        return encode_png(_tiled_text(text, w * h * 3).reshape(h, w, 3))

    return _synthesize(docs, ("doc_id", "text"), encode)


def png_decode_stats(media: DataFrame) -> DataFrame:
    """Decode-stats over REAL PNG payloads: geometry and channel count
    come from the parsed IHDR, stats from the fully reconstructed
    pixel array. Two positional probes pin the decode: `corner_value`
    (pixel (0,0) channel 0 — the first reconstructed byte) and
    `last_value` (pixel (h-1, w-1) last channel — the final byte,
    which is only correct if EVERY row's inflate + filter
    reconstruction upstream of it was). Malformed payloads surface as
    NULL stats with an error string (quarantine contract), never a
    batch failure."""
    return _image_decode_stats(media, decode_png)


def transcode_image(media: DataFrame, target: str = "png") -> DataFrame:
    """Image format normalization — the standard corpus-prep step that
    turns a MIXED image column (BMP, PNG, QOI and JPEG payloads side
    by side) into one uniform format before training ingest. Sniffs
    each payload's magic (no metadata trusted), decodes with the
    matching real codec, re-encodes to ``target`` ('png', 'bmp',
    'qoi' or 'jpeg'); outputs are themselves valid files that feed
    every downstream image operator. Grayscale promotes to RGB for
    the BMP/QOI targets (BMP24 is 3-channel, QOI is 3/4); gray+alpha
    promotes to RGBA for QOI (lossless); alpha-bearing images
    quarantine on the BMP and JPEG targets rather than silently
    dropping the alpha plane. The JPEG target is the one LOSSY
    normalization (baseline q=90) — the others preserve decoded
    pixels exactly. Map-only mapInPandas over Arrow batches — payload
    bytes never shuffle. Corrupt/unknown payloads emit NULL content
    with a decode_error (quarantine contract)."""
    if target not in ("png", "bmp", "qoi", "jpeg"):
        raise ValueError(
            f"target must be 'png', 'bmp', 'qoi' or 'jpeg', got {target!r}"
        )
    from .jpeg import encode_jpeg

    def row(mid, content):
        src, px = _sniff_decode_image(_payload(content))
        if target == "bmp":
            if px.shape[2] == 1:
                px = np.repeat(px, 3, axis=2)
            elif px.shape[2] != 3:
                raise ValueError(
                    f"cannot transcode {px.shape[2]}-channel image "
                    "to BMP24 without discarding alpha"
                )
            out = encode_bmp24(px)
        elif target == "qoi":
            if px.shape[2] == 1:
                px = np.repeat(px, 3, axis=2)
            elif px.shape[2] == 2:
                px = np.concatenate(
                    [np.repeat(px[:, :, :1], 3, axis=2), px[:, :, 1:]], axis=2
                )
            out = encode_qoi(px)
        elif target == "jpeg":
            # Lossy target: alpha has no JPEG representation —
            # quarantine rather than silently dropping it (mirrors the
            # BMP target's alpha contract).
            if px.shape[2] not in (1, 3):
                raise ValueError(
                    f"cannot transcode {px.shape[2]}-channel "
                    "image to JPEG without discarding alpha"
                )
            out = encode_jpeg(px)
        else:
            out = encode_png(px)
        return [(int(mid), out, src, None)]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, content binary, src_format string, decode_error string",
        row, (None, None),
    )


def _sniff_decode_image(b: bytes) -> tuple[str, np.ndarray]:
    """Magic-sniffed decode across every real image codec (BMP / PNG /
    QOI / JPEG) — the shared front door of `transcode_image` and
    `image_features`. Raises ValueError for unknown/corrupt payloads."""
    from .jpeg import decode_jpeg

    if b[: len(_PNG_SIG)] == _PNG_SIG:
        return "png", decode_png(b)
    if b[:4] == _QOI_MAGIC:
        return "qoi", decode_qoi(b)
    if b[:2] == b"BM":
        return "bmp", decode_bmp24(b)
    if b[:2] == b"\xff\xd8":
        return "jpeg", decode_jpeg(b)
    raise ValueError("unknown image format (not BMP, PNG, QOI or JPEG)")


def _features_kernel(media: DataFrame, dim: int, decode_fn) -> DataFrame:
    """Shared luma-bucket featurizer behind `bmp_features` /
    `image_features`: luma = mean of the color channels (alpha
    excluded), scanline order split into ``dim`` buckets,
    L2-normalized bucket means as `array<float>`."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    def row(mid, content):
        px = decode_fn(_payload(content))
        color = px[:, :, : min(3, px.shape[2])]
        luma = color.astype(np.float32).mean(axis=2).reshape(-1)
        return [(int(mid), _bucket_features(luma, dim), None)]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, features array<float>, decode_error string",
        row, (None,),
    )


def bmp_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """REAL image featurizer: decode each BMP, split the luma
    (mean-of-RGB) scanline order into ``dim`` buckets, emit the
    L2-normalized bucket means as `array<float>` — shaped exactly like
    `extract_features` so the output drops into the similarity-search
    operators (brute_force_topk / LSH / IVF) as an embedding column.
    Corrupt payloads emit NULL features + decode_error — FILTER them
    (``decode_error IS NULL``) before feeding an ANN operator: the
    LSH/IVF paths drop NULL vectors themselves, but brute_force_topk
    only sorts NULL cosines last and could surface a corrupt row as a
    padding neighbor when k exceeds the valid candidates. For MIXED
    image corpora use `image_features` (same kernel, sniffed
    decode)."""
    return _features_kernel(media, dim, decode_bmp24)


def image_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """`bmp_features` for MIXED image corpora: sniffs each payload's
    magic and decodes with the matching real codec (BMP/PNG/QOI/JPEG),
    so any image column feeds the ANN operators without a prior
    transcode pass. Same luma-bucket kernel, same `array<float>`
    shape, same quarantine contract — and the same bucket values for
    the same pixels regardless of which format carried them (pinned
    by test: a PNG and a BMP of one image featurize identically;
    JPEG's lossy pixels differ only by its decode error)."""
    return _features_kernel(
        media, dim, lambda b: _sniff_decode_image(b)[1]
    )


# 64 angle-diverse (top, bottom) gray pairs for the feature-ANN
# fixture (`synthesize_feature_image_media`). Every pair is VERIFIED
# (tests/test_multimodal.py::test_feature_pairs_quantize_safely) to
# quantize identically under (a) the real float32 featurizer kernel
# and (b) the oracle's double-precision closed form
# a / sqrt(8a^2 + 8b^2), with the quantization boundary margin > 0.02
# — ~300x the worst float32-vs-double drift — so the DuckDB oracle
# can replay the features as integers without modeling float32
# arithmetic. Regenerate with a margin sweep if the kernel changes.
FEATURE_PAIRS: tuple[tuple[int, int], ...] = (
    (245, 5), (246, 11), (203, 14), (139, 13), (144, 17), (253, 36),
    (173, 29), (192, 37), (133, 29), (152, 37), (141, 38), (186, 55),
    (149, 48), (229, 80), (207, 78), (247, 100), (180, 78), (227, 105),
    (197, 97), (218, 114), (249, 138), (162, 95), (184, 114), (231, 151),
    (225, 155), (142, 103), (249, 190), (182, 146), (191, 161), (253, 224),
    (199, 185), (250, 244), (163, 167), (119, 128), (170, 192), (204, 242),
    (142, 177), (100, 131), (140, 193), (175, 254), (121, 185), (158, 255),
    (78, 133), (97, 175), (91, 174), (65, 132), (68, 147), (101, 233),
    (83, 205), (75, 199), (87, 249), (80, 248), (42, 142), (62, 230),
    (61, 250), (41, 188), (48, 249), (28, 167), (36, 252), (30, 254),
    (16, 171), (17, 246), (9, 201), (5, 245),
)


def synthesize_feature_image_media(docs: DataFrame) -> DataFrame:
    """Deterministic MIXED-FORMAT image fixtures for the media→ANN
    composition: each document becomes a 16x8 grayscale image whose
    top 8 rows hold gray ``a`` and bottom 8 rows gray ``b`` with
    ``(a, b) = FEATURE_PAIRS[doc_id % 64]``, carried by the codec
    ``doc_id % 4`` selects — BMP24 / PNG / QOI / baseline JPEG (the
    DC8 bit-exact regime; both 8x8 blocks are constant, so decode is
    lossless). With dim=16 luma buckets each bucket covers exactly one
    scanline row, so `image_features` yields the closed-form vector
    [a..a, b..b] / sqrt(8a^2+8b^2) REGARDLESS of which codec carried
    the pixels — the format-blindness the ANN front door needs."""
    from .jpeg import DC8_QTABLE, encode_jpeg

    def encode(mid):
        a, b = FEATURE_PAIRS[mid % 64]
        gray = np.repeat(
            np.array([[a], [b]], dtype=np.uint8), 8, axis=0
        ).repeat(8, axis=1)  # (16, 8)
        fmt = mid % 4
        if fmt == 3:
            return encode_jpeg(gray, qtables=(DC8_QTABLE, DC8_QTABLE))
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        return (encode_bmp24, encode_png, encode_qoi)[fmt](rgb)

    return _synthesize(docs, ("doc_id",), encode)


# ----------------------------------------------------------- real codec: QOI

# A SECOND real compressed image format: QOI ("Quite OK Image",
# qoiformat.org — public-domain spec) is a byte-oriented lossless
# format whose whole codec is ~60 lines of integer logic: a 64-slot
# running color index, small per-channel diffs, a luma-relative diff,
# run-length packing, and raw RGB(A) literals. Unlike PNG (whose
# compression lives in zlib's C DEFLATE), QOI's compression IS the
# algorithm — so this codec exercises a real compressed bitstream
# end-to-end in pure Python/stdlib with no library seam at all.
# Supported: channels 3/4, colorspace byte 0/1, exactly as the spec.
#
# Throughput regime, stated honestly: encode/decode here are per-PIXEL
# Python loops (QOI's index/run state is inherently sequential), so
# they are the semantic REFERENCE and fixture-scale verifier — roughly
# two orders slower per byte than PNG's C-zlib path. A 100 TB corpus
# of real QOI assets would bind a native decoder as the row function
# of the `_per_row` kernel (schema, batching, quarantine unchanged);
# the oracle-checked roundtrip here is what makes that swap safe.

_QOI_MAGIC = b"qoif"
_QOI_END = b"\x00" * 7 + b"\x01"


def _qoi_hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3|4) uint8 array as a QOI file (spec v1.0:
    14-byte header, op stream, 8-byte end marker). Deterministic: the
    encoder always prefers INDEX, then DIFF, then LUMA, then RGB(A) —
    the spec's reference strategy — so the bitstream is reproducible
    across runs and engines."""
    import struct

    if pixels.ndim != 3 or pixels.shape[2] not in (3, 4):
        raise ValueError(f"expected (h, w, 3|4) array, got {pixels.shape}")
    h, w, ch = pixels.shape
    out = bytearray(struct.pack(">4sIIBB", _QOI_MAGIC, w, h, ch, 0))
    px = pixels.astype(np.int32)
    flat = px.reshape(-1, ch)
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    for row in flat:
        if ch == 3:
            r, g, b, a = int(row[0]), int(row[1]), int(row[2]), pa
        else:
            r, g, b, a = int(row[0]), int(row[1]), int(row[2]), int(row[3])
        if (r, g, b, a) == (pr, pg, pb, pa):
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        ih = _qoi_hash(r, g, b, a)
        if index[ih] == (r, g, b, a):
            out.append(ih)
        else:
            index[ih] = (r, g, b, a)
            if a == pa:
                dr = r - pr
                dg = g - pg
                db = b - pb
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
                elif (
                    -32 <= dg <= 31
                    and -8 <= dr - dg <= 7
                    and -8 <= db - dg <= 7
                ):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out.append(0xFE)
                    out += bytes((r, g, b))
            else:
                out.append(0xFF)
                out += bytes((r, g, b, a))
        pr, pg, pb, pa = r, g, b, a
    if run:
        out.append(0xC0 | (run - 1))
    out += _QOI_END
    return bytes(out)


def decode_qoi(content: bytes | bytearray | memoryview) -> np.ndarray:
    """Parse a QOI payload into an (h, w, channels) uint8 array.
    Strict: bad magic, dims, channel/colorspace bytes, a stream that
    over- or under-produces pixels, a truncated op, or a missing end
    marker all raise ValueError — a decode error must surface as a
    quarantinable failure, never as silently-wrong pixels."""
    import struct

    b = bytes(content)
    if len(b) < 14 + len(_QOI_END) or b[:4] != _QOI_MAGIC:
        raise ValueError("not a QOI payload (bad magic or truncated header)")
    _, w, h, ch, cs = struct.unpack(">4sIIBB", b[:14])
    if w <= 0 or h <= 0:
        raise ValueError(f"bad QOI dimensions: {w}x{h}")
    if ch not in (3, 4) or cs not in (0, 1):
        raise ValueError(f"bad QOI channels/colorspace: {ch}/{cs}")
    if b[-len(_QOI_END):] != _QOI_END:
        raise ValueError("QOI end marker missing")
    n_px = w * h
    # Bound the allocation by what the op stream could possibly encode
    # (a RUN op covers at most 62 pixels per byte): a tiny corrupt
    # payload claiming 60000x60000 must raise ValueError here, not
    # MemoryError inside np.empty — MemoryError escapes the
    # ValueError-only quarantine contract and kills the whole batch.
    n_ops = len(b) - 14 - len(_QOI_END)
    if n_px > n_ops * 62:
        raise ValueError(
            f"QOI header claims {n_px} pixels but the op stream has "
            f"only {n_ops} bytes"
        )
    out = np.empty((n_px, 4), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r, g, bl, a = 0, 0, 0, 255
    pos, i, end = 14, 0, len(b) - len(_QOI_END)
    while i < n_px:
        if pos >= end:
            raise ValueError("truncated QOI op stream")
        op = b[pos]
        pos += 1
        if op == 0xFE:  # RGB
            if pos + 3 > end:
                raise ValueError("truncated QOI_OP_RGB")
            r, g, bl = b[pos], b[pos + 1], b[pos + 2]
            pos += 3
        elif op == 0xFF:  # RGBA
            if pos + 4 > end:
                raise ValueError("truncated QOI_OP_RGBA")
            r, g, bl, a = b[pos], b[pos + 1], b[pos + 2], b[pos + 3]
            pos += 4
        elif op >> 6 == 0:  # INDEX
            r, g, bl, a = index[op]
        elif op >> 6 == 1:  # DIFF
            r = (r + ((op >> 4) & 3) - 2) & 0xFF
            g = (g + ((op >> 2) & 3) - 2) & 0xFF
            bl = (bl + (op & 3) - 2) & 0xFF
        elif op >> 6 == 2:  # LUMA
            if pos >= end:
                raise ValueError("truncated QOI_OP_LUMA")
            dg = (op & 0x3F) - 32
            b2 = b[pos]
            pos += 1
            r = (r + dg + ((b2 >> 4) & 0xF) - 8) & 0xFF
            g = (g + dg) & 0xFF
            bl = (bl + dg + (b2 & 0xF) - 8) & 0xFF
        else:  # RUN
            run = (op & 0x3F) + 1
            if i + run > n_px:
                raise ValueError("QOI run overflows the pixel count")
            out[i : i + run] = (r, g, bl, a)
            i += run
            index[_qoi_hash(r, g, bl, a)] = (r, g, bl, a)
            continue
        index[_qoi_hash(r, g, bl, a)] = (r, g, bl, a)
        out[i] = (r, g, bl, a)
        i += 1
    if pos != end:
        raise ValueError("trailing bytes after the QOI op stream")
    return out.reshape(h, w, 4)[:, :, :ch].copy()


def synthesize_qoi_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format QOI fixtures: each document becomes a
    (id%4+2) × (id%3+2) RGB QOI image whose pixel bytes tile the UTF-8
    text (same rule as the PNG fixtures), so the SQL oracle can verify
    the full encode→decode roundtrip without parsing QOI — while the
    bitstream itself exercises INDEX/DIFF/LUMA/RGB/RUN ops (tiled text
    repeats colors, so the index and run paths really fire)."""

    def encode(mid, text):
        w, h = mid % 4 + 2, mid % 3 + 2
        return encode_qoi(_tiled_text(text, w * h * 3).reshape(h, w, 3))

    return _synthesize(docs, ("doc_id", "text"), encode)


def qoi_decode_stats(media: DataFrame) -> DataFrame:
    """Decode-stats over REAL QOI payloads — same probe surface as
    `png_decode_stats` (header-derived geometry, value stats, first
    and last byte probes), same quarantine contract for malformed
    payloads."""
    return _image_decode_stats(media, decode_qoi)


def _image_decode_stats(media: DataFrame, decode_fn) -> DataFrame:
    """Shared decode-stats kernel for the (h, w, ch) image decoders
    (PNG/QOI/JPEG; BMP drops `channels` and `last_value`): parsed
    geometry + value stats + first/last byte probes, NULL row + error
    string on ValueError (quarantine contract)."""

    def row(mid, content):
        px = decode_fn(_payload(content))
        h, w, ch = px.shape
        flat = px.reshape(-1)
        return [(
            int(mid), w, h, ch, int(flat.size), float(flat.mean()),
            int(flat.min()), int(flat.max()), int(px[0, 0, 0]),
            int(flat[-1]), None,
        )]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, width int, height int, channels int, "
        "n_pixel_bytes long, mean_value double, min_value int, "
        "max_value int, corner_value int, last_value int, "
        "decode_error string",
        row, (None,) * 9,
    )


# ---------------------------------------------------------- real codec: JPEG

# The LOSSY compressed image branch made real: baseline JPEG
# (DCT + Huffman, ITU-T T.81) in pure numpy + the shared bit I/O —
# see jpeg.py for the codec itself and its supported slice (encode
# 4:4:4/4:2:0 + restart markers; decode any baseline sampling
# layout). JPEG was previously a declared library seam ("needs
# PIL"); it no longer is. Lossiness and oracles: a
# block-constant image has only DC energy, and with a DC quant step
# of 8 the roundtrip is BIT-EXACT (jpeg.DC8_QTABLE) — the catalog
# fixture uses that regime so DuckDB can replay the full
# DCT→quantize→Huffman→decode pipeline value-for-value
# (mm_jpeg_roundtrip_stats); general-content tolerance bounds live in
# the pytest suite.


def synthesize_jpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-JPEG fixtures in the bit-exact regime: each
    document becomes a ((id%3+1)*8) × ((id%2+1)*8) grayscale baseline
    JPEG whose aligned 8x8 blocks are CONSTANT — block k (row-major)
    holds text byte ``k mod len`` (0 for empty text) — encoded with
    ``DC8_QTABLE`` so decode returns the exact block values (module
    comment above), and with ``restart_interval=2`` so DRI/RSTn
    parsing is exercised inside the oracle-checked path. The block
    rule is SQL-replayable without parsing JPEG."""
    from .jpeg import DC8_QTABLE, encode_jpeg

    def encode(mid, text):
        bx, by = mid % 3 + 1, mid % 2 + 1
        vals = _tiled_text(text, bx * by).reshape(by, bx)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        return encode_jpeg(
            img, qtables=(DC8_QTABLE, DC8_QTABLE), restart_interval=2
        )

    return _synthesize(docs, ("doc_id", "text"), encode)


def jpeg_decode_stats(media: DataFrame) -> DataFrame:
    """Decode-stats over REAL baseline-JPEG payloads — same probe
    surface and quarantine contract as `png_decode_stats`, with the
    full entropy-decode + dequant + IDCT pipeline behind it."""
    from .jpeg import decode_jpeg

    return _image_decode_stats(media, decode_jpeg)


# ---------------------------------------------------------- real codec: FLAC

# The compressed-audio branch's LOSSLESS codec made real: FLAC
# (xiph.org open spec) in pure numpy + the shared bit I/O — fixed
# predictors + Rice coding on encode; constant/verbatim/fixed/LPC
# subframes, all stereo decorrelation modes, rice partitions and
# CRC-8/CRC-16/MD5 verification on decode (see flac.py). FLAC was
# previously a declared library seam ("needs soundfile"); it no
# longer is. Unlike G.711 mu-law (compressed but lossy), FLAC
# roundtrips are bit-exact, so the catalog pins the full
# predict→rice→CRC pipeline against the same SQL sample rule as the
# PCM WAV path (mm_flac_roundtrip_stats).


def synthesize_flac_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-FLAC fixtures: the SAME sample rule as the
    WAV fixtures — mono, (id%50+10) samples at 8/12/16 kHz (id%3),
    sample j = (text_byte[j mod len] - 128) * 256 — losslessly
    FLAC-encoded. Tiled text repeats, so the fixed predictors and the
    CONSTANT path genuinely fire across the corpus. Sharing the WAV
    rule means the SQL oracle replays the whole
    predict→rice→CRC→decode roundtrip without parsing FLAC."""
    from .flac import encode_flac

    return _synthesize(
        docs, ("doc_id", "text"),
        lambda mid, text: encode_flac(*_fixture_pcm(mid, text)),
    )


def transcode_audio(media: DataFrame, target: str = "wav") -> DataFrame:
    """Audio format normalization — `transcode_image`'s audio sibling:
    turns a MIXED audio column (PCM-16 WAV, G.711 mu-law WAV and FLAC
    payloads side by side) into one uniform format before training
    ingest. Sniffs each payload's magic (RIFF vs fLaC — no metadata
    trusted), decodes with the matching real codec (mu-law expands
    transparently inside `decode_wav16`), re-encodes to ``target``
    ('wav' = PCM-16 RIFF, 'flac' = lossless FLAC). Sample values are
    preserved exactly on both targets (mu-law sources were already
    expanded to linear by decode). Outputs are themselves valid files:
    FLAC corpora reach `resample_wav` and every other WAV-consuming
    operator through ``transcode_audio(media, 'wav')``. Map-only
    mapInPandas; payload bytes never shuffle; corrupt/unknown payloads
    quarantine as NULL content + decode_error."""
    if target not in ("wav", "flac"):
        raise ValueError(f"target must be 'wav' or 'flac', got {target!r}")
    from .flac import decode_flac, encode_flac

    def row(mid, content):
        b = _payload(content)
        if b[:4] == b"RIFF":
            arr, rate = decode_wav16(b)
            src = "wav"
        elif b[:4] == b"fLaC":
            arr, rate = decode_flac(b)
            src = "flac"
            if arr.dtype != np.int16:
                # Both targets re-encode at 16 bits; a deeper source
                # would silently change values (wav) or depth (flac) —
                # quarantine
                raise ValueError(
                    "only 16-bit FLAC is supported in the "
                    "PCM-16 audio pipeline"
                )
            if arr.ndim == 1:
                arr = arr[:, None]
        else:
            raise ValueError("unknown audio format (not RIFF/WAVE or FLAC)")
        out = encode_wav16(arr, rate) if target == "wav" else encode_flac(arr, rate)
        return [(int(mid), out, src, int(rate), int(arr.shape[0]), None)]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, content binary, src_format string, "
        "sample_rate int, n_samples long, decode_error string",
        row, (None,) * 4,
    )


def flac_decode_stats(media: DataFrame) -> DataFrame:
    """Decode-stats over REAL FLAC payloads — the `wav_decode_stats`
    probe surface plus a `last_sample` probe: the final sample is
    reconstructed through every predictor step before it, so it only
    matches if the entire residual chain decoded exactly. Same
    quarantine contract (ValueError -> NULL row + decode_error)."""
    from .flac import decode_flac

    return _audio_decode_stats(media, decode_flac)


# --------------------------------------------------------- real codec: MJPEG

# The COMPRESSED video branch made real: Motion-JPEG in an AVI/RIFF
# container (multimodal/mjpeg.py) — one complete baseline JPEG per
# frame, so the in-tree JPEG codec carries the pixels and this layer
# is a RIFF walk like WAV's. The remaining library-bound video
# seam narrows to INTER-FRAME codecs (H.264-family): motion
# compensation + CABAC genuinely need a codec library, and a partial
# decoder would violate the never-wrong-pixels contract.


def synthesize_mjpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-MJPEG fixtures in the bit-exact JPEG regime:
    each document becomes an AVI clip of (id%3+1) grayscale frames of
    (id%2+1)x1 constant 8x8 blocks — frame f, block k holds text byte
    ``(f*blocks + k) mod len`` — encoded per frame with ``DC8_QTABLE``
    so every frame decodes exactly (see jpeg.py). The block rule is
    SQL-replayable frame-for-frame without parsing AVI or JPEG."""
    from .jpeg import DC8_QTABLE
    from .mjpeg import encode_mjpeg_avi

    def encode(mid, text):
        nf, bx = mid % 3 + 1, mid % 2 + 1
        vals = _tiled_text(text, nf * bx).reshape(nf, 1, bx)
        frames = np.repeat(np.repeat(vals, 8, axis=1), 8, axis=2)
        return encode_mjpeg_avi(
            frames, fps=10, qtables=(DC8_QTABLE, DC8_QTABLE)
        )

    return _synthesize(docs, ("doc_id", "text"), encode)


def mjpeg_frame_stats(media: DataFrame) -> DataFrame:
    """Per-frame decode-stats over REAL MJPG AVI payloads — the
    compressed-video sibling of `y4m_frame_stats`: ONE ROW PER FRAME
    with channel-mean stats and a frame-local (0,0) probe (a
    frame-boundary or container-walk bug shifts every subsequent
    frame's first_pixel). Grayscale frames report their pixel values
    directly; RGB frames report the per-pixel channel mean (the
    featurizer's luma convention), with `first_pixel` rounded half-up
    to stay integral. Same quarantine contract: a malformed payload
    emits a single NULL row with decode_error, never a batch
    failure."""
    from .mjpeg import decode_mjpeg_avi

    return _frame_stats_op(
        media,
        lambda b: decode_mjpeg_avi(b)[0].astype(np.float64).mean(axis=3),
        1,
        None,
    )


def mjpeg_frames_to_bmp(media: DataFrame, every_n: int = 1) -> DataFrame:
    """`y4m_frames_to_bmp` for the COMPRESSED video path: decode each
    MJPG AVI, keep every ``every_n``-th frame, emit each as a
    standalone 24-bit BMP (grayscale replicates to RGB; RGB frames
    pass through). The 1→N output rows feed the image pipeline
    unchanged — `bmp_decode_stats`, `resize_bmp`, `image_features` —
    so a compressed video corpus reaches ANN search with two map-only
    hops. Corrupt clips quarantine as a frame_index=-1 row."""
    from .mjpeg import decode_mjpeg_avi

    return _frames_to_bmp(
        media,
        every_n,
        decode_mjpeg_avi,
        lambda px: np.repeat(px, 3, axis=2) if px.shape[2] == 1 else px,
    )


# ---------------------------------------------------------------------------
# Sniffing VIDEO front door + the H.264 binding seam
# ---------------------------------------------------------------------------


def sniff_video_codec(b: bytes) -> tuple[str, str]:
    """Magic-sniff a video payload's (container, codec) WITHOUT
    decoding it: Y4M ('YUV4MPEG2' → rawvideo), RIFF AVI (codec = the
    first 'vids' stream's fccHandler, e.g. 'MJPG' or 'H264'), ISO
    BMFF/MP4 ('ftyp' box → the major brand, e.g. 'avc1'/'isom'),
    Matroska/WebM (EBML magic). Raises ValueError when no container
    signature matches — the same never-silently-wrong contract as the
    image sniffer (_sniff_decode_image)."""
    import struct as _struct

    if b.startswith(b"YUV4MPEG2"):
        return ("y4m", "rawvideo")
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        from .mjpeg import _walk_chunks

        (riff_size,) = _struct.unpack_from("<I", b, 4)
        end = min(len(b), 8 + riff_size)
        try:
            for tag, p, s in _walk_chunks(b, 12, end):
                if tag != b"LIST" or b[p : p + 4] != b"hdrl":
                    continue
                for t2, p2, s2 in _walk_chunks(b, p + 4, p + s):
                    if t2 != b"LIST" or b[p2 : p2 + 4] != b"strl":
                        continue
                    for t3, p3, s3 in _walk_chunks(b, p2 + 4, p2 + s2):
                        if t3 == b"strh" and s3 >= 8 and b[p3 : p3 + 4] == b"vids":
                            fcc = b[p3 + 4 : p3 + 8]
                            return (
                                "avi",
                                fcc.decode("ascii", "replace").strip("\x00 ")
                                or "unknown",
                            )
        except ValueError:
            pass  # malformed walk: fall through to the container verdict
        return ("avi", "unknown")
    if len(b) >= 12 and b[4:8] == b"ftyp":
        # ISO BMFF box size: >= 16 (ftyp carries brand+version+
        # >=1 compatible brand), or the 1/0 escape values (64-bit /
        # to-end-of-file). Rejects garbage with 'ftyp' at offset 4.
        box = int.from_bytes(b[0:4], "big")
        if box >= 16 or box in (0, 1):
            return ("mp4", b[8:12].decode("ascii", "replace").strip("\x00 "))
    if b.startswith(b"\x1a\x45\xdf\xa3"):
        return ("matroska", "unknown")
    raise ValueError("not a recognized video container "
                     "(Y4M/AVI/MP4/Matroska signatures all absent)")


def pyav_decoder(payload: bytes) -> tuple["np.ndarray", float]:
    """Inter-frame video decoder bound to PyAV (public ffmpeg
    bindings) — the real implementation of the H.264 binding seam
    documented in ``video_frame_stats``. Returns the engine's
    frame-stack contract, identical to ``decode_y4m`` /
    ``decode_mjpeg_avi``: ((n, h, w, 3) uint8 RGB, fps).

    OPTIONAL dependency: raises ImportError when PyAV is absent (the
    dependency-free tree then keeps the loud quarantine branch —
    ``resolve_interframe_decoder`` handles the probe). Every other
    failure raises ValueError so the front door degrades to a per-row
    quarantine, never a task-retry storm."""
    import io

    import av  # optional public dependency (PyAV / ffmpeg)

    frames = []
    fps = 0.0
    try:
        with av.open(io.BytesIO(payload)) as c:
            if not c.streams.video:
                raise ValueError("container has no video stream")
            stream = c.streams.video[0]
            if stream.average_rate:
                fps = float(stream.average_rate)
            for frame in c.decode(stream):
                frames.append(frame.to_ndarray(format="rgb24"))
    except ValueError:
        raise
    except Exception as e:  # av's error hierarchy varies by version;
        # anything it throws must become quarantine-shaped
        raise ValueError(f"PyAV decode failed: {e}") from e
    if not frames:
        raise ValueError("no decodable video frames")
    return np.stack(frames).astype(np.uint8), fps


def resolve_interframe_decoder():
    """The deployment knob for the H.264 seam: returns ``pyav_decoder``
    when PyAV is importable, else None (quarantine branch). Resolved
    ONCE at plan-build time on the driver and captured into the
    row function's closure, so executors never re-probe imports."""
    try:
        import av  # noqa: F401

        return pyav_decoder
    except ImportError:
        return None


def _stack_to_lumas(frames: "np.ndarray") -> "np.ndarray":
    """Validate a binding's frame stack against the engine contract —
    (n, h, w) grayscale or (n, h, w, ch) — and reduce to float64 lumas.
    A binding returning anything else fails loudly (ValueError → the
    per-row quarantine) instead of producing silent garbage stats."""
    frames = np.asarray(frames)
    if frames.ndim == 3:
        return frames.astype(np.float64)
    if frames.ndim == 4:
        return frames.astype(np.float64).mean(axis=3)
    raise ValueError(
        f"decoder violated the frame-stack contract: expected "
        f"(n, h, w[, ch]), got shape {frames.shape}"
    )


def video_frame_stats(media: DataFrame, interframe_decoder=None) -> DataFrame:
    """Sniffing VIDEO front door: per-frame decode stats over a MIXED
    video corpus. Y4M and MJPG AVI decode through the real
    dependency-free codecs (`decode_y4m`, `decode_mjpeg_avi`); every
    OTHER recognized container/codec — H.264/H.265/VP9 in MP4, an AVI
    carrying a non-MJPG fourcc, Matroska/WebM — quarantines as a
    single NULL-stats row whose decode_error NAMES the sniffed
    container and codec. Loud and predictable: inter-frame compressed
    video can never silently vanish from, or silently corrupt, a
    pipeline built on this front door.

    **The H.264 binding seam** (SURVEY.md §2.11 multimodal row):
    inter-frame codecs are not implementable stdlib-only, so they
    route through ``interframe_decoder`` — ``None`` (default) resolves
    the optional PyAV binding via ``resolve_interframe_decoder()``
    (quarantine when PyAV is absent, so the dependency-free tree
    behaves exactly as before); ``False`` forces the quarantine branch
    (pin the dependency-free behavior regardless of environment); a
    callable ``payload -> (frames, fps)`` binds a custom decoder
    returning the SAME frame-stack contract the two built-in decoders
    produce — (n, h, w[, ch]) uint8 — and every downstream stage
    (these stats, `*_frames_to_bmp`, `image_features` → ANN) works
    unchanged. The seam sits INSIDE this operator's row function on
    purpose: payloads never cross a shuffle, the binding runs
    executor-side per Arrow batch (resolved ONCE on the driver and
    closure-captured), and any decoder failure degrades to the same
    per-row quarantine instead of a task retry storm — the returned
    stack is contract-validated (`_stack_to_lumas`) so a misbehaving
    binding also quarantines loudly."""
    from .mjpeg import decode_mjpeg_avi

    if interframe_decoder is None:
        interframe_decoder = resolve_interframe_decoder()
    elif interframe_decoder is False:
        interframe_decoder = None

    def lumas_of(container, codec, payload):
        if container == "y4m":
            return decode_y4m(payload)[0].astype(np.float64)
        if container == "avi" and codec.upper() == "MJPG":
            # case-folded: decode_mjpeg_avi accepts b"mjpg" fccHandlers too
            return decode_mjpeg_avi(payload)[0].astype(np.float64).mean(axis=3)
        if interframe_decoder is None:
            # >>> H.264 BINDING SEAM, unbound: quarantine.
            raise ValueError(
                f"unsupported video codec {codec!r} in "
                f"{container!r} container (H.264-family "
                "inter-frame codecs need a real decoder — "
                "bind PyAV/ffmpeg at video_frame_stats' "
                "interframe_decoder seam)"
            )
        # >>> H.264 BINDING SEAM, bound: the resolved decoder (PyAV or
        # injected) returns the same frame-stack contract as the
        # built-in codecs; _stack_to_lumas validates it so a misbehaving
        # binding quarantines instead of corrupting. ANY binding
        # exception quarantines — a flaky external lib must not become
        # a task-retry storm.
        try:
            frames, _fps = interframe_decoder(payload)
            return _stack_to_lumas(frames)
        except Exception as e:
            raise ValueError(f"bound inter-frame decoder failed: {e}") from e

    def row(mid, content):
        payload = _payload(content)
        # an unrecognized container quarantines with NULL container/codec
        container, codec = sniff_video_codec(payload)
        try:
            lumas = lumas_of(container, codec, payload)
        except ValueError as e:
            return [(int(mid), container, codec, *(None,) * 5, str(e))]
        return [
            (int(mid), container, codec, i, *_frame_stats(luma), None)
            for i, luma in enumerate(lumas)
        ]

    return _per_row(
        media, _MEDIA_IN,
        "media_id long, container string, codec string, frame_index int, "
        "width int, height int, mean_value double, first_pixel int, "
        "decode_error string",
        row, (None,) * 7,
    )

"""Multimodal columns: opaque binary payloads + typed metadata beside
relational columns (SURVEY.md §2.B "LLM: multimodal cols").

The container has no image/audio codecs, so the DECODE step is a
clearly-marked deterministic stub behind mapInPandas — but everything
Spark-side is real: BinaryType columns in the schema, Arrow-batched
UDF plumbing, metadata pushdown-friendly projections, and
frame-sampling as pure relational arithmetic. Swapping the stub for
PIL/ffmpeg changes one function body, not the dataflow.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.registry import register


def _with_payload(d: DataFrame) -> DataFrame:
    """documents + a synthetic binary 'payload' column (utf-8 bytes of
    the text) standing in for an image/audio blob, with typed media
    metadata columns alongside."""
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int").alias("n_channels"),
    )


@register(
    "mm_binary_metadata",
    tags=("multimodal", "binary"),
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS payload_sha256,
               hex(encode(substring(text, 1, 8))) AS prefix_hex,
               'image/fake' AS media_type,
               CAST((doc_id % 3) + 1 AS INT) AS n_channels
        FROM documents
    """,
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType payload handling without decoding: byte length,
    content digest, magic-bytes prefix — the checks a 100 TB media
    pipeline runs before any codec work, all JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    p = _with_payload(d)
    return p.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha256"),
        F.hex(F.substring("payload", 1, 8)).alias("prefix_hex"),
        "media_type",
        "n_channels",
    )


@register(
    "mm_frame_sample",
    tags=("multimodal", "video"),
    oracle="""
        WITH media AS (
            SELECT doc_id,
                   CAST((doc_id % 10) * 30 + 30 AS INT) AS n_frames,
                   CAST(10 AS INT) AS sample_every
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id, n_frames,
               CAST(unnest(range(0, n_frames, sample_every)) AS INT) AS frame_idx
        FROM media
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plan for video payloads: the frame index list is
    pure relational arithmetic (sequence + explode) computed BEFORE
    any decode happens, so the expensive decode UDF only ever sees the
    frames it must touch."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = d.select(
        "doc_id",
        ((F.col("doc_id") % 10) * 30 + 30).cast("int").alias("n_frames"),
        F.lit(10).cast("int").alias("sample_every"),
    )
    return media.select(
        "doc_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.col("sample_every"))
        ).alias("frame_idx"),
    ).withColumn("frame_idx", F.col("frame_idx").cast("int"))


_DECODE_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, n_channels int, mean_byte double"
)


def decode_image_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched fake decoder. A real deployment replaces the body
    marked STUB with PIL/libvips; the signature, schema, and batch
    shape are the production ones.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.str.len()
        # STUB: no codec in this container. Derive deterministic fake
        # dimensions from the payload itself; a real decoder would do
        #   img = PIL.Image.open(io.BytesIO(buf))  # noqa
        # and raise on undecodable payloads.
        width = (n_bytes % 64 + 1).astype("int32")
        height = (n_bytes // 64 + 1).astype("int32")
        mean_byte = payloads.map(
            lambda b: (sum(b) / len(b)) if len(b) else 0.0
        )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes.astype("int32"),
                "width": width,
                "height": height,
                "n_channels": pdf["n_channels"].astype("int32"),
                "mean_byte": mean_byte,
            }
        )


@register("mm_decode_features", tags=("multimodal", "udf"))
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches, the
    only sane way to run per-payload Python at scale). Rows-only for
    the driver — the stubbed decode is engine-specific; batch shape
    and schema are asserted in tests/test_multimodal.py."""
    d = load_table(spark, sf_dir, "documents")
    return _with_payload(d).mapInPandas(decode_image_batch, _DECODE_SCHEMA)


@register(
    "mm_resize_plan",
    tags=("multimodal", "resize"),
    oracle="""
        WITH src AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS src_w,
                   CAST(octet_length(encode(text)) // 64 + 1 AS INT) AS src_h
            FROM documents
        )
        SELECT doc_id, src_w, src_h,
               CAST(greatest(1, floor(src_w * least(256.0 / src_w, 256.0 / src_h)))
                    AS INT) AS dst_w,
               CAST(greatest(1, floor(src_h * least(256.0 / src_w, 256.0 / src_h)))
                    AS INT) AS dst_h,
               least(256.0 / src_w, 256.0 / src_h) AS scale
        FROM src
    """,
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-fit resize planning (fit into 256x256): target dimensions
    and scale are pure relational arithmetic over the media metadata —
    computed BEFORE any pixel work, so the decode+resample UDF
    (decode_image_batch's STUB slot) receives explicit target dims and
    never re-derives them per payload. Source dims use the same
    deterministic fake-decode formula as mm_decode_features."""
    d = load_table(spark, sf_dir, "documents")
    n_bytes = F.length(F.encode("text", "UTF-8"))
    src = d.select(
        "doc_id",
        (n_bytes % 64 + 1).cast("int").alias("src_w"),
        (n_bytes / 64).cast("int").cast("int").alias("__h0"),
    ).select(
        "doc_id", "src_w", (F.col("__h0") + 1).cast("int").alias("src_h")
    )
    scale = F.least(256.0 / F.col("src_w"), 256.0 / F.col("src_h"))
    return src.select(
        "doc_id",
        "src_w",
        "src_h",
        F.greatest(F.lit(1), F.floor(F.col("src_w") * scale)).cast("int").alias("dst_w"),
        F.greatest(F.lit(1), F.floor(F.col("src_h") * scale)).cast("int").alias("dst_h"),
        scale.alias("scale"),
    )


@register(
    "mm_header_roundtrip",
    tags=("multimodal", "binary"),
    oracle="""
        SELECT doc_id,
               TRUE AS magic_ok,
               CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
               CAST(octet_length(encode(text)) // 64 + 1 AS INT) AS height,
               CAST(octet_length(encode(text)) + 10 AS INT) AS total_bytes
        FROM documents
    """,
)
def mm_header_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary container header build + parse, all JVM-side: a 10-byte
    header (2-byte magic FE01, 4-byte big-endian width, 4-byte height)
    is prepended to each payload with to_binary(hex), then parsed back
    by byte-slicing (substring on BinaryType) + conv(hex→int) — the
    fixed-layout header walk every media ingest does before handing
    bytes to a codec. The oracle recomputes the fields arithmetically,
    so the differential gate proves the encode→parse round trip is
    lossless. Zero Python in the row path; codegen throughout."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    n_bytes = F.length(payload)
    width = (n_bytes % 64 + 1).cast("int")
    height = ((n_bytes / 64).cast("int") + 1).cast("int")
    hex4 = lambda c: F.lpad(F.hex(c), 8, "0")
    framed = d.select(
        "doc_id",
        F.concat(
            F.to_binary(F.lit("FE01"), F.lit("hex")),
            F.to_binary(hex4(width), F.lit("hex")),
            F.to_binary(hex4(height), F.lit("hex")),
            payload,
        ).alias("framed"),
    )
    return framed.select(
        "doc_id",
        (F.hex(F.substring("framed", 1, 2)) == "FE01").alias("magic_ok"),
        F.conv(F.hex(F.substring("framed", 3, 4)), 16, 10)
        .cast("int")
        .alias("width"),
        F.conv(F.hex(F.substring("framed", 7, 4)), 16, 10)
        .cast("int")
        .alias("height"),
        F.length("framed").alias("total_bytes"),
    )


@register(
    "mm_audio_window_energy",
    tags=("multimodal", "audio", "udf"),
    oracle="""
        WITH samples AS (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS i,
                   length(unnest(string_split(text, ' '))) AS amp
            FROM documents
        ), framed AS (
            SELECT doc_id, CAST(i // 32 AS BIGINT) AS frame_id,
                   CAST(SUM(CAST(amp * amp AS BIGINT)) AS BIGINT) AS energy,
                   CAST(COUNT(*) AS BIGINT) AS n_samples
            FROM samples GROUP BY 1, 2
        )
        SELECT doc_id, frame_id, energy, n_samples
        FROM framed WHERE n_samples = 32
    """,
)
def mm_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style frame analysis over opaque payloads: the
    deterministic fake decoder turns each payload into an int16-like
    amplitude sequence (token lengths stand in for PCM samples — the
    codec-free stand-in, same contract as mm_decode_features), then
    full 32-sample frames reduce to integer energies. The Spark side
    is the REAL pipeline shape: Arrow-batched mapInPandas decode →
    explode to (doc, frame, samples) → hash-agg per frame — swap the
    fake for soundfile/ffmpeg and only the lambda body changes.
    Integer energies make the whole thing oracle-exact."""
    d = load_table(spark, sf_dir, "documents")
    return _audio_frames(d)


def _audio_frames(d: DataFrame) -> DataFrame:
    """(doc_id, frame_id, energy, n_samples): Arrow-batched fake-PCM
    decode + full-32-sample frame energies; shared by
    mm_audio_window_energy and mm_audio_vad_segments."""
    import numpy as np

    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))

    FRAME = 32

    def decode_frames(batches):
        for pdf in batches:
            out_doc, out_frame, out_energy, out_n = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # fake PCM: amplitude = length of each whitespace token
                toks = bytes(payload).decode("utf-8").split(" ")
                amps = np.array([len(t) for t in toks], dtype=np.int64)
                n_full = len(amps) // FRAME
                for f in range(n_full):
                    fr = amps[f * FRAME : (f + 1) * FRAME]
                    out_doc.append(doc_id)
                    out_frame.append(f)
                    out_energy.append(int((fr * fr).sum()))
                    out_n.append(FRAME)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "frame_id": out_frame,
                    "energy": out_energy,
                    "n_samples": out_n,
                }
            )

    return payloads.mapInPandas(
        decode_frames,
        "doc_id long, frame_id long, energy long, n_samples long",
    )


@register(
    "mm_text_embedding_features",
    tags=("multimodal", "join", "features"),
    oracle="""
        WITH norms AS (
            SELECT vec_id, label,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
            FROM embeddings
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars,
               array_length(string_split(d.text, ' ')) -
                 array_length(filter(string_split(d.text, ' '), t -> t = ''))
                 AS n_tokens,
               n.label, n.l2
        FROM documents d JOIN norms n ON d.doc_id = n.vec_id
    """,
)
def mm_text_embedding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal feature assembly: the text table and the embedding
    table meet on the document key, producing the (text stats +
    vector stats) feature frame a curation classifier actually trains
    on. Both per-modality feature extractions are map-side (token
    count from a split, L2 norm from a sequential fold); the single
    equi-join shuffles on the shared key — at 100 TB this is the
    co-partitioned (or bucketed) layout case, never a broadcast of a
    corpus-sized side. The schema carries relational scalars, text,
    and the array column through one plan — the 'multimodal columns
    are just columns' contract."""
    from finance_etl_spark.functions.vectors import l2_norm

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    dd = d.select(
        "doc_id", "lang", "source", "n_chars", F.size(toks).alias("n_tokens")
    )
    ee = e.select(
        F.col("vec_id").alias("doc_id"), "label", l2_norm("embedding").alias("l2")
    )
    return dd.join(ee, "doc_id")


_CHUNK = 100
_BLOB_REPEAT = 64


@register(
    "mm_blob_chunk_reassembly",
    tags=("multimodal", "storage"),
    oracle=f"""
        WITH blobs AS (
            SELECT o_orderkey AS blob_id,
                   repeat(md5(CAST(o_orderkey AS STRING)), {_BLOB_REPEAT})
                     AS payload
            FROM orders WHERE o_orderkey < 20
        ),
        chunks AS (
            SELECT blob_id,
                   i AS seq,
                   payload[1 + (i * {_CHUNK}) : LEAST((i + 1) * {_CHUNK},
                                                      length(payload))] AS chunk
            FROM blobs,
                 LATERAL unnest(generate_series(
                     0, CAST(ceil(length(payload) / {_CHUNK}.0) AS INT) - 1
                 )) t(i)
        ),
        back AS (
            SELECT blob_id,
                   string_agg(chunk, '' ORDER BY seq) AS reassembled,
                   COUNT(*) AS n_chunks
            FROM chunks GROUP BY blob_id
        )
        SELECT b.blob_id, back.n_chunks,
               CAST(length(back.reassembled) AS BIGINT) AS total_chars,
               md5(back.reassembled) = md5(b.payload) AS intact
        FROM blobs b JOIN back ON b.blob_id = back.blob_id
    """,
)
def mm_blob_chunk_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked blob storage — the pattern that fits multi-MB media
    payloads into row-size-bounded columnar files: each payload splits
    into fixed-size chunks (blob_id, seq, chunk) that shuffle and
    store independently, and consumers reassemble by (blob_id, ORDER
    BY seq) with an ordered fold, verifying integrity by digest
    against the original. Chunking is a map-side sequence+transform
    (no Python); reassembly is one keyed shuffle whose per-group state
    is that blob's chunk list. Payloads here are deterministic strings
    so the oracle can rebuild them; production swaps StringType for
    BinaryType — substring/concat/md5 all operate on binary with the
    identical plan."""
    o = load_table(spark, sf_dir, "orders")
    blobs = o.filter(F.col("o_orderkey") < 20).select(
        F.col("o_orderkey").alias("blob_id"),
        F.repeat(F.md5(F.col("o_orderkey").cast("string")), _BLOB_REPEAT).alias(
            "payload"
        ),
    )
    n_chunks = F.ceil(F.length("payload") / _CHUNK).cast("int")
    chunks = blobs.select(
        "blob_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.col("payload").substr(
                    i * _CHUNK + 1, F.lit(_CHUNK)
                ),
            )
        ).alias("seq", "chunk"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("seq", "chunk")))
    fold = F.aggregate(
        F.transform(ordered, lambda s: s.getField("chunk")),
        F.lit(""),
        lambda acc, x: F.concat(acc, x),
    )
    back = chunks.groupBy("blob_id").agg(
        fold.alias("reassembled"), F.count(F.lit(1)).alias("n_chunks")
    )
    return (
        blobs.join(back, "blob_id")
        .select(
            "blob_id",
            "n_chunks",
            F.length("reassembled").cast("bigint").alias("total_chars"),
            (F.md5("reassembled") == F.md5("payload")).alias("intact"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection (image dedup)

_PHASH_BANDS = 8          # 8 bands x 8 bits: multi-index hashing
_PHASH_BAND_BITS = 64 // _PHASH_BANDS
_PHASH_MAX_DIST = 6       # <= bands-2 => pigeonhole guarantees recall


def phash64(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, phash): 64-bit perceptual hash per payload, Arrow-batched.

    STUB decode: the 32x32 grayscale "image" is a byte-bigram histogram
    of the payload (content-locality-preserving, so near-duplicate
    payloads produce near-identical images); a real deployment replaces
    exactly that step with PIL's grayscale resize. Everything after is
    the REAL pHash: 2-D DCT-II via two 32x32 basis matmuls, top-left
    8x8 low-frequency block, median threshold -> 64 sign bits. All
    numpy inside one mapInPandas — one C-vectorized pass per Arrow
    batch, embarrassingly parallel at any corpus size."""
    import numpy as np

    side, block = 32, 8
    n = np.arange(side)
    basis = np.cos(np.pi * (n[None, :] + 0.5) * n[:, None] / side)

    def compute(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            n_rows = len(pdf)
            imgs = np.zeros((n_rows, side, side), dtype=np.float64)
            for row, buf in enumerate(pdf["payload"]):
                b = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.int64)
                if len(b) < 2:
                    continue  # all-zero image -> hash 0, as before
                # STUB decode: bigram-class histogram as the image
                cells = (b[:-1] * 31 + b[1:]) % (side * side)
                imgs[row] = np.bincount(cells, minlength=side * side).reshape(
                    side, side
                )
            # batched DCT: broadcast matmul dispatches one dgemm per
            # slice -- bit-identical to the per-row basis@img@basis.T,
            # ~10x less Python overhead per Arrow batch
            coef = (basis[None] @ imgs @ basis.T[None])[
                :, :block, :block
            ].reshape(n_rows, block * block)
            med = np.median(coef, axis=1)
            bits = coef > med[:, None]
            # MSB-first bit pack; big-endian SIGNED view gives the
            # two's-complement int64 directly (no per-bit Python loop)
            out = (
                np.packbits(bits, axis=1).view(">i8").ravel().astype(np.int64)
            )
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "phash": out})

    return df.select(id_col, "payload").mapInPandas(
        compute, f"{id_col} long, phash long"
    )


# corpus size at which the candidate join switches from 8x8-bit exact
# bands to 4x16-bit bands with radius-1 multiprobe (see docstring)
_PHASH_WIDE_MIN_DOCS = 20_000


def _phash_band_rows(hashes: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(doc_id, phash, band_id, band_val): one row per hash substring.
    shiftrightunsigned's bits argument must be a literal in the Column
    API; the per-row shift goes through SQL expr."""
    band = F.expr(
        f"shiftrightunsigned(phash, band_id * {band_bits})"
    ).bitwiseAND(F.lit((1 << band_bits) - 1))
    return hashes.select(
        "doc_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band_id"),
    ).select("doc_id", "phash", "band_id", band.alias("band_val"))


@register("mm_phash_near_dup", tags=("multimodal", "dedup", "lsh"))
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by pHash Hamming distance <= 6 via
    multi-index hashing (Norouzi et al.), with a SIZE-ADAPTIVE index:

    - small corpus: 8 bands x 8 bits — dist<=6 over 8 substrings means
      some substring matches EXACTLY (pigeonhole, 6 <= 8-2), so an
      exact band-bucket self-join has full recall. But 8-bit buckets
      saturate as the corpus grows (docs/bucket ~ N/256 per band →
      candidate pairs grow ~N²/256 — this was the worst decade-2
      scaling ratio in SCALING.md).
    - large corpus (>= 20k docs here; at 100 TB always): 4 bands x
      16 bits with RADIUS-1 MULTIPROBE on the probe side — dist<=6
      over 4 substrings means some substring differs by <= floor(6/4)
      = 1 bit, so probing each band's exact value plus its 16 one-bit
      flips keeps full recall while buckets get 256x finer. Probe rows
      grow 17x but pairs-per-bucket collapse quadratically — the MIH
      substring-length-scales-with-log(N) rule.

    Both schemes overcount candidates and both verify with exact
    JVM-side bit_count(xor), so the OUTPUT is identical — the switch
    (driver-side scalar, same AQE-style runtime choice as the minhash
    verify pruning) affects cost only. Recall contract pinned in
    tests/test_multimodal.py for both paths."""
    d = load_table(spark, sf_dir, "documents")
    hashes = phash64(_with_payload(d), "doc_id").persist()
    n_docs = hashes.count()
    wide = n_docs >= _PHASH_WIDE_MIN_DOCS
    n_bands, band_bits = (4, 16) if wide else (_PHASH_BANDS, _PHASH_BAND_BITS)
    bands = _phash_band_rows(hashes, n_bands, band_bits)
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("phash").alias("ph_a"),
        "band_id", "band_val",
    )
    if wide:
        # probe side: exact band value (bit = -1) plus every 1-bit flip
        a = (
            a.select(
                "id_a",
                "ph_a",
                "band_id",
                "band_val",
                F.explode(
                    F.sequence(F.lit(-1), F.lit(band_bits - 1))
                ).alias("bit"),
            )
            .select(
                "id_a",
                "ph_a",
                "band_id",
                F.when(F.col("bit") < 0, F.col("band_val"))
                .otherwise(
                    F.expr("band_val ^ shiftleft(1L, bit)")
                )
                .alias("band_val"),
            )
        )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("phash").alias("ph_b"),
        "band_id", "band_val",
    )
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
    )
    dist = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.select("id_a", "id_b", dist.alias("hamming"))
        .filter(F.col("hamming") <= _PHASH_MAX_DIST)
        .orderBy("id_a", "id_b")
    )


@register(
    "mm_audio_vad_segments",
    tags=("multimodal", "audio", "window"),
    oracle="""
        WITH samples AS (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS i,
                   length(unnest(string_split(text, ' '))) AS amp
            FROM documents
        ), framed AS (
            SELECT doc_id, CAST(i // 32 AS BIGINT) AS frame_id,
                   CAST(SUM(CAST(amp * amp AS BIGINT)) AS BIGINT) AS energy,
                   CAST(COUNT(*) AS BIGINT) AS n_samples
            FROM samples GROUP BY 1, 2
        ), full_frames AS (
            SELECT doc_id, frame_id, energy,
                   CAST(SUM(energy) OVER (PARTITION BY doc_id) AS BIGINT)
                       AS doc_energy,
                   CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
                       AS n_frames
            FROM framed WHERE n_samples = 32
        ), active AS (
            SELECT doc_id, frame_id, energy,
                   frame_id - ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY frame_id) AS island
            FROM full_frames
            WHERE energy * n_frames > doc_energy
        )
        SELECT doc_id,
               CAST(MIN(frame_id) AS BIGINT) AS start_frame,
               CAST(MAX(frame_id) AS BIGINT) AS end_frame,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(energy) AS BIGINT) AS seg_energy
        FROM active
        GROUP BY doc_id, island
        ORDER BY doc_id, start_frame
    """,
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection segmentation over the decoded audio
    frames: frames louder than their document's mean energy are
    'speech', and consecutive active frames merge into segments via
    the gaps-and-islands trick (frame_id - row_number is constant
    within a run). The above-mean test is INTEGER-exact —
    energy·n_frames > Σenergy avoids materializing the fractional
    mean. Composes the shared Arrow-batched decode (_audio_frames)
    with per-doc windows whose partition size is bounded by frames
    per document, not corpus size — the decode is the only
    corpus-scale stage, and it is embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents")
    frames = _audio_frames(d).filter(F.col("n_samples") == 32)
    w_doc = Window.partitionBy("doc_id")
    ff = frames.select(
        "doc_id",
        "frame_id",
        "energy",
        F.sum("energy").over(w_doc).alias("doc_energy"),
        F.count(F.lit(1)).over(w_doc).alias("n_frames"),
    )
    w_run = Window.partitionBy("doc_id").orderBy("frame_id")
    active = ff.filter(
        F.col("energy") * F.col("n_frames") > F.col("doc_energy")
    ).select(
        "doc_id",
        "frame_id",
        "energy",
        (F.col("frame_id") - F.row_number().over(w_run)).alias("island"),
    )
    return (
        active.groupBy("doc_id", "island")
        .agg(
            F.min("frame_id").alias("start_frame"),
            F.max("frame_id").alias("end_frame"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("energy").alias("seg_energy"),
        )
        .drop("island")
        .orderBy("doc_id", "start_frame")
    )


@register("mm_image_dedup_clusters", tags=("multimodal", "dedup", "graph"))
def mm_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup END TO END: pHash near-dup pairs (the size-adaptive
    MIH index above) close into duplicate CLUSTERS via star-contraction
    connected components, and each cluster keeps one canonical survivor
    (min doc_id) — the full 'collapse every re-encode/resize of the
    same image to one copy' pipeline a multimodal corpus runs before
    training. Output is one row per non-singleton cluster with its
    survivor, member count, and the worst intra-cluster Hamming
    distance actually observed among its pairs (clusters CHAIN:
    transitive members may exceed the pairwise threshold — reporting
    max_pair_hamming makes that explicit rather than hiding it).
    Rows-only (pHash is engine-specific); cluster validity — members
    connected, survivor minimal, pair distances consistent — is
    pinned in tests/test_multimodal.py."""
    from finance_etl_spark.operators.components import (
        connected_components_star,
    )
    from finance_etl_spark.plans.registry import get as _get

    pairs = _get("mm_phash_near_dup").build(spark, sf_dir).persist()
    pairs.count()
    comp = connected_components_star(pairs, src="id_a", dst="id_b")
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    # worst observed pairwise distance per cluster (pairs carry their
    # hamming; either endpoint maps the pair to its component)
    pair_comp = pairs.join(
        comp.select(
            F.col("node").alias("id_a"), F.col("component_id")
        ),
        "id_a",
    )
    worst = pair_comp.groupBy("component_id").agg(
        F.max("hamming").alias("max_pair_hamming")
    )
    out = (
        sizes.filter(F.col("n_members") >= 2)
        .join(worst, "component_id")
        .select(
            F.col("component_id").alias("survivor_id"),
            "n_members",
            "max_pair_hamming",
        )
        .orderBy("survivor_id")
    )
    return out


@register(
    "mm_video_scene_cut",
    tags=("multimodal", "video", "window"),
    oracle="""
        WITH media AS (
            SELECT doc_id,
                   CAST((doc_id % 10) * 30 + 30 AS INT) AS n_frames
            FROM documents WHERE doc_id < 100
        ),
        frames AS (
            SELECT doc_id, n_frames,
                   unnest(generate_series(0, n_frames - 1)) AS frame_idx
            FROM media
        ),
        sigs AS (
            SELECT doc_id, n_frames, frame_idx,
                   (ascii(substr(md5(CAST(doc_id AS STRING) || '#'
                        || CAST(frame_idx AS STRING)), 1, 1)) * 7
                    + ascii(substr(md5(CAST(doc_id AS STRING) || '#'
                        || CAST(frame_idx AS STRING)), 2, 1))) % 256
                       AS luma
            FROM frames
        ),
        cuts AS (
            SELECT doc_id, n_frames, frame_idx,
                   CASE WHEN lag(luma) OVER w IS NULL THEN 1
                        WHEN abs(luma - lag(luma) OVER w) > 64 THEN 1
                        ELSE 0 END AS is_cut
            FROM sigs
            WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
        ),
        scenes AS (
            SELECT doc_id, n_frames,
                   SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS scene_id
            FROM cuts
        ),
        lens AS (
            SELECT doc_id, n_frames, scene_id,
                   CAST(COUNT(*) AS BIGINT) AS scene_len
            FROM scenes GROUP BY doc_id, n_frames, scene_id
        )
        SELECT doc_id,
               CAST(ANY_VALUE(n_frames) AS INT) AS n_frames,
               CAST(COUNT(*) AS BIGINT) AS n_scenes,
               CAST(MAX(scene_len) AS BIGINT) AS longest_scene,
               CAST(ANY_VALUE(n_frames) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS avg_scene_len
        FROM lens
        GROUP BY doc_id
    """,
)
def mm_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection for video training data — the frame-sampling
    upgrade every video pipeline makes once fixed-stride sampling
    (mm_frame_sample) starts splitting shots: per frame a luma
    signature, a cut wherever the lag-1 signature jumps > 64, then
    gaps-and-islands turns cut flags into scenes (count, longest,
    mean length) per video. The signature derivation is a
    deterministic STUB (md5-derived pseudo-luma — both engines share
    md5/ascii bit-exactly; a real deployment computes mean luma inside
    decode_image_batch's Arrow UDF, same schema and shapes). The plan
    is the production one: frame explosion BEFORE decode so only
    needed frames are touched, per-video windows (frame counts are
    codec-bounded, never SF-bounded), one video-key shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = d.select(
        "doc_id",
        ((F.col("doc_id") % 10) * 30 + 30).cast("int").alias("n_frames"),
    )
    frames = media.select(
        "doc_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1)
        ).alias("frame_idx"),
    )
    h = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("#"),
            F.col("frame_idx").cast("string"),
        )
    )
    sigs = frames.select(
        "doc_id",
        "n_frames",
        "frame_idx",
        (
            (
                F.ascii(F.substring(h, 1, 1)) * 7
                + F.ascii(F.substring(h, 2, 1))
            )
            % 256
        ).alias("luma"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    cuts = sigs.select(
        "doc_id",
        "n_frames",
        "frame_idx",
        F.when(F.lag("luma").over(w).isNull(), 1)
        .when(F.abs(F.col("luma") - F.lag("luma").over(w)) > 64, 1)
        .otherwise(0)
        .alias("is_cut"),
    )
    scenes = cuts.select(
        "doc_id",
        "n_frames",
        F.sum("is_cut")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("scene_id"),
    )
    lens = scenes.groupBy("doc_id", "n_frames", "scene_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("scene_len")
    )
    return lens.groupBy("doc_id").agg(
        F.first("n_frames").cast("int").alias("n_frames"),
        F.count(F.lit(1)).cast("bigint").alias("n_scenes"),
        F.max("scene_len").cast("bigint").alias("longest_scene"),
        (
            F.first("n_frames").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_scene_len"),
    )

"""Driver-checkable catalog entries for the multimodal surface (S8).

Three entries exercise the deterministic fake decoder (sha256-tiled
pixels / waveform — DuckDB replays the digest arithmetic with its own
sha256(), attesting the binary columns, typed meta structs,
Arrow-batched mapInPandas kernels, and 1-row→k-rows frame explosion).
``mm_image_decode_real`` additionally runs a REAL codec under
``strict=True``: genuine binary PPM blobs assembled in-plan, decoded by
the dependency-free netpbm decoder (operators/multimodal.py) — PNG /
BMP / WAV / rawvideo codecs are pinned byte-exact in
tests/test_multimodal.py.

Media are synthesized from the documents table (media_id = doc_id,
content = UTF-8 bytes of text, meta from doc_id arithmetic) — both
engines derive identical blobs, no fixture files needed.

Features whose repr is not SQL-reachable stay pytest-pinned instead of
weakening the kernel: image phash (sha256 over a raw BLOB — DuckDB's
sha256 is VARCHAR-only) and audio rms (float32 accumulation order).
n_bytes / mean_intensity / aspect_ratio / duration_s / peak are exact
dyadic or integer arithmetic — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aroa_etl_spark.plans.catalog import query
from aroa_etl_spark.session import load_tables

# DuckDB mirror of _fake_pixels/_fake_waveform's seed: the 32 sha256
# digest bytes of the blob (== sha256 of the UTF-8 text) as BIGINTs.
_SQL_DIGEST = (
    "list_transform(range(1, 33), i -> ('0x'||substr(sha256(text), 2*i-1, 2))::BIGINT)"
)

# Per-PROCESS memo of synthetic fixture-blob lists. The blobs are
# pure functions of constants — nothing derives from the testdata, so
# this is fixture staging, not result caching: a fresh process always
# rebuilds from scratch (the inc_table_pruned_read precedent), and only
# reps 2..N of one bench/gate process skip re-synthesizing identical
# bytes the entry exists to DECODE, not to encode.  The expensive
# builders (PDF with AES encryption: 2.6 s/call measured) are
# the motivation; cheap ones ride along for the per-rep driver time.
_FIXTURE_MEMO: dict = {}


def _memo_blobs(key: str, build):
    if key not in _FIXTURE_MEMO:
        _FIXTURE_MEMO[key] = build()
    return _FIXTURE_MEMO[key]


def _dim_media(spark: SparkSession, sf_dir: str, blobs,
               extra_cols=(), spread: bool = True) -> DataFrame:
    """The shared fixture-fact shape: docs fact × 40-blob broadcast dim.

    The fact is hash-repartitioned on v_key BEFORE the join — an
    explicit width so AQE cannot coalesce it back to one task — because
    the single-file docs scan otherwise plans ONE partition and the
    downstream per-blob kernel runs serially on one core (guide §2.5
    input skew).  Only (media_id, v_key) rows ever shuffle — never blob
    bytes (guide §8: decide with small rows, move payloads once); the
    broadcast join attaches content after the exchange, and keying the
    spread on v_key co-locates equal payloads so the kernels' per-task
    decode memo hits maximally.  At scale the fact arrives pre-split
    and this one cheap key shuffle replaces a content shuffle."""
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fact = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        *extra_cols,
    )
    if spread:
        # ``spread=False`` for entries whose plan consumes the media
        # frame in SEVERAL branches (e.g. a triage/decode/audio union):
        # each branch re-executes the exchange and the fan-out costs
        # more than the memo-cheap kernels it parallelizes
        dp = spark.sparkContext.defaultParallelism
        fact = fact.repartition(dp, "v_key")
    return fact.join(F.broadcast(dim), "v_key").drop("v_key")


def _image_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://img/"), F.col("doc_id")).alias("uri"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("width"),
            (F.lit(3) + F.col("doc_id") % 4).cast("int").alias("height"),
            F.lit(3).cast("int").alias("channels"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )


@query(
    "mm_image_features",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, text,
             4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h, 3 AS c
      FROM documents),
    px AS (
      SELECT media_id, w, h,
             octet_length(encode(text)) AS n_bytes,
             w * h * c AS n,
             {_SQL_DIGEST} AS d
      FROM m)
    SELECT media_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           (CAST((n // 32) * CAST(list_sum(d) AS BIGINT) AS BIGINT)
            + CAST(COALESCE(CASE WHEN n % 32 = 0 THEN 0
                                 ELSE list_sum(d[1 : n % 32]) END, 0) AS BIGINT)
           )::DOUBLE / n AS mean_intensity,
           w::DOUBLE / h AS aspect_ratio
    FROM px
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 image leg: binary content + typed meta → Arrow-batched
    mapInPandas feature kernel (operators/multimodal.py:133). The oracle
    recomputes mean intensity from the sha256-tiled fake pixels:
    floor-division tiling of the 32 digest bytes to width*height*channels,
    exact integer sums, one final double division — bit-identical."""
    from aroa_etl_spark.operators.multimodal import image_features

    return image_features(_image_media(spark, sf_dir)).select(
        "media_id", "n_bytes", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_audio_features",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, text,
             8000 + (doc_id % 3) * 4000 AS sr,
             1000 + doc_id % 500 AS ns
      FROM documents)
    SELECT media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           ns::DOUBLE / sr AS duration_s,
           list_max(list_transform({_SQL_DIGEST}, b -> abs(b / 128.0 - 1.0))) AS peak
    FROM m
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 audio leg: same mapInPandas contract
    (operators/multimodal.py:287). duration is integer-ratio arithmetic;
    peak is exact because b/128 is dyadic (float32 == float64 == DuckDB
    DOUBLE for every uint8 b), and n_samples*channels ≥ 32 guarantees
    every digest byte appears in the tiled waveform. rms stays
    pytest-pinned (float32 accumulation has no SQL repr)."""
    from aroa_etl_spark.operators.multimodal import audio_features

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://aud/"), F.col("doc_id")).alias("uri"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            (F.lit(8000) + (F.col("doc_id") % 3) * 4000).cast("int").alias("sample_rate"),
            (F.lit(1000) + F.col("doc_id") % 500).cast("long").alias("n_samples"),
            (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("channels"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )
    return audio_features(media).select("media_id", "n_bytes", "duration_s", "peak")


@query(
    "mm_video_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(unnest(range(0, 10 + doc_id % 120, 30)) AS BIGINT) AS frame_index
    FROM documents
    """,
)
def mm_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 video leg: the 1-row→k-rows frame-sampling explosion contract
    (operators/multimodal.py:205) — every 30th frame index of an
    n_frames = 10 + doc_id % 120 clip. Frame bytes are hash-derived
    fakes and excluded from the projection (BLOB repr is not
    oracle-reachable); the row-explosion shape is the contract under
    test."""
    from aroa_etl_spark.operators.multimodal import sample_video_frames

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://vid/"), F.col("doc_id")).alias("uri"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit(640).cast("int").alias("width"),
            F.lit(480).cast("int").alias("height"),
            F.lit(24.0).alias("fps"),
            (F.lit(10) + F.col("doc_id") % 120).cast("long").alias("n_frames"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )
    return sample_video_frames(media, every_n=30).select("media_id", "frame_index")


@query(
    "mm_image_decode_real",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id,
                      md5(text) || md5(text || 'x') AS hx
               FROM documents)
    SELECT media_id,
           CAST(47 AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, 37),
                                        i -> ascii(substr(hx, i, 1)))) AS BIGINT
               )::DOUBLE / 36 AS mean_intensity,
           CAST(4 AS DOUBLE) / 3 AS aspect_ratio
    FROM m
    """,
)
def mm_image_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 with a REAL codec in the gate: every document becomes
    a genuine binary P6 PPM — an 11-byte header plus a 4×3 RGB payload
    of md5-hex ASCII bytes, assembled with native binary concat — and
    the feature kernel runs ``strict=True``, so the bytes go through the
    real netpbm decoder (operators/multimodal.py:_decode_netpbm), not
    the sha256 fake. The oracle replays the payload as ascii() codes of
    the same md5 hex: exact integer sum / 36 — mean_intensity matches
    bit-for-bit only if the decoder parsed the header and payload
    correctly."""
    from aroa_etl_spark.operators.multimodal import image_features

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hx = F.concat(F.md5(F.encode("text", "UTF-8")),
                  F.md5(F.encode(F.concat(F.col("text"), F.lit("x")), "UTF-8")))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://ppm/"), F.col("doc_id")).alias("uri"),
        F.concat(
            F.encode(F.lit("P6\n4 3\n255\n"), "UTF-8"),
            F.encode(F.substring(hx, 1, 36), "UTF-8"),
        ).alias("content"),
        F.struct(
            F.lit(4).cast("int").alias("width"),
            F.lit(3).cast("int").alias("height"),
            F.lit(3).cast("int").alias("channels"),
            F.lit("ppm").alias("format"),
        ).alias("meta"),
    )
    return image_features(media, strict=True).select(
        "media_id", "n_bytes", "mean_intensity", "aspect_ratio"
    )


# 44-byte canonical WAV header for: PCM, mono, 8-bit, 8000 Hz, 36 data
# bytes (RIFF size 72 = 36 + 36). Constant because every planted clip
# has the same shape — so it concatenates as a literal unhex.
_WAV_HEADER_HEX = (
    "52494646" "48000000" "57415645"          # RIFF <72> WAVE
    "666d7420" "10000000" "0100" "0100"       # fmt <16> PCM mono
    "401f0000" "401f0000" "0100" "0800"       # 8000 Hz, 8000 B/s, align 1, 8 bit
    "64617461" "24000000"                      # data <36>
)


@query(
    "mm_audio_decode_real",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id,
                      md5(text) || md5(text || 'x') AS hx
               FROM documents)
    SELECT media_id,
           CAST(80 AS BIGINT) AS n_bytes,
           36.0 / 8000.0 AS duration_s,
           list_max(list_transform(range(1, 37),
                    i -> abs((ascii(substr(hx, i, 1)) - 128.0) / 128.0))) AS peak
    FROM m
    """,
)
def mm_audio_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 audio with a REAL codec, mirror-verified (window candidate for
    the next rotation): every document becomes a
    genuine 80-byte WAV (constant 44-byte PCM/mono/8-bit/8 kHz RIFF
    header via unhex + 36 md5-hex ASCII sample bytes), and the feature
    kernel runs strict=True so the bytes go through the stdlib ``wave``
    decoder (operators/multimodal.py:_decode_wav), not the fake
    waveform. 8-bit samples map to exact dyadic float32 values
    ((ascii-128)/128), so duration and peak are bit-identical to the
    oracle's replay of the same byte arithmetic — correct only if the
    RIFF header parsed and the PCM payload decoded for real. rms stays
    pytest-pinned (float32 accumulation order is not SQL-reachable)."""
    from aroa_etl_spark.operators.multimodal import audio_features

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hx = F.concat(F.md5(F.encode("text", "UTF-8")),
                  F.md5(F.encode(F.concat(F.col("text"), F.lit("x")), "UTF-8")))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://wav/"), F.col("doc_id")).alias("uri"),
        F.concat(
            F.unhex(F.lit(_WAV_HEADER_HEX)),
            F.encode(F.substring(hx, 1, 36), "UTF-8"),
        ).alias("content"),
        F.struct(
            F.lit(8000).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("channels"),
            F.lit(36).cast("int").alias("n_samples"),
            F.lit("wav").alias("format"),
        ).alias("meta"),
    )
    return audio_features(media, strict=True).select(
        "media_id", "n_bytes", "duration_s", "peak"
    )


# 46-byte WAV headers for G.711 clips: 18-byte fmt chunk (cbSize
# extension, as real telephony encoders write for compressed tags),
# mono, 8-bit, 8000 Hz, 32 data bytes (RIFF size 70 = 0x46).  Only the
# format tag differs: 7 = µ-law, 6 = A-law.
_G711_HEADER_HEX = {
    law: (
        "52494646" "46000000" "57415645"            # RIFF <70> WAVE
        "666d7420" "12000000" + tag + "0100"        # fmt <18> <tag> mono
        "401f0000" "401f0000" "0100" "0800" "0000"  # 8 kHz, align 1, 8 bit, cb 0
        "64617461" "20000000"                        # data <32>
    )
    for law, tag in (("ulaw", "0700"), ("alaw", "0600"))
}

# DuckDB replay of the ITU-T G.711 expansion (public spec arithmetic,
# mirroring operators/multimodal.py:_g711_lut): byte c → linear sample.
_ULAW_LIN = (
    "CASE WHEN (255 - c) >= 128 "
    "THEN 132 - ((((255 - c) % 16) * 8 + 132) * (1 << (((255 - c) // 16) % 8))) "
    "ELSE ((((255 - c) % 16) * 8 + 132) * (1 << (((255 - c) // 16) % 8))) - 132 END"
)
_ALAW_LIN = (
    "(CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END) * "
    "(CASE WHEN (xor(c, 85) // 16) % 8 = 0 THEN (xor(c, 85) % 16) * 16 + 8 "
    "ELSE ((xor(c, 85) % 16) * 16 + 264) * (1 << (((xor(c, 85) // 16) % 8) - 1)) END)"
)


@query(
    "mm_audio_g711_real",
    oracle=f"""
    WITH m AS (SELECT doc_id AS media_id,
                      md5(text) || md5(text || 'x') AS hx
               FROM documents),
    b AS (SELECT media_id,
                 list_transform(range(1, 33),
                   i -> ('0x' || substr(hx, 2*i - 1, 2))::UBIGINT::BIGINT) AS bytes
          FROM m),
    lin AS (SELECT media_id,
                   CASE WHEN media_id % 2 = 0
                        THEN list_transform(bytes, c -> {_ULAW_LIN})
                        ELSE list_transform(bytes, c -> {_ALAW_LIN})
                   END AS lin
            FROM b)
    SELECT media_id,
           CASE WHEN media_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law,
           CAST(32 AS BIGINT) AS n_in,
           CAST(32 AS BIGINT) AS n_out,
           CAST(list_sum(list_transform(lin, v ->
                floor(CAST(v AS DOUBLE) / 32768.0 * 1000000000.0 + 0.5)))
                AS BIGINT) AS vsum_fp
    FROM lin
    """,
)
def mm_audio_g711_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 µ-law/A-law WAV decode (format tags 7/6 — the telephony
    and archive-dictation dialect the stdlib ``wave`` module rejects),
    REAL under strict=True via the chunk walk + ITU expansion tables
    (operators/multimodal.py:_wav_chunks/_g711_lut).  Every document
    becomes a genuine 78-byte compressed WAV (46-byte header with the
    18-byte fmt chunk + 32 raw md5 bytes — full 0-255 coverage, so all
    256 LUT entries are exercised across the corpus); even doc_ids are
    µ-law, odd A-law.  The checksum comes from resample_audio at the
    identity rate (8 kHz → 8 kHz: pos = k exactly, v = decoded sample),
    whose fixed-point sum is SIGN-sensitive — a flipped sign convention
    or off-by-one segment shift in either law changes vsum_fp, where a
    peak/rms check would miss the sign.  The oracle replays the ITU
    arithmetic per byte in exact integer domain and the same double
    rounding."""
    from aroa_etl_spark.operators.multimodal import resample_audio

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hx = F.concat(F.md5(F.encode("text", "UTF-8")),
                  F.md5(F.encode(F.concat(F.col("text"), F.lit("x")), "UTF-8")))
    header = F.when(
        F.col("doc_id") % 2 == 0, F.unhex(F.lit(_G711_HEADER_HEX["ulaw"]))
    ).otherwise(F.unhex(F.lit(_G711_HEADER_HEX["alaw"])))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://g711/"), F.col("doc_id")).alias("uri"),
        F.concat(header, F.unhex(hx)).alias("content"),
        F.struct(
            F.lit(8000).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("channels"),
            F.lit(32).cast("int").alias("n_samples"),
            F.lit("wav").alias("format"),
        ).alias("meta"),
    )
    return resample_audio(media, target_rate=8000, strict=True).select(
        "media_id",
        F.when(F.col("media_id") % 2 == 0, F.lit("ulaw"))
        .otherwise(F.lit("alaw"))
        .alias("law"),
        "n_in",
        "n_out",
        "vsum_fp",
    )


@query(
    "mm_jpeg_decode_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(128 + 5 * ((doc_id % 40) - 20) AS DOUBLE) AS mean_intensity,
           2.0 AS aspect_ratio
    FROM documents
    """,
)
def mm_jpeg_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8's dominant real-world format (the reference's card scans are
    JPEG/TIFF) decoded for REAL under strict=True via the vendored
    pure-NumPy baseline JPEG codec (operators/jpegcodec.py; no PIL
    needed).  Each document maps to a
    flat 8x16 grayscale JPEG with value v = 128 + 5*((doc_id%40) - 20);
    v == 128 (mod 5) makes the quantized DC coefficient exact at
    quality 85 (luma DC quant step = 5), so a CORRECT decode returns
    exactly v at every pixel — mean_intensity == v and aspect_ratio ==
    2.0 are pure SQL arithmetic for the oracle, while any Huffman /
    marker / IDCT mistake corrupts the constant.  The 40 distinct blobs
    are a driver-built broadcast dim joined to the docs — at 100 TB the
    real binary column arrives from the media store instead, and the
    decode path is byte-identical."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import image_features

    import numpy as np

    blobs = [
        (k, bytearray(encode_baseline_jpeg(
            np.full((8, 16), 128 + 5 * (k - 20), dtype=np.uint8), quality=85
        )))
        for k in range(40)
    ]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://jpg/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(16).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
            F.lit("jpeg").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_jpeg_progressive_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(128 + 5 * ((doc_id % 40) - 20) AS DOUBLE) AS mean_intensity,
           2.0 AS aspect_ratio
    FROM documents
    """,
)
def mm_jpeg_progressive_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decoded for REAL under strict=True —
    real archive scans are often progressive, and a baseline-only
    codec raises NotImplementedError on them.  The codec implements
    T.81 Annex G (spectral selection + successive approximation), and
    each document maps to a flat 16x32 grayscale SOF2 stream built by encode_progressive_jpeg's six-scan script
    (DC first Al=1, two spectral AC bands Al=2, two AC refinement
    passes, DC refinement) — a flat image leaves every AC band zero, so
    the scans exercise the EOB-run machinery across all 8 blocks, and
    v == 128 (mod 5) keeps the DC coefficient exact at quality 85, so a
    CORRECT multi-scan reassembly returns exactly v at every pixel.
    Any mistake in scan sequencing, refinement-bit handling, or EOB-run
    accounting corrupts the constant; the oracle is pure SQL
    arithmetic.  Same broadcast-dim join shape as mm_jpeg_decode_real
    (40 distinct blobs, fact table never shuffled)."""
    from aroa_etl_spark.operators.jpegcodec import encode_progressive_jpeg
    from aroa_etl_spark.operators.multimodal import image_features

    import numpy as np

    blobs = [
        (k, bytearray(encode_progressive_jpeg(
            np.full((16, 32), 128 + 5 * (k - 20), dtype=np.uint8), quality=85
        )))
        for k in range(40)
    ]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://jpgp/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(32).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
            F.lit("jpeg").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_tiff_decode_real",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id,
                      md5(text) || md5(text || 'x') AS hx
               FROM documents)
    SELECT media_id,
           CAST(list_sum(list_transform(range(1, 37),
                                        i -> ascii(substr(hx, i, 1)))) AS BIGINT
               )::DOUBLE / 36 AS mean_intensity,
           CAST(4 AS DOUBLE) / 3 AS aspect_ratio
    FROM m
    """,
)
def mm_tiff_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8's second production scan format decoded for REAL under
    strict=True (reference cards are JPEG/TIFF; JPEG landed as
    mm_jpeg_decode_real): every document becomes a genuine little-endian
    uncompressed TIFF — the constant 4x3 RGB header (built once by
    encode_tiff, IFD + strip offsets) concatenated with a 36-byte
    payload of md5-hex ASCII bytes via native binary concat.  The
    feature kernel runs the stdlib TIFF decoder
    (operators/multimodal.py:_decode_tiff); the oracle replays the
    payload as ascii() codes — mean_intensity matches bit-for-bit only
    if the IFD walk, strip offsets, and sample layout were parsed
    correctly."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import encode_tiff, image_features

    header = encode_tiff(np.zeros((3, 4, 3), dtype=np.uint8))[:-36]
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hx = F.concat(F.md5(F.encode("text", "UTF-8")),
                  F.md5(F.encode(F.concat(F.col("text"), F.lit("x")), "UTF-8")))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://tiff/"), F.col("doc_id")).alias("uri"),
        F.concat(
            F.lit(bytearray(header)),
            F.encode(F.substring(hx, 1, 36), "UTF-8"),
        ).alias("content"),
        F.struct(
            F.lit(4).cast("int").alias("width"),
            F.lit(3).cast("int").alias("height"),
            F.lit(3).cast("int").alias("channels"),
            F.lit("tiff").alias("format"),
        ).alias("meta"),
    )
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_gif_decode_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(list_sum(list_transform(range(0, 512),
                 i -> ((doc_id % 40) * 7 + (i // 32) * 5 + (i % 32) * 3) % 256))
                AS BIGINT)::DOUBLE / 512 AS mean_intensity,
           CAST(2 AS DOUBLE) AS aspect_ratio
    FROM documents
    """,
)
def mm_gif_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third real compressed image format under strict=True: genuine
    GIF89a blobs (public spec; operators/multimodal.py _decode_gif —
    LZW sub-block reassembly, variable code width, palette lookup).
    40 distinct 32x16 grayscale RAMP frames (pixel = (k*7 + row*5 +
    col*3) % 256) broadcast-join to the fact table on doc_id % 40 —
    the ramp defeats run-length-only shortcuts, so mean_intensity
    matches the oracle's pure-arithmetic replay only if LZW decode,
    code-width growth, and palette indexing are all correct.  GIF is
    lossless, so the check is exact, not band-limited like JPEG.  Same
    scale shape as mm_jpeg_decode_real: dim side is 40 tiny blobs, the
    fact side never shuffles, decode is Arrow-batched mapInPandas."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import encode_gif, image_features

    r = np.arange(16, dtype=np.int64)[:, None]
    c = np.arange(32, dtype=np.int64)[None, :]
    blobs = [
        (k, bytearray(encode_gif(((k * 7 + r * 5 + c * 3) % 256).astype(np.uint8))))
        for k in range(40)
    ]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://gif/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(32).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(3).cast("int").alias("channels"),
            F.lit("gif").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_audio_resample",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id,
                      md5(text) || md5(text || 'x') AS hx
               FROM documents),
    s AS (SELECT media_id,
                 list_transform(range(1, 37),
                     i -> (ascii(substr(hx, i, 1)) - 128.0) / 128.0) AS smp
          FROM m)
    SELECT media_id,
           CAST(36 AS BIGINT) AS n_in,
           CAST(13 AS BIGINT) AS n_out,
           CAST(list_sum(list_transform(range(0, 13), k ->
                floor((smp[CAST(floor(CAST(k * 8000 AS DOUBLE) / 3000.0) AS INT) + 1]
                       + (smp[LEAST(CAST(floor(CAST(k * 8000 AS DOUBLE) / 3000.0)
                                         AS INT) + 2, 36)]
                          - smp[CAST(floor(CAST(k * 8000 AS DOUBLE) / 3000.0)
                                     AS INT) + 1])
                         * (CAST(k * 8000 AS DOUBLE) / 3000.0
                            - floor(CAST(k * 8000 AS DOUBLE) / 3000.0)))
                      * 1000000000.0 + 0.5))) AS BIGINT) AS vsum_fp
    FROM s
    """,
)
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resampling with REAL decode (operators/multimodal.py
    resample_audio): the same 80-byte genuine WAVs as
    mm_audio_decode_real go through the stdlib decoder under
    strict=True, then linear-interpolation resampling 8000 -> 3000 Hz —
    a deliberately NON-integer ratio (8/3) so all but every third
    output sample is a genuine two-point interpolation, not an index
    copy.  8-bit PCM maps to exact dyadic float32 values, position
    arithmetic is the exact double formula (k*8000)/3000 on both sides,
    and the checksum is fixed-point floor(v*1e9 + 0.5) summed in exact
    integers — so interpolation weights, bracketing indices, and the
    tail clamp are all bit-checked by the oracle's pure-SQL replay.
    mapInPandas, no shuffle."""
    from aroa_etl_spark.operators.multimodal import resample_audio

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hx = F.concat(F.md5(F.encode("text", "UTF-8")),
                  F.md5(F.encode(F.concat(F.col("text"), F.lit("x")), "UTF-8")))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.unhex(F.lit(_WAV_HEADER_HEX)),
            F.encode(F.substring(hx, 1, 36), "UTF-8"),
        ).alias("content"),
        F.struct(
            F.lit(8000).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("channels"),
            F.lit(36).cast("int").alias("n_samples"),
            F.lit("wav").alias("format"),
        ).alias("meta"),
    )
    return resample_audio(media, target_rate=3000, strict=True)


@query(
    "mm_png_interlaced_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(list_sum(list_transform(range(0, 512),
                 i -> (((doc_id % 40) * 7 + (i // 32) * 5 + (i % 32) * 3) * 257)
                      % 65536))
                AS BIGINT)::DOUBLE / 512 AS mean_intensity,
           CAST(2 AS DOUBLE) AS aspect_ratio
    FROM documents
    """,
)
def mm_png_interlaced_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-interlaced 16-BIT PNG under strict=True: 40 distinct
    32x16 grayscale uint16 ramps (pixel = ((k*7 + row*5 + col*3) * 257)
    % 65536 — the x257 spread puts signal in both sample bytes and wraps the 16-bit range) encoded with interlace=1
    and the filter type cycling 0-4 per scanline, broadcast-joined to
    the fact table on doc_id % 40.  mean_intensity matches the oracle's
    pure-arithmetic replay only if the seven-pass Adam7 geometry (incl.
    empty passes), per-pass filter reversal with the 2-byte bpp, and
    big-endian 16-bit sample assembly are ALL correct — a ramp defeats
    any flat-fill shortcut.  PNG is lossless, so the check is exact.
    Scale shape identical to mm_gif_decode_real: 40 tiny blobs on the
    broadcast dim side, the fact side never shuffles, decode is
    Arrow-batched mapInPandas.  Codec: operators/multimodal.py
    _decode_png (stdlib zlib; PNG spec ISO/IEC 15948 §8.2)."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import encode_png, image_features

    r = np.arange(16, dtype=np.int64)[:, None]
    c = np.arange(32, dtype=np.int64)[None, :]
    blobs = [
        (
            k,
            bytearray(
                encode_png(
                    (((k * 7 + r * 5 + c * 3) * 257) % 65536)
                    .astype(np.uint16)[:, :, None],
                    interlace=True,
                )
            ),
        )
        for k in range(40)
    ]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://png/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(32).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
            F.lit("png").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_tiff_deflate_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(list_sum(list_transform(range(0, 512),
                 i -> ((doc_id % 40) * 11 + (i // 32) * 3 + (i % 32) * 7) % 256))
                AS BIGINT)::DOUBLE / 512 AS mean_intensity,
           CAST(2 AS DOUBLE) AS aspect_ratio
    FROM documents
    """,
)
def mm_tiff_deflate_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE-compressed TIFF (Compression 8 + Predictor 2, the
    pairing real writers emit — TIFF TechNote 2) under strict=True:
    40 distinct 32x16 grayscale ramps (pixel = (k*11 + row*3 + col*7)
    % 256), horizontally differenced then zlib-compressed per strip,
    broadcast-joined to the fact table on doc_id % 40.  mean_intensity
    matches the oracle's arithmetic replay only if the strip inflate
    AND the per-row cumulative-sum predictor reconstruction are both
    correct — reading the deltas as pixels fails every frame.  Same
    scale shape as the other mm_* entries: 40 tiny blobs on the
    broadcast dim, fact side never shuffles, decode Arrow-batched.
    Codec: operators/multimodal.py _decode_tiff."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import encode_tiff, image_features

    r = np.arange(16, dtype=np.int64)[:, None]
    c = np.arange(32, dtype=np.int64)[None, :]
    blobs = [
        (
            k,
            bytearray(
                encode_tiff(
                    ((k * 11 + r * 3 + c * 7) % 256).astype(np.uint8)[:, :, None],
                    deflate=True,
                    predictor=True,
                )
            ),
        )
        for k in range(40)
    ]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://tiffz/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(32).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
            F.lit("tiff").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


def _adpcm_plant():
    """40 planted IMA ADPCM waveforms + their exact expected features.

    Each k gets a distinct 505-sample int16 sine (one full 256-byte
    block — period varies with k so step indices sweep differently);
    the expected rms/peak are computed HERE from the encoder's int16
    reconstruction with the exact numpy ops audio_features uses, so the
    oracle replays planted truth without replaying the (inherently
    sequential, non-SQL-expressible) ADPCM state machine — the
    sk_hll/sk_kll precedent: when the kernel isn't DuckDB-replayable,
    the oracle pins exact planted expectations instead.  Import-time
    cost: 40 x 505 encoder steps, ~30 ms, cached."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import encode_wav_ima

    plant = []
    t = np.arange(505)
    for k in range(40):
        sig = np.round(9000.0 * np.sin(2 * np.pi * t / (50 + 3 * k))).astype(np.int16)
        blob, recon = encode_wav_ima(sig, rate=505, block_align=256)
        wave = (recon.astype(np.float32) / 32768.0).reshape(-1, 1)
        rms = float(np.sqrt(np.mean(wave**2)))
        peak = float(np.abs(wave).max())
        plant.append((k, blob, len(blob), rms, peak))
    return plant


_ADPCM_PLANT = _adpcm_plant()

# CAST AS DOUBLE inside the literal: DuckDB parses a bare decimal
# literal as DECIMAL and overflows the 1e9 fixed-point multiply
_ADPCM_VALUES = ",\n      ".join(
    f"({k}, {n}, "
    f"CAST(floor(CAST({rms!r} AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT), "
    f"CAST(floor(CAST({peak!r} AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    for k, _b, n, rms, peak in _ADPCM_PLANT
)


@query(
    "mm_audio_adpcm_real",
    oracle=f"""
    WITH plant(v_key, n_bytes, rms_fp, peak_fp) AS (VALUES
      {_ADPCM_VALUES})
    SELECT doc_id AS media_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           rms_fp, peak_fp
    FROM documents JOIN plant ON doc_id % 40 = v_key
    """,
)
def mm_audio_adpcm_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA/DVI ADPCM WAV decode (format tag 0x11 — the classic 4:1
    compressed speech/game-audio dialect) REAL under strict=True:
    40 distinct one-block sine waveforms encoded by encode_wav_ima,
    broadcast-joined on doc_id % 40, decoded by the block state machine
    (operators/multimodal.py _decode_ima_adpcm) inside the Arrow-
    batched audio_features kernel.  rms/peak are surfaced as 1e9
    fixed-point BIGINTs and must equal the oracle's PLANTED truth — the
    encoder's int16 reconstruction pushed through the same numpy ops —
    bit-exactly; the decoder's contract decode(encode(x)) == encoder
    reconstruction makes that achievable despite ADPCM being lossy
    vs the original signal.  The ADPCM state machine is inherently
    sequential (each step size depends on the whole prefix), so the
    oracle pins planted expectations rather than replaying it in SQL
    (the sketch-entry precedent).  Scale shape: 40 tiny blobs on the
    broadcast dim, fact side never shuffles."""
    from aroa_etl_spark.operators.multimodal import audio_features

    dim = spark.createDataFrame(
        [(k, bytearray(b)) for k, b, _n, _r, _p in _ADPCM_PLANT],
        "v_key int, content binary",
    )
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://adpcm/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(505).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("channels"),
            F.lit("wav").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return audio_features(media, strict=True).select(
        "media_id",
        "n_bytes",
        F.floor(F.col("rms") * 1e9 + F.lit(0.5)).cast("bigint").alias("rms_fp"),
        F.floor(F.col("peak") * 1e9 + F.lit(0.5)).cast("bigint").alias("peak_fp"),
    )


@query(
    "mm_audio_flac_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(600 AS BIGINT) AS n_in,
           CAST(600 AS BIGINT) AS n_out,
           CAST(list_sum(list_transform(range(0, 600), t ->
                floor(CAST(((t * (7 + doc_id % 40)) % 4001) - 2000 AS DOUBLE)
                      / 32768.0 * 1000000000.0 + 0.5)))
                AS BIGINT) AS vsum_fp
    FROM documents
    """,
)
def mm_audio_flac_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real FLAC decode under strict=True — the vendored pure-Python
    codec (operators/flaccodec.py, FLAC spec / RFC 9639: CRC-verified
    frames, fixed predictors, per-partition Rice).  40 distinct
    600-sample integer sawtooths (sample = ((t*(7+k)) % 4001) - 2000 —
    pure integer arithmetic, so the ORIGINAL waveform is exactly
    SQL-expressible) are FLAC-encoded at plan build (3 frames each:
    256+256+88 exercises multi-frame streams and partition orders) and
    broadcast-joined on doc_id % 40.  FLAC is LOSSLESS, so unlike the
    ADPCM entry no planted-reconstruction indirection is needed: the
    identity-rate resample checksum must equal the oracle's replay of
    the analytic signal itself, fixed-point per sample — any bit error
    anywhere in frame parse, Rice decode, or prediction shifts the
    BIGINT sum.  int16/32768 is exact in float32, so the kernel's
    float path introduces no rounding.  Scale shape: 40 tiny blobs
    broadcast, fact side never shuffles, decode Arrow-batched."""
    import numpy as np

    from aroa_etl_spark.operators.flaccodec import encode_flac
    from aroa_etl_spark.operators.multimodal import resample_audio

    t = np.arange(600, dtype=np.int64)
    blobs = [
        (
            k,
            bytearray(
                encode_flac(
                    (((t * (7 + k)) % 4001) - 2000).astype(np.int16),
                    rate=8000,
                    block_size=256,
                )
            ),
        )
        for k in range(40)
    ]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://flac/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(8000).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("channels"),
            F.lit(600).cast("int").alias("n_samples"),
            F.lit("flac").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return resample_audio(media, target_rate=8000, strict=True).select(
        "media_id", "n_in", "n_out", "vsum_fp"
    )


@query(
    "mm_png_palette_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(list_sum(list_transform(range(0, 512), p ->
                 (((doc_id % 40) + (p // 32) + (p % 32)) % 16) * 37 % 256
               + (((doc_id % 40) + (p // 32) + (p % 32)) % 16) * 59 % 256
               + (((doc_id % 40) + (p // 32) + (p % 32)) % 16) * 83 % 256
               + CASE WHEN (((doc_id % 40) + (p // 32) + (p % 32)) % 16) < 10
                      THEN (((doc_id % 40) + (p // 32) + (p % 32)) % 16) * 11 % 256
                      ELSE 255 END))
                AS BIGINT)::DOUBLE / 2048 AS mean_intensity,
           CAST(2 AS DOUBLE) AS aspect_ratio
    FROM documents
    """,
)
def mm_png_palette_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALETTED PNG (color type 3 — the form most web PNGs use) under
    strict=True: 40 distinct 32x16 frames of 4-BIT packed indices
    (index = (k + row + col) % 16), Adam7-INTERLACED, with a tRNS
    chunk giving entries 0-9 partial alpha — so sub-byte bit
    unpacking, interlaced palette passes, PLTE mapping, AND the RGBA
    alpha upgrade must all be correct for mean_intensity (over the 4
    decoded channels) to match the oracle's pure-arithmetic replay:
    palette entry j = (37j, 59j, 83j) mod 256, alpha 11j mod 256 below
    10 else opaque.  Completes gate attestation of every PNG decoder
    path (gray/RGB/RGBA via mm entries and pytest, 16-bit + interlace
    via mm_png_interlaced_real, palette here).  Scale shape identical:
    40 tiny broadcast blobs, fact side never shuffles."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import (
        encode_png_palette,
        image_features,
    )

    j = np.arange(16, dtype=np.int64)
    plte = np.stack([(j * 37) % 256, (j * 59) % 256, (j * 83) % 256],
                    axis=1).astype(np.uint8)
    trns = bytes(int(v * 11 % 256) for v in range(10))
    r = np.arange(16, dtype=np.int64)[:, None]
    c = np.arange(32, dtype=np.int64)[None, :]
    blobs = [
        (
            k,
            bytearray(
                encode_png_palette(
                    ((k + r + c) % 16).astype(np.uint8), plte,
                    trns=trns, depth=4, interlace=True,
                )
            ),
        )
        for k in range(40)
    ]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
        F.concat(F.lit("mem://pngp/"), F.col("doc_id")).alias("uri"),
        F.struct(
            F.lit(32).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(4).cast("int").alias("channels"),
            F.lit("png").alias("format"),
        ).alias("meta"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_mp3_header_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id,
                      1 + doc_id % 14 AS bi,
                      CAST(doc_id % 3 AS INT) AS si,
                      CAST(doc_id % 2 AS INT) AS pad,
                      3 + doc_id % 3 AS k
               FROM documents),
    v AS (SELECT media_id, k, pad,
                 ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bi] AS br,
                 ([44100,48000,32000])[si + 1] AS sr
          FROM p)
    SELECT media_id,
           CAST(k AS INT) AS n_frames,
           CAST(br AS INT) AS bitrate_kbps,
           CAST(sr AS INT) AS sample_rate,
           CAST(17 AS INT) AS id3_size,
           CAST(27 + k * ((144000 * br) // sr + pad) AS BIGINT) AS n_bytes,
           CAST((k * 1152 * 1000000) // sr AS BIGINT) AS duration_us
    FROM v
    """,
)
def mm_mp3_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio (MP3) frame-header scan — duration/bitrate metadata
    with NO audio decode (operators/multimodal.scan_mpeg_frames), the
    crawl-triage step that gates quota and quality decisions before a
    decoder ever runs.  Every document becomes a genuine MP3 container
    built in-plan: a 27-byte ID3v2.4 tag (10-byte header + 17-byte
    syncsafe-sized payload) followed by 3-5 CBR MPEG-1 Layer III
    frames whose bitrate (all 14 table indices across the corpus),
    sample rate (all 3), and padding bit come from doc_id arithmetic.
    Each frame PLANTS a false 0xFFFB sync word as its first payload
    bytes — a scanner that re-syncs instead of jumping the computed
    frame length (144000·br // sr + padding) double-counts frames and
    fails the value check, the WARC embedded-magic trap applied to
    MPEG.  The oracle replays the construction in exact integer
    arithmetic (frame lengths, byte totals, 1152-sample frame
    duration).  Scale: mapInPandas over the blob column, zero shuffle,
    O(n_frames) per blob."""
    from aroa_etl_spark.operators.multimodal import scan_mpeg_frames

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    br_tab = F.array(*[F.lit(x) for x in
                       (32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                        192, 224, 256, 320)])
    sr_tab = F.array(F.lit(44100), F.lit(48000), F.lit(32000))
    staged = docs.select(
        F.col("doc_id").alias("media_id"),
        (1 + F.col("doc_id") % 14).cast("int").alias("bi"),
        (F.col("doc_id") % 3).cast("int").alias("si"),
        (F.col("doc_id") % 2).cast("int").alias("pad"),
        (3 + F.col("doc_id") % 3).cast("int").alias("k"),
    ).select(
        "media_id", "bi", "si", "pad", "k",
        F.element_at(br_tab, F.col("bi")).alias("br"),
        F.element_at(sr_tab, F.col("si") + 1).alias("sr"),
    ).select(
        "media_id", "k",
        # header: FF FB (sync + MPEG-1 Layer III, no CRC), then
        # b2 = bitrate_idx<<4 | sr_idx<<2 | padding<<1, then b3 = 00
        F.concat(
            F.lit("FFFB"),
            F.lpad(F.hex((F.col("bi") * 16 + F.col("si") * 4
                          + F.col("pad") * 2).cast("int")), 2, "0"),
            F.lit("00"),
            # payload opens with a planted false sync word
            F.lit("FFFB"),
        ).alias("head_hex"),
        ((F.lit(144000) * F.col("br")).cast("long")
         / F.col("sr").cast("long")).cast("long").alias("flen_nopad"),
        F.col("pad"),
    ).select(
        "media_id", "k",
        F.concat(
            F.col("head_hex"),
            F.expr("repeat('00', CAST(flen_nopad + pad - 6 AS INT))"),
        ).alias("frame_hex"),
    )
    media = staged.select(
        "media_id",
        F.unhex(
            F.concat(
                # ID3v2.4: 'ID3', version 4.0, flags 0, syncsafe size 17
                F.lit("494433040000" + "00000011" + "00" * 17),
                F.expr("repeat(frame_hex, k)"),
            )
        ).alias("content"),
    )
    return scan_mpeg_frames(media, strict=True)


@query(
    "mm_jpeg_dims_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents)
    SELECT media_id,
           CAST(8 + (k % 5) * 8 AS INT) AS width,
           CAST(8 + (k % 7) * 8 AS INT) AS height,
           CAST(1 AS INT) AS n_components,
           CAST(k % 2 AS INT) AS progressive
    FROM p
    """,
)
def mm_jpeg_dims_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG resolution/type triage with NO decode
    (operators/multimodal.scan_jpeg_markers): the marker walk skips
    APP/DQT/DHT segments by their self-declared lengths and reads
    width/height/components/progressive straight from the first SOF
    header — the gate a crawl pipeline applies before spending any
    IDCT (drop thumbnails, route progressive files, bucket by
    resolution).  The 40-blob broadcast dim carries REAL encoder
    output at 40 distinct geometries (widths 8-40 × heights 8-56 from
    doc_id arithmetic; even k baseline SOF0, odd k progressive SOF2 —
    so the flag is read from genuine marker structure, not echoed
    metadata).  The oracle replays the geometry arithmetic; blob byte
    sizes are encoder-dependent and stay out of the checked columns.
    Same 100 TB shape as every codec entry: dim broadcast, fact never
    shuffles, mapInPandas kernel."""
    from aroa_etl_spark.operators.jpegcodec import (
        encode_baseline_jpeg,
        encode_progressive_jpeg,
    )
    from aroa_etl_spark.operators.multimodal import scan_jpeg_markers

    import numpy as np

    blobs = []
    for k in range(40):
        w = 8 + (k % 5) * 8
        h = 8 + (k % 7) * 8
        pix = np.full((h, w), 128, dtype=np.uint8)
        enc = encode_progressive_jpeg if k % 2 else encode_baseline_jpeg
        blobs.append((k, bytearray(enc(pix, quality=85))))
    # spread=False: the marker walk is O(header) — the v_key exchange
    # cost more than the serial walk it parallelized (0.78x)
    media = _dim_media(spark, sf_dir, blobs, spread=False)
    return scan_jpeg_markers(media, strict=True).select(
        "media_id", "width", "height", "n_components", "progressive"
    )


def _mp4_fixture_blobs() -> "list[tuple[int, bytearray]]":
    """The 40 MJPEG-in-MP4 fixture variants mm_mp4_box_scan and
    mm_mp4_video_decode_real share: variant k carries 1+k%3 flat
    8x16 frames at v = 128 + 5*(((k + 7*j) % 40) - 20) (the DC-exact
    quality-85 trick — decode returns exactly v at every pixel),
    per-sample durations 10 + ((k+j) % 5) at media timescale
    100*(1+k%4), mvhd VERSION alternating 0/1, mdat ALWAYS in the
    64-bit largesize form, stco/co64 alternating (k%4), 1-or-2
    samples per chunk (k%2 — trailing partial chunks get their own
    stsc entry), and k%3 minimal extra traks for the track census."""
    import numpy as np

    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import encode_mp4_mjpeg

    blobs = []
    for k in range(40):
        n = 1 + k % 3
        frames = [
            encode_baseline_jpeg(
                np.full((8, 16), 128 + 5 * (((k + 7 * j) % 40) - 20),
                        dtype=np.uint8),
                quality=85,
            )
            for j in range(n)
        ]
        blobs.append((k, bytearray(encode_mp4_mjpeg(
            frames,
            width=16,
            height=8,
            movie_timescale=600 + (k % 5) * 300,
            movie_duration=1200 + k,
            media_timescale=100 * (1 + k % 4),
            sample_durations=[10 + ((k + j) % 5) for j in range(n)],
            mvhd_version=k % 2,
            largesize_mdat=True,
            n_extra_traks=k % 3,
            co64=(k % 4 == 0),
            samples_per_chunk=1 + k % 2,
        ))))
    return blobs


def _mp4_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dim_media(
        spark, sf_dir, _memo_blobs("mp4", _mp4_fixture_blobs)
    )


@query(
    "mm_mp4_box_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    k2s AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    fr AS (SELECT k2, CAST(unnest(range(0, 1 + k2 % 3)) AS INT) AS j
           FROM k2s),
    ds AS (SELECT k2, SUM(10 + ((k2 + j) % 5)) AS dsum FROM fr GROUP BY k2)
    SELECT media_id,
           CAST(3 AS INT) AS n_top_boxes,
           'isom' AS major_brand,
           CAST(1 + k % 3 AS INT) AS n_tracks,
           CAST(600 + (k % 5) * 300 AS BIGINT) AS timescale,
           CAST(((1200 + k) * 1000) // (600 + (k % 5) * 300) AS BIGINT)
             AS duration_ms,
           'jpeg' AS video_codec,
           CAST(1 + k % 3 AS BIGINT) AS n_samples,
           CAST((dsum * 1000) // (100 * (1 + k % 4)) AS BIGINT)
             AS media_duration_ms
    FROM p JOIN ds ON ds.k2 = p.k
    """,
)
def mm_mp4_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO BMFF (MP4) container triage, sample-table-deep: every
    document maps to a GENUINE MP4
    written by the stdlib-only BMFF muxer (encode_mp4_mjpeg) — ftyp
    isom/mp41, moov with mvhd VERSION ALTERNATING 0/1 (both the 32-
    and 64-bit time layouts are walked), a full video trak
    (tkhd/mdhd/hdlr 'vide'/vmhd/dinf/stbl), k%3 minimal extra traks,
    and an mdat that ALWAYS uses the 64-bit ``size==1`` largesize form
    (the >4 GiB real-world shape).  Beyond the movie header, the scan
    now reports what the SAMPLE TABLES say: stsd codec fourcc
    ('jpeg'), stsz sample count, and media_duration_ms as the stts
    run-length sum scaled by the mdhd media timescale — with variant
    durations 10+((k+j)%5) the stts carries MULTIPLE runs, so a parser
    that reads only the first run fails the integer-math oracle.
    stco/co64 alternate by k%4 and samples-per-chunk by k%2, so both
    offset widths and the stsc grouping arithmetic are exercised.
    mdat_bytes is projected away: JPEG payload sizes are not
    SQL-replayable (the decode entry attests payload placement
    instead).  Scale: 40-blob broadcast dim, mapInPandas, zero
    shuffle, O(#boxes) per blob."""
    from aroa_etl_spark.operators.multimodal import scan_mp4_boxes

    media = _mp4_media(spark, sf_dir)
    return scan_mp4_boxes(media, strict=True).select(
        "media_id", "n_top_boxes", "major_brand", "n_tracks", "timescale",
        "duration_ms", "video_codec", "n_samples", "media_duration_ms",
    )


@query(
    "mm_mp4_video_decode_real",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    k2s AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    fr AS (SELECT k2, CAST(unnest(range(0, 1 + k2 % 3)) AS INT) AS j
           FROM k2s),
    w AS (SELECT k2, j,
                 COALESCE(SUM(10 + ((k2 + j) % 5)) OVER (
                     PARTITION BY k2 ORDER BY j
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS dts
          FROM fr)
    SELECT media_id,
           j AS frame_index,
           CAST((dts * 1000) // (100 * (1 + k % 4)) AS BIGINT) AS pts_ms,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(128 + 5 * (((k + 7 * j) % 40) - 20) AS DOUBLE)
             AS mean_intensity
    FROM p JOIN w ON w.k2 = p.k AND w.j < 1 + p.k % 3
    """,
)
def mm_mp4_video_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 video decode: demux through the
    ISO BMFF sample tables — stsd fourcc routes, stsc/stco(co64)
    chunk arithmetic locates every sample, stsz sizes it, stts times
    it — and decode each MJPEG sample through the vendored pure-NumPy
    JPEG codec (operators/jpegcodec.py), the BMFF sibling of
    mm_video_decode_real's AVI path.  Frame j of variant k is a flat
    8x16 grayscale JPEG at v = 128 + 5*(((k + 7*j) % 40) - 20) — the
    DC-exact quality-85 trick — so a CORRECT demux+decode returns
    exactly v at every pixel of exactly the right frame, and pts_ms
    is the integer stts running sum over VARIANT durations scaled by
    the mdhd timescale: any slip in chunk offsets (stco vs co64, k%4),
    sample grouping (1-or-2 per chunk, k%2, trailing partial chunk),
    or time arithmetic shifts the (frame_index, pts_ms, mean) triples
    the oracle replays in closed form.  Scale: 40-blob broadcast dim,
    mapInPandas, zero shuffle; every_n bounds decode work on long
    clips and mm_mp4_box_scan is the triage gate that routes
    non-MJPEG files away first."""
    from aroa_etl_spark.operators.multimodal import mp4_video_frame_features

    media = _mp4_media(spark, sf_dir)
    return mp4_video_frame_features(media, every_n=1, strict=True)


@query(
    "s_tar_webdataset",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    m AS (SELECT media_id, k, unnest(range(0, 1 + k % 3)) AS i FROM p)
    SELECT media_id,
           CAST(i AS INT) AS member_idx,
           'sample/' || CAST(k AS VARCHAR) || '-' || CAST(i AS VARCHAR)
             || '.txt' AS name,
           CAST(length('payload-' || CAST(k AS VARCHAR) || '-'
                       || CAST(i AS VARCHAR)) AS BIGINT) AS size,
           md5('payload-' || CAST(k AS VARCHAR) || '-'
               || CAST(i AS VARCHAR)) AS payload_md5
    FROM m
    """,
)
def s_tar_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar shard ingestion (sources/tarfmt.py): the
    standard packaging for large multimodal training corpora — one
    shard = one tar, one sample = adjacently-stored members.  The
    40-blob broadcast dim carries GENUINE archives written by the
    stdlib tarfile writer (1-3 members each, names and payloads from
    k-arithmetic), and the hand-rolled USTAR kernel walks the 512-byte
    header blocks — name, octal size, typeflag, the spec checksum
    (header summed with the checksum field blanked), block padding,
    two-zero-block terminator — exploding each archive into one row
    per member with the payload md5 value-checked by the oracle's own
    md5 of the replayed construction.  Scale shape: dim broadcast,
    fact never shuffles, mapInPandas explode — Common Crawl-sized
    shard sets read one shard per task with zero shuffle."""
    import io
    import tarfile

    from aroa_etl_spark.sources.tarfmt import parse_tar_members

    blobs = []
    for k in range(40):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for i in range(1 + k % 3):
                payload = f"payload-{k}-{i}".encode()
                info = tarfile.TarInfo(name=f"sample/{k}-{i}.txt")
                info.size = len(payload)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(payload))
        blobs.append((k, bytearray(buf.getvalue())))
    # spread=False: the USTAR header walk is cheap — the v_key exchange
    # cost more than the serial walk it parallelized (0.74x)
    media = _dim_media(spark, sf_dir, blobs, spread=False)
    return parse_tar_members(media, strict=True)


@query(
    "mm_tar_sample_decode",
    oracle="""
    WITH g AS (SELECT k * 6 + s AS sid
               FROM (SELECT unnest(range(0, 10)) AS k),
                    (SELECT unnest(range(0, 6)) AS s)),
    m AS (SELECT sid, CAST(sid % 4 AS INT) AS label,
                 md5('img-' || CAST(sid AS VARCHAR))
                   || md5('img-' || CAST(sid AS VARCHAR) || 'x') AS hx
          FROM g)
    SELECT CAST(sid AS BIGINT) AS media_id,
           label,
           CAST(2 AS BIGINT) AS n_members,
           CAST(47 AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, 37),
                                        i -> ascii(substr(hx, i, 1)))) AS BIGINT
               )::DOUBLE / 36 AS mean_intensity
    FROM m ORDER BY media_id
    """,
)
def mm_tar_sample_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full WebDataset training-loader lifecycle in one plan:
    ``format("tar")`` with ``.option("payload","true")`` (raw member
    bytes fused into the shard scan) → assemble_webdataset_samples
    (one row per sample: binary ``ppm`` tensor column + ``cls`` label
    sidecar) → the REAL netpbm decoder under ``strict=True``
    (operators/multimodal.image_features) — sample→tensor-columns
    end-to-end.  Shards are
    genuine stdlib-tarfile archives of 4×3 P6 images whose pixel bytes
    are md5-hex ASCII, so the oracle replays mean intensity EXACTLY
    (integer ascii sum / 36, both engines' double division — the
    mm_image_decode_real arithmetic) keyed by the label decoded from
    the cls member.  Scale: one InputPartition per shard, one
    (shard, sample_key) shuffle for assembly, broadcast join of the
    60-row label dim back onto the decoded features."""
    import io
    import os
    import shutil
    import tarfile

    from aroa_etl_spark.operators.multimodal import image_features
    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.sources.tar_datasource import register_tar_source
    from aroa_etl_spark.sources.tarfmt import assemble_webdataset_samples

    stage = _scratch_stage("tar_sample_decode", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    import hashlib as _hashlib

    for k in range(10):
        with tarfile.open(
            os.path.join(stage, f"shard{k:02d}.tar"), "w",
            format=tarfile.USTAR_FORMAT,
        ) as tf:
            def add(name: str, payload: bytes) -> None:
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(payload))

            for s in range(6):
                sid = k * 6 + s
                hx = (
                    _hashlib.md5(f"img-{sid}".encode()).hexdigest()
                    + _hashlib.md5(f"img-{sid}x".encode()).hexdigest()
                )
                add(f"{k:02d}/{sid:04d}.ppm",
                    b"P6\n4 3\n255\n" + hx[:36].encode())
                add(f"{k:02d}/{sid:04d}.cls", str(sid % 4).encode())
    register_tar_source(spark)
    members = (
        spark.read.format("tar").option("payload", "true")
        .load(os.path.join(stage, "*.tar"))
    )
    samples = assemble_webdataset_samples(
        members, ["ppm", "cls"], value_col="payload"
    ).select(
        F.split_part(F.col("sample_key"), F.lit("/"), F.lit(2))
        .cast("long").alias("media_id"),
        F.decode(F.col("cls"), "UTF-8").cast("int").alias("label"),
        F.col("n_members"),
        F.concat(F.lit("mem://wds/"), F.col("sample_key")).alias("uri"),
        F.col("ppm").alias("content"),
        F.struct(
            F.lit(4).cast("int").alias("width"),
            F.lit(3).cast("int").alias("height"),
            F.lit(3).cast("int").alias("channels"),
            F.lit("ppm").alias("format"),
        ).alias("meta"),
    )
    feats = image_features(samples, strict=True)
    return (
        feats.join(
            F.broadcast(samples.select("media_id", "label", "n_members")),
            "media_id",
        )
        .select("media_id", "label", "n_members", "n_bytes", "mean_intensity")
        .orderBy("media_id")
    )


@query(
    "mm_pdf_triage",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents)
    SELECT media_id,
           '1.' || CAST(4 + k % 4 AS VARCHAR) AS version,
           CASE WHEN k % 3 = 2 THEN 'stream' ELSE 'table' END AS xref_kind,
           CAST(2 + (1 + k % 5)
                + CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END
                + CASE WHEN k % 3 = 2 THEN 2 ELSE 0 END AS INT) AS n_objects,
           CAST(1 + k % 5 AS INT) AS n_pages,
           CAST(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS INT) AS encrypted,
           CAST(1 AS INT) AS readable,
           CAST(1 AS INT) AS xref_ok
    FROM p
    """,
)
def mm_pdf_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF structure triage (operators/pdfscan.scan_pdf_structure —
    the full ISO 32000 cross-reference walk): spec version, object/
    page counts, encryption flag, and offset-verified xref integrity
    WITHOUT rendering — the well-formed/page-count/encrypted gates a
    document pipeline applies before OCR or text extraction.  The
    40-blob dim carries real PDFs (build_pdf: catalog + pages node +
    1-5 page objects, versions 1.4-1.7); every 7th blob is GENUINELY
    ENCRYPTED (operators/pdfcrypt.py, the ISO 32000
    standard security handler with empty user+owner passwords, modes
    rotating RC4-128 / AES-128 /AESV2 / AES-256 /AESV3 R6): the
    scanner authenticates the empty user password against the real
    /O //U (/UE) material and reports readable=1, and in the objstm
    layout the object-stream payload is genuinely AES/RC4 ciphertext
    the verification walk must decrypt with the ObjStm's own object
    key.  Every third blob uses the PDF 1.5+ LAYOUT — dict objects
    packed into a /Type /ObjStm and a FlateDecode /Type /XRef stream
    (PNG /Predictor 12 on even k, predictor-free on odd): W-field
    rows decode, type-2 entries
    verify through the ObjStm header, and the objstm + xref-stream
    objects themselves add 2 to n_objects, all replayed by the oracle
    from doc_id arithmetic (n_bytes excluded: offset-digit growth
    makes it honest to measure, tedious to replay).  Scale: dim
    broadcast, mapInPandas, O(header+xref) per blob — page content
    streams never read."""
    from aroa_etl_spark.operators.pdfscan import scan_pdf_structure

    def build() -> "list[tuple[int, bytearray]]":
        from aroa_etl_spark.operators.pdfscan import build_pdf

        return [
            (
                k,
                bytearray(
                    build_pdf(
                        1 + k % 5,
                        version=f"1.{4 + k % 4}",
                        encrypted=k % 7 == 0,
                        crypt=("rc4", "aesv2", "aesv3")[(k // 7) % 3],
                        xref_stream=k % 3 == 2,
                        predictor=12 if k % 2 == 0 else 1,
                    )
                ),
            )
            for k in range(40)
        ]

    media = _dim_media(spark, sf_dir, _memo_blobs("pdf_triage", build))
    return scan_pdf_structure(media, strict=True).drop("n_bytes")


def _pdf_text_blobs() -> "list[tuple[int, bytearray]]":
    """The 40 PDF fixture variants of mm_pdf_text_extract — the single
    most expensive fixture synth in the catalog (2.6 s/call:
    AES-256 KDF rounds dominate), hence the per-process memo."""
    from aroa_etl_spark.operators.pdfscan import build_pdf_with_text

    blobs = []
    for k in range(40):
        texts = [f"Doc {k} page {j} (note)" for j in range(1 + k % 3)]
        blobs.append(
            (
                k,
                bytearray(
                    build_pdf_with_text(
                        texts,
                        compress=k % 2 == 1,
                        xref_stream=k % 3 == 2,
                        predictor=12 if k % 2 == 0 else 1,
                        hex_strings=k % 5 == 4,
                        type0=k % 8 == 6,
                        # every 8th blob shows text through a
                        # PREDEFINED CMap (UniGB-UCS2-H, no /ToUnicode)
                        # whose codes are UTF-16BE by definition
                        predefined_cmap=(
                            "UniGB-UCS2-H" if k % 8 == 3 else None
                        ),
                        encrypt=(
                            ("rc4", "aesv2", "aesv3")[(k // 7) % 3]
                            if k % 7 == 0
                            else None
                        ),
                    )
                ),
            )
        )
    return blobs


@query(
    "mm_pdf_text_extract",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    pg AS (SELECT media_id, k, unnest(range(0, 1 + k % 3)) AS j FROM p)
    SELECT media_id,
           CAST(j AS INT) AS page_idx,
           'Doc ' || CAST(k AS VARCHAR) || ' page ' || CAST(j AS VARCHAR)
             || ' (note)' AS text,
           CAST(18 + len(CAST(k AS VARCHAR)) AS INT) AS n_chars,
           CAST(k % 2 AS INT) AS compressed
    FROM pg
    """,
)
def mm_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page PDF text extraction (operators/pdfscan.
    extract_pdf_text): the step that turns a crawled PDF into training
    text — objects resolve AT THEIR XREF OFFSETS (both
    classic tables and PDF 1.5+ xref streams, page dicts packed into
    object streams on every third blob), /Contents streams FlateDecode-
    inflate where declared, and Tj show-strings parse in BOTH forms —
    escape-correct paren literals (the planted '(note)' parens
    round-trip through PDF string escaping) and, on every fifth blob,
    hex strings (<...> Tj).  It covers the dominant real-world hard
    cases: every 8th blob shows its text through a REAL
    Identity-H Type0 font — 2-byte CID codes routed through a
    /ToUnicode CMap (identity bfrange for ASCII), the path virtually
    all modern PDF text takes — the CJK-crawl shape on
    another 8th of the dim: a Type0 font with the PREDEFINED
    /UniGB-UCS2-H encoding and NO /ToUnicode, whose 2-byte codes are
    UTF-16BE by the CMap family's public definition — and every 7th
    blob is GENUINELY ENCRYPTED (empty user password; RC4-128 / AES-128 / AES-256-R6
    rotating), so content and CMap streams are ciphertext the
    extractor must authenticate and decrypt per object.  Layout,
    string form, font machinery, and encryption never change the
    extracted text, so ONE oracle covers every variant; half the dim
    compresses its streams, half stores them plain.  Scale: dim
    broadcast, mapInPandas, O(stream bytes) per page."""
    from aroa_etl_spark.operators.pdfscan import extract_pdf_text

    media = _dim_media(spark, sf_dir, _memo_blobs("pdf_text", _pdf_text_blobs))
    return extract_pdf_text(media, strict=True)


@query(
    "mm_image_entropy",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    d AS (SELECT media_id, k,
                 CASE WHEN k % 11 = 0 THEN 64 ELSE 1 + k % 63 END AS na,
                 CASE WHEN k % 11 = 0 THEN 0 ELSE 64 - (1 + k % 63) END AS nb,
                 16 + k AS a
          FROM p),
    e AS (SELECT media_id, na, nb, a,
                 CASE WHEN nb = 0 THEN 0
                      ELSE CAST(round(1e9 * na * log2(64.0 / na) / 64)
                                AS BIGINT)
                           + CAST(round(1e9 * nb * log2(64.0 / nb) / 64)
                                  AS BIGINT)
                 END AS efp
          FROM d)
    SELECT media_id,
           CAST(64 AS BIGINT) AS n_pixels,
           CAST(CASE WHEN nb = 0 THEN 1 ELSE 2 END AS INT) AS n_distinct,
           CAST(a AS INT) AS v_min,
           CAST(CASE WHEN nb = 0 THEN a ELSE 200 END AS INT) AS v_max,
           CAST(efp AS BIGINT) AS entropy_fp,
           round(CAST(efp AS DOUBLE) / 1e9, 6) AS entropy_bits
    FROM e
    """,
)
def mm_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-information image gating
    (operators/multimodal.image_entropy): grayscale Shannon entropy +
    value range per image — flat placeholders score 0 bits and get
    culled before any expensive downstream vision step.  The 40-blob
    dim carries real P6 PPMs (8×8, two-value patterns with
    doc_id-arithmetic counts; every 11th flat), decoded through the
    real codec path; per-bin 1e-9 fixed-point rounding before the
    integer sum makes the entropy order-free, and the oracle replays
    the two-bin formula (including the flat 0-bit degenerate) in
    closed form.  Scale: dim broadcast, mapInPandas, one bincount per
    image."""
    from aroa_etl_spark.operators.multimodal import image_entropy

    blobs = []
    for k in range(40):
        na = 64 if k % 11 == 0 else 1 + k % 63
        a, b = 16 + k, 200
        vals = [a] * na + [b] * (64 - na)
        body = bytes(v for v in vals for _ in range(3))
        blobs.append((k, bytearray(b"P6 8 8 255\n" + body)))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    media = media.withColumn(
        "meta",
        F.struct(
            F.lit(8).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(3).cast("int").alias("channels"),
            F.lit("ppm").alias("format"),
        ),
    )
    return image_entropy(media, strict=True)


@query(
    "mm_ogg_comments",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    d AS (SELECT media_id, k,
                 CASE WHEN k % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
                 'vend' || CAST(k % 3 AS VARCHAR) AS vendor
          FROM p),
    legs AS (
      SELECT media_id, codec, vendor, 0 AS comment_idx, 'TITLE' AS tag,
             'Track ' || CAST(k AS VARCHAR) AS value
      FROM d
      UNION ALL
      SELECT media_id, codec, vendor, 1, 'ARTIST',
             'Artist ' || CAST(k % 7 AS VARCHAR)
      FROM d
      UNION ALL
      SELECT media_id, codec, vendor, 2, 'ALBUM',
             'Album ' || CAST(k % 4 AS VARCHAR)
      FROM d WHERE k % 2 = 0
      UNION ALL
      SELECT media_id, codec, vendor,
             CASE WHEN k % 2 = 0 THEN 3 ELSE 2 END, 'DESCRIPTION',
             repeat('x', 300)
      FROM d WHERE k % 5 = 0)
    SELECT media_id, codec, vendor, CAST(comment_idx AS INT) AS comment_idx,
           tag, value
    FROM legs
    """,
)
def mm_ogg_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VorbisComment/OpusTags extraction
    (operators/multimodal.scan_ogg_comments) — the Ogg twin of the MP3
    ID3v2 entry: one row per user comment with vendor + codec, parsed
    from the SECOND packet of the BOS stream per the Vorbis I /
    RFC 7845 header order (so the walk reassembles packets through the
    lacing table; every 5th fixture plants a 300-byte DESCRIPTION
    comment to pin the multi-segment 255-lacing path, and every page
    carries a correct Ogg CRC).  Keys are written lower-case and must
    report upper-cased (the spec's case-insensitivity rule); the
    Vorbis framing bit is verified.  The oracle replays tags, values,
    indices, and the codec/vendor arithmetic.  Scale: dim broadcast,
    fact never shuffles, mapInPandas."""
    from aroa_etl_spark.operators.multimodal import (
        build_comment_packet,
        build_ogg_page,
        scan_ogg_comments,
    )

    blobs = []
    for k in range(40):
        codec = "vorbis" if k % 2 == 0 else "opus"
        if codec == "vorbis":
            ident = (
                b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([1])
                + (16000).to_bytes(4, "little")
                + (0).to_bytes(4, "little") * 3 + bytes([0xB8, 0x01])
            )
        else:
            ident = (
                b"OpusHead" + bytes([1, 1]) + (0).to_bytes(2, "little")
                + (16000).to_bytes(4, "little")
                + (0).to_bytes(2, "little") + bytes([0])
            )
        comments = [("title", f"Track {k}"), ("artist", f"Artist {k % 7}")]
        if k % 2 == 0:
            comments.append(("album", f"Album {k % 4}"))
        if k % 5 == 0:
            comments.append(("description", "x" * 300))
        pkt = build_comment_packet(codec, f"vend{k % 3}", comments)
        pages = build_ogg_page(k, 0, 0, ident, header_type=0x02)
        pages += build_ogg_page(k, 1, 0, pkt)
        blobs.append((k, bytearray(pages)))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return scan_ogg_comments(media, strict=True)


@query(
    "mm_audio_silence_trim",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    d AS (SELECT media_id, k, k % 4 AS a, 1 + k % 5 AS b, k % 3 AS c,
                 CASE WHEN k % 19 = 0 THEN 1 ELSE 0 END AS allsil
          FROM p)
    SELECT media_id,
           CAST(16000 AS INT) AS sample_rate,
           CAST(a + b + c AS INT) AS n_frames,
           CAST(CASE WHEN allsil = 1 THEN a + b + c ELSE a + c END AS INT)
             AS n_silent,
           CAST(CASE WHEN allsil = 1 THEN a + b + c ELSE a END AS INT)
             AS lead_silent,
           CAST(CASE WHEN allsil = 1 THEN 0 ELSE c END AS INT)
             AS trail_silent,
           CAST(CASE WHEN allsil = 1 THEN 0 ELSE b END AS INT)
             AS kept_frames,
           CAST(CASE WHEN allsil = 1 THEN 0 ELSE b * 10 END AS BIGINT)
             AS kept_ms
    FROM d
    """,
)
def mm_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-VAD silence accounting
    (operators/multimodal.audio_silence_segments): per-clip leading/
    trailing silent-frame counts and the kept speech duration — the
    trim step an audio curation pipeline runs so storage and duration
    quotas count SPEECH, not dead air.  The 40-blob broadcast dim
    carries real mono PCM16 WAVs (build_wav_pcm16) shaped as
    silence(a frames) + tone(b) + silence(c) from doc_id arithmetic —
    plus all-silent clips (k%19==0) pinning the lead=n/trail=0
    degenerate contract.  Classification is an exact int64 |sample|
    sum per 160-sample frame vs an integer threshold, so the oracle
    replays every count and the 10ms-per-frame kept_ms in closed form.
    Scale: dim broadcast, fact never shuffles, mapInPandas."""
    from aroa_etl_spark.operators.multimodal import (
        audio_silence_segments,
        build_wav_pcm16,
    )

    blobs = []
    for k in range(40):
        a, b, c = k % 4, 1 + k % 5, k % 3
        amp = 0 if k % 19 == 0 else 500 + 25 * k
        samples = [0] * (a * 160) + [amp] * (b * 160) + [0] * (c * 160)
        blobs.append((k, bytearray(build_wav_pcm16(samples, 16000))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return audio_silence_segments(
        media, frame_len=160, threshold_abs_sum=1000, strict=True
    )


@query(
    "mm_webp_dims_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    d AS (SELECT media_id, k,
                 k % 3 AS kind,
                 16 + (k * 13) % 1000 AS w,
                 16 + (k * 7) % 800 AS h,
                 CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS al,
                 CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS an,
                 10 + k % 30 AS pad
          FROM p)
    SELECT media_id,
           CASE kind WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
                     ELSE 'vp8x' END AS format,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(CASE WHEN kind = 0 THEN 0 ELSE al END AS INT) AS has_alpha,
           CAST(CASE WHEN kind = 2 THEN an ELSE 0 END AS INT) AS has_anim,
           CAST(CASE WHEN kind = 2 THEN 2 ELSE 1 END AS INT) AS n_chunks,
           CAST(12 + CASE kind
                 WHEN 0 THEN 8 + (10 + pad) + (10 + pad) % 2
                 WHEN 1 THEN 8 + (5 + pad) + (5 + pad) % 2
                 ELSE 18 + 8 + (10 + pad) + (10 + pad) % 2
               END AS BIGINT) AS n_bytes
    FROM d
    """,
)
def mm_webp_dims_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP triage (operators/multimodal.scan_webp): dimensions, alpha/
    animation flags, and chunk census for all three header flavors —
    VP8 lossy keyframe (14-bit dims after the 0x9D012A start code),
    VP8L lossless (packed 14+14+alpha bits), VP8X extended (24-bit
    canvas + feature flags) — WebP being the third big crawl image
    format after JPEG/PNG.  The 40-blob broadcast dim is assembled by
    build_webp (stdlib RIFF muxer, even-padded chunks); every header
    field and the total byte count derive from doc_id arithmetic the
    oracle replays, so a mis-parsed bit anywhere fails the hash.
    Scale: dim broadcast, fact never shuffles, mapInPandas."""
    from aroa_etl_spark.operators.multimodal import build_webp, scan_webp

    blobs = []
    for k in range(40):
        kind = ("vp8", "vp8l", "vp8x")[k % 3]
        blobs.append(
            (
                k,
                bytearray(
                    build_webp(
                        kind,
                        16 + (k * 13) % 1000,
                        16 + (k * 7) % 800,
                        alpha=k % 4 == 0,
                        anim=k % 5 == 0,
                        pad_payload=10 + k % 30,
                    )
                ),
            )
        )
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return scan_webp(media, strict=True)


@query(
    "mm_webp_decode_real",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents)
    SELECT media_id,
           CASE WHEN k % 4 = 2
                THEN CAST(list_sum(list_transform(range(0, 512),
                     i -> ((((k * 7 + (i // 32) * 5 + (i % 32) * 3) % 256)
                            % 13) * 19 + k) % 256)) AS BIGINT)::DOUBLE / 512
                ELSE CAST(list_sum(list_transform(range(0, 512),
                     i -> (k * 7 + (i // 32) * 5 + (i % 32) * 3) % 256))
                     AS BIGINT)::DOUBLE / 512
           END AS mean_intensity,
           CAST(2 AS DOUBLE) AS aspect_ratio
    FROM p
    """,
)
def mm_webp_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP VP8L lossless decode under strict=True
    (operators/vp8lcodec.py, the vendored vectorized Huffman+LZ77
    codec): 40 distinct 32x16
    grayscale blobs rotate the format's machinery by k%4 — plain
    prefix-coded literals, the SUBTRACT_GREEN transform (half of those
    blobs ALSO carrying CROSS_COLOR on top), the COLOR_INDEXING
    transform (a <=13-color palette, so indices BUNDLE
    two-per-green-byte), and a 4-bit color cache (half of those blobs
    ALSO carrying the PREDICTOR transform) — with the k%8==4 slots
    stacking PREDICTOR + CROSS_COLOR and the predictor blobs using
    4x4 tiles so the mode cycle exercises the FULL family 0-13
    (including 11 Select / 12-13 ClampAddSubtract) — all over LZ77
    left/above back-references in both distance-code forms (the 2D
    neighbor map and plain code-120 distances).  VP8L is lossless, so
    mean_intensity matches the oracle's pure-arithmetic replay EXACTLY
    only if the bit reader, canonical prefix decode, code-length
    codes, all four transforms, bundling, cache hashing, and the copy
    loop are all correct — the same exact-oracle discipline as the
    GIF/PNG/FLAC codecs.  Lossy VP8 stays the named boundary.
    Scale: 40-blob broadcast dim; the fact side is REPARTITIONED to
    the session's core count before the decode kernel — a decode-bound
    mapInPandas stage should scale with cores, and at bench scale the
    small parquet input yields ~4 splits that would starve the other
    28 threads (at 100 TB the input arrives pre-split and the
    repartition of pointer-sized rows is noise)."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import image_features
    from aroa_etl_spark.operators.vp8lcodec import encode_webp_vp8l

    def _build() -> list:
        r = np.arange(16, dtype=np.int64)[:, None]
        c = np.arange(32, dtype=np.int64)[None, :]
        blobs = []
        for k in range(40):
            v = (k * 7 + r * 5 + c * 3) % 256
            if k % 4 == 2:
                g = ((v % 13) * 19 + k) % 256  # <=13 colors -> bundled palette
                img = np.repeat(g[..., None], 3, axis=2).astype(np.uint8)
                blob = encode_webp_vp8l(img, palette=True)
            else:
                img = np.repeat(v[..., None], 3, axis=2).astype(np.uint8)
                blob = encode_webp_vp8l(
                    img,
                    subtract_green=k % 4 == 1,
                    # 4x4 tiles -> 32 tiles -> the %14 mode cycle covers
                    # the whole predictor family incl. Select/ClampAdd
                    predictor=k % 8 in (4, 7),
                    predictor_size_bits=2,
                    cross_color=k % 8 in (4, 5),
                    cache_bits=4 if k % 4 == 3 else 0,
                    # the k%8==1 slots wrap in a VP8X extended container
                    extended=k % 8 == 1,
                )
            blobs.append((k, bytearray(blob)))
        return blobs

    # per-process fixture memo: the 40 VP8L encodes are
    # pure functions of constants and cost a measured 0.24 s of driver
    # time per call — reps 2..N time the decode the oracle attests
    blobs = _memo_blobs("webp_vp8l", _build)
    # _dim_media hash-spreads the fact on v_key BEFORE the broadcast
    # join: a post-join round-robin repartition would shuffle the blob
    # bytes themselves and scattered equal payloads across
    # tasks; keying on v_key moves only (media_id, v_key) rows and
    # co-locates duplicates for the kernel's per-task decode memo.
    media = _dim_media(
        spark, sf_dir, blobs,
        extra_cols=(
            F.concat(F.lit("mem://webp/"), F.col("doc_id")).alias("uri"),
            F.struct(
                F.lit(32).cast("int").alias("width"),
                F.lit(16).cast("int").alias("height"),
                F.lit(3).cast("int").alias("channels"),
                F.lit("webp").alias("format"),
            ).alias("meta"),
        ),
    )
    return image_features(media, strict=True).select(
        "media_id", "mean_intensity", "aspect_ratio"
    )


@query(
    "mm_webp_lossy_decode_real",
    oracle="""
    WITH dcq AS (SELECT [
      4,5,6,7,8,9,10,10,11,12,13,14,15,16,17,17,
      18,19,20,20,21,21,22,22,23,23,24,25,25,26,27,28,
      29,30,31,32,33,34,35,36,37,37,38,39,40,41,42,43,
      44,45,46,46,47,48,49,50,51,52,53,54,55,56,57,58,
      59,60,61,62,63,64,65,66,67,68,69,70,71,72,73,74,
      75,76,76,77,78,79,80,81,82,83,84,85,86,87,88,89,
      91,93,95,96,98,100,101,102,104,106,108,110,112,114,116,118,
      122,124,126,128,130,132,134,136,138,140,143,145,148,151,154,157
      ] AS t),
    p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
          FROM documents),
    par AS (
      SELECT media_id, k, unnest(range(0, 4)) AS i FROM p
    ),
    fac AS (
      SELECT media_id, k, i,
             (k + i) % 4 AS ym,
             (k + 2*i + 1) % 4 AS um,
             CASE WHEN (k + i) % 5 = 0 THEN 1 ELSE 0 END AS skp,
             ((k*5 + i*7) % 9) - 4 AS ly,
             ((k*3 + i*5) % 7) - 3 AS lu,
             ((k*7 + i*11) % 5) - 2 AS lv,
             CASE (k + 3*i) % 4 WHEN 0 THEN 8 WHEN 1 THEN 20
                                WHEN 2 THEN 33 ELSE 47 END AS qi,
             (k % 3) - 1 AS dy2,
             (k % 5) - 2 AS duv
      FROM par
    ),
    resid AS (
      SELECT media_id, i, ym, um,
        CASE WHEN skp = 1 THEN 0 ELSE CAST(floor((
          CAST(floor((ly * (t[LEAST(127, GREATEST(0, qi + dy2)) + 1] * 2)
                      + 3) / 8.0) AS BIGINT) + 4) / 8.0) AS BIGINT)
        END AS ry,
        CASE WHEN skp = 1 THEN 0 ELSE CAST(floor(
          (lu * t[LEAST(117, GREATEST(0, qi + duv)) + 1] + 4) / 8.0)
          AS BIGINT) END AS ru,
        CASE WHEN skp = 1 THEN 0 ELSE CAST(floor(
          (lv * t[LEAST(117, GREATEST(0, qi + duv)) + 1] + 4) / 8.0)
          AS BIGINT) END AS rv
      FROM fac, dcq
    ),
    w AS (
      SELECT media_id,
        MAX(CASE WHEN i=0 THEN ym END) AS ym0, MAX(CASE WHEN i=1 THEN ym END) AS ym1,
        MAX(CASE WHEN i=2 THEN ym END) AS ym2, MAX(CASE WHEN i=3 THEN ym END) AS ym3,
        MAX(CASE WHEN i=0 THEN um END) AS um0, MAX(CASE WHEN i=1 THEN um END) AS um1,
        MAX(CASE WHEN i=2 THEN um END) AS um2, MAX(CASE WHEN i=3 THEN um END) AS um3,
        MAX(CASE WHEN i=0 THEN ry END) AS ry0, MAX(CASE WHEN i=1 THEN ry END) AS ry1,
        MAX(CASE WHEN i=2 THEN ry END) AS ry2, MAX(CASE WHEN i=3 THEN ry END) AS ry3,
        MAX(CASE WHEN i=0 THEN ru END) AS ru0, MAX(CASE WHEN i=1 THEN ru END) AS ru1,
        MAX(CASE WHEN i=2 THEN ru END) AS ru2, MAX(CASE WHEN i=3 THEN ru END) AS ru3,
        MAX(CASE WHEN i=0 THEN rv END) AS rv0, MAX(CASE WHEN i=1 THEN rv END) AS rv1,
        MAX(CASE WHEN i=2 THEN rv END) AS rv2, MAX(CASE WHEN i=3 THEN rv END) AS rv3
      FROM resid GROUP BY media_id
    ),
    c0 AS (SELECT *,
      GREATEST(0, LEAST(255, CASE ym0 WHEN 0 THEN 128 WHEN 1 THEN 127 ELSE 129 END + ry0)) AS y0,
      GREATEST(0, LEAST(255, CASE um0 WHEN 0 THEN 128 WHEN 1 THEN 127 ELSE 129 END + ru0)) AS u0,
      GREATEST(0, LEAST(255, CASE um0 WHEN 0 THEN 128 WHEN 1 THEN 127 ELSE 129 END + rv0)) AS v0
      FROM w),
    c1 AS (SELECT *,
      GREATEST(0, LEAST(255, CASE WHEN ym1 = 1 THEN 127 ELSE y0 END + ry1)) AS y1,
      GREATEST(0, LEAST(255, CASE WHEN um1 = 1 THEN 127 ELSE u0 END + ru1)) AS u1,
      GREATEST(0, LEAST(255, CASE WHEN um1 = 1 THEN 127 ELSE v0 END + rv1)) AS v1
      FROM c0),
    c2 AS (SELECT *,
      GREATEST(0, LEAST(255, CASE WHEN ym2 = 1 THEN 127 ELSE y1 END + ry2)) AS y2,
      GREATEST(0, LEAST(255, CASE WHEN um2 = 1 THEN 127 ELSE u1 END + ru2)) AS u2,
      GREATEST(0, LEAST(255, CASE WHEN um2 = 1 THEN 127 ELSE v1 END + rv2)) AS v2
      FROM c1),
    c3 AS (SELECT *,
      GREATEST(0, LEAST(255, CASE WHEN ym3 = 1 THEN 127 ELSE y2 END + ry3)) AS y3,
      GREATEST(0, LEAST(255, CASE WHEN um3 = 1 THEN 127 ELSE u2 END + ru3)) AS u3,
      GREATEST(0, LEAST(255, CASE WHEN um3 = 1 THEN 127 ELSE v2 END + rv3)) AS v3
      FROM c2)
    SELECT media_id,
           CAST(64 AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(y0 + y1 + y2 + y3 AS DOUBLE) / 4 AS mean_y,
           CAST(u0 + u1 + u2 + u3 AS DOUBLE) / 4 AS mean_u,
           CAST(v0 + v1 + v2 + v3 AS DOUBLE) / 4 AS mean_v
    FROM c3
    """,
)
def mm_webp_lossy_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-WebP VP8 keyframe decode (operators/vp8codec.py,
    the RFC 6386 keyframe path: boolean
    arithmetic decoder, segment map + per-segment quantizers, keyframe
    intra mode trees, coefficient tokens, dequantization with the
    y2dc/uvdc deltas and the chroma-DC 117-index cap, inverse WHT DC
    distribution, inverse DCT, and the DC/V/H/TM predictors with their
    127/129 off-frame borders).  40 distinct 64x16 blobs are built by
    the ENCODER TWIN from doc_id arithmetic: a single MB row of four
    macroblocks whose 16x16 and chroma modes rotate through DC/V/H/TM,
    with a CODED SEGMENT MAP selecting four absolute quantizers,
    per-MB Y2-DC and chroma-DC levels, skip flags, and per-frame
    y2dc/uvdc quantizer deltas.  Because the modes keep every
    macroblock internally uniform, the reconstruction follows a
    left-to-right integer recurrence through the REAL dequant -> IWHT
    -> IDCT rounding chain, which the DuckDB oracle replays in closed
    form (the embedded 128-entry table is the RFC's public DC dequant
    lookup) — a wrong bit anywhere in the header, segment map, token,
    or transform path shifts a plane mean and fails the hash.  The
    oracle pins the NORMATIVE surface (4:2:0 plane means); loop filter
    (level 0 here), B_PRED submodes, AC coefficients, and ALPH alpha
    are pinned bit-exactly against the system libwebp by
    tests/test_vp8codec.py.  Lossy WebP dominates real crawled .webp.
    Scale: 40-blob broadcast dim, fact repartitioned to core count
    before the decode kernel, zero shuffle."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import webp_yuv_stats
    from aroa_etl_spark.operators.vp8codec import encode_webp_vp8

    def _build() -> list:
        blobs = []
        for k in range(40):
            segs = [(k + 3 * i) % 4 for i in range(4)]
            yms = [(k + i) % 4 for i in range(4)]
            ums = [(k + 2 * i + 1) % 4 for i in range(4)]
            skp = [1 if (k + i) % 5 == 0 else 0 for i in range(4)]
            y2lev = np.zeros((1, 4, 16), dtype=int)
            uvlev = np.zeros((1, 4, 8, 16), dtype=int)
            for i in range(4):
                if skp[i]:
                    continue
                y2lev[0, i, 0] = ((k * 5 + i * 7) % 9) - 4
                uvlev[0, i, 0:4, 0] = ((k * 3 + i * 5) % 7) - 3
                uvlev[0, i, 4:8, 0] = ((k * 7 + i * 11) % 5) - 2
            blob = encode_webp_vp8(
                np.array([yms]), np.array([ums]),
                y2lev=y2lev, uvlev=uvlev,
                skip=np.array([skp]), seg_ids=np.array([segs]),
                seg_q=[8, 20, 33, 47], seg_abs=True, base_q=0,
                q_deltas=(0, (k % 3) - 1, 0, (k % 5) - 2, 0),
            )
            blobs.append((k, bytearray(blob)))
        return blobs

    # per-process fixture memo: the 40 VP8 encodes are
    # pure functions of constants; reps 2..N time only the decode
    blobs = _memo_blobs("webp_vp8_lossy", _build)
    # v_key-spread BEFORE the broadcast join: shuffles only tiny
    # key rows, never blob bytes, and co-locates equal payloads for
    # the kernel's per-task decode memo
    media = _dim_media(spark, sf_dir, blobs)
    return webp_yuv_stats(media).select(
        "media_id", "width", "height", "mean_y", "mean_u", "mean_v"
    )


@query(
    "mm_webp_anim_decode",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    fr AS (
      SELECT media_id, k, 2 + k % 3 AS n,
             unnest(range(0, 2 + k % 3)) AS i
      FROM p
    ),
    fv AS (
      SELECT media_id, k, n, i,
             ((k*7 + i*13) % 200) - 100 AS lv,
             CASE WHEN (k + i) % 3 = 0 THEN 1 ELSE 0 END AS disp,
             CAST(30 + (k + i*7) % 100 AS INT) AS dur
      FROM fr
    ),
    val AS (
      SELECT *, GREATEST(0, LEAST(255, 128 + CAST(floor((
               CAST(floor((lv * 8 + 3) / 8.0) AS BIGINT) + 4) / 8.0)
               AS BIGINT))) AS v
      FROM fv
    ),
    vis AS (
      SELECT a.media_id, a.i AS j, a.n, a.dur, b.v
      FROM val a JOIN val b
        ON b.media_id = a.media_id
       AND b.i <= a.i AND (b.i = a.i OR b.disp = 0)
    )
    SELECT media_id,
           CAST(j AS INT) AS frame_idx,
           CAST(n AS INT) AS n_frames,
           CAST(2 AS INT) AS loop_count,
           dur AS duration_ms,
           CAST(SUM(3 * v + 255) AS DOUBLE) / 16 AS canvas_mean
    FROM vis
    GROUP BY media_id, j, n, dur
    ORDER BY media_id, frame_idx
    """,
)
def mm_webp_anim_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED WebP decode for real (operators/vp8codec.
    decode_webp_anim walks VP8X + ANIM +
    ANMF, decodes each frame through the vendored lossy VP8 keyframe
    codec, and COMPOSITES the canvas per the container spec: frames
    placed at their even-valued offsets, 'background' disposal
    clearing the previous frame's rectangle, blend bits honored —
    with opaque frames, alpha-blend and overwrite coincide, so the
    fixture rotates BOTH blend paths under one oracle; straight-alpha
    blending itself is pinned by pytest).  40 blobs of 2-4 single-MB
    frames in distinct quadrants of a 32x32 canvas; each frame's flat
    value follows the same dequant->IWHT->IDCT closed form as
    mm_webp_lossy_decode_real, and the oracle replays per-frame
    COMPOSITED canvas means via a visibility self-join (a quadrant is
    visible at frame j iff painted at i<=j and not disposed before
    j).  Loop count and per-frame durations ride the same hash.
    Scale: 40-blob broadcast dim, repartitioned decode kernel, zero
    shuffle; frame-count and pixel bomb caps."""
    import numpy as np

    from aroa_etl_spark.operators.multimodal import webp_anim_stats
    from aroa_etl_spark.operators.vp8codec import (
        encode_webp_anim,
        encode_webp_vp8,
    )

    blobs = []
    for k in range(40):
        n = 2 + k % 3
        frames = []
        for i in range(n):
            lv = ((k * 7 + i * 13) % 200) - 100
            y2 = np.zeros((1, 1, 16), dtype=int)
            y2[0, 0, 0] = lv
            still = encode_webp_vp8(
                np.zeros((1, 1), dtype=int), y2lev=y2, base_q=0
            )
            frames.append({
                "x": (i % 2) * 16, "y": ((i // 2) % 2) * 16,
                "webp": still,
                "duration_ms": 30 + (k + i * 7) % 100,
                "dispose": 1 if (k + i) % 3 == 0 else 0,
                "blend": i % 2,  # opaque: both paths, same pixels
            })
        blobs.append((k, bytearray(encode_webp_anim(32, 32, frames,
                                                    loop=2))))
    # v_key-spread BEFORE the broadcast join — see
    # mm_webp_decode_real for the rationale
    media = _dim_media(spark, sf_dir, blobs)
    return webp_anim_stats(media).select(
        "media_id", "frame_idx", "n_frames", "loop_count",
        "duration_ms", "canvas_mean",
    )


@query(
    "mm_ogg_page_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    pages AS (SELECT media_id, k, unnest(range(0, 2 + k % 3)) AS pg FROM p),
    sized AS (SELECT media_id, k, pg,
                     20 + (k + pg) % 50 AS body_len
              FROM pages)
    SELECT media_id,
           CAST(COUNT(*) AS INT) AS n_pages,
           CAST(COUNT(*) AS INT) AS n_packets,
           CAST(MAX(k) AS BIGINT) AS serial,
           CAST(MAX(pg + 1) * 1000 + MAX(k) AS BIGINT) AS last_granule,
           CAST(SUM(body_len) AS BIGINT) AS payload_bytes
    FROM sized GROUP BY media_id
    """,
)
def mm_ogg_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg container triage (operators/multimodal.scan_ogg_pages, RFC
    3533): page/packet counts, serial, final granule, payload volume —
    codec-free, completing the container-scanner family.  The 40-blob
    broadcast dim carries streams of 2-4 genuine pages assembled by
    build_ogg_page with CORRECT Ogg CRC-32s (poly 0x04C11DB7,
    unreflected — not zlib's), and the kernel re-verifies every page's
    CRC before counting it, so a builder/scanner CRC disagreement (or
    any single flipped bit) fails the oracle.  One single-segment
    packet per page makes packet arithmetic exact in SQL; granules and
    body lengths come from doc_id arithmetic the oracle replays.
    Scale: dim broadcast, fact never shuffles, mapInPandas."""
    from aroa_etl_spark.operators.multimodal import (
        build_ogg_page,
        scan_ogg_pages,
    )

    blobs = []
    for k in range(40):
        pages = b""
        for pg in range(2 + k % 3):
            body = bytes((pg + j) % 256 for j in range(20 + (k + pg) % 50))
            pages += build_ogg_page(k, pg, (pg + 1) * 1000 + k, body)
        blobs.append((k, bytearray(pages)))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return scan_ogg_pages(media, strict=True)


@query(
    "mm_ogg_ident_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    d AS (SELECT media_id, k,
                 CASE WHEN k % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
                 1 + k % 2 AS channels,
                 CASE k % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                            WHEN 2 THEN 22050 WHEN 3 THEN 44100
                            ELSE 48000 END AS rate,
                 CASE WHEN k % 2 = 1 THEN 100 + k ELSE 0 END AS pre_skip,
                 CAST((k + 1) * 9600 AS BIGINT) AS lg
          FROM p)
    SELECT media_id,
           codec,
           CAST(channels AS INT) AS channels,
           CAST(rate AS INT) AS sample_rate,
           CAST(pre_skip AS INT) AS pre_skip,
           CAST(lg AS BIGINT) AS last_granule,
           CAST(CASE WHEN codec = 'opus'
                     THEN (lg - pre_skip) * 1000000 // 48000
                     ELSE lg * 1000000 // rate END AS BIGINT) AS duration_us
    FROM d
    """,
)
def mm_ogg_ident_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vorbis/Opus identification-header parse on the CRC-verified Ogg
    page walk (operators/multimodal.scan_ogg_ident):
    channels, sample rate, Opus pre-skip, and granule-derived duration
    with ZERO codec decode.  The 40-blob broadcast dim alternates
    genuine Vorbis identification headers (Vorbis I spec 4.2.2) and
    Opus ID headers (RFC 7845 5.1) on the BOS page, followed by 1-3
    data pages whose final granule comes from k-arithmetic; every page
    carries a correct Ogg CRC (build_ogg_page).  The oracle replays
    channels/rate/pre-skip selection and the exact integer-floor
    duration arithmetic — Vorbis granules at stream rate, Opus at the
    spec-fixed 48 kHz minus pre-skip.  Scale: dim broadcast, fact
    never shuffles, mapInPandas header walk."""
    from aroa_etl_spark.operators.multimodal import (
        build_ogg_page,
        scan_ogg_ident,
    )

    rates = [8000, 16000, 22050, 44100, 48000]
    blobs = []
    for k in range(40):
        ch = 1 + k % 2
        rate = rates[k % 5]
        lg = (k + 1) * 9600
        if k % 2 == 0:
            ident = (
                b"\x01vorbis"
                + (0).to_bytes(4, "little")
                + bytes([ch])
                + rate.to_bytes(4, "little")
                + (0).to_bytes(4, "little") * 3
                + bytes([0xB8, 0x01])
            )
        else:
            pre_skip = 100 + k
            ident = (
                b"OpusHead"
                + bytes([1, ch])
                + pre_skip.to_bytes(2, "little")
                + rate.to_bytes(4, "little")
                + (0).to_bytes(2, "little")
                + bytes([0])
            )
        pages = build_ogg_page(k, 0, 0, ident, header_type=0x02)
        n_data = 1 + k % 3
        for i in range(n_data):
            granule = lg if i == n_data - 1 else (i + 1) * 1000
            body = bytes((k + i + j) % 256 for j in range(30))
            pages += build_ogg_page(k, i + 1, granule, body)
        blobs.append((k, bytearray(pages)))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return scan_ogg_ident(media, strict=True)


@query(
    "mm_triage_gated_decode",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    j AS (SELECT media_id, 8 + (k % 5) * 8 AS w, 8 + (k % 7) * 8 AS h
          FROM p WHERE k % 2 = 0),
    m AS (SELECT media_id,
                 ([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                 )[1 + k % 14] AS br,
                 ([44100,48000,32000])[1 + k % 3] AS sr,
                 3 + k % 3 AS nf
          FROM p WHERE k % 2 = 1)
    SELECT media_id, 'jpeg' AS kind,
           CASE WHEN w * h <= 1024 THEN 'decode' ELSE 'skip_large' END
             AS route,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(CASE WHEN w * h <= 1024 THEN w * h ELSE 0 END AS BIGINT)
             AS n_pixels,
           CAST(0 AS BIGINT) AS duration_us
    FROM j
    UNION ALL
    SELECT media_id, 'mp3' AS kind, 'metadata_only' AS route,
           CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
           CAST(0 AS BIGINT) AS n_pixels,
           CAST((CAST(nf AS BIGINT) * 1152 * 1000000) // sr AS BIGINT)
             AS duration_us
    FROM m
    """,
)
def mm_triage_gated_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-before-decode — THE 100 TB multimodal recipe: route every
    blob by cheap triage before any expensive
    kernel runs.  Magic bytes split the mixed corpus (jpeg vs mp3);
    JPEGs go through the marker scanner (dims, no IDCT) and ONLY those
    at or under 1024 pixels continue to the real JPEG decoder — the
    plan shows MapInPandas(scan, content passthrough) → Filter(width *
    height <= 1024) → MapInPandas(decode), the scan gate literally
    upstream of the decode; oversized JPEGs and all MP3s keep
    scanner metadata only (MP3 duration from the frame walk).  The
    oracle replays the routing and every checked column: geometry
    arithmetic, the gate predicate, decoded pixel counts (nonzero
    EXACTLY on routed-to-decode rows, equal to the decoded array's
    shape), and exact integer MP3 durations.  Scale: triage is
    O(header) per blob and runs twice (once per route branch) — re-
    scanning headers is the cheap half of the trade that avoids ever
    decoding a skipped blob; zero shuffle, no joins, three unioned
    scan branches."""
    import numpy as np

    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        MPEG1_L3_BITRATES,
        MPEG1_SAMPLE_RATES,
        blob_map,
        decode_image,
        scan_jpeg_markers,
        scan_mpeg_frames,
    )

    blobs = []
    for k in range(40):
        if k % 2 == 0:
            w = 8 + (k % 5) * 8
            h = 8 + (k % 7) * 8
            blob = encode_baseline_jpeg(
                np.full((h, w), 128, dtype=np.uint8), quality=85
            )
        else:
            bi = 1 + k % 14
            si = k % 3
            nf = 3 + k % 3
            br = MPEG1_L3_BITRATES[bi - 1]
            sr = MPEG1_SAMPLE_RATES[si]
            frame_len = 144000 * br // sr
            frame = (
                bytes([0xFF, 0xFB, (bi << 4) | (si << 2), 0x00])
                + bytes(frame_len - 4)
            )
            blob = frame * nf
        blobs.append((k, bytearray(blob)))
    # spread=False: this plan consumes media in THREE branches (decode,
    # skip, audio) — a per-branch exchange costs more than the
    # memo-cheap scan kernels it would parallelize (measured 9-19 s
    # spread vs ~2 s unspread at sf0.1)
    media = _dim_media(spark, sf_dir, blobs, spread=False)

    is_jpeg = F.hex(F.substring(F.col("content"), 1, 2)) == "FFD8"
    scanned = scan_jpeg_markers(
        media.filter(is_jpeg), strict=True, keep_content=True
    )
    small = F.col("width") * F.col("height") <= 1024

    def n_pixels(content: bytes) -> list:
        px = decode_image(content, {"format": "jpeg"}, strict=True)
        return [{"n_pixels": int(px.shape[0]) * int(px.shape[1])}]

    decoded = blob_map(
        scanned.filter(small),
        T.StructType([
            T.StructField("media_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_pixels", T.LongType()),
        ]),
        n_pixels, keys=["media_id", "width", "height"], args=["content"], memo=True,
    ).select(
        "media_id",
        F.lit("jpeg").alias("kind"),
        F.lit("decode").alias("route"),
        "width", "height", "n_pixels",
        F.lit(0).cast("bigint").alias("duration_us"),
    )
    skipped = scanned.filter(~small).select(
        "media_id",
        F.lit("jpeg").alias("kind"),
        F.lit("skip_large").alias("route"),
        "width", "height",
        F.lit(0).cast("bigint").alias("n_pixels"),
        F.lit(0).cast("bigint").alias("duration_us"),
    )
    audio = scan_mpeg_frames(media.filter(~is_jpeg), strict=True).select(
        "media_id",
        F.lit("mp3").alias("kind"),
        F.lit("metadata_only").alias("route"),
        F.lit(0).cast("int").alias("width"),
        F.lit(0).cast("int").alias("height"),
        F.lit(0).cast("bigint").alias("n_pixels"),
        F.col("duration_us"),
    )
    return decoded.unionByName(skipped).unionByName(audio)


@query(
    "mm_image_dhash_dedup",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    hh AS (SELECT k2,
                  list_aggregate(list_transform(range(0, 64),
                    i -> CASE WHEN (k2 * 3 + (i % 8) * 7 + (i // 8) * 11)
                                   % 255
                                 > (k2 * 3 + ((i % 8) + 1) * 7
                                    + (i // 8) * 11) % 255
                              THEN '1' ELSE '0' END),
                    'string_agg', '') AS dhash
           FROM (SELECT unnest(range(0, 20)) AS k2))
    SELECT dhash,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_variants
    FROM p JOIN hh ON hh.k2 = p.k % 20
    GROUP BY dhash ORDER BY dhash
    """,
)
def mm_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup bucketing
    (operators/multimodal.image_dhash): dHash — one bit per horizontal
    neighbor pair on the 9×8 grayscale grid — is the cheap fingerprint
    image-dedup pipelines bucket on before any pixel-wise verify.  The
    40-blob dim carries REAL 9×8 PGM images whose pixels come from
    k-arithmetic in [0, 254]; blobs k and k+20 are brightness-shifted
    twins (+1 on every pixel, no clamp), so each hash bucket must
    contain exactly the two planted variants — dHash's brightness
    invariance proven by value, not by assertion.  The oracle replays
    the 64 comparisons bit-for-bit (row-major, left>right) and the
    bucket counts.  Scale: decode + 72-sample hash per image in
    mapInPandas, one groupBy on the 64-char key — the image analogue
    of the MinHash band join."""
    from aroa_etl_spark.operators.multimodal import image_dhash

    blobs = []
    for k in range(40):
        k2 = k % 20
        shift = 1 if k >= 20 else 0
        pix = bytes(
            ((k2 * 3 + x * 7 + y * 11) % 255) + shift
            for y in range(8) for x in range(9)
        )
        blobs.append((k, bytearray(b"P5\n9 8\n255\n" + pix)))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key").withColumn(
        "meta",
        F.struct(
            F.lit(9).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
            F.lit("pgm").alias("format"),
        ),
    )
    return (
        image_dhash(media, strict=True)
        .withColumn("k", (F.col("media_id") % 40).cast("int"))
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.count_distinct("k").cast("bigint").alias("n_variants"),
        )
        .orderBy("dhash")
    )


@query(
    "mm_audio_fingerprint_dedup",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    hh AS (SELECT k2,
                  list_aggregate(list_transform(range(0, 64),
                    i -> CASE WHEN (k2 * 5 + ((i * 129) // 64) * 13) % 250
                                 > (k2 * 5 + (((i + 1) * 129) // 64) * 13)
                                   % 250
                              THEN '1' ELSE '0' END),
                    'string_agg', '') AS afp
           FROM (SELECT unnest(range(0, 20)) AS k2))
    SELECT afp,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_variants
    FROM p JOIN hh ON hh.k2 = p.k % 20
    GROUP BY afp ORDER BY afp
    """,
)
def mm_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup bucketing (operators/multimodal.
    audio_fingerprint) — one bit per neighbor pair over the 65-point
    downsampled waveform, the audio twin of mm_image_dhash_dedup.  The
    40-blob dim carries REAL 8-bit PCM WAVs (stdlib wave writer, 130
    samples from k-arithmetic in [0, 249]); blobs k and k+20 are
    amplitude-shifted twins (+3 on every sample, no clipping), so each
    fingerprint bucket must hold exactly the two planted variants —
    offset invariance proven by value through the real decode path
    ((x−128)/128 is strictly increasing, so comparisons survive the
    float conversion).  The oracle replays the nearest-neighbor index
    arithmetic ((i·129)//64 — exact in both engines) and all 64
    comparisons.  Scale: decode + 65 samples per clip, one groupBy on
    the bit-string key."""
    import io
    import wave as _wave

    from aroa_etl_spark.operators.multimodal import audio_fingerprint

    blobs = []
    for k in range(40):
        k2 = k % 20
        shift = 3 if k >= 20 else 0
        samples = bytes(((k2 * 5 + j * 13) % 250) + shift for j in range(130))
        buf = io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(8000)
            w.writeframes(samples)
        blobs.append((k, bytearray(buf.getvalue())))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key").withColumn(
        "meta",
        F.struct(
            F.lit(8000).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("channels"),
            F.lit("wav").alias("format"),
        ),
    )
    return (
        audio_fingerprint(media, strict=True)
        .withColumn("k", (F.col("media_id") % 40).cast("int"))
        .groupBy("afp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.count_distinct("k").cast("bigint").alias("n_variants"),
        )
        .orderBy("afp")
    )


@query(
    "mm_media_type_sniff",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 9 AS INT) AS k
               FROM documents)
    SELECT media_id,
           CASE k WHEN 0 THEN 'png'  WHEN 1 THEN 'jpeg'
                  WHEN 2 THEN 'gif'  WHEN 3 THEN 'bmp'
                  WHEN 4 THEN 'wav'  WHEN 5 THEN 'flac'
                  WHEN 6 THEN 'ogg'  WHEN 7 THEN 'avi'
                  ELSE 'unknown' END AS media_type
    FROM p
    """,
)
def mm_media_type_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte media-type sniffing as a standalone dispatcher — the
    generalization of the jpeg/mp3 split mm_triage_gated_decode used:
    crawl blobs arrive with lying or absent content types, so routing
    runs on the FIRST BYTES (PNG signature, JPEG SOI, GIF8, BM,
    RIFF/WAVE, RIFF/AVI, fLaC, OggS), entirely in column expressions over hex
    prefixes — zero Python, zero shuffle, the cheapest possible gate
    in front of every scanner/decoder in the family.  Blobs are
    genuine format headers planted by k-arithmetic (the ninth class
    is garbage that must fall through to 'unknown'); the oracle
    replays the routing.  At 100 TB this predicate prunes entire
    decode branches before any kernel runs."""
    sigs = {
        0: bytes([0x89]) + b"PNG\r\n\x1a\n",
        1: b"\xff\xd8\xff\xe0" + bytes(4),
        2: b"GIF89a" + bytes(2),
        3: b"BM" + bytes(6),
        4: b"RIFF\x10\x00\x00\x00WAVE",
        5: b"fLaC" + bytes(4),
        6: b"OggS" + bytes(4),
        7: b"RIFF\x10\x00\x00\x00AVI ",
        8: b"\x00\x01\x02\x03garbage",
    }
    blobs = [(k, bytearray(v + b"tail-bytes")) for k, v in sigs.items()]
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 9).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    h4 = F.hex(F.substring("content", 1, 4))
    h8 = F.hex(F.substring("content", 1, 8))
    h12 = F.hex(F.substring("content", 1, 12))
    media_type = (
        F.when(h8 == "89504E470D0A1A0A", "png")
        .when(F.substring(h4, 1, 6) == "FFD8FF", "jpeg")
        .when(F.hex(F.substring("content", 1, 6)).isin(
            "474946383961", "474946383761"), "gif")
        .when(F.substring(h4, 1, 4) == "424D", "bmp")
        .when((F.substring(h4, 1, 8) == "52494646")
              & (F.substring(h12, 17, 8) == "57415645"), "wav")
        .when((F.substring(h4, 1, 8) == "52494646")
              & (F.substring(h12, 17, 8) == "41564920"), "avi")
        .when(h4 == "664C6143", "flac")
        .when(h4 == "4F676753", "ogg")
        .otherwise("unknown")
    )
    return media.select("media_id", media_type.alias("media_type"))


@query(
    "mm_avi_header_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents)
    SELECT media_id,
           CAST(1 AS INT) AS n_streams,
           'MJPG' AS video_codec,
           CAST(8 + (k % 5) * 8 AS INT) AS width,
           CAST(8 + (k % 7) * 8 AS INT) AS height,
           CAST(1 + k % 3 AS BIGINT) AS n_frames,
           CAST(10 + (k % 20) AS INT) AS fps_num,
           CAST(1 + (k % 2) AS INT) AS fps_den,
           CAST(((1 + k % 3) * 1000 * (1 + (k % 2))) // (10 + (k % 20))
                AS BIGINT) AS duration_ms,
           CAST(1 + k % 3 AS INT) AS movi_chunks,
           CAST(1 + k % 3 AS INT) AS idx_entries
    FROM p
    """,
)
def mm_avi_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIFF/AVI container triage (operators/multimodal.scan_avi_headers
    — the decode entry's twin): every document maps to a GENUINE AVI
    written by the stdlib-only RIFF muxer (encode_avi_mjpeg) — LIST
    hdrl with a full avih + strl(strh 'vids'/MJPG + strf
    BITMAPINFOHEADER), a movi list of real SOF0 JPEG frame chunks, and
    an idx1 keyframe index — and the scanner walks the chunk grammar
    (even-padding rule, list nesting, bounds checks) WITHOUT decoding:
    stream census, fourcc, dims from strf (signed biHeight), exact
    rational fps from strh scale/rate, integer-floor duration_ms,
    frame-chunk and index-entry counts, all from k-arithmetic the
    oracle replays in exact integer math.  strict=True end-to-end.
    The decode routing use: this scan is the cheap pass that sizes and
    gates the per-frame decode stage (same triage→decode shape as
    mm_triage_gated_decode).  Scale: 40-blob broadcast dim joined to
    the fact table, mapInPandas, zero shuffle, header-bound cost."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_avi_mjpeg, scan_avi_headers,
    )

    import numpy as np

    blobs = []
    for k in range(40):
        w, h = 8 + (k % 5) * 8, 8 + (k % 7) * 8
        n_frames = 1 + k % 3
        frames = [
            encode_baseline_jpeg(np.full((h, w), 128, dtype=np.uint8), quality=85)
            for _ in range(n_frames)
        ]
        blobs.append((k, bytearray(encode_avi_mjpeg(
            frames, width=w, height=h, rate=10 + (k % 20), scale=1 + (k % 2),
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return scan_avi_headers(media, strict=True)


@query(
    "mm_video_decode_real",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    m AS (SELECT media_id, k,
                 CAST(unnest(range(0, 1 + k % 3)) AS INT) AS frame_index
          FROM p)
    SELECT media_id, frame_index,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(128 + 5 * (((k + 7 * frame_index) % 40) - 20) AS DOUBLE)
             AS mean_intensity
    FROM m
    """,
)
def mm_video_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode: MJPEG-in-AVI demuxed by the RIFF movi walk and decoded
    frame-by-frame through the vendored pure-NumPy baseline JPEG codec
    (operators/jpegcodec.py), composing two fully-owned pieces exactly
    like mm_tar_sample_decode composed tar + netpbm.  Each document
    maps to an AVI of 1-3 frames; frame j is a flat 8x16 grayscale
    JPEG at v = 128 + 5*(((k + 7*j) % 40) - 20) — v ≡ 128 (mod 5)
    keeps the quantized DC coefficient exact at quality 85 (luma DC
    quant step = 5), so a CORRECT demux+decode returns exactly v at
    every pixel of exactly the right frame: any chunk-walk slip (pad
    byte, offset, frame order) or codec mistake shifts
    frame_index↔mean pairings the oracle replays in closed form.
    1-row→k-rows explosion with real pixels — retires the sha256 frame
    stub as the attested video path (mm_video_frame_sample remains the
    rawvideo/meta contract entry).  Scale: 40-blob broadcast dim,
    mapInPandas, zero shuffle; every_n bounds decode work on long
    clips and scan_avi_headers is the triage gate that routes
    non-MJPEG blobs away first."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_avi_mjpeg, video_frame_features,
    )

    import numpy as np

    blobs = []
    for k in range(40):
        frames = [
            encode_baseline_jpeg(
                np.full((8, 16), 128 + 5 * (((k + 7 * j) % 40) - 20),
                        dtype=np.uint8),
                quality=85,
            )
            for j in range(1 + k % 3)
        ]
        blobs.append((k, bytearray(encode_avi_mjpeg(
            frames, width=16, height=8, rate=25, scale=1,
        ))))
    media = _dim_media(spark, sf_dir, blobs)
    return video_frame_features(media, every_n=1, strict=True)


@query(
    "mm_mkv_header_scan",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents)
    SELECT media_id,
           'matroska' AS doc_type,
           CAST(1000000 AS BIGINT) AS timescale,
           CAST(1200 + k AS BIGINT) AS duration_ticks,
           CAST(1 + k % 3 AS INT) AS n_tracks,
           CAST(1 AS INT) AS n_video,
           CAST(k % 3 AS INT) AS n_audio,
           CASE WHEN k % 2 = 0 THEN 'V_MJPEG' ELSE 'V_UNCOMPRESSED' END
             AS video_codec,
           CAST(160 + (k % 5) * 16 AS INT) AS width,
           CAST(120 + (k % 7) * 8 AS INT) AS height,
           CAST(1 + k % 3 AS INT) AS n_clusters,
           CAST((1 + k % 3) * (1 + k % 2) AS INT) AS n_blocks
    FROM p
    """,
)
def mm_mkv_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM (EBML) container triage
    (operators/multimodal.scan_mkv_headers) — completes the
    container-walk family (MP4 boxes, Ogg
    pages, RIFF/AVI, now EBML): every document maps to a GENUINE EBML
    stream written by the stdlib-only writer (encode_mkv_stub — real
    RFC 8794 VINTs with width-marker arithmetic, DocType header,
    Segment/Info/Tracks/Cluster tree from the published Matroska
    element registry), and the scanner re-walks it: DocType,
    TimestampScale, integer-valued float64 Duration, per-type track
    census, first video track's CodecID + pixel dims, cluster and
    SimpleBlock counts — all from k-arithmetic the oracle replays
    exactly.  strict=True end-to-end; block payloads are skipped by
    size arithmetic, never read.  Scale: 40-blob broadcast dim,
    mapInPandas, zero shuffle, header-bound."""
    from aroa_etl_spark.operators.multimodal import (
        encode_mkv_stub, scan_mkv_headers,
    )

    blobs = []
    for k in range(40):
        blobs.append((k, bytearray(encode_mkv_stub(
            doc_type="matroska",
            timescale=1_000_000,
            duration_ticks=1200 + k,
            video_tracks=[(
                "V_MJPEG" if k % 2 == 0 else "V_UNCOMPRESSED",
                160 + (k % 5) * 16,
                120 + (k % 7) * 8,
            )],
            audio_tracks=["A_PCM/INT/LIT"] * (k % 3),
            cluster_blocks=[1 + k % 2] * (1 + k % 3),
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return scan_mkv_headers(media, strict=True)


@query(
    "mm_mkv_video_decode_real",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    k2s AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    fr AS (SELECT k2,
                  CAST(unnest(range(0, (1 + k2 % 2) * (1 + k2 % 3))) AS INT)
                    AS g
           FROM k2s)
    SELECT media_id,
           g AS frame_index,
           CAST(1000 * (g // (1 + k % 3)) + 7 * (g % (1 + k % 3)) AS BIGINT)
             AS pts_ticks,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(128 + 5 * (((k + 7 * g) % 40) - 20) AS DOUBLE)
             AS mean_intensity
    FROM p JOIN fr ON fr.k2 = p.k
    """,
)
def mm_mkv_video_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Matroska/WebM video decode: the EBML
    walk extended past track census into Cluster/SimpleBlock frame
    extraction (operators/multimodal.demux_mkv_frames) — track-number
    VINT match, signed 16-bit relative timestamps on top of each
    Cluster's Timestamp, keyframe flags, no lacing — then every
    V_MJPEG payload decodes through the vendored JPEG codec.  Variant
    k holds 1+k%2 clusters of 1+k%3 frames; global frame g is a flat
    8x16 JPEG at v = 128 + 5*(((k + 7*g) % 40) - 20) (DC-exact
    quality-85 trick) with pts_ticks = 1000·cluster + 7·block — so any
    slip in VINT width, cluster boundary, relative-timestamp sign, or
    block header length shifts the (frame_index, pts_ticks, mean)
    triples the oracle replays in closed form.  k%3 extra A_PCM audio
    tracks prove track routing.  Non-MJPEG CodecIDs raise under
    strict; lenient mode routes them to zero rows, with
    scan_mkv_headers as the reporting triage (pinned in pytest).
    Scale: 40-blob broadcast dim, mapInPandas, zero shuffle; every_n
    bounds decode work."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_mkv_stub, mkv_video_frame_features,
    )

    import numpy as np

    blobs = []
    for k in range(40):
        nc, fpc = 1 + k % 2, 1 + k % 3
        cluster_frames = []
        g = 0
        for c in range(nc):
            blocks = []
            for j in range(fpc):
                frame = encode_baseline_jpeg(
                    np.full((8, 16), 128 + 5 * (((k + 7 * g) % 40) - 20),
                            dtype=np.uint8),
                    quality=85,
                )
                blocks.append((7 * j, frame))
                g += 1
            cluster_frames.append((1000 * c, blocks))
        blobs.append((k, bytearray(encode_mkv_stub(
            video_tracks=[("V_MJPEG", 16, 8)],
            audio_tracks=["A_PCM/INT/LIT"] * (k % 3),
            duration_ticks=1000 * nc,
            cluster_frames=cluster_frames,
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return mkv_video_frame_features(media, every_n=1, strict=True)


@query(
    "mm_video_dhash_dedup",
    oracle="""
    WITH k2s AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS k2),
    fr AS (SELECT k2, CAST(unnest(range(0, 1 + k2 % 3)) AS INT) AS j
           FROM k2s),
    bits AS (SELECT k2, j,
                    CASE WHEN ((k2 + j) % 20) > ((k2 * 3 + 7 * j) % 20)
                         THEN '1' ELSE '0' END AS x
             FROM fr),
    fh AS (SELECT k2, j, repeat('0000' || x || '000', 8) AS fhash
           FROM bits),
    vh AS (SELECT k2,
                  list_aggregate(list_sort(list(j || ':' || fhash)),
                                 'string_agg', '~') AS ordered
           FROM fh GROUP BY k2),
    vhash AS (SELECT k2,
                     list_aggregate(list_transform(
                       string_split(ordered, '~'),
                       s -> split_part(s, ':', 2)), 'string_agg', '|') AS vhash
              FROM vh),
    p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
          FROM documents)
    SELECT vhash,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(COUNT(DISTINCT p.k) AS BIGINT) AS n_variants
    FROM p JOIN vhash ON vhash.k2 = p.k % 20
    GROUP BY vhash ORDER BY vhash
    """,
)
def mm_video_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video temporal near-dup bucketing
    (operators/multimodal.video_dhash): the per-frame dHash
    concatenation is the bucket key a video-dedup pipeline joins on —
    the video analogue of the image dHash and audio fingerprint
    entries, over REAL decode (the AVI demux + vendored
    JPEG codec).  Each blob is an MJPEG AVI of 1-3 frames; frame j is
    a two-flat-block 16×8 image (left/right values from k-arithmetic,
    both ≡ 128 mod 5, so the quantized DC coefficients are exact at
    quality 85 and decode returns the planted values bit-for-bit) —
    the dHash grid then has exactly ONE discriminating bit per row
    (left>right at the block seam), which the oracle replays in closed
    form per frame and per clip.  Blobs k and k+20 are
    brightness-shifted twins (+5 on both halves — order preserved), so
    every bucket must hold exactly the two planted variants: dHash's
    brightness invariance AND the temporal concatenation order proven
    by value.  Scale: demux + per-frame decode in mapInPandas over the
    broadcast dim, one groupBy on the key."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import encode_avi_mjpeg, video_dhash

    import numpy as np

    blobs = []
    for k in range(40):
        k2 = k % 20
        shift = 5 if k >= 20 else 0
        frames = []
        for j in range(1 + k2 % 3):
            a = 128 + 5 * (((k2 + j) % 20) - 10) + shift
            b = 128 + 5 * (((k2 * 3 + 7 * j) % 20) - 10) + shift
            img = np.zeros((8, 16), dtype=np.uint8)
            img[:, :8] = a
            img[:, 8:] = b
            frames.append(encode_baseline_jpeg(img, quality=85))
        blobs.append((k, bytearray(encode_avi_mjpeg(
            frames, width=16, height=8, rate=25, scale=1))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return (
        video_dhash(media, every_n=1, strict=True)
        .withColumn("k", (F.col("media_id") % 40).cast("int"))
        .groupBy("vhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.count_distinct("k").cast("bigint").alias("n_variants"),
        )
        .orderBy("vhash")
    )


@query(
    "mm_avi_audio_extract",
    oracle="""
    WITH ks AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    cs AS (SELECT k2, CAST(unnest(range(0, 1 + k2 % 2)) AS INT) AS c FROM ks),
    si AS (SELECT k2, c, CAST(unnest(range(0, 4 + k2 % 5)) AS INT) AS i
           FROM cs),
    v AS (SELECT k2, ((k2 * 31 + c * 17 + i * 7) % 2003) - 1001 AS s FROM si),
    a AS (SELECT k2, COUNT(*) AS n_samples, MAX(ABS(s)) AS peak,
                 SUM(s) AS ssum
          FROM v GROUP BY k2),
    p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
          FROM documents)
    SELECT media_id,
           CAST(1 + k % 2 AS INT) AS n_chunks,
           CAST(a.n_samples AS BIGINT) AS n_samples,
           CAST(a.peak AS INT) AS peak_raw,
           CAST(a.ssum AS BIGINT) AS sum_raw
    FROM p JOIN a ON a.k2 = p.k
    """,
)
def mm_avi_audio_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI AUDIO leg (operators/multimodal.avi_audio_features): the
    muxer now writes the classic interleaved camcorder layout — a
    second strl ('auds', PCM-s16le WAVEFORMATEX) and '01wb' audio
    chunks after the video frames — and the demux walks the movi list
    pulling exactly the '##wb' payloads (video '##dc' frames skipped
    by size arithmetic), interpreting the concatenation as s16le and
    emitting EXACT integer statistics: chunk count, sample count,
    peak |s|, sample sum.  Samples are planted little-endian int16
    from k-arithmetic the oracle re-derives in pure SQL — a byte-order
    or chunk-boundary mistake corrupts peak/sum loudly.  Completes
    the AVI story: headers (mm_avi_header_scan), video
    (mm_video_decode_real), temporal near-dup (mm_video_dhash_dedup),
    audio (this).  Scale: 40-blob broadcast dim, mapInPandas, zero
    shuffle."""
    import struct

    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        avi_audio_features, encode_avi_mjpeg,
    )

    import numpy as np

    frame = encode_baseline_jpeg(
        np.full((8, 16), 128, dtype=np.uint8), quality=85
    )
    blobs = []
    for k in range(40):
        chunks = []
        for c in range(1 + k % 2):
            vals = [
                ((k * 31 + c * 17 + i * 7) % 2003) - 1001
                for i in range(4 + k % 5)
            ]
            chunks.append(struct.pack(f"<{len(vals)}h", *vals))
        blobs.append((k, bytearray(encode_avi_mjpeg(
            [frame], width=16, height=8, audio_chunks=chunks,
            audio_rate=16_000,
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return avi_audio_features(media, strict=True)


@query(
    "mm_mp3_frame_walk",
    oracle="""
    WITH br(idx, v) AS (VALUES (1,32),(2,40),(3,48),(4,56),(5,64),(6,80),
                               (7,96),(8,112),(9,128),(10,160),(11,192),
                               (12,224),(13,256),(14,320)),
    p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
          FROM documents),
    k2s AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    fr AS (SELECT k2, CAST(unnest(range(0, 3 + k2 % 4)) AS INT) AS i
           FROM k2s),
    per AS (SELECT k2, i,
                   CASE WHEN k2 % 4 = 3 THEN 1 + k2 % 14
                        ELSE 1 + ((k2 + 3 * i) % 14) END AS bi,
                   (k2 + i) % 2 AS pad,
                   ([44100, 48000, 32000])[k2 % 3 + 1] AS sr
            FROM fr),
    lens AS (SELECT per.k2, br.v AS brv, per.sr,
                    (144000 * br.v) // per.sr + per.pad AS flen
             FROM per JOIN br ON br.idx = per.bi),
    agg AS (SELECT k2, COUNT(*) AS nf, MIN(brv) AS bmin, MAX(brv) AS bmax,
                   SUM(flen) AS total, MAX(sr) AS sr,
                   COUNT(DISTINCT brv) AS ndist
            FROM lens GROUP BY k2)
    SELECT media_id,
           CAST(nf AS INT) AS n_frames,
           CAST(sr AS INT) AS sample_rate,
           CAST(CASE WHEN ndist > 1 THEN 1 ELSE 0 END AS INT) AS is_vbr,
           CAST(bmin AS INT) AS bitrate_min_kbps,
           CAST(bmax AS INT) AS bitrate_max_kbps,
           CAST(total AS BIGINT) AS total_frame_bytes,
           CAST((total * 8 * sr) // (nf * 1152) AS BIGINT) AS avg_bitrate_bps,
           CAST((nf * 1152 * 1000000) // sr AS BIGINT) AS duration_us,
           CASE k % 4 WHEN 0 THEN 'Xing' WHEN 1 THEN 'Info'
                      WHEN 2 THEN 'VBRI' ELSE 'none' END AS vbr_tag,
           CAST(CASE WHEN k % 4 = 3 THEN -1 ELSE nf - 1 END AS BIGINT)
             AS tag_frames,
           CAST(CASE WHEN k % 4 = 3 THEN -1 ELSE total END AS BIGINT)
             AS tag_bytes
    FROM p JOIN agg ON agg.k2 = p.k
    """,
)
def mm_mp3_frame_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 COMPLETE frame walk — upgrades
    mm_mp3_header_scan's first-sync triage to per-frame truth
    (operators/multimodal.mp3_frame_walk): every frame's bitrate from
    its own header gives VBR detection and min/max bitrate, byte
    totals and the exact integer average bitrate come from the
    144000*br//sr+padding arithmetic, and frame 0's VBR header is
    parsed — Xing/Info at the post-side-info offset and VBRI at the
    spec's fixed 32-byte offset, with declared frame/byte counts
    surfaced for tag-vs-walk cross-checks.  Variant k of the 40
    stdlib-muxed fixtures: 3+k%4 frames, per-frame bitrate indices
    1+((k+3i)%14) for tagged (VBR) variants or constant 1+k%14 for
    untagged CBR ones, padding (k+i)%2, all 3 sample rates, the tag
    rotating Xing/Info/VBRI/none, an ID3v2.4 prefix on even k, and
    every payload opening with a planted false sync word (the resync
    trap).  The oracle replays frame lengths, totals, averages, and
    tag values in exact integer math.  Untagged files surface as
    vbr_tag='none' / -1 sentinels AT THIS BOUNDARY (the operator keeps
    honest NULLs; nullable BIGINTs densify to float64 through a pandas
    materialization and would repr-mismatch in the comparator).  Scale: 40-blob broadcast dim, mapInPandas,
    zero shuffle, O(n_frames) per blob."""
    from aroa_etl_spark.operators.multimodal import (
        encode_mp3_frames, mp3_frame_walk,
    )

    blobs = []
    for k in range(40):
        nf = 3 + k % 4
        tag = ["Xing", "Info", "VBRI", None][k % 4]
        if tag is None:
            bis = [1 + k % 14] * nf
        else:
            bis = [1 + ((k + 3 * i) % 14) for i in range(nf)]
        blobs.append((k, bytearray(encode_mp3_frames(
            bis,
            sr_idx=k % 3,
            paddings=[(k + i) % 2 for i in range(nf)],
            vbr_tag=tag,
            id3_payload=17 if k % 2 == 0 else -1,
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    walked = mp3_frame_walk(media, strict=True)
    return walked.select(
        *[c for c in walked.columns if c not in
          ("vbr_tag", "tag_frames", "tag_bytes")],
        F.coalesce("vbr_tag", F.lit("none")).alias("vbr_tag"),
        F.coalesce("tag_frames", F.lit(-1)).cast("long").alias("tag_frames"),
        F.coalesce("tag_bytes", F.lit(-1)).cast("long").alias("tag_bytes"),
    )


@query(
    "mm_mkv_laced_decode",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    k2s AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    fr AS (SELECT k2, CAST(unnest(range(0, 2 + k2 % 2)) AS INT) AS g
           FROM k2s)
    SELECT media_id,
           g AS frame_index,
           CAST(1007 AS BIGINT) AS pts_ticks,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(CASE WHEN k % 3 = 2
                     THEN 128 + 5 * ((k % 40) - 20)
                     ELSE 128 + 5 * (((k + 7 * g) % 40) - 20)
                END AS DOUBLE) AS mean_intensity
    FROM p JOIN fr ON fr.k2 = p.k
    """,
)
def mm_mkv_laced_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska LACED-block decode, oracle-attested: each variant packs
    its 2-3 MJPEG frames into ONE SimpleBlock using the lacing mode
    k%3 rotates through — Xiph 255-run size tables, EBML signed-VINT
    deltas, fixed equal split (the packing real muxers use for
    subsecond frame runs).  Laced frames share the block timestamp
    (cluster 1000 + relative 7 = pts 1007 for every frame), and frame
    g is DC-exact at v = 128 + 5*(((k + 7g) % 40) - 20) for xiph/ebml
    variants; FIXED lacing requires equal frame sizes, so those
    variants plant one value per clip (the lace-boundary arithmetic is
    still attested by the per-frame row count and byte-exact decode).
    Any slip in the 255-run summation, signed-delta bias, or equal
    split shifts frame boundaries and the means the oracle replays.
    Scale: same broadcast-dim mapInPandas shape as the other decode
    entries."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_mkv_stub, mkv_video_frame_features,
    )

    import numpy as np

    modes = ["xiph", "ebml", "fixed"]
    blobs = []
    for k in range(40):
        n = 2 + k % 2
        mode = modes[k % 3]
        if mode == "fixed":
            vals = [128 + 5 * ((k % 40) - 20)] * n
        else:
            vals = [128 + 5 * (((k + 7 * g) % 40) - 20) for g in range(n)]
        frames = [
            encode_baseline_jpeg(np.full((8, 16), v, dtype=np.uint8), quality=85)
            for v in vals
        ]
        blobs.append((k, bytearray(encode_mkv_stub(
            video_tracks=[("V_MJPEG", 16, 8)],
            duration_ticks=2000,
            cluster_frames=[(1000, [(7, (frames, mode))])],
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return mkv_video_frame_features(media, every_n=1, strict=True)


@query(
    "mm_mp4_audio_extract",
    oracle="""
    WITH ks AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    cs AS (SELECT k2, CAST(unnest(range(0, 1 + k2 % 2)) AS INT) AS c FROM ks),
    si AS (SELECT k2, c, CAST(unnest(range(0, 4 + k2 % 5)) AS INT) AS i
           FROM cs),
    v AS (SELECT k2, ((k2 * 37 + c * 19 + i * 11) % 2003) - 1001 AS s FROM si),
    a AS (SELECT k2, COUNT(*) AS n_samples, MAX(ABS(s)) AS peak,
                 SUM(s) AS ssum
          FROM v GROUP BY k2),
    p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
          FROM documents)
    SELECT media_id,
           CAST(1 + k % 2 AS INT) AS n_chunks,
           CAST(a.n_samples AS BIGINT) AS n_samples,
           CAST(a.peak AS INT) AS peak_raw,
           CAST(a.ssum AS BIGINT) AS sum_raw
    FROM p JOIN a ON a.k2 = p.k
    """,
)
def mm_mp4_audio_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 AUDIO leg (operators/multimodal.mp4_audio_features) — the
    BMFF twin of mm_avi_audio_extract: the muxer writes the CANONICAL
    PCM-in-MP4 second trak ('soun' handler, 'sowt' s16le sample entry,
    FIXED-size stsz at 2 bytes/sample — the stsz form the video track
    never exercises — per-chunk sample counts in stsc, chunk bytes in
    the shared mdat after the video frames), and the demux walks the
    chunk arithmetic pulling exactly the audio extents, interpreting
    the concatenation as s16le with EXACT integer statistics.  Samples
    are planted from k-arithmetic the oracle re-derives in pure SQL;
    stco/co64 and largesize-mdat variants rotate so offset widths are
    exercised on the audio path too.  Completes MP4 A/V parity:
    headers+samples (mm_mp4_box_scan), video (mm_mp4_video_decode_
    real), audio (this).  Scale: 40-blob broadcast dim, mapInPandas,
    zero shuffle, O(#chunks) per blob."""
    import struct

    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_mp4_mjpeg, mp4_audio_features,
    )

    import numpy as np

    frame = encode_baseline_jpeg(
        np.full((8, 16), 128, dtype=np.uint8), quality=85
    )
    blobs = []
    for k in range(40):
        chunks = []
        for c in range(1 + k % 2):
            vals = [
                ((k * 37 + c * 19 + i * 11) % 2003) - 1001
                for i in range(4 + k % 5)
            ]
            chunks.append(struct.pack(f"<{len(vals)}h", *vals))
        blobs.append((k, bytearray(encode_mp4_mjpeg(
            [frame], width=16, height=8,
            audio_chunks=chunks, audio_rate=16_000,
            co64=(k % 2 == 0), largesize_mdat=(k % 3 == 0),
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return mp4_audio_features(media, strict=True)


@query(
    "mm_mp4_fragmented_decode",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    k2s AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    fr AS (SELECT k2,
                  CAST(unnest(range(0, (1 + k2 % 2) * (1 + k2 % 3))) AS INT)
                    AS g
           FROM k2s),
    w AS (SELECT k2, g,
                 COALESCE(SUM(10 + ((k2 + g) % 5)) OVER (
                     PARTITION BY k2 ORDER BY g
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS dts
          FROM fr)
    SELECT media_id,
           g AS frame_index,
           CAST((dts * 1000) // (100 * (1 + k % 4)) AS BIGINT) AS pts_ms,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(128 + 5 * (((k + 7 * g) % 40) - 20) AS DOUBLE)
             AS mean_intensity
    FROM p JOIN w ON w.k2 = p.k
    """,
)
def mm_mp4_fragmented_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAGMENTED MP4 decode — the CMAF/DASH/HLS layout that dominates
    crawled streaming video (moov with EMPTY stbl + mvex, then
    moof+mdat pairs): the demux walks ISO 14496-12 §8.8 movie
    fragments — mfhd sequencing, tfhd default-base-is-moof, tfdt
    64-bit base decode times, trun per-sample duration/size runs with
    moof-relative data offsets — and decodes each MJPEG sample through
    the vendored codec via the SAME mp4_video_frame_features kernel as
    the progressive entry (the fragment fallback lives inside
    _parse_mp4_samples, so consumers never care which layout arrived).
    Variant k splits its (1+k%2)·(1+k%3) frames across 1+k%2
    fragments; pts_ms is the cross-fragment stts-free running sum of
    VARIANT trun durations — any slip in data-offset arithmetic, tfdt
    bases, or trun field order shifts the (frame_index, pts_ms, mean)
    triples the oracle replays in closed form (frames are the DC-exact
    flat JPEGs).  Scale: same broadcast-dim mapInPandas shape; the
    fragment walk is O(#fragments + #samples) with hostile counts
    bounded by box sizes."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_mp4_fragmented, mp4_video_frame_features,
    )

    import numpy as np

    blobs = []
    for k in range(40):
        nfrag, fpg = 1 + k % 2, 1 + k % 3
        n = nfrag * fpg
        frames = [
            encode_baseline_jpeg(
                np.full((8, 16), 128 + 5 * (((k + 7 * g) % 40) - 20),
                        dtype=np.uint8),
                quality=85,
            )
            for g in range(n)
        ]
        blobs.append((k, bytearray(encode_mp4_fragmented(
            frames,
            width=16,
            height=8,
            media_timescale=100 * (1 + k % 4),
            sample_durations=[10 + ((k + g) % 5) for g in range(n)],
            frames_per_fragment=fpg,
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return mp4_video_frame_features(media, every_n=1, strict=True)


@query(
    "mm_mp4_keyframe_decode",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    k2s AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS k2),
    fr AS (SELECT k2, CAST(unnest(range(0, 3 + k2 % 3)) AS INT) AS g
           FROM k2s),
    w AS (SELECT k2, g,
                 COALESCE(SUM(10 + ((k2 + g) % 5)) OVER (
                     PARTITION BY k2 ORDER BY g
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS dts
          FROM fr)
    SELECT media_id,
           g AS frame_index,
           CAST((dts * 1000) // (100 * (1 + k % 4)) AS BIGINT) AS pts_ms,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(128 + 5 * (((k + 7 * g) % 40) - 20) AS DOUBLE)
             AS mean_intensity
    FROM p JOIN w ON w.k2 = p.k
    WHERE g % 2 = 0
    """,
)
def mm_mp4_keyframe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync-sample (stss) seek-point decode — the cheap thumbnail/
    fingerprint pass every video pipeline runs before full decode:
    variant k's 3+k%3 frames carry an stss marking the even 0-based
    samples as keyframes, and ``keyframes_only=True`` restricts the
    walk to exactly those — frame_index and pts_ms keep their
    FULL-TIMELINE values (the stts running sum over ALL samples, not
    just decoded ones), so the oracle's even-g filter over the same
    arithmetic catches both a wrong stss parse (extra/missing rows)
    and any pts drift from skipping samples without accumulating
    their durations.  Scale: the decode stage pays only for sync
    samples — on real GOP-structured video that is the 1-2% of frames
    a triage pass should touch."""
    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_mp4_mjpeg, mp4_video_frame_features,
    )

    import numpy as np

    blobs = []
    for k in range(40):
        n = 3 + k % 3
        frames = [
            encode_baseline_jpeg(
                np.full((8, 16), 128 + 5 * (((k + 7 * g) % 40) - 20),
                        dtype=np.uint8),
                quality=85,
            )
            for g in range(n)
        ]
        blobs.append((k, bytearray(encode_mp4_mjpeg(
            frames,
            width=16,
            height=8,
            media_timescale=100 * (1 + k % 4),
            sample_durations=[10 + ((k + g) % 5) for g in range(n)],
            sync_samples=[g + 1 for g in range(n) if g % 2 == 0],
        ))))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return mp4_video_frame_features(
        media, every_n=1, strict=True, keyframes_only=True
    )


@query(
    "mm_mp3_id3_tags",
    oracle="""
    WITH p AS (SELECT doc_id AS media_id, CAST(doc_id % 40 AS INT) AS k
               FROM documents),
    fr AS (SELECT media_id, k, f.frame_id
           FROM p, (VALUES ('TALB'), ('TIT2'), ('TPE1')) AS f(frame_id)
           WHERE NOT (k % 5 = 4 AND f.frame_id = 'TALB'))
    SELECT media_id, frame_id,
           CASE frame_id
             WHEN 'TIT2' THEN 'Title ' || CAST(k AS VARCHAR)
             WHEN 'TPE1' THEN 'Artist ' || CAST(k % 7 AS VARCHAR)
             ELSE 'Album ' || CAST(k % 3 AS VARCHAR)
           END AS value
    FROM fr
    """,
)
def mm_mp3_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 metadata extraction (operators/multimodal.mp3_id3_tags) —
    the metadata leg of the MP3 story: variant k writes a REAL tag
    (v2.4 syncsafe/UTF-8 for even k, v2.3 plain-size/Latin-1 for odd —
    both real-world layouts walk) carrying TIT2/TPE1 always and TALB
    except when k%5==4 (absence must yield absent rows, not NULLs),
    followed by genuine MPEG frames the walk must NOT read into.
    Values come from k-arithmetic the oracle replays; v2.4 padding
    bytes after the frames prove the zero-id stop rule.  One row per
    (media, frame) — the 1-row→frames explosion.  Scale: 40-blob
    broadcast dim, mapInPandas, zero shuffle, O(tag bytes) per blob."""
    from aroa_etl_spark.operators.multimodal import (
        encode_id3v2, encode_mp3_frames, mp3_id3_tags,
    )

    blobs = []
    for k in range(40):
        frames = {"TIT2": f"Title {k}", "TPE1": f"Artist {k % 7}"}
        if k % 5 != 4:
            frames["TALB"] = f"Album {k % 3}"
        tag = encode_id3v2(
            frames, version=4 if k % 2 == 0 else 3,
            padding=6 if k % 2 == 0 else 0,
        )
        blobs.append((k, bytearray(
            tag + encode_mp3_frames([1 + k % 14], sr_idx=k % 3)
        )))
    dim = spark.createDataFrame(blobs, "v_key int, content binary")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 40).cast("int").alias("v_key"),
    ).join(F.broadcast(dim), "v_key").drop("v_key")
    return mp3_id3_tags(media, strict=True)

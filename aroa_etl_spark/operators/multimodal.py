"""Multimodal (image/audio/video) column handling for training-data
pipelines.

Design: media are opaque ``binary`` columns with a typed metadata
struct, processed by per-blob kernels that all run through
:func:`blob_map` (one ``mapInPandas`` stage; see it for the batch,
normalization and memo contract).  The Spark-side plumbing — schemas,
partition sizing, output contracts — is real and tested, and so are
the codecs for the dependency-free formats:

- images: PNG (stdlib zlib), PPM/PGM, uncompressed 24-bit BMP, and
  baseline-sequential JPEG (vendored pure-NumPy T.81 codec,
  operators/jpegcodec.py) decode for real; anything else — and
  non-baseline JPEG variants — dispatches to PIL when importable;
- audio: WAV PCM 8/16/24/32-bit decodes for real via stdlib ``wave``;
  other formats dispatch to soundfile when importable;
- video: ``rawvideo`` (concatenated uncompressed frames) slices real
  frames; container formats need an ffmpeg not present here.

``strict=True`` means "real media or raise": a format with no
available codec raises ``NotImplementedError``. ``strict=False`` falls
back to a deterministic fake (hash-derived pixels/waveform) so
downstream plumbing can always be exercised end-to-end.

Reference analogue: the KI-Indizierung pipeline treats GCS card scans
as opaque blobs manifested in a DataFrame and maps an expensive
per-item function over them (indizierung.ipynb cells 15-22); this
module is that pattern productionized on Spark.

Scale notes:
- Media bytes dominate row size: keep ``spark.sql.files.maxPartitionBytes``
  small enough that a partition of blobs fits executor memory, or store
  blobs as paths + lazy-load inside the kernel (``content_col=None``).
- Feature extraction is embarrassingly parallel: no shuffle at all
  until the downstream groupBy/join.
"""

from __future__ import annotations

import hashlib
from collections import deque
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def task_blob_memo(max_entries: int = 64):
    """Content-addressed decode cache for per-blob kernels, ONE PER
    TASK (construct it at kernel start, before the batch loop — guide
    §4.5's once-per-task state).  ``get(key, fn)`` returns the cached
    value for ``key`` or computes it via ``fn``.

    Crawl corpora are heavily duplicated (CDN re-uploads, mirrored
    assets, thumbnail farms), so a decode-bound kernel that decodes
    each DISTINCT payload once and re-emits the result is the standard
    content-addressable trick; the memoized value is a pure function
    of the key (the blob bytes + any decode parameters), so every
    output row is byte-identical to the uncached kernel.  Bounded FIFO
    (``max_entries``) so a task over high-cardinality content degrades
    to plain decode instead of hoarding memory.  The cache lives
    inside one task invocation — nothing survives the task, the query,
    or the process (this is NOT cross-run result caching).

    Reserve it for kernels whose per-blob work clearly exceeds a hash
    of the payload (full decoders, frame composition); a memo wrapped
    around an O(header) walk costs more than it saves (the JPEG marker
    scan ran at 0.78x and the tar header walk at 0.74x with one).

    Keys: byte payloads above a small threshold are replaced by their
    128-bit BLAKE2 digest, so the cache never pins up to 64 full blobs
    (plus values) in task memory; an unhashable key component (e.g. an
    array-valued map in a meta struct) degrades to an uncached compute
    instead of raising.
    """
    memo: dict = {}
    order: deque = deque()
    _MISS = object()

    def _norm(key):
        if isinstance(key, (bytes, bytearray)):
            return (
                hashlib.blake2b(key, digest_size=16).digest()
                if len(key) > 64 else bytes(key)
            )
        if isinstance(key, tuple):
            return tuple(_norm(k) for k in key)
        return key

    def get(key, fn):
        try:
            key = _norm(key)
            v = memo.get(key, _MISS)
        except TypeError:  # unhashable component — compute uncached
            return fn()
        if v is _MISS:
            v = fn()
            memo[key] = v
            order.append(key)
            if len(order) > max_entries:
                memo.pop(order.popleft(), None)
        return v

    return get


def blob_map(
    df: DataFrame,
    schema: T.StructType,
    fn,
    *,
    keys,
    args,
    memo: bool = False,
) -> DataFrame:
    """Run ``fn`` once per input row as ONE ``mapInPandas`` stage — the
    batch loop every per-blob kernel (decoders, container walks,
    archive explodes) shares.

    ``fn(*values)`` gets the row's ``args`` columns and returns a list
    of output-row dicts: ``[row]`` for a one-row kernel, ``[]`` to drop
    the input row, k dicts to explode it.  The runner

    - normalizes inputs with one rule: a BINARY value arrives as
      ``bytes`` (NULL → ``b""``), a STRUCT as a ``dict`` (NULL → ``{}``);
    - adds the row's ``keys`` columns to every output dict (a value
      ``fn`` returns under a key's name wins);
    - with ``memo=True`` computes ``fn`` once per distinct ``args``
      tuple per task (:func:`task_blob_memo`);
    - yields each batch in ``schema`` column order, so a batch with no
      output rows still carries the schema's columns.

    Only the ``keys`` and ``args`` columns are shipped to Python.  Peak
    memory is one Arrow batch, not one partition: cap
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (e.g. 64) for
    large blobs.  No shuffle."""
    keys, args = tuple(keys), tuple(args)
    in_types = {f.name: f.dataType for f in df.schema.fields}
    is_bin = [isinstance(in_types[c], T.BinaryType) for c in args]
    is_struct = [isinstance(in_types[c], T.StructType) for c in args]
    cols = [f.name for f in schema.fields]

    def arg_column(pdf, c, b, s):
        vals = pdf[c].tolist()
        if b:
            return [bytes(v or b"") for v in vals]
        if s:
            return [dict(v or {}) for v in vals]
        return vals

    def memo_key(vals):
        return tuple(
            tuple(sorted(v.items())) if s else v for v, s in zip(vals, is_struct)
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = task_blob_memo() if memo else None
        for pdf in batches:
            arg_rows = zip(*(
                arg_column(pdf, c, b, s) for c, b, s in zip(args, is_bin, is_struct)
            ))
            out = []
            for kd, vals in zip(pdf[list(keys)].to_dict("records"), arg_rows):
                rows = (
                    fn(*vals) if cache is None
                    else cache(memo_key(vals), lambda: fn(*vals))
                )
                out.extend({**kd, **r} for r in rows)
            yield pd.DataFrame(out, columns=cols)

    needed = dict.fromkeys(keys + args)
    return df.select(
        *[F.col("`" + c.replace("`", "``") + "`") for c in needed]
    ).mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# schemas
# ---------------------------------------------------------------------------

IMAGE_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

AUDIO_META = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

VIDEO_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)


def media_table_schema(meta: T.StructType) -> T.StructType:
    """Canonical media table: id, uri, opaque bytes, typed metadata."""
    return T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("uri", T.StringType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", meta),
        ]
    )


# ---------------------------------------------------------------------------
# image codecs: real decoders for PNG / PPM / PGM / BMP (no external
# dependency), PIL for anything else when importable, deterministic fake
# as the non-strict fallback
# ---------------------------------------------------------------------------

def _fake_pixels(content: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Deterministic fake decode: pixels derived from sha256 of the
    bytes, tiled to shape. NOT a real codec — the non-strict fallback
    for formats without a real decoder in this environment."""
    digest = hashlib.sha256(content or b"").digest()
    seed = np.frombuffer(digest, dtype=np.uint8)
    n = width * height * channels
    reps = (n + len(seed) - 1) // len(seed)
    return np.tile(seed, reps)[:n].reshape(height, width, channels)


# Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass —
# PNG spec (ISO/IEC 15948) §8.2; passes with zero pixels emit no bytes.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, offset: int, height: int, row_bytes: int,
                  bpp: int) -> tuple[np.ndarray, int]:
    """Reverse PNG scanline filtering for one (sub-)image: ``height``
    rows of [filter byte | row_bytes filtered bytes] starting at
    ``offset``; ``bpp`` is the filter's left-neighbor distance in BYTES
    (channels x bytes-per-sample — the spec's per-byte semantics, which
    is why 16-bit needs no separate filter code).  Returns (rows,
    next offset)."""
    out = np.empty((height, row_bytes), dtype=np.uint8)
    prev = np.zeros(row_bytes, dtype=np.uint8)
    pos = offset
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=row_bytes, offset=pos + 1).copy()
        pos += 1 + row_bytes
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = line + prev
        else:  # Sub / Average / Paeth need the running left neighbor
            cur = line
            for x in range(row_bytes):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
                cur[x] = (int(cur[x]) + pred) & 0xFF
        out[y] = cur
        prev = cur
    return out, pos


def _png_rows_to_samples(rows: np.ndarray, h: int, w: int, channels: int,
                         depth: int) -> np.ndarray:
    """(h, w*channels*depth/8) filtered-byte rows → (h, w, channels)
    samples; 16-bit samples are big-endian per the spec."""
    if depth == 8:
        return rows.reshape(h, w, channels)
    pairs = rows.reshape(h, w, channels, 2).astype(np.uint16)
    return (pairs[..., 0] << 8) | pairs[..., 1]


def _png_unpack_indices(rows: np.ndarray, ph: int, pw: int, depth: int) -> np.ndarray:
    """(ph, row_bytes) unfiltered palette scanlines → (ph, pw) indices;
    sub-byte depths pack indices MSB-first within each byte."""
    if depth == 8:
        return rows[:, :pw]
    bits = np.unpackbits(rows, axis=1)
    grouped = bits[:, : pw * depth].reshape(ph, pw, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (grouped * weights).sum(axis=2).astype(np.uint8)


def _decode_png(content: bytes) -> np.ndarray:
    """Real PNG decode (pure stdlib): 8/16-bit gray / gray+alpha / RGB
    / RGBA, PALETTED (color type 3) at 1/2/4/8-bit index depth with
    optional tRNS alpha, Adam7 interlaced or not — every PNG a
    training pipeline writes itself plus the palette and progressive
    forms crawled pages actually carry.  Output dtype is uint8 (or
    uint16 for 16-bit samples); paletted images decode to RGB, or RGBA
    when a tRNS chunk is present."""
    import struct
    import zlib

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos, width, height, channels, idat = 8, 0, 0, 0, []
    depth = interlace = color = 0
    plte = trns = None
    while pos < len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            if color == 3:
                if depth not in (1, 2, 4, 8):
                    raise ValueError(f"bad paletted PNG depth {depth}")
                channels = 1
            else:
                if depth not in (8, 16):
                    raise NotImplementedError("stdlib PNG path: 8/16-bit depth only")
                channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
                if channels is None:
                    raise NotImplementedError(f"PNG color type {color} unsupported")
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("malformed PNG: PLTE length not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS" and color == 3:
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    raw = zlib.decompress(b"".join(idat))
    paletted = color == 3

    def row_bytes(pw: int) -> int:
        if paletted:
            return (pw * depth + 7) // 8
        return pw * channels * (depth // 8)

    bpp = 1 if paletted else channels * (depth // 8)

    def to_pixels(rows: np.ndarray, ph: int, pw: int) -> np.ndarray:
        if paletted:
            return _png_unpack_indices(rows, ph, pw, depth)[:, :, None]
        return _png_rows_to_samples(rows, ph, pw, channels, depth)

    if interlace == 0:
        rows, _ = _png_unfilter(raw, 0, height, row_bytes(width), bpp)
        img = to_pixels(rows, height, width)
    else:
        img = np.zeros(
            (height, width, channels),
            dtype=np.uint16 if depth == 16 and not paletted else np.uint8,
        )
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass: no scanlines at all
            rows, pos = _png_unfilter(raw, pos, ph, row_bytes(pw), bpp)
            img[y0::dy, x0::dx] = to_pixels(rows, ph, pw)
    if not paletted:
        return img
    if plte is None:
        raise ValueError("malformed PNG: paletted image without PLTE")
    idx = img[:, :, 0]
    if int(idx.max(initial=0)) >= len(plte):
        raise ValueError("malformed PNG: palette index out of range")
    rgb = plte[idx]
    if trns is None:
        return rgb
    alpha = np.full(len(plte), 255, dtype=np.uint8)
    alpha[: len(trns)] = trns
    return np.dstack([rgb, alpha[idx]])


def encode_png(pixels: np.ndarray, *, interlace: bool = False) -> bytes:
    """Minimal PNG encoder for fixtures and the image sink: uint8 or
    uint16 (H, W, C) input, optional Adam7 interlacing; scanline filter
    type cycles 0-4 by row so a decode round-trip exercises every
    filter's reverse path (None/Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    if pixels.ndim != 3:
        raise ValueError("pixels must be (H, W, C)")
    h, w, c = pixels.shape
    depth = 16 if pixels.dtype == np.uint16 else 8
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c * (depth // 8)

    def filt(sub_px: np.ndarray) -> bytes:
        """Filter one (ph, pw, C) sub-image, cycling filter types."""
        ph = sub_px.shape[0]
        if depth == 16:
            be = sub_px.astype(">u2")
            lines = be.reshape(ph, -1).view(np.uint8).reshape(ph, -1)
        else:
            lines = sub_px.reshape(ph, -1)
        out = bytearray()
        prev = np.zeros(lines.shape[1], dtype=np.uint8)
        for y in range(ph):
            line = lines[y].astype(np.int16)
            ftype = y % 5
            left = np.zeros_like(line)
            left[bpp:] = line[:-bpp]
            up = prev.astype(np.int16)
            upleft = np.zeros_like(up)
            upleft[bpp:] = up[:-bpp]
            if ftype == 0:
                pred = np.zeros_like(line)
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:  # Paeth
                p = left + up - upleft
                pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
                )
            out.append(ftype)
            out.extend(((line - pred) % 256).astype(np.uint8).tobytes())
            prev = lines[y]
        return bytes(out)

    if interlace:
        raw = b"".join(
            filt(pixels[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if pixels[y0::dy, x0::dx].shape[0] and pixels[y0::dy, x0::dx].shape[1]
        )
    else:
        raw = filt(pixels)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_png_palette(
    idx: np.ndarray,
    plte: np.ndarray,
    *,
    trns: bytes | None = None,
    depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """Minimal color-type-3 PNG encoder (fixtures + palette-image sink):
    (H, W) uint8 indices packed MSB-first at 1/2/4/8-bit depth, a
    (N, 3) palette, optional tRNS alpha bytes, optional Adam7 row
    layout.  Filter type 0 per scanline (palette rows rarely benefit
    from filtering and index arithmetic under Sub/Avg is meaningless)."""
    import struct
    import zlib

    if idx.ndim != 2 or idx.dtype != np.uint8:
        raise ValueError("encode_png_palette: (H, W) uint8 indices only")
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"bad palette depth {depth}")
    if int(idx.max(initial=0)) >= min(len(plte), 1 << depth):
        raise ValueError("palette index exceeds palette/depth capacity")
    h, w = idx.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    def pack_rows(sub: np.ndarray) -> bytes:
        out = bytearray()
        for row in sub:
            out.append(0)  # filter None
            if depth == 8:
                out.extend(bytes(row.tolist()))
            else:
                bits = np.zeros((len(row), depth), np.uint8)
                for b in range(depth):
                    bits[:, b] = (row >> (depth - 1 - b)) & 1
                flat = bits.reshape(-1)
                flat = np.concatenate([flat, np.zeros((-len(flat)) % 8, np.uint8)])
                out.extend(np.packbits(flat).tobytes())
        return bytes(out)

    if interlace:
        raw = b"".join(
            pack_rows(idx[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if idx[y0::dy, x0::dx].size
        )
    else:
        raw = pack_rows(idx)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 1 if interlace else 0)
    out = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    )
    if trns is not None:
        out += chunk(b"tRNS", trns)
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def _decode_netpbm(content: bytes) -> np.ndarray:
    """Real binary netpbm decode: P5 (PGM, gray) / P6 (PPM, RGB)."""
    magic = content[:2]
    channels = {b"P5": 1, b"P6": 3}.get(magic)
    if channels is None:
        raise ValueError("not a binary PGM/PPM")
    # header = magic, width, height, maxval as whitespace-separated
    # ASCII tokens (comment lines starting with '#' allowed)
    tokens: list[int] = []
    pos = 2
    while len(tokens) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = tokens
    if not 0 < maxval < 65536:
        raise ValueError(f"netpbm maxval out of range: {maxval}")
    n = width * height * channels
    if maxval > 255:
        # 2-byte samples, most significant byte first (netpbm spec)
        return (
            np.frombuffer(content, dtype=">u2", count=n, offset=pos)
            .astype(np.uint16)
            .reshape(height, width, channels)
        )
    return (
        np.frombuffer(content, dtype=np.uint8, count=n, offset=pos)
        .copy()
        .reshape(height, width, channels)
    )


def _decode_bmp(content: bytes) -> np.ndarray:
    """Real BMP decode: uncompressed 24-bit BI_RGB (the format every
    'save as BMP' produces). Rows are bottom-up, 4-byte padded, BGR."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_offset,) = struct.unpack("<I", content[10:14])
    width, height = struct.unpack("<ii", content[18:26])
    bpp, compression = struct.unpack("<HI", content[28:34])
    if bpp != 24 or compression != 0:
        raise NotImplementedError("stdlib BMP path: uncompressed 24-bit only")
    flip = height > 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    rows = []
    for y in range(height):
        off = data_offset + y * row_bytes
        row = np.frombuffer(content, dtype=np.uint8, count=width * 3, offset=off)
        rows.append(row.reshape(width, 3)[:, ::-1])  # BGR -> RGB
    px = np.stack(rows)
    return px[::-1] if flip else px


def _decode_tiff(content: bytes) -> np.ndarray:
    """Real baseline TIFF decode (TIFF 6.0 spec): uncompressed strips,
    8 bits/sample, grayscale (PhotometricInterpretation 0/1) or RGB,
    both byte orders. Compressed / tiled / multi-IFD variants raise
    NotImplementedError (PIL fallback when installed). The reference's
    scanned-card corpus is JPEG/TIFF (S8), so together with the
    vendored JPEG codec both production formats decode for real."""
    import struct

    bo = {b"II": "<", b"MM": ">"}.get(content[:2])
    if bo is None or len(content) < 8 or struct.unpack(bo + "H", content[2:4])[0] != 42:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack(bo + "I", content[4:8])
    (n_entries,) = struct.unpack(bo + "H", content[ifd_off:ifd_off + 2])
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    for i in range(n_entries):
        e = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(bo + "HHI", content[e:e + 8])
        if typ not in type_size:
            continue  # rationals etc. (resolution tags) — not needed
        total = type_size[typ] * count
        if total <= 4:
            raw = content[e + 8:e + 8 + total]
        else:
            (off,) = struct.unpack(bo + "I", content[e + 8:e + 12])
            raw = content[off:off + total]
        tags[tag] = list(struct.unpack(bo + str(count) + type_fmt[typ], raw))
    if 256 not in tags or 257 not in tags:
        # required tags absent: malformed input -> ValueError per the
        # module's error taxonomy (a bare KeyError would bypass the
        # strict-mode contract)
        raise ValueError("malformed TIFF: missing ImageWidth/ImageLength")
    width = tags[256][0]
    height = tags[257][0]
    bits = tags.get(258, [8])
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    spp = tags.get(277, [1])[0]
    if compression not in (1, 8, 32946):
        # 8 = Adobe DEFLATE, 32946 = the older deflate code — both are
        # zlib streams per strip (TIFF TechNote 2); LZW/JPEG-in-TIFF
        # stay on the PIL fallback
        raise NotImplementedError(
            "stdlib TIFF path: uncompressed or DEFLATE (1/8/32946) only"
        )
    if any(b != 8 for b in bits):
        raise NotImplementedError("stdlib TIFF path: 8 bits/sample only")
    if photometric not in (0, 1, 2) or spp not in (1, 3):
        raise NotImplementedError("stdlib TIFF path: gray or RGB only")
    if 273 not in tags or 324 in tags:
        raise NotImplementedError("stdlib TIFF path: stripped only (tiled TIFF)")
    if tags.get(284, [1])[0] != 1:
        # planar (plane-ordered) RGB would reshape to scrambled pixels
        raise NotImplementedError("stdlib TIFF path: chunky (interleaved) only")
    next_ifd_at = ifd_off + 2 + 12 * n_entries
    (next_ifd,) = struct.unpack(bo + "I", content[next_ifd_at:next_ifd_at + 4])
    if next_ifd != 0:
        raise NotImplementedError("stdlib TIFF path: single-page only (multi-IFD)")
    predictor = tags.get(317, [1])[0]
    if predictor not in (1, 2):
        raise NotImplementedError("stdlib TIFF path: predictor 1/2 only")
    offsets = tags[273]
    counts = tags.get(279, [width * height * spp])
    strips = [content[o:o + c] for o, c in zip(offsets, counts)]
    if compression in (8, 32946):
        import zlib

        strips = [zlib.decompress(s) for s in strips]
    data = b"".join(strips)
    n = width * height * spp
    px = np.frombuffer(data, dtype=np.uint8, count=n).copy().reshape(height, width, spp)
    if predictor == 2:
        # horizontal differencing: first sample raw, rest are deltas —
        # reconstruct with a per-row per-channel cumulative sum mod 256
        px = np.cumsum(px.astype(np.uint32), axis=1, dtype=np.uint32)
        px = (px % 256).astype(np.uint8)
    if photometric == 0:  # WhiteIsZero: invert
        px = 255 - px
    return px


def encode_tiff(
    pixels: np.ndarray, *, deflate: bool = False, predictor: bool = False
) -> bytes:
    """Minimal little-endian TIFF encoder (8-bit gray/RGB, one strip) —
    fixture generation for the decoder tests and the
    mm_tiff_decode_real oracle's constant-header construction.
    ``deflate=True`` writes Compression 8 (Adobe DEFLATE, one zlib
    stream per strip); ``predictor=True`` adds horizontal differencing
    (Predictor 2) before compression — the pairing real writers use
    because differencing makes smooth imagery deflate well."""
    import struct
    import zlib

    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, c = pixels.shape
    if c not in (1, 3) or pixels.dtype != np.uint8:
        raise ValueError("need uint8 (H, W, 1|3)")
    if predictor and not deflate:
        raise ValueError("predictor 2 here is the deflate pairing — set deflate=True")
    staged = pixels
    if predictor:
        diffed = staged.astype(np.int16)
        diffed[:, 1:] -= staged[:, :-1].astype(np.int16)
        staged = (diffed % 256).astype(np.uint8)
    payload = staged.tobytes()
    if deflate:
        payload = zlib.compress(payload, 6)
    entries = [
        (256, 3, 1, w),           # ImageWidth
        (257, 3, 1, h),           # ImageLength
        (259, 3, 1, 8 if deflate else 1),  # Compression
        (262, 3, 1, 2 if c == 3 else 1),  # Photometric: RGB / BlackIsZero
        (277, 3, 1, c),           # SamplesPerPixel
        (278, 3, 1, h),           # RowsPerStrip: one strip
        (279, 4, 1, len(payload)),  # StripByteCounts
    ]
    if predictor:
        entries.append((317, 3, 1, 2))  # Predictor: horizontal differencing
    if c == 3:
        # BitsPerSample for RGB needs 3 SHORTs -> stored out-of-line
        entries.append((258, 3, 3, None))  # placeholder, offset patched
    else:
        entries.append((258, 3, 1, 8))
    # layout: header(8) | IFD | [bits array] | strip data
    n = len(entries) + 1  # + StripOffsets
    ifd_size = 2 + 12 * (n) + 4
    bits_off = 8 + ifd_size
    data_off = bits_off + (6 if c == 3 else 0)
    entries.append((273, 4, 1, data_off))  # StripOffsets
    entries.sort()
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", n)
    for tag, typ, count, val in entries:
        if tag == 258 and c == 3:
            out += struct.pack("<HHII", tag, typ, count, bits_off)
        elif typ == 3:
            out += struct.pack("<HHIHH", tag, typ, count, val, 0)
        else:
            out += struct.pack("<HHII", tag, typ, count, val)
    out += struct.pack("<I", 0)  # next IFD: none
    if c == 3:
        out += struct.pack("<HHH", 8, 8, 8)
    out += payload
    return bytes(out)


def _decode_jpeg(content: bytes) -> np.ndarray:
    """Baseline-sequential AND progressive (SOF2) JPEG via the vendored
    pure-NumPy codec (operators/jpegcodec.py — implemented from the
    public T.81 spec; the sandbox has no libjpeg).  The remaining exotic
    modes (arithmetic coding / lossless / hierarchical / 12-bit) fall
    through to PIL when installed; without PIL the NotImplementedError
    propagates, which is exactly the strict-mode contract."""
    from aroa_etl_spark.operators.jpegcodec import decode_baseline_jpeg

    try:
        return decode_baseline_jpeg(content)
    except NotImplementedError:
        try:
            return _pil_decode(content)
        except ImportError:
            raise NotImplementedError(
                "exotic JPEG (arithmetic/lossless/hierarchical/12-bit) "
                "needs PIL; the vendored codec covers baseline sequential "
                "and progressive"
            ) from None


def _lzw_decode_gif(data: bytes, min_code_size: int) -> list[int]:
    """GIF-variant LZW (public GIF89a spec, Appendix F): LSB-first bit
    packing, variable code width starting at min_code_size+1, clear and
    end-of-information codes, 12-bit width cap.  The decoder widens its
    code size when the dictionary reaches 2^width AFTER appending —
    the standard (non-deferred-clear) convention `encode_gif` mirrors
    one entry later."""
    clear = 1 << min_code_size
    end = clear + 1
    base: list[list[int] | None] = [[i] for i in range(clear)] + [None, None]
    d = list(base)
    code_size = min_code_size + 1
    # rolling bit buffer (mirrors encode's emit()): a single big-int
    # shifted per code would copy the whole remaining stream each read,
    # turning decode O(n^2) in blob size
    buf = 0
    nbuf = 0
    byte_at = 0
    n_bytes = len(data)
    out: list[int] = []
    prev: list[int] | None = None
    while True:
        while nbuf < code_size and byte_at < n_bytes:
            buf |= data[byte_at] << nbuf
            nbuf += 8
            byte_at += 1
        if nbuf < code_size:
            break
        code = buf & ((1 << code_size) - 1)
        buf >>= code_size
        nbuf -= code_size
        if code == clear:
            d = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            if code >= clear:
                raise ValueError("malformed GIF: first LZW code not a literal")
            entry = d[code]  # type: ignore[assignment]
        elif code < len(d):
            entry = d[code]  # type: ignore[assignment]
        elif code == len(d):
            entry = prev + [prev[0]]
        else:
            raise ValueError("malformed GIF: LZW code beyond dictionary")
        out.extend(entry)
        if prev is not None:
            d.append(prev + [entry[0]])
            if len(d) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    raise ValueError("malformed GIF: LZW stream ended without EOI code")


def _lzw_encode_gif(indices: list[int], min_code_size: int) -> bytes:
    """GIF-variant LZW encoder matching `_lzw_decode_gif`'s width
    schedule (widen when next_code passes the current width's range —
    one entry after the decoder, which lags the encoder's dictionary by
    exactly one append)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    buf = 0
    nbuf = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal buf, nbuf
        buf |= code << nbuf
        nbuf += code_size
        while nbuf >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbuf -= 8

    def reset() -> tuple[dict[tuple[int, ...], int], int]:
        return {(i,): i for i in range(clear)}, end + 1

    d, next_code = reset()
    emit(clear)
    prev: tuple[int, ...] = ()
    for s in indices:
        if not 0 <= s < clear:
            raise ValueError("palette index out of range for LZW code size")
        cur = prev + (s,)
        if cur in d:
            prev = cur
            continue
        emit(d[prev])
        d[cur] = next_code
        next_code += 1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        if next_code > 4095:
            emit(clear)
            code_size = min_code_size + 1
            d, next_code = reset()
        prev = (s,)
    if prev:
        emit(d[prev])
    emit(end)
    if nbuf:
        out.append(buf & 0xFF)
    return bytes(out)


def _gif_interlace_rows(h: int) -> list[int]:
    """GIF89a four-pass interlace row order (spec appendix E): every
    8th row from 0, every 8th from 4, every 4th from 2, every 2nd
    from 1 — row i of the stream displays at position order[i].
    Shared by the decoder scatter and the encoder gather so the two
    can never drift apart."""
    return [
        r
        for step, start in ((8, 0), (8, 4), (4, 2), (2, 1))
        for r in range(start, h, step)
    ]


def _decode_gif(content: bytes) -> np.ndarray:
    """Real GIF decode (public GIF87a/89a spec): logical screen
    descriptor, global/local color tables, extension-block skipping,
    sub-block reassembly, LZW decompression, palette lookup -> RGB,
    four-pass interlace row scatter (spec appendix E).
    First image frame only."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(content) < 13:
        raise ValueError("malformed GIF: truncated header")
    packed = content[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        if len(content) < pos + 3 * n:
            raise ValueError("malformed GIF: truncated color table")
        gct = np.frombuffer(content[pos:pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(content):
        b = content[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label byte then sub-blocks
            pos += 2
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"malformed GIF: unexpected block 0x{b:02x}")
        _l, _t, iw, ih, ipacked = struct.unpack("<HHHHB", content[pos + 1:pos + 10])
        pos += 10
        lct = gct
        if ipacked & 0x80:
            n = 2 ** ((ipacked & 0x07) + 1)
            lct = np.frombuffer(content[pos:pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if lct is None:
            raise ValueError("malformed GIF: no color table")
        mcs = content[pos]
        pos += 1
        data = bytearray()
        while pos < len(content) and content[pos] != 0:
            ln = content[pos]
            data += content[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode_gif(bytes(data), mcs)
        if len(idx) < iw * ih:
            raise ValueError("malformed GIF: short pixel data")
        arr = np.array(idx[: iw * ih], dtype=np.int32)
        if int(arr.max(initial=0)) >= len(lct):
            raise ValueError("malformed GIF: palette index out of range")
        px = lct[arr].reshape(ih, iw, 3)
        if ipacked & 0x40:
            # interlaced: scatter the sequentially-decoded rows to
            # their four-pass display positions
            out = np.empty_like(px)
            out[_gif_interlace_rows(ih)] = px
            px = out
        return px
    raise ValueError("malformed GIF: no image data")


def encode_gif(pixels: np.ndarray, *, interlace: bool = False) -> bytes:
    """Minimal GIF89a encoder for 8-bit GRAYSCALE arrays (fixture
    generation for the decoder tests and the mm_gif_decode_real
    oracle): 256-entry grayscale global palette, one full-frame image
    (optionally interlaced — rows written in the four-pass order with
    the descriptor bit set), real LZW compression, 255-byte sub-block
    framing."""
    import struct

    if pixels.ndim != 2 or pixels.dtype != np.uint8:
        raise ValueError("encode_gif: 2-D uint8 grayscale only")
    h, w = pixels.shape
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    palette = bytes(bytearray(v for i in range(256) for v in (i, i, i)))
    desc = b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    staged = pixels[_gif_interlace_rows(h)] if interlace else pixels
    lzw = _lzw_encode_gif(staged.flatten().tolist(), 8)
    sub = b"".join(
        bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255] for i in range(0, len(lzw), 255)
    )
    return head + palette + desc + b"\x08" + sub + b"\x00\x3B"


_IMAGE_DECODERS = {
    "png": _decode_png,
    "ppm": _decode_netpbm,
    "pgm": _decode_netpbm,
    "bmp": _decode_bmp,
    "jpg": _decode_jpeg,
    "jpeg": _decode_jpeg,
    "tif": lambda c: _with_pil_fallback(_decode_tiff, c, "compressed/tiled TIFF"),
    "tiff": lambda c: _with_pil_fallback(_decode_tiff, c, "compressed/tiled TIFF"),
    "gif": lambda c: _with_pil_fallback(_decode_gif, c, "exotic GIF"),
    # full still-WebP decode: VP8L lossless (operators/vp8lcodec.py)
    # AND lossy VP8 keyframes incl. ALPH alpha (operators/vp8codec.py
    # — RFC 6386, libwebp-differential
    # bit-exact); only ANMF animation falls through to PIL when present
    "webp": lambda c: _with_pil_fallback(
        __import__(
            "aroa_etl_spark.operators.vp8codec", fromlist=["decode_webp"]
        ).decode_webp,
        c,
        "animated WebP",
    ),
}


def _with_pil_fallback(codec, content: bytes, what: str) -> np.ndarray:
    """Run a stdlib codec; variants it doesn't cover fall through to PIL
    when installed, else the NotImplementedError propagates (the honest
    strict-mode contract)."""
    try:
        return codec(content)
    except NotImplementedError:
        try:
            return _pil_decode(content)
        except ImportError:
            raise NotImplementedError(
                f"{what} needs PIL; the stdlib codec covers the baseline only"
            ) from None


def _pil_decode(content: bytes) -> np.ndarray:
    from io import BytesIO

    from PIL import Image  # noqa: PLC0415

    px = np.asarray(Image.open(BytesIO(content)))
    return px if px.ndim == 3 else px[:, :, None]


def decode_image(content: bytes, meta: dict, *, strict: bool = False) -> np.ndarray:
    """Decode an image column value to an (H, W, C) array — uint8 for
    8-bit sources, uint16 for 16-bit PNG/netpbm.

    Dispatch on ``meta['format']``: PNG / PPM / PGM / BMP decode for
    real with no external dependency; any other format tries PIL when
    importable. ``strict=True`` = "real pixels or raise" — formats with
    no available codec raise ``NotImplementedError`` instead of falling
    back to the deterministic fake decoder (sha256-tiled pixels), so
    callers can't mistake fake pixels for real ones."""
    fmt = (meta.get("format") or "").lower().lstrip(".")
    codec = _IMAGE_DECODERS.get(fmt)
    if codec is not None:
        try:
            return codec(content)
        except Exception:
            # corrupt/truncated blobs raise struct.error/zlib.error etc.;
            # non-strict mode must degrade to the fake decoder for ANY
            # decode failure (one bad blob must not kill a 100 TB job)
            if strict:
                raise
    elif fmt not in ("", "fake", "raw"):
        try:
            return _pil_decode(content)
        except ImportError:
            if strict:
                raise NotImplementedError(
                    f"no codec for image format {fmt!r} (PIL not installed); "
                    "run with strict=False for the deterministic fake decoder"
                ) from None
        except Exception:
            if strict:
                raise
    elif strict:
        raise NotImplementedError(
            f"image format {fmt!r} has no real codec; "
            "run with strict=False for the deterministic fake decoder"
        )
    return _fake_pixels(
        content, meta.get("width") or 8, meta.get("height") or 8, meta.get("channels") or 3
    )


# ---------------------------------------------------------------------------
# per-blob kernels (each one blob_map stage)
# ---------------------------------------------------------------------------

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("aspect_ratio", T.DoubleType()),
        T.StructField("phash", T.StringType()),
    ]
)


def image_features(df: DataFrame, *, strict: bool = False) -> DataFrame:
    """Per-image features via mapInPandas: byte size, mean intensity,
    aspect ratio, and a perceptual-hash-shaped digest (here: sha256 of
    the decoded/fake pixel grid — deterministic, so tests pin it)."""

    def feats(content: bytes, meta: dict) -> list:
        px = decode_image(content, meta, strict=strict)
        h, w = px.shape[0], px.shape[1]
        return [{
            "n_bytes": len(content),
            "mean_intensity": float(px.mean()),
            "aspect_ratio": (w / h) if h else 0.0,
            "phash": hashlib.sha256(px.tobytes()).hexdigest()[:16],
        }]

    return blob_map(
        df, IMAGE_FEATURES_SCHEMA, feats,
        keys=["media_id"], args=["content", "meta"], memo=True,
    )


WEBP_YUV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_y", T.DoubleType()),
        T.StructField("mean_u", T.DoubleType()),
        T.StructField("mean_v", T.DoubleType()),
    ]
)


def webp_yuv_stats(df: DataFrame) -> DataFrame:
    """REAL lossy-WebP decode to the NORMATIVE surface: per-blob 4:2:0
    plane means + dimensions via the vendored RFC 6386 VP8 keyframe
    decoder (operators/vp8codec.py).  YUV (not RGB) because
    the reconstruction is bit-exact across conformant decoders there —
    RGB conversion is a per-decoder convention.  Strict: a non-VP8 or
    corrupt blob raises.  Scale: mapInPandas per-blob kernel, zero
    shuffle."""
    from aroa_etl_spark.operators.vp8codec import decode_webp_vp8_yuv

    def stats(content: bytes) -> list:
        y, u, v = decode_webp_vp8_yuv(content)
        return [{
            "width": y.shape[1],
            "height": y.shape[0],
            "mean_y": float(y.mean()),
            "mean_u": float(u.mean()),
            "mean_v": float(v.mean()),
        }]

    return blob_map(
        df, WEBP_YUV_STATS_SCHEMA, stats,
        keys=["media_id"], args=["content"], memo=True,
    )


WEBP_ANIM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("loop_count", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("canvas_mean", T.DoubleType()),
    ]
)


def webp_anim_stats(df: DataFrame) -> DataFrame:
    """REAL animated-WebP decode (operators/vp8codec.
    decode_webp_anim): per-frame rows with the container metadata and
    the mean of the COMPOSITED canvas after each frame — dispose and
    blend applied per spec, so frame sampling for training data sees
    what a viewer sees.  Strict.  Scale: mapInPandas per-blob kernel,
    zero shuffle; pixel/frame bomb caps inherited from the codec."""
    from aroa_etl_spark.operators.vp8codec import decode_webp_anim

    def frames(content: bytes) -> list:
        anim = decode_webp_anim(content)
        n = len(anim["frames"])
        return [
            {
                "frame_idx": j,
                "n_frames": n,
                "loop_count": anim["loop_count"],
                "duration_ms": f["duration_ms"],
                "canvas_mean": float(f["canvas"].mean()),
            }
            for j, f in enumerate(anim["frames"])
        ]

    return blob_map(
        df, WEBP_ANIM_STATS_SCHEMA, frames,
        keys=["media_id"], args=["content"], memo=True,
    )


def resize_images(df: DataFrame, *, width: int, height: int, strict: bool = False) -> DataFrame:
    """Resize plumbing: decodes (stub), 'resizes' by nearest-neighbor
    index sampling on the fake grid, re-encodes as raw bytes, and
    rewrites the meta struct. Shows the full binary-in/binary-out
    mapInPandas contract."""

    def resize(content: bytes, meta: dict) -> list:
        px = decode_image(content, meta, strict=strict)
        ys = np.linspace(0, px.shape[0] - 1, height).astype(int)
        xs = np.linspace(0, px.shape[1] - 1, width).astype(int)
        resized = px[np.ix_(ys, xs)]
        return [{
            "content": resized.tobytes(),
            "meta": {
                "width": width,
                "height": height,
                "channels": int(resized.shape[2]),
                "format": "raw",
            },
        }]

    return blob_map(
        df, media_table_schema(IMAGE_META), resize,
        keys=["media_id", "uri"], args=["content", "meta"],
    )


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_video_frames(df: DataFrame, *, every_n: int = 30, strict: bool = False) -> DataFrame:
    """Frame sampling (1 row in → k frame rows out): the row-explosion
    contract of a video pipeline.

    Real paths: ``meta.format == 'rawvideo'`` — content is concatenated
    uncompressed frames of ``width*height*channels`` bytes, and every
    n-th REAL frame is sliced out (the layout ffmpeg's ``rawvideo``
    muxer writes); ``meta.format == 'avi'`` — the RIFF movi
    walk demuxes the real frame payloads (MJPEG: each is a complete
    JPEG; pair with :func:`video_frame_features` to also decode).
    Other container formats (mp4/mkv): ``strict=True`` raises;
    otherwise frame bytes are hash-derived fakes."""

    def sample(content: bytes, meta: dict) -> list:
        fmt = (meta.get("format") or "").lower()
        n_frames = int(meta.get("n_frames") or 0)
        frame_bytes = (
            int(meta.get("width") or 0)
            * int(meta.get("height") or 0)
            * int(meta.get("channels") or 3)
        )
        raw = fmt == "rawvideo" and frame_bytes > 0
        avi_frames = None
        if fmt == "avi":
            try:
                avi_frames = demux_avi_frames(content, strict=strict)
                n_frames = len(avi_frames)
            except (ValueError, IndexError):
                # mislabeled/corrupt blob: strict raises, the lenient
                # contract falls back to fake frames
                if strict:
                    raise
        elif raw and n_frames == 0:
            n_frames = len(content) // frame_bytes
        if strict and not raw and avi_frames is None:
            raise NotImplementedError(
                f"video format {fmt!r} has no real demuxer here; "
                "use format='rawvideo'/'avi' or strict=False"
            )
        rows = []
        for i in range(0, n_frames, every_n):
            if avi_frames is not None:
                frame = avi_frames[i]
            elif raw:
                frame = content[i * frame_bytes : (i + 1) * frame_bytes]
            else:
                frame = hashlib.sha256(content + i.to_bytes(8, "little")).digest()
            rows.append({"frame_index": i, "frame": frame})
        return rows

    return blob_map(
        df, FRAME_SAMPLE_SCHEMA, sample,
        keys=["media_id"], args=["content", "meta"],
    )


def attach_binary_from_ids(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Build a deterministic synthetic media table from an id column —
    test/bench harness for the kernels above (hash bytes stand in for
    real blobs)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.concat(F.lit("synthetic://"), F.col(id_col).cast("string")).alias("uri"),
        F.sha2(F.col(id_col).cast("string"), 256).cast("binary").alias("content"),
        F.struct(
            F.lit(16).alias("width"),
            F.lit(8).alias("height"),
            F.lit(3).alias("channels"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# audio
# ---------------------------------------------------------------------------

def _fake_waveform(content: bytes, n_samples: int, channels: int) -> np.ndarray:
    """Deterministic fake decode: float32 waveform in [-1, 1) derived
    from sha256 of the bytes. NOT a real codec — stands in for
    soundfile/torchaudio in this container."""
    digest = hashlib.sha256(content or b"").digest()
    seed = np.frombuffer(digest, dtype=np.uint8).astype(np.float32)
    n = max(0, n_samples) * max(1, channels)
    reps = (n + len(seed) - 1) // len(seed) if n else 1
    flat = np.tile(seed, max(1, reps))[:n]
    return (flat / 128.0 - 1.0).reshape(max(0, n_samples), max(1, channels))


def _wav_chunks(content: bytes) -> tuple[dict, bytes]:
    """Minimal RIFF/WAVE chunk walk: return (fmt fields, data payload).

    The stdlib ``wave`` module rejects every non-PCM format tag, so the
    G.711 path needs its own header parse.  Handles 16- and 18-byte
    ``fmt `` chunks (the cbSize extension real encoders write for
    compressed formats) and word-aligned chunk padding."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("malformed WAV: missing RIFF/WAVE signature")
    pos, fmt, data, fact = 12, None, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos:pos + 4], struct.unpack("<I", content[pos + 4:pos + 8])[0]
        body = content[pos + 8:pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            tag, ch, sr, br, ba, bits = struct.unpack("<HHIIHH", body[:16])
            fmt = {"tag": tag, "channels": ch, "rate": sr, "bits": bits,
                   "block_align": ba}
            if size >= 20:
                # cbSize extension: compressed formats carry
                # wSamplesPerBlock here (needed to trim pad nibbles)
                fmt["samples_per_block"] = struct.unpack("<H", body[18:20])[0]
        elif cid == b"fact" and size >= 4:
            # total decoded sample count — authoritative for compressed
            # formats whose final block is zero-padded to block_align
            fact = struct.unpack("<I", body[:4])[0]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    if fact is not None:
        fmt["fact_samples"] = fact
    return fmt, data


def _g711_lut(law: str) -> np.ndarray:
    """256-entry expansion table per ITU-T G.711 (public spec): encoded
    byte → linear int32 sample in [-32124, 32124] (µ) / [-32256, 32256]
    (A)."""
    b = np.arange(256, dtype=np.int32)
    if law == "ulaw":
        u = 255 - b  # one's-complement storage
        man, exp, neg = u & 0x0F, (u >> 4) & 0x07, (u & 0x80) != 0
        t = ((man << 3) + 0x84) << exp
        return np.where(neg, 0x84 - t, t - 0x84)
    a = b ^ 0x55  # even-bit inversion
    man, seg, pos = (a & 0x0F) << 4, (a >> 4) & 0x07, (a & 0x80) != 0
    t = np.where(seg == 0, man + 8, (man + 0x108) << np.maximum(seg - 1, 0))
    return np.where(pos, t, -t)


_G711_TAGS = {7: "ulaw", 6: "alaw"}

# IMA/DVI ADPCM tables (IMA Digital Audio Focus Group recommendation,
# public; WAV format tag 0x11)
_IMA_STEP = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 158, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int32)


def _ima_step_sample(pred: int, index: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM state transition: (predictor, step index) + 4-bit
    code → next (predictor, index).  Shared verbatim by the decoder and
    the encoder's in-loop reconstruction, which is what makes
    decode(encode(x)) == the encoder's reconstruction bit-exact."""
    step = int(_IMA_STEP[index])
    diff = step >> 3
    if nib & 4:
        diff += step
    if nib & 2:
        diff += step >> 1
    if nib & 1:
        diff += step >> 2
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_IMA_INDEX[nib])))
    return pred, index


def _decode_ima_adpcm(
    data: bytes,
    block_align: int,
    channels: int,
    samples_per_block: int | None = None,
    total_samples: int | None = None,
) -> np.ndarray:
    """IMA ADPCM (WAV tag 0x11) → float32 mono waveform.  Block layout:
    4-byte header (int16 predictor, step index, reserved) then 4-bit
    codes two-per-byte, LOW nibble first; a header-only 4-byte final
    block carries exactly one sample.
    ``samples_per_block`` (the fmt extension's wSamplesPerBlock) caps
    each block and ``total_samples`` (the fact chunk) caps the stream —
    standard encoders zero-pad the final block to block_align, and
    without the caps those pad nibbles decode as garbage samples.
    Sequential by nature (each sample's step size depends on the whole
    prefix), so it stays a per-blob Python loop inside the
    Arrow-batched kernel — fixture-scale blobs, same cost profile as
    the PNG filter loops."""
    if channels != 1:
        raise NotImplementedError("IMA ADPCM path: mono only")
    if block_align < 5:
        raise ValueError(f"IMA ADPCM: block align {block_align} too small")
    out: list[int] = []
    for off in range(0, len(data), block_align):
        block = data[off:off + block_align]
        if len(block) < 4:
            break  # trailing partial header: no samples
        pred = int.from_bytes(block[0:2], "little", signed=True)
        index = min(max(block[2], 0), 88)
        n_before = len(out)
        out.append(pred)
        for byte in block[4:]:
            for shift in (0, 4):
                pred, index = _ima_step_sample(pred, index, (byte >> shift) & 0xF)
                out.append(pred)
        if samples_per_block is not None:
            del out[n_before + samples_per_block:]
    if total_samples is not None:
        del out[total_samples:]
    return (np.array(out, dtype=np.float32) / 32768.0).reshape(-1, 1)


def encode_wav_ima(
    samples: np.ndarray, *, rate: int = 8000, block_align: int = 256
) -> tuple[bytes, np.ndarray]:
    """Encode int16 mono samples as an IMA ADPCM WAV (tag 0x11).

    Returns ``(wav_bytes, reconstruction)`` — the reconstruction is the
    int16 signal the DECODER must produce bit-exactly (the encoder
    tracks its own quantized state, standard ADPCM design), so tests
    get a non-circular exactness check plus a lossy-tracking bound
    against the original."""
    import struct

    if samples.ndim != 1 or samples.dtype != np.int16:
        raise ValueError("encode_wav_ima: 1-D int16 mono only")
    per_block = (block_align - 4) * 2 + 1
    recon: list[int] = []
    payload = bytearray()
    pos = 0
    n = len(samples)
    index = 0
    while pos < n:
        chunk = samples[pos:pos + per_block]
        pred = int(chunk[0])
        payload += struct.pack("<hBB", pred, index, 0)
        recon.append(pred)
        nibbles: list[int] = []
        for s in chunk[1:]:
            step = int(_IMA_STEP[index])
            delta = int(s) - pred
            nib = 8 if delta < 0 else 0
            delta = abs(delta)
            if delta >= step:
                nib |= 4
                delta -= step
            if delta >= step >> 1:
                nib |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                nib |= 1
            pred, index = _ima_step_sample(pred, index, nib)
            recon.append(pred)
            nibbles.append(nib)
        if len(nibbles) % 2:
            nibbles.append(0)
            pred, index = _ima_step_sample(pred, index, 0)
            recon.append(pred)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            payload.append(lo | (hi << 4))
        pad = block_align - 4 - len(nibbles) // 2
        if pos + per_block < n and pad:
            raise AssertionError("internal: non-final block underfilled")
        pos += per_block
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // per_block,
        block_align, 4, 2, per_block,
    )
    fact = struct.pack("<I", n)  # authoritative decoded-sample count
    blob = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(payload))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(payload)) + bytes(payload)
    )
    # the pad-nibble transition at an odd final block is not a real
    # sample; the decoder trims it via the fact chunk, so the returned
    # reconstruction must match post-trim
    return blob, np.array(recon[:n], dtype=np.int16)


def _decode_wav(content: bytes) -> np.ndarray:
    """Real WAV decode: PCM 8/16/24/32-bit via the stdlib ``wave``
    module; G.711 µ-law/A-law (format tags 7/6 — telephony archives)
    via the chunk walk + ITU expansion tables; IMA/DVI ADPCM (tag 0x11
    — the classic 4:1 compressed WAV) via the block state machine.
    Returns float32 (n_samples, channels) in [-1, 1)."""
    import wave
    from io import BytesIO

    fmt, data = _wav_chunks(content)
    if fmt["tag"] in _G711_TAGS:
        lut = _g711_lut(_G711_TAGS[fmt["tag"]])
        x = lut[np.frombuffer(data, dtype=np.uint8)].astype(np.float32) / 32768.0
        return x.reshape(-1, max(fmt["channels"], 1))
    if fmt["tag"] == 0x11:  # IMA/DVI ADPCM
        return _decode_ima_adpcm(
            data, fmt["block_align"], fmt["channels"],
            samples_per_block=fmt.get("samples_per_block"),
            total_samples=fmt.get("fact_samples"),
        )
    with wave.open(BytesIO(content), "rb") as w:
        channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if sampwidth == 1:  # unsigned 8-bit
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.float32)
        x = (x - 128.0) / 128.0
    elif sampwidth == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif sampwidth == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    elif sampwidth == 3:  # packed 24-bit
        b = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        x = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int8).astype(np.int32) << 16)
        ).astype(np.float32) / 8388608.0
    else:
        raise NotImplementedError(f"WAV sample width {sampwidth} unsupported")
    return x.reshape(-1, channels)


def _soundfile_decode(content: bytes) -> np.ndarray:
    import soundfile  # noqa: PLC0415
    from io import BytesIO

    data, _sr = soundfile.read(BytesIO(content), dtype="float32")
    return data if data.ndim == 2 else data[:, None]


def decode_audio(content: bytes, meta: dict, *, strict: bool = False) -> np.ndarray:
    """Decode an audio column value to a float32 (n_samples, channels)
    waveform in [-1, 1).

    WAV (PCM 8/16/24/32-bit, G.711, IMA ADPCM) and FLAC (vendored
    subset codec) decode for real with no external dependency;
    out-of-subset FLAC and every other format try soundfile when
    importable (the audio twin of the image path's PIL fallback).
    ``strict=True`` = "real samples or raise" — formats with no
    available codec raise ``NotImplementedError`` instead of falling
    back to the deterministic fake waveform."""
    fmt = (meta.get("format") or "").lower().lstrip(".")
    if fmt in ("wav", "wave"):
        try:
            return _decode_wav(content)
        except Exception:
            if strict:
                raise
    elif fmt == "flac":
        try:
            from aroa_etl_spark.operators.flaccodec import decode_flac

            samples, _rate, bps = decode_flac(content)
            return samples.astype(np.float32) / float(1 << (bps - 1))
        except NotImplementedError:
            # out-of-subset stream (variable blocking, exotic bps):
            # fall back to the real library codec when installed —
            # the image codecs' _with_pil_fallback convention
            try:
                return _soundfile_decode(content)
            except ImportError:
                if strict:
                    raise  # the original subset NotImplementedError
            except Exception:
                if strict:
                    raise
        except Exception:
            if strict:
                raise
    elif fmt not in ("", "fake", "raw"):
        try:
            return _soundfile_decode(content)
        except ImportError:
            if strict:
                raise NotImplementedError(
                    f"no codec for audio format {fmt!r} (soundfile not "
                    "installed); run with strict=False for the fake decoder"
                ) from None
        except Exception:
            if strict:
                raise
    elif strict:
        raise NotImplementedError(
            f"audio format {fmt!r} has no real codec; "
            "run with strict=False for the deterministic fake decoder"
        )
    return _fake_waveform(
        content, int(meta.get("n_samples") or 1600), int(meta.get("channels") or 1)
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)

AUDIO_RESAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_in", T.LongType()),
        T.StructField("n_out", T.LongType()),
        T.StructField("vsum_fp", T.LongType()),
    ]
)


def resample_audio(
    df: DataFrame, *, target_rate: int, strict: bool = False
) -> DataFrame:
    """Linear-interpolation resampling — the prep step that unifies a
    mixed-rate audio corpus before training: decode (strict honors the
    real-codec contract), place output sample k at source position
    pos = (k * sr_in) / target_rate (that exact double formula — the
    oracle replays it), and interpolate v = a + (b - a) * frac between
    the bracketing samples of channel 0.

    Returns (media_id, n_in, n_out, vsum_fp) where vsum_fp is the
    fixed-point checksum sum(floor(v * 1e9 + 0.5)) — floor(x + 0.5)
    instead of a round() builtin because numpy rounds half-to-even
    while SQL engines differ, and exact BIGINT addition makes the sum
    order-free.  A production variant would also emit the resampled
    PCM payload; the checksum is what makes the arithmetic verifiable
    cross-engine.  mapInPandas, no shuffle."""

    def resample(content: bytes, meta: dict) -> list:
        wave = decode_audio(content, meta, strict=strict)
        sr = int(meta.get("sample_rate") or 16000)
        x = wave[:, 0].astype(np.float64)
        n_in = x.shape[0]
        n_out = n_in * target_rate // sr
        pos = (np.arange(n_out, dtype=np.float64) * sr) / target_rate
        idx = np.floor(pos).astype(np.int64)
        frac = pos - idx
        a = x[idx]
        b = x[np.minimum(idx + 1, n_in - 1)]
        v = a + (b - a) * frac
        vsum = int(np.floor(v * 1e9 + 0.5).sum()) if n_out else 0
        return [{"n_in": n_in, "n_out": int(n_out), "vsum_fp": vsum}]

    return blob_map(
        df, AUDIO_RESAMPLE_SCHEMA, resample,
        keys=["media_id"], args=["content", "meta"],
    )


def audio_features(df: DataFrame, *, strict: bool = False) -> DataFrame:
    """Per-clip audio features via mapInPandas: byte size, duration from
    metadata, RMS energy and absolute peak over the (fake-)decoded
    waveform — the audio leg of the modality triple, same streaming
    batch contract as image_features."""

    def feats(content: bytes, meta: dict) -> list:
        wave = decode_audio(content, meta, strict=strict)
        sr = int(meta.get("sample_rate") or 16000)
        n = wave.shape[0]
        return [{
            "n_bytes": len(content),
            "duration_s": (n / sr) if sr else 0.0,
            "rms": float(np.sqrt(np.mean(wave**2))) if n else 0.0,
            "peak": float(np.abs(wave).max()) if n else 0.0,
        }]

    return blob_map(
        df, AUDIO_FEATURES_SCHEMA, feats,
        keys=["media_id"], args=["content", "meta"],
    )


# --------------------------------------------------------------------------
# MPEG audio (MP3) frame-header scan — metadata without decode
# --------------------------------------------------------------------------

# MPEG-1 Layer III tables (ISO/IEC 11172-3): bitrate index 1..14 in
# kbit/s, sample-rate index 0..2 in Hz.  Index 0/15 (free/bad) and the
# MPEG-2 / Layer I-II variants are out of scope — strict mode raises.
MPEG1_L3_BITRATES = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
MPEG1_SAMPLE_RATES = (44100, 48000, 32000)

MPEG_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("id3_size", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_us", T.LongType()),
    ]
)


def scan_mpeg_frames(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """MPEG audio (MP3) frame-header scan: frame count, bitrate,
    sample rate, and exact duration WITHOUT decoding any audio — the
    crawl-ingestion triage step (an MP3's duration and bitrate gate
    quota/quality decisions long before a decoder runs).

    The walk is length-driven, like the WARC parser: an ID3v2 tag is
    skipped via its syncsafe size, then each frame header's bitrate/
    sample-rate/padding fields give the FRAME LENGTH
    ``144000·bitrate_kbps // sample_rate + padding`` and the scanner
    jumps exactly that far — a payload byte that happens to look like
    a sync word (planted by the catalog entry) must not split a frame.
    Reported ``bitrate_kbps`` is the first frame's (CBR assumption;
    a VBR corpus wants the per-frame histogram, same walk).
    ``duration_us = n_frames · 1152 · 1_000_000 // sample_rate`` in
    exact integer arithmetic (1152 samples per MPEG-1 Layer III
    frame).  Scale shape: mapInPandas over the media table, zero
    shuffle, O(n_frames) per blob with no payload copies.

    strict=True raises on anything but clean MPEG-1 Layer III sync
    (MPEG-2, Layers I/II, free-format bitrate, truncated tails);
    strict=False skips garbage bytes forward to the next sync, the
    lenient mode for real crawl data."""

    def _scan(content: bytes) -> list:
        pos = 0
        id3_size = 0
        if content[:3] == b"ID3" and len(content) >= 10:
            id3_size = (
                ((content[6] & 0x7F) << 21)
                | ((content[7] & 0x7F) << 14)
                | ((content[8] & 0x7F) << 7)
                | (content[9] & 0x7F)
            )
            pos = 10 + id3_size
            if pos > len(content) and strict:
                raise ValueError(
                    f"ID3 tag (syncsafe size {id3_size}) overruns the file"
                )
        n_frames = 0
        bitrate = 0
        rate = 0
        while pos + 4 <= len(content):
            b0, b1, b2 = content[pos], content[pos + 1], content[pos + 2]
            ok_sync = b0 == 0xFF and (b1 & 0xE0) == 0xE0
            if not ok_sync:
                if strict:
                    raise ValueError(f"lost MPEG sync at byte {pos}")
                pos += 1
                continue
            if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
                # In lenient mode a false sync in garbage routinely has
                # bad version/layer bits — that is resync fodder, not an
                # unsupported file (raising here would kill the very
                # mode meant for crawl junk).
                if strict:
                    raise NotImplementedError(
                        "only MPEG-1 Layer III frames are supported "
                        f"(header byte 2 = 0x{b1:02x})"
                    )
                pos += 1
                continue
            br_idx = (b2 >> 4) & 0x0F
            sr_idx = (b2 >> 2) & 0x03
            padding = (b2 >> 1) & 0x01
            if br_idx in (0, 15) or sr_idx == 3:
                if strict:
                    raise NotImplementedError(
                        "free-format/invalid bitrate or reserved sample rate"
                    )
                pos += 1
                continue
            br = MPEG1_L3_BITRATES[br_idx - 1]
            sr = MPEG1_SAMPLE_RATES[sr_idx]
            frame_len = 144000 * br // sr + padding
            if pos + frame_len > len(content):
                if strict:
                    raise ValueError(f"truncated final frame at byte {pos}")
                break
            if n_frames == 0:
                # only a COMPLETE frame gets to define the reported
                # CBR bitrate/rate — a truncated header must not leave
                # a zero-frame row claiming nonzero audio parameters
                bitrate, rate = br, sr
            n_frames += 1
            pos += frame_len
        if strict and n_frames == 0:
            raise ValueError("no complete MPEG frames in file")
        return [{
            "n_frames": n_frames,
            "bitrate_kbps": bitrate,
            "sample_rate": rate,
            "id3_size": id3_size,
            "n_bytes": len(content),
            "duration_us": n_frames * 1152 * 1_000_000 // rate if rate else 0,
        }]

    return blob_map(
        df, MPEG_SCAN_SCHEMA, _scan,
        keys=["media_id"], args=["content"], memo=True,
    )


JPEG_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("progressive", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

# SOF markers we will NOT pretend to understand: extended sequential,
# lossless, differential, arithmetic-coded families.
_JPEG_SOF_UNSUPPORTED = frozenset(
    [0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)


def scan_jpeg_markers(
    df: DataFrame, *, strict: bool = True, keep_content: bool = False
) -> DataFrame:
    """JPEG dimensions/type triage WITHOUT decode: walk the marker
    segments (each self-lengthed, the same length-driven discipline as
    the WARC and MPEG scanners) up to the first SOF frame header and
    report width, height, component count, and whether the image is
    progressive (SOF2) — the resolution/type gate a crawl pipeline
    applies before spending a single IDCT.  Huffman tables, quant
    tables, and the entropy-coded stream are skipped by their marker
    lengths, never inspected.

    strict=True raises on marker desync or a SOF family outside
    baseline/progressive (extended sequential, lossless, arithmetic —
    honest NotImplementedError, same policy as the decoders).
    strict=False is the dirty-data contract the MP3 scanner set: a
    non-JPEG blob, truncated SOF, or no-SOF stream degrades to an
    all-zero sentinel row (width=height=n_components=0) instead of
    killing the partition.  Scale: mapInPandas, zero shuffle,
    O(#segments) per blob — bytes before the first SOF, not the
    image."""

    def _scan(content: bytes) -> tuple[int, int, int, int]:
        if content[:2] != b"\xff\xd8":
            if strict:
                raise ValueError("not a JPEG (missing SOI)")
            return 0, 0, 0, 0
        pos = 2
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                if strict:
                    raise ValueError(f"JPEG marker desync at byte {pos}")
                pos += 1
                continue
            marker = content[pos + 1]
            if marker == 0xFF:  # fill byte
                pos += 1
                continue
            if marker in (0xC0, 0xC2):
                if pos + 10 > len(content):
                    # promised error surface is ValueError, never a bare
                    # IndexError from the fixed-offset reads below
                    if strict:
                        raise ValueError(f"truncated SOF header at byte {pos}")
                    return 0, 0, 0, 0
                height = int.from_bytes(content[pos + 5:pos + 7], "big")
                width = int.from_bytes(content[pos + 7:pos + 9], "big")
                ncomp = content[pos + 9]
                return width, height, ncomp, int(marker == 0xC2)
            if marker in _JPEG_SOF_UNSUPPORTED:
                # lenient desync-skipping can land on 0xFFCx bytes inside
                # entropy data — skip them like any other garbage; only a
                # strict walk treats the marker as the file's true type
                if strict:
                    raise NotImplementedError(
                        f"unsupported JPEG SOF marker 0xff{marker:02x} "
                        "(only baseline SOF0 / progressive SOF2)"
                    )
                pos += 1
                continue
            seg_len = int.from_bytes(content[pos + 2:pos + 4], "big")
            pos += 2 + seg_len
        if strict:
            raise ValueError("no SOF marker before end of data")
        return 0, 0, 0, 0

    out_schema = (
        T.StructType([*JPEG_SCAN_SCHEMA.fields,
                      T.StructField("content", T.BinaryType())])
        if keep_content else JPEG_SCAN_SCHEMA
    )

    def scan(content: bytes) -> list:
        w, h, nc, prog = _scan(content)
        # scan-gate-then-decode pipelines filter on the triage verdict
        # and feed survivors straight to the decode kernel without
        # re-reading the blob (keep_content: the schema keeps "content")
        return [{
            "width": w,
            "height": h,
            "n_components": nc,
            "progressive": prog,
            "n_bytes": len(content),
            "content": content,
        }]

    # no memo: the marker walk is O(header), cheaper than hashing the
    # full payload per row to look it up
    return blob_map(df, out_schema, scan, keys=["media_id"], args=["content"])


MP4_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_top_boxes", T.IntegerType()),
        T.StructField("major_brand", T.StringType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("timescale", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("mdat_bytes", T.LongType()),
        # sample-table-derived: NULL/0 when the
        # file carries no video track with a complete stbl
        T.StructField("video_codec", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("media_duration_ms", T.LongType()),
    ]
)


def scan_mp4_boxes(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """ISO BMFF (MP4/MOV) box-structure scan: duration, timescale,
    track count, major brand, and media-payload size WITHOUT touching
    a codec — the container-level triage for video corpora (gate on
    duration/track shape before any expensive frame work).  Completes
    the scanner family (WARC records, MPEG frames, JPEG markers): the
    walk is length-driven over ``[size:4][type:4]`` boxes, including
    the 64-bit ``size==1`` largesize form every real >4 GiB mdat uses,
    and descends exactly one level into ``moov`` for ``mvhd``
    (version 0 and 1 layouts — 32- vs 64-bit times) and the ``trak``
    count.

    Sample-table columns: when a video track with
    a complete stbl exists, ``video_codec`` is the stsd entry fourcc,
    ``n_samples`` the stsz sample count, and ``media_duration_ms`` the
    stts run-length SUM (count·delta over all runs) scaled by the mdhd
    media timescale in integer math — derived from the sample tables
    themselves, not the header duration, so a broken stts parse is
    visible here before any decode stage pays for it.  Files without
    such a track — or with a MALFORMED/INCONSISTENT one — report
    NULL/0/0 in both modes (triage always completes; the decode stage
    is where sample-table errors raise).

    strict=True raises on malformed sizes (box overruns its parent,
    size < header) and on a missing moov/mvhd; MP3-style leniency is
    pointless here because BMFF has no resync concept.  Scale:
    mapInPandas, zero shuffle, O(#boxes) per blob — payload bytes are
    never copied, only skipped."""

    def _u32(b: bytes, p: int) -> int:
        return int.from_bytes(b[p:p + 4], "big")

    # the box-walk grammar lives ONCE in _bmff_walk (shared with the
    # demux); keeping a private copy here let the two drift
    _walk = _bmff_walk

    def _scan(content: bytes) -> dict:
        n_top = 0
        brand = ""
        n_tracks = 0
        timescale = 0
        duration = 0
        mdat = 0
        saw_mvhd = False
        video_rec = None
        for btype, body, bend in _walk(content, 0, len(content)):
            n_top += 1
            if btype == "ftyp":
                brand = content[body:body + 4].decode("latin-1")
            elif btype == "mdat":
                mdat = bend - body
            elif btype == "moov":
                for ctype, cbody, cend in _walk(content, body, bend):
                    if ctype == "trak":
                        n_tracks += 1
                        if video_rec is None:
                            try:
                                video_rec = _parse_trak_samples(
                                    content, cbody, cend
                                )
                            except (ValueError, IndexError,
                                    NotImplementedError):
                                # TRIAGE-LEVEL contract (even strict):
                                # a malformed/inconsistent sample table
                                # reports NULL/0/0 like an absent one —
                                # triage routes files, the decode stage
                                # is where sample-table errors raise
                                video_rec = None
                    elif ctype == "mvhd":
                        saw_mvhd = True
                        if cend - cbody < 4:
                            raise ValueError(
                                f"mvhd body too small ({cend - cbody} bytes)"
                            )
                        version = content[cbody]
                        # bound the fixed-offset reads to THIS box: an
                        # undersized mvhd must error, not silently read
                        # the sibling box's bytes as timescale/duration
                        need = 20 if version == 0 else 32
                        if cend - cbody < need:
                            raise ValueError(
                                f"mvhd v{version} body too small "
                                f"({cend - cbody} < {need} bytes)"
                            )
                        if version == 0:
                            timescale = _u32(content, cbody + 12)
                            duration = _u32(content, cbody + 16)
                        elif version == 1:
                            timescale = _u32(content, cbody + 20)
                            duration = int.from_bytes(
                                content[cbody + 24:cbody + 32], "big"
                            )
                        else:
                            raise NotImplementedError(
                                f"mvhd version {version} (only 0/1)"
                            )
        if strict and not saw_mvhd:
            raise ValueError("no moov/mvhd box — not a playable BMFF file")
        mts = video_rec["media_timescale"] if video_rec else 0
        stts_total = (
            sum(dur for _o, _s, _d, dur in video_rec["samples"])
            if video_rec
            else 0
        )
        return {
            "n_top_boxes": n_top,
            "major_brand": brand,
            "n_tracks": n_tracks,
            "timescale": timescale,
            "duration_ms": duration * 1000 // timescale if timescale else 0,
            "mdat_bytes": mdat,
            "video_codec": video_rec["codec"] if video_rec else None,
            "n_samples": len(video_rec["samples"]) if video_rec else 0,
            "media_duration_ms": stts_total * 1000 // mts if mts else 0,
        }

    return blob_map(
        df, MP4_SCAN_SCHEMA, lambda content: [_scan(content)],
        keys=["media_id"], args=["content"],
    )


OGG_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_packets", T.IntegerType()),
        T.StructField("serial", T.LongType()),
        T.StructField("last_granule", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def _ogg_crc_table() -> list:
    # Ogg's CRC-32: polynomial 0x04C11DB7, NOT reflected, init 0,
    # xorout 0 — deliberately different from zlib's crc32, so a correct
    # implementation cannot be faked by calling the stdlib.
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
            r &= 0xFFFFFFFF
        table.append(r)
    return table


_OGG_CRC = _ogg_crc_table()


def ogg_page_crc(page: bytes) -> int:
    """Ogg page CRC over the page with its CRC field zeroed."""
    crc = 0
    for b in page:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((crc >> 24) & 0xFF) ^ b]
    return crc


def _iter_ogg_pages(content: bytes, strict: bool):
    """CRC-verified Ogg page walk shared by scan_ogg_pages and
    scan_ogg_ident: yields (header_type, granule, serial, segs, body)
    per valid page.  strict raises on lost capture / truncation / CRC;
    lenient resyncs past CRC failures and stops at truncation —
    behavior identical to the walk scan_ogg_pages shipped with."""
    pos = 0
    while pos < len(content):
        if content[pos:pos + 4] != b"OggS":
            if strict:
                raise ValueError(f"lost Ogg capture pattern at byte {pos}")
            nxt = content.find(b"OggS", pos + 1)
            if nxt == -1:
                return
            pos = nxt
            continue
        if pos + 27 > len(content):
            if strict:
                raise ValueError(f"truncated page header at byte {pos}")
            return
        if content[pos + 4] != 0:
            # lenient resync can land on a false 'OggS' inside body
            # bytes whose 5th byte is arbitrary — that is resync
            # fodder, not an unsupported file
            if strict:
                raise NotImplementedError(
                    f"Ogg version {content[pos + 4]} (only 0 exists)"
                )
            pos += 1
            continue
        nsegs = content[pos + 26]
        seg_end = pos + 27 + nsegs
        if seg_end > len(content):
            if strict:
                raise ValueError(f"truncated segment table at byte {pos}")
            return
        segs = content[pos + 27:seg_end]
        body_len = sum(segs)
        page_end = seg_end + body_len
        if page_end > len(content):
            if strict:
                raise ValueError(f"truncated page body at byte {pos}")
            return
        page = bytearray(content[pos:page_end])
        stored = int.from_bytes(page[22:26], "little")
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_page_crc(bytes(page)) != stored:
            if strict:
                raise ValueError(f"Ogg page CRC mismatch at byte {pos}")
            pos += 1
            continue
        yield (
            content[pos + 5],
            int.from_bytes(content[pos + 6:pos + 14], "little", signed=True),
            int.from_bytes(content[pos + 14:pos + 18], "little"),
            segs,
            content[seg_end:page_end],
        )
        pos = page_end


def scan_ogg_pages(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """Ogg container page walk (RFC 3533) — the last of the scanner
    family (WARC records, MPEG frames, JPEG markers, BMFF boxes, tar
    members): page count, packet count, bitstream serial, final granule
    position, and payload volume WITHOUT touching a Vorbis/Opus codec.

    Each page self-describes via its segment (lacing) table: payload
    length is the table sum, and a lacing value below 255 terminates a
    packet — so packet counting is pure container arithmetic.  Every
    page's CRC is VERIFIED with Ogg's own CRC-32 (poly 0x04C11DB7,
    unreflected, init 0 — intentionally not zlib's), catching bit rot
    that a magic-scan would sail past.  strict=True raises on bad
    magic, version, CRC, or truncation; strict=False resyncs to the
    next 'OggS'.  Scale: mapInPandas, zero shuffle, O(pages) per blob."""

    def _scan(content: bytes) -> dict:
        n_pages = 0
        n_packets = 0
        serial = 0
        last_granule = 0
        payload_bytes = 0
        for htype, granule, pserial, segs, body in _iter_ogg_pages(
            content, strict
        ):
            n_pages += 1
            n_packets += sum(1 for v in segs if v < 255)
            serial = pserial
            last_granule = granule
            payload_bytes += len(body)
        if strict and n_pages == 0:
            raise ValueError("no valid Ogg pages in file")
        return {
            "n_pages": n_pages,
            "n_packets": n_packets,
            "serial": serial,
            "last_granule": last_granule,
            "payload_bytes": payload_bytes,
        }

    return blob_map(
        df, OGG_SCAN_SCHEMA, lambda content: [_scan(content)],
        keys=["media_id"], args=["content"],
    )


def build_ogg_page(
    serial: int,
    page_seq: int,
    granule: int,
    payload: bytes,
    *,
    header_type: int = 0,
) -> bytes:
    """Assemble one CRC-correct Ogg page (fixture writer for tests and
    catalog entries; payload must fit one page: < 255*255 bytes)."""
    segs = []
    remaining = len(payload)
    while remaining >= 255:
        segs.append(255)
        remaining -= 255
    segs.append(remaining)  # terminal lacing value < 255
    header = (
        b"OggS"
        + bytes([0, header_type])
        + granule.to_bytes(8, "little", signed=True)
        + serial.to_bytes(4, "little")
        + page_seq.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)])
        + bytes(segs)
    )
    page = bytearray(header + payload)
    crc = ogg_page_crc(bytes(page))
    page[22:26] = crc.to_bytes(4, "little")
    return bytes(page)


OGG_IDENT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("pre_skip", T.IntegerType()),
        T.StructField("last_granule", T.LongType()),
        T.StructField("duration_us", T.LongType()),
    ]
)


def scan_ogg_ident(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """Vorbis/Opus identification-header triage on the CRC-verified Ogg
    page walk — channels / sample rate / duration WITHOUT decoding a
    single audio sample, the metadata gate a crawl pipeline applies
    before routing audio to transcription.

    The first packet of the first BOS page (header_type bit 0x02) is
    parsed per the PUBLIC specs: Vorbis I identification header
    (spec 4.2.2: 0x01 + 'vorbis', u32 version, u8 channels, u32le
    sample rate) or the Opus ID header (RFC 7845 5.1: 'OpusHead', u8
    version, u8 channels, u16le pre-skip, u32le input sample rate).
    Duration comes from the last granule position of that logical
    stream: Vorbis granules count samples at the stream rate; Opus
    granules are ALWAYS 48 kHz with pre-skip subtracted (RFC 7845
    4/5.1) — integer floor division, so the oracle replays it exactly.
    strict=False degrades an unrecognized BOS packet to codec
    'unknown' with zero fields instead of raising.  Scale: pure
    continuation of the existing page walk — mapInPandas, zero
    shuffle, O(pages) per blob, no codec library."""

    def _scan(content: bytes) -> dict:
        codec, ch, rate, pre_skip = "", 0, 0, 0
        bos_serial = None
        last_granule = 0
        n_pages = 0
        for htype, granule, serial, segs, body in _iter_ogg_pages(
            content, strict
        ):
            n_pages += 1
            if bos_serial is None and htype & 0x02:
                bos_serial = serial
                first_len = 0
                for v in segs:
                    first_len += v
                    if v < 255:
                        break
                pkt = body[:first_len]
                if pkt[:8] == b"OpusHead" and len(pkt) >= 19:
                    codec = "opus"
                    ch = pkt[9]
                    pre_skip = int.from_bytes(pkt[10:12], "little")
                    rate = int.from_bytes(pkt[12:16], "little")
                elif pkt[:7] == b"\x01vorbis" and len(pkt) >= 30:
                    codec = "vorbis"
                    ch = pkt[11]
                    rate = int.from_bytes(pkt[12:16], "little")
                elif strict:
                    raise ValueError(
                        "BOS packet is neither an Opus ID header nor a "
                        "Vorbis identification header"
                    )
                else:
                    codec = "unknown"
            if bos_serial is not None and serial == bos_serial and granule >= 0:
                last_granule = granule
        if strict and n_pages == 0:
            raise ValueError("no valid Ogg pages in file")
        if strict and bos_serial is None:
            # valid pages but no BOS (mid-stream capture): strict mode
            # must raise, not emit an empty-codec row that downstream
            # filters would treat as identified
            raise ValueError(
                "no BOS page — mid-stream Ogg capture has no "
                "identification header to parse"
            )
        if bos_serial is None:
            codec = "unknown"
        if codec == "opus":
            dur = max(0, last_granule - pre_skip) * 1_000_000 // 48000
        elif codec == "vorbis" and rate:
            dur = last_granule * 1_000_000 // rate
        else:
            dur = 0
        return {
            "codec": codec,
            "channels": ch,
            "sample_rate": rate,
            "pre_skip": pre_skip,
            "last_granule": last_granule,
            "duration_us": dur,
        }

    return blob_map(
        df, OGG_IDENT_SCHEMA, lambda content: [_scan(content)],
        keys=["media_id"], args=["content"],
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.StringType()),
    ]
)


def _dhash_bits(px: np.ndarray) -> str:
    """The 64-bit dHash core shared by the image and video
    fingerprints: 9×8 nearest-neighbor grayscale grid, one bit per
    horizontal neighbor pair (left > right), row-major '0'/'1'
    string."""
    gray = px.astype("float64").mean(axis=2) if px.ndim == 3 else px.astype("float64")
    ys = np.linspace(0, gray.shape[0] - 1, 8).astype(int)
    xs = np.linspace(0, gray.shape[1] - 1, 9).astype(int)
    grid = gray[np.ix_(ys, xs)]
    bits = (grid[:, :-1] > grid[:, 1:]).astype(int).ravel()
    return "".join(map(str, bits))


def image_dhash(df: DataFrame, *, strict: bool = False) -> DataFrame:
    """Perceptual difference-hash (dHash) — the standard cheap
    image-near-dup fingerprint: downsample to a 9×8 grayscale grid
    (nearest-neighbor, matching resize_images' sampling), then emit one
    bit per horizontal neighbor pair (left > right).  Identical images,
    re-encodes, and global brightness shifts hash identically; the
    64-char bit string is the LSH key an image-dedup pipeline
    bucket-joins on (same shape as the text MinHash band join —
    group/join by ``dhash``, verify survivors pixel-wise).

    Returned as a '0'/'1' string rather than a packed BIGINT so the
    64th bit needs no sign gymnastics and band slicing is a substring.
    Scale: mapInPandas over the media table, zero shuffle; the decode
    is the cost, the hash is 72 samples per image."""

    def dhash(content: bytes, meta: dict) -> list:
        px = decode_image(content, meta, strict=strict)
        if px.shape[0] == 0 or px.shape[1] == 0:
            # a decodable zero-dimension image must degrade to a
            # sentinel, not IndexError the task
            if strict:
                raise ValueError("zero-dimension image has no dhash")
            return [{"dhash": ""}]
        return [{"dhash": _dhash_bits(px)}]

    return blob_map(
        df, DHASH_SCHEMA, dhash, keys=["media_id"], args=["content", "meta"]
    )


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("afp", T.StringType()),
    ]
)


def audio_fingerprint(df: DataFrame, *, strict: bool = False) -> DataFrame:
    """Waveform difference-fingerprint — the audio analogue of
    :func:`image_dhash`: downsample the first channel to 65 points
    (nearest-neighbor over the full clip) and emit one bit per
    neighbor pair (earlier > later).  Identical clips, re-encodes, and
    constant amplitude offsets fingerprint identically (clipping
    aside), so the 64-char bit string is the bucket key an audio-dedup
    pass groups on before any sample-exact verify — the same
    bucket-then-verify shape as the image and MinHash paths.  Scale:
    decode + 65 samples per clip in mapInPandas, zero shuffle."""

    def fingerprint(content: bytes, meta: dict) -> list:
        wave = decode_audio(content, meta, strict=strict)
        if wave.shape[0] == 0:
            # a valid header with zero data frames must degrade to a
            # sentinel, not IndexError
            if strict:
                raise ValueError("empty audio has no fingerprint")
            return [{"afp": ""}]
        mono = wave[:, 0].astype("float64")
        idx = np.linspace(0, len(mono) - 1, 65).astype(int)
        g = mono[idx]
        bits = (g[:-1] > g[1:]).astype(int)
        return [{"afp": "".join(map(str, bits))}]

    return blob_map(
        df, AUDIO_FP_SCHEMA, fingerprint,
        keys=["media_id"], args=["content", "meta"],
    )


# ---------------------------------------------------------------------------
# RIFF/AVI container: MJPEG video decoded for REAL.
#
# The one modality still on the hash stub was video.  AVI is the
# container whose video path needs nothing this repo doesn't already
# vendor: RIFF chunk walking is ~60 lines of stdlib struct, and MJPEG
# frames are plain baseline JPEGs — operators/jpegcodec.py decodes
# them.  Composition, exactly like mm_tar_sample_decode composed the
# tar walker with the netpbm codec.
#
# Public spec sources: the RIFF chunk grammar ('RIFF' size formtype,
# 'LIST' size listtype, fourcc size payload, odd sizes padded to even)
# and the AVI structures (AVIMAINHEADER 'avih', AVISTREAMHEADER 'strh',
# BITMAPINFOHEADER 'strf', 'movi' frame chunks '##dc'/'##db', optional
# 'idx1' index of 16-byte entries) are the published Microsoft
# multimedia file-format documentation; ffmpeg's riffdec is the
# interop reference for the lenient corners (rec-list nesting, zero
# dwTotalFrames).
#
# Reference analogue: the reference has no video path at all —
# SURVEY §2.1 S8 makes multimodal columns first-class, and this closes
# the last stubbed modality.
# ---------------------------------------------------------------------------

AVI_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_streams", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("fps_num", T.IntegerType()),
        T.StructField("fps_den", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("movi_chunks", T.IntegerType()),
        T.StructField("idx_entries", T.IntegerType()),
    ]
)

VIDEO_FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def encode_avi_mjpeg(
    frames: "list[bytes]",
    *,
    width: int,
    height: int,
    rate: int = 30,
    scale: int = 1,
    handler: bytes = b"MJPG",
    write_index: bool = True,
    audio_chunks: "list[bytes] | None" = None,
    audio_rate: int = 8000,
    audio_channels: int = 1,
) -> bytes:
    """Stdlib-only RIFF/AVI writer for MJPEG streams — the fixture
    generator for the real video-decode path (every frame is a complete
    baseline JPEG, normally from ``jpegcodec.encode_baseline_jpeg``).
    Emits the canonical single-video-stream layout real muxers write:
    LIST hdrl (avih + LIST strl(strh 'vids'/MJPG + strf
    BITMAPINFOHEADER)), LIST movi of '00dc' chunks (odd sizes padded to
    even per the RIFF rule), and an idx1 keyframe index with offsets
    relative to the 'movi' fourcc — the convention ffmpeg both writes
    and expects.  ``audio_chunks`` adds a second stream (strl 'auds'
    with a PCM-s16le WAVEFORMATEX strf) whose payloads interleave as
    '01wb' chunks after the video frames — the classic camcorder AVI
    layout."""
    import struct

    usec_per_frame = 1_000_000 * scale // rate
    max_frame = max((len(f) for f in frames), default=0)
    n_streams = 2 if audio_chunks else 1
    avih = struct.pack(
        "<10I16x",
        usec_per_frame,
        max_frame * rate // max(scale, 1),
        0,                      # padding granularity
        0x10,                   # AVIF_HASINDEX
        len(frames),
        0,                      # initial frames
        n_streams,
        max_frame,
        width,
        height,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4h",
        b"vids",
        handler,
        0, 0, 0, 0,             # flags, priority, language, initialFrames
        scale,
        rate,
        0,                      # start
        len(frames),            # length, in frames
        max_frame,              # suggested buffer
        0xFFFFFFFF,             # quality -1 ("default") as unsigned DWORD
        0,                      # sample size (0: varies per frame)
        0, 0, width, height,    # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, handler, width * height * 3, 0, 0, 0, 0,
    )
    strl_blocks = _riff_list(
        b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
    )
    if audio_chunks:
        block_align = 2 * audio_channels  # s16le
        a_strh = struct.pack(
            "<4s4sIHHIIIIIIIi4h",
            b"auds",
            b"\x01\x00\x00\x00",   # PCM
            0, 0, 0, 0,
            1,                      # scale: 1 sample
            audio_rate,             # rate: samples/sec
            0,
            sum(len(c) for c in audio_chunks) // block_align,  # samples
            max(len(c) for c in audio_chunks),
            0xFFFFFFFF,
            block_align,            # sampleSize: fixed-size samples
            0, 0, 0, 0,
        )
        # WAVEFORMATEX: PCM s16le
        a_strf = struct.pack(
            "<HHIIHHH",
            1, audio_channels, audio_rate,
            audio_rate * block_align, block_align, 16, 0,
        )
        strl_blocks += _riff_list(
            b"strl",
            _riff_chunk(b"strh", a_strh) + _riff_chunk(b"strf", a_strf),
        )
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih) + strl_blocks)
    movi_payload = b""
    index_entries = []
    for f in frames:
        # offset convention: from the 'movi' fourcc (chunk header at
        # list-type offset 0, so the first frame chunk sits at +4)
        index_entries.append((len(movi_payload) + 4, len(f)))
        movi_payload += _riff_chunk(b"00dc", f)
    for c in audio_chunks or ():
        movi_payload += _riff_chunk(b"01wb", c)
    movi = _riff_list(b"movi", movi_payload)
    idx1 = b""
    if write_index:
        idx1 = _riff_chunk(
            b"idx1",
            b"".join(
                struct.pack("<4sIII", b"00dc", 0x10, off, sz)
                for off, sz in index_entries
            ),
        )
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _walk_riff(data: bytes, pos: int, end: int, *, strict: bool):
    """Yield (fourcc, payload_start, payload_size) for each chunk in
    [pos, end); advances over the even-padding byte odd sizes carry."""
    import struct

    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = pos + 8
        if payload + size > end:
            if strict:
                raise ValueError(
                    f"RIFF chunk {fourcc!r} at {pos} overruns its parent "
                    f"({payload + size} > {end})"
                )
            return
        yield fourcc, payload, size
        pos = payload + size + (size & 1)


def _avi_body_end(content: bytes) -> int:
    """Validate the RIFF/AVI preamble and return the body end offset
    (RIFF size clamped to the blob)."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file (missing 'RIFF....AVI ' preamble)")
    (riff_size,) = struct.unpack("<I", content[4:8])
    return min(8 + riff_size, len(content))


def _movi_chunks(
    content: bytes, *, suffixes: tuple, strict: bool
) -> "list[bytes]":
    """Payloads of movi chunks whose 2-byte tag suffix is in
    ``suffixes`` ('dc'/'db' video, 'wb' audio), in stream order with
    ffmpeg-style 'rec ' list nesting flattened — the ONE movi walk the
    demux paths and the census share."""
    end = _avi_body_end(content)
    out: list[bytes] = []

    def walk_movi(pos: int, stop: int) -> None:
        for cc, p, sz in _walk_riff(content, pos, stop, strict=strict):
            if cc == b"LIST" and content[p : p + 4] == b"rec ":
                walk_movi(p + 4, p + sz)
            elif cc[2:4] in suffixes:
                out.append(content[p : p + sz])

    for cc, p, sz in _walk_riff(content, 12, end, strict=strict):
        if cc == b"LIST" and content[p : p + 4] == b"movi":
            walk_movi(p + 4, p + sz)
    return out


def _parse_avi(content: bytes, *, strict: bool) -> dict:
    """One pass over the container: header fields from hdrl, frame-chunk
    census from movi (rec-list nesting honored), idx1 entry count.
    Returns a plain dict; decode never happens here — this is the
    triage scan that routes blobs before any codec runs."""
    import struct

    end = _avi_body_end(content)
    (riff_size,) = struct.unpack("<I", content[4:8])
    if strict and 8 + riff_size > len(content):
        raise ValueError(
            f"RIFF size field {riff_size} overruns the blob ({len(content)} bytes)"
        )
    out = {
        "n_streams": 0, "video_codec": None, "width": None, "height": None,
        "n_frames": 0, "fps_num": None, "fps_den": None,
        "movi_chunks": 0, "idx_entries": 0,
    }
    saw_avih = False
    out["movi_chunks"] = len(
        _movi_chunks(content, suffixes=(b"dc", b"db", b"wb"), strict=strict)
    )

    for cc, p, sz in _walk_riff(content, 12, end, strict=strict):
        if cc == b"LIST":
            ltype = content[p : p + 4]
            if ltype == b"hdrl":
                for c2, p2, s2 in _walk_riff(content, p + 4, p + sz, strict=strict):
                    if c2 == b"avih" and s2 >= 40:
                        (uspf, _mbps, _pad, _flags, total, _init, streams,
                         _buf, w, h) = struct.unpack("<10I", content[p2 : p2 + 40])
                        saw_avih = True
                        out["n_streams"] = streams
                        out["n_frames"] = total
                        if out["width"] is None:
                            out["width"], out["height"] = w, h
                    elif c2 == b"LIST" and content[p2 : p2 + 4] == b"strl":
                        # strh precedes strf within a strl (spec order);
                        # the strf layout depends on the stream TYPE —
                        # only a 'vids' strf is a BITMAPINFOHEADER (an
                        # audio WAVEFORMATEXTENSIBLE is also ≥40 bytes,
                        # and reading it as dims would report
                        # width=nSamplesPerSec)
                        cur_type = None
                        for c3, p3, s3 in _walk_riff(
                            content, p2 + 4, p2 + s2, strict=strict
                        ):
                            if c3 == b"strh" and s3 >= 48:
                                cur_type = content[p3 : p3 + 4]
                                fhandler = content[p3 + 4 : p3 + 8]
                                sc, rt = struct.unpack(
                                    "<II", content[p3 + 20 : p3 + 28]
                                )
                                if cur_type == b"vids" and out["video_codec"] is None:
                                    out["video_codec"] = fhandler.decode(
                                        "ascii", "replace"
                                    ).strip("\x00 ")
                                    out["fps_num"], out["fps_den"] = rt, sc
                            elif (
                                c3 == b"strf" and s3 >= 40
                                and cur_type == b"vids"
                            ):
                                bw, bh = struct.unpack(
                                    "<ii", content[p3 + 4 : p3 + 12]
                                )
                                out["width"], out["height"] = bw, abs(bh)
        elif cc == b"idx1":
            out["idx_entries"] = sz // 16
    if strict and not saw_avih:
        raise ValueError("AVI missing the mandatory 'avih' main header")
    num, den = out["fps_num"], out["fps_den"]
    out["duration_ms"] = (
        out["n_frames"] * 1000 * den // num if num and den else 0
    )
    return out


def demux_avi_frames(content: bytes, *, strict: bool = True) -> "list[bytes]":
    """Extract the raw video-frame payloads ('##dc'/'##db' chunks, in
    stream order, rec-lists flattened) WITHOUT decoding — the demux
    half of the video path; for MJPEG each payload is a complete
    baseline JPEG the vendored codec decodes."""
    return _movi_chunks(content, suffixes=(b"dc", b"db"), strict=strict)


def scan_avi_headers(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """AVI container triage (no decode): stream census, video fourcc,
    dims, frame count, exact rational fps and integer duration_ms, movi
    frame-chunk count, idx1 entry count.  The video analogue of
    scan_mp4_boxes/scan_mpeg_frames — the cheap pass that routes blobs
    (and sizes the decode stage) before any codec runs.  Scale:
    mapInPandas, zero shuffle, O(#chunks) per blob; only header bytes
    are touched per chunk, so cost is header-bound, not payload-bound."""

    def scan(content: bytes) -> list:
        try:
            return [_parse_avi(content, strict=strict)]
        except (ValueError, IndexError):
            if strict:
                raise
            return []

    return blob_map(df, AVI_SCAN_SCHEMA, scan, keys=["media_id"], args=["content"])


def video_frame_features(
    df: DataFrame, *, every_n: int = 1, strict: bool = True
) -> DataFrame:
    """REAL video decode: demux the AVI 'movi' chunks, decode every
    n-th frame through the vendored JPEG codec, emit one row per
    sampled frame with dims and exact mean intensity — the
    1-row→k-rows explosion contract of a video pipeline, now with real
    pixels (retires the sha256 frame stub as the attested video path).
    MJPEG only: any frame that is not a decodable JPEG raises under
    strict (NotImplementedError propagates from the codec — the honest
    contract for codecs this sandbox cannot hold); strict=False skips
    undecodable frames.  Scale: mapInPandas, zero shuffle; decode cost
    is per-sampled-frame, so ``every_n`` is the knob that bounds work
    on long clips, and the triage scan (scan_avi_headers) routes
    non-MJPEG blobs away before this stage ever sees them."""

    def decode_blob(content: bytes) -> list:
        try:
            frames = demux_avi_frames(content, strict=strict)
        except (ValueError, IndexError):
            if strict:
                raise
            return []  # lenient: a non-AVI blob yields no frames
        out = []
        for i in range(0, len(frames), every_n):
            try:
                px = _decode_jpeg(frames[i])
            except (ValueError, NotImplementedError):
                if strict:
                    raise
                continue
            out.append({
                "frame_index": i,
                "width": px.shape[1],
                "height": px.shape[0],
                "mean_intensity": float(px.astype(np.float64).mean()),
            })
        return out

    return blob_map(
        df, VIDEO_FRAME_FEATURE_SCHEMA, decode_blob,
        keys=["media_id"], args=["content"], memo=True,
    )


# ---------------------------------------------------------------------------
# Matroska/WebM (EBML) container triage — the sibling of the MP4 box
# walk and the RIFF/AVI walk.  EBML's variable-length integers
# (RFC 8794: width signalled by the leading-zero count of the first
# byte; element IDs keep the marker bit, sizes clear it) are the whole
# parsing story; the element IDs used here (EBML header 1A45DFA3,
# DocType 4282, Segment 18538067, Info 1549A966, TimestampScale 2AD7B1,
# Duration 4489, Tracks 1654AE6B, TrackEntry AE, TrackType 83, CodecID
# 86, Video E0, PixelWidth B0, PixelHeight BA, Cluster 1F43B675,
# SimpleBlock A3) are the published Matroska registry.  Codec-free by
# design, same strict-raise policy as the other scanners.
# ---------------------------------------------------------------------------

MKV_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("doc_type", T.StringType()),
        T.StructField("timescale", T.LongType()),
        T.StructField("duration_ticks", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("n_video", T.IntegerType()),
        T.StructField("n_audio", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_clusters", T.IntegerType()),
        T.StructField("n_blocks", T.IntegerType()),
    ]
)


def _ebml_size(v: int) -> bytes:
    """EBML size VINT: width w when v fits 7w-1 bits (all-ones is the
    reserved 'unknown size'); marker bit 1 << (8-w) on the first byte."""
    for w in range(1, 9):
        if v < (1 << (7 * w)) - 1:
            b = v.to_bytes(w, "big")
            return bytes([b[0] | (1 << (8 - w))]) + b[1:]
    raise ValueError("EBML size too large")


def _ebml_elem(eid: bytes, payload: bytes) -> bytes:
    return eid + _ebml_size(len(payload)) + payload


def _ebml_uint(v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return v.to_bytes(n, "big")


def _mkv_lace(frames: "list[bytes]", mode: str) -> bytes:
    """SimpleBlock body (flags byte onward) for a LACED block carrying
    ``frames``, per the published Matroska lacing tables."""
    if len(frames) < 1:
        raise ValueError("laced block needs at least one frame")
    n = len(frames)
    if mode == "fixed":
        if len({len(f) for f in frames}) != 1:
            raise ValueError("fixed lacing requires equal frame sizes")
        flags, table = 0x04, b""
    elif mode == "xiph":
        flags = 0x02
        table = b""
        for f in frames[:-1]:
            size = len(f)
            table += b"\xff" * (size // 255) + bytes([size % 255])
    elif mode == "ebml":
        flags = 0x06
        # per RFC the table holds n-1 entries: NONE for a single frame
        # (writing a first-size entry anyway splits that frame in two)
        table = _ebml_size(len(frames[0])) if n > 1 else b""
        prev = len(frames[0])
        for f in frames[1:-1]:
            delta = len(f) - prev
            for w in range(1, 9):
                bias = (1 << (7 * w - 1)) - 1
                if -bias <= delta <= bias:
                    # the DECODER derives the bias from the encoded
                    # width, so the biased value must be written in
                    # EXACTLY width w — _ebml_size would re-minimize
                    # the width and shift the bias (a frame shrinking
                    # by >63 bytes would corrupt the stream)
                    v = delta + bias
                    b = v.to_bytes(w, "big")
                    table += bytes([b[0] | (1 << (8 - w))]) + b[1:]
                    break
            else:
                raise ValueError("lace delta out of range")
            prev = len(f)
    else:
        raise ValueError(f"unknown lacing mode {mode!r}")
    # keyframe flag + lacing bits, then (frame count - 1), then the table
    return bytes([0x80 | flags, n - 1]) + table + b"".join(frames)


def encode_mkv_stub(
    *,
    doc_type: str = "matroska",
    timescale: int = 1_000_000,
    duration_ticks: int = 0,
    video_tracks: "list[tuple[str, int, int]]" = (),
    audio_tracks: "list[str]" = (),
    cluster_blocks: "list[int]" = (),
    cluster_frames: "list[tuple[int, list[tuple[int, bytes]]]] | None" = None,
) -> bytes:
    """Stdlib-only EBML/Matroska writer for container-level fixtures:
    a real EBML header (DocType), Segment with Info (TimestampScale +
    integer-valued float64 Duration), Tracks (video entries carry
    CodecID + PixelWidth/PixelHeight, audio entries CodecID only), and
    Clusters of SimpleBlock stubs (8-byte placeholder payloads — this
    is triage-level fixture data, consistent with the codec-free scan
    contract).  ``cluster_frames`` upgrades the Clusters to REAL
    track-1 frame payloads for the demux path: each
    (cluster_timestamp, [(relative_ts, frames), ...]) becomes a
    Cluster with a Timestamp element and spec-shaped SimpleBlocks
    (track VINT + signed 16-bit relative timestamp + keyframe flag +
    payload).  ``frames`` is either one ``bytes`` (no lacing) or
    ``(list[bytes], 'xiph' | 'ebml' | 'fixed')`` — a LACED block
    carrying several frames with the published lace-size tables
    (Xiph 255-run sizes, EBML signed-VINT deltas, fixed equal
    split)."""
    import struct

    header = _ebml_elem(
        b"\x1a\x45\xdf\xa3",
        _ebml_elem(b"\x42\x86", _ebml_uint(1))          # EBMLVersion
        + _ebml_elem(b"\x42\xf7", _ebml_uint(1))        # EBMLReadVersion
        + _ebml_elem(b"\x42\x82", doc_type.encode()),   # DocType
    )
    info = _ebml_elem(
        b"\x15\x49\xa9\x66",
        _ebml_elem(b"\x2a\xd7\xb1", _ebml_uint(timescale))
        + _ebml_elem(b"\x44\x89", struct.pack(">d", float(duration_ticks))),
    )
    entries = b""
    tno = 1
    for codec, w, h in video_tracks:
        entries += _ebml_elem(
            b"\xae",
            _ebml_elem(b"\xd7", _ebml_uint(tno))
            + _ebml_elem(b"\x83", _ebml_uint(1))        # TrackType video
            + _ebml_elem(b"\x86", codec.encode())
            + _ebml_elem(
                b"\xe0",
                _ebml_elem(b"\xb0", _ebml_uint(w))
                + _ebml_elem(b"\xba", _ebml_uint(h)),
            ),
        )
        tno += 1
    for codec in audio_tracks:
        entries += _ebml_elem(
            b"\xae",
            _ebml_elem(b"\xd7", _ebml_uint(tno))
            + _ebml_elem(b"\x83", _ebml_uint(2))        # TrackType audio
            + _ebml_elem(b"\x86", codec.encode()),
        )
        tno += 1
    tracks = _ebml_elem(b"\x16\x54\xae\x6b", entries)
    clusters = b""
    if cluster_frames is not None:
        for cts, blocks in cluster_frames:
            payload = _ebml_elem(b"\xe7", _ebml_uint(cts))   # Timestamp
            for rel, frame in blocks:
                if isinstance(frame, (bytes, bytearray)):
                    body = b"\x80" + bytes(frame)            # keyframe, no lacing
                else:
                    frames_list, mode = frame
                    body = _mkv_lace(list(frames_list), mode)
                payload += _ebml_elem(
                    b"\xa3", b"\x81" + struct.pack(">h", rel) + body
                )
            clusters += _ebml_elem(b"\x1f\x43\xb6\x75", payload)
    else:
        for n_blocks in cluster_blocks:
            payload = _ebml_elem(b"\xe7", _ebml_uint(0))     # Timestamp
            for _ in range(n_blocks):
                payload += _ebml_elem(b"\xa3", b"\x81\x00\x00\x00" + b"\x00" * 4)
            clusters += _ebml_elem(b"\x1f\x43\xb6\x75", payload)
    segment = _ebml_elem(b"\x18\x53\x80\x67", info + tracks + clusters)
    return header + segment


def _read_vint(data: bytes, pos: int, *, keep_marker: bool) -> "tuple[int | None, int]":
    """EBML VINT (RFC 8794).  With ``keep_marker=False`` (sizes), the
    reserved all-ones data value returns None — 'unknown size', which
    live/stream muxers routinely write for Segment and Cluster (the
    element then extends to its parent's end)."""
    if pos >= len(data):
        raise ValueError("truncated EBML VINT")
    first = data[pos]
    if first == 0:
        raise ValueError("invalid EBML VINT (zero lead byte)")
    w = 8 - first.bit_length() + 1
    if pos + w > len(data):
        raise ValueError("EBML VINT overruns buffer")
    v = int.from_bytes(data[pos : pos + w], "big")
    if not keep_marker:
        v -= 1 << (7 * w)
        if v == (1 << (7 * w)) - 1:
            return None, pos + w
    return v, pos + w


def _parse_mkv(content: bytes, *, strict: bool) -> dict:
    import struct

    out = {
        "doc_type": None, "timescale": 1_000_000, "duration_ticks": 0,
        "n_tracks": 0, "n_video": 0, "n_audio": 0, "video_codec": None,
        "width": None, "height": None, "n_clusters": 0, "n_blocks": 0,
    }
    if content[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("not an EBML stream (missing 1A45DFA3 header)")

    def walk(pos: int, end: int, handler) -> None:
        while pos < end:
            eid, pos = _read_vint(content, pos, keep_marker=True)
            size, pos = _read_vint(content, pos, keep_marker=False)
            if size is None:
                # unknown-size element (live-muxed Segment/Cluster):
                # extends to the end of its parent
                size = end - pos
            if pos + size > end:
                if strict:
                    raise ValueError(
                        f"EBML element {eid:#x} overruns its parent"
                    )
                return
            handler(eid, pos, size)
            pos += size

    def uint_at(pos, size):
        return int.from_bytes(content[pos : pos + size], "big")

    track_state: dict = {}

    def on_track_child(eid, pos, size):
        if eid == 0x83:
            track_state["type"] = uint_at(pos, size)
        elif eid == 0x86:
            track_state["codec"] = content[pos : pos + size].decode(
                "ascii", "replace")
        elif eid == 0xE0:
            walk(pos, pos + size, on_video_child)

    def on_video_child(eid, pos, size):
        if eid == 0xB0:
            track_state["w"] = uint_at(pos, size)
        elif eid == 0xBA:
            track_state["h"] = uint_at(pos, size)

    def on_tracks(eid, pos, size):
        if eid != 0xAE:
            return
        track_state.clear()
        walk(pos, pos + size, on_track_child)
        out["n_tracks"] += 1
        if track_state.get("type") == 1:
            out["n_video"] += 1
            if out["video_codec"] is None:
                out["video_codec"] = track_state.get("codec")
                out["width"] = track_state.get("w")
                out["height"] = track_state.get("h")
        elif track_state.get("type") == 2:
            out["n_audio"] += 1

    def on_cluster(eid, pos, size):
        if eid == 0xA3:
            out["n_blocks"] += 1

    def on_info(eid, pos, size):
        if eid == 0x2AD7B1:
            out["timescale"] = uint_at(pos, size)
        elif eid == 0x4489 and size == 8:
            out["duration_ticks"] = int(
                struct.unpack(">d", content[pos : pos + 8])[0])
        elif eid == 0x4489 and size == 4:
            out["duration_ticks"] = int(
                struct.unpack(">f", content[pos : pos + 4])[0])

    def on_segment(eid, pos, size):
        if eid == 0x1549A966:
            walk(pos, pos + size, on_info)
        elif eid == 0x1654AE6B:
            walk(pos, pos + size, on_tracks)
        elif eid == 0x1F43B675:
            out["n_clusters"] += 1
            walk(pos, pos + size, on_cluster)

    def on_header_child(eid, pos, size):
        if eid == 0x4282:
            out["doc_type"] = content[pos : pos + size].decode(
                "ascii", "replace")

    def on_top(eid, pos, size):
        if eid == 0x1A45DFA3:
            walk(pos, pos + size, on_header_child)
        elif eid == 0x18538067:
            walk(pos, pos + size, on_segment)

    walk(0, len(content), on_top)
    if strict and out["doc_type"] is None:
        raise ValueError("EBML header carries no DocType")
    return out


def scan_mkv_headers(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """Matroska/WebM container triage (no decode): DocType, timescale,
    integer-valued Duration, track census by type, first video track's
    CodecID and pixel dims, cluster/SimpleBlock counts.  Completes the
    container-walk family (JPEG markers / MP4 boxes / Ogg pages /
    RIFF-AVI / EBML-MKV) — at 100 TB this is the routing pass that
    tells the decode stage what it is about to pay for.  Scale:
    mapInPandas, zero shuffle, header-bound (block payloads are
    skipped by size arithmetic, never read)."""

    def scan(content: bytes) -> list:
        try:
            return [_parse_mkv(content, strict=strict)]
        except (ValueError, IndexError):
            if strict:
                raise
            return []

    return blob_map(df, MKV_SCAN_SCHEMA, scan, keys=["media_id"], args=["content"])


VIDEO_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("vhash", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def video_dhash(df: DataFrame, *, every_n: int = 1, strict: bool = True) -> DataFrame:
    """Temporal perceptual fingerprint for video near-dup — the video
    analogue of :func:`image_dhash` / ``audio_fingerprint``: demux the
    AVI, decode every n-th frame through the vendored JPEG codec, and
    concatenate the per-frame 64-bit dHashes ('|'-separated) into one
    bucket key.  Re-encoded and globally brightness-shifted copies of
    a clip hash identically (dHash compares neighbors, not levels),
    while any frame insertion/reorder/content change breaks the key —
    bucket-join on ``vhash``, verify survivors frame-wise, exactly the
    MinHash-band / dHash / audio-fingerprint shape.  ``every_n``
    trades temporal resolution for decode cost on long clips.  Scale:
    mapInPandas, zero shuffle here; one groupBy on the key
    downstream."""

    def vhash(content: bytes) -> list:
        try:
            frames = demux_avi_frames(content, strict=strict)
        except (ValueError, IndexError):
            if strict:
                raise
            frames = []  # lenient: sentinel empty fingerprint
        hashes = []
        for i in range(0, len(frames), every_n):
            try:
                px = _decode_jpeg(frames[i])
            except (ValueError, NotImplementedError):
                if strict:
                    raise
                continue
            hashes.append(_dhash_bits(px))
        return [{"vhash": "|".join(hashes), "n_frames": len(frames)}]

    return blob_map(df, VIDEO_DHASH_SCHEMA, vhash, keys=["media_id"], args=["content"])


AVI_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_chunks", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak_raw", T.IntegerType()),
        T.StructField("sum_raw", T.LongType()),
    ]
)


def demux_avi_audio(content: bytes, *, strict: bool = True) -> "list[bytes]":
    """The audio half of the AVI demux: '##wb' chunk payloads in
    stream order (rec-lists flattened) — for PCM streams the
    concatenation IS the waveform."""
    return _movi_chunks(content, suffixes=(b"wb",), strict=strict)


def avi_audio_features(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """REAL audio extraction from the AVI container: demux the '##wb'
    chunks and interpret the concatenation as PCM s16le (the classic
    interleaved camcorder layout this repo's muxer writes), emitting
    exact integer statistics — chunk count, sample count, peak |s|,
    and the exact sample sum — all replayable in closed form by an
    oracle that knows the planted waveform.  Scale: mapInPandas, zero
    shuffle; payload cost is linear in audio bytes, video frames are
    skipped by chunk-size arithmetic."""

    def feats(content: bytes) -> list:
        try:
            chunks = demux_avi_audio(content, strict=strict)
        except (ValueError, IndexError):
            if strict:
                raise
            chunks = []  # lenient: zero-sample sentinel row
        raw = b"".join(chunks)
        if len(raw) % 2:
            if strict:
                raise ValueError("PCM s16le stream has an odd byte count")
            raw = raw[:-1]
        return [_pcm_s16_stats(chunks, raw)]

    return blob_map(df, AVI_AUDIO_SCHEMA, feats, keys=["media_id"], args=["content"])


def _pcm_s16_stats(chunks: list, raw: bytes) -> dict:
    """Exact integer statistics of a PCM s16le payload demuxed from
    ``chunks`` — the row the AVI and MP4 audio extractors share."""
    samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    return {
        "n_chunks": len(chunks),
        "n_samples": int(samples.size),
        "peak_raw": int(np.abs(samples).max()) if samples.size else 0,
        "sum_raw": int(samples.sum()),
    }


# ---------------------------------------------------------------------------
# ISO BMFF (MP4/QuickTime) — stdlib mux, sample-table demux, real decode
# ---------------------------------------------------------------------------
# scan_mp4_boxes walks the box tree; the demux below implements the published
# ISO/IEC 14496-12 sample-table arithmetic — stsd (codec), stts (decode
# times), stsc (sample->chunk mapping), stsz (sizes), stco/co64 (chunk
# offsets) — and composes with the vendored JPEG codec for 'jpeg'
# (MJPEG-in-MP4) sample entries, exactly the AVI composition pattern.
# Reference analogue: the media-ingestion role of the reference's
# indexing notebook (scripts/ki_indizierung/indizierung.ipynb) — the
# reference shipped images to an external model; here video columns are
# first-class relational citizens.


def _bmff_box(btype: bytes, payload: bytes, *, largesize: bool = False) -> bytes:
    import struct

    if largesize:
        return (
            struct.pack(">I", 1) + btype
            + struct.pack(">Q", 16 + len(payload)) + payload
        )
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _bmff_full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _bmff_box(btype, bytes([version]) + flags.to_bytes(3, "big") + payload)


def _collapse_runs(values: "list[int]") -> "list[tuple[int, int]]":
    """Run-length collapse [(count, value), ...] — the stts/stsc rule:
    consecutive equal entries share one table row."""
    runs: list[tuple[int, int]] = []
    for v in values:
        if runs and runs[-1][1] == v:
            runs[-1] = (runs[-1][0] + 1, v)
        else:
            runs.append((1, v))
    return runs


def encode_mp4_mjpeg(
    frames: "list[bytes]",
    *,
    width: int,
    height: int,
    movie_timescale: int = 600,
    movie_duration: "int | None" = None,
    media_timescale: int = 1000,
    sample_durations: "list[int] | None" = None,
    mvhd_version: int = 0,
    largesize_mdat: bool = False,
    n_extra_traks: int = 0,
    co64: bool = False,
    samples_per_chunk: int = 1,
    sample_format: bytes = b"jpeg",
    audio_chunks: "list[bytes] | None" = None,
    audio_rate: int = 8000,
    sync_samples: "list[int] | None" = None,
) -> bytes:
    """Stdlib-only ISO BMFF (MP4) writer for MJPEG video — the fixture
    generator for the sample-table demux path (the BMFF sibling of
    :func:`encode_avi_mjpeg`).  Writes the canonical progressive layout
    (ftyp, moov, mdat) with a REAL sample table: VisualSampleEntry
    'jpeg' in stsd, run-length stts from ``sample_durations``, an stsc
    that groups ``samples_per_chunk`` samples per chunk (trailing
    partial chunk gets its own entry, per spec), per-sample stsz, and
    absolute chunk offsets in stco or — when ``co64`` — the 64-bit
    co64 form large files need.  ``largesize_mdat`` forces the
    ``size==1`` largesize mdat header every >4 GiB real-world file
    uses; ``mvhd_version`` selects the 32- vs 64-bit mvhd time layout;
    ``n_extra_traks`` appends minimal trak stubs so track-census
    arithmetic stays exercisable.  ``audio_chunks`` adds a second trak
    in the CANONICAL PCM-in-MP4 layout ('soun' handler, 'sowt' s16le
    AudioSampleEntry, mdhd timescale = sample rate): stsz is the
    FIXED-size form (2 bytes/sample — the shape the video track never
    exercises), each provided chunk becomes one stco chunk whose stsc
    entry carries its sample count, and the chunk bytes land in the
    shared mdat after the video frames.  Offsets are computed from the
    final layout (moov size depends only on table CARDINALITIES, so
    sizes are resolved before offsets are written)."""
    import struct

    n = len(frames)
    durs = list(sample_durations or [1] * n)
    if len(durs) != n:
        raise ValueError("sample_durations must match frames")
    if movie_duration is None:
        movie_duration = sum(durs)

    ftyp = _bmff_box(b"ftyp", b"isom" + bytes(4) + b"isom" + b"mp41")

    if mvhd_version == 0:
        mvhd = _bmff_full(
            b"mvhd", 0, 0,
            struct.pack(">II", 0, 0)                      # creation, modification
            + struct.pack(">II", movie_timescale, movie_duration)
            + struct.pack(">i", 0x00010000)               # rate 1.0
            + struct.pack(">h", 0x0100) + bytes(10)       # volume + reserved
            + _BMFF_UNITY_MATRIX + bytes(24)              # matrix + pre_defined
            + struct.pack(">I", 2),                       # next_track_ID
        )
    elif mvhd_version == 1:
        mvhd = _bmff_full(
            b"mvhd", 1, 0,
            struct.pack(">QQ", 0, 0)
            + struct.pack(">I", movie_timescale)
            + struct.pack(">Q", movie_duration)
            + struct.pack(">i", 0x00010000)
            + struct.pack(">h", 0x0100) + bytes(10)
            + _BMFF_UNITY_MATRIX + bytes(24)
            + struct.pack(">I", 2),
        )
    else:
        raise ValueError("mvhd_version must be 0 or 1")

    tkhd = _bmff_full(
        b"tkhd", 0, 7,                                    # enabled|in_movie|in_preview
        struct.pack(">II", 0, 0)                          # creation, modification
        + struct.pack(">I", 1) + bytes(4)                 # track_ID + reserved
        + struct.pack(">I", movie_duration) + bytes(8)    # duration + reserved
        + struct.pack(">hhh", 0, 0, 0) + bytes(2)         # layer, alt, volume + rsvd
        + _BMFF_UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
    )
    mdhd = _bmff_full(
        b"mdhd", 0, 0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", media_timescale, sum(durs))
        + struct.pack(">HH", 0x55C4, 0),                  # language 'und'
    )
    hdlr = _bmff_full(
        b"hdlr", 0, 0,
        bytes(4) + b"vide" + bytes(12) + b"VideoHandler\x00",
    )
    vmhd = _bmff_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dinf = _bmff_box(
        b"dinf",
        _bmff_full(
            b"dref", 0, 0,
            struct.pack(">I", 1) + _bmff_full(b"url ", 0, 1, b""),
        ),
    )
    sample_entry = _bmff_box(
        sample_format,
        bytes(6) + struct.pack(">H", 1)                   # reserved + dref index
        + bytes(16)                                       # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)      # 72 dpi
        + bytes(4) + struct.pack(">H", 1)                 # reserved + frame_count
        + bytes(32)                                       # compressorname
        + struct.pack(">Hh", 24, -1),                     # depth, pre_defined
    )
    stsd = _bmff_full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts_runs = _collapse_runs(durs)
    stts = _bmff_full(
        b"stts", 0, 0,
        struct.pack(">I", len(stts_runs))
        + b"".join(struct.pack(">II", c, d) for c, d in stts_runs),
    )
    spc = max(1, samples_per_chunk)
    chunk_counts = [
        min(spc, n - i) for i in range(0, n, spc)
    ] or []
    # stsc: one entry per RUN of equal samples-per-chunk, keyed by the
    # 1-based first chunk of the run (the spec's compact form)
    stsc_entries = []
    chunk_no = 1
    for run_len, count in _collapse_runs(chunk_counts):
        stsc_entries.append((chunk_no, count, 1))
        chunk_no += run_len
    stsc = _bmff_full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stsz = _bmff_full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    # stss (sync samples): ABSENT means every sample is a keyframe
    # (the spec default, and true for MJPEG); writing it marks only
    # the listed 1-based samples as sync points
    stss = b""
    if sync_samples is not None:
        if any(x < 1 or x > n for x in sync_samples):
            raise ValueError("sync_samples are 1-based sample indices")
        stss = _bmff_full(
            b"stss", 0, 0,
            struct.pack(">I", len(sync_samples))
            + b"".join(struct.pack(">I", x) for x in sorted(sync_samples)),
        )
    # audio trak (canonical PCM-in-MP4): fixed-size stsz, one stco
    # chunk per provided payload, per-chunk sample counts in stsc
    a_chunks = [bytes(c) for c in (audio_chunks or [])]
    if any(len(c) % 2 for c in a_chunks):
        raise ValueError("PCM s16le audio chunks must have even byte counts")
    a_counts = [len(c) // 2 for c in a_chunks]
    a_total = sum(a_counts)
    a_boxes = b""
    if a_chunks:
        a_tkhd = _bmff_full(
            b"tkhd", 0, 7,
            struct.pack(">II", 0, 0)
            + struct.pack(">I", 2) + bytes(4)
            + struct.pack(">I", movie_duration) + bytes(8)
            + struct.pack(">hhh", 0, 0, 0x0100) + bytes(2)
            + _BMFF_UNITY_MATRIX
            + struct.pack(">II", 0, 0),
        )
        a_mdhd = _bmff_full(
            b"mdhd", 0, 0,
            struct.pack(">II", 0, 0)
            + struct.pack(">II", audio_rate, a_total)
            + struct.pack(">HH", 0x55C4, 0),
        )
        a_hdlr = _bmff_full(
            b"hdlr", 0, 0,
            bytes(4) + b"soun" + bytes(12) + b"SoundHandler\x00",
        )
        smhd = _bmff_full(b"smhd", 0, 0, struct.pack(">hH", 0, 0))
        a_entry = _bmff_box(
            b"sowt",
            bytes(6) + struct.pack(">H", 1)           # reserved + dref index
            + bytes(8)                                # version/revision/vendor
            + struct.pack(">HH", 1, 16)               # channels, sample size
            + struct.pack(">Hh", 0, 0)                # compression, packet
            + struct.pack(">I", audio_rate << 16),    # 16.16 rate
        )
        a_stsd = _bmff_full(b"stsd", 0, 0, struct.pack(">I", 1) + a_entry)
        a_stts = _bmff_full(
            b"stts", 0, 0, struct.pack(">III", 1, a_total, 1)
        )
        a_stsc_entries = []
        cn = 1
        for run_len, count in _collapse_runs(a_counts):
            a_stsc_entries.append((cn, count, 1))
            cn += run_len
        a_stsc = _bmff_full(
            b"stsc", 0, 0,
            struct.pack(">I", len(a_stsc_entries))
            + b"".join(struct.pack(">III", *e) for e in a_stsc_entries),
        )
        a_stsz = _bmff_full(b"stsz", 0, 0, struct.pack(">II", 2, a_total))

    # chunk offsets depend on the total moov size; moov size depends
    # only on the NUMBER of chunk entries — resolve sizes first with a
    # placeholder table, then rewrite with real offsets
    n_chunks = len(chunk_counts)
    off_type, off_fmt = (b"co64", ">Q") if co64 else (b"stco", ">I")

    def stco_box(offsets: "list[int]") -> bytes:
        import struct as _s

        return _bmff_full(
            off_type, 0, 0,
            _s.pack(">I", len(offsets))
            + b"".join(_s.pack(off_fmt, o) for o in offsets),
        )

    def moov_box(offsets: "list[int]", a_offsets: "list[int]") -> bytes:
        stbl = _bmff_box(
            b"stbl", stsd + stts + stsc + stsz + stss + stco_box(offsets)
        )
        minf = _bmff_box(b"minf", vmhd + dinf + stbl)
        mdia = _bmff_box(b"mdia", mdhd + hdlr + minf)
        trak = _bmff_box(b"trak", tkhd + mdia)
        atrak = b""
        if a_chunks:
            a_stbl = _bmff_box(
                b"stbl", a_stsd + a_stts + a_stsc + a_stsz + stco_box(a_offsets)
            )
            a_minf = _bmff_box(b"minf", smhd + dinf + a_stbl)
            a_mdia = _bmff_box(b"mdia", a_mdhd + a_hdlr + a_minf)
            atrak = _bmff_box(b"trak", a_tkhd + a_mdia)
        extra = _bmff_box(b"trak", bytes(16)) * n_extra_traks
        return _bmff_box(b"moov", mvhd + trak + atrak + extra)

    moov_size = len(moov_box([0] * n_chunks, [0] * len(a_chunks)))
    mdat_hdr = 16 if largesize_mdat else 8
    data_start = len(ftyp) + moov_size + mdat_hdr
    offsets = []
    pos = data_start
    i = 0
    for count in chunk_counts:
        offsets.append(pos)
        for _ in range(count):
            pos += len(frames[i])
            i += 1
    a_offsets = []
    for c in a_chunks:
        a_offsets.append(pos)
        pos += len(c)
    moov = moov_box(offsets, a_offsets)
    assert len(moov) == moov_size
    mdat = _bmff_box(
        b"mdat", b"".join(frames) + b"".join(a_chunks),
        largesize=largesize_mdat,
    )
    return ftyp + moov + mdat


_BMFF_UNITY_MATRIX = (
    b"\x00\x01\x00\x00" + bytes(4) * 2
    + bytes(4) + b"\x00\x01\x00\x00" + bytes(4)
    + bytes(4) * 2 + b"\x40\x00\x00\x00"
)


def _bmff_walk(content: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) over ``[size:4][type:4]``
    boxes, honoring the 64-bit ``size==1`` largesize form and the
    ``size==0`` to-end-of-scope form — the one walk the scan and the
    demux share."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(content[pos : pos + 4], "big")
        btype = content[pos + 4 : pos + 8].decode("latin-1")
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError(f"truncated largesize header at {pos}")
            size = int.from_bytes(content[pos + 8 : pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"box '{btype}' at {pos} overruns its scope "
                f"(size {size}, scope end {end})"
            )
        yield btype, pos + hdr, pos + size
        pos += size
    if pos != end:
        raise ValueError(f"trailing {end - pos} bytes after last box")


def _bmff_children(content: bytes, body: int, end: int) -> "dict[str, tuple]":
    """First child of each type: {type: (body_start, body_end)}."""
    out: dict = {}
    for t, b, e in _bmff_walk(content, body, end):
        out.setdefault(t, (b, e))
    return out


def _parse_mp4_samples(content: bytes, *, strict: bool) -> "dict | None":
    """ISO/IEC 14496-12 sample-table parse of the FIRST video track
    ('vide' handler with a complete stbl): codec fourcc from stsd,
    per-sample (offset, size, dts, duration) from the published
    stsc/stsz/stco(co64)/stts arithmetic — chunk c holds the next
    ``samples_per_chunk(c)`` samples laid out back to back from the
    chunk's absolute offset; dts is the running stts sum.  Returns
    None when no such track exists; under ``strict=False`` malformed
    box grammar also returns None instead of raising (the lenient
    contract non-BMFF blobs in a mixed corpus need)."""
    try:
        for btype, body, bend in _bmff_walk(content, 0, len(content)):
            if btype != "moov":
                continue
            for t, tb, te in _bmff_walk(content, body, bend):
                if t != "trak":
                    continue
                rec = _parse_trak_samples(content, tb, te)
                if rec is None:
                    continue
                if not rec["samples"] and b"moof" in content:
                    # EMPTY stbl tables are the FRAGMENTED-MP4
                    # signature (CMAF/DASH): the samples live in
                    # moof/traf/trun runs after the moov
                    frag = _parse_mp4_fragments(content, rec)
                    if frag["samples"]:
                        return frag
                return rec
    except (ValueError, IndexError, NotImplementedError):
        # NotImplementedError: e.g. a trun relying on trex/tfhd
        # default sample sizes — lenient mixed-crawl mode must skip,
        # not kill the task (the same contract the audio path keeps)
        if strict:
            raise
        return None
    if strict:
        raise ValueError("no video track with a complete sample table")
    return None


def _parse_trak_samples(content: bytes, tb: int, te: int) -> "dict | None":
    def u32(p):
        return int.from_bytes(content[p : p + 4], "big")

    try:
        kids = _bmff_children(content, tb, te)
    except ValueError:
        return None  # minimal trak stubs carry no box grammar
    if "mdia" not in kids:
        return None
    track_id = None
    if "tkhd" in kids:
        kb, _ke = kids["tkhd"]
        # tkhd v0: track_ID at body+12 (version/flags 4 + times 8);
        # v1 at body+20 (64-bit times)
        track_id = u32(kb + 12 if content[kb] == 0 else kb + 20)
    mdia = _bmff_children(content, *kids["mdia"])
    if "hdlr" not in mdia or "minf" not in mdia or "mdhd" not in mdia:
        return None
    hb, _he = mdia["hdlr"]
    if content[hb + 8 : hb + 12] != b"vide":
        return None
    mb, _me = mdia["mdhd"]
    mdhd_version = content[mb]
    media_timescale = u32(mb + 12 if mdhd_version == 0 else mb + 20)
    minf = _bmff_children(content, *mdia["minf"])
    if "stbl" not in minf:
        return None
    stbl = _bmff_children(content, *minf["stbl"])
    needed = {"stsd", "stts", "stsc", "stsz"}
    if not needed <= set(stbl) or not ({"stco", "co64"} & set(stbl)):
        return None
    sb, _se = stbl["stsd"]
    codec = content[sb + 12 : sb + 16].decode("latin-1")
    # stsd entry: [4:size][4:format] then VisualSampleEntry; dims at
    # entry offset 32/34 (6 reserved + 2 dref + 16 pre_defined)
    entry = sb + 8
    width = int.from_bytes(content[entry + 32 : entry + 34], "big")
    height = int.from_bytes(content[entry + 34 : entry + 36], "big")

    # COUNT HARDENING: every table cardinality is bounded by its own
    # box size, and logical totals (samples, stts run sums) by the blob
    # length — a hostile/corrupt count field must raise, never
    # materialize a multi-GB list the lenient paths can't catch
    # (MemoryError is not in their except tuples by design)
    tb_, tend = stbl["stts"]
    n_runs = u32(tb_ + 4)
    if tb_ + 8 + 8 * n_runs > tend:
        raise ValueError(f"stts declares {n_runs} runs beyond its box")
    durations: list[int] = []
    p = tb_ + 8
    for _ in range(n_runs):
        count, delta = u32(p), u32(p + 4)
        if count > len(content) or len(durations) + count > len(content):
            raise ValueError(
                f"stts run count {count} exceeds the blob size — corrupt"
            )
        durations.extend([delta] * count)
        p += 8
    zb, zend = stbl["stsz"]
    fixed = u32(zb + 4)
    n_samples = u32(zb + 8)
    if n_samples > len(content):
        raise ValueError(
            f"stsz declares {n_samples} samples, more than the blob's "
            f"{len(content)} bytes — corrupt"
        )
    if fixed:
        sizes = [fixed] * n_samples
    else:
        if zb + 12 + 4 * n_samples > zend:
            raise ValueError(
                f"stsz declares {n_samples} per-sample sizes beyond its box"
            )
        sizes = [u32(zb + 12 + 4 * i) for i in range(n_samples)]
    cb, cend = stbl.get("stco", stbl.get("co64"))
    is64 = "co64" in stbl and stbl.get("stco") is None
    n_chunks = u32(cb + 4)
    if cb + 8 + (8 if is64 else 4) * n_chunks > cend:
        raise ValueError(f"chunk-offset table declares {n_chunks} entries beyond its box")
    if is64:
        chunk_offsets = [
            int.from_bytes(content[cb + 8 + 8 * i : cb + 16 + 8 * i], "big")
            for i in range(n_chunks)
        ]
    else:
        chunk_offsets = [u32(cb + 8 + 4 * i) for i in range(n_chunks)]
    scb, scend = stbl["stsc"]
    n_entries = u32(scb + 4)
    if scb + 8 + 12 * n_entries > scend:
        raise ValueError(f"stsc declares {n_entries} entries beyond its box")
    stsc_entries = [
        (u32(scb + 8 + 12 * i), u32(scb + 12 + 12 * i))
        for i in range(n_entries)
    ]  # (first_chunk 1-based, samples_per_chunk)

    samples: list[tuple] = []
    si = 0
    dts = 0
    for ci in range(n_chunks):
        spc = 0
        for first, count in stsc_entries:
            if first <= ci + 1:
                spc = count
            else:
                break
        off = chunk_offsets[ci]
        for _ in range(spc):
            if si >= n_samples:
                break
            dur = durations[si] if si < len(durations) else 0
            samples.append((off, sizes[si], dts, dur))
            off += sizes[si]
            dts += dur
            si += 1
    if si != n_samples:
        raise ValueError(
            f"sample-table mismatch: stsz declares {n_samples} samples "
            f"but the stsc/stco chunk map yields {si}"
        )
    sync = None
    if "stss" in stbl:
        xb, xend = stbl["stss"]
        n_sync = u32(xb + 4)
        if xb + 8 + 4 * n_sync > xend:
            raise ValueError(
                f"stss declares {n_sync} entries beyond its box"
            )
        sync = {u32(xb + 8 + 4 * i) for i in range(n_sync)}
    return {
        "codec": codec,
        "width": width,
        "height": height,
        "media_timescale": media_timescale,
        "samples": samples,
        "sync": sync,  # 1-based sample indices; None = all sync (spec)
        "track_id": track_id,
    }


def demux_mp4_frames(
    content: bytes, *, strict: bool = True
) -> "list[tuple[bytes, int, int]]":
    """The BMFF demux half: (sample_bytes, dts_ticks, duration_ticks)
    per video sample of the first video track, via the sample-table
    arithmetic — no codec touched.  Sample extents are bounds-checked
    against the blob (a corrupt stco pointing past EOF raises, never
    returns short reads)."""
    rec = _parse_mp4_samples(content, strict=strict)
    if rec is None:
        return []
    out = []
    for off, size, dts, dur in rec["samples"]:
        if off + size > len(content):
            raise ValueError(
                f"sample at offset {off} (+{size}) overruns the blob "
                f"({len(content)} bytes)"
            )
        out.append((content[off : off + size], dts, dur))
    return out


MP4_FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("pts_ms", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def mp4_video_frame_features(
    df: DataFrame, *, every_n: int = 1, strict: bool = True,
    keyframes_only: bool = False,
) -> DataFrame:
    """REAL video decode from MP4: demux via the ISO BMFF sample
    tables (stsd/stts/stsc/stsz/stco|co64) and decode every n-th
    sample through the vendored JPEG codec — the BMFF sibling of
    :func:`video_frame_features`, with presentation time attested:
    ``pts_ms`` is the integer stts running sum scaled by the mdhd
    media timescale, so any stts/stsc slip shifts the
    frame_index↔pts↔mean triples an oracle replays in closed form.
    MJPEG ('jpeg' sample entries) only: undecodable samples raise
    under strict (the honest codec boundary), are skipped otherwise;
    non-BMFF blobs raise/skip likewise.  ``keyframes_only=True``
    restricts the walk to stss-listed sync samples (seek-point
    sampling, the cheap thumbnail/fingerprint pass; ``every_n`` then
    strides over the keyframe list) — an absent stss means every
    sample is sync, per spec.  Scale: mapInPandas over the
    (typically broadcast) blob column, zero shuffle; decode cost is
    per-sampled-frame so ``every_n`` bounds work on long clips, and
    scan_mp4_boxes is the triage gate that routes non-MJPEG files
    away before this stage."""

    def decode_blob(content: bytes) -> list:
        try:
            rec = _parse_mp4_samples(content, strict=strict)
        except (ValueError, IndexError, NotImplementedError):
            if strict:
                raise
            return []
        if rec is None:
            return []
        mts = rec["media_timescale"] or 1
        idxs = range(len(rec["samples"]))
        if keyframes_only and rec.get("sync") is not None:
            # stss lists 1-based sync samples; an ABSENT stss
            # means every sample is sync (spec default) and
            # keyframes_only degenerates to the full walk
            idxs = [i for i in idxs if (i + 1) in rec["sync"]]
        frames = []
        for i in list(idxs)[::every_n]:
            off, size, dts, _dur = rec["samples"][i]
            if off + size > len(content):
                raise ValueError(
                    f"sample at offset {off} (+{size}) overruns "
                    f"the blob ({len(content)} bytes)"
                )
            try:
                px = _decode_jpeg(content[off : off + size])
            except (ValueError, NotImplementedError):
                if strict:
                    raise
                continue
            frames.append({
                "frame_index": i,
                "pts_ms": dts * 1000 // mts,
                "width": px.shape[1],
                "height": px.shape[0],
                "mean_intensity": float(px.astype(np.float64).mean()),
            })
        return frames

    return blob_map(
        df, MP4_FRAME_FEATURE_SCHEMA, decode_blob,
        keys=["media_id"], args=["content"], memo=True,
    )


# ---------------------------------------------------------------------------
# Matroska/WebM — Cluster/SimpleBlock demux + real MJPEG decode
# ---------------------------------------------------------------------------


def demux_mkv_frames(
    content: bytes, *, strict: bool = True
) -> "tuple[str | None, list[tuple[bytes, int]]]":
    """The EBML demux half: (video_codec,
    [(frame_bytes, pts_ticks), ...]) for the FIRST video track —
    extends the triage-level EBML walk (scan_mkv_headers) into
    Cluster/SimpleBlock frame extraction.  pts_ticks is the cluster
    Timestamp plus the SimpleBlock's signed 16-bit relative timestamp
    (both in TimestampScale ticks, per the published Matroska block
    structure).  All three LACING modes decode (Xiph 255-run size
    table, EBML signed-VINT deltas, fixed equal split — laced frames
    share the block timestamp, which is how real muxers pack them);
    corrupt lace tables raise.  Non-EBML blobs raise under strict,
    return (None, []) otherwise.  BlockGroup/Block (0xA0/0xA1) frames
    are out of scope — the SimpleBlock form is what WebM muxers write
    for keyframe video."""
    import struct

    if content[:4] != b"\x1a\x45\xdf\xa3":
        if strict:
            raise ValueError("not an EBML stream (missing 1A45DFA3 header)")
        return None, []

    video_track: "list[int | None]" = [None]
    video_codec: "list[str | None]" = [None]
    frames: "list[tuple[bytes, int]]" = []

    def walk(pos: int, end: int, handler) -> None:
        while pos < end:
            eid, pos = _read_vint(content, pos, keep_marker=True)
            size, pos = _read_vint(content, pos, keep_marker=False)
            if size is None:
                size = end - pos
            if pos + size > end:
                if strict:
                    raise ValueError(f"EBML element {eid:#x} overruns its parent")
                return
            handler(eid, pos, size)
            pos += size

    track_state: dict = {}

    def on_track_child(eid, pos, size):
        if eid == 0xD7:
            track_state["no"] = int.from_bytes(content[pos : pos + size], "big")
        elif eid == 0x83:
            track_state["type"] = int.from_bytes(content[pos : pos + size], "big")
        elif eid == 0x86:
            track_state["codec"] = content[pos : pos + size].decode(
                "ascii", "replace")

    def on_tracks(eid, pos, size):
        if eid != 0xAE:
            return
        track_state.clear()
        walk(pos, pos + size, on_track_child)
        if track_state.get("type") == 1 and video_track[0] is None:
            video_track[0] = track_state.get("no")
            video_codec[0] = track_state.get("codec")

    cluster_ts = [0]

    def on_cluster(eid, pos, size):
        if eid == 0xE7:
            cluster_ts[0] = int.from_bytes(content[pos : pos + size], "big")
        elif eid == 0xA3:
            tno, p = _read_vint(content, pos, keep_marker=False)
            if p + 3 > pos + size:
                raise ValueError("SimpleBlock header overruns the element")
            (rel,) = struct.unpack(">h", content[p : p + 2])
            flags = content[p + 2]
            end = pos + size
            if tno != video_track[0]:
                return
            pts = cluster_ts[0] + rel
            lacing = flags & 0x06
            if not lacing:
                frames.append((content[p + 3 : end], pts))
                return
            # laced block: frame count byte then the lace-size table
            # (Xiph 255-run sizes / EBML signed-VINT deltas / fixed
            # equal split), all frames sharing the block timestamp
            q = p + 3
            n_lace = content[q] + 1
            q += 1
            sizes: "list[int]" = []
            if lacing == 0x02:  # Xiph
                for _ in range(n_lace - 1):
                    s = 0
                    while True:
                        b = content[q]
                        q += 1
                        s += b
                        if b != 255:
                            break
                    sizes.append(s)
            elif lacing == 0x06:  # EBML
                # the table holds n-1 entries: a single-frame laced
                # block has NO first-size entry (an unconditional read
                # would split the frame in two)
                if n_lace > 1:
                    first, q = _read_vint(content, q, keep_marker=False)
                    if first is None:
                        raise ValueError("reserved all-ones EBML lace size")
                    sizes.append(first)
                    prev = first
                    for _ in range(n_lace - 2):
                        w = 8 - content[q].bit_length() + 1
                        raw, q = _read_vint(content, q, keep_marker=False)
                        if raw is None:
                            raise ValueError(
                                "reserved all-ones EBML lace delta"
                            )
                        prev += raw - ((1 << (7 * w - 1)) - 1)
                        sizes.append(prev)
            else:  # 0x04 fixed: equal split of the remaining bytes
                if (end - q) % n_lace:
                    raise ValueError(
                        "fixed lacing: frame data not divisible by count"
                    )
                sizes = [(end - q) // n_lace] * (n_lace - 1)
            used = sum(sizes)
            if q + used > end:
                raise ValueError("lace sizes overrun the SimpleBlock")
            for s in sizes:
                frames.append((content[q : q + s], pts))
                q += s
            frames.append((content[q:end], pts))  # last = remainder

    def on_segment(eid, pos, size):
        if eid == 0x1654AE6B:
            walk(pos, pos + size, on_tracks)
        elif eid == 0x1F43B675:
            cluster_ts[0] = 0
            walk(pos, pos + size, on_cluster)

    def on_top(eid, pos, size):
        if eid == 0x18538067:
            walk(pos, pos + size, on_segment)

    try:
        walk(0, len(content), on_top)
    except (ValueError, IndexError):
        if strict:
            raise
        return None, []
    return video_codec[0], frames


MKV_FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("pts_ticks", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def mkv_video_frame_features(
    df: DataFrame, *, every_n: int = 1, strict: bool = True
) -> DataFrame:
    """REAL video decode from Matroska/WebM: demux Cluster/SimpleBlock
    payloads of the first video track and decode every n-th frame
    through the vendored JPEG codec — the EBML sibling of the AVI and
    MP4 decode paths, with block timing attested: ``pts_ticks`` is
    cluster Timestamp + SimpleBlock relative timestamp in
    TimestampScale ticks, exact integers an oracle replays.  V_MJPEG
    tracks only: any other CodecID raises NotImplementedError under
    strict (the honest codec boundary this sandbox keeps); lenient
    mode routes such blobs to zero rows so the triage scan
    (scan_mkv_headers) remains the place that REPORTS them.  Scale:
    mapInPandas over the (typically broadcast) blob column, zero
    shuffle; every_n bounds decode cost on long clips."""

    def decode_blob(content: bytes) -> list:
        try:
            codec, frames = demux_mkv_frames(content, strict=strict)
        except (ValueError, IndexError):
            if strict:
                raise
            return []
        if codec != "V_MJPEG":
            if strict:
                raise NotImplementedError(
                    f"MKV video codec {codec!r} — only V_MJPEG "
                    "decodes in this sandbox; route others via "
                    "scan_mkv_headers triage"
                )
            return []
        rows = []
        for i in range(0, len(frames), every_n):
            payload, pts = frames[i]
            try:
                px = _decode_jpeg(payload)
            except (ValueError, NotImplementedError):
                if strict:
                    raise
                continue
            rows.append({
                "frame_index": i,
                "pts_ticks": pts,
                "width": px.shape[1],
                "height": px.shape[0],
                "mean_intensity": float(px.astype(np.float64).mean()),
            })
        return rows

    return blob_map(
        df, MKV_FRAME_FEATURE_SCHEMA, decode_blob, keys=["media_id"], args=["content"]
    )


# ---------------------------------------------------------------------------
# MP3 full-file frame walk — per-frame VBR stats + Xing/VBRI tag parse
# ---------------------------------------------------------------------------


def encode_mp3_frames(
    bitrate_indices: "list[int]",
    *,
    sr_idx: int = 0,
    paddings: "list[int] | None" = None,
    vbr_tag: "str | None" = None,
    channel_mode: int = 0,
    id3_payload: int = -1,
) -> bytes:
    """Stdlib-only MPEG-1 Layer III stream writer for frame-walk
    fixtures: one frame per bitrate index (1..14 into the public
    ISO 11172-3 table), zero-filled payloads opening with a planted
    false 0xFFFB sync word (the resync trap), optional ID3v2.4 prefix
    (``id3_payload`` >= 0 bytes), and an optional VBR tag in frame 0 —
    'Xing'/'Info' at the post-side-info offset (32 bytes for
    stereo/joint/dual ``channel_mode``, 17 for mono==3) with the
    frames+bytes flags, or 'VBRI' at the spec's fixed 32-byte offset.
    Tag semantics follow the common convention: declared frames
    EXCLUDE the tag frame itself; declared bytes span the whole frame
    stream (tag frame included, ID3 excluded)."""
    import struct

    pads = paddings or [0] * len(bitrate_indices)
    if len(pads) != len(bitrate_indices):
        raise ValueError("paddings must match bitrate_indices")
    sr = MPEG1_SAMPLE_RATES[sr_idx]
    lens = [
        144000 * MPEG1_L3_BITRATES[bi - 1] // sr + pad
        for bi, pad in zip(bitrate_indices, pads)
    ]
    total_bytes = sum(lens)
    frames = []
    for fi, (bi, pad, flen) in enumerate(zip(bitrate_indices, pads, lens)):
        b2 = (bi << 4) | (sr_idx << 2) | (pad << 1)
        hdr = bytes([0xFF, 0xFB, b2, (channel_mode & 3) << 6])
        body = bytearray(flen - 4)
        body[0:2] = b"\xff\xfb"  # planted false sync
        if fi == 0 and vbr_tag in ("Xing", "Info"):
            off = (17 if channel_mode == 3 else 32)
            body[off : off + 4] = vbr_tag.encode("ascii")
            body[off + 4 : off + 8] = struct.pack(">I", 0x3)  # frames|bytes
            body[off + 8 : off + 12] = struct.pack(
                ">I", len(bitrate_indices) - 1
            )
            body[off + 12 : off + 16] = struct.pack(">I", total_bytes)
        elif fi == 0 and vbr_tag == "VBRI":
            body[32 : 32 + 4] = b"VBRI"
            body[36:38] = struct.pack(">H", 1)   # version
            body[38:40] = struct.pack(">H", 0)   # delay
            body[40:42] = struct.pack(">H", 0)   # quality
            body[42:46] = struct.pack(">I", total_bytes)
            body[46:50] = struct.pack(">I", len(bitrate_indices) - 1)
        elif fi == 0 and vbr_tag is not None:
            raise ValueError(f"unknown vbr_tag {vbr_tag!r}")
        frames.append(hdr + bytes(body))
    out = b"".join(frames)
    if id3_payload >= 0:
        size = id3_payload
        syncsafe = bytes(
            [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
             (size >> 7) & 0x7F, size & 0x7F]
        )
        out = b"ID3\x04\x00\x00" + syncsafe + bytes(size) + out
    return out


MP3_WALK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("is_vbr", T.IntegerType()),
        T.StructField("bitrate_min_kbps", T.IntegerType()),
        T.StructField("bitrate_max_kbps", T.IntegerType()),
        T.StructField("total_frame_bytes", T.LongType()),
        T.StructField("avg_bitrate_bps", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("vbr_tag", T.StringType()),
        T.StructField("tag_frames", T.LongType()),
        T.StructField("tag_bytes", T.LongType()),
    ]
)


def _walk_mp3(content: bytes, *, strict: bool) -> "dict | None":
    """Complete frame walk: every frame's bitrate
    from its own header (no CBR assumption), frame lengths from the
    public 144000·br//sr + padding arithmetic, and the frame-0 VBR tag
    (Xing/Info at the post-side-info offset by channel mode, VBRI at
    the fixed 32-byte offset).  Exact integers throughout:
    ``avg_bitrate_bps = total_bytes·8·sr // (n_frames·1152)``,
    ``duration_us = n_frames·1152·1_000_000 // sr``."""
    import struct

    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        id3 = (
            ((content[6] & 0x7F) << 21) | ((content[7] & 0x7F) << 14)
            | ((content[8] & 0x7F) << 7) | (content[9] & 0x7F)
        )
        pos = 10 + id3
        if pos > len(content) and strict:
            raise ValueError(f"ID3 tag (syncsafe size {id3}) overruns the file")
    n_frames = 0
    sr0 = 0
    brs: "list[int]" = []
    total = 0
    vbr_tag = None
    tag_frames = None
    tag_bytes = None
    while pos + 4 <= len(content):
        b0, b1, b2, b3 = content[pos : pos + 4]
        if not (b0 == 0xFF and (b1 & 0xE0) == 0xE0):
            if strict:
                raise ValueError(f"lost MPEG sync at byte {pos}")
            pos += 1
            continue
        if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
            if strict:
                raise NotImplementedError(
                    f"only MPEG-1 Layer III frames are supported "
                    f"(header byte 2 = 0x{b1:02x})"
                )
            pos += 1
            continue
        br_idx = (b2 >> 4) & 0x0F
        sr_idx = (b2 >> 2) & 0x03
        padding = (b2 >> 1) & 0x01
        if br_idx in (0, 15) or sr_idx == 3:
            if strict:
                raise NotImplementedError(
                    "free-format/invalid bitrate or reserved sample rate"
                )
            pos += 1
            continue
        br = MPEG1_L3_BITRATES[br_idx - 1]
        sr = MPEG1_SAMPLE_RATES[sr_idx]
        frame_len = 144000 * br // sr + padding
        if pos + frame_len > len(content):
            if strict:
                raise ValueError(f"truncated final frame at byte {pos}")
            break
        if n_frames == 0:
            sr0 = sr
            mode = (b3 >> 6) & 3
            off = pos + 4 + (17 if mode == 3 else 32)
            tag4 = content[off : off + 4]
            if tag4 in (b"Xing", b"Info"):
                vbr_tag = tag4.decode("ascii")
                (flags,) = struct.unpack(">I", content[off + 4 : off + 8])
                p = off + 8
                if flags & 0x1:
                    (tag_frames,) = struct.unpack(">I", content[p : p + 4])
                    p += 4
                if flags & 0x2:
                    (tag_bytes,) = struct.unpack(">I", content[p : p + 4])
            elif content[pos + 36 : pos + 40] == b"VBRI":
                vbr_tag = "VBRI"
                (tag_bytes,) = struct.unpack(
                    ">I", content[pos + 46 : pos + 50]
                )
                (tag_frames,) = struct.unpack(
                    ">I", content[pos + 50 : pos + 54]
                )
        elif strict and sr != sr0:
            raise ValueError("sample rate changed mid-stream")
        brs.append(br)
        total += frame_len
        n_frames += 1
        pos += frame_len
    if n_frames == 0:
        if strict:
            raise ValueError("no complete MPEG frames in file")
        return None
    return {
        "n_frames": n_frames,
        "sample_rate": sr0,
        "is_vbr": int(len(set(brs)) > 1),
        "bitrate_min_kbps": min(brs),
        "bitrate_max_kbps": max(brs),
        "total_frame_bytes": total,
        "avg_bitrate_bps": total * 8 * sr0 // (n_frames * 1152),
        "duration_us": n_frames * 1152 * 1_000_000 // sr0,
        "vbr_tag": vbr_tag,
        "tag_frames": tag_frames,
        "tag_bytes": tag_bytes,
    }


def mp3_frame_walk(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """MP3 COMPLETE frame walk — upgrades the
    first-sync triage of :func:`scan_mpeg_frames` to per-frame truth:
    VBR detection and min/max bitrate from every frame's own header,
    exact byte totals, the integer average bitrate, and the Xing/Info/
    VBRI VBR header parsed from frame 0 (tag-declared frame/byte
    counts surface as columns so consumers can cross-check them
    against the walked truth — the classic corrupt-VBR-tag detection).
    All stdlib integer arithmetic a DuckDB oracle replays.  Lenient
    blobs with zero complete frames are dropped.  Scale: mapInPandas,
    zero shuffle, O(n_frames) per blob, header bytes only."""

    def walk(content: bytes) -> list:
        rec = _walk_mp3(content, strict=strict)
        return [] if rec is None else [rec]

    return blob_map(df, MP3_WALK_SCHEMA, walk, keys=["media_id"], args=["content"])


def _parse_trak_audio(content: bytes, tb: int, te: int) -> "dict | None":
    """Audio twin of :func:`_parse_trak_samples` — first 'soun' trak
    with a complete stbl, returning CHUNK extents (offset, bytes)
    rather than per-sample tuples: PCM tracks carry one stsz entry per
    2-byte sample, so per-sample expansion would build millions of
    tuples for seconds of audio; chunk arithmetic (samples-per-chunk ×
    fixed size) keeps the walk O(#chunks)."""
    def u32(p):
        return int.from_bytes(content[p : p + 4], "big")

    try:
        kids = _bmff_children(content, tb, te)
    except ValueError:
        return None
    if "mdia" not in kids:
        return None
    mdia = _bmff_children(content, *kids["mdia"])
    if "hdlr" not in mdia or "minf" not in mdia or "mdhd" not in mdia:
        return None
    hb, _he = mdia["hdlr"]
    if content[hb + 8 : hb + 12] != b"soun":
        return None
    mb, _me = mdia["mdhd"]
    mdhd_version = content[mb]
    media_timescale = u32(mb + 12 if mdhd_version == 0 else mb + 20)
    minf = _bmff_children(content, *mdia["minf"])
    if "stbl" not in minf:
        return None
    stbl = _bmff_children(content, *minf["stbl"])
    if not {"stsd", "stsc", "stsz"} <= set(stbl) or not (
        {"stco", "co64"} & set(stbl)
    ):
        return None
    sb, _se = stbl["stsd"]
    codec = content[sb + 12 : sb + 16].decode("latin-1")
    zb, _ = stbl["stsz"]
    fixed = u32(zb + 4)
    n_samples = u32(zb + 8)
    if fixed == 0:
        raise NotImplementedError(
            "audio demux expects the fixed-size stsz form PCM uses; "
            "per-sample-sized audio needs the video-style walk"
        )
    cb, cend = stbl.get("stco", stbl.get("co64"))
    is64 = "co64" in stbl and stbl.get("stco") is None
    n_chunks = u32(cb + 4)
    if cb + 8 + (8 if is64 else 4) * n_chunks > cend:
        raise ValueError(
            f"chunk-offset table declares {n_chunks} entries beyond its box"
        )
    if is64:
        chunk_offsets = [
            int.from_bytes(content[cb + 8 + 8 * i : cb + 16 + 8 * i], "big")
            for i in range(n_chunks)
        ]
    else:
        chunk_offsets = [u32(cb + 8 + 4 * i) for i in range(n_chunks)]
    scb, scend = stbl["stsc"]
    n_entries = u32(scb + 4)
    if scb + 8 + 12 * n_entries > scend:
        raise ValueError(f"stsc declares {n_entries} entries beyond its box")
    stsc_entries = [
        (u32(scb + 8 + 12 * i), u32(scb + 12 + 12 * i))
        for i in range(n_entries)
    ]
    chunks: "list[tuple[int, int]]" = []
    remaining = n_samples
    for ci in range(n_chunks):
        spc = 0
        for first, count in stsc_entries:
            if first <= ci + 1:
                spc = count
            else:
                break
        take = min(spc, remaining)
        chunks.append((chunk_offsets[ci], take * fixed))
        remaining -= take
    if remaining:
        raise ValueError(
            f"audio sample-table mismatch: stsz declares {n_samples} "
            f"samples but the chunk map holds {n_samples - remaining}"
        )
    return {
        "codec": codec,
        "media_timescale": media_timescale,
        "sample_size": fixed,
        "n_samples": n_samples,
        "chunks": chunks,
    }


def demux_mp4_audio(content: bytes, *, strict: bool = True) -> "list[bytes]":
    """Chunk payloads of the first PCM ('soun') track via the sample
    tables — the MP4 twin of :func:`demux_avi_audio`; for s16le the
    concatenation IS the waveform.  Chunk extents are bounds-checked
    against the blob."""
    try:
        for btype, body, bend in _bmff_walk(content, 0, len(content)):
            if btype != "moov":
                continue
            for t, tb, te in _bmff_walk(content, body, bend):
                if t != "trak":
                    continue
                rec = _parse_trak_audio(content, tb, te)
                if rec is None:
                    continue
                out = []
                for off, size in rec["chunks"]:
                    if off + size > len(content):
                        raise ValueError(
                            f"audio chunk at offset {off} (+{size}) "
                            f"overruns the blob ({len(content)} bytes)"
                        )
                    out.append(content[off : off + size])
                return out
    except (ValueError, IndexError, NotImplementedError):
        # NotImplementedError: a per-sample-sized (non-PCM, e.g. AAC)
        # audio track — in a mixed crawl that is the COMMON case, and
        # lenient mode must skip it, not kill the task
        if strict:
            raise
        return []
    if strict:
        raise ValueError("no PCM audio track with a complete sample table")
    return []


def mp4_audio_features(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """REAL audio extraction from MP4: demux the PCM chunks through the
    stsc/stco/fixed-stsz arithmetic and interpret the concatenation as
    s16le, emitting the same exact integer statistics as the AVI twin
    (:func:`avi_audio_features`) — chunk count, sample count, peak
    |s|, exact sample sum — all replayable in closed form.  Scale:
    mapInPandas, zero shuffle; the chunk walk is O(#chunks), video
    frames are never touched."""

    def feats(content: bytes) -> list:
        try:
            chunks = demux_mp4_audio(content, strict=strict)
        except (ValueError, IndexError, NotImplementedError):
            if strict:
                raise
            chunks = []
        return [_pcm_s16_stats(chunks, b"".join(chunks))]

    return blob_map(df, AVI_AUDIO_SCHEMA, feats, keys=["media_id"], args=["content"])


# ---------------------------------------------------------------------------
# Fragmented MP4 (CMAF/DASH shape): moof/traf/trun demux
# ---------------------------------------------------------------------------


def encode_mp4_fragmented(
    frames: "list[bytes]",
    *,
    width: int,
    height: int,
    media_timescale: int = 1000,
    sample_durations: "list[int] | None" = None,
    frames_per_fragment: int = 1,
    sample_format: bytes = b"jpeg",
    trun_data_offset_bias: int = 0,
) -> bytes:
    """Stdlib-only FRAGMENTED MP4 writer (the CMAF/DASH/HLS layout that
    dominates crawled streaming video): ftyp (iso5), a moov whose stbl
    tables are EMPTY (the fMP4 signature) plus mvex/trex defaults, then
    one moof+mdat pair per fragment — mfhd sequence numbers, tfhd with
    default-base-is-moof, tfdt base decode times (version 1, 64-bit),
    and a trun carrying per-sample durations and sizes with the
    data-offset field pointing from the moof START to the first sample
    byte.  ``trun_data_offset_bias`` exists for corruption fixtures
    (shifts the written offset without moving the data)."""
    import struct

    n = len(frames)
    durs = list(sample_durations or [1] * n)
    if len(durs) != n:
        raise ValueError("sample_durations must match frames")

    ftyp = _bmff_box(b"ftyp", b"iso5" + bytes(4) + b"iso5" + b"mp41")

    mvhd = _bmff_full(
        b"mvhd", 0, 0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, 0)                  # timescale, duration 0
        + struct.pack(">i", 0x00010000)
        + struct.pack(">h", 0x0100) + bytes(10)
        + _BMFF_UNITY_MATRIX + bytes(24)
        + struct.pack(">I", 2),
    )
    tkhd = _bmff_full(
        b"tkhd", 0, 7,
        struct.pack(">II", 0, 0)
        + struct.pack(">I", 1) + bytes(4)
        + struct.pack(">I", 0) + bytes(8)
        + struct.pack(">hhh", 0, 0, 0) + bytes(2)
        + _BMFF_UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _bmff_full(
        b"mdhd", 0, 0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", media_timescale, 0)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _bmff_full(
        b"hdlr", 0, 0, bytes(4) + b"vide" + bytes(12) + b"VideoHandler\x00"
    )
    vmhd = _bmff_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dinf = _bmff_box(
        b"dinf",
        _bmff_full(b"dref", 0, 0, struct.pack(">I", 1) + _bmff_full(b"url ", 0, 1, b"")),
    )
    sample_entry = _bmff_box(
        sample_format,
        bytes(6) + struct.pack(">H", 1) + bytes(16)
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + bytes(4) + struct.pack(">H", 1) + bytes(32)
        + struct.pack(">Hh", 24, -1),
    )
    stbl = _bmff_box(
        b"stbl",
        _bmff_full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
        + _bmff_full(b"stts", 0, 0, struct.pack(">I", 0))
        + _bmff_full(b"stsc", 0, 0, struct.pack(">I", 0))
        + _bmff_full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
        + _bmff_full(b"stco", 0, 0, struct.pack(">I", 0)),
    )
    minf = _bmff_box(b"minf", vmhd + dinf + stbl)
    mdia = _bmff_box(b"mdia", mdhd + hdlr + minf)
    trak = _bmff_box(b"trak", tkhd + mdia)
    trex = _bmff_full(
        b"trex", 0, 0, struct.pack(">IIIII", 1, 1, 0, 0, 0)
    )
    moov = _bmff_box(b"moov", mvhd + trak + _bmff_box(b"mvex", trex))

    out = ftyp + moov
    base_dts = 0
    seq = 1
    for start in range(0, n, max(1, frames_per_fragment)):
        chunk = frames[start : start + frames_per_fragment]
        cdurs = durs[start : start + frames_per_fragment]
        mfhd = _bmff_full(b"mfhd", 0, 0, struct.pack(">I", seq))
        # tfhd: track 1, flags 0x20000 (default-base-is-moof)
        tfhd = _bmff_full(b"tfhd", 0, 0x020000, struct.pack(">I", 1))
        tfdt = _bmff_full(b"tfdt", 1, 0, struct.pack(">Q", base_dts))
        # trun flags: 0x1 data-offset, 0x100 duration, 0x200 size
        trun_entries = b"".join(
            struct.pack(">II", d, len(f)) for d, f in zip(cdurs, chunk)
        )
        trun_wo_offset = _bmff_full(
            b"trun", 0, 0x000301,
            struct.pack(">Ii", len(chunk), 0) + trun_entries,
        )
        traf = _bmff_box(b"traf", tfhd + tfdt + trun_wo_offset)
        moof_size = len(_bmff_box(b"moof", mfhd + traf))
        data_offset = moof_size + 8 + trun_data_offset_bias
        trun = _bmff_full(
            b"trun", 0, 0x000301,
            struct.pack(">Ii", len(chunk), data_offset) + trun_entries,
        )
        traf = _bmff_box(b"traf", tfhd + tfdt + trun)
        moof = _bmff_box(b"moof", mfhd + traf)
        assert len(moof) == moof_size
        out += moof + _bmff_box(b"mdat", b"".join(chunk))
        base_dts += sum(cdurs)
        seq += 1
    return out


def _parse_mp4_fragments(content: bytes, trak_rec: dict) -> dict:
    """ISO 14496-12 §8.8 movie-fragment walk: for each top-level moof,
    parse mfhd/tfhd/tfdt/trun and materialize (offset, size, dts,
    duration) samples — offsets are moof-relative (default-base-is-
    moof, the CMAF convention) via the trun data-offset field.  Sample
    counts are bounded by the trun box size (hostile-count rule)."""
    import struct

    samples: "list[tuple]" = []
    running_dts = 0
    want_track = trak_rec.get("track_id")
    for btype, body, bend in _bmff_walk(content, 0, len(content)):
        if btype != "moof":
            continue
        # box START from the actual header width (an 8-byte assumption
        # shifts every offset by 8 for a largesize moof — review
        # finding); _bmff_walk yields body AFTER the header
        hdr = 8 if content[body - 4 : body] == b"moof" else 16
        moof_start = body - hdr
        for t, fb, fe in _bmff_walk(content, body, bend):
            if t != "traf":
                continue
            # walk EVERY traf (a multi-track fragment interleaves
            # audio/video trafs) and EVERY trun within it (review
            # finding: first-child-only dropped legal runs)
            traf = _bmff_children(content, fb, fe)
            if "tfhd" in traf:
                tb_, tde = traf["tfhd"]
                if tde - tb_ < 8:
                    raise ValueError("tfhd too small for its track_ID")
                traf_track = int.from_bytes(content[tb_ + 4 : tb_ + 8], "big")
                if want_track is not None and traf_track != want_track:
                    continue
            base_dts = running_dts
            if "tfdt" in traf:
                db, de = traf["tfdt"]
                ver = content[db]
                need = 12 if ver == 1 else 8
                if de - db < need:
                    # silent reads past the box handed a bogus base
                    # time to every sample
                    raise ValueError(
                        f"tfdt v{ver} body too small ({de - db} < {need})"
                    )
                base_dts = (
                    int.from_bytes(content[db + 4 : db + 12], "big")
                    if ver == 1
                    else int.from_bytes(content[db + 4 : db + 8], "big")
                )
            dts = base_dts
            prev_end = None  # where the previous run's samples ended
            for rt, rb, rend in _bmff_walk(content, fb, fe):
                if rt != "trun":
                    continue
                flags = int.from_bytes(content[rb + 1 : rb + 4], "big")
                count = int.from_bytes(content[rb + 4 : rb + 8], "big")
                p = rb + 8
                data_offset = None
                if flags & 0x1:
                    data_offset = int.from_bytes(
                        content[p : p + 4], "big", signed=True
                    )
                    p += 4
                if flags & 0x4:
                    p += 4  # first-sample-flags
                per = (
                    (4 if flags & 0x100 else 0)
                    + (4 if flags & 0x200 else 0)
                    + (4 if flags & 0x400 else 0)
                    + (4 if flags & 0x800 else 0)
                )
                if p + per * count > rend:
                    raise ValueError(
                        f"trun declares {count} samples beyond its box — corrupt"
                    )
                if not (flags & 0x200):
                    raise NotImplementedError(
                        "trun without per-sample sizes needs trex/tfhd "
                        "defaults — not written by any fixture here"
                    )
                # absent data-offset: samples CONTINUE after the
                # previous run's (spec §8.8.8); first run defaults to
                # right after the moof header pair
                if data_offset is not None:
                    off = moof_start + data_offset
                elif prev_end is not None:
                    off = prev_end
                else:
                    off = bend + 8  # first byte after moof's mdat header
                for _ in range(count):
                    dur = 0
                    if flags & 0x100:
                        dur = int.from_bytes(content[p : p + 4], "big")
                        p += 4
                    size = int.from_bytes(content[p : p + 4], "big")
                    p += 4
                    if flags & 0x400:
                        p += 4
                    if flags & 0x800:
                        p += 4
                    samples.append((off, size, dts, dur))
                    off += size
                    dts += dur
                prev_end = off
            running_dts = dts
    return {
        "codec": trak_rec["codec"],
        "width": trak_rec["width"],
        "height": trak_rec["height"],
        "media_timescale": trak_rec["media_timescale"],
        "samples": samples,
        "sync": None,
    }


# ---------------------------------------------------------------------------
# ID3v2 text frames — MP3 metadata extraction
# ---------------------------------------------------------------------------


def encode_id3v2(
    frames: "dict[str, str]", *, version: int = 4, padding: int = 0
) -> bytes:
    """Stdlib ID3v2.3/2.4 tag writer for fixtures: text frames only
    (TIT2/TPE1/TALB/...), UTF-8 (encoding byte 3) under v2.4 and
    Latin-1 (byte 0) under v2.3 — the two encodings real taggers
    actually emit for ASCII-safe values.  Frame sizes are syncsafe
    under v2.4 and plain big-endian under v2.3, per spec."""
    if version not in (3, 4):
        raise ValueError("ID3v2 version must be 3 or 4")

    def syncsafe(v: int) -> bytes:
        return bytes(
            [(v >> 21) & 0x7F, (v >> 14) & 0x7F, (v >> 7) & 0x7F, v & 0x7F]
        )

    body = b""
    for fid, text in sorted(frames.items()):
        if len(fid) != 4 or not fid.startswith("T"):
            raise ValueError(f"text frame id expected, got {fid!r}")
        if version == 4:
            payload = b"\x03" + text.encode("utf-8")
            size = syncsafe(len(payload))
        else:
            payload = b"\x00" + text.encode("latin-1")
            size = len(payload).to_bytes(4, "big")
        body += fid.encode("ascii") + size + b"\x00\x00" + payload
    body += bytes(padding)
    return b"ID3" + bytes([version, 0, 0]) + syncsafe(len(body)) + body


def parse_id3v2_text_frames(content: bytes) -> "list[tuple[str, str]]":
    """(frame_id, text) for every ID3v2.2/2.3/2.4 TEXT frame at the
    head of ``content`` — encoding byte 0 (Latin-1), 1 (UTF-16 w/ BOM)
    and 3 (UTF-8) decode; non-text frames are skipped by size
    arithmetic; a zero frame-id byte ends the walk (padding).  v2.2
    uses its own 3-byte id / 3-byte size layout (misreading it with
    v2.3 arithmetic yields garbage); ids are reported
    as written ('TT2' under v2.2, 'TIT2' later).  Returns [] when no
    ID3v2 tag — or a version this parser does not know — leads the
    blob."""
    if content[:3] != b"ID3" or len(content) < 10:
        return []
    version = content[3]
    if version not in (2, 3, 4):
        return []  # unknown layout: refuse to guess
    tag_size = (
        ((content[6] & 0x7F) << 21) | ((content[7] & 0x7F) << 14)
        | ((content[8] & 0x7F) << 7) | (content[9] & 0x7F)
    )
    end = min(10 + tag_size, len(content))
    pos = 10
    if content[5] & 0x40:  # extended header present: skip it
        if pos + 4 > end:
            return []
        ext = int.from_bytes(content[pos : pos + 4], "big")
        if version == 4:  # syncsafe
            ext = (
                ((content[pos] & 0x7F) << 21)
                | ((content[pos + 1] & 0x7F) << 14)
                | ((content[pos + 2] & 0x7F) << 7)
                | (content[pos + 3] & 0x7F)
            )
            pos += ext
        else:
            pos += 4 + ext
    id_len, hdr_len = (3, 6) if version == 2 else (4, 10)
    out: "list[tuple[str, str]]" = []
    while pos + hdr_len <= end:
        fid = content[pos : pos + id_len]
        if fid[0] == 0:
            break  # padding
        if version == 2:
            fsize = int.from_bytes(content[pos + 3 : pos + 6], "big")
        elif version == 4:
            raw = content[pos + 4 : pos + 8]
            fsize = (
                ((raw[0] & 0x7F) << 21) | ((raw[1] & 0x7F) << 14)
                | ((raw[2] & 0x7F) << 7) | (raw[3] & 0x7F)
            )
        else:
            fsize = int.from_bytes(content[pos + 4 : pos + 8], "big")
        payload = content[pos + hdr_len : pos + hdr_len + fsize]
        if pos + hdr_len + fsize > end:
            raise ValueError(
                f"ID3 frame {fid!r} overruns the tag ({fsize} bytes)"
            )
        if fid.startswith(b"T") and fsize >= 1:
            enc = payload[0]
            body = payload[1:]
            try:
                if enc == 0:
                    text = body.decode("latin-1")
                elif enc == 1:
                    text = body.decode("utf-16")
                elif enc == 3:
                    text = body.decode("utf-8")
                else:
                    text = None  # encodings 2 (UTF-16BE) not emitted here
            except UnicodeDecodeError:
                text = None
            if text is not None:
                out.append(
                    (fid.decode("ascii"), text.rstrip("\x00"))
                )
        pos += hdr_len + fsize
    return out


ID3_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_id", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


def mp3_id3_tags(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """ID3v2 text-frame extraction: one row per (media, frame) — the
    metadata leg of the MP3 story (mm_mp3_frame_walk is the audio
    leg): title/artist/album tags are routing/dedup keys for audio
    corpora.  Both v2.3 (plain frame sizes, Latin-1) and v2.4
    (syncsafe sizes, UTF-8) parse; blobs without a leading tag yield
    no rows (that is data, not an error).  Scale: mapInPandas, zero
    shuffle, O(tag bytes) per blob — audio frames are never touched."""

    def tags(content: bytes) -> list:
        try:
            pairs = parse_id3v2_text_frames(content)
        except (ValueError, IndexError):
            if strict:
                raise
            return []
        return [{"frame_id": fid, "value": val} for fid, val in pairs]

    return blob_map(df, ID3_SCHEMA, tags, keys=["media_id"], args=["content"])


# ---------------------------------------------------------------------------
# WebP (RIFF container; VP8 lossy / VP8L lossless / VP8X extended headers)
# ---------------------------------------------------------------------------

WEBP_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("has_alpha", T.IntegerType()),
        T.StructField("has_anim", T.IntegerType()),
        T.StructField("n_chunks", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def build_webp(
    kind: str,
    width: int,
    height: int,
    *,
    alpha: bool = False,
    anim: bool = False,
    pad_payload: int = 0,
) -> bytes:
    """Assemble a header-valid WebP file from scratch (stdlib only) —
    the fixture-side twin of :func:`scan_webp`, same play as
    build_ogg_page / encode_avi_mjpeg: real container bytes, no
    external encoder.  ``kind`` is 'vp8' (lossy keyframe header),
    'vp8l' (lossless signature) or 'vp8x' (extended: canvas dims +
    feature flags wrapping an inner VP8 chunk).  The pixel payload
    beyond the parsed header is deterministic padding — dimension/flag
    TRIAGE needs valid headers, not a VP8 entropy decoder (decode stays
    out of scope the way mm_mkv_header_scan's codecs do)."""
    if not (1 <= width <= 16383 and 1 <= height <= 16383):
        raise ValueError("WebP dims must be in [1, 16383]")

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + len(payload).to_bytes(4, "little") + payload + pad

    pad = bytes((i * 7 + width) % 256 for i in range(pad_payload))
    if kind == "vp8":
        # keyframe frame tag: type=0|version=0|show=1, 19-bit first
        # partition size (we use the pad length, clamped)
        tag = (1 << 4) | (min(pad_payload, (1 << 19) - 1) << 5)
        body = (
            tag.to_bytes(3, "little")
            + b"\x9d\x01\x2a"
            + (width & 0x3FFF).to_bytes(2, "little")
            + (height & 0x3FFF).to_bytes(2, "little")
            + pad
        )
        chunks = chunk(b"VP8 ", body)
    elif kind == "vp8l":
        bits = (width - 1) | ((height - 1) << 14) | ((1 if alpha else 0) << 28)
        body = b"\x2f" + bits.to_bytes(4, "little") + pad
        chunks = chunk(b"VP8L", body)
    elif kind == "vp8x":
        flags = ((1 << 4) if alpha else 0) | ((1 << 1) if anim else 0)
        body = (
            bytes([flags, 0, 0, 0])
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little")
        )
        inner_tag = (1 << 4) | (min(pad_payload, (1 << 19) - 1) << 5)
        inner = (
            inner_tag.to_bytes(3, "little")
            + b"\x9d\x01\x2a"
            + (width & 0x3FFF).to_bytes(2, "little")
            + (height & 0x3FFF).to_bytes(2, "little")
            + pad
        )
        chunks = chunk(b"VP8X", body) + chunk(b"VP8 ", inner)
    else:
        raise ValueError(f"unknown WebP kind {kind!r}")
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WEBP" + chunks


def scan_webp(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """WebP triage WITHOUT decode — the dominant crawl image container
    after JPEG/PNG: walk the RIFF chunks (even-padded, length-driven
    like every scanner in this family) and parse whichever of the three
    header flavors leads the file:

    - ``VP8 `` lossy: 3-byte frame tag must be a shown keyframe, then
      the 0x9D012A start code and 14-bit width/height;
    - ``VP8L`` lossless: 0x2F signature, then 14+14 bit dims and the
      alpha bit from the packed 32-bit field;
    - ``VP8X`` extended: feature flags (alpha/animation) + 24-bit
      canvas dims; inner chunks are counted but not re-parsed.

    strict=True raises on bad magic, non-keyframe/hidden VP8 frames,
    bad start codes, version != 0, or chunk overruns; strict=False
    yields a null-dims triage row.  Scale: mapInPandas over the media
    table, zero shuffle, O(chunks) per blob."""

    def _scan(content: bytes) -> dict:
        null = {
            "format": None, "width": None, "height": None,
            "has_alpha": None, "has_anim": None, "n_chunks": None,
            "n_bytes": len(content),
        }

        def fail(msg: str) -> dict:
            if strict:
                raise ValueError(msg)
            return null

        if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WEBP":
            return fail("not a RIFF/WEBP file")
        riff_len = int.from_bytes(content[4:8], "little")
        if 8 + riff_len > len(content):
            return fail(f"RIFF size {riff_len} overruns the file")
        end = 8 + riff_len
        pos = 12
        first = None
        n_chunks = 0
        while pos + 8 <= end:
            fourcc = content[pos:pos + 4]
            clen = int.from_bytes(content[pos + 4:pos + 8], "little")
            body_at = pos + 8
            if body_at + clen > end:
                return fail(f"chunk {fourcc!r} overruns the container")
            if first is None:
                first = (fourcc, body_at, clen)
            n_chunks += 1
            pos = body_at + clen + (clen % 2)
        if first is None:
            return fail("no chunks in WEBP container")
        fourcc, at, clen = first
        out = dict(null, n_chunks=n_chunks)
        if fourcc == b"VP8 ":
            if clen < 10:
                return fail("VP8 chunk too short for a keyframe header")
            tag = int.from_bytes(content[at:at + 3], "little")
            if tag & 1:
                return fail("VP8 first frame is not a keyframe")
            if (tag >> 1) & 0x7:
                return fail("unsupported VP8 bitstream version")
            if not (tag >> 4) & 1:
                return fail("VP8 keyframe is not a shown frame")
            if content[at + 3:at + 6] != b"\x9d\x01\x2a":
                return fail("bad VP8 keyframe start code")
            w = int.from_bytes(content[at + 6:at + 8], "little") & 0x3FFF
            h = int.from_bytes(content[at + 8:at + 10], "little") & 0x3FFF
            out.update(format="vp8", width=w, height=h,
                       has_alpha=0, has_anim=0)
        elif fourcc == b"VP8L":
            if clen < 5:
                return fail("VP8L chunk too short")
            if content[at] != 0x2F:
                return fail("bad VP8L signature byte")
            bits = int.from_bytes(content[at + 1:at + 5], "little")
            if (bits >> 29) & 0x7:
                return fail("unsupported VP8L version")
            out.update(
                format="vp8l",
                width=(bits & 0x3FFF) + 1,
                height=((bits >> 14) & 0x3FFF) + 1,
                has_alpha=(bits >> 28) & 1,
                has_anim=0,
            )
        elif fourcc == b"VP8X":
            if clen < 10:
                return fail("VP8X chunk too short")
            flags = content[at]
            out.update(
                format="vp8x",
                width=int.from_bytes(content[at + 4:at + 7], "little") + 1,
                height=int.from_bytes(content[at + 7:at + 10], "little") + 1,
                has_alpha=(flags >> 4) & 1,
                has_anim=(flags >> 1) & 1,
            )
        else:
            return fail(f"unknown leading chunk {fourcc!r}")
        return out

    return blob_map(
        df, WEBP_SCAN_SCHEMA, lambda content: [_scan(content)],
        keys=["media_id"], args=["content"],
    )


# ---------------------------------------------------------------------------
# Audio silence segmentation (energy VAD) — trim-before-train curation
# ---------------------------------------------------------------------------

SILENCE_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_silent", T.IntegerType()),
        T.StructField("lead_silent", T.IntegerType()),
        T.StructField("trail_silent", T.IntegerType()),
        T.StructField("kept_frames", T.IntegerType()),
        T.StructField("kept_ms", T.LongType()),
    ]
)


def build_wav_pcm16(samples: "list[int]", sample_rate: int = 16000) -> bytes:
    """Canonical 44-byte-header mono PCM16 WAV from integer samples —
    the stdlib fixture builder beside encode_wav_ima (which covers the
    ADPCM leg)."""
    data = b"".join(
        int(s).to_bytes(2, "little", signed=True) for s in samples
    )
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")                    # PCM
        + (1).to_bytes(2, "little")                    # mono
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2).to_bytes(4, "little")      # byte rate
        + (2).to_bytes(2, "little")                    # block align
        + (16).to_bytes(2, "little")                   # bits
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def audio_silence_segments(
    df: DataFrame,
    *,
    frame_len: int = 160,
    threshold_abs_sum: int = 1000,
    strict: bool = True,
) -> DataFrame:
    """Energy-VAD silence accounting per clip — the trim step an audio
    training pipeline runs before ASR/codec work (leading/trailing
    silence is storage and GPU time, and duration quotas should count
    SPEECH, not dead air).

    Mono PCM16 WAVs only (the post-transcode normal form; G.711/ADPCM
    legs normalize through decode_audio/resample first). Frames of
    ``frame_len`` samples classify as silent when the frame's EXACT
    integer sum of |sample| falls below ``threshold_abs_sum`` — all
    arithmetic stays in int64, so the oracle replays the classification
    bit-for-bit (no float RMS). A trailing partial frame counts as a
    frame. All-silent clips report lead_silent = n_frames,
    trail_silent = 0, kept 0. ``kept_ms`` uses exact integer math:
    ``kept_frames * frame_len * 1000 // sample_rate``.

    Scale: mapInPandas over the media table, zero shuffle, one
    vectorized |x| reduction per clip."""
    if frame_len < 1:
        raise ValueError(f"frame_len must be >= 1, got {frame_len}")

    def _scan(content: bytes) -> dict:
        null = {
            "sample_rate": None, "n_frames": None, "n_silent": None,
            "lead_silent": None, "trail_silent": None,
            "kept_frames": None, "kept_ms": None,
        }

        def fail(exc: Exception) -> dict:
            if strict:
                raise exc
            return null

        try:
            fmt, data = _wav_chunks(content)
        except ValueError as e:
            return fail(e)
        if fmt["tag"] != 1 or fmt["bits"] != 16 or fmt["channels"] != 1:
            return fail(
                NotImplementedError(
                    "audio_silence_segments expects mono PCM16; got "
                    f"tag={fmt['tag']} bits={fmt['bits']} ch={fmt['channels']}"
                )
            )
        x = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")
        sr = fmt["rate"]
        n = x.shape[0]
        n_frames = (n + frame_len - 1) // frame_len
        sums = np.add.reduceat(
            np.abs(x.astype(np.int64)), np.arange(0, n, frame_len)
        ) if n else np.zeros(0, dtype=np.int64)
        silent = sums < threshold_abs_sum
        n_silent = int(silent.sum())
        lead = int(np.argmax(~silent)) if n_silent < n_frames else n_frames
        trail = (
            int(np.argmax(~silent[::-1])) if n_silent < n_frames else 0
        )
        kept = n_frames - lead - trail
        return {
            "sample_rate": sr,
            "n_frames": n_frames,
            "n_silent": n_silent,
            "lead_silent": lead,
            "trail_silent": trail,
            "kept_frames": kept,
            "kept_ms": kept * frame_len * 1000 // sr if sr else 0,
        }

    return blob_map(
        df, SILENCE_SCAN_SCHEMA, lambda content: [_scan(content)],
        keys=["media_id"], args=["content"],
    )


# ---------------------------------------------------------------------------
# Ogg comment headers (VorbisComment / OpusTags) — the ID3 of the Ogg world
# ---------------------------------------------------------------------------

OGG_COMMENT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("vendor", T.StringType()),
        T.StructField("comment_idx", T.IntegerType()),
        T.StructField("tag", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


def _ogg_stream_packets(
    content: bytes, *, strict: bool, max_packets: int
) -> "list[bytes]":
    """Reassemble the first ``max_packets`` packets of the FIRST (BOS)
    logical stream, honoring lacing continuation across pages (a 255
    lacing value means the packet continues; the next page must carry
    the continuation flag 0x01)."""
    packets: list[bytes] = []
    buf = bytearray()
    bos_serial = None
    pending = False
    for htype, _granule, serial, segs, body in _iter_ogg_pages(content, strict):
        if bos_serial is None:
            if not htype & 0x02:
                if strict:
                    raise ValueError("first Ogg page is not a BOS page")
                return packets
            bos_serial = serial
        if serial != bos_serial:
            continue
        if pending and not htype & 0x01:
            if strict:
                raise ValueError(
                    "Ogg packet continuation lost: expected the "
                    "continued-packet flag on the next page"
                )
            buf.clear()
        pos = 0
        for v in segs:
            buf += body[pos:pos + v]
            pos += v
            if v < 255:
                packets.append(bytes(buf))
                buf.clear()
                if len(packets) >= max_packets:
                    return packets
        pending = bool(segs) and segs[-1] == 255
    return packets


def scan_ogg_comments(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """VorbisComment / OpusTags metadata extraction — the Ogg twin of
    the MP3 ID3v2 parser (parse_id3v2_text_frames): one output row per
    user comment, with the vendor string and the codec it came from.

    The comment header is the SECOND packet of the first logical
    stream (Vorbis I spec 4.2.3 header order; RFC 7845 5 for Opus), so
    this walk exercises real packet reassembly: lacing values of 255
    continue a packet across segments AND pages (the catalog fixture
    plants a >255-byte comment to pin the multi-segment path; the
    cross-page continuation flag is pinned by a hand-laced unit
    test).  Structure per the
    PUBLIC specs: ``0x03 vorbis`` or ``OpusTags`` magic, u32le vendor
    length + vendor, u32le comment count, then per comment u32le
    length + ``KEY=value`` UTF-8; keys report upper-cased (the
    field-name case-insensitivity rule), values verbatim.  The Vorbis
    flavor additionally requires the framing bit after the list.
    strict raises on bad magic / length overruns / a missing '=';
    lenient emits no rows for broken blobs.  Scale: mapInPandas over
    the media table, zero shuffle, O(header bytes) per blob."""

    def _scan(content: bytes) -> "list[dict]":
        def fail(msg: str) -> "list[dict]":
            if strict:
                raise ValueError(msg)
            return []

        pkts = _ogg_stream_packets(content, strict=strict, max_packets=2)
        if len(pkts) < 2:
            return fail("no comment-header packet in the first stream")
        ident, pkt = pkts[0], pkts[1]
        if pkt[:7] == b"\x03vorbis":
            codec, off = "vorbis", 7
        elif pkt[:8] == b"OpusTags":
            codec, off = "opus", 8
        else:
            return fail("second packet is not a comment header")
        if ident[:7] not in (b"\x01vorbis",) and ident[:8] != b"OpusHead":
            return fail("first packet is not an identification header")

        def u32(at: int) -> int:
            if at + 4 > len(pkt):
                raise ValueError("comment header truncated at a length field")
            return int.from_bytes(pkt[at:at + 4], "little")

        try:
            vlen = u32(off)
            off += 4
            if off + vlen > len(pkt):
                raise ValueError("vendor string overruns the packet")
            vendor = pkt[off:off + vlen].decode("utf-8", "replace")
            off += vlen
            n = u32(off)
            off += 4
            rows = []
            for i in range(n):
                clen = u32(off)
                off += 4
                if off + clen > len(pkt):
                    raise ValueError(f"comment {i} overruns the packet")
                raw = pkt[off:off + clen].decode("utf-8", "replace")
                off += clen
                key, sep, val = raw.partition("=")
                if not sep:
                    raise ValueError(f"comment {i} has no '=' separator")
                rows.append(
                    {
                        "codec": codec,
                        "vendor": vendor,
                        "comment_idx": i,
                        "tag": key.upper(),
                        "value": val,
                    }
                )
            if codec == "vorbis":
                if off >= len(pkt) or not pkt[off] & 0x01:
                    raise ValueError("Vorbis comment header framing bit unset")
        except ValueError as e:
            return fail(str(e))
        return rows

    return blob_map(df, OGG_COMMENT_SCHEMA, _scan, keys=["media_id"], args=["content"])


def build_comment_packet(
    codec: str, vendor: str, comments: "list[tuple[str, str]]"
) -> bytes:
    """Assemble a VorbisComment/OpusTags packet — fixture twin of
    :func:`scan_ogg_comments`."""
    magic = b"\x03vorbis" if codec == "vorbis" else b"OpusTags"
    out = bytearray(magic)
    vb = vendor.encode()
    out += len(vb).to_bytes(4, "little") + vb
    out += len(comments).to_bytes(4, "little")
    for key, val in comments:
        c = f"{key}={val}".encode()
        out += len(c).to_bytes(4, "little") + c
    if codec == "vorbis":
        out += b"\x01"
    return bytes(out)


# ---------------------------------------------------------------------------
# Image entropy / contrast — low-information image gating
# ---------------------------------------------------------------------------

IMAGE_ENTROPY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("n_distinct", T.IntegerType()),
        T.StructField("v_min", T.IntegerType()),
        T.StructField("v_max", T.IntegerType()),
        T.StructField("entropy_fp", T.LongType()),
        T.StructField("entropy_bits", T.DoubleType()),
    ]
)


def image_entropy(df: DataFrame, *, strict: bool = False) -> DataFrame:
    """Per-image grayscale Shannon entropy + value-range stats — the
    low-information gate of an image curation pipeline (flat banners,
    single-color placeholders, and near-empty scans all have entropy
    near 0 bits; natural photos sit well above): decode through the
    vendored codecs, reduce to integer luma (channel sum // channels —
    exact, no float weights), histogram, and

        entropy = Σ_bins round(1e9 · c·log2(N/c)/N) / 1e9

    with the PER-BIN fixed-point rounding BEFORE the integer sum, so
    the result is order-free and an oracle replays it bin by bin (the
    same 1e-9 discipline as the unigram-LM log p).  ``entropy_fp``
    carries the exact integer; ``entropy_bits`` is its display-rounded
    double.  Scale: mapInPandas over the media table, zero shuffle, one
    bincount per image."""

    def entropy(content: bytes, meta: dict) -> list:
        px = decode_image(content, meta, strict=strict)
        ch = px.shape[2] if px.ndim == 3 else 1
        luma = px.reshape(-1, ch).astype(np.int64).sum(axis=1) // ch
        n = int(luma.size)
        counts = np.bincount(luma, minlength=256)
        nz = counts[counts > 0].astype(np.float64)
        terms = np.rint(1e9 * nz * np.log2(n / nz) / n).astype(np.int64)
        efp = int(terms.sum())
        return [{
            "n_pixels": n,
            "n_distinct": int((counts > 0).sum()),
            "v_min": int(luma.min()) if n else None,
            "v_max": int(luma.max()) if n else None,
            "entropy_fp": efp,
            "entropy_bits": round(efp / 1e9, 6),
        }]

    return blob_map(
        df, IMAGE_ENTROPY_SCHEMA, entropy,
        keys=["media_id"], args=["content", "meta"],
    )

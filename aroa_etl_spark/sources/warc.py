"""WARC (Web ARChive, ISO 28500 — the Common Crawl container) record
parsing as a Spark source stage.

A WARC file is a concatenation of records::

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...
    \r\n
    <Content-Length bytes of payload>
    \r\n\r\n

Parsing MUST be driven by the ``Content-Length`` header, never by
scanning for the next ``WARC/1.0`` magic: payloads routinely contain
the magic bytes themselves (a crawled page quoting a WARC, a
warcinfo record describing the format).  That makes the parser
imperative per blob — so it runs as an Arrow-batched ``mapInPandas``
kernel over a ``(blob_id, content binary)`` frame: embarrassingly
parallel, no shuffle, one pass per blob, the same shape as the
multimodal decode kernels (operators/multimodal.py).

At 100 TB: blobs arrive via ``spark.read.format("binaryFile")`` (or a
parquet manifest of byte ranges); records explode ~100x but stay
within their input partition until a downstream groupBy keys them —
the parser itself never shuffles.

Reference parity: the reference ingests crawl-style corpora through
notebook unpacking scripts (scripts/etl-container/01_unpacking.ipynb);
this module gives the engine a real container parser for the same
workload, Spark-first.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)

_MAGIC = b"WARC/1.0\r\n"
_GZIP_MAGIC = b"\x1f\x8b"


def split_gzip_members(blob: bytes) -> list[bytes]:
    """Decompress a multi-member gzip stream into its members.

    Common Crawl ships ``.warc.gz`` with each record compressed as an
    INDEPENDENT gzip member back-to-back (ISO 28500 annex; that's what
    makes byte-range record access possible) — ``gzip.decompress``
    handles concatenated members but discards the boundaries, and a
    naive single-member read silently drops everything after record
    one.  This walks the stream member by member via
    ``zlib.decompressobj(wbits=31)`` / ``unused_data``.  Corrupt gzip
    framing raises ValueError (the module error taxonomy)."""
    import zlib

    out: list[bytes] = []
    # memoryview: blob[pos:] on bytes would COPY the whole tail per
    # member — O(members x size) memcpy on a real Common Crawl file
    # with tens of thousands of members
    view = memoryview(blob)
    pos = 0
    n = len(blob)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            data = d.decompress(view[pos:]) + d.flush()
        except zlib.error as e:
            raise ValueError(f"malformed gzip member at byte {pos}: {e}") from None
        if not d.eof:
            raise ValueError(f"truncated gzip member at byte {pos}")
        out.append(data)
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"gzip member at byte {pos} consumed no input")
        pos += consumed
    return out


def parse_warc_blob(blob: bytes) -> list[dict]:
    """Parse one WARC blob into record dicts (header subset + payload
    md5).  Content-Length-driven slicing; malformed structure raises
    ValueError (the module error taxonomy — callers in non-strict
    pipelines catch per blob).

    Accepts plain WARC and ``.warc.gz`` (gzip magic): members are
    decompressed and re-concatenated, which is record-boundary-exact
    for spec-compliant files (one record per member) and still correct
    for multi-record members, since the parse below is
    Content-Length-driven either way."""
    if blob[:2] == _GZIP_MAGIC:
        blob = b"".join(split_gzip_members(blob))
    out: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        if blob[pos:pos + len(_MAGIC)] != _MAGIC:
            raise ValueError(f"malformed WARC: no version line at byte {pos}")
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("malformed WARC: unterminated header block")
        headers: dict[str, str] = {}
        for line in blob[pos + len(_MAGIC):hdr_end].split(b"\r\n"):
            k, _, v = line.partition(b":")
            if not _:
                raise ValueError(f"malformed WARC: header line without colon: {line!r}")
            key = k.strip().lower()
            if not key.isascii():
                # the module taxonomy: ALL malformed structure raises
                # ValueError (a raw UnicodeDecodeError here escaped the
                # per-blob catch of non-strict callers)
                raise ValueError(
                    f"malformed WARC: non-ASCII header name {key[:24]!r}"
                )
            headers[key.decode("ascii")] = v.strip().decode("utf-8", "replace")
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("malformed WARC: missing/bad Content-Length") from None
        body_at = hdr_end + 4
        if body_at + clen > n:
            raise ValueError("malformed WARC: payload extends past end of blob")
        payload = blob[body_at:body_at + clen]
        pos = body_at + clen
        if blob[pos:pos + 4] != b"\r\n\r\n":
            raise ValueError("malformed WARC: record not terminated by CRLFCRLF")
        pos += 4
        out.append(
            {
                "rec_idx": len(out),
                "warc_type": headers.get("warc-type"),
                "target_uri": headers.get("warc-target-uri"),
                "content_length": clen,
                "payload_md5": hashlib.md5(payload).hexdigest(),
            }
        )
    return out


def parse_warc_records(
    df: DataFrame, *, content_col: str = "content", id_col: str = "blob_id"
) -> DataFrame:
    """Explode a (blob_id, content binary) frame into WARC records —
    one output row per record, input partitioning preserved, no
    shuffle."""
    from pyspark.sql import functions as F

    from aroa_etl_spark.operators.multimodal import blob_map

    return blob_map(
        df.select(F.col(id_col).alias("blob_id"), F.col(content_col).alias("content")),
        WARC_RECORD_SCHEMA, parse_warc_blob, keys=["blob_id"], args=["content"],
    )

"""ZIP central-directory triage (APPNOTE.TXT layout) — the container
behind docx/xlsx/pptx, epub, jar, and plain archives in any document
crawl.

The walk is the ARCHIVIST's read order, not the streaming one: locate
the End-Of-Central-Directory record (``PK\\x05\\x06``, scanned back
through the trailing comment zone), jump to the central directory, and
read each ``PK\\x01\\x02`` header — names, compression methods, sizes,
CRCs — WITHOUT touching member data unless integrity verification is
on.  Strict mode cross-checks the EOCD entry count against the walked
headers, verifies every member's local header signature sits at its
recorded offset, and (``verify_crc=True``) inflates each member and
compares zlib.crc32 against the stored value — a flipped bit anywhere
in a member fails loudly.

``detect_zip_kind`` routes the archive by its tell-tale members
(``mimetype`` = epub, ``[Content_Types].xml`` = OOXML/docx family,
``META-INF/MANIFEST.MF`` = jar) — the dispatch step before a
format-specific text extractor.

Spark surface: ``parse_zip_records`` explodes (blob_id, content) into
per-member rows via mapInPandas — zero shuffle, same shape as the
WARC/tar/mbox kernels.  ZIP64 archives (4 GiB+ members/offsets or
65535+ entries — exactly where a crawl-scale pipeline lives) are read
natively: the ZIP64 EOCD locator (``PK\\x06\\x07``) routes to the
ZIP64 EOCD record (``PK\\x06\\x06``) for the 64-bit directory bounds,
and per-header 0xFFFFFFFF sentinels resolve through the 0x0001 extra
field (APPNOTE 4.5.3 field order).  Spanned/multi-disk archives remain
an explicit NotImplementedError boundary.

Scale: O(central directory) per blob for triage; O(member bytes) only
when CRC verification is requested.
"""

from __future__ import annotations

import re
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "ZIP_MEMBER_SCHEMA",
    "OFFICE_TEXT_SCHEMA",
    "parse_zip_central",
    "parse_zip_records",
    "detect_zip_kind",
    "extract_zip_member",
    "xml_to_text",
    "extract_office_text",
]

ZIP_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("member_idx", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("usize", T.LongType()),
        T.StructField("crc_ok", T.IntegerType()),
    ]
)

_EOCD_SIG = b"PK\x05\x06"
_EOCD64_SIG = b"PK\x06\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"
_CEN_SIG = b"PK\x01\x02"
_LOC_SIG = b"PK\x03\x04"
_METHODS = {0: "stored", 8: "deflate"}


def _locate_central(blob: bytes) -> tuple[int, int, int]:
    """(n_total, cd_off, cd_size) from the EOCD, following the ZIP64
    EOCD locator/record (APPNOTE 4.3.14-4.3.15) when one precedes the
    EOCD.  Raises ValueError on corruption, NotImplementedError on
    spanned/multi-disk archives."""
    # EOCD is within the last 22 + 65535 bytes (fixed part + max comment)
    tail_at = max(0, len(blob) - 22 - 65535)
    eocd_at = blob.rfind(_EOCD_SIG, tail_at)
    if eocd_at < 0:
        raise ValueError("zip: no end-of-central-directory record")
    if len(blob) < eocd_at + 22:
        raise ValueError("zip: truncated EOCD record")
    (n_this_disk, n_total, cd_size, cd_off) = struct.unpack(
        "<HHII", blob[eocd_at + 8:eocd_at + 20]
    )
    loc_at = eocd_at - 20
    if loc_at >= 0 and blob[loc_at:loc_at + 4] == _EOCD64_LOC_SIG:
        _disk, eocd64_off, n_disks = struct.unpack(
            "<IQI", blob[loc_at + 4:loc_at + 20]
        )
        if n_disks > 1:
            raise NotImplementedError(
                "zip: spanned/multi-disk archives are not supported"
            )
        if blob[eocd64_off:eocd64_off + 4] != _EOCD64_SIG:
            raise ValueError(
                "zip: ZIP64 EOCD locator does not point at a ZIP64 EOCD "
                "record"
            )
        if eocd64_off + 56 > len(blob):
            raise ValueError("zip: truncated ZIP64 EOCD record")
        (n_this_disk, n_total, cd_size, cd_off) = struct.unpack(
            "<QQQQ", blob[eocd64_off + 24:eocd64_off + 56]
        )
    elif (
        n_this_disk == 0xFFFF
        or n_total == 0xFFFF
        or cd_size == 0xFFFFFFFF
        or cd_off == 0xFFFFFFFF
    ):
        # sentinel fields promise 64-bit values that are not there — a
        # truncated/corrupt ZIP64 archive, not a readable 32-bit one
        raise ValueError(
            "zip: ZIP64 sentinel in the EOCD but no ZIP64 EOCD locator "
            "precedes it"
        )
    if n_this_disk != n_total:
        raise NotImplementedError(
            "zip: spanned/multi-disk archives (entries on this disk != "
            "total entries) are not supported"
        )
    if cd_off + cd_size > len(blob):
        raise ValueError("zip: central directory overruns the file")
    return n_total, cd_off, cd_size


def _zip64_resolve(
    usize: int, csize: int, loc_off: int, extra: bytes
) -> tuple[int, int, int]:
    """Resolve 0xFFFFFFFF central-header sentinels from the 0x0001
    extra field — values appear in APPNOTE 4.5.3 order (usize, csize,
    local-header offset, disk-start) and ONLY for the fields whose
    32-bit slot holds the sentinel."""
    need = [usize == 0xFFFFFFFF, csize == 0xFFFFFFFF, loc_off == 0xFFFFFFFF]
    if not any(need):
        return usize, csize, loc_off
    p = 0
    while p + 4 <= len(extra):
        tag, sz = struct.unpack("<HH", extra[p:p + 4])
        if tag == 0x0001:
            q, end = p + 4, p + 4 + sz
            out = [usize, csize, loc_off]
            for i, sentinel in enumerate(need):
                if sentinel:
                    if q + 8 > end or q + 8 > len(extra):
                        raise ValueError(
                            "zip: ZIP64 extra field too short for its "
                            "sentinel fields"
                        )
                    out[i] = struct.unpack("<Q", extra[q:q + 8])[0]
                    q += 8
            return out[0], out[1], out[2]
        p += 4 + sz
    raise ValueError(
        "zip: ZIP64 sentinel in a central header but no 0x0001 extra field"
    )


def parse_zip_central(
    blob: bytes, *, strict: bool = True, verify_crc: bool = True
) -> list[dict]:
    """Central-directory walk -> member dicts (all but ``blob_id``/
    ``kind``). See module docstring for the verification ladder."""

    def fail(msg: str) -> list[dict]:
        if strict:
            raise ValueError(f"zip: {msg}")
        return []

    try:
        n_disk, cd_off, cd_size = _locate_central(blob)
    except NotImplementedError:
        # named capability boundary (spanned/multi-disk): raise in
        # strict, degrade per-blob in lenient — a fuzzed/poisoned
        # archive must not kill a 100 TB kernel
        if strict:
            raise
        return []
    except ValueError as e:
        return fail(str(e).removeprefix("zip: "))
    out: list[dict] = []
    pos = cd_off
    for idx in range(n_disk):
        if blob[pos:pos + 4] != _CEN_SIG:
            return fail(f"central header {idx} missing its signature")
        if pos + 46 > len(blob):
            return fail(f"central header {idx} overruns the file")
        (
            method, crc, csize, usize, nlen, xlen, clen
        ) = struct.unpack("<H4xIIIHHH", blob[pos + 10:pos + 34])
        loc_off = struct.unpack("<I", blob[pos + 42:pos + 46])[0]
        name = blob[pos + 46:pos + 46 + nlen].decode("utf-8", "replace")
        try:
            usize, csize, loc_off = _zip64_resolve(
                usize, csize, loc_off,
                blob[pos + 46 + nlen:pos + 46 + nlen + xlen],
            )
        except ValueError as e:
            return fail(f"member {name!r}: {str(e).removeprefix('zip: ')}")
        if blob[loc_off:loc_off + 4] != _LOC_SIG:
            return fail(
                f"member {name!r}: local header offset {loc_off} does not "
                "hold a local-file signature (corrupt offset)"
            )
        crc_ok = 1
        if verify_crc:
            # local header may restate lengths; use the central values
            if loc_off + 30 > len(blob):
                return fail(f"member {name!r}: local header overruns the file")
            lnlen, lxlen = struct.unpack(
                "<HH", blob[loc_off + 26:loc_off + 30]
            )
            data_at = loc_off + 30 + lnlen + lxlen
            raw = blob[data_at:data_at + csize]
            # per-member degradation in lenient mode: ONE bad member
            # must not discard the archive's other (parseable) rows —
            # the same contract as a CRC mismatch, which flags crc_ok=0
            # and keeps walking
            data = None
            if method == 0:
                data = raw
            elif method == 8:
                try:
                    data = zlib.decompress(raw, -15)
                except zlib.error:
                    if strict:
                        return fail(f"member {name!r}: deflate stream corrupt")
                    crc_ok = 0
            else:
                if strict:
                    return fail(
                        f"member {name!r}: unsupported compression method "
                        f"{method}"
                    )
                crc_ok = 0
            if data is not None and (
                zlib.crc32(data) & 0xFFFFFFFF != crc or len(data) != usize
            ):
                if strict:
                    raise ValueError(
                        f"zip: member {name!r} failed CRC/size verification"
                    )
                crc_ok = 0
        out.append(
            {
                "member_idx": idx,
                "name": name,
                "method": _METHODS.get(method, str(method)),
                "usize": usize,
                "crc_ok": crc_ok,
            }
        )
        pos += 46 + nlen + xlen + clen
    # the loop walks exactly n_disk headers, so the real integrity
    # question is the converse: a central directory holding MORE
    # headers than the EOCD declares (truncated count) must not be
    # silently half-read
    if strict and blob[pos:pos + 4] == _CEN_SIG:
        return fail(
            "central directory holds more headers than the EOCD declares"
        )
    return out


def detect_zip_kind(names: list[str]) -> str:
    """Route an archive by tell-tale members — epub/docx-family/jar,
    'zip' otherwise."""
    ns = set(names)
    if "mimetype" in ns:
        return "epub"
    if "[Content_Types].xml" in ns:
        return "docx"
    if "META-INF/MANIFEST.MF" in ns:
        return "jar"
    return "zip"


def parse_zip_records(
    df: DataFrame,
    *,
    content_col: str = "content",
    id_col: str = "blob_id",
    strict: bool = True,
    verify_crc: bool = True,
) -> DataFrame:
    """Explode (blob_id, content binary) into per-member rows plus the
    archive kind — zero shuffle."""
    from pyspark.sql import functions as F

    from aroa_etl_spark.operators.multimodal import blob_map

    def members(content: bytes) -> list:
        ms = parse_zip_central(content, strict=strict, verify_crc=verify_crc)
        kind = detect_zip_kind([m["name"] for m in ms])
        return [{**m, "kind": kind} for m in ms]

    return blob_map(
        df.select(F.col(id_col).alias("blob_id"), F.col(content_col).alias("content")),
        ZIP_MEMBER_SCHEMA, members, keys=["blob_id"], args=["content"],
    )


def extract_zip_member(blob: bytes, name: str) -> bytes:
    """Decompress one member by name (stored or deflate) — the random-
    access read the central directory exists for. Raises KeyError when
    absent; run the verify_crc triage pass first when integrity
    matters (this read trusts the recorded sizes).  Shares the ZIP64-
    aware directory locator with parse_zip_central."""
    _n, cd_off, _sz = _locate_central(blob)
    p = cd_off
    while blob[p:p + 4] == _CEN_SIG:
        method, csize, usize, nlen, xlen, clen = struct.unpack(
            "<H8xIIHHH", blob[p + 10:p + 34]
        )
        loc = struct.unpack("<I", blob[p + 42:p + 46])[0]
        nm = blob[p + 46:p + 46 + nlen].decode("utf-8", "replace")
        if nm == name:
            _u, csize, loc = _zip64_resolve(
                usize, csize, loc, blob[p + 46 + nlen:p + 46 + nlen + xlen]
            )
            if loc + 30 > len(blob):
                raise ValueError(
                    f"zip: member {name!r}: local header overruns the file"
                )
            lnlen, lxlen = struct.unpack("<HH", blob[loc + 26:loc + 30])
            at = loc + 30 + lnlen + lxlen
            raw = blob[at:at + csize]
            if method == 0:
                return raw
            if method == 8:
                return zlib.decompress(raw, -15)
            raise NotImplementedError(
                f"zip: member {name!r} uses unsupported method {method}"
            )
        p += 46 + nlen + xlen + clen
    raise KeyError(f"zip member not found: {name!r}")


OFFICE_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("member", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
    ]
)

_BLOCK_TAGS = re.compile(r"</(?:p|h[1-6]|w:p|div|li)>|<br\s*/?>")
_ANY_TAG = re.compile(r"<[^>]*>")


def xml_to_text(xml: str) -> str:
    """Markup -> text with the block-boundary discipline a curation
    pipeline needs (concatenating '<p>a</p><p>b</p>' into 'ab' would
    corrupt sentence statistics): closing block tags become newlines,
    every other tag drops, the five XML core entities decode (&amp;
    LAST so '&amp;lt;' cannot double-decode), newline runs collapse,
    outer whitespace strips."""
    s = _BLOCK_TAGS.sub("\n", xml)
    s = _ANY_TAG.sub("", s)
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        s = s.replace(ent, ch)
    s = re.sub(r"\n{2,}", "\n", s)
    return s.strip()


def extract_office_text(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """Text extraction for the two big office containers, composed on
    the ZIP layer: docx reads ``word/document.xml`` (w:t runs, w:p
    paragraph boundaries), epub reads every ``.xhtml``/``.html``
    member in name order — one output row per extracted member.
    Plain/jar archives yield no rows (strict raises: they were routed
    here by mistake). Scale: zero shuffle, O(member bytes) for the
    text members only."""
    from aroa_etl_spark.operators.multimodal import blob_map

    def rows_for(blob: bytes) -> "list[dict]":
        # lenient mode must survive ANY bad blob (a corrupt archive, a
        # docx missing its document part) — one poisoned file in a
        # crawl must not kill the job, so the whole per-blob path is
        # gated, not just the kind routing
        try:
            members = parse_zip_central(blob, strict=True, verify_crc=False)
            names = [m["name"] for m in members]
            kind = detect_zip_kind(names)
            if kind == "docx":
                xml = extract_zip_member(blob, "word/document.xml").decode(
                    "utf-8", "replace"
                )
                text = xml_to_text(xml)
                return [{"kind": kind, "member": "word/document.xml",
                         "text": text, "n_chars": len(text)}]
            if kind == "epub":
                out = []
                for n in sorted(names):
                    if n.lower().endswith((".xhtml", ".html")):
                        text = xml_to_text(
                            extract_zip_member(blob, n).decode(
                                "utf-8", "replace"
                            )
                        )
                        out.append({"kind": kind, "member": n, "text": text,
                                    "n_chars": len(text)})
                return out
            raise ValueError(
                f"extract_office_text: archive kind {kind!r} has no text "
                "extraction rule"
            )
        except (ValueError, KeyError, NotImplementedError, struct.error):
            if strict:
                raise
            return []

    return blob_map(
        df, OFFICE_TEXT_SCHEMA, rows_for, keys=["blob_id"], args=["content"]
    )

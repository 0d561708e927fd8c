"""PDF structure triage WITHOUT rendering (ISO 32000 container walk).

PDFs dominate document crawls, and the triage questions a curation
pipeline asks — is it well-formed, how many pages, is it encrypted,
which spec version — are answerable from the container skeleton alone:
the ``%PDF-x.y`` header, the cross-reference table the ``startxref``
pointer locates, the trailer dictionary, and the ``/Type /Pages`` node.
The triage scanner never decodes content streams; the companion
``extract_pdf_text`` reads them (plain or FlateDecode) for the text
payload, still without fonts or rendering.

The walk is OFFSET-DRIVEN like every scanner in this family (WARC
Content-Length, MP4 box sizes, Ogg lacing): ``startxref`` gives the
xref position, the xref section enumerates the objects, and STRICT
mode verifies that every in-use entry actually lands on its ``N 0
obj`` header (or, for compressed objects, that the object stream's
header names the object at the recorded index) — a single corrupted
offset (bit rot, truncated upload) fails loudly instead of producing
a plausible-looking row.

Both PDF 1.5+ cross-reference layouts parse —

- classic tables, including multi-subsection bodies and ``/Prev``
  chains from incremental updates (newest section wins per object);
- cross-reference STREAMS (ISO 32000 §7.5.8): the ``/Type /XRef``
  stream object the ``startxref`` points at, its ``/W``-described
  big-endian fields decoded after FlateDecode and PNG predictor
  reversal (§7.4.4.4 — real writers emit ``/Predictor 12``; all five
  PNG row filters are implemented), ``/Index`` subsections, and
  ``/Prev`` chains;
- OBJECT streams (§7.5.7): type-2 entries resolve through the
  ``/Type /ObjStm`` header (N pairs of number+offset after /First),
  so catalogs/page dicts compressed into object streams triage and
  extract like direct objects.

Object lookup for text extraction is XREF-DRIVEN: bodies are sliced
at their recorded offsets instead of regex-scanned across the whole
blob, so compressed-stream bytes that happen to contain ``N 0 obj``
can never shadow a real object.

Encryption and CID text are handled too:

- ENCRYPTION (ISO 32000 §7.6 standard security handler, via
  operators/pdfcrypt.py): the triage scanner authenticates the EMPTY
  user password (the dominant crawl case) against /O //U (/UE for V5)
  and reports a ``readable`` flag; the text extractor decrypts
  strings-in-streams, content streams, ToUnicode CMaps, and object
  streams with their per-object keys — RC4 (V1/V2/R2-4), AES-128-CBC
  (/AESV2), AES-256-CBC (/AESV3 R5/R6 incl. the Algorithm 2.B
  hardened hash).  Non-empty passwords stay a named boundary: triage
  reports ``readable=0`` (that is data), extraction raises by name.
- Type0/CID TEXT (§9.10.3): show strings under an Identity-H Type0
  font decode as 2-byte codes through the font's /ToUnicode CMap
  (bfchar + bfrange, multi-unit UTF-16BE dsts incl. surrogate pairs),
  with ``Tf`` font switching tracked sequentially.  PREDEFINED CMaps
  of the Uni*-UCS2/UTF16 families (UniGB-UCS2-H and friends — the CJK
  crawl case) decode too: their codes are UTF-16BE by the public CMap
  definition, so text extracts with no registry tables.
  Identity-H (or any other predefined CMap) WITHOUT /ToUnicode stays
  a named boundary — those codes are bare CIDs.

``build_pdf`` / ``build_pdf_with_text`` are the stdlib fixture
writers computing real offsets; both emit the classic layout AND the
xref-stream/objstm layout (``xref_stream=True``) so the catalog
oracle replays every field from construction arithmetic across both.

Both operators are per-blob kernels run by
:func:`aroa_etl_spark.operators.multimodal.blob_map` (see it for the
batch and memo contract): zero shuffle, O(header+xref) bytes per blob
for triage — content streams are only read by the text extractor.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from aroa_etl_spark.operators.multimodal import blob_map

__all__ = [
    "PDF_SCAN_SCHEMA",
    "PDF_TEXT_SCHEMA",
    "build_pdf",
    "build_pdf_with_text",
    "scan_pdf_structure",
    "extract_pdf_text",
]

PDF_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("version", T.StringType()),
        T.StructField("xref_kind", T.StringType()),
        T.StructField("n_objects", T.IntegerType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("encrypted", T.IntegerType()),
        T.StructField("readable", T.IntegerType()),
        T.StructField("xref_ok", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

_OBJ_RE = re.compile(rb"(\d+) 0 obj")


# --- xref / object-stream infrastructure ------------------------------------

def _png_unpredict(data: bytes, predictor: int, columns: int) -> bytes:
    """Reverse the PNG row predictors (ISO 32000 §7.4.4.4 delegates to
    RFC 2083): each row is one filter byte + ``columns`` data bytes
    (xref streams use Colors=1/BitsPerComponent=8, so bpp=1).  All five
    filters implemented; real PDF writers emit /Predictor 12 (Up), but
    the spec allows any per-row filter once predictors >= 10 are on."""
    if predictor == 1:
        return data
    if predictor == 2:
        # TIFF horizontal differencing (8-bit, Colors=1): each byte adds
        # its left neighbor within the row — no per-row filter byte
        if columns < 1 or len(data) % columns:
            raise ValueError("pdf: TIFF predictor data not whole rows")
        out = bytearray(data)
        for r in range(0, len(out), columns):
            for i in range(1, columns):
                out[r + i] = (out[r + i] + out[r + i - 1]) & 0xFF
        return bytes(out)
    if predictor < 10:
        raise NotImplementedError(f"pdf: TIFF predictor {predictor}")
    stride = columns + 1
    if len(data) % stride:
        raise ValueError("pdf: predictor data is not a whole number of rows")
    out = bytearray()
    prev = bytearray(columns)
    for at in range(0, len(data), stride):
        ft = data[at]
        row = bytearray(data[at + 1:at + stride])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"pdf: unknown PNG row filter {ft}")
        out += row
        prev = row
    return bytes(out)


def _dict_int(d: bytes, key: bytes):
    m = re.search(rb"%s\s+(\d+)" % re.escape(key), d)
    return int(m.group(1)) if m else None


def _dict_arr(d: bytes, key: bytes):
    m = re.search(rb"%s\s*\[([^\]]*)\]" % re.escape(key), d)
    return [int(x) for x in re.findall(rb"\d+", m.group(1))] if m else None


def _stream_payload(obj_body: bytes, decrypt=None) -> tuple[bytes, bytes]:
    """(dict bytes, decoded stream data) of a stream object's body.
    The dict ends at the LAST '>>' before the ``stream`` keyword
    (nested /DecodeParms dicts sit inside), data length comes from
    /Length, and /FlateDecode + PNG predictors are reversed here.
    ``decrypt`` (already bound to the object's key) applies to the raw
    bytes BEFORE filters — the spec's encrypt-after-compress order."""
    import zlib

    m = re.match(rb"(?s)\s*<<(.*)>>\s*stream\r?\n", obj_body)
    if not m:
        raise ValueError("pdf: stream object without a dict+stream header")
    d = m.group(1)
    length = _dict_int(d, b"/Length")
    if length is None:
        raise ValueError("pdf: stream without /Length")
    data = obj_body[m.end():m.end() + length]
    if len(data) != length:
        raise ValueError("pdf: stream data shorter than its /Length")
    if decrypt is not None:
        data = decrypt(data)
    filt = re.search(rb"/Filter\s*/(\w+)", d)
    if filt:
        if filt.group(1) != b"FlateDecode":
            raise NotImplementedError(
                f"pdf: stream filter /{filt.group(1).decode()} is not "
                "supported (FlateDecode only)"
            )
        try:
            data = zlib.decompress(data)
        except zlib.error as e:
            raise ValueError(
                f"pdf: FlateDecode stream failed to inflate: {e}"
            ) from None
        pred = _dict_int(d, b"/Predictor")
        if pred and pred != 1:
            cols = _dict_int(d, b"/Columns") or 1
            data = _png_unpredict(data, pred, cols)
    return d, data


def _parse_xref_at(content: bytes, at: int):
    """One xref section at ``at`` -> (entries, trailer_dict_bytes, kind).
    entries: obj_num -> ('n', offset, gen) | ('f',) | ('s', objstm_num,
    idx).  The in-use generation rides along because RC4/AES-128 object
    keys are salted with (num, gen) — hardcoding gen 0 silently
    mis-decrypts a gen>0 object (objects inside an ObjStm are gen 0 by
    spec).  Classic tables read every subsection up
    to the ``trailer`` keyword; xref streams decode /W-described
    big-endian rows over /Index."""
    if content[at:at + 4] == b"xref":
        entries: dict = {}
        pos = at + 4
        while True:
            sub = re.match(rb"\s*(\d+) (\d+)\s+", content[pos:pos + 64])
            if not sub:
                break
            first, count = int(sub.group(1)), int(sub.group(2))
            pos += sub.end()
            for i in range(count):
                raw = content[pos + 20 * i:pos + 20 * (i + 1)]
                e = re.match(rb"(\d{10}) (\d{5}) ([nf])", raw)
                if not e:
                    raise ValueError(f"pdf: malformed xref entry {first + i}")
                num = first + i
                if num not in entries:
                    entries[num] = (
                        ("n", int(e.group(1)), int(e.group(2)))
                        if e.group(3) == b"n" else ("f",)
                    )
            pos += 20 * count
        tm = re.match(rb"\s*trailer\s*<<(.*?)>>\s*startxref", content[pos:],
                      re.DOTALL)
        if not tm:
            raise ValueError("pdf: classic xref without a trailer dict")
        return entries, tm.group(1), "table"
    om = _OBJ_RE.match(content[at:at + 32])
    if not om:
        raise ValueError(
            f"pdf: startxref/Prev does not point at an xref table or "
            f"object ({at})"
        )
    end = content.find(b"endobj", at)
    body = content[at + om.end():end if end >= 0 else len(content)]
    d, data = _stream_payload(body)
    if not re.search(rb"/Type\s*/XRef\b", d):
        raise ValueError("pdf: startxref object is not a /Type /XRef stream")
    w = _dict_arr(d, b"/W")
    size = _dict_int(d, b"/Size")
    if not w or size is None:
        raise ValueError("pdf: xref stream without /W or /Size")
    index = _dict_arr(d, b"/Index") or [0, size]
    row_len = sum(w)
    entries = {}
    pos = 0
    for s in range(0, len(index), 2):
        first, count = index[s], index[s + 1]
        for i in range(count):
            row = data[pos:pos + row_len]
            if len(row) < row_len:
                raise ValueError("pdf: xref stream data shorter than /Index")
            pos += row_len
            fields = []
            q = 0
            for width in w:
                fields.append(
                    int.from_bytes(row[q:q + width], "big") if width else None
                )
                q += width
            # width-0 type field defaults to 1 (spec table 17)
            typ = fields[0] if w[0] else 1
            num = first + i
            if num in entries:
                continue
            if typ == 0:
                entries[num] = ("f",)
            elif typ == 1:
                # third /W field of a type-1 row is the generation
                # (width 0 defaults it to 0, spec table 18)
                entries[num] = (
                    "n", fields[1],
                    fields[2] if len(fields) > 2 and fields[2] else 0,
                )
            elif typ == 2:
                entries[num] = ("s", fields[1], fields[2])
            else:
                raise ValueError(f"pdf: unknown xref stream entry type {typ}")
    return entries, d, "stream"


def _load_xref(content: bytes):
    """Follow startxref and the /Prev chain; the NEWEST section wins
    per object (incremental-update semantics).  Returns (entries,
    concatenated trailer/dict bytes, kind of the newest section)."""
    # the LAST startxref tail governs: an incrementally-updated file
    # carries one tail per revision and the newest is authoritative
    tails = list(re.finditer(rb"startxref\s+(\d+)\s+%%EOF", content[-256:]))
    if not tails:
        raise ValueError("pdf: no startxref/%%EOF tail")
    at = int(tails[-1].group(1))
    if at >= len(content):
        raise ValueError(f"pdf: startxref offset {at} beyond file end")
    entries: dict = {}
    trailers = []
    kind0 = None
    seen: set = set()
    while at is not None and at not in seen:
        seen.add(at)
        e, trailer, kind = _parse_xref_at(content, at)
        kind0 = kind0 or kind
        for num, v in e.items():
            entries.setdefault(num, v)
        trailers.append(trailer)
        pm = re.search(rb"/Prev\s+(\d+)", trailer)
        at = int(pm.group(1)) if pm else None
    return entries, b" ".join(trailers), kind0


def _parse_objstm(content: bytes, entries: dict, stm_num: int, dec=None) -> list:
    """Decode a /Type /ObjStm object -> [(obj_num, body_bytes), ...] in
    stream order (§7.5.7: N pairs of number+offset, bodies after
    /First).  ``dec(num, data)`` decrypts with the stream object's own
    key when the document is encrypted (xref streams never are;
    object streams are)."""
    body = _direct_object_body(content, entries, stm_num)
    d, data = _stream_payload(
        body, (lambda raw: dec(stm_num, raw)) if dec else None
    )
    if not re.search(rb"/Type\s*/ObjStm\b", d):
        raise ValueError(f"pdf: object {stm_num} is not a /Type /ObjStm")
    n = _dict_int(d, b"/N")
    first = _dict_int(d, b"/First")
    if n is None or first is None:
        raise ValueError("pdf: ObjStm without /N or /First")
    header = data[:first]
    pairs = [int(x) for x in re.findall(rb"\d+", header)]
    if len(pairs) < 2 * n:
        raise ValueError("pdf: ObjStm header shorter than /N pairs")
    out = []
    for i in range(n):
        num, off = pairs[2 * i], pairs[2 * i + 1]
        nxt = pairs[2 * i + 3] if i + 1 < n else len(data) - first
        out.append((num, data[first + off:first + nxt]))
    return out


def _direct_object_body(content: bytes, entries: dict, num: int) -> bytes:
    """Body of a DIRECT (type-1) object, sliced at its xref offset and
    header-verified — never a whole-blob regex scan."""
    v = entries.get(num)
    if v is None or v[0] != "n":
        raise ValueError(f"pdf: object {num} is not a direct xref entry")
    off = v[1]
    m = _OBJ_RE.match(content[off:off + 32])
    if not m or int(m.group(1)) != num:
        raise ValueError(
            f"pdf: xref offset {off} does not hold object {num}'s header "
            "(corrupt offset)"
        )
    end = content.find(b"endobj", off)
    return content[off + m.end():end if end >= 0 else len(content)]


def _object_bytes(
    content: bytes, entries: dict, num: int, objstm_cache: dict, dec=None
) -> bytes:
    """Object body by number — direct objects slice at their offset,
    type-2 entries resolve through their (cached) object stream."""
    v = entries.get(num)
    if v is None or v[0] == "f":
        raise ValueError(f"pdf: object {num} not in the xref")
    if v[0] == "n":
        return _direct_object_body(content, entries, num)
    stm_num, idx = v[1], v[2]
    if stm_num not in objstm_cache:
        objstm_cache[stm_num] = _parse_objstm(content, entries, stm_num, dec)
    objs = objstm_cache[stm_num]
    if idx >= len(objs):
        raise ValueError(
            f"pdf: object {num}: index {idx} beyond ObjStm {stm_num}'s /N"
        )
    got_num, body = objs[idx]
    if got_num != num:
        raise ValueError(
            f"pdf: ObjStm {stm_num}[{idx}] holds object {got_num}, "
            f"xref said {num}"
        )
    return body


# --- encryption (ISO 32000 standard security handler) -----------------------

_OCTAL_RE = re.compile(rb"\\([0-7]{1,3})")
_CTRL_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_string_bytes(raw: bytes) -> bytes:
    """Literal-string body -> raw bytes with the FULL §7.3.4.2 escape
    set (named controls, up-to-3-digit octal, line continuations) —
    the crypt material in /O //U strings is binary, so every escape
    form matters."""
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        c = raw[i:i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1:i + 2]
        if nxt in _CTRL_ESCAPES:
            out += _CTRL_ESCAPES[nxt]
            i += 2
        elif nxt and nxt in b"01234567":
            m = _OCTAL_RE.match(raw, i)
            out.append(int(m.group(1), 8) & 0xFF)
            i = m.end()
        elif nxt in (b"\n", b"\r"):  # line continuation
            i += 2
            if nxt == b"\r" and raw[i:i + 1] == b"\n":
                i += 1
        else:  # lone backslash before any other char drops (spec)
            out += nxt
            i += 2
    return bytes(out)


def _dict_string(d: bytes, key: bytes):
    """A dict value that is a PDF string, in either form, as raw
    bytes: ``/Key <hex>`` or ``/Key (literal)``."""
    m = re.search(
        rb"%s\s*(?:<([0-9A-Fa-f\s]*)>|\(((?:[^()\\]|\\.)*)\))"
        % re.escape(key), d
    )
    if not m:
        return None
    if m.group(1) is not None:
        h = re.sub(rb"\s+", b"", m.group(1))
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii"))
    return _pdf_string_bytes(m.group(2))


def _encryption_context(content: bytes, entries: dict, trailer: bytes):
    """Resolve the trailer's /Encrypt dict and try the EMPTY user
    password.  Returns None (not encrypted), a decryptor context dict
    {'key', 'aes', 'v'} on success, or 'locked' when a real password
    is required.  Non-/Standard handlers raise NotImplementedError by
    name."""
    from aroa_etl_spark.operators.pdfcrypt import (
        authenticate_empty_user_password,
    )

    em = re.search(rb"/Encrypt\s+(\d+)\s+0\s+R", trailer)
    if not em:
        if re.search(rb"/Encrypt\b", trailer):
            raise ValueError("pdf: /Encrypt is not an indirect reference")
        return None
    # the encryption dict itself is never inside an object stream
    body = _direct_object_body(content, entries, int(em.group(1)))
    fm = re.search(rb"/Filter\s*/(\w+)", body)
    if not fm or fm.group(1) != b"Standard":
        raise NotImplementedError(
            f"pdf: security handler /{(fm.group(1) if fm else b'?').decode()}"
            " is not supported (the /Standard handler is)"
        )
    v = _dict_int(body, b"/V") or 0
    r = _dict_int(body, b"/R")
    if r is None:
        raise ValueError("pdf: /Encrypt dict without /R")
    pm = re.search(rb"/P\s+(-?\d+)", body)
    enc = {
        "v": v,
        "r": r,
        "length": _dict_int(body, b"/Length") or 40,
        "p": int(pm.group(1)) if pm else -1,
        "o": _dict_string(body, b"/O") or b"",
        "u": _dict_string(body, b"/U") or b"",
        "oe": _dict_string(body, b"/OE"),
        "ue": _dict_string(body, b"/UE"),
        "encrypt_metadata": not re.search(
            rb"/EncryptMetadata\s+false", body
        ),
    }
    idm = re.search(
        rb"/ID\s*\[\s*(?:<([0-9A-Fa-f\s]*)>|\(((?:[^()\\]|\\.)*)\))",
        trailer,
    )
    if idm and idm.group(1) is not None:
        h = re.sub(rb"\s+", b"", idm.group(1))
        id0 = bytes.fromhex(h.decode("ascii") + ("0" if len(h) % 2 else ""))
    elif idm:
        id0 = _pdf_string_bytes(idm.group(2))
    else:
        id0 = b""
    key = authenticate_empty_user_password(enc, id0)
    if key is None:
        return "locked"
    # V4/V5 name the cipher via crypt filters; V1/V2 are RC4 by definition
    aes = bool(re.search(rb"/CFM\s*/AESV[23]\b", body)) if v >= 4 else False
    return {"key": key, "aes": aes, "v": v}


def _generation_map(entries: dict) -> "dict[int, int]":
    """obj_num -> generation for the in-use direct entries whose gen is
    non-zero (the only ones whose RC4/AES-128 object key differs from
    the gen-0 default; ObjStm-packed objects are gen 0 by spec)."""
    return {
        num: v[2]
        for num, v in entries.items()
        if v[0] == "n" and len(v) > 2 and v[2]
    }


def _make_decryptor(ctx, entries: "dict | None" = None):
    """(obj_num, raw) -> plaintext decryptor bound to a context from
    ``_encryption_context``.  RC4/AES-128 object keys are salted with
    (num, gen): the per-object generation from the xref rides along via
    ``entries`` (a hardcoded gen 0 silently mis-decrypts gen>0
    objects; V5 is unaffected, its file key is object-independent)."""
    from aroa_etl_spark.operators.pdfcrypt import decrypt_data, object_key

    gens = _generation_map(entries) if entries else {}

    def dec(num: int, data: bytes) -> bytes:
        key = object_key(
            ctx["key"], num, gens.get(num, 0), aes=ctx["aes"], v=ctx["v"]
        )
        return decrypt_data(data, key, aes=ctx["aes"])

    return dec


# --- Type0/CID text via ToUnicode CMaps --------------------------------------

_MAX_CMAP_ENTRIES = 1 << 20  # corrupt-range guard


def _parse_tounicode(data: bytes) -> "dict[int, str]":
    """/ToUnicode CMap stream -> {source code -> unicode string}
    (§9.10.3): ``bfchar`` pairs and ``bfrange`` runs, the range dst
    incrementing in its last code unit; dst hex is UTF-16BE and may
    span multiple units (surrogate pairs)."""
    cmap: dict[int, str] = {}

    def dst_text(h: bytes) -> str:
        h = re.sub(rb"\s+", b"", h)
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii")).decode("utf-16-be", "replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        for pm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f\s]*)>", m.group(1)
        ):
            cmap[int(pm.group(1), 16)] = dst_text(pm.group(2))
            if len(cmap) > _MAX_CMAP_ENTRIES:
                raise ValueError("pdf: ToUnicode CMap too large")
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        for rm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(?:<([0-9A-Fa-f]*)>|\[((?:\s*<[0-9A-Fa-f\s]*>)*)\s*\])",
            m.group(1),
        ):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            if hi < lo or hi - lo + len(cmap) > _MAX_CMAP_ENTRIES:
                raise ValueError("pdf: ToUnicode bfrange out of bounds")
            if rm.group(3) is not None:
                h = rm.group(3)
                # at least one UTF-16 code unit (applying max() before
                # //2 floors 2-digit dsts to width 1 and mis-decodes
                # the whole range)
                width = max(2, (len(h) + len(h) % 2) // 2)
                base = int(h, 16) if h else 0
                for c in range(lo, hi + 1):
                    try:
                        raw = (base + c - lo).to_bytes(width, "big")
                    except OverflowError:
                        raise ValueError(
                            "pdf: bfrange increment overflows its dst "
                            "width"
                        ) from None
                    cmap[c] = raw.decode("utf-16-be", "replace")
            else:
                dsts = re.findall(rb"<([0-9A-Fa-f]*)>", rm.group(4))
                for c, h in zip(range(lo, hi + 1), dsts):
                    cmap[c] = dst_text(h)
    return cmap


def _decode_cid_string(raw: bytes, cmap: "dict[int, str]") -> str:
    """2-byte (Identity-H) show-string bytes through a ToUnicode map;
    unmapped codes and a dangling odd byte yield U+FFFD (the standard
    extractor convention — real-world ToUnicode maps are routinely
    incomplete)."""
    out = []
    for i in range(0, len(raw) - 1, 2):
        out.append(cmap.get((raw[i] << 8) | raw[i + 1], "�"))
    if len(raw) % 2:
        out.append("�")
    return "".join(out)


def _balanced_dict(body: bytes, start: int) -> bytes:
    """The ``<< .. >>`` dict starting at ``start``, nesting-aware."""
    depth = 0
    i = start
    n = len(body)
    while i < n - 1:
        two = body[i:i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    raise ValueError("pdf: unbalanced dictionary")


def _resolve_dict_value(content, entries, body, key, cache, dec):
    """``/Key N 0 R`` (resolved) or inline ``/Key << .. >>`` -> bytes,
    None when absent."""
    m = re.search(key + rb"\s+(\d+)\s+0\s+R", body)
    if m:
        return _object_bytes(content, entries, int(m.group(1)), cache, dec)
    m = re.search(key + rb"\s*(?=<<)", body)
    if m:
        return _balanced_dict(body, m.end())
    return None


def _page_fonts(content, entries, page_body, cache, dec):
    """Font name -> ToUnicode cmap (Type0 fonts) or None (simple
    fonts) for a page's /Resources /Font dict.  A Type0 font WITHOUT
    a /ToUnicode CMap stays a named boundary: its codes are glyph
    indices with no text meaning outside the font file."""
    res = _resolve_dict_value(
        content, entries, page_body, rb"/Resources", cache, dec
    )
    if res is None:
        return {}
    fdict = _resolve_dict_value(content, entries, res, rb"/Font", cache, dec)
    if fdict is None:
        return {}
    fonts: dict = {}
    for fm in re.finditer(rb"/(\w+)\s+(\d+)\s+0\s+R", fdict):
        name, ref = fm.group(1), int(fm.group(2))
        try:
            fbody = _object_bytes(content, entries, ref, cache, dec)
        except ValueError:
            continue  # dangling font ref: treat as simple
        if not re.search(rb"/Subtype\s*/Type0\b", fbody):
            fonts[name] = None
            continue
        tum = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R", fbody)
        if not tum:
            # predefined CMaps (§9.7.5): the Uni*-UCS2-* /
            # Uni*-UTF16-* families (UniGB-UCS2-H, UniJIS-UTF16-H, …,
            # the common CJK crawl case) map FROM Unicode — their
            # show-string codes ARE UTF-16BE text, no registry tables
            # needed.  Identity-H without ToUnicode and every other
            # predefined CMap stay the named boundary: those codes are
            # CIDs/glyph indices with no text meaning outside the font.
            em = re.search(rb"/Encoding\s*/([\w-]+)", fbody)
            enc = em.group(1).decode("latin-1") if em else "?"
            if em and re.fullmatch(
                rb"Uni[A-Za-z0-9]+-(?:UCS2|UTF16)-[HV]", em.group(1)
            ):
                fonts[name] = "utf16"
                continue
            raise NotImplementedError(
                f"pdf: Type0/CID font with /Encoding /{enc} and no "
                "/ToUnicode CMap — codes are bare CIDs (named boundary; "
                "Uni*-UCS2/UTF16 predefined CMaps decode)"
            )
        tu_num = int(tum.group(1))
        tu_body = _object_bytes(content, entries, tu_num, cache, dec)
        _d, tu_data = _stream_payload(
            tu_body, (lambda raw: dec(tu_num, raw)) if dec else None
        )
        fonts[name] = _parse_tounicode(tu_data)
    return fonts


_CONTENT_TOK = re.compile(
    rb"/(\w+)\s+[0-9.+-]+\s+Tf"
    rb"|(?:\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>)\s*Tj"
    rb"|\[((?:\((?:[^()\\]|\\.)*\)|[^\]()\\]|\\.)*)\]\s*TJ"
)


def _shown_parts_with_fonts(data: bytes, fonts: dict) -> "list[str]":
    """Sequential content-stream walk tracking the ``Tf`` font state,
    used when the page's resources declare any Type0 font: show
    strings under a Type0 font decode as 2-byte codes through its
    ToUnicode CMap, simple-font strings as before.  (Pages with only
    simple fonts keep the legacy Tj-then-TJ concatenation contract via
    ``_shown_parts``.)"""

    def one(lit, hexs, cmap):
        raw = _pdf_string_bytes(lit) if lit is not None else _hex_bytes(hexs)
        if cmap == "utf16":  # predefined Uni*-UCS2/UTF16 CMap
            return raw.decode("utf-16-be", "replace")
        if cmap is not None:
            return _decode_cid_string(raw, cmap)
        return raw.decode("latin-1")

    def _hex_bytes(h: bytes) -> bytes:
        h = re.sub(rb"\s+", b"", h)
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii"))

    parts: list = []
    cur = None
    for m in _CONTENT_TOK.finditer(data):
        if m.group(1) is not None:
            cur = fonts.get(m.group(1))
            continue
        if m.group(4) is not None:  # TJ array
            for sm in re.finditer(_STR_RE, m.group(4)):
                parts.append(one(sm.group(1), sm.group(2), cur))
        else:
            parts.append(one(m.group(2), m.group(3), cur))
    return parts


def _assemble_pdf(
    objs: "list[bytes]", version: str, trailer_extra: str = ""
) -> bytes:
    """Serialize numbered objects + classic xref table + trailer with
    real 10-digit offsets — the single assembly both fixture builders
    share, so the strict scanner's offset verification covers the one
    implementation."""
    out = bytearray(f"%PDF-{version}\n".encode())
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R{trailer_extra} >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _assemble_pdf_xrefstream(
    objs: "list[tuple[bytes, bool]]",
    version: str,
    trailer_extra: str = "",
    *,
    use_objstm: bool = True,
    predictor: int = 12,
    objstm_encrypt=None,
) -> bytes:
    """Serialize with the PDF 1.5+ layout: objects flagged compressible
    pack into one ``/Type /ObjStm``, the cross-reference is a
    ``/Type /XRef`` stream (W=[1,4,2] big-endian rows, FlateDecode,
    optionally PNG ``/Predictor 12`` — the form real writers emit),
    and ``startxref`` points at the xref stream object."""
    import zlib

    n = len(objs)
    objstm_num, xref_num = n + 1, n + 2
    out = bytearray(f"%PDF-{version}\n".encode())
    entries: dict = {0: ("f",)}
    packed: list = []
    for num, (body, compressible) in enumerate(objs, start=1):
        if use_objstm and compressible:
            packed.append((num, body))
        else:
            entries[num] = ("n", len(out))
            out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    size = xref_num + 1
    if packed:
        hdr_parts = []
        off = 0
        for num, body in packed:
            hdr_parts.append(f"{num} {off}")
            off += len(body) + 1  # bodies joined by single newlines
        header = (" ".join(hdr_parts) + "\n").encode()
        data = header + b"\n".join(b for _n, b in packed)
        payload = zlib.compress(data, 6)
        if objstm_encrypt is not None:
            # spec order: compress, then encrypt with the ObjStm
            # object's OWN key (xref streams stay plaintext)
            payload = objstm_encrypt(objstm_num, payload)
        entries[objstm_num] = ("n", len(out))
        for i, (num, _b) in enumerate(packed):
            entries[num] = ("s", objstm_num, i)
        out += (
            f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
            f"/First {len(header)} /Filter /FlateDecode "
            f"/Length {len(payload)} >>\nstream\n"
        ).encode() + payload + b"\nendstream\nendobj\n"
    else:
        size = xref_num  # no objstm object is written
        xref_num = objstm_num
    xref_at = len(out)
    entries[xref_num] = ("n", xref_at)
    rows = bytearray()
    for num in range(size):
        v = entries.get(num, ("f",))
        if v[0] == "f":
            t, f2, f3 = 0, 0, 65535 if num == 0 else 0
        elif v[0] == "n":
            t, f2, f3 = 1, v[1], 0
        else:
            t, f2, f3 = 2, v[1], v[2]
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    cols = 7
    parms = ""
    if predictor == 12:
        filtered = bytearray()
        prev = bytes(cols)
        for r in range(0, len(rows), cols):
            row = bytes(rows[r:r + cols])
            filtered += bytes([2]) + bytes(
                (row[i] - prev[i]) & 0xFF for i in range(cols)
            )
            prev = row
        rows = filtered
        parms = f" /DecodeParms << /Predictor 12 /Columns {cols} >>"
    elif predictor != 1:
        raise ValueError("fixture builder supports predictor 1 or 12 only")
    payload = zlib.compress(bytes(rows), 6)
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2] "
        f"/Root 1 0 R{trailer_extra} /Filter /FlateDecode{parms} "
        f"/Length {len(payload)} >>\nstream\n"
    ).encode() + payload + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


def build_pdf(
    n_pages: int,
    *,
    version: str = "1.4",
    encrypted: bool = False,
    crypt: str = "rc4",
    xref_stream: bool = False,
    objstm: bool = True,
    predictor: int = 12,
) -> bytes:
    """Assemble a minimal well-formed PDF: catalog, pages node,
    ``n_pages`` page objects, and either the classic xref table +
    trailer (default) or, with ``xref_stream=True``, the PDF 1.5+
    layout — dict objects packed into an object stream (``objstm=
    False`` keeps them direct) and a FlateDecode xref stream with PNG
    ``/Predictor 12`` by default.  ``encrypted=True`` emits a REAL
    /Encrypt dict (empty user+owner passwords, ``crypt`` in
    rc4/aesv2/aesv3 — operators/pdfcrypt.py computes the actual /O //U
    material and, in the objstm layout, the object stream payload is
    genuinely encrypted with its object key).  Real offsets either
    way, so strict verification passes by construction."""
    if n_pages < 1:
        raise ValueError("a PDF needs at least one page")
    objs: list[bytes] = []
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i in range(n_pages):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Rotate {(i % 4) * 90} >>".encode()
        )
    extra = ""
    objstm_encrypt = None
    if encrypted:
        import hashlib

        from aroa_etl_spark.operators.pdfcrypt import (
            encrypt_data,
            make_encrypt_material,
            object_key,
        )

        mat = make_encrypt_material(crypt, seed=n_pages)
        objs.append(mat["dict_body"])
        extra = (
            f" /Encrypt {len(objs)} 0 R"
            f" /ID [<{mat['id0'].hex().upper()}> <{mat['id0'].hex().upper()}>]"
        )

        def objstm_encrypt(num: int, payload: bytes) -> bytes:
            key = object_key(
                mat["file_key"], num, 0, aes=mat["aes"], v=mat["v"]
            )
            iv = hashlib.md5(f"iv-{num}".encode()).digest()
            return encrypt_data(payload, key, iv, aes=mat["aes"])

    if xref_stream:
        # the encryption dict must not live in an object stream (spec)
        flagged = [
            (o, not (encrypted and i == len(objs) - 1))
            for i, o in enumerate(objs)
        ]
        return _assemble_pdf_xrefstream(
            flagged, version, extra, use_objstm=objstm, predictor=predictor,
            objstm_encrypt=objstm_encrypt if encrypted else None,
        )
    return _assemble_pdf(objs, version, extra)


def _scan_blob(content: bytes, strict: bool) -> dict:
    null = {
        "version": None, "xref_kind": None, "n_objects": None,
        "n_pages": None, "encrypted": None, "readable": None,
        "xref_ok": None, "n_bytes": len(content),
    }

    def fail(msg: str) -> dict:
        if strict:
            raise ValueError(msg)
        return null

    m = re.match(rb"%PDF-(\d+\.\d+)", content)
    if not m:
        return fail("not a PDF: missing %PDF- header")
    version = m.group(1).decode()
    null["version"] = version  # lenient rows keep what DID parse
    try:
        entries, trailer, kind = _load_xref(content)
    except NotImplementedError:
        # named capability boundary (exotic filter/predictor): raise in
        # strict, degrade per-blob in lenient — one poisoned blob must
        # not kill the job
        if strict:
            raise
        return null
    except ValueError as e:
        return fail(str(e).removeprefix("pdf: "))
    enc = 1 if re.search(rb"/Encrypt\b", trailer) else 0
    # empty-user-password authentication: 'readable' is the
    # triage gate's real question — can text extraction proceed with no
    # password?  Unencrypted PDFs are trivially readable; a locked one
    # (real password) reports 0 WITHOUT raising, that is data.
    readable = 1
    dec = None
    if enc:
        try:
            ctx = _encryption_context(content, entries, trailer)
        except (ValueError, NotImplementedError):
            if strict:
                raise
            ctx = "locked"
        if ctx == "locked" or ctx is None:
            readable = 0
        else:
            dec = _make_decryptor(ctx, entries)
    # offset/index verification: every in-use entry must land on its
    # object header; type-2 entries verify through the ObjStm header
    # (skipped for a LOCKED document — object streams are ciphertext
    # there, which is not an offset defect)
    ok = 1
    objstm_cache: dict = {}
    for num, v in sorted(entries.items()):
        if v[0] == "f" or (v[0] == "s" and enc and dec is None):
            continue
        try:
            _object_bytes(content, entries, num, objstm_cache, dec)
        except (ValueError, NotImplementedError) as e:
            if strict:
                raise ValueError(str(e)) from None
            ok = 0
    pages = re.search(rb"/Type\s*/Pages[^>]*?/Count\s+(\d+)", content)
    if pages is None and objstm_cache:
        # the Pages node may live compressed inside an object stream
        for objs in objstm_cache.values():
            for _num, body in objs:
                pages = re.search(
                    rb"/Type\s*/Pages[^>]*?/Count\s+(\d+)", body
                )
                if pages:
                    break
            if pages:
                break
    n_pages = int(pages.group(1)) if pages else None
    if n_pages is None:
        return fail("no /Type /Pages node with /Count")
    return {
        "version": version,
        "xref_kind": kind,
        # free entries (the object-0 list head) are not objects
        "n_objects": sum(1 for v in entries.values() if v[0] != "f"),
        "n_pages": n_pages,
        "encrypted": enc,
        "readable": readable,
        "xref_ok": ok,
        "n_bytes": len(content),
    }


def scan_pdf_structure(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """PDF triage rows (see module docstring) from a
    (media_id, content binary) frame."""

    return blob_map(
        df, PDF_SCAN_SCHEMA, lambda content: [_scan_blob(content, strict)],
        keys=["media_id"], args=["content"], memo=True,
    )


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("page_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("compressed", T.IntegerType()),
    ]
)

_ESCAPES = {b"\\(": b"(", b"\\)": b")", b"\\\\": b"\\", b"\\n": b"\n"}


def build_pdf_with_text(
    page_texts: "list[str]",
    *,
    version: str = "1.4",
    compress: bool = False,
    xref_stream: bool = False,
    objstm: bool = True,
    predictor: int = 12,
    hex_strings: bool = False,
    type0: bool = False,
    predefined_cmap: "str | None" = None,
    encrypt: "str | None" = None,
) -> bytes:
    """build_pdf's sibling with real per-page content streams: each
    page shows its text via ``BT .. (escaped) Tj ET`` — or hex-string
    ``<..> Tj`` with ``hex_strings=True`` — optionally FlateDecode-
    compressed, in either the classic or the xref-stream/objstm layout
    (content stream objects always stay DIRECT: the spec forbids
    streams inside object streams).

    ``type0=True`` emits a REAL Identity-H Type0 font with
    a /ToUnicode CMap: printable ASCII maps through an identity
    ``bfrange``, every other character through ``bfchar`` entries at
    private-use codes (surrogate-pair dsts included), and the page
    text is shown as 2-byte-code hex strings — the multi-byte path
    virtually all modern PDF text uses.  ``encrypt`` in
    rc4/aesv2/aesv3 encrypts every stream (content, ToUnicode, objstm)
    with its object key under empty user+owner passwords.

    ``predefined_cmap="UniGB-UCS2-H"`` emits a Type0 font
    with that /Encoding name and NO /ToUnicode — the CJK-crawl shape
    — showing page text as UTF-16BE hex
    codes, which is exactly what the Uni*-UCS2/UTF16 predefined CMaps
    define the codes to be."""
    import hashlib as _hl
    import zlib

    n_pages = len(page_texts)
    if n_pages < 1:
        raise ValueError("a PDF needs at least one page")
    mat = None
    if encrypt is not None:
        from aroa_etl_spark.operators.pdfcrypt import (
            encrypt_data,
            make_encrypt_material,
            object_key,
        )

        mat = make_encrypt_material(encrypt, seed=n_pages)

    def enc_stream(num: int, payload: bytes) -> bytes:
        if mat is None:
            return payload
        key = object_key(mat["file_key"], num, 0, aes=mat["aes"], v=mat["v"])
        iv = _hl.md5(f"iv-{num}".encode()).digest()
        return encrypt_data(payload, key, iv, aes=mat["aes"])

    font_num = 2 + 2 * n_pages + 1  # /F1 Type0 font object
    desc_num = font_num + 1         # descendant CIDFont
    tou_num = font_num + 2          # ToUnicode CMap stream
    cid_of: dict[str, int] = {}
    if predefined_cmap is not None:
        if type0:
            raise ValueError("type0 and predefined_cmap are exclusive")
        type0 = True  # same object layout; no ToUnicode is emitted
    if type0 and predefined_cmap is None:
        # printable ASCII rides the identity bfrange; everything else
        # gets a private-use code and a bfchar entry
        extra = []
        for text in page_texts:
            for ch in text:
                if not (0x20 <= ord(ch) <= 0x7E) and ch not in cid_of:
                    cid_of[ch] = 0xE000 + len(extra)
                    extra.append(ch)

    def shown_for(text: str) -> str:
        if predefined_cmap is not None:
            return "<" + text.encode("utf-16-be").hex().upper() + ">"
        if type0:
            codes = bytearray()
            for ch in text:
                c = ord(ch) if 0x20 <= ord(ch) <= 0x7E else cid_of[ch]
                codes += c.to_bytes(2, "big")
            return "<" + codes.hex().upper() + ">"
        if hex_strings:
            return "<" + text.encode("latin-1").hex().upper() + ">"
        esc = (
            text.replace("\\", "\\\\")
            .replace("(", "\\(")
            .replace(")", "\\)")
        )
        return f"({esc})"

    objs: list[bytes] = []
    flags: list[bool] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    flags.append(True)
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    flags.append(True)
    res = (
        f" /Resources << /Font << /F1 {font_num} 0 R >> >>" if type0 else ""
    )
    for i, text in enumerate(page_texts):
        stream = f"BT /F1 12 Tf 72 720 Td {shown_for(text)} Tj ET".encode()
        filt = ""
        if compress:
            stream = zlib.compress(stream, 6)
            filt = " /Filter /FlateDecode"
        stream = enc_stream(4 + 2 * i, stream)
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]{res} "
            f"/Contents {4 + 2 * i} 0 R >>".encode()
        )
        flags.append(True)
        objs.append(
            f"<< /Length {len(stream)}{filt} >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )
        flags.append(False)  # stream objects may not enter an ObjStm
    if type0:
        enc_name = predefined_cmap or "Identity-H"
        tou_ref = "" if predefined_cmap is not None \
            else f"/ToUnicode {tou_num} 0 R "
        objs.append(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /FixtureCID "
            f"/Encoding /{enc_name} /DescendantFonts [{desc_num} 0 R] "
            f"{tou_ref}>>".encode()
        )
        flags.append(True)
        objs.append(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /FixtureCID"
            b" /CIDToGIDMap /Identity >>"
        )
        flags.append(True)
        bfchars = "".join(
            f"<{code:04X}> <{ch.encode('utf-16-be').hex().upper()}>\n"
            for ch, code in sorted(cid_of.items(), key=lambda kv: kv[1])
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\n"
            "12 dict begin\nbegincmap\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            "1 beginbfrange\n<0020> <007E> <0020>\nendbfrange\n"
            + (
                f"{len(cid_of)} beginbfchar\n{bfchars}endbfchar\n"
                if cid_of
                else ""
            )
            + "endcmap\nCMapName currentdict /CMap defineresource pop\n"
            "end\nend"
        ).encode()
        cfilt = ""
        if compress:
            cmap = zlib.compress(cmap, 6)
            cfilt = " /Filter /FlateDecode"
        cmap = enc_stream(tou_num, cmap)
        objs.append(
            f"<< /Length {len(cmap)}{cfilt} >>\nstream\n".encode()
            + cmap
            + b"\nendstream"
        )
        flags.append(False)
    trailer_extra = ""
    objstm_encrypt = None
    if mat is not None:
        objs.append(mat["dict_body"])
        flags.append(False)  # the encryption dict stays direct (spec)
        trailer_extra = (
            f" /Encrypt {len(objs)} 0 R"
            f" /ID [<{mat['id0'].hex().upper()}> <{mat['id0'].hex().upper()}>]"
        )
        objstm_encrypt = enc_stream
    if xref_stream:
        return _assemble_pdf_xrefstream(
            list(zip(objs, flags)), version, trailer_extra,
            use_objstm=objstm, predictor=predictor,
            objstm_encrypt=objstm_encrypt,
        )
    return _assemble_pdf(objs, version, trailer_extra)


def _unescape_pdf_string(raw: bytes) -> str:
    # full §7.3.4.2 escape set (shared with the crypt
    # material parser): named controls, octal, line continuations
    return _pdf_string_bytes(raw).decode("latin-1")


def _hex_pdf_string(raw: bytes) -> str:
    """PDF hex string body -> text: whitespace drops, an odd final
    digit implies a trailing 0 (§7.3.4.3), bytes read as latin-1 (the
    single-byte simple-font case; CID/Type0 multi-byte CMaps remain a
    named boundary)."""
    h = re.sub(rb"\s+", b"", raw)
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii")).decode("latin-1")


# one show-string: (escaped-paren literal) or <hex>
_STR_RE = rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>"


def _shown_parts(data: bytes) -> "list[str]":
    """Show-string payloads of a content stream in Tj-then-TJ order
    (the extractor's long-standing concatenation contract), both
    string forms decoded."""
    parts = []
    for m in re.finditer(rb"(?:%s)\s*Tj" % _STR_RE, data):
        parts.append(
            _unescape_pdf_string(m.group(1))
            if m.group(1) is not None
            else _hex_pdf_string(m.group(2))
        )
    # the array may contain ']' INSIDE a string literal, so the scan
    # consumes complete parenthesis strings as units
    for am in re.finditer(
        rb"\[((?:\((?:[^()\\]|\\.)*\)|[^\]()\\]|\\.)*)\]\s*TJ", data
    ):
        for m in re.finditer(_STR_RE, am.group(1)):
            parts.append(
                _unescape_pdf_string(m.group(1))
                if m.group(1) is not None
                else _hex_pdf_string(m.group(2))
            )
    return parts


def _extract_blob_text(content: bytes, strict: bool) -> "list[dict]":
    def fail(msg: str) -> "list[dict]":
        if strict:
            raise ValueError(msg)
        return []

    if not content.startswith(b"%PDF-"):
        return fail("not a PDF: missing %PDF- header")
    try:
        entries, trailer, _kind = _load_xref(content)
        cache: dict = {}
        dec = None
        if re.search(rb"/Encrypt\b", trailer):
            ctx = _encryption_context(content, entries, trailer)
            if ctx == "locked":
                raise NotImplementedError(
                    "pdf: encrypted with a non-empty password (only "
                    "empty-user-password decryption is supported)"
                )
            if ctx is not None:
                dec = _make_decryptor(ctx, entries)
        rm = re.search(rb"/Root\s+(\d+)\s+0\s+R", trailer)
        if not rm:
            raise ValueError("pdf: trailer without /Root")
        catalog = _object_bytes(content, entries, int(rm.group(1)), cache, dec)
        pgm = re.search(rb"/Pages\s+(\d+)\s+0\s+R", catalog)
        if not pgm:
            raise ValueError("pdf: catalog without /Pages")
        pages = _object_bytes(content, entries, int(pgm.group(1)), cache, dec)
        kids = re.search(rb"/Kids\s*\[([^\]]*)\]", pages)
        if not kids:
            raise ValueError("pdf: Pages node without /Kids")
        page_refs = [int(m) for m in re.findall(rb"(\d+) 0 R", kids.group(1))]
        rows = []
        for idx, ref in enumerate(page_refs):
            page = _object_bytes(content, entries, ref, cache, dec)
            cm = re.search(rb"/Contents\s+(\d+) 0 R", page)
            if not cm:
                # a page with no content stream is legitimately blank
                rows.append(
                    {"page_idx": idx, "text": "", "n_chars": 0,
                     "compressed": 0}
                )
                continue
            cnum = int(cm.group(1))
            sbody = _object_bytes(content, entries, cnum, cache, dec)
            d, data = _stream_payload(
                sbody, (lambda raw: dec(cnum, raw)) if dec else None
            )
            compressed = 1 if re.search(rb"/FlateDecode", d) else 0
            fonts = _page_fonts(content, entries, page, cache, dec)
            if any(v is not None for v in fonts.values()):
                text = "".join(_shown_parts_with_fonts(data, fonts))
            else:
                text = "".join(_shown_parts(data))
            rows.append(
                {
                    "page_idx": idx,
                    "text": text,
                    "n_chars": len(text),
                    "compressed": compressed,
                }
            )
        return rows
    except ValueError as e:
        return fail(str(e).removeprefix("pdf: "))
    except NotImplementedError:
        if strict:
            raise
        return []


def extract_pdf_text(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """Per-page text extraction from uncompressed or FlateDecode
    content streams (``Tj``/``TJ`` show operators, escape-correct
    string parsing in both literal and hex forms) — the step that
    turns a crawled PDF into training text.  Type0/CID text
    decodes through /ToUnicode CMaps, and encrypted documents decrypt
    under the empty user password (RC4 / AES-128 / AES-256).  Honest
    boundaries: Type0 without /ToUnicode, non-empty passwords, and
    per-glyph positioning; pages without /Contents extract as empty,
    and strict mode raises on any structural miss.  Scale:
    mapInPandas, zero shuffle, O(stream bytes) per page."""

    return blob_map(
        df, PDF_TEXT_SCHEMA, lambda content: _extract_blob_text(content, strict),
        keys=["media_id"], args=["content"], memo=True,
    )

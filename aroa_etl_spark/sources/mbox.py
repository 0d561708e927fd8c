"""mbox mail-archive parsing (RFC 4155 + the mboxrd quoting
convention) as a Spark source stage.

Mail archives are a classic LLM-training corpus (public mailing lists
ship as mbox), and the container is deceptively line-oriented::

    From <envelope-sender> <asctime>\n
    Header-Name: value\n
     folded continuation\n
    \n
    body lines ... (any line matching ^>*From␣ was quoted with one
                    extra '>' when the archive was written)

Two parsing rules carry all the correctness weight, and both are
value-checked by the catalog oracle:

- **Separator vs body**: a line starting with ``From `` is a message
  separator ONLY because writers quote body occurrences (mboxrd:
  ``From `` -> ``>From ``, ``>From `` -> ``>>From ``, …). The parser
  therefore treats every line-start ``From `` as a boundary and
  reverses the quoting — one ``>`` stripped from every ``^>+From ``
  body line — so the logical body round-trips byte-exactly.
- **Header unfolding** (RFC 5322 §2.2.3): a continuation line starts
  with WSP and joins its parent with a single space.

The parser is imperative per blob, so it runs as an Arrow-batched
``mapInPandas`` kernel over ``(blob_id, content binary)`` — same shape
as the WARC/tar kernels (sources/warc.py): embarrassingly parallel,
records explode within their input partition, zero shuffle.

Reference parity: the reference has no mail surface; this is extension
inventory (SURVEY.md §2.11) for corpus ingestion, beside WARC/tar/
TFRecord.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["MBOX_MESSAGE_SCHEMA", "MBOX_SOURCE_SCHEMA", "MboxDataSource",
           "parse_mbox_blob", "parse_mbox_records", "build_mbox",
           "register_mbox_source"]

MBOX_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType()),
        T.StructField("msg_idx", T.IntegerType()),
        T.StructField("envelope_from", T.StringType()),
        T.StructField("message_id", T.StringType()),
        T.StructField("from_addr", T.StringType()),
        T.StructField("subject", T.StringType()),
        T.StructField("n_headers", T.IntegerType()),
        T.StructField("body_lines", T.IntegerType()),
        T.StructField("body_bytes", T.LongType()),
    ]
)

_QUOTED_FROM = re.compile(rb"^(>+)From ")
_ADDR_IN_ANGLES = re.compile(r"<([^<>]*)>")


def _unfold_headers(lines: list[bytes]) -> list[tuple[str, str]]:
    """RFC 5322 unfolding: WSP-led lines join their parent with one
    space. Returns (lower-name, value) pairs in order; a malformed
    line without ':' raises (archives with binary junk in the header
    block should fail loudly, not mis-key silently)."""
    out: list[tuple[str, str]] = []
    for raw in lines:
        if raw[:1] in (b" ", b"\t"):
            if not out:
                raise ValueError("mbox: continuation line before any header")
            name, val = out[-1]
            out[-1] = (name, val + " " + raw.strip().decode("utf-8", "replace"))
            continue
        name, sep, val = raw.partition(b":")
        if not sep:
            raise ValueError(f"mbox: header line without colon: {raw[:40]!r}")
        out.append(
            (
                name.strip().decode("ascii", "replace").lower(),
                val.strip().decode("utf-8", "replace"),
            )
        )
    return out


def _from_addr(value: str) -> str:
    """addr-spec from a From: header — the <...> content when angle
    brackets are present ('Display Name <a@b>'), the bare value
    otherwise."""
    m = _ADDR_IN_ANGLES.search(value)
    return (m.group(1) if m else value).strip()


def parse_mbox_blob(blob: bytes) -> list[dict]:
    """Parse one mbox blob into message dicts (all but ``blob_id``).

    Boundary rule: byte 0 must start a ``From `` line (or the blob is
    empty); thereafter every line-start ``From `` begins a new message
    (see module docstring for why that is safe under mboxrd quoting).
    """
    if not blob:
        return []
    if not blob.startswith(b"From "):
        raise ValueError("mbox: blob does not start with a 'From ' line")
    msgs: list[dict] = []
    lines = blob.split(b"\n")
    # trailing '' from a final newline is not a body line
    if lines and lines[-1] == b"":
        lines.pop()
    current: list[bytes] | None = None
    messages: list[list[bytes]] = []
    for ln in lines:
        if ln.startswith(b"From "):
            current = [ln]
            messages.append(current)
        else:
            current.append(ln)  # type: ignore[union-attr]  # byte 0 guard above
    for idx, mlines in enumerate(messages):
        envelope = mlines[0][5:].decode("utf-8", "replace")
        envelope_from = envelope.split(" ", 1)[0]
        try:
            blank = mlines.index(b"", 1)
        except ValueError:
            raise ValueError(
                f"mbox: message {idx} has no blank line after headers"
            ) from None
        headers = _unfold_headers(mlines[1:blank])
        hmap = {}
        for name, val in headers:
            hmap.setdefault(name, val)
        body_lines = []
        for raw in mlines[blank + 1:]:
            m = _QUOTED_FROM.match(raw)
            body_lines.append(raw[1:] if m else raw)
        body = b"\n".join(body_lines) + (b"\n" if body_lines else b"")
        msgs.append(
            {
                "msg_idx": idx,
                "envelope_from": envelope_from,
                "message_id": hmap.get("message-id"),
                "from_addr": _from_addr(hmap["from"]) if "from" in hmap else None,
                "subject": hmap.get("subject"),
                "n_headers": len(headers),
                "body_lines": len(body_lines),
                "body_bytes": len(body),
            }
        )
    return msgs


def parse_mbox_records(
    df: DataFrame, *, content_col: str = "content", id_col: str = "blob_id"
) -> DataFrame:
    """Explode a (blob_id, content binary) frame into mbox messages —
    one output row per message, input partitioning preserved, no
    shuffle."""
    from pyspark.sql import functions as F

    from aroa_etl_spark.operators.multimodal import blob_map

    return blob_map(
        df.select(F.col(id_col).alias("blob_id"), F.col(content_col).alias("content")),
        MBOX_MESSAGE_SCHEMA, parse_mbox_blob, keys=["blob_id"], args=["content"],
    )


def build_mbox(messages: list[dict]) -> bytes:
    """Write messages ({'from_': envelope addr, 'headers': [(name,
    value), ...], 'body': str}) as an mboxrd archive — the fixture-side
    twin of :func:`parse_mbox_blob`: every body line matching
    ``^>*From `` gains one ``>``."""
    out = bytearray()
    for m in messages:
        out += f"From {m['from_']} Thu Jan  1 00:00:00 1970\n".encode()
        for name, val in m["headers"]:
            out += f"{name}: {val}\n".encode()
        out += b"\n"
        # a trailing '\n' (and an empty body) must not become an extra
        # blank body line — the writer newline-terminates each line, so
        # split's trailing '' is an artifact, not content
        lines = m["body"].split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        for ln in lines:
            raw = ln.encode()
            if re.match(rb"^>*From ", raw):
                raw = b">" + raw
            out += raw + b"\n"
    return bytes(out)


# --------------------------------------------------------------------------
# mbox as a first-class Spark DataSource (batch + streaming)
# --------------------------------------------------------------------------

from aroa_etl_spark.sources.container_datasource import (  # noqa: E402
    make_container_datasource,
)

#: ``spark.read.format("mbox")`` / ``spark.readStream.format("mbox")`` —
#: the archive-tailing shape (a list server drops finished .mbox files;
#: the pipeline ingests new ones per micro-batch).  Scan/stream
#: mechanics are the shared container model
#: (sources/container_datasource.py): one InputPartition per archive,
#: monotonic [name, size] offsets, atomic-placement growth guard; the
#: record parse is parse_mbox_blob VERBATIM, so the DataSource and the
#: mapInPandas kernel agree on message boundaries by construction.
MboxDataSource = make_container_datasource(
    "mbox", (".mbox",), parse_mbox_blob, MBOX_MESSAGE_SCHEMA
)
MBOX_SOURCE_SCHEMA = MboxDataSource.source_schema


def register_mbox_source(spark) -> None:
    """Idempotent registration helper (re-registering is a no-op
    overwrite in the Python DataSource registry)."""
    spark.dataSource.register(MboxDataSource)

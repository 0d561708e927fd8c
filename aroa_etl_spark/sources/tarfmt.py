"""POSIX tar (USTAR) member extraction — the WebDataset ingestion path.

Large multimodal training corpora ship as tar shards (the WebDataset
convention: one shard = one tar, one sample = a few adjacently-stored
members).  This module parses the 512-byte USTAR header blocks by hand
— name, octal size, typeflag, and the spec's checksum (header bytes
summed with the checksum field blanked) — and explodes each archive
blob into one row per regular member, the same Content-Length-driven,
zero-shuffle ``blob_map`` kernel as the WARC/MPEG/JPEG/BMFF scanners.

Hand-parsing (rather than the stdlib ``tarfile``) keeps the kernel
byte-transparent for the catalog oracle and makes the failure modes
explicit: strict mode raises on checksum mismatches, non-octal size
fields, payload overruns, and archives that end without the
two-zero-block terminator; lenient mode (``strict=False``) stops
yielding at the first structural error instead of killing the
partition — resyncing inside a corrupt stream-of-blocks format is
guesswork, so truncation is the honest degradation.  USTAR long
names are honoured: when the magic field says ``ustar`` the 155-byte
prefix field (header bytes 345..500) is joined onto the 100-byte
name, so paths over 100 chars round-trip through the stdlib writer.
Fixture WRITERS should use the stdlib ``tarfile`` — guaranteed-valid
input is the honest way to test a reader.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

TAR_MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("member_idx", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)

_BLOCK = 512


def _octal(field: bytes, what: str) -> int:
    s = field.split(b"\x00", 1)[0].strip()
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError as exc:
        raise ValueError(f"non-octal {what} field {field!r}") from exc


def parse_tar_blob(content: bytes, *, strict: bool = True,
                   with_payload: bool = False):
    """Yield (idx, name, size, payload_md5) for each REGULAR member —
    plus the raw payload bytes as a fifth element when
    ``with_payload=True`` (the training-loader path; md5-only is the
    default so catalog scans never materialize blobs they don't need).

    Structural errors (bad checksum, non-octal field, payload overrun,
    data after a lone zero block, missing terminator) raise in strict
    mode; with ``strict=False`` parsing stops at the first such error,
    yielding the members read so far."""
    pos = 0
    idx = 0
    zero_blocks = 0

    def fail(msg: str) -> bool:
        if strict:
            raise ValueError(msg)
        return True  # lenient: caller stops yielding

    while pos + _BLOCK <= len(content):
        header = content[pos:pos + _BLOCK]
        if header == b"\x00" * _BLOCK:
            zero_blocks += 1
            pos += _BLOCK
            if zero_blocks == 2:
                return
            continue
        if zero_blocks:
            if fail(f"data after a single zero block at byte {pos - _BLOCK}"):
                return
        try:
            stored = _octal(header[148:156], "checksum")
            size = _octal(header[124:136], "size")
        except ValueError as exc:
            if fail(str(exc)):
                return
        computed = sum(header[:148]) + 8 * 0x20 + sum(header[156:])
        if stored != computed:
            if fail(
                f"tar header checksum mismatch at byte {pos} "
                f"(stored {stored}, computed {computed})"
            ):
                return
        name = header[0:100].split(b"\x00", 1)[0].decode("utf-8")
        # USTAR long-path support: the stdlib writer splits paths over
        # 100 chars into prefix (345..500) + name; rejoin them.  The
        # magic must be the POSIX 'ustar\0' exactly — GNU format's
        # 'ustar ' puts atime/ctime/sparse fields at 345+, which would
        # otherwise be prepended as a junk prefix.
        if header[257:263] == b"ustar\x00":
            prefix = header[345:500].split(b"\x00", 1)[0].decode("utf-8")
            if prefix:
                name = prefix + "/" + name
        typeflag = header[156:157]
        data_end = pos + _BLOCK + size
        if data_end > len(content):
            if fail(f"member '{name}' payload overruns the archive"):
                return
        if typeflag in (b"0", b"\x00"):  # regular file (old and ustar forms)
            payload = content[pos + _BLOCK:data_end]
            row = (idx, name, size, hashlib.md5(payload).hexdigest())
            yield row + (payload,) if with_payload else row
            idx += 1
        pos = data_end + (-size % _BLOCK)
    if strict:
        raise ValueError("archive ended without the two-zero-block terminator")


def parse_tar_members(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """Explode (media_id, content) tar blobs into one row per regular
    member: (media_id, member_idx, name, size, payload_md5)."""
    from aroa_etl_spark.operators.multimodal import blob_map

    def members(content: bytes) -> list:
        return [
            {"member_idx": idx, "name": name, "size": size, "payload_md5": digest}
            for idx, name, size, digest in parse_tar_blob(content, strict=strict)
        ]

    # no memo: the USTAR header walk is O(members), far cheaper than
    # hashing the whole archive per row for a cache lookup
    return blob_map(
        df, TAR_MEMBERS_SCHEMA, members, keys=["media_id"], args=["content"]
    )


WEBDATASET_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard_path", T.StringType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("shard_bytes", T.LongType()),
    ]
)


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    name_col: str = "name",
    content_col: str = "content",
    docs_per_shard: int = 1000,
) -> DataFrame:
    """Pack (id, name, content-bytes) rows into WebDataset tar shards —
    the WRITE half of the shard story (``format("tar")`` and
    ``parse_tar_members`` are the read half).

    Sharding is deterministic: shard index = engine-standard md5 bucket
    of the id modulo the shard count implied by ``docs_per_shard`` and
    an exact count — stable under repartitioning and re-runs, so a
    re-executed job overwrites shards with identical content instead of
    reshuffling samples between shards (the property that makes shard
    sets diffable across pipeline versions).  Each shard is written by
    exactly one task (``repartition(n_shards, shard)`` then one
    ``applyInPandas`` group per shard) with the stdlib tarfile writer
    in USTAR format, members ordered by id, mtime pinned to 0 for
    byte-reproducibility.

    Returns the manifest (shard_path, n_members, shard_bytes) as a
    DataFrame — the action that actually runs the write.  ``out_dir``
    must exist on a filesystem reachable by every executor (local[*]
    and any shared FS qualify; object stores want the task-commit
    protocol a production sink would add)."""
    import io
    import os
    import tarfile

    from pyspark.sql import functions as F

    n_rows = df.count()
    n_shards = max(1, -(-n_rows // docs_per_shard))
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard"), F.col(id_col).cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long") % n_shards
    ).alias("__shard")
    staged = df.select(
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__name"),
        F.col(content_col).alias("__content"),
        shard,
    ).repartition(n_shards, "__shard")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["__shard"].iloc[0])
        path = os.path.join(out_dir, f"shard-{sid:05d}.tar")
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tf:
            ordered = pdf.sort_values("__id")
            for name, content in zip(ordered["__name"], ordered["__content"]):
                payload = bytes(content or b"")
                info = tarfile.TarInfo(name=str(name))
                info.size = len(payload)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(payload))
        blob = buf.getvalue()
        tmp = path + ".inprogress"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, path)  # atomic placement — the stream contract
        return pd.DataFrame(
            [{"shard_path": path, "n_members": len(pdf),
              "shard_bytes": len(blob)}]
        )

    return (
        staged.groupBy("__shard")
        .applyInPandas(pack, WEBDATASET_MANIFEST_SCHEMA)
    )


def assemble_webdataset_samples(
    df: DataFrame,
    extensions: list[str] | tuple[str, ...],
    *,
    shard_col: str = "path",
    name_col: str = "name",
    idx_col: str = "member_idx",
    value_col: str = "payload_md5",
) -> DataFrame:
    """Group tar member rows into one row per WebDataset SAMPLE — the
    consumption contract a training loader needs: sample key = the
    member path up to the first dot of the basename (the WebDataset
    convention this module's header cites), one extension-keyed column
    per requested extension carrying that member's ``value_col``.

    Works on any member frame — ``format("tar")`` rows (value_col
    ``payload_md5``, or ``payload`` when the source is loaded with
    ``.option("payload", "true")``) and ``parse_tar_members`` output
    alike.  Output: (shard_col, sample_key, sample_idx = min member
    index, preserving shard-local sample order; n_members; one column
    per extension, null when the sample lacks that member).  Members
    whose extension is not in ``extensions`` still count toward
    n_members but get no column; a duplicate extension within one
    sample raises (Spark's duplicate-map-key policy) — the honest
    contract, since WebDataset defines at most one member per
    extension per sample.

    Scale: ONE shuffle on (shard, sample_key).  On the native tar
    source the members of a sample are adjacent within a single
    InputPartition (one shard per partition), so the hash partitioning
    moves each shard's rows once with no skew — sample counts per
    shard are bounded by shard size, and the map_from_entries agg is a
    single-pass partial aggregation, no pivot double-scan."""
    from pyspark.sql import functions as F

    base = F.element_at(F.split(F.col(name_col), "/"), -1)
    stem = F.substring_index(base, ".", 1)
    prefix = F.expr(
        f"substring({name_col}, 1, length({name_col}) - "
        f"length(element_at(split({name_col}, '/'), -1)))"
    )
    staged = df.select(
        F.col(shard_col),
        F.col(idx_col),
        F.col(value_col),
        F.concat(prefix, stem).alias("sample_key"),
        F.when(
            F.instr(base, ".") > 0,
            F.expr(
                f"substring(element_at(split({name_col}, '/'), -1), "
                f"instr(element_at(split({name_col}, '/'), -1), '.') + 1)"
            ),
        ).alias("__ext"),
    )
    agged = staged.groupBy(shard_col, "sample_key").agg(
        F.min(idx_col).cast("int").alias("sample_idx"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("__ext").isin(list(extensions)),
                    F.struct(F.col("__ext"), F.col(value_col)),
                )
            )
        ).alias("__m"),
    )
    return agged.select(
        shard_col,
        "sample_key",
        "sample_idx",
        "n_members",
        *[F.col("__m").getItem(e).alias(e) for e in extensions],
    )


def gunzip_column(df: DataFrame, col: str, *, strict: bool = True) -> DataFrame:
    """Decompress a binary column of gzip members in place — the
    ``.txt.gz`` / ``.json.gz`` WebDataset member convention (samples
    ship compressed text beside uncompressed media).  Non-gzip bytes
    (no 1F 8B magic) pass through unchanged, so the operator composes
    safely over a mixed extension map; corrupt gzip raises in strict
    mode and degrades to the raw bytes with ``strict=False``.
    NULL stays NULL.  Scale: one zlib C call per row, zero shuffle —
    the compression_ratio signal's cost model."""
    import gzip as _gzip

    from aroa_etl_spark.operators.multimodal import blob_map

    def one(raw: bytes) -> list:
        # returning no value for ``col`` keeps the input value (the
        # column is also a pass-through key), so NULL and non-gzip
        # bytes come back untouched
        if raw[:2] != b"\x1f\x8b":
            return [{}]
        try:
            return [{col: _gzip.decompress(raw)}]
        except Exception:
            if strict:
                raise
            return [{}]

    return blob_map(df, df.schema, one, keys=df.columns, args=[col])

"""TFRecord shards as a first-class Spark DataSource:
``spark.read.format("tfrecord")`` — the other canonical training-data
packaging next to WebDataset tar shards (sources/tar_datasource.py).

TFRecord (public TensorFlow spec, tensorflow/core/lib/io/record_writer)
frames each record as:

    uint64 little-endian  length
    uint32 little-endian  masked crc32c(length bytes)
    byte[length]          payload
    uint32 little-endian  masked crc32c(payload)

with CRC-32C (Castagnoli, reflected poly 0x82F63B78) and the mask
``((crc >> 15) | (crc << 17)) + 0xa282ead8 (mod 2^32)``.  Records are
usually serialized ``tf.train.Example`` protos (example.proto /
feature.proto, public schema): Example{features=1} →
Features{feature=1: map<string, Feature>} → Feature oneof
{bytes_list=1, float_list=2(packed float), int64_list=3(packed
varint)}.  The Example codec here is written against that public
schema using the repo's own mini-protobuf wire helpers — both halves
(writer for fixtures, parser for ingestion) share one implementation
so they cannot disagree.

Scale model mirrors the tar/WARC sources: one ``InputPartition`` per
shard file, record explosion fused into the scan, zero shuffle; the
streaming reader tails a directory with an atomic-placement contract
(offsets = ingested [name, size] list; a size change on a seen shard
fails planning loudly).  Unlike the container sources
(sources/container_datasource.py), which also compare mtimes, a seen
shard re-placed at the same size is NOT an error here: re-placing a
byte-identical shard is an accepted operation for this source.

Reference analogue: none — the reference has no TFRecord surface; this
is the LLM-data-pipeline extension (SURVEY §2.11), closing the
"read the corpora that exist" gap for TF-lineage datasets.
"""

from __future__ import annotations

import glob
import hashlib
import os
import struct
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from aroa_etl_spark._vendor.google.protobuf._minipb import (
    decode_varint,
    encode_tag,
    encode_varint,
    raw_fields,
)
from aroa_etl_spark.sources.container_datasource import path_blob_id, wants_payload

# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli) — table-driven, reflected polynomial 0x82F63B78
# (public spec, RFC 3720 appendix); TFRecord's masked variant on top.
# ---------------------------------------------------------------------------

_CRC32C_TABLE: "list[int] | None" = None


def _crc32c_table() -> "list[int]":
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    return _CRC32C_TABLE


def crc32c(data: bytes) -> int:
    table = _crc32c_table()
    crc = 0xFFFFFFFF
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# record framing
# ---------------------------------------------------------------------------

def write_tfrecords(records: "list[bytes]") -> bytes:
    """Frame payloads into TFRecord bytes (fixture writer; also the
    shard-writer primitive a packing job would use)."""
    out = bytearray()
    for payload in records:
        header = struct.pack("<Q", len(payload))
        out += header
        out += struct.pack("<I", masked_crc32c(header))
        out += payload
        out += struct.pack("<I", masked_crc32c(payload))
    return bytes(out)


def iter_tfrecords(blob: bytes, *, strict: bool = True) -> Iterator[bytes]:
    """Yield record payloads; under strict both CRCs are verified and a
    framing error raises (lenient mode stops at the first bad frame —
    the tail of a partially-written shard)."""
    pos = 0
    n = len(blob)
    while pos < n:
        if pos + 12 > n:
            if strict:
                raise ValueError(f"truncated TFRecord header at {pos}")
            return
        header = blob[pos : pos + 8]
        (length,) = struct.unpack("<Q", header)
        (hcrc,) = struct.unpack("<I", blob[pos + 8 : pos + 12])
        if masked_crc32c(header) != hcrc:
            if strict:
                raise ValueError(f"TFRecord length-CRC mismatch at {pos}")
            return
        start = pos + 12
        end = start + length
        if end + 4 > n:
            if strict:
                raise ValueError(f"truncated TFRecord payload at {pos}")
            return
        payload = blob[start:end]
        (pcrc,) = struct.unpack("<I", blob[end : end + 4])
        if masked_crc32c(payload) != pcrc:
            if strict:
                raise ValueError(f"TFRecord payload-CRC mismatch at {pos}")
            return
        yield payload
        pos = end + 4


# ---------------------------------------------------------------------------
# tf.train.Example codec (public example.proto / feature.proto schema)
# ---------------------------------------------------------------------------

def build_example(features: "dict[str, object]") -> bytes:
    """Serialize ``{name: bytes | str | list[int] | list[float]}`` as a
    tf.train.Example.  bytes/str → BytesList, list[int] → Int64List
    (packed), list[float] → FloatList (packed float32)."""
    entries = b""
    for name, value in sorted(features.items()):
        if isinstance(value, str):
            value = value.encode("utf-8")
        if isinstance(value, (bytes, bytearray)):
            inner = encode_tag(1, 2) + encode_varint(len(value)) + bytes(value)
            feature = encode_tag(1, 2) + encode_varint(len(inner)) + inner
        elif isinstance(value, list):
            if not value:
                # [] is kind-ambiguous on the wire — a silent guess here
                # would later trip examples_to_columns' kind check
                raise TypeError(
                    f"feature {name!r}: empty list is ambiguous — pass "
                    "b''/omit the feature, or a non-empty typed list"
                )
            if not all(isinstance(v, (int, float)) and not isinstance(v, bool)
                       for v in value):
                raise TypeError(
                    f"feature {name!r}: list elements must be int or float"
                )
            if any(isinstance(v, float) for v in value):
                # ANY float makes it a FloatList (first-element dispatch
                # would silently truncate mixed lists)
                packed = struct.pack(
                    f"<{len(value)}f", *[float(v) for v in value]
                )
                inner = encode_tag(1, 2) + encode_varint(len(packed)) + packed
                feature = encode_tag(2, 2) + encode_varint(len(inner)) + inner
            else:
                packed = b"".join(encode_varint(int(v)) for v in value)
                inner = encode_tag(1, 2) + encode_varint(len(packed)) + packed
                feature = encode_tag(3, 2) + encode_varint(len(inner)) + inner
        else:
            raise TypeError(f"unsupported feature value for {name!r}: {value!r}")
        key = name.encode("utf-8")
        entry = (
            encode_tag(1, 2) + encode_varint(len(key)) + key
            + encode_tag(2, 2) + encode_varint(len(feature)) + feature
        )
        entries += encode_tag(1, 2) + encode_varint(len(entry)) + entry
    return encode_tag(1, 2) + encode_varint(len(entries)) + entries


def parse_example(payload: bytes) -> "dict[str, tuple[str, list]]":
    """Decode a tf.train.Example into ``{name: (kind, values)}`` with
    kind in {'bytes', 'float', 'int64'}; packed and unpacked repeated
    encodings both accepted."""
    out: dict[str, tuple[str, list]] = {}
    example = raw_fields(payload)
    for features_blob in example.get(1, []):
        features = raw_fields(features_blob)
        for entry_blob in features.get(1, []):
            entry = raw_fields(entry_blob)
            name = entry[1][0].decode("utf-8")
            feature = raw_fields(entry[2][0])
            if 1 in feature:  # BytesList
                values: list = []
                for bl in feature[1]:
                    values.extend(raw_fields(bl).get(1, []))
                out[name] = ("bytes", values)
            elif 2 in feature:  # FloatList (packed or not)
                vals: list = []
                for fl in feature[2]:
                    for item in raw_fields(fl).get(1, []):
                        if isinstance(item, bytes):
                            vals.extend(
                                struct.unpack(f"<{len(item) // 4}f", item)
                            )
                        else:  # wire type 5 single float arrives as bytes
                            vals.append(item)
                out[name] = ("float", vals)
            elif 3 in feature:  # Int64List (packed varints or not)
                ivals: list = []
                for il in feature[3]:
                    for item in raw_fields(il).get(1, []):
                        if isinstance(item, bytes):
                            p = 0
                            while p < len(item):
                                v, p = decode_varint(item, p)
                                if v >= 1 << 63:
                                    v -= 1 << 64
                                ivals.append(v)
                        else:
                            if item >= 1 << 63:
                                item -= 1 << 64
                            ivals.append(item)
                out[name] = ("int64", ivals)
            else:
                out[name] = ("bytes", [])
    return out


# ---------------------------------------------------------------------------
# DataSource (batch + streaming), tar/WARC scale model
# ---------------------------------------------------------------------------

TFRECORD_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("file_id", T.LongType()),
        T.StructField("record_idx", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)

TFRECORD_PAYLOAD_SCHEMA = T.StructType(
    [*TFRECORD_SOURCE_SCHEMA.fields, T.StructField("payload", T.BinaryType())]
)


def _is_tfrecord_file(name: str) -> bool:
    return name.lower().endswith((".tfrecord", ".tfrecords"))


class _TFRecordPartition(InputPartition):
    def __init__(self, path: str, size: "int | None" = None):
        self.path = path
        self.size = size


def _read_records(
    path: str, size: "int | None" = None, with_payload: bool = False
) -> Iterator[tuple]:
    with open(path, "rb") as fh:
        blob = fh.read() if size is None else fh.read(size)
    fid = path_blob_id(path)
    for i, payload in enumerate(iter_tfrecords(blob, strict=True)):
        base = (
            path, fid, i, len(payload),
            hashlib.md5(payload).hexdigest(),
        )
        yield (*base, bytearray(payload)) if with_payload else base


class TFRecordReader(DataSourceReader):
    def __init__(self, options: dict):
        self.with_payload = wants_payload(options)
        path = options.get("path")
        if not path:
            raise ValueError(
                "tfrecord source needs a path: .load('/shards/*.tfrecord')"
            )
        if os.path.isdir(path):
            paths = [
                p for p in glob.glob(os.path.join(path, "*"))
                if _is_tfrecord_file(p)
            ]
        else:
            paths = glob.glob(path)
        self.paths = sorted(p for p in paths if os.path.isfile(p))
        if not self.paths:
            raise FileNotFoundError(f"tfrecord source matched no files: {path}")

    def partitions(self) -> "list[InputPartition]":
        return [_TFRecordPartition(p) for p in self.paths]

    def read(self, partition: _TFRecordPartition) -> Iterator[tuple]:
        return _read_records(partition.path, with_payload=self.with_payload)


class TFRecordStreamReader(DataSourceStreamReader):
    """Tail a TFRecord shard directory; same atomic-placement offsets
    contract as the tar/WARC streams."""

    def __init__(self, options: dict):
        self.with_payload = wants_payload(options)
        self.dir = options.get("path")
        if not self.dir or not os.path.isdir(self.dir):
            raise ValueError("streaming tfrecord source needs a directory path")
        self._high: dict = {}

    def _listing(self) -> "list[list]":
        out = []
        for n in sorted(os.listdir(self.dir)):
            p = os.path.join(self.dir, n)
            if _is_tfrecord_file(n) and os.path.isfile(p):
                out.append([n, os.path.getsize(p)])
        return out

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        # MONOTONIC offsets: a seen shard that is
        # deleted and later re-placed must not be forgotten by the
        # offset (it would silently re-ingest as "new") — the high
        # watermark remembers every shard this reader has ever listed;
        # a reappearance at a DIFFERENT size still fails planning via
        # the changed-size guard.
        for n, size in self._listing():
            self._high[n] = size
        return {"seen": sorted([n, s] for n, s in self._high.items())}

    def partitions(self, start: dict, end: dict):
        seen = dict(map(tuple, start.get("seen", [])))
        changed = [
            (n, seen[n], size)
            for n, size in end.get("seen", [])
            if n in seen and size != seen[n]
        ]
        if changed:
            raise ValueError(
                "tfrecord stream: already-ingested shard(s) changed size — "
                "shards must be placed atomically and never mutated: "
                f"{changed}"
            )
        new = [(n, size) for n, size in end.get("seen", []) if n not in seen]
        return [
            _TFRecordPartition(os.path.join(self.dir, n), size)
            for n, size in new
        ] or [_TFRecordPartition("")]

    def read(self, partition: _TFRecordPartition) -> Iterator[tuple]:
        if not partition.path:
            return iter(())
        return _read_records(
            partition.path, partition.size, with_payload=self.with_payload
        )

    def commit(self, end: dict) -> None:
        pass


class TFRecordDataSource(DataSource):
    """``spark.read.format("tfrecord")`` /
    ``spark.readStream.format("tfrecord")``."""

    @classmethod
    def name(cls) -> str:
        return "tfrecord"

    def schema(self) -> T.StructType:
        if wants_payload(self.options):
            return TFRECORD_PAYLOAD_SCHEMA
        return TFRECORD_SOURCE_SCHEMA

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return TFRecordReader(self.options)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        return TFRecordStreamReader(self.options)


def register_tfrecord_source(spark) -> None:
    """Idempotent registration helper."""
    spark.dataSource.register(TFRecordDataSource)


def examples_to_columns(df, spec: "dict[str, str]", *, payload_col: str = "payload"):
    """Explode parsed tf.train.Example features into typed columns —
    the ingestion half a training pipeline runs right after the scan.
    ``spec`` maps feature name → kind ('bytes' | 'int64' | 'float');
    bytes features land as binary (first value of the BytesList),
    int64 as array<long>, float as array<double>.  Missing features
    yield NULL; a kind mismatch raises (schema drift should fail
    loudly, not coerce).  Zero shuffle — Arrow batches in, Arrow
    batches out."""
    from pyspark.sql import types as T2

    from aroa_etl_spark.operators.multimodal import blob_map

    fields = [f for f in df.schema.fields if f.name != payload_col]
    clash = sorted(set(spec) & {f.name for f in fields})
    if clash:
        raise ValueError(
            f"spec feature names collide with scan columns {clash}; "
            "rename via withColumnRenamed before exploding"
        )
    out_fields = list(fields)
    for name, kind in spec.items():
        if kind == "bytes":
            out_fields.append(T2.StructField(name, T2.BinaryType()))
        elif kind == "int64":
            out_fields.append(T2.StructField(name, T2.ArrayType(T2.LongType())))
        elif kind == "float":
            out_fields.append(T2.StructField(name, T2.ArrayType(T2.DoubleType())))
        else:
            raise ValueError(f"unknown kind {kind!r} for feature {name!r}")
    def columns(payload: bytes) -> list:
        parsed = parse_example(payload)
        rec = {}
        for name, kind in spec.items():
            got = parsed.get(name)
            if got is None:
                rec[name] = None
                continue
            gkind, values = got
            if gkind != kind:
                raise ValueError(
                    f"feature {name!r}: expected {kind}, shard has {gkind}"
                )
            if kind == "bytes":
                rec[name] = values[0] if values else None
            elif kind == "float":
                rec[name] = [float(v) for v in values]
            else:
                rec[name] = [int(v) for v in values]
        return [rec]

    return blob_map(
        df, T2.StructType(out_fields), columns,
        keys=[f.name for f in fields], args=[payload_col],
    )


def write_tfrecord_shards(
    df,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 1000,
    prefix: str = "shard",
):
    """Pack (id, text) rows into TFRecord shards of tf.train.Examples —
    the WRITE half of the TFRecord story (``format("tfrecord")`` is the
    read half), sharing the tar shard-writer's determinism contract:
    shard index = engine-standard md5 bucket of the id modulo the exact
    shard count, records ordered by id within a shard, each shard
    written by exactly one task and placed atomically (write to
    ``.inprogress``, rename in — the streaming-source contract).  Each
    record is an Example with features ``id`` (Int64List) and ``text``
    (BytesList), so any TFRecord consumer — this repo's source or
    TF-lineage loaders — reads the corpus back.

    Returns the (shard_path, n_records, shard_bytes) manifest as a
    DataFrame — the action that runs the write."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T2

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
        F.col(id_col).cast("long").alias("__id"),
        F.col(text_col).cast("string").alias("__text"),
        shard,
    ).repartition(n_shards, "__shard")
    manifest_schema = T2.StructType([
        T2.StructField("shard_path", T2.StringType()),
        T2.StructField("n_records", T2.LongType()),
        T2.StructField("shard_bytes", T2.LongType()),
    ])

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid = int(pdf["__shard"].iloc[0])
        path = os.path.join(out_dir, f"{prefix}-{sid:05d}.tfrecord")
        ordered = pdf.sort_values("__id")
        recs = [
            build_example({"id": [int(i)], "text": str(t or "")})
            for i, t in zip(ordered["__id"], ordered["__text"])
        ]
        blob = write_tfrecords(recs)
        tmp = path + ".inprogress"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame(
            [{"shard_path": path, "n_records": len(recs),
              "shard_bytes": len(blob)}]
        )

    return staged.groupBy("__shard").applyInPandas(pack, manifest_schema)


def tfrecord_batch_writer(
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 1000,
):
    """The foreachBatch function for the EXACTLY-ONCE streaming
    TFRecord sink: per micro-batch, pack the rows
    into deterministically named shards
    (``batch-{batch_id:05d}-shard-{sid:05d}.tfrecord``) and then
    commit a per-batch JSON manifest ATOMICALLY (write ``.inprogress``,
    rename in) under ``_manifests/``.  The manifest is the commit
    marker: a replayed batch (Structured Streaming re-delivers the
    SAME batch_id with the SAME data after a crash) whose manifest
    exists is a NO-OP, and a crash BETWEEN shard placement and
    manifest commit is healed by the replay overwriting every shard
    atomically before re-attempting the manifest — so readers that
    trust the manifests never observe duplicates or partial batches.
    This is the same monotonic-commit discipline the streaming
    TFRecord SOURCE keys its offsets on (ingested-file list), closing
    the write half of the lifecycle."""
    import json
    import os

    def write_batch(bdf, batch_id: int) -> None:
        mdir = os.path.join(out_dir, "_manifests")
        os.makedirs(mdir, exist_ok=True)
        mpath = os.path.join(mdir, f"batch-{int(batch_id):05d}.json")
        if os.path.exists(mpath):
            return  # committed: exactly-once replay contract
        rows = write_tfrecord_shards(
            bdf, out_dir,
            id_col=id_col, text_col=text_col,
            docs_per_shard=docs_per_shard,
            prefix=f"batch-{int(batch_id):05d}-shard",
        ).collect()
        manifest = sorted(
            (
                {
                    "shard_path": r.shard_path,
                    "n_records": int(r.n_records),
                    "shard_bytes": int(r.shard_bytes),
                }
                for r in rows
            ),
            key=lambda m: m["shard_path"],
        )
        tmp = mpath + ".inprogress"
        with open(tmp, "w") as fh:
            json.dump({"batch_id": int(batch_id), "shards": manifest}, fh)
        os.replace(tmp, mpath)

    return write_batch


def stream_tfrecord_sink(
    stream,
    out_dir: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 1000,
) -> None:
    """Drain a streaming DataFrame into exactly-once TFRecord shards
    (availableNow trigger, blocking) — writeStream.foreachBatch over
    :func:`tfrecord_batch_writer`, with the checkpoint directory
    carrying Spark's own batch-id ledger so a restarted query resumes
    at the right batch and re-delivers any uncommitted one."""
    q = (
        stream.writeStream.foreachBatch(
            tfrecord_batch_writer(
                out_dir, id_col=id_col, text_col=text_col,
                docs_per_shard=docs_per_shard,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_tfrecord_manifests(spark, out_dir: str):
    """The manifests as a DataFrame (batch_id, shard_path, n_records,
    shard_bytes) — the reader-side half of the audit join."""
    import glob
    import json
    import os

    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "_manifests", "*.json"))):
        with open(path) as fh:
            m = json.load(fh)
        for s in m["shards"]:
            rows.append((int(m["batch_id"]), s["shard_path"],
                         int(s["n_records"]), int(s["shard_bytes"])))
    return spark.createDataFrame(
        rows,
        "batch_id int, shard_path string, n_records bigint, shard_bytes bigint",
    )

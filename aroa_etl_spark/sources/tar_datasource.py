"""Tar shards as a first-class Spark DataSource:
``spark.read.format("tar")`` — the WebDataset read path.

WebDataset-style training corpora are directories of tar shards where
one shard = one tar and one sample = a few adjacently-stored members.
Spark 4's Python DataSource API lets the engine expose that layout
natively instead of the two-step ``binaryFile`` scan +
``parse_tar_members`` explode:

    spark.dataSource.register(TarDataSource)
    df = spark.read.format("tar").load("/corpus/shards/*.tar")

Rows carry the shard path, a stable 60-bit path hash (``shard_id``, the
engine's md5-prefix id family), and the member fields of
``sources/tarfmt.py``'s schema, parsed by the SAME hand-rolled USTAR
walk as the mapInPandas kernel so the two paths can never disagree
about member boundaries or checksums.  ``.option("payload", "true")``
appends the raw member bytes — the training-loader shape.

The scan/stream mechanics are the shared container model
(sources/container_datasource.py): one ``InputPartition`` per shard —
the natural WebDataset unit — with the member explosion fused into the
scan and zero shuffle; ``spark.readStream.format("tar")`` tails a shard
directory with monotonic ``[name, size, mtime_ns]`` offsets.  Shards
must land atomically (write elsewhere, rename in): a seen shard that
grows, shrinks, or is re-placed at the same size with a fresh mtime
fails planning loudly instead of silently dropping or skipping members.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import types as T

from aroa_etl_spark.sources.container_datasource import (
    make_container_datasource,
    path_blob_id,
)
from aroa_etl_spark.sources.tarfmt import TAR_MEMBERS_SCHEMA, parse_tar_blob

# the mapInPandas schema's media_id is the shard path hash here
_MEMBER_FIELDS = [f for f in TAR_MEMBERS_SCHEMA.fields if f.name != "media_id"]
_ROW_NAMES = [*(f.name for f in _MEMBER_FIELDS), "payload"]


def _parse_shard(blob: bytes, with_payload: bool = False) -> Iterator[dict]:
    # lazy: a task holds one member's payload at a time, not a copy of the shard
    return (
        dict(zip(_ROW_NAMES, row))
        for row in parse_tar_blob(blob, with_payload=with_payload)
    )


TarDataSource = make_container_datasource(
    "tar",
    (".tar",),
    _parse_shard,
    T.StructType([T.StructField("shard_id", T.LongType()), *_MEMBER_FIELDS]),
    id_field="shard_id",
    payload=T.StructField("payload", T.BinaryType()),
)
TAR_SOURCE_SCHEMA = TarDataSource.source_schema
TAR_SOURCE_PAYLOAD_SCHEMA = TarDataSource.payload_schema
TarStreamReader = TarDataSource.StreamReader
_path_shard_id = path_blob_id


def register_tar_source(spark) -> None:
    """Idempotent registration helper (re-registering is a no-op
    overwrite in the Python DataSource registry)."""
    spark.dataSource.register(TarDataSource)

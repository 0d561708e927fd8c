"""Factory for file-per-partition container DataSources.

WARC segments, mbox archives, and every other "directory of
self-contained container files" source share one scan model:

- batch: one ``InputPartition`` per file (the natural crawl/archive
  unit — thousands of files fan out to thousands of independent
  executor tasks, records explode inside the scan, no shuffle);
- streaming: offsets are the high-watermark ``[name, size, mtime_ns]``
  listing of files ever seen, each micro-batch ingests the newly
  appeared ones, and the atomic-placement contract is enforced LOUDLY
  (a seen file that grew, shrank, or was re-placed at the same size
  with a fresh mtime fails planning instead of silently dropping or
  skipping records; pre-existing two-field offsets skip the mtime
  comparison);
- identity: a stable 60-bit blob id from the file path (15 md5 hex
  chars — the engine's BIGINT-safe hash family).

``make_container_datasource`` stamps that model out for a concrete
format from four ingredients: the format name, the filename suffixes
that count as real container files (manifests/.tmp droppings in the
watched directory must never wedge the stream), the per-blob parse
function (bytes -> list[dict]), and the record schema — plus, for
formats whose readers may want the raw bytes, an optional payload
column behind ``.option("payload", "true")``.  The generated class
pickles by value (cloudpickle) to executors, with the parse function
resolving as a plain module-level import.

sources/warc_datasource.py, the mbox DataSource (sources/mbox.py) and
the tar DataSource (sources/tar_datasource.py) are instantiations — the
streaming semantics live here ONCE, so the growth guard, monotonic
offsets, and suffix filtering cannot drift between formats.
"""

from __future__ import annotations

import glob
import hashlib
import os
from typing import Callable, Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = ["make_container_datasource", "path_blob_id", "wants_payload"]


def path_blob_id(path: str) -> int:
    """Stable 60-bit id from the file path, deterministic across runs,
    executors, and retries."""
    return int(hashlib.md5(path.encode("utf-8")).hexdigest()[:15], 16)


def wants_payload(options: dict) -> bool:
    """True when the reader options ask for the raw payload column."""
    return str(options.get("payload", "false")).lower() in ("true", "1")


class _FilePartition(InputPartition):
    def __init__(self, path: str, size: int | None = None):
        self.path = path
        self.size = size


def make_container_datasource(
    fmt: str,
    suffixes: tuple,
    parse_blob: Callable,
    record_schema: T.StructType,
    id_field: str = "blob_id",
    payload: T.StructField | None = None,
) -> type:
    """Build a ``DataSource`` subclass for a container format.

    ``parse_blob(bytes) -> list[dict]`` supplies every record field
    except ``id_field`` (injected as the path hash) — the parser is
    shared VERBATIM with the format's mapInPandas kernel, so the
    DataSource and the explode path can never disagree about record
    boundaries.  The source schema is ``path`` + ``record_schema``.

    ``payload`` (a field, ``None`` for no payload column) is appended
    to the schema when the reader sets ``.option("payload", "true")``;
    ``parse_blob`` is then called with ``with_payload=True`` and fills
    it.  The default schema keeps scans that only fingerprint records
    from materializing their bytes."""
    source_schema = T.StructType(
        [T.StructField("path", T.StringType()), *record_schema.fields]
    )
    payload_schema = (
        T.StructType([*source_schema.fields, payload])
        if payload is not None
        else source_schema
    )
    fields = [f.name for f in record_schema.fields]
    sufs = tuple(s.lower() for s in suffixes)

    def is_container(name: str) -> bool:
        return name.lower().endswith(sufs)

    def with_payload(options: dict) -> bool:
        return payload is not None and wants_payload(options)

    def read_file(
        path: str, size: int | None = None, payload_on: bool = False
    ) -> Iterator[tuple]:
        # `size` caps the read at the byte length the planner observed,
        # so a file that grows between offset listing and executor read
        # still parses exactly the snapshot the offset describes
        with open(path, "rb") as fh:
            blob = fh.read() if size is None else fh.read(size)
        bid = path_blob_id(path)
        if payload_on:
            names, recs = [*fields, payload.name], parse_blob(blob, with_payload=True)
        else:
            names, recs = fields, parse_blob(blob)
        for rec in recs:
            yield (
                path,
                *[bid if f == id_field else rec.get(f) for f in names],
            )

    class Reader(DataSourceReader):
        def __init__(self, options: dict):
            self.payload_on = with_payload(options)
            path = options.get("path")
            if not path:
                raise ValueError(
                    f"{fmt} source needs a path: .load('/dir/*{sufs[0]}')"
                )
            if os.path.isdir(path):
                # directory load: only real container files are
                # segments — a manifest or in-flight .tmp must not
                # pollute the read
                paths = [
                    p
                    for p in glob.glob(os.path.join(path, "*"))
                    if is_container(p)
                ]
            else:
                paths = glob.glob(path)  # explicit glob: the caller chose it
            self.paths = sorted(p for p in paths if os.path.isfile(p))
            if not self.paths:
                raise FileNotFoundError(f"{fmt} source matched no files: {path}")

        def partitions(self) -> list:
            return [_FilePartition(p) for p in self.paths]

        def read(self, partition: _FilePartition) -> Iterator[tuple]:
            return read_file(partition.path, payload_on=self.payload_on)

    class StreamReader(DataSourceStreamReader):
        def __init__(self, options: dict):
            self.payload_on = with_payload(options)
            self.dir = options.get("path")
            if not self.dir or not os.path.isdir(self.dir):
                raise ValueError(f"streaming {fmt} source needs a directory path")
            self._high: dict = {}

        def _listing(self) -> list:
            # identity is (name, size, mtime_ns): size alone cannot see
            # an already-ingested file atomically RE-placed with
            # different content of the SAME size — placement is a
            # rename, so the replacement always carries a fresh mtime
            # even when sizes collide
            out = []
            for n in sorted(os.listdir(self.dir)):
                p = os.path.join(self.dir, n)
                if is_container(n) and os.path.isfile(p):
                    st = os.stat(p)
                    out.append([n, st.st_size, st.st_mtime_ns])
            return out

        def initialOffset(self) -> dict:
            return {"seen": []}

        def latestOffset(self) -> dict:
            # MONOTONIC offsets: a seen shard that is deleted and later
            # re-placed must not be forgotten by the offset (it would
            # silently re-ingest as "new") — the high watermark
            # remembers every shard this reader has ever listed; a
            # reappearance at a DIFFERENT size or mtime still fails
            # planning via the changed-identity guard
            for n, size, mtime in self._listing():
                self._high[n] = (size, mtime)
            return {
                "seen": sorted([n, s, m] for n, (s, m) in self._high.items())
            }

        @staticmethod
        def _seen_map(offset: dict) -> dict:
            # checkpoints written before the mtime field hold [name, size]
            # entries — treat their mtime as unknown (None skips the
            # mtime comparison)
            out = {}
            for e in offset.get("seen", []):
                n, size = e[0], e[1]
                out[n] = (size, e[2] if len(e) > 2 else None)
            return out

        def partitions(self, start: dict, end: dict):
            seen = self._seen_map(start)
            # ANY identity change on a seen file violates atomic
            # placement: growth means appended records would be dropped,
            # shrinkage or a same-size mtime change means the file was
            # re-placed with different content that would silently never
            # be read — all must fail planning
            changed = []
            for n, (size, mtime) in self._seen_map(end).items():
                if n not in seen:
                    continue
                old_size, old_mtime = seen[n]
                if size != old_size or (
                    old_mtime is not None
                    and mtime is not None
                    and mtime != old_mtime
                ):
                    changed.append((n, (old_size, old_mtime), (size, mtime)))
            if changed:
                raise ValueError(
                    f"{fmt} stream: already-ingested file(s) changed "
                    "size or mtime — segment files must be placed "
                    "atomically and never re-placed (write to a temp "
                    "name, rename into the directory): "
                    f"{changed}"
                )
            new = [
                (n, size)
                for n, (size, _m) in sorted(self._seen_map(end).items())
                if n not in seen
            ]
            return [
                _FilePartition(os.path.join(self.dir, n), size)
                for n, size in new
            ] or [_FilePartition("")]  # Spark requires >= 1 partition

        def read(self, partition: _FilePartition) -> Iterator[tuple]:
            if not partition.path:  # empty-batch placeholder
                return iter(())
            return read_file(partition.path, partition.size, self.payload_on)

        def commit(self, end: dict) -> None:
            pass  # offsets are self-describing; nothing external to ack

    class Source(DataSource):
        @classmethod
        def name(cls) -> str:
            return fmt

        def schema(self) -> T.StructType:
            return payload_schema if with_payload(self.options) else source_schema

        def reader(self, schema: T.StructType) -> DataSourceReader:
            return Reader(self.options)

        def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
            return StreamReader(self.options)

    Source.__name__ = f"{fmt.capitalize()}ContainerDataSource"
    Source.__qualname__ = Source.__name__
    Source.__doc__ = (
        f'``spark.read.format("{fmt}")`` / '
        f'``spark.readStream.format("{fmt}")`` — register once per '
        f"session via ``spark.dataSource.register(...)``."
    )
    # expose the internals for unit tests / aliasing by the format module
    Source.Reader = Reader
    Source.StreamReader = StreamReader
    Source.source_schema = source_schema
    Source.payload_schema = payload_schema
    return Source

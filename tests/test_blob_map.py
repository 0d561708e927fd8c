"""The shared per-blob runner (``multimodal.blob_map``) and its per-task
decode cache (``multimodal.task_blob_memo``).

The Spark tests cap ``spark.sql.execution.arrow.maxRecordsPerBatch``
so every task runs more than one Arrow batch; the pandas-level tests
drive the runner's kernel directly to pin the batch contract."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import types as T

from aroa_etl_spark.operators.multimodal import blob_map, task_blob_memo

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"

_IN = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("tag", T.StringType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("meta", T.StructType([T.StructField("k", T.IntegerType())])),
])

_OUT = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("part", T.IntegerType()),
    T.StructField("digest", T.StringType()),
    T.StructField("k", T.IntegerType()),
])


def _exploder():
    """k output rows per blob, k = first byte (0 for an empty blob).
    Built in a closure so the workers get it by value."""

    def explode(content: bytes, meta: dict) -> list:
        k = content[0] if content else 0
        return [
            {
                "part": j,
                "digest": hashlib.sha256(content + bytes([j])).hexdigest()[:12],
                "k": meta.get("k"),
            }
            for j in range(k)
        ]

    return explode


@pytest.fixture
def small_batches(spark):
    before = spark.conf.get(_BATCH_CONF)
    spark.conf.set(_BATCH_CONF, "2")
    try:
        yield spark
    finally:
        spark.conf.set(_BATCH_CONF, before)


def _frame(spark, blobs):
    rows = [
        (i, f"t{i}", None if b is None else bytearray(b), {"k": i % 3})
        for i, b in enumerate(blobs)
    ]
    return spark.createDataFrame(rows, _IN).coalesce(1)


def test_memo_on_and_off_give_identical_rows(small_batches):
    # repeated blobs, spread over several 2-row batches of one task
    blobs = [b"\x02abc", b"\x01xy", b"\x02abc", b"\x03zzz", b"\x01xy", b"\x02abc"] * 2
    df = _frame(small_batches, blobs)
    on = blob_map(df, _OUT, _exploder(), keys=["media_id"], args=["content", "meta"], memo=True)
    off = blob_map(df, _OUT, _exploder(), keys=["media_id"], args=["content", "meta"])
    assert on.schema == _OUT
    got_on = sorted(on.collect())
    assert got_on == sorted(off.collect())
    assert len(got_on) == sum(b[0] for b in blobs)


def test_zero_one_and_k_rows_per_blob(small_batches):
    blobs = [b"\x01a", b"\x04bbbb", b"\x00", b"\x00z", b"\x01c", b"\x00y"]
    out = blob_map(
        _frame(small_batches, blobs), _OUT, _exploder(),
        keys=["media_id"], args=["content", "meta"],
    ).collect()
    per_id = {}
    for r in out:
        per_id[r["media_id"]] = per_id.get(r["media_id"], 0) + 1
    assert per_id == {0: 1, 1: 4, 4: 1}
    # the 2-row batch of ids 2 and 3 emits nothing; a frame whose every
    # blob yields no row still has the declared columns
    none = blob_map(
        _frame(small_batches, [b"\x00"] * 5), _OUT, _exploder(),
        keys=["media_id"], args=["content", "meta"],
    )
    assert none.columns == [f.name for f in _OUT.fields]
    assert none.collect() == []


def test_null_content_and_struct_normalized(small_batches):
    seen = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("meta_keys", T.StringType()),
    ])

    def probe(content, meta):
        assert isinstance(content, bytes) and isinstance(meta, dict)
        return [{"n": len(content), "meta_keys": ",".join(sorted(meta))}]

    df = small_batches.createDataFrame(
        [(1, "a", None, None), (2, "b", bytearray(b"xyz"), {"k": 1})], _IN
    )
    got = sorted(blob_map(df, seen, probe, keys=["media_id"], args=["content", "meta"]).collect())
    assert [tuple(r) for r in got] == [(1, 0, ""), (2, 3, "k")]


def test_null_content_reaches_codec_as_empty_bytes(spark):
    """A NULL blob reaches the WebP decoder as b'' and fails with the
    codec's own error, not a TypeError from bytes(None)."""
    from aroa_etl_spark.operators.multimodal import webp_anim_stats, webp_yuv_stats

    df = spark.createDataFrame(
        [(1, None)],
        T.StructType([
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]),
    )
    for op in (webp_yuv_stats, webp_anim_stats):
        with pytest.raises(Exception, match="missing RIFF/WEBP header") as err:
            op(df).collect()
        assert "TypeError" not in str(err.value)


class _Capture:
    """Stands in for a DataFrame: records the projection and hands back
    the kernel ``blob_map`` would give ``mapInPandas``."""

    def __init__(self, schema):
        self.schema = schema

    def select(self, *cols):
        self.selected = [str(c) for c in cols]
        return self

    def mapInPandas(self, kernel, schema):  # noqa: N802 - Spark's name
        self.kernel = kernel
        return self


def _kernel(fn, **kw):
    return blob_map(_Capture(_IN), _OUT, fn, **kw)


def test_kernel_batches_keep_schema_columns_and_key_precedence(spark):
    calls = []

    def fn(content, meta):
        calls.append(content)
        if not content:
            return []
        # a value fn returns under a key's name wins over the key
        return [{"k": 7, "part": 0, "media_id": 99}] if content == b"own" else [{"part": 1}]

    cap = _kernel(fn, keys=["media_id", "tag"], args=["content", "meta"])
    assert len(cap.selected) == 4  # keys then args, each once
    batches = [
        pd.DataFrame({"media_id": [1, 2], "tag": ["a", "b"], "content": [None, b""],
                      "meta": [None, {"k": 1}]}),
        pd.DataFrame({"media_id": [3, 4], "tag": ["c", "d"], "content": [b"own", b"x"],
                      "meta": [{"k": 2}, None]}),
    ]
    out = list(cap.kernel(iter(batches)))
    assert [list(b.columns) for b in out] == [[f.name for f in _OUT.fields]] * 2
    assert out[0].empty
    own, other = out[1].to_dict("records")
    assert (own["media_id"], own["part"], own["k"]) == (99, 0, 7)
    assert pd.isna(own["digest"])
    assert (other["media_id"], other["part"]) == (4, 1)
    assert calls == [b"", b"", b"own", b"x"]


def test_kernel_memo_keys_on_all_args(spark):
    calls = []

    def fn(content, meta):
        calls.append((content, meta.get("k")))
        return [{"part": len(calls)}]

    cap = _kernel(fn, keys=["media_id"], args=["content", "meta"], memo=True)
    batch = pd.DataFrame({
        "media_id": [1, 2, 3, 4],
        "tag": ["a"] * 4,
        "content": [b"p", b"p", b"p", b"q"],
        "meta": [{"k": 1}, {"k": 1}, {"k": 2}, {"k": 1}],
    })
    (out,) = cap.kernel(iter([batch]))
    # the repeated (blob, meta) pair is computed once; a different meta
    # or blob is a new key
    assert calls == [(b"p", 1), (b"p", 2), (b"q", 1)]
    assert out["part"].tolist() == [1, 1, 2, 3]
    assert out["media_id"].tolist() == [1, 2, 3, 4]


def test_task_blob_memo_fifo_bound():
    memo = task_blob_memo(max_entries=2)
    calls = []

    def get(key):
        return memo(key, lambda: calls.append(key) or len(calls))

    assert get(b"a") == 1 and get(b"b") == 2
    assert get(b"a") == 1  # hit
    assert get(b"c") == 3  # evicts the OLDEST insert (b"a"), not the LRU
    assert get(b"b") == 2  # still cached
    assert get(b"a") == 4  # recomputed after eviction
    assert calls == [b"a", b"b", b"c", b"a"]


def test_task_blob_memo_large_keys_and_unhashable_fallback():
    memo = task_blob_memo()
    calls = []
    big = bytes(range(256)) * 4  # above the digest threshold
    assert memo((big, 1), lambda: calls.append("big") or "v") == "v"
    assert memo((bytearray(big), 1), lambda: calls.append("again") or "w") == "v"
    # an unhashable component computes uncached instead of raising
    for _ in range(2):
        assert memo((b"x", {"k": [1]}), lambda: calls.append("u") or "u") == "u"
    assert calls == ["big", "u", "u"]

"""Tests for the benchmark itself: seeded generators, output checks and
the metric names it prints.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.run import E2E_UNITS, per_layer_units
from perfbench.trace import Span, Tracer
from perfbench.workloads import EncConsensus, ScanIndex

ROOT = Path(__file__).resolve().parents[2]


# ---------------------------------------------------------------- generators

def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


@pytest.mark.parametrize("make", [
    lambda s: gen.gen_enc(s, 40).rows,
    lambda s: gen.gen_enc(s, 40).register,
    lambda s: gen.gen_scan(s, 20).members,
], ids=["enc", "register", "scan"])
def test_generators_are_seeded(make):
    assert _digest(make(7)) == _digest(make(7))
    assert _digest(make(7)) != _digest(make(8))


def _tree_digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.rglob("*")):
        if f.is_file():
            h.update(f.relative_to(path).as_posix().encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def test_input_files_byte_identical_per_seed(tmp_path):
    digests = []
    for run, seed in enumerate((3, 3, 4)):
        out = tmp_path / str(run)
        EncConsensus(60).generate(None, seed, str(out))  # writes without Spark
        digests.append(_tree_digest(out))
    assert digests[0] == digests[1] != digests[2]


def test_planted_truth_shapes():
    enc = gen.gen_enc(1, 50)
    assert len(enc.truth) == 50 and 150 <= len(enc.rows) <= 250
    # every mention (document or register card) has a planted entity, and
    # an entity's minimum member id is its document's id where it has one
    assert set(enc.entity_of) == set(range(50)) | {r[0] for r in enc.register}
    assert all(e == d for d, e in enc.entity_of.items() if d < 50)
    assert min(r[0] for r in enc.register) == gen.REGISTER_ID0
    scan = gen.gen_scan(1, 40)
    assert scan.dup_pairs and all(a < b for a, b in scan.dup_pairs)


# ---------------------------------------------------------------- metric names

def test_printed_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    from perfbench.run import SIZES

    assert {w["name"] for w in spec["workloads"]} <= set(SIZES)


def test_self_time_subtracts_union_of_children():
    tr = Tracer(None, engine=False)
    tr.spans = [Span("run", 0.0, 10.0), Span("a", 1.0, 4.0, parent=0),
                Span("b", 3.0, 6.0, parent=0), Span("c", 8.0, 9.0, parent=0)]
    assert tr.self_seconds(0) == pytest.approx(4.0)  # children cover [1, 6] and [8, 9]
    assert tr.self_seconds(1) == pytest.approx(3.0)


# ---------------------------------------------------------------- output checks

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from aroa_etl_spark.session import get_spark

    return get_spark(app_name="perfbench-tests",
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def _write(spark, rows, schema, path):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(str(path))


def test_enc_check_rejects_corrupt_output(spark, tmp_path):
    wl = EncConsensus(2)
    wl.truth, wl.records = {"d1": None, "d2": None}, 3
    wl.data = gen.EncInputs(rows=[], register=[(10,), (11,)])
    schema = "document_id string, deleted boolean"
    good = [("d1", True), ("d1", True), ("d2", True), ("d1", False), ("d2", False)]
    ent_schema = "person_id long, Person_Entity_ID long"
    match_schema = "srcID long, score double, trgID long"
    good_ent = [(0, 0), (1, 0), (10, 0), (11, 11)]
    good_m = [(0, 95.0, 10), (0, 81.0, 11), (1, -1.0, None)]
    _write(spark, good, schema, tmp_path / "consensus")
    _write(spark, good_ent, ent_schema, tmp_path / "entities")
    _write(spark, good_m, match_schema, tmp_path / "matches")
    assert wl.check(spark, str(tmp_path)) == []

    def failing():
        return [s for s, _ in wl.check(spark, str(tmp_path))]

    _write(spark, good + [("d2", False)], schema, tmp_path / "consensus")
    assert failing() == ["consensus"]
    _write(spark, good[1:], schema, tmp_path / "consensus")  # a raw row lost
    assert failing() == ["consensus"]
    _write(spark, good, schema, tmp_path / "consensus")
    for corrupt in ([(0, 0), (1, 0), (10, 1), (11, 11)],  # entity is not its min id
                    good_ent + [(1, 0)]):                   # a mention labelled twice
        _write(spark, corrupt, ent_schema, tmp_path / "entities")
        assert failing() == ["clustering"]
    _write(spark, good_ent, ent_schema, tmp_path / "entities")
    _write(spark, good_m + [(1, 40.0, 11)], match_schema, tmp_path / "matches")
    assert failing() == ["matching"]
    too_many = [(0, 90.0, t) for t in range(11)] + [(1, -1.0, None)]
    _write(spark, too_many, match_schema, tmp_path / "matches")
    assert failing() == ["matching"]
    _write(spark, good_m[:2], match_schema, tmp_path / "matches")  # a document unmatched
    assert failing() == ["matching"]


def test_scan_check_rejects_corrupt_output(spark, tmp_path):
    wl = ScanIndex(2)
    _write(spark, [(1, "a"), (2, "b")], "media_id long, text string", tmp_path / "scans")
    pair_schema = "id_a long, id_b long"
    _write(spark, [(1, 2)], pair_schema, tmp_path / "pairs")
    assert wl.check(spark, str(tmp_path)) == []
    _write(spark, [(1, 2), (2, 1)], pair_schema, tmp_path / "pairs")
    assert [s for s, _ in wl.check(spark, str(tmp_path))] == ["neardup"]
    _write(spark, [(1, 2)], pair_schema, tmp_path / "pairs")
    _write(spark, [(1, "a")], "media_id long, text string", tmp_path / "scans")  # a sample lost
    assert [s for s, _ in wl.check(spark, str(tmp_path))] == ["decode"]

"""Tests of the benchmark's input generators and metric list (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from parquet_converters_spark.schemas import RECORD_SIZE, V3  # noqa: E402
from parquet_converters_spark.sources.touch_binary import (  # noqa: E402
    read_touch_header,
)
from tests.reference_decode import decode_file  # noqa: E402

SMALL = {
    "touch2parquet": {"n_records": 3_000, "n_gids": 60},
    "parquet2sonata": {"n_edges": 3_000, "n_sources": 50, "n_targets": 40},
    "corpus_prep": {"n_docs": 200},
}


def _tree_bytes(path):
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(workload, tmp_path):
    make = gen.GENERATORS[workload]
    _, props_a = make(str(tmp_path / "a"), 7, **SMALL[workload])
    _, props_b = make(str(tmp_path / "b"), 7, **SMALL[workload])
    _, _ = make(str(tmp_path / "c"), 8, **SMALL[workload])
    a = _tree_bytes(tmp_path / "a")
    assert a and a == _tree_bytes(tmp_path / "b")
    assert props_a == props_b
    assert a != _tree_bytes(tmp_path / "c")


def test_touch_files_parse_as_v3(tmp_path):
    truth, props = gen.touch_files(str(tmp_path), 3, **SMALL["touch2parquet"])
    total = 0
    for rank in range(props["files"]):
        header = read_touch_header(str(tmp_path / f"touchesData.{rank}"))
        assert header.version == V3
        assert header.record_size == RECORD_SIZE[V3] == props["record_bytes"]
        assert not header.endian_swap
        total += header.record_count
    assert total == props["records"] == len(truth["records"])


def test_reference_decoder_agrees_with_generator(tmp_path):
    truth, props = gen.touch_files(str(tmp_path), 5, **SMALL["touch2parquet"])
    rec, sid = truth["records"], truth["synapse_id"]
    base = 0
    for rank in range(props["files"]):
        rows = list(decode_file(str(tmp_path / f"touchesData.{rank}")))
        for pos in (0, 1, len(rows) // 2, len(rows) - 1):
            row, want = rows[pos], rec[base + pos]
            assert row["synapse_id"] == sid[base + pos]
            assert row["pre_neuron_id"] == want["pre_neuron_id"]
            assert row["post_segment"] == want["post_segment"]
            assert row["branch_type"] == want["branch_type"]
            assert np.float32(row["distance_soma"]) == want["distance_soma"]
            assert np.array_equal(np.float32(row["post_position_surface"]),
                                  want["post_position_surface"])
        base += len(rows)
    assert base == props["records"]


def test_edge_index_shape(tmp_path):
    truth, props = gen.edge_files(str(tmp_path), 1, **SMALL["parquet2sonata"])
    # grouped by target: one range per target node; sources scattered
    assert props["target_to_source.ranges_per_edge"] == (
        props["target_nodes"] / props["edges"])
    assert props["source_to_target.ranges_per_edge"] > 10 * (
        props["target_to_source.ranges_per_edge"])
    assert np.all(np.diff(truth["columns"]["target_node_id"]) >= 0)


def test_corpus_shares(tmp_path):
    truth, props = gen.corpus_files(str(tmp_path), 1, **SMALL["corpus_prep"])
    n = props["docs"]
    assert truth["raw"] == n
    # exact copies collapse; near duplicates stay distinct texts
    assert truth["exact_unique"] == n - round(n * props["exact_dup_share"])
    # every copy, exact or near, belongs to one of the base documents
    n_copies = round(n * props["exact_dup_share"]) + round(
        n * props["near_dup_share"])
    assert truth["clusters"] == n - n_copies


def test_benchmark_json_lists_every_metric():
    import json

    import spans

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == (
        spans.per_layer_metrics())
    assert [w["name"] for w in bench["workloads"]] == sorted(
        gen.GENERATORS, key=list(gen.GENERATORS).index)

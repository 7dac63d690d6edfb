"""Layer-1 tests (SURVEY §5): analytic golden values for the adjacency
index builder, ported from the reference's tests/test_indexing.cpp
(10x10 dense bipartite graph, source ids offset by 90)."""

import pytest
from pyspark.sql import functions as F

NNODES = 10
SOURCE_OFFSET = 90


@pytest.fixture(scope="module")
def edges(spark):
    rows = [
        (SOURCE_OFFSET + i, j, i * NNODES + j)
        for i in range(NNODES)
        for j in range(NNODES)
    ]
    return spark.createDataFrame(
        rows, "source_node_id: long, target_node_id: long, row_index: long"
    )


def test_source_index(spark, edges):
    from parquet_converters_spark.operators import build_adjacency_index

    node_ranges, range_edges = build_adjacency_index(
        edges, "source_node_id", node_count=SOURCE_OFFSET + NNODES
    )
    nr = {r["node_id"]: (r["range_lo"], r["range_hi"]) for r in node_ranges.collect()}
    assert len(nr) == SOURCE_OFFSET + NNODES
    for i in range(SOURCE_OFFSET):
        assert nr[i] == (0, 0)  # absent sources padded (index.cpp:282-299)
    for i in range(NNODES):
        assert nr[SOURCE_OFFSET + i] == (i, i + 1)

    re_ = {r["range_id"]: (r["edge_start"], r["edge_end"]) for r in range_edges.collect()}
    assert len(re_) == NNODES
    for i in range(NNODES):
        assert re_[i] == (NNODES * i, NNODES * (i + 1))


def test_target_index(spark, edges):
    from parquet_converters_spark.operators import build_adjacency_index

    node_ranges, range_edges = build_adjacency_index(
        edges, "target_node_id", node_count=NNODES
    )
    nr = {r["node_id"]: (r["range_lo"], r["range_hi"]) for r in node_ranges.collect()}
    assert len(nr) == NNODES
    for i in range(NNODES):
        assert nr[i] == (NNODES * i, NNODES * (i + 1))

    re_ = {r["range_id"]: (r["edge_start"], r["edge_end"]) for r in range_edges.collect()}
    assert len(re_) == NNODES * NNODES
    # target i connects to every source: fragmented single-edge ranges
    for i in range(NNODES):
        for j in range(NNODES):
            assert re_[NNODES * i + j] == (NNODES * j + i, NNODES * j + i + 1)


def test_node_count_inferred(spark, edges):
    """A2: node_count = max(node_id)+1 when metadata absent
    (index.cpp:208-213)."""
    from parquet_converters_spark.operators import build_adjacency_index

    node_ranges, _ = build_adjacency_index(edges, "target_node_id")
    assert node_ranges.count() == NNODES


def test_run_merging(spark):
    """G4: runs split across partition boundaries merge into maximal
    ranges."""
    from parquet_converters_spark.operators import build_adjacency_index

    rows = [(0, 7, i) for i in range(50)]  # one node, one contiguous run
    df = spark.createDataFrame(
        rows, "a: long, target_node_id: long, row_index: long"
    ).repartition(8)
    node_ranges, range_edges = build_adjacency_index(
        df, "target_node_id", node_count=8
    )
    assert range_edges.count() == 1
    r = range_edges.first()
    assert (r["edge_start"], r["edge_end"]) == (0, 50)
    nr = {x["node_id"]: (x["range_lo"], x["range_hi"]) for x in node_ranges.collect()}
    assert nr[7] == (0, 1)
    assert nr[0] == (0, 0)


def test_fragmented_and_gapped(spark):
    """Interleaved keys -> multiple ranges per node, correct global
    node-major numbering."""
    from parquet_converters_spark.operators import build_adjacency_index

    # rows: key pattern 1,2,1,1,2 at positions 0..4
    rows = [(1, 0), (2, 1), (1, 2), (1, 3), (2, 4)]
    df = spark.createDataFrame(rows, "target_node_id: long, row_index: long")
    node_ranges, range_edges = build_adjacency_index(df, "target_node_id", node_count=3)
    re_ = {r["range_id"]: (r["edge_start"], r["edge_end"]) for r in range_edges.collect()}
    # node-major, start-ascending: node1 -> [0,1),[2,4); node2 -> [1,2),[4,5)
    assert re_ == {0: (0, 1), 1: (2, 4), 2: (1, 2), 3: (4, 5)}
    nr = {r["node_id"]: (r["range_lo"], r["range_hi"]) for r in node_ranges.collect()}
    assert nr == {0: (0, 0), 1: (0, 2), 2: (2, 4)}


@pytest.mark.parametrize("direction", ["source_node_id", "target_node_id"])
def test_scan_method_matches_window(spark, edges, direction):
    """The shuffle-free scan-order RLE must produce exactly the window
    method's index on the reference's analytic case."""
    from parquet_converters_spark.operators import build_adjacency_index

    nr_w, re_w = build_adjacency_index(edges, direction, method="window")
    nr_s, re_s = build_adjacency_index(edges, direction, method="scan")
    assert sorted(map(tuple, nr_w.collect())) == sorted(map(tuple, nr_s.collect()))
    assert sorted(map(tuple, re_w.collect())) == sorted(map(tuple, re_s.collect()))


def test_scan_rle_boundary_runs(spark):
    """Runs that span many partitions chain-merge correctly, including
    position gaps and string keys."""
    from parquet_converters_spark.operators.indexing import (
        run_length_ranges,
        run_length_ranges_scan,
    )

    rows = (
        [("a", i) for i in range(0, 500)]          # one long run spanning partitions
        + [("b", i) for i in range(500, 700)]
        + [("a", i) for i in range(800, 900)]      # gap: new run for a
        + [("c", 900)]                             # singleton
    )
    df = spark.createDataFrame(rows, "k: string, pos: long").repartition(16)
    got = sorted(map(tuple, run_length_ranges_scan(df, "k", "pos").collect()))
    want = sorted(map(tuple, run_length_ranges(df, "k", "pos").collect()))
    assert got == want
    assert ("a", 0, 500) in got and ("a", 800, 900) in got
    assert ("b", 500, 700) in got and ("c", 900, 901) in got


def test_rle_property_random(spark):
    """Property check over randomized inputs: both RLE methods agree,
    ranges are disjoint per key, and coverage equals the row count."""
    from hypothesis import given, settings, strategies as st

    from parquet_converters_spark.operators.indexing import (
        run_length_ranges,
        run_length_ranges_scan,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        keys=st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=60),
        gaps=st.sets(st.integers(min_value=1, max_value=59)),
    )
    def check(keys, gaps):
        # positions: mostly consecutive, with gaps injected
        rows, pos = [], 0
        for i, k in enumerate(keys):
            if i in gaps:
                pos += 3
            rows.append((int(k), pos))
            pos += 1
        df = spark.createDataFrame(rows, "k: long, p: long").repartition(5)
        got = sorted(map(tuple, run_length_ranges_scan(df, "k", "p").collect()))
        want = sorted(map(tuple, run_length_ranges(df, "k", "p").collect()))
        assert got == want
        assert sum(e - s for _, s, e in got) == len(rows)
        by_key = {}
        for k, s, e in got:
            by_key.setdefault(k, []).append((s, e))
        for spans in by_key.values():
            spans.sort()
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert e1 <= s2  # disjoint (equality would mean an unmerged run... )
                # runs of the same key must not be adjacent-and-contiguous
                assert not (e1 == s2)

    check()


def test_global_row_index_ordered_mode_is_hierarchical(spark):
    """Ordered mode must equal sorted enumeration (unique keys) and use
    the range-partition + offset pattern, not a global window."""
    from parquet_converters_spark.sources.ordering import with_global_row_index

    rows = [((i * 131) % 997, i) for i in range(997)]  # unique, scrambled
    df = spark.createDataFrame(rows, "k long, payload long").repartition(13)
    out = with_global_row_index(df, "idx", order_cols=["k"]).collect()
    got = sorted((r["k"], r["idx"]) for r in out)
    assert got == [(k, i) for i, k in enumerate(sorted(k for k, _ in rows))]


def _numpy_index(keys, n_nodes):
    """Reference index of ``keys`` (one key per edge, in row order):
    run-length -> lexsort (node, start) -> searchsorted per node."""
    import numpy as np

    keys = np.asarray(keys, dtype=np.int64)
    brk = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate(([0], brk))
    ends = np.concatenate((brk, [len(keys)]))
    nodes = keys[starts]
    order = np.lexsort((starts, nodes))
    nodes = nodes[order]
    range_to_edge = [(i, int(s), int(e))
                     for i, (s, e) in enumerate(zip(starts[order], ends[order]))]
    ids = np.arange(n_nodes)
    lo = np.searchsorted(nodes, ids, "left")
    hi = np.searchsorted(nodes, ids, "right")
    node_to_ranges = [(int(i), int(a), int(b)) if b > a else (int(i), 0, 0)
                      for i, a, b in zip(ids, lo, hi)]
    return node_to_ranges, range_to_edge


def _assert_scan_matches_numpy(spark, src, dst, n_src, n_dst, parts, seed=0):
    """Scan build of both directions over rows shuffled across ``parts``
    input partitions == the numpy reference index."""
    import random

    from parquet_converters_spark.operators import build_adjacency_index

    rows = [(int(s), int(t), i) for i, (s, t) in enumerate(zip(src, dst))]
    random.Random(seed).shuffle(rows)
    df = spark.createDataFrame(
        rows, "source_node_id long, target_node_id long, row_index long"
    ).repartition(parts)
    for key, keys, n in (("source_node_id", src, n_src),
                         ("target_node_id", dst, n_dst)):
        nr, re_ = build_adjacency_index(df, key, n, method="scan")
        want_nr, want_re = _numpy_index(keys, n)
        assert sorted(map(tuple, nr.collect())) == want_nr, key
        assert sorted(map(tuple, re_.collect())) == want_re, key


@pytest.mark.parametrize(
    "src, dst, n_src, n_dst, parts",
    [
        # node_count (17, 11) not a multiple of B (5)
        ([(i * 7) % 17 for i in range(40) for _ in range(3)],
         [i // 11 for i in range(120)], 17, 11, 5),
        # empty node blocks (B = 8, five nodes each: 10-19 and 25-34
        # have no edges) and edge-less nodes at block edges (4 | 5, 39)
        ([0, 0, 4, 5, 5, 21, 39, 4, 0, 21] * 6,
         [39, 38, 37, 0, 0, 0, 1, 2, 3, 3] * 6, 40, 40, 8),
        # runs crossing input-partition boundaries: long runs, 16 parts
        ([i // 25 for i in range(200)], [(i // 3) % 4 for i in range(200)],
         8, 4, 16),
        ([2], [0], 3, 1, 1),  # one row only
        ([0] * 30, [0] * 30, 1, 1, 6),  # a single node
    ],
    ids=["uneven-blocks", "empty-blocks", "cross-partition-runs",
         "one-row", "single-node"],
)
def test_scan_index_matches_numpy(spark, src, dst, n_src, n_dst, parts):
    _assert_scan_matches_numpy(spark, src, dst, n_src, n_dst, parts)


def test_scan_index_property_random(spark):
    """Randomized: run-structured keys, node counts and partition counts
    drawn independently; the scan build equals the numpy index."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        runs=st.lists(
            st.tuples(st.integers(0, 30), st.integers(1, 12)),
            min_size=1, max_size=25,
        ),
        extra_nodes=st.integers(0, 9),
        parts=st.integers(1, 12),
        seed=st.integers(0, 1000),
    )
    def check(runs, extra_nodes, parts, seed):
        src = [k for k, length in runs for _ in range(length)]
        dst = list(reversed(src))
        n = max(src) + 1 + extra_nodes
        _assert_scan_matches_numpy(spark, src, dst, n, n, parts, seed)

    check()


@pytest.mark.parametrize(
    "keys, bad",
    [([0, 3, 12, 1], "12"), ([0, -1, 2], "-1"), ([0, None, 2], "NULL")],
    ids=["above", "negative", "null"],
)
def test_scan_index_rejects_keys_outside_node_range(spark, keys, bad):
    """A key outside [0, node_count) would write range_to_edge_id rows no
    node points to: the build raises, naming the key and the bound, and
    releases what it materialised."""
    from parquet_converters_spark.operators import build_adjacency_index

    df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)],
        "source_node_id long, row_index long",
    )
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    with pytest.raises(ValueError, match=rf"'source_node_id' .*{bad}.*\[0, 10\)"):
        build_adjacency_index(df, "source_node_id", 10, method="scan")
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted

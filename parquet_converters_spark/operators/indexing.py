"""SONATA adjacency index builder (reference operators G1-G6, A2-A3).

The reference builds, for each direction (keyed by ``source_node_id`` then
``target_node_id``, ``src/index/index.cpp:309-324``), a two-level index
over the edge table's *global row order*:

- ``range_to_edge_id[r] = (edge_start, edge_end)`` — maximal runs of
  consecutive rows sharing the key (run-length grouping,
  ``index.cpp:114-137``), globally numbered node-major then start-ascending
  (sort ``:205-206``, all-to-all shuffle ``:215-249``, per-node re-merge
  ``:142-153``, prefix-sum placement ``:272-280``);
- ``node_id_to_ranges[node] = (range_lo, range_hi)`` — dense over
  ``[0, node_count)``, absent nodes get ``(0, 0)``
  (``index.cpp:282-299``).

Spark-first translation of the scan path (``method="scan"``, what
:func:`build_sonata_indices` and the SONATA writer run) — the reference's
shape, one shuffle per direction:

1. local run-length pass: a vectorised ``mapInArrow`` kernel encodes each
   input partition, in row order, into ``(node_id, range_start,
   range_end)`` runs (the G1 local pass);
2. one exchange of the runs — never the rows — by node block
   ``(node_id * B) // node_count``, with ``B`` the input's partition
   count (the G2 all-to-all);
3. per block, a second kernel re-merges runs that touch across input
   partitions (G4), ranks the block's ranges, emits the dense
   ``node_id_to_ranges`` rows of the block's node interval (one seed row
   per block, so blocks without edges still emit their nodes — G5 without
   a join) and one summary row (range count, min and max key);
4. that one tagged frame is ``localCheckpoint``-ed once; the summaries
   come back in one narrow job;
5. the driver's prefix sum over the block counts (the reference's
   Allgather, A3) becomes a literal offset map added to the block-local
   range numbers.

The summaries also check the precondition: a key outside
``[0, node_count)`` raises ``ValueError`` instead of writing
``range_to_edge_id`` rows no node points to.

``method="window"`` (gaps-and-islands per node, then the
``_global_rank`` partition-offset numbering and a ``spark.range`` dense
join) stays as the independent reference the tests compare against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from parquet_converters_spark.session import free_local_checkpoints


def _global_rank(df: DataFrame, sort_cols: list[str], out_col: str,
                 num_partitions: int | None = None) -> DataFrame:
    """Dense global 0-based rank over ``sort_cols`` without a
    single-partition window: repartitionByRange + per-partition
    row_number + driver-side prefix sum over per-partition counts."""
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *sort_cols)
    # persist: the count pass and the final plan must see the *same*
    # range-partitioning (its boundaries come from sampling)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {
        r["_pid"]: r["count"]
        for r in with_pid.groupBy("_pid").count().collect()
    }
    offsets, base = {}, 0
    for pid in sorted(counts):
        offsets[pid] = base
        base += counts[pid]
    offset_expr = F.create_map(
        *[F.lit(x) for pid, off in sorted(offsets.items()) for x in (pid, off)]
    )
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    return (
        with_pid.withColumn(
            out_col,
            (offset_expr[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_pid")
    )


def run_length_ranges(df: DataFrame, key: str, row_col: str) -> DataFrame:
    """G1+G4: maximal runs of consecutive ``row_col`` values sharing
    ``key`` -> (node_id, range_start, range_end) with end exclusive."""
    w = Window.partitionBy("node_id").orderBy("_pos")
    return (
        df.select(F.col(key).alias("node_id"), F.col(row_col).alias("_pos"))
        .withColumn("_island", F.col("_pos") - F.row_number().over(w))
        .groupBy("node_id", "_island")
        .agg(
            F.min("_pos").alias("range_start"),
            (F.max("_pos") + F.lit(1)).alias("range_end"),
        )
        .drop("_island")
    )


def _rle_partition(batches):
    """``mapInArrow`` kernel: run-length encode one partition's
    ``(node_id, _pos)`` rows in ``_pos`` order into
    ``(node_id, range_start, range_end, _edge)``, end exclusive.

    Numpy diff over the raw Arrow columns (no pandas); the partition is
    argsorted by position unless it is already in order (an ordered scan
    is).  ``_edge`` marks the partition's first and last run, the only
    ones that can continue in another partition."""
    import numpy as np
    import pyarrow as pa

    batches = [rb for rb in batches if rb.num_rows]
    if not batches:
        return
    nodes_arr = pa.concat_arrays([rb.column(0) for rb in batches])
    pos = pa.concat_arrays([rb.column(1) for rb in batches]).to_numpy()
    if np.any(pos[1:] < pos[:-1]):
        order = np.argsort(pos, kind="stable")
        pos = pos[order]
        nodes_arr = nodes_arr.take(pa.array(order))
    # dictionary-encode strings so the comparison is integer-wide
    if pa.types.is_string(nodes_arr.type) or pa.types.is_large_string(nodes_arr.type):
        node_codes = nodes_arr.dictionary_encode().indices.to_numpy(
            zero_copy_only=False
        )
    else:
        node_codes = nodes_arr.to_numpy(zero_copy_only=False)
    # run starts: node changes or position gaps
    brk = np.flatnonzero(
        (node_codes[1:] != node_codes[:-1]) | (pos[1:] != pos[:-1] + 1)
    )
    starts = np.concatenate(([0], brk + 1))
    ends = np.concatenate((brk, [len(pos) - 1]))
    edge = np.zeros(len(starts), dtype="int32")
    edge[0] = 1
    edge[-1] = 1
    yield pa.RecordBatch.from_arrays(
        [
            nodes_arr.take(pa.array(starts)),
            pa.array(pos[starts], type=pa.int64()),
            pa.array(pos[ends] + 1, type=pa.int64()),
            pa.array(edge, type=pa.int32()),
        ],
        names=["node_id", "range_start", "range_end", "_edge"],
    )


def run_length_ranges_scan(
    df: DataFrame,
    key: str,
    row_col: str,
    assume_scan_order: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """G1+G4 without a full-data shuffle: *local* run-length encoding
    per partition followed by a driver-side boundary fix-up, for keys of
    any type (strings included).

    1. ensure partitions hold contiguous ``row_col`` slices — free when
       the input comes straight off an ordered scan
       (``assume_scan_order=True``, e.g. `sources.ordering`), else one
       ``repartitionByRange``;
    2. :func:`_rle_partition` inside each partition;
    3. fix-up: non-edge runs are maximal already (within a partition
       the RLE merges everything mergeable); only the ≤2-per-partition
       edge runs can continue across a boundary.  They are collected
       (tiny), chain-merged on the driver, and unioned back.

    The adjacency index does not use this: it re-merges boundary runs
    per node block after its one exchange (:func:`scan_adjacency_index`).
    """
    spark = df.sparkSession
    node_t = dict(df.dtypes)[key]
    out_schema = f"node_id {node_t}, range_start long, range_end long, _edge int"

    src = df.select(F.col(key).alias("node_id"), F.col(row_col).alias("_pos"))
    if not assume_scan_order:
        parts = num_partitions or spark.sparkContext.defaultParallelism
        src = src.repartitionByRange(parts, "_pos")

    # persist: the edge-run collect and the interior filter must see the
    # SAME partitioning (repartitionByRange boundaries come from
    # sampling, so re-execution could split runs differently)
    runs = src.mapInArrow(_rle_partition, schema=out_schema).persist()
    interior = runs.filter(F.col("_edge") == 0).drop("_edge")

    # chain-merge the partition-boundary runs (≤ 2 per partition)
    edge_rows = sorted(
        runs.filter(F.col("_edge") == 1).drop("_edge").collect(),
        key=lambda r: r["range_start"],
    )
    merged: list[tuple] = []
    for r in edge_rows:
        if (
            merged
            and merged[-1][0] == r["node_id"]
            and merged[-1][2] == r["range_start"]
        ):
            merged[-1] = (merged[-1][0], merged[-1][1], r["range_end"])
        else:
            merged.append((r["node_id"], r["range_start"], r["range_end"]))
    edge_df = spark.createDataFrame(
        merged, schema=f"node_id {node_t}, range_start long, range_end long"
    )
    return interior.unionByName(edge_df)


def infer_node_count(df: DataFrame, key: str) -> int:
    """A2: ``max(node_id) + 1`` when no population size metadata exists
    (``index.cpp:208-213``)."""
    m = df.agg(F.max(F.col(key)).alias("m")).first()["m"]
    return int(m) + 1 if m is not None else 0


# tags of the per-block frame: (_tag, _blk, a, b, c)
_NODE, _RANGE, _SUMMARY = 0, 1, 2
_TAGGED_SCHEMA = "_tag int, _blk long, a long, b long, c long"


def _index_blocks(n_blocks: int, node_count: int):
    """``mapInArrow`` kernel over the runs exchanged by node block.

    Input ``(_blk, node_id, range_start, range_end)``: the local runs
    plus one empty seed run ``[0, 0)`` per block.  For every block in the
    partition it emits

    - ``_RANGE`` rows ``(rank, edge_start, edge_end)``: the block's runs,
      re-merged where they touch and ranked node-major, start-ascending;
    - ``_NODE`` rows ``(node_id, lo, hi)``: one per node of the block's
      interval ``[ceil(blk * N / B), ceil((blk + 1) * N / B))``, ranks
      block-local, ``(0, 0)`` for a node without edges;
    - one ``_SUMMARY`` row ``(n_ranges, min key, max key)``; a NULL key
      gives a summary with a NULL block and the number of such runs.
    """

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        batches = [rb for rb in batches if rb.num_rows]
        if not batches:
            return
        i64 = pa.int64()

        def rows(tag, blk, a, b, c):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(len(a), tag, np.int32)),
                    pa.array(blk, i64),
                    pa.array(a, i64),
                    pa.array(b, i64),
                    pa.array(c, i64),
                ],
                names=["_tag", "_blk", "a", "b", "c"],
            )

        blk_arr = pa.concat_arrays([rb.column(0) for rb in batches])
        if blk_arr.null_count:
            yield rows(_SUMMARY, [None], [blk_arr.null_count], [None], [None])
        valid = blk_arr.is_valid()
        blk, node, start, end = (
            pa.concat_arrays([rb.column(i) for rb in batches])
            .filter(valid)
            .to_numpy(zero_copy_only=False)
            for i in range(4)
        )
        present = np.unique(blk)
        real = end > start  # drops the seeds
        blk, node, start, end = blk[real], node[real], start[real], end[real]
        order = np.lexsort((start, node, blk))
        blk, node, start, end = blk[order], node[order], start[order], end[order]
        # G4 re-merge: a run continues its predecessor when both belong
        # to the same node and the predecessor ends where it starts
        head = np.ones(len(blk), dtype=bool)
        head[1:] = (
            (blk[1:] != blk[:-1]) | (node[1:] != node[:-1]) | (start[1:] != end[:-1])
        )
        heads = np.flatnonzero(head)
        tails = np.append(heads[1:], len(blk)) - 1 if len(blk) else heads
        blk, node, start, end = blk[heads], node[heads], start[heads], end[tails]

        first = np.searchsorted(blk, present, "left")
        last = np.searchsorted(blk, present, "right")
        rank = np.arange(len(blk)) - first[np.searchsorted(present, blk)]
        yield rows(_RANGE, blk, rank, start, end)
        for b, lo, hi in zip(present.tolist(), first.tolist(), last.tolist()):
            keys = node[lo:hi]
            yield rows(
                _SUMMARY, [b], [hi - lo],
                [keys[0] if len(keys) else None],
                [keys[-1] if len(keys) else None],
            )
            if not 0 <= b < n_blocks:
                continue  # out-of-range keys: the driver raises
            ids = np.arange(
                -(-b * node_count // n_blocks),
                -(-(b + 1) * node_count // n_blocks),
                dtype=np.int64,
            )
            r_lo = np.searchsorted(keys, ids, "left")
            r_hi = np.searchsorted(keys, ids, "right")
            empty = r_hi == r_lo
            r_lo[empty] = 0
            r_hi[empty] = 0
            yield rows(_NODE, np.full(len(ids), b, np.int64), ids, r_lo, r_hi)

    return kernel


def scan_adjacency_index(
    df: DataFrame,
    key: str,
    node_count: int | None = None,
    row_col: str = "row_index",
) -> tuple[DataFrame, DataFrame, int]:
    """One direction of the index the reference's way (module docstring,
    steps 1-5).  Returns ``(node_id_to_ranges, range_to_edge_id,
    n_ranges)``.

    Both frames read one ``localCheckpoint``; release it with
    :func:`parquet_converters_spark.session.free_local_checkpoints` on
    either frame once they are written.  Raises ``ValueError`` when a
    key is NULL or outside ``[0, node_count)``.
    """
    spark = df.sparkSession
    if node_count is None:
        node_count = infer_node_count(df, key)
    # B from the data: one block per input partition, at most one per
    # node (free on a scan or a cached frame; on a plan ending in an
    # exchange, AQE runs that exchange to count its partitions)
    n_blocks = max(1, min(df.rdd.getNumPartitions(), node_count))

    runs = (
        df.select(
            F.col(key).cast("long").alias("node_id"),
            F.col(row_col).alias("_pos"),
        )
        .mapInArrow(
            _rle_partition,
            "node_id long, range_start long, range_end long, _edge int",
        )
        .select(
            F.expr(f"(node_id * {n_blocks}) DIV {max(node_count, 1)}").alias("_blk"),
            "node_id", "range_start", "range_end",
        )
    )
    seeds = spark.range(0, n_blocks, 1, 1).select(
        F.col("id").alias("_blk"),
        *[F.lit(0).cast("long").alias(c)
          for c in ("node_id", "range_start", "range_end")],
    )
    tagged = (
        runs.unionByName(seeds)
        .repartition(n_blocks, "_blk")
        .mapInArrow(_index_blocks(n_blocks, node_count), _TAGGED_SCHEMA)
        .localCheckpoint(eager=True)
    )

    counts: dict[int, int] = {}
    for blk, n, kmin, kmax in (
        tagged.filter(F.col("_tag") == _SUMMARY).select("_blk", "a", "b", "c").collect()
    ):
        if blk is None:
            bad = f"is NULL on {n} runs"
        elif kmin is not None and not (0 <= kmin and kmax < node_count):
            bad = f"has value {kmin if kmin < 0 else kmax}"
        else:
            counts[blk] = n
            continue
        free_local_checkpoints(tagged)
        raise ValueError(
            f"adjacency index key {key!r} {bad}; node ids must lie in "
            f"[0, {node_count})"
        )

    offsets, n_ranges = [], 0
    for blk in range(n_blocks):
        offsets += [blk, n_ranges]
        n_ranges += counts.get(blk, 0)
    offset = F.create_map(*[F.lit(x) for x in offsets])[F.col("_blk")]

    def part(tag):
        return tagged.filter(F.col("_tag") == tag)

    has_edges = F.col("c") > F.col("b")
    node_id_to_ranges = part(_NODE).select(
        F.col("a").alias("node_id"),
        F.when(has_edges, F.col("b") + offset).otherwise(0).alias("range_lo"),
        F.when(has_edges, F.col("c") + offset).otherwise(0).alias("range_hi"),
    )
    range_to_edge_id = part(_RANGE).select(
        (F.col("a") + offset).alias("range_id"),
        F.col("b").alias("edge_start"),
        F.col("c").alias("edge_end"),
    )
    return node_id_to_ranges, range_to_edge_id, n_ranges


def build_adjacency_index(
    df: DataFrame,
    key: str,
    node_count: int | None = None,
    row_col: str = "row_index",
    method: str = "window",
) -> tuple[DataFrame, DataFrame]:
    """Build one direction of the adjacency index.

    Returns ``(node_id_to_ranges, range_to_edge_id)``:

    - ``node_id_to_ranges``: node_id, range_lo, range_hi — dense over
      [0, node_count), (0,0) when the node has no edges;
    - ``range_to_edge_id``: range_id, edge_start, edge_end — ordered
      node-major, start-ascending.

    ``method``: ``"window"`` (gaps-and-islands, shuffles rows by node
    twice) or ``"scan"`` (:func:`scan_adjacency_index`: local RLE, one
    exchange of the runs by node block — the reference's architecture,
    preferred at scale; its frames read a ``localCheckpoint``).
    """
    if method == "scan":
        node_id_to_ranges, range_to_edge_id, _ = scan_adjacency_index(
            df, key, node_count, row_col
        )
        return node_id_to_ranges, range_to_edge_id

    spark = df.sparkSession
    if node_count is None:
        node_count = infer_node_count(df, key)
    numbered = _global_rank(
        run_length_ranges(df, key, row_col), ["node_id", "range_start"], "range_id"
    )

    range_to_edge_id = numbered.select(
        "range_id",
        F.col("range_start").alias("edge_start"),
        F.col("range_end").alias("edge_end"),
    )

    per_node = numbered.groupBy("node_id").agg(
        F.min("range_id").alias("range_lo"),
        (F.max("range_id") + F.lit(1)).alias("range_hi"),
    )
    node_id_to_ranges = (
        spark.range(node_count)
        .withColumnRenamed("id", "node_id")
        .join(per_node, "node_id", "left")
        .na.fill({"range_lo": 0, "range_hi": 0})
        .select("node_id", "range_lo", "range_hi")
    )
    return node_id_to_ranges, range_to_edge_id


#: index direction -> the edge column it is keyed by (``index.cpp:24-31``)
INDEX_KEYS = {
    "source_to_target": "source_node_id",
    "target_to_source": "target_node_id",
}


def build_sonata_indices(
    df: DataFrame,
    source_node_count: int | None = None,
    target_node_count: int | None = None,
    row_col: str = "row_index",
    method: str = "scan",
) -> dict[str, tuple[DataFrame, DataFrame]]:
    """G6: both index directions, as written under
    ``indices/{source_to_target,target_to_source}``
    (``index.cpp:24-31,309-324``).  Defaults to the scan-order RLE
    (the scale path; see :func:`build_adjacency_index`)."""
    counts = {"source_to_target": source_node_count,
              "target_to_source": target_node_count}
    return {
        direction: build_adjacency_index(df, key, counts[direction], row_col, method)
        for direction, key in INDEX_KEYS.items()
    }

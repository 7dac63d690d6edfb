"""The three benchmark workloads: one operation each, its output check,
and its traced decomposition into layer spans.

An operation reads only the generated input files and writes into the
fresh directory it is given.  ``run`` returns the timed parts of the
operation plus whatever ``check`` needs; ``check`` runs outside the
timed region and raises ``CheckFailed`` on a wrong output.
"""

from __future__ import annotations

import glob
import inspect
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from pyspark.sql import functions as F

import gen
from parquet_converters_spark import pipelines
from parquet_converters_spark.functions.dedup import (
    near_dedup_pipeline,
    near_dedup_survivors,
)
from parquet_converters_spark.functions.text import quality_score
from parquet_converters_spark.operators.graph import connected_components
from parquet_converters_spark.operators.indexing import (
    build_adjacency_index,
    build_sonata_indices,
)
from parquet_converters_spark.operators.touch_transform import (
    to_canonical_edges,
    validate_sections,
)
from parquet_converters_spark.session import free_local_checkpoints
from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Reader
from parquet_converters_spark.sinks.parquet_sink import write_canonical_parquet
from parquet_converters_spark.sinks.sonata import (
    SonataBundleWriter,
    collect_kv_metadata,
    export_hdf5_parallel,
)
from parquet_converters_spark.sources.ordering import read_parquet_ordered
from parquet_converters_spark.sources.sonata_h5 import (
    read_sonata_edges_distributed,
    read_sonata_index_distributed,
)
from parquet_converters_spark.sources.touch_binary import (
    read_touch_header,
    read_touches,
)

DIRECTIONS = {"source_to_target": "source_node_id",
              "target_to_source": "target_node_id"}
INDEX_DATASETS = ("node_id_to_ranges", "range_to_edge_id")
#: the run-length method SonataBundleWriter's index build uses
INDEX_METHOD = inspect.signature(
    build_sonata_indices).parameters["method"].default


class CheckFailed(Exception):
    """An operation's output disagrees with the generator's truth."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def noop(df) -> None:
    """Materialize ``df`` without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


def du(path: str) -> int:
    """Bytes on disk under ``path`` (a file or a directory tree)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def timed_reads(read, repeats: int) -> float:
    """Median wall time of ``repeats`` calls of ``read()``; the first
    read after a write runs colder than the rest."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        read()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def persisted_rdds(spark) -> int:
    """RDDs the session currently keeps persisted or checkpointed."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def expected_index(keys: np.ndarray, n_nodes: int):
    """The SONATA adjacency index of ``keys`` (one key per edge, in
    global edge order): ``(node_id_to_ranges, range_to_edge_id)`` as
    ``(n, 2)`` int64 arrays, ranges numbered node-major then by start."""
    brk = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate(([0], brk))
    ends = np.concatenate((brk, [len(keys)]))
    nodes = keys[starts]
    order = np.lexsort((starts, nodes))
    nodes = nodes[order]
    range_to_edge = np.stack([starts[order], ends[order]], axis=1)
    ids = np.arange(n_nodes)
    lo = np.searchsorted(nodes, ids, "left")
    hi = np.searchsorted(nodes, ids, "right")
    node_to_ranges = np.where((hi > lo)[:, None], np.stack([lo, hi], axis=1), 0)
    return node_to_ranges.astype(np.int64), range_to_edge.astype(np.int64)


class Workload:
    """Inputs are generated once per benchmark run, under ``input_dir``.
    ``records`` is the input's record count (touches, edges or
    documents), read from the generator's ``props[record_key]``."""

    #: boundary -> boundary whose work its public call repeats
    self_minus: dict[str, str] = {}
    #: read-backs per operation; ~0.2-0.4 s reads are repeated so the
    #: median is a warm one, a ~3 s read-back runs once
    read_repeats = 5
    #: whether ``traced`` also times the read-back (``read_s``) in spans
    traces_read_back = False

    def __init__(self, spark, input_dir: str, seed: int):
        self.spark = spark
        self.input_dir = input_dir
        self.truth, self.props = gen.GENERATORS[self.name](input_dir, seed)
        self.records = self.props[self.record_key]
        self.input_bytes = du(input_dir)

    def run(self, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, result: dict, thorough: bool) -> None:
        """Raise ``CheckFailed`` unless ``result`` matches the truth.
        ``thorough`` adds checks too slow to run after every operation."""
        raise NotImplementedError

    def traced(self, tracer, out_dir: str) -> dict:
        raise NotImplementedError


class Touch2Parquet(Workload):
    name = "touch2parquet"
    record_key = "records"
    # the transform's public call re-runs the scan it consumes
    self_minus = {"touch_transform.project": "touch_binary.scan"}

    def run(self, out_dir):
        out = os.path.join(out_dir, "edges")
        t0 = time.perf_counter()
        pipelines.touch2parquet(self.spark, self.input_dir, out)
        t1 = time.perf_counter()
        read_s = timed_reads(lambda: noop(self.spark.read.parquet(out)),
                             self.read_repeats)
        return {"wall_s": t1 - t0, "read_s": read_s, "bytes_out": du(out),
                "out": out}

    def check(self, result, thorough):
        table = pq.read_table(result["out"])
        rec = self.truth["records"]
        _require(table.num_rows == len(rec),
                 f"rows {table.num_rows} != generated {len(rec)}")
        sid = table.column("synapse_id").to_numpy()
        order = np.argsort(sid)
        sid = sid[order]
        _require(bool(np.all(sid[1:] != sid[:-1])), "synapse_id not unique")
        t_order = np.argsort(self.truth["synapse_id"])
        _require(np.array_equal(sid, self.truth["synapse_id"][t_order]),
                 "synapse_id differs from the reference numbering")
        rec = rec[t_order]
        bt = rec["branch_type"].astype(np.int16)
        expect = {
            "source_node_id": rec["pre_neuron_id"],
            "target_node_id": rec["post_neuron_id"],
            "efferent_section_id": rec["pre_section"].astype(np.int16),
            "efferent_segment_id": rec["pre_segment"].astype(np.int16),
            "afferent_section_id": rec["post_section"].astype(np.int16),
            "afferent_segment_id": rec["post_segment"].astype(np.int16),
            "efferent_segment_offset": rec["pre_offset"],
            "afferent_segment_offset": rec["post_offset"],
            "distance_soma": rec["distance_soma"],
            "branch_order": rec["branch"].astype(np.int8),
            "efferent_section_pos": rec["pre_section_fraction"],
            "afferent_section_pos": rec["post_section_fraction"],
            "spine_length": rec["spine_length"],
            "efferent_section_type": ((bt >> 4) & 0xF) + 1,
            "afferent_section_type": (bt & 0xF) + 1,
        }
        for field, prefix in (("pre_position", "efferent_surface"),
                              ("post_position", "afferent_center"),
                              ("pre_position_center", "efferent_center"),
                              ("post_position_surface", "afferent_surface")):
            for i, ax in enumerate("xyz"):
                expect[f"{prefix}_{ax}"] = rec[field][:, i]
        for col, want in expect.items():
            got = table.column(col).to_numpy()[order]
            # compare raw bits: exact, and NaN-safe for floats
            bits = f"u{got.dtype.itemsize}"
            _require(np.array_equal(got.view(bits),
                                    want.astype(got.dtype).view(bits)),
                     f"column {col} differs")

    def traced(self, tracer, out_dir):
        spark = self.spark
        files = sorted(glob.glob(os.path.join(self.input_dir, "touchesData.*")))
        with tracer.span("touch_binary.header"):
            headers = [read_touch_header(p) for p in files]
        with tracer.span("touch_binary.scan"):
            noop(read_touches(spark, self.input_dir))
        partitions = read_touches(spark, self.input_dir).rdd.getNumPartitions()
        version = headers[0].version
        with tracer.span("touch_transform.project"):
            raw = validate_sections(read_touches(spark, self.input_dir))
            noop(to_canonical_edges(raw, version))
        out = os.path.join(out_dir, "edges")
        edges = to_canonical_edges(raw, version)
        # the footer stamp pipelines.touch2parquet writes
        kv = {"touch2parquet_version": "parquet_converters_spark",
              "touchdetector_version": headers[0].version_string}
        with tracer.span("parquet_sink.write"):
            write_canonical_parquet(edges, out, kv_metadata=kv)
        return {
            "touch_binary.partitions": partitions,
            "parquet_sink.files": len(glob.glob(os.path.join(out, "*.parquet"))),
            "parquet_sink.bytes": du(out),
        }


class Parquet2Sonata(Workload):
    name = "parquet2sonata"
    record_key = "edges"
    read_repeats = 1
    traces_read_back = True

    @property
    def population(self) -> str:
        return self.truth["population"]

    @property
    def node_counts(self) -> dict[str, int]:
        return {"source_to_target": self.truth["n_sources"],
                "target_to_source": self.truth["n_targets"]}

    def _read_edges(self, h5):
        noop(read_sonata_edges_distributed(self.spark, h5, self.population))

    def _read_index(self, h5):
        for direction in DIRECTIONS:
            for dataset in INDEX_DATASETS:
                noop(read_sonata_index_distributed(
                    self.spark, h5, self.population, direction, dataset))

    def _read_back(self, h5):
        self._read_edges(h5)
        self._read_index(h5)

    def run(self, out_dir):
        bundle = os.path.join(out_dir, "bundle")
        h5 = os.path.join(out_dir, "edges.h5")
        t0 = time.perf_counter()
        pipelines.parquet_to_sonata(self.spark, self.input_dir, bundle,
                                    population=self.population, h5_path=h5,
                                    parallel_h5=True)
        t1 = time.perf_counter()
        read_s = timed_reads(lambda: self._read_back(h5), self.read_repeats)
        return {"wall_s": t1 - t0, "read_s": read_s,
                "bytes_out": du(bundle) + du(h5), "bundle": bundle, "h5": h5}

    def check(self, result, thorough):
        self._check_against_truth(result["h5"])
        if thorough:
            self._check_with_compare_tools(result)

    def _check_against_truth(self, h5):
        """Every edge column and all four index datasets of the ``.h5``
        against the generator's columns and a numpy index build."""
        t = self.truth
        r = MiniH5Reader(h5)
        base = f"/edges/{self.population}"
        for col, want in t["columns"].items():
            if col == "synapse_id":
                continue  # dropped by the SONATA writer
            path = (f"{base}/{col}" if col.endswith("_node_id")
                    else f"{base}/0/{col}")
            got = r.read_dataset(path)
            bits = f"u{want.dtype.itemsize}"
            _require(got.dtype == want.dtype
                     and np.array_equal(got.view(bits), want.view(bits)),
                     f"{path} differs from the input column")
        nodes = self.node_counts
        for direction, key in DIRECTIONS.items():
            expected = expected_index(t["columns"][key], nodes[direction])
            for dataset, want in zip(INDEX_DATASETS, expected):
                path = f"{base}/indices/{direction}/{dataset}"
                got = r.read_dataset(path)
                _require(np.array_equal(got.astype(np.int64), want),
                         f"{path} differs from the expected index")

    def _check_with_compare_tools(self, result):
        spark, pop, t = self.spark, self.population, self.truth
        cols = pipelines.compare_parquet_h5(
            spark, self.input_dir, result["h5"], pop).collect()
        _require(len(cols) > 0, "no edge columns compared")
        for r in cols:
            _require(r["n_rows"] == t["n_edges"] and r["n_mismatch"] == 0,
                     f"edge column {r['column']}: {r['n_mismatch']} mismatches"
                     f" over {r['n_rows']} rows")
        nodes = self.node_counts
        idx = pipelines.compare_indices_h5(
            spark, result["bundle"], result["h5"], pop).collect()
        _require(len(idx) == 4, f"{len(idx)} index datasets compared, not 4")
        for r in idx:
            _require(r["n_mismatch"] == 0,
                     f"index {r['dataset']}: {r['n_mismatch']} mismatches")
            direction, dataset = r["dataset"].split("/")
            if dataset == "node_id_to_ranges":
                _require(r["n_rows"] == nodes[direction],
                         f"{r['dataset']}: {r['n_rows']} rows, "
                         f"{nodes[direction]} nodes")

    def traced(self, tracer, out_dir):
        spark, pop, t = self.spark, self.population, self.truth
        bundle = os.path.join(out_dir, "bundle")
        h5 = os.path.join(out_dir, "edges.h5")
        with tracer.span("ordering.scan"):
            noop(read_parquet_ordered(spark, self.input_dir))
        with tracer.span("sonata.bundle"):
            SonataBundleWriter(bundle, pop).write(
                read_parquet_ordered(spark, self.input_dir),
                kv_metadata=collect_kv_metadata(self.input_dir),
                with_index=False,
            )
        # build_sonata_indices builds both directions in one call, with
        # eager jobs: time each direction alone through the same function
        # and method, over the cached ordered table the writer indexes
        table = read_parquet_ordered(spark, self.input_dir).persist()
        noop(table)
        nodes = self.node_counts
        for direction, key in DIRECTIONS.items():
            with tracer.span(f"indexing.{direction}"):
                for df in build_adjacency_index(table, key, nodes[direction],
                                                method=INDEX_METHOD):
                    noop(df)
        table.unpersist(blocking=True)
        # the export reads the index from the bundle: write the bundle
        # again, untimed, through the writer, with the index and its layout
        SonataBundleWriter(bundle, pop).write(
            read_parquet_ordered(spark, self.input_dir),
            kv_metadata=collect_kv_metadata(self.input_dir),
        )
        counts = {}
        for direction in DIRECTIONS:
            n_ranges = pq.ParquetDataset(os.path.join(
                bundle, "edges", pop, "indices", direction,
                "range_to_edge_id.parquet")).read(columns=["range_id"]).num_rows
            counts[f"indexing.{direction}.ranges_per_edge"] = (
                n_ranges / t["n_edges"])
        with tracer.span("sonata.export_h5"):
            export_hdf5_parallel(spark, bundle, pop, h5)
        counts["sonata.h5_bytes"] = du(h5)
        with tracer.span("sonata_h5.read_edges"):
            self._read_edges(h5)
        with tracer.span("sonata_h5.read_index"):
            self._read_index(h5)
        return counts


class CorpusPrep(Workload):
    name = "corpus_prep"
    record_key = "docs"

    def run(self, out_dir):
        spark = self.spark
        out = os.path.join(out_dir, "survivors")
        docs = spark.read.parquet(self.input_dir)
        t0 = time.perf_counter()
        clean, report = pipelines.prepare_corpus(docs)
        clean.write.parquet(out)
        stages = {r["stage"]: r["n_docs"] for r in report.collect()}
        t1 = time.perf_counter()
        # release what the API hands back: the survivors' checkpoint
        free_local_checkpoints(clean)
        read_s = timed_reads(lambda: noop(spark.read.parquet(out)),
                             self.read_repeats)
        return {"wall_s": t1 - t0, "read_s": read_s, "bytes_out": du(out),
                "out": out, "stages": stages}

    def check(self, result, thorough):
        stages, t = result["stages"], self.truth
        for stage in ("raw", "quality", "exact_unique"):
            _require(stages.get(stage) == t[stage],
                     f"report {stage}={stages.get(stage)}, truth {t[stage]}")
        # near-dedup may only merge a base document with its own copies
        near = stages.get("near_unique")
        _require(near is not None
                 and t["clusters"] <= near <= stages["exact_unique"],
                 f"near_unique {near} outside [{t['clusters']} base "
                 f"documents, {stages['exact_unique']} exact_unique]")
        written = pq.ParquetDataset(result["out"]).read(
            columns=["doc_id"]).num_rows
        _require(written == near,
                 f"{written} survivors written, report says {near}")

    def traced(self, tracer, out_dir):
        # the quality gate with prepare_corpus's own defaults
        p = inspect.signature(pipelines.prepare_corpus).parameters
        n = F.length("text")
        gate = ((n >= p["min_len"].default) & (n <= p["max_len"].default)
                & (quality_score("text") >= p["min_quality"].default))
        docs = self.spark.read.parquet(self.input_dir)
        with tracer.span("text.quality"):
            quality = docs.filter(gate).persist()
            noop(quality)
        with tracer.span("dedup.candidates"):
            groups, pairs = near_dedup_pipeline(
                quality, num_hashes=p["num_hashes"].default,
                bands=p["bands"].default, pair_distinct=False)
            groups = groups.persist()
            noop(groups)
            pairs = pairs.localCheckpoint(eager=True)
        n_pairs = pairs.count()
        with tracer.span("graph.components"):
            comps = connected_components(pairs, "id_a", "id_b",
                                         materialize=True)
        with tracer.span("dedup.survivors"):
            clean = near_dedup_survivors(quality, precomputed=(groups, pairs),
                                         materialize=True)
        removed = groups.count() - clean.count()
        for df in (clean, comps, pairs):
            free_local_checkpoints(df)
        quality.unpersist(blocking=True)
        groups.unpersist(blocking=True)
        return {
            "dedup.candidate_pairs": n_pairs,
            "dedup.useful_pair_ratio": removed / n_pairs if n_pairs else 0.0,
        }


WORKLOADS = {w.name: w for w in (Touch2Parquet, Parquet2Sonata, CorpusPrep)}

"""Seeded input generators for the three benchmark workloads.

Each generator writes its inputs under ``out_dir`` and returns
``(truth, props)``: ``truth`` is what the output checks compare against,
``props`` the input properties that drive the program's behaviour
(printed by the benchmark, recorded in the traced run).  The same seed
gives the same bytes on disk.

Only numpy, pyarrow, the repo's record layouts (``schemas``) and the
connected-components cut-over constant are used, so the generators share
no code path with the conversion they feed.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from parquet_converters_spark.operators.graph import (
    _CC_DRIVER_MAX_EDGES as CC_DRIVER_MAX_EDGES,
)
from parquet_converters_spark.schemas import V3, edge_schema, touch_dtype

TOUCH_VERSION_STRING = b"6.0.0"
ARCHITECTURE_IDENTIFIER = 1.001
EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"]


def _run_lengths(rng, n_keys: int, total: int) -> np.ndarray:
    """``n_keys`` positive run lengths summing exactly to ``total``,
    skewed by gamma-distributed weights (so runs differ in length)."""
    weights = rng.gamma(2.0, size=n_keys)
    return 1 + rng.multinomial(total - n_keys, weights / weights.sum())


def _runs(keys: np.ndarray) -> int:
    """Number of maximal runs of equal consecutive values."""
    return int(len(keys) and 1 + np.count_nonzero(keys[1:] != keys[:-1]))


# --------------------------------------------------------------------------
# touch2parquet: V3 touch files, one per touchdetector rank
# --------------------------------------------------------------------------


def touch_files(out_dir: str, seed: int, n_records: int = 400_000,
                n_files: int = 4, n_gids: int = 4_000):
    """Write ``touchesData.<rank>`` (packed 104-byte V3 records, grouped
    by pre gid) and ``touches.<rank>`` (32-byte header + one
    ``NeuronInfo {int id; uint32 count; int64 offset}`` per gid) for
    ``n_files`` ranks.  Each rank owns a contiguous block of pre gids,
    so synapse ids are unique across files.

    ``truth["records"]`` is the concatenation of all records in sorted
    file order; ``truth["synapse_id"]`` the id the reference assigns
    each of them (``gid << 24`` + position within the gid's run)."""
    rng = np.random.default_rng(seed)
    dt = touch_dtype(V3)
    counts = _run_lengths(rng, n_gids, n_records)
    gid_blocks = np.array_split(np.arange(n_gids), n_files)
    os.makedirs(out_dir, exist_ok=True)
    all_recs, all_sids = [], []
    for rank, gids in enumerate(gid_blocks):
        c = counts[gids]
        n = int(c.sum())
        rec = np.zeros(n, dtype=dt)
        pre = np.repeat(gids, c).astype(np.int32)
        rec["pre_neuron_id"] = pre
        rec["post_neuron_id"] = rng.integers(0, n_gids, n, dtype=np.int32)
        for name, hi in (("pre_section", 5000), ("pre_segment", 300),
                         ("post_section", 5000), ("post_segment", 300),
                         ("branch", 60)):
            rec[name] = rng.integers(0, hi, n, dtype=np.int32)
        for name, scale in (("distance_soma", 2000.0), ("pre_offset", 10.0),
                            ("post_offset", 10.0), ("pre_section_fraction", 1.0),
                            ("post_section_fraction", 1.0), ("spine_length", 5.0)):
            rec[name] = rng.random(n, dtype=np.float32) * np.float32(scale)
        for name in ("pre_position", "post_position", "pre_position_center",
                     "post_position_surface"):
            rec[name] = rng.random((n, 3), dtype=np.float32) * np.float32(1000.0)
        rec["branch_type"] = rng.integers(0, 256, n, dtype=np.uint8)

        starts = np.concatenate(([0], np.cumsum(c)[:-1]))
        index = np.arange(n) - np.repeat(starts, c)
        all_sids.append((pre.astype(np.int64) << 24) + index)
        all_recs.append(rec)

        with open(os.path.join(out_dir, f"touchesData.{rank}"), "wb") as f:
            f.write(rec.tobytes())
        info = np.zeros(len(gids), dtype=[("id", "<i4"), ("count", "<u4"),
                                           ("offset", "<i8")])
        info["id"] = gids
        info["count"] = c
        info["offset"] = starts * dt.itemsize
        header = struct.pack("<dq16s", ARCHITECTURE_IDENTIFIER, len(gids),
                             TOUCH_VERSION_STRING)
        with open(os.path.join(out_dir, f"touches.{rank}"), "wb") as f:
            f.write(header + info.tobytes())

    truth = {
        "records": np.concatenate(all_recs),
        "synapse_id": np.concatenate(all_sids),
    }
    props = {
        "records": n_records,
        "files": n_files,
        "gids": n_gids,
        "max_gid_run": int(counts.max()),
        "record_bytes": dt.itemsize,
    }
    return truth, props


# --------------------------------------------------------------------------
# parquet2sonata: functionalizer-style parquet edge files
# --------------------------------------------------------------------------

#: the canonical V3 edge table: non-nullable, SONATA-named columns
EDGE_SCHEMA = to_arrow_schema(edge_schema(V3))


def edge_files(out_dir: str, seed: int, n_edges: int = 50_000,
               n_files: int = 4, n_sources: int = 3_000,
               n_targets: int = 2_000, population: str = "default"):
    """Write ``n_files`` parquet edge files (canonical edge columns,
    non-nullable, population names and sizes in the footer KV) plus the
    ``_metadata`` sidecar.  Edges are grouped by target node and sorted
    by source within a target, as functionalizer writes them, so the
    target->source index has one range per node while source->target
    has about one range per edge.

    ``truth`` holds every column in global order and the node counts."""
    rng = np.random.default_rng(seed)
    per_target = _run_lengths(rng, n_targets, n_edges)
    tgt = np.repeat(np.arange(n_targets, dtype=np.int32), per_target)
    src = rng.integers(0, n_sources, n_edges, dtype=np.int32)
    order = np.lexsort((src, tgt))
    src, tgt = src[order], tgt[order]

    cols = {"synapse_id": np.arange(n_edges, dtype=np.int64),
            "source_node_id": src, "target_node_id": tgt}
    for field in list(EDGE_SCHEMA)[3:]:
        if field.type == pa.float32():
            cols[field.name] = (rng.random(n_edges, dtype=np.float32)
                                * np.float32(100.0))
        elif field.type == pa.int16():
            cols[field.name] = rng.integers(0, 3000, n_edges, dtype=np.int16)
        else:
            cols[field.name] = rng.integers(0, 16, n_edges, dtype=np.int8)

    kv = {
        "source_population_name": f"{population}_src",
        "target_population_name": f"{population}_tgt",
        "source_population_size": str(n_sources),
        "target_population_size": str(n_targets),
    }
    schema = EDGE_SCHEMA.with_metadata(kv)
    table = pa.table([cols[f.name] for f in schema], schema=schema)
    os.makedirs(out_dir, exist_ok=True)
    collector = []
    bounds = np.linspace(0, n_edges, n_files + 1).astype(int)
    for i in range(n_files):
        name = f"edges.{i:04d}.parquet"
        path = os.path.join(out_dir, name)
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path,
                       compression="snappy", metadata_collector=collector)
        collector[-1].set_file_path(name)
    pq.write_metadata(schema, os.path.join(out_dir, "_metadata"),
                      metadata_collector=collector)

    truth = {"columns": cols, "n_sources": n_sources, "n_targets": n_targets,
             "n_edges": n_edges, "population": population}
    props = {
        "edges": n_edges,
        "files": n_files,
        "source_nodes": n_sources,
        "target_nodes": n_targets,
        "source_to_target.ranges_per_edge": _runs(src) / n_edges,
        "target_to_source.ranges_per_edge": _runs(tgt) / n_edges,
    }
    return truth, props


# --------------------------------------------------------------------------
# corpus_prep: synthetic documents with planted exact and near duplicates
# --------------------------------------------------------------------------


def corpus_files(out_dir: str, seed: int, n_docs: int = 5_000,
                 exact_share: float = 0.2, near_share: float = 0.2,
                 n_files: int = 4, vocab_size: int = 20_000):
    """Write ``n_docs`` documents ``(doc_id long, text string)`` as
    ``n_files`` parquet files.  ``exact_share`` of them copy a base
    document's text verbatim; ``near_share`` copy a base document with
    one word replaced.  Every document passes the quality gate of
    ``prepare_corpus`` (50..10000 chars, letters and spaces only, mean
    word length 3..10, at least two English stopwords), so the
    ``quality`` stage keeps them all.

    ``truth`` carries the report counts ``raw``/``quality``/
    ``exact_unique`` and ``clusters``, the number of distinct base
    texts; near_unique depends on LSH recall and lies between the two."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(4, 10, vocab_size)
    vocab = ["".join(rng.choice(letters, k)) for k in lengths]

    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_base = n_docs - n_exact - n_near

    def doc_words():
        n = int(rng.integers(40, 120))
        words = [vocab[i] for i in rng.integers(0, vocab_size, n)]
        stops = rng.choice(len(EN_STOPWORDS), 3, replace=False)
        for pos, s in zip(rng.choice(n, 3, replace=False), stops):
            words[pos] = EN_STOPWORDS[s]
        return words

    base = [doc_words() for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    for b in rng.integers(0, n_base, n_near):
        words = list(base[b])
        pos = int(rng.integers(0, len(words)))
        repl = vocab[int(rng.integers(0, vocab_size))]
        words[pos] = repl if repl != words[pos] else repl + "x"
        texts.append(" ".join(words))
    texts += [texts[b] for b in rng.integers(0, n_base, n_exact)]
    doc_ids = rng.permutation(n_docs).astype(np.int64)

    order = np.argsort(doc_ids)
    table = pa.table({
        "doc_id": pa.array(doc_ids[order]),
        "text": pa.array([texts[i] for i in order], type=pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"docs.{i:04d}.parquet"),
                       compression="snappy")

    n_distinct = len(set(texts))
    truth = {"raw": n_docs, "quality": n_docs, "exact_unique": n_distinct,
             "clusters": len(set(texts[:n_base]))}
    props = {
        "docs": n_docs,
        "files": n_files,
        "exact_dup_share": n_exact / n_docs,
        "near_dup_share": n_near / n_docs,
        "distinct_texts": n_distinct,
        "planted_near_pairs": n_near,
        "cc_driver_max_edges": CC_DRIVER_MAX_EDGES,
        # each planted pair is one symmetric edge pair in the CC input
        "cc_side_expected": (
            "driver" if 2 * n_near <= CC_DRIVER_MAX_EDGES else "distributed"
        ),
    }
    return truth, props


GENERATORS = {
    "touch2parquet": touch_files,
    "parquet2sonata": edge_files,
    "corpus_prep": corpus_files,
}

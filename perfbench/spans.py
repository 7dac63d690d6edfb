"""Per-layer tracing for the benchmark's traced run.

Each layer boundary is a span: the benchmark calls the layer's public
functions under a Spark job group named after the span and records the
wall time around the call.  After the session stops, the uncompressed
event log is reduced per job group into the Spark counters of that
span.  Spans live in memory and are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

#: every layer boundary the traced run can record, in pipeline order
BOUNDARIES = [
    "session.start",
    "touch_binary.header",
    "touch_binary.scan",
    "touch_transform.project",
    "parquet_sink.write",
    "ordering.scan",
    "sonata.bundle",
    "indexing.source_to_target",
    "indexing.target_to_source",
    "sonata.export_h5",
    "sonata_h5.read_edges",
    "sonata_h5.read_index",
    "text.quality",
    "dedup.candidates",
    "graph.components",
    "dedup.survivors",
]

#: (suffix, unit) recorded for every boundary
SPAN_FIELDS = [
    ("s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("cpu_s", "s"),
    ("sched_delay_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
]

#: (name, unit, better) counts recorded at the boundaries
COUNTS = [
    ("session.persisted_rdds_residue", "count", "lower"),
    ("session.failed_tasks", "count", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("touch_binary.partitions", "count", "higher"),
    ("parquet_sink.files", "count", "lower"),
    ("parquet_sink.bytes", "bytes", "lower"),
    ("indexing.source_to_target.ranges_per_edge", "ratio", "lower"),
    ("indexing.target_to_source.ranges_per_edge", "ratio", "lower"),
    ("sonata.h5_bytes", "bytes", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.useful_pair_ratio", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
]


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = [
        (f"{b}.{suffix}", unit, "lower")
        for b in BOUNDARIES
        for suffix, unit in SPAN_FIELDS
    ]
    return out + COUNTS


class Tracer:
    """Records spans (name -> wall seconds) and tags the Spark jobs each
    span runs with the span's name as job group."""

    UNTRACED = "untraced"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}
        self.sc.setJobGroup(self.UNTRACED, self.UNTRACED)

    @contextlib.contextmanager
    def span(self, name: str):
        assert name in BOUNDARIES, name
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setJobGroup(self.UNTRACED, self.UNTRACED)


def _empty() -> dict:
    return {suffix: 0 for suffix, _ in SPAN_FIELDS}


def reduce_event_log(log_dir: str) -> tuple[dict[str, dict], int]:
    """Reduce every event log under ``log_dir`` to per-job-group Spark
    counters.  Returns ``({group: {jobs, tasks, cpu_s, sched_delay_s,
    shuffle_bytes, spill_bytes}}, failed_tasks)``.

    Scheduler delay is the Spark UI's: task duration minus run,
    deserialize, result-serialize and getting-result time."""
    groups: dict[str, dict] = defaultdict(_empty)
    stage_group: dict[int, str] = {}
    failed = 0
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if info.get("Failed"):
                        failed += 1
                    acc = groups[stage_group.get(ev["Stage ID"])]
                    acc["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    acc["cpu_s"] += (
                        m.get("Executor CPU Time", 0)
                        + m.get("Executor Deserialize CPU Time", 0)
                    ) / 1e9
                    duration = info["Finish Time"] - info["Launch Time"]
                    getting = info.get("Getting Result Time", 0)
                    getting = info["Finish Time"] - getting if getting else 0
                    delay = duration - (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + getting
                    )
                    acc["sched_delay_s"] += max(0, delay) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(groups), failed


def span_metrics(
    wall: dict[str, float],
    groups: dict[str, dict],
    self_minus: dict[str, str],
) -> dict[str, float]:
    """Flatten spans into ``<boundary>.<field>`` values.  Boundaries the
    workload does not call read 0.  ``self_minus`` maps a boundary to
    the one whose work its public call repeats (the transform re-runs
    the scan): the first's wall time then has the second's subtracted,
    while its Spark counters stay those of the whole call."""
    out = {}
    for b in BOUNDARIES:
        rec = dict(groups.get(b, _empty()))
        rec["s"] = wall.get(b, 0.0) - wall.get(self_minus.get(b), 0.0)
        for suffix, _ in SPAN_FIELDS:
            out[f"{b}.{suffix}"] = rec[suffix]
    return out

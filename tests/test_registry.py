"""Registry guard: the driver grades the first 50 entries of
``queries.QUERIES``, so the head order, the registered names and every
entry's ``(fn, sql)`` pair are pinned here.  A change to any of them is
deliberate: re-pin in the same change.  Imports the registry only; no
Spark session starts."""

import hashlib
import json
import re

import pytest

from parquet_converters_spark import queries as Q

HEAD_50 = [
    "crawl_prep_funnel_full", "warc_revisit_census", "cdx_index_census",
    "stream_crawl_ingest", "text_language_id", "text_quality",
    "text_rolling_hash", "text_token_count", "text_top_tokens",
    "topk_per_group", "touch_scan_v2", "validation_filter",
    "vocab_growth_by_source", "above_nation_avg", "anti_join",
    "array_flatten", "asof_join_last_view", "audio_resample_check",
    "band_join_conversions", "bitfield_unpack", "bm25_search",
    "distinct_nation_stats", "dup_shingle_fraction", "embedding_pc1",
    "embedding_quantize_error", "embedding_standardize_stats",
    "equi_depth_histogram", "gopher_quality_report", "graph_triangle_stats",
    "grouping_sets_pricing", "inverted_index_stats", "kmeans_doc_clusters",
    "multimodal_decode", "multimodal_frames", "multimodal_resize",
    "multimodal_transcode", "per_source_doc_cap", "percentile_acctbal",
    "range_join_error_views", "range_window_1h", "salted_join_brand_revenue",
    "scd2_event_history", "sequence_packing", "sim_ivf_ann_bcast",
    "sim_lsh_ann_bcast", "sim_neardup_pairs", "skew_key_profile",
    "sparse_cosine_topk", "stream_dedup", "stream_enrich",
]
N_ENTRIES = 213
NAMES_SHA256 = "a8f265c9f3932d26033a25c1fb0886518fc8e053cfeae500954eb07154716ab2"
ENTRIES_SHA256 = "aeefc758145be998f658005814426f588d073a12e3614acbcf8629134e0d86e9"


def _sha256(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def _entry(fn, sql):
    # SQL is text, or a lazy builder the driver contract calls later
    return [fn.__qualname__, sql if isinstance(sql, str) else sql.__qualname__]


def test_head_is_the_active_window():
    assert list(Q.QUERIES)[:50] == HEAD_50 == Q._ACTIVE_WINDOW


def test_name_set_unchanged():
    assert len(Q.QUERIES) == N_ENTRIES
    assert _sha256(sorted(Q.QUERIES)) == NAMES_SHA256


def test_entries_unchanged():
    entries = {name: _entry(*v) for name, v in Q.QUERIES.items()}
    assert _sha256(sorted(entries.items())) == ENTRIES_SHA256


@pytest.mark.parametrize(
    "window, message",
    [
        (HEAD_50[:49], "expected 50 entries, got 49"),
        (HEAD_50[:49] + ["no_such_query"], "not in registry: ['no_such_query']"),
        (HEAD_50[:49] + HEAD_50[:1], "duplicate entries"),
    ],
)
def test_check_window_rejects(window, message):
    with pytest.raises(ValueError, match="^w: " + re.escape(message)):
        Q._check_window(window, "w")

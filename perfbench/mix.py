"""The query mix: bench.py's 25 headline queries, and their result
fingerprints (row count + order-insensitive value hash, computed with
tools/check_oracle.py's own ``normalize`` and ``value_hash``, the way it
compares Spark with the DuckDB oracle)."""

from __future__ import annotations

import json
import os

HEADLINE = [
    "q01_pricing_summary",
    "q03_region_revenue",
    "q09_melt",
    "q12_window_median",
    "q17_count_distinct",
    "q26_stratified_sample",
    "q28_tumbling_window",
    "q29_sessionize",
    "q30_dedup_exact",
    "q34_minhash_signatures",
    "q36_jaccard_near_dups",
    "q38_cosine_topk",
    "q45_simhash_hamming",
    "q50_asof_join",
    "q51_range_join",
    "q52_repetition_filters",
    "q56_sequence_packing",
    "q57_centroid_outliers",
    "q58_grouped_percentiles",
    "q63_heavy_hitters",
    "q76_resample_forward_fill",
    "q115_semantic_cluster_dedup",
    "q123_dedup_pipeline",
    "q134_bm25_topk",
    "q139_cusum_alarms",
]

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")


def fingerprint(pdf) -> dict:
    # imported here: the benchmark must start (and fail cleanly) without the repo
    from tools.check_oracle import normalize, value_hash

    return {"rows": int(len(pdf)), "columns": sorted(pdf.columns),
            "hash": value_hash(normalize(pdf))}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)

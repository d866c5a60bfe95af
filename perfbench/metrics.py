"""The benchmark's metric names, units and directions.

``BENCHMARK.json`` at the repository root repeats these lists; the self-test
checks that the two agree and that every run emits every name.
"""

from __future__ import annotations

# name -> (unit, better, bound): emitted by every untraced run; run.py adds
# the two sampled from /proc (cpu_ms_per_op, peak_rss_mb)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
    "op_geomean_ms": ("ms", "lower", 0.25),
    "mb_per_s": ("MB/s", "higher", 0.25),
    "size_vs_parquet": ("ratio", "lower", 0.05),
    "cpu_ms_per_op": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

WEB_COLUMNS = ("url", "warc_ts", "html", "text", "lang")

# codecs whose block counts are reported per web_pages column; RLE is left
# out for the three near-unique byte columns, where it never wins
_BYTES_CODECS = ("PLAIN", "DICT", "RLE", "WORD_DICT", "FSST")
_INT_CODECS = (
    "PLAIN", "FOR_BITPACK", "DELTA_FOR_BITPACK", "PFOR_BITPACK",
    "DELTA_PFOR_BITPACK", "DICT", "RLE",
)
COLUMN_CODECS = {
    "url": tuple(c for c in _BYTES_CODECS if c != "RLE"),
    "warc_ts": _INT_CODECS,
    "html": tuple(c for c in _BYTES_CODECS if c != "RLE"),
    "text": tuple(c for c in _BYTES_CODECS if c != "RLE"),
    "lang": _BYTES_CODECS,
}

# module family each query's work runs in (the event-log counters are
# summed per family)
QUERY_FAMILY = {
    "q1_pricing_summary": "queries",
    "q3_shipping_priority": "queries",
    "q5_nation_revenue": "queries",
    "topk_events_per_type": "queries",
    "events_hourly_rollup": "queries",
    "user_sessions": "queries",
    "orders_priority_matrix": "queries",
    "lang_dict_stats": "queries",
    "lang_rle_runs": "queries",
    "events_ts_delta_stats": "queries",
    "for_bitwidth_by_type": "queries",
    "block_framing_stats": "queries",
    "flatfile_scada_rollup": "sources.flatfile",
    "dedup_exact_stats": "functions.dedup",
    "jaccard_pairs_small": "functions.dedup",
    "minhash_lsh_recall": "functions.dedup",
    "simhash_fingerprints": "functions.dedup",
    "doc_fingerprints": "functions.text",
    "text_quality": "functions.text",
    "token_counts_by_source": "functions.text",
    "lang_id_accuracy": "functions.text",
    "ann_topk_cosine": "functions.similarity",
    "embedding_norms_by_label": "functions.similarity",
    "ann_lsh_topk": "functions.similarity",
    "ann_lsh_recall": "functions.similarity",
    "embedding_cosine_pairs": "functions.similarity",
    "embedding_pairs_recall": "functions.similarity",
    "ann_lsh_topk_precomputed": "functions.similarity",
    "banded_matmul_parity": "functions.similarity",
    "multimodal_image_meta": "functions.multimodal",
    "multimodal_gif_pixels": "functions.multimodal",
    "zonemap_range_scan": "jobs",
    "encode_roundtrip_metrics": "jobs",
}
FAMILIES = (
    "queries", "sources.flatfile", "functions.dedup", "functions.text",
    "functions.similarity", "functions.multimodal", "jobs",
)


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {
        "session.start_s": ("s", "lower"),
        "datagen.write_s": ("s", "lower"),
    }
    for k in ("setup", "job", "commit"):
        m[f"encode.driver.{k}_s"] = ("s", "lower")
    m["encode.timeline.util"] = ("ratio", "higher")
    m["encode.timeline.tail_s"] = ("s", "lower")
    m["encode.timeline.launch_lag_s"] = ("s", "lower")
    for k in ("read", "kernel", "encode", "zstats", "build", "write", "fprint", "cpu"):
        m[f"encode.stage.{k}_s"] = ("s", "lower")
    m["encode.task_s_sum"] = ("s", "lower")
    m["encode.salted.op_s"] = ("s", "lower")
    m["encode.salted.hot_keys"] = ("count", "lower")
    m["encode.salted.hot_parts"] = ("count", "lower")
    m["encode.salted.hot_row_frac"] = ("ratio", "lower")
    for c in WEB_COLUMNS:
        m[f"framing.{c}.s"] = ("s", "lower")
        m[f"selector.{c}.s"] = ("s", "lower")
        m[f"codecs.{c}.decode_s"] = ("s", "lower")
        m[f"selector.{c}.bytes_per_value"] = ("B", "lower")
        for codec in COLUMN_CODECS[c]:
            m[f"selector.{c}.codec_blocks.{codec}"] = ("count", "higher")
    m["decode.full_s"] = ("s", "lower")
    m["decode.subset_s"] = ("s", "lower")
    m["scan.plan_s"] = ("s", "lower")
    m["scan.exec_s"] = ("s", "lower")
    m["scan.rows_decoded_per_row_returned"] = ("ratio", "lower")
    m["queries.build_s"] = ("s", "lower")
    m["queries.exec_s"] = ("s", "lower")
    for q in QUERY_FAMILY:
        m[f"query.{q}.s"] = ("s", "lower")
    for f in FAMILIES:
        m[f"{f}.shuffle_bytes"] = ("B", "lower")
        m[f"{f}.python_s"] = ("s", "lower")
        m[f"{f}.jobs"] = ("count", "lower")
    m["trace.op_p50_ms"] = ("ms", "lower")
    m["trace.setup_s"] = ("s", "lower")
    return m


PER_LAYER = _per_layer()

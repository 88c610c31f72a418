"""Workload definitions shared by the runner, the node and the recorder."""

from __future__ import annotations

from datagen import GENERATOR_REV

OLAP_QUERIES = (
    "q17_hash_agg", "q13_join_agg", "q15_multiway_join", "q25_topk",
    "q28_tumbling_window", "q3_shipping_priority", "nd_asof_join",
    "tpch_q6_forecast", "tpch_q7_volume", "tpch_q18_large_orders",
)

# nd_audio_phash is left out to keep a run within the benchmark's time
# budget: it verifies its pairs through the same code as nd_image_phash
# (_phash_pairs_verify) and would add ~9 s to the first pass.
NEARDUP_QUERIES = (
    "nd_minhash_lsh", "nd_editdist_dedup", "nd_html_extract",
    "nd_image_phash", "nd_ngram_jaccard",
)

# Every workload runs the same phases over its dataset (scale `sf`): the
# node's first pass, with the JIT, Spark's code generation, the file
# caches and the (empty, per-run) index store all cold (first_pass_s);
# then `settle_passes` untimed passes; then warm passes until the window
# holds at least --seconds of wall time and `min_window_passes` passes.
# neardup_cycle settles for one pass: its passes are short (~2.5 s), and
# the first one after the ~25 s cold pass read 20-50% slower than the
# rest while the JIT was still compiling.
WORKLOADS = {
    "olap_sf0.1": {
        "queries": OLAP_QUERIES,
        "sf": 0.1,
        "settle_passes": 0,
        "min_window_passes": 2,
    },
    "neardup_cycle": {
        "queries": NEARDUP_QUERIES,
        "sf": 0.1,
        "settle_passes": 1,
        "min_window_passes": 3,
    },
}


def dataset_name(sf: float) -> str:
    return f"sf{sf:g}-r{GENERATOR_REV}"

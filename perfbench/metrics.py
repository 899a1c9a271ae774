"""Workloads, metrics and the query slice of the benchmark.

The workloads and the metric names and units come from BENCHMARK.json at
the root of the checkout: `END_TO_END` is what a run prints with
`--trace 0`, `PER_LAYER` what it prints with `--trace 1`.
"""
import json
import os

SLICE = [
    # ROADMAP targets: composite builds and data-scaled ranking
    "x_incremental_curation", "x_freq_itemsets", "x_bm25",
    "x_rfm_scaled",
    # pipeline stand-ins
    "q01_clean", "q02_daily_agg", "x_malformed_audit", "x_gold_incremental",
]
# The slice's first call in a fresh JVM is always this query, so its cold
# time is comparable across runs; the rest run in a seeded order.
SLICE_FIRST = "q01_clean"

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in _BENCH["workloads"]]
END_TO_END = [(m["name"], m["unit"]) for m in _BENCH["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _BENCH["per_layer"]]


def tail_percentile(samples, beyond=10):
    """Highest whole percentile with at least `beyond` samples above it.

    Uses the nearest-rank definition: the p-th percentile of n sorted
    samples is the one at rank ceil(p * n / 100). Returns
    (value, p, n), or None when there are not enough samples.
    """
    n = len(samples)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = -(-p * n // 100)  # ceil
    if rank < 1:
        return None
    return sorted(samples)[rank - 1], p, n

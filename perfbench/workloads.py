"""The benchmark's workloads: which catalog queries run, on which data.

Why each workload exists is recorded in ``BENCHMARK.json`` and README.md.

Every workload reads the same fixed copy of the sf0.01 test tables in
``perfbench/data/sf0.01`` (byte-identical to the repository's sf0.01
test data), so a checkout holds everything a run reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: untimed passes before the timed window
    warmup_passes: int = 1


WORKLOADS = {
    wl.name: wl
    for wl in (
        Workload(
            "relational",
            (
                "pricing_summary", "region_revenue", "customer_running_spend",
                "click_attribution_asof", "banded_price_match", "tpch_q08",
                "tpch_q21", "skewed_flag_join",
            ),
        ),
        Workload(
            "iterative",
            ("dedup_kept_greedy",),
            warmup_passes=4,
        ),
        Workload(
            "stateful",
            (
                "stream_tumbling_hourly", "stream_upsert_latest",
                "orders_merge_upsert", "dedup_incremental_indexed",
            ),
            warmup_passes=2,
        ),
    )
}

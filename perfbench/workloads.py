"""The benchmark's named workloads: catalog operations run as one pass.

Each workload is a list of existing ``forklift_spark.queries`` catalog
operations and the fixed number of warm passes a run makes. A pass runs every operation
once, in an order permuted by the run's seed; the data itself is the fixed
seed-42 testdata copied under ``perfbench/data``.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, dict] = {
    "curation": {
        "ops": [
            "q_passjoin_pairs", "q_winnow_pairs",
        ],
        "why": "compute-expanding dedup and text operators whose expansion "
               "runs on one core; bypasses manifest and streaming",
        # a warm pass is about 3 s and still speeding up after ten passes;
        # the median of eight is as steady as that of ten
        "warm_passes": 8,
    },
    "lakehouse": {
        "ops": [
            "q_manifest_cdc_sync", "q_iceberg_stream_source",
        ],
        "why": "manifest commits with deletion vectors, a CDC sync, an Iceberg "
               "export and a stream-source tail read dominated by driver gap; "
               "bypasses operators",
        # a warm pass is about 13 s and spreads no more over runs than the
        # best of two; one keeps a run near 60 s
        "warm_passes": 1,
    },
}


def pass_order(workload: str, seed: int) -> list[str]:
    """The workload's operations in the order the seed picks."""
    ops = list(WORKLOADS[workload]["ops"])
    random.Random(seed).shuffle(ops)
    return ops

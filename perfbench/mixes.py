"""The benchmark's workloads: which registry queries each one runs.

Each workload is a closed loop of one client: a pass runs every query
of the mix once, in an order shuffled by the run's seed, and the next
query starts when the previous one has finished. A run times a fixed
number of whole passes (``timed_passes``), so every run of a workload
pools the same number of ops, however fast the program is.
"""

from __future__ import annotations

import random

MIXES: dict[str, tuple[str, ...]] = {
    # short multi-job read plans over small tables (plus one top-k
    # cosine lookup and one Arrow-batched feature extraction over
    # binary payloads): plan building in the client, Catalyst and job
    # scheduling dominate
    "dashboard": (
        "top_k_orders",
        "array_ops",
        "weighted_avg",
        "conditional_agg",
        "date_parts",
        "distinct_counts",
        "lag_trend",
        "latest_order",
        "customers_no_orders",
        "exists_semi_anti",
        "cube_orders",
        "party_normalize",
        "ann_cosine_topk",
        "multimodal_features",
    ),
    # the only path that writes: band-index maintenance (probe the
    # stored index, then merge into it), stored CDC state, an upsert
    # merge, a partition overwrite and a streaming upsert
    "ingest": (
        "dedup_index_maintain",
        "cdc_stored_state_maintain",
        "upsert_merge_policy",
        "partition_overwrite",
        "stream_upsert_materialize",
    ),
}


# nominal seconds of one steady pass on a 4-core host; they turn
# ``--seconds`` into a pass count, never a measured time
NOMINAL_PASS_S = {"dashboard": 7.0, "ingest": 6.0}
MIN_PASSES = 2


def timed_passes(workload: str, seconds: float) -> int:
    """Whole passes a run times: ``seconds`` worth of nominal passes,
    at least two (a traced run needs a traced and an untraced one)."""
    return max(MIN_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


def pass_order(ops: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The order of pass ``pass_no``: a shuffle that depends only on the
    seed and the pass number."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order

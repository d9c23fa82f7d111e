"""The query workload's sample of registered query names.

Names fall into domains by their prefix, and the sample holds the same
number of names from every domain, so a pass exercises every operator
family. Membership is fixed; the run seed sets the order alone.
"""

from __future__ import annotations

import random

# Name prefix -> domain. Prefixes listed nowhere (TPC-H ``q<n>``, windows,
# joins, set operations, UDF demos ...) form the ``relational`` domain.
DOMAIN_OF_PREFIX = {
    "stats": "stats",
    "events": "events",
    "ml": "ml",
    "text": "text",
    "corpus": "text",
    "dedup": "text",
    "graph": "graph",
    "dq": "quality",
    "privacy": "quality",
    "sketch": "sketch",
    "agg": "sketch",
    "percentiles": "sketch",
    "embedding": "vector",
    "similarity": "vector",
    "ann": "vector",
    "knn": "vector",
    "multimodal": "vector",
}
DOMAINS = sorted({*DOMAIN_OF_PREFIX.values(), "relational"})

# One query per domain, each under 1 s at sf0.01 in the committed
# BENCH_DETAIL_sf0.01.json, so that a cold pass fits the run budget. The
# graph, ml and stats picks read the shared warehouse tables (co-purchase
# edges, scored labels, daily event counts), so set-up builds them.
SAMPLE = (
    "agg_stats",
    "corpus_shuffle_shard",
    "distinct_part_types",
    "dq_orderkey_gap_audit",
    "events_holt_linear_fit",
    "graph_friendship_paradox_audit",
    "ml_cost_optimal_threshold",
    "multimodal_frame_sample",
    "stats_diebold_mariano_daily",
)


def domain_of(name: str) -> str:
    return DOMAIN_OF_PREFIX.get(name.split("_", 1)[0], "relational")


def per_domain(names) -> dict[str, list[str]]:
    """Domain -> sorted names; every domain key is present."""
    out: dict[str, list[str]] = {d: [] for d in DOMAINS}
    for n in names:
        out[domain_of(n)].append(n)
    return {d: sorted(v) for d, v in out.items()}


def ordered_sample(seed: int) -> list[str]:
    """The sample in the order a run with ``seed`` sends it."""
    names = sorted(SAMPLE)
    random.Random(seed).shuffle(names)
    return names

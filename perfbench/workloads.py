"""Frozen workload definitions and the seeded query order.

The query lists are frozen: a later change may add a workload, but never
edits one of these lists, so numbers stay comparable across commits.
README.md in this directory records why each query is in its list.
"""

from __future__ import annotations

import random

# Relational, read-only: scans, joins, aggregates, windows, set ops.
ANALYTICS = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18", "tpch_q21",
    "grouped_mutate_zscore", "window_ranks", "cube_agg", "set_ops",
)

# Corpus pipelines: Spark jobs launched while building, persisted
# intermediates and a parquet write.
CORPUS = (
    "semantic_dedup", "lang_id_split", "lm_logprob_split",
)

WORKLOADS = {"analytics": ANALYTICS, "corpus": CORPUS}


def pass_order(names, seed: int, pass_index: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    order = list(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order

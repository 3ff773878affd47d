"""The benchmark's workloads: fixed query lists from the registry, the
plan rule each list must keep, and the seeded query order.

Every workload runs the same load shape: one Spark application, one
client issuing registry queries back to back (a closed loop with no think
time), Spark as ``local[N]`` with N = min(4, nproc) and N shuffle
partitions, over the sf0.1 tables of ``data.py``.
"""

from __future__ import annotations

import random

WORKLOADS = {
    # Per-query overhead: planning, job/stage/task scheduling and the
    # jobs run while the registry call builds the DataFrame. Eight cheap
    # queries (0.2 to 0.5 s each when warm on local[4]) hold the median
    # sample, so query_p50_s follows per-query overhead across several
    # queries rather than one. The io layer's write path is among them
    # (q_csv_roundtrip writes through io and reads back). The three
    # heavier ones carry single mechanisms, which show in pass_s: jobs
    # run while building (q_kaplan_meier fits its estimator there),
    # broadcasts (q05) and persists (q_hodges_lehmann). The Python
    # workers stay idle.
    "relational_sf0.1": {
        "rule": "no_python",
        "queries": [
            "q_distinct",
            "q_pivot_status",
            "q_range_join",
            "q_join_left",
            "q_sessionize",
            "q_asof_join",
            "q_cumulative_user_value",
            "q_csv_roundtrip",
            "q05_local_supplier_volume",
            "q_hodges_lehmann",
            "q_kaplan_meier",
        ],
    },
    # Python lanes: registry queries whose final plan has a Python node
    # (eight of the eleven; the three ASCII-PNM lanes p1-p3 are left
    # out for time). Arrow serialization and the pandas kernels of
    # ops.qsketch, llm.cluster and llm.multimodal do most of the work;
    # the six multimodal lanes (0.3 to 0.8 s each when warm on local[4])
    # hold the median sample.
    "pylanes_sf0.1": {
        "rule": "python",
        "queries": [
            "q_kll_sketch",
            "q_semdedup",
            "q_multimodal_decode",
            "q_multimodal_png",
            "q_multimodal_ppm",
            "q_multimodal_bmp",
            "q_multimodal_pgm",
            "q_multimodal_pbm",
        ],
    },
}


def order(queries: list[str], seed: int, pass_index: int) -> list[str]:
    """The query order of one pass: a permutation of ``queries`` fixed
    by the workload seed and the pass index."""
    return random.Random(f"{seed}:{pass_index}").sample(queries, len(queries))


def rule_violation(rule: str, python_nodes: int) -> str | None:
    """Why a query's plan breaks its workload's rule, or None."""
    if rule == "no_python" and python_nodes:
        return f"{python_nodes} Python node(s) in a no_python workload"
    if rule == "python" and not python_nodes:
        return "no Python node in a python workload"
    return None

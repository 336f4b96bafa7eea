"""The benchmark's workloads: which registered queries run, at which
scale factor.  BENCHMARK.json says why each exists; README.md gives the
sizes."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: str
    queries: tuple[str, ...]
    #: seconds one warm pass takes on a 4-vCPU host; sets how many passes
    #: fit into ``--seconds``, so every run measures the same pass indices
    nominal_pass_s: float


WORKLOADS = {
    "relational": Workload(
        sf="sf0.1",
        queries=(
            "q_filter", "q_groupby_sum", "q_sort_take", "q_melt", "q_cast_pivot",
            "q_append", "q_pos_join", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5",
            "q_tpch_q6", "q_events_sessions", "q_revenue_by_nation",
        ),
        nominal_pass_s=7.0,
    ),
    "iterative": Workload(
        sf="sf0.01",
        queries=(
            "q_kcore", "q_kmeans_fit", "q_stream_dedup", "q_dedup_exact",
            "q_quality_score", "q_fd_check", "q_code_stats",
        ),
        nominal_pass_s=7.0,
    ),
}

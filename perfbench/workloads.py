"""The query workload: which catalog queries, at which scale factor."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class QueryWorkload:
    name: str
    sf: str
    queries: tuple[str, ...]


QUERY_WORKLOADS = {
    # The paper's two flagship matches (EP-2 greedy, whose cost is
    # mostly driver-side construction, and EP-3 with replacement, which
    # runs Python workers behind fan_out), the pricing summary (almost
    # all execution) and the query that loads the most tables.
    "headline": QueryWorkload("headline", "0.1", (
        "q1_pricing_summary",
        "q5_nation_volume",
        "flagship_best_match_with_replacement",
        "flagship_greedy_match",
    )),
}

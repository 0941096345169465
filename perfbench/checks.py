"""Output checks.  Each returns (attempted, failed): the number of
expected results and how many of them were missing, duplicated, wrong or
unexpected.  ``error_rate`` is failed / attempted."""

from __future__ import annotations

from collections import Counter


def check_rows(expected, got) -> tuple[int, int]:
    """Exactly-once check of one sink: ``expected`` and ``got`` are
    iterables of hashable rows.  Every missing or extra copy of a row is
    one failure, so a duplicate and a loss both count."""
    want, have = Counter(expected), Counter(got)
    failed = sum((want - have).values()) + sum((have - want).values())
    return sum(want.values()), failed


def check_states(expected: dict, got: dict) -> tuple[int, int]:
    """Final aggregate states per instance id against a reference."""
    ids = set(expected) | set(got)
    return len(expected), sum(1 for i in ids
                              if expected.get(i) != got.get(i))


def check_pagerank(edges: list[tuple[int, int]], got: dict[int, int],
                   iters: int = 3, total: int = 10 ** 12,
                   damping_pct: int = 85) -> tuple[int, int]:
    """Integer PageRank (multigraph convention, dangling mass shared
    evenly) recomputed in plain Python and compared node by node."""
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    outdeg = Counter(s for s, _ in edges)
    rank = {v: total // n for v in nodes}
    for _ in range(iters):
        share = sum(r for v, r in rank.items() if v not in outdeg) // n
        inflow = Counter()
        for s, d in edges:
            inflow[d] += rank[s] // outdeg[s]
        rank = {v: ((100 - damping_pct) * total) // (100 * n)
                + (damping_pct * (inflow[v] + share)) // 100 for v in nodes}
    return n, sum(1 for v in set(rank) | set(got)
                  if rank.get(v) != got.get(v))


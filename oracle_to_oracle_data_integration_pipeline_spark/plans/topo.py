"""FK-aware load ordering (Kahn's algorithm) with cycle leftovers.

Semantics parity with the reference's ``topo_sort_tables``
(`/root/reference/scripts/03_cdc_etl.py:174-201`): parents before
children; tables caught in FK cycles are returned as ``leftovers`` and
appended at the end of the load order
(`/root/reference/scripts/03_cdc_etl.py:254-256`) rather than failing
the run.

Engine refinements over the reference:
- deterministic output (lexicographic tie-break among ready tables) so
  runs and tests are reproducible;
- ``depth`` levels exposed — tables at the same depth have no FK
  dependency between them. The pipeline itself stages every table
  concurrently and orders only the publish by FK (plans/pipeline.py;
  the reference runs strictly serially, SURVEY.md §4). Driver-side
  control flow only; catalog-scale data, so plain Python is the right
  tool — no Spark job involved.
"""

from __future__ import annotations

import heapq
from collections import defaultdict


def topo_sort_tables(
    tables: list[str], fk_edges: list[tuple[str, str]]
) -> tuple[list[str], list[str]]:
    """Return ``(ordered, leftovers)``.

    ``ordered`` is the dependency-respecting load order (deterministic);
    ``leftovers`` are cycle members, in input order, which callers append
    after ``ordered`` — reference behavior at
    `/root/reference/scripts/03_cdc_etl.py:199-201`.
    """
    table_set = set(tables)
    children: dict[str, list[str]] = defaultdict(list)
    indegree: dict[str, int] = {t: 0 for t in tables}
    for parent, child in fk_edges:
        if parent in table_set and child in table_set and parent != child:
            children[parent].append(child)
            indegree[child] += 1

    ready = [t for t in tables if indegree[t] == 0]
    heapq.heapify(ready)
    ordered: list[str] = []
    while ready:
        t = heapq.heappop(ready)
        ordered.append(t)
        for c in children[t]:
            indegree[c] -= 1
            if indegree[c] == 0:
                heapq.heappush(ready, c)

    done = set(ordered)
    leftovers = [t for t in tables if t not in done]
    return ordered, leftovers


def topo_depths(tables: list[str], fk_edges: list[tuple[str, str]]) -> dict[str, int]:
    """Depth level per table (0 = no parents). Tables sharing a depth can
    load concurrently."""
    table_set = set(tables)
    parents: dict[str, list[str]] = defaultdict(list)
    for p, c in fk_edges:
        if p in table_set and c in table_set and p != c:
            parents[c].append(p)
    ordered, leftovers = topo_sort_tables(tables, fk_edges)
    depth: dict[str, int] = {}
    for t in ordered:
        depth[t] = max((depth[p] + 1 for p in parents[t] if p in depth), default=0)
    for t in leftovers:  # cycle members load last
        depth[t] = max(depth.values(), default=-1) + 1
    return depth

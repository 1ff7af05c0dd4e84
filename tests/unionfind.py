"""Pure-Python connected components: the reference the Spark CC loop
(`operators/dedup.star_components`) is checked against."""

from __future__ import annotations


def min_labels(nodes, edges) -> dict:
    """{node: the minimum node of its component} over undirected
    `edges`, by union-find with path halving; every node of `nodes`
    appears, an isolated one labelled by itself."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}

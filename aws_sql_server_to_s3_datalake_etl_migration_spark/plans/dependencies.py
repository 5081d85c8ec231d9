"""Dependency layering (O1, reference ``dependency_utils.py:19-34``).

The reference read a CSV of (Table, Parent Table, Layer) and *trusted*
the precomputed Layer column. Here layers can also be **derived** with
Kahn's algorithm from the edge list alone — removing the reference's
assumption that someone maintains the Layer column by hand — and the
precomputed-layer path is kept for parity.

Control metadata is tiny (thousands of rows), so after the (optional)
Spark read it is processed driver-side, exactly like the reference.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame


class Layers(list):
    """Dependency layers (a plain ``list`` of name lists, so it compares
    equal to one) that also carry ``parents``: job -> its nearest
    *known* ancestors, for schedulers that launch a job as soon as its
    own parents finish instead of waiting for the whole previous
    layer. ``parents`` is None when only the layering is known (the
    trusted layer-column path)."""

    def __init__(self, layers=(), parents: dict[str, set[str]] | None = None):
        super().__init__(layers)
        self.parents = parents


def layers_from_edges(
    edges: list[tuple[str, str | None]],
    known_jobs: set[str] | None = None,
    normalize=str.lower,
) -> Layers:
    """Kahn's algorithm in rounds: layer k = nodes whose parents are all
    in layers < k. ``edges`` is (table, parent-or-None). Raises on
    cycles. Result filtered to ``known_jobs`` when given (the
    reference's existing-scripts filter, dependency_utils.py:27);
    ``parents`` then resolves through the filtered-out jobs, so with
    A -> B -> C and B unknown, C still waits for A."""
    children: dict[str, set[str]] = defaultdict(set)
    direct: dict[str, set[str]] = defaultdict(set)
    indeg: dict[str, int] = defaultdict(int)
    nodes: set[str] = set()
    for table, parent in edges:
        t = normalize(table.strip())
        nodes.add(t)
        if parent is not None and str(parent).strip():
            p = normalize(str(parent).strip())
            nodes.add(p)
            if t not in children[p]:
                children[p].add(t)
                direct[t].add(p)
                indeg[t] += 1
    frontier = sorted(n for n in nodes if indeg[n] == 0)
    layers: list[list[str]] = []
    seen = 0
    while frontier:
        layers.append(frontier)
        seen += len(frontier)
        nxt: set[str] = set()
        for n in frontier:
            for ch in children[n]:
                indeg[ch] -= 1
                if indeg[ch] == 0:
                    nxt.add(ch)
        frontier = sorted(nxt)
    if seen != len(nodes):
        cyclic = sorted(n for n in nodes if indeg[n] > 0)
        raise ValueError(f"dependency cycle among: {cyclic}")
    known = nodes if known_jobs is None else nodes & set(known_jobs)
    # nearest known ancestors, in layer order so every parent's entry
    # already exists: a known parent stands for itself, an unknown one
    # for its own nearest known ancestors
    nearest: dict[str, set[str]] = {}
    for layer in layers:
        for n in layer:
            nearest[n] = set()
            for p in direct[n]:
                nearest[n] |= {p} if p in known else nearest[p]
    layers = [[j for j in layer if j in known] for layer in layers]
    return Layers(
        [layer for layer in layers if layer],
        {j: nearest[j] for j in known},
    )


def layered_jobs(
    deps_df: DataFrame,
    known_jobs: set[str] | None = None,
    table_col: str = "Table",
    parent_col: str = "Parent Table",
    layer_col: str | None = None,
    prefix: str = "",
) -> Layers:
    """Layered job ordering from a dependency DataFrame.

    ``layer_col`` given -> trust the precomputed layer (reference
    behavior, dependency_utils.py:28-32); otherwise derive with Kahn.
    ``prefix`` replicates the reference's job-name prefixing
    (``nis_`` + table, dependency_utils.py:26). Only the derived
    layers carry ``parents``; the trusted column names no edges."""
    rows = deps_df.collect()  # control metadata: tiny by construction
    if layer_col:
        by_layer: dict[int, list[str]] = defaultdict(list)
        for r in rows:
            name = f"{prefix}{str(r[table_col]).strip().lower()}"
            if known_jobs is None or name in known_jobs:
                by_layer[int(r[layer_col])].append(name)
        return Layers(sorted(by_layer[k]) for k in sorted(by_layer))
    edges = [
        (
            f"{prefix}{str(r[table_col]).strip().lower()}",
            (
                f"{prefix}{str(r[parent_col]).strip().lower()}"
                if r[parent_col] is not None and str(r[parent_col]).strip()
                else None
            ),
        )
        for r in rows
    ]
    return layers_from_edges(edges, known_jobs, normalize=lambda s: s)


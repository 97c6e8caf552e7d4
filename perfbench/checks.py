"""Output checks. Each returns plain numbers; the caller decides pass/fail."""

from __future__ import annotations

import pandas as pd

MIN_RECALL = 0.99


def closure_labels(src, dst, nodes) -> dict[int, int]:
    """Union-find closure: node -> smallest node id in its component."""
    parent = {int(n): int(n) for n in nodes}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src, dst):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def mislabeled_files(edges: pd.DataFrame, clusters: pd.DataFrame) -> int:
    """Files whose cluster_id differs from the closure of the run's own
    edges (cluster_id is defined as the smallest file_id of the component)."""
    truth = closure_labels(edges["src"], edges["dst"], clusters["file_id"])
    got = dict(zip(clusters["file_id"].astype(int), clusters["cluster_id"].astype(int)))
    return sum(1 for f, c in got.items() if truth.get(f, f) != c)


def pair_recall(pairs, cluster_of: dict[int, int]) -> float:
    """Share of expected duplicate pairs that landed in one cluster."""
    pairs = list(pairs)
    if not pairs:
        return 1.0
    hit = sum(1 for a, b in pairs
              if cluster_of.get(int(a), a) == cluster_of.get(int(b), b))
    return hit / len(pairs)


def label_mismatches(expected: dict[int, int], got: dict[int, int]) -> int:
    return sum(1 for f, c in expected.items() if got.get(f) != c)


def pipeline_drift(edges: pd.DataFrame, clusters: pd.DataFrame, rounds,
                   traced_edges: pd.DataFrame, traced_clusters: pd.DataFrame,
                   traced_rounds) -> list[str]:
    """What differs between `DedupPipeline.run`'s output and the traced
    stage-by-stage pass over the same files: the edge set (with its
    source), the cluster of every file and the number of CC rounds."""
    def edge_set(df):
        return set(zip(df["src"].astype(int), df["dst"].astype(int), df["source"]))

    def labels(df):
        return dict(zip(df["file_id"].astype(int), df["cluster_id"].astype(int)))

    diff = []
    a, b = edge_set(edges), edge_set(traced_edges)
    if a != b:
        diff.append(f"edges: {len(a - b)} only in run(), {len(b - a)} only traced")
    la, lb = labels(clusters), labels(traced_clusters)
    if la != lb:
        diff.append(f"clusters: {sum(la.get(f) != lb.get(f) for f in la.keys() | lb.keys())}"
                    " files labeled differently")
    if rounds != traced_rounds:
        diff.append(f"cc rounds: {rounds} in run(), {traced_rounds} traced")
    return diff

"""connected_components against a union-find closure, its round bound on
an adversarial chain, and its non-convergence report."""

import json
import math
import re
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkdedup.config import DedupConfig
from sparkdedup.operators import components as cc
from sparkdedup.operators.components import (ComponentsNotConverged,
                                             connected_components)
from sparkdedup.pipeline import DedupPipeline

CHAIN_LINKS = 256


def _closure(edges, nodes):
    """Union-find: node -> min id of its component."""
    parent = {u: u for u in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in nodes}


def _components(spark, edges, nodes, max_cc_iters=50):
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(u,) for u in nodes], "file_id long")
    clusters, rounds = connected_components(
        e, n, DedupConfig(max_cc_iters=max_cc_iters))
    return {r.file_id: r.cluster_id for r in clusters.collect()}, rounds


def _adversarial_chain(links, base=1000):
    """Smallest id at the head, the rest descending towards the tail: every
    other label points away from the head, so pointer jumping alone cannot
    carry the minimum along the chain."""
    ids = [base] + list(range(base + links, base, -1))
    return [(ids[i], ids[i + 1]) for i in range(links)], ids


def test_adversarial_chain_rounds_are_logarithmic(spark):
    edges, ids = _adversarial_chain(CHAIN_LINKS)
    labels, rounds = _components(spark, edges, ids)
    assert labels == _closure(edges, ids)
    assert rounds.converged
    assert rounds <= math.ceil(math.log2(CHAIN_LINKS)) + 3
    assert len(rounds.seconds) == rounds


def test_star(spark):
    center = 10_000
    leaves = list(range(1, 501))
    edges = [(center, leaf) for leaf in leaves]
    labels, rounds = _components(spark, edges, leaves + [center])
    assert labels == _closure(edges, leaves + [center])
    assert set(labels.values()) == {1}
    assert rounds.converged


def test_disjoint_components_and_singletons(spark):
    edges = [(5, 3), (3, 9),                 # path, min in the middle
             (20, 21), (21, 22), (22, 20),   # triangle
             (40, 41)]                       # pair
    nodes = [3, 5, 9, 20, 21, 22, 40, 41, 7, 30, 50]   # 7, 30, 50 edge-less
    labels, rounds = _components(spark, edges, nodes)
    assert labels == _closure(edges, nodes)
    assert labels[7] == 7 and labels[30] == 30 and labels[50] == 50
    assert rounds.converged


def test_no_edges(spark):
    labels, rounds = _components(spark, [], [4, 2, 8])
    assert labels == {4: 4, 2: 2, 8: 8}
    assert rounds.converged


# (id permutation, edges over positions): the permutation puts each
# graph's minimum anywhere along its structure
_graph = st.integers(2, 24).flatmap(lambda n: st.tuples(
    st.permutations(range(n)),
    st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
             max_size=2 * n)))


@given(st.lists(_graph, min_size=1, max_size=6))
@settings(max_examples=6, deadline=None)
def test_random_graph_set_matches_union_find(spark, graphs):
    # the graphs share one CC run on disjoint id ranges
    edges, nodes, base = [], [], 0
    for perm, es in graphs:
        nodes += [base + p for p in perm]
        edges += [(base + perm[a], base + perm[b]) for a, b in es if a != b]
        base += len(perm)
    labels, rounds = _components(spark, edges, nodes)
    assert labels == _closure(edges, nodes)
    assert rounds.converged


def test_size_estimate_grows_linearly_across_rounds(spark):
    """Each round's checkpoint carries the optimizer's size estimate into
    the next round. A round whose estimate multiplied two label-sized
    inputs would double its digits every round, and planning took
    minutes by round ~20; the estimate must grow by a constant factor."""
    edges, _ = _adversarial_chain(16)
    sym, labels = cc.initial_state(
        spark.createDataFrame(edges, "src long, dst long"))
    rounds = 20
    for _ in range(rounds):
        new = cc.hook_round(sym, labels).localCheckpoint(eager=False)
        cc._label_sum(new)
        cc.release_local_checkpoint(labels)
        labels = new
    # e.g. "Statistics(sizeInBytes=3.45E+4935730 B)"; the string form
    # avoids converting a multi-million-digit number
    stats = labels._jdf.queryExecution().analyzed().stats().toString()
    exponent = re.search(r"E\+(\d+)", stats)
    assert exponent is None or int(exponent.group(1)) < 40 * (rounds + 1), stats
    cc.release_local_checkpoint(labels)
    cc.release_local_checkpoint(sym)


def test_round_cap_reports_non_convergence(spark):
    edges, ids = _adversarial_chain(CHAIN_LINKS)
    labels, rounds = _components(spark, edges, ids, max_cc_iters=1)
    assert rounds == 1
    assert not rounds.converged
    assert labels != _closure(edges, ids)


def test_run_raises_when_components_do_not_converge(tmp_path, spark,
                                                    small_corpus):
    files = spark.createDataFrame(small_corpus.files)
    cfg = DedupConfig(max_cc_iters=1)
    with pytest.raises(ComponentsNotConverged):
        DedupPipeline(spark, cfg, workdir=str(tmp_path)).run(files)
    stage = tmp_path / cfg.config_hash()
    assert (stage / "edges" / "_SUCCESS").exists()
    assert not (stage / "clusters").exists()
    assert not (stage / "_metrics" / "clusters.json").exists()


# jobs of a run() that redoes only the clusters stage on small_corpus
# (3 CC rounds), measured at the commit before tree hooking
SEED_CLUSTERS_STAGE_JOBS = 33


def test_cc_counters_in_sidecar_add_no_job(tmp_path, spark, small_corpus):
    files = spark.createDataFrame(small_corpus.files)
    cfg = DedupConfig()
    DedupPipeline(spark, cfg, workdir=str(tmp_path)).run(files)
    shutil.rmtree(tmp_path / cfg.config_hash() / "clusters")

    sc = spark.sparkContext
    sc.setJobGroup("cc-sidecar", "clusters stage only")
    try:
        res = DedupPipeline(spark, cfg, workdir=str(tmp_path)).run(files)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("cc-sidecar")
    assert len(jobs) <= SEED_CLUSTERS_STAGE_JOBS

    side = json.loads(
        (tmp_path / cfg.config_hash() / "_metrics" / "clusters.json").read_text())
    assert side["cc_converged"] is True
    assert side["cc_iterations"] == res.metrics["cc_iterations"] >= 1
    assert len(side["cc_round_seconds"]) == side["cc_iterations"]
    assert all(s > 0 for s in side["cc_round_seconds"])

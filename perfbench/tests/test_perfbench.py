"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench/tests -q

The two command tests start Spark and take about two minutes together.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402


def _staged_digest(files: pd.DataFrame, out_dir: str) -> str:
    inputs.write_files(files, out_dir, 4)
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [lambda seed: inputs.bulk_corpus(seed, 200),
                                  lambda seed: inputs.warmup_corpus("skewed", seed)],
                         ids=["bulk", "skewed"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, make):
    a, b, c = make(7), make(7), make(8)
    assert _staged_digest(a.files, str(tmp_path / "a")) == _staged_digest(b.files, str(tmp_path / "b"))
    assert _staged_digest(a.files, str(tmp_path / "a2")) != _staged_digest(c.files, str(tmp_path / "c"))
    assert a.planted == b.planted


def test_skewed_corpus_plants_family_and_chains():
    shape = inputs.SKEWED_WARMUP_SHAPE
    corpus = inputs.skewed_corpus(1, **shape)
    n = shape["n_base"] + shape["n_family"] + shape["n_chains"] * shape["chain_len"]
    assert len(corpus.files) == n
    assert len(corpus.planted) == (shape["n_family"] - 1
                                   + shape["n_chains"] * (shape["chain_len"] - 1))


def test_skewed_chain_ids_run_smallest_then_descending():
    from sparkdedup.fixtures import file_ids_batch

    shape = inputs.SKEWED_WARMUP_SHAPE
    corpus = inputs.skewed_corpus(1, **shape)
    f = corpus.files
    ids = file_ids_batch(f["repo"], f["path"], f["commit"])
    assert len(set(ids)) == len(ids)
    first = shape["n_base"] + shape["n_family"]
    for c in range(shape["n_chains"]):
        head = first + c * shape["chain_len"]
        chain = ids[head:head + shape["chain_len"]]
        assert chain[0] == chain.min()
        assert (chain[1:-1] > chain[2:]).all()
        # contents stay in chain order: the planted links are unchanged
        assert (head, head + 1) in corpus.planted


def test_planted_mislabel_is_caught():
    # two components: a chain 10-11-12-13 and a pair 20-21, plus a singleton
    edges = pd.DataFrame({"src": [10, 12, 11, 20], "dst": [11, 13, 12, 21]})
    good = pd.DataFrame({"file_id": [10, 11, 12, 13, 20, 21, 30],
                         "cluster_id": [10, 10, 10, 10, 20, 20, 30]})
    assert checks.mislabeled_files(edges, good) == 0
    # the chain's tail keeps a stale label, as an unconverged CC leaves it
    bad = good.assign(cluster_id=[10, 10, 10, 12, 20, 20, 30])
    assert checks.mislabeled_files(edges, bad) == 1
    planted = [(10, 11), (11, 12), (12, 13), (20, 21)]
    cluster_of = dict(zip(bad["file_id"], bad["cluster_id"]))
    assert checks.pair_recall(planted, cluster_of) == 0.75


def test_oracle_cache_key_follows_the_corpus():
    from perfbench.run import _oracle_key

    files = inputs.bulk_corpus(3, 200).files
    assert _oracle_key(files) == _oracle_key(files.copy())
    edited = files.copy()
    edited.loc[0, "content"] += " x"
    assert _oracle_key(edited) != _oracle_key(files)


def test_traced_stages_differing_from_run_are_reported():
    edges = pd.DataFrame({"src": [1, 2], "dst": [2, 3], "source": ["lsh", "sha"]})
    clusters = pd.DataFrame({"file_id": [1, 2, 3], "cluster_id": [1, 1, 1]})
    assert checks.pipeline_drift(edges, clusters, 2, edges, clusters, 2) == []
    split = clusters.assign(cluster_id=[1, 1, 3])
    assert len(checks.pipeline_drift(edges, clusters, 2, edges.iloc[:1], split, 3)) == 3


def test_kernel_rungs_time_the_programs_own_calls():
    from perfbench import layers
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators import signatures

    before = {n: getattr(signatures, n) for n in layers._KERNEL_NAMES}
    files = inputs.bulk_corpus(3, 200).files.head(50)
    k = layers.kernel_layers(files, DedupConfig())
    assert all(k[key] > 0 for key in layers.KERNELS)
    assert sum(k[key] for key in layers.KERNELS) < k["signature_kernel_s"]
    assert {n: getattr(signatures, n) for n in layers._KERNEL_NAMES} == before


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,kind", [("bulk", 0, "end_to_end"),
                                                 ("skewed", 1, "per_layer")])
def test_printed_metrics_match_benchmark_json(workload, trace, kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    declared = {m["name"]: m["unit"] for m in spec[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    assert out["attempted"] >= 1
    if trace and out["metrics"]["mislabeled_files"]["value"] > 0:
        # e.g. connected components stopping at max_cc_iters on the skewed
        # chains: a mislabeled file must fail the run, not only be counted
        assert out["failed"] >= 1 and out["correct"] is False


def test_refuses_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            with open(src, "rb") as f:
                (tmp_path / "perfbench" / name).write_bytes(f.read())
    with open(os.path.join(ROOT, "BENCHMARK.json"), "rb") as f:
        (tmp_path / "BENCHMARK.json").write_bytes(f.read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bulk",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""

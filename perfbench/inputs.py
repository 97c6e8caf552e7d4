"""Deterministic benchmark inputs: every table is a pure function of the seed.

`bulk` is the FIXTURES.md corpus from `sparkdedup.fixtures.generate_corpus`.
`skewed` is built here, because the stock corpus never fills an LSH bucket
past ~22 files: many short files, one hot family of near-identical stubs
(one template, 1-3 tokens changed per copy) that makes buckets far larger
than `bucket_cap`, and near-duplicate chains (each link 1% mutated from the
previous one) whose components have a long diameter; their ids are ordered
so that connected_components needs the same rounds on every seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sparkdedup.fixtures import (EXT, LANG_W, LANGS, _gen_content, _mutate, file_ids_batch,
                                 generate_corpus)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BULK_FILES = 600
# with the chain ids ordered as _order_chain_ids does, connected_components
# needs about L/3 rounds on an L-link chain (74-86 for 240 links across four
# seeds), so 160-link chains need more than the default max_cc_iters of 50
# (the skewed workload raises the cap, see run.py)
SKEWED_SHAPE = {"n_base": 600, "n_family": 300, "n_chains": 2, "chain_len": 160}
# skewed warms up on a small input on the same code paths (the family is
# still larger than bucket_cap); bulk warms up on its own input, because
# after a 200-file warm-up the first 1000-file run was still ~45% slower
# than the next ones (17.6 s vs 11.9-12.3 s)
SKEWED_WARMUP_SHAPE = {"n_base": 200, "n_family": 100, "n_chains": 2, "chain_len": 8}

_VOCAB = np.array([f"id{i}" for i in range(500)])


@dataclass
class Corpus:
    files: pd.DataFrame                       # repo, path, commit, lang, content
    planted: list[tuple[int, int]] = field(default_factory=list)  # row-index pairs


def bulk_corpus(seed: int, n_files: int = BULK_FILES) -> Corpus:
    return Corpus(generate_corpus(n_files=n_files, seed=seed).files)


def skewed_corpus(seed: int, n_base: int, n_family: int, n_chains: int,
                  chain_len: int) -> Corpus:
    """Short files + one hot stub family + near-duplicate chains.

    Planted pairs: every family member with the family's first member, and
    every chain link with the next one."""
    rng = np.random.default_rng(seed)
    rows: list[tuple[str, str, str, str, str]] = []

    def add(lang: str, content: str) -> int:
        i = len(rows)
        rows.append((f"org{i % 7}/repo{i % 53}", f"src/pkg{i % 97}/m{i}.{EXT[lang]}",
                     f"{seed & 0xFFFFFFFF:08x}{i:032x}", lang, content))
        return i

    for lang in rng.choice(LANGS, n_base, p=LANG_W):
        add(str(lang), _gen_content(rng, str(lang), _VOCAB, 5, 20))

    planted: list[tuple[int, int]] = []
    template = _gen_content(rng, "go", _VOCAB, 10, 10).split(" ")
    family = []
    for _ in range(n_family):
        toks = list(template)
        for p in rng.integers(0, len(toks), int(rng.integers(1, 4))):
            toks[p] = f"stub{int(rng.integers(0, 10**6))}"
        family.append(add("go", " ".join(toks)))
    planted += [(family[0], m) for m in family[1:]]

    for _ in range(n_chains):
        lang = str(rng.choice(LANGS, p=LANG_W))
        cur = _gen_content(rng, lang, _VOCAB, 20, 40)
        head = prev = add(lang, cur)
        for _ in range(chain_len - 1):
            cur = _mutate(rng, cur, 0.01)
            nxt = add(lang, cur)
            planted.append((prev, nxt))
            prev = nxt
        _order_chain_ids(rows, head, head + chain_len)

    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    return Corpus(files, planted)


def _order_chain_ids(rows: list, start: int, stop: int) -> None:
    """Reassign the chain's identities (repo, path, commit) so that its
    file_ids run: smallest at the head, then descending from the largest
    to the tail. Contents stay in chain order.

    connected_components spreads the smallest label outward from the node
    that holds it; with every other label pointing towards the tail,
    pointer jumping cannot carry it ahead, so it moves about one edge-reach
    per round and the rounds follow the chain's length. With random ids
    the rounds depend on where the smallest id falls and on the id order
    along the chain, and varied two-fold between seeds."""
    ids = file_ids_batch(*(pd.Series([r[k] for r in rows[start:stop]]) for k in range(3)))
    order = np.argsort(ids)
    ident = [rows[start + int(k)][:3] for k in np.concatenate([order[:1], order[:0:-1]])]
    for pos, who in enumerate(ident):
        rows[start + pos] = who + rows[start + pos][3:]


def workload_corpus(workload: str, seed: int) -> Corpus:
    if workload == "bulk":
        return bulk_corpus(seed)
    if workload == "skewed":
        return skewed_corpus(seed, **SKEWED_SHAPE)
    raise ValueError(f"unknown workload {workload!r}")


def warmup_corpus(workload: str, seed: int) -> Corpus | None:
    """The warm-up input, or None to warm up on the measured input."""
    return skewed_corpus(seed, **SKEWED_WARMUP_SHAPE) if workload == "skewed" else None


def write_files(files: pd.DataFrame, out_dir: str, n_parts: int) -> None:
    """Stage a corpus as n_parts parquet files (one scan split per core)."""
    os.makedirs(out_dir, exist_ok=True)
    chunk = max(1, -(-len(files) // n_parts))
    for i in range(0, len(files), chunk):
        pq.write_table(pa.Table.from_pandas(files.iloc[i:i + chunk], preserve_index=False),
                       os.path.join(out_dir, f"part-{i // chunk:05d}.parquet"))

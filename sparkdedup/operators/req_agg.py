"""REQ — relative-error quantiles — as a distributed Spark aggregation.

Closes the §2.4 REQ row for real (it was previously mapped onto the
percentile contract): the reference req/sketch.go:61-560 + req/compactor.go
(behavior spec only, no code copied) implements the PUBLISHED
relative-error compactor chain of Cormode, Karnin, Liberty, Thaler &
Veselý, "Relative Error Streaming Quantiles" (arXiv:2004.01668), which is
what this module re-derives in numpy.

Why it exists: a KLL/GK-style sketch guarantees ADDITIVE rank error
eps*n — at p99.99 the whole tail fits inside the band. The REQ chain in
HRA (high-rank-accuracy) mode never compacts the top of a level's buffer:
each compaction sorts a level, PROTECTS the highest `protect` items, and
promotes alternating items of the low section with doubled weight. Items
near the maximum therefore survive at full resolution and rank error at
rank r scales with the TAIL mass (n - r), not with n.

Exact invariants (the hash-gateable part): every compaction replaces an
even-size section of 2m items at weight 2^l with m items at weight
2^(l+1), so TOTAL WEIGHT == n exactly at all times, and min/max are
tracked exactly. Quantile accuracy is the probabilistic part
(tests/test_req_agg.py pins the relative-tail envelope empirically).

Spark-first two-phase (operators/quantile_sketch.py, shared with kll_agg
and tdigest_agg):
  phase 1 — mapInPandas: each partition builds a compactor chain per
    group; state O(k * log(n/k)) per chain.
  phase 2 — applyInPandas per group: merge = concatenate per-level
    buffers, re-compact overfull levels (the published merge), preserving
    total weight exactly.
The alternating-offset coin is derived deterministically from the
compaction counter (the paper's random coin makes the estimator exactly
unbiased; a deterministic alternation keeps the same worst-case error
bound and makes runs reproducible — the trade the reference also offers
via its deterministic-testing mode).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from sparkdedup.operators.quantile_sketch import (CompactorChain, chain_agg,
                                                  chain_items, read_quantiles,
                                                  weighted_quantile)


class _ReqChain(CompactorChain):
    """REQ compactor chain: every level holds 2k items, and a compaction
    protects `k` items at one end of the sorted level.

    hra=True (default) protects the HIGH end of every level buffer —
    relative rank error at rank r scales with the tail mass n - r.
    hra=False is LRA (low-rank-accuracy, reference req/sketch.go:47-76's
    other mode): the mirror image — the LOWEST `protect` items survive
    every compaction at full resolution, so p0.001-style HEAD quantiles
    stay meaningful, and level 0's protected bottom retains the true
    global bottom-k exactly (the property req_bottomk_prices gates)."""

    def __init__(self, k: int, hra: bool = True):
        if k < 4 or k % 2:
            raise ValueError("k must be even and >= 4")
        super().__init__()
        self.k = k
        self.hra = hra

    def _cap(self, lvl: int) -> int:
        # higher levels may shrink in the paper; fixed 2k keeps the
        # analysis envelope and simplifies merge
        return 2 * self.k

    def _split(self, arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # protect one end of the sorted buffer; compact the other (HRA:
        # keep top / compact low; LRA: keep bottom / compact high). The
        # compacted section must stay even so total weight is exact in
        # both modes.
        protect = self.k + (len(arr) - self.k) % 2
        if self.hra:
            return arr[len(arr) - protect:], arr[:len(arr) - protect]
        return arr[:protect], arr[protect:]


def req_agg(df: DataFrame, value_col: str,
            group_cols: list[str] | None = None, k: int = 64,
            hra: bool = True) -> DataFrame:
    """Aggregate `value_col` into one REQ sketch per group (hra=True:
    high-rank-accuracy; hra=False: LRA, the low-end mirror — reference
    req/sketch.go:47-76 supports both).

    Output: group cols + (levels array<long> — per retained item,
    values array<double>, n double EXACT, min_item, max_item exact)."""
    return chain_agg(df, value_col, group_cols, lambda: _ReqChain(k, hra))


def req_agg_quantiles(sketches: DataFrame, qs: list[float],
                      group_cols: list[str] | None = None,
                      round_to: int = 4) -> DataFrame:
    """(group, q, value) — quantile estimates from req_agg output."""
    return read_quantiles(
        sketches, qs, group_cols, round_to,
        lambda r, qarr: weighted_quantile(*chain_items(r), qarr))

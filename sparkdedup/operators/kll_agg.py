"""KLL quantile sketch BUILD/MERGE as a distributed Spark aggregation.

Upgrades §2.4 KLL from "percentile contract + wire decoder" to a real
mergeable sketch aggregation. Behavior spec: the reference kll/ package
(kll/sketch.go, kll/helpers — cited, no code copied); algorithm from the
PUBLISHED KLL paper (Karnin, Lang & Liberty, "Optimal Quantile
Approximation in Streams", FOCS 2016): a compactor chain whose level
capacities shrink geometrically (cap_l = max(ceil(k * c^(H-1-l)), m),
c = 2/3, m = 8 — the reference's constants), giving additive eps*n rank
error with eps = O(1/k) at O(k log log n) retained items.

Compaction keeps the EVEN prefix of a sorted overfull level, promotes
alternating items with doubled weight (deterministic alternating offset —
same trade as req_agg), and leaves an odd leftover in place, so TOTAL
WEIGHT == n exactly at all times; min/max are tracked exactly.

Spark-first two-phase (operators/quantile_sketch.py, shared with req_agg
and tdigest_agg): phase 1 accumulates each partition's Arrow batch
iterator into per-group chains (O(k log n) state); phase 2 merges per group by replaying retained
(value, 2^level) items into a fresh chain — the standard KLL merge, and
also the bridge for REFERENCE sketches: a decoded .sk image's
(items, weights) feed the same path (tests/test_kll_agg.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField

from sparkdedup.operators.quantile_sketch import (CompactorChain, chain_agg,
                                                  chain_items, read_quantiles,
                                                  read_rows, weighted_quantile)


class _KllChain(CompactorChain):
    """KLL compactor chain: level capacities shrink geometrically with
    depth, and a compaction keeps the odd leftover of a level in place."""

    def __init__(self, k: int = 200, c: float = 2.0 / 3.0, m: int = 8):
        if k < m:
            raise ValueError("k must be >= m")
        super().__init__()
        self.k, self.c, self.m = k, c, m

    def _cap(self, lvl: int) -> int:
        h = len(self.levels)
        return max(int(np.ceil(self.k * self.c ** (h - 1 - lvl))), self.m)

    def _split(self, arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        even = len(arr) & ~1  # largest even prefix count
        return arr[even:], arr[:even]


def kll_agg(df: DataFrame, value_col: str,
            group_cols: list[str] | None = None, k: int = 200) -> DataFrame:
    """Aggregate `value_col` into one KLL sketch per group. Output:
    group cols + (levels, values, n EXACT, min_item, max_item exact)."""
    return chain_agg(df, value_col, group_cols, lambda: _KllChain(k))


def kll_rank_cdf_pmf(values: np.ndarray, weights: np.ndarray,
                     xs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """INCLUSIVE normalized rank / CDF / PMF readers over retained items
    (reference kll/items_sketch.go:254-440 sorted-view surface): the
    chain already retains (value, 2^level weight) pairs, so rank(x) is a
    sorted cumsum lookup — cdf[i] = weight of items <= xs[i] over total
    weight, pmf[i] = cdf[i] - cdf[i-1] (mass in (xs[i-1], xs[i]]).
    EXACT whenever the chain never compacted (the same exact-regime
    contract kll_agg_quantiles gates); the eps*n rank envelope otherwise.
    Returns (cdf, pmf), each len(xs)."""
    order = np.argsort(values, kind="stable")
    v, w = values[order], weights[order].astype(np.float64)
    cum = np.cumsum(w)
    total = cum[-1]
    idx = np.searchsorted(v, np.asarray(xs, dtype=np.float64),
                          side="right")
    cdf = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0.0) / total
    pmf = np.diff(cdf, prepend=0.0)
    return cdf, pmf


def _single_level_items(r, require_single_level: bool):
    """chain_items of a row; with require_single_level, raise if the
    merged chain compacted (any item above level 0)."""
    lv = np.asarray(r["levels"], dtype=np.int64)
    if require_single_level and (lv != 0).any():
        raise RuntimeError(
            "KLL exact-regime contract violated: merged chain "
            f"has items at levels {sorted(set(lv[lv != 0]))} "
            "(it compacted). Size k >= the largest group's "
            "count, or drop require_single_level to accept "
            "the probabilistic envelope.")
    return chain_items(r)


def kll_agg_cdf(sketches: DataFrame, split_points: list[float],
                group_cols: list[str] | None = None,
                round_to: int = 6,
                require_single_level: bool = False) -> DataFrame:
    """(group, x, cdf, pmf) per split point — the rank/CDF/PMF reader
    over kll_agg output, same exact-regime guard semantics as
    kll_agg_quantiles (require_single_level raises on a compacted chain
    instead of silently emitting estimates)."""
    xs = np.asarray(sorted(split_points), dtype=np.float64)

    def read(r):
        cdf, pmf = kll_rank_cdf_pmf(
            *_single_level_items(r, require_single_level), xs)
        return {"x": xs, "cdf": np.round(cdf, round_to),
                "pmf": np.round(pmf, round_to)}

    return read_rows(sketches, group_cols,
                     [StructField(c, DoubleType())
                      for c in ("x", "cdf", "pmf")], read)


def kll_agg_quantiles(sketches: DataFrame, qs: list[float],
                      group_cols: list[str] | None = None,
                      round_to: int = 4,
                      require_single_level: bool = False) -> DataFrame:
    """(group, q, value) — quantile estimates from kll_agg output.

    require_single_level=True enforces the EXACT-REGIME contract at
    runtime: callers that promise exact order statistics (k >= every
    group's count, so no level ever compacted) get a hard task failure —
    not silently approximate values — if any merged chain holds items
    above level 0. The check is per-row inside the kernel, so it runs
    distributed and costs nothing beyond the read it already does."""
    return read_quantiles(
        sketches, qs, group_cols, round_to,
        lambda r, qarr: weighted_quantile(
            *_single_level_items(r, require_single_level), qarr))

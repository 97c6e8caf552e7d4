"""t-digest build / merge / quantile as a distributed Spark aggregation.

Upgrades §2.4 t-digest from decoder-only (sketch_io/tdigest_decoder.py) to
a full mergeable aggregation. Behavior spec: the reference's merging
t-digest (tdigest/double.go:102-563 — behavior cited, no code copied);
algorithm from the PUBLISHED merging-t-digest design (Dunning & Ertl,
"Computing Extremely Accurate Quantiles Using t-Digests",
arXiv:1902.04023): clusters kept small near the tails via the k1 (arcsine)
scale function, merged greedily in mean order under the scale-function
weight budget.

Spark-first two-phase shape (operators/quantile_sketch.py, shared with
kll_agg and req_agg):
  phase 1 — mapInPandas: each partition compresses a group's raw values
    into <= ~2*delta centroids. Bounded state, no shuffle, map-side
    reduction of n rows -> O(delta) rows per partition and group.
  phase 2 — applyInPandas per group: concatenate the slices' centroids
    (already (mean, weight) pairs — t-digest merge treats weighted
    centroids exactly like weighted points) and compress once more.
t-digests are fully mergeable (the reference unions them the same way),
so accuracy composes: the merged digest obeys the same scale-function
bound as a single-pass digest at the same delta.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, StructField

from sparkdedup.operators.quantile_sketch import read_quantiles, two_phase_agg


def _k1(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    return delta / (2.0 * np.pi) * np.arcsin(2.0 * np.asarray(q) - 1.0)


def td_compress(means: np.ndarray, weights: np.ndarray,
                delta: float) -> tuple[np.ndarray, np.ndarray]:
    """Merge weighted points/centroids under the k1 scale budget,
    VECTORIZED by k-space bucketing: sort by mean, map each item's
    midpoint rank q to scale space, and cut clusters at integer k1
    boundaries — every resulting cluster spans < 1 unit of k-space, the
    same invariant the sequential greedy merge maintains, computed with
    one sort + one reduceat instead of a per-item Python loop (the r4
    bench showed the greedy loop at ~26s over sf0.1 lineitem; this form
    is ~100x cheaper and is how production merging digests vectorize).
    Returns (means, weights) ascending; centroid count is O(delta).
    Total weight is preserved EXACTLY (segment sums). Weighted centroids
    are valid inputs, which is what makes the digest mergeable."""
    if len(means) == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.argsort(means, kind="stable")
    m = means[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    total = float(w.sum())
    cum = np.cumsum(w)
    q_mid = np.clip((cum - w / 2.0) / total, 0.0, 1.0)
    kid = np.floor(_k1(q_mid, delta)).astype(np.int64)
    starts = np.flatnonzero(np.r_[True, kid[1:] != kid[:-1]])
    seg_w = np.add.reduceat(w, starts)
    seg_mw = np.add.reduceat(m * w, starts)
    # Clamp each merged mean into its segment's [min, max]: the fp-weighted
    # mean of a segment can land one ulp outside the segment's value range
    # (hypothesis counterexample: two equal-mean centroids -> merged mean
    # 2^-52 below the input mean), which would break the "means ascending"
    # contract td_quantile and searchsorted consumers rely on. m is sorted,
    # so segment min = m[start], segment max = m[end]; clamped means are
    # non-decreasing because m[end_i] <= m[start_{i+1}].
    ends = np.r_[starts[1:], len(m)] - 1
    return np.clip(seg_mw / seg_w, m[starts], m[ends]), seg_w


def td_quantile(means: np.ndarray, weights: np.ndarray, mn: float,
                mx: float, qs: np.ndarray) -> np.ndarray:
    """Quantile estimate: linear interpolation between centroid-midpoint
    ranks, clamped to [min, max] at the extremes."""
    if len(means) == 0:
        return np.full(len(qs), np.nan)
    w = weights.astype(np.float64)
    total = w.sum()
    cum = np.cumsum(w) - w / 2.0  # midpoint rank of each centroid
    xs = np.concatenate(([0.0], cum, [total]))
    ys = np.concatenate(([mn], means, [mx]))
    return np.interp(np.asarray(qs, dtype=np.float64) * total, xs, ys)


def tdigest_agg(df: DataFrame, value_col: str,
                group_cols: list[str] | None = None,
                delta: float = 100.0) -> DataFrame:
    """Aggregate `value_col` into one t-digest per group.

    Output: group cols + (means array<double>, weights array<double>,
    n double, min_item, max_item). n is EXACT (sum of weights is
    preserved by every merge); quantiles via tdigest_quantiles."""
    def update(st, values):
        m, w = td_compress(values, np.ones(len(values)), delta)
        if st is None:
            return m, w
        return td_compress(np.concatenate([st[0], m]),
                           np.concatenate([st[1], w]), delta)

    def to_row(st):
        return {"means": st[0], "weights": st[1]}

    def merge(pdf):
        m = np.concatenate([np.asarray(x) for x in pdf["means"]])
        w = np.concatenate([np.asarray(x) for x in pdf["weights"]])
        return to_row(td_compress(m, w, delta))

    fields = [StructField("means", ArrayType(DoubleType())),
              StructField("weights", ArrayType(DoubleType()))]
    return two_phase_agg(df, value_col, group_cols, fields, update, to_row,
                         merge)


def tdigest_quantiles(digests: DataFrame, qs: list[float],
                      group_cols: list[str] | None = None,
                      round_to: int = 4) -> DataFrame:
    """(group, q, value) — quantile estimates from tdigest_agg output."""
    return read_quantiles(
        digests, qs, group_cols, round_to,
        lambda r, qarr: td_quantile(np.asarray(r["means"]),
                                    np.asarray(r["weights"]),
                                    r["min_item"], r["max_item"], qarr))

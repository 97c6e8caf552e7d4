"""Two-phase quantile-sketch aggregation shared by kll_agg, req_agg and
tdigest_agg, plus the compactor chain KLL and REQ both build on.

Phase 1 is a mapInPandas over each partition's whole Arrow batch iterator.
The session pins Arrow batches small for the document kernels, so per-batch
Python work would run thousands of times per partition. Batches are only
buffered; one factorize segments the buffer by group and folds each segment
into that group's sketch state. Past FLUSH_AT buffered rows the buffer is
folded and dropped, so memory is bounded by FLUSH_AT plus the states. NaNs
are dropped; n, min and max are tracked exactly beside the sketch.

Phase 2 is a per-group applyInPandas that merges the partitions' rows
(a literal group key when there are no group columns). No exchange
precedes phase 1; the group-by adds the only one.

A sketch supplies three state hooks:
  update(state or None, values) -> state
  to_row(state) -> {column: array}
  merge(pdf of one group's phase-1 rows) -> {column: array}
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

FLUSH_AT = 2_000_000

_EXACT_FIELDS = [StructField("n", DoubleType()),
                 StructField("min_item", DoubleType()),
                 StructField("max_item", DoubleType())]


def two_phase_agg(df: DataFrame, value_col: str,
                  group_cols: list[str] | None,
                  state_fields: list[StructField], update: Callable,
                  to_row: Callable, merge: Callable) -> DataFrame:
    """One sketch row per group: group cols + state_fields + (n, min_item,
    max_item). n, min_item and max_item are exact."""
    gcols = list(group_cols or [])
    schema = StructType([f for f in df.schema.fields if f.name in gcols]
                        + state_fields + _EXACT_FIELDS)
    flush_at = FLUSH_AT

    def _partial(batches):
        vbufs: list[np.ndarray] = []
        gbufs: list[np.ndarray] = []
        states: dict[tuple, object] = {}
        stats: dict[tuple, list] = {}  # key -> [n, mn, mx]

        def fold():
            if not vbufs:
                return
            v = np.concatenate(vbufs)
            vbufs.clear()
            if gcols:
                # a null key is a group of its own, not code -1 (which
                # would index the last unique key)
                codes, uniq = pd.factorize(np.concatenate(gbufs),
                                           use_na_sentinel=False)
                gbufs.clear()
                order = np.argsort(codes, kind="stable")
                bounds = np.flatnonzero(
                    np.r_[True, codes[order][1:] != codes[order][:-1]])
                segs = np.split(order, bounds[1:])
                keys = [uniq[codes[s[0]]] for s in segs]
                if len(gcols) == 1:
                    keys = [(key,) for key in keys]
            else:
                segs, keys = [np.arange(len(v))], [()]
            for key, seg in zip(keys, segs):
                vv = v[seg]
                vv = vv[~np.isnan(vv)]
                if not len(vv):
                    continue
                states[key] = update(states.get(key), vv)
                st = stats.setdefault(key, [0.0, np.inf, -np.inf])
                st[0] += len(vv)
                st[1] = min(st[1], float(vv.min()))
                st[2] = max(st[2], float(vv.max()))

        buffered = 0
        for pdf in batches:
            if not len(pdf):
                continue
            vbufs.append(pdf[value_col].to_numpy(dtype=np.float64))
            if gcols:
                gbufs.append(pdf[gcols[0]].to_numpy() if len(gcols) == 1
                             else pd.MultiIndex.from_frame(
                                 pdf[gcols]).to_numpy())
            buffered += len(pdf)
            if buffered >= flush_at:
                fold()
                buffered = 0
        fold()
        if states:
            rows = []
            for key, state in states.items():
                n, mn, mx = stats[key]
                row = dict(zip(gcols, key))
                row.update(to_row(state))
                row.update({"n": n, "min_item": mn, "max_item": mx})
                rows.append(row)
            yield pd.DataFrame(rows)

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {c: [pdf[c].iloc[0]] for c in gcols}
        out.update({c: [a] for c, a in merge(pdf).items()})
        out.update({"n": [float(pdf["n"].sum())],
                    "min_item": [float(pdf["min_item"].min())],
                    "max_item": [float(pdf["max_item"].max())]})
        return pd.DataFrame(out)

    partial = df.select(*(gcols + [value_col])).mapInPandas(_partial, schema)
    if gcols:
        return partial.groupBy(*gcols).applyInPandas(_merge, schema)
    return partial.groupBy(F.lit(1).alias("_g")).applyInPandas(
        lambda key, pdf: _merge(pdf), schema)


class CompactorChain:
    """Compactor chain over float64 values: an item at level l weighs 2^l.

    A level over its capacity is sorted and split by the subclass's
    one-level rule into items kept in place and an even-length section.
    Alternate items of the section move up one level at double weight,
    starting at a coin that alternates with every compaction (a
    deterministic stand-in for the published random coin, so runs are
    reproducible). Every compaction turns 2m items of weight 2^l into m
    items of weight 2^(l+1), so TOTAL WEIGHT == n exactly at all times.

    Subclasses supply _cap(lvl) and _split(sorted level) -> (kept,
    section)."""

    def __init__(self):
        self.levels: list[list[float]] = [[]]
        self.coins = 0

    def update(self, values: np.ndarray) -> None:
        self.add_weighted(values, 0)

    def add_weighted(self, values: np.ndarray, level: int) -> None:
        while len(self.levels) <= level:
            self.levels.append([])
        self.levels[level].extend(values.tolist())
        self._compress()

    def _compress(self) -> None:
        lvl = 0
        while lvl < len(self.levels):
            if len(self.levels[lvl]) > self._cap(lvl):
                kept, sec = self._split(
                    np.sort(np.asarray(self.levels[lvl], dtype=np.float64)))
                offset = self.coins & 1
                self.coins += 1
                if lvl + 1 >= len(self.levels):
                    self.levels.append([])
                self.levels[lvl + 1].extend(sec[offset::2].tolist())
                self.levels[lvl] = kept.tolist()
            lvl += 1

    def items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for lvl, buf in enumerate(self.levels):
            if buf:
                vals.append(np.asarray(buf, dtype=np.float64))
                wts.append(np.full(len(buf), 1 << lvl, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, np.int64)
        return np.concatenate(vals), np.concatenate(wts)

    def total_weight(self) -> int:
        return sum(len(b) * (1 << l) for l, b in enumerate(self.levels))

    def num_retained(self) -> int:
        return sum(len(b) for b in self.levels)

    def row(self) -> dict:
        vals, wts = self.items()
        return {"levels": np.log2(wts).astype(np.int64), "values": vals}


def chain_agg(df: DataFrame, value_col: str, group_cols: list[str] | None,
              new_chain: Callable[[], CompactorChain]) -> DataFrame:
    """two_phase_agg over a compactor chain. Output: group cols + (levels
    array<long> — per retained item, values array<double>, n, min_item,
    max_item). The merge replays each row's retained (value, 2^level)
    items into a fresh chain, level by level."""
    def update(ch, values):
        if ch is None:
            ch = new_chain()
        ch.update(values)
        return ch

    def merge(pdf):
        ch = new_chain()
        for lv, va in zip(pdf["levels"], pdf["values"]):
            lv = np.asarray(lv, dtype=np.int64)
            va = np.asarray(va, dtype=np.float64)
            for lvl in np.unique(lv):
                ch.add_weighted(va[lv == lvl], int(lvl))
        return ch.row()

    fields = [StructField("levels", ArrayType(LongType())),
              StructField("values", ArrayType(DoubleType()))]
    return two_phase_agg(df, value_col, group_cols, fields, update,
                         CompactorChain.row, merge)


def chain_items(r) -> tuple[np.ndarray, np.ndarray]:
    """(values, weights) of one chain_agg output row."""
    lv = np.asarray(r["levels"], dtype=np.int64)
    return np.asarray(r["values"]), np.int64(1) << lv


def weighted_quantile(values: np.ndarray, weights: np.ndarray,
                      qs: np.ndarray) -> np.ndarray:
    """Weighted quantile: smallest retained value whose cumulative weight
    reaches q*N (reference sorted-view semantics)."""
    order = np.argsort(values, kind="stable")
    v, w = values[order], weights[order].astype(np.float64)
    cum = np.cumsum(w)
    targets = np.asarray(qs, dtype=np.float64) * cum[-1]
    idx = np.minimum(np.searchsorted(cum, targets, side="left"), len(v) - 1)
    return v[idx]


def read_rows(sketches: DataFrame, group_cols: list[str] | None,
              out_fields: list[StructField], read: Callable) -> DataFrame:
    """Per-row reader over sketch rows: read(row) -> {column: array}, all
    arrays one length; the row's group values are repeated beside them."""
    gcols = list(group_cols or [])
    schema = StructType([f for f in sketches.schema.fields
                         if f.name in gcols] + out_fields)

    def run(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                cols = read(r)
                m = len(next(iter(cols.values())))
                out = {c: np.repeat(r[c], m) for c in gcols}
                out.update(cols)
                yield pd.DataFrame(out)

    return sketches.mapInPandas(run, schema)


def read_quantiles(sketches: DataFrame, qs: list[float],
                   group_cols: list[str] | None, round_to: int,
                   estimate: Callable) -> DataFrame:
    """(group, q, value) rows; estimate(row, qs) -> values."""
    qarr = np.asarray(qs, dtype=np.float64)
    return read_rows(
        sketches, group_cols,
        [StructField("q", DoubleType()), StructField("value", DoubleType())],
        lambda r: {"q": qarr,
                   "value": np.round(estimate(r, qarr), round_to)})

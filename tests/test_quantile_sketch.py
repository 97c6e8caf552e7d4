"""The two-phase scaffold under kll_agg, req_agg and tdigest_agg
(operators/quantile_sketch.py), checked once per sketch: group keys of
0, 1 and 2 columns, NaN values, input over several partitions, exact n /
min_item / max_item, exact retained weight, the multi-fold path, and the
plan shape (partial kernel with no exchange under it, one above it)."""

import numpy as np
import pandas as pd
import pytest

from sparkdedup.operators import quantile_sketch
from sparkdedup.operators.kll_agg import kll_agg
from sparkdedup.operators.req_agg import req_agg
from sparkdedup.operators.tdigest_agg import tdigest_agg

SKETCHES = {
    "kll": lambda df, g: kll_agg(df, "v", g, k=16),
    "req": lambda df, g: req_agg(df, "v", g, k=8),
    "req_lra": lambda df, g: req_agg(df, "v", g, k=8, hra=False),
    "tdigest": lambda df, g: tdigest_agg(df, "v", g, delta=20.0),
}
GROUPS = {"none": [], "one": ["g1"], "two": ["g1", "g2"]}


def _input(n=4000, seed=11):
    rng = np.random.default_rng(seed)
    v = rng.exponential(10.0, n)
    v[rng.random(n) < 0.05] = np.nan
    g1 = rng.choice(["a", "b", "c", "z"], n)
    v[g1 == "z"] = np.nan  # a group with no values has no sketch row
    return pd.DataFrame({"g1": g1, "g2": rng.integers(0, 3, n), "v": v})


def _weight(r):
    if "weights" in r:
        return float(np.sum(r["weights"]))
    return float((np.int64(1) << np.asarray(r["levels"])).sum())


def _check_exact(got, pdf, gcols):
    v = pdf.dropna(subset=["v"])
    if gcols:
        want = v.groupby(gcols)["v"].agg(["count", "min", "max"])
        m = got.merge(want.reset_index(), on=gcols)
    else:
        want = v["v"].agg(["count", "min", "max"]).to_frame().T
        m = pd.concat([got, want.reset_index(drop=True)], axis=1)
    assert len(got) == len(m) == len(want)
    assert (m["n"] == m["count"]).all()
    assert (m["min_item"] == m["min"]).all()
    assert (m["max_item"] == m["max"]).all()
    for _, r in m.iterrows():
        assert _weight(r) == r["n"]


@pytest.mark.parametrize("groups", list(GROUPS))
@pytest.mark.parametrize("sketch", list(SKETCHES))
def test_exact_stats_and_weight(spark, sketch, groups):
    pdf = _input()
    df = spark.createDataFrame(pdf)
    assert df.rdd.getNumPartitions() > 1
    gcols = GROUPS[groups]
    _check_exact(SKETCHES[sketch](df, gcols).toPandas(), pdf, gcols)


@pytest.fixture
def small_folds(spark, monkeypatch):
    """50-row Arrow batches and a FLUSH_AT of 128 rows: every partition
    folds its buffer into existing sketch state several times."""
    monkeypatch.setattr(quantile_sketch, "FLUSH_AT", 128)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "50")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("sketch", list(SKETCHES))
def test_multi_fold_path(spark, small_folds, sketch):
    pdf = _input(seed=13)
    gcols = ["g1", "g2"]
    _check_exact(SKETCHES[sketch](spark.createDataFrame(pdf), gcols)
                 .toPandas(), pdf, gcols)


def test_multi_fold_keeps_every_item(spark, small_folds):
    """KLL in its exact regime retains every value, so the folded chains
    must hold exactly the group's non-NaN values."""
    pdf = _input(seed=17)
    got = kll_agg(spark.createDataFrame(pdf), "v", ["g1"], k=4096).toPandas()
    for _, r in got.iterrows():
        assert (np.asarray(r["levels"]) == 0).all()
        want = pdf.loc[pdf.g1 == r["g1"], "v"].dropna().to_numpy()
        assert np.array_equal(np.sort(r["values"]), np.sort(want))


@pytest.mark.parametrize("sketch", list(SKETCHES))
def test_null_group_key_is_its_own_group(spark, sketch):
    """A null group key is a group of its own, not folded into another."""
    pdf = pd.DataFrame({"g1": ["a"] * 5 + [None] * 5,
                        "v": [1.0, 2.0, 3.0, 4.0, 5.0] + [100.0] * 5})
    got = SKETCHES[sketch](spark.createDataFrame(pdf).coalesce(1),
                           ["g1"]).toPandas()
    assert len(got) == 2
    a = got[got.g1 == "a"].iloc[0]
    assert (a["n"], a["min_item"], a["max_item"]) == (5.0, 1.0, 5.0)
    null = got[got.g1.isna()].iloc[0]
    assert (null["n"], null["min_item"]) == (5.0, 100.0)


@pytest.mark.parametrize("groups", ["none", "one"])
@pytest.mark.parametrize("sketch", list(SKETCHES))
def test_plan_partial_before_one_exchange(spark, sketch, groups):
    """The partial kernel runs on the scan side with no exchange under
    it; the group-by merge adds exactly one exchange above it."""
    df = spark.createDataFrame(_input(n=200))
    out = SKETCHES[sketch](df, GROUPS[groups])
    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
    mp = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert len(mp) == 1
    # plans print top-down: lines above the partial are the operators
    # that consume its output
    assert sum("Exchange" in ln for ln in lines[:mp[0]]) == 1
    assert sum("Exchange" in ln for ln in lines[mp[0]:]) == 0

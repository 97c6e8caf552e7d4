"""REQ relative-error quantile sketch (operators/req_agg.py): exact
invariants (total weight, min/max, top-k retention), relative-tail
accuracy envelope, merge invariance, and the Spark two-phase operator."""

import numpy as np
import pytest

from sparkdedup.operators.quantile_sketch import weighted_quantile
from sparkdedup.operators.req_agg import _ReqChain, req_agg, req_agg_quantiles

SF_DIR = "/root/testdata/sf0.001"


def _chain_over(values, k=64, chunk=1000):
    ch = _ReqChain(k)
    for i in range(0, len(values), chunk):
        ch.update(np.asarray(values[i:i + chunk], dtype=np.float64))
    return ch


def test_total_weight_exact():
    rng = np.random.default_rng(3)
    for n in (10, 1000, 57_123):
        ch = _chain_over(rng.standard_normal(n))
        assert ch.total_weight() == n


def test_top_k_retained_exactly():
    """HRA: the protected top of level 0 always contains the true global
    top-k items — the property that makes extreme-tail queries EXACT."""
    rng = np.random.default_rng(7)
    v = rng.exponential(1.0, 30_000)
    k = 64
    ch = _chain_over(v, k=k)
    level0 = np.sort(np.asarray(ch.levels[0]))
    want_top = np.sort(v)[-k:]
    assert len(level0) >= k
    assert np.array_equal(np.sort(level0)[-k:], want_top)


@pytest.mark.parametrize("q", [0.9, 0.99, 0.999, 0.9999])
def test_relative_tail_rank_error(q):
    rng = np.random.default_rng(11)
    n = 200_000
    v = rng.standard_normal(n)
    s = np.sort(v)
    ch = _chain_over(v)
    vals, wts = ch.items()
    est = weighted_quantile(vals, wts, np.array([q]))[0]
    est_rank = np.searchsorted(s, est, side="right")
    target = q * n
    tail = n - target + 1
    # relative-tail envelope: error proportional to tail mass, never to n
    assert abs(est_rank - target) <= 0.15 * tail + 2, (
        q, est_rank, target, tail)


def test_merge_invariance_and_weight():
    rng = np.random.default_rng(19)
    v = rng.standard_normal(100_000)
    whole = _chain_over(v)
    merged = _ReqChain(64)
    for c in np.array_split(v, 8):
        part = _chain_over(c)
        vals, wts = part.items()
        lv = np.log2(wts).astype(np.int64)
        for lvl in np.unique(lv):
            merged.add_weighted(vals[lv == lvl], int(lvl))
    assert merged.total_weight() == whole.total_weight() == 100_000
    s = np.sort(v)
    for q in (0.99, 0.999):
        for ch in (whole, merged):
            vals, wts = ch.items()
            est = weighted_quantile(vals, wts, np.array([q]))[0]
            r = np.searchsorted(s, est, side="right")
            tail = len(s) - q * len(s) + 1
            assert abs(r - q * len(s)) <= 0.2 * tail + 2


def test_spark_operator_exact_invariants(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sk = req_agg(li, "l_extendedprice", ["l_returnflag"], k=64)
    got = sk.toPandas()
    want = (li.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.min("l_extendedprice").alias("lo"),
                 F.max("l_extendedprice").alias("hi"))).toPandas()
    m = got.merge(want, on="l_returnflag")
    assert (m.n_x == m.n_y).all()
    assert (m.min_item == m.lo).all()
    assert (m.max_item == m.hi).all()
    # total weight of retained items == n, per group
    for _, r in got.iterrows():
        wsum = int((np.int64(1) << np.asarray(r["levels"])).sum())
        assert wsum == int(r["n"])
    # tail quantile through the full two-phase pipeline
    qs = req_agg_quantiles(sk, [0.999], ["l_returnflag"]).toPandas()
    exact = (li.groupBy("l_returnflag")
             .agg(F.percentile("l_extendedprice", F.lit(0.999)).alias("p"))
             ).toPandas()
    mm = qs.merge(exact, on="l_returnflag")
    spreadf = want.hi.max() - want.lo.min()
    assert (abs(mm.value - mm.p) <= 0.1 * spreadf).all()


def test_chain_property_weight_exact():
    """Property: total retained weight equals the exact input count for
    arbitrary float streams and chunkings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.floats(-1e9, 1e9, allow_nan=False),
                    min_size=1, max_size=3000),
           st.integers(min_value=1, max_value=997))
    def check(vals, chunk):
        ch = _ReqChain(8)
        a = np.asarray(vals, dtype=np.float64)
        for i in range(0, len(a), chunk):
            ch.update(a[i:i + chunk])
        assert ch.total_weight() == len(a)
        # max always retained (HRA protected top)
        vs, _ = ch.items()
        assert a.max() in vs

    check()


# ---------------------------------------------------------------- LRA mode


def _lra_chain_over(values, k=64, chunk=1000):
    ch = _ReqChain(k, hra=False)
    for i in range(0, len(values), chunk):
        ch.update(np.asarray(values[i:i + chunk], dtype=np.float64))
    return ch


def test_lra_bottom_k_retained_exactly():
    """LRA: the protected bottom of level 0 always contains the true
    global bottom-k items — the mirror of the HRA top-k property, and
    what makes q_req_bottomk_prices' exact gate valid."""
    rng = np.random.default_rng(23)
    v = rng.exponential(1.0, 30_000)
    k = 64
    ch = _lra_chain_over(v, k=k)
    level0 = np.sort(np.asarray(ch.levels[0]))
    want_bottom = np.sort(v)[:k]
    assert len(level0) >= k
    assert np.array_equal(level0[:k], want_bottom)


@pytest.mark.parametrize("q", [0.1, 0.01, 0.001, 0.0001])
def test_lra_relative_head_rank_error(q):
    """LRA envelope: rank error at LOW rank r proportional to r, not n —
    the mirror of test_relative_tail_rank_error."""
    rng = np.random.default_rng(29)
    n = 200_000
    v = rng.standard_normal(n)
    s = np.sort(v)
    ch = _lra_chain_over(v)
    vals, wts = ch.items()
    est = weighted_quantile(vals, wts, np.array([q]))[0]
    est_rank = np.searchsorted(s, est, side="right")
    target = q * n
    head = target + 1
    assert abs(est_rank - target) <= 0.15 * head + 2, (
        q, est_rank, target, head)


def test_lra_merge_weight_and_bottom():
    """LRA merge: exact total weight, and the merged chain's level 0
    still holds the true global bottom-k (merge replays level-0 items
    back through level 0, whose bottom is protected)."""
    rng = np.random.default_rng(31)
    v = rng.standard_normal(100_000)
    k = 64
    merged = _ReqChain(k, hra=False)
    for c in np.array_split(v, 8):
        part = _lra_chain_over(c, k=k)
        vals, wts = part.items()
        lv = np.log2(wts).astype(np.int64)
        for lvl in np.unique(lv):
            merged.add_weighted(vals[lv == lvl], int(lvl))
    assert merged.total_weight() == 100_000
    level0 = np.sort(np.asarray(merged.levels[0]))
    assert np.array_equal(level0[:k], np.sort(v)[:k])


def test_lra_chain_property_min_retained():
    """Property (mirror of test_chain_property_weight_exact): exact total
    weight and the protected LOW end always retains the minimum."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.floats(-1e9, 1e9, allow_nan=False),
                    min_size=1, max_size=3000),
           st.integers(min_value=1, max_value=997))
    def check(vals, chunk):
        ch = _ReqChain(8, hra=False)
        a = np.asarray(vals, dtype=np.float64)
        for i in range(0, len(a), chunk):
            ch.update(a[i:i + chunk])
        assert ch.total_weight() == len(a)
        vs, _ = ch.items()
        assert a.min() in vs

    check()


def test_lra_spark_operator_bottomk(spark):
    """Two-phase Spark LRA operator: per-group level-0 bottom-5 equals
    the exact ascending window — the gate query's property, end to end."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sk = req_agg(li, "l_extendedprice", ["l_returnflag"], k=64, hra=False)
    got = sk.toPandas()
    li_pd = li.select("l_returnflag", "l_extendedprice").toPandas()
    for _, r in got.iterrows():
        lv = np.asarray(r["levels"])
        lvl0 = np.sort(np.asarray(r["values"])[lv == 0])
        want = np.sort(li_pd.loc[li_pd.l_returnflag == r["l_returnflag"],
                                 "l_extendedprice"].to_numpy())[:5]
        assert np.array_equal(lvl0[:5], want)

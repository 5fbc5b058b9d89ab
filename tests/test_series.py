"""Series operator tests — golden values mirror the reference's
tests/core/test_series.py (5-row fixtures, hand-computed expecteds)."""

import numpy as np
import pytest


@pytest.fixture
def sr(bl):
    return bl.Series(np.array([1, 2, 3, 4, 5], dtype=np.int64), name="x")


def test_len(sr):
    assert len(sr) == 5


def test_comparisons(sr):
    assert (sr > 3).to_pandas().tolist() == [False, False, False, True, True]
    assert (sr <= 2).to_pandas().tolist() == [True, True, False, False, False]
    assert (sr == 3).to_pandas().tolist() == [False, False, True, False, False]
    assert (sr != 3).to_pandas().tolist() == [True, True, False, True, True]


def test_bool_combinators(sr):
    m = (sr > 1) & (sr < 5)
    assert m.to_pandas().tolist() == [False, True, True, True, False]
    m2 = (sr == 1) | (sr == 5)
    assert m2.to_pandas().tolist() == [True, False, False, False, True]
    assert (~m2).to_pandas().tolist() == [False, True, True, True, False]


def test_filter_mask(sr):
    out = sr[(sr > 1) & (sr < 5)]
    assert out.to_pandas().tolist() == [2, 3, 4]


def test_arithmetic(sr):
    assert (sr * 2 + 1 - 23).to_pandas().tolist() == [-20, -18, -16, -14, -12]
    assert (sr / 2).to_pandas().tolist() == [0.5, 1.0, 1.5, 2.0, 2.5]
    assert (sr ** 2).to_pandas().tolist() == [1, 4, 9, 16, 25]
    assert (10 - sr).to_pandas().tolist() == [9, 8, 7, 6, 5]


def test_series_series_arithmetic_same_frame(bl):
    df = bl.DataFrame({"a": np.array([1., 2., 3.]), "b": np.array([10., 20., 30.])})
    out = df["a"] + df["b"]
    assert out.to_pandas().tolist() == [11.0, 22.0, 33.0]


def test_series_series_cross_frame_positional(bl):
    a = bl.Series(np.array([1, 2, 3], dtype=np.int64))
    b = bl.Series(np.array([10, 20, 30], dtype=np.int64))
    out = (a + b).to_pandas().tolist()
    assert sorted(out) == [11, 22, 33]


def test_cross_frame_align_after_filter(bl):
    # Regression: after a filter, ORD_COL labels are sparse (2,3,4) —
    # positional alignment must recompute dense positions, not join
    # labels against the other side's 0..n-1 ordinals.
    sr = bl.Series(np.array([10, 20, 30, 40, 50], dtype=np.int64))
    flt = sr[sr > 20]
    out = (flt + np.array([1, 2, 3])).to_pandas().tolist()
    assert out == [31, 42, 53]
    # filtered vs filtered from a different frame, both sparse
    other = bl.Series(np.array([0, 7, 0, 8, 9], dtype=np.int64))
    oflt = other[other > 0]
    assert (flt + oflt).to_pandas().tolist() == [37, 48, 59]


def test_aggregations(sr):
    assert sr.sum() == 15.0
    assert sr.min() == 1.0
    assert sr.max() == 5.0
    assert sr.prod() == 120.0
    assert sr.count() == 5
    assert sr.mean() == 3.0
    # sample variance (weld_aggs.py:113-151): sum((x-3)^2)/4 = 10/4
    assert sr.var() == pytest.approx(2.5)
    assert sr.std() == pytest.approx(np.sqrt(2.5))


def test_multi_agg_one_job(sr):
    out = sr.agg(["min", "max", "mean", "std"]).to_pandas()
    assert out["min"] == 1.0
    assert out["max"] == 5.0
    assert out["mean"] == 3.0
    assert out["std"] == pytest.approx(np.sqrt(2.5))


def test_head_tail_slice_iloc(sr):
    assert sr.head(2).to_pandas().tolist() == [1, 2]
    assert sr.tail(2).to_pandas().tolist() == [4, 5]
    assert sr[1:4].to_pandas().tolist() == [2, 3, 4]
    assert sr[0:5:2].to_pandas().tolist() == [1, 3, 5]
    assert sr.iloc[3] == 4
    assert sorted(sr.iloc[[0, 2]].to_pandas().tolist()) == [1, 3]


def test_astype(sr):
    assert sr.astype("float64").dtype == np.dtype(np.float64)
    assert sr.astype(np.float32).to_pandas().tolist() == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_unique(bl):
    sr = bl.Series(np.array([3, 1, 2, 1, 3], dtype=np.int64))
    assert sorted(sr.unique().to_pandas().tolist()) == [1, 2, 3]


def test_missing(bl):
    sr = bl.DataFrame({"x": [1.0, None, 3.0]})["x"]
    assert sr.isna().to_pandas().tolist() == [False, True, False]
    assert sr.notna().to_pandas().tolist() == [True, False, True]
    assert sr.fillna(-1.0).to_pandas().tolist() == [1.0, -1.0, 3.0]
    assert sr.dropna().to_pandas().tolist() == [1.0, 3.0]


def test_apply_modes(bl, sr):
    # mode 1: predefined lazy function
    assert sr.astype("float64").apply(bl.sqrt).to_pandas().tolist() == \
        pytest.approx([1, np.sqrt(2), np.sqrt(3), 2, np.sqrt(5)])
    # mode 3: SQL expression template (Weld-IR template analogue)
    assert sr.apply("{self} * 2 + 1").to_pandas().tolist() == [3, 5, 7, 9, 11]
    # mode 5/6: eager numpy via pandas_udf
    out = sr.apply(lambda a: a * 10, new_dtype="int64").to_pandas().tolist()
    assert out == [10, 20, 30, 40, 50]


def test_index_preserved_through_filter(bl):
    sr = bl.Series(np.array([10., 20., 30.]), index=np.array([7, 8, 9]), name="v")
    out = sr[sr > 15].to_pandas()
    assert out.index.tolist() == [8, 9]
    assert out.tolist() == [20.0, 30.0]


def test_column_repr_format_pinned(bl):
    # Series.apply template mode inlines the expression SQL parsed out
    # of str(Column) — not a stable PySpark API. If this test fails
    # after a PySpark upgrade, update the parsing in Series.apply
    # (core/series.py) in the same change.
    from pyspark.sql import functions as F
    # plain/cast/F.expr-built columns: repr wrapper is Column<'SQL'>
    # and the payload parses back through F.expr (the inline path)
    for c, sql in [(F.col("x"), "x"),
                   (F.col("x").cast("double"), "CAST(x AS DOUBLE)")]:
        r = str(c)
        assert r == f"Column<'{sql}'>", r
        F.expr(r[len("Column<'"):-2])
    # composed Python arithmetic renders function-call style (NOT SQL)
    # on this PySpark — the fallback projection path must cover it
    assert str(F.col("x") * 2 + 1) == "Column<'+(*(x, 2), 1)'>"
    sr = bl.Series(np.array([1.0, 4.0, 9.0]))
    doubled = (sr * 2).apply("{self} + 1").to_pandas().tolist()
    assert doubled == [3.0, 9.0, 19.0]


def test_idxmax_idxmin(bl):
    sr = bl.Series(np.array([3.0, 9.0, 1.0, 9.0]),
                   index=np.array([10, 20, 30, 40]))
    assert sr.idxmax() == 20  # first occurrence on ties
    assert sr.idxmin() == 30


def test_shift_diff(bl):
    # partition-safe boundary-carry shift: no ScaleWarning anymore
    sr = bl.Series(np.array([1.0, 4.0, 9.0, 16.0]))
    import math
    out = sr.shift(1).to_pandas().tolist()
    assert out[1:] == [1.0, 4.0, 9.0]
    assert out[0] is None or math.isnan(out[0])
    d = sr.diff(1).to_pandas().tolist()
    assert d[1:] == [3.0, 5.0, 7.0]
    assert sr.shift(-1).to_pandas().tolist()[:3] == [4.0, 9.0, 16.0]
    assert sr.shift(2).to_pandas().tolist()[2:] == [1.0, 4.0]


def test_value_counts_normalize_and_mode(bl):
    import pandas as pd
    vals = np.array(["a", "b", "a", "c", "a", "b"])
    sr = bl.Series(vals, name="s")
    norm = sr.value_counts(normalize=True).to_pandas()
    want = pd.Series(vals).value_counts(normalize=True)
    assert {k: round(v, 6) for k, v in norm.items()} == \
        {k: round(v, 6) for k, v in want.items()}
    assert sr.mode().to_pandas().tolist() == ["a"]
    # all ties returned, ascending
    tied = bl.Series(np.array([1, 1, 2, 2, 3]))
    assert tied.mode().to_pandas().tolist() == [1, 2]


def test_cut_matches_pandas(bl):
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(11)
    vals = rng.uniform(-5, 105, 300)
    df = bl.DataFrame({"v": vals})
    bins = [0, 25, 50, 75, 100]
    labels = ["q1", "q2", "q3", "q4"]
    got = df["v"].cut(bins, labels=labels).to_pandas()
    want = pd.cut(pd.Series(vals), bins, labels=labels).astype(object)
    assert [g if g is not None else None for g in got] \
        == [w if isinstance(w, str) else None for w in want]
    # right=False flips the closed side
    got_l = df["v"].cut([0, 50, 100], labels=["lo", "hi"],
                        right=False).to_pandas()
    want_l = pd.cut(pd.Series(vals), [0, 50, 100], labels=["lo", "hi"],
                    right=False).astype(object)
    assert [g for g in got_l] \
        == [w if isinstance(w, str) else None for w in want_l]


def test_qcut_matches_pandas(bl):
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(12)
    vals = rng.randn(1000)
    df = bl.DataFrame({"v": vals})
    got = df["v"].qcut(4, labels=["a", "b", "c", "d"]).to_pandas()
    want = pd.qcut(pd.Series(vals), 4,
                   labels=["a", "b", "c", "d"]).astype(object)
    assert list(got) == list(want)


def test_cut_validation(bl):
    import pytest
    df = bl.DataFrame({"v": [1.0]})
    with pytest.raises(ValueError):
        df["v"].cut([1])
    with pytest.raises(ValueError):
        df["v"].cut([0, 1, 2], labels=["only_one"])
    with pytest.raises(ValueError):
        df["v"].qcut(0)


def test_rank_first_ties_break_by_logical_position(bl):
    """method='first' must break ties by order of appearance in the
    LOGICAL order, not physical partition layout — verified by
    repartitioning the backing frame and demanding pandas parity."""
    import pandas as pd
    vals = [5.0, 1.0, 5.0, 3.0, 1.0, 5.0, 2.0, 5.0]
    df = bl.DataFrame({"x": np.array(vals)})
    s = df["x"]
    s._sdf = s._sdf.repartition(7)  # scramble the physical layout
    got = s.rank(method="first").to_pandas().tolist()
    want = pd.Series(vals).rank(method="first").astype(int).tolist()
    assert got == want
    s._sdf = s._sdf.repartition(3)
    assert s.rank(method="first").to_pandas().tolist() == want


def test_rank_descending_first(bl):
    import pandas as pd
    vals = [2.0, 7.0, 2.0, 9.0, 7.0]
    df = bl.DataFrame({"x": np.array(vals)})
    got = df["x"].rank(method="first", ascending=False).to_pandas().tolist()
    want = pd.Series(vals).rank(method="first",
                                ascending=False).astype(int).tolist()
    assert got == want


def test_rank_leaves_nulls_unranked(bl):
    """pandas rank leaves NaN unranked by default (na_option='keep');
    ranks of real values must not shift under nulls."""
    import math

    import pandas as pd
    vals = [3.0, np.nan, 1.0, 3.0, np.nan, 2.0]
    df = bl.DataFrame({"x": np.array(vals)})
    pds = pd.Series(vals)
    for method in ("min", "first", "dense"):
        for asc in (True, False):
            got = df["x"].rank(method=method, ascending=asc) \
                .to_pandas().tolist()
            want = pds.rank(method=method, ascending=asc).tolist()
            assert len(got) == len(want)
            for g, w in zip(got, want):
                if math.isnan(w):
                    assert g is None or (isinstance(g, float)
                                         and math.isnan(g)), (method, asc)
                else:
                    assert g is not None and float(g) == w, (method, asc)


@pytest.mark.parametrize("method",
                         ["average", "min", "max", "first", "dense"])
def test_rank_assigned_back_to_frame_sorted_by_data_column(bl, method):
    """A Series ranked out of a frame sorted by one of its DATA columns
    and assigned back: every row gets its own rank (the sort column
    must survive the rank), for both pct flavors, as float64 like
    pandas."""
    import pandas as pd
    pdf = pd.DataFrame({"k": [3, 1, 2, 0, 5, 4],
                        "x": [10., 40., 20., 30., 20., np.nan]})
    for pct in (False, True):
        df = bl.DataFrame(pdf).sort_values("k")
        df["r"] = df["x"].rank(method=method, pct=pct)
        got = df.to_pandas()
        want = pdf.sort_values("k")
        want = want.assign(r=want["x"].rank(method=method, pct=pct))
        assert got["k"].tolist() == want["k"].tolist()
        np.testing.assert_allclose(
            got["r"].to_numpy(dtype=float),
            want["r"].to_numpy(dtype=float), equal_nan=True,
            err_msg=f"pct={pct}")
    ranks = bl.Series(np.array([3., 1., 3.])).rank(method=method)
    assert ranks.to_pandas().dtype == np.float64


def test_pct_change_zero_divisor_is_ieee(bl):
    """pandas divides in IEEE floats: x/0 - 1 is ±inf, 0/0 - 1 is NaN
    — on the Series face and the frame face alike."""
    import pandas as pd
    vals = {"a": [0., 1., 0., 2., -3., 0.], "b": [1., -1., 0., 0., 0., 0.]}
    pdf = pd.DataFrame(vals)
    df = bl.DataFrame({k: np.array(v) for k, v in vals.items()})
    got = df["a"].pct_change().to_pandas().to_numpy(dtype=float)
    np.testing.assert_array_equal(got, pdf["a"].pct_change().to_numpy())
    gotf = df.pct_change().to_pandas()
    for c in vals:
        np.testing.assert_array_equal(
            gotf[c].to_numpy(dtype=float),
            pdf.pct_change()[c].to_numpy(), err_msg=c)


def test_rank_average_and_max_match_pandas(bl):
    import math

    import pandas as pd
    vals = [3.0, 1.0, 3.0, np.nan, 2.0, 3.0, 1.0]
    df = bl.DataFrame({"x": np.array(vals)})
    pds = pd.Series(vals)
    for method in ("average", "max"):
        for asc in (True, False):
            got = df["x"].rank(method=method, ascending=asc) \
                .to_pandas().tolist()
            want = pds.rank(method=method, ascending=asc).tolist()
            for g, w in zip(got, want):
                if math.isnan(w):
                    assert g is None or math.isnan(g), (method, asc)
                else:
                    assert float(g) == w, (method, asc)


def test_rank_pct_matches_pandas(bl):
    import math

    import pandas as pd
    vals = [3.0, 1.0, 3.0, np.nan, 2.0]
    df = bl.DataFrame({"x": np.array(vals)})
    pds = pd.Series(vals)
    for method in ("min", "average", "dense", "first"):
        got = df["x"].rank(method=method, pct=True).to_pandas().tolist()
        want = pds.rank(method=method, pct=True).tolist()
        for g, w in zip(got, want):
            if math.isnan(w):
                assert g is None or math.isnan(g), method
            else:
                assert float(g) == pytest.approx(w), method


def test_qcut_approx_close_to_exact(bl):
    li = bl.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    exact = li["l_extendedprice"].qcut(4, labels=["a", "b", "c", "d"]) \
        .to_spark().groupBy("l_extendedprice").count().collect()
    approx = li["l_extendedprice"].qcut(
        4, labels=["a", "b", "c", "d"], approx=True) \
        .to_spark().groupBy("l_extendedprice").count().collect()
    e = {r[0]: r["count"] for r in exact}
    a = {r[0]: r["count"] for r in approx}
    n = sum(e.values())
    # approx edges shift bin populations by at most the sketch error
    for k in e:
        assert abs(e[k] - a.get(k, 0)) / n < 0.02


def test_value_counts_dropna_matches_pandas(bl):
    import pandas as pd
    vals = [1.0, np.nan, 1.0, 2.0, np.nan, np.nan]
    sr = bl.Series(np.array(vals), name="x")
    got = dict(sr.value_counts().to_pandas())
    want = dict(pd.Series(vals).value_counts())
    assert got == want                       # NaN excluded
    kept = {(None if k is None else k): v
            for k, v in dict(sr.value_counts(dropna=False)
                             .to_pandas()).items()}
    assert kept[1.0] == 2 and kept[2.0] == 1
    assert sum(v for k, v in kept.items() if k is None or k != k) == 3


def test_isin_large_list_plans_as_join(bl, monkeypatch):
    """VERDICT r4 Next #7: a 10^5-value isin must plan as a broadcast
    join, not a 10^5-literal expression; small lists stay IN-sets;
    the two faces agree on values, NULLs included."""
    import numpy as np
    sr = bl.Series(np.array([1.0, 2.0, np.nan, 500000.0]), name="v")
    big = list(range(100000)) + [2]
    out = sr.isin(big)
    plan = out.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # NaN rides as NULL under the sentinel codec; the literal face
    # answers None for it, and the join face must agree
    assert out.to_pandas().tolist() == [True, True, None, False]
    # parity: same list through both faces (budget forced down)
    import baloo_spark.core.series as sm
    small = [1, 2, 99]
    lit = sr.isin(small).to_pandas().tolist()
    monkeypatch.setattr(sm, "_ISIN_LITERAL_MAX", 1)
    join = sr.isin(small).to_pandas().tolist()
    assert join == lit == [True, True, None, False]


def test_clip_preserves_null(bl):
    """r5 probe: Spark greatest/least SKIP nulls, which clamped NaN
    to the bound — pandas propagates NaN through clip."""
    import numpy as np
    import pandas as pd
    sr = bl.Series(np.array([1.0, 5.0, np.nan, 3.0]), name="x")
    got = sr.clip(2, 4).to_pandas()
    want = pd.Series([1.0, 5.0, np.nan, 3.0]).clip(2, 4)
    assert got.tolist()[0:2] == want.tolist()[0:2]
    assert np.isnan(got.tolist()[2]) and got.tolist()[3] == 3.0
    lo = sr.clip(lower=2).to_pandas().tolist()
    assert lo[0] == 2.0 and lo[1] == 5.0 and np.isnan(lo[2])


def test_cumulative_preserves_null_positions(bl):
    """r5 probe: pandas emits NaN AT a missing position while skipping
    it in the running accumulation."""
    import numpy as np
    import pandas as pd
    vals = [1.0, np.nan, 2.0, np.nan, 4.0]
    sr = bl.Series(np.array(vals), name="x")
    ps = pd.Series(vals)
    for kind in ("cumsum", "cumprod", "cummin", "cummax"):
        got = getattr(sr, kind)().to_pandas().tolist()
        want = getattr(ps, kind)().tolist()
        assert all((a != a and b != b) or a == b
                   for a, b in zip(got, want)), (kind, got, want)


def test_round_bankers_and_python_mod(bl):
    """r5 probe batch: pandas/NumPy round is HALF_EVEN (2.5 -> 2) and
    modulo follows the divisor's sign (-7 % 3 == 2)."""
    import numpy as np
    import pandas as pd
    sr = bl.Series(np.array([0.5, 1.5, 2.5, 2.675]), name="x")
    assert sr.round(0).to_pandas().tolist() == \
        pd.Series([0.5, 1.5, 2.5, 2.675]).round(0).tolist()
    m = bl.Series(np.array([-7.0, 7.0, -7.0]), name="x")
    assert (m % 3).to_pandas().tolist() == \
        (pd.Series([-7.0, 7.0, -7.0]) % 3).tolist()
    assert (m % -3).to_pandas().tolist() == \
        (pd.Series([-7.0, 7.0, -7.0]) % -3).tolist()
    assert (10 % bl.Series(np.array([3.0, -3.0]), name="x")) \
        .to_pandas().tolist() == (10 % pd.Series([3.0, -3.0])).tolist()


def test_rank_default_average_and_builtin_abs(bl):
    """r5 continuation probe: rank() defaults to method='average'
    like pandas (it was 'min'), and builtin abs(sr) works."""
    import numpy as np
    import pandas as pd
    vals = [3.0, 1.0, 2.0, 2.0]
    s = bl.Series(np.array(vals), name="v")
    assert s.rank().to_pandas().tolist() == \
        pd.Series(vals).rank().tolist() == [4.0, 1.0, 2.5, 2.5]
    assert s.rank(pct=True).to_pandas().tolist() == \
        pd.Series(vals).rank(pct=True).tolist()
    assert abs(bl.Series(np.array([-1.0, 2.0, -3.0]), name="v")) \
        .to_pandas().tolist() == [1.0, 2.0, 3.0]


def test_skew_kurt_pandas_bias_correction(bl):
    """Spark's skewness/kurtosis are POPULATION statistics; pandas
    applies bias corrections. Pin the corrected parity, the n<3/n<4
    NaN edges, and the zero-variance 0.0 edge."""
    import math

    import numpy as np
    import pandas as pd
    cases = [[1., 2., 3., 4., 10.],
             [1., 2., np.nan, 4., 10., 2.5, 2.5],
             [1., 2.], [5.] * 6, [1., 2., 3.]]
    for vals in cases:
        s = bl.Series(np.array(vals), name="v")
        p = pd.Series(vals)
        for ours, want in ((s.skew(), p.skew()), (s.kurt(), p.kurt())):
            if math.isnan(want):
                assert math.isnan(ours), (vals, ours, want)
            else:
                assert abs(ours - want) < 1e-9, (vals, ours, want)


def test_mode_and_nsmallest_drop_nan(bl):
    """r5 continuation probe: mode never counts NaN as a candidate
    (the NULL group used to win ties), and nlargest/nsmallest sort
    NaN LAST (Spark's asc order surfaces NULLs first otherwise)."""
    import numpy as np
    import pandas as pd
    vals = [1., np.nan, np.nan, 1., 2.]
    s = bl.Series(np.array(vals), name="v")
    p = pd.Series(vals)
    assert s.mode().to_pandas().tolist() == p.mode().tolist() == [1.0]
    assert s.nsmallest(2).to_pandas().tolist() == \
        p.nsmallest(2).tolist() == [1.0, 1.0]
    got10 = s.nlargest(10).to_pandas().tolist()
    want10 = p.nlargest(10).tolist()   # pandas keeps NaN at the tail
    assert got10[:3] == want10[:3] == [2.0, 1.0, 1.0]
    assert [x != x for x in got10] == [x != x for x in want10]


def test_between_inclusive_modes(bl):
    """between accepts the pandas 2.x 'both'/'neither'/'left'/'right'
    strings plus legacy booleans."""
    import numpy as np
    import pandas as pd
    import pytest
    vals = [1., 2., 3., 4.]
    s = bl.Series(np.array(vals), name="v")
    p = pd.Series(vals)
    for inc in ("both", "neither", "left", "right"):
        assert s.between(2, 3, inclusive=inc).to_pandas().tolist() == \
            p.between(2, 3, inclusive=inc).tolist(), inc
    assert s.between(2, 3, inclusive=True).to_pandas().tolist() == \
        p.between(2, 3, inclusive="both").tolist()
    with pytest.raises(ValueError, match="inclusive"):
        s.between(2, 3, inclusive="mid")


def test_cut_int_bins_and_codes(bl):
    """pandas pd.cut parity: int bins (equal-width with the 0.1%
    outer-edge padding) and labels=False integer codes."""
    import numpy as np
    import pandas as pd
    vals = [3., 1., np.nan, 2., 5., 2., 8., 7.]
    s = bl.DataFrame({"v": np.array(vals)})["v"]
    p = pd.Series(vals)
    for kw in ({"bins": 3}, {"bins": [0, 2, 4, 9]},
               {"bins": [1, 3, 5, 9], "right": False}):
        got = s.cut(labels=False, **kw).to_pandas()
        want = pd.cut(p, labels=False, **kw)
        np.testing.assert_allclose(got.fillna(-1).to_numpy(dtype=float),
                                   pd.Series(want).fillna(-1)
                                   .to_numpy(dtype=float), err_msg=str(kw))


def test_qcut_codes_list_q_duplicates(bl):
    """pandas pd.qcut parity: labels=False codes (bit-exact edge
    placement via the np.percentile roundtrip), list-of-quantiles,
    duplicates='drop'."""
    import numpy as np
    import pandas as pd
    import pytest
    vals = [3., 1., np.nan, 2., 5., 2., 8., 7.]
    s = bl.DataFrame({"v": np.array(vals)})["v"]
    p = pd.Series(vals)
    got = s.qcut(3, labels=False).to_pandas()
    want = pd.qcut(p, 3, labels=False)
    np.testing.assert_allclose(got.fillna(-1).to_numpy(dtype=float),
                               want.fillna(-1).to_numpy(dtype=float))
    got = s.qcut([0, .5, 1], labels=False).to_pandas()
    want = pd.qcut(p, [0, .5, 1], labels=False)
    np.testing.assert_allclose(got.fillna(-1).to_numpy(dtype=float),
                               want.fillna(-1).to_numpy(dtype=float))
    dup = [1., 1., 1., 1., 2.]
    sd = bl.DataFrame({"v": np.array(dup)})["v"]
    with pytest.raises(ValueError, match="unique"):
        sd.qcut(4, labels=False)
    got = sd.qcut(4, labels=False, duplicates="drop").to_pandas()
    want = pd.qcut(pd.Series(dup), 4, labels=False, duplicates="drop")
    np.testing.assert_allclose(got.to_numpy(dtype=float),
                               want.to_numpy(dtype=float))


def test_quantile_interpolation_and_scalar(bl):
    """Series.quantile: scalar q returns a float (pandas flavor);
    lower/higher/nearest/midpoint pick exact rank values via
    percentile_disc, matching pandas bit-for-bit."""
    import numpy as np
    import pandas as pd
    vals = [3., 1., np.nan, 2., 5., 2., 8., 7.]
    s = bl.DataFrame({"v": np.array(vals)})["v"]
    p = pd.Series(vals)
    for interp in ("linear", "lower", "higher", "nearest", "midpoint"):
        for q in (0.0, 0.3, 0.5, 0.77, 1.0):
            got = s.quantile(q, interpolation=interp)
            want = p.quantile(q, interpolation=interp)
            assert isinstance(got, float)
            assert abs(got - want) < 1e-9, (interp, q, got, want)


def test_series_replace_forms(bl):
    import numpy as np
    import pandas as pd
    vals = [3., 1., np.nan, 2., 5., 2.]
    s = bl.DataFrame({"v": np.array(vals)})["v"]
    p = pd.Series(vals)
    for args in ((2., -1.), ({2.: -1., 5.: -5.},), ([1., 3.], 0.),
                 ([1., 3.], [10., 30.])):
        got = s.replace(*args).to_pandas()
        want = p.replace(*args)
        np.testing.assert_allclose(got.fillna(-9).to_numpy(dtype=float),
                                   want.fillna(-9).to_numpy(dtype=float),
                                   err_msg=str(args))
    ss = ["aa", "bb", None, "aa"]
    sb = bl.DataFrame({"v": np.array(ss, dtype=object)})["v"]
    assert sb.replace("aa", "zz").to_pandas().tolist() == \
        ["zz", "bb", None, "zz"]


def test_shift_fill_value(bl):
    """fill_value fills only shift-introduced edge positions, never
    nulls already present in the data."""
    import numpy as np
    vals = [3., np.nan, 2., 5.]
    s = bl.DataFrame({"v": np.array(vals)})["v"]
    assert s.shift(2, fill_value=0.).to_pandas().fillna(-9).tolist() == \
        [0., 0., 3., -9.]
    assert s.shift(-1, fill_value=7.).to_pandas().fillna(-9).tolist() == \
        [-9., 2., 5., 7.]


def test_bool_series_numeric_aggs(bl):
    """pandas treats bool series as 0/1 in numeric aggs —
    .isna().sum() is the canonical null count."""
    import numpy as np
    import pandas as pd
    pb = pd.Series([True, False, True, np.nan])
    bb = bl.Series(np.array([True, False, True, None], dtype=object))
    assert bb.sum() == pb.sum()
    assert abs(bb.mean() - pb.mean()) < 1e-12
    assert bb.min() == pb.min() and bb.max() == pb.max()
    s = bl.Series(np.array([1.0, np.nan, 3.0]))
    assert s.isna().sum() == 1
    assert s.notna().sum() == 2


def test_ieee_division_by_zero(bl):
    """pandas/NumPy IEEE division: x/0 -> ±inf (sign of -0.0 kept),
    0/0 -> NaN; Spark's NULL-on-zero-divisor is rebuilt JVM-side."""
    import math
    import numpy as np
    import pandas as pd
    num = [1.0, -1.0, 0.0, 2.0, np.nan]
    den = [0.0, 0.0, 0.0, -0.0, 1.0]
    bn, bd = bl.Series(np.array(num)), bl.Series(np.array(den))
    for got, exp in (
        ((bn / bd).to_pandas().tolist(),
         (pd.Series(num) / pd.Series(den)).tolist()),
        ((bn / 0.0).to_pandas().tolist(),
         (pd.Series(num) / 0.0).tolist()),
        ((bn // bd).to_pandas().tolist(),
         (pd.Series(num) // pd.Series(den)).tolist()),
        ((10 / bl.Series(np.array([4.0, 0.0]))).to_pandas().tolist(),
         [2.5, float("inf")]),
    ):
        assert len(got) == len(exp)
        for g, e in zip(got, exp):
            assert (g != g and e != e) or g == e or \
                (math.isinf(g) and math.isinf(e)
                 and (g > 0) == (e > 0)), (got, exp)
    # int divisor zero stays NULL (pandas nullable-Int64 flavor;
    # float promotion there is data-dependent dtype)
    gi = (bl.Series(np.array([7], dtype=np.int64))
          // bl.Series(np.array([0], dtype=np.int64))).to_pandas()
    assert gi.isna().all()


def test_named_binary_ops_fill_value_and_sem(bl):
    """s.add/sub/mul/div(other, fill_value=): missing side replaced
    before the op, both-missing stays NULL; div is IEEE. sem()."""
    import numpy as np
    import pandas as pd
    pa, pb = pd.Series([1., np.nan, 3.]), pd.Series([10., 20., np.nan])
    ba, bb = bl.Series(pa.to_numpy()), bl.Series(pb.to_numpy())
    for op in ("add", "sub", "mul", "div", "pow", "mod"):
        got = getattr(ba, op)(bb, fill_value=2).to_pandas().tolist()
        want = getattr(pa, op)(pb, fill_value=2).tolist()
        for g, w in zip(got, want):
            assert (g != g and w != w) or abs(g - w) < 1e-12, (op, got, want)
    assert ba.rdiv(bb, fill_value=2).to_pandas().tolist() == \
        pa.rdiv(pb, fill_value=2).tolist()
    both = bl.Series(np.array([np.nan])).add(
        bl.Series(np.array([np.nan])), fill_value=5).to_pandas()
    assert both.isna().all()
    px = pd.Series([1., 2., 3., 4.])
    assert abs(bl.Series(px.to_numpy()).sem() - px.sem()) < 1e-12


def test_pipe_prefix_valid_index(bl):
    import numpy as np
    import pandas as pd
    ps = pd.Series([np.nan, 2., 3., np.nan])
    bs = bl.Series(ps.to_numpy())
    assert bs.first_valid_index() == ps.first_valid_index()
    assert bs.last_valid_index() == ps.last_valid_index()
    assert bl.Series(np.array([np.nan])).first_valid_index() is None
    df = bl.DataFrame({"a": np.array([1.])})
    assert df.add_prefix("x_").columns == ["x_a"]
    assert df.add_suffix("_y").columns == ["a_y"]
    assert df.pipe(lambda d: d.columns) == ["a"]
    assert bs.pipe(lambda s: s.name) is None


def test_value_counts_bins(bl):
    """bins= composes cut (pandas edge math); counts match pandas,
    labels use the engine's full-precision interval strings."""
    import numpy as np
    import pandas as pd
    ps = pd.Series([1., 1., 2., 5., 9., 9., 9.])
    bs = bl.Series(ps.to_numpy())
    got = bs.value_counts(bins=3).to_pandas()
    want = ps.value_counts(bins=3)
    assert sorted(got.tolist()) == sorted(want.tolist())
    assert len(got) == len(want)


def test_series_surface_batch(bl):
    """to_frame/rename/copy/tolist/item, hasnans/is_unique (probe
    jobs), is_monotonic_* (null probe + boundary shift, NaN->False),
    argmax/argmin (first-occurrence tiebreak via min_by/max_by),
    named compares, take/sample/describe, drop_duplicates (null-SAFE
    value match keeps one NaN), duplicated, equals, product."""
    import numpy as np
    import pandas as pd
    ps = pd.Series([3., 1., 3., np.nan, 2.])
    bs = bl.Series(ps.to_numpy())
    assert bs.to_frame("x").columns == ["x"]
    assert bs.rename("z").name == "z"
    assert bs.tolist()[:3] == [3.0, 1.0, 3.0]
    assert bl.Series(np.array([7.])).item() == 7.0
    import pytest
    with pytest.raises(ValueError, match="length-1"):
        bs.item()
    assert bs.hasnans is True and ps.hasnans
    assert not bl.Series(np.array([1.])).hasnans
    assert bs.is_unique == ps.is_unique
    assert bl.Series(np.array([1., 2.])).is_unique
    mono = pd.Series([1., 2., 2., 5.])
    bm = bl.Series(mono.to_numpy())
    assert bm.is_monotonic_increasing and not bm.is_monotonic_decreasing
    assert not bs.is_monotonic_increasing  # NaN -> False
    assert bs.argmax() == ps.argmax() and bs.argmin() == ps.argmin()
    assert bs.take([2, 0]).to_pandas().tolist() == \
        ps.take([2, 0]).tolist()
    assert len(bs.sample(n=2).to_pandas()) == 2
    assert bs.describe().to_pandas().index.tolist()[0] == "count"
    ps2 = pd.Series([3., 1., 3., np.nan, 2., np.nan])
    bs2 = bl.Series(ps2.to_numpy())
    for keep in ("first", "last"):
        assert sorted(bs2.drop_duplicates(keep=keep).to_pandas()
                      .fillna(-9).tolist()) == \
            sorted(ps2.drop_duplicates(keep=keep).fillna(-9).tolist())
    assert bs.duplicated().to_pandas().tolist() == \
        ps.duplicated().tolist()
    assert bs.equals(bl.Series(ps.to_numpy()))
    assert not bs.equals(bm)
    assert bl.Series(np.array([2., 3.])).product() == 6.0
    # combine_first: full-outer pairwise alignment + coalesce
    # (union of indexes like pandas, incl. unequal lengths)
    ca = bl.Series(np.array([np.nan, 2.]))
    cb = bl.Series(np.array([10., 20., 30.]))
    assert ca.combine_first(cb).to_pandas().tolist() == \
        pd.Series([np.nan, 2.]).combine_first(
            pd.Series([10., 20., 30.])).tolist() == [10.0, 2.0, 30.0]
    assert cb.combine_first(ca).to_pandas().tolist() == \
        pd.Series([10., 20., 30.]).combine_first(
            pd.Series([np.nan, 2.])).tolist()
    # duplicate labels in `other` multiply rows like pandas (no
    # nondeterministic dedupe survivor): the dup patches a NULL with
    # BOTH values, and replicates a non-null self value
    di = bl.DataFrame({"k": np.array([0, 1], dtype=np.int64),
                       "v": np.array([np.nan, 2.])}).set_index("k")
    do = bl.DataFrame({"k": np.array([0, 0], dtype=np.int64),
                       "v": np.array([10., 20.])}).set_index("k")
    got = sorted(di["v"].combine_first(do["v"]).to_pandas().tolist())
    want = sorted(pd.Series([np.nan, 2.], index=[0, 1]).combine_first(
        pd.Series([10., 20.], index=[0, 0])).tolist())
    assert got == want == [2.0, 10.0, 20.0]
    dn = bl.DataFrame({"k": np.array([0, 1], dtype=np.int64),
                       "v": np.array([1., 2.])}).set_index("k")
    got = sorted(dn["v"].combine_first(do["v"]).to_pandas().tolist())
    want = sorted(pd.Series([1., 2.], index=[0, 1]).combine_first(
        pd.Series([10., 20.], index=[0, 0])).tolist())
    assert got == want == [1.0, 1.0, 2.0]


def test_bool_arithmetic_and_agg_promotion(bl):
    """Probe wave 16: NumPy/pandas boolean promotion — a lone bool
    operand acts as 0/1 in arithmetic (Spark refuses bool operands
    outright without the cast), two bool operands follow NumPy
    (+ = OR, * = AND, the rest refused), and bool columns count as
    0/1 in frame/groupby AGGREGATIONS instead of being dropped."""
    import numpy as np
    import pandas as pd
    import pytest
    bo = np.array([True, False, True, True, False])
    i8 = np.array([1, 2, 3, 4, 5], dtype=np.int8)
    got = (bl.Series(i8) * bl.Series(bo)).to_pandas().tolist()
    assert got == (pd.Series(i8) * pd.Series(bo)).tolist()
    got = (bl.Series(bo) + 2.5).to_pandas().tolist()
    assert got == (pd.Series(bo) + 2.5).tolist()
    rev = bo[::-1].copy()
    assert (bl.Series(bo) + bl.Series(rev)).to_pandas().tolist() == \
        (pd.Series(bo) + pd.Series(rev)).tolist()          # OR
    assert (bl.Series(bo) * bl.Series(rev)).to_pandas().tolist() == \
        (pd.Series(bo) * pd.Series(rev)).tolist()          # AND
    # r9 advice: the refusals match pandas' own — sub is TypeError
    # (numpy's message), truediv/pow NotImplementedError, and mod
    # actually COMPUTES on 0/1 ints (int8 in pandas; x % 0 is 0,
    # numpy's int-mod-by-zero identity)
    with pytest.raises(TypeError, match="boolean subtract"):
        bl.Series(bo) - bl.Series(rev)
    with pytest.raises(NotImplementedError, match="bool"):
        bl.Series(bo) / bl.Series(rev)
    with pytest.raises(NotImplementedError, match="bool"):
        bl.Series(bo) ** bl.Series(rev)
    assert (bl.Series(bo) % bl.Series(rev)).to_pandas().tolist() == \
        (pd.Series(bo) % pd.Series(rev)).tolist()
    with pytest.raises(NotImplementedError, match="floordiv"):
        bl.Series(bo) // bl.Series(rev)
    # lone bool operands act as 0/1 in floordiv too; int//False
    # keeps the engine's pinned int//0 -> NULL convention
    assert (bl.Series(bo) // 2).to_pandas().tolist() == \
        (pd.Series(bo) // 2).tolist()
    assert (bl.Series(i8) // True).to_pandas().tolist() == \
        (pd.Series(i8) // True).tolist()
    # aggregations admit bools as 0/1 (engine f64 convention)
    pdf = pd.DataFrame({"g": ["a", "b", "a", "b", "a"],
                        "v": [1., 2., 3., 4., 5.], "w": bo})
    df = bl.DataFrame({"g": np.array(pdf["g"]),
                       "v": pdf["v"].to_numpy(), "w": bo})
    ours = df.groupby("g").sum().reset_index().to_pandas() \
        .sort_values("g")[["v", "w"]].to_numpy(dtype=float)
    want = pdf.groupby("g").sum().reset_index() \
        .sort_values("g")[["v", "w"]].to_numpy(dtype=float)
    np.testing.assert_allclose(ours, want)
    assert df.sum().to_pandas().tolist() == \
        [float(x) for x in pdf[["v", "w"]].sum()]
    assert df.sum(axis=1).to_pandas().tolist() == \
        pdf[["v", "w"]].sum(axis=1).tolist()


def test_window_agg_faces(bl):
    """.agg on rolling/expanding/ewm/time-rolling window objects:
    str delegates, list/dict column-bind one statistic per output
    column (each statistic its own pass — the convenience face)."""
    import numpy as np
    import pandas as pd
    v = np.array([1., 2., np.nan, 4., 5., 6.])
    ps, s = pd.Series(v), bl.Series(v)
    got = s.rolling(3, min_periods=1).agg(["mean", "max"]).to_pandas()
    want = ps.rolling(3, min_periods=1).agg(["mean", "max"])
    np.testing.assert_allclose(got[["mean", "max"]].to_numpy(),
                               want.to_numpy(), equal_nan=True)
    got = s.expanding(1).agg({"m": "mean", "s": "sum"}).to_pandas()
    assert list(got.columns) == ["m", "s"]
    got = s.ewm(alpha=0.5).agg("mean").to_pandas().to_numpy()
    want = ps.ewm(alpha=0.5).agg("mean").to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)
    # r9 (probe wave 20): the FRAME window .agg face was missing
    # entirely. str applies per column; dict {col: stat} stays
    # flat; a list flattens pandas' (col, stat) MultiIndex columns
    # to str((col, stat)), col-major, like multi-column unstack
    pdf = pd.DataFrame({"x": v, "y": v[::-1]})
    d = bl.DataFrame({"x": v, "y": v[::-1].copy()})
    got = d.rolling(2, min_periods=1).agg({"x": "sum", "y": "max"}) \
        .to_pandas()
    want = pdf.rolling(2, min_periods=1).agg({"x": "sum", "y": "max"})
    np.testing.assert_allclose(got[["x", "y"]].to_numpy(),
                               want.to_numpy(), equal_nan=True)
    got = d.expanding(1).agg(["mean", "sum"]).to_pandas()
    want = pdf.expanding(1).agg(["mean", "sum"])
    assert [str(c) for c in got.columns][-4:] == \
        [str(c) for c in want.columns]
    np.testing.assert_allclose(
        got[[str(c) for c in want.columns]].to_numpy(),
        want.to_numpy(), equal_nan=True)
    got = d.ewm(alpha=0.4).agg("mean").to_pandas()
    want = pdf.ewm(alpha=0.4).agg("mean")
    np.testing.assert_allclose(got[["x", "y"]].to_numpy(),
                               want.to_numpy(), equal_nan=True)


def test_series_setter_faces_r11(bl):
    """r11: Series gains its write faces — sr[key]=v, sr.loc/at
    (labels, masks), sr.iloc/iat (positions, slices) — each lifting
    through the one-column frame's conditional-write projection
    (ordinal/label conditions, no collect) and adopting the result
    in place. Copy-on-write pinned: writing a Series selected from
    a frame never writes back into the frame (pandas CoW).
    Enlargement and MultiIndex tuple keys are refused with the
    alternative named."""
    import numpy as np
    import pandas as pd
    import pytest

    def mk():
        p = pd.Series([1.0, 2, 3, 4], index=["a", "b", "c", "d"],
                      name="v")
        s = bl.Series(np.array([1.0, 2, 3, 4]),
                      index=np.array(list("abcd"), dtype=object),
                      name="v")
        return p, s

    cases = [
        ("loc scalar", lambda s: s.loc.__setitem__("b", 9.0)),
        ("at", lambda s: s.at.__setitem__("c", -1.0)),
        ("loc list", lambda s: s.loc.__setitem__(["a", "d"], 5.0)),
        ("label", lambda s: s.__setitem__("a", 7.5)),
        ("mask list", lambda s: s.__setitem__(
            [True, False, True, False], 0.0)),
        ("iloc", lambda s: s.iloc.__setitem__(1, 4.5)),
        ("iat neg", lambda s: s.iat.__setitem__(-1, 2.5)),
        ("slice", lambda s: s.__setitem__(slice(0, 2), 6.0)),
    ]
    for tag, fn in cases:
        p, s = mk()
        fn(p); fn(s)
        assert s.to_pandas().tolist() == p.tolist(), tag

    # self-mask conditional write
    p, s = mk()
    p[p > 2.0] = 0.0
    s[s > 2.0] = 0.0
    assert s.to_pandas().tolist() == p.tolist()

    # copy-on-write: parent frame untouched, child written
    fr = bl.DataFrame({"a": np.array([1.0, 2, 3])})
    col = fr["a"]
    col.iloc[0] = 99.0
    assert fr["a"].to_pandas().tolist() == [1.0, 2, 3]
    assert col.to_pandas().tolist() == [99.0, 2, 3]

    _, s = mk()
    with pytest.raises(NotImplementedError, match="concat"):
        s.loc["zz"] = 1.0
    with pytest.raises(NotImplementedError, match="frame"):
        s.loc[("a", 1)] = 1.0
    with pytest.raises(IndexError):
        s.iloc[9] = 1.0


def test_nan_literal_staging_r11(bl):
    """r11 (probe wave 25 find): a float-NaN SCALAR entering a plan
    through the write faces / where / mask / fillna must become a
    typed NULL — the engine's missing convention (NaN == NULL pin).
    A NaN double literal would poison every downstream JVM
    sum/mean/prefix scan (NaN propagates through arithmetic)
    instead of being skipped: sr.iloc[2] = np.nan then
    rolling(3).mean() returned NaN for every later window."""
    import numpy as np
    import pandas as pd
    s = bl.Series(np.array([1.0, 2, 3, 4, 5, 6]))
    s.iloc[2] = np.nan
    p = pd.Series([1.0, 2, 3, 4, 5, 6])
    p.iloc[2] = np.nan
    np.testing.assert_allclose(
        s.rolling(3, min_periods=2).mean().to_pandas().to_numpy(),
        p.rolling(3, min_periods=2).mean().to_numpy(),
        atol=1e-9, equal_nan=True)
    assert s.sum() == p.sum()
    d = bl.DataFrame({"k": [0, 1, 2, 3],
                      "v": [1.0, 2, 3, 4]}).set_index("k")
    d.loc[d["v"] > 2.0, "v"] = np.nan
    assert d["v"].sum() == 3.0
    assert float(d["v"].mask(d["v"] < 2.0, np.nan).sum()) == 2.0
    assert bl.Series(np.array([1.0, np.nan, 3.0])).fillna(
        np.nan).to_pandas().fillna(-9).tolist() == [1.0, -9, 3.0]


def test_nan_through_replace_map_clip_r11(bl):
    """r11: NaN as a replacement/mapping VALUE becomes NULL (codec;
    a raw NaN literal poisons JVM aggregates), a NaN KEY matches
    the NULL rows that represent NaN (both map paths — CASE chain
    and the >64-entry broadcast lookup), and a scalar NaN clip
    bound is NO bound (raw, it would win every greatest/least since
    NaN sorts greatest in Spark)."""
    import numpy as np
    import pandas as pd
    s = bl.Series(np.array([0.0, 1, 2, np.nan]))
    p = pd.Series([0.0, 1, 2, np.nan])
    assert s.replace(0.0, np.nan).sum() == p.replace(
        0.0, np.nan).sum()
    d = bl.DataFrame({"a": np.array([0.0, 1, 2])})
    assert d.replace(0.0, np.nan)["a"].sum() == 3.0
    got = s.map({np.nan: 99.0, 1.0: np.nan}).to_pandas()
    want = p.map({np.nan: 99.0, 1.0: np.nan})
    assert got.fillna(-9).tolist() == want.fillna(-9).tolist()
    big = {float(i): float(i) * 2 for i in range(70)}
    big[np.nan] = -5.0
    assert s.map(big).to_pandas().fillna(-9).tolist() == \
        p.map(big).fillna(-9).tolist()
    np.testing.assert_allclose(
        s.clip(lower=np.nan, upper=1.5).to_pandas().to_numpy(),
        p.clip(lower=np.nan, upper=1.5).to_numpy(),
        atol=1e-12, equal_nan=True)


def test_nan_scalar_operands_r11(bl):
    """r11: a NaN SCALAR operand in comparisons/arithmetic becomes
    a typed NULL (the codec). Raw, Spark's total order (NaN sorts
    GREATEST) inverted comparisons — s < np.nan selected every row
    where pandas selects none — and arithmetic produced a poison
    NaN instead of the engine's NULL missing value."""
    import numpy as np
    s = bl.Series(np.array([1.0, 2, 3]))
    assert len(s[s < np.nan]) == 0
    assert len(s[s >= np.nan]) == 0
    assert (s + np.nan).sum() == 0.0     # all-missing sum identity
    assert (s * np.nan).count() == 0


def test_cut_integer_edge_labels_r11(bl):
    """r11: interval labels print integer bin edges without
    decimals, following the dtype of the edges the caller passed
    (pandas: cut(x, [0, 1, 3]) -> '(0, 1]'; [0.0, 1.0, 3.0] ->
    '(0.0, 1.0]')."""
    import numpy as np
    import pandas as pd
    v = np.array([0.5, 1.0, 2.5, 7.0, -1.0])
    s = bl.Series(v)
    for bins in ([0, 1, 3, 5], [0.0, 1.0, 3.0, 5.0]):
        got = [x if x is not None else "nan"
               for x in s.cut(bins).to_pandas()]
        want = pd.cut(pd.Series(v), bins).astype(str).tolist()
        assert got == want, bins

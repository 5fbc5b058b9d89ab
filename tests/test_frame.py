"""DataFrame operator tests (mirrors reference tests/core/test_frame.py)."""

import numpy as np
import pytest

from conftest import sorted_records


def test_getitem_select(df_small):
    assert df_small["a"].to_pandas().tolist() == [1, 2, 3, 4, 5]
    sub = df_small[["a", "b"]]
    assert sub.columns == ["a", "b"]
    with pytest.raises(KeyError):
        df_small["missing"]
    with pytest.raises(KeyError):
        df_small[["a", "missing"]]


def test_mask_filter(df_small):
    out = df_small[(df_small["a"] > 1) & (df_small["b"] < 5)]
    pdf = out.to_pandas()
    assert pdf["a"].tolist() == [2.0, 3.0, 4.0]
    assert pdf.index.tolist() == [1, 2, 3]


def test_setitem_scalar_and_expr(df_small):
    df_small["d"] = df_small["a"] * 2 + 1
    df_small["e"] = 7
    pdf = df_small.to_pandas()
    assert pdf["d"].tolist() == [3.0, 5.0, 7.0, 9.0, 11.0]
    assert pdf["e"].tolist() == [7] * 5


def test_frame_arithmetic_drops_strings(df_small):
    out = df_small * 2
    assert out.columns == ["a", "b"]  # str col c dropped (frame.py:1309-1323)
    assert out.to_pandas()["a"].tolist() == [2.0, 4.0, 6.0, 8.0, 10.0]


def test_head_tail_slice(df_small):
    assert df_small.head(2).to_pandas()["a"].tolist() == [1.0, 2.0]
    assert df_small.tail(2).to_pandas()["a"].tolist() == [4.0, 5.0]
    assert df_small[1:3].to_pandas()["a"].tolist() == [2.0, 3.0]
    assert df_small.iloc[1:3].to_pandas()["a"].tolist() == [2.0, 3.0]


def test_sort_values(df_small):
    out = df_small.sort_values("a", ascending=False)
    assert out.to_pandas()["a"].tolist() == [5.0, 4.0, 3.0, 2.0, 1.0]
    # multi-key (engine extension; reference caps at 1 key)
    df = df_small
    df["g"] = (df["b"] % 2 == 0).astype("int32")
    out = df.sort_values(["g", "a"], ascending=[True, False]).to_pandas()
    assert out["a"].tolist() == [5.0, 3.0, 1.0, 4.0, 2.0]


def test_agg_frame(df_small):
    out = df_small.agg(["min", "max", "sum"]).to_pandas()
    assert out.loc["min", "a"] == 1.0
    assert out.loc["max", "b"] == 5.0
    assert out.loc["sum", "a"] == 15.0


def test_column_wise_agg_row(df_small):
    s = df_small.mean().to_pandas()
    assert s["a"] == 3.0 and s["b"] == 3.0


def test_rename_drop(df_small):
    out = df_small.rename({"a": "alpha"})
    assert "alpha" in out.columns and "a" not in out.columns
    out2 = df_small.drop("c")
    assert out2.columns == ["a", "b"]
    with pytest.raises(KeyError):
        df_small.drop("zzz")  # parity: Spark drop is silent, ours raises


def test_reset_set_index(df_small):
    r = df_small.reset_index()
    assert "index" in r.columns or r.index_names == []
    s = df_small.set_index("b")
    assert s.index_names == ["b"]
    assert "b" not in s.columns


def test_fillna_dropna(bl):
    df = bl.DataFrame({"x": [1.0, None, 3.0], "y": ["a", "b", None]})
    assert len(df.dropna()) == 1
    assert len(df.dropna(subset=["x"])) == 2
    pdf = df.fillna({"x": 0.0, "y": "?"}).to_pandas()
    assert pdf["x"].tolist() == [1.0, 0.0, 3.0]
    assert pdf["y"].tolist() == ["a", "b", "?"]


def test_drop_duplicates_keeps(df_dupl):
    got = sorted_records(df_dupl.drop_duplicates(subset=["a", "b"], keep="min"))
    assert got == sorted_records(df_dupl.to_pandas().groupby(["a", "b"], as_index=False)["c"].min())
    got_sum = df_dupl.drop_duplicates(subset=["b"], keep="+").to_pandas()
    got_sum = got_sum.reset_index().sort_values("b")
    assert got_sum["c"].tolist() == [1.0, 5.0, 9.0]


def test_astype_dict(df_small):
    out = df_small.astype({"a": "float64", "b": "int32"})
    assert out.dtypes["a"] == np.dtype("float64")
    assert out.dtypes["b"] == np.dtype("int32")


def test_set_ops(bl):
    a = bl.DataFrame({"k": np.array([1, 2, 3], dtype=np.int64)})
    b = bl.DataFrame({"k": np.array([2, 3, 4], dtype=np.int64)})
    assert sorted(a.concat(b).to_pandas()["k"].tolist()) == [1, 2, 2, 3, 3, 4]
    assert sorted(a.intersect(b).to_pandas()["k"].tolist()) == [2, 3]
    assert sorted(a.except_(b).to_pandas()["k"].tolist()) == [1]


def test_pivot(df_small):
    out = df_small.pivot(index="c", columns="c", values="a", agg="count")
    pdf = out.to_pandas()
    assert len(pdf) == 5  # 5 distinct c values


def test_rollup_and_cube(bl, df_dupl):
    r = df_dupl.rollup(["b"], {"c": ["sum"]}).to_pandas().reset_index()
    # per-key rows + one grand-total row (NULL key)
    assert len(r) == 4
    total = r[r["b"].isna()]["c_sum"].iloc[0]
    assert total == 15.0
    c = df_dupl.cube(["a", "b"], {"c": ["sum"]}).to_pandas().reset_index()
    assert len(c) > len(r)  # cube adds per-a subtotals


def test_describe(df_small):
    out = df_small.describe().to_pandas()
    assert out.loc["count", "a"] == 5.0
    assert out.loc["mean", "b"] == 3.0
    assert out.loc["50%", "a"] == 3.0
    assert out.loc["max", "b"] == 5.0


def test_quantile_series(df_small):
    q = df_small["a"].quantile([0.5]).to_pandas()
    assert q.iloc[0] == 3.0
    assert df_small["a"].median() == 3.0


def test_value_counts(bl):
    import numpy as np
    sr = bl.Series(np.array(["x", "y", "x", "x", "z"]), name="s")
    vc = sr.value_counts().to_pandas()
    assert vc.iloc[0] == 3  # most frequent first
    assert dict(zip(vc.index, vc)) == {"x": 3, "y": 1, "z": 1}


def test_semi_anti_merge(bl):
    import numpy as np
    l = bl.DataFrame({"k": np.array([1, 2, 3], dtype=np.int64),
                      "v": np.array([1., 2., 3.])})
    r = bl.DataFrame({"k": np.array([2, 3, 4], dtype=np.int64),
                      "w": np.array([9., 9., 9.])})
    semi = l.merge(r, how="semi", on="k").to_pandas().reset_index()
    assert sorted(semi["k"].tolist()) == [2, 3]
    assert "w" not in semi.columns  # no right columns in semi
    anti = l.merge(r, how="anti", on="k").to_pandas().reset_index()
    assert anti["k"].tolist() == [1]


def test_isin_between_query(bl, df_small):
    assert df_small["b"].isin([2, 4]).to_pandas().tolist() == \
        [False, True, False, True, False]
    assert df_small["a"].between(2, 4).to_pandas().tolist() == \
        [False, True, True, True, False]
    assert df_small["a"].between(2, 4, inclusive=False).to_pandas().tolist() == \
        [False, False, True, False, False]
    out = df_small.query("a > 2 AND b < 5")
    assert out.to_pandas()["a"].tolist() == [3.0, 4.0]
    import numpy as np
    both = bl.concat([df_small[["a"]], df_small[["a"]]])
    assert len(both) == 10


def test_positional_ops_after_filter(df_small):
    """Positions must be recomputed over surviving rows after a filter
    — the original RangeIndex ordinals are labels, not positions."""
    flt = df_small[df_small["a"] > 2]          # rows a=3,4,5 (labels 2,3,4)
    assert flt[0:2].to_pandas()["a"].tolist() == [3.0, 4.0]
    assert flt.tail(1).to_pandas()["a"].tolist() == [5.0]
    assert flt.iloc[[0, 2]].to_pandas()["a"].tolist() == [3.0, 5.0]
    # index labels preserved through the filter (reference semantics)
    assert flt[0:2].to_pandas().index.tolist() == [2, 3]


def test_series_positional_after_filter(bl):
    import numpy as np
    sr = bl.Series(np.array([10., 20., 30., 40., 50.]), name="v")
    flt = sr[sr > 25]                          # 30,40,50 at labels 2,3,4
    assert flt[0:2].to_pandas().tolist() == [30.0, 40.0]
    assert flt.iloc[1] == 40.0
    assert flt.tail(1).to_pandas().tolist() == [50.0]


def test_setitem_ndarray_after_filter(bl):
    import numpy as np
    df = bl.DataFrame({"a": np.array([1., 2., 3., 4.])})
    flt = df[df["a"] > 2]
    flt["z"] = np.array([100, 200], dtype=np.int64)
    got = flt.to_pandas().sort_values("a")
    assert got["z"].tolist() == [100, 200]


def test_evaluate_idempotent(df_small):
    out = df_small[(df_small["a"] > 1)].evaluate()
    assert len(out) == 4
    assert len(out.evaluate()) == 4


def test_grouping_sets(bl, df_dupl):
    out = df_dupl.grouping_sets([["a", "b"], ["a"], []],
                                {"c": ["sum"]}).to_pandas().reset_index()
    # each grouping combination present: (a,b) rows, (a) rollup rows
    # with b NULL, and one grand-total row
    grand = out[out["a"].isna() & out["b"].isna()]
    assert len(grand) == 1
    per_a = out[out["a"].notna() & out["b"].isna()]
    assert set(per_a["a"]) == {0.0, 1.0, 2.0, 3.0}
    total = df_dupl["c"].sum()
    assert grand["c_sum"].iloc[0] == total
    assert per_a["c_sum"].sum() == total


def test_io_round_trips(bl, tmp_path):
    import numpy as np
    df = bl.DataFrame({"a": np.arange(5), "b": np.arange(5) * 1.5})
    df.to_json(str(tmp_path / "j"))
    back_j = bl.read_json(str(tmp_path / "j"))
    assert sorted(back_j.to_pandas()["a"].tolist()) == [0, 1, 2, 3, 4]
    df.to_orc(str(tmp_path / "o"))
    back_o = bl.read_orc(str(tmp_path / "o"), columns=["a", "b"])
    assert sorted(back_o.to_pandas()["b"].tolist()) == [0.0, 1.5, 3.0, 4.5, 6.0]


def test_merge_left_on_right_on(bl):
    import numpy as np
    l = bl.DataFrame({"lk": np.array([1, 2, 3]), "v": np.array([10., 20., 30.])})
    r = bl.DataFrame({"rk": np.array([2, 3, 4]), "w": np.array([200., 300., 400.])})
    out = l.merge(r, left_on="lk", right_on="rk").to_pandas().reset_index()
    assert sorted(out["lk"].tolist()) == [2, 3]
    assert sorted(out["w"].tolist()) == [200.0, 300.0]
    with pytest.raises(ValueError):
        l.merge(r, on="lk", left_on="lk", right_on="rk")
    with pytest.raises(ValueError):
        l.merge(r, left_on="lk")


def test_melt_inverse_of_pivot(bl):
    import numpy as np
    df = bl.DataFrame({"k": np.array([1, 2]),
                       "a": np.array([10., 30.]),
                       "b": np.array([20., 40.])})
    out = df.melt("k").to_pandas().sort_values(["k", "variable"])
    assert out["variable"].tolist() == ["a", "b", "a", "b"]
    assert out["value"].tolist() == [10.0, 20.0, 30.0, 40.0]
    only_a = df.melt("k", value_vars="a").to_pandas()
    assert set(only_a["variable"]) == {"a"}


def test_dropna_how_thresh(bl):
    import numpy as np
    df = bl.DataFrame({"a": np.array([1.0, np.nan, np.nan]),
                       "b": np.array([np.nan, np.nan, 3.0])})
    assert len(df.dropna(how="any").to_pandas()) == 0
    assert len(df.dropna(how="all").to_pandas()) == 2
    assert len(df.dropna(thresh=1).to_pandas()) == 2
    with pytest.raises(ValueError):
        df.dropna(how="bogus")


def test_ffill_bfill_match_pandas(bl):
    import warnings
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"v": [np.nan, 1.0, np.nan, np.nan, 5.0, np.nan]})
    df = bl.DataFrame({"v": pdf["v"].to_numpy()})
    from baloo_spark.plans import ScaleWarning
    with warnings.catch_warnings():
        # global fill is partition-safe since r3 — must NOT warn
        warnings.simplefilter("error", category=ScaleWarning)
        f = df.ffill().to_pandas()["v"]
        b = df.bfill().to_pandas()["v"]
    pd.testing.assert_series_equal(f.reset_index(drop=True), pdf["v"].ffill(),
                                   check_names=False)
    pd.testing.assert_series_equal(b.reset_index(drop=True), pdf["v"].bfill(),
                                   check_names=False)


def test_ffill_grouped(bl):
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"g": ["x", "x", "y", "y"],
                        "v": [1.0, np.nan, np.nan, 4.0]})
    df = bl.DataFrame({"g": pdf["g"].to_numpy(), "v": pdf["v"].to_numpy()})
    got = df.ffill(subset=["v"], partition_by="g").to_pandas() \
        .sort_index()["v"]
    want = pdf.groupby("g")["v"].ffill()
    # x's NaN fills from x's 1.0; y's leading NaN must STAY NaN
    # (no cross-group leakage)
    pd.testing.assert_series_equal(got.reset_index(drop=True),
                                   want.reset_index(drop=True),
                                   check_names=False)


def test_setitem_series_positional_when_indexless(bl, spark):
    # scan-backed frames have no index columns: a derived-but-new-sdf
    # Series (e.g. shift/diff output) must align POSITIONALLY along
    # the frame's logical order (default-RangeIndex semantics)
    import pandas as pd
    sdf = spark.createDataFrame(
        pd.DataFrame({"k": [3, 1, 2], "v": [30., 10., 20.]}))
    df = bl.DataFrame.from_spark(sdf).sort_values("k")
    s = df["v"]
    df["prev"] = s.shift(1)
    df["d"] = s.diff()
    got = df.to_pandas().sort_values("k")
    assert got["prev"].tolist()[1:] == [10., 20.]
    assert pd.isna(got["prev"].tolist()[0])
    assert got["d"].tolist()[1:] == [10., 10.]


def test_to_view_and_sql_roundtrip(bl):
    df = bl.DataFrame({"k": [1, 2, 3, 4], "v": [10.0, 20.0, 30.0, 40.0]})
    df.to_view("t_sql_rt")
    out = bl.sql("SELECT k, v * 2 AS v2 FROM t_sql_rt WHERE k >= 2")
    pdf = out.to_pandas().sort_values("k").reset_index(drop=True)
    assert pdf["k"].tolist() == [2, 3, 4]
    assert pdf["v2"].tolist() == [40.0, 60.0, 80.0]
    # result is a first-class engine frame: keep composing lazily
    again = out[out["v2"] > 40.0]
    assert len(again.to_pandas()) == 2


def test_series_corr_cov_match_pandas(bl):
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({"a": rng.randn(500),
                        "b": rng.randn(500)})
    pdf["c"] = 0.7 * pdf["a"] + 0.3 * pdf["b"]
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert abs(df["a"].corr(df["c"]) - pdf["a"].corr(pdf["c"])) < 1e-9
    assert abs(df["a"].cov(df["b"]) - pdf["a"].cov(pdf["b"])) < 1e-9


def test_series_corr_cross_frame_aligns(bl):
    """Cross-frame corr/cov align positionally (default-RangeIndex
    semantics, same contract as __setitem__) and skip pairwise NaN
    like pandas."""
    import numpy as np
    import pandas as pd
    x = [1., 2., np.nan, 4., 5.]
    y = [2., np.nan, 6., 8., 11.]
    a = bl.DataFrame({"x": np.array(x)})
    b = bl.DataFrame({"y": np.array(y)})
    got_c = a["x"].corr(b["y"])
    got_v = a["x"].cov(b["y"])
    assert abs(got_c - pd.Series(x).corr(pd.Series(y))) < 1e-12
    assert abs(got_v - pd.Series(x).cov(pd.Series(y))) < 1e-12


def test_series_pairwise_undefined_is_nan(bl):
    """corr/cov/autocorr with fewer than two valid pairs are NaN, as
    in pandas — Spark's aggregate is NULL there."""
    import math

    import numpy as np
    import pandas as pd
    x = np.array([1., np.nan, 4., 8.])
    assert math.isnan(pd.Series(x).autocorr())
    assert math.isnan(bl.DataFrame({"v": x})["v"].autocorr())
    a, b = [1., np.nan, 3.], [2., 5., np.nan]
    df = bl.DataFrame({"a": np.array(a), "b": np.array(b)})
    for stat in ("corr", "cov"):
        assert math.isnan(getattr(pd.Series(a), stat)(pd.Series(b)))
        assert math.isnan(getattr(df["a"], stat)(df["b"])), stat


def test_frame_corr_matrix_matches_pandas(bl):
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(31)
    pdf = pd.DataFrame({"a": rng.randn(300), "b": rng.randn(300),
                        "s": ["x"] * 300})
    pdf["c"] = 0.6 * pdf["a"] - 0.4 * pdf["b"]
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    got = df.corr()
    want = pdf[["a", "b", "c"]].corr()
    assert list(got.columns) == ["a", "b", "c"]  # string col excluded
    for x in want.columns:
        for y in want.columns:
            assert abs(got.loc[x, y] - want.loc[x, y]) < 1e-9


def test_repartition_coalesce_preserve_semantics(bl):
    df = bl.DataFrame({"k": list(range(40)),
                       "v": [float(i) for i in range(40)]})
    rp = df.repartition(8, "k")
    assert rp.to_spark().rdd.getNumPartitions() == 8
    assert sorted(rp.to_pandas()["v"]) == sorted(df.to_pandas()["v"])
    co = rp.coalesce(2)
    assert co.to_spark().rdd.getNumPartitions() == 2
    assert sorted(co.to_pandas()["v"]) == sorted(df.to_pandas()["v"])
    import pytest
    with pytest.raises(ValueError):
        df.repartition()


def test_assign_and_pipe(spark):
    import baloo_spark as bl
    df = bl.DataFrame({"a": [1.0, 2.0, 3.0]})
    out = df.assign(b=lambda d: d["a"] * 2, c=lambda d: d["b"] + 1)
    assert list(out.columns) == ["a", "b", "c"]
    pdf = out.to_pandas()
    assert pdf["b"].tolist() == [2.0, 4.0, 6.0]
    assert pdf["c"].tolist() == [3.0, 5.0, 7.0]
    # original untouched
    assert list(df.columns) == ["a"]
    # pipe chains free functions
    got = df.pipe(lambda d, k: d["a"].sum() + k, 10)
    assert got == 16.0


def test_series_where_mask(spark):
    import baloo_spark as bl
    df = bl.DataFrame({"a": [1.0, 5.0, 9.0]})
    w = df["a"].where(df["a"] > 4).to_pandas()
    assert w.isna().tolist() == [True, False, False]
    m = df["a"].mask(df["a"] > 4, other=0.0).to_pandas()
    assert m.tolist() == [1.0, 0.0, 0.0]


def test_duplicated_and_series_nunique(spark):
    import pandas as pd

    import baloo_spark as bl
    pdf = pd.DataFrame({"k": [0, 1, 2, 3, 4],
                        "a": ["x", "y", "x", "z", "y"]})
    df = bl.DataFrame({"k": pdf["k"].to_numpy(),
                       "a": pdf["a"].to_numpy(dtype=object)}) \
        .sort_values("k").set_index("k")
    for keep in ("first", "last", False):
        rs = df.duplicated(subset="a", keep=keep).to_spark()
        got = {r["k"]: r[rs.columns[-1]] for r in rs.collect()}
        want = pdf.set_index("k")["a"].duplicated(keep=keep).to_dict()
        assert got == want, keep
    assert df["a"].nunique() == 3
    assert df["a"].nunique(approx=True) >= 2


def test_quantile_approx_bounded_error(bl):
    """approx=True (Greenwald-Khanna sketch) must land each quantile
    inside the exact [p-0.01, p+0.01] envelope — the sketch's rank
    guarantee at accuracy=10000 is 100x tighter. Exact contract
    untouched."""
    li = bl.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    s = li["l_extendedprice"]
    ps = [0.25, 0.5, 0.75, 0.9]
    ap = s.quantile(ps, approx=True).to_pandas()
    for p in ps:
        lo = s.quantile(max(p - 0.01, 0.0))
        hi = s.quantile(min(p + 0.01, 1.0))
        assert lo <= float(ap[str(p)]) <= hi, p
    # approx median is a real data element within the envelope
    m = s.median(approx=True)
    assert s.quantile(0.49) <= m <= s.quantile(0.51)


def test_describe_approx_envelope(bl):
    li = bl.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    sub = li[["l_quantity", "l_extendedprice"]]
    exact = sub.describe().to_pandas()
    approx = sub.describe(approx=True).to_pandas()
    for c in ("l_quantity", "l_extendedprice"):
        # exact-only stats are identical between the two faces
        for s in ("count", "mean", "std", "min", "max"):
            assert float(exact.loc[s, c]) == float(approx.loc[s, c])
        spread = float(exact.loc["max", c]) - float(exact.loc["min", c])
        for s in ("25%", "50%", "75%"):
            assert abs(float(exact.loc[s, c]) - float(approx.loc[s, c])) \
                <= 0.05 * spread


def test_groupby_quantile_approx(bl):
    li = bl.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    gb = li.groupby("l_returnflag")
    ap = gb.quantile(0.5, cols=["l_extendedprice"], approx=True) \
        .reset_index().to_pandas().set_index("l_returnflag")
    lo = gb.quantile(0.49, cols=["l_extendedprice"]) \
        .reset_index().to_pandas().set_index("l_returnflag")
    hi = gb.quantile(0.51, cols=["l_extendedprice"]) \
        .reset_index().to_pandas().set_index("l_returnflag")
    assert len(ap) >= 3
    for k in ap.index:
        assert lo.loc[k, "l_extendedprice_p49"] \
            <= ap.loc[k, "l_extendedprice_p50"] \
            <= hi.loc[k, "l_extendedprice_p51"]


def test_frame_explode_matches_pandas(bl):
    import pandas as pd
    pdf = pd.DataFrame({"k": [1, 2, 3],
                        "vs": [[10, 20], [], [30]]})
    # build via spark directly (list columns don't round-trip numpy)
    spark = bl.get_session()
    src = spark.createDataFrame([(1, [10, 20]), (2, []), (3, [30])],
                                "k LONG, vs ARRAY<LONG>")
    out = bl.DataFrame.from_spark(src).explode("vs").to_pandas()
    want = pdf.explode("vs")
    got = sorted((int(r.k), None if pd.isna(r.vs) else int(r.vs))
                 for r in out.itertuples(index=False))
    exp = sorted((int(r.k), None if pd.isna(r.vs) else int(r.vs))
                 for r in want.itertuples(index=False))
    assert got == exp


def test_frame_explode_positional_element_order(bl):
    """ADVICE r4: the pre-explode ordinal ties every element of one
    source row — positional ops after explode must still see elements
    in pandas (within-row) order, via the posexplode composite
    ordinal."""
    import pandas as pd
    df = bl.DataFrame({"k": np.array([0, 1, 2, 3])})
    # widen each row into a distinct-length array: row k -> [k*10,
    # k*10+1, ..., k*10+k]
    df["vs"] = df["k"].apply("transform(sequence(0, {self}), i -> {self} * 10 + i)")
    ex = df.explode("vs")
    got = [int(v) for v in ex.to_pandas()["vs"]]
    pdf = pd.DataFrame({"k": range(4),
                        "vs": [[k * 10 + i for i in range(k + 1)]
                               for k in range(4)]}).explode("vs")
    want = [int(v) for v in pdf["vs"]]
    # full-frame order AND positional slices are element-ordered
    assert got == want
    assert [int(v) for v in ex.iloc[2:5].to_pandas()["vs"]] == want[2:5]
    assert int(ex.iloc[7].to_pandas()["vs"].iloc[0]) == want[7]


def test_groupby_quantile_tag_collision(bl):
    """ADVICE r4: q values rounding to the same integer percent must
    not emit duplicate column names."""
    df = bl.DataFrame({"k": np.array([1, 1, 2, 2]),
                       "v": np.array([1.0, 2.0, 3.0, 4.0])})
    out = df.groupby("k").quantile([0.5, 0.504]).reset_index().to_pandas()
    cols = [c for c in out.columns if c.startswith("v_")]
    assert len(cols) == 2 and len(set(cols)) == 2   # p50 + p50_4
    import pytest
    with pytest.raises(ValueError, match="duplicate quantiles"):
        df.groupby("k").quantile([0.5, 0.5])


def test_sort_null_position_matches_pandas(bl):
    """pandas puts NaN LAST in both sort directions (na_position=
    'last'); Spark's bare asc() is nulls-first — core/ordering.py
    pins the pandas behavior across sort/head/tail/slice/idxmin."""
    import pandas as pd
    vals = [3.0, np.nan, 1.0, np.nan, 2.0]
    df = bl.DataFrame({"x": np.array(vals)})
    pdf = pd.DataFrame({"x": vals})

    def nl(xs):
        return [None if (isinstance(v, float) and v != v) else v
                for v in xs]
    for asc in (True, False):
        got = nl(df.sort_values("x", ascending=asc)["x"]
                 .to_pandas().tolist())
        want = nl(pdf.sort_values("x", ascending=asc)["x"].tolist())
        assert got == want, asc
    s = df.sort_values("x")
    assert nl(s.tail(3).to_pandas()["x"].tolist()) == [3.0, None, None]
    assert nl(s.head(2).to_pandas()["x"].tolist()) == [1.0, 2.0]
    assert nl(s[2:4].to_pandas()["x"].tolist()) == [3.0, None]
    # idxmin/idxmax skip NaN like pandas
    assert df["x"].idxmin() == pdf["x"].idxmin()
    assert df["x"].idxmax() == pdf["x"].idxmax()
    # ffill along a null-keyed sort order still fills in sorted order
    df2 = bl.DataFrame({"k": np.array([2.0, np.nan, 1.0]),
                        "v": np.array([10.0, np.nan, np.nan])})
    out = df2.sort_values("k").ffill()["v"].to_pandas().tolist()
    assert out == [np.nan, 10.0, 10.0] or \
        (out[0] != out[0] and out[1:] == [10.0, 10.0])


def test_null_edges_dedup_unique_describe(bl):
    """NaN-key edges that pandas and the engine must agree on:
    drop_duplicates groups NaN keys together, unique includes NaN,
    describe counts 0 for an all-null column."""
    def nl(x):
        return None if (isinstance(x, float) and x != x) else x
    df = bl.DataFrame({"k": np.array([1.0, np.nan, np.nan, 1.0]),
                       "v": np.array([1., 2., 3., 4.])})
    got = sorted(((nl(r.k), r.v) for r in
                  df.drop_duplicates(subset=["k"], keep="min")
                  .to_pandas().reset_index().itertuples()), key=str)
    assert got == [(1.0, 1.0), (None, 2.0)]
    sr = bl.Series(np.array([1.0, np.nan, 1.0]), name="x")
    assert sorted((nl(v) for v in sr.unique().to_pandas().tolist()),
                  key=str) == [1.0, None]
    d2 = bl.DataFrame({"x": np.array([np.nan, np.nan])})
    assert d2.describe().to_pandas().loc["count", "x"] == 0.0


def test_frame_nlargest_nsmallest_ties(bl):
    """r5 probe batch: frame-level nlargest/nsmallest with pandas
    keep='first'/'last' tie order."""
    import numpy as np
    import pandas as pd
    df = bl.DataFrame({"a": np.array([1., 3., 3., 2.]),
                       "b": np.array([10., 20., 30., 40.])})
    pdf = pd.DataFrame({"a": [1., 3., 3., 2.], "b": [10., 20., 30., 40.]})
    assert df.nlargest(2, "a").to_pandas()["b"].tolist() == \
        pdf.nlargest(2, "a")["b"].tolist()
    assert df.nlargest(2, "a", keep="last").to_pandas()["b"].tolist() == \
        [30.0, 20.0]
    assert df.nsmallest(2, "a").to_pandas()["b"].tolist() == \
        pdf.nsmallest(2, "a")["b"].tolist()
    import pytest
    with pytest.raises(ValueError, match="keep"):
        df.nlargest(2, "a", keep="all")


def test_merge_indicator(bl):
    import numpy as np
    import pandas as pd
    l = bl.DataFrame({"k": np.array([1, 2], dtype=np.int64)})
    r = bl.DataFrame({"k": np.array([2, 3], dtype=np.int64)})
    m = l.merge(r, on="k", how="outer", indicator=True) \
        .to_pandas().reset_index()
    want = pd.DataFrame({"k": [1, 2]}).merge(
        pd.DataFrame({"k": [2, 3]}), on="k", how="outer", indicator=True)
    assert sorted(zip(m["k"], m["_merge"])) == \
        sorted(zip(want["k"], want["_merge"].astype(str)))
    named = l.merge(r, on="k", how="left", indicator="src").to_pandas()
    assert "src" in named.columns
    import pytest
    with pytest.raises(ValueError, match="indicator"):
        l.merge(r, on="k", how="semi", indicator=True)


def test_frame_replace_and_sample_aliases(bl):
    import numpy as np
    import pandas as pd
    df = bl.DataFrame({"a": np.array([1., 2., 3.]),
                       "s": np.array(["x", "y", "x"], dtype=object)})
    out = df.replace(2.0, 99.0).to_pandas()
    assert out["a"].tolist() == [1.0, 99.0, 3.0]
    assert out["s"].tolist() == ["x", "y", "x"]   # untouched str col
    out2 = df.replace({"x": "z"}).to_pandas()
    assert out2["s"].tolist() == ["z", "y", "z"]
    assert out2["a"].tolist() == [1.0, 2.0, 3.0]
    big = bl.DataFrame({"a": np.arange(200, dtype=np.float64)})
    n = len(big.sample(frac=0.3, random_state=7))
    assert 20 <= n <= 100   # Bernoulli, approximate


def test_negative_positional_forms(bl):
    """r5 probe batch: pandas negative positions for iloc / slices /
    head / tail (one count job normalizes them)."""
    import numpy as np
    import pandas as pd
    vals = [1., 2., 3., 4.]
    df = bl.DataFrame({"a": np.array(vals)})
    pdf = pd.DataFrame({"a": vals})
    assert df[-2:].to_pandas()["a"].tolist() == pdf[-2:]["a"].tolist()
    assert df[1:-1].to_pandas()["a"].tolist() == pdf[1:-1]["a"].tolist()
    assert df.head(-1).to_pandas()["a"].tolist() == \
        pdf.head(-1)["a"].tolist()
    assert df.tail(-3).to_pandas()["a"].tolist() == \
        pdf.tail(-3)["a"].tolist()
    assert df.iloc[[-1, 0]].to_pandas()["a"].tolist() == \
        pdf.iloc[[-1, 0]]["a"].tolist()
    sr = bl.Series(np.array(vals), name="v")
    ps = pd.Series(vals)
    assert sr.iloc[-1] == ps.iloc[-1]
    assert sr.iloc[-4:-1].to_pandas().tolist() == ps.iloc[-4:-1].tolist()
    assert sr.head(-2).to_pandas().tolist() == ps.head(-2).tolist()
    assert sr.tail(-2).to_pandas().tolist() == ps.tail(-2).tolist()
    import pytest
    with pytest.raises(IndexError):
        sr.iloc[-9]
    with pytest.raises(ValueError, match="step"):
        df[::-1]


def test_floordiv_parity(bl):
    import numpy as np
    import pandas as pd
    sr = bl.Series(np.array([7.0, 8.0, np.nan]), name="x")
    ps = pd.Series([7.0, 8.0, np.nan])
    got = sr.__floordiv__(2).to_pandas().tolist()
    want = (ps // 2).tolist()
    assert got[:2] == want[:2] and got[2] != got[2]
    rgot = (sr.__rfloordiv__(16)).to_pandas().tolist()
    rwant = (16 // ps).tolist()
    assert rgot[:2] == rwant[:2]
    ints = bl.Series(np.array([7, 8], dtype=np.int64), name="i")
    assert (ints // 2).to_pandas().tolist() == [3, 4]


def test_concat_axis1_positional(bl):
    """r5: column-wise concat aligns frames positionally; shorter
    frames pad with NULL (pandas RangeIndex alignment)."""
    import numpy as np
    import pandas as pd
    a = bl.DataFrame({"x": np.array([1., 2., 3.])})
    b = bl.DataFrame({"y": np.array([7., 8.])})
    got = bl.concat([a, b], axis=1).to_pandas()
    want = pd.concat([pd.DataFrame({"x": [1., 2., 3.]}),
                      pd.DataFrame({"y": [7., 8.]})], axis=1)
    assert got.columns.tolist() == ["x", "y"]
    assert str(got.values.tolist()) == str(want.values.tolist())
    assert got.index.tolist() == want.index.tolist()
    import pytest
    with pytest.raises(ValueError, match="duplicate column"):
        bl.concat([a, a], axis=1)
    with pytest.raises(ValueError, match="axis"):
        bl.concat([a, b], axis=2)


def test_assign_and_rename_kwarg(bl):
    """r5: pandas assign (scalars, Series exprs, callables seeing
    earlier assignments; original frame untouched) and the
    rename(columns=) keyword form."""
    import numpy as np
    import pandas as pd
    df = bl.DataFrame({"a": np.array([1., 2.])})
    out = df.assign(b=df["a"] * 10, c=7,
                    d=lambda f: f["b"] + f["a"]).to_pandas()
    want = pd.DataFrame({"a": [1., 2.]}).assign(
        b=lambda f: f["a"] * 10, c=7, d=lambda f: f["b"] + f["a"])
    assert out.columns.tolist() == want.columns.tolist()
    assert out.values.tolist() == want.values.tolist()
    assert df.columns == ["a"]            # original untouched
    r = df.rename(columns={"a": "alpha"})
    assert r.columns == ["alpha"]


def test_combine_first(bl):
    """r5: index-aligned NULL patching (pandas combine_first)."""
    import numpy as np
    import pandas as pd
    a = bl.DataFrame({"k": np.array([1, 2, 3]),
                      "v": np.array([1., np.nan, 3.]),
                      "only_a": np.array([9., 9., 9.])}).set_index("k")
    b = bl.DataFrame({"k": np.array([2, 3, 4]),
                      "v": np.array([20., 30., 40.])}).set_index("k")
    got = a.combine_first(b).to_pandas().sort_index()
    want = pd.DataFrame({"k": [1, 2, 3], "v": [1., np.nan, 3.],
                         "only_a": [9., 9., 9.]}).set_index("k") \
        .combine_first(pd.DataFrame({"k": [2, 3, 4],
                                     "v": [20., 30., 40.]})
                       .set_index("k")).sort_index()
    assert got["v"].tolist() == want["v"].tolist() == [1.0, 20.0, 3.0, 40.0]
    assert got.index.tolist() == want.index.tolist()
    import pytest
    with pytest.raises(ValueError, match="same index"):
        a.reset_index().combine_first(b)
    # default (unnamed) indexes align positionally like pandas
    # RangeIndexes — r5 continuation probe: this used to raise
    c = bl.DataFrame({"x": np.array([1., np.nan, 3.])},
                     index=np.arange(3, dtype=np.int64))
    d = bl.DataFrame({"x": np.array([9., 8., 7.]),
                      "z": np.array([1., 1., 1.])},
                     index=np.arange(3, dtype=np.int64))
    got2 = c.combine_first(d).to_pandas().sort_index()
    want2 = pd.DataFrame({"x": [1., np.nan, 3.]}).combine_first(
        pd.DataFrame({"x": [9., 8., 7.], "z": [1., 1., 1.]})).sort_index()
    assert got2["x"].tolist() == want2["x"].tolist() == [1., 8., 3.]
    assert got2["z"].tolist() == want2["z"].tolist() == [1., 1., 1.]


def test_frame_axis1_aggregations(bl):
    """Row-wise (axis=1) sum/mean/min/max/count across numeric
    columns: pure column expressions (no shuffle), pandas
    NaN-skipping semantics — all-null rows give sum 0 / count 0 /
    mean,min,max NaN."""
    import numpy as np
    import pandas as pd
    d = {"a": np.array([1., np.nan, 3., np.nan]),
         "b": np.array([4., 5., np.nan, np.nan]),
         "c": np.array(["x", "y", "z", "w"], dtype=object)}
    df = bl.DataFrame(d, index=np.arange(4, dtype=np.int64))
    pdf = pd.DataFrame(d)
    for op in ("sum", "mean", "min", "max", "count"):
        got = getattr(df, op)(axis=1).to_pandas().tolist()
        want = getattr(pdf, op)(axis=1, numeric_only=True).tolist()
        got = ["nan" if x is None or x != x else float(x) for x in got]
        want = ["nan" if x != x else float(x) for x in want]
        assert got == want, (op, got, want)
    # axis=0 unchanged: per-column agg row
    assert df.sum().to_pandas()["a"] == 4.0


def test_frame_shift_all_columns_one_pass(bl):
    """DataFrame.shift moves every data column by the same periods in
    ONE shared boundary-carry pass; the index stays put (pandas)."""
    import numpy as np
    import pandas as pd
    d = {"a": np.array([1., 2., 3., 4.]),
         "b": np.array(["x", "y", "z", "w"], dtype=object)}
    df = bl.DataFrame(d, index=np.arange(4, dtype=np.int64))
    pdf = pd.DataFrame(d)
    for p_ in (1, 2, -1, 0):
        got = df.shift(p_).to_pandas()
        want = pdf.shift(p_)
        assert got.index.tolist() == want.index.tolist()
        for c in ("a", "b"):
            g = [None if v is None or (isinstance(v, float) and v != v)
                 else v for v in got[c].tolist()]
            w = [None if not isinstance(v, str) and v != v else v
                 for v in want[c].tolist()]
            assert g == w, (p_, c, g, w)
    # fill_value fills only the positions the shift introduced, never a
    # NULL that was already in the data
    d = {"a": np.array([1., np.nan, 3., 4.])}
    for p_ in (2, -1):
        got = bl.DataFrame(d).shift(p_, fill_value=0.0).to_pandas()["a"]
        want = pd.DataFrame(d).shift(p_, fill_value=0.0)["a"]
        np.testing.assert_array_equal(got.to_numpy(dtype=float),
                                      want.to_numpy(), err_msg=str(p_))


def test_frame_rank_builds_like_series_face(bl, spark):
    """DataFrame.rank builds no more Spark jobs than Series.rank on the
    same frame: only method='first' needs the logical-position
    layout that breaks its ties."""
    import numpy as np
    n = 200
    rng = np.random.RandomState(5)
    df = bl.DataFrame({"k": rng.permutation(n).astype(np.int64),
                       "y": np.round(rng.randn(n), 1)}).sort_values("k")
    sc = spark.sparkContext

    def build_jobs(op, group):
        sc.setJobGroup(group, group)
        try:
            op()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for m in ("average", "min", "max", "first", "dense"):
        series = build_jobs(lambda: df["y"].rank(method=m), f"rank-s-{m}")
        frame = build_jobs(lambda: df[["y"]].rank(method=m),
                           f"rank-f-{m}")
        assert frame <= series, (m, frame, series)


def test_frame_skew_kurt_rows(bl):
    """Frame-level skew/kurt agg rows: bias-corrected like pandas,
    all columns in one aggregate job."""
    import numpy as np
    import pandas as pd
    d = {"a": np.array([1., 2., 3., 4., 10.]),
         "b": np.array([5., 5., 5., 5., 5.]),
         "s": np.array(list("abcde"), dtype=object)}
    df = bl.DataFrame(d, index=np.arange(5, dtype=np.int64))
    pdf = pd.DataFrame(d)
    for op in ("skew", "kurt"):
        got = getattr(df, op)().to_pandas()
        want = getattr(pdf, op)(numeric_only=True)
        for c in ("a", "b"):
            assert abs(got[c] - want[c]) < 1e-9, (op, c)


def test_melt_optional_id_vars(bl):
    import numpy as np
    d = {"x": np.array([1., 2.]), "y": np.array([3., 4.])}
    got = bl.DataFrame(d).melt().to_pandas()
    assert sorted(map(tuple, got[["variable", "value"]].to_numpy())) == \
        [("x", 1.), ("x", 2.), ("y", 3.), ("y", 4.)]


def test_sample_exact_n(bl):
    """sample(n=): exact count via seeded-hash TakeOrdered —
    deterministic for a fixed seed, never a full sort."""
    import numpy as np
    df = bl.DataFrame({"a": np.arange(100, dtype=np.float64)})
    s1 = df.sample(n=10, seed=3).to_pandas()
    s2 = df.sample(n=10, seed=3).to_pandas()
    assert len(s1) == 10 and sorted(s1["a"]) == sorted(s2["a"])
    assert len(set(s1["a"])) == 10


def test_frame_elementwise_parity_ops(bl):
    """abs/round/clip/isin/diff/pct_change/cum* at frame level match
    pandas column-for-column; cum*/diff run ONE shared pass for all
    columns (prefix scan / boundary carry), never one per column."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "b", "c", "d"],
                        "x": [1.0, -2.0, np.nan, 4.0],
                        "y": [-3.5, 2.5, 0.0, np.nan]})
    df = bl.DataFrame(pdf.to_dict("list"))
    num = ["x", "y"]
    cases = [
        (lambda d: d.abs(), lambda p: p[num].abs()),
        (lambda d: d.round(0), lambda p: p.round(0)),
        (lambda d: d.clip(-1, 2), lambda p: p[num].clip(-1, 2)),
        (lambda d: d.cumsum(), lambda p: p[num].cumsum()),
        (lambda d: d.cumprod(), lambda p: p[num].cumprod()),
        (lambda d: d.cummin(), lambda p: p[num].cummin()),
        (lambda d: d.cummax(), lambda p: p[num].cummax()),
        (lambda d: d.diff(), lambda p: p[num].diff()),
        (lambda d: d.diff(-1), lambda p: p[num].diff(-1)),
        (lambda d: d.pct_change(),
         lambda p: p[num].pct_change(fill_method=None)),
    ]
    for i, (f_ours, f_pd) in enumerate(cases):
        got = f_ours(df).to_pandas()
        want = f_pd(pdf)
        for c in num:
            np.testing.assert_allclose(
                got[c].fillna(-9e9).to_numpy(dtype=float),
                want[c].fillna(-9e9).to_numpy(dtype=float),
                rtol=1e-12, err_msg=f"case {i} col {c}")


def test_frame_isin_where_mask_any_all(bl):
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "b", "c", "d"],
                        "x": [1.0, -2.0, np.nan, 4.0],
                        "y": [-3.5, 2.5, 0.0, np.nan]})
    df = bl.DataFrame(pdf.to_dict("list"))
    got = df.isin([1.0, 2.5, "a"]).to_pandas()
    want = pdf.isin([1.0, 2.5, "a"])
    assert got["k"].tolist() == want["k"].tolist()
    for c in ("x", "y"):  # codec divergence: NULL stays NULL
        for g, w, src in zip(got[c], want[c], pdf[c]):
            assert (g is None or bool(g) == bool(w)) if pd.isna(src) \
                else bool(g) == bool(w), (c, g, w)
    m = df["x"] > 0
    pm = pdf["x"] > 0
    for c in ("x", "y"):
        assert df.where(m, -1.0).to_pandas()[c].fillna(-9).tolist() == \
            pdf[["x", "y"]].where(pm, -1.0)[c].fillna(-9).tolist()
        assert df.mask(m, -1.0).to_pandas()[c].fillna(-9).tolist() == \
            pdf[["x", "y"]].mask(pm, -1.0)[c].fillna(-9).tolist()
    pa = df.any().to_pandas()
    pl = df.all().to_pandas()
    assert dict(zip(pa.index, map(bool, pa))) == dict(pdf.any())
    assert dict(zip(pl.index, map(bool, pl))) == dict(pdf.all())
    s = bl.DataFrame({"v": np.array([0.0, np.nan])})["v"]
    assert s.any() is False and s.all() is False
    e = bl.DataFrame({"v": np.array([], dtype=np.float64)})["v"]
    assert e.any() is False and e.all() is True


def test_empty_constructors(bl):
    """Zero-row ndarray/dict constructors work (schema derived from
    numpy dtypes — Spark can't infer from no rows)."""
    import numpy as np
    es = bl.Series(np.array([], dtype=np.float64), name="v")
    assert es.to_pandas().tolist() == []
    ed = bl.DataFrame({"a": np.array([], dtype=np.int64),
                       "b": np.array([], dtype=object)})
    assert len(ed) == 0
    assert ed.to_pandas().shape[0] == 0


def test_get_dummies_matches_pandas(bl):
    import numpy as np
    import pandas as pd
    import pytest
    pdf = pd.DataFrame({"k": ["a", "b", None, "a"],
                        "c2": ["x", None, "y", "x"],
                        "n": [1., 2., 3., 4.]})
    df = bl.DataFrame(pdf.to_dict("list"))
    got = bl.get_dummies(df).to_pandas()
    want = pd.get_dummies(pdf, dtype="int32")
    assert sorted(got.columns) == sorted(want.columns)
    for c in want.columns:
        assert got[c].tolist() == want[c].tolist(), c
    got2 = bl.get_dummies(df, dummy_na=True, columns=["k"]).to_pandas()
    assert got2["k_nan"].tolist() == [0, 0, 1, 0]
    # Series input: bare category names like pandas
    gs = bl.get_dummies(df["k"]).to_pandas()
    assert sorted(gs.columns) == ["a", "b"]
    with pytest.raises(ValueError, match="max_categories"):
        bl.get_dummies(df, max_categories=1)


def test_frame_value_counts_and_autocorr(bl):
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "b", None, "a"],
                        "c2": ["x", None, "y", "x"]})
    df = bl.DataFrame(pdf.to_dict("list"))
    vc = df.value_counts().to_pandas()
    pvc = pdf.value_counts()
    assert sorted(vc.tolist()) == sorted(pvc.tolist())
    vcn = df.value_counts(normalize=True).to_pandas()
    assert abs(sum(vcn.tolist()) - 1.0) < 1e-12
    x = [1., 2., 4., 3., 5., 7., 6.]
    s = bl.DataFrame({"v": np.array(x)})["v"]
    for lag in (1, 2):
        assert abs(s.autocorr(lag) - pd.Series(x).autocorr(lag)) < 1e-12


def test_frame_rolling_expanding_match_pandas(bl):
    """DataFrame.rolling/.expanding: every numeric column rides ONE
    prefix-scan pass (+ one boundary shift for the fixed window)."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({
        "k": list("abcdefgh"),
        "x": [1.0, np.nan, 2.0, 5.0, np.nan, 3.0, 1.0, 2.0],
        "y": [2., 1., np.nan, 0., 4., 6., np.nan, 1.]})
    df = bl.DataFrame(pdf.to_dict("list"))
    for agg in ("sum", "mean", "var", "std"):
        got = getattr(df.rolling(3), agg)().to_pandas()
        want = getattr(pdf[["x", "y"]].rolling(3), agg)()
        for c in ("x", "y"):
            np.testing.assert_allclose(
                got[c].fillna(-9e9).to_numpy(dtype=float),
                want[c].fillna(-9e9).to_numpy(dtype=float),
                err_msg=f"roll {agg} {c}")
    for agg in ("sum", "mean", "count", "min", "max", "var", "std"):
        got = getattr(df.expanding(2), agg)().to_pandas()
        want = getattr(pdf[["x", "y"]].expanding(2), agg)()
        for c in ("x", "y"):
            np.testing.assert_allclose(
                got[c].fillna(-9e9).to_numpy(dtype=float),
                want[c].fillna(-9e9).to_numpy(dtype=float),
                err_msg=f"exp {agg} {c}")
    # scale shape: no unpartitioned window in the shared pass
    plan = df.rolling(3).mean().to_spark()._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "windowspecdefinition(__pid__" in line.replace(
                " ", "") or "__pid__" in line.split(
                "windowspecdefinition")[1][:60], line
    # fixed-window order stats: every numeric column shares ONE
    # local-carry pass (plans/ordinal.with_rolling_locals)
    for agg, akw in (("min", {}), ("max", {}), ("median", {}),
                     ("quantile", dict(q=0.75))):
        got = getattr(df.rolling(3, min_periods=2), agg)(**akw) \
            .to_pandas()
        want = getattr(pdf[["x", "y"]].rolling(3, min_periods=2),
                       agg)(**akw)
        for c in ("x", "y"):
            np.testing.assert_allclose(
                got[c].fillna(-9e9).to_numpy(dtype=float),
                want[c].fillna(-9e9).to_numpy(dtype=float),
                err_msg=f"roll local {agg} {c}")
    import pytest
    # r9: the global expanding median is now the budgeted
    # single-partition pass — the refusal moved behind max_rows
    got = df.expanding(2).median().to_pandas()
    want = pdf[["x", "y"]].expanding(2).median()
    for c in ("x", "y"):
        np.testing.assert_allclose(
            got[c].fillna(-9e9).to_numpy(dtype=float),
            want[c].fillna(-9e9).to_numpy(dtype=float))
    with pytest.raises(ValueError, match="max_rows"):
        df.expanding(2).median(max_rows=2)


def test_select_dtypes_insert_pop(bl):
    import numpy as np
    df = bl.DataFrame({"a": np.array([1., 2.]),
                       "b": np.array(["x", "y"], dtype=object),
                       "c": np.array([1, 2], dtype=np.int64)})
    assert df.select_dtypes("number").columns == ["a", "c"]
    assert df.select_dtypes(exclude="object").columns == ["a", "c"]
    assert df.select_dtypes("object").columns == ["b"]
    df.insert(1, "z", df["a"] * 2)
    assert df.columns == ["a", "z", "b", "c"]
    popped = df.pop("z")
    assert df.columns == ["a", "b", "c"]
    assert popped.to_pandas().tolist() == [2.0, 4.0]


def test_fill_limit_and_frame_idx(bl):
    """ffill/bfill limit= (bounded carry: (position, value) structs
    through the same two-pass scheme) and frame idxmax/idxmin (one
    max_by aggregate per column, first-occurrence ties)."""
    import numpy as np
    import pandas as pd
    v = [np.nan, 1., np.nan, np.nan, 4., np.nan, np.nan, np.nan, 2.]
    s = bl.DataFrame({"v": np.array(v)})["v"]
    p = pd.Series(v)
    for lim in (None, 1, 2):
        assert s.ffill(limit=lim).to_pandas().fillna(-9).tolist() == \
            p.ffill(limit=lim).fillna(-9).tolist(), f"ffill {lim}"
        assert s.bfill(limit=lim).to_pandas().fillna(-9).tolist() == \
            p.bfill(limit=lim).fillna(-9).tolist(), f"bfill {lim}"
    pdf = pd.DataFrame({"g": ["a", "a", "a", "b", "b", "b"],
                        "x": [1., np.nan, np.nan, np.nan, 5., np.nan]})
    df = bl.DataFrame(pdf.to_dict("list"))
    got = df.ffill(subset=["x"], partition_by="g", limit=1) \
        .to_pandas()["x"].fillna(-9).tolist()
    want = pdf.groupby("g")["x"].transform(
        lambda t: t.ffill(limit=1)).fillna(-9).tolist()
    assert got == want
    pdf2 = pd.DataFrame({"x": [1., 5., 3., np.nan],
                         "y": [9., 2., 9., 4.]})
    d2 = bl.DataFrame(pdf2.to_dict("list"))
    got = d2.idxmax().to_pandas()
    assert dict(zip(got.index, got)) == dict(pdf2.idxmax())
    got = d2.idxmin().to_pandas()
    assert dict(zip(got.index, got)) == dict(pdf2.idxmin())
    # STRING index labels survive (stack cast picked from the index
    # dtype — a blanket double cast would NULL every label)
    pdf3 = pd.DataFrame({"name": ["a", "b", "c"],
                         "v": [1., 9., 3.], "w": [5., 2., 8.]})
    d3 = bl.DataFrame({k: pdf3[k].to_numpy() for k in pdf3}) \
        .set_index("name")
    got = d3.idxmax().to_pandas()
    assert dict(zip(got.index, got)) == dict(pdf3.set_index("name").idxmax())
    got = d3.idxmin().to_pandas()
    assert dict(zip(got.index, got)) == dict(pdf3.set_index("name").idxmin())


def test_frame_rank_cov_crosstab_validate(bl):
    """DataFrame.rank (all tie methods + pct, strings pass through),
    DataFrame.cov matrix (one aggregate job), bl.crosstab, and
    merge validate=."""
    import numpy as np
    import pandas as pd
    import pytest
    pdf = pd.DataFrame({"x": [3., 1., np.nan, 2., 3.],
                        "y": [5., 5., 1., 2., np.nan],
                        "s": list("abcde")})
    df = bl.DataFrame(pdf.to_dict("list"))
    for m in ("average", "min", "max", "first", "dense"):
        for pct in (False, True):
            got = df.rank(method=m, pct=pct).to_pandas()
            want = pdf[["x", "y"]].rank(method=m, pct=pct)
            for c in ("x", "y"):
                np.testing.assert_allclose(
                    got[c].fillna(-9).to_numpy(dtype=float),
                    want[c].fillna(-9).to_numpy(dtype=float),
                    err_msg=f"{m} pct={pct} {c}")
            assert got["s"].tolist() == list("abcde")
    got = df.cov()
    want = pdf[["x", "y"]].cov()
    np.testing.assert_allclose(got.fillna(-9).to_numpy(),
                               want.fillna(-9).to_numpy())
    a = ["x", "y", "x", "x", "y"]
    b = ["p", "p", "q", "p", "q"]
    d2 = bl.DataFrame({"a": np.array(a, dtype=object),
                       "b": np.array(b, dtype=object)})
    ct = bl.crosstab(d2["a"], d2["b"]).to_pandas()
    want = pd.crosstab(pd.Series(a, name="a"), pd.Series(b, name="b"))
    assert sorted(ct.columns) == sorted(want.columns)
    for c in want.columns:
        assert ct[c].astype(int).tolist() == want[c].tolist(), c
    # axis naming parity: named Series name the index axis; unnamed
    # fall back to pandas' row_0; rownames=/colnames= win; wrong
    # lengths raise like pandas
    assert bl.crosstab(d2["a"], d2["b"]).index.name == "a" \
        == pd.crosstab(pd.Series(a, name="a"),
                       pd.Series(b, name="b")).index.name
    ua = bl.Series(np.array(a, dtype=object))
    ub = bl.Series(np.array(b, dtype=object))
    assert bl.crosstab(ua, ub).index.name == "row_0" \
        == pd.crosstab(pd.Series(a), pd.Series(b)).index.name
    named = bl.crosstab(ua, ub, rownames=["R"], colnames=["C"])
    wnamed = pd.crosstab(pd.Series(a), pd.Series(b),
                         rownames=["R"], colnames=["C"])
    assert named.index.name == "R" == wnamed.index.name
    assert sorted(named.to_pandas().columns) == sorted(wnamed.columns)
    with pytest.raises(AssertionError, match="same length"):
        bl.crosstab(ua, ub, rownames=["R", "S"])
    # observations with a missing key on EITHER axis drop (pandas) —
    # no 'null' row/column from Spark's stat.crosstab
    an = ["x", None, "y"]
    bn = ["p", "q", None]
    dn = bl.DataFrame({"a": np.array(an, dtype=object),
                       "b": np.array(bn, dtype=object)})
    ctn = bl.crosstab(dn["a"], dn["b"]).to_pandas()
    wantn = pd.crosstab(pd.Series(an, name="a"), pd.Series(bn, name="b"))
    assert sorted(ctn.columns) == sorted(wantn.columns)
    assert ctn.shape == wantn.shape == (1, 1)
    l = bl.DataFrame({"k": np.array([1, 2], dtype=np.int64),
                      "v": np.array([1., 2.])})
    r = bl.DataFrame({"k": np.array([2, 2], dtype=np.int64),
                      "w": np.array([8., 9.])})
    with pytest.raises(ValueError, match="not unique in right"):
        l.merge(r, on="k", validate="1:1")
    assert len(l.merge(r, on="k", validate="1:m").to_pandas()) == 2
    with pytest.raises(ValueError, match="unknown validate"):
        l.merge(r, on="k", validate="bogus")


def test_pivot_table_matches_pandas(bl):
    """pivot_table: single agg, margins, multi value/agg naming,
    fill_value, and the max_columns guard."""
    import numpy as np
    import pandas as pd
    import pytest
    pdf = pd.DataFrame({"k": ["a", "a", "b", "b", "a"],
                        "c": ["x", "y", "x", "x", "x"],
                        "v": [1., 2., 3., 4., 5.],
                        "w": [10., 20., 30., 40., 50.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    got = df.pivot_table(values="v", index="k", columns="c",
                         aggfunc="mean").to_pandas()
    want = pdf.pivot_table(values="v", index="k", columns="c",
                           aggfunc="mean")
    assert list(got.columns) == list(want.columns)
    np.testing.assert_allclose(got.fillna(-9).to_numpy(),
                               want.fillna(-9).to_numpy())
    gm = df.pivot_table(values="v", index="k", columns="c",
                        aggfunc="mean", margins=True).to_pandas()
    wm = pdf.pivot_table(values="v", index="k", columns="c",
                         aggfunc="mean", margins=True)
    assert gm.index.tolist() == [str(i) for i in wm.index.tolist()]
    np.testing.assert_allclose(gm.fillna(-9).to_numpy(),
                               wm.fillna(-9).to_numpy())
    multi = df.pivot_table(values=["v", "w"], index="k", columns="c",
                           aggfunc=["sum", "count"]).to_pandas()
    wmulti = pdf.pivot_table(values=["v", "w"], index="k",
                             columns="c", aggfunc=["sum", "count"])
    # flattened naming {pivotval}_{value}_{agg} vs pandas MultiIndex
    for (a, v, pv) in wmulti.columns.to_flat_index():
        col = f"{pv}_{v}_{a}"
        assert col in multi.columns
        g = multi[col].fillna(-9).to_numpy(dtype=float)
        w = wmulti[(a, v, pv)].fillna(-9).to_numpy(dtype=float)
        np.testing.assert_allclose(g, w, err_msg=col)
    gf = df.pivot_table(values="v", index="k", columns="c",
                        aggfunc="sum", fill_value=0).to_pandas()
    wf = pdf.pivot_table(values="v", index="k", columns="c",
                         aggfunc="sum", fill_value=0)
    np.testing.assert_allclose(gf.to_numpy(dtype=float),
                               wf.to_numpy(dtype=float))
    with pytest.raises(ValueError, match="distinct values"):
        df.pivot_table(values="v", index="k", columns="c",
                       aggfunc="sum", max_columns=1)


def test_stack_unstack_match_pandas(bl):
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"a": [1., np.nan, 3.], "b": [4., 5., np.nan]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    got = df.stack().to_pandas()
    want = pdf.stack()
    assert got.tolist() == want.tolist()
    assert [i[0] for i in got.index] == [i[0] for i in want.index]
    assert [i[1] for i in got.index] == [i[1] for i in want.index]
    assert df.stack(dropna=False).to_pandas().tolist()[2] != got.tolist()[2]
    # named index passes through
    p2 = pdf.copy(); p2["k"] = ["r", "s", "t"]
    d2 = bl.DataFrame({k: p2[k].to_numpy() for k in p2}).set_index("k")
    g2 = d2.stack().to_pandas()
    w2 = p2.set_index("k").stack()
    assert g2.tolist() == w2.tolist()
    assert list(g2.index) == list(w2.index)
    # unstack inverts
    p3 = pd.DataFrame({"k": ["x", "x", "y", "y"],
                       "c": ["p", "q", "p", "q"],
                       "v": [1., 2., 3., 4.]})
    d3 = bl.DataFrame({k: p3[k].to_numpy() for k in p3}) \
        .set_index(["k", "c"])
    gu = d3["v"].unstack().to_pandas()
    wu = p3.set_index(["k", "c"])["v"].unstack()
    assert list(gu.columns) == list(wu.columns)
    np.testing.assert_allclose(gu.to_numpy(), wu.to_numpy())


def test_transpose_update_map_explode(bl):
    import numpy as np
    import pandas as pd
    import pytest
    pdf = pd.DataFrame({"a": [1., 2.], "b": [3., 4.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    gt = df.transpose().to_pandas()
    wt = pdf.T
    assert gt.index.tolist() == wt.index.tolist()
    np.testing.assert_allclose(gt.to_numpy(), wt.to_numpy())
    with pytest.raises(ValueError, match="max_rows"):
        df.transpose(max_rows=1)
    # update
    l = pd.DataFrame({"k": [1, 2, 3], "v": [10., np.nan, 30.],
                      "w": [1., 2., 3.]}).set_index("k")
    r = pd.DataFrame({"k": [2, 3, 4],
                      "v": [99., np.nan, 77.]}).set_index("k")
    bla = bl.DataFrame({"k": np.array([1, 2, 3]),
                        "v": np.array([10., np.nan, 30.]),
                        "w": np.array([1., 2., 3.])}).set_index("k")
    blb = bl.DataFrame({"k": np.array([2, 3, 4]),
                        "v": np.array([99., np.nan, 77.])}).set_index("k")
    for ov in (True, False):
        got = bla.update(blb, overwrite=ov).to_pandas().sort_index()
        want = l.copy(); want.update(r, overwrite=ov)
        np.testing.assert_allclose(got.to_numpy(), want.to_numpy())
    # map (elementwise scalar func, na_action)
    pm = pd.DataFrame({"a": [1., np.nan], "b": [3., 4.]})
    dm = bl.DataFrame({k: pm[k].to_numpy() for k in pm})
    gmap = dm.map(lambda x: x + 1, na_action="ignore").to_pandas()
    wmap = pm.map(lambda x: x + 1, na_action="ignore")
    np.testing.assert_allclose(gmap.fillna(-9).to_numpy(),
                               wmap.fillna(-9).to_numpy())
    # Series.explode
    ps = pd.Series([[1, 2], [3], [], None])
    bs = bl.Series(np.array([[1, 2], [3], [], None], dtype=object))
    gexp = bs.explode().to_pandas()
    wexp = ps.explode()
    assert gexp.fillna(-9).tolist() == \
        wexp.fillna(-9).astype(float).tolist()
    assert gexp.index.tolist() == wexp.index.tolist()


def test_wave6_reshape_guards(bl):
    """pivot_table drops NaN keys + all-NaN rows like pandas;
    unstack/update raise on duplicates instead of silently picking
    or multiplying rows; explode passes scalars through."""
    import numpy as np
    import pandas as pd
    import pytest
    pt_pdf = pd.DataFrame({"k": ["a", None, "b"],
                           "c": ["x", "x", None],
                           "v": [1.0, 2.0, 3.0]})
    pt_df = bl.DataFrame({k: np.array(pt_pdf[k].tolist(), dtype=object)
                          if k != "v" else pt_pdf[k].to_numpy()
                          for k in pt_pdf})
    got = pt_df.pivot_table(values="v", index="k", columns="c",
                            aggfunc="sum").to_pandas()
    want = pt_pdf.pivot_table(values="v", index="k", columns="c",
                              aggfunc="sum")
    assert got.index.tolist() == want.index.tolist()
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy())
    bdup = bl.DataFrame({"k": np.array(["x", "x"], dtype=object),
                         "c": np.array(["p", "p"], dtype=object),
                         "v": np.array([1.0, 2.0])}) \
        .set_index(["k", "c"])
    with pytest.raises(ValueError, match="duplicate"):
        bdup["v"].unstack()
    assert bdup["v"].unstack(verify_integrity=False) \
        .to_pandas().shape == (1, 1)
    bupl = bl.DataFrame({"k": np.array([1, 2]),
                         "v": np.array([1.0, 2.0])}).set_index("k")
    bupr = bl.DataFrame({"k": np.array([2, 2]),
                         "v": np.array([8.0, 9.0])}).set_index("k")
    with pytest.raises(ValueError, match="duplicate"):
        bupl.update(bupr)
    # scalar explode is a no-op like pandas
    s = bl.Series(np.array([1.0, 2.0]))
    assert s.explode().to_pandas().tolist() == [1.0, 2.0]
    f = bl.DataFrame({"a": np.array([1.0, 2.0])})
    assert f.explode("a").to_pandas()["a"].tolist() == [1.0, 2.0]


def test_frame_apply_axis0_axis1(bl):
    """DataFrame.apply: axis=0 compiles to the one-job agg row;
    axis=1 streams Arrow batches through mapInPandas with index
    labels riding along."""
    import numpy as np
    import pandas as pd
    import pytest
    pdf = pd.DataFrame({"a": [1., 2., 3.], "b": [4., 5., 6.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert df.apply(np.sum).to_pandas().tolist() == \
        pdf.apply(np.sum).tolist()
    assert df.apply("mean").to_pandas().tolist() == \
        pdf.apply("mean").tolist()
    got = df.apply(lambda r: r["a"] * 10 + r["b"], axis=1).to_pandas()
    want = pdf.apply(lambda r: r["a"] * 10 + r["b"], axis=1)
    assert got.tolist() == want.tolist()
    assert got.index.tolist() == want.index.tolist()
    flt = df[df["a"] > 1]
    g2 = flt.apply(lambda r: r.sum(), axis=1).to_pandas()
    assert g2.tolist() == [7.0, 9.0] and g2.index.tolist() == [1, 2]
    with pytest.raises(ValueError, match="axis=0 apply"):
        df.apply(lambda c: c, axis=0)


def test_convenience_surface(bl):
    """shape/size/ndim/empty/to_dict/items/squeeze/equals/info —
    empty is a limit(1) probe, equals a distributed null-safe
    positional compare."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"a": [1., 2., 3.], "b": [4., 5., 6.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert df.shape == pdf.shape and df.size == pdf.size
    assert df.ndim == 2 and df["a"].ndim == 1
    assert not df.empty and df[df["a"] > 99].empty
    assert df.to_dict("list") == pdf.to_dict("list")
    assert [n for n, _ in df.items()] == ["a", "b"]
    assert type(df[["a"]].squeeze()).__name__ == "Series"
    assert df.equals(bl.DataFrame({k: pdf[k].to_numpy() for k in pdf}))
    p2 = pdf.copy(); p2.loc[1, "b"] = 99
    assert not df.equals(bl.DataFrame({k: p2[k].to_numpy()
                                       for k in p2}))
    assert bl.DataFrame({"a": np.array([np.nan])}).equals(
        bl.DataFrame({"a": np.array([np.nan])}))
    assert "2 columns" in df.info()
    s = df["a"]
    assert s.shape == (3,) and not s.empty
    assert s.to_dict() == {0: 1.0, 1: 2.0, 2: 3.0}


def test_corrwith_compare_dot(bl):
    """corrwith: one agg job over positionally aligned frames;
    compare: distributed differing-cells report; Series.dot."""
    import numpy as np
    import pandas as pd
    pa = pd.DataFrame({"a": [1., 2., 3., 4.], "b": [4., 3., 2., 1.]})
    pb = pd.DataFrame({"a": [1., 2., 3., 5.], "b": [4., 1., 2., 1.]})
    da = bl.DataFrame({k: pa[k].to_numpy() for k in pa})
    db = bl.DataFrame({k: pb[k].to_numpy() for k in pb})
    got = da.corrwith(db).to_pandas()
    want = pa.corrwith(pb)
    for c in ("a", "b"):
        assert abs(got[c] - want[c]) < 1e-12
    cmp = da.compare(db).to_pandas()
    assert cmp.index.tolist() == [1, 3]
    assert cmp.loc[1, "b_self"] == 3.0 and cmp.loc[1, "b_other"] == 1.0
    assert da["a"].dot(db["b"]) == pa["a"].dot(pb["b"])


def test_wave7_rename_sort_round_clip(bl):
    """rename(callable), sort_values(na_position='first'),
    round(dict), clip with Series bounds."""
    import numpy as np
    import pandas as pd
    pr = pd.DataFrame({"a": [1.234, 5.678], "b": [1.234, 5.678]})
    dr = bl.DataFrame({k: pr[k].to_numpy() for k in pr})
    assert dr.rename(columns=str.upper).columns == ["A", "B"]
    assert dr.rename(columns={"zz": "q"}).columns == ["a", "b"]
    ps = pd.DataFrame({"a": [3., np.nan, 1.], "b": [1., 2., 3.]})
    ds = bl.DataFrame({k: ps[k].to_numpy() for k in ps})
    assert ds.sort_values("a", na_position="first").to_pandas() \
        ["b"].tolist() == \
        ps.sort_values("a", na_position="first")["b"].tolist()
    np.testing.assert_allclose(
        dr.round({"a": 1}).to_pandas().to_numpy(),
        pr.round({"a": 1}).to_numpy())
    pc, lo = pd.Series([1., 5., 9.]), pd.Series([2., 2., 2.])
    got = bl.Series(pc.to_numpy()) \
        .clip(lower=bl.Series(lo.to_numpy())).to_pandas().tolist()
    assert got == pc.clip(lower=lo).tolist()
    # null bound leaves value unclipped; null value stays null
    gn = bl.Series(np.array([1., np.nan])) \
        .clip(lower=bl.Series(np.array([np.nan, 0.]))) \
        .to_pandas().tolist()
    assert gn[0] == 1.0 and gn[1] != gn[1]


def test_reindex_matches_pandas(bl):
    """reindex: labels join (missing -> NULL rows, order by label
    position), fill_value only fills INTRODUCED cells, columns=
    projection."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "b", "c"],
                        "v": [1., np.nan, 3.]}).set_index("k")
    df = bl.DataFrame({"k": np.array(["a", "b", "c"], dtype=object),
                       "v": np.array([1., np.nan, 3.])}).set_index("k")
    for labels in (["b", "a", "z"], ["z", "b", "b"]):
        g = df.reindex(index=labels).to_pandas()
        w = pdf.reindex(labels)
        assert g.index.tolist() == w.index.tolist()
        assert g["v"].fillna(-9).tolist() == w["v"].fillna(-9).tolist()
    g2 = df.reindex(index=["b", "z"], fill_value=7.0).to_pandas()
    assert g2["v"].fillna(-9).tolist() == [-9.0, 7.0]
    g3 = df.reindex(columns=["v", "w"]).to_pandas()
    assert g3.columns.tolist() == ["v", "w"] and g3["w"].isna().all()


def test_top_level_delegates(bl):
    """bl.merge/pivot_table/melt/to_numeric/isna/notna/factorize."""
    import numpy as np
    import pandas as pd
    l = bl.DataFrame({"k": np.array([1, 2]), "v": np.array([1., 2.])})
    r = bl.DataFrame({"k": np.array([2, 3]), "w": np.array([8., 9.])})
    assert bl.merge(l, r, on="k").to_pandas().values.tolist() == \
        [[2.0, 8.0]]
    assert bl.melt(l, id_vars="k").to_pandas().shape == (2, 3)
    s = bl.Series(np.array(["1.5", "x", "2"], dtype=object))
    got = bl.to_numeric(s, errors="coerce").to_pandas()
    assert got.fillna(-9).tolist() == [1.5, -9.0, 2.0]
    # errors='raise' (pandas default) actually raises on unparseable
    # values via one eager probe agg instead of silently coercing
    import pytest
    with pytest.raises(ValueError, match="Unable to parse"):
        bl.to_numeric(s, errors="raise")
    ok = bl.Series(np.array(["1", "2.5"], dtype=object))
    assert bl.to_numeric(ok, errors="raise").to_pandas().tolist() == \
        [1.0, 2.5]
    assert bl.isna(bl.Series(np.array([1., np.nan]))).to_pandas() \
        .tolist() == [False, True]
    # default flavor = pandas first-appearance order; sort=True =
    # value order — both on NULL-laced string and int inputs
    for vals, dt in ((["b", "a", "b", None, "c"], object),
                     ([3, 1, 3, None, 2], object)):
        for srt in (False, True):
            codes, uniq = bl.factorize(
                bl.Series(np.array(vals, dtype=dt)), sort=srt)
            pc, pu = pd.factorize(pd.Series(vals), sort=srt)
            assert codes.to_pandas().tolist() == list(pc), (vals, srt)
            assert uniq == list(pu), (vals, srt)


def test_wave8_groupby_axis_and_gates(bl):
    """as_index=False, groupby on a derived Series key, any/all
    axis=1, qcut retbins, where/mask with Series other + null-cond
    keep semantics, isin(Series) semi-join face, str type guard."""
    import numpy as np
    import pandas as pd
    import pytest
    pg = pd.DataFrame({"k": ["a", "a", "b"], "v": [1., 2., 3.]})
    dg = bl.DataFrame({k: pg[k].to_numpy() for k in pg})
    got = dg.groupby("k", as_index=False).sum().to_pandas()
    want = pg.groupby("k", as_index=False).sum()
    assert sorted(got.columns) == sorted(want.columns)
    gk = dg.groupby(dg["v"] % 2).sum().to_pandas()
    wk = pg.groupby(pg["v"] % 2).sum(numeric_only=True)
    assert sorted(gk["v"].tolist()) == sorted(wk["v"].tolist())
    pa = pd.DataFrame({"a": [1., 0., np.nan], "b": [1., 1., 0.]})
    da = bl.DataFrame({k: pa[k].to_numpy() for k in pa})
    assert da.any(axis=1).to_pandas().tolist() == \
        pa.any(axis=1).tolist()
    assert da.all(axis=1).to_pandas().tolist() == \
        pa.all(axis=1).tolist()
    _, bins = bl.qcut(bl.Series(np.arange(10, dtype=float)), 2,
                      retbins=True)
    _, wbins = pd.qcut(pd.Series(np.arange(10, dtype=float)), 2,
                       retbins=True)
    assert [round(b, 9) for b in bins] == [round(b, 9) for b in wbins]
    ps1, ps2 = pd.Series([1., 5., 9.]), pd.Series([10., 20., 30.])
    assert bl.Series(ps1.to_numpy()).where(
        bl.Series(ps1.to_numpy()) > 4,
        bl.Series(ps2.to_numpy())).to_pandas().tolist() == \
        ps1.where(ps1 > 4, ps2).tolist()
    # mask with NULL cond keeps the value (pandas False-on-both-faces)
    v = pd.Series([1., 2.])
    c = pd.Series([np.nan, 1.0])
    gm = bl.Series(v.to_numpy()).mask(
        bl.Series(c.to_numpy()) > 0, -9).to_pandas().tolist()
    assert gm == v.mask(c > 0, -9).tolist() == [1.0, -9.0]
    assert bl.Series(ps1.to_numpy()).isin(
        bl.Series(np.array([5., 9.]))).to_pandas().tolist() == \
        ps1.isin(pd.Series([5., 9.])).tolist()
    with pytest.raises(AttributeError, match="string"):
        bl.Series(np.array([1.0])).str


def test_describe_percentiles(bl):
    """describe(percentiles=): custom quantile rows, median always
    included, still one aggregate job with one array buffer."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"a": np.arange(100, dtype=float)})
    df = bl.DataFrame({"a": pdf["a"].to_numpy()})
    g = df.describe(percentiles=[0.1, 0.9]).to_pandas()
    w = pdf.describe(percentiles=[0.1, 0.9])
    assert g.index.tolist() == w.index.tolist()
    np.testing.assert_allclose(g["a"].to_numpy(), w["a"].to_numpy())
    import pytest
    with pytest.raises(ValueError, match="outside"):
        df.describe(percentiles=[1.5])


def test_frame_mode_isna_aliases(bl):
    """DataFrame.mode (one stack->hash-agg shuffle, padded pandas
    shape incl. ties), frame isna/notna, isnull/notnull aliases."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"a": [1., 1., 2.], "b": [5., 6., 6.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    got, want = df.mode().to_pandas(), pdf.mode()
    np.testing.assert_allclose(got.to_numpy(dtype=float),
                               want.to_numpy(dtype=float))
    tie = bl.DataFrame({"x": np.array([1., 2.])}).mode().to_pandas()
    assert tie["x"].tolist() == [1.0, 2.0]
    # MIXED frame: numeric modes stay numeric (per-dtype stacks,
    # source dtypes restored), not a shared string cast
    pmix = pd.DataFrame({"x": [1, 1, 2], "s": ["a", "a", "b"],
                         "f": [1.5, 1.5, 2.5]})
    bmix = bl.DataFrame({k: pmix[k].to_numpy() for k in pmix})
    gm, wm = bmix.mode().to_pandas(), pmix.mode()
    assert gm["x"].tolist() == wm["x"].tolist() == [1]
    assert gm["x"].dtype == wm["x"].dtype
    assert gm["f"].tolist() == wm["f"].tolist() == [1.5]
    assert gm["s"].tolist() == wm["s"].tolist() == ["a"]
    # int64 above 2^53: the integral group runs as bigint, never
    # through a double cast that would corrupt the winner
    big = (1 << 60) + 1
    pb = pd.DataFrame({"i": np.array([big, big, 7],
                                     dtype=np.int64)})
    bb = bl.DataFrame({"i": pb["i"].to_numpy()})
    gb, wb = bb.mode().to_pandas(), pb.mode()
    assert gb["i"].tolist() == wb["i"].tolist() == [big]
    assert gb["i"].dtype == wb["i"].dtype == np.int64
    assert df.isna().to_pandas().values.tolist() == \
        pdf.isna().values.tolist()
    assert bl.isnull(df["a"]).to_pandas().tolist() == [False] * 3
    assert df["a"].notnull().to_pandas().tolist() == [True] * 3


def test_frame_quantile_median_aliases(bl):
    """Frame quantile/median: ONE agg job with a single
    array-percentile buffer per column; named-op/compare aliases;
    copy/keys/get/take/aggregate."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"a": np.arange(11, dtype=float),
                        "b": np.arange(11, dtype=float) * 2})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert df.quantile(0.5).to_pandas().to_dict() == \
        pdf.quantile(0.5).to_dict()
    gq = df.quantile([0.25, 0.75]).to_pandas()
    wq = pdf.quantile([0.25, 0.75])
    np.testing.assert_allclose(gq.to_numpy(), wq.to_numpy())
    assert df.median().to_pandas().to_dict() == pdf.median().to_dict()
    assert df.eq(2.0).to_pandas().values.tolist() == \
        pdf.eq(2.0).values.tolist()
    assert df.take([2, 0]).to_pandas()["a"].tolist() == [2.0, 0.0]
    assert df.get("zz", "fb") == "fb"
    assert df.copy().columns == df.columns
    assert df.add(1).to_pandas()["a"].tolist()[:3] == [1.0, 2.0, 3.0]


def test_session4_integration_chain(bl):
    """End-to-end chain of session-4 surfaces over real testdata,
    pandas running the same chain: filter -> derived setitem ->
    pivot_table -> stack -> reset_index -> groupby sum."""
    import numpy as np
    import pandas as pd
    pdf = pd.read_parquet("/root/testdata/sf0.001/orders.parquet")
    df = bl.read_parquet("/root/testdata/sf0.001/orders.parquet")
    d = df[df["o_totalprice"] > 1000]
    d["bucket"] = (d["o_custkey"] % 5).astype(np.int64)
    got = (d.pivot_table(values="o_totalprice", index="bucket",
                         columns="o_orderstatus", aggfunc="mean")
           .stack().to_frame("v").reset_index()
           .groupby("bucket")[["v"]].sum()
           .to_pandas()["v"].sort_index())
    p = pdf[pdf["o_totalprice"] > 1000].copy()
    p["bucket"] = (p["o_custkey"] % 5).astype("int64")
    want = (p.pivot_table(values="o_totalprice", index="bucket",
                          columns="o_orderstatus", aggfunc="mean")
            .stack().rename("v").reset_index()
            .groupby("bucket")["v"].sum().sort_index())
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy())


def test_frame_agg_row_identities_r11(bl):
    """r11: the frame column-agg row keeps pandas' empty-agg
    identities for all-NULL columns — sum -> 0.0, prod -> 1.0
    (min_count=0), like the Series faces and the reference's
    scalar merger already did; mean/min/max stay missing."""
    import numpy as np
    d = bl.DataFrame({"a": np.array([1.0, 2.0]),
                      "b": np.array([np.nan, np.nan])})
    s = d.sum().to_pandas()
    assert s["a"] == 3.0 and s["b"] == 0.0
    p = d.prod().to_pandas()
    assert p["a"] == 2.0 and p["b"] == 1.0
    m = d.mean().to_pandas()
    assert m["a"] == 1.5 and m["b"] != m["b"]
    g = d.agg(["sum", "mean"]).to_pandas()
    assert g.loc["sum", "b"] == 0.0
    assert g.loc["mean", "b"] != g.loc["mean", "b"]

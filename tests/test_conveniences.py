"""r7 pandas-surface conveniences, found by the dir(pandas) sweep:
reverse/named arithmetic at both levels, attribute column access,
eval (Catalyst F.expr — fully JVM-side), transform, valid-index
probes, truncate, from_dict, and the Series set (drop/get/
reset_index/squeeze/add_prefix/add_suffix/argsort/compare/align/
divmod/transform). Each asserts against pandas on the same data."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest


def test_reverse_and_floordiv_ops(bl):
    pdf = pd.DataFrame({"a": [1., 2., 4.], "b": [3., 0., 5.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    for name, arg in (("radd", 10), ("rsub", 10), ("rmul", 3),
                      ("rdiv", 8), ("rtruediv", 8), ("rpow", 2),
                      ("rmod", 7), ("floordiv", 2),
                      ("rfloordiv", 10), ("product", None)):
        g = getattr(df, name)(arg) if arg is not None \
            else getattr(df, name)()
        w = getattr(pdf, name)(arg) if arg is not None \
            else getattr(pdf, name)()
        gv = (g.to_pandas().to_numpy(dtype=float)
              if arg is not None
              else np.asarray(g.to_pandas(), dtype=float))
        wv = (w.to_numpy(dtype=float) if arg is not None
              else np.asarray(w, dtype=float))
        npt.assert_allclose(gv, wv, err_msg=name)
    npt.assert_allclose((10 // df).to_pandas().to_numpy(),
                        (10 // pdf).to_numpy())
    s = bl.Series(np.array([7., np.nan]))
    p = pd.Series([7., np.nan])
    for name in ("rpow", "rmod", "rtruediv", "floordiv",
                 "rfloordiv", "divide", "multiply", "subtract"):
        got = getattr(s, name)(2).to_pandas().fillna(-9).tolist()
        want = getattr(p, name)(2).fillna(-9).tolist()
        assert got == want, name
    assert s.floordiv(2, fill_value=4).to_pandas().tolist() == \
        p.floordiv(2, fill_value=4).tolist()
    gq, gr = s.divmod(3)
    wq, wr = p.divmod(3)
    assert gq.to_pandas().fillna(-9).tolist() == wq.fillna(-9).tolist()
    assert gr.to_pandas().fillna(-9).tolist() == wr.fillna(-9).tolist()


def test_attribute_column_access(bl):
    pdf = pd.DataFrame({"alpha": [1., 2.], "beta": [3., 4.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert df.alpha.to_pandas().tolist() == pdf.alpha.tolist()
    with pytest.raises(AttributeError):
        df.no_such_column
    # internal names never resolve through column access
    with pytest.raises(AttributeError):
        df._no_such_attr


def test_eval_catalyst(bl):
    pdf = pd.DataFrame({"a": [1., 2.], "b": [3., 4.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert df.eval("a + b * 2").to_pandas().tolist() == \
        pdf.eval("a + b * 2").tolist()
    assert df.eval("c = a + b").to_pandas().values.tolist() == \
        pdf.eval("c = a + b").values.tolist()
    assert df.eval("a > 1 and b < 5").to_pandas().tolist() == \
        pdf.eval("a > 1 and b < 5").tolist()
    assert df.eval("a > 1 or not (b < 4)").to_pandas().tolist() == \
        pdf.eval("a > 1 or not (b < 4)").tolist()
    # keywords inside quoted literals stay untouched (ast compiler)
    ps = pd.DataFrame({"s": ["x and y", "z"], "a": [1., 2.]})
    ds = bl.DataFrame({"s": np.array(["x and y", "z"], dtype=object),
                       "a": ps["a"].to_numpy()})
    assert ds.eval("s == 'x and y' and a > 0").to_pandas().tolist() \
        == ps.eval("s == 'x and y' and a > 0").tolist() \
        == [True, False]
    # chained comparison, in-lists, **, python-sign % (wave 13)
    p3 = pd.DataFrame({"a": [1., 2., 3.], "b": [4., 5., 6.]})
    d3 = bl.DataFrame({k: p3[k].to_numpy() for k in p3})
    assert d3.eval("1 < a <= 3").to_pandas().tolist() == \
        p3.eval("1 < a <= 3").tolist()
    assert d3.eval("a in [1, 3]").to_pandas().tolist() == \
        p3.eval("a in [1, 3]").tolist()
    assert d3.eval("a not in [1, 3]").to_pandas().tolist() == \
        p3.eval("a not in [1, 3]").tolist()
    npt.assert_allclose(
        np.asarray(d3.eval("(a + b) ** 2 % 5").to_pandas(),
                   dtype=float),
        np.asarray(p3.eval("(a + b) ** 2 % 5"), dtype=float))
    npt.assert_allclose(
        np.asarray(d3.eval("-a // 2").to_pandas(), dtype=float),
        np.asarray(p3.eval("-a // 2"), dtype=float))


def test_transform(bl):
    pdf = pd.DataFrame({"a": [1., 4.], "b": [9., 16.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    npt.assert_allclose(df.transform("sqrt").to_pandas().to_numpy(),
                        pdf.transform("sqrt").to_numpy())
    npt.assert_allclose(
        df.transform(lambda x: x + 1).to_pandas().to_numpy(),
        pdf.transform(lambda x: x + 1).to_numpy())
    assert bl.Series(np.array([1., 4.])).transform("sqrt") \
        .to_pandas().tolist() == \
        pd.Series([1., 4.]).transform("sqrt").tolist()


def test_valid_index_truncate_from_dict(bl):
    p2 = pd.DataFrame({"a": [np.nan, np.nan, 3.],
                       "b": [np.nan, 2., np.nan]},
                      index=[10, 20, 30])
    d2 = bl.DataFrame({"k": np.array([10, 20, 30], dtype=np.int64),
                       "a": p2["a"].to_numpy(),
                       "b": p2["b"].to_numpy()}).set_index("k")
    assert d2.first_valid_index() == p2.first_valid_index() == 20
    assert d2.last_valid_index() == p2.last_valid_index() == 30
    assert d2.truncate(15, 30).to_pandas()["a"].fillna(-9).tolist() \
        == p2.truncate(15, 30)["a"].fillna(-9).tolist()
    got = bl.DataFrame.from_dict({"r1": [1, 2], "r2": [3, 4]},
                                 orient="index").to_pandas()
    want = pd.DataFrame.from_dict({"r1": [1, 2], "r2": [3, 4]},
                                  orient="index")
    assert got.values.tolist() == want.values.tolist()
    assert bl.DataFrame.from_dict({"a": [1, 2]}).to_pandas()["a"] \
        .tolist() == [1, 2]


def test_series_conveniences(bl):
    ps = pd.Series([7., 8., 9.], index=["a", "b", "c"])
    bs = bl.DataFrame({"k": np.array(["a", "b", "c"], dtype=object),
                       "v": ps.to_numpy()}).set_index("k")["v"]
    assert bs.drop(["b"]).to_pandas().tolist() == \
        ps.drop(["b"]).tolist()
    with pytest.raises(KeyError):
        bs.drop(["zz"])
    assert bs.drop(["zz"], errors="ignore").to_pandas().tolist() == \
        ps.drop(["zz"], errors="ignore").tolist()
    assert bs.get("b") == ps.get("b") == 8.0
    assert bs.get("zz", -1) == ps.get("zz", -1) == -1
    assert bs.truncate("b").to_pandas().tolist() == \
        ps.truncate("b").tolist()
    assert sorted(bs.add_prefix("P_").to_pandas().index.tolist()) == \
        sorted(ps.add_prefix("P_").index.tolist())
    assert sorted(bs.add_suffix("_S").to_pandas().index.tolist()) == \
        sorted(ps.add_suffix("_S").index.tolist())
    assert bl.Series(np.array([7.])).squeeze() == \
        pd.Series([7.]).squeeze() == 7.0
    multi = bl.Series(np.array([7., 8.])).squeeze()
    assert hasattr(multi, "to_pandas")          # stays a Series
    assert bs.transpose() is bs and bs.T is bs
    assert bs.reset_index(drop=True).to_pandas().tolist() == \
        ps.reset_index(drop=True).tolist()
    ri = bs.reset_index().to_pandas()
    assert list(ri.columns) == ["k", "v"]
    assert ri["v"].tolist() == [7., 8., 9.]


def test_series_reset_index_exports_constructor_index(bl):
    """A Series built on an explicit index exports it as pandas'
    ``index`` column, not as the internal index column's name."""
    ps = pd.Series([1., 2., 3.], index=pd.Index([10, 20, 30]), name="v")
    bs = bl.Series(ps.to_numpy(), index=bl.Index([10, 20, 30]), name="v")
    got = bs.reset_index().to_pandas()
    want = ps.reset_index()
    assert list(got.columns) == list(want.columns) == ["index", "v"]
    assert got["index"].tolist() == want["index"].tolist()
    assert got["v"].tolist() == want["v"].tolist()


def test_series_argsort_compare_align(bl):
    # argsort: pandas' FUTURE contract (NA last), not the deprecated
    # -1 sentinel flavor
    a = pd.Series([3., np.nan, 1., 2.])
    assert bl.Series(a.to_numpy()).argsort().to_pandas().tolist() == \
        [2, 3, 0, 1]
    b = pd.Series([5., 1., 1., np.nan, 0.])
    assert bl.Series(b.to_numpy()).argsort().to_pandas().tolist() == \
        [4, 1, 2, 0, 3]
    s1, s2 = pd.Series([1., 2., 3.]), pd.Series([1., 9., 3.])
    got = bl.Series(s1.to_numpy()).compare(
        bl.Series(s2.to_numpy())).to_pandas()
    want = s1.compare(s2)
    assert got[["self", "other"]].values.tolist() == \
        want[["self", "other"]].values.tolist()
    la, lb = bl.Series(np.array([1., 2.])).align(
        bl.Series(np.array([10., 20., 30.])))
    pa, pb = pd.Series([1., 2.]).align(pd.Series([10., 20., 30.]))
    assert la.to_pandas().fillna(-9).tolist() == \
        pa.fillna(-9).tolist()
    assert lb.to_pandas().fillna(-9).tolist() == \
        pb.fillna(-9).tolist()
    ia, ib = bl.Series(np.array([1., 2.])).align(
        bl.Series(np.array([10., 20., 30.])), join="inner")
    assert len(ia.to_pandas()) == 2


def test_series_groupby_reindex_asof_sinks(bl, tmp_path):
    """Series.groupby (by-Series, same-frame, and index-level
    spellings — one hash-agg shuffle via the frame machinery),
    Series.reindex (label-table join; fills introduced cells only),
    Series.asof (scalar limit-1 probe; lists ride the as-of join),
    and the to_csv/to_json sink delegations."""
    v = pd.Series([1., 2., 3., 4.])
    k = pd.Series(["a", "b", "a", "b"])
    got = bl.Series(v.to_numpy()).groupby(
        bl.Series(k.to_numpy(dtype=object))).mean().to_pandas()
    assert sorted(np.asarray(got).ravel().tolist()) == \
        sorted(v.groupby(k).mean().tolist())
    df = bl.DataFrame({"g": k.to_numpy(dtype=object),
                       "v": v.to_numpy()})
    got = df["v"].groupby(df["g"]).sum().to_pandas()
    assert sorted(np.asarray(got).ravel().tolist()) == \
        sorted(v.groupby(k).sum().tolist())
    got = df.set_index("g")["v"].groupby("g").max().to_pandas()
    assert sorted(np.asarray(got).ravel().tolist()) == \
        sorted(v.groupby(k).max().tolist())
    with pytest.raises(KeyError):
        df["v"].groupby("not_a_level")

    ps = pd.Series([1., 2.], index=["a", "b"])
    bs = bl.DataFrame({"k": np.array(["a", "b"], dtype=object),
                       "v": ps.to_numpy()}).set_index("k")["v"]
    got = bs.reindex(["b", "c", "a"]).to_pandas()
    want = ps.reindex(["b", "c", "a"])
    assert sorted(got.fillna(-9).tolist()) == \
        sorted(want.fillna(-9).tolist())
    assert sorted(bs.reindex(["b", "c"], fill_value=0.)
                  .to_pandas().tolist()) == \
        sorted(ps.reindex(["b", "c"], fill_value=0.).tolist())

    pa = pd.Series([1., 2., np.nan, 4.], index=[10, 20, 30, 40])
    ba = bl.DataFrame({"k": np.array([10, 20, 30, 40],
                                     dtype=np.int64),
                       "v": pa.to_numpy()}).set_index("k")["v"]
    assert ba.asof(35) == pa.asof(35) == 2.0
    assert ba.asof(20) == pa.asof(20) == 2.0
    assert ba.asof(5) is None and np.isnan(pa.asof(5))
    assert ba.asof([15, 35, 45]).to_pandas().tolist() == \
        pa.asof([15, 35, 45]).tolist()
    # duplicate stamps: the LAST row at the stamp wins, like pandas
    pd2 = pd.Series([1., 2., 4.], index=[10, 20, 20])
    bd2 = bl.DataFrame({"k": np.array([10, 20, 20], dtype=np.int64),
                        "v": pd2.to_numpy()}).set_index("k")["v"]
    assert bd2.asof(25) == pd2.asof(25) == 4.0
    # empty series raises like pandas
    be = bl.DataFrame({"k": np.array([], dtype=np.int64),
                       "v": np.array([], dtype=float)}) \
        .set_index("k")["v"]
    with pytest.raises(IndexError):
        be.asof(5)
    # inverted truncate bounds raise like pandas
    with pytest.raises(ValueError, match="must be after"):
        ba.truncate(30, 10)

    bs.to_csv(str(tmp_path / "s.csv"))
    assert open(tmp_path / "s.csv").read().strip().splitlines()[1:] \
        == ["a,1.0", "b,2.0"]


def test_time_of_day_and_asfreq(bl):
    """at_time/between_time (integer microsecond-of-day filters,
    midnight wrap, inclusive= flavors) and asfreq (distributed
    date_range grid + one equi/as-of join; method= takes the
    last/next ORIGINAL row like pandas reindex, fill_value fills
    only introduced cells) — frame and Series faces."""
    idx = pd.date_range("2024-01-01 08:00", periods=6, freq="7h")
    pdf = pd.DataFrame({"v": np.arange(6.)}, index=idx)
    bdf = bl.DataFrame({"v": pdf["v"].to_numpy()})
    bdf["t"] = bl.Series(idx.to_numpy())
    bdf = bdf.set_index("t")
    assert bdf.at_time("08:00").to_pandas()["v"].tolist() == \
        pdf.at_time("08:00")["v"].tolist()
    for args, kw in ((("09:00", "23:00"), {}),
                     (("22:00", "09:00"), {}),          # wraps
                     (("08:00", "22:00"), {"inclusive": "left"}),
                     (("08:00", "22:00"), {"inclusive": "neither"})):
        got = sorted(bdf.between_time(*args, **kw)
                     .to_pandas()["v"].tolist())
        want = sorted(pdf.between_time(*args, **kw)["v"].tolist())
        assert got == want, (args, kw)
    # Series face
    sv = bdf["v"]
    assert sorted(sv.between_time("09:00", "23:00")
                  .to_pandas().tolist()) == \
        sorted(pdf["v"].between_time("09:00", "23:00").tolist())

    s = pd.DataFrame({"v": [1., 2.]},
                     index=pd.to_datetime(["2024-01-01",
                                           "2024-01-03"]))
    b = bl.DataFrame({"v": s["v"].to_numpy()})
    b["t"] = bl.Series(s.index.to_numpy())
    b = b.set_index("t")
    assert b.asfreq("D").to_pandas()["v"].fillna(-9).tolist() == \
        s.asfreq("D")["v"].fillna(-9).tolist()
    assert b.asfreq("D", method="ffill").to_pandas()["v"].tolist() \
        == s.asfreq("D", method="ffill")["v"].tolist()
    assert b.asfreq("12h", fill_value=0.).to_pandas()["v"].tolist() \
        == s.asfreq("12h", fill_value=0.)["v"].tolist()
    assert [str(x) for x in b.asfreq("D").to_pandas().index] == \
        [str(x) for x in s.asfreq("D").index]
    assert b["v"].asfreq("D", method="bfill").to_pandas().tolist() \
        == s["v"].asfreq("D", method="bfill").tolist()


def test_frame_asof_series_update(bl):
    """DataFrame.asof (scalar -> pandas row via one ordered limit-1
    probe over the all-valid row subset; lists ride the as-of join)
    and Series.update (new-Series contract like DataFrame.update)."""
    pdf = pd.DataFrame({"a": [1., np.nan, 3.], "b": [4., 5., np.nan]},
                       index=[10, 20, 30])
    bdf = bl.DataFrame({"k": np.array([10, 20, 30], dtype=np.int64),
                        "a": pdf["a"].to_numpy(),
                        "b": pdf["b"].to_numpy()}).set_index("k")
    assert bdf.asof(25).tolist() == pdf.asof(25).tolist()
    assert [str(x) for x in bdf.asof(5).tolist()] == \
        [str(x) for x in pdf.asof(5).tolist()]     # all-NaN row
    assert bdf.asof([25, 35]).to_pandas().values.tolist() == \
        pdf.asof([25, 35]).values.tolist()

    ps = pd.Series([1., 2.], index=["a", "b"])
    bs = bl.DataFrame({"k": np.array(["a", "b"], dtype=object),
                       "v": ps.to_numpy()}).set_index("k")["v"]
    bo = bl.DataFrame({"k": np.array(["b"], dtype=object),
                       "v": np.array([9.])}).set_index("k")["v"]
    ps.update(pd.Series([9.], index=["b"]))
    assert sorted(bs.update(bo).to_pandas().tolist()) == \
        sorted(ps.tolist())


def test_final_gap_batch(bl):
    """dot (projection-based matmul — other is k x m with k = the
    column count, driver-sized by construction; no shuffle), xs,
    reindex_like (DISTRIBUTED: other's index joins, no label
    collect), combine (frame func gets ENGINE Series — lazy; Series
    func is the Arrow-batched honest slow path), align at frame
    level, Series loc/factorize/resample."""
    pa = pd.DataFrame({"x": [1., 2.], "y": [3., 4.]})
    pb = pd.DataFrame({"p": [1., 0.], "q": [0., 2.]},
                      index=["x", "y"])
    da = bl.DataFrame({k: pa[k].to_numpy() for k in pa})
    assert da.dot(pb).to_pandas().values.tolist() == \
        pa.dot(pb).values.tolist()
    assert da.dot(pd.Series([2., 1.], index=["x", "y"])) \
        .to_pandas().tolist() == \
        pa.dot(pd.Series([2., 1.], index=["x", "y"])).tolist()
    with pytest.raises(ValueError, match="not aligned"):
        da.dot(pd.DataFrame({"p": [1.]}, index=["x"]))

    pdf = pd.DataFrame({"a": [1., 2.], "b": [3., 4.]},
                       index=["u", "w"])
    bdf = bl.DataFrame({"k": np.array(["u", "w"], dtype=object),
                        "a": pdf["a"].to_numpy(),
                        "b": pdf["b"].to_numpy()}).set_index("k")
    assert bdf.xs("w").tolist() == pdf.xs("w").tolist()
    with pytest.raises(KeyError):
        bdf.xs("zz")

    p1 = pd.DataFrame({"a": [1., 2.]}, index=["u", "w"])
    p2 = pd.DataFrame({"a": [0.] * 3, "b": [0.] * 3},
                      index=["w", "z", "u"])
    b1 = bl.DataFrame({"k": np.array(["u", "w"], dtype=object),
                       "a": p1["a"].to_numpy()}).set_index("k")
    b2 = bl.DataFrame({"k": np.array(["w", "z", "u"], dtype=object),
                       "a": p2["a"].to_numpy(),
                       "b": p2["b"].to_numpy()}).set_index("k")
    got = b1.reindex_like(b2).to_pandas().sort_index()
    want = p1.reindex_like(p2).sort_index()
    assert got["a"].fillna(-9).tolist() == \
        want["a"].fillna(-9).tolist()
    assert got["b"].isna().all() and want["b"].isna().all()
    assert sorted(b1["a"].reindex_like(b2["a"]).to_pandas()
                  .fillna(-9).tolist()) == \
        sorted(p1["a"].reindex_like(p2["a"]).fillna(-9).tolist())

    pc = pd.DataFrame({"a": [1., 5.]}, index=[0, 1])
    po = pd.DataFrame({"a": [4., 2.]}, index=[0, 1])
    bc = bl.DataFrame({"k": np.array([0, 1], dtype=np.int64),
                       "a": pc["a"].to_numpy()}).set_index("k")
    bo = bl.DataFrame({"k": np.array([0, 1], dtype=np.int64),
                       "a": po["a"].to_numpy()}).set_index("k")
    got = bc.combine(bo, lambda s1, s2: s1.where(s1 > s2, s2)) \
        .to_pandas().sort_index()
    assert got["a"].tolist() == \
        pc.combine(po, np.maximum).sort_index()["a"].tolist()
    ga, gb = bc.align(bo, join="inner")
    wa, wb = pc.align(po, join="inner")
    assert ga.to_pandas().sort_index()["a"].tolist() == \
        wa.sort_index()["a"].tolist()

    s = pd.Series([1., 5.])
    o = pd.Series([4., 2.])
    assert bl.Series(s.to_numpy()).combine(
        bl.Series(o.to_numpy()), max).to_pandas().tolist() == \
        s.combine(o, max).tolist()
    ps = pd.Series([7., 8.], index=["a", "b"])
    bs = bl.DataFrame({"k": np.array(["a", "b"], dtype=object),
                       "v": ps.to_numpy()}).set_index("k")["v"]
    assert bs.loc["b"] == ps.loc["b"]
    assert sorted(bs.loc[["a", "b"]].to_pandas().tolist()) == \
        sorted(ps.loc[["a", "b"]].tolist())
    with pytest.raises(KeyError):
        bs.loc["zz"]
    codes, uniq = bl.Series(
        np.array(["b", "a", "b"], dtype=object)).factorize()
    pcodes, puniq = pd.factorize(pd.Series(["b", "a", "b"]))
    assert codes.to_pandas().tolist() == pcodes.tolist()
    assert list(uniq) == list(puniq)
    ts = pd.date_range("2024-01-01", periods=4, freq="12h")
    pr = pd.Series([1., 2., 3., 4.], index=ts)
    br = bl.DataFrame({"t": ts.to_numpy(),
                       "v": pr.to_numpy()}).set_index("t")["v"]
    assert br.resample("1D").sum().to_pandas()["v"].tolist() == \
        pr.resample("1D").sum().tolist()


def test_r8_advice_fixes(bl):
    """r8 advice items pinned: (1) Series.loc label lists return
    rows in REQUESTED order with repeats duplicated (position-tagged
    lookup join, not an isin filter); (2) Series.combine promotes
    numeric pairs to float64 instead of truncating to the left
    dtype; (3) DataFrame.asof scalar tiebreaks duplicate stamps by
    position (last row in original order, like Series.asof); (4)
    Series.asof list-face dtype is inferred from ALL values —
    None-first string results stay object, all-hit ints stay int64;
    (5) Series.asof scalar returns None (engine NULL spelling) where
    pandas spells the missing probe nan."""
    import pandas as pd

    # (1) loc request order + duplicates, incl. duplicate index
    ps = pd.Series([10., 20., 30.], index=["a", "b", "c"])
    s = bl.Series(ps.to_numpy(),
                  index=bl.Index(ps.index.to_numpy()), name="v")
    for req in (["c", "a"], ["a", "a"], ["b", "c", "b"]):
        got = s.loc[req].to_pandas()
        want = ps.loc[req]
        assert got.tolist() == want.tolist(), req
        assert got.index.tolist() == want.index.tolist(), req
    ps2 = pd.Series([1., 2., 3.], index=["a", "a", "b"])
    s2 = bl.Series(ps2.to_numpy(),
                   index=bl.Index(ps2.index.to_numpy()), name="v")
    assert s2.loc[["a", "b", "a"]].to_pandas().tolist() == \
        ps2.loc[["a", "b", "a"]].tolist()
    with pytest.raises(KeyError):
        s.loc[["a", "zzz"]]

    # (2) combine: int pair + float-returning func => float values
    pi = pd.Series([1, 2, 8], index=["a", "b", "c"])
    si = bl.Series(pi.to_numpy(),
                   index=bl.Index(pi.index.to_numpy()), name="v")
    got = si.combine(si, lambda a, b: a / b).to_pandas()
    want = pi.combine(pi, lambda a, b: a / b)
    assert np.allclose(got.to_numpy(dtype=float), want.to_numpy())

    # (3) frame asof: duplicate stamps -> LAST row in original order
    pf = pd.DataFrame({"a": [1., 2., 3.], "b": [4., 5., 6.]},
                      index=[10, 20, 20])
    f = bl.DataFrame({"a": pf["a"].to_numpy(),
                      "b": pf["b"].to_numpy()},
                     index=bl.Index(pf.index.to_numpy()))
    assert f.asof(20).tolist() == pf.asof(20).tolist() == [3., 6.]

    # (4) asof list dtype from all values
    cases = [(pd.Series([1, 2, 3], index=[10, 20, 30]), [20, 30]),
             (pd.Series([1, 2, 3], index=[10, 20, 30]), [5, 30]),
             (pd.Series(["a", "b"], index=[10, 20]), [5, 20])]
    for psr, where in cases:
        bsr = bl.Series(psr.to_numpy(),
                        index=bl.Index(psr.index.to_numpy()),
                        name="v")
        g, w = bsr.asof(where).to_pandas(), psr.asof(where)
        assert g.dtype == w.dtype, (where, g.dtype, w.dtype)
        norm = lambda xs: [None if (isinstance(x, float) and x != x)
                           else x for x in xs]
        assert norm(g.tolist()) == norm(w.tolist()), where

    # (5) scalar missing probe: engine None vs pandas nan — the
    # documented sentinel-codec convention, pinned deliberately
    pm = pd.Series([1.0], index=[10])
    bm = bl.Series(pm.to_numpy(), index=bl.Index(pm.index.to_numpy()),
                   name="v")
    assert bm.asof(5) is None and np.isnan(pm.asof(5))


def test_eval_local_dict(bl):
    """eval(local_dict=) — the engine spelling of pandas' @var:
    scalars and lists inline as literals through the AST compiler;
    a name that is ALSO a column resolves to the column (pandas'
    plain-name order); '@' in the source raises a pointer at
    local_dict=."""
    pdf = pd.DataFrame({"a": [1., 2., 3.], "b": [4., 5., 6.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert df.eval("a + thr", local_dict={"thr": 10}) \
        .to_pandas().tolist() == \
        pdf.eval("a + @thr", local_dict={"thr": 10}).tolist()
    assert df.eval("a in lst", local_dict={"lst": [1, 3]}) \
        .to_pandas().tolist() == \
        pdf.eval("a in @lst", local_dict={"lst": [1, 3]}).tolist()
    assert df.eval("a not in lst", local_dict={"lst": (1, 3)}) \
        .to_pandas().tolist() == [False, True, False]
    # column shadows the local — pandas resolves plain names
    # column-first
    assert df.eval("a + b", local_dict={"b": 100}) \
        .to_pandas().tolist() == [5., 7., 9.]
    # string literal escaping through the local path
    ps = pd.DataFrame({"s": ["x'y", "z"]})
    ds = bl.DataFrame({"s": np.array(["x'y", "z"], dtype=object)})
    assert ds.eval("s == tag", local_dict={"tag": "x'y"}) \
        .to_pandas().tolist() == [True, False]
    # assignment face composes with locals
    assert df.eval("c = a * k", local_dict={"k": 2}) \
        .to_pandas()["c"].tolist() == [2., 4., 6.]
    with pytest.raises(ValueError, match="local_dict"):
        df.eval("a + @thr")
    with pytest.raises(ValueError, match="right of in"):
        df.eval("a + lst", local_dict={"lst": [1, 2]})


def test_wave14_fixes(bl):
    """Probe-wave-14 bugs pinned: (1) Series.combine aligns on the
    index UNION (full outer), fill_value substitutes ONLY for
    index-missing labels while NaN VALUES at present labels pass
    through to func as NaN; (2) reindex_like keeps duplicate target
    labels (one row per duplicate, in the other's order); (3) eval
    parses backtick-quoted column names (spaces, dots)."""
    import pandas as pd

    pc = pd.Series([1., np.nan, 3.], index=["a", "b", "c"])
    po = pd.Series([10., 20.], index=["b", "d"])
    mks = lambda ps: bl.Series(ps.to_numpy(),
                               index=bl.Index(ps.index.to_numpy()),
                               name="v")
    got = mks(pc).combine(mks(po), lambda x, y: x + y,
                          fill_value=0.0).to_pandas().sort_index()
    want = pc.combine(po, lambda x, y: x + y,
                      fill_value=0.0).sort_index()
    norm = lambda xs: [None if (isinstance(x, float) and x != x)
                       else x for x in xs]
    assert norm(got.tolist()) == norm(want.tolist())
    assert got.index.tolist() == want.index.tolist()
    f = lambda x, y: (-99 if x != x else x) + (-99 if y != y else y)
    assert norm(mks(pc).combine(mks(po), f).to_pandas()
                .sort_index().tolist()) == \
        norm(pc.combine(po, f).sort_index().tolist())

    src = pd.Series([1., 2., 3.], index=["a", "b", "c"])
    like = pd.Series([0., 0., 0.], index=["b", "b", "a"])
    assert mks(src).reindex_like(mks(like)).to_pandas().tolist() == \
        src.reindex_like(like).tolist()
    pf = pd.DataFrame({"x": [1., 2.]}, index=["a", "b"])
    bf = bl.DataFrame({"x": pf["x"].to_numpy()},
                      index=bl.Index(pf.index.to_numpy()))
    plike = pd.DataFrame({"x": [0., 0., 0.]}, index=["b", "a", "b"])
    blike = bl.DataFrame({"x": plike["x"].to_numpy()},
                         index=bl.Index(plike.index.to_numpy()))
    assert bf.reindex_like(blike).to_pandas()["x"].tolist() == \
        pf.reindex_like(plike)["x"].tolist()

    podd = pd.DataFrame({"col one": [1., 2.], "a.b": [3., 4.]})
    dodd = bl.DataFrame({"col one": podd["col one"].to_numpy(),
                         "a.b": podd["a.b"].to_numpy()})
    assert dodd.eval("`col one` * 2").to_pandas().tolist() == \
        podd.eval("`col one` * 2").tolist()
    assert dodd.eval("`a.b` + `col one`").to_pandas().tolist() == \
        podd.eval("`a.b` + `col one`").tolist()


def test_r8_series_frame_sweep(bl):
    """r8 dir(pd.DataFrame/Series) sweep closures: pad/backfill
    aliases, Series.items (driver iterator), iat scalar access
    (frame (i,j) pair), case_when (one Catalyst CASE chain),
    searchsorted (one count agg; list probes share one grouped
    pass), to_string/to_markdown, rename_axis (plan-side rename),
    set_axis (position-keyed broadcast join; axis=1 = rename),
    Series.dtypes alias."""
    import pandas as pd

    ps = pd.Series([1., np.nan, 3., np.nan],
                   index=["a", "b", "c", "d"])
    s = bl.Series(ps.to_numpy(), index=bl.Index(ps.index.to_numpy()),
                  name="v")
    assert s.pad().to_pandas().tolist() == ps.ffill().tolist()
    assert s.backfill().to_pandas().fillna(-9).tolist() == \
        ps.bfill().fillna(-9).tolist()
    assert dict((k, None if v != v else v) for k, v in s.items()) == \
        dict((k, None if v != v else v) for k, v in ps.items())
    assert s.iat[0] == ps.iat[0]

    pdf = pd.DataFrame({"a": [1., 2.], "b": [3., 4.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    assert df.iat[1, 1] == pdf.iat[1, 1]
    with pytest.raises(TypeError):
        df.iat[1]
    assert s.at["a"] == ps.at["a"]
    with pytest.raises(KeyError):
        s.at["zz"]
    pl = pd.DataFrame({"x": [1., 2.]}, index=["r1", "r2"])
    bld = bl.DataFrame({"x": pl["x"].to_numpy()},
                       index=bl.Index(pl.index.to_numpy()))
    assert bld.at["r2", "x"] == pl.at["r2", "x"]

    pc = pd.Series([1., 2., 3., 4.])
    c = bl.Series(pc.to_numpy())
    assert c.case_when([(c > 3, 99.), (c > 1, 50.)]) \
        .to_pandas().tolist() == \
        pc.case_when([(pc > 3, 99.), (pc > 1, 50.)]).tolist()

    pv = pd.Series([1., 3., 5., 7.])
    v = bl.Series(pv.to_numpy())
    for side in ("left", "right"):
        assert v.searchsorted(5, side=side) == \
            pv.searchsorted(5, side=side)
        assert list(v.searchsorted([0, 5, 9], side=side)) == \
            list(pv.searchsorted([0, 5, 9], side=side))

    assert isinstance(df.to_string(), str)
    assert isinstance(s.to_string(), str)
    assert s.rename_axis("idx").to_pandas().index.name == "idx"
    assert df.rename_axis("idx").to_pandas().index.name == "idx"
    sa = s.set_axis(["w", "x", "y", "z"]).to_pandas()
    psa = ps.set_axis(["w", "x", "y", "z"])
    assert sa.index.tolist() == psa.index.tolist()
    assert sa.fillna(-9).tolist() == psa.fillna(-9).tolist()
    fa = df.set_axis(["r1", "r2"]).to_pandas()
    pfa = pdf.set_axis(["r1", "r2"])
    assert fa.index.tolist() == pfa.index.tolist()
    assert fa.values.tolist() == pfa.values.tolist()
    assert list(df.set_axis(["c1", "c2"], axis=1).to_pandas()
                .columns) == ["c1", "c2"]
    with pytest.raises(ValueError):
        s.set_axis(["one"])
    assert s.dtypes == s.dtype


def test_frame_unstack_and_record_delegations(bl):
    """DataFrame.unstack (single-data-column face over the
    Series.unstack pivot; multi-column raises toward the per-column
    composition — the engine has flat columns, not MultiIndex
    columns) + the driver-side to_html/to_latex/to_records/
    from_records materialization boundaries."""
    import numpy as np
    import pandas as pd
    import pytest
    pdf = pd.DataFrame({"a": ["x", "x", "y", "y"], "b": [1, 2, 1, 2],
                        "v": [10., 20., 30., 40.],
                        "w": [1., 2., 3., 4.]})
    d = bl.DataFrame({c: pdf[c].to_numpy() for c in pdf}) \
        .set_index(["a", "b"])
    got = d[["v"]].unstack().to_pandas().sort_index()
    want = pdf.set_index(["a", "b"])["v"].unstack().sort_index()
    assert got.values.tolist() == want.values.tolist()
    assert [str(c) for c in got.columns] == \
        [str(c) for c in want.columns]
    # r9: the multi-data-column face — ONE pivot pass carries every
    # column's F.first; pandas' MultiIndex columns flatten to their
    # string spelling str((col, value)) in col-major order
    for lv in (-1, 0):
        got = d.unstack(level=lv).to_pandas().sort_index()
        want = pdf.set_index(["a", "b"]).unstack(level=lv) \
            .sort_index()
        assert got.values.tolist() == want.values.tolist(), lv
        assert [str(c) for c in got.columns] == \
            [str(c) for c in want.columns], lv
    # missing (index, level) pairs come back NaN, like pandas
    pdf3 = pdf.iloc[:3]
    d3 = bl.DataFrame({c: pdf3[c].to_numpy() for c in pdf3}) \
        .set_index(["a", "b"])
    got = d3.unstack().to_pandas().sort_index()
    want = pdf3.set_index(["a", "b"]).unstack().sort_index()
    np.testing.assert_allclose(got.values.astype(float),
                               want.values.astype(float))
    # duplicate (index, level) pairs still raise (verify_integrity)
    pdf4 = pd.concat([pdf, pdf.iloc[[0]]])
    d4 = bl.DataFrame({c: pdf4[c].to_numpy() for c in pdf4}) \
        .set_index(["a", "b"])
    with pytest.raises(ValueError, match="duplicate"):
        d4.unstack()
    flat = d.reset_index()
    assert "<table" in flat.to_html()
    assert "tabular" in flat.to_latex()
    assert len(flat.to_records(index=False)) == 4
    fr = bl.DataFrame.from_records(
        [{"k": 1, "w": 2.5}, {"k": 2, "w": 3.5}])
    assert fr.to_pandas()["w"].tolist() == [2.5, 3.5]


def test_top_level_unique_and_to_timedelta(bl):
    """bl.unique (distributed distinct for Series, pandas for
    array-likes) and bl.to_timedelta (Series -> DayTimeInterval
    column that ADDS to timestamp columns; scalars/arrays through
    pandas on the driver)."""
    import numpy as np
    import pandas as pd
    s = bl.Series(np.array([3, 1, 3, 2]))
    assert sorted(bl.unique(s).values.tolist()) == [1, 2, 3]
    assert list(bl.unique(np.array([3, 1, 3]))) == [3, 1]
    d = bl.DataFrame(
        {"t": pd.to_datetime(["2024-01-01", "2024-01-02"]).to_numpy(),
         "d": np.array([60.0, 120.0])})
    got = (d["t"] + bl.to_timedelta(d["d"], unit="s")).to_pandas()
    assert [str(x) for x in got.tolist()] == \
        ["2024-01-01 00:01:00", "2024-01-02 00:02:00"]
    assert bl.to_timedelta(90, unit="s") == pd.Timedelta(seconds=90)


def test_r9_frame_loc_list_and_to_timedelta_str(bl):
    """r9 verdict fixes: (1) DataFrame.loc label lists route through
    the same position-tagged lookup join as Series.loc — requested
    order preserved, duplicate labels repeated, KeyError on any
    missing label (the old isin mask kept original order, deduped,
    and silently dropped misses); works on the loc[rows, cols] tuple
    face and multi-index frames (scalar list selects level 0, like
    pandas). (2) bl.to_timedelta defaults unit=None so string/offset
    inputs ("90min") pass straight through to pandas; the
    numeric-Series -> DayTimeInterval face keeps its seconds
    default."""
    import pandas as pd

    pdf = pd.DataFrame({"k": [10, 20, 30, 20],
                        "v": [1., 2., 3., 4.],
                        "w": ["a", "b", "c", "d"]}).set_index("k")
    df = bl.DataFrame({"k": np.array([10, 20, 30, 20]),
                       "v": np.array([1., 2., 3., 4.]),
                       "w": np.array(["a", "b", "c", "d"],
                                     dtype=object)}).set_index("k")
    for req in ([30, 10], [10, 10], [30, 10, 30], [20, 10]):
        got = df.loc[req].to_pandas()
        want = pdf.loc[req]
        assert got["v"].tolist() == want["v"].tolist(), req
        assert got.index.tolist() == want.index.tolist(), req
    with pytest.raises(KeyError):
        df.loc[[10, 99]]
    got = df.loc[[30, 10], "v"].to_pandas()
    assert got.tolist() == pdf.loc[[30, 10], "v"].tolist()
    # a boolean list is a positional MASK, not labels (pandas
    # length-checks it with IndexError)
    got = df.loc[[True, False, True, False]].to_pandas()
    want = pdf.loc[[True, False, True, False]]
    assert got["v"].tolist() == want["v"].tolist()
    with pytest.raises(IndexError, match="wrong length"):
        df.loc[[True, False]]
    ps_ = pd.Series([1., 2.], index=["a", "b"])
    s_ = bl.DataFrame({"k": np.array(["a", "b"], dtype=object),
                       "v": ps_.to_numpy()}).set_index("k")["v"]
    assert s_.loc[[True, False]].to_pandas().tolist() == \
        ps_.loc[[True, False]].tolist()

    pm = pd.DataFrame({"a": [1, 1, 2, 2], "b": ["x", "y", "x", "y"],
                       "v": [1., 2., 3., 4.]}).set_index(["a", "b"])
    dm = bl.DataFrame({"a": np.array([1, 1, 2, 2]),
                       "b": np.array(["x", "y", "x", "y"],
                                     dtype=object),
                       "v": np.array([1., 2., 3., 4.])}
                      ).set_index(["a", "b"])
    got = dm.loc[[2, 1]].to_pandas()
    want = pm.loc[[2, 1]]
    assert got["v"].tolist() == want["v"].tolist()
    assert got.index.tolist() == want.index.tolist()
    with pytest.raises(KeyError):
        dm.loc[[1, 9]]

    assert bl.to_timedelta("90min") == pd.to_timedelta("90min")
    assert list(bl.to_timedelta(["1h", "30min"])) == \
        list(pd.to_timedelta(["1h", "30min"]))
    assert bl.to_timedelta(90, unit="m") == pd.to_timedelta(90, unit="m")
    d = bl.DataFrame(
        {"t": pd.to_datetime(["2024-01-01"]).to_numpy(),
         "d": np.array([90.0])})
    got = (d["t"] + bl.to_timedelta(d["d"])).to_pandas()
    assert str(got.tolist()[0]) == "2024-01-01 00:01:30"


def test_series_level_ops_and_xs(bl):
    """r9 dir-sweep closes on Series: swaplevel/droplevel (metadata
    delegations through the one-column frame), xs (driver-side
    scalar fetch; duplicate labels return a Series), to_latex, and
    the Resampler.apply alias."""
    import pandas as pd
    pm = pd.Series(
        [1., 2., 3., 4.], name="v",
        index=pd.MultiIndex.from_tuples(
            [("a", 1), ("a", 2), ("b", 1), ("b", 2)],
            names=["x", "y"]))
    d = bl.DataFrame({"x": np.array(["a", "a", "b", "b"],
                                    dtype=object),
                      "y": np.array([1, 2, 1, 2]),
                      "v": np.array([1., 2., 3., 4.])}) \
        .set_index(["x", "y"])["v"]
    got = d.swaplevel().to_pandas()
    want = pm.swaplevel()
    assert list(got.index.names) == list(want.index.names)
    assert sorted(got.tolist()) == sorted(want.tolist())
    got = d.droplevel("y").to_pandas()
    want = pm.droplevel("y")
    assert got.index.name == want.index.name
    assert sorted(got.tolist()) == sorted(want.tolist())
    assert sorted(d.xs("a").to_pandas().tolist()) == [1.0, 2.0]
    ps = pd.Series([10., 20.], index=["p", "q"], name="v")
    s = bl.DataFrame({"k": np.array(["p", "q"], dtype=object),
                      "v": ps.to_numpy()}).set_index("k")["v"]
    assert s.xs("q") == ps.xs("q")
    assert "tabular" in s.to_latex()
    # reorder_levels: metadata permutation (frame + series)
    dm = bl.DataFrame({"x": np.array(["a", "b"], dtype=object),
                       "y": np.array([1, 2]),
                       "v": np.array([1., 2.])}).set_index(["x", "y"])
    pm2 = pd.DataFrame({"v": [1., 2.]},
                       index=pd.MultiIndex.from_tuples(
                           [("a", 1), ("b", 2)], names=["x", "y"]))
    got = dm.reorder_levels(["y", "x"]).to_pandas()
    want = pm2.reorder_levels(["y", "x"])
    assert list(got.index.names) == list(want.index.names)
    got = dm["v"].reorder_levels([1, 0]).to_pandas()
    assert list(got.index.names) == ["y", "x"]
    with pytest.raises(ValueError, match="permutation"):
        dm.reorder_levels(["x", "x"])
    ts = pd.date_range("2024-01-01", periods=4, freq="30min")
    d2 = bl.DataFrame({"t": ts.to_numpy(),
                       "v": np.array([1., 2., 4., 8.])})
    got = d2.resample("1h", on="t").apply("sum").to_pandas() \
        .sort_index()["v"].tolist()
    want = pd.DataFrame({"v": [1., 2., 4., 8.]}, index=ts) \
        .resample("1h").apply("sum")["v"].tolist()
    assert got == want

"""Parity of every JVM reduce face with pandas, table-driven.

Each reduction name means one thing on every face (core/reduce.py):
numeric and boolean sources reduce as f64, count/size/nunique answer
int64, non-numeric min/max keep the source type, and an empty or
all-NULL input reads sum -> 0, prod -> 1, count -> 0 (pandas'
min_count=0). The frames below carry an all-null group (``a``), a null
run, a boolean and a string column; the empty frame has no rows.
"""

import numpy as np
import pandas as pd
import pytest

KEYS = ["a", "a", "b", "b", "b", "b", "c"]
PDF = pd.DataFrame({
    "k": KEYS,
    "i": [0, 1, 0, 1, 2, 3, 0],
    "x": [np.nan, np.nan, 1.0, np.nan, np.nan, 4.0, 2.0],
    "b": [True, False, True, True, False, True, False],
    "s": ["c", "d", "z", "y", "x", "zz", "m"],
    "o": [1, 2, 3, 4, 5, 6, 7],
})
_COUNTS = ("count", "size", "nunique")


@pytest.fixture(scope="module")
def frames(bl):
    return bl.DataFrame(PDF.to_dict("list")), PDF


def _dtype(name, src=None):
    """The table's result dtype for reduction ``name``."""
    if name in _COUNTS:
        return np.dtype("int64")
    if name in ("min", "max") and src == "s":
        return np.dtype("object")
    return np.dtype("float64")


def _scalar_eq(got, want):
    if isinstance(want, str) or isinstance(got, str):
        return got == want
    if want is None or pd.isna(want):
        return got is None or pd.isna(got)
    return got is not None and not pd.isna(got) and \
        np.isclose(float(got), float(want), rtol=1e-9, atol=1e-12)


def _frame_eq(got, want, dtypes):
    """``got`` (a baloo frame or Series) matches pandas' ``want`` in
    values, row for row by label, and reads the table's ``dtypes``."""
    got = got.to_pandas()
    if isinstance(want, pd.Series):
        want = want.to_frame("v")
        got = got.to_frame("v") if isinstance(got, pd.Series) else got
        got.columns = ["v"]
    got = got.sort_index()
    want = want.sort_index()
    assert [str(i) for i in got.index] == [str(i) for i in want.index]
    assert list(got.columns) == list(want.columns)
    for c in want.columns:
        assert got[c].dtype == dtypes[c], (c, got[c].dtype)
        for g, w in zip(got[c].tolist(), want[c].tolist()):
            assert _scalar_eq(g, w), (c, got[c].tolist(), want[c].tolist())


NUM = ["i", "x", "b", "o"]
NAMES = ["min", "max", "sum", "prod", "mean", "var", "std", "count",
         "sem", "skew", "kurt"]


@pytest.mark.parametrize("name", NAMES)
def test_series_scalar_faces(frames, name):
    df, pdf = frames
    for c in ("x", "b"):
        got = getattr(df[c], name)()
        want = getattr(pdf[c], name)()
        assert _scalar_eq(got, want), (c, got, want)


@pytest.mark.parametrize("name", NAMES)
def test_frame_row_faces(frames, name):
    df, pdf = frames
    want = getattr(pdf[NUM], name)()
    _frame_eq(getattr(df[NUM], name)(), want, {"v": _dtype(name)})


def test_frame_and_series_agg_lists(frames):
    df, pdf = frames
    names = ["sum", "prod", "count", "sem", "skew"]
    got = df[["x", "b"]].agg(names)
    want = pdf[["x", "b"]].agg(names).astype("float64")
    _frame_eq(got, want, {"x": np.float64, "b": np.float64})
    _frame_eq(df["x"].agg(names), pdf["x"].agg(names).astype("float64"),
              {"v": np.float64})


def test_frame_count_is_int64(frames):
    df, pdf = frames
    _frame_eq(df[["x", "i"]].count(), pdf[["x", "i"]].count(),
              {"v": np.int64})


GB_NAMES = ["min", "max", "sum", "prod", "mean", "var", "std", "count",
            "median", "sem", "skew"]


@pytest.mark.parametrize("name", GB_NAMES)
def test_groupby_faces(frames, name):
    """The named groupby method (median has its own quantile face),
    the dict and the named-tuple agg forms, all over the all-null
    group ``a``."""
    df, pdf = frames
    gb, pg = df.groupby("k"), pdf.groupby("k")
    want = getattr(pg["x"], name)()
    if name != "median":
        _frame_eq(getattr(gb[["x"]], name)()[["x"]], want.to_frame("x"),
                  {"x": _dtype(name)})
    _frame_eq(gb.agg({"x": name}), want.to_frame(f"x_{name}"),
              {f"x_{name}": _dtype(name)})
    _frame_eq(gb.agg(t=("x", name)), want.to_frame("t"),
              {"t": _dtype(name)})


def test_groupby_agg_list(frames):
    df, pdf = frames
    pg = pdf.groupby("k")
    want = pd.DataFrame({"x_sum": pg["x"].sum(), "x_skew": pg["x"].skew()})
    _frame_eq(df.groupby("k").agg({"x": ["sum", "skew"]}), want,
              {"x_sum": np.float64, "x_skew": np.float64})


def test_groupby_string_min_max(frames):
    df, pdf = frames
    pg = pdf.groupby("k")
    want = pd.DataFrame({"s_min": pg["s"].min(), "s_max": pg["s"].max()})
    _frame_eq(df.groupby("k").agg({"s": ["min", "max"]}), want,
              {"s_min": np.object_, "s_max": np.object_})


@pytest.mark.parametrize("name", ["sum", "prod", "count", "sem", "mean"])
def test_groupby_transform(frames, name):
    df, pdf = frames
    got = df.groupby("k").transform(name, ["x"]).to_pandas()
    want = pdf.groupby("k")["x"].transform(name)
    assert got["x_" + name].dtype == _dtype(name)
    for g, w in zip(got["x_" + name].tolist(), want.tolist()):
        assert _scalar_eq(g, w), (name, got["x_" + name].tolist(),
                                  want.tolist())


def test_groupby_nunique_sem_describe(frames):
    df, pdf = frames
    gb, pg = df.groupby("k"), pdf.groupby("k")
    _frame_eq(gb.nunique(["x", "s"]), pg[["x", "s"]].nunique(),
              {"x": np.int64, "s": np.int64})
    _frame_eq(gb.sem(ddof=0)[["x"]], pg[["x"]].sem(ddof=0),
              {"x": np.float64})
    got = gb[["x"]].describe()
    want = pg["x"].describe()
    want.columns = [f"x_{c}" for c in want.columns]
    _frame_eq(got, want, {c: np.float64 for c in want.columns})


def test_groupby_cumulative_and_rolling(frames):
    df, pdf = frames
    gb, pg = df.groupby("k"), pdf.groupby("k")
    for kind in ("cumsum", "cumprod", "cummin", "cummax"):
        got = getattr(gb, kind)().to_pandas()["x"].tolist()
        want = getattr(pg["x"], kind)().tolist()
        assert all(_scalar_eq(g, w) for g, w in zip(got, want)), kind
    # a running extreme keeps the source dtype, as in pandas
    for kind in ("cummin", "cummax"):
        assert getattr(gb, kind)().to_pandas()["o"].dtype == np.int64
    for stat in ("min", "max", "sum"):
        got = getattr(gb.rolling(2, min_periods=1), stat)() \
            .to_pandas()["x"].tolist()
        want = getattr(pg["x"].rolling(2, min_periods=1), stat)().tolist()
        assert all(_scalar_eq(g, w) for g, w in zip(got, want)), stat


def test_pivot_table_keeps_all_null_cells(frames):
    df, pdf = frames
    got = df.pivot_table(values="x", index="k", columns="i",
                         aggfunc="sum").to_pandas()
    want = pdf.pivot_table(values="x", index="k", columns="i",
                           aggfunc="sum")
    assert got.loc["a"].tolist()[:2] == [0.0, 0.0]
    want.columns = [str(c) for c in want.columns]
    got.columns = [str(c) for c in got.columns]
    _frame_eq_pd(got, want)
    piv = df.pivot("k", "i", "x").to_pandas().sort_index()
    assert piv.loc["a"].tolist()[:2] == [0.0, 0.0]
    assert np.isnan(piv.loc["a"].tolist()[2])


def _frame_eq_pd(got, want):
    got, want = got.sort_index(), want.sort_index()
    assert list(got.columns) == list(want.columns)
    for c in want.columns:
        for g, w in zip(got[c].tolist(), want[c].tolist()):
            assert _scalar_eq(g, w), (c, got[c].tolist(), want[c].tolist())


def test_multidim_sums_read_identity(frames):
    """cube / rollup / grouping-set sums of the all-null group read 0,
    like every other sum face."""
    df, _ = frames
    for out in (df.cube("k", {"x": ["sum", "count"]}),
                df.rollup("k", {"x": ["sum", "count"]}),
                df.grouping_sets([["k"]], {"x": ["sum", "count"]})):
        got = out.to_pandas().reset_index()
        row = got[got["k"] == "a"]
        assert row["x_sum"].tolist() == [0.0]
        assert row["x_count"].tolist() == [0]
        assert got["x_count"].dtype == np.int64


def test_running_and_rolling_windows(frames):
    df, pdf = frames
    got = df.with_running("x", "o", partition_by="k").to_pandas()
    want = pdf.groupby("k")["x"].expanding().sum().tolist()
    assert all(_scalar_eq(g, w) for g, w in
               zip(got["running_sum"].tolist(), want))
    got = df.with_rolling("x", 2, "o", partition_by="k", agg="sum",
                          min_periods=0).to_pandas()
    want = pdf.groupby("k")["x"].rolling(2, min_periods=0).sum().tolist()
    assert all(_scalar_eq(g, w) for g, w in
               zip(got["rolling_sum"].tolist(), want))


def test_resample_faces():
    import baloo_spark as bl
    t = pd.date_range("2024-01-01", periods=6, freq="30min")
    pdf = pd.DataFrame({"t": t, "x": [1.0, np.nan, np.nan, np.nan,
                                      3.0, 4.0]})
    df = bl.DataFrame(pdf.to_dict("list"))
    pr = pdf.set_index("t").resample("1h")
    for name in ("sum", "prod", "count", "mean", "sem", "median",
                 "nunique"):
        got = getattr(df.resample("1h", on="t"), name)().to_pandas()
        want = getattr(pr, name)()
        assert got["x"].dtype == _dtype(name), name
        _frame_eq_pd(got[["x"]].reset_index(drop=True),
                     want[["x"]].reset_index(drop=True))


def test_empty_frame(bl):
    e = bl.DataFrame({"x": np.array([], dtype=float)})
    pe = pd.DataFrame({"x": np.array([], dtype=float)})
    for name in ("sum", "prod", "count", "mean", "min"):
        assert _scalar_eq(getattr(e["x"], name)(),
                          getattr(pe["x"], name)()), name
        assert _scalar_eq(getattr(e, name)().to_pandas()["x"],
                          getattr(pe, name)()["x"]), name
    assert len(e.assign(k=e["x"]).groupby("k").sum().to_pandas()) == 0


def test_probe_groupby_edges(bl):
    """Singleton var/std, an all-null group, null-skipping first/last,
    idxmax ties, nunique with nulls and the prod identity."""
    keys = ["a", "a", "a", "b", "c", "c", "d", "d", "e"]
    vals = [1.0, np.nan, 3.0, 7.0, np.nan, np.nan, 5.0, 5.0, 2.0]
    df = bl.DataFrame({"k": np.array(keys, dtype=object),
                       "v": np.array(vals)},
                      index=np.arange(len(keys), dtype=np.int64))
    pdf = pd.DataFrame({"k": keys, "v": vals})
    for name in ("sum", "prod", "mean", "min", "max", "count", "var",
                 "std", "first", "last", "nunique", "idxmax", "idxmin",
                 "median", "size"):
        got = getattr(df.groupby("k"), name)().to_pandas()
        want = (pdf.groupby("k").size() if name == "size"
                else getattr(pdf.groupby("k")["v"], name)())
        got = got[got.columns[0]]
        assert sorted(got.index.tolist()) == sorted(want.index.tolist())
        for k in want.index:
            assert _scalar_eq(got[k], want[k]), (name, k, got[k], want[k])


_FACES = {
    "Series.agg": lambda df: df["x"].agg(["nope"]),
    "DataFrame.agg": lambda df: df.agg(["nope"]),
    "DataFrame.apply": lambda df: df.apply("nope"),
    "groupby.agg dict": lambda df: df.groupby("k").agg({"x": "nope"}),
    "groupby.agg named": lambda df: df.groupby("k").agg(t=("x", "nope")),
    "groupby.transform": lambda df: df.groupby("k").transform("nope"),
    "pivot_table": lambda df: df.pivot_table(
        values="x", index="k", columns="i", aggfunc="nope"),
    "cube": lambda df: df.cube("k", {"x": "nope"}),
    "with_running": lambda df: df.with_running("x", "o", agg="nope"),
    "with_rolling": lambda df: df.with_rolling(
        "x", 2, "o", partition_by="k", agg="nope"),
}


@pytest.mark.parametrize("face", list(_FACES))
def test_unknown_reduction_is_one_value_error(frames, face):
    df, _ = frames
    with pytest.raises(ValueError, match=r"unsupported aggregation: "
                                         r"'nope'; supported: min, max"):
        _FACES[face](df)


def test_series_constructor_keeps_index_name(bl):
    s = bl.Series([1., 2.], index=bl.Index([5, 6], name="k"), name="v")
    assert s.reset_index().to_pandas().columns.tolist() == ["k", "v"]
    p = bl.Series(pd.Series([1., 2.], index=pd.Index([5, 6], name="k")),
                  name="v")
    assert p.to_pandas().index.name == "k"

"""The Series faces that have a DataFrame twin run the frame body
(``Series._frame(_LIFT)`` / ``Series._as_frame()`` then
``Series._unwrap``): each face matches pandas on BOTH faces, and the
positional faces build no more Spark jobs than their frame twins."""

import warnings

import numpy as np
import pandas as pd
import pytest


def _jobs(spark, fn, group):
    """(number of Spark jobs ``fn()`` ran, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), res


def _build_action(spark, op, group):
    """(build jobs, action jobs, pandas result) of one lazy op."""
    build, lazy = _jobs(spark, op, f"{group}-build")
    action, res = _jobs(spark, lazy.to_pandas, f"{group}-action")
    return build, action, res


def test_positional_faces_build_no_more_jobs_than_frame(bl, spark):
    """On a 20k-row frame sorted by a unique data column, Series
    iloc slices, tail and drop_duplicates cost no more build+action
    jobs than the frame twins (the Series copies used to miss the
    frame's offset+limit and reverse-order paths), with pandas'
    values in pandas' order."""
    n = 20_000
    rng = np.random.RandomState(12)
    k = rng.permutation(n).astype(np.int64)
    y = rng.randint(0, 50, n).astype(np.int64)
    df = bl.DataFrame({"k": k, "y": y}).sort_values("k")
    ps = pd.DataFrame({"k": k, "y": y}).sort_values("k")["y"]
    cases = [
        ("iloc", lambda o: o.iloc[100:300], ps.iloc[100:300]),
        ("tail", lambda o: o.tail(7), ps.tail(7)),
        ("dedup", lambda o: o.drop_duplicates(keep="first"),
         ps.drop_duplicates(keep="first")),
    ]
    for name, op, want in cases:
        sb, sa, got = _build_action(spark, lambda: op(df["y"]),
                                    f"lift-s-{name}")
        fb, fa, fgot = _build_action(spark, lambda: op(df[["y"]]),
                                     f"lift-f-{name}")
        assert sb + sa <= fb + fa, (name, (sb, sa), (fb, fa))
        assert got.tolist() == want.tolist(), name
        assert fgot["y"].tolist() == want.tolist(), name


def test_lifted_faces_keep_pandas_row_order(bl):
    """20k rows over several partitions: ``duplicated`` on a frame
    sorted by a data column marks pandas' rows (the Series copy
    numbered the rows in shuffle order), and tied ``nlargest`` /
    ``nsmallest`` keep the earliest rows (the Series copy kept
    arbitrary ones)."""
    rng = np.random.RandomState(12)
    k = rng.permutation(20_000).astype(np.int64)
    y = rng.randint(0, 50, 20_000).astype(np.int64)
    df = bl.DataFrame({"k": k, "y": y})
    pdf = pd.DataFrame({"k": k, "y": y})
    assert df.sort_values("k")["y"].duplicated().to_pandas().tolist() \
        == pdf.sort_values("k")["y"].duplicated().tolist()
    s, ps = df.set_index("k")["y"], pdf.set_index("k")["y"]
    for fn in ("nlargest", "nsmallest"):
        got = getattr(s, fn)(5).to_pandas()
        assert got.index.tolist() == getattr(ps, fn)(5).index.tolist(), fn


@pytest.mark.parametrize("keep", ["first", "last", False])
def test_drop_duplicates_row_labels_and_order(bl, keep):
    """Both faces keep pandas' row labels in row order (the frame
    body returned the kept rows in value order)."""
    vals = [5, 3, 5, 1, 3, 2]
    want = pd.DataFrame({"y": vals})[["y"]].drop_duplicates(keep=keep)
    got = bl.DataFrame({"y": vals})[["y"]].drop_duplicates(
        keep=keep).to_pandas()
    assert got.index.tolist() == want.index.tolist()
    assert got["y"].tolist() == want["y"].tolist()
    s = bl.DataFrame({"y": vals})["y"].drop_duplicates(keep=keep) \
        .to_pandas()
    assert s.index.tolist() == want.index.tolist()
    assert s.tolist() == want["y"].tolist()


def test_frame_ctor_floors_ns_timestamps_on_arrow(bl):
    """datetime64[ns] columns, naive and tz-aware, with sub-µs parts
    (pre-1970 too) build on the Arrow path — no fallback warning —
    with the row path's values: the sub-µs digits dropped."""
    t = pd.DatetimeIndex(
        pd.to_datetime(["2024-01-01 00:00:00", "1969-12-31 23:00:00",
                        "2024-03-10 00:00:00"], utc=True)
        + pd.to_timedelta([2.333333333, 0.9999996666, 1.5], "h")
    ).append(pd.DatetimeIndex([pd.NaT]).tz_localize("UTC"))
    naive = t.tz_localize(None)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = bl.DataFrame(pd.DataFrame(
            {"t": t, "n": naive, "x": np.arange(4.0)})).to_pandas()
    assert not [w for w in caught if "Arrow" in str(w.message)]
    want = ["2024-01-01 02:19:59.999998", "1969-12-31 23:59:59.998799",
            "2024-03-10 01:30:00", "NaT"]
    for c in ("t", "n"):
        col = pd.to_datetime(out[c])
        if col.dt.tz is not None:
            col = col.dt.tz_localize(None)
        assert [str(v) for v in col] == want, c


def _norm(x):
    """A result as plain comparable data: (index labels, values) for
    Series and one-column frames, NaN spelled None."""
    if hasattr(x, "to_pandas"):
        x = x.to_pandas()
    if isinstance(x, tuple):
        return tuple(_norm(v) for v in x)
    if isinstance(x, pd.DataFrame):
        assert x.shape[1] == 1, x.columns
        x = x.iloc[:, 0]
    def nan(v):
        if isinstance(v, float):
            return None if v != v else round(v, 9)
        return v


    if isinstance(x, pd.Series):
        return ([i[0] if isinstance(i, tuple) and len(i) == 1 else i
                 for i in x.index], [nan(v) for v in x.tolist()])
    return nan(x.item() if hasattr(x, "item") else x)


def _updated(o, other):
    if hasattr(o, "_sdf"):
        return o.update(other)
    o = o.copy()
    o.update(other)
    return o


_OTHER = {"v": [7., np.nan, 4.], "k": [10, 11, 20]}
_LIKE = {"v": [0., 0., 0.], "k": [17, 10, 99]}

# (name, op(obj, other, like)) — the same call on the Series face
# (obj = frame["v"]) and on the DataFrame face (obj = frame[["v"]])
_CASES = [
    ("iloc", lambda o, x, l: o.iloc[2:6]),
    ("iloc_list", lambda o, x, l: o.iloc[[5, 0, 2]]),
    ("head", lambda o, x, l: o.head(3)),
    ("tail", lambda o, x, l: o.tail(3)),
    ("truncate", lambda o, x, l: o.truncate(11, 15)),
    ("drop_duplicates", lambda o, x, l: o.drop_duplicates(keep="first")),
    ("asof", lambda o, x, l: o.asof([15, 12, 9])),
    ("reindex_like", lambda o, x, l: o.reindex_like(l)),
    ("reindex", lambda o, x, l: o.reindex([12, 99, 10])),
    ("combine_first", lambda o, x, l: o.combine_first(x)),
    ("combine", lambda o, x, l: o.combine(x, lambda a, b: a + b,
                                          fill_value=0.0)),
    ("align", lambda o, x, l: o.align(x)),
    ("align_inner", lambda o, x, l: o.align(x, join="inner")),
    ("update", lambda o, x, l: _updated(o, x)),
    ("xs", lambda o, x, l: o.xs(12)),
    ("loc_list", lambda o, x, l: o.loc[[13, 10, 13]]),
    ("quantile", lambda o, x, l: o.quantile(0.3)),
    ("median", lambda o, x, l: o.median()),
    ("replace", lambda o, x, l: o.replace({3.0: 30.0, 5.0: np.nan})),
    ("replace_list", lambda o, x, l: o.replace([1.0, 2.0], 0.0)),
    ("nunique", lambda o, x, l: o.nunique()),
    ("nunique_na", lambda o, x, l: o.nunique(dropna=False)),
    ("first_valid", lambda o, x, l: o.first_valid_index()),
    ("last_valid", lambda o, x, l: o.last_valid_index()),
    ("rename_axis", lambda o, x, l: o.rename_axis("kk")),
    ("set_axis", lambda o, x, l: o.set_axis(list("abcdefgh"))),
    ("sem", lambda o, x, l: o.sem()),
    ("skew", lambda o, x, l: o.skew()),
    ("kurt", lambda o, x, l: o.kurt()),
    ("any", lambda o, x, l: o.any()),
    ("all", lambda o, x, l: o.all()),
    ("dropna", lambda o, x, l: o.dropna()),
    ("duplicated", lambda o, x, l: o.duplicated()),
]


def test_lifted_faces_match_pandas_on_both_faces(bl):
    vals = [3., np.nan, 5., 3., 1., 8., 5., 2.]
    keys = np.arange(10, 18, dtype=np.int64)

    def pair(d):
        b = bl.DataFrame({"k": np.asarray(d["k"], dtype=np.int64),
                          "v": np.asarray(d["v"])}).set_index("k")
        return b, pd.DataFrame({"v": d["v"]},
                               index=pd.Index(d["k"], name="k"))

    bdf, pdf = pair({"k": keys, "v": vals})
    bx, px = pair(_OTHER)
    bl_, pl = pair(_LIKE)
    bad = []
    for name, op in _CASES:
        for face, pick in (("series", lambda f: f["v"]),
                           ("frame", lambda f: f[["v"]])):
            got = _norm(op(pick(bdf), pick(bx), pick(bl_)))
            want = _norm(op(pick(pdf), pick(px), pick(pl)))
            if got != want:
                bad.append((face, name, got, want))
    assert not bad, bad


def test_lifted_value_counts_nlargest_explode_unstack(bl):
    """The faces whose frame call differs from the Series call."""
    vals = [3., np.nan, 5., 3., 1., 8., 5., 3.]
    ps = pd.Series(vals, name="v")
    b = bl.DataFrame({"v": np.array(vals)})
    vc = b["v"].value_counts().to_pandas()
    assert sorted(zip(vc.index, vc)) == sorted(
        zip(ps.value_counts().index, ps.value_counts()))
    assert vc.index.name == ps.value_counts().index.name == "v"
    fvc = b[["v"]].value_counts().to_pandas()
    pvc = ps.to_frame().value_counts()
    assert sorted(zip(fvc.index, fvc)) == sorted(
        zip([i[0] for i in pvc.index], pvc))
    assert bl.Series(np.array([1, 1, 2])).value_counts() \
        .to_pandas().index.name is None
    for fn, kw in (("nlargest", {}), ("nsmallest", {})):
        got = getattr(b["v"], fn)(3, **kw).to_pandas()
        want = getattr(ps, fn)(3)
        assert got.index.tolist() == want.index.tolist(), fn
        assert got.tolist() == want.tolist(), fn
        fgot = getattr(b, fn)(3, "v").to_pandas()
        fwant = getattr(ps.to_frame(), fn)(3, "v")
        assert fgot.index.tolist() == fwant.index.tolist(), fn
    lists = np.array([[1, 2], [3], [], None], dtype=object)
    pe = pd.Series([[1, 2], [3], [], None], name="a")
    se = bl.Series(lists, name="a").explode().to_pandas()
    fe = bl.DataFrame({"a": lists}).explode("a").to_pandas()
    for got in (se, fe["a"]):
        assert got.index.tolist() == pe.explode().index.tolist()
        assert got.fillna(-9).tolist() == \
            pe.explode().fillna(-9).astype(float).tolist()
    m = pd.DataFrame({"a": ["x", "x", "y", "y"], "b": [1, 2, 1, 2],
                      "v": [1., 2., 3., 4.]}).set_index(["a", "b"])
    bm = bl.DataFrame({"a": np.array(["x", "x", "y", "y"], dtype=object),
                       "b": np.array([1, 2, 1, 2]),
                       "v": np.array([1., 2., 3., 4.])}) \
        .set_index(["a", "b"])
    want = m["v"].unstack()
    for got in (bm["v"].unstack().to_pandas(),
                bm[["v"]].unstack().to_pandas()):
        assert got.index.tolist() == want.index.tolist()
        assert got.values.tolist() == want.values.tolist()
        assert [str(c) for c in got.columns] == \
            [str(c) for c in want.columns]

"""GroupBy tests (mirrors reference tests/core/test_group.py:10-56;
order-insensitive comparison, reference output order is arbitrary)."""

import numpy as np
import pytest


def by_key(df, key="b"):
    pdf = df.to_pandas().reset_index()
    return {r[key]: r for r in pdf.to_dict("records")}


def test_groupby_sum(df_dupl):
    g = by_key(df_dupl.groupby("b").sum())
    assert g[4]["c"] == 1.0 and g[5]["c"] == 5.0 and g[6]["c"] == 9.0


def test_groupby_mean_var_std(df_dupl):
    g = by_key(df_dupl.groupby("b").mean())
    assert g[5]["c"] == 2.5 and g[6]["c"] == 4.5
    v = by_key(df_dupl.groupby("b").var())
    assert v[5]["c"] == pytest.approx(0.5)  # sample var
    s = by_key(df_dupl.groupby("b").std())
    assert s[5]["c"] == pytest.approx(np.sqrt(0.5))


def test_groupby_min_max_prod(df_dupl):
    assert by_key(df_dupl.groupby("b").min())[5]["c"] == 2.0
    assert by_key(df_dupl.groupby("b").max())[5]["c"] == 3.0
    assert by_key(df_dupl.groupby("b").prod())[6]["c"] == 20.0


def test_groupby_size(df_dupl):
    g = by_key(df_dupl.groupby("b").size())
    assert g[4]["size"] == 1 and g[5]["size"] == 2 and g[6]["size"] == 2


def test_groupby_multikey(df_dupl):
    out = df_dupl.groupby(["a", "b"]).sum().to_pandas().reset_index()
    assert len(out) == 4
    row = out[(out["a"] == 1.0) & (out["b"] == 5)].iloc[0]
    assert row["c"] == 5.0


def test_groupby_keys_become_index(df_dupl):
    out = df_dupl.groupby(["a", "b"]).sum()
    assert out.index_names == ["a", "b"]


def test_groupby_agg_dict(df_dupl):
    out = df_dupl.groupby("b").agg({"c": ["sum", "mean"]}).to_pandas().reset_index()
    row = out[out["b"] == 5].iloc[0]
    assert row["c_sum"] == 5.0 and row["c_mean"] == 2.5


def test_groupby_all_columns_raises(df_dupl, bl):
    with pytest.raises(ValueError):
        df_dupl.groupby(["a", "b", "c"])  # frame.py:1092-1093


def test_with_zscore_matches_grouped_map(bl, spark):
    # the declarative window twin must agree with the applyInPandas
    # path (same math the grouped_zscore driver query proves vs DuckDB)
    import numpy as np
    rng = np.random.default_rng(7)
    df = bl.DataFrame({
        "g": np.repeat(["a", "b", "c"], 40),
        "v": rng.normal(10, 3, 120),
    })
    native = df.with_zscore("v", by="g").to_spark() \
        .select("g", "v", "z").toPandas()

    def z(pdf):
        out = pdf[["g", "v"]].copy()
        out["z"] = (pdf["v"] - pdf["v"].mean()) / pdf["v"].std(ddof=1)
        return out

    udf = df.groupby("g").apply(z, "g STRING, v DOUBLE, z DOUBLE") \
        .to_spark().toPandas()
    lhs = native.sort_values(["g", "v"]).reset_index(drop=True)
    rhs = udf.sort_values(["g", "v"]).reset_index(drop=True)
    assert np.allclose(lhs["z"], rhs["z"], atol=1e-9)


def test_global_ordered_ops_are_partition_safe(bl, spark):
    """Round 3: with_rank / with_running / un-keyed asof_join no
    longer fall back to a single-partition window (they route through
    the plans/ordinal two-pass schemes), so none of them may emit a
    ScaleWarning — the inverse of the r2 assertion."""
    import warnings

    import numpy as np
    from baloo_spark.plans import ScaleWarning
    df = bl.DataFrame({"a": np.arange(10), "b": np.arange(10) % 3})
    from baloo_spark.operators.joins import asof_join
    sdf = df.to_spark().withColumn(
        "ts", __import__("pyspark").sql.functions.current_timestamp())
    with warnings.catch_warnings():
        warnings.simplefilter("error", category=ScaleWarning)
        assert df.with_rank("a").to_spark().count() == 10
        assert df.with_running("a", order_by="a").to_spark().count() == 10
        assert asof_join(sdf, sdf, on="ts").count() == 10


def test_groupby_transform_matches_pandas(bl):
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"g": ["a", "a", "b", "b", "b"],
                        "v": [1.0, 3.0, 10.0, 20.0, 30.0]})
    df = bl.DataFrame({"g": pdf["g"].to_numpy(), "v": pdf["v"].to_numpy()})
    out = df.groupby("g").transform("mean").to_pandas()
    want = pdf.assign(v_mean=pdf.groupby("g")["v"].transform("mean"))
    assert out["v_mean"].tolist() == want["v_mean"].tolist()
    # row count unchanged, original columns intact
    assert out["v"].tolist() == pdf["v"].tolist()


def test_groupby_quantile_median_match_pandas(bl):
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(21)
    pdf = pd.DataFrame({"g": rng.randint(0, 5, 400),
                        "v": rng.randn(400),
                        "w": rng.uniform(0, 10, 400)})
    df = bl.DataFrame({c: pdf[c].to_numpy() for c in pdf})
    got = (df.groupby("g").quantile(0.25).reset_index().to_pandas()
           .set_index("g").sort_index())
    want = pdf.groupby("g").quantile(0.25, interpolation="linear")
    for g in range(5):
        assert abs(got.loc[g, "v_p25"] - want.loc[g, "v"]) < 1e-9
        assert abs(got.loc[g, "w_p25"] - want.loc[g, "w"]) < 1e-9
    med = (df.groupby("g").median("v").reset_index().to_pandas()
           .set_index("g").sort_index())
    wmed = pdf.groupby("g")["v"].median()
    for g in range(5):
        assert abs(med.loc[g, "v_p50"] - wmed.loc[g]) < 1e-9


def test_groupby_filter_sql_and_callable(spark):
    import baloo_spark as bl
    df = bl.DataFrame({"k": ["a", "a", "b", "b", "c"],
                       "x": [1.0, 2.0, 10.0, 20.0, 3.0]})
    # HAVING-style string predicate: groups with sum(x) > 5
    got = df.groupby("k").filter("sum(x) > 5").to_pandas()
    assert sorted(got["k"].tolist()) == ["b", "b"]
    # callable flavor (Arrow escape hatch)
    got2 = df.groupby("k").filter(lambda g: g["x"].mean() < 5).to_pandas()
    assert sorted(got2["k"].unique().tolist()) == ["a", "c"]
    assert len(got2) == 3


def test_groupby_filter_plan_is_having_rewrite(spark):
    import io
    from contextlib import redirect_stdout

    import baloo_spark as bl
    df = bl.DataFrame.from_spark(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"))
    out = df.groupby("l_orderkey").filter("sum(l_quantity) > 300")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.to_spark().explain("formatted")
    plan = buf.getvalue()
    # string flavor stays JVM-side: semi join + hash agg, no Python
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_groupby_dropna_matches_pandas(bl):
    import numpy as np
    import pandas as pd
    df = bl.DataFrame({"g": np.array(["a", None, "a", "b"]),
                       "v": np.array([1., 2., 3., 4.])})
    pdf = pd.DataFrame({"g": ["a", None, "a", "b"],
                        "v": [1., 2., 3., 4.]})
    got = {r["g"]: r["v"] for r in
           df.groupby("g").sum().to_spark(include_index=True).collect()}
    want = pdf.groupby("g")["v"].sum().to_dict()
    assert got == want                       # no NULL group
    kept = {r["g"]: r["v"] for r in
            df.groupby("g", dropna=False).sum()
            .to_spark(include_index=True).collect()}
    assert kept == {**want, None: 2.0}       # SQL face keeps it


def test_groupby_first_last_nunique_cumcount_idx(bl):
    """r5 probe batch: positional groupby methods vs pandas."""
    import numpy as np
    import pandas as pd
    vals = {"k": [1, 1, 1, 2, 2], "v": [np.nan, 5., 7., 4., np.nan],
            "w": [1., 1., 2., 3., 3.]}
    df = bl.DataFrame({k: np.array(v) for k, v in vals.items()})
    pdf = pd.DataFrame(vals)

    f = df.groupby("k").first().reset_index().to_pandas().sort_values("k")
    pf = pdf.groupby("k", as_index=False).first()
    assert f["v"].tolist() == pf["v"].tolist() == [5.0, 4.0]

    l = df.groupby("k").last().reset_index().to_pandas().sort_values("k")
    pl = pdf.groupby("k", as_index=False).last()
    assert l["v"].tolist() == pl["v"].tolist() == [7.0, 4.0]

    nu = df.groupby("k").nunique().reset_index().to_pandas().sort_values("k")
    pnu = pdf.groupby("k", as_index=False).nunique()
    assert nu["v"].tolist() == pnu["v"].tolist()
    assert nu["w"].tolist() == pnu["w"].tolist()

    cc = df.groupby("k").cumcount().to_pandas().tolist()
    assert cc == pdf.groupby("k").cumcount().tolist()

    im = df.groupby("k").idxmax(cols=["v"]).reset_index() \
        .to_pandas().sort_values("k")
    pim = pdf.groupby("k")["v"].idxmax()
    assert im["v"].tolist() == pim.tolist() == [2, 3]
    # ties -> first occurrence (w has a tie in each group)
    it = df.groupby("k").idxmax(cols=["w"]).reset_index() \
        .to_pandas().sort_values("k")
    pit = pdf.groupby("k")["w"].idxmax()
    assert it["w"].tolist() == pit.tolist()

    imn = df.groupby("k").idxmin(cols=["w"]).reset_index() \
        .to_pandas().sort_values("k")
    assert imn["w"].tolist() == pdf.groupby("k")["w"].idxmin().tolist()


def test_groupby_allnull_group_edges_parity(bl):
    """r5 continuation probe: all-null groups — sum/prod give the
    pandas min_count=0 identity (0/1, like the Series level already
    did), idxmax/idxmin give NULL instead of an arbitrary row."""
    import numpy as np
    import pandas as pd
    keys = ["a", "a", "c", "c", "d", "d"]
    vals = [1.0, np.nan, np.nan, np.nan, 5.0, 5.0]
    df = bl.DataFrame({"k": np.array(keys, dtype=object),
                       "v": np.array(vals)},
                      index=np.arange(6, dtype=np.int64))
    pdf = pd.DataFrame({"k": keys, "v": vals})
    for op in ("sum", "prod", "idxmax", "idxmin"):
        got = getattr(df.groupby("k"), op)().to_pandas()["v"]
        want = getattr(pdf.groupby("k")["v"], op)()
        got = {k: ("<N>" if pd.isna(v) else float(v)) for k, v in got.items()}
        want = {k: ("<N>" if pd.isna(v) else float(v)) for k, v in want.items()}
        assert got == want, (op, got, want)


def test_groupby_skew_kurt_bias_corrected(bl):
    """groupby skew/kurt: Spark's population g1/g2 plus the pandas
    bias corrections as column arithmetic — one hash-agg shuffle.
    n<3 (skew) / n<4 (kurt) -> NULL; zero-variance groups -> 0."""
    import numpy as np
    import pandas as pd
    keys = ["a"] * 5 + ["b"] * 2 + ["c"] * 6 + ["d"] * 4
    vals = [1., 2., 3., 4., 10., 5., 6.,
            2., 2., 2., 2., 2., 2., 1., np.nan, 4., 9.]
    df = bl.DataFrame({"k": np.array(keys, dtype=object),
                       "v": np.array(vals)},
                      index=np.arange(len(keys), dtype=np.int64))
    pdf = pd.DataFrame({"k": keys, "v": vals})
    got_s = df.groupby("k").skew().to_pandas()["v"]
    want_s = pdf.groupby("k")["v"].skew()
    got_k = df.groupby("k").kurt().to_pandas()["v"]
    want_k = pdf.groupby("k")["v"].apply(pd.Series.kurt)
    for got, want in ((got_s, want_s), (got_k, want_k)):
        for k in want.index:
            if pd.isna(want[k]):
                assert pd.isna(got[k]), (k, got[k], want[k])
            else:
                assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_groupby_column_selection(bl):
    """pandas df.groupby(k)['v'] / [['v','w']]: later aggregations
    only see the selected value columns (lazy projection narrowing)."""
    import numpy as np
    import pandas as pd
    import pytest
    d = {"k": np.array(["a", "a", "b"], dtype=object),
         "v": np.array([1., 2., 3.]), "w": np.array([10., 20., 30.])}
    df = bl.DataFrame(d, index=np.arange(3, dtype=np.int64))
    pdf = pd.DataFrame(d)
    g = df.groupby("k")["v"].sum().to_pandas()
    assert g.columns.tolist() == ["v"]
    assert dict(zip(g.index, g["v"])) == dict(pdf.groupby("k")["v"].sum())
    g2 = df.groupby("k")[["v", "w"]].mean().to_pandas()
    assert sorted(g2.columns.tolist()) == ["v", "w"]
    with pytest.raises(KeyError):
        df.groupby("k")["zz"]


def test_groupby_rolling_matches_pandas(bl):
    """groupby(k).rolling(w): per-group trailing windows, aligned
    row-for-row with the input; pandas min_periods gating (count()
    gates on window fullness, the rest on non-null observations)."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({
        "g": ["a", "a", "b", "a", "b", "b", "a", "b", "a", "b"],
        "v": [1.0, 2.0, np.nan, 4.0, 5.0, np.nan, 7.0, 8.0, 9.0, 10.0],
        "u": [3.0, np.nan, 1.0, 2.0, np.nan, 6.0, 5.0, np.nan, 4.0, 0.5],
    })
    df = bl.DataFrame(pdf.to_dict("list"))
    for w, mp in [(3, None), (3, 1), (2, 2)]:
        for agg in ["sum", "mean", "count", "min", "max", "var", "std"]:
            ours = getattr(df.groupby("g").rolling(w, min_periods=mp),
                           agg)().to_pandas().reset_index(drop=True)
            r = pdf.groupby("g")[["v", "u"]].rolling(w, min_periods=mp)
            want = (getattr(r, agg)()
                    .reset_index(level=0, drop=True).sort_index())
            for c in ("v", "u"):
                np.testing.assert_allclose(
                    ours[c].fillna(-9e9).to_numpy(dtype=float),
                    want[c].fillna(-9e9).to_numpy(dtype=float),
                    rtol=1e-9, err_msg=f"w={w} mp={mp} {agg} {c}")
    import pytest
    with pytest.raises(ValueError):
        df.groupby("g").rolling(0)


def test_groupby_expanding_matches_pandas(bl):
    """groupby(k).expanding(): per-group unbounded-preceding windows,
    one Window node for all value columns."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"g": ["a", "a", "b", "a", "b", "b"],
                        "v": [1.0, np.nan, 2.0, 5.0, np.nan, 3.0],
                        "u": [2., 1., np.nan, 0., 4., 6.]})
    df = bl.DataFrame(pdf.to_dict("list"))
    for mp in (1, 2):
        for agg in ("sum", "mean", "count", "min", "max", "var", "std"):
            got = getattr(df.groupby("g").expanding(mp), agg)() \
                .to_pandas().reset_index(drop=True)
            r = pdf.groupby("g")[["v", "u"]].expanding(mp)
            want = (getattr(r, agg)()
                    .reset_index(level=0, drop=True).sort_index())
            for c in ("v", "u"):
                np.testing.assert_allclose(
                    got[c].fillna(-9e9).to_numpy(dtype=float),
                    want[c].fillna(-9e9).to_numpy(dtype=float),
                    err_msg=f"mp={mp} {agg} {c}")


def test_groupby_window_transforms_match_pandas(bl):
    """Per-group window ops: cum*, shift (struct-marker fill_value),
    diff, ffill/bfill, rank (all tie methods + pct incl. the dense
    distinct-count denominator), head/tail/nth."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({
        "g": ["a", "a", "b", "a", "b", "b", "a", "b"],
        "v": [1.0, np.nan, 2.0, 5.0, np.nan, 3.0, 1.0, 2.0],
        "s": ["x", None, "y", "z", "w", None, "q", "r"]})
    df = bl.DataFrame(pdf.to_dict("list"))
    g, pg = df.groupby("g"), pdf.groupby("g")

    def vnum(frame):
        return frame.to_pandas().reset_index(drop=True)["v"] \
            .fillna(-9e9).to_numpy(dtype=float)

    def pnum(s):
        return s.reset_index(drop=True).fillna(-9e9) \
            .to_numpy(dtype=float)

    for kind in ("cumsum", "cumprod", "cummin", "cummax"):
        np.testing.assert_allclose(
            vnum(getattr(g, kind)()),
            pnum(getattr(pg["v"], kind)()), err_msg=kind)
    np.testing.assert_allclose(vnum(g.shift(1)),
                               pnum(pg["v"].shift(1)))
    np.testing.assert_allclose(vnum(g.shift(1, fill_value=0.0)),
                               pnum(pg["v"].shift(1, fill_value=0.0)))
    np.testing.assert_allclose(vnum(g.diff()), pnum(pg["v"].diff()))
    np.testing.assert_allclose(vnum(g.ffill()), pnum(pg["v"].ffill()))
    np.testing.assert_allclose(vnum(g.bfill()), pnum(pg["v"].bfill()))
    assert g.shift(1).to_pandas().reset_index(drop=True)["s"] \
        .tolist()[:2] == [None, "x"]
    for m in ("average", "min", "max", "first", "dense"):
        for pct in (False, True):
            np.testing.assert_allclose(
                vnum(g.rank(method=m, pct=pct)),
                pnum(pg["v"].rank(method=m, pct=pct)),
                err_msg=f"{m} pct={pct}")

    def rows(x):
        return sorted(map(tuple, x.to_pandas().reset_index(drop=True)
                          .fillna(-9).astype(str).to_numpy().tolist()))

    def prows(x):
        return sorted(map(tuple, x.reset_index(drop=True).fillna(-9)
                          .astype(str).to_numpy().tolist()))
    assert rows(g.head(2)) == prows(pg.head(2))
    assert rows(g.tail(2)) == prows(pg.tail(2))
    assert rows(g.nth(1)) == prows(pg.nth(1))
    assert rows(g.nth(-1)) == prows(pg.nth(-1))


def test_groupby_named_aggregation(bl):
    """pandas named aggregation: agg(out=("col", "fn")) kwargs, one
    shuffle for all pairs; callables resolve by __name__."""
    import numpy as np
    import pandas as pd
    import pytest
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [1., 2., 3.],
                        "w": [5., 6., 7.]})
    df = bl.DataFrame(pdf.to_dict("list"))
    got = df.groupby("g").agg(total=("v", "sum"), hi=("w", "max"),
                              n=("v", "count")).to_pandas().sort_index()
    want = pdf.groupby("g").agg(total=("v", "sum"), hi=("w", "max"),
                                n=("v", "count"))
    assert sorted(got.columns) == sorted(want.columns)
    for c in want.columns:
        assert got[c].tolist() == want[c].tolist(), c
    got2 = df.groupby("g").agg(m=("v", np.mean)).to_pandas().sort_index()
    assert got2["m"].tolist() == \
        pdf.groupby("g").agg(m=("v", "mean"))["m"].tolist()
    with pytest.raises(KeyError):
        df.groupby("g").agg(x=("zz", "sum"))
    with pytest.raises(TypeError):
        df.groupby("g").agg(x="sum")


def test_sem_all_surfaces(bl):
    """sem at Series, frame (one agg job), and groupby (one shuffle)."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "a", "b", "b"],
                        "v": [1., 2., 3., 5.], "w": [1., 4., 9., 16.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    got = df.sem().to_pandas()
    want = pdf[["v", "w"]].sem()
    for c in ("v", "w"):
        assert abs(got[c] - want[c]) < 1e-12
    gg = df.groupby("k").sem().to_pandas()
    ww = pdf.groupby("k").sem()
    np.testing.assert_allclose(gg.to_numpy(), ww.to_numpy())
    assert abs(df["v"].sem() - pdf["v"].sem()) < 1e-12


def test_groupby_ewm_and_callable_agg(bl):
    """groupby().ewm().mean() via the shared batched mapInPandas pass
    (pandas' grouped C kernel over whole batches); dict agg resolves
    callables like pandas (np.sum)."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "b", "a", "b", "a"],
                        "t": [1, 1, 2, 2, 3],
                        "v": [1., 2., np.nan, 4., 5.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf}) \
        .sort_values("t")
    got = df.groupby("k").ewm(alpha=0.5).mean().to_pandas() \
        .sort_values(["k", "t"])["v"].tolist()
    want = pdf.sort_values("t").groupby("k").ewm(alpha=0.5).mean() \
        .reset_index().sort_values(["k", "t"])["v"].tolist()
    for g, w in zip(got, want):
        assert (g != g and w != w) or abs(g - w) < 1e-12
    assert df.groupby("k").agg({"v": np.sum}).to_pandas() \
        ["v_sum"].tolist() == [6.0, 6.0]
    import pytest
    with pytest.raises(ValueError, match="exactly one of"):
        df.groupby("k").ewm()
    with pytest.raises(ValueError, match="times="):
        df.groupby("k").ewm(halflife="1h")
    # com/halflife spellings share Series.ewm's conversions
    got = df.groupby("k").ewm(com=2.0).mean().to_pandas() \
        .sort_values(["k", "t"])["v"].tolist()
    want = pdf.sort_values("t").groupby("k").ewm(com=2.0).mean() \
        .reset_index().sort_values(["k", "t"])["v"].tolist()
    for g, w in zip(got, want):
        assert (g != g and w != w) or abs(g - w) < 1e-12
    # min_periods goes straight to pandas' grouped kernel
    p3 = pd.DataFrame({"k": list("abababab"),
                       "v": [1., 2., np.nan, 4., 5., 6., 7., np.nan]})
    got = bl.DataFrame({c: p3[c].to_numpy() for c in p3}) \
        .groupby("k").ewm(alpha=0.5, min_periods=3).mean() \
        .to_pandas()["v"].to_numpy()
    want = p3.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.5, min_periods=3).mean()).to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-12, equal_nan=True)
    # sum/var/std moments share the per-group pandas kernel
    # restrict to ["v"] so the numeric t column (which the grouped
    # transform would also rewrite, like pandas) keeps the row order
    # comparable; pdf ingest order IS t order here
    d2 = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    for stat in ("sum", "var", "std"):
        got = getattr(d2.groupby("k")[["v"]].ewm(alpha=0.5), stat)() \
            .to_pandas()["v"].tolist()
        want = pdf.groupby("k")["v"].transform(
            lambda s, st=stat: getattr(s.ewm(alpha=0.5), st)()).tolist()
        for g, w in zip(got, want):
            assert (g != g and w != w) or abs(g - w) < 1e-10, stat
    with pytest.raises(NotImplementedError):
        df.groupby("k").ewm(alpha=0.5, adjust=False).sum()


def test_groupby_ohlc_pct_change(bl):
    """ohlc: min_by/max_by over the ordered position, one shuffle;
    pct_change: one keyed Window."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "a", "a", "b", "b"],
                        "t": [1, 2, 3, 1, 2],
                        "v": [3., 1., 2., 5., 4.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf}) \
        .sort_values("t")
    g = df.groupby("k")[["v"]].ohlc().to_pandas().sort_index()
    w = pdf.sort_values("t").groupby("k")["v"].ohlc()
    np.testing.assert_allclose(g.to_numpy(), w.to_numpy())
    gp = df.groupby("k")[["v"]].pct_change().to_pandas()
    wp = pdf.sort_values("t").groupby("k")[["v"]].pct_change()
    assert sorted(x for x in gp["v"] if x == x) == \
        sorted(x for x in wp["v"] if x == x)


def test_groupby_surface_batch(bl):
    """any/all (one shuffle), ngroup (dense ordinal over the GROUPS
    table broadcast back — never a data-wide window), ngroups,
    get_group, value_counts (window over combinations, not rows),
    per-group describe (one shuffle, array quartile buffer)."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a", "a", "b", "b", "b"],
                        "v": [1., 0., 3., 3., np.nan],
                        "w": [1., 1., 0., 1., 1.]})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    gb, pb = df.groupby("k"), pdf.groupby("k")
    assert gb.any().to_pandas().values.tolist() == \
        pb.any().values.tolist()
    assert gb.all().to_pandas().values.tolist() == \
        pb.all().values.tolist()
    assert gb.ngroups() == pb.ngroups
    assert sorted(gb.ngroup().to_pandas().tolist()) == \
        sorted(pb.ngroup().tolist())
    assert gb.get_group("b").to_pandas()["v"].fillna(-9).tolist() == \
        [3.0, 3.0, -9.0]
    assert sorted(gb.value_counts().to_pandas().tolist()) == \
        sorted(pb.value_counts().tolist())
    d, wd = gb.describe().to_pandas(), pb.describe()
    assert d["v_mean"].tolist() == wd[("v", "mean")].tolist()
    assert d["v_50%"].tolist() == wd[("v", "50%")].tolist()
    assert gb.pipe(lambda g: g.ngroups()) == 2


def test_r8_groupby_sweep(bl):
    """r8 dir(pd.DataFrameGroupBy) sweep closures: fillna (scalar
    coalesce + method delegation), take (positional, negatives per
    group), sample (n= exact with the pandas raise, frac=
    proportional), corr/cov (per-group pairwise matrices in one
    grouped agg, stacked layout), corrwith (index join + grouped
    F.corr), resample (per-group pandas resampler via
    applyInPandas), groups/indices/ndim/dtypes."""
    import pandas as pd

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({"g": ["a", "b"] * 10,
                        "x": rng.randn(20), "y": rng.randn(20)})
    pdf.loc[3::5, "x"] = np.nan
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})

    filled = df.groupby("g").fillna(0.0).to_pandas()["x"]
    assert not filled.isna().any()
    assert sorted(np.round(filled, 9)) == \
        sorted(np.round(pdf["x"].fillna(0.0), 9))
    ff = df.groupby("g").fillna(method="ffill").to_pandas() \
        .sort_index()["x"]
    pf = pdf.groupby("g")["x"].ffill()
    assert np.allclose(ff.fillna(-9), pf.fillna(-9))

    got = df.groupby("g").take([0, -1]).to_pandas()
    want = pdf.groupby("g").take([0, -1])
    assert sorted(np.round(got["y"], 9)) == \
        sorted(np.round(want["y"], 9))

    assert len(df.groupby("g").sample(frac=0.5, random_state=1)
               .to_pandas()) == 10
    samp = df.groupby("g").sample(n=3).to_pandas()
    assert len(samp) == 6 and set(samp["g"]) == {"a", "b"}
    with pytest.raises(ValueError, match="sample"):
        df.groupby("g").sample(n=100)

    got = df.groupby("g").corr().to_pandas().sort_index()
    want = pdf.groupby("g").corr().sort_index()
    assert got.index.tolist() == want.index.tolist()
    assert np.allclose(got.values, want.values, equal_nan=True)
    gotc = df.groupby("g").cov().to_pandas().sort_index()
    assert np.allclose(gotc.values,
                       pdf.groupby("g").cov().sort_index().values,
                       equal_nan=True)

    po = pd.DataFrame({"x": rng.randn(20), "y": rng.randn(20)})
    bo = bl.DataFrame({k: po[k].to_numpy() for k in po})
    got = df.groupby("g").corrwith(bo).to_pandas().sort_index()
    want = pdf.groupby("g").corrwith(po).sort_index()
    assert np.allclose(got[["x", "y"]].values,
                       want[["x", "y"]].values, equal_nan=True)

    ts = pd.date_range("2024-01-01", periods=20, freq="7h")
    pr = pd.DataFrame({"g": ["a", "b"] * 10, "t": ts,
                       "v": rng.randn(20)})
    br = bl.DataFrame({"g": pr["g"].to_numpy(), "t": ts.to_numpy(),
                       "v": pr["v"].to_numpy()})
    got = br.groupby("g").resample("1D", on="t").sum() \
        .to_pandas().sort_index()
    want = pr.groupby("g").resample("1D", on="t")[["v"]].sum() \
        .sort_index()
    assert np.allclose(got["v"].values, want["v"].values)
    assert got.index.tolist() == want.index.tolist()

    gb, pgb = df.groupby("g"), pdf.groupby("g")
    assert {k: list(v) for k, v in gb.groups.items()} == \
        {k: list(v) for k, v in pgb.groups.items()}
    assert {k: list(v) for k, v in gb.indices.items()} == \
        {k: list(v) for k, v in pgb.indices.items()}
    assert gb.ndim == 2
    assert gb.dtypes == df.dtypes


def test_groupby_rolling_order_stats_match_pandas(bl):
    """Per-group rolling/expanding ORDER statistics (median/quantile/
    skew/sem/rank): Spark refuses median/percentile over a row-framed
    window, so these ride the batched mapInPandas kernel
    (the shared grouped window pass, _window_pass) — many groups per
    Python call, pandas'
    grouped rolling C kernels inside. Expanding flavors need no
    carry (groups are local per key)."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(5)
    n = 300
    pdf = pd.DataFrame({"g": rng.integers(0, 20, n).astype(str),
                        "v": rng.normal(size=n),
                        "u": rng.normal(size=n)})
    pdf.loc[rng.random(n) < 0.2, "v"] = np.nan
    df = bl.DataFrame({c: pdf[c].to_numpy() for c in pdf})
    gb = df.groupby("g")[["v", "u"]]
    pg = pdf.groupby("g", sort=False)[["v", "u"]]
    cases = [("median", {}, 3, 1), ("quantile", dict(q=0.3), 4, 2),
             ("skew", {}, 5, None), ("kurt", {}, 6, None),
             ("sem", {}, 4, 2), ("rank", dict(method="min"), 3, 1)]
    for stat, kw, w, mp in cases:
        ours = getattr(gb.rolling(w, min_periods=mp), stat)(**kw) \
            .to_pandas()[["v", "u"]].to_numpy()
        want = getattr(pg.rolling(w, min_periods=mp), stat)(**kw) \
            .reset_index(level=0, drop=True).sort_index().to_numpy()
        np.testing.assert_allclose(ours, want, atol=1e-12,
                                   err_msg=f"grouped roll {stat}")
    ours = gb.expanding(2).median().to_pandas()[["v", "u"]].to_numpy()
    want = pg.expanding(2).median().reset_index(level=0, drop=True) \
        .sort_index().to_numpy()
    np.testing.assert_allclose(ours, want, atol=1e-12)
    import pytest
    # r9: the global face is the budgeted pass now; the refusal
    # moved behind max_rows
    got = bl.Series(np.arange(4.0)).expanding(1).median() \
        .to_pandas().tolist()
    assert got == pd.Series(np.arange(4.0)).expanding(1).median() \
        .tolist()
    with pytest.raises(ValueError, match="max_rows"):
        bl.Series(np.arange(4.0)).expanding(1).median(max_rows=2)


def test_grouped_resample_extended_aggs(bl):
    """Grouped resampler median/first/last/sem/nunique/prod: pandas'
    own grouped resampler runs inside the batched mapInPandas
    kernel, so new aggregation names are pure dispatch."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(53)
    n = 200
    g = rng.integers(0, 8, n).astype(str)
    secs = np.sort(rng.choice(np.arange(86400 * 5), n,
                              replace=False))
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.2] = np.nan
    pdf = pd.DataFrame({"g": g, "ts": ts, "v": v})
    d = bl.DataFrame({"g": g, "ts": ts.to_numpy(), "v": v}) \
        .sort_values("ts")
    for stat in ("median", "first", "last", "sem", "nunique",
                 "prod"):
        got = getattr(d.groupby("g").resample("6h", on="ts"),
                      stat)().to_pandas() \
            .sort_values(["g", "ts"])["v"].to_numpy(dtype=float)
        want = getattr(pdf.set_index("ts")
                       .groupby("g", sort=False)[["v"]]
                       .resample("6h"), stat)().reset_index() \
            .sort_values(["g", "ts"])["v"].to_numpy(dtype=float)
        np.testing.assert_allclose(got, want, atol=1e-9,
                                   equal_nan=True, err_msg=stat)


def test_grouped_time_rolling_order_stats(bl):
    """r9: time-offset grouped rolling ORDER statistics
    (median/quantile/rank/sem/skew/kurt/apply) — groups are bounded
    per key, so these ride the batched mapInPandas kernel with NO
    budget (unlike the global face); pandas' own kernel supplies
    the positional duplicate-stamp rule, so they match pandas
    exactly where the JVM RANGE aggregates document the
    same-stamp-peers divergence."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(13)
    n = 400
    secs = np.sort(rng.choice(np.arange(0, 400000), n,
                              replace=False))
    secs[101] = secs[100]                       # duplicate stamp
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    g = rng.integers(0, 6, n).astype(str)
    v = rng.normal(size=n)
    v[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"g": g, "ts": ts, "v": v})
    d = bl.DataFrame({"g": g, "ts": ts.to_numpy(), "v": v}) \
        .sort_values("ts")
    base = pdf.set_index("ts").sort_index() \
        .groupby("g", sort=False)["v"]
    for stat, kw in (("median", {}), ("quantile", {"q": 0.3}),
                     ("rank", {}), ("sem", {})):
        got = getattr(d.groupby("g").rolling("2h"), stat)(**kw) \
            .to_pandas().sort_values(["ts", "g"])["v"].to_numpy()
        want = getattr(base.rolling(pd.Timedelta("2h"),
                                    min_periods=1), stat)(**kw) \
            .reset_index().sort_values(["ts", "g"])["v"].to_numpy()
        np.testing.assert_allclose(got, want, equal_nan=True,
                                   err_msg=stat)
    with pytest.raises(ValueError, match="center"):
        d.groupby("g").rolling("2h", center=True).median()


def test_groupby_corr_spearman(bl):
    """r9: groupby().corr(method='spearman') — pandas' own grouped
    corr inside the batched mapInPandas kernel (exact per-PAIR
    complete-observation ranking, which a rank-then-Pearson
    composition cannot reproduce when null patterns differ across
    columns). kendall stays an honest gate (pandas' kernel imports
    scipy, not installed here)."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(23)
    n = 300
    g = rng.integers(0, 5, n).astype(str)
    x = rng.normal(size=n)
    y = x * 0.5 + rng.normal(size=n)
    z = rng.normal(size=n)
    x[rng.random(n) < 0.1] = np.nan
    y[rng.random(n) < 0.15] = np.nan
    pdf = pd.DataFrame({"g": g, "x": x, "y": y, "z": z})
    d = bl.DataFrame({"g": g, "x": x, "y": y, "z": z})
    got = d.groupby("g").corr(method="spearman").to_pandas() \
        .sort_index()
    want = pdf.groupby("g")[["x", "y", "z"]] \
        .corr(method="spearman").sort_index()
    np.testing.assert_allclose(got[["x", "y", "z"]].to_numpy(),
                               want.to_numpy(), equal_nan=True,
                               atol=1e-12)
    assert [tuple(map(str, t)) for t in got.index] == \
        [tuple(map(str, t)) for t in want.index]
    with pytest.raises(NotImplementedError, match="scipy"):
        d.groupby("g").corr(method="kendall")
    with pytest.raises(ValueError, match="unknown corr"):
        d.groupby("g").corr(method="banana")


def test_grouped_window_layout_pin_r10(bl):
    """r10 layout PIN (COVERAGE.md): grouped windows return values
    aligned to SOURCE ROWS in the frame's own row order with the
    group key as a DATA COLUMN — not pandas' (keys, index)
    MultiIndex sorted by group. Values are pandas-exact once both
    sides are aligned on (key, stamp)."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(110)
    n = 120
    g = rng.integers(0, 4, n).astype(str)
    secs = np.sort(rng.choice(np.arange(0, 30000), n, replace=False))
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    d = bl.DataFrame({"g": g, "ts": ts.to_numpy(), "v": v}) \
        .sort_values("ts")
    out = d.groupby("g")[["v"]].rolling("20min").median().to_pandas()
    # the PIN: group key is a data column; rows are POSITIONALLY
    # aligned to the source frame's row order (here: sorted by ts),
    # not regrouped into pandas' (keys, index) MultiIndex
    assert "g" in out.columns
    assert isinstance(out.index, pd.RangeIndex)
    # values are pandas-exact after aligning pandas' grouped
    # MultiIndex layout back onto source order
    want = (pd.DataFrame({"g": g, "ts": ts, "v": v})
            .set_index("ts").groupby("g", sort=False)[["v"]]
            .rolling("20min").median()
            .reset_index().sort_values("ts"))
    np.testing.assert_allclose(out["v"].to_numpy(),
                               want["v"].to_numpy(), atol=1e-9,
                               equal_nan=True)
    assert out["g"].tolist() == want["g"].tolist()


def test_grouped_window_agg_faces_r11(bl):
    """r11: .agg on the grouped window faces (the round-10
    verdict's loudest asymmetry). JVM-frameable statistic sets fuse
    into ONE select over ONE shared Window spec (single Window node
    — asserted on the plan); any order statistic routes the whole
    request through ONE batched mapInPandas pass. Naming: dict
    {col: stat} flat, list -> flat stat names (one value column) or
    str((col, stat)) col-major (several). agg_pairs gains its
    grouped face: per-column sum/mean/count + pairwise cov/corr,
    one Window node."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(42)
    n = 90
    g = rng.choice(["a", "b", "c"], n)
    v = rng.normal(size=n)
    v[rng.random(n) < 0.15] = np.nan
    u = rng.normal(size=n)
    pdf = pd.DataFrame({"g": g, "v": v, "u": u})
    d = bl.DataFrame({"g": g, "v": v, "u": u})

    def psrc(res):
        return res.reset_index(level=0, drop=True).sort_index()

    # fused JVM list face — values + single-Window plan
    out = d.groupby("g").rolling(4, min_periods=2) \
        .agg(["sum", "mean", "var"])
    want = psrc(pdf.groupby("g")[["v", "u"]]
                .rolling(4, min_periods=2)
                .agg(["sum", "mean", "var"]))
    got = out.to_pandas()
    for c in ("v", "u"):
        for st in ("sum", "mean", "var"):
            np.testing.assert_allclose(
                got[str((c, st))].to_numpy(),
                want[(c, st)].to_numpy(),
                atol=1e-9, equal_nan=True, err_msg=f"{c}/{st}")
    plan = out.to_spark()._jdf.queryExecution().executedPlan() \
        .toString()
    # the dense ordinal's own window (partitioned by __pid__) is no
    # stat window
    stat_windows = [ln for ln in plan.splitlines()
                    if "Window [" in ln and "row_number" not in ln
                    and "windowspecdefinition(__pid__" not in ln]
    assert len(stat_windows) == 1, "stats must share ONE Window"

    # mixed order-stat request: one pandas pass, pandas-exact
    gotm = d.groupby("g")["v"].rolling(5, min_periods=2) \
        .agg(["mean", "median"]).to_pandas()
    pr = pdf.groupby("g")["v"].rolling(5, min_periods=2)
    np.testing.assert_allclose(gotm["mean"].to_numpy(),
                               psrc(pr.mean()).to_numpy(),
                               atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(gotm["median"].to_numpy(),
                               psrc(pr.median()).to_numpy(),
                               atol=1e-9, equal_nan=True)

    # dict face replaces the named value columns in place
    gotd = d.groupby("g").expanding(2) \
        .agg({"v": "sum", "u": "skew"}).to_pandas()
    pe = pdf.groupby("g")[["v", "u"]].expanding(2)
    np.testing.assert_allclose(gotd["v"].to_numpy(),
                               psrc(pe.sum())["v"].to_numpy(),
                               atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(gotd["u"].to_numpy(),
                               psrc(pe.skew())["u"].to_numpy(),
                               atol=1e-9, equal_nan=True)

    # grouped ewm agg
    gotw = d.groupby("g")["v"].ewm(alpha=0.4).agg(["mean", "std"]) \
        .to_pandas()
    pw = pdf.groupby("g")["v"].ewm(alpha=0.4)
    np.testing.assert_allclose(gotw["mean"].to_numpy(),
                               psrc(pw.mean()).to_numpy(),
                               atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(gotw["std"].to_numpy(),
                               psrc(pw.std()).to_numpy(),
                               atol=1e-9, equal_nan=True)

    # agg_pairs grouped face — values + single-Window plan
    pairs = d.groupby("g").rolling(4, min_periods=2).agg_pairs(
        {"sv": ("sum", "v"), "cvu": ("cov", "v", "u"),
         "rvu": ("corr", "v", "u")})
    gp = pairs.to_pandas()
    np.testing.assert_allclose(
        gp["sv"].to_numpy(),
        psrc(pdf.groupby("g")["v"].rolling(4, min_periods=2).sum())
        .to_numpy(), atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(
        gp["cvu"].to_numpy(),
        psrc(pdf.groupby("g")[["v", "u"]]
             .rolling(4, min_periods=2).cov().unstack()[("v", "u")])
        .to_numpy(), atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(
        gp["rvu"].to_numpy(),
        psrc(pdf.groupby("g")[["v", "u"]]
             .rolling(4, min_periods=2).corr().unstack()[("v", "u")])
        .to_numpy(), atol=1e-9, equal_nan=True)
    plan2 = pairs.to_spark()._jdf.queryExecution().executedPlan() \
        .toString()
    stat_windows2 = [ln for ln in plan2.splitlines()
                     if "Window [" in ln and "row_number" not in ln
                     and "windowspecdefinition(__pid__" not in ln]
    assert len(stat_windows2) == 1

    # gates
    with pytest.raises(ValueError, match="no results"):
        d.groupby("g").rolling(3).agg([])
    with pytest.raises(ValueError, match="duplicate"):
        d.groupby("g")["v"].rolling(3).agg(["sum", "sum"])
    with pytest.raises(ValueError, match="quantile"):
        d.groupby("g").rolling(3).agg(["quantile"])
    with pytest.raises(KeyError):
        d.groupby("g").rolling(3).agg({"zz": "sum"})
    with pytest.raises(ValueError, match="cov"):
        d.groupby("g").rolling(3).agg_pairs({"o": ("mad", "v")})


def test_grouped_pandas_faces_order_nat_last(bl):
    """The grouped faces that run pandas' kernels feed each group's
    rows in the frame's own order, NaT-keyed rows LAST like pandas'
    sort. A frame sorted by a datetime column with NaT in two groups,
    value by value in frame order; the JVM rolling sum is the
    control (its Window spec always used the frame's order)."""
    import pandas as pd
    t = pd.to_datetime(
        ["2024-01-01 05:00", "NaT", "2024-01-01 01:00",
         "2024-01-01 02:00", "NaT", "2024-01-01 03:00",
         "2024-01-01 04:00", "2024-01-01 00:00", "NaT",
         "2024-01-01 06:00", "2024-01-01 07:00", "2024-01-01 08:00"])
    pdf = pd.DataFrame({"g": list("abababababab"), "t": t,
                        "i": [f"r{k:02d}" for k in range(12)],
                        "v": [3., 100., 1., 7., 50., 2., 9., 4., -20.,
                              5., 8., 6.]})
    # "i" breaks the NaT ties, so the frame order is total
    ps = pdf.sort_values(["t", "i"]).reset_index(drop=True)
    d = bl.DataFrame({c: pdf[c].to_numpy() for c in pdf}) \
        .sort_values(["t", "i"])
    cases = [
        ("rolling sum", ["v"],
         lambda w: w.rolling(3, min_periods=1).sum()),
        ("rolling median", ["v"],
         lambda w: w.rolling(3, min_periods=1).median()),
        ("rolling rank", ["v"],
         lambda w: w.rolling(3, min_periods=1).rank()),
        ("expanding skew", ["v"], lambda w: w.expanding(2).skew()),
        ("rolling agg", ["mean", "median"],
         lambda w: w.rolling(3, min_periods=1).agg(["mean", "median"])),
        ("ewm mean", ["v"], lambda w: w.ewm(alpha=.5).mean()),
        ("ewm agg", ["mean", "var"],
         lambda w: w.ewm(alpha=.5).agg(["mean", "var"])),
    ]
    for name, cols, face in cases:
        got = face(d.groupby("g")).to_pandas()[cols].to_numpy()
        want = face(ps.groupby("g")["v"]) \
            .reset_index(level=0, drop=True).sort_index().to_numpy()
        np.testing.assert_allclose(got, want.reshape(len(ps), -1),
                                   atol=1e-12, equal_nan=True,
                                   err_msg=name)


def test_grouped_pandas_faces_plan_one_pass(bl):
    """Plan pin: every grouped face that runs a pandas kernel (window
    order statistics, ewm, spearman corr, resample) plans exactly ONE
    batched MapInPandas behind the group-key exchange — the sorted
    frame's broadcast layout join is the second Exchange."""
    import pandas as pd
    rng = np.random.default_rng(17)
    n = 400
    t = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.choice(np.arange(n * 50), n, replace=False)), "s")
    d = bl.DataFrame({"g": rng.integers(0, 8, n).astype(str),
                      "t": t.to_numpy(), "v": rng.normal(size=n),
                      "u": rng.normal(size=n)}).sort_values("t")
    faces = {
        "rolling median": lambda gb: gb.rolling(5).median(),
        "rolling agg": lambda gb: gb.rolling(5).agg(["mean", "median"]),
        "time rolling quantile":
            lambda gb: gb.rolling("2h").quantile(.3),
        "expanding skew": lambda gb: gb.expanding(2).skew(),
        "ewm mean": lambda gb: gb.ewm(alpha=.3).mean(),
        "ewm agg": lambda gb: gb.ewm(alpha=.3).agg(["mean", "var"]),
        "time ewm mean":
            lambda gb: gb.ewm(halflife="1h", times="t").mean(),
        "spearman corr": lambda gb: gb.corr(method="spearman"),
        "resample median":
            lambda gb: gb.resample("1D", on="t").median(),
    }
    for name, face in faces.items():
        plan = face(d.groupby("g")).to_spark()._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("MapInPandas") == 1, (name, plan)
        assert plan.count("Exchange ") == 2, (name, plan)

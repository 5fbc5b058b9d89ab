"""Partition-safe global ordered ops: the two-pass prefix/carry
schemes must equal the naive single-partition window bit-for-bit
(modulo FP association for prod), and none of them may plan an
`Exchange SinglePartition`.

Covers the round-3 rewiring: with_running / with_lag / with_rank /
ffill / bfill with NO partition keys, plus asof_join with NO by-keys —
previously all ScaleWarning'd single-partition fallbacks, now
with_prefix_aggs (its 'last' kind too) / with_boundary_shifts /
with_dense_ordinal compositions (plans/ordinal.py).
"""

import io
from contextlib import redirect_stdout

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def data():
    rng = np.random.RandomState(3)
    n = 2000
    return pd.DataFrame({
        "t": rng.permutation(n),
        "v": np.where(rng.rand(n) < 0.25, np.nan, rng.randn(n)),
        "p": 1.0 + 0.001 * rng.randn(n),   # near-1: stable product
        "g": rng.randint(0, 7, n),
    })


@pytest.fixture(scope="module")
def frame(bl, data):
    return bl.DataFrame({c: data[c].to_numpy() for c in data})


def _no_single_partition(sdf):
    buf = io.StringIO()
    with redirect_stdout(buf):
        sdf.explain("formatted")
    assert "Exchange SinglePartition" not in buf.getvalue()


@pytest.mark.parametrize("agg", ["sum", "count", "min", "max", "mean",
                                 "std", "var"])
def test_running_global_matches_window(bl, frame, agg):
    out = frame.with_running("v", "t", agg=agg).to_spark()
    _no_single_partition(out)
    got = (out.orderBy("t").select(f"running_{agg}").toPandas()
           [f"running_{agg}"].to_numpy())
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    fmap = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max,
            "mean": F.avg, "std": F.stddev_samp, "var": F.var_samp}
    want = (frame.to_spark().withColumn(
        "w", fmap[agg](F.col("v").cast("double") if agg != "count"
                       else F.col("v")).over(w))
        .orderBy("t").select("w").toPandas()["w"].to_numpy())
    npt.assert_allclose(got.astype(float), want.astype(float),
                        rtol=1e-9, equal_nan=True)


def test_running_global_prod(bl, frame):
    out = frame.with_running("p", "t", agg="prod").to_spark()
    got = (out.orderBy("t").select("running_prod").toPandas()
           ["running_prod"].to_numpy())
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    want = (frame.to_spark().withColumn(
        "w", F.product(F.col("p").cast("double")).over(w))
        .orderBy("t").select("w").toPandas()["w"].to_numpy())
    # prefix-combine multiplies in a different association order than
    # the sequential window — equal up to FP rounding
    npt.assert_allclose(got, want, rtol=1e-9)


def test_lag_global_matches_window(bl, frame):
    out = frame.with_lag("v", "t", offset=2).to_spark()
    _no_single_partition(out)
    got = (out.orderBy("t").select("v_lag").toPandas()
           ["v_lag"].to_numpy())
    w = Window.orderBy("t")
    want = (frame.to_spark().withColumn("w", F.lag("v", 2).over(w))
            .orderBy("t").select("w").toPandas()["w"].to_numpy())
    npt.assert_allclose(got, want, equal_nan=True)


def test_lag_global_diff(bl, frame, data):
    got = (frame.with_lag("t", "t", diff=True).to_spark()
           .orderBy("t").select("t_diff").toPandas()["t_diff"].to_numpy())
    want = data.sort_values("t")["t"].diff().to_numpy()
    npt.assert_allclose(got.astype(float), want, equal_nan=True)


@pytest.mark.parametrize("method", ["row_number", "rank", "dense_rank"])
def test_rank_global_matches_window(bl, frame, data, method):
    out = frame.with_rank("g", method=method, name="rk").to_spark()
    _no_single_partition(out)
    got = (out.orderBy("t").select("rk").toPandas()["rk"].to_numpy())
    fn = {"row_number": F.row_number, "rank": F.rank,
          "dense_rank": F.dense_rank}[method]
    w = Window.orderBy(F.col("g").asc())
    want = (frame.to_spark().withColumn("rk", fn().over(w).cast("long"))
            .orderBy("t").select("rk").toPandas()["rk"].to_numpy())
    if method == "row_number":
        # ties are broken arbitrarily on BOTH sides: the multiset of
        # row numbers within each tie group must match exactly
        gg = data.sort_values("t")["g"].to_numpy()
        for grp in np.unique(gg):
            npt.assert_array_equal(np.sort(got[gg == grp]),
                                   np.sort(want[gg == grp]))
    else:
        npt.assert_array_equal(got, want)


def test_ffill_bfill_global_match_pandas(bl, frame, data):
    got = frame.ffill(subset=["v"]).to_pandas()["v"].to_numpy()
    npt.assert_allclose(got, data["v"].ffill().to_numpy(), equal_nan=True)
    got = frame.bfill(subset=["v"]).to_pandas()["v"].to_numpy()
    npt.assert_allclose(got, data["v"].bfill().to_numpy(), equal_nan=True)


def test_asof_global_matches_single_partition(spark):
    from baloo_spark.operators.joins import asof_join
    from baloo_spark.streaming.events import load_events
    ev = load_events(spark, "/root/testdata/sf0.001")
    left = ev.select("event_id", "ts", "user_id")
    right = ev.select("ts", "value").withColumn("value", F.col("value") * 2)
    got = (asof_join(left, right, on="ts").orderBy("event_id")
           .select("event_id", "value_right", "matched_ts").toPandas())
    l = left.withColumn("__src__", F.lit(1))
    r = (right.withColumn("__src__", F.lit(0))
         .withColumnRenamed("value", "value_right"))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (Window.partitionBy(F.lit(1))
         .orderBy(F.col("ts").asc(), F.col("__src__").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    want = (u.withColumn("value_right",
                         F.last("value_right", ignorenulls=True).over(w))
            .withColumn("matched_ts",
                        F.last(F.when(F.col("__src__") == 0, F.col("ts")),
                               ignorenulls=True).over(w))
            .filter(F.col("__src__") == 1).orderBy("event_id")
            .select("event_id", "value_right", "matched_ts").toPandas())
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  want.reset_index(drop=True))


def test_no_scale_warnings_on_global_paths(bl, frame):
    import warnings

    from baloo_spark.plans import ScaleWarning
    with warnings.catch_warnings():
        warnings.simplefilter("error", category=ScaleWarning)
        frame.with_running("v", "t").to_spark().count()
        frame.with_lag("v", "t").to_spark().count()
        frame.with_rank("g", name="rk").to_spark().count()
        frame.ffill(subset=["v"]).to_spark().count()


def test_edge_cases(spark):
    from baloo_spark.operators.joins import asof_join
    from baloo_spark.plans.ordinal import with_prefix_aggs

    # empty input -> empty output, no crash in the driver combine
    e = spark.createDataFrame([], "t LONG, v DOUBLE")
    assert with_prefix_aggs(e, {"r": ("v", "sum")},
                            [F.col("t").asc()]).count() == 0
    assert with_prefix_aggs(e, {"c": (F.col("v"), "last")},
                            [F.col("t").asc()]).count() == 0

    # single row
    s = spark.createDataFrame([(1, 2.0)], "t LONG, v DOUBLE")
    assert with_prefix_aggs(s, {"r": ("v", "sum")},
                            [F.col("t").asc()]).first()["r"] == 2.0

    # null runs: identity-skipping in the prefix combine must match
    # the window's null semantics (null until the first value)
    nl = spark.createDataFrame([(1, None), (2, None), (3, 5.0),
                                (4, None)], "t LONG, v DOUBLE")
    got = [r["r"] for r in with_prefix_aggs(
        nl, {"r": (F.col("v"), "prod")},
        [F.col("t").asc()]).orderBy("t").collect()]
    assert got == [None, None, 5.0, 5.0]

    # as-of against an empty right side -> all-NULL attachment
    left = spark.createDataFrame([(1, 10)], "ts LONG, x LONG")
    right = spark.createDataFrame([], "ts LONG, value DOUBLE")
    row = asof_join(left, right, on="ts").first()
    assert row["value_right"] is None and row["matched_ts"] is None


@pytest.mark.parametrize("agg", ["sum", "count", "mean"])
def test_rolling_global_matches_pandas(bl, frame, data, agg):
    w = 5
    out = frame.with_rolling("v", w, order_by="t", agg=agg,
                             name="r")
    _no_single_partition(out.to_spark())
    got = out.to_spark().orderBy("t").select("r").toPandas()["r"]
    ordered = data.sort_values("t")["v"]
    roll = ordered.rolling(w, min_periods=w)
    want = {"sum": roll.sum(), "count": roll.count(),
            "mean": roll.mean()}[agg].reset_index(drop=True)
    if agg == "count":
        # pandas counts only when >= min_periods rows EXIST in frame;
        # ours additionally nulls when non-null count < min_periods —
        # compare where both are defined
        want = want.where(want >= w)
        got = got.where(got.notna())
        npt.assert_allclose(got.fillna(-1), want.fillna(-1))
    else:
        npt.assert_allclose(got.to_numpy(dtype=float),
                            want.to_numpy(dtype=float), rtol=1e-9)


def test_rolling_partitioned_matches_pandas(bl, frame, data):
    out = frame.with_rolling("v", 3, order_by="t", partition_by="g",
                             agg="mean", name="r")
    got = (out.to_spark().orderBy("g", "t").select("g", "t", "r")
           .toPandas())
    want = (data.sort_values(["g", "t"])
            .assign(r=lambda d: d.groupby("g")["v"]
                    .transform(lambda s: s.rolling(3, min_periods=3)
                               .mean()))
            .reset_index(drop=True))
    npt.assert_allclose(got["r"].fillna(-9).to_numpy(),
                        want["r"].fillna(-9).to_numpy(), rtol=1e-9)


def test_rolling_partitioned_min_max_and_min_periods(bl, frame, data):
    out = frame.with_rolling("v", 4, order_by="t", partition_by="g",
                             agg="max", min_periods=2, name="r")
    got = (out.to_spark().orderBy("g", "t").select("r")
           .toPandas()["r"])
    want = (data.sort_values(["g", "t"]).groupby("g")["v"]
            .transform(lambda s: s.rolling(4, min_periods=2).max())
            .reset_index(drop=True))
    npt.assert_allclose(got.fillna(-9).to_numpy(),
                        want.fillna(-9).to_numpy(), rtol=1e-9)


def test_rolling_global_min_rejected_with_alternative(bl, frame):
    with pytest.raises(ValueError, match="partition_by"):
        frame.with_rolling("v", 3, order_by="t", agg="min")


def test_series_cumulative_ops_match_pandas(spark):
    import pandas as pd

    import baloo_spark as bl
    pdf = pd.DataFrame({"k": list(range(10)),
                        "x": [3.0, 1.0, 4.0, 1.0, 5.0,
                              9.0, 2.0, 6.0, 5.0, 3.0]})
    df = bl.DataFrame.from_pandas(pdf).sort_values("k")
    for op in ("cumsum", "cumprod", "cummin", "cummax"):
        got = getattr(df["x"], op)().to_pandas().tolist()
        want = getattr(pdf["x"], op)().tolist()
        assert got == pytest.approx(want), op


def test_series_cumsum_layout_independent(spark):
    import pandas as pd

    import baloo_spark as bl
    pdf = pd.DataFrame({"k": list(range(40)),
                        "x": [float((i * 7) % 13) for i in range(40)]})
    base = bl.DataFrame.from_pandas(pdf).sort_values("k")
    wide = bl.DataFrame.from_spark(
        base.to_spark(include_index=True).repartition(8)).sort_values("k")
    assert base["x"].cumsum().to_pandas().tolist() == \
        pytest.approx(wide["x"].cumsum().to_pandas().tolist())


def test_integer_cumsum_keeps_int64_and_wraps(spark):
    """Integer cumsum stays int64 and wraps like numpy's, on the
    Series and the DataFrame face. One row per partition, so the
    running sum crosses 2^63 in the driver's carry fold as well as
    inside the JVM's merge."""
    import numpy as np
    import pandas as pd

    import baloo_spark as bl
    big = 2 ** 62
    v = np.array([big, big, big - 1, 7, -3, big, big, big], dtype=np.int64)
    pdf = pd.DataFrame({"k": np.arange(len(v), dtype=np.int64), "v": v})
    rows = [(int(k), int(x)) for k, x in zip(pdf["k"], v)]
    df = bl.DataFrame.from_spark(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)),
        "k LONG, v LONG"))
    got = df["v"].cumsum().to_pandas()
    assert got.dtype == np.int64
    assert got.tolist() == pdf["v"].cumsum().tolist()
    frame = df.cumsum().to_pandas()
    assert dict(frame.dtypes) == dict(pdf.cumsum().dtypes)
    assert frame.to_numpy().tolist() == pdf.cumsum().to_numpy().tolist()


def test_series_pct_change_and_rank(spark):
    import pandas as pd

    import baloo_spark as bl
    pdf = pd.DataFrame({"k": list(range(6)),
                        "x": [2.0, 4.0, 4.0, 2.0, 8.0, 1.0]})
    df = bl.DataFrame.from_pandas(pdf).sort_values("k")
    got = df["x"].pct_change().to_pandas().tolist()
    want = pdf["x"].pct_change().tolist()
    assert got[0] != got[0]  # NaN head
    assert got[1:] == pytest.approx(want[1:])
    ks = df.set_index("k")
    for method in ("min", "first", "dense", "average", "max"):
        rs = ks["x"].rank(method=method).to_spark()
        got_r = sorted((r["k"], float(r["x"])) for r in rs.collect())
        want_r = sorted(zip(pdf["k"], pdf["x"].rank(method=method)))
        assert got_r == [(k, float(v)) for k, v in want_r], method
    with pytest.raises(ValueError, match="rank method"):
        df["x"].rank(method="median")


@pytest.mark.parametrize("op", [
    lambda d: d.rolling(5, min_periods=2).sum(),
    lambda d: d.expanding(2).sum(),
    lambda d: d.ewm(alpha=0.5, min_periods=2).mean(),
], ids=["rolling", "expanding", "ewm"])
def test_frame_window_keeps_sort_column_order(bl, op):
    """A frame window overwrites the column the frame is sorted by with
    its windowed value; the rows must stay in the source order (the
    NaN head first), not move to the windowed values' order."""
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"k": rng.permutation(12).astype(np.int64),
                        "x": rng.random(12)})
    got = op(bl.DataFrame.from_pandas(pdf).sort_values("k")).to_pandas()
    want = op(pdf.sort_values("k")).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want,
                                  check_dtype=False)


def test_series_rolling_pandas_parity(bl):
    """Series.rolling facade: sum/mean/count/var/std over the prefix
    machinery match pandas, incl. NaN-in-window, min_periods (count
    gates on window fullness, the others on non-null observations),
    and the ddof edge."""
    import numpy as np
    import pandas as pd
    import pytest
    vals = [1., 2., np.nan, 4., 10., 2.5, 2.5, -3., 0., 7.]
    s = bl.Series(np.array(vals), name="v")
    p = pd.Series(vals)
    cases = [
        ("sum", dict(window=3), {}),
        ("sum", dict(window=3, min_periods=1), {}),
        ("mean", dict(window=4, min_periods=2), {}),
        ("count", dict(window=3), {}),
        ("count", dict(window=3, min_periods=1), {}),
        ("var", dict(window=3), {}),
        ("var", dict(window=2), {}),
        ("std", dict(window=4, min_periods=2), {}),
    ]
    for agg, kw, akw in cases:
        got = getattr(s.rolling(**kw), agg)(**akw).to_pandas().tolist()
        want = getattr(p.rolling(**kw), agg)(**akw).tolist()
        got = ["nan" if x != x else round(x, 9) for x in got]
        want = ["nan" if x != x else round(x, 9) for x in want]
        assert got == want, (agg, kw, got, want)
    with pytest.raises(ValueError, match="positive"):
        s.rolling(0)


def test_series_rolling_local_stats_match_pandas(bl):
    """Order-statistic / shape rolling stats (min/max/median/
    quantile/skew/kurt/sem/rank) ride the local-carry pass
    (plans/ordinal.with_rolling_locals): one frozen range layout,
    a bounded (window-1)-row donor carry per partition, pandas' C
    kernels inside one mapInPandas. NaN positions occupy window
    slots; min_periods counts non-null — pandas computes the window
    itself, so parity is structural."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    v = rng.normal(size=300)
    v[rng.random(300) < 0.2] = np.nan
    p = pd.Series(v)
    s = bl.Series(v)
    cases = [
        ("min", dict(window=3), {}),
        ("max", dict(window=7, min_periods=2), {}),
        ("median", dict(window=5), {}),
        ("quantile", dict(window=6, min_periods=3),
         dict(q=0.25)),
        ("quantile", dict(window=4), dict(q=0.9,
                                          interpolation="nearest")),
        ("skew", dict(window=8), {}),
        ("kurt", dict(window=9), {}),
        ("sem", dict(window=5, min_periods=2), {}),
        ("rank", dict(window=6), dict(method="min", pct=True)),
        # window past the data length: carry shorter than window-1
        ("min", dict(window=400, min_periods=1), {}),
    ]
    for agg, kw, akw in cases:
        got = getattr(s.rolling(**kw), agg)(**akw) \
            .to_pandas().to_numpy(dtype=float)
        want = getattr(p.rolling(**kw), agg)(**akw) \
            .to_numpy(dtype=float)
        np.testing.assert_allclose(got, want, atol=1e-12,
                                   equal_nan=True,
                                   err_msg=f"{agg} {kw} {akw}")
    # lineage face: order defined by a sort, not ingest ordinals
    pdf = pd.DataFrame({"t": rng.permutation(300), "v": v})
    df = bl.DataFrame({"t": pdf["t"].to_numpy(),
                       "v": pdf["v"].to_numpy()}).sort_values("t")
    got = df["v"].rolling(5, min_periods=2).median() \
        .to_pandas().to_numpy(dtype=float)
    want = pdf.sort_values("t")["v"].rolling(5, min_periods=2) \
        .median().to_numpy(dtype=float)
    np.testing.assert_allclose(got, want, atol=1e-12, equal_nan=True)
    with pytest.raises(ValueError, match="carry"):
        from baloo_spark.plans.ordinal import with_rolling_locals
        with_rolling_locals(df._sdf, {"__o__": "v"}, 10_000_000,
                            "min", max_carry_cells=1000)


def test_series_rolling_multipartition(bl):
    """Rolling windows spanning partition boundaries: 4k rows over a
    range-partitioned sort must match pandas exactly (the boundary
    carry supplies the cross-partition prefix)."""
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(7)
    k = rng.permutation(4000).astype(np.int64)
    v = rng.randn(4000)
    v[rng.rand(4000) < 0.1] = np.nan
    df = bl.DataFrame({"k": k, "v": v},
                      index=np.arange(4000, dtype=np.int64))
    got = df.sort_values("k")["v"].rolling(50, min_periods=5) \
        .mean().to_pandas().tolist()
    want = pd.DataFrame({"k": k, "v": v}).sort_values("k")["v"] \
        .rolling(50, min_periods=5).mean().tolist()
    assert len(got) == len(want) == 4000
    for g, w in zip(got, want):
        if w != w:
            assert g != g
        else:
            assert abs(g - w) < 1e-9


def test_timeseries_features_example(spark):
    """examples/timeseries_features.py: grid-floor -> bucket agg ->
    rolling stats -> closed-window shift -> as-of enrich, end to end
    at sf0.001."""
    import sys
    sys.path.insert(0, "examples")
    from timeseries_features import main
    out = main("/root/testdata/sf0.001")
    assert out["events"] == 1000
    assert 0 < out["buckets"] <= out["events"]
    # every event except those in the very first bucket gets closed
    # (prior-buckets-only) features
    assert out["events"] - out["with_features"] < 10
    assert out["with_features"] > 0


@pytest.mark.parametrize("agg", ["sum", "mean", "count", "min", "max",
                                 "var", "std"])
def test_expanding_matches_pandas(bl, agg):
    """Series.expanding: growing windows from prefix scans only (no
    boundary shift needed); min/max ARE prefix-decomposable here."""
    import pandas as pd
    vals = [1.0, np.nan, 2.0, 5.0, np.nan, 3.0]
    s = bl.DataFrame({"v": np.array(vals)})["v"]
    p = pd.Series(vals)
    for mp in (1, 2, 0):
        got = getattr(s.expanding(mp), agg)().to_pandas() \
            .fillna(-9e9).to_numpy(dtype=float)
        want = getattr(p.expanding(mp), agg)() \
            .fillna(-9e9).to_numpy(dtype=float)
        npt.assert_allclose(got, want, err_msg=f"mp={mp}")


def test_ewm_mean_matches_pandas(bl):
    """Series.ewm().mean(): two-pass decayed-carry scan (pandas C
    kernels per partition + driver carry) — exact vs pandas for both
    ignore_na flavors, every decay spelling, alpha=1 degeneracy, and
    long null runs that underflow the carry."""
    import pandas as pd
    rng = np.random.RandomState(7)
    vals = rng.randn(400)
    vals[rng.rand(400) < 0.15] = np.nan
    vals[100:140] = np.nan
    s = bl.DataFrame({"v": vals})["v"]
    p = pd.Series(vals)
    for kw in ({"alpha": 0.3}, {"alpha": 1.0}, {"span": 10},
               {"com": 2.0}, {"halflife": 5.0},
               {"alpha": 0.05, "min_periods": 8},
               {"alpha": 0.3, "ignore_na": True},
               {"alpha": 1.0, "ignore_na": True}):
        got = s.ewm(**kw).mean().to_pandas().to_numpy(dtype=float)
        want = p.ewm(**kw).mean().to_numpy(dtype=float)
        npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                            np.nan_to_num(want, nan=-9e9),
                            rtol=1e-8, err_msg=str(kw))
    with pytest.raises(ValueError):
        s.ewm(alpha=0.5, span=3)


def test_ewm_mean_noadjust_matches_pandas(bl):
    """Series.ewm(adjust=False).mean(): the recursive streaming-EMA
    form via its own two-pass scan (the carried (y, w) state merges
    through per-observation affine maps, not a num/den pair) — exact
    vs pandas for both ignore_na flavors, alpha=1, min_periods, long
    null runs, and MULTI-BATCH partitions (the affine-map chaining
    across Arrow batches is the subtle path)."""
    import pandas as pd
    rng = np.random.RandomState(11)
    vals = rng.randn(400)
    vals[rng.rand(400) < 0.15] = np.nan
    vals[100:140] = np.nan
    vals[:17] = np.nan  # leading nulls cross into the carry
    s = bl.DataFrame({"v": vals})["v"]
    p = pd.Series(vals)
    for kw in ({"alpha": 0.3}, {"alpha": 1.0}, {"span": 10},
               {"alpha": 0.05, "min_periods": 8},
               {"alpha": 0.3, "ignore_na": True},
               {"alpha": 1.0, "ignore_na": True},
               {"alpha": 0.999, "ignore_na": True}):
        got = s.ewm(adjust=False, **kw).mean() \
            .to_pandas().to_numpy(dtype=float)
        want = p.ewm(adjust=False, **kw).mean().to_numpy(dtype=float)
        npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                            np.nan_to_num(want, nan=-9e9),
                            rtol=1e-8, err_msg=str(kw))
    # multi-batch within a partition: shrink the Arrow batch so each
    # partition scans several batches (state chaining across batches)
    spark = s._sdf.sparkSession
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "13")
        for ign in (False, True):
            got = s.ewm(alpha=0.25, adjust=False, ignore_na=ign) \
                .mean().to_pandas().to_numpy(dtype=float)
            want = p.ewm(alpha=0.25, adjust=False,
                         ignore_na=ign).mean().to_numpy(dtype=float)
            npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                                np.nan_to_num(want, nan=-9e9),
                                rtol=1e-8, err_msg=f"batched ign={ign}")
    finally:
        spark.conf.set(key, old)
    # groupby face takes adjust= too (pandas kernel per group)
    pdf = pd.DataFrame({"g": ["a", "b"] * 30,
                        "v": rng.randn(60)})
    pdf.loc[3::7, "v"] = np.nan
    bdf = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    gb = bdf.groupby("g").ewm(alpha=0.3, adjust=False).mean() \
        .to_pandas()["v"].to_numpy()
    gp = pdf.groupby("g")["v"].transform(
        lambda t: t.ewm(alpha=0.3, adjust=False).mean()).to_numpy()
    npt.assert_allclose(np.nan_to_num(gb, nan=-9e9),
                        np.nan_to_num(gp, nan=-9e9), rtol=1e-8)


def test_ewm_sum_var_std_matches_pandas(bl):
    """ewm().sum/var/std via the four-decayed-sums scan (num/den/
    q/d2; d2 rides the squared decay r^2): both ignore_na flavors,
    bias= faces, min_periods, alpha=1 (var NaN via the natural
    debias singularity), leading nulls, multi-batch chaining."""
    import pandas as pd
    rng = np.random.RandomState(5)
    vals = rng.randn(400)
    vals[rng.rand(400) < 0.2] = np.nan
    vals[:9] = np.nan
    s = bl.DataFrame({"v": vals})["v"]
    p = pd.Series(vals)
    cases = [("sum", {"alpha": 0.3}, {}),
             ("sum", {"alpha": 0.3, "ignore_na": True}, {}),
             ("sum", {"alpha": 1.0}, {}),
             ("var", {"alpha": 0.3}, {}),
             ("var", {"alpha": 0.3}, {"bias": True}),
             ("var", {"alpha": 0.3, "ignore_na": True}, {}),
             ("var", {"alpha": 1.0}, {}),
             ("std", {"span": 10}, {}),
             ("std", {"alpha": 0.3, "min_periods": 6}, {})]
    for stat, kw, skw in cases:
        got = getattr(s.ewm(**kw), stat)(**skw) \
            .to_pandas().to_numpy(dtype=float)
        want = getattr(p.ewm(**kw), stat)(**skw).to_numpy(dtype=float)
        npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                            np.nan_to_num(want, nan=-9e9),
                            rtol=1e-8, atol=1e-12,
                            err_msg=f"{stat} {kw} {skw}")
    spark = s._sdf.sparkSession
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "17")
        for stat in ("sum", "var"):
            got = getattr(s.ewm(alpha=0.25), stat)() \
                .to_pandas().to_numpy(dtype=float)
            want = getattr(p.ewm(alpha=0.25), stat)() \
                .to_numpy(dtype=float)
            npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                                np.nan_to_num(want, nan=-9e9),
                                rtol=1e-8, err_msg=f"batched {stat}")
    finally:
        spark.conf.set(key, old)
    with pytest.raises(NotImplementedError):
        s.ewm(alpha=0.5, adjust=False).sum()


def test_ewm_cov_corr_matches_pandas(bl):
    """ewm().cov/corr between two Series: pairwise alignment + the
    seven-decayed-sums scan (observations need BOTH sides non-null);
    bias= faces, both ignore_na flavors, min_periods, alpha=1,
    zero-variance corr (NaN, never +-inf from residue)."""
    import pandas as pd
    rng = np.random.RandomState(13)
    n = 500
    x = rng.randn(n)
    y = 0.5 * x + rng.randn(n) * 0.3
    x[rng.randint(0, n, 60)] = np.nan
    y[rng.randint(0, n, 60)] = np.nan
    px, py = pd.Series(x), pd.Series(y)
    bx, by = bl.Series(x), bl.Series(y)
    cases = [("cov", {"alpha": 0.3}, {}),
             ("cov", {"alpha": 0.3}, {"bias": True}),
             ("cov", {"alpha": 0.3, "ignore_na": True}, {}),
             ("cov", {"alpha": 0.3, "min_periods": 5}, {}),
             ("cov", {"alpha": 1.0}, {}),
             ("corr", {"alpha": 0.3}, {}),
             ("corr", {"alpha": 0.3, "ignore_na": True}, {})]
    for stat, kw, skw in cases:
        got = getattr(bx.ewm(**kw), stat)(by, **skw) \
            .to_pandas().to_numpy(dtype=float)
        want = getattr(px.ewm(**kw), stat)(py, **skw) \
            .to_numpy(dtype=float)
        npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                            np.nan_to_num(want, nan=-9e9),
                            rtol=1e-8, atol=1e-11,
                            err_msg=f"{stat} {kw} {skw}")
    # self-corr: 1.0 after variance exists, NaN where it is zero
    got = bx.ewm(alpha=0.3).corr(bx).to_pandas().to_numpy(dtype=float)
    want = px.ewm(alpha=0.3).corr(px).to_numpy(dtype=float)
    npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                        np.nan_to_num(want, nan=-9e9),
                        rtol=1e-8, atol=1e-11)


def test_ewm_noadjust_stats_matches_pandas(bl):
    """ewm(adjust=False).var/std/cov/corr: the kernel-state
    perturbation carry (plans/ordinal.with_ewm_noadjust_stats) —
    the renormalizing recurrence (old_wt resets to 1 at each
    observation) is NOT a fixed-weight decayed sum, so these ride
    zero-carry pandas kernels per batch plus a factored perturbation
    merge. Both ignore_na flavors, bias= faces, min_periods,
    constant windows (exact-0 variance, NaN corr — no clamp),
    leading nulls, alpha=1 (NaN via the exact D=0 singularity),
    multi-batch chaining, and the decay spellings."""
    import pandas as pd
    rng = np.random.RandomState(23)
    n = 400
    x = rng.randn(n) * 2 + 1
    y = 0.4 * x + rng.randn(n)
    x[rng.rand(n) < 0.2] = np.nan
    y[rng.rand(n) < 0.15] = np.nan
    x[:11] = np.nan
    px, py = pd.Series(x), pd.Series(y)
    bx, by = bl.Series(x), bl.Series(y)
    for kw in ({"alpha": 0.3}, {"alpha": 0.3, "ignore_na": True},
               {"alpha": 0.9}, {"alpha": 1.0}, {"span": 8},
               {"com": 2.0}, {"halflife": 4.0},
               {"alpha": 0.2, "min_periods": 6}):
        for stat, skw in (("var", {}), ("var", {"bias": True}),
                          ("std", {})):
            got = getattr(bx.ewm(adjust=False, **kw), stat)(**skw) \
                .to_pandas().to_numpy(dtype=float)
            want = getattr(px.ewm(adjust=False, **kw), stat)(**skw) \
                .to_numpy(dtype=float)
            npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                                np.nan_to_num(want, nan=-9e9),
                                rtol=1e-7, atol=1e-10,
                                err_msg=f"{stat} {kw} {skw}")
    for kw in ({"alpha": 0.3}, {"alpha": 0.3, "ignore_na": True},
               {"alpha": 0.75, "min_periods": 4}):
        for stat, skw in (("cov", {}), ("cov", {"bias": True}),
                          ("corr", {})):
            got = getattr(bx.ewm(adjust=False, **kw), stat)(by, **skw) \
                .to_pandas().to_numpy(dtype=float)
            want = getattr(px.ewm(adjust=False, **kw), stat)(py, **skw) \
                .to_numpy(dtype=float)
            npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                                np.nan_to_num(want, nan=-9e9),
                                rtol=1e-7, atol=1e-10,
                                err_msg=f"{stat} {kw} {skw}")
    # constant window: variance EXACTLY 0 (factored merge keeps the
    # kernel's exact zeros), corr NaN — pandas-identical
    cv = np.full(60, 5.0)
    cv[rng.rand(60) < 0.3] = np.nan
    bc, pc = bl.Series(cv), pd.Series(cv)
    for ign in (False, True):
        got = bc.ewm(alpha=0.4, adjust=False, ignore_na=ign).var() \
            .to_pandas().to_numpy(dtype=float)
        want = pc.ewm(alpha=0.4, adjust=False, ignore_na=ign).var() \
            .to_numpy(dtype=float)
        npt.assert_array_equal(np.nan_to_num(got, nan=-9e9),
                               np.nan_to_num(want, nan=-9e9))
        gc = bc.ewm(alpha=0.4, adjust=False,
                    ignore_na=ign).corr(bc).to_pandas() \
            .to_numpy(dtype=float)
        wc = pc.ewm(alpha=0.4, adjust=False,
                    ignore_na=ign).corr(pc).to_numpy(dtype=float)
        npt.assert_array_equal(np.nan_to_num(gc, nan=-9e9),
                               np.nan_to_num(wc, nan=-9e9))
    # multi-batch chaining within partitions
    spark = bx._sdf.sparkSession
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "19")
        for ign in (False, True):
            got = bx.ewm(alpha=0.35, adjust=False, ignore_na=ign) \
                .var().to_pandas().to_numpy(dtype=float)
            want = px.ewm(alpha=0.35, adjust=False, ignore_na=ign) \
                .var().to_numpy(dtype=float)
            npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                                np.nan_to_num(want, nan=-9e9),
                                rtol=1e-7, atol=1e-10,
                                err_msg=f"batched ign={ign}")
            got = bx.ewm(alpha=0.35, adjust=False, ignore_na=ign) \
                .cov(by).to_pandas().to_numpy(dtype=float)
            want = px.ewm(alpha=0.35, adjust=False, ignore_na=ign) \
                .cov(py).to_numpy(dtype=float)
            npt.assert_allclose(np.nan_to_num(got, nan=-9e9),
                                np.nan_to_num(want, nan=-9e9),
                                rtol=1e-7, atol=1e-10,
                                err_msg=f"batched cov ign={ign}")
    finally:
        spark.conf.set(key, old)


def test_frame_ewm_matches_pandas(bl):
    """DataFrame.ewm().mean/sum/var/std: ALL numeric columns through
    ONE fused range layout + two passes (with_ewm_stats_multi; each
    column keeps its own null mask and carry). Includes a column
    with leading nulls only on one side — the first-obs debias
    singularity must be NaN, not a fp-residue 0."""
    import pandas as pd
    rng = np.random.RandomState(6)
    n = 600
    pdf = pd.DataFrame({"a": rng.randn(n), "b": rng.randn(n) * 3})
    pdf.loc[rng.randint(0, n, 70), "a"] = np.nan
    pdf.loc[rng.randint(0, n, 80), "b"] = np.nan
    pdf.loc[:5, "b"] = np.nan
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    for stat in ("mean", "sum", "var", "std"):
        for ign in (False, True):
            got = getattr(df.ewm(alpha=0.3, ignore_na=ign), stat)() \
                .to_pandas()
            want = getattr(pdf.ewm(alpha=0.3, ignore_na=ign), stat)()
            for c in ("a", "b"):
                npt.assert_allclose(
                    np.nan_to_num(got[c].to_numpy(), nan=-9e9),
                    np.nan_to_num(want[c].to_numpy(), nan=-9e9),
                    rtol=1e-8, atol=1e-11,
                    err_msg=f"{stat} ignore_na={ign} col={c}")
    got = df.ewm(span=10, min_periods=4).mean().to_pandas()
    want = pdf.ewm(span=10, min_periods=4).mean()
    npt.assert_allclose(np.nan_to_num(got["a"].to_numpy(), nan=-9e9),
                        np.nan_to_num(want["a"].to_numpy(), nan=-9e9),
                        rtol=1e-8)
    # adjust=False frame face: all columns through ONE noadjust scan
    for stat in ("mean", "var", "std"):
        for ign in (False, True):
            got = getattr(df.ewm(alpha=0.3, adjust=False,
                                 ignore_na=ign), stat)().to_pandas()
            want = getattr(pdf.ewm(alpha=0.3, adjust=False,
                                   ignore_na=ign), stat)()
            for c in ("a", "b"):
                npt.assert_allclose(
                    np.nan_to_num(got[c].to_numpy(), nan=-9e9),
                    np.nan_to_num(want[c].to_numpy(), nan=-9e9),
                    rtol=1e-7, atol=1e-10,
                    err_msg=f"noadjust {stat} ignore_na={ign} "
                            f"col={c}")
    with pytest.raises(NotImplementedError):
        df.ewm(alpha=0.5, adjust=False).sum()
    with pytest.raises(ValueError):
        df.ewm(alpha=0.5, span=3)
    # non-numeric data columns drop from the result's data set
    # (pandas raises DataError; we mirror _FrameRolling's narrowing)
    mixed = bl.DataFrame({"a": pdf["a"].to_numpy(),
                          "s": np.array(["x"] * n)})
    out = mixed.ewm(alpha=0.5).mean()
    assert list(out.to_pandas().columns) == ["a"]


def test_interpolate_matches_pandas(bl):
    """Series.interpolate: linear fill between boundary-carried
    neighbors, pandas edge semantics per limit_direction, limit
    counted from the donor side."""
    import numpy as np
    import pandas as pd
    cases = [
        [np.nan, 1, np.nan, np.nan, 4, np.nan],
        [1, np.nan, np.nan, np.nan, 5.0],
        [np.nan, np.nan, 2.0],
        list(np.where(np.arange(40) % 7 < 2, np.nan,
                      np.arange(40, dtype=float))),
    ]
    for vals in cases:
        for ld in ("forward", "backward", "both"):
            for lim in (None, 2):
                exp = pd.Series(vals).interpolate(
                    limit=lim, limit_direction=ld).tolist()
                got = bl.Series(np.array(vals, dtype=float)) \
                    .interpolate(limit=lim, limit_direction=ld) \
                    .to_pandas().tolist()
                assert len(got) == len(exp)
                for a, b in zip(exp, got):
                    assert (a != a and b != b) or abs(a - b) < 1e-12, \
                        (vals[:8], ld, lim, exp, got)
    import pytest
    with pytest.raises(ValueError, match="linear"):
        bl.Series(np.array([1.0])).interpolate(method="pad")


def test_frame_interpolate_shared_pass(bl):
    """DataFrame.interpolate: every numeric column through ONE fused
    layout pass; string columns untouched; pandas edge semantics."""
    import numpy as np
    import pandas as pd
    pdf = pd.DataFrame({"a": [np.nan, 1., np.nan, 4.],
                        "b": [1., np.nan, np.nan, 10.],
                        "s": list("wxyz")})
    df = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    for ld in ("forward", "backward", "both"):
        for lim in (None, 1):
            g = df.interpolate(limit=lim, limit_direction=ld) \
                .to_pandas()
            w = pdf.interpolate(limit=lim, limit_direction=ld)
            for c in ("a", "b"):
                assert g[c].fillna(-9).tolist() == \
                    w[c].fillna(-9).tolist(), (c, ld, lim)
            assert g["s"].tolist() == w["s"].tolist()
    for frame in (df, pdf[["a", "b"]]):
        with pytest.raises(ValueError):
            frame.interpolate(limit=0)


def test_grouped_ewm_batched_kernel_holdover(bl):
    """r8: grouped ewm runs pandas' Cython GROUPED kernel over whole
    Arrow batches inside mapInPandas (many groups per Python call);
    a group straddling a batch boundary is held over and prepended
    to the next batch. Force the straddle with a tiny
    maxRecordsPerBatch and group sizes larger than the batch, both
    adjust flavors, NaN-laced."""
    import pandas as pd
    rng = np.random.RandomState(11)
    n = 400
    pdf = pd.DataFrame({
        "g": np.repeat(np.arange(20), n // 20),   # 20 rows/group
        "o": np.arange(n, dtype=np.int64),
        "v": rng.randn(n)})
    pdf.loc[pdf.index % 7 == 3, "v"] = np.nan
    bdf = bl.DataFrame({k: pdf[k].to_numpy() for k in pdf})
    spark = bdf._sdf.sparkSession
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "13")   # << group size 20 => straddles
        for adj in (True, False):
            for stat in ("mean", "var"):
                got = getattr(bdf.groupby("g")[["v"]]
                              .ewm(alpha=0.3, adjust=adj), stat)() \
                    .to_pandas()
                want = pdf.groupby("g")["v"].transform(
                    lambda t, a=adj, s=stat:
                    getattr(t.ewm(alpha=0.3, adjust=a), s)())
                gv = got["v"].to_numpy(dtype=float)
                npt.assert_allclose(
                    np.nan_to_num(gv, nan=-9e9),
                    np.nan_to_num(want.to_numpy(), nan=-9e9),
                    rtol=1e-8, err_msg=f"adj={adj} {stat}")
    finally:
        spark.conf.set(key, old)


def test_series_rolling_cov_corr_apply_match_pandas(bl):
    """Rolling cov/corr decompose into prefix sums over JOINTLY
    valid pairs (sum x, sum y, sum xy, joint count, + squares for
    corr) — pure JVM, one prefix pass + one shared boundary shift.
    Rolling apply ships the closure through the local-carry pass."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(13)
    n = 250
    x = rng.normal(size=n)
    y = 0.5 * x + rng.normal(size=n)
    x[rng.random(n) < 0.15] = np.nan
    y[rng.random(n) < 0.15] = np.nan
    px, py = pd.Series(x), pd.Series(y)
    d = bl.DataFrame({"x": x, "y": y})
    for w, mp in [(5, None), (8, 3), (300, 2)]:
        got = d["x"].rolling(w, min_periods=mp).cov(d["y"]) \
            .to_pandas().to_numpy()
        want = px.rolling(w, min_periods=mp).cov(py).to_numpy()
        np.testing.assert_allclose(got, want, atol=1e-9,
                                   equal_nan=True)
        got = d["x"].rolling(w, min_periods=mp).corr(d["y"]) \
            .to_pandas().to_numpy()
        want = px.rolling(w, min_periods=mp).corr(py).to_numpy()
        np.testing.assert_allclose(np.nan_to_num(got, nan=-9),
                                   np.nan_to_num(want, nan=-9),
                                   atol=1e-7)
    # cross-frame pair: positional alignment
    got = d["x"].rolling(6, min_periods=2).cov(bl.Series(y)) \
        .to_pandas().to_numpy()
    want = px.rolling(6, min_periods=2).cov(py).to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)
    # apply: arbitrary closure through the carry pass
    fn = lambda a: np.nanmax(a) - np.nanmin(a)  # noqa: E731
    got = d["x"].rolling(4, min_periods=2).apply(fn, raw=True) \
        .to_pandas().to_numpy()
    want = px.rolling(4, min_periods=2).apply(fn, raw=True) \
        .to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-12, equal_nan=True)


def test_series_expanding_moments_match_pandas(bl):
    """Expanding sem/skew/kurt/cov/corr decompose into prefix sums,
    so they stay pure JVM. skew/kurt center on the GLOBAL mean first
    (one scalar pre-agg): the moments are shift-invariant, and raw
    x^3/x^4 sums cancel catastrophically on large-mean data — the
    probe uses mean 5e4 to prove the centering works. pandas' WINDOW
    sem is std/sqrt(n - ddof), pinned here (the scalar Series.sem is
    std/sqrt(n))."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(21)
    n = 250
    x = rng.normal(loc=5e4, scale=100, size=n)
    y = 0.4 * x + rng.normal(size=n) * 50
    x[rng.random(n) < 0.12] = np.nan
    y[rng.random(n) < 0.1] = np.nan
    px, py = pd.Series(x), pd.Series(y)
    d = bl.DataFrame({"x": x, "y": y})
    for stat in ("sem", "skew", "kurt"):
        got = getattr(d["x"].expanding(2), stat)() \
            .to_pandas().to_numpy()
        want = getattr(px.expanding(2), stat)().to_numpy()
        np.testing.assert_allclose(
            np.nan_to_num(got, nan=-9), np.nan_to_num(want, nan=-9),
            atol=1e-6, rtol=1e-6, err_msg=f"expanding {stat}")
    got = d["x"].expanding(2).cov(d["y"]).to_pandas().to_numpy()
    want = px.expanding(2).cov(py).to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-7, equal_nan=True)
    got = d["x"].expanding(3).corr(d["y"]).to_pandas().to_numpy()
    want = px.expanding(3).corr(py).to_numpy()
    np.testing.assert_allclose(np.nan_to_num(got, nan=-9),
                               np.nan_to_num(want, nan=-9), atol=1e-6)



def test_frame_expanding_skew_kurt_match_pandas(bl):
    """DataFrame.expanding skew/kurt take the same centered prefix
    sums as the Series face (core/window.Rolling._centered_powers:
    one scalar pre-agg of every column's mean, one prefix pass, no
    row budget) — on the mean-5e4 data that makes uncentered power
    sums cancel, column for column equal to the Series face."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(21)
    n = 250
    x = rng.normal(loc=5e4, scale=100, size=n)
    y = 0.4 * x + rng.normal(size=n) * 50
    x[rng.random(n) < 0.12] = np.nan
    y[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"x": x, "y": y})
    d = bl.DataFrame({"x": x, "y": y})
    for stat in ("skew", "kurt"):
        got = getattr(d.expanding(2), stat)().to_pandas()
        want = getattr(pdf.expanding(2), stat)()
        for c in ("x", "y"):
            np.testing.assert_allclose(
                np.nan_to_num(got[c].to_numpy(), nan=-9),
                np.nan_to_num(want[c].to_numpy(), nan=-9),
                atol=1e-6, rtol=1e-6, err_msg=f"frame expanding {stat}")
            ser = getattr(d[c].expanding(2), stat)().to_pandas()
            np.testing.assert_allclose(
                got[c].to_numpy(), ser.to_numpy(), rtol=1e-12,
                equal_nan=True, err_msg=f"{stat} {c} vs Series face")

def test_rolling_center_matches_pandas(bl):
    """center=True across all faces. pandas' split is LEFT-heavy for
    even windows — [i - w//2, i + (w-1)//2] — pinned here with even
    AND odd windows. Global centered windows ride the two-sided
    local carry (prefix stats included: the lookahead makes the
    prefix-difference trick a second carry pass, so one Arrow pass
    over pandas kernels is the simpler exact shape); grouped JVM
    aggregates use a rowsBetween(-w//2, +(w-1)//2) frame."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(29)
    n = 350
    v = rng.normal(size=n)
    v[rng.random(n) < 0.15] = np.nan
    u = rng.normal(size=n)
    ps, s = pd.Series(v), bl.Series(v)
    for w, mp in [(3, None), (4, 1), (2, 1), (6, 3), (400, 1)]:
        for stat, kw in [("sum", {}), ("mean", {}), ("count", {}),
                         ("var", {}), ("min", {}), ("median", {}),
                         ("rank", {})]:
            got = getattr(s.rolling(w, min_periods=mp, center=True),
                          stat)(**kw).to_pandas().to_numpy()
            want = getattr(ps.rolling(w, min_periods=mp, center=True),
                           stat)(**kw).to_numpy()
            np.testing.assert_allclose(
                got, want, atol=1e-9, equal_nan=True,
                err_msg=f"center {stat} w={w} mp={mp}")
    d = bl.DataFrame({"v": v, "u": u})
    pu = pd.Series(u)
    got = d["v"].rolling(6, min_periods=2, center=True).cov(d["u"]) \
        .to_pandas().to_numpy()
    want = ps.rolling(6, min_periods=2, center=True).cov(pu) \
        .to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)
    g = rng.integers(0, 12, n).astype(str)
    pg = pd.DataFrame({"g": g, "v": v, "u": u})
    bg = bl.DataFrame({"g": g, "v": v, "u": u})
    got = bg.groupby("g")[["v", "u"]] \
        .rolling(4, min_periods=2, center=True).sum() \
        .to_pandas()[["v", "u"]].to_numpy()
    want = pg.groupby("g", sort=False)[["v", "u"]] \
        .rolling(4, min_periods=2, center=True).sum() \
        .reset_index(level=0, drop=True).sort_index().to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)
    got = bg.groupby("g")[["v", "u"]] \
        .rolling(5, min_periods=1, center=True).median() \
        .to_pandas()[["v", "u"]].to_numpy()
    want = pg.groupby("g", sort=False)[["v", "u"]] \
        .rolling(5, min_periods=1, center=True).median() \
        .reset_index(level=0, drop=True).sort_index().to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)


def test_expanding_zero_variance_skew_kurt(bl):
    """pandas' window kernels special-case EXACT zero variance: a
    constant window yields skew 0.0 and kurt -3.0 (the raw excess of
    a point mass, uncorrected) — while NEAR-zero variance stays NaN.
    Probe wave 17 caught the engine returning NaN for the exact-zero
    case."""
    import numpy as np
    import pandas as pd
    c = np.array([4.0] * 6)
    got = bl.Series(c).expanding(1).skew().to_pandas().to_numpy()
    want = pd.Series(c).expanding(1).skew().to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)
    got = bl.Series(c).expanding(1).kurt().to_pandas().to_numpy()
    want = pd.Series(c).expanding(1).kurt().to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)


def test_time_offset_rolling_matches_pandas(bl):
    """rolling('2h') over a datetime index: window_agg(i) =
    prefix(i) - prefix(as-of t_i - offset) — one prefix pass + one
    as-of join, both partition-safe two-pass schemes. Duplicate
    stamps follow pandas' positional j <= i rule exactly (the
    subtrahend is the LAST row at or before the boundary, picked by
    the strictly-increasing row prefix). Grouped flavor rides a
    per-group RANGE frame (min/max included)."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(31)
    n = 300
    secs = np.sort(rng.integers(0, 36000, n))
    secs[50] = secs[49]
    secs[51] = secs[49]        # duplicate stamps
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.15] = np.nan
    ps = pd.Series(v, index=ts)
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v}).set_index("ts")
    # r9: the subtrahend lookup has two faces — broadcast
    # searchsorted under _TR_BROADCAST_MAX_ROWS (the default here),
    # union-carry asof_join above it (forced via the cap) — both
    # must match pandas exactly
    from baloo_spark.core import series as _S
    cap0 = _S._TR_BROADCAST_MAX_ROWS
    for cap in (cap0, -1):
        _S._TR_BROADCAST_MAX_ROWS = cap
        try:
            for w in ("30min", "2h"):
                for stat, mp in (("sum", None), ("mean", 2),
                                 ("count", None), ("var", 2),
                                 ("std", None)):
                    got = getattr(d["v"].rolling(w, min_periods=mp),
                                  stat)().to_pandas().to_numpy()
                    want = getattr(ps.rolling(w, min_periods=mp),
                                   stat)().to_numpy()
                    np.testing.assert_allclose(
                        got, want, atol=1e-9, equal_nan=True,
                        err_msg=f"time rolling {stat} {w} cap={cap}")
        finally:
            _S._TR_BROADCAST_MAX_ROWS = cap0
    import datetime
    got = d["v"].rolling(datetime.timedelta(minutes=10)).sum() \
        .to_pandas().to_numpy()
    want = ps.rolling("10min").sum().to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)
    import pytest
    # r9: time-rolling min is the budgeted pass now; the refusal
    # moved behind max_rows
    got = d["v"].rolling("30min", min_periods=1).min().to_pandas() \
        .to_numpy()
    want = ps.rolling("30min", min_periods=1).min().to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)
    with pytest.raises(ValueError, match="max_rows"):
        d["v"].rolling("30min").min(max_rows=2)
    # grouped flavor: per-group RANGE frame, min/max included
    g = rng.integers(0, 10, n).astype(str)
    u = np.sort(rng.choice(np.arange(0, 50000), size=n,
                           replace=False))
    ts2 = pd.to_datetime("2024-01-01") + pd.to_timedelta(u, "s")
    pdf = pd.DataFrame({"g": g, "ts": ts2, "v": v})
    bd = bl.DataFrame({"g": g, "ts": ts2.to_numpy(), "v": v}) \
        .sort_values("ts")
    for stat in ("sum", "min", "max", "var"):
        got = getattr(bd.groupby("g")[["v"]].rolling("20min"),
                      stat)().to_pandas()["v"].to_numpy()
        want = getattr(pdf.set_index("ts")
                       .groupby("g", sort=False)[["v"]]
                       .rolling("20min"), stat)().reset_index() \
            .sort_values("ts")["v"].to_numpy()
        np.testing.assert_allclose(got, want, atol=1e-9,
                                   equal_nan=True,
                                   err_msg=f"grouped time {stat}")


def test_frame_time_offset_rolling_matches_pandas(bl):
    """DataFrame.rolling('25min'): every numeric column shares ONE
    prefix pass and ONE as-of join (core/series._time_roll_multi) —
    the same two jobs a single column costs."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(41)
    n = 200
    secs = np.sort(rng.integers(0, 30000, n))
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.1] = np.nan
    u = rng.normal(size=n)
    pdf = pd.DataFrame({"v": v, "u": u}, index=ts)
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v, "u": u}) \
        .set_index("ts")
    for stat, mp in (("sum", None), ("mean", 2), ("var", 2),
                     ("count", None)):
        got = getattr(d.rolling("25min", min_periods=mp), stat)() \
            .to_pandas()[["v", "u"]].to_numpy()
        want = getattr(pdf.rolling("25min", min_periods=mp),
                       stat)().to_numpy()
        np.testing.assert_allclose(got, want, atol=1e-9,
                                   equal_nan=True,
                                   err_msg=f"frame time {stat}")


def test_time_decay_ewm_matches_pandas(bl):
    """ewm(halflife='30min') over a datetime index (pandas
    times=...): weights decay with actual stamp distance. Rides the
    segmented-anchor two-pass carry (with_ewm_mean_times_multi): within a
    segment spanning < 50 halflives the anchored cumsum is exact to
    double precision; segments, partitions, and the driver combine
    all chain through the analytic 2^(-dt/hl) decay fold. The 10s
    halflife case drives gaps hundreds of halflives wide — the
    underflow forward-fill and the segmentation both fire."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(61)
    n = 500
    secs = np.sort(rng.choice(np.arange(0, 2_000_000), n,
                              replace=False))
    # duplicate stamps: zero dt between them (same weight)
    secs[100] = secs[99]
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.15] = np.nan
    v[0] = np.nan                    # NaN before the first obs
    ps = pd.Series(v)
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v}).set_index("ts")
    for hl, mp in (("30min", 0), ("2h", 3), ("10s", 0)):
        got = d["v"].ewm(halflife=hl, min_periods=mp).mean() \
            .to_pandas().to_numpy()
        want = ps.ewm(halflife=pd.Timedelta(hl), times=ts,
                      min_periods=mp).mean().to_numpy()
        np.testing.assert_allclose(got, want, atol=1e-9, rtol=1e-9,
                                   equal_nan=True, err_msg=hl)
    # grouped flavor: pandas' own kernel inside the batched pass
    g = rng.integers(0, 8, n).astype(str)
    pdf = pd.DataFrame({"g": g, "ts": ts, "v": v})
    bd = bl.DataFrame({"g": g, "ts": ts.to_numpy(), "v": v}) \
        .sort_values("ts")
    got = bd.groupby("g").ewm(halflife="1h", times="ts").mean() \
        .to_pandas().sort_values(["ts", "g"])["v"].to_numpy()
    wv = (pdf.groupby("g", sort=False)[["ts", "v"]]
          .apply(lambda x: pd.Series(
              x["v"].ewm(halflife=pd.Timedelta("1h"),
                         times=x["ts"]).mean().to_numpy(),
              index=x.index))
          .reset_index(level=0, drop=True).sort_index().to_numpy())
    # the duplicated stamp lives in two groups — sort both sides by
    # (ts, g) so the tie order is deterministic
    want = pd.DataFrame({"ts": ts, "g": g, "v": wv}) \
        .sort_values(["ts", "g"])["v"].to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-12, equal_nan=True)
    import pytest
    with pytest.raises(NotImplementedError, match="adjust=False"):
        d["v"].ewm(halflife="1h", adjust=False).mean()


def test_frame_time_decay_ewm_matches_pandas(bl):
    """DataFrame.ewm(halflife='45min') over a datetime index: every
    numeric column shares ONE segmented-anchor scan
    (with_ewm_mean_times_multi) — the same layout and two passes a
    single column costs."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(67)
    n = 300
    secs = np.sort(rng.choice(np.arange(0, 1_000_000), n,
                              replace=False))
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.15] = np.nan
    u = rng.normal(size=n)
    pdf = pd.DataFrame({"v": v, "u": u}, index=ts)
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v, "u": u}) \
        .set_index("ts")
    got = d.ewm(halflife="45min").mean().to_pandas()[["v", "u"]] \
        .to_numpy()
    want = pdf.ewm(halflife=pd.Timedelta("45min"),
                   times=pdf.index).mean().to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, rtol=1e-9,
                               equal_nan=True)


def test_time_decay_ewm_row_order_semantics(bl):
    """r9 verdict item: pandas computes ewm(times=) decay deltas in
    ROW order — times need not be monotonic (a past-dated row
    carries weight > 1 relative to its predecessor). The engine
    used to silently sort by the times column first; now the scan's
    signed analytic fold reproduces pandas exactly for backward
    jumps within the 50-halflife precision band (beyond it pandas'
    own kernel overflows to inf/nan — documented divergence, the
    engine forward-fills through the overflow). Null stamps raise
    ValueError like pandas' NaT error, gated driver-side on a count
    the pass-1 ends scan already produces."""
    import numpy as np
    import pandas as pd
    import pytest

    # the verdict's probe, exact
    t = pd.to_datetime(["2024-01-01", "2024-01-03", "2024-01-02"])
    d = bl.DataFrame({"t": t.to_numpy(),
                      "v": np.array([1., 2., 3.])})
    got = d["v"].ewm(halflife="1d", times="t").mean() \
        .to_pandas().to_numpy()
    np.testing.assert_allclose(
        got, [1.0, 1.8, 2.142857142857143], rtol=1e-12)

    # locally non-monotonic jitter (out-of-order arrival), NaN vals
    rng = np.random.default_rng(11)
    n = 500
    offs = np.arange(n) * 1.5 + rng.normal(0, 6, n)      # hours
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(offs, "h")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.08] = np.nan
    ps = pd.Series(v)
    d = bl.DataFrame({"t": ts.to_numpy(), "v": v})
    for hl, mp in (("1h", 2), ("6h", 0)):
        got = d["v"].ewm(halflife=hl, times="t", min_periods=mp) \
            .mean().to_pandas().to_numpy()
        want = ps.ewm(halflife=pd.Timedelta(hl),
                      times=np.array(ts, dtype="datetime64[ns]"),
                      min_periods=mp).mean().to_numpy()
        np.testing.assert_allclose(got, want, atol=1e-9, rtol=1e-8,
                                   equal_nan=True, err_msg=hl)

    # frame face shares the layout
    pdf = pd.DataFrame({"v": v, "u": rng.normal(size=n)})
    bd = bl.DataFrame({"t": ts.to_numpy(), "v": v,
                       "u": pdf["u"].to_numpy()})
    got = bd.ewm(halflife="2h", times="t").mean() \
        .to_pandas()[["v", "u"]].to_numpy()
    want = pdf.ewm(halflife=pd.Timedelta("2h"),
                   times=np.array(ts, dtype="datetime64[ns]")) \
        .mean().to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, rtol=1e-8,
                               equal_nan=True)

    # null stamps raise (pandas: "Cannot convert NaT values ...")
    d2 = bl.DataFrame(
        {"t": pd.to_datetime(["2024-01-01", None, "2024-01-02"])
         .to_numpy(),
         "v": np.array([1., 2., 3.])})
    with pytest.raises(ValueError, match="null stamp"):
        d2["v"].ewm(halflife="1d", times="t").mean().to_pandas()


def test_expanding_median_quantile_global_face(bl):
    """r9: the global expanding median/quantile face — row i needs
    its FULL history (no bounded carry exists), so the face is an
    EXPLICITLY BUDGETED single-partition pandas pass (one count job
    gates max_rows, default 10M; above it the ValueError names the
    distributed alternatives). Series and frame faces; the frame
    pass shares one partition across all numeric columns."""
    import numpy as np
    import pandas as pd
    import pytest

    rng = np.random.default_rng(31)
    n = 400
    v = rng.normal(size=n)
    v[rng.random(n) < 0.1] = np.nan
    ps = pd.Series(v)
    s = bl.Series(v)
    for mp in (1, 3):
        got = s.expanding(mp).median().to_pandas().to_numpy()
        want = ps.expanding(mp).median().to_numpy()
        np.testing.assert_allclose(got, want, equal_nan=True,
                                   err_msg=f"mp={mp}")
    got = s.expanding(2).quantile(0.25).to_pandas().to_numpy()
    want = ps.expanding(2).quantile(0.25).to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)

    # the budget gate stays honest
    with pytest.raises(ValueError, match="max_rows"):
        s.expanding(1).median(max_rows=10)

    # frame face: every numeric column in one pass
    pdf = pd.DataFrame({"a": v, "b": rng.normal(size=n)})
    d = bl.DataFrame({"a": v, "b": pdf["b"].to_numpy()})
    got = d.expanding(2).median().to_pandas()[["a", "b"]].to_numpy()
    want = pdf.expanding(2).median().to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)
    got = d.expanding(1).quantile(0.9).to_pandas()[["a", "b"]] \
        .to_numpy()
    want = pdf.expanding(1).quantile(0.9).to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)

    # logical order is respected (a sorted series expands in its
    # sorted order, not ingest order)
    raw = np.array([3., 1., 2., 5., 4.])
    got = bl.Series(raw).sort_values().expanding(1).median() \
        .to_pandas().to_numpy()
    want = pd.Series(raw).sort_values().expanding(1).median() \
        .to_numpy()
    np.testing.assert_allclose(got, want)


def test_time_rolling_order_stats_budgeted(bl):
    """r9: global time-offset rolling min/max/median/quantile —
    these do not decompose into prefix + as-of, so the face is the
    same explicitly budgeted single-partition pandas pass as the
    global expanding order stats (count job gates max_rows; pandas'
    own kernel supplies the duplicate-stamp positional tie rule).
    Series and frame faces."""
    import numpy as np
    import pandas as pd
    import pytest

    rng = np.random.default_rng(9)
    n = 300
    secs = np.sort(rng.choice(np.arange(0, 500000), n,
                              replace=False))
    secs[50] = secs[49]                       # duplicate stamp
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.1] = np.nan
    ps = pd.Series(v, index=ts)
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v}).set_index("ts")
    for stat in ("min", "max", "median"):
        got = getattr(d["v"].rolling("2h", min_periods=1), stat)() \
            .to_pandas().to_numpy()
        want = getattr(ps.rolling("2h", min_periods=1), stat)() \
            .to_numpy()
        np.testing.assert_allclose(got, want, equal_nan=True,
                                   err_msg=stat)
    got = d["v"].rolling("3h", min_periods=2).quantile(0.3) \
        .to_pandas().to_numpy()
    want = ps.rolling("3h", min_periods=2).quantile(0.3).to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)
    with pytest.raises(ValueError, match="max_rows"):
        d["v"].rolling("2h").min(max_rows=10)
    pdf = pd.DataFrame({"v": v, "u": rng.normal(size=n)}, index=ts)
    d2 = bl.DataFrame({"ts": ts.to_numpy(), "v": v,
                       "u": pdf["u"].to_numpy()}).set_index("ts")
    for stat in ("max", "median"):
        got = getattr(d2.rolling("90min", min_periods=1), stat)() \
            .to_pandas()[["v", "u"]].to_numpy()
        want = getattr(pdf.rolling("90min", min_periods=1), stat)() \
            .to_numpy()
        np.testing.assert_allclose(got, want, equal_nan=True,
                                   err_msg=stat)


def test_time_offset_rolling_order_stats_r10(bl):
    """r10: global time-offset rolling rank/skew/kurt/apply ride the
    SAME budgeted single-partition pandas pass as median/quantile
    (pandas' kernel supplies the duplicate-stamp positional tie
    rule and the exact-zero-variance special cases); sem DECOMPOSES
    — pandas' window sem is sample-std/sqrt(n - ddof) with the
    numerator ddof=1 regardless (probed), so it is the same prefix
    + as-of pass as std, no budget."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(107)
    n = 250
    secs = np.sort(rng.integers(0, 30000, n))
    secs[60] = secs[59]
    secs[61] = secs[59]        # duplicate stamps: positional ties
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.12] = np.nan
    v[100:104] = 7.25          # a constant stretch: zero-variance
    ps = pd.Series(v, index=ts)
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v}).set_index("ts")
    for w in ("30min", "2h"):
        pr = ps.rolling(w)
        br = d["v"].rolling(w)
        cases = [
            ("rank", {}, {}),
            ("rank", dict(method="min", ascending=False, pct=True),
             dict(method="min", ascending=False, pct=True)),
            ("skew", {}, {}),
            ("kurt", {}, {}),
            ("sem", {}, {}),
            ("sem", dict(ddof=0), dict(ddof=0)),
            ("apply", dict(func=lambda x: x.max() - x.min(),
                           raw=True),
             dict(func=lambda x: x.max() - x.min(), raw=True)),
        ]
        for stat, bkw, pkw in cases:
            got = getattr(br, stat)(**bkw).to_pandas().to_numpy()
            want = getattr(pr, stat)(**pkw).to_numpy()
            np.testing.assert_allclose(
                got, want, atol=1e-9, equal_nan=True,
                err_msg=f"time rolling {stat} {w} {bkw}")
    # min_periods flows through to pandas' kernel
    got = d["v"].rolling("1h", min_periods=5).rank().to_pandas() \
        .to_numpy()
    want = ps.rolling("1h", min_periods=5).rank().to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)
    # the budget gate names the alternatives (sem has no budget —
    # it decomposes)
    with pytest.raises(ValueError, match="max_rows"):
        d["v"].rolling("30min").rank(max_rows=2)
    with pytest.raises(ValueError, match="max_rows"):
        d["v"].rolling("30min").apply(lambda x: x.sum(), max_rows=2)


def test_sem_n_eq_ddof_boundary_r11(bl):
    """r11: at the n == ddof row pandas divides a finite SAMPLE std
    by sqrt(n - ddof) = 0 and emits +inf — unless the window is
    constant, where 0/0 stays NaN. The r10 gate (c > ddof)
    suppressed the inf row on every prefix-decomposed face
    (expanding / fixed rolling / time-offset rolling, Series and
    frame); probed vs pandas across ddof in {0,1,2,3}."""
    import numpy as np
    import pandas as pd
    vary = [1.0, 2.0, 4.0, 8.0, 16.0]
    const = [5.0] * 5
    for data in (vary, const):
        ps = pd.Series(data)
        bs = bl.Series(np.array(data))
        for ddof in (0, 1, 2, 3):
            np.testing.assert_allclose(
                bs.expanding(1).sem(ddof=ddof).to_pandas()
                .to_numpy(),
                ps.expanding(1).sem(ddof=ddof).to_numpy(),
                atol=1e-9, equal_nan=True,
                err_msg=f"expanding sem ddof={ddof} {data[:2]}")
            np.testing.assert_allclose(
                bs.rolling(3, min_periods=1).sem(ddof=ddof)
                .to_pandas().to_numpy(),
                ps.rolling(3, min_periods=1).sem(ddof=ddof)
                .to_numpy(),
                atol=1e-9, equal_nan=True,
                err_msg=f"rolling sem ddof={ddof} {data[:2]}")
    # frame + time-offset faces at the boundary
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        [0, 10, 20, 90, 100], "min")
    d = bl.DataFrame({"t": ts.to_numpy(),
                      "a": np.array(vary),
                      "b": np.array(const)}).set_index("t")
    pf = pd.DataFrame({"a": vary, "b": const}, index=ts)
    for ddof in (2, 3):
        got = d.expanding(1).sem(ddof=ddof).to_pandas()
        want = pf.expanding(1).sem(ddof=ddof)
        np.testing.assert_allclose(
            got[["a", "b"]].to_numpy(), want[["a", "b"]].to_numpy(),
            atol=1e-9, equal_nan=True,
            err_msg=f"frame expanding sem ddof={ddof}")
        np.testing.assert_allclose(
            d["a"].rolling("30min").sem(ddof=ddof).to_pandas()
            .to_numpy(),
            pf["a"].rolling("30min").sem(ddof=ddof).to_numpy(),
            atol=1e-9, equal_nan=True,
            err_msg=f"time rolling sem ddof={ddof}")


def test_ewm_times_accepts_same_frame_series_r10(bl):
    """r10: ewm(times=df["t"]) — the natural pandas spelling — is
    the string spelling; a foreign Series raises a TypeError that
    names the string spelling."""
    import numpy as np
    import pandas as pd
    import pytest
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        [0, 40, 65, 65, 200, 1000, 1001], "s")
    v = np.array([1.0, 2.0, np.nan, 4.0, -1.0, 0.5, 3.0])
    d = bl.DataFrame({"t": ts.to_numpy(), "v": v})
    via_str = d["v"].ewm(halflife="30s", times="t").mean() \
        .to_pandas().to_numpy()
    via_series = d["v"].ewm(halflife="30s", times=d["t"]).mean() \
        .to_pandas().to_numpy()
    np.testing.assert_allclose(via_series, via_str, equal_nan=True)
    want = pd.Series(v).ewm(
        halflife=pd.Timedelta("30s"), times=ts).mean().to_numpy()
    np.testing.assert_allclose(via_series, want, atol=1e-9,
                               equal_nan=True)
    # frame face too
    fstr = d.ewm(halflife="30s", times="t").mean().to_pandas()
    fser = d.ewm(halflife="30s", times=d["t"]).mean().to_pandas()
    np.testing.assert_allclose(fser["v"].to_numpy(),
                               fstr["v"].to_numpy(), equal_nan=True)
    other = bl.DataFrame({"t2": ts.to_numpy()})
    with pytest.raises(TypeError, match="string"):
        d["v"].ewm(halflife="30s", times=other["t2"]).mean()
    with pytest.raises(TypeError, match="string"):
        d.ewm(halflife="30s", times=other["t2"]).mean()


def test_time_offset_rolling_pair_stats_r10(bl):
    """r10: time-offset rolling cov/corr — the expanding pair
    recipe (prefix sums over jointly valid pairs) windowed by the
    shared prefix-difference + as-of pass. Same ONE prefix pass +
    ONE lookup as sum; pandas-exact incl. duplicate stamps, NaN
    masking on either side, ddof, min_periods, and the
    constant-window corr -> NaN rule."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(56)
    n = 260
    secs = np.sort(rng.integers(0, 40000, n))
    secs[70] = secs[69]
    secs[71] = secs[69]
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    x = rng.normal(size=n)
    y = 0.5 * x + rng.normal(size=n)
    x[rng.random(n) < 0.1] = np.nan
    y[rng.random(n) < 0.1] = np.nan
    x[120:125] = 3.0           # constant stretch: corr undefined
    d = bl.DataFrame({"ts": ts.to_numpy(), "x": x, "y": y}) \
        .set_index("ts")
    px = pd.Series(x, index=ts)
    py = pd.Series(y, index=ts)
    for w in ("30min", "2h"):
        for st, kw in (("cov", {}), ("cov", dict(ddof=0)),
                       ("corr", {})):
            got = getattr(d["x"].rolling(w), st)(d["y"], **kw) \
                .to_pandas().to_numpy()
            want = getattr(px.rolling(w), st)(py, **kw).to_numpy()
            np.testing.assert_allclose(
                got, want, atol=1e-8, equal_nan=True,
                err_msg=f"time rolling {st} {w} {kw}")
    got = d["x"].rolling("1h", min_periods=5).corr(d["y"]) \
        .to_pandas().to_numpy()
    want = px.rolling("1h", min_periods=5).corr(py).to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-8, equal_nan=True)
    with pytest.raises(TypeError, match="Series"):
        d["x"].rolling("1h").corr(3)


def test_time_offset_rolling_corr_zero_variance_pin_r10(bl):
    """PIN: a zero-variance side in time-rolling corr yields NaN.
    pandas' kernel divides its own roundoff by the zero std and
    emits a noise-signed ±inf when the roundoff is nonzero (found
    live on events.parquet) — the sign is unreproducible, NaN is
    the exact-arithmetic answer."""
    import numpy as np
    import pandas as pd
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        [0, 60, 7200, 7260], "s")
    x = np.array([185.22, 106.03, 33.5, 90.1])   # real-ish spread
    y = np.array([13.0, 13.0, 7.0, 7.0])         # constant windows
    d = bl.DataFrame({"t": ts.to_numpy(), "x": x, "y": y}) \
        .set_index("t")
    got = d["x"].rolling("30min").corr(d["y"]).to_pandas().to_numpy()
    # rows 1 and 3 have n=2 with constant y -> NaN (pandas: ±inf
    # from roundoff on these magnitudes)
    assert np.isnan(got[[0, 1, 3]]).all()
    want = pd.Series(x, index=ts).rolling("30min") \
        .corr(pd.Series(y, index=ts)).to_numpy()
    # where pandas is finite, values must agree
    fin = np.isfinite(want)
    np.testing.assert_allclose(got[fin], want[fin], atol=1e-8)


def test_frame_time_offset_rolling_new_stats_r10(bl):
    """r10: the frame time-rolling face mirrors the Series face —
    sem on the shared prefix pass; rank/skew/kurt/apply on the
    budgeted all-columns pandas pass. Every numeric column in one
    kernel call."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(77)
    n = 150
    secs = np.sort(rng.integers(0, 30000, n))
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    u = rng.normal(size=n) * 3
    v[rng.random(n) < 0.1] = np.nan
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v, "u": u}) \
        .set_index("ts")
    pdf = pd.DataFrame({"v": v, "u": u}, index=ts)
    for stat, kw in (("sem", {}), ("rank", {}), ("skew", {}),
                     ("kurt", {}),
                     ("apply", dict(func=lambda x: x.sum(),
                                    raw=True))):
        got = getattr(d.rolling("45min"), stat)(**kw).to_pandas()
        want = getattr(pdf.rolling("45min"), stat)(**kw)
        np.testing.assert_allclose(
            got[["v", "u"]].to_numpy(), want[["v", "u"]].to_numpy(),
            atol=1e-9, equal_nan=True, err_msg=stat)


def test_time_rolling_agg_pairs_fused_r10(bl):
    """r10 ENGINE EXTENSION: _FrameTimeRolling.agg_pairs — every
    requested per-column sum/mean/count and pairwise cov/corr in
    ONE prefix pass + ONE as-of lookup. Values must equal the
    one-stat-per-call faces (which each pay a full two-pass scheme)
    and pandas."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(91)
    n = 220
    secs = np.sort(rng.integers(0, 30000, n))
    secs[40] = secs[39]
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    x = rng.normal(size=n)
    y = 0.3 * x + rng.normal(size=n)
    x[rng.random(n) < 0.1] = np.nan
    d = bl.DataFrame({"ts": ts.to_numpy(), "x": x, "y": y}) \
        .set_index("ts")
    got = d.rolling("40min", min_periods=1).agg_pairs({
        "sx": ("sum", "x"), "mx": ("mean", "x"),
        "nx": ("count", "x"), "cxy": ("corr", "x", "y"),
        "vxy": ("cov", "x", "y")}).to_pandas()
    px = pd.Series(x, index=ts)
    py = pd.Series(y, index=ts)
    r = px.rolling("40min", min_periods=1)
    for name, want in (("sx", r.sum()), ("mx", r.mean()),
                       ("nx", r.count()), ("cxy", r.corr(py)),
                       ("vxy", r.cov(py))):
        np.testing.assert_allclose(
            got[name].to_numpy(), want.to_numpy(), atol=1e-8,
            equal_nan=True, err_msg=name)
    with pytest.raises(ValueError, match="unknown statistic"):
        d.rolling("40min").agg_pairs({"z": ("median", "x")})
    with pytest.raises(KeyError):
        d.rolling("40min").agg_pairs({"z": ("sum", "nope")})


def test_time_rolling_agg_fused_and_mixed_r10(bl):
    """r10: _TimeRolling.agg — the moment family
    (sum/mean/count/var/std/sem) fuses into ONE prefix pass + ONE
    as-of lookup; any ORDER statistic in the request routes the
    WHOLE request through one budgeted pandas pass (pandas' own
    .agg supplies per-row alignment). The old one-column-bind-per-
    stat shape joined by index label, which mis-aligned and deduped
    on duplicate stamps — found by probe this round, pinned here."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(5)
    n = 200
    secs = np.sort(rng.integers(0, 30000, n))
    secs[50] = secs[49]
    secs[51] = secs[49]        # duplicate stamps: the old bind broke
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.1] = np.nan
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v}).set_index("ts")
    ps = pd.Series(v, index=ts)
    # fused moment family, list + min_periods
    got = d["v"].rolling("40min", min_periods=2) \
        .agg(["sum", "mean", "count", "var", "std", "sem"]) \
        .to_pandas()
    pr = ps.rolling("40min", min_periods=2)
    for st in ("sum", "mean", "count", "var", "std", "sem"):
        np.testing.assert_allclose(
            got[st].to_numpy(), getattr(pr, st)().to_numpy(),
            atol=1e-9, equal_nan=True, err_msg=st)
    # mixed dict with order stats: one pandas pass, dup stamps exact
    got2 = d["v"].rolling("40min") \
        .agg({"a": "sum", "b": "median", "c": "rank"}).to_pandas()
    pr1 = ps.rolling("40min")
    np.testing.assert_allclose(got2["a"].to_numpy(),
                               pr1.sum().to_numpy(), atol=1e-9,
                               equal_nan=True)
    np.testing.assert_allclose(got2["b"].to_numpy(),
                               pr1.median().to_numpy(), atol=1e-9,
                               equal_nan=True)
    np.testing.assert_allclose(got2["c"].to_numpy(),
                               pr1.rank().to_numpy(), atol=1e-9,
                               equal_nan=True)
    # str delegate unchanged
    np.testing.assert_allclose(
        d["v"].rolling("40min").agg("sum").to_pandas().to_numpy(),
        pr1.sum().to_numpy(), atol=1e-9, equal_nan=True)


def test_fixed_window_agg_dup_label_index_r10(bl):
    """r10: _window_agg binds POSITIONALLY — the previous
    index-label bind silently mis-aligned and deduped window .agg
    columns on duplicate-label indexes (fixed rolling + expanding
    faces; the time-rolling face hit the same seam first)."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(6)
    n = 120
    lab = np.sort(rng.integers(0, 40, n))   # duplicate labels
    v = rng.normal(size=n)
    v[rng.random(n) < 0.1] = np.nan
    d = bl.DataFrame({"i": lab, "v": v}).set_index("i")
    ps = pd.Series(v, index=lab)
    got = d["v"].rolling(5, min_periods=2) \
        .agg(["sum", "median"]).to_pandas()
    pr = ps.rolling(5, min_periods=2)
    np.testing.assert_allclose(got["sum"].to_numpy(),
                               pr.sum().to_numpy(), atol=1e-9,
                               equal_nan=True)
    np.testing.assert_allclose(got["median"].to_numpy(),
                               pr.median().to_numpy(), atol=1e-9,
                               equal_nan=True)
    assert got.index.tolist() == lab.tolist()
    got2 = d["v"].expanding(2) \
        .agg({"s": "sum", "m": "median", "r": "rank"}).to_pandas()
    pe = ps.expanding(2)
    for nm, st in (("s", "sum"), ("m", "median"), ("r", "rank")):
        np.testing.assert_allclose(
            got2[nm].to_numpy(), getattr(pe, st)().to_numpy(),
            atol=1e-9, equal_nan=True, err_msg=nm)


def test_frame_window_agg_dup_label_index_r10(bl):
    """r10: the FRAME window .agg binder is positional too
    (_bind_positional) — dict and flattened-list faces exact on a
    duplicate-label index."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(7)
    n = 100
    lab = np.sort(rng.integers(0, 30, n))
    x = rng.normal(size=n)
    y = rng.normal(size=n)
    d = bl.DataFrame({"i": lab, "x": x, "y": y}).set_index("i")
    pdf = pd.DataFrame({"x": x, "y": y}, index=lab)
    got = d.rolling(4, min_periods=2) \
        .agg({"x": "sum", "y": "median"}).to_pandas()
    want = pd.DataFrame(
        {"x": pdf["x"].rolling(4, min_periods=2).sum(),
         "y": pdf["y"].rolling(4, min_periods=2).median()})
    np.testing.assert_allclose(got[["x", "y"]].to_numpy(),
                               want.to_numpy(), atol=1e-9,
                               equal_nan=True)
    assert got.index.tolist() == lab.tolist()
    got2 = d.rolling(4, min_periods=2).agg(["mean", "std"]) \
        .to_pandas()
    want2 = pdf.rolling(4, min_periods=2).agg(["mean", "std"])
    cols = [str(c) for c in want2.columns]
    np.testing.assert_allclose(got2[cols].to_numpy(),
                               want2.to_numpy(), atol=1e-9,
                               equal_nan=True)


def test_center_rank_closed_form_r10(bl):
    """r10/r11: center=True rank is pandas' SHIFTED TRAILING rank
    with the final h2 positions carrying the last trailing RAW rank
    — each carried row re-gated on the TRUNCATED window
    [i + h2 - w + 1, n-1]'s valid count vs min_periods (r11 fix:
    default mp = window means every truncated row is NaN; the r10
    form skipped the gate) and pct-renormalized by that shrinking
    count (tail pct values may exceed 1.0 — pandas parity,
    fuzz-verified 2000/2000 in r11). The closed form is
    deterministic; partition-local kernels gave LAYOUT-DEPENDENT
    carry-zone values — this test uses a frame-built
    (multi-partition) source, the shape that exposed it."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    n = 150
    x = rng.normal(size=n)
    y = rng.normal(size=n) * 2
    x[rng.random(n) < 0.12] = np.nan
    x[-3:] = [np.nan, 1.0, np.nan]   # NaN run crossing the h2 tail
    d = bl.DataFrame({"x": x, "y": y})
    ps = pd.Series(x)
    for w, mp, meth, pct in ((5, 2, "average", False),
                             (8, 1, "min", False),
                             (400, 1, "average", True),
                             (4, 2, "average", False),
                             (5, None, "average", False),   # default mp
                             (6, None, "min", False),       # even w
                             (5, 2, "max", True),           # pct tail
                             (7, 3, "average", True),
                             (6, 4, "min", True)):
        got = d["x"].rolling(w, min_periods=mp, center=True) \
            .rank(method=meth, pct=pct).to_pandas().to_numpy()
        want = ps.rolling(w, min_periods=mp, center=True) \
            .rank(method=meth, pct=pct).to_numpy()
        np.testing.assert_allclose(
            got, want, atol=1e-9, equal_nan=True,
            err_msg=f"center rank w={w} {meth} pct={pct}")
    gotf = d.rolling(5, min_periods=2, center=True).rank() \
        .to_pandas()
    wantf = pd.DataFrame({"x": x, "y": y}) \
        .rolling(5, min_periods=2, center=True).rank()
    np.testing.assert_allclose(gotf[["x", "y"]].to_numpy(),
                               wantf[["x", "y"]].to_numpy(),
                               atol=1e-9, equal_nan=True)


def test_expanding_agg_fused_r10(bl):
    """r10: _Expanding.agg fuses the full moment family —
    sum/mean/count/min/max/var/std/sem, ALL prefix-decomposable for
    growing windows — into ONE with_prefix_aggs pass (previously
    one layout+carry scheme per statistic); order-stat mixes fall
    back to the positional binder."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(13)
    n = 160
    x = rng.normal(size=n)
    x[rng.random(n) < 0.12] = np.nan
    lab = np.sort(rng.integers(0, 40, n))
    d = bl.DataFrame({"i": lab, "v": x}).set_index("i")
    ps = pd.Series(x, index=lab)
    for mp in (1, 3):
        got = d["v"].expanding(mp).agg(
            ["sum", "mean", "count", "min", "max", "var", "std",
             "sem"]).to_pandas()
        pe = ps.expanding(mp)
        for st in ("sum", "mean", "count", "min", "max", "var",
                   "std", "sem"):
            np.testing.assert_allclose(
                got[st].to_numpy(), getattr(pe, st)().to_numpy(),
                atol=1e-9, equal_nan=True, err_msg=f"{st} mp={mp}")
    got2 = d["v"].expanding(2).agg({"s": "sum", "m": "median"}) \
        .to_pandas()
    np.testing.assert_allclose(got2["s"].to_numpy(),
                               ps.expanding(2).sum().to_numpy(),
                               atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(got2["m"].to_numpy(),
                               ps.expanding(2).median().to_numpy(),
                               atol=1e-9, equal_nan=True)
    with pytest.raises(ValueError, match="duplicate"):
        d["v"].expanding(1).agg(["sum", "sum"])


def test_frame_agg_pairs_fixed_expanding_r11(bl):
    """r11: agg_pairs gains its fixed-window and expanding frame
    faces — every per-column sum/mean/count and pairwise cov/corr
    from ONE prefix pass (+ one shared boundary shift for the fixed
    window), completing the family (time/fixed/expanding global,
    all three grouped frames; the Series face gates to here).
    pandas pairwise-complete masking, zero-variance NaN pin."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(111)
    n = 120
    x = rng.normal(size=n); x[rng.random(n) < 0.12] = np.nan
    y = rng.normal(size=n); y[rng.random(n) < 0.12] = np.nan
    d = bl.DataFrame({"x": x, "y": y})
    p = pd.DataFrame({"x": x, "y": y})
    for face, mb, mp_ in (
            ("fixed", lambda: d.rolling(6, min_periods=2),
             lambda: p.rolling(6, min_periods=2)),
            ("expanding", lambda: d.expanding(2),
             lambda: p.expanding(2))):
        got = mb().agg_pairs({"sx": ("sum", "x"),
                              "cxy": ("cov", "x", "y"),
                              "rxy": ("corr", "x", "y")}).to_pandas()
        np.testing.assert_allclose(
            got["sx"].to_numpy(), mp_()["x"].sum().to_numpy(),
            atol=1e-9, equal_nan=True, err_msg=f"{face} sum")
        np.testing.assert_allclose(
            got["cxy"].to_numpy(),
            mp_().cov().unstack()[("x", "y")].to_numpy(),
            atol=1e-9, equal_nan=True, err_msg=f"{face} cov")
        np.testing.assert_allclose(
            got["rxy"].to_numpy(),
            mp_().corr().unstack()[("x", "y")].to_numpy(),
            atol=1e-9, equal_nan=True, err_msg=f"{face} corr")
    with pytest.raises(ValueError, match="center"):
        d.rolling(4, center=True).agg_pairs({"s": ("sum", "x")})
    with pytest.raises(NotImplementedError, match="frame face"):
        ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
            range(4), "h")
        bl.DataFrame({"t": ts.to_numpy(),
                      "v": np.arange(4.0)}).set_index("t")["v"] \
            .rolling("2h").agg_pairs({"o": ("sum", "v")})

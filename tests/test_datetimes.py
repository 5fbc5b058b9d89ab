"""sr.dt accessor parity with pandas over the real events timestamps."""

import numpy as np
import numpy.testing as npt
import pytest


@pytest.fixture(scope="module")
def ev(bl, spark):
    from baloo_spark.streaming.events import load_events
    sdf = load_events(spark, "/root/testdata/sf0.001").select("event_id", "ts")
    return bl.DataFrame.from_spark(sdf)


@pytest.fixture(scope="module")
def pts(ev):
    return ev.to_pandas().set_index("event_id")["ts"]


@pytest.mark.parametrize("attr", ["year", "month", "day", "hour",
                                  "minute", "second", "dayofweek",
                                  "dayofyear", "quarter"])
def test_dt_parts_match_pandas(ev, pts, attr):
    got = np.sort(getattr(ev["ts"].dt, attr)().to_pandas().to_numpy())
    want = np.sort(getattr(pts.dt, attr).to_numpy())
    npt.assert_array_equal(got.astype("int64"), want.astype("int64"))


def test_dt_week_iso(ev, pts):
    got = np.sort(ev["ts"].dt.week().to_pandas().to_numpy())
    want = np.sort(pts.dt.isocalendar().week.to_numpy())
    npt.assert_array_equal(got.astype("int64"), want.astype("int64"))


def test_dt_floor_day(ev, pts):
    got = np.sort(ev["ts"].dt.floor("day").to_pandas().to_numpy())
    want = np.sort(pts.dt.floor("D").to_numpy())
    npt.assert_array_equal(got, want)


def test_dt_strftime_and_date(ev, pts):
    got = sorted(ev["ts"].dt.strftime("yyyy-MM").to_pandas().tolist())
    want = sorted(pts.dt.strftime("%Y-%m").tolist())
    assert got == want
    got = np.sort(ev["ts"].dt.date().to_pandas().to_numpy())
    want = np.sort(pts.dt.floor("D").dt.date.to_numpy())
    npt.assert_array_equal(got.astype("datetime64[D]"),
                           want.astype("datetime64[D]"))


def test_dt_is_lazy(ev):
    out = ev["ts"].dt.year()
    # a Column composition, not a collected value
    assert out._sdf is ev["ts"]._sdf


def test_dt_floor_pandas_freqs_and_strftime_codes(bl):
    """r5 probe batch: floor accepts pandas offset aliases (unknown
    units used to yield silent NaT via date_trunc) and strftime
    translates C '%' codes to the Java pattern."""
    import datetime as dt

    import numpy as np
    import pandas as pd
    ts = [dt.datetime(2024, 3, 5, 7, 39, 11),
          dt.datetime(2023, 12, 31, 23, 59, 59)]
    sr = bl.Series(np.array(ts, dtype="datetime64[us]"), name="t")
    ps = pd.Series(ts)
    for ours_f, pd_f in (("H", "h"), ("D", "D"), ("min", "min")):
        got = [str(x) for x in sr.dt.floor(ours_f).to_pandas()]
        want = [str(x) for x in ps.dt.floor(pd_f)]
        assert got == want, (ours_f, got, want)
    import pytest
    # non-fixed multiples stay a loud error (pandas rejects them too)
    with pytest.raises(ValueError, match="floor frequency"):
        sr.dt.floor("2M")
    with pytest.raises(ValueError, match="multiple"):
        sr.dt.floor("0min")
    fmt = "%Y/%m/%d %H:%M:%S day=%j"
    assert sr.dt.strftime(fmt).to_pandas().tolist() == \
        ps.dt.strftime(fmt).tolist()
    # raw Java pattern face still works (pre-r5 documented behavior)
    assert sr.dt.strftime("yyyy-MM").to_pandas().tolist() == \
        ["2024-03", "2023-12"]
    with pytest.raises(ValueError, match="strftime code"):
        sr.dt.strftime("%Q")


def test_dt_floor_multiples_and_subsecond_parity(bl):
    """r5 continuation probe: fixed-width multiples ('15min', '2H',
    '30S') and sub-second units floor via exact integer epoch-us
    math — pre-epoch rows floor toward -inf like pandas, no doubles."""
    import numpy as np
    import pandas as pd
    import pytest
    strs = ["2020-02-29 23:59:59.999500", "1969-12-31 23:59:59",
            "1900-03-01 00:00:00", "2024-12-30 12:34:56.789",
            None, "2038-01-19 03:14:08"]
    arr = np.array([np.datetime64(v) if v else np.datetime64("NaT")
                    for v in strs], dtype="datetime64[us]")
    sr = bl.Series(arr, name="t")
    ps = pd.Series(arr)
    for f in ["15min", "2H", "30S", "ms", "us", "6H", "90min", "2D"]:
        got = [str(x) for x in sr.dt.floor(f).to_pandas()]
        want = [str(x) for x in ps.dt.floor(f.replace("H", "h")
                                            .replace("S", "s")
                                            .replace("D", "D"))]
        assert got == want, (f, got, want)


def test_dt_calendar_flags_match_pandas(bl):
    import numpy as np
    import pandas as pd
    ts = pd.to_datetime(pd.Series(
        ["2024-02-29 10:30:45.123456", "2023-12-31 23:59:59",
         "2024-01-01 00:00:00", "2024-04-01 12:00:00",
         "2024-06-30 23:59:59"]), format="mixed")
    s = bl.DataFrame({"t": ts.to_numpy()})["t"]
    p = pd.Series(ts)
    for m in ("microsecond", "days_in_month", "is_month_start",
              "is_month_end", "is_quarter_start", "is_quarter_end",
              "is_year_start", "is_year_end", "is_leap_year"):
        got = [int(v) for v in getattr(s.dt, m)().to_pandas()]
        want = [int(v) for v in getattr(p.dt, m)]
        assert got == want, m
    assert s.dt.day_name().to_pandas().tolist() == \
        p.dt.day_name().tolist()
    assert s.dt.month_name().to_pandas().tolist() == \
        p.dt.month_name().tolist()
    assert s.dt.normalize().to_pandas().tolist() == \
        p.dt.normalize().tolist()


def test_to_datetime_faces(bl):
    import numpy as np
    import pandas as pd
    raw = ["2024-02-29 10:30:45", "bad", "2023-01-02 03:04:05", None]
    sr = bl.DataFrame({"v": np.array(raw, dtype=object)})["v"]
    got = bl.to_datetime(sr, errors="coerce").to_pandas()
    want = pd.to_datetime(pd.Series(raw), errors="coerce")
    assert got.notna().tolist() == want.notna().tolist()
    assert got.iloc[0] == want.iloc[0]
    fr = ["29/02/2024 10:30", "01/12/2023 05:06"]
    sr2 = bl.DataFrame({"v": np.array(fr, dtype=object)})["v"]
    assert bl.to_datetime(sr2, format="%d/%m/%Y %H:%M").to_pandas() \
        .tolist() == pd.to_datetime(pd.Series(fr),
                                    format="%d/%m/%Y %H:%M").tolist()
    nums = [1700000000, 1600000000]
    sr3 = bl.DataFrame({"v": np.array(nums, dtype=np.int64)})["v"]
    assert bl.to_datetime(sr3, unit="s").to_pandas().tolist() == \
        pd.to_datetime(pd.Series(nums), unit="s").tolist()


def test_date_range_matches_pandas(bl):
    """bl.date_range: spark.range grid with exact epoch-us
    arithmetic — end-inclusive, multiples, never driver-side."""
    import pandas as pd
    for kw, pkw in ((dict(end="2024-01-10"), dict(end="2024-01-10")),
                    (dict(periods=5), dict(periods=5)),
                    (dict(end="2024-01-02 06:00", freq="2H"),
                     dict(end="2024-01-02 06:00", freq="2h")),
                    (dict(periods=4, freq="15min"),
                     dict(periods=4, freq="15min"))):
        got = bl.date_range("2024-01-01", **kw).to_pandas().tolist()
        want = pd.date_range("2024-01-01", **pkw).tolist()
        assert got == want, kw
    # calendar frequencies: add_months off a pandas-anchored first
    # tick (start rolls to the next on-offset point, time preserved)
    cal = [("2024-01-30 05:00", dict(periods=3, freq="ME"), "ME"),
           ("2024-01-30 05:00", dict(periods=2, freq="MS"), "MS"),
           ("2024-01-15", dict(end="2024-04-20", freq="ME"), "ME"),
           ("2024-01-15", dict(end="2024-04-20", freq="MS"), "MS"),
           ("2024-02-29", dict(periods=3, freq="YE"), "YE"),
           ("2023-05-02", dict(periods=2, freq="YS"), "YS"),
           ("2024-01-31", dict(periods=3, freq="2ME"), "2ME"),
           ("2024-01-31", dict(periods=2, freq="M"), "ME"),
           ("2024-06-01", dict(periods=3, freq="Y"), "YE"),
           ("2024-02-15", dict(periods=4, freq="3MS"), "3MS"),
           ("2024-03-31", dict(end="2024-03-30", freq="ME"), "ME"),
           ("2024-01-03 05:00", dict(periods=3, freq="W"), "W"),
           ("2024-01-07 05:00", dict(periods=2, freq="W"), "W"),
           ("2024-01-03", dict(periods=3, freq="W-WED"), "W-WED"),
           ("2024-01-01", dict(end="2024-01-31", freq="2W"), "2W")]
    for start, kw, pfreq in cal:
        got = bl.date_range(start, **kw).to_pandas().tolist()
        pkw = dict(kw, freq=pfreq)
        want = pd.date_range(start, **pkw).tolist()
        assert got == want, (start, kw)


def test_resample_matches_pandas(bl):
    """DataFrame.resample: bucket hash-agg + generated gap grid
    (sum/count gaps 0, others NULL — pandas fills)."""
    import numpy as np
    import pandas as pd
    ts = pd.to_datetime(["2024-01-01 00:05", "2024-01-01 00:40",
                         "2024-01-01 02:10", "2024-01-01 02:20",
                         "2024-01-01 04:59"])
    pdf = pd.DataFrame({"t": ts, "v": [1., 2., 3., np.nan, 5.],
                        "w": [10., 20., 30., 40., 50.]})
    df = bl.DataFrame({"t": ts.to_numpy(), "v": pdf["v"].to_numpy(),
                       "w": pdf["w"].to_numpy()})
    for agg in ("sum", "mean", "count", "min", "max", "var", "std"):
        got = getattr(df.resample("1H", on="t"), agg)() \
            .to_pandas().reset_index()
        want = getattr(pdf.resample("1h", on="t"), agg)()
        assert got["t"].tolist() == want.index.tolist(), agg
        for c in ("v", "w"):
            np.testing.assert_allclose(
                got[c].fillna(-9e9).to_numpy(dtype=float),
                want[c].fillna(-9e9).to_numpy(dtype=float),
                err_msg=f"{agg} {c}")
    # sub-hour buckets over a long gappy span: the gap grid's chunk
    # width (bucket * 2^20 us) must be computed as a long — an int32
    # product wraps below ~36 min buckets and drops grid rows
    rng = np.random.default_rng(7)
    mins = np.unique(np.r_[0, rng.choice(np.arange(1, 4499), 1500,
                                         replace=False), 4499])
    t3 = pd.Timestamp("2024-03-01") + pd.to_timedelta(mins, unit="min")
    p3 = pd.DataFrame({"t": t3, "v": np.arange(len(mins), dtype=float)})
    d3 = bl.DataFrame({"t": t3.to_numpy(), "v": p3["v"].to_numpy()})
    got = d3.resample("1min", on="t").sum().to_pandas().reset_index()
    want = p3.resample("1min", on="t").sum().reset_index()
    assert len(want) == 4500
    assert got["t"].tolist() == want["t"].tolist()
    assert got["v"].tolist() == want["v"].tolist()
    # calendar buckets: date_trunc month/year + add_months gap grid,
    # pandas period-end/-start labels
    ts2 = pd.to_datetime(["2024-01-05", "2024-03-02", "2024-12-30",
                          "2025-02-11"])
    p2 = pd.DataFrame({"t": ts2, "v": [1., 4., 8., 16.]})
    d2 = bl.DataFrame({"t": ts2.to_numpy(), "v": p2["v"].to_numpy()})
    for bf, pf in (("ME", "ME"), ("MS", "MS"), ("M", "ME"),
                   ("YE", "YE"), ("YS", "YS"),
                   # r7: integer multiples bin k periods per bucket
                   # anchored at the first datum's period (pandas
                   # origin; end-anchored kinds bin by ceil)
                   ("2ME", "2ME"), ("3MS", "3MS"), ("2YE", "2YE"),
                   ("2YS", "2YS")):
        got = d2.resample(bf, on="t").sum().to_pandas().reset_index()
        want = p2.resample(pf, on="t").sum().reset_index()
        assert got["t"].tolist() == want["t"].tolist(), bf
        assert got["v"].tolist() == want["v"].tolist(), bf


def test_dt_ceil_round_match_pandas(bl):
    """dt.ceil (boundary stays) and dt.round (pandas HALF-TO-EVEN
    ties), exact long arithmetic incl. pre-epoch rows."""
    import pandas as pd
    import pytest
    ts = pd.to_datetime(
        ["2020-01-01 00:00:30", "2020-01-01 00:01:30",
         "2020-01-01 00:02:30", "2020-01-01 00:00:29.999999",
         "1969-12-31 23:59:30", "1969-12-31 23:58:30",
         "2020-01-01 00:01:00", "2020-03-05 13:47:11.5"],
        format="ISO8601")
    ps, bs = pd.Series(ts), bl.Series(ts.to_numpy())
    for freq, pfreq in (("min", "min"), ("15min", "15min"),
                        ("H", "h"), ("s", "s"), ("D", "D"),
                        ("2H", "2h"), ("ms", "ms")):
        for op in ("ceil", "round", "floor"):
            exp = getattr(ps.dt, op)(pfreq).tolist()
            got = getattr(bs.dt, op)(freq).to_pandas().tolist()
            assert [pd.Timestamp(g) for g in got] == exp, (op, freq)
    with pytest.raises(ValueError, match="fixed-width"):
        bs.dt.ceil("M")


def test_timedelta_total_seconds(bl):
    """timestamp subtraction yields interval Series; total_seconds
    reads exact microseconds via unix_micros(epoch + interval)."""
    import pandas as pd
    import pytest
    ts = pd.to_datetime(["2020-01-01 00:00:00",
                         "2020-01-01 01:30:00.5",
                         "2020-01-02 00:00:00"], format="ISO8601")
    ps, bs = pd.Series(ts), bl.Series(ts.to_numpy())
    got = (bs - bs.shift(1)).dt.total_seconds().to_pandas().tolist()
    exp = (ps - ps.shift(1)).dt.total_seconds().tolist()
    assert got[1:] == exp[1:] and got[0] != got[0]
    with pytest.raises(TypeError, match="interval"):
        bs.dt.total_seconds()


def test_dt_sweep_additions(bl):
    """weekday/day_of_* aliases, time strings, isocalendar (ISO year
    at boundaries), timedelta days/seconds/microseconds components
    (pandas toward--inf day floor, in-range components)."""
    import pandas as pd
    ts = pd.to_datetime(["2020-01-01 12:30:45",
                         "2021-12-31 23:59:59.5",
                         "2019-12-30 00:00:00"], format="ISO8601")
    ps, bs = pd.Series(ts), bl.Series(ts.to_numpy())
    assert bs.dt.weekday().to_pandas().tolist() == \
        ps.dt.weekday.tolist()
    assert bs.dt.day_of_year().to_pandas().tolist() == \
        ps.dt.day_of_year.tolist()
    assert bs.dt.time().to_pandas().tolist() == \
        [str(t) for t in ps.dt.time]
    assert bs.dt.isocalendar().to_pandas().values.tolist() == \
        ps.dt.isocalendar().values.tolist()
    ref = pd.Timestamp("2020-06-15 06:00:00.25")
    d, bd = ps - ref, bs - ref
    assert bd.dt.days().to_pandas().tolist() == d.dt.days.tolist()
    assert bd.dt.seconds().to_pandas().tolist() == \
        d.dt.seconds.tolist()
    assert bd.dt.microseconds().to_pandas().tolist() == \
        d.dt.microseconds.tolist()


def test_resample_first_last_ohlc_match_pandas(bl):
    """resample().first()/.last()/.ohlc(): first/last ride a
    lexicographic struct min/max over (micros, value) with NULL
    values gated out of the struct — the earliest/latest NON-NULL
    value per bucket, pandas semantics, one hash-agg pass. ohlc
    emits open/high/low/close for a single numeric column."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(43)
    n = 250
    secs = np.sort(rng.choice(np.arange(86400 * 15), n,
                              replace=False))
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.15] = np.nan
    pdf = pd.DataFrame({"ts": ts, "v": v}).set_index("ts")
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v})
    r, pr = d.resample("6h", on="ts"), pdf.resample("6h")
    for stat in ("first", "last"):
        got = getattr(r, stat)().to_pandas().sort_values("ts")["v"] \
            .to_numpy()
        want = getattr(pr, stat)()["v"].to_numpy()
        np.testing.assert_allclose(got, want, equal_nan=True,
                                   err_msg=stat)
    got = r.ohlc().to_pandas().sort_values("ts")
    want = pr.ohlc()["v"]
    for c in ("open", "high", "low", "close"):
        np.testing.assert_allclose(got[c].to_numpy(),
                                   want[c].to_numpy(),
                                   equal_nan=True, err_msg=c)
    got = d.resample("ME", on="ts").last().to_pandas() \
        .sort_values("ts")["v"].to_numpy()
    want = pdf.resample("ME").last()["v"].to_numpy()
    np.testing.assert_allclose(got, want, equal_nan=True)
    import pytest
    with pytest.raises(ValueError, match="one numeric column"):
        bl.DataFrame({"ts": ts.to_numpy(), "v": v, "u": v}) \
            .resample("6h", on="ts").ohlc()


def test_resample_median_quantile_sem_prod_size_nunique(bl):
    """The remaining Resampler aggregations — exact median/quantile
    via Spark's percentile aggregates (groupBy allows them; only
    framed windows refuse), sem as std/sqrt(n) (the groupby.sem
    convention), prod/size/nunique with pandas' gap-bucket
    identities (1/0/0)."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(47)
    n = 250
    secs = np.sort(rng.choice(np.arange(86400 * 10), n,
                              replace=False))
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, "s")
    v = rng.normal(size=n)
    v[rng.random(n) < 0.2] = np.nan
    pdf = pd.DataFrame({"ts": ts, "v": v}).set_index("ts")
    d = bl.DataFrame({"ts": ts.to_numpy(), "v": v})
    r, pr = d.resample("6h", on="ts"), pdf.resample("6h")
    for stat in ("median", "prod", "sem", "nunique"):
        got = getattr(r, stat)().to_pandas().sort_values("ts")["v"] \
            .to_numpy(dtype=float)
        want = getattr(pr, stat)()["v"].to_numpy(dtype=float)
        np.testing.assert_allclose(got, want, atol=1e-9,
                                   equal_nan=True, err_msg=stat)
    got = r.quantile(0.25).to_pandas().sort_values("ts")["v"] \
        .to_numpy(dtype=float)
    want = pr.quantile(0.25)["v"].to_numpy(dtype=float)
    np.testing.assert_allclose(got, want, atol=1e-9, equal_nan=True)
    got = np.sort(r.size().to_pandas().to_numpy(dtype=float))
    want = np.sort(pr.size().to_numpy(dtype=float))
    np.testing.assert_allclose(got, want)
    # r9 advice: size needs NO numeric value columns (one count(1)
    # per bucket), like pandas — a string-only frame still sizes
    ds = bl.DataFrame({"ts": ts.to_numpy(),
                       "s": np.array([f"x{i}" for i in range(n)],
                                     dtype=object)})
    ps = pd.DataFrame({"s": [f"x{i}" for i in range(n)]},
                      index=ts)
    got = ds.resample("6h", on="ts").size().to_pandas() \
        .to_numpy(dtype=float)
    want = ps.resample("6h").size().to_numpy(dtype=float)
    np.testing.assert_allclose(got, want)


def test_resampler_upsampling_and_agg(bl):
    """r9 dir-sweep closes: Resampler.asfreq/ffill/bfill/nearest
    (bucket-label grid generated distributed, then one exact or
    as-of join; duplicate source stamps raise pandas' reindex
    error) and Resampler.agg (str delegates; dict {col: stat} stays
    flat; a statistic list flattens pandas' (col, stat) MultiIndex
    columns to str((col, stat)) col-major)."""
    import numpy as np
    import pandas as pd
    import pytest
    ts = pd.to_datetime(["2024-01-01 00:10", "2024-01-01 02:30",
                         "2024-01-01 03:05"])
    v = np.array([1., 3., 7.])
    u = np.array([10., 30., 70.])
    pdf = pd.DataFrame({"v": v, "u": u}, index=ts)
    d = bl.DataFrame({"t": ts.to_numpy(), "v": v, "u": u})
    r, pr = d.resample("1h", on="t"), pdf.resample("1h")
    for m in ("ffill", "bfill", "nearest"):
        got = getattr(r, m)().to_pandas().sort_index()
        want = getattr(pr, m)()
        np.testing.assert_allclose(got[["v", "u"]].to_numpy(),
                                   want.to_numpy(), equal_nan=True,
                                   err_msg=m)
        assert [str(x) for x in got.index] == \
            [str(x) for x in want.index], m
    got = r.asfreq().to_pandas().sort_index()
    want = pr.asfreq()
    np.testing.assert_allclose(got[["v", "u"]].to_numpy(),
                               want.to_numpy(), equal_nan=True)
    got = r.asfreq(fill_value=-1.).to_pandas().sort_index()
    want = pr.asfreq(fill_value=-1.)
    np.testing.assert_allclose(got[["v", "u"]].to_numpy(),
                               want.to_numpy(), equal_nan=True)
    d2 = bl.DataFrame(
        {"t": pd.to_datetime(["2024-01-01", "2024-01-01",
                              "2024-01-02"]).to_numpy(), "v": v})
    with pytest.raises(ValueError, match="duplicate"):
        d2.resample("1h", on="t").ffill()
    # nearest exact-midpoint tie goes to the LATER stamp (pandas
    # reindex rule; merge_asof ties earlier — probe wave 21)
    tts = pd.to_datetime(["2024-01-01 00:00", "2024-01-01 02:00"])
    dt_ = bl.DataFrame({"t": tts.to_numpy(),
                        "v": np.array([1., 9.])})
    pt_ = pd.DataFrame({"v": [1., 9.]}, index=tts)
    got = dt_.resample("1h", on="t").nearest().to_pandas() \
        .sort_index()["v"].tolist()
    assert got == pt_.resample("1h").nearest()["v"].tolist()
    got = r.agg({"v": "sum"}).to_pandas().sort_index()
    want = pr.agg({"v": "sum"})
    np.testing.assert_allclose(got["v"].to_numpy(),
                               want["v"].to_numpy(), equal_nan=True)
    got = r.agg(["sum", "mean"]).to_pandas().sort_index()
    want = pr.agg(["sum", "mean"])
    assert [str(c) for c in got.columns] == \
        [str(c) for c in want.columns]
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               equal_nan=True)
    with pytest.raises(NotImplementedError, match="calendar"):
        d.resample("ME", on="t").ffill()
    # interpolate: asfreq then linear fill (grid is uniform, so
    # positional linear == time linear)
    its = pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10",
                          "2024-01-01 02:00", "2024-01-01 03:30"])
    iv = np.array([1., 5., 9., 13.])
    ipdf = pd.DataFrame({"v": iv}, index=its)
    idd = bl.DataFrame({"t": its.to_numpy(), "v": iv})
    for kw in ({}, {"limit_direction": "both"}):
        got = idd.resample("30min", on="t").interpolate(**kw) \
            .to_pandas().sort_index()["v"].to_numpy()
        want = ipdf.resample("30min").interpolate(**kw)["v"] \
            .to_numpy()
        np.testing.assert_allclose(got, want, equal_nan=True)


def test_expanding_rank_apply_and_groupby_attr(bl):
    """r9 dir-sweep closes: global expanding rank/apply on the
    budgeted single-partition pass, and pandas' groupby column
    attribute access (df.groupby(k).v)."""
    import numpy as np
    import pandas as pd
    import pytest
    rng = np.random.default_rng(3)
    v = rng.normal(size=120)
    v[rng.random(120) < 0.1] = np.nan
    ps, s = pd.Series(v), bl.Series(v)
    got = s.expanding(2).rank().to_pandas().to_numpy()
    np.testing.assert_allclose(got, ps.expanding(2).rank()
                               .to_numpy(), equal_nan=True)
    got = s.expanding(2).rank(method="min", pct=True) \
        .to_pandas().to_numpy()
    np.testing.assert_allclose(
        got, ps.expanding(2).rank(method="min", pct=True).to_numpy(),
        equal_nan=True)
    got = s.expanding(1).apply(np.ptp, raw=True) \
        .to_pandas().to_numpy()
    np.testing.assert_allclose(
        got, ps.expanding(1).apply(np.ptp, raw=True).to_numpy(),
        equal_nan=True)
    pdf = pd.DataFrame({"g": ["a", "b", "a"], "v": [1., 2., 3.]})
    d = bl.DataFrame({"g": np.array(["a", "b", "a"], dtype=object),
                      "v": np.array([1., 2., 3.])})
    assert d.groupby("g").v.sum().to_pandas().sort_index()["v"] \
        .tolist() == pdf.groupby("g").v.sum().sort_index().tolist()
    with pytest.raises(AttributeError):
        d.groupby("g").nope


def test_dt_property_spelling_r11(bl):
    """r11: pandas-PROPERTY calendar fields are properties on the
    engine's .dt too (sr.dt.month, not just sr.dt.month()) — the
    accessor returns a CallableSeries so BOTH spellings work, and
    the returned object composes like any Series."""
    import pandas as pd
    ts = pd.to_datetime(["2024-02-29 23:59:59",
                         "2023-12-31 00:00:01"])
    s = bl.DataFrame({"t": ts.to_numpy()})["t"]
    p = pd.Series(ts)
    for acc in ("year", "month", "day", "hour", "minute", "second",
                "dayofweek", "dayofyear", "quarter", "weekday",
                "day_of_week", "day_of_year", "daysinmonth",
                "is_leap_year", "is_month_end", "is_year_start"):
        got = getattr(s.dt, acc)           # property spelling
        assert got.to_pandas().tolist() == \
            getattr(p.dt, acc).tolist(), acc
        assert got().to_pandas().tolist() == \
            getattr(p.dt, acc).tolist(), acc   # legacy () spelling
    # property result composes like a Series
    assert (s.dt.month + 1).to_pandas().tolist() == \
        (p.dt.month + 1).tolist()

"""Unit tests for the dense-ordinal plan (plans/ordinal.py) — the
machinery under RangeIndex/slice/iloc/tail."""

import numpy as np


def test_dense_and_complete(spark):
    from baloo_spark.plans.ordinal import with_dense_ordinal
    df = spark.range(0, 1000).repartition(7)
    out = with_dense_ordinal(df.withColumnRenamed("id", "x"))
    ords = sorted(r["__ord__"] for r in out.collect())
    assert ords == list(range(1000))  # dense, complete, no dupes


def test_ordered_assignment_matches_sort(spark):
    from pyspark.sql import functions as F

    from baloo_spark.plans.ordinal import with_dense_ordinal
    import random
    rng = random.Random(7)
    vals = list(range(500))
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v INT").repartition(5)
    out = with_dense_ordinal(df, order_by=[F.col("v").asc()])
    rows = {r["__ord__"]: r["v"] for r in out.collect()}
    # ordinal i must hold the i-th smallest value
    assert all(rows[i] == i for i in range(500))


def test_no_single_partition_window(spark):
    from pyspark.sql import functions as F

    from baloo_spark.plans.ordinal import with_dense_ordinal
    df = spark.range(0, 100).repartition(4)
    out = with_dense_ordinal(df, order_by=[F.col("id").asc()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# one row per value kind the carry tables can hold; row 2 is all
# NULL except its double, which is NaN (NULL and NaN share a column)
_LOCAL_TABLE_SQL = """
select * from values
 (1, 10L, cast(null as double), 'a', true, X'0102', date'2020-01-02',
  timestamp'2021-03-04 21:30:00', timestamp_ntz'2021-03-04 21:30:00',
  cast('1.000000000000000001' as decimal(38,18)),
  array(1.0, null, double('NaN')),
  named_struct('x', 1, 't', timestamp'2020-05-05 01:02:03',
               'ts', array(timestamp'2020-01-01 00:00:00')),
  interval '1 02:03:04.5' day to second),
 (null, null, double('NaN'), null, null, null, null, null, null, null,
  null, null, null),
 (3, 30L, 2.5, 'c', false, X'', date'1969-12-31',
  timestamp'1960-01-01 00:00:00.000001',
  timestamp_ntz'1960-01-01 00:00:00',
  cast('-12345678901234567890.123456789012345678' as decimal(38,18)),
  array(), named_struct('x', null, 't', null, 'ts', null),
  interval '-0 00:00:01' day to second)
 as t(i, l, d, s, b, bin, dte, ts, tsn, dec, arr, st, iv)
"""


def _check_local_table(spark):
    from baloo_spark.plans.ordinal import local_table
    src = spark.sql(_LOCAL_TABLE_SQL)
    rows = src.collect()
    got = local_table(spark, rows, src.schema)
    want = spark.createDataFrame(rows, src.schema)
    assert got.schema == want.schema == src.schema
    assert "LocalTableScan" in \
        got._jdf.queryExecution().executedPlan().toString()
    # repr: NaN != NaN under ==, and repr keeps None and nan apart
    assert repr(got.collect()) == repr(want.collect())
    empty = local_table(spark, [], src.schema)
    assert empty.schema == src.schema
    assert empty.collect() == []


def test_local_table_matches_row_list_path(spark):
    """local_table (the Arrow LocalRelation every driver-built carry
    table goes through) returns exactly what the row-list
    createDataFrame returns, for every type and in any driver time
    zone: collected TIMESTAMP values are naive LOCAL wall-clock
    datetimes, so a build that handed them to Arrow as-is would read
    them as UTC (21:30 -> 16:30 under New York)."""
    import os
    import time
    _check_local_table(spark)
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        _check_local_table(spark)
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_carry_tables_never_take_the_row_list_path(bl, spark,
                                                   monkeypatch):
    """Every driver-built table of the ordinal schemes and the iloc
    gather goes through local_table: with the row-list
    createDataFrame (a Python-worker job) made to raise, the ops
    still match pandas."""
    import numpy.testing as npt
    import pandas as pd
    from pyspark.sql import SparkSession

    from baloo_spark.plans import ordinal

    rng = np.random.RandomState(5)
    n = 300
    pdf = pd.DataFrame({
        "t": rng.permutation(n),
        "v": np.where(rng.rand(n) < 0.3, np.nan, rng.randn(n)),
    })
    df = bl.DataFrame({c: pdf[c].to_numpy() for c in pdf})
    one = bl.DataFrame({"v": np.array([2.0])})
    exp = pdf.sort_values("t").reset_index(drop=True)
    srt = df.sort_values("t")

    real = SparkSession.createDataFrame

    def no_row_lists(self, data, *a, **kw):
        if isinstance(data, (list, tuple)):
            raise AssertionError("row-list createDataFrame")
        return real(self, data, *a, **kw)

    calls = []
    real_local = ordinal.local_table

    def counting(*a, **kw):
        calls.append(1)
        return real_local(*a, **kw)

    monkeypatch.setattr(SparkSession, "createDataFrame", no_row_lists)
    monkeypatch.setattr(ordinal, "local_table", counting)

    def vals(x):
        return np.asarray(x.to_pandas(), dtype=float).ravel()

    cases = [
        (lambda: srt["v"].cumsum(), exp["v"].cumsum()),
        (lambda: srt["v"].shift(3), exp["v"].shift(3)),
        (lambda: srt["v"].shift(-2), exp["v"].shift(-2)),
        (lambda: srt["v"].rolling(5).std(), exp["v"].rolling(5).std()),
        (lambda: srt.ffill()["v"], exp["v"].ffill()),
        (lambda: srt["v"].interpolate(), exp["v"].interpolate()),
        (lambda: srt["v"].iloc[[7, 0, 250, 7]],
         exp["v"].iloc[[7, 0, 250, 7]]),
        (lambda: srt.iloc[[3, 299, 1]]["v"], exp["v"].iloc[[3, 299, 1]]),
        (lambda: one.shift(1)["v"], pd.Series([np.nan])),
    ]
    for make, want in cases:
        calls.clear()
        got = vals(make())
        assert calls, "no driver table went through local_table"
        npt.assert_allclose(got, want.to_numpy(dtype=float),
                            rtol=1e-9, equal_nan=True)


# rows per partition of the fold layout: two empty partitions, an
# all-null one (the 3 rows of partition 3) and partitions shorter
# than the k = 3 edge walk
_FOLD_PARTS = [5, 0, 2, 3, 1, 4, 0, 2, 6, 1]


def test_unified_fold_matches_pandas(spark):
    """Every scheme on the driver fold equals pandas over the fixed
    10-partition layout above (order_by None keeps it) and over an
    AQE-uncoalesced range layout: each prefix kind inclusive and
    exclusive (an int64 sum whose carries wrap past 2^63, 'last' over
    a double, a string and a timestamp column), the dense ordinal,
    and the k = +-3 boundary shifts."""
    import datetime as dt

    import numpy.testing as npt
    import pandas as pd
    from pyspark.sql import functions as F

    from baloo_spark.plans.ordinal import (with_boundary_shifts,
                                           with_dense_ordinal,
                                           with_prefix_aggs)

    rng = np.random.RandomState(11)
    n = sum(_FOLD_PARTS)
    x = rng.choice([-1.5, -0.5, 0.5, 2.0, 3.0], n)
    x[rng.rand(n) < 0.3] = np.nan
    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame({
        "i": np.arange(n), "x": x,
        "s": [f"s{j}" if rng.rand() < 0.7 else None for j in range(n)],
        "ts": [t0 + dt.timedelta(hours=j) if rng.rand() < 0.7 else None
               for j in range(n)],
        "big": rng.randint(2 ** 61, 2 ** 62, n, dtype=np.int64)})
    pdf.loc[7:9, ["x", "s", "ts"]] = None
    rows = [tuple(None if pd.isna(v) else v.to_pydatetime()
                  if isinstance(v, pd.Timestamp) else
                  v.item() if isinstance(v, np.generic) else v
                  for v in r)
            for r in pdf.astype(object).itertuples(index=False)]
    cuts = np.cumsum([0] + _FOLD_PARTS)
    parts = [rows[a:b] for a, b in zip(cuts[:-1], cuts[1:])]
    fixed = spark.createDataFrame(
        spark.sparkContext.parallelize(range(len(parts)), len(parts))
        .flatMap(lambda p: parts[p]),
        "i LONG, x DOUBLE, s STRING, ts TIMESTAMP, big LONG")
    assert fixed.rdd.glom().map(len).collect() == _FOLD_PARTS

    def nulls(s):
        return [None if pd.isna(v) else v for v in s.astype(object)]

    xs = pdf["x"].expanding(min_periods=1)
    incl = {"sum": xs.sum(), "count": pdf["x"].expanding(0).count(),
            "prod": xs.apply(np.nanprod, raw=True), "min": xs.min(),
            "max": xs.max(), "last": pdf["x"].ffill()}
    objs = {"big": ("sum", pdf["big"].cumsum()),
            "s": ("last", pdf["s"].ffill()),
            "ts": ("last", pd.Series(nulls(pdf["ts"].ffill())))}

    aqe = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        for sdf, order in ((fixed, None),
                           (fixed.repartition(3), [F.col("i").asc()])):
            for inclusive in (True, False):
                specs = {f"{k}_x": ("x", k) for k in incl}
                specs.update({f"{k}_{c}": (c, k)
                              for c, (k, _) in objs.items()})
                got = (with_prefix_aggs(sdf, specs, order, inclusive)
                       .toPandas().sort_values("i"))
                for kind, want in incl.items():
                    if not inclusive:
                        want = want.shift(1, fill_value=(
                            0 if kind == "count" else np.nan))
                    npt.assert_allclose(
                        got[f"{kind}_x"].to_numpy(dtype=float),
                        want.to_numpy(dtype=float), rtol=1e-12,
                        equal_nan=True, err_msg=(kind, inclusive))
                for c, (kind, want) in objs.items():
                    want = nulls(want if inclusive else want.shift(1))
                    assert nulls(got[f"{kind}_{c}"]) == want, \
                        (c, inclusive)
            got = with_dense_ordinal(sdf, order, name="o").toPandas()
            assert got.sort_values("i")["o"].tolist() == list(range(n))
            for k in (3, -3):
                got = (with_boundary_shifts(sdf, {"sx": "x", "ss": "s"},
                                            k, order)
                       .toPandas().sort_values("i"))
                npt.assert_allclose(got["sx"].to_numpy(dtype=float),
                                    pdf["x"].shift(k).to_numpy(),
                                    equal_nan=True, err_msg=k)
                assert nulls(got["ss"]) == nulls(pdf["s"].shift(k)), k
    finally:
        spark.conf.set(aqe, old)

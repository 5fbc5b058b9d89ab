"""GroupBy: hash aggregation with grouping keys as result index.

Reference: ``baloo/core/groupby.py:11-110`` + ``weld_group.py`` — the
reference splits strategies between a single-pass dictmerger (sum/
prod/min/max) and a collect-then-reduce groupmerger (mean/var/std/
size). Spark's partial+final hash aggregation subsumes both: every
agg here is a single shuffle with map-side combine, and var/std are
single-pass (moments) already. Result order is arbitrary, matching
the reference's hash-dict semantics (README.md:29-30).

Skewed keys: scalar aggs are skew-immune here (map-side combine
collapses a hot key to one row per map task before the shuffle —
measured in SCALING.md). For aggregations whose state grows with the
rows (collect_list-style), the documented fallback is
``baloo_spark.plans.skew.salted_groupby``, which divides the hot
key's reducer load by the salt factor.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .series import _is_numeric


class DataFrameGroupBy:
    def __init__(self, df, by: list):
        self._df = df
        self._by = by

    def __getitem__(self, key):
        """Column-restricted groupby (pandas ``df.groupby(k)['v']`` /
        ``[['v','w']]``): later aggregations only see the selected
        value columns. Lazy — just narrows the projection list."""
        keys = [key] if isinstance(key, str) else list(key)
        missing = [c for c in keys if c not in self._df._data_cols]
        if missing:
            raise KeyError(missing[0])
        # keep the grouping keys that live in the data columns; index
        # -backed keys ride along with the projection automatically
        sel = [c for c in self._by if c in self._df._data_cols] + keys
        sub = self._df[list(dict.fromkeys(sel))]
        return DataFrameGroupBy(sub, self._by)

    def __getattr__(self, name):
        """pandas exposes value columns as groupby attributes
        (``df.groupby(k).v`` == ``df.groupby(k)['v']``)."""
        if not name.startswith("_") and name in self._df._data_cols:
            return self[name]
        raise AttributeError(
            f"{type(self).__name__!r} object has no attribute "
            f"{name!r}")

    def _value_cols(self, include_bool: bool = False):
        """Numeric value columns; ``include_bool`` admits boolean
        columns too (pandas groupby AGGREGATIONS treat bools as 0/1
        — they cast cleanly under the engine's grouped-f64
        convention — but window/ewm faces keep excluding them like
        pandas' rolling/ewm do)."""
        sch = {f.name: f.dataType for f in self._df._sdf.schema.fields}
        return [c for c in self._df._data_cols
                if c not in self._by
                and (_is_numeric(sch[c])
                     or (include_bool
                         and sch[c].typeName() == "boolean"))]

    def rolling(self, window, min_periods: int | None = None,
                center: bool = False):
        """Per-group trailing windows (pandas
        ``df.groupby(k)['v'].rolling(w).mean()`` idiom):
        ``.sum/mean/count/min/max/var/std``. Every group's frame is a
        partitionBy window — state stays local per group at any
        scale, and ALL value columns share one Window node. Unlike
        the global :meth:`Series.rolling`, min/max work here (the
        frame is bounded per group, nothing decomposes globally).
        A str/timedelta ``window`` ('2h') rolls a TIME offset as a
        per-group RANGE frame over the order column's microseconds —
        min/max included, one Window node, no carry at all. Known
        divergence: a RANGE frame includes ALL rows sharing the
        current stamp (pandas adds a positional j <= i rule for
        duplicate stamps)."""
        from .window import _offset_us
        us = _offset_us(window)
        if us is not None:
            if center:
                raise ValueError("offset windows have no center=")
            return _GroupRolling(
                self, None, 1 if min_periods is None else min_periods,
                time_us=us)
        return _GroupRolling(self, window, min_periods, center)

    def expanding(self, min_periods: int = 1):
        """Per-group growing windows (pandas
        ``df.groupby(k)['v'].expanding().mean()`` idiom). Every
        group's frame is a partitionBy window with an
        unbounded-preceding frame — state stays local per group at
        any scale, all value columns share one Window node."""
        return _GroupRolling(self, None, min_periods)

    # ------------------------------------------- per-group window ops
    # All ops below run over Window.partitionBy(group keys) — state
    # stays local per group at any scale, one shuffle on the keys,
    # never an unpartitioned window.

    def _gorder(self, rev: bool = False):
        from ..plans.ordinal import ORD_COL
        from .ordering import order_exprs, rev_order_exprs
        sdf = self._df._sdf
        fn = rev_order_exprs if rev else order_exprs
        order = (fn(self._df._order or [], sdf.columns)
                 or fn([(ORD_COL, True)], sdf.columns))
        if not order:
            raise ValueError(
                "groupby window ops need a defined row order; "
                "sort_values/sort_index first")
        return sdf, order

    def _all_value_cols(self):
        return [c for c in self._df._data_cols if c not in self._by]

    def _transform_frame(self, sdf, cols, mk):
        """Rebuild the frame with ``cols`` replaced by mk(col) — the
        aligned transform shape (same rows, same order)."""
        from .frame import DataFrame
        cset = set(cols)
        out = sdf.select(*[(mk(c).alias(c) if c in cset else F.col(c))
                           for c in sdf.columns])
        return DataFrame._make(out, self._df._index_cols,
                               self._df._data_cols, self._df._order)

    def _cumulative(self, kind: str):
        from pyspark.sql import Window
        sdf, order = self._gorder()
        w = (Window.partitionBy(*self._by).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, 0))

        def mk(c):
            # pandas: missing positions stay missing, the accumulator
            # skips them (same gate as Series/DataFrame cum*). A running
            # extreme is one of the group's own values, so it keeps the
            # source type like DataFrame._cumulative's prefix scan.
            e = (self._df._reduce(kind, c, over=w)
                 if kind in ("sum", "prod")
                 else (F.min if kind == "min" else F.max)(c).over(w))
            return F.when(F.col(c).isNotNull(), e)
        return self._transform_frame(sdf, self._value_cols(), mk)

    def cumsum(self):
        """Per-group cumulative sum (pandas ``groupby().cumsum()``),
        aligned row-for-row with the input."""
        return self._cumulative("sum")

    def cumprod(self):
        return self._cumulative("prod")

    def cummin(self):
        return self._cumulative("min")

    def cummax(self):
        return self._cumulative("max")

    def shift(self, periods: int = 1, fill_value=None):
        """Per-group shift of every non-key column (pandas
        ``groupby().shift()``). The lag rides a struct so introduced
        edge positions are distinguishable from data nulls —
        ``fill_value`` only fills the former, like pandas."""
        from pyspark.sql import Window
        sdf, order = self._gorder()
        w = Window.partitionBy(*self._by).orderBy(*order)
        fn = F.lag if periods >= 0 else F.lead

        def mk(c):
            s = fn(F.struct(F.col(c).alias("v")), abs(periods)).over(w)
            out = s["v"]
            if fill_value is not None:
                out = F.when(s.isNull(), F.lit(fill_value)) \
                    .otherwise(out)
            return out
        return self._transform_frame(sdf, self._all_value_cols(), mk)

    def diff(self, periods: int = 1):
        """Per-group difference vs the row ``periods`` back (pandas
        ``groupby().diff()``)."""
        from pyspark.sql import Window
        sdf, order = self._gorder()
        w = Window.partitionBy(*self._by).orderBy(*order)
        fn = F.lag if periods >= 0 else F.lead

        def mk(c):
            v = F.col(c).cast("double")
            return v - fn(v, abs(periods)).over(w)
        return self._transform_frame(sdf, self._value_cols(), mk)

    def ffill(self):
        """Per-group forward fill (pandas ``groupby().ffill()``) —
        ``last(ignorenulls)`` over the group's preceding frame."""
        from pyspark.sql import Window
        sdf, order = self._gorder()
        w = (Window.partitionBy(*self._by).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, 0))
        return self._transform_frame(
            sdf, self._all_value_cols(),
            lambda c: F.last(F.col(c), ignorenulls=True).over(w))

    def bfill(self):
        """Per-group backward fill — ``last(ignorenulls)`` over the
        REVERSED order as a running frame: a
        (current -> unboundedFollowing) frame with first() re-scans
        the group tail per row, O(group^2) (plans/ordinal.py has the
        measurement); the reversed running frame is O(group) and the
        re-sort stays inside the same partitioning."""
        from pyspark.sql import Window
        sdf, order = self._gorder(rev=True)
        w = (Window.partitionBy(*self._by).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, 0))
        return self._transform_frame(
            sdf, self._all_value_cols(),
            lambda c: F.last(F.col(c), ignorenulls=True).over(w))

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False):
        """Per-group value rank (pandas ``groupby().rank()``), every
        pandas tie method, NULLs unranked. Each value column needs
        its own value-ordered window, but all windows share the one
        group-key shuffle."""
        from pyspark.sql import Window
        sdf, order = self._gorder()
        if method not in ("average", "min", "max", "first", "dense"):
            raise ValueError(f"unknown rank method {method!r}")

        def mk(c):
            vo = (F.col(c).asc_nulls_last() if ascending
                  else F.col(c).desc_nulls_last())
            wv = Window.partitionBy(*self._by).orderBy(vo, *order)
            wt = Window.partitionBy(*self._by, F.col(c))
            if method == "first":
                r = F.row_number().over(wv).cast("double")
            elif method == "min":
                r = F.rank().over(
                    Window.partitionBy(*self._by).orderBy(vo)) \
                    .cast("double")
            elif method == "dense":
                r = F.dense_rank().over(
                    Window.partitionBy(*self._by).orderBy(vo)) \
                    .cast("double")
            else:
                rn = F.row_number().over(wv)
                r = (F.avg(rn).over(wt) if method == "average"
                     else F.max(rn).over(wt).cast("double"))
            if pct:
                wg = Window.partitionBy(*self._by)
                # dense pct divides by the DISTINCT value count
                # (pandas); others by the non-null count
                den = (F.size(F.collect_set(F.col(c)).over(wg))
                       if method == "dense"
                       else F.count(F.col(c)).over(wg))
                r = r / den
            return F.when(F.col(c).isNotNull(), r)
        return self._transform_frame(sdf, self._value_cols(), mk)

    def _pos_filter(self, keep):
        from .frame import DataFrame
        from pyspark.sql import Window
        sdf, order = self._gorder()
        out = sdf.withColumn("__gn__", F.row_number().over(
            Window.partitionBy(*self._by).orderBy(*order)))
        out = out.filter(keep(F.col("__gn__"))).drop("__gn__")
        return DataFrame._make(out, self._df._index_cols,
                               self._df._data_cols, self._df._order)

    def head(self, n: int = 5):
        """First ``n`` rows of each group in the logical order
        (pandas ``groupby().head()``) — a row_number filter, all
        columns kept, no aggregation."""
        return self._pos_filter(lambda r: r <= n)

    def tail(self, n: int = 5):
        from pyspark.sql import Window
        from .frame import DataFrame
        sdf, order = self._gorder()
        out = sdf.withColumn("__gn__", F.count(F.lit(1)).over(
            Window.partitionBy(*self._by))) \
            .withColumn("__gr__", F.row_number().over(
                Window.partitionBy(*self._by).orderBy(*order)))
        out = out.filter(F.col("__gr__") > F.col("__gn__") - n) \
            .drop("__gn__", "__gr__")
        return DataFrame._make(out, self._df._index_cols,
                               self._df._data_cols, self._df._order)

    def nth(self, n: int):
        """The n-th row of each group (0-based; negative from the
        end), groups shorter than ``n+1`` dropped — pandas
        ``groupby().nth``."""
        if n >= 0:
            return self._pos_filter(lambda r: r == n + 1)
        from pyspark.sql import Window
        from .frame import DataFrame
        sdf, order = self._gorder()
        out = sdf.withColumn("__gn__", F.count(F.lit(1)).over(
            Window.partitionBy(*self._by))) \
            .withColumn("__gr__", F.row_number().over(
                Window.partitionBy(*self._by).orderBy(*order)))
        out = out.filter(F.col("__gr__") == F.col("__gn__") + n + 1) \
            .drop("__gn__", "__gr__")
        return DataFrame._make(out, self._df._index_cols,
                               self._df._data_cols, self._df._order)

    def _aggregate(self, names: list | str):
        single = isinstance(names, str)
        names = [names] if single else list(names)
        return self._agg_frame([
            self._df._reduce(a, c).alias(c if single else f"{c}_{a}")
            for c in self._value_cols(include_bool=True) for a in names])

    def _agg_frame(self, exprs, key_order: bool = False):
        """One grouped aggregate of ``exprs``; the grouping keys become
        the index (groupby.py:56-80) and, with ``key_order``, the row
        order."""
        from .frame import DataFrame
        out = self._df._sdf.groupBy(*self._by).agg(*exprs)
        data = [e for e in out.columns if e not in self._by]
        return DataFrame._make(out, list(self._by), data,
                               [(c, True) for c in self._by]
                               if key_order else None)

    def min(self): return self._aggregate("min")
    def max(self): return self._aggregate("max")
    def sum(self): return self._aggregate("sum")
    def prod(self): return self._aggregate("prod")
    def mean(self): return self._aggregate("mean")
    def var(self): return self._aggregate("var")
    def std(self): return self._aggregate("std")
    def count(self): return self._aggregate("count")

    def skew(self):
        """Per-group bias-corrected sample skewness (pandas
        ``groupby().skew()``) — ONE map-side partial hash-agg
        shuffle. n<3 -> NULL, zero variance -> 0."""
        return self._aggregate("skew")

    def kurt(self):
        """Per-group bias-corrected excess kurtosis (pandas
        ``groupby().kurt()``); n<4 -> NULL, zero variance -> 0."""
        return self._aggregate("kurt")

    def ewm(self, alpha: float | None = None, span: float | None = None,
            ignore_na: bool = False, adjust: bool = True,
            com: float | None = None, halflife=None,
            times: str | None = None, min_periods: int = 0):
        """Per-group exponentially-weighted windows (pandas
        ``groupby().ewm()``): pandas' own grouped C ewm kernel runs
        over whole batches of key-contiguous rows in the shared
        batched ``mapInPandas`` pass (:func:`_window_pass`) — the
        honest path for a per-row recursion that is neither a prefix
        sum nor a bounded window. State is bounded per group; the
        GLOBAL decayed-carry scan (plans/ordinal.py:
        with_ewm_stats_multi) remains the un-grouped face. With
        ``times`` (a column name) the decay follows the stamp
        distances (pandas defines only the adjust=True mean there)."""
        from .window import _ewm_decay
        alpha, hl = _ewm_decay(com, span, halflife, alpha, adjust, times)
        if times is None and hl is not None:
            raise ValueError(
                "a Timedelta/offset halflife needs times= (pandas "
                "refuses it too)")
        if times is not None and times not in self._df._sdf.columns:
            raise KeyError(times)
        return _GroupEwm(self, alpha, ignore_na, bool(adjust), hl, times,
                         min_periods)

    def aggregate(self, *a, **k):
        return self.agg(*a, **k)

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def _bool_agg(self, kind: str):
        """Per-group any/all (pandas skipna flavor) — one shuffle."""
        from .frame import DataFrame
        fn = F.max if kind == "any" else F.min
        default = F.lit(kind != "any")
        exprs = [F.coalesce(fn(F.col(c).cast("boolean")), default)
                 .alias(c) for c in self._all_value_cols()]
        out = self._df._sdf.groupBy(*self._by).agg(*exprs)
        return DataFrame._make(
            out, list(self._by),
            [c for c in out.columns if c not in self._by],
            [(c, True) for c in self._by])

    def any(self):
        return self._bool_agg("any")

    def all(self):
        return self._bool_agg("all")

    def ngroups(self) -> int:
        """Eager distinct-group count (one agg job)."""
        return self._df._sdf.select(*self._by).distinct().count()

    def ngroup(self):
        """Dense 0..ngroups-1 group id per row (pandas ``ngroup``,
        sort=True flavor: ids follow key order). The id table is one
        distinct + a dense ordinal over the GROUPS (not the rows),
        joined back — never an unpartitioned window over the data.
        No forced broadcast hint: group-key cardinality is unbounded
        (ids can approach row count), so AQE picks the strategy by
        the id table's actual size — small key sets still broadcast
        automatically under the 10 MB auto-threshold."""
        from ..plans.ordinal import with_dense_ordinal
        from .series import Series
        keys = (self._df._sdf.select(*self._by).distinct())
        keys = with_dense_ordinal(
            keys, [F.col(c).asc() for c in self._by],
            name="__ng__")
        out = self._df._sdf.join(keys, self._by, "left")
        return Series._make(out, F.col("__ng__"),
                            self._df._index_cols, "ngroup",
                            self._df._order)

    def get_group(self, key):
        """The sub-frame of one group (pandas ``get_group``) — a
        filter, fully lazy."""
        key = (key,) if not isinstance(key, tuple) else key
        if len(key) != len(self._by):
            raise KeyError(key)
        cond = None
        for c, v in zip(self._by, key):
            e = F.col(c) == F.lit(v)
            cond = e if cond is None else cond & e
        return self._df._replace_sdf(self._df._sdf.filter(cond))

    def value_counts(self, normalize: bool = False,
                     ascending: bool = False):
        """Counts of value combinations within each group (pandas
        ``groupby().value_counts()``) — one hash-agg shuffle;
        ``normalize`` divides by the per-group total through a window
        over the GROUPS' combination table (bounded by combinations,
        not rows)."""
        from pyspark.sql import Window
        from .series import Series
        vcols = self._all_value_cols()
        cnt = (self._df._sdf.dropna(subset=vcols)
               .groupBy(*self._by, *vcols)
               .agg(F.count(F.lit(1)).alias("__n__")))
        if normalize:
            w = Window.partitionBy(*self._by)
            cnt = cnt.withColumn(
                "__n__", F.col("__n__")
                / F.sum("__n__").over(w))
        cnt = cnt.orderBy(*[F.col(c) for c in self._by],
                          F.col("__n__").asc() if ascending
                          else F.col("__n__").desc())
        name = "proportion" if normalize else "count"
        return Series._make(cnt, F.col("__n__"),
                            list(self._by) + vcols, name, None)

    def describe(self, approx: bool = False,
                 accuracy: int = 10000):
        """Per-group count/mean/std/min/quartiles/max for every value
        column — ONE shuffle, one array-percentile buffer per column
        (the frame describe scheme, grouped). Output is wide:
        ``{col}_{stat}`` columns, one row per group."""
        qarr = F.expr("array(0.25D, 0.5D, 0.75D)")
        exprs = []
        for c in self._value_cols():
            d = F.col(c).cast("double")
            q = (F.percentile_approx(d, qarr, F.lit(accuracy))
                 if approx else F.percentile(d, qarr))
            st = {s: self._df._reduce(s, c).cast("double")
                  for s in ("count", "mean", "std", "min", "max")}
            st.update({p: F.element_at(q, i + 1)
                       for i, p in enumerate(("25%", "50%", "75%"))})
            exprs += [st[s].alias(f"{c}_{s}") for s in
                      ("count", "mean", "std", "min", "25%", "50%", "75%",
                       "max")]
        return self._agg_frame(exprs, True)

    def ohlc(self):
        """Per-group open/high/low/close (pandas ``groupby().ohlc()``)
        — open/close are ``min_by``/``max_by`` over the ordered
        position, high/low plain min/max: ONE map-side partial
        hash-agg shuffle for all four."""
        from ..plans.ordinal import ORD_COL
        from .frame import DataFrame
        sdf, order = self._gorder()
        # a positional key for min_by/max_by: the first order column
        # (sort_values materialized expressions into real columns)
        ocols = [c for c, _ in (self._df._order or [])
                 if c in sdf.columns] or \
            ([ORD_COL] if ORD_COL in sdf.columns else [])
        if not ocols:
            raise ValueError("ohlc needs a defined row order")
        pos = F.struct(*[F.col(c) for c in ocols])
        exprs = []
        for c in self._value_cols():
            v = F.col(c).cast("double")
            exprs += [F.min_by(v, pos).alias(f"{c}_open"),
                      F.max(v).alias(f"{c}_high"),
                      F.min(v).alias(f"{c}_low"),
                      F.max_by(v, pos).alias(f"{c}_close")]
        out = self._df._sdf.groupBy(*self._by).agg(*exprs)
        return DataFrame._make(
            out, list(self._by),
            [c for c in out.columns if c not in self._by],
            [(c, True) for c in self._by])

    def pct_change(self, periods: int = 1):
        """Per-group fractional change vs the row ``periods`` back
        (pandas ``groupby().pct_change()``) — one keyed Window."""
        from pyspark.sql import Window
        sdf, order = self._gorder()
        w = Window.partitionBy(*self._by).orderBy(*order)
        fn = F.lag if periods >= 0 else F.lead

        def mk(c):
            v = F.col(c).cast("double")
            prev = fn(v, abs(periods)).over(w)
            return v / prev - 1
        return self._transform_frame(sdf, self._value_cols(), mk)

    def sem(self, ddof: int = 1):
        """Per-group standard error of the mean (pandas
        ``groupby().sem()``) — ONE map-side partial hash-agg
        shuffle."""
        return self._agg_frame([self._df._reduce("sem", c, ddof).alias(c)
                                for c in self._value_cols()], True)

    def size(self):
        from .frame import DataFrame
        out = self._df._sdf.groupBy(*self._by).agg(
            F.count(F.lit(1)).alias("size"))
        return DataFrame._make(out, list(self._by), ["size"], None)

    def nunique(self, cols=None):
        """Distinct values per group and column (pandas
        ``groupby().nunique``; NULLs excluded like pandas
        dropna=True). One exact count_distinct shuffle."""
        cols = ([cols] if isinstance(cols, str)
                else list(cols or self._value_cols()))
        return self._agg_frame([self._df._reduce("nunique", c).alias(c)
                                for c in cols])

    def fillna(self, value=None, method: str | None = None):
        """Per-group fillna (pandas ``groupby().fillna``): a scalar
        ``value`` is a group-independent coalesce projection (no
        shuffle); ``method='ffill'/'bfill'`` delegates to the
        per-group running carries."""
        if method == "ffill":
            return self.ffill()
        if method == "bfill":
            return self.bfill()
        if method is not None:
            raise ValueError(f"unknown fillna method {method!r}")
        if value is None:
            raise ValueError("fillna needs a value or a method")
        sch = {f.name: f.dataType
               for f in self._df._sdf.schema.fields}
        if isinstance(value, str):
            cols = [c for c in self._all_value_cols()
                    if sch[c].typeName() == "string"]
        else:
            cols = self._value_cols()
        return self._transform_frame(
            self._df._sdf, cols,
            lambda c: F.coalesce(F.col(c), F.lit(value)))

    def take(self, indices):
        """Positional rows per group (pandas ``groupby().take``):
        a row_number filter against the literal position set;
        negatives resolve per group off one count window — no
        collect, no per-group loop. Known divergence: positions
        past a group's end FILTER silently (lazy engine — the
        check would cost an eager job) where pandas raises
        IndexError."""
        from pyspark.sql import Window
        from .frame import DataFrame
        idx = [int(i) for i in indices]
        pos = [i for i in idx if i >= 0]
        neg = [i for i in idx if i < 0]
        sdf, order = self._gorder()
        w = Window.partitionBy(*self._by).orderBy(*order)
        out = sdf.withColumn("__gp__", F.row_number().over(w) - 1)
        if neg:
            out = out.withColumn(
                "__gn__", F.count(F.lit(1)).over(
                    Window.partitionBy(*self._by)))
        cond = F.lit(False)
        if pos:
            cond = cond | F.col("__gp__").isin(pos)
        if neg:
            cond = cond | (F.col("__gp__") - F.col("__gn__")).isin(neg)
        out = out.filter(cond).drop("__gp__", "__gn__")
        return DataFrame._make(out, self._df._index_cols,
                               self._df._data_cols, self._df._order)

    def sample(self, n: int | None = None, frac: float | None = None,
               random_state: int | None = None):
        """Per-group sampling (pandas ``groupby().sample``):
        row_number over a seeded shuffle order, one window — no
        collect. ``frac`` keeps round(frac*size) rows per group;
        ``n`` keeps exactly n (one eager probe raises like pandas
        when any group is smaller)."""
        from pyspark.sql import Window
        from .frame import DataFrame
        if (n is None) == (frac is None):
            raise ValueError("pass exactly one of n= or frac=")
        seed = random_state if random_state is not None else 42
        # no _gorder: sampling needs no input row order (the window
        # orders by the seeded rand), so scan-backed frames work
        sdf = self._df._sdf
        w = Window.partitionBy(*self._by).orderBy(F.rand(seed))
        out = sdf.withColumn("__gr__", F.row_number().over(w))
        if frac is not None:
            out = out.withColumn(
                "__gn__", F.count(F.lit(1)).over(
                    Window.partitionBy(*self._by)))
            out = out.filter(
                F.col("__gr__")
                <= F.round(F.col("__gn__") * F.lit(float(frac)))) \
                .drop("__gn__")
        else:
            small = (sdf.groupBy(*self._by)
                     .agg(F.count(F.lit(1)).alias("n"))
                     .agg(F.min("n").alias("m")).collect()[0]["m"])
            if small is not None and small < n:
                raise ValueError(
                    f"cannot take a sample of {n} rows: a group has "
                    f"only {small} (pandas raises here too; use "
                    "frac= for proportional sampling)")
            out = out.filter(F.col("__gr__") <= n)
        out = out.drop("__gr__")
        return DataFrame._make(out, self._df._index_cols,
                               self._df._data_cols, self._df._order)

    def _pair_matrix(self, fn, diag_one: bool):
        """Per-group pairwise matrix (corr/cov): EVERY pair rides
        ONE groupBy agg (k^2 aggregate expressions share a single
        shuffle — never a per-pair job), then the wide row explodes
        into pandas' (group, column) long layout as a pure
        projection."""
        from .frame import DataFrame
        cols = self._value_cols()
        sdf = self._df._sdf
        exprs = [fn(F.col(a).cast("double"),
                    F.col(b).cast("double")).alias(f"__{i}_{j}__")
                 for i, a in enumerate(cols)
                 for j, b in enumerate(cols) if j >= i]
        mat = sdf.groupBy(*self._by).agg(*exprs)

        def cell(i, j):
            i, j = min(i, j), max(i, j)
            return F.col(f"__{i}_{j}__")
        rows = mat.select(
            *self._by,
            F.explode(F.array(*[
                F.struct(F.lit(a).alias("level_1"),
                         *[cell(i, j).alias(b)
                           for j, b in enumerate(cols)])
                for i, a in enumerate(cols)])).alias("__r__"))
        out = rows.select(*self._by, F.col("__r__.*"))
        return DataFrame._make(
            out, [*self._by, "level_1"], list(cols),
            [(k, True) for k in (*self._by, "level_1")])

    def corr(self, method: str = "pearson"):
        """Per-group correlation matrix (pandas
        ``groupby().corr()``) in the stacked (group, column) layout.
        Pearson rides k^2 F.corr aggregates in ONE shuffle
        (pairwise-complete observations, like pandas).
        spearman/kendall (r9) run pandas' OWN grouped corr inside
        the batched mapInPandas kernel — exact parity by
        construction, including the per-PAIR complete-observation
        ranking that no rank-then-F.corr composition reproduces
        when null patterns differ across columns; groups are
        bounded per key, so the kernel is scale-safe."""
        if method == "pearson":
            return self._pair_matrix(F.corr, diag_one=True)
        if method not in ("spearman", "kendall"):
            raise ValueError(f"unknown corr method {method!r}")
        if method == "kendall":
            # pandas' own kendall kernel imports scipy
            try:
                import scipy.stats  # noqa: F401
            except ImportError:
                raise NotImplementedError(
                    "groupby().corr(method='kendall') needs scipy "
                    "(pandas' own kendall kernel imports "
                    "scipy.stats); it is not installed here")
        return self._rank_matrix(method)

    def _rank_matrix(self, method: str):
        import pandas as pd  # noqa: F401
        from pyspark.sql import types as T

        from .frame import DataFrame
        cols = self._value_cols()
        by = list(self._by)
        sdf = self._df._sdf

        def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
            fv = pdf[by + cols].copy()
            for c in cols:
                fv[c] = fv[c].astype("float64")
            res = (fv.groupby(by, sort=False, dropna=False)[cols]
                   .corr(method=method)).reset_index()
            res = res.rename(
                columns={res.columns[len(by)]: "level_1"})
            return res[by + ["level_1"] + cols]

        schema = T.StructType(
            [sdf.schema[b] for b in by]
            + [T.StructField("level_1", T.StringType())]
            + [T.StructField(c, T.DoubleType()) for c in cols])
        out = _grouped_batches(sdf.select(*by, *cols), by, [], _run, schema)
        return DataFrame._make(out, [*by, "level_1"], list(cols),
                               [(k, True) for k in (*by, "level_1")])

    def cov(self):
        """Per-group covariance matrix (sample, ddof=1 — pandas
        default), stacked (group, column) layout."""
        return self._pair_matrix(F.covar_samp, diag_one=False)

    def corrwith(self, other):
        """Per-group correlation with ``other``'s matching columns
        aligned on the index (pandas ``groupby().corrwith``): one
        index join + one grouped agg of F.corr pairs."""
        from .frame import DataFrame
        if not self._df._index_cols or not other._index_cols:
            raise ValueError("corrwith needs an index on both sides")
        k = self._df._index_cols[0]
        ok_ = other._index_cols[0]
        shared = [c for c in self._value_cols()
                  if c in other._data_cols]
        osdf = other._sdf.select(
            F.col(ok_).alias(k),
            *[F.col(c).alias(f"__o_{c}__") for c in shared])
        j = self._df._sdf.join(osdf, k)
        out = j.groupBy(*self._by).agg(
            *[F.corr(F.col(c).cast("double"),
                     F.col(f"__o_{c}__").cast("double")).alias(c)
              for c in shared])
        return DataFrame._make(out, list(self._by), shared, None)

    def resample(self, freq: str, on: str | None = None):
        """Per-group time resample (pandas
        ``groupby().resample(freq)``): groups stream through
        ``applyInPandas`` and pandas' own resampler runs per group —
        gap buckets are generated inside each group exactly like
        pandas (per-group state stays bounded by the group's time
        span; the shuffle is the one group-key exchange)."""
        on = on or self._df._index_cols[0]
        return _GroupResampler(self, freq, on)

    @property
    def ndim(self) -> int:
        return 2

    @property
    def dtypes(self):
        """Column dtypes (pandas GroupBy.dtypes is per-group but
        dtypes never differ across groups in this engine's typed
        columns — one frame-level answer)."""
        return self._df.dtypes

    @property
    def groups(self) -> dict:
        """Driver-side {group key: index labels} map (pandas
        ``GroupBy.groups``). Materializes the WHOLE index — guarded
        at 100k rows; at scale use the lazy aggregations instead."""
        return self._label_map(positions=False)

    @property
    def indices(self) -> dict:
        """Driver-side {group key: positional ndarray} (pandas
        ``GroupBy.indices``), same 100k guard."""
        return self._label_map(positions=True)

    def _label_map(self, positions: bool) -> dict:
        import numpy as np
        sdf, ordc = self._pos_sdf("groups")
        lbl = (ordc if positions else
               (self._df._index_cols[0]
                if self._df._index_cols else ordc))
        rows = (sdf.groupBy(*self._by)
                .agg(F.sort_array(F.collect_list(
                    F.struct(F.col(ordc), F.col(lbl)))).alias("ls"),
                    F.count(F.lit(1)).alias("n"))
                .limit(100_001).collect())
        total = sum(r["n"] for r in rows)
        if total > 100_000 or len(rows) > 100_000:
            raise ValueError(
                "groups/indices materializes the whole index on the "
                "driver — over the 100k-row guard; aggregate "
                "lazily instead")
        key = (lambda r: tuple(r[b] for b in self._by)) \
            if len(self._by) > 1 else (lambda r: r[self._by[0]])
        return {key(r): np.array([s[lbl] for s in r["ls"]])
                for r in rows}

    def _pos_sdf(self, what: str):
        """(sdf, pos_col) with a fresh dense positional column along
        the frame's logical order — ordinal labels OR a sort_values
        order both work; an unordered scan-backed frame raises (the
        pick would be nondeterministic)."""
        from ..plans.ordinal import ORD_COL, POS_COL
        if not self._df._order and ORD_COL not in self._df._sdf.columns:
            raise ValueError(
                f"groupby().{what} needs a positional row order, which "
                f"unordered scan-backed frames don't carry — "
                f"sort_values(...) first (any deterministic order "
                f"works)")
        return self._df._ordered_sdf(), POS_COL

    def first(self, cols=None):
        """First non-null value per group in positional order (pandas
        ``groupby().first``) — min_by over the row ordinal, null rows
        excluded; one shuffle, no window."""
        return self._positional("first", cols)

    def last(self, cols=None):
        """Last non-null value per group in positional order."""
        return self._positional("last", cols)

    def _positional(self, kind: str, cols):
        from .frame import DataFrame
        sdf, ordc = self._pos_sdf(f"{kind}()")
        cols = ([cols] if isinstance(cols, str)
                else list(cols or self._value_cols()))
        pick = F.min_by if kind == "first" else F.max_by
        out = sdf.groupBy(*self._by).agg(
            *[pick(F.col(c), F.when(F.col(c).isNotNull(), F.col(ordc)))
              .alias(c) for c in cols])
        data = [e for e in out.columns if e not in self._by]
        return DataFrame._make(out, list(self._by), data, None)

    def cumcount(self):
        """0-based position of each row within its group in positional
        order (pandas ``groupby().cumcount``). Window partitioned by
        the group keys — per-group state only, no global collapse."""
        from pyspark.sql import Window

        from .series import Series
        sdf, ordc = self._pos_sdf("cumcount()")
        w = Window.partitionBy(*self._by).orderBy(F.col(ordc).asc())
        sdf = sdf.withColumn(
            "__cc__", (F.row_number().over(w) - 1).cast("long")) \
            .drop(ordc)
        return Series._make(sdf, F.col("__cc__"),
                            self._df._index_cols, None, self._df._order)

    def idxmax(self, cols=None):
        """Index label of each group's maximum (pandas
        ``groupby().idxmax``; ties -> first occurrence). max_by over
        (value, -ordinal) struct — one shuffle, no join-back."""
        return self._idx_of(True, cols)

    def idxmin(self, cols=None):
        return self._idx_of(False, cols)

    def _idx_of(self, is_max: bool, cols):
        from .frame import DataFrame
        sdf, ordc = self._pos_sdf("idxmax()/idxmin()")
        idx = next((c for c in self._df._index_cols
                    if c in sdf.columns), ordc)
        cols = ([cols] if isinstance(cols, str)
                else list(cols or self._value_cols()))
        exprs = []
        for c in cols:
            v = F.col(c) if is_max else -F.col(c).cast("double")
            # ties -> first occurrence: -ordinal rides second in the
            # struct so the earliest row wins the max; an all-null
            # group has no argmax (pandas yields NaN, not an
            # arbitrary row — the struct key is non-null even when
            # its value field is, so max_by alone would pick one)
            key = F.struct(v.alias("v"), (-F.col(ordc)).alias("o"))
            exprs.append(
                F.when(F.count(F.col(c)) > 0,
                       F.max_by(F.col(idx), key)).alias(c))
        out = sdf.groupBy(*self._by).agg(*exprs)
        data = [e for e in out.columns if e not in self._by]
        return DataFrame._make(out, list(self._by), data, None)

    def quantile(self, q=0.5, cols=None, approx: bool = False,
                 accuracy: int = 10000):
        """Per-group quantile (pandas ``groupby().quantile``); ``q``
        may be a scalar or a list of percentages (one output column
        per (value column, q) pair, named ``{col}_p{N}``). Exact
        interpolated by default (ANSI percentile_cont / DuckDB
        quantile_cont) — but the exact aggregate buffers each group's
        value multiset, so per-group quantiles over billions of rows
        per group need ``approx=True``: the Greenwald-Khanna sketch
        (percentile_approx) is a mergeable partial aggregate with
        bounded (~``accuracy``-entry) state per group and rank error
        <= 1/accuracy; it returns an actual group element (discrete,
        not interpolated). Both faces map-side combine like sum, and
        all of a column's percentages share ONE buffer/sketch (array
        percentile), not one per q."""
        from .frame import DataFrame
        cols = ([cols] if isinstance(cols, str)
                else list(cols or self._value_cols()))
        qs = [float(q)] if isinstance(q, (int, float)) else \
            [float(p) for p in q]
        # dot-free output names (v_p25): dots in column names need
        # backtick-quoting everywhere downstream. Percentages that
        # round to the same integer percent (q=[0.5, 0.504] -> p50)
        # fall back to full-precision tags (p50, p50_4) so output
        # columns stay unambiguous; exact duplicate q values have no
        # distinct name and raise.
        tags = [f"p{round(p * 100):g}" for p in qs]
        if len(set(tags)) != len(tags):
            tags = [f"p{p * 100:g}".replace(".", "_").replace("-", "m")
                    for p in qs]
            if len(set(tags)) != len(tags):
                raise ValueError(f"duplicate quantiles in q={qs!r} — "
                                 f"each q must be distinct")
        qarr = F.expr(
            "array(" + ",".join(f"{p!r}D" for p in qs) + ")")

        def pct(c):
            d = F.col(c).cast("double")
            if approx:
                return F.percentile_approx(d, qarr, F.lit(accuracy))
            return F.percentile(d, qarr)

        out = self._df._sdf.groupBy(*self._by).agg(
            *[pct(c).alias(f"__qs_{c}__") for c in cols])
        out = out.select(
            *self._by,
            *[F.element_at(F.col(f"__qs_{c}__"), F.lit(i + 1))
              .alias(f"{c}_{t}")
              for c in cols for i, t in enumerate(tags)])
        data = [e for e in out.columns if e not in self._by]
        return DataFrame._make(out, list(self._by), data, None)

    def median(self, cols=None, approx: bool = False,
               accuracy: int = 10000):
        """Per-group median (exact by default; ``approx=True`` for the
        sketch face)."""
        return self.quantile(0.5, cols, approx=approx, accuracy=accuracy)

    def apply(self, func, schema) -> "DataFrame":
        """Grouped-map UDF: ``func(pandas.DataFrame) -> pandas.DataFrame``
        per group, Arrow-batched via applyInPandas (engine extension;
        the closest reference analogue is the eager ``raw`` surface,
        SURVEY.md §2.8). ``schema`` is the output schema (DDL string).

        Scale: each group must fit in one executor's memory — use
        aggregations or window functions when the per-group result is
        expressible declaratively; this is the escape hatch.
        """
        from .frame import DataFrame
        src = _cluster_for_python(self._df._sdf, self._by)
        out = src.groupBy(*self._by).applyInPandas(func, schema)
        return DataFrame.from_spark(out)

    def filter(self, predicate, schema=None) -> "DataFrame":
        """Keep only rows of groups satisfying ``predicate`` (pandas
        ``groupby().filter``). Two flavors:

        - ``str``: a SQL AGGREGATE predicate evaluated per group —
          ``gb.filter("sum(x) > 300")`` — compiled to a HAVING-style
          rewrite: one hash aggregation over the keys + a semi join
          back. Scale-safe (two keyed shuffles, no Python) — prefer
          this form.
        - callable: ``func(pandas.DataFrame) -> bool`` per group via
          Arrow (the applyInPandas escape hatch — each group must fit
          in one executor, like :meth:`apply`).
        """
        from .frame import DataFrame
        sdf = self._df._sdf
        if isinstance(predicate, str):
            keep = (sdf.groupBy(*self._by)
                    .agg(F.expr(predicate).alias("__keep__"))
                    .where(F.col("__keep__"))
                    .select(*self._by))
            out = sdf.join(keep, self._by, "left_semi")
            return DataFrame._make(out, self._df._index_cols,
                                   self._df._data_cols, self._df._order)

        import pandas as pd

        def _flt(pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf if predicate(pdf) else pdf.iloc[0:0]

        ddl = schema or sdf.schema
        src = _cluster_for_python(sdf, self._by)
        out = src.groupBy(*self._by).applyInPandas(_flt, ddl)
        return DataFrame._make(out, self._df._index_cols,
                               self._df._data_cols, self._df._order)

    def transform(self, agg: str, cols=None) -> "DataFrame":
        """Group statistic broadcast back onto EVERY row (pandas
        ``groupby().transform``): each selected column gains a
        ``{col}_{agg}`` sibling holding its group's aggregate.
        Declarative window over the group keys — no Python, and no
        second join back to the rows (the window's partial aggregation
        reuses the shuffle that groups the rows)."""
        from pyspark.sql import Window

        from .frame import DataFrame
        cols = ([cols] if isinstance(cols, str)
                else list(cols or self._value_cols()))
        w = Window.partitionBy(*self._by)
        sdf = self._df._sdf
        added = []
        for c in cols:
            name = f"{c}_{agg}"
            sdf = sdf.withColumn(name, self._df._reduce(agg, c, over=w))
            added.append(name)
        return DataFrame._make(sdf, self._df._index_cols,
                               self._df._data_cols + added,
                               self._df._order)

    def agg(self, aggregations=None, **named) -> "DataFrame":
        """Multi-agg: one shuffle for all (col, agg) pairs. Accepts
        the list/dict forms and pandas NAMED aggregation —
        ``agg(total=("v", "sum"), hi=("v", "max"))`` — where each
        kwarg names an output column built from one (column, agg)
        pair; callables in the pair are resolved by __name__ like
        pandas accepts np.sum."""
        if named:
            if aggregations is not None:
                raise ValueError(
                    "pass positional aggregations OR named ones")
            exprs = []
            for out_name, spec in named.items():
                if not (isinstance(spec, tuple) and len(spec) == 2):
                    raise TypeError(
                        f"named agg {out_name!r} must be a "
                        "(column, agg) tuple")
                c, a = spec
                if callable(a):
                    a = a.__name__
                if c not in self._df._data_cols:
                    raise KeyError(c)
                exprs.append(self._df._reduce(a, c).alias(out_name))
            return self._agg_frame(exprs)
        if isinstance(aggregations, dict):
            exprs = []
            for c, aggs in aggregations.items():
                aggs = ([aggs] if isinstance(aggs, str)
                        or callable(aggs) else aggs)
                for a in aggs:
                    if callable(a):
                        a = a.__name__  # np.sum etc., like pandas
                    exprs.append(self._df._reduce(a, c).alias(f"{c}_{a}"))
            return self._agg_frame(exprs)
        return self._aggregate(aggregations)


class _GroupWindow:
    """The pandas ``.agg`` binding of the grouped window faces
    (:class:`_GroupRolling`, :class:`_GroupEwm`), written once: a str
    delegates; a dict {col: stat} column-binds one statistic per named
    value column (flat names, the bound columns replace the value
    columns); a list emits flat stat names for a single value column
    (pandas' Series-face shape) or ``str((col, stat))`` col-major for
    several. Unbound value columns drop out. A face supplies
    ``_STATS`` and ``_bound(items)``, which runs every requested
    statistic in ONE pass."""

    _drop = ()
    _HINT = ""

    def agg(self, func):
        if isinstance(func, str):
            return getattr(self, func)()
        vcols = [c for c in self._gb._value_cols() if c not in self._drop]
        if isinstance(func, dict):
            items = []
            for c, st in func.items():
                if not isinstance(st, str):
                    raise ValueError(
                        f"grouped {self._WHAT} .agg dict values must be "
                        "single statistic names (a list per column "
                        "would need MultiIndex columns); got "
                        f"{st!r} for {c!r}")
                if c not in vcols:
                    raise KeyError(c)
                items.append((str(c), c, st))
        else:
            stats = list(func)
            if len(vcols) == 1:
                items = [(str(st), vcols[0], st) for st in stats]
            else:
                items = [(str((c, st)), c, st)
                         for c in vcols for st in stats]
        if not items:
            raise ValueError("no results")
        names = [n for n, _, _ in items]
        if len(set(names)) < len(items):
            raise ValueError(
                "duplicate output names in .agg; engine columns "
                "are uniquely named — use a dict to alias each "
                "statistic")
        for _, _, st in items:
            if not isinstance(st, str) or st not in self._STATS:
                raise ValueError(
                    f"unknown grouped {self._WHAT} statistic {st!r}; "
                    f"expected one of {sorted(self._STATS)}"
                    + self._HINT)
        _kept(self._gb._df, vcols, names)
        return self._bound(items)

    aggregate = agg


class _GroupRolling(_GroupWindow):
    """Per-group trailing-window aggregations (see
    :meth:`DataFrameGroupBy.rolling`). Returns the original frame
    with value columns replaced by their rolled statistics, aligned
    row-for-row — join-free. pandas min_periods semantics: count()
    gates on window fullness, the rest on non-null observations."""

    _JVM_STATS = ("sum", "mean", "count", "min", "max", "var",
                  "std")
    _STATS = _JVM_STATS + ("median", "skew", "kurt", "sem", "rank")
    _WHAT = "window"
    _HINT = " (quantile needs q= — call it directly)"

    def __init__(self, gb: DataFrameGroupBy, window: int | None,
                 min_periods: int | None, center: bool = False,
                 time_us: int | None = None):
        """``window=None`` means an unbounded-preceding (expanding)
        frame; min_periods then defaults to 1 like pandas.
        ``center=True`` (fixed windows only) spans pandas' LEFT-heavy
        split [i-w//2, i+(w-1)//2] — a rowsBetween(-h1, +h2) frame for the
        JVM aggregates, center= passed to the pandas kernel for the
        order statistics."""
        if window is not None and window <= 0:
            raise ValueError(f"window must be positive, got {window}")
        if center and window is None:
            raise ValueError("expanding windows have no center=")
        self._gb = gb
        self._window = window
        self._center = bool(center)
        self._time_us = time_us
        if time_us is not None and min_periods is None:
            min_periods = 1
        if min_periods is None:
            min_periods = 1 if window is None else window
        self._mp = min_periods

    def _time_col(self):
        """The datetime column the frame is sorted by: the time axis
        of a time-offset window, for the JVM RANGE frame and the
        pandas pass alike."""
        df = self._gb._df
        sch = {f.name: f.dataType.typeName() for f in df._sdf.schema.fields}
        tcol = next((c for c, _ in (df._order or [])
                     if sch.get(c) in ("timestamp", "timestamp_ntz",
                                       "date")), None)
        if tcol is None:
            raise TypeError(
                "a time-offset grouped rolling needs the frame "
                "sorted by a datetime column (sort_values first)")
        return tcol

    def _wspec(self):
        """The shared per-group Window spec (rows / range / time
        frame) — ONE spec serves every statistic of a fused
        ``.agg``/``agg_pairs`` request, so Catalyst plans a single
        Window node: one group-key shuffle + one sort regardless of
        statistic count."""
        from pyspark.sql import Window
        gb = self._gb
        _, order = gb._gorder()
        if self._time_us is not None:
            # time-offset frame: (t - offset, t] over the order
            # column's microseconds — integer micros make the open
            # left bound exact as -(offset - 1)
            micros = F.unix_micros(F.col(self._time_col())
                                   .cast("timestamp"))
            return (Window.partitionBy(*gb._by).orderBy(micros)
                    .rangeBetween(-(self._time_us - 1), 0))
        if self._window is None:
            return (Window.partitionBy(*gb._by).orderBy(*order)
                    .rowsBetween(Window.unboundedPreceding, 0))
        if self._center:
            hi = (self._window - 1) // 2
            lo = -(self._window // 2)
        else:
            lo, hi = -(self._window - 1), 0
        return (Window.partitionBy(*gb._by).orderBy(*order)
                .rowsBetween(lo, hi))

    def _jvm_expr(self, name: str, c: str, w):
        """One statistic of one column over the shared Window spec —
        the building block of the single-stat faces, the fused
        ``.agg`` and ``agg_pairs``. The moment family is the window
        engine's (core/window._MOMENTS) over windowed sums."""
        from .window import _MOMENTS, _gated
        v = F.col(c).cast("double")
        n = F.count(F.col(c)).over(w)
        if name in _MOMENTS:
            build, floor, gate = _MOMENTS[name]
            base = build(F.sum(v).over(w), n, F.sum(v * v).over(w), 1)
            rows = F.count(F.lit(1)).over(w) if gate == "rows" else n
            return _gated(base, rows, floor(self._mp, 1)).cast("double")
        return _gated(self._gb._df._reduce(name, c, over=w), n,
                      self._mp).cast("double")

    def _select(self, outs: dict, data=None):
        """The kept columns plus the JVM window expressions ``outs``
        {name: expr} in ONE select; ``data`` overrides the result's
        data columns (default: kept ones, then ``outs``)."""
        from .frame import DataFrame
        df = self._gb._df
        kept, kept_data = _kept(df, self._gb._value_cols(), outs)
        return DataFrame._make(
            df._sdf.select(*kept, *[e.alias(n) for n, e in outs.items()]),
            df._index_cols, kept_data + list(outs) if data is None else data,
            df._order)

    def _agg(self, name: str):
        w = self._wspec()
        return self._select({c: self._jvm_expr(name, c, w)
                             for c in self._gb._value_cols()},
                            self._gb._df._data_cols)

    def sum(self): return self._agg("sum")
    def mean(self): return self._agg("mean")
    def count(self): return self._agg("count")
    def min(self): return self._agg("min")
    def max(self): return self._agg("max")
    def var(self): return self._agg("var")
    def std(self): return self._agg("std")

    def _pass(self, what, **kw):
        """Order statistics (median/quantile/skew/kurt/sem/rank), alone
        or in an ``.agg``: Spark refuses median/percentile over a
        row-framed window (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC),
        so these run pandas' grouped rolling C kernels in the shared
        batched pass (:func:`_window_pass`). Groups are bounded per
        key, so the EXPANDING flavor needs no cross-partition carry
        and the time-offset flavor no budget (unlike the global
        face); pandas' own time kernel supplies the positional
        duplicate-stamp rule, so these match pandas exactly where the
        JVM RANGE aggregates document their same-stamp-peers
        divergence."""
        import pandas as pd
        window, mp, center = self._window, self._mp, self._center
        index = None
        if self._time_us is not None:
            index, td = self._time_col(), pd.Timedelta(self._time_us,
                                                       unit="us")

            def window_of(g, pdf):
                return g.rolling(td, min_periods=mp)
        elif window is not None:
            def window_of(g, pdf):
                return g.rolling(window, min_periods=mp, center=center)
        else:
            def window_of(g, pdf):
                return g.expanding(mp)
        return _window_pass(self._gb, what, window_of, kw, index)

    def median(self): return self._pass("median")

    def quantile(self, q: float = 0.5, interpolation: str = "linear"):
        return self._pass("quantile", q=q, interpolation=interpolation)

    def skew(self): return self._pass("skew")
    def kurt(self): return self._pass("kurt")

    def sem(self, ddof: int = 1):
        return self._pass("sem", ddof=ddof)

    def rank(self, method: str = "average", pct: bool = False):
        return self._pass("rank", method=method, pct=pct)

    def _bound(self, items):
        """A bound ``.agg``: when every statistic is JVM-frameable
        (sum/mean/count/min/max/var/std) the WHOLE request is one
        select over ONE shared Window spec — a single Window node, so
        one group-key shuffle + one sort regardless of statistic
        count (each extra statistic is a free expression, not an
        extra scan). Any order statistic routes the whole request
        through ONE pandas pass. ``quantile`` needs its ``q`` — call
        it directly, like pandas' own ``.agg(['quantile'])``
        refusal."""
        if all(st in self._JVM_STATS for _, _, st in items):
            w = self._wspec()
            return self._select({n: self._jvm_expr(st, c, w)
                                 for n, c, st in items})
        return self._pass(items)

    def agg_pairs(self, specs: dict, ddof: int = 1):
        """ENGINE EXTENSION — the GROUPED face of the window engine's
        ``agg_pairs`` (core/window.Rolling.agg_pairs, r11): every requested
        per-column sum/mean/count AND pairwise cov/corr over the
        per-group window in ONE select over ONE shared Window spec.
        A single Window node = one group-key shuffle + one sort
        total; each extra statistic is one more JVM expression on
        the same frame, not an extra scan — the shape multi-stat
        grouped feature pipelines want at 100 TB. Works on all
        three grouped frames (fixed rows, expanding, time offset;
        the time face carries the grouped RANGE frame's documented
        same-stamp divergence). Pair stats use pandas'
        pairwise-complete masking and the zero-variance NaN pin.

        ``specs``: {out_name: ('sum'|'mean'|'count', col)
                    | ('cov'|'corr', xcol, ycol)}."""
        from .window import _gated, _pair_expr
        df = self._gb._df
        if self._center:
            raise ValueError("agg_pairs has no center= face")
        w = self._wspec()
        outs = {}
        for out, spec in specs.items():
            kind = spec[0]
            if kind in ("sum", "mean", "count"):
                df._check_cols([spec[1]])
                e = self._jvm_expr(kind, spec[1], w)
            elif kind in ("cov", "corr"):
                x, y = spec[1], spec[2]
                df._check_cols([x, y])
                both = (F.col(x).isNotNull()
                        & F.col(y).isNotNull())
                mx = F.when(both, F.col(x).cast("double"))
                my = F.when(both, F.col(y).cast("double"))
                n = F.count(mx).over(w).cast("double")
                e = _pair_expr(
                    n, F.sum(mx).over(w), F.sum(my).over(w),
                    F.sum(mx * my).over(w), F.sum(mx * mx).over(w),
                    F.sum(my * my).over(w), kind, ddof)
                e = _gated(e, n, max(self._mp, 1))
            else:
                raise ValueError(
                    f"unknown statistic {kind!r}; pass "
                    "'sum'/'mean'/'count' or 'cov'/'corr'")
            outs[out] = e.cast("double")
        return self._select(outs)


class _NoIndexGroupBy:
    """``groupby(..., as_index=False)`` face: aggregation outputs
    keep the group keys as DATA columns (pandas flavor). A thin
    wrapper — any method whose result is a frame indexed exactly by
    the group keys gets reset_index applied; transforms (which keep
    the source index) pass through untouched, matching pandas'
    behavior of ignoring as_index for transforms."""

    def __init__(self, gb: DataFrameGroupBy):
        self._gb = gb

    def __getitem__(self, key):
        return _NoIndexGroupBy(self._gb[key])

    def __getattr__(self, name):
        attr = getattr(self._gb, name)
        if not callable(attr):
            return attr

        def wrapped(*a, **k):
            out = attr(*a, **k)
            from .frame import DataFrame
            if isinstance(out, DataFrame) and \
                    list(out._index_cols) == list(self._gb._by):
                return out.reset_index()
            return out
        return wrapped


def _kept(df, vcols, names=()):
    """(sdf columns, data columns) a grouped window result keeps
    beside its outputs — every non-value column; an output name in
    ``names`` must not collide with them."""
    kept = [c for c in df._sdf.columns if c not in vcols]
    for n in names:
        if n in kept:
            raise ValueError(f"output {n!r} collides with a kept column")
    return kept, [c for c in df._data_cols if c not in vcols]


def _cluster_for_python(sdf, by):
    """Explicitly hash-repartition on the group keys before a
    grouped-PYTHON stage (applyInPandas, or the batched mapInPandas
    pass of :func:`_grouped_batches`). AQE coalesces the pre-Python
    exchange by BYTES, but grouped-Python cost is GROUP-COUNT-bound
    (per-group Arrow + pandas-object overhead runs ~ms), so
    byte-sized coalescing serializes high-cardinality groupings onto
    a few tasks — measured 53.6s -> 15.9s at 147k tiny groups
    (SCALING.md). An explicit repartition(N, keys) is exempt from AQE
    coalescing and already satisfies the apply's clustering
    requirement, so no second exchange appears."""
    n = int(sdf.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return sdf.repartition(n, *[F.col(b) for b in by])


def _grouped_batches(sdf, by, order, run, schema):
    """How a grouped pandas kernel sees its rows, decided in ONE place:
    cluster on the keys (:func:`_cluster_for_python`), sort within
    partitions by the keys plus ``order``, then ``run`` over whole
    Arrow batches of key-contiguous rows (:func:`_batched_group_gen`)
    under ``schema``. The window faces pass the frame's own order
    (``DataFrameGroupBy._gorder``, pandas' NaN-last placement); faces
    whose kernel ignores row order within a group pass ``[]``. MANY
    groups per Python call, not one: per-group applyInPandas pays ~ms
    of Arrow + pandas object overhead per GROUP, which dominates at
    high group cardinality (147k four-row groups: 13.8s via
    applyInPandas, ~2s of single-threaded kernel work here,
    parallelized)."""
    return (_cluster_for_python(sdf, by)
            .sortWithinPartitions(*[F.col(b) for b in by], *order)
            .mapInPandas(_batched_group_gen(by, run), schema))


def _window_pass(gb, what, window_of, kw=None, index=None, drop=()):
    """ONE batched pandas pass under every grouped window statistic
    that runs pandas' kernels: the rolling/expanding order statistics,
    every grouped ewm statistic and any ``.agg`` naming them. Per
    batch, ``window_of(grouped, pdf)`` opens pandas' window over the
    grouped float value columns (indexed by the datetime column
    ``index`` when given) and each DISTINCT statistic runs once with
    ``kw``; rows arrive group-contiguous in the frame's own order, so
    the grouped outputs align positionally. ``what`` is a statistic
    name — every value column but ``drop``, projected back to the
    source column order (a projection, no job) — or ``.agg`` items
    ``(out name, column, stat)``, returned after the kept columns."""
    import pandas as pd
    from pyspark.sql import types as T

    from .frame import DataFrame
    df = gb._df
    sdf, order = gb._gorder()
    by = list(gb._by)
    vcols = [c for c in gb._value_cols() if c not in drop]
    items = ([(c, c, what) for c in vcols] if isinstance(what, str)
             else list(what))
    kept, kept_data = _kept(df, vcols)
    used = {c for _, c, _ in items}
    cols = [c for c in vcols if c in used]
    stats = list(dict.fromkeys(st for _, _, st in items))
    kw = kw or {}
    schema = T.StructType(
        [T.StructField(c, sdf.schema[c].dataType, True) for c in kept]
        + [T.StructField(n, T.DoubleType(), True) for n, _, _ in items])

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        fv = pdf[cols].astype("float64")
        fv[by] = pdf[by]
        if index is not None:
            fv.index = pd.DatetimeIndex(pd.to_datetime(pdf[index]))
        win = window_of(fv.groupby(by, sort=False, dropna=False)[cols],
                        pdf)
        res = {st: getattr(win, st)(**kw) for st in stats}
        out = pdf[kept].copy()
        for n, c, st in items:
            out[n] = res[st][c].to_numpy()
        return out

    out = _grouped_batches(sdf, by, order, _run, schema)
    if isinstance(what, str):
        return DataFrame._make(out.select(*sdf.columns), df._index_cols,
                               df._data_cols, df._order)
    return DataFrame._make(out, df._index_cols,
                           kept_data + [n for n, _, _ in items], df._order)


def _batched_group_gen(by, run):
    """mapInPandas generator running ``run`` over whole Arrow batches
    of key-CONTIGUOUS rows (sortWithinPartitions on the keys first):
    many groups per Python call instead of one. The (contiguous)
    tail holding the last key is held over and prepended to the next
    batch — it may continue there; partitions are key-hashed so no
    group straddles a partition, and mapInPandas batches arrive in
    order. NaN-safe key equality."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        hold = None
        for pdf in batches:
            if hold is not None and len(hold):
                pdf = pd.concat([hold, pdf], ignore_index=True)
                hold = None
            if not len(pdf):
                continue
            last = pdf[by].iloc[-1]
            neq = np.zeros(len(pdf), dtype=bool)
            for b in by:
                col = pdf[b]
                lv = last[b]
                if lv is None or (isinstance(lv, float)
                                  and lv != lv):
                    neq |= col.notna().to_numpy()
                else:
                    ne = (col != lv).to_numpy()
                    ne |= col.isna().to_numpy()
                    neq |= ne
            idx = np.nonzero(neq)[0]
            cut = int(idx[-1]) + 1 if len(idx) else 0
            body, hold = pdf.iloc[:cut], pdf.iloc[cut:]
            if len(body):
                yield run(body)
        if hold is not None and len(hold):
            yield run(hold)
    return gen


class _GroupEwm(_GroupWindow):
    """Per-group EWM face (see :meth:`DataFrameGroupBy.ewm`): every
    statistic, alone or in an ``.agg``, is one run of pandas' grouped
    ewm kernel in the shared batched pass (:func:`_window_pass`)."""

    _STATS = ("mean", "sum", "var", "std")
    _WHAT = "ewm"

    def __init__(self, gb: DataFrameGroupBy, alpha: float | None,
                 ignore_na: bool, adjust: bool = True,
                 halflife=None, times: str | None = None,
                 min_periods: int = 0):
        self._gb, self._alpha, self._ignore_na = gb, alpha, ignore_na
        self._adjust, self._mp = adjust, min_periods
        self._halflife, self._times = halflife, times
        self._drop = () if times is None else (times,)

    def _pass(self, what):
        import pandas as pd
        times = self._times
        for st in ([what] if isinstance(what, str)
                   else [st for _, _, st in what]):
            if times is not None and st != "mean":
                raise NotImplementedError(
                    f"ewm(times=...).{st}() is not supported "
                    "(pandas only defines mean)")
            if st == "sum" and not self._adjust:
                # pandas itself refuses this combination
                raise NotImplementedError(
                    "ewm(adjust=False).sum() is not supported "
                    "(pandas refuses it too); use adjust=True")
        kw = dict(ignore_na=self._ignore_na, min_periods=self._mp)
        if times is None:
            kw.update(alpha=self._alpha, adjust=self._adjust)
        else:
            kw.update(halflife=self._halflife, adjust=True)

        def window_of(g, pdf):
            if times is None:
                return g.ewm(**kw)
            # pandas' ewm requires an ns-precision datetime64 ARRAY (a
            # string name resolves against the value-column selection
            # and fails; Arrow hands Spark timestamps over as [us])
            return g.ewm(times=pd.to_datetime(pdf[times])
                         .astype("datetime64[ns]").to_numpy(), **kw)
        return _window_pass(self._gb, what, window_of, drop=self._drop)

    _bound = _pass

    def mean(self):
        return self._pass("mean")

    def sum(self):
        return self._pass("sum")

    def var(self):
        return self._pass("var")

    def std(self):
        return self._pass("std")


class _GroupResampler:
    """Per-group time-bucket face (see
    :meth:`DataFrameGroupBy.resample`). Pandas' OWN grouped
    resampler runs over whole Arrow batches of key-contiguous rows
    inside ``mapInPandas`` (many groups per Python call — the same
    batched-kernel shape as grouped ewm; per-GROUP applyInPandas
    overhead is group-count-bound and dominates high-cardinality
    keys). Exact pandas bucket labels and per-group gap buckets,
    bounded per-group state, one group-key shuffle."""

    def __init__(self, gb: DataFrameGroupBy, freq: str, on: str):
        if on not in gb._df._sdf.columns:
            raise KeyError(on)
        self._gb, self._freq, self._on = gb, freq, on

    def _agg(self, name: str):
        import pandas as pd
        from pyspark.sql import types as T
        from .frame import DataFrame
        gb, freq, on = self._gb, self._freq, self._on
        sdf = gb._df._sdf
        sch = {f.name: f for f in sdf.schema.fields}
        vcols = [c for c in gb._value_cols() if c != on]
        out_t = (T.LongType() if name in ("count", "nunique")
                 else T.DoubleType())
        fields = ([sch[b] for b in gb._by]
                  + [T.StructField(on, sch[on].dataType, True)]
                  + [T.StructField(c, out_t, True) for c in vcols])
        schema = T.StructType(fields)
        by = list(gb._by)

        def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
            r = (pdf.set_index(on)
                 .groupby(by, sort=False, dropna=False)[vcols]
                 .resample(freq).agg(name).reset_index())
            r[vcols] = r[vcols].astype(
                "int64" if name in ("count", "nunique")
                else "float64")
            return r[by + [on] + vcols]

        out = _grouped_batches(sdf.select(*by, on, *vcols), by, [], _run,
                               schema)
        return DataFrame._make(out, [*by, on], vcols,
                               [(k, True) for k in (*by, on)])

    def sum(self):
        return self._agg("sum")

    def mean(self):
        return self._agg("mean")

    def count(self):
        return self._agg("count")

    def min(self):
        return self._agg("min")

    def max(self):
        return self._agg("max")

    def var(self):
        return self._agg("var")

    def std(self):
        return self._agg("std")

    def median(self):
        return self._agg("median")

    def first(self):
        return self._agg("first")

    def last(self):
        return self._agg("last")

    def prod(self):
        return self._agg("prod")

    def nunique(self):
        return self._agg("nunique")

    def sem(self):
        return self._agg("sem")

"""Series: 1-D typed column backed by a lazy Spark DataFrame.

Reference: ``baloo/core/series.py:17`` — a Series holds data (ndarray
or lazy WeldObject) + index + dtype + name. Here the "lazy expression"
is a pyspark ``Column`` over a parent Spark DataFrame; composition of
Series operations composes Column expressions, and Catalyst fuses the
whole pipeline at evaluate time exactly where Weld fused IR fragments
(SURVEY.md §3).

Missing data is native Spark NULL, not the reference's -999 sentinel
(``encoders.py:101-133``); see :mod:`baloo_spark.core.dtypes` for the
compat codec.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.ordinal import ORD_COL, with_dense_ordinal
from .ordering import order_expr, order_exprs
from .dtypes import np_dtype_of, spark_type_of
from .reduce import reduce_expr

_VAL = "__val__"
_IDX = "__index__"
# the value column of a Series lifted into a one-column DataFrame
# (Series._as_frame / Series._frame): the frame faces run over it, and
# Series._unwrap reads the result back out of it
_LIFT = "__lift__"
# isin value-list budget: literal IN-set below, broadcast-join above
_ISIN_LITERAL_MAX = 1024
# small-side gate of the time-offset rolling window's as-of lookup
# (core/window._time_roll_multi reads it at call time): below this many
# rows the per-distinct-stamp prefix table broadcasts (a few doubles
# per stamp — ~10 MB at the cap)
_TR_BROADCAST_MAX_ROWS = 200_000

def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


class Series:
    """A named, typed 1-D column with an index.

    Parameters mirror ``baloo.Series(data, index, dtype, name)``
    (``series.py:75-101``). ``data`` may be a numpy array, list, or
    pandas Series.

    Examples (executable — the reference runs its docstrings in CI,
    series.py:32-70; these run under tests/test_doctests.py):

    >>> import numpy as np
    >>> import baloo_spark as bl
    >>> sr = bl.Series(np.array([1.0, 4.0, 9.0]), name="x")
    >>> sr.to_pandas()
    0    1.0
    1    4.0
    2    9.0
    Name: x, dtype: float64
    >>> (sr * 2 + 1).to_pandas().tolist()
    [3.0, 9.0, 19.0]
    >>> sr[sr > 2].to_pandas().tolist()
    [4.0, 9.0]
    >>> print(sr.sum())
    14.0
    >>> sr.agg(["min", "std"]).to_pandas().round(3)
    min    1.000
    std    4.041
    Name: x, dtype: float64
    >>> sr.apply(bl.sqrt).to_pandas().tolist()
    [1.0, 2.0, 3.0]
    >>> sr.apply("{self} * {k}", mapping={"k": 10}).to_pandas().tolist()
    [10.0, 40.0, 90.0]
    >>> sr.apply(np.log1p).to_pandas().round(3).tolist()
    [0.693, 1.609, 2.303]
    >>> sr.astype("int64").to_pandas().tolist()
    [1, 4, 9]
    >>> sr.index.values.tolist()
    [0, 1, 2]
    >>> st = bl.Series(np.array(["a", "Bc"]))
    >>> st.str.upper().to_pandas().tolist()
    ['A', 'BC']
    >>> st.str.find("c").to_pandas().tolist()
    [-1, 1]
    """

    def __init__(self, data=None, index=None, dtype=None, name=None, *,
                 _sdf=None, _col=None, _index_cols=None, _order=None):
        if _sdf is not None:
            self._sdf = _sdf
            self._colexpr = _col
            self._index_cols = list(_index_cols or [])
            self._order = _order
            self.name = name
            return
        import pandas as pd

        from ..session import get_session
        spark = get_session()
        if isinstance(data, Series):
            raise TypeError("Series(data=Series) not supported; use the value directly")
        from .utils import (check_dtype, check_supported_dtype,
                            check_type, spark_df_from_pandas)
        check_type(name, str)
        dtype = check_dtype(dtype)
        if isinstance(data, pd.Series):
            if name is None:
                name = data.name
            if index is None:
                index = data.index
            data = data.to_numpy()
        arr = np.asarray(data)
        if dtype is not None:
            arr = arr.astype(dtype)
        check_supported_dtype(arr.dtype)
        pdf = pd.DataFrame({_VAL: arr})
        index_cols = []
        if index is not None:
            # a named index keeps its name as its column (Series.index
            # reads any column but _IDX back as the index name)
            iname = getattr(index, "name", None)
            icol = iname if isinstance(iname, str) and iname != _VAL else _IDX
            pdf[icol] = np.asarray(getattr(index, "values", index))
            index_cols = [icol]
        sdf = spark_df_from_pandas(spark, pdf)
        sdf = with_dense_ordinal(sdf)
        self._sdf = sdf
        self._colexpr = F.col(_VAL)
        self._index_cols = index_cols or [ORD_COL]
        self._order = [(ORD_COL, True)]
        self.name = name

    # ---------------------------------------------------------------- infra

    @classmethod
    def _make(cls, sdf, col: Column, index_cols, name, order=None) -> "Series":
        return cls(_sdf=sdf, _col=col, _index_cols=index_cols, name=name,
                   _order=order)

    # r11: the source frame sdf when this Series' own sdf is a
    # ROW-PRESERVING derivation of it that retains every source column
    # (the ordinal-machinery op faces: shift/diff/cumsum/rank/rolling/
    # expanding/ewm). DataFrame.__setitem__ uses it to adopt the op's
    # output with a plain projection instead of re-running the dense-
    # ordinal layout on both sides for a positional join (guide §1.2:
    # the jobs the layout pays exist to align two UNRELATED plans;
    # a same-plan derivation needs none of them). Held as a strong
    # reference (not an id): id() of a collected sdf can be reused by
    # a later allocation, which would mis-fire the adopt onto an
    # unrelated frame.
    _rowpar_src = None

    def _tag_rowpar(self, src_sdf) -> "Series":
        self._rowpar_src = src_sdf
        return self

    def _with_col(self, col: Column, name=None) -> "Series":
        out = Series._make(self._sdf, col, self._index_cols,
                           name if name is not None else self.name,
                           self._order)
        out._rowpar_src = self._rowpar_src  # same sdf => same ancestry
        return out

    def _swap_in(self, new: "Series"):
        """In-place adoption hook for the setter faces (r11): the
        Series takes over the written column's plan. pandas
        copy-on-write semantics — writing a Series never writes
        back into a frame it was selected from."""
        self._sdf = new._sdf
        self._colexpr = new._colexpr
        self._index_cols = list(new._index_cols)
        self._order = new._order

    def _as_frame(self):
        """This Series as a one-column DataFrame, by projection only:
        ``_sdf.withColumn(_LIFT, _colexpr)`` with the Series' index and
        order — no dense ordinal, no job. Every source column survives
        next to the value column, which the DataFrame.__setitem__ adopt
        fast path needs: the lift of the ROW-PRESERVING faces (ordered
        transforms, windows, replace, update). Every other face lifts
        through the narrow :meth:`_frame`."""
        from .frame import DataFrame
        return DataFrame._make(self._sdf.withColumn(_LIFT, self._colexpr),
                               self._index_cols, [_LIFT], self._order)

    def _unwrap(self, res, same_rows: bool = False) -> "Series":
        """The ``_LIFT`` column of the frame result ``res`` as a Series
        named like this one. ``same_rows`` marks a row-preserving op
        (one output row per input row, each computed for that row):
        such a result in this Series' order is tagged for the
        DataFrame.__setitem__ adopt fast path. A face that filters,
        reorders or fans out rows must not be tagged."""
        out = Series._make(res._sdf, F.col(_LIFT), res._index_cols,
                           self.name, res._order)
        return (out._tag_rowpar(self._sdf)
                if same_rows and res._order == self._order else out)

    def _select(self, alias=None):
        """Project index cols + the value expression as a Spark DF."""
        alias = alias or self.name or _VAL
        cols = [F.col(c) for c in self._index_cols if c in self._sdf.columns]
        return self._sdf.select(*cols, self._colexpr.alias(alias)), alias

    def to_spark(self):
        sdf, _ = self._select()
        return sdf

    @property
    def dtype(self) -> np.dtype:
        sdf = self._sdf.select(self._colexpr.alias("x"))
        return np_dtype_of(sdf.schema["x"].dataType)

    @property
    def index(self):
        """Index/RangeIndex view of the index column (reference
        series.py:103-115). Values fetch lazily on ``.values`` access
        — one select of just the index column (a driver collect;
        explicit materialization boundary like ``to_pandas``)."""
        from .indexes import Index, RangeIndex

        def fetch(col):
            def _f():
                sdf = self._sdf
                if self._order:
                    ob = order_exprs(self._order, sdf.columns)
                    if ob:
                        sdf = sdf.orderBy(*ob)
                return np.asarray([r[0] for r in sdf.select(col).collect()])
            return _f

        cols = self._index_cols
        if cols == [ORD_COL]:
            ri = RangeIndex(getattr(self, "_len_cache", None))
            ri._fetch = fetch(ORD_COL)
            ri._series = Series._make(self._sdf, F.col(ORD_COL), [ORD_COL],
                                      None, self._order)
            return ri
        ix = Index(name=None if cols[0] == _IDX else cols[0])
        ix._fetch = fetch(cols[0])
        # lazy backing over the SAME plan: ops on the index (filters,
        # arithmetic, astype) compose Columns without collecting.
        # Indexed by ordinal so the projection never self-collides.
        idx = [ORD_COL] if ORD_COL in self._sdf.columns else []
        ix._series = Series._make(self._sdf, F.col(cols[0]), idx,
                                  ix.name, self._order)
        return ix

    @property
    def spark_type(self) -> T.DataType:
        return self._sdf.select(self._colexpr.alias("x")).schema["x"].dataType

    def __len__(self) -> int:
        # eager, like the reference (lazy_result.py:138-156); cached
        # once known (series.py:98-99)
        if getattr(self, "_len_cache", None) is None:
            self._len_cache = self._sdf.count()
        return self._len_cache

    @property
    def shape(self) -> tuple:
        return (len(self),)

    @property
    def size(self) -> int:
        return len(self)

    @property
    def ndim(self) -> int:
        return 1

    @property
    def empty(self) -> bool:
        """True when there are no rows — limit(1) probe, the scan
        short-circuits at the first row."""
        if getattr(self, "_len_cache", None) is not None:
            return self._len_cache == 0
        return self._sdf.limit(1).count() == 0

    def to_numpy(self) -> np.ndarray:
        return self.values

    def to_dict(self) -> dict:
        """Driver-side {index label: value} export via to_pandas."""
        return self.to_pandas().to_dict()

    def __repr__(self):
        return f"Series(name={self.name}, dtype={self.dtype})"

    def __str__(self):
        return self.to_pandas().__str__()

    # ------------------------------------------------------------ alignment

    def _lift(self, other, op):
        """Binary op vs scalar or Series; Series from another frame is
        aligned positionally by ordinal (reference arrays are
        positional, SURVEY.md §1.4)."""
        if isinstance(other, Series):
            if other._sdf is self._sdf:
                return self._with_col(op(self._colexpr, other._colexpr))
            # Cross-frame: align POSITIONALLY (reference arrays zip by
            # position, SURVEY.md §1.4). ORD_COL holds row LABELS which
            # go sparse after a filter, so recompute fresh dense
            # positions on BOTH sides and join on those.
            from ..plans.ordinal import POS_COL
            left, lname = self._ordered_sdf("__l__")
            right, rname = other._ordered_sdf("__r__")
            right = right.select(POS_COL, rname)
            joined = left.join(right, POS_COL, "inner").drop(POS_COL)
            idx = [c for c in self._index_cols if c in joined.columns]
            return Series._make(joined, op(F.col(lname), F.col(rname)), idx,
                                self.name, self._order)
        if isinstance(other, (list, np.ndarray)):
            return self._lift(Series(np.asarray(other)), op)
        from .utils import nan_safe_lit
        # a NaN scalar operand becomes a typed NULL (the codec):
        # comparisons go NULL (falsy in filters — the engine's
        # missing-comparison pin; raw NaN inverts them, NaN sorts
        # GREATEST in Spark so x < NaN was true) and arithmetic
        # yields NULL = the engine's NaN (r11)
        return self._with_col(op(self._colexpr, nan_safe_lit(other)))

    # ----------------------------------------------------------- operators

    # comparisons (generic.py:46-67 -> weld_ops.py:51-94)
    def __lt__(self, o): return self._lift(o, lambda a, b: a < b)
    def __le__(self, o): return self._lift(o, lambda a, b: a <= b)
    def __gt__(self, o): return self._lift(o, lambda a, b: a > b)
    def __ge__(self, o): return self._lift(o, lambda a, b: a >= b)

    def __eq__(self, o):  # noqa: A003 - pandas-style elementwise eq
        return self._lift(o, lambda a, b: a == b)

    def __ne__(self, o):
        return self._lift(o, lambda a, b: a != b)

    __hash__ = object.__hash__

    # boolean combinators (generic.py:95-104 -> weld_ops.py:232-304)
    def __and__(self, o): return self._lift(o, lambda a, b: a & b)
    def __or__(self, o): return self._lift(o, lambda a, b: a | b)
    def __invert__(self): return self._with_col(~self._colexpr)

    # arithmetic (generic.py:75-92 -> weld_ops.py:417-459)
    def _other_is_bool(self, other) -> bool:
        if isinstance(other, Series):
            return other.spark_type.typeName() == "boolean"
        if isinstance(other, (bool, np.bool_)):
            return True
        if isinstance(other, (list, np.ndarray)):
            return np.asarray(other).dtype == bool
        return False

    def _lift_arith(self, other, opname: str, op):
        """NumPy/pandas boolean promotion for arithmetic: a LONE
        boolean operand acts as 0/1 (Spark refuses bool in numeric
        operators outright, so cast it); TWO boolean operands follow
        NumPy — ``+`` is logical OR, ``*`` logical AND, ``%``
        computes on 0/1 ints (pandas gives int8), ``-`` raises
        TypeError and truediv/pow NotImplementedError, matching
        pandas 2.2's own refusals."""
        lb = self.spark_type.typeName() == "boolean"
        rb = self._other_is_bool(other)
        if lb and rb:
            if opname == "add":
                return self._lift(other, lambda a, b: a | b)
            if opname == "mul":
                return self._lift(other, lambda a, b: a & b)
            if opname == "mod":
                # pandas computes bool % bool on 0/1 ints (int8);
                # numpy's int mod by zero is 0, not NULL
                return self._lift(other, lambda a, b: F.when(
                    b.cast("int") == 0,
                    F.when(a.isNotNull(), F.lit(0)))
                    .otherwise(op(a.cast("int"), b.cast("int"))))
            if opname == "sub":
                raise TypeError(
                    "numpy boolean subtract, the `-` operator, is "
                    "not supported, use the bitwise_xor, the `^` "
                    "operator, or the logical_xor function instead")
            raise NotImplementedError(
                f"operator {opname!r} not implemented for bool "
                "dtypes (pandas refuses it too); astype(int) first")
        if lb or rb:
            li = (lambda a: a.cast("int")) if lb else (lambda a: a)
            ri = (lambda b: b.cast("int")) if rb else (lambda b: b)
            return self._lift(other, lambda a, b: op(li(a), ri(b)))
        return self._lift(other, op)

    def __add__(self, o):
        return self._lift_arith(o, "add", lambda a, b: a + b)

    def __radd__(self, o):
        return self._lift_arith(o, "add", lambda a, b: b + a)

    def __sub__(self, o):
        return self._lift_arith(o, "sub", lambda a, b: a - b)

    def __rsub__(self, o):
        return self._lift_arith(o, "sub", lambda a, b: b - a)

    def __mul__(self, o):
        return self._lift_arith(o, "mul", lambda a, b: a * b)

    def __rmul__(self, o):
        return self._lift_arith(o, "mul", lambda a, b: b * a)
    @staticmethod
    def _ieee_div(a, b):
        """IEEE-754 float division (pandas/NumPy): x/0 -> ±inf,
        0/0 -> NaN. Spark's ``/`` returns NULL at zero divisors; the
        zero-divisor branch rebuilds the IEEE result, recovering the
        sign of -0.0 via the string cast (signum collapses it to 0).
        NULL operands still propagate NULL. Integer dividends by a
        zero INT divisor also take this branch (pandas promotes the
        whole column to float there; with a nullable-int flavor —
        pandas Int64 — the result is <NA>, which is what int inputs
        export as when the result column stays integral elsewhere)."""
        sign = (F.when(b.cast("string").startswith("-"), F.lit(-1.0))
                .otherwise(F.lit(1.0))) * F.signum(a)
        return F.when(
            b == 0,
            F.when(a == 0, F.lit(float("nan")))
            .otherwise(sign * F.lit(float("inf")))) \
            .otherwise(a / b)

    def __truediv__(self, o):
        return self._lift_arith(
            o, "truediv", lambda a, b: Series._ieee_div(a, b))

    def __rtruediv__(self, o):
        return self._lift_arith(
            o, "truediv", lambda a, b: Series._ieee_div(b, a))

    def __pow__(self, o):
        return self._lift_arith(o, "pow", lambda a, b: F.pow(a, b))
    @staticmethod
    def _py_mod(a, b):
        # Python/NumPy modulo (sign follows the DIVISOR: -7 % 3 == 2,
        # 7 % -3 == -2); Spark's % is the C remainder (sign of the
        # dividend) and pmod is non-negative-only — neither matches,
        # so shift the remainder by b when the signs disagree.
        r = a % b
        return F.when((r != 0) & (F.signum(r) != F.signum(b)), r + b)             .otherwise(r)

    def __mod__(self, o):
        return self._lift_arith(
            o, "mod", lambda a, b: Series._py_mod(a, b))

    def __rmod__(self, o):
        return self._lift_arith(
            o, "mod", lambda a, b: Series._py_mod(b, a))

    def _named_op(self, other, op, fill_value, reverse=False):
        """pandas named binary ops (``s.add(o, fill_value=...)``):
        fill_value substitutes for the MISSING side before the op;
        both sides missing stays NULL — expressed as one gated
        coalesce, still a single JVM projection."""
        if reverse:
            inner = op
            op = lambda a, b: inner(b, a)  # noqa: E731
        if fill_value is None:
            return self._lift(other, op)

        def fn(a, b):
            fv = F.lit(fill_value)
            return F.when(a.isNull() & b.isNull(), F.lit(None)) \
                .otherwise(op(F.coalesce(a, fv), F.coalesce(b, fv)))
        return self._lift(other, fn)

    def add(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: a + b, fill_value)

    def radd(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: a + b, fill_value, True)

    def sub(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: a - b, fill_value)

    def rsub(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: a - b, fill_value, True)

    def mul(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: a * b, fill_value)

    def rmul(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: a * b, fill_value, True)

    def div(self, other, fill_value=None):
        return self._named_op(other, Series._ieee_div, fill_value)

    truediv = div

    def rdiv(self, other, fill_value=None):
        return self._named_op(other, Series._ieee_div, fill_value, True)

    def pow(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: F.pow(a, b),
                              fill_value)

    def mod(self, other, fill_value=None):
        return self._named_op(
            other, lambda a, b: Series._py_mod(a, b), fill_value)

    # full pandas named-op surface: reverse spellings + long aliases
    rtruediv = rdiv
    divide = div
    multiply = mul
    subtract = sub

    def rpow(self, other, fill_value=None):
        return self._named_op(other, lambda a, b: F.pow(a, b),
                              fill_value, True)

    def rmod(self, other, fill_value=None):
        return self._named_op(
            other, lambda a, b: Series._py_mod(a, b), fill_value, True)

    def floordiv(self, other, fill_value=None):
        return self._named_op(other, self._floor_fn(other, False),
                              fill_value)

    def rfloordiv(self, other, fill_value=None):
        return self._named_op(other, self._floor_fn(other, False),
                              fill_value, True)

    def divmod(self, other, fill_value=None):
        """pandas ``Series.divmod``: (floordiv, mod) pair."""
        return (self.floordiv(other, fill_value),
                self.mod(other, fill_value))

    def rdivmod(self, other, fill_value=None):
        return (self.rfloordiv(other, fill_value),
                self.rmod(other, fill_value))

    def _floor_fn(self, o, reverse: bool):
        # pandas: float operands -> float result, ints stay integral
        from pyspark.sql import types as T
        is_f = isinstance(self.spark_type, (T.DoubleType, T.FloatType))             or isinstance(o, float)             or (isinstance(o, Series)
                and isinstance(o.spark_type, (T.DoubleType, T.FloatType)))
        def fn(a, b):
            num, den = (b, a) if reverse else (a, b)
            x = F.floor(num / den)
            x = x.cast("double") if is_f else x
            if is_f:
                # pandas float floordiv by zero is IEEE (x//0 -> ±inf,
                # 0//0 -> nan), floor-invariant so applied directly;
                # int//0 stays NULL (pandas Int64 <NA> flavor — the
                # float promotion pandas does there is data-dependent
                # dtype, impossible lazily)
                x = F.when(den == 0, Series._ieee_div(num, den)) \
                    .otherwise(x)
            return x
        return fn

    def _floor_div(self, o, reverse: bool):
        if (self.spark_type.typeName() == "boolean"
                and self._other_is_bool(o)):
            # pandas 2.2 raises NotImplementedError for bool//bool
            raise NotImplementedError(
                "operator 'floordiv' not implemented for bool "
                "dtypes (pandas refuses it too); astype(int) first")
        # a LONE bool operand acts as 0/1, like _lift_arith
        if self.spark_type.typeName() == "boolean":
            return self.astype("int64")._floor_div(o, reverse)
        if self._other_is_bool(o):
            if isinstance(o, Series):
                o = o.astype("int64")
            elif isinstance(o, (bool, np.bool_)):
                o = int(o)
            else:
                o = np.asarray(o).astype("int64")
        return self._lift(o, self._floor_fn(o, reverse))

    def __floordiv__(self, o): return self._floor_div(o, False)
    def __rfloordiv__(self, o): return self._floor_div(o, True)
    def __neg__(self): return self._with_col(-self._colexpr)

    # ------------------------------------------------------- missing data

    def isin(self, values) -> "Series":
        """Membership test. Small value lists compile to a literal
        IN-set (Catalyst turns long ones into a hashed InSet, pure
        codegen); past ``_ISIN_LITERAL_MAX`` values the list becomes
        a broadcast-join lookup instead — a 10^5-literal expression
        tree bloats plan serialization/codegen the same way map()'s
        CASE chain and k-means' centroid literal did, and a lookup
        TABLE is the thing that still works when the list is 10^8
        rows on a cluster (swap the broadcast for a shuffle join by
        size, which AQE does). Both faces agree: NULL input => NULL,
        a NULL in ``values`` makes non-matches NULL (SQL IN), NaN
        matches NaN (Spark equality). A Series argument never
        collects: it becomes the lookup table directly (the 100 TB
        face — AQE picks broadcast vs shuffle by size), with the
        null-in-values flag computed as a lazy one-row aggregate."""
        if isinstance(values, Series):
            vs, va = values._select("__ik__")
            lut = (vs.select("__ik__")
                   .where(F.col("__ik__").isNotNull()).distinct())
            nulls = vs.agg(F.max(F.col("__ik__").isNull())
                           .alias("__hn__"))
            joined = (self._sdf
                      .join(lut, self._colexpr == F.col("__ik__"),
                            "left")
                      .crossJoin(F.broadcast(nulls)))
            expr = (F.when(self._colexpr.isNull(), F.lit(None))
                    .when(F.col("__ik__").isNotNull(), F.lit(True))
                    .otherwise(F.when(F.col("__hn__"), F.lit(None))
                               .otherwise(F.lit(False))))
            out = joined.withColumn("__isin__", expr) \
                .drop("__ik__", "__hn__")
            return Series._make(out, F.col("__isin__"),
                                self._index_cols, self.name,
                                self._order)
        vals = list(values)
        if len(vals) <= _ISIN_LITERAL_MAX:
            return self._with_col(self._colexpr.isin(*vals))
        spark = self._sdf.sparkSession
        has_null = any(v is None for v in vals)
        lut = spark.createDataFrame(
            [(v,) for v in vals if v is not None], ["__ik__"]).distinct()
        joined = self._sdf.join(
            F.broadcast(lut), self._colexpr == F.col("__ik__"), "left")
        miss = F.lit(None) if has_null else F.lit(False)
        expr = (F.when(self._colexpr.isNull(), F.lit(None))
                .when(F.col("__ik__").isNotNull(), F.lit(True))
                .otherwise(miss))
        out = joined.withColumn("__isin__", expr).drop("__ik__")
        return Series._make(out, F.col("__isin__"), self._index_cols,
                            self.name, self._order)

    def between(self, lower, upper, inclusive="both") -> "Series":
        """Boundary test (pandas ``Series.between``): ``inclusive``
        takes the pandas 2.x strings 'both'/'neither'/'left'/'right'
        plus the legacy booleans (True='both', False='neither')."""
        from .utils import nan_safe_lit
        mode = {True: "both", False: "neither"}.get(inclusive, inclusive)
        llit, ulit = nan_safe_lit(lower), nan_safe_lit(upper)
        ops = {"both": (self._colexpr >= llit,
                        self._colexpr <= ulit),
               "neither": (self._colexpr > llit,
                           self._colexpr < ulit),
               "left": (self._colexpr >= llit,
                        self._colexpr < ulit),
               "right": (self._colexpr > llit,
                         self._colexpr <= ulit)}
        if mode not in ops:
            raise ValueError(
                "inclusive must be 'both', 'neither', 'left', "
                f"'right' or a bool, got {inclusive!r}")
        lo, hi = ops[mode]
        return self._with_col(lo & hi)

    def _gated(self, cond: "Series", other, keep_when: bool) -> "Series":
        """Shared where/mask body. A NULL cond is False on BOTH faces
        (pandas: where replaces, mask KEEPS — so the mask gate is
        applied directly, never as where(~cond)). ``other`` may be a
        scalar or a Series: the Series face packs (value, gate) into
        a struct through the first alignment so the second alignment
        still sees the un-gated value."""
        if isinstance(other, Series):
            packed = self._lift(cond, lambda a, c: F.struct(
                a.alias("v"),
                F.coalesce(c, F.lit(False)).alias("g")))
            pick = ((lambda s, o: F.when(s["g"], s["v"]).otherwise(o))
                    if keep_when else
                    (lambda s, o: F.when(s["g"], o).otherwise(s["v"])))
            out = packed._lift(other, pick)
            out.name = self.name
            return out
        from .utils import nan_safe_lit
        repl = nan_safe_lit(other)
        gate = ((lambda a, c: F.when(c, a).otherwise(repl))
                if keep_when else
                (lambda a, c: F.when(c, repl).otherwise(a)))
        return self._lift(cond, gate)

    def where(self, cond: "Series", other=None) -> "Series":
        """pandas ``Series.where``: keep values where ``cond`` holds,
        replace the rest with ``other`` (NULL by default; a Series
        ``other`` aligns positionally like any binary op). ``cond``
        from another frame aligns positionally too."""
        return self._gated(cond, other, keep_when=True)

    def mask(self, cond: "Series", other=None) -> "Series":
        """pandas ``Series.mask``: the complement of :meth:`where` —
        replace values WHERE ``cond`` holds. A NULL cond KEEPS the
        value (pandas treats missing cond as False; ``where(~cond)``
        would null it)."""
        return self._gated(cond, other, keep_when=False)

    def isna(self) -> "Series":
        """NULL test (reference: sentinel compare, generic.py:69-73)."""
        return self._with_col(self._colexpr.isNull())

    def notna(self) -> "Series":
        return self._with_col(self._colexpr.isNotNull())

    isnull = isna
    notnull = notna

    def fillna(self, value) -> "Series":
        from .utils import nan_safe_lit
        # a NaN fill value is a no-op under the NaN == NULL pin
        # (nan_safe_lit -> NULL -> coalesce keeps the column),
        # matching pandas' fillna(nan)
        return self._with_col(F.coalesce(self._colexpr,
                                         nan_safe_lit(value)))

    def dropna(self) -> "Series":
        sdf, alias = self._select()
        out = sdf.filter(F.col(alias).isNotNull())
        return Series._make(out, F.col(alias), self._index_cols, self.name,
                            self._order)

    # ----------------------------------------------------------- selection

    def __getitem__(self, key):
        if isinstance(key, Series):
            # boolean-mask filter (series.py:249-252)
            if key._sdf is self._sdf:
                mask_sdf = self._sdf.filter(key._colexpr)
                return Series._make(mask_sdf, self._colexpr, self._index_cols,
                                    self.name, self._order)
            # cross-frame mask: positional (reference weld_ops.py:97-133)
            from ..plans.ordinal import POS_COL
            left, alias = self._ordered_sdf()
            mask_sdf, malias = key._ordered_sdf("__mask__")
            keep = mask_sdf.filter(F.col(malias)).select(POS_COL)
            out = left.join(keep, POS_COL, "left_semi").drop(POS_COL)
            return Series._make(out, F.col(alias), self._index_cols,
                                self.name, self._order)
        if isinstance(key, slice):
            return self._slice(key)
        raise TypeError(f"unsupported key: {type(key)}")

    def __setitem__(self, key, value):
        """``sr[key] = value`` (r11): boolean masks (Series or
        list) and labels ride the loc face; slices are positional
        (the iloc face). A default-constructed Series carries
        RangeIndex LABELS, so integer keys hit rows by label, like
        pandas. Copy-on-write: the write never propagates to a
        frame this Series was selected from."""
        if isinstance(key, slice):
            self.iloc[key] = value
        else:
            self.loc[key] = value

    def filter(self, mask: "Series") -> "Series":
        return self[mask]

    def _ordered_sdf(self, alias=None):
        """``(sdf, alias)``: the one-column frame of the index, order and
        value columns (value named ``alias``) with the frame's FRESH
        dense position ``__pos__`` (:meth:`DataFrame._ordered_sdf`)."""
        fr = self._frame(alias)
        return fr._ordered_sdf(), fr._data_cols[0]

    def _slice(self, key: slice) -> "Series":
        return self._unwrap(self._frame(_LIFT)._slice(key))

    def head(self, n: int = 5) -> "Series":
        return self._unwrap(self._frame(_LIFT).head(n))

    def tail(self, n: int = 5) -> "Series":
        return self._unwrap(self._frame(_LIFT).tail(n))

    @property
    def iloc(self):
        return _SeriesILoc(self)

    # -------------------------------------------------------- aggregations

    def _agg_scalar(self, name: str, ddof: int = 1):
        row = self._sdf.agg(reduce_expr(name, self._colexpr, self.spark_type,
                                        ddof).alias("v")).first()
        return row["v"]

    def min(self): return self._agg_scalar("min")
    def max(self): return self._agg_scalar("max")
    def sum(self): return self._agg_scalar("sum")
    def prod(self): return self._agg_scalar("prod")
    def count(self): return self._agg_scalar("count")
    def mean(self): return self._agg_scalar("mean")
    def var(self): return self._agg_scalar("var")
    def std(self): return self._agg_scalar("std")

    def sem(self, ddof: int = 1):
        """Standard error of the mean (pandas ``Series.sem``)."""
        return _nan_if_none(self._agg_scalar("sem", ddof))

    def skew(self):
        """Bias-corrected sample skewness (pandas ``Series.skew``),
        NaN for n < 3."""
        return _nan_if_none(self._agg_scalar("skew"))

    def kurt(self):
        """Bias-corrected excess kurtosis (pandas ``Series.kurt``),
        NaN for n < 4."""
        return _nan_if_none(self._agg_scalar("kurt"))

    kurtosis = kurt

    def _pairwise(self, other: "Series", fn):
        """Pairwise aggregate (corr/cov). Same-frame pairs are one
        JVM aggregate, no data movement. Cross-frame pairs are
        ALIGNED first (pandas flavor): an equi-join on shared index
        columns when both sides carry one, else positionally on
        fresh dense positions (default-RangeIndex semantics, the
        same contract as ``DataFrame.__setitem__``) — then the same
        single aggregate. Rows where either side is NULL are skipped
        by the JVM corr/covar aggregate, matching pandas' pairwise
        NaN handling. An undefined statistic (Spark's NULL, e.g. fewer
        than two valid pairs) is NaN, as in pandas."""
        if not isinstance(other, Series):
            raise TypeError(f"expected Series, got {type(other).__name__}")
        sdf, a, b = self._pair_sdf(other)
        return _nan_if_none(sdf.agg(fn(a.cast("double"), b.cast("double"))
                                    .alias("v")).first()["v"])

    def _pair_sdf(self, other: "Series"):
        """The aligned (sdf, a_col, b_col) triple behind every
        pairwise statistic."""
        if other._sdf is self._sdf:
            return self._sdf, self._colexpr, other._colexpr
        on = [c for c in self._index_cols if c in other._index_cols]
        if on:
            left, la = self._select("__pa__")
            right, rb = other._select("__pb__")
            right = right.select(*on, rb).dropDuplicates(on)
            sdf = left.select(*on, la).join(right, on, "inner")
        else:
            from ..plans.ordinal import POS_COL
            lo, la = self._ordered_sdf("__pa__")
            ro, rb = other._ordered_sdf("__pb__")
            sdf = lo.select(POS_COL, la).join(
                ro.select(POS_COL, rb), POS_COL, "inner")
        return sdf, F.col("__pa__"), F.col("__pb__")

    def combine_first(self, other: "Series") -> "Series":
        """Patch NULLs with ``other``'s values at the same labels
        (pandas ``Series.combine_first``) — the one-column face of
        :meth:`DataFrame.combine_first`. Two columns of one plan need
        no alignment: one coalesce projection."""
        if other._sdf is self._sdf:
            return self._with_col(
                F.coalesce(self._colexpr, other._colexpr))
        return self._unwrap(self._frame(_LIFT).combine_first(
            other._frame(_LIFT)))

    def transform(self, func, **kwargs):
        """pandas ``Series.transform`` — elementwise, shape-
        preserving; same engine path as :meth:`apply` (bare function
        names compile to the matching SQL function JVM-side,
        template strings and callables pass through)."""
        import re as _re
        if isinstance(func, str) and _re.fullmatch(r"\w+", func):
            return self.apply(f"{func}({{self}})")
        return self.apply(func, **kwargs)

    def drop(self, labels, errors: str = "raise") -> "Series":
        """Drop rows by index label (pandas ``Series.drop``): an
        anti-filter against a driver-sized label list; with
        ``errors='raise'`` one tiny count verifies every label hits
        (KeyError parity)."""
        if not isinstance(labels, (list, tuple, set)):
            labels = [labels]
        labels = list(labels)
        if not self._index_cols:
            raise ValueError("drop needs an index")
        key = F.col(self._index_cols[0])
        if errors == "raise" and labels:
            hit = (self._label_filtered(labels, keep=True)
                   .select(key.alias("k")).distinct().count())
            if hit < len(set(labels)):
                raise KeyError(f"{labels!r} not found in axis")
        out = self._label_filtered(labels, keep=False)
        return Series._make(out, self._colexpr, self._index_cols,
                            self.name, self._order)

    def _label_filtered(self, labels, keep: bool):
        """Rows whose index label is (not) in a driver-provided
        list: a literal IN-set while small, a (semi/anti) JOIN
        against a lookup table past _ISIN_LITERAL_MAX — the same
        two-face treatment as isin (a 10^5-literal filter bloats
        plan serialization; the anti join keeps NULL-labeled rows
        exactly like the literal face)."""
        key = F.col(self._index_cols[0])
        if len(labels) <= _ISIN_LITERAL_MAX:
            cond = key.isin(*labels)
            return self._sdf.where(cond if keep
                                   else ~cond | key.isNull())
        spark = self._sdf.sparkSession
        lut = spark.createDataFrame(
            [(v,) for v in labels], ["__lbl__"]).distinct()
        return self._sdf.join(lut, key == F.col("__lbl__"),
                              "left_semi" if keep else "left_anti")

    def get(self, key, default=None):
        """Value at index label ``key``, or ``default`` when absent
        (pandas ``Series.get``) — an explicit driver-side scalar
        fetch (one filtered select). Duplicate labels return a
        Series like pandas."""
        rows = (self._sdf.where(F.col(self._index_cols[0]) == key)
                .select(self._colexpr.alias("v")).collect()
                if self._index_cols else [])
        if not rows:
            return default
        if len(rows) == 1:
            return rows[0]["v"]
        return Series(np.array([r["v"] for r in rows]),
                      name=self.name)

    def reset_index(self, drop: bool = False, name=None):
        """pandas ``Series.reset_index``: ``drop=True`` returns the
        values on a fresh RangeIndex (pure projection + fresh
        positions); otherwise a DataFrame with the index as a
        column."""
        from ..plans.ordinal import ORD_COL, POS_COL
        if drop:
            sdf, alias = self._ordered_sdf(self.name or _VAL)
            key = POS_COL
            if ORD_COL not in sdf.columns:
                sdf, key = sdf.withColumnRenamed(POS_COL, ORD_COL), \
                    ORD_COL
            return Series._make(sdf, F.col(alias), [key],
                                self.name, [(key, True)])
        from .frame import DataFrame
        sdf, a = self._select(self.name or "0")
        idx = [c for c in self._index_cols if c in sdf.columns]
        ren = {c: "index" for c in idx if c in (ORD_COL, _IDX)}
        out = sdf.withColumnsRenamed(ren) if ren else sdf
        new_idx = [ren.get(c, c) for c in idx]
        order = [(ren.get(c, c), asc) for c, asc in (self._order or [])
                 if ren.get(c, c) in out.columns] or None
        return DataFrame._make(out, [], new_idx + [a], order)

    def truncate(self, before=None, after=None) -> "Series":
        """Rows with index label in ``[before, after]`` — the
        one-column face of :meth:`DataFrame.truncate`."""
        return self._unwrap(self._frame(_LIFT).truncate(before, after))

    def squeeze(self):
        """Scalar when the Series has exactly one row, else self
        (pandas ``squeeze``) — pays one limit-2 probe job."""
        rows = self._sdf.select(self._colexpr.alias("v")) \
            .limit(2).collect()
        if len(rows) == 1:
            return rows[0]["v"]
        return self

    def transpose(self) -> "Series":
        return self

    @property
    def T(self) -> "Series":
        return self

    def add_prefix(self, prefix: str) -> "Series":
        """Prefix every index label (pandas ``Series.add_prefix``
        acts on the INDEX for Series) — one string projection."""
        return self._relabel(lambda c: F.concat(F.lit(prefix),
                                                c.cast("string")))

    def add_suffix(self, suffix: str) -> "Series":
        return self._relabel(lambda c: F.concat(c.cast("string"),
                                                F.lit(suffix)))

    def _relabel(self, fn) -> "Series":
        if not self._index_cols:
            raise ValueError("needs an index")
        k = self._index_cols[0]
        out = self._sdf.withColumn(k, fn(F.col(k)))
        return Series._make(out, self._colexpr, self._index_cols,
                            self.name, self._order)

    def argsort(self) -> "Series":
        """Positions that sort the values, NA last (pandas' future
        ``argsort`` contract; the deprecated -1-for-NaN flavor is not
        reproduced). Distributed as one ordered projection: fresh
        positions stamp the current order, then the result IS the
        position column re-ordered by value — no driver loop."""
        from ..core.ordering import order_expr
        from ..plans.ordinal import POS_COL, with_dense_ordinal
        sdf, alias = self._ordered_sdf(self.name or _VAL)
        # stamp the sorted order (value nulls-last — Spark sorts NaN
        # greatest, so NA lands last like pandas — with positional
        # tiebreak) as a fresh dense ordinal; the result is the
        # original-position column on that ordinal's RangeIndex
        if _IDX in sdf.columns:
            sdf = sdf.drop(_IDX)
        out = with_dense_ordinal(
            sdf, [order_expr(F.col(alias), True),
                  F.col(POS_COL).asc()], name=_IDX)
        return Series._make(out, F.col(POS_COL).cast("long"),
                            [_IDX], self.name, [(_IDX, True)])

    def compare(self, other: "Series"):
        """Rows where the two Series differ (pandas
        ``Series.compare``): the standard pairwise alignment, one
        null-safe inequality filter, self/other columns."""
        from .frame import DataFrame
        sdf, a, b = self._pair_sdf(other)
        keys = [c for c in self._index_cols
                if c in other._index_cols] or \
            [c for c in sdf.columns if c not in ("__pa__", "__pb__")]
        out = (sdf.where(~a.eqNullSafe(b))
               .select(*keys, a.alias("self"), b.alias("other")))
        return DataFrame._make(out, keys, ["self", "other"],
                               [(k, True) for k in keys])

    def align(self, other: "Series", join: str = "outer"):
        """Pair of index-aligned Series (pandas ``Series.align``) —
        the one-column face of :meth:`DataFrame.align`: ONE join,
        both results reading the same joined plan."""
        a, b = self._frame(_LIFT).align(other._frame(_LIFT), join=join)
        return self._unwrap(a), other._unwrap(b)

    def groupby(self, by, dropna: bool = True):
        """pandas ``Series.groupby``: group this Series by another
        Series (``s.groupby(keys).mean()``) or by an index level
        name. The aligned (key, value) pair becomes a two-column
        frame — same-frame keys are a pure projection, cross-frame
        keys ride the standard pairwise alignment join — and the
        full DataFrameGroupBy surface applies, restricted to the
        value column (one hash-agg shuffle for the aggregations)."""
        from .frame import DataFrame
        vname = self.name or _VAL
        if isinstance(by, str):
            if by not in self._index_cols:
                raise KeyError(by)
            sdf, a = self._select(vname)
            fr = DataFrame._make(sdf, [], [by, a], self._order)
            return fr.groupby(by, dropna=dropna)[a]
        if not isinstance(by, Series):
            raise TypeError(
                f"groupby by= must be a Series or an index level "
                f"name, got {type(by).__name__}")
        kname = by.name or "__sgk__"
        if kname == vname:
            kname = f"{kname}_key"
        sdf, a, b = self._pair_sdf(by)
        out = sdf.select(b.alias(kname), a.alias(vname))
        fr = DataFrame._make(out, [], [kname, vname], None)
        return fr.groupby(kname, dropna=dropna)[vname]

    def reindex(self, index, fill_value=None) -> "Series":
        """Conform to new labels (pandas ``Series.reindex``) — the
        one-column face of :meth:`DataFrame.reindex`: the driver-sized
        label list becomes a tiny position-tagged table, ONE keyed
        join, fills only introduced cells."""
        return self._unwrap(self._frame(_LIFT).reindex(
            index=index, fill_value=fill_value))

    def asof(self, where):
        """Last non-null value at or before label(s) ``where``
        (pandas ``Series.asof``) — the one-column face of
        :meth:`DataFrame.asof`. A scalar miss is None (the engine's
        NULL spelling of pandas' NaN); a label list returns a Series
        indexed by ``where``."""
        res = self._frame(_LIFT).asof(where)
        if isinstance(where, (list, tuple, np.ndarray)):
            return self._unwrap(res)
        v = res[_LIFT]
        return None if isinstance(v, float) and v != v else v

    def at_time(self, time) -> "Series":
        """pandas ``Series.at_time`` — the one-column face of
        :meth:`DataFrame.at_time`."""
        return self._unwrap(self._frame(_LIFT).at_time(time))

    def between_time(self, start_time, end_time,
                     inclusive: str = "both") -> "Series":
        """pandas ``Series.between_time`` — frame delegation."""
        return self._unwrap(self._frame(_LIFT).between_time(
            start_time, end_time, inclusive=inclusive))

    def asfreq(self, freq: str, method: str | None = None,
               fill_value=None) -> "Series":
        """pandas ``Series.asfreq`` — frame delegation (distributed
        date_range grid + one equi/as-of join)."""
        return self._unwrap(self._frame(_LIFT).asfreq(
            freq, method=method, fill_value=fill_value))

    def factorize(self, sort: bool = False):
        """pandas ``Series.factorize`` — delegates to the top-level
        face (first-appearance order by default via the carried
        ordinals, value order under ``sort=True``; one grouped
        min-position job + a broadcast literal map; 100k-unique
        guard)."""
        from .. import factorize as _fz
        return _fz(self, sort=sort)

    def resample(self, freq: str):
        """pandas ``Series.resample`` over the (timestamp) index —
        frame delegation to the bucket hash-agg + generated gap grid
        machinery; ``.sum/mean/count/min/max/var/std`` return the
        value column per bucket."""
        if not self._index_cols:
            raise ValueError("resample needs a timestamp index")
        from .frame import DataFrame
        k = self._index_cols[0]
        vname = self.name or _VAL
        sdf, a = self._select(vname)
        # the index rides as a DATA column: _Resampler buckets `on`
        # and aggregates the remaining numeric columns
        fr = DataFrame._make(sdf, [], [k, a], self._order)
        return fr.resample(freq, on=k)

    def reindex_like(self, other: "Series",
                     fill_value=None) -> "Series":
        """Conform to ``other``'s index (pandas ``reindex_like``) —
        the one-column face of :meth:`DataFrame.reindex_like`."""
        return self._unwrap(self._frame(_LIFT).reindex_like(
            other._frame(_LIFT), fill_value=fill_value))

    def combine(self, other: "Series", func,
                fill_value=None) -> "Series":
        """pandas ``Series.combine``: elementwise ``func(a, b)`` over
        the aligned pair — the UNION of the two indexes (sorted, like
        pandas; the full-outer :meth:`DataFrame._align_join`), labels
        present on one side only see ``fill_value`` (or NaN) on the
        other. An arbitrary python scalar function is the honest slow
        path — Arrow-batched (one pandas_udf over the zipped pair),
        never a driver loop."""
        from ..functions._udf import scalar_pandas_udf
        import pandas as pd
        if other._sdf is self._sdf:
            # two columns of one plan need no alignment
            sdf = self._sdf.withColumns({
                f"__l_{_LIFT}__": self._colexpr,
                f"__r_{_LIFT}__": other._colexpr,
                "__l_has__": F.lit(True), "__r_has__": F.lit(True)})
            keys = [c for c in self._index_cols if c in sdf.columns]
        else:
            sdf, keys = self._frame(_LIFT)._align_join(other._frame(_LIFT),
                                                     "full_outer")
        a, b = F.col(f"__l_{_LIFT}__"), F.col(f"__r_{_LIFT}__")
        fv = fill_value

        def batch(cols) -> pd.Series:
            # struct inputs arrive as a pandas DataFrame with the
            # field names as columns (Arrow struct batching);
            # fill_value substitutes ONLY for labels missing from a
            # side's index (the __l_has__/__r_has__ presence markers) —
            # a NaN VALUE at a present label passes through as NaN,
            # exactly pandas
            import numpy as _np
            if hasattr(cols, "columns"):
                xs, ys = cols["a"], cols["b"]
                ha, hb = cols["ha"], cols["hb"]
            else:
                xs = pd.Series([st["a"] for st in cols])
                ys = pd.Series([st["b"] for st in cols])
                ha = pd.Series([st["ha"] for st in cols])
                hb = pd.Series([st["hb"] for st in cols])
            miss = _np.nan if fv is None else fv
            out = []
            for x, y, px, py in zip(xs, ys, ha, hb):
                if not (px is True or px == True):  # noqa: E712
                    x = miss
                elif x is None or (isinstance(x, float) and x != x):
                    x = _np.nan
                if not (py is True or py == True):  # noqa: E712
                    y = miss
                elif y is None or (isinstance(y, float) and y != y):
                    y = _np.nan
                out.append(func(x, y))
            return pd.Series(out)

        # pandas infers the result dtype from func's outputs (an
        # int64 pair with a float-returning func yields float64);
        # Spark needs the type up front, so numeric inputs emit
        # DOUBLE — the common-type promotion — rather than pinning
        # to the left operand's dtype (which silently truncated
        # e.g. lambda a, b: a / b back to long). Integer-valued
        # results therefore come back float64 where pandas may
        # keep int64; values are exact (< 2^53).
        ret_t = (T.DoubleType()
                 if isinstance(self.spark_type, T.NumericType)
                 and isinstance(other.spark_type, T.NumericType)
                 else self.spark_type)
        udf = scalar_pandas_udf(batch, ret_t)
        pair = F.struct(a.alias("a"), b.alias("b"),
                        F.col("__l_has__").alias("ha"),
                        F.col("__r_has__").alias("hb"))
        out = sdf.select(*keys, udf(pair).alias("__cmb__"))
        return Series._make(out, F.col("__cmb__"), keys, self.name,
                            [(kk, True) for kk in keys])

    @property
    def loc(self):
        """Label-based selection (pandas ``Series.loc``): scalar
        label (KeyError when absent; duplicate labels return a
        Series), label lists (broadcast-joined past the literal
        budget, like isin), and boolean masks."""
        return _SeriesLoc(self)

    def update(self, other: "Series") -> "Series":
        """pandas ``Series.update`` (returning a NEW Series — the
        engine is immutable): the one-column face of
        :meth:`DataFrame.update`. Row-preserving, so assigning the
        result back to its frame adopts it by projection."""
        return self._unwrap(self._as_frame().update(other._frame(_LIFT)),
                            same_rows=True)

    def to_csv(self, filepath: str, **kw):
        """CSV sink — the one-column frame delegation of
        :meth:`DataFrame.to_csv` (same single_file= contract)."""
        return self._frame().to_csv(filepath, **kw)

    def to_json(self, filepath: str, **kw):
        """JSON sink — delegates to :meth:`DataFrame.to_json`."""
        return self._frame().to_json(filepath, **kw)

    def to_latex(self, **kw) -> str:
        """Driver-side LaTeX rendering — delegates to
        :meth:`DataFrame.to_latex` on the one-column frame."""
        return self._frame().to_latex(**kw)

    def swaplevel(self, i=0, j=1) -> "Series":
        """Swap two index levels (metadata only, like the frame
        face)."""
        return self._unwrap(self._frame(_LIFT).swaplevel(i, j))

    def droplevel(self, level) -> "Series":
        """Remove one index level (metadata + column drop, no job)."""
        return self._unwrap(self._frame(_LIFT).droplevel(level))

    def reorder_levels(self, order) -> "Series":
        """Rearrange index levels (metadata only)."""
        return self._unwrap(self._frame(_LIFT).reorder_levels(order))

    def xs(self, key, level=None, drop_level: bool = True):
        """Cross-section at index label ``key`` (pandas ``Series.xs``)
        — the one-column face of :meth:`DataFrame.xs`: a flat-index
        hit is the VALUE (duplicate labels return a Series), a
        MultiIndex key or ``level=`` a distributed filter."""
        got = self._frame(_LIFT).xs(key, level=level,
                                  drop_level=drop_level)
        if hasattr(got, "_sdf"):
            return self._unwrap(got)
        return got[_LIFT]            # pandas row Series -> scalar

    def _frame(self, alias=None):
        """This Series as a one-column frame whose value column is
        named ``alias`` (default: the Series name), by projection of
        the index, order and value columns only — the lift of every
        face that filters, reorders, aligns or fans out rows (as
        ``_frame(_LIFT)``, read back by :meth:`_unwrap`): a
        dense-ordinal layout under it checkpoints just these columns,
        and the order survives for the faces whose row order
        matters."""
        from .frame import DataFrame
        vname = alias or self.name or _VAL
        keep = [c for c in dict.fromkeys(
                    list(self._index_cols)
                    + [c for c, _ in (self._order or [])])
                if c in self._sdf.columns and c != vname]
        sdf = self._sdf.select(*[F.col(c) for c in keep],
                               self._colexpr.alias(vname))
        return DataFrame._make(sdf, list(self._index_cols), [vname],
                               self._order)

    def corr(self, other: "Series", method: str = "pearson"):
        """Correlation with another Series (pandas ``Series.corr``;
        engine extension — single JVM ``corr`` aggregate).
        ``method='spearman'`` is pandas' recipe: average ranks of the
        pairwise-complete rows (the frame's rank body,
        :meth:`DataFrame._rank`), then Pearson over them."""
        if method == "pearson":
            return self._pairwise(other, F.corr)
        if method != "spearman":
            raise ValueError(f"unsupported method {method!r}")
        if not isinstance(other, Series):
            raise TypeError(f"expected Series, got {type(other).__name__}")
        from .frame import DataFrame
        sdf, a, b = self._pair_sdf(other)
        cols = ["__pa__", "__pb__"]
        pair = sdf.select(a.cast("double").alias(cols[0]),
                          b.cast("double").alias(cols[1])).dropna()
        ranked = DataFrame._make(pair, [], cols)._rank(
            cols, "average", True, False)
        return _nan_if_none(ranked._sdf.agg(F.corr(*cols).alias("v"))
                            .first()["v"])

    def cov(self, other: "Series"):
        """Sample covariance with another column of the same frame
        (pandas ``Series.cov``; engine extension)."""
        return self._pairwise(other, F.covar_samp)

    def sort_values(self, ascending: bool = True) -> "Series":
        """Sort by value — distributed range-partitioned sort."""
        sdf, alias = self._select()
        out = sdf.orderBy(order_expr(alias, ascending))
        return Series._make(out, F.col(alias), self._index_cols, self.name,
                            [(alias, ascending)])

    def sort_index(self, ascending: bool = True) -> "Series":
        sdf, alias = self._select()
        idx = [c for c in self._index_cols if c in sdf.columns]
        out = sdf.orderBy(*[order_expr(c, ascending) for c in idx])
        return Series._make(out, F.col(alias), self._index_cols, self.name,
                            [(c, ascending) for c in idx])

    def replace(self, to_replace, value=None) -> "Series":
        """pandas ``Series.replace`` — the one-column face of
        :meth:`DataFrame.replace` (scalar, dict and list forms; one
        CASE projection)."""
        return self._unwrap(self._as_frame().replace(to_replace, value),
                            same_rows=True)

    def map(self, mapping: dict, default=None) -> "Series":
        """Value substitution from a dict (pandas ``Series.map``:
        unmapped ⇒ NULL, or ``default``). Small dicts compile to a
        CASE chain (pure codegen); big dicts become a broadcast-join
        lookup table — same result, no driver-side row loop either
        way."""
        if not isinstance(mapping, dict):
            raise TypeError("map expects a dict; for callables use "
                            "apply()")

        def _k(v):
            # NaN keys/values mean NULL under the engine's codec
            # (r11 — a raw NaN literal would poison downstream JVM
            # aggregates; a NaN KEY must match the NULL rows that
            # represent NaN, like pandas' s.map({nan: ...}))
            return None if isinstance(v, float) and v != v else v

        if len(mapping) <= 64:
            expr = (F.lit(default) if default is not None
                    else F.lit(None))
            for k, v in mapping.items():
                expr = F.when(
                    self._colexpr.eqNullSafe(F.lit(_k(k))),
                    F.lit(_k(v))).otherwise(expr)
            return self._with_col(expr, self.name)
        spark = self._sdf.sparkSession
        items = [(_k(k), _k(v)) for k, v in mapping.items()]
        lut = spark.createDataFrame(items, ["__mk__", "__mv__"])
        joined = self._sdf.join(
            F.broadcast(lut),
            self._colexpr.eqNullSafe(F.col("__mk__")), "left")
        val = (F.coalesce(F.col("__mv__"), F.lit(default))
               if default is not None else F.col("__mv__"))
        out = joined.withColumn("__mapped__", val).drop("__mk__", "__mv__")
        return Series._make(out, F.col("__mapped__"), self._index_cols,
                            self.name, self._order)

    def abs(self) -> "Series":
        return self._with_col(F.abs(self._colexpr))

    __abs__ = abs       # builtin abs(sr), like pandas

    def round(self, decimals: int = 0) -> "Series":
        """Round half-to-even (banker's), matching pandas/NumPy —
        Spark's F.round is HALF_UP, which differs at exact .5 ties
        (np.round(2.5) == 2, not 3); F.bround is the HALF_EVEN
        face."""
        return self._with_col(F.bround(self._colexpr, decimals))

    def any(self) -> bool:
        """True if any non-null value is truthy (pandas skipna
        flavor; empty/all-null ⇒ False) — the one-column face of
        :meth:`DataFrame.any`, one JVM aggregate."""
        return bool(self._frame(_LIFT).any().item())

    def all(self) -> bool:
        """True if every non-null value is truthy (pandas skipna
        flavor; empty/all-null ⇒ True)."""
        return bool(self._frame(_LIFT).all().item())

    def clip(self, lower=None, upper=None) -> "Series":
        """Bound values to [lower, upper] (pandas ``Series.clip``).
        NULL/NaN stays NULL: Spark's greatest/least SKIP nulls, which
        would silently clamp a missing value to the bound — pandas
        propagates NaN, so the whole expression is null-gated. Bounds
        may be scalars or Series (elementwise, positionally aligned);
        a NULL bound leaves the value unclipped, like pandas NaN
        bounds."""
        def gate(fn):
            return lambda a, b: F.when(a.isNull(), F.lit(None)) \
                .otherwise(fn(a, b))
        # a scalar NaN bound is NO bound (pandas) — left as a raw
        # literal it would win every greatest/least (NaN sorts
        # greatest in Spark) and clamp the whole column (r11)
        if isinstance(lower, float) and lower != lower:
            lower = None
        if isinstance(upper, float) and upper != upper:
            upper = None
        out = self
        if lower is not None:
            out = out._lift(lower, gate(F.greatest))
        if upper is not None:
            out = out._lift(upper, gate(F.least))
        return out

    def value_counts(self, ascending: bool = False,
                     normalize: bool = False,
                     dropna: bool = True, bins=None) -> "Series":
        """Distinct values with occurrence counts, ordered by count —
        the one-column face of :meth:`DataFrame.value_counts` (one
        hash-agg shuffle; values become the index). ``bins=n``
        composes :meth:`cut` (pandas edge math, interval-string
        labels) before counting."""
        src = self if bins is None else self.cut(bins)
        return src._frame(src.name or _IDX).value_counts(
            normalize=normalize, ascending=ascending, dropna=dropna)

    def ffill(self, limit: int | None = None) -> "Series":
        """Forward-fill (pandas ``Series.ffill``; ``pad`` is its
        alias) — the frame's partition-safe carry machinery on this
        one column."""
        return self._unwrap(self._as_frame()._directional_fill(
            [_LIFT], None, True, limit), same_rows=True)

    def bfill(self, limit: int | None = None) -> "Series":
        return self._unwrap(self._as_frame()._directional_fill(
            [_LIFT], None, False, limit), same_rows=True)

    pad = ffill
    backfill = bfill

    def items(self):
        """Iterate (label, value) pairs (pandas ``Series.items``) —
        an explicit driver materialization like iterrows."""
        s = self.to_pandas()
        return iter(s.items())

    @property
    def iat(self):
        """Positional scalar access (pandas ``Series.iat``) — the
        iloc integer face."""
        return _SeriesILoc(self)

    @property
    def at(self):
        """Label scalar access (pandas ``Series.at``) — the loc
        scalar face (KeyError when absent)."""
        return _SeriesLoc(self)

    @property
    def dtypes(self):
        """pandas alias of :attr:`dtype` (Series.dtypes == dtype)."""
        return self.dtype

    def case_when(self, caselist) -> "Series":
        """pandas 2.2 ``Series.case_when``: (condition, replacement)
        pairs compile to ONE Catalyst CASE chain — fully codegen'd,
        no Python in the loop. Conditions are engine boolean Series
        (aligned to this Series' plan); unmatched rows keep this
        Series' value, like pandas."""
        if not caselist:
            raise ValueError("caselist must not be empty")
        expr = None
        for cond, repl in caselist:
            c = cond._colexpr if isinstance(cond, Series) else cond
            r = repl._colexpr if isinstance(repl, Series) \
                else F.lit(repl)
            expr = (F.when(c, r) if expr is None
                    else expr.when(c, r))
        return self._with_col(expr.otherwise(self._colexpr))

    def searchsorted(self, value, side: str = "left"):
        """Insertion index keeping sort order (pandas
        ``searchsorted``): for side='left' the count of elements
        strictly below ``value``, side='right' counts <= — ONE
        aggregate per call (a scalar), or one grouped pass for a
        list of probes (no per-probe job)."""
        if side not in ("left", "right"):
            raise ValueError("side must be 'left' or 'right'")
        sdf, alias = self._select("__ss__")
        col = F.col(alias)
        vals = (list(value)
                if isinstance(value, (list, tuple, np.ndarray))
                else None)
        if vals is None:
            op = (col < F.lit(value)) if side == "left" \
                else (col <= F.lit(value))
            return int(sdf.agg(F.count(F.when(op, 1))).collect()[0][0])
        aggs = [F.count(F.when(
            (col < F.lit(v)) if side == "left" else (col <= F.lit(v)),
            1)).alias(f"c{i}") for i, v in enumerate(vals)]
        row = sdf.agg(*aggs).collect()[0]
        return np.array([row[f"c{i}"] for i in range(len(vals))])

    def to_string(self, **kw) -> str:
        """Driver-side render (pandas ``to_string``) — an explicit
        materialization boundary like to_pandas."""
        return self.to_pandas().to_string(**kw)

    def to_markdown(self, **kw) -> str:
        return self.to_pandas().to_markdown(**kw)

    def rename_axis(self, name) -> "Series":
        """Rename the INDEX (pandas ``rename_axis``) — the one-column
        face of :meth:`DataFrame.rename_axis`, no job."""
        return self._unwrap(self._frame(_LIFT).rename_axis(name))

    def set_axis(self, labels) -> "Series":
        """Replace the index with ``labels`` (pandas ``set_axis``) —
        the one-column face of :meth:`DataFrame.set_axis`."""
        return self._unwrap(self._frame(_LIFT).set_axis(labels))

    def interpolate(self, method: str = "linear", limit: int | None = None,
                    limit_direction: str | None = None) -> "Series":
        """Linear interpolation of NULL runs (pandas
        ``Series.interpolate``) — the one-column face of
        :meth:`DataFrame.interpolate`, with its pandas edge, ``limit``
        and ``limit_direction`` semantics (one fused layout pass)."""
        return self._unwrap(self._as_frame()._interpolate(
            [_LIFT], method, limit, limit_direction), same_rows=True)

    def repeat(self, repeats: int) -> "Series":
        """Each value repeated ``repeats`` times consecutively
        (pandas ``Series.repeat`` with a scalar): array_repeat +
        the explode machinery, a narrow generator."""
        if repeats < 0:
            raise ValueError("repeats must be >= 0")
        rep = self._with_col(
            F.array_repeat(self._colexpr, repeats))
        # pandas DROPS rows at repeats=0; Series.explode is
        # posexplode_outer (empty array => one NULL row, correct for
        # pandas explode but wrong here) — filter empties first so
        # the outer generator behaves as an inner one.
        sdf, alias = rep._select()
        sdf = sdf.filter(F.size(F.col(alias)) > 0)
        inner = Series._make(sdf, F.col(alias), rep._index_cols,
                             rep.name, rep._order)
        return inner.explode().rename(self.name)

    def to_frame(self, name=None) -> "DataFrame":
        """One-column DataFrame view (pandas ``to_frame``)."""
        return self._frame(name or self.name or "0")

    def rename(self, name) -> "Series":
        out = self._with_col(self._colexpr)
        out.name = name
        return out

    def copy(self, deep: bool = True) -> "Series":
        return self._with_col(self._colexpr)

    def tolist(self) -> list:
        """Driver-side list export (same boundary as to_pandas)."""
        return self.to_pandas().tolist()

    to_list = tolist

    def item(self):
        """The single value of a length-1 Series (pandas ``item``:
        raises otherwise). One limit(2) probe, not a full count."""
        rows = self._select()[0].limit(2).collect()
        if len(rows) != 1:
            raise ValueError(
                f"can only convert a length-1 Series ({'empty' if not rows else '>1 rows'})")
        return rows[0][-1]

    @property
    def hasnans(self) -> bool:
        """True when any value is NULL — a limit(1) filtered probe,
        the scan short-circuits at the first null."""
        sdf, a = self._select()
        return sdf.filter(F.col(a).isNull()).limit(1).count() > 0

    @property
    def is_unique(self) -> bool:
        """One agg: count == approx-free distinct count."""
        sdf, a = self._select()
        r = sdf.agg(F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.col(a)).alias("d"),
                    F.count(F.col(a)).alias("nn")).first()
        # pandas counts NaN as a value; >1 NULL breaks uniqueness
        return r["d"] + min(r["n"] - r["nn"], 1) == r["n"]

    @property
    def is_monotonic_increasing(self) -> bool:
        return self._monotonic(increasing=True)

    @property
    def is_monotonic_decreasing(self) -> bool:
        return self._monotonic(increasing=False)

    def _monotonic(self, increasing: bool) -> bool:
        """pandas flavor: any NaN -> False; else no adjacent
        violation. One null probe + one boundary-carry shift with a
        limit(1) violation probe — never a global window."""
        if self.hasnans:
            return False
        cur, sh = self._and_shifted(1)
        bad = (cur < sh) if increasing else (cur > sh)
        sdf, a = bad._select()
        # the head row's shifted neighbor is NULL -> comparison NULL
        # -> filter drops it, as it should
        return sdf.filter(F.col(a)).limit(1).count() == 0

    def argmax(self) -> int:
        """Positional index of the max (pandas ``argmax``): one
        max_by aggregate over the dense position."""
        return self._argpos(True)

    def argmin(self) -> int:
        return self._argpos(False)

    def _argpos(self, is_max: bool) -> int:
        from ..plans.ordinal import with_dense_ordinal
        sdf, a = self._select()
        pairs = [(c, x) for c, x in (self._order or [])
                 if c in sdf.columns]
        sdf = with_dense_ordinal(sdf, order_exprs(pairs) or None,
                                 name="__ap__")
        fn = F.max_by if is_max else F.min_by
        # first-occurrence tiebreak: max_by wants the LARGEST
        # (value, -pos), min_by the SMALLEST (value, pos) — both pick
        # the smallest position among ties, like pandas
        tie = (-F.col("__ap__")) if is_max else F.col("__ap__")
        v = sdf.agg(fn(F.col("__ap__"),
                       F.when(F.col(a).isNotNull(),
                              F.struct(F.col(a).alias("v"),
                                       tie.alias("t"))))
                    .alias("p")).first()["p"]
        return -1 if v is None else int(v)

    def eq(self, o): return self._lift(o, lambda a, b: a == b)
    def ne(self, o): return self._lift(o, lambda a, b: a != b)
    def lt(self, o): return self._lift(o, lambda a, b: a < b)
    def le(self, o): return self._lift(o, lambda a, b: a <= b)
    def gt(self, o): return self._lift(o, lambda a, b: a > b)
    def ge(self, o): return self._lift(o, lambda a, b: a >= b)

    def take(self, indices) -> "Series":
        return self.iloc[list(indices)]

    def sample(self, fraction=None, seed: int = 42, n=None,
               frac=None, random_state=None) -> "Series":
        """Per-partition Bernoulli sample / exact-n hash top-n — the
        frame machinery on this one column."""
        return self._unwrap(self._frame(_LIFT).sample(
            fraction=fraction, seed=seed, n=n, frac=frac,
            random_state=random_state))

    def describe(self, approx: bool = False, percentiles=None) -> "Series":
        """count/mean/std/min/quantiles/max as a Series (pandas
        Series.describe) — the frame's ONE-job describe on this
        column."""
        return self._unwrap(self._frame(_LIFT).describe(
            approx=approx, percentiles=percentiles))

    def drop_duplicates(self, keep="first") -> "Series":
        """Distinct VALUES keeping the first/last occurrence's row, in
        row order (pandas flavor) — the one-column face of
        :meth:`DataFrame.drop_duplicates`."""
        return self._unwrap(self._frame(_LIFT).drop_duplicates(
            [_LIFT], keep=keep))

    def duplicated(self, keep: str = "first") -> "Series":
        """Boolean mask of repeated values (pandas flavor) — the
        one-column face of :meth:`DataFrame.duplicated`."""
        return self._frame(_LIFT).duplicated(keep=keep)

    def equals(self, other: "Series") -> bool:
        return self.to_frame("__e__").equals(other.to_frame("__e__"))

    def product(self):
        return self.prod()

    def aggregate(self, *a, **k):
        return self.agg(*a, **k)

    def keys(self):
        return self.index

    def pipe(self, func, *args, **kwargs):
        """pandas ``pipe``: ``func(self, ...)`` — composition sugar."""
        return func(self, *args, **kwargs)

    def first_valid_index(self):
        """Label of the first non-null value (pandas flavor) — the
        frame's ordered limit-1 probe."""
        return self._frame(_LIFT).first_valid_index()

    def last_valid_index(self):
        return self._frame(_LIFT).last_valid_index()

    def dot(self, other: "Series") -> float:
        """Inner product with another Series (pandas ``Series.dot``):
        the pairwise alignment every two-Series statistic uses
        (:meth:`_pair_sdf`), then ONE sum-of-products aggregate."""
        sdf, a, b = self._pair_sdf(other)
        return sdf.agg(F.sum(a * b).alias("v")).first()["v"]

    def autocorr(self, lag: int = 1):
        """Lag-N self-correlation (pandas ``Series.autocorr``):
        Pearson between the series and itself shifted. The shift
        output keeps the source column, so both sides share one sdf
        and the stat is a single aggregate after the one-pass
        boundary-carry shift."""
        orig, sh = self._and_shifted(lag)
        return orig._pairwise(sh, F.corr)

    def _and_shifted(self, periods: int):
        """This Series and its shift by ``periods`` over ONE plan (the
        shift keeps every source column). The value is pinned under
        its own column first: the shift rewrites the lifted column,
        which this Series' expression may itself read."""
        sh = Series._make(self._sdf.withColumn("__cur__", self._colexpr),
                          F.col("__cur__"), self._index_cols, self.name,
                          self._order).shift(periods)
        return sh._with_col(F.col("__cur__")), sh

    def nunique(self, dropna: bool = True, approx: bool = False):
        """Distinct-value count (eager scalar, pandas flavor) — the
        one-column face of :meth:`DataFrame.nunique`."""
        return int(self._frame(_LIFT).nunique(
            dropna=dropna, approx=approx).item())

    def mode(self) -> "Series":
        """Most frequent value(s) — ALL ties returned, sorted
        ascending (pandas semantics). Two hash aggs, no global sort
        of the data itself."""
        sdf, alias = self._select()
        # pandas mode(dropna=True) default: NaN never counts as a
        # candidate value (it used to win ties as a NULL group here)
        counts = sdf.where(F.col(alias).isNotNull()).groupBy(alias).agg(
            F.count(F.lit(1)).alias("__cnt__"))
        # max count as a ONE-ROW aggregate broadcast back — a global
        # window here would single-partition the distinct-values
        # table, which scales with cardinality
        mx = counts.agg(F.max("__cnt__").alias("__max__"))
        out = (counts.crossJoin(F.broadcast(mx))
               .where(F.col("__cnt__") == F.col("__max__"))
               .select(alias).orderBy(alias))
        return Series._make(out, F.col(alias), [], self.name,
                            [(alias, True)])

    def nlargest(self, n: int = 5) -> "Series":
        """Top-n values: distributed TakeOrdered, never a full sort —
        the one-column face of :meth:`DataFrame.nlargest` (NaN last,
        ties keep the earlier row like pandas)."""
        return self._unwrap(self._frame(_LIFT).nlargest(n, _LIFT))

    def nsmallest(self, n: int = 5) -> "Series":
        return self._unwrap(self._frame(_LIFT).nsmallest(n, _LIFT))

    def idxmax(self):
        """Index label of the maximum (eager scalar, pandas flavor;
        engine extension). One distributed TakeOrdered(1) — ties break
        on the smallest index, matching pandas' first-occurrence rule
        when the index is the insertion order."""
        return self._idx_of(ascending=False)

    def idxmin(self):
        return self._idx_of(ascending=True)

    def _idx_of(self, ascending: bool):
        idx = self._index_cols[0] if self._index_cols else None
        sdf, alias = self._select()
        if idx is None or idx not in sdf.columns:
            # scan-backed / indexless frame: the label is the fresh
            # dense position (one partition-offset two-pass, no global
            # window — plans/ordinal.py)
            from ..plans.ordinal import POS_COL
            sdf, alias = self._ordered_sdf()
            idx = POS_COL
        val = order_expr(alias, ascending)
        row = sdf.orderBy(val, F.col(idx).asc()).select(idx).first()
        return None if row is None else row[0]

    def shift(self, periods: int = 1, fill_value=None) -> "Series":
        """Values moved by ``periods`` along the logical order, NULLs
        (or ``fill_value``) at the edge (pandas flavor; engine
        extension). The one-column face of :meth:`DataFrame.shift`:
        one partition-safe boundary-carry pass, never a global
        single-partition window. Supply a meaningful sort
        (sort_values/sort_index) upstream; an unordered scan shifts in
        the current layout order."""
        return self._unwrap(self._as_frame()._shift_combine(
            [_LIFT], periods, "shift", fill_value), same_rows=True)

    def diff(self, periods: int = 1) -> "Series":
        """self - self.shift(periods) in one boundary-carry pass."""
        return self._unwrap(self._as_frame()._shift_combine(
            [_LIFT], periods, "diff"), same_rows=True)

    def cumsum(self) -> "Series":
        """Cumulative sum along the logical order (pandas flavor;
        engine extension). Partition-safe at any scale: the frame
        face's parallel prefix scan (plans/ordinal.with_prefix_aggs),
        never a global single-partition window.

        Examples
        --------
        >>> import baloo_spark as bl
        >>> df = bl.DataFrame({"k": [0, 1, 2], "x": [1.0, 2.0, 3.0]})
        >>> df.sort_values("k")["x"].cumsum().to_pandas().tolist()
        [1.0, 3.0, 6.0]
        """
        return self._unwrap(self._as_frame()._cumulative([_LIFT], "sum"),
                            same_rows=True)

    def cumprod(self) -> "Series":
        return self._unwrap(self._as_frame()._cumulative([_LIFT], "prod"),
                            same_rows=True)

    def cummin(self) -> "Series":
        return self._unwrap(self._as_frame()._cumulative([_LIFT], "min"),
                            same_rows=True)

    def cummax(self) -> "Series":
        return self._unwrap(self._as_frame()._cumulative([_LIFT], "max"),
                            same_rows=True)

    def pct_change(self, periods: int = 1) -> "Series":
        """Fractional change vs the value ``periods`` back along the
        logical order, x/x.shift(periods) - 1 with IEEE division
        (x/0 -> ±inf), in one boundary-carry pass (pandas flavor;
        engine extension)."""
        return self._unwrap(self._as_frame()._shift_combine(
            [_LIFT], periods, "pct_change"), same_rows=True)

    def rolling(self, window, min_periods: int | None = None,
                center: bool = False):
        """Fixed-size window aggregations along the logical order
        (pandas ``Series.rolling``) — the one-column face of
        :meth:`DataFrame.rolling` on the window engine (core/window.py):
        trailing moments from one prefix pass, order statistics and
        ``center=True`` from one bounded local-carry pass, a
        str/timedelta ``window`` ('2h') over the datetime index."""
        from .window import Rolling, SeriesWindow
        return SeriesWindow(self, Rolling, window=window,
                            min_periods=min_periods, center=center)

    def ewm(self, com=None, span=None, halflife=None, alpha=None,
            min_periods: int = 0, adjust: bool = True,
            ignore_na: bool = False, times=None):
        """Exponentially weighted windows (pandas ``Series.ewm``,
        both ``adjust`` flavors): ``.mean() .sum() .var() .std()
        .cov() .corr()``. Exactly one of com/span/halflife/alpha
        selects the decay (pandas conversions: alpha = 1/(1+com) =
        2/(span+1) = 1-exp(-ln2/halflife)); ``times=`` with a
        Timedelta halflife selects the time-decay mean. The
        one-column face of :meth:`DataFrame.ewm`: a two-pass decayed
        carry scan, never a global window, never a per-row Python
        loop."""
        from .window import Ewm, SeriesWindow, _times_column
        return SeriesWindow(self, Ewm, com=com, span=span,
                            halflife=halflife, alpha=alpha,
                            min_periods=min_periods, adjust=adjust,
                            ignore_na=ignore_na,
                            times=_times_column(times, self._sdf))

    def expanding(self, min_periods: int = 1):
        """Growing-window aggregations from the first row (pandas
        ``Series.expanding``): ``.sum() .mean() .count() .min()
        .max() .var() .std() .sem() .skew() .kurt()`` — the one-column
        face of :meth:`DataFrame.expanding`, one prefix-scan pass."""
        from .window import Rolling, SeriesWindow
        return SeriesWindow(self, Rolling, window=None,
                            min_periods=min_periods)

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False) -> "Series":
        """Global value rank (pandas flavor, 1-based float64; default
        method 'average' like pandas) — the one-column face of
        :meth:`DataFrame.rank`. NULLs are left unranked
        (na_option='keep'); 'first' breaks ties by logical position."""
        return self._unwrap(self._as_frame()._rank(
            [_LIFT], method, ascending, pct), same_rows=True)

    def quantile(self, q, approx: bool = False,
                 accuracy: int = 10000,
                 interpolation: str = "linear"):
        """Quantiles — the one-column face of
        :meth:`DataFrame.quantile` (its ``_quantile_row`` body: exact
        linear by default, ``approx=True`` for the GK sketch at scale,
        lower/higher/nearest/midpoint from exact ranks). A scalar ``q``
        returns a Python float (pandas flavor); a list returns a
        Series indexed by the quantiles' string spellings."""
        scalar = isinstance(q, (int, float))
        qs = [q] if scalar else list(q)
        row = self._frame(_LIFT)._quantile_row(
            [_LIFT], [float(p) for p in qs], approx, accuracy,
            interpolation)
        if scalar:
            return float(_nan_if_none(
                row.select(F.element_at(F.col(_LIFT), 1)).first()[0]))
        pairs = ", ".join(f"'{p}', element_at(`{_LIFT}`, {i + 1})"
                          for i, p in enumerate(qs))
        out = row.select(F.expr(
            f"stack({len(qs)}, {pairs}) as (`{_IDX}`, `__q__`)"))
        return Series._make(out, F.col("__q__"), [_IDX], self.name, None)

    def median(self, approx: bool = False, accuracy: int = 10000):
        return self.quantile(0.5, approx=approx, accuracy=accuracy)

    def cut(self, bins, labels=None, right: bool = True) -> "Series":
        """Bin values into explicit intervals (pandas ``pd.cut``:
        half-open ``(a, b]`` by default, ``[a, b)`` with
        ``right=False``; out-of-range ⇒ NULL). ``bins`` may be an int
        (pandas equal-width binning from min/max, with the 0.1%-range
        outer-edge padding so extrema land inside) — that face runs
        ONE tiny min/max aggregate first. ``labels=False`` emits
        integer bin codes. Binning itself is a pure CASE expression —
        no shuffle, ANSI-replayable bit-for-bit."""
        if isinstance(bins, int):
            if bins < 1:
                raise ValueError(f"bins must be >= 1, got {bins}")
            d = self._colexpr.cast("double")
            row = self._sdf.agg(F.min(d).alias("mn"),
                                F.max(d).alias("mx")).first()
            mn, mx = row["mn"], row["mx"]
            if mn is None:
                return self._with_col(
                    F.lit(None).cast("double" if labels is False
                                     else "string"), self.name)
            mn, mx = float(mn), float(mx)
            if mn == mx:  # pandas: widen a degenerate range by 0.1%
                mn -= 0.001 * abs(mn) if mn != 0 else 0.001
                mx += 0.001 * abs(mx) if mx != 0 else 0.001
            step = (mx - mn) / bins
            edges = [mn + i * step for i in range(bins)] + [mx]
            adj = (mx - mn) * 0.001
            if right:
                edges[0] -= adj
            else:
                edges[-1] += adj
            bins = edges
        if len(bins) < 2:
            raise ValueError("need at least 2 bin edges")
        if labels not in (None, False) and len(labels) != len(bins) - 1:
            raise ValueError(f"expected {len(bins) - 1} labels, got "
                             f"{len(labels)}")
        c = self._colexpr.cast("double")
        codes = labels is False
        # pandas prints INTEGER bin edges without decimals
        # ('(0, 1]' for bins=[0,1], '(0.0, 1.0]' for [0.0, 1.0]) —
        # the label dtype follows the edges the caller passed (r11)
        int_edges = all(isinstance(b, (int, np.integer))
                        and not isinstance(b, bool) for b in bins)

        def _e(v):
            return str(int(v)) if int_edges else str(float(v))
        expr = F.lit(None).cast("double" if codes else "string")
        for i in range(len(bins) - 1):
            lo, hi = float(bins[i]), float(bins[i + 1])
            if right:
                cond = (c > lo) & (c <= hi)
                dflt = f"({_e(lo)}, {_e(hi)}]"
            else:
                cond = (c >= lo) & (c < hi)
                dflt = f"[{_e(lo)}, {_e(hi)})"
            lab = (F.lit(float(i)) if codes
                   else F.lit(labels[i] if labels else dflt))
            expr = F.when(cond, lab).otherwise(expr)
        return self._with_col(expr, self.name)

    def qcut(self, q, labels=None, approx: bool = False,
             accuracy: int = 10000, retbins: bool = False,
             duplicates: str = "raise") -> "Series":
        """Quantile-based binning (pandas ``pd.qcut``): ``q``
        equal-frequency bins, or an explicit list of quantiles
        (``[0, .5, 1]``). One tiny percentile aggregate fetches all
        edges in a single array call (one value buffer, not one per
        edge), then binning is the same narrow CASE as :meth:`cut`
        with the first bin closed on the left. ``labels=False`` emits
        integer bin codes; ``duplicates='drop'`` collapses repeated
        edges like pandas. Edges are exact interpolated by default;
        ``approx=True`` swaps in the Greenwald-Khanna sketch
        (percentile_approx) — the 100 TB path, since exact
        percentiles buffer the value multiset."""
        if isinstance(q, int):
            if q < 1:
                raise ValueError(f"q must be >= 1, got {q}")
            ps = [i / q for i in range(q + 1)]
        else:
            ps = [float(p) for p in q]
            if len(ps) < 2 or sorted(ps) != ps \
                    or ps[0] < 0 or ps[-1] > 1:
                raise ValueError(
                    "quantile list must be increasing within [0, 1]")
        d = self._colexpr.cast("double")
        if approx:
            qarr = F.expr(
                "array(" + ",".join(f"{float(p)!r}D" for p in ps) + ")")
            row = self._sdf.agg(F.percentile_approx(
                d, qarr, F.lit(accuracy)).alias("__e__")).first()
            edges = list(row["__e__"])
        else:
            # pandas qcut bins exactly where numpy.quantile's lerp
            # puts the edges — Spark's percentile_cont formula differs
            # in the last ulp (a+(b-a)*t vs lowerVal*(hi-pos)+
            # higherVal*(pos-lo)), which flips edge-valued rows
            # between bins. Take pandas' exact rank values (two tiny
            # mergeable jobs — approx=True is the 100 TB path either
            # way) and replay numpy's branchy lerp bit-for-bit.
            import math

            from .frame import _rank_values
            edges = []
            for h, a, b in _rank_values(
                    self._sdf.select(d.alias("v")), ["v"], ps)["v"]:
                t = None if h is None else h - math.floor(h)
                edges.append(None if a is None
                             else (b - (b - a) * (1 - t)) if t >= 0.5
                             else (a + (b - a) * t))
        if edges and edges[0] is None:  # empty/all-null input
            out = self._with_col(
                F.lit(None).cast("double" if labels is False
                                 else "string"), self.name)
            return (out, []) if retbins else out
        if len(set(edges)) != len(edges):
            if duplicates == "drop":
                edges = sorted(set(edges))
            else:
                raise ValueError(
                    "Bin edges must be unique; pass duplicates='drop'")
        if len(edges) < 2:
            raise ValueError("qcut produced a single bin edge; "
                             "the input is constant")
        nb = len(edges) - 1
        if labels not in (None, False) and len(labels) != nb:
            raise ValueError(f"expected {nb} labels, got {len(labels)}")
        c = self._colexpr.cast("double")
        codes = labels is False
        expr = F.lit(None).cast("double" if codes else "string")
        for i in range(nb):
            lo, hi = edges[i], edges[i + 1]
            cond = ((c >= lo) if i == 0 else (c > lo)) & (c <= hi)
            lab = (F.lit(float(i)) if codes else F.lit(
                labels[i] if labels
                else (f"[{lo}, {hi}]" if i == 0 else f"({lo}, {hi}]")))
            expr = F.when(cond, lab).otherwise(expr)
        out = self._with_col(expr, self.name)
        # retbins: pandas returns the edge array alongside (already
        # driver-sized — it was collected to build the CASE)
        return (out, list(edges)) if retbins else out

    def approx_quantile(self, q, relative_error: float = 0.001) -> list:
        """Sketch-based quantiles (approx_percentile) — the scale path:
        mergeable t-digest-style sketch, no full sort."""
        qs = [q] if isinstance(q, (int, float)) else list(q)
        sdf, alias = self._select()
        return sdf.approxQuantile(alias, [float(p) for p in qs],
                                  relative_error)

    def agg(self, aggregations: list) -> "Series":
        """Multiple aggregations in ONE Spark job (the reference computes
        a shared dependency closure, weld_aggs.py:185-268; Catalyst CSE
        gives us the same for free)."""
        dt = self.spark_type
        exprs = [reduce_expr(a, self._colexpr, dt).cast("double").alias(a)
                 for a in aggregations]
        row_df = self._sdf.agg(*exprs)
        pairs = ", ".join(f"'{a}', `{a}`" for a in aggregations)
        out = row_df.select(
            F.expr(f"stack({len(aggregations)}, {pairs}) as (`{_IDX}`, `__agg__`)")
        )
        return Series._make(out, F.col("__agg__"), [_IDX], self.name, None)

    # ----------------------------------------------------------- transforms

    def astype(self, dtype) -> "Series":
        """Cast to ``dtype``. Documented divergence from pandas:
        casting a column WITH missing values to an integer type keeps
        them NULL (the result column still reads back as float+NaN in
        pandas) instead of raising IntCastingNaNError — SQL engines
        have a missing value for every type, so the cast is total;
        fillna first if you need pandas' strictness. Likewise an
        unparseable string casts to NULL (pandas
        ``to_numeric(errors='coerce')`` flavor) rather than raising
        ValueError — a lazy engine cannot raise per-row at build
        time."""
        return self._with_col(self._colexpr.cast(spark_type_of(dtype)))

    def unique(self) -> "Series":
        """Distinct values; order NOT preserved (reference hash-dict
        semantics, weld_ops.py:529-569)."""
        sdf, alias = self._select()
        out = sdf.select(alias).distinct()
        return Series._make(out, F.col(alias), [], self.name, None)

    def unstack(self, level: int = -1, max_columns: int = 10000,
                verify_integrity: bool = True) -> "DataFrame":
        """pandas ``Series.unstack``: pivot one index level into
        columns — the one-column face of :meth:`DataFrame.unstack`
        (flat level-value column names, one hash-agg shuffle)."""
        return self._frame(_LIFT).unstack(
            level=level, max_columns=max_columns,
            verify_integrity=verify_integrity)

    def explode(self) -> "Series":
        """pandas ``Series.explode``: one output row per array
        element, index labels repeated; NULL/empty arrays yield one
        NULL row — the one-column face of :meth:`DataFrame.explode`
        (a narrow generator; element order survives positional ops).
        Non-list values pass through unchanged."""
        return self._unwrap(self._frame(_LIFT).explode(_LIFT))

    def apply(self, func, mapping: dict | None = None, new_dtype=None, **kwargs):
        """UDF surface (series.py:441-548). Modes:

        1. baloo_spark function (e.g. ``bl.sqrt``) — composes a Column
           expression, stays JVM-side;
        2. SQL expression template string with ``{self}`` placeholder
           (the Spark-idiomatic analogue of the reference's raw Weld IR
           templates, series.py:475-489) — e.g. ``'{self} * 2 + 1'``;
        3. arbitrary Python/NumPy callable — vectorized Arrow
           ``pandas_udf`` (the analogue of ``bl.raw(np.fn)``,
           functions/utils.py:23-60).
        """
        if isinstance(func, str):
            tmpl = func
            if mapping:
                tmpl = tmpl.format(self="{self}", **mapping)
            # Inline this Series' expression SQL so the result stays on
            # the SAME parent frame (keeps setitem/filter lineage
            # intact). str(Column) is not a stable PySpark API: the
            # format is pinned by tests/test_series.py::
            # test_column_repr_format_pinned, and reprs that are not
            # valid SQL (composed Python arithmetic renders as
            # "+(*(x, 2), 1)" on this PySpark) fall back to projecting
            # the expression as a temp column and templating over THAT
            # — same values, lineage moves to a derived plan (the
            # positional-alignment machinery handles cross-frame use).
            from pyspark.errors import AnalysisException, ParseException
            inner = str(self._colexpr)
            if inner.startswith("Column<'") and inner.endswith("'>"):
                inner = inner[len("Column<'"):-2]
            else:
                raise RuntimeError(
                    "PySpark Column repr format changed "
                    f"(got {inner[:60]!r}); Series.apply template mode "
                    "needs updating for this PySpark version")
            try:
                expr = F.expr(tmpl.format(self=f"({inner})"))
                # F.expr defers parsing until analysis on this PySpark;
                # select() analyzes eagerly (no job) so a bad repr
                # fails HERE, inside the try
                self._sdf.select(expr)
                return self._with_col(expr)
            except (ParseException, AnalysisException):
                tmp = "__apply_self__"
                sdf = self._sdf.withColumn(tmp, self._colexpr)
                expr = F.expr(tmpl.format(self=tmp))
                return Series._make(sdf, expr, self._index_cols,
                                    self.name, self._order)
        if getattr(func, "_baloo_column_fn", False):
            return func(self, **kwargs)
        # eager/NumPy mode -> Arrow-vectorized pandas UDF
        from ..functions._udf import scalar_pandas_udf
        ret_type = spark_type_of(new_dtype) if new_dtype is not None else self.spark_type
        _udf = scalar_pandas_udf(
            lambda s: np.asarray(func(s.to_numpy(), **kwargs)), ret_type)
        return self._with_col(_udf(self._colexpr))

    @property
    def str(self):
        from .strings import StringMethods
        return StringMethods(self)

    @property
    def dt(self):
        from .datetimes import DatetimeMethods
        return DatetimeMethods(self)

    @property
    def values(self) -> np.ndarray:
        sdf, alias = self._select()
        if self._order:
            order = [c for c, _ in self._order if c in sdf.columns]
            if order:
                sdf = sdf.orderBy(*order_exprs(self._order, sdf.columns))
        return np.asarray(sdf.toPandas()[alias].to_numpy())

    # ------------------------------------------------------------ evaluate

    def evaluate(self) -> "Series":
        """Force computation (one Spark action) and return a
        materialized-backed Series (reference: series.py:270-293)."""
        sdf, alias = self._select()
        sdf = sdf.persist()
        sdf.count()
        return Series._make(sdf, F.col(alias), self._index_cols, self.name,
                            self._order)

    def to_pandas(self):
        import pandas as pd
        alias = self.name or _VAL
        # project order cols too — they are not always index cols
        # (e.g. loc's position-tagged lookup join orders by request
        # position), and dropping them before the sort silently
        # yields shuffle order
        ordc = [c for c, _ in (self._order or [])
                if c in self._sdf.columns and c != alias
                and c not in self._index_cols]
        keep = [F.col(c) for c in
                list(dict.fromkeys(list(self._index_cols) + ordc))
                if c in self._sdf.columns]
        sdf = self._sdf.select(*keep, self._colexpr.alias(alias))
        if self._order:
            cols = order_exprs(self._order, sdf.columns)
            if cols:
                sdf = sdf.orderBy(*cols)
        sdf = sdf.drop(*ordc)
        pdf = sdf.toPandas()
        idx = [c for c in self._index_cols if c in pdf.columns]
        s = pdf.set_index(idx)[alias] if idx else pdf[alias]
        s.name = self.name
        if idx and idx[0] in (ORD_COL, _IDX) and len(idx) == 1:
            s.index.name = None
        return s


def _nan_if_none(v):
    """An undefined statistic (Spark's NULL) is NaN, as in pandas."""
    return float("nan") if v is None else v


def _norm_pos(i: int, n: int) -> int:
    """pandas negative position -> absolute (IndexError past front)."""
    if i < 0:
        i += n
        if i < 0:
            raise IndexError(f"iloc index {i - n} out of range")
    return i


class CallableSeries(Series):
    """A Series that is ALSO a no-arg callable returning itself —
    the compatibility shim behind the ``.dt`` accessor (r11):
    pandas spells calendar fields as PROPERTIES (``sr.dt.year``)
    while the engine historically spelled them as methods
    (``sr.dt.year()``); the accessor now returns this type so both
    spellings work."""

    def __call__(self):
        return self


class _SeriesILoc:
    """Positional lookup (core/indexing.py:9-54)."""

    def __init__(self, sr: Series):
        self._sr = sr

    def __getitem__(self, key):
        from ..plans.ordinal import POS_COL
        sr = self._sr
        if isinstance(key, (int, np.integer)):
            key = int(key)
            if key < 0:
                key = _norm_pos(key, len(sr))
            sdf, alias = sr._ordered_sdf()
            row = sdf.filter(F.col(POS_COL) == key).select(alias).first()
            if row is None:
                raise IndexError(f"iloc index {key} out of range")
            return row[alias]
        if isinstance(key, (slice, list, np.ndarray)):
            return sr._unwrap(sr._frame(_LIFT).iloc[key])
        raise TypeError(f"unsupported iloc key: {type(key)}")

    def __setitem__(self, key, value):
        """``sr.iloc[rows] = value`` / ``sr.iat[i] = value`` (r11):
        the positional write — lifts through the one-column frame's
        iloc face (ordinal conditions, no collect) and adopts the
        result in place (copy-on-write: no parent-frame
        write-back)."""
        sr = self._sr
        vname = sr.name or _VAL
        fr = sr._frame()
        fr.iloc[key, 0] = value
        sr._swap_in(fr[vname])


class _SeriesLoc:
    """Label indexer behind :attr:`Series.loc`."""

    def __init__(self, sr: "Series"):
        self._sr = sr

    def __getitem__(self, key):
        sr = self._sr
        if isinstance(key, slice):
            if key == slice(None):
                return sr
            raise TypeError("label slices are not supported in loc; "
                            "use iloc for positional slices")
        if isinstance(key, Series):
            # pandas .loc label-aligns a FOREIGN boolean Series and
            # reads a NON-boolean Series' values as requested
            # labels (same contract as the frame face — see
            # frame._loc_bool_series/_loc_label_series);
            # same-lineage boolean masks keep the cheap filter
            from pyspark.sql import types as T
            dt = key._sdf.select(
                key._colexpr.alias("__m__")).schema[0].dataType
            if (isinstance(dt, T.BooleanType)
                    and key._sdf is sr._sdf):
                return sr[key]
            from .frame import _loc_bool_series
            return sr._unwrap(_loc_bool_series(sr._frame(_LIFT), key))
        if isinstance(key, (list, tuple, np.ndarray)):
            # label lists (requested order, repeats duplicated,
            # KeyError on a miss) and boolean masks: the frame loc face
            return sr._unwrap(sr._frame(_LIFT).loc[list(key)])
        sentinel = object()
        got = sr.get(key, sentinel)
        if got is sentinel:
            raise KeyError(key)
        return got

    def __setitem__(self, key, value):
        """``sr.loc[rows] = value`` / ``sr.at[label] = value``
        (r11): lifts through the one-column frame and rides the
        frame loc-set projection — same gates (enlargement refused
        with the concat alternative named, null-safe label hits,
        boolean lists positional, foreign boolean Series
        label-aligned) — then adopts the result in place.
        Copy-on-write: the write never propagates to a frame this
        Series was selected from. Tuple keys (MultiIndex label
        writes) are refused — spell them on the frame face."""
        if isinstance(key, tuple):
            raise NotImplementedError(
                "MultiIndex label writes are not supported on the "
                "Series face (a tuple key is ambiguous with the "
                "frame's (rows, col) spelling); use "
                "df.loc[labels, col] = value on the owning frame")
        sr = self._sr
        vname = sr.name or _VAL
        fr = sr._frame()
        fr.loc[key, vname] = value
        sr._swap_in(fr[vname])

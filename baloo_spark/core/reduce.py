"""One table of reductions under every JVM reduce face.

The reference defines each aggregation once, as a Weld
``merger[T, op]`` carrying its own identity (``weld_aggs.py:32-78``),
and casts every aggregate to f64 (``weld_aggs.py:3``). Here each
reduction name is one row of :data:`_REDUCE`:

- the JVM builder over one (already cast) column;
- the result type (non-numeric ``min``/``max`` answer in their source
  type);
- the empty-input identity: pandas' ``min_count=0`` answer for an
  empty or all-NULL input, ``None`` where pandas answers NaN.

Source cast: numeric and boolean columns reduce as double (pandas
counts bools as 0/1); ``count``/``size``/``nunique`` and non-numeric
``min``/``max`` keep the source type. Every face -- the Series and
DataFrame scalars, groupby/pivot/cube/rollup/resample aggregates, the
grouped transform and the running/rolling windows -- builds its
aggregate through :func:`reduce_expr`, so one name means one thing
everywhere.

Still open: integer sums and products reduce in f64 like the
reference, where pandas keeps int64 with wraparound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _sem(v, o, ddof):
    n = o(F.count(v))
    return F.when(n > ddof, F.sqrt(o(F.var_pop(v)) / (n - ddof)))


def _skew(v, o, ddof):
    # Spark's skewness is the population g1; pandas applies the
    # Fisher-Pearson adjustment. n < 3 -> NULL, zero variance -> 0.
    n = o(F.count(v))
    g = o(F.skewness(v)) * F.sqrt(n * (n - 1)) / (n - 2)
    return F.when(n >= 3, F.coalesce(g, F.lit(0.0)))


def _kurt(v, o, ddof):
    # bias-corrected excess kurtosis from the population g2;
    # n < 4 -> NULL, zero variance -> 0
    n = o(F.count(v))
    g = ((n + 1) * o(F.kurtosis(v)) + 6) * (n - 1) / ((n - 2) * (n - 3))
    return F.when(n >= 4, F.coalesce(g, F.lit(0.0)))


# name -> (builder(v, over, ddof), result type, empty-input identity);
# ``over`` wraps each aggregate call (identity, or ``.over(window)``)
_REDUCE = {
    "min": (lambda v, o, d: o(F.min(v)), "double", None),
    "max": (lambda v, o, d: o(F.max(v)), "double", None),
    "sum": (lambda v, o, d: o(F.sum(v)), "double", 0.0),
    "prod": (lambda v, o, d: o(F.product(v)), "double", 1.0),
    "mean": (lambda v, o, d: o(F.avg(v)), "double", None),
    # sample variance / std (weld_aggs.py:113-182)
    "var": (lambda v, o, d: o(F.var_samp(v)), "double", None),
    "std": (lambda v, o, d: o(F.stddev_samp(v)), "double", None),
    "count": (lambda v, o, d: o(F.count(v)), "long", 0),
    "size": (lambda v, o, d: o(F.count(F.lit(1))), "long", 0),
    "nunique": (lambda v, o, d: o(F.count_distinct(v)), "long", 0),
    # exact interpolated median (ANSI percentile_cont(0.5), the same
    # definition as DuckDB median())
    "median": (lambda v, o, d: o(F.median(v)), "double", None),
    "sem": (_sem, "double", None),
    "skew": (_skew, "double", None),
    "kurt": (_kurt, "double", None),
}


def _row(name: str):
    try:
        return _REDUCE[name]
    except (KeyError, TypeError):
        raise ValueError(
            f"unsupported aggregation: {name!r}; supported: "
            f"{', '.join(_REDUCE)}") from None


def _keeps_type(name: str, dtype: T.DataType) -> bool:
    return (_row(name)[1] == "long"
            or not isinstance(dtype, (T.NumericType, T.BooleanType)))


def reduce_source(name: str, col: Column, dtype: T.DataType) -> Column:
    """``col`` as reduction ``name`` reads it: double for numeric and
    boolean sources, the source itself for the counting reductions and
    non-numeric columns."""
    return col if _keeps_type(name, dtype) else col.cast("double")


def identity(name: str):
    """The empty-input identity of ``name``; None where the reduction
    has none or ``name`` is not in the table."""
    return _REDUCE.get(name, (None, None, None))[2]


def with_identity(name: str, e: Column) -> Column:
    """``e`` with NULL read as the empty-input identity of ``name``
    (unchanged where it has none)."""
    ident = identity(name)
    return e if ident is None else F.coalesce(e, F.lit(ident))


def reduce_expr(name: str, col: Column, dtype: T.DataType, ddof: int = 1,
                over=None) -> Column:
    """The aggregate of reduction ``name`` over ``col`` (Spark type
    ``dtype``); ``over`` (a WindowSpec) evaluates it per window frame.
    ``ddof`` reaches ``sem`` only. An unknown name is one ValueError
    that lists the supported set."""
    build, out, _ = _row(name)
    keep = _keeps_type(name, dtype)
    o = (lambda e: e) if over is None else (lambda e: e.over(over))
    e = with_identity(name, build(col if keep else col.cast("double"), o,
                                  ddof))
    # non-numeric min/max answer in the source type
    return e if keep and out == "double" else e.cast(out)

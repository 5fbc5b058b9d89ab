"""DataFrame: ordered collection of named columns over one Spark DF.

Reference: ``baloo/core/frame.py:18`` — an OrderedDict[str -> Series]
sharing one index. Here a single lazy pyspark DataFrame holds index
column(s) + data columns; every operation composes onto the lazy DAG
and Catalyst plans the whole pipeline at evaluate time (SURVEY.md §3).

Unlike the reference (which re-evaluates the shared filter mask per
column, ``series.py:288-289`` TODO), one ``evaluate()`` here is ONE
Spark action over the whole frame.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.ordinal import ORD_COL, with_dense_ordinal
from .ordering import order_expr, order_exprs, rev_order_exprs
from .dtypes import np_dtype_of, spark_type_of
from .series import _AGG_FNS, _IDX, Series, _is_numeric

_RESERVED = {ORD_COL, "__pos__", "__pid__", "__mid__"}
# how DataFrame._shift_combine joins a column's current value with its
# shifted one
_SHIFT_COMBINE = {
    "shift": lambda cur, prev: prev,
    "diff": lambda cur, prev: cur.cast("double") - prev.cast("double"),
    "pct_change": lambda cur, prev: Series._ieee_div(
        cur.cast("double"), prev.cast("double")) - 1,
}


def _eval_to_sql(src: str, local_dict=None, columns=None,
                 bt_map=None) -> str:
    """Compile the DataFrame.eval python-expression subset to a Spark
    SQL expression string via the ast module (never string-hacking:
    quoted literals, chained comparisons and precedence all come out
    right). Python-semantics operators map explicitly: ``**`` ->
    power(), ``%`` -> sign-of-divisor mod, ``//`` -> floor().

    ``local_dict`` (the engine spelling of pandas' ``@var``) inlines
    driver scalars/lists as literals; a name that is BOTH a column
    and a local resolves to the column, pandas' plain-name order."""
    import ast as _ast
    local_dict = local_dict or {}
    columns = set(columns or ())
    bt_map = bt_map or {}

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\") \
                .replace("'", "\\'") + "'"
        if isinstance(v, (int, float, np.integer, np.floating)):
            return repr(float(v) if isinstance(v, np.floating)
                        else int(v) if isinstance(v, np.integer)
                        else v)
        raise ValueError(
            f"unsupported local_dict value type {type(v).__name__}; "
            "scalars and lists of scalars only")

    def is_local(n):
        return (isinstance(n, _ast.Name) and n.id in local_dict
                and n.id not in columns)

    _CMP = {_ast.Lt: "<", _ast.LtE: "<=", _ast.Gt: ">",
            _ast.GtE: ">=", _ast.Eq: "=", _ast.NotEq: "!="}
    _BIN = {_ast.Add: "+", _ast.Sub: "-", _ast.Mult: "*",
            _ast.Div: "/", _ast.BitAnd: "AND", _ast.BitOr: "OR"}

    def emit(n):
        if isinstance(n, _ast.BoolOp):
            op = " AND " if isinstance(n.op, _ast.And) else " OR "
            return "(" + op.join(emit(v) for v in n.values) + ")"
        if isinstance(n, _ast.UnaryOp):
            if isinstance(n.op, _ast.Not):
                return f"(NOT {emit(n.operand)})"
            if isinstance(n.op, _ast.USub):
                return f"(-{emit(n.operand)})"
            if isinstance(n.op, _ast.UAdd):
                return emit(n.operand)
            if isinstance(n.op, _ast.Invert):
                return f"(NOT {emit(n.operand)})"
            raise ValueError(f"unsupported unary op {n.op!r}")
        if isinstance(n, _ast.Compare):
            parts, left = [], n.left
            for op, right in zip(n.ops, n.comparators):
                if isinstance(op, (_ast.In, _ast.NotIn)):
                    if is_local(right) and isinstance(
                            local_dict[right.id], (list, tuple, set)):
                        items = ", ".join(
                            lit(v) for v in local_dict[right.id])
                    elif isinstance(right, (_ast.List, _ast.Tuple)):
                        items = ", ".join(emit(e) for e in right.elts)
                    else:
                        raise ValueError(
                            "in/not in need a literal list or a "
                            "local_dict list name")
                    neg = "NOT " if isinstance(op, _ast.NotIn) else ""
                    parts.append(f"({emit(left)} {neg}IN ({items}))")
                else:
                    sym = _CMP.get(type(op))
                    if sym is None:
                        raise ValueError(
                            f"unsupported comparison {op!r}")
                    parts.append(f"({emit(left)} {sym} {emit(right)})")
                left = right
            return "(" + " AND ".join(parts) + ")"                 if len(parts) > 1 else parts[0]
        if isinstance(n, _ast.BinOp):
            l, r = emit(n.left), emit(n.right)
            if isinstance(n.op, _ast.Pow):
                return f"power({l}, {r})"
            if isinstance(n.op, _ast.Mod):
                # python sign-of-divisor semantics
                return f"((({l} % {r}) + {r}) % {r})"
            if isinstance(n.op, _ast.FloorDiv):
                return f"floor({l} / {r})"
            sym = _BIN.get(type(n.op))
            if sym is None:
                raise ValueError(f"unsupported operator {n.op!r}")
            return f"({l} {sym} {r})"
        if isinstance(n, _ast.Name):
            if n.id in bt_map:
                return f"`{bt_map[n.id]}`"
            if is_local(n):
                v = local_dict[n.id]
                if isinstance(v, (list, tuple, set)):
                    raise ValueError(
                        f"local_dict list {n.id!r} is only valid on "
                        "the right of in/not in")
                return lit(v)
            return f"`{n.id}`"
        if isinstance(n, _ast.Constant):
            v = n.value
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, str):
                return "'" + v.replace("\\", "\\\\") \
                    .replace("'", "\\'") + "'"
            return repr(v)
        if isinstance(n, _ast.Call) and isinstance(n.func, _ast.Name):
            args = ", ".join(emit(a) for a in n.args)
            return f"{n.func.id}({args})"
        raise ValueError(
            f"unsupported eval syntax: {_ast.dump(n)[:80]}")

    return emit(_ast.parse(src, mode="eval").body)


def _per_column(row_df, cols, name) -> Series:
    """The one-row aggregate ``row_df`` (one column per name in
    ``cols``) as a Series named ``name`` indexed by column name."""
    pairs = ", ".join(f"'{c}', `{c}`" for c in cols)
    out = row_df.select(F.expr(
        f"stack({len(cols)}, {pairs}) as (`{_IDX}`, `__agg__`)"))
    return Series._make(out, F.col("__agg__"), [_IDX], name, None)


class DataFrame:
    """Columnar frame with pandas-flavored API, Spark execution.

    ``DataFrame(data, index)`` accepts ``{name: ndarray|list|Series}``
    or a pandas DataFrame (reference ctor: ``frame.py:127-146``).

    Everything below composes lazily onto one Spark plan; Catalyst
    fuses it the way Weld fused the reference's IR fragments.

    Examples (executable — the reference runs its docstrings in CI,
    frame.py:33-123; these run under tests/test_doctests.py):

    >>> import numpy as np
    >>> import baloo_spark as bl
    >>> df = bl.DataFrame({"a": np.arange(5, 8), "b": [1, 0, 2]})
    >>> df.to_pandas()
       a  b
    0  5  1
    1  6  0
    2  7  2
    >>> print(len(df))
    3
    >>> (df * 2).to_pandas()
        a  b
    0  10  2
    1  12  0
    2  14  4
    >>> df[df["b"] > 0].to_pandas()
       a  b
    0  5  1
    2  7  2
    >>> df.min().to_pandas()
    a    5.0
    b    0.0
    Name: min, dtype: float64
    >>> df.agg(["var", "count"]).to_pandas()
                   a    b
    Aggregation
    var          1.0  1.0
    count        3.0  3.0
    >>> df.rename({"a": "c"}).columns
    ['c', 'b']
    >>> df.drop("a").columns
    ['b']
    >>> df.set_index("b").to_pandas().sort_index()
       a
    b
    0  6
    1  5
    2  7
    >>> df.sort_values("b").to_pandas()
       a  b
    0  6  0
    1  5  1
    2  7  2
    >>> df2 = bl.DataFrame({"b": np.array([0, 2])})
    >>> df.merge(df2, on="b").to_pandas().sort_index()
       a
    b
    0  6
    2  7
    >>> df3 = bl.DataFrame({"a": [1.0, np.nan, 3.0]})
    >>> df3.dropna().to_pandas()
         a
    0  1.0
    2  3.0
    >>> df3.fillna({"a": 15.0}).to_pandas()
          a
    0   1.0
    1  15.0
    2   3.0
    >>> g = bl.DataFrame({"a": [0, 1, 1, 2], "b": [1, 2, 3, 4]})
    >>> g.groupby("a").sum().to_pandas().sort_index()
         b
    a
    0  1.0
    1  5.0
    2  4.0
    >>> g.groupby("a").transform("mean").to_pandas()
       a  b  b_mean
    0  0  1     1.0
    1  1  2     2.5
    2  1  3     2.5
    3  2  4     4.0
    >>> df.melt("b").to_pandas().sort_values(["b", "variable"]) \\
    ...     .reset_index(drop=True)
       b variable  value
    0  0        a      6
    1  1        a      5
    2  2        a      7
    """

    def __init__(self, data=None, index=None, *, _sdf=None, _index_cols=None,
                 _data_cols=None, _order=None):
        if _sdf is not None:
            self._sdf = _sdf
            self._index_cols = list(_index_cols or [])
            self._data_cols = list(_data_cols if _data_cols is not None else
                                   [c for c in _sdf.columns
                                    if c not in self._index_cols and c not in _RESERVED])
            self._order = _order
            # mutation lineage: maps id(sdf) -> sdf for every plan this
            # frame has owned. The VALUES are strong references on
            # purpose — a bare id-set lets CPython recycle a dead
            # plan's address for a brand-new unrelated DataFrame, and
            # `id(x) in lineage` then mis-resolves foreign column
            # expressions (observed: a rolling helper plan allocated
            # at a dead frame sdf's address made __setitem__ take the
            # withColumn branch and fail analysis on __roll__).
            self._lineage = {id(_sdf): _sdf}
            return
        import pandas as pd

        from ..session import get_session
        spark = get_session()
        if isinstance(data, pd.DataFrame):
            if isinstance(data.index, pd.MultiIndex):
                names = [n if n is not None else f"level_{i}"
                         for i, n in enumerate(data.index.names)]
                pdf = data.copy()
                pdf.index = pdf.index.set_names(names)
                pdf = pdf.reset_index()
                index_cols = names
            else:
                pdf = data.reset_index() if data.index.name else data.copy()
                index_cols = [data.index.name] if data.index.name else []
        else:
            from .utils import check_supported_dtype, check_type
            check_type(data, dict)
            pdf = pd.DataFrame({k: np.asarray(getattr(v, "values", v))
                                for k, v in (data or {}).items()})
            for c in pdf.columns:
                check_type(c, str)
                check_supported_dtype(pdf[c].to_numpy().dtype)
            index_cols = []
        if index is not None:
            from .indexes import MultiIndex
            if isinstance(index, MultiIndex):
                # reference multi.py:44-59 / conftest.py:98-103: each
                # level becomes an ordinary (Spark) column of the frame
                names = index._level_names()
                for n, ix in zip(names, index.values):
                    pdf[n] = ix.values
                index_cols = names
            else:
                idx_arr = np.asarray(getattr(index, "values", index))
                name = getattr(index, "name", None) or _IDX
                pdf[name] = idx_arr
                index_cols = [name]
        from .utils import spark_df_from_pandas
        sdf = spark_df_from_pandas(spark, pdf)
        sdf = with_dense_ordinal(sdf)
        self._sdf = sdf
        self._index_cols = index_cols or [ORD_COL]
        self._data_cols = [c for c in pdf.columns if c not in index_cols]
        self._order = [(ORD_COL, True)]
        self._lineage = {id(sdf): sdf}  # see the ctor note: strong refs

    # ---------------------------------------------------------------- infra

    @classmethod
    def _make(cls, sdf: SparkDF, index_cols, data_cols, order=None) -> "DataFrame":
        return cls(_sdf=sdf, _index_cols=index_cols, _data_cols=data_cols,
                   _order=order)

    @classmethod
    def from_spark(cls, sdf: SparkDF, index_cols=None) -> "DataFrame":
        """Wrap an existing Spark DataFrame (zero-copy, stays lazy)."""
        index_cols = list(index_cols or [])
        data = [c for c in sdf.columns if c not in index_cols and c not in _RESERVED]
        return cls._make(sdf, index_cols, data, None)

    @classmethod
    def from_pandas(cls, pdf) -> "DataFrame":
        return cls(pdf)

    def _replace_sdf(self, sdf, data_cols=None, index_cols=None, order="keep"):
        return DataFrame._make(
            sdf,
            self._index_cols if index_cols is None else index_cols,
            self._data_cols if data_cols is None else data_cols,
            self._order if order == "keep" else order,
        )

    @property
    def columns(self) -> list:
        return list(self._data_cols)

    @property
    def dtypes(self) -> dict:
        sch = {f.name: f.dataType for f in self._sdf.schema.fields}
        return {c: np_dtype_of(sch[c]) for c in self._data_cols}

    @property
    def index_names(self) -> list:
        return [None if c in (ORD_COL, _IDX) else c for c in self._index_cols]

    @property
    def index(self):
        """Index / MultiIndex / RangeIndex view of the frame's index
        columns (reference frame.py:125-137). Values are fetched
        LAZILY — reading ``.values`` on the result runs one select of
        just the index column(s); on a huge frame that is a driver
        collect, so treat it as an explicit materialization boundary
        (same as ``to_pandas``)."""
        from .indexes import Index, MultiIndex, RangeIndex

        def fetch(col):
            def _f():
                sdf = self._ordered_sdf() if self._order else self._sdf
                from ..plans.ordinal import POS_COL
                sdf = sdf.drop(POS_COL) if POS_COL in sdf.columns else sdf
                return np.asarray(
                    [r[0] for r in sdf.select(col).collect()])
            return _f

        from .series import Series

        def backing(col, name):
            # lazy Series over the frame's own plan: index ops
            # (filters, arithmetic, astype) compose Columns without
            # collecting anything driver-side. Indexed by ordinal, not
            # by itself, so the projection never self-collides.
            idx = [ORD_COL] if ORD_COL in self._sdf.columns else []
            return Series._make(self._sdf, F.col(col), idx, name,
                                self._order)

        cols = self._index_cols
        if not cols:
            # implicit positional index (read_parquet/from_spark frames
            # carry no index column for scale): a RangeIndex whose
            # values realize through the dense-ordinal plan on demand
            from ..plans.ordinal import with_dense_ordinal
            ri = RangeIndex(getattr(self, "_len_cache", None))
            ri._series = Series._make(with_dense_ordinal(self._sdf),
                                      F.col(ORD_COL), [ORD_COL], None,
                                      self._order)
            return ri
        if cols == [ORD_COL]:
            ri = RangeIndex(getattr(self, "_len_cache", None))
            ri._fetch = fetch(ORD_COL)
            ri._series = backing(ORD_COL, None)
            return ri
        if len(cols) == 1:
            name = None if cols[0] == _IDX else cols[0]
            ix = Index(name=name)
            ix._fetch = fetch(cols[0])
            ix._series = backing(cols[0], name)
            return ix
        levels = []
        for c in cols:
            ix = Index(name=c)
            ix._fetch = fetch(c)
            ix._series = backing(c, c)
            levels.append(ix)
        return MultiIndex(levels, [ix.name for ix in levels])

    def to_spark(self, include_index: bool | None = None) -> SparkDF:
        """Underlying Spark DataFrame. By default synthetic (range)
        index columns are omitted; named indexes are included."""
        idx = []
        if include_index is None:
            idx = [c for c in self._index_cols if c not in (ORD_COL, _IDX)]
        elif include_index:
            idx = [c for c in self._index_cols if c in self._sdf.columns]
        cols = idx + [c for c in self._data_cols if c not in idx]
        # no forced sort here: logical order is applied only where it
        # is observable (head/tail/slice/to_pandas), not on every export
        return self._sdf.select(*cols)

    def __len__(self) -> int:
        """Eager length, cached once known (the reference tracks known
        lengths to skip lazy len, series.py:98-99, frame.py:1214-1239)."""
        if getattr(self, "_len_cache", None) is None:
            self._len_cache = self._sdf.count()
            # best-effort row-count hint for budget-gated faces
            # (e.g. the time-roll driver face skips its bounded
            # probe when the hint says over-budget)
            try:
                self._sdf._baloo_nrows = self._len_cache
            except Exception:
                pass
        return self._len_cache

    @property
    def shape(self) -> tuple:
        """(rows, cols) — eager on rows (one count job, cached by
        ``__len__``)."""
        return (len(self), len(self._data_cols))

    @property
    def size(self) -> int:
        return len(self) * len(self._data_cols)

    @property
    def ndim(self) -> int:
        return 2

    @property
    def empty(self) -> bool:
        """True when the frame has no rows — probed with ``limit(1)``
        so the scan short-circuits at the first row (never a full
        count)."""
        if getattr(self, "_len_cache", None) is not None:
            return self._len_cache == 0
        return self._sdf.limit(1).count() == 0

    def to_numpy(self) -> np.ndarray:
        return self.values

    def to_dict(self, orient: str = "dict"):
        """Driver-side export via to_pandas (an explicit
        materialization boundary, like to_pandas itself)."""
        return self.to_pandas().to_dict(orient)

    def items(self):
        """Iterate (column name, Series) pairs — lazy, no job."""
        for c in self._data_cols:
            yield c, self[c]

    def isna(self) -> "DataFrame":
        """Elementwise null test over every data column (pandas
        ``DataFrame.isna``) — one projection."""
        sel = [(F.col(c).isNull().alias(c)
                if c in self._data_cols else F.col(c))
               for c in self._sdf.columns]
        return self._replace_sdf(self._sdf.select(*sel))

    def notna(self) -> "DataFrame":
        sel = [(F.col(c).isNotNull().alias(c)
                if c in self._data_cols else F.col(c))
               for c in self._sdf.columns]
        return self._replace_sdf(self._sdf.select(*sel))

    isnull = isna
    notnull = notna

    def mode(self) -> "DataFrame":
        """Per-column most frequent value(s) (pandas
        ``DataFrame.mode``): ONE stack -> hash-agg shuffle counts
        every (column, value) pair, the per-column max count filters
        JVM-side, and only the winning values (driver-sized by
        definition — ties are rare) collect to assemble the padded
        pandas-shaped result."""
        from pyspark.sql import Window, types as T
        cols = self._data_cols
        # the stack needs ONE value type per job, but a shared cast
        # across a MIXED frame would stringify numeric modes — group
        # columns by dtype class (numeric -> double, rest -> string)
        # and run one tiny winners job per group, restoring each
        # column's source dtype when assembling
        num_cols = [c for c in cols
                    if _is_numeric(self._sdf.schema[c].dataType)]
        str_cols = [c for c in cols if c not in num_cols]
        # integral columns get their OWN bigint group: a double cast
        # silently corrupts int64 values above 2^53 (both the counted
        # value and the assembled winner)
        int_cols = [c for c in num_cols
                    if isinstance(self._sdf.schema[c].dataType,
                                  T.IntegralType)]
        frac_cols = [c for c in num_cols if c not in int_cols]
        by_col: dict[str, list] = {c: [] for c in cols}
        for group, typ in ((int_cols, "bigint"),
                           (frac_cols, "double"),
                           (str_cols, "string")):
            if not group:
                continue
            arr = F.array(*[F.struct(F.lit(c).alias("c"),
                                     F.col(c).cast(typ).alias("v"))
                            for c in group])
            pairs = (self._sdf.select(F.explode(arr).alias("s"))
                     .select(F.col("s.c").alias("c"),
                             F.col("s.v").alias("v"))
                     .where(F.col("v").isNotNull())
                     .groupBy("c", "v").agg(F.count(F.lit(1)).alias("n")))
            w = Window.partitionBy("c")
            top = (pairs.withColumn("__mx__", F.max("n").over(w))
                   .where(F.col("n") == F.col("__mx__"))
                   .select("c", "v").collect())
            for r in top:
                by_col[r["c"]].append(r["v"])
        for c in by_col:
            by_col[c].sort()
        height = max((len(v) for v in by_col.values()), default=0)
        import numpy as np
        import pandas as pd
        out = {}
        for c in cols:
            vals = by_col[c] + [None] * (height - len(by_col[c]))
            st = self._sdf.schema[c].dataType
            if c in num_cols:
                if (isinstance(st, T.IntegralType)
                        and len(by_col[c]) == height):
                    out[c] = np.array(vals, dtype=np.int64)
                else:
                    out[c] = np.array(
                        [np.nan if v is None else v for v in vals],
                        dtype=np.float64)
            elif isinstance(st, T.BooleanType):
                out[c] = np.array([None if v is None else v == "true"
                                   for v in vals], dtype=object)
            elif isinstance(st, (T.DateType, T.TimestampType,
                                 T.TimestampNTZType)):
                out[c] = pd.to_datetime(pd.Series(vals)).to_numpy()
            else:
                out[c] = pd.Series(vals, dtype=object).to_numpy()
        return DataFrame(out)

    def add_prefix(self, prefix: str) -> "DataFrame":
        return self.rename(columns={c: f"{prefix}{c}"
                                    for c in self._data_cols})

    def add_suffix(self, suffix: str) -> "DataFrame":
        return self.rename(columns={c: f"{c}{suffix}"
                                    for c in self._data_cols})

    def iterrows(self):
        """Row iterator (pandas ``iterrows``) — an explicit
        DRIVER-SIDE materialization boundary like ``to_pandas``;
        iterating a distributed frame row by row is the anti-pattern
        every operator here exists to avoid. Use it for driver-sized
        results only."""
        return self.to_pandas().iterrows()

    def itertuples(self, index: bool = True, name: str = "Baloo"):
        """Named-tuple row iterator — same driver-side boundary as
        ``iterrows``."""
        return self.to_pandas().itertuples(index=index, name=name)

    def squeeze(self):
        """One-column frame -> that column as a Series (pandas
        squeeze along columns; row squeezing would need an eager
        count, call ``.iloc`` explicitly for that)."""
        if len(self._data_cols) == 1:
            return self[self._data_cols[0]]
        return self

    def equals(self, other: "DataFrame") -> bool:
        """Positional, null-safe frame equality (pandas ``equals``:
        same shape, same values in the same order, NaN equal to NaN).
        Distributed: both sides get a dense ordinal, full-outer join
        on it, every column compared with null-safe equality — one
        count of mismatches, no driver collect of data rows."""
        if self._data_cols != other._data_cols:
            return False
        la = with_dense_ordinal(
            self._to_ordered_sdf().select(*self._data_cols),
            name="__eq__")
        lb = with_dense_ordinal(
            other._to_ordered_sdf().select(*other._data_cols),
            name="__eq__")
        lb = lb.select("__eq__",
                       *[F.col(c).alias(f"__o_{c}__")
                         for c in other._data_cols])
        j = la.join(lb, "__eq__", "full_outer")
        bad = F.lit(False)
        for c in self._data_cols:
            bad = bad | ~F.col(c).eqNullSafe(F.col(f"__o_{c}__"))
        return j.filter(bad).limit(1).count() == 0

    def _to_ordered_sdf(self):
        sdf = self._sdf
        if self._order:
            ob = order_exprs(self._order, sdf.columns)
            if ob:
                sdf = sdf.orderBy(*ob)
        return sdf

    def reindex(self, index=None, columns=None,
                fill_value=None) -> "DataFrame":
        """Conform to new labels (pandas ``reindex``): the requested
        ``index`` labels (a driver-provided, hence driver-sized list)
        become a tiny position-tagged table joined against the frame —
        missing labels yield NULL rows, duplicates in the frame fan
        out like pandas. The big side streams through one keyed join
        (labels are broadcast-sized; AQE picks the strategy).
        ``fill_value`` fills only the cells INTRODUCED by reindexing
        (a join-side marker distinguishes them from pre-existing
        NULLs, pandas semantics). ``columns=`` adds/selects columns,
        missing ones as NULL (or ``fill_value``) literals — a pure
        projection."""
        out_sdf, data = self._sdf, list(self._data_cols)
        idx_cols = list(self._index_cols)
        order = self._order
        if columns is not None:
            fv = F.lit(fill_value) if fill_value is not None else F.lit(None)
            keep = [c for c in out_sdf.columns if c not in data]
            out_sdf = out_sdf.select(
                *keep, *[(F.col(c) if c in data else fv).alias(c)
                         for c in columns])
            data = list(columns)
        if index is not None:
            idx = [c for c in idx_cols
                   if c in out_sdf.columns and c != ORD_COL]
            if len(idx) != 1:
                raise ValueError(
                    "reindex(index=...) needs exactly one "
                    f"materialized index column (got {idx!r}); "
                    "set_index first")
            k = idx[0]
            from ..plans.ordinal import local_table
            ktype = out_sdf.schema[k].dataType
            lab = local_table(
                out_sdf.sparkSession,
                [(int(i), l) for i, l in enumerate(index)],
                T.StructType([T.StructField("__rpos__", T.LongType()),
                              T.StructField(k, ktype)]))
            marked = out_sdf.select(
                F.col(k), *[F.col(c) for c in data],
                F.lit(1).alias("__hit__"))
            j = lab.join(marked, k, "left")
            if fill_value is not None:
                for c in data:
                    j = j.withColumn(
                        c, F.when(F.col("__hit__").isNull(),
                                  F.lit(fill_value))
                        .otherwise(F.col(c)))
            out_sdf = j.drop("__hit__")
            idx_cols, order = [k], [("__rpos__", True)]
        return DataFrame._make(out_sdf, idx_cols, data, order)

    def interpolate(self, method: str = "linear",
                    limit: int | None = None,
                    limit_direction: str | None = None) -> "DataFrame":
        """Linear interpolation of every numeric column (pandas
        ``DataFrame.interpolate``) — ALL columns share ONE fused
        layout pass (plans/ordinal.py:with_interp_neighbors_multi):
        one range layout, one Window stage, one per-partition stats
        collect, one broadcast join, regardless of column count.
        Each missing position gets the value on the line between its
        nearest non-null neighbors; a missing edge extends its one
        neighbor, gated by ``limit_direction`` like pandas (default
        'forward'); ``limit`` bounds how many consecutive NULLs fill,
        counted from the donor side per direction."""
        return self._interpolate(self._numeric_cols(), method, limit,
                                 limit_direction)

    def _interpolate(self, cols, method, limit, limit_direction):
        if method != "linear":
            raise ValueError(
                f"only method='linear' is supported, got {method!r}")
        limit_direction = limit_direction or "forward"
        if limit_direction not in ("forward", "backward", "both"):
            raise ValueError(
                "limit_direction must be 'forward', 'backward' or "
                f"'both', got {limit_direction!r}")
        if limit is not None and limit < 1:
            raise ValueError("limit must be >= 1")
        if not cols:
            return self
        from ..plans.ordinal import with_interp_neighbors_multi
        pairs = [(c, a) for c, a in (self._order or [])
                 if c in self._sdf.columns]
        tags = {str(i): F.col(c).cast("double")
                for i, c in enumerate(cols)}
        sdf = with_interp_neighbors_multi(
            self._sdf, tags, order_exprs(pairs) or None)
        fp = F.col("__ip__")
        res = {}
        for i, c in enumerate(cols):
            t = str(i)
            v = F.col(f"__v_{t}__")
            p, n = F.col(f"__iprev_{t}__"), F.col(f"__inext_{t}__")
            interp = (p["v"] + (n["v"] - p["v"]) * (fp - p["p"])
                      / (n["p"] - p["p"]))
            cand = F.when(p.isNotNull() & n.isNotNull(), interp) \
                .otherwise(F.coalesce(p["v"], n["v"]))
            fwd = (p.isNotNull() if limit is None
                   else p.isNotNull() & ((fp - p["p"]) <= limit))
            bwd = (n.isNotNull() if limit is None
                   else n.isNotNull() & ((n["p"] - fp) <= limit))
            elig = {"forward": fwd, "backward": bwd,
                    "both": fwd | bwd}[limit_direction]
            res[c] = F.when(v.isNotNull(), v).otherwise(F.when(elig, cand))
        return self._replace_sdf(sdf.select(*[
            res[c].alias(c) if c in res else F.col(c)
            for c in self._sdf.columns]))

    def corrwith(self, other: "DataFrame") -> Series:
        """Column-wise Pearson correlation with ``other``'s matching
        columns (pandas ``corrwith`` on aligned frames): positional
        alignment via dense ordinals, then ONE aggregate job computes
        every shared numeric column's F.corr. Result is a Series
        indexed by column name."""
        shared = [c for c in self._numeric_cols()
                  if c in other._data_cols]
        if not shared:
            raise ValueError("corrwith found no shared numeric columns")
        la = with_dense_ordinal(
            self._to_ordered_sdf().select(*shared), name="__cw__")
        lb = with_dense_ordinal(
            other._to_ordered_sdf().select(*shared), name="__cw__")
        lb = lb.select("__cw__", *[F.col(c).alias(f"__o_{c}__")
                                   for c in shared])
        j = la.join(lb, "__cw__", "inner")
        row = j.agg(*[F.corr(F.col(c).cast("double"),
                             F.col(f"__o_{c}__").cast("double"))
                      .alias(c) for c in shared]).first()
        import pandas as pd
        return DataFrame(
            {"column": np.array(shared, dtype=object),
             "corr": np.array([row[c] if row[c] is not None else np.nan
                               for c in shared])}) \
            .set_index("column")["corr"]

    def compare(self, other: "DataFrame") -> "DataFrame":
        """Differing cells between two same-shaped frames (pandas
        ``compare`` flavor, flattened): positional full-outer join on
        dense ordinals, keep rows where any shared column differs
        null-safely, output ``<col>_self`` / ``<col>_other`` pairs
        plus the row position. Distributed end to end."""
        shared = [c for c in self._data_cols if c in other._data_cols]
        if not shared:
            raise ValueError("compare found no shared columns")
        la = with_dense_ordinal(
            self._to_ordered_sdf().select(*shared), name="__cmp__")
        lb = with_dense_ordinal(
            other._to_ordered_sdf().select(*shared), name="__cmp__")
        lb = lb.select("__cmp__", *[F.col(c).alias(f"__o_{c}__")
                                    for c in shared])
        j = la.join(lb, "__cmp__", "full_outer")
        diff = F.lit(False)
        for c in shared:
            diff = diff | ~F.col(c).eqNullSafe(F.col(f"__o_{c}__"))
        out = j.filter(diff).select(
            F.col("__cmp__").alias("position"),
            *[e for c in shared
              for e in (F.col(c).alias(f"{c}_self"),
                        F.col(f"__o_{c}__").alias(f"{c}_other"))])
        data = [c for c in out.columns if c != "position"]
        return DataFrame._make(out, ["position"], data,
                               [("position", True)])

    def info(self) -> str:
        """Schema + column summary string (pandas ``info`` flavor;
        returns rather than prints). Row count only if already
        cached — info should stay a no-job call."""
        n = getattr(self, "_len_cache", None)
        lines = [f"baloo_spark.DataFrame: {len(self._data_cols)} "
                 f"columns" + (f", {n} rows" if n is not None
                               else " (rows not counted; len(df) to "
                               "materialize)")]
        for c in self._data_cols:
            lines.append(
                f"  {c}  {self._sdf.schema[c].dataType.simpleString()}")
        return "\n".join(lines)

    def cache(self) -> "DataFrame":
        """Persist the frame's plan output (reference Cache singleton
        analogue, weld/cache.py — but scoped and explicit)."""
        self._sdf = self._sdf.cache()
        return self

    def unpersist(self) -> "DataFrame":
        """Release a :meth:`cache` entry (frees executor memory;
        no-op if not cached)."""
        self._sdf = self._sdf.unpersist()
        return self

    def repartition(self, num_partitions: int | None = None,
                    *cols: str) -> "DataFrame":
        """Layout knob for cluster runs: hash-repartition by columns
        (co-locates later joins/aggs on those keys, one shuffle now
        instead of one per downstream op) and/or set the partition
        count. Row values and all semantics are unchanged."""
        if num_partitions is not None and cols:
            out = self._sdf.repartition(num_partitions,
                                        *[F.col(c) for c in cols])
        elif cols:
            out = self._sdf.repartition(*[F.col(c) for c in cols])
        elif num_partitions is not None:
            out = self._sdf.repartition(num_partitions)
        else:
            raise ValueError("repartition needs a partition count "
                             "and/or columns")
        return DataFrame._make(out, self._index_cols, self._data_cols,
                               self._order)

    def coalesce(self, num_partitions: int) -> "DataFrame":
        """Shrink the partition count WITHOUT a shuffle (narrow merge
        of co-located partitions) — the pre-write knob against
        small-file explosions."""
        return DataFrame._make(self._sdf.coalesce(num_partitions),
                               self._index_cols, self._data_cols,
                               self._order)

    def __repr__(self):
        return (f"DataFrame(columns={self._data_cols}, "
                f"index={self.index_names})")

    def __str__(self):
        return self.to_pandas().__str__()

    # ----------------------------------------------------------- selection

    def _check_cols(self, cols):
        for c in cols:
            if c not in self._data_cols:
                raise KeyError(c)  # parity: frame.py:357-358

    def __getitem__(self, key):
        from .indexes import Index
        if isinstance(key, Index):
            # index-derived masks (df[df.index.isin(...)]) unwrap to
            # their lazy backing Series and ride the mask path
            key = key._backing
        if isinstance(key, str):
            self._check_cols([key])
            return Series._make(self._sdf, F.col(key), self._index_cols, key,
                                self._order)
        if isinstance(key, list):
            self._check_cols(key)
            return self._replace_sdf(self._sdf, data_cols=list(key))
        if isinstance(key, Series):
            # accept masks built from any frame in this frame's mutation
            # lineage: withColumn keeps prior columns, so the mask's
            # named references still resolve on the current plan
            if key._sdf is self._sdf or id(key._sdf) in self._lineage:
                return self._replace_sdf(self._sdf.filter(key._colexpr))
            # cross-frame mask: positional semantics (reference accepts
            # any equal-length mask, weld_ops.py:97-133) — semi-join the
            # mask's True positions against fresh dense positions here
            from ..plans.ordinal import POS_COL
            left = self._ordered_sdf()
            mask_sdf, malias = key._ordered_sdf("__mask__")
            keep = mask_sdf.filter(F.col(malias)).select(POS_COL)
            sdf = left.join(keep, POS_COL, "left_semi").drop(POS_COL)
            return self._replace_sdf(sdf)
        if isinstance(key, slice):
            return self._slice(key)
        raise TypeError(f"unsupported key type: {type(key)}")

    def __getattr__(self, name):
        if not name.startswith("_") and name in self.__dict__.get("_data_cols", []):
            return self[name]
        raise AttributeError(name)

    def filter(self, mask: Series) -> "DataFrame":
        return self[mask]

    def query(self, expr: str) -> "DataFrame":
        """Filter by a SQL boolean expression over column names —
        the string-predicate counterpart of mask filtering (pushdown
        still applies; Catalyst parses the expression)."""
        return self._replace_sdf(self._sdf.filter(F.expr(expr)))

    def __setitem__(self, key: str, value):
        """Add/replace a column (frame.py:382-429). A Series from
        another frame is ALIGNED by index via left join — missing keys
        become NULL (reference: sentinel via weld_align,
        weld_joins.py:289-344)."""
        if isinstance(value, Series):
            if value._sdf is self._sdf or id(value._sdf) in self._lineage:
                sdf = self._sdf.withColumn(key, value._colexpr)
            elif (getattr(value, "_rowpar_src", None) is self._sdf
                  and all(c in value._sdf.columns
                          for c in self._sdf.columns)):
                # r11 adopt fast path: the Series is a ROW-PRESERVING
                # derivation of THIS frame's current sdf that kept
                # every frame column (shift/diff/cumsum/rolling/
                # expanding/ewm op faces tag themselves via
                # _rowpar_src). Each output row carries the op value
                # computed FOR that row, so assignment is a plain
                # projection — no dense-ordinal layout, no positional
                # join, zero eager jobs (the general path below pays
                # ~12 layout/carry jobs per assignment, measured at
                # sf0.1).
                sel = [value._colexpr.alias(key) if c == key
                       else F.col(c) for c in self._sdf.columns]
                if key not in self._sdf.columns:
                    sel.append(value._colexpr.alias(key))
                sdf = value._sdf.select(*sel)
            else:
                right, alias = value._select("__new_val__")
                on = [c for c in self._index_cols if c in right.columns]
                if on:
                    right = right.select(*on, "__new_val__") \
                        .dropDuplicates(on)
                    sdf = (self._sdf.join(right, on, "left")
                           .withColumnRenamed("__new_val__", key))
                else:
                    # no shared index (scan-backed frames are
                    # indexless): POSITIONAL alignment on fresh dense
                    # positions of both sides — default-RangeIndex
                    # semantics, the same machinery as Series._lift
                    from ..plans.ordinal import POS_COL
                    sdf_l = self._ordered_sdf()
                    right_o, rname = value._ordered_sdf("__new_val__")
                    right_o = right_o.select(POS_COL, rname)
                    sdf = (sdf_l.join(right_o, POS_COL, "left")
                           .drop(POS_COL)
                           .withColumnRenamed(rname, key))
        elif isinstance(value, (np.ndarray, list)):
            # positional alignment on FRESH positions (a filtered frame's
            # ORD_COL labels are sparse; the array is dense 0..n-1)
            from ..plans.ordinal import POS_COL
            aligned = Series(np.asarray(value))
            sdf_l = self._ordered_sdf()
            right, _ = aligned._select("__new_val__")
            right = right.select(F.col(ORD_COL).alias(POS_COL), "__new_val__")
            sdf = (sdf_l.join(right, POS_COL, "left").drop(POS_COL)
                   .withColumnRenamed("__new_val__", key))
        else:
            from .utils import nan_safe_lit
            sdf = self._sdf.withColumn(key, nan_safe_lit(value))
        data_cols = self._data_cols + ([key] if key not in self._data_cols else [])
        self._sdf = sdf
        self._data_cols = data_cols
        self._lineage[id(sdf)] = sdf

    # ----------------------------------------------------- arithmetic (all cols)

    def _numeric_cols(self, include_bool: bool = False):
        """``include_bool`` admits boolean columns (pandas frame
        AGGREGATIONS count bools as 0/1; rolling/ewm/interpolate
        faces keep excluding them like pandas does)."""
        sch = {f.name: f.dataType for f in self._sdf.schema.fields}
        return [c for c in self._data_cols
                if _is_numeric(sch[c])
                or (include_bool and sch[c].typeName() == "boolean")]

    def _elementwise(self, other, op):
        """Apply op to every numeric column, dropping string columns
        (reference `_drop_str_columns`, frame.py:1309-1323). NaN
        scalars become typed NULLs (the codec, r11)."""
        from .utils import nan_safe_lit
        num = self._numeric_cols()
        sdf = self._sdf
        lit = nan_safe_lit(other)
        for c in num:
            sdf = sdf.withColumn(c, op(F.col(c), lit))
        return self._replace_sdf(sdf, data_cols=num)

    def __add__(self, o): return self._elementwise(o, lambda a, b: a + b)
    def __sub__(self, o): return self._elementwise(o, lambda a, b: a - b)
    def __mul__(self, o): return self._elementwise(o, lambda a, b: a * b)
    def __truediv__(self, o):
        return self._elementwise(o, lambda a, b: Series._ieee_div(a, b))
    def __pow__(self, o): return self._elementwise(o, lambda a, b: F.pow(a, b))

    def __mod__(self, o):
        from .series import Series
        return self._elementwise(o, lambda a, b: Series._py_mod(a, b))

    # pandas named-op aliases (frame level; fill_value is a Series-op
    # concern — frames align positionally here)
    add = __add__
    sub = subtract = __sub__
    mul = multiply = __mul__
    div = divide = truediv = __truediv__
    pow = __pow__
    mod = __mod__

    # reverse spellings (scalar op frame): same single projection
    radd = __add__
    rmul = __mul__

    def rsub(self, o):
        return self._elementwise(o, lambda a, b: b - a)

    def rdiv(self, o):
        from .series import Series
        return self._elementwise(
            o, lambda a, b: Series._ieee_div(b, a))

    rtruediv = rdiv

    def rpow(self, o):
        return self._elementwise(o, lambda a, b: F.pow(b, a))

    def rmod(self, o):
        from .series import Series
        return self._elementwise(
            o, lambda a, b: Series._py_mod(b, a))

    def _floor_elementwise(self, o, reverse: bool):
        """Column-wise floordiv with the Series dtype/zero rules —
        dtype-aware per column, still one projection."""
        from .series import Series
        num = self._numeric_cols()
        sdf = self._sdf
        sch = {f.name: f.dataType for f in sdf.schema.fields}
        from pyspark.sql import types as T
        for c in num:
            is_f = isinstance(sch[c], (T.DoubleType, T.FloatType)) \
                or isinstance(o, float)
            a, b = F.col(c), F.lit(o)
            n_, d_ = (b, a) if reverse else (a, b)
            x = F.floor(n_ / d_)
            if is_f:
                x = F.when(d_ == 0, Series._ieee_div(n_, d_)) \
                    .otherwise(x.cast("double"))
            sdf = sdf.withColumn(c, x)
        return self._replace_sdf(sdf, data_cols=num)

    def __floordiv__(self, o):
        return self._floor_elementwise(o, False)

    floordiv = __floordiv__

    def __rfloordiv__(self, o):
        return self._floor_elementwise(o, True)

    rfloordiv = __rfloordiv__

    def __getattr__(self, name):
        """pandas-style attribute access for columns (``df.a`` ==
        ``df["a"]``). Only reached when normal lookup fails; internal
        names and non-columns raise AttributeError so pickling and
        hasattr probes behave."""
        if name.startswith("_"):
            raise AttributeError(name)
        cols = self.__dict__.get("_data_cols") or []
        if name in cols:
            return self[name]
        raise AttributeError(
            f"'DataFrame' object has no attribute {name!r}")

    def _compare(self, o, op):
        return self._elementwise(o, op)

    def eq(self, o): return self._compare(o, lambda a, b: a == b)
    def ne(self, o): return self._compare(o, lambda a, b: a != b)
    def lt(self, o): return self._compare(o, lambda a, b: a < b)
    def le(self, o): return self._compare(o, lambda a, b: a <= b)
    def gt(self, o): return self._compare(o, lambda a, b: a > b)
    def ge(self, o): return self._compare(o, lambda a, b: a >= b)

    def copy(self, deep: bool = True) -> "DataFrame":
        """Frames are immutable lazy plans — copy is a new wrapper
        over the same plan (both deep flavors behave identically)."""
        return DataFrame._make(self._sdf, list(self._index_cols),
                               list(self._data_cols), self._order)

    def keys(self) -> list:
        return list(self._data_cols)

    def get(self, key, default=None):
        """Column lookup with a default (pandas ``get``)."""
        try:
            return self[key]
        except KeyError:
            return default

    def take(self, indices) -> "DataFrame":
        """Positional row gather (pandas ``take``) — the iloc list
        machinery (broadcast position join, no collect)."""
        return self.iloc[list(indices)]

    def aggregate(self, *a, **k):
        return self.agg(*a, **k)

    # --------------------------------------------- elementwise parity ops

    def _unary_numeric(self, op) -> "DataFrame":
        """Shared face for abs/clip/cum*: numeric columns transformed
        in one projection; string columns dropped (the frame-
        arithmetic convention, reference frame.py:1309-1323)."""
        num = self._numeric_cols()
        sdf = self._sdf
        for c in num:
            sdf = sdf.withColumn(c, op(F.col(c)))
        return self._replace_sdf(sdf, data_cols=num)

    def abs(self) -> "DataFrame":
        """Elementwise absolute value (pandas ``DataFrame.abs``)."""
        return self._unary_numeric(F.abs)

    def round(self, decimals=0) -> "DataFrame":
        """Round numeric columns half-to-even (banker's — F.bround,
        the pandas/NumPy tie behavior); non-numeric columns pass
        through unchanged, exactly like pandas. ``decimals`` may be a
        ``{column: digits}`` dict (unlisted columns untouched)."""
        num = self._numeric_cols()
        per = (decimals if isinstance(decimals, dict)
               else {c: decimals for c in num})
        sdf = self._sdf
        for c, d in per.items():
            if c in num:
                sdf = sdf.withColumn(c, F.bround(F.col(c), d))
        return self._replace_sdf(sdf)

    def clip(self, lower=None, upper=None) -> "DataFrame":
        """Bound numeric columns to [lower, upper]; NULL stays NULL
        (null-gated like ``Series.clip`` — Spark's greatest/least
        skip nulls, which would clamp missing values)."""
        def op(col):
            out = col
            if lower is not None:
                out = F.greatest(out, F.lit(lower))
            if upper is not None:
                out = F.least(out, F.lit(upper))
            return F.when(col.isNull(), F.lit(None)).otherwise(out)
        return self._unary_numeric(op)

    def isin(self, values) -> "DataFrame":
        """Per-column membership (pandas ``DataFrame.isin``) — a
        boolean frame in one projection, SQL IN per column. Columns
        whose type can't hold any of the values are all-False like
        pandas; NULL input stays NULL (the engine's documented codec
        divergence — NaN==NULL, pandas says False)."""
        from pyspark.sql import types as T
        vals = [v for v in values if v is not None]

        def compat(dt, v):
            if isinstance(v, bool):
                return isinstance(dt, T.BooleanType)
            if isinstance(v, (int, float)):
                return isinstance(dt, T.NumericType)
            if isinstance(v, str):
                return isinstance(dt, T.StringType)
            return False

        sch = {f.name: f.dataType for f in self._sdf.schema.fields}
        sdf = self._sdf
        for c in self._data_cols:
            cv = [v for v in vals if compat(sch[c], v)]
            expr = (F.col(c).isin(*cv) if cv else
                    F.when(F.col(c).isNull(), F.lit(None))
                    .otherwise(F.lit(False)))
            sdf = sdf.withColumn(c, expr)
        return self._replace_sdf(sdf)

    def where(self, cond, other=None) -> "DataFrame":
        """Keep cells on rows where ``cond`` holds; elsewhere replace
        with ``other`` (NULL default) — pandas ``DataFrame.where``
        with a boolean-Series row mask. The mask must come from this
        frame's lineage (same contract as mask filtering); a pure
        per-column CASE projection, no shuffle."""
        from .series import Series
        if not isinstance(cond, Series):
            raise TypeError("cond must be a boolean Series")
        if cond._sdf is not self._sdf \
                and id(cond._sdf) not in self._lineage:
            raise ValueError(
                "where/mask cond must derive from this frame")
        g = cond._colexpr
        sdf = self._sdf
        # ONE select, not sequential withColumn: the gate references
        # source columns, so rewriting them one at a time would feed
        # later columns an already-masked gate input
        from .utils import nan_safe_lit
        data = set(self._data_cols)
        sdf = sdf.select(*[
            (F.when(g, F.col(c)).otherwise(nan_safe_lit(other))
             .alias(c)
             if c in data else F.col(c)) for c in sdf.columns])
        return self._replace_sdf(sdf)

    def mask(self, cond, other=None) -> "DataFrame":
        """Inverse of :meth:`where`: replace cells on rows where
        ``cond`` holds (pandas ``DataFrame.mask``). Not expressible
        as ``where(~cond)`` — pandas treats a missing cond as False
        on BOTH faces (keep here, replace there), while ``~NULL``
        stays NULL — so the gate is applied directly."""
        from .series import Series
        if not isinstance(cond, Series):
            raise TypeError("cond must be a boolean Series")
        if cond._sdf is not self._sdf \
                and id(cond._sdf) not in self._lineage:
            raise ValueError(
                "where/mask cond must derive from this frame")
        from .utils import nan_safe_lit
        g = cond._colexpr
        data = set(self._data_cols)
        sdf = self._sdf.select(*[
            (F.when(g, nan_safe_lit(other)).otherwise(F.col(c))
             .alias(c)
             if c in data else F.col(c)) for c in self._sdf.columns])
        return self._replace_sdf(sdf)

    def diff(self, periods: int = 1) -> "DataFrame":
        """Numeric columns minus their value ``periods`` rows back —
        every column rides ONE shared boundary-carry pass (same
        machinery as :meth:`shift`, never a global window); string
        columns dropped."""
        return self._shift_combine(self._numeric_cols(), periods, "diff")

    def pct_change(self, periods: int = 1) -> "DataFrame":
        """Fractional change vs ``periods`` rows back (x/x_prev - 1,
        IEEE division: a zero divisor gives ±inf like pandas), one
        shared boundary-carry pass across all numeric columns."""
        return self._shift_combine(self._numeric_cols(), periods,
                                   "pct_change")

    def _shift_combine(self, cols, periods: int, how: str,
                       fill_value=None) -> "DataFrame":
        """``cols`` shifted by ``periods`` along the logical order and
        combined with their current value by ``_SHIFT_COMBINE[how]``,
        all in ONE boundary-carry pass (plans/ordinal.
        with_boundary_shifts): one layout, one donor collect, never a
        global window, never one pass per column. ``fill_value``
        fills only the positions the shift introduced, never NULLs
        already in the data: a constant marker column rides the same
        carry to tell the two apart."""
        from ..plans.ordinal import with_boundary_shifts
        order = order_exprs(self._order or [], self._sdf.columns)
        shifts = {f"__sh_{c}__": F.col(c) for c in cols}
        if fill_value is not None:
            shifts["__smk__"] = F.lit(1)
        out = with_boundary_shifts(self._sdf, shifts, periods,
                                   order_by=order or None)
        combine = _SHIFT_COMBINE[how]
        res = {}
        for c in cols:
            prev = F.col(f"__sh_{c}__")
            if fill_value is not None:
                prev = F.when(F.col("__smk__").isNull(),
                              F.lit(fill_value)).otherwise(prev)
            res[c] = combine(F.col(c), prev)
        out = out.withColumns(res).drop(*shifts)
        return DataFrame._make(out, self._index_cols, list(cols),
                               self._order)

    def _cumulative(self, cols, kind: str) -> "DataFrame":
        """``cols`` in ONE prefix-scan pass (shared layout, donor
        collect, and carry merge — never one pass per column, never a
        global window); per-column pandas NaN gating: a missing
        position stays missing while the accumulator skips it
        ([1, nan, 2].cumsum() -> [1, nan, 3])."""
        from ..plans.ordinal import with_prefix_aggs
        order = order_exprs(self._order or [], self._sdf.columns)
        integral = {f.name for f in self._sdf.schema.fields
                    if isinstance(f.dataType, T.IntegralType)}
        # integer sums stay int64 and wrap like numpy's
        specs = {f"__cum_{c}__": (
            F.col(c) if kind in ("min", "max") else F.col(c).cast(
                "long" if kind == "sum" and c in integral else "double"),
            kind) for c in cols}
        out = with_prefix_aggs(self._sdf, specs, order or None)
        out = out.withColumns({
            c: F.when(F.col(c).isNotNull(), F.col(f"__cum_{c}__"))
            for c in cols}).drop(*specs)
        return DataFrame._make(out, self._index_cols, list(cols),
                               self._order)

    def cumsum(self) -> "DataFrame":
        """Cumulative sum of every numeric column — one shared
        prefix-scan pass (pandas ``DataFrame.cumsum``)."""
        return self._cumulative(self._numeric_cols(), "sum")

    def cumprod(self) -> "DataFrame":
        return self._cumulative(self._numeric_cols(), "prod")

    def cummin(self) -> "DataFrame":
        return self._cumulative(self._numeric_cols(), "min")

    def cummax(self) -> "DataFrame":
        return self._cumulative(self._numeric_cols(), "max")

    def _truthy(self, c):
        from pyspark.sql import types as T
        dt = dict((f.name, f.dataType)
                  for f in self._sdf.schema.fields)[c]
        col = F.col(c)
        return (F.length(col) > 0 if isinstance(dt, T.StringType)
                else col.cast("boolean"))

    def _rowwise_bool(self, kind: str) -> Series:
        """axis=1 any/all as a pure projection: pandas skipna flavor
        (NULL cells contribute nothing — False to any, True to all),
        no shuffle, no job."""
        e = F.lit(False) if kind == "any" else F.lit(True)
        for c in self._data_cols:
            t = F.coalesce(self._truthy(c),
                           F.lit(kind != "any"))
            e = (e | t) if kind == "any" else (e & t)
        return Series._make(self._sdf, e, self._index_cols, kind,
                            self._order)

    def any(self, axis: int = 0) -> Series:
        """Per-column any (pandas skipna flavor: NULLs ignored,
        empty/all-null ⇒ False) — ONE aggregate job for every
        column, strings truthy when non-empty. ``axis=1`` is the
        per-row variant: a pure projection, no job at all."""
        if axis in (1, "columns"):
            return self._rowwise_bool("any")
        cols = self._data_cols
        row_df = self._sdf.agg(*[
            F.coalesce(F.max(self._truthy(c)), F.lit(False)).alias(c)
            for c in cols])
        return _per_column(row_df, cols, "any")

    def all(self, axis: int = 0) -> Series:
        """Per-column all (pandas skipna flavor: NULLs ignored,
        empty/all-null ⇒ True). ``axis=1``: per-row, pure
        projection."""
        if axis in (1, "columns"):
            return self._rowwise_bool("all")
        cols = self._data_cols
        row_df = self._sdf.agg(*[
            F.coalesce(F.min(self._truthy(c)), F.lit(True)).alias(c)
            for c in cols])
        return _per_column(row_df, cols, "all")

    def idxmax(self) -> Series:
        """Per-column index label of the maximum (pandas
        ``DataFrame.idxmax``) — ONE aggregate job for every numeric
        column: ``max_by(label, (value, -position))`` picks the max
        value and breaks ties on the smallest logical position
        (pandas' first-occurrence rule). All-null columns yield NULL
        (pandas raises; the engine's lazy shape keeps the row)."""
        return self._idx_row(ascending=False)

    def idxmin(self) -> Series:
        return self._idx_row(ascending=True)

    def _idx_row(self, ascending: bool) -> Series:
        from ..plans.ordinal import POS_COL, with_dense_ordinal
        idx = (self._index_cols[0] if self._index_cols
               and self._index_cols[0] in self._sdf.columns else None)
        sdf = with_dense_ordinal(self._sdf,
                                 order_exprs(self._order or [],
                                             self._sdf.columns) or None,
                                 name=POS_COL)
        label = F.col(idx) if idx else F.col(POS_COL)
        # the stack() needs ONE shared type for every winning label;
        # a numeric index casts losslessly to double, anything else
        # (string/date labels from set_index) casts to string — a
        # blanket double cast would NULL every non-numeric label
        from pyspark.sql import types as T
        label_t = (sdf.schema[idx].dataType if idx
                   else T.LongType())
        stack_t = ("double" if isinstance(label_t, T.NumericType)
                   else "string")
        cols = self._numeric_cols()
        aggs = []
        for c in cols:
            v = F.col(c).cast("double")
            key = F.when(v.isNotNull(), F.struct(
                (v if not ascending else -v).alias("v"),
                (-F.col(POS_COL)).alias("np")))
            aggs.append(F.max_by(label, key).cast(stack_t).alias(c))
        row_df = sdf.agg(*aggs)
        return _per_column(row_df, cols,
                           "idxmin" if ascending else "idxmax")

    # ------------------------------------------------------ positional ops

    def _ordered_sdf(self) -> SparkDF:
        """sdf with a FRESH dense positional column ``__pos__``.

        ORD_COL values are row LABELS (RangeIndex); after a filter
        they are sparse — positions must be recomputed over the
        surviving rows (ordered by the logical order, falling back to
        the labels for ingest order)."""
        from ..plans.ordinal import POS_COL
        order = order_exprs(self._order or [], self._sdf.columns)
        if not order and ORD_COL in self._sdf.columns:
            order = [F.col(ORD_COL).asc()]
        return with_dense_ordinal(self._sdf, order or None, name=POS_COL)

    def _slice(self, key: slice) -> "DataFrame":
        from ..plans.ordinal import POS_COL
        if (key.step or 1) < 0:
            raise ValueError("negative slice steps are not supported")
        if ((key.start or 0) < 0) or (key.stop is not None
                                      and key.stop < 0):
            # pandas negative positions: one count job normalizes them
            key = slice(*key.indices(len(self)))
        start, stop, step = key.start or 0, key.stop, key.step or 1
        if (step == 1 and stop is not None and self._order
                and ORD_COL not in self._sdf.columns):
            # contiguous slice over an explicit order: offset+limit is
            # a global-limit plan — no dense-ordinal materialization
            ob = order_exprs(self._order, self._sdf.columns)
            if ob:
                sdf = self._sdf.orderBy(*ob).offset(start).limit(stop - start)
                return DataFrame._make(sdf, self._index_cols,
                                       self._data_cols, self._order)
        sdf = self._ordered_sdf()
        cond = F.col(POS_COL) >= start
        if stop is not None:
            cond = cond & (F.col(POS_COL) < stop)
        if step != 1:
            cond = cond & ((F.col(POS_COL) - start) % step == 0)
        return DataFrame._make(sdf.filter(cond).drop(POS_COL),
                               self._index_cols, self._data_cols,
                               self._order or ([(ORD_COL, True)]
                                               if ORD_COL in self._sdf.columns
                                               else None))

    def head(self, n: int = 5) -> "DataFrame":
        if n < 0:
            # pandas head(-n): all but the last n rows
            return self._slice(slice(0, max(len(self) + n, 0)))
        sdf = self._sdf
        if self._order:
            cols = order_exprs(self._order, sdf.columns)
            if cols:
                sdf = sdf.orderBy(*cols)  # orderBy+limit => TakeOrderedAndProject
        return self._replace_sdf(sdf.limit(n))

    def tail(self, n: int = 5) -> "DataFrame":
        if n < 0:
            # pandas tail(-n): all but the first n rows
            return self._slice(slice(-n, None))
        if self._order:
            rev = rev_order_exprs(self._order, self._sdf.columns)
            if rev:
                sdf = self._sdf.orderBy(*rev).limit(n)
                return self._replace_sdf(sdf)
        total = len(self)
        return self._slice(slice(max(total - n, 0), None))

    @property
    def iloc(self):
        return _FrameILoc(self)

    @property
    def loc(self):
        """Label-based selection (engine extension; the reference has
        only iloc). Supported forms: ``df.loc[label]``,
        ``df.loc[[labels]]``, ``df.loc[mask]``, and the 2-D
        ``df.loc[rows, col_or_cols]``; label SLICES are not (ranges
        over labels need a total order the engine does not track)."""
        return _FrameLoc(self)

    @property
    def at(self):
        """Eager scalar lookup ``df.at[label, col]`` — raises unless
        exactly one row matches the label."""
        return _FrameAt(self)

    # ------------------------------------------------------------- sorting

    def sort_values(self, by, ascending: bool = True,
                    na_position: str = "last") -> "DataFrame":
        """Multi-key sort (superset of the reference, which caps at one
        key, frame.py:779-780). Spark executes as a range-partitioned
        distributed sort — no single-node permutation gather.
        ``na_position='first'`` sorts null keys first like pandas; the
        rebuildable (col, asc) order metadata encodes nulls-LAST, so
        that variant keeps the sorted plan but drops the metadata
        (positional ops fall back to the physical order, which IS the
        sort)."""
        if na_position not in ("first", "last"):
            raise ValueError(
                f"na_position must be 'first' or 'last', "
                f"got {na_position!r}")
        by = [by] if isinstance(by, str) else list(by)
        for c in by:
            if c not in self._data_cols and c not in self._index_cols:
                raise KeyError(c)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        if na_position == "first":
            cols = [(F.col(c).asc_nulls_first() if a
                     else F.col(c).desc_nulls_first())
                    for c, a in zip(by, asc)]
            return DataFrame._make(
                self._sdf.orderBy(*cols).drop(ORD_COL),
                self._index_cols, self._data_cols, None)
        cols = [order_expr(c, a) for c, a in zip(by, asc)]
        sdf = self._sdf.orderBy(*cols)
        return DataFrame._make(sdf.drop(ORD_COL), self._index_cols, self._data_cols,
                               list(zip(by, asc)))

    def sort_index(self, ascending: bool = True) -> "DataFrame":
        return self.sort_values(list(self._index_cols), ascending)

    # -------------------------------------------------------- index moves

    def reset_index(self, drop: bool = False) -> "DataFrame":
        keep = [] if drop else [c for c in self._index_cols
                                if c not in (ORD_COL,)]
        new_data = [c if c != _IDX else "index" for c in keep] + self._data_cols
        sdf = self._sdf
        if _IDX in keep:
            sdf = sdf.withColumnRenamed(_IDX, "index")
        return DataFrame._make(sdf, [], new_data, self._order)

    def set_index(self, keys) -> "DataFrame":
        """Old index is DROPPED (reference semantics, frame.py:668-731)."""
        keys = [keys] if isinstance(keys, str) else list(keys)
        self._check_cols(keys)
        data = [c for c in self._data_cols if c not in keys]
        drop_idx = [c for c in self._index_cols
                    if c not in keys and c != ORD_COL and c not in data]
        sdf = self._sdf.drop(*drop_idx) if drop_idx else self._sdf
        return DataFrame._make(sdf, keys, data, self._order)

    def assign(self, **kwargs) -> "DataFrame":
        """pandas ``DataFrame.assign``: a NEW frame with the given
        columns added/replaced. Values may be Series, scalars, or
        callables receiving the frame-so-far — evaluated left to
        right, so later kwargs can reference earlier ones (pandas
        semantics). The original frame is untouched (the lazy plan is
        shared; only the wrapper state is copied).

        Examples
        --------
        >>> import baloo_spark as bl
        >>> df = bl.DataFrame({"a": [1.0, 2.0]})
        >>> df.assign(b=lambda d: d["a"] * 10,
        ...           c=lambda d: d["b"] + 1).to_pandas()
             a     b     c
        0  1.0  10.0  11.0
        1  2.0  20.0  21.0
        """
        out = DataFrame._make(self._sdf, list(self._index_cols),
                              list(self._data_cols), self._order)
        for name, val in kwargs.items():
            out[name] = val(out) if callable(val) else val
        return out

    def pipe(self, func, *args, **kwargs):
        """pandas ``DataFrame.pipe``: apply ``func(self, *args,
        **kwargs)`` — keeps operator chains linear when mixing engine
        methods with free functions (e.g. the operators/ library)."""
        return func(self, *args, **kwargs)

    def _resolve_level(self, level):
        idx = [c for c in self._index_cols
               if c in self._sdf.columns and c != ORD_COL]
        if isinstance(level, int):
            return idx[level]
        if level in idx:
            return level
        raise KeyError(f"level {level!r} not in index {idx!r}")

    def swaplevel(self, i=0, j=1) -> "DataFrame":
        """Swap two MultiIndex levels (pure metadata — the index is
        column ORDER here; no job, no shuffle)."""
        a, b = self._resolve_level(i), self._resolve_level(j)
        idx = [b if c == a else a if c == b else c
               for c in self._index_cols]
        return DataFrame._make(self._sdf, idx, self._data_cols,
                               self._order)

    def reorder_levels(self, order) -> "DataFrame":
        """Rearrange index levels (pandas ``reorder_levels`` —
        pure metadata, like :meth:`swaplevel`; no job)."""
        names = [self._resolve_level(l) for l in order]
        if sorted(names) != sorted(self._index_cols):
            raise ValueError(
                f"order {list(order)!r} must be a permutation of "
                f"the index levels {list(self._index_cols)!r}")
        return DataFrame._make(self._sdf, names, self._data_cols,
                               self._order)

    def droplevel(self, level) -> "DataFrame":
        """Remove one index level (metadata + column drop)."""
        name = self._resolve_level(level)
        idx = [c for c in self._index_cols if c != name]
        if not idx:
            raise ValueError("cannot drop the only index level; "
                             "reset_index instead")
        order = [(c, a) for c, a in (self._order or []) if c != name]
        return DataFrame._make(self._sdf.drop(name), idx,
                               self._data_cols, order or None)

    def select_dtypes(self, include=None, exclude=None) -> "DataFrame":
        """Column subset by dtype kind (pandas ``select_dtypes``):
        'number', 'float', 'int'/'integer', 'bool', 'object'/'str',
        'datetime'. Pure projection."""
        from pyspark.sql import types as T

        def kind(dt):
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                return {"number", "float"}
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType)):
                return {"number", "int", "integer"}
            if isinstance(dt, T.BooleanType):
                return {"bool"}
            if isinstance(dt, T.StringType):
                return {"object", "str", "string"}
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType,
                               T.DateType)):
                return {"datetime"}
            return {"other"}

        inc = ({include} if isinstance(include, str)
               else set(include or []))
        exc = ({exclude} if isinstance(exclude, str)
               else set(exclude or []))
        if not inc and not exc:
            raise ValueError("pass include= and/or exclude=")
        sch = {f.name: f.dataType for f in self._sdf.schema.fields}
        cols = [c for c in self._data_cols
                if (not inc or kind(sch[c]) & inc)
                and not (kind(sch[c]) & exc)]
        return self[cols] if cols else self._replace_sdf(
            self._sdf.select(*[c for c in self._sdf.columns
                               if c not in self._data_cols]),
            data_cols=[])

    def insert(self, loc: int, column: str, value) -> None:
        """In-place column insertion at position ``loc`` (pandas
        ``DataFrame.insert``)."""
        if column in self._data_cols:
            raise ValueError(f"column {column!r} already exists")
        if not 0 <= loc <= len(self._data_cols):
            raise IndexError(f"loc {loc} out of bounds")
        self[column] = value
        cols = self._data_cols
        cols.insert(loc, cols.pop())

    def pop(self, column: str) -> Series:
        """Remove ``column`` in place and return it as a Series
        (pandas ``DataFrame.pop``)."""
        self._check_cols([column])
        out = self[column]
        self._data_cols = [c for c in self._data_cols if c != column]
        return out

    def rename(self, columns: dict | None = None, *,
               mapper: dict | None = None) -> "DataFrame":
        """Rename columns from a ``{old: new}`` dict or a mapper
        callable (``str.upper``) — positional or the pandas
        ``columns=`` keyword form both work; keys absent from the
        frame are ignored like pandas."""
        columns = columns if columns is not None else (mapper or {})
        if callable(columns):
            fn = columns
            columns = {c: fn(c) for c in self._data_cols
                       + [i for i in self._index_cols
                          if i in self._sdf.columns
                          and i not in _RESERVED and i != _IDX]}
        sdf = self._sdf
        for old, new in columns.items():
            sdf = sdf.withColumnRenamed(old, new)
        data = [columns.get(c, c) for c in self._data_cols]
        idx = [columns.get(c, c) for c in self._index_cols]
        order = [(columns.get(c, c), a) for c, a in self._order] if self._order else None
        return DataFrame._make(sdf, idx, data, order)

    def drop(self, columns) -> "DataFrame":
        columns = [columns] if isinstance(columns, str) else list(columns)
        self._check_cols(columns)  # parity: KeyError unlike silent Spark drop
        data = [c for c in self._data_cols if c not in columns]
        return self._replace_sdf(self._sdf.drop(*columns), data_cols=data)

    # ------------------------------------------------------- missing data

    def fillna(self, value) -> "DataFrame":
        if isinstance(value, dict):
            return self._replace_sdf(self._sdf.fillna(value))
        return self._replace_sdf(self._sdf.fillna(value, subset=self._data_cols))

    def dropna(self, subset=None, how: str = "any",
               thresh: int | None = None) -> "DataFrame":
        """Drop rows with nulls (pandas flavor): ``how='any'`` drops a
        row with ANY null in ``subset``, ``'all'`` only when every
        subset column is null; ``thresh`` keeps rows with at least
        that many non-nulls (overrides ``how``)."""
        subset = list(subset) if subset is not None else list(self._data_cols)
        if thresh is not None:
            return self._replace_sdf(
                self._sdf.dropna(thresh=thresh, subset=subset))
        if how not in ("any", "all"):
            raise ValueError(f"how must be 'any' or 'all', got {how!r}")
        return self._replace_sdf(self._sdf.dropna(how=how, subset=subset))

    def ffill(self, subset=None, partition_by=None,
              limit: int | None = None) -> "DataFrame":
        """Forward-fill nulls along the logical order (pandas ffill).
        ``partition_by`` keeps the fill per group (one keyed shuffle);
        without it the global carry-forward runs through the
        partition-safe boundary-carry scheme
        (the ``'last'`` kind of
        :func:`~baloo_spark.plans.ordinal.with_prefix_aggs`) — no
        single-partition collapse either way. ``limit`` caps the fill
        distance in rows (pandas): the carry rides a (position,
        value) struct and donors farther than ``limit`` are
        discarded."""
        return self._directional_fill(subset, partition_by,
                                      forward=True, limit=limit)

    def bfill(self, subset=None, partition_by=None,
              limit: int | None = None) -> "DataFrame":
        return self._directional_fill(subset, partition_by,
                                      forward=False, limit=limit)

    def pad(self, **kw) -> "DataFrame":
        """pandas alias of :meth:`ffill`."""
        return self.ffill(**kw)

    def backfill(self, **kw) -> "DataFrame":
        """pandas alias of :meth:`bfill`."""
        return self.bfill(**kw)

    @property
    def iat(self):
        """Positional scalar access (pandas ``DataFrame.iat``):
        ``df.iat[i, j]`` — column picked by position, then the
        Series iloc scalar probe."""
        return _FrameIAt(self)

    def to_string(self, **kw) -> str:
        """Driver-side render (pandas ``to_string``) — an explicit
        materialization boundary like to_pandas."""
        return self.to_pandas().to_string(**kw)

    def to_markdown(self, **kw) -> str:
        return self.to_pandas().to_markdown(**kw)

    def to_html(self, **kw) -> str:
        """Driver-side render (pandas ``to_html``) — same
        materialization boundary as to_string."""
        return self.to_pandas().to_html(**kw)

    def to_latex(self, **kw) -> str:
        return self.to_pandas().to_latex(**kw)

    def to_records(self, **kw):
        """Driver-side export (pandas ``to_records``): a NumPy record
        array — an explicit materialization boundary."""
        return self.to_pandas().to_records(**kw)

    @classmethod
    def from_records(cls, data, **kw) -> "DataFrame":
        """pandas ``DataFrame.from_records``: build through pandas on
        the driver (records are driver-sized by definition), then the
        normal from_pandas ingest."""
        import pandas as pd
        return cls(pd.DataFrame.from_records(data, **kw))

    def unstack(self, level: int = -1, max_columns: int = 10000,
                verify_integrity: bool = True) -> "DataFrame":
        """pandas ``DataFrame.unstack`` (and the Series face): pivot
        one index level into columns. Needs >= 2 index levels; the
        level's distinct values are collected once (guarded by
        ``max_columns`` — the unstacked width must be driver-sized by
        definition) and passed explicitly to ``groupBy().pivot(...)``
        so the plan has no hidden distinct job and the column order is
        deterministic (sorted, like pandas). ONE hash-agg shuffle
        carries every column's F.first. One data column keeps the flat
        level-value column names; several flatten pandas' MultiIndex
        columns ((col, level-value) pairs) to their string spelling
        ``str((col, value))``, in pandas' col-major order — the
        engine's column model is flat. ``verify_integrity`` pays one
        hash-agg job to raise on duplicate (index, level) pairs like
        pandas (F.first would silently pick one); pass False to skip
        it when uniqueness is guaranteed upstream."""
        idx = [c for c in self._index_cols if c in self._sdf.columns
               and c != ORD_COL]
        if len(idx) < 2:
            raise ValueError(
                "unstack needs a MultiIndex (>= 2 index levels); "
                f"this frame has {idx!r}")
        lvl = idx[level]
        remaining = [c for c in idx if c != lvl]
        cols = list(self._data_cols)
        sdf = self._sdf
        pvals = [r[0] for r in
                 (sdf.select(lvl).where(F.col(lvl).isNotNull())
                  .distinct().limit(max_columns + 1).collect())]
        if len(pvals) * len(cols) > max_columns:
            raise ValueError(
                f"unstack level {lvl!r} would produce more than "
                f"{max_columns} columns; raise max_columns= only if "
                "you mean a table that wide")
        pvals.sort()
        if verify_integrity:
            dup = (sdf.groupBy(*idx)
                   .agg(F.count(F.lit(1)).alias("__n__"))
                   .filter(F.col("__n__") > 1).limit(1).count())
            if dup:
                raise ValueError(
                    "Index contains duplicate entries, cannot "
                    "reshape")
        out = (sdf.groupBy(*remaining).pivot(lvl, pvals)
               .agg(*[F.first(c).alias(f"__u_{c}__")
                      for c in cols]))
        if len(cols) > 1:
            # Spark names multi-agg pivot outputs value-major
            # ("<pval>___u_<col>__", in (pvals x aggs) order) — rename
            # positionally, then reorder to pandas' col-major layout
            out = out.toDF(*remaining, *[str((c, p))
                                         for p in pvals for c in cols])
            out = out.select(*remaining, *[str((c, p))
                                           for c in cols for p in pvals])
        return DataFrame._make(
            out, remaining, [c for c in out.columns
                             if c not in remaining],
            [(c, True) for c in remaining])

    def rename_axis(self, name) -> "DataFrame":
        """Rename the INDEX (pandas ``rename_axis``) — a plan-side
        column rename, no job."""
        if not self._index_cols:
            raise ValueError("rename_axis needs an index")
        old = self._index_cols[0]
        sdf = self._sdf.withColumnRenamed(old, name)
        order = [(name if c == old else c, a) for c, a in
                 (self._order or [])]
        return DataFrame._make(sdf, [name], list(self._data_cols),
                               order)

    def set_axis(self, labels, axis: int | str = 0) -> "DataFrame":
        """Replace the index labels (axis=0; a position-keyed
        broadcast join of the new label table) or the column names
        (axis=1; pure rename) — pandas ``set_axis``."""
        labels = list(labels)
        if axis in (1, "columns"):
            if len(labels) != len(self._data_cols):
                raise ValueError(
                    f"Length mismatch: expected "
                    f"{len(self._data_cols)} columns, got "
                    f"{len(labels)}")
            return self.rename(dict(zip(self._data_cols, labels)))
        n = len(self)
        if len(labels) != n:
            raise ValueError(
                f"Length mismatch: expected {n} elements, got "
                f"{len(labels)}")
        from ..plans.ordinal import POS_COL
        sdf = self._ordered_sdf()
        spark = sdf.sparkSession
        lut = spark.createDataFrame(
            [(i, l) for i, l in enumerate(labels)],
            [POS_COL, _IDX])
        keep = [c for c in sdf.columns
                if c not in self._index_cols and c != _IDX]
        out = sdf.select(*keep).join(F.broadcast(lut), POS_COL)
        return DataFrame._make(out, [_IDX], list(self._data_cols),
                               [(POS_COL, True)])

    def _directional_fill(self, subset, partition_by, forward: bool,
                          limit: int | None = None):
        from pyspark.sql import Window

        from ..plans.ordinal import (POS_COL, with_dense_ordinal,
                                     with_prefix_aggs)
        subset = list(subset) if subset is not None else list(self._data_cols)
        partition_by = ([partition_by] if isinstance(partition_by, str)
                        else list(partition_by or []))
        sdf = self._sdf
        pairs = [(c, a) for c, a in (self._order or [])
                 if c in sdf.columns]
        added_pos = False
        if not pairs:
            sdf = with_dense_ordinal(sdf, name=POS_COL)
            pairs = [(POS_COL, True)]
            added_pos = True
        if not partition_by:
            # global fill: two-pass carry (partition-local windows +
            # driver-stitched boundaries), never one partition. bfill
            # = the same carry over the reversed order.
            ob = (order_exprs(pairs) if forward
                  else rev_order_exprs(pairs))
            if limit is None:
                sdf = with_prefix_aggs(
                    sdf, {c: (F.col(c), "last") for c in subset}, ob)
            else:
                # bounded fill: carry (fresh dense position, value)
                # structs — null where the value is null so the carry
                # skips them — and discard donors beyond `limit` rows
                sdf = with_dense_ordinal(sdf, order_exprs(pairs),
                                         name="__fp__")
                sdf = with_prefix_aggs(sdf, {
                    f"__lf_{c}__": (F.when(
                        F.col(c).isNotNull(),
                        F.struct(F.col("__fp__").alias("p"),
                                 F.col(c).alias("v"))), "last")
                    for c in subset},
                    [F.col("__fp__").asc() if forward
                     else F.col("__fp__").desc()])
                for c in subset:
                    s = F.col(f"__lf_{c}__")
                    dist = ((F.col("__fp__") - s["p"]) if forward
                            else (s["p"] - F.col("__fp__")))
                    sdf = sdf.withColumn(
                        c, F.coalesce(F.col(c),
                                      F.when(dist <= limit, s["v"]))) \
                        .drop(f"__lf_{c}__")
                sdf = sdf.drop("__fp__")
        else:
            w = Window.partitionBy(*partition_by)
            lo = (Window.unboundedPreceding if limit is None
                  else -limit)
            if forward:
                w = w.orderBy(*order_exprs(pairs)).rowsBetween(lo, 0)
                fn = F.last
            elif limit is None:
                # backward unbounded as a REVERSED running frame: a
                # (current -> unboundedFollowing) frame with first()
                # re-scans the group tail per row — O(group^2)
                # (measured in plans/ordinal.py); the reversed sort
                # stays inside the same partitioning, O(group)
                w = (w.orderBy(*rev_order_exprs(pairs))
                     .rowsBetween(Window.unboundedPreceding, 0))
                fn = F.last
            else:
                # bounded following frame: sliding window of `limit`
                # rows — O(group * limit), fine as-is
                w = w.orderBy(*order_exprs(pairs)).rowsBetween(0, limit)
                fn = F.first
            for c in subset:
                sdf = sdf.withColumn(c, fn(c, ignorenulls=True).over(w))
        if added_pos:
            sdf = sdf.drop(POS_COL)
        return self._replace_sdf(sdf)

    # -------------------------------------------------------- aggregations

    @staticmethod
    def _agg_identity(name, e):
        """All-NULL columns keep pandas' empty-agg identities
        (sum -> 0, prod -> 1, min_count=0 — the Series faces and
        the reference's merger already do; r11 closes the frame
        column-agg row)."""
        if name == "sum":
            return F.coalesce(e, F.lit(0.0))
        if name == "prod":
            return F.coalesce(e, F.lit(1.0))
        return e

    def _agg_exprs(self, aggregations, cols):
        exprs = []
        for a in aggregations:
            for c in cols:
                e = _AGG_FNS[a](F.col(c).cast("double") if a != "count" else F.col(c))
                exprs.append(self._agg_identity(a, e)
                             .cast("double").alias(f"{a}__{c}"))
        return exprs

    def agg(self, aggregations: list) -> "DataFrame":
        """Column-wise multi-agg; result indexed by aggregation name
        (frame.py:641-666). One Spark job for all (agg, col) pairs —
        Catalyst shares the scan."""
        cols = self._numeric_cols()
        row_df = self._sdf.agg(*self._agg_exprs(aggregations, cols))
        groups = ", ".join(
            "'{a}', {vals}".format(
                a=a, vals=", ".join(f"`{a}__{c}`" for c in cols))
            for a in aggregations
        )
        names = ", ".join(["`Aggregation`"] + [f"`{c}`" for c in cols])
        out = row_df.select(F.expr(
            f"stack({len(aggregations)}, {groups}) as ({names})"))
        return DataFrame._make(out, ["Aggregation"], cols, None)

    def _agg_row(self, name: str) -> Series:
        """Per-column scalar agg combined into one Series indexed by
        column name (frame.py:594-639 / weld_combine_scalars)."""
        cols = self._numeric_cols(include_bool=True)
        exprs = [self._agg_identity(
                     name,
                     _AGG_FNS[name](F.col(c).cast("double")
                                    if name != "count" else F.col(c)))
                 .cast("double").alias(c)
                 for c in cols]
        row_df = self._sdf.agg(*exprs)
        return _per_column(row_df, cols, name)

    def _agg_axis1(self, name: str) -> Series:
        """Row-wise aggregate across the numeric columns (pandas
        ``axis=1``), skipping NULLs like pandas skips NaN. A pure
        column expression over the same plan — no shuffle, no agg
        node; composes lazily like any Series."""
        cols = self._numeric_cols(include_bool=True)
        if not cols:
            raise ValueError(f"no numeric columns for {name}(axis=1)")
        vs = [F.col(c).cast("double") for c in cols]
        nn = None
        for c in cols:
            t = F.col(c).isNotNull().cast("long")
            nn = t if nn is None else nn + t
        if name in ("min", "max"):
            fn = F.least if name == "min" else F.greatest
            expr = fn(*vs) if len(vs) > 1 else vs[0]
        elif name == "count":
            expr = nn
        else:
            total = None
            for v in vs:
                cv = F.coalesce(v, F.lit(0.0))
                total = cv if total is None else total + cv
            if name == "sum":
                expr = total      # all-null row -> 0, min_count=0
            elif name == "mean":
                expr = F.when(nn > 0, total / nn)
            else:
                raise ValueError(
                    f"unsupported axis=1 aggregation: {name!r}")
        return Series._make(self._sdf, expr, self._index_cols, None,
                            self._order)

    def min(self, axis: int = 0):
        return self._agg_axis1("min") if axis == 1 else self._agg_row("min")

    def max(self, axis: int = 0):
        return self._agg_axis1("max") if axis == 1 else self._agg_row("max")

    def sum(self, axis: int = 0):
        return self._agg_axis1("sum") if axis == 1 else self._agg_row("sum")

    def prod(self): return self._agg_row("prod")

    product = prod

    def count(self, axis: int = 0):
        return (self._agg_axis1("count") if axis == 1
                else self._agg_row("count"))

    def mean(self, axis: int = 0):
        return (self._agg_axis1("mean") if axis == 1
                else self._agg_row("mean"))

    def var(self): return self._agg_row("var")
    def std(self): return self._agg_row("std")

    def quantile(self, q=0.5, approx: bool = False,
                 accuracy: int = 10000, interpolation: str = "linear"):
        """Per-column quantile(s) from ONE aggregate row
        (:meth:`_quantile_row`). Scalar ``q`` returns a Series indexed
        by column name; a list returns a DataFrame with one row per
        quantile. ``approx=True`` is the GK-sketch 100 TB face (exact
        percentiles buffer the value multiset)."""
        scalar = isinstance(q, (int, float))
        ps = [float(q)] if scalar else [float(p) for p in q]
        for p in ps:
            if not 0 <= p <= 1:
                raise ValueError(f"quantile {p} outside [0, 1]")
        cols = self._numeric_cols()
        row = self._quantile_row(cols, ps, approx, accuracy,
                                 interpolation)
        if scalar:
            first = [F.element_at(F.col(c), 1).alias(c) for c in cols]
            return _per_column(row.select(*first), cols, "q")
        groups = ", ".join(
            f"{p!r}D, " + ", ".join(f"element_at(`{c}`, {i + 1})"
                                    for c in cols)
            for i, p in enumerate(ps))
        names = ", ".join(["`q`"] + [f"`{c}`" for c in cols])
        out = row.select(F.expr(f"stack({len(ps)}, {groups}) as ({names})"))
        return DataFrame._make(out, ["q"], cols, None)

    def _quantile_row(self, cols, ps, approx, accuracy, interpolation):
        """ONE row holding, for each column in ``cols``, the array of
        its quantiles at ``ps`` (as doubles; NULL where the column has
        no values) — the body under both quantile faces.
        ``approx=True`` is Spark's Greenwald-Khanna sketch
        (percentile_approx: mergeable, bounded memory ~``accuracy``
        entries, rank error <= 1/accuracy, returns a data element;
        ``interpolation`` is ignored there). Default exact
        ``'linear'`` is ANSI percentile_cont (DuckDB quantile_cont).
        Both are ONE lazy aggregate with an array of percentages: per-p
        expressions would each buffer/sketch every row. The exact
        lower/higher/nearest/midpoint interpolations pick pandas' rank
        values (:func:`_rank_values`, two small jobs) into a literal
        row."""
        if approx or interpolation == "linear":
            qarr = F.expr("array(" + ",".join(f"{p!r}D" for p in ps) + ")")
            aggs = []
            for c in cols:
                d = F.col(c).cast("double")
                aggs.append((F.percentile_approx(d, qarr, F.lit(accuracy))
                             if approx else F.percentile(d, qarr)).alias(c))
            return self._sdf.agg(*aggs)
        import math
        pick = {"lower": lambda h, a, b: a,
                "higher": lambda h, a, b: b,
                "midpoint": lambda h, a, b: (a + b) / 2,
                # numpy's half-to-even rounding of the virtual index
                "nearest": lambda h, a, b: (a if round(h) == math.floor(h)
                                            else b)}
        if interpolation not in pick:
            raise ValueError(f"unknown interpolation {interpolation!r}")
        ranks = _rank_values(self._sdf, cols, ps)
        return self._sdf.sparkSession.range(1).select(*[
            F.array(*[F.lit(None if a is None
                            else pick[interpolation](h, a, b))
                      .cast("double") for h, a, b in ranks[c]]).alias(c)
            for c in cols])

    def median(self, approx: bool = False):
        return self.quantile(0.5, approx=approx)

    def _moment_row(self, kind: str) -> Series:
        """Per-column bias-corrected skew/kurt combined into one
        Series (same shape as :meth:`_agg_row`); the correction is
        column arithmetic over Spark's population g1/g2 + count, so
        all columns still share ONE aggregate job."""
        cols = self._numeric_cols(include_bool=True)
        exprs = []
        for c in cols:
            v = F.col(c).cast("double")
            n = F.count(v)
            if kind == "skew":
                corr = (F.skewness(v) * F.sqrt(n * (n - 1)) / (n - 2))
                e = F.when(n >= 3, F.coalesce(corr, F.lit(0.0)))
            else:
                corr = (((n + 1) * F.kurtosis(v) + 6) * (n - 1)
                        / ((n - 2) * (n - 3)))
                e = F.when(n >= 4, F.coalesce(corr, F.lit(0.0)))
            exprs.append(e.cast("double").alias(c))
        row_df = self._sdf.agg(*exprs)
        return _per_column(row_df, cols, kind)

    def skew(self): return self._moment_row("skew")
    def kurt(self): return self._moment_row("kurt")
    kurtosis = kurt

    def sem(self, ddof: int = 1) -> Series:
        """Column-wise standard error of the mean — ONE aggregate job
        (std and count per column share the scan)."""
        cols = self._numeric_cols(include_bool=True)
        sfn = F.stddev_samp if ddof == 1 else F.stddev_pop
        return _per_column(self._sdf.agg(*[
            (sfn(F.col(c).cast("double"))
             / F.sqrt(F.count(F.col(c)))).alias(c)
            for c in cols]), cols, "sem")

    # ------------------------------------------------------------- groupby

    def groupby(self, by, dropna: bool = True,
                as_index: bool = True) -> "DataFrameGroupBy":
        """``dropna=True`` (pandas default) excludes rows whose group
        key is NULL — Spark's groupBy would otherwise emit a NULL-key
        group pandas never shows. Pass ``dropna=False`` for the SQL
        behavior (the NULL group kept, like GROUP BY).
        ``as_index=False`` leaves the keys as data columns on
        aggregation outputs (pandas flavor). ``by`` may include
        Series derived from THIS frame (``df.groupby(df['k'] % 2)``)
        — the expression is materialized as a key column first."""
        from .groupby import DataFrameGroupBy
        by = [by] if isinstance(by, (str, Series)) else list(by)
        if any(isinstance(b, Series) for b in by):
            src_sdf, names = self._sdf, []
            for i, b in enumerate(by):
                if isinstance(b, Series):
                    if b._sdf is not self._sdf:
                        raise ValueError(
                            "groupby Series keys must derive from "
                            "this frame")
                    name = b.name or f"__gbkey{i}__"
                    if name in self._sdf.columns:
                        # pandas can hold an index level and a data
                        # column under one name; Spark cannot — the
                        # derived key gets a suffixed name and the
                        # original column stays a value column
                        name = f"{name}_key"
                    src_sdf = src_sdf.withColumn(name, b._colexpr)
                    names.append(name)
                else:
                    names.append(b)
            derived = DataFrame._make(
                src_sdf, self._index_cols,
                list(dict.fromkeys(self._data_cols
                                   + [n for n in names
                                      if n not in self._data_cols])),
                self._order)
            return derived.groupby(names, dropna=dropna,
                                   as_index=as_index)
        self._check_cols(by)
        if set(by) == set(self._data_cols):
            raise ValueError("cannot group by all columns")  # frame.py:1092-1093
        src = self
        if dropna:
            cond = None
            for c in by:
                nn = F.col(c).isNotNull()
                cond = nn if cond is None else cond & nn
            src = self._replace_sdf(self._sdf.filter(cond))
        gb = DataFrameGroupBy(src, by)
        if not as_index:
            from .groupby import _NoIndexGroupBy
            return _NoIndexGroupBy(gb)
        return gb

    # -------------------------------------------- multidim agg extensions

    def pivot(self, index: str, columns: str, values: str,
              agg: str = "sum") -> "DataFrame":
        """groupBy(index).pivot(columns).agg — one shuffle; the pivot
        column's distinct values become output columns."""
        out = (self._sdf.groupBy(index).pivot(columns)
               .agg(_AGG_FNS[agg](F.col(values).cast("double")
                                  if agg != "count" else F.col(values))))
        return DataFrame._make(out, [index],
                               [c for c in out.columns if c != index], None)

    def pivot_table(self, values=None, index=None, columns: str = None,
                    aggfunc="mean", fill_value=None,
                    margins: bool = False, margins_name: str = "All",
                    dropna: bool = True,
                    max_columns: int = 10000) -> "DataFrame":
        """pandas ``pivot_table``: group by ``index``, spread the
        distinct values of ``columns`` into output columns, aggregate
        ``values`` with ``aggfunc`` (str or list of str).

        Spark-first shape: the distinct pivot values are collected
        ONCE (guarded by ``max_columns`` — pivoting is only sane when
        the spread column is low-cardinality) and passed explicitly to
        ``groupBy().pivot(col, values)``, so Spark skips its internal
        distinct job and the output column order is deterministic
        (sorted, like pandas). The main table is one hash-agg shuffle.

        ``margins=True`` adds the pandas ``All`` row/column: the
        column margin is a second agg at the same grouping (joined
        back on the index — same key partitioning, no broadcast of
        anything that scales), the row margin is a one-row global agg
        cross-joined in. Index columns are cast to string so the
        ``margins_name`` label can live in them.

        Naming: a single value+aggfunc keeps bare pivot values as
        column names (pandas single-level parity); multiple values or
        aggfuncs flatten pandas' column MultiIndex to
        ``{pivotval}_{value}_{agg}``.
        """
        if index is None or columns is None:
            raise ValueError("pivot_table needs index= and columns=")
        index = [index] if isinstance(index, str) else list(index)
        aggs = [aggfunc] if isinstance(aggfunc, str) else list(aggfunc)
        if values is None:
            values = [c for c in self._numeric_cols()
                      if c not in index and c != columns]
        values = [values] if isinstance(values, str) else list(values)
        self._check_cols(index + [columns] + values)
        if not values:
            raise ValueError("pivot_table found no value columns")

        pvals = [r[0] for r in
                 (self._sdf.select(columns)
                  .where(F.col(columns).isNotNull())
                  .distinct().limit(max_columns + 1).collect())]
        if len(pvals) > max_columns:
            raise ValueError(
                f"pivot column {columns!r} has more than "
                f"{max_columns} distinct values — a pivot that wide "
                "is a reshape bug at scale; raise max_columns= only "
                "if you mean it")
        pvals.sort()

        single = len(values) == 1 and len(aggs) == 1

        def agg_exprs(tag_prefix: str = ""):
            exprs = []
            for v in values:
                for a in aggs:
                    src = (F.col(v) if a == "count"
                           else F.col(v).cast("double"))
                    e = _AGG_FNS[a](src).cast(
                        "long" if a == "count" else "double")
                    if single:
                        e = e.alias(tag_prefix) if tag_prefix else e
                    else:
                        e = e.alias(f"{tag_prefix}{v}_{a}" if tag_prefix
                                    else f"{v}_{a}")
                    exprs.append(e)
            return exprs

        sdf = self._sdf
        if dropna:
            # pandas groupby semantics: NaN index keys are dropped
            # (pass dropna=False to keep them as NULL-keyed rows)
            sdf = sdf.dropna(subset=index)
        if margins:
            sdf = sdf.select(
                *[F.col(c).cast("string").alias(c) if c in index
                  else F.col(c) for c in sdf.columns])
        main = sdf.groupBy(*index).pivot(columns, pvals).agg(*agg_exprs())
        vcols = [c for c in main.columns if c not in index]
        if dropna:
            # pandas also drops all-NaN result rows (e.g. a group
            # whose every pivot key was NULL); fill_value applies
            # after, like pandas
            keep = None
            for c in vcols:
                e = F.col(c).isNotNull()
                keep = e if keep is None else (keep | e)
            if keep is not None:
                main = main.filter(keep)
        if fill_value is not None:
            main = main.fillna(fill_value, subset=vcols)
        if margins:
            mtags = ([margins_name] if single else
                     [f"{margins_name}_{v}_{a}"
                      for v in values for a in aggs])
            colmarg = sdf.groupBy(*index).agg(*(
                agg_exprs(margins_name) if single
                else agg_exprs(f"{margins_name}_")))
            main = main.join(colmarg, index, "left")
            # one-row All: per-pivot-value aggs x global corner
            allrow = (sdf.groupBy().pivot(columns, pvals)
                      .agg(*agg_exprs())
                      .crossJoin(sdf.groupBy().agg(*(
                          agg_exprs(margins_name) if single
                          else agg_exprs(f"{margins_name}_")))))
            allrow = allrow.select(
                *[F.lit(margins_name).alias(c) for c in index],
                *[F.col(c) for c in vcols + mtags],
                F.lit(1).alias("__mord__"))
            body = main.select(*index, *vcols, *mtags,
                               F.lit(0).alias("__mord__"))
            out = body.unionByName(allrow)
            vcols = vcols + mtags
            # hidden __mord__ keeps the All row last; to_pandas only
            # exports index+data columns, so it never surfaces
            return DataFrame._make(out, index, vcols,
                                   [("__mord__", True)]
                                   + [(c, True) for c in index])
        return DataFrame._make(main, index, vcols,
                               [(c, True) for c in index])

    def cube(self, by, aggregations: dict) -> "DataFrame":
        """All grouping-set combinations (ANSI CUBE); same shuffle
        profile as groupby."""
        by = [by] if isinstance(by, str) else list(by)
        exprs = self._multi_agg_exprs(aggregations)
        out = self._sdf.cube(*by).agg(*exprs)
        return DataFrame._make(out, list(by),
                               [c for c in out.columns if c not in by], None)

    def _multi_agg_exprs(self, aggregations: dict):
        exprs = []
        for c, aggs in aggregations.items():
            for a in ([aggs] if isinstance(aggs, str) else aggs):
                src = F.col(c).cast("double") if a != "count" else F.col(c)
                out_t = "long" if a == "count" else "double"
                exprs.append(_AGG_FNS[a](src).cast(out_t).alias(f"{c}_{a}"))
        return exprs

    def sample(self, fraction: float | None = None, seed: int = 42,
               with_replacement: bool = False, frac: float | None = None,
               random_state: int | None = None,
               n: int | None = None) -> "DataFrame":
        """Per-partition Bernoulli sample — no shuffle, no collect.
        ``frac``/``random_state`` are accepted as pandas-style aliases
        of ``fraction``/``seed``. ``n=`` draws an EXACT count like
        pandas: rank by a seeded hash and keep the top n — a
        distributed TakeOrdered (per-partition top-n then a merge of
        n-row heads), never a full sort. Documented divergence:
        n > len(df) returns every row instead of raising (pandas
        raises; validating would cost an eager count)."""
        if frac is not None:
            fraction = frac
        if random_state is not None:
            seed = random_state
        if n is not None:
            if fraction is not None:
                raise ValueError("pass n= or fraction=, not both")
            out = (self._sdf
                   .orderBy(F.xxhash64(F.lit(seed),
                                       *[F.col(c) for c in
                                         self._sdf.columns]).asc())
                   .limit(n))
            return DataFrame._make(out, self._index_cols,
                                   self._data_cols, None)
        if fraction is None:
            raise ValueError("pass fraction= (or pandas-style frac= / n=)")
        return self._replace_sdf(
            self._sdf.sample(with_replacement, fraction, seed), order=None)

    def value_counts(self, normalize: bool = False,
                     ascending: bool = False,
                     dropna: bool = True) -> Series:
        """Row-combination counts over the data columns (pandas
        ``DataFrame.value_counts``): one hash-agg shuffle, the
        combinations become a multi-column index. ``normalize``
        uses the one-row broadcast subtotal (never an unpartitioned
        window over the combinations table)."""
        cols = self._data_cols
        sdf = self._sdf.select(*cols)
        if dropna:
            sdf = sdf.dropna()
        cnt = F.count(F.lit(1))
        if normalize:
            counts = sdf.groupBy(*cols).agg(cnt.alias("__n__"))
            tot = counts.agg(
                F.sum("__n__").cast("double").alias("__tot__"))
            out = (counts.crossJoin(F.broadcast(tot))
                   .withColumn("__cnt__",
                               F.col("__n__") / F.col("__tot__"))
                   .drop("__n__", "__tot__"))
        else:
            out = sdf.groupBy(*cols).agg(cnt.cast("long")
                                         .alias("__cnt__"))
        out = out.orderBy(F.col("__cnt__").asc() if ascending
                          else F.col("__cnt__").desc())
        name = "proportion" if normalize else "count"
        return Series._make(out, F.col("__cnt__"), list(cols), name,
                            [("__cnt__", ascending)])

    def nlargest(self, n: int, columns, keep: str = "first") -> "DataFrame":
        """Top-n rows by ``columns`` (pandas flavor): a distributed
        TakeOrdered — never a full sort. NULL keys sort last (they
        only appear if fewer than ``n`` non-null rows exist; pandas
        drops them the same way for practical sizes). Ties resolve by
        logical position when the frame carries one (``keep='first'``
        keeps earlier rows, ``'last'`` later ones), matching pandas'
        stable ordering."""
        if keep not in ("first", "last"):
            raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
        return self._n_by(n, columns, ascending=False, keep=keep)

    def nsmallest(self, n: int, columns, keep: str = "first") -> "DataFrame":
        """Bottom-n rows by ``columns`` — see :meth:`nlargest`."""
        if keep not in ("first", "last"):
            raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
        return self._n_by(n, columns, ascending=True, keep=keep)

    def _n_by(self, n, columns, ascending, keep):
        cols = [columns] if isinstance(columns, str) else list(columns)
        self._check_cols(cols)
        order = [(c, ascending) for c in cols]
        if ORD_COL in self._sdf.columns:
            order.append((ORD_COL, keep == "first"))
        sdf = self._sdf.orderBy(*order_exprs(order)).limit(n)
        return DataFrame._make(sdf, self._index_cols, self._data_cols,
                               order)

    def replace(self, to_replace, value=None) -> "DataFrame":
        """Whole-frame value substitution (pandas scalar→scalar,
        ``{old: new}`` dict, list→scalar and list→list forms).
        Applied per data column as a pure CASE projection — zero
        shuffles; NaN keys match NULL (the sentinel codec equates
        them). Columns whose Spark type cannot hold the replacement
        are left untouched (pandas likewise only replaces where
        values can match); a numeric replacement of another numeric
        type upcasts like pandas."""
        from pyspark.sql import types as T
        if isinstance(to_replace, dict):
            if value is not None:
                raise TypeError("dict to_replace does not take a value=")
            pairs = list(to_replace.items())
        elif isinstance(to_replace, (list, tuple)):
            if isinstance(value, (list, tuple)):
                if len(value) != len(to_replace):
                    raise ValueError(
                        f"{len(to_replace)} keys but {len(value)} values")
                pairs = list(zip(to_replace, value))
            else:
                pairs = [(o, value) for o in to_replace]
        else:
            pairs = [(to_replace, value)]

        def compat(dt, v):
            if v is None:
                return True
            if isinstance(v, bool):
                return isinstance(dt, T.BooleanType)
            if isinstance(v, (int, float)):
                return isinstance(dt, T.NumericType)
            if isinstance(v, str):
                return isinstance(dt, T.StringType)
            return False

        def _k(v):
            # NaN keys/values mean NULL under the engine's codec
            # (r11 — a raw NaN literal would poison downstream JVM
            # aggregates)
            return None if isinstance(v, float) and v != v else v

        sch = {f.name: f.dataType for f in self._sdf.schema.fields}
        out = self._sdf
        for c in self._data_cols:
            col, expr = F.col(c), None
            for o, v in pairs:
                if compat(sch[c], o) and compat(sch[c], v):
                    expr = F.when(col.eqNullSafe(F.lit(_k(o))),
                                  F.lit(_k(v))).otherwise(
                        col if expr is None else expr)
            if expr is not None:
                out = out.withColumn(c, expr)
        return self._replace_sdf(out)

    def duplicated(self, subset=None, keep="first") -> "Series":
        """Boolean mask of duplicate rows (pandas flavor).

        ``keep=False`` marks EVERY member of a duplicate group — a
        pure groupBy-count + broadcast-back window, order-free and the
        scale-safe form. ``keep='first'``/``'last'`` spare one
        representative per group by logical position, computed with
        the dense-ordinal machinery (no global single-partition
        window)."""
        subset = ([subset] if isinstance(subset, str)
                  else list(subset or self._data_cols))
        self._check_cols(subset)
        from pyspark.sql import Window
        w = Window.partitionBy(*subset)
        if keep is False:
            out = self._sdf.withColumn(
                "__dup__", (F.count(F.lit(1)).over(w) > 1))
        elif keep in ("first", "last"):
            from ..plans.ordinal import POS_COL
            sdf = self._ordered_sdf()
            edge = (F.min(POS_COL).over(w) if keep == "first"
                    else F.max(POS_COL).over(w))
            out = sdf.withColumn("__dup__", F.col(POS_COL) != edge)                 .drop(POS_COL)
        else:
            raise ValueError(
                f"keep must be 'first', 'last', or False, got {keep!r}")
        from .series import Series
        return Series._make(out, F.col("__dup__"), self._index_cols,
                            None, self._order)

    def nunique(self, approx: bool = False,
                dropna: bool = True) -> "Series":
        """Distinct count per column as a Series indexed by column
        name; ``dropna=False`` counts NULL as one more value, like
        pandas. ``approx=True`` uses HyperLogLog sketches
        (approx_count_distinct) — the 100 TB path: mergeable, one pass,
        no per-column shuffle of distinct values."""
        cols = list(self._data_cols)
        fn = F.approx_count_distinct if approx else F.countDistinct
        exprs = [(fn(F.col(c)) if dropna else
                  fn(F.col(c)) + F.max(F.col(c).isNull()).cast("long"))
                 .cast("long").alias(c) for c in cols]
        row = self._sdf.agg(*exprs)
        return _per_column(row, cols, "nunique")

    def describe(self, approx: bool = False,
                 accuracy: int = 10000,
                 percentiles=None) -> "DataFrame":
        """Summary statistics per numeric column (count/mean/std/min/
        25%/50%/75%/max) — one job. Quartiles are exact interpolated
        by default; ``approx=True`` swaps in the Greenwald-Khanna
        sketch (percentile_approx, bounded memory, rank error <=
        1/accuracy) — the 100 TB path, since the exact aggregate
        buffers the per-partition value multiset. ``percentiles``
        customizes the quantile rows (pandas flavor; the median is
        always included)."""
        cols = self._numeric_cols()
        exprs = []
        ps = sorted(set((percentiles or [0.25, 0.75])) | {0.5})
        for p in ps:
            if not 0 <= p <= 1:
                raise ValueError(f"percentile {p} outside [0, 1]")
        ptags = [f"{p * 100:g}%" for p in ps]
        stats = ["count", "mean", "std", "min", *ptags, "max"]

        # ONE percentile aggregate per column computing every
        # requested quantile (array percentages): each percentile
        # expression otherwise keeps its own value buffer / GK sketch
        # over every row — n_quantiles x the aggregation state for
        # identical results (measured ~2x the whole describe at sf0.1)
        qarr = F.expr("array(" + ",".join(f"{p!r}D" for p in ps) + ")")
        for c in cols:
            d = F.col(c).cast("double")
            q3 = (F.percentile_approx(d, qarr, F.lit(accuracy)) if approx
                  else F.percentile(d, qarr))
            exprs += [
                F.count(c).cast("double").alias(f"count__{c}"),
                F.avg(d).alias(f"mean__{c}"),
                F.stddev_samp(d).alias(f"std__{c}"),
                F.min(d).alias(f"min__{c}"),
                F.max(d).alias(f"max__{c}"),
                q3.alias(f"__q3__{c}"),
            ]
        row = self._sdf.agg(*exprs)
        row = row.select(
            "*",
            *[F.element_at(F.col(f"__q3__{c}"), F.lit(i + 1))
              .alias(f"{s}__{c}")
              for c in cols
              for i, s in enumerate(ptags)]) \
            .drop(*[f"__q3__{c}" for c in cols])
        groups = ", ".join(
            "'{s}', {vals}".format(
                s=s, vals=", ".join(f"`{s}__{c}`" for c in cols))
            for s in stats)
        names = ", ".join(["`statistic`"] + [f"`{c}`" for c in cols])
        out = row.select(F.expr(f"stack({len(stats)}, {groups}) as ({names})"))
        return DataFrame._make(out, ["statistic"], cols, None)

    def rollup(self, by, aggregations: dict) -> "DataFrame":
        """Hierarchical subtotals (NULL grouping keys mark subtotal
        rows, ANSI semantics). Same single-shuffle partial/final agg
        as groupby."""
        by = [by] if isinstance(by, str) else list(by)
        out = self._sdf.rollup(*by).agg(*self._multi_agg_exprs(aggregations))
        return DataFrame._make(out, list(by),
                               [c for c in out.columns if c not in by], None)

    # ------------------------------------------------------- dedup / unique

    def drop_duplicates(self, subset=None, keep="min") -> "DataFrame":
        """Dedup on ``subset``; non-key columns merged with
        ``keep in {'+','*','min','max'}`` (reference dictmerger,
        weld_ops.py:572-655; order NOT maintained, frame.py:986).
        Extensions: keep='first'/'last'/False (pandas-style: the kept
        rows stay in row order) and keep='any' (arbitrary
        representative, cheapest at scale)."""
        subset = list(subset) if subset is not None else list(self._data_cols)
        self._check_cols(subset)
        others = [c for c in self._data_cols if c not in subset]
        idx_extra = [c for c in self._index_cols
                     if c in self._sdf.columns and c not in (ORD_COL,)
                     and c not in subset and c not in others]
        if keep in ("first", "last", False):
            from pyspark.sql import Window
            w = Window.partitionBy(*subset)
            if keep is False:
                out = (self._sdf.withColumn("__n__", F.count(F.lit(1)).over(w))
                       .filter(F.col("__n__") == 1).drop("__n__"))
            else:
                from ..plans.ordinal import POS_COL
                w = w.orderBy(F.col(POS_COL).asc() if keep == "first"
                              else F.col(POS_COL).desc())
                out = (self._ordered_sdf()
                       .withColumn("__rn__", F.row_number().over(w))
                       .filter(F.col("__rn__") == 1).drop("__rn__", POS_COL))
            return DataFrame._make(
                out, self._index_cols, self._data_cols,
                self._order or ([(ORD_COL, True)]
                                if ORD_COL in out.columns else None))
        if keep == "any":
            out = self._sdf.select(*subset, *others, *idx_extra).dropDuplicates(subset)
            return DataFrame._make(out, self._index_cols, self._data_cols, None)
        fn = {"+": F.sum, "*": F.product, "min": F.min, "max": F.max}[keep]
        aggs = [fn(c).alias(c) for c in others + idx_extra]
        out = self._sdf.groupBy(*subset).agg(*aggs) if aggs else \
            self._sdf.select(*subset).distinct()
        idx = [c for c in self._index_cols if c in out.columns] or []
        return DataFrame._make(out, idx, self._data_cols, None)

    # ---------------------------------------------------------------- joins

    def merge(self, other: "DataFrame", how: str = "inner", on=None,
              suffixes=("_x", "_y"), algorithm: str = "merge",
              is_on_sorted: bool = False, is_on_unique: bool = True,
              broadcast_other: bool = False, left_on=None,
              right_on=None, indicator=False,
              left_index: bool = False, right_index: bool = False,
              validate: str | None = None) -> "DataFrame":
        """DB-style equi-join (frame.py:798-925).

        The reference implements ONLY a single-threaded sort-merge join
        requiring sorted unique keys (weld_joins.py:76-107); here
        Catalyst picks broadcast-hash / shuffled-hash / sort-merge from
        stats + AQE, with none of those preconditions. The
        ``algorithm`` / ``is_on_sorted`` / ``is_on_unique`` hints are
        accepted for API parity: 'hash' or ``broadcast_other`` adds a
        broadcast hint on ``other``.

        Extensions beyond the reference: ``how='semi'`` (keep left
        rows with a match, no right columns), ``how='anti'`` (keep
        left rows without a match) — SURVEY.md §2.3 — and pandas-style
        ``left_on``/``right_on`` for differently-named keys (the right
        keys are renamed onto the left names before the equi-join, so
        the result is keyed by the left names), and pandas
        ``indicator=True`` (or a string column name): a ``_merge``
        column tagging each row 'both' / 'left_only' / 'right_only'
        — presence markers carried through the join, zero extra
        shuffles.
        """
        if left_index or right_index:
            # pandas index-keyed merge: the materialized index
            # column(s) become join keys (reset_index -> the existing
            # key machinery -> re-index the result on the keys, like
            # pandas keeps the index). Positional (anonymous) indexes
            # are not join keys — set_index first.
            def _named_idx(f, side):
                idx = [c for c in f._index_cols
                       if c in f._sdf.columns and c != ORD_COL]
                if not idx:
                    raise ValueError(
                        f"{side}_index=True needs a materialized "
                        "index; set_index first")
                return idx
            kw = dict(how=how, suffixes=suffixes,
                      broadcast_other=broadcast_other,
                      indicator=indicator, validate=validate)
            if left_index and right_index:
                lk = _named_idx(self, "left")
                rk = _named_idx(other, "right")
                r = other.reset_index()
                if lk != rk:
                    if len(lk) != len(rk):
                        raise ValueError(
                            f"index level counts differ: {lk} vs {rk}")
                    r = r.rename(columns=dict(zip(rk, lk)))
                # merge(on=) already indexes the result by the keys
                return self.reset_index().merge(r, on=lk, **kw)
            if right_index:
                rk = _named_idx(other, "right")
                return self.merge(other.reset_index(),
                                  left_on=left_on, right_on=rk, **kw)
            lk = _named_idx(self, "left")
            return self.reset_index().merge(
                other, left_on=lk, right_on=right_on, **kw)
        if how == "cross":
            # pandas how='cross': the cartesian product, no keys.
            # Deliberately NOT hidden behind an equi-join face — the
            # output is |L| x |R| rows and the caller should mean it.
            if on is not None or left_on is not None:
                raise ValueError("how='cross' takes no join keys")
            shared = set(self._data_cols) & set(other._data_cols)
            l = self._sdf.select(*[
                F.col(c).alias(f"{c}{suffixes[0]}" if c in shared
                               else c) for c in self._data_cols])
            r = other._sdf.select(*[
                F.col(c).alias(f"{c}{suffixes[1]}" if c in shared
                               else c) for c in other._data_cols])
            out = l.crossJoin(r)
            return DataFrame._make(out, [], list(out.columns), None)
        if how not in ("inner", "left", "right", "outer", "semi", "anti"):
            raise ValueError(f"unsupported how: {how}")
        if left_on is not None or right_on is not None:
            if on is not None or left_on is None or right_on is None:
                raise ValueError(
                    "pass either on= or BOTH left_on= and right_on=")
            left_on = [left_on] if isinstance(left_on, str) else list(left_on)
            right_on = [right_on] if isinstance(right_on, str) \
                else list(right_on)
            if len(left_on) != len(right_on):
                raise ValueError("left_on and right_on lengths differ")
            other = other.rename(dict(zip(right_on, left_on)))
            on = left_on
        if on is None:
            on = [c for c in self._data_cols if c in other._data_cols]
            if not on:
                on = [c for c in self._index_cols if c in other._index_cols
                      and c not in (ORD_COL,)]
        on = [on] if isinstance(on, str) else list(on)

        def prep(df, keep_on):
            cols = [c for c in dict.fromkeys(
                [*df._index_cols, *df._data_cols])
                if c in df._sdf.columns and c != ORD_COL]
            out = df._sdf.select(*cols)
            # an unnamed index surfaces as an 'index' data column in
            # merge results (reference test_join.py:13-20: df1's
            # anonymous index -> 'index' column)
            if _IDX in cols and "index" not in cols:
                out = out.withColumnRenamed(_IDX, "index")
            return out

        left = prep(self, on)
        right = prep(other, on)
        if validate is not None:
            # pandas validate=: an OPT-IN pair of tiny aggregate jobs
            # (count vs distinct count over the keys per side) — the
            # check is eager by nature, so it only runs when asked
            checks = {"1:1": (True, True), "one_to_one": (True, True),
                      "1:m": (True, False), "one_to_many": (True, False),
                      "m:1": (False, True), "many_to_one": (False, True),
                      "m:m": (False, False),
                      "many_to_many": (False, False)}
            if validate not in checks:
                raise ValueError(f"unknown validate {validate!r}")
            lu, ru = checks[validate]

            def _unique(keys_sdf, side):
                # distinct() keeps NULL keys as values — consistent
                # with the null-safe join where NULL keys match
                n = keys_sdf.count()
                d = keys_sdf.distinct().count()
                if d < n:
                    raise ValueError(
                        f"Merge keys are not unique in {side} "
                        f"dataset; not a {validate} merge")
            if lu:
                _unique(left.select(*on), "left")
            if ru:
                _unique(right.select(*on), "right")
        # suffix non-key collisions (frame.py:911-919, _x/_y)
        overlap = [c for c in left.columns if c in right.columns and c not in on]
        for c in overlap:
            left = left.withColumnRenamed(c, c + suffixes[0])
            right = right.withColumnRenamed(c, c + suffixes[1])
        # NULL-SAFE key equality (pandas semantics: NaN keys match
        # each other — the reference's sentinel keys behaved the same
        # way, being ordinary values). A plain USING join would drop
        # null-keyed matches; <=> is still an equi-join predicate for
        # Catalyst (hash/sort-merge/broadcast all apply).
        from functools import reduce
        rkeys = {c: f"__rk_{c}__" for c in on}
        for c in on:
            right = right.withColumnRenamed(c, rkeys[c])
        ind_col = None
        if indicator:
            if how in ("semi", "anti"):
                raise ValueError("indicator is undefined for "
                                 "semi/anti joins")
            ind_col = indicator if isinstance(indicator, str) else "_merge"
            left = left.withColumn("__lp__", F.lit(1))
            right = right.withColumn("__rp__", F.lit(1))
        if algorithm == "hash" or broadcast_other:
            right = F.broadcast(right)
        spark_how = {"outer": "full", "semi": "left_semi",
                     "anti": "left_anti"}.get(how, how)
        cond = reduce(lambda a, b: a & b,
                      [left[c].eqNullSafe(right[rkeys[c]]) for c in on])
        joined = left.join(right, cond, spark_how)
        if how not in ("semi", "anti"):
            for c in on:
                if how in ("outer", "right"):
                    # USING semantics: unmatched right rows surface
                    # their key through the single key column
                    joined = joined.withColumn(
                        c, F.coalesce(left[c], right[rkeys[c]]))
                joined = joined.drop(right[rkeys[c]])
        if ind_col is not None:
            joined = joined.withColumn(
                ind_col,
                F.when(F.col("__lp__").isNotNull()
                       & F.col("__rp__").isNotNull(), "both")
                .when(F.col("__lp__").isNotNull(), "left_only")
                .otherwise("right_only")).drop("__lp__", "__rp__")
        data = [c for c in joined.columns if c not in on]
        # result indexed by the on-columns (frame.py:904-906)
        return DataFrame._make(joined, on, data, None)

    def join(self, other: "DataFrame", on=None, how: str = "left",
             lsuffix: str = "", rsuffix: str = "") -> "DataFrame":
        """pandas-join flavor over merge (frame.py:927-980): on=None
        joins on same-named index columns."""
        if on is None:
            on = [c for c in self._index_cols if c in other._index_cols
                  and c not in (ORD_COL,)]
            if not on:
                raise ValueError("no common index columns to join on")
        suf = (lsuffix or "_x", rsuffix or "_y")
        return self.merge(other, how=how, on=on, suffixes=suf)

    # ----------------------------------------------------- window functions
    # (absent in the reference, SURVEY.md §2.9 — engine extensions)

    def top_k_per_group(self, partition_by, order_by, k: int,
                        ascending: bool = False,
                        tie_break=None) -> "DataFrame":
        """Top-k rows per group via row_number window — partitioned by
        the group keys, so no single-partition global sort at scale."""
        from pyspark.sql import Window
        partition_by = [partition_by] if isinstance(partition_by, str) \
            else list(partition_by)
        order = [F.col(order_by).asc() if ascending else F.col(order_by).desc()]
        for t in (tie_break or []):
            order.append(F.col(t).asc())
        w = Window.partitionBy(*partition_by).orderBy(*order)
        out = (self._sdf.withColumn("__rank__", F.row_number().over(w))
               .filter(F.col("__rank__") <= k))
        return DataFrame._make(
            out.withColumnRenamed("__rank__", "rank_in_group"),
            self._index_cols, self._data_cols + ["rank_in_group"], None)

    def with_running(self, col: str, order_by, partition_by=None,
                     agg: str = "sum", name: str | None = None) -> "DataFrame":
        """Running aggregate (cumulative sum/prod/min/max/count/mean/
        var/std) over an explicit order, optionally per partition
        group. Partitioned windows keep every group's state local;
        with NO partition keys the running aggregate is computed as a
        parallel prefix scan (partition-local windows + per-partition
        totals prefix-combined on the driver,
        :func:`~baloo_spark.plans.ordinal.with_prefix_aggs`) — every
        ``agg`` here decomposes into associative pieces (mean =
        running sum / running count; var/std = running moments), so
        nothing ever collapses to one partition."""
        from pyspark.sql import Window
        order_by = [order_by] if isinstance(order_by, str) else list(order_by)
        partition_by = ([partition_by] if isinstance(partition_by, str)
                        else list(partition_by or []))
        name = name or f"running_{agg}"
        if not partition_by:
            from ..plans.ordinal import with_prefix_aggs
            v = (F.col(col) if agg == "count"
                 else F.col(col).cast("double"))
            if agg in ("sum", "prod", "min", "max", "count"):
                specs = {name: (v, agg)}
                out = with_prefix_aggs(self._sdf, specs, order_by)
            else:
                # mean/var/std from running moments (all prefix sums)
                specs = {"__rs__": (v, "sum"),
                         "__rn__": (v, "count"),
                         "__rs2__": (v * v, "sum")}
                out = with_prefix_aggs(self._sdf, specs, order_by)
                n_, s_, s2 = (F.col("__rn__").cast("double"),
                              F.col("__rs__"), F.col("__rs2__"))
                if agg == "mean":
                    expr = s_ / n_
                else:
                    var = F.when(n_ > 1,
                                 (s2 - s_ * s_ / n_) / (n_ - 1))
                    expr = F.sqrt(var) if agg == "std" else var
                out = out.withColumn(name, expr) \
                    .drop("__rs__", "__rn__", "__rs2__")
            return DataFrame._make(out, self._index_cols,
                                   self._data_cols + [name], self._order)
        w = Window.partitionBy(*partition_by)
        w = w.orderBy(*order_by).rowsBetween(Window.unboundedPreceding, 0)
        fn = _AGG_FNS[agg]
        out = self._sdf.withColumn(
            name, fn(F.col(col).cast("double") if agg != "count"
                     else F.col(col)).over(w))
        return DataFrame._make(out, self._index_cols,
                               self._data_cols + [name], self._order)

    def with_rolling(self, col: str, window: int, order_by,
                     partition_by=None, agg: str = "mean",
                     min_periods: int | None = None,
                     name: str | None = None) -> "DataFrame":
        """Fixed-size rolling aggregate over the trailing ``window``
        rows (pandas ``rolling(window).agg()`` semantics: NULL until
        ``min_periods`` — default ``window`` — non-null rows are in
        frame).

        Partitioned: one ``rowsBetween(-(window-1), 0)`` frame per
        group, all state local. With NO partition keys the naive plan
        is a single-partition global window; instead sum/count/mean
        COMPOSE from the partition-safe prefix machinery —
        ``rolling(i) = prefix(i) - prefix(i - window)`` through the
        window engine's fixed-window prefix source
        (core/window._fixed_source: the prefixes and their window-ago
        twins from one range layout and one collect) — so nothing
        collapses. Global rolling min/max do not decompose into
        prefixes; pass partition keys for those (ValueError
        otherwise, with the alternative named).
        """
        from pyspark.sql import Window
        if window <= 0:
            raise ValueError(f"window must be positive, got {window}")
        order_by = [order_by] if isinstance(order_by, str) else list(order_by)
        partition_by = ([partition_by] if isinstance(partition_by, str)
                        else list(partition_by or []))
        name = name or f"rolling_{agg}"
        mp = window if min_periods is None else min_periods
        if partition_by:
            w = (Window.partitionBy(*partition_by).orderBy(*order_by)
                 .rowsBetween(-(window - 1), 0))
            fn = _AGG_FNS[agg]
            v = F.col(col) if agg == "count" else F.col(col).cast("double")
            expr = F.when(F.count(F.col(col)).over(w) >= mp,
                          fn(v).over(w))
            out = self._sdf.withColumn(name, expr)
            return DataFrame._make(out, self._index_cols,
                                   self._data_cols + [name], self._order)
        if agg not in ("sum", "count", "mean"):
            raise ValueError(
                f"global rolling '{agg}' does not decompose into "
                f"prefix scans; use partition_by=... (per-group "
                f"frames) for rolling {agg}")
        from .window import _MOMENTS, _fixed_source
        sdf, S = _fixed_source(
            self._sdf, {"__ps__": (F.col(col).cast("double"), "sum"),
                        "__pc__": (F.col(col), "count")},
            window, order_by)
        rcnt = S("__pc__", 0)
        expr = _MOMENTS[agg][0](S("__ps__"), rcnt, None, 1)
        out = (sdf.withColumn(name, F.when(rcnt >= mp, expr))
               .drop("__ps__", "__pc__", "__psw__", "__pcw__"))
        return DataFrame._make(out, self._index_cols,
                               self._data_cols + [name], self._order)

    def resample(self, freq: str, on: str):
        """Time-bucket aggregation (pandas ``df.resample(freq,
        on=...)`` for fixed-width frequencies): floor ``on`` to
        exact epoch-microsecond buckets, ONE hash-agg shuffle, then
        left-join a ``spark.range``-generated bucket grid so empty
        buckets appear like pandas (0 for sum/count, NULL
        otherwise). The grid is (max-min)/freq rows built
        distributed — only the two boundary timestamps touch the
        driver."""
        return _Resampler(self, freq, on)

    def rolling(self, window, min_periods: int | None = None,
                center: bool = False):
        """Fixed-size windows over EVERY numeric column (pandas
        ``DataFrame.rolling``), on the window engine (core/window.py).
        Trailing ``.sum() .mean() .count() .var() .std()`` share ONE
        prefix pass whose prefixes and window-ago twins come from one
        range layout and one collect — the same jobs a single column
        costs; never a global window, never one pass per column.
        Order statistics (``min max median quantile skew kurt sem
        rank apply``) and every ``center=True`` window share one
        bounded local-carry Arrow pass instead
        (plans/ordinal.with_rolling_locals). A
        str/timedelta ``window`` ('2h') rolls a TIME offset over the
        datetime index — every numeric column shares ONE prefix pass
        and ONE as-of join (core/window._time_roll_multi)."""
        from .window import Rolling
        return Rolling(self, self._numeric_cols(), window, min_periods,
                       center)

    def expanding(self, min_periods: int = 1):
        """Growing windows over every numeric column (pandas
        ``DataFrame.expanding``): ``.sum() .mean() .count() .min()
        .max() .var() .std() .sem() .skew() .kurt()`` — one shared
        prefix-scan pass, no shift needed, min/max included
        (prefix-decomposable here); see core/window.py."""
        from .window import Rolling
        return Rolling(self, self._numeric_cols(), None, min_periods)

    def ewm(self, com=None, span=None, halflife=None, alpha=None,
            min_periods: int = 0, adjust: bool = True,
            ignore_na: bool = False, times=None):
        """Exponentially weighted windows over every numeric column
        (pandas ``DataFrame.ewm``): ``.mean() .sum() .var() .std()``,
        both ``adjust`` flavors (``sum`` is adjust=True-only — pandas
        refuses the combination too), and the time-decay ``.mean()``
        with ``times=``. ALL columns share ONE range layout and TWO
        mapInPandas passes (core/window.Ewm over
        plans/ordinal.with_ewm_stats_multi for adjust=True,
        with_ewm_noadjust_stats for adjust=False,
        with_ewm_mean_times_multi for time decay — each column keeps
        its own null mask and carry); a per-column loop would pay a
        repartitionByRange + sort + checkpoint EACH. Non-numeric data
        columns are excluded from the result's data columns, like
        :meth:`rolling` (pandas raises DataError instead)."""
        from .window import Ewm, _times_column
        return Ewm(self, self._numeric_cols(), com, span, halflife, alpha,
                   min_periods, adjust, ignore_na,
                   _times_column(times, self._sdf, self._lineage))

    def shift(self, periods: int = 1, fill_value=None) -> "DataFrame":
        """All data columns moved by ``periods`` along the logical
        order, NULLs (or ``fill_value``) at the edge (pandas
        ``DataFrame.shift``; the index stays put, like pandas). Every
        column rides ONE shared boundary-carry pass
        (:meth:`_shift_combine`)."""
        return self._shift_combine(self._data_cols, periods, "shift",
                                   fill_value)

    def with_lag(self, col: str, order_by, partition_by=None, offset: int = 1,
                 name: str | None = None, diff: bool = False) -> "DataFrame":
        """Previous-row value (lag) or difference vs previous row over
        an explicit order, optionally per partition group. With no
        partition keys the lag runs through the boundary-carry scheme
        (:func:`~baloo_spark.plans.ordinal.with_boundary_shifts`, same
        machinery as :meth:`shift`) instead of a global window."""
        from pyspark.sql import Window
        order_by = [order_by] if isinstance(order_by, str) else list(order_by)
        partition_by = ([partition_by] if isinstance(partition_by, str)
                        else list(partition_by or []))
        name = name or (f"{col}_diff" if diff else f"{col}_lag")
        if not partition_by:
            from ..plans.ordinal import with_boundary_shifts
            ob = [F.col(c).asc() if isinstance(c, str) else c
                  for c in order_by]
            out = with_boundary_shifts(self._sdf, {name: F.col(col)},
                                       offset, order_by=ob)
            if diff:
                out = out.withColumn(name, F.col(col) - F.col(name))
            return DataFrame._make(out, self._index_cols,
                                   self._data_cols + [name], self._order)
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
        lagged = F.lag(F.col(col), offset).over(w)
        expr = (F.col(col) - lagged) if diff else lagged
        out = self._sdf.withColumn(name, expr)
        return DataFrame._make(out, self._index_cols,
                               self._data_cols + [name], self._order)

    def with_rank(self, order_by, ascending: bool = True,
                  method: str = "row_number", name: str = "rank") -> "DataFrame":
        """Global ranking column, partition-safe at every method:

        - ``row_number``: the dense-ordinal two-pass scheme
          (partition offsets, :mod:`baloo_spark.plans.ordinal`) + 1 —
          exactly what a global ``row_number() OVER (ORDER BY)``
          computes, minus the single-partition collapse.
        - ``rank``: min row_number within each tie group — a window
          partitioned BY THE ORDER VALUES (each tie group is its own
          partition; state per group, not per table).
        - ``dense_rank``: the tie group's ordinal among DISTINCT order
          values (distinct << rows; ordinal over distincts, equi-join
          back on the values).
        """
        from pyspark.sql import Window

        from ..plans.ordinal import with_dense_ordinal
        order_by = [order_by] if isinstance(order_by, str) else list(order_by)
        ob = [F.col(c).asc() if ascending else F.col(c).desc()
              for c in order_by]
        if method == "row_number":
            out = with_dense_ordinal(self._sdf, ob, name=name)
            out = out.withColumn(name, (F.col(name) + 1).cast("long"))
        elif method == "rank":
            out = with_dense_ordinal(self._sdf, ob, name="__rn__")
            w = Window.partitionBy(*[F.col(c) for c in order_by])
            out = (out.withColumn(name,
                                  (F.min("__rn__").over(w) + 1).cast("long"))
                   .drop("__rn__"))
        elif method == "dense_rank":
            from functools import reduce
            distinct = self._sdf.select(*order_by).distinct()
            keyed = with_dense_ordinal(distinct, ob, name="__dr__")
            # null-safe equality so NULL order values keep their rank
            # group (a plain equi-join would drop those rows)
            cond = reduce(lambda a, b: a & b,
                          [self._sdf[c].eqNullSafe(keyed[c])
                           for c in order_by])
            out = self._sdf.join(keyed, cond)
            for c in order_by:
                out = out.drop(keyed[c])
            out = (out.withColumn(name, (F.col("__dr__") + 1).cast("long"))
                   .drop("__dr__"))
        else:
            raise ValueError(f"unknown rank method: {method}")
        return DataFrame._make(out, self._index_cols,
                               self._data_cols + [name], self._order)

    def with_zscore(self, col: str, by, name: str = "z",
                    ddof: int = 1, digits: int | None = None) -> "DataFrame":
        """Grouped z-score, fully declarative: (x - mean)/std over a
        PARTITION BY window — the JVM-native twin of the grouped-map
        (applyInPandas) z-score proven by the ``grouped_zscore`` driver
        query; same math, no Python in the hot path, whole-stage
        codegen end to end. tests/test_group.py asserts the two paths
        agree to 1e-9."""
        from pyspark.sql import Window
        by = [by] if isinstance(by, str) else list(by)
        w = Window.partitionBy(*by)
        std = (F.stddev_samp if ddof == 1 else F.stddev_pop)
        z = ((F.col(col) - F.avg(col).over(w)) / std(col).over(w))
        if digits is not None:
            z = F.round(z, digits)
        out = self._sdf.withColumn(name, z)
        return DataFrame._make(out, self._index_cols,
                               self._data_cols + [name], self._order)

    # ----------------------------------------------------------- set ops
    # (absent in the reference, SURVEY.md §2.6 — engine extensions)

    def concat(self, other: "DataFrame") -> "DataFrame":
        l = self.to_spark(include_index=True)
        r = other.to_spark(include_index=True)
        return DataFrame.from_spark(l.unionByName(r, allowMissingColumns=True))

    def intersect(self, other: "DataFrame") -> "DataFrame":
        return DataFrame.from_spark(self.to_spark().intersect(other.to_spark()))

    def except_(self, other: "DataFrame") -> "DataFrame":
        return DataFrame.from_spark(self.to_spark().exceptAll(other.to_spark()))

    # ------------------------------------------------------------ casting

    def astype(self, dtype) -> "DataFrame":
        sdf = self._sdf
        if isinstance(dtype, dict):
            for c, t in dtype.items():
                self._check_cols([c])
                sdf = sdf.withColumn(c, F.col(c).cast(spark_type_of(t)))
        else:
            t = spark_type_of(dtype)
            for c in self._data_cols:
                sdf = sdf.withColumn(c, F.col(c).cast(t))
        return self._replace_sdf(sdf)

    # ---------------------------------------------------------------- IO

    def corr(self) -> "pd.DataFrame":
        """Pairwise Pearson correlation matrix of the numeric columns
        (pandas ``DataFrame.corr``). All n·(n−1)/2 ``corr`` aggregates
        run in ONE Spark job (single scan, map-side-combined moments);
        the k×k result materializes as pandas — it is statistics-sized,
        not data-sized."""
        import pandas as pd

        from .series import _is_numeric
        sch = {f.name: f.dataType for f in self._sdf.schema.fields}
        cols = [c for c in self._data_cols if _is_numeric(sch[c])]
        exprs = [F.corr(F.col(a).cast("double"), F.col(b).cast("double"))
                 .alias(f"{i}_{j}")
                 for i, a in enumerate(cols)
                 for j, b in enumerate(cols) if i < j]
        if not exprs:
            return pd.DataFrame(index=cols, columns=cols, dtype=float)
        row = self._sdf.agg(*exprs).first()
        out = pd.DataFrame(1.0, index=cols, columns=cols)
        for i, a in enumerate(cols):
            for j, b in enumerate(cols):
                if i < j:
                    v = row[f"{i}_{j}"]
                    out.loc[a, b] = out.loc[b, a] = \
                        float("nan") if v is None else v
        return out

    def cov(self) -> "pd.DataFrame":
        """Pairwise sample-covariance matrix of the numeric columns
        (pandas ``DataFrame.cov``) — all n·(n+1)/2 covar/var
        aggregates in ONE Spark job; the k×k result is
        statistics-sized pandas."""
        import pandas as pd

        from .series import _is_numeric
        sch = {f.name: f.dataType for f in self._sdf.schema.fields}
        cols = [c for c in self._data_cols if _is_numeric(sch[c])]
        exprs = [F.var_samp(F.col(c).cast("double")).alias(f"v_{i}")
                 for i, c in enumerate(cols)]
        exprs += [F.covar_samp(F.col(a).cast("double"),
                               F.col(b).cast("double"))
                  .alias(f"{i}_{j}")
                  for i, a in enumerate(cols)
                  for j, b in enumerate(cols) if i < j]
        if not cols:
            return pd.DataFrame(index=cols, columns=cols, dtype=float)
        row = self._sdf.agg(*exprs).first()
        out = pd.DataFrame(0.0, index=cols, columns=cols)
        for i, a in enumerate(cols):
            v = row[f"v_{i}"]
            out.loc[a, a] = float("nan") if v is None else v
            for j, b in enumerate(cols):
                if i < j:
                    v = row[f"{i}_{j}"]
                    out.loc[a, b] = out.loc[b, a] = \
                        float("nan") if v is None else v
        return out

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False) -> "DataFrame":
        """Per-column global rank (pandas ``DataFrame.rank``, float64):
        every numeric column runs the same partition-safe scheme, all
        in ONE chained lazy plan (the whole frame flows through each
        layout); never an unpartitioned window.

        - 'min'/'max'/'average': a dense ordinal over the values
          (nulls last), then that statistic of the tie group's
          consecutive ordinals in a window partitioned BY the value.
        - 'first': the dense ordinal breaks ties by LOGICAL position
          (a dense position over the frame order, or the row labels
          when there is none), never by the physical layout.
        - 'dense': the ordinal among the DISTINCT values (NULL
          last), equi-joined back on the value.

        NULLs stay unranked (na_option='keep'); ``pct`` divides by the
        per-column non-null (dense: distinct) counts, gathered in one
        broadcast aggregate."""
        return self._rank(self._numeric_cols(), method, ascending, pct)

    def _rank(self, cols, method, ascending, pct) -> "DataFrame":
        from pyspark.sql import Window

        from ..plans.ordinal import with_dense_ordinal
        if method not in ("average", "min", "max", "first", "dense"):
            raise ValueError(
                f"unsupported rank method: {method!r} (supported: "
                f"'average', 'min', 'max', 'first', 'dense')")
        if not cols:
            return self
        sdf = self._sdf
        tie = []
        if method == "first":
            order = order_exprs(self._order or [], sdf.columns)
            if not order and ORD_COL in sdf.columns:
                order = [F.col(ORD_COL).asc()]
            sdf = with_dense_ordinal(sdf, order or None, name="__rkp__")
            tie = [F.col("__rkp__").asc()]
        for c in cols:
            vo = (F.col(c).asc_nulls_last() if ascending
                  else F.col(c).desc_nulls_last())
            if method == "dense":
                # NULL is one more distinct value, ordered last: every
                # row finds its key in the inner join
                keyed = with_dense_ordinal(
                    sdf.select(c).distinct(), [vo], name="__dr__") \
                    .withColumnRenamed(c, "__dv__")
                sdf = sdf.join(keyed, F.col(c).eqNullSafe(F.col("__dv__")))
                r = (F.col("__dr__") + 1).cast("double")
                sdf = sdf.withColumn(f"__rk_{c}__", F.when(
                    F.col(c).isNotNull(), r)).drop("__dv__", "__dr__")
                continue
            sdf = with_dense_ordinal(sdf, [vo, *tie], name="__rn__")
            w = Window.partitionBy(F.col(c))
            # ranks within a tie group are consecutive ordinals, so
            # min/max/average of the group's ordinals give the three
            # pandas tie policies from the same window
            r = {"first": F.col("__rn__"),
                 "min": F.min("__rn__").over(w),
                 "max": F.max("__rn__").over(w),
                 "average": F.avg("__rn__").over(w)}[method]
            sdf = sdf.withColumn(f"__rk_{c}__", F.when(
                F.col(c).isNotNull(), (r + 1).cast("double"))) \
                .drop("__rn__")
        if pct:
            dens = sdf.agg(*[
                (F.count_distinct(F.col(c)) if method == "dense"
                 else F.count(F.col(c))).cast("double")
                .alias(f"__den_{c}__") for c in cols])
            sdf = sdf.crossJoin(F.broadcast(dens))
            for c in cols:
                sdf = sdf.withColumn(
                    f"__rk_{c}__",
                    F.col(f"__rk_{c}__") / F.col(f"__den_{c}__")) \
                    .drop(f"__den_{c}__")
        ranked = set(cols)
        sel = [(F.col(f"__rk_{cc}__").alias(cc) if cc in ranked
                else F.col(cc)) for cc in self._sdf.columns]
        return DataFrame._make(sdf.select(*sel), self._index_cols,
                               self._data_cols, self._order)

    def to_view(self, name: str) -> None:
        """Register this frame (index included) as a session temp view
        so ``bl.sql(...)`` — or raw ``spark.sql`` — can query it: the
        escape hatch into full Spark SQL for anything the pandas
        surface doesn't express. Lazy: the view holds the plan, not
        data."""
        self.to_spark(include_index=True).createOrReplaceTempView(name)

    def to_csv(self, filepath: str, sep: str = ",", header: bool = True,
               index: bool = True, single_file: bool = True):
        """CSV sink (io/csv.py:56-87). ``single_file`` collects through
        pandas — only for small results; at scale use False for a
        distributed write."""
        sdf = self.to_spark(include_index=index)
        if single_file:
            self.to_pandas().to_csv(filepath, sep=sep, header=header, index=index)
        else:
            # escape='"' => RFC 4180 quote doubling, matching the
            # pandas single-file face and read_csv's reader options
            sdf.write.mode("overwrite").option("header", header).option(
                "sep", sep).option("escape", '"').option(
                "ignoreLeadingWhiteSpace", False).option(
                "ignoreTrailingWhiteSpace", False).csv(filepath)

    def to_parquet(self, filepath: str, partition_by=None, mode="overwrite"):
        w = self.to_spark(include_index=True).write.mode(mode)
        if partition_by:
            w = w.partitionBy(*([partition_by] if isinstance(partition_by, str)
                                else partition_by))
        w.parquet(filepath)

    def to_json(self, filepath: str, mode: str = "overwrite"):
        """JSON-lines sink (distributed; one file per partition)."""
        self.to_spark(include_index=True).write.mode(mode).json(filepath)

    def to_orc(self, filepath: str, mode: str = "overwrite"):
        self.to_spark(include_index=True).write.mode(mode).orc(filepath)

    def assign(self, **kwargs) -> "DataFrame":
        """pandas ``assign``: return a new frame with extra/replaced
        columns. Values may be Series expressions over this frame,
        scalars, or callables taking the frame (evaluated in keyword
        order, seeing earlier assignments like pandas)."""
        from .series import Series
        cur = self._shallow()
        for name, v in kwargs.items():
            if callable(v) and not isinstance(v, Series):
                v = v(cur)
            cur[name] = v
        return cur

    def _shallow(self) -> "DataFrame":
        """Copy whose __setitem__ does not mutate self (assign
        semantics)."""
        return DataFrame._make(self._sdf, list(self._index_cols),
                               list(self._data_cols), self._order)

    def _align_join(self, other: "DataFrame", how: str):
        """ONE join of this frame's and ``other``'s data columns by
        index label (pandas alignment), shared by combine,
        combine_first, align and the Series faces over them. The
        materialized index columns pair up level by level (``other``'s
        take this frame's names; a carried RangeIndex ``__ord__`` is a
        label column like any other); two frames with no index column
        align on fresh dense positions — the implicit RangeIndex —
        exported as ``__ord__``. Data columns come out as
        ``__l_<c>__`` / ``__r_<c>__``, with ``__l_has__`` /
        ``__r_has__`` marking which side held the label. Returns
        ``(sdf, keys)``."""
        idx = [c for c in self._index_cols if c in self._sdf.columns]
        oidx = [c for c in other._index_cols if c in other._sdf.columns]
        if len(idx) != len(oidx):
            raise ValueError(
                "alignment needs the same index on both frames (got "
                f"{idx!r} vs {oidx!r}); set_index first")

        def side(df, pref, keys):
            return keys + [F.col(c).alias(f"__{pref}_{c}__")
                           for c in df._data_cols] + [
                F.lit(True).alias(f"__{pref}_has__")]

        if idx:
            left = self._sdf.select(*side(self, "l", idx))
            right = other._sdf.select(*side(other, "r", [
                F.col(o).alias(c) for o, c in zip(oidx, idx)]))
            keys = idx
        else:
            from ..plans.ordinal import POS_COL
            pos = [F.col(POS_COL).alias(ORD_COL)]
            left = self._ordered_sdf().select(*side(self, "l", pos))
            right = other._ordered_sdf().select(*side(other, "r", pos))
            keys = [ORD_COL]
        return left.join(right, keys, how), keys

    def combine_first(self, other: "DataFrame") -> "DataFrame":
        """Patch NULLs with ``other``'s values at the same index
        labels (pandas ``combine_first``): one full-outer
        :meth:`_align_join`, per-column coalesce(self, other) —
        columns only one side has pass through; rows come out in
        label order (pandas sorts the index union). Duplicate labels
        on ONE side multiply rows exactly like pandas; labels
        duplicated on BOTH sides produce the join's per-label cross
        (pandas pairs them positionally — a known divergence)."""
        j, keys = self._align_join(other, "full_outer")
        cols = list(dict.fromkeys(
            list(self._data_cols) + list(other._data_cols)))
        mine, theirs = set(self._data_cols), set(other._data_cols)
        out = j.select(*keys, *[
            (F.coalesce(F.col(f"__l_{c}__"), F.col(f"__r_{c}__"))
             if c in mine and c in theirs
             else F.col(f"__{'l' if c in mine else 'r'}_{c}__")).alias(c)
            for c in cols])
        return DataFrame._make(out, keys, cols, [(k, True) for k in keys])

    def melt(self, id_vars=None, value_vars=None,
             var_name: str = "variable",
             value_name: str = "value") -> "DataFrame":
        """Wide-to-long reshape (pandas melt; the inverse of ``pivot``)
        via Spark's native unpivot — a narrow map, no shuffle.
        ``id_vars`` is optional like pandas (all columns melt)."""
        id_vars = ([id_vars] if isinstance(id_vars, str)
                   else list(id_vars or []))
        value_vars = ([value_vars] if isinstance(value_vars, str)
                      else list(value_vars or
                                [c for c in self._data_cols
                                 if c not in id_vars]))
        self._check_cols(id_vars + value_vars)
        out = self._sdf.unpivot(id_vars, value_vars, var_name, value_name)
        return DataFrame._make(out, [], out.columns, None)

    def explode(self, column: str) -> "DataFrame":
        """pandas ``DataFrame.explode``: one output row per element of
        a list column, the other columns repeated; empty or NULL
        arrays yield one row with NULL in ``column`` (explode_outer —
        matching pandas' NaN row). A narrow generator, no shuffle;
        each element row repeats its source row's index label, like
        pandas (a carried RangeIndex exports its source labels)."""
        self._check_cols([column])
        if not isinstance(self._sdf.schema[column].dataType,
                          T.ArrayType):
            # pandas passes non-list values through unchanged
            return self
        others = [c for c in self._sdf.columns if c != column]
        idx = list(self._index_cols)
        if ORD_COL in self._sdf.columns:
            # posexplode + composite ordinal: the pre-explode ORD_COL
            # alone would tie every element of one source row, making
            # the dense-ordinal fallback's intra-row element order
            # nondeterministic in positional ops after explode (pandas
            # preserves element order). Pack (source ord, element pos)
            # lexicographically into one long — 21 low bits for the
            # position (arrays up to 2M elements), 42 for the source
            # ordinal; both generous, documented bounds.
            out = self._sdf.select(
                *others,
                F.posexplode_outer(F.col(column)).alias("__epos__", column))
            if ORD_COL in idx:
                # the pre-pack ordinal is the source row label
                out = out.withColumn(_IDX, F.col(ORD_COL))
                idx = [_IDX if c == ORD_COL else c for c in idx]
            out = out.withColumn(
                ORD_COL,
                F.shiftleft(F.col(ORD_COL), 21)
                + F.coalesce(F.col("__epos__"), F.lit(0))).drop("__epos__")
        else:
            out = self._sdf.select(
                *others, F.explode_outer(F.col(column)).alias(column))
        idx = [c for c in idx if c in out.columns and c != ORD_COL]
        return DataFrame._make(out, idx, list(self._data_cols),
                               [(ORD_COL, True)]
                               if ORD_COL in out.columns else None)

    def stack(self, dropna: bool = True, var_name: str = "variable") -> Series:
        """pandas ``DataFrame.stack``: fold the data columns into one
        long Series indexed by (row index..., column name). Built as
        an array-of-structs + posexplode — a narrow generator, no
        shuffle — with the element position packed into the composite
        ordinal so row-major pandas order survives positional ops.
        Values are coerced to double when every column is numeric,
        else to string (pandas' object-dtype analogue). ``dropna``
        (pandas default True) drops NULL cells. The new index level is
        named ``var_name`` (pandas leaves it unnamed; Spark columns
        need a name)."""
        cols = self._data_cols
        if not cols:
            raise ValueError("stack needs at least one data column")
        num = all(_is_numeric(self._sdf.schema[c].dataType)
                  for c in cols)
        typ = "double" if num else "string"
        arr = F.array(*[
            F.struct(F.lit(c).alias("v"),
                     F.col(c).cast(typ).alias("x"))
            for c in cols])
        others = [c for c in self._sdf.columns if c not in cols]
        out = self._sdf.select(
            *[c for c in others if c != ORD_COL],
            *([F.col(ORD_COL)] if ORD_COL in self._sdf.columns else []),
            F.posexplode(arr).alias("__spos__", "__sv__"))
        real_idx = [c for c in self._index_cols
                    if c in out.columns and c != ORD_COL]
        sel = [F.col(c) for c in out.columns
               if c not in (ORD_COL, "__spos__", "__sv__")]
        if ORD_COL in out.columns:
            # the source ordinal becomes the exported row label (the
            # pandas first index level); a composite (source ordinal,
            # column position) packed ordinal keeps row-major order
            # deterministic for downstream positional ops. Fan-out is
            # a FIXED small factor (len(cols) <= 2^21), so explode's
            # shiftleft packing applies verbatim.
            if not real_idx:
                sel.append(F.col(ORD_COL).alias("__srow__"))
                real_idx = ["__srow__"]
            sel.append((F.shiftleft(F.col(ORD_COL), 21)
                        + F.col("__spos__")).alias(ORD_COL))
        out = out.select(
            *sel,
            F.col("__sv__.v").alias(var_name),
            F.col("__sv__.x").alias("__sval__"))
        if dropna:
            out = out.filter(F.col("__sval__").isNotNull())
        return Series._make(out, F.col("__sval__"),
                            real_idx + [var_name], None,
                            [(ORD_COL, True)] if ORD_COL in out.columns
                            else None)

    def transpose(self, max_rows: int = 10000) -> "DataFrame":
        """Swap rows and columns (pandas ``.T``). Inherently a
        driver-side reshape for a columnar engine — the row count
        becomes the COLUMN count, so it is only meaningful for
        driver-sized frames (agg outputs, describe tables). Guarded by
        ``max_rows`` with a count check before anything is collected.
        Column names come from the stringified index labels."""
        n = self._sdf.count()
        if n > max_rows:
            raise ValueError(
                f"transpose of a {n}-row frame would create {n} "
                f"columns (max_rows={max_rows}); transpose is for "
                "driver-sized frames — aggregate first")
        pdf = self.to_pandas().T
        pdf.columns = [str(c) for c in pdf.columns]
        pdf = pdf.reset_index().rename(columns={"index": "column"})
        return DataFrame({c: pdf[c].to_numpy() for c in pdf.columns}) \
            .set_index("column")

    @property
    def T(self) -> "DataFrame":
        return self.transpose()

    def update(self, other: "DataFrame", overwrite: bool = True,
               verify_integrity: bool = True) -> "DataFrame":
        """pandas ``DataFrame.update`` (returning a new frame — the
        engine is immutable): overwrite this frame's values with
        ``other``'s non-null values at matching index labels, shared
        columns only. Self's row set never changes (left join on the
        index — co-partitioned keys, nothing driver-sized).
        ``overwrite=False`` fills only this frame's NULLs instead.
        Duplicate labels in ``other`` would silently MULTIPLY rows
        through the join, so they raise like pandas; pass
        ``verify_integrity=False`` to skip that one-hash-agg check
        when uniqueness is guaranteed upstream."""
        idx = [c for c in self._index_cols if c in self._sdf.columns]
        oidx = [c for c in other._index_cols if c in other._sdf.columns]
        if not idx or len(idx) != len(oidx):
            raise ValueError(
                "update needs the same materialized index on both "
                f"frames (got {idx!r} vs {oidx!r}); set_index first")
        if verify_integrity:
            dup = (other._sdf.groupBy(*oidx)
                   .agg(F.count(F.lit(1)).alias("__n__"))
                   .filter(F.col("__n__") > 1).limit(1).count())
            if dup:
                raise ValueError(
                    "cannot update from a frame with duplicate index "
                    "labels (rows would multiply through the join); "
                    "drop_duplicates first or pass "
                    "verify_integrity=False")
        shared = [c for c in self._data_cols if c in other._data_cols]
        # labels pair up level by level, like every index alignment
        r = other._sdf.select(
            *[F.col(o).alias(c) for o, c in zip(oidx, idx)],
            *[F.col(c).alias(f"__up_{c}__") for c in shared])
        joined = self._sdf.join(r, idx, "left")
        sel = []
        for c in self._sdf.columns:
            if c in shared:
                o, s = F.col(f"__up_{c}__"), F.col(c)
                e = F.coalesce(o, s) if overwrite else F.coalesce(s, o)
                sel.append(e.alias(c))
            elif not c.startswith("__up_"):
                sel.append(F.col(c))
        return self._replace_sdf(joined.select(*sel))

    def map(self, func, na_action: str | None = None,
            new_dtype=None) -> "DataFrame":
        """Elementwise function over every data column (pandas
        ``DataFrame.map`` / legacy ``applymap``): ONE select applying
        an Arrow-vectorized pandas UDF per column — never a
        row-at-a-time Python UDF. Each column keeps its own type
        unless ``new_dtype`` forces one. The func is called per
        ELEMENT (the pandas contract) inside Arrow batches — the data
        moves vectorized, the inner Python loop is the honest cost of
        an arbitrary scalar callable; prefer ``Series.apply`` with a
        NumPy-vectorized func on hot paths."""
        from ..functions._udf import scalar_pandas_udf
        if na_action not in (None, "ignore"):
            raise ValueError("na_action must be None or 'ignore'")
        sel = []
        for c in self._sdf.columns:
            if c in self._data_cols:
                ret = (spark_type_of(new_dtype) if new_dtype is not None
                       else self._sdf.schema[c].dataType)
                udf = scalar_pandas_udf(
                    lambda s, _f=func: s.map(_f, na_action=na_action),
                    ret)
                sel.append(udf(F.col(c)).alias(c))
            else:
                sel.append(F.col(c))
        return self._replace_sdf(self._sdf.select(*sel))

    def apply(self, func, axis: int = 0, new_dtype=None,
              result_name: str = "apply") -> Series:
        """pandas ``DataFrame.apply``.

        ``axis=0`` (column-wise) supports aggregations — a name from
        the agg inventory or the matching NumPy/builtin callable
        (``np.sum``, ``np.mean``, ...) — and compiles to the same ONE
        Spark job as ``df.sum()`` (per-column scalar aggs combined
        into a Series). Arbitrary per-column callables are
        elementwise territory: use ``df.map`` / ``Series.apply``.

        ``axis=1`` (row-wise) streams Arrow batches through
        ``mapInPandas`` and calls pandas' own row ``apply`` per batch
        — the honest slow path for an arbitrary row function; result
        dtype defaults to double (pass ``new_dtype=`` to override).
        Index columns ride along so labels and order survive."""
        if axis in (0, "index"):
            if isinstance(func, str):
                return self._agg_row(func)
            npmap = {np.sum: "sum", np.mean: "mean", np.min: "min",
                     np.max: "max", np.prod: "prod", np.std: "std",
                     np.var: "var", sum: "sum", min: "min", max: "max",
                     len: "count"}
            try:
                agg = npmap.get(func)
            except TypeError:
                agg = None
            if agg:
                return self._agg_row(agg)
            raise ValueError(
                "axis=0 apply supports aggregation names or their "
                "NumPy/builtin equivalents (np.sum, np.mean, ...); "
                "for elementwise functions use df.map or "
                "Series.apply")
        if axis not in (1, "columns"):
            raise ValueError(f"axis must be 0 or 1, got {axis!r}")
        ret = (spark_type_of(new_dtype) if new_dtype is not None
               else T.DoubleType())
        keep = list(dict.fromkeys(
            c for c in self._sdf.columns
            if c in self._index_cols or c == ORD_COL))
        data = list(self._data_cols)
        out_schema = T.StructType(
            [self._sdf.schema[c] for c in keep]
            + [T.StructField(result_name, ret)])

        def gen(batches):
            for pdf in batches:
                out = pdf[keep].copy()
                out[result_name] = pdf[data].apply(func, axis=1)
                yield out

        out = self._sdf.select(*keep, *data).mapInPandas(gen, out_schema)
        order = [(c, a) for c, a in (self._order or []) if c in keep]
        return Series._make(out, F.col(result_name), self._index_cols,
                            result_name, order or None)

    def applymap(self, func, na_action: str | None = None,
                 new_dtype=None) -> "DataFrame":
        return self.map(func, na_action=na_action, new_dtype=new_dtype)

    def transform(self, func) -> "DataFrame":
        """pandas ``DataFrame.transform`` — shape-preserving per-
        column application. String/builtin names compile to JVM
        unary expressions per column (one projection); arbitrary
        callables ride the same Arrow elementwise path as
        :meth:`map`."""
        if callable(func):
            return self.map(func)
        out = DataFrame._make(self._sdf, self._index_cols,
                              self._data_cols, self._order)
        for c in self._numeric_cols():
            out[c] = out[c].transform(func)
        return out

    def eval(self, expr: str, local_dict: dict | None = None):
        """pandas ``DataFrame.eval``, Spark-first: the expression is
        parsed with Python's ``ast`` and compiled to ONE Catalyst
        expression via ``F.expr`` — fully codegen'd, no Python in the
        loop. The supported subset is arithmetic (incl. ``**``,
        python-sign ``%``, ``//``), comparisons (chained too),
        ``in [..]``/``not in``, ``and/or/not``, and column names; one
        optional leading ``name = ...`` assignment returns a new
        frame with the column appended, otherwise the expression
        comes back as a Series. ``local_dict=`` is the engine
        spelling of pandas' ``@var``: driver scalars and lists inline
        as literals; names that are also columns resolve to the
        COLUMN (pandas' plain-name order)."""
        import re as _re
        src = expr.strip()
        if "@" in src:
            raise ValueError(
                "'@name' is pandas' local-variable syntax; pass the "
                "values via eval(expr, local_dict={'name': value}) "
                "and reference them as plain names instead")
        # pandas backtick-quoted names (spaces, dots, keywords) are
        # not python syntax — pre-lex them into placeholder names
        # the ast can parse, mapped back to the real column at emit
        bt_map: dict[str, str] = {}

        def _bt(m2):
            ph = f"__BT{len(bt_map)}__"
            bt_map[ph] = m2.group(1)
            return ph

        src = _re.sub(r"`([^`]*)`", _bt, src)
        target = None
        m = _re.match(r"^([A-Za-z_]\w*)\s*=(?!=)\s*(.+)$", src,
                      _re.S)
        if m:
            target, src = m.group(1), m.group(2)
            target = bt_map.get(target, target)
        col = F.expr(_eval_to_sql(src, local_dict,
                                  self._sdf.columns, bt_map))
        if target is None:
            from .series import Series
            return Series._make(self._sdf, col, self._index_cols,
                                None, self._order)
        out = self._sdf.withColumn(target, col)
        data = self._data_cols + ([target] if target not in
                                  self._data_cols else [])
        return DataFrame._make(out, self._index_cols, data,
                               self._order)

    def first_valid_index(self):
        """First index label whose row has ANY non-null data value
        (pandas contract) — one ordered limit-1 probe job."""
        return self._valid_index_probe(reverse=False)

    def last_valid_index(self):
        return self._valid_index_probe(reverse=True)

    def _valid_index_probe(self, reverse: bool):
        from ..plans.ordinal import POS_COL
        idx = [c for c in self._index_cols if c in self._sdf.columns]
        cond = None
        for c in self._data_cols:
            n = F.col(c).isNotNull()
            cond = n if cond is None else (cond | n)
        # without an index column the label is the row's position (the
        # implicit RangeIndex)
        sdf = (self._sdf if idx else self._ordered_sdf()).where(
            cond if cond is not None else F.lit(True))
        if idx:
            order = self._order or ([(ORD_COL, True)]
                                    if ORD_COL in sdf.columns else [])
            ob = (rev_order_exprs if reverse else order_exprs)(
                order, sdf.columns)
        else:
            ob = [F.col(POS_COL).desc() if reverse
                  else F.col(POS_COL).asc()]
        if ob:
            sdf = sdf.orderBy(*ob)
        rows = sdf.select(idx[0] if idx else POS_COL).limit(1).collect()
        return rows[0][0] if rows else None

    def truncate(self, before=None, after=None) -> "DataFrame":
        """Rows with index label in ``[before, after]`` (pandas
        ``truncate``; assumes a sorted index like pandas) — a pure
        index-range filter, pushdown-friendly."""
        if not self._index_cols:
            raise ValueError("truncate needs an index")
        if before is not None and after is not None:
            try:
                inverted = before > after
            except TypeError:
                inverted = False
            if inverted:
                raise ValueError(
                    f"Truncate: {after!r} must be after {before!r}")
        key = F.col(self._index_cols[0])
        cond = F.lit(True)
        if before is not None:
            cond = cond & (key >= F.lit(before))
        if after is not None:
            cond = cond & (key <= F.lit(after))
        return DataFrame._make(self._sdf.where(cond),
                               self._index_cols, self._data_cols,
                               self._order)

    def _tod_micros(self):
        """Microseconds-of-day of the (timestamp) index column."""
        if not self._index_cols:
            raise ValueError("needs a timestamp index")
        t = F.col(self._index_cols[0]).cast("timestamp")
        return F.unix_micros(t) - F.unix_micros(F.date_trunc("DAY", t))

    @staticmethod
    def _parse_tod(t) -> int:
        import pandas as pd
        ts = pd.Timestamp(f"1970-01-01 {t}") if isinstance(t, str) \
            else pd.Timestamp.combine(pd.Timestamp(0), t)
        return int(ts.value // 1000)

    def at_time(self, time) -> "DataFrame":
        """Rows whose index time-of-day equals ``time`` (pandas
        ``at_time``) — one exact integer filter on microseconds of
        day, pushdown-friendly."""
        cond = self._tod_micros() == F.lit(self._parse_tod(time))
        return DataFrame._make(self._sdf.where(cond),
                               self._index_cols, self._data_cols,
                               self._order)

    def between_time(self, start_time, end_time,
                     inclusive: str = "both") -> "DataFrame":
        """Rows whose index time-of-day lies between ``start_time``
        and ``end_time`` (pandas ``between_time``; wraps midnight
        when start > end) — pure integer filters."""
        if inclusive not in ("both", "neither", "left", "right"):
            raise ValueError(f"bad inclusive {inclusive!r}")
        s = self._parse_tod(start_time)
        e = self._parse_tod(end_time)
        tod = self._tod_micros()
        lo = tod >= s if inclusive in ("both", "left") else tod > s
        hi = tod <= e if inclusive in ("both", "right") else tod < e
        cond = (lo & hi) if s <= e else (lo | hi)
        return DataFrame._make(self._sdf.where(cond),
                               self._index_cols, self._data_cols,
                               self._order)

    def asfreq(self, freq: str, method: str | None = None,
               fill_value=None) -> "DataFrame":
        """Conform to a fixed-frequency grid (pandas ``asfreq``),
        Spark-first: the grid is a DISTRIBUTED ``date_range``
        (spark.range arithmetic — a year at 1s is 31M rows that never
        touch the driver; only the two boundary stamps do), then ONE
        join: exact equi-join for ``method=None`` (off-grid originals
        drop, like pandas), or the engine's as-of join for
        ``method='ffill'/'bfill'`` (each grid stamp takes the
        last/next original row — pandas reindex-method semantics).
        ``fill_value`` fills only the INTRODUCED cells."""
        from .. import date_range
        if method not in (None, "ffill", "bfill", "pad", "backfill"):
            raise ValueError(f"bad method {method!r}")
        if not self._index_cols:
            raise ValueError("asfreq needs a timestamp index")
        k = self._index_cols[0]
        lohi = self._sdf.agg(F.min(k).alias("lo"),
                             F.max(k).alias("hi")).first()
        if lohi["lo"] is None:
            return self
        grid = date_range(str(lohi["lo"]), str(lohi["hi"]),
                          freq=freq)
        gsdf, galias = grid._select("__grid_ts__")
        gsdf = gsdf.select(F.col(galias).alias(k))
        data = list(self._data_cols)
        if method in ("ffill", "pad", "bfill", "backfill"):
            from ..operators.joins import asof_join
            right = self._sdf.select(
                F.col(k), *[F.col(c) for c in data])
            direction = ("backward"
                         if method in ("ffill", "pad") else "forward")
            out = asof_join(gsdf, right, on=k, direction=direction,
                            suffix="")
            keep = [c if c in out.columns else f"{c}" for c in data]
            out = out.select(k, *keep)
        else:
            right = self._sdf.select(
                F.col(k).alias("__orig_k__"),
                *[F.col(c) for c in data])
            out = gsdf.join(
                right, F.col(k) == F.col("__orig_k__"), "left")
            if fill_value is not None:
                intro = F.col("__orig_k__").isNull()
                for c in data:
                    out = out.withColumn(
                        c, F.when(intro, F.lit(fill_value))
                        .otherwise(F.col(c)))
            out = out.drop("__orig_k__")
        return DataFrame._make(out, [k], data, [(k, True)])

    def asof(self, where):
        """Latest row without any NaN at or before label(s) ``where``
        (pandas ``DataFrame.asof``). A scalar pays one ordered
        limit-1 probe (returns a pandas Series row; a miss on an empty
        frame raises IndexError like pandas); a label list rides the
        engine's as-of join over the all-columns-valid row subset
        (returns a frame indexed by ``where`` in request order, no
        per-label loop)."""
        import pandas as pd
        if not self._index_cols:
            raise ValueError("asof needs an index")
        k = self._index_cols[0]
        data = list(self._data_cols)
        allv = None
        for c in data:
            n = F.col(c).isNotNull()
            allv = n if allv is None else (allv & n)
        if not isinstance(where, (list, tuple, np.ndarray)):
            # duplicate index labels at the as-of stamp: pandas takes
            # the LAST row in original order — positional tiebreak
            # (order by a value column alone is layout-dependent under
            # ties)
            sdf = self._sdf
            tie = ([F.col(ORD_COL).desc()] if ORD_COL in sdf.columns
                   else [])
            if not tie:
                for oc, asc in (self._order or []):
                    if oc in sdf.columns and oc != k:
                        tie.append(F.col(oc).desc() if asc
                                   else F.col(oc).asc())
            rows = (sdf.where((F.col(k) <= F.lit(where))
                              & (allv if allv is not None
                                 else F.lit(True)))
                    .orderBy(F.col(k).desc(), *tie)
                    .select(*data).limit(1).collect())
            if rows:
                return pd.Series(rows[0].asDict(), name=where)
            if not sdf.limit(1).count():
                # pandas raises on an empty frame (IndexError from its
                # index[0] probe) — mirror it
                raise IndexError("asof on an empty frame")
            return pd.Series({c: np.nan for c in data}, name=where)
        from ..operators.joins import asof_join
        spark = self._sdf.sparkSession
        left = spark.createDataFrame(
            [(i, w) for i, w in enumerate(where)], ["__wpos__", k])
        right = (self._sdf.where(allv if allv is not None
                                 else F.lit(True))
                 .select(F.col(k), *data))
        out = asof_join(left, right, on=k, direction="backward")
        cols = [c if c in out.columns else f"{c}_right"
                for c in data]
        out = out.select(
            F.col("__wpos__"), F.col(k), *[F.col(c).alias(d)
                                          for c, d in zip(cols, data)])
        return DataFrame._make(out, [k], data, [("__wpos__", True)])

    def dot(self, other):
        """Matrix product (pandas ``DataFrame.dot``): ``other`` is
        indexed by THIS frame's columns, so it is k x m with k = the
        column count — driver-sized BY CONSTRUCTION. It collects
        once and the product compiles to a PURE PROJECTION (m linear
        combinations of the k columns, whole-stage codegen) — no
        shuffle, no join, scales with the big side's scan."""
        import pandas as pd
        cols = self._numeric_cols()
        if isinstance(other, DataFrame):
            opdf = other.to_pandas()
        elif isinstance(other, pd.DataFrame):
            opdf = other
        else:
            from .series import Series as _S
            if isinstance(other, _S):
                opdf = other.to_pandas().to_frame("__dot__")
            elif isinstance(other, pd.Series):
                opdf = other.to_frame("__dot__")
            else:
                opdf = pd.DataFrame(np.asarray(other))
                opdf.index = cols[:len(opdf)]
        missing = [c for c in cols if c not in opdf.index]
        if missing or len(opdf.index) != len(cols):
            raise ValueError("matrices are not aligned")
        exprs = []
        for j in opdf.columns:
            terms = [F.col(c) * F.lit(float(opdf.loc[c, j]))
                     for c in cols]
            e = terms[0]
            for t in terms[1:]:
                e = e + t
            exprs.append(e.alias(str(j)))
        keep = [F.col(c) for c in self._sdf.columns
                if c not in self._data_cols]
        out = self._sdf.select(*keep, *exprs)
        names = [str(j) for j in opdf.columns]
        res = DataFrame._make(out, self._index_cols, names,
                              self._order)
        return res[names[0]] if opdf.columns.tolist() == ["__dot__"] \
            else res

    def xs(self, key, level=None, drop_level: bool = True):
        """Cross-section at index label ``key`` (pandas ``xs``).
        Without ``level`` on a FLAT index: the matching ROW as a
        pandas Series — an explicit driver-side fetch like ``iloc``
        scalars; duplicate labels return a frame instead
        (``drop_level`` is a no-op here, pandas parity — probed
        r11). Without ``level`` on a MULTIINDEX: pandas consumes
        the first ``len(key)`` levels (scalar key = level 0) —
        routed through the level path below, ``drop_level``
        honored. PINNED divergence: when the tuple consumes EVERY
        level, pandas returns a row Series iff the whole index is
        unique; deciding that needs a global-uniqueness job, so the
        engine always returns the level-path shape (a frame keeping
        the full index — exactly pandas' own non-unique-index and
        ``level=``-face shape). Spell ``.loc[key]`` for the row. With ``level=`` (name or int position): a
        DISTRIBUTED filter on that index level, the level dropped
        from the result index (pandas shape: always a frame, even
        for a single match) — no collect, stays a plan."""
        import pandas as pd
        if not self._index_cols:
            raise ValueError("xs needs an index")
        if level is not None:
            idx = list(self._index_cols)
            if len(idx) < 2:
                # pandas parity: level= demands a MultiIndex
                raise TypeError("Index must be a MultiIndex")

            def _resolve(lv):
                if isinstance(lv, (int, np.integer)):
                    if not -len(idx) <= lv < len(idx):
                        raise IndexError(
                            f"Too many levels: Index has only "
                            f"{len(idx)} levels, {lv} is not a "
                            f"valid level number")
                    return idx[int(lv)]
                if lv in idx:
                    return lv
                raise KeyError(f"Level {lv} not found")

            if isinstance(level, (list, tuple)):
                keys = (list(key) if isinstance(key, (list, tuple))
                        else [key])
                if len(keys) != len(level):
                    raise ValueError(
                        f"key {key!r} and level {level!r} must have "
                        "the same length")
                ks = [_resolve(lv) for lv in level]
            else:
                ks = [_resolve(level)]
                keys = [key]
            cond = F.lit(True)
            for k, kv in zip(ks, keys):
                cond = cond & (F.col(k) == F.lit(_py(kv)))
            sel = self._sdf.filter(cond)
            # pandas raises KeyError on a miss — one tiny gate job
            if sel.limit(1).count() == 0:
                raise KeyError(key)
            remaining = [c for c in idx if c not in ks]
            # pandas quirk: when EVERY level is consumed, the full
            # index stays (xs keeps what it cannot drop)
            if not drop_level or not remaining:
                return DataFrame._make(sel, idx, self._data_cols,
                                       self._order)
            order = [(c, a) for c, a in (self._order or [])
                     if c not in ks]
            return DataFrame._make(sel.drop(*ks), remaining,
                                   self._data_cols, order)
        if len(self._index_cols) > 1:
            keys = list(key) if isinstance(key, tuple) else [key]
            return self.xs(
                tuple(keys) if len(keys) > 1 else keys[0],
                level=list(range(len(keys))),
                drop_level=drop_level)
        k = self._index_cols[0]
        sel = self._sdf.where(F.col(k) == F.lit(key))
        rows = sel.select(*self._data_cols).limit(2).collect()
        if not rows:
            raise KeyError(key)
        if len(rows) > 1:
            return DataFrame._make(sel, self._index_cols,
                                   self._data_cols, self._order)
        return pd.Series(rows[0].asDict(), name=key)

    def reindex_like(self, other: "DataFrame",
                     fill_value=None) -> "DataFrame":
        """Conform to ``other``'s index and columns (pandas
        ``reindex_like``), fully DISTRIBUTED on the row axis:
        other's index column left-joins this frame — no driver-side
        label collect, unlike the list-driven :meth:`reindex`."""
        if not self._index_cols or not other._index_cols:
            raise ValueError("reindex_like needs an index on both")
        k = self._index_cols[0]
        ok_ = other._index_cols[0]
        # keep other's labels AS-IS (duplicates included — pandas
        # returns one row per duplicate target label) tagged with
        # their positions so the result follows other's order
        from ..plans.ordinal import POS_COL
        ocols = [F.col(ok_).alias(k)] + [
            F.col(c) for c, _ in (other._order or [])
            if c in other._sdf.columns and c != ok_]
        osel = other._sdf.select(*ocols)
        labels = with_dense_ordinal(
            osel, order_exprs(other._order or [], osel.columns)
            or None, name=POS_COL).select(k, POS_COL)
        marked = self._sdf.withColumn("__had__", F.lit(True))
        out = labels.join(marked, k, "left")
        fv = F.lit(fill_value)
        data = []
        for c in other._data_cols:
            if c in self._data_cols:
                e = (F.when(F.col("__had__").isNull(), fv)
                     .otherwise(F.col(c))
                     if fill_value is not None else F.col(c))
            else:
                e = fv if fill_value is not None \
                    else F.lit(None).cast("double")
            data.append(e.alias(c))
        out = out.select(F.col(k), F.col(POS_COL), *data)
        return DataFrame._make(out, [k], list(other._data_cols),
                               [(POS_COL, True)])

    def combine(self, other: "DataFrame", func,
                fill_value=None) -> "DataFrame":
        """pandas ``DataFrame.combine``: column-wise ``func(s1, s2)``
        over the index-aligned pair (one full-outer
        :meth:`_align_join`). Engine flavor: ``func`` receives ENGINE
        Series (lazy Column expressions over the joined plan) and
        must return one — compositions of Series ops stay whole-stage
        codegen'd, one join total. Columns present on one side only
        come through as NULL (or ``fill_value``)."""
        from .series import Series
        j, keys = self._align_join(other, "full_outer")
        order = [(k, True) for k in keys]
        cols = list(dict.fromkeys(
            list(self._data_cols) + list(other._data_cols)))
        fv = F.lit(fill_value) if fill_value is not None else None

        def side(pref, c, have):
            if not have:
                return F.lit(None).cast("double") if fv is None else fv
            e = F.col(f"__{pref}_{c}__")
            return F.coalesce(e, fv) if fv is not None else e

        exprs = []
        for c in cols:
            s1 = Series._make(j, side("l", c, c in self._data_cols),
                              keys, c, order)
            s2 = Series._make(j, side("r", c, c in other._data_cols),
                              keys, c, order)
            res = func(s1, s2)
            col = res._colexpr if isinstance(res, Series) else res
            exprs.append(col.alias(c))
        out = j.select(*keys, *exprs)
        return DataFrame._make(out, keys, cols, order)

    def align(self, other: "DataFrame", join: str = "outer"):
        """Pair of index-aligned frames (pandas ``DataFrame.align``,
        row axis): ONE :meth:`_align_join`, both results reading the
        same joined plan; the column sets align to their union with
        NULL columns for the missing side."""
        if join not in ("outer", "inner", "left", "right"):
            raise ValueError(f"bad join {join!r}")
        how = {"outer": "full_outer", "inner": "inner",
               "left": "left", "right": "right"}[join]
        j, keys = self._align_join(other, how)
        cols = list(dict.fromkeys(
            list(self._data_cols) + list(other._data_cols)))

        def face(pref, have):
            sel = [F.col(k) for k in keys] + [
                (F.col(f"__{pref}_{c}__") if c in have
                 else F.lit(None).cast("double")).alias(c)
                for c in cols]
            return DataFrame._make(j.select(*sel), keys, cols,
                                   [(k, True) for k in keys])

        return (face("l", set(self._data_cols)),
                face("r", set(other._data_cols)))

    @classmethod
    def from_dict(cls, data: dict, orient: str = "columns"):
        """pandas ``DataFrame.from_dict`` — driver-sized input by
        definition; ``orient='index'`` rides pandas on the driver
        then ships through Arrow once."""
        if orient == "columns":
            return cls({k: np.asarray(v) for k, v in data.items()})
        import pandas as pd
        pdf = pd.DataFrame.from_dict(data, orient=orient)
        # Spark column names are strings; orient='index' yields
        # integer column labels in pandas — stringify them
        pdf.columns = [str(c) for c in pdf.columns]
        return cls.from_pandas(pdf)

    def grouping_sets(self, sets: list, aggregations: dict) -> "DataFrame":
        """Explicit GROUPING SETS aggregation (generalizes rollup/
        cube): ONE shuffle computes every grouping combination, with
        NULL in the non-grouped keys of each set. ``sets`` is a list
        of column-name lists, e.g. ``[["a","b"], ["a"], []]``."""
        all_keys = list(dict.fromkeys(c for s in sets for c in s))
        grouped = self._sdf.groupingSets(
            [[F.col(c) for c in s] for s in sets],
            *[F.col(c) for c in all_keys])
        out = grouped.agg(*self._multi_agg_exprs(aggregations))
        return DataFrame._make(out, all_keys,
                               [c for c in out.columns if c not in all_keys],
                               None)

    # ------------------------------------------------------------ evaluate

    def evaluate(self) -> "DataFrame":
        """ONE Spark action materializing the whole frame — vs the
        reference's per-column evaluation (frame.py:442-458)."""
        sdf = self._sdf.persist()
        sdf.count()
        return self._replace_sdf(sdf)

    def explain(self, mode: str = "formatted"):
        self.to_spark().explain(mode=mode)

    def to_pandas(self):
        # the anonymous (range) index exports as the pandas index too:
        # after a filter it carries the SURVIVING original positions,
        # matching Series.to_pandas and the reference's RangeIndex->
        # Index materialization on filter (weld_ops.py:97-133). Only
        # when the ordinal column is already materialized (constructor
        # frames / positional ops) — scan-backed frames don't pay a
        # global ordinal just to export, so they renumber on export.
        cols = [c for c in self._index_cols if c in self._sdf.columns] \
            + self._data_cols
        sdf = self._sdf
        if self._order:
            ob = order_exprs(self._order, sdf.columns)
            if ob:
                sdf = sdf.orderBy(*ob)
        pdf = sdf.select(*dict.fromkeys(cols)).toPandas()
        idx = [c for c in self._index_cols if c in pdf.columns]
        if idx:
            pdf = pdf.set_index(idx if len(idx) > 1 else idx[0])
            if idx[0] in (_IDX, ORD_COL) and len(idx) == 1:
                pdf.index.name = None
        return pdf

    @property
    def values(self) -> np.ndarray:
        return self.to_pandas().to_numpy()


class _Resampler:
    """Time-bucket aggregation face (see :meth:`DataFrame.resample`).
    ``.sum/mean/count/min/max/var/std`` aggregate every numeric
    column per bucket; gap buckets are generated, not collected."""

    def __init__(self, df: DataFrame, freq: str, on: str):
        import re

        from ..core.datetimes import freq_to_us
        df._check_cols([on])
        self._df = df
        self._on = on
        cal = re.fullmatch(r"(\d*)(ME|MS|YE|YS|M|Y|A)", str(freq))
        if cal:
            # calendar buckets: date_trunc month/year, pandas labels
            # (period END date for ME/YE, start for MS/YS); integer
            # multiples (2ME, 3YS, ...) bin k periods per bucket
            # anchored at the first datum's period, like pandas
            self._cal = {"M": "ME", "Y": "YE", "A": "YE"}.get(
                cal.group(2), cal.group(2))
            self._mult = int(cal.group(1) or 1)
            if self._mult < 1:
                raise ValueError(f"bad frequency multiple in {freq!r}")
            self._us = None
        else:
            self._cal = None
            self._us = freq_to_us(freq)

    def _resample_aggs(self, name: str, num: list):
        """Per-column agg exprs + output column names. first/last
        ride a lexicographic struct min/max over (micros, value) —
        NULL values are gated out of the struct so the earliest/
        latest NON-NULL value wins (pandas semantics; duplicate
        stamps tie-break by value where pandas uses input position).
        'ohlc' emits open/high/low/close for a SINGLE numeric column
        in one hash-agg pass."""
        usc = F.unix_micros(F.col("__rt__"))

        def fl(c, last):
            v = F.col(c).cast("double")
            s = F.when(v.isNotNull(),
                       F.struct(usc.alias("t"), v.alias("v")))
            return (F.max(s) if last else F.min(s))["v"].cast("double")

        if name == "size":
            # one count of the bucket's rows (all-null rows too) —
            # no value columns needed, so a frame with none still
            # sizes (pandas Resampler.size needs none either)
            return [F.count(F.lit(1)).cast("long")
                    .alias("__size__")], ["__size__"]
        if name == "ohlc":
            if len(num) != 1:
                raise ValueError(
                    "resample().ohlc() needs exactly one numeric "
                    "column (pandas' multi-column flavor produces "
                    f"MultiIndex columns); got {num!r}")
            c = num[0]
            v = F.col(c).cast("double")
            return [fl(c, False).alias("open"),
                    F.max(v).alias("high"),
                    F.min(v).alias("low"),
                    fl(c, True).alias("close")], \
                ["open", "high", "low", "close"]
        aggs = []
        for c in num:
            if name in ("first", "last"):
                aggs.append(fl(c, name == "last").alias(c))
                continue
            v = (F.col(c).cast("double")
                 if name not in ("count", "size", "nunique")
                 else F.col(c))
            if name == "median":
                e = F.median(v)
            elif name.startswith("quantile:"):
                e = F.percentile(v, F.lit(float(name.split(":")[1])))
            elif name == "sem":
                e = (F.stddev_samp(v)
                     / F.sqrt(F.count(v)))   # groupby.sem convention
            elif name == "size":
                e = F.count(F.lit(1))
            elif name == "nunique":
                e = F.count_distinct(v)
            else:
                e = _AGG_FNS[name](v)
            aggs.append(e.cast(
                "long" if name in ("count", "size", "nunique")
                else "double").alias(c))
        return aggs, num

    def _agg_calendar(self, name: str):
        df, on = self._df, self._on
        sdf = df._sdf
        kind = self._cal
        unit = "month" if kind in ("ME", "MS") else "year"
        step = (1 if unit == "month" else 12) * self._mult
        t = F.col(on).cast("timestamp")
        bucket = F.date_trunc(unit, t)
        if self._mult > 1:
            # k-period bins anchor at the FIRST datum's period
            # (pandas origin): one tiny scalar agg finds it, then
            # end-anchored kinds (ME/YE) bin by ceil, start-anchored
            # (MS/YS) by floor; __bkt__ stays the LABEL period's
            # start so the label derivation below is unchanged
            r0 = sdf.agg(F.min(F.date_trunc(unit, t)).alias("o")) \
                .first()
            if r0["o"] is not None:
                o = r0["o"]
                dm = ((F.year(bucket) - F.lit(o.year)) * 12
                      + F.month(bucket) - F.lit(o.month))
                idx = (F.floor((dm + step - 1) / step)
                       if kind in ("ME", "YE")
                       else F.floor(dm / step))
                bucket = F.add_months(
                    F.lit(o.date()),
                    (idx * step).cast("int")).cast("timestamp")
        num = [c for c in df._numeric_cols() if c != on]
        aggs, ocols = self._resample_aggs(name, num)
        aggd = (sdf.select(bucket.alias("__bkt__"), t.alias("__rt__"),
                           *num)
                .groupBy("__bkt__").agg(*aggs))
        num = ocols
        rng = aggd.agg(F.min("__bkt__").alias("mn"),
                       F.max("__bkt__").alias("mx")).first()
        if rng["mn"] is not None:
            mn, mx = rng["mn"], rng["mx"]
            nb = ((mx.year * 12 + mx.month)
                  - (mn.year * 12 + mn.month)) // step + 1
            grid = sdf.sparkSession.range(int(nb)).select(
                F.add_months(F.lit(mn.date()),
                             (F.col("id") * step).cast("int"))
                .cast("timestamp").alias("__bkt__"))
            aggd = grid.join(aggd, "__bkt__", "left")
            if name in ("sum", "count", "size", "nunique", "prod"):
                fillv = 1 if name == "prod" else 0
                for c in num:
                    aggd = aggd.withColumn(c, F.coalesce(
                        F.col(c), F.lit(fillv).cast(
                            "long" if name in ("count", "size",
                                               "nunique")
                            else "double")))
        label = (F.last_day(F.col("__bkt__")).cast("timestamp")
                 if kind in ("ME", "YE") else F.col("__bkt__"))
        if kind == "YE":
            label = F.last_day(F.add_months(F.col("__bkt__"), 11)) \
                .cast("timestamp")
        out = aggd.withColumn(on, label).drop("__bkt__").orderBy(on)
        return DataFrame._make(out, [on], num, [(on, True)])

    def _agg(self, name: str):

        if self._cal:
            return self._agg_calendar(name)
        df, on, us = self._df, self._on, self._us
        sdf = df._sdf
        t = F.col(on).cast("timestamp")
        usc = F.unix_micros(t)
        rem = ((usc % us) + us) % us  # floor toward -inf, pre-epoch OK
        bucket = F.timestamp_micros(usc - rem)
        num = [c for c in df._numeric_cols() if c != on]
        aggs, ocols = self._resample_aggs(name, num)
        aggd = (sdf.select(bucket.alias("__bkt__"), t.alias("__rt__"),
                           *num)
                .groupBy("__bkt__").agg(*aggs))
        num = ocols
        # LAZY gap-bucket grid (r11): explode(sequence(min, max)) over
        # a scalar re-aggregation of the SAME bucket aggregate — the
        # bucket exchange is deduped by ReuseExchange, so the input is
        # scanned once and the old eager min/max `.first()` (one extra
        # driver job AND a second full input pass per invocation) is
        # gone. A null min (empty input) makes sequence NULL, explode
        # yields zero grid rows, and the left join is empty — the same
        # rows the eager empty-input short-circuit produced.
        rngdf = aggd.agg(
            F.unix_micros(F.min("__bkt__")).alias("__mn__"),
            F.unix_micros(F.max("__bkt__")).alias("__mx__"))
        # r12 (scale guard): a single sequence(min, max) builds the
        # WHOLE grid as one array on one row — Spark caps sequence at
        # ~2^31 elements and a wide span over a small bucket (second
        # buckets across years ~ 1e8) is a multi-GB single-task
        # array. Two-level lazy grid instead: an outer chunk-index
        # explode (span/2^20 rows, one per ~1M-bucket chunk),
        # redistributed, then a bounded per-chunk sequence — the grid
        # is built across the cluster and each task holds <= 2^20
        # elements. NULL min/max (empty input) still explodes to zero
        # rows at the outer level.
        _CH = 1 << 20
        mn, mx = F.col("__mn__"), F.col("__mx__")
        # the product in Python: lit(us) * _CH multiplies in int32 and
        # wraps for buckets under ~36 min
        span = F.lit(int(us) * _CH)
        chunks = rngdf.select(
            "__mn__", "__mx__",
            F.explode(F.sequence(
                F.lit(0).cast("long"),
                F.floor((mx - mn) / span).cast("long")))
            .alias("__ci__"))
        c_lo = mn + F.col("__ci__") * span
        c_hi = F.least(mx, c_lo + span - F.lit(int(us)))
        grid = (chunks.repartition(F.col("__ci__"))
                .select(F.explode(F.sequence(c_lo, c_hi,
                                             F.lit(int(us))))
                        .alias("__gus__"))
                .select(F.timestamp_micros(F.col("__gus__"))
                        .alias("__bkt__")))
        out = grid.join(aggd, "__bkt__", "left")
        if name in ("sum", "count", "size", "nunique", "prod"):
            # pandas fills these gap buckets with the agg identity
            fillv = 1 if name == "prod" else 0
            for c in num:
                out = out.withColumn(c, F.coalesce(
                    F.col(c), F.lit(fillv).cast(
                        "long" if name in ("count", "size", "nunique")
                        else "double")))
        out = out.withColumnRenamed("__bkt__", on).orderBy(on)
        return DataFrame._make(out, [on], num, [(on, True)])

    def sum(self): return self._agg("sum")
    def mean(self): return self._agg("mean")
    def count(self): return self._agg("count")
    def min(self): return self._agg("min")
    def max(self): return self._agg("max")
    def var(self): return self._agg("var")
    def std(self): return self._agg("std")
    def first(self): return self._agg("first")
    def last(self): return self._agg("last")
    def ohlc(self): return self._agg("ohlc")
    def prod(self): return self._agg("prod")
    def median(self): return self._agg("median")
    def nunique(self): return self._agg("nunique")

    def sem(self, ddof: int = 1):
        if ddof != 1:
            raise ValueError("resample().sem() supports ddof=1 "
                             "(the groupby.sem convention)")
        return self._agg("sem")

    def quantile(self, q: float = 0.5):
        """Exact per-bucket quantile (Spark's percentile aggregate —
        linear interpolation, pandas' default)."""
        return self._agg(f"quantile:{float(q)}")

    def size(self):
        """Rows per bucket INCLUDING all-null rows (pandas
        ``Resampler.size`` returns a Series); gap buckets are 0.
        Aggregates one count(1) per bucket — works on frames with
        no numeric value columns at all, like pandas."""
        from .series import Series
        sub = self._agg("size")
        return Series._make(sub._sdf, F.col("__size__").cast("long"),
                            [self._on], None, sub._order)

    def _upsample(self, method: str, fill_value=None) -> "DataFrame":
        """Shared core of the UPSAMPLING faces (pandas
        ``Resampler.asfreq/ffill/bfill/nearest``): generate the
        bucket-label grid distributed (spark.range arithmetic, only
        the two boundary stamps touch the driver), then ONE join —
        exact equi-join for asfreq (off-label originals drop, like
        pandas), the engine's partition-safe as-of join otherwise
        (backward=ffill, forward=bfill, nearest=nearest). Duplicate
        source stamps raise like pandas' reindex ('cannot reindex on
        an axis with duplicate labels') — one tiny limit-1 gate job;
        a silent max_by would pick a resolver-dependent winner."""
        import pandas as pd
        df, on = self._df, self._on
        if self._cal:
            raise NotImplementedError(
                f"resample(...).{method}(): upsampling supports "
                "fixed-width frequencies; calendar buckets "
                "(ME/MS/YE/YS) aggregate only")
        us = self._us
        sdf = df._sdf
        t = F.col(on).cast("timestamp")
        usc = F.unix_micros(t)
        data = [c for c in df._data_cols if c != on]
        rng = sdf.agg(F.min(usc).alias("mn"),
                      F.max(usc).alias("mx")).first()
        if rng["mn"] is None:
            out = sdf.select(t.alias(on), *data).limit(0)
            return DataFrame._make(out, [on], data, [(on, True)])
        right = sdf.select(t.alias(on), *[F.col(c) for c in data])
        dup = (right.groupBy(on).agg(F.count(F.lit(1)).alias("__n__"))
               .filter(F.col("__n__") > 1).limit(1).count())
        if dup:
            raise ValueError(
                "cannot reindex on an axis with duplicate labels")
        mn = rng["mn"] - ((rng["mn"] % us) + us) % us
        mx = rng["mx"] - ((rng["mx"] % us) + us) % us
        nb = (mx - mn) // us + 1
        grid = sdf.sparkSession.range(int(nb)).select(
            F.timestamp_micros(F.lit(mn) + F.col("id") * F.lit(us))
            .alias(on))
        if method == "asfreq":
            r2 = right.select(F.col(on).alias("__ok__"), *data)
            out = grid.join(r2, F.col(on) == F.col("__ok__"), "left")
            if fill_value is not None:
                intro = F.col("__ok__").isNull()
                for c in data:
                    out = out.withColumn(
                        c, F.when(intro, F.lit(fill_value))
                        .otherwise(F.col(c)))
            out = out.drop("__ok__")
        else:
            from ..operators.joins import asof_join
            direction = {"ffill": "backward", "bfill": "forward",
                         "nearest": "nearest"}[method]
            # pandas reindex/resample 'nearest' breaks exact-
            # midpoint ties to the LATER stamp (merge_asof ties
            # earlier — the two pandas APIs differ; probe wave 21)
            out = asof_join(grid, right, on=on,
                            direction=direction, suffix="",
                            nearest_ties="later")
            out = out.select(on, *data)
        return DataFrame._make(out.orderBy(on), [on], data,
                               [(on, True)])

    def ffill(self): return self._upsample("ffill")
    def bfill(self): return self._upsample("bfill")
    def nearest(self): return self._upsample("nearest")

    def interpolate(self, method: str = "linear",
                    limit: int | None = None,
                    limit_direction: str | None = None) -> "DataFrame":
        """pandas ``Resampler.interpolate``: asfreq to the bucket
        grid (off-label originals DROP, like pandas), then linear
        interpolation between the surviving on-label points. The
        grid is uniformly spaced, so positional linear equals time
        linear; rides the engine's fused multi-column interpolation
        pass (one layout regardless of column count)."""
        return self._upsample("asfreq").interpolate(
            method=method, limit=limit,
            limit_direction=limit_direction)

    def asfreq(self, fill_value=None):
        return self._upsample("asfreq", fill_value)

    def agg(self, func):
        """pandas ``Resampler.agg``: a str delegates; a dict
        {col: stat} column-binds (flat names, like pandas); a list
        of statistics emits pandas' (col, stat) MultiIndex columns
        flattened to ``str((col, stat))``, col-major (the engine's
        MultiIndex-column convention). Each DISTINCT statistic is
        one bucket hash-agg pass; columns re-bind by bucket-label
        index alignment. ohlc/size do not compose into a list/dict
        face (nested columns) — call them directly."""
        if isinstance(func, str):
            return getattr(self, func)()
        flat_names = isinstance(func, dict)
        items = (list(func.items()) if flat_names
                 else [(None, st) for st in func])
        for _, st in items:
            if not isinstance(st, str) or st in ("ohlc", "size"):
                raise ValueError(
                    f"Resampler.agg statistics must be scalar "
                    f"per-bucket names (got {st!r}); call "
                    "ohlc()/size() directly")
        stats = {}
        for _, st in items:
            if st not in stats:
                stats[st] = getattr(self, st)()
        out = None
        if flat_names:
            binds = [(c, stats[st][c]) for c, st in items]
        else:
            cols = list(stats[items[0][1]]._data_cols)
            binds = [(str((c, st)), stats[st][c])
                     for c in cols for _, st in items]
        for name, series in binds:
            if out is None:
                out = series.rename(name).to_frame()
            else:
                out[name] = series
        return out

    aggregate = apply = agg


def _rank_values(sdf, cols, ps):
    """pandas' exact-quantile ranks of each column of ``sdf`` (cast to
    double, NULLs skipped): for every p, the virtual index
    h = (n-1)·p — through np.percentile's p·100/100 round trip, which
    moves h by an ulp — and the values at ranks floor(h) and ceil(h).
    One COUNT job, then ONE percentile_disc job for every (column,
    rank) pair: (k+0.5)/n targets 1-indexed rank k+1 robustly
    (percentile_disc picks the first value whose cumulative fraction
    reaches p, immune to float-rank drift). Returns
    ``{c: [(h, lo, hi) per p]}``, all None for a column without
    values."""
    import math
    v = {c: f"__rv{i}__" for i, c in enumerate(cols)}
    sdf = sdf.select(*[F.col(c).cast("double").alias(v[c]) for c in cols])
    ns = sdf.agg(*[F.count(v[c]).alias(v[c]) for c in cols]).first()
    hs = {c: [(ns[v[c]] - 1) * ((p * 100) / 100) for p in ps]
          for c in cols if ns[v[c]]}
    need = {(c, k) for c, hh in hs.items() for h in hh
            for k in (math.floor(h), math.ceil(h))}
    row = sdf.agg(*[
        F.expr(f"percentile_disc({(k + 0.5) / ns[v[c]]!r}D) "
               f"WITHIN GROUP (ORDER BY {v[c]})").alias(f"{v[c]}{k}")
        for c, k in sorted(need)]).first() if need else None
    return {c: ([(h, row[f"{v[c]}{math.floor(h)}"],
                  row[f"{v[c]}{math.ceil(h)}"]) for h in hs[c]]
                if c in hs else [(None, None, None)] * len(ps))
            for c in cols}


def _loc_label_series(df: "DataFrame", labels):
    """``df.loc[<non-boolean Series/Index>]``: pandas reads the
    key's VALUES as requested labels — rows come back in the
    REQUESTED order, duplicate requests duplicated, KeyError on any
    miss. Unlike the driver-sized label-LIST path, the request here
    is already an engine Series, so the whole gather stays
    DISTRIBUTED: a position-tagged lookup join (no collect — the
    scale shape pandas itself can't take), one left-anti gate job
    for the KeyError, AQE free to broadcast whichever side is
    small. Labels select on the FIRST index level, like pandas'
    scalar-label lists on a MultiIndex."""
    from ..plans.ordinal import POS_COL
    idx = [c for c in df._index_cols if c in df._sdf.columns]
    if not idx:
        raise ValueError("loc needs an index; this scan-backed "
                         "frame has none (set_index first)")
    key = idx[0]
    wsdf, _ = labels._ordered_sdf("__wlbl__")
    want = wsdf.select(F.col(POS_COL).alias("__wpos__"), "__wlbl__")
    # null-SAFE miss gate (r11): the gather join below matches null
    # labels with eqNullSafe, so the KeyError gate must agree — a
    # null requested label that IS in the index is a hit, not a miss
    miss = (want.join(
        df._sdf.select(F.col(key).alias("__hlbl__")).distinct(),
        F.col("__wlbl__").eqNullSafe(F.col("__hlbl__")),
        "left_anti")
        .select("__wlbl__").limit(5).collect())
    if miss:
        raise KeyError(
            f"{[r['__wlbl__'] for r in miss]!r} not all in index")
    sdf = df._ordered_sdf()
    out = (sdf.join(want,
                    F.col("__wlbl__").eqNullSafe(F.col(key)),
                    "inner")
           .drop("__wlbl__"))
    if ORD_COL in out.columns and ORD_COL not in (
            df._index_cols + df._data_cols):
        out = out.drop(ORD_COL)
    return DataFrame._make(out, df._index_cols, df._data_cols,
                           [("__wpos__", True), (POS_COL, True)])


def _loc_bool_series(df: "DataFrame", mask):
    """pandas ``.loc`` LABEL-ALIGNS a boolean Series (the mask is
    reindexed to df's index) where plain ``df[mask]`` stays pinned
    POSITIONAL (reference weld_ops.py:97-133 accepts any
    equal-length mask). Same-lineage masks are row-identical either
    way, so they take the cheap filter; a FOREIGN boolean Series
    joins on the full index tuple. Gates (house style, tiny jobs):
    duplicate mask labels raise ValueError (pandas' own behavior
    there is alignment/positional soup — probed r10, it returns
    rows that contradict the mask values); a df label missing from
    the mask raises pandas' IndexingError (superset masks are fine
    — extra labels are ignored). NULL mask values align to False,
    pandas' nullable-boolean flavor. Non-boolean Series fall back
    to the existing positional mask path."""
    from functools import reduce
    from operator import and_

    import pandas as pd
    from pyspark.sql import types as T
    dt = mask._sdf.select(
        mask._colexpr.alias("__m__")).schema[0].dataType
    if not isinstance(dt, T.BooleanType):
        # pandas .loc with a NON-boolean Series/Index treats its
        # VALUES as requested labels (the key's own index is
        # ignored) — the label-gather path, fully distributed
        return _loc_label_series(df, mask)
    if mask._sdf is df._sdf or id(mask._sdf) in df._lineage:
        return df[mask]   # identical index: aligned == positional
    idx = [c for c in df._index_cols if c in df._sdf.columns]
    if not idx:
        raise ValueError("loc needs an index; this scan-backed "
                         "frame has none (set_index first)")
    mlv = [c for c in mask._index_cols if c in mask._sdf.columns]
    if len(mlv) != len(idx):
        raise pd.errors.IndexingError(
            "Unalignable boolean Series provided as indexer (index "
            "of the boolean Series and of the indexed object do "
            "not match).")
    msdf, _ = mask._select("__mval__")
    lbls = [f"__mlbl{i}__" for i in range(len(mlv))]
    right = (msdf.select(
        *[F.col(c).alias(a) for c, a in zip(mlv, lbls)],
        F.col("__mval__"))
        .withColumn("__mhit__", F.lit(True)))
    dup = (right.groupBy(*lbls).count()
           .filter(F.col("count") > 1).limit(1).count())
    if dup:
        raise ValueError(
            "cannot reindex on an axis with duplicate labels")
    cond = reduce(and_, [F.col(k).eqNullSafe(F.col(a))
                         for k, a in zip(idx, lbls)])
    joined = df._sdf.join(right, cond, "left")
    miss = (joined.filter(F.col("__mhit__").isNull())
            .limit(1).count())
    if miss:
        raise pd.errors.IndexingError(
            "Unalignable boolean Series provided as indexer (index "
            "of the boolean Series and of the indexed object do "
            "not match).")
    out = (joined.filter(F.col("__mval__"))
           .drop(*lbls, "__mval__", "__mhit__"))
    return DataFrame._make(out, df._index_cols, df._data_cols,
                           df._order)


class _FrameLoc:
    """Label-based row/column selection (pandas loc flavor)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def _rows(self, rows):
        from .indexes import Index
        from .series import Series
        df = self._df
        if isinstance(rows, slice):
            if rows == slice(None):
                return df
            raise TypeError("label slices are not supported in loc; "
                            "use iloc for positional slices")
        if isinstance(rows, Index):
            rows = rows._backing      # same unwrap as __getitem__
        if isinstance(rows, Series):
            return _loc_bool_series(df, rows)
        idx = [c for c in df._index_cols if c in df._sdf.columns]
        if not idx:
            raise ValueError("loc needs an index; this scan-backed "
                             "frame has none (set_index first)")
        key = idx[0]
        if isinstance(rows, (list, np.ndarray)):
            # a BOOLEAN list/array is a positional MASK in pandas
            # (length-checked IndexError), not labels
            vals = list(rows)
            if vals and all(isinstance(_py(v), bool) for v in vals):
                n = len(df)
                if len(vals) != n:
                    raise IndexError(
                        f"Boolean index has wrong length: "
                        f"{len(vals)} instead of {n}")
                return df.iloc[[i for i, b in enumerate(vals) if b]]
            # pandas returns rows in the REQUESTED label order with
            # repeated labels duplicated and raises KeyError on any
            # miss — the position-tagged lookup join the Series face
            # uses (series.py _SeriesLoc), not an isin mask (which
            # kept original order, deduped, and silently dropped
            # missing labels). The lookup table is driver-sized so
            # the broadcast is bounded; one tiny semi-join job gates
            # the KeyError before the inner-join gather.
            from ..plans.ordinal import POS_COL
            labels = [_py(v) for v in rows]
            sdf = df._ordered_sdf()
            spark = sdf.sparkSession
            want = spark.createDataFrame(
                [(int(p), lbl) for p, lbl in enumerate(labels)],
                ["__wpos__", "__wlbl__"])
            uniq = want.select("__wlbl__").distinct()
            hit = (sdf.join(F.broadcast(uniq),
                            F.col("__wlbl__").eqNullSafe(F.col(key)),
                            "left_semi")
                   .select(key).distinct().count())
            if hit < len(set(labels)):
                raise KeyError(f"{labels!r} not all in index")
            # every requested label matched, so the gather is an
            # INNER join — the broadcastable shape (a row-preserving
            # outer join cannot broadcast its preserved side)
            out = (sdf.join(F.broadcast(want),
                            F.col("__wlbl__").eqNullSafe(F.col(key)),
                            "inner")
                   .drop("__wlbl__"))
            if ORD_COL in out.columns and ORD_COL not in (
                    df._index_cols + df._data_cols):
                out = out.drop(ORD_COL)
            return DataFrame._make(out, df._index_cols, df._data_cols,
                                   [("__wpos__", True),
                                    (POS_COL, True)])
        sel = df._sdf.filter(F.col(key) == F.lit(_py(rows)))
        return DataFrame._make(sel, df._index_cols, df._data_cols,
                               df._order)

    def __getitem__(self, key):
        if isinstance(key, tuple) and len(key) == 2:
            rows, cols = key
            out = self._rows(rows)
            return out[cols]
        return self._rows(key)

    def _row_cond(self, work: "DataFrame", rows):
        """Row selector -> (sdf, boolean Column over it, helper
        columns to drop) for the ASSIGNMENT face. Mirrors the
        selection semantics: boolean same-lineage masks are the
        cheap expression; foreign boolean Series label-align (same
        dup/unalignable gates); non-boolean Series mark labels
        distributively; boolean lists are positional
        (length-checked); label scalars/lists must all exist —
        pandas' ENLARGEMENT face (loc-set at a new label appends a
        row) is refused with the concat alternative named."""
        from functools import reduce
        from operator import and_

        import pandas as pd
        from pyspark.sql import types as T

        from ..plans.ordinal import POS_COL
        from .indexes import Index
        from .series import Series
        sdf = work._sdf
        if isinstance(rows, slice):
            if rows == slice(None):
                return sdf, F.lit(True), []
            raise TypeError("label slices are not supported in loc; "
                            "use iloc for positional slices")
        if isinstance(rows, Index):
            rows = rows._backing
        idx = [c for c in work._index_cols if c in sdf.columns]
        if isinstance(rows, Series):
            dt = rows._sdf.select(
                rows._colexpr.alias("__m__")).schema[0].dataType
            if isinstance(dt, T.BooleanType):
                if (rows._sdf is sdf
                        or id(rows._sdf) in self._df._lineage):
                    return sdf, rows._colexpr, []
                if not idx:
                    raise ValueError(
                        "loc needs an index; this scan-backed frame "
                        "has none (set_index first)")
                mlv = [c for c in rows._index_cols
                       if c in rows._sdf.columns]
                if len(mlv) != len(idx):
                    raise pd.errors.IndexingError(
                        "Unalignable boolean Series provided as "
                        "indexer (index of the boolean Series and "
                        "of the indexed object do not match).")
                msdf, _ = rows._select("__mval__")
                lbls = [f"__mlbl{i}__" for i in range(len(mlv))]
                right = (msdf.select(
                    *[F.col(c).alias(a) for c, a in zip(mlv, lbls)],
                    F.col("__mval__"))
                    .withColumn("__mhit__", F.lit(True)))
                dup = (right.groupBy(*lbls).count()
                       .filter(F.col("count") > 1).limit(1).count())
                if dup:
                    raise ValueError("cannot reindex on an axis "
                                     "with duplicate labels")
                cond_j = reduce(and_, [
                    F.col(k).eqNullSafe(F.col(a))
                    for k, a in zip(idx, lbls)])
                joined = sdf.join(right, cond_j, "left")
                miss = (joined.filter(F.col("__mhit__").isNull())
                        .limit(1).count())
                if miss:
                    raise pd.errors.IndexingError(
                        "Unalignable boolean Series provided as "
                        "indexer (index of the boolean Series and "
                        "of the indexed object do not match).")
                return (joined,
                        F.coalesce(F.col("__mval__"), F.lit(False)),
                        lbls + ["__mval__", "__mhit__"])
            # non-boolean Series: its VALUES are target labels —
            # distributed mark + all-exist gate (no enlargement)
            if not idx:
                raise ValueError(
                    "loc needs an index; this scan-backed frame "
                    "has none (set_index first)")
            key = idx[0]
            wsdf, _ = rows._ordered_sdf("__wlbl__")
            want = wsdf.select("__wlbl__").distinct() \
                .withColumn("__whit__", F.lit(True))
            # null-SAFE enlargement gate (r11) — must agree with
            # the eqNullSafe mark join below
            miss = (want.join(
                sdf.select(F.col(key).alias("__hlbl__")).distinct(),
                F.col("__wlbl__").eqNullSafe(F.col("__hlbl__")),
                "left_anti").limit(1).count())
            if miss:
                raise NotImplementedError(
                    "loc assignment at labels not in the index is "
                    "pandas' enlargement face (it appends rows); "
                    "use concat instead")
            joined = sdf.join(
                F.broadcast(want).withColumnRenamed("__wlbl__",
                                                    "__wl2__"),
                F.col("__wl2__").eqNullSafe(F.col(key)), "left")
            return (joined, F.col("__whit__").isNotNull(),
                    ["__wl2__", "__whit__"])
        if isinstance(rows, (list, np.ndarray)):
            vals = list(rows)
            if not vals:
                # pandas: an empty selection is a no-op write (r11;
                # previously fell through to a zero-row
                # createDataFrame, which cannot infer a schema)
                return sdf, F.lit(False), []
            if vals and all(isinstance(_py(v), bool) for v in vals):
                n = len(self._df)
                if len(vals) != n:
                    raise IndexError(
                        f"Boolean index has wrong length: "
                        f"{len(vals)} instead of {n}")
                had_pos = POS_COL in sdf.columns
                left = work._ordered_sdf()
                spark = sdf.sparkSession
                trues = [(int(i),) for i, b in enumerate(vals)
                         if _py(b)]
                want = spark.createDataFrame(
                    trues or [(int(-1),)], ["__wtru__"])
                joined = left.join(
                    F.broadcast(want),
                    F.col(POS_COL) == F.col("__wtru__"), "left")
                helpers = ["__wtru__"] + ([] if had_pos
                                          else [POS_COL])
                return joined, F.col("__wtru__").isNotNull(), helpers
            if not idx:
                raise ValueError(
                    "loc needs an index; this scan-backed frame "
                    "has none (set_index first)")
            key = idx[0]
            labels = [_py(v) for v in vals]
            spark = sdf.sparkSession
            want = spark.createDataFrame([(l,) for l in labels],
                                         ["__wlbl__"]).distinct()
            hit = (sdf.join(F.broadcast(want),
                            F.col("__wlbl__").eqNullSafe(F.col(key)),
                            "left_semi")
                   .select(key).distinct().count())
            if hit < len(set(labels)):
                raise NotImplementedError(
                    "loc assignment at labels not in the index is "
                    "pandas' enlargement face (it appends rows); "
                    "use concat instead")
            cond = F.col(key).isin([l for l in labels
                                    if l is not None])
            if any(l is None for l in labels):
                # isin is null-unsafe; a None label must still
                # select null index rows (r11, matches the
                # eqNullSafe gate above)
                cond = cond | F.col(key).isNull()
            return sdf, cond, []
        # scalar label
        if not idx:
            raise ValueError("loc needs an index; this scan-backed "
                             "frame has none (set_index first)")
        key = idx[0]
        lit = F.lit(_py(rows))
        # eqNullSafe: a None scalar label selecting a null index
        # row is a hit, not enlargement (r11)
        if sdf.filter(F.col(key).eqNullSafe(lit)).limit(1) \
                .count() == 0:
            raise NotImplementedError(
                "loc assignment at labels not in the index is "
                "pandas' enlargement face (it appends rows); use "
                "concat instead")
        return sdf, F.col(key).eqNullSafe(lit), []

    def __setitem__(self, key, value):
        """pandas' conditional-assignment face:
        ``df.loc[rows, col] = value`` (``df.loc[rows] = value``
        writes every data column). The VALUE stages through the
        standard :meth:`DataFrame.__setitem__` alignment machinery
        (scalar / same-frame Series / foreign Series joined by
        index / array positional) into one temp column, then each
        target column becomes
        ``when(cond, staged).otherwise(old)`` — a single projection
        per column, no collect. A NEW column name is created with
        NULL outside the selection (pandas' NaN)."""
        df = self._df
        if isinstance(key, tuple) and len(key) == 2:
            rows, cols = key
        else:
            rows, cols = key, slice(None)
        if isinstance(cols, slice):
            if cols != slice(None):
                raise TypeError("column slices are not supported "
                                "in loc assignment")
            cols = list(df._data_cols)
        elif isinstance(cols, str):
            cols = [cols]
        elif isinstance(cols, (list, np.ndarray)):
            cols = [str(c) for c in cols]
        else:
            raise TypeError(
                f"unsupported loc column key: {type(cols)}")
        for c in cols:
            if c in df._index_cols:
                raise KeyError(
                    f"{c!r} is an index level, not a data column")
        if isinstance(value, (list, tuple, np.ndarray)):
            # pandas aligns a list value positionally over the
            # SELECTED rows only; the staging machinery aligns over
            # ALL rows — silently wrong for any proper subset, so
            # refuse with the unambiguous spelling named
            raise NotImplementedError(
                "loc assignment from a list/array is positional "
                "over the SELECTED rows in pandas; pass a Series "
                "with explicit index labels instead")
        work = df._shallow()
        work["__lv__"] = value
        sdf, cond, helpers = self._row_cond(work, rows)
        _finish_cond_set(df, work, sdf, cond, helpers, cols)


def _finish_cond_set(df, work, sdf, cond, helpers, cols):
    """Shared tail of conditional assignment (loc / iloc setters):
    stage the condition ONCE before the column loop — it may
    reference columns the loop itself overwrites — then each target
    column becomes ``when(cond, staged).otherwise(old)``, a single
    projection per column, no collect."""
    sdf = sdf.withColumn("__lc__", cond)
    for c in cols:
        base = (F.col(c) if c in work._sdf.columns
                else F.lit(None))
        sdf = sdf.withColumn(
            c, F.when(F.col("__lc__"),
                      F.col("__lv__")).otherwise(base))
    sdf = sdf.drop("__lv__", "__lc__", *helpers)
    new = [c for c in cols if c not in df._data_cols]
    df._sdf = sdf
    df._data_cols = df._data_cols + new
    df._lineage[id(sdf)] = sdf


class _FrameAt:
    def __init__(self, df: DataFrame):
        self._df = df

    def __getitem__(self, key):
        if not (isinstance(key, tuple) and len(key) == 2):
            raise TypeError("at takes df.at[label, column]")
        label, col = key
        vals = [r[col] for r in
                _FrameLoc(self._df)._rows(label)._sdf
                .select(col).limit(2).collect()]
        if len(vals) != 1:
            raise KeyError(f"at[{label!r}, {col!r}] matched "
                           f"{len(vals)} rows; need exactly 1")
        return vals[0]

    def __setitem__(self, key, value):
        """``df.at[label, col] = value`` — the scalar face of loc
        assignment (same existence gate: pandas' enlargement is
        refused)."""
        if not (isinstance(key, tuple) and len(key) == 2):
            raise TypeError("at takes df.at[label, column]")
        label, col = key
        if not isinstance(col, str):
            raise TypeError("at needs a single column name")
        _FrameLoc(self._df)[label, col] = value


def _py(v):
    """numpy scalar -> python scalar for F.lit."""
    return v.item() if isinstance(v, np.generic) else v


class _FrameIAt:
    """Scalar (row, column) positional access behind
    :attr:`DataFrame.iat`."""

    def __init__(self, df: DataFrame):
        self._df = df

    def __getitem__(self, key):
        if not (isinstance(key, tuple) and len(key) == 2):
            raise TypeError("iat needs a (row, column) position pair")
        i, j = key
        cols = self._df._data_cols
        return self._df[cols[int(j)]].iloc[int(i)]

    def __setitem__(self, key, value):
        """``df.iat[i, j] = value`` — the scalar face of iloc
        assignment (r11)."""
        if not (isinstance(key, tuple) and len(key) == 2):
            raise TypeError("iat needs a (row, column) position pair")
        i, j = key
        if not isinstance(i, (int, np.integer)) \
                or not isinstance(j, (int, np.integer)):
            raise TypeError("iat needs integer positions")
        _FrameILoc(self._df)[int(i), int(j)] = value


class _FrameILoc:
    """Positional row selection on frames (core/indexing.py)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def __getitem__(self, key):
        from ..plans.ordinal import POS_COL, local_table
        from .series import _norm_pos
        if isinstance(key, (int, np.integer)):
            key = int(key)
            if key < 0:
                key = _norm_pos(key, len(self._df))
            sdf = self._df._ordered_sdf()
            out = sdf.filter(F.col(POS_COL) == key).drop(POS_COL)
            return DataFrame._make(out, self._df._index_cols,
                                   self._df._data_cols, self._df._order)
        if isinstance(key, slice):
            return self._df._slice(key)
        if isinstance(key, (list, np.ndarray)):
            if any(int(i) < 0 for i in key):
                n = len(self._df)
                key = [_norm_pos(int(i), n) for i in key]
            sdf = self._df._ordered_sdf()
            want = local_table(
                sdf.sparkSession,
                [(int(i), int(p)) for p, i in enumerate(key)],
                f"{POS_COL} LONG, __gather__ LONG")
            if ORD_COL in sdf.columns:
                sdf = sdf.drop(ORD_COL)
            out = (sdf.join(F.broadcast(want), POS_COL)
                   .drop(POS_COL).withColumnRenamed("__gather__", ORD_COL))
            return DataFrame._make(out, self._df._index_cols,
                                   self._df._data_cols, [(ORD_COL, True)])
        raise TypeError(f"unsupported iloc key: {type(key)}")

    def __setitem__(self, key, value):
        """``df.iloc[rows, cols] = value`` (r11 — the positional
        write face): positions resolve to ORDINAL conditions
        (``POS_COL == i`` / ``isin`` / slice-range arithmetic — all
        JVM expressions, no collect) and the write rides the same
        ``when(cond, staged).otherwise(old)`` projection as loc
        assignment. Rows: int / list of ints / slice / boolean
        list-array (the positional mask, shared with loc). Cols:
        int / list of ints / slice over the data columns —
        positional, so out-of-bounds is an IndexError, never
        enlargement. Values: a scalar, or a same-frame Series —
        an ENGINE EXTENSION written row-for-row at the selected
        rows (pandas raises a shape mismatch there, so no
        pandas-legal program silently diverges); a foreign Series
        or list/array is refused with the loc spelling named
        (pandas aligns those positionally over the SELECTED rows —
        silently wrong through the index-alignment stager)."""
        from ..plans.ordinal import POS_COL
        from .series import Series, _norm_pos
        df = self._df
        if isinstance(key, tuple) and len(key) == 2:
            rows, csel = key
        else:
            rows, csel = key, slice(None)
        data = list(df._data_cols)

        def _col_at(j):
            j = int(j)
            if not -len(data) <= j < len(data):
                raise IndexError(
                    f"index {j} is out of bounds for axis 1 with "
                    f"size {len(data)}")
            return data[j]

        if isinstance(csel, slice):
            cols = data[csel]
        elif isinstance(csel, (int, np.integer)):
            cols = [_col_at(csel)]
        elif isinstance(csel, (list, np.ndarray)):
            cols = [_col_at(j) for j in csel]
        else:
            raise TypeError(
                "iloc column keys are positional integers; use "
                "loc for label-based assignment")
        if isinstance(value, (list, tuple, np.ndarray)):
            raise NotImplementedError(
                "iloc assignment from a list/array is positional "
                "over the SELECTED rows in pandas; pass a scalar, "
                "or use loc with a labeled Series")
        if isinstance(value, Series) and not (
                value._sdf is df._sdf
                or id(value._sdf) in df._lineage):
            raise NotImplementedError(
                "iloc assignment from a foreign Series would need "
                "positional alignment over the selected rows; use "
                "loc with a labeled Series")
        work = df._shallow()
        work["__lv__"] = value
        n = len(df)

        def _pos(i):
            i = int(i)
            if not -n <= i < n:
                raise IndexError(
                    "single positional indexer is out-of-bounds")
            return _norm_pos(i, n) if i < 0 else i

        if isinstance(rows, (list, np.ndarray)) and len(rows) \
                and all(isinstance(_py(v), bool) for v in rows):
            # positional boolean mask — exactly loc's boolean-list
            # branch (length-checked, broadcast position join)
            sdf, cond, helpers = _FrameLoc(df)._row_cond(
                work, list(rows))
        else:
            had_pos = POS_COL in work._sdf.columns
            sdf = work._ordered_sdf()
            helpers = [] if had_pos else [POS_COL]
            if isinstance(rows, (int, np.integer)):
                cond = F.col(POS_COL) == F.lit(_pos(rows))
            elif isinstance(rows, (list, np.ndarray)):
                if not len(rows):
                    cond = F.lit(False)
                else:
                    cond = F.col(POS_COL).isin(
                        [_pos(i) for i in rows])
            elif isinstance(rows, slice):
                start, stop, step = rows.indices(n)
                p = F.col(POS_COL)
                if step > 0:
                    cond = (p >= start) & (p < stop)
                    if step != 1:
                        cond = cond & ((p - start) % step == 0)
                else:
                    cond = (p <= start) & (p > stop) \
                        & ((F.lit(start) - p) % (-step) == 0)
            else:
                raise TypeError(
                    f"unsupported iloc row key: {type(rows)}")
        _finish_cond_set(df, work, sdf, cond, helpers, cols)

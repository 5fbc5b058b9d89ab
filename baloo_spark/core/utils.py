"""Argument/type validation with reference error parity.

Reference: ``baloo/core/utils.py:6-37`` (check_type / check_dtype /
check_inner_types / check_str_or_list_str raising TypeError with
'Expected: ...' messages) and ``utils.py:138-143`` (convert_to_numpy
rejecting unsupported dtypes with 'dtype {} is not supported').

The reference gates on Weld-encodable dtype chars
(encoders.py:13: {h,i,l,f,d,?,S}); here the gate is what Spark/Arrow
marshalling supports — all integer/float widths, bool, strings/bytes,
datetime64 — and rejects complex, timedelta, void/structured dtypes
with the same TypeError shape.
"""

from __future__ import annotations

import numpy as np

# numpy kind codes Spark/Arrow cannot marshal in this engine
_UNSUPPORTED_KINDS = {"c", "m", "V"}


def check_type(data, expected_types):
    """None passes; otherwise TypeError (reference utils.py:6-10)."""
    if data is not None and not isinstance(data, expected_types):
        raise TypeError("Expected: {}".format(str(expected_types)))
    return data


def check_inner_types(data, expected_types):
    if data is not None:
        for value in data:
            check_type(value, expected_types)
    return data


def check_str_or_list_str(data):
    check_type(data, (list, str))
    if data is not None and isinstance(data, list):
        check_inner_types(data, str)
    return data


def check_dtype(data):
    """Validate a dtype-like argument (reference utils.py:13-21);
    bool silently maps to np.bool_."""
    if data is None:
        return None
    if data is bool:
        return np.bool_
    try:
        return np.dtype(data)
    except TypeError:
        raise TypeError(
            "Expected a valid NumPy dtype, received: {}".format(str(data)))


def check_supported_dtype(dtype: np.dtype) -> np.dtype:
    """Reject dtypes the engine cannot marshal through Arrow/Spark
    (reference convert_to_numpy, utils.py:138-143)."""
    if dtype.kind in _UNSUPPORTED_KINDS:
        raise TypeError("dtype {} is not supported".format(dtype))
    return dtype


def spark_df_from_pandas(spark, pdf):
    """createDataFrame that also accepts EMPTY pandas frames: Spark's
    schema inference needs rows, so for zero rows the schema is
    derived from the numpy dtypes instead (float->double/float,
    int->long/int, bool, datetime64->timestamp, object->string).

    Datetime columns (naive or tz-aware) are floored to whole
    microseconds first: Spark timestamps hold microseconds, Arrow
    refuses the lossy ns->us cast, and createDataFrame would then
    fall back to its row-at-a-time path — which drops the sub-µs
    digits all the same."""
    if len(pdf):
        sub_us = [c for c in pdf.columns if pdf[c].dtype.kind == "M"]
        if sub_us:
            import pandas as pd
            pdf = pdf.copy()
            for c in sub_us:
                # subtracting the nanosecond field floors on the epoch
                # axis (pre-1970 too) without wall-clock ambiguity
                pdf[c] = pdf[c] - pd.to_timedelta(pdf[c].dt.nanosecond,
                                                  unit="ns")
        return spark.createDataFrame(pdf)
    from pyspark.sql import types as T

    from ..plans.ordinal import local_table

    def _t(dt):
        if dt.kind == "f":
            return T.FloatType() if dt.itemsize <= 4 else T.DoubleType()
        if dt.kind in "iu":
            return T.IntegerType() if dt.itemsize <= 4 else T.LongType()
        if dt.kind == "b":
            return T.BooleanType()
        if dt.kind == "M":
            return T.TimestampType()
        return T.StringType()

    fields = [T.StructField(str(c), _t(pdf[c].to_numpy().dtype))
              for c in pdf.columns]
    return local_table(spark, [], T.StructType(fields))


def nan_safe_lit(v):
    """``F.lit`` that maps a float NaN to a typed NULL — the
    engine's missing convention (the NaN == NULL pin): a NaN
    DOUBLE literal entering a plan would POISON JVM sums/means/
    prefix scans (NaN propagates through arithmetic) instead of
    being skipped like missing data is everywhere else. Found by
    probe wave 25: ``sr.iloc[2] = np.nan`` then ``rolling().mean()``
    returned NaN for every later window."""
    from pyspark.sql import functions as F
    if isinstance(v, float) and v != v:
        return F.lit(None).cast("double")
    return F.lit(v)

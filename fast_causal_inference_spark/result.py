"""Result frames of the driver-finalized readouts, and rich result objects
mirroring the reference's ``testResult`` API.

**The result contract.**  A readout runs one small aggregation pass, collects
its O(#groups) statistics rows and finishes the closed-form math on the
driver (the reference parses its UDAFs' strings on the client the same way).
:func:`driver_frame` hands the finished rows back as a Spark DataFrame:

* it is eager — every Spark job of the readout ran during the call;
* it is a plain DataFrame built from one driver-side Arrow batch, so reading
  it (``toPandas``, ``collect``, joins, SQL) starts no Python worker;
* key columns keep their input types and values (a NaN key stays NaN); a NaN
  statistic is stored as NULL, which ``toPandas`` reads back as NaN.

The reference parses engine strings into objects exposing ``.estimate``,
``.stderr``, ``.t_statistic``, ``.p_value``, ``.confidence_interval`` …
(``dataframe/format.py:131-228``). Here results are born structured (rows of
a DataFrame), so :class:`TestResult` is a thin attribute view + pretty
printer over a row.
"""

from __future__ import annotations

import datetime
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Row


def driver_frame(spark, keys: Sequence, fields: Sequence,
                 rows: Sequence[Sequence]) -> DataFrame:
    """A Spark DataFrame of driver-finalized result rows (see the module
    docstring).  ``keys`` and ``fields`` are ``StructField`` lists; each
    row holds the key values, then the field values."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    schema = T.StructType([*keys, *fields])
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for i, (f, col) in enumerate(zip(schema.fields, cols)):
        if i >= len(keys):
            col = [None if v != v else v for v in col]      # NaN → NULL
        elif isinstance(f.dataType, T.TimestampType):
            # collect() returns naive local times; Arrow reads naive as UTC
            col = [v if v is None else v.astimezone(datetime.timezone.utc)
                   for v in col]
        arrays.append(pa.array(col, type=to_arrow_type(f.dataType)))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, names=schema.names), schema)


class TestResult(Mapping):
    """Attribute + mapping access over one statistical-result row."""

    _ALIASES = {
        "t_statistic": "t_stat",
        "pvalue": "p_value",
        "std_error": "stderr",
        # reference column spellings (dataframe/format.py parses these)
        "t-statistic": "t_stat",
        "p-value": "p_value",
        "statistic": "t_stat",
    }

    @property
    def conf_int(self):
        """Reference ``testResult.conf_int`` (format.py:178-186)."""
        return self.confidence_interval

    def __init__(self, data: dict):
        self._data = dict(data)

    # mapping protocol ---------------------------------------------------
    def __getitem__(self, k):
        # aliases apply only when the literal key is ABSENT: a result
        # that genuinely stores 'statistic'/'pvalue' (anova, contingency)
        # must stay readable and iterable under its own keys
        if k in self._data:
            return self._data[k]
        return self._data[self._ALIASES.get(k, k)]

    def __iter__(self):
        return iter(self._data)

    def __len__(self):
        return len(self._data)

    def __getattr__(self, k):
        d = object.__getattribute__(self, "_data")
        key = k if k in d else self._ALIASES.get(k, k)
        try:
            return d[key]
        except KeyError as e:
            raise AttributeError(k) from e

    @property
    def confidence_interval(self) -> tuple:
        return (self._data.get("lower"), self._data.get("upper"))

    def __repr__(self):
        parts = []
        for k, v in self._data.items():
            if isinstance(v, float):
                parts.append(f"{k}={v:.6g}")
            else:
                parts.append(f"{k}={v}")
        return "TestResult(" + ", ".join(parts) + ")"

    def summary(self) -> str:
        w = max(len(str(k)) for k in self._data) + 2
        lines = [f"{k:>{w}}  {v:.6g}" if isinstance(v, float)
                 else f"{k:>{w}}  {v}" for k, v in self._data.items()]
        return "\n".join(lines)


def test_result(df_or_row) -> "TestResult | list[TestResult]":
    """Wrap a 1-row (or n-row) statistical result DataFrame/Row."""
    if isinstance(df_or_row, DataFrame):
        rows = df_or_row.collect()
        out = [TestResult(r.asDict()) for r in rows]
        return out[0] if len(out) == 1 else out
    if isinstance(df_or_row, Row):
        return TestResult(df_or_row.asDict())
    if hasattr(df_or_row, "to_dict"):        # pandas row / DataFrame
        d = df_or_row.to_dict()
        if d and isinstance(next(iter(d.values())), dict):  # pandas DataFrame
            recs = df_or_row.to_dict("records")
            out = [TestResult(r) for r in recs]
            return out[0] if len(out) == 1 else out
        return TestResult(d)
    raise TypeError(f"cannot wrap {type(df_or_row)}")

"""Arrow-backed ``collect()`` for declared query results.

``DataFrame.collect()`` in classic PySpark moves every row through the
JVM pickler and the Python unpickler one row at a time — for a query
whose *result* is large (the fuzzy-linkage expansion is ~48M rows at
sf1.0) that serialization dwarfs the distributed compute by an order of
magnitude.  The optimization guide's I/O section prescribes Arrow for
driver transfers (guide §6: "orders of magnitude faster than the row
path"), and Spark 4 exposes ``DataFrame.toArrow()``; this module wraps a
DataFrame so its ``collect()`` fetches the result as Arrow record
batches and rebuilds the *identical* list of ``Row`` objects
column-wise.

Identity contract (pinned by tests/test_fastcollect.py):

- same values, same Python types, same ``Row`` field names, same row
  order as the default pickle path;
- the fast path only engages when every output column is a type whose
  Arrow round-trip is value- and type-identical to the pickle path
  (ints, floats, strings, booleans, decimals, dates, ntz timestamps,
  and arrays of those).  tz-aware timestamps are additionally safe
  when BOTH the session tz and the system tz are UTC (then
  ``pc.local_timestamp`` over the Arrow column equals the pickle
  path's system-localized naive datetimes value-for-value).  Anything
  else — tz timestamps outside that gate, binary (pickle yields
  ``bytearray``, Arrow ``bytes``), structs (pickle yields ``Row``,
  Arrow ``dict``) — falls back to the inherited pickle ``collect()``
  untouched.

This changes *how the same rows reach the driver*, never what a query
computes: every run still evaluates the full plan from the parquet
inputs (``toArrow`` is an action on the same physical plan).  The fetch
runs at the session's Arrow batch size, the same batches every pandas
UDF in the plan sees; like every engine call, ``collect()`` sets no
session conf.
"""

from __future__ import annotations

from functools import partial

# subclass the CLASSIC DataFrame (pyspark.sql.DataFrame is the abstract
# API base in Spark 4 and cannot be instantiated around a py4j jdf)
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.types import Row
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

_SAFE_ATOMIC = (
    LongType,
    IntegerType,
    ShortType,
    ByteType,
    DoubleType,
    FloatType,
    StringType,
    BooleanType,
    DateType,
    TimestampNTZType,
    DecimalType,
)


def _utc_everywhere(session_tz: str) -> bool:
    """True when BOTH the session tz (the Arrow column tz for
    TimestampType) and the system tz (what the pickle path localizes to)
    are UTC — the condition under which ``pc.local_timestamp`` over the
    Arrow column reproduces the pickle path's naive datetimes exactly,
    verified empirically (tests/test_fastcollect.py)."""
    import time as _time

    return (
        session_tz.upper() in ("UTC", "ETC/UTC", "GMT", "Z", "+00:00")
        and _time.timezone == 0
        and _time.daylight == 0
    )


def _arrow_roundtrip_safe(dt, allow_tz_ts: bool = False) -> bool:
    if isinstance(dt, ArrayType):
        return _arrow_roundtrip_safe(dt.elementType, allow_tz_ts=False)
    if allow_tz_ts and isinstance(dt, TimestampType):
        return True
    return isinstance(dt, _SAFE_ATOMIC)


class ArrowCollectFrame(DataFrame):
    """A DataFrame whose ``collect()`` goes through Arrow when safe.

    Everything else (transformations, ``count``, ``toPandas``, plans) is
    the inherited DataFrame behavior; transformations return plain
    DataFrames, so the fast path applies only to the frame a query
    function hands back.
    """

    def collect(self):  # type: ignore[override]
        try:
            fields = self.schema.fields
            allow_ts = _utc_everywhere(
                self.sparkSession.conf.get("spark.sql.session.timeZone")
            )
            if not fields or not all(
                _arrow_roundtrip_safe(f.dataType, allow_tz_ts=allow_ts)
                for f in fields
            ):
                return super().collect()
            # the fetch uses the session's Arrow batch size (512 rows),
            # so a large result arrives in many small chunks; combine
            # them once here so the column pass works on a few long
            # arrays instead of ~94k short ones (48M rows)
            tbl = self.toArrow().combine_chunks()
            import pyarrow.compute as pc

            names = [f.name for f in fields]
            columns = [
                _column_values(
                    pc.local_timestamp(col)
                    if isinstance(f.dataType, TimestampType)
                    else col
                )
                for f, col in zip(fields, tbl.columns)
            ]
            del tbl
            # Row with the field names on the CLASS: instances carry no
            # per-row __dict__ (48M rows would otherwise pay a dict alloc
            # + setattr each).  isinstance(r, Row), repr, tuple(r),
            # r.field, r.asDict() and __reduce__ (which rebuilds a plain
            # Row) are all inherited unchanged — pinned by
            # tests/test_fastcollect.py.
            row_cls = type("Row", (Row,), {"__fields__": names})
            make = partial(tuple.__new__, row_cls)
            import gc

            was_enabled = gc.isenabled()
            gc.disable()
            try:
                return list(map(make, zip(*columns)))
            finally:
                if was_enabled:
                    gc.enable()
        except Exception:
            # any Arrow-path surprise (fetch, column pass or Row build)
            # degrades to the stock row path
            return super().collect()


def _column_values(col) -> list:
    """ChunkedArray -> list of Python values, identical to
    ``to_pylist()`` but vectorized where it pays: null-free string and
    integer columns are dictionary-encoded first when they repeat
    (result sets repeat values heavily — fuzzy_link_parts has 64
    distinct names and ~15k distinct keys across 48M rows), so each
    distinct value is built as a Python object ONCE and fanned out by a
    numpy object take; other null-free primitives go through numpy
    ``tolist()``.  Value sharing is safe (str/int are immutable) and
    every produced object has the exact to_pylist type."""
    import numpy as np
    import pyarrow as pa

    t = col.type
    n = col.length()
    if pa.types.is_timestamp(t) and t.unit == "us" and t.tz is None and n > 0:
        # to_pylist builds each datetime one Python call at a time (~3M
        # objects for the interval-violation result); numpy's
        # datetime64[us] -> object conversion produces the IDENTICAL
        # datetime.datetime values at C speed. Nulls are filled with
        # epoch for the vector pass and restored afterwards.
        mask = None
        if col.null_count:
            mask = col.is_null().to_numpy(zero_copy_only=False)
        micros = (
            col.cast(pa.int64())
            .fill_null(0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
        )
        out = (
            np.datetime64(0, "us") + micros.view("timedelta64[us]")
        ).tolist()
        if mask is not None:
            for i in np.flatnonzero(mask):
                out[i] = None
        return out
    if col.null_count == 0 and n > 0:
        dictionary_worthy = (
            pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_integer(t)
        )
        if dictionary_worthy:
            parts = []
            for ch in col.chunks:
                enc = ch.dictionary_encode()
                if len(enc.dictionary) > max(1 << 12, len(ch) >> 2):
                    parts = None  # low repetition: encoding won't pay
                    break
                vals = np.asarray(enc.dictionary.to_pylist(), dtype=object)
                parts.append(vals[enc.indices.to_numpy()])
            if parts is not None:
                # tolist() on purpose: zip iterates lists faster than
                # numpy's object-array iterator (measured — returning
                # the ndarray regressed the row build more than the
                # saved list materialization)
                return np.concatenate(parts).tolist()
        if pa.types.is_integer(t) or pa.types.is_floating(t):
            return col.to_numpy().tolist()
        if pa.types.is_boolean(t):
            return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def arrow_collected(df: DataFrame) -> ArrowCollectFrame:
    """Re-wrap ``df`` so its ``collect()`` uses the Arrow fast path."""
    return ArrowCollectFrame(df._jdf, df.sparkSession)

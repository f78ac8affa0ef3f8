"""``HttpBatchReader._emit_page`` column-wise decode against the row-wise one.

Pure pyarrow, no Spark. ``_rowwise_page`` below is the decode the reader
used before it built each column with one ``pa.array`` call: ``_coerce``
on every field of every record, then a transpose into Arrow columns. The
column-wise page must be an ``equals`` RecordBatch for every page, and a
page the row-wise decode rejects must still be rejected.
"""

import random

import pyarrow as pa
import pytest

from pyspark.sql import types as T

from flink_connector_http_spark import lookup
from flink_connector_http_spark.datasource import HttpBatchReader, _coerce_record


def _schema(**cols):
    return T.StructType([T.StructField(n, t) for n, t in cols.items()])


def _reader(schema):
    return HttpBatchReader({"url": "http://localhost:1/items"}, schema)


def _rowwise_page(reader, records, arrow_schema):
    rows = [_coerce_record(rec, reader.read_schema) for rec in records]
    cols = [
        pa.array([r[i] for r in rows], type=arrow_schema.field(i).type)
        for i in range(len(arrow_schema))
    ]
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def _columnwise_page(reader, records, arrow_schema):
    (batch,) = list(reader._emit_page(records, arrow_schema))
    return batch


def _assert_same(schema, records):
    reader = _reader(schema)
    arrow_schema = reader._arrow_schema()
    assert arrow_schema is not None
    want = _rowwise_page(reader, records, arrow_schema)
    got = _columnwise_page(reader, records, arrow_schema)
    assert got.schema.equals(want.schema)
    assert got.equals(want), (got.to_pylist(), want.to_pylist())
    return got


def _assert_both_raise(schema, records):
    reader = _reader(schema)
    arrow_schema = reader._arrow_schema()
    with pytest.raises(Exception):
        _rowwise_page(reader, records, arrow_schema)
    with pytest.raises(Exception):
        _columnwise_page(reader, records, arrow_schema)


WIDE = _schema(
    id=T.LongType(), name=T.StringType(), v=T.DoubleType(), ok=T.BooleanType(),
    n=T.IntegerType(), s=T.ShortType(), f=T.FloatType(), d=T.DateType(),
    ts=T.TimestampType(), raw=T.BinaryType(),
)


def test_native_json_types():
    records = [
        {"id": i, "name": f"n{i}", "v": i / 4, "ok": i % 2 == 0, "n": -i,
         "s": i, "f": i * 2}
        for i in range(50)
    ]
    got = _assert_same(WIDE, records)
    assert got.num_rows == 50
    assert got.column(0).to_pylist() == list(range(50))


def test_native_columns_skip_per_value_coerce(monkeypatch):
    calls = []
    real = lookup._coerce
    monkeypatch.setattr(
        lookup, "_coerce", lambda v, dt: calls.append(dt) or real(v, dt)
    )
    schema = _schema(id=T.LongType(), name=T.StringType(), v=T.DoubleType(),
                     ok=T.BooleanType())
    records = [{"id": i, "name": "x", "v": 0.5, "ok": True} for i in range(10)]
    _assert_same(schema, records)
    # only the row-wise reference coerced; the column-wise page did not
    assert len(calls) == 10 * 4
    calls.clear()
    reader = _reader(schema)
    _columnwise_page(reader, records, reader._arrow_schema())
    assert calls == []


def test_values_as_json_strings():
    records = [
        {"id": "7", "name": 12, "v": "1.5", "ok": "true", "n": "3", "s": "-2",
         "f": "0.25", "d": "2024-01-02", "ts": "2024-01-02T03:04:05Z",
         "raw": "bytes"},
        {"id": "8", "name": 2.5, "v": "2", "ok": "FALSE", "n": "4", "s": "5",
         "f": "1", "d": "2023-12-31", "ts": "2024-01-02T03:04:05.123456+02:00",
         "raw": "more"},
    ]
    _assert_same(WIDE, records)


def test_double_column_mixed_float_and_bool():
    _assert_same(_schema(v=T.DoubleType()), [{"v": 1.5}, {"v": True}])


@pytest.mark.parametrize("values", [[1, True], [True, 1], [True, False]])
def test_long_column_mixed_int_and_bool(values):
    got = _assert_same(_schema(id=T.LongType()), [{"id": v} for v in values])
    assert got.column(0).to_pylist() == [int(v) for v in values]


@pytest.mark.parametrize("values", [
    [2**53 + 1], [2**53 + 1, 1.5], [2**53 + 1, 3], [-(2**60), 2], [1, 2, 3],
])
def test_double_column_with_large_ints(values):
    got = _assert_same(_schema(v=T.DoubleType()), [{"v": v} for v in values])
    assert got.column(0).to_pylist() == [float(v) for v in values]


def test_int_and_small_int_columns_in_range():
    schema = _schema(n=T.IntegerType(), s=T.ShortType(), b=T.ByteType(),
                     f=T.FloatType())
    records = [{"n": 2**31 - 1, "s": -(2**15), "b": 127, "f": 2**24},
               {"n": -(2**31), "s": 2**15 - 1, "b": -128, "f": -3}]
    _assert_same(schema, records)


def test_missing_keys_and_all_null_column():
    records = [{"id": 1}, {"name": "b", "v": None}, {}, {"id": None, "v": 2.0}]
    got = _assert_same(WIDE, records)
    assert got.column(WIDE.fieldNames().index("ok")).null_count == 4


def test_nested_values_in_string_column():
    records = [{"name": {"a": 1, "b": [1, 2]}}, {"name": [1, "x"]},
               {"name": True}, {"name": 3}, {"name": "plain"}]
    got = _assert_same(_schema(name=T.StringType()), records)
    assert got.column(0).to_pylist()[:2] == ["{'a': 1, 'b': [1, 2]}", "[1, 'x']"]


def test_date_timestamp_and_boolean_columns():
    schema = _schema(d=T.DateType(), ts=T.TimestampType(), ok=T.BooleanType())
    records = [
        {"d": "2024-02-29", "ts": "2024-02-29T23:59:59Z", "ok": True},
        {"d": None, "ts": "2001-01-01T00:00:00", "ok": "true"},
        {"d": "1970-01-01", "ts": None, "ok": 0},
    ]
    _assert_same(schema, records)


def test_empty_page():
    _assert_same(WIDE, [])


@pytest.mark.parametrize("schema, records", [
    (_schema(n=T.IntegerType()), [{"n": 1}, {"n": 2**31}]),
    (_schema(id=T.LongType()), [{"id": 2**63}]),
    (_schema(id=T.LongType()), [{"id": 1}, {"id": 2**70}]),
    (_schema(id=T.LongType()), [{"id": 1}, [1, 2]]),
    (_schema(id=T.LongType()), ["not an object"]),
    (_schema(v=T.DoubleType()), [{"v": "not a number"}]),
])
def test_rejected_pages_still_raise(schema, records):
    _assert_both_raise(schema, records)


def test_non_arrow_schema_still_yields_tuples():
    schema = _schema(id=T.LongType(), tags=T.ArrayType(T.StringType()))
    reader = _reader(schema)
    assert reader._arrow_schema() is None
    rows = list(reader._emit_page([{"id": "1", "tags": [1, "a"]}], None))
    assert rows == [(1, ["1", "a"])]


_CHOICES = {
    "id": (T.LongType(), [0, -5, 2**40, "12", True, 3.0, None, "MISSING"]),
    "n": (T.IntegerType(), [7, -7, "9", False, None, "MISSING"]),
    "v": (T.DoubleType(), [0.5, 3, "2.25", True, 2**53 + 1, None, "MISSING"]),
    "name": (T.StringType(), ["s", 4, 1.5, False, {"k": 1}, None, "MISSING"]),
    "ok": (T.BooleanType(), [True, False, "true", "no", 1, 0, None, "MISSING"]),
    "d": (T.DateType(), ["2020-05-06", None, "MISSING"]),
    "ts": (T.TimestampType(), ["2020-05-06T07:08:09Z", None, "MISSING"]),
}


@pytest.mark.parametrize("seed", range(30))
def test_random_pages_match_rowwise(seed):
    rnd = random.Random(seed)
    names = rnd.sample(sorted(_CHOICES), rnd.randint(1, len(_CHOICES)))
    schema = _schema(**{n: _CHOICES[n][0] for n in names})
    # per column, either one value kind throughout or a random mix
    pools = {
        n: ([rnd.choice(_CHOICES[n][1]), None] if rnd.random() < 0.5
            else _CHOICES[n][1])
        for n in names
    }
    records = []
    for _ in range(rnd.randint(1, 40)):
        rec = {}
        for n in names:
            v = rnd.choice(pools[n])
            if v != "MISSING":
                rec[n] = v
        records.append(rec)
    _assert_same(schema, records)

"""Record IDL serialization parity: CSV/JSON/XML struct roundtrips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.functions import recordio
from tests.conftest import SF_SMOKE

DDL = "o_orderkey bigint, o_orderpriority string, o_totalprice double"


@pytest.fixture()
def records(spark):
    orders = catalog.load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return orders, recordio.pack(orders, ["o_orderkey", "o_orderpriority", "o_totalprice"])


def _json_roundtrip(packed, ddl):
    json = packed.select(F.to_json("record").alias("json"))
    return json.select(F.from_json("json", ddl).alias("record"))


def _assert_same(orders, unpacked):
    a = sorted(map(tuple, orders.collect()))
    b = sorted(map(tuple, unpacked.collect()))
    assert len(a) == len(b)
    assert all(
        x[0] == y[0] and x[1] == y[1] and abs(x[2] - y[2]) < 1e-9 for x, y in zip(a, b)
    )


def test_csv_roundtrip(spark, records):
    orders, packed = records
    back = recordio.unpack(recordio.from_csv_records(recordio.to_csv_records(packed), DDL))
    _assert_same(orders, back)


def test_json_roundtrip(spark, records):
    orders, packed = records
    back = recordio.unpack(_json_roundtrip(packed, DDL))
    _assert_same(orders, back)


def test_xml_roundtrip(spark, records):
    orders, packed = records
    opts = {"rowTag": "record"}
    xml = packed.select(F.to_xml("record", opts).alias("xml"))
    back = recordio.unpack(xml.select(F.from_xml("xml", DDL, opts).alias("record")))
    _assert_same(orders, back)


def test_record_schema_metadata(spark, records):
    _, packed = records
    st = recordio.record_schema(packed)
    assert [f.name for f in st.fields] == ["o_orderkey", "o_orderpriority", "o_totalprice"]


# --- rcc IDL -> StructType compiler ------------------------------------------
NESTED_IDL = """
// a comment
module org.example.links {
  class Location {
    double lat;
    double lon;
  }
}
module org.example {
  class Page {
    ustring url;
    buffer raw;
    org.example.links.Location loc;
    vector<ustring> anchors;
    map<ustring, long> counts;
  }
}
"""


def test_idl_compiles_nested_vector_map():
    from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType, MapType, StringType, StructType

    recs = recordio.compile_idl(NESTED_IDL)
    assert set(recs) == {"org.example.links.Location", "org.example.Page"}
    page = recordio.schema_from_idl(NESTED_IDL, "Page")
    byname = {f.name: f.dataType for f in page.fields}
    assert byname["url"] == StringType()
    assert byname["raw"] == BinaryType()
    assert isinstance(byname["loc"], StructType)
    assert byname["loc"]["lat"].dataType == DoubleType()
    assert byname["anchors"] == ArrayType(StringType())
    assert byname["counts"] == MapType(StringType(), LongType())


def test_idl_rejects_bad_source():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        recordio.compile_idl("module m { class A { int x } }")  # missing ';'
    with _pytest.raises(ValueError):
        recordio.compile_idl("module m { class A { unknown_t x; } }")
    with _pytest.raises(NotImplementedError):
        recordio.compile_idl('include "other.jr"')


# --- binary wire form (record/BinaryRecordOutput.java) -----------------------


def test_binary_known_bytes():
    """Pin the exact wire bytes for a simple record: WritableUtils vints,
    big-endian float/double, length-prefixed utf8 — the encoding a
    reference BinaryRecordOutput would produce."""
    from pyspark.sql.types import (
        BooleanType, ByteType, DoubleType, IntegerType, LongType,
        StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("b", ByteType()),
            StructField("ok", BooleanType()),
            StructField("i", IntegerType()),
            StructField("l", LongType()),
            StructField("d", DoubleType()),
            StructField("s", StringType()),
        ]
    )
    blob = recordio.pack_binary(
        {"b": -3, "ok": True, "i": 130, "l": -113, "d": 1.0, "s": "hi"}, schema
    )
    assert blob == (
        b"\xfd"  # byte -3
        b"\x01"  # true
        + bytes([0x8F, 130])  # vint 130: len=-113 -> 1 byte
        + bytes([0x87, 112])  # vint -113: ~(-113)=112, marker -121
        + b"\x3f\xf0\x00\x00\x00\x00\x00\x00"  # double 1.0 BE
        + b"\x02hi"
    )
    assert recordio.unpack_binary(blob, schema) == {
        "b": -3, "ok": True, "i": 130, "l": -113, "d": 1.0, "s": "hi",
    }


def test_binary_nested_roundtrip_local():
    schema = recordio.schema_from_idl(NESTED_IDL, "Page")
    rec = {
        "url": "http://a/b?q=1",
        "raw": b"\x00\xff\x10",
        "loc": {"lat": 48.85, "lon": 2.35},
        "anchors": ["x", "y", "z"],
        "counts": {"beta": 2, "alpha": 1},  # serializes sorted (TreeMap)
    }
    blob = recordio.pack_binary(rec, schema)
    assert recordio.unpack_binary(blob, schema) == rec
    # map order is canonical: logically-equal records byte-identical
    rec2 = dict(rec, counts={"alpha": 1, "beta": 2})
    assert recordio.pack_binary(rec2, schema) == blob
    with pytest.raises(ValueError, match="trailing"):
        recordio.unpack_binary(blob + b"\x00", schema)


def test_binary_distributed_roundtrip(spark):
    """to_binary_records/from_binary_records over a real DataFrame (the
    Arrow/mapInPandas path, struct cells arriving as dicts)."""
    schema = recordio.schema_from_idl(NESTED_IDL, "Page")
    rows = [
        ("u1", bytearray(b"\x01\x02"), (1.5, -2.25), ["a", "b"], {"x": 1, "y": 2}),
        ("u2", bytearray(b""), (0.0, 0.0), [], {}),
    ]
    df = spark.createDataFrame(rows, schema)
    packed = recordio.pack(df, [f.name for f in schema.fields])
    blobs = recordio.to_binary_records(packed)
    back = recordio.unpack(recordio.from_binary_records(blobs, schema))
    got = sorted(back.collect(), key=lambda r: r["url"])
    assert [r["url"] for r in got] == ["u1", "u2"]
    assert bytes(got[0]["raw"]) == b"\x01\x02"
    assert got[0]["loc"]["lon"] == -2.25
    assert got[0]["anchors"] == ["a", "b"]
    assert got[0]["counts"] == {"x": 1, "y": 2}


def test_idl_schema_json_roundtrip(spark):
    """Nested record incl. vector/map survives the JSON wire form."""
    schema = recordio.schema_from_idl(NESTED_IDL, "Page")
    rows = [
        ("u1", bytearray(b"\x01\x02"), (1.5, -2.25), ["a", "b"], {"x": 1, "y": 2}),
        ("u2", bytearray(b""), (0.0, 0.0), [], {}),
    ]
    df = spark.createDataFrame(rows, schema)
    packed = recordio.pack(df, [f.name for f in schema.fields])
    back = recordio.unpack(
        _json_roundtrip(packed, recordio.ddl(schema))
    )
    got = sorted(back.collect(), key=lambda r: r["url"])
    assert [r["url"] for r in got] == ["u1", "u2"]
    assert bytes(got[0]["raw"]) == b"\x01\x02"
    assert got[0]["loc"]["lon"] == -2.25
    assert got[0]["anchors"] == ["a", "b"]
    assert got[0]["counts"] == {"x": 1, "y": 2}

"""Record I/O: the reference's Record IDL serialization surface.

Reference: the `rcc` IDL (record/compiler/generated/RccConstants.java:25-46)
declares nested record schemas that serialize to **binary, CSV, or XML**
(record/BinaryRecordInput.java, CsvRecordInput.java, XmlRecordInput.java)
with runtime type metadata (record/meta/RecordTypeInfo.java).

Spark mapping: the IDL itself is subsumed by StructType construction; the
three wire formats map to
  - binary -> Parquet / SequenceFile (sources/sequencefile.py) — the
    self-describing container role,
  - CSV    -> to_csv/from_csv over a struct column,
  - XML    -> to_xml/from_xml over a struct column,
plus JSON (absent in 2008; the modern default). All four keep the schema
(`RecordTypeInfo`'s job) as an explicit StructType/DDL string.

Everything here is JVM expression work — serialization happens inside
whole-stage codegen, no Python in the row path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# --- rcc IDL -> StructType compiler ------------------------------------------
# Grammar: record/compiler/generated/rcc.jj:154-171 (token set
# RccConstants.java:25-46) — module <name> { class <name> { <type> <field>;
# ... } ... }; types are byte boolean int long float double ustring buffer,
# vector<T>, map<K,V>, and (possibly module-qualified) class references.

_PRIMITIVES: dict[str, DataType] = {
    "byte": ByteType(),
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "ustring": StringType(),
    "buffer": BinaryType(),
}

_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[{}<>,;.]|\S")


class _IdlParser:
    """Recursive-descent parser for the rcc grammar (modules, records,
    fields). ``include`` is unsupported (file-relative; pass the full
    source instead). Output: {fully.qualified.ClassName: StructType}."""

    def __init__(self, src: str) -> None:
        src = re.sub(r"//[^\n]*", "", src)
        src = re.sub(r"/\*.*?\*/", "", src, flags=re.S)
        self.toks = _TOKEN_RE.findall(src)
        self.i = 0
        self.records: dict[str, StructType] = {}
        self.module = ""

    def _peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> str:
        tok = self._peek()
        if tok is None:
            raise ValueError("unexpected end of IDL")
        self.i += 1
        return tok

    def _expect(self, tok: str) -> None:
        got = self._next()
        if got != tok:
            raise ValueError(f"expected {tok!r}, got {got!r} at token {self.i}")

    def parse(self) -> dict[str, StructType]:
        while self._peek() is not None:
            kw = self._next()
            if kw == "include":
                raise NotImplementedError("rcc 'include' is file-relative; inline the source")
            if kw != "module":
                raise ValueError(f"expected 'module', got {kw!r}")
            self.module = self._qualified_name()
            self._expect("{")
            while self._peek() == "class":
                self._record()
            self._expect("}")
        return self.records

    def _qualified_name(self) -> str:
        name = self._next()
        while self._peek() == ".":
            self._next()
            name += "." + self._next()
        return name

    def _record(self) -> None:
        self._expect("class")
        rname = self._next()
        self._expect("{")
        fields: list[StructField] = []
        while self._peek() != "}":
            ftype = self._type()
            fname = self._next()
            self._expect(";")
            fields.append(StructField(fname, ftype))
        self._expect("}")
        self.records[f"{self.module}.{rname}"] = StructType(fields)

    def _type(self) -> DataType:
        tok = self._next()
        if tok in _PRIMITIVES:
            return _PRIMITIVES[tok]
        if tok == "vector":
            self._expect("<")
            elem = self._type()
            self._expect(">")
            return ArrayType(elem)
        if tok == "map":
            self._expect("<")
            key = self._type()
            self._expect(",")
            val = self._type()
            self._expect(">")
            return MapType(key, val)
        # class reference: qualified or same-module simple name
        name = tok
        while self._peek() == ".":
            self._next()
            name += "." + self._next()
        fqn = name if "." in name else f"{self.module}.{name}"
        if fqn not in self.records:
            raise ValueError(f"unknown record type {name!r} (declare before use)")
        return self.records[fqn]


def compile_idl(src: str) -> dict[str, StructType]:
    """Compile rcc Record IDL source to Spark schemas, one StructType per
    declared record, keyed by fully-qualified name (module.Class)."""
    return _IdlParser(src).parse()


def schema_from_idl(src: str, record_name: str) -> StructType:
    """The StructType for one record of an rcc IDL source. ``record_name``
    may be fully qualified or a unique simple name."""
    recs = compile_idl(src)
    if record_name in recs:
        return recs[record_name]
    matches = [k for k in recs if k.rsplit(".", 1)[-1] == record_name]
    if len(matches) != 1:
        raise KeyError(f"record {record_name!r} not found (have {sorted(recs)})")
    return recs[matches[0]]


def ddl(schema: StructType) -> str:
    """DDL string form of a StructType (what from_csv/from_json accept)."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


def pack(df: DataFrame, cols: list[str], out: str = "record") -> DataFrame:
    """Bundle columns into one struct column (the 'record')."""
    return df.select(F.struct(*[F.col(c) for c in cols]).alias(out))


def record_schema(df: DataFrame, record_col: str = "record") -> StructType:
    """The record's runtime type info (RecordTypeInfo analog)."""
    return df.schema[record_col].dataType  # type: ignore[return-value]


def to_csv_records(df: DataFrame, record_col: str = "record", **options: str) -> DataFrame:
    return df.select(F.to_csv(F.col(record_col), options or None).alias("csv"))


def from_csv_records(
    df: DataFrame, schema_ddl: str, csv_col: str = "csv", **options: str
) -> DataFrame:
    return df.select(F.from_csv(F.col(csv_col), schema_ddl, options or None).alias("record"))


def unpack(df: DataFrame, record_col: str = "record") -> DataFrame:
    """Flatten the record back to top-level columns."""
    return df.select(f"{record_col}.*")


# --- binary wire form --------------------------------------------------------
# record/BinaryRecordOutput.java:68-118 / BinaryRecordInput.java: field
# values in declaration order, no tags or framing; int/long are
# WritableUtils zero-compressed vints (record/Utils.java:470 delegates to
# WritableUtils.writeVLong — NOT the tfile encoding), byte/bool raw bytes,
# float/double IEEE big-endian, ustring/buffer = vint byte-length + UTF-8/
# raw bytes (Utils.toBinaryString:304), vector = vint count + elements,
# map = vint count + alternating key/value (generated code keeps maps in a
# TreeMap, so entries serialize sorted by key — mirrored here for
# deterministic bytes).

import io as _io
import struct as _struct


def _write_wvlong(out: _io.BytesIO, i: int) -> None:
    """WritableUtils.writeVLong (io/WritableUtils.java)."""
    if -112 <= i <= 127:
        out.write(_struct.pack(">b", i))
        return
    length = -112
    if i < 0:
        i = ~i
        length = -120
    tmp = i
    while tmp:
        tmp >>= 8
        length -= 1
    out.write(_struct.pack(">b", length))
    k = -(length + 120) if length < -120 else -(length + 112)
    for idx in range(k - 1, -1, -1):
        out.write(bytes([(i >> (8 * idx)) & 0xFF]))


def _read_wvlong(buf: _io.BytesIO) -> int:
    (fb,) = _struct.unpack(">b", buf.read(1))
    if fb >= -112:
        return fb
    neg = fb < -120
    k = -(fb + 120) if neg else -(fb + 112)
    i = int.from_bytes(buf.read(k), "big")
    return ~i if neg else i


def _bin_write(out: _io.BytesIO, value, dtype: DataType) -> None:
    if isinstance(dtype, ByteType):
        out.write(_struct.pack(">b", int(value)))
    elif isinstance(dtype, BooleanType):
        out.write(b"\x01" if value else b"\x00")
    elif isinstance(dtype, (IntegerType, LongType)):
        _write_wvlong(out, int(value))
    elif isinstance(dtype, FloatType):
        out.write(_struct.pack(">f", float(value)))
    elif isinstance(dtype, DoubleType):
        out.write(_struct.pack(">d", float(value)))
    elif isinstance(dtype, StringType):
        b = str(value).encode("utf-8")
        _write_wvlong(out, len(b))
        out.write(b)
    elif isinstance(dtype, BinaryType):
        b = bytes(value)
        _write_wvlong(out, len(b))
        out.write(b)
    elif isinstance(dtype, ArrayType):
        _write_wvlong(out, len(value))
        for v in value:
            _bin_write(out, v, dtype.elementType)
    elif isinstance(dtype, MapType):
        items = sorted(value.items())  # TreeMap order
        _write_wvlong(out, len(items))
        for k, v in items:
            _bin_write(out, k, dtype.keyType)
            _bin_write(out, v, dtype.valueType)
    elif isinstance(dtype, StructType):
        for f in dtype.fields:
            # dict access first: a field named like a dict method (`items`)
            # must not resolve to the method via getattr
            fv = value[f.name] if isinstance(value, dict) else getattr(value, f.name)
            _bin_write(out, fv, f.dataType)
    else:
        raise NotImplementedError(f"record binary form: unsupported type {dtype}")


def _bin_read(buf: _io.BytesIO, dtype: DataType):
    if isinstance(dtype, ByteType):
        return _struct.unpack(">b", buf.read(1))[0]
    if isinstance(dtype, BooleanType):
        return buf.read(1) != b"\x00"
    if isinstance(dtype, (IntegerType, LongType)):
        return _read_wvlong(buf)
    if isinstance(dtype, FloatType):
        return _struct.unpack(">f", buf.read(4))[0]
    if isinstance(dtype, DoubleType):
        return _struct.unpack(">d", buf.read(8))[0]
    if isinstance(dtype, StringType):
        return buf.read(_read_wvlong(buf)).decode("utf-8")
    if isinstance(dtype, BinaryType):
        return buf.read(_read_wvlong(buf))
    if isinstance(dtype, ArrayType):
        return [_bin_read(buf, dtype.elementType) for _ in range(_read_wvlong(buf))]
    if isinstance(dtype, MapType):
        return {
            _bin_read(buf, dtype.keyType): _bin_read(buf, dtype.valueType)
            for _ in range(_read_wvlong(buf))
        }
    if isinstance(dtype, StructType):
        return {f.name: _bin_read(buf, f.dataType) for f in dtype.fields}
    raise NotImplementedError(f"record binary form: unsupported type {dtype}")


def pack_binary(value, schema: StructType) -> bytes:
    """Serialize one record (dict/Row keyed by field name) to the rcc
    binary wire form."""
    out = _io.BytesIO()
    _bin_write(out, value, schema)
    return out.getvalue()


def unpack_binary(data: bytes, schema: StructType) -> dict:
    """Deserialize one rcc-binary record back to a nested dict."""
    buf = _io.BytesIO(data)
    value = _bin_read(buf, schema)
    trailing = buf.read()
    if trailing:
        raise ValueError(f"record binary form: {len(trailing)} trailing bytes")
    return value


def to_binary_records(
    df: DataFrame, record_col: str = "record", out: str = "bin"
) -> DataFrame:
    """Struct column -> rcc-binary bytes column. Arrow-batched (mapInPandas
    — the same honest Python boundary as the multimodal decoders): the
    reference format predates any JVM-side Spark codec, so the row cost is
    the price of true wire compat; bulk storage stays Parquet."""
    schema = record_schema(df, record_col)
    other = [c for c in df.columns if c != record_col]

    def encode(batches):
        for pdf in batches:
            recs = pdf[record_col]
            pdf = pdf[other].copy()
            pdf[out] = [pack_binary(_as_plain(r), schema) for r in recs]
            yield pdf

    out_schema = StructType(
        [df.schema[c] for c in other] + [StructField(out, BinaryType())]
    )
    return df.mapInPandas(encode, out_schema)


def from_binary_records(
    df: DataFrame, schema: StructType, bin_col: str = "bin", out: str = "record"
) -> DataFrame:
    """rcc-binary bytes column -> struct column (inverse of
    to_binary_records)."""
    other = [c for c in df.columns if c != bin_col]

    def decode(batches):
        for pdf in batches:
            blobs = pdf[bin_col]
            pdf = pdf[other].copy()
            pdf[out] = [unpack_binary(bytes(b), schema) for b in blobs]
            yield pdf

    out_schema = StructType(
        [df.schema[c] for c in other] + [StructField(out, schema)]
    )
    return df.mapInPandas(decode, out_schema)


def _as_plain(value):
    """Arrow hands struct cells over as dicts; Rows appear in local use.
    Normalize both to dict-like access for _bin_write."""
    if hasattr(value, "asDict"):
        return value.asDict(recursive=True)
    return value

"""Track C — explicit-codec variant kernels as vectorized pandas UDFs.

The physical representation is a plain ``struct<metadata: binary,
value: binary>`` column, mirroring the reference's
``StructArray{metadata, values}`` (json.rs:67-80). Each row's metadata
holds only that row's keys, as in Spark's native VariantType. The
reference instead shares one metadata blob per Arrow batch
(json.rs:51-63, dictionary-encoded across rows), but Spark rejects a
dictionary-encoded field returned from ``mapInArrow``, and a plain
binary column would copy the batch's whole dictionary into every row.

Scale notes:

* All kernels are Arrow-batched pandas UDFs — the JVM→Python channel
  is zero-copy per batch. Within a batch, rows with the same key set
  share one metadata blob, built and parsed once
  (``codec.encode_batch``, ``codec.BatchDecoder``): the reference's
  amortization (open-variant/README.md:55-57) at key-set grain.
* Identical blobs also collapse into one parquet dictionary entry per
  row group at write time.
* These UDFs are opaque to Catalyst (no pushdown through them) — keep
  them at ingestion/extraction edges and shred hot fields early
  (functions/variant.py:shred).

The typed getters are one kernel with two entry points, a literal path
(``variant_get``, ``variant_extract``) and a path column
(``variant_get_path_column``): both run each row through ``_get_row``.
"""

from __future__ import annotations

import re
from decimal import Decimal

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import codec
from .variant import _col

#: Physical schema of an explicit-track variant column — mirrors the
#: reference's StructArray layout (json.rs:67-80).
VARIANT_STRUCT = StructType(
    [
        StructField("metadata", BinaryType(), nullable=False),
        StructField("value", BinaryType(), nullable=True),
    ]
)


@pandas_udf(VARIANT_STRUCT)
def variant_from_json(texts: pd.Series) -> pd.DataFrame:
    """JSON strings → variant struct, each row with its own metadata.

    Vectorized mirror of ``variant_from_json`` (json.rs:38-81): parse
    every row, then encode it against the dictionary of its own keys
    (``codec.encode_batch``). Malformed JSON fails the whole batch
    (json.rs:42-48).
    """
    metas, values = codec.batch_from_json(texts.tolist())
    return pd.DataFrame({"metadata": metas, "value": values})


@pandas_udf(VARIANT_STRUCT)
def try_variant_from_json(texts: pd.Series) -> pd.DataFrame:
    """Per-row-tolerant ingestion: a malformed row becomes a null value
    slot (with the empty dictionary as its metadata); every other row
    encodes as in ``variant_from_json``."""
    metas, values = codec.batch_from_json(texts.tolist(), tolerant=True)
    return pd.DataFrame({"metadata": metas, "value": values})


_GETTER_TYPES = {
    "bigint": LongType(),
    "double": DoubleType(),
    "string": StringType(),
    "boolean": BooleanType(),
    "typeof": StringType(),  # the runtime type name at the path
}


def variant_get(col, path: str, dtype: str = "string") -> Column:
    """Typed path extraction from an explicit variant struct column.

    All row-invariant work is hoisted: the JSON path parses once per
    UDF, and per distinct metadata blob (shared by the rows of a batch
    with the same key set — the reference's amortization,
    open-variant/README.md:55-57) the Metadata is constructed and the
    path's field ids are resolved exactly once; rows only pay the
    value-buffer walk (metadata.rs:162-184 + values/read.rs:87-93).
    """
    return variant_extract(col, {"v": (path, dtype)})["v"]


def variant_extract(col, fields: dict[str, tuple[str, str]]) -> Column:
    """Fused multi-path extraction: ONE pandas UDF (one Arrow transfer
    of the variant struct, one row loop) serves any number of typed
    getters. ``fields`` maps output name → (json_path, dtype); dtype
    ``"typeof"`` yields the runtime type name at the path
    (VariantRef::basic_type/primitive_type_id, values/read.rs:22-30).

    This is the batch twin of chaining single getters — N separate
    getter UDFs each re-ship metadata+value bytes over the Arrow
    channel and re-walk the buffers; fused, both costs are paid once.
    """
    # Specs that share a json path are grouped: per row the shared
    # path is walked once and decoded to Python once, and each member
    # only pays its own coercion — a bigint + string getter on $.k
    # cost one walk_path + one to_python, not two of each (round 15:
    # decode measured 0.64x on the bench key's spec shape).
    groups: dict[tuple, list[tuple[str, str]]] = {}
    out_fields: list[StructField] = []
    for name, (path, dtype) in fields.items():
        if dtype not in _GETTER_TYPES:
            raise ValueError(f"dtype must be one of {sorted(_GETTER_TYPES)}")
        groups.setdefault(tuple(codec.parse_json_path(path)), []).append((name, dtype))
        out_fields.append(StructField(name, _GETTER_TYPES[dtype]))

    @pandas_udf(StructType(out_fields))
    def _extract(v: pd.DataFrame) -> pd.DataFrame:
        dec = codec.BatchDecoder()
        data: dict[str, list] = {name: [] for name in fields}
        for mb, vb in zip(v["metadata"], v["value"]):
            if vb is None or mb is None:
                for column in data.values():
                    column.append(None)
                continue
            mkey, vbytes = bytes(mb), bytes(vb)
            for steps, outs in groups.items():
                _get_row(dec, mkey, vbytes, steps, outs, data)
        # object columns: pandas would read an int column that holds a
        # None as float64, which rounds past 2^53 and overflows at 2^63-1
        return pd.DataFrame(data, dtype=object)

    return _extract(_col(col))


def variant_get_path_column(dtype: str):
    """``variant_get`` with the JSON path as a column, behind the SQL
    ``codec_get_*`` names. Each distinct path parses once per batch; a
    NULL or malformed path reads NULL."""

    @pandas_udf(_GETTER_TYPES[dtype])
    def _get(v: pd.DataFrame, paths: pd.Series) -> pd.Series:
        dec = codec.BatchDecoder()
        parsed: dict = {None: None}
        out: list = []
        data, member = {"v": out}, (("v", dtype),)
        for mb, vb, path in zip(v["metadata"], v["value"], paths):
            if path not in parsed:
                try:
                    parsed[path] = tuple(codec.parse_json_path(path))
                except codec.VariantError:
                    parsed[path] = None
            if vb is None or mb is None or parsed[path] is None:
                out.append(None)
            else:
                _get_row(dec, bytes(mb), bytes(vb), parsed[path], member, data)
        return pd.Series(out, dtype=object)

    return _get


def _get_row(dec: codec.BatchDecoder, mkey: bytes, vbytes: bytes, steps: tuple,
             outs, data: dict) -> None:
    """The getter step of both entry points, for one row and one parsed
    path: walk ``steps`` once, decode the node to Python at most once,
    and append each ``(name, dtype)`` member's value to ``data[name]``."""
    m = dec.metadata(mkey)
    try:
        node = codec.walk_path(vbytes, steps, dec.fids(mkey, steps), m.sorted_strings)
    except codec.VariantError:
        node = None
    py, decoded = None, False
    for name, dtype in outs:
        if node is None:
            data[name].append(None)
        elif dtype == "typeof":
            data[name].append(node.type_name())
        else:
            if not decoded:
                decoded = True
                try:
                    py = codec.to_python(node, m)
                except codec.VariantError:
                    py = None
            data[name].append(_coerce(py, dtype))


#: Spark's casts of a string (``try_variant_get`` of a JSON string): a
#: bigint trims bytes <= 0x20 and DEL around ASCII digits; a double trims
#: bytes <= 0x20 around Java's decimal syntax or Spark's inf/nan words
#: (Java's hex floats are left out).
_BIGINT_TEXT = re.compile(r"[\0- \x7f]*([+-]?[0-9]+)[\0- \x7f]*")
_DOUBLE_TEXT = re.compile(
    r"[\0- ]*(?:([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)[fFdD]?"
    r"|([+-]?(?:NaN|Infinity)|(?i:[+-]?inf(?:inity)?|nan)))[\0- ]*"
)


def _coerce(py, dtype: str):
    """A decoded value as ``dtype``, or None where Spark's
    ``try_variant_get`` gives NULL. Two classes keep Track C's own
    reading (ARCHITECTURE.md, "Track N vs Track C"): a boolean is read
    only from a boolean, and a double renders as Python's ``str``."""
    if py is None:
        return None
    if dtype == "bigint":
        if isinstance(py, str):
            m = _BIGINT_TEXT.fullmatch(py)
            py = int(m.group(1)) if m else None
        elif isinstance(py, float):
            # as Spark: NULL unless floor/ceil fit, then saturate (2^63 → 2^63-1)
            py = min(int(py), 2**63 - 1) if -(2.0**63) <= py <= 2.0**63 else None
        elif not isinstance(py, (int, Decimal)):
            return None
        return int(py) if py is not None and -(2**63) <= py < 2**63 else None
    if dtype == "double":
        if isinstance(py, str):
            m = _DOUBLE_TEXT.fullmatch(py)
            return float(m.group(1) or m.group(2)) if m else None
        return float(py) if isinstance(py, (int, float, Decimal)) else None
    if dtype == "boolean":
        return py if isinstance(py, bool) else None
    if isinstance(py, (list, dict)):
        return codec._render_json(py)
    if isinstance(py, bool):
        return "true" if py else "false"
    return str(py)


@pandas_udf(StringType())
def variant_to_json(v: pd.DataFrame) -> pd.Series:
    """Explicit variant struct → canonical JSON text."""
    dec = codec.BatchDecoder()
    out = []
    for mb, vb in zip(v["metadata"], v["value"]):
        out.append(None if vb is None else dec.to_json(bytes(vb), bytes(mb)))
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def variant_typeof(v: pd.DataFrame) -> pd.Series:
    """Runtime type name (VariantRef::basic_type/primitive_type_id,
    values/read.rs:22-30)."""
    out = []
    for vb in v["value"]:
        out.append(None if vb is None else codec.Variant(bytes(vb)).type_name())
    return pd.Series(out, dtype=object)


@pandas_udf(BooleanType())
def is_variant_null(v: pd.DataFrame) -> pd.Series:
    """Variant-null check (the json.rs:185-196 duality: SQL NULL stays
    NULL; a variant Null value yields true)."""
    out = []
    for vb in v["value"]:
        out.append(None if vb is None else codec.Variant(bytes(vb)).is_null())
    return pd.Series(out, dtype=object)


@pandas_udf(VARIANT_STRUCT)
def variant_merge_patch(vs: pd.DataFrame, patches: pd.Series) -> pd.DataFrame:
    """RFC 7386 merge patch at the VARIANT level: decode each target
    value against its row's dictionary, apply the (JSON text) patch via
    codec.merge_patch — null deletes, objects recurse, scalars replace
    — and re-encode the batch with ``codec.encode_batch`` (the
    post-merge key set can both shrink and grow, so each row's
    metadata is rebuilt exactly like ingestion does). A SQL NULL patch
    passes the target through; a SQL NULL target stays null and its
    patch is not parsed. A JSON
    ``null`` patch replaces the target with null (RFC 7386). A
    malformed patch fails the batch with ``VariantError``."""
    dec = codec.BatchDecoder()
    merged: list = []
    for mb, vb, patch in zip(vs["metadata"], vs["value"], patches):
        if vb is None:
            merged.append(None)
            continue
        target = dec.to_python(bytes(vb), bytes(mb))
        if patch is None:
            merged.append(target)
        else:
            merged.append(codec.merge_patch(target, codec.parse_json(patch)))
    metas, out = codec.encode_batch(merged)
    return pd.DataFrame({"metadata": metas, "value": out})

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
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
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
    specs: list[tuple[str, list, str]] = []
    out_fields: list[StructField] = []
    for name, (path, dtype) in fields.items():
        if dtype != "typeof" and dtype not in _GETTER_TYPES:
            raise ValueError(f"dtype must be 'typeof' or one of {sorted(_GETTER_TYPES)}")
        specs.append((name, codec.parse_json_path(path), dtype))
        out_fields.append(
            StructField(name, StringType() if dtype == "typeof" else _GETTER_TYPES[dtype])
        )

    # Specs that share a json path are grouped: per row the shared
    # path is walked once and decoded to Python once, and each member
    # only pays its own coercion — a bigint + string getter on $.k
    # cost one walk_path + one to_python, not two of each (round 15:
    # decode measured 0.64x on the bench key's spec shape).
    groups: list[tuple[tuple, list[tuple[str, str]]]] = []
    _by_path: dict[tuple, int] = {}
    for name, steps, dtype in specs:
        gi = _by_path.setdefault(tuple(steps), len(groups))
        if gi == len(groups):
            groups.append((tuple(steps), []))
        groups[gi][1].append((name, dtype))

    @pandas_udf(StructType(out_fields))
    def _extract(v: pd.DataFrame) -> pd.DataFrame:
        dec = codec.BatchDecoder()
        data: dict[str, list] = {name: [] for name, _, _ in specs}
        for mb, vb in zip(v["metadata"], v["value"]):
            if vb is None or mb is None:
                for name, _, _ in specs:
                    data[name].append(None)
                continue
            mkey = bytes(mb)
            m = dec.metadata(mkey)
            vbytes = bytes(vb)
            for steps, outs in groups:
                try:
                    node = codec.walk_path(
                        vbytes, steps, dec.fids(mkey, steps), m.sorted_strings
                    )
                except codec.VariantError:
                    node = None
                py = None
                decoded = False
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
        return pd.DataFrame(data)

    return _extract(_col(col))


def _coerce(py, dtype: str):
    if py is None:
        return None
    try:
        if dtype == "bigint":
            return int(py) if not isinstance(py, (list, dict)) else None
        if dtype == "double":
            return float(py) if not isinstance(py, (list, dict)) else None
        if dtype == "boolean":
            return py if isinstance(py, bool) else None
        if dtype == "string":
            if isinstance(py, (list, dict)):
                return codec._render_json(py)
            if isinstance(py, bool):
                return "true" if py else "false"
            return str(py)
    except (TypeError, ValueError):
        return None
    return None


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


def _col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


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

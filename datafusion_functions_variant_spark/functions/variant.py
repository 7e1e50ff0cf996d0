"""Track N — the variant function surface on Spark's native VariantType.

Maps the reference's public API (SURVEY.md §2 Part A) onto Spark 4
built-ins. Every function here stays inside Catalyst/whole-stage
codegen — this is the hot query path; the explicit pandas_udf codec
(functions/explicit.py) is for ingestion/extraction edges and for
inspecting the binary format itself.

Reference parity (file:line into /root/reference):

* ``parse_json``       ≙ ``variant_from_json`` kernel (arrow-open-variant/src/json.rs:38-81)
* ``try_parse_json``   ≙ per-row-tolerant variant of the same (the
  reference batch-fails, json.rs:42-48; we expose both modes)
* ``variant_get``      ≙ find_string + tree walk + typed getters
  (open-variant/src/metadata.rs:162-184, values/read.rs:87-93,40-72)
* ``typeof_variant``   ≙ ``VariantRef::basic_type``/``primitive_type_id``
  (values/read.rs:22-30)
* ``is_variant_null``  ≙ the Arrow-null vs variant-null duality
  (json.rs:185-196)
* ``to_variant_object``≙ ObjectBuilder path (values/write.rs:127-274)
* ``variant_to_json``  ≙ inverse of the JSON kernel
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def parse_json(col) -> Column:
    """JSON string → variant; malformed input fails the task (strict,
    like the reference's batch-fail semantics)."""
    return F.parse_json(_col(col))


def try_parse_json(col) -> Column:
    """JSON string → variant; malformed rows become NULL."""
    return F.try_parse_json(_col(col))


def variant_get(col, path: str, dtype: str = "variant") -> Column:
    """Extract + cast one JSON path. Errors if the cast is invalid."""
    return F.variant_get(_col(col), path, dtype)


def try_variant_get(col, path: str, dtype: str = "variant") -> Column:
    """Extract + cast one JSON path; NULL on cast failure."""
    return F.try_variant_get(_col(col), path, dtype)


def is_variant_null(col) -> Column:
    """True for a *variant* null (JSON ``null``), false otherwise —
    distinct from SQL NULL, mirroring json.rs:185-196."""
    return F.is_variant_null(_col(col))


def typeof_variant(col) -> Column:
    """Spark type name of the variant's runtime type (schema_of_variant)."""
    return F.schema_of_variant(_col(col))


def schema_of_variant_agg(col) -> Column:
    """Aggregate: merged schema over all rows of a variant column."""
    return F.schema_of_variant_agg(_col(col))


def to_variant_object(col) -> Column:
    """Struct/map/array column → variant (the ObjectBuilder path)."""
    return F.to_variant_object(_col(col))


def variant_to_json(col) -> Column:
    """Variant → canonical JSON text."""
    return F.to_json(_col(col))


def shred(df: DataFrame, variant_col: str, fields: dict[str, tuple[str, str]]) -> DataFrame:
    """Extract hot variant fields into typed top-level columns.

    ``fields`` maps new column name → (json_path, spark_type). This is
    the §4 design rule: shred early so every downstream op (filter,
    join key, agg) is a native typed column that Catalyst can push
    down / prune — at 100 TB you never want a per-row variant walk
    inside a join condition.
    """
    out = df
    for name, (path, dtype) in fields.items():
        out = out.withColumn(name, F.variant_get(F.col(variant_col), path, dtype))
    return out

"""SQL registration of the variant function surface (SURVEY.md §7 M2:
"Register as both Python API and ``spark.udf.register`` SQL names").

It only binds SQL names to ``functions/explicit.py``'s kernels. The
getters are its path-column entry point, which parses each distinct
path once per batch, so the reference's find_string-once amortization
(open-variant/README.md:55-57) survives the SQL boundary.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import explicit

#: name → pandas UDF, the whole SQL-callable codec surface.
SQL_FUNCTIONS = {
    "codec_parse_json": explicit.variant_from_json,
    "codec_try_parse_json": explicit.try_variant_from_json,
    "codec_to_json": explicit.variant_to_json,
    "codec_typeof": explicit.variant_typeof,
    "codec_is_variant_null": explicit.is_variant_null,
    "codec_get_bigint": explicit.variant_get_path_column("bigint"),
    "codec_get_double": explicit.variant_get_path_column("double"),
    "codec_get_string": explicit.variant_get_path_column("string"),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotently register every codec function under its SQL name."""
    for name, fn in SQL_FUNCTIONS.items():
        spark.udf.register(name, fn)

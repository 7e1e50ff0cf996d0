"""mapInArrow variant kernel — the closest Spark analogue of the
reference's Arrow-native ``variant_from_json`` (json.rs:38-81): the
batch arrives as a pyarrow RecordBatch (zero-copy from the JVM), and
the output StructArray mirrors the reference's
``{metadata: Binary, values: Binary}`` layout (json.rs:67-80) — no
pandas materialization in between. Each row's metadata holds only its
own keys (``codec.encode_batch``): Spark rejects the reference's
dictionary-encoded metadata field when a ``mapInArrow`` kernel returns
it (``UNSUPPORTED_CALL``, ``ArrowColumnVector``'s ``getBinary``).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame

from .. import codec


def variant_from_json_arrow(df: DataFrame, text_col: str, out_col: str = "v") -> DataFrame:
    """Append ``out_col`` (struct<metadata:binary, value:binary>) built
    from the JSON strings in ``text_col`` via a mapInArrow kernel.

    Unlike the pandas_udf track (functions/explicit.py), rows pass
    through as Arrow arrays end-to-end; all other columns are carried
    unchanged.
    """
    import pyarrow as pa

    fields = [df.schema[name] for name in df.columns]
    out_schema_ddl = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
        + f", {out_col} struct<metadata:binary, value:binary>"
    )

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            metas, values = codec.batch_from_json(texts)
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(metas, type=pa.binary()),
                    pa.array(values, type=pa.binary()),
                ],
                names=["metadata", "value"],
            )
            arrays = [batch.column(i) for i in range(batch.num_columns)]
            yield pa.RecordBatch.from_arrays(
                arrays + [struct], names=list(batch.schema.names) + [out_col]
            )

    return df.mapInArrow(kernel, out_schema_ddl)

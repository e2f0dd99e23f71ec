"""P19 schema-walk serialization (fact_gold_price.py:96-105: the
reference walks pandas dtypes into a dict to push DataFrames through
Airflow XCom). Spark-first, the exchange format is the schema itself:
a stable, sorted JSON walk of any StructType — nested structs, arrays,
maps included — byte-equal for equal schemas, so cross-job contracts
compare as strings."""

from __future__ import annotations

import json

from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def _walk(dt: DataType):
    if isinstance(dt, StructType):
        return {
            "type": "struct",
            "fields": [
                {"name": f.name, "nullable": f.nullable, "dtype": _walk(f.dataType)}
                for f in dt.fields
            ],
        }
    if isinstance(dt, ArrayType):
        return {"type": "array", "element": _walk(dt.elementType)}
    if isinstance(dt, MapType):
        return {"type": "map", "key": _walk(dt.keyType), "value": _walk(dt.valueType)}
    # leaf: Spark's JSON type name ("long", not simpleString's "bigint") so
    # StructType.fromJson can parse the rebuilt tree
    return dt.jsonValue()


def schema_to_json(schema: StructType) -> str:
    """Deterministic JSON serialization (sorted keys, no whitespace
    drift) — equal schemas always produce byte-equal strings."""
    return json.dumps(_walk(schema), sort_keys=True, separators=(",", ":"))

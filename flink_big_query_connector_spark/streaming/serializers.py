"""Row serialization (reference A17–A19, SURVEY.md §2).

The reference's user-facing surface is a ``RowValueSerializer<A> -> byte[]``
with three shipped flavors: JSON (``serializer/JsonRowValueSerializer.java``),
protobuf (``serializer/ProtoValueSerializer.java`` with the descriptor
derived from the live table schema,
``client/BigQueryProtoClientProvider.java:45-46``), and NoOp for
pre-serialized pipelines (``serializer/NoOpRowSerializer.java:3-8``).

Spark-first mapping: serialization is a *column expression*, not a per-row
callback — it stays JVM-side inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: ``to_json`` options of every JSON line the connector writes.  A
#: TIMESTAMP keeps all six fractional digits and an explicit UTC offset, a
#: TIMESTAMP_NTZ keeps six digits and no offset — the same text the Arrow
#: DSv2 writers produce (``bq_datasource._json_default``), so one row is
#: one line whichever writer stored it.
JSON_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "timeZone": "UTC",
}


def json_line(cols: list[str]) -> Column:
    """One JSON object per row over ``cols`` (A17): ``to_json(struct)``
    with :data:`JSON_OPTIONS` — codegen, no UDF."""
    return F.to_json(F.struct(*cols), JSON_OPTIONS)


def json_rows(df: DataFrame) -> Column:
    """JSON bytes per row (A17)."""
    return json_line(df.columns).cast("binary")


def json_size(df: DataFrame) -> Column:
    """Serialized byte size (the ``BigQueryRecord.getSize()`` analogue)."""
    return F.length(json_line(df.columns)).cast("long")


def noop_rows(df: DataFrame, payload_col: str) -> Column:
    """NoOp passthrough (A19): the payload column must already be binary."""
    field = dict(zip(df.columns, df.schema.fields))[payload_col]
    if field.dataType.simpleString() != "binary":
        raise TypeError(
            f"NoOp serializer requires a binary column; "
            f"{payload_col} is {field.dataType.simpleString()}"
        )
    return F.col(payload_col)


def proto_rows(
    df: DataFrame,
    descriptor_path: str | None = None,
    message_name: str | None = None,
) -> Column:
    """Protobuf bytes per row (A18).

    Two tiers, mirroring the reference's descriptor-from-table-schema
    derivation (``client/BigQueryProtoClientProvider.java:45-46``):

    1. With a compiled descriptor set available AND the spark-protobuf jar
       on the classpath, Spark's native ``to_protobuf`` (JVM-side, codegen).
    2. Otherwise the pure-Python wire-format encoder
       (:func:`..streaming.proto.proto_rows_py`): the descriptor is derived
       from ``df.schema`` exactly like the reference derives it from the
       table schema, and rows are encoded by an Arrow-batched pandas UDF.
       Slower per row but dependency-free and byte-compatible.
    """
    if descriptor_path is not None and message_name is not None:
        try:
            from pyspark.sql.protobuf.functions import to_protobuf

            return to_protobuf(
                F.struct(*df.columns), message_name, descFilePath=descriptor_path
            )
        except Exception:  # jar not on classpath -> pure-Python tier
            pass
    from .proto import proto_rows_py

    return proto_rows_py(df)

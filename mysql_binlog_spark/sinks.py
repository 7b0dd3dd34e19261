"""Emission sinks beyond the lake table.

The reference's primary output is JSON-serialized events
(Event::jsonSerialize, e.g. WriteRows.php:27-33 — injects the ``action``
discriminator, strips wire bitmaps; printed by
examples/print-row-events.php:38-41).  Here that becomes a debug/bridge
sink: one JSON document per change event, suitable for
``writeStream.format("json")`` or hand-off to Kafka-style sinks — the
"send it anywhere" half the reference leaves to the user (README.md:3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_json_events(
    decoded: DataFrame,
    image_cols: list[str],
    binary_cols: set[str] | None = None,
) -> DataFrame:
    """One JSON string per change row, shaped like the reference's event
    JSON: action + position + before/after images (absent sides omitted —
    jsonSerialize drops null members the same way).

    ``binary_cols``: BINARY-collation columns (BinaryType from the decode
    source) are enveloped as ``binary:base64,<b64>`` strings, the
    reference's encoding for non-text payloads (RowFactory.php:108,115) —
    raw bytes cannot ride JSON otherwise."""
    binary_cols = binary_cols or set()

    def img(c: str, side: str):
        col = F.col(f"{side}_{c}")
        if c in binary_cols:
            return F.concat(F.lit("binary:base64,"), F.base64(col)).alias(c)
        return col.alias(c)

    before = F.struct(*[img(c, "before") for c in image_cols])
    after = F.struct(*[img(c, "after") for c in image_cols])
    doc = F.struct(
        F.col("action"),
        F.struct(
            F.col("log_file").alias("file"), F.col("log_pos").alias("position")
        ).alias("position"),
        F.col("server_id"),
        F.col("schema_name").alias("schema"),
        F.col("table_name").alias("table"),
        F.when(F.col("action") != "insert", before).alias("before"),
        F.when(F.col("action") != "delete", after).alias("after"),
    )
    return decoded.select(
        F.to_json(doc, {"ignoreNullFields": "true"}).alias("json")
    )


"""JSON event sink (K1) tests."""

from __future__ import annotations

import json

from mysql_binlog_spark.driver_queries import decoded_binary_df
from mysql_binlog_spark.sinks import to_json_events

IMAGE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_version"]


def test_json_event_emission(spark, sf_dir):
    dec = decoded_binary_df(spark, sf_dir, include={("app", "transcripts")})
    rows = to_json_events(dec, IMAGE_COLS).limit(50).collect()
    assert rows
    for r in rows:
        doc = json.loads(r["json"])
        assert doc["action"] in ("insert", "update", "delete")
        assert doc["position"]["file"].startswith("binlog.")
        if doc["action"] == "insert":
            assert "before" not in doc and doc["after"]["conv_id"]
        if doc["action"] == "delete":
            assert "after" not in doc and doc["before"]["conv_id"]


def test_json_binary_envelope(spark):
    """BINARY-collation columns ride the JSON sink as the reference's
    base64 envelope (RowFactory.php:108,115)."""
    import base64
    import os
    import tempfile

    from mysql_binlog_spark.sources.binlog import read_binlog
    from mysql_binlog_spark.wire import (
        CHARSET_BINARY,
        TYPE_BLOB,
        TYPE_LONG,
        BinlogWriter,
        TableSchema,
        WireColumn,
    )

    raw = bytes([0, 255, 128, 7, 42])
    t = TableSchema(
        "app", "media",
        [WireColumn("id", TYPE_LONG, nullable=False),
         WireColumn("payload", TYPE_BLOB, meta=2, charset=CHARSET_BINARY)],
        (0,), 400,
    )
    w = BinlogWriter()
    w.write_table_map(0, t)
    w.write_rows(0, t, "insert", [{"id": 1, "payload": raw}])
    out = tempfile.mkdtemp(prefix="mbs_binsink_")
    with open(os.path.join(out, "binlog.000001"), "wb") as f:
        f.write(w.getvalue())
    dec = read_binlog(
        spark, os.path.join(out, "binlog.*[0-9]"),
        image_cols=[("id", "int"), ("payload", "binary")],
    )
    r = to_json_events(dec, ["id", "payload"], binary_cols={"payload"}).collect()
    doc = json.loads(r[0]["json"])
    assert doc["after"]["payload"] == "binary:base64," + base64.b64encode(raw).decode()

"""Round-2 regression tests: ADVICE fixes (image_view NULL-set updates,
start-LSN threading, present-bitmap validation, TIMESTAMP2 fsp sizing,
negative TIME2) plus the binary-collation payload path."""

from __future__ import annotations

import struct
import tempfile
import zlib

import pytest

from mysql_binlog_spark import wire
from mysql_binlog_spark.sources.binlog import image_view, read_binlog
from mysql_binlog_spark.wire import (
    CHARSET_BINARY,
    TYPE_BLOB,
    TYPE_DATETIME2,
    TYPE_LONG,
    TYPE_TIME2,
    TYPE_TIMESTAMP2,
    TYPE_VARCHAR,
    BinlogWriter,
    TableSchema,
    WireColumn,
    decode_chunk,
)


def roundtrip(cols, row, action="insert"):
    t = TableSchema("app", "t", cols, (0,), 100)
    w = BinlogWriter()
    w.write_table_map(0, t)
    w.write_rows(0, t, action, [row])
    b = decode_chunk(w.getvalue(), verify_crc=True)
    assert len(b) == 1
    return b.after[0]


# ------------------------------------------------------------ wire: temporal


@pytest.mark.parametrize(
    "fsp,val",
    [
        (0, "-12:34:56"),
        (1, "-00:00:00.1"),
        (2, "838:59:58.99"),
        (3, "-00:00:01.001"),
        (4, "-10:00:00.1234"),
        (5, "-00:00:00.00001"),
        (6, "-838:59:58.999999"),
        (6, "00:00:00.000000"),
        (0, "00:00:00"),
    ],
)
def test_time2_signed_all_fsp(fsp, val):
    """Negative TIME2 decodes via the sign bit (MySQL biased/two's-
    complement storage), at every fractional width."""
    got = roundtrip([WireColumn("t", TYPE_TIME2, meta=fsp)], {"t": val})
    assert got == {"t": val}


@pytest.mark.parametrize("fsp,micro", [(0, 0), (1, 500000), (2, 120000),
                                       (3, 123000), (4, 123400), (6, 123456)])
def test_timestamp2_fsp_sizing(fsp, micro):
    """TIMESTAMP2 reads (fsp+1)//2 fractional bytes per the column's fsp
    metadata (ADVICE fix: was hardcoded to 7 bytes)."""
    got = roundtrip(
        [WireColumn("ts", TYPE_TIMESTAMP2, meta=fsp)],
        {"ts": (1700000000, micro)},
    )
    assert got == {"ts": 1700000000 * 10**6 + micro}


def test_timestamp2_fsp_no_offset_desync():
    """A TIMESTAMP2(0) column followed by another column decodes both."""
    got = roundtrip(
        [WireColumn("ts", TYPE_TIMESTAMP2, meta=0),
         WireColumn("n", TYPE_LONG)],
        {"ts": (1700000000, 0), "n": 42},
    )
    assert got == {"ts": 1700000000 * 10**6, "n": 42}


def test_fsp_render_ref3_quirk():
    """FSP_RENDER='ref3' replicates the reference's exactly-3-digit
    fraction rendering (DateTimeReadTrait.php:16,42,72,86)."""
    old = wire.FSP_RENDER
    wire.FSP_RENDER = "ref3"
    try:
        got = roundtrip(
            [WireColumn("dt", TYPE_DATETIME2, meta=6),
             WireColumn("t1", TYPE_TIME2, meta=1)],
            {"dt": "2024-01-01 00:00:00.123456", "t1": "01:02:03.5"},
        )
        assert got == {"dt": "2024-01-01 00:00:00.123", "t1": "01:02:03.500"}
    finally:
        wire.FSP_RENDER = old


# ------------------------------------------------------- wire: binary payload


def test_binary_collation_round_trips_raw_bytes():
    """BINARY-collation VARCHAR/BLOB carry raw (non-UTF8) bytes end-to-end
    (reference envelope behavior, RowFactory.php:108,115)."""
    raw = bytes([0, 1, 2, 254, 255, 128, 0x9C])
    got = roundtrip(
        [
            WireColumn("v", TYPE_VARCHAR, meta=64, charset=CHARSET_BINARY),
            WireColumn("b", TYPE_BLOB, meta=2, charset=CHARSET_BINARY),
            WireColumn("s", TYPE_VARCHAR, meta=300),
        ],
        {"v": raw, "b": raw, "s": "héllo ✓"},
    )
    assert got == {"v": raw, "b": raw, "s": "héllo ✓"}


@pytest.mark.parametrize("lw,size", [(1, 200), (2, 5000), (3, 70000),
                                     (4, 20_000_000)])
def test_blob_length_prefix_widths(lw, size):
    """BLOB length-prefix width follows the column metadata (1-4 bytes);
    the 20 MB case crosses the reference's ≥16 MB multi-packet stitch seam
    that chunk framing replaced (Connection.php:394-417)."""
    payload = b"x" * size
    got = roundtrip([WireColumn("b", TYPE_BLOB, meta=lw)], {"b": payload})
    assert got == {"b": payload.decode()}


# --------------------------------------------------- wire: present bitmap


def test_partial_present_bitmap_rejected():
    """binlog_row_image=MINIMAL-shaped events fail loudly instead of
    desyncing the row decode."""
    t = TableSchema(
        "app", "t",
        [WireColumn("a", TYPE_LONG), WireColumn("b", TYPE_LONG)], (0,), 100,
    )
    w = BinlogWriter()
    w.write_table_map(0, t)
    start = w.write_rows(0, t, "insert", [{"a": 1, "b": 2}])
    buf = bytearray(w.getvalue())
    pb_off = start + 19 + 10 + 1  # header + (tid,flags,extra) + lenenc ncols
    buf[pb_off] = 0x01  # claim only column a present
    size = struct.unpack_from("<IBIIIH", buf, start)[3]
    body_end = start + size - 4
    struct.pack_into(
        "<I", buf, body_end, zlib.crc32(bytes(buf[start:body_end])) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="partial row image"):
        decode_chunk(bytes(buf), verify_crc=True)


# ------------------------------------------------------- source: image_view


def test_image_view_update_to_null_stays_null(spark):
    """An UPDATE that sets a column to NULL must NOT resurrect the stale
    before value (ADVICE high: per-column coalesce bug)."""
    df = spark.createDataFrame(
        [
            ("update", "k1", "old-tool", None),
            ("delete", "k2", "del-tool", None),
            ("insert", "k3", None, "new-tool"),
        ],
        "action string, k string, before_tool string, after_tool string",
    )
    got = {
        r["k"]: r["tool"]
        for r in image_view(df, ["tool"]).select("k", "tool").collect()
    }
    assert got == {"k1": None, "k2": "del-tool", "k3": "new-tool"}


# --------------------------------------------------- replay: start position


def test_replay_batch_start_lsn(spark):
    """start_lsn prunes earlier chunks and skips in-file events before the
    position (the CLI's --binlog-file/--binlog-position path)."""
    import os

    from mysql_binlog_spark.streaming.replay import replay_batch
    from mysql_binlog_spark.table import LakeTable

    out = tempfile.mkdtemp(prefix="mbs_startlsn_")
    t = TableSchema(
        "app", "transcripts",
        [
            WireColumn("conv_id", TYPE_VARCHAR, nullable=False, meta=64),
            WireColumn("turn_idx", TYPE_LONG, nullable=False),
            WireColumn("role", TYPE_VARCHAR, meta=32),
            WireColumn("text", TYPE_BLOB, meta=2),
            WireColumn("tool", TYPE_VARCHAR, meta=64),
            WireColumn("ts", TYPE_TIMESTAMP2, meta=6),
        ],
        (0, 1), 100,
    )
    row = {"conv_id": "c", "role": "user", "text": "t", "tool": None,
           "ts": (1700000000, 0)}
    positions = {}
    for fi in (1, 2):
        w = BinlogWriter()
        w.write_table_map(0, t)
        for k in range(4):
            positions[(fi, k)] = w.write_rows(
                0, t, "insert", [dict(row, turn_idx=fi * 10 + k)]
            )
        with open(os.path.join(out, f"binlog.{fi:06d}"), "wb") as f:
            f.write(w.getvalue())

    table = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_lake_"),
        [("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
         ("text", "string"), ("tool", "string"), ("ts", "timestamp")],
        ["conv_id", "turn_idx"], n_buckets=4,
    )
    # start at file 2, position of its 3rd row event → 2 rows apply
    start = ("binlog.000002", positions[(2, 2)])
    stats = replay_batch(
        spark, out, table, include=[("app", "transcripts")],
        image_cols=[("conv_id", "string"), ("turn_idx", "int"),
                    ("role", "string"), ("text", "string"),
                    ("tool", "string"), ("ts", "timestamp")],
        files_per_epoch=1, start_lsn=start,
    )
    assert stats.applied == 1  # file 1 pruned from the epoch plan entirely
    got = sorted(
        r["turn_idx"] for r in table.snapshot_df(spark).collect()
    )
    assert got == [22, 23]


# ------------------------------------------------- wire: truncated chunks


def test_truncated_chunk_fails_loudly_or_stops_cleanly():
    """A chunk cut mid-frame (crash during write / dropped connection)
    raises: each chunk is consumed once, so stopping at the last
    complete frame would drop the rest of it silently.  The intact chunk
    decodes every frame."""
    t = TableSchema(
        "app", "t",
        [WireColumn("a", TYPE_LONG, nullable=False),
         WireColumn("s", TYPE_VARCHAR, meta=64)],
        (0,), 100,
    )
    w = BinlogWriter()
    w.write_table_map(0, t)
    w.write_rows(0, t, "insert", [{"a": 1, "s": "one"}])
    w.write_rows(0, t, "insert", [{"a": 2, "s": "two"}])
    data = w.getvalue()
    cut = data[:-10]  # slice into the last frame

    with pytest.raises(ValueError, match="truncated frame"):
        decode_chunk(cut)
    assert [r["a"] for r in decode_chunk(data).after] == [1, 2]

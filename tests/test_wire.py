"""Unit tests for the binlog wire codec (SURVEY.md §5.2.2)."""

from __future__ import annotations

import struct
import zlib

import pytest
from conftest import wavefront

from mysql_binlog_spark.wire import (
    CRC_LEN,
    HEADER_LEN,
    MAGIC,
    TYPE_BLOB,
    TYPE_LONG,
    TYPE_TIMESTAMP2,
    TYPE_VARCHAR,
    BinlogWriter,
    TableSchema,
    WireColumn,
    decode_chunk,
    pack_lenenc,
    read_lenenc,
)


def sample_schema(with_v2: bool = False, table_id: int = 100) -> TableSchema:
    cols = [
        WireColumn("conv_id", TYPE_VARCHAR, nullable=False, meta=64),
        WireColumn("turn_idx", TYPE_LONG, nullable=False),
        WireColumn("role", TYPE_VARCHAR, nullable=False, meta=32),
        WireColumn("text", TYPE_BLOB, nullable=False, meta=2),
        WireColumn("tool", TYPE_VARCHAR, nullable=True, meta=64),
        WireColumn("ts", TYPE_TIMESTAMP2, nullable=False, meta=6),
    ]
    if with_v2:
        cols.append(WireColumn("tool_version", TYPE_VARCHAR, nullable=True, meta=32))
    return TableSchema("app", "transcripts", cols, (0, 1), table_id)


ROW = {
    "conv_id": "conv_00001",
    "turn_idx": 7,
    "role": "assistant",
    "text": "héllo ✓ multi-byte",
    "tool": None,
    "ts": (1700000000, 123456),
}


def test_lenenc_roundtrip():
    for n in [0, 1, 250, 251, 255, 256, 65535, 65536, 1 << 22, 1 << 30]:
        b = pack_lenenc(n)
        got, off = read_lenenc(memoryview(b), 0)
        assert got == n and off == len(b)


def test_insert_roundtrip():
    w = BinlogWriter(server_id=42)
    t = sample_schema()
    w.write_table_map(1700000000, t)
    w.write_rows(1700000001, t, "insert", [ROW])
    batch = decode_chunk(w.getvalue(), verify_crc=True)
    assert batch.action == ["insert"]
    assert batch.server_id == [42]
    after = batch.after[0]
    assert after["conv_id"] == "conv_00001"
    assert after["turn_idx"] == 7
    assert after["text"] == "héllo ✓ multi-byte"
    assert after["tool"] is None
    assert after["ts"] == 1700000000 * 1_000_000 + 123456
    assert batch.before[0] is None


def test_update_before_after():
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    before = dict(ROW, text="old", tool="tool_3")
    w.write_rows(0, t, "update", [ROW], befores=[before])
    b = decode_chunk(w.getvalue(), verify_crc=True)
    assert b.action == ["update"]
    assert b.before[0]["text"] == "old"
    assert b.before[0]["tool"] == "tool_3"
    assert b.after[0]["text"] == ROW["text"]


def test_delete_carries_before_image():
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    w.write_rows(0, t, "delete", [ROW])
    b = decode_chunk(w.getvalue(), verify_crc=True)
    assert b.action == ["delete"]
    assert b.after[0] is None
    assert b.before[0]["conv_id"] == "conv_00001"


def test_multi_row_event_batch_seq():
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    rows = [dict(ROW, turn_idx=i, text=f"t{i}") for i in range(5)]
    w.write_rows(0, t, "insert", rows)
    b = decode_chunk(w.getvalue(), verify_crc=True)
    assert b.batch_seq == [0, 1, 2, 3, 4]
    assert [r["text"] for r in b.after] == ["t0", "t1", "t2", "t3", "t4"]
    # one event, one shared offset
    assert len(set(b.log_pos)) == 1


def test_include_exclude_pushdown():
    w = BinlogWriter()
    t1 = sample_schema(table_id=100)
    t2 = TableSchema("other_db", "t", sample_schema().columns, (0, 1), 101)
    w.write_table_map(0, t1)
    w.write_table_map(0, t2)
    w.write_rows(0, t1, "insert", [ROW])
    w.write_rows(0, t2, "insert", [ROW])
    data = w.getvalue()
    only_t1 = decode_chunk(data, include={("app", "transcripts")})
    assert set(only_t1.schema_name) == {"app"}
    no_t2 = decode_chunk(data, exclude={("other_db", "t")})
    assert set(no_t2.schema_name) == {"app"}
    both = decode_chunk(data)
    assert len(both.action) == 2


def test_database_level_filter_semantics():
    """Reference EventsIterator::check (EventsIterator.php:103-130):
    bare schema strings filter whole databases; include dimensions AND
    together (databases ∧ tables), exclude dimensions OR."""
    w = BinlogWriter()
    t1 = sample_schema(table_id=100)
    t3 = TableSchema("app", "notes", sample_schema().columns, (0, 1), 102)
    t2 = TableSchema("other_db", "t", sample_schema().columns, (0, 1), 101)
    for t in (t1, t3, t2):
        w.write_table_map(0, t)
        w.write_rows(0, t, "insert", [ROW])
    data = w.getvalue()
    # db-only include: every table of schema 'app', no table list needed
    got = decode_chunk(data, include={"app"})
    assert sorted(zip(got.schema_name, got.table_name)) == [
        ("app", "notes"), ("app", "transcripts")
    ]
    # AND semantics: databases={app} ∧ tables={(app, transcripts)}
    got = decode_chunk(data, include={"app", ("app", "transcripts")})
    assert list(zip(got.schema_name, got.table_name)) == [
        ("app", "transcripts")
    ]
    # a pair from a non-included database is rejected by the db dimension
    got = decode_chunk(
        data, include={"app", ("app", "notes"), ("other_db", "t")}
    )
    assert list(zip(got.schema_name, got.table_name)) == [("app", "notes")]
    # db-level exclude ORs with table-level exclude
    got = decode_chunk(data, exclude={"other_db", ("app", "notes")})
    assert list(zip(got.schema_name, got.table_name)) == [
        ("app", "transcripts")
    ]


def test_database_exclude_skips_row_decode():
    """Pushdown proof: a row event of an excluded database is skipped
    whole — corrupt its first varlen length prefix so any attempt to
    walk the row desyncs.  The filtered decode must succeed on both
    paths; the unfiltered wavefront decode must fail loudly (its
    cursor==event-end desync check)."""
    w = BinlogWriter()
    t1 = sample_schema(table_id=100)
    t2 = TableSchema("other_db", "t", sample_schema().columns, (0, 1), 101)
    w.write_table_map(0, t1)
    w.write_table_map(0, t2)
    w.write_rows(0, t1, "insert", [ROW])
    pos2 = w.write_rows(0, t2, "insert", [ROW])
    data = bytearray(w.getvalue())
    # event layout: header + (table_id u48 + flags u16 + extra_len u16)
    # + ccount lenenc(1) + present bitmap(1) + null bitmap(1) → first
    # byte of conv_id's length prefix
    data[pos2 + HEADER_LEN + 13] = 0xFF
    data = bytes(data)
    cols = [c.name for c in t1.columns]
    assert set(decode_chunk(data, exclude={"other_db"}).schema_name) == {
        "app"
    }
    got, _ = wavefront(data, cols, exclude={"other_db"})
    assert set(got.schema_name) == {"app"}
    # loud failure either way: desync ValueError when the walk lands
    # inside the buffer but off the event end, IndexError when the bad
    # length runs past the buffer entirely
    with pytest.raises((ValueError, IndexError)):
        wavefront(data, cols)


def test_schema_evolution_two_table_maps():
    w = BinlogWriter()
    t1 = sample_schema(table_id=100)
    t2 = sample_schema(with_v2=True, table_id=101)
    w.write_table_map(0, t1)
    w.write_rows(0, t1, "insert", [ROW])
    w.write_table_map(0, t2)
    w.write_rows(0, t2, "insert", [dict(ROW, tool_version="v1")])
    b = decode_chunk(w.getvalue(), verify_crc=True)
    # pre-evolution rows NULL-backfill the union column (A4 semantics)
    assert b.after[0]["tool_version"] is None
    assert b.after[1]["tool_version"] == "v1"
    assert ("app", "transcripts") in b.tables_seen
    # merged registry keeps the latest (widest) TableMap
    assert len(b.tables_seen[("app", "transcripts")].columns) == 7


def test_start_pos_skip():
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    first = w.write_rows(0, t, "insert", [ROW])
    second = w.write_rows(0, t, "insert", [dict(ROW, turn_idx=8)])
    b = decode_chunk(w.getvalue(), start_pos=second)
    assert len(b.action) == 1
    assert b.after[0]["turn_idx"] == 8
    assert first < second


def test_crc_detects_corruption():
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    w.write_rows(0, t, "insert", [ROW])
    data = bytearray(w.getvalue())
    data[-10] ^= 0xFF  # flip a byte inside the last event body
    with pytest.raises(AssertionError):
        decode_chunk(bytes(data), verify_crc=True)


def test_position_bookkeeping():
    """Header log_pos = end offset; events are contiguous
    (the reference asserts this, EventsIterator.php:175-196)."""
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    w.write_rows(0, t, "insert", [ROW])
    data = w.getvalue()
    off = len(MAGIC)
    while off < len(data):
        ts, etype, sid, size, end_pos, flags = struct.unpack_from(
            "<IBIIIH", data, off
        )
        assert end_pos == off + size
        body = data[off : off + size - CRC_LEN]
        crc = struct.unpack_from("<I", data, off + size - CRC_LEN)[0]
        assert crc == (zlib.crc32(body) & 0xFFFFFFFF)
        off += size
    assert off == len(data)


def test_gtid_lineage_roundtrip_and_reset():
    """GTID_LOG_EVENT tags every row event until the closing XID; logs
    without GTID frames leave the column NULL; the wavefront decodes
    identically (parity)."""
    from mysql_binlog_spark.wire import format_gtid

    sid = bytes.fromhex("00000000000040008000000000000666")
    w = BinlogWriter(server_id=42)
    t = sample_schema()
    w.write_table_map(0, t)
    # txn 1 under GTID :7, two row events
    w.write_gtid(0, sid, 7)
    w.write_query(0, "app", "BEGIN")
    w.write_rows(0, t, "insert", [ROW])
    w.write_rows(0, t, "update", [ROW], befores=[ROW])
    w.write_xid(0, 1)
    # an event after XID but before the next GTID frame: untagged
    w.write_rows(0, t, "insert", [dict(ROW, turn_idx=8)])
    # txn 2 under GTID :8
    w.write_gtid(0, sid, 8)
    w.write_query(0, "app", "BEGIN")
    w.write_rows(0, t, "delete", [ROW])
    w.write_xid(0, 2)
    data = w.getvalue()
    want = [
        "00000000-0000-4000-8000-000000000666:7",
        "00000000-0000-4000-8000-000000000666:7",
        None,
        "00000000-0000-4000-8000-000000000666:8",
    ]
    assert format_gtid(sid, 7) == want[0]
    batch = decode_chunk(data, verify_crc=True)
    assert batch.gtid == want
    cols = [c.name for c in t.columns]
    wf, _ = wavefront(data, cols, verify_crc=True)
    assert wf.gtid == want  # kernel parity

    # GTID-less log → all NULL
    w2 = BinlogWriter()
    w2.write_table_map(0, t)
    w2.write_rows(0, t, "insert", [ROW])
    assert decode_chunk(w2.getvalue()).gtid == [None]


def test_gtid_resume_skips_transactions_at_or_before():
    """start_after_gtid skips whole transactions with GNO <= the resume
    point, leaves later transactions and foreign-SID/untagged events,
    and both decode paths agree."""

    sid = bytes.fromhex("00000000000040008000000000000666")
    other = bytes.fromhex("11111111111141118111111111111111")
    uuid = "00000000-0000-4000-8000-000000000666"
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    for gno, turn in ((1, 1), (2, 2), (3, 3)):
        w.write_gtid(0, sid, gno)
        w.write_query(0, "app", "BEGIN")
        w.write_rows(0, t, "insert", [dict(ROW, turn_idx=turn)])
        w.write_xid(0, gno)
    # foreign SID with small gno: must NOT be skipped
    w.write_gtid(0, other, 1)
    w.write_query(0, "app", "BEGIN")
    w.write_rows(0, t, "insert", [dict(ROW, turn_idx=99)])
    w.write_xid(0, 7)
    data = w.getvalue()
    batch = decode_chunk(data, start_after_gtid=(uuid, 2))
    turns = [r["turn_idx"] for r in batch.after]
    assert turns == [3, 99]
    cols = [c.name for c in t.columns]
    wf, _ = wavefront(data, cols, start_after_gtid=(uuid, 2))
    assert len(wf) == 2 and wf.gtid[0].endswith(":3")
    # no resume point → everything decodes
    assert len(decode_chunk(data)) == 4


def test_gtid_set_resume_per_sid_thresholds():
    """Round-6 GTID-SET resume: a per-SID threshold dict skips each
    source's transactions independently (multi-source replication), an
    UPPERCASE SID is case-folded (ADVICE round-5), a malformed SID is
    rejected, and both decode paths agree."""
    from mysql_binlog_spark.wire import normalize_gtid_resume, parse_gtid_set

    sid_a = bytes.fromhex("00000000000040008000000000000666")
    sid_b = bytes.fromhex("11111111111141118111111111111111")
    uuid_a = "00000000-0000-4000-8000-000000000666"
    uuid_b = "11111111-1111-4111-8111-111111111111"
    w = BinlogWriter()
    t = sample_schema()
    w.write_table_map(0, t)
    xid = 0
    for sid, gno, turn in (
        (sid_a, 1, 1), (sid_b, 1, 11), (sid_a, 2, 2),
        (sid_b, 2, 12), (sid_a, 3, 3), (sid_b, 3, 13),
    ):
        xid += 1
        w.write_gtid(0, sid, gno)
        w.write_query(0, "app", "BEGIN")
        w.write_rows(0, t, "insert", [dict(ROW, turn_idx=turn)])
        w.write_xid(0, xid)
    data = w.getvalue()
    # A resumes after gno 2, B after gno 1 — uppercase A must case-fold
    resume = {uuid_a.upper(): 2, uuid_b: 1}
    batch = decode_chunk(data, start_after_gtid=resume)
    assert [r["turn_idx"] for r in batch.after] == [12, 3, 13]
    cols = [c.name for c in t.columns]
    wf, _ = wavefront(data, cols, start_after_gtid=resume)
    assert len(wf) == 3 and wf.gtid == batch.gtid
    # CLI set rendering round-trips through parse_gtid_set
    assert parse_gtid_set(f"{uuid_a.upper()}:2,{uuid_b}:1") == {
        uuid_a: 2, uuid_b: 1,
    }
    with pytest.raises(ValueError):
        normalize_gtid_resume(("not-a-uuid", 5))
    with pytest.raises(ValueError):
        parse_gtid_set(f"{uuid_a}")  # missing :gno

"""Two row-decode paths, one result: the wavefront (one frame walk +
numpy row kernels) must produce Arrow output identical to the sequential
value loops (``decode_chunk``) on every event type, before_mode, null
pattern, multi-table interleave, filter, start position, GTID resume,
CRC check and truncation policy — and ``decode_chunk_vectorized`` must
hand small chunks to the value loops without changing the output."""

from __future__ import annotations

import pytest
from conftest import kv_chunk, wavefront

from mysql_binlog_spark.sources import wavefront as wf
from mysql_binlog_spark.sources.binlog import image_arrays, spark_type_of
from mysql_binlog_spark.sources.wavefront import decode_chunk_vectorized
from mysql_binlog_spark.wire import (
    CHARSET_BINARY,
    TYPE_BLOB,
    TYPE_DOUBLE,
    TYPE_LONG,
    TYPE_LONGLONG,
    TYPE_SHORT,
    TYPE_TIMESTAMP2,
    TYPE_TINY,
    TYPE_VARCHAR,
    BinlogWriter,
    CrcMismatchError,
    TableSchema,
    TruncatedFrameError,
    WireColumn,
    decode_chunk,
    vector_kind,
)

T1 = TableSchema(
    "app", "transcripts",
    [
        WireColumn("conv_id", TYPE_VARCHAR, nullable=False, meta=64),
        WireColumn("turn_idx", TYPE_LONG, nullable=False),
        WireColumn("role", TYPE_VARCHAR, nullable=False, meta=32),
        WireColumn("text", TYPE_BLOB, nullable=False, meta=2),
        WireColumn("tool", TYPE_VARCHAR, nullable=True, meta=64),
        WireColumn("ts", TYPE_TIMESTAMP2, nullable=False, meta=6),
        WireColumn("tool_version", TYPE_VARCHAR, nullable=True, meta=32),
    ],
    (0, 1), 100,
)
# second table: different layout, >8 columns (multi-byte null bitmap),
# wide varchar (2-byte prefix), binary blob, int width spread
T2 = TableSchema(
    "app", "wide",
    [
        # conv_id shared with T1 (same kind); w_turn is a SHORT on purpose
        # (different width than T1's LONG turn_idx → must NOT share a name)
        WireColumn("conv_id", TYPE_VARCHAR, nullable=False, meta=300),
        WireColumn("w_turn", TYPE_SHORT, nullable=False),
        WireColumn("a", TYPE_TINY),
        WireColumn("b", TYPE_LONGLONG),
        WireColumn("c", TYPE_DOUBLE),
        WireColumn("d", TYPE_VARCHAR, meta=40),
        WireColumn("e", TYPE_BLOB, meta=3, charset=CHARSET_BINARY),
        WireColumn("f", TYPE_TIMESTAMP2, meta=0),
        WireColumn("g", TYPE_VARCHAR, meta=40),
        WireColumn("h", TYPE_LONG),
    ],
    (0, 1), 200,
)
UNION = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
         "tool_version", "w_turn", "a", "b", "c", "d", "e", "f", "g", "h"]


def _t1_row(i):
    return {
        "conv_id": f"conv_{i % 31:03d}", "turn_idx": i % 40,
        "role": ("user", "assistant")[i % 2],
        "text": f"msg {i} " * (i % 4 + 1),
        "tool": None if i % 3 == 0 else f"tool_{i % 5}",
        "ts": (1704067200 + i, (i * 137) % 1000000),
        "tool_version": None if i % 4 else f"v{i % 3}",
    }


def _t2_row(i):
    return {
        "conv_id": f"w{i}" * (i % 7 + 1), "w_turn": i % 100 - 50,
        "a": None if i % 5 == 0 else (i % 251) - 125,
        "b": None if i % 6 == 0 else i * 999999937 - 4_000_000_000,
        "c": None if i % 7 == 0 else i * 0.125,
        "d": None if i % 2 == 0 else f"dval_{i} é",
        "e": None if i % 3 == 0 else bytes([i % 256, 0, 255, i % 7]),
        "f": (1600000000 + i, 0),
        "g": None if i % 11 == 0 else "",  # empty string ≠ NULL
        "h": None if i % 4 == 0 else -i,
    }


def build_chunk(n_events: int = 40, rows_per_event: int = 9) -> bytes:
    w = BinlogWriter()
    w.write_table_map(0, T1)
    w.write_table_map(0, T2)
    k = 0
    for e in range(n_events):
        tab, mk = (T1, _t1_row) if e % 2 == 0 else (T2, _t2_row)
        rows = [mk(k + j) for j in range(rows_per_event)]
        if e % 5 == 3:
            befores = [mk(k + j + 1000) for j in range(rows_per_event)]
            w.write_rows(e, tab, "update", rows, befores)
        elif e % 5 == 4:
            w.write_rows(e, tab, "delete", rows)
        else:
            w.write_rows(e, tab, "insert", rows)
        if e % 7 == 0:
            w.write_heartbeat("binlog.000001")
        k += rows_per_event
    return w.getvalue()


def value_loops(data, union, **kw):
    """The sequential reference, as read_binlog emits it."""
    return decode_chunk(data, image_cols=union, text_as_bytes=True, **kw)


def _types(union, tables=None):
    cols = {c.name: c for t in (tables or (T1, T2)) for c in t.columns}
    return [spark_type_of(cols[n]) for n in union]


def assert_same_output(data, a, a_kinds, b, b_kinds, union, tables=None):
    """Event metadata and every Arrow image column equal."""
    assert a.n_rows == b.n_rows and a.n_events == b.n_events
    assert a.n_bytes == b.n_bytes
    for f in ("ev_pos", "ev_server", "ev_ts", "ev_schema", "ev_table",
              "ev_action", "ev_gtid", "ev_cnt"):
        assert list(getattr(a, f)) == list(getattr(b, f)), f
    types = _types(union, tables)
    got = image_arrays(data, a, a_kinds, types)
    want = image_arrays(data, b, b_kinds, types)
    names = [f"{s}_{c}" for s in ("before", "after") for c in union]
    for name, x, y in zip(names, got, want):
        assert x.type == y.type and x.equals(y), (
            name, x.to_pylist()[:4], y.to_pylist()[:4])


def assert_parity(data, union, tables=None, **kw):
    bw, kinds = wavefront(data, union, **kw)
    bp = value_loops(data, union, **kw)
    assert_same_output(data, bw, kinds, bp, None, union, tables)
    return bw


def test_wavefront_parity_full():
    assert_parity(build_chunk(), UNION, before_mode="full", verify_crc=True)


def test_wavefront_parity_delete_only_and_none():
    """'delete_only' matches on both paths; 'none' is not a mode."""
    data = build_chunk()
    assert_parity(data, UNION, before_mode="delete_only")
    for decode in (wavefront, value_loops):
        with pytest.raises(AssertionError):
            decode(data, UNION, before_mode="none")


def test_wavefront_parity_with_filters_and_start_pos():
    data = build_chunk()
    assert_parity(data, UNION, include={("app", "transcripts")})
    assert_parity(data, UNION, exclude={("app", "wide")})
    # start mid-chunk: pick an offset between events
    bp = decode_chunk(data, image_cols=UNION)
    mid = bp.ev_pos[len(bp.ev_pos) // 2]
    assert len(assert_parity(data, UNION, start_pos=mid)) < len(bp)


def test_wavefront_parity_at_tiny_widths():
    for n_events in (0, 1, 2, 4):
        assert_parity(build_chunk(n_events=n_events), UNION)


def test_wavefront_small_chunk_falls_back():
    data = build_chunk(n_events=4)
    batch, kinds = decode_chunk_vectorized(data, UNION)
    assert kinds is None
    assert_same_output(data, batch, None, value_loops(data, UNION), None,
                       UNION)


def test_output_identical_across_the_threshold():
    """Chunks of one row event below and at WAVEFRONT_MIN_ROW_EVENTS
    take different paths; the longer one's output is the shorter one's
    plus one event, and both match the value loops."""
    n = wf.WAVEFRONT_MIN_ROW_EVENTS
    below = build_chunk(n_events=n - 1, rows_per_event=1)
    at = build_chunk(n_events=n, rows_per_event=1)
    b_below, k_below = decode_chunk_vectorized(below, UNION)
    b_at, k_at = decode_chunk_vectorized(at, UNION)
    assert k_below is None and k_at is not None
    types = _types(UNION)
    arr_below = image_arrays(below, b_below, k_below, types)
    arr_at = image_arrays(at, b_at, k_at, types)
    assert len(b_at) == len(b_below) + 1
    for x, y in zip(arr_below, arr_at):
        assert x.equals(y.slice(0, len(x)))
    assert b_at.ev_pos[:-1] == b_below.ev_pos
    assert_same_output(at, b_at, k_at, value_loops(at, UNION), None, UNION)


def test_wavefront_desync_raises():
    data = bytearray(build_chunk())
    # corrupt a varchar length byte inside the first T1 insert event's rows
    bp = decode_chunk(bytes(data), image_cols=UNION)
    first = bp.ev_pos[0]
    data[first + 30 : first + 40] = bytes([250] * 10)
    with pytest.raises((ValueError, IndexError, AssertionError)):
        wavefront(bytes(data), UNION, before_mode="full")


@pytest.mark.parametrize("n_events", [10, 300])
def test_row_section_overrunning_its_event_raises(n_events):
    """The last row's VARCHAR length claims 7 bytes where 5 remain, CRC
    recomputed: both paths reject the chunk — the value loops by their
    row cursor, not by a value sliced short to 'hello'."""
    data = kv_chunk(n_events, "overrun")
    with pytest.raises(ValueError):
        decode_chunk(data, verify_crc=True)
    with pytest.raises(ValueError):
        decode_chunk_vectorized(data, ["k", "s"], verify_crc=True)
    assert len(decode_chunk(kv_chunk(n_events), verify_crc=True)) == n_events


# ------------------------------------------------- property-based parity

from hypothesis import given, settings
from hypothesis import strategies as st

from mysql_binlog_spark.wire import TYPE_LONGLONG as _I8
from mysql_binlog_spark.wire import TYPE_TINY as _I1

_COLUMN_MAKERS = [
    lambda i, null: WireColumn(f"c{i}", TYPE_VARCHAR, nullable=null, meta=40),
    lambda i, null: WireColumn(f"c{i}", TYPE_VARCHAR, nullable=null, meta=300),
    lambda i, null: WireColumn(f"c{i}", TYPE_BLOB, nullable=null, meta=2),
    lambda i, null: WireColumn(f"c{i}", TYPE_BLOB, nullable=null, meta=3,
                               charset=CHARSET_BINARY),
    lambda i, null: WireColumn(f"c{i}", _I1, nullable=null),
    lambda i, null: WireColumn(f"c{i}", _I1, nullable=null, signed=False),
    lambda i, null: WireColumn(f"c{i}", TYPE_SHORT, nullable=null),
    lambda i, null: WireColumn(f"c{i}", TYPE_LONG, nullable=null),
    lambda i, null: WireColumn(f"c{i}", _I8, nullable=null),
    lambda i, null: WireColumn(f"c{i}", TYPE_DOUBLE, nullable=null),
    lambda i, null: WireColumn(f"c{i}", TYPE_TIMESTAMP2, nullable=null,
                               meta=3),
    lambda i, null: WireColumn(f"c{i}", TYPE_TIMESTAMP2, nullable=null,
                               meta=0),
]

_INT_RANGE = {
    _I1: (-128, 127), TYPE_SHORT: (-32768, 32767),
    TYPE_LONG: (-(2**31), 2**31 - 1), _I8: (-(2**63), 2**63 - 1),
}


def _value_for(c, rnd):
    if c.nullable and rnd.random() < 0.3:
        return None
    t = c.ctype
    if t == TYPE_VARCHAR:
        return "".join(rnd.choice("aé 7✓x") for _ in range(rnd.randrange(0, 12)))
    if t == TYPE_BLOB:
        if c.charset == CHARSET_BINARY:
            return bytes(rnd.randrange(256) for _ in range(rnd.randrange(0, 9)))
        return "b" * rnd.randrange(0, 20)
    if t in _INT_RANGE:
        lo, hi = _INT_RANGE[t]
        if not c.signed:
            lo, hi = 0, 2 * hi + 1
        return rnd.randrange(lo, hi + 1)
    if t == TYPE_DOUBLE:
        return rnd.choice([0.0, -1.5, 3.25e10, -7e-3, 123456.789])
    if t == TYPE_TIMESTAMP2:
        return (rnd.randrange(0, 2**31), rnd.randrange(0, 1000) * 1000)
    raise AssertionError(t)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, len(_COLUMN_MAKERS) - 1),
                       st.booleans()),
             min_size=1, max_size=11),
    st.integers(0, 2**32 - 1),
)
def test_wavefront_random_schema_parity(col_spec, seed):
    """Random vectorizable schemas/rows/null patterns: the wavefront
    kernels must reproduce the python decoder exactly (including update
    pairing), beyond the hand-written cases above."""
    import random

    rnd = random.Random(seed)
    cols = [_COLUMN_MAKERS[k](i, null) for i, (k, null) in enumerate(col_spec)]
    t = TableSchema("db", "t", cols, (0,), 300)
    union = [c.name for c in cols]
    w = BinlogWriter()
    w.write_table_map(0, t)
    for e in range(18):
        rows = [
            {c.name: _value_for(c, rnd) for c in cols}
            for _ in range(rnd.randrange(1, 5))
        ]
        action = ("insert", "update", "delete")[e % 3]
        if action == "update":
            befores = [
                {c.name: _value_for(c, rnd) for c in cols} for _ in rows
            ]
            w.write_rows(e, t, action, rows, befores)
        else:
            w.write_rows(e, t, action, rows)
    data = w.getvalue()
    assert_parity(data, union, tables=(t,), verify_crc=True)


# ------------------------------------------------ single-walk fast path (r7)


def build_gtid_chunk(n_txns: int = 8, rows_per_event: int = 6) -> bytes:
    """GTID/XID-framed multi-table chunk: txn i = GTID, two row events
    (alternating tables/actions), XID — plus one row event BEFORE any
    GTID frame (must decode with gtid=None)."""
    w = BinlogWriter()
    w.write_table_map(0, T1)
    w.write_table_map(0, T2)
    w.write_rows(0, T1, "insert", [_t1_row(j) for j in range(rows_per_event)])
    sid_a = bytes(range(16))
    sid_b = bytes(range(16, 32))
    k = rows_per_event
    for i in range(n_txns):
        w.write_gtid(i, sid_a if i % 2 == 0 else sid_b, 100 + i)
        for e in range(2):
            tab, mk = (T1, _t1_row) if (i + e) % 2 == 0 else (T2, _t2_row)
            rows = [mk(k + j) for j in range(rows_per_event)]
            if (i + e) % 3 == 2:
                w.write_rows(i, tab, "update", rows,
                             [mk(k + j + 500) for j in range(rows_per_event)])
            elif (i + e) % 3 == 1:
                w.write_rows(i, tab, "delete", rows)
            else:
                w.write_rows(i, tab, "insert", rows)
            k += rows_per_event
        w.write_xid(i, 9000 + i)
    return w.getvalue()


SID_A = "00010203-0405-0607-0809-0a0b0c0d0e0f"
SID_B = "10111213-1415-1617-1819-1a1b1c1d1e1f"


def test_wavefront_gtid_chunk_parity():
    """A GTID/XID-framed multi-table chunk, for every before_mode and
    filter shape — including the pre-GTID row event (gtid=None) — and
    the kinds map covers exactly the admitted tables' stored columns."""
    data = build_gtid_chunk()
    for before_mode in ("full", "delete_only"):
        for include in (None, {("app", "transcripts")}, {("app", "wide")}):
            assert_parity(data, UNION, include=include,
                          before_mode=before_mode)
            _, kinds = wavefront(data, UNION, include=include)
            tables = [t for t in (T1, T2)
                      if include is None or (t.schema, t.table) in include]
            assert kinds == {c.name: vector_kind(c)
                             for t in tables for c in t.columns}
    bw, _ = wavefront(data, UNION)
    assert bw.ev_gtid[0] is None and any(g for g in bw.ev_gtid)


def test_wavefront_sequential_semantics():
    """start_pos, GTID-set resume (tuple and dict forms) and CRC checks
    are masks and checks over the one walk's vectors — same output as
    the sequential walk."""
    data = build_gtid_chunk()
    full = len(decode_chunk(data))
    mid = decode_chunk(data).ev_pos[7]
    for kw in (
        {"start_pos": mid},
        {"start_after_gtid": (SID_A, 103)},
        {"start_after_gtid": {SID_A: 102, SID_B.upper(): 105}},
        {"start_after_gtid": {SID_B: 10**6}, "start_pos": mid},
    ):
        assert 0 < len(assert_parity(data, UNION, **kw)) < full, kw
    assert len(assert_parity(data, UNION, verify_crc=True)) == full


def test_gtid_without_xid_in_chunk():
    """A transaction still open at the chunk's end (GTID frames, no XID
    anywhere in the chunk) tags every row after its GTID."""
    w = BinlogWriter()
    w.write_table_map(0, T1)
    w.write_rows(0, T1, "insert", [_t1_row(0)])
    w.write_gtid(0, bytes(range(16)), 5)
    for e in range(6):
        w.write_rows(e, T1, "insert", [_t1_row(e + 1)])
    data = w.getvalue()
    bw = assert_parity(data, UNION)
    assert bw.ev_gtid[0] is None and bw.ev_gtid[1].endswith(":5")
    assert_parity(data, UNION, start_after_gtid=(SID_A, 5))


def test_corrupt_trailer_raises_crc_mismatch_on_both_paths():
    data = bytearray(build_gtid_chunk())
    data[-1] ^= 0xFF  # last frame's CRC trailer
    data = bytes(data)
    with pytest.raises(CrcMismatchError):
        wavefront(data, UNION, verify_crc=True)
    with pytest.raises(CrcMismatchError):
        value_loops(data, UNION, verify_crc=True)
    with pytest.raises(CrcMismatchError):  # small chunk, value-loop path
        decode_chunk_vectorized(data, UNION, verify_crc=True)
    assert_parity(data, UNION)  # unchecked: the body is intact


def test_fast_scan_truncation_and_malformed():
    data = build_gtid_chunk()
    cut = data[: len(data) - 5]
    for decode in (wavefront, value_loops):
        with pytest.raises(TruncatedFrameError):
            decode(cut, UNION)
    bad = bytearray(data)
    bad[4 + 9 : 4 + 13] = bytes(4)  # first frame claims size 0
    for decode in (wavefront, value_loops):
        with pytest.raises(ValueError, match="malformed frame"):
            decode(bytes(bad), UNION)

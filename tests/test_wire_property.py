"""Property-based wire-codec tests (hypothesis): any generatable row set
round-trips bit-exact through encode → decode, across all types, null
patterns, batch sizes, and multi-table interleavings."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mysql_binlog_spark.wire import (
    TYPE_BLOB,
    TYPE_DATETIME2,
    TYPE_ENUM,
    TYPE_LONG,
    TYPE_LONGLONG,
    TYPE_NEWDECIMAL,
    TYPE_SET,
    TYPE_TIMESTAMP2,
    TYPE_VARCHAR,
    BinlogWriter,
    TableSchema,
    WireColumn,
    decode_chunk,
)

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80
)
COLS = [
    WireColumn("pk", TYPE_LONG, nullable=False, signed=True),
    WireColumn("name", TYPE_VARCHAR, nullable=True, meta=255),
    WireColumn("body", TYPE_BLOB, nullable=True, meta=2),
    WireColumn("big", TYPE_LONGLONG, nullable=True, signed=False),
    WireColumn("amount", TYPE_NEWDECIMAL, nullable=True, meta=(14 << 8) | 4),
    WireColumn("at", TYPE_TIMESTAMP2, nullable=True, meta=6),
    WireColumn("dt", TYPE_DATETIME2, nullable=True, meta=3),
    WireColumn("kind", TYPE_ENUM, nullable=True, values=("a", "b", "c")),
    WireColumn("flags", TYPE_SET, nullable=True, values=("x", "y", "z")),
]


def row_strategy():
    dec = st.builds(
        lambda sign, ip, fr: f"{sign}{ip}.{fr:04d}",
        st.sampled_from(["", "-"]),
        st.integers(0, 10**10 - 1),
        st.integers(0, 9999),
    )
    dt = st.builds(
        lambda y, mo, d, h, mi, s, f: f"{y:04d}-{mo:02d}-{d:02d} "
        f"{h:02d}:{mi:02d}:{s:02d}.{f:03d}",
        st.integers(1, 9999), st.integers(1, 12), st.integers(1, 28),
        st.integers(0, 23), st.integers(0, 59), st.integers(0, 59),
        st.integers(0, 999),
    )
    maybe = lambda s: st.one_of(st.none(), s)  # noqa: E731
    return st.fixed_dictionaries(
        {
            "pk": st.integers(-(1 << 31), (1 << 31) - 1),
            "name": maybe(TEXT),
            "body": maybe(TEXT),
            "big": maybe(st.integers(0, (1 << 64) - 1)),
            "amount": maybe(dec),
            "at": maybe(
                st.tuples(st.integers(0, (1 << 32) - 1),
                          st.integers(0, 999999))
            ),
            "dt": maybe(dt),
            "kind": maybe(st.sampled_from(["a", "b", "c"])),
            "flags": maybe(st.sampled_from(["", "x", "x,z", "x,y,z", "y"])),
        }
    )


def _norm_decimal(v: str) -> str:
    neg = v.startswith("-")
    ip, _, fr = v.lstrip("-").partition(".")
    ip = ip.lstrip("0") or "0"
    out = f"{ip}.{fr}"
    return ("-" + out) if neg and float(out) != 0 else out


@settings(max_examples=60, deadline=None)
@given(st.lists(row_strategy(), min_size=1, max_size=40),
       st.sampled_from(["insert", "update", "delete"]))
def test_rows_roundtrip(rows, action):
    t = TableSchema("db", "t", COLS, (0,), 7)
    w = BinlogWriter()
    w.write_table_map(0, t)
    if action == "update":
        w.write_rows(0, t, action, rows, befores=rows)
    else:
        w.write_rows(0, t, action, rows)
    b = decode_chunk(w.getvalue(), verify_crc=True)
    assert len(b) == len(rows)
    images = b.before if action == "delete" else b.after
    for want, got in zip(rows, images):
        for c in COLS:
            wv, gv = want[c.name], got[c.name]
            if wv is None:
                assert gv is None
            elif c.name == "at":
                assert gv == wv[0] * 1_000_000 + wv[1]
            elif c.name == "amount":
                assert gv == _norm_decimal(wv)
            else:
                assert gv == wv, c.name


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(0, 2), min_size=1, max_size=12))
def test_multi_table_interleaving(sequence):
    """Row events for interleaved tables resolve against the right
    TABLE_MAP entry (registry semantics, EventsIterator.php:198-205)."""
    tables = [
        TableSchema(f"db{i}", f"t{i}",
                    [WireColumn("pk", TYPE_LONG, nullable=False),
                     WireColumn("v", TYPE_VARCHAR, meta=32)],
                    (0,), 100 + i)
        for i in range(3)
    ]
    w = BinlogWriter()
    for t in tables:
        w.write_table_map(0, t)
    for i, ti in enumerate(sequence):
        w.write_rows(0, tables[ti], "insert", [{"pk": i, "v": f"t{ti}r{i}"}])
    b = decode_chunk(w.getvalue(), verify_crc=True)
    assert len(b) == len(sequence)
    for i, (ti, got_tbl, got) in enumerate(
        zip(sequence, b.table_name, b.after)
    ):
        assert got_tbl == f"t{ti}"
        assert got["v"] == f"t{ti}r{i}"


def _tiny_chunk() -> bytes:
    t = TableSchema(
        "db", "t",
        [WireColumn("pk", TYPE_LONG, nullable=False),
         WireColumn("v", TYPE_VARCHAR, meta=32)],
        (0,), 9,
    )
    w = BinlogWriter()
    w.write_table_map(0, t)
    w.write_rows(0, t, "insert", [{"pk": i, "v": f"r{i}"} for i in range(20)])
    return w.getvalue()


def test_frame_walk_terminates_under_byte_corruption():
    """Robustness property behind the quarantine contract: ANY single
    corrupted byte in a chunk must make decode_chunk either succeed
    (corruption landed in slack the CRC-checked walk never trusts...
    impossible with verify_crc except on ignored bytes) or raise — never
    hang and never exit the interpreter.  The round-6 size-0-frame
    infinite loop is exactly this class; each probe runs under a SIGALRM
    guard so a regression fails fast instead of stalling the suite."""
    import signal

    from conftest import wavefront

    from mysql_binlog_spark.wire import decode_chunk

    data = bytearray(_tiny_chunk())
    # deterministic probe positions: spread over the whole chunk,
    # plus the header-adjacent bytes of the first frames
    positions = sorted(
        {7 * i % len(data) for i in range(60)}
        | {4, 5, 9, 10, 11, 12, 13, 23, 24, 25}
    )

    def _alarm(_s, _f):  # pragma: no cover - only fires on regression
        raise RuntimeError("frame walk hung on corrupted input")

    old = signal.signal(signal.SIGALRM, _alarm)
    try:
        for pos in positions:
            for fn in (
                lambda d: decode_chunk(d, verify_crc=True),
                lambda d: wavefront(d, ["pk", "v"], verify_crc=True),
            ):
                bad = bytes(data[:pos]) + bytes([data[pos] ^ 0xFF]) \
                    + bytes(data[pos + 1:])
                signal.alarm(5)
                try:
                    fn(bad)
                except Exception:
                    pass  # raising is the expected outcome
                finally:
                    signal.alarm(0)
    finally:
        signal.signal(signal.SIGALRM, old)

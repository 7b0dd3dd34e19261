"""Binlog wire codec — a faithful subset of the public MySQL binlog v4 format.

This module implements, from scratch in Python, the frame layouts the
reference engine decodes (field layouts documented in the public MySQL
source and re-derived here from the reference's behavior — header parse
EventsIterator.php:285-299, TABLE_MAP + optional metadata
ColumnMetadataFactory.php:22-157, ROWS v2 events EventsIterator.php:370-506,
row decode RowFactory.php:28-182).  The **encoder** builds fixture binlog
chunk files; the **decoder** is the engine's hot path, invoked inside
``mapInPandas`` one chunk (or chunk range) per task.

Type coverage (the reference's full decoded table, SURVEY.md §1.2):
TINY/SHORT/INT24/LONG/LONGLONG with SIGNEDNESS (uint64 > 2⁶³-1 kept exact
like the reference's GMP path), FLOAT (display-size rounding quirk
replicated) / DOUBLE, packed NEWDECIMAL, DATE (zero-date sentinel),
DATETIME2/TIME2/TIMESTAMP2 with fsp, VARCHAR/BLOB (utf8 / latin1 via
Windows-1252 / BINARY collation), JSON (0xf5) + GEOMETRY (0xff) carried
opaque through the BLOB fold, BIT ('0'/'1' strings), ENUM/SET via the
packed-STRING metadata trick with value lists from optional metadata.
Event types: FORMAT_DESCRIPTION, ROTATE, TABLE_MAP, QUERY, XID,
HEARTBEAT, WRITE/UPDATE/DELETE_ROWS v2; CRC32 trailers; optional
metadata SIGNEDNESS / DEFAULT_CHARSET / COLUMN_NAME / ENUM_STR_VALUE /
SET_STR_VALUE / SIMPLE_PRIMARY_KEY.

Row decode has two paths, both exec-compiled per (table schema, union
layout): ``decode_chunk``'s per-event value loops here (any schema; the
reference the tests compare against) and the numpy wavefront decoder in
sources/wavefront.py (zero per-row Python), which picks between them per
chunk; tests/test_wavefront.py proves them identical.
"""

from __future__ import annotations

import re
import struct
import zlib
from dataclasses import dataclass, field

MAGIC = b"\xfebin"
HEADER_LEN = 19
CRC_LEN = 4


class CrcMismatchError(AssertionError):
    """Frame checksum mismatch (ADVICE r6: typed so quarantine reports
    classify on exception type, not message substrings).  Subclasses
    AssertionError to preserve the long-standing decode contract."""


class TruncatedFrameError(ValueError):
    """Frame extends past the end of the chunk (cut mid-write).
    Subclasses ValueError to preserve the decode contract."""

# event type codes (public binlog v4 numbering)
FORMAT_DESCRIPTION_EVENT = 0x0F
ROTATE_EVENT = 0x04
QUERY_EVENT = 0x02
XID_EVENT = 0x10
GTID_EVENT = 0x21  # GTID_LOG_EVENT: flags u8 + SID uuid(16) + GNO i64
TABLE_MAP_EVENT = 0x13
HEARTBEAT_EVENT = 0x1B
WRITE_ROWS_V2 = 0x1E
UPDATE_ROWS_V2 = 0x1F
DELETE_ROWS_V2 = 0x20

# column type codes (full reference table, src/Protocol/ColumnType.php:11-41)
TYPE_TINY = 0x01
TYPE_SHORT = 0x02
TYPE_LONG = 0x03
TYPE_FLOAT = 0x04
TYPE_DOUBLE = 0x05
TYPE_LONGLONG = 0x08
TYPE_INT24 = 0x09
TYPE_DATE = 0x0A
TYPE_VARCHAR = 0x0F
TYPE_BIT = 0x10
TYPE_TIMESTAMP2 = 0x11
TYPE_DATETIME2 = 0x12
TYPE_TIME2 = 0x13
TYPE_JSON = 0xF5      # folds into the BLOB layout (BlobMeta,
TYPE_NEWDECIMAL = 0xF6
TYPE_ENUM = 0xF7  # on the wire: packed inside STRING meta (high byte)
TYPE_SET = 0xF8   # same packing
TYPE_STRING = 0xFE
TYPE_BLOB = 0xFC
TYPE_GEOMETRY = 0xFF  # ColumnMetadataFactory.php:59-62; codes ColumnType.php:31,41)

# JSON/GEOMETRY values ride the BLOB value path (length-prefixed payload)
# but are always opaque binary: JSON columns carry MySQL's JSONB encoding
# and GEOMETRY carries SRID+WKB — neither is text (JSONB *path* decode is a
# non-goal on both sides; carrying the bytes is the reference-parity part).
BLOB_LIKE_TYPES = {TYPE_BLOB, TYPE_JSON, TYPE_GEOMETRY}

INT_TYPES = {TYPE_TINY, TYPE_SHORT, TYPE_INT24, TYPE_LONG, TYPE_LONGLONG}
INT_WIDTH = {TYPE_TINY: 1, TYPE_SHORT: 2, TYPE_INT24: 3, TYPE_LONG: 4,
             TYPE_LONGLONG: 8}
NUMERIC_TYPES = INT_TYPES | {TYPE_FLOAT, TYPE_DOUBLE, TYPE_NEWDECIMAL}

# TABLE_MAP optional-metadata TLV kinds (OptionalMetadataType.php:11-23)
META_SIGNEDNESS = 1
META_DEFAULT_CHARSET = 2
META_COLUMN_NAME = 4
META_SET_STR_VALUE = 5
META_ENUM_STR_VALUE = 6
META_SIMPLE_PRIMARY_KEY = 8

CHARSET_UTF8MB4 = 45
CHARSET_BINARY = 63  # collation 'binary' — payload is raw bytes, not text
CHARSET_LATIN1 = 8   # latin1_swedish_ci (MySQL's default latin1 collation)

# Collation ids whose charset is latin1 (Collation.php:664-926 mapping).
# MySQL's "latin1" is Windows-1252 — NOT ISO-8859-1 ("Yes, really",
# Collation.php:984-1001) — except the five cp1252-undefined bytes
# 0x81/0x8d/0x8f/0x90/0x9d, which MySQL maps to U+0081/U+008D/U+008F/
# U+0090/U+009D (identity), exactly what latin-1-decode + translate gives.
LATIN1_COLLATIONS = frozenset({5, 8, 15, 31, 47, 48, 49, 94, 1032, 1071})

_CP1252_FWD: dict[int, int] = {}
for _b in range(0x80, 0xA0):
    try:
        _CP1252_FWD[_b] = ord(bytes([_b]).decode("cp1252"))
    except UnicodeDecodeError:
        pass  # 0x81 0x8d 0x8f 0x90 0x9d: keep identity (the MySQL quirk)
_CP1252_INV = {v: k for k, v in _CP1252_FWD.items()}


def latin1_to_str(b: bytes) -> str:
    """MySQL latin1 bytes → text (Windows-1252 semantics, quirk included)."""
    return b.decode("latin-1").translate(_CP1252_FWD)


def str_to_latin1(s: str) -> bytes:
    return s.translate(_CP1252_INV).encode("latin-1")

# Fractional-second rendering for string-typed temporals (DATETIME2/TIME2):
# "pad"  — right-pad to the column's fsp digits (normalized; round-trips)
# "ref3" — replicate the reference's quirk: truncate/left-justify to exactly
#          3 digits regardless of fsp (DateTimeReadTrait.php:16,42,72,86)
FSP_RENDER = "pad"


def _frac_str(micro: int, fsp: int) -> str:
    """Render a microsecond fraction per FSP_RENDER policy."""
    if FSP_RENDER == "ref3":
        return f".{micro // 1000:03d}"
    return "." + str(micro // 10 ** (6 - fsp)).rjust(fsp, "0")

ACTION_BY_EVENT = {
    WRITE_ROWS_V2: "insert",
    UPDATE_ROWS_V2: "update",
    DELETE_ROWS_V2: "delete",
}


@dataclass
class WireColumn:
    """One column of a TABLE_MAP: wire type + type-specific metadata.

    ``meta`` by type: VARCHAR max byte length; BLOB length-prefix size;
    TIMESTAMP2/DATETIME2/TIME2 fsp; FLOAT/DOUBLE storage size (the
    reference rounds FLOAT to this value — a quirk we replicate,
    RowFactory.php:90-92); NEWDECIMAL (precision<<8)|scale; BIT bit count;
    ENUM/SET value-list width handled via ``values``.
    """

    name: str
    ctype: int
    nullable: bool = True
    meta: int = 0
    signed: bool = True           # integers only (SIGNEDNESS bitmap)
    values: tuple[str, ...] = ()  # ENUM/SET labels (optional metadata)
    charset: int = CHARSET_UTF8MB4  # VARCHAR/BLOB; 63 = binary collation


@dataclass
class TableSchema:
    schema: str
    table: str
    columns: list[WireColumn]
    primary_key: tuple[int, ...] = (0, 1)
    table_id: int = 100

    @property
    def names(self) -> list[str]:
        return [c.name for c in self.columns]


# ---------------------------------------------------------------- low-level

def pack_lenenc(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def read_lenenc(buf: memoryview, off: int) -> tuple[int, int]:
    b0 = buf[off]
    if b0 < 0xFB:
        return b0, off + 1
    if b0 == 0xFC:
        return struct.unpack_from("<H", buf, off + 1)[0], off + 3
    if b0 == 0xFD:
        return int.from_bytes(buf[off + 1 : off + 4], "little"), off + 4
    return struct.unpack_from("<Q", buf, off + 1)[0], off + 9


def _bitmap(bits: list[bool]) -> bytes:
    out = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            out[i >> 3] |= 1 << (i & 7)
    return bytes(out)


# ------------------------------------------------ packed-type helpers
# (public MySQL formats; semantics mirror the reference's decoders:
#  DecimalReadTrait.php:11-50, DateTimeReadTrait.php:12-87, Buffer.php:151-182)

_DEC_DIG2BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


def _dec_bytes_for_digits(d: int) -> int:
    return (d // 9) * 4 + _DEC_DIG2BYTES[d % 9]


def encode_decimal(value: str, precision: int, scale: int) -> bytes:
    """MySQL packed base-10⁹ decimal with XOR'd sign bit."""
    neg = value.startswith("-")
    if neg and set(value) <= {"-", "+", "0", "."}:
        neg = False  # MySQL never stores negative zero
    digits = value.lstrip("-+")
    if "." in digits:
        intp, frac = digits.split(".")
    else:
        intp, frac = digits, ""
    intp = intp.lstrip("0") or ""
    frac = (frac + "0" * scale)[:scale]
    ip_digits = precision - scale
    intp = intp.rjust(ip_digits, "0")
    out = bytearray()
    # integer part: leading partial group then 9-digit groups (big-endian)
    lead = ip_digits % 9
    pos = 0
    if lead:
        out += int(intp[:lead]).to_bytes(_DEC_DIG2BYTES[lead], "big")
        pos = lead
    while pos < ip_digits:
        out += int(intp[pos : pos + 9]).to_bytes(4, "big")
        pos += 9
    pos = 0
    while pos + 9 <= scale:
        out += int(frac[pos : pos + 9]).to_bytes(4, "big")
        pos += 9
    rem = scale - pos
    if rem:
        out += int(frac[pos:]).to_bytes(_DEC_DIG2BYTES[rem], "big")
    out[0] ^= 0x80  # sign bit: set = non-negative
    if neg:
        for i in range(len(out)):
            out[i] ^= 0xFF
    return bytes(out)


def decode_decimal(buf, off: int, precision: int, scale: int) -> tuple[str, int]:
    ip_digits = precision - scale
    size = _dec_bytes_for_digits(ip_digits) + _dec_bytes_for_digits(scale)
    raw = bytearray(buf[off : off + size])
    neg = not (raw[0] & 0x80)
    if neg:
        for i in range(len(raw)):
            raw[i] ^= 0xFF
    raw[0] ^= 0x80
    p = 0
    intp = ""
    lead = ip_digits % 9
    if lead:
        n = _DEC_DIG2BYTES[lead]
        intp += str(int.from_bytes(raw[p : p + n], "big")).rjust(lead, "0")
        p += n
    for _ in range(ip_digits // 9):
        intp += str(int.from_bytes(raw[p : p + 4], "big")).rjust(9, "0")
        p += 4
    frac = ""
    for _ in range(scale // 9):
        frac += str(int.from_bytes(raw[p : p + 4], "big")).rjust(9, "0")
        p += 4
    rem = scale % 9
    if rem:
        n = _DEC_DIG2BYTES[rem]
        frac += str(int.from_bytes(raw[p : p + n], "big")).rjust(rem, "0")
        p += n
    intp = intp.lstrip("0") or "0"
    out = f"{intp}.{frac}" if scale else intp
    if neg:
        out = "-" + out
    return out, off + size


# Fractional seconds for DATETIME2/TIMESTAMP2/TIME2 are stored the way
# MySQL stores them (my_time.cc my_*_packed_to_binary): ceil(fsp/2) bytes
# holding micro/10000 (1 byte), micro/100 (2 bytes) or micro (3 bytes).
_FRAC_UNIT = {0: 0, 1: 10000, 2: 100, 3: 1}


def _frac_nbytes(fsp: int) -> int:
    return (fsp + 1) // 2


def encode_frac(micro: int, fsp: int) -> bytes:
    nb = _frac_nbytes(fsp)
    if nb == 0:
        return b""
    return (micro // _FRAC_UNIT[nb]).to_bytes(nb, "big")


def decode_frac(buf, off: int, fsp: int) -> tuple[int, int]:
    """→ (microseconds, new offset)."""
    nb = _frac_nbytes(fsp)
    if nb == 0:
        return 0, off
    return int.from_bytes(buf[off : off + nb], "big") * _FRAC_UNIT[nb], off + nb


def encode_datetime2(y, mo, d, h, mi, sec) -> bytes:
    packed = (
        (1 << 39) | ((y * 13 + mo) << 22) | (d << 17) | (h << 12)
        | (mi << 6) | sec
    )
    return packed.to_bytes(5, "big")


def decode_datetime2(buf, off: int, fsp: int) -> tuple[str, int]:
    packed = int.from_bytes(buf[off : off + 5], "big") & ((1 << 39) - 1)
    ym = packed >> 22
    y, mo = divmod(ym, 13)
    d = (packed >> 17) & 0x1F
    h = (packed >> 12) & 0x1F
    mi = (packed >> 6) & 0x3F
    sec = packed & 0x3F
    off += 5
    out = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{sec:02d}"
    if fsp:
        micro, off = decode_frac(buf, off, fsp)
        out += _frac_str(micro, fsp)
    return out, off


def encode_time2(h, mi, sec, micro: int = 0, fsp: int = 0,
                 neg: bool = False) -> bytes:
    """Full TIME2 field (3 int bytes + fractional bytes), replicating
    MySQL's my_time_packed_to_binary: the packed value is
    sign*((h<<12|m<<6|s)<<24 + micro); storage is the 0x800000-biased
    int part with a *signed* (two's-complement) fraction for fsp 1-4 and
    one biased 6-byte integer for fsp 5-6."""
    intpart = (h << 12) | (mi << 6) | sec
    packed = (intpart << 24) + micro
    if neg:
        packed = -packed
    nb = _frac_nbytes(fsp)
    if nb == 0:
        return (0x800000 + (packed >> 24)).to_bytes(3, "big")
    if nb == 3:  # fsp 5-6: single biased big-endian integer
        return (packed + (0x800000 << 24)).to_bytes(6, "big")
    # fsp 1-4: biased int part (python >> is arithmetic = C floor shift)
    # plus a truncated-division fraction, two's-complement when negative —
    # disk order stays binary-sortable (my_time.cc table of examples)
    unit = _FRAC_UNIT[nb]
    frac = micro // unit
    if neg:
        frac = -frac
    out = (0x800000 + (packed >> 24)).to_bytes(3, "big")
    return out + (frac & ((1 << (8 * nb)) - 1)).to_bytes(nb, "big")


def decode_time2(buf, off: int, fsp: int) -> tuple[str, int]:
    nb = _frac_nbytes(fsp)
    if nb == 3:
        packed = int.from_bytes(buf[off : off + 6], "big") - (0x800000 << 24)
        off += 6
    else:
        intpart = int.from_bytes(buf[off : off + 3], "big") - 0x800000
        off += 3
        frac = 0
        if nb:
            frac = int.from_bytes(buf[off : off + nb], "big")
            off += nb
            if intpart < 0 and frac:
                # negative value: fraction was stored two's-complement
                intpart += 1
                frac -= 1 << (8 * nb)
        packed = (intpart << 24) + frac * _FRAC_UNIT.get(nb, 1)
    neg = packed < 0
    ap = -packed if neg else packed
    micro = ap & ((1 << 24) - 1)
    ip = ap >> 24
    h = (ip >> 12) & 0x3FF
    mi = (ip >> 6) & 0x3F
    sec = ip & 0x3F
    out = f"{'-' if neg else ''}{h:02d}:{mi:02d}:{sec:02d}"
    if fsp:
        out += _frac_str(micro, fsp)
    return out, off


def set_width(n_values: int) -> int:
    return min(8, (n_values + 7) // 8)


def enum_width(n_values: int) -> int:
    return 1 if n_values < 256 else 2


# ------------------------------------------------------------------ encoder


class BinlogWriter:
    """Builds one binlog chunk file in memory.

    Frame order and position bookkeeping mirror the reference's
    expectations: a FORMAT_DESCRIPTION first (EventsIterator.php:137-151),
    strictly monotone positions (header ``log_pos`` = end offset of the
    event, EventsIterator.php:175-196), CRC32 trailer on every event.
    """

    def __init__(self, server_id: int = 666, base_ts: int = 0):
        self.server_id = server_id
        self.buf = bytearray(MAGIC)
        self.frames: list[tuple[int, int, int]] = []  # (start, type, size)
        self.n_row_events = 0
        self._write_fde(base_ts)

    @property
    def pos(self) -> int:
        return len(self.buf)

    def _emit(self, etype: int, payload: bytes, ts: int = 0) -> int:
        start = len(self.buf)
        size = HEADER_LEN + len(payload) + CRC_LEN
        end = start + size
        header = struct.pack(
            "<IBIIIH", ts & 0xFFFFFFFF, etype, self.server_id, size,
            end & 0xFFFFFFFF, 0,
        )
        body = header + payload
        crc = struct.pack("<I", zlib.crc32(body) & 0xFFFFFFFF)
        self.buf += body + crc
        self.frames.append((start, etype, size))
        return start

    def _write_fde(self, ts: int) -> None:
        payload = (
            struct.pack("<H", 4)
            + b"8.0.0-mysql-binlog-spark".ljust(50, b"\x00")
            + struct.pack("<I", ts & 0xFFFFFFFF)
            + bytes([HEADER_LEN])
            + bytes(40)  # post-header length table (unused by our decoder)
            + bytes([1])  # checksum algorithm: CRC32
        )
        self._emit(FORMAT_DESCRIPTION_EVENT, payload, ts)

    def write_table_map(self, ts: int, t: TableSchema) -> int:
        cols = t.columns
        p = bytearray()
        p += struct.pack("<Q", t.table_id)[:6] + struct.pack("<H", 1)
        p += bytes([len(t.schema)]) + t.schema.encode() + b"\x00"
        p += bytes([len(t.table)]) + t.table.encode() + b"\x00"
        p += pack_lenenc(len(cols))
        # ENUM/SET ride as TYPE_STRING on the wire with the real type packed
        # into the metadata high byte (the trick the reference unpacks at
        # ColumnMetadataFactory.php:45-55)
        p += bytes(
            TYPE_STRING if c.ctype in (TYPE_ENUM, TYPE_SET) else c.ctype
            for c in cols
        )
        meta = bytearray()
        for c in cols:
            if c.ctype == TYPE_VARCHAR:
                meta += struct.pack("<H", c.meta)
            elif c.ctype in (TYPE_BLOB, TYPE_JSON, TYPE_GEOMETRY,
                             TYPE_TIMESTAMP2, TYPE_DATETIME2, TYPE_TIME2):
                meta += bytes([c.meta])
            elif c.ctype in (TYPE_FLOAT, TYPE_DOUBLE):
                meta += bytes([4 if c.ctype == TYPE_FLOAT else 8])
            elif c.ctype == TYPE_NEWDECIMAL:
                meta += bytes([c.meta >> 8, c.meta & 0xFF])  # precision, scale
            elif c.ctype == TYPE_BIT:
                meta += bytes([c.meta % 8, c.meta // 8])  # bits%8, bytes
            elif c.ctype == TYPE_ENUM:
                meta += bytes([TYPE_ENUM, enum_width(len(c.values))])
            elif c.ctype == TYPE_SET:
                meta += bytes([TYPE_SET, set_width(len(c.values))])
            # int types / DATE: no metadata
        p += pack_lenenc(len(meta)) + meta
        p += _bitmap([c.nullable for c in cols])
        # optional metadata TLVs (ColumnMetadataFactory.php:91-157 semantics)
        numeric = [c for c in cols if c.ctype in NUMERIC_TYPES]
        tlvs = bytearray()
        if numeric:
            sign = _bitmap([not c.signed for c in numeric])  # set = unsigned
            tlvs += bytes([META_SIGNEDNESS]) + pack_lenenc(len(sign)) + sign
        # DEFAULT_CHARSET: default collation + (char-col-index, collation)
        # pairs for columns that differ (MySQL TLV shape;
        # ColumnMetadataFactory.php:97-107 semantics).  BINARY-collation
        # VARCHAR/BLOB columns carry raw bytes (RowFactory.php:108,115).
        char_cols = [c for c in cols if c.ctype in (TYPE_VARCHAR, TYPE_BLOB)]
        cs = bytearray(pack_lenenc(CHARSET_UTF8MB4))
        for ci, c in enumerate(char_cols):
            if c.charset != CHARSET_UTF8MB4:
                cs += pack_lenenc(ci) + pack_lenenc(c.charset)
        tlvs += bytes([META_DEFAULT_CHARSET]) + pack_lenenc(len(cs)) + bytes(cs)
        names = bytearray()
        for c in cols:
            nb = c.name.encode()
            names += pack_lenenc(len(nb)) + nb
        tlvs += bytes([META_COLUMN_NAME]) + pack_lenenc(len(names)) + bytes(names)
        for kind, ctype_ in ((META_ENUM_STR_VALUE, TYPE_ENUM),
                             (META_SET_STR_VALUE, TYPE_SET)):
            vcols = [c for c in cols if c.ctype == ctype_]
            if vcols:
                vals = bytearray()
                for c in vcols:
                    vals += pack_lenenc(len(c.values))
                    for v in c.values:
                        vb = v.encode()
                        vals += pack_lenenc(len(vb)) + vb
                tlvs += bytes([kind]) + pack_lenenc(len(vals)) + bytes(vals)
        pk = bytearray()
        for i in t.primary_key:
            pk += pack_lenenc(i)
        tlvs += bytes([META_SIMPLE_PRIMARY_KEY]) + pack_lenenc(len(pk)) + bytes(pk)
        p += tlvs
        return self._emit(TABLE_MAP_EVENT, bytes(p), ts)

    def write_query(self, ts: int, schema: str, sql: str) -> int:
        p = (
            struct.pack("<IIBHH", 0, 0, len(schema), 0, 0)
            + schema.encode()
            + b"\x00"
            + sql.encode()
        )
        return self._emit(QUERY_EVENT, p, ts)

    def write_xid(self, ts: int, xid: int) -> int:
        return self._emit(XID_EVENT, struct.pack("<Q", xid), ts)

    def write_gtid(self, ts: int, sid: bytes, gno: int) -> int:
        """GTID_LOG_EVENT preceding a transaction's BEGIN: 1-byte
        commit flag, 16-byte source-server UUID (SID), 8-byte GNO.
        Real servers append logical-clock fields after the GNO; the
        decoder reads only the first 25 bytes, so their absence here is
        format-compatible.  (Beyond-parity: the reference skips GTID
        frames entirely, EventsIterator.php:244-253.)"""
        assert len(sid) == 16
        return self._emit(GTID_EVENT, b"\x01" + sid + struct.pack("<q", gno), ts)

    def write_heartbeat(self, filename: str) -> int:
        return self._emit(HEARTBEAT_EVENT, filename.encode(), 0)

    def write_rotate(self, next_file: str) -> int:
        p = struct.pack("<Q", 4) + next_file.encode()
        return self._emit(ROTATE_EVENT, p, 0)

    def _encode_image(self, t: TableSchema, row: dict) -> bytes:
        cols = t.columns
        nulls = [row.get(c.name) is None for c in cols]
        for c, isnull in zip(cols, nulls):
            if isnull and not c.nullable:
                # a real server never NULLs a NOT NULL column; writing one
                # would produce a stream the non-branching decode kernels
                # (which skip the null-bit check for non-nullable columns)
                # legitimately misread — refuse at the writer
                raise ValueError(
                    f"NULL value for NOT NULL column {c.name!r} in "
                    f"{t.schema}.{t.table}"
                )
        out = bytearray(_bitmap(nulls))
        for c, isnull in zip(cols, nulls):
            if isnull:
                continue
            v = row[c.name]
            if c.ctype in INT_TYPES:
                out += int(v).to_bytes(INT_WIDTH[c.ctype], "little",
                                       signed=c.signed)
            elif c.ctype == TYPE_VARCHAR:
                if isinstance(v, str):
                    b = (str_to_latin1(v)
                         if c.charset in LATIN1_COLLATIONS else v.encode())
                else:
                    b = bytes(v)
                out += (
                    bytes([len(b)]) if c.meta <= 255 else struct.pack("<H", len(b))
                ) + b
            elif c.ctype in BLOB_LIKE_TYPES:
                if isinstance(v, str):
                    b = (str_to_latin1(v)
                         if c.charset in LATIN1_COLLATIONS else v.encode())
                else:
                    b = bytes(v)
                out += len(b).to_bytes(c.meta or 2, "little") + b
            elif c.ctype == TYPE_TIMESTAMP2:
                sec, micro = v  # (epoch seconds, microseconds)
                out += struct.pack(">I", sec) + encode_frac(int(micro), c.meta)
            elif c.ctype == TYPE_FLOAT:
                out += struct.pack("<f", float(v))
            elif c.ctype == TYPE_DOUBLE:
                out += struct.pack("<d", float(v))
            elif c.ctype == TYPE_NEWDECIMAL:
                out += encode_decimal(str(v), c.meta >> 8, c.meta & 0xFF)
            elif c.ctype == TYPE_DATE:
                y, mo, d = (int(x) for x in str(v).split("-"))
                out += ((y << 9) | (mo << 5) | d).to_bytes(3, "little")
            elif c.ctype == TYPE_DATETIME2:
                dt, _, frac = str(v).partition(".")
                date_s, time_s = dt.split(" ")
                y, mo, d = (int(x) for x in date_s.split("-"))
                h, mi, sec = (int(x) for x in time_s.split(":"))
                out += encode_datetime2(y, mo, d, h, mi, sec)
                if c.meta:
                    digits = int((frac or "0").ljust(c.meta, "0")[: c.meta])
                    out += encode_frac(digits * 10 ** (6 - c.meta), c.meta)
            elif c.ctype == TYPE_TIME2:
                tm, _, frac = str(v).partition(".")
                neg = tm.startswith("-")
                h, mi, sec = (int(x) for x in tm.lstrip("-").split(":"))
                micro = 0
                if c.meta:
                    digits = int((frac or "0").ljust(c.meta, "0")[: c.meta])
                    micro = digits * 10 ** (6 - c.meta)
                out += encode_time2(h, mi, sec, micro, c.meta, neg)
            elif c.ctype == TYPE_BIT:
                bits = str(v)
                assert len(bits) == c.meta
                out += int(bits, 2).to_bytes((c.meta + 7) // 8, "big")
            elif c.ctype == TYPE_ENUM:
                idx = c.values.index(v) + 1 if v in c.values else 0
                out += idx.to_bytes(enum_width(len(c.values)), "little")
            elif c.ctype == TYPE_SET:
                mask = 0
                for label in (v.split(",") if v else []):
                    mask |= 1 << c.values.index(label)
                out += mask.to_bytes(set_width(len(c.values)), "little")
            else:  # pragma: no cover
                raise ValueError(f"unsupported wire type {c.ctype:#x}")
        return bytes(out)

    def write_rows(
        self,
        ts: int,
        t: TableSchema,
        action: str,
        rows: list[dict],
        befores: list[dict] | None = None,
    ) -> int:
        """One WRITE/UPDATE/DELETE_ROWS_EVENTv2 carrying a batch of rows.

        ``rows`` is the after image for insert/update and the before image
        for delete; ``befores`` supplies update before-images.
        """
        etype = {"insert": WRITE_ROWS_V2, "update": UPDATE_ROWS_V2,
                 "delete": DELETE_ROWS_V2}[action]
        self.n_row_events += 1
        n = len(t.columns)
        present = _bitmap([True] * n)
        p = bytearray()
        p += struct.pack("<Q", t.table_id)[:6] + struct.pack("<H", 1)
        p += struct.pack("<H", 2)  # extra-data length (just the length field)
        p += pack_lenenc(n)
        p += present
        if etype == UPDATE_ROWS_V2:
            p += present  # after-image present bitmap
        for i, row in enumerate(rows):
            if etype == UPDATE_ROWS_V2:
                before = (befores or [{}] * len(rows))[i]
                p += self._encode_image(t, before)
                p += self._encode_image(t, row)
            else:
                p += self._encode_image(t, row)
        return self._emit(etype, bytes(p), ts)

    def getvalue(self) -> bytes:
        return bytes(self.buf)


# ------------------------------------------------------------------ decoder


class DecodedBatch:
    """All row-changes of one chunk, column-major: per-EVENT metadata lists
    (one entry per row event, expanded to row granularity lazily or via
    numpy at Arrow-conversion time) plus per-image-column value lists
    aligned to ``columns`` (the union of decoded tables' column names, or
    the caller-fixed ``image_cols``).  Column-major output feeds Arrow
    without per-row dicts; per-event metadata avoids 7 list-extends per
    event in the frame loop."""

    __slots__ = (
        "ev_pos", "ev_server", "ev_ts", "ev_schema", "ev_table", "ev_action",
        "ev_gtid", "ev_cnt", "n_rows", "columns", "before_cols", "after_cols",
        "n_events", "n_bytes", "tables_seen",
    )

    def __init__(self, columns: list[str] | None = None):
        self.ev_pos: list[int] = []
        self.ev_server: list[int] = []
        self.ev_ts: list[int] = []  # epoch seconds of header
        self.ev_schema: list[str] = []
        self.ev_table: list[str] = []
        self.ev_action: list[str] = []
        self.ev_gtid: list[str | None] = []  # enclosing txn GTID or None
        self.ev_cnt: list[int] = []
        self.n_rows = 0
        self.columns: list[str] = list(columns or [])
        # lists of decoded values; the wavefront (sources/wavefront.py)
        # replaces them with int64 arrays of per-value descriptors into
        # the chunk buffer — fixed-width columns store the absolute byte
        # offset, varlen columns pack (value_offset << 32) | byte_length,
        # NULL is -1 (sources/vector.py materializes the Arrow arrays).
        self.before_cols: list = [[] for _ in self.columns]
        self.after_cols: list = [[] for _ in self.columns]
        self.n_events = 0
        self.n_bytes = 0
        self.tables_seen: dict = {}

    def __len__(self) -> int:
        return self.n_rows

    def _expand(self, values: list) -> list:
        out: list = []
        for v, c in zip(values, self.ev_cnt):
            out.extend([v] * c)
        return out

    # row-granularity views (tests/debug; the Arrow path uses meta_numpy)
    @property
    def log_pos(self) -> list[int]:
        return self._expand(self.ev_pos)

    @property
    def server_id(self) -> list[int]:
        return self._expand(self.ev_server)

    @property
    def ts(self) -> list[int]:
        return self._expand(self.ev_ts)

    @property
    def schema_name(self) -> list[str]:
        return self._expand(self.ev_schema)

    @property
    def table_name(self) -> list[str]:
        return self._expand(self.ev_table)

    @property
    def action(self) -> list[str]:
        return self._expand(self.ev_action)

    @property
    def gtid(self) -> list[str | None]:
        return self._expand(self.ev_gtid)

    @property
    def batch_seq(self) -> list[int]:
        out: list = []
        for c in self.ev_cnt:
            out.extend(range(c))
        return out

    def meta_numpy(self) -> dict:
        """Vectorized row-granularity metadata — the hot-path twin of the
        list properties above.  Numeric columns are np.repeat-expanded;
        string columns stay at EVENT granularity (``ev_*`` lists) next to
        a per-row ``codes`` gather index: the Arrow path materializes
        them with ``pa.array(ev_vals).take(codes)`` — a C-side gather —
        instead of a per-row Python object array + per-row UTF-8 encode
        (the round-5 gtid column cost, VERDICT r5 'what's wrong' #1)."""
        import numpy as np

        cnt = np.asarray(self.ev_cnt, dtype=np.int64)
        total = int(cnt.sum())
        starts = np.repeat(np.cumsum(cnt) - cnt, cnt)
        return {
            "log_pos": np.repeat(np.asarray(self.ev_pos, np.int64), cnt),
            "server_id": np.repeat(np.asarray(self.ev_server, np.int64), cnt),
            "ts_us": np.repeat(np.asarray(self.ev_ts, np.int64), cnt)
            * 1_000_000,
            "codes": np.repeat(np.arange(len(cnt), dtype=np.int64), cnt),
            "ev_schema": self.ev_schema,
            "ev_table": self.ev_table,
            "ev_action": self.ev_action,
            "ev_gtid": self.ev_gtid,
            "batch_seq": (np.arange(total, dtype=np.int64) - starts).astype(
                np.int32
            ),
        }

    def _rows(self, cols: list[list]) -> list[dict | None]:
        out = []
        for i in range(len(self)):
            vals = {c: cols[j][i] for j, c in enumerate(self.columns)}
            out.append(None if all(v is None for v in vals.values()) else vals)
        return out

    @property
    def after(self) -> list[dict | None]:
        """Row-dict view (tests/debug; the hot path uses the column lists)."""
        return self._rows(self.after_cols)

    @property
    def before(self) -> list[dict | None]:
        return self._rows(self.before_cols)


# ---------------------------------------------------- vectorizable kinds
#
# The wavefront (sources/wavefront.py) records per-value BYTE OFFSETS into
# the chunk buffer instead of decoding values in Python; a numpy gather +
# Arrow from_buffers materializes each column in C (sources/vector.py).
# Only types whose wire bytes map to an Arrow buffer without per-value
# Python qualify; the rest (string-rendered temporals, decimals, enums,
# latin1 conversion, FLOAT's reference rounding quirk, unsigned
# BIGINT→decimal) take the compiled value loops below.

def vector_kind(c: WireColumn) -> tuple | None:
    """Materialization descriptor for the wavefront, or None if the
    column requires per-value Python decode."""
    t = c.ctype
    if t in INT_TYPES:
        if t == TYPE_LONGLONG and not c.signed:
            return None  # > 2^63-1 kept exact as DecimalType
        return ("i", INT_WIDTH[t], c.signed)
    if t == TYPE_DOUBLE:
        return ("d",)
    if t == TYPE_TIMESTAMP2:
        return ("ts", c.meta)
    if t == TYPE_VARCHAR or t in BLOB_LIKE_TYPES:
        if c.charset == CHARSET_BINARY or t in (TYPE_JSON, TYPE_GEOMETRY):
            return ("b",)
        if c.charset in LATIN1_COLLATIONS:
            return None  # cp1252 re-map is per-value Python
        return ("s",)
    return None


def _varlen_prefix(c: WireColumn) -> int:
    if c.ctype == TYPE_VARCHAR:
        return 1 if c.meta <= 255 else 2
    if c.ctype == TYPE_BLOB:
        return c.meta or 2
    if c.ctype in (TYPE_JSON, TYPE_GEOMETRY):
        return c.meta or 4
    # anything else (e.g. a plain CHAR riding as TYPE_STRING) has a
    # prefix scheme these kernels do not implement — refuse loudly
    # instead of guessing a width and silently desyncing the scan
    raise ValueError(f"unsupported varlen wire type {c.ctype:#x}")


# --------------------------------------------------- compiled image decoders
#
# Per-row Python interpretation of the 16-type switch (the reference's
# RowFactory.php:72-165) is the decode bottleneck; instead we exec-compile a
# specialized decoder per (table schema, union layout) with every field read
# inlined — no per-field loop, no type branching at run time.  The row loop
# itself is compiled too (one call per EVENT, not per row), with the output
# appends pre-bound to locals and union-slot NULL backfill batched into one
# ``extend`` per event.

_DECODER_CACHE: dict = {}


def _field_lines(
    c: WireColumn, i: int, ns: dict, uniq: str, text_as_bytes: bool = False
) -> list[str]:
    """Source lines computing ``v`` for column ``c`` and advancing ``off``.
    ``uniq`` namespaces per-column constants in ``ns``.

    ``text_as_bytes``: emit utf-8 VARCHAR/BLOB values as raw bytes slices
    instead of Python strings — the Arrow sink casts binary→utf8 in C
    (validation included), so no per-value Python str is ever built."""
    body: list[str] = []
    if c.ctype == TYPE_TINY:
        if c.signed:
            body.append("v = buf[off]; off += 1")
            body.append("if v >= 128: v -= 256")
        else:
            body.append("v = buf[off]; off += 1")
    elif c.ctype == TYPE_SHORT:
        body.append(f"v = u('<{'h' if c.signed else 'H'}', buf, off)[0]; off += 2")
    elif c.ctype == TYPE_INT24:
        body.append("v = buf[off] | (buf[off+1] << 8) | (buf[off+2] << 16); off += 3")
        if c.signed:
            body.append("if v >= 8388608: v -= 16777216")
    elif c.ctype == TYPE_LONG:
        body.append(f"v = u('<{'i' if c.signed else 'I'}', buf, off)[0]; off += 4")
    elif c.ctype == TYPE_LONGLONG:
        body.append(f"v = u('<{'q' if c.signed else 'Q'}', buf, off)[0]; off += 8")
    elif c.ctype == TYPE_VARCHAR or c.ctype in BLOB_LIKE_TYPES:
        if c.ctype == TYPE_VARCHAR:
            lw = 1 if c.meta <= 255 else 2
        elif c.ctype == TYPE_BLOB:
            lw = c.meta or 2  # BLOB: length-prefix width from metadata
        else:
            lw = c.meta or 4  # JSON/GEOMETRY: MySQL uses a u32 prefix
        if lw == 1:
            body.append("ln = buf[off]; off += 1")
        elif lw == 2:
            body.append("ln = buf[off] | (buf[off+1] << 8); off += 2")
        else:
            body.append(
                f"ln = int.from_bytes(buf[off:off+{lw}], 'little'); off += {lw}"
            )
        if (c.charset == CHARSET_BINARY
                or c.ctype in (TYPE_JSON, TYPE_GEOMETRY)):
            # binary collation (and JSONB / SRID+WKB payloads): raw bytes,
            # never text (reference base64-envelopes these,
            # RowFactory.php:108,115)
            body.append("v = buf[off:off+ln]; off += ln")
        elif c.charset in LATIN1_COLLATIONS:
            # latin1 → Windows-1252 conversion (Collation.php:984-1001);
            # must run in Python — Arrow's binary→utf8 cast can't re-map
            body.append("v = _l1(buf[off:off+ln]); off += ln")
            ns["_l1"] = latin1_to_str
        elif text_as_bytes:
            body.append("v = buf[off:off+ln]; off += ln")
        else:
            # row payloads arrive as bytes (not memoryview): slice+decode
            # is ~1.8x faster than str(mv_slice, 'utf-8')
            body.append("v = buf[off:off+ln].decode('utf-8'); off += ln")
    elif c.ctype == TYPE_TIMESTAMP2:
        # 4-byte BE epoch seconds + (fsp+1)//2 fractional bytes sized from
        # the column's fsp metadata
        fnb = (c.meta + 1) // 2
        if fnb == 0:
            body.append("v = u('>I', buf, off)[0] * 1000000; off += 4")
        elif fnb == 1:
            body.append(
                "v = u('>I', buf, off)[0] * 1000000 + buf[off+4] * 10000; "
                "off += 5"
            )
        elif fnb == 2:
            body.append(
                "v = u('>I', buf, off)[0] * 1000000 + "
                "((buf[off+4] << 8) | buf[off+5]) * 100; off += 6"
            )
        else:
            body.append(
                "v = u('>I', buf, off)[0] * 1000000 + "
                "((buf[off+4] << 16) | (buf[off+5] << 8) | buf[off+6]); "
                "off += 7"
            )
    elif c.ctype == TYPE_FLOAT:
        # reference quirk: FLOAT rounded to its meta "size"
        # (RowFactory.php:90-92)
        body.append(f"v = round(u('<f', buf, off)[0], {c.meta or 4}); off += 4")
    elif c.ctype == TYPE_DOUBLE:
        body.append("v = u('<d', buf, off)[0]; off += 8")
    elif c.ctype == TYPE_NEWDECIMAL:
        body.append(
            f"v, off = _decimal(buf, off, {c.meta >> 8}, {c.meta & 0xFF})"
        )
    elif c.ctype == TYPE_DATE:
        body.append("p_ = int.from_bytes(buf[off:off+3], 'little'); off += 3")
        body.append("v = f'{p_ >> 9:04d}-{(p_ >> 5) & 15:02d}-{p_ & 31:02d}'")
    elif c.ctype == TYPE_DATETIME2:
        body.append(f"v, off = _dt2(buf, off, {c.meta})")
    elif c.ctype == TYPE_TIME2:
        body.append(f"v, off = _t2(buf, off, {c.meta})")
    elif c.ctype == TYPE_BIT:
        w = (c.meta + 7) // 8
        body.append(
            f"v = format(int.from_bytes(buf[off:off+{w}], 'big'), "
            f"'0{c.meta}b'); off += {w}"
        )
    elif c.ctype == TYPE_ENUM:
        w = enum_width(len(c.values))
        ns[f"_ev{uniq}"] = ("",) + c.values  # index 0 → '' (RowFactory quirk)
        if w == 1:
            body.append("ix = buf[off]; off += 1")
        else:
            body.append("ix = buf[off] | (buf[off+1] << 8); off += 2")
        body.append(f"v = _ev{uniq}[ix] if ix < {len(c.values) + 1} else ''")
    elif c.ctype == TYPE_SET:
        w = set_width(len(c.values))
        ns[f"_sv{uniq}"] = c.values
        body.append(
            f"m_ = int.from_bytes(buf[off:off+{w}], 'little'); off += {w}"
        )
        body.append(
            f"v = ','.join(x for k, x in enumerate(_sv{uniq}) if m_ & (1 << k))"
        )
    else:  # pragma: no cover
        raise ValueError(f"unsupported wire type {c.ctype:#x}")
    return body


def _image_lines(
    t: TableSchema, slot: dict, ns: dict, prefix: str, store: bool,
    ind: str, text_as_bytes: bool = False,
) -> list[str]:
    """Row-image decode lines: one null-bitmap read + every field inlined.
    With ``store``, values append via pre-bound locals ``{prefix}{slot}``;
    union slots the table lacks are backfilled after the loop."""
    n = len(t.columns)
    nbb = (n + 7) // 8
    L: list[str] = []
    if nbb == 1:
        L.append(f"{ind}nb = buf[off]; off += 1")
    else:
        L.append(
            f"{ind}nb = int.from_bytes(buf[off:off+{nbb}], 'little'); "
            f"off += {nbb}"
        )
    for i, c in enumerate(t.columns):
        st = (
            f"{prefix}{slot[c.name]}"
            if store and c.name in slot
            else None
        )
        body = _field_lines(c, i, ns, f"{prefix}{i}", text_as_bytes)
        L.append(f"{ind}if nb & {1 << i}:")
        L.append(f"{ind}    {st}(None)" if st else f"{ind}    pass")
        L.append(f"{ind}else:")
        for ln_ in body:
            L.append(f"{ind}    {ln_}")
        if st:
            L.append(f"{ind}    {st}(v)")
    return L


def _compile_event_loop(
    t: TableSchema, columns: list[str], kind: str,
    text_as_bytes: bool = False,
):
    """Compile a whole-event row loop for table ``t`` against the union
    column layout ``columns``.

    kind: 'single'    → f(buf, off, end, outs)          decode each row
          'pair'      → f(buf, off, end, bouts, aouts)  update before+after
          'skip_then' → f(buf, off, end, aouts)         parse-skip before,
                                                        decode after
    All return (off, row_count).  Output appends are pre-bound locals and
    union slots the table lacks are NULL-backfilled with one ``extend``
    per event — the per-row call/indexing overhead of a per-image decoder
    is gone (the decode hot loop is ~40% of e2e wall time).
    """
    sig = (
        tuple(
            (c.name, c.ctype, c.meta, c.nullable, c.signed, c.values, c.charset)
            for c in t.columns
        ),
        tuple(columns),
        kind,
        text_as_bytes,
    )
    fn = _DECODER_CACHE.get(sig)
    if fn is not None:
        return fn
    slot = {name: i for i, name in enumerate(columns)}
    covered = {c.name for c in t.columns}
    missing = [name for name in columns if name not in covered]
    ns: dict = {"_unpack_from": struct.unpack_from,
                "_decimal": decode_decimal, "_dt2": decode_datetime2,
                "_t2": decode_time2}

    args = {
        "single": "outs", "pair": "bouts, aouts", "skip_then": "aouts",
    }[kind]
    L = [f"def _loop(buf, off, end, {args}, u=_unpack_from):"]

    def bind(prefix: str, src: str) -> None:
        for name in columns:
            if name in covered:
                L.append(f"    {prefix}{slot[name]} = {src}[{slot[name]}].append")

    if kind == "single":
        bind("a", "outs")
    elif kind == "pair":
        bind("b", "bouts")
        bind("a", "aouts")
    else:
        bind("a", "aouts")
    L.append("    cnt = 0")
    L.append("    while off < end:")
    if kind == "single":
        L += _image_lines(t, slot, ns, "a", True, "        ", text_as_bytes)
    elif kind == "pair":
        L += _image_lines(t, slot, ns, "b", True, "        ", text_as_bytes)
        L += _image_lines(t, slot, ns, "a", True, "        ", text_as_bytes)
    else:
        L += _image_lines(t, slot, ns, "s", False, "        ", text_as_bytes)
        L += _image_lines(t, slot, ns, "a", True, "        ", text_as_bytes)
    L.append("        cnt += 1")
    if missing:
        L.append("    _none = [None] * cnt")
        for name in missing:
            if kind == "pair":
                L.append(f"    bouts[{slot[name]}].extend(_none)")
                L.append(f"    aouts[{slot[name]}].extend(_none)")
            elif kind == "single":
                L.append(f"    outs[{slot[name]}].extend(_none)")
            else:
                L.append(f"    aouts[{slot[name]}].extend(_none)")
    L.append("    return off, cnt")
    exec("\n".join(L), ns)  # noqa: S102 - codegen from trusted schema
    fn = ns["_loop"]
    _DECODER_CACHE[sig] = fn
    return fn


# ------------------------------------------------ wavefront advance rules
#
# The wavefront (sources/wavefront.py) walks rows without decoding values:
# stored columns record byte offsets into the chunk, every other column
# only advances the cursor by its wire width.

def _advance_width(c: WireColumn) -> int | None:
    """Constant byte width of column c's wire value, or None if varlen."""
    t = c.ctype
    if t in INT_TYPES:
        return INT_WIDTH[t]
    if t == TYPE_FLOAT:
        return 4
    if t == TYPE_DOUBLE:
        return 8
    if t == TYPE_NEWDECIMAL:
        p_, s_ = c.meta >> 8, c.meta & 0xFF
        return _dec_bytes_for_digits(p_ - s_) + _dec_bytes_for_digits(s_)
    if t == TYPE_DATE:
        return 3
    if t == TYPE_TIMESTAMP2:
        return 4 + _frac_nbytes(c.meta)
    if t == TYPE_DATETIME2:
        return 5 + _frac_nbytes(c.meta)
    if t == TYPE_TIME2:
        nb = _frac_nbytes(c.meta)
        return 6 if nb == 3 else 3 + nb
    if t == TYPE_BIT:
        return (c.meta + 7) // 8
    if t == TYPE_ENUM:
        return enum_width(len(c.values))
    if t == TYPE_SET:
        return set_width(len(c.values))
    return None  # VARCHAR / BLOB-like


def offset_scannable(t: TableSchema, stored: set[str]) -> bool:
    """True iff table t can run the wavefront for output columns
    ``stored``: stored columns need a vector_kind; every OTHER column —
    skipped, but still advanced over — needs a known advance rule (a
    fixed width or a supported varlen prefix).  An unknown type anywhere
    in the row falls back to the value-loop path, which fails loudly."""
    for c in t.columns:
        if c.name in stored and vector_kind(c) is None:
            return False
        if _advance_width(c) is None and c.ctype not in (
            TYPE_VARCHAR, *BLOB_LIKE_TYPES
        ):
            return False
    return True


def _parse_table_map(payload: memoryview) -> TableSchema:
    off = 0
    table_id = int.from_bytes(payload[0:6], "little")
    off = 8  # table_id u48 + flags u16
    slen = payload[off]
    schema = bytes(payload[off + 1 : off + 1 + slen]).decode()
    off += 1 + slen + 1
    tlen = payload[off]
    table = bytes(payload[off + 1 : off + 1 + tlen]).decode()
    off += 1 + tlen + 1
    ncols, off = read_lenenc(payload, off)
    ctypes = list(payload[off : off + ncols])
    off += ncols
    mlen, off = read_lenenc(payload, off)
    meta_end = off + mlen
    metas: list[int] = []
    for i, ct in enumerate(ctypes):
        if ct == TYPE_VARCHAR:
            metas.append(struct.unpack_from("<H", payload, off)[0])
            off += 2
        elif ct in (TYPE_BLOB, TYPE_JSON, TYPE_GEOMETRY, TYPE_TIMESTAMP2,
                    TYPE_DATETIME2, TYPE_TIME2, TYPE_FLOAT, TYPE_DOUBLE):
            # JSON/GEOMETRY fold into the BLOB metadata layout
            # (BlobMeta, ColumnMetadataFactory.php:59-62)
            metas.append(payload[off])
            off += 1
        elif ct == TYPE_NEWDECIMAL:
            metas.append((payload[off] << 8) | payload[off + 1])
            off += 2
        elif ct == TYPE_BIT:
            metas.append(payload[off] + payload[off + 1] * 8)  # total bits
            off += 2
        elif ct == TYPE_STRING:
            # real type packed in meta byte 0 (ENUM/SET trick,
            # ColumnMetadataFactory.php:45-55)
            real, width = payload[off], payload[off + 1]
            ctypes[i] = real
            metas.append(width)
            off += 2
        else:
            metas.append(0)
    assert off == meta_end, "column metadata length mismatch"
    nb = (ncols + 7) // 8
    null_bm = payload[off : off + nb]
    off += nb
    nullable = [(null_bm[i >> 3] >> (i & 7)) & 1 == 1 for i in range(ncols)]
    # optional metadata TLVs
    names: list[str] = []
    pk: tuple[int, ...] = ()
    signedness: list[bool] = []
    enum_vals: list[tuple[str, ...]] = []
    set_vals: list[tuple[str, ...]] = []
    default_cs = CHARSET_UTF8MB4
    cs_overrides: dict[int, int] = {}  # char-column index → collation
    end = len(payload)
    while off < end:
        ttype = payload[off]
        tlen_, off2 = read_lenenc(payload, off + 1)
        val = payload[off2 : off2 + tlen_]
        off = off2 + tlen_
        if ttype == META_COLUMN_NAME:
            voff = 0
            while voff < len(val):
                ln, voff = read_lenenc(val, voff)
                names.append(bytes(val[voff : voff + ln]).decode())
                voff += ln
        elif ttype == META_SIMPLE_PRIMARY_KEY:
            voff, pk_list = 0, []
            while voff < len(val):
                ix, voff = read_lenenc(val, voff)
                pk_list.append(ix)
            pk = tuple(pk_list)
        elif ttype == META_DEFAULT_CHARSET:
            voff = 0
            default_cs, voff = read_lenenc(val, voff)
            while voff < len(val):
                ci, voff = read_lenenc(val, voff)
                cs_i, voff = read_lenenc(val, voff)
                cs_overrides[ci] = cs_i
        elif ttype == META_SIGNEDNESS:
            n_numeric = sum(1 for ct in ctypes if ct in NUMERIC_TYPES)
            signedness = [
                (val[i >> 3] >> (i & 7)) & 1 == 0 for i in range(n_numeric)
            ]  # TLV bit set = UNSIGNED
        elif ttype in (META_ENUM_STR_VALUE, META_SET_STR_VALUE):
            voff, lists = 0, []
            while voff < len(val):
                nv, voff = read_lenenc(val, voff)
                vv = []
                for _ in range(nv):
                    ln, voff = read_lenenc(val, voff)
                    vv.append(bytes(val[voff : voff + ln]).decode())
                    voff += ln
                lists.append(tuple(vv))
            if ttype == META_ENUM_STR_VALUE:
                enum_vals = lists
            else:
                set_vals = lists
    if len(names) != ncols:
        # the reference hard-errors when names are absent
        # (ColumnMetadataFactory.php:159-161) — we do the same.
        raise ValueError(f"TABLE_MAP for {schema}.{table} lacks column names")
    cols = []
    num_i, enum_i, set_i, char_i = 0, 0, 0, 0
    for i in range(ncols):
        ct = ctypes[i]
        signed = True
        values: tuple[str, ...] = ()
        charset = CHARSET_UTF8MB4
        if ct in NUMERIC_TYPES:
            if signedness:
                signed = signedness[num_i]
            num_i += 1
        if ct == TYPE_ENUM:
            values = enum_vals[enum_i] if enum_i < len(enum_vals) else ()
            enum_i += 1
        elif ct == TYPE_SET:
            values = set_vals[set_i] if set_i < len(set_vals) else ()
            set_i += 1
        elif ct in (TYPE_VARCHAR, TYPE_BLOB):
            charset = cs_overrides.get(char_i, default_cs)
            char_i += 1
        cols.append(
            WireColumn(name=names[i], ctype=ct, nullable=nullable[i],
                       meta=metas[i], signed=signed, values=values,
                       charset=charset)
        )
    return TableSchema(schema=schema, table=table, columns=cols,
                       primary_key=pk, table_id=table_id)


def _filter_parts(
    s: set | None,
) -> tuple[frozenset, frozenset] | None:
    """Split a filter set into its (database-level, table-level) parts:
    bare strings name whole databases, tuples name (schema, table)."""
    if s is None:
        return None
    return (
        frozenset(e for e in s if isinstance(e, str)),
        frozenset(e for e in s if not isinstance(e, str)),
    )


def table_admitted(
    schema: str,
    table: str,
    include: set | None,
    exclude: set | None,
) -> bool:
    """Reference filter semantics (EventsIterator.php:103-130, Config.php
    databases/excludeDatabases/tables/excludeTables): include requires
    membership in EVERY configured dimension (schema ∈ databases AND
    (schema, table) ∈ tables — each dimension only if present in the
    set), exclude rejects on ANY.  Filter sets mix bare schema strings
    (database-level) with (schema, table) pairs."""
    return _admits(_filter_parts(include), _filter_parts(exclude),
                   schema, table)


def _admits(
    inc: tuple[frozenset, frozenset] | None,
    exc: tuple[frozenset, frozenset] | None,
    schema: str,
    table: str,
) -> bool:
    if inc is not None:
        dbs, pairs = inc
        if not dbs and not pairs:
            return False  # empty include = include nothing
        if dbs and schema not in dbs:
            return False
        if pairs and (schema, table) not in pairs:
            return False
    if exc is not None:
        dbs, pairs = exc
        if schema in dbs or (schema, table) in pairs:
            return False
    return True


def format_gtid(sid: bytes, gno: int) -> str:
    """Canonical GTID text: lowercase 8-4-4-4-12 SID uuid + ':' + GNO."""
    h = sid.hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}:{gno}"


_SID_RE = re.compile(
    r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
)


def normalize_gtid_resume(
    spec: "tuple[str, int] | dict[str, int] | None",
) -> dict[str, int] | None:
    """Canonicalize a resume-by-GTID spec to ``{sid_uuid_lower: gno}``.

    Accepts the single-SID ``(sid, gno)`` tuple (back-compat) or a
    per-SID threshold dict — the GTID-SET contract real multi-source
    replication needs (a single-SID threshold cannot express "resume
    source A at 500 and source B at 120").  SIDs are lowercased and
    shape-validated here (ADVICE round-5: an uppercase UUID — the
    SHOW MASTER STATUS rendering — used to silently match nothing)."""
    if spec is None:
        return None
    if isinstance(spec, (tuple, list)):
        # a 2-element list is what JSON config deserializes the legacy
        # (sid, gno) pair to (ADVICE r6) — accept both sequence shapes
        if len(spec) != 2:
            raise ValueError(
                "GTID resume sequence must be (sid, gno); got "
                f"{len(spec)} elements"
            )
        spec = {spec[0]: spec[1]}
    out: dict[str, int] = {}
    for sid, gno in spec.items():
        s = str(sid).strip().lower()
        if not _SID_RE.match(s):
            raise ValueError(
                f"GTID SID {sid!r} is not an 8-4-4-4-12 uuid"
            )
        out[s] = int(gno)
    return out


def parse_gtid_set(text: str) -> dict[str, int]:
    """Parse the CLI/env GTID-set rendering 'sid:gno[,sid:gno...]'."""
    spec: dict[str, int] = {}
    for part in text.split(","):
        sid, _, gno = part.strip().rpartition(":")
        if not sid or not gno.isdigit():
            raise ValueError(
                f"bad GTID-set entry {part.strip()!r}: want 'sid-uuid:gno'"
            )
        spec[sid] = int(gno)
    return normalize_gtid_resume(spec)


def decode_chunk(
    data: bytes,
    include: set | None = None,
    exclude: set | None = None,
    start_pos: int = 0,
    verify_crc: bool = False,
    image_cols: list[str] | None = None,
    before_mode: str = "full",
    text_as_bytes: bool = False,
    start_after_gtid: tuple[str, int] | dict[str, int] | None = None,
) -> DecodedBatch:
    """Decode one binlog chunk file into a column-major batch of values.

    This is the sequential path: one walk over the frames, each included
    row event decoded by its table's compiled value loop.  It is the
    reference the wavefront (sources/wavefront.py) is tested against,
    and the path that wavefront hands small chunks and non-vectorizable
    schemas to.  ``text_as_bytes`` keeps utf-8 VARCHAR/BLOB values as
    raw bytes for the Arrow sink (``_field_lines``).

    ``start_after_gtid`` = (sid uuid text, gno) or a GTID-SET dict
    ``{sid: gno, ...}`` (round 6 — the multi-source-replication resume
    contract): skip the row events of every transaction whose GTID SID
    has a threshold and whose GNO ≤ it — the resume-by-GTID consumer
    contract (a superset of the reference's position-based resume; it
    skips before row decode, like the table filter).  Transactions from
    unlisted SIDs and GTID-less events are unaffected.

    Filter pushdown mirrors the reference: the include/exclude check runs on
    the 6-byte tableId lookup *before* any row decode
    (EventsIterator.php:375-377), and events before ``start_pos`` are
    skipped without row decode (EventsIterator.php:207-215).

    ``image_cols`` fixes the output column layout (columns a table lacks are
    NULL-backfilled; table columns outside the list are decoded-and-dropped);
    when None the union grows dynamically as TABLE_MAPs arrive.

    ``before_mode``: 'full' materializes update/delete before-images;
    'delete_only' parse-skips update before-images (the apply path never
    reads them — delete rows keep theirs, it IS the row image).  Skipping
    avoids the list appends and Arrow conversion for half the output
    columns.
    """
    assert before_mode in ("full", "delete_only")
    inc_parts = _filter_parts(include)
    exc_parts = _filter_parts(exclude)
    mk_null = [None].__mul__
    mv = memoryview(data)
    assert bytes(mv[:4]) == MAGIC, "bad binlog magic"
    off = 4
    tables: dict[int, TableSchema] = {}
    decoders: dict[int, object] = {}
    out = DecodedBatch(image_cols)
    fixed_union = image_cols is not None
    total = len(data)
    unpack = struct.unpack_from
    ev_pos_a = out.ev_pos.append
    ev_server_a = out.ev_server.append
    ev_ts_a = out.ev_ts.append
    ev_schema_a = out.ev_schema.append
    ev_table_a = out.ev_table.append
    ev_action_a = out.ev_action.append
    ev_gtid_a = out.ev_gtid.append
    ev_cnt_a = out.ev_cnt.append
    cur_gtid: str | None = None  # set by GTID frame, cleared by XID
    skip_txn = False  # inside a transaction at/before start_after_gtid
    resume_map = normalize_gtid_resume(start_after_gtid)
    while off + HEADER_LEN <= total:
        # header fast path: only the type byte and size are needed for
        # control frames; ts/server_id are read for row events below
        etype = mv[off + 4]
        size = unpack("<I", mv, off + 9)[0]
        if size < HEADER_LEN + CRC_LEN:
            # a frame can never be smaller than header+CRC; size 0 would
            # stall the walk forever — classify as malformed, not a loop
            raise ValueError(
                f"malformed frame at offset {off}: header claims {size} "
                f"bytes (minimum is {HEADER_LEN + CRC_LEN})"
            )
        if off + size > total:
            # partial trailing frame: a chunk cut mid-write (the recorded
            # analog of the reference's dropped connection).  Each chunk
            # is consumed once, so stopping here would drop its tail
            # silently: fail, and let on_error='skip' quarantine it.
            raise TruncatedFrameError(
                f"truncated frame at offset {off}: header claims {size} "
                f"bytes, {total - off} remain"
            )
        body_end = off + size - CRC_LEN
        if verify_crc:
            want = unpack("<I", mv, body_end)[0]
            got = zlib.crc32(mv[off:body_end]) & 0xFFFFFFFF
            if want != got:
                raise CrcMismatchError(f"CRC mismatch at offset {off}")
        out.n_events += 1
        out.n_bytes += size
        if etype == TABLE_MAP_EVENT:
            payload = mv[off + HEADER_LEN : body_end]
            t = _parse_table_map(payload)
            tables[t.table_id] = t
            decoders.pop(t.table_id, None)
            out.tables_seen[(t.schema, t.table)] = t
            if not fixed_union:
                if _admits(inc_parts, exc_parts, t.schema, t.table):
                    nrows = len(out)
                    for c in t.columns:
                        if c.name not in out.columns:
                            out.columns.append(c.name)
                            out.before_cols.append(mk_null(nrows))
                            out.after_cols.append(mk_null(nrows))
                            decoders.clear()  # layouts changed
        elif etype in ACTION_BY_EVENT and off >= start_pos and not skip_txn:
            # u48 table id via one masked u64 read straight off the frame
            # (flags+extra follow, so 8 bytes are always available) — the
            # payload bytes are only copied for INCLUDED tables
            table_id = unpack("<Q", mv, off + HEADER_LEN)[0] & 0xFFFFFFFFFFFF
            decs = decoders.get(table_id)
            if decs is None:
                t = tables.get(table_id)
                if t is None:
                    raise ValueError(
                        f"row event for unknown table id {table_id}"
                    )
                if not _admits(inc_parts, exc_parts, t.schema, t.table):
                    # excluded table: cache the verdict — later events for
                    # this id skip without key/set checks (reference F1
                    # pushdown, EventsIterator.php:375-377)
                    decoders[table_id] = decs = False
                else:
                    n_ = len(t.columns)
                    nbb_ = (n_ + 7) // 8
                    full = bytes([0xFF] * (nbb_ - 1)) + bytes(
                        [(1 << (n_ - 8 * (nbb_ - 1))) - 1]
                    )
                    cols = out.columns
                    decoders[table_id] = decs = (
                        t,
                        _compile_event_loop(t, cols, "single", text_as_bytes),
                        _compile_event_loop(t, cols, "pair", text_as_bytes),
                        _compile_event_loop(
                            t, cols, "skip_then", text_as_bytes
                        ),
                        n_, nbb_, full,
                    )
            if decs is not False:
                t, single, pair, skip_then, n, nbb_, full = decs
                ts = unpack("<I", mv, off)[0]
                server_id = unpack("<I", mv, off + 5)[0]
                # bytes slice (one memcpy per included event), NOT a
                # memoryview: the row loop's string fields use bytes.decode
                payload = data[off + HEADER_LEN : body_end]
                p = 6 + 2 + 2  # table_id + flags + extra-data len
                plen = len(payload)
                ccount, p = read_lenenc(payload, p)
                assert ccount == n
                # columns-present bitmap(s): the decoder assumes FULL row
                # images, so a partial bitmap (binlog_row_image=MINIMAL /
                # NOBLOB) must fail loudly instead of desyncing the row
                # decode (reference sizes null-bitmaps from the present
                # count, RowFactory.php:28-40 — we reject instead).
                n_bm = 2 if etype == UPDATE_ROWS_V2 else 1
                if nbb_ == 1:
                    full_i = full[0]
                    for _ in range(n_bm):
                        if payload[p] != full_i:
                            raise ValueError(
                                f"partial row image in {t.schema}.{t.table} "
                                "(binlog_row_image != FULL is not supported)"
                            )
                        p += 1
                else:
                    for _ in range(n_bm):
                        if bytes(payload[p : p + nbb_]) != full:
                            raise ValueError(
                                f"partial row image in {t.schema}.{t.table} "
                                "(binlog_row_image != FULL is not supported)"
                            )
                        p += nbb_
                bouts = out.before_cols
                aouts = out.after_cols
                if etype == UPDATE_ROWS_V2:
                    if before_mode == "full":
                        p, cnt = pair(payload, p, plen, bouts, aouts)
                    else:
                        p, cnt = skip_then(payload, p, plen, aouts)
                        nulls_ = mk_null(cnt)
                        for lst in bouts:
                            lst.extend(nulls_)
                elif etype == DELETE_ROWS_V2:
                    p, cnt = single(payload, p, plen, bouts)
                    nulls_ = mk_null(cnt)
                    for lst in aouts:
                        lst.extend(nulls_)
                else:
                    p, cnt = single(payload, p, plen, aouts)
                    nulls_ = mk_null(cnt)
                    for lst in bouts:
                        lst.extend(nulls_)
                if p != plen:
                    # a value cut short by its event's end still slices
                    # (bytes slicing clamps): only the row cursor shows it
                    raise ValueError(
                        f"row decode desync at offset {off}: rows end at "
                        f"{p}, event payload at {plen}"
                    )
                ev_pos_a(off)
                ev_server_a(server_id)
                ev_ts_a(ts)
                ev_schema_a(t.schema)
                ev_table_a(t.table)
                ev_action_a(ACTION_BY_EVENT[etype])
                ev_gtid_a(cur_gtid)
                ev_cnt_a(cnt)
                out.n_rows += cnt
        elif etype == GTID_EVENT:
            # txn lineage state (like TABLE_MAP, tracked even before
            # start_pos): tag every row event until the closing XID.
            # Logs without GTID frames simply leave the column NULL —
            # the reference skips these frames (EventsIterator.php:
            # 244-253); carrying them is a deliberate superset, since
            # resume-by-GTID is the modern CDC consumer contract.
            p0 = off + HEADER_LEN
            gno = unpack("<q", mv, p0 + 17)[0]
            cur_gtid = format_gtid(bytes(mv[p0 + 1 : p0 + 17]), gno)
            if resume_map is not None:
                # uuid text is a fixed 36 chars; per-SID threshold lookup
                thr = resume_map.get(cur_gtid[:36])
                skip_txn = thr is not None and gno <= thr
        elif etype == XID_EVENT:
            cur_gtid = None  # transaction closed
            skip_txn = False
        # ROTATE/QUERY/HEARTBEAT/FDE are control frames: position
        # bookkeeping only (reference drops them too,
        # EventsIterator.php:153-173, :237-266).
        off += size
    return out

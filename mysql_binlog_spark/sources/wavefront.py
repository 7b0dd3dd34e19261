"""Row decode entry: one frame walk, then one of two row kernels.

``decode_chunk_vectorized`` decodes a chunk on one of two paths:

* **Wavefront.**  ``_fast_scan`` walks the frame size chain once and
  turns everything else (event types, table resolution, include/exclude,
  start_pos, GTID attribution and GTID-set resume, FULL-image bitmap
  checks, per-event metadata) into numpy masks and gathers over the
  collected frame offsets; CRC is checked per frame inside the walk.
  ``_finish_wavefront`` then decodes row ``r`` of EVERY included event at
  once — one numpy "wavefront" per row index, vector width = number of
  events.  Each iteration advances a cursor vector through one row image
  per event with byte gathers (length prefixes, null bitmaps) and records
  packed int64 descriptors ((offset << 32) | length for varlen, plain
  offset for fixed, -1 for NULL) that sources/vector.py turns into Arrow
  arrays.  No per-row Python.
* **Value loops.**  ``wire.decode_chunk``'s exec-compiled per-event row
  loops, the sequential reference the tests compare against.  They take
  chunks with fewer than ``WAVEFRONT_MIN_ROW_EVENTS`` row events (numpy
  call overhead does not amortize over a narrow wavefront), stored
  columns that need per-value Python (decimals, rendered temporals,
  ENUM/SET, latin1, FLOAT), and the shapes the walk does not vectorize
  (table_id remapped mid-chunk, 251+ columns, a row event before its
  TABLE_MAP, chunks of 2 GiB or more).

Both paths give the same rows.  The walk runs first on every chunk, so
frame errors (size, truncation, CRC) are raised before any row-level
error.  Malformed streams fail loudly on the wavefront: gathers past the buffer raise IndexError and a cursor
that does not land exactly on each event's end raises ValueError (desync
check, stricter than the value loops).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..wire import (
    ACTION_BY_EVENT,
    CRC_LEN,
    DELETE_ROWS_V2,
    GTID_EVENT,
    HEADER_LEN,
    MAGIC,
    TABLE_MAP_EVENT,
    UPDATE_ROWS_V2,
    WRITE_ROWS_V2,
    XID_EVENT,
    CrcMismatchError,
    DecodedBatch,
    TableSchema,
    TruncatedFrameError,
    _advance_width,
    _DECODER_CACHE,
    _parse_table_map,
    _varlen_prefix,
    decode_chunk,
    format_gtid,
    normalize_gtid_resume,
    offset_scannable,
    table_admitted,
    vector_kind,
)

# Row events per chunk from which the wavefront beats the value loops.
# Measured on one core, decode + Arrow emission, best of 15 runs, on
# perfbench load-generator chunks (before_mode='delete_only'): the
# crossover is at ~170-220 row events on the update-heavy tail mix (~2.4
# rows per event) and ~250-450 on the insert-heavy backfill mix (~1.6),
# i.e. about 400-600 rows either way.  Below it the wavefront's fixed
# numpy cost dominates: 3-5x the value loops' cost under 30 row events.
WAVEFRONT_MIN_ROW_EVENTS = 256


# ------------------------------------------------------------- kernel codegen

def _wf_image_lines(
    t: TableSchema, slot: dict, store_prefix: str | None, ind: str
) -> list[str]:
    """Numpy lines advancing cursor vector ``c`` through one row image of
    every active event; stored slots append per-iteration vectors to
    ``{store_prefix}{slot}`` lists."""
    n = len(t.columns)
    nbb = (n + 7) // 8
    L: list[str] = [f"{ind}nb = buf[c].astype(i64)"]
    for k in range(1, nbb):
        L.append(f"{ind}nb |= buf[c + {k}].astype(i64) << {8 * k}")
    L.append(f"{ind}c = c + {nbb}")
    for i, c_ in enumerate(t.columns):
        s = slot.get(c_.name) if store_prefix is not None else None
        st = f"{store_prefix}{s}.append" if s is not None else None
        varlen = _advance_width(c_) is None
        if c_.nullable:
            L.append(f"{ind}nm = (nb >> {i}) & 1")
            if varlen:
                lw = _varlen_prefix(c_)
                if lw == 1:
                    L.append(f"{ind}ln = buf[c].astype(i64)")
                else:
                    L.append(f"{ind}ln = buf[c].astype(i64)")
                    for k in range(1, lw):
                        L.append(
                            f"{ind}ln |= buf[c + {k}].astype(i64) << {8 * k}"
                        )
                L.append(f"{ind}ln = np.where(nm == 1, 0, ln)")
                if st:
                    L.append(
                        f"{ind}{st}(np.where(nm == 1, -1, "
                        f"((c + {lw}) << 32) | ln))"
                    )
                L.append(f"{ind}c = c + np.where(nm == 1, 0, {lw} + ln)")
            else:
                w = _advance_width(c_)
                if st:
                    L.append(f"{ind}{st}(np.where(nm == 1, -1, c))")
                L.append(f"{ind}c = c + {w} * (1 - nm)")
        else:
            if varlen:
                lw = _varlen_prefix(c_)
                L.append(f"{ind}ln = buf[c].astype(i64)")
                for k in range(1, lw):
                    L.append(f"{ind}ln |= buf[c + {k}].astype(i64) << {8 * k}")
                if st:
                    L.append(f"{ind}{st}(((c + {lw}) << 32) | ln)")
                L.append(f"{ind}c = c + {lw} + ln")
            else:
                w = _advance_width(c_)
                if st:
                    L.append(f"{ind}{st}(c)")
                L.append(f"{ind}c = c + {w}")
    return L


def _compile_wavefront(t: TableSchema, columns: list[str], mode: str):
    """f(buf, starts, ends) → (counts, hist, S1, S2)

    mode: 'single'    — one stored image          (S1 = stores, S2 = None)
          'pair'      — two stored images         (S1 = image1, S2 = image2)
          'skip_then' — advance one, store second (S1 = None, S2 = stores)
    counts: rows per event; hist: per-iteration active-event index
    vectors; S*: per-union-slot lists of per-iteration descriptor vectors
    (None for slots the table does not cover)."""
    sig = (
        tuple(
            (c.name, c.ctype, c.meta, c.nullable, c.signed, c.values,
             c.charset)
            for c in t.columns
        ),
        tuple(columns), mode, "wavefront",
    )
    fn = _DECODER_CACHE.get(sig)
    if fn is not None:
        return fn
    slot = {name: i for i, name in enumerate(columns)}
    covered = [slot[c.name] for c in t.columns if c.name in slot]
    ns: dict = {"np": np, "i64": np.int64}
    L = ["def _wf(buf, starts, ends):"]
    L.append("    cur = starts.copy()")
    L.append("    counts = np.zeros(len(cur), np.int64)")
    L.append("    idx_all = np.arange(len(cur))")
    L.append("    hist = []")

    def declare(prefix: str) -> None:
        for s in covered:
            L.append(f"    {prefix}{s} = []")

    if mode == "single":
        declare("x")
    elif mode == "pair":
        declare("x")
        declare("y")
    else:
        declare("y")
    L.append("    active = cur < ends")
    L.append("    while active.any():")
    L.append("        ai = idx_all[active]")
    L.append("        c = cur[active]")
    if mode == "single":
        L += _wf_image_lines(t, slot, "x", "        ")
    elif mode == "pair":
        L += _wf_image_lines(t, slot, "x", "        ")
        L += _wf_image_lines(t, slot, "y", "        ")
    else:
        L += _wf_image_lines(t, slot, None, "        ")
        L += _wf_image_lines(t, slot, "y", "        ")
    L.append("        counts[ai] += 1")
    L.append("        hist.append(ai)")
    L.append("        cur[active] = c")
    L.append("        active = cur < ends")
    L.append("    if not (cur == ends).all():")
    L.append("        raise ValueError('wavefront row decode desync')")

    def pack(prefix: str, n_slots: int) -> str:
        cells = [
            f"{prefix}{s}" if s in covered else "None"
            for s in range(n_slots)
        ]
        return "[" + ", ".join(cells) + "]"

    n_slots = len(columns)
    if mode == "single":
        L.append(f"    return counts, hist, {pack('x', n_slots)}, None")
    elif mode == "pair":
        L.append(
            f"    return counts, hist, {pack('x', n_slots)}, "
            f"{pack('y', n_slots)}"
        )
    else:
        L.append(f"    return counts, hist, None, {pack('y', n_slots)}")
    exec("\n".join(L), ns)  # noqa: S102 - codegen from trusted schema
    fn = ns["_wf"]
    _DECODER_CACHE[sig] = fn
    return fn


# ------------------------------------------------------------------ decode

def _finish_wavefront(
    np_buf: np.ndarray,
    out: DecodedBatch,
    groups: dict,
    n_included: int,
    before_mode: str,
) -> DecodedBatch:
    """Row decode after the walk: run the compiled wavefront kernels over
    ``_fast_scan``'s (table, etype) groups and scatter the per-iteration
    descriptor vectors into row-order columns."""
    n_slots = len(out.columns)
    counts = np.zeros(n_included, dtype=np.int64)
    results = []
    for t, etype, ev_idx, starts, ends in groups.values():
        if etype == UPDATE_ROWS_V2:
            mode = "pair" if before_mode == "full" else "skip_then"
        else:
            mode = "single"
        fn = _compile_wavefront(t, out.columns, mode)
        g_counts, hist, s1, s2 = fn(np_buf, starts, ends)
        counts[ev_idx] = g_counts
        # map stored images to before/after sides
        if etype == UPDATE_ROWS_V2:
            before_s, after_s = s1, s2  # s1 None in skip_then mode
        elif etype == DELETE_ROWS_V2:
            before_s, after_s = s1, None  # delete image IS the before
        else:
            before_s, after_s = None, s1
        results.append((ev_idx, hist, before_s, after_s))

    base = np.zeros(n_included, dtype=np.int64)
    np.cumsum(counts[:-1], out=base[1:])
    total_rows = int(counts.sum())
    before_cols = [np.full(total_rows, -1, np.int64) for _ in range(n_slots)]
    after_cols = [np.full(total_rows, -1, np.int64) for _ in range(n_slots)]
    for ev_idx, hist, before_s, after_s in results:
        gbase = base[ev_idx]
        for r, ai in enumerate(hist):
            pos = gbase[ai] + r
            for side_s, side_out in ((before_s, before_cols),
                                     (after_s, after_cols)):
                if side_s is None:
                    continue
                for s in range(n_slots):
                    if side_s[s] is not None:
                        side_out[s][pos] = side_s[s][r]
    out.before_cols = before_cols
    out.after_cols = after_cols
    out.ev_cnt = counts.tolist()
    out.n_rows = total_rows
    return out


# ------------------------------------------------------------- frame walk

def _schema_sig(t: TableSchema) -> tuple:
    return (
        t.schema, t.table,
        tuple(
            (c.name, c.ctype, c.meta, c.nullable, c.signed, c.values,
             c.charset)
            for c in t.columns
        ),
    )


def _kinds_from_maps(
    maps: list, include, exclude, col_names: list[str]
) -> dict | None:
    """Per-column ``vector_kind`` of the stored columns over the chunk's
    admitted table maps, or None when the chunk needs the value loops:
    an admitted table is not ``offset_scannable`` for the stored columns,
    or two tables disagree on a shared column's kind (e.g. int width
    across schema versions)."""
    kinds: dict[str, tuple] = {}
    stored = set(col_names)
    for t in maps:
        if not table_admitted(t.schema, t.table, include, exclude):
            continue
        if not offset_scannable(t, stored):
            return None
        for c in t.columns:
            if c.name not in stored:
                continue
            k = vector_kind(c)
            prev = kinds.get(c.name)
            if prev is not None and prev != k:
                return None  # conflicting layouts → value loops
            kinds[c.name] = k
    return kinds


_U32 = struct.Struct("<I").unpack_from
_MIN_FRAME = HEADER_LEN + CRC_LEN


def _fast_scan(
    data: bytes,
    np_buf: np.ndarray,
    out: DecodedBatch,
    include,
    exclude,
    start_pos: int,
    verify_crc: bool,
    resume: dict[str, int] | None,
):
    """The wavefront's one frame walk.  The sequential part is the
    size chain alone (one unpack per frame, plus ``zlib.crc32`` per frame
    under ``verify_crc``, so frame errors surface in stream order); event
    typing, table-id resolution, include/exclude, start_pos, GTID
    attribution and GTID-set resume, bitmap validation and per-event
    metadata are numpy masks and gathers over the collected offsets.

    Returns ``(groups, n_included, kinds)`` with ``out``'s event metadata
    filled, or None when the chunk belongs on the value loops: fewer than
    WAVEFRONT_MIN_ROW_EVENTS row events, 2 GiB or more, a stored column
    without a ``vector_kind``, a table_id remapped mid-chunk, a table of
    251 or more columns, or a row event before its TABLE_MAP.  None is
    only returned after the walk, so every complete frame's size (and
    CRC, if asked) has been checked by then."""
    total = len(data)
    mv = memoryview(data)
    offs_l: list[int] = []
    append = offs_l.append
    u32 = _U32
    crc32 = zlib.crc32
    pos = 4
    last_header = total - HEADER_LEN
    while pos <= last_header:
        size = u32(data, pos + 9)[0]
        if size < _MIN_FRAME:
            # size 0 would stall the walk forever: malformed, not a loop
            raise ValueError(
                f"malformed frame at offset {pos}: header claims {size} "
                f"bytes (minimum is {_MIN_FRAME})"
            )
        if pos + size > total:
            raise TruncatedFrameError(
                f"truncated frame at offset {pos}: header claims {size} "
                f"bytes, {total - pos} remain"
            )
        if verify_crc:
            body_end = pos + size - CRC_LEN
            if crc32(mv[pos:body_end]) != u32(data, body_end)[0]:
                raise CrcMismatchError(f"CRC mismatch at offset {pos}")
        append(pos)
        pos += size

    offs = np.asarray(offs_l, np.int64)
    etypes = np_buf[offs + 4]
    row_mask = (
        (etypes == WRITE_ROWS_V2)
        | (etypes == UPDATE_ROWS_V2)
        | (etypes == DELETE_ROWS_V2)
    )
    if (int(np.count_nonzero(row_mask)) < WAVEFRONT_MIN_ROW_EVENTS
            or total >= 2**31):
        # ≥ 2 GiB: materialize_column addresses the chunk with 31-bit
        # offsets (descriptor high bits, int32 Arrow offsets)
        return None
    out.n_events = len(offs)
    sizes = np_buf[offs + 9].astype(np.int64)
    for k in (10, 11, 12):
        sizes |= np_buf[offs + k].astype(np.int64) << (8 * (k - 9))
    out.n_bytes = int(sizes.sum())

    # table maps, in order (few per chunk)
    maps: list[TableSchema] = []
    tm_by_id: dict[int, TableSchema] = {}
    tm_first_off: dict[int, int] = {}
    for i in np.nonzero(etypes == TABLE_MAP_EVENT)[0].tolist():
        o = int(offs[i])
        t = _parse_table_map(mv[o + HEADER_LEN : o + int(sizes[i]) - CRC_LEN])
        maps.append(t)
        out.tables_seen[(t.schema, t.table)] = t
        prev = tm_by_id.get(t.table_id)
        if prev is None:
            tm_by_id[t.table_id] = t
            tm_first_off[t.table_id] = o
        elif _schema_sig(prev) != _schema_sig(t):
            return None  # mid-chunk remap of one table_id
    kinds = _kinds_from_maps(maps, include, exclude, out.columns)
    if kinds is None:
        return None

    roffs = offs[row_mask]
    rsizes = sizes[row_mask]
    retypes = etypes[row_mask]
    # GTID attribution: a row's txn tag is the last GTID frame before it,
    # unless an XID frame intervened (clears the tag).  One searchsorted
    # over the GTID+XID frames; slot 0 stands for "none before the row".
    gmask = etypes == GTID_EVENT
    cmask = gmask | (etypes == XID_EVENT)
    ctl_is_g = np.concatenate(([False], gmask[cmask]))
    ci = np.searchsorted(offs[cmask], roffs, side="right")
    has_g = ctl_is_g[ci]
    gi = (np.cumsum(ctl_is_g) - 1)[ci]  # index into gstr where has_g
    gstr: list[str] = []
    gskip: list[bool] = []
    for o in offs[gmask].tolist():
        p0 = o + HEADER_LEN
        gno = struct.unpack_from("<q", data, p0 + 17)[0]
        g = format_gtid(bytes(mv[p0 + 1 : p0 + 17]), gno)
        gstr.append(g)
        if resume is not None:
            # GTID-set resume: per-SID threshold on the 36-char uuid
            thr = resume.get(g[:36])
            gskip.append(thr is not None and gno <= thr)

    # start_pos and resume skip before any table lookup, like the
    # sequential walk: a skipped event never needs its TABLE_MAP
    keep = roffs >= start_pos
    if gskip:
        keep &= ~(has_g & np.asarray(gskip)[gi])
    tid = np_buf[roffs + HEADER_LEN].astype(np.int64)
    for k in range(1, 6):
        tid |= np_buf[roffs + HEADER_LEN + k].astype(np.int64) << (8 * k)
    table_of: dict[int, TableSchema] = {}
    for u in np.unique(tid[keep]).tolist():
        t = tm_by_id.get(u)
        if t is None:
            raise ValueError(f"row event for unknown table id {u}")
        first_row = int(roffs[keep & (tid == u)][0])
        if first_row < tm_first_off[u]:
            return None  # row before its TABLE_MAP
        if table_admitted(t.schema, t.table, include, exclude):
            table_of[u] = t
        else:
            keep &= tid != u
    roffs, rsizes, retypes, tid = (
        roffs[keep], rsizes[keep], retypes[keep], tid[keep]
    )
    gi, has_g = gi[keep], has_g[keep]
    n_included = len(roffs)

    out.ev_gtid = [
        gstr[g] if h else None for g, h in zip(gi.tolist(), has_g.tolist())
    ]
    out.ev_pos = roffs.tolist()
    srv = np_buf[roffs + 5].astype(np.int64)
    for k in (6, 7, 8):
        srv |= np_buf[roffs + k].astype(np.int64) << (8 * (k - 5))
    out.ev_server = srv.tolist()
    ts = np_buf[roffs].astype(np.int64)
    for k in (1, 2, 3):
        ts |= np_buf[roffs + k].astype(np.int64) << (8 * k)
    out.ev_ts = ts.tolist()

    # per-(table, etype) groups + constant-string metadata fills
    scode = np.zeros(n_included, np.int32)
    names: list[tuple[str, str, str]] = []
    groups: dict = {}
    for u, t in table_of.items():
        cc = len(t.columns)
        if cc >= 251:
            return None  # multi-byte lenenc column count
        nbb = (cc + 7) // 8
        full = bytes([0xFF] * (nbb - 1)) + bytes(
            [(1 << (cc - 8 * (nbb - 1))) - 1]
        )
        full_np = np.frombuffer(full, np.uint8)
        um = tid == u
        for et in (WRITE_ROWS_V2, UPDATE_ROWS_V2, DELETE_ROWS_V2):
            ev_idx = np.nonzero(um & (retypes == et))[0]
            if not len(ev_idx):
                continue
            goffs_g = roffs[ev_idx]
            # lenenc column count (1 byte, validated) + FULL bitmaps
            assert (
                np_buf[goffs_g + HEADER_LEN + 10] == cc
            ).all(), "row event column count mismatch"
            n_bm = 2 if et == UPDATE_ROWS_V2 else 1
            bm = np_buf[
                goffs_g[:, None]
                + (HEADER_LEN + 11)
                + np.arange(n_bm * nbb)
            ]
            if not (bm == np.tile(full_np, n_bm)).all():
                raise ValueError(
                    f"partial row image in {t.schema}.{t.table} "
                    "(binlog_row_image != FULL is not supported)"
                )
            starts = goffs_g + (HEADER_LEN + 11) + n_bm * nbb
            ends = goffs_g + rsizes[ev_idx] - CRC_LEN
            groups[(id(t), et)] = [t, et, ev_idx, starts, ends]
            scode[ev_idx] = len(names)
            names.append((t.schema, t.table, ACTION_BY_EVENT[et]))
    sc = scode.tolist()
    out.ev_schema = [names[c][0] for c in sc]
    out.ev_table = [names[c][1] for c in sc]
    out.ev_action = [names[c][2] for c in sc]
    return groups, n_included, kinds


def decode_chunk_vectorized(
    data: bytes,
    image_cols: list[str],
    include: set[tuple[str, str]] | None = None,
    exclude: set[tuple[str, str]] | None = None,
    start_pos: int = 0,
    verify_crc: bool = False,
    before_mode: str = "full",
    start_after_gtid: tuple[str, int] | dict[str, int] | None = None,
) -> tuple[DecodedBatch, dict | None]:
    """Decode one chunk on whichever of the two row-decode paths suits
    it; returns ``(batch, kinds)``.

    Wavefront (``kinds`` maps each stored column to its ``vector_kind``):
    the batch's image columns are int64 descriptor arrays for
    ``sources.vector.materialize_column``.  Value loops (``kinds`` is
    None): the batch is ``wire.decode_chunk(text_as_bytes=True)``'s,
    value lists for the Arrow converters (``binlog.image_arrays``
    handles both).  Same rows and metadata either way."""
    assert before_mode in ("full", "delete_only")
    assert data[:4] == MAGIC, "bad binlog magic"
    np_buf = np.frombuffer(data, dtype=np.uint8)
    out = DecodedBatch(image_cols)
    scan = _fast_scan(
        data, np_buf, out, include, exclude, start_pos, verify_crc,
        normalize_gtid_resume(start_after_gtid),
    )
    if scan is None:
        return decode_chunk(
            data, include=include, exclude=exclude, start_pos=start_pos,
            # the walk above already checked every complete frame's CRC
            verify_crc=False, image_cols=image_cols,
            before_mode=before_mode, text_as_bytes=True,
            start_after_gtid=start_after_gtid,
        ), None
    groups, n_included, kinds = scan
    return _finish_wavefront(np_buf, out, groups, n_included,
                             before_mode), kinds

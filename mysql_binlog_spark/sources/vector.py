"""Arrow materialization for the wavefront decode path.

The wavefront (sources/wavefront.py) records each stored value's absolute
byte offset (+ length for varlen) into the chunk buffer as an int64
descriptor — no per-value Python objects.  ``materialize_column`` turns a
descriptor column into an Arrow array with numpy gathers and
``pa.Array.from_buffers``: integers/doubles via one fancy-index gather +
dtype view, TIMESTAMP2 via big-endian byte recombination, strings/binary
via a ragged gather (one cumsum-built index, one take, buffers handed to
Arrow zero-copy).  Value construction and UTF-8 validation run in C.
Which kind each column gets is ``wire.vector_kind``'s, decided per chunk
by the wavefront's frame walk; chunks with types that need per-value
Python (decimals, rendered temporals, ENUM/SET, latin1, FLOAT's reference
rounding quirk) take the compiled value loops instead.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..wire import _frac_nbytes, _FRAC_UNIT


def materialize_column(
    np_buf: np.ndarray,
    kind: tuple | None,
    d: np.ndarray,
    n: int,
    pa_type: pa.DataType,
) -> pa.Array:
    """One column: int64 descriptors ``d`` → Arrow array of ``pa_type``.
    Fixed-width descriptors are absolute byte offsets; varlen pack
    (offset << 32) | length; NULL is -1 (DecodedBatch docstring)."""
    if kind is None:
        # column never appeared in this chunk's included tables
        return pa.nulls(n, pa_type)
    if len(np_buf) >= 2**31:  # the wavefront's walk sends these elsewhere
        raise ValueError("chunk too large for int32 offset materialization")
    valid = d >= 0
    nulls = int(n - int(valid.sum()))
    vbuf = (
        pa.py_buffer(np.packbits(valid, bitorder="little")) if nulls else None
    )
    k = kind[0]
    if k in ("s", "b"):
        oo = np.where(valid, d >> 32, 0).astype(np.int32)
        vl = np.where(valid, d & 0xFFFFFFFF, 0).astype(np.int32)
        total = int(vl.sum())
        offsets = np.zeros(n + 1, dtype=np.int32)
        offsets[1:] = np.cumsum(vl)
        # ragged gather via the delta/cumsum trick (≈2-3x faster than the
        # np.repeat construction): start each value with a jump delta,
        # fill +1 inside values, cumsum → flat source indices
        nz = vl > 0
        vz = vl[nz]
        ozz = oo[nz]
        if total:
            pz = np.empty(len(vz), dtype=np.int32)
            pz[0] = 0
            np.cumsum(vz[:-1], dtype=np.int32, out=pz[1:])
            delta = np.ones(total, dtype=np.int32)
            delta[0] = ozz[0]
            delta[pz[1:]] = ozz[1:] - (ozz[:-1] + vz[:-1] - 1)
            idx = np.cumsum(delta, dtype=np.int32)
            dbuf = np_buf[idx]
        else:
            dbuf = np_buf[:0]
        arr = pa.Array.from_buffers(
            pa_type, n, [vbuf, pa.py_buffer(offsets), pa.py_buffer(dbuf)],
            nulls,
        )
        if k == "s":
            arr.validate(full=True)  # UTF-8 validation in C++
        return arr
    oo = np.where(valid, d, 0)
    if k == "i":
        w, signed = kind[1], kind[2]
        m = np_buf[oo[:, None] + np.arange(w)]
        m = np.ascontiguousarray(m)
        if w == 8:
            vals = m.view("<i8").ravel()  # unsigned u64 never vectorizes
        else:
            wide = np.zeros((len(oo), 8), dtype=np.uint8)
            wide[:, :w] = m
            vals = wide.view("<u8").ravel().astype(np.int64)
            if signed:
                neg = (m[:, w - 1] & 0x80) != 0
                vals = vals - (neg.astype(np.int64) << (8 * w))
        data = vals.astype(np.int32) if pa.types.is_int32(pa_type) else vals
        return pa.Array.from_buffers(
            pa_type, n, [vbuf, pa.py_buffer(np.ascontiguousarray(data))],
            nulls,
        )
    if k == "d":
        m = np_buf[oo[:, None] + np.arange(8)]
        vals = m.view("<f8").ravel()
        return pa.Array.from_buffers(
            pa_type, n, [vbuf, pa.py_buffer(np.ascontiguousarray(vals))],
            nulls,
        )
    if k == "ts":
        fsp = kind[1]
        m = np_buf[oo[:, None] + np.arange(4)].astype(np.int64)
        sec = (m[:, 0] << 24) | (m[:, 1] << 16) | (m[:, 2] << 8) | m[:, 3]
        micro = sec * 1_000_000
        fnb = _frac_nbytes(fsp)
        if fnb:
            f = np_buf[oo[:, None] + 4 + np.arange(fnb)].astype(np.int64)
            frac = f[:, 0]
            for j in range(1, fnb):
                frac = (frac << 8) | f[:, j]
            micro = micro + frac * _FRAC_UNIT[fnb]
        return pa.Array.from_buffers(
            pa_type, n, [vbuf, pa.py_buffer(np.ascontiguousarray(micro))],
            nulls,
        )
    raise ValueError(f"unknown vector kind {kind!r}")  # pragma: no cover

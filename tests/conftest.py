from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_binlog_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("MBS_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mbs-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_frames_match(spark_df, duck_df, name: str = "") -> None:
    """Driver-gate replica: row count + column names + order-insensitive
    value equality (stringified, NaN-normalized)."""
    import pandas as pd

    a = spark_df.toPandas()
    b = duck_df
    assert sorted(a.columns) == sorted(b.columns), (
        f"{name}: columns {sorted(a.columns)} != {sorted(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: rows {len(a)} != {len(b)}"
    cols = sorted(a.columns)

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        out = df[cols].copy()
        for c in cols:
            out[c] = out[c].map(lambda v: "␀" if v is None or v != v else str(v))
        return out.sort_values(cols, kind="mergesort").reset_index(drop=True)

    na, nb = norm(a), norm(b)
    if not na.equals(nb):
        diff = (na != nb).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch\nspark:\n{na[diff].head()}\n"
            f"oracle:\n{nb[diff].head()}"
        )


def wavefront(data: bytes, image_cols: list[str], **kw):
    """The wavefront decode path at any width, tiny test chunks included:
    ``decode_chunk_vectorized`` with its row-event threshold lifted.
    Returns ``(batch, kinds)``; asserts the chunk stayed on the wavefront
    (``kinds`` is None only on the value-loop path)."""
    from unittest import mock

    from mysql_binlog_spark.sources import wavefront as wf

    with mock.patch.object(wf, "WAVEFRONT_MIN_ROW_EVENTS", 0):
        batch, kinds = wf.decode_chunk_vectorized(data, image_cols, **kw)
    assert kinds is not None, "chunk left the wavefront"
    return batch, kinds


def kv_chunk(n_events: int, corrupt: str | None = None) -> bytes:
    """A chunk of ``n_events`` one-row inserts into ``t.kv (k int,
    s varchar)``, every ``s`` = 'hello'.  ``corrupt`` damages the last
    row, then recomputes that frame's CRC so only the row decode can
    tell: 'overrun' makes its VARCHAR length byte claim 7 bytes where 5
    remain; 'utf8' makes its last VARCHAR byte 0xFF."""
    import struct
    import zlib

    from mysql_binlog_spark.wire import (
        TYPE_LONG,
        TYPE_VARCHAR,
        BinlogWriter,
        TableSchema,
        WireColumn,
    )

    t = TableSchema(
        "t", "kv",
        [WireColumn("k", TYPE_LONG, nullable=False),
         WireColumn("s", TYPE_VARCHAR, nullable=False, meta=64)],
        (0,), 7,
    )
    w = BinlogWriter(base_ts=1704067200)
    w.write_table_map(1704067200, t)
    for i in range(n_events):
        w.write_rows(1704067200 + i, t, "insert", [{"k": i, "s": "hello"}])
    start, _, size = w.frames[-1]
    body_end = start + size - 4  # the CRC trailer follows the body
    if corrupt == "overrun":
        w.buf[body_end - 6] = 7  # 'hello' is the last 5 bytes
    elif corrupt == "utf8":
        w.buf[body_end - 1] = 0xFF
    w.buf[body_end:body_end + 4] = struct.pack(
        "<I", zlib.crc32(w.buf[start:body_end]) & 0xFFFFFFFF
    )
    return w.getvalue()

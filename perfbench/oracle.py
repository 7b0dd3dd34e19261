"""Correctness gate: the expected final state of a workload, computed in
DuckDB from the generated change log alone (last writer by LSN per key,
deleted keys dropped), compared with the engine's snapshot by row count
and an order-independent hash.

Both engines fold the same per-row string through md5, so the hash is
engine-independent: bit-xor of the first 60 bits and the sum of the next
28 bits of each row's digest, plus the row count.
"""

from __future__ import annotations

import functools

import duckdb

SEP = "\x1f"
NULL_TOOL = "\x00"

_EXPECTED = """
WITH winners AS (
  SELECT *, row_number() OVER (
           PARTITION BY conv_id, turn_idx ORDER BY log_file DESC, log_pos DESC
         ) AS rn
  FROM read_parquet(?) WHERE log_file <= ?
), live AS (
  SELECT md5(concat_ws(chr(31), conv_id, CAST(turn_idx AS VARCHAR), role,
                       text, coalesce(tool, chr(0)),
                       CAST(epoch_us(ts) AS VARCHAR))) AS h
  FROM winners WHERE rn = 1 AND action <> 'delete'
)
SELECT count(*),
       coalesce(bit_xor(('0x' || substr(h, 1, 15))::BIGINT), 0),
       coalesce(sum(('0x' || substr(h, 16, 7))::BIGINT), 0)
FROM live
"""


@functools.lru_cache(maxsize=None)
def expected(changelog: str, upto_file: str = "binlog.999999") -> tuple:
    """(rows, xor60, sum28) of the live state after every change in
    chunk files up to and including ``upto_file``."""
    con = duckdb.connect()
    try:
        n, x, s = con.execute(_EXPECTED, [changelog, upto_file]).fetchone()
    finally:
        con.close()
    return int(n), int(x), int(s)


def observed(spark, table) -> tuple:
    """The same fold over ``table.snapshot_df`` in Spark."""
    from pyspark.sql import functions as F

    row = F.concat_ws(
        SEP, "conv_id", F.col("turn_idx").cast("string"), "role", "text",
        F.coalesce(F.col("tool"), F.lit(NULL_TOOL)),
        F.unix_micros("ts").cast("string"),
    )
    h = F.md5(row)
    hex_int = lambda pos, n: F.conv(F.substring(h, pos, n), 16, 10).cast("bigint")  # noqa: E731
    r = (
        table.snapshot_df(spark)
        .agg(F.count(F.lit(1)), F.bit_xor(hex_int(1, 15)), F.sum(hex_int(16, 7)))
        .collect()[0]
    )
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)

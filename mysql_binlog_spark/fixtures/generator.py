"""Distributed binlog-chunk fixture generator.

Encodes a decoded change-log DataFrame (the spec derivation, or any frame
with the same columns) into binary binlog chunk files — one Spark task per
chunk via ``applyInPandas`` grouped on ``log_file`` — so fixture generation
itself scales with cores (bench generates ~10⁷-event logs this way).

Frame layout per chunk (FIXTURES.md §3): magic + FORMAT_DESCRIPTION, lazy
TABLE_MAP per (schema, table, schema-version) on first use, BEGIN/XID
transaction framing, periodic HEARTBEATs (decoder must drop them,
EventsIterator.php:153-156), ROTATE trailer on non-final chunks
(EventsIterator.php:326-333), CRC32 everywhere.

Row images: insert/update ``after`` = the changelog row's image columns;
update ``before`` = the key's previous image (computed with a lag window);
delete carries the row's image as its before-image (binlog_row_image=FULL
semantics, RowFactory.php:52-54).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..wire import (
    CHARSET_BINARY,
    CHARSET_LATIN1,
    TYPE_BIT,
    TYPE_BLOB,
    TYPE_DATE,
    TYPE_DATETIME2,
    TYPE_DOUBLE,
    TYPE_ENUM,
    TYPE_FLOAT,
    TYPE_GEOMETRY,
    TYPE_INT24,
    TYPE_JSON,
    TYPE_LONG,
    TYPE_LONGLONG,
    TYPE_NEWDECIMAL,
    TYPE_SET,
    TYPE_SHORT,
    TYPE_TIME2,
    TYPE_TIMESTAMP2,
    TYPE_TINY,
    TYPE_VARCHAR,
    BinlogWriter,
    TableSchema,
    WireColumn,
)
from ..spec import GTID_SID2_HEX, GTID_SID_HEX

# Two source-server SIDs (multi-source topology, spec.py round 6):
# a transaction's SID is xid % 2, its GNO is xid // 2 + 1.
_GTID_SIDS = (bytes.fromhex(GTID_SID_HEX), bytes.fromhex(GTID_SID2_HEX))

IMAGE_COLS_V1 = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
IMAGE_COLS_V2 = IMAGE_COLS_V1 + ["tool_version"]


def transcripts_schema(
    schema: str, table: str, table_id: int, with_tool_version: bool
) -> TableSchema:
    cols = [
        WireColumn("conv_id", TYPE_VARCHAR, nullable=False, meta=64),
        WireColumn("turn_idx", TYPE_LONG, nullable=False),
        WireColumn("role", TYPE_VARCHAR, nullable=False, meta=32),
        WireColumn("text", TYPE_BLOB, nullable=False, meta=2),
        WireColumn("tool", TYPE_VARCHAR, nullable=True, meta=64),
        WireColumn("ts", TYPE_TIMESTAMP2, nullable=False, meta=6),
    ]
    if with_tool_version:
        cols.append(WireColumn("tool_version", TYPE_VARCHAR, nullable=True, meta=32))
    return TableSchema(schema=schema, table=table, columns=cols,
                       primary_key=(0, 1), table_id=table_id)


def _image(row, cols, ts_key: str = "_ts") -> dict:
    """Build a wire image dict; ``ts`` comes pre-vectorized as a
    (sec, micro) tuple under ``ts_key`` (per-row pd.Timestamp conversion
    dominates encode time otherwise)."""
    out = {}
    for c in cols:
        if c == "ts":
            out[c] = row.get(ts_key)
            continue
        v = row.get(c)
        if pd.isna(v):
            out[c] = None
        elif c == "turn_idx":
            out[c] = int(v)
        else:
            out[c] = v
    return out


def _ts_tuples(series: pd.Series) -> list:
    """Vectorized (epoch_sec, micro) pairs; None where NaT."""
    dt = pd.to_datetime(series)
    mask = dt.notna().to_numpy()
    ns = dt.astype("int64").to_numpy()
    sec = ns // 1_000_000_000
    us = (ns % 1_000_000_000) // 1_000
    return [
        (int(s), int(u)) if m else None for s, u, m in zip(sec, us, mask)
    ]


def with_schema_version(changelog: DataFrame) -> DataFrame:
    """Tag each event with the table schema version in force at its LSN:
    v2 starts at the first event carrying a non-NULL ``tool_version``
    (schema evolution is monotone — M5/A4 semantics)."""
    first_evo = (
        changelog.filter(F.col("tool_version").isNotNull())
        .select(F.min(F.struct("log_file", "log_pos")).alias("evo"))
        .collect()[0]["evo"]
    )
    if first_evo is None:
        return changelog.withColumn("schema_version", F.lit(1))
    return changelog.withColumn(
        "schema_version",
        F.when(
            F.struct("log_file", "log_pos")
            >= F.struct(
                F.lit(first_evo["log_file"]).alias("log_file"),
                F.lit(first_evo["log_pos"]).alias("log_pos"),
            ),
            F.lit(2),
        ).otherwise(F.lit(1)),
    )


def with_before_images(changelog: DataFrame) -> DataFrame:
    """Attach per-key previous images (update before-images) via a lag
    window over LSN order — the generator-side analog of the reference's
    two-image update decode (RowFactory.php:171-177)."""
    w = (
        Window.partitionBy("schema_name", "table_name", "conv_id", "turn_idx")
        .orderBy("log_file", "log_pos", "server_id")
    )
    out = changelog
    for c in ["role", "text", "tool", "ts", "tool_version"]:
        out = out.withColumn(f"prev_{c}", F.lag(c).over(w))
    return out


def generate_binlog_chunks(
    changelog: DataFrame,
    out_dir: str,
    rows_per_event: int = 64,
    heartbeat_every: int = 50,
) -> pd.DataFrame:
    """Encode ``changelog`` into ``out_dir/binlog.NNNNNN`` chunk files,
    plain binlog files and nothing beside them: a reader learns each
    chunk's tables from its TABLE_MAP frames, as it would on a real log.

    Returns a pandas frame of per-chunk stats
    (log_file, n_frames, n_rows, n_bytes).
    """
    os.makedirs(out_dir, exist_ok=True)
    files = sorted(
        r["log_file"] for r in changelog.select("log_file").distinct().collect()
    )
    next_file = {f: files[i + 1] for i, f in enumerate(files[:-1])}

    prepped = with_before_images(with_schema_version(changelog))

    def encode_file(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["log_pos", "server_id"]).reset_index(drop=True)
        pdf["_ts"] = _ts_tuples(pdf["ts"])
        if "prev_ts" in pdf.columns:
            pdf["_prev_ts"] = _ts_tuples(pdf["prev_ts"])
        log_file = pdf["log_file"].iloc[0]
        first_ts = pdf["_ts"].iloc[0][0]
        writer = BinlogWriter(server_id=int(pdf["server_id"].iloc[0]),
                              base_ts=first_ts)
        table_ids: dict[tuple, int] = {}
        current_xid = None
        n_rows = 0
        i, n = 0, len(pdf)
        rows_list = pdf.to_dict("records")
        while i < n:
            row = rows_list[i]
            ver = int(row["schema_version"])
            key = (row["schema_name"], row["table_name"], ver)
            # batch consecutive rows sharing table/action/version
            j = i
            batch = []
            while (
                j < n
                and len(batch) < rows_per_event
                and rows_list[j]["schema_name"] == key[0]
                and rows_list[j]["table_name"] == key[1]
                and int(rows_list[j]["schema_version"]) == ver
                and rows_list[j]["action"] == row["action"]
                and rows_list[j]["xid"] == row["xid"]
            ):
                batch.append(rows_list[j])
                j += 1
            ts_sec = row["_ts"][0]
            # Transaction framing FIRST: on a real GTID-enabled server the
            # GTID_LOG_EVENT precedes every event of its transaction,
            # INCLUDING table maps (ADVICE round-5: the old order wrote a
            # first-seen TABLE_MAP before the GTID frame).  SID = xid % 2
            # (two-source topology), GNO = xid // 2 + 1 (1-based,
            # contiguous per SID) — spec.py gtid_expr is the oracle twin.
            if row["xid"] != current_xid:
                if current_xid is not None:
                    writer.write_xid(ts_sec, int(current_xid))
                xid_i = int(row["xid"])
                writer.write_gtid(
                    ts_sec, _GTID_SIDS[xid_i % 2], xid_i // 2 + 1
                )
                writer.write_query(ts_sec, row["schema_name"], "BEGIN")
                current_xid = row["xid"]
            if key not in table_ids:
                table_ids[key] = 100 + len(table_ids)
                tschema = transcripts_schema(key[0], key[1], table_ids[key], ver >= 2)
                writer.write_table_map(ts_sec, tschema)
            tschema = transcripts_schema(key[0], key[1], table_ids[key], ver >= 2)
            img_cols = IMAGE_COLS_V2 if ver >= 2 else IMAGE_COLS_V1
            writer.server_id = int(row["server_id"])
            action = row["action"]
            images = [_image(r, img_cols) for r in batch]
            if action == "update":
                befores = [
                    _image(
                        {
                            "conv_id": r["conv_id"],
                            "turn_idx": r["turn_idx"],
                            "role": r.get("prev_role"),
                            "text": r.get("prev_text"),
                            "tool": r.get("prev_tool"),
                            "_ts": r.get("_prev_ts"),
                            "tool_version": r.get("prev_tool_version"),
                        },
                        img_cols,
                    )
                    for r in batch
                ]
                writer.write_rows(ts_sec, tschema, action, images, befores)
            else:
                writer.write_rows(ts_sec, tschema, action, images)
            n_rows += len(batch)
            if writer.n_row_events % heartbeat_every == 0:
                writer.write_heartbeat(log_file)
            i = j
        if current_xid is not None:
            writer.write_xid(first_ts, int(current_xid))
        nxt = next_file.get(log_file)
        if nxt is not None:
            writer.write_rotate(nxt)
        data = writer.getvalue()
        path = os.path.join(out_dir, log_file)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, path)
        return pd.DataFrame(
            [
                {
                    "log_file": log_file,
                    "n_frames": len(writer.frames),
                    "n_rows": n_rows,
                    "n_bytes": len(data),
                }
            ]
        )

    stats = (
        prepped.repartition("log_file")
        .groupBy("log_file")
        .applyInPandas(
            encode_file,
            schema="log_file string, n_frames long, n_rows long, n_bytes long",
        )
        .toPandas()
        .sort_values("log_file")
        .reset_index(drop=True)
    )
    return stats


# ------------------------------------------------------- 16-type fixture

TYPED_TS_BASE = 1704067200  # 2024-01-01T00:00:00Z


def typed_schema(table_id: int = 200) -> TableSchema:
    """One table exercising every wire type the reference decodes
    (RowFactory.php:72-165), including both LONGLONG signednesses, a
    BINARY-collation BLOB with a 3-byte length prefix, JSON/GEOMETRY
    columns through the BLOB fold (ColumnMetadataFactory.php:59-62), and
    a latin1 VARCHAR (Windows-1252 conversion, Collation.php:984-1001)."""
    return TableSchema(
        "app", "typed",
        [
            WireColumn("row_id", TYPE_LONGLONG, nullable=False),
            WireColumn("c_tiny", TYPE_TINY),
            WireColumn("c_utiny", TYPE_TINY, signed=False),
            WireColumn("c_short", TYPE_SHORT),
            WireColumn("c_int24", TYPE_INT24),
            WireColumn("c_long", TYPE_LONG),
            WireColumn("c_big", TYPE_LONGLONG),
            WireColumn("c_ubig", TYPE_LONGLONG, signed=False),
            WireColumn("c_float", TYPE_FLOAT, meta=4),
            WireColumn("c_double", TYPE_DOUBLE, meta=8),
            WireColumn("c_dec", TYPE_NEWDECIMAL, meta=(12 << 8) | 3),
            WireColumn("c_date", TYPE_DATE),
            WireColumn("c_dt", TYPE_DATETIME2, meta=3),
            WireColumn("c_time", TYPE_TIME2, meta=2),
            WireColumn("c_ts", TYPE_TIMESTAMP2, nullable=False, meta=4),
            WireColumn("c_bit", TYPE_BIT, meta=8),
            WireColumn("c_enum", TYPE_ENUM, values=("alpha", "beta", "gamma")),
            WireColumn("c_set", TYPE_SET, values=("x", "y", "z")),
            WireColumn("c_varchar", TYPE_VARCHAR, meta=300),
            WireColumn("c_blob", TYPE_BLOB, meta=2),
            WireColumn("c_bin", TYPE_BLOB, meta=3, charset=CHARSET_BINARY),
            WireColumn("c_json", TYPE_JSON, meta=4),
            WireColumn("c_geom", TYPE_GEOMETRY, meta=4),
            WireColumn("c_latin1", TYPE_VARCHAR, meta=40,
                       charset=CHARSET_LATIN1),
        ],
        primary_key=(0,), table_id=table_id,
    )


def typed_image_cols() -> list[tuple[str, str]]:
    """(name, spark type) pairs for read_binlog over the typed table."""
    from ..sources.binlog import spark_type_of

    return [(c.name, spark_type_of(c)) for c in typed_schema().columns]


def generate_typed_chunks(
    typed_rows: DataFrame, out_dir: str, rows_per_event: int = 64
) -> pd.DataFrame:
    """Encode spec.typed_rows_sql output into binary chunks (insert-only,
    one Spark task per chunk file)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = [c.name for c in typed_schema().columns]

    def encode_file(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_id").reset_index(drop=True)
        log_file = pdf["log_file"].iloc[0]
        writer = BinlogWriter(server_id=1, base_ts=TYPED_TS_BASE)
        t = typed_schema()
        writer.write_table_map(TYPED_TS_BASE, t)
        rows_list = pdf.to_dict("records")
        for i in range(0, len(rows_list), rows_per_event):
            batch = []
            for r in rows_list[i : i + rows_per_event]:
                e = int(r["row_id"])
                img = {}
                for c in cols:
                    if c == "c_ts":
                        img[c] = (TYPED_TS_BASE + e, (e % 10000) * 100)
                        continue
                    v = r.get(c)
                    if v is None or (isinstance(v, float) and v != v):
                        img[c] = None
                    elif isinstance(v, (bytes, bytearray)):
                        img[c] = bytes(v)  # c_bin / c_geom binary payloads
                    elif c == "c_ubig":
                        img[c] = int(v)
                    else:
                        img[c] = v
                batch.append(img)
            writer.write_rows(TYPED_TS_BASE, t, "insert", batch)
        data = writer.getvalue()
        path = os.path.join(out_dir, log_file)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, path)
        return pd.DataFrame(
            [{"log_file": log_file, "n_frames": len(writer.frames),
              "n_rows": len(pdf), "n_bytes": len(data)}]
        )

    return (
        typed_rows.repartition("log_file")
        .groupBy("log_file")
        .applyInPandas(
            encode_file,
            schema="log_file string, n_frames long, n_rows long, n_bytes long",
        )
        .toPandas()
        .sort_values("log_file")
        .reset_index(drop=True)
    )

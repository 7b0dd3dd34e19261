"""Driver-contract query implementations (__spark_entry__.py backend).

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame whose
rows must hash-equal the paired DuckDB oracle SQL (oracle_*).  The CDC
change log is derived deterministically from the driver's ``events`` table
(mysql_binlog_spark.spec — one SQL template, two dialects), so the oracle
can recompute every result from the raw parquet.

The Spark side intentionally does NOT run the same SQL: it exercises the
engine's own operators (decode source, dedup, max_by last-writer, salted
two-phase, lake merge) so the parity check is a real correctness gate for
the implementation, not a tautology.
"""

from __future__ import annotations

import fnmatch
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import spec
from .fixtures.generator import generate_binlog_chunks
from .operators.apply import (
    dedup_lsn,
    filter_start_lsn,
    filter_tables,
    final_state,
    last_writer,
    salted_last_writer,
)
from .sources.binlog import CHUNK_GLOB, image_view, read_binlog
from .streaming.replay import replay_batch
from .table import LakeTable

IMAGE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_version"]
PAYLOAD_COLS = ["role", "text", "tool", "ts", "tool_version"]
KEY_COLS = ["conv_id", "turn_idx"]
FINAL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_version", "ts"]


def _transcripts_lake(
    prefix: str, n_buckets: int = 16, bucket_hash: str = "xxhash64"
) -> LakeTable:
    """An empty lake for the replayed transcripts (key + payload, without
    ``tool_version``, which schema evolution adds) in a fresh temporary
    directory."""
    return LakeTable.create(
        tempfile.mkdtemp(prefix=prefix),
        columns=[
            ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
            ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
        ],
        key_cols=KEY_COLS, n_buckets=n_buckets, bucket_hash=bucket_hash,
    )


def _events(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView(
        "events"
    )


def changelog_df(spark: SparkSession, sf_dir: str, with_duplicates: bool = True) -> DataFrame:
    _events(spark, sf_dir)
    return spark.sql(spec.changelog_sql("spark", with_duplicates=with_duplicates))


# ---------------------------------------------------------------- CDC (spec)


def q_cdc_changelog(spark, sf_dir):
    return changelog_df(spark, sf_dir)


def q_cdc_dedup_lsn(spark, sf_dir):
    return dedup_lsn(changelog_df(spark, sf_dir))


def _winners(spark, sf_dir, salted: bool):
    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)), include=[("app", "transcripts")]
    )
    fn = salted_last_writer if salted else last_writer
    w = fn(df, key_cols=KEY_COLS, payload_cols=PAYLOAD_COLS)
    return w.select(
        "conv_id", "turn_idx", "action", "role", "text", "tool",
        "tool_version", "ts", "log_file", "log_pos",
    )


def q_cdc_last_writer(spark, sf_dir):
    return _winners(spark, sf_dir, salted=False)


def q_cdc_salted_last_writer(spark, sf_dir):
    return _winners(spark, sf_dir, salted=True)


def q_cdc_final_state(spark, sf_dir):
    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)), include=[("app", "transcripts")]
    )
    w = last_writer(df, key_cols=KEY_COLS, payload_cols=PAYLOAD_COLS)
    return final_state(w, PAYLOAD_COLS, KEY_COLS).select(*FINAL_COLS)


def q_cdc_stats_by_table(spark, sf_dir):
    df = dedup_lsn(changelog_df(spark, sf_dir))
    return df.groupBy("schema_name", "table_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("log_file").alias("n_files"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min("log_pos").alias("min_pos"),
        F.max("log_pos").alias("max_pos"),
    )


def q_cdc_stats_interval(spark, sf_dir):
    df = dedup_lsn(changelog_df(spark, sf_dir))
    return df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("action") == "insert", 1).otherwise(0)).alias("n_inserts"),
        F.sum(F.when(F.col("action") == "update", 1).otherwise(0)).alias("n_updates"),
        F.sum(F.when(F.col("action") == "delete", 1).otherwise(0)).alias("n_deletes"),
    )


def q_cdc_stats_rollup(spark, sf_dir):
    """Multi-level stats in one pass: ROLLUP(schema_name, table_name)
    gives per-table, per-schema, and grand-total rows with a single
    shuffle + map-side partial aggregation — never three separate
    aggregation jobs unioned.  grouping_id() disambiguates NULL group
    values from NULL subtotal markers."""
    df = dedup_lsn(changelog_df(spark, sf_dir))
    return df.rollup("schema_name", "table_name").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("text")).alias("text_chars"),
    ).select("schema_name", "table_name", "gid", "n_rows", "text_chars")


def oracle_cdc_stats_rollup():
    return _over_dedup(
        """
        SELECT schema_name, table_name,
               CAST(GROUPING(schema_name, table_name) AS INT) AS gid,
               COUNT(*) AS n_rows,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars
        FROM dedup GROUP BY ROLLUP(schema_name, table_name)
        """
    )


def q_cdc_validate(spark, sf_dir):
    """Write-audit-publish gate: per-rule constraint-violation counts
    over the deduped changelog in one aggregation pass
    (operators/apply.validate_changelog)."""
    from .operators.apply import validate_changelog

    return validate_changelog(dedup_lsn(changelog_df(spark, sf_dir)))


def oracle_cdc_validate():
    from .operators.apply import validate_changelog_sql

    # chains its own _audit CTE onto the dedup WITH (no nested WITH)
    return (
        f"WITH dedup AS ({spec.dedup_sql('duckdb')})"
        + validate_changelog_sql(rel="dedup")
    )


def q_cdc_lineage(spark, sf_dir):
    df = dedup_lsn(changelog_df(spark, sf_dir))
    return df.groupBy("log_file").agg(
        F.min("log_pos").alias("min_pos"),
        F.max("log_pos").alias("max_pos"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("conv_id", "turn_idx").alias("n_keys"),
    )


def q_cdc_filter_tables(spark, sf_dir):
    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)),
        include=[("app", "transcripts")],
    )
    return df.groupBy("action").agg(F.count(F.lit(1)).alias("n_rows"))


def q_cdc_filter_databases(spark, sf_dir):
    """Database-level include (reference Config ``databases``,
    EventsIterator.php:103-113): admit every table of schema 'app'
    without naming tables — exercises the bare-string filter entries."""
    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)),
        include=["app"],
    )
    return df.groupBy("schema_name", "table_name").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def q_cdc_start_position(spark, sf_dir):
    df = filter_start_lsn(
        dedup_lsn(changelog_df(spark, sf_dir)), ("binlog.000002", 4 + 500 * 128)
    )
    return df.groupBy("log_file").agg(
        F.count(F.lit(1)).alias("n_rows"), F.min("log_pos").alias("min_pos")
    )


def q_cdc_turn_ordering(spark, sf_dir):
    fs = q_cdc_final_state(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return fs.select(
        "conv_id",
        "turn_idx",
        F.row_number().over(w).alias("turn_rank"),
        F.lag("turn_idx").over(w).alias("prev_turn_idx"),
        "text",
    )


def _lsn_ord() -> F.Column:
    """One sortable bigint per LSN: file number · 2^20 + log_pos (log_pos
    is bounded by EVENTS_PER_FILE · stride ≪ 2^20)."""
    file_no = F.substring("log_file", 8, 6).cast("int")
    return (file_no.cast("bigint") * F.lit(1 << 20) + F.col("log_pos")).cast(
        "bigint"
    )


ASOF_PROBE_XID_MOD = 9  # xid % 9 == 4 rows become probes (~11%)


def q_cdc_asof_lookup(spark, sf_dir):
    """Point-in-time state lookup: for sampled probe positions, the latest
    change at (conv_id, probed turn) with LSN <= the probe's LSN — the
    as-of join (operators/asof.py) the oracle cross-checks with DuckDB's
    native ASOF LEFT JOIN."""
    from .operators.asof import asof_join

    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)), include=[("app", "transcripts")]
    )
    states = df.select(
        "conv_id", "turn_idx", _lsn_ord().alias("ord"), "action", "role", "text"
    )
    probes = df.where(F.col("xid") % ASOF_PROBE_XID_MOD == 4).select(
        "conv_id",
        ((F.col("turn_idx") * 7 + 3) % spec.N_TURNS).cast("int").alias("turn_idx"),
        _lsn_ord().alias("ord"),
    )
    return asof_join(
        probes, states, ["conv_id", "turn_idx"], "ord", ["action", "role", "text"]
    )


def q_cdc_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type-2 view of the transcripts changelog:
    one row per surviving version of each (conv_id, turn_idx) with
    [valid_from, valid_to) LSN intervals and an is_current flag — the
    warehouse "time travel by key" format (operators/apply.scd2_history).
    A delete closes the previous version without emitting a row."""
    from .operators.apply import scd2_history

    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)), include=[("app", "transcripts")]
    ).withColumn("ord", _lsn_ord())
    return scd2_history(
        df, KEY_COLS, "ord", ["role", "text"]
    )


def oracle_cdc_scd2_history():
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}),
    base AS (
      SELECT conv_id, turn_idx, {_ASOF_ORD_SQL} AS ord, action, role, text
      FROM dedup
      WHERE schema_name = 'app' AND table_name = 'transcripts'
    ),
    led AS (
      SELECT *,
             LEAD(ord) OVER (PARTITION BY conv_id, turn_idx ORDER BY ord)
               AS valid_to
      FROM base
    )
    SELECT conv_id, turn_idx, ord AS valid_from, valid_to,
           valid_to IS NULL AS is_current, action, role, text
    FROM led WHERE action <> 'delete'
    """


# Time-travel cut: "state as of the middle of binlog.000002".
TT_LSN = ("binlog.000002", 4 + 1250 * 128)


def q_cdc_time_travel(spark, sf_dir):
    """Point-in-time table reconstruction: the transcripts state as of a
    mid-log LSN — changes after the cut never reach the last-writer
    reduce (filter_until_lsn is a pure partition-prunable predicate, so
    on a file-partitioned log every later file is skipped at the scan).
    The consumer-facing dual of scd2_history: the same answer falls out
    of the version intervals (valid_from <= cut < valid_to), which a
    test cross-checks."""
    from .operators.apply import filter_until_lsn

    df = filter_until_lsn(
        filter_tables(
            dedup_lsn(changelog_df(spark, sf_dir)),
            include=[("app", "transcripts")],
        ),
        TT_LSN,
    )
    w = last_writer(df, key_cols=KEY_COLS, payload_cols=PAYLOAD_COLS)
    return final_state(w, PAYLOAD_COLS, KEY_COLS).select(*FINAL_COLS)


def oracle_cdc_time_travel():
    f, p = TT_LSN
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}),
    upto AS (
      SELECT * FROM dedup
      WHERE schema_name = 'app' AND table_name = 'transcripts'
        AND (log_file < '{f}' OR (log_file = '{f}' AND log_pos <= {p}))
    ),
    ranked AS (
      SELECT u.*,
             ROW_NUMBER() OVER (
               PARTITION BY conv_id, turn_idx
               ORDER BY log_file DESC, log_pos DESC, server_id DESC) AS rn
      FROM upto u
    )
    SELECT conv_id, turn_idx, role, text, tool, tool_version, ts
    FROM ranked WHERE rn = 1 AND action <> 'delete'
    """


# Diff window: cut A = the time-travel cut, cut B = the middle of
# binlog.000004.
DIFF_LSN_B = ("binlog.000004", 4 + 1250 * 128)


def _ord_of(lsn: tuple[str, int]) -> int:
    return (int(lsn[0][7:]) << 20) + lsn[1]


def q_cdc_snapshot_diff(spark, sf_dir):
    """What changed between two positions: added/removed/changed keys
    with old (as-of A) and new (as-of B) payloads, computed in ONE
    aggregation pass via conditional max_by — never a join of two
    time-travel snapshots (operators/apply.snapshot_diff).  The oracle
    deliberately IS the naive two-snapshot full-outer join, as an
    independent algorithm."""
    from .operators.apply import snapshot_diff

    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)),
        include=[("app", "transcripts")],
    ).withColumn("ord", _lsn_ord())
    return snapshot_diff(
        df, KEY_COLS, "ord", ["role", "text"],
        _ord_of(TT_LSN), _ord_of(DIFF_LSN_B),
    )


def oracle_cdc_snapshot_diff():
    a, b = _ord_of(TT_LSN), _ord_of(DIFF_LSN_B)
    snap = """
      SELECT conv_id, turn_idx, action, role, text FROM (
        SELECT t.*, ROW_NUMBER() OVER (
          PARTITION BY conv_id, turn_idx ORDER BY ord DESC) AS rn
        FROM txn t WHERE ord <= {cut}
      ) WHERE rn = 1
    """
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}),
    txn AS (
      SELECT conv_id, turn_idx, action, role, text,
             {_ASOF_ORD_SQL} AS ord
      FROM dedup
      WHERE schema_name = 'app' AND table_name = 'transcripts'
    ),
    sa AS ({snap.format(cut=a)}),
    sb AS ({snap.format(cut=b)}),
    j AS (
      SELECT COALESCE(sa.conv_id, sb.conv_id) AS conv_id,
             COALESCE(sa.turn_idx, sb.turn_idx) AS turn_idx,
             (sa.conv_id IS NOT NULL AND sa.action <> 'delete') AS ea,
             (sb.conv_id IS NOT NULL AND sb.action <> 'delete') AS eb,
             sa.role AS a_role, sa.text AS a_text,
             sb.role AS b_role, sb.text AS b_text
      FROM sa FULL OUTER JOIN sb
        ON sa.conv_id = sb.conv_id AND sa.turn_idx = sb.turn_idx
    )
    SELECT conv_id, turn_idx,
           CASE WHEN NOT ea AND eb THEN 'added'
                WHEN ea AND NOT eb THEN 'removed'
                ELSE 'changed' END AS change,
           CASE WHEN ea THEN a_role END AS old_role,
           CASE WHEN ea THEN a_text END AS old_text,
           CASE WHEN eb THEN b_role END AS new_role,
           CASE WHEN eb THEN b_text END AS new_text
    FROM j
    WHERE (ea OR eb)
      AND NOT (ea AND eb AND (a_role, a_text) IS NOT DISTINCT FROM
                             (b_role, b_text))
    """


# --------------------------------------------------- CDC (binary round-trip)


def binlog_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Generate (once, cached) the binary binlog chunks for sf_dir's derived
    changelog.  Encoding runs distributed (one task per chunk)."""
    tag = hashlib.sha1(
        f"{sf_dir}:epf={spec.EVENTS_PER_FILE}:v6".encode()  # v6: 2-SID GTID
    ).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), "mbs_fixtures", tag)
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    changelog = changelog_df(spark, sf_dir, with_duplicates=False)
    generate_binlog_chunks(changelog, out)
    with open(marker, "w") as f:
        f.write("ok")
    return out


def decoded_binary_df(
    spark, sf_dir, include=None, start_after_gtid=None
) -> DataFrame:
    chunks = binlog_fixture_dir(spark, sf_dir)
    return read_binlog(
        spark,
        os.path.join(chunks, CHUNK_GLOB),
        image_cols=[
            ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
            ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
            ("tool_version", "string"),
        ],
        include=include,
        start_after_gtid=start_after_gtid,
    )


def q_cdc_decode_binary(spark, sf_dir):
    """Full wire round-trip: derived changelog → binary chunks → vectorized
    decode → row images.  The oracle recomputes the same rows from SQL; the
    join key is (log_file, within-file sequence)."""
    dec = decoded_binary_df(spark, sf_dir)
    dec = image_view(dec, IMAGE_COLS)
    w = Window.partitionBy("log_file").orderBy("log_pos", "batch_seq")
    return dec.select(
        "log_file",
        F.row_number().over(w).alias("seq"),
        "schema_name", "table_name", "action",
        "conv_id", "turn_idx", "role", "text", "tool", "tool_version", "ts",
    )


def q_cdc_gtid_lineage(spark, sf_dir):
    """GTID transaction lineage through the binary decode path: every
    decoded row event carries its enclosing transaction's GTID (SID uuid
    + ':' + GNO), parsed from the GTID_LOG_EVENT control frame.  Beyond-
    parity superset — the reference skips GTID frames (EventsIterator.
    php:244-253) — but resume-by-GTID is the modern CDC consumer
    contract.  The oracle recomputes the same text from the fixture
    spec's xid ↔ GNO mapping (spec.gtid_expr)."""
    dec = decoded_binary_df(spark, sf_dir)
    w = Window.partitionBy("log_file").orderBy("log_pos", "batch_seq")
    return dec.select(
        "log_file",
        F.row_number().over(w).alias("seq"),
        "gtid",
    )


def oracle_cdc_gtid_lineage():
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')})
    SELECT log_file,
           ROW_NUMBER() OVER (
             PARTITION BY log_file ORDER BY log_pos, server_id) AS seq,
           {spec.gtid_expr('duckdb', 'xid')} AS gtid
    FROM dedup
    """


def _resume_gno(spark: SparkSession) -> int:
    """Mid-log GTID resume point, derived the same way in Spark and the
    oracle.  With the two-SID scheme (spec.py: sid = xid % 2,
    gno = xid // 2 + 1; xid = event_id div 10) each SID's GNOs run
    1..max_xid//2+1 — the resume threshold is half of that range."""
    m = spark.sql("SELECT max(event_id) AS m FROM events").first()["m"]
    return (((int(m) // 10) // 2) + 1) // 2


# DuckDB twin of _resume_gno (threshold for SID A = GTID_UUID)
_GNO_THR = "((((SELECT MAX(event_id) FROM events) // 10) // 2 + 1) // 2)"


def q_cdc_gtid_resume(spark, sf_dir):
    """Resume-by-GTID, single SID on a MULTI-SID log: decode skipping
    every transaction of SID A with GNO ≤ the mid-log resume point —
    transactions of SID B are unaffected (the modern CDC consumer
    contract; beyond parity: the reference resumes only by
    file+position).  The skip is pushed into both decode kernels before
    row decode; the oracle keeps exactly the rows whose xid-derived
    (sid, gno) clears the threshold."""
    _events(spark, sf_dir)
    gno = _resume_gno(spark)
    dec = decoded_binary_df(
        spark, sf_dir, start_after_gtid=(spec.GTID_UUID, gno)
    )
    dec = image_view(dec, IMAGE_COLS)
    w = Window.partitionBy("log_file").orderBy("log_pos", "batch_seq")
    return dec.select(
        "log_file",
        F.row_number().over(w).alias("seq"),
        "gtid", "conv_id", "turn_idx",
    )


def oracle_cdc_gtid_resume():
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')})
    SELECT log_file,
           ROW_NUMBER() OVER (
             PARTITION BY log_file ORDER BY log_pos, server_id) AS seq,
           {spec.gtid_expr('duckdb', 'xid')} AS gtid,
           conv_id, turn_idx
    FROM dedup
    WHERE NOT (xid % 2 = 0 AND {spec.gtid_gno_expr('duckdb', 'xid')}
               <= {_GNO_THR})
    """


def q_cdc_gtid_set_resume(spark, sf_dir):
    """Resume by GTID SET (round 6): per-SID thresholds — SID A resumes
    at the mid-log point, SID B at half that — exactly the multi-source
    replication contract a single (sid, gno) cannot express.  Both
    kernels take the ``{sid: gno}`` dict and skip whole transactions
    before row decode.  The CLI form is 'sidA:gnoA,sidB:gnoB'
    (scripts/replay.py)."""
    _events(spark, sf_dir)
    gno_a = _resume_gno(spark)
    dec = decoded_binary_df(
        spark, sf_dir,
        # SID A given UPPERCASE on purpose: normalize_gtid_resume must
        # case-fold it (ADVICE round-5)
        start_after_gtid={
            spec.GTID_UUID.upper(): gno_a,
            spec.GTID_UUID2: gno_a // 2,
        },
    )
    dec = image_view(dec, IMAGE_COLS)
    w = Window.partitionBy("log_file").orderBy("log_pos", "batch_seq")
    return dec.select(
        "log_file",
        F.row_number().over(w).alias("seq"),
        "gtid", "conv_id", "turn_idx",
    )


def oracle_cdc_gtid_set_resume():
    gno = spec.gtid_gno_expr("duckdb", "xid")
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')})
    SELECT log_file,
           ROW_NUMBER() OVER (
             PARTITION BY log_file ORDER BY log_pos, server_id) AS seq,
           {spec.gtid_expr('duckdb', 'xid')} AS gtid,
           conv_id, turn_idx
    FROM dedup
    WHERE CASE WHEN xid % 2 = 0 THEN {gno} > {_GNO_THR}
               ELSE {gno} > ({_GNO_THR} // 2) END
    """


def typed_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Generate (once, cached) the 16-type binary chunks for sf_dir."""
    from .fixtures.generator import generate_typed_chunks

    tag = hashlib.sha1(f"{sf_dir}:typed:v2".encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), "mbs_fixtures", tag)
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    _events(spark, sf_dir)
    typed = spark.sql(spec.typed_rows_sql("spark"))
    generate_typed_chunks(typed, out)
    with open(marker, "w") as f:
        f.write("ok")
    return out


TYPED_OUT_COLS = [
    "c_tiny", "c_utiny", "c_short", "c_int24", "c_long", "c_big", "c_ubig",
    "c_float", "c_double", "c_dec", "c_date", "c_dt", "c_time", "c_ts",
    "c_bit", "c_enum", "c_set", "c_varchar", "c_blob", "c_bin",
    "c_json", "c_geom", "c_latin1",
]
HEX_OUT_COLS = {"c_bin", "c_json", "c_geom"}  # binary → hex for the compare


def q_cdc_decode_types(spark, sf_dir):
    """Every reference wire type through the DataFrame source (VERDICT
    round-1 #1 + round-2 #1): TINY..LONGLONG±, FLOAT/DOUBLE,
    NEWDECIMAL→DecimalType, DATE→DateType (zero-date→NULL),
    DATETIME2/TIME2/BIT/ENUM/SET strings, TIMESTAMP2(fsp)→timestamp,
    unsigned BIGINT→DecimalType(20,0), a BINARY-collation
    BLOB→BinaryType, JSON/GEOMETRY columns through the BLOB fold
    (→BinaryType, ColumnMetadataFactory.php:59-62), and a latin1 VARCHAR
    (Windows-1252 conversion, Collation.php:984-1001).  The plan carries
    the native types; only the final projection canonicalizes
    decimal/date→string and binary→hex because pandas reprs differ across
    engines (the native schema is pinned by tests/test_typed_source.py)."""
    from .fixtures.generator import typed_image_cols

    chunks = typed_fixture_dir(spark, sf_dir)
    dec = read_binlog(
        spark,
        os.path.join(chunks, "typed.*[0-9]"),
        image_cols=typed_image_cols(),
    )
    img = image_view(dec, [n for n, _ in typed_image_cols()])
    return img.select(
        F.col("row_id").cast("bigint").alias("row_id"),
        *[
            F.hex(c).alias(c) if c in HEX_OUT_COLS
            else F.col(c).cast("string").alias(c)
            if c in ("c_ubig", "c_dec", "c_date")
            else F.col(c)
            for c in TYPED_OUT_COLS
        ],
    )


def oracle_cdc_decode_types():
    return f"""
    WITH typed AS ({spec.typed_rows_sql('duckdb')})
    SELECT row_id,
           c_tiny, c_utiny, c_short, c_int24, c_long, c_big,
           CAST(c_ubig AS VARCHAR) AS c_ubig,
           c_float, c_double,
           c_dec,
           CASE WHEN c_date = '0000-00-00' THEN NULL ELSE c_date END AS c_date,
           c_dt, c_time,
           make_timestamp((1704067200 + row_id) * 1000000
                          + (row_id % 10000) * 100) AS c_ts,
           c_bit, c_enum, c_set, c_varchar, c_blob,
           hex(c_bin) AS c_bin,
           hex(encode(c_json)) AS c_json,
           hex(c_geom) AS c_geom,
           c_latin1
    FROM typed
    """


def q_cdc_apply_e2e(spark, sf_dir):
    """End-to-end engine run: binary chunks → decode → filter → dedup →
    last-writer → mini-lake MERGE epochs (schema evolution + exactly-once
    commits) → final snapshot."""
    chunks = binlog_fixture_dir(spark, sf_dir)
    table = _transcripts_lake("mbs_lake_")
    replay_batch(
        spark, chunks, table, include=[("app", "transcripts")], files_per_epoch=2
    )
    return table.snapshot_df(spark).select(*FINAL_COLS)


def q_cdc_schema_evolution(spark, sf_dir):
    """A4 under the oracle gate (round-3 verdict #3): the lake is created
    at the v1 schema (no tool_version); TABLE_MAPs carry the column only
    from the evolution event onward, so the replay must detect the ADD
    COLUMN, bump the schema version, and NULL-backfill keys whose last
    writer predates it.  Returns the evolved snapshot's
    (key, tool_version) plus the table's schema version; the oracle
    applies the same ADD COLUMN + backfill-NULL semantics in SQL."""
    chunks = binlog_fixture_dir(spark, sf_dir)
    table = _transcripts_lake("mbs_lake_evo_")
    replay_batch(
        spark, chunks, table, include=[("app", "transcripts")],
        files_per_epoch=2,
    )
    ver = int(table.schema_doc()["version"])
    return table.snapshot_df(spark).select(
        "conv_id", "turn_idx", "tool_version",
        F.lit(ver).alias("schema_version"),
    )


def q_entry(spark: SparkSession) -> DataFrame:
    return q_cdc_apply_e2e(spark, "/root/testdata/sf0.001")


# ------------------------------------------------------------------ oracles


def oracle_cdc_changelog():
    return spec.changelog_sql("duckdb")


def oracle_cdc_dedup_lsn():
    return spec.dedup_sql("duckdb")


def oracle_cdc_last_writer():
    return spec.last_writer_sql("duckdb")


def oracle_cdc_final_state():
    return spec.final_state_sql("duckdb")


def _over_dedup(agg_sql: str) -> str:
    return f"WITH dedup AS ({spec.dedup_sql('duckdb')}) {agg_sql}"


def oracle_cdc_stats_by_table():
    return _over_dedup(
        """
        SELECT schema_name, table_name,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT log_file) AS n_files,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars,
               MIN(log_pos) AS min_pos, MAX(log_pos) AS max_pos
        FROM dedup GROUP BY schema_name, table_name
        """
    )


def oracle_cdc_stats_interval():
    return _over_dedup(
        """
        SELECT date_trunc('hour', ts) AS bucket_ts,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN action='insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
               CAST(SUM(CASE WHEN action='update' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
               CAST(SUM(CASE WHEN action='delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
        FROM dedup GROUP BY 1
        """
    )


def oracle_cdc_lineage():
    return _over_dedup(
        """
        SELECT log_file, MIN(log_pos) AS min_pos, MAX(log_pos) AS max_pos,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT (conv_id, turn_idx)) AS n_keys
        FROM dedup GROUP BY log_file
        """
    )


def oracle_cdc_filter_tables():
    return _over_dedup(
        """
        SELECT action, COUNT(*) AS n_rows FROM dedup
        WHERE schema_name='app' AND table_name='transcripts'
        GROUP BY action
        """
    )


def oracle_cdc_filter_databases():
    return _over_dedup(
        """
        SELECT schema_name, table_name, COUNT(*) AS n_rows FROM dedup
        WHERE schema_name='app'
        GROUP BY schema_name, table_name
        """
    )


def oracle_cdc_start_position():
    pos = 4 + 500 * 128
    return _over_dedup(
        f"""
        SELECT log_file, COUNT(*) AS n_rows, MIN(log_pos) AS min_pos
        FROM dedup
        WHERE log_file > 'binlog.000002'
           OR (log_file = 'binlog.000002' AND log_pos >= {pos})
        GROUP BY log_file
        """
    )


def oracle_cdc_turn_ordering():
    return f"""
    WITH fs AS ({spec.final_state_sql('duckdb')})
    SELECT conv_id, turn_idx,
           ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS turn_rank,
           LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_turn_idx,
           text
    FROM fs
    """


_ASOF_ORD_SQL = "CAST(CAST(substr(log_file, 8) AS INT) * 1048576 + log_pos AS BIGINT)"


def oracle_cdc_asof_lookup():
    """DuckDB's NATIVE ASOF LEFT JOIN — an independent as-of algorithm
    cross-checking the union+window implementation."""
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}),
    txn AS (
      SELECT * FROM dedup
      WHERE schema_name = 'app' AND table_name = 'transcripts'
    ),
    states AS (
      SELECT conv_id, turn_idx, {_ASOF_ORD_SQL} AS ord, action, role, text
      FROM txn
    ),
    probes AS (
      SELECT conv_id,
             CAST((turn_idx * 7 + 3) % {spec.N_TURNS} AS INT) AS turn_idx,
             {_ASOF_ORD_SQL} AS ord
      FROM txn WHERE xid % {ASOF_PROBE_XID_MOD} = 4
    )
    SELECT p.conv_id, p.turn_idx, p.ord,
           s.ord AS m_ord, s.action AS m_action,
           s.role AS m_role, s.text AS m_text
    FROM probes p ASOF LEFT JOIN states s
      ON p.conv_id = s.conv_id AND p.turn_idx = s.turn_idx
     AND s.ord <= p.ord
    """


def oracle_cdc_decode_binary():
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')})
    SELECT log_file,
           ROW_NUMBER() OVER (
             PARTITION BY log_file ORDER BY log_pos, server_id) AS seq,
           schema_name, table_name, action,
           conv_id, turn_idx, role, text, tool, tool_version, ts
    FROM dedup
    """


def oracle_cdc_apply_e2e():
    return spec.final_state_sql("duckdb")


def oracle_cdc_schema_evolution():
    # ADD COLUMN semantics in SQL, derived from the EVOLUTION POINT (not
    # from surviving data — ADVICE round-4): the generator starts v2
    # TABLE_MAPs at the first event whose tool_version is non-NULL
    # (generator.with_schema_version), and the engine bumps when the
    # INCLUDED table first presents the evolved column — i.e. iff any
    # app.transcripts event sits at/after that LSN.  A fixture where
    # every post-evolution winner is later overwritten by NULLs would
    # still correctly say version 2 here.
    inner = spec.final_state_sql("duckdb")
    log = spec.dedup_sql("duckdb")
    lsn_key = "log_file || printf('%020d', log_pos)"
    return f"""
    WITH final AS ({inner}),
    log AS ({log}),
    evo AS (
      SELECT MIN({lsn_key}) AS k FROM log WHERE tool_version IS NOT NULL
    )
    SELECT conv_id, turn_idx, tool_version,
           CAST(1 + (SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END
                     FROM log, evo
                     WHERE schema_name = 'app' AND table_name = 'transcripts'
                       AND {lsn_key} >= evo.k) AS INTEGER)
             AS schema_version
    FROM final
    """


# ===================================================== training-data pipeline
# (documents / embeddings tables; SURVEY.md "beyond the reference" operators)

from .functions import text as T  # noqa: E402
from .functions.hashing import hyperplanes, md5_bigint_sql, minhash_signature_sql, seeded_sql  # noqa: E402
from .operators.dedup import (  # noqa: E402
    exact_duplicates,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash_buckets,
)
from .operators.multimodal import decode_frames, with_binary_payload  # noqa: E402
from .operators.sessionize import sessionize, sessionize_sql  # noqa: E402
from .operators.similarity import cosine_knn, cosine_neardup_pairs, lsh_ann_buckets  # noqa: E402

MINHASH_K = 12
SHINGLE_N = 3
JACCARD_T = 0.8
COS_T = 0.45
ANN_PLANES = 8
NEARDUP_BANDS = 6
NEARDUP_ROWS = 8  # planes per band → 256 buckets/band
EMB_DIM = 64
KNN_K = 10
KNN_QUERIES = 5


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_doc_dedup_exact(spark, sf_dir):
    return exact_duplicates(_docs(spark, sf_dir))


def oracle_doc_dedup_exact():
    return f"""
    SELECT {T.fingerprint_sql('text')} AS fp,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """


def q_doc_minhash_signatures(spark, sf_dir):
    return minhash_signatures(_docs(spark, sf_dir), k=MINHASH_K,
                              shingle_n=SHINGLE_N).drop("shingles")


def oracle_doc_minhash_signatures():
    sig = minhash_signature_sql("s", MINHASH_K)
    return f"""
    WITH sh AS (
      SELECT doc_id, {T.word_shingles_sql('text', SHINGLE_N)} AS s
      FROM documents
    )
    SELECT doc_id, {', '.join(sig)} FROM sh
    """


def q_doc_neardup_minhash_lsh(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return minhash_dedup_pairs(
        docs, k=MINHASH_K, rows_per_band=2, shingle_n=SHINGLE_N,
        threshold=JACCARD_T,
    )


def oracle_doc_neardup_minhash_lsh():
    sig = minhash_signature_sql("s", MINHASH_K)
    n_bands = MINHASH_K // 2
    band_exprs = ", ".join(
        f"(CAST(mh{2 * b} AS VARCHAR) || ':' || CAST(mh{2 * b + 1} AS VARCHAR))"
        f" AS band{b}"
        for b in range(n_bands)
    )
    band_match = " OR ".join(f"a.band{b} = b.band{b}" for b in range(n_bands))
    return f"""
    WITH sh AS (
      SELECT doc_id, {T.word_shingles_sql('text', SHINGLE_N)} AS s
      FROM documents
    ), sig AS (
      SELECT doc_id, s, {', '.join(sig)} FROM sh
    ), banded AS (
      SELECT doc_id, s, {band_exprs} FROM sig
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id AND ({band_match})
    )
    SELECT doc_a, doc_b,
           len(list_intersect(sa, sb))::DOUBLE
             / len(list_distinct(list_concat(sa, sb))) AS jaccard
    FROM cand
    WHERE len(list_intersect(sa, sb))::DOUBLE
            / len(list_distinct(list_concat(sa, sb))) >= {JACCARD_T}
    """


def q_doc_neardup_jaccard(spark, sf_dir):
    """EXACT n-gram Jaccard near-dup via prefix filtering — identical
    result to the all-pairs scan (which the DuckDB oracle still runs),
    but the Spark plan is an equi-join on prefix shingles, not a
    cartesian product (VERDICT round-1 'what's wrong' #1)."""
    from .operators.dedup import jaccard_pairs_exact

    return jaccard_pairs_exact(
        _docs(spark, sf_dir), shingle_n=SHINGLE_N, threshold=JACCARD_T
    )


def oracle_doc_neardup_jaccard():
    return f"""
    WITH sh AS (
      SELECT doc_id, {T.word_shingles_sql('text', SHINGLE_N)} AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
            / len(list_distinct(list_concat(a.s, b.s))) >= {JACCARD_T}
    """


DECON_MOD = 97  # "benchmark" = docs with doc_id % 97 == 0 (leaked eval set)
DECON_N = 5


def q_doc_decontaminate(spark, sf_dir):
    """Test-set decontamination (pre-training hygiene): flag corpus
    documents sharing any word 5-gram with the 'benchmark' subset
    (doc_id % 97 == 0 — a leaked eval set, so its members at minimum
    flag themselves).  Benchmark n-grams are broadcast; the corpus never
    shuffles for the probe."""
    from .operators.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    return decontaminate(docs, bench, ngram_n=DECON_N)


def oracle_doc_decontaminate():
    sh = T.word_shingles_sql("text", DECON_N)
    return f"""
    WITH cg AS (
      SELECT doc_id, unnest({sh}) AS g FROM documents
    ), bg AS (
      SELECT DISTINCT unnest({sh}) AS g FROM documents
      WHERE doc_id % {DECON_MOD} = 0
    )
    SELECT cg.doc_id, COUNT(DISTINCT cg.g) AS n_overlap
    FROM cg JOIN bg ON cg.g = bg.g
    GROUP BY cg.doc_id
    """


NOVELTY_SPLIT = 250  # corpus: doc_id < split; incoming batch: >= split


def q_doc_novelty_filter(spark, sf_dir):
    """Incremental-ingest novelty filter (the production dedup shape):
    documents of the incoming batch (doc_id >= 250) that neither exactly
    duplicate nor near-duplicate (MinHash-LSH + Jaccard >= 0.8) the
    standing corpus (doc_id < 250)."""
    from .operators.dedup import novel_documents

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < NOVELTY_SPLIT)
    new = docs.filter(F.col("doc_id") >= NOVELTY_SPLIT)
    out = novel_documents(
        new, corpus, k=MINHASH_K, rows_per_band=2, shingle_n=SHINGLE_N,
        threshold=JACCARD_T,
    )
    return out.select("doc_id", F.length("text").alias("n_chars"))


def oracle_doc_novelty_filter():
    sig = minhash_signature_sql("s", MINHASH_K)
    n_bands = MINHASH_K // 2
    band_exprs = ", ".join(
        f"(CAST(mh{2 * b} AS VARCHAR) || ':' || CAST(mh{2 * b + 1} AS VARCHAR))"
        f" AS band{b}"
        for b in range(n_bands)
    )
    band_match = " OR ".join(f"a.band{b} = b.band{b}" for b in range(n_bands))
    fp = T.fingerprint_sql("text")
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < {NOVELTY_SPLIT}
    ), newdocs AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= {NOVELTY_SPLIT}
    ), surv AS (
      SELECT n.doc_id, n.text FROM newdocs n
      WHERE {fp} NOT IN (SELECT {T.fingerprint_sql('text')} FROM corpus)
    ), sh_new AS (
      SELECT doc_id, text, {T.word_shingles_sql('text', SHINGLE_N)} AS s
      FROM surv
    ), sh_corp AS (
      SELECT doc_id, {T.word_shingles_sql('text', SHINGLE_N)} AS s
      FROM corpus
    ), sig_new AS (
      SELECT doc_id, s, {', '.join(sig)} FROM sh_new
    ), sig_corp AS (
      SELECT doc_id, s, {', '.join(sig)} FROM sh_corp
    ), banded_new AS (
      SELECT doc_id, s, {band_exprs} FROM sig_new
    ), banded_corp AS (
      SELECT doc_id, s, {band_exprs} FROM sig_corp
    ), neardup AS (
      SELECT DISTINCT a.doc_id
      FROM banded_new a JOIN banded_corp b ON ({band_match})
      WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= {JACCARD_T}
    )
    SELECT doc_id, length(text) AS n_chars FROM surv
    WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
    """


def q_doc_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER assembly: MinHash-LSH pairs → connected components
    (min-label propagation to convergence) → canonical doc + cluster size
    per clustered document.  The oracle computes true components with a
    recursive CTE over the identical pair set, so the fixed-point loop is
    verified against exact transitive closure."""
    from .operators.dedup import dedup_clusters

    return dedup_clusters(
        _docs(spark, sf_dir), k=MINHASH_K, rows_per_band=2,
        shingle_n=SHINGLE_N, threshold=JACCARD_T,
    )


def oracle_doc_dedup_clusters():
    pairs = oracle_doc_neardup_minhash_lsh()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
    ),
    comp AS (
      SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node
    ),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1
    )
    SELECT c.node AS doc_id, c.cluster_id AS canonical_id, s.cluster_size
    FROM comp c JOIN sizes s USING (cluster_id)
    """


def q_doc_simhash(spark, sf_dir):
    """SimHash sketch + bands: shingles JVM-side (word_shingles), md5 +
    numpy-vectorized 48-bit vote in an Arrow-batched pandas UDF."""
    return simhash_buckets(_docs(spark, sf_dir))


def oracle_doc_simhash():
    """DuckDB twin of the SimHash sketch: unnest distinct shingles, hash
    with the shared md5 scheme, majority-vote each of the 48 bits."""
    h = md5_bigint_sql("sng")
    bands = ", ".join(
        f"CAST((simhash >> {b * 12}) & 4095 AS BIGINT) AS band{b}"
        for b in range(4)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, {T.word_shingles_sql('text', SHINGLE_N)} AS s
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(s) AS sng FROM sh
    ), hb AS (
      SELECT doc_id, {h} AS h FROM ex
    ), votes AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
             COUNT(*) AS n
      FROM hb, range(48) b(b)
      GROUP BY doc_id, b.b
    ), sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN ones * 2 > n THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT doc_id, simhash, {bands} FROM sim
    """


def q_doc_langid(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.predicted_lang(F.col("text")).alias("pred_lang"),
    )


def oracle_doc_langid():
    return f"SELECT doc_id, {T.predicted_lang_sql('text')} AS pred_lang FROM documents"


def q_doc_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    feats = T.quality_features(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


def oracle_doc_quality():
    feats = T.quality_features_sql("text")
    cols = ", ".join(f"{v} AS {k}" for k, v in feats.items())
    return f"SELECT doc_id, {cols} FROM documents"


def q_doc_repetition(spark, sf_dir):
    """Within-document repetition signals (Gopher-family duplicated
    n-gram fraction): boilerplate / looping text scores high.  All JVM
    builtins, no shuffle (narrow per-row projection)."""
    docs = _docs(spark, sf_dir)
    feats = T.repetition_stats(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


def oracle_doc_repetition():
    feats = T.repetition_stats_sql("text")
    cols = ", ".join(f"{v} AS {k}" for k, v in feats.items())
    return f"SELECT doc_id, {cols} FROM documents"


def q_doc_pii_scrub(spark, sf_dir):
    """PII scrub pass: per-document email/phone/IP counts + redacted
    text — pure JVM regex (no UDF), narrow projection, no shuffle."""
    docs = _docs(spark, sf_dir)
    feats = T.pii_features(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


def oracle_doc_pii_scrub():
    feats = T.pii_features_sql("text")
    cols = ", ".join(f"{v} AS {k}" for k, v in feats.items())
    return f"SELECT doc_id, {cols} FROM documents"


def q_doc_tokens(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("n_ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


def oracle_doc_tokens():
    return f"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '{T.WS}')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{T.BPE_ISH}')) AS n_bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """


def q_doc_fingerprint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fp"),
        T.prefix_fingerprint(F.col("text")).alias("prefix_fp"),
    )


def oracle_doc_fingerprint():
    return f"""
    SELECT doc_id, {T.fingerprint_sql('text')} AS fp,
           {T.prefix_fingerprint_sql('text')} AS prefix_fp
    FROM documents
    """


SAMPLE_RATES = {"en": 0.3}  # rebalance the dominant language
SAMPLE_DEFAULT = 1.0
SAMPLE_SEED = 0
PACK_BUDGET = 512  # tokens per packed context window


def q_doc_sample(spark, sf_dir):
    """Deterministic stratified sampling (language rebalancing): keep a
    hash-derived 30% of English, 100% of everything else — RNG-free, so
    the sample is identical across re-runs, retries, and cluster sizes,
    and nested under rate changes (operators/sampling.py)."""
    from .operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    return stratified_sample(
        docs, SAMPLE_RATES, strata_col="lang", key_col="doc_id",
        default_rate=SAMPLE_DEFAULT, seed=SAMPLE_SEED,
    ).select("doc_id", "lang")


def oracle_doc_sample():
    from .operators.sampling import hash_fraction_sql

    frac = hash_fraction_sql("doc_id", SAMPLE_SEED)
    return f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {frac} < CASE WHEN lang = 'en' THEN {SAMPLE_RATES['en']}
                        ELSE {SAMPLE_DEFAULT} END
    """


def q_doc_pack(spark, sf_dir):
    """Token-budget sequence packing: documents packed into ≈512-token
    bins per source shard by cumulative whitespace-token count — one
    shuffle on the shard key, one window per shard, no global ordering
    (operators/sampling.py)."""
    from .operators.sampling import pack_sequences

    docs = _docs(spark, sf_dir)
    return pack_sequences(
        docs, PACK_BUDGET, T.ws_token_count(F.col("text")),
        group_col="source", order_col="doc_id",
    )


def oracle_doc_pack():
    return f"""
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) / {PACK_BUDGET}) AS INT) AS bin_id
    FROM (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '{T.WS}')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    """


def q_doc_tokens_bpe(spark, sf_dir):
    """REAL BPE token counts (round 6): the fixed 50-merge char-level
    BPE applied as a JVM replace chain (functions/text.py BPE_MERGES) —
    the token currency budget packing actually needs; whitespace counts
    misprice code/CJK by 2-5×.  The oracle replays the identical merge
    list with DuckDB's replace."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.bpe_token_count(F.col("text")).alias("n_tokens_bpe"),
        T.ws_token_count(F.col("text")).alias("n_tokens_ws"),
    )


def oracle_doc_tokens_bpe():
    return f"""
    SELECT doc_id,
           {T.bpe_token_count_sql('text')} AS n_tokens_bpe,
           len(regexp_split_to_array(trim(text), '{T.WS}')) AS n_tokens_ws
    FROM documents
    """


def q_doc_pack_bpe(spark, sf_dir):
    """Token-budget packing priced in REAL BPE tokens (round 6), and
    length-bucketed: each shard orders by n_tokens DESC (doc_id
    tiebreak) so the short tail fills boundary gaps — the standard
    fill-ratio improvement over arrival order.  Same single-shuffle
    plan shape as doc_pack."""
    from .operators.sampling import pack_sequences

    docs = _docs(spark, sf_dir)
    return pack_sequences(
        docs, PACK_BUDGET, T.bpe_token_count(F.col("text")),
        group_col="source", order_col="doc_id", length_bucketed=True,
    )


def oracle_doc_pack_bpe():
    return f"""
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY n_tokens DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) / {PACK_BUDGET}) AS INT) AS bin_id
    FROM (
      SELECT source, doc_id,
             CAST({T.bpe_token_count_sql('text')} AS BIGINT) AS n_tokens
      FROM documents
    )
    """


# ----------------------------------------------------------- similarity/ANN


def _duck_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def q_emb_cosine_knn(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return cosine_knn(embs, queries, k=KNN_K)


def oracle_emb_cosine_knn():
    cos = _duck_cos("q.embedding", "c.embedding")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({cos}, 4) AS cos_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {KNN_QUERIES}
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
    WHERE rank <= {KNN_K}
    """


def _plane_literals_sql(planes):
    return [
        "[" + ", ".join(f"{v:.1f}" for v in p) + "]::DOUBLE[]" for p in planes
    ]


def q_emb_lsh_buckets(spark, sf_dir):
    return lsh_ann_buckets(_embs(spark, sf_dir), n_planes=ANN_PLANES, dim=EMB_DIM)


def oracle_emb_lsh_buckets():
    planes = _plane_literals_sql(hyperplanes(ANN_PLANES, EMB_DIM))
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(embedding, {p}) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"SELECT vec_id, CAST({terms} AS BIGINT) AS bucket FROM embeddings"


def q_emb_neardup_cosine(spark, sf_dir):
    return cosine_neardup_pairs(
        _embs(spark, sf_dir), threshold=COS_T, n_bands=NEARDUP_BANDS,
        planes_per_band=NEARDUP_ROWS, dim=EMB_DIM,
    )


def oracle_emb_neardup_cosine():
    from .operators.similarity import band_planes

    bands = band_planes(NEARDUP_BANDS, NEARDUP_ROWS, EMB_DIM)

    def bucket(bp) -> str:
        planes = _plane_literals_sql(bp)
        return " + ".join(
            f"(CASE WHEN list_dot_product(embedding, {p}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(planes)
        )

    band_cols = ", ".join(
        f"({bucket(bp)}) AS band{j}" for j, bp in enumerate(bands)
    )
    any_band = " OR ".join(
        f"a.band{j} = b.band{j}" for j in range(NEARDUP_BANDS)
    )
    cos = _duck_cos("a.embedding", "b.embedding")
    return f"""
    WITH banded AS (
      SELECT vec_id, embedding, {band_cols} FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round({cos}, 4) AS cos_sim
    FROM banded a JOIN banded b ON a.vec_id < b.vec_id AND ({any_band})
    WHERE round({cos}, 4) >= {COS_T}
    """


def q_emb_sq8_knn(spark, sf_dir):
    """Top-k cosine over int8 scalar-quantized embeddings (4× memory
    compression; scales cancel in cosine, so integer dot products make
    the ranking bit-deterministic)."""
    from .operators.similarity import sq8_knn

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return sq8_knn(embs, queries, k=KNN_K)


def oracle_emb_sq8_knn():
    def sq8(col):
        scale = (
            f"greatest(list_max(list_transform({col}, "
            f"x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12)"
        )
        return (
            f"list_transform({col}, x -> CAST(round(CAST(x AS DOUBLE) "
            f"/ {scale}) AS INT))"
        )

    cos = _duck_cos("q.qv", "c.cv")
    return f"""
    WITH qz AS (
      SELECT vec_id, {sq8('embedding')} AS qv FROM embeddings
      WHERE vec_id < {KNN_QUERIES}
    ), cz AS (
      SELECT vec_id, {sq8('embedding')} AS cv FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({cos}, 4) AS cos_sim
      FROM qz q JOIN cz c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {KNN_K}
    """


IVF_CELLS = 16
IVF_NPROBE = 4
IVF_LLOYD_ITERS = 2


def q_emb_ivf_knn(spark, sf_dir):
    """IVF approximate kNN with Lloyd-refined centroids (VERDICT round-2
    #5): 16 deterministic seeds (corpus vectors 0,7,…,105) refined by 2
    exact-integer-sum k-means iterations, corpus bucketed by nearest
    refined centroid, each query probes its 4 closest cells, exact cosine
    inside them.  The 100 TB scale path complementing sign-LSH: one
    bounded-cardinality shuffle, queries touch nprobe/n_cells of the
    corpus."""
    from .operators.similarity import (
        ivf_centroid_ids,
        ivf_knn,
        ivf_lloyd_refine,
    )

    embs = _embs(spark, sf_dir)
    ids = ivf_centroid_ids(IVF_CELLS)
    seeds = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in embs.filter(F.col("vec_id").isin(ids)).collect()
    )
    cents = ivf_lloyd_refine(embs, seeds, iters=IVF_LLOYD_ITERS, dim=EMB_DIM)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return ivf_knn(embs, queries, cents, k=KNN_K, nprobe=IVF_NPROBE)


SEMDEDUP_T = 0.45


def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup-shaped semantic dedup: Lloyd-refined IVF cells (same
    deterministic pipeline as emb_ivf_knn) + within-cell cosine pruning —
    drop any vector within SEMDEDUP_T of a lower-id cell-mate, keep the
    representative.  Candidate pairs exist only inside a cell (bounded
    shuffle, never all-pairs) — the production semantic-dedup shape for
    an embedding lake."""
    from .operators.similarity import (
        ivf_centroid_ids,
        ivf_lloyd_refine,
        semantic_dedup,
    )

    embs = _embs(spark, sf_dir)
    ids = ivf_centroid_ids(IVF_CELLS)
    seeds = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in embs.filter(F.col("vec_id").isin(ids)).collect()
    )
    cents = ivf_lloyd_refine(embs, seeds, iters=IVF_LLOYD_ITERS, dim=EMB_DIM)
    return semantic_dedup(embs, cents, threshold=SEMDEDUP_T)


def oracle_emb_semantic_dedup():
    cos_ac = _duck_cos("e.embedding", "c.cvec")
    cos_ab = _duck_cos("a.embedding", "b.embedding")
    cents_cte, cent_rel = _ivf_lloyd_cents_cte(IVF_LLOYD_ITERS)
    return f"""
    WITH {cents_cte}, cent AS (
      SELECT cell, cvec FROM {cent_rel}
    ), assign AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round({cos_ac}, 4) DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ), dominated AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND b.vec_id < a.vec_id
      WHERE round({cos_ab}, 4) >= {SEMDEDUP_T}
    )
    SELECT s.vec_id, CAST(s.cell AS INTEGER) AS cell
    FROM assign s
    WHERE s.vec_id NOT IN (SELECT vec_id FROM dominated)
    """


def _ivf_lloyd_cents_cte(iters: int) -> tuple[str, str]:
    """DuckDB CTE chain replicating ivf_lloyd_refine exactly: scaled-int
    sums are associative, so the refined centroids match Spark's
    bit-for-bit.  Returns (cte_sql, final_cent_relation)."""
    from .operators.similarity import IVF_SCALE

    cos_sc = _duck_cos("s.ev", "c.cvec")
    parts = [f"""scaled AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {IVF_SCALE}) AS BIGINT))
               AS iv
      FROM embeddings
    ), cent0 AS (
      SELECT CAST(vec_id // 7 AS INT) AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings
      WHERE vec_id % 7 = 0 AND vec_id < {7 * IVF_CELLS}
    )"""]
    for k in range(iters):
        parts.append(f""", assign_l{k} AS (
      SELECT vec_id, iv, cell FROM (
        SELECT s.vec_id, s.iv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY round({cos_sc}, 4) DESC, c.cell) AS rn
        FROM scaled s CROSS JOIN cent{k} c
      ) WHERE rn = 1
    ), sums_l{k} AS (
      SELECT cell, i AS pos, SUM(iv[i]) AS s
      FROM assign_l{k}, range(1, {EMB_DIM + 1}) t(i)
      GROUP BY cell, i
    ), cent{k + 1} AS (
      SELECT c.cell, COALESCE(n.cvec, c.cvec) AS cvec
      FROM cent{k} c LEFT JOIN (
        SELECT cell, list(CAST(s AS DOUBLE) ORDER BY pos) AS cvec
        FROM sums_l{k} GROUP BY cell
      ) n USING (cell)
    )""")
    return "".join(parts), f"cent{iters}"


def oracle_emb_ivf_knn():
    cos_ac = _duck_cos("e.embedding", "c.cvec")
    cos_qc = _duck_cos("q.embedding", "c.cvec")
    cos_qa = _duck_cos("p.qvec", "a.embedding")
    cents_cte, cent_rel = _ivf_lloyd_cents_cte(IVF_LLOYD_ITERS)
    return f"""
    WITH {cents_cte}, cent AS (
      SELECT cell, cvec FROM {cent_rel}
    ), assign AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round({cos_ac}, 4) DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ), probes AS (
      SELECT query_id, qvec, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({cos_qc}, 4) DESC, c.cell) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < {KNN_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round({cos_qa}, 4) AS cos_sim
      FROM probes p JOIN assign a
        ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= {KNN_K}
    """


# ------------------------------------------------------ multimodal plumbing


def q_multimodal_meta(spark, sf_dir):
    media = with_binary_payload(_docs(spark, sf_dir))
    return media.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.checksum").alias("checksum"),
        F.col("media_meta.codec_id").alias("codec_id"),
    )


def oracle_multimodal_meta():
    return """
    SELECT doc_id,
           octet_length(encode(text))::INT AS n_bytes,
           md5(text) AS checksum,
           (octet_length(encode(text)) % 3)::INT AS codec_id
    FROM documents
    """


def q_multimodal_frames(spark, sf_dir):
    """Frame-sample decode plumbing (deterministic byte-window kernel over
    mapInPandas — hash-checked against a pure-SQL byte-arithmetic oracle)."""
    media = with_binary_payload(_docs(spark, sf_dir))
    return decode_frames(media)


def oracle_multimodal_frames():
    """DuckDB twin of the stub frame kernel: the payload is encode(text);
    frame fi covers bytes [fi*n, (fi+1)*n) with n = max(1, L//4), falling
    back to the last byte for empty windows; features are per-byte
    mean/max computed via hex expansion."""
    return """
    WITH f AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS L
      FROM documents
    ), fr AS (
      SELECT doc_id, h, L, greatest(1, L // 4) AS n, t.fi AS fi
      FROM f, range(4) t(fi)
    ), win AS (
      SELECT doc_id, fi,
             CASE WHEN L - fi * n >= 1
                  THEN substr(h, CAST(fi*n*2 + 1 AS BIGINT),
                              CAST(n*2 AS BIGINT))
                  ELSE substr(h, CAST((L-1)*2 + 1 AS BIGINT), 2) END AS wh
      FROM fr
    ), sized AS (
      SELECT doc_id, fi, wh, length(wh) // 2 AS wl FROM win
    ), feats AS (
      SELECT doc_id, fi, wl,
             list_transform(generate_series(1, CAST(wl AS BIGINT)),
                            i -> ('0x' || substr(wh, 2*i - 1, 2))::INT)
               AS bytes
      FROM sized
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           list_sum(bytes)::DOUBLE / wl AS feat_mean,
           CAST(list_max(bytes) AS INT) AS feat_max,
           CAST(wl AS INT) AS frame_bytes
    FROM feats
    """


def q_multimodal_real_decode(spark, sf_dir):
    """REAL image codec under the hash gate (round 6, zero dependencies):
    encode a deterministic pixel plane per document as a genuine 24-bit
    BMP (54-byte header, bottom-up rows, stride padding), decode it back
    with the numpy BMP reader, emit per-strip features.  The oracle
    recomputes the strip features from the closed-form pixel function —
    so a decoder bug (stride, row order, channel offset) hash-fails."""
    from .operators.multimodal import decode_frames_bmp, with_bmp_payload

    media = with_bmp_payload(_docs(spark, sf_dir))
    return decode_frames_bmp(media)


def oracle_multimodal_real_decode():
    """Pixel (row-major i) = (doc_id·31 + i·7) % 256 on a 16×17 plane;
    strip fi covers rows [fi·4, (fi+1)·4) = pixel indices [fi·68,
    (fi+1)·68)."""
    from .operators.multimodal import BMP_FRAMES, BMP_H, BMP_W

    strip_px = (BMP_H // BMP_FRAMES) * BMP_W
    total_px = BMP_H * BMP_W
    return f"""
    WITH px AS (
      SELECT d.doc_id, g.i // {strip_px} AS fi,
             (d.doc_id * 31 + g.i * 7) % 256 AS p
      FROM documents d, generate_series(0, {total_px - 1}) g(i)
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           SUM(p)::DOUBLE / COUNT(*) AS feat_mean,
           CAST(MAX(p) AS INT) AS feat_max,
           CAST(COUNT(*) AS INT) AS frame_bytes
    FROM px
    GROUP BY doc_id, fi
    """


def q_doc_quality_filter(spark, sf_dir):
    """Gopher-style quality FILTER verdict (round 6): per-rule pass
    flags + overall boolean — the actual gate a curation pipeline runs,
    composed entirely of JVM builtins over the signals the features
    queries already compute."""
    docs = _docs(spark, sf_dir)
    v = T.quality_verdict(F.col("text"))
    return docs.select("doc_id", *[v[k].alias(k) for k in v])


def oracle_doc_quality_filter():
    v = T.quality_verdict_sql("text")
    cols = ",\n           ".join(f"{sql} AS {k}" for k, sql in v.items())
    return f"""
    SELECT doc_id,
           {cols}
    FROM documents
    """


def q_doc_tfidf(spark, sf_dir):
    """Top-5 TF-IDF keywords per document (round 6): doc-term counts →
    corpus document frequencies → broadcast IDF join → per-doc window.
    Scores rounded before ranking so Spark and DuckDB rank identically
    despite last-ULP ln() differences."""
    from .operators.corpus import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=5)


def oracle_doc_tfidf():
    from .operators.corpus import tfidf_topk_sql

    return tfidf_topk_sql(k=5)


def q_corpus_top_ngrams(spark, sf_dir):
    """Corpus-level top-50 word bigrams by document frequency (round 6)
    — TakeOrderedAndProject (per-partition heaps), not a global sort."""
    from .operators.corpus import corpus_top_ngrams

    return corpus_top_ngrams(_docs(spark, sf_dir), n=2, top=50)


def oracle_corpus_top_ngrams():
    from .operators.corpus import corpus_top_ngrams_sql

    return corpus_top_ngrams_sql(n=2, top=50)


def q_corpus_distinct_kmv(spark, sf_dir):
    """Mergeable K-minimum-values distinct sketch over document text
    (round 6): k smallest distinct md5 hashes → (k-1)·2^48 div kth_min.
    Per-partition partial agg + TakeOrderedAndProject — the distinct
    counter that combines across shards without rescanning at 100 TB."""
    from .operators.corpus import distinct_kmv

    return distinct_kmv(_docs(spark, sf_dir), col="text", k=256)


def oracle_corpus_distinct_kmv():
    from .operators.corpus import distinct_kmv_sql

    return distinct_kmv_sql(col="text", k=256)


def q_doc_resample_sources(spark, sf_dir):
    """Temperature-0.5 source mixing (round 6) at a half-corpus output
    budget: per-source keep targets ∝ sqrt(count), enforced by the
    deterministic md5 coin — broadcast thresholds, stateless filter,
    per-source summary."""
    from .operators.sampling import temperature_resample

    return temperature_resample(
        _docs(spark, sf_dir), source_col="source", key_col="doc_id",
        seed=0, budget_num=1, budget_den=2,
    )


def oracle_doc_resample_sources():
    from .operators.sampling import temperature_resample_sql

    return temperature_resample_sql(
        source_col="source", key_col="doc_id", seed=0,
        budget_num=1, budget_den=2,
    )


# ------------------------------------------------------------ sessionization


def q_events_sessionize(spark, sf_dir):
    _events(spark, sf_dir)
    ev = spark.table("events")
    return sessionize(ev)


def oracle_events_sessionize():
    return sessionize_sql("events")


def q_events_funnel(spark, sf_dir):
    """view → click → purchase conversion funnel per user: chained
    whole-frame windows over ONE user-key shuffle, never the k-way
    self-join (operators/sessionize.funnel)."""
    from .operators.sessionize import funnel

    _events(spark, sf_dir)
    return funnel(spark.table("events"))


def oracle_events_funnel():
    from .operators.sessionize import funnel_sql

    return funnel_sql(rel="events")


def q_events_pivot(spark, sf_dir):
    """Hour × event-type count crosstab via the native pivot (explicit
    value list — no extra distinct pass over the data; one shuffle with
    map-side partial counts).  Missing cells filled 0 like the
    conditional-aggregation oracle."""
    _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    ev = spark.table("events")
    out = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .pivot("event_type", types)
        .count()
    )
    return out.na.fill(0, types).select(
        "bucket_ts", *[F.col(t).cast("bigint").alias(t) for t in types]
    )


def oracle_events_pivot():
    types = ["click", "error", "purchase", "signup", "view"]
    cells = ", ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
        f" AS {t}"
        for t in types
    )
    return f"""
    SELECT date_trunc('hour', ts) AS bucket_ts, {cells}
    FROM events GROUP BY 1
    """


def q_events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix: integer week index (engine-
    neutral, unlike date_trunc('week')), one user-key exchange for the
    cohort tag, distinct-user collapse shuffles only de-duplicated
    triples (operators/sessionize.cohort_retention)."""
    from .operators.sessionize import cohort_retention

    _events(spark, sf_dir)
    return cohort_retention(spark.table("events"))


def oracle_events_cohort_retention():
    from .operators.sessionize import cohort_retention_sql

    return cohort_retention_sql(rel="events")


def q_doc_chunk(spark, sf_dir):
    """Sliding context-window chunker (window 32 tokens, stride 24):
    shuffle-free narrow stage, closed-form chunk count so no window is
    fully contained in its predecessor (operators/chunking)."""
    from .operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), window=32, stride=24)


def oracle_doc_chunk():
    from .operators.chunking import chunk_documents_sql

    return chunk_documents_sql(window=32, stride=24)


def q_corpus_pmi_bigrams(spark, sf_dir):
    """Top-50 PMI collocations: two exploded count aggregations, then
    broadcast vocabulary joins onto the surviving bigrams; global top-k
    via TakeOrderedAndProject (operators/corpus.pmi_bigrams)."""
    from .operators.corpus import pmi_bigrams

    return pmi_bigrams(_docs(spark, sf_dir), top=50, min_count=5)


def oracle_corpus_pmi_bigrams():
    from .operators.corpus import pmi_bigrams_sql

    return pmi_bigrams_sql(top=50, min_count=5)


def q_cdc_conversation_render(spark, sf_dir):
    """Reassemble each conversation from the applied table state:
    turn-ordered `role: text` rendering via array_sort-after-collapse
    (one conv-key exchange, per-group work bounded by turns/conv —
    operators/conversation.render_conversations)."""
    from .operators.conversation import render_conversations

    return render_conversations(q_cdc_final_state(spark, sf_dir))


def oracle_cdc_conversation_render():
    from .operators.conversation import render_conversations_sql

    return f"WITH fs AS ({spec.final_state_sql('duckdb')})" + render_conversations_sql()


def q_cdc_tool_chains(spark, sf_dir):
    """Tool-invocation chain signatures per conversation (a>b>c),
    counted across conversations — two bounded conv/chain-key
    aggregations (operators/conversation.tool_chains)."""
    from .operators.conversation import tool_chains

    return tool_chains(q_cdc_final_state(spark, sf_dir))


def oracle_cdc_tool_chains():
    from .operators.conversation import tool_chains_sql

    return f"WITH fs AS ({spec.final_state_sql('duckdb')})" + tool_chains_sql()


def q_cdc_turn_latency(spark, sf_dir):
    """Per-role inter-turn latency over the final state: exact bigint
    microsecond gaps (unix_micros), one final division — invariant to
    partial-agg merge order (operators/conversation.turn_latency)."""
    from .operators.conversation import turn_latency

    return turn_latency(q_cdc_final_state(spark, sf_dir))


def oracle_cdc_turn_latency():
    from .operators.conversation import turn_latency_sql

    return f"WITH fs AS ({spec.final_state_sql('duckdb')})" + turn_latency_sql()


def q_events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    one user-key lag window (event_id tie-break), (src,dst) aggregation,
    normalizer window over the tiny aggregated matrix
    (operators/sessionize.transition_matrix)."""
    from .operators.sessionize import transition_matrix

    _events(spark, sf_dir)
    return transition_matrix(spark.table("events"))


def oracle_events_transitions():
    from .operators.sessionize import transition_matrix_sql

    return transition_matrix_sql(rel="events")


def q_corpus_dup_spans(spark, sf_dir):
    """Cross-document duplicate 8-gram spans (exact-substring dedup
    detection, Lee et al. 2022): narrow-stage span generation, one
    uniform-key count aggregation, top-k via TakeOrderedAndProject
    (operators/corpus.dup_spans)."""
    from .operators.corpus import dup_spans

    return dup_spans(_docs(spark, sf_dir), n=8, top=100)


def oracle_corpus_dup_spans():
    from .operators.corpus import dup_spans_sql

    return dup_spans_sql(n=8, top=100)


def q_events_rate_window(spark, sf_dir):
    """Trailing per-user rate over the last 60s (excluding the current
    second): Spark's native RANGE window on epoch seconds — the rolling
    rate-limit / burst signal, with the value sum folded to integer
    cents so it is order-free exact (operators/sessionize.rate_window)."""
    from .operators.sessionize import rate_window

    _events(spark, sf_dir)
    return rate_window(spark.table("events"))


def oracle_events_rate_window():
    from .operators.sessionize import rate_window_sql

    return rate_window_sql(rel="events")


# ---------------------------------------------------- corpus distributions


def q_doc_length_quantiles(spark, sf_dir):
    """Per-language length quantiles by the nearest-rank definition —
    bit-exact across engines because the pick is integer selection, not
    float interpolation (operators/corpus.length_quantiles)."""
    from .operators.corpus import length_quantiles

    return length_quantiles(_docs(spark, sf_dir))


def oracle_doc_length_quantiles():
    from .operators.corpus import length_quantiles_sql

    return length_quantiles_sql()


def q_doc_training_shuffle(spark, sf_dir):
    """Deterministic global shuffle + sharding for training order: pos =
    rank of md5(doc_id‖seed) within shard, one shuffle on the shard key,
    never a global ORDER BY (operators/sampling.training_shuffle)."""
    from .operators.sampling import training_shuffle

    return training_shuffle(_docs(spark, sf_dir), n_shards=16, seed=0)


def oracle_doc_training_shuffle():
    from .operators.sampling import training_shuffle_sql

    return training_shuffle_sql(n_shards=16, seed=0)


def q_doc_topk_per_source(spark, sf_dir):
    """Top-10 longest documents per source via the SALTED two-phase
    top-k (operators/corpus.grouped_topk) — local top-k per (group,
    salt) then re-rank the bounded survivors, the skew-safe shape when
    groups are few and huge.  The oracle is the naive single-window
    algorithm."""
    from .operators.corpus import grouped_topk

    return grouped_topk(_docs(spark, sf_dir), k=10)


def oracle_doc_topk_per_source():
    from .operators.corpus import grouped_topk_sql

    return grouped_topk_sql(k=10)


def q_doc_training_mix(spark, sf_dir):
    """End-to-end curation mix: temperature-0.5 resample to a half-size
    budget, then the deterministic sharded training order — the composed
    last mile (operators/sampling.training_mix)."""
    from .operators.sampling import training_mix

    return training_mix(
        _docs(spark, sf_dir), seed=0, budget_num=1, budget_den=2, n_shards=8
    )


def oracle_doc_training_mix():
    from .operators.sampling import training_mix_sql

    return training_mix_sql(seed=0, budget_num=1, budget_den=2, n_shards=8)


# ------------------------------------------------------ round-6 monitoring


def q_cdc_hot_keys(spark, sf_dir):
    """Skew diagnostics: top-20 hottest conversation keys by change
    volume with their share of total traffic — one map-side-partial key
    aggregation, a 1-row broadcast total, top-k via
    TakeOrderedAndProject (operators/apply.hot_keys)."""
    from .operators.apply import hot_keys

    return hot_keys(dedup_lsn(changelog_df(spark, sf_dir)), k=20)


def oracle_cdc_hot_keys():
    from .operators.apply import hot_keys_sql

    return f"WITH dedup AS ({spec.dedup_sql('duckdb')})" + hot_keys_sql(
        rel="dedup", k=20
    )


def q_doc_perplexity(spark, sf_dir):
    """Unigram LM perplexity per document (CCNet-shape quality filter,
    corpus as its own LM): vocabulary via one uniform-key aggregation,
    broadcast log-prob join back onto the token stream, exact
    nano-nat-integer partials so the per-doc sum is order-free
    (operators/corpus.unigram_perplexity)."""
    from .operators.corpus import unigram_perplexity

    return unigram_perplexity(_docs(spark, sf_dir))


def oracle_doc_perplexity():
    from .operators.corpus import unigram_perplexity_sql

    return unigram_perplexity_sql()


def q_events_anomalies(spark, sf_dir):
    """Hourly volume anomaly detection: |z| >= 2 hours per event type,
    z from exact-bigint moments + one correctly-rounded sqrt — the CDC
    burst/outage monitoring query
    (operators/sessionize.hourly_anomalies)."""
    from .operators.sessionize import hourly_anomalies

    _events(spark, sf_dir)
    return hourly_anomalies(spark.table("events"), z_thresh=2.0)


def oracle_events_anomalies():
    from .operators.sessionize import hourly_anomalies_sql

    return hourly_anomalies_sql(z_thresh=2.0, rel="events")


def q_cdc_preimage_audit(spark, sf_dir):
    """UPDATE before-image integrity over the DECODED binary stream:
    per key in LSN order, every update's decoded before-image must equal
    the previous event's effective image — one key-window exchange + a
    per-table collapse.  The oracle states the healthy-log expectation
    (ok == n_updates, bad == 0) from the spec; the Spark side earns it
    from the wire bytes (operators/apply.preimage_audit)."""
    from .operators.apply import preimage_audit

    return preimage_audit(decoded_binary_df(spark, sf_dir))


def oracle_cdc_preimage_audit():
    from .operators.apply import preimage_audit_sql

    return f"WITH dedup AS ({spec.dedup_sql('duckdb')})" + preimage_audit_sql(
        rel="dedup"
    )


def q_doc_winnow(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. 2003 / MOSS): per-window
    minima over word 4-gram hashes, window 4 — local document sampling
    with a shared-run detection guarantee; zero exchanges before the
    (doc_id, fp) explode (operators/dedup.winnow_fingerprints)."""
    from .operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=4, w=4)


def oracle_doc_winnow():
    from .operators.dedup import winnow_fingerprints_sql

    return winnow_fingerprints_sql(k=4, w=4)


def q_doc_winnow_neardup(spark, sf_dir):
    """MOSS detection stage: candidate pairs sharing >= 3 winnowing
    fingerprints after the stop-gram prune (df <= 20), scored by
    containment — catches LOCAL shared runs whole-document Jaccard
    dilutes away (operators/dedup.winnow_neardup)."""
    from .operators.dedup import winnow_neardup

    return winnow_neardup(_docs(spark, sf_dir), k=4, w=4, t=3, max_df=20)


def oracle_doc_winnow_neardup():
    from .operators.dedup import winnow_neardup_sql

    return winnow_neardup_sql(k=4, w=4, t=3, max_df=20)


def q_corpus_cross_source(spark, sf_dir):
    """Cross-source contamination matrix: shared winnowing-fingerprint
    mass per source pair — the governance report reviewed before mixing
    sources; per-fp fan-out bounded by |sources|²
    (operators/dedup.cross_source_matrix)."""
    from .operators.dedup import cross_source_matrix

    return cross_source_matrix(_docs(spark, sf_dir), k=4, w=4)


def oracle_corpus_cross_source():
    from .operators.dedup import cross_source_matrix_sql

    return cross_source_matrix_sql(k=4, w=4)


def q_corpus_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth over 20 doc_id buckets: each token
    counted once at its first document (one uniform-key min agg), the
    running sum windows over 20 rows — never a global corpus sort
    (operators/corpus.vocab_growth)."""
    from .operators.corpus import vocab_growth

    return vocab_growth(_docs(spark, sf_dir), n_buckets=20)


def oracle_corpus_vocab_growth():
    from .operators.corpus import vocab_growth_sql

    return vocab_growth_sql(n_buckets=20)


def q_cdc_txn_stats(spark, sf_dir):
    """Transaction-shape summary over the deduped changelog: per-xid
    event counts and table spread via one uniform-key aggregation, then
    a one-row exact-integer collapse — the oversized-transaction /
    multi-table-scope alert source (operators/apply.txn_stats)."""
    from .operators.apply import txn_stats

    return txn_stats(dedup_lsn(changelog_df(spark, sf_dir)))


def oracle_cdc_txn_stats():
    from .operators.apply import txn_stats_sql

    return f"WITH dedup AS ({spec.dedup_sql('duckdb')})" + txn_stats_sql(
        rel="dedup"
    )


def q_emb_cluster_stats(spark, sf_dir):
    """IVF index health: per-cell population + mean cosine to the
    Lloyd-refined centroid (quantized-int sums, merge-order-invariant) —
    the nlist-sizing / re-train report
    (operators/similarity.ivf_cluster_stats)."""
    from .operators.similarity import (
        ivf_centroid_ids,
        ivf_cluster_stats,
        ivf_lloyd_refine,
    )

    embs = _embs(spark, sf_dir)
    ids = ivf_centroid_ids(IVF_CELLS)
    seeds = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in embs.filter(F.col("vec_id").isin(ids)).collect()
    )
    cents = ivf_lloyd_refine(embs, seeds, iters=IVF_LLOYD_ITERS, dim=EMB_DIM)
    return ivf_cluster_stats(embs, cents)


def oracle_emb_cluster_stats():
    from .operators.similarity import IVF_SCALE

    cos_ac = _duck_cos("e.embedding", "c.cvec")
    # exact-integer quantized cosine for the REPORTED mean (see
    # similarity.ivf_cluster_stats): centroid trunc-divided to |cq|<=1e6,
    # vector at the Lloyd quantum -- every product/partial sum an exact
    # integer < 2^53, so the double dot is order-invariant and
    # bit-identical to Spark's.
    cos_q = _duck_cos("s.iv", "cq.cq")
    cents_cte, cent_rel = _ivf_lloyd_cents_cte(IVF_LLOYD_ITERS)
    return f"""
    WITH {cents_cte}, cent AS (
      SELECT cell, cvec FROM {cent_rel}
    ), centq AS (
      SELECT cell,
             list_transform(cvec, x -> CAST(
               CASE WHEN x >= 0
                    THEN CAST(round(x) AS BIGINT) // d
                    ELSE -(CAST(round(-x) AS BIGINT) // d) END AS DOUBLE))
               AS cq
      FROM (
        SELECT cell, cvec,
               GREATEST(CAST(round(list_max(
                 list_transform(cvec, x -> abs(x)))) AS BIGINT), 1)
                 // 1000000 + 1 AS d
        FROM cent)
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round({cos_ac}, 4) DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ), scored AS (
      SELECT a.cell,
             CAST(round(round({cos_q}, 4) * 1e4) AS BIGINT) AS q
      FROM assign a
      JOIN (SELECT vec_id,
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * {IVF_SCALE})
                               AS DOUBLE)) AS iv
            FROM embeddings) s USING (vec_id)
      JOIN centq cq USING (cell)
    )
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           round(SUM(q) / (COUNT(*) * 1e4), 6) AS avg_cos
    FROM scored GROUP BY cell
    """


def q_cdc_key_lifecycle(spark, sf_dir):
    """Per-table live/dead key reconciliation from the log alone — the
    invariant MERGE must reproduce (n_live == final row count), via one
    key-partitioned max_by collapse (operators/apply.key_lifecycle)."""
    from .operators.apply import key_lifecycle

    return key_lifecycle(dedup_lsn(changelog_df(spark, sf_dir)))


def oracle_cdc_key_lifecycle():
    from .operators.apply import key_lifecycle_sql

    return f"WITH dedup AS ({spec.dedup_sql('duckdb')})" + key_lifecycle_sql(
        rel="dedup"
    )


def q_cdc_corpus_bridge(spark, sf_dir):
    """The end-to-end composition the engine exists for: applied CDC
    state → one candidate training document per conversation (rendered
    text → token count, quality score, dedup fingerprint) — render's
    single conv-key exchange plus a narrow JVM text projection
    (operators/conversation.corpus_bridge)."""
    from .operators.conversation import corpus_bridge

    return corpus_bridge(q_cdc_final_state(spark, sf_dir))


def oracle_cdc_corpus_bridge():
    from .operators.conversation import corpus_bridge_sql

    return f"WITH fs AS ({spec.final_state_sql('duckdb')})" + corpus_bridge_sql()


def q_doc_dedup_keep(spark, sf_dir):
    """Dedup as a transformation: the kept corpus after near-dup
    clustering (canonical member per cluster + all un-clustered docs) —
    tiny drop-list LEFT ANTI prune, the corpus never reshuffles
    (operators/dedup.dedup_keep)."""
    from .operators.dedup import dedup_keep

    return dedup_keep(
        _docs(spark, sf_dir), k=MINHASH_K, rows_per_band=2,
        shingle_n=SHINGLE_N, threshold=JACCARD_T,
    )


def oracle_doc_dedup_keep():
    clusters = oracle_doc_dedup_clusters()
    return f"""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    LEFT JOIN (
      SELECT doc_id FROM ({clusters}) c WHERE doc_id <> canonical_id
    ) drop_list USING (doc_id)
    WHERE drop_list.doc_id IS NULL
    """


def q_doc_split(spark, sf_dir):
    """Deterministic train/val/test assignment on the shared hash
    fraction: stable under re-runs, repartitioning, and corpus growth
    (a doc's split never changes as others arrive — the leakage-safety
    property random splits lack); stateless per-row projection, zero
    exchanges (operators/sampling.train_val_test_split)."""
    from .operators.sampling import train_val_test_split

    return train_val_test_split(_docs(spark, sf_dir), val=0.1, test=0.1)


def oracle_doc_split():
    from .operators.sampling import train_val_test_split_sql

    return train_val_test_split_sql(val=0.1, test=0.1)


def q_doc_perplexity_bigram(spark, sf_dir):
    """Bigram conditional cross-entropy per document (the conditional
    upgrade over doc_perplexity): narrow zip_with pair extraction, two
    broadcast count-vocabulary joins, one doc-key collapse with exact
    nano-nat integer partials (operators/corpus.bigram_perplexity)."""
    from .operators.corpus import bigram_perplexity

    return bigram_perplexity(_docs(spark, sf_dir))


def oracle_doc_perplexity_bigram():
    from .operators.corpus import bigram_perplexity_sql

    return bigram_perplexity_sql()


def q_doc_curation_funnel(spark, sf_dir):
    """The whole-pipeline summary a curation run reports: per-gate drop
    counts over the full corpus (exact-dup extras, near-dup non-canonical
    members, quality failures, contaminated docs) and the final kept
    count after removing the UNION of all drop sets.  Every gate is the
    already-oracle-verified operator; the corpus-sized side of each is
    a broadcast-able drop list, so the final prune is four anti-joins
    that never reshuffle the corpus."""
    from .operators.dedup import dedup_clusters, decontaminate

    docs = _docs(spark, sf_dir)
    fp = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    can = fp.groupBy("fp").agg(F.min("doc_id").alias("cid"))
    drop_exact = (
        fp.join(can, "fp").filter(F.col("doc_id") != F.col("cid"))
        .select("doc_id")
    )
    cl = dedup_clusters(
        docs, k=MINHASH_K, rows_per_band=2,
        shingle_n=SHINGLE_N, threshold=JACCARD_T,
    )
    drop_near = (
        cl.filter(F.col("doc_id") != F.col("canonical_id")).select("doc_id")
    )
    v = T.quality_verdict(F.col("text"))
    drop_quality = docs.filter(~v["passes"]).select("doc_id")
    bench = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    drop_contam = decontaminate(docs, bench, ngram_n=DECON_N).select("doc_id")
    kept = docs.select("doc_id")
    for d in (drop_exact, drop_near, drop_quality, drop_contam):
        kept = kept.join(d, "doc_id", "left_anti")

    def cnt(d):
        return d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    return (
        cnt(docs).select(F.col("n").alias("n_raw"))
        .crossJoin(F.broadcast(cnt(drop_exact).select(F.col("n").alias("n_exact_dropped"))))
        .crossJoin(F.broadcast(cnt(drop_near).select(F.col("n").alias("n_neardup_dropped"))))
        .crossJoin(F.broadcast(cnt(drop_quality).select(F.col("n").alias("n_quality_fail"))))
        .crossJoin(F.broadcast(cnt(drop_contam).select(F.col("n").alias("n_contaminated"))))
        .crossJoin(F.broadcast(cnt(kept).select(F.col("n").alias("n_kept"))))
    )


def oracle_doc_curation_funnel():
    clusters = oracle_doc_dedup_clusters()
    contam = oracle_doc_decontaminate()
    passes = T.quality_verdict_sql("text")["passes"]
    fp = T.fingerprint_sql("text")
    return f"""
    WITH fpt AS (
      SELECT doc_id, {fp} AS fp FROM documents
    ), can AS (
      SELECT fp, MIN(doc_id) AS cid FROM fpt GROUP BY fp
    ), dx AS (
      SELECT doc_id FROM fpt JOIN can USING (fp) WHERE doc_id <> cid
    ), dn AS (
      SELECT doc_id FROM ({clusters}) c WHERE doc_id <> canonical_id
    ), dq AS (
      SELECT doc_id FROM documents WHERE NOT COALESCE({passes}, FALSE)
    ), dc AS (
      SELECT doc_id FROM ({contam}) x
    ), dropped AS (
      SELECT doc_id FROM dx UNION SELECT doc_id FROM dn
      UNION SELECT doc_id FROM dq UNION SELECT doc_id FROM dc
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_raw,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dx) AS n_exact_dropped,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dn) AS n_neardup_dropped,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dq) AS n_quality_fail,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_contaminated,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents d
             WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE doc_id = d.doc_id))
             AS n_kept
    """


def q_events_entropy(spark, sf_dir):
    """Per-user event-type Shannon entropy (the bot-vs-organic
    behavioral signature): exact nano-nat integer partials, one
    (user,type) agg + one user collapse
    (operators/sessionize.user_entropy)."""
    from .operators.sessionize import user_entropy

    _events(spark, sf_dir)
    return user_entropy(spark.table("events"))


def oracle_events_entropy():
    from .operators.sessionize import user_entropy_sql

    return user_entropy_sql(rel="events")


def q_doc_lang_confusion(spark, sf_dir):
    """Declared-vs-detected language agreement matrix — the metadata
    governance report (which sources mislabel language, how often):
    the n-gram detector against the corpus's own lang column, one tiny
    (declared, detected) aggregation."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            F.col("lang").alias("declared"),
            T.predicted_lang(F.col("text")).alias("detected"),
        )
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def oracle_doc_lang_confusion():
    return f"""
    SELECT lang AS declared, {T.predicted_lang_sql('text')} AS detected,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2
    """


def _half_log_ord(spark: SparkSession) -> int:
    """LSN ord of the mid-log cut, derived from max(event_id) exactly the
    way spec.changelog_sql derives (log_file, log_pos) — shared with the
    DuckDB twin so both engines cut at the identical position."""
    m = spark.sql("SELECT max(event_id) AS m FROM events").first()["m"]
    e = int(m) // 2
    return ((1 + e // spec.EVENTS_PER_FILE) << 20) + (
        4 + (e % spec.EVENTS_PER_FILE) * spec.ROW_EVENT_STRIDE
    )


def q_cdc_bridge_incremental(spark, sf_dir):
    """Incremental training-data refresh: re-render ONLY conversations
    touched after the mid-log cut, from the final state — the
    materialized-view-maintenance pattern that keeps the CDC→corpus
    bridge fresh at 100 TB (touched convs are a sliver of the table;
    the semi-join prunes the render input before its one conv-key
    exchange).  The cut is log-relative (half of max event_id) so the
    query is meaningful at every scale."""
    from .operators.conversation import corpus_bridge

    df = filter_tables(
        dedup_lsn(changelog_df(spark, sf_dir)),
        include=[("app", "transcripts")],
    ).withColumn("ord", _lsn_ord())
    a = _half_log_ord(spark)
    touched = (
        df.filter(F.col("ord") > a).select("conv_id").distinct()
    )
    w = last_writer(df, key_cols=KEY_COLS, payload_cols=PAYLOAD_COLS)
    state = final_state(w, PAYLOAD_COLS, KEY_COLS)
    return corpus_bridge(state.join(touched, "conv_id", "left_semi"))


def oracle_cdc_bridge_incremental():
    from .operators.conversation import corpus_bridge_sql

    epf, stride = spec.EVENTS_PER_FILE, spec.ROW_EVENT_STRIDE
    bridge = corpus_bridge_sql(rel="fs")
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}),
    cut AS (
      SELECT ((1 + ((MAX(event_id) // 2) // {epf})) << 20)
             + (4 + ((MAX(event_id) // 2) % {epf}) * {stride}) AS a
      FROM events
    ), base AS (
      SELECT *,
             (CAST(substr(log_file, 8) AS BIGINT) << 20) + log_pos AS ord
      FROM dedup
      WHERE schema_name = 'app' AND table_name = 'transcripts'
    ), touched AS (
      SELECT DISTINCT conv_id FROM base WHERE ord > (SELECT a FROM cut)
    ), ranked AS (
      SELECT t.*, ROW_NUMBER() OVER (
               PARTITION BY conv_id, turn_idx ORDER BY ord DESC) AS rn
      FROM base t
    ), fs AS (
      SELECT conv_id, turn_idx, role, text, tool, tool_version, ts
      FROM ranked
      WHERE rn = 1 AND action <> 'delete'
        AND conv_id IN (SELECT conv_id FROM touched)
    ){bridge}
    """


def q_emb_ivf_recall(spark, sf_dir):
    """ANN quality measured, not asserted: per-query recall@k of the IVF
    index against the exact brute-force top-k — the standard ANN
    acceptance metric; both sides are the already-verified operators,
    the compare is one tiny join over 5·k rows."""
    exact = q_emb_cosine_knn(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_emb_ivf_knn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hit = exact.join(
        approx,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count("an").cast("bigint").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )


def oracle_emb_ivf_recall():
    exact = oracle_emb_cosine_knn()
    approx = oracle_emb_ivf_knn()
    return f"""
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           round(COUNT(a.neighbor_id) / COUNT(*), 4) AS recall
    FROM ({exact}) e
    LEFT JOIN ({approx}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


def q_corpus_token_budget(spark, sf_dir):
    """The curation budget table: per-source document counts, whitespace
    and REAL-BPE token totals (exact integer sums), and each source's
    share of the corpus BPE budget — the numbers a data-mix decision is
    made from.  One source-key aggregation + a 1-row broadcast total."""
    docs = _docs(spark, sf_dir)
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(T.ws_token_count(F.col("text")).cast("bigint"))
        .cast("bigint").alias("ws_tokens"),
        F.sum(T.bpe_token_count(F.col("text")).cast("bigint"))
        .cast("bigint").alias("bpe_tokens"),
    )
    total = per.agg(F.sum("bpe_tokens").alias("t"))
    return per.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "ws_tokens", "bpe_tokens",
        F.round(F.col("bpe_tokens") / F.col("t"), 6).alias("bpe_share"),
    )


def oracle_corpus_token_budget():
    ws = f"len(regexp_split_to_array(trim(text), '{T.WS}'))"
    bpe = T.bpe_token_count_sql("text")
    return f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM({ws}) AS BIGINT) AS ws_tokens,
             CAST(SUM({bpe}) AS BIGINT) AS bpe_tokens
      FROM documents GROUP BY source
    ), t AS (SELECT SUM(bpe_tokens) AS t FROM per)
    SELECT source, n_docs, ws_tokens, bpe_tokens,
           round(bpe_tokens / t, 6) AS bpe_share
    FROM per CROSS JOIN t
    """


def q_events_session_stats(spark, sf_dir):
    """One-row session-shape summary (count, bounce rate, exact-integer
    duration/event averages) over the 30-minute-gap sessionizer — the
    engagement report (operators/sessionize.session_stats)."""
    from .operators.sessionize import session_stats

    _events(spark, sf_dir)
    return session_stats(spark.table("events"))


def oracle_events_session_stats():
    from .operators.sessionize import session_stats_sql

    return session_stats_sql(rel="events")


def q_doc_quality_by_source(spark, sf_dir):
    """Per-source perplexity percentiles by nearest-rank (exact integer
    selection, no interpolation) — which sources drag the corpus
    (operators/corpus.quality_by_source)."""
    from .operators.corpus import quality_by_source

    return quality_by_source(_docs(spark, sf_dir))


def oracle_doc_quality_by_source():
    from .operators.corpus import quality_by_source_sql

    return quality_by_source_sql()


def q_doc_dup_by_source(spark, sf_dir):
    """Per-source duplication governance: how much of each source sits
    in a near-dup cluster, and how much a dedup pass would drop —
    cluster membership (tiny vs the corpus) left-joined onto docs, one
    source-key collapse."""
    from .operators.dedup import dedup_clusters

    docs = _docs(spark, sf_dir)
    cl = dedup_clusters(
        docs, k=MINHASH_K, rows_per_band=2,
        shingle_n=SHINGLE_N, threshold=JACCARD_T,
    ).select("doc_id", "canonical_id")
    j = docs.select("doc_id", "source").join(cl, "doc_id", "left")
    in_cl = F.col("canonical_id").isNotNull()
    dropped = in_cl & (F.col("doc_id") != F.col("canonical_id"))
    n = F.count(F.lit(1))
    return j.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        F.sum(in_cl.cast("bigint")).alias("n_clustered"),
        F.sum(dropped.cast("bigint")).alias("n_dropped"),
        F.round(F.sum(dropped.cast("bigint")) * 100.0 / n, 6)
        .alias("drop_pct"),
    )


def oracle_doc_dup_by_source():
    clusters = oracle_doc_dedup_clusters()
    return f"""
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clustered,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL
                          AND c.doc_id <> c.canonical_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           round(SUM(CASE WHEN c.doc_id IS NOT NULL
                           AND c.doc_id <> c.canonical_id
                          THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 6)
             AS drop_pct
    FROM documents d
    LEFT JOIN ({clusters}) c ON c.doc_id = d.doc_id
    GROUP BY d.source
    """


def q_cdc_orphan_keys(spark, sf_dir):
    """Mid-stream-capture audit: per-table key counts by FIRST logged
    action over the deduped changelog — updates/deletes on keys the log
    never saw inserted are the missing-snapshot signal MERGE's
    upsert fallback silently absorbs (operators/apply.orphan_keys)."""
    from .operators.apply import orphan_keys

    return orphan_keys(dedup_lsn(changelog_df(spark, sf_dir)))


def oracle_cdc_orphan_keys():
    from .operators.apply import orphan_keys_sql

    return f"WITH dedup AS ({spec.dedup_sql('duckdb')})" + orphan_keys_sql(
        rel="dedup"
    )


def q_events_attribution(spark, sf_dir):
    """First-touch attribution: purchases credited to the user's
    earliest acquisition touch via ONE running window over the user
    partition — no per-conversion as-of join, value folded as exact
    integer cents (operators/sessionize.first_touch_attribution)."""
    from .operators.sessionize import first_touch_attribution

    _events(spark, sf_dir)
    return first_touch_attribution(spark.table("events"))


def oracle_events_attribution():
    from .operators.sessionize import first_touch_attribution_sql

    return first_touch_attribution_sql(rel="events")


CONTAIN_T = 0.9


def q_doc_ngram_containment(spark, sf_dir):
    """Directed n-gram containment near-dup (quote/subset duplication
    Jaccard dilutes away): one-sided prefix filtering — the contained
    side explodes only PPJoin prefixes, the container side its full
    shingle set — then exact verify on candidates only
    (operators/dedup.containment_pairs_exact)."""
    from .operators.dedup import containment_pairs_exact

    return containment_pairs_exact(
        _docs(spark, sf_dir), shingle_n=SHINGLE_N, threshold=CONTAIN_T
    )


def oracle_doc_ngram_containment():
    return f"""
    WITH sh AS (
      SELECT doc_id, {T.word_shingles_sql('text', SHINGLE_N)} AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= {CONTAIN_T}
    """


# Residual encoding (classic IVFADC quantizes r = x − centroid) is
# deliberately NOT used here, by measurement not doctrine: this corpus's
# Lloyd cluster-means have norm ≈0.33 vs unit vectors, so residuals keep
# ≈94% of the vector norm (√(1−0.33²)) — the residual codebook would see
# nearly the same geometry and recover ~nothing, while the oracle SQL
# would grow a per-row centroid subtraction.  On clustered real
# embeddings (centroid norms near 1) residual encoding is the first
# upgrade to make, in ivfpq_knn's encode step.
# M=16 subdim-4 subspaces × 16 codes: 16 B/vector vs 256 B raw (16×).
# Swept at sf0.01 against exact top-10: (M=4,K=8) 0.14, (8,16) 0.12,
# (16,16) 0.46 — near-uniform unit vectors are PQ's hardest case
# (no cluster structure; distances concentrate), so finer subspaces
# beat more codes; 0.46 is in the measured IVF band (emb_ivf_recall).
PQ_M = 16       # subspaces (codes per vector)
PQ_CODES = 16   # codebook entries per subspace
PQ_SUBDIM = EMB_DIM // PQ_M


def _pq_setup(spark, sf_dir):
    """(corpus, query set, deterministic codebooks) shared by the PQ rows."""
    from .operators.similarity import pq_codebooks, pq_seed_ids

    embs = _embs(spark, sf_dir)
    ids = pq_seed_ids(PQ_CODES)
    seeds = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in embs.filter(F.col("vec_id").isin(ids)).collect()
    )
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return embs, queries, pq_codebooks(seeds, PQ_M, EMB_DIM)


def q_emb_pq_knn(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011): corpus stored as
    PQ_M small codes (16× less memory than raw vectors), queries exact,
    ranking by asymmetric-distance inner product against codebook
    reconstructions — the memory-bound complement to IVF's compute
    bound.  Codebooks from the deterministic IVF-style seeds so the
    oracle replays them (operators/similarity.pq_knn)."""
    from .operators.similarity import pq_knn

    embs, queries, codebooks = _pq_setup(spark, sf_dir)
    return pq_knn(embs, queries, codebooks, k=KNN_K)


def oracle_emb_pq_knn(k: int = KNN_K):
    sd = PQ_SUBDIM
    sub = (
        f"list_transform((embedding)[t.m*{sd}+1 : t.m*{sd}+{sd}], "
        f"x -> CAST(x AS DOUBLE))"
    )
    l2 = (
        "round(list_dot_product(s.sv, s.sv)"
        " - 2*list_dot_product(s.sv, cb.cv)"
        " + list_dot_product(cb.cv, cb.cv), 4)"
    )
    # ordered m = 0..M-1 pivot adds — the same left-to-right binary64
    # sequence the Spark side emits
    adds = " + ".join(
        f"MAX(CASE WHEN m = {mm} THEN v END)" for mm in range(PQ_M)
    )
    return f"""
    WITH cb AS (
      SELECT t.m, CAST(vec_id // 7 AS INT) AS j, {sub} AS cv
      FROM embeddings, range(0, {PQ_M}) t(m)
      WHERE vec_id % 7 = 0 AND vec_id < {7 * PQ_CODES}
    ), subs AS (
      SELECT vec_id, t.m, {sub} AS sv
      FROM embeddings, range(0, {PQ_M}) t(m)
    ), enc AS (
      SELECT vec_id, m, j FROM (
        SELECT s.vec_id, s.m, cb.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {l2} ASC, cb.j ASC) AS rn
        FROM subs s JOIN cb ON cb.m = s.m
      ) WHERE rn = 1
    ), terms AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.m,
             list_dot_product(q.sv, cb.cv) AS v
      FROM subs q
      JOIN enc e ON e.vec_id <> q.vec_id AND q.m = e.m
      JOIN cb ON cb.m = e.m AND cb.j = e.j
      WHERE q.vec_id < {KNN_QUERIES}
    ), scored AS (
      SELECT query_id, neighbor_id, round({adds}, 4) AS adc_ip
      FROM terms GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_ip, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_ip DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def q_cdc_gtid_gaps(spark, sf_dir):
    """GTID continuity audit per replication source: distinct GNO count
    vs the [min, max] span — every missing GNO is a transaction the
    stream LOST (filtered upstream, purged log, or a failed fetch), the
    replication-integrity alarm a multi-source consumer runs before
    trusting a resume point.  Spark earns the numbers from the decoded
    wire bytes (the kernel's gtid lineage column); the oracle restates
    them from the fixture spec's xid↔GNO mapping.  One |SIDs|-row
    aggregate with map-side partials — nothing scales with the log
    (operators/apply.gtid_gaps)."""
    from .operators.apply import gtid_gaps

    return gtid_gaps(decoded_binary_df(spark, sf_dir))


def oracle_cdc_gtid_gaps():
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}), p AS (
      SELECT split_part({spec.gtid_expr('duckdb', 'xid')}, ':', 1) AS sid,
             CAST(split_part({spec.gtid_expr('duckdb', 'xid')}, ':', 2)
               AS BIGINT) AS gno
      FROM dedup
    )
    SELECT sid, CAST(COUNT(DISTINCT gno) AS BIGINT) AS n_txns,
           MIN(gno) AS gno_min, MAX(gno) AS gno_max,
           CAST(MAX(gno) - MIN(gno) + 1 - COUNT(DISTINCT gno) AS BIGINT)
             AS n_gaps
    FROM p GROUP BY 1
    """


def q_emb_pq_recall(spark, sf_dir):
    """PQ quality measured, not asserted: per-query recall@k of the
    PQ-ADC ranking against the exact brute-force top-k — quantifies
    what 16× memory compression costs in ranking fidelity (the number a
    PQ deployment is accepted or rejected on).  Both sides are the
    already-verified operators; the compare is one tiny join."""
    exact = q_emb_cosine_knn(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_emb_pq_knn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hit = exact.join(
        approx,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count("an").cast("bigint").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )


def oracle_emb_pq_recall():
    exact = oracle_emb_cosine_knn()
    approx = oracle_emb_pq_knn()
    return f"""
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           round(COUNT(a.neighbor_id) / COUNT(*), 4) AS recall
    FROM ({exact}) e
    LEFT JOIN ({approx}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


# Shortlist swept at sf0.01 (n=500, k=10) against exact top-10:
# S=25 → 0.64, S=50 → 0.74, S=100 → 0.92, S=200 → 0.96, S=400 → 1.00
# (vs 0.46 for PQ alone at the same M/K) — recall is governed by
# whether the true top-k survives into the ADC top-S, so at corpus
# scale S stays a per-query constant while n grows and the rerank cost
# (Q×S exact cosines) is unchanged.  Default S=50 = 10% of this tiny
# test corpus; production tunes S to the recall target, not to n.
PQ_SHORTLIST = 50  # ADC candidates per query fed to the exact re-rank


def q_emb_pq_rerank(spark, sf_dir):
    """Two-stage production ANN: PQ-ADC shortlist (top-PQ_SHORTLIST per
    query from 16×-compressed codes) → exact cosine re-rank of only
    those candidates.  Recovers most of the recall PQ alone loses
    (measured: emb_pq_rerank_recall vs emb_pq_recall) while the
    full-precision vectors are touched for ≤ Q×PQ_SHORTLIST rows — the
    corpus scan itself stays shuffle-free in both stages
    (operators/similarity.pq_rerank_knn)."""
    from .operators.similarity import pq_rerank_knn

    embs, queries, codebooks = _pq_setup(spark, sf_dir)
    return pq_rerank_knn(
        embs, queries, codebooks, k=KNN_K, shortlist=PQ_SHORTLIST
    )


def oracle_emb_pq_rerank():
    cand = oracle_emb_pq_knn(k=PQ_SHORTLIST)
    cos = _duck_cos("q.embedding", "n.embedding")
    return f"""
    WITH cand AS ({cand}), rescored AS (
      SELECT c.query_id, c.neighbor_id, round({cos}, 4) AS cos_sim
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM rescored
    ) WHERE rank <= {KNN_K}
    """


def q_emb_pq_rerank_recall(spark, sf_dir):
    """Recall@k of the reranked two-stage pipeline against exact
    brute-force — the acceptance number for shipping PQ+rerank in place
    of brute force.  Composes two already-verified rows; the compare is
    one tiny join."""
    exact = q_emb_cosine_knn(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_emb_pq_rerank(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hit = exact.join(
        approx,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count("an").cast("bigint").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )


def oracle_emb_pq_rerank_recall():
    exact = oracle_emb_cosine_knn()
    approx = oracle_emb_pq_rerank()
    return f"""
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           round(COUNT(a.neighbor_id) / COUNT(*), 4) AS recall
    FROM ({exact}) e
    LEFT JOIN ({approx}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


def q_emb_ivfpq_knn(spark, sf_dir):
    """IVF-PQ — the IVFADC architecture (what FAISS ships at billion
    scale): Lloyd-refined IVF cells bound WHICH candidates a query
    touches (nprobe/n_cells of the corpus), PQ codes bound the BYTES per
    candidate (16× less than raw vectors); ranking is ADC inner product
    inside the probed cells only.  Composes the two verified halves —
    same centroids as emb_ivf_knn, same codebooks as emb_pq_knn
    (operators/similarity.ivfpq_knn).  Measured recall@10 at sf0.01:
    0.38 (vs 0.58 IVF-only, 0.46 PQ-only — the losses compound, which
    is why production IVFADC layers an exact re-rank on top; see
    emb_pq_rerank for that stage)."""
    from .operators.similarity import (
        ivf_centroid_ids,
        ivf_lloyd_refine,
        ivfpq_knn,
    )

    embs, queries, codebooks = _pq_setup(spark, sf_dir)
    ids = ivf_centroid_ids(IVF_CELLS)
    seeds = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in embs.filter(F.col("vec_id").isin(ids)).collect()
    )
    cents = ivf_lloyd_refine(embs, seeds, iters=IVF_LLOYD_ITERS, dim=EMB_DIM)
    return ivfpq_knn(
        embs, queries, cents, codebooks, k=KNN_K, nprobe=IVF_NPROBE
    )


def oracle_emb_ivfpq_knn(k: int = KNN_K):
    sd = PQ_SUBDIM
    cos_ac = _duck_cos("e.embedding", "c.cvec")
    cos_qc = _duck_cos("q.embedding", "c.cvec")
    cents_cte, cent_rel = _ivf_lloyd_cents_cte(IVF_LLOYD_ITERS)
    sub = (
        f"list_transform((embedding)[t.m*{sd}+1 : t.m*{sd}+{sd}], "
        f"x -> CAST(x AS DOUBLE))"
    )
    l2 = (
        "round(list_dot_product(s.sv, s.sv)"
        " - 2*list_dot_product(s.sv, cb.cv)"
        " + list_dot_product(cb.cv, cb.cv), 4)"
    )
    adds = " + ".join(
        f"MAX(CASE WHEN m = {mm} THEN v END)" for mm in range(PQ_M)
    )
    return f"""
    WITH {cents_cte}, cent AS (
      SELECT cell, cvec FROM {cent_rel}
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round({cos_ac}, 4) DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({cos_qc}, 4) DESC, c.cell) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < {KNN_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ), cb AS (
      SELECT t.m, CAST(vec_id // 7 AS INT) AS j, {sub} AS cv
      FROM embeddings, range(0, {PQ_M}) t(m)
      WHERE vec_id % 7 = 0 AND vec_id < {7 * PQ_CODES}
    ), subs AS (
      SELECT vec_id, t.m, {sub} AS sv
      FROM embeddings, range(0, {PQ_M}) t(m)
    ), enc AS (
      SELECT vec_id, m, j FROM (
        SELECT s.vec_id, s.m, cb.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {l2} ASC, cb.j ASC) AS rn
        FROM subs s JOIN cb ON cb.m = s.m
      ) WHERE rn = 1
    ), terms AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, e.m,
             list_dot_product(q.sv, cb.cv) AS v
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
      JOIN enc e ON e.vec_id = a.vec_id
      JOIN cb ON cb.m = e.m AND cb.j = e.j
      JOIN subs q ON q.vec_id = p.query_id AND q.m = e.m
    ), scored AS (
      SELECT query_id, neighbor_id, round({adds}, 4) AS adc_ip
      FROM terms GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_ip, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_ip DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def q_emb_ivfpq_recall(spark, sf_dir):
    """Recall@k of IVF-PQ against exact brute-force — isolates the
    compound loss (cell-miss × code-quantization) the two single-stage
    recall rows (emb_ivf_recall, emb_pq_recall) measure separately."""
    exact = q_emb_cosine_knn(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_emb_ivfpq_knn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hit = exact.join(
        approx,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count("an").cast("bigint").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )


def oracle_emb_ivfpq_recall():
    exact = oracle_emb_cosine_knn()
    approx = oracle_emb_ivfpq_knn()
    return f"""
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           round(COUNT(a.neighbor_id) / COUNT(*), 4) AS recall
    FROM ({exact}) e
    LEFT JOIN ({approx}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


def q_emb_ivfpq_rerank(spark, sf_dir):
    """The full production ANN stack (FAISS IVFPQ + refine): IVF prunes
    WHICH candidates, PQ prunes BYTES per candidate, ADC picks a
    top-PQ_SHORTLIST, exact cosine re-scores only those.  Measured
    recall@10 at sf0.01: 0.38 → **0.56** — essentially the 0.58 IVF
    cell-recall ceiling, i.e. the re-rank recovers nearly ALL the PQ
    quantization loss inside the probed cells; the residual gap is
    cell-miss, and the nprobe sweep proves the knob: 0.56 / 0.68 / 0.76
    / 0.74 at nprobe 4 / 8 / 12 / 16 (at full probe the S=50 shortlist
    becomes the binding constraint — 0.74, exactly pq_rerank's number).
    O(Q·S) exact work, corpus scan shuffle-free in every stage
    (operators/similarity.ivfpq_rerank_knn)."""
    from .operators.similarity import (
        ivf_centroid_ids,
        ivf_lloyd_refine,
        ivfpq_rerank_knn,
    )

    embs, queries, codebooks = _pq_setup(spark, sf_dir)
    ids = ivf_centroid_ids(IVF_CELLS)
    seeds = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in embs.filter(F.col("vec_id").isin(ids)).collect()
    )
    cents = ivf_lloyd_refine(embs, seeds, iters=IVF_LLOYD_ITERS, dim=EMB_DIM)
    return ivfpq_rerank_knn(
        embs, queries, cents, codebooks,
        k=KNN_K, nprobe=IVF_NPROBE, shortlist=PQ_SHORTLIST,
    )


def oracle_emb_ivfpq_rerank():
    cand = oracle_emb_ivfpq_knn(k=PQ_SHORTLIST)
    cos = _duck_cos("q.embedding", "n.embedding")
    return f"""
    WITH cand AS ({cand}), rescored AS (
      SELECT c.query_id, c.neighbor_id, round({cos}, 4) AS cos_sim
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM rescored
    ) WHERE rank <= {KNN_K}
    """


def q_emb_ivfpq_rerank_recall(spark, sf_dir):
    """Recall@k of the full three-stage stack vs exact brute force —
    the number that justifies shipping IVFPQ+refine over brute force."""
    exact = q_emb_cosine_knn(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_emb_ivfpq_rerank(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hit = exact.join(
        approx,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count("an").cast("bigint").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )


def oracle_emb_ivfpq_rerank_recall():
    exact = oracle_emb_cosine_knn()
    approx = oracle_emb_ivfpq_rerank()
    return f"""
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           round(COUNT(a.neighbor_id) / COUNT(*), 4) AS recall
    FROM ({exact}) e
    LEFT JOIN ({approx}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


def q_cdc_compaction(spark, sf_dir):
    """Lake maintenance under the oracle gate: after the multi-epoch
    replay fragments every bucket, ``compact(purge_tombstones=True)``
    rewrites the live buckets into one epoch and vacuums the superseded
    files — and the snapshot it serves afterwards must still hash-equal
    the spec's final state (compaction moves bytes, never data).  The
    query asserts the physical effect inline (exactly ≤1 live file per
    bucket post-compact, tombstones gone) before returning the snapshot
    (table.LakeTable.compact/vacuum)."""
    chunks = binlog_fixture_dir(spark, sf_dir)
    table = _transcripts_lake("mbs_lake_cmp_")
    replay_batch(
        spark, chunks, table, include=[("app", "transcripts")],
        files_per_epoch=2,
    )
    stats = table.compact(spark, purge_tombstones=True)
    assert not stats.get("skipped"), stats
    per_bucket = table.last_commit()["buckets"]
    assert max((len(fs) for fs in per_bucket.values()), default=0) <= 1, (
        "compaction left a fragmented bucket"
    )
    return table.snapshot_df(spark).select(*FINAL_COLS)


def oracle_cdc_compaction():
    # data-preservation contract: post-compaction snapshot == final state
    return spec.final_state_sql("duckdb")


def q_doc_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility (BPE tokens per whitespace word) per language
    — the standard tokenizer-evaluation metric: fertility far above the
    corpus mean flags languages the merge table underserves (their
    documents cost 2-5× the token budget per word).  Exact integer sums,
    one |langs|-row aggregate."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(T.ws_token_count(F.col("text")).cast("bigint"))
        .cast("bigint").alias("ws_tokens"),
        F.sum(T.bpe_token_count(F.col("text")).cast("bigint"))
        .cast("bigint").alias("bpe_tokens"),
        F.round(
            F.sum(T.bpe_token_count(F.col("text")).cast("bigint"))
            / F.sum(T.ws_token_count(F.col("text")).cast("bigint")),
            6,
        ).alias("fertility"),
    )


def oracle_doc_tokenizer_fertility():
    ws = f"len(regexp_split_to_array(trim(text), '{T.WS}'))"
    bpe = T.bpe_token_count_sql("text")
    return f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({ws}) AS BIGINT) AS ws_tokens,
           CAST(SUM({bpe}) AS BIGINT) AS bpe_tokens,
           round(SUM({bpe}) / SUM({ws}), 6) AS fertility
    FROM documents GROUP BY lang
    """


def q_corpus_heavy_hitters_cms(spark, sf_dir):
    """Count-min-sketch heavy hitters, audited: top-20 tokens by true
    count with the 4×1024 sketch's estimate alongside — est ≥ true row
    by row (the CMS guarantee) and overest measures collision inflation.
    The sketch builds in ONE bounded exchange (≤ d·w keys after map-side
    partials) and broadcasts — the frequency-estimate path that never
    shuffles the corpus on the token key
    (operators/corpus.cms_heavy_hitters)."""
    from .operators.corpus import cms_heavy_hitters

    return cms_heavy_hitters(_docs(spark, sf_dir), d=4, w=1024, k=20)


def oracle_corpus_heavy_hitters_cms():
    from .operators.corpus import cms_heavy_hitters_sql

    return cms_heavy_hitters_sql(d=4, w=1024, k=20)


def q_corpus_quantile_sketch(spark, sf_dir):
    """Mergeable quantile summary (Munro-Paterson sorted-run sampling),
    audited: p50/p90/p99 of document length estimated from an
    O(n_shards/eps) summary — each hash shard sorts locally and keeps
    every stride-th element with its exact local rank; merging is a
    union + one cumulative sum over the tiny summary.  The audit columns
    prove the deterministic guarantee row by row: rank_le(est) ≥ target
    (never undershoots) and rank_lt(est) ≤ target + bound.  No global
    sort ever touches the corpus — the sketch complement to exact
    doc_length_quantiles and the second member of the audited-sketch
    family with corpus_heavy_hitters_cms
    (operators/corpus.quantile_summary)."""
    from .operators.corpus import quantile_summary

    return quantile_summary(
        _docs(spark, sf_dir), value_col="n_chars", id_col="doc_id",
        eps=0.05, n_shards=4,
    )


def oracle_corpus_quantile_sketch():
    from .operators.corpus import quantile_summary_sql

    return quantile_summary_sql(
        value_col="n_chars", id_col="doc_id", eps=0.05, n_shards=4,
    )


WAMP_BUCKETS = 16


def q_cdc_write_amplification(spark, sf_dir):
    """MERGE write amplification, earned from the physical lake: per
    applied epoch, the logical winner rows (from the commit lineage) vs
    the PHYSICAL rows the bucket-rewrite strategy wrote (counted from
    the epoch's parquet footers — metadata only, no data scan).  The
    oracle restates every number analytically from the spec: rewritten
    rows(e) = keys first seen ≤ e living in buckets touched at e — so a
    hash-green row proves the engine's physical write behavior matches
    the model the bucket-count tuning math assumes.  The lake uses the
    md5 bucket-hash audit mode (LakeTable.create bucket_hash='md5') so
    bucket membership is cross-engine-reproducible; amplification is
    the number that says when n_buckets is too small (every epoch
    rewrites everything) or too large (tiny files).  maintain is
    disabled so every epoch's physical files survive for the audit."""
    import pyarrow.parquet as pq

    chunks = binlog_fixture_dir(spark, sf_dir)
    table = _transcripts_lake("mbs_lake_wamp_", n_buckets=WAMP_BUCKETS,
                              bucket_hash="md5")
    stats = replay_batch(
        spark, chunks, table, include=[("app", "transcripts")],
        files_per_epoch=1, maintain_every=None,
    )
    rows = []
    for idx, ep in enumerate(stats.epochs):
        changed = sum(v["rows"] for v in ep["lineage"].values())
        if changed == 0:
            continue
        written = sum(
            pq.ParquetFile(f).metadata.num_rows for f in ep["files"]
        )
        rows.append((
            idx, changed, ep["touched_buckets"], written,
            round(written / changed, 4),
        ))
    return spark.createDataFrame(
        rows,
        "epoch int, rows_changed bigint, buckets_touched int,"
        " rows_written bigint, amp double",
    )


def q_cdc_lake_time_travel(spark, sf_dir):
    """Manifest-level VERSION AS OF — the lake-side dual of
    cdc_time_travel's changelog reconstruction: every commit manifest is
    a complete snapshot description, so ``snapshot_df(at_commit=1)``
    reads the table exactly as it stood after the first epoch even
    though later epochs have since rewritten its buckets (files survive
    until vacuum — the Iceberg/Delta retention contract).  The oracle
    restates epoch 1's state from the spec; a hash-green row proves
    historical manifests replay bit-exact (table.LakeTable.commit_at /
    snapshot_df)."""
    chunks = binlog_fixture_dir(spark, sf_dir)
    table = _transcripts_lake("mbs_lake_tt_")
    replay_batch(
        spark, chunks, table, include=[("app", "transcripts")],
        files_per_epoch=1, maintain_every=None,
    )
    return table.snapshot_df(spark, at_commit=1).select(*FINAL_COLS)


def oracle_cdc_lake_time_travel():
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}),
    upto AS (
      SELECT * FROM dedup
      WHERE schema_name = 'app' AND table_name = 'transcripts'
        AND log_file = 'binlog.000001'
    ),
    ranked AS (
      SELECT u.*,
             ROW_NUMBER() OVER (
               PARTITION BY conv_id, turn_idx
               ORDER BY log_file DESC, log_pos DESC, server_id DESC) AS rn
      FROM upto u
    )
    SELECT conv_id, turn_idx, role, text, tool, tool_version, ts
    FROM ranked WHERE rn = 1 AND action <> 'delete'
    """


def q_cdc_quarantine(spark, sf_dir):
    """Corrupt-chunk quarantine, oracle-gated: copy the fixture log, add
    one chunk whose final frame's CRC byte is flipped, and run the
    ``validate_chunks`` pre-flight — per chunk (ok, rows, coarse
    deterministic reason).  The oracle restates the good chunks' exact
    row counts from the spec and the corrupt chunk as ('crc', 0 rows).
    The query also asserts inline that ``read_binlog(on_error='skip')``
    decodes exactly the good chunks' rows — the chunk is the atomicity
    unit, so a corrupt log degrades by whole chunks, never by silently
    partial ones (sources/binlog.validate_chunks / read_binlog)."""
    from .sources.binlog import validate_chunks

    chunks = binlog_fixture_dir(spark, sf_dir)
    qdir = tempfile.mkdtemp(prefix="mbs_quarantine_")
    names = sorted(fnmatch.filter(os.listdir(chunks), CHUNK_GLOB))
    for n in names:
        shutil.copy(os.path.join(chunks, n), qdir)
    data = bytearray(open(os.path.join(chunks, names[0]), "rb").read())
    data[-1] ^= 0xFF  # flip the final frame's stored CRC byte
    bad = "binlog.000099"
    with open(os.path.join(qdir, bad), "wb") as f:
        f.write(bytes(data))
    paths = [os.path.join(qdir, n) for n in names + [bad]]
    rep = validate_chunks(spark, paths, verify_crc=True)
    good_rows = read_binlog(
        spark, paths, verify_crc=True, on_error="skip"
    ).count()
    expect = decoded_binary_df(spark, sf_dir).count()
    assert good_rows == expect, (good_rows, expect)
    return rep


def oracle_cdc_quarantine():
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')})
    SELECT log_file AS chunk, true AS ok,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(NULL AS VARCHAR) AS reason
    FROM dedup GROUP BY log_file
    UNION ALL
    SELECT 'binlog.000099', false, 0, 'crc'
    """


def q_cdc_mor_replay(spark, sf_dir):
    """Merge-on-read replay under the oracle gate: the first two epochs
    apply copy-on-write (building a base), the rest apply as MOR deltas
    (merge_into mode='mor' — the write-optimized regime
    cdc_write_amplification motivates: O(epoch changes) write cost, no
    bucket rewrite).  The query asserts inline, from parquet footers,
    that every MOR epoch's physical write amplification is EXACTLY 1.0,
    then returns the snapshot WITH deltas outstanding — so the
    hash-green row proves the read-side max_by-over-LSN resolution
    across base + delta files reproduces the spec's final state
    bit-for-bit (table.LakeTable.snapshot_df; BENCH/MERGE.md two-regime
    analysis)."""
    import pyarrow.parquet as pq

    chunks = binlog_fixture_dir(spark, sf_dir)
    table = _transcripts_lake("mbs_lake_mor_")
    n_chunks = len(fnmatch.filter(os.listdir(chunks), CHUNK_GLOB))
    if n_chunks > 2:  # small fixtures (1 chunk) go all-MOR
        replay_batch(
            spark, chunks, table, include=[("app", "transcripts")],
            files_per_epoch=1, stop_after_epochs=2, maintain_every=None,
        )
    stats = replay_batch(
        spark, chunks, table, include=[("app", "transcripts")],
        files_per_epoch=1, maintain_every=None, merge_mode="mor",
    )
    applied_mor = 0
    for ep in stats.epochs:
        if ep.get("skipped"):
            continue
        applied_mor += 1
        changed = sum(v["rows"] for v in ep["lineage"].values())
        written = sum(
            pq.ParquetFile(f).metadata.num_rows for f in ep["files"]
        )
        assert written == changed, (
            f"MOR epoch {ep['epoch_id']} amplified: {written} != {changed}"
        )
    assert applied_mor > 0 and table.delta_files(), (
        "expected outstanding MOR deltas"
    )
    return table.snapshot_df(spark).select(*FINAL_COLS)


def oracle_cdc_mor_replay():
    return spec.final_state_sql("duckdb")


def oracle_cdc_write_amplification():
    from .functions.hashing import md5_bigint_sql

    b_ek = f"({md5_bigint_sql('e.conv_id')}) % {WAMP_BUCKETS}"
    b_kb = f"({md5_bigint_sql('conv_id')}) % {WAMP_BUCKETS}"
    return f"""
    WITH dedup AS ({spec.dedup_sql('duckdb')}), ch AS (
      SELECT conv_id, turn_idx,
             CAST(substr(log_file, 8) AS INT) - 1 AS epoch
      FROM dedup
      WHERE schema_name = 'app' AND table_name = 'transcripts'
    ), ek AS (
      SELECT DISTINCT epoch, conv_id, turn_idx FROM ch
    ), kb AS (
      SELECT conv_id, turn_idx, MIN(epoch) AS fe, {b_kb} AS bucket
      FROM ek GROUP BY conv_id, turn_idx
    ), tb AS (
      SELECT DISTINCT e.epoch, {b_ek} AS bucket FROM ek e
    ), changed AS (
      SELECT epoch, CAST(COUNT(*) AS BIGINT) AS rows_changed
      FROM ek GROUP BY epoch
    ), touched AS (
      SELECT epoch, CAST(COUNT(*) AS INT) AS buckets_touched
      FROM tb GROUP BY epoch
    ), written AS (
      SELECT t.epoch, CAST(COUNT(*) AS BIGINT) AS rows_written
      FROM kb k JOIN tb t ON t.bucket = k.bucket AND k.fe <= t.epoch
      GROUP BY t.epoch
    )
    SELECT c.epoch, c.rows_changed, tc.buckets_touched, w.rows_written,
           round(w.rows_written / c.rows_changed, 4) AS amp
    FROM changed c
    JOIN touched tc USING (epoch)
    JOIN written w USING (epoch)
    """

"""The full 16-type surface through the DataFrame source (VERDICT #1):
native Spark types from the decode source, zero-date policy, and
hash-parity with the DuckDB oracle at test scale."""

from __future__ import annotations

import fnmatch
import os

import pytest
from pyspark.sql import functions as F

from conftest import assert_frames_match
from mysql_binlog_spark import driver_queries as dq
from mysql_binlog_spark.fixtures.generator import typed_image_cols
from mysql_binlog_spark.sources.binlog import image_view, read_binlog


@pytest.fixture(scope="module")
def typed_chunks(spark, sf_dir):
    return dq.typed_fixture_dir(spark, sf_dir)


def typed_df(spark, typed_chunks):
    dec = read_binlog(
        spark,
        os.path.join(typed_chunks, "typed.*[0-9]"),
        image_cols=typed_image_cols(),
    )
    return image_view(dec, [n for n, _ in typed_image_cols()])


def test_source_schema_is_native(spark, typed_chunks):
    """DecimalType/DateType/FloatType/BinaryType etc. come OUT of the
    source — not post-hoc casts (the round-1 gap: 4/16 types mapped)."""
    df = typed_df(spark, typed_chunks)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {
        "row_id": "bigint", "c_tiny": "int", "c_utiny": "int",
        "c_short": "int", "c_int24": "int", "c_long": "int",
        "c_big": "bigint", "c_ubig": "decimal(20,0)", "c_float": "float",
        "c_double": "double", "c_dec": "decimal(12,3)", "c_date": "date",
        "c_dt": "string", "c_time": "string", "c_ts": "timestamp",
        "c_bit": "string", "c_enum": "string", "c_set": "string",
        "c_varchar": "string", "c_blob": "string", "c_bin": "binary",
        "c_json": "binary", "c_geom": "binary", "c_latin1": "string",
    }
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)


def test_native_values_spot_check(spark, typed_chunks):
    """Exact-type spot checks: unsigned BIGINT > 2^63-1 survives as an
    exact decimal, NEWDECIMAL scale is preserved, zero dates are NULL."""
    from decimal import Decimal

    df = typed_df(spark, typed_chunks)
    r = {x["row_id"]: x for x in df.filter(F.col("row_id").isin(5, 95)).collect()}
    assert r[5]["c_ubig"] == Decimal("9223372036854775813")
    assert r[5]["c_dec"] == Decimal("-0.185")
    assert str(r[5]["c_date"]) == "2023-06-06"
    assert r[5]["c_float"] == 5.5
    assert isinstance(r[5]["c_bin"], (bytes, bytearray))
    # e=95: 95%19=0 and 95%13!=0 → zero-date sentinel → NULL (SURVEY §7.8)
    assert r[95]["c_date"] is None
    # e=95: 95%5=0 → negative TIME2
    assert r[95]["c_time"].startswith("-")
    # JSON/GEOMETRY carried opaque through the BLOB fold (round-2 #1)
    assert bytes(r[5]["c_json"]) == b'{"id": 5, "tag": "t0"}'
    assert len(bytes(r[5]["c_geom"])) == 16
    # latin1 VARCHAR converted via Windows-1252 (Collation.php:984-1001)
    assert r[5]["c_latin1"] == "smörgås_5 €±ÿ"
    # NULL coverage of the new columns: e=115 → 115%23=0 → NULL JSON
    r115 = df.filter(F.col("row_id") == 115).collect()[0]
    assert r115["c_json"] is None
    assert df.filter(F.col("row_id") == 145).collect()[0]["c_latin1"] is None


def test_cdc_decode_types_matches_oracle(spark, ddb, sf_dir):
    """The driver-gate replica over the full 16-type query."""
    sdf = dq.q_cdc_decode_types(spark, sf_dir)
    odf = ddb.execute(dq.oracle_cdc_decode_types()).df()
    assert_frames_match(sdf, odf, "cdc_decode_types")


def test_discover_tables_full_types(spark, typed_chunks):
    """discover_tables maps every wire type (round-1 KeyError gap)."""
    from mysql_binlog_spark.sources.binlog import discover_tables

    m = discover_tables(spark, os.path.join(typed_chunks, "typed.*[0-9]"))
    cols = dict(m[("app", "typed")])
    assert cols["c_dec"] == "decimal(12,3)"
    assert cols["c_ubig"] == "decimal(20,0)"
    assert cols["c_date"] == "date"
    assert cols["c_bin"] == "binary"
    assert cols["c_float"] == "float"


def test_discovery_ignores_a_stale_sidecar(spark, sf_dir, tmp_path):
    """A chunk's schema comes from its own TABLE_MAP frames.  A stale
    frame-index file beside it — here one listing only the chunk's first
    TABLE_MAP, as a chunk repaired in place could leave behind — changes
    nothing: discovery equals the bare chunk's."""
    import json
    import shutil

    from mysql_binlog_spark.sources.binlog import CHUNK_GLOB, discover_tables
    from mysql_binlog_spark.wire import HEADER_LEN, TABLE_MAP_EVENT

    src = os.path.join(dq.binlog_fixture_dir(spark, sf_dir), "binlog.000001")
    data = open(src, "rb").read()
    # walk the frames after the 4-byte magic; a frame header is
    # ts u32, type u8, server_id u32, event size u32, ...
    off = 4
    while data[off + 4] != TABLE_MAP_EVENT:
        off += int.from_bytes(data[off + 9:off + 13], "little")
    size = int.from_bytes(data[off + 9:off + 13], "little")
    assert size > HEADER_LEN

    bare, stale = tmp_path / "bare", tmp_path / "stale"
    for d in (bare, stale):
        d.mkdir()
        shutil.copy(src, d)
    with open(stale / "binlog.000001.idx.json", "w") as f:
        json.dump([{"offset": off, "type": TABLE_MAP_EVENT, "size": size}], f)

    want = discover_tables(spark, str(bare / CHUNK_GLOB))
    assert len(want) > 1  # the first TABLE_MAP alone names one table
    assert discover_tables(spark, str(stale / CHUNK_GLOB)) == want


def _changelog_chunks(spark, out_dir, events_per_file=2000):
    from mysql_binlog_spark import spec
    from mysql_binlog_spark.fixtures.generator import generate_binlog_chunks
    from mysql_binlog_spark.sources.binlog import CHUNK_GLOB

    sf = os.environ.get("MBS_TEST_SF", "/root/testdata/sf0.001")
    spark.read.parquet(os.path.join(sf, "events.parquet")) \
        .createOrReplaceTempView("events")
    changelog = spark.sql(
        spec.changelog_sql("spark", with_duplicates=False,
                           events_per_file=events_per_file)
    )
    os.makedirs(out_dir)
    generate_binlog_chunks(changelog, out_dir)
    return sorted(fnmatch.filter(os.listdir(out_dir), CHUNK_GLOB))


def test_validate_chunks_reason_taxonomy(spark, tmp_path):
    """The quarantine report's coarse reasons are deterministic classes:
    flipped CRC byte → 'crc', mid-frame cut → 'truncated', garbage or a
    CRC-valid chunk whose rows or values are bad → 'malformed', a
    directory → 'unreadable'; a healthy chunk reports ok with its row
    count.  The report is read_binlog(on_error='skip')'s own verdict:
    per chunk, its (ok, n_rows) is the rows skip emits for that
    log_file.  An unreadable chunk fails read_binlog in both modes."""
    from conftest import kv_chunk

    from mysql_binlog_spark.sources.binlog import validate_chunks

    src = str(tmp_path / "src")
    names = _changelog_chunks(spark, src)
    good = os.path.join(src, names[0])
    data = open(good, "rb").read()
    bad = {
        "binlog.000090": data[:-1] + bytes([data[-1] ^ 0xFF]),
        "binlog.000091": data[: len(data) - 7],  # cut inside last frame
        "binlog.000092": b"\x00" * 64,
        "binlog.000094": kv_chunk(10, "overrun"),  # value-loop path
        "binlog.000095": kv_chunk(300, "overrun"),  # wavefront path
        "binlog.000096": kv_chunk(10, "utf8"),
        "binlog.000097": kv_chunk(300, "utf8"),
    }
    paths = [good]
    for name, body in bad.items():
        paths.append(str(tmp_path / name))
        open(paths[-1], "wb").write(body)
    rep = {r.chunk: (r.ok, r.n_rows, r.reason)
           for r in validate_chunks(spark, paths).collect()}
    assert rep[names[0]][0] and rep[names[0]][1] > 0
    assert rep["binlog.000090"] == (False, 0, "crc")
    assert rep["binlog.000091"] == (False, 0, "truncated")
    assert rep["binlog.000092"][0] is False  # any coarse class is fine
    for name in ("binlog.000094", "binlog.000095", "binlog.000096",
                 "binlog.000097"):
        assert rep[name] == (False, 0, "malformed"), (name, rep[name])
    skipped = read_binlog(spark, paths, verify_crc=True, on_error="skip")
    emitted = {r.log_file: r["count"]
               for r in skipped.groupBy("log_file").count().collect()}
    assert {c: n for c, (ok, n, _) in rep.items() if ok} == emitted

    unreadable = tmp_path / "binlog.000093"
    unreadable.mkdir()  # open() fails with an OSError, even as root
    rep = {r.chunk: (r.ok, r.n_rows, r.reason)
           for r in validate_chunks(spark, paths + [str(unreadable)])
           .collect()}
    assert rep["binlog.000093"] == (False, 0, "unreadable")
    for mode in ("raise", "skip"):
        with pytest.raises(Exception):
            read_binlog(spark, paths + [str(unreadable)], verify_crc=True,
                        on_error=mode).count()


def test_start_lsn_prunes_discovery(spark, tmp_path, monkeypatch):
    """read_binlog(image_cols=None, start_lsn=(last chunk, 4)) discovers
    tables over the chunks it decodes: exactly the last one."""
    from mysql_binlog_spark.sources import binlog
    from mysql_binlog_spark.sources.binlog import CHUNK_GLOB

    chunks = str(tmp_path / "src")
    names = _changelog_chunks(spark, chunks, events_per_file=300)
    assert len(names) > 1
    seen = []
    real = binlog.discover_tables

    def recording(spark_, chunk_glob, *a, **k):
        seen.append(sorted(os.path.basename(p)
                           for p in binlog._chunk_paths(chunk_glob)))
        return real(spark_, chunk_glob, *a, **k)

    monkeypatch.setattr(binlog, "discover_tables", recording)
    df = read_binlog(spark, os.path.join(chunks, CHUNK_GLOB),
                     start_lsn=(names[-1], 4))
    assert seen == [[names[-1]]]
    assert {r.log_file for r in df.select("log_file").distinct().collect()} \
        == {names[-1]}

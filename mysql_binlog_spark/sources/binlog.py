"""Binlog chunk source: binary files → decoded change-row DataFrame.

This is the engine's replacement for the reference's socket iterator
(EventsIterator::getIterator, src/EventsIterator.php:73-88): instead of one
fiber pulling one TCP stream, each Spark task decodes one (or more) recorded
binlog chunk files independently — chunks are self-contained (TABLE_MAP
re-emitted per chunk, mirroring the registry reset on ROTATE,
EventsIterator.php:168-169), so decode is embarrassingly parallel.

Filter pushdown staging (SURVEY.md §4): Catalyst cannot push predicates
through a Python UDF, so the include/exclude table filter and the start-LSN
skip are applied *inside* the decode task before row decode — exactly the
reference's own ordering (check before row decode,
EventsIterator.php:375-377; start-pos skip, :207-215) — and whole files
before the start file are pruned from the file listing itself.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..wire import (
    CHARSET_BINARY,
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
    CrcMismatchError,
    TruncatedFrameError,
    WireColumn,
    decode_chunk,
    table_admitted,
)
from .vector import materialize_column
from .wavefront import decode_chunk_vectorized

ZERO_DATE = "0000-00-00"  # decoded sentinel → NULL at the DataFrame layer


def spark_type_of(c: WireColumn) -> str:
    """Spark SQL type carried by the decode source for a wire column —
    the full reference type table (RowFactory.php:72-165) mapped onto
    DataFrame types: exact decimals stay exact (NEWDECIMAL → DecimalType,
    unsigned BIGINT → DecimalType(20,0) like the reference's GMP string),
    temporals with calendar meaning become DATE/TIMESTAMP, and
    rendering-defined types (DATETIME2 wall time, TIME2 durations, BIT,
    ENUM/SET labels) stay strings exactly as the reference emits them."""
    t = c.ctype
    if t in (TYPE_TINY, TYPE_SHORT, TYPE_INT24):
        return "int"
    if t == TYPE_LONG:
        return "int" if c.signed else "bigint"
    if t == TYPE_LONGLONG:
        return "bigint" if c.signed else "decimal(20,0)"
    if t == TYPE_FLOAT:
        return "float"
    if t == TYPE_DOUBLE:
        return "double"
    if t == TYPE_NEWDECIMAL:
        return f"decimal({c.meta >> 8},{c.meta & 0xFF})"
    if t == TYPE_DATE:
        return "date"
    if t == TYPE_TIMESTAMP2:
        return "timestamp"
    if t in (TYPE_DATETIME2, TYPE_TIME2, TYPE_BIT, TYPE_ENUM, TYPE_SET):
        return "string"
    if t in (TYPE_VARCHAR, TYPE_BLOB):
        return "binary" if c.charset == CHARSET_BINARY else "string"
    if t in (TYPE_JSON, TYPE_GEOMETRY):
        # JSONB / SRID+WKB payloads carried opaque, like the reference's
        # BLOB fold (ColumnMetadataFactory.php:59-62, RowFactory.php:113-118)
        return "binary"
    raise ValueError(f"unsupported wire type {t:#x}")


def _pa_type(t: str):
    if t.startswith("decimal("):
        p, s = (int(x) for x in t[8:-1].split(","))
        return pa.decimal128(p, s)
    return {
        "string": pa.string(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "timestamp": pa.timestamp("us"),
        "date": pa.date32(),
        "binary": pa.binary(),
    }[t]


def _make_converter(t: str):
    """Python value list → Arrow array for one image column type."""
    patype = _pa_type(t)
    if t == "string":
        # VARCHAR/BLOB columns arrive as raw bytes slices (text_as_bytes):
        # build a binary array and cast to utf8 — validation + conversion
        # run in Arrow C++, never as Python strs.  Rendered string types
        # (DATETIME2/TIME2/BIT/ENUM/SET) arrive as str and go in directly.
        def conv(vals):
            for v in vals:
                if v is not None:
                    if isinstance(v, (bytes, bytearray)):
                        return pa.array(vals, pa.binary()).cast(patype)
                    break
            return pa.array(vals, patype)
        return conv
    if t.startswith("decimal"):
        def conv(vals):
            # NEWDECIMAL decodes to exact strings, unsigned BIGINT to ints —
            # Arrow accepts ints directly; strings go through a cast
            if any(isinstance(v, str) for v in vals):
                return pa.array(vals, pa.string()).cast(patype)
            return pa.array(vals, patype)
        return conv
    if t == "date":
        import pyarrow.compute as pc

        def conv(vals):
            arr = pa.array(vals, pa.string())
            # zero-date policy (SURVEY §7.8): sentinel → NULL
            arr = pc.if_else(
                pc.equal(arr, ZERO_DATE), pa.scalar(None, pa.string()), arr
            )
            return arr.cast(patype)
        return conv
    return lambda vals: pa.array(vals, patype)

META_COLS = [
    ("log_file", "string"),
    ("log_pos", "bigint"),
    ("server_id", "bigint"),
    ("event_ts", "timestamp"),
    ("schema_name", "string"),
    ("table_name", "string"),
    ("action", "string"),
    ("batch_seq", "int"),
    ("gtid", "string"),  # enclosing txn GTID; NULL on GTID-less logs
]

# Meta columns a consumer may ask read_binlog(null_cols=...) to emit as
# all-NULL (schema unchanged): none of these participates in LSN
# ordering, filtering, or the apply merge — nulling anything else would
# silently corrupt results, so the option is allowlisted.
NULLABLE_META = frozenset({"event_ts", "schema_name", "table_name", "gtid"})


def _local_path(path: str) -> str:
    if path.startswith("file:"):
        path = path[5:]
        if path.startswith("//"):  # file://host/...
            path = path[path.index("/", 2):]
    return path


# The names of binlog chunk files in a chunk directory: MySQL's
# ``binlog.NNNNNN``.  Excludes the server's ``binlog.index`` and any
# other file kept beside the chunks.  Every chunk listing selects
# through this one rule.
CHUNK_GLOB = "binlog.*[0-9]"


def _chunk_paths(
    chunk_glob: str | list[str], start_lsn: tuple[str, int] | None = None
) -> list[str]:
    """The chunk listing, sorted, from a glob or a path list.  With
    ``start_lsn`` = (binlog_file, position), files before the start file
    are pruned (the reference's start-pos skip, EventsIterator.php:
    207-215, lifted to scan pruning)."""
    if isinstance(chunk_glob, list):
        paths = sorted(chunk_glob)
    else:
        paths = sorted(glob.glob(_local_path(chunk_glob)))
    if start_lsn is not None:
        paths = [p for p in paths if os.path.basename(p) >= start_lsn[0]]
    return paths


def _read_chunk(path: str) -> bytes:
    with open(_local_path(path), "rb") as fh:
        return fh.read()


# Above this many paths _paths_df stops inlining them as one plan literal:
# the literal is carried in every plan string and serialized plan of the
# decode query (~6 MB at 10^5 paths of ~60 characters).
_LITERAL_PATHS_MAX = 4096


def _paths_df(spark: SparkSession, paths: list[str], n_slices: int) -> DataFrame:
    """Path list → an ``n_slices``-partition DataFrame with NO exchange
    and NO Python scan (guide §4 + §2).  The tuple-list
    ``createDataFrame`` builds a pickled Python RDD whose scan blocks
    every task on a Python-worker round trip, and the
    ``repartition(n_slices)`` that followed it added a whole extra
    stage — together ~0.25s of wall per decode query at bench scale
    (32-task stage floor on local[32]).  Instead: ``range`` natively
    creates ``n_slices`` partitions of contiguous ids and
    ``element_at`` over a constant-folded array literal maps id→path
    inside the SAME stage as the decode, so the whole decode job is one
    fused stage + the final agg.  Paths are interleaved so task t gets
    paths[t::n] — the same even spread the old RoundRobin exchange
    produced.  Path lists longer than ``_LITERAL_PATHS_MAX`` take the
    local-relation construction instead, so the plan stays small."""
    if not paths:
        return spark.createDataFrame([], "path string")
    n_slices = max(1, min(n_slices, len(paths)))
    # round-robin interleave, then contiguous range blocks ≈ paths[t::n]
    order = [p for i in range(n_slices) for p in paths[i::n_slices]]
    sep = "\x1f"
    if len(order) > _LITERAL_PATHS_MAX or any(sep in p for p in order):
        # long lists and pathological path names: the slower but general
        # construction
        return spark.createDataFrame(
            pd.DataFrame({"path": pd.Series(order, dtype="object")})
        ).repartition(n_slices)
    # ONE py4j literal (per-element F.lit costs ~0.4ms × |paths| of
    # driver round trips); ConstantFolding collapses the split to an
    # array literal once at optimize time
    arr = F.split(F.lit(sep.join(order)), sep)
    return (
        spark.range(0, len(order), 1, n_slices)
        .select(F.element_at(arr, (F.col("id") + 1).cast("int")).alias("path"))
    )


def _chunk_tasks(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The chunk listing as the task DataFrame every chunk job maps over.
    Slice rule: every Python-runner task costs ~15-30ms of dispatch, so
    aim for ≥64MB of chunk bytes per task, floored at one wave
    (defaultParallelism) and capped at one file per task — at cluster
    scale (GB-sized chunks) this degenerates to one-task-per-file, at
    bench scale it avoids paying the task floor 3x over.  (Round 7
    note: a 2-wave floor was measured and REJECTED — interleaved
    quiet-box A/B put one wave at 1.98s vs 2.32s for two waves on the
    1200-chunk decode; extra waves only helped under external load,
    where the freed cores mask noise.)"""
    total_bytes = 0
    for p in paths:
        try:
            total_bytes += os.path.getsize(_local_path(p))
        except OSError:
            pass
    cores = spark.sparkContext.defaultParallelism
    n_slices = max(1, min(
        len(paths),
        max(cores, -(-total_bytes // (64 * 1024 * 1024))),
    ))
    return _paths_df(spark, paths, n_slices)


def discover_tables(
    spark: SparkSession, chunk_glob: str | list[str],
    on_error: str = "raise",
) -> dict[tuple[str, str], list[tuple[str, str]]]:
    """Cheap first pass: walk every chunk's frames, decoding no rows
    (``include=frozenset()``), and merge each table's column sets from
    its TABLE_MAP frames across schema versions (first-seen order) — the
    distributed analog of the reference's TableMap registry (M5) plus
    evolution detection (A4).  The chunk itself is the only source of
    its schema; nothing kept beside it is read.  ``read_binlog`` and
    ``validate_chunks`` run it over the chunk listing they decode, so a
    ``start_lsn`` prune also prunes discovery; chunks are sliced into
    tasks by the decode's rule (``_chunk_tasks``)."""
    paths = _chunk_paths(chunk_glob)

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for path in pdf["path"]:
                try:
                    seen = decode_chunk(
                        _read_chunk(path), include=frozenset()
                    ).tables_seen
                except Exception:
                    # quarantine semantics: an unreadable chunk adds no
                    # schema; the decode pass will skip (or raise on) it
                    if on_error != "skip":
                        raise
                    seen = {}
                for (schema, table), t in seen.items():
                    rows.append(
                        {
                            "log_file": os.path.basename(path),
                            "schema_name": schema,
                            "table_name": table,
                            "columns": [
                                f"{c.name}:{spark_type_of(c)}" for c in t.columns
                            ],
                        }
                    )
        yield pd.DataFrame(
            rows,
            columns=["log_file", "schema_name", "table_name", "columns"],
        )

    collected = (
        _chunk_tasks(spark, paths)
        .mapInPandas(
            scan,
            schema="log_file string, schema_name string, table_name string, "
            "columns array<string>",
        )
        .collect()
    )
    merged: dict[tuple[str, str], list[tuple[str, str]]] = {}
    for r in sorted(collected, key=lambda r: r["log_file"]):
        key = (r["schema_name"], r["table_name"])
        cols = merged.setdefault(key, [])
        seen = {c[0] for c in cols}
        for spec in r["columns"]:
            name, typ = spec.split(":", 1)
            if name not in seen:
                cols.append((name, typ))
                seen.add(name)
    return merged


def _image_cols(
    spark: SparkSession, paths: list[str], include, exclude, on_error: str
) -> list[tuple[str, str]]:
    """The union of the admitted tables' discovered columns, tables in
    sorted order, each column's first-seen type."""
    discovered = discover_tables(spark, paths, on_error=on_error)
    image_cols: list[tuple[str, str]] = []
    seen: set[str] = set()
    for k in sorted(discovered):
        if not table_admitted(k[0], k[1], include, exclude):
            continue
        for name, typ in discovered[k]:
            if name not in seen:
                image_cols.append((name, typ))
                seen.add(name)
    return image_cols


def decoded_schema_ddl(image_cols: list[tuple[str, str]]) -> str:
    parts = [f"{n} {t}" for n, t in META_COLS]
    parts += [f"before_{n} {t}" for n, t in image_cols]
    parts += [f"after_{n} {t}" for n, t in image_cols]
    return ", ".join(parts)


def _chunk_decoder(
    image_cols: list[tuple[str, str]],
    include=None,
    exclude=None,
    start_lsn: tuple[str, int] | None = None,
    start_after_gtid=None,
    verify_crc: bool = False,
    before_mode: str = "full",
    null_cols: frozenset[str] = frozenset(),
):
    """The one per-chunk decode: ``path`` → the chunk's whole Arrow
    batch in ``decoded_schema_ddl(image_cols)`` layout, or an exception.
    Reading, ``decode_chunk_vectorized`` (which picks the wavefront or
    the value loops) and Arrow emission all run inside it, so a chunk
    either yields every row or raises — the verdict ``read_binlog``'s
    ``on_error`` guard and ``validate_chunks``' report both take."""
    start_file, start_pos = start_lsn or ("", 0)
    col_names = [n for n, _ in image_cols]
    type_names = [t for _, t in image_cols]
    out_names = [n for n, _ in META_COLS]
    out_names += [f"{side}_{c}" for side in ("before", "after")
                  for c in col_names]

    def decode(path: str) -> pa.RecordBatch:
        name = os.path.basename(path)
        data = _read_chunk(path)
        batch, kinds = decode_chunk_vectorized(
            data,
            image_cols=col_names,
            include=include,
            exclude=exclude,
            start_pos=start_pos if name == start_file else 0,
            verify_crc=verify_crc,
            before_mode=before_mode,
            start_after_gtid=start_after_gtid,
        )
        # Arrow-native emission: decoded columns go straight into Arrow
        # arrays — no pandas object Series in between.
        n = len(batch)
        m = batch.meta_numpy()  # np.repeat expansion, not per-row
        # String meta columns: encode once per EVENT, then a C-side
        # Arrow take gathers per row — no per-row Python objects, no
        # per-row UTF-8 encode (a GTID repeats across every row of its
        # transaction; round-6 fix for the r5 decode_binary regression).
        codes = pa.array(m["codes"], pa.int64())
        take = lambda vals: pa.array(vals, pa.string()).take(codes)  # noqa: E731
        # null_cols meta columns skip the build AND the Arrow IPC + JVM
        # row-conversion downstream (validity bitmap only) — the apply
        # path nulls event_ts/schema_name/table_name/gtid it never reads
        # (guide §4)
        nstr = lambda name_, mk: (  # noqa: E731
            pa.nulls(n, pa.string()) if name_ in null_cols else mk()
        )
        arrays = [
            # constant column via C-side take (a [name]*n python list
            # costs ~1.4ms/chunk; this is ~0.04ms)
            pa.array([name], pa.string()).take(
                pa.array(np.zeros(n, np.int64))
            ),
            pa.array(m["log_pos"], pa.int64()),
            pa.array(m["server_id"], pa.int64()),
            (pa.nulls(n, pa.timestamp("us"))
             if "event_ts" in null_cols
             else pa.array(m["ts_us"], pa.timestamp("us"))),
            nstr("schema_name", lambda: take(m["ev_schema"])),
            nstr("table_name", lambda: take(m["ev_table"])),
            take(m["ev_action"]),
            pa.array(m["batch_seq"], pa.int32()),
            nstr("gtid", lambda: take(m["ev_gtid"])),
        ]
        arrays += image_arrays(data, batch, kinds, type_names)
        return pa.RecordBatch.from_arrays(arrays, names=out_names)

    return decode


def read_binlog(
    spark: SparkSession,
    chunk_glob: str | list[str],
    image_cols: list[tuple[str, str]] | None = None,
    include: set[tuple[str, str]] | None = None,
    exclude: set[tuple[str, str]] | None = None,
    start_lsn: tuple[str, int] | None = None,
    start_after_gtid: tuple[str, int] | dict[str, int] | None = None,
    verify_crc: bool = False,
    before_mode: str = "full",
    on_error: str = "raise",
    null_cols: frozenset[str] | set[str] | None = None,
) -> DataFrame:
    """Decode binlog chunks into a flat change-row DataFrame.

    ``on_error``: 'raise' (default — a corrupt chunk fails the job) or
    'skip' — quarantine semantics: a chunk whose decode or Arrow
    emission raises is dropped WHOLE (chunks are the atomicity unit;
    partial rows from a corrupt chunk are worse than none) and the rest
    of the log decodes normally.  An unreadable chunk (``OSError``)
    fails the job in both modes: it says nothing about the chunk's
    bytes.  ``validate_chunks`` maps the same per-chunk decode
    (``_chunk_decoder``), so its report names exactly the chunks this
    drops, and why.

    Output schema: LSN + routing metadata columns (META_COLS) plus
    ``before_*`` / ``after_*`` image columns.  ``image_cols`` defaults to
    the union discovered from TABLE_MAP frames of the included tables,
    over the same chunks the decode reads.

    ``start_lsn`` = (binlog_file, position): chunks before the file are
    pruned from the listing (``_chunk_paths``) before discovery and
    decode; events before the position in the start file are skipped.

    Each task opens its chunks itself (the JVM scan would add its file
    listing and ship the whole data volume through Arrow IPC), so chunks
    must be readable from every worker: local FS here, NFS/fuse mounts
    on a cluster.  Chunks are sliced into tasks by ``_chunk_tasks``.

    ``null_cols``: emit these metadata columns as all-NULL instead of
    their decoded values — the output SCHEMA is unchanged, only the
    values are dropped.  For consumers that provably never read them
    (the apply/replay path), this skips building + Arrow-IPC-shipping +
    JVM-converting ~300 MB of repeated strings per 5.8 M events (gtid
    alone is ~40 chars/row; guide §4 — pass only the columns the
    function needs across the Python boundary).  Restricted to
    ``NULLABLE_META`` so LSN/action/routing correctness can't be
    clobbered by mistake.
    """
    if null_cols:
        bad = set(null_cols) - NULLABLE_META
        if bad:
            raise ValueError(
                f"null_cols must be a subset of {sorted(NULLABLE_META)}; "
                f"got extra {sorted(bad)}"
            )
    # tasks read chunk bytes themselves, so the JVM binaryFile source
    # would only contribute its (expensive) Hadoop file listing — ~40% of
    # decode wall time at bench scale; a driver-side glob replaces it.
    paths = _chunk_paths(chunk_glob, start_lsn)
    if image_cols is None:
        image_cols = _image_cols(spark, paths, include, exclude, on_error)
    chunk = _chunk_decoder(
        image_cols, include, exclude, start_lsn, start_after_gtid,
        verify_crc, before_mode, frozenset(null_cols or ()),
    )

    def decode(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            for path in rb.column(0).to_pylist():
                try:
                    out = chunk(path)
                except Exception as e:
                    # quarantine: the chunk is the atomicity unit — drop
                    # it whole, decode the rest of the log
                    if on_error == "skip" and not isinstance(e, OSError):
                        continue
                    raise
                yield out

    return _chunk_tasks(spark, paths).mapInArrow(
        decode, schema=decoded_schema_ddl(image_cols)
    )


def image_arrays(
    data: bytes, batch, kinds: dict | None, type_names: list[str]
) -> list[pa.Array]:
    """The ``before_*`` then ``after_*`` Arrow arrays of one chunk's
    ``decode_chunk_vectorized(data, ...)`` result, on either path:
    wavefront descriptors (``kinds`` set) or value-loop values."""
    if kinds is not None:
        np_buf = np.frombuffer(data, dtype=np.uint8)
        pa_types = [_pa_type(t) for t in type_names]
        return [
            materialize_column(
                np_buf, kinds.get(c), col, len(batch), pa_types[j]
            )
            for cols_ in (batch.before_cols, batch.after_cols)
            for j, (c, col) in enumerate(zip(batch.columns, cols_))
        ]
    converters = [_make_converter(t) for t in type_names]
    return [
        converters[j](col)
        for cols_ in (batch.before_cols, batch.after_cols)
        for j, col in enumerate(cols_)
    ]


def image_view(df: DataFrame, image_cols: list[str]) -> DataFrame:
    """Collapse before/after into the event's effective row image
    (after for insert/update, before for delete) — the shape the apply
    stage and the reference's JSON emission both use.

    Selection is by ``action``, NOT per-column coalesce: an UPDATE that
    sets a column to NULL must yield NULL, not resurrect the stale
    before-image value (it's the whole after image or the whole before
    image, exactly like the reference's per-event JSON)."""
    is_delete = F.col("action") == "delete"
    out = df
    for c in image_cols:
        out = out.withColumn(
            c,
            F.when(is_delete, F.col(f"before_{c}")).otherwise(
                F.col(f"after_{c}")
            ),
        )
    return out.drop(*[f"after_{c}" for c in image_cols],
                    *[f"before_{c}" for c in image_cols])


def validate_chunks(
    spark: SparkSession,
    chunk_paths: list[str],
    include: set | None = None,
    exclude: set | None = None,
    verify_crc: bool = True,
) -> DataFrame:
    """Operational pre-flight / quarantine report: per chunk ``(chunk,
    ok, n_rows, reason)`` — the triage a replay operator runs before (or
    after) ``read_binlog(on_error='skip')`` to know exactly what was
    dropped and why.  It maps ``read_binlog``'s own per-chunk decode
    (``_chunk_decoder``: read, decode, Arrow emission) over image
    columns resolved the way ``read_binlog`` resolves them, so a chunk
    is ``ok`` with ``n_rows`` rows exactly when ``on_error='skip'``
    emits those rows for it.  Reasons are coarse deterministic classes
    by exception type, not message text: 'unreadable' (``OSError``
    opening or reading the file), 'crc' (checksum mismatch),
    'truncated' (frame extends past the file), 'malformed' (anything
    else the decode or emission rejects).

    Chunks are sliced into tasks like the decode (``_chunk_tasks``);
    each failure is contained to its row and discovery skips what it
    cannot read — the report never throws."""
    paths = _chunk_paths(chunk_paths)
    chunk = _chunk_decoder(
        _image_cols(spark, paths, include, exclude, on_error="skip"),
        include, exclude, verify_crc=verify_crc,
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                name = os.path.basename(path)
                try:
                    rows.append((name, True, chunk(path).num_rows, None))
                except OSError:
                    rows.append((name, False, 0, "unreadable"))
                except CrcMismatchError:
                    rows.append((name, False, 0, "crc"))
                except TruncatedFrameError:
                    rows.append((name, False, 0, "truncated"))
                except Exception:  # contained: one row per failure
                    rows.append((name, False, 0, "malformed"))
            yield pd.DataFrame(
                rows, columns=["chunk", "ok", "n_rows", "reason"]
            )

    return _chunk_tasks(spark, paths).mapInPandas(
        check, "chunk string, ok boolean, n_rows bigint, reason string"
    )

"""LakeTable — an Iceberg-shaped lake-table layer (offline substitute).

No Iceberg runtime jar is obtainable offline, so the MERGE sink
(north-rule A3-A6) is a miniature manifest-committed table whose surface
mirrors Iceberg's:

* ``merge_into(updates, epoch_id)``  ≈ ``MERGE INTO t USING s ON key
  WHEN MATCHED AND s.action='delete' THEN DELETE
  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
* ``add_columns``                    ≈ ``ALTER TABLE … ADD COLUMN``
* ``snapshot_df``                    ≈ snapshot read (``at_commit`` ≈
  ``VERSION AS OF``)
* idempotent epoch commits           ≈ WAP / exactly-once sink

Layout::

    table/
      _schema/v0001.json       # schema versions (ADD COLUMN only)
      _commits/c0000001.json   # manifest: bucket -> base files, bucket ->
                               # merge-on-read delta files, epoch_id,
                               # lineage
      _commits/epochs.log      # applied epoch ids, one per line
      data/ep=<epoch>/bucket=K/part-*.parquet

Manifest entries are paths relative to the table root, so a lake can be
moved or copied as a directory; an absolute entry (older manifests) still
resolves, because ``os.path.join(root, entry)`` keeps it as it is.

Data files are hash-bucketed on the leading key column, so one merge epoch
rewrites only buckets containing touched keys (bucket pruning at the FILE
level — the manifest maps buckets to files, and a read stats the files it
names on the driver: no directory listing, no listing job).
Every row stores its applied LSN and a ``_deleted`` tombstone flag; the
winner per key is ``max_by(row, lsn)`` over base ∪ deltas ∪ updates
(``_resolve``), so a late epoch replaying *older* events can never regress
a newer row or resurrect a deleted one (last-writer-wins is global, not
per-batch).  ``merge_into`` takes any number of rows per key: every write
(``_write_epoch``) resolves the winners in the bucket exchange the
partitioned write needs anyway — hash partitioning on ``bucket``
satisfies the (bucket, key) grouping — so an epoch's reduce and its
bucketed write are one shuffle.  That shuffle is sized by the epoch's
data (``spark.sql.shuffle.partitions``, coalesced by AQE), not by the
bucket count; each bucket still lands in one task and one file.

Commits: an epoch writes its data files, then publishes manifest
``c{seq}.json`` with a fail-if-exists hard link — a second writer that
raced for the same sequence number gets ``FileExistsError`` instead of
silently replacing a commit — and then appends its id to ``epochs.log``.
An epoch whose id is already committed is a no-op, so re-delivered
epochs cannot double-apply (north-rule A6).  A crash after the data
write leaves unreferenced orphans only (``vacuum`` collects them).  A
crash between the publish and the log append leaves the newest
manifest's epoch out of the log; the next ``merge_into`` (or commit, or
``replay_batch``'s plan) sees that from the manifest it reads anyway and
appends the missing id, so the re-delivered epoch is skipped, not applied
(or decoded) twice.

If a real Iceberg catalog is available, this class is the only swap point.
"""

from __future__ import annotations

import glob as globmod
import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_UNSET = object()  # last_commit cache sentinel ("no commits yet" is cachable)

# total order of the change stream: natural sort of chunk names then byte
# offset then row index inside the event, then origin server — the Spark
# re-expression of BinlogPosition ordering (src/BinlogPosition.php:9-14,
# ksort natural at src/Connection/Connection.php:120).
LSN_FIELDS = [
    ("log_file", "string"),
    ("log_pos", "bigint"),
    ("batch_seq", "int"),
    ("server_id", "bigint"),
]
LSN_COLS = [n for n, _ in LSN_FIELDS]
_NOT_PAYLOAD = {*LSN_COLS, "action", "_deleted", "bucket"}


@dataclass
class StagedEpoch:
    """``LakeTable.stage``'s result: an epoch's persisted per-key winners,
    their per-chunk lineage and the buckets they touch."""
    rows: DataFrame
    lineage: dict
    touched: set[int]

    def unpersist(self, blocking: bool = False) -> None:
        self.rows.unpersist(blocking=blocking)


class LakeTable:
    def __init__(self, path: str):
        self.path = path
        # committed-epoch ids are cached on the instance and persisted to an
        # append-only log, so idempotence checks cost O(1) driver file reads
        # per epoch instead of re-parsing every commit manifest (O(epochs²)
        # over a long replay)
        self._epochs_cache: set[str] | None = None
        # commit sequencing + manifest reads are O(1) per epoch too: the
        # commit dir is globbed at most once per process, after which the
        # next sequence number and the latest manifest live in memory
        # (per-epoch directory listings are O(N²) over a
        # thousands-of-epochs replay)
        self._next_seq: int | None = None
        self._last_commit_cache: dict | None | object = _UNSET
        # the newest schema version; merge_into and compact drop it so
        # each reads the schema once, and sees another handle's ADD COLUMN.
        # Locked: a prefetched ``stage`` may load it while a merge writes
        self._schema: dict | None = None
        self._schema_lock = threading.Lock()

    @property
    def _epochs_log(self) -> str:
        return os.path.join(self.path, "_commits", "epochs.log")

    # ------------------------------------------------------------- metadata

    @classmethod
    def create(
        cls,
        path: str,
        columns: list[tuple[str, str]],
        key_cols: list[str],
        n_buckets: int = 32,
        bucket_hash: str = "xxhash64",
    ) -> "LakeTable":
        """``bucket_hash``: 'xxhash64' (default — JVM-native, the fast
        path) or 'md5' (cross-engine-reproducible bucketing so an
        external SQL engine can restate bucket membership exactly — the
        audit mode write-amplification analysis uses)."""
        os.makedirs(os.path.join(path, "_schema"), exist_ok=True)
        os.makedirs(os.path.join(path, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        t = cls(path)
        if not t.schema_versions():
            t._write_schema(
                {
                    "version": 1,
                    "columns": columns,
                    "key": key_cols,
                    "n_buckets": n_buckets,
                    "bucket_hash": bucket_hash,
                }
            )
        return t

    def _write_schema(self, doc: dict) -> None:
        p = os.path.join(self.path, "_schema", f"v{doc['version']:04d}.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.rename(tmp, p)
        self._schema = doc

    def schema_versions(self) -> list[str]:
        return sorted(globmod.glob(os.path.join(self.path, "_schema", "v*.json")))

    def schema_doc(self) -> dict:
        with self._schema_lock:
            if self._schema is None:
                with open(self.schema_versions()[-1]) as f:
                    self._schema = json.load(f)
            return self._schema

    @property
    def key_cols(self) -> list[str]:
        return self.schema_doc()["key"]

    def columns(self) -> list[tuple[str, str]]:
        return [tuple(c) for c in self.schema_doc()["columns"]]

    def ddl(self) -> str:
        """Schema of the data files: the columns, LSN and ``_deleted``."""
        cols = self.columns() + LSN_FIELDS + [("_deleted", "boolean")]
        return ", ".join(f"{n} {t}" for n, t in cols)

    def add_columns(self, new_cols: list[tuple[str, str]]) -> None:
        """ADD COLUMN schema evolution (north-rule A4): old data files are
        narrower; reads backfill NULL via explicit-schema parquet scan."""
        doc = self.schema_doc()
        have = {c[0] for c in doc["columns"]}
        added = [c for c in new_cols if c[0] not in have]
        if not added:
            return
        self._write_schema(dict(
            doc, version=doc["version"] + 1,
            columns=doc["columns"] + [list(c) for c in added],
        ))

    # -------------------------------------------------------------- commits

    def commits(self) -> list[str]:
        return sorted(globmod.glob(os.path.join(self.path, "_commits", "c*.json")))

    def last_commit(self) -> dict | None:
        """Latest manifest — one glob + read per process, then cached
        (kept current by ``_commit``)."""
        if self._last_commit_cache is not _UNSET:
            return self._last_commit_cache
        cs = self.commits()
        self._next_seq = len(cs) + 1
        if not cs:
            self._last_commit_cache = None
            return None
        with open(cs[-1]) as f:
            self._last_commit_cache = json.load(f)
        return self._last_commit_cache

    def commit_at(self, seq: int) -> dict:
        """Manifest of commit ``seq`` (1-based) — the VERSION AS OF
        handle.  Valid as long as the files it references survive
        (``vacuum`` collects files unreferenced by the CURRENT manifest,
        so historical versions are readable until the next vacuum passes
        over their superseded files — the same retention contract as
        Iceberg/Delta time travel)."""
        p = os.path.join(self.path, "_commits", f"c{seq:07d}.json")
        with open(p) as f:
            return json.load(f)

    def committed_epochs(self) -> set[str]:
        """Set of applied epoch ids — one O(1) log read per process, then
        cached (kept in sync by ``_commit``)."""
        if self._epochs_cache is not None:
            return self._epochs_cache
        if os.path.exists(self._epochs_log):
            with open(self._epochs_log) as f:
                out = {ln.rstrip("\n") for ln in f if ln.strip()}
        else:
            # legacy layout (no log yet): reconstruct once and persist
            out = set()
            for c in self.commits():
                with open(c) as f:
                    out.add(json.load(f)["epoch_id"])
            if out:
                tmp = self._epochs_log + ".tmp"
                with open(tmp, "w") as f:
                    f.write("".join(e + "\n" for e in sorted(out)))
                os.rename(tmp, self._epochs_log)
        self._epochs_cache = out
        return out

    def _healed_epochs(self) -> set[str]:
        """``committed_epochs()``, plus the newest manifest's epoch when a
        crash between its publish and the log append left it out of the
        log — the log is appended to, so the gap closes once."""
        done = self.committed_epochs()
        last = self.last_commit()
        if last is not None and last["epoch_id"] not in done:
            self._log_epoch(last["epoch_id"])
        return done

    def _log_epoch(self, epoch_id: str) -> None:
        assert "\n" not in epoch_id
        with open(self._epochs_log, "a") as f:
            f.write(epoch_id + "\n")
        if self._epochs_cache is not None:
            self._epochs_cache.add(epoch_id)

    def _files(
        self, doc: dict | None, kind: str, buckets: set[int] | None = None
    ) -> list[str]:
        """Data files of manifest ``doc`` under ``kind`` ('buckets' for
        base files, 'delta_buckets' for merge-on-read deltas), restricted
        to ``buckets`` when given, resolved against the table root."""
        return [
            os.path.join(self.path, f)
            for b, fs in (doc or {}).get(kind, {}).items()
            if buckets is None or int(b) in buckets
            for f in fs
        ]

    def live_files(self, buckets: set[int] | None = None) -> list[str]:
        return self._files(self.last_commit(), "buckets", buckets)

    def delta_files(self, buckets: set[int] | None = None) -> list[str]:
        """Merge-on-read delta files (``merge_into(mode='mor')``) not yet
        folded into the base by compaction."""
        return self._files(self.last_commit(), "delta_buckets", buckets)

    def _commit(self, doc: dict) -> None:
        self._healed_epochs()  # also primes _next_seq (one glob per process)
        seq = self._next_seq
        p = os.path.join(self.path, "_commits", f"c{seq:07d}.json")
        tmp = f"{p}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        try:
            os.link(tmp, p)  # atomic, fail-if-exists publish
        except FileExistsError:
            # another writer published this sequence number first: drop
            # this handle's caches so a retry plans against its commit
            self._next_seq = None
            self._last_commit_cache = _UNSET
            self._epochs_cache = None
            self._schema = None
            raise FileExistsError(
                f"commit conflict: {p} was published by another writer"
            ) from None
        finally:
            os.unlink(tmp)
        self._next_seq = seq + 1
        self._last_commit_cache = doc
        self._log_epoch(doc["epoch_id"])

    def _publish(
        self,
        epoch_id: str,
        mode: str,
        written: dict[int, list[str]],
        touched: set[int],
        lineage: dict,
        **extra,
    ) -> None:
        """Build and commit the manifest that follows the current one.
        ``mode='mor'`` appends ``written`` to the delta files; otherwise
        every ``touched`` bucket's base becomes its ``written`` files and
        its outstanding deltas are dropped (folded into that base)."""
        last = self.last_commit() or {}
        buckets = dict(last.get("buckets", {}))
        deltas = dict(last.get("delta_buckets", {}))
        if mode == "mor":
            for b, fs in written.items():
                deltas[str(b)] = deltas.get(str(b), []) + fs
        else:
            for b in sorted(touched):
                buckets[str(b)] = written.get(b, [])
                deltas.pop(str(b), None)
        self._commit(
            {
                "epoch_id": epoch_id,
                "schema_version": self.schema_doc()["version"],
                "buckets": buckets,
                "delta_buckets": deltas,
                "lineage": lineage,
                "touched_buckets": sorted(touched),
                "mode": mode,
                "wall_time": time.time(),
                **extra,
            }
        )

    # ---------------------------------------------------------------- reads

    def _read(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """Scan of manifest-named ``files``; ``session.get_spark`` lets
        the driver stat them (up to 4,096) instead of a listing job."""
        return spark.read.schema(self.ddl()).parquet(*files)

    def _resolve(self, df: DataFrame) -> DataFrame:
        """Per-key winner: ``max_by(row, lsn)`` — the one reduce behind
        every write and the merge-on-read snapshot.  A tombstone
        (``_deleted``) wins like any other row, so an older re-insert
        replayed after a delete cannot resurrect the key.  ``bucket``, a
        function of the key, joins the grouping when ``df`` has it, so
        input hash-partitioned on it needs no second exchange."""
        group = (["bucket"] if "bucket" in df.columns else []) + self.key_cols
        rest = [c for c in df.columns if c not in group]
        return (
            df.groupBy(*group)
            .agg(F.max_by(F.struct(*rest), F.struct(*LSN_COLS)).alias("_w"))
            .select(*[c if c in group else f"_w.{c}" for c in df.columns])
        )

    def _scan(self, spark: SparkSession, doc: dict) -> DataFrame:
        """Rows as of manifest ``doc``, ≤1 per key, tombstones included.
        Only buckets with outstanding deltas are resolved: keys never
        cross buckets, so the others are already ≤1 row/key and scan
        merge-free — the resolve shuffle costs O(delta-touched data)."""
        hot = {int(b) for b in doc.get("delta_buckets", {})}
        cold = self._read(spark, self._files(
            doc, "buckets", {int(b) for b in doc.get("buckets", {})} - hot
        ))
        if not hot:
            return cold
        return self._resolve(self._read(
            spark,
            self._files(doc, "buckets", hot) + self._files(doc, "delta_buckets"),
        )).unionByName(cold)

    def snapshot_df(
        self,
        spark: SparkSession,
        with_lsn: bool = False,
        at_commit: int | None = None,
    ) -> DataFrame:
        """Live rows only: delete tombstones (retained so that replayed
        *older* epochs cannot resurrect deleted keys) are filtered out.

        With merge-on-read deltas outstanding (``merge_into(mode='mor')``
        since the last compaction), the read resolves per-key winners
        across base + delta rows with the SAME reduce the copy-on-write
        merge uses — read-side merge work traded for the write-side
        amplification MOR avoids (BENCH/MERGE.md two-regime analysis).

        ``at_commit``: serve the table AS OF commit seq (1-based) —
        manifest-level time travel: every commit is a complete snapshot
        description (buckets + outstanding deltas), so reading an older
        manifest reads the older table, valid until ``vacuum`` collects
        its superseded files (the Iceberg/Delta retention contract)."""
        doc = (
            self.commit_at(at_commit)
            if at_commit is not None
            else self.last_commit()
        )
        if at_commit is not None:
            # retention guard: a vacuum after commit k may have collected
            # files only version k references — fail with the retention
            # story, not an opaque parquet path error
            for f in (
                self._files(doc, "buckets") + self._files(doc, "delta_buckets")
            ):
                if not os.path.exists(f):
                    raise ValueError(
                        f"time-travel version {at_commit} has been "
                        f"retired: data file {f!r} was removed by a "
                        "later vacuum/compaction (the Iceberg/Delta "
                        "retention contract — historical versions are "
                        "readable only until maintenance collects their "
                        "superseded files)"
                    )
        df = self._scan(spark, doc or {})
        df = df.filter(~F.col("_deleted")).drop("_deleted")
        return df if with_lsn else df.drop(*LSN_COLS)

    # ---------------------------------------------------------------- merge

    def _bucket_expr(self):
        doc = self.schema_doc()
        n = doc["n_buckets"]
        key = F.col(self.key_cols[0])
        if doc.get("bucket_hash", "xxhash64") == "md5":
            from .functions.hashing import md5_bigint

            return F.pmod(md5_bigint(key.cast("string")), F.lit(n)).cast("int")
        return F.pmod(F.xxhash64(key), F.lit(n)).cast("int")

    @staticmethod
    def _lineage(df: DataFrame) -> tuple[dict, set[int]]:
        """Per-chunk applied-LSN ranges of an epoch's rows (``log_file``,
        ``log_pos``, ``_deleted``) in ONE driver collect (A7), plus the
        buckets they touch when ``df`` carries ``bucket``."""
        fields = ["min_pos", "max_pos", "rows", "deletes"]
        aggs = [
            F.min("log_pos").alias("min_pos"),
            F.max("log_pos").alias("max_pos"),
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("deletes"),
        ]
        with_buckets = "bucket" in df.columns
        if with_buckets:
            aggs.append(F.collect_set("bucket").alias("buckets"))
        rows = df.groupBy("log_file").agg(*aggs).collect()
        lineage = {r["log_file"]: {k: r[k] for k in fields} for r in rows}
        touched = {b for r in rows if with_buckets for b in r["buckets"]}
        return lineage, touched

    def _rows(self, df: DataFrame) -> DataFrame:
        """``df`` in the table's write layout: the table's columns, cast
        (NULL where ``df`` lacks one), then the payload columns the table
        does not have yet, the LSN columns, ``_deleted`` (from ``action``
        on update rows) and ``bucket``."""
        cols = self.columns()
        have = {n for n, _ in cols}
        deleted = F.col("_deleted") if "_deleted" in df.columns else (
            F.col("action") == "delete")
        return df.select(
            *[
                (F.col(n) if n in df.columns else F.lit(None)).cast(t).alias(n)
                for n, t in cols
            ],
            *[c for c in df.columns if c not in have | _NOT_PAYLOAD],
            *[F.col(n).cast(t).alias(n) for n, t in LSN_FIELDS],
            deleted.alias("_deleted"),
        ).withColumn("bucket", self._bucket_expr())

    def stage(self, updates: DataFrame) -> StagedEpoch:
        """The table-state-independent half of an epoch: ``updates`` (as
        ``merge_into`` takes them) reduced to per-key winners, persisted,
        with lineage and touched buckets from ONE collect.  Never writes
        the schema, so it may run while another epoch merges.  Pass the
        result to ``merge_into``, then unpersist it."""
        rows = self._resolve(self._rows(updates)).persist()
        lineage, touched = self._lineage(rows)
        return StagedEpoch(rows, lineage, touched)

    def merge_into(
        self,
        spark: SparkSession,
        updates: DataFrame | StagedEpoch,
        epoch_id: str,
        mode: str = "cow",
    ) -> dict:
        """Apply one epoch of change rows (columns: key + payload +
        ``action`` + LSN columns), any number per key in any order, or a
        ``StagedEpoch`` of them: per key, the row with the highest LSN
        wins, against the table's rows too.  Returns commit stats, with
        ``files`` the data files the epoch wrote (absolute paths);
        re-delivered epochs are no-ops.  Payload columns the table does
        not have yet are added first (ADD COLUMN); table columns the
        updates lack are written NULL.

        ``mode='cow'`` (default): copy-on-write — rewrite every touched
        bucket to ≤1 row/key.  Reads stay merge-free; writes amplify by
        the live rows sharing touched buckets (cdc_write_amplification).
        ``mode='mor'``: merge-on-read — append the epoch's winners as
        bucket-partitioned DELTA files without reading the base; write
        cost is O(epoch changes) regardless of table size, and
        ``snapshot_df``/``compact`` resolve per-key winners across
        base + deltas with the same reduce.  The write-optimized regime
        for uniformly-hot change patterns (BENCH/MERGE.md); compact on a
        cadence to bound read fan-in.  Modes may be mixed — a CoW epoch
        folds the touched buckets' outstanding deltas into the base it
        rewrites."""
        if epoch_id in self._healed_epochs():
            return {"epoch_id": epoch_id, "skipped": True}
        self._schema = None  # read once per epoch, as of now

        staged = updates if isinstance(updates, StagedEpoch) else None
        self.add_columns([
            (f.name, f.dataType.simpleString())
            for f in (staged.rows if staged else updates).schema.fields
            if f.name not in _NOT_PAYLOAD
        ])
        fused = mode == "mor" or not (self.live_files() or self.delta_files())
        own = staged is None and not fused
        if own:  # copy-on-write must know `touched` before reading the base
            staged = self.stage(updates)
        rows = self._rows(staged.rows if staged else updates)
        if fused:
            # MOR epochs and initial loads never read the base: lazy rows
            # are ONE job (decode → reduce → bucketed write)
            written = self._write_epoch(rows, epoch_id)
            touched = set(written)
        else:
            # one write, one exchange: base(touched) — the touched
            # buckets' outstanding deltas fold into it — ∪ winners
            touched = staged.touched
            base = self._read(
                spark, self.live_files(touched) + self.delta_files(touched)
            )
            written = self._write_epoch(
                self._rows(base).unionByName(rows), epoch_id
            )
        files = self._files({"buckets": written}, "buckets")
        # a lazy epoch's lineage is a 3-column scan of the files written
        lineage = (
            staged.lineage if staged
            else self._lineage(self._read(spark, files))[0]
        )
        if own:
            staged.unpersist()
        self._publish(epoch_id, mode, written, touched, lineage)
        return {
            "epoch_id": epoch_id,
            "skipped": False,
            "touched_buckets": len(touched),
            "lineage": lineage,
            "files": files,
        }

    def _write_epoch(
        self, df: DataFrame, epoch_id: str, purge: bool = False
    ) -> dict[int, list[str]]:
        """Reduce rows in the write layout (``_rows``) to one winner per
        key — in the bucket exchange, the plan's only one — and write them
        bucket-partitioned under ``data/ep=<epoch_id>``; returns
        ``{bucket: [files]}``, the files relative to the table root
        (manifest entries).  ``purge`` drops tombstone winners.

        The exchange takes no partition count: it is sized by
        ``spark.sql.shuffle.partitions`` and coalesced by AQE to the
        epoch's bytes, not one task per bucket (a task's fixed cost, not
        its rows, dominated a 64-bucket write).  Hash partitioning still
        puts each bucket in one task, so each bucket gets one file."""
        safe_epoch = "".join(
            ch if ch.isalnum() or ch in "-_." else "_" for ch in epoch_id
        )
        epoch_dir = os.path.join(self.path, "data", f"ep={safe_epoch}")
        out = self._resolve(df.repartition("bucket"))
        if purge:
            out = out.filter(~F.col("_deleted"))
        out.write.mode("overwrite").partitionBy("bucket").parquet(epoch_dir)
        written: dict[int, list[str]] = {}
        files = globmod.glob(os.path.join(epoch_dir, "bucket=*", "*.parquet"))
        for f in sorted(files):
            b = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            written.setdefault(b, []).append(os.path.relpath(f, self.path))
        return written

    # ---------------------------------------------------------- maintenance

    def vacuum(self) -> dict:
        """Delete data files no longer referenced by the current manifest
        (epochs fully superseded by later merges) — the disk-leak fix for
        long replays.  Always safe: only unreferenced files are touched;
        crash-orphans (data written, manifest never published) are
        collected too.  Returns {files_removed, bytes_reclaimed,
        dirs_removed}."""
        live = {
            os.path.realpath(f)
            for f in self.live_files() + self.delta_files()
        }
        removed = 0
        reclaimed = 0
        for f in globmod.glob(
            os.path.join(self.path, "data", "ep=*", "bucket=*", "*.parquet")
        ):
            if os.path.realpath(f) not in live:
                reclaimed += os.path.getsize(f)
                os.remove(f)
                removed += 1
        dirs_removed = 0
        for d in globmod.glob(os.path.join(self.path, "data", "ep=*", "bucket=*")):
            if not os.listdir(d):
                os.rmdir(d)
        for d in globmod.glob(os.path.join(self.path, "data", "ep=*")):
            if not any(not e.startswith("_") for e in os.listdir(d)):
                shutil.rmtree(d)
                dirs_removed += 1
        return {
            "files_removed": removed,
            "bytes_reclaimed": reclaimed,
            "dirs_removed": dirs_removed,
        }

    def compact(
        self,
        spark: SparkSession,
        purge_tombstones: bool = False,
        buckets: set[int] | None = None,
    ) -> dict:
        """Rewrite live buckets into one epoch (coalesces the
        many-small-files accumulation of incremental merges and folds
        outstanding MOR deltas), then ``vacuum`` the superseded files.

        ``buckets``: restrict the rewrite to these bucket ids —
        SELECTIVE compaction, the 100 TB shape: ``maintain`` passes only
        the fragmented buckets, so a long replay's periodic maintenance
        rewrites O(fragmented) data, never the whole table.  ``None``
        compacts everything (the terminal full-optimize pass).

        ``purge_tombstones`` also drops ``_deleted`` rows (of the
        selected buckets).  That is only safe once no epoch carrying an
        LSN older than a tombstone can still be replayed (a resurrected
        key would no longer find the tombstone to lose against) — the
        caller asserts that, typically after a full replay has drained
        its source.
        """
        self._schema = None  # read once per compaction, as of now
        last = self.last_commit()
        files = self._files(last, "buckets", buckets) + self._files(
            last, "delta_buckets", buckets
        )
        if not files:
            return {"skipped": True}
        sel = (
            set(range(self.schema_doc()["n_buckets"]))
            if buckets is None
            else {int(b) for b in buckets}
        )
        epoch_id = f"compact-{self._next_seq:07d}"
        written = self._write_epoch(
            self._rows(self._read(spark, files)), epoch_id,
            purge=purge_tombstones,
        )
        self._publish(
            epoch_id, "cow", written, sel, last.get("lineage", {}),
            compaction=True, purged_tombstones=purge_tombstones,
        )
        return {"epoch_id": epoch_id, "skipped": False, "vacuum": self.vacuum()}

    def maintain(
        self, spark: SparkSession, max_files_per_bucket: int = 8
    ) -> dict:
        """Periodic maintenance for long replays (called by the replay
        drivers every N applied epochs): always vacuum superseded epoch
        files (the disk-leak bound); additionally compact when any live
        bucket has fragmented into more than ``max_files_per_bucket``
        files.  Incremental merges rewrite whole touched buckets, so
        compaction is the rare path — vacuum is the per-interval cost."""
        last = self.last_commit()
        if not last:
            return {"skipped": True}
        db = last.get("delta_buckets", {})
        frag_buckets = {
            int(b)
            for b in set(last["buckets"]) | set(db)
            if len(last["buckets"].get(b, [])) + len(db.get(b, []))
            > max_files_per_bucket
        }
        if frag_buckets:
            # SELECTIVE: rewrite only the fragmented buckets — periodic
            # maintenance cost is O(fragmented data), never table-sized
            return {
                "compacted": True,
                "compacted_buckets": sorted(frag_buckets),
                **self.compact(spark, buckets=frag_buckets),
            }
        return {"compacted": False, "vacuum": self.vacuum()}

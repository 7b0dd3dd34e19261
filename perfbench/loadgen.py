"""Seeded load generator: synthesises each workload's change log and
encodes it into binlog chunk files with the engine's wire encoder
(``wire.BinlogWriter`` and the ``transcripts`` table schema of
``fixtures.generator``), framed the way ``generate_binlog_chunks``
frames them: GTID + BEGIN per transaction, TABLE_MAP on first use in a
chunk, row events of up to 64 rows, periodic HEARTBEATs, XID commit,
ROTATE trailer on every non-final chunk.

The encoding runs without Spark, in processes forked from this one.
Spark-side encoding (``generate_binlog_chunks``) would run Spark jobs in
the JVM being measured, so a run whose inputs were cached would start
its timed region from a less-warmed JVM than a run that generated them.

Everything here is input preparation.  It runs before the set-up clock
starts and its outputs are cached under a key of (seed, workload
parameters, hash of the engine source), so a repeated seed reuses its
inputs and a changed engine gets fresh ones.

The change log is also written as parquet; the correctness gate
(``oracle.py``) computes the expected final state from that file alone,
independently of the engine's decode and apply path.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
from dataclasses import asdict, dataclass, replace

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_DIR = os.path.join(ROOT, "mysql_binlog_spark")
SERVER_ID = 666
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TURNS = 40  # turn_idx space per conversation
ROWS_PER_EVENT = 64
HEARTBEAT_EVERY = 50  # row events
CACHE_KEEP = 8  # input sets kept, most recently used first
ENCODE_PROCS = 3  # processes encoding chunk files, beside this one
ROLES = ("user", "assistant", "tool")
TOOLS = (None, None, "search", "calc", "browser")
_WORDS = (
    "the of and to in is for on that with as by it this from at be are "
    "binlog replay merge bucket epoch commit manifest snapshot winner key "
    "query token model train data stream event chunk table row image lake"
).split()
# turn text is a window of one fixed word stream: seeded, varied, O(1)
_STREAM = " ".join(random.Random(0).choice(_WORDS) for _ in range(20_000))


@dataclass(frozen=True)
class LogSpec:
    """Shape of one synthesised change log.

    ``mix`` = (insert, update, delete) shares of the non-hot events;
    ``hot_share`` of all events upsert one of ``hot_keys`` keys (a single
    hot conversation, so its bucket is skewed); ``chunk_sizes`` is the
    chunk-size mix (events per chunk), used as a bag: each run of
    ``len(chunk_sizes)`` chunks takes every size once, in seeded order,
    so every seed cuts the same number of events into each such run;
    ``txn_max`` bounds events per transaction; ``text_len`` =
    (min, max) characters of turn text."""

    events: int
    mix: tuple[float, float, float]
    hot_share: float
    hot_keys: int
    chunk_sizes: tuple[int, ...]
    text_len: tuple[int, int]
    txn_max: int = 8


@dataclass(frozen=True)
class Inputs:
    """Where one seed's cached inputs live.  ``base_rows`` is empty for a
    workload without a base table."""

    chunk_dir: str
    changelog: str  # parquet of every change, base rows first
    base_rows: str
    meta: dict  # chunk statistics, base and live row counts


def engine_hash() -> str:
    """sha256 over the engine's source files, so each commit of the
    engine gets its own cached inputs."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(ENGINE_DIR)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ENGINE_DIR).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class _Keys:
    """Live keys with their current image; O(1) uniform sampling and
    removal."""

    def __init__(self) -> None:
        self.items: list[tuple[str, int]] = []
        self.index: dict[tuple[str, int], int] = {}
        self.image: dict[tuple[str, int], tuple] = {}

    def put(self, k, img: tuple) -> None:
        if k not in self.index:
            self.index[k] = len(self.items)
            self.items.append(k)
        self.image[k] = img

    def remove(self, k) -> tuple:
        i = self.index.pop(k)
        last = self.items.pop()
        if i < len(self.items):
            self.items[i] = last
            self.index[last] = i
        return self.image.pop(k)

    def __contains__(self, k) -> bool:
        return k in self.index

    def __len__(self) -> int:
        return len(self.items)


class Log:
    """A change log under construction, cut into chunk files and
    transactions.  ``rows`` holds one (log_file, xid, action, key, image,
    before) tuple per event; image and before are (role, text, tool,
    ts_us) tuples, before is None for inserts."""

    def __init__(self) -> None:
        self.keys = _Keys()
        self.next_conv = 0
        self.file_no = 0
        self.xid = 0
        self.ts_us = TS0_US
        self.rows: list[tuple] = []
        self._chunk_left = 0
        self._txn_left = 0
        self._bag: list[int] = []

    def _emit(self, rng, spec: LogSpec, action, key, image, before) -> None:
        if self._chunk_left == 0:
            if not self._bag:
                self._bag = list(spec.chunk_sizes)
                rng.shuffle(self._bag)
            self.file_no += 1
            self._chunk_left = self._bag.pop()
            self._txn_left = 0
        if self._txn_left == 0:
            self.xid += 1
            self._txn_left = 1 + int(rng.random() * spec.txn_max)
        self.rows.append((f"binlog.{self.file_no:06d}", self.xid, action,
                          key, image, before))
        self._chunk_left -= 1
        self._txn_left -= 1

    def extend(self, spec: LogSpec, seed: int) -> None:
        """Append ``spec.events`` events, then close the last chunk.
        Non-hot inserts open the next turn of a fresh conversation;
        updates and deletes pick a live key uniformly; hot events upsert
        one of the hot conversation's keys.  A delete carries the row's
        last image (binlog_row_image=FULL)."""
        rng = random.Random(seed)
        r = rng.random  # int(r() * n) draws from range(n), cheaply
        keys = self.keys
        hot = [("hot", t) for t in range(spec.hot_keys)]
        p_ins, p_upd, _ = spec.mix
        lo, hi = spec.text_len
        turn = 0

        def image():
            n = lo + int(r() * (hi - lo + 1))
            at = int(r() * (len(_STREAM) - n))
            return (ROLES[int(r() * len(ROLES))], _STREAM[at:at + n],
                    TOOLS[int(r() * len(TOOLS))], self.ts_us)

        def upsert(k):
            img = image()
            if k in keys:
                self._emit(rng, spec, "update", k, img, keys.image[k])
            else:
                self._emit(rng, spec, "insert", k, img, None)
            keys.put(k, img)

        def delete(k):
            old = keys.remove(k)
            self._emit(rng, spec, "delete", k, old, old)

        for _ in range(spec.events):
            self.ts_us += 100 + int(r() * 1901)
            if r() < spec.hot_share:
                k = hot[int(r() * len(hot))]
                if k in keys and r() < 0.05:
                    delete(k)
                else:
                    upsert(k)
                continue
            a = r()
            if a < p_ins or not len(keys):
                upsert((f"c{self.next_conv:07d}", turn))
                turn += 1
                if turn == TURNS or r() < 0.1:
                    self.next_conv += 1
                    turn = 0
                continue
            k = keys.items[int(r() * len(keys))]
            if a < p_ins + p_upd:
                upsert(k)
            else:
                delete(k)
        self.next_conv += 1
        self._chunk_left = 0
        self._bag = []

    def table(self, start: int = 0, stop: int | None = None) -> pa.Table:
        """rows[start:stop] as a change-log table, one row per event
        carrying the row image it leaves (deletes: the image deleted).
        ``log_pos`` is the event's ordinal in its chunk, which orders
        events exactly as their byte positions do."""
        rows = self.rows[start:stop]
        pos, prev, cur = [], None, 0
        for r in rows:
            cur = cur + 1 if r[0] == prev else 0
            prev = r[0]
            pos.append(cur)
        return pa.table({
            "log_file": pa.array([r[0] for r in rows], pa.string()),
            "log_pos": pa.array(pos, pa.int64()),
            "server_id": pa.array([SERVER_ID] * len(rows), pa.int64()),
            "xid": pa.array([r[1] for r in rows], pa.int64()),
            "action": pa.array([r[2] for r in rows], pa.string()),
            "conv_id": pa.array([r[3][0] for r in rows], pa.string()),
            "turn_idx": pa.array([r[3][1] for r in rows], pa.int32()),
            "role": pa.array([r[4][0] for r in rows], pa.string()),
            "text": pa.array([r[4][1] for r in rows], pa.string()),
            "tool": pa.array([r[4][2] for r in rows], pa.string()),
            "ts": pa.array([r[4][3] for r in rows],
                           pa.timestamp("us", tz="UTC")),
        })

    def encode(self, out_dir: str, start: int = 0, meanwhile=None) -> dict:
        """Write rows[start:] as binlog chunk files; returns chunk
        statistics: totals, chunks under 16 events, and [file, events,
        bytes] per chunk.  Chunks are independent files, so they are
        encoded by ENCODE_PROCS forked processes, while this process
        runs ``meanwhile()``."""
        global _ENCODING
        os.makedirs(out_dir, exist_ok=True)
        chunks: list[list[tuple]] = []
        for r in self.rows[start:]:
            if not chunks or chunks[-1][0][0] != r[0]:
                chunks.append([])
            chunks[-1].append(r)
        procs = max(1, min(ENCODE_PROCS, len(chunks)))
        spans = [(i * len(chunks) // procs, (i + 1) * len(chunks) // procs)
                 for i in range(procs)]
        _ENCODING = (chunks, out_dir)
        # fork before this process builds any Arrow table: the children
        # only read the rows and write files
        pool = multiprocessing.get_context("fork").Pool(procs)
        try:
            parts = pool.starmap_async(_encode_span, spans)
            if meanwhile is not None:
                meanwhile()
            parts = parts.get()
        finally:
            pool.close()
            pool.join()
            _ENCODING = None
        per_chunk = [c for part in parts for c in part]
        return {"chunks": len(chunks),
                "events": sum(n for _, n, _ in per_chunk),
                "bytes": sum(b for _, _, b in per_chunk),
                "small_chunks": sum(len(c) < 16 for c in chunks),
                "per_chunk": per_chunk}


_ENCODING: tuple | None = None  # (chunks, out_dir) shared with the forks


def _encode_span(lo: int, hi: int) -> list[list]:
    """Encode chunks[lo:hi] of ``_ENCODING`` to files; [file, events,
    bytes] per chunk."""
    from mysql_binlog_spark.fixtures.generator import transcripts_schema
    from mysql_binlog_spark.spec import GTID_SID2_HEX, GTID_SID_HEX
    from mysql_binlog_spark.wire import BinlogWriter

    chunks, out_dir = _ENCODING
    sids = (bytes.fromhex(GTID_SID_HEX), bytes.fromhex(GTID_SID2_HEX))
    schema = transcripts_schema("app", "transcripts", 100, False)

    def img(key, image):
        role, text, tool, ts_us = image
        return {"conv_id": key[0], "turn_idx": key[1], "role": role,
                "text": text, "tool": tool,
                "ts": (ts_us // 1_000_000, ts_us % 1_000_000)}

    out = []
    for ci in range(lo, hi):
        rows = chunks[ci]
        sec = rows[0][4][3] // 1_000_000
        w = BinlogWriter(server_id=SERVER_ID, base_ts=sec)
        mapped = False
        i = 0
        while i < len(rows):
            xid = rows[i][1]
            w.write_gtid(sec, sids[xid % 2], xid // 2 + 1)
            w.write_query(sec, "app", "BEGIN")
            if not mapped:
                w.write_table_map(sec, schema)
                mapped = True
            while i < len(rows) and rows[i][1] == xid:
                j = i
                while (j < len(rows) and j - i < ROWS_PER_EVENT
                       and rows[j][1] == xid and rows[j][2] == rows[i][2]):
                    j += 1
                batch = rows[i:j]
                action = batch[0][2]
                images = [img(r[3], r[4]) for r in batch]
                if action == "update":
                    w.write_rows(sec, schema, action, images,
                                 [img(r[3], r[5]) for r in batch])
                else:
                    w.write_rows(sec, schema, action, images)
                if w.n_row_events % HEARTBEAT_EVERY == 0:
                    w.write_heartbeat(rows[0][0])
                i = j
            w.write_xid(sec, xid)
        if ci + 1 < len(chunks):
            w.write_rotate(chunks[ci + 1][0][0])
        data = w.getvalue()
        with open(os.path.join(out_dir, rows[0][0]), "wb") as f:
            f.write(data)
        out.append([rows[0][0], len(rows), len(data)])
    return out


def _prune(cache_root: str, keep: str) -> None:
    """Drop the least recently used input sets beyond CACHE_KEEP."""
    sets = []
    for d in os.listdir(cache_root):
        p = os.path.join(cache_root, d)
        try:
            sets.append((os.path.getmtime(os.path.join(p, "_COMPLETE")), p))
        except OSError:
            continue  # not a published input set
    for _, p in sorted(sets, reverse=True)[CACHE_KEEP:]:
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)


def prepare(cache_root: str, name: str, params: dict, seed: int) -> Inputs:
    """Build (or reuse) the cached inputs for ``seed``.

    ``params`` holds ``log`` (the measured log's LogSpec) and optionally
    ``base`` (the LogSpec of an insert-only log whose rows form the base
    table the measured log is applied to); both join the cache key.  The
    base rows are kept as parquet only, and the measured log as chunk
    files; the change-log parquet holds both."""
    key_doc = {
        "name": name, "seed": seed, "engine": engine_hash(),
        "params": {k: asdict(v) for k, v in sorted(params.items())},
        "format": 2,
    }
    key = hashlib.sha256(
        json.dumps(key_doc, sort_keys=True).encode()
    ).hexdigest()[:20]
    root = os.path.join(cache_root, f"{name}-s{seed}-{key}")
    inputs = Inputs(
        chunk_dir=os.path.join(root, "chunks"),
        changelog=os.path.join(root, "changelog.parquet"),
        base_rows=os.path.join(root, "base.parquet") if "base" in params else "",
        meta={},
    )
    done = os.path.join(root, "_COMPLETE")
    if not os.path.exists(done):
        tmp = f"{root}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        log = Log()
        if "base" in params:
            log.extend(params["base"], seed * 7 + 1)
        start = len(log.rows)
        log.extend(params["log"], seed * 7 + 2)

        def write_tables():
            if start:
                pq.write_table(log.table(0, start),
                               os.path.join(tmp, "base.parquet"))
            pq.write_table(log.table(),
                           os.path.join(tmp, "changelog.parquet"))

        meta = {"chunks": log.encode(os.path.join(tmp, "chunks"), start,
                                     meanwhile=write_tables),
                "base_rows": start, "live_rows": len(log.keys)}
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)  # publish whole, or not at all
        _prune(cache_root, keep=root)
    os.utime(done)  # most recently used
    with open(done) as f:
        return replace(inputs, meta=json.load(f))

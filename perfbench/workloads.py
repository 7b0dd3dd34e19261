"""The benchmark's workloads: what each replays, how it warms up, and the
untraced timed loop that produces the end-to-end metrics.

Both workloads are closed loop with one client, the replay driver: the
next epoch starts when the previous one has committed.

* ``backfill`` replays a recorded insert-heavy log of ~600k events into
  an empty 64-bucket table as one fused epoch (``replay_batch``), a fixed
  number of times, each on a fresh table.  Decode, the winners exchange
  and the bucketed write are nearly all of the work.
* ``tail_cow`` applies a tail of update-heavy epochs, cut into chunks of
  a few hundred events (some under 16), to a pre-loaded base table in
  copy-on-write mode (``replay_batch``, pipelined), with a correctness
  check at fixed points and maintenance at the end of the unit.
  Per-epoch fixed cost and the rewrite of touched buckets dominate.

Each run ends with ``Workload.scans`` timed full snapshot scans of its last
table.  Scans interleaved with the epochs, while the JIT was still
warming, split into a slower and a faster cluster, and the median of an
even sample landed between them, run by run.

NOTES.md records why each workload and metric exists.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from loadgen import LogSpec
import evidence
import oracle

IMAGE_COLS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
]
KEY = ["conv_id", "turn_idx"]
INCLUDE = [("app", "transcripts")]
TEXT = (8, 120)
# chunk-size bags (see LogSpec): backfill chunks of ~5k events, one in
# two a small straggler; tail chunks of a few hundred events, one in four
# under 16.  A backfill log is 30 bags: 601,320 events in 240 chunks.  A
# tail epoch is one bag: 1670 events in 8 chunks.
BACKFILL_CHUNKS = (4000, 5000, 6000, 5000, 8, 12, 10, 14)
BACKFILL_BAGS = 30
TAIL_CHUNKS = (8, 12, 150, 200, 250, 300, 350, 400)


@dataclass(frozen=True)
class Workload:
    """One workload.  ``params`` are its loadgen LogSpecs; a unit is
    ``epochs`` epochs of ``files_per_epoch`` chunks on a fresh table,
    followed by one ``maintain``.  Warm-up replays the first
    ``warm_files`` chunks, in epochs of at most ``files_per_epoch``, then
    ``warm_units`` whole units."""

    name: str
    params: dict = field(hash=False)
    buckets: int = 64
    files_per_epoch: int = 10**7  # one fused epoch
    epochs: int = 1
    scan_every: int = 1  # epochs between correctness check points
    warm_files: int = 0
    warm_units: int = 0
    trace_epochs: int = 1  # epochs run layer by layer in a traced run
    scans: int = 5  # timed full scans at the end of a run
    unit_s: float = 5.0  # nominal wall of one unit on a 4-core box


WORKLOADS = {
    w.name: w for w in (
        Workload(
            name="backfill",
            params={
                "log": LogSpec(BACKFILL_BAGS * sum(BACKFILL_CHUNKS),
                               (0.8, 0.15, 0.05), 0.3, 40, BACKFILL_CHUNKS,
                               TEXT),
            },
            warm_files=len(BACKFILL_CHUNKS), warm_units=1, scans=3,
            unit_s=8.0,
        ),
        Workload(
            name="tail_cow",
            params={
                "base": LogSpec(30_000, (1.0, 0.0, 0.0), 0.0, 40, (5000,), TEXT),
                "log": LogSpec(6 * sum(TAIL_CHUNKS), (0.1, 0.85, 0.05), 0.3,
                               40, TAIL_CHUNKS, TEXT),
            },
            buckets=16, files_per_epoch=8, epochs=6, scan_every=3,
            warm_files=3 * len(TAIL_CHUNKS), trace_epochs=3, unit_s=14.0,
        ),
    )
}


def scan_fold(spark, table) -> None:
    """A full snapshot scan that folds every column (so no column can be
    pruned away) into one row."""
    from pyspark.sql import functions as F

    df = table.snapshot_df(spark)
    df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.bit_xor("h"), F.count(F.lit(1))
    ).collect()


def load_base(spark, table, base_rows: str) -> None:
    """Load the base rows into an empty table with the engine's own merge
    (input preparation: never inside a timed region)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(base_rows).select(
        *[F.col(n).cast(t) for n, t in IMAGE_COLS],
        "log_file", "log_pos", F.lit(0).alias("batch_seq"), "server_id",
        "action",
    )
    table.merge_into(spark, df, "base-load")


def new_table(w: Workload, path: str, spark=None, base_rows: str = ""):
    """A fresh table at ``path``, holding ``base_rows`` if given.  The
    base is loaded once per path and kept as a pristine copy beside it,
    which later tables at the same path are restored from (manifests
    hold absolute file paths, so the copy is only valid at ``path``)."""
    from mysql_binlog_spark.table import LakeTable

    shutil.rmtree(path, ignore_errors=True)
    pristine = path + ".base"
    if base_rows and os.path.isdir(pristine):
        shutil.copytree(pristine, path)
    else:
        t = LakeTable.create(path, IMAGE_COLS, KEY, n_buckets=w.buckets)
        if base_rows:
            load_base(spark, t, base_rows)
            shutil.copytree(path, pristine)
    return LakeTable(path)  # reopened: its caches start cold


def replay(spark, w: Workload, chunk_dir: str, table, epochs: int | None):
    """One call of the workload's replay driver; maintenance is left to
    the caller, which runs it once at the end of a unit.  A unit is
    shorter than the engine's default ``maintain_every`` of 16 epochs."""
    from mysql_binlog_spark.streaming.replay import replay_batch

    return replay_batch(
        spark, chunk_dir, table, include=INCLUDE, image_cols=IMAGE_COLS,
        files_per_epoch=w.files_per_epoch, stop_after_epochs=epochs,
        maintain_every=None,
    )


def data_files(table) -> dict[str, int]:
    """Parquet data files of a table and their sizes."""
    out = {}
    for f in glob.glob(os.path.join(table.path, "data", "*", "*", "*.parquet")):
        try:
            out[f] = os.path.getsize(f)
        except OSError:
            pass
    return out


def dir_bytes(path: str) -> int:
    """On-disk bytes of every file under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def chunk_events(meta: dict, upto: int | None = None) -> int:
    """Events in the first ``upto`` chunk files (all when None)."""
    return sum(n for _, n, _ in meta["chunks"]["per_chunk"][:upto])


def chunk_name(meta: dict, i: int) -> str:
    return meta["chunks"]["per_chunk"][i][0]


def commits_since(table, seen: int) -> list[dict]:
    docs = []
    for c in table.commits()[seen:]:
        with open(c) as f:
            docs.append(json.load(f))
    return docs


def warm_up(spark, w: Workload, inputs, work: str) -> float:
    """Warm-up, counted in set-up time: the first ``w.warm_files`` chunks
    (backfill: a prefix of the log as one fused epoch; tail: the unit's
    first epochs) and ``w.warm_units`` whole units, each on a scratch
    table; then ``maintain`` and two scans.  Returns the seconds spent
    loading the scratch tables' base rows, which set-up time leaves
    out."""
    load_s = 0.0
    per_epoch = min(w.files_per_epoch, w.warm_files)
    passes = [(dataclasses.replace(w, files_per_epoch=per_epoch),
               w.warm_files // per_epoch)]
    passes += [(w, None if w.epochs == 1 else w.epochs)] * w.warm_units
    for wp, epochs in passes:
        t0 = time.perf_counter()
        t = new_table(w, os.path.join(work, "lake"), spark, inputs.base_rows)
        load_s += time.perf_counter() - t0
        replay(spark, wp, inputs.chunk_dir, t, epochs)
    t.maintain(spark)
    for _ in range(2):
        scan_fold(spark, t)
    shutil.rmtree(t.path, ignore_errors=True)
    return load_s


def open_table_s(path: str, repeats: int = 5) -> float:
    """Median wall time of opening a table's commit log from a fresh
    handle: the committed-epoch set and the latest manifest."""
    from mysql_binlog_spark.table import LakeTable

    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        t = LakeTable(path)
        t.committed_epochs()
        t.last_commit()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


@dataclass
class Tally:
    """What the untraced loop measured."""

    events: int = 0
    apply_wall: float = 0.0
    apply_cpu: float = 0.0
    intervals: list = field(default_factory=list)
    scans: list = field(default_factory=list)
    bytes_written: int = 0
    lake_bytes_per_row: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    windows: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    open_s: list = field(default_factory=list)
    maintain_s: list = field(default_factory=list)


def run_unit(spark, w: Workload, inputs, work: str, tally: Tally,
             scans: int = 0) -> None:
    """Apply one unit of the workload to a fresh table: ``w.epochs``
    epochs in segments of ``w.scan_every``, with a correctness check
    after each segment but the last; ``maintain``, timed apart from the
    epochs, and the final check; then ``scans`` timed scans of the
    table."""
    meta = inputs.meta
    n_chunks = min(len(meta["chunks"]["per_chunk"]),
                   w.epochs * w.files_per_epoch)
    t = new_table(w, os.path.join(work, "lake"), spark, inputs.base_rows)
    tally.open_s.append(open_table_s(t.path))
    seen_files = data_files(t)

    def count_written() -> None:
        files = data_files(t)
        tally.bytes_written += sum(
            s for f, s in files.items() if f not in seen_files)
        seen_files.update(files)

    def check(what: str) -> tuple:
        upto = min(n_chunks, done * w.files_per_epoch)
        tally.attempted += 1
        want = oracle.expected(inputs.changelog, chunk_name(meta, upto - 1))
        got = oracle.observed(spark, t)
        if got != want:
            tally.failed += 1
            tally.errors.append(
                f"state {what}: engine {got} != expected {want}")
        return got

    n_commits = len(t.commits())
    done = 0
    while done < w.epochs:
        seg = min(w.scan_every, w.epochs - done)
        t0 = time.time()
        win = evidence.Window()
        applied = replay(spark, w, inputs.chunk_dir, t,
                         None if w.epochs == 1 else seg).applied
        if applied == 0:
            raise RuntimeError("replay applied no epoch")
        tally.windows.append(win.close())
        tally.apply_wall += win.result["wall_s"]
        tally.apply_cpu += win.result["cpu_s"]
        done += applied
        last = t0
        for doc in commits_since(t, n_commits):
            tally.intervals.append(doc["wall_time"] - last)
            last = doc["wall_time"]
        n_commits = len(t.commits())
        count_written()
        if done < w.epochs:
            check(f"after {done} epochs")
    m0 = time.perf_counter()
    t.maintain(spark)
    tally.maintain_s.append(time.perf_counter() - m0)
    count_written()
    got = check(f"after {done} epochs and maintain")
    for _ in range(scans):
        s0 = time.perf_counter()
        scan_fold(spark, t)
        tally.scans.append(time.perf_counter() - s0)
    tally.events += chunk_events(meta, n_chunks)
    if got[0]:
        tally.lake_bytes_per_row.append(dir_bytes(t.path) / got[0])

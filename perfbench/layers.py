"""Traced run: the workload's first epochs, each layer called serially
through its public function, with a span around every call.

A span records name, start, end, parent, epoch id and the process-tree
CPU at both ends (``evidence.tree_cpu_s``).  Spans stay in memory and
are reported at the end with self times (duration minus the part child
spans cover).  The same epochs are also replayed untraced by the replay
driver on a fresh table, which gives the residual (untraced epoch wall
minus the traced layer spans: planning, listing, prefetch wait) and the
tracing overhead (traced epoch wall minus untraced epoch wall).

Layers, by module:

* ``sources.wavefront`` decode kernel, one core, no Spark, on the
  workload's own chunks;
* ``sources.binlog.read_binlog`` (+ ``image_view``), forced by a fold
  over the columns the apply path reads, then persisted;
* ``operators.apply.last_writer`` on the persisted decode, persisted;
* ``table.LakeTable.merge_into`` on the persisted winners;
* ``table.LakeTable.maintain``, once after the traced epochs;
* ``table.LakeTable.snapshot_df`` + a full fold scan;
* the table's commit-log open (``committed_epochs`` + ``last_commit``).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import evidence
import oracle
import workloads as W

APPLY_READS = [n for n, _ in W.IMAGE_COLS] + [
    "log_file", "log_pos", "batch_seq", "server_id", "action"]
SMALL_CHUNK = 16  # events; the decode kernel's small-chunk path
KERNEL_CHUNKS = 40  # the first chunks of the traced epochs
KERNEL_MIN_EVENTS = 20_000  # events decoded per kernel measurement


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, epoch: int | None = None):
        rec = {"id": len(self.spans) + len(self._stack), "name": name,
               "epoch": epoch,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "cpu0": evidence.tree_cpu_s()}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = evidence.tree_cpu_s() - rec.pop("cpu0")
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}

    def total(self, name: str, key: str | None = None) -> float:
        if key is None:
            return sum(s["end"] - s["start"] for s in self.spans
                       if s["name"] == name)
        return sum(s.get(key, 0) for s in self.spans if s["name"] == name)


def epoch_groups(w: W.Workload, chunk_dir: str, n: int) -> list[list[str]]:
    """The chunk paths of the first ``n`` epochs, grouped the way the
    replay driver groups them (natural file order, files_per_epoch)."""
    chunks = sorted(f for f in os.listdir(chunk_dir)
                    if f.startswith("binlog.") and not f.endswith(".json"))
    step = w.files_per_epoch
    return [[os.path.join(chunk_dir, f) for f in chunks[i:i + step]]
            for i in range(0, min(len(chunks), n * step), step)]


def decode_kernel(paths: list[str]) -> dict:
    """Single-core CPU microseconds per event of the vectorized decode
    kernel over the given chunks, all chunks and small ones alone.
    Chunks are read once and decoded repeatedly until enough events
    were decoded to time."""
    from mysql_binlog_spark.sources.wavefront import decode_chunk_vectorized

    cols = [n for n, _ in W.IMAGE_COLS]
    include = set(W.INCLUDE)

    def run(datas):
        events = 0
        cpu0 = time.process_time()
        while events < KERNEL_MIN_EVENTS:
            for d in datas:
                batch, _ = decode_chunk_vectorized(
                    d, image_cols=cols, include=include,
                    before_mode="delete_only")
                events += len(batch)
        return (time.process_time() - cpu0) / events * 1e6

    datas = []
    for p in paths:
        with open(p, "rb") as f:
            datas.append(f.read())
    sizes = [len(decode_chunk_vectorized(
        d, image_cols=cols, include=include, before_mode="delete_only")[0])
        for d in datas]
    small = [d for d, n in zip(datas, sizes) if n < SMALL_CHUNK]
    return {"cpu_us_per_event": run(datas),
            "small_chunk_cpu_us_per_event": run(small) if small else None,
            "chunks": len(datas), "small_chunks": len(small)}


def traced_epoch(spark, tr: Tracer, w: W.Workload, table, paths, i: int):
    """One epoch, layer by layer: decode (forced and persisted), winners
    (persisted), merge + commit."""
    from pyspark.sql import functions as F

    from mysql_binlog_spark.operators.apply import last_writer
    from mysql_binlog_spark.sources.binlog import image_view, read_binlog
    from mysql_binlog_spark.streaming.replay import _PRUNED_META

    cols = [n for n, _ in W.IMAGE_COLS]
    with tr.span("epoch", i):
        with tr.span("read_binlog", i) as s:
            # the replay driver's read_binlog arguments
            img = image_view(
                read_binlog(spark, paths, image_cols=W.IMAGE_COLS,
                            include=set(W.INCLUDE), before_mode="delete_only",
                            null_cols=_PRUNED_META), cols,
            ).persist()
            events = img.select(F.xxhash64(*APPLY_READS).alias("h")).agg(
                F.bit_xor("h"), F.count(F.lit(1)).alias("n")
            ).collect()[0]["n"]
            s["events"] = events
            s["mb_in"] = sum(os.path.getsize(p) for p in paths) / 1e6
        with tr.span("last_writer", i) as s:
            win = last_writer(img, W.KEY, cols[2:]).persist()
            s["rows_in"] = events
            s["rows_out"] = win.count()
        img.unpersist()
        with tr.span("merge_into", i) as s:
            before = W.data_files(table)
            r = table.merge_into(spark, win, f"traced-{i}")
            new = {f: n for f, n in W.data_files(table).items()
                   if f not in before}
            s["touched_buckets"] = r.get("touched_buckets", 0)
            s["files_written"] = len(new)
            s["bytes_written"] = sum(new.values())
        win.unpersist()


def untraced_epochs(spark, w: W.Workload, inputs, work: str, n: int):
    """The same first ``n`` epochs through the replay driver, untraced,
    on a fresh table; returns the per-epoch walls (commit to commit)."""
    t = W.new_table(w, os.path.join(work, "lake"), spark, inputs.base_rows)
    seen = len(t.commits())
    t0 = time.time()
    W.replay(spark, w, inputs.chunk_dir, t, None if w.epochs == 1 else n)
    walls, last = [], t0
    for doc in W.commits_since(t, seen):
        walls.append(doc["wall_time"] - last)
        last = doc["wall_time"]
    return walls


def run(spark, w: W.Workload, inputs, work: str) -> dict:
    """The traced run: kernel, untraced reference epochs, traced epochs,
    one maintain, one snapshot scan, commit-log open; checks the traced
    table against the expected state."""
    n = w.trace_epochs
    groups = epoch_groups(w, inputs.chunk_dir, n)
    kernel = decode_kernel([p for g in groups for p in g][:KERNEL_CHUNKS])
    ref = untraced_epochs(spark, w, inputs, work, n)

    tr = Tracer()
    t = W.new_table(w, os.path.join(work, "lake"), spark, inputs.base_rows)
    with tr.span("commit_log.open"):
        open_s = W.open_table_s(t.path)
    for i, paths in enumerate(groups):
        traced_epoch(spark, tr, w, t, paths, i)
    with tr.span("maintain") as s:
        before = W.data_files(t)
        r = t.maintain(spark)
        new = {f: b for f, b in W.data_files(t).items() if f not in before}
        s["runs"] = 1
        s["compactions"] = int(bool(r.get("compacted")))
        s["bytes_rewritten"] = sum(new.values())
        s["files_removed"] = (r.get("vacuum") or {}).get("files_removed", 0)
    with tr.span("snapshot") as s:
        s["files_read"] = len(t.live_files()) + len(t.delta_files())
        s["delta_files"] = len(t.delta_files())
        W.scan_fold(spark, t)

    meta = inputs.meta
    upto = sum(len(g) for g in groups)
    want = oracle.expected(inputs.changelog, W.chunk_name(meta, upto - 1))
    got = oracle.observed(spark, t)

    self_t = tr.self_times()
    epochs = [s for s in tr.spans if s["name"] == "epoch"]
    traced_wall = sum(s["end"] - s["start"] for s in epochs)
    layer_spans = tr.total("read_binlog") + tr.total("last_writer") + \
        tr.total("merge_into")
    untraced_wall = sum(ref)
    metrics = {
        "decode_kernel.cpu_us_per_event": (kernel["cpu_us_per_event"], "us/event"),
        "decode_kernel.small_chunk_cpu_us_per_event": (
            kernel["small_chunk_cpu_us_per_event"] or 0.0, "us/event"),
        "read_binlog.s": (tr.total("read_binlog"), "s"),
        "read_binlog.cpu_s": (tr.total("read_binlog", "cpu_s"), "s"),
        "last_writer.s": (tr.total("last_writer"), "s"),
        "last_writer.cpu_s": (tr.total("last_writer", "cpu_s"), "s"),
        "merge_into.s": (tr.total("merge_into"), "s"),
        "merge_into.cpu_s": (tr.total("merge_into", "cpu_s"), "s"),
        "merge_into.touched_buckets": (
            tr.total("merge_into", "touched_buckets"), "count"),
        "merge_into.files_written": (
            tr.total("merge_into", "files_written"), "count"),
        "merge_into.bytes_written": (
            tr.total("merge_into", "bytes_written"), "B"),
        "maintain.s": (tr.total("maintain"), "s"),
        "snapshot.s": (tr.total("snapshot"), "s"),
        "snapshot.files_read": (tr.total("snapshot", "files_read"), "count"),
        "commit_log.open_s": (open_s, "s"),
        "replay.epoch_s": (untraced_wall / len(ref), "s"),
        "replay.residual_s": ((untraced_wall - layer_spans) / len(ref), "s"),
    }
    counts = {
        "read_binlog.events": tr.total("read_binlog", "events"),
        "read_binlog.mb_in": tr.total("read_binlog", "mb_in"),
        "last_writer.rows_in": tr.total("last_writer", "rows_in"),
        "last_writer.rows_out": tr.total("last_writer", "rows_out"),
        "maintain.runs": tr.total("maintain", "runs"),
        "maintain.compactions": tr.total("maintain", "compactions"),
        "maintain.bytes_rewritten": tr.total("maintain", "bytes_rewritten"),
        "maintain.files_removed": tr.total("maintain", "files_removed"),
        "snapshot.delta_files": tr.total("snapshot", "delta_files"),
    }
    report = {
        "traced_epochs": len(groups),
        "decode_kernel": kernel,
        "counts": counts,
        "self_s": {name: sum(self_t[s["id"]] for s in tr.spans
                             if s["name"] == name)
                   for name in dict.fromkeys(s["name"] for s in tr.spans)},
        "untraced_epoch_walls_s": ref,
        "traced_epoch_walls_s": [s["end"] - s["start"] for s in epochs],
        "residual_s": untraced_wall - layer_spans,
        "overhead_s": traced_wall - untraced_wall,
        "overhead_share": (traced_wall - untraced_wall) / untraced_wall,
        "check": {"engine": got, "expected": want},
        "spans": tr.spans,
    }
    failed = int(got != want)
    return {"metrics": metrics, "report": report, "attempted": 1,
            "failed": failed}

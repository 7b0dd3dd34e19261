"""Replay drivers: recorded binlog chunks → lake table.

Two paths, same apply logic (SURVEY.md §3.3 lifecycle):

* ``replay_batch`` — groups chunk files into epochs in natural-sort order
  (the reference's binlog-file ordering, Connection.php:120), decodes each
  group and merges it.  Resumable: committed epoch ids are skipped, so
  re-running after a crash continues where the commit log stopped
  (north-rule A5/A6 — the commit log *is* the checkpoint).
* ``replay_stream`` — Structured Streaming over the chunk directory
  (file source, ``maxFilesPerTrigger``), ``foreachBatch`` applying the same
  batch logic with the streaming epoch id; Spark's checkpointLocation
  provides offset tracking, our idempotent commits make retried batches
  exactly-once.

Neither reduces to per-key winners itself: ``LakeTable`` does, once per
epoch, in its write's bucket exchange (or in ``stage`` when prefetched).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..sources.binlog import (
    CHUNK_GLOB, NULLABLE_META, _chunk_paths, image_view, read_binlog,
)
from ..table import LSN_COLS, LakeTable

# The apply path never reads these meta columns (it keeps only key +
# payload + LSN + action; lineage reads log_file/log_pos), so it has
# read_binlog emit them all-NULL: same schema, ~300 MB less Arrow IPC +
# JVM row conversion per 5.8 M events (guide §4).
_PRUNED_META = NULLABLE_META


@dataclass
class ReplayStats:
    epochs: list[dict] = field(default_factory=list)

    @property
    def applied(self) -> int:
        return sum(1 for e in self.epochs if not e.get("skipped"))


def _epoch_winners(
    spark: SparkSession,
    paths: list[str],
    image_cols: list[tuple[str, str]] | None,
    include: list | None,
    exclude: list | None,
    **decode,
):
    """The rows an epoch applies, any number per key: decode ``paths``
    (the include/exclude filter runs IN-KERNEL, so no ``filter_tables``
    here — it would drop every row of the decode, whose
    schema_name/table_name are nulled, see ``read_binlog(null_cols)``)
    → image → key + payload + ``action`` + LSN columns.  ``decode``
    passes the position, GTID, error and CRC options through to
    ``read_binlog``.  Table-state independent (see replay_batch's
    one-deep pipeline)."""
    decoded = read_binlog(
        spark, paths, image_cols=image_cols,
        include=set(include) if include is not None else None,
        exclude=set(exclude) if exclude is not None else None,
        before_mode="delete_only",  # apply never reads update befores
        null_cols=_PRUNED_META,  # apply never reads these either
        **decode,
    )
    cols = (
        [n for n, _ in image_cols]
        if image_cols
        else [f.name[len("after_"):] for f in decoded.schema.fields
              if f.name.startswith("after_")]
    )
    # NB: no dedup_lsn stage — exact re-deliveries share LSN and payload,
    # so the table's per-key max_by picks an identical row either way.
    return image_view(decoded, cols).select(*cols, "action", *LSN_COLS)


def replay_batch(
    spark: SparkSession,
    chunk_dir: str,
    table: LakeTable,
    include: list | None = None,
    exclude: list | None = None,
    image_cols: list[tuple[str, str]] | None = None,
    files_per_epoch: int = 4,
    stop_after_epochs: int | None = None,
    start_lsn: tuple[str, int] | None = None,
    start_after_gtid: tuple[str, int] | dict[str, int] | None = None,
    maintain_every: int | None = 16,
    merge_mode: str = "cow",
    on_error: str = "raise",
    verify_crc: bool = False,
) -> ReplayStats:
    """Batch replay with epoch granularity = ``files_per_epoch`` chunks.

    ``merge_mode='mor'`` applies epochs as merge-on-read deltas
    (LakeTable.merge_into mode) — O(epoch changes) write cost per epoch;
    pair with ``maintain_every`` so compaction bounds read fan-in.

    ``on_error='skip'`` — quarantine posture for long replays: a corrupt
    chunk is dropped whole by the decode source instead of killing the
    replay; pair with ``verify_crc=True`` (corruption that doesn't
    break framing is only detectable by checksum) and run
    ``sources.binlog.validate_chunks`` for the report of what was
    dropped and why (it maps the decode's own per-chunk verdict).  Backfill after repair: the quarantined chunk's
    epoch is already committed, so re-running skips it — replay the
    repaired chunk from its own directory instead (fresh epoch id;
    last-writer-wins by LSN makes the late merge order-independent, so
    the table converges to the full-replay state —
    test_backfill_repaired_chunk_after_quarantine).

    ``stop_after_epochs`` simulates a mid-replay crash for resume tests;
    such a call decodes exactly that many epochs.
    ``start_after_gtid`` = (sid uuid, gno): resume-by-GTID — skip every
    transaction of that SID with GNO ≤ gno (pushed into the decode
    kernels; file-level pruning still needs ``start_lsn``).
    ``start_lsn`` = (binlog_file, position): chunks before the file are
    pruned from the epoch plan entirely (the source's chunk listing,
    ``sources.binlog._chunk_paths``); events before the position inside
    the start file are skipped by the decode source (reference's
    start-position semantics, EventsIterator.php:207-215).
    ``maintain_every``: run ``table.maintain()`` (vacuum superseded epoch
    files; compact if buckets fragmented) after every N applied epochs,
    so a 10⁴-epoch replay's disk footprint stays bounded without a manual
    maintenance pass; None disables.
    """
    from concurrent.futures import ThreadPoolExecutor

    chunks = _chunk_paths(
        os.path.join(glob.escape(chunk_dir), CHUNK_GLOB), start_lsn
    )
    stats = ReplayStats()
    done = table._healed_epochs()  # a crash may have skipped a log append
    groups = [
        chunks[i : i + files_per_epoch]
        for i in range(0, len(chunks), files_per_epoch)
    ]
    # One ordered plan: skipped entries are recorded lazily in the main
    # loop so stats.epochs preserves chronological group order (ADVICE
    # round-5: the pre-pass batched every skipped epoch ahead of the
    # applied ones, changing the epoch-log contract).
    plan = []
    for group in groups:
        epoch_id = (f"batch-{os.path.basename(group[0])}-"
                    f"{os.path.basename(group[-1])}")
        plan.append((epoch_id, group, epoch_id in done))
    # the epochs this call applies: a stop never prefetches past itself
    todo = [(eid, g) for eid, g, skipped in plan if not skipped]
    if stop_after_epochs is not None:
        todo = todo[:stop_after_epochs]

    def prepare(group, materialize: bool = True):
        """The epoch's rows.  ``materialize=True`` (the PREFETCHED epoch)
        stages them (``table.stage``) so the work runs while the PREVIOUS
        epoch merges/commits.  ``materialize=False``: an epoch consumed
        inline with nothing to overlap stays LAZY — merge_into's fused
        path (MOR / initial load) then runs decode → reduce → write as
        ONE job instead of paying a full cache materialization first."""
        rows = _epoch_winners(
            spark, group, image_cols, include, exclude, start_lsn=start_lsn,
            start_after_gtid=start_after_gtid, on_error=on_error,
            verify_crc=verify_crc,
        )
        return table.stage(rows) if materialize else rows

    # One-deep epoch pipeline (round-5 width fix): while epoch N's merge
    # shuffles/writes and its manifest commits (serial driver JSON I/O),
    # epoch N+1's decode + staging job runs from a second submitter
    # thread and fills the idle cores of N's stage tails.
    # FIFO scheduling gives N's tasks priority; N+1 only uses slack.
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = None
        ti = 0  # index of the NEXT todo entry once this one is taken
        try:
            for epoch_id, group, skipped in plan:
                if skipped:
                    stats.epochs.append(
                        {"epoch_id": epoch_id, "skipped": True}
                    )
                    continue
                # an inline-prepared epoch (nothing running concurrently
                # to overlap with) stays lazy so merge_into can fuse
                # decode → reduce → write into one job
                w = (
                    fut.result()
                    if fut is not None
                    else prepare(group, materialize=False)
                )
                ti += 1
                fut = (
                    pool.submit(prepare, todo[ti][1])
                    if ti < len(todo)
                    else None
                )
                stats.epochs.append(
                    table.merge_into(spark, w, epoch_id, mode=merge_mode)
                )
                w.unpersist(blocking=False)
                if maintain_every and stats.applied % maintain_every == 0:
                    table.maintain(spark)
                if (
                    stop_after_epochs is not None
                    and stats.applied >= stop_after_epochs
                ):
                    break
        finally:
            if fut is not None:  # a crash: drop the prefetched epoch
                try:
                    fut.result().unpersist(blocking=False)
                except Exception:
                    pass
    return stats


def replay_stream(
    spark: SparkSession,
    chunk_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    include: list | None = None,
    exclude: list | None = None,
    image_cols: list[tuple[str, str]] | None = None,
    max_files_per_trigger: int = 4,
    timeout_sec: float = 300.0,
    start_lsn: tuple[str, int] | None = None,
    start_after_gtid: tuple[str, int] | dict[str, int] | None = None,
    maintain_every: int | None = 16,
    merge_mode: str = "cow",
    on_error: str = "raise",
    verify_crc: bool = False,
) -> ReplayStats:
    """Structured Streaming replay over the chunk directory.

    The stream carries file *references* (path + length) — cheap state —
    and ``foreachBatch`` re-reads the binary content for decode, keeping
    the streaming source small and the decode fully partition-parallel.
    Runs until the directory is drained (availableNow trigger).
    ``merge_mode='mor'`` applies each micro-batch as merge-on-read
    deltas — the low-latency ingest shape (tiny triggers no longer pay a
    bucket rewrite); ``maintain_every`` bounds the read fan-in.
    """
    stats = ReplayStats()

    # file-reference stream: one row per chunk file
    refs = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", CHUNK_GLOB)
        .load(chunk_dir)
        .select("path")
    )

    def apply_batch(batch_df, batch_id: int):
        paths = _chunk_paths(
            [r["path"] for r in batch_df.collect()], start_lsn
        )
        if not paths:
            return
        epoch_id = f"stream-{batch_id}-{os.path.basename(paths[0])}"
        rows = _epoch_winners(
            spark, paths, image_cols, include, exclude,
            start_lsn=start_lsn, start_after_gtid=start_after_gtid,
            on_error=on_error, verify_crc=verify_crc,
        )
        stats.epochs.append(
            table.merge_into(spark, rows, epoch_id, mode=merge_mode)
        )
        if maintain_every and stats.applied % maintain_every == 0:
            table.maintain(spark)

    q = (
        refs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stats

#!/usr/bin/env python
"""Streaming MERGE at production epoch shape (round-4 verdict #5):
BENCH/STREAMING.md's sustained run updates uniformly-spread keys, so
every micro-batch rewrites every bucket — the worst case — and
BENCH/MERGE.md shows bucket pruning working but only under batch
replay.  This bench drives ``replay_stream`` over a SKEWED binary log:
constant-size update epochs whose conversations are pinned to
B ∈ {1, 4, 16, 64} of 64 buckets (1.6%–100% touch), interleaved in one
stream, against a pre-loaded lake.

Evidence read back from the lake's own commit log: each streaming
micro-batch commit records ``touched_buckets`` and a wall-clock stamp,
so successive deltas give per-epoch wall (decode + winners + MERGE +
manifest) without instrumenting the stream.  A ``replay_batch`` control
over the SAME chunks at the same granularity gives the stream/batch
ratio at this (realistic) epoch shape.

Writes BENCH/STREAMING.md's skew section (appends).  Usage:
python bench/stream_touch.py.  Env: STREAM_TOUCH_CONVS (base convs,
default 40000), STREAM_TOUCH_TURNS (50), STREAM_TOUCH_CPE (convs per
epoch, 256), STREAM_TOUCH_REPS (epochs per B value, 3).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_CONVS = int(os.environ.get("STREAM_TOUCH_CONVS", "40000"))
TURNS = int(os.environ.get("STREAM_TOUCH_TURNS", "50"))
CPE = int(os.environ.get("STREAM_TOUCH_CPE", "256"))
REPS = int(os.environ.get("STREAM_TOUCH_REPS", "3"))
N_BUCKETS = 64
BUCKET_SERIES = [1, 4, 16, 64]
COLUMNS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
]
IMAGE_COLS = COLUMNS + [("tool_version", "string")]


def main() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mysql_binlog_spark.fixtures.generator import generate_binlog_chunks
    from mysql_binlog_spark.session import get_spark
    from mysql_binlog_spark.streaming.replay import replay_batch, replay_stream
    from mysql_binlog_spark.table import LakeTable

    spark = get_spark(app_name="stream-touch-bench", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    convs = spark.sql(f"""
        SELECT printf('conv_%07d', id) AS conv_id,
               CAST(pmod(xxhash64(printf('conv_%07d', id)), {N_BUCKETS})
                    AS INT) AS bucket
        FROM range({BASE_CONVS})
    """).persist()

    # ------------------------------------------------ base lake (direct)
    def rows_for(conv_df, tag: str, log_file: str):
        # action='insert' even for re-writes: MERGE is a last-writer
        # upsert (insert/update identical), and the binary generator
        # would need an in-stream predecessor to build an update's
        # before-image — the base rows live in the LAKE, not the stream
        return conv_df.crossJoin(
            spark.range(TURNS).select(F.col("id").cast("int").alias("turn_idx"))
        ).select(
            "conv_id", "turn_idx",
            F.lit("insert").alias("action"),
            F.lit("assistant").alias("role"),
            F.concat(F.lit(f"{tag} text of "), "conv_id", F.lit(" turn "),
                     F.col("turn_idx")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
            F.monotonically_increasing_id().alias("log_pos"),
            F.lit(log_file).alias("log_file"),
            F.lit(0).cast("long").alias("batch_seq"),
            F.lit(1).cast("long").alias("server_id"),
        )

    def build_lake():
        lake = tempfile.mkdtemp(prefix="mbs_stream_touch_lake_")
        t = LakeTable.create(lake, COLUMNS, ["conv_id", "turn_idx"],
                             n_buckets=N_BUCKETS)
        t.merge_into(spark, rows_for(convs.select("conv_id"), "base",
                                     "binlog.000000"), "epoch-base")
        return t

    # ---------------------------------- skewed update epochs → binary log
    # epoch e: CPE conversations drawn from B(e) buckets; one chunk file
    # per epoch so maxFilesPerTrigger=1 makes micro-batch == epoch.
    chunk_dir = tempfile.mkdtemp(prefix="mbs_stream_touch_chunks_")
    epochs = []  # (epoch_idx, B)
    for rep in range(REPS):
        for b in BUCKET_SERIES:
            epochs.append((len(epochs), b))
    parts = []
    for ei, b in epochs:
        # pick CPE convs from the first b buckets, rotating by rep so
        # successive epochs update different conversations
        sel = (
            convs.filter(F.col("bucket") < b)
            .orderBy("conv_id")
            .limit(CPE)
            .select("conv_id")
        )
        lf = f"binlog.{ei + 1:06d}"
        rows = rows_for(sel, f"upd{ei}", lf).withColumn(
            "xid", F.lit(ei + 1).cast("long")
        ).withColumn(
            "schema_name", F.lit("app")
        ).withColumn(
            "table_name", F.lit("transcripts")
        ).withColumn(
            "tool_version", F.lit(None).cast("string")
        ).withColumn(
            "log_pos", F.lit(4) + F.row_number().over(
                Window.partitionBy("log_file").orderBy("conv_id", "turn_idx")
            ).cast("long") * 64
        )
        parts.append(rows)
    changelog = parts[0]
    for p in parts[1:]:
        changelog = changelog.unionByName(p)
    stats = generate_binlog_chunks(changelog, chunk_dir)
    rows_per_epoch = CPE * TURNS
    print(f"# {len(epochs)} epochs × {rows_per_epoch:,} rows encoded, "
          f"{stats['n_bytes'].sum() / 1e6:.0f} MB", file=sys.stderr)

    def commit_walls(table):
        """(epoch_id, touched, wall_delta) from successive commit docs."""
        cdir = os.path.join(table.path, "_commits")
        docs = sorted(
            (json.load(open(os.path.join(cdir, f)))
             for f in os.listdir(cdir)
             if f.startswith("c") and f.endswith(".json")),
            key=lambda d: d["wall_time"],
        )
        out = []
        for prev, cur in zip(docs, docs[1:]):
            out.append({
                "epoch_id": cur["epoch_id"],
                "touched_buckets": len(cur["touched_buckets"]),
                "wall_sec": round(cur["wall_time"] - prev["wall_time"], 2),
            })
        return out

    # ------------------------------------------------------ streaming run
    table_s = build_lake()
    ckpt = tempfile.mkdtemp(prefix="mbs_stream_touch_ckpt_")
    t0 = time.time()
    replay_stream(
        spark, chunk_dir, table_s, ckpt, include=[("app", "transcripts")],
        image_cols=IMAGE_COLS, max_files_per_trigger=1, maintain_every=None,
    )
    stream_wall = round(time.time() - t0, 2)

    # -------------------------------------------------------- batch control
    table_b = build_lake()
    t0 = time.time()
    replay_batch(
        spark, chunk_dir, table_b, include=[("app", "transcripts")],
        image_cols=IMAGE_COLS, files_per_epoch=1, maintain_every=None,
    )
    batch_wall = round(time.time() - t0, 2)

    per_epoch = commit_walls(table_s)
    # average wall per touched-bucket width (skip the first streaming
    # epoch after base: its delta includes stream startup)
    byb: dict[int, list[float]] = {}
    for e in per_epoch[1:]:
        byb.setdefault(e["touched_buckets"], []).append(e["wall_sec"])
    avg = {b: round(sum(v) / len(v), 2) for b, v in sorted(byb.items())}

    n_ep = len(epochs)
    ev_total = n_ep * rows_per_epoch
    doc = {
        "base_rows": BASE_CONVS * TURNS,
        "epochs": n_ep,
        "rows_per_epoch": rows_per_epoch,
        "bucket_series": BUCKET_SERIES,
        "stream_wall_sec": stream_wall,
        "batch_wall_sec": batch_wall,
        "stream_over_batch": round(stream_wall / batch_wall, 3),
        "per_epoch_commits": per_epoch,
        "avg_wall_by_touched_buckets": avg,
        "stream_events_per_sec": round(ev_total / stream_wall, 1),
    }
    with open(os.path.join(REPO, "BENCH", "STREAMING.md"), "a") as f:
        rows_md = "\n".join(
            f"| {b} / {N_BUCKETS} | {w} |" for b, w in avg.items()
        )
        f.write(f"""

## Skewed epochs under streaming (round 5): wall ∝ touched buckets

{n_ep} constant-size update epochs ({rows_per_epoch:,} rows each)
against a {BASE_CONVS * TURNS:,}-row lake, conversations pinned to
B ∈ {BUCKET_SERIES} of {N_BUCKETS} buckets, one micro-batch per epoch
(``maxFilesPerTrigger=1``).  Per-epoch wall read from successive commit
stamps in the lake's own manifest log:

| buckets touched | avg epoch wall (s) |
|---|---|
{rows_md}

Same chunks via ``replay_batch`` at the same granularity:
stream {doc['stream_wall_sec']}s vs batch {doc['batch_wall_sec']}s →
ratio **{doc['stream_over_batch']}×**.

```json
{json.dumps(doc, indent=2)}
```
""")
    print(json.dumps(doc))
    spark.stop()


if __name__ == "__main__":
    main()

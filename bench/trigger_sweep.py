#!/usr/bin/env python
"""Streaming trigger-size sweep (round 6): measure sustained drain wall
of ``replay_stream`` across maxFilesPerTrigger settings on the same
binary log, against a ``replay_batch`` run at matching epoch
granularity — so BENCH/STREAMING.md's operational guidance ("use
triggers >= X") is a measured knee, not an implied one.

Protocol: the bench.py fixture (BENCH_AMP x sf change log, cached) is
replayed once per trigger size into a fresh lake + checkpoint,
availableNow until drained; wall time excludes session startup and
fixture generation.  One batch comparator runs per trigger size at the
same files_per_epoch.  Output: a JSON line per trigger plus a summary
table appended by hand to BENCH/STREAMING.md.

Env: BENCH_AMP/BENCH_EPF (fixture tag, run bench.py first),
SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, TRIGGER_SIZES (comma list,
default "1200,300,75,20,5"), SWEEP_WAIT_LOAD (quiet gate, default 4).
"""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AMP = int(os.environ.get("BENCH_AMP", "60"))
EPF = int(os.environ.get("BENCH_EPF", "5000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SIZES = [
    int(x)
    for x in os.environ.get("TRIGGER_SIZES", "1200,300,75,20").split(",")
]
WAIT_LOAD = float(os.environ.get("SWEEP_WAIT_LOAD", "4"))
WAIT_MAX = float(os.environ.get("SWEEP_WAIT_MAX", "240"))

IMAGE_COLS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
    ("tool_version", "string"),
]
TABLE_COLS = IMAGE_COLS[:6]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _gate() -> None:
    t0 = time.time()
    while _loadavg() > WAIT_LOAD and time.time() - t0 < WAIT_MAX:
        time.sleep(10)


def main() -> None:
    from mysql_binlog_spark.session import get_spark
    from mysql_binlog_spark.sources.binlog import CHUNK_GLOB
    from mysql_binlog_spark.streaming.replay import replay_batch, replay_stream
    from mysql_binlog_spark.table import LakeTable

    tag = f"sf={os.path.basename(SF_DIR.rstrip('/'))}-amp={AMP}-epf={EPF}-v3"
    chunks = os.path.join(tempfile.gettempdir(), "mbs_bench", tag)
    marker = os.path.join(chunks, "_COMPLETE")
    if not os.path.exists(marker):
        raise SystemExit(f"fixture missing ({chunks}): run bench.py first")
    n_files = len(fnmatch.filter(os.listdir(chunks), CHUNK_GLOB))

    spark = get_spark(
        app_name="trigger-sweep", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for trig in SIZES:
        _gate()
        load0 = _loadavg()
        # streaming drain at this trigger size
        lake = tempfile.mkdtemp(prefix="mbs_sweep_lake_")
        ckpt = tempfile.mkdtemp(prefix="mbs_sweep_ckpt_")
        t = LakeTable.create(lake, TABLE_COLS, ["conv_id", "turn_idx"],
                             n_buckets=64)
        t0 = time.time()
        st = replay_stream(
            spark, chunks, t, ckpt, include=[("app", "transcripts")],
            image_cols=IMAGE_COLS, max_files_per_trigger=trig,
            timeout_sec=36000, maintain_every=None,
        )
        stream_wall = time.time() - t0
        rows = t.snapshot_df(spark).count()
        shutil.rmtree(lake, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        # batch comparator at the same epoch granularity
        _gate()
        lake = tempfile.mkdtemp(prefix="mbs_sweep_lake_")
        t = LakeTable.create(lake, TABLE_COLS, ["conv_id", "turn_idx"],
                             n_buckets=64)
        t0 = time.time()
        bt = replay_batch(
            spark, chunks, t, include=[("app", "transcripts")],
            image_cols=IMAGE_COLS, files_per_epoch=trig,
            maintain_every=None,
        )
        batch_wall = time.time() - t0
        shutil.rmtree(lake, ignore_errors=True)
        rec = {
            "max_files_per_trigger": trig,
            "epochs": st.applied,
            "stream_wall_sec": round(stream_wall, 1),
            "batch_wall_sec": round(batch_wall, 1),
            "batch_epochs": bt.applied,
            "stream_over_batch": round(stream_wall / batch_wall, 3),
            "final_rows": rows,
            "loadavg_at_start": load0,
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)

    print(json.dumps({
        "n_files": n_files, "cpus": CPUS, "sweep": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

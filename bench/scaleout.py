#!/usr/bin/env python
"""Executor-style scale-out evidence: N=1 vs N=4 *separate 8-core Spark
processes* (own JVM, own Python workers, own memory) over sharded chunks —
much closer to the north rule's "N → 4N executors" than widening threads
inside one JVM, which hits single-process ceilings (GC/allocator/memory
bandwidth) a real cluster does not share.

Protocol: for K in (1, 4): shard the chunk files round-robin into K
disjoint slices; launch K worker processes (local[8] each); every worker
builds its session, warms up, signals READY, blocks on a GO barrier, then
times decode → dedup → last-writer → lake-MERGE over its slice (one
epoch, fresh lake).  Aggregate throughput = total events / slowest worker.
Efficiency = (tp_4 / tp_1) / 4.

Writes BENCH/SCALEOUT_LAST_RUN.md (the curated multi-round record
lives in BENCH/SCALEOUT.md).  Usage: python bench/scaleout.py
Env: BENCH_AMP/BENCH_EPF (fixture tag, must be generated already by
bench.py/scaling.py), SCALE_OUT_WORKERS (default 4), CORES_PER (default 8).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
AMP = int(os.environ.get("BENCH_AMP", "180"))
EPF = int(os.environ.get("BENCH_EPF", "20000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORKERS = int(os.environ.get("SCALE_OUT_WORKERS", "4"))
CORES_PER = int(os.environ.get("CORES_PER", "8"))
ROUNDS = int(os.environ.get("SCALE_OUT_ROUNDS", "3"))
FIXTURE_TAG = os.environ.get("SCALE_OUT_TAG", "")  # full tag override
WAIT_LOAD = float(os.environ.get("SCALE_OUT_WAIT_LOAD", "0"))  # 0 = no gate
WAIT_MAX_SEC = float(os.environ.get("SCALE_OUT_WAIT_MAX", "600"))
# Pin worker i to cores [i*CORES_PER, (i+1)*CORES_PER): each "executor"
# owns a disjoint core set (like a real cluster's per-node cores) and
# external load is scheduled onto the remaining idle cores instead of
# stealing worker cycles.  taskset affinity is inherited by the JVM and
# its forked Python workers.
PIN_CORES = os.environ.get("SCALE_OUT_PIN", "1") == "1"
# Read every chunk once before round 1 so both configs run page-cache
# warm (a real executor's storage layer; avoids cache-asymmetric rounds
# like round-3's excluded 0.99 outlier).
PREWARM = os.environ.get("SCALE_OUT_PREWARM", "1") == "1"

WORKER_SRC = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from mysql_binlog_spark.session import get_spark
from mysql_binlog_spark.sources.binlog import read_binlog, image_view
from mysql_binlog_spark.operators.apply import last_writer
from mysql_binlog_spark.table import LakeTable
import tempfile

paths = json.load(open(sys.argv[1]))
ready, go, result = sys.argv[2], sys.argv[3], sys.argv[4]
spark = get_spark(app_name="scaleout-worker", master="local[{cores}]",
                  shuffle_partitions={cores} * 4,
                  extra_conf={{
                      "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
                      "spark.sql.files.openCostInBytes": str(1024 * 1024),
                  }})
spark.sparkContext.setLogLevel("ERROR")
IMAGE_COLS = [("conv_id","string"),("turn_idx","int"),("role","string"),
              ("text","string"),("tool","string"),("ts","timestamp"),
              ("tool_version","string")]
names = [n for n, _ in IMAGE_COLS]
# warm the FULL pipeline shape (decode -> winners -> lake MERGE) on one
# file: JVM JIT + whole-stage codegen + python worker pool are steady
# before the barrier, so the timed region measures SUSTAINED throughput
# (the north rule's metric), not first-query compilation
warm_lake = tempfile.mkdtemp(prefix="mbs_scaleout_warm_")
wt = LakeTable.create(warm_lake, IMAGE_COLS[:6], ["conv_id","turn_idx"],
                      n_buckets=64)
wdec = read_binlog(spark, paths[:1], image_cols=IMAGE_COLS,
                   include={{("app","transcripts")}},
                   before_mode="delete_only")
wt.merge_into(
    spark,
    last_writer(image_view(wdec, names), ["conv_id","turn_idx"],
                [c for c in names if c not in ("conv_id","turn_idx")]),
    "warm-epoch",
)
open(ready, "w").write("1")
while not os.path.exists(go):
    time.sleep(0.05)
t0 = time.time()
dec = read_binlog(spark, paths, image_cols=IMAGE_COLS,
                  include={{("app","transcripts")}},
                  before_mode="delete_only")
df = image_view(dec, names)
winners = last_writer(df, ["conv_id","turn_idx"],
                      [c for c in names if c not in ("conv_id","turn_idx")])
lake = tempfile.mkdtemp(prefix="mbs_scaleout_lake_")
t = LakeTable.create(lake, IMAGE_COLS[:6], ["conv_id","turn_idx"], n_buckets=64)
t.merge_into(spark, winners, "scaleout-epoch")
dt = time.time() - t0
rows = sum(v["rows"] for v in t.last_commit()["lineage"].values())
json.dump({{"sec": dt, "winner_rows": rows}}, open(result, "w"))
spark.stop()
"""


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_fleet(chunks: list[str], k: int) -> dict:
    tmp = tempfile.mkdtemp(prefix=f"mbs_scaleout_{k}_")
    # shard by replica (file index // 10000 = amplification replica, see
    # bench.amplified_changelog): replicas own DISJOINT conv_id keyspaces,
    # so each worker runs the same job at 1/k scale — round-robin by FILE
    # would split every key across all workers and inflate the winner set
    reps: dict[int, list[str]] = {}
    for c in chunks:
        rep = int(os.path.basename(c).split(".")[1]) // 10_000
        reps.setdefault(rep, []).append(c)
    rep_ids = sorted(reps)
    shards = [
        [c for rid in rep_ids[i::k] for c in reps[rid]] for i in range(k)
    ]
    procs = []
    worker_py = os.path.join(tmp, "worker.py")
    with open(worker_py, "w") as f:
        f.write(WORKER_SRC.format(repo=REPO, cores=CORES_PER))
    go = os.path.join(tmp, "GO")
    for i, shard in enumerate(shards):
        pj = os.path.join(tmp, f"paths{i}.json")
        json.dump(shard, open(pj, "w"))
        cmd = [sys.executable, worker_py, pj,
               os.path.join(tmp, f"ready{i}"), go,
               os.path.join(tmp, f"result{i}.json")]
        if PIN_CORES:
            lo, hi = i * CORES_PER, (i + 1) * CORES_PER - 1
            cmd = ["taskset", "-c", f"{lo}-{hi}"] + cmd
        procs.append(
            subprocess.Popen(
                cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            )
        )
    while not all(
        os.path.exists(os.path.join(tmp, f"ready{i}")) for i in range(k)
    ):
        time.sleep(0.2)
        if any(p.poll() not in (None,) and p.returncode not in (0, None)
               for p in procs):
            raise RuntimeError("worker died before barrier")
    load = _loadavg()
    open(go, "w").write("1")
    for p in procs:
        p.wait()
    results = [
        json.load(open(os.path.join(tmp, f"result{i}.json")))
        for i in range(k)
    ]
    return {
        "k": k,
        "wall_sec": max(r["sec"] for r in results),
        "per_worker_sec": [round(r["sec"], 2) for r in results],
        "winner_rows": sum(r["winner_rows"] for r in results),
        "load_at_go": load,
    }


def _wait_for_quiet() -> None:
    """Optionally hold the next round until external load subsides (the
    box is shared; see BENCH/ANALYSIS.md) — bounded by WAIT_MAX_SEC."""
    if WAIT_LOAD <= 0:
        return
    t0 = time.time()
    while _loadavg() > WAIT_LOAD and time.time() - t0 < WAIT_MAX_SEC:
        time.sleep(10)


def main() -> None:
    from mysql_binlog_spark.sources.binlog import CHUNK_GLOB

    tag = FIXTURE_TAG or (
        f"sf={os.path.basename(SF_DIR.rstrip('/'))}-amp={AMP}-epf={EPF}-v3"  # v3: 2-SID GTID fixtures (bench.py's tag)
    )
    chunk_dir = os.path.join(tempfile.gettempdir(), "mbs_bench", tag)
    if not os.path.exists(os.path.join(chunk_dir, "_COMPLETE")):
        raise SystemExit(f"fixture missing: run bench.py with AMP={AMP} first")
    chunks = sorted(glob.glob(os.path.join(chunk_dir, CHUNK_GLOB)))
    meta = json.load(open(os.path.join(chunk_dir, "_COMPLETE")))
    n_events = meta["rows"]

    if PREWARM:
        t0 = time.time()
        buf = bytearray(1 << 20)
        for c in chunks:
            with open(c, "rb", buffering=0) as f:
                while f.readinto(buf):
                    pass
        print(f"# prewarm: {len(chunks)} chunks in {time.time()-t0:.1f}s",
              file=sys.stderr)

    # alternating rounds, best-of per config: both configs sample the same
    # load regime; every round records loadavg at its GO barrier
    runs1: list[dict] = []
    runsk: list[dict] = []
    for _ in range(ROUNDS):
        _wait_for_quiet()
        runs1.append(run_fleet(chunks, 1))
        _wait_for_quiet()
        runsk.append(run_fleet(chunks, WORKERS))
        print(
            f"# round: 1x{CORES_PER} {runs1[-1]['wall_sec']:.1f}s "
            f"(load {runs1[-1]['load_at_go']:.1f}) | "
            f"{WORKERS}x{CORES_PER} {runsk[-1]['wall_sec']:.1f}s "
            f"(load {runsk[-1]['load_at_go']:.1f})",
            file=sys.stderr,
        )
    r1 = min(runs1, key=lambda r: r["wall_sec"])
    rk = min(runsk, key=lambda r: r["wall_sec"])
    tp1 = n_events / r1["wall_sec"]
    tpk = n_events / rk["wall_sec"]
    eff = round((tpk / tp1) / WORKERS, 3)
    doc = {
        "events_total": n_events,
        "cores_per_executor": CORES_PER,
        "executors_low": 1,
        "executors_high": WORKERS,
        "rounds": ROUNDS,
        "low": dict(r1, events_per_sec=round(tp1, 1)),
        "high": dict(rk, events_per_sec=round(tpk, 1)),
        "all_rounds": {
            "low_wall_sec": [round(r["wall_sec"], 1) for r in runs1],
            "low_load": [r["load_at_go"] for r in runs1],
            "high_wall_sec": [round(r["wall_sec"], 1) for r in runsk],
            "high_load": [r["load_at_go"] for r in runsk],
        },
        "scaling_efficiency": eff,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # last-run report only — BENCH/SCALEOUT.md is the curated multi-round
    # record, maintained by hand; overwriting it cost two restorations
    with open(os.path.join(REPO, "BENCH", "SCALEOUT_LAST_RUN.md"), "w") as f:
        f.write(
            f"""# SCALEOUT — N vs {WORKERS}N executor-style scale-out

Same end-to-end apply (decode → dedup → last-writer → lake MERGE) over
the same {n_events:,}-event binary log, run by **separate {CORES_PER}-core
Spark processes** (own JVM/heap/Python workers — the single-box analog of
executors), chunks sharded round-robin, synchronized start barrier,
session startup excluded.

| config | wall sec (slowest worker) | events/sec |
|---|---|---|
| 1 executor × {CORES_PER} cores | {r1['wall_sec']:.1f} | {tp1:,.0f} |
| {WORKERS} executors × {CORES_PER} cores | {rk['wall_sec']:.1f} | {tpk:,.0f} |

**Scaling efficiency = (tp_{WORKERS} / tp_1) / {WORKERS} = {eff}**

External load at GO: {r1['load_at_go']:.1f} (k=1), {rk['load_at_go']:.1f}
(k={WORKERS}).  Per-worker seconds (k={WORKERS}): {rk['per_worker_sec']}.

```json
{json.dumps(doc, indent=2)}
```
"""
        )
    print(json.dumps(doc))


if __name__ == "__main__":
    main()

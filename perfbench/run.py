#!/usr/bin/env python3
"""CDC engine benchmark: one workload per run, one process, Spark
``local[N]`` with N = min(4, cores / 2).

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run generates (or reuses) its seeded
inputs, starts Spark, warms up, then applies a fixed number of units of
work, as many as take ``--seconds`` on a 4-core box (at least one), checking
every table state it reaches against an expected state computed
independently in DuckDB.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs each layer of an epoch serially through its public
function and reports per-layer metrics (see ``layers.py``).

A human-readable report goes to stderr; the last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  Input
generation and base-table loading are outside every timed metric,
``setup_s`` included.  Everything the run writes lives under
``.perfbench_cache/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_spark(work: str):
    """Spark local[N] with every scratch directory inside the run's work
    directory.  N = min(4, cores / 2): the other cores stay free for the
    driver process, the Python workers and the JVM's compiler and GC
    threads.  JIT compilation alone takes 5-15 CPU-s of a tail unit, and
    where it competed with the task threads it showed as run-to-run
    spread."""
    from mysql_binlog_spark.session import get_spark

    cores = max(1, min(4, (os.cpu_count() or 2) // 2))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # overrides spark.local.dir
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit, so the run leaves no process behind."""
    import signal

    import evidence

    left = evidence.descendants()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = [p for p in left if evidence.alive(p)]
        time.sleep(0.1)
    for p in left:  # still there after 30 s
        os.kill(p, signal.SIGKILL)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def e2e_metrics(tally, setup_s: float) -> dict:
    events = max(tally.events, 1)
    return {
        "setup_s": (setup_s, "s"),
        "apply_events_per_s": (tally.events / tally.apply_wall
                               if tally.apply_wall else 0.0, "events/s"),
        "cpu_s_per_mevent": (tally.apply_cpu / events * 1e6, "s/Mevent"),
        "epoch_interval_p50_s": (median(tally.intervals), "s"),
        "read_scan_s": (median(tally.scans), "s"),
        "bytes_written_per_event": (tally.bytes_written / events, "B/event"),
        "lake_bytes_per_live_row": (median(tally.lake_bytes_per_row), "B/row"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import mysql_binlog_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import evidence
    import loadgen
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    w = W.WORKLOADS[args.workload]
    work = os.path.join(CACHE, f"work-{os.getpid()}")
    # Python workers inherit the engine path and a private temp dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    spark = None
    metrics, attempted, failed = {}, 0, 0
    report = {"workload": w.name, "seed": args.seed}
    try:
        pre_gen_s = process_age_s()
        g0 = time.perf_counter()
        inputs = loadgen.prepare(os.path.join(CACHE, "inputs"), w.name,
                                 w.params, args.seed)
        report["gen_s"] = time.perf_counter() - g0

        s0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - s0
        w0 = time.perf_counter()
        base_load_s = W.warm_up(spark, w, inputs, work)
        warm_s = time.perf_counter() - w0 - base_load_s
        ev0 = evidence.Window()

        if args.trace:
            import layers

            result = layers.run(spark, w, inputs, work)
            result["metrics"]["session.start_s"] = (session_s, "s")
            report.update(warm_s=warm_s, **result["report"])
            metrics = result["metrics"]
            attempted, failed = result["attempted"], result["failed"]
        else:
            tally = W.Tally()
            # fixed work: the units that fill --seconds on a 4-core box
            units = max(1, round(args.seconds / w.unit_s))
            try:
                for i in range(units):
                    W.run_unit(spark, w, inputs, work, tally,
                               w.scans if i == units - 1 else 0)
            finally:
                attempted, failed = tally.attempted, tally.failed
            setup_s = pre_gen_s + session_s + warm_s + median(tally.open_s)
            metrics = e2e_metrics(tally, setup_s)
            report.update({
                "units": units, "events": tally.events,
                "setup_parts_s": {"process_to_inputs": pre_gen_s,
                                  "session": session_s, "warm_up": warm_s,
                                  "commit_log_open": median(tally.open_s)},
                "epoch_intervals_s": tally.intervals,
                "maintain_s": tally.maintain_s,
                "scans_s": tally.scans, "apply_windows": tally.windows,
                "errors": tally.errors,
            })
        report["run_evidence"] = ev0.close()
    except Exception:  # a failed attempt: no metrics, exit non-zero
        attempted, failed, metrics = attempted + 1, failed + 1, {}
        report["exception"] = traceback.format_exc()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and attempted > 0
    print(json.dumps(report, default=str), file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{w.name:10s} {name:32s} {value:14.6g} {unit}", file=sys.stderr)
    print(f"{w.name:10s} correct={correct} attempted={attempted} "
          f"failed={failed}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

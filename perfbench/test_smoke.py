"""Smoke test of the benchmark on tiny inputs.

    python -m pytest perfbench/test_smoke.py -q

Runs both workload shapes, scaled down, through the untraced loop and the
traced run in one Spark session, and checks that every metric named in
BENCHMARK.json is produced with its unit, that the correctness gate
passes on the engine's table, and that the gate catches a table that
differs from the expected state by one row.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import loadgen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from loadgen import LogSpec  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)


def _tiny(name: str) -> W.Workload:
    """The named workload at a few hundred events."""
    w = W.WORKLOADS[name]
    chunks = (3, 40, 60, 9) if w.epochs > 1 else (150, 8, 200, 12)
    params = {
        k: dataclasses.replace(spec, events=2 * sum(chunks), chunk_sizes=chunks)
        if k == "log" else dataclasses.replace(spec, events=300)
        for k, spec in w.params.items()
    }
    tail = w.epochs > 1
    return dataclasses.replace(
        w, params=params, files_per_epoch=4 if tail else w.files_per_epoch,
        epochs=2 if tail else 1, scan_every=1, warm_files=4,
        trace_epochs=2 if tail else 1,
    )


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = run.start_spark(work)
    yield s
    run.stop_spark(s)


def _units(metrics: dict) -> dict:
    return {k: u for k, (_, u) in metrics.items()}


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_workload_metrics_and_gate(spark, tmp_path, name):
    w = _tiny(name)
    inputs = loadgen.prepare(str(tmp_path / "inputs"), w.name, w.params, 5)
    W.warm_up(spark, w, inputs, str(tmp_path))

    tally = W.Tally()
    W.run_unit(spark, w, inputs, str(tmp_path), tally, scans=1)
    assert tally.errors == []
    assert tally.attempted == w.epochs and tally.failed == 0
    assert len(tally.maintain_s) == 1
    metrics = run.e2e_metrics(tally, setup_s=1.0)
    assert _units(metrics) == {m["name"]: m["unit"]
                               for m in CONTRACT["end_to_end"]}
    assert all(v > 0 for v, _ in metrics.values()), metrics

    traced = layers.run(spark, w, inputs, str(tmp_path))
    assert traced["failed"] == 0
    assert {**_units(traced["metrics"]), "session.start_s": "s"} == {
        m["name"]: m["unit"] for m in CONTRACT["per_layer"]}


def test_gate_catches_a_wrong_row(spark, tmp_path):
    from pyspark.sql import functions as F

    w = _tiny("backfill")
    inputs = loadgen.prepare(str(tmp_path / "inputs"), w.name, w.params, 6)
    t = W.new_table(w, str(tmp_path / "lake"))
    W.replay(spark, w, inputs.chunk_dir, t, None)
    want = oracle.expected(inputs.changelog)
    assert oracle.observed(spark, t) == want
    # re-apply one live row with a later LSN and a changed text
    row = t.snapshot_df(spark, with_lsn=True).limit(1).select(
        *[F.col(n) for n, _ in W.IMAGE_COLS if n != "text"],
        F.lit("tampered").alias("text"), F.lit("binlog.999999").alias("log_file"),
        "log_pos", "batch_seq", "server_id", F.lit("update").alias("action"))
    t.merge_into(spark, row, "tamper")
    assert oracle.observed(spark, t) != want


def test_inputs_are_seeded(tmp_path):
    spec = LogSpec(200, (0.5, 0.4, 0.1), 0.3, 5, (20, 30, 3), (8, 20))
    tables = []
    for seed in (1, 1, 2):
        log = loadgen.Log()
        log.extend(spec, seed)
        tables.append(log.table())
    assert tables[0].equals(tables[1])
    assert not tables[0].equals(tables[2])

"""End-to-end replay tests (SURVEY.md §5.2.1/3/4/5): golden comparison vs
the pure-pandas oracle applier, checkpoint resume, exactly-once, schema
evolution, streaming replay."""

from __future__ import annotations

import fnmatch
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mysql_binlog_spark import spec
from mysql_binlog_spark.fixtures.generator import generate_binlog_chunks
from mysql_binlog_spark.operators.apply import (
    dedup_lsn,
    filter_tables,
    last_writer,
    salted_last_writer,
)
from mysql_binlog_spark.oracle import apply_changelog
from mysql_binlog_spark.sources.binlog import CHUNK_GLOB, image_view, read_binlog
from mysql_binlog_spark.streaming.replay import replay_batch, replay_stream
from mysql_binlog_spark.table import LakeTable

TABLE_COLS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
]
FINAL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_version", "ts"]
EPF = 150  # small chunks → several files even at sf0.001


@pytest.fixture(scope="module")
def chunks(spark, sf_dir):
    """Binary chunks for a small-chunk derivation of the sf change log."""
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView(
        "events"
    )
    changelog = spark.sql(
        spec.changelog_sql("spark", with_duplicates=False, events_per_file=EPF)
    )
    out = tempfile.mkdtemp(prefix="mbs_chunks_")
    stats = generate_binlog_chunks(changelog, out)
    assert stats["n_rows"].sum() == changelog.count()
    return out


@pytest.fixture(scope="module")
def golden(spark, sf_dir):
    """Final state per the pandas oracle applier over the decoded changelog
    (duplicates included — the oracle dedups them itself)."""
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView(
        "events"
    )
    changelog = spark.sql(
        spec.changelog_sql("spark", with_duplicates=True, events_per_file=EPF)
    )
    return apply_changelog(changelog.toPandas())


def new_table() -> LakeTable:
    return LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_lake_"), TABLE_COLS,
        ["conv_id", "turn_idx"], n_buckets=8,
    )


def snapshot_pdf(spark, table):
    return (
        table.snapshot_df(spark)
        .select(*FINAL_COLS)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def assert_matches_golden(spark, table, golden):
    got = snapshot_pdf(spark, table)
    want = (
        golden[FINAL_COLS]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want), (len(got), len(want))
    for c in FINAL_COLS:
        a = got[c].map(lambda v: "␀" if v is None or v != v else str(v))
        b = want[c].map(lambda v: "␀" if v is None or v != v else str(v))
        bad = a != b
        assert not bad.any(), f"{c}: {got[bad].head()} vs {want[bad].head()}"


def test_batch_replay_matches_pandas_oracle(spark, chunks, golden):
    table = new_table()
    stats = replay_batch(
        spark, chunks, table, include=[("app", "transcripts")], files_per_epoch=3
    )
    assert stats.applied >= 2
    assert_matches_golden(spark, table, golden)
    # schema evolved mid-replay (A4)
    assert ("tool_version", "string") in table.columns()
    assert table.schema_doc()["version"] >= 2


def test_batch_replay_ignores_binlog_index(spark, chunks, golden):
    """A MySQL binlog directory always holds ``binlog.index`` (the
    server's list of its binlog files).  It is not a chunk: the replay
    reaches the golden state under on_error='raise', and no epoch is
    named after it."""
    import shutil as _sh

    d = os.path.join(tempfile.mkdtemp(prefix="mbs_replay_idx_"), "log")
    _sh.copytree(chunks, d)
    names = sorted(fnmatch.filter(os.listdir(d), CHUNK_GLOB))
    with open(os.path.join(d, "binlog.index"), "w") as f:
        f.writelines(f"./{n}\n" for n in names)
    table = new_table()
    stats = replay_batch(
        spark, d, table, include=[("app", "transcripts")], files_per_epoch=3
    )
    assert stats.applied >= 2
    assert not any("index" in e["epoch_id"] for e in stats.epochs)
    assert_matches_golden(spark, table, golden)


def test_resume_and_exactly_once(spark, chunks, golden):
    table = new_table()
    s1 = replay_batch(
        spark, chunks, table, include=[("app", "transcripts")],
        files_per_epoch=2, stop_after_epochs=1,
    )
    assert s1.applied == 1
    mid_commits = len(table.commits())
    s2 = replay_batch(
        spark, chunks, table, include=[("app", "transcripts")], files_per_epoch=2
    )
    assert s2.epochs[0]["skipped"] is True  # resume skipped epoch 0
    assert_matches_golden(spark, table, golden)
    # exact re-delivery of everything: no new commits, same state
    n_commits = len(table.commits())
    s3 = replay_batch(
        spark, chunks, table, include=[("app", "transcripts")], files_per_epoch=2
    )
    assert all(e["skipped"] for e in s3.epochs)
    assert len(table.commits()) == n_commits > mid_commits
    assert_matches_golden(spark, table, golden)


def test_streaming_replay_with_checkpoint_resume(spark, chunks, golden):
    table = new_table()
    ckpt = tempfile.mkdtemp(prefix="mbs_ckpt_")
    s1 = replay_stream(
        spark, chunks, table, ckpt, include=[("app", "transcripts")],
        max_files_per_trigger=2,
    )
    assert s1.applied >= 2
    assert_matches_golden(spark, table, golden)
    # restart from the same checkpoint: nothing new to process
    s2 = replay_stream(
        spark, chunks, table, ckpt, include=[("app", "transcripts")],
        max_files_per_trigger=2,
    )
    assert s2.applied == 0
    assert_matches_golden(spark, table, golden)


def test_evolution_backfills_null(spark, chunks):
    table = new_table()
    replay_batch(spark, chunks, table, include=[("app", "transcripts")])
    snap = table.snapshot_df(spark)
    pre = snap.filter(F.col("tool_version").isNull()).count()
    post = snap.filter(F.col("tool_version").isNotNull()).count()
    assert pre > 0 and post > 0  # both generations coexist, NULL-backfilled


def test_cross_epoch_lsn_monotonicity(spark, chunks, golden):
    """Re-applying an OLD epoch after newer ones must not regress rows
    (last-writer-wins is global: stored LSN beats older updates)."""
    table = new_table()
    replay_batch(spark, chunks, table, include=[("app", "transcripts")],
                 files_per_epoch=2)
    files = sorted(fnmatch.filter(os.listdir(chunks), CHUNK_GLOB))
    old = [os.path.join(chunks, f) for f in files[:2]]
    decoded = read_binlog(spark, old, include={("app", "transcripts")})
    cols = [f.name[len("after_"):] for f in decoded.schema.fields
            if f.name.startswith("after_")]
    df = image_view(dedup_lsn(decoded), cols)
    winners = last_writer(df, ["conv_id", "turn_idx"],
                          [c for c in cols if c not in ("conv_id", "turn_idx")])
    res = table.merge_into(spark, winners, "re-delivery-with-new-epoch-id")
    assert res["skipped"] is False  # it DID run — and must be harmless
    assert_matches_golden(spark, table, golden)


def test_replay_never_decodes_a_healed_epoch(
    spark, chunks, golden, monkeypatch
):
    """A crash between an epoch's manifest publish and its epochs.log
    append: the resumed replay plans its skips from the healed log, so
    that epoch is skipped without being decoded again."""
    import builtins
    import inspect

    import mysql_binlog_spark.streaming.replay as rmod
    import mysql_binlog_spark.table as tmod

    files = sorted(fnmatch.filter(os.listdir(chunks), CHUNK_GLOB))
    healed = files[2:4]  # the second epoch at files_per_epoch=2
    kw = dict(include=[("app", "transcripts")], files_per_epoch=2)
    table = new_table()
    replay_batch(spark, chunks, table, stop_after_epochs=1, **kw)

    def crashing_open(path, mode="r", *a, **k):
        if str(path).endswith("epochs.log") and "a" in mode:
            raise OSError("simulated crash before the epoch-log append")
        return builtins.open(path, mode, *a, **k)

    monkeypatch.setattr(tmod, "open", crashing_open, raising=False)
    with pytest.raises(OSError, match="simulated crash"):
        replay_batch(spark, chunks, table, **kw)
    monkeypatch.undo()
    reopened = LakeTable(table.path)
    epoch_id = f"batch-{healed[0]}-{healed[-1]}"
    assert reopened.last_commit()["epoch_id"] == epoch_id
    assert epoch_id not in reopened.committed_epochs()

    decoded = []
    real = rmod._epoch_winners

    def counting(*a, **k):
        paths = inspect.signature(real).bind(*a, **k).arguments["paths"]
        decoded.append(sorted(os.path.basename(p) for p in paths))
        return real(*a, **k)

    monkeypatch.setattr(rmod, "_epoch_winners", counting)
    stats = replay_batch(spark, chunks, reopened, **kw)
    monkeypatch.undo()
    assert healed not in decoded, decoded
    assert len(decoded) == stats.applied
    assert [e["skipped"] for e in stats.epochs[:2]] == [True, True]
    assert_matches_golden(spark, reopened, golden)


def test_stopped_replay_decodes_only_the_epochs_it_applies(
    spark, chunks, monkeypatch
):
    """``stop_after_epochs=k`` with the one-deep prefetch on decodes
    exactly k epochs: the prefetch never stages epoch k+1 only to drop
    it, and the call leaves no cached blocks behind."""
    import mysql_binlog_spark.streaming.replay as rmod

    calls = []
    real = rmod._epoch_winners

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(rmod, "_epoch_winners", counting)
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    stats = replay_batch(
        spark, chunks, new_table(), include=[("app", "transcripts")],
        files_per_epoch=1, stop_after_epochs=2,
    )
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    assert stats.applied == 2
    assert len(calls) == 2, calls
    assert after - before == set(), f"leaked cached RDD ids: {after - before}"


def test_salted_equals_plain(spark, sf_dir):
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView(
        "events"
    )
    df = filter_tables(
        dedup_lsn(spark.sql(spec.changelog_sql("spark"))),
        include=[("app", "transcripts")],
    )
    payload = ["role", "text", "tool", "ts", "tool_version"]
    a = last_writer(df, ["conv_id", "turn_idx"], payload)
    b = salted_last_writer(df, ["conv_id", "turn_idx"], payload, salt_buckets=7)
    sa = {tuple(str(x) for x in r) for r in a.collect()}
    sb = {tuple(str(x) for x in r) for r in b.collect()}
    assert sa == sb and len(sa) > 0


def test_hot_key_skew_present(spark, sf_dir):
    """The fixture really is skewed (~30% one conv) — prerequisite for the
    skew-handling bench claims."""
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView(
        "events"
    )
    df = spark.sql(spec.changelog_sql("spark", with_duplicates=False))
    total = df.count()
    hot = df.filter(F.col("conv_id") == "conv_hot").count()
    assert 0.25 * total < hot < 0.35 * total


def test_cli_bare_exclude_table_qualifies_against_include_dbs():
    """A bare --exclude-tables entry means 'exclude T within the
    included databases' — it must qualify against --databases, not
    --exclude-databases (where it would be a no-op)."""
    import importlib

    replay_cli = importlib.import_module("scripts.replay")
    ex = replay_cli._filter_entries(
        ["legacy_db"], ["audit_log"], qualify_against=["app", "app2"]
    )
    assert ex == ["legacy_db", ("app", "audit_log"), ("app2", "audit_log")]
    # include path unchanged: bare names qualify against its own dbs
    inc = replay_cli._filter_entries(["app"], ["transcripts", "a.b"])
    assert inc == ["app", ("app", "transcripts"), ("a", "b")]


def test_streaming_mor_replay_matches_golden(spark, chunks, golden):
    """Streaming ingest in merge-on-read mode: tiny triggers append
    deltas (no bucket rewrite per micro-batch — the low-latency shape),
    the delta-resolving snapshot matches the golden applier, and a
    compaction folds everything without changing the answer."""
    table = new_table()
    ckpt = tempfile.mkdtemp(prefix="mbs_ckpt_mor_")
    s1 = replay_stream(
        spark, chunks, table, ckpt, include=[("app", "transcripts")],
        max_files_per_trigger=2, maintain_every=None, merge_mode="mor",
    )
    assert s1.applied >= 2
    assert table.delta_files(), "MOR stream must leave deltas outstanding"
    assert_matches_golden(spark, table, golden)
    table.compact(spark)
    assert not table.delta_files()
    assert_matches_golden(spark, table, golden)


def test_batch_replay_quarantines_corrupt_chunk(spark, chunks, golden):
    """A corrupt chunk mid-log must not kill a long replay: with
    on_error='skip' the replay completes and the final state equals a
    replay over only the healthy chunks (the corrupt chunk's changes are
    lost by design — whole-chunk atomicity — and validate_chunks is the
    report that says so)."""
    import shutil as _sh

    qdir = tempfile.mkdtemp(prefix="mbs_replay_q_")
    names = sorted(fnmatch.filter(os.listdir(chunks), CHUNK_GLOB))
    for n in names:
        _sh.copy(os.path.join(chunks, n), qdir)
    # corrupt the MIDDLE chunk's final CRC byte
    victim = names[len(names) // 2]
    vp = os.path.join(qdir, victim)
    data = bytearray(open(vp, "rb").read())
    data[-1] ^= 0xFF
    open(vp, "wb").write(bytes(data))

    table = new_table()
    stats = replay_batch(
        spark, qdir, table, include=[("app", "transcripts")],
        files_per_epoch=2, on_error="skip", verify_crc=True,
    )
    assert stats.applied > 0
    # reference: replay the healthy chunks only (original dir, victim
    # excluded via an explicit chunk list staged in a clean dir)
    refdir = tempfile.mkdtemp(prefix="mbs_replay_ref_")
    for n in names:
        if n != victim:
            _sh.copy(os.path.join(chunks, n), refdir)
    ref = new_table()
    replay_batch(spark, refdir, ref, include=[("app", "transcripts")],
                 files_per_epoch=2)
    got = snapshot_pdf(spark, table)
    want = snapshot_pdf(spark, ref)
    assert got.equals(want)


def test_backfill_repaired_chunk_after_quarantine(spark, chunks, golden):
    """The quarantine pitfall and its answer: a chunk quarantined inside
    epoch 'batch-A-B' leaves that epoch COMMITTED without the chunk's
    rows, so re-running after repairing the file skips the epoch
    (exactly-once) and the repaired data would never land.  The fix is
    structural, not special-cased: last-writer-wins by LSN makes merges
    order-independent, so replaying JUST the repaired chunk from its own
    directory applies as a fresh epoch id and the table converges to the
    full-replay state."""
    import shutil as _sh

    qdir = tempfile.mkdtemp(prefix="mbs_bf_q_")
    names = sorted(fnmatch.filter(os.listdir(chunks), CHUNK_GLOB))
    for n in names:
        _sh.copy(os.path.join(chunks, n), qdir)
    victim = names[len(names) // 2]
    vp = os.path.join(qdir, victim)
    data = bytearray(open(vp, "rb").read())
    data[-1] ^= 0xFF
    open(vp, "wb").write(bytes(data))

    table = new_table()
    replay_batch(spark, qdir, table, include=[("app", "transcripts")],
                 files_per_epoch=2, on_error="skip", verify_crc=True)
    # repair arrives: the original healthy chunk, staged alone
    bfdir = tempfile.mkdtemp(prefix="mbs_bf_fix_")
    _sh.copy(os.path.join(chunks, victim), bfdir)
    s2 = replay_batch(spark, bfdir, table,
                      include=[("app", "transcripts")],
                      files_per_epoch=1, verify_crc=True)
    assert s2.applied == 1  # fresh epoch id -> applies, not skipped
    assert_matches_golden(spark, table, golden)  # converged to full state


def test_null_cols_emission_contract(spark, chunks):
    """read_binlog(null_cols=...) nulls EXACTLY the allowlisted meta
    columns and leaves every other column bit-identical with the same
    schema — the apply-path Arrow-traffic optimization must not perturb
    LSN / action / images.  Non-allowlisted names are rejected."""
    from mysql_binlog_spark.sources.binlog import NULLABLE_META

    glob = os.path.join(chunks, "binlog.*[0-9]")
    inc = {("app", "transcripts")}
    full = read_binlog(spark, glob, include=inc)
    pruned = read_binlog(spark, glob, include=inc, null_cols=NULLABLE_META)
    assert full.schema == pruned.schema
    counts, full_counts = (
        df.select(
            [F.count(F.col(c)).alias(c) for c in sorted(NULLABLE_META)]
        ).collect()[0]
        for df in (pruned, full)
    )
    for c in NULLABLE_META:
        assert counts[c] == 0, f"{c} not nulled"
        # non-vacuous: the un-pruned read carries values to drop (the
        # fixture writes GTID frames, so gtid included)
        assert full_counts[c] > 0, f"{c} is NULL even un-pruned"
    keep = [c for c in full.columns if c not in NULLABLE_META]
    a, b = full.select(keep), pruned.select(keep)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    with pytest.raises(ValueError, match="null_cols"):
        read_binlog(spark, glob, include=inc,
                    null_cols=frozenset({"log_pos"}))

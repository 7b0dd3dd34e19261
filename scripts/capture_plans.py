#!/usr/bin/env python
"""Capture .explain('formatted') for every bench-query pipeline into
plans/r07/<name>_<tag>.txt (tag = before/after).  Mirrors bench.py's
DataFrame construction exactly; no timing — plan shapes only.

Usage: python scripts/capture_plans.py before|after [only,names]
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mysql_binlog_spark import spec  # noqa: E402
from mysql_binlog_spark.operators.apply import (  # noqa: E402
    dedup_lsn, filter_tables, last_writer, salted_last_writer,
)
from mysql_binlog_spark.operators.dedup import minhash_dedup_pairs  # noqa: E402
from mysql_binlog_spark.operators.similarity import cosine_knn  # noqa: E402
from mysql_binlog_spark.session import get_spark  # noqa: E402
from mysql_binlog_spark.sources.binlog import (  # noqa: E402
    CHUNK_GLOB, image_view, read_binlog,
)

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r07")

IMAGE_COLS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
    ("tool_version", "string"),
]
PAYLOAD = ["role", "text", "tool", "ts", "tool_version"]

spark = get_spark(app_name="mbs-plans", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")

chunks = "/tmp/mbs_bench/sf=sf0.1-amp=60-epf=5000-v3"
glob = os.path.join(chunks, CHUNK_GLOB)


def save(name: str, df) -> None:
    if ONLY is not None and name not in ONLY:
        return
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = os.path.join(OUT, f"{name}_{TAG}.txt")
    with open(p, "w") as f:
        f.write(buf.getvalue())
    print("wrote", p)


# q1 decode_binary (count pipeline)
dec = read_binlog(spark, glob, image_cols=IMAGE_COLS,
                  include={("app", "transcripts")})
save("decode_binary", dec.groupBy().count())

# q2 dedup_last_writer
df2 = read_binlog(spark, glob, image_cols=IMAGE_COLS,
                  include={("app", "transcripts")}, before_mode="delete_only")
df2 = image_view(dedup_lsn(df2), [n for n, _ in IMAGE_COLS])
save("dedup_last_writer",
     last_writer(df2, ["conv_id", "turn_idx"], PAYLOAD).groupBy().count())

# q3 apply_e2e: the two heavy jobs of replay_batch's epochs, captured
# from the table code itself and not run — (a) the prefetch staging job
# (decode → per-key winners, persisted), (b) the write input of a fused
# epoch (decode → winners reduced in the bucket exchange → partitionBy)
import tempfile  # noqa: E402

from pyspark.sql import DataFrameWriter  # noqa: E402

from mysql_binlog_spark.streaming.replay import _epoch_winners  # noqa: E402
from mysql_binlog_spark.table import LakeTable  # noqa: E402


class Captured(Exception):
    """Raised in place of a job, carrying the DataFrame it would run."""


def captured(owner, attr: str, call, pick=lambda df, *a: df):
    """The DataFrame (``pick`` of the arguments) that ``call()`` hands to
    ``owner.attr``, a job entry point."""
    real = getattr(owner, attr)

    def stop(*args, **kw):
        raise Captured(pick(*args))

    setattr(owner, attr, stop)
    try:
        call()
    except Captured as e:
        return e.args[0]
    finally:
        setattr(owner, attr, real)
    raise RuntimeError(f"{attr} was never called")


lake = tempfile.mkdtemp(prefix="mbs_plan_lake_")
t = LakeTable.create(lake, IMAGE_COLS[:6], ["conv_id", "turn_idx"], n_buckets=64)
rows = _epoch_winners(spark, glob, IMAGE_COLS, [("app", "transcripts")],
                      None)  # replay prepare()'s decode → image
staged = captured(t, "_lineage", lambda: t.stage(rows))
staged.unpersist()  # explain the staging reduce, not a cache scan
save("apply_winners", staged)
save("apply_fused_write", captured(
    DataFrameWriter, "parquet", lambda: t.merge_into(spark, rows, "plans"),
    pick=lambda writer, *a: writer._df,
))

# q4 salted_last_writer
spark.read.parquet(os.path.join(SF_DIR, "events.parquet")) \
    .createOrReplaceTempView("events")
changelog = spark.sql(spec.changelog_sql("spark"))
save("salted_last_writer", salted_last_writer(
    filter_tables(dedup_lsn(changelog), include=[("app", "transcripts")]),
    ["conv_id", "turn_idx"], PAYLOAD).groupBy().count())

# q4b asof_lookup
from mysql_binlog_spark.driver_queries import ASOF_PROBE_XID_MOD, _lsn_ord  # noqa: E402
from mysql_binlog_spark.operators.asof import asof_join  # noqa: E402

dfa = filter_tables(dedup_lsn(changelog), include=[("app", "transcripts")])
states = dfa.select("conv_id", "turn_idx", _lsn_ord().alias("ord"),
                    "action", "role", "text")
probes = dfa.where(F.col("xid") % ASOF_PROBE_XID_MOD == 4).select(
    "conv_id",
    ((F.col("turn_idx") * 7 + 3) % spec.N_TURNS).cast("int").alias("turn_idx"),
    _lsn_ord().alias("ord"),
)
out = asof_join(probes, states, ["conv_id", "turn_idx"], "ord",
                ["action", "role", "text"])
save("asof_lookup", out.select(
    F.xxhash64(*[F.col(c) for c in out.columns]).alias("h")
).agg(F.expr("bit_xor(h)")))

# q5 minhash_lsh_dedup
docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
save("minhash_lsh_dedup", minhash_dedup_pairs(docs).groupBy().count())

# q6 cosine_knn
embs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
save("cosine_knn",
     cosine_knn(embs, embs.filter(F.col("vec_id") < 32), k=10).groupBy().count())

spark.stop()

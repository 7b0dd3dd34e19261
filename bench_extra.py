#!/usr/bin/env python
"""Round-7 phase-isolation benchmarks (guide §1.4): break the frozen
bench.py queries into their component passes with noop sinks / counts and
labeled jobs, so each optimization's before/after claim in
OPTIMIZATION_r07.md is reproducible.  bench.py itself is FROZEN for
measurement; this file only produces supporting numbers.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py
Env: BENCH_EXTRA_RUNS (default 3, median reported).
"""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from mysql_binlog_spark.operators.apply import (  # noqa: E402
    dedup_lsn,
    filter_tables,
    last_writer,
)
from mysql_binlog_spark.operators.dedup import (  # noqa: E402
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
)
from mysql_binlog_spark.operators.similarity import cosine_knn  # noqa: E402
from mysql_binlog_spark.session import get_spark  # noqa: E402
from mysql_binlog_spark.sources.binlog import (  # noqa: E402
    CHUNK_GLOB,
    image_view,
    read_binlog,
)
from mysql_binlog_spark.table import LakeTable  # noqa: E402
from mysql_binlog_spark.streaming.replay import replay_batch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("BENCH_EXTRA_RUNS", "3"))
CHUNKS = os.path.join(
    tempfile.gettempdir(), "mbs_bench",
    f"sf={os.path.basename(SF_DIR.rstrip('/'))}-amp=60-epf=5000-v3",
)

IMAGE_COLS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
    ("tool_version", "string"),
]
PAYLOAD = ["role", "text", "tool", "ts", "tool_version"]


def main() -> None:
    spark = get_spark(
        app_name="mbs-bench-extra", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    if not os.path.exists(CHUNKS):
        print(json.dumps({"error": f"bench chunks missing: {CHUNKS} — "
                          "run bench.py once to generate"}))
        return
    paths = [
        os.path.join(CHUNKS, f)
        for f in sorted(fnmatch.filter(os.listdir(CHUNKS), CHUNK_GLOB))
    ]
    inc = {("app", "transcripts")}
    img = [n for n, _ in IMAGE_COLS]
    out: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        sc.setJobDescription(f"bench_extra: {name}")
        fn()  # warmup
        ts = []
        for _ in range(RUNS):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        out[name] = round(statistics.median(ts), 3)
        sc.setJobDescription(None)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # --- decode family -------------------------------------------------
    dec_full = read_binlog(spark, paths, image_cols=IMAGE_COLS, include=inc)
    dec_full.count()  # warm page cache + workers
    timed("decode_full_count", lambda: dec_full.count())
    timed("decode_full_noop", lambda: noop(dec_full))
    dec_del = read_binlog(spark, paths, image_cols=IMAGE_COLS, include=inc,
                          before_mode="delete_only")

    # --- dedup + winners decomposition ---------------------------------
    timed(
        "winners_no_dedup_count",
        lambda: last_writer(
            image_view(dec_del, img), ["conv_id", "turn_idx"], PAYLOAD
        ).count(),
    )
    timed(
        "dedup_winners_count",
        lambda: last_writer(
            image_view(dedup_lsn(dec_del), img),
            ["conv_id", "turn_idx"], PAYLOAD,
        ).count(),
    )

    # --- apply: fused single-pass epoch (the merge_into fast path) -----
    def fused_epoch():
        lake = tempfile.mkdtemp(prefix="mbs_extra_lake_")
        t = LakeTable.create(lake, IMAGE_COLS[:6], ["conv_id", "turn_idx"],
                             n_buckets=64)
        replay_batch(
            spark, CHUNKS, t, include=[("app", "transcripts")],
            image_cols=IMAGE_COLS, files_per_epoch=10_000_000,
        )
        shutil.rmtree(lake, ignore_errors=True)

    timed("apply_fused_epoch", fused_epoch)

    # --- minhash decomposition -----------------------------------------
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    sigs = minhash_signatures(docs)
    timed("minhash_signatures_noop", lambda: noop(sigs))
    timed("minhash_candidates_count",
          lambda: lsh_candidate_pairs(sigs).count())
    timed("minhash_full_count", lambda: minhash_dedup_pairs(docs).count())

    # --- cosine knn -----------------------------------------------------
    embs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    timed(
        "cosine_knn_count",
        lambda: cosine_knn(embs, embs.filter(F.col("vec_id") < 32), k=10)
        .count(),
    )

    # --- load-independent single-core decode kernel (VERDICT r6 task 3:
    # the ±8% shared-box noise on driver wall exceeds the decode deltas;
    # this number is attributable in one step) ---------------------------
    from mysql_binlog_spark.sources.wavefront import decode_chunk_vectorized

    pinned = paths[:16]
    datas = [open(p, "rb").read() for p in pinned]
    rows = 0
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        rows = 0
        for data in datas:
            b, _k = decode_chunk_vectorized(
                data, image_cols=img, include=inc, before_mode="full"
            )
            rows += b.n_rows
        best = min(best, time.time() - t0)
    out["decode_kernel_ms_per_chunk_1core"] = round(
        1000 * best / len(pinned), 3
    )
    out["decode_kernel_rows_per_sec_1core"] = round(rows / best, 1)

    print(json.dumps({"sf": SF_DIR, "cpus": CPUS, "phases": out}))
    spark.stop()


if __name__ == "__main__":
    main()

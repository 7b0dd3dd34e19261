"""KMV distinct sketch + temperature resampling (round 6).

The driver oracle rows (`corpus_distinct_kmv`, `doc_resample_sources`)
hash-gate cross-engine equality; these tests pin the statistical and
structural properties the hash gate can't express: estimator accuracy,
flattening on skew, and the broadcast plan."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mysql_binlog_spark.operators.corpus import distinct_kmv, kmv_hashes
from mysql_binlog_spark.operators.sampling import temperature_resample


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_kmv_estimate_within_bound(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    (row,) = distinct_kmv(docs, col="text", k=256).collect()
    exact = docs.select("text").distinct().count()
    if row["n_kept"] < row["k"]:
        # sketch saw every distinct hash → exact by construction
        assert row["est_distinct"] == row["n_kept"] == exact
    else:
        # KMV relative error ~ 1/sqrt(k) ≈ 6% at k=256; allow 4 sigma
        assert abs(row["est_distinct"] - exact) / exact < 0.25


def test_kmv_plan_takes_ordered_not_global_sort(spark, sf_dir):
    from tests.test_plans import plan

    p = plan(kmv_hashes(_docs(spark, sf_dir), "text", 256))
    # per-partition top-k heaps + driver merge, not a rangepartitioned sort
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def _skewed(spark):
    big = spark.range(0, 900).select(
        F.col("id").alias("doc_id"), F.lit("src_big").alias("source")
    )
    small = spark.range(1000, 1016).select(
        F.col("id").alias("doc_id"), F.lit("src_small").alias("source")
    )
    return big.unionByName(small)


def test_temperature_resample_flattens_skew(spark):
    # half-corpus budget over a 900 / 16 skew
    rows = {
        r["source"]: r
        for r in temperature_resample(
            _skewed(spark), budget_num=1, budget_den=2
        ).collect()
    }
    big, small = rows["src_big"], rows["src_small"]
    # flattening: the big source's target is BELOW its proportional
    # half-share (458·√900/Σ√ ≈ 404 < 450); the tail source's flattened
    # target exceeds its size, so it caps at keep-everything
    assert big["target"] < big["n_docs"] // 2
    assert small["target"] >= small["n_docs"]
    assert small["n_kept"] == small["n_docs"]
    # the coin hits the big target within binomial noise
    assert abs(big["n_kept"] - big["target"]) / big["target"] < 0.15


def test_temperature_resample_deterministic(spark):
    df = _skewed(spark)
    a = sorted(map(tuple, temperature_resample(df).collect()))
    b = sorted(map(tuple, temperature_resample(df).collect()))
    assert a == b


def test_temperature_resample_broadcasts_thresholds(spark):
    from tests.test_plans import plan

    p = plan(temperature_resample(_skewed(spark)))
    # the corpus joins the tiny per-source threshold frame by broadcast —
    # the big side must not shuffle for the join
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p

"""Physical-plan shape tests: the plans we'd want at 100 TB, asserted on
the small-scale plans Catalyst actually produces (SURVEY.md §4).

These guard against regressions that correctness tests can't see — a lost
broadcast, a dropped partial aggregation, a scan that stops pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mysql_binlog_spark.functions.text import fingerprint
from mysql_binlog_spark.operators.apply import last_writer
from mysql_binlog_spark.operators.similarity import cosine_knn


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_knn_broadcasts_queries(spark, sf_dir):
    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    p = plan(cosine_knn(embs, embs.filter(F.col("vec_id") < 3), k=5))
    assert "Broadcast" in p  # query side must broadcast, corpus never shuffles


def test_last_writer_has_partial_aggregation(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    df = ev.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("insert").alias("action"),
        F.col("event_type").alias("text"),
        F.lit("f").alias("log_file"),
        F.col("event_id").alias("log_pos"),
        F.lit(1).alias("server_id"),
    )
    p = plan(last_writer(df, ["conv_id", "turn_idx"], ["text"]))
    # map-side partial agg (partial_max_by BEFORE the exchange) bounds
    # shuffle volume by |keys|, not |events|; max_by lowers to SortAggregate
    assert "partial_max_by" in p  # partial_* only ever appears map-side
    assert p.count("Aggregate") >= 2


def test_fingerprint_scan_prunes_columns(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(docs.select("doc_id", fingerprint(F.col("text")).alias("fp")))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "lang" not in rs[0] and "source" not in rs[0]
    assert "doc_id" in rs[0] and "text" in rs[0]


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    p = plan(ev.filter(F.col("event_id") > 5000).select("event_id"))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThan(event_id" in pushed[0]


def test_whole_stage_codegen_covers_text_ops(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    from mysql_binlog_spark.functions.text import quality_features

    feats = quality_features(F.col("text"))
    df = docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])
    assert "codegen id" in plan(df)  # JVM-side whole-stage codegen, no Python boundary


def test_no_cartesian_in_any_driver_query(spark, sf_dir):
    """No BroadcastNestedLoopJoin/CartesianProduct anywhere except the
    intentional broadcast cross join in cosine_knn (VERDICT round-1 #7:
    the all-pairs Jaccard baseline was a BNL join)."""
    import __spark_entry__ as entry

    # broadcast query-side cross joins (intentional: corpus never
    # shuffles) and the 1-row broadcast scalar join of the corpus token
    # total in PMI (canonical scalar-attach shape, bounded by 1 row)
    allowed_bnlj = {
        "emb_cosine_knn",
        "emb_sq8_knn",
        "emb_pq_knn",  # tiny query set broadcast against PQ codes
        "emb_pq_recall",  # composes emb_cosine_knn + emb_pq_knn
        "emb_pq_rerank",  # stage 1 is emb_pq_knn's broadcast cross join
        "emb_pq_rerank_recall",  # composes emb_cosine_knn + emb_pq_rerank
        "emb_ivfpq_recall",  # composes emb_cosine_knn's broadcast cross join
        "emb_ivfpq_rerank_recall",  # composes emb_cosine_knn's cross join
        "emb_ivf_recall",  # composes emb_cosine_knn's broadcast cross join
        "corpus_pmi_bigrams",
        # 1-row broadcast scalar-attach (total-count / total-log join):
        "cdc_hot_keys",
        "doc_perplexity",
        "doc_quality_by_source",  # composes doc_perplexity's 1-row attach
        "corpus_vocab_growth",
        "corpus_token_budget",
        "doc_curation_funnel",  # five 1-row stage-count attaches
        "corpus_quantile_sketch",  # 1-row exact-quantile audit attach
    }
    for name, fn in entry.queries().items():
        if name in ("cdc_apply_e2e",):  # executes merges on construction
            continue
        p = plan(fn(spark, sf_dir))
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_cosine_lsh_bucket_sizes_sublinear(spark, sf_dir):
    """Banded sign-LSH (8 planes/band): no band bucket may hold a
    constant fraction of the corpus (VERDICT round-1 #8)."""
    from mysql_binlog_spark.operators.similarity import (
        band_planes,
        lsh_bucket_expr,
    )

    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = embs.count()
    bands = band_planes(6, 8, 64)
    for j, bp in enumerate(bands[:2]):  # two bands suffice as evidence
        sizes = (
            embs.select(lsh_bucket_expr(F.col("embedding"), bp).alias("b"))
            .groupBy("b")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
        assert sizes <= max(8, n // 5), (j, sizes, n)


def test_sample_is_shuffle_free_pushdown_filter(spark, sf_dir):
    """Deterministic sampling must be a pure per-row filter: zero
    exchanges, and the scan reads only the referenced columns."""
    from mysql_binlog_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(
        stratified_sample(docs, {"en": 0.3}).select("doc_id", "lang")
    )
    assert "Exchange" not in p
    assert "text" not in p.split("ReadSchema:")[-1]  # column pruned


def test_pack_sequences_single_group_shuffle(spark, sf_dir):
    """Packing must shuffle exactly once, keyed on the group column —
    no global-order window (which would be a single-partition sort)."""
    from mysql_binlog_spark.functions.text import ws_token_count
    from mysql_binlog_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(
        pack_sequences(docs, 512, ws_token_count(F.col("text")),
                       group_col="source", order_col="doc_id")
    )
    # formatted mode names the node once in the tree and once in the
    # details ("(3) Exchange" + "Arguments: hashpartitioning(source...)")
    assert p.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(source" in p
    assert "SinglePartition" not in p  # the global-window anti-pattern


def test_gtid_resume_prunes_before_row_decode(spark, sf_dir):
    """Resume-by-GTID runs inside the decode kernel: the skipped
    transactions never become rows, so the decoded count drops without
    any Catalyst Filter on gtid (which would mean decode-then-discard)."""
    from mysql_binlog_spark import driver_queries as dq
    from mysql_binlog_spark import spec

    full = dq.decoded_binary_df(spark, sf_dir)
    resumed = dq.decoded_binary_df(
        spark, sf_dir, start_after_gtid=(spec.GTID_UUID, 10)
    )
    n_full, n_res = full.count(), resumed.count()
    assert 0 < n_res < n_full
    assert "Filter" not in plan(resumed).split("MapInArrow")[0]


def test_gtid_set_resume_prunes_both_sids_in_kernel(spark, sf_dir):
    """Round-6 GTID-SET resume: per-SID thresholds prune strictly more
    than the single-SID resume at the same threshold (SID B transactions
    are skipped too), still with no Catalyst Filter on gtid."""
    from mysql_binlog_spark import driver_queries as dq
    from mysql_binlog_spark import spec

    single = dq.decoded_binary_df(
        spark, sf_dir, start_after_gtid=(spec.GTID_UUID, 10)
    )
    both = dq.decoded_binary_df(
        spark, sf_dir,
        start_after_gtid={spec.GTID_UUID: 10, spec.GTID_UUID2: 10},
    )
    n_single, n_both = single.count(), both.count()
    assert 0 < n_both < n_single
    assert "Filter" not in plan(both).split("MapInArrow")[0]


def test_pack_bpe_is_jvm_only_single_shuffle(spark, sf_dir):
    """BPE token counting is a JVM replace chain — the bpe-budget packing
    plan must show no Python eval node and exactly one group shuffle."""
    from mysql_binlog_spark.functions.text import bpe_token_count
    from mysql_binlog_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(
        pack_sequences(docs, 512, bpe_token_count(F.col("text")),
                       group_col="source", order_col="doc_id",
                       length_bucketed=True)
    )
    assert p.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(source" in p
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_tfidf_broadcasts_idf_vocabulary(spark, sf_dir):
    """TF-IDF's vocabulary join must broadcast the tiny IDF side — the
    doc-term side (the corpus) must never shuffle for the join."""
    from mysql_binlog_spark.operators.corpus import tfidf_topk

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(tfidf_topk(docs, k=5))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_corpus_top_ngrams_uses_partial_topk(spark, sf_dir):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge), never a full global sort."""
    from mysql_binlog_spark.operators.corpus import corpus_top_ngrams

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(corpus_top_ngrams(docs, n=2, top=50))
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()


def test_training_shuffle_single_shard_shuffle_no_global_sort(spark, sf_dir):
    """The training-order shuffle must be one hashpartitioning(shard)
    exchange + per-shard sort — never a rangepartitioning global sort,
    which would single-thread the 100 TB corpus through one skewed
    range boundary computation."""
    from mysql_binlog_spark.operators.sampling import training_shuffle

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(training_shuffle(docs, n_shards=16, seed=0))
    assert p.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(shard" in p
    assert "rangepartitioning" not in p
    assert "SinglePartition" not in p
    # scan reads only the key column — text never leaves the parquet
    assert "text" not in p.split("ReadSchema:")[-1]


def test_scd2_history_single_key_shuffle_no_join(spark, sf_dir):
    """SCD2 is a window pass over one key shuffle: any Join node would
    mean a self-join rewrite (quadratic on hot keys at scale)."""
    from mysql_binlog_spark import driver_queries as dq

    p = plan(dq.q_cdc_scd2_history(spark, sf_dir))
    assert "Join" not in p
    assert "hashpartitioning(conv_id" in p


def test_rate_window_native_range_frame_single_shuffle(spark, sf_dir):
    """The trailing-rate signal must be Spark's native RANGE window —
    exactly one user-key exchange, no self-join (the naive ts-BETWEEN
    join is quadratic in the hot user)."""
    from mysql_binlog_spark.operators.sessionize import rate_window

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    p = plan(rate_window(ev))
    assert "Join" not in p
    assert p.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(user_id" in p
    assert "specifiedwindowframe(RangeFrame, -60, -1)" in p


def test_length_quantiles_histogram_not_row_window(spark, sf_dir):
    """Quantiles must be the histogram algorithm: the raw-row shuffle is
    the uniform (group, value) partial-count aggregate; the per-group
    window runs only over the tiny histogram.  A row-level
    partitionBy(lang) window would funnel terabytes through a handful
    of hot partitions at 100 TB."""
    from mysql_binlog_spark.operators.corpus import length_quantiles

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(length_quantiles(docs))
    # map-side combine on the uniform key happens BELOW the first exchange
    first_exchange = p.index("Arguments: hashpartitioning")
    assert "partial_count" in p[:first_exchange]
    # the raw-row shuffle is keyed on (group, value) — uniform — and the
    # group-only shuffle exists only downstream, over the histogram
    import re

    keys = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("lang" in k and "n_chars" in k for k in keys), keys
    assert "text" not in p.split("ReadSchema:")[-1]


def test_snapshot_diff_single_pass_no_join(spark, sf_dir):
    """The two-cut diff must be ONE aggregation over the changelog —
    map-side partial max_by, one key shuffle, and no Join node (the
    naive plan is a full-outer join of two time-travel snapshots)."""
    from mysql_binlog_spark import driver_queries as dq

    p = plan(dq.q_cdc_snapshot_diff(spark, sf_dir))
    assert "Join" not in p
    # partial_* aggregates only ever appear map-side (below their
    # exchange), so this alone proves the shuffle carries <=1 row/key
    assert "partial_max_by" in p


def test_grouped_topk_salts_the_row_level_window(spark, sf_dir):
    """Phase 1's row-level window must partition on (group, salt) — the
    full-rows exchange is never keyed on the group alone (hot-partition
    trap with few groups); only the bounded phase-2 survivors shuffle
    by group."""
    from mysql_binlog_spark.operators.corpus import grouped_topk

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = plan(grouped_topk(docs, k=10))
    import re

    keys = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert len(keys) == 2, keys
    # first (row-level) exchange carries the salt (projected as _w0)
    # alongside the group; the group-only exchange is second
    assert "source" in keys[0] and "_w0" in keys[0], keys
    assert "_w0" not in keys[1] and "source" in keys[1], keys
    assert "pmod" in p  # the salt expression itself
    # text is never read
    assert "text" not in p.split("ReadSchema:")[-1]


def test_funnel_single_user_exchange(spark, sf_dir):
    """k chained step windows + the final per-user collapse must share
    ONE hashpartitioning(user_id) exchange — never the k-way self-join
    (k exchanges + k joins) and never one exchange per window."""
    from mysql_binlog_spark.operators.sessionize import funnel

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    p = plan(funnel(ev))
    import re

    keys = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert len(keys) == 1 and "user_id" in keys[0], keys
    assert "Join" not in p


def test_winnow_is_shuffle_free_and_single_hash_pass(spark, sf_dir):
    """Winnowing is a pure narrow stage (zero exchanges), and the staged
    selects keep exactly ONE md5 transform in the plan — collapsing the
    projection would duplicate the gram-hash pass per shifted window
    copy (w×)."""
    import os

    from mysql_binlog_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = (winnow_fingerprints(docs)
         ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in p
    assert p.count("md5") == 1, p.count("md5")


def test_mor_snapshot_resolves_with_one_key_shuffle(spark):
    """With MOR deltas outstanding, snapshot_df must plan exactly one
    hash exchange on the key (the winner reduce, with map-side partial
    max_by) — no extra sorts, no single-partition window.  Without
    deltas the read must stay exchange-free (pure scan + filter)."""
    import re
    import tempfile

    from mysql_binlog_spark.table import LakeTable

    def _upd(epoch, keys):
        rows = [
            (k, epoch, "insert", "binlog.000001", 1000 * epoch + i, i, 1)
            for i, k in enumerate(keys)
        ]
        return spark.createDataFrame(
            rows,
            "k string, v int, action string, log_file string,"
            " log_pos bigint, batch_seq int, server_id bigint",
        )

    t = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_morplan_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=4,
    )
    t.merge_into(spark, _upd(1, ["a", "b"]), "e1")
    p_clean = plan(t.snapshot_df(spark))
    assert "Exchange" not in p_clean, "delta-free read must not shuffle"
    t.merge_into(spark, _upd(2, ["b", "c"]), "e2", mode="mor")
    p_mor = plan(t.snapshot_df(spark))
    # formatted mode: one Exchange node, keyed on the merge key, with the
    # map-side partial max_by before it (shuffle bounded by |keys|)
    assert p_mor.count("Arguments: hashpartitioning") == 1, p_mor
    assert re.search(r"hashpartitioning\(k", p_mor), p_mor
    assert "partial_max_by" in p_mor, p_mor
    assert "Window" not in p_mor and "SinglePartition" not in p_mor


def test_epoch_write_reduces_in_its_one_bucket_exchange(spark, monkeypatch):
    """The DataFrame an epoch writes — fused (initial load), copy-on-write
    over a base, and merge-on-read — plans exactly one Exchange, the
    write's hash partitioning on ``bucket``: the per-key winner reduce
    runs after it, and the rows arrive with several per key.  A
    copy-on-write epoch's staged winners are a cached scan; the staging
    job's own exchange is not part of the write."""
    import re
    import tempfile

    from pyspark.sql import DataFrameWriter

    from mysql_binlog_spark.table import LakeTable

    def _upd(epoch, keys):
        rows = [
            (k, epoch * 10 + i, "insert", "binlog.000001", 1000 * epoch + i,
             0, 1)
            for i, k in enumerate(keys)
        ]
        return spark.createDataFrame(
            rows,
            "k string, v int, action string, log_file string,"
            " log_pos bigint, batch_seq int, server_id bigint",
        )

    def exchanges(df):
        """Exchange partitionings of the physical plan, cached relations
        excluded (their plans are inner children, not children)."""
        node = df._jdf.queryExecution().executedPlan()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.inputPlan()
        found, todo = [], [node]
        while todo:
            node = todo.pop()
            if node.nodeName() == "Exchange":
                found.append(node.outputPartitioning().toString())
            kids = node.children()
            todo += [kids.apply(i) for i in range(kids.size())]
        return found

    written = []
    real = DataFrameWriter.parquet

    def capture(self, path, *a, **k):
        written.append((plan(self._df), exchanges(self._df)))
        return real(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    t = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_writeplan_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=4,
    )
    t.merge_into(spark, _upd(1, ["a", "b", "a", "c"]), "fused")
    t.merge_into(spark, _upd(2, ["b", "d", "b"]), "cow")
    t.merge_into(spark, _upd(3, ["c", "c"]), "mor", mode="mor")
    monkeypatch.undo()
    assert len(written) == 3
    for text, found in written:
        assert len(found) == 1, found
        assert re.fullmatch(r"hashpartitioning\(bucket#\d+, \d+\)", found[0])
        assert "max_by" in text
    fused_text = written[0][0]
    assert fused_text.count("Arguments: hashpartitioning(bucket") == 1
    assert len(re.findall(r"^\(\d+\) Exchange", fused_text, re.M)) == 1
    snap = sorted(map(tuple, t.snapshot_df(spark).collect()))
    assert snap == [("a", 12), ("b", 22), ("c", 31), ("d", 21)]


def _job_ids(spark) -> set[int]:
    """Ids of the group-less jobs started so far, once the status store
    has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _wide_table(spark):
    """A 64-bucket table after one fused epoch of 400 keys, two rows per
    key, so nearly every bucket gets a file.  Returns the table and the
    expected snapshot."""
    import tempfile

    from mysql_binlog_spark.table import LakeTable

    rows = [
        (f"k{i:03d}", 10 * i + r, "insert", "binlog.000001", 2 * i + r, 0, 1)
        for i in range(400) for r in (1, 0)
    ]
    t = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_wide_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=64,
    )
    t.merge_into(spark, spark.createDataFrame(
        rows,
        "k string, v int, action string, log_file string,"
        " log_pos bigint, batch_seq int, server_id bigint",
    ), "wide")
    return t, sorted((f"k{i:03d}", 10 * i + 1) for i in range(400))


def test_epoch_write_is_sized_by_shuffle_partitions_not_buckets(
    spark, monkeypatch
):
    """A fused epoch over 64 buckets writes in at most
    ``spark.sql.shuffle.partitions`` tasks (AQE coalesces them further),
    not one task per bucket, and still one file per bucket: hash
    partitioning on ``bucket`` keeps each bucket in one task."""
    import glob

    from pyspark.sql import DataFrameWriter

    tracker = spark.sparkContext.statusTracker()
    write_jobs = []
    real = DataFrameWriter.parquet

    def capture(self, *a, **k):
        before = _job_ids(spark)
        real(self, *a, **k)
        write_jobs.extend(_job_ids(spark) - before)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    t, expected = _wide_table(spark)
    monkeypatch.undo()
    assert write_jobs
    result_stage = max(
        s for j in write_jobs for s in tracker.getJobInfo(j).stageIds
    )
    n_tasks = tracker.getStageInfo(result_stage).numTasks
    assert n_tasks <= int(spark.conf.get("spark.sql.shuffle.partitions")), (
        n_tasks)
    dirs = glob.glob(os.path.join(t.path, "data", "ep=*", "bucket=*"))
    assert len(dirs) >= 32, len(dirs)
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert sorted(map(tuple, t.snapshot_df(spark).collect())) == expected


def test_lake_read_starts_no_listing_job(spark):
    """A read of more than 32 manifest-named files is planned without a
    Spark job: the driver stats the files instead of a listing job with
    one task per file."""
    t, _ = _wide_table(spark)
    assert len(t.live_files()) > 32, len(t.live_files())
    before = _job_ids(spark)
    t.snapshot_df(spark)
    assert _job_ids(spark) - before == set()


def test_paths_df_plan_stays_small_for_long_path_lists(spark):
    """The decode's path list rides in its plan as one literal only up to
    a bound: 10^5 paths of ~60 characters would be a ~6 MB plan string.
    Bench-scale lists (1,200 chunks) keep the exchange-free range plan."""
    from mysql_binlog_spark.sources.binlog import _paths_df

    paths = [f"/data/cdc/primary-01/binlogs/2026/10/binlog.{i:06d}"
             for i in range(100_000)]
    small = _paths_df(spark, paths[:1200], 8)
    assert "Range" in small._jdf.queryExecution().optimizedPlan().toString()
    big = _paths_df(spark, paths, 8)
    assert len(big._jdf.queryExecution().optimizedPlan().toString()) < 10_000
    assert big.rdd.getNumPartitions() == 8
    assert sorted(r["path"] for r in big.collect()) == paths

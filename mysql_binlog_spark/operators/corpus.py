"""Corpus-statistics operators: TF-IDF keywords and corpus n-gram stats.

Round-6 additions to the training-data pipeline family — the two
corpus-level operations a curation pipeline runs between quality
filtering and sampling:

* **TF-IDF top-k keywords per document** — the classic two-stage
  distributed shape: per-(doc, term) counts (one shuffle on the term
  within doc), document frequencies over the corpus (one shuffle on
  term), then a BROADCAST join of the tiny IDF vocabulary back onto the
  doc-term counts and a per-document window for top-k.  At 100 TB the
  vocabulary (distinct terms) is orders of magnitude smaller than the
  corpus, so the join never shuffles the big side.
* **Corpus top n-grams by document frequency** — explode distinct
  per-doc shingles, count, global top-k via ORDER BY + LIMIT (Spark
  plans TakeOrderedAndProject: per-partition heaps + a driver merge,
  not a global sort shuffle).

Determinism across engines: scores are rounded to 6 decimals BEFORE
ranking and ties break on the term text, so Spark and the DuckDB oracle
produce identical rank assignments even though ln() may differ in the
last ULP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import WS, word_shingles, word_shingles_sql


def tfidf_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    score = tf × (ln((N + 1) / (df + 1)) + 1), rounded to 6 decimals;
    rank by (score DESC, term ASC) within each document.  ``N`` is read
    with one bounded driver-side count (a scalar, like the Lloyd sums in
    similarity.py) so the IDF expression is a literal in the plan.
    """
    n_docs = df.count()  # bounded control read: one scalar
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS)).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .select(
            "term",
            (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0).alias(
                "idf"
            ),
        )
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        F.col(id_col),
        "term",
        "tf",
        F.round(F.col("tf") * F.col("idf"), 6).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "score")
    )


def tfidf_topk_sql(k: int = 5, rel: str = "documents") -> str:
    """DuckDB twin: same smoothing, same rounding-before-ranking."""
    return f"""
    WITH words AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '{WS}')) AS term
      FROM {rel}
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM words
      WHERE term <> '' GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM {rel}),
    scored AS (
      SELECT t.doc_id, t.term, t.tf,
             round(t.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0), 6)
               AS score
      FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
    )
    SELECT doc_id, rank, term, tf, score FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def corpus_top_ngrams(
    df: DataFrame,
    n: int = 2,
    top: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top ``top`` word n-grams by DOCUMENT frequency (each document
    contributes its distinct shingles once — the dedup-relevant count).
    Deterministic order: (df DESC, ngram ASC)."""
    grams = df.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("ngram"))
        .limit(top)
    )


def corpus_top_ngrams_sql(
    n: int = 2, top: int = 50, rel: str = "documents"
) -> str:
    return f"""
    WITH grams AS (
      SELECT unnest({word_shingles_sql('text', n)}) AS ngram FROM {rel}
    )
    SELECT ngram, COUNT(*) AS df FROM grams
    GROUP BY ngram ORDER BY df DESC, ngram LIMIT {top}
    """


# ------------------------------------------------------------ KMV sketch
#
# K-minimum-values distinct sketch (Bar-Yossef et al. 2002): keep the k
# smallest distinct hash values of a column; with hashes uniform on
# [0, H), distinct-count ≈ (k-1)·H / kth_min.  The sketch is MERGEABLE
# (union two sketches = merge-sort their value lists and re-truncate to
# k), which is what makes it the right distinct-counter at 100 TB: each
# day/shard/partition can be sketched independently and combined without
# rescanning.  Hashing goes through the md5_bigint twin (48-bit range)
# so the DuckDB oracle computes the IDENTICAL sketch — unlike
# approx_count_distinct, whose HLL internals differ per engine and can
# never hash-match.
#
# Plan shape: the per-partition partial aggregation of `distinct`
# collapses the map output to each partition's distinct hashes, then
# ORDER BY + LIMIT k plans TakeOrderedAndProject (per-partition top-k
# heaps + a driver merge — no global sort).  The estimate itself uses
# pure int64 arithmetic ((k-1)·2^48 div kth_min) so both engines round
# identically; (k-1)·2^48 < 2^63 for every k < 2^15.


def kmv_hashes(df: DataFrame, col: str = "text", k: int = 256) -> DataFrame:
    """The sketch itself: the ``k`` smallest distinct md5 hashes of
    ``col`` (one column ``h``).  Mergeable: the sketch of A ∪ B equals
    distinct-sort-truncate over the UNION of A's and B's sketches."""
    from ..functions.hashing import md5_bigint

    return (
        df.select(md5_bigint(F.col(col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def distinct_kmv(
    df: DataFrame, col: str = "text", k: int = 256
) -> DataFrame:
    """One-row KMV distinct estimate for ``col``: (k, n_kept, kth_min,
    est_distinct).  When fewer than ``k`` distinct hashes exist the
    sketch IS the exact distinct count (``est = n_kept``)."""
    kmv = kmv_hashes(df, col, k)
    big = (k - 1) << 48
    return kmv.agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_min")
    ).select(
        F.lit(k).alias("k"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "kth_min",
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(F.expr(f"{big} div kth_min"))
        .cast("bigint")
        .alias("est_distinct"),
    )


def distinct_kmv_sql(
    col: str = "text", k: int = 256, rel: str = "documents"
) -> str:
    from ..functions.hashing import md5_bigint_sql

    big = (k - 1) << 48
    return f"""
    WITH kmv AS (
      SELECT DISTINCT {md5_bigint_sql(col)} AS h FROM {rel}
      ORDER BY h LIMIT {k}
    ),
    agg AS (SELECT COUNT(*) AS n_kept, MAX(h) AS kth_min FROM kmv)
    SELECT {k} AS k, CAST(n_kept AS BIGINT) AS n_kept, kth_min,
           CAST(CASE WHEN n_kept < {k} THEN n_kept
                     ELSE {big} // kth_min END AS BIGINT) AS est_distinct
    FROM agg
    """


# -------------------------------------------------- nearest-rank quantiles

# Per-group length quantiles by the NEAREST-RANK definition (value at
# rank ceil(p·n) in sorted order) rather than interpolating percentile
# functions: interpolation is float arithmetic whose expression shape
# differs between engines (lower + frac·(upper − lower) vs
# (1−frac)·lower + frac·upper can differ in the last ulp and flip a
# hash), while nearest-rank is pure integer selection — the same double
# product ceil(p·n) is computed identically by both engines, so the
# result is bit-exact by construction.
#
# 100 TB shape: NOT a row-level window.  partitionBy(lang) over raw
# rows is the classic hot-partition trap — a handful of languages means
# a handful of partitions each holding terabytes, single-task sorted.
# Instead this is the histogram algorithm: aggregate counts by
# (group, value) — a UNIFORM high-cardinality shuffle with map-side
# partial aggregation, so shuffle volume is |distinct (group, value)|,
# not |rows| — then rank-pick on the tiny aggregate (a per-group window
# over ≤ |value domain| rows, thousands not billions).  The value at
# nearest rank r is the one whose cumulative count first reaches r:
# cum − cnt < r ≤ cum.


def length_quantiles(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(group_col).orderBy(value_col)
    n = Window.partitionBy(group_col)
    base = counts.select(
        F.col(group_col),
        F.col(value_col),
        F.col("cnt"),
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(n).alias("n"),
    )
    picks = []
    for p in ps:
        r = F.ceil(F.col("n") * F.lit(p))
        picks.append(
            F.max(
                F.when(
                    (F.col("cum") - F.col("cnt") < r) & (r <= F.col("cum")),
                    F.col(value_col),
                )
            ).alias(f"p{str(p)[2:]}")
        )
    return base.groupBy(group_col).agg(
        F.max("n").cast("bigint").alias("n_docs"), *picks
    )


def length_quantiles_sql(
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
    rel: str = "documents",
) -> str:
    picks = ", ".join(
        f"MAX(CASE WHEN rn = CEIL(n * {p}) THEN {value_col} END)"
        f" AS p{str(p)[2:]}"
        for p in ps
    )
    return f"""
    WITH ranked AS (
      SELECT {group_col}, {value_col},
             ROW_NUMBER() OVER (PARTITION BY {group_col}
                                ORDER BY {value_col}, {id_col}) AS rn,
             COUNT(*) OVER (PARTITION BY {group_col}) AS n
      FROM {rel}
    )
    SELECT {group_col}, CAST(MAX(n) AS BIGINT) AS n_docs, {picks}
    FROM ranked GROUP BY {group_col}
    """


# --------------------------------------------------- skew-aware grouped top-k

# Top-k rows per group, two-phase: the naive
# ROW_NUMBER() OVER (PARTITION BY group) is the same hot-partition trap
# as row-level quantiles — with a handful of groups (sources, languages)
# one partition holds terabytes and one task sorts it.  Phase 1 salts
# each group into n_salt buckets (hash of the id — deterministic, no
# RNG) and takes a LOCAL top-k per (group, salt): correct because every
# row of the group's true top-k ranks ≤ k inside whatever salt bucket it
# landed in.  Phase 2 re-ranks the ≤ k·n_salt survivors per group — a
# bounded window.  Same two-phase shape as salted_last_writer
# (SURVEY §2.11 A2), applied to ranking instead of reduction.


def grouped_topk(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    n_salt: int = 16,
) -> DataFrame:
    """Top-k per group by (order_col DESC, id_col ASC): group, id,
    order value, and the final dense 1-based ``rank``."""
    salt = F.pmod(F.hash(F.col(id_col)), F.lit(n_salt))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    local = (
        df.select(group_col, id_col, order_col)
        .withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
    w2 = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


def grouped_topk_sql(
    k: int,
    group_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    rel: str = "documents",
) -> str:
    """DuckDB twin: the single-window algorithm (independent of the
    salted two-phase plan — same answer by construction)."""
    return f"""
    SELECT {group_col}, {id_col}, {order_col}, rank FROM (
      SELECT {group_col}, {id_col}, {order_col},
             ROW_NUMBER() OVER (PARTITION BY {group_col}
                                ORDER BY {order_col} DESC, {id_col}) AS rank
      FROM {rel}
    ) WHERE rank <= {k}
    """


# ----------------------------------------------------------------- PMI

# Pointwise mutual information of adjacent word pairs — the classic
# collocation detector (Church & Hanks 1990): score(x,y) =
# ln(c_xy·N / (c_x·c_y)) over corpus unigram counts c_x and bigram
# occurrence counts c_xy, N = total tokens.  High-PMI pairs are phrases
# ("new york"), low-PMI pairs are chance co-occurrences.
#
# 100 TB shape: two exploded aggregations (tok, bigram) — each one
# uniform-key shuffle with map-side partial counts — then BOTH joins of
# the vocabulary back onto surviving bigrams are broadcasts: post-
# aggregation sides are vocabulary-sized, orders of magnitude below the
# corpus.  Global top-k via orderBy+limit lowers to
# TakeOrderedAndProject (per-partition heaps + driver merge), never a
# full-sort shuffle.  Determinism: ln() rounded to 6 decimals BEFORE
# ranking, ties on the bigram text — identical ranks in both engines.


def pmi_bigrams(
    df: DataFrame,
    top: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``top`` adjacent-pair collocations by PMI (occurrence count
    >= ``min_count`` to suppress noise estimates)."""
    w = F.split(F.lower(F.trim(F.col(text_col))), WS)
    pairs = F.filter(
        F.zip_with(
            w,
            F.slice(w, 2, F.size(w)),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
        lambda s: s.isNotNull(),
    )
    uni = (
        df.select(F.explode(w).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n"))
    bi = (
        df.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    joined = (
        bi.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_x"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_y"))),
            "w2",
        )
        .crossJoin(F.broadcast(total))
    )
    pmi = F.round(
        F.log(F.col("c_xy") * F.col("n") / (F.col("c_x") * F.col("c_y"))), 6
    )
    return (
        joined.select("bigram", F.col("c_xy").cast("bigint").alias("c_xy"),
                      pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(top)
    )


def pmi_bigrams_sql(
    top: int = 50,
    min_count: int = 5,
    text_col: str = "text",
    rel: str = "documents",
) -> str:
    """DuckDB twin: identical counts, PMI formula, rounding, and ranking."""
    w = f"regexp_split_to_array(lower(trim({text_col})), '{WS}')"
    return f"""
    WITH docs AS (SELECT {w} AS w FROM {rel}),
    toks AS (SELECT unnest(w) AS tok FROM docs),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    big AS (
      SELECT array_to_string(w[i:i+1], ' ') AS bigram
      FROM docs, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
    ),
    bi AS (
      SELECT bigram, COUNT(*) AS c_xy FROM big
      GROUP BY bigram HAVING COUNT(*) >= {min_count}
    )
    SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy,
           round(ln(c_xy * n / (u1.c * u2.c)), 6) AS pmi
    FROM bi
    CROSS JOIN total
    JOIN uni u1 ON u1.tok = split_part(bigram, ' ', 1)
    JOIN uni u2 ON u2.tok = split_part(bigram, ' ', 2)
    ORDER BY pmi DESC, bigram LIMIT {top}
    """


# ----------------------------------------------------------- dup spans

# Cross-document duplicate n-gram spans — the detection pass behind
# exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): any n-token span that
# occurs in two or more distinct documents is memorization fuel and a
# cut candidate.
#
# 100 TB shape: spans are generated by JVM array expressions (split →
# sequence → transform/slice) in the narrow scan stage, then ONE
# uniform-key aggregation counts (distinct docs, occurrences) per span —
# count_distinct(doc_id) partials are per-span doc sets bounded by the
# duplication factor, and the HAVING-style filter drops the unique-span
# long tail before any further movement.  Global top-k lowers to
# TakeOrderedAndProject (per-partition heaps + driver merge), never a
# range-partitioned full sort.  At real scale the span string would be
# a 64-bit hash; the text form is kept here so the oracle can verify
# values, and the hashed variant is a one-expression swap.


def dup_spans(
    df: DataFrame,
    n: int = 8,
    top: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``top`` n-token spans occurring in >= 2 distinct documents:
    (gram, n_docs, n_occ), ranked by n_docs, n_occ, then gram text."""
    w = F.split(F.lower(F.trim(F.col(text_col))), WS)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return (
        df.filter(F.size(w) >= n)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "gram")
        .limit(top)
    )


def dup_spans_sql(
    n: int = 8,
    top: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    rel: str = "documents",
) -> str:
    """DuckDB twin: identical span generation, counts, and ranking."""
    return f"""
    WITH docs AS (
      SELECT {id_col},
             regexp_split_to_array(lower(trim({text_col})), '{WS}') AS w
      FROM {rel}
    ), g AS (
      SELECT {id_col}, array_to_string(w[i:i+{n - 1}], ' ') AS gram
      FROM docs, UNNEST(generate_series(1, len(w) - {n - 1})) AS t(i)
      WHERE len(w) >= {n}
    )
    SELECT gram,
           COUNT(DISTINCT {id_col}) AS n_docs,
           COUNT(*) AS n_occ
    FROM g GROUP BY gram HAVING COUNT(DISTINCT {id_col}) >= 2
    ORDER BY n_docs DESC, n_occ DESC, gram LIMIT {top}
    """


# ------------------------------------------------------------ perplexity

# Unigram language-model perplexity per document — the classic
# model-free quality filter (CCNet / Wenzek et al. 2020 shape, with the
# corpus itself as the LM): documents whose token distribution diverges
# from the corpus score a high cross-entropy and are cut candidates.
#
# Determinism contract: per-token log-probabilities are QUANTIZED to
# integer nano-nats (round(ln(c)·1e9)) before summing, so the per-doc
# sum is an exact bigint — invariant to partition merge order — and the
# only floating-point steps are one exact-integer division and the
# final exp/round.  A raw float Σln would drift at the 1e-16 level with
# aggregation order and hash-mismatch across engines.
#
# 100 TB shape: one uniform-key (tok) aggregation builds the vocabulary;
# the vocabulary joins BACK onto the exploded token stream as a
# broadcast (map-side, the corpus never shuffles for the join); the
# per-doc collapse is one doc-key exchange with exact-int partials.  At
# open-web scale the vocabulary can exceed broadcast limits — the
# fallback is the same plan with a shuffle join on the uniform tok key.


def unigram_perplexity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_toks, xent_nats, ppl): per-document cross-entropy (in
    nats, round 6) and perplexity (round 2) under the corpus's own
    unigram distribution."""
    q = 1e9
    w = F.split(F.lower(F.trim(F.col(text_col))), WS)
    toks = df.select(F.col(id_col), F.explode(w).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    lnq = uni.select(
        "tok", F.round(F.log("c") * q).cast("bigint").alias("lq")
    )
    total = uni.agg(
        F.round(F.log(F.sum("c")) * q).cast("bigint").alias("lnq_total")
    )
    per_doc = (
        toks.join(F.broadcast(lnq), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("lq").alias("slq"),
        )
    )
    xent = (
        F.col("lnq_total") * F.col("n_toks") - F.col("slq")
    ) / F.col("n_toks") / F.lit(q)
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "n_toks",
        F.round(xent, 6).alias("xent_nats"),
        F.round(F.exp(xent), 2).alias("ppl"),
    )


def unigram_perplexity_sql(
    text_col: str = "text", id_col: str = "doc_id", rel: str = "documents"
) -> str:
    """DuckDB twin: identical nano-nat quantization and exact-int sums."""
    w = f"regexp_split_to_array(lower(trim({text_col})), '{WS}')"
    return f"""
    WITH toks AS (
      SELECT {id_col}, unnest({w}) AS tok FROM {rel}
    ), uni AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), lnq AS (
      SELECT tok, CAST(round(ln(c) * 1e9) AS BIGINT) AS lq FROM uni
    ), total AS (
      SELECT CAST(round(ln(SUM(c)) * 1e9) AS BIGINT) AS lnq_total FROM uni
    ), per_doc AS (
      SELECT {id_col}, COUNT(*) AS n_toks, SUM(lq) AS slq
      FROM toks JOIN lnq USING (tok) GROUP BY {id_col}
    )
    SELECT {id_col}, n_toks,
           round((lnq_total * n_toks - slq) / n_toks / 1e9, 6) AS xent_nats,
           round(exp((lnq_total * n_toks - slq) / n_toks / 1e9), 2) AS ppl
    FROM per_doc CROSS JOIN total
    """


# ---------------------------------------------------------- vocab growth

# Heaps-law vocabulary growth: distinct-token count as the corpus grows
# in doc_id order — the curve that decides whether more data still buys
# vocabulary (and whether a tokenizer's vocab budget saturates).
#
# 100 TB shape: "distinct over every prefix" is NOT computed per prefix
# — each token contributes exactly once at its FIRST document (one
# uniform-key min aggregation), and the doc axis is bucketed into
# n_buckets fixed-width ranges so the running sum is a window over
# n_buckets rows, never a global sort of the corpus.  The only 1-row
# broadcast is the max-doc scalar (canonical scalar-attach shape).


def vocab_growth(
    df: DataFrame,
    n_buckets: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(bucket, n_new_tokens, vocab_size): new-token count per doc_id
    bucket and the cumulative vocabulary after each bucket."""
    w = F.split(F.lower(F.trim(F.col(text_col))), WS)
    toks = df.select(F.col(id_col).alias("did"), F.explode(w).alias("tok"))
    first = toks.groupBy("tok").agg(F.min("did").alias("first_doc"))
    mx = df.agg((F.max(id_col) + 1).alias("mxd"))
    per_bucket = (
        first.crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"first_doc * {n_buckets} div mxd")
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_tokens"))
    )
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        "bucket",
        "n_new_tokens",
        F.sum("n_new_tokens").over(cum).cast("bigint").alias("vocab_size"),
    )


def vocab_growth_sql(
    n_buckets: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    rel: str = "documents",
) -> str:
    """DuckDB twin: identical first-doc attribution and bucketing."""
    w = f"regexp_split_to_array(lower(trim({text_col})), '{WS}')"
    return f"""
    WITH toks AS (
      SELECT {id_col} AS did, unnest({w}) AS tok FROM {rel}
    ), first AS (
      SELECT tok, MIN(did) AS first_doc FROM toks GROUP BY tok
    ), mx AS (
      SELECT MAX({id_col}) + 1 AS mxd FROM {rel}
    ), per_bucket AS (
      SELECT CAST(first_doc * {n_buckets} // mxd AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_new_tokens
      FROM first CROSS JOIN mx GROUP BY 1
    )
    SELECT bucket, n_new_tokens,
           CAST(SUM(n_new_tokens) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS vocab_size
    FROM per_bucket
    """


# ----------------------------------------------------- bigram perplexity

# Bigram language-model cross-entropy per document — the conditional
# upgrade over unigram_perplexity (closer to CCNet's KenLM filter while
# staying corpus-self-trained and engine-portable):
# xent = −(1/m)·Σ ln p(w_i | w_{i−1}) with p = c(w1w2) / c(w1·),
# where c(w1·) counts w1 as a bigram PREFIX.  Per-pair log-probs are
# quantized to integer nano-nats (ln c(w1·) − ln c(w1w2), each
# round(·1e9)) so per-doc sums are exact bigints — merge-order-invariant
# like every stats operator here.
#
# 100 TB shape: bigram extraction is a narrow zip_with (no O(n²), no
# distinct); BOTH count vocabularies join back onto the pair stream as
# broadcasts (map-side; shuffle-join fallback on the uniform pair key
# when the vocabulary exceeds broadcast), then one doc-key collapse.
# Documents with fewer than 2 tokens have no bigrams and are absent.


def bigram_perplexity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_bigrams, xent_nats, ppl): per-document conditional
    cross-entropy (nats, round 6) and perplexity (round 2) under the
    corpus's own bigram distribution."""
    q = 1e9
    w = F.split(F.lower(F.trim(F.col(text_col))), WS)
    pairs_arr = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = df.select(F.col(id_col), F.explode(pairs_arr).alias("big"))
    pairs = pairs.select(
        id_col, "big", F.substring_index("big", " ", 1).alias("w1")
    )
    cbig = pairs.groupBy("big").agg(F.count(F.lit(1)).alias("c"))
    lnb = cbig.select(
        "big", F.round(F.log("c") * q).cast("bigint").alias("lqb")
    )
    cpre = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c"))
    lnp = cpre.select(
        "w1", F.round(F.log("c") * q).cast("bigint").alias("lqp")
    )
    per_doc = (
        pairs.join(F.broadcast(lnb), "big")
        .join(F.broadcast(lnp), "w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.col("lqp") - F.col("lqb")).alias("s"),
        )
    )
    xent = F.col("s") / F.col("n_bigrams") / F.lit(q)
    return per_doc.select(
        F.col(id_col),
        "n_bigrams",
        F.round(xent, 6).alias("xent_nats"),
        F.round(F.exp(xent), 2).alias("ppl"),
    )


def bigram_perplexity_sql(
    text_col: str = "text", id_col: str = "doc_id", rel: str = "documents"
) -> str:
    """DuckDB twin: identical nano-nat quantization and exact-int sums."""
    w = f"regexp_split_to_array(lower(trim({text_col})), '{WS}')"
    return f"""
    WITH tok AS (
      SELECT {id_col}, {w} AS t FROM {rel}
    ), pairs AS (
      SELECT {id_col},
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS big
      FROM tok WHERE len(t) >= 2
    ), p2 AS (
      SELECT {id_col}, big, split_part(big, ' ', 1) AS w1 FROM pairs
    ), lnb AS (
      SELECT big, CAST(round(ln(COUNT(*)) * 1e9) AS BIGINT) AS lqb
      FROM p2 GROUP BY big
    ), lnp AS (
      SELECT w1, CAST(round(ln(COUNT(*)) * 1e9) AS BIGINT) AS lqp
      FROM p2 GROUP BY w1
    ), per_doc AS (
      SELECT {id_col}, COUNT(*) AS n_bigrams, SUM(lqp - lqb) AS s
      FROM p2 JOIN lnb USING (big) JOIN lnp USING (w1)
      GROUP BY {id_col}
    )
    SELECT {id_col}, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(s / n_bigrams / 1e9, 6) AS xent_nats,
           round(exp(s / n_bigrams / 1e9), 2) AS ppl
    FROM per_doc
    """


def quality_by_source(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """(source, n_docs, p50_ppl, p90_ppl): per-source unigram-perplexity
    percentiles by the NEAREST-RANK definition — the per-source quality
    screen (which sources drag the corpus).  Nearest-rank = integer
    selection under a (value, doc_id) total order, so the pick is exact
    and engine-identical (no float interpolation — the length_quantiles
    discipline).

    100 TB shape: perplexity's broadcast-join pipeline, then one
    source-key window (per-source sort, bounded by source size) and a
    |sources|-row collapse."""
    pp = unigram_perplexity(df, text_col, id_col)
    j = pp.join(
        df.select(F.col(id_col), F.col(source_col).alias("source")), id_col
    )
    w = Window.partitionBy("source").orderBy("ppl", id_col)
    n = Window.partitionBy("source")
    ranked = j.select(
        "source", "ppl",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    pick = lambda q: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("ppl"))
    )
    return ranked.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        pick(0.5).alias("p50_ppl"),
        pick(0.9).alias("p90_ppl"),
    )


def quality_by_source_sql(
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    rel: str = "documents",
) -> str:
    """DuckDB twin: same nearest-rank selection over the perplexity
    twin as a derived table."""
    inner = unigram_perplexity_sql(text_col, id_col, rel)
    return f"""
    SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
           MAX(CASE WHEN rn = CEIL(0.5 * n) THEN ppl END) AS p50_ppl,
           MAX(CASE WHEN rn = CEIL(0.9 * n) THEN ppl END) AS p90_ppl
    FROM (
      SELECT d.{source_col} AS source, p.ppl,
             ROW_NUMBER() OVER (PARTITION BY d.{source_col}
                                ORDER BY p.ppl, p.{id_col}) AS rn,
             COUNT(*) OVER (PARTITION BY d.{source_col}) AS n
      FROM ({inner}) p JOIN {rel} d USING ({id_col})
    ) GROUP BY source
    """


# ------------------------------------------------------- count-min sketch

# Count-min sketch (Cormode & Muthukrishnan 2005): d hash rows × w
# buckets of counters; est(x) = min_r cell[r][h_r(x)] ≥ true(x), with
# overestimate ≤ εN at probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
# The 100 TB story: the sketch's cardinality is d·w REGARDLESS of
# corpus size — one bounded-key exchange builds it (map-side partials
# collapse each task to ≤ d·w rows before the shuffle), and it
# broadcasts everywhere a frequency estimate is needed without ever
# shuffling the corpus on the token key.  Hashes are the repo's
# md5_bigint + seeded twins so the DuckDB oracle replays the identical
# sketch cell-for-cell.


def cms_sketch(
    df: DataFrame,
    text_col: str = "text",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """(r, bucket, c): the d×w counter grid over whitespace tokens."""
    from ..functions.hashing import md5_bigint

    toks = df.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS)).alias("tok")
    )
    rows = toks.select(
        "tok",
        F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r"),
    ).select(
        "r",
        F.pmod(
            md5_bigint(
                F.concat(F.lit("cms"), F.col("r").cast("string"),
                         F.lit(":"), F.col("tok"))
            ),
            F.lit(w),
        ).alias("bucket"),
    )
    return rows.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    d: int = 4,
    w: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Top-k tokens by TRUE count with their CMS estimate — the audit
    view of the sketch: ``est ≥ true`` always (the CMS guarantee,
    checkable row by row) and ``overest = est − true`` measures the
    collision inflation at this (d, w).

    Plan: the sketch is ONE bounded exchange (≤ d·w keys after map-side
    partials) then broadcasts; candidate tokens compute their d bucket
    ids narrowly and min-reduce over the broadcast join.  The exact
    counts exist here as the audit column — a production point-query
    path uses the broadcast sketch alone."""
    from ..functions.hashing import md5_bigint

    sk = cms_sketch(df, text_col, d, w)
    truth = (
        df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), WS)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    )
    probes = truth.select(
        "tok", "true_cnt",
        F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r"),
    ).select(
        "tok", "true_cnt", "r",
        F.pmod(
            md5_bigint(
                F.concat(F.lit("cms"), F.col("r").cast("string"),
                         F.lit(":"), F.col("tok"))
            ),
            F.lit(w),
        ).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sk), ["r", "bucket"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.select(
            "tok", "true_cnt", "est",
            (F.col("est") - F.col("true_cnt")).cast("bigint").alias("overest"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
        .limit(k)
    )


def cms_heavy_hitters_sql(
    d: int = 4, w: int = 1024, k: int = 20, rel: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin: identical cells, identical min-reduce."""
    from ..functions.hashing import md5_bigint_sql

    toks = (
        f"SELECT unnest(regexp_split_to_array(lower(trim({text_col})),"
        f" '{WS}')) AS tok FROM {rel}"
    )
    bucket = md5_bigint_sql("'cms' || r || ':' || tok")
    return f"""
    WITH toks AS ({toks}),
    probes AS (
      SELECT tok, t.r, ({bucket}) % {w} AS bucket
      FROM toks, range(0, {d}) t(r)
    ), cells AS (
      SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM probes GROUP BY 1, 2
    ), truth AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM toks GROUP BY tok
    ), est AS (
      SELECT t.tok, t.true_cnt, MIN(c.c) AS est
      FROM truth t CROSS JOIN range(0, {d}) r(r)
      JOIN cells c
        ON c.r = r.r AND c.bucket = ({md5_bigint_sql("'cms' || r.r || ':' || t.tok")}) % {w}
      GROUP BY 1, 2
    )
    SELECT tok, true_cnt, est,
           CAST(est - true_cnt AS BIGINT) AS overest
    FROM est ORDER BY true_cnt DESC, tok LIMIT {k}
    """


# ------------------------------------------- mergeable quantile summary

# Distributed quantiles without a global sort: the sorted-run-sampling
# summary (Munro-Paterson 1980 / Manku-Rajagopalan-Lindsay 1998 shape).
# Each deterministic hash shard sorts locally and keeps every stride-th
# element (stride = floor(eps * shard_size), so the summary is
# O(n_shards / eps) rows REGARDLESS of n); a kept element carries its
# exact local rank.  Merging shards is a union — cumulative-summing the
# local-rank deltas in global value order gives, at any kept value v, a
# LOWER BOUND on v's global rank that is tight to within
# B = max(stride) + sum_s(stride_s - 1).  The p-quantile estimate is the
# smallest kept value whose bound reaches ceil(p * n), and the audit
# columns prove the deterministic guarantee row by row:
#   rank_le(est) >= target          (never undershoots)
#   rank_lt(est) <= target + B      (overshoot bounded by B)
# 100 TB shape: the only full-data work is a per-shard sort (bounded,
# parallel — same per-shard-window discipline as pack_sequences); the
# merged summary and every window after it are O(n_shards/eps) rows.
# The exact side exists here as the audit; production serves quantiles
# from the summary alone and merges summaries across days/partitions.


def quantile_summary(
    df: DataFrame,
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    eps: float = 0.05,
    n_shards: int = 4,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """(p, n, target, est, exact, rank_lt, rank_le, bound, within_bound)
    per requested quantile."""
    from ..functions.hashing import md5_bigint

    sh = df.select(
        F.col(value_col).cast("bigint").alias("v"),
        F.col(id_col).alias("i"),
        F.pmod(
            md5_bigint(F.concat(F.lit("qs:"), F.col(id_col).cast("string"))),
            F.lit(n_shards),
        ).alias("shard"),
    )
    wsh = Window.partitionBy("shard").orderBy("v", "i")
    wcnt = Window.partitionBy("shard")
    ranked = sh.select(
        "shard", "v", "i",
        F.row_number().over(wsh).alias("r"),
        F.count(F.lit(1)).over(wcnt).alias("ns"),
    )
    stride = F.greatest(
        F.lit(1), F.floor(F.lit(eps) * F.col("ns")).cast("int")
    )
    summ = ranked.withColumn("stride", stride).filter(
        (F.col("r") % F.col("stride") == 0) | (F.col("r") == F.col("ns"))
    )
    wlag = Window.partitionBy("shard").orderBy("r")
    delt = summ.withColumn(
        "delta", F.col("r") - F.coalesce(F.lag("r").over(wlag), F.lit(0))
    )
    # the windows below run over the O(n_shards/eps)-row summary only
    wg = Window.orderBy("v", "shard", "r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = delt.select(
        "v", "shard", "r", "stride", "delta", "ns",
        F.sum("delta").over(wg).alias("lb"),
    ).select(
        "v", "lb",
        F.max("lb").over(wall).alias("n"),
        (
            F.max("stride").over(wall)
            + F.sum(
                F.when(F.col("r") == F.col("ns"), F.col("stride") - 1)
                .otherwise(F.lit(0))
            ).over(wall)
        ).cast("bigint").alias("bound"),
    )
    ests = cum.groupBy().agg(
        F.max("n").alias("n"),
        F.max("bound").alias("bound"),
        *[
            F.min(
                F.when(
                    F.col("lb") >= F.ceil(F.lit(p) * F.col("n")), F.col("v")
                )
            ).alias(f"_e{j}")
            for j, p in enumerate(ps)
        ],
    )
    per_p = ests.select(
        "n", "bound",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(p).alias("p"), F.col(f"_e{j}").alias("est")
                )
                for j, p in enumerate(ps)
            ])
        ).alias("_s"),
    ).select(
        F.col("_s.p").alias("p"), "n",
        F.ceil(F.col("_s.p") * F.col("n")).cast("bigint").alias("target"),
        F.col("_s.est").alias("est"), "bound",
    )
    # audit side: exact ranks of the estimates + the exact quantile
    vals = df.groupBy(F.col(value_col).cast("bigint").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = vals.select(
        "v",
        (F.sum("cnt").over(wv) - F.col("cnt")).cast("bigint").alias("rank_lt"),
        F.sum("cnt").over(wv).cast("bigint").alias("rank_le"),
    )
    wall2 = Window.partitionBy()
    exacts = cdf.withColumn(
        "ntot", F.max("rank_le").over(wall2)
    ).groupBy().agg(
        *[
            F.min(
                F.when(
                    F.col("rank_le") >= F.ceil(F.lit(p) * F.col("ntot")),
                    F.col("v"),
                )
            ).alias(f"_x{j}")
            for j, p in enumerate(ps)
        ]
    ).withColumn("_k", F.lit(1))
    exact_col = F.coalesce(
        *[
            F.when(F.col("p") == F.lit(p), F.col(f"_x{j}"))
            for j, p in enumerate(ps)
        ]
    )
    out = (
        per_p.withColumn("_k", F.lit(1))
        .join(F.broadcast(exacts), "_k")
        .withColumn("exact", exact_col)
        .join(F.broadcast(cdf), F.col("v") == F.col("est"))
        .select(
            "p", "n", "target", "est", "exact", "rank_lt", "rank_le",
            "bound",
            (
                (F.col("rank_le") >= F.col("target"))
                & (F.col("rank_lt") <= F.col("target") + F.col("bound"))
            ).alias("within_bound"),
        )
    )
    return out.orderBy("p")


def quantile_summary_sql(
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    eps: float = 0.05,
    n_shards: int = 4,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
    rel: str = "documents",
) -> str:
    """DuckDB twin: identical shards, strides, bounds, audits."""
    from ..functions.hashing import md5_bigint_sql

    key = f"'qs:' || {id_col}"
    shard = f"({md5_bigint_sql(key)}) % {n_shards}"
    p_rows = ", ".join(f"({p})" for p in ps)
    return f"""
    WITH sh AS (
      SELECT CAST({value_col} AS BIGINT) AS v, {id_col} AS i,
             {shard} AS shard
      FROM {rel}
    ), ranked AS (
      SELECT shard, v, i,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY v, i) AS r,
             COUNT(*) OVER (PARTITION BY shard) AS ns
      FROM sh
    ), summ AS (
      SELECT *, GREATEST(1, CAST(FLOOR({eps} * ns) AS INT)) AS stride
      FROM ranked
      WHERE r % GREATEST(1, CAST(FLOOR({eps} * ns) AS INT)) = 0 OR r = ns
    ), delt AS (
      SELECT *, r - COALESCE(LAG(r) OVER (
               PARTITION BY shard ORDER BY r), 0) AS delta
      FROM summ
    ), cum AS (
      SELECT v, SUM(delta) OVER (ORDER BY v, shard, r) AS lb,
             MAX(stride) OVER ()
               + SUM(CASE WHEN r = ns THEN stride - 1 ELSE 0 END) OVER ()
               AS bound
      FROM delt
    ), agg AS (
      SELECT CAST(MAX(lb) AS BIGINT) AS n,
             CAST(MAX(bound) AS BIGINT) AS bound FROM cum
    ), per_p AS (
      SELECT t.p, a.n,
             CAST(CEIL(t.p * a.n) AS BIGINT) AS target,
             (SELECT MIN(c.v) FROM cum c
              WHERE c.lb >= CEIL(t.p * a.n)) AS est,
             a.bound
      FROM (VALUES {p_rows}) t(p) CROSS JOIN agg a
    ), cdf AS (
      SELECT v,
             CAST(SUM(cnt) OVER (ORDER BY v) - cnt AS BIGINT) AS rank_lt,
             CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS rank_le
      FROM (SELECT CAST({value_col} AS BIGINT) AS v, COUNT(*) AS cnt
            FROM {rel} GROUP BY 1)
    )
    SELECT p.p, p.n, p.target, p.est,
           (SELECT MIN(c.v) FROM cdf c WHERE c.rank_le >= p.target) AS exact,
           d.rank_lt, d.rank_le, p.bound,
           (d.rank_le >= p.target AND d.rank_lt <= p.target + p.bound)
             AS within_bound
    FROM per_p p JOIN cdf d ON d.v = p.est
    ORDER BY p.p
    """

"""Apply-side operators: filter → LSN dedup → per-key last-writer winners.

These are the north-rule additions (SURVEY.md §2.11 A1/A2) the reference
leaves to the user ("This JSON can be sent to any destination",
README.md:3).  Everything here is built-in Spark SQL — no Python in the
hot path — so Catalyst/Tungsten own the physical plan.

Scale notes (100 TB / 1000-executor thinking):

* ``last_writer`` is a hash aggregation with ``max_by``; Spark performs
  map-side partial aggregation, so each task reduces its input to ≤1 row
  per key *before* the shuffle — the shuffle volume is bounded by
  |distinct keys touched|, not |events|.
* ``salted_last_writer`` adds an explicit two-phase reduce for pathological
  single-key skew (one conv_id = 30% of events, BASELINE.json:6): phase 1
  reduces (key, salt) groups, phase 2 reduces the ≤S survivors per key.
  Results are identical to ``last_writer`` (max is associative).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..table import LSN_COLS


def filter_tables(
    df: DataFrame,
    include: list | None = None,
    exclude: list | None = None,
) -> DataFrame:
    """Include/exclude table filter (reference F1, EventsIterator.php:103-130).

    Entries are (schema, table) pairs or bare schema strings (database-
    level — reference Config databases/excludeDatabases): include
    requires membership in EVERY configured dimension (schema ∈ databases
    AND pair ∈ tables, each only if any entry of that kind is present);
    exclude rejects on ANY.  On the decoded stream this is a plain
    Catalyst filter; the decode source additionally applies the same sets
    *inside* the decoder so excluded tables never pay row-decode cost
    (the reference's pushdown, see sources/binlog.py).

    Never run it on a decode made with ``read_binlog(null_cols=...)``
    that nulls ``schema_name``/``table_name`` (the replay drivers' decode
    does): ``isin`` over NULL admits nothing, so every row is dropped.
    """
    key = F.concat_ws(".", F.col("schema_name"), F.col("table_name"))
    if include is not None:
        dbs = [e for e in include if isinstance(e, str)]
        pairs = [
            f"{s}.{t}" for e in include if not isinstance(e, str)
            for s, t in [e]
        ]
        cond = F.lit(bool(dbs or pairs))  # empty include = include nothing
        if dbs:
            cond = cond & F.col("schema_name").isin(dbs)
        if pairs:
            cond = cond & key.isin(pairs)
        df = df.filter(cond)
    if exclude is not None:
        dbs = [e for e in exclude if isinstance(e, str)]
        pairs = [
            f"{s}.{t}" for e in exclude if not isinstance(e, str)
            for s, t in [e]
        ]
        if dbs:
            df = df.filter(~F.col("schema_name").isin(dbs))
        if pairs:
            df = df.filter(~key.isin(pairs))
    return df


def filter_start_lsn(df: DataFrame, start_lsn: tuple[str, int]) -> DataFrame:
    """Start-position skip (reference F2, EventsIterator.php:207-215) as a
    partition-prunable predicate."""
    f, p = start_lsn
    return df.filter(
        (F.col("log_file") > f)
        | ((F.col("log_file") == f) & (F.col("log_pos") >= p))
    )


def filter_until_lsn(df: DataFrame, until_lsn: tuple[str, int]) -> DataFrame:
    """Mirror of filter_start_lsn: keep only changes at/before the given
    position — the read-side half of point-in-time (time-travel)
    reconstruction.  Same partition-prunable shape: a pure predicate on
    (log_file, log_pos), so a file/position-partitioned log scan skips
    every later file entirely."""
    f, p = until_lsn
    return df.filter(
        (F.col("log_file") < f)
        | ((F.col("log_file") == f) & (F.col("log_pos") <= p))
    )


def dedup_lsn(df: DataFrame, lsn_cols: list[str] | None = None) -> DataFrame:
    """Drop exact re-deliveries: events are identical iff their LSN is —
    (log_file, log_pos, server_id[, batch_seq]) — north-rule A1 first half
    (batch analog of dropDuplicatesWithinWatermark).

    Default path is ``distinct()``: a re-delivered event is an exact copy
    (same LSN ⇒ same payload — the generator/spec invariant, also noted
    at streaming/replay.py), so whole-row dedup returns the identical
    result while aggregating HASH-based — ``dropDuplicates(subset)``
    plans a SortAggregate pair because ``first()`` over string payload
    columns can't use mutable hash buffers (measured 2.07s → 1.28s on
    the bench dedup composition, identical bit_xor content hash).  It is
    also the safer contract: two same-LSN rows that genuinely differed
    would both survive instead of one being arbitrarily dropped.
    Callers that pass ``lsn_cols`` explicitly ask for key-subset dedup
    and keep the ``dropDuplicates`` semantics."""
    if lsn_cols is None:
        return df.distinct()
    cols = [c for c in lsn_cols if c in df.columns]
    return df.dropDuplicates(cols)


def _lsn_struct(df: DataFrame):
    return F.struct(*[F.col(c) for c in LSN_COLS if c in df.columns])


def last_writer(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Per-key last-LSN winner: one row per key carrying the winning event's
    action + payload (north-rule A1 second half).

    groupBy(key).agg(max_by(payload, lsn)) — partial-aggregated map-side,
    single shuffle keyed on the merge key so the output is already
    co-partitioned for the merge join.
    """
    payload = F.struct(F.col("action").alias("action"),
                       *[F.col(c).alias(c) for c in payload_cols])
    lsn = _lsn_struct(df)
    win = df.groupBy(*key_cols).agg(
        F.max_by(payload, lsn).alias("_win"), F.max(lsn).alias("_lsn")
    )
    return win.select(
        *key_cols,
        F.col("_win.action").alias("action"),
        *[F.col(f"_win.{c}").alias(c) for c in payload_cols],
        *[F.col(f"_lsn.{c}").alias(c) for c in LSN_COLS if c in df.columns],
    )


def salted_last_writer(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-hardened two-phase variant of ``last_writer`` (north-rule A2).

    Phase 1 groups on (key, salt) where salt spreads one hot key's events
    over ``salt_buckets`` reducers; phase 2 reduces the ≤``salt_buckets``
    partial winners per key.  Identical result, bounded reducer fan-in.
    """
    payload = F.struct(F.col("action").alias("action"),
                       *[F.col(c).alias(c) for c in payload_cols])
    lsn = _lsn_struct(df)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in LSN_COLS if c in df.columns]),
        F.lit(salt_buckets),
    ).alias("_salt")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.max_by(payload, lsn).alias("_win"), F.max(lsn).alias("_lsn"))
    )
    final = partial.groupBy(*key_cols).agg(
        F.max_by(F.col("_win"), F.col("_lsn")).alias("_win"),
        F.max(F.col("_lsn")).alias("_lsn"),
    )
    return final.select(
        *key_cols,
        F.col("_win.action").alias("action"),
        *[F.col(f"_win.{c}").alias(c) for c in payload_cols],
        *[F.col(f"_lsn.{c}").alias(c) for c in LSN_COLS if c in df.columns],
    )


def final_state(winners: DataFrame, payload_cols: list[str],
                key_cols: list[str]) -> DataFrame:
    """Applied table state from winners: everything but deletes."""
    return winners.filter(F.col("action") != "delete").select(
        *key_cols, *payload_cols
    )


def snapshot_diff(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    cut_a: int,
    cut_b: int,
    action_col: str = "action",
) -> DataFrame:
    """Net change per key between two positions ``cut_a < cut_b``: one
    row per key whose live state differs — ``change`` ∈ added / removed
    / changed, with the old (as-of A) and new (as-of B) payloads.

    ONE aggregation pass, not a join of two time-travel snapshots: both
    states come from the same groupBy via ``max_by`` with a conditional
    ordering key (``max_by`` ignores NULL ordering values, so
    ``when(ord <= cut_a, ord)`` yields the as-of-A winner and the plain
    ``ord`` the as-of-B winner).  Map-side partial max_by bounds the
    shuffle by |touched keys|; the naive two-snapshot full-outer join
    would shuffle the events twice and join besides.  Keys dead at both
    cuts (e.g. insert+delete entirely between them, or deleted before A
    and still deleted) are dropped, as are unchanged keys."""
    o = F.col(order_col)
    pay = F.struct(
        F.col(action_col).alias("__act"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    agg = (
        df.where(o <= cut_b)
        .groupBy(*key_cols)
        .agg(
            F.max_by(pay, F.when(o <= cut_a, o)).alias("sa"),
            F.max_by(pay, o).alias("sb"),
        )
    )
    ea = F.col("sa").isNotNull() & (F.col("sa.__act") != "delete")
    eb = F.col("sb").isNotNull() & (F.col("sb.__act") != "delete")
    same_pay = F.struct(
        *[F.col(f"sa.{c}") for c in payload_cols]
    ).eqNullSafe(F.struct(*[F.col(f"sb.{c}") for c in payload_cols]))
    change = (
        F.when(~ea & eb, "added")
        .when(ea & ~eb, "removed")
        .when(ea & eb & ~same_pay, "changed")
    )
    return (
        agg.select(
            *key_cols,
            change.alias("change"),
            *[
                F.when(ea, F.col(f"sa.{c}")).alias(f"old_{c}")
                for c in payload_cols
            ],
            *[
                F.when(eb, F.col(f"sb.{c}")).alias(f"new_{c}")
                for c in payload_cols
            ],
        )
        .where(F.col("change").isNotNull())
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    action_col: str = "action",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a deduped changelog:
    one row per non-delete VERSION of each key, with
    ``valid_from`` = the version's own position, ``valid_to`` = the next
    change's position (NULL while current) and ``is_current``.

    A delete CLOSES the preceding version (its position becomes that
    version's ``valid_to``) without emitting a version row — which is
    why the lead() runs over ALL actions and the delete filter comes
    after the window, never before.

    Scale shape: identical to last_writer's — one hash shuffle on the
    key, one sorted window pass; no joins.  This is the standard
    "time travel by key" output format a warehouse consumer expects
    from a CDC feed (the reference stops at the event stream; engine-
    side analytics, SURVEY §2.11)."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    nxt = F.lead(order_col).over(w)
    return (
        df.withColumn("valid_to", nxt)
        .where(F.col(action_col) != "delete")
        .select(
            *key_cols,
            F.col(order_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            F.col(action_col).alias(action_col),
            *payload_cols,
        )
    )


# ------------------------------------------------------------ validation

# Write-audit-publish gate: declarative row-level constraints evaluated
# over the deduped changelog in ONE aggregation pass — per-rule
# violation counts against the total, the audit report a pipeline
# checks before publishing a snapshot downstream.
#
# 100 TB shape: every rule is a JVM boolean expression folded into a
# single partial-aggregating scan (no per-rule pass, no quarantine
# shuffle); the long-form output is a driver-side stack() over the
# 1-row aggregate.  NULL rule results count as non-violations (when()
# semantics), so a NULL text never trips the regex rule instead of the
# null rule.

# (name, spark condition, duckdb condition or None when identical).
# Non-ascii detection is the byte-vs-char length comparison — UTF-8
# multibyte iff octet length exceeds char length — because a regex
# literal would need different backslash escaping per dialect.
TRANSCRIPT_RULES: list[tuple[str, str, str | None]] = [
    ("bad_role",
     "NOT role IN ('user','assistant','system','tool')", None),
    ("turn_out_of_range", "turn_idx < 0 OR turn_idx >= 40", None),
    ("empty_text", "text IS NULL OR length(text) = 0", None),
    ("tool_role_mismatch", "(role = 'tool') != (tool IS NOT NULL)", None),
    ("non_ascii_text",
     "octet_length(text) > length(text)",
     "strlen(text) > length(text)"),
    ("tool_without_version",
     "tool IS NOT NULL AND tool_version IS NULL", None),
]


def validate_changelog(
    df: DataFrame,
    rules: list[tuple[str, str, str | None]] = TRANSCRIPT_RULES,
) -> DataFrame:
    """(rule, n_violations, n_rows) — one row per rule, counted in a
    single scan (NULL conditions count as pass, when() semantics)."""
    aggs = [
        F.sum(
            F.when(F.expr(cond), F.lit(1)).otherwise(F.lit(0))
        ).alias(name)
        for name, cond, _ in rules
    ]
    one = df.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    pairs = ", ".join(f"'{name}', {name}" for name, _, _ in rules)
    return one.select(
        F.expr(
            f"stack({len(rules)}, {pairs}) as (rule, n_violations)"
        ),
        "n_rows",
    )


def validate_changelog_sql(
    rel: str = "dedup",
    rules: list[tuple[str, str, str | None]] = TRANSCRIPT_RULES,
) -> str:
    """DuckDB twin: same one-pass aggregate, unpivoted by constant
    selects over the 1-row result.  Emitted as ``, a AS (...) SELECT``
    so it chains onto the caller's existing WITH clause (DuckDB forbids
    nested WITH)."""
    aggs = ", ".join(
        "CAST(SUM(CASE WHEN COALESCE(" + (duck or cond) + ", FALSE) "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
        for name, cond, duck in rules
    )
    arms = "\nUNION ALL ".join(
        f"SELECT '{name}' AS rule, {name} AS n_violations, n_rows FROM _audit"
        for name, _, _ in rules
    )
    return f", _audit AS (SELECT COUNT(*) AS n_rows, {aggs} FROM {rel}) {arms}"


# -------------------------------------------------------------- hot keys

# Skew diagnostics: the top-k hottest keys by change volume with their
# share of total traffic — the report that decides whether A2's salted
# reduce is needed and how to size the salt.  One key aggregation
# (map-side partials), a 1-row broadcast total attach (the canonical
# scalar shape), and top-k via TakeOrderedAndProject — per-partition
# heaps + driver merge, never a full sort.


def hot_keys(df: DataFrame, k: int = 20, key_col: str = "conv_id") -> DataFrame:
    """(key, n_changes, pct): the k keys with the most changes and their
    percentage of all changes (round 6; ties broken by key text)."""
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_changes")
    )
    total = per.agg(F.sum("n_changes").alias("t"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_changes",
            F.round(F.col("n_changes") * 100 / F.col("t"), 6).alias("pct"),
        )
        .orderBy(F.col("n_changes").desc(), "key")
        .limit(k)
    )


def hot_keys_sql(rel: str = "dedup", k: int = 20, key_col: str = "conv_id") -> str:
    """DuckDB twin; chains onto the caller's WITH clause like
    validate_changelog_sql."""
    return f"""
    , per AS (
      SELECT {key_col} AS key, COUNT(*) AS n_changes FROM {rel} GROUP BY 1
    ), t AS (SELECT SUM(n_changes) AS t FROM per)
    SELECT key, n_changes, round(n_changes * 100 / t, 6) AS pct
    FROM per CROSS JOIN t
    ORDER BY n_changes DESC, key LIMIT {k}
    """


# --------------------------------------------------------- pre-image audit

# UPDATE before-image integrity: a healthy row-based binlog's UPDATE
# events carry the key's previous committed image (binlog_row_image=FULL
# — reference RowFactory.php:171-177 decodes exactly two images per
# update row).  This audit replays that invariant over the DECODED
# stream: per key in LSN order, the decoded before-image of every UPDATE
# must equal the effective image of the key's previous event (after for
# insert/update, before for delete).  A mismatch means wire corruption,
# a decode bug, or an out-of-order/lossy log — the first thing a CDC
# operator checks when a MERGE produces wrong state.
#
# 100 TB shape: ONE key-partitioned window (the same (schema, table,
# conv, turn) exchange every apply-side operator uses) + a per-table
# partial-aggregating collapse to |tables| rows.  Null-safe equality
# (eqNullSafe) so NULL-valued columns compare exactly, not three-valued.


def preimage_audit(
    dec: DataFrame,
    image_cols: tuple[str, ...] = ("role", "text", "tool", "ts", "tool_version"),
) -> DataFrame:
    """(schema_name, table_name, n_inserts, n_updates, n_deletes,
    n_preimage_ok, n_preimage_bad) over a decoded binlog stream with
    before_*/after_* image columns (sources/binlog.read_binlog)."""

    def eff(c: str) -> Column:
        return F.when(
            F.col("action") == "delete", F.col(f"before_{c}")
        ).otherwise(F.col(f"after_{c}"))

    d = dec.select(
        "log_file", "log_pos", "batch_seq", "schema_name", "table_name",
        "action",
        eff("conv_id").alias("conv_id"),
        eff("turn_idx").alias("turn_idx"),
        *[eff(c).alias(f"img_{c}") for c in image_cols],
        *[F.col(f"before_{c}").alias(f"bef_{c}") for c in image_cols],
    )
    w = Window.partitionBy(
        "schema_name", "table_name", "conv_id", "turn_idx"
    ).orderBy("log_file", "log_pos", "batch_seq")
    d = d.select(
        "schema_name", "table_name", "action",
        *[f"bef_{c}" for c in image_cols],
        *[F.lag(f"img_{c}").over(w).alias(f"prev_{c}") for c in image_cols],
    )
    ok = F.lit(True)
    for c in image_cols:
        ok = ok & F.col(f"bef_{c}").eqNullSafe(F.col(f"prev_{c}"))
    is_u = F.col("action") == "update"
    cnt = lambda cond: F.sum(cond.cast("bigint")).alias  # noqa: E731
    return d.groupBy("schema_name", "table_name").agg(
        cnt(F.col("action") == "insert")("n_inserts"),
        cnt(is_u)("n_updates"),
        cnt(F.col("action") == "delete")("n_deletes"),
        cnt(is_u & ok)("n_preimage_ok"),
        cnt(is_u & ~ok)("n_preimage_bad"),
    )


def preimage_audit_sql(rel: str = "dedup") -> str:
    """DuckDB twin: the EXPECTED audit — on an uncorrupted log every
    update's before-image matches by construction (the fixture writes
    befores from the same per-key lag the audit recomputes), so
    n_preimage_ok == n_updates and n_preimage_bad == 0.  The Spark side
    earns those numbers from the decoded binary; the oracle states them
    from the spec — a decode/pairing bug breaks the hash."""
    return f"""
    SELECT schema_name, table_name,
           CAST(SUM(CASE WHEN action = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserts,
           CAST(SUM(CASE WHEN action = 'update' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_updates,
           CAST(SUM(CASE WHEN action = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deletes,
           CAST(SUM(CASE WHEN action = 'update' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_preimage_ok,
           CAST(0 AS BIGINT) AS n_preimage_bad
    FROM {rel} GROUP BY 1, 2
    """


# ------------------------------------------------------ transaction stats

# Transaction-level observability: per-xid event counts, table spread,
# and LSN span over the deduped changelog — the report that surfaces
# oversized transactions (replication-lag bombs), multi-table
# transactions (atomic-apply scope), and per-transaction churn.  The
# reference frames transactions with BEGIN/XID (EventsIterator.php's
# QUERY/XID handling) but aggregates nothing; this is the operator a
# production CDC pipeline hangs alerts on.
#
# 100 TB shape: ONE xid-key aggregation with map-side partials (xid is
# monotonically assigned ⇒ uniform under hash partitioning); the
# distribution summary collapses |txn| rows to one via exact-integer
# sums.  n_tables via count(distinct) INSIDE the xid group is bounded
# by the per-txn table count, not corpus-wide distinct state.


def txn_stats(df: DataFrame) -> DataFrame:
    """(n_txns, max_events, p_events_ge_16, n_multi_table, max_tables,
    total_events): one-row transaction-shape summary of the changelog."""
    per = df.groupBy("xid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("schema_name", "table_name")
        .cast("bigint")
        .alias("n_tables"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_txns"),
        F.max("n_events").alias("max_events"),
        F.round(
            F.sum((F.col("n_events") >= 16).cast("bigint"))
            * 100.0
            / F.count(F.lit(1)),
            6,
        ).alias("p_events_ge_16"),
        F.sum((F.col("n_tables") > 1).cast("bigint")).alias("n_multi_table"),
        F.max("n_tables").alias("max_tables"),
        F.sum("n_events").alias("total_events"),
    )


def txn_stats_sql(rel: str = "dedup") -> str:
    """DuckDB twin; chains onto the caller's WITH clause."""
    return f"""
    , per AS (
      SELECT xid, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT (schema_name, table_name)) AS BIGINT)
               AS n_tables
      FROM {rel} GROUP BY xid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_txns,
           MAX(n_events) AS max_events,
           round(CAST(SUM(CASE WHEN n_events >= 16 THEN 1 ELSE 0 END)
                   AS BIGINT) * 100.0 / COUNT(*), 6) AS p_events_ge_16,
           CAST(SUM(CASE WHEN n_tables > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_table,
           MAX(n_tables) AS max_tables,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM per
    """


# -------------------------------------------------------- key lifecycle

# Key-lifecycle reconciliation: collapse the deduped changelog to each
# key's LAST action and report per-table live/dead key counts — the
# invariant the MERGE must reproduce (n_live == final table row count;
# a drift means a lost tombstone or a mis-ordered apply).  This is the
# CDC operator's nightly sanity query: derived purely from the log, it
# cross-checks the lake without reading it.
#
# 100 TB shape: ONE key-partitioned aggregation (max_by over the LSN
# struct, map-side partials — shuffle bounded by |keys|, not |events|)
# then a |tables|-row collapse.


def key_lifecycle(df: DataFrame) -> DataFrame:
    """(schema_name, table_name, n_keys, n_live, n_dead, n_changes):
    per-table key counts by final action over the deduped changelog."""
    lsn = _lsn_struct(df)
    per_key = df.groupBy(
        "schema_name", "table_name", "conv_id", "turn_idx"
    ).agg(
        F.max_by("action", lsn).alias("last_action"),
        F.count(F.lit(1)).cast("bigint").alias("n_changes"),
    )
    dead = (F.col("last_action") == "delete").cast("bigint")
    return per_key.groupBy("schema_name", "table_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(1 - dead).alias("n_live"),
        F.sum(dead).alias("n_dead"),
        F.sum("n_changes").alias("n_changes"),
    )


def key_lifecycle_sql(rel: str = "dedup") -> str:
    """DuckDB twin; chains onto the caller's WITH clause."""
    return f"""
    , ranked AS (
      SELECT schema_name, table_name, conv_id, turn_idx, action,
             ROW_NUMBER() OVER (
               PARTITION BY schema_name, table_name, conv_id, turn_idx
               ORDER BY log_file DESC, log_pos DESC, server_id DESC) AS rn,
             COUNT(*) OVER (
               PARTITION BY schema_name, table_name, conv_id, turn_idx)
               AS n_changes
      FROM {rel}
    ), pk AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT schema_name, table_name,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN action <> 'delete' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN action = 'delete' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dead,
           CAST(SUM(n_changes) AS BIGINT) AS n_changes
    FROM pk GROUP BY 1, 2
    """


def orphan_keys(df: DataFrame) -> DataFrame:
    """(schema_name, table_name, first_action, n_keys): per-table key
    counts by FIRST logged action over the deduped changelog.

    A key whose first action is an update or delete is an *orphan* —
    evidence the capture started mid-stream (no initial snapshot) or an
    upstream purge raced the binlog read.  The reference replays such
    events blindly (`EventsIterator.php` emits whatever the log holds);
    at ingest scale this audit is what tells you whether MERGE's
    update-as-upsert fallback is papering over a gap.  Plan: the same
    single key-partitioned exchange as ``key_lifecycle``, collapsing
    with ``min_by`` instead of ``max_by``; the per-table rollup then
    moves only |tables|·|actions| rows.
    """
    lsn = _lsn_struct(df)
    per_key = df.groupBy(
        "schema_name", "table_name", "conv_id", "turn_idx"
    ).agg(F.min_by("action", lsn).alias("first_action"))
    return per_key.groupBy("schema_name", "table_name", "first_action").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )


def orphan_keys_sql(rel: str = "dedup") -> str:
    """DuckDB twin; chains onto the caller's WITH clause.  Post-dedup
    the LSN is unique per key, so the ASC row-number pick is the exact
    mirror of min_by with no tie channel."""
    return f"""
    , firsts AS (
      SELECT schema_name, table_name, conv_id, turn_idx, action,
             ROW_NUMBER() OVER (
               PARTITION BY schema_name, table_name, conv_id, turn_idx
               ORDER BY log_file ASC, log_pos ASC, server_id ASC) AS rn
      FROM {rel}
    )
    SELECT schema_name, table_name, action AS first_action,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM firsts WHERE rn = 1 GROUP BY 1, 2, 3
    """


def gtid_gaps(df: DataFrame, gtid_col: str = "gtid") -> DataFrame:
    """(sid, n_txns, gno_min, gno_max, n_gaps): per-SID GTID continuity
    over any frame carrying a ``sid:gno`` lineage column — n_gaps > 0
    means transactions the stream never saw (purged log / filtered
    fetch), the integrity alarm to run before trusting a resume point.
    One |SIDs|-row aggregate, partial map-side."""
    sid = F.substring_index(gtid_col, ":", 1)
    gno = F.substring_index(gtid_col, ":", -1).cast("bigint")
    return (
        df.select(sid.alias("sid"), gno.alias("gno"))
        .groupBy("sid")
        .agg(
            F.countDistinct("gno").cast("bigint").alias("n_txns"),
            F.min("gno").alias("gno_min"),
            F.max("gno").alias("gno_max"),
        )
        .withColumn(
            "n_gaps",
            (
                F.col("gno_max") - F.col("gno_min") + 1 - F.col("n_txns")
            ).cast("bigint"),
        )
    )

"""The reference's generated-SQL relational surface (SURVEY.md §2A),
re-expressed as composable DataFrame transformations.

Every function is a pure logical-plan builder: no actions, no collect — so
Catalyst can fuse, push down, and prune across compositions. file:line
citations refer to /root/reference.

Scale notes are inline per operator; the recurring themes:
* point lookups on the tiny ledger -> broadcast-friendly, no shuffle on the
  big side;
* anti-joins of big (distinct partition values) vs small (ledger) sides are
  broadcast anti-joins — no shuffle of the fact-derived side beyond the
  distinct's partial aggregation;
* the one global ``row_number()`` the reference uses runs over *distinct
  partition values* (thousands of rows, not the 100 TB fact table), so the
  single-partition window is safe; the dense per-row variant (S12) offers a
  scalable non-dense alternative.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- S1/S2: oldest pending partition (sqoop_table.py:39-52) ---------------
def next_pending(
    ledger: DataFrame, table_name: str, value_col: str = "primary_partition_value"
) -> DataFrame:
    """``SELECT <col> FROM ledger WHERE is_complete='f' AND table_name=?
    ORDER BY primary_partition_value LIMIT 1``.

    Ledger is tiny (one row per table-partition) — orderBy+limit(1) is a
    TakeOrderedAndProject, no full sort."""
    return (
        ledger.filter((F.col("is_complete") == "f") & (F.col("table_name") == table_name))
        .orderBy("primary_partition_value")
        .select(value_col)
        .limit(1)
    )


# --- S3: existence probe (sqoop_table.py:106-112) -------------------------
def pending_exists(ledger: DataFrame, table_name: str) -> bool:
    """``SELECT 1 ... LIMIT 1`` -> bool. limit(1) short-circuits the scan."""
    return not (
        ledger.filter((F.col("is_complete") == "f") & (F.col("table_name") == table_name))
        .limit(1)
        .isEmpty()
    )


# --- S4: filtered count (sqoop_table.py:54-57) ----------------------------
def filtered_count(df: DataFrame, predicate: Column) -> DataFrame:
    """``SELECT count(*) FROM t WHERE pred`` — predicate pushes to the scan;
    count is a partial+final agg, one shuffle of one row per partition."""
    return df.filter(predicate).agg(F.count(F.lit(1)).alias("cnt"))


# --- S5: boundary query (sqoop_json.py:31) --------------------------------
def split_bounds(df: DataFrame, id_col: str, num_splits: int) -> DataFrame:
    """``SELECT min(rowId), N AS max`` — the Sqoop split-planning bounds."""
    return df.agg(
        F.min(id_col).cast("long").alias("min_id"),
        F.lit(num_splits).cast("long").alias("max_id"),
    )


# --- S6-S9: the partition-discovery pipeline (sqoop_table.py:131-148) -----
def distinct_partitions(df: DataFrame, part_expr: Column, alias: str = "part") -> DataFrame:
    """``SELECT DISTINCT <part_expr> FROM t`` (S6). Partial-aggregates
    map-side, so the shuffle carries only distinct values per task — for a
    monthly partition column that's O(#months), not O(rows)."""
    return df.select(part_expr.alias(alias)).distinct()


def rank_newest_first(parts: DataFrame, part_col: str = "part") -> DataFrame:
    """``row_number() OVER (ORDER BY part DESC)`` (S7). Global window is safe
    here: input is the distinct partition list (small by construction).
    Never apply to raw fact rows — use salt_round_robin for that."""
    w = Window.orderBy(F.desc(part_col))
    return parts.withColumn("rn", F.row_number().over(w))


def skip_latest(ranked: DataFrame, skip_latest_n: int) -> DataFrame:
    """``WHERE rn > SKIP_LATEST_MONTHS`` (S8) — recency pruning of hot,
    still-mutating partitions (sqoop_table.py:137,145)."""
    return ranked.filter(F.col("rn") > skip_latest_n)


def anti_join_new(parts: DataFrame, seen: DataFrame, on: list[str]) -> DataFrame:
    """``NOT EXISTS`` anti-join (S9): keep partitions absent from the
    ledger. ``seen`` (the ledger projection) is tiny -> Catalyst picks a
    BroadcastNestedLoop/BroadcastHashJoin; the big side never shuffles."""
    return parts.join(F.broadcast(seen), on=on, how="left_anti")


def pending_partition_pipeline(
    source: DataFrame,
    part_expr: Column,
    seen_parts: DataFrame,
    skip_latest_n: int = 0,
    alias: str = "part",
) -> DataFrame:
    """The reference's most complex generated query (S6+S7+S8+S9 nested as
    S10, sqoop_table.py:145): distinct partition values of the source,
    ranked newest-first, minus the k hottest, minus already-seen ones."""
    parts = distinct_partitions(source, part_expr, alias)
    ranked = rank_newest_first(parts, alias)
    kept = skip_latest(ranked, skip_latest_n).select(alias)
    return anti_join_new(kept, seen_parts.select(alias), on=[alias])


# --- S12: round-robin salting (sqoop_table.py:94-104) ---------------------
def salt_round_robin(df: DataFrame, num_buckets: int, dense: bool = False) -> DataFrame:
    """``seq.nextval % N AS rowId`` — fold rows into N extract buckets.

    dense=False (default, the 100 TB path): pmod(monotonically_increasing_id)
    — fully parallel, no shuffle; buckets are near-even for the salting use
    case but ids are not dense.
    dense=True (exact reference semantics): global row_number — single-
    partition window, only for small inputs / oracle tests.
    """
    if dense:
        w = Window.orderBy(F.monotonically_increasing_id())
        rid = F.row_number().over(w) % num_buckets
    else:
        rid = F.pmod(F.monotonically_increasing_id(), F.lit(num_buckets)).cast("int")
    return df.withColumn("rowId", rid)


# --- S14/S15: UPDATE / DELETE semantics on immutable storage --------------
def update_where(df: DataFrame, cond: Column, assignments: dict[str, Column]) -> DataFrame:
    """``UPDATE t SET c=v, ... WHERE cond`` (sqoop_table.py:59-66) as a
    projection: CASE WHEN cond THEN new ELSE old, for Spark tables. The
    engine's own ledger edits its rows on the driver instead (ledger.py
    ``mark_complete``); this is the DataFrame form of the same update."""
    out = df
    for name, value in assignments.items():
        out = out.withColumn(name, F.when(cond, value).otherwise(F.col(name)))
    return out


def delete_where(df: DataFrame, cond: Column) -> DataFrame:
    """``DELETE FROM t WHERE cond`` (sqoop_table.py:68-73) -> keep the
    complement."""
    return df.filter(~cond)


# --- S20: deterministic peek (sqoop_table.py:167-175) ---------------------
def peek_one(df: DataFrame, order_col: str) -> DataFrame:
    """``SELECT <col> FROM t LIMIT 1`` — made deterministic by ordering
    (the reference relied on Vertica's arbitrary-but-stable order)."""
    return df.select(order_col).orderBy(order_col).limit(1)


# --- top-k per group (extension; absent-category from §2A) ----------------
def top_k_per_group(
    df: DataFrame, part_cols: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """Windowed top-k: rank within group, keep k. Shuffles once on the
    group keys; AQE handles skewed groups."""
    w = Window.partitionBy(*part_cols).orderBy(*order_by)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# --- skew-salted equi-join (extension; scale tactic from §4) ---------------
def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with explicit key salting for skewed left keys: the left
    side gets a deterministic salt in [0, salt) derived from its whole
    row-ish identity, the right side is replicated ``salt`` times, and
    the join runs on (key..., salt) — a hot key's rows spread over
    ``salt`` shuffle partitions instead of one straggler task.

    Result-identical to ``left.join(right, on, how)`` (oracle-checked);
    cost is right-side replication, so use when right is small-to-medium
    but too big (or too frequently joined) to broadcast. AQE's runtime
    skew-join split covers many cases; explicit salting still wins when
    a single key exceeds what one task can hold, or under join-loop
    reuse where deterministic layout matters. Supports inner/left joins
    (each left row matches exactly one right replica)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (right replication)")
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l = left.withColumn("_salt", lsalt)
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l.join(r, on=[*on, "_salt"], how=how).drop("_salt")


# --- data-driven skew salting (extension; S12's adaptive twin) -------------
def skew_fanout(
    df: DataFrame, key_cols: list[str], rows_per_bucket: int, hot_only: bool = True
) -> DataFrame:
    """Per-key salt fan-out PROPORTIONAL to observed frequency: one
    counting pass over ``df``, then ``fanout = ceil(cnt / rows_per_bucket)``
    for keys exceeding the bucket target (tail keys keep fanout 1 and are
    not materialized when ``hot_only``).

    This is S12's (salt_round_robin) adaptive twin for skewed JOIN/AGG
    keys: the fixed round-robin spreads rows blindly; this reads the data
    first and splits only the hot keys, exactly as wide as they are hot.
    The result is by construction tiny (only keys hotter than
    rows_per_bucket — at 100 TB with a 10M-row bucket target that is at
    most ~10M/|cluster| keys, broadcastable by definition: #hot_keys <=
    total_rows / rows_per_bucket)."""
    freq = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_cnt"))
    if hot_only:
        freq = freq.filter(F.col("_cnt") > rows_per_bucket)
    return freq.select(
        *key_cols,
        F.greatest(
            F.lit(1), F.ceil(F.col("_cnt") / F.lit(float(rows_per_bucket)))
        )
        .cast("long")
        .alias("_fanout"),
    )


def salted_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt_src: Column,
    rows_per_bucket: int = 1_000_000,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with DATA-DRIVEN key salting: hot left keys (observed
    ``> rows_per_bucket`` rows) are split over ``ceil(cnt/rows_per_bucket)``
    salt buckets, the right side is replicated per-key exactly that many
    times; tail keys pay nothing (fanout 1, no replication).  Contrast
    ``salted_join`` (fixed fan-out, replicates the whole right side) —
    here replication cost is confined to the rows of the few hot keys.

    ``salt_src`` must be a deterministic column expression on the left
    (e.g. an id column) so results — and the salt layout — are exactly
    reproducible (and SQL-replayable for the oracle twin).

    Result-identical to ``left.join(right, on, how)``; the fanout map is
    broadcast (bounded by total_rows/rows_per_bucket keys, see
    skew_fanout).  AQE's runtime skew split handles the single-shuffle
    case; this is the deterministic-layout form for join loops and for
    keys too hot for one task even after AQE's byte-based splitting."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join_auto supports inner/left")
    fan = skew_fanout(left, on, rows_per_bucket, hot_only=True)
    l = (
        left.join(F.broadcast(fan), on=on, how="left")
        .withColumn("_fanout", F.coalesce(F.col("_fanout"), F.lit(1)))
        # coalesce(..., 0): a NULL salt_src would otherwise yield a NULL
        # salt that matches nothing, silently dropping the row (inner)
        # or nulling its right columns (left) — breaking the
        # result-identical contract for null-keyed hot rows
        .withColumn(
            "_salt",
            F.coalesce(F.pmod(salt_src, F.col("_fanout")), F.lit(0)),
        )
        .drop("_fanout")
    )
    r = (
        right.join(F.broadcast(fan), on=on, how="left")
        .withColumn("_fanout", F.coalesce(F.col("_fanout"), F.lit(1)))
        .withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_fanout") - 1)),
        )
        .drop("_fanout")
    )
    return l.join(r, on=[*on, "_salt"], how=how).drop("_salt")


def range_rebalance(
    df: DataFrame, value_col: str, num_buckets: int, exact: bool = False
) -> DataFrame:
    """Data-driven RANGE repartitioning: compute num_buckets-quantile cut
    points of ``value_col`` in one aggregate pass, broadcast them, and
    assign each row its range bucket by counting cuts below its value —
    the distributed ntile: near-even buckets that respect sort order
    (unlike hash salting), without ntile's single-partition global
    window.  This is what ``repartitionByRange`` does internally via
    sampling; exposing it as a column makes the layout deterministic,
    auditable, and reusable across stages.

    exact=False (default, the 100 TB path) uses approx_percentile —
    mergeable sketch, bounded memory.  exact=True uses the exact
    interpolated percentile (collects per-group values — test/oracle
    scale only; bit-identical to DuckDB quantile_cont, verified)."""
    fracs = [i / num_buckets for i in range(1, num_buckets)]
    fn = "percentile" if exact else "approx_percentile"
    fr = ", ".join(repr(f) for f in fracs)
    cuts = df.agg(
        F.expr(f"{fn}({value_col}, array({fr}))").alias("_cuts")
    )
    return (
        df.join(F.broadcast(cuts))
        .withColumn(
            "bucket",
            F.size(
                F.filter(
                    F.col("_cuts"), lambda c: F.col(value_col) > c
                )
            ),
        )
        .drop("_cuts")
    )


# --- MERGE / SCD (extension; the set-mutation surface past S14/S15) -------
def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """``MERGE INTO target USING updates ON keys WHEN MATCHED THEN
    UPDATE ... WHEN NOT MATCHED THEN INSERT`` as a pure dataflow: one
    full-outer join on the key, non-key columns resolved
    update-wins-else-target. The natural extension of the engine's
    UPDATE (S14) / DELETE (S15) projections to set-based mutation; the
    caller commits the result via the same atomic-overwrite path.

    One shuffle on the merge key for both sides; at dimension scale the
    planner broadcasts the updates side on its own. Updates must be
    unique per key (standard MERGE precondition — enforce upstream or
    the join fans out, same as any SQL MERGE)."""
    non_keys = [c for c in target.columns if c not in key_cols]
    u = updates.select(
        *key_cols,
        *[F.col(c).alias(f"_u_{c}") for c in updates.columns if c not in key_cols],
    )
    joined = target.join(u, on=key_cols, how="full_outer")
    resolved = [
        (
            F.coalesce(F.col(f"_u_{c}"), F.col(c)).alias(c)
            if f"_u_{c}" in joined.columns
            else F.col(c)
        )
        for c in non_keys
    ]
    return joined.select(*key_cols, *resolved)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    change_ts_col: str = "change_ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Apply a change batch to a type-2 slowly-changing dimension:
    every key in ``changes`` has its OPEN row (``valid_to`` NULL)
    closed at the change timestamp, and a new open row appended with
    the changed attributes; history rows pass through untouched.

    ``changes`` carries the key, the new values for every non-key
    attribute of ``dim`` (same names), and ``change_ts_col``; one
    change per key per batch (dedupe upstream — same precondition as
    MERGE). All three legs are projections off ONE key-keyed left
    join of the dim against the change set (typically tiny — the
    planner broadcasts it; a rare huge batch shuffles, also correct);
    output is union-by-name, ready for the atomic-overwrite commit."""
    attr_cols = [
        c for c in dim.columns if c not in (*key_cols, from_col, to_col)
    ]
    ch = changes.select(
        *key_cols,
        *[F.col(c).alias(f"_n_{c}") for c in attr_cols],
        F.col(change_ts_col).alias("_chg_ts"),
    )
    joined = dim.join(ch, on=key_cols, how="left")
    is_open = F.col(to_col).isNull()
    has_chg = F.col("_chg_ts").isNotNull()
    # history rows + open rows of unchanged keys: untouched
    kept = joined.filter(~(is_open & has_chg)).select(*dim.columns)
    # open rows of changed keys: closed at the change timestamp
    closed = (
        joined.filter(is_open & has_chg)
        .withColumn(to_col, F.col("_chg_ts"))
        .select(*dim.columns)
    )
    # the new open version per changed key
    opened = (
        joined.filter(is_open & has_chg)
        .select(
            *key_cols,
            *[F.col(f"_n_{c}").alias(c) for c in attr_cols],
            F.col("_chg_ts").alias(from_col),
            F.lit(None).cast(joined.schema[to_col].dataType).alias(to_col),
        )
    )
    return kept.unionByName(closed).unionByName(opened)


def cdc_apply(
    base: DataFrame,
    changelog: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a change-data-capture log to a base snapshot: per key, the
    HIGHEST-sequence changelog entry wins — 'D' removes the key,
    'I'/'U' replace-or-insert that entry's values; untouched keys keep
    their base row. The Debezium/Kafka-compaction semantics that turn
    the reference's whole-table reloads into incremental maintenance.

    Plan shape: one window (row_number by key, seq desc) reduces the
    log to its frontier — log-sized, typically tiny vs base; one
    anti-join removes superseded/deleted base rows; one union appends
    the surviving upserts. Base is never shuffled except on the key
    anti-join; at 100 TB pair with bucketed base layout so the
    anti-join co-locates."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        changelog.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select(*key_cols)
    survivors = base.join(touched, on=key_cols, how="left_anti")
    upserts = latest.filter(F.col(op_col) != "D").select(*base.columns)
    return survivors.unionByName(upserts)

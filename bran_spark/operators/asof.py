"""As-of (point-in-time) join — the temporal lookup the reference never
needed (batch research code, SURVEY.md §2.3 "theta/as-of: ABSENT") but a
production event pipeline does: for each left row, attach the most recent
right row with ``right_ts <= left_ts`` for the same key.

Spark-first strategy: **union + single window pass**, not a range join.
A naive range join (``l.ts >= r.ts``) explodes to |L|·|R| per key before
picking the max; the union form is one shuffle on the key, one sort, and a
running ``last(ignorenulls=True)`` — linear in |L| + |R| and identical in
cost shape at 100 TB (the window never holds more than the running frame).
Skewed keys fall under the same salting/AQE-skew story as any other
single-key window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Backward as-of join (most recent right row at or before each left ts).

    Every non-key, non-ts column of ``right`` is carried to the matched left
    row (NULL when no right row precedes it). Ties at equal timestamps match
    (right sorts before left at the same instant). Right rows should be
    unique per (key, ts) — pre-aggregate otherwise, or the carried values
    are an arbitrary member of the tie group.

    All right value columns are packed into ONE struct before the running
    ``last(ignorenulls=True)`` and unpacked after: the most recent right row
    is carried as a unit, so its legitimately-NULL fields are preserved
    (matching DuckDB ASOF JOIN) instead of each column independently
    carrying forward an older non-NULL value.
    """
    rcols = [c for c in right.columns if c not in (key, right_ts)]
    overlap = set(rcols) & set(left.columns)
    if overlap:
        raise ValueError(f"right value columns collide with left: {overlap}")
    internal = {"_ts", "_side", "_rvals", "_rk"}
    clash = internal & (set(left.columns) | set(right.columns))
    if clash:
        # withColumn would silently overwrite the caller's data
        raise ValueError(f"reserved internal column names in input: {clash}")

    l_tagged = left.withColumn("_ts", F.col(left_ts)).withColumn(
        "_side", F.lit(1)
    )
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in rcols]).alias("_rvals"),
    )
    both = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = both.withColumn(
        "_rlast", F.last("_rvals", ignorenulls=True).over(w)
    )
    return filled.where(F.col("_side") == 1).select(
        *[c for c in left.columns],
        *[F.col(f"_rlast.{c}").alias(c) for c in rcols],
    )


def merge_latest(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: str,
) -> DataFrame:
    """CDC latest-wins compaction (the MERGE INTO / upsert pattern): union
    base and update rows, keep exactly one row per key — the one with the
    greatest (order_col, tiebreak). One union (no shuffle) + one window
    shuffle keyed by the merge keys; Spark 4 plans WindowGroupLimit, so only
    the winning row per key survives the partial pass before the exchange.
    The deterministic tiebreak makes re-runs byte-identical — mandatory for
    a resumable snapshot sink."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), F.desc(tiebreak)
    )
    return (
        base.unionByName(updates)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_col: str,
) -> DataFrame:
    """Keyed diff between two table snapshots — the reconciliation /
    anti-entropy primitive (what changed between yesterday's snapshot and
    today's): one full-outer join on the keys, row status derived by
    null-pattern. Emits only added/removed/changed rows (the interesting
    ones; unchanged rows are filtered before any downstream shuffle).
    Returns keys + (status, old_value, new_value).

    Presence is tracked with literal flags attached before the join, not
    by NULL-ness of the compared values — a key present in both snapshots
    whose value is NULL on one side is 'changed', and a removed key whose
    old value was NULL is 'removed'."""
    o = old.select(
        *keys, F.col(compare_col).alias("old_value"), F.lit(1).alias("_in_old")
    )
    n = new.select(
        *[F.col(k).alias(f"_n_{k}") for k in keys],
        F.col(compare_col).alias("new_value"),
        F.lit(1).alias("_in_new"),
    )
    cond = None
    for k in keys:
        c = o[k].eqNullSafe(n[f"_n_{k}"])
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~F.col("old_value").eqNullSafe(F.col("new_value")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out_keys = [
        F.coalesce(o[k], F.col(f"_n_{k}")).alias(k) for k in keys
    ]
    return (
        j.select(*out_keys, status.alias("status"), "old_value", "new_value")
        .where(F.col("status") != "unchanged")
    )


def ewma_scores(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    half_life_s: float = 86400.0,
) -> DataFrame:
    """Exponentially-decayed running score per key: ewma_i =
    Σ_{j≤i} v_j · 2^{−(t_i−t_j)/half_life} — the recency-weighted
    activity feature (user engagement, entity trendiness) that a plain
    windowed sum cannot express because every arrival re-weights all
    history.

    The recurrence is NOT computed iteratively: the closed form
    ewma_i = 2^{−(t_i−t0)/h} · Σ_{j≤i} v_j·2^{(t_j−t0)/h} turns it into
    ONE per-key running sum — a single window shuffle, no self-join, no
    loop. t0 = per-key min timestamp rebases the exponent so the KEY'S
    OWN SPAN, not the epoch, sets the magnitude; spans beyond ~50
    half-lives overflow the 2^x term in doubles and need chunked
    rebasing (documented, not hidden). Ordering ties break on
    ``order_col`` so the running sum is engine-deterministic. Returns
    (order_col, key_col, ewma) rounded 6dp."""
    w_key = Window.partitionBy("k")
    w_run = (
        Window.partitionBy("k")
        .orderBy("t", "o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = float(half_life_s)
    base = events.select(
        F.col(order_col).alias("o"),
        F.col(key_col).alias("k"),
        # NTZ timestamps reject a direct double cast; route via LTZ. The
        # session-timezone offset this introduces cancels in t - t0 (only
        # relative time enters the decay), so the oracle's epoch() agrees.
        F.col(ts_col).cast("timestamp_ltz").cast("double").alias("t"),
        F.col(value_col).cast("double").alias("v"),
    ).withColumn("t0", F.min("t").over(w_key))
    run = base.withColumn(
        "S",
        F.sum(
            F.col("v") * F.pow(F.lit(2.0), (F.col("t") - F.col("t0")) / h)
        ).over(w_run),
    )
    return run.select(
        F.col("o").alias(order_col),
        F.col("k").alias(key_col),
        F.round(
            F.pow(F.lit(2.0), -(F.col("t") - F.col("t0")) / h) * F.col("S")
            + F.lit(1e-9),
            6,
        ).alias("ewma"),
    )


def coalesce_intervals(
    df: DataFrame,
    keys: list[str],
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """Merge overlapping-or-touching CLOSED validity intervals per key —
    the temporal-KG compaction step after claim fusion: a fact asserted
    by many extractions with ragged windows becomes one row per maximal
    continuous validity span, with the supporting claim count.

    Classic gaps-and-islands as two key-partitioned window passes: a
    running max of end over PRECEDING rows marks where a new island
    starts (start > max end seen so far), a running sum of those marks
    numbers the islands, then one aggregate per (keys, island). All
    windows partition by the fact key — never a global sort — so the
    shape at 10^12 claims is one shuffle on the key plus per-key linear
    scans; skewed keys fall under the standard salting/AQE story.
    Output: keys + (valid_from, valid_to, n_claims). Rows with a NULL
    endpoint or end < start are the caller's problem (pre-filter like
    sessions.bucketed_interval_join documents).

    EXACT-duplicate claims are pre-aggregated to one row with a count
    before the window pass: besides shrinking the window input, it
    makes the (start, end) ordering TOTAL within each key, so the
    island marker and the cumulative island sum can never disagree
    about tie order — two window passes over an ordering with ties are
    engine-nondeterministic (caught as a rare island misassignment in
    the q295 DuckDB twin; same construction here)."""
    pre = df.groupBy(*keys, start_col, end_col).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    w = Window.partitionBy(*keys).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = pre.withColumn(
        "_new_island",
        F.when(
            prev_max_end.isNull() | (F.col(start_col) > prev_max_end),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = marked.withColumn(
        "_island",
        F.sum("_new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(*keys, "_island")
        .agg(
            F.min(start_col).alias("valid_from"),
            F.max(end_col).alias("valid_to"),
            F.sum("_cnt").cast("long").alias("n_claims"),
        )
        .drop("_island")
    )


def scd2_history(
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change log — the
    persistent sibling of merge_latest (which keeps only the survivor):
    one row per VALUE EPISODE with (effective_from, effective_to,
    is_current). Consecutive log rows with an unchanged value collapse
    into their episode's first row (null-safe compare, so NULL→NULL is
    'unchanged' and NULL→x is a change); effective_to is the next
    episode's start (open-ended NULL on the current row), giving the
    standard point-in-time lookup contract
    ``effective_from <= ts < effective_to``.

    Two window passes over the same (keys, order) partitioning — Spark
    plans them as ONE shuffle + one sort, linear per key."""
    w = Window.partitionBy(*keys).orderBy(order_col, tiebreak)
    changed = changes.withColumn(
        "_prev", F.lag(value_col).over(w)
    ).withColumn(
        "_first", F.row_number().over(w) == 1
    )
    episodes = changed.where(
        F.col("_first") | ~F.col(value_col).eqNullSafe(F.col("_prev"))
    ).select(*keys, value_col, F.col(order_col).alias("effective_from"), tiebreak)
    w2 = Window.partitionBy(*keys).orderBy("effective_from", tiebreak)
    return episodes.select(
        *keys,
        value_col,
        "effective_from",
        F.lead("effective_from").over(w2).alias("effective_to"),
    ).withColumn("is_current", F.col("effective_to").isNull())


def golden_record(
    records: DataFrame,
    entity_col: str,
    fields: "list[str]",
    priority: "dict[str, int]",
    source_col: str = "source",
    ts_col: str = "ts",
    default_priority: int = 999,
) -> DataFrame:
    """Survivorship merge (the MDM 'golden record'): fuse every source's
    partial, conflicting view of an entity into ONE canonical row by a
    stated per-FIELD rule — trust order first (source priority), then
    freshness, then a deterministic source-name tiebreak; NULLs never
    win. This is merge_latest's recency rule upgraded with source trust,
    and the record-level counterpart of truth_discovery's claim voting.

    Each field independently takes min over
    struct(priority, −epoch, source, value) restricted to non-NULL
    values — min over structs is lexicographic, skips the NULL-struct
    rows (the guard), and is order-free, so the merge is one exact
    groupBy aggregate. A NULL timestamp is coalesced to +∞ in the
    −epoch key so an unknown-time record can never beat a dated one on
    freshness (Spark's struct ordering would otherwise sort the NULL
    field FIRST and hand the win to the undated record): a single shuffle on the entity key at any scale,
    no windows, no self-joins. Output: (entity, *fields, n_records,
    n_sources, last_seen), ordered by entity."""
    prio = F.lit(default_priority)
    for src, p in sorted(priority.items()):
        prio = F.when(F.col(source_col) == src, F.lit(p)).otherwise(prio)
    negts = F.coalesce(
        -F.unix_timestamp(F.col(ts_col)), F.lit(2**62).cast("long")
    )
    picks = [
        F.min(
            F.when(
                F.col(f).isNotNull(),
                F.struct(
                    prio.alias("p"),
                    negts.alias("nt"),
                    F.col(source_col).alias("s"),
                    F.col(f).alias("v"),
                ),
            )
        )["v"].alias(f)
        for f in fields
    ]
    return (
        records.groupBy(F.col(entity_col).alias("entity"))
        .agg(
            *picks,
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.countDistinct(source_col).cast("long").alias("n_sources"),
            F.max(ts_col).alias("last_seen"),
        )
        .orderBy("entity")
    )

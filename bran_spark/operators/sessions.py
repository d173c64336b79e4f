"""Gap-based sessionization over the events stream (SURVEY.md §2.9: the
reference has no temporal operators; this demonstrates the session-window
class the driver's ``events`` table exists for).

Uses Spark's native ``session_window`` (the same operator Structured
Streaming uses for stateful session aggregation, so the batch query here is
literally the streaming query under ``readStream``): one shuffle on the
user key, sessions merged JVM-side. Session semantics (verified against
Spark 4.1's session_window): successive gaps ≤ ``gap`` merge — an event
exactly ``gap`` after its predecessor is still the SAME session; only a
strictly larger gap starts a new one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import iterate, materialize


def _gap_seconds(gap: str) -> int:
    """'<n> seconds|minutes|hours' -> seconds (the subset session_window
    accepts here); keeping end_ts's correction derived from the SAME string
    avoids the desync footgun of a second independent parameter."""
    qty, unit = gap.strip().split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600}
    return int(qty) * mult[unit.lower()]


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-user sessions: (user_id, start_ts, end_ts, n_events, total_value).

    ``end_ts`` is the last event's timestamp (session_window.end minus the
    gap, since Spark extends every window ``gap`` past its last event) —
    the subtracted interval is DERIVED from ``gap``, never a second
    parameter that could silently disagree with it.
    """
    gap_seconds = _gap_seconds(gap)
    return (
        events.groupBy(
            F.col(user_col), F.session_window(F.col(ts_col), gap).alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            user_col,
            F.col("w.start").alias("start_ts"),
            (F.col("w.end") - F.expr(f"INTERVAL {gap_seconds} SECONDS")).alias(
                "end_ts"
            ),
            "n_events",
            F.round(F.col("total_value"), 6).alias("total_value"),
        )
    )


def bucketed_interval_join(
    intervals: DataFrame,
    hour_windows: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    window_col: str = "window_start",
) -> DataFrame:
    """Interval-overlap join between arbitrary [start, end] intervals and
    HOUR-ALIGNED [w, w+1h) windows — as an EQUI-join.

    The naive formulation (`a.start < w + 1h AND a.end >= w`) is a range
    join: Spark plans it as a broadcast nested-loop / cartesian — O(|A|·|B|)
    and a guaranteed non-starter at scale. Instead each interval explodes
    into the hour buckets it covers (sequence of date_trunc'd hours —
    bounded fan-out: one row per covered hour) and equi-joins on the
    bucket. For hour-aligned windows the bucket match IS the overlap
    predicate (proof in q80's docstring), so no residual verify filter is
    needed; for non-aligned windows add the overlap predicate post-join —
    same plan shape, tiny residual filter.

    Preconditions (enforced by the pre-filter below): rows with a NULL
    start/end or an inverted interval (end < start) are DROPPED before the
    explode — `sequence` would yield NULL (row silently vanishes) for the
    former and throw mid-job for the latter. Callers needing those rows
    must handle them upstream.
    """
    intervals = intervals.where(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(start_col) <= F.col(end_col))
    )
    hours = intervals.withColumn(
        "_h",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col(start_col)),
                F.date_trunc("hour", F.col(end_col)),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    return hours.join(
        hour_windows, hours["_h"] == hour_windows[window_col]
    ).drop("_h")


def burst_scores(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-stream burst detection over hourly buckets — the temporal
    anomaly alarm a feed-ingest pipeline runs per source/event type
    (a crawler gone hot, a spam flood, a replayed backfill):

      z(type, hour) = (count − mean_type) / stddev_type,
      burst ⇔ z ≥ z_threshold

    Hours in which a type logged ZERO events are absent from that
    type's grid (sparse-bucket convention): the moments describe the
    type's ACTIVE hours. Densify against a generated hour sequence
    upstream if silence must depress the mean.

    Mean/variance come from exact integer bucket counts via the
    two-moment identity (var = Σc²/n − (Σc/n)²) — the SAME fixed
    expression tree in every engine, instead of a library stddev whose
    accumulation order could differ. Two aggregates: (type, hour)
    counts, then per-type moments joined back (types are
    dimension-scale). Zero-variance streams yield NULL z (no burst by
    definition). Output: (event_type, bucket_start, n, z, burst)."""
    buckets = (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.window(ts_col, "1 hour").alias("w"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "event_type",
            F.unix_timestamp("w.start").alias("bucket_start"),
            "n",
        )
    )
    moments = buckets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.sum("n").cast("double").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("nh")
    var = F.col("s2") / F.col("nh") - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        buckets.join(F.broadcast(moments), "event_type")
        .select(
            "event_type",
            "bucket_start",
            "n",
            F.when(var > 0, F.round(z, 6)).alias("z"),
            F.coalesce(
                F.when(var > 0, F.round(z, 6) >= z_threshold), F.lit(False)
            ).alias("burst"),
        )
    )


def kaplan_meier(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    censor_window_h: int = 24,
) -> DataFrame:
    """Kaplan-Meier survival curve over per-user activity lifetimes —
    the retention/longevity estimator that handles the users who are
    STILL active (right-censoring) correctly, where a naive lifetime
    histogram silently treats them as churned:

      lifetime = hours between a user's first and last event; a user
      whose last event falls within ``censor_window_h`` of the corpus
      horizon is CENSORED (their lifetime is only known to be ≥ that);
      S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over observed-churn times tᵢ, with
      nᵢ = users whose lifetime ≥ tᵢ (at risk), dᵢ = observed churns.

    Exact integer risk/death counts from two dimension-keyed
    aggregates; the product is exp(Σ ln) over the PRECEDING terms ×
    the current factor, accumulated by a window ordered by lifetime —
    ascending-order summation, so both engines add in the same order.
    Only the final time point can have nᵢ = dᵢ (its factor multiplies
    directly, never entering a log). Output: one row per observed-churn
    lifetime (t_hours, n_at_risk, d_churned, survival), 6 dp."""
    ep = events.select(
        F.col(id_col).alias("uid"), F.unix_timestamp(ts_col).alias("ep")
    )
    horizon = ep.agg(
        (F.max("ep") - F.lit(censor_window_h * 3600)).alias("hz")
    )
    users = ep.groupBy("uid").agg(
        F.min("ep").alias("first_ep"), F.max("ep").alias("last_ep")
    )
    durs = users.crossJoin(F.broadcast(horizon)).select(
        F.expr("(last_ep - first_ep) DIV 3600").alias("dur"),
        (F.col("last_ep") <= F.col("hz")).alias("observed"),
    )
    per_t = durs.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c_all"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    n_tot = durs.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = (
        per_t.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "n_at_risk",
            F.col("n_tot") - F.coalesce(F.sum("c_all").over(w_prev), F.lit(0)),
        )
        .withColumn(
            "ln_term",
            F.when(
                F.col("n_at_risk") > F.col("d"),
                F.log(
                    (F.col("n_at_risk") - F.col("d"))
                    / F.col("n_at_risk").cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    death_w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    return (
        at_risk.withColumn(
            "cum_prev", F.coalesce(F.sum("ln_term").over(death_w), F.lit(0.0))
        )
        .where(F.col("d") > 0)
        .select(
            F.col("dur").alias("t_hours"),
            "n_at_risk",
            F.col("d").alias("d_churned"),
            F.round(
                F.exp("cum_prev")
                * (F.col("n_at_risk") - F.col("d"))
                / F.col("n_at_risk").cast("double"),
                6,
            ).alias("survival"),
        )
    )


def log_rank(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    censor_window_h: int = 24,
    group_expr=None,
) -> DataFrame:
    """Two-group log-rank test (Mantel-Cox) — the hypothesis test that
    belongs next to kaplan_meier's curve: do the two cohorts' survival
    distributions differ, accounting for right-censoring? Per pooled
    observed-churn time t: n_g(t) users of group g still at risk,
    d_g(t) observed churns; under H₀ group 1's expected deaths are
    E₁(t) = d·n₁/n and the hypergeometric variance is
    V(t) = d·(n₁/n)·(n₂/n)·(n−d)/(n−1). χ² = (Σ(O₁−E₁))²/ΣV.

    ``group_expr`` defaults to the shared md5 arm coin
    (sampling.md5_arm) so the test composes with the experiment stack;
    pass any 0/1 Column to compare real cohorts. Lifetimes and
    censoring follow kaplan_meier exactly (hours between first and
    last event; censored when the last event is within
    ``censor_window_h`` of the corpus horizon).

    Scale shape: one user-keyed aggregate over the corpus, then
    everything lives on the DISTINCT-LIFETIME dimension (bounded by the
    observation span in hours, not by users): at-risk counts via two
    cumulative windows, per-time E₁/V rounded to 10⁻⁶ micro-unit
    BIGINTs (the Fellegi-Sunter idiom) so the reduction over times is
    an associative integer sum — bit-identical across engines and
    partitionings. Output: 1 row (n_times, o1, e1, var_sum, chi2,
    z_signed), 6 dp; V = 0 (all churns in one sweep or no churn at
    all) yields NULL chi2/z, never a divide-by-zero abort."""
    from bran_spark.operators.sampling import md5_arm

    ep = events.select(
        F.col(id_col).alias("uid"), F.unix_timestamp(ts_col).alias("ep")
    )
    horizon = ep.agg(
        (F.max("ep") - F.lit(censor_window_h * 3600)).alias("hz")
    )
    users = ep.groupBy("uid").agg(
        F.min("ep").alias("first_ep"), F.max("ep").alias("last_ep")
    )
    grp = group_expr if group_expr is not None else md5_arm("uid")
    durs = users.crossJoin(F.broadcast(horizon)).select(
        F.expr("(last_ep - first_ep) DIV 3600").alias("dur"),
        (F.col("last_ep") <= F.col("hz")).alias("observed"),
        grp.cast("int").alias("grp"),
    )
    per_t = durs.groupBy("dur").agg(
        *[
            F.sum(
                F.when((F.col("grp") == g) & cond, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"{nme}{g + 1}")
            for g in (0, 1)
            for nme, cond in (("c", F.lit(True)), ("d", F.col("observed")))
        ]
    )
    tot = durs.groupBy().agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("t2"),
    )
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = per_t.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d1",
        "d2",
        (F.col("t1") - F.coalesce(F.sum("c1").over(w_prev), F.lit(0))).alias(
            "n1"
        ),
        (F.col("t2") - F.coalesce(F.sum("c2").over(w_prev), F.lit(0))).alias(
            "n2"
        ),
    )
    d = (F.col("d1") + F.col("d2")).cast("double")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    n = n1 + n2
    # micro-unit per-time terms: exact-integer inputs → one double
    # expression → round(·1e6) BIGINT, so the time-dimension sum is
    # associative (identical operand trees on both engines)
    terms = at_risk.where(F.col("d1") + F.col("d2") > 0).select(
        F.col("d1").alias("o1"),
        F.round(d * n1 / n * 1e6, 0).cast("long").alias("e1_u"),
        F.when(
            n > 1,
            F.round(
                d * (n1 / n) * (n2 / n) * (n - d) / (n - 1) * 1e6, 0
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("v_u"),
    )
    g = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        F.sum("o1").cast("long").alias("o1"),
        F.sum("e1_u").cast("long").alias("e1_u"),
        F.sum("v_u").cast("long").alias("v_u"),
    )
    e1 = F.col("e1_u") / 1e6
    v = F.col("v_u") / 1e6
    diff = F.col("o1") - e1
    ok = F.col("v_u") > 0
    return g.select(
        "n_times",
        "o1",
        F.round(e1, 6).alias("e1"),
        F.round(v, 6).alias("var_sum"),
        F.round(F.when(ok, diff * diff / v), 6).alias("chi2"),
        F.round(F.when(ok, diff / F.sqrt(v)), 6).alias("z_signed"),
    )


def funnel_stages(
    events: DataFrame,
    stages: list[str],
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel conversion — the product-analytics staple: how many
    users performed stage 1, then stage 2 STRICTLY AFTER their first
    stage-1 event, then stage 3 after that, … (order matters: a purchase
    before signup does not count as conversion).

    Per stage k the user's entry time is their EARLIEST stage-k event
    after their stage-(k−1) entry — the canonical first-touch funnel.
    One min-aggregate per stage keyed by user (map-side combined) and
    one user-keyed join per stage; stage count is fixed and tiny, users
    shard the shuffles. Output: (stage_idx, stage, n_users,
    conversion), conversion = n_users / stage-1 users, 6 dp."""
    ev = events.select(
        F.col(id_col).alias("uid"),
        F.col(type_col).alias("et"),
        F.unix_timestamp(ts_col).alias("ep"),
    )
    entered = None
    counts = []
    for i, stage in enumerate(stages):
        se = ev.where(F.col("et") == stage).select("uid", "ep")
        if entered is None:
            cur = se.groupBy("uid").agg(F.min("ep").alias("entry"))
        else:
            cur = (
                se.join(entered, "uid")
                .where(F.col("ep") > F.col("entry"))
                .groupBy("uid")
                .agg(F.min("ep").alias("entry"))
            )
        entered = cur
        counts.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.col("n").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    base = counts[0].select(F.col("n_users").alias("n_base"))
    return out.crossJoin(F.broadcast(base)).select(
        "stage_idx",
        "stage",
        "n_users",
        F.when(
            F.col("n_base") > 0,
            F.round(F.col("n_users") / F.col("n_base").cast("double"), 6),
        ).alias("conversion"),
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the journey-mining table behind funnel_stages' fixed
    path: which event follows which, and how often. Feeds
    stationary_distribution (long-run state mix) and anomaly checks
    (a transition whose prob collapses release-over-release).

    Per-user ordering uses (ts, id) — the unique id breaks timestamp
    ties so reruns and engines see the SAME successor at equal
    timestamps. One user-partitioned window (the corpus-scale shuffle;
    per-user state never crosses partitions) feeds a type-pair count;
    the per-source totals are an n_types-sized dimension broadcast
    back. Output: (from_type, to_type, n, prob), prob = n/Σ_from 6 dp,
    ordered by (from_type, to_type)."""
    w = Window.partitionBy("_u").orderBy("_ts", "_id")
    seq = events.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("to_type"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
    ).withColumn("from_type", F.lag("to_type").over(w))
    pairs = (
        seq.where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("n_from"), 6).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


def stationary_distribution(
    trans: DataFrame, iters: int = 8, scale: int = 1_000_000
) -> DataFrame:
    """Long-run state mix of the transition_matrix chain via synchronous
    power iteration in EXACT INTEGER arithmetic (the pagerank_fixed_point
    idiom): start uniform at ``scale`` per state, each round

      p'(to) = Σ_from  (p(from) · n(from→to)) DIV n_from

    Integer DIV makes every round one fixed expression tree — bit-equal
    across engines and partitionings; the ≤ n_types floor loss per state
    per round is reported via the final normalization (share = p/Σp).
    States with no outgoing transitions leak their mass (substochastic
    row) — this is an AUDIT of observed dynamics, not ergodic theory;
    add a self-loop upstream if retention semantics are wanted. The
    state space is the event-type dimension (tiny), so each round is a
    dimension-sized join — no corpus-scale shuffle exists after the
    transition counts are built. Overflow: p·n ≤ scale·corpus_rows must
    stay under 2⁶³ (10⁶·10¹² = 10¹⁸ < 9.2·10¹⁸ holds at the north-rule
    scale). Output: (event_type, p_fp, share 6 dp)."""
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    # edges/states are re-joined EVERY round — materialize them once so
    # the corpus-scale subtree behind `trans` is not re-executed per
    # iteration (the pagerank_fixed_point idiom; both tables are
    # n_types-dimension-sized, so materializing them is trivial).
    edges = materialize(
        trans.join(totals, "from_type").select(
            "from_type", "to_type", "n", "n_from"
        )
    )
    states = materialize(
        edges.select(F.col("from_type").alias("event_type"))
        .unionByName(edges.select(F.col("to_type").alias("event_type")))
        .distinct()
    )

    def step(p: DataFrame, _: int) -> DataFrame:
        contrib = edges.join(
            p.select(F.col("event_type").alias("from_type"), "p"),
            "from_type",
        ).select(
            F.col("to_type").alias("event_type"),
            F.expr("(p * n) DIV n_from").alias("c"),
        )
        nxt = contrib.groupBy("event_type").agg(
            F.sum("c").cast("long").alias("p")
        )
        return states.join(nxt, "event_type", "left").select(
            "event_type",
            F.coalesce("p", F.lit(0).cast("long")).alias("p"),
        )

    p = iterate(
        states.withColumn("p", F.lit(int(scale)).cast("long")), step, iters
    )
    tot = p.agg(F.sum("p").cast("double").alias("ptot"))
    return (
        p.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("p").alias("p_fp"),
            # a fully substochastic chain (every state eventually leaks,
            # e.g. a pure funnel A→B with no B outgoing) drains ALL mass
            # within iters rounds: ptot = 0 ⇒ NULL shares (the honest
            # answer; ANSI would otherwise abort on the division)
            F.round(
                F.when(F.col("ptot") != 0.0, F.col("p") / F.col("ptot")), 6
            ).alias("share"),
        )
        .orderBy("event_type")
    )


def interarrival_burstiness(
    events: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-type inter-arrival burstiness (Goh & Barabási 2008):
    B = (σ − μ)/(σ + μ) over the gaps between a user's consecutive
    events of that type — the dimensionless signature separating
    Poisson-like traffic (B ≈ 0), regular heartbeats (B → −1) and bursty
    human/incident behavior (B → +1). burst_scores flags WHEN a type
    spikes; this says HOW a type's arrivals are distributed overall.

    Gaps are exact integer seconds (unix_timestamp lag deltas within a
    (user, type) window), so the two-moment identity runs over
    associative integer sums — engine/partitioning-proof; the one
    corpus-scale shuffle is the window's (user, type) partition. Types
    with < 2 gaps report NULL B (σ and μ need support). Output:
    (event_type, n_gaps, mean_gap, sd_gap, burstiness), 6 dp, ordered."""
    w = Window.partitionBy("_u", "_t").orderBy("_ep", "_id")
    seq = events.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_t"),
        F.unix_timestamp(ts_col).alias("_ep"),
        F.col(id_col).alias("_id"),
    ).withColumn("gap", F.col("_ep") - F.lag("_ep").over(w))
    g = (
        seq.where(F.col("gap").isNotNull())
        .groupBy(F.col("_t").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("s1"),
            F.sum(F.col("gap") * F.col("gap")).cast("long").alias("s2"),
        )
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("s1") / n
    var = F.col("s2") / n - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return g.select(
        "event_type",
        "n_gaps",
        F.round(mean, 6).alias("mean_gap"),
        F.round(sd, 6).alias("sd_gap"),
        F.round(
            F.when((F.col("n_gaps") > 1) & (sd + mean != 0.0),
                   (sd - mean) / (sd + mean)),
            6,
        ).alias("burstiness"),
    ).orderBy("event_type")


def journey_entropy(trans: DataFrame) -> DataFrame:
    """Per-state outgoing entropy of the transition_matrix chain — the
    journey-PREDICTABILITY map: H(from) ≈ 0 means the next event is
    scripted (a funnel behaving like a funnel), H near ln(k) means
    anything can happen (or tracking is broken). The row-level
    complement of stationary_distribution's long-run mix.

      H = ln(n_from) − Σ_to n·ln(n) / n_from      (nats, 6 dp)
      predictability = 1 − H / ln(n_out)          (NULL when n_out = 1)

    One aggregate over the (from, to) count table (dimension-sized
    after transition_matrix's corpus pass); exact integer counts, one
    transcendental per distinct count, greatest(·,0) clamps the −0.0
    residue. Output: (from_type, n_from, n_out, entropy,
    predictability), ordered."""
    g = trans.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_from"),
        F.count(F.lit(1)).cast("long").alias("n_out"),
        F.sum(
            F.col("n").cast("double") * F.log(F.col("n").cast("double"))
        ).alias("_clnc"),
    )
    nf = F.col("n_from").cast("double")
    h = F.greatest(F.log(nf) - F.col("_clnc") / nf, F.lit(0.0))
    return g.select(
        "from_type",
        "n_from",
        "n_out",
        F.round(h, 6).alias("entropy"),
        F.round(
            F.when(
                F.col("n_out") > 1,
                1.0 - h / F.log(F.col("n_out").cast("double")),
            ),
            6,
        ).alias("predictability"),
    ).orderBy("from_type")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention matrix — the classic growth table next to
    kaplan_meier's survival curve: users grouped by first-activity week
    (the cohort), each later week's share still active. KM answers "how
    long do users live"; this answers "did the March cohort behave
    differently" — the per-cohort view that catches regressions a
    pooled curve averages away.

    Weeks are date_trunc('week') (ISO Monday in both engines); all
    cells are exact distinct counts: one (user → first week) aggregate,
    one distinct (user, week) projection, a user-keyed join, then the
    (cohort, offset) rollup with cohort sizes broadcast back. Output:
    (cohort_week, week_offset, n_active, n_cohort, retention 6 dp),
    ordered; offset 0 is 1.0 by construction."""
    wk = F.date_trunc("week", F.col(ts_col))
    first = events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(wk).alias("cw")
    )
    act = events.select(
        F.col(user_col).alias("u"), wk.alias("w")
    ).distinct()
    joined = act.join(first, "u").select(
        "cw",
        (F.datediff(F.col("w"), F.col("cw")) / 7).cast("int").alias("off"),
        "u",
    )
    cells = joined.groupBy("cw", "off").agg(
        F.countDistinct("u").cast("long").alias("n_active")
    )
    sizes = first.groupBy("cw").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    return (
        cells.join(F.broadcast(sizes), "cw")
        .select(
            F.col("cw").cast("date").alias("cohort_week"),
            F.col("off").alias("week_offset"),
            "n_active",
            "n_cohort",
            F.round(
                F.col("n_active") / F.col("n_cohort").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )

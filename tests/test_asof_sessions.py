"""As-of join, sessionization, IVF ANN, md5 SimHash — unit semantics on
constructed frames (the DuckDB oracle covers the testdata-scale replay)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from bran_spark.operators.asof import asof_join
from bran_spark.operators.dedup import simhash_md5
from bran_spark.operators.sessions import sessionize
from bran_spark.operators.similarity import cosine_topk, ivf_topk, kmeans_cells


def _ts(s: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [("u1", _ts(10), "l1"), ("u1", _ts(20), "l2"), ("u2", _ts(5), "l3")],
        "k string, ts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [("u1", _ts(10), "r@10"), ("u1", _ts(15), "r@15"), ("u3", _ts(1), "rx")],
        "k string, rts timestamp, rval string",
    )
    got = {
        r.lval: r.rval
        for r in asof_join(left, right, key="k", left_ts="ts", right_ts="rts").collect()
    }
    # equal-ts matches (l1@10 <- r@10); most recent prior wins (l2@20 <- r@15);
    # no prior right row -> NULL (u2); unmatched right keys never surface
    assert got == {"l1": "r@10", "l2": "r@15", "l3": None}


def test_asof_join_rejects_column_collisions(spark):
    df = spark.createDataFrame([("a", _ts(0), 1.0)], "k string, ts timestamp, v double")
    try:
        asof_join(df, df, key="k", left_ts="ts", right_ts="ts")
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_sessionize_gap_boundary(spark):
    # events at 0s, 1799s, 3599s: gaps 1799 and exactly 1800 — both merge
    # (session_window merges gaps <= gap); 5400.5s is 1801.5 after -> NEW
    ev = spark.createDataFrame(
        [
            (1, _ts(0.0), 100, "click", 1.0, "{}"),
            (2, _ts(1799.0), 100, "click", 2.0, "{}"),
            (3, _ts(3599.0), 100, "click", 4.0, "{}"),
            (4, _ts(5400.5), 100, "click", 8.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    rows = sorted(sessionize(ev).collect(), key=lambda r: r.start_ts)
    assert [r.n_events for r in rows] == [3, 1]
    assert rows[0].start_ts == _ts(0.0) and rows[0].end_ts == _ts(3599.0)
    assert rows[1].start_ts == _ts(5400.5)
    assert abs(rows[0].total_value - 7.0) < 1e-9


def test_ivf_cells_and_recall(spark, testdata_dir):
    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    cells = kmeans_cells(emb, k=8, iters=0)  # the 8 lowest-id seeds
    assert cells.count() == emb.count()  # every vector assigned exactly once
    n_cells = cells.select("cell").distinct().count()
    assert 1 < n_cells <= 8
    # centroids land in their own cell (distance 0)
    cents = {r.vec_id for r in emb.orderBy("vec_id").limit(8).collect()}
    own = cells.where(F.col("vec_id").isin(*cents)).collect()
    assert all(r.cell == r.vec_id for r in own)
    # IVF results are a subset of the full ranking's candidate pool and
    # overlap the exact top-k (same-cell vectors are the nearest in practice)
    exact = {r.vec_id for r in cosine_topk(emb, query_id=0, k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(emb, query_id=0, k=10).collect()}
    assert len(approx) > 0
    assert len(exact & approx) >= 1


def test_simhash_md5_locality(spark):
    docs = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog near the river bank"),
            ("b", "the quick brown fox jumps over the lazy dog near the river bend"),
            ("c", "completely unrelated text about spark shuffles and parquet row groups"),
            ("d", "the quick brown fox jumps over the lazy dog near the river bank"),
        ],
        "doc_id string, text string",
    )
    sig = {r.id: r.simhash for r in simhash_md5(docs, "doc_id", "text").collect()}
    ham = lambda x, y: bin(x ^ y).count("1")  # noqa: E731
    assert sig["a"] == sig["d"]  # identical text -> identical signature
    assert ham(sig["a"], sig["b"]) <= ham(sig["a"], sig["c"])
    assert all(0 <= v < 2**16 for v in sig.values())


def test_asof_join_preserves_null_fields_of_latest_right_row(spark):
    """True as-of semantics: the MOST RECENT matching right row is carried as
    a unit — a legitimately-NULL value column of that row must come through
    as NULL, not be back-filled by an older non-NULL value (DuckDB ASOF JOIN
    behavior; the per-column last(ignorenulls) formulation got this wrong)."""
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("u", t(10))], "user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", t(1), 5.0, "a"), ("u", t(5), None, "b")],
        "user_id string, rts timestamp, v double, tag string",
    )
    row = asof_join(left, right, key="user_id", left_ts="ts", right_ts="rts").head()
    assert row.tag == "b"      # latest right row matched
    assert row.v is None       # its NULL field preserved, not back-filled 5.0


def test_kmeans_cells_recover_planted_clusters(spark):
    """Lloyd k-means (deterministic lowest-id init): two planted blobs with
    seed vectors 0/1 one per blob must separate cleanly and converge to the
    same assignment on a rerun (determinism across partitionings)."""
    import numpy as np

    from bran_spark.operators.similarity import kmeans_cells

    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        blob = i % 2                      # ids alternate blobs, seeds 0 and 1
        center = np.full(16, 10.0 if blob else -10.0)
        rows.append((i, (center + rng.normal(0, 0.5, 16)).tolist(), blob))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r.vec_id: r.cell for r in kmeans_cells(emb, k=2, iters=3).collect()}
    cells_a = {out[i] for i in range(0, 60, 2)}
    cells_b = {out[i] for i in range(1, 60, 2)}
    assert cells_a == {1} and cells_b == {0} or cells_a == {0} and cells_b == {1}
    out2 = {r.vec_id: r.cell for r in kmeans_cells(emb, k=2, iters=3).collect()}
    assert out == out2


def test_merge_latest_upsert_semantics(spark):
    from bran_spark.operators.asof import merge_latest

    base = spark.createDataFrame(
        [(1, "k1", 10, 100.0), (2, "k2", 10, 200.0)],
        "event_id long, k string, ts long, value double",
    )
    updates = spark.createDataFrame(
        [(3, "k1", 20, 111.0),   # newer → wins
         (4, "k3", 5, 300.0)],   # new key → inserted
        "event_id long, k string, ts long, value double",
    )
    got = {
        r["k"]: (r["event_id"], r["value"])
        for r in merge_latest(base, updates, ["k"], "ts", "event_id").collect()
    }
    assert got == {"k1": (3, 111.0), "k2": (2, 200.0), "k3": (4, 300.0)}


def test_snapshot_diff_null_values_use_presence_not_value_nulls(spark):
    """Status must derive from key PRESENCE (literal flags attached before
    the full-outer join), not from NULL-ness of the compared values:
    old=NULL,new=X for a key in both snapshots is 'changed' (not 'added');
    a removed key whose old value was NULL is 'removed' (not 'added')."""
    from bran_spark.operators.asof import snapshot_diff

    old = spark.createDataFrame(
        [("both_null_to_x", None), ("removed_null", None),
         ("unchanged", 1.0), ("x_to_null", 7.0)],
        "k string, value double",
    )
    new = spark.createDataFrame(
        [("both_null_to_x", 3.0), ("unchanged", 1.0),
         ("x_to_null", None), ("added_null", None)],
        "k string, value double",
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"], "value").collect()}
    assert got == {
        "both_null_to_x": "changed",
        "removed_null": "removed",
        "x_to_null": "changed",
        "added_null": "added",
    }  # 'unchanged' filtered out


def test_bucketed_interval_join_prefilters_null_and_inverted(spark):
    """NULL endpoints and inverted intervals are dropped by the documented
    pre-filter instead of silently vanishing (NULL sequence) or throwing
    mid-job (negative-step sequence)."""
    from bran_spark.operators.sessions import bucketed_interval_join

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    iv = spark.createDataFrame(
        [("ok", t(1), t(2)), ("nullend", t(1), None),
         ("nullstart", None, t(2)), ("inverted", t(3), t(1))],
        "name string, start_ts timestamp, end_ts timestamp",
    )
    wins = spark.createDataFrame(
        [(t(1),), (t(2),), (t(3),)], "window_start timestamp"
    )
    rows = bucketed_interval_join(iv, wins).collect()
    assert {r.name for r in rows} == {"ok"}
    assert len(rows) == 2  # hours 01 and 02 both matched


def test_negative_samples_empty_pool_raises(spark):
    from bran_spark.operators.sampling import negative_samples

    pos = spark.createDataFrame([("a", "b")], "subj string, obj string")
    empty = spark.createDataFrame([], "ent string")
    try:
        negative_samples(pos, empty, k=2)
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_merge_latest_tiebreak_deterministic(spark):
    from bran_spark.operators.asof import merge_latest

    base = spark.createDataFrame(
        [(1, "k", 10, 1.0), (2, "k", 10, 2.0)],
        "event_id long, k string, ts long, value double",
    )
    empty = base.where(F.lit(False))
    r = merge_latest(base, empty, ["k"], "ts", "event_id").collect()
    assert len(r) == 1 and r[0]["event_id"] == 2  # equal ts → max event_id


def test_coalesce_intervals_islands_and_touching(spark):
    from bran_spark.operators.asof import coalesce_intervals

    rows = [
        # key A: [1,5] [4,8] overlap; [8,9] touches (closed intervals);
        # [11,12] is a gap -> second island
        ("A", 1, 5), ("A", 4, 8), ("A", 8, 9), ("A", 11, 12),
        # key B: single claim passes through
        ("B", 3, 3),
    ]
    df = spark.createDataFrame(rows, "k string, valid_from int, valid_to int")
    got = {
        (r.k, r.valid_from, r.valid_to): r.n_claims
        for r in coalesce_intervals(df, keys=["k"]).collect()
    }
    assert got == {("A", 1, 9): 3, ("A", 11, 12): 1, ("B", 3, 3): 1}


def test_coalesce_intervals_contained_interval(spark):
    from bran_spark.operators.asof import coalesce_intervals

    # [1,10] contains [2,3]; [4,5] must still merge via the RUNNING max
    # of end (a lag(end) formulation would wrongly split at [4,5])
    rows = [("A", 1, 10), ("A", 2, 3), ("A", 4, 5), ("A", 12, 13)]
    df = spark.createDataFrame(rows, "k string, valid_from int, valid_to int")
    got = sorted(
        (r.valid_from, r.valid_to, r.n_claims)
        for r in coalesce_intervals(df, keys=["k"]).collect()
    )
    assert got == [(1, 10, 3), (12, 13, 1)]


def test_scd2_history_episodes(spark):
    from bran_spark.operators.asof import scd2_history

    rows = [
        # user 1: tier 1,1,2,2,1 -> episodes (1@t1, 2@t3, 1@t5)
        (1, 1, 1, 10), (1, 1, 2, 11), (1, 2, 3, 12),
        (1, 2, 4, 13), (1, 1, 5, 14),
        # user 2: NULL,NULL,3 -> NULL collapses null-safely, then 3
        (2, None, 1, 20), (2, None, 2, 21), (2, 3, 3, 22),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, tier int, ts int, event_id int"
    )
    out = scd2_history(
        df, keys=["user_id"], order_col="ts", value_col="tier",
        tiebreak="event_id",
    ).collect()
    got = {
        (r.user_id, r.effective_from): (r.tier, r.effective_to, r.is_current)
        for r in out
    }
    assert got == {
        (1, 1): (1, 3, False),
        (1, 3): (2, 5, False),
        (1, 5): (1, None, True),
        (2, 1): (None, 3, False),
        (2, 3): (3, None, True),
    }
    # exactly one current row per key
    assert sum(1 for v in got.values() if v[2]) == 2


def test_kaplan_meier_closed_form_with_censoring(spark):
    import datetime as dt

    from bran_spark.operators.sessions import kaplan_meier

    base = dt.datetime(2024, 1, 1)
    rows = []
    # u1: lifetime 1h, churned; u2: lifetime 2h, churned;
    # u3: lifetime 2h but last event at horizon -> censored
    # horizon anchor u4 defines corpus max ts (lifetime 0, censored)
    rows += [("u1", base), ("u1", base + dt.timedelta(hours=1))]
    rows += [("u2", base), ("u2", base + dt.timedelta(hours=2))]
    end = base + dt.timedelta(days=10)
    rows += [("u3", end - dt.timedelta(hours=2)), ("u3", end)]
    rows += [("u4", end)]
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {r.t_hours: r for r in kaplan_meier(ev, censor_window_h=24).collect()}
    # observed churn times: 1h (u1), 2h (u2); u3/u4 censored (within 24h of end)
    assert set(out) == {1, 2}
    # at t=1: at risk = u1,u2,u3 (dur>=1) -> 3... u4 dur=0 dropped from risk set
    r1 = out[1]
    assert r1.n_at_risk == 3 and r1.d_churned == 1
    assert abs(r1.survival - round(2 / 3, 6)) < 1e-9
    # at t=2: at risk = u2,u3 -> 2; one churn -> S = (2/3)*(1/2) = 1/3
    r2 = out[2]
    assert r2.n_at_risk == 2 and r2.d_churned == 1
    assert abs(r2.survival - round((2 / 3) * 0.5, 6)) < 1e-6


def test_funnel_requires_strict_order(spark):
    import datetime as dt

    from bran_spark.operators.sessions import funnel_stages

    t0 = dt.datetime(2024, 1, 1)

    def e(u, et, h):
        return (u, et, t0 + dt.timedelta(hours=h))

    ev = spark.createDataFrame(
        [
            # u1 completes the funnel in order
            e("u1", "signup", 0), e("u1", "view", 1), e("u1", "purchase", 2),
            # u2 views BEFORE signup -> stalls at stage 1
            e("u2", "view", 0), e("u2", "signup", 1),
            # u3 signup+view but purchase precedes the view -> stage 2 only
            e("u3", "purchase", 0), e("u3", "signup", 1), e("u3", "view", 2),
            # u4 never signs up
            e("u4", "view", 0), e("u4", "purchase", 1),
        ],
        "user_id string, event_type string, ts timestamp",
    )
    out = {r.stage: r for r in funnel_stages(ev, ["signup", "view", "purchase"]).collect()}
    assert out["signup"].n_users == 3       # u1, u2, u3
    assert out["view"].n_users == 2         # u1, u3 (u2's view was pre-signup)
    assert out["purchase"].n_users == 1     # u1 only
    assert out["signup"].conversion == 1.0
    assert abs(out["purchase"].conversion - round(1 / 3, 6)) < 1e-9


def test_incremental_dedup_scopes(spark):
    from bran_spark.operators.dedup import incremental_dedup_candidates

    txt = "one two three four five six seven eight"
    existing = spark.createDataFrame(
        [(2, txt), (4, "totally different corpus text here")],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [(1, txt), (3, txt), (5, "unique new content nothing matches")],
        "doc_id int, text string",
    )
    out = {
        (r.new_id, r.dup_of, r.scope)
        for r in incremental_dedup_candidates(
            new, existing, "doc_id", "text", n=3, bands=4
        ).collect()
    }
    assert (1, 2, "existing") in out and (3, 2, "existing") in out
    assert (3, 1, "batch") in out
    assert not any(r[0] == 5 for r in out)


def test_interarrival_burstiness_regular_vs_bursty(spark):
    import pyspark.sql.functions as F

    from bran_spark.operators.sessions import interarrival_burstiness

    rows = []
    # 'tick': perfectly regular 60s gaps -> sd = 0 -> B = -1
    for i in range(10):
        rows.append((i, 1, f"2024-01-01 00:{i:02d}:00", "tick"))
    # 'burst': gaps 1,1,1,597s (a burst then silence) -> B > 0
    ts = [0, 1, 2, 3, 600]
    for j, t in enumerate(ts):
        rows.append((100 + j, 2, f"2024-01-01 01:00:{t // 60:02d}", "burst"))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.event_type: r for r in interarrival_burstiness(ev).collect()}
    assert out["tick"].sd_gap == 0.0 and out["tick"].burstiness == -1.0
    assert out["burst"].burstiness > 0.0
    # the single-gap degenerate case reports NULL burstiness
    one = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", "solo"), (2, 1, "2024-01-01 00:01:00", "solo")],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert interarrival_burstiness(one).head().burstiness is None


def test_golden_record_field_level_survivorship(spark):
    import pyspark.sql.functions as F

    from bran_spark.operators.asof import golden_record

    feed = spark.createDataFrame(
        [
            # entity 1: crm has name but NULL phone; web has both
            ("e1", "crm", "2024-01-10 00:00:00", "Ann", None),
            ("e1", "web", "2024-01-20 00:00:00", "ann w", "555-1"),
            # entity 2: two crm rows -> freshness breaks the tie
            ("e2", "crm", "2024-01-10 00:00:00", "Bob-old", "111"),
            ("e2", "crm", "2024-01-15 00:00:00", "Bob-new", None),
            # entity 3: only a low-trust source
            ("e3", "import", "2024-01-01 00:00:00", "Cyd", "222"),
        ],
        "e string, source string, ts string, name string, phone string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r.entity: r
        for r in golden_record(
            feed, "e", ["name", "phone"],
            {"crm": 1, "web": 2, "import": 3},
        ).collect()
    }
    # per-FIELD independence: name from crm, phone falls through to web
    assert out["e1"].name == "Ann" and out["e1"].phone == "555-1"
    # same priority -> fresher row wins; NULL never wins
    assert out["e2"].name == "Bob-new" and out["e2"].phone == "111"
    assert out["e3"].name == "Cyd" and out["e3"].n_sources == 1
    assert out["e1"].n_records == 2


def test_golden_record_null_ts_never_wins_freshness(spark):
    import pyspark.sql.functions as F

    from bran_spark.operators.asof import golden_record

    feed = spark.createDataFrame(
        [
            ("e1", "crm", None, "undated"),
            ("e1", "crm", "2024-01-15 00:00:00", "dated"),
        ],
        "e string, source string, ts string, name string",
    ).withColumn("ts", F.to_timestamp("ts"))
    row = golden_record(feed, "e", ["name"], {"crm": 1}).head()
    assert row.name == "dated"

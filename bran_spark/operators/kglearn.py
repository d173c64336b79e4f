"""KG representation-learning data operators — the pipeline stages a
warehouse-scale KG runs AROUND a knowledge-graph-embedding model: the
filtered link-prediction ranking protocol (Bordes et al. 2013, TransE;
the hits@k / MRR / mean-rank eval every KGE paper reports) and the
linear GNN feature pre-propagation (SGC, Wu et al. 2019 / LightGCN) that
turns message passing into a plain relational pre-compute.

The reference (bran, NAACL 2018) extracts triples but never ranks or
propagates over the resulting graph; BASELINE.json's north_rule mandates
the KG-construction pipeline around the store, and ranking-eval +
feature pre-propagation are the two graph-side jobs a KGE training loop
needs from the data engine (the model itself stays out of scope, per
SURVEY.md §3 E2 — so the embeddings here are deterministic md5-derived
INTEGER vectors: the operator under test is the ranking/propagation
dataflow, not the learned geometry, and integer components keep every
score an exact BIGINT sum — bit-stable across engines).

Scale shapes:
- transe_rank_eval: candidate pools are type-confined and must be
  dimension-scale or sampled (``cand_sample_mod``) — the pool is
  broadcast, so the test×candidate expansion is a map-side nested loop
  with NO low-cardinality-key shuffle (a shuffled join on the 6-value
  type key would funnel every P-candidate through one reducer at
  10^12 triples). The true-triple filter (the "filtered setting") is a
  corpus-scale left join on (subj, pred, cand) — a well-keyed shuffle.
  Test triples are a deterministic md5 sample: ranking eval is
  inherently |test|·|pool|; the sample bound is the knob, not hope.
- feature_propagation: 2-hop = ONE self-join of the edge table on the
  middle node plus one aggregate; hub middle-nodes (in·out fanout above
  ``hub_cap``) are cut via a broadcast anti-join BEFORE the join — the
  same df-cut that keeps the shingle index (dedup.py) and PARIS
  candidates (kgquality.py) from going quadratic on hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import materialize

__all__ = ["md5int8", "int_embedding", "transe_rank_eval", "feature_propagation"]

EMB_DIM = 8
EMB_MOD = 2001  # components in [-1000, 1000]


def md5int8(col) -> F.Column:
    """First 8 md5 hex chars of a string expression as a nonnegative
    BIGINT — the shared deterministic-coin idiom (sampling.md5_arm)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def int_embedding(col, dim: int = EMB_DIM) -> F.Column:
    """Deterministic integer pseudo-embedding of a string id:
    component j = md5int8(id || '#' || j) mod 2001 − 1000 ∈ [−1000, 1000].
    Integer components make every downstream score an exact BIGINT sum —
    associative, so bit-identical under any partitioning or engine."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: md5int8(
            F.concat(F.col(col) if isinstance(col, str) else col, F.lit("#"), j.cast("string"))
        )
        % EMB_MOD
        - 1000,
    )


def transe_rank_eval(
    triples: DataFrame,
    test_sample_mod: int = 1000,
    dim: int = EMB_DIM,
    hits_k: int = 10,
    cand_sample_mod: int | None = None,
    model: str = "transe",
    assume_distinct: bool = False,
) -> DataFrame:
    """Filtered link-prediction ranking eval (TransE protocol, Bordes et
    al. 2013): for each sampled test triple (s, p, o), score every
    same-type candidate tail c with the L1 energy
    ``score(c) = Σ_j |e(s,j) + e(p,j) − e(c,j)|`` (exact BIGINT — see
    int_embedding) and rank the true tail among candidates that are NOT
    themselves true (s, p, ·) triples. Returns one row per pred:
    (pred, n_test, hits_at_k, mrr, mean_rank).

    ``model="distmult"`` swaps the scorer for the bilinear-diagonal
    energy ``score(c) = Σ_j e(s,j)·e(p,j)·e(c,j)`` (Yang et al., ICLR
    2015) ranked DESCENDING (higher = more plausible) — the second
    classic KGE geometry; the candidate/filter/aggregation dataflow is
    identical, which is exactly the point of keeping it one operator.

    Determinism: test triples are the md5(s|p|o) % test_sample_mod == 0
    sample; ties rank by candidate id ascending; MRR is summed as
    round(1e6/rank) BIGINT micro-reciprocals with ONE final division —
    the exact-integer idiom every experiment operator here uses.

    ``cand_sample_mod=m`` additionally confines the candidate pool to
    c == o or md5(c~s|p) % m == 0 — the sampled-negatives protocol that
    bounds the expansion when a tail type is corpus-scale."""
    # materialized (r06): trip is consumed three times (test sample,
    # candidate pool, true-tail attach). A cached InMemoryRelation
    # measured ~2× slower (10.2 s vs 5.2 s cold, 5.6 vs 4.8 warm at
    # sf0.1) — referenced from several branches it defeats AQE
    # shuffle-stage reuse (the personalized_pagerank finding). The
    # historical relation-dedup landmine that motivated caching
    # (LogicalRDD reused 3× under the window+filter-join rank shape) no longer applies to the inclusion–exclusion shape below,
    # whose true-tail side joins through a SEVERED renamed leaf;
    # test_kglearn's test_sample_mod=1 cases gate this.
    # assume_distinct=True skips the defensive DISTINCT shuffle for
    # callers whose triple view is distinct by construction (the lifted
    # relational KG).
    trip = triples.select("subj", "pred", "obj")
    if not assume_distinct:
        trip = trip.distinct()
    trip = materialize(trip)
    # single-reference entity pool (explode, not a two-branch union): the
    # input relation already appears 3× in this plan (test, filter,
    # pool); a 4th copy trips Catalyst's relation dedup on in-memory
    # lineages (collect() dies with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    # binding the pred group key; parquet scans mint fresh ids per read
    # and never hit it)
    # embeddings are attached ONCE per pool entity (before the broadcast)
    # and once per test triple (before the candidate expansion) — the
    # expansion then carries precomputed integer arrays and scores with
    # 8 integer ops/row instead of re-hashing 3·dim md5s per candidate
    # row (a 24× md5 blow-up that dominated the wall time at sf0.1:
    # ~13 s → ~3 s; the embedding DEFINITION is unchanged, so scores and
    # the DuckDB twin are bit-identical)
    ents = (
        trip.select(F.explode(F.array("subj", "obj")).alias("ent"))
        .distinct()
        .withColumn("etype", F.split(F.col("ent"), ":").getItem(0))
        .withColumn("cand_emb", int_embedding("ent", dim))
    )
    # mod <= 1 keeps every triple; skipping the vacuous filter also keeps
    # the plan clear of a Catalyst corner (an always-true md5 filter over
    # a thrice-reused in-memory relation mis-binds after relation dedup:
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution — parquet-backed
    # inputs, whose every scan mints fresh attribute ids, are unaffected)
    test = (
        trip
        if test_sample_mod <= 1
        else trip.where(
            md5int8(F.concat_ws("|", "subj", "pred", "obj")) % test_sample_mod
            == 0
        )
    )
    # per-test-triple (s ∘ p) composite, computed BEFORE the expansion —
    # a Project under the join, so it runs once per test triple, never
    # per candidate row
    if model == "transe":
        sp_expr = F.zip_with(
            int_embedding("subj", dim),
            int_embedding("pred", dim),
            lambda a, b: a + b,
        )
    elif model == "distmult":
        sp_expr = F.zip_with(
            int_embedding("subj", dim),
            int_embedding("pred", dim),
            lambda a, b: a * b,
        )
    else:
        raise ValueError(f"unknown model: {model}")
    test = test.withColumn("sp_emb", sp_expr)
    # true tail's own score, computed row-locally per TEST row (before
    # the expansion — constant per group, so beats_all below needs no
    # attach join and no window)
    if model == "transe":
        true_pair = F.zip_with(
            F.col("sp_emb"), int_embedding("obj", dim),
            lambda sp, c: F.abs(sp - c),
        )
    else:
        true_pair = F.zip_with(
            F.col("sp_emb"), int_embedding("obj", dim),
            lambda sp, c: sp * c,
        )
    test = test.withColumn(
        "true_score",
        F.aggregate(true_pair, F.lit(0).cast("long"), lambda acc, x: acc + x),
    )
    # type-confined candidate expansion: pool broadcast (dimension-scale
    # by contract), no shuffle on the low-cardinality type key
    cand = test.join(
        F.broadcast(
            ents.select(F.col("ent").alias("cand"), "etype", "cand_emb")
        ),
        F.split(F.col("obj"), ":").getItem(0) == F.col("etype"),
    ).drop("etype")
    if cand_sample_mod:
        cand = cand.where(
            (F.col("cand") == F.col("obj"))
            | (
                md5int8(F.concat_ws("|", F.concat_ws("~", "cand", "subj"), "pred"))
                % cand_sample_mod
                == 0
            )
        )
    # score on the expansion row: an UNROLLED element_at sum over the two
    # (join-attribute) arrays — higher-order zip_with/aggregate lambdas
    # are interpreted, not whole-stage-codegen'd, and measured ~3× slower
    # on a 15M-row expansion (r06). Safe from projection-collapse
    # re-inlining because both arrays are join outputs (attribute refs),
    # not inline expressions.
    score_terms = None
    for _j in range(dim):
        if model == "transe":
            _t = F.abs(
                F.element_at("sp_emb", _j + 1)
                - F.element_at("cand_emb", _j + 1)
            )
        else:
            _t = (
                F.element_at("sp_emb", _j + 1)
                * F.element_at("cand_emb", _j + 1)
            )
        score_terms = _t if score_terms is None else score_terms + _t
    cand_scored = cand.withColumn(
        "score", score_terms.cast("long")
    ).drop("sp_emb", "cand_emb")
    # Rank by inclusion–exclusion (r06, guide §2.3/§2.4). The filtered
    # rank is 1 + |{c in pool, c≠o, c not a true tail of (s,p): c beats
    # o}| — previously computed by LEFT-JOINING the full test×pool
    # expansion against the corpus on (subj, pred, cand) and windowing
    # it on (subj, pred, obj): TWO full exchanges of the ~25M-row
    # expansion at sf0.1. Split it instead:
    #   rank = 1 + beats_all − beats_true
    # where beats_all counts over the WHOLE pool (map-side partial
    # aggregation — the expansion never shuffles), and beats_true counts
    # beating TRUE tails only, computed by broadcasting the (sampled,
    # tiny by contract) test table against the corpus triple table and
    # scoring each true tail row-locally — also shuffle-free. True tails
    # outside the pool (wrong type, or dropped by cand_sample_mod's
    # coin) are excluded from beats_true exactly as the pool excludes
    # them from beats_all. The true tail o itself contributes 0 to both
    # terms, and every test triple forms a beats_all group because the
    # pool always contains o.
    # true_score rides the expansion rows (constant per group), so
    # beats_all is one straight map-side-combining aggregate — no attach
    # join, no window. The true-tail side reads a SEVERED leaf of the
    # sample-sized test table (materialized + renamed columns) with
    # explicit join keys: a USING join of the materialized ``trip`` against
    # a trip-derived frame re-trips the relation-dedup mis-binding
    # documented above (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND /
    # ArrayIndexOutOfBounds in generated code).
    def _beats(score_col, true_col, cand_col, obj_col):
        if model == "transe":
            b = score_col < true_col
        else:
            b = score_col > true_col
        return b | ((score_col == true_col) & (cand_col < obj_col))

    beats_all = (
        cand_scored.groupBy("subj", "pred", "obj")
        .agg(
            F.sum(
                (
                    (F.col("cand") != F.col("obj"))
                    & _beats(
                        F.col("score"), F.col("true_score"),
                        F.col("cand"), F.col("obj"),
                    )
                ).cast("long")
            ).alias("_ball")
        )
    )
    test_t = materialize(
        test.select(
            F.col("subj").alias("t_subj"),
            F.col("pred").alias("t_pred"),
            F.col("obj").alias("t_obj"),
            F.col("true_score").alias("t_ts"),
        )
    )
    # true tails of each sampled (s, p), scored row-locally; confined to
    # the pool the same way the expansion is (same type as o, and the
    # cand_sample_mod coin when sampling negatives)
    tt = trip.select(
        "subj", "pred", F.col("obj").alias("cand")
    ).join(
        F.broadcast(test_t),
        (F.col("subj") == F.col("t_subj")) & (F.col("pred") == F.col("t_pred")),
    ).where(
        (F.col("cand") != F.col("t_obj"))
        & (
            F.split(F.col("cand"), ":").getItem(0)
            == F.split(F.col("t_obj"), ":").getItem(0)
        )
    )
    if cand_sample_mod:
        tt = tt.where(
            md5int8(F.concat_ws("|", F.concat_ws("~", "cand", "subj"), "pred"))
            % cand_sample_mod
            == 0
        )
    if model == "transe":
        tt_pair = F.zip_with(
            F.zip_with(
                int_embedding("subj", dim), int_embedding("pred", dim),
                lambda a, b: a + b,
            ),
            int_embedding("cand", dim),
            lambda sp, c: F.abs(sp - c),
        )
    else:
        tt_pair = F.zip_with(
            F.zip_with(
                int_embedding("subj", dim), int_embedding("pred", dim),
                lambda a, b: a * b,
            ),
            int_embedding("cand", dim),
            lambda sp, c: sp * c,
        )
    beats_true = (
        tt.withColumn(
            "score",
            F.aggregate(tt_pair, F.lit(0).cast("long"), lambda acc, x: acc + x),
        )
        .groupBy(
            F.col("t_subj").alias("subj"),
            F.col("t_pred").alias("pred"),
            F.col("t_obj").alias("obj"),
        )
        .agg(
            F.sum(
                _beats(
                    F.col("score"), F.col("t_ts"),
                    F.col("cand"), F.col("t_obj"),
                ).cast("long")
            ).alias("_btrue")
        )
    )
    ranks = beats_all.join(beats_true, ["subj", "pred", "obj"], "left").select(
        "subj",
        "pred",
        "obj",
        (1 + F.col("_ball") - F.coalesce("_btrue", F.lit(0))).alias("rank"),
    )
    n = F.count(F.lit(1)).cast("long")
    return ranks.groupBy("pred").agg(
        n.alias("n_test"),
        F.round(
            F.sum((F.col("rank") <= hits_k).cast("long")) / n, 6
        ).alias("hits_at_k"),
        F.round(
            F.sum(F.round(F.lit(1000000.0) / F.col("rank")).cast("long"))
            / (n * F.lit(1000000.0)),
            6,
        ).alias("mrr"),
        F.round(F.sum("rank") / n, 2).alias("mean_rank"),
    )


def feature_propagation(
    edges: DataFrame,
    hub_cap: int = 500,
) -> DataFrame:
    """Linear GNN pre-propagation (SGC / LightGCN style): every node
    carries the deterministic integer feature f0 = md5int8(node) mod 1000;
    the operator materializes, per destination node, the mean source
    feature over 1-hop in-edges and over 2-hop in-paths — the message-
    passing pre-compute that lets a downstream model train on plain
    columns instead of running graph convolutions per epoch.

    Exactness: both hops aggregate BIGINT feature SUMS plus path counts
    and divide once at the end (round 6) — no float accumulates across
    rows. Middle nodes whose in·out fanout exceeds ``hub_cap`` are
    removed from the 2-hop join via a broadcast anti-join and surfaced in
    the ``n_paths2`` they no longer contribute to — the df-cut that keeps
    a 10^12-edge join from going quadratic on hub entities (same policy
    as the shingle df-cut in dedup.py). Returns
    (ent, in_deg, f1_mean, n_paths2, f2_mean)."""
    # lazy on purpose (re-measured r06b): the distinct edge view feeds
    # five consumers, but they all hang off the SAME distinct-exchange
    # subtree, which AQE materializes once and reuses — materializing
    # it here only added a serial barrier + block-manager
    # write (interleaved A/B at sf0.1: ckpt 2.6–3.0 s vs lazy 2.1–2.4 s
    # for q249 end to end)
    e = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).distinct()
    f0 = lambda c: md5int8(F.col(c)) % 1000  # noqa: E731

    hop1 = e.groupBy(F.col("dst").alias("ent")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg"),
        F.sum(f0("src")).alias("f1_sum"),
    )
    # hub df-cut on the MIDDLE node of the 2-hop join (in·out fanout)
    mid_in = e.groupBy(F.col("dst").alias("mid")).agg(F.count(F.lit(1)).alias("din"))
    mid_out = e.groupBy(F.col("src").alias("mid")).agg(F.count(F.lit(1)).alias("dout"))
    hubs = (
        mid_in.join(mid_out, "mid")
        .where(F.col("din") * F.col("dout") > hub_cap)
        .select("mid")
    )
    first = e.select(F.col("src").alias("origin"), F.col("dst").alias("mid")).join(
        F.broadcast(hubs), "mid", "left_anti"
    )
    second = e.select(F.col("src").alias("mid"), F.col("dst").alias("ent"))
    hop2 = (
        first.join(second, "mid")
        .groupBy("ent")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paths2"),
            F.sum(f0("origin")).alias("f2_sum"),
        )
    )
    return (
        hop1.join(hop2, "ent", "left")
        .select(
            "ent",
            "in_deg",
            F.round(F.col("f1_sum") / F.col("in_deg"), 6).alias("f1_mean"),
            F.coalesce(F.col("n_paths2"), F.lit(0).cast("long")).alias("n_paths2"),
            F.when(
                F.col("n_paths2").isNotNull(),
                F.round(F.col("f2_sum") / F.col("n_paths2"), 6),
            ).alias("f2_mean"),
        )
    )

"""Deterministic stratified sampling — corpus curation's workhorse (mix
rebalancing, per-language downsampling, eval holdouts). The reference has no
sampling surface (SURVEY.md §2: bran consumes a fixed CDR corpus); a 100 TB
pipeline samples constantly, and it must be deterministic and engine-stable
so reruns and audits see the same subset.

Design: the sample key is the first 4 hex chars of md5(id) read as an
integer in [0, 65536) — a uniform, engine-portable hash (md5 is bit-identical
everywhere, unlike xxhash64 seeds or rand()). A row is kept iff
key < floor(rate(stratum) · 65536). This is a pure narrow projection +
filter: NO shuffle, NO sort, no sampleBy() (whose seeds are not
cross-engine reproducible), and the filter pushes down to the scan when the
key column is materialized. Rates are exact multiples of 1/65536 — document
the quantization rather than pretending continuous rates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import materialize

KEY_SPACE = 65536  # 4 hex chars


def md5_arm(id_col: "str | Column", n_arms: int = 2) -> Column:
    """Deterministic arm coin shared by every experiment operator: the
    first 8 md5 hex chars of the unit id as an integer, mod n_arms —
    ONE definition so assignment can never silently diverge between the
    SRM audit, the readout, and the sequential monitor."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_arms
    ).cast("int")


def sample_key(id_col: str | Column) -> Column:
    """Uniform int in [0, 65536): first 4 md5 hex chars of the id string."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10).cast("long")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row of stratum s with probability ≈ rates[s],
    deterministically in the row id. Adds a ``sample_key`` column so the
    decision is auditable downstream."""
    thr = F.lit(int(default_rate * KEY_SPACE))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * KEY_SPACE))
        ).otherwise(thr)
    return df.withColumn("sample_key", sample_key(id_col)).where(
        F.col("sample_key") < thr
    )


def negative_samples(
    pos: DataFrame,
    entity_pool: DataFrame,
    k: int = 2,
    subj_col: str = "subj",
    obj_col: str = "obj",
) -> DataFrame:
    """KG-training negative sampling: for every positive (subj, obj) pair,
    ``k`` corrupted-object negatives drawn deterministically from the
    entity pool — neg_obj = pool[md5(subj:obj:i) mod N] over the pool in
    sorted order. Deterministic sampling (vs rand()) makes training data
    reproducible and the operator oracle-checkable.

    The pool is an entity DIMENSION (bounded, ≪ corpus), so the global
    rank window on it is a deliberate single-partition step on dim-scale
    data (same legality as a broadcast dim); the corpus-scale side is a
    pure projection + explode + one broadcast join on the index. Accidental
    hits (a sampled negative that is actually a positive) are FLAGGED, not
    silently dropped, so the caller controls filtered-vs-unfiltered
    semantics. Returns (subj, obj, i, neg_obj, is_collision)."""
    from pyspark.sql import Window

    pool = entity_pool.select(F.col(entity_pool.columns[0]).alias("ent")).distinct()
    ranked = pool.withColumn(
        "idx",
        F.row_number().over(Window.orderBy("ent")).cast("long") - 1,
    )
    n = ranked.count()
    if n == 0:
        # hash % 0 is NULL with ANSI off (silently joins to zero rows) and a
        # runtime error with ANSI on — fail loudly instead.
        raise ValueError("entity pool is empty")
    p = pos.select(F.col(subj_col).alias("subj"), F.col(obj_col).alias("obj")).distinct()
    drawn = p.select(
        "subj", "obj", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")
    ).withColumn(
        "idx",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("subj"), F.col("obj"), F.col("i"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % n,
    )
    with_neg = drawn.join(F.broadcast(ranked), "idx").withColumnRenamed(
        "ent", "neg_obj"
    )
    mark = p.select(
        F.col("subj").alias("m_subj"), F.col("obj").alias("m_obj"), F.lit(1).alias("hit")
    )
    return (
        with_neg.join(
            mark,
            (F.col("subj") == F.col("m_subj")) & (F.col("neg_obj") == F.col("m_obj")),
            "left",
        )
        .select(
            "subj",
            "obj",
            F.col("i").cast("int").alias("i"),
            "neg_obj",
            F.coalesce(F.col("hit"), F.lit(0)).cast("int").alias("is_collision"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): key_i = u_i^(1/w_i) with u_i a uniform derived from
    md5(id); take the top-k keys. The quality-weighted corpus subsetting
    primitive (sample 1M docs ∝ quality score) — deterministic, so the
    drawn subset is reproducible and auditable.

    Scale shape: one narrow projection computes the key, then a single
    TakeOrderedAndProject (ORDER BY + LIMIT — never a full sort). Weights
    must be > 0. Returns the row + ``sample_key`` (rounded)."""
    u = (sample_key(id_col) + F.lit(1).cast("double")) / F.lit(
        float(KEY_SPACE + 1)
    )
    key = F.pow(u, F.lit(1.0) / F.col(weight_col))
    return (
        df.withColumn("sample_key", F.round(key, 9))
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )


def rebalance_mix(
    df: DataFrame,
    group_col: str,
    target_shares: "dict[str, float]",
    target_total: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mix rebalancing: deterministically downsample each group
    (source/domain) toward ``target_shares`` of a ``target_total``-doc
    corpus — the static data-mixture lever of LLM pretraining (a
    DoReMi-style weight vector applied as per-domain sampling rates).
    Groups absent from target_shares are dropped; a group short of its
    quota keeps everything it has (rate caps at 1 — the mix is then
    best-effort, which the caller sees in the output counts).

    Per-group rates derive from the group-count aggregate (a
    dimension-sized table, broadcast back); the keep decision is the
    md5-keyed deterministic coin of stratified_sample, so reruns and
    engines agree exactly and no shuffle beyond the one counts aggregate
    exists. Returns the surviving rows plus their group."""
    counts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n_g")
    )
    shares = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in sorted(target_shares.items())],
        "g string, share double",
    )
    # keep-threshold per group in integer millionths: floor(rate * 1e6)
    rates = counts.join(shares, "g").select(
        "g",
        F.floor(
            F.least(
                F.lit(1.0),
                F.col("share") * F.lit(float(target_total)) / F.col("n_g"),
            )
            * F.lit(1_000_000)
        ).cast("long").alias("keep_millionths"),
    )
    keyed = df.withColumn(
        "_coin",
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % 1_000_000,
    )
    return (
        keyed.join(F.broadcast(rates), keyed[group_col] == rates["g"])
        .where(F.col("_coin") < F.col("keep_millionths"))
        .drop("_coin", "g", "keep_millionths")
    )


def contrastive_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.4,
    max_df: int = 30,
    k_neg: int = 2,
    buckets: int = 64,
) -> DataFrame:
    """Contrastive training-pair mining: positives = near-duplicate pairs
    (n-gram Jaccard over the inverted shingle index), negatives = ``k_neg``
    deterministic pseudo-random documents per anchor — the
    (anchor, positive, negatives) triplet feed of embedding-model training.

    The negative draw is SCALE-SAFE by construction: drawing "a random doc"
    naively needs a global rank over the corpus (a single-task window at
    10^12 docs). Instead both sides hash into ``buckets`` rendezvous
    buckets — each (anchor, i) draw joins one bucket's docs and picks the
    member minimizing md5(cand:anchor:i), so the join is an equi-join with
    ~N/buckets fan-in per key, no global ordering anywhere, and the chosen
    negative varies per draw. A draw whose bucket is empty or contains
    only the anchor itself is DROPPED, so anchors receive *up to* k_neg
    negatives — with buckets ≪ N the miss probability is ~(1-1/buckets)^N
    per draw (negligible when buckets is sized ≤ N/10, which callers
    should do); it is a corpus-size/buckets trade, not a bug. A drawn
    negative that is actually a positive partner of its anchor is FLAGGED,
    not dropped (caller decides).
    Returns (anchor, partner, kind, weight, is_collision): kind='pos'
    rows carry the Jaccard as weight; kind='neg' rows weight 0."""
    from bran_spark.operators.dedup import ngram_jaccard_pairs

    pos = ngram_jaccard_pairs(df, id_col, text_col, n, min_jaccard, max_df)
    sym = pos.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("partner"), "jaccard"
    ).unionByName(
        pos.select(
            F.col("id_b").alias("anchor"), F.col("id_a").alias("partner"), "jaccard"
        )
    )
    anchors = sym.select("anchor").distinct()
    coin = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")  # noqa: E731
    draws = anchors.select(
        "anchor", F.explode(F.sequence(F.lit(0), F.lit(k_neg - 1))).alias("i")
    ).withColumn(
        "bk", coin(F.concat_ws(":", F.col("anchor"), F.col("i"))) % buckets
    )
    cands = df.select(F.col(id_col).alias("cand")).withColumn(
        "bk", coin(F.col("cand").cast("string")) % buckets
    )
    neg = (
        draws.join(cands, "bk")
        .where(F.col("cand") != F.col("anchor"))
        .groupBy("anchor", "i")
        .agg(
            F.min_by(
                "cand",
                F.md5(F.concat_ws(":", F.col("cand"), F.col("anchor"), F.col("i"))),
            ).alias("partner")
        )
        .drop("i")
    )
    hit = sym.select(
        F.col("anchor").alias("h_anchor"),
        F.col("partner").alias("h_partner"),
        F.lit(1).alias("hit"),
    ).distinct()
    neg_flagged = (
        neg.join(
            hit,
            (F.col("anchor") == F.col("h_anchor"))
            & (F.col("partner") == F.col("h_partner")),
            "left",
        )
        .select(
            "anchor",
            "partner",
            F.lit("neg").alias("kind"),
            F.lit(0.0).alias("weight"),
            F.coalesce(F.col("hit"), F.lit(0)).cast("int").alias("is_collision"),
        )
    )
    pos_out = sym.select(
        "anchor",
        "partner",
        F.lit("pos").alias("kind"),
        F.col("jaccard").alias("weight"),
        F.lit(0).alias("is_collision"),
    )
    return pos_out.unionByName(neg_flagged)


def importance_resample(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    hot_words: int = 1000,
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al., NeurIPS 2023): select
    the k raw-corpus documents that look most like a small in-domain
    ``target`` corpus, weighting each doc by its unigram log-likelihood
    ratio and drawing via deterministic Gumbel top-k.

    Per word, lr(w) = ln p_t(w) − ln p_r(w) with Laplace-smoothed unigram
    models over the UNION vocabulary (α=1), so target-unseen words get a
    finite negative score instead of −inf; every raw token exists in the
    raw model by construction, so the token→lr attach is an inner join
    that loses nothing. Per doc, logratio = mean lr over its tokens; the
    Gumbel key is logratio − ln(−ln(u)) with u the md5-uniform of
    ``sample_key`` — the Gumbel-max trick makes top-k by key a sample
    ∝ exp(logratio) without replacement, and md5 keeps it reproducible
    and engine-replayable.

    Scale shape: two word aggregates (map-side partial combine) + one
    full-outer merge build the lr table, sized by the union vocabulary —
    dimension-scale, never corpus-scale. The token→lr attach is
    word-keyed and maximally Zipf-skewed, so like
    quality.unigram_logprob the top ``hot_words`` raw-frequency words
    ride a broadcast join and only the bounded tail takes the shuffle.
    The draw itself is TakeOrderedAndProject (top-k, never a full sort).
    Returns (doc_id, n_tok, logratio, resample_key), both floats rounded.
    """
    from bran_spark.functions.text import words

    tok = raw.select(
        F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("w")
    )
    ttok = target.select(F.explode(words(text_col)).alias("w"))
    rf = tok.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c_r"))
    tf = ttok.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c_t"))
    vocab = rf.join(tf, "w", "full_outer").select(
        "w",
        F.coalesce("c_r", F.lit(0.0)).alias("c_r"),
        F.coalesce("c_t", F.lit(0.0)).alias("c_t"),
    )
    tots = vocab.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("c_r").alias("tot_r"),
        F.sum("c_t").alias("tot_t"),
    )
    lr = vocab.crossJoin(F.broadcast(tots)).select(
        "w",
        "c_r",
        (
            F.log((F.col("c_t") + 1) / (F.col("tot_t") + F.col("v")))
            - F.log((F.col("c_r") + 1) / (F.col("tot_r") + F.col("v")))
        ).alias("lr"),
    )
    hot = (
        lr.orderBy(F.desc("c_r"), F.asc("w"))
        .limit(hot_words)
        .select("w", "lr")
    )
    tok_hot = tok.join(F.broadcast(hot), "w")
    tok_cold = tok.join(F.broadcast(hot.select("w")), "w", "left_anti").join(
        lr.select("w", "lr"), "w"
    )
    scored = (
        tok_hot.unionByName(tok_cold)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.round(F.avg("lr") + F.lit(1e-9), 6).alias("logratio"),
        )
    )
    u = (sample_key("doc_id") + F.lit(1).cast("double")) / F.lit(
        float(KEY_SPACE + 1)
    )
    return (
        scored.withColumn(
            "resample_key", F.round(F.col("logratio") - F.log(-F.log(u)), 6)
        )
        .orderBy(F.desc("resample_key"), F.asc("doc_id"))
        .limit(k)
    )


def rendezvous_assign(
    df: DataFrame, id_col: str, n_shards: int
) -> DataFrame:
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    1998): shard(x) = argmax_s hash(s, x) over the shard ids — the
    consistent data-placement primitive: when n_shards grows N→N+1 only
    ~1/(N+1) of keys move (a mod-N scheme moves nearly all of them),
    which is what keeps bucket reassignment affordable when a 100 TB
    store adds capacity.

    Row-local: the N md5 coins and their argmax are array expressions in
    ONE projection — zero shuffle, no shard table anywhere. The argmax
    is array_max over (coin, shard) structs (field-order comparison), so
    ties — already md5-improbable — break toward the higher shard id,
    deterministically on both engines. Returns the row + ``shard``."""
    coins = F.array(
        *[
            F.struct(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|", F.lit(s), F.col(id_col).cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long").alias("c"),
                F.lit(s).cast("int").alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    return df.withColumn("shard", F.array_max(coins)["s"])


def greedy_set_cover(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    pool: int = 20,
    k: int = 5,
) -> DataFrame:
    """Greedy maximum-coverage corpus selection (the classic (1−1/e)
    approximation; facility-location/coreset family — Wolsey 1982):
    iteratively pick the document adding the most NOT-YET-COVERED
    distinct words — the "smallest subset that still spans the
    vocabulary" primitive behind eval-set construction and
    diversity-first data selection, where top-k-by-quality picks k
    near-copies of the same thing.

    Scale contract: the greedy loop runs over a bounded candidate
    ``pool`` (top-``pool`` docs by distinct-word count, deterministic
    tie-break) — selection is k driver-side single-row argmaxes over
    dimension-scale frames, the same legality as MMR re-ranking; the
    only corpus-scale work is the one tokenize+distinct pass that
    builds the pool's inverted lists. Gains are exact set differences
    (integers), so the pick sequence is engine-exact. Returns
    (rank, id, gain, covered_total) in pick order."""
    from bran_spark.functions.text import words

    tok_all = docs.select(
        F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w")
    ).distinct()
    pool_ids = (
        tok_all.groupBy("id")
        .agg(F.count(F.lit(1)).alias("nw"))
        .orderBy(F.desc("nw"), F.asc("id"))
        .limit(pool)
        .select("id")
    )
    tok = materialize(tok_all.join(pool_ids, "id", "left_semi"))
    covered = None
    picked: list = []
    rows = []
    total = 0
    for step in range(1, k + 1):
        remaining = tok.where(~F.col("id").isin(picked)) if picked else tok
        fresh = (
            remaining.join(covered, "w", "left_anti")
            if covered is not None
            else remaining
        )
        gain = fresh.groupBy("id").agg(F.count(F.lit(1)).alias("gain"))
        top = gain.orderBy(F.desc("gain"), F.asc("id")).limit(1).head()
        if top is None or top.gain == 0:
            break
        picked.append(top.id)
        total += top.gain
        rows.append((step, top.id, int(top.gain), total))
        new_words = tok.where(F.col("id") == top.id).select("w")
        covered = materialize(
            new_words
            if covered is None
            else covered.union(new_words).distinct()
        )
    spark = docs.sparkSession
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in tok.schema.fields
    )["id"]
    return spark.createDataFrame(
        rows, f"rank int, id {id_type}, gain long, covered_total long"
    )


def temperature_mix(
    docs: DataFrame,
    source_col: str = "source",
    size_col: str = "n_chars",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    target_tokens: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled source mixing (the GPT-3/PaLM data-mixture
    rule): derive each source's mixture share FROM the corpus itself as
    share_i ∝ tokens_i^alpha — alpha<1 flattens the natural distribution
    so giant crawl sources stop drowning small high-quality ones — then
    keep each row with per-source rate min(1, target·share/tokens_i).
    rebalance_mix's sibling: that one applies an EXPLICIT share vector
    per doc count; this one derives the vector from token mass.

    Fully distributed: two source-sized aggregates (token totals, the
    1-row normalizer), rates broadcast back, keep decision is the
    md5-keyed deterministic coin — no shuffle of the corpus itself and
    no driver-side share vector, so the same plan runs at 10^12 docs.
    Shares are rounded to 6 dp before the rate so both engines derive
    the identical integer keep-threshold (millionths).

    Returns surviving rows (id, source, size) — expected token mass per
    source ≈ min(target·share, tokens_i); exact-quota selection would
    need a per-source prefix sum (operators/packing.py's two-phase form)
    and is deliberately NOT done here: rate-based selection is the
    standard at-scale form precisely because it is embarrassingly
    parallel."""
    tot = docs.groupBy(F.col(source_col).alias("g")).agg(
        F.sum(size_col).cast("double").alias("tot")
    )
    raw = tot.select("g", "tot", F.pow("tot", F.lit(float(alpha))).alias("raw"))
    z = raw.agg(F.sum("raw").alias("z"))
    rates = (
        raw.join(F.broadcast(z))
        .select(
            "g",
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.lit(float(target_tokens))
                    * F.round(F.col("raw") / F.col("z"), 6)
                    / F.col("tot"),
                )
                * F.lit(1_000_000)
            )
            .cast("long")
            .alias("keep_millionths"),
        )
    )
    keyed = docs.withColumn(
        "_coin",
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % 1_000_000,
    )
    return (
        keyed.join(F.broadcast(rates), keyed[source_col] == rates["g"])
        .where(F.col("_coin") < F.col("keep_millionths"))
        .select(id_col, source_col, size_col)
    )


def ab_assignment_srm(
    users: DataFrame,
    id_col: str = "user_id",
    n_arms: int = 2,
) -> DataFrame:
    """Deterministic A/B arm assignment plus the sample-ratio-mismatch
    audit — the two halves every experimentation platform runs before
    trusting a result: hash-bucket each unit (md5 coin, sticky and
    engine-reproducible — no RNG, no assignment table), then chi-square
    the observed arm counts against the designed equal split. SRM
    (chi² ≫ df) means the assignment or logging pipeline is biased and
    the experiment is void regardless of its p-value.

    One distinct + one n_arms-key aggregate; the chi-square cells are
    exact integers until each term's one division. Output: one row per
    arm (arm, n_units, share, expected, chi2_term) — total chi² = Σ
    chi2_term with df = n_arms − 1. The output is densified against a
    generated 0..n_arms−1 dimension so an arm that received ZERO units
    still contributes its (0 − expected)²/expected cell — the strongest
    possible mismatch evidence must not vanish from the audit."""
    assigned = users.select(F.col(id_col).alias("uid")).distinct().select(
        "uid", md5_arm("uid", n_arms).alias("arm")
    )
    arm_dim = users.sparkSession.range(n_arms).select(
        F.col("id").cast("int").alias("arm")
    )
    counts = arm_dim.join(
        assigned.groupBy("arm").agg(
            F.count(F.lit(1)).cast("long").alias("n_units")
        ),
        "arm",
        "left",
    ).select(
        "arm", F.coalesce("n_units", F.lit(0).cast("long")).alias("n_units")
    )
    tot = assigned.agg(F.count(F.lit(1)).cast("double").alias("n_tot"))
    exp = F.col("n_tot") / n_arms
    return counts.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n_units",
        F.round(F.col("n_units") / F.col("n_tot"), 6).alias("share"),
        F.round(exp, 6).alias("expected"),
        F.round(
            (F.col("n_units") - exp) * (F.col("n_units") - exp) / exp, 6
        ).alias("chi2_term"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Neyman optimal allocation for stratified sampling — the DESIGN
    step in front of stratified_sample's draw: given a total sample
    budget, allocate to each stratum in proportion to n_h·σ_h (big and
    internally-variable strata get more; a huge-but-uniform stratum
    needs few samples). Minimizes the variance of the stratified mean
    at fixed budget.

    Moments come from the exact two-moment identity over one
    dimension-keyed aggregate (no library stddev accumulation order);
    the weight total is a 1-row broadcast. alloc = floor(budget ·
    ROUND(w/Σw, 6)) — the fraction is rounded BEFORE the multiply so
    both engines floor the identical binary double (raw fractions
    differ in ULPs across summation orders; distribute the ≤ n_strata
    remainder by policy downstream). Zero-variance strata get
    weight 0 by the formula — floor-clamp upstream if every stratum
    needs a minimum. Output: (stratum, n, sd, weight, alloc_frac,
    alloc), 6 dp."""
    g = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col(value_col)).cast("double").alias("s1"),
        F.sum(F.col(value_col) * F.col(value_col)).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    weighted = g.select(
        "stratum", "n", sd.alias("sd"), (F.col("n") * sd).alias("weight")
    )
    tot = weighted.agg(F.sum("weight").alias("w_tot"))
    return weighted.crossJoin(F.broadcast(tot)).select(
        "stratum",
        F.col("n").cast("long").alias("n"),
        F.round("sd", 6).alias("sd"),
        F.round("weight", 6).alias("weight"),
        F.round(F.col("weight") / F.col("w_tot"), 6).alias("alloc_frac"),
        F.floor(
            F.lit(float(budget))
            * F.round(F.col("weight") / F.col("w_tot"), 6)
        )
        .cast("long")
        .alias("alloc"),
    )


def ab_effect(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    scale: int = 100,
) -> DataFrame:
    """Two-sample experiment readout — the statistic every A/B platform
    prints next to ab_assignment_srm's validity audit: difference in
    per-unit means between arm 1 (treatment) and arm 0 (control) with a
    Welch standard error and t statistic (unequal variances; the only
    safe default when arms differ in size or spread).

    ``y_col`` must hold EXACT INTEGERS (integerize upstream — e.g.
    value cents via round(value·100)); ``scale`` converts back to unit
    terms for display. Integer sums are associative, so Σy and Σy² are
    bit-identical across partitionings and engines, and every derived
    quantity is ONE fixed scalar expression tree over those exact
    integers — no float accumulation order exists to diverge. Bound:
    Σy² must stay below 2⁶³ (cents up to ~10⁴·√n rows — at 10⁹ units
    pre-scale the metric or use decimal sums).

    One conditional aggregate (map-side partial, no shuffle beyond the
    1-row reduce). Output: 1 row (n_ctl, n_trt, mean_ctl, mean_trt,
    diff, se, t_stat), 6 dp; arms other than {0,1} are ignored."""
    y = F.col("_y")
    arm = F.col("_arm")
    g = units.select(
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(y_col).cast("long").alias("_y"),
    ).agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0))).cast("long").alias("s0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0))).cast("long").alias("s1"),
        F.sum(F.when(arm == 0, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q0"),
        F.sum(F.when(arm == 1, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q1"),
    )
    k = float(scale)
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    m0 = F.col("s0") / (n0 * k)
    m1 = F.col("s1") / (n1 * k)
    # unbiased sample variance in unit terms via the two-moment identity;
    # greatest(·,0) kills the ~1e-13 float residue a zero-spread arm
    # leaves (sqrt of a tiny negative is NaN, not an error)
    v0 = F.greatest(
        (F.col("q0") / (k * k) - n0 * m0 * m0) / (n0 - 1), F.lit(0.0)
    )
    v1 = F.greatest(
        (F.col("q1") / (k * k) - n1 * m1 * m1) / (n1 - 1), F.lit(0.0)
    )
    se = F.sqrt(v0 / n0 + v1 / n1)
    # zero spread is detected EXACTLY in integers (var = 0 ⇔ n·Σy² = (Σy)²)
    # — a float `se != 0` test passes on residue and prints a ~1e7
    # garbage t; with both arms integer-flat, se is defined as 0 and t NULL
    flat0 = F.col("n0") * F.col("q0") == F.col("s0") * F.col("s0")
    flat1 = F.col("n1") * F.col("q1") == F.col("s1") * F.col("s1")
    se_out = F.when(flat0 & flat1, F.lit(0.0)).otherwise(se)
    # ANSI-safe degenerate branches: <2 units in an arm or zero spread
    # yield NULL (the honest answer), never a division-by-zero abort.
    ok = (F.col("n0") > 1) & (F.col("n1") > 1)
    return g.select(
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(F.when(F.col("n0") > 0, m0), 6).alias("mean_ctl"),
        F.round(F.when(F.col("n1") > 0, m1), 6).alias("mean_trt"),
        F.round(F.when((F.col("n0") > 0) & (F.col("n1") > 0), m1 - m0), 6)
        .alias("diff"),
        F.round(F.when(ok, se_out), 6).alias("se"),
        F.round(
            F.when(ok & ~(flat0 & flat1), (m1 - m0) / se), 6
        ).alias("t_stat"),
    )


def cuped_effect(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    x_col: str = "x",
    scale: int = 100,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): regress the
    experiment metric on a PRE-EXPERIMENT covariate (same metric, prior
    period) and read the effect off the residuals — the standard trick
    that cuts experiment runtimes ~2-5× because assignment is
    independent of anything pre-assignment:

      θ     = cov(x, y) / var(x)            (pooled over all units)
      ŷ(u)  = y(u) − θ·(x(u) − x̄)
      diff′ = diff − θ·(mean_x(trt) − mean_x(ctl))
      var_reduction = ρ²(x, y)              (population form)

    Per-arm adjusted means need NO second pass: they are linear in the
    per-arm (Σy, Σx) sums, so one conditional aggregate over exact
    integer inputs (see ab_effect's contract and overflow bound — the
    cross-moment Σxy tightens it to |x|·|y| ≲ 2⁶³/n) yields every
    output as a fixed scalar tree. Output: 1 row (n_ctl, n_trt, theta,
    diff_raw, diff_adj, var_reduction), 6 dp."""
    y = F.col("_y")
    x = F.col("_x")
    arm = F.col("_arm")
    g = units.select(
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(y_col).cast("long").alias("_y"),
        F.col(x_col).cast("long").alias("_x"),
    ).agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0))).cast("long").alias("sy0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0))).cast("long").alias("sy1"),
        F.sum(F.when(arm == 0, x).otherwise(F.lit(0))).cast("long").alias("sx0"),
        F.sum(F.when(arm == 1, x).otherwise(F.lit(0))).cast("long").alias("sx1"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    k = float(scale)
    n = F.col("n").cast("double")
    cov_xy = F.col("sxy") / (k * k) - (F.col("sx") / k) * (F.col("sy") / k) / n
    var_x = F.col("sxx") / (k * k) - (F.col("sx") / k) * (F.col("sx") / k) / n
    var_y = F.col("syy") / (k * k) - (F.col("sy") / k) * (F.col("sy") / k) / n
    theta = cov_xy / var_x
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    diff_raw = F.col("sy1") / (n1 * k) - F.col("sy0") / (n0 * k)
    diff_x = F.col("sx1") / (n1 * k) - F.col("sx0") / (n0 * k)
    # ANSI-safe: a constant covariate (var_x = 0) leaves theta undefined
    # — report NULL rather than masking it as 0 or aborting the job.
    # Zero variance is detected EXACTLY in integers (var = 0 ⇔ n·Σx² =
    # (Σx)²): testing the float var_x against 0 passes on its ~1e-13
    # residue for most constant inputs, and theta then prints a ratio of
    # two rounding errors.
    nzx = F.col("n") * F.col("sxx") != F.col("sx") * F.col("sx")
    nzy = F.col("n") * F.col("syy") != F.col("sy") * F.col("sy")
    ok = (F.col("n0") > 0) & (F.col("n1") > 0)
    return g.select(
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(F.when(nzx, theta), 6).alias("theta"),
        F.round(F.when(ok, diff_raw), 6).alias("diff_raw"),
        F.round(F.when(ok & nzx, diff_raw - theta * diff_x), 6)
        .alias("diff_adj"),
        F.round(
            F.when(nzx & nzy, cov_xy * cov_xy / (var_x * var_y)),
            6,
        ).alias("var_reduction"),
    )


def ucb_allocation(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    scale: int = 100,
    span: float = 1.0,
) -> DataFrame:
    """UCB1 bandit scores (Auer et al. 2002) — the adaptive-allocation
    companion to ab_effect's fixed-split readout: each arm's upper
    confidence bound mean + √(2·ln N / n) says where the NEXT batch of
    traffic should go (explore under-sampled arms, exploit good ones).
    Computed batch-style over logged rewards — the standard production
    form (recompute per allocation epoch), not a per-event loop.

    Same exact-integer contract as ab_effect: rewards are integerized
    upstream (``scale`` converts back), Σy per arm is associative, and
    mean/ucb are one fixed scalar tree (the ln/√ are one transcendental
    per ARM, rounded 6 dp). CALIBRATION: UCB1's √(2·ln N/n) bound
    assumes rewards in [0,1]; for unbounded metrics pass ``span`` ≈
    r_max − r_min (unit terms) to scale the bonus, or the allocation
    silently degenerates to greedy argmax-mean. Rows whose arm casts to
    NULL are dropped (the ab_effect contract made explicit). Output:
    one row per arm (arm, n, mean, ucb, is_best), is_best = argmax ucb
    with arm-asc tie-break."""
    g = (
        units.where(F.col(arm_col).cast("int").isNotNull())
        .groupBy(F.col(arm_col).cast("int").alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(y_col).cast("long")).cast("long").alias("s"),
        )
    )
    tot = g.agg(F.sum("n").cast("double").alias("n_tot"))
    k = float(scale)
    mean = F.col("s") / (F.col("n").cast("double") * k)
    ucb = F.round(
        mean
        + F.lit(float(span))
        * F.sqrt(2.0 * F.log(F.col("n_tot")) / F.col("n").cast("double")),
        6,
    )
    scored = g.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.round(mean, 6).alias("mean"),
        ucb.alias("ucb"),
    )
    best = scored.agg(
        F.min(F.struct(-F.col("ucb"), F.col("arm"))).alias("b")
    ).select(F.col("b.arm").alias("best_arm"))
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            "arm",
            "n",
            "mean",
            "ucb",
            (F.col("arm") == F.col("best_arm")).alias("is_best"),
        )
        .orderBy("arm")
    )


def poststratified_effect(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    stratum_col: str = "stratum",
    scale: int = 100,
) -> DataFrame:
    """Post-stratified treatment-effect estimate — the observational /
    imbalance-robust companion to ab_effect: compare arms WITHIN each
    stratum and combine with population weights, so a stratum that is
    over-represented in one arm (broken randomization, observational
    logs) cannot masquerade as an effect:

      est = Σ_s (n_s / N_used) · (ȳ₁ₛ − ȳ₀ₛ)

    Strata missing either arm carry no within-stratum contrast and are
    EXCLUDED (weights renormalize over the used strata; the output
    reports how many). Stratum weights count ONLY arm-{0,1} units —
    rows with another (or NULL) arm neither contrast nor re-weight
    (the ab_effect contract). Same exact-integer contract; one
    stratum-keyed aggregate (map-side combined) + one dimension-scale
    rollup. Output: 1 row (n_units, n_strata, n_strata_used, diff_raw,
    diff_post), 6 dp; diff_post is NULL when no stratum has both arms."""
    arm = F.col(arm_col).cast("int")
    y = F.col(y_col).cast("long")
    g = units.groupBy(F.col(stratum_col).alias("s")).agg(
        F.sum(F.when(arm.isin(0, 1), 1).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0)))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0)))
        .cast("long")
        .alias("s1"),
    )
    k = float(scale)
    used = (F.col("n0") > 0) & (F.col("n1") > 0)
    within = F.col("s1") / (F.col("n1").cast("double") * k) - F.col(
        "s0"
    ) / (F.col("n0").cast("double") * k)
    roll = g.agg(
        F.sum("n").cast("long").alias("n_units"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(F.when(used, 1).otherwise(0)).cast("long").alias(
            "n_strata_used"
        ),
        F.sum(F.when(used, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_used"),
        F.sum(F.when(used, F.col("n").cast("double") * within)).alias(
            "_wsum"
        ),
        F.sum("s0").cast("long").alias("t0"),
        F.sum("s1").cast("long").alias("t1"),
        F.sum("n0").cast("long").alias("m0"),
        F.sum("n1").cast("long").alias("m1"),
    )
    diff_raw = F.col("t1") / (F.col("m1").cast("double") * k) - F.col(
        "t0"
    ) / (F.col("m0").cast("double") * k)
    return roll.select(
        "n_units",
        "n_strata",
        "n_strata_used",
        F.round(
            F.when((F.col("m0") > 0) & (F.col("m1") > 0), diff_raw), 6
        ).alias("diff_raw"),
        F.round(
            F.when(
                F.col("n_used") > 0,
                F.col("_wsum") / F.col("n_used").cast("double"),
            ),
            6,
        ).alias("diff_post"),
    )


# two-sided O'Brien-Fleming critical values for K=4 equally-spaced looks
# at overall alpha = 0.05 (standard group-sequential table; the z the
# cumulative statistic must EXCEED at look k to stop early)
OBF_BOUNDS_K4 = (4.049, 2.863, 2.337, 2.024)


def sequential_looks(
    events: DataFrame,
    looks: "list[str]",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bounds: "tuple[float, ...]" = OBF_BOUNDS_K4,
    scale: int = 100,
) -> DataFrame:
    """Group-sequential monitoring (O'Brien-Fleming) — the peeking
    protection ab_effect lacks: an experimenter who checks the raw t at
    every look inflates false positives severalfold; OBF spends almost
    no alpha early (boundary ≈ 4 at look 1) and converges to ~2.02 at
    the final look, keeping the OVERALL test at alpha.

    One corpus pass computes every look: per-user cumulative metric at
    each look timestamp as K conditional integer sums in a single
    aggregate (the cuped_effect shape widened K-fold), then each look's
    Welch z against its boundary. Exact-integer determinism contract as
    ab_effect; boundaries are literals from the standard K-look table
    (pass your own for other K/alpha). Output: one row per look
    (look, n_ctl, n_trt, diff, se, z, boundary, crossed), 6 dp,
    chronological."""
    if len(looks) != len(bounds):
        raise ValueError("need one boundary per look")
    # integerize with the SAME factor that converts back — a literal
    # 100 here silently scaled diff/se by 100/scale for non-cent metrics
    cents = F.round(F.col(value_col) * scale, 0).cast("long")
    aggs = []
    for i, cut in enumerate(looks):
        aggs.append(
            F.sum(
                F.when(F.col(ts_col) <= F.lit(cut).cast("timestamp"), cents)
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"y{i}")
        )
        aggs.append(
            F.max(
                F.when(
                    F.col(ts_col) <= F.lit(cut).cast("timestamp"), 1
                ).otherwise(0)
            )
            .cast("int")
            .alias(f"in{i}")
        )
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(*aggs)
    # K per-look rollups each re-reference this table — materialize the
    # ONE corpus groupBy once (user-dimension-sized) instead of paying
    # K corpus passes
    per_user = materialize(per_user.withColumn("arm", md5_arm("u")))
    k = float(scale)
    rows = []
    for i, (cut, bound) in enumerate(zip(looks, bounds)):
        a = F.col("arm")
        inc = F.col(f"in{i}") == 1  # user has any activity by this look
        y = F.col(f"y{i}")
        g = per_user.where(inc).agg(
            F.sum(F.when(a == 0, 1).otherwise(0)).cast("long").alias("n0"),
            F.sum(F.when(a == 1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(a == 0, y).otherwise(F.lit(0)))
            .cast("long")
            .alias("s0"),
            F.sum(F.when(a == 1, y).otherwise(F.lit(0)))
            .cast("long")
            .alias("s1"),
            F.sum(F.when(a == 0, y * y).otherwise(F.lit(0)))
            .cast("long")
            .alias("q0"),
            F.sum(F.when(a == 1, y * y).otherwise(F.lit(0)))
            .cast("long")
            .alias("q1"),
        )
        n0 = F.col("n0").cast("double")
        n1 = F.col("n1").cast("double")
        m0 = F.col("s0") / (n0 * k)
        m1 = F.col("s1") / (n1 * k)
        v0 = F.greatest(
            (F.col("q0") / (k * k) - n0 * m0 * m0) / (n0 - 1), F.lit(0.0)
        )
        v1 = F.greatest(
            (F.col("q1") / (k * k) - n1 * m1 * m1) / (n1 - 1), F.lit(0.0)
        )
        se = F.sqrt(v0 / n0 + v1 / n1)
        ok = (F.col("n0") > 1) & (F.col("n1") > 1)
        flat0 = F.col("n0") * F.col("q0") == F.col("s0") * F.col("s0")
        flat1 = F.col("n1") * F.col("q1") == F.col("s1") * F.col("s1")
        z = F.when(ok & ~(flat0 & flat1), (m1 - m0) / se)
        rows.append(
            g.select(
                F.lit(cut).alias("look"),
                F.col("n0").alias("n_ctl"),
                F.col("n1").alias("n_trt"),
                F.round(F.when(ok, m1 - m0), 6).alias("diff"),
                F.round(F.when(ok, se), 6).alias("se"),
                F.round(z, 6).alias("z"),
                F.lit(float(bound)).alias("boundary"),
                # compare the ROUNDED z (what the row reports) so the
                # crossing verdict is reproducible across engines
                F.coalesce(F.abs(F.round(z, 6)) > bound, F.lit(False))
                .alias("crossed"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("look")


def bh_fdr(
    units: DataFrame,
    segment_col: str = "segment",
    arm_col: str = "arm",
    y_col: str = "y",
    q_micro: int = 100000,
    scale: int = 100,
) -> DataFrame:
    """Benjamini-Hochberg FDR control (1995) across a FAMILY of segment
    readouts — the multiple-testing gate an experiment platform applies
    when one launch is judged on m segment/metric slices: at per-test
    alpha, m slices yield ~m·alpha false wins. BH sorts the m p-values
    ascending and rejects p(1..k*) where k* is the largest i with
    p_i ≤ i·q/m, controlling the expected false-discovery share at q.

    Engine-stable arithmetic: each segment's Welch z is ONE fixed
    scalar tree over exact integer sums (ab_effect's contract); its
    two-sided p comes from the logistic approximation of the normal CDF
    (p = 2/(1+e^{1.702·|z|}), max |err| ≈ 0.01 — ranking-safe because
    the map is strictly monotone in |z|), micro-rounded ONCE to a
    BIGINT, after which the BH inequality p_i ≤ i·q/m is the exact
    integer compare p_micro·m ≤ i·q_micro. Degenerate segments (an arm
    with <2 units, or zero spread) report p_micro = 10⁶ and can never
    be rejected.

    One segment-keyed conditional aggregate over the corpus (map-side
    partials), then windows over the m-row segment DIMENSION table
    (m ≤ hundreds — dimension-table legality). Output: one row per
    segment (segment, n_ctl, n_trt, diff, z, p_micro, m, rank,
    rejected), ordered by (rank, segment)."""
    y = F.col("_y")
    arm = F.col("_arm")
    g = units.select(
        F.col(segment_col).alias("segment"),
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(y_col).cast("long").alias("_y"),
    ).groupBy("segment").agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0))).cast("long").alias("s0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0))).cast("long").alias("s1"),
        F.sum(F.when(arm == 0, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q0"),
        F.sum(F.when(arm == 1, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q1"),
    )
    k = float(scale)
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    m0 = F.col("s0") / (n0 * k)
    m1 = F.col("s1") / (n1 * k)
    v0 = F.greatest(
        (F.col("q0") / (k * k) - n0 * m0 * m0) / (n0 - 1), F.lit(0.0)
    )
    v1 = F.greatest(
        (F.col("q1") / (k * k) - n1 * m1 * m1) / (n1 - 1), F.lit(0.0)
    )
    se = F.sqrt(v0 / n0 + v1 / n1)
    flat = (F.col("n0") * F.col("q0") == F.col("s0") * F.col("s0")) & (
        F.col("n1") * F.col("q1") == F.col("s1") * F.col("s1")
    )
    ok = (F.col("n0") > 1) & (F.col("n1") > 1) & ~flat
    z = F.round(F.when(ok, (m1 - m0) / se), 6)
    p_micro = F.when(
        z.isNotNull(),
        F.round(2000000.0 / (1.0 + F.exp(1.702 * F.abs(z))), 0).cast("long"),
    ).otherwise(F.lit(1000000).cast("long"))
    seg = g.select(
        "segment",
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(F.when((F.col("n0") > 0) & (F.col("n1") > 0), m1 - m0), 6)
        .alias("diff"),
        z.alias("z"),
        p_micro.alias("p_micro"),
    )
    wall = Window.partitionBy(F.lit(1))
    wrank = wall.orderBy(F.asc("p_micro"), F.asc("segment"))
    ranked = seg.select(
        "*",
        F.count(F.lit(1)).over(wall).cast("long").alias("m"),
        F.row_number().over(wrank).cast("long").alias("rank"),
    ).withColumn(
        "_passed",
        F.when(
            F.col("p_micro") * F.col("m")
            <= F.col("rank") * F.lit(int(q_micro)),
            F.col("rank"),
        ).otherwise(F.lit(0)),
    )
    return (
        ranked.withColumn("_kstar", F.max("_passed").over(wall))
        .select(
            "segment",
            "n_ctl",
            "n_trt",
            "diff",
            "z",
            "p_micro",
            "m",
            F.col("rank").cast("int").alias("rank"),
            (F.col("rank") <= F.col("_kstar")).alias("rejected"),
        )
        .orderBy("rank", "segment")
    )


def mann_whitney(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) readout — the nonparametric
    companion to ab_effect's Welch t for the heavy-tailed metrics
    (spend, session length) where a handful of whales dominate the mean
    and a rank test answers the question actually asked: does treatment
    stochastically shift the distribution?

    Rank arithmetic stays EXACT by working on DOUBLED mid-ranks over
    the VALUE-level histogram: group y (exact integers — integerize
    upstream, ab_effect's contract) into (value, count, count_trt)
    rows; with cb = #units strictly below a value, its doubled mid-rank
    is 2·cb + c + 1 (an integer even when the mid-rank is x.5). Then

      2·U₁ = Σ_v c1_v·(2·cb_v + c_v + 1) − n₁(n₁+1)
      z    = (2U₁ − n₀n₁) / (2·σ),
      σ²   = n₀n₁/12 · ((n+1) − Σ(c³−c)/(n(n−1)))   (tie-corrected)

    — every sum a BIGINT (bounds: Σ c1·2n ≲ 2n² < 2⁶³ ⇒ n ≲ 2·10⁹;
    a single value holding c units needs c³ < 2⁶³ ⇒ c ≲ 2·10⁶ — at
    whale scale pre-bucket the metric), and z one fixed scalar tree.
    No continuity correction (large-sample form; document at n < 20
    use exact tables, not this).

    Shuffle shape: one value-keyed count aggregate (the histogram —
    cardinality = the metric's value DOMAIN, not the corpus), a
    running sum over that domain ordered by value (single-partition
    window; at 10⁹ distinct values swap in packing's distributed
    prefix-sum), one 1-row rollup. Output: 1 row (n_ctl, n_trt,
    u_stat, z 6 dp, p_micro via the logistic normal-CDF approximation
    — see bh_fdr)."""
    hist = (
        units.select(
            F.col(y_col).cast("long").alias("v"),
            F.col(arm_col).cast("int").alias("_arm"),
        )
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
        )
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    h = hist.withColumn(
        "cb", F.coalesce(F.sum("c").over(wv), F.lit(0)).cast("long")
    )
    g = h.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c1") * (2 * F.col("cb") + F.col("c") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_term"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
    ).withColumn("n0", (F.col("n") - F.col("n1")).cast("long"))
    n = F.col("n").cast("double")
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    u1x2 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
    var = (
        n0
        * n1
        / 12.0
        * ((n + 1.0) - F.col("tie_term").cast("double") / (n * (n - 1.0)))
    )
    ok = (F.col("n0") > 0) & (F.col("n1") > 0) & (F.col("ndv") > 1)
    z = F.round(F.when(ok, (u1x2 - n0 * n1) / (2.0 * F.sqrt(var))), 6)
    p_micro = F.when(
        z.isNotNull(),
        F.round(2000000.0 / (1.0 + F.exp(1.702 * F.abs(z))), 0).cast("long"),
    ).otherwise(F.lit(1000000).cast("long"))
    return g.select(
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(u1x2 / 2.0, 6).alias("u_stat"),
        z.alias("z"),
        p_micro.alias("p_micro"),
    )


def delta_method_ratio(
    units: DataFrame,
    arm_col: str = "arm",
    num_col: str = "num",
    den_col: str = "den",
    num_scale: int = 100,
    den_scale: int = 1,
) -> DataFrame:
    """Ratio-metric experiment readout with a delta-method standard error
    (Deng, Knoblich & Lu, KDD 2018 practice note) — the correct analysis
    for per-unit RATIOS like revenue-per-session or clicks-per-query,
    where naively treating the row-level ratio as the unit metric gets
    both the point estimate and the variance wrong.

    ``units`` holds one row per randomization unit with EXACT-INTEGER
    numerator and denominator totals (integerize upstream — cents via
    round(value·100); ab_effect's contract). Per arm the estimate is
    R = Σnum / Σden, and Var(R̂) ≈ (s²_n − 2R·s_nd + R²·s²_d)/(n·d̄²)
    from the first-order Taylor expansion, with all sample (co)moments
    derived from six associative BIGINT sums (Σn, Σd, Σn², Σd², Σnd,
    count) — bit-identical across partitionings and engines, one fixed
    scalar tree after the 1-row reduce. Bound: Σnum·den < 2⁶³.

    One conditional aggregate (map-side partial + 1-row reduce — the
    100 TB plan is the same plan). Output: 1 row (n_ctl, n_trt,
    ratio_ctl, ratio_trt, diff, se, z_stat), 6 dp; degenerate arms
    (n < 2 or zero denominator mass) yield NULL stats, never a
    divide-by-zero abort (Spark 4 ANSI)."""
    arm = F.col("_arm")
    nm = F.col("_n")
    dn = F.col("_d")
    g = units.select(
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(num_col).cast("long").alias("_n"),
        F.col(den_col).cast("long").alias("_d"),
    ).agg(
        *[
            F.sum(F.when(arm == a, e).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"{nme}{a}")
            for a in (0, 1)
            for nme, e in (
                ("c", F.lit(1)),
                ("sn", nm),
                ("sd", dn),
                ("qn", nm * nm),
                ("qd", dn * dn),
                ("x", nm * dn),
            )
        ]
    )
    kn = float(num_scale)
    kd = float(den_scale)

    def stats(a):
        c = F.col(f"c{a}")
        n = c.cast("double")
        sn = F.col(f"sn{a}") / kn
        sd = F.col(f"sd{a}") / kd
        qn = F.col(f"qn{a}") / (kn * kn)
        qd = F.col(f"qd{a}") / (kd * kd)
        x = F.col(f"x{a}") / (kn * kd)
        ratio = F.when(F.col(f"sd{a}") != 0, sn / sd)
        # every division guarded AT ITS OWN SITE: subexpression
        # elimination can hoist repeated terms (d̄, the means) out of the
        # output-level when(ok, ...), so an empty/singleton arm would
        # 0/0-abort under ANSI otherwise (see diff_in_diff)
        dbar = F.when(c > 0, sd / n)
        # sample (co)variances via the two-moment identity; greatest(·,0)
        # kills the ~1e-13 float residue of a zero-spread arm
        vn = F.when(
            c > 1, F.greatest((qn - sn * sn / n) / (n - 1), F.lit(0.0))
        )
        vd = F.when(
            c > 1, F.greatest((qd - sd * sd / n) / (n - 1), F.lit(0.0))
        )
        cnd = F.when(c > 1, (x - sn * sd / n) / (n - 1))
        ok = (c > 1) & (F.col(f"sd{a}") != 0)
        var = F.when(
            ok,
            F.greatest(
                (vn - 2.0 * ratio * cnd + ratio * ratio * vd)
                / (n * dbar * dbar),
                F.lit(0.0),
            ),
        )
        return ratio, var

    r0, v0 = stats(0)
    r1, v1 = stats(1)
    se = F.sqrt(v0 + v1)
    return g.select(
        F.col("c0").alias("n_ctl"),
        F.col("c1").alias("n_trt"),
        F.round(r0, 6).alias("ratio_ctl"),
        F.round(r1, 6).alias("ratio_trt"),
        F.round(r1 - r0, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(F.when(se > 0, (r1 - r0) / se), 6).alias("z_stat"),
    )


def mde_power(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    scale: int = 100,
    z_alpha: float = 1.959964,
    z_beta: float = 0.841621,
) -> DataFrame:
    """Sensitivity readout for a two-arm experiment: the minimum
    detectable effect at the achieved sample sizes (two-sided α = 0.05,
    power 0.8 by default — the z constants are literals so the output
    is a pure function of the data) plus the achieved power for the
    OBSERVED difference. The planning row a platform prints under every
    readout so a flat result can be told apart from an underpowered one.

      MDE  = (z_α/2 + z_β) · SE,   SE = √(v₀/n₀ + v₁/n₁)
      power(observed) = Φ(|diff|/SE − z_α/2)

    with Φ the logistic normal-CDF approximation (|Φ − logistic(1.702z)|
    < 0.0095, Bowling et al. 2009 — monotone, engine-stable; see
    mann_whitney/bh_fdr) emitted as BIGINT micro-units. Same
    exact-integer metric contract and single conditional aggregate as
    ab_effect. Output: 1 row (n_ctl, n_trt, sd_ctl, sd_trt, se,
    mde_abs, mde_rel, diff, power_micro), 6 dp."""
    y = F.col("_y")
    arm = F.col("_arm")
    g = units.select(
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(y_col).cast("long").alias("_y"),
    ).agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0))).cast("long").alias("s0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0))).cast("long").alias("s1"),
        F.sum(F.when(arm == 0, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q0"),
        F.sum(F.when(arm == 1, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q1"),
    )
    k = float(scale)
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    # per-site guards: subexpression elimination can hoist these shared
    # means out of the output-level F.when(ok, ...), so an empty arm
    # would 0/0-abort under ANSI without them (see diff_in_diff)
    m0 = F.when(F.col("n0") > 0, F.col("s0") / (n0 * k))
    m1 = F.when(F.col("n1") > 0, F.col("s1") / (n1 * k))
    v0 = F.when(
        F.col("n0") > 1,
        F.greatest(
            (F.col("q0") / (k * k) - n0 * m0 * m0) / (n0 - 1), F.lit(0.0)
        ),
    )
    v1 = F.when(
        F.col("n1") > 1,
        F.greatest(
            (F.col("q1") / (k * k) - n1 * m1 * m1) / (n1 - 1), F.lit(0.0)
        ),
    )
    se = F.sqrt(v0 / n0 + v1 / n1)
    ok = (F.col("n0") > 1) & (F.col("n1") > 1)
    mde = (z_alpha + z_beta) * se
    diff = m1 - m0
    zpow = F.abs(diff) / se - z_alpha
    power_micro = F.when(
        ok & (se > 0),
        F.round(1000000.0 / (1.0 + F.exp(-1.702 * zpow)), 0).cast("long"),
    )
    return g.select(
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(F.when(ok, F.sqrt(v0)), 6).alias("sd_ctl"),
        F.round(F.when(ok, F.sqrt(v1)), 6).alias("sd_trt"),
        F.round(F.when(ok, se), 6).alias("se"),
        F.round(F.when(ok, mde), 6).alias("mde_abs"),
        F.round(
            F.when(ok & (F.col("s0") != 0), mde / F.abs(m0)), 6
        ).alias("mde_rel"),
        F.round(F.when(ok, diff), 6).alias("diff"),
        power_micro.alias("power_micro"),
    )


def diff_in_diff(
    units: DataFrame,
    group_col: str = "grp",
    period_col: str = "period",
    y_col: str = "y",
    scale: int = 100,
) -> DataFrame:
    """Difference-in-differences readout over a 2×2 panel — the
    quasi-experimental estimator for rollouts that were NOT randomized
    (a region launch, a supplier-side change): the treated group's
    post-minus-pre change net of the control group's, which removes any
    time-invariant group gap and any common time trend.

    ``units`` holds one row per (unit, period) observation with
    group ∈ {0,1} (1 = treated), period ∈ {0,1} (1 = post) and an
    exact-integer metric (ab_effect's contract). All four cells reduce
    in ONE conditional aggregate (count/Σy/Σy² per cell — associative
    BIGINTs, map-side partial); the estimate and its unequal-variance
    standard error

      DiD = (m̄₁₁ − m̄₁₀) − (m̄₀₁ − m̄₀₀),  SE = √(Σ_cells v_c/n_c)

    are one fixed scalar tree. Output: 1 row (n per cell, the four cell
    means, did, se, t_stat), 6 dp; any cell with n < 2 yields NULL
    stats. Parallel-trends is an ASSUMPTION — audit it upstream with
    per-period pre-window means, the estimator cannot test it."""
    cells = [(0, 0), (0, 1), (1, 0), (1, 1)]
    grp = F.col("_g")
    per = F.col("_p")
    y = F.col("_y")
    g = units.select(
        F.col(group_col).cast("int").alias("_g"),
        F.col(period_col).cast("int").alias("_p"),
        F.col(y_col).cast("long").alias("_y"),
    ).agg(
        *[
            F.sum(F.when((grp == a) & (per == b), e).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"{nme}{a}{b}")
            for (a, b) in cells
            for nme, e in (("c", F.lit(1)), ("s", y), ("q", y * y))
        ]
    )
    k = float(scale)

    # every division is guarded AT ITS OWN SITE (not only at the output
    # projection): Spark's subexpression elimination hoists shared cell
    # means out of the outer F.when(ok, ...), so an unguarded 0/0 on an
    # empty cell aborts under ANSI even though the output is gated
    def cell(a, b):
        c = F.col(f"c{a}{b}")
        n = c.cast("double")
        m = F.when(c > 0, F.col(f"s{a}{b}") / (n * k))
        v = F.when(
            c > 1,
            F.greatest(
                (F.col(f"q{a}{b}") / (k * k) - n * m * m) / (n - 1),
                F.lit(0.0),
            ),
        )
        return m, v / n

    m00, w00 = cell(0, 0)
    m01, w01 = cell(0, 1)
    m10, w10 = cell(1, 0)
    m11, w11 = cell(1, 1)
    ok = None
    for a, b in cells:
        c = F.col(f"c{a}{b}") > 1
        ok = c if ok is None else (ok & c)
    did = (m11 - m10) - (m01 - m00)
    se = F.sqrt(w00 + w01 + w10 + w11)
    return g.select(
        F.col("c00").alias("n_ctl_pre"),
        F.col("c01").alias("n_ctl_post"),
        F.col("c10").alias("n_trt_pre"),
        F.col("c11").alias("n_trt_post"),
        F.round(F.when(ok, m00), 6).alias("mean_ctl_pre"),
        F.round(F.when(ok, m01), 6).alias("mean_ctl_post"),
        F.round(F.when(ok, m10), 6).alias("mean_trt_pre"),
        F.round(F.when(ok, m11), 6).alias("mean_trt_post"),
        F.round(F.when(ok, did), 6).alias("did"),
        F.round(F.when(ok, se), 6).alias("se"),
        F.round(F.when(ok & (se > 0), did / se), 6).alias("t_stat"),
    )


def bayes_ab(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
) -> DataFrame:
    """Bayesian two-arm conversion readout: Beta(1,1)-prior posteriors
    over each arm's conversion rate and the probability that treatment
    beats control — the decision-facing number (P(B>A), expected lift)
    a platform prints next to the frequentist t, and the one that stays
    interpretable under optional stopping.

    ``y_col`` is binary {0,1} per unit. Posterior_a = Beta(1+s_a,
    1+n_a−s_a); with posterior means μ_a = (s_a+1)/(n_a+2) and
    variances σ²_a = μ_a(1−μ_a)/(n_a+3), P(B>A) is evaluated by the
    normal approximation of the posterior difference — exact rational
    arithmetic up to the final CDF, which uses the logistic
    approximation Φ(z) ≈ 1/(1+e^(−1.702z)) (monotone, engine-stable;
    see mann_whitney) emitted as BIGINT micro-units. At n ≳ 100 per
    arm the normal approximation is inside the logistic one's own
    0.0095 envelope; below that, say "underpowered", not "exact".

    One conditional aggregate, 1-row output (n_ctl, n_trt, conv_ctl,
    conv_trt, post_mean_ctl, post_mean_trt, lift, z, p_beats_micro),
    6 dp. Empty arms yield NULL stats (prior-only calls are a config
    bug worth surfacing, not a number worth printing)."""
    arm = F.col("_arm")
    y = F.col("_y")
    g = units.select(
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(y_col).cast("long").alias("_y"),
    ).agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0))).cast("long").alias("s0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0))).cast("long").alias("s1"),
    )
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    mu0 = (F.col("s0") + 1.0) / (n0 + 2.0)
    mu1 = (F.col("s1") + 1.0) / (n1 + 2.0)
    v0 = mu0 * (1.0 - mu0) / (n0 + 3.0)
    v1 = mu1 * (1.0 - mu1) / (n1 + 3.0)
    z = (mu1 - mu0) / F.sqrt(v0 + v1)
    ok = (F.col("n0") > 0) & (F.col("n1") > 0)
    return g.select(
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(F.when(F.col("n0") > 0, F.col("s0") / n0), 6).alias(
            "conv_ctl"
        ),
        F.round(F.when(F.col("n1") > 0, F.col("s1") / n1), 6).alias(
            "conv_trt"
        ),
        F.round(F.when(ok, mu0), 6).alias("post_mean_ctl"),
        F.round(F.when(ok, mu1), 6).alias("post_mean_trt"),
        F.round(F.when(ok, mu1 - mu0), 6).alias("lift"),
        F.round(F.when(ok, z), 6).alias("z"),
        F.when(
            ok,
            F.round(1000000.0 / (1.0 + F.exp(-1.702 * z)), 0).cast("long"),
        ).alias("p_beats_micro"),
    )


def winsorized_effect(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    scale: int = 100,
    pct: int = 99,
) -> DataFrame:
    """Winsorized two-arm readout — ab_effect for whale-dominated
    metrics: clip every unit's metric at the POOLED pct-th percentile
    (both arms share one clip point, so the transform is
    assignment-independent and unbiased under the null), then Welch
    diff-in-means on the clipped values. The standard spend-metric
    variance-reduction next to mann_whitney's rank test: the whales
    stop owning the variance but, unlike trimming, every unit still
    counts.

    The clip point is EXACT and engine-stable: on the (value, count)
    histogram of the integer metric (ab_effect's contract), it is the
    smallest value whose running count satisfies cum·100 ≥ pct·n — pure
    integer inequality, no float percentile interpolation to disagree
    on. Shuffle shape: one value-keyed histogram aggregate (domain-
    sized), one running sum over the value domain (single-partition
    window — swap in packing's distributed prefix-sum at 10^9 distinct
    values), a 1-row clip broadcast, then ab_effect's single
    conditional aggregate over least(y, clip). Output: 1 row (n_ctl,
    n_trt, clip_value, n_clipped, mean_ctl, mean_trt, diff, se,
    t_stat), 6 dp."""
    u = units.select(
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(y_col).cast("long").alias("_y"),
    )
    hist = u.groupBy("_y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = Window.orderBy("_y").rowsBetween(Window.unboundedPreceding, 0)
    tot = hist.agg(F.sum("c").cast("long").alias("n_all"))
    clip = (
        hist.withColumn("cum", F.sum("c").over(wv).cast("long"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cum") * 100 >= F.lit(int(pct)) * F.col("n_all"))
        .agg(F.min("_y").cast("long").alias("clip"))
    )
    k = float(scale)
    arm = F.col("_arm")
    y = F.least(F.col("_y"), F.col("clip"))
    g = u.crossJoin(F.broadcast(clip)).agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0))).cast("long").alias("s0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0))).cast("long").alias("s1"),
        F.sum(F.when(arm == 0, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q0"),
        F.sum(F.when(arm == 1, y * y).otherwise(F.lit(0)))
        .cast("long")
        .alias("q1"),
        F.sum(F.when(F.col("_y") > F.col("clip"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped"),
        F.max(F.col("clip")).cast("long").alias("clip_raw"),
    )
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    m0 = F.when(F.col("n0") > 0, F.col("s0") / (n0 * k))
    m1 = F.when(F.col("n1") > 0, F.col("s1") / (n1 * k))
    v0 = F.when(
        F.col("n0") > 1,
        F.greatest(
            (F.col("q0") / (k * k) - n0 * m0 * m0) / (n0 - 1), F.lit(0.0)
        ),
    )
    v1 = F.when(
        F.col("n1") > 1,
        F.greatest(
            (F.col("q1") / (k * k) - n1 * m1 * m1) / (n1 - 1), F.lit(0.0)
        ),
    )
    se = F.sqrt(v0 / n0 + v1 / n1)
    ok = (F.col("n0") > 1) & (F.col("n1") > 1)
    flat0 = F.col("n0") * F.col("q0") == F.col("s0") * F.col("s0")
    flat1 = F.col("n1") * F.col("q1") == F.col("s1") * F.col("s1")
    se_out = F.when(flat0 & flat1, F.lit(0.0)).otherwise(se)
    return g.select(
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(F.col("clip_raw") / k, 6).alias("clip_value"),
        "n_clipped",
        F.round(m0, 6).alias("mean_ctl"),
        F.round(m1, 6).alias("mean_trt"),
        F.round(m1 - m0, 6).alias("diff"),
        F.round(F.when(ok, se_out), 6).alias("se"),
        F.round(
            F.when(ok & ~(flat0 & flat1), (m1 - m0) / se), 6
        ).alias("t_stat"),
    )


def randomization_test(
    units: DataFrame,
    id_col: str = "uid",
    y_col: str = "y",
    n_reps: int = 100,
    scale: int = 100,
) -> DataFrame:
    """Monte-Carlo randomization test for a two-arm experiment — the
    assumption-free companion to ab_effect's Welch t: under the sharp
    null of no effect the assignment coin is the ONLY source of
    variation, so re-flip it ``n_reps`` times and count how often the
    re-randomized |diff-in-means| reaches the observed one.
    p = (1 + #extreme) / (n_reps + 1) (the add-one estimator that can
    never return 0).

    Every replicate's coin is deterministic — md5(id ':' rep) % 2, the
    md5_arm construction with the replicate index mixed into the key —
    so the test is reproducible across runs, engines, and
    partitionings, and replicate r's assignment is independent of the
    observed md5_arm(id) coin (different digest input). At 10⁹ units
    re-flipping (Bernoulli re-randomization) is the standard scale
    substitute for exact label permutation: arm sizes vary ~√n, which
    the per-replicate means already absorb.

    Scale shape: one corpus aggregate for the observed statistic, one
    explode of the unit table by the replicate dimension (n_reps ≤ a
    few hundred; rows = n·R) feeding a REPLICATE-keyed conditional
    aggregate — map-side partials do the heavy lifting, the shuffle
    carries R rows per partition. ``y_col`` must hold exact integers
    (ab_effect's contract); per-replicate means are ONE fixed scalar
    tree over associative BIGINT sums, and extremeness compares
    6-dp-rounded magnitudes so both engines decide ties identically.
    Output: 1 row (n_units, n_reps, t_obs, n_extreme, p_value)."""
    base = units.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(y_col).cast("long").alias("_y"),
        md5_arm(F.col(id_col)).alias("_arm"),
    )
    k = float(scale)

    def _diff(df, arm):
        y = F.col("_y")
        g = df.agg(
            F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
            F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(arm == 0, y).otherwise(F.lit(0)))
            .cast("long")
            .alias("s0"),
            F.sum(F.when(arm == 1, y).otherwise(F.lit(0)))
            .cast("long")
            .alias("s1"),
        )
        return g

    obs = _diff(base, F.col("_arm")).select(
        (F.col("n0") + F.col("n1")).alias("n_units"),
        F.round(
            F.when(
                (F.col("n0") > 0) & (F.col("n1") > 0),
                F.col("s1") / (F.col("n1") * k) - F.col("s0") / (F.col("n0") * k),
            ),
            6,
        ).alias("t_obs"),
    )
    reps = base.select(
        "_y",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_reps)))).alias("rep"),
        "_id",
    ).select(
        "rep",
        "_y",
        md5_arm(F.concat(F.col("_id"), F.lit(":"), F.col("rep").cast("string"))
                ).alias("_arm"),
    )
    y = F.col("_y")
    arm = F.col("_arm")
    per_rep = reps.groupBy("rep").agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm == 0, y).otherwise(F.lit(0))).cast("long").alias("s0"),
        F.sum(F.when(arm == 1, y).otherwise(F.lit(0))).cast("long").alias("s1"),
    )
    t_rep = F.round(
        F.when(
            (F.col("n0") > 0) & (F.col("n1") > 0),
            F.col("s1") / (F.col("n1") * k) - F.col("s0") / (F.col("n0") * k),
        ),
        6,
    )
    scored = per_rep.crossJoin(F.broadcast(obs)).select(
        "n_units",
        "t_obs",
        F.when(
            F.abs(t_rep) >= F.abs(F.col("t_obs")), 1
        ).otherwise(0).alias("extreme"),
    )
    return scored.groupBy("n_units", "t_obs").agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.sum("extreme").cast("long").alias("n_extreme"),
        F.round(
            (F.sum("extreme") + 1) / (F.count(F.lit(1)).cast("double") + 1.0),
            6,
        ).alias("p_value"),
    )


def jackknife_ratio(
    units: DataFrame,
    num_col: str = "num",
    den_col: str = "den",
    id_col: str = "uid",
    n_blocks: int = 50,
    num_scale: int = 100,
    den_scale: int = 1,
) -> DataFrame:
    """Delete-one-block jackknife standard error for a ratio metric —
    the variance machinery behind every ratio readout that can't assume
    the delta method's Taylor expansion (heavy tails, small denominator
    mass): partition units into ``n_blocks`` deterministic md5 blocks,
    recompute R₍ᵢ₎ = (Σnum − numᵢ)/(Σden − denᵢ) with block i deleted,
    and SE² = (B−1)/B · Σ(R₍ᵢ₎ − R̄)². Also reports the jackknife bias
    estimate (B−1)(R̄ − R̂) — the classic Quenouille correction.

    Scale shape: ONE block-keyed integer aggregate over the corpus
    (B ≤ a few hundred rows out), totals attach as a broadcast 1-row
    crossJoin, and every leave-one-out ratio is a scalar over exact
    BIGINTs. The B ratios are rounded to 10⁻⁶ micro-units and summed
    as DECIMAL(38,0) (associative, overflow-proof), so the block-
    dimension reduction is bit-identical across engines. Output: 1 row
    (n_blocks, ratio_full, jk_mean, jk_se, jk_bias), 6 dp; any block
    whose deletion empties the denominator yields NULL se (honest),
    never a divide-by-zero abort."""
    b = units.select(
        (sample_key(F.col(id_col).cast("string")) % int(n_blocks)).alias(
            "blk"
        ),
        F.col(num_col).cast("long").alias("_n"),
        F.col(den_col).cast("long").alias("_d"),
    )
    per_blk = b.groupBy("blk").agg(
        F.sum("_n").cast("long").alias("sn"),
        F.sum("_d").cast("long").alias("sd"),
    )
    tot = per_blk.groupBy().agg(
        F.sum("sn").cast("long").alias("tn"),
        F.sum("sd").cast("long").alias("td"),
    )
    kn = float(num_scale)
    kd = float(den_scale)
    loo = per_blk.crossJoin(F.broadcast(tot)).select(
        "tn",
        "td",
        F.when(
            F.col("td") - F.col("sd") != 0,
            F.round(
                ((F.col("tn") - F.col("sn")) / kn)
                / ((F.col("td") - F.col("sd")) / kd)
                * 1e6,
                0,
            ).cast("decimal(38,0)"),
        ).alias("r_u"),
    )
    g = loo.groupBy("tn", "td").agg(
        F.count(F.lit(1)).cast("long").alias("b_all"),
        F.count("r_u").cast("long").alias("b_ok"),
        F.sum("r_u").alias("s_u"),
        F.sum(F.col("r_u") * F.col("r_u")).alias("q_u"),
    )
    bd = F.col("b_ok").cast("double")
    ratio_full = F.when(
        F.col("td") != 0, (F.col("tn") / kn) / (F.col("td") / kd)
    )
    jk_mean = F.col("s_u").cast("double") / (bd * 1e6)
    # Σ(Rᵢ−R̄)² from the exact micro-unit moments (two-moment identity)
    ss = F.greatest(
        (
            F.col("q_u").cast("double")
            - F.col("s_u").cast("double")
            * F.col("s_u").cast("double")
            / bd
        )
        / 1e12,
        F.lit(0.0),
    )
    ok = (F.col("b_ok") == F.col("b_all")) & (F.col("b_ok") > 1)
    return g.select(
        F.col("b_all").alias("n_blocks"),
        F.round(ratio_full, 6).alias("ratio_full"),
        F.round(F.when(F.col("b_ok") > 0, jk_mean), 6).alias("jk_mean"),
        F.round(
            F.when(ok, F.sqrt((bd - 1.0) / bd * ss)), 6
        ).alias("jk_se"),
        F.round(
            F.when(ok, (bd - 1.0) * (jk_mean - ratio_full)), 6
        ).alias("jk_bias"),
    )


def anova_f(
    units: DataFrame,
    group_col: str = "g",
    y_col: str = "y",
    scale: int = 100,
) -> DataFrame:
    """One-way ANOVA — the k-group generalization of ab_effect's
    two-arm readout: does the metric's mean differ across k groups?
    F = (SSB/(k−1)) / (SSW/(N−k)) with SSB = Σ_g S_g²/n_g − S²/N and
    SSW = ΣY² − Σ_g S_g²/n_g, plus the η² effect size
    SSB/(SSB+SSW).

    ``y_col`` holds exact integers (ab_effect's contract), so the
    per-group (n, ΣY, ΣY²) cells are associative BIGINT sums. The only
    cross-group float — S_g²/n_g — is rounded to 10⁻⁶ micro-units per
    group and summed as DECIMAL(38,0) over the GROUP dimension
    (bounded; overflow-proof), making the whole statistic one fixed
    scalar tree. Two aggregates total: corpus → k rows → 1 row.
    Output: 1 row (k, n, f_stat, eta_sq, ssb, ssw) in unit² terms,
    6 dp; k < 2, N ≤ k, or zero within-group spread yield NULL F."""
    per_g = (
        units.select(
            F.col(group_col).alias("_g"), F.col(y_col).cast("long").alias("_y")
        )
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("_y").cast("long").alias("s_g"),
            F.sum(F.col("_y") * F.col("_y")).cast("long").alias("q_g"),
        )
    )
    term_u = F.round(
        F.col("s_g").cast("double")
        * F.col("s_g").cast("double")
        / F.col("n_g")
        * 1e6,
        0,
    ).cast("decimal(38,0)")
    g = per_g.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(term_u).alias("t_u"),
    )
    k2 = float(scale) * float(scale)
    t = F.col("t_u").cast("double") / 1e6
    ssb = F.greatest(
        (t - F.col("s").cast("double") * F.col("s") / F.col("n")) / k2,
        F.lit(0.0),
    )
    ssw = F.greatest((F.col("q") - t) / k2, F.lit(0.0))
    df1 = (F.col("k") - 1).cast("double")
    df2 = (F.col("n") - F.col("k")).cast("double")
    ok = (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0)
    return g.select(
        "k",
        "n",
        F.round(F.when(ok, (ssb / df1) / (ssw / df2)), 6).alias("f_stat"),
        F.round(
            F.when(ssb + ssw > 0, ssb / (ssb + ssw)), 6
        ).alias("eta_sq"),
        F.round(ssb, 6).alias("ssb"),
        F.round(ssw, 6).alias("ssw"),
    )


def tost_equivalence(
    units: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    margin: float = 0.5,
    scale: int = 100,
    z_alpha: float = 1.644854,
) -> DataFrame:
    """Two One-Sided Tests (TOST) equivalence readout — the test that
    answers the question ab_effect cannot: is the treatment provably
    WITHIN ±margin of control (e.g. a no-regression launch gate), not
    merely 'not significantly different'? Equivalence holds iff BOTH
    one-sided tests reject: z_low = (diff+δ)/se ≥ z_α and
    z_up = (diff−δ)/se ≤ −z_α (Schuirmann 1987).

    Same single conditional aggregate and exact-integer moment sums as
    ab_effect (one corpus pass, 1-row reduce, fixed scalar tree);
    the verdict compares 6-dp-rounded z's so both engines decide
    boundary cases identically. Output: 1 row (n_ctl, n_trt, diff, se,
    z_low, z_up, equivalent); degenerate arms yield NULL z's and
    equivalent=false."""
    y = F.col("_y")
    arm = F.col("_arm")
    g = units.select(
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(y_col).cast("long").alias("_y"),
    ).agg(
        *[
            F.sum(F.when(arm == a, e).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"{nme}{a}")
            for a in (0, 1)
            for nme, e in (("n", F.lit(1)), ("s", y), ("q", y * y))
        ]
    )
    k = float(scale)
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    m0 = F.col("s0") / (n0 * k)
    m1 = F.col("s1") / (n1 * k)
    v0 = F.greatest(
        (F.col("q0") / (k * k) - n0 * m0 * m0) / (n0 - 1), F.lit(0.0)
    )
    v1 = F.greatest(
        (F.col("q1") / (k * k) - n1 * m1 * m1) / (n1 - 1), F.lit(0.0)
    )
    se = F.sqrt(v0 / n0 + v1 / n1)
    flat = (F.col("n0") * F.col("q0") == F.col("s0") * F.col("s0")) & (
        F.col("n1") * F.col("q1") == F.col("s1") * F.col("s1")
    )
    ok = (F.col("n0") > 1) & (F.col("n1") > 1) & ~flat
    diff = m1 - m0
    z_low = F.round(F.when(ok, (diff + margin) / se), 6)
    z_up = F.round(F.when(ok, (diff - margin) / se), 6)
    return g.select(
        F.col("n0").alias("n_ctl"),
        F.col("n1").alias("n_trt"),
        F.round(F.when((F.col("n0") > 0) & (F.col("n1") > 0), diff), 6).alias(
            "diff"
        ),
        F.round(F.when(ok, se), 6).alias("se"),
        z_low.alias("z_low"),
        z_up.alias("z_up"),
        F.coalesce(
            (z_low >= z_alpha) & (z_up <= -z_alpha), F.lit(False)
        ).alias("equivalent"),
    )

"""Entity linking / canonicalization (SURVEY.md §2 J4; north_star mandate).

In the reference, mentions arrive pre-linked to MeSH ids from PubTator
(paper §3); canonicalization is therefore thin there. The north_rule makes it
a first-class stage: mention → canonical entity record via a broadcast
dictionary join, with unlinkable mentions quarantined instead of dropped
silently (lineage/counter requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import iterate, materialize


def link_mentions(mentions: DataFrame, mesh_dict: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Returns (linked, unlinked).

    linked  = mentions + canonical_name, entity type REVALIDATED against
    the dictionary: a mention whose type contradicts its resolved entity's
    type (e.g. a 'Chemical' mention whose mesh id is a Disease entry) is
    quarantined, not passed through — type-inconsistent rows would
    otherwise flow straight into pair generation.
    unlinked = mentions whose mesh_id is absent from the dictionary OR
    type-contradictory — quarantined for the lineage counters, mirroring
    the reference's drop of '-1' unlinkable ids (SURVEY.md §2 F2) but
    without losing the rows.
    """
    dim = F.broadcast(
        mesh_dict.select("mesh_id", "canonical_name", F.col("type").alias("dict_type"))
    )
    j = mentions.join(dim, "mesh_id", "left")
    ok = F.col("canonical_name").isNotNull() & (
        F.col("type") == F.col("dict_type")
    )
    linked = j.where(ok).drop("dict_type")
    unlinked = j.where(~ok | F.col("canonical_name").isNull()).drop(
        "canonical_name", "dict_type"
    )
    return linked, unlinked


def canonical_triples(triples: DataFrame, mesh_dict: DataFrame) -> DataFrame:
    """Attach canonical names to (subj, pred, obj) triples — two broadcast
    joins against the same dimension; Catalyst reuses the broadcast exchange."""
    dim_s = F.broadcast(
        mesh_dict.select(
            F.col("mesh_id").alias("subj"), F.col("canonical_name").alias("subj_name")
        )
    )
    dim_o = F.broadcast(
        mesh_dict.select(
            F.col("mesh_id").alias("obj"), F.col("canonical_name").alias("obj_name")
        )
    )
    return triples.join(dim_s, "subj", "left").join(dim_o, "obj", "left")


def canonical_surface_forms(mentions: DataFrame) -> DataFrame:
    """Surface-form resolution: for each entity, its most frequent mention
    text in the corpus — the canonicalization signal when no curated
    dictionary name exists (the inverse of link_mentions, which assumes
    one). Returns (mesh_id, surface, n_mentions).

    Two-phase: count by (mesh_id, text) with map-side partial agg (the only
    corpus-sized shuffle, doc-count independent), then an argmax window over
    the already-aggregated table — deterministic tie-break on the surface
    string so reruns pick the same canonical form.
    """
    counts = mentions.groupBy("mesh_id", "text").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    w = Window.partitionBy("mesh_id").orderBy(F.desc("n_mentions"), F.asc("text"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("mesh_id", F.col("text").alias("surface"), "n_mentions")
    )


def name_neardup_pairs(
    entities: DataFrame,
    id_col: str = "mesh_id",
    name_col: str = "canonical_name",
    n: int = 3,
    min_jaccard: float = 0.4,
    max_df: int = 200,
) -> DataFrame:
    """Entity-dictionary resolution candidates: pairs of entities whose
    NAMES are near-duplicates by character-trigram Jaccard — the blocking +
    verify step of entity resolution (two dictionary entries that are
    plausibly the same real-world entity under spelling variation).

    Same scale shape as document near-dup (dedup.ngram_jaccard_pairs, which
    this parameterizes with a char-shingler): inverted index on trigrams,
    broadcast-anti df-cut of the hot trigrams (trigrams are FAR hotter than
    word 8-grams — the cut is what keeps the candidate join subquadratic),
    exact Jaccard verify. Returns (id_a, id_b, jaccard), id_a < id_b."""
    from bran_spark.functions.text import char_shingles
    from bran_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        entities.select(id_col, name_col),
        id_col,
        name_col,
        n=n,
        min_jaccard=min_jaccard,
        max_df=max_df,
        shingler=char_shingles,
    )


def truth_discovery(
    claims: DataFrame,
    iters: int = 2,
    source_col: str = "source",
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Conflict resolution for functional attributes by iterated
    source-trust voting (Sums / TruthFinder-lite): when heterogeneous
    sources assert different values for the same (entity, attribute) key,
    alternate between value confidence (trust-weighted vote share within
    the key) and source trust (mean confidence of the source's claims),
    then emit the arg-max value per key with its final confidence. This is
    the fusion step between extraction and the canonical triple sink —
    majority vote weighted by how often each source agrees with the
    emerging consensus, so a feed that is wrong everywhere stops outvoting
    two reliable feeds that agree.

    Every round is two key-partitioned aggregates plus one tiny
    source-keyed aggregate (trust is one row per source — broadcast onto
    the claims at the next round's attach). All reductions are ROUND(.,6)-
    ed at round boundaries so float summation order cannot leak into the
    cross-engine hash; the final arg-max breaks exact confidence ties by
    value string, deterministically.

    The distinct claim set is materialized once: it is re-read twice per
    round, and an r06 A/B at sf0.1 measured that fastest (≈5.6 s vs
    5.9–9.7 s fully lazy, warm min-of-3). The trust table's rounds run
    through ``fixpoint.iterate``: its plan doubles every round, so deep
    ``iters`` are cut while the default 2 rounds stay one lazy plan.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    c = materialize(
        claims.select(
            F.col(source_col).alias("source"),
            F.col(key_col).alias("key"),
            F.col(value_col).alias("value"),
        ).distinct()
    )

    def confidence(trust: DataFrame) -> DataFrame:
        vote = (
            c.join(F.broadcast(trust), "source")
            .groupBy("key", "value")
            .agg(F.round(F.sum("trust"), 6).alias("vote"))
        )
        tot = vote.groupBy("key").agg(F.round(F.sum("vote"), 6).alias("tot"))
        return vote.join(tot, "key").select(
            "key", "value", F.round(F.col("vote") / F.col("tot"), 6).alias("conf")
        )

    def step(trust: DataFrame, _: int) -> DataFrame:
        return (
            c.join(confidence(trust), ["key", "value"])
            .groupBy("source")
            .agg(F.round(F.avg("conf"), 6).alias("trust"))
        )

    trust = c.select("source").distinct().withColumn("trust", F.lit(1.0))
    conf = confidence(iterate(trust, step, iters - 1))
    w = Window.partitionBy("key").orderBy(
        F.col("conf").desc(), F.col("value").desc()
    )
    return (
        conf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("key", "value", F.col("conf").alias("confidence"))
    )


def blocking_pairs(
    records: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_block: int = 20,
    n: int = 1,
) -> DataFrame:
    """Token blocking + CBS meta-blocking for entity resolution
    (Papadakis et al., TKDE'14 family): every distinct token ``n``-gram a
    record contains is a block (n=1 is classic token blocking; raise n
    when the vocabulary is too small for unigrams to discriminate —
    every blocking key then lands either purged-hot or singleton);
    records sharing a block become candidate pairs
    weighted by Common Block Scheme (number of shared blocks); weighted
    node pruning then keeps a pair only if its weight reaches the mean
    pair weight of EITHER endpoint. The blocking-graph complement to
    name_neardup_pairs' string-similarity verify — this one never
    compares strings, it prunes purely on co-occurrence structure.

    Scale shape: the block-size pass is the df-cut — blocks larger than
    ``max_block`` are purged BEFORE pair generation (a stop-word block of
    10^6 records would otherwise contribute 10^12 pairs; purging huge
    blocks is the standard blocking move and loses only signal-free
    pairs), singleton blocks are skipped (no pairs). Pair generation is
    a same-key self-join bounded by max_block per block; CBS is one pair
    aggregate; the node-mean attach is two node-keyed shuffle joins
    (node table can be corpus-scale — never broadcast).

    Returns (id_a, id_b, cbs) with id_a < id_b, kept pairs only.
    """
    from bran_spark.functions.text import shingles, words

    keys = words(text_col) if n == 1 else shingles(text_col, n)
    tok = (
        records.select(
            F.col(id_col).alias("rid"),
            F.explode(keys).alias("w"),
        )
        .where(F.col("w") != "")
        .distinct()
    )
    bs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("b"))
    keep = tok.join(
        bs.where((F.col("b") <= max_block) & (F.col("b") >= 2)), "w"
    ).select("rid", "w")
    pairs = (
        keep.alias("l")
        .join(
            keep.alias("r"),
            (F.col("l.w") == F.col("r.w"))
            & (F.col("l.rid") < F.col("r.rid")),
        )
        .groupBy(
            F.col("l.rid").alias("id_a"), F.col("r.rid").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cbs"))
    )
    ends = pairs.select(F.col("id_a").alias("node"), "cbs").unionByName(
        pairs.select(F.col("id_b").alias("node"), "cbs")
    )
    nodeavg = ends.groupBy("node").agg(
        F.round(F.avg("cbs"), 6).alias("avgw")
    )
    return (
        pairs.join(
            nodeavg.withColumnRenamed("node", "id_a").withColumnRenamed(
                "avgw", "avg_a"
            ),
            "id_a",
        )
        .join(
            nodeavg.withColumnRenamed("node", "id_b").withColumnRenamed(
                "avgw", "avg_b"
            ),
            "id_b",
        )
        .where(
            (F.col("cbs") >= F.col("avg_a")) | (F.col("cbs") >= F.col("avg_b"))
        )
        .select("id_a", "id_b", "cbs")
    )


FS_SCALE = 10**6  # fixed-point log-weight unit (micro-nats)


def mention_dict_candidates(
    mentions: DataFrame,
    mesh_dict: DataFrame,
    prefix_len: int = 3,
    max_block: int = 50,
) -> DataFrame:
    """Blocked mention × dictionary candidate pairs with per-field
    agreement flags — the comparison-vector input Fellegi-Sunter needs.

    Blocks are lowercase name prefixes (mention surface vs every
    dictionary name, canonical + synonyms); blocks bigger than
    ``max_block`` on the dictionary side are purged BEFORE the join
    (same df-cut argument as blocking_pairs — a hot prefix contributes
    |mentions_in_block|·|names_in_block| candidates and near-zero
    signal). Per candidate (mention_id, mesh_id):

      agree_name — surface equals the canonical name exactly
      agree_syn  — surface equals ANY dictionary name (membership in the
                   block's per-entry name set)
      agree_type — mention type equals the dictionary entry type
      is_match   — gold label (the mention's linked id; training signal
                   for the m/u estimates, never used in scoring)

    Plan shape (r06, guide §3.1/§2.4): the dictionary side is
    dimension-scale by contract, so its blocked name rows pre-aggregate
    to ONE row per (block, mesh_id) — canon and entry type are constant
    per mesh_id, the block's names collapse to a set — and that table
    is broadcast EXPLICITLY (auto-broadcast already fired at fixture
    scale, but post-explode size estimates are not to be trusted, and
    the low-cardinality block key must never become a shuffle key).
    Each mention then meets each candidate entry exactly once (a
    mention has one block), so the agreement flags are a pure
    projection. The removed cost is the old per-pair re-aggregation:
    the multi-synonym fan-out (~5.5M rows at sf0.1) crossed a full
    (mention_id, mesh_id) groupBy exchange just to OR the flags back
    down to one row per pair.
    """
    names = (
        mesh_dict.select(
            "mesh_id",
            F.col("type").alias("dict_type"),
            F.lower("canonical_name").alias("canon"),
            F.explode(
                F.array_union(F.array(F.col("canonical_name")), F.col("synonyms"))
            ).alias("name0"),
        )
        .select(
            "mesh_id", "dict_type", "canon", F.lower("name0").alias("name")
        )
        .distinct()
        .withColumn("block", F.substring("name", 1, prefix_len))
    )
    bs = names.groupBy("block").agg(F.count(F.lit(1)).alias("b"))
    names = names.join(bs.where(F.col("b") <= max_block), "block").drop("b")
    names_g = names.groupBy("block", "mesh_id").agg(
        F.first("canon").alias("canon"),
        F.first("dict_type").alias("dict_type"),
        F.collect_set("name").alias("names"),
    )
    m = mentions.select(
        "mention_id",
        F.col("type").alias("m_type"),
        F.col("mesh_id").alias("gold_id"),
        F.lower(F.trim(F.col("text"))).alias("surface"),
    ).withColumn("block", F.substring("surface", 1, prefix_len))
    return m.join(F.broadcast(names_g), "block").select(
        "mention_id",
        "mesh_id",
        (F.col("surface") == F.col("canon")).alias("agree_name"),
        F.array_contains("names", F.col("surface")).alias("agree_syn"),
        (F.col("m_type") == F.col("dict_type")).alias("agree_type"),
        (F.col("gold_id") == F.col("mesh_id")).alias("is_match"),
    )


def fs_field_weights(
    cand: DataFrame,
    agree_cols: list[str],
    label_col: str = "is_match",
    scale: int = FS_SCALE,
) -> DataFrame:
    """Fellegi-Sunter (1969) per-field m/u probabilities and log-weights
    from a labeled candidate set, add-1 smoothed so no weight is ±inf:

      m_k = P(agree_k | match)     = (Σ agree∧match + 1) / (n_match + 2)
      u_k = P(agree_k | non-match) = (Σ agree∧¬match + 1) / (n_nonmatch + 2)
      w_agree_fp    = round(ln(m/u)·scale)          (micro-nats, BIGINT)
      w_disagree_fp = round(ln((1-m)/(1-u))·scale)

    One aggregate over the candidate set (1 row), melted to one row per
    field — the weights table is fields-sized, the canonical broadcast
    dimension. Fixed-point integer weights make downstream score sums
    exactly associative (the pagerank/HITS determinism argument)."""
    lbl = F.col(label_col)
    aggs = [
        F.sum(F.when(lbl, 1).otherwise(0)).alias("n_m"),
        F.sum(F.when(~lbl, 1).otherwise(0)).alias("n_u"),
    ]
    for c in agree_cols:
        aggs.append(F.sum(F.when(lbl & F.col(c), 1).otherwise(0)).alias(f"am_{c}"))
        aggs.append(F.sum(F.when(~lbl & F.col(c), 1).otherwise(0)).alias(f"au_{c}"))
    tot = cand.agg(*aggs)
    per_field = tot.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        ((F.col(f"am_{c}") + 1) / (F.col("n_m") + 2)).alias("m"),
                        ((F.col(f"au_{c}") + 1) / (F.col("n_u") + 2)).alias("u"),
                    )
                    for c in agree_cols
                ]
            )
        ).alias("s")
    ).select("s.field", "s.m", "s.u")
    return per_field.select(
        "field",
        F.round("m", 6).alias("m"),
        F.round("u", 6).alias("u"),
        F.round(F.log(F.col("m") / F.col("u")) * scale)
        .cast("long")
        .alias("w_agree_fp"),
        F.round(F.log((1 - F.col("m")) / (1 - F.col("u"))) * scale)
        .cast("long")
        .alias("w_disagree_fp"),
    )


def fs_score(
    cand: DataFrame,
    weights: DataFrame,
    id_cols: list[str],
    agree_cols: list[str],
    upper_fp: int,
    lower_fp: int,
) -> DataFrame:
    """Score candidate pairs with Fellegi-Sunter log-weights and apply
    the decision rule: score >= upper -> 'match', score <= lower ->
    'non_match', else 'possible' (the clerical-review band).

    The fields-sized weights table is PIVOTED to one wide row and
    broadcast; the score is then a pure projection over the candidate
    frame (sum of per-field CASE terms in exact integer arithmetic) —
    zero shuffles beyond producing the candidates. The obvious
    alternative (melt to (pair, field, agree), join, re-aggregate per
    pair) shuffles |fields|x the candidate count for nothing; at 10^9
    candidates that melt IS the job's cost, so it is deliberately not
    the shape here."""
    wide = weights.groupBy().agg(
        *[
            F.max(F.when(F.col("field") == c, F.col("w_agree_fp"))).alias(f"_wa_{c}")
            for c in agree_cols
        ],
        *[
            F.max(F.when(F.col("field") == c, F.col("w_disagree_fp"))).alias(f"_wd_{c}")
            for c in agree_cols
        ],
    )
    terms = [
        F.when(F.col(c), F.col(f"_wa_{c}")).otherwise(F.col(f"_wd_{c}"))
        for c in agree_cols
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return cand.join(F.broadcast(wide)).select(
        *id_cols,
        score.cast("long").alias("score_fp"),
    ).withColumn(
        "decision",
        F.when(F.col("score_fp") >= upper_fp, F.lit("match"))
        .when(F.col("score_fp") <= lower_fp, F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )


def sorted_neighborhood_pairs(
    names: DataFrame,
    id_col: str = "mesh_id",
    name_col: str = "canonical_name",
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995) —
    the OTHER classic ER candidate generator next to token blocking
    (q149): sort entities by a name key and pair each with its next
    ``window`` successors. Catches near-alphabetic variants (typos,
    prefixes, transliteration drift) that share no rare token, with a
    guaranteed candidate budget of w·n pairs.

    Pure window arithmetic — lead(id, i) for i = 1..w over the sorted
    key, exploded and null-filtered; NO join. The single global sort is
    the algorithm's definition: at corpus scale, range-partition by key
    prefix with boundaries overlapped by ``window`` rows (the standard
    distributed SNM move) and this plan applies per partition
    unchanged. Returns (id_a, id_b, dist), dist = neighborhood offset,
    deterministic via the (key, id) sort."""
    w = Window.orderBy("k", "id")
    ranked = names.select(
        F.col(id_col).alias("id"), F.lower(F.col(name_col)).alias("k")
    )
    # windows first (generators can't host window functions), explode after
    with_leads = ranked.select(
        F.col("id").alias("id_a"),
        *[
            F.lead("id", i).over(w).alias(f"_n{i}")
            for i in range(1, window + 1)
        ],
    )
    leads = with_leads.select(
        "id_a",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"_n{i}").alias("id_b"), F.lit(i).alias("dist")
                    )
                    for i in range(1, window + 1)
                ]
            )
        ).alias("nb"),
    ).select("id_a", F.col("nb.id_b"), F.col("nb.dist"))
    return leads.where(F.col("id_b").isNotNull())


def acronym_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_window: int = 8,
) -> DataFrame:
    """Abbreviation-definition mining (Schwartz & Hearst, PSB 2003 — the
    standard biomedical abbreviation resolver): find "long form (SF)"
    patterns and recover the long form with the S-H core rule — match
    the short form's characters RIGHT-TO-LEFT against the candidate
    window, any character may match anywhere EXCEPT the first, which
    must sit at a word start ("hepatocellular carcinoma (HCC)" works:
    C, C, H land on carcinoma, carcinoma, hepatocellular). The long
    form is the window suffix from that anchor, kept only when its word
    count ≤ min(|SF| + 5, 2·|SF|) (the paper's length gate). In a
    bran-class pipeline this feeds the linker's surface-form
    dictionary — one definition licenses bare-SF mentions corpus-wide.

    Plan: regexp_extract_all is a corpus-scale scan projection; the
    greedy match is ONE JVM ``aggregate`` fold over the window's
    reversed characters (no Python, no UDF) with the char/SF arrays
    bound via a 1-element ``transform`` so CollapseProject cannot
    re-evaluate the splits per character. One (short, long) aggregate
    for corpus support. Output: (short_form, long_form, n_docs),
    ordered."""
    pat = (
        r"((?:[A-Za-z][A-Za-z-]* ){2,%d})\(([A-Z]{2,5})\)" % max_window
    )
    cand = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).alias("m"),
    ).select(
        "doc_id",
        F.trim(F.regexp_extract("m", pat, 1)).alias("win"),
        F.regexp_extract("m", pat, 2).alias("short_form"),
    )

    def fold(b):
        arr, sfa = b["arr"], b["sfa"]
        m, n = F.size(arr), F.size(sfa)
        rev = F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                (m - i + 1).alias("pos"),
                F.element_at(arr, m - i + 1).alias("ch"),
                F.when(m - i + 1 == 1, F.lit(True))
                .otherwise(F.element_at(arr, m - i) == " ")
                .alias("ws"),
            ),
        )
        init = F.struct(
            F.lit(0).alias("j"), F.lit(0).alias("start")
        )

        def step(st, e):
            hit = F.when(
                st["j"] < n, e["ch"] == F.element_at(sfa, n - st["j"])
            ).otherwise(F.lit(False))
            is_final = st["j"] == n - 1
            ok = hit & (~is_final | e["ws"])
            return F.struct(
                F.when(ok, st["j"] + 1).otherwise(st["j"]).alias("j"),
                F.when(ok & is_final, e["pos"])
                .otherwise(st["start"])
                .alias("start"),
            )

        return F.aggregate(rev, init, step)

    scored = cand.withColumn(
        "sh",
        F.transform(
            F.array(
                F.struct(
                    F.split(F.lower("win"), "").alias("arr"),
                    F.split(F.lower("short_form"), "").alias("sfa"),
                )
            ),
            fold,
        )[0],
    )
    n_sf = F.length("short_form")
    long_form = F.trim(
        F.col("win").substr(F.col("sh.start"), F.length("win"))
    )
    lf_words = F.size(F.split(long_form, " +"))
    return (
        scored.where(
            (F.col("sh.j") == n_sf)
            & (F.col("sh.start") >= 1)
            & (lf_words <= F.least(n_sf + 5, n_sf * 2))
        )
        .select("doc_id", "short_form", long_form.alias("long_form"))
        .distinct()
        .groupBy("short_form", "long_form")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("short_form", "long_form")
    )

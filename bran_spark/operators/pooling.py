"""Log-sum-exp pooling + triple materialization (SURVEY.md §2 A2, A5, S7).

Reference parity: bran pools bi-affine scores over *all mention pairs* of an
entity pair with log-sum-exp — the paper's defining aggregation (paper §2.3
eq. 4; reference: src/models/classifier_models.py — reconstructed,
SURVEY.md §0). Here it is pure relational Spark (numerically stabilized by
max-shifting), so Catalyst runs it as partial→final hash aggregates and the
DuckDB oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.pairs import salted_count_distinct


def lse_pool(scores: DataFrame, keys: list[str], score_col: str = "score") -> DataFrame:
    """A2: per-key log-sum-exp, max-shifted for stability.

    ``m + ln(Σ exp(s - m))`` with m = max(s) over the group. The window for m
    and the final groupBy hash-partition on the same keys, so Catalyst emits
    ONE exchange (the window's), not two — verified via .explain in tests.
    Result column: ``pooled_score``.
    """
    w = Window.partitionBy(*keys)
    shifted = scores.withColumn("_m", F.max(score_col).over(w))
    return shifted.groupBy(*keys).agg(
        (
            F.first("_m") + F.log(F.sum(F.exp(F.col(score_col) - F.col("_m"))))
        ).alias("pooled_score")
    )


def threshold(pair_scores: DataFrame, theta: float, score_col: str = "pooled_score") -> DataFrame:
    """F7: keep pairs with score ≥ θ (θ tuned on dev via evaluate.sweep)."""
    return pair_scores.where(F.col(score_col) >= F.lit(theta))


def to_triples(scored_pairs: DataFrame) -> DataFrame:
    """D8: (subj, pred, obj, doc_id, score) rows — FIXTURES.md §7 shape."""
    return scored_pairs.select(
        F.col("chem_mesh").alias("subj"),
        F.lit("CID").alias("pred"),
        F.col("dis_mesh").alias("obj"),
        "doc_id",
        F.col("pooled_score").cast("double").alias("score"),
    )


def dedup_triples(triples: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """A5: collapse per-doc triples into the canonical graph edge table:
    (subj, pred, obj, support = countDistinct(doc_id), max_score).

    Support uses the explicit two-phase salted distinct (P3) because hot
    chemical/disease entities are Zipf-skewed by construction; max_score
    composes into the same salted phases (max of maxes is exact).
    """
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets)).alias("_salt")
    p1 = triples.groupBy("subj", "pred", "obj", salt).agg(
        F.countDistinct("doc_id").alias("_dc"), F.max("score").alias("_mx")
    )
    return p1.groupBy("subj", "pred", "obj").agg(
        F.sum("_dc").cast("long").alias("support"),
        F.max("_mx").alias("max_score"),
    )


def entity_degree(triples: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Graph-materialization helper: per-entity distinct neighbor count,
    salted (the hottest entities are exactly where it matters)."""
    subj_deg = salted_count_distinct(
        triples.select(F.col("subj").alias("entity"), F.col("obj").alias("nbr")),
        ["entity"], "nbr", salt_buckets,
    )
    obj_deg = salted_count_distinct(
        triples.select(F.col("obj").alias("entity"), F.col("subj").alias("nbr")),
        ["entity"], "nbr", salt_buckets,
    )
    return (
        subj_deg.unionByName(obj_deg)
        .groupBy("entity")
        .agg(F.sum("distinct_count").cast("long").alias("degree"))
    )


def triple_provenance(
    pos: DataFrame,
    keys: "list[str]",
    doc_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Provenance materialization for the constructed KG: per triple key,
    total supporting-document count plus the first ``k`` doc ids (ascending)
    as a comma-joined evidence sample — what a KG consumer audits an edge
    with.

    Scale shape: a naive collect_set-then-slice holds EVERY supporting doc
    in the aggregation state (a hot triple in a 10^12-doc corpus can have
    10^7 supporters). Instead the evidence list is cut to k BEFORE any
    collect: row_number over (triple, doc order) then filter rk<=k, so the
    aggregation state is bounded by k regardless of skew; the support count
    is a separate partial-aggregated count on the same key (AQE reuses the
    exchange). Input must already be (doc, *keys)-distinct."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(doc_col)
    ev = (
        pos.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .groupBy(*keys)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col(doc_col))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("evidence_docs")
        )
    )
    support = pos.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    return support.join(ev, keys)


def entity_salience(mentions: DataFrame, k: int = 3) -> DataFrame:
    """Per-document entity salience: n_mentions · ln(N/df) — tf·idf over
    the LINKED MENTION stream, ranking which entities are TOPICAL for a
    document versus corpus background (the weight a KG uses to score
    doc-level evidence and to pick anchor entities per abstract; raw
    mention counts rank ubiquitous entities first everywhere).

    Input: mention rows (doc_id, mesh_id, ...). Two counting aggregates
    (per-doc-entity tf, then entity df — both map-side combined and
    dimension-scale outputs), a 1-row N broadcast, and a per-doc window
    cut to the top ``k`` (WindowGroupLimit prunes before the exchange).
    Returns (doc_id, mesh_id, n_mentions, salience, rank ≤ k)."""
    cnt = mentions.groupBy("doc_id", "mesh_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions")
    )
    dfm = cnt.groupBy("mesh_id").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    nd = cnt.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("nd")
    )
    sal = (
        cnt.join(dfm, "mesh_id")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "mesh_id",
            "n_mentions",
            F.round(
                F.col("n_mentions") * F.log(F.col("nd") / F.col("df"))
                + F.lit(1e-9),
                6,
            ).alias("salience"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("salience"), F.asc("mesh_id")
    )
    return (
        sal.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "mesh_id", "n_mentions", "salience",
                F.col("rank").cast("int").alias("rank"))
    )


def merge_support_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Incremental triple-support maintenance for append-only corpus ingest:
    additively merge per-batch support aggregates (every non-key column is
    summed as a long) so a new document batch updates the KG's support
    table WITHOUT re-aggregating the historical corpus — the 100 TB path
    re-reads only the delta plus the (much smaller, one row per distinct
    triple) state table.

    Precondition: the batches PARTITION the provenance space (each doc_id
    lands in exactly one batch — automatically true for append-only ingest
    where new docs carry fresh ids). Under that precondition per-batch
    COUNT(DISTINCT doc_id) values are additive, and the merged state is
    bit-identical to a from-scratch batch aggregate — which is exactly what
    the q141 oracle twin asserts (incremental engine vs full-recompute SQL).
    One union + one partial-aggregating shuffle on the triple key.
    """
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    vals = [c for c in out.columns if c not in keys]
    return out.groupBy(*keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in vals]
    )

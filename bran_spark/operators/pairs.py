"""Candidate-pair generation, labeling, hypernym filtering, skew salting
(SURVEY.md §2 J1, J2, J3, P3).

Reference parity: bran builds all (chemical × disease) candidate pairs per
document, labels them against the gold CID set, and drops negatives shadowed
by MeSH hypernyms of positive diseases (reference:
src/processing/utils/filter_hypernyms.py — reconstructed, SURVEY.md §0;
paper §3.2). The reference runs on one machine; the salting here is the
explicit skew handling the north_rule mandates for hot chemical/disease
entities at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mention_pairs(mentions: DataFrame) -> DataFrame:
    """J1: within-document (chemical-mention × disease-mention) cross pairs.

    Equi-join on doc_id; Catalyst executes a shuffled hash join partitioned
    by doc_id, so the cross product stays local to each doc's partition.
    Documents are bounded (max-length filter F4), so per-group fan-out is
    bounded — the classic skew risk here is hot *entities*, handled at the
    aggregation side (salted_count_distinct) and by AQE skew-join as backstop.
    """
    chem = mentions.where(F.col("type") == "Chemical").select(
        "doc_id",
        F.col("mention_id").alias("chem_mention_id"),
        F.col("mesh_id").alias("chem_mesh"),
    )
    dis = mentions.where(F.col("type") == "Disease").select(
        "doc_id",
        F.col("mention_id").alias("dis_mention_id"),
        F.col("mesh_id").alias("dis_mesh"),
    )
    return chem.join(dis, "doc_id")


def label_pairs(pairs: DataFrame, gold: DataFrame) -> DataFrame:
    """J2: gold-label join; unmatched ⇒ negative (label 0).

    gold is the small side (≈0.3 relations/pair-universe) — broadcast."""
    g = F.broadcast(
        gold.select(
            "doc_id", "chem_mesh", "dis_mesh", F.lit(1).alias("label")
        ).dropDuplicates()
    )
    return pairs.join(g, ["doc_id", "chem_mesh", "dis_mesh"], "left").withColumn(
        "label", F.coalesce(F.col("label"), F.lit(0))
    )


def hypernym_filter(labeled_pairs: DataFrame, mesh_dict: DataFrame) -> DataFrame:
    """J3: drop negative pairs whose disease is a MeSH *ancestor* of a
    positively-labeled disease for the same (doc, chem).

    positives ⋈ broadcast(ancestor closure) expands each positive disease to
    its ancestor set ("shadowed" diseases); negatives left-anti join away.
    The closure is precomputed in mesh_dict.ancestors (fixtures/gen.py), so
    no iterative graph traversal happens at query time.
    """
    anc = F.broadcast(
        mesh_dict.select(
            F.col("mesh_id").alias("dis_mesh"), F.explode("ancestors").alias("shadowed_dis")
        )
    )
    positives = labeled_pairs.where(F.col("label") == 1)
    shadowed = (
        positives.join(anc, "dis_mesh")
        .select("doc_id", "chem_mesh", F.col("shadowed_dis").alias("dis_mesh"))
        .dropDuplicates()
    )
    negatives = labeled_pairs.where(F.col("label") == 0)
    kept_neg = negatives.join(
        shadowed, ["doc_id", "chem_mesh", "dis_mesh"], "left_anti"
    )
    return positives.unionByName(kept_neg)


def salted_count_distinct(
    df: DataFrame, keys: list[str], col: str, buckets: int = 16
) -> DataFrame:
    """P3: two-phase COUNT(DISTINCT col) with an explicit salt.

    A plain countDistinct shuffles every (key, col) pair to one reducer per
    key — a hot MeSH entity (Zipfian by construction) melts that reducer at
    10^12-doc scale. Phase 1 groups by (keys, salt = hash(col) % buckets)
    so each hot key fans out over `buckets` reducers; distinct-ness is exact
    because salt is a pure function of `col` (no double counting across
    salts). Phase 2 sums the per-salt distinct counts.

    Output: keys + `distinct_count`.
    """
    salt = F.pmod(F.xxhash64(F.col(col)), F.lit(buckets)).alias("_salt")
    phase1 = df.groupBy(*keys, salt).agg(F.countDistinct(col).alias("_dc"))
    return phase1.groupBy(*keys).agg(F.sum("_dc").cast("long").alias("distinct_count"))


def mil_bags(labeled_pairs: DataFrame) -> DataFrame:
    """Multi-instance bag construction over distantly-supervised pairs —
    the training-set shape bran's relation extractor actually consumes
    (paper §2: predictions pool over all mention pairs of an entity
    pair; distant supervision labels the BAG, not the sentence).

    Input: (doc_id, chem_mesh, dis_mesh, label) — one row per
    per-document candidate pair (label_pairs output). Each (chem, dis)
    entity pair becomes one bag:

      n_docs      — bag size (co-occurrence support)
      n_pos_docs  — docs whose pair row carries a gold label
      bag_label   — max(label): positive iff ANY document supports the
                    relation (the at-least-one MIL assumption)
      pos_frac    — n_pos_docs / n_docs, the bag-noise diagnostic
                    (low fractions on positive bags = noisy distant
                    labels, where attention-based pooling earns)

    One hash aggregate keyed by the entity pair — exact integer cells,
    map-side combined; hot chemical/disease entities fan out over the
    (chem, dis) composite key, so no single entity melts a reducer."""
    return (
        labeled_pairs.groupBy("chem_mesh", "dis_mesh")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.countDistinct(
                F.when(F.col("label") == 1, F.col("doc_id"))
            ).cast("long").alias("n_pos_docs"),
            F.max("label").cast("int").alias("bag_label"),
        )
        .withColumn(
            "pos_frac",
            F.round(
                F.col("n_pos_docs") / F.col("n_docs").cast("double"), 6
            ),
        )
    )


def support_precision_curve(bags: DataFrame) -> DataFrame:
    """Support-threshold sweep for triple publication — the curve that
    picks the co-occurrence support at which extracted (chem, dis)
    pairs become precise enough to ship to the KG (the A5 triple sink
    publishes above it; q24 sweeps the SCORE axis, this sweeps the
    EVIDENCE axis):

      for each observed support level s:
        n_pairs(≥s), n_gold(≥s), precision = gold/pairs,
        recall = gold / total gold

    Input: mil_bags output (n_docs = support, bag_label = gold). One
    aggregate collapses bags to the support grid (bounded — support is
    a small-integer histogram at any corpus size), then a descending
    cumulative window over that grid. Exact integers until the two
    divisions. Output: (support_ge, n_pairs, n_gold, precision,
    recall), 6 dp."""
    grid = bags.groupBy(F.col("n_docs").alias("support_ge")).agg(
        F.count(F.lit(1)).cast("long").alias("c_pairs"),
        F.sum(F.when(F.col("bag_label") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c_gold"),
    )
    w = Window.orderBy(F.desc("support_ge")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = bags.agg(
        F.sum(F.when(F.col("bag_label") == 1, 1).otherwise(0))
        .cast("long")
        .alias("total_gold")
    )
    return (
        grid.select(
            "support_ge",
            F.sum("c_pairs").over(w).alias("n_pairs"),
            F.sum("c_gold").over(w).alias("n_gold"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "support_ge",
            "n_pairs",
            "n_gold",
            F.round(
                F.col("n_gold") / F.col("n_pairs").cast("double"), 6
            ).alias("precision"),
            F.when(
                F.col("total_gold") > 0,
                F.round(
                    F.col("n_gold") / F.col("total_gold").cast("double"), 6
                ),
            ).alias("recall"),
        )
    )

"""Operators over labeled (chemical × disease) candidate pairs: skew
salting (SURVEY.md §2 P3), multi-instance bags and the support/precision
curve.

Reference parity: bran builds all (chemical × disease) candidate pairs per
document and labels them against the gold CID set (paper §3.2); the
flagship scores those pairs inside its one encoder pass
(model/scorer.py). The reference runs on one machine; the salting here is
the explicit skew handling the north_rule mandates for hot
chemical/disease entities at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    per-document candidate pair with its gold label. Each (chem, dis)
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

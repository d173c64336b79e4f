"""KG lifecycle operators — the maintenance half of KG construction:
owl:sameAs canonical rewrite (entity-resolution merge), temporal triple
coalescing, schema induction from instance data, and snapshot diffing.

A production KG is not extracted once; it is merged across sources,
versioned, and queried through time. These operators close that loop:

- ``sameas_rewrite``: given an equivalence edge set (from record linkage,
  PARIS alignment, or explicit owl:sameAs statements), rewrite every
  subject/object to the minimum id of its equivalence class and collapse
  the duplicate triples, keeping a provenance count.
- ``coalesce_intervals``: merge overlapping/adjacent validity intervals
  per (subj, pred, obj) — the classic gaps-and-islands pass a temporal
  KG needs before interval queries make sense.
- ``induce_schema``: recover a predicate profile (dominant subject/object
  types, functionality) from the instance data — the bottom-up complement
  of the declared ontology that reasoning.rdfs_closure consumes.
- ``kg_diff``: per-predicate added/removed/unchanged between two triple
  snapshots — the report an incremental extraction pipeline publishes
  with every release.

Scale notes (100 TB):
- sameAs classes can be corpus-sized, so the canonical map attaches via
  SHUFFLE joins on subj and obj (never broadcast); the component labels
  come from the existing O(log² n) large-star/small-star pass.
- Interval coalescing is one window per (subj, pred, obj) partition — the
  natural key is high-cardinality, so the sort parallelizes; no global
  ordering is ever required.
- Schema induction and diffing are plain two-level aggregations: map-side
  partial aggs, one shuffle each on bounded keys (predicates for the
  profile; (subj, pred, obj) for the diff's outer join, which AQE can
  skew-split if one predicate dominates).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.components import connected_components
from bran_spark.operators.fixpoint import materialize


def sameas_rewrite(
    triples: DataFrame, sameas: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Canonicalize a triple table through an owl:sameAs equivalence
    edge set: every entity maps to the MINIMUM id reachable in its
    equivalence class (multi-hop chains close transitively via
    connected components), and triples that become identical after the
    rewrite collapse to one row with ``n_sources`` = the number of
    DISTINCT pre-rewrite triples merged into it.

    Both joins are left joins — entities with no sameAs statement keep
    their own id — and both are shuffle joins by design (see module
    scale notes). The canonical map is materialized: it is consumed by
    BOTH joins, and its closing distinct would otherwise re-shuffle per
    consumption (the star-contraction rounds themselves are
    materialized inside connected_components and never replay)."""
    # a cached relation instead measured slower cold with no warm upside
    # (r06; AQE stage-reuse penalty — see personalized_pagerank)
    canon = materialize(connected_components(sameas, src=src, dst=dst))
    rewritten = (
        triples.select(
            F.col("subj").alias("subj0"),
            "pred",
            F.col("obj").alias("obj0"),
        )
        .join(
            canon.select(
                F.col("node").alias("subj0"),
                F.col("component").alias("subj_c"),
            ),
            "subj0",
            "left",
        )
        .join(
            canon.select(
                F.col("node").alias("obj0"),
                F.col("component").alias("obj_c"),
            ),
            "obj0",
            "left",
        )
        .select(
            F.coalesce("subj_c", "subj0").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj0").alias("obj"),
            "subj0",
            "obj0",
        )
    )
    return rewritten.groupBy("subj", "pred", "obj").agg(
        F.count_distinct("subj0", "obj0").cast("long").alias("n_sources")
    )


def coalesce_intervals(
    df: DataFrame,
    keys: Sequence[str] = ("subj", "pred", "obj"),
    start: str = "valid_from",
    end: str = "valid_to",
) -> DataFrame:
    """Merge overlapping OR adjacent validity intervals per key group
    (gaps-and-islands): rows sorted by (start, end) within each group; a
    row opens a new island iff its start exceeds the running maximum end
    of all earlier rows (start == max_end touches, so it merges). Output:
    one row per island with the coalesced [valid_from, valid_to] and
    ``n_merged`` source intervals.

    The running max over *earlier rows only* (rowsBetween(-inf, -1)) is
    what makes a contained interval (late start, early end) merge
    correctly — comparing against the previous row's end alone would
    split islands whenever a long interval swallows short ones.

    Thin delegate to asof.coalesce_intervals — the canonical
    gaps-and-islands implementation, including the exact-duplicate
    pre-aggregation that keeps the island windows' tie order total —
    with the provenance count exposed as ``n_merged``."""
    from bran_spark.operators.asof import (
        coalesce_intervals as _coalesce,
    )

    return _coalesce(df, list(keys), start, end).withColumnRenamed(
        "n_claims", "n_merged"
    )


def induce_schema(triples: DataFrame, sep: str = ":") -> DataFrame:
    """Bottom-up predicate profile from instance data: per predicate the
    triple/subject/object counts, PARIS-style functionality
    (#distinct subjects / #triples) and inverse functionality, and the
    DOMINANT subject/object type (the id prefix before ``sep``) with its
    share. Ties on the dominant type break lexicographically, so the
    output is deterministic.

    This is the induced counterpart of the declared ontology that
    reasoning.rdfs_closure consumes — disagreement between the two is a
    modelling bug detector (a predicate whose induced domain isn't a
    subclass of its declared domain is mis-extracted)."""
    base = triples.select(
        "pred",
        # substring_index = LITERAL separator (F.split takes a regex;
        # a metachar sep would mis-split every id); twin uses the
        # equally-literal split_part
        F.substring_index(F.col("subj"), sep, 1).alias("s_type"),
        F.substring_index(F.col("obj"), sep, 1).alias("o_type"),
        "subj",
        "obj",
    )
    totals = base.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.count_distinct("subj").cast("long").alias("n_subj"),
        F.count_distinct("obj").cast("long").alias("n_obj"),
    )

    def dominant(col: str, out: str) -> DataFrame:
        cnt = base.groupBy("pred", col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.partitionBy("pred").orderBy(
            F.col("cnt").desc(), F.col(col).asc()
        )
        tot = Window.partitionBy("pred")
        return (
            cnt.withColumn("_rn", F.row_number().over(w))
            .withColumn("_tot", F.sum("cnt").over(tot))
            .where(F.col("_rn") == 1)
            .select(
                "pred",
                F.col(col).alias(out),
                F.round(F.col("cnt") / F.col("_tot"), 6).alias(
                    f"{out}_share"
                ),
            )
        )

    return (
        totals.join(dominant("s_type", "subj_type"), "pred")
        .join(dominant("o_type", "obj_type"), "pred")
        .select(
            "pred",
            "n_triples",
            "n_subj",
            "n_obj",
            F.round(F.col("n_subj") / F.col("n_triples"), 6).alias("fun"),
            F.round(F.col("n_obj") / F.col("n_triples"), 6).alias(
                "inv_fun"
            ),
            "subj_type",
            "subj_type_share",
            "obj_type",
            "obj_type_share",
        )
    )


def kg_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-predicate snapshot diff: full outer join of two triple tables
    on (subj, pred, obj), aggregated to (pred, n_added, n_removed,
    n_common, churn) where churn = (added + removed) / union — the
    release report of an incremental extraction pipeline.

    Inputs are DISTINCT-ed first so the diff is set semantics regardless
    of upstream duplication."""
    o = old.select("subj", "pred", "obj").distinct().withColumn(
        "_in_old", F.lit(1)
    )
    n = new.select("subj", "pred", "obj").distinct().withColumn(
        "_in_new", F.lit(1)
    )
    joined = o.join(n, ["subj", "pred", "obj"], "full_outer")
    return (
        joined.groupBy("pred")
        .agg(
            F.sum(
                F.when(F.col("_in_old").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_added"),
            F.sum(
                F.when(F.col("_in_new").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_removed"),
            F.sum(
                F.when(
                    F.col("_in_old").isNotNull()
                    & F.col("_in_new").isNotNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_common"),
        )
        .select(
            "pred",
            "n_added",
            "n_removed",
            "n_common",
            F.round(
                (F.col("n_added") + F.col("n_removed"))
                / (
                    F.col("n_added")
                    + F.col("n_removed")
                    + F.col("n_common")
                ),
                6,
            ).alias("churn"),
        )
    )

"""spark-submit entry for the KG FUSION stage — what a warehouse runs when
a SECOND triple feed arrives for a graph it already owns (a partner
export, a second extractor, a migrated legacy store) and the two must
become one graph without trusting either blindly:

    feed A (warehouse lift) + feed B (heterogeneous export) →
    predicate alignment by extension overlap (q142 operator)  →
    inverse-predicate detection (q270 operator)               →
    canonical rewrite of B (rename synonyms, flip inverses)   →
    fused triple table + per-feed support                     →
    capture–recapture completeness per predicate (q272)       →
    one JSON funnel line (+ optional publish).

    python jobs/run_kg_fusion.py --sf-dir /root/testdata/sf0.01 \
        --out /tmp/kg_fusion --fail-under-completeness 0.5

Feed B is derived deterministically from the same relational tables with
the three classic heterogeneities planted: an exact synonym
('located_in' = in_nation), a subset synonym ('bulk_supplier' ⊂
supplied_by), and an inverted relation ('supplies' = supplied_by⁻¹) — so
the job is self-verifying: the alignment stage must rediscover all three
from extension statistics alone (nothing is keyed on the names).

Every analytical stage is a registered, oracle-checked operator
(graphalgo.align_predicates / inverse_predicates,
kgquality.capture_recapture); the rewrite plan itself is a
predicate-vocabulary-sized broadcast join, so the 100 TB shape is two
corpus scans + vocabulary-keyed dimension work. With
--fail-under-completeness X the job exits non-zero when any two-feed
predicate's estimated union completeness is below X (CI gate mode)."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--master", default=None)
    ap.add_argument("--out", default=None, help="publish dir (omit to skip)")
    ap.add_argument("--containment-min", type=float, default=0.95)
    ap.add_argument("--min-common", type=int, default=2)
    ap.add_argument("--fail-under-completeness", type=float, default=None)
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bran_spark.operators.fixpoint import materialize
    from bran_spark.operators.graphalgo import (
        align_predicates,
        inverse_predicates,
    )
    from bran_spark.operators.kgquality import capture_recapture
    from bran_spark.session import get_spark

    spark = get_spark(
        "bran_kg_fusion",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    t0 = time.time()
    funnel: dict = {"sf_dir": args.sf_dir}

    def t(name):
        return spark.read.parquet(os.path.join(args.sf_dir, f"{name}.parquet"))

    def tr(df, s_pre, s_col, pred, o_pre, o_col):
        return df.select(
            F.concat(F.lit(s_pre), F.col(s_col).cast("string")).alias("subj"),
            F.lit(pred).alias("pred"),
            F.concat(F.lit(o_pre), F.col(o_col).cast("string")).alias("obj"),
        )

    li = t("lineitem")
    # Both extractors are LOSSY on the shared supply relation, with
    # independent (order-keyed) misses — so the capture–recapture stage
    # has real unseen mass to estimate instead of a degenerate B ⊆ A.
    li_a = li.where(F.col("l_orderkey") % 10 != 0)
    li_b = li.where(F.col("l_orderkey") % 10 != 1)
    # feed A: the warehouse's own lift
    feed_a = (
        tr(t("orders"), "O:", "o_orderkey", "placed_by", "C:", "o_custkey")
        .unionByName(
            tr(t("customer"), "C:", "c_custkey", "in_nation", "N:", "c_nationkey")
        )
        .unionByName(
            tr(t("nation"), "N:", "n_nationkey", "in_region", "R:", "n_regionkey")
        )
        .unionByName(
            tr(li_a, "P:", "l_partkey", "supplied_by", "S:", "l_suppkey")
        )
        .distinct()
    )
    # feed B: the heterogeneous export — synonym, subset, and inverse
    # planted under DIFFERENT names; the pipeline must rediscover them
    feed_b = (
        tr(t("customer"), "C:", "c_custkey", "located_in", "N:", "c_nationkey")
        .unionByName(
            tr(
                li_b.where(F.col("l_quantity") < 45),
                "P:", "l_partkey", "bulk_supplier", "S:", "l_suppkey",
            )
        )
        .unionByName(
            tr(li_b, "S:", "l_suppkey", "supplies", "P:", "l_partkey")
        )
        .unionByName(
            tr(t("nation"), "N:", "n_nationkey", "in_region", "R:", "n_regionkey")
        )
        .distinct()
    )
    feed_a = materialize(feed_a)
    feed_b = materialize(feed_b)
    funnel["feed_a_triples"] = feed_a.count()
    funnel["feed_b_triples"] = feed_b.count()

    both = feed_a.unionByName(feed_b)
    preds_a = {r.pred for r in feed_a.select("pred").distinct().collect()}
    preds_b = {r.pred for r in feed_b.select("pred").distinct().collect()}

    # ---- alignment: extension overlap across the union; keep pairs that
    # cross the feed boundary and clear the containment bar
    aligned = [
        r
        for r in align_predicates(both, min_common=args.min_common)
        .where(F.col("containment") >= args.containment_min)
        .collect()
        if (r.p1 in preds_a) != (r.p2 in preds_a)  # cross-feed only
    ]
    inverses = [
        r
        for r in inverse_predicates(both, min_common=args.min_common)
        .where(
            (F.col("containment") >= args.containment_min)
            & (F.col("p1") != F.col("p2"))
        )
        .collect()
        if (r.p1 in preds_a) != (r.p2 in preds_a)
    ]
    funnel["alignments"] = [
        {"p1": r.p1, "p2": r.p2, "containment": r.containment}
        for r in sorted(aligned, key=lambda r: (r.p1, r.p2))
    ]
    funnel["inverse_pairs"] = [
        {"p1": r.p1, "p2": r.p2, "containment": r.containment}
        for r in sorted(inverses, key=lambda r: (r.p1, r.p2))
    ]

    # ---- canonical rewrite plan for feed B: renames (synonym → the
    # feed-A name) and flips (inverse → feed-A name + reversed s/o).
    # Predicate vocabulary is dimension-sized: a driver-side dict and a
    # broadcast mapping join are the legal shape (see q130's docstring).
    renames = {}
    for r in aligned:
        a_name, b_name = (r.p1, r.p2) if r.p1 in preds_a else (r.p2, r.p1)
        renames.setdefault(b_name, a_name)
    flips = {}
    for r in inverses:
        a_name, b_name = (r.p1, r.p2) if r.p1 in preds_a else (r.p2, r.p1)
        if b_name not in renames:  # direct synonym wins over inverse
            flips.setdefault(b_name, a_name)
    funnel["renamed_predicates"] = dict(sorted(renames.items()))
    funnel["flipped_predicates"] = dict(sorted(flips.items()))

    mapping = spark.createDataFrame(
        [(b, a, False) for b, a in renames.items()]
        + [(b, a, True) for b, a in flips.items()],
        "pred string, canon string, flip boolean",
    )
    b_canon = materialize(
        feed_b.join(F.broadcast(mapping), "pred", "left")
        .select(
            F.when(F.col("flip"), F.col("obj")).otherwise(F.col("subj")).alias("subj"),
            F.coalesce("canon", "pred").alias("pred"),
            F.when(F.col("flip"), F.col("subj")).otherwise(F.col("obj")).alias("obj"),
        )
        .distinct()
    )

    # ---- fuse: union with per-feed support (1 = one feed, 2 = both)
    fused = materialize(
        feed_a.withColumn("src", F.lit("a"))
        .unionByName(b_canon.withColumn("src", F.lit("b")))
        .groupBy("subj", "pred", "obj")
        .agg(F.countDistinct("src").cast("int").alias("n_feeds"))
    )
    funnel["fused_triples"] = fused.count()
    funnel["corroborated_triples"] = fused.where(F.col("n_feeds") == 2).count()

    # ---- completeness: two-occasion capture–recapture on the canonical
    # predicate space (only predicates both feeds now assert get an
    # estimate; single-feed ones honestly report null)
    comp = {
        r.pred: {
            "n_a": r.n_a,
            "n_b": r.n_b,
            "n_both": r.n_both,
            "est_total": r.est_total,
            "completeness_union": r.completeness_union,
        }
        for r in capture_recapture(feed_a, b_canon).collect()
    }
    funnel["completeness"] = dict(sorted(comp.items()))

    if args.out:
        (
            fused.repartition("pred")
            .write.mode("overwrite")
            .partitionBy("pred")
            .parquet(os.path.join(args.out, "triples"))
        )
        funnel["out"] = args.out

    funnel["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(funnel))

    if args.fail_under_completeness is not None:
        worst = min(
            (
                c["completeness_union"]
                for c in comp.values()
                if c["completeness_union"] is not None
            ),
            default=1.0,
        )
        if worst < args.fail_under_completeness:
            sys.exit(2)


if __name__ == "__main__":
    main()

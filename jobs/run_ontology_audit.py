"""spark-submit entry for the ONTOLOGY QA gate — what sits between a
freshly-extracted KG snapshot and its publication: materialize the RDFS
entailment closure, then audit the snapshot against the declared ontology
from three angles and emit one JSON verdict line:

    rdfs closure → owl:disjointWith violations → declared-domain
    conformance per predicate → induced-vs-declared schema comparison
    (dominant instance types vs rdfs:domain/range)

    spark-submit --master local[8] --py-files dist/bran_spark.zip \
        jobs/run_ontology_audit.py --sf-dir /root/testdata/sf0.01

Every stage is a registered, oracle-checked operator (q292 closure, q298
disjointness, q299 conformance, q296 induction), so the gate and the
driver's correctness harness can never disagree on what a violation is.
``--dirty`` injects the q298/q299 mis-extraction noise (every 5th
supplier as an in_region subject) so the gate's failure path is
exercisable end-to-end; without it the lifted KG is clean and the gate
passes.
"""

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
    ap.add_argument("--out", default=None, help="JSON output path")
    ap.add_argument("--min-conformance", type=float, default=1.0)
    ap.add_argument("--dirty", action="store_true",
                    help="inject the q298-style mis-extraction noise")
    ap.add_argument("--fail-on-violations", action="store_true")
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bran_spark.operators.fixpoint import materialize
    from bran_spark.operators.kglifecycle import induce_schema
    from bran_spark.operators.reasoning import (
        disjointness_audit,
        domain_conformance,
        rdfs_closure,
    )
    from bran_spark.plans.oracle_queries import (
        _ONTOLOGY_ROWS,
        _kg_relational_triples,
        _noisy_kg,
    )
    from bran_spark.session import get_spark

    spark = get_spark(
        "bran_ontology_audit",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    t0 = time.time()
    report: dict = {"sf_dir": args.sf_dir, "dirty": args.dirty}

    # closure + conformance + induction all consume it
    kg = materialize(
        _noisy_kg(spark, args.sf_dir)
        if args.dirty
        else _kg_relational_triples(spark, args.sf_dir)
    )
    schema = spark.createDataFrame(_ONTOLOGY_ROWS, ["s", "p", "o"])
    prefix_map = spark.createDataFrame(
        [
            ("C", "Customer"), ("C2", "Customer"), ("C3", "Customer"),
            ("S", "Supplier"), ("N", "Nation"), ("R", "Region"),
            ("O", "Order"), ("P", "Part"),
        ],
        ["prefix", "cls"],
    )

    typed = materialize(rdfs_closure(kg, schema))
    report["closure"] = {
        "n_type_assertions": typed.count(),
        "n_classes": typed.select("cls").distinct().count(),
    }

    disjoint = spark.createDataFrame(
        [("Party", "Place"), ("Agent", "Locus")], ["cls_a", "cls_b"]
    )
    viol = disjointness_audit(typed, disjoint)
    by_pair = {
        f"{r.cls_a}|{r.cls_b}": r.n
        for r in viol.groupBy("cls_a", "cls_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_disjoint = int(sum(by_pair.values()))
    report["disjointness"] = {
        "n_violations": n_disjoint,
        "by_pair": by_pair,
        "satisfied": n_disjoint == 0,
    }

    conf = domain_conformance(kg, schema, prefix_map).collect()
    if conf:
        worst = min(conf, key=lambda r: r.conformance)
        report["domain_conformance"] = {
            "min_conformance": worst.conformance,
            "worst_pred": worst.pred,
            "n_preds": len(conf),
            "violating_preds": sorted(
                r.pred for r in conf if r.conformance < args.min_conformance
            ),
            "satisfied": worst.conformance >= args.min_conformance,
        }
    else:
        # no rdfs:domain statements declared: degenerate but clean —
        # nothing to check, so the gate passes instead of crashing on
        # min() of an empty sequence
        report["domain_conformance"] = {
            "min_conformance": 1.0,
            "worst_pred": None,
            "n_preds": 0,
            "violating_preds": [],
            "satisfied": True,
        }

    # induced-vs-declared: the dominant instance type of each domained
    # predicate, mapped through the prefix table, must be the declared
    # domain or one of its subclasses
    induced = induce_schema(kg)
    dom = spark.createDataFrame(
        [(s, o) for s, p, o in _ONTOLOGY_ROWS if p == "domain"],
        ["pred", "domain"],
    )
    # full transitive closure via the reasoning helper — a hand-rolled
    # depth-2 self-join would silently go incomplete the day the
    # ontology deepens, flipping induced_vs_declared red on a clean KG
    from bran_spark.operators.reasoning import _transitive_closure_small

    subc_closed = _transitive_closure_small(
        spark.createDataFrame(
            [(s, o) for s, p, o in _ONTOLOGY_ROWS if p == "subClassOf"],
            ["s", "o"],
        )
    ).select(F.col("s").alias("sub"), F.col("o").alias("sup"))
    cmp = (
        induced.join(dom, "pred")
        .join(
            F.broadcast(prefix_map.withColumnRenamed("prefix", "subj_type")),
            "subj_type",
            "left",
        )
        .join(
            F.broadcast(
                subc_closed.select(
                    F.col("sub").alias("cls"), F.col("sup").alias("domain")
                ).withColumn("_sub", F.lit(1))
            ),
            ["cls", "domain"],
            "left",
        )
        .select(
            "pred",
            "domain",
            F.col("cls").alias("induced_cls"),
            (
                (F.col("cls") == F.col("domain"))
                | F.col("_sub").isNotNull()
            ).alias("agrees"),
        )
        .collect()
    )
    disagreeing = sorted(r.pred for r in cmp if not r.agrees)
    report["induced_vs_declared"] = {
        "n_preds": len(cmp),
        "disagreeing_preds": disagreeing,
        "satisfied": not disagreeing,
    }

    report["all_satisfied"] = all(
        report[s]["satisfied"]
        for s in ("disjointness", "domain_conformance", "induced_vs_declared")
    )
    report["wall_s"] = round(time.time() - t0, 3)
    line = json.dumps(report)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    if args.fail_on_violations and not report["all_satisfied"]:
        sys.exit(2)


if __name__ == "__main__":
    main()

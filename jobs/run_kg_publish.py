"""spark-submit entry for the KG PUBLICATION gate — what sits between
the extraction pipeline (jobs/run_pipeline.py) and a triple store a
consumer is allowed to read:

    flagship triples → dedup + per-triple support →
    SHACL-lite constraint validation (domain/range/functional) →
    publish parquet partitioned by predicate + violation report +
    one JSON funnel line.

    spark-submit --master local[8] --py-files dist/bran_spark.zip \
        jobs/run_kg_publish.py --sf 0.01 --out /tmp/kg_pub

Every stage is a registered, oracle-checked operator (q23 dedup/support,
q146 validation); the streaming twin of the validation step is
streaming/incremental.streaming_kg_monitor — same validate_kg body, so
batch publish and the live monitor can never disagree on what counts as
a violation. With --fail-on-violations the job exits non-zero when any
domain/range violation exists (CI gate mode); by default it publishes
and reports, which is the nightly-snapshot mode.
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
    ap.add_argument("--sf", type=float, default=0.001)
    ap.add_argument("--master", default=None)
    ap.add_argument("--out", default=None, help="publish dir (omit to skip the write)")
    ap.add_argument("--min-support", type=int, default=1)
    ap.add_argument("--fail-on-violations", action="store_true")
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.operators.fixpoint import materialize
    from bran_spark.operators.kgquality import validate_kg
    from bran_spark.operators.pooling import dedup_triples
    from bran_spark.plans.pipeline import flagship
    from bran_spark.session import get_spark

    ensure(args.sf)
    spark = get_spark(
        f"bran_kg_publish_sf{args.sf}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    t0 = time.time()
    funnel: dict = {"sf": args.sf}

    triples = flagship(spark, fixture_dir(args.sf))
    funnel["raw_triples"] = triples.count()

    deduped = dedup_triples(triples).where(
        F.col("support") >= args.min_support
    )
    # one materialization: validation, publish, and the funnel count all
    # branch from this frame
    deduped = materialize(deduped)
    funnel["published_triples"] = deduped.count()

    # mesh ids carry their entity type as the leading character; lift it
    # into the id so the SAME validator the relational KG uses (q146) and
    # the streaming monitor runs applies unchanged
    prefixed = deduped.select(
        F.concat(F.substring("subj", 1, 1), F.lit(":"), F.col("subj")).alias("subj"),
        "pred",
        F.concat(F.substring("obj", 1, 1), F.lit(":"), F.col("obj")).alias("obj"),
        "support",
    )
    constraints = spark.createDataFrame(
        [("CID", "C", "D", False)],
        "pred string, domain string, range string, functional boolean",
    )
    report = validate_kg(prefixed.select("subj", "pred", "obj"), constraints)
    rep_rows = {f"{r.pred}/{r.kind}": (r.n_checked, r.n_violations) for r in report.collect()}
    funnel["validation"] = rep_rows
    n_bad = sum(
        v for k, (_, v) in rep_rows.items() if not k.endswith("functional")
    )

    if args.out:
        (
            prefixed.repartition("pred")
            .write.mode("overwrite")
            .partitionBy("pred")
            .parquet(os.path.join(args.out, "triples"))
        )
        report.write.mode("overwrite").parquet(os.path.join(args.out, "report"))
        funnel["out"] = args.out

    funnel["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(funnel))
    if args.fail_on_violations and n_bad > 0:
        sys.exit(2)


if __name__ == "__main__":
    main()

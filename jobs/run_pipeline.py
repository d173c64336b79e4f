"""spark-submit entry point for the flagship KG-construction DAG.

    spark-submit --master local[8] --py-files dist/bran_spark.zip \
        jobs/run_pipeline.py --sf 0.1 --checkpoint-root checkpoints/run1

(north_rule mandate: the whole DAG runs via spark-submit --py-files on a
multi-executor cluster; `make dist` builds the zip.) Also runnable as plain
``python jobs/run_pipeline.py`` for local smoke.

Prints ONE JSON line with stage counts, wall time and triples/sec.
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
    ap.add_argument("--checkpoint-root", default=None)
    ap.add_argument("--theta", type=float, default=0.0)
    ap.add_argument("--score-buckets", type=int, default=8)
    ap.add_argument("--no-checkpoint", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-eval", action="store_true")
    ap.add_argument(
        "--emit", choices=["pairs", "both"], default="pairs",
        help="'both' = joint NER+pair output from ONE encoder pass "
             "(the single-encode path when both artifacts are wanted); "
             "adds a ner_tags row to the funnel JSON",
    )
    ap.add_argument("--shuffle-partitions", default=None)
    ap.add_argument(
        "--metrics-out", default=None,
        help="dump per-stage spill/shuffle/skew + peak-memory counters "
             "(Spark status REST) to this JSON path before shutdown — the "
             "stress harness's cliff detector (tools/stress_run.py)",
    )
    args = ap.parse_args()

    from bran_spark.fixtures.gen import ensure, fixture_dir
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig
    from bran_spark.session import get_spark

    ensure(args.sf)
    spark = get_spark(
        f"bran_pipeline_sf{args.sf}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=(
            {"spark.ui.enabled": "true"} if args.metrics_out else None
        ),
    )
    cfg = PipelineConfig(
        fixture_dir=fixture_dir(args.sf),
        checkpoint_root=None if args.no_checkpoint else (
            args.checkpoint_root or os.path.join(os.getcwd(), "checkpoints", f"sf{args.sf}")
        ),
        theta=args.theta,
        score_buckets=args.score_buckets,
        checkpoint=not args.no_checkpoint,
        emit=args.emit,
    )
    t0 = time.time()
    res = Pipeline(spark, cfg).run(
        resume=not args.no_resume, evaluate=not args.no_eval
    )
    wall = time.time() - t0
    res.update(
        {
            "sf": args.sf,
            "master": spark.sparkContext.master,
            "wall_s": round(wall, 3),
            "triples_per_sec": round(res["triples"] / wall, 2),
            "docs_per_sec": round(res["docs"] / wall, 2),
        }
    )
    print(json.dumps(res))
    if args.metrics_out:
        from bran_spark.sources.metrics import collect_run_metrics

        with open(args.metrics_out, "w") as f:
            json.dump(collect_run_metrics(spark), f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()

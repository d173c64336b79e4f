"""spark-submit entry for the EXPERIMENT READOUT — the A/B analysis an
experimentation platform runs per metric snapshot:

    deterministic md5 arm assignment → sample-ratio-mismatch gate
    (chi² vs the designed split; SRM ⇒ the readout is VOID) →
    Welch diff-in-means → CUPED variance reduction with the
    pre-period covariate → UCB1 scores for the next allocation epoch →
    one JSON line.

    spark-submit --master local[8] jobs/run_experiment.py \
        --sf-dir /root/testdata/sf0.01 --cut 2024-01-14

Every stage is a registered, oracle-checked operator (q214 SRM, q216
ab_effect, q217 CUPED, q239 UCB1); this job is the composed flow. The
unit table (one row per user: arm, pre-period x, post-period y in exact
integer cents) is built ONCE and shared by every stage — one corpus
shuffle total.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# conventional chi-square critical values for alpha=0.001 (SRM should
# trip LOUDLY and rarely), df = n_arms - 1
CHI2_CRIT_001 = {1: 10.828, 2: 13.816, 3: 16.266}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--cut", default="2024-01-14",
                    help="pre/post boundary for the CUPED covariate")
    ap.add_argument("--out", default=None, help="JSON output path")
    ap.add_argument(
        "--checkpoint-root", default=None,
        help="commit the per-user units table (the one corpus-scale "
             "aggregate every readout shares) as a manifest-parquet "
             "snapshot; a rerun resumes from it instead of re-scanning "
             "events (config-hash gated on --cut and --sf-dir)",
    )
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from bran_spark.operators.fixpoint import materialize
    from bran_spark.operators.sampling import (
        ab_assignment_srm,
        ab_effect,
        cuped_effect,
        md5_arm,
        ucb_allocation,
    )
    from bran_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        "bran_experiment", master=args.master or "local[8]",
        shuffle_partitions="16",
    )
    def _build_units():
        ev = spark.read.parquet(f"{args.sf_dir}/events.parquet")
        cents = F.round(F.col("value") * 100, 0).cast("long")
        pre = F.col("ts") < F.lit(args.cut).cast("timestamp")
        return (
            ev.groupBy("user_id")
            .agg(
                F.sum(F.when(pre, cents).otherwise(F.lit(0))).cast("long")
                .alias("x"),
                F.sum(F.when(~pre, cents).otherwise(F.lit(0))).cast("long")
                .alias("y"),
            )
            .select(
                "user_id",
                # THE shared arm coin — never re-derive it inline, or the
                # composed job could silently diverge from the SRM/readout/
                # sequential operators' assignment
                md5_arm("user_id", 2).alias("arm"),
                "x",
                "y",
            )
        )

    resumed = False
    if args.checkpoint_root:
        from bran_spark.sources.tableio import ManifestParquetTableIO

        tio = ManifestParquetTableIO(args.checkpoint_root)
        ucfg = {"sf_dir": args.sf_dir, "cut": args.cut}
        if tio.exists_valid("exp_units", ucfg):
            resumed = True
        else:
            tio.write(_build_units(), "exp_units", stage="exp_units", config=ucfg)
        # the snapshot read is already materialized — all four readout
        # stages share it without re-scanning events
        units = tio.read(spark, "exp_units")
    else:
        units = materialize(_build_units())  # shared by all four stages

    report: dict = {"sf_dir": args.sf_dir, "cut": args.cut, "units_resumed": resumed}

    # SRM over the shared units table (one row per user already) — the
    # raw-events form would re-distinct the corpus for the same answer
    srm_rows = ab_assignment_srm(
        units.select("user_id"), "user_id", n_arms=2
    ).collect()
    terms = [r.chi2_term for r in srm_rows]
    chi2 = (
        round(sum(terms), 6)
        if srm_rows and all(t is not None for t in terms)
        else None
    )
    crit = CHI2_CRIT_001.get(max(len(srm_rows) - 1, 1))
    valid = chi2 is not None and chi2 < crit
    report["srm"] = {
        "arms": {r.arm: r.n_units for r in srm_rows},
        "chi2": chi2,
        "crit_alpha_001": crit,
        "valid": valid,
    }

    if valid:
        eff = ab_effect(units, scale=100).head()
        report["effect"] = {
            "n_ctl": eff.n_ctl, "n_trt": eff.n_trt,
            "mean_ctl": eff.mean_ctl, "mean_trt": eff.mean_trt,
            "diff": eff.diff, "se": eff.se, "t_stat": eff.t_stat,
        }
        cu = cuped_effect(units, scale=100).head()
        report["cuped"] = {
            "theta": cu.theta, "diff_raw": cu.diff_raw,
            "diff_adj": cu.diff_adj, "var_reduction": cu.var_reduction,
        }
        # UCB1's bonus is [0,1]-calibrated: scale it by the observed
        # metric span in unit terms so exploration means something
        span_row = units.agg(
            F.max("y").alias("mx"), F.min("y").alias("mn")
        ).head()
        span = max((span_row.mx or 0) - (span_row.mn or 0), 1) / 100.0
        report["next_allocation"] = [
            {"arm": r.arm, "n": r.n, "mean": r.mean, "ucb": r.ucb,
             "is_best": bool(r.is_best)}
            for r in ucb_allocation(units, scale=100, span=span).collect()
        ]
    else:
        # SRM tripped (or no data): the readout is VOID — emit the
        # verdict, never numbers someone might act on
        report["effect"] = {"void": True}
        report["cuped"] = {"void": True}
        report["next_allocation"] = {"void": True}
    report["wall_sec"] = round(time.time() - t0, 3)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=2, sort_keys=True)
    print(json.dumps({
        "metric": "experiment_readout",
        "srm_valid": report["srm"]["valid"],
        "diff": report["effect"].get("diff"),
        "t_stat": report["effect"].get("t_stat"),
        "cuped_var_reduction": report["cuped"].get("var_reduction"),
        "wall_sec": report["wall_sec"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()

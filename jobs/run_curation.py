"""spark-submit entry for the corpus-CURATION pipeline — the training-data
counterpart of the KG DAG (jobs/run_pipeline.py):

    quality filter → repetition filter → optional unigram-LM gate →
    exact dedup → near-dup survivor dedup (MinHash-LSH + connected
    components) → optional benchmark decontamination → optional
    duplicate-span masking → stratified language sample → optional
    domain-mix rebalance → curated parquet + one JSON stats line.

    spark-submit --master local[8] --py-files dist/bran_spark.zip \
        jobs/run_curation.py --sf-dir /root/testdata/sf0.01 --out /tmp/curated

Every stage is a registered, oracle-checked operator (q32, q52, q27,
q29/q50/q74, q108, q109, q61); this job is the composed flow a user runs end-to-end.
Funnel counters come from ONE aggregate per stage boundary over the lazily
chained plan — no extra passes over the corpus.
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
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--out", default=None, help="output dir for curated parquet (omit to skip the write)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--max-dup-word-frac", type=float, default=0.5)
    ap.add_argument("--sample-en", type=float, default=1.0)
    ap.add_argument("--sample-rest", type=float, default=1.0)
    ap.add_argument(
        "--min-logprob", type=float, default=None,
        help="unigram-LM gate: drop docs with mean ln p(word) below this "
             "(perplexity-proxy filter, operators/quality.unigram_logprob)",
    )
    ap.add_argument(
        "--bench", default=None,
        help="benchmark decontamination: parquet of (bench_id, btext) eval "
             "prompts; docs sharing any 8-word n-gram with it are dropped "
             "(operators/dedup.decontaminate)",
    )
    ap.add_argument(
        "--mask-dup-spans", action="store_true",
        help="rewrite surviving docs with corpus-duplicated 8-word windows "
             "removed (operators/dedup.mask_duplicate_spans)",
    )
    ap.add_argument(
        "--dsir-target", default=None,
        help="DSIR importance resampling: keep the --dsir-k docs whose "
             "unigram profile is most like this `source` slice "
             "(operators/sampling.importance_resample)",
    )
    ap.add_argument(
        "--dsir-k", type=int, default=200,
        help="document budget of the --dsir-target draw",
    )
    ap.add_argument(
        "--mix", default=None,
        help="domain-mix rebalance as src=share,... applied to the `source` "
             "column after sampling, e.g. 'src0=0.5,src1=0.5'",
    )
    ap.add_argument(
        "--mix-total", type=int, default=1000,
        help="target corpus size the --mix shares refer to",
    )
    ap.add_argument(
        "--checkpoint-root", default=None,
        help="commit each stage's survivor table as a manifest-parquet "
             "snapshot under this dir; a rerun resumes from the last "
             "valid commit (kill-safe, config-hash + lineage gated)",
    )
    ap.add_argument(
        "--metrics-out", default=None,
        help="dump per-stage spill/shuffle/skew + peak-memory counters "
             "(Spark status REST) to this JSON path before shutdown",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bran_spark.functions.text import quality_score
    from bran_spark.operators.components import dedup_corpus
    from bran_spark.operators.dedup import exact_dedup_groups, minhash_lsh_pairs
    from bran_spark.operators.fixpoint import materialize
    from bran_spark.operators.quality import repetition_stats
    from bran_spark.operators.sampling import stratified_sample
    from bran_spark.session import get_spark

    spark = get_spark(
        "bran_curation",
        master=args.master,
        extra_conf=(
            {"spark.ui.enabled": "true"} if args.metrics_out else None
        ),
    )
    t0 = time.time()
    from bran_spark.operators.dedup import _even_parallelism

    # defensive ingest: a docs table written by an upstream job with few
    # output partitions is few parquet ROW GROUPS — unsplittable, so every
    # stage of this funnel would serialize onto a handful of tasks (the r4
    # sf1.0 stress run measured 90 s single-task stages from a 1-row-group
    # input). No-op on properly-laid-out tables.
    # NOTE the lazy-funnel cost model: without --checkpoint-root every
    # funnel count re-evaluates the whole upstream chain, so anything at
    # the ROOT (this defensive repartition included) is paid once per
    # action. The checkpointed path evaluates each stage exactly once —
    # prefer it for anything beyond a smoke run.
    docs = _even_parallelism(
        spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    )
    n_input = docs.count()

    # optional per-stage checkpoint commits (north_rule: a killed job
    # resumes idempotently). Each stage's survivor table is committed via
    # the same manifest-parquet snapshot layer the flagship uses; a rerun
    # skips any stage whose committed snapshot carries the CURRENT config
    # hash and upstream snapshot ids (stale commits recompute). The funnel
    # counter of a resumed stage comes from its manifest — no recount job.
    tio = None
    if args.checkpoint_root:
        from bran_spark.sources.tableio import ManifestParquetTableIO

        tio = ManifestParquetTableIO(args.checkpoint_root)

    # Each stage is hashed against ONLY the parameters that affect it (plus
    # its upstream snapshot ids, which the inputs gate covers): one shared
    # all-knobs hash would invalidate cur_quality/cur_exact/cur_neardup when
    # a tail-only knob like --dsir-k changes, forcing a full-funnel
    # recompute on exactly the tune-the-tail workflow resume exists for
    # (ADVICE r4). Operator constants (shingle n, bands) live in these
    # dicts and are **-splatted into the operator calls below, so the
    # recorded hash and the executed parameters cannot drift apart.
    neardup_params = {"n": 4, "bands": 4}
    decontam_params = {"n": 8}
    mask_params = {"n": 8}
    stage_cfgs = {
        "cur_quality": {
            "sf_dir": args.sf_dir,
            "min_quality": args.min_quality,
            "max_dup_word_frac": args.max_dup_word_frac,
        },
        "cur_lm": {"min_logprob": args.min_logprob},
        "cur_exact": {},
        "cur_neardup": neardup_params,
        "cur_decontam": {"bench": args.bench, **decontam_params},
        "cur_masked": mask_params,
        "cur_dsir": {"dsir_target": args.dsir_target, "dsir_k": args.dsir_k},
    }
    resumed_stages: list[str] = []

    def _stage(table, build, inputs=None, count=True):
        """Build-or-resume one committed stage; returns (df, n_rows).
        count=False skips the funnel count in the no-checkpoint path
        (the mask stage derives its own counter — no wasted corpus pass).
        Every action run under this stage carries its name as the Spark
        job description, so --metrics-out can attribute skewed/spilling
        stages to the operator that owns them."""
        spark.sparkContext.setJobDescription(f"curation:{table}")
        stage_cfg = stage_cfgs[table]
        if tio is None:
            df = build()
            return df, (df.count() if count else None)
        if tio.exists_valid(table, stage_cfg, inputs):
            resumed_stages.append(table)
        else:
            tio.write(
                build(), table, stage=table, inputs=inputs, config=stage_cfg
            )
        return tio.read(spark, table), tio.manifest(table)["rows"]

    def _snap(table):
        return {table: tio.current_snapshot(table)} if tio else None

    # 1. quality + repetition gates (pure JVM column math, one pass)
    def _build_quality():
        rep = repetition_stats(docs, "doc_id", "text")
        return (
            docs.join(rep.select("doc_id", "dup_word_frac"), "doc_id")
            .withColumn("q", quality_score("text"))
            .where(
                (F.col("q") >= args.min_quality)
                & (F.col("dup_word_frac") <= args.max_dup_word_frac)
            )
            .drop("q", "dup_word_frac")
        )

    kept, n_quality = _stage("cur_quality", _build_quality)

    # 1b. optional unigram-LM perplexity-proxy gate
    n_lm = None
    if args.min_logprob is not None:
        from bran_spark.operators.quality import unigram_logprob

        def _build_lm(kept=kept):
            lm = unigram_logprob(kept, "doc_id", "text").where(
                F.col("logprob") >= args.min_logprob
            )
            return kept.join(lm.select("doc_id"), "doc_id", "left_semi")

        kept, n_lm = _stage("cur_lm", _build_lm, _snap("cur_quality"))

    # 2. exact dedup: keep min doc_id per content hash
    _exact_input = "cur_lm" if n_lm is not None else "cur_quality"

    def _build_exact(kept=kept):
        exact_keep = exact_dedup_groups(kept, "doc_id", "text").select(
            F.col("keep_id").alias("doc_id")
        )
        return kept.join(exact_keep, "doc_id", "left_semi")

    kept, n_exact = _stage("cur_exact", _build_exact, _snap(_exact_input))

    # 3. near-dup survivor dedup (LSH candidates → components → one per cluster)
    def _build_neardup(kept=kept):
        pairs = minhash_lsh_pairs(kept, "doc_id", "text", **neardup_params)
        return dedup_corpus(kept, pairs)

    kept, n_neardup = _stage("cur_neardup", _build_neardup, _snap("cur_exact"))

    # 3b. optional benchmark decontamination (eval-leak drop)
    n_decontam = None
    if args.bench:
        from bran_spark.operators.dedup import decontaminate

        def _build_decontam(kept=kept):
            bench = spark.read.parquet(args.bench)
            leaked = decontaminate(
                kept, bench, "doc_id", "text", "bench_id", "btext",
                **decontam_params,
            )
            return kept.join(leaked.select("doc_id"), "doc_id", "left_anti")

        kept, n_decontam = _stage(
            "cur_decontam", _build_decontam, _snap("cur_neardup")
        )

    # 3c. optional duplicate-span masking (rewrites text; doc count
    # unchanged — the funnel records how many docs were edited). The
    # committed table keeps n_words/n_kept so a resumed run recovers the
    # edited-doc counter from the (tiny) snapshot, not a corpus recompute.
    # The no-checkpoint path counts the PRE-JOIN masked table instead:
    # counting the joined frame would evaluate the kept-subtree twice per
    # action (measured 252→614 s on the smoke config when this job first
    # grew checkpoints — the lazy-funnel cost structure is the whole game
    # here, see BENCH note below).
    n_span_edited = None
    if args.mask_dup_spans:
        from bran_spark.operators.dedup import mask_duplicate_spans

        _mask_input = "cur_decontam" if args.bench else "cur_neardup"
        _edited = F.col("n_kept") < F.col("n_words")

        if tio is None:
            spark.sparkContext.setJobDescription("curation:span_edited_count")
            masked = mask_duplicate_spans(kept, "doc_id", "text", **mask_params)
            n_span_edited = masked.where(_edited).count()
            kept = kept.drop("text").join(
                masked.select(
                    F.col("id").alias("doc_id"),
                    F.col("clean_text").alias("text"),
                ),
                "doc_id",
            )
        else:

            def _build_masked(kept=kept):
                masked = mask_duplicate_spans(kept, "doc_id", "text", **mask_params)
                return kept.drop("text").join(
                    masked.select(
                        F.col("id").alias("doc_id"),
                        F.col("clean_text").alias("text"),
                        "n_words",
                        "n_kept",
                    ),
                    "doc_id",
                )

            kept, _ = _stage(
                "cur_masked", _build_masked, _snap(_mask_input), count=False
            )
            # cheap: counts the committed snapshot, not a recompute
            n_span_edited = kept.where(_edited).count()
            kept = kept.drop("n_words", "n_kept")

    # 3d. optional DSIR importance resampling toward an in-domain slice
    n_dsir = None
    if args.dsir_target:
        from bran_spark.operators.sampling import importance_resample

        _dsir_input = (
            "cur_masked"
            if args.mask_dup_spans
            else ("cur_decontam" if args.bench else "cur_neardup")
        )

        def _build_dsir(kept=kept):
            target = kept.where(F.col("source") == args.dsir_target)
            drawn = importance_resample(
                kept, target, "doc_id", "text", k=args.dsir_k
            )
            return kept.join(drawn.select("doc_id"), "doc_id", "left_semi")

        if tio is None:
            # materialize the <= dsir-k survivor set BEFORE counting it:
            # the materialization is the single evaluation of the
            # expensive two-model DSIR subtree, and the count plus every
            # later funnel action run against the stored rows (counting
            # first would evaluate the full chain an extra time)
            spark.sparkContext.setJobDescription("curation:cur_dsir")
            kept = materialize(_build_dsir())
            n_dsir = kept.count()
        else:
            kept, n_dsir = _stage("cur_dsir", _build_dsir, _snap(_dsir_input))

    # 4. deterministic stratified sample
    rates = {"en": args.sample_en}
    kept = stratified_sample(kept, "lang", rates, default_rate=args.sample_rest)
    spark.sparkContext.setJobDescription("curation:sample_count")
    n_out = kept.count()

    # 5. optional domain-mix rebalance toward target shares
    n_mix = None
    if args.mix:
        from bran_spark.operators.sampling import rebalance_mix

        shares = {
            k: float(v)
            for k, v in (kv.split("=") for kv in args.mix.split(","))
        }
        kept = rebalance_mix(kept, "source", shares, args.mix_total)
        n_mix = kept.count()
        n_out = n_mix

    if args.out:
        spark.sparkContext.setJobDescription("curation:final_write")
        kept.write.mode("overwrite").parquet(args.out)

    print(
        json.dumps(
            {
                "metric": "curation_funnel",
                "input_docs": n_input,
                "after_quality": n_quality,
                **({"after_lm_gate": n_lm} if n_lm is not None else {}),
                "after_exact_dedup": n_exact,
                "after_neardup_dedup": n_neardup,
                **({"after_decontam": n_decontam} if n_decontam is not None else {}),
                **({"span_edited_docs": n_span_edited} if n_span_edited is not None else {}),
                **({"after_dsir": n_dsir} if n_dsir is not None else {}),
                **({"after_mix": n_mix} if n_mix is not None else {}),
                "curated_docs": n_out,
                **(
                    {"resumed_stages": resumed_stages}
                    if args.checkpoint_root
                    else {}
                ),
                "wall_s": round(time.time() - t0, 3),
                "sf_dir": args.sf_dir,
                "out": args.out,
            }
        )
    )
    if args.metrics_out:
        from bran_spark.sources.metrics import collect_run_metrics

        with open(args.metrics_out, "w") as f:
            json.dump(collect_run_metrics(spark), f, indent=1)


if __name__ == "__main__":
    main()

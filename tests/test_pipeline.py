"""End-to-end flagship DAG: golden-triple parity (SURVEY.md §5.1 gate),
span invariant through stages, partition invariance."""

from __future__ import annotations

import csv
import os

import pyspark.sql.functions as F
import pytest

from bran_spark.plans.pipeline import Pipeline, PipelineConfig, flagship

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "triples_sf0.001.csv")


def _triples_rows(df):
    return {
        (r.subj, r.pred, r.obj, r.doc_id, round(r.score, 6))
        for r in df.select("subj", "pred", "obj", "doc_id", "score").collect()
    }


def test_flagship_runs_and_matches_golden(spark, fx_dir):
    got = _triples_rows(flagship(spark, fx_dir))
    assert len(got) > 0
    if not os.path.exists(GOLDEN):
        pytest.skip("golden not frozen yet (run tools/freeze_golden.py)")
    with open(GOLDEN) as f:
        want = {
            (r["subj"], r["pred"], r["obj"], r["doc_id"], float(r["score"]))
            for r in csv.DictReader(f)
        }
    # P/R >= 0.95 gate (BASELINE.md); with identical config we expect 1.0
    inter = len(got & want)
    precision = inter / len(got)
    recall = inter / len(want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall, len(got), len(want))
    assert got == want, f"non-identical: P={precision} R={recall}"


def test_span_sequence_preserved(spark, fx_dir):
    """BASELINE.json per-row invariant: the (kind, text, media_ref, order)
    span sequence is bit-identical after the tokenize stage (stages never
    mutate the spans column)."""
    cfg = PipelineConfig(fixture_dir=fx_dir, checkpoint=False)
    p = Pipeline(spark, cfg)
    orig = p.documents().select("doc_id", "spans")
    staged = p.tokenized().select("doc_id", "spans")
    assert orig.exceptAll(staged).count() == 0
    assert staged.exceptAll(orig).count() == 0


def test_partition_invariance(spark, fx_dir):
    """Identical triples under different shuffle-partition counts and score
    bucket counts (stand-in for executor-count invariance)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        cfg_a = PipelineConfig(fixture_dir=fx_dir, checkpoint=False, score_buckets=2)
        pa = Pipeline(spark, cfg_a)
        ma = pa.stage_mentions(resume=False)
        ta = _triples_rows(pa.stage_triples(pa.stage_scores(ma, resume=False), resume=False))

        spark.conf.set("spark.sql.shuffle.partitions", "16")
        cfg_b = PipelineConfig(fixture_dir=fx_dir, checkpoint=False, score_buckets=8)
        pb = Pipeline(spark, cfg_b)
        mb = pb.stage_mentions(resume=False)
        tb = _triples_rows(pb.stage_triples(pb.stage_scores(mb, resume=False), resume=False))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert ta == tb


def test_lazy_run_creates_no_checkpoint_dir(spark, fx_dir, tmp_path):
    """With checkpointing off nothing is committed, so neither building the
    pipeline nor running its mention stage creates the checkpoint root."""
    root = tmp_path / "ckpt"
    cfg = PipelineConfig(fixture_dir=fx_dir, checkpoint_root=str(root), checkpoint=False)
    assert Pipeline(spark, cfg).stage_mentions(resume=False).count() > 0
    assert not root.exists()


def test_flagship_reads_each_input_once(spark, fx_dir, monkeypatch):
    """Building the flagship reads the documents and the dictionary once
    each: every stage that takes them gets the same DataFrame."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        reads.extend(os.path.basename(p) for p in paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    flagship(spark, fx_dir)
    assert reads.count("documents_interleaved.parquet") == 1, reads
    assert reads.count("mesh_dict.parquet") == 1, reads


def test_checkpointing_needs_a_root(fx_dir):
    """A root is required only where something is committed."""
    with pytest.raises(ValueError, match="checkpoint_root"):
        PipelineConfig(fixture_dir=fx_dir)
    assert PipelineConfig(fixture_dir=fx_dir, checkpoint=False).checkpoint_root is None


def test_eval_metrics_emitted(spark, fx_dir, tmp_path):
    cfg = PipelineConfig(
        fixture_dir=fx_dir, checkpoint_root=str(tmp_path / "ck"), theta=0.0
    )
    res = Pipeline(spark, cfg).run()
    for k in ("docs", "mentions", "pair_scores", "triples", "edges",
              "precision", "recall", "f1"):
        assert k in res
    assert res["triples"] > 0 and 0.0 <= res["f1"] <= 1.0


def test_joint_emit_both_end_to_end(spark, fx_dir):
    """emit="both" (P4 joint NER+pairs from ONE encoder pass) through the
    full DAG: the funnel reports a ner_tags row, and the triples are
    IDENTICAL to a pairs-only run — the joint head must not perturb the
    relation path (it is one extra matmul on the same encoding)."""
    docs = (
        spark.read.parquet(os.path.join(fx_dir, "documents_interleaved.parquet"))
        .orderBy("doc_id").limit(60)
    )

    def run(emit):
        cfg = PipelineConfig(fixture_dir=fx_dir, checkpoint=False, emit=emit)
        p = Pipeline(spark, cfg, docs_df=docs)
        res = p.run(resume=False, evaluate=False)
        return res

    both = run("both")
    pairs = run("pairs")
    assert both["ner_tags"] > 0
    assert both["pair_scores"] == pairs["pair_scores"]
    assert both["triples"] == pairs["triples"]
    assert both["edges"] == pairs["edges"]
    assert "ner_tags" not in pairs


def test_curation_job_funnel(tmp_path, testdata_dir):
    """jobs/run_curation.py end-to-end: funnel counts monotone, curated
    parquet written and readable."""
    import json
    import subprocess
    import sys

    import duckdb as _ddb

    # a tiny benchmark file: the 12-word prefix of every 41st doc (same
    # deterministic derivation as q108) — guarantees the decontamination
    # stage has real positives to drop
    bench = str(tmp_path / "bench.parquet")
    _ddb.sql(
        f"""COPY (SELECT doc_id AS bench_id,
                     array_to_string(list_slice(
                       string_split_regex(trim(lower(text)), ' +'), 1, 12), ' ')
                       AS btext
              FROM '{testdata_dir}/documents.parquet'
              WHERE doc_id % 41 = 0) TO '{bench}' (FORMAT PARQUET)"""
    )
    out = str(tmp_path / "curated")
    # --checkpoint-root: the full-option funnel's lazy form re-evaluates
    # the whole upstream chain per counter (~7 min at sf0.001); the
    # checkpointed mode evaluates each stage exactly once (~20 s) and is
    # the recommended way to run every optional stage at once. The pure
    # lazy path stays covered by the default-option smoke below.
    r = subprocess.run(
        [sys.executable, "jobs/run_curation.py", "--sf-dir", testdata_dir,
         "--out", out, "--master", "local[4]",
         "--min-logprob", "-20.0",
         "--bench", bench, "--mask-dup-spans",
         "--dsir-target", "src0", "--dsir-k", "120",
         "--mix", "src0=0.25,src1=0.25,src2=0.25,src3=0.25",
         "--mix-total", "200",
         "--checkpoint-root", str(tmp_path / "ck")],
        capture_output=True, text=True, timeout=600,
        cwd=__import__("os").path.dirname(__import__("os").path.dirname(__file__)),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert (
        stats["input_docs"] >= stats["after_quality"]
        >= stats["after_lm_gate"]
        >= stats["after_exact_dedup"] >= stats["after_neardup_dedup"]
        >= stats["after_decontam"]
        >= stats["after_dsir"]
        >= stats["after_mix"] == stats["curated_docs"] > 0
    )
    assert stats["after_dsir"] <= 120          # DSIR respects its budget
    # decontamination dropped at least the surviving bench-source docs
    assert stats["after_decontam"] < stats["after_neardup_dedup"]
    assert stats["span_edited_docs"] >= 0
    import duckdb

    n = duckdb.sql(f"SELECT COUNT(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n == stats["curated_docs"]

    # default-option lazy path (no checkpoint root): the quick form a
    # smoke user runs; must agree with the checkpointed run on the shared
    # stage counters
    r2 = subprocess.run(
        [sys.executable, "jobs/run_curation.py", "--sf-dir", testdata_dir,
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=600,
        cwd=__import__("os").path.dirname(__import__("os").path.dirname(__file__)),
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    lazy = json.loads(r2.stdout.strip().splitlines()[-1])
    for k in ("input_docs", "after_quality", "after_exact_dedup",
              "after_neardup_dedup"):
        assert lazy[k] == stats[k], k


def test_kg_publish_job(tmp_path):
    """jobs/run_kg_publish.py end-to-end: dedup+support shrinks the raw
    triple stream, validation reports zero domain/range violations on
    well-typed mesh ids, partitioned publish is readable and
    pred-partitioned, and --min-support gates monotonically."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(__file__))
    out = str(tmp_path / "pub")
    r = subprocess.run(
        [sys.executable, "jobs/run_kg_publish.py", "--sf", "0.001",
         "--master", "local[4]", "--out", out, "--fail-on-violations"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["raw_triples"] >= stats["published_triples"] > 0
    assert stats["validation"]["CID/domain"][1] == 0
    assert stats["validation"]["CID/range"][1] == 0
    # pred-partitioned layout on disk
    assert os.path.isdir(os.path.join(out, "triples", "pred=CID"))

    r2 = subprocess.run(
        [sys.executable, "jobs/run_kg_publish.py", "--sf", "0.001",
         "--master", "local[4]", "--min-support", "2"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    stats2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert stats2["published_triples"] < stats["published_triples"]


def test_datacard_job_sections(tmp_path, testdata_dir):
    """jobs/run_datacard.py end-to-end: the governance datasheet carries
    every section with internally consistent numbers."""
    import json
    import os
    import subprocess
    import sys

    out = str(tmp_path / "card.json")
    r = subprocess.run(
        [sys.executable, "jobs/run_datacard.py", "--sf-dir", testdata_dir,
         "--out", out, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(__file__)),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    card = json.load(open(out))
    comp = card["composition"]
    assert comp["n_docs"] > 0 and comp["n_tokens_ws"] > comp["n_docs"]
    assert sum(card["mix"].values()) == comp["n_docs"]
    q10, q50, q90 = card["quality_score_p10_p50_p90"]
    assert q10 <= q50 <= q90
    assert 0.0 <= card["exact_dup_rate"] < 1.0
    # pii: one row per (source, pattern); synthetic corpus has no PII
    assert len(card["pii"]) == comp["n_sources"] * 4
    assert all(p["n_docs_hit"] == 0 for p in card["pii"])
    assert card["k_anonymity"]["qi"] == ["lang", "source"]
    cols = {c["col"]: c for c in card["columns"]}
    assert cols["lang"]["n_distinct"] == comp["n_langs"]
    assert cols["source"]["n_distinct"] == comp["n_sources"]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["n_docs"] == comp["n_docs"]


def test_experiment_job_readout(tmp_path, testdata_dir):
    """jobs/run_experiment.py end-to-end: SRM gate, effect, CUPED and
    UCB sections present and internally consistent."""
    import json
    import os
    import subprocess
    import sys

    out = str(tmp_path / "exp.json")
    r = subprocess.run(
        [sys.executable, "jobs/run_experiment.py", "--sf-dir", testdata_dir,
         "--out", out, "--master", "local[4]"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(__file__)),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.load(open(out))
    assert set(rep["srm"]["arms"]) == {"0", "1"}  # JSON keys
    assert rep["srm"]["chi2"] >= 0
    eff = rep["effect"]
    assert eff["n_ctl"] + eff["n_trt"] == sum(rep["srm"]["arms"].values())
    assert abs(eff["diff"] - (eff["mean_trt"] - eff["mean_ctl"])) < 1e-3
    assert rep["cuped"]["diff_raw"] is not None
    assert 0 <= rep["cuped"]["var_reduction"] <= 1
    ucb = rep["next_allocation"]
    assert len(ucb) == 2 and sum(a["is_best"] for a in ucb) == 1
    for a in ucb:
        assert a["ucb"] >= a["mean"]


def test_ontology_audit_job(tmp_path, testdata_dir):
    """jobs/run_ontology_audit.py end-to-end: the clean lifted KG passes
    every gate; the --dirty mis-extraction injection trips disjointness
    AND domain conformance (worst pred = in_region), and
    --fail-on-violations turns that into a non-zero exit."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(__file__))
    out = str(tmp_path / "onto.json")
    r = subprocess.run(
        [sys.executable, "jobs/run_ontology_audit.py",
         "--sf-dir", testdata_dir, "--master", "local[4]",
         "--out", out, "--fail-on-violations"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(open(out).read())
    assert rep["all_satisfied"] is True
    assert rep["disjointness"]["n_violations"] == 0
    assert rep["domain_conformance"]["min_conformance"] == 1.0
    assert rep["closure"]["n_type_assertions"] > 0

    r2 = subprocess.run(
        [sys.executable, "jobs/run_ontology_audit.py",
         "--sf-dir", testdata_dir, "--master", "local[4]",
         "--dirty", "--fail-on-violations"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert r2.returncode == 2, (r2.returncode, r2.stderr[-2000:])
    rep2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert rep2["disjointness"]["n_violations"] > 0
    assert rep2["domain_conformance"]["worst_pred"] == "in_region"
    assert rep2["domain_conformance"]["min_conformance"] < 1.0
    # the noise is a minority of in_region rows: induced dominant type
    # must still agree with the declared domain
    assert rep2["induced_vs_declared"]["satisfied"] is True

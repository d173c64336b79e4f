"""The flagship KG-construction DAG (SURVEY.md §3 E3, §4.4).

documents_interleaved ──(JVM array ops)── full_text
  → word split (Arrow pandas UDF) → mention detection (broadcast dict
    join, JVM) → linking/canonicalize (J4)
  → full_text ⋈ per-doc mention lists
  → BPE tokenize + encode + score in one mapInPandas (X1+P1+P2) —
    per-bucket commits
  → LSE pooling (A2, relational) → threshold (F7)
  → triples (D8) partitioned by pred (S7) → salted dedup/edges (A5/P3)
  → eval vs gold (J6/J7/A4)

Two Python crossings: the word split and the scorer. With checkpointing,
the linked mentions, the score buckets, the triples and the edges commit
through ManifestParquetTableIO (lineage + counters); ``resume=True`` skips
committed stages/buckets — the kill-and-rerun idempotency gate in
tests/test_resume.py drives exactly this path.

Shuffle budget (SURVEY.md §4.4): detection join is broadcast (no shuffle);
the text ⋈ mentions join and the scorer's round-robin repartition feed the
scorer; LSE pools on (doc, chem, dis); triple dedup on (subj, pred, obj).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bran_spark.functions.bpe import full_text_col, load_codec, with_tokens, with_words
from bran_spark.model.encoder import Weights
from bran_spark.model.scorer import score_documents
from bran_spark.operators.evaluate import confusion
from bran_spark.operators.fixpoint import materialize
from bran_spark.operators.linking import canonical_triples, link_mentions
from bran_spark.operators.mentions import detect_mentions
from bran_spark.operators.pooling import dedup_triples, lse_pool, threshold, to_triples
from bran_spark.sources.tableio import ManifestParquetTableIO


@dataclass
class PipelineConfig:
    fixture_dir: str
    checkpoint_root: str | None = None  # required when checkpoint=True
    theta: float = 0.0
    score_buckets: int = 8          # resume granularity of the expensive stage
    salt_buckets: int = 16          # P3 skew fan-out
    max_tokens: int = 512           # F4 cap
    checkpoint: bool = True
    emit: str = "pairs"             # "pairs" | "both" (joint NER+pairs, P4)

    def __post_init__(self):
        if self.checkpoint and self.checkpoint_root is None:
            raise ValueError("PipelineConfig: checkpoint=True needs a checkpoint_root")


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        docs_df: DataFrame | None = None,
        mesh_df: DataFrame | None = None,
    ):
        """``docs_df``/``mesh_df`` inject alternative inputs (e.g. the
        plain-corpus adapter, sources.interleave); default reads the
        fixture tables from cfg.fixture_dir, each once per Pipeline."""
        self.spark = spark
        self.cfg = cfg
        # a lazy run commits nothing, so it opens (and creates) no store
        self.io = ManifestParquetTableIO(cfg.checkpoint_root) if cfg.checkpoint else None
        self._docs_df = docs_df
        self._mesh_df = mesh_df
        self._tables: dict[str, DataFrame] = {}
        self._codec_bc = None
        self._weights_bc = None
        self._src_parts = None

    # ---- inputs ----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.fixture_dir, f"{name}.parquet")

    def _table(self, name: str) -> DataFrame:
        """The fixture table, read once: every stage that reads it gets the
        same DataFrame. Each ``spark.read`` lists the files and infers the
        schema on the driver, a cost paid on every build, and the optimized
        plan is the same either way."""
        if name not in self._tables:
            self._tables[name] = self.spark.read.parquet(self._path(name))
        return self._tables[name]

    def documents(self) -> DataFrame:
        if self._docs_df is not None:
            return self._docs_df
        return self._table("documents_interleaved")

    def _n_docs(self) -> int:
        """Input row count from the parquet footer when driver-readable —
        a count() job on the corpus is ~1s of serial wall per run."""
        if self._docs_df is not None:
            return self._docs_df.count()
        try:
            import pyarrow.parquet as pq

            return pq.ParquetFile(self._path("documents_interleaved")).metadata.num_rows
        except OSError:
            return self.documents().count()

    def _even_repartition(self, df: DataFrame) -> DataFrame:
        """Round-robin repartition to one partition per core BEFORE a python
        stage when the source has too few splits — one fat parquet row
        group or a small file count would otherwise serialize the word
        split onto a handful of tasks. That split is linear in the text, so
        more partitions than cores only add Python tasks, each with a fixed
        start-up cost; the scorer, whose cost varies with doc length²,
        oversubscribes with its own repartition (stage_scores). On a real
        cluster the table layout provides the splits; this is the defensive
        floor. The probe result is cached: getNumPartitions launches a
        file-listing job per call, and the plan is probed from several
        stages."""
        if self._src_parts is None:
            self._src_parts = df.rdd.getNumPartitions()
        par = self.spark.sparkContext.defaultParallelism
        if self._src_parts < par:
            return df.repartition(par)
        return df

    def mesh_dict(self) -> DataFrame:
        if self._mesh_df is not None:
            return self._mesh_df
        return self._table("mesh_dict")

    def codec_bc(self):
        if self._codec_bc is None:
            codec = load_codec(
                self.spark, self._path("bpe_merges"), self._path("vocab")
            )
            self._codec_bc = self.spark.sparkContext.broadcast(codec)
        return self._codec_bc

    def weights_bc(self):
        """Encoder weights with the BPE codec and the F4 cap: everything the
        scorer needs to turn text into pair logits, in one broadcast."""
        if self._weights_bc is None:
            w = Weights.load(
                os.path.join(self.cfg.fixture_dir, "model_weights.npz"),
                codec=load_codec(self.spark, self._path("bpe_merges"), self._path("vocab")),
                max_tokens=self.cfg.max_tokens,
            )
            self._weights_bc = self.spark.sparkContext.broadcast(w)
        return self._weights_bc

    # ---- stages ----------------------------------------------------------
    def tokenized(self) -> DataFrame:
        """documents + full_text + words + BPE tokens (+F4 length cap).

        The read is evenly repartitioned BEFORE the pandas UDF — see
        _even_repartition.
        """
        docs = self._even_repartition(self.documents())
        docs = docs.withColumn("full_text", full_text_col("spans"))
        toks = with_tokens(docs, self.codec_bc())
        return toks.withColumn(
            "tokens", F.slice("tokens", 1, self.cfg.max_tokens)
        ).withColumn("n_toks", F.size("tokens"))

    def worded(self) -> DataFrame:
        """documents + full_text + words — the detection input. No BPE: the
        scorer tokenizes the text itself."""
        docs = self._even_repartition(self.documents())
        return with_words(docs.withColumn("full_text", full_text_col("spans")))

    def stage_mentions(self, resume: bool = True) -> DataFrame:
        # the mentions depend on no config: a committed table always holds
        if self.cfg.checkpoint and resume and self.io.exists_valid("mentions_linked"):
            return self.io.read(self.spark, "mentions_linked")
        mentions = detect_mentions(self.worded(), self.mesh_dict())
        if not self.cfg.checkpoint:
            return link_mentions(mentions, self.mesh_dict())[0]
        # both writes read the detected mentions: compute them, and the
        # word split under them, once
        linked, unlinked = link_mentions(materialize(mentions), self.mesh_dict())
        self.io.write(unlinked, "mentions_unlinked", stage="link")
        self.io.write(linked, "mentions_linked", stage="detect+link")
        return self.io.read(self.spark, "mentions_linked")

    def _score_input(self, mentions: DataFrame, resume: bool = True) -> DataFrame:
        """(doc_id, full_text, mentions) rows: the scorer tokenizes the text
        in the same Python pass that encodes it. ``resume`` has no effect:
        no stage between the documents and the scorer is committed."""
        docs = self.documents().select(
            "doc_id", full_text_col("spans").alias("full_text")
        )
        magg = mentions.groupBy("doc_id").agg(
            F.collect_list(
                F.struct("mention_id", "type", "mesh_id", "start", "end")
            ).alias("mentions")
        )
        return docs.join(magg, "doc_id", "inner")

    def stage_scores(self, mentions: DataFrame, resume: bool = True) -> DataFrame:
        """Tokenize + encode + bi-affine score, committed per doc_id hash
        bucket. No repartitionByRange here: range partitioning needs a
        sampling pass that re-executes the input lineage."""
        B = self.cfg.score_buckets
        par = self.spark.sparkContext.defaultParallelism
        if not self.cfg.checkpoint:
            # ROUND-ROBIN repartition, NOT hash-by-doc_id: the input is one
            # row per doc, so no co-location is needed, and a hash
            # repartition on doc_id collapses into the preceding join's
            # identical partitioning — which AQE then coalesces into few,
            # UNEVEN partitions (measured: 43 ragged tasks, 15.9-37.9s, a
            # 48s stage wall vs the 33.6s even-packing ideal at 32 cores).
            # repartition(n) has REPARTITION_BY_NUM origin, which AQE never
            # coalesces; 4×cores tasks keep the tail short against the
            # doc-length^2 encode-cost variance.
            inp = self._score_input(mentions, resume).repartition(par * 4)
            return score_documents(inp, self.weights_bc(), emit=self.cfg.emit)
        # bucket config holds only what the SCORES depend on (max_tokens,
        # emit — a "both" run writes the kind-discriminated union schema) —
        # theta gates downstream at stage_triples, so a theta sweep reuses
        # the expensive committed score buckets instead of re-encoding
        # score_buckets is part of the hash: buckets committed under a
        # different modulus must never merge with the new partitioning (a
        # doc would appear in two buckets and its scores double)
        score_cfg = {
            "max_tokens": self.cfg.max_tokens,
            "emit": self.cfg.emit,
            "score_buckets": B,
        }
        done = self.io.committed_buckets("pair_scores", score_cfg)
        todo = [b for b in range(B) if b not in done]
        if todo:
            inp = self._score_input(mentions, resume).withColumn(
                "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(B))
            )
            for b in todo:
                part = (
                    inp.where(F.col("_bucket") == b)
                    .drop("_bucket")
                    .repartition(max(4, par * 4 // B))
                )
                self.io.commit_bucket(
                    score_documents(part, self.weights_bc(), emit=self.cfg.emit),
                    "pair_scores", b, stage="encode+score",
                    config=score_cfg,
                )
        # config-scoped read: after an emit/max_tokens change with a partial
        # recompute, stale-config buckets must not merge into the result
        return self.io.read_buckets(self.spark, "pair_scores", score_cfg)

    @staticmethod
    def split_joint_scores(scores: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Split the emit="both" kind-discriminated union into its two
        consumers' views: (pair_scores with SCORE_SCHEMA columns, ner_tags
        with NER_SCHEMA columns). Both are cheap filters over the ONE
        committed encoder output — the 100 TB point of the joint mode is
        that the corpus is encoded once for both artifacts."""
        pairs = scores.where(F.col("kind") == "pair").select(
            "doc_id", "chem_mention_id", "dis_mention_id",
            "chem_mesh", "dis_mesh", "score",
        )
        ner = scores.where(F.col("kind") == "ner").select(
            "doc_id", "tok_idx", "tok_start", "ner_tag",
            F.col("score").alias("ner_score"),
        )
        return pairs, ner

    def stage_triples(self, scores: DataFrame, resume: bool = True) -> DataFrame:
        # the gate must cover EVERY config determinant of the triples, not
        # just theta: a max_tokens/emit change recomputes the scores, and a
        # theta-only hash would then serve stale triples on top of them
        triples_cfg = {
            "theta": self.cfg.theta,
            "max_tokens": self.cfg.max_tokens,
            "emit": self.cfg.emit,
        }
        if self.cfg.checkpoint and resume and self.io.exists_valid(
            "triples", triples_cfg
        ):
            return self.io.read(self.spark, "triples")
        if self.cfg.emit == "both":
            scores, _ = self.split_joint_scores(scores)
        pooled = lse_pool(scores, ["doc_id", "chem_mesh", "dis_mesh"], "score")
        kept = threshold(pooled, self.cfg.theta)
        triples = canonical_triples(to_triples(kept), self.mesh_dict())
        if self.cfg.checkpoint:
            self.io.write(
                triples, "triples", stage="pool+threshold+canonicalize",
                inputs={"pair_scores": None},
                partition_by=["pred"],           # S7 layout mandate
                config=triples_cfg,
            )
            return self.io.read(self.spark, "triples")
        return triples

    def stage_edges(self, triples: DataFrame, resume: bool = True) -> DataFrame:
        if self.cfg.checkpoint and resume and self.io.exists_valid(
            "edges", inputs={"triples": self.io.current_snapshot("triples")}
        ):
            return self.io.read(self.spark, "edges")
        edges = dedup_triples(triples, self.cfg.salt_buckets)
        if self.cfg.checkpoint:
            self.io.write(
                edges, "edges", stage="dedup+support",
                inputs={"triples": self.io.current_snapshot("triples")},
                partition_by=["pred"],
            )
            return self.io.read(self.spark, "edges")
        return edges

    # ---- end to end ------------------------------------------------------
    def run(self, resume: bool = True, evaluate: bool = True) -> dict:
        """With checkpointing, each stage materializes exactly once and
        counts come from the committed manifests. Without it, the DAG up to
        the triples runs as ONE action (intermediate counts ride along as
        ``observe`` metrics — no extra passes, no block-manager caching of
        the fat token intermediates) that materializes only the small
        triples table for the edges/eval consumers."""
        from pyspark.sql import Observation

        t0 = time.time()
        mentions = self.stage_mentions(resume)
        m_obs = s_obs = None
        if not self.cfg.checkpoint:
            m_obs = Observation("mentions_rows")
            mentions = mentions.observe(m_obs, F.count(F.lit(1)).alias("n"))
        scores = self.stage_scores(mentions, resume)
        if not self.cfg.checkpoint:
            s_obs = Observation("score_rows")
            aggs = [F.count(F.lit(1)).alias("n")]
            if self.cfg.emit == "both":
                # ner row count rides the same observation — no extra job
                aggs.append(
                    F.sum((F.col("kind") == "ner").cast("long")).alias("n_ner")
                )
            scores = scores.observe(s_obs, *aggs)
        triples = self.stage_triples(scores, resume)
        t_obs = None
        if not self.cfg.checkpoint:
            # one action runs the DAG up to the triples and materializes
            # the small triples table for the edges/eval consumers; the row
            # count rides along as an observation (a separate
            # triples.count() job costs ~1-2s of pure serial time per run)
            t_obs = Observation("triple_rows")
            triples = materialize(
                triples.observe(t_obs, F.count(F.lit(1)).alias("n"))
            )
        edges = self.stage_edges(triples, resume)

        if self.cfg.checkpoint:
            n_triples = self.io.manifest("triples")["rows"]
            n_mentions = self.io.manifest("mentions_linked")["rows"]
            score_cfg = {
                "max_tokens": self.cfg.max_tokens,
                "emit": self.cfg.emit,
                "score_buckets": self.cfg.score_buckets,
            }
            # config-scoped: stale-config leftover buckets (e.g. after a
            # score_buckets change) are excluded from the data by
            # read_buckets, so the counter must exclude them too
            n_scores = self.io.bucket_rows("pair_scores", score_cfg)
            n_edges = self.io.manifest("edges")["rows"]
            n_ner = (
                self.io.read_buckets(self.spark, "pair_scores", score_cfg)
                .where(F.col("kind") == "ner").count()
                if self.cfg.emit == "both" else None
            )
        else:
            n_edges = edges.count()
            n_mentions = int(m_obs.get["n"])
            n_scores = int(s_obs.get["n"])
            n_triples = int(t_obs.get["n"])
            # F.sum over zero observed rows yields NULL -> None
            n_ner = (
                int(s_obs.get["n_ner"] or 0) if self.cfg.emit == "both" else None
            )
        out = {
            "docs": self._n_docs(),
            "mentions": n_mentions,
            "pair_scores": n_scores if n_ner is None else n_scores - n_ner,
            "triples": n_triples,
            "edges": n_edges,
            "wall_s": round(time.time() - t0, 3),
        }
        if n_ner is not None:
            out["ner_tags"] = n_ner
        if evaluate:
            gold = self.spark.read.parquet(self._path("gold_relations")).select(
                "doc_id", "chem_mesh", "dis_mesh"
            )
            pred = triples.select(
                F.col("subj").alias("chem_mesh"),
                F.col("obj").alias("dis_mesh"),
                "doc_id",
            )
            m = confusion(pred, gold).head()
            out.update(
                {"precision": m.precision, "recall": m.recall, "f1": m.f1}
            )
        return out


def flagship(spark: SparkSession, fixture_dir: str, checkpoint_root: str | None = None,
             checkpoint: bool = False, theta: float = 0.0,
             docs_df: DataFrame | None = None, mesh_df: DataFrame | None = None) -> DataFrame:
    """The __spark_entry__.entry() DataFrame: end-to-end triples, lazily
    composed (no checkpointing) so the driver can inspect the single plan."""
    cfg = PipelineConfig(
        fixture_dir=fixture_dir,
        checkpoint_root=checkpoint_root or (
            os.path.join(os.getcwd(), "checkpoints", "entry") if checkpoint else None
        ),
        checkpoint=checkpoint,
        theta=theta,
    )
    p = Pipeline(spark, cfg, docs_df=docs_df, mesh_df=mesh_df)
    mentions = p.stage_mentions(resume=False)
    scores = p.stage_scores(mentions, resume=False)
    return p.stage_triples(scores, resume=False)


def flagship_plain(spark: SparkSession, sf_dir: str, theta: float = 0.0) -> DataFrame:
    """Flagship DAG over a *plain* corpus (the driver's documents.parquet):
    plain text → interleaved shape (sources.interleave) → full KG pipeline.
    BPE/weights come from the seeded sf0.001 fixtures (scale-independent)."""
    from bran_spark.fixtures.gen import ensure, fixture_dir as fdir
    from bran_spark.sources.interleave import interleave_documents, plain_mesh_dict

    ensure(0.001)
    plain = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return flagship(
        spark,
        fdir(0.001),
        theta=theta,
        docs_df=interleave_documents(plain),
        mesh_df=plain_mesh_dict(spark),
    )

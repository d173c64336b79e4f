"""Incremental / streaming front-end (SURVEY.md §2.9).

The reference is batch research code — nothing consumes a stream. The
operational mandate (north_rule) is *resumability and idempotence*, which the
checkpoint layer provides. This module adds the genuine Structured Streaming
front-end for when documents arrive continuously:

- ``incremental_triples``: file-source stream over ``documents_interleaved``
  parquet snapshots → ``foreachBatch`` runs the SAME batch pipeline stages →
  appends to a triples sink. ``Trigger.AvailableNow`` drains whatever is new
  and stops; Spark's streaming checkpoint (source offsets) guarantees each
  input file is processed exactly once across restarts — the streaming twin
  of the manifest-based batch resume.
- ``windowed_event_counts``: event-time tumbling window + watermark demo over
  an events stream (late-data handling capability).

At cluster scale the same code runs continuously (drop the trigger): the
pipeline is per-document (embarrassingly parallel up to the per-doc pair
scope), so micro-batches scale exactly like the batch job.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bran_spark.operators.fixpoint import materialize

SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def incremental_triples(
    spark: SparkSession,
    docs_dir: str,
    fixture_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    theta: float = 0.0,
) -> int:
    """Drain new document files from ``docs_dir`` into the triples sink.

    Returns the number of micro-batches processed. Each micro-batch runs the
    full batch DAG (tokenize → detect → score → pool → threshold → triples)
    on only the new documents — identical semantics to a batch catch-up, with
    exactly-once file tracking from the streaming checkpoint.
    """
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    cfg = PipelineConfig(
        fixture_dir=fixture_dir,
        checkpoint=False,
        theta=theta,
    )
    n_batches = {"n": 0}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        p = Pipeline(spark, cfg, docs_df=batch_df)
        mentions = p.stage_mentions(resume=False)
        scores = p.stage_scores(mentions, resume=False)
        triples = p.stage_triples(scores, resume=False)
        (
            triples.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("pred")
            .parquet(out_dir)
        )
        n_batches["n"] += 1

    stream = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "offsets"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def stateful_user_counters(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user running counters carried across micro-batches.

    State = (n_events, total_value, last_ts); each micro-batch folds its
    rows into the state and emits the updated snapshot. This is the
    arbitrary-stateful-logic escape hatch for operators the built-in
    window/session aggregations can't express (per-key model state,
    sketches, custom eviction); state lives in the streaming state store,
    partitioned by the group key — the same shuffle-by-key scaling story as
    any aggregation.
    """
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("last_us", T.LongType()),
        ]
    )

    def fold(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(events_dir)
    counts = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        counts.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "state_offsets"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> None:
    """Event-time tumbling-window counts with a watermark (late-data bound).

    Append-mode file sink: a window only emits once the watermark passes its
    end — the standard late-data-tolerant streaming aggregation shape.
    """
    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(events_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "win_offsets"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> None:
    """Streaming exact dedup over an arriving document stream: first sight
    of each content hash passes, later copies are dropped —
    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the
    watermark horizon, so state size tracks the late-data window instead of
    corpus history (the property that keeps this runnable forever at
    ingest scale; historic dedup is the batch operator's job downstream).
    Exactly-once via the streaming checkpoint, resumable like every other
    stage.
    """
    docs = spark.readStream.schema(
        "doc_id string, text string, ts timestamp"
    ).parquet(docs_dir)
    deduped = (
        docs.withColumn("content_hash", F.md5("text"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "dedup_offsets"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_view_purchase_join(
    spark: SparkSession,
    views_dir: str,
    purchases_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "2 hours",
    max_gap_expr: str = "INTERVAL 1 HOUR",
) -> None:
    """Watermarked stream-stream inner join — the streaming analog of the
    batch as-of join (operators/asof.py): attribute each purchase to any
    view by the same user within the preceding ``max_gap_expr``.

    Both inputs carry watermarks and the join condition bounds event-time
    distance, so Spark can expire buffered state on BOTH sides (an
    unbounded stream-stream join would hold every past row forever — the
    time-range predicate is what makes this runnable at ingest scale).
    Exactly-once via the shared streaming checkpoint, AvailableNow trigger
    so batch backfills use the identical code path.
    """
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    views = (
        spark.readStream.schema(schema)
        .parquet(views_dir)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(purchases_dir)
        .select(
            "event_id",
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_user = v_user AND p_ts >= v_ts "
            f"AND p_ts <= v_ts + {max_gap_expr}"
        ),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "ss_join"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_corpus_ingest(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Incremental ingest with dedup against the COMMITTED corpus — the
    other half of streaming dedup (``streaming_exact_dedup`` bounds its
    state to the watermark horizon; history is this operator's job): each
    micro-batch dedups within itself, LEFT-ANTI joins the already-committed
    content hashes, and appends only genuinely-new documents.

    Scale shape: the committed side is read as (content_hash) only — column
    pruning reaches the parquet scan — and on a real deployment that store
    is bucketed/partitioned by hash prefix so the anti-join co-locates
    instead of shuffling history per batch. The pattern is SELF-HEALING
    under foreachBatch's at-least-once retries: a replayed batch re-derives
    the same content hashes, the anti-join now finds them committed, and
    appends nothing — content-keyed idempotence without a transaction log.
    """
    docs = spark.readStream.schema(
        "doc_id string, text string, ts timestamp"
    ).parquet(docs_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = (
            batch_df.withColumn("content_hash", F.md5("text"))
            .dropDuplicates(["content_hash"])
        )
        out_spark = batch.sparkSession
        # probe the committed store by READING it (works on hdfs://, s3a://,
        # any URI — not just driver-local POSIX paths, and sees exactly the
        # files Spark's reader sees, so a crashed write's _temporary litter
        # can't wedge retries): an empty/absent store raises
        # UNABLE_TO_INFER_SCHEMA / PATH_NOT_FOUND, which IS the signal
        try:
            seen = out_spark.read.parquet(out_dir).select("content_hash")
            batch = batch.join(seen, "content_hash", "left_anti")
        except AnalysisException:
            pass  # nothing committed yet — first batch appends everything
        batch.write.mode("append").parquet(out_dir)

    q = (
        docs.writeStream.foreachBatch(process)
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "ingest_offsets")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_sessionize(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> None:
    """Streaming sessionization with the NATIVE session_window — the
    streaming twin of operators/sessions.sessionize: per-user sessions
    whose gap-merge happens inside the watermarked streaming aggregation,
    so a session closes (and is emitted, exactly once, in append mode)
    only when the watermark passes its end. State is bounded by the
    watermark horizon per key — the same survives-forever property as
    streaming_exact_dedup. Batch/stream parity: a closed session's
    (user_id, start_ts, n_events, total_value) equals the batch
    sessionize() row for the same events (asserted in tests)."""
    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(events_dir)
    sessions = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("start_ts"),
            "n_events",
            F.round("total_value", 6).alias("total_value"),
        )
    )
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "sess_offsets")
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_kg_monitor(
    spark: SparkSession,
    triples_dir: str,
    constraints: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Streaming ontology-violation monitor: as triple files land from
    the extraction pipeline, each micro-batch is validated against the
    declared constraints (the SAME batch operator — kgquality.validate_kg
    runs inside foreachBatch, so stream and batch can never disagree on
    what counts as a violation) and the per-batch violation report is
    appended to a parquet sink with its batch id. The alerting feed in
    front of the canonical sink: a feed that suddenly ships mis-typed
    ids shows up as a domain-violation spike in the NEXT micro-batch,
    not at the next nightly audit.

    ``Trigger.AvailableNow`` drains and stops (test/catch-up mode); drop
    the trigger to run continuously. Exactly-once per input file via the
    streaming checkpoint; the report sink is append-only and keyed by
    batch_id, so a restarted job never double-counts a batch. State is
    empty — validation is per-batch aggregation, nothing carries across
    batches — which is what keeps the monitor runnable forever.
    """
    from bran_spark.operators.kgquality import validate_kg

    triples = spark.readStream.schema(
        "subj string, pred string, obj string"
    ).parquet(triples_dir)

    def _validate(batch: DataFrame, batch_id: int) -> None:
        (
            validate_kg(batch, constraints)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        triples.writeStream.foreachBatch(_validate)
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "kg_monitor")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_privacy_monitor(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Streaming PII monitor: as document files land from a crawl or an
    upstream curation stage, each micro-batch runs the SAME batch
    pii_scan (contracts.pii_scan inside foreachBatch — stream and batch
    can never disagree on what counts as a hit) and appends the
    per-batch census keyed by batch id. The governance feed in front of
    the corpus sink: a producer that starts shipping unredacted emails
    shows up as a pattern-count spike in the NEXT micro-batch, not at
    the next release-gate run (jobs/run_privacy_gate.py).

    Same operational contract as streaming_kg_monitor: availableNow
    drains and stops (test/catch-up mode), exactly-once per input file
    via the streaming checkpoint, append-only batch_id-keyed report
    sink, and NO cross-batch state — which is what keeps the monitor
    runnable forever."""
    from bran_spark.operators.contracts import pii_scan

    docs = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(docs_dir)

    def _scan(batch: DataFrame, batch_id: int) -> None:
        (
            pii_scan(batch)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        docs.writeStream.foreachBatch(_scan)
        .option(
            "checkpointLocation",
            os.path.join(checkpoint_dir, "privacy_monitor"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_rdfs_closure(
    spark: SparkSession,
    triples_dir: str,
    schema: DataFrame,
    checkpoint_dir: str,
    derivations_dir: str,
) -> None:
    """Incremental RDFS entailment materialization: as triple files land
    from the extraction pipeline, each micro-batch's NEW triples are
    entailed through the pre-closed ontology (reasoning.prepare_ontology
    runs ONCE, outside foreachBatch — the driver-side fixpoint never
    re-executes per batch) and the per-triple DERIVATION rows are
    appended to a parquet store.

    Why derivations, not (entity, cls) counts: RDFS rules are
    per-triple, so entailment distributes over batch unions — but
    n_derivations is a COUNT DISTINCT, which doesn't. Storing the
    distinct-able derivation rows keeps the increment exact: the
    closure of everything-so-far is read_entailed_closure's one
    re-aggregation, and a derivation produced by triples in two
    different batches collapses there instead of double-counting.

    Same operational contract as the other monitors: availableNow
    drains and stops, exactly-once per input file via the streaming
    checkpoint, append-only sink, no cross-batch state."""
    from bran_spark.operators.reasoning import (
        prepare_ontology,
        rdfs_derivations,
    )

    onto = {k: materialize(v) for k, v in prepare_ontology(schema).items()}

    triples = spark.readStream.schema(
        "subj string, pred string, obj string"
    ).parquet(triples_dir)

    def _entail(batch: DataFrame, batch_id: int) -> None:
        (
            rdfs_derivations(batch, onto)
            .distinct()
            .write.mode("append")
            .parquet(derivations_dir)
        )

    q = (
        triples.writeStream.foreachBatch(_entail)
        .option(
            "checkpointLocation",
            os.path.join(checkpoint_dir, "rdfs_closure"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_entailed_closure(spark: SparkSession, derivations_dir: str) -> DataFrame:
    """(entity, cls, n_derivations) over everything the incremental
    entailment has materialized so far — exact equality with the batch
    reasoning.rdfs_closure on the union of all ingested triples."""
    from bran_spark.operators.reasoning import aggregate_closure

    return aggregate_closure(spark.read.parquet(derivations_dir))

"""Token-budget sequence packing — assign documents (in a deterministic
global order) to fixed-token-budget training bins. The core batching step
of an LLM pre-training data pipeline; the reference's analogue is its
length-bucketed batcher (SURVEY.md §2 W1), which packs per-batch, not
corpus-wide.

Bin rule: ``bin_id = floor(exclusive_prefix_sum(n_tokens) / budget)`` over
docs ordered by id — the streaming prefix-sum packing used in practice
(documents may straddle a boundary; the trainer's sample loader handles the
tail). Deterministic and exactly SQL-replayable.

Scale design — the whole point of this operator: a naive
``Window.orderBy(id)`` with no partition key computes the running sum on
ONE task (Spark plans a single-partition window — the classic global-order
bottleneck; at 10^12 docs that task never finishes). Instead, a two-phase
distributed prefix sum:

1. range-repartition by id (Spark samples split points — balanced by
   construction) and compute each partition's LOCAL running sum with a
   window PARTITIONED by the physical partition id (parallel, no global
   exchange);
2. aggregate one (partition_id, sum, min_id) row per partition — a
   driver-side collect of ~thousands of tiny rows, the same legal scale as
   stage counters — compute exclusive partition offsets in min_id order,
   and broadcast-join them back.

Total cost: one range shuffle + one tiny collect; no stage is serialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bran_spark.operators.fixpoint import materialize


def pack_token_bins(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    partitions: int | None = None,
) -> DataFrame:
    """(id, n_tokens, offset, bin_id): offset = exclusive prefix sum of
    ``tokens_col`` in ``id_col`` order; bin_id = offset // budget."""
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    parted = (
        base.repartitionByRange(partitions, "id")
        .sortWithinPartitions("id")
        .withColumn("pid", F.spark_partition_id())
    )
    # phase 1: local inclusive running sum within each physical partition
    w = (
        Window.partitionBy("pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = parted.withColumn("local_cum", F.sum("n_tokens").over(w))

    # phase 2: one tiny row per partition → exclusive offsets in id order.
    # materializing pins the partitioning so the pid column stays
    # consistent between this collect and the final join.
    local = materialize(local)
    psums = (
        local.groupBy("pid")
        .agg(F.sum("n_tokens").alias("psum"), F.min("id").alias("min_id"))
        .collect()
    )
    psums.sort(key=lambda r: r["min_id"])
    offsets, acc = [], 0
    for r in psums:
        offsets.append((r["pid"], acc))
        acc += r["psum"]
    off_df = spark.createDataFrame(offsets, "pid int, part_offset long")

    return (
        local.join(F.broadcast(off_df), "pid")
        .select(
            "id",
            "n_tokens",
            (F.col("part_offset") + F.col("local_cum") - F.col("n_tokens")).alias(
                "offset"
            ),
        )
        # integer DIV, not float floor-div: past 2^53 total tokens (the
        # 10^12-doc regime) a double can no longer represent the offset and
        # boundary docs would land in the wrong bin
        .withColumn("bin_id", F.expr(f"offset DIV {int(budget)}"))
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window document chunking — the long-document splitter of a
    training/RAG pipeline (context-length cap with overlap so no span is
    ever cut without a window that contains it whole). Chunk c covers word
    positions [c·stride, c·stride + size); stride < size gives the overlap.

    Pure JVM array math per row (sequence → posexplode → slice): zero
    shuffles, embarrassingly parallel, and the fan-out is bounded by
    ceil(n_words/stride) per document — at 10^12 docs this runs at scan
    speed. Word positions use the same whitespace split as token_count
    (functions/text.py) so budgets line up with pack_token_bins.

    Returns (doc_id, chunk_idx, start_tok, n_chunk_toks, chunk_text)."""
    from bran_spark.functions.text import words

    w = words(F.col(text_col))
    starts = F.filter(
        F.sequence(
            F.lit(0), F.greatest(F.col("n") - 1, F.lit(0)), F.lit(stride)
        ),
        lambda s: s < F.col("n"),
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), w.alias("ws"), F.size(w).alias("n")
        )
        .select("doc_id", "ws", "n", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("start").cast("int").alias("start_tok"),
            F.least(F.lit(size), F.col("n") - F.col("start"))
            .cast("int").alias("n_chunk_toks"),
            F.array_join(
                F.slice(F.col("ws"), F.col("start") + 1, F.lit(size)), " "
            ).alias("chunk_text"),
        )
    )

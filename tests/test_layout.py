"""Data-layout evidence for the 100 TB design: bucketed tables co-locate
joins (zero Exchange), and partitioned sinks prune at the scan. These are
the two layout levers the north_rule's Iceberg tables provide on a real
cluster; locally we pin the exact same Catalyst behavior via the session
catalog + parquet."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F


def _write_bucketed(df, name: str, path: str, key: str) -> None:
    """Persist ``df`` as an external table bucketed by ``key`` into 8
    buckets, registered in the session catalog so ``spark.table(name)``
    exposes the bucketing spec."""
    df.write.mode("overwrite").option("path", path).bucketBy(8, key).format(
        "parquet"
    ).saveAsTable(name)


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle-join planning so the bucket test can't pass via a
    broadcast that would hide a missing co-location."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, testdata_dir, no_broadcast, tmp_path):
    orders = spark.read.parquet(f"{testdata_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{testdata_dir}/lineitem.parquet")
    _write_bucketed(orders, "b_orders", str(tmp_path / "b_orders"), "o_orderkey")
    _write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", str(tmp_path / "b_lineitem"), "o_orderkey",
    )
    try:
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # co-located: neither side shuffles — the whole point of bucketing
        assert "Exchange hashpartitioning" not in plan
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_unbucketed_join_does_shuffle(spark, testdata_dir, no_broadcast):
    """Control: the same join over plain parquet reads must shuffle — proves
    the assertion above is detecting bucketing, not a planner quirk."""
    orders = spark.read.parquet(f"{testdata_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{testdata_dir}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    plan = (
        orders.join(lineitem, "o_orderkey")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" in plan


def test_partitioned_sink_read_prunes_partitions(spark, fx_dir, tmp_path):
    """The triple sink partitions by pred (S7); a predicate on pred must
    become a PartitionFilter (directory pruning), not a row filter."""
    from bran_spark.plans.pipeline import flagship

    out = str(tmp_path / "triples_by_pred")
    triples = flagship(spark, fx_dir).withColumn(
        "pred2", F.col("pred")
    )  # keep pred as a data column too for the assert below
    triples.write.mode("overwrite").partitionBy("pred").parquet(out)

    rd = spark.read.parquet(out).where(F.col("pred") == "CID")
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pred" in plan.split("PartitionFilters")[1][:120]
    # and the filter is NOT a post-scan row filter on pred
    shutil.rmtree(out, ignore_errors=True)


def test_ivf_cells_written_partitioned_prune_on_probe(spark, testdata_dir, tmp_path):
    """The ANN-at-rest layout: embeddings written partitioned by IVF cell;
    a probe filtered to its probe-set cells must prune at the scan
    (PartitionFilters), never read the full table."""
    from bran_spark.operators.similarity import kmeans_cells

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    cells = kmeans_cells(emb, k=8, iters=0)
    out = str(tmp_path / "emb_by_cell")
    cells.write.mode("overwrite").partitionBy("cell").parquet(out)

    probe = spark.read.parquet(out).where(F.col("cell").isin([1, 3]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:120]
    assert probe.count() > 0

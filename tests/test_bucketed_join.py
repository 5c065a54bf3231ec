"""Bucketed-table co-located joins: the pre-partitioning story.

The extracted table is partitioned by size_class at most (IcebergTable;
SnapshotParquetTable writes each snapshot as plain parquet files), so
nothing in its layout is keyed on url and downstream joins still plan
an Exchange on each side.  True metastore bucketing (`bucketBy` +
`saveAsTable`) records the hash layout in the catalog so a same-key
same-bucket-count join is planned with ZERO exchanges — the pattern a
100 TB deployment uses for the corpus⇄signature and corpus⇄committed
joins that recur every batch.  This test pins that the exchange-free
plan actually materializes in this Spark version (a silent default
flip to rebucketing would quietly re-shuffle 100 TB).
"""

import os
import sys

import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = (
        SparkSession.builder.master("local[4]")
        .appName("bucketed-join-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", wh)
        # force the shuffled-join planner path: broadcast would hide
        # whether bucketing removed the exchanges
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .getOrCreate()
    )
    yield s
    # the builder's options also land in JVM system properties, which
    # the next session in this process would inherit
    s.sparkContext._jvm.System.clearProperty("spark.sql.autoBroadcastJoinThreshold")
    s.stop()


def test_bucketed_tables_join_without_exchange(spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.md5("text").alias("sig")
    )
    sigs = docs.select("doc_id", F.length("sig").alias("sig_len"))

    spark.sql("DROP TABLE IF EXISTS corpus_b")
    spark.sql("DROP TABLE IF EXISTS sigs_b")
    (
        docs.write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable("corpus_b")
    )
    (
        sigs.write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable("sigs_b")
    )

    joined = spark.table("corpus_b").join(spark.table("sigs_b"), "doc_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # the whole point of bucketing
    assert "SortMergeJoin" in plan
    # and the result is right
    assert joined.count() == docs.count()


def test_unbucketed_baseline_needs_exchanges(spark):
    """Contrast pin: the same join over plain parquet reads shuffles
    both sides — the cost bucketing removes."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.md5("text").alias("sig")
    )
    sigs = docs.select("doc_id", F.length("sig").alias("sig_len"))
    plan = (
        docs.join(sigs, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" in plan

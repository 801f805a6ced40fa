"""Bucketed-warehouse materialization (tools/materialize.py): a
cell_id-bucketed counts table must aggregate by cell_id WITHOUT a
shuffle — the co-located-join story for the 100 TB fact table."""

import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    from tools.materialize import materialize

    tables = materialize(spark, sf_dir, n_buckets=8)
    yield tables
    for t in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_agg_has_no_exchange(spark, bucketed):
    df = spark.table(bucketed["counts"]).groupBy("cell_id").agg(
        F.sum("value").alias("n_counts")
    )
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "Exchange" not in plan, plan
    assert df.count() > 0


def test_bucketed_matches_derived(spark, sf_dir, bucketed):
    from scarf_spark.catalog import DataStore

    derived = DataStore(spark, sf_dir).counts()
    a = spark.table(bucketed["counts"]).agg(
        F.count("*"), F.sum("value")
    ).collect()[0]
    b = derived.agg(F.count("*"), F.sum("value")).collect()[0]
    assert tuple(a) == tuple(b)


def test_feat_major_projection_prunes_shuffle(spark, bucketed):
    df = spark.table(bucketed["counts_by_feat"]).groupBy("feat_id").agg(
        F.sum("value").alias("tot")
    )
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "Exchange" not in plan, plan


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """Catalyst partition pruning: a filter on the partition column must
    reach the file index (PartitionFilters), scanning only that
    partition's files."""
    from scarf_spark.catalog import DataStore

    out = str(tmp_path / "events_by_type")
    ev = DataStore(spark, sf_dir).events
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(event_type" in plan or "event_type" in plan.split(
        "PartitionFilters"
    )[1][:200]
    n_click = ev.where("event_type = 'click'").count()
    assert df.count() == n_click


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """Hive-style partitionBy layout: a filter on the partition column
    must prune directories at planning time (PartitionFilters reach the
    scan; non-matching partitions are never listed into the plan) — the
    date/tenant layout of a 100 TB events table."""
    from scarf_spark.catalog import DataStore

    out = str(tmp_path_factory.mktemp("part_events"))
    ev = DataStore(spark, sf_dir).events
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # count matches the unpartitioned filter
    assert back.count() == ev.where(F.col("event_type") == "click").count()
    # only the matching partition directory is actually read at runtime
    # (inputFiles() reports the pre-pruning listing, so ask execution)
    read_files = [r[0] for r in back.select(F.input_file_name()).distinct().collect()]
    assert read_files and all("event_type=click" in f for f in read_files)
    shutil.rmtree(out, ignore_errors=True)

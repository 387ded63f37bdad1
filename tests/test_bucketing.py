"""Evidence for SCALE.md's bucketing claims: the salt exchange ahead of
the OCR UDF and the merge exchange can both be eliminated by bucketing
the Iceberg/parquet table at INGEST on the corresponding key — the
storage-partitioned-scan strategy a 100 TB deployment would use. These
tests prove the plan shape locally: a scan of a bucketed table satisfies
the downstream hash distribution with ZERO Exchange nodes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def media_tbl(spark):
    """A media-span projection bucketed on the salt exchange's key
    (doc_id, offset), as the ingest job would write it (pre-salted input =
    no salt exchange at extract time)."""
    df = spark.range(5000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 97).cast("int").alias("offset"),
        F.concat(F.lit("img://"), F.col("id").cast("string")).alias("media_ref"),
    )
    (
        df.write.mode("overwrite")
        .bucketBy(16, "doc_id", "offset")
        .sortBy("doc_id", "offset")
        .format("parquet")
        .saveAsTable("media_bucketed_t")
    )
    yield spark.table("media_bucketed_t")
    spark.sql("DROP TABLE IF EXISTS media_bucketed_t")


@pytest.fixture(scope="module")
def docs_tbl(spark):
    """A merged-output-shaped table bucketed on doc_id (the merge key)."""
    df = spark.range(5000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 7).cast("int").alias("n_spans"),
    )
    (
        df.write.mode("overwrite")
        .bucketBy(16, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable("docs_bucketed_t")
    )
    yield spark.table("docs_bucketed_t")
    spark.sql("DROP TABLE IF EXISTS docs_bucketed_t")


def test_bucketed_scan_satisfies_group_distribution(media_tbl):
    """groupBy on the bucket key over a bucketed table plans with NO
    Exchange — the scan itself provides the hash distribution. This is the
    exact mechanism that deletes the extract pipeline's salt exchange when
    the ingest table is bucketed on (doc_id, offset), the exchange's own
    hash key."""
    plan = (
        media_tbl.groupBy("doc_id", "offset")
        .agg(F.count("*").alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan


def test_bucketed_join_is_exchange_free(spark, docs_tbl):
    """Two tables bucketed on the join key co-locate: the join plans with
    no Exchange on either side — the 100 TB shape for joining extraction
    output back to per-doc metadata without reshuffling the corpus."""
    df2 = spark.range(5000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("grade"),
    )
    (
        df2.write.mode("overwrite")
        .bucketBy(16, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable("docs_meta_t")
    )
    try:
        # disable broadcast so the co-located sort-merge path is what's tested
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = docs_tbl.join(spark.table("docs_meta_t"), "doc_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_meta_t")


def test_aqe_splits_skewed_join(spark):
    """SCALE.md's other standing claim: residual key skew that salting
    doesn't own is handled by AQE's skew-join split at runtime. A join
    where 90% of left rows share one key re-plans to
    SortMergeJoin(skew=true) — the skewed partition is split into
    advisory-sized subpartitions instead of pinning one task."""
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(20000).select(F.col("id").alias("k"), F.lit("meta").alias("m"))
        j = left.join(right, "k")
        n = len(j.collect())  # drive THIS df's query execution to its final adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert n == 182000
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """SCALE.md's scan-planning claim, demonstrated: a coarse-key
    partitioned table (the ingest layout) prunes untouched partitions at
    planning time — the filtered scan reads 1 of 8 date partitions
    (PartitionFilters in the scan node), so a day-scoped job over a
    10^12-doc corpus never opens the other days' files."""
    d = str(tmp_path / "events_by_day")
    df = spark.range(4000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("2026-01-0"), ((F.col("id") % 8) + 1).cast("string")).alias("day"),
        (F.col("id") % 97).alias("v"),
    )
    df.write.mode("overwrite").partitionBy("day").parquet(d)
    got = spark.read.parquet(d).where(F.col("day") == "2026-01-03").select("event_id", "v")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:120]
    # and only that day's rows come back
    assert got.count() == 500

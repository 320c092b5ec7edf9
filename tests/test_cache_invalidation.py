"""Writers must evict every memoized scan of the table they rewrite.

A cached scan pins its file listing; after a rewrite the listed files are
gone, so serving the cached plan fails with FILE_NOT_EXIST (or reads
stale data). These tests pin the two writer-side guarantees:

1. ``merge_parquet`` over an sf-dir table evicts the fixture-table scan
   cache (sources/tables), so a later ``load_table`` sees the new rows;
2. the partitioned writers evict even when the partition-dir reconcile
   raises part-way (its earlier renames already changed the listing).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def test_load_table_sees_rows_after_merge(spark, sf_dir, tmp_path):
    from vectordb_similarity_search_spark.operators.merge import merge_parquet
    from vectordb_similarity_search_spark.sources.tables import load_table

    sf = str(tmp_path / "sf")
    table = f"{sf}/nation.parquet"
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(table)
    before = load_table(spark, sf, "nation").count()

    upd = (
        spark.read.parquet(table)
        .limit(2)
        .withColumn("n_nationkey", F.col("n_nationkey") + 1000)
    )
    merge_parquet(spark, table, upd, ["n_nationkey"])

    assert load_table(spark, sf, "nation").count() == before + 2


def _hive_table(spark, path):
    spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p"), F.lit(1).alias("v")
    ).write.partitionBy("p").parquet(path)


def _merge(spark, path):
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    _hive_table(spark, path)
    upd = spark.range(0, 4).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p"), F.lit(5).alias("v")
    )
    merge_parquet_partitioned(spark, path, upd, ["k", "p"], ["p"])


def _scd2(spark, path):
    from vectordb_similarity_search_spark.operators.merge import (
        scd2_apply_partitioned,
    )

    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, "bronze", i % 2, t0, None) for i in range(8)],
        "k int, tier string, p int, valid_from timestamp, valid_to timestamp",
    ).write.partitionBy("p").parquet(path)
    upd = spark.createDataFrame(
        [(1, "gold", 1, dt.datetime(2024, 6, 1))],
        "k int, tier string, p int, effective_ts timestamp",
    )
    scd2_apply_partitioned(spark, path, upd, ["k", "p"], ["p"])


@pytest.mark.parametrize("writer", [_merge, _scd2], ids=["merge", "scd2"])
def test_partitioned_writers_invalidate_when_reconcile_raises(
    spark, tmp_path, monkeypatch, writer
):
    import vectordb_similarity_search_spark.operators.ann as ann
    import vectordb_similarity_search_spark.operators.merge as merge

    path = str(tmp_path / "t")
    key = (spark.sparkContext.applicationId, path)

    def boom(*_args):
        ann._INDEX_SCAN_CACHE[key] = "planted after the writer's reads"
        raise OSError("rename failed part-way")

    monkeypatch.setattr(merge, "_reconcile_partition_dirs", boom)
    with pytest.raises(OSError, match="part-way"):
        writer(spark, path)
    assert key not in ann._INDEX_SCAN_CACHE

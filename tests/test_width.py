"""Stage widths follow the frame (blazingsql_spark/width.py): fan_out
reads the footers of the files a frame's plan reads, whoever built it."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from blazingsql_spark import width


def _repartition_width(df) -> int:
    # the top logical node fan_out adds: Repartition(n, shuffle=true, ...)
    return df._jdf.queryExecution().logical().numPartitions()


def _conf(spark, key, value):
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    return lambda: spark.conf.set(key, saved)


def test_fan_out_follows_the_files_the_frame_reads(spark, tmp_path):
    """A file of many row groups whose bytes span many splits scans in
    parallel already and is left as it is. A one-row-group file scans as
    one task and is widened, and a frame derived from it (filter,
    projection, union with itself, join with rows built in Python) gets
    the width of its source: its rows over per_task_rows, at most the
    cores. A frame that reads no file is left as it is."""
    many = str(tmp_path / "many.parquet")
    pq.write_table(
        pa.table({"a": list(range(4000))}), many, row_group_size=250
    )
    one = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": list(range(600))}), one)
    assert pq.ParquetFile(many).metadata.num_row_groups == 16
    assert pq.ParquetFile(one).metadata.num_row_groups == 1
    assert spark.sparkContext.defaultParallelism == 4

    restore = _conf(spark, "spark.sql.files.maxPartitionBytes", "1k")
    try:
        wide = spark.read.parquet(many)
        for df in (wide, wide.filter("a > 7").select("a")):
            assert width.fan_out(df) is df
            assert width.fan_out(df, per_task_rows=256) is df
    finally:
        restore()

    src = spark.read.parquet(one)
    side = spark.createDataFrame([(1, "x")], "a bigint, tag string")
    derived = (
        src.filter(F.col("a") % 2 == 0)
        .select((F.col("a") + 1).alias("a"))
        .unionAll(src)
        .join(side, "a", "left")
    )
    # 600 rows / 256 per task -> 3 tasks; the default is every core
    assert _repartition_width(width.fan_out(src, per_task_rows=256)) == 3
    assert _repartition_width(width.fan_out(derived, per_task_rows=256)) == 3
    assert _repartition_width(width.fan_out(derived)) == 4

    for no_files in (spark.range(100), side):
        assert width.fan_out(no_files) is no_files


def test_fan_out_reads_spark_s_parsed_max_partition_bytes(spark, tmp_path):
    """spark.sql.files.maxPartitionBytes=128mb is a spelling Spark
    accepts (134217728 bytes); fan_out takes Spark's parsed value, so it
    sizes the scan instead of failing to parse the string."""
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": list(range(100))}), path)
    restore = _conf(spark, "spark.sql.files.maxPartitionBytes", "128mb")
    try:
        df = spark.read.parquet(path)
        assert _repartition_width(width.fan_out(df)) == 4
    finally:
        restore()

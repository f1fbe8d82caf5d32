"""Driver-visible coverage for the non-parquet parsers (VERDICT r4 #5).

The driver fixtures are parquet-only, so the ORC/CSV/JSON scan paths
(reference: engine/src/io/data_parser/CSVParser.cpp, OrcParser.cpp,
JSONParser.cpp) previously rode on local tests alone. This query makes
them driver-checkable: write a lineitem slice to ORC+CSV+JSON in a temp
dir, read each back through the corresponding Spark reader, and emit one
engine-portable checksum row per format. The DuckDB oracle computes the
SAME checksum straight from the parquet table (DuckDB has no ORC reader,
so oracle-side re-reading is not an option) — a value match proves every
parser round-tripped the data bit-for-bit at the checksum's granularity.

Checksum design (registry determinism rules): integer-exact aggregates
only — COUNT, integral SUMs, a keyed linear check, price in micro-unit
cents summed as BIGINT (float sums are order-dependent across engines;
integer sums are associative), and dates rendered as ISO strings. Every
column aliased identically in both dialects; CAST(... AS BIGINT) on every
DuckDB SUM (HUGEINT otherwise — the driver hash is dtype-sensitive).
The module is in registry._QUERY_MODULES and self-registers on import
like every other query module.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazingsql_spark.queries.registry import load_table, register

_CHECKSUM_COLS = (
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_shipdate",
)

_FORMATS = ("avro", "csv", "json", "orc", "xml")


def _checksum(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "sum_price_cents"
        ),
        F.sum(F.col("l_orderkey") * 7 + F.col("l_linenumber")).alias("key_check"),
        F.min(F.col("l_shipdate").cast("date").cast("string")).alias("min_ship"),
        F.max(F.col("l_shipdate").cast("date").cast("string")).alias("max_ship"),
    )


@register(
    "io_format_matrix",
    oracle="""
        SELECT f.format, a.n, a.sum_qty, a.sum_price_cents, a.key_check,
               a.min_ship, a.max_ship
        FROM (VALUES ('avro'), ('csv'), ('json'), ('orc'), ('xml')) AS f(format)
        CROSS JOIN (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_price_cents,
                   CAST(SUM(l_orderkey * 7 + l_linenumber) AS BIGINT) AS key_check,
                   MIN(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS min_ship,
                   MAX(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS max_ship
            FROM lineitem WHERE l_orderkey < 300
        ) a
        ORDER BY f.format
    """,
    doc="ORC+CSV+JSON+XML+Avro writer->reader round trip, checksummed "
    "against the parquet source (reference CSVParser.cpp / OrcParser.cpp / "
    "JSONParser.cpp parity plus Spark 4's built-in XML; the Avro leg runs "
    "on sources.avro_ocf — the zero-dependency OCF codec — because the "
    "external spark-avro jar is not deployed here)",
)
def io_format_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 300)
        .select(*_CHECKSUM_COLS)
    )
    schema = sl.schema
    # Scratch location keyed by (sf_dir, Spark applicationId): stable within
    # a session so bench repeats x driver rounds overwrite instead of leaking
    # a new mkdtemp each run, but disjoint across concurrent sessions
    # (parallel pytest, overlapping bench/driver rounds) — two sessions
    # sharing one fixed path can overwrite each other's files mid-read and
    # produce flaky checksum mismatches (ADVICE r5). On a real cluster set
    # SPARK_GRAFT_SCRATCH to a shared filesystem path (hdfs://... or
    # s3://...): executors cannot read a driver-local /tmp.
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    tmp = os.path.join(
        scratch,
        "blazingsql_spark_fmt_matrix_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{spark.sparkContext.applicationId}",
    )
    frames = []
    for fmt in _FORMATS:
        path = os.path.join(tmp, fmt)
        if fmt == "avro":
            # no spark-avro jar in this environment: the zero-dependency OCF
            # source/sink (sources.avro_ocf) supplies the round trip —
            # executor-parallel write, binaryFile + per-file block decode read.
            # NOTE shared-POSIX-path only: with SPARK_GRAFT_SCRATCH on an
            # object store (hdfs://, s3a://) this leg raises a typed
            # NotImplementedError instead of silently writing executor-local
            # files (avro_ocf._check_posix_path)
            from blazingsql_spark.sources import avro_ocf

            avro_ocf.write_avro(sl, path)
            back = avro_ocf.read_avro(spark, path)
        elif fmt == "csv":
            sl.write.mode("overwrite").option("header", True).csv(path)
            back = spark.read.schema(schema).option("header", True).csv(path)
        elif fmt == "json":
            sl.write.mode("overwrite").json(path)
            back = spark.read.schema(schema).json(path)
        elif fmt == "orc":
            sl.write.mode("overwrite").orc(path)
            back = spark.read.orc(path)
        else:  # xml — built-in data source since Spark 4.0
            sl.write.mode("overwrite").format("xml").option("rowTag", "row").save(path)
            back = (
                spark.read.schema(schema).format("xml").option("rowTag", "row").load(path)
            )
        frames.append(_checksum(back).select(F.lit(fmt).alias("format"), "*"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("format")


@register(
    "io_webdataset_roundtrip",
    oracle="""
        SELECT doc_id,
               lang AS lang_back,
               SHA256(text) AS txt_sha,
               CAST(2 AS INT) AS n_members
        FROM documents
        ORDER BY doc_id
    """,
    doc="WebDataset tar-shard round trip (sources.archives): documents "
    "exported as key-grouped tar shards, read back sample-grouped, text "
    "bytes and language member recovered exactly",
)
def io_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table as WebDataset tar shards (two members
    per sample: .txt = the document bytes, .lang = the language tag),
    read it back with the sample-grouped reader, and recover both
    members JVM-side from the parallel-array layout. The oracle
    recomputes everything from the source columns, so a member-grouping
    or byte-extraction defect mismatches. Same scratch/POSIX contract
    as the avro leg of io_format_matrix."""
    from blazingsql_spark.sources import archives

    docs = load_table(spark, sf_dir, "documents")
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    out = os.path.join(
        scratch,
        "blazingsql_spark_wds_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{spark.sparkContext.applicationId}",
    )
    # overwrite semantics for in-session repeats: stale shards would
    # duplicate samples on the grouped read (same hazard the avro sink's
    # mode='overwrite' closes)
    if os.path.isdir(out):
        for f in os.listdir(out):
            if f.endswith(".tar"):
                os.remove(os.path.join(out, f))
    members = docs.selectExpr(
        "lpad(CAST(doc_id AS STRING), 12, '0') AS key", "'txt' AS ext",
        "CAST(text AS BINARY) AS payload",
    ).unionByName(
        docs.selectExpr(
            "lpad(CAST(doc_id AS STRING), 12, '0') AS key", "'lang' AS ext",
            "CAST(lang AS BINARY) AS payload",
        )
    )
    archives.write_tar_shards(members, out, num_shards=4)
    wds = archives.read_webdataset(spark, out)
    pick = lambda ext: F.element_at(  # noqa: E731
        "payloads", F.array_position("exts", ext).cast("int")
    )
    return wds.select(
        F.col("key").cast("long").alias("doc_id"),
        pick("lang").cast("string").alias("lang_back"),
        F.sha2(pick("txt"), 256).alias("txt_sha"),
        F.size("exts").alias("n_members"),
    ).orderBy("doc_id")


@register(
    "io_arrow_roundtrip",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               o_orderstatus,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date
        FROM orders
        WHERE o_orderkey % 10 = 0
        ORDER BY o_orderkey
    """,
    doc="Arrow IPC (Feather V2) round trip (sources.arrow_ipc): "
    "executor-parallel part writes, per-file binaryFile decode read, "
    "values and the NTZ timestamp family recovered exactly",
)
def io_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an orders projection as zstd Arrow IPC part files, read it
    back, and surface the values for the driver compare. Types cross the
    boundary through pyspark's own to_arrow_schema/from_arrow_schema
    (prefer_timestamp_ntz on read), so a type-mapping defect mismatches
    loudly rather than coercing. Same scratch/POSIX contract as the avro
    and WebDataset legs."""
    from blazingsql_spark.sources.arrow_ipc import read_arrow_ipc, write_arrow_ipc

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    out = os.path.join(
        scratch,
        "blazingsql_spark_arrow_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{spark.sparkContext.applicationId}",
    )
    write_arrow_ipc(orders, out, compression="zstd", mode="overwrite")
    back = read_arrow_ipc(spark, out)
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.col("o_orderdate").cast("date").cast("string").alias("o_date"),
    ).orderBy("o_orderkey")


@register(
    "io_uint_widening",
    oracle="""
        SELECT CAST(n_nationkey * 10 AS SMALLINT) AS u8,
               CAST(n_nationkey * 2500 AS INTEGER) AS u16,
               CAST(CAST(n_nationkey AS BIGINT) * 171798691 AS BIGINT) AS u32,
               CAST(CAST(n_nationkey AS HUGEINT) * 768614336404564650
                    AS VARCHAR) AS u64_str,
               TRUE AS widened_ok
        FROM nation
        ORDER BY u8
    """,
    doc="unsigned-int widening policy (SURVEY §1.2; reference "
    "CatalogColumnDataType.java:19-44): UINT8/16/32/64 parquet columns "
    "widen to SMALLINT/INT/BIGINT/DECIMAL(20,0) with values exact to "
    "the top of each unsigned range",
)
def io_uint_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a parquet file with genuine uint8/16/32/64 physical columns
    (pyarrow, values spanning each type's FULL range incl. uint64 just
    under 2^64) derived from nation keys, read it back through the scan
    path, and surface values + widened schema for the driver compare.
    The same policy governs Arrow/pandas ingestion via
    Context._widen_unsigned_arrow (unit-tested in test_context.py) —
    this row pins the parquet-scan leg, where a regression would
    silently corrupt ids, not error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = sorted(
        r[0]
        for r in load_table(spark, sf_dir, "nation").select("n_nationkey").collect()
    )
    table = pa.table(
        {
            "u8": pa.array([k * 10 for k in keys], pa.uint8()),
            "u16": pa.array([k * 2500 for k in keys], pa.uint16()),
            "u32": pa.array([k * 171798691 for k in keys], pa.uint32()),
            "u64": pa.array([k * 768614336404564650 for k in keys], pa.uint64()),
        }
    )
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    out = os.path.join(
        scratch,
        "blazingsql_spark_uint_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "u.parquet"))
    back = spark.read.parquet(out)
    # pin the widened schema itself (pandas floats decimal(20,0) on the
    # compare path, so u64 crosses as a string and the type as a boolean)
    widened_ok = [f.dataType.simpleString() for f in back.schema.fields] == [
        "smallint", "int", "bigint", "decimal(20,0)"
    ]
    return back.select(
        "u8",
        "u16",
        "u32",
        F.col("u64").cast("string").alias("u64_str"),
        F.lit(widened_ok).alias("widened_ok"),
    ).orderBy("u8")

"""File format readers/writers with extension inference.

Mirrors the reference's parser dispatch (engine/src/io/data_parser/
{CSVParser,ParquetParser,OrcParser,JSONParser}.cpp) — in Spark each is one
DataFrameReader call; partitioned-directory discovery, row-group pruning and
predicate pushdown come built-in. Extension inference mirrors the
reference's DataType enum (engine/src/io/DataType.h:9-18).

One local parquet file opens through :func:`read_parquet_file`, the policy both
``Context.create_table`` (via :func:`read_any`) and the query registry's
``load_table`` use: the footer and the inferred schema are cached per file
identity, so re-registering or re-loading an unchanged file runs no
schema-inference job, and a TIMESTAMP(NANOS) column reads as bigint
instead of failing.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".parq": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".psv": "csv",
    ".tbl": "csv",
    ".txt": "csv",
    ".json": "json",
    ".ndjson": "json",
    ".jsonl": "json",
    ".avro": "avro",
    ".arrow": "arrow",
    ".feather": "arrow",
}


def infer_format(path: str) -> str:
    base = path.rstrip("/*")
    for ext, fmt in _EXT_FORMAT.items():
        if base.endswith(ext):
            return fmt
    return "parquet"


# METADATA caches, keyed by (path, size, mtime) so an in-process file
# rewrite with a different layout invalidates the entry; data is never
# memoized, every read goes back to the file.
# parquet footers: key -> (file size, footer), the footer None when the
# file has none readable
_FOOTERS: dict[tuple, tuple] = {}
# read schemas: key + the confs that shape inference -> the schema Spark
# inferred, handed to later reads so they run no inference job
_SCHEMAS: dict[tuple, object] = {}


def _file_key(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return (path, None, None)


def parquet_footer(path: str):
    """(file size, pyarrow FileMetaData or None) of a parquet file."""
    import pyarrow.lib
    import pyarrow.parquet as pq

    key = _file_key(path)
    if key not in _FOOTERS:
        try:
            meta = pq.ParquetFile(path).metadata
        except (OSError, pyarrow.lib.ArrowInvalid):
            # a directory, a missing file or a non-parquet footer
            meta = None
        _FOOTERS[key] = (key[1], meta)
    return _FOOTERS[key]


def read_parquet_file(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file:
    later reads of an unchanged file pass the cached schema and run no
    inference job. A footer with a TIMESTAMP(NANOS) column sets
    spark.sql.legacy.parquet.nanosAsLong first, the only way Spark
    reads one (as bigint); MICROS files leave the session as is."""
    _, meta = parquet_footer(path)
    if meta is None:  # a directory or an unreadable footer
        return spark.read.parquet(path)
    if any(
        '"timeUnit": "nanoseconds"' in meta.schema.column(i).logical_type.to_json()
        for i in range(meta.num_columns)
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _file_key(path) + tuple(
        spark.conf.get(f"spark.sql.{c}", None)
        for c in (
            "parquet.inferTimestampNTZ.enabled",
            "parquet.binaryAsString",
            "parquet.int96AsTimestamp",
            "legacy.parquet.nanosAsLong",
        )
    )
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


def _special_reader(spark: SparkSession, fmt: str):
    """The zero-dependency sources that bypass spark.read: returns
    (per-path loader, reason options are refused) or None for formats the
    stock DataFrameReader handles. One place for the guard + union-fold
    contract all three share."""
    if fmt == "avro":
        # no spark-avro jar in this environment — the zero-dependency OCF
        # source (sources.avro_ocf) supplies the same read, one task/file
        from blazingsql_spark.sources.avro_ocf import read_avro

        return (lambda p: read_avro(spark, p)), "schema comes from the file header"
    if fmt == "webdataset":
        # tar/zip training shards through the Python DataSource API — one
        # InputPartition per shard, rows regrouped one-per-sample
        from blazingsql_spark.sources.pyds import register_data_sources

        register_data_sources(spark)
        return (
            lambda p: spark.read.format("webdataset").load(p)
        ), "samples surface as parallel ext/payload arrays"
    if fmt == "arrow":
        # Arrow IPC / Feather V2 — same zero-extra-dependency pattern
        from blazingsql_spark.sources.arrow_ipc import read_arrow_ipc

        return (lambda p: read_arrow_ipc(spark, p)), "schema comes from the file footer"
    return None


def read_any(
    spark: SparkSession,
    paths: str | list[str],
    file_format: str | None = None,
    schema: Any = None,
    **options: Any,
) -> DataFrame:
    """Read file(s) of any supported format with reference-like defaults
    (CSV: header+inference unless a schema is given). One local parquet
    file with no schema or options opens through
    :func:`read_parquet_file`; a remote URI never reaches pyarrow's own
    filesystem resolution."""
    path_list = [paths] if isinstance(paths, str) else list(paths)
    fmt = (file_format or infer_format(path_list[0])).lower()
    if (
        fmt == "parquet"
        and len(path_list) == 1
        and schema is None
        and not options
        and os.path.isfile(path_list[0])
    ):
        return read_parquet_file(spark, path_list[0])
    special = _special_reader(spark, fmt)
    if special is not None:
        loader, why_no_options = special
        if schema is not None or options:
            # these sources derive their schema themselves and take no
            # reader options — refusing beats silently dropping
            raise NotImplementedError(
                f"{fmt}: reader schema/options are not supported "
                f"({why_no_options})"
            )
        frames = [loader(p) for p in path_list]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    reader = spark.read
    if fmt == "csv" and schema is None:
        # reference-like defaults ONLY when the caller supplies nothing: a
        # caller passing a schema is describing the file precisely and may
        # well be reading a headerless .tbl-style export — defaulting
        # header=True there silently drops its first data row. Headered
        # CSV + explicit schema must pass header=True explicitly
        # (create_table does).
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).format(fmt).load(path_list)


def write_any(
    df: DataFrame,
    path: str,
    file_format: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: Any,
) -> None:
    """Write a DataFrame in any supported format — a capability the
    reference lacks entirely (no sink path, SURVEY §2.8)."""
    fmt = (file_format or infer_format(path)).lower()
    if fmt == "avro":
        from blazingsql_spark.sources.avro_ocf import write_avro

        if partition_by or options:
            raise NotImplementedError(
                "avro: partitionBy/writer options not supported by the OCF sink"
            )
        write_avro(df, path, mode=mode)
        return
    if fmt == "arrow":
        from blazingsql_spark.sources.arrow_ipc import write_arrow_ipc

        compression = options.pop("compression", None)
        if partition_by or options:
            raise NotImplementedError(
                "arrow: partitionBy/writer options beyond 'compression' are "
                "not supported by the IPC sink"
            )
        write_arrow_ipc(df, path, compression=compression, mode=mode)
        return
    if fmt == "csv":
        # default, not forced: an explicit header=False must win (the old
        # unconditional writer.option("header", True) made headerless CSV
        # output impossible)
        options.setdefault("header", True)
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Raw media ingestion via Spark's binaryFile source: one row per file
    with (path, modificationTime, length, content binary). This is the
    on-ramp for the multimodal pipeline — pair with
    functions.multimodal.decode_features / resize_images, which consume the
    binary column Arrow-batched. Scale note: binaryFile caps each file into
    one task; set spark.sql.files.maxPartitionBytes accordingly for many
    small files (the source packs small files per task automatically)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)

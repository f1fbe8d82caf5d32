"""Context facade behaviors (the reference's BlazingContext surface)."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from blazingsql_spark.context import Context
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bc(spark):
    return Context(spark=spark)


def test_create_table_from_path_and_sql(bc):
    bc.create_table("li", f"{SF_DIR}/lineitem.parquet")
    n = bc.sql("SELECT COUNT(*) AS n FROM li").first()["n"]
    assert n > 0
    assert "li" in bc.list_tables()
    assert bc.describe_table("li")["l_orderkey"] == "bigint"
    bc.drop_table("li")
    assert "li" not in bc.list_tables()


def test_create_table_reads_nanos_parquet_as_bigint(bc, tmp_path):
    """A TIMESTAMP(NANOS) parquet file registers through the same open
    path as load_table: the column reads as bigint (Spark has no
    nanosecond timestamp) instead of failing with PARQUET_TYPE_ILLEGAL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = bc.spark.conf.get(key)
    path = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_123, None], pa.timestamp("ns"))}), path
    )
    try:
        df = bc.create_table("ns_t", path)
        assert df.schema.simpleString() == "struct<ts:bigint>"
        got = [r.ts for r in bc.sql("SELECT ts FROM ns_t ORDER BY ts").collect()]
        assert got == [None, 1_000_000_123]
    finally:
        bc.drop_table("ns_t")
        bc.spark.conf.set(key, before)


def test_create_table_infers_a_files_schema_once(bc, tmp_path):
    """Registering one parquet file twice runs one schema-inference job:
    the second registration reads with the schema the first inferred."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "once.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    sc = bc.spark.sparkContext
    sc.setJobGroup("create_table_twice", "create_table")
    try:
        first = bc.create_table("once_a", path)
        again = bc.create_table("once_b", path)
        assert len(sc.statusTracker().getJobIdsForGroup("create_table_twice")) == 1
    finally:
        sc.setJobGroup("", "")
        bc.drop_table("once_a")
        bc.drop_table("once_b")
    assert again.schema == first.schema


def test_create_table_from_pandas_and_df(bc):
    bc.create_table("pd_t", pd.DataFrame({"a": [1, 2, 3]}))
    assert bc.sql("SELECT SUM(a) AS s FROM pd_t").first()["s"] == 6
    df = bc.sql("SELECT a * 2 AS b FROM pd_t")
    bc.create_table("df_t", df)
    assert bc.sql("SELECT SUM(b) AS s FROM df_t").first()["s"] == 12


def test_list_tables_survives_a_dropped_current_schema(bc):
    """With the current schema dropped, the catalog listing raises
    AnalysisException; list_tables falls back to this context's tables."""
    bc.create_table("lt_keep", pd.DataFrame({"a": [1]}))
    bc.spark.sql("CREATE DATABASE IF NOT EXISTS lt_gone")
    bc.spark.sql("USE lt_gone")
    try:
        bc.spark.sql("DROP DATABASE lt_gone CASCADE")
        assert "lt_keep" in bc.list_tables()
    finally:
        bc.spark.sql("USE default")
        bc.drop_table("lt_keep")


def test_async_token(bc):
    bc.create_table("ord", f"{SF_DIR}/orders.parquet")
    token = bc.sql("SELECT COUNT(*) AS n FROM ord", return_token=True)
    for _ in range(200):
        if bc.status(token):
            break
        time.sleep(0.05)
    rows = bc.fetch(token)
    assert rows[0]["n"] > 0

    # fetch_limit bounds driver-side materialization of async results
    token = bc.sql("SELECT o_orderkey FROM ord", return_token=True, fetch_limit=7)
    for _ in range(200):
        if bc.status(token):
            break
        time.sleep(0.05)
    assert len(bc.fetch(token)) == 7


def test_sql_ddl_ctas_insert(bc):
    """SQL DDL through Context.sql — CREATE TABLE AS / INSERT INTO / DROP
    (catalog-backed parquet in spark.sql.warehouse.dir). The reference has
    no DDL surface at all (SURVEY §3); this is a Spark-native superset."""
    bc.create_table("ddl_src", f"{SF_DIR}/nation.parquet")
    bc.sql("DROP TABLE IF EXISTS ddl_t")
    bc.sql("CREATE TABLE ddl_t AS SELECT n_nationkey, n_name FROM ddl_src WHERE n_nationkey < 5")
    assert bc.sql("SELECT COUNT(*) AS n FROM ddl_t").first()["n"] == 5
    bc.sql("INSERT INTO ddl_t SELECT n_nationkey, n_name FROM ddl_src WHERE n_nationkey = 7")
    assert bc.sql("SELECT COUNT(*) AS n FROM ddl_t").first()["n"] == 6
    assert "ddl_t" in bc.list_tables()
    bc.sql("DROP TABLE ddl_t")


def test_explain(bc):
    bc.create_table("ord2", f"{SF_DIR}/orders.parquet")
    simple = bc.explain("SELECT COUNT(*) AS n FROM ord2")
    detailed = bc.explain("SELECT COUNT(*) AS n FROM ord2", detail=True)
    assert "AdaptiveSparkPlan" in simple
    assert "== Optimized Logical Plan ==" in detailed


def test_partition(bc):
    df = bc.sql("SELECT * FROM ord2")
    assert bc.partition(df, by=["o_custkey"], n=4).rdd.getNumPartitions() == 4


def test_bad_input_type(bc):
    with pytest.raises(TypeError):
        bc.create_table("nope", 42)


def test_sql_ddl_dml(bc):
    """SQL DDL/DML — a superset of the reference, whose DDL surface is
    Python-only (SURVEY §2.8: 'no SQL DDL/DML')."""
    bc.sql("DROP TABLE IF EXISTS ddl_demo")
    bc.create_table("src_nation", f"{SF_DIR}/nation.parquet")
    bc.sql("CREATE TABLE ddl_demo USING parquet AS "
           "SELECT n_nationkey, n_name FROM src_nation WHERE n_regionkey = 0")
    n0 = bc.sql("SELECT COUNT(*) AS n FROM ddl_demo").first()["n"]
    assert n0 > 0
    bc.sql("INSERT INTO ddl_demo VALUES (999, 'ATLANTIS')")
    assert bc.sql("SELECT COUNT(*) AS n FROM ddl_demo").first()["n"] == n0 + 1
    assert bc.sql("SELECT n_name FROM ddl_demo WHERE n_nationkey = 999").first()[0] == "ATLANTIS"
    assert "ddl_demo" in bc.list_tables()
    bc.sql("DROP TABLE ddl_demo")
    assert "ddl_demo" not in bc.list_tables()


def test_filesystem_registration_sets_hadoop_confs(bc):
    bc.s3(access_key_id="AK", secret_key="SK", endpoint_override="http://minio:9000")
    conf = bc.spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.access.key") == "AK"
    assert conf.get("fs.s3a.secret.key") == "SK"
    assert conf.get("fs.s3a.endpoint") == "http://minio:9000"
    bc.gs(project_id="proj-1")
    assert conf.get("fs.gs.project.id") == "proj-1"
    bc.localfs()  # no-op, must not raise


def test_sql_error_surfaces(bc):
    """messageValidationSuite parity: bad syntax and invalid references
    surface as DISTINCT, catchable exception types — ParseException is the
    reference's SqlSyntaxException, AnalysisException its
    SqlValidationException (pyblazing context.py:1911-1916)."""
    import pytest
    from pyspark.errors import AnalysisException, ParseException

    with pytest.raises(ParseException):
        bc.sql("SELEC wrong FROM nowhere")
    with pytest.raises(AnalysisException):
        bc.sql("SELECT * FROM table_that_does_not_exist")
    bc.create_table("lineitem_err", "/root/testdata/sf0.001/lineitem.parquet")
    with pytest.raises(AnalysisException):
        bc.sql("SELECT no_such_column FROM lineitem_err")
    bc.drop_table("lineitem_err")


def test_analyze_table_records_stats(bc):
    """ANALYZE TABLE populates catalog statistics (row count + per-column
    min/max/ndv) that the CBO's join-order and broadcast decisions read."""
    bc.create_table("an_src", f"{SF_DIR}/nation.parquet")
    bc.sql("DROP TABLE IF EXISTS an_t")
    bc.sql("CREATE TABLE an_t AS SELECT n_nationkey, n_name FROM an_src")
    bc.analyze_table("an_t", columns=["n_nationkey"])

    detail = bc.spark.sql("DESCRIBE TABLE EXTENDED an_t").toPandas()
    stats = detail[detail.col_name == "Statistics"]["data_type"]
    assert len(stats) == 1 and "rows" in stats.iloc[0], detail
    coldesc = bc.spark.sql("DESCRIBE EXTENDED an_t n_nationkey").toPandas()
    got = dict(zip(coldesc.info_name, coldesc.info_value))
    assert got.get("min") == "0" and int(got.get("distinct_count", 0)) > 0, got
    bc.sql("DROP TABLE an_t")


def test_rapids_conf_assembly(monkeypatch):
    """The GPU plugin path (GPU.md) must assemble the complete RAPIDS
    configuration from the env — resource scheduling, pinned memory,
    concurrency, fallback auditing — and stay a strict no-op without the
    jar (this container has no GPU)."""
    from blazingsql_spark.session import _rapids_conf

    monkeypatch.delenv("SPARK_RAPIDS_PLUGIN_JAR", raising=False)
    assert _rapids_conf() == {}

    monkeypatch.setenv("SPARK_RAPIDS_PLUGIN_JAR", "/opt/jars/rapids.jar")
    monkeypatch.setenv("SPARK_RAPIDS_TASKS_PER_GPU", "4")
    conf = _rapids_conf()
    assert conf["spark.plugins"] == "com.nvidia.spark.SQLPlugin"
    assert conf["spark.rapids.sql.enabled"] == "true"
    assert conf["spark.executor.resource.gpu.amount"] == "1"
    assert conf["spark.task.resource.gpu.amount"] == "0.25"
    assert conf["spark.rapids.sql.concurrentGpuTasks"] == "4"
    assert conf["spark.rapids.memory.pinnedPool.size"] == "2g"
    assert conf["spark.rapids.sql.explain"] == "NOT_ON_GPU"


def test_create_table_reference_csv_kwargs(spark, tmp_path):
    """cudf-style CSV kwargs from the reference's create_table
    (pyblazing context.py:890-935) map onto Spark reader options."""
    import pytest

    from blazingsql_spark.context import Context

    bc = Context(spark=spark)
    # headerless pipe-delimited .tbl (the TPC-H dbgen dump shape)
    tbl = tmp_path / "part.tbl"
    tbl.write_text("1|widget|9.99\n2|gadget|12.50\n")
    bc.create_table(
        "ref_tbl", str(tbl),
        names=["id", "name", "price"], dtype=["int64", "str", "float64"],
        delimiter="|",
    )
    rows = {r.id: (r.name, r.price) for r in bc.sql("SELECT * FROM ref_tbl").collect()}
    assert rows == {1: ("widget", 9.99), 2: ("gadget", 12.5)}
    assert bc.describe_table("ref_tbl") == {"id": "bigint", "name": "string", "price": "double"}

    # headered file + nrows cap + quotechar + header=0 (cudf spelling)
    csv = tmp_path / "docs.csv"
    csv.write_text("id;txt\n1;'a;b'\n2;'c'\n3;'d'\n")
    bc.create_table(
        "ref_csv", str(csv), delimiter=";", quotechar="'", header=0, nrows=2
    )
    got = bc.sql("SELECT * FROM ref_csv ORDER BY id").collect()
    assert len(got) == 2 and got[0].txt == "a;b"

    # unsupported reference kwargs are rejected BY NAME, never misparsed
    with pytest.raises(NotImplementedError, match="skiprows"):
        bc.create_table("nope", str(csv), skiprows=2)
    with pytest.raises(NotImplementedError, match="na_values"):
        bc.create_table("nope", str(csv), na_values=["NA", "null"])
    # ADVICE r6: the REST of the reference full_kwargs must not fall
    # through to Spark's option map silently — ORC-family / chunking names
    # raise by name, unknown names raise listing themselves
    with pytest.raises(NotImplementedError, match="stripes"):
        bc.create_table("nope", str(csv), stripes=[0, 1])
    with pytest.raises(NotImplementedError, match="num_rows"):
        bc.create_table("nope", str(csv), num_rows=10)
    with pytest.raises(NotImplementedError, match="use_index"):
        bc.create_table("nope", str(csv), use_index=True)
    with pytest.raises(NotImplementedError, match="compression"):
        bc.create_table("nope", str(csv), compression="gzip")
    with pytest.raises(NotImplementedError, match="totally_bogus"):
        bc.create_table("nope", str(csv), totally_bogus=1)
    # results-neutral reference hints are accepted and ignored
    bc.create_table(
        "ref_hints", str(csv), delimiter=";", quotechar="'", header=0,
        max_bytes_chunk_read=268435456, get_metadata=False,
    )
    assert bc.sql("SELECT COUNT(*) AS n FROM ref_hints").first().n == 3
    # ADVICE r7: valid Spark reader options the first allowlist cut missed
    # (option-map-only names + documented aliases) must pass through, not
    # raise as "not a Spark CSV reader option"
    bc.create_table(
        "ref_tz", str(csv), delimiter=";", quotechar="'", header=0,
        timeZone="UTC", enableDateTimeParsingFallback=True,
        maxMalformedLogPerPartition=10,
    )
    assert bc.sql("SELECT COUNT(*) AS n FROM ref_tz").first().n == 3
    # recognized native Spark options still pass through
    bc.create_table(
        "ref_native", str(csv), delimiter=";", quotechar="'", header=0,
        mode="PERMISSIVE",
    )
    assert bc.sql("SELECT COUNT(*) AS n FROM ref_native").first().n == 3
    for t in ("ref_tbl", "ref_csv", "ref_hints", "ref_native"):
        bc.drop_table(t)


def test_create_manifest_table_current_and_as_of(spark, tmp_path):
    """Context facade over manifest-managed tables: the current view and
    a time-travel view register as queryable SQL tables; dropping works."""
    from blazingsql_spark import Context
    from blazingsql_spark.sources import manifest as mf

    root = str(tmp_path / "mt")
    t = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    mf.write_epoch_partition(t([(1, "a")]), root, 0)
    mf.write_manifest(
        spark, root, {"bases": [], "min_epoch": 0, "max_epoch": 0},
        keep_manifests=3,
    )
    mf.write_epoch_partition(t([(2, "b")]), root, 1)
    mf.write_manifest(
        spark, root, {"bases": [], "min_epoch": 0, "max_epoch": 1},
        keep_manifests=3,
    )
    bc = Context(spark=spark)
    bc.create_manifest_table("cur", root)
    bc.create_manifest_table("old", root, version=1)
    assert bc.sql("SELECT COUNT(*) AS n FROM cur").first()["n"] == 2
    assert bc.sql("SELECT COUNT(*) AS n FROM old").first()["n"] == 1
    assert {"cur", "old"} <= set(bc.list_tables())
    bc.drop_table("old")
    assert "old" not in bc.list_tables()


def test_refresh_manifest_table_after_compaction(spark, tmp_path):
    """A registered current view freezes its manifest + file listing;
    after a maintainer compaction gc's the old partitions, refresh
    re-resolves against the newest published manifest (re-registration
    semantics documented on create_manifest_table)."""
    from blazingsql_spark import Context
    from blazingsql_spark.sources import manifest as mf

    root = str(tmp_path / "rt")
    t = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    mf.write_epoch_partition(t([(1, "a")]), root, 0)
    mf.write_epoch_partition(t([(2, "b")]), root, 1)
    bc = Context(spark=spark)
    bc.create_manifest_table("live", root)
    assert bc.sql("SELECT COUNT(*) AS n FROM live").first()["n"] == 2
    mf.write_epoch_partition(t([(3, "c")]), root, 2)
    mf.compact_epoch_tables(
        spark, root, {"": lambda df: df.coalesce(1)}, epoch=2, max_files=0
    )
    bc.refresh_manifest_table("live")
    assert sorted(
        r.k for r in bc.sql("SELECT k FROM live").collect()
    ) == [1, 2, 3]
    import pytest

    with pytest.raises(ValueError, match="not a registered manifest table"):
        bc.refresh_manifest_table("nope")


def test_create_table_widens_unsigned_exactly(spark, tmp_path):
    """Unsigned-int widening policy (SURVEY §1.2; reference
    CatalogColumnDataType.java:19-44): uint8/16/32/64 widen to
    smallint/int/bigint/decimal(20,0) with values exact at the TOP of
    each unsigned range, across all three ingestion paths (parquet scan,
    Arrow table, pandas). Without the policy, Arrow ingestion rejected
    uints outright and pandas silently NULLed uint64 > 2^63-1."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from decimal import Decimal

    vals = {
        "u8": ([0, 255], pa.uint8()),
        "u16": ([0, 65535], pa.uint16()),
        "u32": ([0, 4294967295], pa.uint32()),
        "u64": ([0, 18446744073709551615], pa.uint64()),
    }
    table = pa.table({k: pa.array(v, t) for k, (v, t) in vals.items()})
    want_types = ["smallint", "int", "bigint", "decimal(20,0)"]
    want_max = [255, 65535, 4294967295, Decimal(18446744073709551615)]

    bc = Context(spark=spark)

    # parquet scan path (Spark-native widening — pinned here so a Spark
    # behavior change surfaces as a policy break, not silent drift)
    pq.write_table(table, str(tmp_path / "u.parquet"))
    for name, src in (
        ("u_pq", str(tmp_path / "u.parquet")),
        ("u_arrow", table),
        ("u_pandas", pd.DataFrame(
            {k: np.array(v, str(t)) for k, (v, t) in vals.items()}
        )),
    ):
        df = bc.create_table(name, src)
        got_types = [f.dataType.simpleString() for f in df.schema.fields]
        assert got_types == want_types, (name, got_types)
        top = df.orderBy("u8").collect()[-1]
        assert list(top) == want_max, (name, list(top))


def test_async_token_match_recognize(bc):
    """Async submission (return_token=True) + status/fetch must accept the
    SQL:2016 MATCH_RECOGNIZE spelling: the rewrite runs BEFORE the async
    fork, so the worker thread plans plain rewritten SQL (VERDICT r9/r10
    optional item)."""
    bc.create_table("ev_async", f"{SF_DIR}/events.parquet")
    token = bc.sql(
        """
        SELECT user_id, n FROM ev_async MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (V C+)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click'
        )
        """,
        return_token=True,
    )
    assert isinstance(token, int)
    for _ in range(400):
        if bc.status(token):
            break
        time.sleep(0.05)
    rows = bc.fetch(token)
    assert rows and all(r["n"] >= 2 for r in rows)

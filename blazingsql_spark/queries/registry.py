"""Central query registry: every operator we claim in SURVEY.md §2 has one
entry here — a Spark implementation plus (where SQL-expressible) a DuckDB
oracle SQL string. The driver and tests/bench all consume this registry, so
an operator is "done" exactly when it appears here and matches its oracle.

Determinism rules (so value-hashes match across engines):
- double aggregates are ROUND()ed (2-6 decimals) in BOTH dialects — floating
  sums are order-dependent across engines, rounding removes the low bits;
- every computed column is aliased identically in both dialects;
- LIMIT queries carry a total ORDER BY with a unique tiebreaker;
- no engine-specific functions in compared output (e.g. hash()).

Row order: the external correctness run over ``__spark_entry__.queries()``
records only its first 50 rows (``CORRECTNESS_r*.json``), so the order
decides which rows get checked. ``all_queries()`` yields ``DRIVER_ORDER``
first, then every other row in registration order. ``DRIVER_ORDER`` is
the 3 sentinels (``expr_math``, ``text_stats``, ``tpch_q1``) followed by
the 47 registered rows whose latest appearance in a committed
``CORRECTNESS_r*.json`` is oldest; rows never checked come first, ties go
by registration order. Regenerate it whenever a new
``CORRECTNESS_r*.json`` lands: run
``python -m pytest tests/test_entry.py -k driver_order`` and paste the
tuple its failure message prints.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from blazingsql_spark import width

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Modules that populate the registry on import.
_QUERY_MODULES = (
    "blazingsql_spark.queries.tpch",
    "blazingsql_spark.queries.relational",
    "blazingsql_spark.queries.expressions",
    "blazingsql_spark.queries.pipeline",
    "blazingsql_spark.queries.tpch_extra",
    "blazingsql_spark.queries.formats",
    "blazingsql_spark.queries.graph_ann",
    "blazingsql_spark.queries.graph_inc",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    headline: bool = False  # include in bench.py
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# Oracle rows allowed to return 0 rows (vacuity allowlist — see
# tests/conftest.py assert_not_vacuous and VERDICT r10 "What's wrong" #1).
# Empty by design only; every entry needs a justification comment. The
# r10 offenders (tpch_q7/q22 pre-adaptation, except_all/except_distinct,
# subquery_scalar, join_anti, subquery_not_exists) were fattened instead.
VACUOUS_OK: frozenset[str] = frozenset()


def _add(spec: QuerySpec) -> None:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    REGISTRY[spec.name] = spec


def register(name: str, oracle: str | None = None, headline: bool = False, doc: str = ""):
    """Decorator for DataFrame-API query implementations."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _add(QuerySpec(name, fn, oracle, headline, doc or (fn.__doc__ or "")))
        return fn

    return deco


def _prepare_session(spark: SparkSession) -> None:
    """Confs the queries depend on, set defensively: the driver may hand us
    a session built without blazingsql_spark.session.get_spark (e.g. its own
    harness session)."""
    from pyspark.errors import AnalysisException

    try:
        # UTC so timestamp extraction/windows match the (UTC-naive) oracle
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except AnalysisException:
        # a session that forbids changing the conf keeps its own zone
        pass


def fan_out(spark, sf_dir, name, df, per_task_rows=None) -> DataFrame:
    """:func:`blazingsql_spark.width.fan_out` under the signature
    ``perfbench/workloads.py`` calls; ``spark``, ``sf_dir`` and ``name``
    are unused (the width follows the files ``df`` reads)."""
    return width.fan_out(df, per_task_rows)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The ``<sf_dir>/<name>.parquet`` fixture table; a compute-heavy
    consumer widens the scan with :func:`blazingsql_spark.width.fan_out`."""
    from blazingsql_spark.sources.io import read_parquet_file

    _prepare_session(spark)
    df = read_parquet_file(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts resolution varies across fixture regenerations (NANOS
        # in rounds 1-2, MICROS since round 3): a NANOS ts arrives as
        # bigint; truncate to µs, identical to DuckDB's
        # TIMESTAMP_NS→TIMESTAMP cast
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def ensure_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register the testdata tables as temp views for SQL-form queries."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _sql_fn(sql: str, tables: tuple[str, ...]) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_views(spark, sf_dir, tables)
        return spark.sql(sql)

    fn.sql = sql  # type: ignore[attr-defined]
    return fn


def twin(
    name: str,
    sql: str,
    tables: tuple[str, ...] = TABLES,
    headline: bool = False,
    doc: str = "",
) -> None:
    """Register a query whose Spark SQL and DuckDB oracle are the SAME text —
    the common case: both engines speak ANSI SQL."""
    _add(QuerySpec(name, _sql_fn(sql, tables), sql, headline, doc))


def pair(
    name: str,
    spark_sql: str,
    oracle: str | None,
    tables: tuple[str, ...] = TABLES,
    headline: bool = False,
    doc: str = "",
) -> None:
    """Register a query with dialect-divergent Spark SQL vs DuckDB SQL."""
    _add(QuerySpec(name, _sql_fn(spark_sql, tables), oracle, headline, doc))


_loaded = False

# Generated, not hand-edited: the module docstring says how it is chosen
# and how to regenerate it.
DRIVER_ORDER = (
    "expr_math",
    "text_stats",
    "tpch_q1",
    "events_mr_nav_nondeterministic",
    "events_mr_measure_nav",
    "agg_approx_distinct",
    "agg_approx_percentile",
    "events_tumbling_window",
    "events_json_extract",
    "pivot_status",
    "range_join_orders",
    "topk_per_group",
    "window_nth_value",
    "agg_with_nulls",
    "distinct_with_nulls",
    "limit_offset",
    "agg_having",
    "agg_percentile_cont",
    "agg_filter_clause",
    "agg_salted_skew",
    "agg_corr_covar",
    "agg_regression",
    "events_funnel",
    "expr_predicates",
    "expr_string",
    "expr_datetime",
    "expr_extract",
    "expr_case",
    "expr_cast",
    "expr_bitwise",
    "expr_interval",
    "expr_is_truth",
    "expr_to_timestamp",
    "expr_rand",
    "expr_literals",
    "expr_string_pad",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "docs_pack",
    "multimodal_meta",
    "multimodal_decode",
    "nested_struct_ops",
    "text_winnowing",
    "multimodal_resize",
    "docs_chunk",
    "dedup_contamination",
    "events_trending",
    "events_hopping_window",
    "knn_classify",
)


def all_queries() -> dict[str, QuerySpec]:
    global _loaded
    if not _loaded:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _loaded = True
    ordered = {name: REGISTRY[name] for name in DRIVER_ORDER}
    ordered.update(REGISTRY)
    return ordered

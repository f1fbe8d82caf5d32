"""Differential SQL fuzzing: hypothesis-generated queries from a
dialect-portable grammar run on BOTH engines (Spark and DuckDB) and must
agree under the strict driver-faithful compare (tests/conftest.py).

This widens correctness coverage beyond the 207 hand-written registry
pairs: the grammar samples the filter/aggregate/group-by surface the
reference's e2e suites hammer (BlazingSQLTest TestSuites combine the same
building blocks), but the combinations are fresh every run while staying
reproducible (hypothesis prints the failing example).

Grammar discipline for cross-engine exactness (the same rules the
registry oracles follow):
- integer aggregates wrapped CAST(... AS BIGINT) (DuckDB SUM(int) is
  HUGEINT — the round-3 driver-red class);
- no SUM/AVG over doubles (summation order is engine-dependent); MIN/MAX
  over doubles are exact and allowed;
- string and date literals from the actual TPC-H domains so predicates
  are selective but non-vacuous.
"""

from __future__ import annotations

import pytest

from hypothesis import example, given, settings
from hypothesis import strategies as st

from tests.conftest import compare_frames

# FUZZ_SCALE=8 (etc.) multiplies every grammar's example count for one-off
# deep sweeps (tools: FUZZ_SCALE=8 pytest tests/test_fuzz_sql.py); default 1
# keeps the CI suite bounded.
import os as _os

_SCALE = int(_os.environ.get("FUZZ_SCALE", "1"))

INT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
DBL_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
GROUP_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]

_pred = st.one_of(
    st.tuples(st.sampled_from(INT_COLS), st.sampled_from(["<", "<=", ">", ">=", "<>"]),
              st.integers(1, 6000)).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.tuples(st.sampled_from(DBL_COLS), st.sampled_from(["<", ">="]),
              st.floats(0.0, 50.0, allow_nan=False).map(lambda f: round(f, 2)))
    .map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.sampled_from(["l_returnflag = 'A'", "l_returnflag = 'N'", "l_returnflag = 'R'",
                     "l_linestatus = 'O'", "l_linestatus = 'F'",
                     "l_shipdate >= '1996-01-01'", "l_shipdate < '1997-06-15'",
                     "l_quantity BETWEEN 5 AND 30",
                     "l_linenumber IN (1, 2, 3)"]),
)

_agg = st.one_of(
    st.just("CAST(COUNT(*) AS BIGINT) AS n"),
    st.sampled_from(INT_COLS).map(lambda c: f"CAST(SUM({c}) AS BIGINT) AS sum_{c}"),
    st.sampled_from(INT_COLS).map(lambda c: f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}"),
    st.sampled_from(DBL_COLS).map(lambda c: f"MIN({c}) AS min_{c}"),
    st.sampled_from(DBL_COLS).map(lambda c: f"MAX({c}) AS max_{c}"),
    st.sampled_from(INT_COLS).map(lambda c: f"CAST(MIN({c}) AS BIGINT) AS imin_{c}"),
)


@st.composite
def _query(draw):
    preds = draw(st.lists(_pred, min_size=1, max_size=3))
    conj = draw(st.sampled_from([" AND ", " OR "]))
    where = conj.join(preds)
    groups = draw(st.lists(st.sampled_from(GROUP_COLS), min_size=0, max_size=2,
                           unique=True))
    aggs = draw(st.lists(_agg, min_size=1, max_size=3, unique_by=lambda a: a.split(" AS ")[1]))
    select = ", ".join(groups + aggs)
    sql = f"SELECT {select} FROM lineitem WHERE {where}"
    if groups:
        sql += f" GROUP BY {', '.join(groups)} ORDER BY {', '.join(groups)}"
    return sql


@settings(max_examples=25 * _SCALE, deadline=None)
@given(sql=_query())
def test_fuzzed_query_matches_duckdb(spark_fuzz, oracle_fuzz, sql):
    got = spark_fuzz.sql(sql).toPandas()
    want = oracle_fuzz.execute(sql).fetchdf()
    compare_frames(got, want, sql)


# session-scoped engine handles reused across examples (hypothesis calls
# the test many times per pytest item; fixtures must not rebuild Spark)
import duckdb  # noqa: E402
import pytest  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402

# Hypothesis long-tail: nightly tier (r13 — the default gate must fit the
# driver's verify budget; see pyproject addopts)
pytestmark = pytest.mark.slow



@pytest.fixture(scope="module")
def spark_fuzz(spark):
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").createOrReplaceTempView("lineitem")
    spark.read.parquet(f"{SF_DIR}/orders.parquet").createOrReplaceTempView("orders")
    return spark


@pytest.fixture(scope="module")
def oracle_fuzz():
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


# ---- join grammar: lineitem x orders, INNER and LEFT (o-preds pushed
# into ON for LEFT so null-extension semantics are actually exercised) ----

_o_pred = st.sampled_from([
    "o_orderstatus = 'O'", "o_orderstatus = 'F'",
    "o_totalprice < 150000", "o_totalprice >= 50000",
    "o_orderdate >= '1995-01-01'", "o_orderdate < '1997-01-01'",
    "o_custkey % 3 = 0",
])

_join_agg = st.one_of(
    st.just("CAST(COUNT(*) AS BIGINT) AS n"),
    st.just("CAST(COUNT(o_orderkey) AS BIGINT) AS n_matched"),
    st.just("CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln"),
    st.just("CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_cust"),
    st.just("MIN(o_totalprice) AS min_price"),
    st.just("MAX(l_discount) AS max_disc"),
)

_JOIN_GROUPS = ["l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority"]


@st.composite
def _join_query(draw):
    jtype = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
    opred = draw(_o_pred)
    lpred = draw(_pred)
    on = f"l_orderkey = o_orderkey AND {opred}"
    # o_-side group keys under LEFT JOIN yield NULL groups from unmatched
    # rows — kept in deliberately, both engines group NULLs together
    groups = draw(st.lists(st.sampled_from(_JOIN_GROUPS), min_size=0, max_size=2,
                           unique=True))
    aggs = draw(st.lists(_join_agg, min_size=1, max_size=3,
                         unique_by=lambda a: a.split(" AS ")[1]))
    select = ", ".join(groups + aggs)
    sql = (f"SELECT {select} FROM lineitem {jtype} orders ON {on} "
           f"WHERE {lpred}")
    if groups:
        sql += f" GROUP BY {', '.join(groups)} ORDER BY {', '.join(groups)}"
    return sql


@settings(max_examples=15 * _SCALE, deadline=None)
@given(sql=_join_query())
def test_fuzzed_join_matches_duckdb(spark_fuzz, oracle_fuzz, sql):
    got = spark_fuzz.sql(sql).toPandas()
    want = oracle_fuzz.execute(sql).fetchdf()
    compare_frames(got, want, sql)


# ---- set-operation grammar: UNION [ALL] / INTERSECT / EXCEPT between a
# lineitem branch and an orders branch (distinct-form semantics are a
# deterministic multiset in both engines), folded to a scalar checksum ----

# ALL variants added r11 alongside the de-vacuated except_all row:
# multiplicity semantics (bag difference/intersection) fuzz-covered,
# not just the set forms
_SETOPS = ["UNION ALL", "UNION", "INTERSECT", "EXCEPT",
           "INTERSECT ALL", "EXCEPT ALL"]


@st.composite
def _setop_query(draw):
    op = draw(st.sampled_from(_SETOPS))
    lp = draw(_pred)
    rp = draw(_o_pred)
    # branch projections share (k BIGINT, j BIGINT); j is a small modulus
    # so INTERSECT/EXCEPT actually collide across the two tables
    left = (f"SELECT CAST(l_orderkey AS BIGINT) AS k, "
            f"CAST(l_linenumber % 4 AS BIGINT) AS j FROM lineitem WHERE {lp}")
    right = (f"SELECT CAST(o_orderkey AS BIGINT) AS k, "
             f"CAST(o_orderkey % 4 AS BIGINT) AS j FROM orders WHERE {rp}")
    if draw(st.booleans()):
        left, right = right, left
    return (f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST(SUM(k) AS BIGINT) AS sum_k, CAST(SUM(j) AS BIGINT) AS sum_j "
            f"FROM (({left}) {op} ({right})) t")


@settings(max_examples=15 * _SCALE, deadline=None)
@given(sql=_setop_query())
def test_fuzzed_setop_matches_duckdb(spark_fuzz, oracle_fuzz, sql):
    got = spark_fuzz.sql(sql).toPandas()
    want = oracle_fuzz.execute(sql).fetchdf()
    compare_frames(got, want, sql)


# ---- window grammar: RANK/DENSE_RANK (tie-stable row multisets even
# with duplicate rows — unlike ROW_NUMBER) and whole-partition
# aggregates; the compare sorts rows so only the MULTISET must match ----

_win_expr = st.one_of(
    st.tuples(st.sampled_from(["RANK()", "DENSE_RANK()"]),
              st.sampled_from(GROUP_COLS), st.sampled_from(INT_COLS))
    .map(lambda t: f"{t[0]} OVER (PARTITION BY {t[1]} ORDER BY {t[2]}) AS rnk"),
    st.tuples(st.sampled_from(GROUP_COLS), st.sampled_from(INT_COLS))
    .map(lambda t: f"CAST(SUM({t[1]}) OVER (PARTITION BY {t[0]}) AS BIGINT) AS wsum"),
    st.sampled_from(GROUP_COLS)
    .map(lambda g: f"CAST(COUNT(*) OVER (PARTITION BY {g}) AS BIGINT) AS wcnt"),
)


@st.composite
def _window_query(draw):
    pred = draw(_pred)
    wexprs = draw(st.lists(_win_expr, min_size=1, max_size=2,
                           unique_by=lambda e: e.split(" AS ")[1]))
    cols = ["l_orderkey", "l_linenumber"] + wexprs
    return f"SELECT {', '.join(cols)} FROM lineitem WHERE {pred}"


@settings(max_examples=15 * _SCALE, deadline=None)
@given(sql=_window_query())
def test_fuzzed_window_matches_duckdb(spark_fuzz, oracle_fuzz, sql):
    got = spark_fuzz.sql(sql).toPandas()
    want = oracle_fuzz.execute(sql).fetchdf()
    compare_frames(got, want, sql)


# ---- scalar-expression grammar: the §2.7 function surface, randomized.
# Only functions whose semantics are bit-identical across engines
# (string family, EXTRACT parts, integer arithmetic, CASE); doubles stay
# out (ROUND half-up vs half-even) except via MIN/MAX elsewhere ----

_STR_COLS = ["o_orderpriority", "o_orderstatus"]

_scalar_expr = st.one_of(
    st.sampled_from(_STR_COLS).map(lambda c: f"UPPER({c})"),
    st.sampled_from(_STR_COLS).map(lambda c: f"LOWER({c})"),
    st.sampled_from(_STR_COLS).map(lambda c: f"SUBSTRING({c}, 1, 3)"),
    st.sampled_from(_STR_COLS).map(lambda c: f"REVERSE({c})"),
    st.sampled_from(_STR_COLS).map(lambda c: f"REPLACE({c}, '-', '.')"),
    st.sampled_from(_STR_COLS).map(
        lambda c: f"CONCAT({c}, '_', o_orderstatus)"
    ),
    st.sampled_from(_STR_COLS).map(lambda c: f"CAST(LENGTH({c}) AS BIGINT)"),
    st.sampled_from(["YEAR", "MONTH", "DAY"]).map(
        lambda p: f"CAST(EXTRACT({p} FROM o_orderdate) AS BIGINT)"
    ),
    st.sampled_from([3, 7, 11]).map(lambda m: f"o_custkey % {m}"),
    st.just("CASE WHEN o_totalprice < 100000 THEN 'lo' ELSE 'hi' END"),
    st.just("ABS(o_custkey - 500)"),
)


@st.composite
def _scalar_query(draw):
    expr = draw(_scalar_expr)
    pred = draw(_o_pred)
    return (f"SELECT {expr} AS e, CAST(COUNT(*) AS BIGINT) AS n "
            f"FROM orders WHERE {pred} GROUP BY 1 ORDER BY 1")


@settings(max_examples=20 * _SCALE, deadline=None)
@given(sql=_scalar_query())
def test_fuzzed_scalar_expr_matches_duckdb(spark_fuzz, oracle_fuzz, sql):
    got = spark_fuzz.sql(sql).toPandas()
    want = oracle_fuzz.execute(sql).fetchdf()
    compare_frames(got, want, sql)


# ---- documents grammar: the string/text surface over the corpus table
# (the other four grammars only touch lineitem/orders). Dialect-portable
# by construction: LIKE instead of regex functions, POSITION/TRIM/MD5/
# SUBSTRING/REPLACE spell identically in Spark SQL and DuckDB, integer
# aggregates CAST to BIGINT (HUGEINT rule), no double SUMs. ----

_doc_pred = st.one_of(
    st.sampled_from(["lang = 'en'", "lang = 'es'", "lang IN ('de', 'fr')",
                     "lang <> 'zh'", "source = 'src3'",
                     "source IN ('src0', 'src11', 'src7')",
                     "text LIKE '%the%'", "text NOT LIKE '%zz%'",
                     "LENGTH(text) > 100"]),
    st.integers(50, 900).map(lambda n: f"n_chars >= {n}"),
    st.integers(100, 1200).map(lambda n: f"n_chars < {n}"),
)

_doc_expr = st.one_of(
    st.just("lang"),
    st.just("source"),
    st.just("SUBSTRING(lang, 1, 1)"),
    st.just("CONCAT(lang, ':', source)"),
    st.just("CAST(n_chars % 7 AS BIGINT)"),
    st.just("CAST(LENGTH(TRIM(text)) % 5 AS BIGINT)"),
    st.just("CASE WHEN n_chars < 300 THEN 'short' ELSE 'long' END"),
    st.just("UPPER(lang)"),
    st.just("CAST(POSITION('e' IN lang) AS BIGINT)"),
)

_doc_agg = st.one_of(
    st.just("CAST(COUNT(*) AS BIGINT) AS n"),
    st.just("CAST(SUM(n_chars) AS BIGINT) AS sum_chars"),
    st.just("CAST(COUNT(DISTINCT source) AS BIGINT) AS nd_source"),
    st.just("CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len"),
    st.just("MAX(MD5(text)) AS max_fp"),
    st.just("MIN(SUBSTRING(REPLACE(text, ' ', '_'), 1, 12)) AS min_frag"),
)


@st.composite
def _doc_query(draw):
    expr = draw(_doc_expr)
    agg1 = draw(_doc_agg)
    agg2 = draw(_doc_agg)
    preds = draw(st.lists(_doc_pred, min_size=1, max_size=2))
    where = " AND ".join(preds)
    aggs = agg1 if agg1.split(" AS ")[-1] == agg2.split(" AS ")[-1] else f"{agg1}, {agg2}"
    return (f"SELECT {expr} AS k, {aggs} FROM documents "
            f"WHERE {where} GROUP BY 1 ORDER BY 1")


@settings(max_examples=20 * _SCALE, deadline=None)
@given(sql=_doc_query())
def test_fuzzed_documents_matches_duckdb(spark_fuzz_docs, oracle_fuzz_docs, sql):
    got = spark_fuzz_docs.sql(sql).toPandas()
    want = oracle_fuzz_docs.execute(sql).fetchdf()
    compare_frames(got, want, sql)


# ---- nested-subquery grammar (#7): correlated EXISTS / NOT EXISTS,
# (NOT) IN, scalar and correlated-scalar subqueries, two-level IN
# nesting through customer, and derived-table joins — mirroring the
# reference's nestedQueriesSuite.yaml (tests/BlazingSQLTest/EndToEndTests/
# TestSuites/nestedQueriesSuite.yaml) whose shapes are FROM-subqueries +
# subquery joins. Catalyst decorrelates EXISTS/IN to semi/anti joins
# (plan-asserted in test_plans.py); this grammar checks the VALUES match
# DuckDB across fresh combinations. Dialect rules as above: BIGINT casts,
# no double SUM/AVG; o_orderkey/c_custkey are never NULL so NOT IN keeps
# two-valued logic. ----

_lpred_conj = st.lists(_pred, min_size=1, max_size=2).map(" AND ".join)

_sub_where = st.one_of(
    # uncorrelated IN / NOT IN over orders, optionally nested one level
    # deeper through customer (IN inside IN)
    st.tuples(st.sampled_from(["IN", "NOT IN"]), _o_pred, st.booleans()).map(
        lambda t: (
            f"l_orderkey {t[0]} (SELECT o_orderkey FROM orders WHERE {t[1]}"
            + (
                " AND o_custkey IN (SELECT c_custkey FROM customer"
                " WHERE c_nationkey <= 12)"
                if t[2]
                else ""
            )
            + ")"
        )
    ),
    # correlated EXISTS / NOT EXISTS against orders
    st.tuples(st.sampled_from(["EXISTS", "NOT EXISTS"]), _o_pred).map(
        lambda t: (
            f"{t[0]} (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey "
            f"AND {t[1]})"
        )
    ),
    # uncorrelated scalar subquery (MAX is engine-exact; / 2 keeps it
    # selective but non-empty)
    _o_pred.map(
        lambda p: (
            f"l_orderkey <= (SELECT MAX(o_orderkey) FROM orders WHERE {p}) / 2"
        )
    ),
)


@st.composite
def _subquery_query(draw):
    lpred = draw(_lpred_conj)
    sub = draw(_sub_where)
    groups = draw(
        st.lists(st.sampled_from(GROUP_COLS), min_size=0, max_size=1)
    )
    aggs = draw(
        st.lists(_agg, min_size=1, max_size=2, unique_by=lambda a: a.split(" AS ")[1])
    )
    select = ", ".join(groups + aggs)
    sql = f"SELECT {select} FROM lineitem WHERE {lpred} AND {sub}"
    if groups:
        sql += f" GROUP BY {', '.join(groups)} ORDER BY {', '.join(groups)}"
    return sql


@settings(max_examples=20 * _SCALE, deadline=None)
@given(sql=_subquery_query())
def test_fuzzed_subquery_matches_duckdb(spark_fuzz_nested, oracle_fuzz_nested, sql):
    got = spark_fuzz_nested.sql(sql).toPandas()
    want = oracle_fuzz_nested.execute(sql).fetchdf()
    compare_frames(got, want, sql)


@st.composite
def _correlated_scalar_query(draw):
    """orders as the outer table, a correlated scalar COUNT/MIN over
    lineitem in the projection AND optionally the predicate — the shape
    Catalyst rewrites to an aggregate-then-left-join."""
    opred = draw(_o_pred)
    lpred = draw(_pred)
    proj = draw(
        st.sampled_from(
            [
                "(SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem"
                " WHERE l_orderkey = o_orderkey)",
                "(SELECT CAST(MIN(l_linenumber) AS BIGINT) FROM lineitem"
                " WHERE l_orderkey = o_orderkey)",
                "(SELECT CAST(MAX(l_suppkey) AS BIGINT) FROM lineitem"
                " WHERE l_orderkey = o_orderkey)",
            ]
        )
    )
    in_pred = draw(st.booleans())
    where = f"WHERE {opred}"
    if in_pred:
        where += (
            f" AND (SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey"
            f" AND {lpred}) >= 2"
        )
    return (
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n_orders, "
        f"CAST(SUM(sub.x) AS BIGINT) AS checksum FROM "
        f"(SELECT o_orderkey, COALESCE({proj}, -1) AS x "
        f"FROM orders {where}) sub"
    )


@settings(max_examples=15 * _SCALE, deadline=None)
@given(sql=_correlated_scalar_query())
def test_fuzzed_correlated_scalar_matches_duckdb(
    spark_fuzz_nested, oracle_fuzz_nested, sql
):
    got = spark_fuzz_nested.sql(sql).toPandas()
    want = oracle_fuzz_nested.execute(sql).fetchdf()
    compare_frames(got, want, sql)


@st.composite
def _derived_table_query(draw):
    """nestedQueriesSuite.yaml's own shape: join an aggregate derived
    table back against a base table."""
    opred = draw(_o_pred)
    lpred = draw(_pred)
    jtype = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
    return (
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(t.n_ord) AS BIGINT) AS s FROM lineitem {jtype} "
        f"(SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n_ord "
        f"FROM orders WHERE {opred} GROUP BY o_orderkey) t "
        f"ON l_orderkey = t.k WHERE {lpred}"
    )


@settings(max_examples=15 * _SCALE, deadline=None)
@given(sql=_derived_table_query())
def test_fuzzed_derived_table_matches_duckdb(
    spark_fuzz_nested, oracle_fuzz_nested, sql
):
    got = spark_fuzz_nested.sql(sql).toPandas()
    want = oracle_fuzz_nested.execute(sql).fetchdf()
    compare_frames(got, want, sql)


@pytest.fixture(scope="module")
def spark_fuzz_nested(spark):
    for t in ("lineitem", "orders", "customer"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").createOrReplaceTempView(t)
    return spark


@pytest.fixture(scope="module")
def oracle_fuzz_nested():
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def spark_fuzz_docs(spark):
    spark.read.parquet(f"{SF_DIR}/documents.parquet").createOrReplaceTempView("documents")
    return spark


@pytest.fixture(scope="module")
def oracle_fuzz_docs():
    con = duckdb.connect()
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    yield con
    con.close()


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE pattern fuzzing (r12, VERDICT-r11 #9). DuckDB has no
# SQL:2016 row-pattern surface, so the oracle is Python's re engine —
# a leftmost-PREFERMENT matcher, exactly the SQL:2016 order the row
# scanner implements (greedy quantifiers, left-first alternation). The
# generator drives the REAL compile path (_strip_anchors,
# _expand_permute for PERMUTE, compile_pattern's bounded-quantifier
# expansion) — an `A{2} C` silent-no-match bug is exactly the class
# this catches. The scanner is checked with no mapping carried (the
# vectorized route) and with every symbol's mapping carried (the
# navigation route).
# ---------------------------------------------------------------------------


def _mr_pattern():
    import itertools

    quant = st.sampled_from(
        ["", "", "*", "+", "?", "{2}", "{1,3}", "{2,}",
         # reluctant forms (late r12): same language, preferment
         # prefers the SHORTEST accept — re is the exact oracle
         "*?", "+?", "??", "{1,3}?", "{2,}?"]
    )

    def atom():
        return st.one_of(
            st.sampled_from(list("abc")),
            st.sampled_from(list("abc")).flatmap(
                lambda x: st.sampled_from(list("abc")).map(
                    lambda y: f"({x}|{y})"
                )
            ),
            st.tuples(
                st.sampled_from(list("abc")), st.sampled_from(list("abc"))
            ).map(lambda t: f"({t[0]}{t[1]})"),
        )

    @st.composite
    def pat(draw):
        parts = []
        for _ in range(draw(st.integers(1, 3))):
            a = draw(atom())
            q = draw(quant)
            parts.append(a + q)
        core = "".join(parts)
        if draw(st.booleans()):
            # exercise the real PERMUTE expansion on a suffix
            from blazingsql_spark.operators.match_recognize import (
                _expand_permute,
            )

            syms = draw(
                st.lists(
                    st.sampled_from(list("abc")), min_size=2, max_size=3,
                    unique=True,
                )
            )
            core += _expand_permute(
                f"PERMUTE({', '.join(syms)})"
            ).replace(" ", "")
        anchor = draw(st.sampled_from(["", "^", "$", "^$"]))
        return ("^" if "^" in anchor else "") + core + (
            "$" if "$" in anchor else ""
        )

    return pat()


@settings(max_examples=150 * _SCALE, deadline=None)
@given(
    pattern=_mr_pattern(),
    s=st.text(alphabet="abcd", max_size=24),
)
# longest match (b a a b) and preferment (b a a, then b) disagree here
@example(pattern="ba*(ab)?", s="baab")
def test_fuzzed_mr_pattern_matches_re(pattern, s):
    import re as _re

    from blazingsql_spark.operators.match_recognize import _strip_anchors
    from blazingsql_spark.streaming.patterns import (
        char_truth,
        compile_pattern,
        scan_rows,
    )

    core, a_start, a_end = _strip_anchors(pattern)
    try:
        nfa = compile_pattern(core)
    except ValueError as e:
        # the engine rejects empty-matchable patterns LOUDLY (a*b* etc):
        # that is the correct behavior, not a fuzz finding — discard
        assert "empty string" in str(e), (pattern, e)
        from hypothesis import assume

        assume(False)
    want = [
        (m.start(), m.end())
        for m in _re.finditer(pattern, s)
        if m.end() > m.start()
    ]
    got, carry = scan_rows(
        nfa,
        char_truth(s),
        len(s),
        anchor_start=a_start,
        anchor_end=a_end,
    )
    assert carry is None
    assert [(lo, hi) for lo, hi, _ in got] == want, (pattern, s, got)
    for lo, hi, codes in got:
        assert codes == s[lo:hi]
    # carrying every mapping (navigation route) must agree: with
    # deterministic truth each thread's mapping is the consumed string
    got_nav, _ = scan_rows(
        nfa,
        char_truth(s),
        len(s),
        anchor_start=a_start,
        anchor_end=a_end,
        read_chars=frozenset("abc"),
    )
    assert got_nav == got, (pattern, s, got_nav, got)

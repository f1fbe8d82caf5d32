"""MATCH_RECOGNIZE operator + SQL spelling — differential vs Python's
regex engine on random streams, measure semantics, and rewriter parsing."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from blazingsql_spark.context import Context
from blazingsql_spark.operators.match_recognize import (
    match_recognize,
    rewrite_match_recognize,
)
from blazingsql_spark.streaming.patterns import (
    _SKIP_PAST,
    _skip_resume,
    char_truth,
    compile_pattern,
    ordered_closure,
    scan_rows,
)


def test_find_match_spans_matches_re_on_random_strings():
    """The scanner over a code string equals re: re.finditer under
    AFTER MATCH SKIP PAST LAST ROW, and every non-empty re.match
    position under SKIP TO NEXT ROW (each row starts an attempt)."""
    rnd = random.Random(20260815)
    for pat in [
        "ab+c", "abc", "a?b+c", "b*c", "(ab|bc)d?", "a.c", "c+",
        # bounded quantifiers (previously '{' compiled as a literal
        # char and the pattern silently matched nothing)
        "a{2}c", "a{1,3}b", "ab{2,}", "(ab){2}", "a{0,2}bc", "b{3}",
        "ba*(ab)?",
    ]:
        nfa = compile_pattern(pat)
        cre = re.compile(pat)
        for _ in range(150):
            s = "".join(rnd.choice("abcde") for _ in range(rnd.randint(0, 40)))
            want = [(m.start(), m.end()) for m in cre.finditer(s)]
            got, _ = scan_rows(nfa, char_truth(s), len(s))
            assert [(lo, hi) for lo, hi, _c in got] == want, (pat, s)
            assert all(
                len(c) == hi - lo
                and all(x in (y, ".") for x, y in zip(c, s[lo:hi]))
                for lo, hi, c in got
            ), (pat, s)  # a wildcard row's code is "."
            want_next = [
                (p, m.end())
                for p in range(len(s))
                if (m := cre.match(s, p)) and m.end() > p
            ]
            got, _ = scan_rows(nfa, char_truth(s), len(s), skip=("next",))
            assert [(lo, hi) for lo, hi, _c in got] == want_next, (pat, s)


def test_match_recognize_operator_measures(spark):
    df = spark.createDataFrame(
        [
            (1, 1, "view", 10),
            (1, 2, "click", 20),
            (1, 3, "click", 25),
            (1, 4, "purchase", 30),
            (1, 5, "view", 40),  # no completing clicks+purchase -> no match
            (2, 6, "click", 5),  # leading click skipped
            (2, 7, "view", 6),
            (2, 8, "click", 7),
            (2, 9, "purchase", 8),
            (3, 10, "error", 1),  # matches no symbol -> no match
        ],
        ["user_id", "event_id", "event_type", "ts"],
    )
    out = match_recognize(
        df,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        measures=[
            ("MATCH_NUMBER()", "match_no"),
            ("COUNT(*)", "n_rows"),
            ("COUNT(C.*)", "n_clicks"),
            ("FIRST(ts)", "first_ts"),
            ("LAST(ts)", "last_ts"),
            ("FIRST(C.event_id)", "first_click"),
        ],
        pattern="V C+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
    )
    rows = {r.user_id: r.asDict() for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == {
        "user_id": 1, "match_no": 1, "n_rows": 4, "n_clicks": 2,
        "first_ts": 10, "last_ts": 30, "first_click": 2,
    }
    assert rows[2]["n_rows"] == 3 and rows[2]["first_ts"] == 6
    # output schema carries the input column types for col-measures
    sch = dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)
    assert sch["first_ts"] == "bigint" and sch["match_no"] == "bigint"


def test_match_recognize_sql_spelling_and_composition(spark):
    """The rewriter must handle the spelling inside a larger SELECT
    (aggregation on top of the one-row-per-match output) and leave
    non-MATCH_RECOGNIZE SQL untouched."""
    df = spark.createDataFrame(
        [(1, i, t, i) for i, t in enumerate(
            ["view", "click", "purchase", "view", "click", "click", "purchase"]
        )],
        ["user_id", "event_id", "event_type", "ts"],
    )
    df.createOrReplaceTempView("ev_mr")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT user_id, COUNT(*) AS n_matches, MAX(len) AS longest
        FROM ev_mr MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts, event_id
            MEASURES COUNT(*) AS len
            PATTERN (V C+ P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        ) GROUP BY user_id
        """
    ).collect()
    assert [(r.user_id, r.n_matches, r.longest) for r in got] == [(1, 2, 4)]
    assert rewrite_match_recognize(spark, "SELECT 1 AS x") == "SELECT 1 AS x"


def test_match_recognize_undefined_symbols_and_errors(spark):
    df = spark.createDataFrame(
        [(1, 1, "view", 1), (1, 2, "other", 2)],
        ["user_id", "event_id", "event_type", "ts"],
    )
    # an undefined symbol is always-true (classifies anything the defined
    # ones don't claim)
    out = match_recognize(
        df,
        partition_by=["user_id"],
        order_by=["ts"],
        measures=[("COUNT(*)", "n")],
        pattern="V W",
        define={"V": "event_type = 'view'"},
    )
    assert [r.n for r in out.collect()] == [2]
    with pytest.raises(ValueError, match="unsupported measure"):
        match_recognize(
            df, ["user_id"], ["ts"], [("MEDIAN(ts)", "s")], "V", {"V": "true"}
        )
    with pytest.raises(ValueError, match="unknown symbol"):
        match_recognize(
            df, ["user_id"], ["ts"], [("COUNT(*)", "n")], "V", {"Z": "true"}
        )
    with pytest.raises(ValueError, match="AS alias"):
        rewrite_match_recognize(
            spark,
            "SELECT * FROM ev_mr MATCH_RECOGNIZE (PARTITION BY user_id "
            "ORDER BY ts MEASURES COUNT(*) PATTERN (V) DEFINE V AS true)",
        )


def test_match_recognize_all_rows_per_match(spark):
    """ALL ROWS PER MATCH: every matched input row comes back with its
    original columns, FINAL-prefixed measures constant per match,
    unprefixed measures RUNNING (SQL:2016 default — here LAST(ts) is
    the current row's ts), and CLASSIFIER() per-row; unmatched rows
    are absent."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", 10),
            (1, 2, "click", 20),
            (1, 3, "purchase", 30),
            (1, 4, "error", 35),  # unmatched
            (1, 5, "view", 40),
            (1, 6, "click", 45),
            (1, 7, "purchase", 50),
        ],
        ["user_id", "event_id", "event_type", "ts"],
    )
    df.createOrReplaceTempView("ev_ar")
    bc = Context(spark=spark)
    out = bc.sql(
        """
        SELECT * FROM ev_ar MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts, event_id
            MEASURES MATCH_NUMBER() AS mno,
                     CLASSIFIER() AS sym,
                     FINAL LAST(ts) AS match_end,
                     LAST(ts) AS run_end
            ALL ROWS PER MATCH
            PATTERN (V C+ P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        ) ORDER BY ts
        """
    ).collect()
    assert [r.event_id for r in out] == [1, 2, 3, 5, 6, 7]  # error row gone
    assert [r.mno for r in out] == [1, 1, 1, 2, 2, 2]
    assert [r.sym for r in out] == ["V", "C", "P", "V", "C", "P"]
    assert [r.match_end for r in out] == [30, 30, 30, 50, 50, 50]
    # unprefixed LAST is RUNNING under ALL ROWS: the current row's ts
    assert [r.run_end for r in out] == [10, 20, 30, 40, 45, 50]
    # original columns intact
    assert out[0].event_type == "view" and out[0].ts == 10

    with pytest.raises(ValueError, match="shadow"):
        from blazingsql_spark.operators.match_recognize import match_recognize

        match_recognize(
            df, ["user_id"], ["ts"], [("COUNT(*)", "ts")], "V",
            {"V": "true"}, all_rows=True,
        )


def test_rewriter_is_quote_aware_and_handles_qualifiers(spark):
    """Code-review r9 regressions: (1) string literals containing commas
    / AS / 'MATCH_RECOGNIZE (' must not confuse the rewriter; (2)
    qualified table names keep their qualifier; (3) view names are
    uuid-suffixed (no cross-call collisions); (4) the async Context.sql
    path accepts the spelling too; (5) >52 pattern symbols rejected."""
    df = spark.createDataFrame(
        [(1, 1, "a,b", 1), (1, 2, "x AS y", 2), (1, 3, "purchase", 3)],
        ["user_id", "event_id", "event_type", "ts"],
    )
    df.createOrReplaceTempView("ev_q")
    bc = Context(spark=spark)
    sql = """
        SELECT user_id, n FROM ev_q MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES COUNT(*) AS n
            PATTERN (V C P)
            DEFINE V AS event_type = 'a,b',
                   C AS event_type = 'x AS y',
                   P AS event_type = 'purchase'
        ) WHERE 'MATCH_RECOGNIZE (' != 'nope'
    """
    assert [tuple(r) for r in bc.sql(sql).collect()] == [(1, 3)]
    # distinct uuid views per call — no fixed-name collision
    v1 = [t.name for t in spark.catalog.listTables() if "match_recognize" in t.name]
    bc.sql(sql).collect()
    v2 = [t.name for t in spark.catalog.listTables() if "match_recognize" in t.name]
    assert len(set(v2)) > len(set(v1))

    # async surface
    token = bc.sql(sql, return_token=True)
    rows = bc.fetch(token)  # fetch pops the token — call once
    assert rows and rows[0][1] == 3

    # qualified name: global_temp database qualifier survives
    df.createOrReplaceGlobalTempView("ev_gq")
    out = bc.sql(
        """
        SELECT n FROM global_temp.ev_gq MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES COUNT(*) AS n PATTERN (X+) DEFINE X AS ts > 0
        )
        """
    ).collect()
    assert [r.n for r in out] == [3]

    # symbol-alphabet cap: metacharacter collision is an error, not a
    # silently different pattern
    from blazingsql_spark.operators.match_recognize import match_recognize

    big = " ".join(f"S{i}" for i in range(53))
    with pytest.raises(ValueError, match="at most 52"):
        match_recognize(df, ["user_id"], ["ts"], [("COUNT(*)", "n")], big)
    # measure alias shadowing a partition column errors clearly in ONE
    # ROW mode too (was a cryptic executor-side pandas length error)
    with pytest.raises(ValueError, match="shadow"):
        match_recognize(
            df, ["user_id"], ["ts"], [("COUNT(*)", "user_id")], "V",
            {"V": "true"},
        )


def test_match_recognize_prev_next_navigation(spark):
    """PREV/NEXT in DEFINE (physical-offset running semantics): the
    classic rising-run pattern — STRT DOWN+ UP+ on a price series — and
    offset-2 lookback; unknown columns fail loudly."""
    prices = [10, 8, 6, 9, 12, 11, 7, 13]
    df = spark.createDataFrame(
        [(1, i, float(p)) for i, p in enumerate(prices)],
        ["sym", "seq", "price"],
    )
    df.createOrReplaceTempView("ticks")
    bc = Context(spark=spark)
    out = bc.sql(
        """
        SELECT first_p, bottom_p, last_p FROM ticks MATCH_RECOGNIZE (
            PARTITION BY sym ORDER BY seq
            MEASURES FIRST(price) AS first_p,
                     FIRST(UP.price) AS bottom_p,
                     LAST(price) AS last_p
            ONE ROW PER MATCH
            PATTERN (STRT DOWN DOWN* UP UP*)
            DEFINE DOWN AS price < PREV(price),
                   UP AS price > PREV(price)
        ) ORDER BY first_p
        """
    ).collect()
    # TWO V-shapes, matching Oracle's backtracking automaton exactly:
    # [10,8,6,9,12] (bottom_p = the first UP row, 9) AND [11,7,13] —
    # row 11 is a falling tick (satisfies DOWN), but STRT is undefined
    # (always true) and the PATTERN needs a start row, so the
    # nondeterministic assignment maps it to STRT. Before r11 the
    # deterministic first-true classification could not re-read 11 as
    # STRT and found only the first V — the documented restriction this
    # round lifted on the vectorized path.
    assert [tuple(r) for r in out] == [(10.0, 9.0, 12.0), (11.0, 13.0, 13.0)]

    # offset-2 navigation
    from blazingsql_spark.operators.match_recognize import match_recognize

    out2 = match_recognize(
        df,
        ["sym"],
        ["seq"],
        [("COUNT(*)", "n")],
        "J",
        {"J": "price > PREV(price, 2) + 5"},
    )
    # price[i] > price[i-2]+5: i=4 (12>6+5=11) and i=7 (13>11... no, 13>11+5=16 no);
    # i=7: prev2=7? seq7 price13, prev2 = price[5]=11 -> 13>16 false.
    # only seq4 qualifies -> one single-row match
    assert [r.n for r in out2.collect()] == [1]

    import pytest as _pt

    with _pt.raises(ValueError, match="unknown"):
        match_recognize(
            df, ["sym"], ["seq"], [("COUNT(*)", "n")], "V",
            {"V": "nope > PREV(nope)"},
        )


def test_match_recognize_timestamp_measures_and_zero_match_groups(spark):
    """Regression (found by the 64x scale run): a partition with ZERO
    matches used to emit empty float64 columns Arrow cannot cast to a
    timestamp measure type — real `ts` columns are timestamps, unlike
    the integer fixtures that masked it."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", "2026-01-01 00:00:01"),
            (1, 2, "click", "2026-01-01 00:00:02"),
            (1, 3, "purchase", "2026-01-01 00:00:03"),
            (2, 4, "error", "2026-01-01 00:00:04"),  # user 2: no match
        ],
        ["user_id", "event_id", "event_type", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    from blazingsql_spark.operators.match_recognize import match_recognize

    out = match_recognize(
        df, ["user_id"], ["ts", "event_id"],
        [("FIRST(ts)", "first_ts"), ("LAST(ts)", "last_ts")],
        "V C P",
        {"V": "event_type='view'", "C": "event_type='click'",
         "P": "event_type='purchase'"},
    ).collect()
    assert len(out) == 1 and out[0].user_id == 1
    assert out[0].first_ts.second == 1 and out[0].last_ts.second == 3


# ---------------------------------------------------------------------------
# Symbol-relative navigation (PREV(A.price), FIRST(V.ts), bare A.col) —
# the in-automaton DEFINE path (operators/mr_expr.py).
# ---------------------------------------------------------------------------


def test_mr_expr_compiler_three_valued_logic():
    """The scalar predicate compiler directly: navigation resolution,
    NULL propagation, Kleene AND/OR, IS [NOT] NULL, intervals, /0,
    and loud errors on unknown columns/symbols/grammar."""
    import pandas as pd

    from blazingsql_spark.operators.mr_expr import MatchCtx, compile_predicate

    cols = {"v": [10, None, 30], "s": ["x", "y", "z"]}
    sym = {"A": "a", "B": "b"}

    def ev(sql, j=2, tent=None):
        f, _ = compile_predicate(sql, ["v", "s"], sym)
        return f(MatchCtx(cols, j, 0, 3, tent if tent is not None else {"a": [0]}))

    assert ev("v > FIRST(A.v)")  # 30 > 10
    assert ev("A.v = 10")  # bare ref == LAST(A.v, 0)
    assert not ev("v < LAST(A.v)")  # 30 < 10 is false
    assert ev("LAST(B.v) IS NULL")  # no rows mapped to B
    assert not ev("v > FIRST(A.v)", j=1)  # NULL v -> unknown -> false
    assert ev("v IS NULL", j=1)
    assert ev("v IS NOT NULL")
    assert ev("PREV(v, 5) IS NULL")  # falls off the partition start
    assert ev("PREV(v) IS NULL")  # physical prev of j=2 is the NULL row
    assert ev("NEXT(v) IS NULL", j=0)  # row 1 value is NULL
    assert not ev("NEXT(v) IS NULL", j=1)  # row 2 value is 30
    assert ev("NEXT(v, 2) IS NULL", j=1)  # falls off the partition end
    assert ev("s = 'z'")
    assert not ev("s = 'z'", j=0)
    assert ev("NULL OR v = 30")  # unknown OR true -> true
    assert not ev("NULL AND v = 30")  # unknown AND true -> unknown -> false
    assert not ev("NOT v = 30")
    assert ev("v / (v - v) IS NULL")  # division by zero -> NULL
    assert ev("v - FIRST(A.v) = 20 AND v % 4 = 2")

    import pytest as _pt

    with _pt.raises(ValueError, match="unknown column"):
        compile_predicate("nope > 1", ["v"], sym)
    with _pt.raises(ValueError, match="unknown pattern symbol"):
        compile_predicate("v > FIRST(Z.v)", ["v"], sym)
    with _pt.raises(ValueError, match="tokenize"):
        compile_predicate("v ~ 3", ["v"], sym)
    with _pt.raises(ValueError, match="unknown column"):
        # out-of-grammar Spark SQL surfaces as a loud error, never a
        # silent misparse (CASE lexes as an identifier)
        compile_predicate("v > CASE WHEN 1 THEN 2 END", ["v"], sym)
    with _pt.raises(ValueError, match="INTERVAL"):
        compile_predicate("v > INTERVAL 3 PARSECS", ["v"], sym)

    # intervals against timestamps
    ts = [pd.Timestamp("2026-01-01 00:00:00"), pd.Timestamp("2026-01-01 07:00:00")]
    f, used = compile_predicate(
        "ts <= FIRST(A.ts) + INTERVAL 8 HOUR", ["ts"], sym
    )
    assert used == {"ts"}
    assert f(MatchCtx({"ts": ts}, 1, 0, 2, {"a": [0]}))
    f2, _ = compile_predicate("ts > FIRST(A.ts) + INTERVAL '6' HOUR", ["ts"], sym)
    assert f2(MatchCtx({"ts": ts}, 1, 0, 2, {"a": [0]}))


def test_symbol_relative_navigation_batch(spark):
    """FIRST(V.value) across a variable-length C* gap — inexpressible
    with physical PREV — plus the Oracle PREV(B.price) idiom equals its
    physical-PREV formulation row for row."""
    rows = [
        (1, 1, "view", 10.0), (1, 2, "click", 1.0), (1, 3, "click", 2.0),
        (1, 4, "purchase", 50.0),  # 50 > 10 -> match, 2 clicks
        (1, 5, "view", 100.0), (1, 6, "click", 3.0),
        (1, 7, "purchase", 60.0),  # 60 < 100 -> NO match
        (2, 1, "view", 5.0), (2, 2, "purchase", 9.0),  # 0 clicks, 9 > 5
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])
    out = match_recognize(
        df, ["user_id"], ["ts"],
        [("COUNT(C.*)", "n_clicks"), ("FIRST(ts)", "v_ts"), ("LAST(ts)", "p_ts")],
        "V C* P",
        {"V": "event_type = 'view'", "C": "event_type = 'click'",
         "P": "event_type = 'purchase' AND value > FIRST(V.value)"},
    )
    got = sorted((r.user_id, r.n_clicks, r.v_ts, r.p_ts) for r in out.collect())
    assert got == [(1, 2, 1, 4), (2, 0, 1, 2)]

    # Oracle idiom: B.price < PREV(B.price) on a strictly-decreasing run
    # must equal the physical price < PREV(price) formulation.
    prices = [9.0, 7.0, 8.0, 6.0, 5.0, 4.0, 11.0, 2.0]
    ticks = spark.createDataFrame(
        [(1, i, p) for i, p in enumerate(prices)], ["sym", "seq", "price"]
    )
    sym_rel = match_recognize(
        ticks, ["sym"], ["seq"], [("COUNT(*)", "n"), ("FIRST(price)", "top")],
        "S D+",
        {"D": "price < PREV(D.price)", "S": "TRUE"},
    )
    physical = match_recognize(
        ticks, ["sym"], ["seq"], [("COUNT(*)", "n"), ("FIRST(price)", "top")],
        "S D+",
        {"D": "price < PREV(price)", "S": "TRUE"},
    )
    assert sorted(map(tuple, sym_rel.collect())) == sorted(
        map(tuple, physical.collect())
    )


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_in_automaton_path_equals_vectorized_on_nav_free(spark):
    """Property: on navigation-free DEFINEs the in-automaton scan
    (forced via the test hook) is row-for-row identical to the
    precomputed classification path, across random streams and both
    emit modes — INCLUDING ambiguous/overlapping DEFINEs and undefined
    symbols: both feed the same scanner, one from Spark SQL flag
    columns and one from mr_expr closures."""
    rnd = random.Random(20260816)
    rows = [
        (u, i, rnd.choice(["view", "click", "purchase", "error"]), float(rnd.randint(0, 9)))
        for u in range(6)
        for i in range(rnd.randint(0, 25))
    ]
    if not rows:
        rows = [(0, 0, "view", 1.0)]
    df = spark.createDataFrame(rows, ["user_id", "seq", "event_type", "value"])
    cases = [
        ("V C+ P", {"V": "event_type = 'view'", "C": "event_type = 'click'",
                    "P": "event_type = 'purchase'"}),
        ("V C* P", {"V": "event_type = 'view'", "C": "event_type = 'click'",
                    "P": "event_type = 'purchase' AND value > 3"}),
        ("A B? C", {"A": "event_type = 'error'", "B": "event_type = 'click'",
                    "C": "event_type = 'view'"}),
        # ambiguous: every non-error row satisfies A and B; value>5 rows
        # satisfy all three — nondeterministic assignment on both paths
        ("A+ B", {"A": "event_type <> 'error'", "B": "event_type <> 'error'"}),
        ("(A | B)+ C", {"A": "value >= 2", "B": "value >= 2",
                        "C": "value > 5"}),
        # undefined symbol U (always true) overlapping a DEFINEd one
        ("A U", {"A": "event_type = 'view'"}),
        ("A+ U", {"A": "value >= 1"}),
    ]
    for all_rows in (False, True):
        for pat, define in cases:
            meas = [("MATCH_NUMBER()", "mn"), ("COUNT(*)", "n"),
                    ("CLASSIFIER()", "clf"), ("LAST(value)", "lv")]
            a = match_recognize(df, ["user_id"], ["seq"], meas, pat,
                                dict(define), all_rows=all_rows)
            b = match_recognize(df, ["user_id"], ["seq"], meas, pat,
                                dict(define), all_rows=all_rows,
                                _force_in_automaton=True)
            ra = sorted(map(tuple, a.collect()))
            rb = sorted(map(tuple, b.collect()))
            assert ra == rb, (pat, all_rows)


def test_symbol_relative_sql_spelling_interval(spark):
    """The SQL spelling routes symbol-relative DEFINEs through the same
    rewrite: a conversion-window funnel (purchase within 8 hours of the
    view that STARTED the funnel — FIRST(V.ts), which physical PREV
    cannot express across a variable-length click run)."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", "2026-01-01 00:00:00"),
            (1, 2, "click", "2026-01-01 01:00:00"),
            (1, 3, "click", "2026-01-01 06:00:00"),
            (1, 4, "purchase", "2026-01-01 07:59:00"),  # within 8h of the view
            (2, 1, "view", "2026-01-01 00:00:00"),
            (2, 2, "click", "2026-01-01 07:00:00"),
            (2, 3, "purchase", "2026-01-01 09:00:00"),  # 9h after the view
        ],
        ["user_id", "event_id", "event_type", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.createOrReplaceTempView("funnel_events")
    bc = Context(spark=spark)
    out = bc.sql(
        """
        SELECT user_id, n_clicks FROM funnel_events MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts, event_id
            MEASURES COUNT(C.*) AS n_clicks
            ONE ROW PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
                        AND ts <= FIRST(V.ts) + INTERVAL 8 HOUR
        ) ORDER BY user_id
        """
    ).collect()
    assert [(r.user_id, r.n_clicks) for r in out] == [(1, 2)]


def test_measure_aggregates_sum_avg_min_max(spark):
    """SUM/AVG/MIN/MAX measures, unqualified and symbol-qualified, with
    SQL NULL-skipping semantics and NULL over zero eligible rows."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", 10.0),
            (1, 2, "click", 4.0),
            (1, 3, "click", None),  # NULL skipped by the aggregates
            (1, 4, "click", 2.0),
            (1, 5, "purchase", 30.0),
            (2, 1, "view", 1.0),
            (2, 2, "purchase", 2.0),  # zero clicks -> SUM(C.value) IS NULL
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    out = match_recognize(
        df, ["user_id"], ["seq"],
        [("SUM(C.value)", "c_sum"), ("AVG(C.value)", "c_avg"),
         ("MIN(value)", "v_min"), ("MAX(value)", "v_max"),
         ("SUM(value)", "v_sum")],
        "V C* P",
        {"V": "event_type = 'view'", "C": "event_type = 'click'",
         "P": "event_type = 'purchase'"},
    )
    rows = {r.user_id: r for r in out.collect()}
    r1, r2 = rows[1], rows[2]
    assert r1.c_sum == 6.0 and r1.c_avg == 3.0
    assert r1.v_min == 2.0 and r1.v_max == 30.0 and r1.v_sum == 46.0
    assert r2.c_sum is None and r2.c_avg is None
    assert r2.v_min == 1.0 and r2.v_max == 2.0 and r2.v_sum == 3.0
    # integral SUM widens to long; AVG is double
    sch = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert sch["c_avg"] == "double" and sch["c_sum"] == "double"

    ints = df.withColumn("iv", F.col("value").cast("int"))
    out2 = match_recognize(
        ints, ["user_id"], ["seq"], [("SUM(iv)", "s"), ("MIN(iv)", "m")],
        "V C* P",
        {"V": "event_type = 'view'", "C": "event_type = 'click'",
         "P": "event_type = 'purchase'"},
    )
    sch2 = {f.name: f.dataType.simpleString() for f in out2.schema.fields}
    assert sch2["s"] == "bigint" and sch2["m"] == "int"
    assert {r.s for r in out2.collect()} == {46, 3}

    import pytest as _pt

    with _pt.raises(ValueError, match="unknown symbol"):
        match_recognize(
            df, ["user_id"], ["seq"], [("SUM(Z.value)", "s")], "V",
            {"V": "event_type = 'view'"},
        )


def test_after_match_skip_modes(spark):
    """SKIP TO NEXT ROW yields overlapping matches; SKIP TO LAST <sym>
    resumes AT the mapped row; the SQL:2016 runtime errors raise; the
    rewriter parses the clause; the in-automaton path agrees.

    Note the single-symbol pattern: with deterministic first-true
    classification, overlap can only materialize where the pattern's
    START symbol can claim interior rows (a documented restriction of
    the mutually-exclusive-DEFINE discipline)."""
    prices = [1.0, 2.0, 3.0, 4.0, 2.5, 3.5]
    df = spark.createDataFrame(
        [(1, i, p) for i, p in enumerate(prices)], ["sym", "seq", "price"]
    )
    meas = [("FIRST(price)", "lo"), ("LAST(price)", "hi"), ("COUNT(*)", "n")]
    define = {"R": "price > 0"}

    # PAST LAST ROW: two disjoint 3-row windows
    past = match_recognize(df, ["sym"], ["seq"], meas, "R R R", dict(define))
    assert sorted((r.lo, r.hi, r.n) for r in past.collect()) == [
        (1.0, 3.0, 3), (4.0, 3.5, 3),
    ]
    # TO NEXT ROW: every position that can seed a 3-row window matches
    nxt = match_recognize(
        df, ["sym"], ["seq"], meas, "R R R", dict(define),
        after_match="TO NEXT ROW",
    )
    assert sorted((r.lo, r.hi, r.n) for r in nxt.collect()) == [
        (1.0, 3.0, 3), (2.0, 4.0, 3), (3.0, 2.5, 3), (4.0, 3.5, 3),
    ]
    # TO LAST R: resume AT the match's last mapped row -> stride 2
    last = match_recognize(
        df, ["sym"], ["seq"], meas, "R R R", dict(define),
        after_match="TO LAST R",
    )
    assert sorted((r.lo, r.hi, r.n) for r in last.collect()) == [
        (1.0, 3.0, 3), (3.0, 2.5, 3),
    ]

    import pytest as _pt

    with _pt.raises(ValueError, match="unknown symbol"):
        match_recognize(
            df, ["sym"], ["seq"], meas, "R R R", dict(define),
            after_match="TO FIRST Z",
        )
    with _pt.raises(ValueError, match="unsupported AFTER MATCH"):
        match_recognize(
            df, ["sym"], ["seq"], meas, "R R R", dict(define),
            after_match="TO SOMEWHERE",
        )
    # resume at the match's own first row -> SQL:2016 runtime error
    # (raised inside the scan; surfaces as the job's root exception)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    loop = match_recognize(
        df, ["sym"], ["seq"], meas, "R R R", dict(define),
        after_match="TO FIRST R",
    )
    with _pt.raises((Py4JJavaError, PythonException), match="loop forever"):
        loop.collect()

    # the SQL spelling parses the skip clause
    df.createOrReplaceTempView("skip_ticks")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT COUNT(*) AS n FROM skip_ticks MATCH_RECOGNIZE (
            PARTITION BY sym ORDER BY seq
            MEASURES COUNT(*) AS len
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (R R R)
            DEFINE R AS price > 0
        )
        """
    ).collect()
    assert got[0].n == 4

    # the in-automaton path honors skip modes too (nav-bearing DEFINE:
    # PREV(R.price, 0) is the row's own price, so the predicate is the
    # same R-everywhere classification through the rel path)
    nxt_auto = match_recognize(
        df, ["sym"], ["seq"], meas, "R R R",
        {"R": "price > PREV(R.price, 0) - 1"},
        after_match="TO NEXT ROW",
    )
    assert sorted(map(tuple, nxt_auto.collect())) == sorted(
        map(tuple, nxt.collect())
    )


def test_mr_expr_three_valued_logic_matches_duckdb():
    """Differential: the mr_expr compiler's 3VL (NULL propagation,
    Kleene AND/OR, IS [NOT] NULL, comparison/arith null handling) must
    agree with DuckDB's scalar evaluation on generated expression trees
    over integer/NULL column values. Nav atoms excluded (DuckDB has no
    row-pattern scope) — those have dedicated unit + oracle coverage."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from blazingsql_spark.operators.mr_expr import MatchCtx, compile_predicate

    vals = st.one_of(st.none(), st.integers(min_value=-9, max_value=9))
    cols = ["a", "b", "c"]

    def atom(draw):
        k = draw(st.integers(0, 3))
        if k == 0:
            return draw(st.sampled_from(cols))
        if k == 1:
            return str(draw(st.integers(-9, 9)))
        if k == 2:
            return "NULL"
        left = draw(st.sampled_from(cols))
        # % included: must be truncated (C-style) like Spark/DuckDB,
        # not Python's floored modulo (-7 % 2 = -1, not +1)
        op = draw(st.sampled_from(["+", "-", "*", "%"]))
        right = draw(st.sampled_from(cols + ["2", "3"]))
        return f"({left} {op} {right})"

    @st.composite
    def predicates(draw, depth=0):
        k = draw(st.integers(0, 5 if depth < 2 else 2))
        if k == 0:
            return f"{atom(draw)} {draw(st.sampled_from(['=', '<>', '<', '<=', '>', '>=']))} {atom(draw)}"
        if k == 1:
            return f"{atom(draw)} IS {'NOT ' if draw(st.booleans()) else ''}NULL"
        if k == 2:
            return f"NOT ({draw(predicates(depth + 1))})"
        if k in (3, 4):
            op = "AND" if k == 3 else "OR"
            return f"({draw(predicates(depth + 1))}) {op} ({draw(predicates(depth + 1))})"
        return f"({draw(predicates(depth + 1))})"

    con = duckdb.connect()

    @settings(max_examples=120, deadline=None)
    @given(pred=predicates(), a=vals, b=vals, c=vals)
    def check(pred, a, b, c):
        f, _ = compile_predicate(pred, cols, {"X": "x"})
        got = f(MatchCtx({"a": [a], "b": [b], "c": [c]}, 0, 0, 1, {}))
        lit = {True: "TRUE", False: "FALSE", None: "NULL"}
        sql = pred
        for name, v in (("a", a), ("b", b), ("c", c)):
            sql = re.sub(rf"\b{name}\b", "NULL" if v is None else str(v), sql)
        want = con.execute(
            f"SELECT COALESCE(({sql}), FALSE)"
        ).fetchone()[0]
        assert got == bool(want), (pred, a, b, c, got, want, lit)

    check()


def test_match_recognize_derived_table_factor(spark):
    """A parenthesized derived table is a valid MATCH_RECOGNIZE factor
    — `(SELECT …) MATCH_RECOGNIZE (…)`, with or without `[AS] alias` —
    and the match runs on the subquery's output (here: a filter that
    removes the row which would otherwise break the funnel). Verified
    against a DuckDB window-function twin on the same rows."""
    import duckdb

    rows = [
        (1, 1, "view", 10.0),
        (1, 2, "noise", 0.0),  # filtered out by the derived table
        (1, 3, "click", 4.0),
        (1, 4, "purchase", 30.0),
        (2, 5, "view", 1.0),
        (2, 6, "noise", 0.0),
        (2, 7, "purchase", 2.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "seq", "event_type", "value"])
    df.createOrReplaceTempView("ev_sub")
    bc = Context(spark=spark)
    sql_body = """
        MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(*) AS n, FINAL SUM(value) AS total
            ONE ROW PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        ) ORDER BY user_id
    """
    sub = "(SELECT * FROM ev_sub WHERE event_type <> 'noise')"
    got = bc.sql(f"SELECT user_id, n, total FROM {sub} {sql_body}").collect()
    want = duckdb.sql(
        """
        WITH f AS (
            SELECT * FROM (VALUES
                (1, 1, 'view', 10.0), (1, 3, 'click', 4.0),
                (1, 4, 'purchase', 30.0), (2, 5, 'view', 1.0),
                (2, 7, 'purchase', 2.0)
            ) AS t(user_id, seq, event_type, value)
        )
        SELECT user_id, COUNT(*) AS n, SUM(value) AS total
        FROM f GROUP BY user_id ORDER BY user_id
        """
    ).fetchall()
    assert [(r.user_id, r.n, r.total) for r in got] == [
        tuple(w) for w in want
    ]

    # alias forms bind identically; the factor-less spelling still errors
    for alias in (" AS a", " a"):
        got2 = bc.sql(
            f"SELECT user_id, n FROM {sub}{alias} {sql_body}"
        ).collect()
        assert [(r.user_id, r.n) for r in got2] == [(1, 3), (2, 2)]

    # nested: inner MATCH_RECOGNIZE inside the derived table composes
    nested = bc.sql(
        f"""
        SELECT COUNT(*) AS matches FROM (
            SELECT user_id, n, total FROM {sub} {sql_body}
        ) MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY n
            MEASURES COUNT(*) AS m
            ONE ROW PER MATCH
            PATTERN (B)
            DEFINE B AS total > 5
        )
        """
    ).collect()
    assert nested[0].matches == 1  # only user 1's total (44.0) > 5


def test_mr_expr_truncated_modulo_and_equality_typecheck():
    """% follows Spark/DuckDB truncated semantics (sign of the dividend,
    NULL on zero divisor); = / != on str-vs-number raises like the
    ordered comparators instead of Python's silent False."""
    import pytest as _pt

    from blazingsql_spark.operators.mr_expr import MatchCtx, compile_predicate

    def ev(pred, row):
        f, _ = compile_predicate(pred, list(row), {"X": "x"})
        return f(MatchCtx({k: [v] for k, v in row.items()}, 0, 0, 1, {}))

    # -7 % 2 = -1 (truncated), 7 % -2 = 1, NULL on zero divisor
    assert ev("(a % b) = -1", {"a": -7, "b": 2}) is True
    assert ev("(a % b) = 1", {"a": 7, "b": -2}) is True
    assert ev("(a % b) = 0", {"a": 5, "b": 0}) is False  # NULL -> no match
    assert ev("(a % b) IS NULL", {"a": 5, "b": 0}) is True

    # equality type mismatch fails loudly, same as ordered comparisons
    with _pt.raises(ValueError, match="cannot compare"):
        ev("a = 5", {"a": "abc"})
    with _pt.raises(ValueError, match="cannot compare"):
        ev("a <> 5", {"a": "abc"})
    # NULL operands still propagate (no spurious raise)
    assert ev("a = 5", {"a": None}) is False


def test_subset_union_variables(spark):
    """SUBSET union variables resolve in MEASURES, DEFINE navigation,
    and AFTER MATCH SKIP TO; collisions and unknown members raise."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", 10.0),
            (1, 2, "click", 4.0),
            (1, 3, "addcart", 7.0),
            (1, 4, "click", 2.0),
            (1, 5, "purchase", 30.0),
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "A": "event_type = 'addcart'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize(
        df, ["user_id"], ["seq"],
        [("COUNT(E.*)", "n_engage"), ("SUM(E.value)", "engage_val"),
         ("FIRST(E.value)", "first_engage"), ("LAST(E.seq)", "last_engage")],
        "V (C|A)+ P",
        define,
        subset={"E": ["C", "A"]},
    )
    r = out.collect()[0]
    # engagement rows = clicks + addcart: seq 2,3,4
    assert (r.n_engage, r.engage_val, r.first_engage, r.last_engage) == (
        3, 13.0, 4.0, 4,
    )

    # union variable inside DEFINE navigation: purchase must beat the
    # FIRST engagement-row value (addcart/click union)
    out2 = match_recognize(
        df, ["user_id"], ["seq"],
        [("COUNT(*)", "n")],
        "V (C|A)+ P",
        {**define, "P": "event_type = 'purchase' AND value > FIRST(E.value)"},
        subset={"E": ["C", "A"]},
    )
    assert [r.n for r in out2.collect()] == [5]  # 30 > 4

    # SKIP TO LAST union + SQL spelling
    df.createOrReplaceTempView("subset_ev")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT n_engage FROM subset_ev MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(E.*) AS n_engage
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO LAST E
            PATTERN (V (C|A)+ P)
            SUBSET E = (C, A)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   A AS event_type = 'addcart',
                   P AS event_type = 'purchase'
        )
        """
    ).collect()
    assert [r.n_engage for r in got] == [3]

    import pytest as _pt

    with _pt.raises(ValueError, match="collides"):
        match_recognize(
            df, ["user_id"], ["seq"], [("COUNT(*)", "n")], "V C",
            {"V": "true"}, subset={"C": ["V"]},
        )
    with _pt.raises(ValueError, match="unknown pattern symbol"):
        match_recognize(
            df, ["user_id"], ["seq"], [("COUNT(*)", "n")], "V C",
            {"V": "true"}, subset={"W": ["Z"]},
        )
    with _pt.raises(ValueError, match="SUBSET needs"):
        rewrite_match_recognize(
            spark,
            "SELECT * FROM subset_ev MATCH_RECOGNIZE (PARTITION BY user_id "
            "ORDER BY seq MEASURES COUNT(*) AS n ONE ROW PER MATCH "
            "PATTERN (V) SUBSET garbage DEFINE V AS true)",
        )


def test_review_regressions_classifier_mask_flagnames(spark):
    """Code-review regressions on the extension-session additions:
    (1) CLASSIFIER() must report the pattern symbol, never a
    single-member SUBSET union that shares its char; (2) double-quoted
    Spark string literals containing 'SYM.col' text must not misroute a
    vectorized DEFINE into the restricted nav grammar; (3) flag columns
    are index-keyed (Spark column names are case-insensitive, so
    char-keyed __p_a/__p_A would collide past 26 symbols)."""
    df = spark.createDataFrame(
        [(1, 1, "view", 1.0), (1, 2, "purchase", 2.0)],
        ["user_id", "seq", "event_type", "value"],
    )
    # (1) single-member union sharing A's char
    out = match_recognize(
        df, ["user_id"], ["seq"], [("CLASSIFIER()", "clf")],
        "B A",
        {"B": "event_type = 'view'", "A": "event_type = 'purchase'"},
        subset={"W": ["A"]},
    )
    assert [r.clf for r in out.collect()] == ["A"]

    # (2) "B.x" is a Spark string literal, not a symbol reference — the
    # define must stay on the vectorized path and simply never match
    out2 = match_recognize(
        df, ["user_id"], ["seq"], [("COUNT(*)", "n")],
        "A B",
        {"A": 'event_type = "B.x"', "B": "event_type = 'purchase'"},
    )
    assert out2.collect() == []

    # (3) >26 distinct symbols: chars wrap to uppercase; nav routing
    # forces flag columns for ALL defined symbols — names must not
    # collide case-insensitively
    names = [f"S{i}" for i in range(27)]
    pattern = " ".join(names)
    define = {n: f"seq = {i}" for i, n in enumerate(names[:-1])}
    define[names[-1]] = "seq = 26 AND value >= FIRST(S0.value)"  # in-automaton
    rows = [(1, i, float(i)) for i in range(27)]
    df27 = spark.createDataFrame(rows, ["user_id", "seq", "value"])
    got = match_recognize(
        df27, ["user_id"], ["seq"], [("COUNT(*)", "n")], pattern, define
    ).collect()
    assert [r.n for r in got] == [27]


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_within_match_duration_bound(spark):
    """WITHIN (the Flink extension): equals the symbol-relative budget
    formulation on a monotone funnel; works with arbitrary vectorized
    Spark-SQL DEFINEs (enforced in-scan, not by grammar rewrite) and
    with numeric order keys; the SQL spelling parses it; bad specs
    raise."""
    rows = []
    rnd = random.Random(7)
    for u in range(1, 15):
        t = 0.0
        for i in range(rnd.randint(5, 30)):
            t += rnd.uniform(0.5, 4.0)
            rows.append(
                (u, i, rnd.choice(["view", "click", "click", "purchase", "error"]),
                 round(t, 3))
            )
    df = spark.createDataFrame(rows, ["user_id", "seq", "event_type", "t"])
    meas = [("COUNT(*)", "n"), ("FIRST(t)", "t0"), ("LAST(t)", "t1")]
    base_define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    # WITHIN bounds the FIRST ORDER BY key — order by t so the budget
    # applies to t (not the integer seq)
    via_within = match_recognize(
        df, ["user_id"], ["t", "seq"], meas, "V C* P", dict(base_define),
        within=6,
    )
    via_nav = match_recognize(
        df, ["user_id"], ["t", "seq"], meas, "V C* P",
        {
            "V": "event_type = 'view' AND t <= FIRST(t) + 6",
            "C": "event_type = 'click' AND t <= FIRST(t) + 6",
            "P": "event_type = 'purchase' AND t <= FIRST(t) + 6",
        },
    )
    got = sorted(map(tuple, via_within.collect()))
    want = sorted(map(tuple, via_nav.collect()))
    assert got == want and got, "fixture produced no matches - weak test"

    # arbitrary Spark SQL stays legal next to WITHIN (upper() is outside
    # the restricted nav grammar; WITHIN must not force it through it)
    rich = match_recognize(
        df, ["user_id"], ["t", "seq"], meas, "V C* P",
        {
            "V": "upper(event_type) = 'VIEW'",
            "C": "upper(event_type) = 'CLICK'",
            "P": "upper(event_type) = 'PURCHASE'",
        },
        within=6,
    )
    assert sorted(map(tuple, rich.collect())) == got

    # SQL spelling
    df.createOrReplaceTempView("within_ev")
    bc = Context(spark=spark)
    got_sql = bc.sql(
        """
        SELECT user_id, n, t0, t1 FROM within_ev MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY t, seq
            MEASURES COUNT(*) AS n, FIRST(t) AS t0, LAST(t) AS t1
            ONE ROW PER MATCH
            PATTERN (V C* P) WITHIN 6
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        """
    ).collect()
    assert sorted(map(tuple, got_sql)) == got

    import pytest as _pt

    with _pt.raises(ValueError, match="WITHIN"):
        match_recognize(
            df, ["user_id"], ["t"], meas, "V", {"V": "true"},
            within="banana",
        )


def test_within_interval_on_timestamps(spark):
    """WITHIN INTERVAL on timestamp order keys through the SQL spelling:
    the 9-hour funnel is out, the 7:59 funnel is in — and rows BEYOND
    the budget end the attempt without killing the accepted prefix."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", "2026-01-01 00:00:00"),
            (1, 2, "click", "2026-01-01 01:00:00"),
            (1, 3, "purchase", "2026-01-01 07:59:00"),
            (2, 1, "view", "2026-01-01 00:00:00"),
            (2, 2, "click", "2026-01-01 02:00:00"),
            (2, 3, "purchase", "2026-01-01 09:00:00"),  # beyond 8h
        ],
        ["user_id", "event_id", "event_type", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.createOrReplaceTempView("within_ts_ev")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT user_id FROM within_ts_ev MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts, event_id
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (V C* P) WITHIN INTERVAL '8' HOUR
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        ) ORDER BY user_id
        """
    ).collect()
    assert [r.user_id for r in got] == [1]


def test_running_measures_all_rows(spark):
    """Measures under ALL ROWS PER MATCH follow SQL:2016: unprefixed
    and RUNNING-prefixed both re-evaluate over each row's prefix of the
    match; only an explicit FINAL yields the whole-match constant; ONE
    ROW PER MATCH treats RUNNING and FINAL identically (last-row
    evaluation)."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", 10.0),
            (1, 2, "click", 4.0),
            (1, 3, "click", None),
            (1, 4, "purchase", 30.0),
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    df.createOrReplaceTempView("running_ev")
    bc = Context(spark=spark)
    out = bc.sql(
        """
        SELECT seq, rc, rsum, rlast, usum, fsum
        FROM running_ev MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES RUNNING COUNT(*) AS rc,
                     RUNNING SUM(value) AS rsum,
                     RUNNING LAST(seq) AS rlast,
                     SUM(value) AS usum,
                     FINAL SUM(value) AS fsum
            ALL ROWS PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        ) ORDER BY seq
        """
    ).collect()
    assert [r.rc for r in out] == [1, 2, 3, 4]
    assert [r.rsum for r in out] == [10.0, 14.0, 14.0, 44.0]  # NULL skipped
    assert [r.rlast for r in out] == [1, 2, 3, 4]
    # unprefixed aggregate == RUNNING (SQL:2016 ALL ROWS default)
    assert [r.usum for r in out] == [10.0, 14.0, 14.0, 44.0]
    assert [r.fsum for r in out] == [44.0] * 4  # explicit FINAL constant

    # ONE ROW PER MATCH: running == final
    one = bc.sql(
        """
        SELECT rc, fc FROM running_ev MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES RUNNING COUNT(*) AS rc, FINAL COUNT(*) AS fc
            ONE ROW PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        """
    ).collect()
    assert [(r.rc, r.fc) for r in one] == [(4, 4)]


def test_mr_expr_between_in_matches_duckdb():
    """BETWEEN / IN (with NULL-in-list semantics) in the nav grammar,
    differentialed against DuckDB's 3VL like the core operators."""
    import duckdb

    from blazingsql_spark.operators.mr_expr import MatchCtx, compile_predicate

    con = duckdb.connect()
    vals = [None, -3, 0, 2, 5, 9]
    preds = [
        "a BETWEEN b AND c",
        "a NOT BETWEEN b AND c",
        "(a + 1) BETWEEN b AND (c * 2)",
        "a IN (2, 5)",
        "a NOT IN (2, 5)",
        "a IN (2, NULL)",
        "a NOT IN (2, NULL)",
        "a IN (2, 5) OR b IS NULL",
    ]
    for pred in preds:
        f, _ = compile_predicate(pred, ["a", "b", "c"], {})
        for a in vals:
            for b in vals:
                for c in vals:
                    got = f(MatchCtx({"a": [a], "b": [b], "c": [c]}, 0, 0, 1, {}))
                    sql = pred
                    for name, v in (("a", a), ("b", b), ("c", c)):
                        sql = re.sub(
                            rf"\b{name}\b", "NULL" if v is None else str(v), sql
                        )
                    want = con.execute(
                        f"SELECT COALESCE(({sql}), FALSE)"
                    ).fetchone()[0]
                    assert got == bool(want), (pred, a, b, c, got, want)


def test_second_review_regressions(spark):
    """Second review pass on the extension additions: (1) FINAL
    CLASSIFIER() under ALL ROWS is the constant last-row symbol, not
    per-row; (2) negative literals parse in IN lists; (3) a WITHIN spec
    whose type mismatches the order key raises at plan time, not as a
    deep executor TypeError."""
    df = spark.createDataFrame(
        [(1, 1, "view", 1.0), (1, 2, "click", -1.0), (1, 3, "purchase", 2.0)],
        ["user_id", "seq", "event_type", "value"],
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize(
        df, ["user_id"], ["seq"],
        [("CLASSIFIER()", "per_row"), ("FINAL CLASSIFIER()", "last_sym")],
        "V C P", dict(define), all_rows=True,
    ).orderBy("seq").collect()
    assert [r.per_row for r in out] == ["V", "C", "P"]
    assert [r.last_sym for r in out] == ["P", "P", "P"]

    from blazingsql_spark.operators.mr_expr import MatchCtx, compile_predicate

    f, _ = compile_predicate("v IN (-1, 1)", ["v"], {})
    assert f(MatchCtx({"v": [-1]}, 0, 0, 1, {}))
    assert not f(MatchCtx({"v": [2]}, 0, 0, 1, {}))

    import pytest as _pt

    ts_df = df.withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))
    with _pt.raises(ValueError, match="WITHIN.*does not fit"):
        match_recognize(
            ts_df, ["user_id"], ["ts", "seq"], [("COUNT(*)", "n")],
            "V C P", dict(define), within=3600,
        )
    with _pt.raises(ValueError, match="WITHIN.*does not fit"):
        match_recognize(
            df, ["user_id"], ["seq"], [("COUNT(*)", "n")],
            "V C P", dict(define), within="1 HOUR",
        )


def test_permute_pattern(spark):
    """PERMUTE(A, B) matches both orders; expansion bounds raise
    loudly; quantified arguments and quantifiers around it compose."""
    from blazingsql_spark.operators.match_recognize import _expand_permute

    assert _expand_permute("V PERMUTE(C, P)") == "V ((C) (P)|(P) (C))"
    assert _expand_permute("PERMUTE(A, B, C)").count("|") == 5

    df = spark.createDataFrame(
        [
            (1, 1, "view", 0), (1, 2, "click", 0), (1, 3, "purchase", 0),
            (2, 1, "view", 0), (2, 2, "purchase", 0), (2, 3, "click", 0),
            (3, 1, "view", 0), (3, 2, "click", 0), (3, 3, "click", 0),
        ],
        ["user_id", "seq", "event_type", "x"],
    )
    out = match_recognize(
        df, ["user_id"], ["seq"], [("COUNT(*)", "n")],
        "V PERMUTE(C, P)",
        {"V": "event_type = 'view'", "C": "event_type = 'click'",
         "P": "event_type = 'purchase'"},
    )
    assert sorted(r.user_id for r in out.collect()) == [1, 2]  # both orders

    import pytest as _pt

    with _pt.raises(ValueError, match="6 is the supported maximum"):
        _expand_permute("PERMUTE(A, B, C, D, E, F, G)")
    with _pt.raises(ValueError, match="empty PERMUTE"):
        _expand_permute("PERMUTE( )")
    with _pt.raises(ValueError, match="unbalanced PERMUTE"):
        _expand_permute("PERMUTE(A, (B)")


def test_permute_quantified_and_nested(spark):
    """PERMUTE arguments may be quantified or grouped sub-patterns, and
    PERMUTE may nest (innermost expands first) — the r9 'bare symbols
    only' restriction is lifted. Every ordering's sub-pattern keeps its
    own quantifier; matching verified both orders on data."""
    from blazingsql_spark.operators.match_recognize import _expand_permute

    assert _expand_permute("V PERMUTE(A, B) W") == "V ((A) (B)|(B) (A)) W"
    assert _expand_permute("PERMUTE(A+, B)") == "((A+) (B)|(B) (A+))"
    # nested: the inner PERMUTE expands to a group the outer permutes
    nested = _expand_permute("PERMUTE(PERMUTE(A, B), C)")
    assert "((A) (B)|(B) (A))" in nested and nested.count("|") >= 2

    df = spark.createDataFrame(
        [
            # user 1: view, click click, purchase  (C+ before P)
            (1, 1, "view", 0), (1, 2, "click", 0), (1, 3, "click", 0),
            (1, 4, "purchase", 0),
            # user 2: view, purchase, click click  (P before C+)
            (2, 1, "view", 0), (2, 2, "purchase", 0), (2, 3, "click", 0),
            (2, 4, "click", 0),
            # user 3: view only — no match
            (3, 1, "view", 0),
        ],
        ["user_id", "seq", "event_type", "x"],
    )
    out = match_recognize(
        df, ["user_id"], ["seq"], [("COUNT(*)", "n")],
        "V PERMUTE(C+, P)",
        {"V": "event_type = 'view'", "C": "event_type = 'click'",
         "P": "event_type = 'purchase'"},
    )
    got = {r.user_id: r.n for r in out.collect()}
    assert got == {1: 4, 2: 4}  # both orders, C+ greedy in each


def test_explain_accepts_match_recognize(spark):
    """Facade parity: bc.explain must accept every query bc.sql accepts
    — a user explaining the row-pattern query they are about to run
    used to get a Spark parse error."""
    spark.createDataFrame(
        [(1, 1, "view", 1), (1, 2, "purchase", 2)],
        ["user_id", "seq", "event_type", "x"],
    ).createOrReplaceTempView("explain_ev")
    bc = Context(spark=spark)
    plan = bc.explain(
        """
        SELECT user_id, n FROM explain_ev MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (V P)
            DEFINE V AS event_type = 'view', P AS event_type = 'purchase'
        )
        """,
        detail=True,
    )
    assert "MapInArrow" in plan


def test_measure_arithmetic_expressions(spark):
    """Numeric arithmetic over atomic measures (Oracle/Flink parity):
    NULL propagation, / always DOUBLE and NULL on zero, truncated %,
    integer ops stay BIGINT, unary minus, parens; under ALL ROWS the
    unprefixed expression is RUNNING (aggregates inside see the row's
    prefix) and FINAL is constant. Non-numeric operands and
    CLASSIFIER() in arithmetic raise loudly."""
    import pytest as _pt

    from blazingsql_spark.operators.match_recognize import match_recognize

    df = spark.createDataFrame(
        [
            (1, 1, "view", 10.0),
            (1, 2, "click", 4.0),
            (1, 3, "click", None),
            (1, 4, "purchase", 30.0),
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize(
        df, ["user_id"], ["seq"],
        [
            ("LAST(value) - FIRST(value)", "delta"),
            ("SUM(C.value) / COUNT(C.*)", "avg_click"),
            ("-2 * (COUNT(*) + 1)", "neg"),
            ("COUNT(*) % 3", "mod"),
            ("SUM(value) / 0", "div0"),
            ("MATCH_NUMBER() * 10", "mn10"),
        ],
        "V C* P", define,
    )
    sch = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert sch["delta"] == "double" and sch["avg_click"] == "double"
    assert sch["neg"] == "bigint" and sch["mod"] == "bigint"
    assert sch["div0"] == "double" and sch["mn10"] == "bigint"
    r = out.collect()[0]
    assert (r.delta, r.avg_click, r.neg, r.mod, r.div0, r.mn10) == (
        20.0, 2.0, -10, 1, None, 10,
    )

    # ALL ROWS: unprefixed arithmetic is RUNNING, FINAL is constant
    ar = match_recognize(
        df, ["user_id"], ["seq"],
        [("SUM(value) - FIRST(value)", "rdelta"),
         ("FINAL SUM(value) - 1", "f1")],
        "V C* P", define, all_rows=True,
    ).orderBy("seq").collect()
    assert [x.rdelta for x in ar] == [0.0, 4.0, 4.0, 34.0]
    assert [x.f1 for x in ar] == [43.0] * 4

    # SQL spelling through the rewriter
    df.createOrReplaceTempView("ev_arith")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT delta FROM ev_arith MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES LAST(value) - FIRST(value) AS delta
            ONE ROW PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        """
    ).collect()
    assert [x.delta for x in got] == [20.0]

    # loud failures: timestamp arithmetic, CLASSIFIER in arithmetic,
    # trailing garbage
    ts_df = df.withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))
    with _pt.raises(Exception, match="non-numeric"):
        match_recognize(
            ts_df, ["user_id"], ["seq"], [("LAST(ts) - FIRST(ts)", "d")],
            "V C* P", dict(define),
        ).collect()
    with _pt.raises(ValueError, match="CLASSIFIER"):
        match_recognize(
            df, ["user_id"], ["seq"], [("CLASSIFIER() + 1", "x")],
            "V C* P", dict(define),
        )
    with _pt.raises(ValueError, match="cannot parse measure"):
        match_recognize(
            df, ["user_id"], ["seq"], [("SUM(value) ++", "x")],
            "V C* P", dict(define),
        )


def test_measure_first_last_logical_offset(spark):
    """FIRST(col, n) / LAST(col, n) measures take the SQL:2016 logical
    offset — the (n+1)-th eligible row from either end, NULL when the
    match (or the symbol's rows) is shorter — including inside
    arithmetic and through the SQL spelling."""
    from blazingsql_spark.operators.match_recognize import match_recognize

    df = spark.createDataFrame(
        [
            (1, 1, "view", 10.0),
            (1, 2, "click", 4.0),
            (1, 3, "click", 7.0),
            (1, 4, "purchase", 30.0),
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize(
        df, ["user_id"], ["seq"],
        [
            ("FIRST(seq, 1)", "second_row"),
            ("LAST(seq, 1)", "penultimate"),
            ("FIRST(C.value, 1)", "click2"),
            ("FIRST(C.value, 2)", "click3_missing"),
            ("LAST(value, 1) - FIRST(value, 1)", "mid_delta"),
        ],
        "V C* P", define,
    )
    r = out.collect()[0]
    assert (r.second_row, r.penultimate) == (2, 3)
    assert r.click2 == 7.0 and r.click3_missing is None
    assert r.mid_delta == 3.0  # 7.0 - 4.0

    df.createOrReplaceTempView("ev_off")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT p FROM ev_off MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES LAST(seq, 1) AS p
            ONE ROW PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        """
    ).collect()
    assert [x.p for x in got] == [3]


def test_measure_arithmetic_matches_duckdb_property():
    """Differential: random arithmetic expression trees over measure
    atoms (SUM/AVG/COUNT/FIRST/LAST over a small match span) evaluate
    identically to DuckDB's scalar arithmetic on the same atom values —
    NULL propagation, / NULL-on-zero, truncated %, integer vs double
    typing all included."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from blazingsql_spark.operators.match_recognize import _parse_measure

    con = duckdb.connect()
    atoms = [
        "SUM(v)", "AVG(v)", "COUNT(*)", "FIRST(v)", "LAST(v)",
        "FIRST(v, 1)", "LAST(v, 1)", "COUNT(C.*)", "SUM(C.v)",
    ]

    @st.composite
    def exprs(draw, depth=0):
        k = draw(st.integers(0, 4 if depth < 2 else 1))
        if k == 0:
            return draw(st.sampled_from(atoms))
        if k == 1:
            return str(draw(st.integers(0, 9)))
        a = draw(exprs(depth + 1))
        b = draw(exprs(depth + 1))
        op = draw(st.sampled_from(["+", "-", "*", "/", "%"]))
        return f"({a} {op} {b})"

    vals = st.lists(
        st.one_of(st.none(), st.integers(-9, 9)), min_size=1, max_size=5
    )

    @settings(max_examples=120, deadline=None)
    @given(expr=exprs(), v=vals, codes_seed=st.integers(0, 1 << 30))
    def check(expr, v, codes_seed):
        rnd = random.Random(codes_seed)
        codes = "".join(rnd.choice("ac") for _ in v)  # 'c' = symbol C
        try:
            meas = _parse_measure(expr, "m", {"C": "c", "A": "a"})
        except ValueError:
            return  # e.g. a lone literal — not a measure, fine
        got = meas.ev({"v": v}, codes, 1)
        # DuckDB twin: substitute each atom's value computed in Python
        # here, then let DuckDB do the arithmetic
        cv = [x for x, c in zip(v, codes) if c == "c"]
        nn = [x for x in v if x is not None]
        cnn = [x for x in cv if x is not None]
        subs = {
            "SUM(v)": sum(nn) if nn else None,
            "AVG(v)": sum(nn) / len(nn) if nn else None,
            "COUNT(*)": len(v),
            "FIRST(v)": v[0],
            "LAST(v)": v[-1],
            "FIRST(v, 1)": v[1] if len(v) > 1 else None,
            "LAST(v, 1)": v[-2] if len(v) > 1 else None,
            "COUNT(C.*)": len(cv),
            "SUM(C.v)": sum(cnn) if cnn else None,
        }
        sql = expr
        for k in sorted(subs, key=len, reverse=True):
            lit = "NULL" if subs[k] is None else repr(float(subs[k]))
            # keep integer-typed atoms integer-typed for %-semantics
            if subs[k] is not None and k not in ("AVG(v)",):
                lit = str(int(subs[k]))
            sql = sql.replace(k, f"({lit})")
        want = con.execute(f"SELECT {sql}").fetchone()[0]
        if got is None or want is None:
            assert got is None and want is None, (expr, v, codes, got, want)
        else:
            assert abs(float(got) - float(want)) < 1e-9, (
                expr, v, codes, got, want,
            )

    check()


def test_pattern_exclusion_all_rows(spark):
    """SQL:2016 {- ... -} exclusion: excluded-region rows still match
    and feed measures, but are omitted from ALL ROWS output; ONE ROW
    output is unaffected; partial-symbol overlap, nesting, and
    unbalanced markers raise loudly; the SQL spelling works."""
    import pytest as _pt

    from blazingsql_spark.operators.match_recognize import (
        _extract_exclusions,
        match_recognize,
    )

    assert _extract_exclusions("A {- B+ -} C") == ("A ( B+ ) C", frozenset({"B"}))
    with _pt.raises(ValueError, match="both inside and outside"):
        _extract_exclusions("A {- A -} C")
    with _pt.raises(ValueError, match="nested"):
        _extract_exclusions("{- A {- B -} -}")
    with _pt.raises(ValueError, match="without"):
        _extract_exclusions("A {- B")

    df = spark.createDataFrame(
        [
            (1, 1, "view", 10.0),
            (1, 2, "click", 4.0),
            (1, 3, "click", 6.0),
            (1, 4, "purchase", 30.0),
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize(
        df, ["user_id"], ["seq"],
        [("CLASSIFIER()", "sym"), ("FINAL SUM(value)", "total")],
        "V {- C* -} P", define, all_rows=True,
    ).orderBy("seq").collect()
    assert [r.sym for r in out] == ["V", "P"]  # clicks matched but hidden
    assert [r.total for r in out] == [50.0] * 2  # measures saw the clicks

    one = match_recognize(
        df, ["user_id"], ["seq"], [("COUNT(*)", "n")],
        "V {- C* -} P", define,
    ).collect()
    assert [r.n for r in one] == [4]

    df.createOrReplaceTempView("ev_excl")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT seq, sym FROM ev_excl MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES CLASSIFIER() AS sym
            ALL ROWS PER MATCH
            PATTERN (V {- C* -} P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        ) ORDER BY seq
        """
    ).collect()
    assert [(r.seq, r.sym) for r in got] == [(1, "V"), (4, "P")]


def test_review_regressions_round10(spark):
    """Round-10 self-review fixes: (1) a bare PERMUTE word (no parens)
    raises instead of becoming an always-true symbol; (2) `FROM t AS a
    MATCH_RECOGNIZE` binds the TABLE (not the alias) and the alias
    keeps working in the outer query; (3) the no-AS alias spelling
    resolves too."""
    import pytest as _pt

    from blazingsql_spark.operators.match_recognize import _expand_permute

    with _pt.raises(ValueError, match="malformed PERMUTE"):
        _expand_permute("A PERMUTE B")

    df = spark.createDataFrame(
        [(1, 1, "view", 1), (1, 2, "purchase", 2)],
        ["user_id", "seq", "event_type", "x"],
    )
    df.createOrReplaceTempView("ev_alias")
    bc = Context(spark=spark)
    for spelling in ("ev_alias AS a", "ev_alias a"):
        got = bc.sql(
            f"""
            SELECT a.user_id, a.n FROM {spelling} MATCH_RECOGNIZE (
                PARTITION BY user_id ORDER BY seq
                MEASURES COUNT(*) AS n
                ONE ROW PER MATCH
                PATTERN (V P)
                DEFINE V AS event_type = 'view',
                       P AS event_type = 'purchase'
            )
            """
        ).collect()
        assert [(r.user_id, r.n) for r in got] == [(1, 2)], spelling


def test_with_unmatched_rows(spark):
    """ALL ROWS PER MATCH WITH UNMATCHED ROWS: rows in no match come
    back with NULL measures; matched rows unchanged; requires ALL ROWS;
    incompatible with {- -} exclusions; SHOW/OMIT EMPTY MATCHES are
    accepted no-ops through the SQL spelling."""
    import pytest as _pt

    from blazingsql_spark.operators.match_recognize import match_recognize

    df = spark.createDataFrame(
        [
            (1, 1, "view", 1.0),
            (1, 2, "error", 0.0),   # unmatched
            (1, 3, "view", 2.0),
            (1, 4, "purchase", 3.0),
            (1, 5, "error", 0.0),   # unmatched
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    define = {
        "V": "event_type = 'view'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize(
        df, ["user_id"], ["seq"],
        [("MATCH_NUMBER()", "mno"), ("CLASSIFIER()", "sym")],
        "V P", define, all_rows=True, unmatched=True,
    ).orderBy("seq").collect()
    assert [r.seq for r in out] == [1, 2, 3, 4, 5]
    assert [r.mno for r in out] == [None, None, 1, 1, None]
    assert [r.sym for r in out] == [None, None, "V", "P", None]

    with _pt.raises(ValueError, match="requires ALL ROWS"):
        match_recognize(
            df, ["user_id"], ["seq"], [("COUNT(*)", "n")], "V P",
            dict(define), unmatched=True,
        )
    with _pt.raises(ValueError, match="cannot be combined"):
        match_recognize(
            df, ["user_id"], ["seq"], [("COUNT(*)", "n")], "V {- P -}",
            dict(define), all_rows=True, unmatched=True,
        )

    df.createOrReplaceTempView("ev_unm")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT seq, mno FROM ev_unm MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES MATCH_NUMBER() AS mno
            ALL ROWS PER MATCH WITH UNMATCHED ROWS
            PATTERN (V P)
            DEFINE V AS event_type = 'view',
                   P AS event_type = 'purchase'
        ) ORDER BY seq
        """
    ).collect()
    assert [(r.seq, r.mno) for r in got] == [
        (1, None), (2, None), (3, 1), (4, 1), (5, None),
    ]
    # SHOW/OMIT EMPTY MATCHES parse as no-ops
    for mode in ("SHOW EMPTY MATCHES", "OMIT EMPTY MATCHES"):
        n = bc.sql(
            f"""
            SELECT COUNT(*) AS n FROM ev_unm MATCH_RECOGNIZE (
                PARTITION BY user_id ORDER BY seq
                MEASURES MATCH_NUMBER() AS mno
                ALL ROWS PER MATCH {mode}
                PATTERN (V P)
                DEFINE V AS event_type = 'view',
                       P AS event_type = 'purchase'
            )
            """
        ).collect()[0].n
        assert n == 2, mode


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_emission_modes_randomized_invariants(spark):
    """Randomized differential over the three ALL-ROWS emission modes on
    one partition: (1) WITH UNMATCHED ROWS emits every input row exactly
    once (SKIP PAST LAST ROW is non-overlapping), with mno NULL exactly
    on the rows scan_rows leaves uncovered; (2) plain ALL ROWS
    equals the matched subset; (3) {- C -} exclusion equals ALL ROWS
    minus the C-classified rows with identical measures."""
    import random as _r

    rnd = _r.Random(20260816)
    define = {
        "V": "event_type = 'v'",
        "C": "event_type = 'c'",
        "P": "event_type = 'p'",
    }
    for trial in range(8):
        codes = "".join(rnd.choice("vcpx") for _ in range(rnd.randint(5, 30)))
        df = spark.createDataFrame(
            [(1, i, ch) for i, ch in enumerate(codes)],
            ["user_id", "seq", "event_type"],
        )
        # expected spans on the code string (x classifies as the
        # undefined always-true symbol W, which V/C/P claim first)
        sym_codes = "".join(
            {"v": "a", "c": "b", "p": "c"}.get(ch, "d") for ch in codes
        )
        spans = [
            (lo, hi)
            for lo, hi, _c in scan_rows(
                compile_pattern("ab*c"), char_truth(sym_codes), len(sym_codes)
            )[0]
        ]
        covered = {j for lo, hi in spans for j in range(lo, hi)}

        unm = match_recognize(
            df, ["user_id"], ["seq"], [("MATCH_NUMBER()", "mno")],
            "V C* P", dict(define), all_rows=True, unmatched=True,
        )
        rows = {r.seq: r.mno for r in unm.collect()}
        assert len(rows) == len(codes), (trial, codes)
        assert {s for s, m in rows.items() if m is not None} == covered, (
            trial, codes, spans,
        )

        allr = match_recognize(
            df, ["user_id"], ["seq"], [("MATCH_NUMBER()", "mno")],
            "V C* P", dict(define), all_rows=True,
        )
        assert {r.seq for r in allr.collect()} == covered, (trial, codes)

        excl = match_recognize(
            df, ["user_id"], ["seq"],
            [("FINAL COUNT(*)", "n")],
            "V {- C* -} P", dict(define), all_rows=True,
        ).collect()
        want_excl = {
            j for lo, hi in spans for j in (lo, hi - 1)
        }  # endpoints only: interior rows are all C by construction
        assert {r.seq for r in excl} == want_excl, (trial, codes)
        for r in excl:
            lo, hi = next(
                (lo, hi) for lo, hi in spans if lo <= r.seq < hi
            )
            assert r.n == hi - lo, (trial, codes, r)


def test_order_by_desc(spark):
    """ORDER BY col DESC inside MATCH_RECOGNIZE: the partition is
    scanned in descending key order (both the operator API and the SQL
    spelling), PREV/NEXT navigation windows follow the same direction,
    and WITHIN on a descending first key raises."""
    import pytest as _pt

    from blazingsql_spark.operators.match_recognize import match_recognize

    # descending seq: purchase(4) click(3) click(2) view(1) — so the
    # funnel P C* V matches only when scanned seq DESC
    df = spark.createDataFrame(
        [
            (1, 1, "view", 10.0),
            (1, 2, "click", 4.0),
            (1, 3, "click", 6.0),
            (1, 4, "purchase", 30.0),
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    define = {
        "P": "event_type = 'purchase'",
        "C": "event_type = 'click'",
        "V": "event_type = 'view'",
    }
    out = match_recognize(
        df, ["user_id"], ["seq DESC"],
        [("COUNT(*)", "n"), ("FIRST(seq)", "first_seq"),
         ("LAST(seq)", "last_seq")],
        "P C* V", define,
    ).collect()
    assert [(r.n, r.first_seq, r.last_seq) for r in out] == [(4, 4, 1)]

    # PREV under DESC order: the previous row in scan order is the
    # HIGHER seq — the rising-value run only exists scanned backwards
    nav = match_recognize(
        df, ["user_id"], ["seq DESC"],
        [("COUNT(*)", "n")],
        "A B+", {"B": "value < PREV(value)"},
    ).collect()
    assert nav and max(r.n for r in nav) >= 2

    with _pt.raises(ValueError, match="WITHIN requires"):
        match_recognize(
            df, ["user_id"], ["seq DESC"], [("COUNT(*)", "n")],
            "P C* V", dict(define), within=10,
        )

    df.createOrReplaceTempView("ev_desc")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT n FROM ev_desc MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq DESC
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (P C* V)
            DEFINE P AS event_type = 'purchase',
                   C AS event_type = 'click',
                   V AS event_type = 'view'
        )
        """
    ).collect()
    assert [r.n for r in got] == [4]


def test_advice_r10_regressions(spark):
    """Round-11 ADVICE fixes: (a) bounded-quantifier digits are not
    collected as symbols by the exclusion scanner; (b) unary '+' parses
    in arithmetic measures; (c) a leading outer WITH clause is visible
    to a derived-table MATCH_RECOGNIZE factor (including merging with
    the subquery's own WITH, inner names shadowing outer)."""
    df = spark.createDataFrame(
        [
            (1, 1, "view", 2.0),
            (1, 2, "view", 3.0),
            (1, 3, "click", 4.0),
            (1, 4, "purchase", 5.0),
        ],
        ["user_id", "seq", "event_type", "value"],
    )
    df.createOrReplaceTempView("ev_advice")
    bc = Context(spark=spark)

    # (a) A{2} {- C -} P: '2' must not be treated as a symbol token.
    # The C row is excluded from ALL ROWS output but still matched over.
    got = bc.sql(
        """
        SELECT seq FROM ev_advice MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(*) AS n
            ALL ROWS PER MATCH
            PATTERN (A{2} {- C -} P)
            DEFINE A AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        """
    ).collect()
    assert sorted(r.seq for r in got) == [1, 2, 4]

    # (b) leading unary plus in an arithmetic measure
    got = bc.sql(
        """
        SELECT m FROM ev_advice MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES +2 * SUM(A.value) AS m
            ONE ROW PER MATCH
            PATTERN (A+)
            DEFINE A AS event_type = 'view'
        )
        """
    ).collect()
    assert [r.m for r in got] == [10.0]

    # (c) outer CTE visible inside the derived-table factor
    got = bc.sql(
        """
        WITH clean AS (SELECT * FROM ev_advice WHERE value < 5)
        SELECT n FROM (SELECT * FROM clean) MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (A+)
            DEFINE A AS value > 0
        )
        """
    ).collect()
    assert [r.n for r in got] == [3]

    # (c2) r12 (ADVICE r11): a BARE CTE name as the factor — not just a
    # derived table wrapping it — resolves through the same CTE-
    # prepending path (spark.table would fail analysis: a CTE is not a
    # catalog table)
    got = bc.sql(
        """
        WITH clean AS (SELECT * FROM ev_advice WHERE value < 5)
        SELECT n FROM clean MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (A+)
            DEFINE A AS value > 0
        )
        """
    ).collect()
    assert [r.n for r in got] == [3]

    # (c3) bare CTE name WITH an alias keeps outer references binding
    got = bc.sql(
        """
        WITH clean AS (SELECT * FROM ev_advice WHERE value < 5)
        SELECT z.n FROM clean AS z MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (A+)
            DEFINE A AS value > 0
        )
        """
    ).collect()
    assert [r.n for r in got] == [3]

    # (c) inner WITH merges; the inner 'clean' shadows the outer one
    got = bc.sql(
        """
        WITH clean AS (SELECT * FROM ev_advice WHERE value < 5),
             unused AS (SELECT 1 AS x)
        SELECT n FROM (
            WITH inner_f AS (SELECT * FROM clean WHERE value < 4)
            SELECT * FROM inner_f
        ) MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (A+)
            DEFINE A AS value > 0
        )
        """
    ).collect()
    assert [r.n for r in got] == [2]


def test_running_cumulative_equals_per_prefix_property():
    """The O(span) cumulative RUNNING evaluators (_Measure.run_ev) must
    be BIT-identical to evaluating the FINAL evaluator on every prefix
    (the pre-r11 O(span²) path, kept as the fallback/reference) — over
    randomized values including NULLs, NaNs, floats (fold-order
    sensitive), ints, symbol restrictions, logical offsets, and
    arithmetic composition."""
    from blazingsql_spark.operators.match_recognize import _parse_measure

    rnd = random.Random(20260816)
    sym_chars = {"A": "a", "B": "b", "C": "c"}
    exprs = [
        "MATCH_NUMBER()",
        "CLASSIFIER()",
        "COUNT(*)",
        "COUNT(A.*)",
        "COUNT(B.*)",
        "COUNT(x)",
        "SUM(x)", "SUM(A.x)", "AVG(x)", "AVG(B.x)",
        "MIN(x)", "MAX(A.x)", "MIN(B.y)", "MAX(y)",
        "STDDEV(x)", "VAR_POP(A.x)",
        "FIRST(x)", "LAST(x)", "FIRST(A.x, 1)", "LAST(B.x, 2)",
        "FIRST(x, 3)", "LAST(y)",
        "LAST(x) - FIRST(x)",
        "SUM(A.x) / COUNT(A.*)",
        "100 * AVG(x) + 1",
        "-(SUM(x) % 7)",
        "+2 * SUM(y) - MIN(x)",
    ]
    measures = [_parse_measure(e, f"m{i}", sym_chars) for i, e in enumerate(exprs)]
    for m in measures:
        assert m.run_ev is not None, f"{m.alias}: no cumulative evaluator"

    def same(f, s):
        return f == s or (f != f and s != s)  # NaN equals NaN here

    for trial in range(60):
        size = rnd.randint(1, 25)
        codes = "".join(rnd.choice("abc") for _ in range(size))
        def col(float_ok=True):
            out = []
            for _ in range(size):
                r = rnd.random()
                if r < 0.2:
                    out.append(None)
                elif r < 0.3 and float_ok:
                    out.append(float("nan"))
                elif r < 0.6 and float_ok:
                    out.append(rnd.uniform(-1e6, 1e6))
                else:
                    out.append(rnd.randint(-1000, 1000))
            return out
        cols = {"x": col(), "y": col(float_ok=False)}
        n = rnd.randint(1, 9)
        for m in measures:
            fast = m.run_ev(cols, codes, n)
            slow = [
                m.ev(
                    {c: v[: i + 1] for c, v in cols.items()}, codes[: i + 1], n
                )
                for i in range(size)
            ]
            assert len(fast) == size
            for i, (f, s) in enumerate(zip(fast, slow)):
                assert (f is None) == (s is None), (m.alias, trial, i, f, s)
                if f is not None:
                    assert type(f) is type(s) or (
                        same(float(f), float(s))
                    ), (m.alias, trial, i, f, s)
                    assert same(f, s), (m.alias, trial, i, repr(f), repr(s))


def test_measures_clause_optional(spark):
    """SQL:2016 makes MEASURES optional: without it ONE ROW PER MATCH
    emits the partition keys only and ALL ROWS PER MATCH the original
    columns (r11 — previously the rewriter's grammar required it)."""
    df = spark.createDataFrame(
        [(1, 1, "view"), (1, 2, "click"), (2, 3, "view"), (2, 4, "view")],
        ["user_id", "seq", "event_type"],
    )
    df.createOrReplaceTempView("ev_nomeas")
    bc = Context(spark=spark)
    one = bc.sql(
        """
        SELECT * FROM ev_nomeas MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            ONE ROW PER MATCH
            PATTERN (V C)
            DEFINE V AS event_type = 'view', C AS event_type = 'click'
        )
        """
    )
    assert one.columns == ["user_id"]
    assert [r.user_id for r in one.collect()] == [1]
    allr = bc.sql(
        """
        SELECT user_id, seq FROM ev_nomeas MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY seq
            ALL ROWS PER MATCH
            PATTERN (V C)
            DEFINE V AS event_type = 'view', C AS event_type = 'click'
        ) ORDER BY seq
        """
    ).collect()
    assert [(r.user_id, r.seq) for r in allr] == [(1, 1), (1, 2)]


def test_unsupported_pattern_metacharacters_raise(spark):
    """r11: unrecognized PATTERN metacharacters used to compile to
    literal char transitions no classified row can produce — the
    pattern silently matched nothing. Now: loud errors for anchors and
    character classes; bounded quantifiers, reluctant quantifiers
    (supported since late r12), and the core still compile."""
    from blazingsql_spark.operators.match_recognize import compile_symbols

    for pat, msg in [
        ("^A B", "metacharacters"),
        ("A B $", "metacharacters"),
        ("A [B]", "metacharacters"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_symbols(pat, {})
    for ok in (
        "A B?", "A{2,3} B", "(A|B)+ C",
        "A B*?", "A+? B", "A{2}? B", "A{1,3}? B",
    ):
        compile_symbols(ok, {})


def test_nondeterministic_symbol_assignment(spark):
    """r11: the vectorized path resolves SQL:2016 nondeterministic
    symbol assignment — a row satisfying several DEFINEs is mapped by
    the PATTERN (longest match, greedy quantifiers, left-first
    alternation), not by a fixed first-true classification. The pre-r11
    engine documented this as a restriction: PATTERN (A B C) with
    overlapping DEFINEs matched NOTHING because every row classified as
    A."""
    pdf_rows = [(1, i, float(i + 1)) for i in range(8)]
    df = spark.createDataFrame(pdf_rows, ["uid", "seq", "v"])
    every = {"A": "v >= 1", "B": "v >= 1", "C": "v >= 1"}

    out = match_recognize(
        df, ["uid"], ["seq"],
        [("COUNT(*)", "n"), ("FIRST(seq)", "s0")],
        "A B C", every,
    ).collect()
    assert sorted((r.s0, r.n) for r in out) == [(0, 3), (3, 3)]

    # left-first alternation preference
    alt = match_recognize(
        df, ["uid"], ["seq"], [("CLASSIFIER()", "clf")],
        "(A|B)", {"A": "v >= 1", "B": "v >= 1"},
    ).collect()
    assert {r.clf for r in alt} == {"A"}

    # greedy quantifiers: A+ takes everything it can leave B+ one row
    greedy = match_recognize(
        df, ["uid"], ["seq"],
        [("COUNT(A.*)", "na"), ("COUNT(B.*)", "nb")],
        "A+ B+", {"A": "v >= 1", "B": "v >= 1"},
    ).collect()
    assert [(r.na, r.nb) for r in greedy] == [(7, 1)]

    # ALL ROWS: per-row CLASSIFIER reflects the resolved assignment,
    # RUNNING sums accumulate over it
    allr = match_recognize(
        df, ["uid"], ["seq"], [("CLASSIFIER()", "clf"), ("SUM(v)", "rs")],
        "A B", {"A": "v >= 1", "B": "v >= 1"},
        all_rows=True,
    ).collect()
    got = sorted((r.seq, r.clf, r.rs) for r in allr)
    assert got[:4] == [(0, "A", 1.0), (1, "B", 3.0), (2, "A", 3.0), (3, "B", 7.0)]

    # undefined symbol = always TRUE per the standard: A B+ with only B
    # defined maps row 0 to A even where B's predicate also holds
    nav = match_recognize(
        df, ["uid"], ["seq"], [("COUNT(*)", "n")],
        "A B+", {"B": "v >= 1"},
    ).collect()
    assert [r.n for r in nav] == [8]


def test_malformed_bounded_quantifier_raises():
    """An unclosed/malformed bound (a{2 without }) must raise, not
    compile '{' as a literal char transition that silently matches
    nothing."""
    from blazingsql_spark.operators.match_recognize import compile_symbols

    for pat in ("A{2 B", "A} B", "A{x} B"):
        with pytest.raises(ValueError):
            compile_symbols(pat, {})


def test_within_vectorized_equals_in_automaton(spark):
    """r11: WITHIN no longer forces the in-automaton path — nav-free
    WITHIN queries run the vectorized scan with the identical duration
    bound (_within_breaks is shared by every scanner). Differential:
    vectorized vs forced-in-automaton, numeric and timestamp keys,
    both emit modes."""
    rows = []
    rnd = random.Random(20260818)
    for u in range(5):
        t = 0
        for i in range(rnd.randint(3, 20)):
            t += rnd.randint(1, 8)
            rows.append(
                (u, i, t, rnd.choice(["view", "click", "purchase"]))
            )
    df = spark.createDataFrame(rows, ["uid", "seq", "t", "et"])
    define = {"V": "et = 'view'", "C": "et = 'click'",
              "P": "et = 'purchase'"}
    for all_rows in (False, True):
        meas = [("MATCH_NUMBER()", "mn"), ("COUNT(*)", "n"),
                ("CLASSIFIER()", "clf")]
        a = match_recognize(df, ["uid"], ["t", "seq"], meas, "V C* P",
                            dict(define), all_rows=all_rows, within=10)
        b = match_recognize(df, ["uid"], ["t", "seq"], meas, "V C* P",
                            dict(define), all_rows=all_rows, within=10,
                            _force_in_automaton=True)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        ), all_rows

    # ambiguous defines + WITHIN: the bound applies to the priority
    # scanner too — one match per burst of rows within the budget
    df2 = spark.createDataFrame(
        [(1, 0, 0.0), (1, 1, 1.0), (1, 2, 2.0), (1, 3, 100.0), (1, 4, 101.0)],
        ["uid", "seq", "t"],
    )
    out = match_recognize(
        df2, ["uid"], ["t"], [("COUNT(*)", "n"), ("FIRST(t)", "t0")],
        "A B+", {"A": "t >= 0", "B": "t >= 0"}, within=10,
    ).collect()
    assert sorted((r.t0, r.n) for r in out) == [(0.0, 3), (100.0, 2)]


def test_partition_anchors(spark):
    """SQL:2016 ^/$ partition anchors (r11): a leading ^ restricts
    matches to ones starting at the partition's first row, a trailing
    $ to ones ending at its last row — with one-hot flags, ambiguous
    flags and a navigation DEFINE, and through the SQL spelling. Streaming still rejects anchors loudly (the
    partition end is unknowable on a stream)."""
    rows = [(1, i, e) for i, e in
            enumerate(["view", "click", "view", "click", "purchase"])]
    df = spark.createDataFrame(rows, ["uid", "seq", "et"])
    V, C, P = "et='view'", "et='click'", "et='purchase'"

    out = match_recognize(df, ["uid"], ["seq"],
                          [("FIRST(seq)", "s0"), ("COUNT(*)", "n")],
                          "^ V C", {"V": V, "C": C}).collect()
    assert [(r.s0, r.n) for r in out] == [(0, 2)]
    un = match_recognize(df, ["uid"], ["seq"], [("FIRST(seq)", "s0")],
                         "V C", {"V": V, "C": C}).collect()
    assert sorted(r.s0 for r in un) == [0, 2]  # unanchored finds both

    out = match_recognize(df, ["uid"], ["seq"],
                          [("FIRST(seq)", "s0"), ("COUNT(*)", "n")],
                          "C P $", {"C": C, "P": P}).collect()
    assert [(r.s0, r.n) for r in out] == [(3, 2)]
    assert match_recognize(df, ["uid"], ["seq"], [("COUNT(*)", "n")],
                           "V C $", {"V": V, "C": C}).collect() == []

    # both anchors: the whole partition must match
    out = match_recognize(df, ["uid"], ["seq"], [("COUNT(*)", "n")],
                          "^ (V C)+ P $", {"V": V, "C": C, "P": P}).collect()
    assert [r.n for r in out] == [5]

    # anchors + nondeterministic assignment (ambiguous defines)
    out = match_recognize(df, ["uid"], ["seq"],
                          [("COUNT(A.*)", "na"), ("COUNT(B.*)", "nb")],
                          "A+ B $", {"A": "1=1", "B": "1=1"}).collect()
    assert [(r.na, r.nb) for r in out] == [(4, 1)]

    # anchors + symbol-relative navigation (in-automaton path)
    df2 = spark.createDataFrame(
        [(1, 0, 5.0), (1, 1, 4.0), (1, 2, 3.0), (1, 3, 7.0)],
        ["uid", "seq", "v"],
    )
    out = match_recognize(df2, ["uid"], ["seq"], [("COUNT(*)", "n")],
                          "^ S D+", {"D": "v < PREV(S.v, 0)"
                                     " OR v < LAST(D.v, 0)"}).collect()
    assert [r.n for r in out] == [3]  # 5,4,3 fall; 7 breaks the run

    # SQL spelling
    df.createOrReplaceTempView("ev_anchor")
    bc = Context(spark=spark)
    got = bc.sql(
        """
        SELECT n FROM ev_anchor MATCH_RECOGNIZE (
            PARTITION BY uid ORDER BY seq
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (^ V C)
            DEFINE V AS et = 'view', C AS et = 'click'
        )
        """
    ).collect()
    assert [r.n for r in got] == [2]

    # nested anchors raise loudly; streaming rejects anchors
    import pytest as _pt

    with _pt.raises(ValueError, match="metacharacters"):
        match_recognize(df, ["uid"], ["seq"], [("COUNT(*)", "n")],
                        "V (^ C)", {"V": V, "C": C}).collect()


def test_nd_scanner_longest_extents_match_bruteforce():
    """Property: with ambiguous truth, each emitted span's extent equals
    the brute-force leftmost-longest over ALL possible symbol
    assignments (enumerate every assignment string, take the longest
    regex match from each scan position, replicate the AFTER MATCH SKIP
    PAST LAST ROW resume), and the emitted codes themselves satisfy
    truth and re-match the pattern over the same extent."""
    import itertools

    rnd = random.Random(20260819)
    for pat in ["ab", "a+b", "ab*c", "(a|b)c", "a{2}b", "ab?c"]:
        nfa = compile_pattern(pat)
        cre = re.compile(pat)
        for _ in range(40):
            size = rnd.randint(0, 9)
            # per-row truth over the alphabet {a,b,c}
            truth_tbl = [
                {ch: rnd.random() < 0.6 for ch in "abc"} for _ in range(size)
            ]
            truth = lambda j, pos, ch, tent, _t=truth_tbl: _t[j].get(ch, False)

            def longest_from(pos):
                best = -1
                rows = truth_tbl[pos:]
                for combo in itertools.product(
                    *[[c for c in "abc" if r[c]] or ["#"] for r in rows]
                ):
                    m = cre.match("".join(combo))
                    if m and m.end() > best and m.end() > 0:
                        best = m.end()
                return pos + best if best > 0 else None

            want = []
            pos = 0
            while pos < size:
                end = longest_from(pos)
                if end is not None:
                    want.append((pos, end))
                    pos = end
                else:
                    pos += 1
            got, _ = scan_rows(nfa, truth, size)
            assert [(lo, hi) for lo, hi, _c in got] == want, (
                pat, truth_tbl, got, want,
            )
            for lo, hi, codes in got:
                assert len(codes) == hi - lo
                assert all(
                    truth_tbl[lo + i][c] for i, c in enumerate(codes)
                )
                m = cre.match(codes)
                assert m and m.end() == len(codes)


def test_preferment_order_alternation():
    """SQL:2016 PREFERMENT order, not leftmost-longest — alternation
    prefers the LEFT branch even when a right branch would match
    longer. `a|bc` over all-ambiguous rows matches `a` (Oracle/Flink
    behavior)."""
    nfa = compile_pattern("a|bc")
    got, _ = scan_rows(nfa, lambda j, pos, ch, tent: True, 4)
    assert got == [(0, 1, "a"), (1, 2, "a"), (2, 3, "a"), (3, 4, "a")]

    # prefix alternation with DETERMINISTIC truth: `a|ab` over codes
    # "ab" stops at `a` under preferment (longest match would say (0,2))
    nfa2 = compile_pattern("a|ab")
    got2, _ = scan_rows(nfa2, char_truth("ab"), 2)
    assert got2 == [(0, 1, "a")]

    # right branch still wins when the left branch cannot match
    nfa3 = compile_pattern("a|bc")
    got3, _ = scan_rows(nfa3, char_truth("bc"), 2)
    assert got3 == [(0, 2, "bc")]

    # preferment equals re's leftmost-first on prefix alternations
    for pat in ("a|ab", "ab|a", "a(b|bc)", "(a|ab)(c|bc)?"):
        nfa4 = compile_pattern(pat)
        cre = re.compile(pat)
        rnd = random.Random(20260816)
        for _ in range(80):
            s = "".join(rnd.choice("abc") for _ in range(rnd.randint(0, 12)))
            want = [
                (m.start(), m.end()) for m in cre.finditer(s) if m.end() > m.start()
            ]
            got, _ = scan_rows(nfa4, char_truth(s), len(s))
            assert [(lo, hi) for lo, hi, _ in got] == want, (pat, s, got)


def test_preferment_operator_paths(spark):
    """The operator honors preferment for ambiguous and deterministic
    rows, with and without a navigation DEFINE."""
    # vectorized ambiguous: every row satisfies A and B and C
    df = spark.createDataFrame(
        [(1, i, float(i + 1)) for i in range(4)], ["uid", "seq", "v"]
    )
    out = match_recognize(
        df, ["uid"], ["seq"], [("COUNT(*)", "n"), ("CLASSIFIER()", "clf")],
        "A | B C", {"A": "v >= 1", "B": "v >= 1", "C": "v >= 1"},
    ).collect()
    assert [(r.n, r.clf) for r in out] == [(1, "A")] * 4

    # deterministic rows + user alternation: `A | A B` stops at A
    df2 = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b")], ["uid", "seq", "et"]
    )
    out2 = match_recognize(
        df2, ["uid"], ["seq"], [("COUNT(*)", "n")],
        "A | A B", {"A": "et = 'a'", "B": "et = 'b'"},
    ).collect()
    assert [r.n for r in out2] == [1]

    # navigation in DEFINE + user alternation
    out3 = match_recognize(
        df2, ["uid"], ["seq"], [("COUNT(*)", "n")],
        "A | A B", {"A": "et = 'a'", "B": "et = 'b' AND seq > FIRST(A.seq)"},
    ).collect()
    assert [r.n for r in out3] == [1]


def test_in_automaton_nondeterministic_assignment(spark):
    """A row satisfying two symbols the PATTERN could both consume,
    while a DEFINE uses symbol-relative navigation: the scanner's
    threads carry their own tentative mappings and resolve the
    assignment in SQL:2016 preferment order. The navigation predicate
    sees each THREAD's own mapping: C AS v > LAST(A.v) compares against
    the rows that thread assigned to A."""
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(4)], ["uid", "seq", "v"]
    )
    # PATTERN (A|B)+ C over v=0..3: every row satisfies A and B; the
    # preferred assignment maps rows 0-2 to A (left branch + greedy),
    # and row 3 is a valid C because 3 > LAST(A.v) = 2. Pre-r12 this
    # raised; pre-r11 it silently matched nothing.
    out = match_recognize(
        df, ["uid"], ["seq"],
        [("COUNT(*)", "n"), ("COUNT(A.*)", "na"), ("CLASSIFIER()", "clf")],
        "(A | B)+ C",
        {"A": "v >= 0", "B": "v >= 0", "C": "v > LAST(A.v, 0)"},
    ).collect()
    assert [(r.n, r.na, r.clf) for r in out] == [(4, 3, "C")]

    # the vec+any residual, also lifted: A+ B with B UNDEFINED
    # (always-true) and navigation in A — greedy A+ takes all but the
    # last row, B the final row. The pre-r12 deterministic classifier
    # mapped every row to A (undefined symbols classified last without
    # an ambiguity check) and matched NOTHING.
    out2 = match_recognize(
        df, ["uid"], ["seq"],
        [("COUNT(*)", "n"), ("COUNT(A.*)", "na"), ("LAST(B.v)", "bv")],
        "A+ B",
        {"A": "v >= FIRST(A.v)"},
    ).collect()
    assert [(r.n, r.na, r.bv) for r in out2] == [(4, 3, 3.0)]

    # mutually-exclusive DEFINEs
    ok = match_recognize(
        df, ["uid"], ["seq"], [("COUNT(*)", "n")],
        "(A | B)+ C",
        {"A": "v = 0", "B": "v = 1",
         "C": "v >= 2 AND v > LAST(A.v, 0)"},
    ).collect()
    assert [r.n for r in ok] == [3]


def test_in_automaton_nd_thread_cap_raises(spark):
    """The one corner per-thread nondeterminism cannot bound: several
    always-true NAVIGATION symbols under a shared quantifier fork a
    distinct assignment history per row per symbol (histories cannot be
    state-deduplicated — different histories are different futures), so
    the thread count is capped and exceeding it raises loudly."""
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(24)], ["uid", "seq", "v"]
    )
    with pytest.raises(Exception, match="assignment histories"):
        match_recognize(
            df, ["uid"], ["seq"], [("COUNT(*)", "n")],
            "(A | B)+ C",
            {"A": "v >= FIRST(A.v, 0) - 100", "B": "v >= FIRST(B.v, 0) - 100",
             "C": "v > LAST(A.v, 0) + 100"},
        ).collect()


def test_in_automaton_nd_scanner_equals_vectorized_nd_scanner():
    """With tent-INDEPENDENT truth, carrying every symbol's mapping (the
    navigation route, read_chars set) emits byte-identical spans to
    carrying none (the vectorized route, state dedup only) — same
    preferment order, same skip resume, same anchors."""
    rnd = random.Random(20260816)
    pats = ["ab", "a+b", "(a|b)+c", "a*b", "ab?c", "(ab)+", "a|bc", "a+b+"]
    checked = 0
    for _ in range(250):
        pat = rnd.choice(pats)
        size = rnd.randint(0, 12)
        tbl = {
            (j, ch): rnd.random() < 0.6 for j in range(size) for ch in "abc"
        }
        truth = lambda j, pos, ch, tent, _t=tbl: _t[(j, ch)]
        kw = dict(
            skip=rnd.choice([("past",), ("next",)]),
            anchor_start=rnd.random() < 0.2,
            anchor_end=rnd.random() < 0.2,
        )
        nfa = compile_pattern(pat)
        ref, _ = scan_rows(nfa, truth, size, **kw)
        try:
            got, carry = scan_rows(
                nfa, truth, size, read_chars=frozenset("abc"), **kw
            )
        except ValueError as e:
            # carried mappings keep genuinely different assignment
            # histories apart, so (a|b)+ over many ambiguous rows can
            # reach the thread cap; state dedup never does
            assert "assignment histories" in str(e), e
            continue
        checked += 1
        assert carry is None
        assert got == ref, (pat, size, got, ref)
    assert checked > 200


def test_in_automaton_nd_scanner_matches_backtracking_reference():
    """Property (r12): with tent-DEPENDENT truth — the predicate reads
    the thread's OWN assignment history, the case no vectorized scan
    can express — the per-thread scanner equals a recursive
    backtracking reference that explores the NFA in preferment order
    and returns the first accept (classic leftmost-preferment regex
    semantics, the SQL:2016 choice-point ranking)."""
    import sys

    sys.setrecursionlimit(10000)

    def brute(nfa, truth, size):
        spans = []
        pos = 0
        while pos < size:
            def rec(states, j, tent, codes):
                for st in states:
                    if st == nfa.accept:
                        return (j, codes)
                    if j >= size:
                        continue
                    for want, to in nfa.trans.get(st, ()):
                        if want is not None and not truth(j, pos, want, tent):
                            continue
                        ntent = dict(tent)
                        ch = "." if want is None else want
                        if want is not None:
                            ntent[want] = ntent.get(want, ()) + (j,)
                        res = rec(
                            ordered_closure(nfa, [to]), j + 1, ntent,
                            codes + ch,
                        )
                        if res is not None:
                            return res
                return None

            got = rec(ordered_closure(nfa, [nfa.start]), pos, {}, "")
            if got is not None and got[0] > pos:
                end, codes = got
                spans.append((pos, end, codes))
                pos = _skip_resume(_SKIP_PAST, pos, end, codes)
            else:
                pos += 1
        return spans

    rnd = random.Random(7)
    pats = ["ab", "a+b", "(a|b)+c", "a*b", "ab?c", "(ab)+", "a|bc", "a+b+c?"]
    for _ in range(250):
        pat = rnd.choice(pats)
        size = rnd.randint(0, 10)
        # truth depends on (row, symbol, #a-assigned, #b-assigned): a
        # pure function of the thread's history, pre-generated so the
        # reference and the scanner see the identical oracle
        tbl = {
            (j, ch, na, nb): rnd.random() < 0.65
            for j in range(size)
            for ch in "abc"
            for na in range(size + 1)
            for nb in range(3)
        }

        def truth(j, pos, ch, tent, _t=tbl):
            return _t[
                (j, ch, len(tent.get("a", ())), min(2, len(tent.get("b", ()))))
            ]

        nfa = compile_pattern(pat)
        ref = brute(nfa, truth, size)
        got, carry = scan_rows(nfa, truth, size, read_chars=frozenset("ab"))
        assert carry is None
        assert got == ref, (pat, size, got, ref)


def test_arrow_sort_equals_pandas_sort():
    """The matcher orders each key's rows with _sort_indices, a stable
    Arrow sort with NULL keys last in both directions. On random frames
    it must be permutation-identical to pandas' stable mergesort with
    NULLs last, which holds every row without a NaN key. A NaN key sorts
    after every number and before NULL in both directions, so the
    reference replaces it by +inf (ascending) or -inf (descending)."""
    import pandas as pd
    import pyarrow as pa

    from blazingsql_spark.operators.match_recognize import _sort_indices

    rnd = random.Random(20260816)
    for trial in range(60):
        n = rnd.randint(0, 40)
        ts = [rnd.randint(0, 10) * 1_000_000 for _ in range(n)]
        f = [rnd.uniform(0, 3) for _ in range(n)]
        if trial % 4 == 0 and n:
            ts[rnd.randrange(n)] = None
        if trial % 3 == 0 and n:
            f[rnd.randrange(n)] = None
        nan_at = rnd.randrange(n) if trial % 5 == 0 and n else None
        if nan_at is not None:
            f[nan_at] = float("nan")
        cols = {
            "ts": pa.array(ts, pa.timestamp("us")),
            "k": [rnd.randint(0, 5) for _ in range(n)],
            "f": pa.array(f, pa.float64()),
            "s": [rnd.choice("xyz") for _ in range(n)],
            "payload": list(range(n)),
        }
        table = pa.table(cols)
        pdf = pd.DataFrame(
            {c: v.to_pylist() if isinstance(v, pa.Array) else v
             for c, v in cols.items()}
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        for order, asc in [
            (["ts", "k"], [True, True]),
            (["k", "f"], [True, True]),
            (["f", "ts", "k"], [True, True, True]),
            (["k", "ts"], [False, True]),
            (["f", "k"], [False, True]),
            (["s", "k"], [True, False]),
        ]:
            got = table.column("payload").take(
                _sort_indices(table, order, asc)
            ).to_pylist()
            ref = pdf
            if nan_at is not None and "f" in order:
                inf = float("inf") if asc[order.index("f")] else float("-inf")
                ref = pdf.assign(f=pdf["f"].where(pdf.index != nan_at, inf))
            want = ref.sort_values(
                order, ascending=asc, kind="mergesort", na_position="last"
            )
            assert got == list(want["payload"]), (trial, order, asc)


def test_prev_next_measures(spark):
    """SQL:2016 PREV/NEXT in MEASURES: PHYSICAL navigation over the
    partition — targets may lie OUTSIDE the match. FINAL semantics
    anchor at the match's last row (ONE ROW PER MATCH), RUNNING at each
    row of the prefix (ALL ROWS default); nested FIRST/LAST anchors at
    a logical position first, then walks physically; out-of-partition
    targets are NULL."""
    df = spark.createDataFrame(
        [(1, i, float((i + 1) * 10), c) for i, c in enumerate("bcxxx")],
        ["uid", "seq", "v", "et"],
    )
    out = match_recognize(
        df, ["uid"], ["seq"],
        [("PREV(v)", "pv"), ("NEXT(v)", "nv"),
         ("PREV(FIRST(v))", "pf"), ("NEXT(LAST(v), 2)", "nl2"),
         ("PREV(B.v)", "pb"), ("NEXT(v) - PREV(v)", "diff")],
        "B C", {"B": "et = 'b'", "C": "et = 'c'"},
    ).collect()
    # match = rows 0-1: last row pos 1; PREV anchors walk off the
    # partition start -> NULL
    assert [tuple(r)[1:] for r in out] == [
        (10.0, 30.0, None, 40.0, None, 20.0)
    ]

    # ALL ROWS: RUNNING default — each row anchors at itself
    out2 = match_recognize(
        df, ["uid"], ["seq"],
        [("PREV(v)", "pv"), ("NEXT(v)", "nv"),
         ("FINAL PREV(v)", "fpv")],
        "B C", {"B": "et = 'b'", "C": "et = 'c'"}, all_rows=True,
    ).select("seq", "pv", "nv", "fpv").collect()
    assert [tuple(r) for r in out2] == [
        (0, None, 20.0, 10.0),
        (1, 10.0, 30.0, 10.0),
    ]

    # per-prefix fallback must agree with the O(span) run_ev
    # (property: the ALL ROWS values above ARE run_ev's output; evaluate
    # ev on each prefix by hand via ONE ROW on truncated data is covered
    # by the FINAL column instead)

    # offsets: PREV(col, 0) is the anchor row itself
    out3 = match_recognize(
        df, ["uid"], ["seq"],
        [("PREV(v, 0)", "p0"), ("NEXT(B.v, 3)", "nb3")],
        "B C", {"B": "et = 'b'", "C": "et = 'c'"},
    ).collect()
    assert [tuple(r)[1:] for r in out3] == [(20.0, 40.0)]

    # unknown symbol raises loudly
    with pytest.raises(Exception, match="unknown symbol"):
        match_recognize(
            df, ["uid"], ["seq"], [("PREV(Z.v)", "x")],
            "B C", {"B": "et = 'b'", "C": "et = 'c'"},
        ).collect()


def test_reluctant_quantifiers_operator(spark):
    """Late r12: SQL:2016 reluctant quantifiers (*?, +?, ??, {n,m}?) —
    preferment prefers the SHORTEST accept, so `A+? B` over fully
    ambiguous rows yields pair-matches where greedy `A+ B` consumes the
    whole partition."""
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(6)], ["uid", "seq", "v"]
    )
    rel = match_recognize(
        df, ["uid"], ["seq"], [("MATCH_NUMBER()", "mn"), ("COUNT(*)", "n")],
        "A+? B", {"A": "v >= 0", "B": "v >= 0"},
    ).collect()
    assert [(r.mn, r.n) for r in rel] == [(1, 2), (2, 2), (3, 2)]
    greedy = match_recognize(
        df, ["uid"], ["seq"], [("COUNT(*)", "n")],
        "A+ B", {"A": "v >= 0", "B": "v >= 0"},
    ).collect()
    assert [r.n for r in greedy] == [6]

    # reluctant + navigation DEFINE: the inverted priority holds too
    nav = match_recognize(
        df, ["uid"], ["seq"], [("COUNT(*)", "n")],
        "A+? B", {"A": "v >= FIRST(A.v)", "B": "v >= 0"},
    ).collect()
    assert [r.n for r in nav] == [2, 2, 2]

    # reluctant bounded: {1,3}? takes the minimum that still completes
    bounded = match_recognize(
        df, ["uid"], ["seq"], [("COUNT(*)", "n")],
        "A{1,3}? B", {"A": "v >= 0", "B": "v >= 0"},
    ).collect()
    assert [r.n for r in bounded] == [2, 2, 2]


from hypothesis import given as _hgiven, settings as _hsettings
from hypothesis import strategies as _hst


@_hsettings(max_examples=120, deadline=None)
@_hgiven(
    pat=_hst.sampled_from(
        ["ab", "a+b", "(a|b)+c", "a*b", "ab?c", "(ab)+", "a|bc",
         "a+?b", "(a|b)+?c", "a{1,2}b"]
    ),
    size=_hst.integers(min_value=0, max_value=9),
    bits=_hst.integers(min_value=0, max_value=2**60 - 1),
)
def test_in_automaton_nd_hypothesis_vs_backtracking(pat, size, bits):
    """Hypothesis twin of the fixed-seed backtracking differential:
    truth depends on (row, symbol, #a-assigned-so-far) — drawn from a
    deterministic bit pool so hypothesis can shrink failures — and the
    per-thread scanner must equal the preferment-order backtracking
    reference on spans AND codes."""
    def truth(j, pos, ch, tent):
        na = min(3, len(tent.get("a", ())))
        k = (j * 3 + "abc".index(ch)) * 4 + na
        return bool((bits >> (k % 60)) & 1)

    nfa = compile_pattern(pat)

    def brute():
        spans = []
        pos = 0
        while pos < size:
            def rec(states, j, tent, codes):
                for st in states:
                    if st == nfa.accept:
                        return (j, codes)
                    if j >= size:
                        continue
                    for want, to in nfa.trans.get(st, ()):
                        if want is not None and not truth(j, pos, want, tent):
                            continue
                        ntent = dict(tent)
                        ch = "." if want is None else want
                        if want is not None:
                            ntent[want] = ntent.get(want, ()) + (j,)
                        res = rec(
                            ordered_closure(nfa, [to]), j + 1, ntent,
                            codes + ch,
                        )
                        if res is not None:
                            return res
                return None

            got = rec(ordered_closure(nfa, [nfa.start]), pos, {}, "")
            if got is not None and got[0] > pos:
                end, codes = got
                spans.append((pos, end, codes))
                pos = _skip_resume(_SKIP_PAST, pos, end, codes)
            else:
                pos += 1
        return spans

    try:
        got, carry = scan_rows(nfa, truth, size, read_chars=frozenset("a"))
    except ValueError as e:
        # genuinely exponential draws ((a|b)+c with a and b true and c
        # false everywhere) hit the documented 256-history cap, which
        # the capless brute reference cannot mirror — not a finding
        from hypothesis import assume

        assert "assignment histories" in str(e), e
        assume(False)
    assert carry is None
    assert got == brute(), (pat, size, bits)


def test_count_column_measures(spark):
    """Late r12: SQL:2016 COUNT(col) / COUNT(S.col) in MEASURES — the
    NON-NULL count (SQL aggregate semantics), vs COUNT(*)'s row count;
    composes with measure arithmetic and follows RUNNING semantics
    under ALL ROWS."""
    df = spark.createDataFrame(
        [(1, 0, None, "b"), (1, 1, 2.0, "c"), (1, 2, None, "c"),
         (1, 3, 4.0, "c")],
        ["uid", "seq", "v", "et"],
    )
    out = match_recognize(
        df, ["uid"], ["seq"],
        [("COUNT(*)", "n_rows"), ("COUNT(v)", "n_v"),
         ("COUNT(C.v)", "n_cv"), ("COUNT(B.v)", "n_bv"),
         ("COUNT(v) * 10", "arith")],
        "B C+", {"B": "et = 'b'", "C": "et = 'c'"},
    ).collect()
    assert [tuple(r)[1:] for r in out] == [(4, 2, 2, 0, 20)]

    run = match_recognize(
        df, ["uid"], ["seq"], [("COUNT(v)", "rn_v")],
        "B C+", {"B": "et = 'b'", "C": "et = 'c'"}, all_rows=True,
    ).select("seq", "rn_v").collect()
    assert [tuple(r) for r in run] == [(0, 0), (1, 1), (2, 1), (3, 2)]

    with pytest.raises(Exception, match="unknown symbol"):
        match_recognize(
            df, ["uid"], ["seq"], [("COUNT(Z.v)", "x")],
            "B C+", {"B": "et = 'b'", "C": "et = 'c'"},
        ).collect()


def test_stddev_variance_measures(spark):
    """Late r12: STDDEV/STDDEV_SAMP/STDDEV_POP/VARIANCE/VAR_SAMP/VAR_POP
    in MEASURES — sequential Welford so the cumulative RUNNING evaluator
    and whole-match evaluation share the identical recurrence; sample
    forms are NULL below 2 non-null rows; composes with arithmetic and
    symbol restriction; DuckDB cross-check on the same values."""
    import statistics

    import duckdb

    vals = [2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0]
    df = spark.createDataFrame(
        [(1, i, v, "a") for i, v in enumerate(vals)],
        ["uid", "seq", "v", "et"],
    )
    out = match_recognize(
        df, ["uid"], ["seq"],
        [("STDDEV(v)", "sd"), ("VAR_POP(v)", "vp"),
         ("VARIANCE(A.v)", "vs"), ("STDDEV_POP(v)", "sp"),
         ("STDDEV(v) * 2", "arith")],
        "A+", {"A": "v IS NOT NULL"},
    ).collect()
    r = out[0]
    want = duckdb.sql(
        "SELECT stddev_samp(x) sd, var_pop(x) vp, var_samp(x) vs, "
        "stddev_pop(x) sp FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        params=[vals],
    ).fetchone()
    assert abs(r.sd - want[0]) < 1e-9
    assert abs(r.vp - want[1]) < 1e-9
    assert abs(r.vs - want[2]) < 1e-9
    assert abs(r.sp - want[3]) < 1e-9
    assert abs(r.arith - 2 * want[0]) < 1e-9

    run = match_recognize(
        df, ["uid"], ["seq"],
        [("STDDEV(v)", "rsd"), ("VAR_POP(v)", "rvp")],
        "A+", {"A": "v IS NOT NULL"}, all_rows=True,
    ).select("seq", "rsd", "rvp").collect()
    assert run[0].rsd is None  # sample stddev of one row
    assert abs(run[0].rvp - 0.0) < 1e-12  # population variance of one row
    assert abs(run[-1].rsd - statistics.stdev(vals)) < 1e-12
    # every prefix equals the per-prefix reference (statistics module)
    for i, row in enumerate(run):
        prefix = vals[: i + 1]
        if len(prefix) >= 2:
            assert abs(row.rsd - statistics.stdev(prefix)) < 1e-9, i
        assert abs(row.rvp - statistics.pvariance(prefix)) < 1e-9, i


def test_equal_mappings_dedup_by_content(spark):
    """(A A | A)+ reaches the same rows-mapped-to-A along many branch
    paths. The scanner interns each mapping append, so those threads
    are one thread: a deterministic partition matches whole instead of
    raising the assignment-history cap (which it would past ~12 rows if
    equal mappings stayed distinct objects)."""
    for n in (12, 300):
        df = spark.createDataFrame(
            [(1, i, float(i if i < n - 1 else -1)) for i in range(n)],
            ["uid", "seq", "v"],
        )
        out = match_recognize(
            df, ["uid"], ["seq"], [("COUNT(*)", "n"), ("COUNT(A.*)", "na")],
            "(A A | A)+ B",
            {"A": "v >= 0 AND v > FIRST(A.v) - 1000", "B": "v < 0"},
        ).collect()
        assert [(r.n, r.na) for r in out] == [(n, n - 1)], n


def test_null_flags_are_false_without_downcast(spark):
    """A DEFINE that evaluates to NULL classifies as false. The flag
    column arrives as an object Series holding None; converting it must
    not take pandas' deprecated fillna downcast (a FutureWarning on
    every partition with a NULL flag)."""
    import warnings

    import pandas as pd
    import pyarrow as pa

    from blazingsql_spark.operators.match_recognize import flag_list

    col = pa.array([True, None, False], pa.bool_()).to_pandas()
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert flag_list(col) == [True, False, False]
        assert flag_list(pd.Series([True, False])) == [True, False]
        with pytest.raises(FutureWarning, match="Downcasting"):
            col.fillna(False)  # the conversion flag_list replaces

    df = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, None), (1, 2, 2.0), (1, 3, 3.0)],
        "uid long, seq long, v double",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = match_recognize(
            df, ["uid"], ["seq"], [("COUNT(*)", "n")], "A+",
            {"A": "v > 0"},
        ).collect()
    assert [r.n for r in out] == [1, 2]


def _canon_rows(rows, drop_first=False):
    """Rows as sortable tuples: NaN compares equal to NaN, and -0.0 to
    0.0 (a group of both reports either, as groupBy does)."""
    def canon(v):
        if isinstance(v, float):
            return "nan" if v != v else v + 0.0
        return v

    return sorted(
        (tuple(canon(v) for v in r[1 if drop_first else 0 :]) for r in rows),
        key=repr,
    )


def test_per_partition_kernel_matches_per_key_runs(spark):
    """The matcher stage is one mapInArrow kernel per shuffle partition:
    it streams the partition's Arrow batches, splits them into keys and
    runs each key alone. Spread over 16 partitions (most of them empty)
    with 3-row Arrow batches (every key spans batches), its output must
    equal running the operator on each key's rows by themselves, for
    ONE ROW, ALL ROWS and WITH UNMATCHED ROWS.

    The key ``k`` is a double holding NULL, NaN, -0.0 and 0.0, which
    must group as groupBy groups them: NULL apart from NaN, -0.0 with
    0.0. The per-key reference runs each group alone, keyed by its
    string label ``g`` and in one Arrow batch, so it shares none of the
    kernel's floating-key or batch-spanning logic. ``amount`` is a
    BIGINT that is NULL only under one key, so only that key's frame
    holds it as float64. The input comes from a 16-partition RDD, which
    has no size estimate, so the matcher takes its 16 partitions as its
    width (capped at spark.sql.shuffle.partitions)."""
    codes = {"v": "view", "c": "click", "p": "purchase", "s": "search"}
    streams = [  # (key, group label, events)
        (None, "null", "vcpvccps"),
        (float("nan"), "nan", "svcpvp"),
        (-0.0, "zero", "vccp"),
        (1.5, "x", "vcccpvcp"),
        (0.0, "zero", "cvcpv"),  # the -0.0 group, later seqs
        (2.5, "y", "ssss"),  # no match: no ONE ROW output, all unmatched
    ]
    rows, seq = [], 0
    for key, label, stream in streams:
        for i, ch in enumerate(stream):
            seq += 1
            amount = None if label == "x" and i % 3 == 0 else 10 * seq
            rows.append((key, label, seq, codes[ch], amount))
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 16),
        "k double, g string, seq bigint, event_type string, amount bigint",
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    measures = [
        ("MATCH_NUMBER()", "mno"),
        ("FIRST(seq)", "first_seq"),
        ("COUNT(*)", "n"),
        ("FIRST(C.amount)", "first_click"),
        ("SUM(amount)", "total"),
        ("CLASSIFIER()", "cls"),
    ]
    modes = [
        dict(all_rows=False),
        dict(all_rows=True),
        dict(all_rows=True, unmatched=True),
    ]

    def run(frame, key, mode):
        return match_recognize(
            frame, [key], ["seq"], measures, "V C+ P", define, **mode
        )

    want = {
        i: [
            r
            for label in ("null", "nan", "zero", "x", "y")
            for r in run(df.filter(F.col("g") == label), "g", mode).collect()
        ]
        for i, mode in enumerate(modes)
    }
    conf = spark.conf
    saved = {
        c: conf.get(c)
        for c in (
            "spark.sql.shuffle.partitions",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
        )
    }
    conf.set("spark.sql.shuffle.partitions", "16")
    conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        for i, mode in enumerate(modes):
            out = run(df, "k", mode)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert re.search(r"hashpartitioning\(k#\d+, 16\)", plan), plan
            # ONE ROW output leads with the key: k here, g in the reference
            one_row = not mode["all_rows"]
            got = _canon_rows(out.collect(), drop_first=one_row)
            assert got == _canon_rows(want[i], drop_first=one_row), mode
            assert got, mode
        # NULL and NaN hash apart; in one partition they sort next to
        # each other when no other key lies between
        conf.set("spark.sql.shuffle.partitions", "1")
        pair = df.filter(F.col("g").isin("null", "nan"))
        got = _canon_rows(run(pair, "k", modes[1]).collect())
        assert got == _canon_rows(
            r for r in want[1] if r.g in ("null", "nan")
        )
    finally:
        for c, v in saved.items():
            conf.set(c, v)


def test_key_starts_groups_keys_as_group_by():
    """The kernel's key split on a key-sorted Arrow batch: NULL equals
    only NULL, NaN equals NaN, -0.0 equals 0.0, integers compare as
    64-bit values (2**53 and 2**53 + 1 differ), and array and struct
    keys compare as whole values with the same rules inside."""
    import pyarrow as pa

    from blazingsql_spark.operators import match_recognize as mr

    nan = float("nan")
    big = 2**53
    batch = pa.record_batch(
        {
            "f": [None, nan, nan, -0.0, 0.0, 1.0],
            "i": [None, None, big, big, big + 1, big + 1],
            "t": pa.array(
                [None, None, None, 1, 1, 2], pa.timestamp("us", "UTC")
            ),
            "a": [None, None, [nan, 1.0], [nan, 1.0], [-0.0], [0.0]],
            "s": [None, {"x": nan}, {"x": nan}, {"x": 1.0}, None, None],
        }
    )

    def starts(*keys):
        return mr._key_starts(batch, list(keys)).tolist()

    assert starts("f") == [0, 1, 3, 5]
    assert starts("i") == [0, 2, 4]
    assert starts("t") == [0, 3, 5]
    assert starts("a") == [0, 2, 4]
    assert starts("s") == [0, 1, 3, 4]
    assert starts("f", "i") == [0, 1, 2, 3, 4, 5]
    assert starts() == [0]


def test_kernel_keeps_bigint_precision_beside_null(spark):
    """Keys 2**53 and 2**53 + 1 sit next to a NULL key in ONE Arrow
    batch, with epoch-nanosecond BIGINT order values and a passed-
    through BIGINT that is NULL under one key and 2**53 + 1 under the
    others. The two big keys stay apart, their rows order by the exact
    ts (as float64 the values tie and would reorder them), and every
    BIGINT comes back exact."""
    big, base = 2**53, 1_700_000_000_000_000_000
    rows = []
    keyed_ids = ((None, [None, 7, 8]), (big, [big + 1] * 3), (big + 1, [1, 2, big + 1]))
    for key, ids in keyed_ids:
        # input order c, p, v; only the exact ts order v, c, p matches
        for off, ev, eid in zip((2, 3, 1), ("c", "p", "v"), ids):
            rows.append((key, base + off, eid, ev))
    df = spark.createDataFrame(
        rows, "user_id bigint, ts bigint, event_id bigint, event_type string"
    ).coalesce(1)
    define = {"V": "event_type = 'v'", "C": "event_type = 'c'", "P": "event_type = 'p'"}
    one = match_recognize(
        df, ["user_id"], ["ts"],
        [("LAST(ts)", "last_ts"), ("FIRST(event_id)", "first_id"), ("COUNT(*)", "n")],
        "V C P", define,
    ).collect()
    assert sorted(map(tuple, one), key=repr) == sorted(
        [
            (None, base + 3, 8, 3),
            (big, base + 3, big + 1, 3),
            (big + 1, base + 3, big + 1, 3),
        ],
        key=repr,
    )
    every = match_recognize(
        df, ["user_id"], ["ts"], [("MATCH_NUMBER()", "mno")], "V C P",
        define, all_rows=True,
    ).collect()
    assert sorted(
        (r.user_id, r.ts, r.event_id) for r in every
        if r.user_id is not None
    ) == sorted((k, ts, eid) for k, ts, eid, _ in rows if k is not None)


def test_kernel_hands_run_each_keys_arrow_rows():
    """Driven directly over two Arrow batches (key 1 spans them; keys 2
    and 3 complete in the second), the kernel hands run() each key's
    rows as the Arrow data they arrived as: BIGINT 2**53 + 1 exact
    beside a NULL, NaN distinct from NULL, and nested, decimal, date and
    timestamp values intact. The tables run() returns for one input
    batch leave as one batch."""
    import datetime
    import decimal
    import math

    import pyarrow as pa

    from blazingsql_spark.operators import match_recognize as mr

    big = 2**53 + 1
    keys = [None, None, 1, 1, 1, 1, 2, 2, 3, 3, 4]
    table = pa.table(
        {
            "k": pa.array(keys, pa.int64()),
            "i8": pa.array([1, 2, 3, 4, 5, 6, None, 8, 9, 10, 11], pa.int8()),
            "i64": pa.array(
                [None, 1, big, big, big, big, None, big, big, big, 1], pa.int64()
            ),
            "b": [True, False, True, True, False, True, None, False, True, True, False],
            "f": [None, float("nan"), 1.0, -0.0, None, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0],
            "s": ["a", None, "b", "c", "d", "e", None, "f", "g", "h", "i"],
            "t": pa.array(
                [None, 1, 2, 3, 4, None, 6, 7, 8, 9, 10], pa.timestamp("us", "UTC")
            ),
            "d": [datetime.date(2024, 1, i) if i % 3 else None for i in range(1, 12)],
            "dec": [decimal.Decimal(i) / 4 if i != 4 else None for i in range(11)],
            "arr": [[1.0, None], None, [], [float("nan")], [2.0], None]
            + [[3.0], [4.0], [], [5.0], [6.0]],
            "st": [{"x": i, "y": str(i)} if i != 5 else None for i in range(11)],
        }
    )
    batches = [*table.slice(0, 4).to_batches(), *table.slice(4).to_batches()]
    seen = []

    def capture(rows):
        seen.append(rows)
        return None

    assert list(mr._per_key_kernel(capture, ["k"])(iter(batches))) == []
    bounds = [(0, 2), (2, 6), (6, 8), (8, 10), (10, 11)]
    assert len(seen) == len(bounds)
    for rows, (a, b) in zip(seen, bounds):
        want = table.slice(a, b - a)
        assert rows.schema == table.schema
        # repr: NaN compares equal to NaN, and None stays apart from it
        assert repr(rows.to_pylist()) == repr(want.to_pylist())
    assert seen[0].column("i64").to_pylist() == [None, 1]
    assert seen[1].column("i64").to_pylist() == [big] * 4
    null, nan = seen[0].column("f").to_pylist()
    assert null is None and math.isnan(nan)
    assert math.isnan(seen[1].column("arr").to_pylist()[1][0])
    assert seen[1].column("dec").to_pylist()[2] is None

    def keys_only(rows):
        return rows.select(["k"])

    out = list(mr._per_key_kernel(keys_only, ["k"])(iter(batches)))
    assert [b.num_rows for b in out] == [2, 8, 1]
    assert pa.Table.from_batches(out).column("k").to_pylist() == keys


def test_nan_and_null_measures_equal_spark_sql(spark):
    """NaN is a value and NULL is missing, as in Spark SQL. An events
    copy holds NaN and NULL in ``value`` (DOUBLE) and is keyed by a
    DOUBLE ``g`` holding NaN, NULL, -0.0 and 0.0, plus a key whose
    values are all NaN and one whose values are all NULL. Under
    PATTERN (A+) with an always-true A every key is one match, so the
    ONE ROW PER MATCH measures equal the GROUP BY spelling (FIRST/LAST
    as min_by/max_by on the order key), the ALL ROWS PER MATCH RUNNING
    measures equal the running-window spelling, and every passed-through
    NaN stays NaN."""
    import math

    from tests.conftest import SF_DIR

    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "nan_events_src"
    )
    df = spark.sql(
        """
        SELECT event_id, ts, user_id,
               CASE WHEN user_id % 7 = 4 THEN CAST('NaN' AS DOUBLE)
                    WHEN user_id % 7 = 5 THEN NULL
                    WHEN event_id % 7 = 0 THEN NULL
                    WHEN event_id % 5 = 0 THEN CAST('NaN' AS DOUBLE)
                    ELSE value END AS value,
               CASE user_id % 7 WHEN 0 THEN CAST('NaN' AS DOUBLE)
                    WHEN 1 THEN NULL
                    WHEN 2 THEN CAST('-0.0' AS DOUBLE)
                    WHEN 3 THEN 0.0D
                    WHEN 4 THEN 1.5D
                    WHEN 5 THEN 2.5D
                    ELSE 3.5D END AS g
        FROM nan_events_src
        """
    )
    df.createOrReplaceTempView("nan_events")
    aggs = ["SUM", "AVG", "MIN", "MAX", "COUNT", "STDDEV"]
    names = ["s", "a", "mn", "mx", "c", "sd", "f", "l", "n"]
    measures = [(f"{a}(value)", n) for a, n in zip(aggs, names)] + [
        ("FIRST(value)", "f"), ("LAST(value)", "l"), ("COUNT(*)", "n"),
    ]

    def canon(v):
        if isinstance(v, float):
            return "nan" if v != v else v + 0.0  # -0.0 groups with 0.0
        return v

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float):
            if a != a or b != b:
                return a != a and b != b
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        return a == b

    def assert_rows_equal(got, want, key):
        got = {canon(r[key]): r for r in got}
        want = {canon(r[key]): r for r in want}
        assert sorted(got, key=repr) == sorted(want, key=repr)
        for k, w in want.items():
            g = got[k]
            assert g.__fields__ == w.__fields__, (g, w)
            assert all(same(x, y) for x, y in zip(g, w)), (k, g, w)

    one = match_recognize(
        df, ["g"], ["event_id"], measures, "A+", {"A": "TRUE"}
    ).collect()
    by_key = spark.sql(
        """
        SELECT g, SUM(value) AS s, AVG(value) AS a, MIN(value) AS mn,
               MAX(value) AS mx, COUNT(value) AS c, STDDEV(value) AS sd,
               min_by(value, event_id) AS f, max_by(value, event_id) AS l,
               COUNT(*) AS n
        FROM nan_events GROUP BY g
        """
    ).collect()
    assert len(by_key) == 6  # -0.0 and 0.0 are one key
    assert len(one) == len(by_key)
    assert_rows_equal(one, by_key, "g")
    nan_key = [r for r in one if r.g is not None and r.g != r.g]
    assert len(nan_key) == 1 and math.isnan(nan_key[0].mx)

    every = match_recognize(
        df, ["g"], ["event_id"], measures, "A+", {"A": "TRUE"},
        all_rows=True,
    ).collect()
    running = spark.sql(
        """
        SELECT *, SUM(value) OVER w AS s, AVG(value) OVER w AS a,
               MIN(value) OVER w AS mn, MAX(value) OVER w AS mx,
               COUNT(value) OVER w AS c, STDDEV(value) OVER w AS sd,
               first(value) OVER w AS f, last(value) OVER w AS l,
               COUNT(*) OVER w AS n
        FROM nan_events
        WINDOW w AS (PARTITION BY g ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    ).collect()
    assert len(every) == len(running) == df.count()
    assert_rows_equal(every, running, "event_id")
    passed = {r.event_id: r.value for r in every}
    planted = [r.event_id for r in df.collect() if r.value != r.value]
    assert planted and all(math.isnan(passed[e]) for e in planted)
    assert any(r.value is None for r in every)


@pytest.mark.parametrize(
    "define", ["value > 2", "value = value", "value >= FIRST(A.value)"]
)
def test_nan_define_reads_spark_order_on_both_routes(spark, define):
    """A DEFINE reads NaN as a value in Spark's order (equal to NaN and
    above every number) whether it runs as a Spark SQL flag column or as
    an mr_expr closure inside the scan (a symbol-relative DEFINE, or the
    forced automaton route). Over 5.0, NaN, 7.0 ``A+`` is one 3-row
    match on both routes; a NULL in place of the NaN splits it."""
    df = spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, float("nan")), (1, 3, 7.0),
         (2, 1, 5.0), (2, 2, None), (2, 3, 7.0)],
        "k int, seq int, value double",
    )
    meas = [("MATCH_NUMBER()", "mn"), ("COUNT(*)", "n")]
    want = [(1, 1, 3), (2, 1, 1), (2, 2, 1)]
    for force in (False, True):
        got = match_recognize(df, ["k"], ["seq"], meas, "A+", {"A": define},
                              _force_in_automaton=force)
        assert sorted(map(tuple, got.collect())) == want, (define, force)


def test_mr_expr_nan_comparisons_equal_spark_sql(spark):
    """The mr_expr comparators against Spark SQL itself over NaN, a
    number and NULL: NaN = NaN, NaN above every number, NULL unknown."""
    from blazingsql_spark.operators.mr_expr import MatchCtx, compile_predicate

    vals = [float("nan"), 2.0, None]
    preds = [
        f"{a} {op} {b}"
        for op in ("=", "<>", "<", "<=", ">", ">=")
        for a, b in (("x", "y"), ("x", "2"), ("2", "x"))
    ] + ["x BETWEEN 1 AND y", "x IN (2, 3)", "x IS NULL", "x + 1 > y"]
    rows = [(x, y) for x in vals for y in vals]
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "nan_cmp"
    )
    want = spark.sql(
        "SELECT x, y, "
        + ", ".join(f"COALESCE({p}, FALSE) AS p{i}" for i, p in enumerate(preds))
        + " FROM nan_cmp"
    ).collect()
    for r in want:
        ctx = MatchCtx({"x": [r["x"]], "y": [r["y"]]}, 0, 0, 1, {})
        for i, p in enumerate(preds):
            f, _ = compile_predicate(p, ["x", "y"], {"X": "x"})
            assert (f(ctx) is True) == r[f"p{i}"], (p, r["x"], r["y"])

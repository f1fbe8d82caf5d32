"""MATCH_RECOGNIZE — the SQL spelling of row-pattern matching, run on
the repo's one row-pattern scanner (streaming/patterns.py compiles the
PATTERN to a Thompson NFA and scan_rows steps it over rows;
queries/relational.py carries the regexp-shaped batch twin
`events_pattern_match`).

The reference engine has no row-pattern surface at all (its Calcite
fork parses none of SQL:2016 §R; engine/src/parser has no pattern
kernels), so this is a beyond-reference convenience for migrating users
who type the standard spelling. Scope:

- ``PARTITION BY`` keys, ``ORDER BY`` keys (ASC/DESC, with stable
  tiebreak columns listed explicitly);
- ``PATTERN`` over the regular core: symbols, concatenation, ``|``,
  ``(...)``, postfix ``* + ?`` and bounded ``{n,m}`` (greedy), their
  SQL:2016 RELUCTANT forms ``*? +? ?? {n,m}?``, ``PERMUTE(A, B, ...)``
  (expanded to the alternation of all orderings, <= 6 elements),
  top-level ``^``/``$`` partition anchors and ``{- -}`` exclusions;
- ``AFTER MATCH SKIP``: PAST LAST ROW (default, non-overlapping),
  TO NEXT ROW (overlapping matches), TO FIRST/LAST <sym> (resume at a
  mapped row; the SQL:2016 runtime errors — unmapped symbol, resume at
  the match's own first row — raise inside the scan);
- ``DEFINE`` with arbitrary Spark SQL boolean expressions per symbol,
  plus ``PREV(col[, n])`` / ``NEXT(col[, n])`` with PHYSICAL-offset
  semantics (rewritten to lag/lead over the partition window). All of
  these become per-symbol boolean flag columns of one codegen
  projection. SYMBOL-RELATIVE navigation — ``PREV(A.price)``,
  ``FIRST(V.ts)``, ``LAST(B.amount, 2)``, bare ``A.price`` — cannot be
  pre-evaluated, because which rows are "mapped to A" depends on the
  match attempt in progress. Such predicates are compiled by
  operators/mr_expr.py to scalar closures, evaluated during the scan
  with the current row tentatively mapped to the symbol under test
  (SQL:2016 running semantics; mr_expr's docstring states the
  grammar);
- ``MEASURES``: MATCH_NUMBER(), CLASSIFIER(), COUNT(*), COUNT(S.*),
  FIRST/LAST(col [, n]) with the SQL:2016 logical offset,
  FIRST/LAST(S.col [, n]), PREV/NEXT, the FINAL aggregates
  SUM/AVG/MIN/MAX/STDDEV/VARIANCE (NULL-skipping; NULL over zero
  eligible rows) and numeric arithmetic over those; ONE ROW PER MATCH
  or ALL ROWS PER MATCH [WITH UNMATCHED ROWS]. Under ALL ROWS PER
  MATCH measures follow SQL:2016 semantics: the unprefixed default is
  RUNNING (each row sees the measure evaluated over its own prefix of
  the match; bare CLASSIFIER() is per-row), and a ``FINAL`` prefix
  requests the whole-match constant. Under ONE ROW PER MATCH running
  and final coincide (last-row evaluation);
- ``SUBSET W = (A, B)``: union pattern variables, resolvable anywhere
  a symbol name is (MEASURES, DEFINE navigation, SKIP TO);
- ``WITHIN <interval|number>`` (the Flink extension): bounds the match
  duration against the first ORDER BY key, enforced inside the scan.

NaN is a value and NULL is missing, as in Spark SQL: a NaN passes
through and keys as NaN, and in MEASURES SUM/AVG/STDDEV of a NaN are
NaN, MIN/MAX order NaN above every number and COUNT(col) counts it.
(The symbol-relative DEFINE closures of operators/mr_expr.py still read
a NaN as NULL.)

One front end: :func:`compile_recognizer` turns PATTERN, SUBSET,
AFTER MATCH SKIP, WITHIN and DEFINE into a :class:`Recognizer`. This
operator and its streaming twin (streaming/patterns.py
``match_recognize_stream``) both run it, so batch and stream keep one
set of semantics.

SYMBOL ASSIGNMENT follows SQL:2016: a row may satisfy SEVERAL
predicates, and the PATTERN decides the mapping in PREFERENCE order.
Greedy quantifiers prefer consuming more, reluctant ones less, and
alternation prefers the LEFT branch even when a right branch would
match longer (``A | B C`` matches just A, Oracle/Flink behavior). Every
partition goes through the same scanner, streaming/patterns.scan_rows,
a priority-thread Pike VM: truth comes from the flag columns and, for
navigation symbols, from the closures, whose threads each carry their
own tentative mapping (so ``C AS v > LAST(A.v)`` reads the rows THAT
THREAD assigned to A). A row matching no symbol the pattern can consume
ends the attempt.

Scale shape: the flags are one codegen projection; matching is one
per-partition kernel (mapInArrow) over an input hashed and sorted by
the PARTITION BY key, whose task count follows the input's estimated
size. Each task streams its Arrow batches, splits them into keys on
the Arrow data and scans one key at a time in Arrow: it sorts the key
by the ORDER BY keys, converts to Python values only the columns the
scan and the measures read, and writes its output as Arrow (passed-
through columns are a ``take`` of the input). Memory holds one batch
plus one key's event history, the same bound as every
MATCH_RECOGNIZE implementation (Flink/Oracle both require a partition
key for parallelism; skewed keys are the user's modeling problem there
too). The scan is O(events × NFA states) per key for navigation-free
DEFINEs.
"""

from __future__ import annotations

import datetime
import functools
import math
import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from blazingsql_spark.operators import mr_expr
from blazingsql_spark.operators.mr_expr import mask_literals, spark_lt
from blazingsql_spark.streaming.patterns import (
    _SKIP_PAST,
    _Nfa,
    compile_pattern,
    scan_rows,
)


def _strip_anchors(pattern: str) -> tuple[str, bool, bool]:
    """SQL:2016 partition anchors, TOP-LEVEL only: a leading ``^``
    (match must start at the partition's first row) and/or a trailing
    ``$`` (match must end at its last row). Returns (pattern without
    anchors, anchor_start, anchor_end); anchors anywhere else reach
    compile_symbols' metacharacter rejection and raise loudly."""
    p = pattern.strip()
    a_start = a_end = False
    if p.startswith("^"):
        a_start, p = True, p[1:].lstrip()
    if p.endswith("$"):
        a_end, p = True, p[:-1].rstrip()
    return p, a_start, a_end


_MEASURE_FORMS = re.compile(
    r"^(?:(?P<mn>MATCH_NUMBER\(\))"
    r"|(?P<clf>CLASSIFIER\(\))"
    r"|COUNT\(\s*(?:\*|(?P<csym>\w+)\.\*"
    r"|(?:(?P<ccsym>\w+)\.)?(?P<cccol>\w+))\s*\)"
    r"|(?P<agg>SUM|AVG|MIN|MAX|STDDEV_SAMP|STDDEV_POP|STDDEV"
    r"|VAR_SAMP|VAR_POP|VARIANCE)\(\s*(?:(?P<gsym>\w+)\.)?(?P<gcol>\w+)\s*\)"
    r"|(?P<pn>PREV|NEXT)\(\s*"
    r"(?:(?P<pnfl>FIRST|LAST)\(\s*(?:(?P<pnflsym>\w+)\.)?(?P<pnflcol>\w+)"
    r"(?:\s*,\s*(?P<pnfloff>\d+))?\s*\)"
    r"|(?:(?P<pnsym>\w+)\.)?(?P<pncol>\w+))"
    r"(?:\s*,\s*(?P<pnoff>\d+))?\s*\)"
    r"|(?P<fl>FIRST|LAST)\(\s*(?:(?P<sym>\w+)\.)?(?P<col>\w+)"
    r"(?:\s*,\s*(?P<floff>\d+))?\s*\))$",
    re.IGNORECASE,
)

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


_SEMANTICS_PREFIX = re.compile(r"^(RUNNING|FINAL)\s+", re.IGNORECASE)


class _Measure(NamedTuple):
    alias: str
    # (cols, codes, match_no) -> the value over the whole span: cols
    # maps a column name to the span's values, codes is the span's
    # symbol chars, one per row
    ev: object
    # the O(span) cumulative RUNNING evaluator: same arguments, a list
    # of len(codes) prefix values, bit-identical to calling ev on every
    # prefix (property-tested; calling ev per prefix would be O(span^2)
    # per measure, a scale killer when a greedy B* makes span ~
    # partition size)
    run_ev: object
    ty: object  # (input schema) -> Spark DataType
    final: bool  # explicit FINAL prefix


def _parse_measure(
    expr: str, alias: str, sym_chars: dict[str, str], part_ctx=None
):
    """Compile one measure into a _Measure. Under ALL ROWS PER MATCH the
    SQL:2016 default applies: an UNPREFIXED (or RUNNING) measure is
    re-evaluated over each row's PREFIX of the match (``run_ev``; bare
    CLASSIFIER() is then the per-row symbol), and only an explicit FINAL
    prefix yields the whole-match constant (FINAL CLASSIFIER() is the
    last-row symbol). Under ONE ROW PER MATCH running and final coincide.
    Besides the atomic forms, NUMERIC arithmetic over them is supported
    (Oracle/Flink parity): e.g. `LAST(value) - FIRST(value)`,
    `SUM(A.price) / COUNT(A.*)`, `100 * AVG(x)` — see
    :func:`_compile_arith_measure` for the semantics.

    Values are Python values as Arrow's ``to_pylist`` gives them: None
    is NULL and a float NaN is NaN, which SUM/AVG/STDDEV propagate and
    MIN/MAX order above every number, as Spark does.

    ``part_ctx`` is the partition-context holder ({"cols": the sorted
    partition's columns, "lo": current span start}) that run() keeps
    current; PREV/NEXT measures read it because physical navigation can
    reach rows OUTSIDE the match (SQL:2016: navigation in MEASURES is
    over the row pattern partition, positioned at the last row of the
    match — FINAL — or of the current prefix — RUNNING)."""
    expr = expr.strip()
    pm = _SEMANTICS_PREFIX.match(expr)
    final = False
    if pm:
        final = pm.group(1).upper() == "FINAL"
        expr = expr[pm.end():].strip()
    quad = _compile_single(expr, sym_chars, part_ctx)
    if quad is None:
        quad = _compile_arith_measure(expr, sym_chars, part_ctx)
    if quad is None:
        raise ValueError(
            f"MATCH_RECOGNIZE: unsupported measure {expr!r} (supported: "
            f"MATCH_NUMBER(), CLASSIFIER(), COUNT(*), COUNT(S.*), "
            f"COUNT([S.]col), "
            f"FIRST/LAST(col [, n]), FIRST/LAST(S.col [, n]), "
            f"PREV/NEXT(col [, n]), PREV/NEXT(S.col [, n]), "
            f"PREV/NEXT(FIRST/LAST([S.]col [, m]) [, n]), "
            f"SUM/AVG/MIN/MAX/STDDEV[_SAMP|_POP]/VARIANCE/VAR_SAMP/VAR_POP(col), "
            f"SUM/AVG/MIN/MAX(S.col), and numeric + - * / % arithmetic "
            f"over those forms and literals)"
        )
    ev, ty, run_ev = quad
    return _Measure(alias, ev, run_ev, ty, final)


def _compile_single(expr: str, sym_chars: dict[str, str], part_ctx=None):
    """Compile ONE atomic measure form; returns (ev, ty, run_ev) or None
    when the text is not an atomic form (semantic errors inside a
    recognized form still raise loudly)."""

    m = _MEASURE_FORMS.match(expr)
    if not m:
        return None
    if m.group("mn"):
        return (
            lambda cols, codes, n: n,
            lambda sch: T.LongType(),
            lambda cols, codes, n: [n] * len(codes),
        )
    if m.group("clf"):
        # the symbol of the evaluation prefix's last row: the match's
        # last row under FINAL / ONE ROW PER MATCH, each row's own under
        # RUNNING. Union (SUBSET) names never classify rows: keep the
        # FIRST name per char (pattern symbols precede SUBSET unions in
        # the lookup), so a single-member union can never shadow its
        # symbol.
        names_by_char: dict[str, str] = {}
        for s_, c_ in sym_chars.items():
            if len(c_) == 1:
                names_by_char.setdefault(c_, s_)
        return (
            lambda cols, codes, n, _m=names_by_char: _m.get(codes[-1]),
            lambda sch: T.StringType(),
            lambda cols, codes, n, _m=names_by_char: [_m.get(c) for c in codes],
        )
    if m.group("agg"):
        # FINAL aggregate over the match's rows (optionally restricted to
        # one symbol's rows), NULL-skipping like SQL aggregates; SUM/AVG/
        # MIN/MAX over zero eligible rows is NULL
        agg = m.group("agg").upper()
        sym, col = m.group("gsym"), m.group("gcol")
        if sym is not None and sym not in sym_chars:
            raise ValueError(f"MATCH_RECOGNIZE: {agg} over unknown symbol {sym!r}")
        ch = sym_chars.get(sym) if sym else None

        sample = agg in ("STDDEV", "STDDEV_SAMP", "VARIANCE", "VAR_SAMP")
        want_std = agg.startswith("STDDEV")
        is_var = agg.startswith(("STDDEV", "VAR"))

        def _welford(vals, _sample=sample, _std=want_std):
            # sequential Welford — the cumulative RUNNING evaluator
            # accumulates with the identical recurrence, so per-prefix
            # and cumulative evaluation stay bit-identical (the repo's
            # measure discipline); sample variance needs >= 2 rows
            cnt, mean, m2 = 0, 0.0, 0.0
            for v in vals:
                v = float(v)
                cnt += 1
                d = v - mean
                mean += d / cnt
                m2 += d * (v - mean)
            if cnt < (2 if _sample else 1):
                return None
            var = m2 / (cnt - 1) if _sample else m2 / cnt
            return math.sqrt(var) if _std else var

        def fold(total, v, _agg=agg):
            # one step of a sequential left fold, shared by the whole-span
            # and the cumulative RUNNING evaluator: per-prefix vs
            # cumulative must be bit-identical for floats
            # (property-tested), so neither may sum pairwise
            if _agg in ("SUM", "AVG"):
                return total + v
            if _agg == "MIN":
                return v if spark_lt(v, total) else total
            return v if spark_lt(total, v) else total

        def ev_agg(cols, codes, n, _ch=ch, _col=col, _agg=agg):
            vals = [
                v for v, c in zip(cols[_col], codes)
                if v is not None and (_ch is None or c in _ch)
            ]
            if is_var:
                return _welford(vals)
            if not vals:
                return None
            total = functools.reduce(fold, vals)
            return float(total / len(vals)) if _agg == "AVG" else total

        def run_agg(cols, codes, n, _ch=ch, _col=col, _agg=agg):
            if is_var:
                # running Welford: identical recurrence to _welford, so
                # the final prefix equals the whole-match value bit-wise
                out, cnt, mean, m2 = [], 0, 0.0, 0.0
                min_cnt = 2 if sample else 1
                for v, c in zip(cols[_col], codes):
                    if v is not None and (_ch is None or c in _ch):
                        v = float(v)
                        cnt += 1
                        d = v - mean
                        mean += d / cnt
                        m2 += d * (v - mean)
                    if cnt < min_cnt:
                        out.append(None)
                    else:
                        var = m2 / (cnt - 1) if sample else m2 / cnt
                        out.append(math.sqrt(var) if want_std else var)
                return out
            out, total, cnt = [], None, 0
            for v, c in zip(cols[_col], codes):
                if v is not None and (_ch is None or c in _ch):
                    cnt += 1
                    total = v if total is None else fold(total, v)
                if total is None:
                    out.append(None)
                elif _agg == "AVG":
                    out.append(float(total / cnt))
                else:
                    out.append(total)
            return out

        def ty_agg(sch, _col=col, _agg=agg):
            dt = sch[_col].dataType
            if _agg == "AVG" or is_var:
                return T.DoubleType()
            if _agg == "SUM":
                # Spark's sum widening for the common cases; decimals
                # keep their input type (documented narrow scope)
                if isinstance(dt, _INTEGRAL):
                    return T.LongType()
                if isinstance(dt, (T.FloatType, T.DoubleType)):
                    return T.DoubleType()
            return dt

        return ev_agg, ty_agg, run_agg
    if m.group("csym") is not None or expr.strip().upper().startswith("COUNT"):
        sym = m.group("csym")
        if m.group("cccol") is not None:
            # SQL:2016 COUNT(col) / COUNT(S.col): NON-NULL count of the
            # column over the match's (or symbol's) rows — the SQL
            # aggregate semantics, unlike COUNT(*)'s row count
            csym2, ccol = m.group("ccsym"), m.group("cccol")
            if csym2 is not None and csym2 not in sym_chars:
                raise ValueError(
                    f"MATCH_RECOGNIZE: COUNT over unknown symbol {csym2!r}"
                )
            cch = sym_chars.get(csym2) if csym2 else None

            def ev_ccol(cols, codes, n, _ch=cch, _col=ccol):
                return sum(
                    v is not None and (_ch is None or c in _ch)
                    for v, c in zip(cols[_col], codes)
                )

            def run_ccol(cols, codes, n, _ch=cch, _col=ccol):
                out, k = [], 0
                for v, c in zip(cols[_col], codes):
                    if v is not None and (_ch is None or c in _ch):
                        k += 1
                    out.append(k)
                return out

            return ev_ccol, lambda sch: T.LongType(), run_ccol
        if sym is None:
            return (
                lambda cols, codes, n: len(codes),
                lambda sch: T.LongType(),
                lambda cols, codes, n: list(range(1, len(codes) + 1)),
            )
        if sym not in sym_chars:
            raise ValueError(f"MATCH_RECOGNIZE: COUNT over unknown symbol {sym!r}")
        ch = sym_chars[sym]

        def run_count(cols, codes, n, _ch=ch):
            out, k = [], 0
            for c in codes:
                if c in _ch:
                    k += 1
                out.append(k)
            return out

        return (
            lambda cols, codes, n: sum(1 for c in codes if c in ch),
            lambda sch: T.LongType(),
            run_count,
        )
    if m.group("pn"):
        # PREV/NEXT in MEASURES (SQL:2016 / Oracle): PHYSICAL navigation
        # over the row pattern PARTITION — the target row may lie
        # outside the match. The inner anchor is the last row of the
        # evaluation prefix (bare col; under FINAL that is the match's
        # last row, under RUNNING the current row), the last row mapped
        # to SYM (SYM.col), or a nested FIRST/LAST logical position;
        # the physical offset then walks the partition, and the value
        # is read from the FULL partition's columns via part_ctx.
        is_prev = m.group("pn").upper() == "PREV"
        off = int(m.group("pnoff")) if m.group("pnoff") else 1
        nfl = m.group("pnfl")
        if nfl is not None:
            in_first = nfl.upper() == "FIRST"
            in_sym = m.group("pnflsym")
            col = m.group("pnflcol")
            in_off = int(m.group("pnfloff")) if m.group("pnfloff") else 0
        else:
            in_first = False  # bare/SYM form anchors at the LAST position
            in_sym = m.group("pnsym")
            col = m.group("pncol")
            in_off = 0
        if in_sym is not None and in_sym not in sym_chars:
            raise ValueError(
                f"MATCH_RECOGNIZE: {m.group('pn').upper()} over unknown "
                f"symbol {in_sym!r}"
            )
        in_ch = sym_chars.get(in_sym) if in_sym else None
        bare = nfl is None and in_sym is None
        if part_ctx is None:
            raise ValueError(
                "MATCH_RECOGNIZE: PREV/NEXT measures need the partition "
                "context (internal: _parse_measure called without "
                "part_ctx)"
            )

        def _pn_value(anchor_abs, _col=col, _prev=is_prev, _off=off):
            full = part_ctx["cols"][_col]
            tgt = anchor_abs - _off if _prev else anchor_abs + _off
            return full[tgt] if 0 <= tgt < len(full) else None

        def ev_pn(
            cols, codes, n, _bare=bare, _ch=in_ch, _in_first=in_first,
            _in_off=in_off,
        ):
            L = len(codes)
            lo = part_ctx["lo"]
            if _bare:
                return _pn_value(lo + L - 1)
            idxs = (
                list(range(L))
                if _ch is None
                else [i for i in range(L) if codes[i] in _ch]
            )
            if len(idxs) <= _in_off:
                return None
            pos = idxs[_in_off] if _in_first else idxs[-1 - _in_off]
            return _pn_value(lo + pos)

        def run_pn(
            cols, codes, n, _bare=bare, _ch=in_ch, _in_first=in_first,
            _in_off=in_off,
        ):
            lo = part_ctx["lo"]
            out, idxs = [], []
            for i in range(len(codes)):
                if _bare:
                    out.append(_pn_value(lo + i))
                    continue
                if _ch is None or codes[i] in _ch:
                    idxs.append(i)
                if len(idxs) <= _in_off:
                    out.append(None)
                else:
                    pos = idxs[_in_off] if _in_first else idxs[-1 - _in_off]
                    out.append(_pn_value(lo + pos))
            return out

        return ev_pn, lambda sch, _col=col: sch[_col].dataType, run_pn
    first = m.group("fl").upper() == "FIRST"
    sym, col = m.group("sym"), m.group("col")
    if sym is not None and sym not in sym_chars:
        raise ValueError(f"MATCH_RECOGNIZE: measure over unknown symbol {sym!r}")
    ch = sym_chars.get(sym) if sym else None
    # SQL:2016 logical offset: FIRST(col, n) is the (n+1)-th eligible
    # row, LAST(col, n) the (n+1)-th from the end; NULL when the match
    # (or the symbol's rows) has fewer than n+1 rows
    off = int(m.group("floff")) if m.group("floff") else 0

    def ev(cols, codes, n, _ch=ch, _col=col, _first=first, _off=off):
        rows = [
            v for v, c in zip(cols[_col], codes) if _ch is None or c in _ch
        ]
        if len(rows) <= _off:
            return None
        return rows[_off if _first else -1 - _off]

    def run_fl(cols, codes, n, _ch=ch, _col=col, _first=first, _off=off):
        eligible, out = [], []
        for v, c in zip(cols[_col], codes):
            if _ch is None or c in _ch:
                eligible.append(v)
            if len(eligible) <= _off:
                out.append(None)
            else:
                out.append(eligible[_off] if _first else eligible[-1 - _off])
        return out

    return ev, lambda sch, _col=col: sch[_col].dataType, run_fl


_MEXPR_ATOM = re.compile(
    r"MATCH_NUMBER\s*\(\s*\)"
    # PREV/NEXT first (allows ONE nested FIRST/LAST inside)
    r"|(?:PREV|NEXT)\s*\(\s*(?:(?:FIRST|LAST)\s*\(\s*[^()]*\s*\)"
    r"(?:\s*,\s*\d+)?|[^()]*)\s*\)"
    r"|(?:COUNT|SUM|AVG|MIN|MAX|FIRST|LAST|STDDEV_SAMP|STDDEV_POP"
    r"|STDDEV|VAR_SAMP|VAR_POP|VARIANCE)\s*\(\s*[^()]*\s*\)",
    re.IGNORECASE,
)
_MEXPR_NUM = re.compile(r"\d+(?:\.\d+)?")


def _compile_arith_measure(
    expr: str, sym_chars: dict[str, str], part_ctx=None
):
    """Compile a NUMERIC arithmetic combination of atomic measures and
    literals — `LAST(value) - FIRST(value)`, `SUM(A.price) /
    COUNT(A.*)`, `-2 * (AVG(x) + 1)` — the measure-expression subset
    Oracle/Flink users lean on most. Semantics match the engine's SQL
    surface: NULL propagates through every operator, `/` always yields
    DOUBLE and is NULL on a zero divisor, `%` is truncated (C-style)
    modulo and NULL on zero, integer-only `+ - * %` stays BIGINT.
    Operands must be numeric (a timestamp FIRST/LAST in arithmetic
    raises — interval arithmetic is out of scope, compute it on the
    output columns instead). Returns (ev, ty, run_ev) or None
    when the text is not an arithmetic measure; run_ev applies the same
    operators to each operand's prefix values, so RUNNING re-evaluation
    under ALL ROWS sees running aggregates inside the arithmetic, per
    the standard."""
    masked = mask_literals(expr)
    tokens: list[tuple[str, object]] = []
    i = 0
    while i < len(masked):
        if masked[i].isspace():
            i += 1
            continue
        am = _MEXPR_ATOM.match(masked, i)
        if am:
            quad = _compile_single(
                expr[i : am.end()].strip(), sym_chars, part_ctx
            )
            if quad is None:
                return None  # e.g. COUNT(a, b) — not a measure form
            tokens.append(("atom", quad))
            i = am.end()
            continue
        nm = _MEXPR_NUM.match(masked, i)
        if nm:
            txt = nm.group(0)
            val = float(txt) if "." in txt else int(txt)
            tokens.append(
                ("atom", (lambda cols, codes, n, _v=val: _v,
                          lambda sch, _f=isinstance(val, float): (
                              T.DoubleType() if _f else T.LongType()
                          ),
                          lambda cols, codes, n, _v=val: [_v] * len(codes)))
            )
            i = nm.end()
            continue
        if masked[i] in "+-*/%()":
            tokens.append((masked[i], None))
            i += 1
            continue
        return None  # anything else: not an arithmetic measure
    ops = {t for t, _ in tokens if t in "+-*/%"}
    if not ops or not any(t == "atom" for t, _ in tokens):
        return None  # a lone atom/number is _compile_single's business

    def type_kind(dt):
        if isinstance(dt, _INTEGRAL):
            return "i"
        if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            return "f"
        raise ValueError(
            f"MATCH_RECOGNIZE: arithmetic measure over non-numeric type "
            f"{dt.simpleString()} in {expr!r} (numeric operands only)"
        )

    def _scalar_op(a, b, op):
        if a is None or b is None:
            return None
        if op == "/":
            return float(a) / float(b) if b else None
        if not (isinstance(a, int) and isinstance(b, int)):
            a, b = float(a), float(b)
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        # truncated modulo, NULL on zero divisor (mr_expr parity)
        if b == 0:
            return None
        r = abs(a) % abs(b)
        return r if a >= 0 else -r

    def combine(ea, ta, ra, eb, tb, rb, op):
        def ty(sch, _ta=ta, _tb=tb, _op=op):
            ka, kb = type_kind(_ta(sch)), type_kind(_tb(sch))
            if _op == "/" or "f" in (ka, kb):
                return T.DoubleType()
            return T.LongType()

        def ev(cols, codes, n, _ea=ea, _eb=eb, _op=op):
            return _scalar_op(_ea(cols, codes, n), _eb(cols, codes, n), _op)

        # O(span) RUNNING composes elementwise: the same scalar op over
        # each operand's prefix-value lists
        def run(cols, codes, n, _ra=ra, _rb=rb, _op=op):
            return [
                _scalar_op(x, y, _op)
                for x, y in zip(_ra(cols, codes, n), _rb(cols, codes, n))
            ]

        return ev, ty, run

    pos = 0

    def peek():
        return tokens[pos][0] if pos < len(tokens) else None

    def parse_factor():
        nonlocal pos
        t, payload = tokens[pos] if pos < len(tokens) else (None, None)
        if t == "+":  # unary plus: no-op (`+2 * SUM(x)` is valid SQL)
            pos += 1
            return parse_factor()
        if t == "-":
            pos += 1
            ev, ty, run = parse_factor()

            def neg(cols, codes, n, _e=ev):
                v = _e(cols, codes, n)
                return None if v is None else -v

            def neg_run(cols, codes, n, _r=run):
                return [None if v is None else -v for v in _r(cols, codes, n)]

            return neg, ty, neg_run
        if t == "(":
            pos += 1
            out = parse_expr()
            if peek() != ")":
                raise ValueError(
                    f"MATCH_RECOGNIZE: unbalanced parens in measure {expr!r}"
                )
            pos += 1
            return out
        if t == "atom":
            pos += 1
            return payload
        raise ValueError(
            f"MATCH_RECOGNIZE: cannot parse measure expression {expr!r}"
        )

    def parse_term():
        nonlocal pos
        ev, ty, run = parse_factor()
        while peek() in ("*", "/", "%"):
            op = peek()
            pos += 1
            ev, ty, run = combine(ev, ty, run, *parse_factor(), op)
        return ev, ty, run

    def parse_expr():
        nonlocal pos
        ev, ty, run = parse_term()
        while peek() in ("+", "-"):
            op = peek()
            pos += 1
            ev, ty, run = combine(ev, ty, run, *parse_term(), op)
        return ev, ty, run

    ev, ty, run = parse_expr()
    if pos != len(tokens):
        raise ValueError(
            f"MATCH_RECOGNIZE: trailing tokens in measure expression "
            f"{expr!r}"
        )
    return ev, ty, run


_PERMUTE_KW = re.compile(r"\bPERMUTE\s*\(", re.IGNORECASE)


def _expand_permute(pattern: str) -> str:
    """Expand SQL:2016 ``PERMUTE(...)`` into the alternation of all
    orderings — lexicographic by argument position, the standard's
    preference order, which the scanner's left-first alternation
    honors.
    Arguments may be QUANTIFIED or GROUPED sub-patterns
    (``PERMUTE(A+, B)``, ``PERMUTE((A B)?, C)``) and PERMUTE may nest —
    each argument is parenthesized in the expansion so alternation
    precedence is preserved. Bounded at 6 elements (720 branches)."""
    import itertools

    while True:
        m = _PERMUTE_KW.search(pattern)
        if m is None:
            if re.search(r"\bPERMUTE\b", pattern, re.IGNORECASE):
                # a bare PERMUTE word (no parenthesis — e.g. the typo
                # `A PERMUTE B`) would otherwise become an always-true
                # pattern SYMBOL and silently match wrong rows
                raise ValueError(
                    f"MATCH_RECOGNIZE: malformed PERMUTE in {pattern!r} — "
                    f"expected PERMUTE(arg, ...)"
                )
            return pattern
        depth, i = 1, m.end()
        while i < len(pattern) and depth:
            if pattern[i] == "(":
                depth += 1
            elif pattern[i] == ")":
                depth -= 1
            i += 1
        if depth:
            raise ValueError(
                f"MATCH_RECOGNIZE: unbalanced PERMUTE( in {pattern!r}"
            )
        body = pattern[m.end() : i - 1]
        if _PERMUTE_KW.search(body):
            body = _expand_permute(body)  # innermost-first for nesting
        parts = _split_top(body)
        if not parts:
            raise ValueError("MATCH_RECOGNIZE: empty PERMUTE()")
        if len(parts) > 6:
            raise ValueError(
                f"MATCH_RECOGNIZE: PERMUTE of {len(parts)} elements expands "
                f"to {len(parts)}! branches — 6 is the supported maximum"
            )
        expansion = (
            "("
            + "|".join(
                " ".join(f"({p})" for p in o)
                for o in itertools.permutations(parts)
            )
            + ")"
        )
        pattern = pattern[: m.start()] + expansion + pattern[i:]


def _extract_exclusions(pattern: str) -> tuple[str, frozenset[str]]:
    """SQL:2016 pattern exclusion ``{- ... -}``: rows matched by the
    excluded region still participate in matching and in measures, but
    are OMITTED from ALL ROWS PER MATCH output. This implementation
    supports whole-symbol exclusion — every symbol inside an exclusion
    must appear ONLY inside exclusions (the common spelling,
    ``A {- B+ -} C``); a symbol used both inside and outside would need
    per-region row tracking in the NFA and raises loudly instead.
    Returns ``(pattern_with_exclusions_as_groups, excluded_symbols)``;
    nesting and unbalanced markers raise."""
    clean: list[str] = []
    excluded: set[str] = set()
    outside: set[str] = set()
    i, n, depth = 0, len(pattern), 0
    while i < n:
        if pattern.startswith("{-", i):
            if depth:
                raise ValueError(
                    f"MATCH_RECOGNIZE: nested {{- -}} exclusions in "
                    f"{pattern!r}"
                )
            depth += 1
            clean.append("(")
            i += 2
        elif pattern.startswith("-}", i):
            if not depth:
                raise ValueError(
                    f"MATCH_RECOGNIZE: '-}}' without '{{-' in {pattern!r}"
                )
            depth -= 1
            clean.append(")")
            i += 2
        else:
            # symbols are identifiers ([A-Za-z_]\w*) — a bare \w+ here
            # would also swallow the digits of a bounded quantifier
            # (A{2} {- B -} C spuriously collected '2' as a symbol and
            # tripped the inside/outside check below)
            m = re.match(r"[A-Za-z_]\w*", pattern[i:])
            if m:
                (excluded if depth else outside).add(m.group(0))
                clean.append(m.group(0))
                i += m.end()
            else:
                clean.append(pattern[i])
                i += 1
    if depth:
        raise ValueError(
            f"MATCH_RECOGNIZE: '{{-' without '-}}' in {pattern!r}"
        )
    both = excluded & outside
    if both:
        raise ValueError(
            f"MATCH_RECOGNIZE: symbols {sorted(both)} appear both inside "
            f"and outside {{- -}} exclusions — only whole-symbol "
            f"exclusion is supported (use a distinct symbol name for the "
            f"excluded occurrence)"
        )
    return "".join(clean), frozenset(excluded)


def compile_symbols(
    pattern: str, define: dict[str, str]
) -> tuple[list[str], dict[str, str], _Nfa]:
    """Resolve PATTERN symbols to the single-char NFA alphabet (a-z then
    A-Z — letters only; indexing past 'z' into NFA metacharacters like
    '|' would silently change the pattern's meaning) and compile the
    NFA. PERMUTE(A, B, ...) expands to the alternation of all orderings
    first. Shared by the batch operator and the streaming twin."""
    alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    pattern = _expand_permute(pattern)
    # identifiers only ([A-Za-z_]\w*): a bare \w+ would collect the
    # digits of a bounded quantifier (A{2}) as phantom symbol names
    names = list(dict.fromkeys(re.findall(r"[A-Za-z_]\w*", pattern)))
    if not names:
        raise ValueError(f"MATCH_RECOGNIZE: empty PATTERN {pattern!r}")
    if len(names) > len(alphabet):
        raise ValueError(
            f"MATCH_RECOGNIZE: at most {len(alphabet)} distinct symbols "
            f"supported, PATTERN has {len(names)}"
        )
    for s in define:
        if s not in names:
            raise ValueError(f"MATCH_RECOGNIZE: DEFINE of unknown symbol {s!r}")
    sym_chars = {s: alphabet[i] for i, s in enumerate(names)}
    char_pattern = re.sub(
        r"[A-Za-z_]\w*", lambda m: sym_chars[m.group(0)], pattern
    ).replace(" ", "")
    # Loud rejection of the silent-wrong class: an unrecognized
    # metacharacter (SQL:2016 ^/$ anchors, character classes, '.')
    # used to compile to a LITERAL char transition that no classified
    # row can ever produce, so the pattern silently matched nothing.
    # (Reluctant quantifiers — *?, +?, ??, {n,m}? — pass: the SQL:2016
    # preference order makes them well-defined, and compile_pattern
    # encodes them as inverted edge priority.)
    bad = sorted(set(re.sub(r"[A-Za-z0-9(){}|*+?,]", "", char_pattern)))
    if bad:
        raise ValueError(
            f"MATCH_RECOGNIZE: unsupported PATTERN metacharacters "
            f"{bad} in {pattern!r} (supported: symbols, ( ) | * + ?, "
            f"bounded quantifiers {{n}}/{{n,m}}, PERMUTE, {{- -}} "
            f"exclusions, and TOP-LEVEL ^/$ partition anchors in the "
            f"batch operator; nested anchors, character classes, and "
            f"streaming anchors are not)"
        )
    return names, sym_chars, compile_pattern(char_pattern)


_NAV = re.compile(r"\b(PREV|NEXT)\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)", re.I)

_ORDER_DIR = re.compile(r"^(.*?)\s+(ASC|DESC)$", re.IGNORECASE)


def _parse_order_keys(order_by: list[str]) -> tuple[list[str], list[bool]]:
    """Split ``col [ASC|DESC]`` order items into (columns, ascending
    flags) — the SQL spelling passes direction suffixes through and the
    operator API may too."""
    cols: list[str] = []
    asc: list[bool] = []
    for item in order_by:
        item = item.strip()
        m = _ORDER_DIR.match(item)
        if m:
            cols.append(m.group(1).strip())
            asc.append(m.group(2).upper() == "ASC")
        else:
            cols.append(item)
            asc.append(True)
    return cols, asc


def _physical_nav_rewrite(
    df: DataFrame,
    define: dict[str, str],
    partition_by: list[str] | None,
    order_by: list[str] | None,
) -> tuple[dict[str, str], DataFrame, list[str]]:
    """Rewrite physical PREV(col[, n])/NEXT(col[, n]) atoms in DEFINE
    predicates to lag/lead helper columns; returns (rewritten define,
    df with helper columns attached, helper column names to drop)."""
    nav_cols: dict[str, Column] = {}

    def _rewrite_nav(pred_sql: str) -> str:
        def sub(m: re.Match) -> str:
            fn, col, off = m.group(1).upper(), m.group(2), int(m.group(3) or 1)
            if col not in df.columns:
                raise ValueError(
                    f"MATCH_RECOGNIZE: {fn}({col!r}) references an unknown "
                    f"column"
                )
            name = f"__nav_{fn.lower()}_{col}_{off}"
            if name not in nav_cols:
                ocols, oasc = _parse_order_keys(list(order_by or []))
                w = Window.partitionBy(*(partition_by or [])).orderBy(
                    *(
                        F.col(c).asc() if a else F.col(c).desc()
                        for c, a in zip(ocols, oasc)
                    )
                )
                nav_cols[name] = (
                    F.lag(col, off).over(w)
                    if fn == "PREV"
                    else F.lead(col, off).over(w)
                )
            return name

        return _NAV.sub(sub, pred_sql)

    define = {s: _rewrite_nav(p) for s, p in define.items()}
    nav_df = df
    for name, colexpr in nav_cols.items():
        nav_df = nav_df.withColumn(name, colexpr)
    return define, nav_df, list(nav_cols)


def flag_list(values) -> list[bool]:
    """A flag column's values (an iterable of Python values: Arrow's
    ``to_pylist`` or a pandas Series) as bools, NULL as False."""
    return [v is True for v in values]


class _Columns(dict):
    """Column name -> a list of Python values, made by ``read(name)`` on
    first use, so a key converts only the columns that its scan and its
    measures read."""

    def __init__(self, read):
        super().__init__()
        self.read = read

    def __missing__(self, name):
        self[name] = values = self.read(name)
        return values


def build_truth(flags, compiled, cols, size):
    """The scanner's truth over one ordered partition: ``truth(j, pos,
    ch, tent)`` says whether row ``j`` of the attempt starting at
    ``pos`` can be consumed as symbol ``ch``. ``flags`` maps a
    vectorized symbol to its per-row booleans (NULL already False),
    ``compiled`` a navigation symbol to its mr_expr closure, which is
    evaluated with ``j`` tentatively appended to the thread's mapping
    ``tent`` (mr_expr's contract); any other symbol is undefined and
    always true. ``cols`` holds the columns the closures read."""
    ctx = mr_expr.MatchCtx(cols, 0, 0, size, {})

    def truth(j, pos, ch, tent):
        rows = flags.get(ch)
        if rows is not None:
            return rows[j]
        pred = compiled.get(ch)
        if pred is None:
            return True
        ctx.j, ctx.pos = j, pos
        ctx.tent = {**tent, ch: mr_expr.ImmutableRows(j, tent.get(ch))}
        return bool(pred(ctx))

    return truth


def _sort_indices(table, order_cols, order_asc):
    """The order of one key's rows (an Arrow table) by the ORDER BY
    keys: a stable sort with NULL keys last in both directions. A NaN
    key sorts after every number and before NULL, in both directions."""
    import pyarrow.compute as pc

    return pc.sort_indices(
        table,
        sort_keys=[
            (c, "ascending" if a else "descending")
            for c, a in zip(order_cols, order_asc)
        ],
        null_placement="at_end",
    )


def _parse_within(spec):
    """WITHIN budget: an interval string ("8 HOUR", "INTERVAL '30'
    MINUTE") -> a ``datetime.timedelta`` for timestamp and date order
    keys, or a plain number for numeric order keys."""
    from blazingsql_spark.operators.mr_expr import _UNITS

    if isinstance(spec, (int, float)) and not isinstance(spec, bool):
        return spec
    txt = str(spec).strip()
    m = re.match(
        r"^(?:INTERVAL\s+)?'?(\d+(?:\.\d+)?)'?\s+(\w+)$", txt, re.IGNORECASE
    )
    if m:
        unit = m.group(2).upper()
        base = unit[:-1] if unit.endswith("S") and unit not in _UNITS else unit
        if base in _UNITS:
            return datetime.timedelta(**{_UNITS[base]: float(m.group(1))})
    try:
        return float(txt)
    except ValueError:
        raise ValueError(
            f"MATCH_RECOGNIZE: unsupported WITHIN {spec!r} (use an "
            f"interval like \"8 HOUR\" / \"INTERVAL '30' MINUTE\" or a "
            f"plain number for numeric order keys)"
        ) from None


_PHYS_NAV = re.compile(r"\b(?:PREV|NEXT)\s*\(", re.IGNORECASE)
_SKIP = re.compile(
    r"^\s*(?:PAST\s+LAST\s+ROW|(?P<next>TO\s+NEXT\s+ROW)"
    r"|TO\s+(?P<fl>FIRST|LAST)\s+(?P<sym>\w+))\s*$",
    re.IGNORECASE,
)


class Recognizer(NamedTuple):
    """A compiled MATCH_RECOGNIZE front end (see :func:`compile_recognizer`)."""

    sym_chars: dict[str, str]  # symbol -> its NFA char
    symbols: dict[str, str]  # sym_chars plus SUBSET unions -> member chars
    nfa: _Nfa
    anchor_start: bool
    anchor_end: bool
    excluded_chars: frozenset  # chars of {- -} excluded symbols
    skip: tuple  # the AFTER MATCH mode, as scan_rows takes it
    within: object  # the WITHIN bound: None, a number or a timedelta
    flag_define: dict[str, str]  # symbol -> Spark SQL of a flag DEFINE
    flag_cols: dict[str, str]  # char -> its flag column, __p_<i>
    compiled: dict[str, object]  # char -> mr_expr closure
    used_cols: set[str]  # the columns the closures read
    read_chars: frozenset  # the chars whose mapping the closures read

    def classify(self, frame: DataFrame, partition_by=(), order_by=()):
        """``frame`` with one boolean flag column per flag DEFINE, all in
        one codegen projection (physical PREV/NEXT rewritten to lag/lead
        over ``partition_by``/``order_by`` first)."""
        vdef, out, nav_names = _physical_nav_rewrite(
            frame, self.flag_define, partition_by, order_by
        )
        for s, p in vdef.items():
            out = out.withColumn(self.flag_cols[self.sym_chars[s]], F.expr(p))
        return out.drop(*nav_names)


def compile_recognizer(
    schema: T.StructType,
    pattern: str,
    define: dict[str, str],
    after_match: str = "PAST LAST ROW",
    subset: dict[str, list[str]] | None = None,
    within: str | int | float | None = None,
    order_key: str | None = None,
    stream: bool = False,
    _force_in_automaton: bool = False,
) -> Recognizer:
    """The one front end of :func:`match_recognize` and of the streaming
    twin ``streaming.patterns.match_recognize_stream``: PATTERN (anchors
    stripped, PERMUTE expanded, ``{- -}`` exclusions stripped) to symbols
    and the NFA; SUBSET unions; AFTER MATCH SKIP; WITHIN, parsed and
    checked against the type of ``order_key``; and DEFINE, split into
    vectorized flag columns and symbol-relative mr_expr closures.

    ``stream=True`` adds what a stream cannot do: ^/$ anchors and
    PREV/NEXT navigation raise. Schema checks need no Spark job."""
    pattern, anchor_start, anchor_end = _strip_anchors(pattern)
    if stream and (anchor_start or anchor_end):
        # loud, not the generic metacharacter error: the batch operator
        # supports ^/$, so a migrating user deserves the real reason
        raise ValueError(
            "MATCH_RECOGNIZE: ^/$ partition anchors are not supported on "
            "streams — $ needs the partition's LAST row, which an "
            "unbounded stream never has (a $-anchored match could never "
            "be committed: any future row invalidates it), and a "
            "^-anchored stream degenerates to one attempt at the key's "
            "first-ever row, which is a bounded-prefix question. Run "
            "the batch operator over a bounded snapshot instead."
        )
    # expand PERMUTE first (so excluded PERMUTE arguments resolve to
    # symbols), then strip the {- -} markers: the excluded region still
    # matches and feeds measures; only ALL ROWS output drops its rows
    pattern, excluded_syms = _extract_exclusions(_expand_permute(pattern))
    names, sym_chars, nfa = compile_symbols(pattern, define)
    # symbols is the lookup every symbol-name surface (MEASURES, DEFINE
    # navigation, SKIP TO) resolves through
    symbols = dict(sym_chars)
    for uname, members in (subset or {}).items():
        if uname in sym_chars:
            raise ValueError(
                f"MATCH_RECOGNIZE: SUBSET name {uname!r} collides with a "
                f"pattern symbol"
            )
        if not members:
            raise ValueError(f"MATCH_RECOGNIZE: SUBSET {uname!r} is empty")
        for m_ in members:
            if m_ not in sym_chars:
                raise ValueError(
                    f"MATCH_RECOGNIZE: SUBSET {uname!r} references unknown "
                    f"pattern symbol {m_!r}"
                )
        symbols[uname] = "".join(dict.fromkeys(sym_chars[m_] for m_ in members))

    m_skip = _SKIP.match(after_match)
    if not m_skip:
        raise ValueError(
            f"MATCH_RECOGNIZE: unsupported {'streaming ' if stream else ''}"
            f"AFTER MATCH SKIP {after_match!r} (supported: PAST LAST ROW, "
            f"TO NEXT ROW, TO FIRST <sym>, TO LAST <sym>)"
        )
    if m_skip.group("fl"):
        sym = m_skip.group("sym")
        if sym not in symbols:
            raise ValueError(
                f"MATCH_RECOGNIZE: AFTER MATCH SKIP TO unknown symbol {sym!r}"
            )
        skip = (m_skip.group("fl").lower(), symbols[sym])
    else:
        skip = ("next",) if m_skip.group("next") else _SKIP_PAST

    within_dur = None
    if within is not None:
        within_dur = _parse_within(within)
        key_t = schema[order_key].dataType
        is_time = isinstance(
            key_t, (T.TimestampType, T.TimestampNTZType, T.DateType)
        )
        if is_time != isinstance(within_dur, datetime.timedelta):
            raise ValueError(
                f"MATCH_RECOGNIZE: WITHIN {within!r} does not fit the order "
                f"key {order_key!r} of type {key_t.simpleString()} — use an "
                f"INTERVAL for timestamp/date keys and a plain number for "
                f"numeric keys"
            )

    if stream:
        for s, p in define.items():
            if _PHYS_NAV.search(mask_literals(p)):
                raise ValueError(
                    "MATCH_RECOGNIZE: PREV()/NEXT() navigation is not "
                    "supported on streams (physical offsets can reach rows "
                    "outside the in-flight attempt, which bounded state no "
                    f"longer has) — symbol {s!r}: {p!r}. FIRST/LAST and "
                    "bare SYM.col navigation are supported."
                )
    # Symbols with symbol-relative navigation compile to mr_expr closures
    # the scanner evaluates per thread; every other DEFINE becomes one
    # boolean flag column (see Recognizer.classify).
    compiled: dict[str, object] = {}
    used_cols: set[str] = set()
    read_chars: frozenset[str] = frozenset()
    flag_define: dict[str, str] = {}
    for s, p in define.items():
        if _force_in_automaton or mr_expr.is_symbol_relative(p, list(symbols)):
            closure, used = mr_expr.compile_predicate(
                p, schema.fieldNames(), symbols
            )
            compiled[sym_chars[s]] = closure
            used_cols |= used
            read_chars |= closure.used_sym_chars
        else:
            flag_define[s] = p
    return Recognizer(
        sym_chars, symbols, nfa, anchor_start, anchor_end,
        frozenset(sym_chars[s] for s in excluded_syms if s in sym_chars),
        skip, within_dur, flag_define,
        # keyed by symbol index, not char: Spark resolves columns
        # case-insensitively, so __p_a and __p_A would collide for
        # patterns with >26 distinct symbols
        {sym_chars[s]: f"__p_{names.index(s)}" for s in flag_define},
        compiled, used_cols, read_chars,
    )


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    measures: list[tuple[str, str]],
    pattern: str,
    define: dict[str, str] | None = None,
    all_rows: bool = False,
    unmatched: bool = False,
    after_match: str = "PAST LAST ROW",
    subset: dict[str, list[str]] | None = None,
    within: str | int | float | None = None,
    _force_in_automaton: bool = False,
) -> DataFrame:
    """Row-pattern matching (see module docstring for the supported
    surface). ``measures`` is [(expr, alias)]; ``define`` maps symbol ->
    Spark SQL boolean (ordered; symbols missing from it default to
    always-true and classify LAST). ``all_rows=False`` is ONE ROW PER
    MATCH (partition keys + measures); ``all_rows=True`` is ALL ROWS
    PER MATCH — every matched input row is emitted with its full
    original columns, unprefixed measures RUNNING per SQL:2016 (FINAL
    opts into the whole-match constant), and CLASSIFIER() per-row.
    ``{- ... -}`` exclusions in PATTERN omit the excluded region's rows
    from ALL ROWS output (matching and measures still see them;
    whole-symbol exclusions only — see :func:`_extract_exclusions`).
    ``unmatched=True`` is SQL:2016 ``ALL ROWS PER MATCH WITH UNMATCHED
    ROWS``: input rows belonging to NO match are emitted too, with
    every measure NULL — requires ``all_rows`` and is incompatible with
    exclusions (the standard's restriction: an excluded row is matched,
    so its omission would be indistinguishable from unmatched).

    ``subset`` declares SQL:2016 union pattern variables
    (``SUBSET W = (A, B)``): a union name ranges over every row its
    member symbols mapped, and works anywhere a symbol name does —
    MEASURES (COUNT(W.*), FIRST/LAST/SUM/AVG/MIN/MAX(W.col)), DEFINE
    navigation (FIRST(W.ts)), and AFTER MATCH SKIP TO FIRST/LAST W.
    Union names never classify rows (they are read-only views over the
    mapping).

    ``within`` bounds the match DURATION (the Flink extension): every
    row of a match must have its first ORDER BY key within ``within``
    of the attempt's first row — an interval string ('8 HOUR',
    "INTERVAL '30' MINUTE") against timestamp keys or a plain number
    against numeric keys. Enforced INSIDE the scan (a row beyond the
    budget ends the attempt; the accepted prefix still emits), so
    arbitrary vectorized Spark-SQL DEFINEs keep working — unlike
    rewriting the bound into each symbol's predicate, which would force
    every DEFINE into the restricted navigation grammar.

    ``after_match`` selects the SQL:2016 AFTER MATCH SKIP mode: 'PAST
    LAST ROW' (default, non-overlapping), 'TO NEXT ROW' (the scan
    resumes one row after the match START — overlapping matches), or
    'TO FIRST <sym>' / 'TO LAST <sym>' (resume AT the first/last row
    the match mapped to that symbol; the SQL:2016 runtime errors —
    symbol unmapped, or resume at the match's own first row — raise).

    DEFINEs with symbol-relative navigation (``PREV(A.price)``,
    ``FIRST(V.ts)``, bare ``A.price``) are evaluated per match ATTEMPT
    and per thread (running semantics), so a failed attempt restarts
    cleanly at the next row — worst case O(rows²) per partition on
    degenerate inputs, the same bound as any backtracking row-pattern
    scan; typical inputs stay O(rows) because attempts fail on their
    first row. ``_force_in_automaton`` is a test hook: it compiles
    nav-free DEFINEs (which must then fit mr_expr's grammar) to mr_expr
    closures too, to property-check them against the Spark SQL flag
    columns."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if unmatched and not all_rows:
        raise ValueError(
            "MATCH_RECOGNIZE: WITH UNMATCHED ROWS requires ALL ROWS PER "
            "MATCH"
        )
    order_cols, order_asc = _parse_order_keys(list(order_by))
    if within is not None and not order_asc[0]:
        raise ValueError(
            "MATCH_RECOGNIZE: WITHIN requires the first ORDER BY key "
            "ascending (a match duration against a descending key is "
            "ill-defined)"
        )
    rec = compile_recognizer(
        df.schema, pattern, dict(define or {}), after_match, subset, within,
        next(iter(order_cols), None), _force_in_automaton=_force_in_automaton,
    )
    if unmatched and rec.excluded_chars:
        raise ValueError(
            "MATCH_RECOGNIZE: {- -} exclusions cannot be combined with "
            "WITH UNMATCHED ROWS (SQL:2016 restriction — an excluded row "
            "is matched, so omitting it would be indistinguishable from "
            "an unmatched row)"
        )
    aux_cols = list(rec.flag_cols.values())

    # partition-context holder for PREV/NEXT measures (physical
    # navigation may leave the match): run() keeps cols/lo current
    part_ctx: dict = {"cols": None, "lo": 0}
    parsed = [
        _parse_measure(e, a, rec.symbols, part_ctx) for e, a in measures
    ]
    in_schema = df.schema
    shadowed = set(in_schema.fieldNames()) if all_rows else set(partition_by)
    clashes = {m_.alias for m_ in parsed} & shadowed
    if clashes:
        raise ValueError(
            f"MATCH_RECOGNIZE: measure aliases shadow "
            f"{'input' if all_rows else 'partition'} columns: "
            f"{sorted(clashes)}"
        )
    passed = in_schema.fieldNames() if all_rows else list(partition_by)
    out_schema = T.StructType(
        [in_schema[c] for c in passed]
        + [T.StructField(m_.alias, m_.ty(in_schema)) for m_ in parsed]
    )
    out_type = to_arrow_schema(out_schema)

    def run(table):
        """One key's rows, an Arrow table, to its output rows (or None).
        Only the columns that the scan and the measures read become
        Python values; passed-through columns are a ``take`` of the
        key's own Arrow data."""
        import pyarrow as pa

        order = _sort_indices(table, order_cols, order_asc)
        part = _Columns(lambda c: table.column(c).take(order).to_pylist())
        part_ctx["cols"] = part
        size = table.num_rows
        truth = build_truth(
            {ch: flag_list(part[cn]) for ch, cn in rec.flag_cols.items()},
            rec.compiled, part, size,
        )
        bound = (
            (part[order_cols[0]], rec.within)
            if rec.within is not None
            else None
        )
        spans, _ = scan_rows(
            rec.nfa, truth, size, skip=rec.skip, within=bound,
            anchor_start=rec.anchor_start, anchor_end=rec.anchor_end,
            read_chars=rec.read_chars,
        )
        # rows: the sorted positions each output row passes through
        # (ONE ROW PER MATCH passes only the key, so any row of the key)
        rows, vals = [], [[] for _ in parsed]
        for n, (lo, hi, scodes) in enumerate(spans, start=1):
            part_ctx["lo"] = lo
            span = _Columns(lambda c, _lo=lo, _hi=hi: part[c][_lo:_hi])
            if not all_rows:
                # ONE ROW PER MATCH: running == final (last-row evaluation)
                rows.append(lo)
                for out, m_ in zip(vals, parsed):
                    out.append(m_.ev(span, scodes, n))
                continue
            # {- -}: excluded rows fed the match and the measures; they
            # just never reach the output
            keep = [c not in rec.excluded_chars for c in scodes]
            rows += [j for j, k in zip(range(lo, hi), keep) if k]
            for out, m_ in zip(vals, parsed):
                # RUNNING — the SQL:2016 DEFAULT for unprefixed measures
                # under ALL ROWS PER MATCH: run_ev evaluates every prefix
                # in ONE O(span) pass; an explicit FINAL is the constant
                # whole-match value
                col = (
                    [m_.ev(span, scodes, n)] * len(scodes)
                    if m_.final
                    else m_.run_ev(span, scodes, n)
                )
                out += [v for v, k in zip(col, keep) if k]
        if unmatched:
            # WITH UNMATCHED ROWS: rows in NO match come back with every
            # measure NULL (a TO NEXT ROW overlap marks a row matched if
            # ANY match covered it)
            hit = [False] * size
            for lo, hi, _ in spans:
                hit[lo:hi] = [True] * (hi - lo)
            miss = [j for j, h in enumerate(hit) if not h]
            rows += miss
            for out in vals:
                out += [None] * len(miss)
        if not rows:
            return None
        taken = table.select(passed).take(order.take(pa.array(rows, pa.int64())))
        return pa.Table.from_arrays(
            [
                pa.array(v, f.type) if isinstance(v, list) else v.cast(f.type)
                for v, f in zip([*taken.columns, *vals], out_type)
            ],
            schema=out_type,
        )

    # The matcher is one Python stage over a key-hashed, key-sorted
    # input: each task streams its partition and calls run() once per
    # key. Its width follows the size of what it ships (see
    # _PY_TASK_BYTES) and is pinned by an explicit repartition-by-num,
    # which AQE's bytes-based coalescing leaves alone. The repartition
    # sits under the classification, so a PREV/NEXT window over the same
    # key rides the same exchange.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # ONE ROW PER MATCH emits keys and measures only, so the Python stage
    # gets just what run() reads: the keys, ORDER BY keys, flags,
    # navigation-DEFINE columns and every column a measure names (a
    # superset: any identifier in its text). Column pruning then reaches
    # the scan. ALL ROWS PER MATCH ships every column.
    named = {w for e, _ in measures for w in re.findall(r"\w+", e)}
    keep = {
        c.lower()
        for c in (*partition_by, *order_cols, *aux_cols, *rec.used_cols, *named)
    }

    def shipped(frame: DataFrame) -> DataFrame:
        if all_rows:
            return frame
        return frame.select(*[c for c in frame.columns if c.lower() in keep])

    def classify(frame: DataFrame) -> DataFrame:
        return rec.classify(frame, partition_by, order_by)

    if partition_by:
        # sized on the bytes that reach Python, not the classified input
        width = _python_width(shipped(classify(df)), n_part)
        coded = classify(df.repartition(width, *partition_by))
        coded = coded.sortWithinPartitions(*partition_by)
    else:
        coded = classify(df.repartition(1))
    coded = shipped(coded)
    return coded.mapInArrow(_per_key_kernel(run, list(partition_by)), out_schema)


# Input bytes (Catalyst's estimate of the frame the matcher receives:
# under ONE ROW PER MATCH the projected columns only) per matcher task.
# A Python task has a fixed cost of about 0.27 s CPU, measured on
# events_match_recognize: most of it is PySpark's per-task worker setup
# (setup_spark_files calls importlib.invalidate_caches(), which re-reads
# 16 zip directories), the rest Arrow framing. Matching costs about
# 0.12 s per 230 KB of classified events with every column (sf0.01, 150
# keys), so a task pays its fixed cost again in matching only past about
# 500 KB of such input. 384 KB keeps each task's matching near its fixed
# cost: the sf0.01 events rows run in one task (229 KB with every
# column, 97 KB as events_match_recognize ships it), and sf0.1 (2.12 MB
# with every column, 895 KB shipped) sizes to 6 tasks and to 3, at most
# spark.sql.shuffle.partitions.
_PY_TASK_BYTES = 384 << 10


def _python_width(coded: DataFrame, n_part: int) -> int:
    """Task count of the matcher stage: Catalyst's size estimate of its
    input over _PY_TASK_BYTES, capped at ``n_part``. The estimate comes
    from the optimized plan's statistics and runs no job; an input of
    unknown size reports Long.MaxValue and gets the cap."""
    # a Scala BigInt: py4j hands back an int or a proxy whose str() is
    # the decimal value
    size = int(
        str(coded._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    return max(1, min(n_part, -(-size // _PY_TASK_BYTES)))


def _key_starts(batch, keys):
    """Positions where a new key starts in the Arrow ``batch`` (or
    table), which is sorted by ``keys``, position 0 included. Keys
    compare as Spark's groupBy compares them: NULL equals only NULL,
    NaN equals NaN and -0.0 equals 0.0."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for k in keys:
        col = batch.column(k)
        nxt, prev = col.slice(1), col.slice(0, n - 1)
        try:
            ne = pc.fill_null(pc.not_equal(nxt, prev), False)
        except pa.ArrowNotImplementedError:  # nested keys: whole values
            ne = pa.array(
                [
                    _group_value(x) != _group_value(y)
                    for x, y in zip(nxt.to_pylist(), prev.to_pylist())
                ],
                pa.bool_(),
            )
        if pa.types.is_floating(col.type):
            both_nan = pc.and_(pc.is_nan(nxt), pc.is_nan(prev))
            ne = pc.and_not(ne, pc.fill_null(both_nan, False))
        ne = pc.or_(ne, pc.not_equal(pc.is_null(nxt), pc.is_null(prev)))
        change |= ne.to_numpy(zero_copy_only=False)
    return np.concatenate(([0], np.flatnonzero(change) + 1))


_NAN = object()  # stands for every NaN inside a nested key


def _group_value(v):
    """A nested key's Python value with each NaN replaced by _NAN, so
    that == compares it as groupBy does (-0.0 == 0.0 already holds)."""
    if isinstance(v, float) and v != v:
        return _NAN
    if isinstance(v, list):
        return [_group_value(x) for x in v]
    if isinstance(v, dict):
        return {f: _group_value(x) for f, x in v.items()}
    return v


def _per_key_kernel(run, keys):
    """The matcher stage as a ``mapInArrow`` function: it streams one
    key-sorted partition's Arrow batches, splits them into keys on the
    Arrow data and calls ``run(table)`` with each complete key's rows,
    carrying the last key of a batch into the next, so memory holds one
    batch plus one key. ``run`` returns the key's output rows as an
    Arrow table, or None; the tables of one input batch leave as one
    batch."""

    def kernel(batches):
        import pyarrow as pa

        def run_keys(table, starts):
            return [
                run(table.slice(a, b - a))
                for a, b in zip(starts, [*starts[1:], table.num_rows])
            ]

        def emit(tables):
            tables = [t for t in tables if t is not None]
            if tables:
                yield from pa.concat_tables(tables).combine_chunks().to_batches()

        carry = []  # the Arrow rows of the batch-spanning key seen so far
        for batch in batches:
            if not batch.num_rows:
                continue
            starts = _key_starts(batch, keys)
            if carry:
                last = carry[-1].slice(carry[-1].num_rows - 1)
                edge = pa.Table.from_batches([last, batch.slice(0, 1)])
                if len(_key_starts(edge, keys)) == 1:  # same key goes on
                    end = starts[1] if len(starts) > 1 else batch.num_rows
                    carry.append(batch.slice(0, end))
                    starts = starts[1:]
                    if not len(starts):
                        continue
            frames = run_keys(pa.Table.from_batches(carry), [0]) if carry else []
            if len(starts) > 1:
                done = batch.slice(starts[0], starts[-1] - starts[0])
                frames += run_keys(
                    pa.Table.from_batches([done]), starts[:-1] - starts[0]
                )
            carry = [batch.slice(starts[-1])]
            yield from emit(frames)
        if carry:
            yield from emit(run_keys(pa.Table.from_batches(carry), [0]))

    return kernel


# ---------------------------------------------------------------------------
# SQL spelling: rewrite `<table> MATCH_RECOGNIZE ( ... ) [AS alias]` into a
# temp view produced by the operator, then hand the remaining SQL to Spark.
# ---------------------------------------------------------------------------

_MR_KW = re.compile(r"\bMATCH_RECOGNIZE\s*\(", re.IGNORECASE)
_CLAUSE = re.compile(
    r"PARTITION\s+BY\s+(?P<part>.+?)\s+"
    r"ORDER\s+BY\s+(?P<order>.+?)\s+"
    # MEASURES is optional per SQL:2016: without it ONE ROW PER MATCH
    # emits the partition keys only, ALL ROWS the original columns
    r"(?:MEASURES\s+(?P<meas>.+?)\s+)?"
    r"(?:(?P<rows>ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH"
    r"(?:\s+(?P<emis>WITH\s+UNMATCHED\s+ROWS|SHOW\s+EMPTY\s+MATCHES"
    r"|OMIT\s+EMPTY\s+MATCHES))?\s+)?"
    r"(?:AFTER\s+MATCH\s+SKIP\s+(?P<skip>PAST\s+LAST\s+ROW"
    r"|TO\s+NEXT\s+ROW|TO\s+(?:FIRST|LAST)\s+\w+)\s+)?"
    r"PATTERN\s*\(\s*(?P<pat>.+?)\s*\)"
    # matched against the MASKED body: a quoted magnitude ('8') has its
    # contents blanked, so accept '...' wholesale; _orig() recovers it
    r"(?:\s+WITHIN\s+(?P<win>(?:INTERVAL\s+)?(?:'[^']*'|[\d.]+)\s+\w+"
    r"|[\d.]+))?"
    r"(?:\s+SUBSET\s+(?P<sub>.+?))?"
    r"(?:\s+DEFINE\s+(?P<def>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on `sep` outside parentheses AND string literals."""
    masked = mask_literals(s)
    out, depth, start = [], 0, 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            piece = s[start:i].strip()
            if piece:
                out.append(piece)
            start = i + 1
    tail = s[start:].strip()
    if tail:
        out.append(tail)
    return out


_SQL_FACTOR_KEYWORDS = frozenset(
    {
        "FROM", "JOIN", "ON", "WHERE", "AND", "OR", "SELECT", "UNION",
        "ALL", "CROSS", "INNER", "LEFT", "RIGHT", "FULL", "OUTER",
        "LATERAL", "USING", "EXCEPT", "INTERSECT", "BY", "AS",
    }
)


def _locate_factor(masked: str, query: str, kw_start: int):
    """Scan LEFT from a MATCH_RECOGNIZE keyword for its table factor.

    Accepts the standard shapes: a (possibly qualified) table/view name
    or a parenthesized derived table `(SELECT …)`, each optionally
    followed by `[AS] alias`. Returns ``(factor_start, source, alias)``
    where source is ``('table', name)`` or ``('subquery', sql_text)``
    and alias is the consumed alias or None — the rewriter re-emits it
    after the replacement view so outer `alias.col` references keep
    binding."""

    def skip_ws(p: int) -> int:
        while p > 0 and masked[p - 1].isspace():
            p -= 1
        return p

    def read_ident(p: int) -> tuple[int, str]:
        q = p
        while q > 0 and (masked[q - 1].isalnum() or masked[q - 1] in "_."):
            q -= 1
        return q, masked[q:p]

    def scan_subquery(close: int, alias):
        depth, q = 1, close - 1
        while q >= 0 and depth:
            if masked[q] == ")":
                depth += 1
            elif masked[q] == "(":
                depth -= 1
            q -= 1
        if depth:
            raise ValueError(
                "MATCH_RECOGNIZE: unbalanced parentheses in the derived-"
                "table factor before the clause"
            )
        open_ = q + 1
        inner = query[open_ + 1 : close].strip()
        if not inner:
            raise ValueError(
                "MATCH_RECOGNIZE: empty derived-table factor before the "
                "clause"
            )
        return open_, ("subquery", inner), alias

    p = skip_ws(kw_start)
    if p > 0 and masked[p - 1] == ")":
        return scan_subquery(p - 1, None)
    q, ident = read_ident(p)
    if not ident:
        raise ValueError(
            "MATCH_RECOGNIZE: expected a table name or (SELECT …) "
            "derived table before the clause"
        )
    r = skip_ws(q)
    had_as = False
    r2, ident2 = read_ident(r)
    if ident2.upper() == "AS":
        had_as = True
        r = skip_ws(r2)
        r2, ident2 = read_ident(r)
    if r > 0 and masked[r - 1] == ")":
        # `(SELECT …) [AS] alias MATCH_RECOGNIZE` — ident was the alias
        return scan_subquery(r - 1, ident)
    if had_as or (
        ident2 and ident2.upper() not in _SQL_FACTOR_KEYWORDS
    ):
        # `<table> [AS] <alias> MATCH_RECOGNIZE` — ident was the alias,
        # ident2 the (possibly qualified) table name. Without this,
        # `FROM events AS e MATCH_RECOGNIZE (…)` would look up table
        # 'e' — or silently bind to an unrelated view named 'e'.
        return r2, ("table", ident2), ident
    return q, ("table", ident), None


def _leading_ctes(
    masked: str, query: str
) -> tuple[bool, list[tuple[str, str, int]]]:
    """Parse a LEADING top-level ``WITH`` clause (masked-scan, so quoted
    text never confuses it). Returns ``(recursive, items)`` where each
    item is ``(name, full item text 'name [(cols)] AS (body)', end)`` —
    ``end`` the offset just past the item in ``query``. Empty when the
    query does not start with WITH or the clause is malformed (callers
    then skip the prefix rather than guess)."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", masked, re.IGNORECASE)
    if not m:
        return False, []
    recursive = bool(m.group(1))
    out: list[tuple[str, str, int]] = []
    i, n = m.end(), len(masked)
    while True:
        mm = re.match(
            r"(\s*)(\w+)\s*(\([^()]*\))?\s*AS\s*\(", masked[i:], re.IGNORECASE
        )
        if not mm:
            return False, []
        item_start = i + len(mm.group(1))
        j = i + mm.end()  # just past the CTE body's opening paren
        depth = 1
        while j < n and depth:
            if masked[j] == "(":
                depth += 1
            elif masked[j] == ")":
                depth -= 1
            j += 1
        if depth:
            return False, []
        out.append((mm.group(2), query[item_start:j], j))
        sep = re.match(r"\s*,", masked[j:])
        if sep is None:
            return recursive, out
        i = j + sep.end()


def _prepend_visible_ctes(
    masked: str, query: str, factor_start: int, sub_sql: str
) -> str:
    """Make the outer query's leading CTEs visible to a derived-table
    MATCH_RECOGNIZE factor: ``spark.sql`` plans the factor's subquery
    standalone, so ``WITH c AS (...) SELECT ... FROM (SELECT * FROM c)
    MATCH_RECOGNIZE (...)`` would otherwise fail analysis on ``c``.
    Textually prepends the CTEs whose definition ends before the factor
    (SQL scoping: a CTE body sees only earlier CTEs), merging with the
    subquery's own WITH clause when present; inner names shadow outer
    ones (the duplicate outer CTE is dropped from the prefix)."""
    recursive, items = _leading_ctes(masked, query)
    visible = [(nm, txt) for nm, txt, end in items if end <= factor_start]
    if not visible:
        return sub_sql
    sub_masked = mask_literals(sub_sql)
    inner = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sub_masked, re.IGNORECASE)
    if inner:
        _, inner_items = _leading_ctes(sub_masked, sub_sql)
        inner_names = {nm.lower() for nm, _txt, _end in inner_items}
        visible = [
            (nm, txt) for nm, txt in visible if nm.lower() not in inner_names
        ]
        if not visible:
            return sub_sql
        recursive = recursive or bool(inner.group(1))
        rest = sub_sql[inner.end() :]
    else:
        rest = None
    kw = "WITH RECURSIVE " if recursive else "WITH "
    prefix = kw + ", ".join(txt for _nm, txt in visible)
    if rest is not None:
        return prefix + ", " + rest
    return prefix + " " + sub_sql


_AS_KW = re.compile(r"\sAS\s", re.IGNORECASE)


def _split_as(item: str) -> tuple[str, str]:
    """Split `expr AS alias` on the LAST top-level AS keyword (outside
    parens and literals); returns ('', '') when no AS is present."""
    masked = mask_literals(item)
    last = None
    for m in _AS_KW.finditer(masked):
        d = masked[: m.start()].count("(") - masked[: m.start()].count(")")
        if d == 0:
            last = m
    if last is None:
        return "", ""
    return item[: last.start()].strip(), item[last.end() :].strip()


def rewrite_match_recognize(spark, query: str) -> str:
    """Replace every `<factor> MATCH_RECOGNIZE (...)` table factor in
    ``query`` with a temp view computed by :func:`match_recognize`, and
    return the rewritten SQL (a no-op when the spelling is absent). The
    factor may be a (qualified) table/view name OR a derived table
    `(SELECT …) [AS alias]` — the subquery is planned with spark.sql
    and fed to the operator directly. Nested spellings compose: an
    inner MATCH_RECOGNIZE inside the derived table is rewritten first
    (innermost keyword found first), then the outer pass sees its view.
    String literals are masked before scanning, so quoted text
    containing commas, AS, or even 'MATCH_RECOGNIZE (' never confuses
    the parse. View names carry a per-call uuid so concurrent
    Context.sql calls on one session cannot bind to each other's
    rewrites."""
    import uuid

    while True:
        masked = mask_literals(query)
        head = _MR_KW.search(masked)
        if head is None:
            return query
        # NB: named factor_alias, not alias — the measures loop below
        # reuses `alias` for each measure's AS name
        factor_start, src, factor_alias = _locate_factor(
            masked, query, head.start()
        )
        # find the balanced closing paren of the MATCH_RECOGNIZE body
        depth, i = 1, head.end()
        while i < len(masked) and depth:
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
            i += 1
        if depth:
            raise ValueError("MATCH_RECOGNIZE: unbalanced parentheses")
        body = query[head.end() : i - 1].strip()
        m = _CLAUSE.match(mask_literals(body))
        if m is None:
            raise ValueError(
                "MATCH_RECOGNIZE: expected PARTITION BY … ORDER BY … "
                "MEASURES … PATTERN (…) [DEFINE …] (got: "
                f"{body[:120]!r}…)"
            )

        def _orig(grp: str) -> str | None:
            # map the masked match's span back onto the unmasked body
            return body[m.start(grp) : m.end(grp)] if m.group(grp) else None

        measures = []
        for item in _split_top(_orig("meas") or ""):
            expr, alias = _split_as(item)
            if not expr:
                raise ValueError(
                    f"MATCH_RECOGNIZE: measure needs an AS alias: {item!r}"
                )
            measures.append((expr, alias))
        subset = {}
        if m.group("sub"):
            for item in _split_top(_orig("sub")):
                sm = re.match(r"^(\w+)\s*=\s*\(\s*(.+?)\s*\)$", item, re.S)
                if not sm:
                    raise ValueError(
                        f"MATCH_RECOGNIZE: SUBSET needs `NAME = (A, B)`: "
                        f"{item!r}"
                    )
                subset[sm.group(1)] = [
                    w.strip() for w in sm.group(2).split(",")
                ]
        define = {}
        if m.group("def"):
            for item in _split_top(_orig("def")):
                # DEFINE splits on the FIRST AS: the symbol is a bare
                # identifier, the predicate may itself contain AS-free
                # text and literals
                masked_item = mask_literals(item)
                kw = _AS_KW.search(masked_item)
                if kw is None:
                    raise ValueError(
                        f"MATCH_RECOGNIZE: DEFINE needs `SYM AS pred`: {item!r}"
                    )
                define[item[: kw.start()].strip()] = item[kw.end() :].strip()
        if src[0] == "table":
            # a bare CTE name as the factor (`WITH c AS (...) SELECT ...
            # FROM c MATCH_RECOGNIZE (...)`) is not a catalog table —
            # spark.table would fail analysis; route it through the same
            # CTE-prepending path as derived-table factors (ADVICE r11)
            _rec, _items = _leading_ctes(masked, query)
            cte_names = {
                nm.lower() for nm, _txt, end in _items if end <= factor_start
            }
            if "." not in src[1] and src[1].lower() in cte_names:
                src_df = spark.sql(
                    _prepend_visible_ctes(
                        masked, query, factor_start,
                        f"SELECT * FROM {src[1]}",
                    )
                )
            else:
                src_df = spark.table(src[1])
        else:
            src_df = spark.sql(
                _prepend_visible_ctes(masked, query, factor_start, src[1])
            )
        out = match_recognize(
            src_df,
            partition_by=list(_split_top(_orig("part"))),
            order_by=list(_split_top(_orig("order"))),
            measures=measures,
            pattern=m.group("pat"),
            define=define,
            all_rows=bool(
                m.group("rows") and m.group("rows").upper().startswith("ALL")
            ),
            # WITH UNMATCHED ROWS maps through; SHOW/OMIT EMPTY MATCHES
            # are accepted no-ops — the NFA rejects empty-matching
            # patterns, so empty matches cannot exist and the two modes
            # coincide
            unmatched=bool(
                m.group("emis") and m.group("emis").upper().startswith("WITH")
            ),
            after_match=m.group("skip") or "PAST LAST ROW",
            subset=subset,
            within=_orig("win"),
        )
        view = f"__match_recognize_{uuid.uuid4().hex[:12]}"
        out.createOrReplaceTempView(view)
        replacement = (
            view if factor_alias is None else f"{view} AS {factor_alias}"
        )
        query = query[:factor_start] + replacement + query[i:]

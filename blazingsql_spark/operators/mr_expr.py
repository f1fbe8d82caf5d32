"""Scalar predicate compiler for symbol-relative MATCH_RECOGNIZE DEFINEs.

SQL:2016 row-pattern navigation (``PREV(A.price)``, ``FIRST(V.ts)``,
``LAST(B.amount, 2)``) cannot be pre-evaluated as a window projection:
which rows are "mapped to A" depends on the match attempt in progress, so
the predicate must be evaluated INSIDE the automaton scan, per
(row, attempt-state) pair. This module compiles the restricted predicate
grammar below into plain Python closures over scalar values — no Spark
call, no pandas eval, no string eval — so the per-row test inside
``streaming.patterns.scan_rows`` stays a handful of dict/list lookups.

The reference engine has no row-pattern surface at all (its Calcite fork
parses none of SQL:2016 §R — engine/src has no pattern kernels), so this
whole surface is beyond-reference; the grammar is therefore scoped to
what the navigation semantics actually need rather than to full Spark
SQL (symbols WITHOUT navigation keep the unrestricted vectorized
Spark-SQL flag columns of ``operators.match_recognize``):

    expr     := or
    or       := and (OR and)*
    and      := not (AND not)*
    not      := NOT not | cmp
    cmp      := add ((= | == | <> | != | <= | >= | < | >) add)?
              | add IS [NOT] NULL
              | add [NOT] BETWEEN add AND add
              | add [NOT] IN ( literal [, literal]* )
    add      := mul ((+ | -) mul)*
    mul      := unary ((* | / | %) unary)*
    unary    := - unary | primary
    primary  := number | 'string' | TRUE | FALSE | NULL
              | INTERVAL n UNIT | nav | SYM.col | col | ( expr )
    nav      := (PREV | NEXT | FIRST | LAST) ( target [, n] )
    target   := SYM.col | col

Navigation semantics (running, within the current match attempt, the row
under test tentatively mapped to the symbol being DEFINEd — the Oracle /
SQL:2016 DEFINE semantics):

- ``SYM.col``            == ``LAST(SYM.col, 0)``: col of the last row so
                            far mapped to SYM (NULL if none yet).
- ``FIRST(SYM.col, n)``  nth row mapped to SYM counting from the first.
- ``LAST(SYM.col, n)``   nth row mapped to SYM counting from the last.
- ``PREV(SYM.col, n)``   n PHYSICAL rows before the last row mapped to
                          SYM (NULL past the partition start); default
                          n=1.  ``PREV(col, n)`` navigates from the
                          current row.
- ``NEXT(...)``          mirror of PREV, forward.
- ``FIRST(col, n)`` / ``LAST(col, n)`` (unqualified) range over ALL rows
  of the attempt (the universal row-pattern variable): attempt start + n
  / current row - n.

Three-valued logic: NULL (Python None) propagates through arithmetic and
comparisons; AND/OR are Kleene; the compiled predicate is satisfied only
when the result is exactly TRUE. A NaN is a value, not NULL, and compares
as in Spark: equal to NaN and above every number.
"""

from __future__ import annotations

import re

import pandas as pd

_NAV_FNS = {"PREV", "NEXT", "FIRST", "LAST"}
_UNITS = {
    "MICROSECOND": "microseconds",
    "MILLISECOND": "milliseconds",
    "SECOND": "seconds",
    "MINUTE": "minutes",
    "HOUR": "hours",
    "DAY": "days",
    "WEEK": "weeks",
}
_KEYWORDS = (
    {"AND", "OR", "NOT", "TRUE", "FALSE", "NULL", "IS", "INTERVAL",
     "BETWEEN", "IN"}
    | _NAV_FNS
    | set(_UNITS)
    | {u + "S" for u in _UNITS}
)

_TOKEN = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|'(?P<str>(?:[^']|'')*)'"
    r"|(?P<id>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)"
    r"|(?P<op><=|>=|<>|!=|==|[=<>()+\-*/%,])"
    r")"
)


class MatchCtx:
    """Evaluation context for one (row, attempt) predicate test.

    ``cols`` maps column name -> python-object list for the WHOLE ordered
    partition (built once per partition); ``j`` is the physical index of
    the row under test, ``pos`` the attempt's start index, ``size`` the
    partition length, and ``tent`` the attempt's symbol->row-index-list
    mapping WITH ``j`` already tentatively appended to the symbol being
    tested."""

    __slots__ = ("cols", "j", "pos", "size", "tent")

    def __init__(self, cols, j, pos, size, tent):
        self.cols = cols
        self.j = j
        self.pos = pos
        self.size = size
        self.tent = tent


class ImmutableRows:
    """Persistent row-index sequence for PER-THREAD tentative mappings
    (``streaming.patterns.scan_rows``): O(1) append — a cons
    cell sharing its parent — where a tuple concat would make a long
    single-attempt span quadratic. Supports exactly the access shapes
    :func:`_nav_idx` needs: O(1) ``rows[0]`` (FIRST), ``rows[-1]``
    (LAST/PREV/NEXT base) and ``len``; O(k) for an offset k from the
    tail; O(n) ascending iteration (SUBSET unions). Equality/hash stay
    IDENTITY: the scanner interns every append within an attempt, so
    equal sequences are the same object there and identity dedup is
    content dedup."""

    __slots__ = ("idx", "parent", "length", "first")

    def __init__(self, idx: int, parent: "ImmutableRows | None" = None):
        self.idx = idx
        self.parent = parent
        self.length = 1 if parent is None else parent.length + 1
        self.first = idx if parent is None else parent.first

    def __len__(self) -> int:
        return self.length

    def __bool__(self) -> bool:
        return True

    def __iter__(self):
        out = []
        node = self
        while node is not None:
            out.append(node.idx)
            node = node.parent
        return iter(reversed(out))

    def __getitem__(self, i: int) -> int:
        n = self.length
        if i < 0:
            i += n
        if not 0 <= i < n:
            raise IndexError(i)
        if i == 0:
            return self.first
        node = self
        for _ in range(n - 1 - i):
            node = node.parent
        return node.idx


def _nav_idx(kind: str, sym_char: str | None, n: int, ctx: MatchCtx):
    """Resolve a navigation target to a physical row index (or None).
    ``sym_char`` may be a multi-char string — a SUBSET union variable —
    in which case the mapped rows are the sorted union of its members'
    rows."""
    if sym_char is None:
        if kind == "FIRST":
            i = ctx.pos + n
            return i if i <= ctx.j else None
        if kind == "LAST":
            i = ctx.j - n
            return i if i >= ctx.pos else None
        base = ctx.j
    else:
        if len(sym_char) == 1:
            rows = ctx.tent.get(sym_char)
        else:
            rows = sorted(
                i for ch in sym_char for i in ctx.tent.get(ch, ())
            )
        if not rows:
            return None
        if kind == "FIRST":
            return rows[n] if n < len(rows) else None
        if kind == "LAST":
            return rows[-1 - n] if n < len(rows) else None
        base = rows[-1]
    i = base - n if kind == "PREV" else base + n
    return i if 0 <= i < ctx.size else None


def _num(tok: str):
    return float(tok) if ("." in tok or "e" in tok or "E" in tok) else int(tok)


def spark_lt(a, b) -> bool:
    """``a < b`` in Spark's value order, where NaN is larger than every
    number (and equal to NaN)."""
    return a < b or (b != b and a == a)


def _cmp(op: str, a, b):
    """Comparison in Spark's value order: None is NULL, NaN equals NaN
    and is above every number."""
    if a is None or b is None:
        return None
    try:
        if op in ("=", "!="):
            # Python happily returns False for "abc" == 5; Spark/DuckDB
            # would coerce or fail analysis instead. Raise on a
            # str-vs-number mismatch like the ordered comparators do so a
            # misrouted predicate fails loudly rather than never matching.
            if isinstance(a, str) != isinstance(b, str):
                raise ValueError(
                    f"MATCH_RECOGNIZE DEFINE: cannot compare "
                    f"{type(a).__name__} {op} {type(b).__name__} "
                    f"({a!r} vs {b!r})"
                )
            eq = a == b or (a != a and b != b)
            return eq if op == "=" else not eq
        if op == "<":
            return spark_lt(a, b)
        if op == "<=":
            return not spark_lt(b, a)
        if op == ">":
            return spark_lt(b, a)
        return not spark_lt(a, b)
    except TypeError as exc:  # str vs number etc.
        raise ValueError(
            f"MATCH_RECOGNIZE DEFINE: cannot compare {type(a).__name__} "
            f"{op} {type(b).__name__} ({a!r} vs {b!r})"
        ) from exc


def _arith(op: str, a, b):
    if a is None or b is None:
        return None
    try:
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "%":
            # Truncated (C-style) modulo to match Spark SQL and DuckDB:
            # -7 % 2 must be -1, not Python's floored +1. Result carries
            # the dividend's sign; NULL on zero divisor like `/`.
            if b == 0:
                return None
            r = abs(a) % abs(b)
            return r if a >= 0 else -r
        return a / b if b != 0 else None
    except TypeError as exc:
        raise ValueError(
            f"MATCH_RECOGNIZE DEFINE: cannot compute {type(a).__name__} "
            f"{op} {type(b).__name__}"
        ) from exc
    except ZeroDivisionError:
        return None


def compile_predicate(sql: str, columns: list[str], sym_chars: dict[str, str]):
    """Compile one DEFINE predicate to ``(closure, referenced_columns)``.

    ``closure(ctx: MatchCtx) -> bool`` — True only when the predicate is
    satisfied under SQL three-valued logic. Raises ValueError (with the
    supported grammar named) on anything outside the grammar, unknown
    columns, or unknown symbols."""
    tokens: list[tuple[str, object]] = []
    i = 0
    while i < len(sql):
        if sql[i].isspace():
            i += 1
            continue
        m = _TOKEN.match(sql, i)
        if not m:
            raise ValueError(
                f"MATCH_RECOGNIZE DEFINE: cannot tokenize {sql[i:i + 20]!r} "
                f"in {sql!r} (see operators/mr_expr.py for the supported "
                f"navigation-predicate grammar)"
            )
        i = m.end()
        if m.group("num") is not None:
            tokens.append(("num", _num(m.group("num"))))
        elif m.group("str") is not None:
            tokens.append(("str", m.group("str").replace("''", "'")))
        elif m.group("id") is not None:
            word = m.group("id")
            if "." not in word and word.upper() in _KEYWORDS:
                tokens.append(("kw", word.upper()))
            else:
                tokens.append(("id", word))
        else:
            tokens.append(("op", m.group("op")))
    tokens.append(("end", None))

    pos = 0
    used: set[str] = set()
    # symbol CHARS whose tentative mapping this predicate reads (via
    # SYM.col navigation): the scanner carries and dedups threads on
    # exactly this projection of the mapping — two
    # assignment histories that agree on these chars have identical
    # futures (exposed as closure.used_sym_chars)
    used_syms: set[str] = set()

    def peek():
        return tokens[pos]

    def take(kind=None, value=None):
        nonlocal pos
        t = tokens[pos]
        if (kind and t[0] != kind) or (value is not None and t[1] != value):
            raise ValueError(
                f"MATCH_RECOGNIZE DEFINE: expected "
                f"{value or kind}, got {t[1]!r} in {sql!r}"
            )
        pos += 1
        return t

    def col_ref(name: str):
        if name not in columns:
            raise ValueError(
                f"MATCH_RECOGNIZE DEFINE: unknown column {name!r} in "
                f"{sql!r} (input columns: {sorted(columns)})"
            )
        used.add(name)
        return name

    def nav_target(word: str) -> tuple[str | None, str]:
        """-> (symbol char or None, column name)."""
        if "." in word:
            sym, col = word.split(".", 1)
            if sym not in sym_chars:
                raise ValueError(
                    f"MATCH_RECOGNIZE DEFINE: {word!r} references unknown "
                    f"pattern symbol {sym!r} in {sql!r}"
                )
            used_syms.update(sym_chars[sym])
            return sym_chars[sym], col_ref(col)
        return None, col_ref(word)

    def parse_or():
        f = parse_and()
        while peek() == ("kw", "OR"):
            take()
            g = parse_and()
            f = (
                lambda ctx, _f=f, _g=g: (
                    True
                    if (a := _f(ctx)) is True or (b := _g(ctx)) is True
                    else (None if a is None or b is None else False)
                )
            )
        return f

    def parse_and():
        f = parse_not()
        while peek() == ("kw", "AND"):
            take()
            g = parse_not()
            f = (
                lambda ctx, _f=f, _g=g: (
                    False
                    if (a := _f(ctx)) is False or (b := _g(ctx)) is False
                    else (None if a is None or b is None else True)
                )
            )
        return f

    def parse_not():
        if peek() == ("kw", "NOT"):
            take()
            f = parse_not()
            return lambda ctx, _f=f: (None if (v := _f(ctx)) is None else not v)
        return parse_cmp()

    def parse_cmp():
        a = parse_add()
        negate_next = False
        if peek() == ("kw", "NOT") and tokens[pos + 1][1] in ("BETWEEN", "IN"):
            take()
            negate_next = True

        def _maybe_not(f):
            if not negate_next:
                return f
            return lambda ctx, _f=f: (None if (v := _f(ctx)) is None else not v)

        t = peek()
        if t == ("kw", "BETWEEN"):
            take()
            lo = parse_add()
            take("kw", "AND")
            hi = parse_add()

            def between(ctx, _a=a, _lo=lo, _hi=hi):
                v = _a(ctx)
                ge = _cmp(">=", v, _lo(ctx))
                le = _cmp("<=", v, _hi(ctx))
                if ge is False or le is False:
                    return False
                if ge is None or le is None:
                    return None
                return True

            return _maybe_not(between)
        if t == ("kw", "IN"):
            take()
            take("op", "(")
            elems = []
            while True:
                k, v = take()
                if (k, v) == ("op", "-"):
                    k, v = take("num")
                    v = -v
                if k == "num" or k == "str":
                    elems.append(v)
                elif (k, v) == ("kw", "NULL"):
                    elems.append(None)
                elif (k, v) == ("kw", "TRUE"):
                    elems.append(True)
                elif (k, v) == ("kw", "FALSE"):
                    elems.append(False)
                else:
                    raise ValueError(
                        f"MATCH_RECOGNIZE DEFINE: IN list takes literals, "
                        f"got {v!r} in {sql!r}"
                    )
                if peek() == ("op", ","):
                    take()
                    continue
                break
            take("op", ")")
            has_null = any(e is None for e in elems)
            vals = tuple(e for e in elems if e is not None)

            def isin(ctx, _a=a, _vals=vals, _null=has_null):
                v = _a(ctx)
                if v is None:
                    return None
                if any(_cmp("=", v, e) is True for e in _vals):
                    return True
                return None if _null else False

            return _maybe_not(isin)
        if negate_next:
            raise ValueError(
                f"MATCH_RECOGNIZE DEFINE: NOT here must precede BETWEEN or "
                f"IN in {sql!r}"
            )
        if t == ("kw", "IS"):
            take()
            negate = False
            if peek() == ("kw", "NOT"):
                take()
                negate = True
            take("kw", "NULL")
            return lambda ctx, _a=a, _n=negate: (_a(ctx) is None) != _n
        if t[0] == "op" and t[1] in ("=", "==", "<>", "!=", "<", "<=", ">", ">="):
            take()
            op = {"==": "=", "<>": "!="}.get(t[1], t[1])
            b = parse_add()
            return lambda ctx, _a=a, _b=b, _op=op: _cmp(_op, _a(ctx), _b(ctx))
        return a

    def parse_add():
        f = parse_mul()
        while peek()[0] == "op" and peek()[1] in ("+", "-"):
            op = take()[1]
            g = parse_mul()
            f = lambda ctx, _f=f, _g=g, _op=op: _arith(_op, _f(ctx), _g(ctx))
        return f

    def parse_mul():
        f = parse_unary()
        while peek()[0] == "op" and peek()[1] in ("*", "/", "%"):
            op = take()[1]
            g = parse_unary()
            f = lambda ctx, _f=f, _g=g, _op=op: _arith(_op, _f(ctx), _g(ctx))
        return f

    def parse_unary():
        if peek() == ("op", "-"):
            take()
            f = parse_unary()
            return lambda ctx, _f=f: (None if (v := _f(ctx)) is None else -v)
        return parse_primary()

    def parse_primary():
        kind, val = peek()
        if kind == "num" or kind == "str":
            take()
            return lambda ctx, _v=val: _v
        if kind == "kw":
            if val in ("TRUE", "FALSE"):
                take()
                return lambda ctx, _v=(val == "TRUE"): _v
            if val == "NULL":
                take()
                return lambda ctx: None
            if val == "INTERVAL":
                take()
                k, v = take()
                if k == "str":
                    v = _num(v)
                elif k != "num":
                    raise ValueError(
                        f"MATCH_RECOGNIZE DEFINE: INTERVAL needs a numeric "
                        f"magnitude, got {v!r} in {sql!r}"
                    )
                uk, unit = take("kw")
                base = unit[:-1] if unit.endswith("S") and unit not in _UNITS else unit
                if base not in _UNITS:
                    raise ValueError(
                        f"MATCH_RECOGNIZE DEFINE: unsupported INTERVAL unit "
                        f"{unit!r} (supported: {sorted(_UNITS)})"
                    )
                td = pd.Timedelta(**{_UNITS[base]: v})
                return lambda ctx, _v=td: _v
            if val in _NAV_FNS:
                take()
                take("op", "(")
                word = take("id")[1]
                sym_char, col = nav_target(word)
                n = 1 if val in ("PREV", "NEXT") else 0
                if peek() == ("op", ","):
                    take()
                    n = take("num")[1]
                    if not isinstance(n, int) or n < 0:
                        raise ValueError(
                            f"MATCH_RECOGNIZE DEFINE: {val} offset must be "
                            f"a non-negative integer, got {n!r}"
                        )
                take("op", ")")

                def nav(ctx, _k=val, _s=sym_char, _c=col, _n=n):
                    i = _nav_idx(_k, _s, _n, ctx)
                    return None if i is None else ctx.cols[_c][i]

                return nav
            raise ValueError(
                f"MATCH_RECOGNIZE DEFINE: unexpected keyword {val!r} in {sql!r}"
            )
        if kind == "id":
            take()
            if "." in val:
                sym_char, col = nav_target(val)
                # bare SYM.col == LAST(SYM.col, 0)

                def ref(ctx, _s=sym_char, _c=col):
                    i = _nav_idx("LAST", _s, 0, ctx)
                    return None if i is None else ctx.cols[_c][i]

                return ref
            col = col_ref(val)
            return lambda ctx, _c=col: ctx.cols[_c][ctx.j]
        if (kind, val) == ("op", "("):
            take()
            f = parse_or()
            take("op", ")")
            return f
        raise ValueError(
            f"MATCH_RECOGNIZE DEFINE: unexpected {val!r} in {sql!r} (see "
            f"operators/mr_expr.py for the supported grammar)"
        )

    f = parse_or()
    take("end")
    closure = lambda ctx, _f=f: _f(ctx) is True  # noqa: E731
    closure.used_sym_chars = frozenset(used_syms)
    return closure, used


def is_symbol_relative(pred_sql: str, names: list[str]) -> bool:
    """True when a DEFINE predicate needs per-thread evaluation in the
    scan: it contains FIRST/LAST navigation (running-semantics by
    definition), a symbol-qualified reference ``SYM.col``, or a
    symbol-qualified PREV/NEXT. Plain ``PREV(col)``/``NEXT(col)`` stay on
    the vectorized physical lag/lead path."""
    masked = mask_literals(pred_sql)
    if re.search(r"\b(?:FIRST|LAST)\s*\(", masked, re.IGNORECASE):
        return True
    for s in names:
        if re.search(rf"\b{re.escape(s)}\.\w+", masked):
            return True
    return False


def mask_literals(s: str) -> str:
    """Same-length copy of ``s`` with the CONTENTS of SQL string
    literals ('single', with '' escapes, and "double" — Spark SQL reads
    both as strings) blanked to spaces, so positional regex and paren
    scans never trip on quoted text: an unmasked "B.x" would make the
    symbol-relative check misroute a vectorized DEFINE into this
    grammar. Positions map 1:1 back to the original."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        q = s[i]
        if q in ("'", '"'):
            j = i + 1
            while j < n:
                if s[j] == q:
                    if q == "'" and j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = " "
            i = j + 1
        else:
            i += 1
    return "".join(out)

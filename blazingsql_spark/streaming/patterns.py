"""Row-pattern matching core: a Thompson NFA over single-character
symbols, the one scanner that steps it over rows, and the streaming
operators built on that scanner.

``compile_pattern`` builds the NFA. Its epsilon-edge order encodes
the SQL:2016 preference order: a greedy quantifier ranks "consume more"
first, a reluctant one ranks "stop" first, and alternation ranks the
left branch first. :func:`scan_rows` runs that NFA as a Pike VM (Cox, "Regular
Expression Matching: the Virtual Machine Approach") over a row
sequence. A row is consumed as symbol ``ch`` when ``truth(j, pos, ch,
tent)`` says so, so one row may satisfy several symbols and the
pattern decides the assignment. Threads are kept in priority order;
when the highest-priority live thread accepts, every lower-priority
thread is cut, and a later accept from a surviving higher thread
overrides it. That is ``re.finditer``'s leftmost-first discipline, so
``re`` is the oracle for every pattern (property-tested). Every route
runs through this scanner: the batch MATCH_RECOGNIZE operator
(operators/match_recognize.py), and :class:`StreamMatcher` behind the
two streaming operators below. ``match_recognize_stream`` compiles its
PATTERN/DEFINE/SKIP/WITHIN with the batch operator's own front end,
``match_recognize.compile_recognizer``.

Streaming state is bounded, and both operators keep it in one format
through one update function: a key's state is its counts (matches,
longest match, rows seen, aborted attempts) and its pickled ``carry``,
the rows of the in-flight match attempt only — a code string for
``pattern_match_stream``, row tuples for ``match_recognize_stream``.
That suffix is bounded by the longest single match the pattern
can absorb, which an adversarial stream can grow without limit (an
endless click run under ``vc+p``). ``max_carry`` therefore caps it: an
attempt whose carry exceeds the cap is aborted (carry dropped,
``n_aborted`` incremented and emitted). Matches spanning an aborted
attempt are lost, and the output says so.

Each micro-batch emits the key's totals *as if the stream ended here*
(the pending attempt is resolved against end-of-input without mutating
stored state), so the last emitted row per key equals the batch answer
on the same prefix. Within a micro-batch, rows are sorted by (ts, id);
across micro-batches the source must deliver per-key events in order.
The reference engine has no CEP operator; this surface is beyond it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from blazingsql_spark.operators.mr_expr import ImmutableRows

# ---------------------------------------------------------------------------
# Thompson NFA over single characters (public-textbook construction).
# ---------------------------------------------------------------------------


class _Nfa:
    __slots__ = ("eps", "trans", "start", "accept")

    def __init__(self) -> None:
        self.eps: dict[int, list[int]] = {}
        self.trans: dict[int, list[tuple[str | None, int]]] = {}
        self.start = 0
        self.accept = 0

    def new_state(self) -> int:
        s = len(self.eps)
        self.eps[s] = []
        self.trans[s] = []
        return s


def ordered_closure(nfa: _Nfa, starts) -> list[int]:
    """Epsilon-closure as an ORDERED list (preorder DFS following eps
    edges in declaration order): the thread-priority order of
    :func:`scan_rows`, because compile_pattern appends the preferred
    edge first."""
    out: list[int] = []
    seen: set[int] = set()
    stack = list(reversed(list(starts)))
    while stack:
        st = stack.pop()
        if st in seen:
            continue
        seen.add(st)
        out.append(st)
        stack.extend(reversed(nfa.eps.get(st, [])))
    return out


_BOUNDED_QUANT = re.compile(r"\{(\d*)(,)?(\d*)\}")
_MAX_BOUND = 1000  # expansion cap: states grow linearly with the bound


def _expand_bounded(pattern: str) -> str:
    """Textually expand bounded quantifiers — {n}, {n,}, {,m}, {n,m} —
    over the preceding atom (a single char or a balanced group) into the
    *, +, ? core the NFA builder understands: a{2} -> aa, a{2,} -> aaa*,
    a{1,3} -> aa?a?, (ab){2} -> (ab)(ab). Before round 11 a '{' parsed
    as a LITERAL char transition, so 'a{2}c' silently matched nothing —
    the silent-wrong class this expansion (plus loud malformed-bound
    errors) eliminates."""
    while True:
        m = _BOUNDED_QUANT.search(pattern)
        if m is None:
            return pattern
        lo_s, comma, hi_s = m.group(1), m.group(2), m.group(3)
        if not lo_s and not hi_s:
            raise ValueError(
                f"malformed bound {m.group(0)!r} in pattern {pattern!r}"
            )
        lo = int(lo_s) if lo_s else 0
        hi = (int(hi_s) if hi_s else None) if comma else lo
        if hi is not None and hi < lo:
            raise ValueError(
                f"bound {m.group(0)!r} has max < min in pattern {pattern!r}"
            )
        if max(lo, hi or 0) > _MAX_BOUND:
            raise ValueError(
                f"bound {m.group(0)!r} exceeds the {_MAX_BOUND} expansion "
                f"cap in pattern {pattern!r}"
            )
        j = m.start()
        if j == 0:
            raise ValueError(f"misplaced {{ in pattern {pattern!r}")
        if pattern[j - 1] == ")":
            depth, k = 1, j - 1
            while k > 0 and depth:
                k -= 1
                if pattern[k] == ")":
                    depth += 1
                elif pattern[k] == "(":
                    depth -= 1
            if depth:
                raise ValueError(f"unbalanced ')' in pattern {pattern!r}")
            atom = pattern[k:j]
        else:
            atom = pattern[j - 1]
            if atom in "*+?|({":
                raise ValueError(
                    f"bound {m.group(0)!r} follows no atom in {pattern!r}"
                )
            k = j - 1
        # '{n,m}?' — the SQL:2016 reluctant bound: expand with reluctant
        # core quantifiers (and consume the marker). '{n}?' is exactly
        # '{n}'; before this branch the marker was left dangling and
        # re-attached to the expansion's last copy — silently wrong.
        end = m.end()
        rel = end < len(pattern) and pattern[end] == "?"
        if rel:
            end += 1
        star, opt = ("*?", "??") if rel else ("*", "?")
        if hi is None:  # {n,}: n mandatory copies + unbounded tail
            rep = atom * lo + atom + star if lo else atom + star
        else:  # {n,m}: n mandatory + (m-n) optional copies
            rep = atom * lo + (atom + opt) * (hi - lo)
        pattern = pattern[:k] + rep + pattern[end:]


def compile_pattern(pattern: str) -> _Nfa:
    """Parse the supported regex subset into an NFA (recursive descent:
    alt := concat ('|' concat)* ; concat := repeat+ ;
    repeat := atom ('*'|'+'|'?')* ; atom := '(' alt ')' | '.' | literal;
    bounded quantifiers {n} {n,} {,m} {n,m} expand textually first).
    Rejects patterns that match the empty string (a zero-width match has
    no non-overlapping-count semantics)."""
    pattern = _expand_bounded(pattern)
    nfa = _Nfa()
    pos = 0

    def peek() -> str | None:
        return pattern[pos] if pos < len(pattern) else None

    def frag_char(want: str | None) -> tuple[int, int]:
        s, e = nfa.new_state(), nfa.new_state()
        nfa.trans[s].append((want, e))
        return s, e

    def parse_alt() -> tuple[int, int]:
        nonlocal pos
        frags = [parse_concat()]
        while peek() == "|":
            pos += 1
            frags.append(parse_concat())
        if len(frags) == 1:
            return frags[0]
        s, e = nfa.new_state(), nfa.new_state()
        for fs, fe in frags:
            nfa.eps[s].append(fs)
            nfa.eps[fe].append(e)
        return s, e

    def parse_concat() -> tuple[int, int]:
        frags = []
        while peek() is not None and peek() not in "|)":
            frags.append(parse_repeat())
        if not frags:
            raise ValueError(f"empty branch in pattern {pattern!r}")
        s, e = frags[0]
        for fs, fe in frags[1:]:
            nfa.eps[e].append(fs)
            e = fe
        return s, e

    def parse_repeat() -> tuple[int, int]:
        nonlocal pos
        s, e = parse_atom()
        while peek() in ("*", "+", "?"):
            op = pattern[pos]
            pos += 1
            # a '?' IMMEDIATELY after a quantifier is the SQL:2016
            # reluctant marker (*?, +?, ??): same language, inverted
            # preference — skip/exit BEFORE enter/loop
            reluctant = peek() == "?"
            if reluctant:
                pos += 1
            ns, ne = nfa.new_state(), nfa.new_state()
            # epsilon-edge ORDER encodes match preference for
            # scan_rows: greedy appends enter/loop BEFORE exit,
            # reluctant the reverse
            if reluctant:
                if op in ("*", "?"):
                    nfa.eps[ns].append(ne)
                nfa.eps[ns].append(s)
                nfa.eps[e].append(ne)
                if op in ("*", "+"):
                    nfa.eps[e].append(s)
            else:
                nfa.eps[ns].append(s)
                if op in ("*", "+"):
                    nfa.eps[e].append(s)
                nfa.eps[e].append(ne)
                if op in ("*", "?"):
                    nfa.eps[ns].append(ne)
            s, e = ns, ne
        return s, e

    def parse_atom() -> tuple[int, int]:
        nonlocal pos
        ch = peek()
        if ch is None:
            raise ValueError(f"unexpected end of pattern {pattern!r}")
        if ch == "(":
            pos += 1
            frag = parse_alt()
            if peek() != ")":
                raise ValueError(f"unbalanced '(' in pattern {pattern!r}")
            pos += 1
            return frag
        if ch == ".":
            pos += 1
            return frag_char(None)
        if ch == "\\":
            if pos + 1 >= len(pattern):
                raise ValueError(f"trailing backslash in pattern {pattern!r}")
            pos += 1
            ch = pattern[pos]
            pos += 1
            return frag_char(ch)
        if ch in "*+?)|":
            raise ValueError(f"misplaced {ch!r} in pattern {pattern!r}")
        if ch in "{}":
            # every well-formed bound was consumed by _expand_bounded;
            # a leftover brace is a malformed bound (e.g. unclosed
            # 'a{2') that would otherwise compile to a LITERAL char
            # transition nothing can match — the silent-wrong class
            raise ValueError(
                f"malformed bounded quantifier near {ch!r} in pattern "
                f"{pattern!r}"
            )
        pos += 1
        return frag_char(ch)

    s, e = parse_alt()
    if pos != len(pattern):
        raise ValueError(f"trailing {pattern[pos:]!r} in pattern {pattern!r}")
    nfa.start, nfa.accept = s, e
    if nfa.accept in ordered_closure(nfa, [nfa.start]):
        raise ValueError(f"pattern {pattern!r} matches the empty string")
    return nfa


# ---------------------------------------------------------------------------
# The row scanner and its incremental form.
# ---------------------------------------------------------------------------

_SKIP_PAST = ("past",)
_MAX_THREADS = 256  # assignment histories alive at one row


def _skip_resume(skip, pos: int, last_acc: int, span_codes: str) -> int:
    """Next scan position after a match [pos, last_acc) under an AFTER
    MATCH SKIP mode (('past',) | ('next',) | ('first'|'last', chars)).
    Raises on the SQL:2016 runtime errors: skipping to a symbol the
    match never mapped, or to the match's own first row (infinite
    loop)."""
    kind = skip[0]
    if kind == "past":
        return last_acc
    if kind == "next":
        return pos + 1
    chs = skip[1]
    hits = [i for i, c in enumerate(span_codes) if c in chs]
    idx = (hits[0] if kind == "first" else hits[-1]) if hits else -1
    if idx < 0:
        raise ValueError(
            f"MATCH_RECOGNIZE: AFTER MATCH SKIP TO {kind.upper()} names a "
            f"symbol the match did not map any row to"
        )
    if idx == 0:
        raise ValueError(
            "MATCH_RECOGNIZE: AFTER MATCH SKIP TO the first row of the "
            "match would loop forever (SQL:2016 runtime error)"
        )
    return pos + idx


def _within_breaks(within, j: int, pos: int) -> bool:
    """True when row ``j`` falls outside the attempt-at-``pos``'s
    match-duration budget (``within=(order_key_values, dur)``) — or
    either key is NULL (x != x catches NaT/nan without a pandas call
    per row)."""
    tv, dur = within
    tj, tp = tv[j], tv[pos]
    return (
        tj is None or tj != tj or tp is None or tp != tp or tj - tp > dur
    )


def scan_rows(
    nfa: _Nfa,
    truth,
    size: int,
    final: bool = True,
    skip=_SKIP_PAST,
    within=None,
    anchor_start: bool = False,
    anchor_end: bool = False,
    read_chars: frozenset = frozenset(),
) -> tuple[list[tuple[int, int, str]], int | None]:
    """Match ``nfa`` over rows ``0..size-1`` in SQL:2016 preference
    order; returns ``(spans, carry_start)``.

    ``truth(j, pos, ch, tent)`` says whether row ``j`` of the attempt
    starting at ``pos`` can be consumed as symbol char ``ch``, given the
    thread's mapping ``tent`` ({char: mr_expr.ImmutableRows}, without
    ``j``). Each thread carries its own mapping, restricted to
    ``read_chars``: the chars whose mapped rows some navigation
    predicate reads (mr_expr's ``closure.used_sym_chars``). Threads are
    deduplicated by (NFA state, that mapping), first wins, which keeps
    the priority order. Appends are interned per attempt, so equal
    mappings are the same object and dedup is by content. With no
    reads this is plain state dedup, at most one thread per state.
    Histories that all stay live under read navigation can still grow
    exponentially; more than ``_MAX_THREADS`` threads at one row (never
    fewer than the NFA's state count) raises.

    Spans are ``(lo, hi, codes)``, ``codes`` being the preferred
    assignment, one symbol char per row. ``skip`` is the AFTER MATCH
    mode (see _skip_resume), ``within=(order_key_values, dur)`` the
    match-duration bound (a row beyond it ends the attempt; the
    accepted prefix still emits), and ``anchor_start``/``anchor_end``
    the SQL:2016 ``^``/``$``. Under ``final=False`` (streams) an
    attempt still able to consume at end-of-input is not resolved: its
    first row comes back as ``carry_start``, and the caller replays it
    from there once more rows arrive."""
    read_order = tuple(sorted(read_chars))
    start_threads = ordered_closure(nfa, [nfa.start])
    closure_memo: dict[int, list[int]] = {}
    cap = max(_MAX_THREADS, len(nfa.eps))
    no_rows: dict = {}
    spans: list[tuple[int, int, str]] = []
    pos = 0
    while pos < size:
        # thread = (state, node, tent): node is the (char, parent)
        # chain the span's codes are rebuilt from
        threads: list[tuple[int, tuple | None, dict]] = [
            (st, None, no_rows) for st in start_threads
        ]
        interned: dict = {}
        best_end, best_node = -1, None
        j = pos
        while j < size and threads:
            if within is not None and _within_breaks(within, j, pos):
                break
            new_threads: list[tuple[int, tuple | None, dict]] = []
            seen: set = set()
            for st, node, tent in threads:
                for want, to in nfa.trans[st]:
                    ntent = tent
                    if want is None:
                        nnode = (".", node)
                    elif truth(j, pos, want, tent):
                        nnode = (want, node)
                        if want in read_chars:
                            at = (j, tent.get(want))
                            rows = interned.get(at)
                            if rows is None:
                                rows = interned[at] = ImmutableRows(*at)
                            ntent = {**tent, want: rows}
                    else:
                        continue
                    proj = tuple(map(ntent.get, read_order))
                    targets = closure_memo.get(to)
                    if targets is None:
                        targets = closure_memo[to] = ordered_closure(nfa, [to])
                    for cl in targets:
                        key = (cl, proj)
                        if key not in seen:
                            seen.add(key)
                            new_threads.append((cl, nnode, ntent))
            if len(new_threads) > cap:
                raise ValueError(
                    "MATCH_RECOGNIZE: nondeterministic symbol assignment "
                    f"over navigation DEFINEs exceeded {cap} "
                    "concurrent assignment histories at one row — the "
                    "PATTERN admits exponentially many mappings whose "
                    "navigation predicates all stay live (e.g. several "
                    "always-true symbols under a quantifier). Make the "
                    "DEFINE predicates more selective or mutually "
                    "exclusive"
                )
            threads = new_threads
            j += 1
            if not anchor_end or j == size:
                for idx, (st, node, _tent) in enumerate(threads):
                    if st == nfa.accept:
                        # record the highest-priority accept and cut
                        # everything below it; a surviving higher
                        # thread may override it later
                        best_end, best_node = j, node
                        del threads[idx + 1:]
                        break
        else:
            # end of input with live threads: in flight only if one of
            # them can still consume a row
            if not final and any(nfa.trans[st] for st, _n, _t in threads):
                return spans, pos
        if best_end > pos:
            chars: list[str] = []
            node = best_node
            while node is not None:
                chars.append(node[0])
                node = node[1]
            codes = "".join(reversed(chars))
            spans.append((pos, best_end, codes))
            pos = _skip_resume(skip, pos, best_end, codes)
        else:
            pos += 1
        if anchor_start:
            break  # only the partition's first row can start a match
    return spans, None


def char_truth(text: str):
    """Truth over a code string: row ``j`` is exactly symbol ``text[j]``."""
    return lambda j, pos, ch, tent: text[j] == ch


class StreamMatcher:
    """:func:`scan_rows` fed incrementally, for one key of a stream.

    ``feed(rows)`` consumes more rows; ``snapshot()`` returns
    ``(n_matches, longest)`` *as if the stream ended now* without
    disturbing the in-flight attempt. Rows are any sliceable sequence
    that ``+`` concatenates: a code string (the default,
    :func:`char_truth`) or a list of row tuples. ``truth_of(rows)``
    builds the scanner's truth
    over one such sequence, and ``within_of(rows)`` its WITHIN bound.
    ``carry`` is the in-flight attempt's rows, the state-store payload,
    capped at ``max_carry`` rows: an attempt that outgrows the cap is
    aborted (carry dropped, ``n_aborted`` incremented). Committed
    matches always start before the carry, under every ``skip`` mode,
    so replaying the carry never recounts one."""

    def __init__(
        self,
        nfa: _Nfa,
        truth_of=char_truth,
        n_matches: int = 0,
        longest: int = 0,
        carry="",
        max_carry: int = 4096,
        n_aborted: int = 0,
        skip=_SKIP_PAST,
        read_chars: frozenset = frozenset(),
        within_of=None,
    ):
        if max_carry < 1:
            raise ValueError(f"max_carry must be >= 1, got {max_carry}")
        self.nfa = nfa
        self.truth_of = truth_of
        self.n_matches = n_matches
        self.longest = longest
        self.carry = carry
        self.max_carry = max_carry
        self.n_aborted = n_aborted
        self.skip = skip
        self.read_chars = read_chars
        self.within_of = within_of

    def _scan(self, rows, final: bool):
        return scan_rows(
            self.nfa, self.truth_of(rows), len(rows), final=final,
            skip=self.skip,
            within=self.within_of(rows) if self.within_of else None,
            read_chars=self.read_chars,
        )

    def feed(self, rows) -> None:
        rows = self.carry + rows if len(self.carry) else rows
        spans, carry_start = self._scan(rows, final=False)
        self.n_matches += len(spans)
        self.longest = max([self.longest] + [hi - lo for lo, hi, _ in spans])
        self.carry = rows[carry_start:] if carry_start is not None else rows[:0]
        if len(self.carry) > self.max_carry:
            # the whole carry is ONE in-flight attempt; abort it rather
            # than keep unbounded state (a kept suffix could fabricate a
            # match start the true stream never had)
            self.n_aborted += 1
            self.carry = rows[:0]

    def snapshot(self) -> tuple[int, int]:
        spans, _ = self._scan(self.carry, final=True)
        longest = max([self.longest] + [hi - lo for lo, hi, _ in spans])
        return self.n_matches + len(spans), longest


# ---------------------------------------------------------------------------
# The streaming operators.
# ---------------------------------------------------------------------------

DEFAULT_CODE_MAP = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
DEFAULT_CODE = "s"

# the counts each stream emits after its key column
_TOTALS = ("n_matches", "longest_match", "n_codes", "n_aborted")
# a key's state: its counts and the pickled carry, written and read only
# by _stream_totals. The carry sits third as a binary field, so a
# checkpoint of an earlier layout (a string carry, or a binary carry
# last) fails Spark's state schema check at restart instead of handing
# a carry of another format to this update.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_matches", T.LongType()),
        T.StructField("longest", T.LongType()),
        T.StructField("carry", T.BinaryType()),
        T.StructField("n_codes", T.LongType()),
        T.StructField("n_aborted", T.LongType()),
    ]
)


def _stream_totals(
    frame: DataFrame, key: str, order: list[str], rows_of, **matcher
):
    """The update every stream here runs, per ``key`` of ``frame``: load
    the key's state, sort the micro-batch by ``order``, feed
    ``rows_of(batch)`` to a :class:`StreamMatcher` built from ``matcher``,
    save the counts and the carry, and emit the snapshot row: the key,
    under its own name and type, then the counts."""
    import pickle  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    StreamMatcher(**matcher)  # validate eagerly on the driver

    def update(k, pdfs, state):
        m = StreamMatcher(**matcher)
        seen = 0
        if state.exists:
            m.n_matches, m.longest, blob, seen, m.n_aborted = state.get
            m.carry = pickle.loads(bytes(blob))
        batch = pd.concat(list(pdfs)).sort_values(order)
        m.feed(rows_of(batch))
        seen += len(batch)
        state.update(
            (m.n_matches, m.longest, pickle.dumps(m.carry), seen, m.n_aborted)
        )
        totals = (*m.snapshot(), seen, m.n_aborted)
        yield pd.DataFrame(
            {key: [k[0]], **{c: [v] for c, v in zip(_TOTALS, totals)}}
        )

    out_schema = T.StructType(
        [T.StructField(key, frame.schema[key].dataType)]
        + [T.StructField(c, T.LongType()) for c in _TOTALS]
    )
    return frame.groupBy(key).applyInPandasWithState(
        update, out_schema, _STATE_SCHEMA, "update", "NoTimeout"
    )


def pattern_match_stream(
    events: DataFrame,
    pattern: str = "vc+p",
    code_map: dict[str, str] | None = None,
    default_code: str = DEFAULT_CODE,
    max_carry: int = 4096,
) -> DataFrame:
    """Per-user incremental pattern matching over an event stream.

    Emits one (user_id, n_matches, longest_match, n_codes, n_aborted) row
    per user per micro-batch with the totals the batch query would report
    on the prefix seen so far; ``n_codes`` is the processed-event count
    (use the max-n_codes row per user as the final answer in
    at-least-once sinks). ``n_aborted`` counts in-flight attempts dropped
    by the ``max_carry`` state cap — nonzero means some matches may have
    been undercounted to keep state bounded. The carry is the in-flight
    attempt's code string.
    """
    cmap = dict(code_map or DEFAULT_CODE_MAP)

    def codes(batch):
        return "".join(
            batch["event_type"].map(lambda t: cmap.get(t, default_code))
        )

    return _stream_totals(
        events.select("user_id", "ts", "event_id", "event_type"),
        "user_id", ["ts", "event_id"], codes,
        nfa=compile_pattern(pattern), max_carry=max_carry,
    )


def match_recognize_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    pattern: str,
    define: dict[str, str] | None = None,
    max_carry: int = 4096,
    within: str | int | float | None = None,
    after_match: str = "PAST LAST ROW",
) -> DataFrame:
    """Streaming MATCH_RECOGNIZE summary — the incremental twin of
    operators.match_recognize for its ONE-ROW-PER-MATCH aggregate form.
    PATTERN, DEFINE, ``after_match`` and ``within`` compile through the
    batch operator's own front end (``compile_recognizer``), and
    :class:`StreamMatcher` runs each key's rows through the batch
    operator's scanner and preference order.

    Emits one (key, n_matches, longest_match, n_codes, n_aborted) row
    per key per micro-batch, the key under ``key_col``'s own name and
    type, with the totals the batch operator would report on the prefix
    seen so far — the same contract, state bound,
    and ``max_carry`` abort discipline as pattern_match_stream.
    MEASURES are not part of this surface: emission is a count and a
    length per match. ^/$ anchors raise (a stream has no last row), and
    so does PREV/NEXT navigation: a stream has no ordered partition to
    lag over, and physical offsets can reach rows the bounded state no
    longer has. ``after_match`` is 'PAST LAST ROW' (default), 'TO NEXT
    ROW', or 'TO FIRST/LAST <sym>', with the batch operator's SQL:2016
    runtime errors.

    Vectorized DEFINEs become flag columns of one codegen projection.
    SYMBOL-RELATIVE navigation (``FIRST(V.ts)``, ``LAST(B.x, n)``, bare
    ``A.col``) is supported too: those references only ever name rows of
    the CURRENT match attempt, which is exactly the suffix the carry
    persists. Whatever the DEFINEs, the carry is the in-flight attempt's
    rows as tuples: the order key ``ts_col``, the columns the navigation
    DEFINEs read, then the flags, bounded by the ``max_carry`` row cap.

    ``within`` bounds the match DURATION like the batch operator (the
    Flink extension): a row whose ``ts_col`` exceeds the attempt's
    first row by more than the bound ends the attempt (the accepted
    prefix still emits). The bound's type is checked against ``ts_col``
    at plan time (interval for timestamps, plain number for numeric
    keys).

    Cross-batch order contract: per-key rows must arrive in (ts, id)
    order across micro-batches (within a batch they are sorted), same
    as every stateful twin here."""
    from blazingsql_spark.operators.match_recognize import (
        build_truth,
        compile_recognizer,
        flag_list,
    )

    rec = compile_recognizer(
        events.schema, pattern, dict(define or {}), after_match,
        within=within, order_key=ts_col, stream=True,
    )
    val_cols = sorted(rec.used_cols | {ts_col})
    n_vals = len(val_cols)
    coded = rec.classify(events).select(
        *dict.fromkeys([key_col, ts_col, id_col, *val_cols]),
        *rec.flag_cols.values(),
    )

    def rows_of(batch):
        return list(zip(
            *(batch[c].tolist() for c in val_cols),
            *(flag_list(batch[c]) for c in rec.flag_cols.values()),
        ))

    def truth_of(rows):
        cols = list(zip(*rows))
        return build_truth(
            dict(zip(rec.flag_cols, cols[n_vals:])),
            rec.compiled,
            dict(zip(val_cols, cols)),
            len(rows),
        )

    ts_at = val_cols.index(ts_col)

    def within_of(rows):
        return [r[ts_at] for r in rows], rec.within

    return _stream_totals(
        coded, key_col, [ts_col, id_col], rows_of,
        nfa=rec.nfa, truth_of=truth_of, carry=[], max_carry=max_carry,
        skip=rec.skip, read_chars=rec.read_chars,
        within_of=within_of if rec.within is not None else None,
    )

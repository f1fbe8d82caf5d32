"""Streaming CEP pattern matching — differential vs the batch
`events_pattern_match` query and vs Python's regex engine."""

from __future__ import annotations

import random
import re
import time

from pyspark.sql import functions as F

from blazingsql_spark.queries.registry import all_queries, load_table
from blazingsql_spark.streaming import events as st
from blazingsql_spark.streaming.patterns import (
    StreamMatcher,
    char_truth,
    compile_pattern,
    pattern_match_stream,
    scan_rows,
)
from tests.conftest import SF_DIR


def mask_truth(sym_bits):
    """Truth over per-row bitmasks: row ``j`` satisfies every symbol
    whose bit ``sym_bits[ch]`` is set in ``masks[j]``."""
    return lambda masks: lambda j, pos, ch, tent: masks[j] & sym_bits[ch]

PATTERNS = ["vc+p", "vcp", "v?c+p", "c*p", "(vc|cp)e?", "v.p", "ve*c+p", "p+", "v(c|e)+p",
            # prefix alternations: re prefers the LEFT (shorter) branch,
            # and so must the matcher (longest match would take the
            # longer right branch)
            "v|vc", "c|cp", "v(c|cp)",
            # longest match would swallow "vccv" whole
            "vc*(cv)?"]


def test_matcher_matches_re_on_random_streams():
    """Chunk-fed code strings and one-hot bitmasks both equal re."""
    rng = random.Random(20260815)
    bits = {c: 1 << i for i, c in enumerate("vcpes")}
    for pat in PATTERNS:
        nfa = compile_pattern(pat)
        for _ in range(200):
            s = "".join(rng.choice("vcpes") for _ in range(rng.randint(0, 60)))
            ms = [m.group(0) for m in re.finditer(pat, s)]
            want = (len(ms), max((len(m) for m in ms), default=0))
            whole = StreamMatcher(nfa)
            whole.feed(s)
            chunked = StreamMatcher(nfa)
            masks = StreamMatcher(nfa, mask_truth(bits), carry=[])
            i = 0
            while i < len(s):
                k = rng.randint(1, 5)
                chunked.feed(s[i : i + k])
                masks.feed([bits[c] for c in s[i : i + k]])
                i += k
            assert whole.snapshot() == want, (pat, s)
            assert chunked.snapshot() == want, (pat, s)
            if "." not in pat:  # a mask has no wildcard row
                assert masks.snapshot() == want, (pat, s)


def test_matcher_carry_is_bounded():
    m = StreamMatcher(compile_pattern("vc+p"))
    for _ in range(1000):
        m.feed("ssssssssss")
    assert m.carry == ""  # dead prefixes never accumulate
    m.feed("v" + "c" * 50)
    assert len(m.carry) == 51  # only the in-flight attempt persists
    m.feed("p")
    assert m.carry == "" and m.n_matches == 1 and m.longest == 52


def test_compile_rejects_empty_and_malformed():
    import pytest

    for bad in ["c*", "v?", "(c|v)*", "", "(vc", "vc)", "+v", "v||c"]:
        with pytest.raises(ValueError):
            compile_pattern(bad)


def _final_rows(got_pdf):
    return (
        got_pdf.sort_values("n_codes").groupby("user_id").last().reset_index()
    )


def test_pattern_match_stream_matches_batch(spark):
    stream = pattern_match_stream(st.stream_events(spark, SF_DIR))
    got = st.run_to_memory(spark, stream, "t_patterns", output_mode="update")
    want = all_queries()["events_pattern_match"].fn(spark, SF_DIR).toPandas()
    got_pdf = _final_rows(got.toPandas())
    merged = got_pdf.merge(want, on="user_id", suffixes=("_got", "_want"))
    assert len(merged) == len(want)
    assert (merged["n_matches_got"] == merged["n_matches_want"]).all()
    assert (merged["longest_match_got"] == merged["longest_match_want"]).all()


def test_pattern_match_stream_multi_batch(spark, tmp_path):
    """Split the events by time into two files so the matcher crosses a
    real micro-batch boundary mid-attempt, then compare to batch totals."""
    ev = load_table(spark, SF_DIR, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) / 2
    src = str(tmp_path / "ev_stream")
    ev.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(f"{src}/a")
    time.sleep(1.1)  # file-source ordering is by modification time
    ev.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(f"{src}/b")
    raw = (
        spark.readStream.format("parquet")
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    got = st.run_to_memory(
        spark, pattern_match_stream(raw), "t_patterns_mb", output_mode="update"
    )
    got_pdf = _final_rows(got.toPandas())
    want = all_queries()["events_pattern_match"].fn(spark, SF_DIR).toPandas()
    merged = got_pdf.merge(want, on="user_id", suffixes=("_got", "_want"))
    assert len(merged) == len(want)
    assert (merged["n_matches_got"] == merged["n_matches_want"]).all()
    assert (merged["longest_match_got"] == merged["longest_match_want"]).all()
    # the split genuinely produced >1 micro-batch: some user must have
    # emitted two update rows
    assert (got.groupBy("user_id").count().agg(F.max("count")).first()[0] or 0) >= 2


# ---- hypothesis sweep: GENERATED unambiguous patterns vs Python's regex
# engine, whole-feed and randomly-chunked feeds. Pattern grammar: a chain
# of distinct literal atoms each optionally quantified (+ * ?), with the
# constraint that the chain matches at least one character — the
# unambiguous family where leftmost-longest (ours) and leftmost-greedy
# (re/RE2, the batch twin's engine) provably coincide.
from hypothesis import given, settings
from hypothesis import strategies as hst  # NOT `st` — that's the events alias


@hst.composite
def _chain_pattern(draw):
    n = draw(hst.integers(min_value=1, max_value=4))
    atoms = draw(
        hst.lists(
            hst.sampled_from("vcpes"), min_size=n, max_size=n, unique=True
        )
    )
    quants = draw(hst.lists(hst.sampled_from(["", "+", "*", "?"]), min_size=n, max_size=n))
    if all(q in ("*", "?") for q in quants):
        quants[0] = ""  # must not match the empty string
    return "".join(a + q for a, q in zip(atoms, quants))


@settings(max_examples=120, deadline=None)
@given(
    pat=_chain_pattern(),
    text=hst.text(alphabet="vcpes", max_size=80),
    seed=hst.integers(min_value=0, max_value=2**31),
)
def test_matcher_matches_re_generated_patterns(pat, text, seed):
    nfa = compile_pattern(pat)
    ms = [m.group(0) for m in re.finditer(pat, text)]
    want = (len(ms), max((len(m) for m in ms), default=0))
    whole = StreamMatcher(nfa)
    whole.feed(text)
    assert whole.snapshot() == want, (pat, text)
    rnd = random.Random(seed)
    chunked = StreamMatcher(nfa)
    i = 0
    while i < len(text):
        k = rnd.randint(1, 7)
        chunked.feed(text[i : i + k])
        i += k
    assert chunked.snapshot() == want, (pat, text)


def test_matcher_carry_hard_cap_aborts_inflight(spark, tmp_path):
    """The input-dependent carry bound (longest possible single match) is
    unbounded on adversarial streams — e.g. an endless click run under
    'vc+p'. max_carry must hard-cap state: the in-flight attempt is
    aborted, n_aborted says so, and match counting resumes cleanly after
    the abort (ADVICE r8)."""
    import pytest

    nfa = compile_pattern("vc+p")
    m = StreamMatcher(nfa, max_carry=10)
    m.feed("v" + "c" * 5)  # in-flight, under the cap
    assert m.carry == "vccccc" and m.n_aborted == 0
    m.feed("c" * 20)  # blows past the cap -> abort
    assert m.carry == "" and m.n_aborted == 1
    m.feed("p")  # the spanning match is lost (documented trade)
    assert m.n_matches == 0
    m.feed("vcp")  # fresh attempts still match
    assert m.n_matches == 1 and m.n_aborted == 1
    # unbounded-state repro from the ADVICE: state never exceeds the cap
    for _ in range(100):
        m.feed("v" + "c" * 7)
        assert len(m.carry) <= 10
    with pytest.raises(ValueError, match="max_carry"):
        StreamMatcher(nfa, max_carry=0)
    with pytest.raises(ValueError, match="max_carry"):
        pattern_match_stream(st.stream_events(spark, SF_DIR), max_carry=-1)

    # end-to-end through the state store: a degenerate user whose click
    # run exceeds the cap surfaces n_aborted > 0 instead of growing state
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    rows = [(1, i, "view" if i == 0 else "click", i) for i in range(40)]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type", "ts"])
    pdf.to_json(src / "b0.json", orient="records", lines=True)
    raw = (
        spark.readStream.schema(
            "user_id long, event_id long, event_type string, ts long"
        )
        .json(str(src))
    )
    out = pattern_match_stream(raw, max_carry=8)
    q = (
        out.writeStream.format("memory")
        .queryName("t_cap_abort")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t_cap_abort").toPandas()
    final = _final_rows(got)
    row = final[final["user_id"] == 1].iloc[0]
    assert row["n_aborted"] >= 1 and row["n_matches"] == 0


def test_match_recognize_stream_matches_batch_operator(spark, tmp_path):
    """Streaming MATCH_RECOGNIZE twin: per-key totals after the last
    micro-batch equal the batch operator's per-key aggregate on the same
    data (same DEFINE classifier, same NFA), across REAL micro-batch
    boundaries; PREV navigation is rejected on streams."""
    import pandas as pd
    import pytest

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rng = random.Random(9)
    rows = [
        (u, i, rng.choice(["view", "click", "click", "purchase", "error"]), i)
        for u in range(1, 9)
        for i in range(rng.randint(5, 40))
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type", "ts"])
    src = tmp_path / "src"
    src.mkdir()
    # 3 files -> 3 micro-batches, per-user order preserved by ts within files
    third = len(pdf) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_json(src / f"b{i}.json", orient="records", lines=True)
    schema = "user_id long, event_id long, event_type string, ts long"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize_stream(
        raw, "user_id", "ts", "event_id", "V C+ P", define
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_mr_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM t_mr_stream")
        .toPandas()
        .sort_values("n_codes")
        .groupby("user_id")
        .last()
        .reset_index()
    )
    batch_df = spark.createDataFrame(pdf)
    per_match = match_recognize(
        batch_df, ["user_id"], ["ts", "event_id"],
        [("COUNT(*)", "match_len")], "V C+ P", define,
    )
    want = {
        r.user_id: (r.n, r.longest)
        for r in per_match.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("match_len").alias("longest"))
        .collect()
    }
    for _, row in got.iterrows():
        w = want.get(row.user_id, (0, 0))
        assert (row.n_matches, row.longest_match) == w, row.user_id
    assert set(want) <= set(got.user_id)

    with pytest.raises(ValueError, match="navigation"):
        match_recognize_stream(
            raw, "user_id", "ts", "event_id", "U",
            {"U": "ts > PREV(ts)"},
        )


def test_match_recognize_stream_keeps_its_key_column(spark, tmp_path):
    """A stream keyed by a STRING column emits that column, under its own
    name and type, and its per-key totals after the last micro-batch
    equal the batch operator's on the same rows."""
    import pandas as pd

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rng = random.Random(12)
    rows = [
        (f"acct-{u}", i, rng.choice(["view", "click", "click", "purchase"]), i)
        for u in range(1, 7)
        for i in range(rng.randint(5, 30))
    ]
    pdf = pd.DataFrame(rows, columns=["acct", "event_id", "event_type", "ts"])
    src = tmp_path / "src_str"
    src.mkdir()
    third = len(pdf) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_json(src / f"b{i}.json", orient="records", lines=True)
    schema = "acct string, event_id long, event_type string, ts long"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize_stream(raw, "acct", "ts", "event_id", "V C+ P", define)
    assert out.schema.fieldNames()[0] == "acct"
    assert out.schema["acct"].dataType.simpleString() == "string"
    q = (
        out.writeStream.format("memory")
        .queryName("t_mr_str_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.acct: (r.n_matches, r.longest_match)
        for r in spark.sql(
            "SELECT * FROM t_mr_str_stream ORDER BY n_codes"
        ).collect()
    }
    per_match = match_recognize(
        spark.createDataFrame(pdf, schema), ["acct"], ["ts", "event_id"],
        [("COUNT(*)", "match_len")], "V C+ P", define,
    )
    want = {
        r.acct: (r.n, r.longest)
        for r in per_match.groupBy("acct")
        .agg(F.count("*").alias("n"), F.max("match_len").alias("longest"))
        .collect()
    }
    assert want, "no matches to compare"
    assert set(got) == set(pdf["acct"])
    assert {k: got[k] for k in want} == want
    assert all(got[k] == (0, 0) for k in set(got) - set(want))


def test_match_recognize_stream_symbol_relative_nav(spark, tmp_path):
    """Streaming symbol-relative navigation: FIRST(V.ts) in DEFINE
    resumes across REAL micro-batch boundaries (the carry persists the
    in-flight attempt's rows, not just codes) and the final per-key
    totals equal the batch operator on the same data. PREV(S.col) is
    rejected loudly on streams."""
    import pandas as pd
    import pytest

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rng = random.Random(42)
    rows = []
    for u in range(1, 9):
        t = 0
        for i in range(rng.randint(8, 40)):
            t += rng.randint(1, 4)
            rows.append(
                (u, i, rng.choice(["view", "click", "click", "purchase", "error"]), t)
            )
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type", "ts"])
    src = tmp_path / "src_nav"
    src.mkdir()
    third = len(pdf) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_json(src / f"b{i}.json", orient="records", lines=True)
    schema = "user_id long, event_id long, event_type string, ts long"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        # purchase must land within 6 ticks of the view that STARTED the
        # funnel — binds both ways on this cadence (1-4 ticks per event)
        "P": "event_type = 'purchase' AND ts <= FIRST(V.ts) + 6",
    }
    out = match_recognize_stream(
        raw, "user_id", "ts", "event_id", "V C* P", dict(define)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_mr_nav_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM t_mr_nav_stream")
        .toPandas()
        .sort_values("n_codes")
        .groupby("user_id")
        .last()
        .reset_index()
    )
    per_match = match_recognize(
        spark.createDataFrame(pdf), ["user_id"], ["ts", "event_id"],
        [("COUNT(*)", "match_len")], "V C* P", dict(define),
    )
    want = {
        r.user_id: (r.n, r.longest)
        for r in per_match.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("match_len").alias("longest"))
        .collect()
    }
    assert want, "fixture produced no matches - weak test"
    for _, row in got.iterrows():
        w = want.get(row.user_id, (0, 0))
        assert (row.n_matches, row.longest_match) == w, row.user_id
    assert set(want) <= set(got.user_id)

    with pytest.raises(ValueError, match="PREV.*not.*supported on streams"):
        match_recognize_stream(
            raw, "user_id", "ts", "event_id", "A B",
            {"B": "ts > PREV(A.ts)"},
        )


def test_match_recognize_stream_within_bound(spark, tmp_path):
    """Streaming WITHIN: the match-duration bound applies across REAL
    micro-batch boundaries (the in-flight attempt's row values — its
    timestamps included — persist in the carry) and the final per-key
    totals equal the batch operator with the same bound. A bound whose
    type mismatches the order key raises at plan time."""
    import pandas as pd
    import pytest

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rng = random.Random(99)
    rows = []
    for u in range(1, 9):
        t = 0
        for i in range(rng.randint(10, 40)):
            t += rng.randint(1, 5)
            rows.append(
                (u, i, rng.choice(["view", "click", "click", "purchase"]), t)
            )
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type", "ts"])
    src = tmp_path / "src_within"
    src.mkdir()
    third = len(pdf) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_json(src / f"b{i}.json", orient="records", lines=True)
    schema = "user_id long, event_id long, event_type string, ts long"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    define = {
        "V": "event_type = 'view'",
        "C": "event_type = 'click'",
        "P": "event_type = 'purchase'",
    }
    out = match_recognize_stream(
        raw, "user_id", "ts", "event_id", "V C* P", dict(define), within=7
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_mr_within_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM t_mr_within_stream")
        .toPandas()
        .sort_values("n_codes")
        .groupby("user_id")
        .last()
        .reset_index()
    )
    per_match = match_recognize(
        spark.createDataFrame(pdf), ["user_id"], ["ts", "event_id"],
        [("COUNT(*)", "match_len")], "V C* P", dict(define), within=7,
    )
    want = {
        r.user_id: (r.n, r.longest)
        for r in per_match.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("match_len").alias("longest"))
        .collect()
    }
    assert want, "fixture produced no matches - weak test"
    # sanity that the bound BITES: the unbounded batch totals differ
    unbounded = match_recognize(
        spark.createDataFrame(pdf), ["user_id"], ["ts", "event_id"],
        [("COUNT(*)", "match_len")], "V C* P", dict(define),
    ).count()
    assert unbounded != sum(n for n, _ in want.values())
    for _, row in got.iterrows():
        w = want.get(row.user_id, (0, 0))
        assert (row.n_matches, row.longest_match) == w, row.user_id
    assert set(want) <= set(got.user_id)

    with pytest.raises(ValueError, match="WITHIN.*does not fit"):
        match_recognize_stream(
            raw, "user_id", "ts", "event_id", "V C* P", dict(define),
            within="8 HOUR",  # interval bound on a numeric key
        )


def test_match_recognize_stream_accepts_exclusions(spark, tmp_path):
    """{- -} exclusions in a streaming pattern compile (they only affect
    ALL ROWS output, which the summary form never emits) — previously
    the braces became literal NFA characters and the stream reported
    zero matches forever."""
    import pandas as pd

    from blazingsql_spark.streaming.patterns import match_recognize_stream

    pdf = pd.DataFrame(
        [(1, 1, "view", 1), (1, 2, "click", 2), (1, 3, "purchase", 3)],
        columns=["user_id", "event_id", "event_type", "ts"],
    )
    src = tmp_path / "src_excl"
    src.mkdir()
    pdf.to_json(src / "b0.json", orient="records", lines=True)
    raw = (
        spark.readStream.schema(
            "user_id long, event_id long, event_type string, ts long"
        ).json(str(src))
    )
    out = match_recognize_stream(
        raw, "user_id", "ts", "event_id", "V {- C* -} P",
        {"V": "event_type = 'view'", "C": "event_type = 'click'",
         "P": "event_type = 'purchase'"},
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_mr_excl_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT n_matches FROM t_mr_excl_stream ORDER BY n_codes DESC"
    ).collect()
    assert got and got[0].n_matches == 1


def test_nd_stream_matcher_matches_batch_nd_scanner():
    """The bitmask StreamMatcher fed in random chunks must equal one
    batch scan_rows over the whole stream at end-of-input (the carry
    contract) — over random ambiguous truth tables, patterns WITH
    alternation included."""
    rnd = random.Random(20260820)
    for pat in ["ab", "a+b", "ab*c", "(a|b)c", "a|bc", "a{2}b", "ab?c",
                "(ab|ba)+", "a(b|c)*a"]:
        nfa = compile_pattern(pat)
        bits = {"a": 1, "b": 2, "c": 4}
        for _ in range(60):
            size = rnd.randint(0, 24)
            masks = [
                sum(bit for ch, bit in bits.items() if rnd.random() < 0.5)
                for _ in range(size)
            ]
            spans, _ = scan_rows(nfa, mask_truth(bits)(masks), size)
            want_n = len(spans)
            want_longest = max([hi - lo for lo, hi, _ in spans], default=0)

            m = StreamMatcher(nfa, mask_truth(bits), carry=[])
            i = 0
            while i < size:
                step = rnd.randint(1, 6)
                m.feed(masks[i : i + step])
                i += step
            got_n, got_longest = m.snapshot()
            assert (got_n, got_longest) == (want_n, want_longest), (
                pat, masks, spans,
            )
            assert m.n_aborted == 0


def test_match_recognize_stream_nondeterministic_assignment(spark, tmp_path):
    """r12: ambiguous DEFINEs (every row satisfies A and B) on a STREAM
    resolve through SQL:2016 preferment exactly like the batch operator
    — the pre-r12 stream classified first-true and found nothing for
    PATTERN (A B) with overlapping DEFINEs."""
    import pandas as pd

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rows = [(1, i, float(i + 1)) for i in range(8)] + [
        (2, i, float(i + 1)) for i in range(5)
    ]
    pdf = pd.DataFrame(rows, columns=["uid", "seq", "v"])
    src = tmp_path / "src_nd"
    src.mkdir()
    for i in range(3):
        third = len(pdf) // 3
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_json(src / f"b{i}.json", orient="records", lines=True)
    raw = (
        spark.readStream.schema("uid long, seq long, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    define = {"A": "v >= 1", "B": "v >= 1"}
    out = match_recognize_stream(raw, "uid", "seq", "seq", "A B", define)
    q = (
        out.writeStream.format("memory")
        .queryName("t_mr_nd_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM t_mr_nd_stream")
        .toPandas()
        .sort_values("n_codes")
        .groupby("uid")
        .last()
        .reset_index()
    )
    batch_df = spark.createDataFrame(pdf)
    per_match = match_recognize(
        batch_df, ["uid"], ["seq"], [("COUNT(*)", "len")], "A B", define
    )
    want = {
        r.uid: r.n
        for r in per_match.groupBy("uid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for _, row in got.iterrows():
        assert row.n_matches == want.get(row.uid, 0), row.uid
    assert want == {1: 4, 2: 2}  # pairs per partition, sanity

    # anchors are rejected loudly on streams
    import pytest as _pt

    with _pt.raises(ValueError, match="anchors"):
        match_recognize_stream(raw, "uid", "seq", "seq", "^ A B", define)


def test_match_recognize_stream_nav_nondeterministic(spark, tmp_path):
    """Symbol-relative navigation + AMBIGUOUS DEFINEs on a stream —
    every row satisfies the vectorized B while run rows also satisfy
    the navigation A, so the scanner's threads resolve the assignment,
    across REAL micro-batch boundaries (the carry replays the in-flight
    attempt; thread state never persists). Final per-key totals equal
    the batch operator on the same data."""
    import os

    import pandas as pd

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rng = random.Random(20260816)
    rows = []
    for u in range(1, 9):
        for i in range(rng.randint(6, 30)):
            rows.append((u, i, float(rng.randint(0, 9))))
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "v"])
    src = tmp_path / "src_nav_nd"
    src.mkdir()
    third = len(pdf) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        f = src / f"b{i}.json"
        chunk.to_json(f, orient="records", lines=True)
        # the file source triggers oldest-mtime-first; sub-second writes
        # tie, which would deliver micro-batches out of event order — a
        # CEP ingestion contract violation, not what this test pins
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    raw = (
        spark.readStream.schema("user_id long, event_id long, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    # A extends while v stays >= the attempt's first value (navigation);
    # B accepts anything — genuinely nondeterministic at every run row
    define = {"A": "v >= FIRST(A.v)", "B": "v >= 0"}
    out = match_recognize_stream(
        raw, "user_id", "event_id", "event_id", "A+ B", dict(define)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_mr_nav_nd_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM t_mr_nav_nd_stream")
        .toPandas()
        .sort_values("n_codes")
        .groupby("user_id")
        .last()
        .reset_index()
    )
    per_match = match_recognize(
        spark.createDataFrame(pdf), ["user_id"], ["event_id"],
        [("COUNT(*)", "match_len")], "A+ B", dict(define),
    )
    want = {
        r.user_id: (r.n, r.longest)
        for r in per_match.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("match_len").alias("longest"))
        .collect()
    }
    assert want, "fixture produced no matches - weak test"
    for _, row in got.iterrows():
        w = want.get(row.user_id, (0, 0))
        assert (row.n_matches, row.longest_match) == w, row.user_id
    assert set(want) <= set(got.user_id)


def test_reluctant_quantifiers_stream(spark, tmp_path):
    """Late r12: reluctant quantifiers on the streaming path — the
    stream's priority matcher inherits the inverted edge order from
    compile_pattern, so `A+? B` over fully ambiguous rows commits
    pair-matches incrementally instead of one greedy whole-stream
    match."""
    import os

    import pandas as pd

    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rows = [(1, i, float(i)) for i in range(8)]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "v"])
    src = tmp_path / "src_rel"
    src.mkdir()
    half = len(pdf) // 2
    for i in range(2):
        f = src / f"b{i}.json"
        pdf.iloc[i * half : (i + 1) * half].to_json(
            f, orient="records", lines=True
        )
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    raw = (
        spark.readStream.schema("user_id long, event_id long, v double")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    out = match_recognize_stream(
        raw, "user_id", "event_id", "event_id", "A+? B",
        {"A": "v >= 0", "B": "v >= 0"},
    )
    q = (out.writeStream.format("memory").queryName("t_rel_stream")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    last = (
        spark.sql("SELECT * FROM t_rel_stream").toPandas()
        .sort_values("n_codes").groupby("user_id").last().reset_index()
    )
    assert [(r.n_matches, r.longest_match) for _, r in last.iterrows()] == [
        (4, 2)
    ]


def test_stream_skip_to_next_row_matchers_match_batch():
    """AFTER MATCH SKIP TO NEXT ROW on streams (overlapping matches,
    resume at match start + 1) — chunk-fed code-string and bitmask
    matchers equal one batch scan with skip=('next',) on totals, across
    random chunkings. Committed matches all start before the in-flight
    position, so rescans never recount."""

    rnd = random.Random(5)
    bits = {c: 1 << i for i, c in enumerate("abc")}
    for pat in ["ab", "a+b", "ab?c", "(ab)+", "a|bc", "a+?b", "(a|b)+c"]:
        nfa = compile_pattern(pat)
        for _ in range(60):
            s = "".join(rnd.choice("abc") for _ in range(rnd.randint(0, 30)))
            ref, _ = scan_rows(nfa, char_truth(s), len(s), skip=("next",))
            want = (len(ref), max((hi - lo for lo, hi, _ in ref), default=0))
            m = StreamMatcher(nfa, skip=("next",))
            nd = StreamMatcher(nfa, mask_truth(bits), carry=[], skip=("next",))
            masks = [bits[c] for c in s]
            i = 0
            while i < len(s):
                k = rnd.randint(1, 6)
                m.feed(s[i : i + k])
                nd.feed(masks[i : i + k])
                i += k
            assert m.snapshot() == want, (pat, s)
            assert nd.snapshot() == want, (pat, s)


def test_match_recognize_stream_skip_to_next_row(spark, tmp_path):
    """e2e: match_recognize_stream(after_match='TO NEXT ROW') equals the
    batch operator's overlapping-match totals across micro-batches; an
    unsupported streaming SKIP mode raises loudly."""
    import os

    import pandas as pd
    import pytest

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rng = random.Random(77)
    rows = []
    for u in range(1, 7):
        for i in range(rng.randint(5, 25)):
            rows.append(
                (u, i, rng.choice(["view", "click", "click", "purchase"]))
            )
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type"])
    src = tmp_path / "src_skipnext"
    src.mkdir()
    half = len(pdf) // 2
    for i in range(2):
        f = src / f"b{i}.json"
        pdf.iloc[i * half : (i + 1) * half if i < 1 else len(pdf)].to_json(
            f, orient="records", lines=True
        )
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    raw = (
        spark.readStream.schema("user_id long, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    define = {"V": "event_type = 'view'", "C": "event_type = 'click'",
              "P": "event_type = 'purchase'"}
    out = match_recognize_stream(
        raw, "user_id", "event_id", "event_id", "V C* P", dict(define),
        after_match="TO NEXT ROW",
    )
    q = (out.writeStream.format("memory").queryName("t_skipnext")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    last = (
        spark.sql("SELECT * FROM t_skipnext").toPandas()
        .sort_values("n_codes").groupby("user_id").last().reset_index()
    )
    per_match = match_recognize(
        spark.createDataFrame(pdf), ["user_id"], ["event_id"],
        [("COUNT(*)", "len")], "V C* P", dict(define),
        after_match="TO NEXT ROW",
    )
    want = {
        r.user_id: (r.n, r.longest)
        for r in per_match.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("len").alias("longest"))
        .collect()
    }
    assert want, "fixture produced no matches - weak test"
    for _, row in last.iterrows():
        assert (row.n_matches, row.longest_match) == want.get(
            row.user_id, (0, 0)
        ), row.user_id

    # TO FIRST/LAST became supported later in r12 (see
    # test_stream_skip_to_first_last_sym); a malformed mode still raises
    with pytest.raises(ValueError, match="unsupported streaming"):
        match_recognize_stream(
            raw, "user_id", "event_id", "event_id", "V C* P", dict(define),
            after_match="SKIP EVERYTHING",
        )


def test_stream_skip_to_first_last_sym(spark, tmp_path):
    """AFTER MATCH SKIP TO FIRST/LAST <sym> on streams — the committed
    match's codes drive the same _skip_resume (including its SQL:2016
    runtime errors) as the batch scan. Chunk-fed matcher-level
    differential + e2e micro-batch run vs the batch operator."""
    import os

    import pandas as pd
    import pytest

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    rnd = random.Random(11)
    bits = {c: 1 << i for i, c in enumerate("abc")}
    for pat, skip in [("ab+c", ("last", "b")), ("ab+c", ("first", "b")),
                      ("a+bc?", ("last", "a"))]:
        nfa = compile_pattern(pat)
        for trial in range(120):
            size = rnd.randint(0, 25)
            if trial % 2:
                # AMBIGUOUS multi-bit masks: a row may satisfy several
                # symbols — this is what exercises the per-thread
                # assignment chains the fl mode needs (one-hot masks
                # make the committed codes trivial)
                masks = [rnd.randint(1, 7) for _ in range(size)]
            else:
                masks = [bits[rnd.choice("abc")] for _ in range(size)]
            try:
                ref, _ = scan_rows(
                    nfa, mask_truth(bits)(masks), size, skip=skip
                )
                want = (
                    len(ref),
                    max((hi - lo for lo, hi, _ in ref), default=0),
                )
                err = False
            except ValueError:
                err = True
            m = StreamMatcher(nfa, mask_truth(bits), carry=[], skip=skip)
            try:
                i = 0
                while i < size:
                    k = rnd.randint(1, 6)
                    m.feed(masks[i : i + k])
                    i += k
                got = m.snapshot()
                assert not err, (pat, skip, masks, "batch raised, stream not")
                assert got == want, (pat, skip, masks, got, want)
            except ValueError:
                assert err, (pat, skip, masks, "stream raised, batch not")

    # e2e: V C+ P with TO FIRST C — resume at the first click (always
    # strictly inside the match, so the runtime errors never fire here)
    rng = random.Random(123)
    rows = []
    for u in range(1, 7):
        for i in range(rng.randint(6, 24)):
            rows.append(
                (u, i, rng.choice(["view", "click", "click", "purchase"]))
            )
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type"])
    src = tmp_path / "src_skipfl"
    src.mkdir()
    half = len(pdf) // 2
    for i in range(2):
        f = src / f"b{i}.json"
        pdf.iloc[i * half : (i + 1) * half if i < 1 else len(pdf)].to_json(
            f, orient="records", lines=True
        )
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    raw = (
        spark.readStream.schema(
            "user_id long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    define = {"V": "event_type = 'view'", "C": "event_type = 'click'",
              "P": "event_type = 'purchase'"}
    out = match_recognize_stream(
        raw, "user_id", "event_id", "event_id", "V C+ P", dict(define),
        after_match="TO FIRST C",
    )
    q = (out.writeStream.format("memory").queryName("t_skipfl")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    last = (
        spark.sql("SELECT * FROM t_skipfl").toPandas()
        .sort_values("n_codes").groupby("user_id").last().reset_index()
    )
    per_match = match_recognize(
        spark.createDataFrame(pdf), ["user_id"], ["event_id"],
        [("COUNT(*)", "len")], "V C+ P", dict(define),
        after_match="TO FIRST C",
    )
    want = {
        r.user_id: (r.n, r.longest)
        for r in per_match.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("len").alias("longest"))
        .collect()
    }
    assert want, "fixture produced no matches - weak test"
    for _, row in last.iterrows():
        assert (row.n_matches, row.longest_match) == want.get(
            row.user_id, (0, 0)
        ), row.user_id

    with pytest.raises(ValueError, match="unknown symbol"):
        match_recognize_stream(
            raw, "user_id", "event_id", "event_id", "V C+ P", dict(define),
            after_match="TO FIRST Z",
        )


def test_preferment_not_longest_on_every_route(spark, tmp_path):
    """SQL:2016 preferment is not longest match: PATTERN (B A* (A B)?)
    over rows b a a b is two matches, lengths 3 and 1 (greedy A* takes
    both a's, so (A B)? is skipped), as re.finditer says — not one
    match of length 4. Every route runs the same scanner: the batch
    operator with flag columns and with a navigation DEFINE, and the
    streams (MATCH_RECOGNIZE with flag and with navigation DEFINEs, and
    the code string), fed in two micro-batches so the carry replays the
    in-flight attempt."""
    import os

    import pandas as pd

    from blazingsql_spark.operators.match_recognize import match_recognize
    from blazingsql_spark.streaming.patterns import match_recognize_stream

    assert [len(m[0]) for m in re.finditer("ba*(ab)?", "baab")] == [3, 1]
    pdf = pd.DataFrame(
        [(1, i, i, t) for i, t in enumerate("baab")],
        columns=["user_id", "ts", "event_id", "event_type"],
    )
    pattern = "B A* (A B)?"
    vec = {"A": "event_type = 'a'", "B": "event_type = 'b'"}
    nav = {"A": "event_type = 'a' AND FIRST(B.ts) >= 0",
           "B": "event_type = 'b'"}
    for define in (vec, nav):
        got = match_recognize(
            spark.createDataFrame(pdf), ["user_id"], ["ts"],
            [("COUNT(*)", "n")], pattern, dict(define),
        ).collect()
        assert [r.n for r in got] == [3, 1], define

    src = tmp_path / "src_pref"
    src.mkdir()
    for i in range(2):
        f = src / f"b{i}.json"
        pdf.iloc[2 * i : 2 * i + 2].to_json(f, orient="records", lines=True)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    raw = (
        spark.readStream.schema(
            "user_id long, ts long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    streams = {
        "t_pref_masks": match_recognize_stream(
            raw, "user_id", "ts", "event_id", pattern, dict(vec)
        ),
        "t_pref_nav": match_recognize_stream(
            raw, "user_id", "ts", "event_id", pattern, dict(nav)
        ),
        "t_pref_chars": pattern_match_stream(
            raw, "ba*(ab)?", code_map={"a": "a", "b": "b"}
        ),
    }
    for name, out in streams.items():
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        last = spark.sql(
            f"SELECT n_matches, longest_match, n_codes FROM {name} "
            "ORDER BY n_codes DESC LIMIT 1"
        ).collect()
        assert [tuple(r) for r in last] == [(2, 3, 4)], name


def test_streams_resume_from_their_own_checkpoint(spark, tmp_path):
    """A stream stopped after a micro-batch that leaves an attempt in
    flight, then restarted from its checkpoint with the next file, ends
    with the totals of an uninterrupted run: the carry survives the
    restart in the state store. Covers pattern_match_stream and
    match_recognize_stream with flag-only DEFINEs, with FIRST(V.ts) and
    with WITHIN."""
    import os

    import pandas as pd

    from blazingsql_spark.streaming.patterns import match_recognize_stream

    # every key's attempt spans the cut; user 2's second half breaks the
    # FIRST(V.ts) and WITHIN bounds, user 4 first appears after it
    halves = [
        [(1, 0, "view", 1), (1, 1, "click", 2), (2, 0, "view", 1),
         (2, 1, "click", 3), (3, 0, "purchase", 1), (3, 1, "view", 2)],
        [(1, 2, "click", 3), (1, 3, "purchase", 4), (2, 2, "click", 9),
         (2, 3, "purchase", 10), (3, 2, "purchase", 3), (4, 0, "view", 5),
         (4, 1, "purchase", 6)],
    ]
    schema = "user_id long, event_id long, event_type string, ts long"
    flags = {"V": "event_type = 'view'", "C": "event_type = 'click'",
             "P": "event_type = 'purchase'"}
    nav = dict(flags, P="event_type = 'purchase' AND ts <= FIRST(V.ts) + 6")
    operators = {
        "chars": lambda raw: pattern_match_stream(raw, "vc*p"),
        "flags": lambda raw: match_recognize_stream(
            raw, "user_id", "ts", "event_id", "V C* P", flags),
        "nav": lambda raw: match_recognize_stream(
            raw, "user_id", "ts", "event_id", "V C* P", nav),
        "within": lambda raw: match_recognize_stream(
            raw, "user_id", "ts", "event_id", "V C* P", flags, within=7),
    }

    def write(src, i):
        f = src / f"b{i}.json"
        pd.DataFrame(halves[i], columns=["user_id", "event_id", "event_type", "ts"]
                     ).to_json(f, orient="records", lines=True)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    def start(op, src, checkpoint, rows):
        raw = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).json(str(src)))
        return (op(raw).writeStream.outputMode("update")
                .foreachBatch(lambda df, _epoch: rows.extend(df.collect()))
                .option("checkpointLocation", str(checkpoint))
                .trigger(availableNow=True).start())

    def run_all(runs):
        """Run (op, src, checkpoint) queries side by side; each one's
        last row per key as (n_matches, longest, n_codes, n_aborted)."""
        outs = [[] for _ in runs]
        for q in [start(*r, rows) for r, rows in zip(runs, outs)]:
            q.awaitTermination()
        return [
            {r.user_id: (r.n_matches, r.longest_match, r.n_codes, r.n_aborted)
             for r in sorted(rows, key=lambda r: r.n_codes)}
            for rows in outs
        ]

    want_matches = {
        "chars": {1: (1, 4), 2: (1, 4), 3: (1, 2), 4: (1, 2)},
        "flags": {1: (1, 4), 2: (1, 4), 3: (1, 2), 4: (1, 2)},
        "nav": {1: (1, 4), 2: (0, 0), 3: (1, 2), 4: (1, 2)},
        "within": {1: (1, 4), 2: (0, 0), 3: (1, 2), 4: (1, 2)},
    }
    for name in operators:
        for kind, files in (("whole", (0, 1)), ("split", (0,))):
            (tmp_path / name / kind).mkdir(parents=True)
            for i in files:
                write(tmp_path / name / kind, i)
    phase1 = run_all([
        (op, tmp_path / name / kind, tmp_path / name / f"ck_{kind}")
        for name, op in operators.items() for kind in ("whole", "split")
    ])
    for name in operators:
        write(tmp_path / name / "split", 1)
    phase2 = run_all([
        (op, tmp_path / name / "split", tmp_path / name / "ck_split")
        for name, op in operators.items()
    ])
    for i, name in enumerate(operators):
        want, first = phase1[2 * i], phase1[2 * i + 1]
        # the cut left user 1's attempt in flight: no match yet
        assert first[1][:2] == (0, 0), (name, first)
        got = {**first, **phase2[i]}
        assert got == want, (name, got, want)
        assert {k: v[:2] for k, v in want.items()} == want_matches[name], name

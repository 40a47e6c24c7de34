"""Property-based tests (SURVEY §5.2(4)) — hypothesis drives the inputs,
one Spark job verifies a whole batch of examples at once (Spark job latency
makes per-example jobs impractical)."""

import math

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from clickhousedatamocker_spark.functions.scalar import format_readable_size
from clickhousedatamocker_spark.sources.generator import BatchGenerator

_UNITS = ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]


def _format_reference(n: int) -> str:
    """Driver-side reference implementation of ClickHouse formatReadableSize."""
    x = float(n)
    for unit in _UNITS:
        if x < 1024.0 or unit == _UNITS[-1]:
            return f"{x:.2f} {unit}"
        x /= 1024.0
    raise AssertionError


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=50))
def test_format_readable_size_matches_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "b long").select(
        "b", format_readable_size("b").alias("s")
    )
    got = {r["b"]: r["s"] for r in df.collect()}
    for v in values:
        assert got[v] == _format_reference(v), v


@settings(max_examples=4, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n=st.integers(min_value=1, max_value=2000),
)
def test_generator_domains_hold_for_any_seed(spark, seed, n):
    gen = BatchGenerator(spark, seed=seed, base_time="2026-01-01 12:00:00")
    row = (
        gen.batch(n)
        .agg(
            F.min("id").alias("id_lo"),
            F.max("id").alias("id_hi"),
            F.min("user_id").alias("u_lo"),
            F.max("user_id").alias("u_hi"),
            F.min("status").alias("s_lo"),
            F.max("status").alias("s_hi"),
            F.min("value").alias("v_lo"),
            F.max("value").alias("v_hi"),
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct(F.date_format("event_time", "yyyyMMddHH")).alias("n_hours"),
            F.min(F.length("description")).alias("d_lo"),
            F.max(F.length("description")).alias("d_hi"),
        )
        .first()
    )
    assert 1 <= row["id_lo"] and row["id_hi"] < 10**18
    assert 1 <= row["u_lo"] and row["u_hi"] <= 1_000_000
    assert 0 <= row["s_lo"] and row["s_hi"] <= 255
    assert 0 <= row["v_lo"] and row["v_hi"] < 10_000
    assert 1 <= row["n_types"] <= 4
    assert 1 <= row["n_hours"] <= 24  # the 0-23h partition-spread law
    assert row["d_lo"] == row["d_hi"] == 50


@settings(max_examples=3, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_generator_deterministic_under_repartitioning(spark, seed):
    gen = BatchGenerator(spark, seed=seed, base_time="2026-01-01 12:00:00")
    a = gen.batch(500, num_partitions=1).orderBy("id").collect()
    b = gen.batch(500, num_partitions=7).orderBy("id").collect()
    assert a == b


def test_parametric_rewriter_properties():
    """Property tests for the balanced-paren fixpoint rewriter: every
    output balances parens, contains no remaining parametric spelling,
    and is stable (rewriting twice == once). String literals with parens/
    commas and arbitrary nesting must never derail the scan."""
    from hypothesis import given, settings, strategies as st

    from clickhousedatamocker_spark.functions.compat import translate_ch_sql as tr

    names = st.sampled_from(["x", "y", "col1", "nums"])
    pool = ["'(a,b'", "'))('", "'plain'", *_TRICKY_LITS]
    lits = st.sampled_from(["1", "2.5", *pool])

    def exprs(depth):
        if depth == 0:
            return st.one_of(names, lits)
        sub = exprs(depth - 1)
        return st.one_of(
            names,
            lits,
            st.builds(lambda a, b: f"if({a} > 0, {b}, 0)", sub, sub),
            st.builds(lambda f, a: f"arrayMap(x -> {f}, {a})", sub, names),
            st.builds(lambda c, v, e: f"multiIf({c} > 1, {v}, {e})", sub, sub, sub),
            st.builds(lambda f, a: f"arrayFilter(x -> {f} > 0, {a})", sub, names),
        )

    @given(exprs(3))
    @settings(max_examples=200, deadline=None)
    def check(e):
        out = tr(f"SELECT {e} FROM t")
        code = _code(out, pool, e)
        assert _balanced(code), out
        low = code.lower()
        for spelled in ("arraymap(", "arrayfilter(", "multiif("):
            assert spelled not in low, out
        assert tr(out) == out  # idempotent fixpoint

    check()


# -- round-5 clause rewriters: ARRAY JOIN and scalar WITH (pure text) --------

# prefixed so generated names never collide with SQL keywords, the fixture
# table name, or each test's own column spellings
_IDENT = st.from_regex(r"c_[a-z0-9_]{0,5}", fullmatch=True)


# string literals whose payload looks like code to a rewrite that mistakes
# what a literal is: an escaped quote, a comment opener, closers, a
# statement separator and an alias keyword
_TRICKY_LITS = [r"'it\'s)'", "'a--b'", "'x]; y'", "' AS z'"]


def _code(out: str, pool, given: str = "") -> str:
    """``out`` with each literal of ``pool`` blanked, after checking that
    every literal of ``given`` (the rewrite's input) reached ``out``
    verbatim, as often as the input holds it."""
    for lit in sorted(pool, key=len, reverse=True):
        assert out.count(lit) == given.count(lit), (lit, out)
        out = out.replace(lit, " ")
    return out


def _balanced(code: str) -> bool:
    """Literal-free text: no quote left, parentheses balanced."""
    depth = 0
    for c in code:
        if c in "'\"":
            return False
        depth += {"(": 1, ")": -1}.get(c, 0)
        if depth < 0:
            return False
    return depth == 0


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_IDENT, min_size=1, max_size=3, unique=True),
    st.booleans(),
    st.booleans(),
)
def test_array_join_rewrite_laws(arrs, left, aliased):
    from clickhousedatamocker_spark.functions.compat import _rewrite_array_join

    items = ", ".join(f"{a} AS x_{a}" if aliased else a for a in arrs)
    sql = f"SELECT id FROM t {'LEFT ' if left else ''}ARRAY JOIN {items} WHERE id > 0"
    out = _rewrite_array_join(sql)
    # laws: the CH spelling is gone, parens stay balanced, LEFT -> OUTER,
    # the rewrite is a fixpoint, and string literals never change
    assert "ARRAY JOIN" not in out.upper().replace("LATERAL VIEW", "")
    assert _balanced(_code(out, []))
    assert ("OUTER" in out) == left
    assert _rewrite_array_join(out) == out
    lit = "SELECT 'keep ARRAY JOIN here' AS s FROM t"
    assert _rewrite_array_join(lit) == lit


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_IDENT, min_size=1, max_size=3, unique=True),
    st.integers(min_value=0, max_value=99),
    st.sampled_from(_TRICKY_LITS),
)
def test_scalar_with_rewrite_laws(names, k, lit):
    from clickhousedatamocker_spark.functions.compat import _rewrite_scalar_with

    clause = ", ".join(f"{k} + {i} AS {n}" for i, n in enumerate(names))
    sql = (
        f"WITH {clause}, {lit} AS lit_v SELECT {' + '.join(names)} AS total, "
        f"lit_v AS s FROM t WHERE {names[0]} > 0"
    )
    out = _rewrite_scalar_with(sql)
    # laws: no scalar-WITH prefix survives, every alias inlined as a
    # parenthesized expression (the literal verbatim), balanced, fixpoint,
    # CTE form untouched
    assert not out.upper().lstrip().startswith("WITH")
    for i, n in enumerate(names):
        assert f"({k} + {i})" in out
    assert f"({lit}) AS s" in out
    assert _balanced(_code(out, [lit], lit))
    assert _rewrite_scalar_with(out) == out
    cte = f"WITH {names[0]} AS (SELECT 1 AS x) SELECT x FROM {names[0]}"
    assert _rewrite_scalar_with(cte) == cte


def test_bracket_rewriter_properties():
    """Property tests for the bracket pass (dialect batch 4): every output
    is bracket-free outside string literals, paren-balanced, and a fixpoint
    of the full translator. Literals vs subscripts must be distinguished
    after keywords, function results, and chained indexes; brackets inside
    string literals are data and survive verbatim."""
    from hypothesis import given, settings, strategies as st

    from clickhousedatamocker_spark.functions.compat import translate_ch_sql as tr

    names = st.sampled_from(["x", "y", "col1", "t.arr"])
    pool = ["'[1,2]'", "'a,b]'", "'plain'", "','", *_TRICKY_LITS]
    lits = st.sampled_from(["1", "2.5", *pool])

    def exprs(depth):
        if depth == 0:
            return st.one_of(names, lits)
        sub = exprs(depth - 1)
        return st.one_of(
            names,
            lits,
            st.builds(lambda a, b: f"[{a}, {b}]", sub, sub),
            st.builds(lambda a: f"[{a}]", sub),
            st.builds(lambda n, i: f"{n}[{i}]", names, sub),
            st.builds(lambda a, i: f"splitByChar(',', {a})[{i}]", sub, sub),
            st.builds(lambda a, b, i: f"[{a}, {b}][{i}]", sub, sub, sub),
            st.builds(lambda c, a, b: f"CASE WHEN {c} > 0 THEN [{a}] ELSE [{b}] END", sub, sub, sub),
        )

    @given(exprs(3))
    @settings(max_examples=200, deadline=None)
    def check(e):
        out = tr(f"SELECT {e} AS v FROM t")
        # string-literal payloads survive byte-for-byte; the code around
        # them is bracket-free and balanced
        code = _code(out, pool, e)
        assert "[" not in code and _balanced(code), out
        assert tr(out) == out, out  # full-translator fixpoint

    check()


def test_cast_operator_rewriter_properties():
    """Property tests for the ``::Type`` pass (round-5 syntax batch): the
    output is '::'-free outside string literals, paren-balanced, a
    full-translator fixpoint, and '::' inside string literals survives
    byte-for-byte (IPv6 spellings are data)."""
    from hypothesis import given, settings, strategies as st

    from clickhousedatamocker_spark.functions.compat import translate_ch_sql as tr

    types = st.sampled_from(["Int64", "Float64", "String", "Nullable(String)", "UInt8"])
    operands = st.sampled_from(["5", "x", "t.col1", "'5'", "'::1'", "(1 + 2)", "concat('a', 'b')"])

    def exprs(depth):
        if depth == 0:
            return operands
        sub = exprs(depth - 1)
        return st.one_of(
            operands,
            st.builds(lambda o, t: f"{o}::{t}", sub, types),
            st.builds(lambda a, b: f"({a} + {b})", sub, sub),
        )

    def balanced_and_castop_free(s: str) -> bool:
        depth, quote, i = 0, None, 0
        while i < len(s):
            ch = s[i]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == ":" and i + 1 < len(s) and s[i + 1] == ":":
                return False
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return False
            i += 1
        return depth == 0 and quote is None

    @given(exprs(3))
    @settings(max_examples=200, deadline=None)
    def check(e):
        out = tr(f"SELECT {e} AS v FROM t")
        assert balanced_and_castop_free(out), out
        assert tr(out) == out, out
        if "'::1'" in e:
            assert "'::1'" in out, out

    check()


def test_brace_map_rewriter_properties():
    """Property tests for the ``{'k': v}`` map-literal pass: outputs are
    brace-free outside string literals and parameter placeholders,
    paren-balanced, fixpoints; braces inside string literals survive."""
    from hypothesis import given, settings, strategies as st

    from clickhousedatamocker_spark.functions.compat import translate_ch_sql as tr

    key_lits = ["'a'", "'k2'", "'with {brace}'", r"'k\'}'", "'a:b'"]
    val_lits = ["'v'", "'{not: a map}'", *_TRICKY_LITS]
    pool = key_lits + val_lits
    keys = st.sampled_from(["1", *key_lits])
    vals0 = st.sampled_from(["1", "2.5", "x", *val_lits])

    def maps(depth):
        v = vals0 if depth == 0 else st.one_of(vals0, maps(depth - 1))
        return st.builds(
            lambda k1, v1, k2, v2: f"{{{k1}: {v1}, {k2}: {v2}}}", keys, v, keys, v
        )

    @given(maps(2))
    @settings(max_examples=150, deadline=None)
    def check(e):
        out = tr(f"SELECT {e} AS v")
        code = _code(out, pool, e)
        assert "{" not in code and "}" not in code and _balanced(code), out
        assert tr(out) == out, out

    check()


def test_macro_expansion_properties():
    """Property tests for CREATE FUNCTION macro expansion: balanced
    output, no surviving macro names outside literals, nesting expands,
    and argument text containing regex-special characters passes through
    verbatim (the substitution must never re-interpret it)."""
    from hypothesis import given, settings, strategies as st

    from clickhousedatamocker_spark.functions.compat import expand_sql_macros

    macros = {
        "mac1": {"params": ["x"], "body": "x + 1"},
        "mac2": {"params": ["a", "b"], "body": "mac1(a) * b"},
    }
    args = st.sampled_from(["1", "y", "'mac1(9)'", "concat('\\\\', 'x')", "(2 + 3)"])

    @given(args, args)
    @settings(max_examples=150, deadline=None)
    def check(a1, a2):
        out = expand_sql_macros(f"SELECT mac2({a1}, {a2}) AS v", macros)
        depth, quote = 0, None
        low = []
        for ch in out:
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            else:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    assert depth >= 0, out
                low.append(ch.lower())
        assert depth == 0 and quote is None, out
        outside = "".join(low)
        assert "mac1(" not in outside and "mac2(" not in outside, out
        # literal payload untouched
        if a1 == "'mac1(9)'" or a2 == "'mac1(9)'":
            assert "'mac1(9)'" in out, out

    check()

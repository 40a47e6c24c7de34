"""ClickHouse-SQL → Spark compatibility shim.

Queries: small textual rewrites so the reference's monitoring .sql files
(sql/query_metrics.sql, sql/query_parts.sql) run VERBATIM via ``Engine.sql``:

- ``count()``            → ``count(*)``      (CH allows zero-arg count)
- ``system.metrics``     → ``system_metrics`` (our introspection views)
- ``system.parts``       → ``system_parts``
- CH aggregate spellings → Spark aggregates (uniqExact/uniq/countIf/
  anyLast/quantileExact(p)(x)/groupArray/groupUniqArray); the scalar
  vocabulary (toStartOfHour, toYYYYMMDD, intDiv, …) is registered as
  inlined SQL UDFs in functions/scalar.py instead.

``toYYYYMMDDhh`` / ``formatReadableSize`` / ``currentDatabase`` need no
rewriting — they are registered as SQL-defined functions
(functions/scalar.py).

DDL: :func:`parse_ch_ddl` parses the reference's DDL dialect — CREATE TABLE
with ENGINE=MergeTree/Replacing-/Summing-/CollapsingMergeTree, PARTITION BY/
ORDER BY/TTL/SETTINGS (create_local.sql), CREATE TABLE … AS … ENGINE=
Distributed (create_distributed.sql), DROP TABLE, and ALTER … MODIFY
SETTING (set_flow_control.sh:35-40) — into catalog calls, so the COMPLETE
reference SQL surface (DDL + queries) runs verbatim. Beyond the reference:
CTAS, CREATE MATERIALIZED VIEW, INSERT … SELECT / … FORMAT,
ALTER … DELETE/UPDATE WHERE, OPTIMIZE/TRUNCATE/SHOW/DESCRIBE/EXISTS
(:func:`parse_ch_insert` + the statement ops below).
"""

from __future__ import annotations

import bisect
import re
import socket as _socket
import time as _time
import uuid as _uuid

from pyspark.sql import types as T

_MODULE_START = _time.time()
_SERVER_UUID = str(_uuid.uuid4())  # stable for the process, like CH's serverUUID


# -- the SQL scanner ---------------------------------------------------------
#
# Every rewrite that must tell code from data asks this scanner, so they all
# agree on one lexical rule. A string literal is '...' or "..." in which a
# backslash escapes the next character (ClickHouse and Spark both read \' as
# a quote inside the literal; a doubled '' closes one literal and opens the
# next, which scans the same). A comment runs from -- to the end of the
# line. Literals and comments hold no code: their characters are never
# yielded, and their brackets never move the depth.

_OPAQUE_RE = re.compile(r"'(?:[^'\\]|\\.)*'?|\"(?:[^\"\\]|\\.)*\"?|--[^\n]*", re.DOTALL)


def _opaque_spans(sql: str) -> list[tuple[int, int]]:
    """``[start, end)`` of every string literal and comment in ``sql``."""
    return [m.span() for m in _OPAQUE_RE.finditer(sql)]


def scan(sql: str, start: int = 0, depth: int = 0):
    """Yield ``(i, sql[i], depth)`` for each character of ``sql[start:]``
    outside string literals and comments. ``depth`` counts the ``(`` and
    ``[`` open around the character, from the given ``depth`` at ``start``;
    an opener and its closer both report the depth outside the pair.
    ``start`` must not fall inside a literal or comment."""
    n = len(sql)
    while start < n:
        m = _OPAQUE_RE.search(sql, start)
        end = n if m is None else m.start()
        for i in range(start, end):
            c = sql[i]
            if c in ")]":
                depth -= 1
                yield i, c, depth
            else:
                yield i, c, depth
                if c in "([":
                    depth += 1
        if m is None:
            return
        start = m.end()


def find_top(sql: str, pattern: "re.Pattern", start: int = 0) -> "re.Match | None":
    """The first match of ``pattern`` that begins at a depth-0 code
    position of ``sql[start:]``."""
    if pattern.search(sql, start) is None:
        return None
    for i, _, d in scan(sql, start):
        if d == 0:
            m = pattern.match(sql, i)
            if m is not None:
                return m
    return None


def _in_spans(spans: list[tuple[int, int]], p: int) -> bool:
    k = bisect.bisect_right(spans, (p, float("inf"))) - 1
    return k >= 0 and p < spans[k][1]


def _search_code(pattern: "re.Pattern", sql: str, pos: int = 0) -> "re.Match | None":
    """The first match of ``pattern`` at or after ``pos`` that begins
    outside every string literal and comment."""
    spans = None
    for m in pattern.finditer(sql, pos):
        if spans is None:
            spans = _opaque_spans(sql)
        if not _in_spans(spans, m.start()):
            return m
    return None


def _sub_outside_strings(pattern: "re.Pattern", repl, sql: str) -> str:
    """pattern.sub, except matches that START inside a string literal or a
    comment stay verbatim. Matches may still SPAN literals — the
    dictGet/JSONExtract rewrites take quoted arguments, and their match
    starts on the function name, outside any literal."""
    spans = None

    def guarded(m: "re.Match") -> str:
        nonlocal spans
        if spans is None:
            spans = _opaque_spans(sql)
        if _in_spans(spans, m.start()):
            return m.group(0)
        return repl(m) if callable(repl) else m.expand(repl)

    return pattern.sub(guarded, sql)


def _scan_balanced(sql: str, start: int) -> int:
    """Return the index just past the ')' closing the '(' at start-1.
    Raises on imbalance."""
    for i, c, d in scan(sql, start, 1):
        if d == 0 and c == ")":
            return i + 1
    raise ValueError("unbalanced parens")


def _openers(sql: str, end: int) -> dict[int, int]:
    """Map each closing ``)``/``]`` in ``sql[:end]`` to its opener — how a
    backward walk over a postfix operand skips a balanced group."""
    stack, out = [], {}
    for i, c, _ in scan(sql[:end]):
        if c in "([":
            stack.append(i)
        elif c in ")]" and stack:
            out[i] = stack.pop()
    return out


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/bracket depth 0, outside string literals —
    so parameterized types (``Decimal(10,2)``, ``Enum8('a'=1,'b'=2)``),
    bracket literals (``[1,2]``), and quoted defaults never split a column
    definition in half."""
    cuts = [i for i, c, d in scan(s) if c == sep and d == 0]
    out = [s[a + 1 : b] for a, b in zip([-1] + cuts, cuts + [len(s)])]
    return [p for p in (p.strip() for p in out) if p]


def _remote_table(db: str | None, table: str | None, db2: str | None = None) -> str:
    """Resolve remote()/cluster() spellings to the local table name: every
    shard lives in this one engine, so the function IS the table — unless a
    non-default database is named, which cannot resolve here."""
    d = db or db2
    if d in (None, "default"):
        return table
    raise NotImplementedError(
        f"remote/cluster: database {d!r} is not the current "
        "database; only default-database tables resolve"
    )


# Per-query SETTINGS keys that are pure tuning: they steer CH's scheduler /
# memory manager / cache and never change the result set. Spark has its own
# scheduler, so these drop silently (the reference's insert_data.sh and any
# pasted CH query keep running). Everything else is treated as
# result-changing and must be routed (Engine) or refused (bare translate).
_TUNING_QUERY_SETTINGS = frozenset(
    {
        "max_threads",
        "max_memory_usage",
        "max_memory_usage_for_user",
        "max_execution_time",
        "max_block_size",
        "max_insert_block_size",
        "min_insert_block_size_rows",
        "min_insert_block_size_bytes",
        "max_insert_threads",
        "max_rows_to_read",
        "max_bytes_to_read",
        "max_bytes_before_external_group_by",
        "max_bytes_before_external_sort",
        "use_query_cache",
        "enable_reads_from_query_cache",
        "enable_writes_to_query_cache",
        "log_queries",
        "send_logs_level",
        "priority",
        "optimize_read_in_order",
        "distributed_product_mode",
        "async_insert",
        "wait_for_async_insert",
        "insert_quorum",
        "send_timeout",
        "receive_timeout",
        "connect_timeout",
        "allow_experimental_analyzer",
        "use_uncompressed_cache",
        "readonly",
    }
)

# Result-changing per-query SETTINGS the ENGINE knows how to route (see
# Engine._route_query_settings): listed here so the refusal message can say
# "run this through Engine.sql" instead of a generic unknown-setting error.
_SEMANTIC_QUERY_SETTINGS = frozenset(
    {"final", "limit", "offset", "join_use_nulls", "max_result_rows"}
)


def parse_query_settings(spec: str) -> dict[str, str]:
    """``k = v, k2 = v2`` → dict (keys lowercased, quotes stripped)."""
    out: dict[str, str] = {}
    for part in spec.split(","):
        k, v = part.split("=", 1)
        out[k.strip().lower()] = v.strip().strip("'\"")
    return out


_QUERY_SETTINGS_RE = re.compile(
    r"\sSETTINGS\s+(\w+\s*=\s*[\w.'\"]+(?:\s*,\s*\w+\s*=\s*[\w.'\"]+)*)\s*(;?)\s*$",
    re.IGNORECASE,
)


def extract_query_settings(query: str) -> tuple[str, dict[str, str]]:
    """Split a trailing ``SETTINGS k=v, ...`` clause off a query →
    (query-without-clause, settings dict). The engine calls this BEFORE
    translation so result-changing settings can be routed onto real
    machinery; tuning-only clauses may also just flow through translation,
    which drops them."""
    m = _search_code(_QUERY_SETTINGS_RE, query)
    if m is None:
        return query, {}
    return query[: m.start()] + m.group(2), parse_query_settings(m.group(1))


def _drop_tuning_settings_or_raise(m: "re.Match[str]") -> str:
    settings = parse_query_settings(m.group(1))
    bad = sorted(k for k in settings if k not in _TUNING_QUERY_SETTINGS)
    if bad:
        routed = [k for k in bad if k in _SEMANTIC_QUERY_SETTINGS]
        hint = (
            f"run the query through Engine.sql, which routes {routed} onto real "
            "machinery (final=1 -> FROM ... FINAL, limit/offset -> outer "
            "LIMIT/OFFSET)"
            if routed
            else "if it is a pure tuning knob, add it to _TUNING_QUERY_SETTINGS"
        )
        raise NotImplementedError(
            f"per-query SETTINGS {bad} can change the RESULT - refusing to "
            f"silently drop them; {hint}"
        )
    return m.group(2)


def _null_table_function(spec: str) -> str:
    """null('a UInt32, b String') → a typed EMPTY inline relation.
    Paren-aware split so parameterized types (Decimal(10, 2), Map(...),
    Tuple(...)) keep their commas."""
    cols = []
    for part in _split_top(spec):
        part = part.strip()
        if not part:
            continue
        name, _, tstr = part.partition(" ")
        if not tstr.strip():
            raise NotImplementedError(
                f"null(...): column spec {part!r} needs 'name Type'"
            )
        dt, _nullable = parse_ch_type(tstr.strip())
        cols.append(f"CAST(NULL AS {dt.simpleString()}) AS {name}")
    if not cols:
        raise NotImplementedError("null(...) needs at least one column")
    return "(SELECT " + ", ".join(cols) + " WHERE false)"


_REWRITES = [
    (re.compile(r"\bcount\(\s*\)", re.IGNORECASE), "count(*)"),
    (re.compile(r"\bsystem\.metrics\b", re.IGNORECASE), "system_metrics"),
    (re.compile(r"\bsystem\.parts\b", re.IGNORECASE), "system_parts"),
    (re.compile(r"\bsystem\.tables\b", re.IGNORECASE), "system_tables"),
    (re.compile(r"\bsystem\.columns\b", re.IGNORECASE), "system_columns"),
    (re.compile(r"\bsystem\.query_log\b", re.IGNORECASE), "system_query_log"),
    (re.compile(r"\bsystem\.detached_parts\b", re.IGNORECASE), "system_detached_parts"),
    (re.compile(r"\bsystem\.merges\b", re.IGNORECASE), "system_merges"),
    (re.compile(r"\bsystem\.projections\b", re.IGNORECASE), "system_projections"),
    (re.compile(r"\bsystem\.mutations\b", re.IGNORECASE), "system_mutations"),
    (re.compile(r"\bsystem\.settings\b", re.IGNORECASE), "system_settings"),
    (re.compile(r"\bsystem\.functions\b", re.IGNORECASE), "system_functions"),
    (re.compile(r"\bsystem\.databases\b", re.IGNORECASE), "system_databases"),
    (re.compile(r"\bsystem\.processes\b", re.IGNORECASE), "system_processes"),
    (re.compile(r"\bsystem\.disks\b", re.IGNORECASE), "system_disks"),
    # system.one: CH's 1-row dummy table (what `SELECT 1` reads implicitly)
    (
        re.compile(r"\bsystem\.one\b", re.IGNORECASE),
        "(SELECT CAST(0 AS TINYINT) AS dummy)",
    ),
    # remote()/cluster() table functions: every shard lives in this one
    # engine (the Distributed engine here routes to local parts), so the
    # functions resolve to the named table directly; the db must be the
    # current database spelling CH uses ('default')
    (
        re.compile(
            r"\b(?:remote|remoteSecure|cluster|clusterAllReplicas)\(\s*'[^']*'\s*,\s*"
            r"(?:'(\w+)(?:\.(\w+))?'|(?:(\w+)\.)?(\w+))\s*(?:,\s*'(\w+)'\s*)?\)",
            re.IGNORECASE,
        ),
        lambda m: _remote_table(
            # quoted 'db.table' | quoted 'db','table' | bare db.table | bare table
            db=m.group(1) if m.group(2) or m.group(5) else None,
            table=m.group(2)
            or (m.group(5) if m.group(1) else None)
            or m.group(1)
            or m.group(4),
            db2=m.group(3),
        ),
    ),
    # external-database table functions: no DBMS to dial in this
    # environment, and the Spark-native path is the JDBC source anyway
    (
        re.compile(
            r"\b(mysql|postgresql|mongodb|redis|sqlite|odbc|jdbc)\(\s*'", re.IGNORECASE
        ),
        lambda m: (_ for _ in ()).throw(NotImplementedError(
            f"the {m.group(1)}() table function dials an external DBMS, "
            "absent in this environment - on a real cluster use Spark's "
            "JDBC source (spark.read.format('jdbc').option('url', ...)) "
            "or the connector for that store; for local data use "
            "file('path', 'Format', 'structure')"
        )),
    ),
    # network-source table functions: no network in this environment
    (
        re.compile(r"\b(url|s3|s3Cluster|hdfs|azureBlobStorage|gcs)\(\s*'", re.IGNORECASE),
        lambda m: (_ for _ in ()).throw(NotImplementedError(
            f"the {m.group(1)}() table function needs network access, absent "
            "in this environment - download the object and use "
            "file('path', 'Format', 'structure') instead; on a real cluster "
            "read the native spark source (s3a://, abfss://, ...) directly"
        )),
    ),
    # CH aggregate spellings → Spark aggregates (name-only rewrites: the
    # argument list that follows is valid for the target function, so a
    # paren-aware parser isn't needed). SQL UDFs can't define aggregates,
    # hence text rewrites rather than register_sql_functions entries.
    # -State / -Merge combinators (the AggregatingMergeTree discipline:
    # store partial aggregate states per insert block, merge on read).
    # uniq's state is a Spark DataSketches HLL binary (hll_sketch_agg);
    # union of partial sketches IS the global sketch, so
    # uniqMerge(uniqState-parts) == the direct sketch estimate exactly.
    # Algebraic aggregates use their natural partials: sum/min/max merge
    # with themselves, count merges with SUM, avg's state is a
    # (sum, count) struct. State args take one balanced paren group.
    (re.compile(r"\buniqState\(", re.IGNORECASE), "hll_sketch_agg("),
    (
        re.compile(r"\buniqMerge\(\s*((?:[^(),]|\([^()]*\))+?)\s*\)", re.IGNORECASE),
        r"hll_sketch_estimate(hll_union_agg(\1))",
    ),
    (
        re.compile(r"\bavgState\(\s*((?:[^(),]|\([^()]*\))+?)\s*\)", re.IGNORECASE),
        r"named_struct('s', sum(\1), 'c', count(\1))",
    ),
    (
        re.compile(r"\bavgMerge\(\s*((?:[^(),]|\([^()]*\))+?)\s*\)", re.IGNORECASE),
        r"(sum((\1).s) / sum((\1).c))",
    ),
    (re.compile(r"\bsumState\(", re.IGNORECASE), "sum("),
    (re.compile(r"\bsumMerge\(", re.IGNORECASE), "sum("),
    (re.compile(r"\bminState\(", re.IGNORECASE), "min("),
    (re.compile(r"\bminMerge\(", re.IGNORECASE), "min("),
    (re.compile(r"\bmaxState\(", re.IGNORECASE), "max("),
    (re.compile(r"\bmaxMerge\(", re.IGNORECASE), "max("),
    (re.compile(r"\bcountState\(\s*\)", re.IGNORECASE), "count(*)"),
    (re.compile(r"\bcountState\(", re.IGNORECASE), "count("),
    (re.compile(r"\bcountMerge\(", re.IGNORECASE), "sum("),
    (re.compile(r"\buniqExact\(", re.IGNORECASE), "count(DISTINCT "),
    # -Distinct combinators: aggregate over the distinct value set
    (re.compile(r"\bsumDistinct\(", re.IGNORECASE), "sum(DISTINCT "),
    (re.compile(r"\bavgDistinct\(", re.IGNORECASE), "avg(DISTINCT "),
    (re.compile(r"\bcountDistinct\(", re.IGNORECASE), "count(DISTINCT "),
    (re.compile(r"\buniq(?:Combined64|Combined|HLL12)?\(", re.IGNORECASE), "approx_count_distinct("),
    # -SimpleState: SimpleAggregateFunction's state IS the value — the
    # combinator strips to the base aggregate
    (
        re.compile(r"\b(sum|min|max|count|avg|anyLast|any)SimpleState\(", re.IGNORECASE),
        lambda m: {
            "sum": "sum(", "min": "min(", "max": "max(", "count": "count(",
            "avg": "avg(", "anylast": "last(", "any": "any_value(",
        }[m.group(1).lower()],
    ),
    # -OrNull: NULL on the empty set — Spark's aggregates already return
    # NULL over zero rows (CH's bare sum returns 0), so the names map clean
    (
        re.compile(r"\b(sum|min|max|avg)OrNull\(", re.IGNORECASE),
        lambda m: m.group(1).lower() + "(",
    ),
    (re.compile(r"\bcountIf\(", re.IGNORECASE), "count_if("),
    (re.compile(r"\banyLast\(", re.IGNORECASE), "last("),
    # argMax(a, b) keeps CH's arg order — Spark's max_by/min_by share it
    (re.compile(r"\bargMax\(", re.IGNORECASE), "max_by("),
    (re.compile(r"\bargMin\(", re.IGNORECASE), "min_by("),
    # parametric form quantileExact(p)(expr) → percentile(expr, p); the
    # inner-arg pattern is paren-free — enough for column refs, the
    # overwhelmingly common case
    (
        re.compile(r"\bquantileExact\(([0-9.]+)\)\(([^()]*)\)", re.IGNORECASE),
        r"percentile(\2, \1)",
    ),
    # sketch-backed quantile spellings: CH's default quantile() and the
    # TDigest family are approximate — Spark's percentile_approx is the
    # same contract (different sketch; values may differ at equal accuracy)
    (
        re.compile(r"\bquantile(?:TDigest|Timing|BFloat16)?\(([0-9.]+)\)\(([^()]*)\)", re.IGNORECASE),
        r"percentile_approx(\2, \1)",
    ),
    # quantilesExact(p1, p2, ...)(x) → exact percentile with an array of ps
    # (returns one ARRAY row, CH's shape)
    (
        re.compile(r"\bquantilesExact\(([0-9.,\s]+)\)\(([^()]*)\)", re.IGNORECASE),
        r"percentile(\2, array(\1))",
    ),
    (
        re.compile(r"\bquantiles(?:TDigest|Timing|BFloat16)?\(([0-9.,\s]+)\)\(([^()]*)\)", re.IGNORECASE),
        r"percentile_approx(\2, array(\1))",
    ),
    # groupArray(n)(x): first n collected values (collection order is
    # arbitrary in both engines)
    (
        re.compile(r"\bgroupArray\((\d+)\)\(([^()]*)\)", re.IGNORECASE),
        r"slice(collect_list(\2), 1, \1)",
    ),
    (re.compile(r"\bgroupArray\(", re.IGNORECASE), "collect_list("),
    (re.compile(r"\bgroupUniqArray\(", re.IGNORECASE), "collect_set("),
    # anyHeavy: CH's heavy-hitter pick == the modal value (mode is a valid
    # heavy-hitter answer; CH's is sampling-approximate, ours exact)
    (re.compile(r"\banyHeavy\(", re.IGNORECASE), "mode("),
    (re.compile(r"\buniqTheta\(", re.IGNORECASE), "approx_count_distinct("),
    # -Stable combinators: numeric-stability variants — Spark's aggregates
    # are already compensated, the suffix drops
    (re.compile(r"\b(corr|covarPop|covarSamp|stddevPop|stddevSamp|varPop|varSamp)Stable\(", re.IGNORECASE),
     lambda m: {
         "corr": "corr(", "covarpop": "covar_pop(", "covarsamp": "covar_samp(",
         "stddevpop": "stddev_pop(", "stddevsamp": "stddev_samp(",
         "varpop": "var_pop(", "varsamp": "var_samp(",
     }[m.group(1).lower()]),
    # quantileExactLow/High: EXACT element picks from the sorted multiset
    # (CH's contract — low/high median for even n, never interpolated).
    # Low: CH special-cases level 0.5 to the LOWER median (1-based
    # ceil(n/2)); every other level is 0-based floor(n*level), i.e.
    # 1-based floor(n*level)+1 capped at n — the round-5 advisory caught
    # ceil(n*p) picking one element early exactly when n*p is integral
    # (quantileExactLow(0.25) over 8 rows: CH element 3, ceil gave 2).
    # High = element floor(n*p)+1 (capped at n).
    (
        re.compile(r"\bquantileExactLow\(([0-9.]+)\)\(([^()]*)\)", re.IGNORECASE),
        lambda m: (
            f"element_at(array_sort(collect_list({m.group(2)})), "
            f"greatest(CAST(ceil(count({m.group(2)}) * {m.group(1)}) AS INT), 1))"
            if float(m.group(1)) == 0.5
            else f"element_at(array_sort(collect_list({m.group(2)})), "
            f"greatest(least(CAST(floor(count({m.group(2)}) * {m.group(1)}) AS INT) + 1, "
            f"CAST(count({m.group(2)}) AS INT)), 1))"
        ),
    ),
    (
        re.compile(r"\bquantileExactHigh\(([0-9.]+)\)\(([^()]*)\)", re.IGNORECASE),
        lambda m: (
            f"element_at(array_sort(collect_list({m.group(2)})), "
            f"least(CAST(floor(count({m.group(2)}) * {m.group(1)}) AS INT) + 1, "
            f"CAST(count({m.group(2)}) AS INT)))"
        ),
    ),
    # quantileExactInclusive/Exclusive: served by the exact R-7/R-6
    # interpolation entries in vocab batch 17 (percentile() matches only
    # the Inclusive plotting position; Exclusive uses h = p·(n+1))
    # CH `any(x)` picks an arbitrary value per group == Spark any_value;
    # Spark's own `any` is the boolean OR aggregate, so the name must move.
    # (`\bany\(` never collides with the ANY JOIN strictness keyword — that
    # spelling has no immediate open paren.)
    (re.compile(r"\bany\(", re.IGNORECASE), "any_value("),
    # array vocabulary: name-only rewrites where Spark's builtin shares the
    # argument shape. Lambda-first CH spellings (arrayMap/Filter/...) are
    # paren-aware _PARAMETRIC rewrites below.
    # arraySlice: parametric (batch 26) — the 2-arg to-the-end form needs
    # a computed length, a plain rename to slice() cannot supply it
    (re.compile(r"\barrayReverse\(", re.IGNORECASE), "reverse("),
    (re.compile(r"\barrayConcat\(", re.IGNORECASE), "concat("),
    (re.compile(r"\barrayFlatten\(", re.IGNORECASE), "flatten("),
    (re.compile(r"\barrayDistinct\(", re.IGNORECASE), "array_distinct("),
    # arrayIntersect is VARIADIC in CH (2+ arrays): handled by the batch-18
    # parametric fold, not a flat rename (Spark's array_intersect is 2-arg)
    (re.compile(r"\barrayZip\(", re.IGNORECASE), "arrays_zip("),
    (re.compile(r"\bhas\(", re.IGNORECASE), "array_contains("),
    (re.compile(r"\bhasAny\(", re.IGNORECASE), "arrays_overlap("),
    (re.compile(r"\btoTypeName\(", re.IGNORECASE), "typeof("),
    # arrayElement moved to a parametric handler in wave 29c: element_at's
    # in-bounds contract matches (1-based, negative from the end, map
    # keys), but CH returns a typed DEFAULT on out-of-bounds where ANSI
    # element_at aborts the query
    (re.compile(r"\bisNaN\(", re.IGNORECASE), "isnan("),
    (re.compile(r"\bstddevPop\(", re.IGNORECASE), "stddev_pop("),
    (re.compile(r"\bstddevSamp\(", re.IGNORECASE), "stddev_samp("),
    (re.compile(r"\bvarPop\(", re.IGNORECASE), "var_pop("),
    (re.compile(r"\bvarSamp\(", re.IGNORECASE), "var_samp("),
    (re.compile(r"\bcovarPop\(", re.IGNORECASE), "covar_pop("),
    (re.compile(r"\bcovarSamp\(", re.IGNORECASE), "covar_samp("),
    (re.compile(r"\bgroupBitAnd\(", re.IGNORECASE), "bit_and("),
    (re.compile(r"\bgroupBitOr\(", re.IGNORECASE), "bit_or("),
    (re.compile(r"\bgroupBitXor\(", re.IGNORECASE), "bit_xor("),
    (re.compile(r"\bbitCount\(", re.IGNORECASE), "bit_count("),
    (re.compile(r"\bbase64Encode\(", re.IGNORECASE), "base64("),
    (re.compile(r"\bmapKeys\(", re.IGNORECASE), "map_keys("),
    (re.compile(r"\bmapValues\(", re.IGNORECASE), "map_values("),
    (re.compile(r"\bmapContains\(", re.IGNORECASE), "map_contains_key("),
    (re.compile(r"\btoISOWeek\(", re.IGNORECASE), "weekofyear("),
    # CAST(x, 'Type') — CH's two-argument spelling (simple first arg; the
    # AS form with CH type names is handled above)
    (
        re.compile(r"\bCAST\(\s*([^,()]+?)\s*,\s*'(\w+)'\s*\)", re.IGNORECASE),
        lambda m: f"CAST({m.group(1)} AS {parse_ch_type(m.group(2))[0].simpleString()})",
    ),
    # parameterized CH types inside CAST ... AS (one nesting level)
    (
        re.compile(
            r"\bAS\s+((?:Array|Nullable|LowCardinality)\s*\(\s*\w+\s*\))\s*\)",
        ),
        lambda m: f"AS {parse_ch_type(m.group(1))[0].simpleString()})",
    ),
    (re.compile(r"\bparseDateTimeBestEffort\(", re.IGNORECASE), "try_to_timestamp("),
    # age(): complete-unit counting == timestampdiff's contract for
    # DATE-typed args (sub-day remainders on DateTime args deviate)
    (re.compile(r"\bage\(\s*'(\w+)'\s*,", re.IGNORECASE), r"timestampdiff(\1,"),
    (re.compile(r"\btoLastDayOfMonth\(", re.IGNORECASE), "last_day("),
    (re.compile(r"\bgenerateUUIDv4\(", re.IGNORECASE), "uuid("),
    (re.compile(r"\blagInFrame\(", re.IGNORECASE), "lag("),
    (re.compile(r"\bleadInFrame\(", re.IGNORECASE), "lead("),
    # typed empty-array constructors
    (
        re.compile(r"\bemptyArray(U?Int8|U?Int16|U?Int32|U?Int64|Float32|Float64|String|Date|DateTime)\(\s*\)", re.IGNORECASE),
        lambda m: f"CAST(array() AS ARRAY<{parse_ch_type(m.group(1))[0].simpleString()}>)",
    ),
    # LIMIT offset, count (CH/MySQL comma form; never before BY — that
    # spelling belongs to LIMIT n BY)
    (
        re.compile(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)(?!\s*BY\b)", re.IGNORECASE),
        r"LIMIT \2 OFFSET \1",
    ),
    # tuple(...) == an unnamed struct; Spark names the fields col1, col2...
    # and CH's positional access `.1` maps onto them (rewrite below)
    (re.compile(r"\btuple\(", re.IGNORECASE), "struct("),
    (re.compile(r"\)\s*\.\s*(\d+)\b"), r").col\1"),
    # CAST(x AS <CHType>): ClickHouse type names inside value expressions.
    # Case-sensitive on purpose — these are CH's canonical spellings — and
    # anchored to the closing paren so a column ALIAS that happens to share
    # a type name (`toDate(t) AS Date,`) is never rewritten.
    (re.compile(r"\bAS\s+(?:UInt8|UInt16|UInt32|Int8|Int16|Int32)\s*\)"), "AS INT)"),
    (re.compile(r"\bAS\s+(?:UInt64|Int64)\s*\)"), "AS BIGINT)"),
    (re.compile(r"\bAS\s+Float32\s*\)"), "AS FLOAT)"),
    (re.compile(r"\bAS\s+Float64\s*\)"), "AS DOUBLE)"),
    (re.compile(r"\bAS\s+String\s*\)"), "AS STRING)"),
    (re.compile(r"\bAS\s+DateTime\s*\)"), "AS TIMESTAMP)"),
    (re.compile(r"\bAS\s+Date\s*\)"), "AS DATE)"),
    (re.compile(r"\bAS\s+Bool\s*\)"), "AS BOOLEAN)"),
    # table-expanding: CH arrayJoin(arr) in a SELECT == Spark explode(arr)
    (re.compile(r"\barrayJoin\(", re.IGNORECASE), "explode("),
    # dateDiff('unit', a, b) → timestampdiff(UNIT, a, b): the unit moves
    # from a string literal to a keyword, so it must be a text rewrite
    (re.compile(r"\bdateDiff\(\s*'(\w+)'\s*,", re.IGNORECASE), r"timestampdiff(\1,"),
    # toStartOfInterval(t, INTERVAL n SECOND|MINUTE|HOUR|DAY) — CH's generic
    # time bucketing: FLOOR the epoch to the bucket width (floor, not `div`:
    # integer div truncates toward zero, which would bucket pre-1970
    # timestamps FORWARD; epochs < 2^53 make the double floor exact). What
    # CH does internally for these units; month+ units are calendar-based
    # and stay with the dedicated toStartOfMonth/Quarter/Year shims.
    # Documented deviation: buckets are UTC-epoch-aligned; CH aligns HOUR/
    # DAY to the server timezone (identical under this engine's pinned-UTC
    # sessions, shifted for fractional-offset zones like Asia/Kolkata).
    (
        re.compile(
            r"\btoStartOfInterval\(\s*((?:[^(),]|\([^()]*\))+?)\s*,\s*"
            r"INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)\s*\)",
            re.IGNORECASE,
        ),
        lambda m: (
            "timestamp_seconds(CAST(floor(unix_timestamp({t}) / {w}.0) AS BIGINT) * {w})".format(
                t=m.group(1),
                w=int(m.group(2))
                * {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}[m.group(3).upper()],
            )
        ),
    ),
    # dictGet('dict', 'attr', key) → correlated scalar subquery over the
    # registered dict_<name> view (Engine.create_dictionary). Catalyst
    # decorrelates it into a join — broadcast for small dictionaries, the
    # same shipping model as CH. Key expression: paren-free or one
    # balanced paren group (covers column refs and simple casts/calls).
    # DOCUMENTED DEVIATION: a missing key yields NULL here, where CH's
    # dictGet returns the attribute type's default value ('' / 0); use
    # dictGetOrDefault for CH-exact missing-key behavior.
    (
        re.compile(
            r"\bdictGetOrDefault\(\s*'(\w+)'\s*,\s*'(\w+)'\s*,\s*"
            r"((?:[^(),]|\([^()]*\))+?)\s*,\s*((?:[^(),]|\([^()]*\))+?)\s*\)",
            re.IGNORECASE,
        ),
        r"coalesce((SELECT max(\2) FROM dict_\1 WHERE __dict_key = \3), \4)",
    ),
    (
        re.compile(
            r"\bdictGet\(\s*'(\w+)'\s*,\s*'(\w+)'\s*,\s*((?:[^(),]|\([^()]*\))+?)\s*\)",
            re.IGNORECASE,
        ),
        r"(SELECT max(\2) FROM dict_\1 WHERE __dict_key = \3)",
    ),
    (
        re.compile(
            r"\bdictHas\(\s*'(\w+)'\s*,\s*((?:[^(),]|\([^()]*\))+?)\s*\)",
            re.IGNORECASE,
        ),
        r"EXISTS (SELECT 1 FROM dict_\1 WHERE __dict_key = \2)",
    ),
    # CH JOIN strictness modifiers. ALL is ClickHouse's DEFAULT strictness
    # (every matching right row) == the standard SQL join: the keyword
    # drops out. ANY keeps AT MOST ONE right match per join key — spelled
    # as the join against the right side deduplicated to one row per key
    # (row_number over the keys; the survivor is arbitrary, exactly CH's
    # documented ANY contract). Constrained grammar: a named right table
    # and an ON conjunction of qualified equalities, at least one side
    # qualified by the right table/alias.
    (re.compile(r"\bALL\s+((?:INNER|LEFT|RIGHT|FULL)(?:\s+OUTER)?\s+)?JOIN\b", re.IGNORECASE), r"\1JOIN"),
    (
        re.compile(
            r"\bANY\s+((?:INNER|LEFT)\s+)?JOIN\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+"
            r"((?:[\w.]+\s*=\s*[\w.]+)(?:\s+AND\s+[\w.]+\s*=\s*[\w.]+)*)",
            re.IGNORECASE,
        ),
        lambda m: _rewrite_any_join(m),
    ),
    # ANY ... JOIN t USING (k1[, k2]) — same dedup-right contract, keyed
    # directly by the USING columns
    (
        re.compile(
            r"\bANY\s+((?:INNER|LEFT)\s+)?JOIN\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?"
            r"\s+USING\s*\(([^)]*)\)",
            re.IGNORECASE,
        ),
        lambda m: _rewrite_any_join_using(m),
    ),
    # any ANY strictness the two rewrites above did not consume would
    # otherwise parse as a table ALIAS named ANY in Spark — silently
    # becoming an ALL join. Refuse loudly instead.
    (
        re.compile(r"\bANY\s+(?:INNER\s+|LEFT\s+|RIGHT\s+|FULL\s+)?JOIN\b", re.IGNORECASE),
        lambda m: (_ for _ in ()).throw(NotImplementedError(
            "this ANY JOIN form is not supported - use ANY [LEFT|INNER] "
            "JOIN <table> [AS alias] with ON qualified equalities or "
            "USING (cols); RIGHT/FULL ANY strictness is not shimmed"
        )),
    ),
    # (x, y) [NOT] IN ((a, b), (c, d)) — CH tuple-IN. Spark rejects the
    # spelling on struct field-name mismatch (left fields take the column
    # names, right tuples get col1/col2), so it expands to the equality
    # disjunction. Constrained grammar: paren-free tuple elements. The
    # left paren must start an expression — the (?<!\w) lookbehind keeps a
    # function's argument list (`f(a, b) IN ...`, ill-typed but
    # parseable) from silently rewriting into `f((a = 1 AND b = 2))`
    # (round-5 advisory).
    (
        re.compile(
            r"(?<!\w)\(([^()]+,[^()]+)\)\s+(NOT\s+)?IN\s*"
            r"\((\s*\([^()]+\)(?:\s*,\s*\([^()]+\))*\s*)\)",
            re.IGNORECASE,
        ),
        lambda m: _rewrite_tuple_in(m),
    ),
    # CH GLOBAL JOIN / GLOBAL IN force the right side to the initiator and
    # broadcast it to every shard — in Spark that IS the engine's job
    # (broadcast/shuffle chosen by Catalyst), so the modifier drops out.
    # (ANY/ASOF join strictness keywords are NOT silently dropped — they
    # change semantics and would fail Spark's parser loudly, as intended.)
    (
        re.compile(
            r"\bGLOBAL\s+(?=(?:INNER|LEFT|RIGHT|FULL|CROSS|JOIN\b|(?:NOT\s+)?IN\b))",
            re.IGNORECASE,
        ),
        "",
    ),
    # ANSI FETCH spellings → LIMIT/OFFSET (Spark parses OFFSET natively)
    (
        re.compile(
            r"OFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY",
            re.IGNORECASE,
        ),
        r"LIMIT \2 OFFSET \1",
    ),
    (
        re.compile(r"FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY", re.IGNORECASE),
        r"LIMIT \1",
    ),
    # PASTE JOIN concatenates sides BY ROW POSITION — block-order-dependent
    # (the same family as neighbor/runningDifference): undefined over a
    # distributed shuffle, refused loudly with the deterministic recipe
    (
        re.compile(r"\bPASTE\s+JOIN\b", re.IGNORECASE),
        lambda m: (_ for _ in ()).throw(NotImplementedError(
            "PASTE JOIN pairs rows by arrival position - undefined in a "
            "distributed engine; join on row_number() OVER (ORDER BY <a "
            "deterministic key>) computed on each side instead"
        )),
    ),
    # PREWHERE is CH's manual two-stage filter optimization; with columnar
    # scans + pushdown the distinction is moot — same semantics as WHERE
    (re.compile(r"\bPREWHERE\b", re.IGNORECASE), "WHERE"),
    # trailing SETTINGS k = v[, ...] on a query: CH per-query knobs. Pure
    # TUNING keys (max_threads, max_memory_usage, ...) change how a query
    # runs, never what it returns — dropped so pasted CH queries run.
    # SEMANTIC keys (final, limit, offset, join_use_nulls, ...) change the
    # RESULT: Engine.sql routes those onto real machinery (final=1 → the
    # FROM ... FINAL rewrite; limit/offset → an outer LIMIT/OFFSET) before
    # translation ever sees them, so reaching this rewrite with one still
    # attached means the caller bypassed the engine — refuse loudly rather
    # than silently return pre-collapse/unlimited rows. Anchored to
    # statement end, so DDL SETTINGS clauses (parsed before translation)
    # are never touched.
    (
        re.compile(
            r"\sSETTINGS\s+(\w+\s*=\s*[\w.'\"]+(?:\s*,\s*\w+\s*=\s*[\w.'\"]+)*)\s*(;?)\s*$",
            re.IGNORECASE,
        ),
        lambda m: _drop_tuning_settings_or_raise(m),
    ),
    # numbers_mt is numbers with multi-threaded generation — a scheduling
    # hint here (range() parallelizes anyway); must precede the numbers()
    # entries (one ordered rewrite pass)
    (re.compile(r"\bnumbers_mt\(", re.IGNORECASE), "numbers("),
    # numbers(N) table function → Spark's range(N), column renamed to CH's
    (
        re.compile(r"\bnumbers\(\s*(\d+)\s*\)", re.IGNORECASE),
        r"(SELECT id AS number FROM range(\1))",
    ),
    # numbers(offset, count) → range(offset, offset + count)
    (
        re.compile(r"\bnumbers\(\s*(\d+)\s*,\s*(\d+)\s*\)", re.IGNORECASE),
        lambda m: (
            f"(SELECT id AS number FROM range({int(m.group(1))}, "
            f"{int(m.group(1)) + int(m.group(2))}))"
        ),
    ),
    # zeros(N) / zeros_mt(N): CH's cheapest row generator (one 'zero' col)
    (
        re.compile(r"\bzeros(?:_mt)?\(\s*(\d+)\s*\)", re.IGNORECASE),
        r"(SELECT CAST(0 AS TINYINT) AS zero FROM range(\1))",
    ),
    # null('col Type, ...') table function: typed empty relation (CH's
    # Null-engine spelling as a table function — accepts writes that
    # vanish; a read is just the empty typed set)
    (
        re.compile(r"\bnull\(\s*'([^']*)'\s*\)", re.IGNORECASE),
        lambda m: _null_table_function(m.group(1)),
    ),
    # server-introspection constants, resolved at rewrite time: hostName is
    # the DRIVER's name (CH reports the serving node), uptime counts from
    # engine-module import, queryID mints a fresh id per rewritten query
    (
        re.compile(r"\bhostName\(\s*\)", re.IGNORECASE),
        lambda m: "'" + _socket.gethostname().replace("'", "") + "'",
    ),
    # FQDN = the fully-qualified driver name (wave 28b)
    (
        re.compile(r"\bFQDN\(\s*\)", re.IGNORECASE),
        lambda m: "'" + _socket.getfqdn().replace("'", "") + "'",
    ),
    (
        re.compile(r"\buptime\(\s*\)", re.IGNORECASE),
        lambda m: str(int(_time.time() - _MODULE_START)),
    ),
    (
        re.compile(r"\b(?:queryID|initialQueryID)\(\s*\)", re.IGNORECASE),
        lambda m: f"'{_uuid.uuid4()}'",
    ),
    # serverUUID is stable for a server's lifetime — here, the process
    (
        re.compile(r"\bserverUUID\(\s*\)", re.IGNORECASE),
        lambda m: f"'{_SERVER_UUID}'",
    ),
    # sumKahan: compensated summation — Spark's sum is the same contract
    # (accurate double aggregation); name-alias, documented deviation from
    # CH's exact Kahan compensation order
    (re.compile(r"\bsumKahan\(", re.IGNORECASE), "sum("),
    # toJSONString(complex) == to_json; Spark rejects bare scalars (CH
    # accepts them) — loud there, correct for arrays/maps/structs
    (re.compile(r"\btoJSONString\(", re.IGNORECASE), "to_json("),
    # 1-arg trunc/truncate: numeric truncation toward zero (Spark's own
    # trunc is the DATE truncation, so the bare-numeric form must move to
    # the truncate(x, n) SQL UDF). Conservative single-argument match:
    # no commas / nested parens in the argument.
    (
        re.compile(r"\btrunc(?:ate)?\(\s*([^(),]+?)\s*\)", re.IGNORECASE),
        r"truncate(\1, 0)",
    ),
    (re.compile(r"\bcurrentUser\(\s*\)", re.IGNORECASE), "'default'"),
    # GROUP BY k1, k2 WITH TOTALS == GROUPING SETS ((k1,k2), ()) — the
    # grouped rows plus one grand-total row. Documented deviation: the
    # totals row carries NULL keys (SQL convention) where CH renders type
    # defaults ('', 0).
    (
        re.compile(r"GROUP\s+BY\s+(.+?)\s+WITH\s+TOTALS", re.IGNORECASE | re.DOTALL),
        r"GROUP BY GROUPING SETS ((\1), ())",
    ),
    # JSON accessors: CH JSONExtract<T>(json, 'key') → typed get_json_object.
    # Key-literal form only (the overwhelmingly common call shape); paths
    # with nesting should use get_json_object directly.
    (
        re.compile(r"\bJSONExtractString\(\s*('[^']*'|[^,()]+?)\s*,\s*'([^']+)'\s*\)", re.IGNORECASE),
        r"get_json_object(\1, '$.\2')",
    ),
    (
        re.compile(r"\bJSONExtract(?:Int|UInt)\(\s*('[^']*'|[^,()]+?)\s*,\s*'([^']+)'\s*\)", re.IGNORECASE),
        r"CAST(get_json_object(\1, '$.\2') AS BIGINT)",
    ),
    (
        re.compile(r"\bJSONExtractFloat\(\s*('[^']*'|[^,()]+?)\s*,\s*'([^']+)'\s*\)", re.IGNORECASE),
        r"CAST(get_json_object(\1, '$.\2') AS DOUBLE)",
    ),
    (
        re.compile(r"\bJSONExtractBool\(\s*('[^']*'|[^,()]+?)\s*,\s*'([^']+)'\s*\)", re.IGNORECASE),
        r"CAST(get_json_object(\1, '$.\2') AS BOOLEAN)",
    ),
    (
        re.compile(r"\bJSONHas\(\s*('[^']*'|[^,()]+?)\s*,\s*'([^']+)'\s*\)", re.IGNORECASE),
        r"(get_json_object(\1, '$.\2') IS NOT NULL)",
    ),
    # trim family: CH's one-arg directional spellings. (The SQL-standard
    # trim(BOTH 'x' FROM s) form CH also accepts is native Spark syntax and
    # passes through untouched.)
    # probe batch 12 flat renames (Spark twin exists under another name)
    (re.compile(r"\barrayShuffle\(", re.IGNORECASE), "shuffle("),
    (re.compile(r"\barrayUnion\(", re.IGNORECASE), "array_union("),
    (re.compile(r"\bmapFromArrays\(", re.IGNORECASE), "map_from_arrays("),
    (re.compile(r"\bregexpExtract\(", re.IGNORECASE), "regexp_extract("),
    # unicode normalization routes to the Arrow-batched UDFs (geo.py);
    # the 'ch' prefix keeps the rewrite from re-matching its own output
    (re.compile(r"\bnormalizeUTF8(NFC|NFD|NFKC|NFKD)\(", re.IGNORECASE),
     lambda m: f"chNormalizeUTF8{m.group(1).upper()}("),
    # extractGroups: group count is only known at regex-compile time, so it
    # routes to the Arrow UDF (geo.py) rather than N regexp_extract calls
    (re.compile(r"\bextractGroups\(", re.IGNORECASE), "chExtractGroups("),
    # randConstant(): one random value for the whole query (CH: per block);
    # resolved at rewrite time like hostName/queryID
    (
        re.compile(r"\brandConstant\(\s*\)", re.IGNORECASE),
        lambda m: str(int.from_bytes(_uuid.uuid4().bytes[:4], "big")),
    ),
    (re.compile(r"\btrimLeft\(", re.IGNORECASE), "ltrim("),
    (re.compile(r"\btrimRight\(", re.IGNORECASE), "rtrim("),
    (re.compile(r"\btrimBoth\(", re.IGNORECASE), "trim("),
    # pad family: identical (str, len[, pad=' ']) signatures. The UTF8
    # variants are the same function here — Spark strings are already
    # codepoint-addressed, so lpad/rpad count characters, not bytes (that
    # is CH's *UTF8 contract; the byte-counting plain forms deviate only
    # for multi-byte input, documented).
    (re.compile(r"\bleftPad(?:UTF8)?\(", re.IGNORECASE), "lpad("),
    (re.compile(r"\brightPad(?:UTF8)?\(", re.IGNORECASE), "rpad("),
    (re.compile(r"\bconcatWithSeparator\(", re.IGNORECASE), "concat_ws("),
]


def _rewrite_any_join(m: re.Match) -> str:
    """ANY [LEFT|INNER] JOIN t [AS a] ON <equalities> → the same join
    against t deduplicated to one row per join key (see _REWRITES note)."""
    jointype = (m.group(1) or "").strip()
    table, alias, cond = m.group(2), m.group(3) or m.group(2), m.group(4)
    rkeys = []
    for a, b in re.findall(r"([\w.]+)\s*=\s*([\w.]+)", cond):
        for side in (a, b):
            q, _, c = side.rpartition(".")
            if q.lower() == alias.lower() or q.lower() == table.lower():
                rkeys.append(c)
    if not rkeys:
        raise NotImplementedError(
            "ANY JOIN needs at least one ON equality side qualified by the "
            f"right table/alias ({alias!r}) so the dedup key is identifiable"
        )
    keys = ", ".join(dict.fromkeys(rkeys))
    dedup = (
        f"(SELECT * EXCEPT (__rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {keys}) AS __rn FROM {table}) WHERE __rn = 1)"
    )
    return f"{jointype + ' ' if jointype else ''}JOIN {dedup} AS {alias} ON {cond}"


# Parametric/variadic CH spellings that a flat regex cannot rewrite: the
# argument list needs a balanced-paren split (lambda bodies and nested calls
# carry top-level-looking commas). Each handler receives the top-level-split
# argument texts and returns the Spark SQL spelling. CH's lambda syntax
# (``x -> expr``) is byte-compatible with Spark's — only the argument ORDER
# moves (CH: lambda first; Spark HOFs: array first).
def _rewrite_tuple_in(m: re.Match) -> str:
    """See the tuple-IN _REWRITES note: equality disjunction expansion."""
    left = [e.strip() for e in m.group(1).split(",")]
    if left and left[0].upper().startswith(("SELECT", "WITH")):
        return m.group(0)  # a subquery, not a tuple literal
    negate = bool(m.group(2))
    clauses = []
    for tup in re.findall(r"\(([^()]+)\)", m.group(3)):
        vals = [v.strip() for v in tup.split(",")]
        if len(vals) != len(left):
            return m.group(0)  # arity mismatch: leave for Spark's error
        clauses.append(
            "(" + " AND ".join(f"{l} = {v}" for l, v in zip(left, vals)) + ")"
        )
    body = "(" + " OR ".join(clauses) + ")"
    return f"(NOT {body})" if negate else body


def _rewrite_any_join_using(m: re.Match) -> str:
    """ANY [LEFT|INNER] JOIN t [AS a] USING (cols) → join against t
    deduplicated to one row per USING key (same contract as the ON form)."""
    jointype = (m.group(1) or "").strip()
    table, alias = m.group(2), m.group(3) or m.group(2)
    cols = [c.strip() for c in m.group(4).split(",") if c.strip()]
    if not cols:
        raise NotImplementedError("ANY JOIN USING needs at least one column")
    keys = ", ".join(cols)
    dedup = (
        f"(SELECT * EXCEPT (__rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {keys}) AS __rn FROM {table}) WHERE __rn = 1)"
    )
    return (
        f"{jointype + ' ' if jointype else ''}JOIN {dedup} AS {alias} "
        f"USING ({keys})"
    )


def _pm_multi_if(args: list[str]) -> str:
    if len(args) < 3 or len(args) % 2 == 0:
        raise NotImplementedError("multiIf needs cond/value pairs plus an ELSE")
    whens = "".join(
        f" WHEN {args[i]} THEN {args[i + 1]}" for i in range(0, len(args) - 1, 2)
    )
    return f"(CASE{whens} ELSE {args[-1]} END)"


def _pm_array_map(args: list[str]) -> str:
    if len(args) == 2:
        return f"transform({args[1]}, {args[0]})"
    if len(args) == 3:  # two-array form: CH arrayMap((x,y) -> f, a, b)
        return f"zip_with({args[1]}, {args[2]}, {args[0]})"
    raise NotImplementedError("arrayMap supports 1 or 2 array arguments")


def _pm_2arg(target: str):
    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError(f"expected exactly 2 arguments, got {len(args)}")
        return target.format(f=args[0], a=args[1])

    return rw


# same as _pm_2arg — a second name only to make call sites read naturally
# for functions whose args are (value, value) rather than (lambda, array)
_pm_2arg_fa = _pm_2arg


def _pm_1arg(target: str):
    def rw(args: list[str]) -> str:
        if len(args) != 1:
            raise NotImplementedError(f"expected exactly 1 argument, got {len(args)}")
        return target.format(x=args[0])

    return rw


def _pm_sort(asc: bool):
    """CH arraySort/arrayReverseSort: plain 1-array form → sort_array. The
    lambda form sorts by a KEY function — Spark's array_sort wants a
    COMPARATOR, and rewriting key→comparator needs variable substitution a
    textual shim can't do safely; refused with the recipe."""

    def rw(args: list[str]) -> str:
        if len(args) == 1:
            return f"sort_array({args[0]}, {'true' if asc else 'false'})"
        raise NotImplementedError(
            "arraySort with a key lambda is not shimmed - spell it as Spark's "
            "array_sort(arr, (l, r) -> comparator) directly"
        )

    return rw


def _pm_minmax(fn: str):
    def rw(args: list[str]) -> str:
        if len(args) == 1:
            return f"{fn}({args[0]})"
        if len(args) == 2:  # arrayMin(x -> f(x), a) = min over mapped values
            return f"{fn}(transform({args[1]}, {args[0]}))"
        raise NotImplementedError(f"{fn}: expected 1 or 2 arguments")

    return rw


def _pm_accurate_cast(args: list[str]) -> str:
    """accurateCast(x, 'CHType') → ANSI CAST with the type name mapped
    through the DDL type parser (Spark CAST is already the checked/throwing
    contract accurateCast adds over CH's saturating toInt*)."""
    if len(args) != 2:
        raise NotImplementedError("accurateCast expects (value, 'Type')")
    tm = re.fullmatch(r"\s*'([^']+)'\s*", args[1])
    if not tm:
        raise NotImplementedError("accurateCast needs a quoted type literal")
    dt, _ = parse_ch_type(tm.group(1))
    return f"CAST({args[0]} AS {dt.simpleString()})"


def _pm_range(args: list[str]) -> str:
    """CH range([start,] end[, step]) — end EXCLUSIVE, empty when
    end <= start. Spark's sequence() is end-INCLUSIVE and auto-reverses on
    descending bounds, so both edges need the CASE guard."""
    if len(args) == 1:
        s, e, st = "0", args[0], "1"
    elif len(args) == 2:
        s, e, st = args[0], args[1], "1"
    elif len(args) == 3:
        s, e, st = args
    else:
        raise NotImplementedError("range expects 1-3 arguments")
    return (
        f"(CASE WHEN ({e}) <= ({s}) THEN array() "
        f"ELSE sequence({s}, ({e}) - 1, {st}) END)"
    )


def _pm_split_by_string(args: list[str]) -> str:
    """splitByString('sep', s) — LITERAL separator split (Spark's split
    takes a regex, so the separator is regex-escaped at rewrite time; a
    non-literal separator can't be escaped textually and refuses)."""
    if len(args) != 2:
        raise NotImplementedError("splitByString expects (separator, string)")
    lit = re.fullmatch(r"\s*'([^']*)'\s*", args[0])
    if not lit:
        raise NotImplementedError(
            "splitByString needs a literal separator (regex-escaping a "
            "runtime value is not expressible) - use splitByChar or split"
        )
    escaped = re.escape(lit.group(1)).replace("\\", "\\\\").replace("'", "\\'")
    return f"split({args[1]}, '{escaped}', -1)"


def _pm_transform(args: list[str]) -> str | None:
    """CH transform(x, from_array, to_array[, default]) — value mapping via
    an array-pair lookup. The 2-argument spelling is Spark's own transform
    HOF, declined (None) so it passes through verbatim."""
    if len(args) == 2:
        return None
    if len(args) == 4:
        return (
            f"coalesce(element_at(map_from_arrays({args[1]}, {args[2]}), "
            f"{args[0]}), {args[3]})"
        )
    if len(args) == 3:  # same-typed x: unmapped values pass through
        return (
            f"coalesce(element_at(map_from_arrays({args[1]}, {args[2]}), "
            f"{args[0]}), {args[0]})"
        )
    raise NotImplementedError("transform expects 2 (Spark HOF), 3, or 4 arguments")


def _pm_case_with_expression(args: list[str]) -> str:
    """caseWithExpression(x, a1, r1, ..., default) → CASE x WHEN ... END."""
    if len(args) < 4 or len(args) % 2 != 0:
        raise NotImplementedError(
            "caseWithExpression needs (expr, match/result pairs..., default)"
        )
    whens = "".join(
        f" WHEN {args[i]} THEN {args[i + 1]}" for i in range(1, len(args) - 1, 2)
    )
    return f"(CASE {args[0]}{whens} ELSE {args[-1]} END)"


def _pm_tuple_element(args: list[str]) -> str:
    """tupleElement(t, N) / tupleElement(t, 'name') — positional indexes
    map onto struct()'s col<N> field names, string literals pass through."""
    if len(args) != 2:
        raise NotImplementedError("tupleElement expects (tuple, index-or-name)")
    idx = args[1].strip()
    if re.fullmatch(r"\d+", idx):
        return f"({args[0]}).col{idx}"
    nm = re.fullmatch(r"'(\w+)'", idx)
    if nm:
        return f"({args[0]}).{nm.group(1)}"
    raise NotImplementedError("tupleElement needs a literal index or name")


def _pm_start_of_week(args: list[str]) -> str:
    """toStartOfWeek(d[, mode]): mode 0 (CH default) = Sunday-start week;
    modes 1/3 = Monday-start (== toMonday). Only literal modes shim."""
    if len(args) == 1 or (len(args) == 2 and args[1].strip() == "0"):
        d = args[0]
        return f"date_sub(CAST({d} AS DATE), dayofweek({d}) - 1)"
    if len(args) == 2 and args[1].strip() in ("1", "3"):
        return f"CAST(date_trunc('week', {args[0]}) AS DATE)"
    raise NotImplementedError("toStartOfWeek supports literal modes 0, 1, 3")


def _capture_group_count(pattern_body: str) -> int:
    """Count CAPTURING groups in a regex literal: '(' that is not escaped
    and not a (?...) construct. Good enough for the literal patterns users
    pass to extract/extractAll; non-literal patterns fall back to whole-
    match extraction (idx 0)."""
    n = 0
    i = 0
    while i < len(pattern_body):
        c = pattern_body[i]
        if c == "\\":
            i += 2
            continue
        if c == "(" and not pattern_body.startswith("(?", i):
            n += 1
        i += 1
    return n


def _pm_regexp_extract(all_matches: bool):
    """CH extract/extractAll: if the pattern has a capturing group, the
    FIRST group is extracted; otherwise the whole match. Spark's
    regexp_extract(_all) takes the group index explicitly — for a literal
    pattern we inspect it and pick idx 1 vs 0 at translation time; for a
    non-literal pattern we default to whole-match (idx 0, documented)."""
    fn = "regexp_extract_all" if all_matches else "regexp_extract"

    def rw(args: list[str]) -> str | None:
        if len(args) != 2:
            # decline: `extract(YEAR FROM ts)` is Spark's native extract —
            # only the 2-arg (haystack, pattern) form is CH's regex extract
            return None
        h, p = args[0], args[1].strip()
        idx = 0
        if len(p) >= 2 and p[0] == "'" and p[-1] == "'" and "'" not in p[1:-1]:
            idx = 1 if _capture_group_count(p[1:-1]) >= 1 else 0
        return f"{fn}({h}, {p}, {idx})"

    return rw


# CH URL functions are forgiving about missing schemes (domain('a.com/x')
# works); Spark's parse_url needs one, so every accessor retries with a
# synthetic http:// prefix before falling back to CH's ''-on-invalid.
_URL_HOST = (
    "coalesce(parse_url({x}, 'HOST'), parse_url(concat('http://', {x}), 'HOST'), '')"
)
_URL_SPLIT = f"split({_URL_HOST}, '\\\\.')"


def _pm_url_part(part: str, with_fallback_scheme: bool = False):
    if with_fallback_scheme:
        expr = (
            f"coalesce(parse_url({{x}}, '{part}'), "
            f"parse_url(concat('http://', {{x}}), '{part}'), '')"
        )
    else:
        expr = f"coalesce(parse_url({{x}}, '{part}'), '')"
    return _pm_1arg(expr)


def _pm_first_significant_subdomain(cut: bool):
    """CH firstSignificantSubdomain: the label left of the effective TLD —
    second-from-last label, except when that label is itself a common
    second-level registrar ('com','net','org','co'), then third-from-last
    (news.clickhouse.com.tr → 'clickhouse'). cutToFirstSignificantSubdomain
    returns the host suffix starting at that label."""
    s = _URL_SPLIT
    registrar = "('com', 'net', 'org', 'co')"
    if cut:
        expr = (
            f"(CASE WHEN size({s}) < 2 THEN '' "
            f"WHEN size({s}) >= 3 AND element_at({s}, -2) IN {registrar} "
            f"THEN array_join(slice({s}, size({s}) - 2, 3), '.') "
            f"ELSE array_join(slice({s}, size({s}) - 1, 2), '.') END)"
        )
    else:
        expr = (
            f"(CASE WHEN size({s}) < 2 THEN '' "
            f"WHEN size({s}) >= 3 AND element_at({s}, -2) IN {registrar} "
            f"THEN element_at({s}, -3) ELSE element_at({s}, -2) END)"
        )
    return _pm_1arg(expr)


def _pm_great_circle(args: list[str]) -> str:
    """greatCircleDistance(lon1, lat1, lon2, lat2) → meters. Haversine on a
    R=6371.0 km sphere — CH uses a fitted polynomial over the same sphere;
    agreement is within ~0.01% (golden-tested with tolerance)."""
    if len(args) != 4:
        raise NotImplementedError("greatCircleDistance: expected (lon1, lat1, lon2, lat2)")
    lon1, lat1, lon2, lat2 = args
    return (
        f"(2.0D * 6371000.0D * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def _pm_bar(args: list[str]) -> str:
    """bar(x, min, max[, width=80]): unicode bar with 1/8-block resolution,
    CH's terminal histogram helper. Width in character cells; the value is
    clamped to [0, width]."""
    if len(args) == 3:
        x, lo, hi = args
        width = "80"
    elif len(args) == 4:
        x, lo, hi, width = args
    else:
        raise NotImplementedError("bar: expected (x, min, max[, width])")
    w = (
        f"least(greatest((CAST({x} AS DOUBLE) - ({lo})) / (({hi}) - ({lo})) "
        f"* ({width}), 0.0D), CAST({width} AS DOUBLE))"
    )
    eighth = f"CAST(floor(({w} - floor({w})) * 8) AS INT)"
    return (
        f"concat(repeat('█', CAST(floor({w}) AS INT)), "
        f"element_at(array('', '▏', '▎', '▍', '▌', "
        f"'▋', '▊', '▉'), {eighth} + 1))"
    )


def _pm_array_count(args: list[str]) -> str:
    """2-arg = (lambda, arr); 1-arg (wave 28d) counts truthy elements —
    CH's arrayCount(arr) counts elements != 0 (NULLs never count)."""
    if len(args) == 2:
        return f"size(filter({args[1]}, {args[0]}))"
    if len(args) == 1:
        return f"size(filter({args[0]}, __ac_e -> CAST(__ac_e AS BOOLEAN)))"
    raise NotImplementedError("arrayCount takes (arr) or (lambda, arr)")


_PARAMETRIC: dict[str, object] = {
    "multiIf": _pm_multi_if,
    "arrayMap": _pm_array_map,
    "arrayFilter": _pm_2arg("filter({a}, {f})"),
    "arrayExists": _pm_2arg("exists({a}, {f})"),
    "arrayAll": _pm_2arg("forall({a}, {f})"),
    "arrayCount": _pm_array_count,
    "arrayFirst": _pm_2arg("element_at(filter({a}, {f}), 1)"),
    # -If aggregate combinators: <agg>If(x, cond) == <agg> over the rows
    # where cond holds — the CASE form keeps NULL for non-matching rows, so
    # sum/avg/min/max skip them exactly like CH's combinator. (countIf is a
    # flat rewrite to Spark's count_if above.)
    "sumIf": _pm_2arg("sum(CASE WHEN {a} THEN {f} END)"),
    "avgIf": _pm_2arg("avg(CASE WHEN {a} THEN {f} END)"),
    "minIf": _pm_2arg("min(CASE WHEN {a} THEN {f} END)"),
    "maxIf": _pm_2arg("max(CASE WHEN {a} THEN {f} END)"),
    "arraySort": _pm_sort(asc=True),
    "arrayReverseSort": _pm_sort(asc=False),
    "arrayMin": _pm_minmax("array_min"),
    "arrayMax": _pm_minmax("array_max"),
    # arrayUniq: parametric (batch 26) — the multi-array form counts
    # unique POSITION TUPLES, not a single array's distinct elements
    "arrayFirstIndex": _pm_2arg(
        "coalesce(array_position(transform({a}, {f}), true), 0)"
    ),
    # arrayEnumerate(a) = [1..len(a)] (guarded: sequence(1,0) would count DOWN)
    "arrayEnumerate": _pm_1arg(
        "(CASE WHEN size({x}) = 0 THEN array() ELSE sequence(1, size({x})) END)"
    ),
    "arrayPushBack": _pm_2arg_fa("concat({f}, array({a}))"),
    "arrayPushFront": _pm_2arg_fa("concat(array({a}), {f})"),
    "arrayPopBack": _pm_1arg("slice({x}, 1, greatest(size({x}) - 1, 0))"),
    "arrayPopFront": _pm_1arg("slice({x}, 2, greatest(size({x}) - 1, 0))"),
    # hasAll(a, b): every element of b present in a
    "hasAll": _pm_2arg_fa("(size(array_except({a}, {f})) = 0)"),
    "assumeNotNull": _pm_1arg("({x})"),
    # CH pads to n with NUL bytes and truncates longer strings — rpad's shape
    "toFixedString": _pm_2arg_fa("rpad({f}, {a}, chr(0))"),
    "accurateCast": _pm_accurate_cast,
    "range": _pm_range,
    "plus": _pm_2arg_fa("({f} + {a})"),
    "minus": _pm_2arg_fa("({f} - {a})"),
    "multiply": _pm_2arg_fa("({f} * {a})"),
    "divide": _pm_2arg_fa("({f} / {a})"),
    "negate": _pm_1arg("(-({x}))"),
    "toIntervalSecond": _pm_1arg("make_interval(0, 0, 0, 0, 0, 0, {x})"),
    "toIntervalMinute": _pm_1arg("make_interval(0, 0, 0, 0, 0, {x})"),
    "toIntervalHour": _pm_1arg("make_interval(0, 0, 0, 0, {x})"),
    "toIntervalDay": _pm_1arg("make_interval(0, 0, 0, {x})"),
    "toIntervalWeek": _pm_1arg("make_interval(0, 0, {x})"),
    "toIntervalMonth": _pm_1arg("make_interval(0, {x})"),
    "toIntervalYear": _pm_1arg("make_interval({x})"),
    "toStartOfWeek": _pm_start_of_week,
    "toMonday": _pm_1arg("CAST(date_trunc('week', {x}) AS DATE)"),
    "isFinite": _pm_1arg("(NOT isnan({x}) AND abs({x}) <> double('inf'))"),
    "isInfinite": _pm_1arg("(abs({x}) = double('inf'))"),
    "ifNotFinite": _pm_2arg_fa(
        "(CASE WHEN isnan({f}) OR abs({f}) = double('inf') THEN {a} ELSE {f} END)"
    ),
    "medianExact": _pm_1arg("percentile({x}, 0.5)"),
    "toYYYYMM": _pm_1arg("CAST(date_format({x}, 'yyyyMM') AS INT)"),
    # running sum, computed in DOUBLE (a type-preserving fold has no fixed
    # point for DECIMAL elements — Spark widens precision on every add; CH
    # returns UInt64/Float64, this shim returns Float64 for both, values
    # identical for the +-exact integer range)
    "arrayCumSum": _pm_1arg(
        "aggregate(transform({x}, __cs_v -> CAST(__cs_v AS DOUBLE)), "
        "CAST(array() AS ARRAY<DOUBLE>), (acc, v) -> concat(acc, array("
        "CASE WHEN size(acc) = 0 THEN v ELSE element_at(acc, size(acc)) + v END)))"
    ),
    # CH arrayDifference: first element 0, then adjacent diffs
    "arrayDifference": _pm_1arg(
        "(CASE WHEN size({x}) = 0 THEN slice({x}, 1, 0) ELSE "
        "transform(sequence(1, size({x})), __ad_i -> CASE WHEN __ad_i = 1 THEN "
        "element_at({x}, 1) - element_at({x}, 1) ELSE "
        "element_at({x}, __ad_i) - element_at({x}, __ad_i - 1) END) END)"
    ),
    # obscure lambda var: the value expression may reference data columns,
    # and a common name like x would shadow them
    "countEqual": _pm_2arg_fa("size(filter({f}, __ceq_v -> __ceq_v = ({a})))"),
    "timeSlot": _pm_1arg(
        "timestamp_seconds(CAST(floor(unix_timestamp({x}) / 1800.0) AS BIGINT) * 1800)"
    ),
    "base64Decode": _pm_1arg("CAST(unbase64({x}) AS STRING)"),
    "tupleElement": _pm_tuple_element,
    "toRelativeDayNum": _pm_1arg("datediff(CAST({x} AS DATE), DATE '1970-01-01')"),
    "toUUID": _pm_1arg("CAST({x} AS STRING)"),
    "transform": _pm_transform,
    "caseWithExpression": _pm_case_with_expression,
    "avgWeighted": _pm_2arg_fa("(sum(({f}) * ({a})) / sum({a}))"),
    "splitByString": _pm_split_by_string,
    # ---- URL family (CH URL functions → parse_url accessors; CH's
    # ''-on-invalid contract kept via coalesce, scheme-less URLs accepted
    # via an http:// retry) ----
    "protocol": _pm_1arg("coalesce(parse_url({x}, 'PROTOCOL'), '')"),
    "domain": _pm_1arg(_URL_HOST),
    "domainWithoutWWW": _pm_1arg(
        f"regexp_replace({_URL_HOST}, '^www\\\\.', '')"
    ),
    "topLevelDomain": _pm_1arg(
        f"(CASE WHEN size({_URL_SPLIT}) >= 2 THEN element_at({_URL_SPLIT}, -1) "
        f"ELSE '' END)"
    ),
    "firstSignificantSubdomain": _pm_first_significant_subdomain(cut=False),
    "cutToFirstSignificantSubdomain": _pm_first_significant_subdomain(cut=True),
    "path": _pm_1arg("coalesce(parse_url({x}, 'PATH'), '')"),
    "pathFull": _pm_1arg(
        "concat(coalesce(parse_url({x}, 'PATH'), ''), "
        "CASE WHEN parse_url({x}, 'QUERY') IS NOT NULL "
        "THEN concat('?', parse_url({x}, 'QUERY')) ELSE '' END, "
        "CASE WHEN parse_url({x}, 'REF') IS NOT NULL "
        "THEN concat('#', parse_url({x}, 'REF')) ELSE '' END)"
    ),
    "queryString": _pm_1arg("coalesce(parse_url({x}, 'QUERY'), '')"),
    "fragment": _pm_1arg("coalesce(parse_url({x}, 'REF'), '')"),
    "queryStringAndFragment": _pm_1arg(
        "concat(coalesce(parse_url({x}, 'QUERY'), ''), "
        "CASE WHEN parse_url({x}, 'REF') IS NOT NULL "
        "THEN concat('#', parse_url({x}, 'REF')) ELSE '' END)"
    ),
    "netloc": _pm_url_part("AUTHORITY", with_fallback_scheme=True),
    "extractURLParameter": _pm_2arg_fa(
        "coalesce(parse_url({f}, 'QUERY', {a}), '')"
    ),
    # cut* keep everything BEFORE the removed component; cutQueryString
    # preserves a trailing #fragment (CH's contract)
    "cutQueryString": _pm_1arg(
        "(CASE WHEN instr({x}, '?') > 0 THEN concat("
        "substring_index({x}, '?', 1), "
        "CASE WHEN instr({x}, '#') > 0 "
        "THEN concat('#', substring_index({x}, '#', -1)) ELSE '' END) "
        "ELSE {x} END)"
    ),
    "cutFragment": _pm_1arg("substring_index({x}, '#', 1)"),
    "cutQueryStringAndFragment": _pm_1arg(
        "substring_index(substring_index({x}, '#', 1), '?', 1)"
    ),
    "cutWWW": _pm_1arg("regexp_replace({x}, '^(([a-zA-Z]+://)?)www\\\\.', '$1')"),
    # CH decodeURLComponent does NOT treat '+' as space (unlike
    # x-www-form-urlencoded); protect literal '+' before url_decode.
    # encodeURLComponent emits %20 for space where Java's encoder emits '+'.
    "decodeURLComponent": _pm_1arg("url_decode(replace({x}, '+', '%2B'))"),
    "encodeURLComponent": _pm_1arg("replace(url_encode({x}), '+', '%20')"),
    # ---- string search ----
    "extract": _pm_regexp_extract(all_matches=False),
    "extractAll": _pm_regexp_extract(all_matches=True),
    "multiSearchAny": _pm_2arg_fa(
        "CAST(exists({a}, __ms_n -> locate(__ms_n, {f}) > 0) AS INT)"
    ),
    "multiSearchAnyCaseInsensitive": _pm_2arg_fa(
        "CAST(exists({a}, __ms_n -> locate(lower(__ms_n), lower({f})) > 0) AS INT)"
    ),
    # non-overlapping occurrence count (replace consumes left-to-right,
    # the same scan CH's countSubstrings does)
    "countSubstrings": _pm_2arg_fa(
        "(CASE WHEN length({a}) = 0 THEN 0 ELSE "
        "CAST((length({f}) - length(replace({f}, {a}, ''))) / length({a}) AS INT) END)"
    ),
    # CH unhex returns a String of the decoded bytes (Spark's returns
    # BINARY). Spelled via to_binary(x, 'hex') — a replacement containing
    # `unhex(` would re-match this handler forever (the fixpoint scan is
    # name-keyed).
    "unhex": _pm_1arg("CAST(to_binary({x}, 'hex') AS STRING)"),
    # ---- IPv4 ----
    "IPv4NumToString": _pm_1arg(
        "concat_ws('.', CAST(({x}) div 16777216 % 256 AS STRING), "
        "CAST(({x}) div 65536 % 256 AS STRING), "
        "CAST(({x}) div 256 % 256 AS STRING), "
        "CAST(({x}) % 256 AS STRING))"
    ),
    "IPv4StringToNum": _pm_1arg(
        "aggregate(transform(split({x}, '\\\\.'), __ip_o -> CAST(__ip_o AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, __ip_o) -> acc * 256 + __ip_o)"
    ),
    # ---- readable formatting / display ----
    # two decimals, HALF_EVEN (format_number), unit steps of 1000 —
    # formatReadableSize's decimal sibling
    "formatReadableQuantity": _pm_1arg(
        "(CASE WHEN abs(CAST({x} AS DOUBLE)) < 1000.0D "
        "THEN format_number(CAST({x} AS DOUBLE), 2) "
        "WHEN abs(CAST({x} AS DOUBLE)) < 1000000.0D "
        "THEN concat(format_number(CAST({x} AS DOUBLE) / 1000.0D, 2), ' thousand') "
        "WHEN abs(CAST({x} AS DOUBLE)) < 1000000000.0D "
        "THEN concat(format_number(CAST({x} AS DOUBLE) / 1000000.0D, 2), ' million') "
        "WHEN abs(CAST({x} AS DOUBLE)) < 1000000000000.0D "
        "THEN concat(format_number(CAST({x} AS DOUBLE) / 1000000000.0D, 2), ' billion') "
        "WHEN abs(CAST({x} AS DOUBLE)) < 1000000000000000.0D "
        "THEN concat(format_number(CAST({x} AS DOUBLE) / 1000000000000.0D, 2), ' trillion') "
        "ELSE concat(format_number(CAST({x} AS DOUBLE) / 1000000000000000.0D, 2), ' quadrillion') END)"
    ),
    "bar": _pm_bar,
    # ---- geo ----
    "greatCircleDistance": _pm_great_circle,
}

# checked conversions: -OrNull == try_cast, -OrZero wraps it in the type's
# zero value (CH's exact contracts: 0 / 0.0 / 1970-01-01). Spark target
# types spelled directly (parse_ch_type is defined below in the DDL
# section; the mapping matches _CH_TYPES). Sub-word and unsigned types
# carry an explicit CH-range guard (batch 14): Spark has no UInt8, so
# try_cast(300 AS INT) would succeed where CH's toUInt8OrNull is NULL.
_CHECKED_CONV: dict[str, str] = {}
for _chty, _sqlty, _zero, _lo, _hi in [
    ("Int8", "INT", "0", "-128", "127"),
    ("Int16", "INT", "0", "-32768", "32767"),
    ("Int32", "INT", "0", None, None),
    ("Int64", "BIGINT", "0", None, None),
    ("UInt8", "INT", "0", "0", "255"),
    ("UInt16", "INT", "0", "0", "65535"),
    ("UInt32", "BIGINT", "0", "0", "4294967295"),
    ("UInt64", "BIGINT", "0", "0", None),
    ("Float32", "FLOAT", "0.0", None, None),
    ("Float64", "DOUBLE", "0.0", None, None),
    ("Date", "DATE", "DATE '1970-01-01'", None, None),
    ("DateTime", "TIMESTAMP", "TIMESTAMP '1970-01-01 00:00:00'", None, None),
]:
    _tc = f"try_cast({{x}} AS {_sqlty})"
    if _lo is not None and _hi is not None:
        _body = f"(CASE WHEN {_tc} BETWEEN {_lo} AND {_hi} THEN {_tc} END)"
    elif _lo is not None:
        _body = f"(CASE WHEN {_tc} >= {_lo} THEN {_tc} END)"
    else:
        _body = _tc
    _CHECKED_CONV[_chty] = _body
    _PARAMETRIC[f"to{_chty}OrNull"] = _pm_1arg(_body)
    _PARAMETRIC[f"to{_chty}OrZero"] = _pm_1arg(f"coalesce({_body}, {_zero})")


def _pm_accurate_cast_or_null(args: list[str]) -> str:
    """accurateCastOrNull(x, 'CHType') → the range-guarded try_cast of the
    matching to<T>OrNull (NULL on unparseable AND out-of-CH-range — the
    semantic accurateCast adds over the saturating toInt* family)."""
    if len(args) != 2:
        raise NotImplementedError("accurateCastOrNull expects (value, 'Type')")
    tm = re.fullmatch(r"\s*'([^']+)'\s*", args[1])
    if not tm or tm.group(1) not in _CHECKED_CONV:
        raise NotImplementedError(
            f"accurateCastOrNull: unsupported type {args[1]} - supported: "
            f"{sorted(_CHECKED_CONV)}"
        )
    return _CHECKED_CONV[tm.group(1)].format(x=args[0])


def _pm_map_merge(op: str):
    """mapAdd/mapSubtract: per-key merge of exactly two maps (CH allows N;
    chain calls for more). Missing keys count as 0."""

    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError("mapAdd/mapSubtract shim expects exactly 2 maps")
        a, b = args
        ks = f"array_distinct(concat(map_keys({a}), map_keys({b})))"
        val = (
            f"(coalesce(element_at({a}, __mm_k), 0) {op} "
            f"coalesce(element_at({b}, __mm_k), 0))"
        )
        return f"map_from_arrays({ks}, transform({ks}, __mm_k -> {val}))"

    return rw


def _pm_array_fill(reverse: bool):
    """arrayFill/arrayReverseFill(f, arr): carry the last element where f
    held forward (backward) over elements where it does not. One fold;
    the user lambda applies via exists(array(e), f) — the only way to
    apply a textual lambda to a scalar. slice(arr, 1, 0) is the typed
    empty array (no literal type spelling needed)."""

    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError("arrayFill expects (lambda, array)")
        f, arr = args
        src = f"reverse({arr})" if reverse else f"({arr})"
        fold = (
            f"aggregate({src}, named_struct("
            f"'o', slice({src}, 1, 0), 'l', try_element_at(slice({src}, 1, 0), 1)), "
            f"(__af_s, __af_e) -> IF(exists(array(__af_e), {f}), "
            "named_struct('o', concat(__af_s.o, array(__af_e)), 'l', __af_e), "
            "named_struct('o', concat(__af_s.o, array(coalesce(__af_s.l, __af_e))), "
            "'l', __af_s.l)), "
            "__af_s -> __af_s.o)"
        )
        return f"reverse({fold})" if reverse else fold

    return rw


def _pm_array_split(reverse: bool):
    """arraySplit/arrayReverseSplit(f, arr1[, arr2]) — batch 21. CH splits
    ``arr1`` into consecutive groups: arraySplit cuts on the LEFT of every
    element where ``f`` is nonzero (never before the first element);
    arrayReverseSplit cuts on the RIGHT (never after the last). Doc
    goldens: arraySplit((x, y) -> y, [1,2,3,4,5], [1,0,0,1,0]) =
    [[1,2,3],[4,5]]; arrayReverseSplit(same) = [[1],[2,3,4],[5]].

    Pure-JVM rewrite: the user lambda applies via transform (1 array) or
    zip_with (2 arrays) to build the flag vector, cut positions come from
    a filter over sequence(1, n), and each group is one slice. 3+ arrays
    would need arrays_zip + lambda rewriting a textual shim can't do
    safely — refused with the recipe."""

    def rw(args: list[str]) -> str:
        if len(args) < 2:
            raise NotImplementedError("arraySplit expects (lambda, array, ...)")
        f, arr = args[0], args[1]
        if len(args) == 2:
            flags = f"transform(({arr}), {f})"
        elif len(args) == 3:
            flags = f"zip_with(({arr}), ({args[2]}), {f})"
        else:
            raise NotImplementedError(
                "arraySplit with 3+ arrays is not shimmed - zip the extra "
                "arrays with arrays_zip and rewrite the lambda over the "
                "struct fields"
            )
        n = f"size(({arr}))"
        flag_i = f"coalesce(CAST(element_at({flags}, __as_i) AS BOOLEAN), false)"
        if reverse:
            # cut AFTER element i (never after the last) -> next group
            # starts at i+1
            cuts = (
                f"transform(filter(sequence(1, greatest({n}, 1)), "
                f"__as_i -> __as_i < {n} AND {flag_i}), __as_c -> __as_c + 1)"
            )
        else:
            # cut BEFORE element i (never before the first) -> group
            # starts at i
            cuts = (
                f"filter(sequence(1, greatest({n}, 1)), "
                f"__as_i -> __as_i > 1 AND __as_i <= {n} AND {flag_i})"
            )
        starts = f"concat(array(1), {cuts})"
        groups = (
            f"transform(sequence(1, size({starts})), __as_k -> "
            f"slice(({arr}), element_at({starts}, __as_k), "
            f"(CASE WHEN __as_k < size({starts}) "
            f"THEN element_at({starts}, __as_k + 1) ELSE {n} + 1 END) "
            f"- element_at({starts}, __as_k)))"
        )
        # empty input -> empty array-of-arrays (slice(array(arr),1,0) is
        # the typed empty without spelling the element type)
        return (
            f"(CASE WHEN {n} = 0 THEN slice(array(({arr})), 1, 0) "
            f"ELSE {groups} END)"
        )

    return rw


def _pm_url_hierarchy(path_only: bool):
    """URLHierarchy/URLPathHierarchy — batch 21. CH semantics (URL
    functions doc): the URL truncated after every run of the separators
    '/', '?' in the path + query string (consecutive separators count as
    one; the cut lands after the run), plus the full URL when it does not
    end at a separator; the fragment is never split.
    URLPathHierarchy is the same list without protocol+host and without
    the root '/' element. Doc goldens:
    URLHierarchy('https://example.com/browse/CONV-6788') =
    ['https://example.com/', 'https://example.com/browse/',
     'https://example.com/browse/CONV-6788'];
    URLPathHierarchy(same) = ['/browse/', '/browse/CONV-6788'].
    A URL with no path yields [] (no separator run, empty remainder)."""

    def rw(args: list[str]) -> str:
        if len(args) != 1:
            raise NotImplementedError("URLHierarchy expects exactly 1 argument")
        x = f"({args[0]})"
        # scheme + '//' + authority (userinfo@host:port) — everything
        # before the first '/', '?' or '#' of the path
        p = f"regexp_extract({x}, '^[A-Za-z][A-Za-z0-9+.-]*:(//)?[^/?#]*', 0)"
        r = f"substring({x}, length({p}) + 1)"
        # separators are scanned only in path + query — stop at '#'
        rpq = (
            f"(CASE WHEN instr({r}, '#') > 0 "
            f"THEN substring({r}, 1, instr({r}, '#') - 1) ELSE {r} END)"
        )
        cuts = (
            f"filter(sequence(1, greatest(length({rpq}), 1)), __uh_i -> "
            f"__uh_i <= length({rpq}) "
            f"AND substring({rpq}, __uh_i, 1) IN ('/', '?') "
            f"AND (__uh_i = length({rpq}) "
            f"OR substring({rpq}, __uh_i + 1, 1) NOT IN ('/', '?')))"
        )
        if path_only:
            elems = f"filter(transform({cuts}, __uh_c -> substring({r}, 1, __uh_c)), __uh_e -> __uh_e <> '/')"
            tail = r
        else:
            elems = f"transform({cuts}, __uh_c -> concat({p}, substring({r}, 1, __uh_c)))"
            tail = x
        last = f"coalesce(try_element_at({cuts}, -1), 0)"
        return (
            f"(CASE WHEN length({r}) > {last} "
            f"THEN concat({elems}, array({tail})) ELSE {elems} END)"
        )

    return rw


def _pm_morton_decode(args: list[str]) -> str:
    """mortonDecode(2, code) — CH's (dims, code) signature; only 2-D is
    shimmed (mortonDecode2D). The bare (code) form is kept for
    compatibility with earlier goldens."""
    if len(args) == 1:
        return f"mortonDecode2D({args[0]})"
    if len(args) == 2 and args[0].strip() == "2":
        return f"mortonDecode2D({args[1]})"
    raise NotImplementedError("mortonDecode: only 2 dimensions are shimmed")


def _pm_gate(name: str, recipe: str):
    def rw(args: list[str]) -> str:
        raise NotImplementedError(f"{name} is not shimmed - {recipe}")

    return rw


# vocab batch 14 (probe-driven, probe wave 14): date-interval spellings,
# map merges, array fill/split family, checked casts, misc predicates, and
# loud gates for the genuinely non-expressible statistics.
_PARAMETRIC.update(
    {
        "sumWithOverflow": _pm_1arg("sum({x})"),  # wrap-on-overflow not modeled
        "indexOfAssumeSorted": _pm_2arg_fa("indexOf({f}, {a})"),  # sortedness is a hint
        "addDate": _pm_2arg_fa("({f} + {a})"),
        "subDate": _pm_2arg_fa("({f} - {a})"),
        "timestampAdd": _pm_2arg_fa("({f} + {a})"),
        "timestampSub": _pm_2arg_fa("({f} - {a})"),
        "arraySymmetricDifference": _pm_2arg_fa(
            "array_distinct(concat(array_except({f}, {a}), array_except({a}, {f})))"
        ),
        "hasSubstr": _pm_2arg_fa(
            "(CASE WHEN size({a}) = 0 THEN true WHEN size({f}) >= size({a}) THEN "
            "exists(sequence(1, size({f}) - size({a}) + 1), "
            "__hs_i -> slice({f}, __hs_i, size({a})) = {a}) ELSE false END)"
        ),
        "mapAdd": _pm_map_merge("+"),
        "mapSubtract": _pm_map_merge("-"),
        "mapPopulateSeries": _pm_1arg(
            "map_from_arrays("
            "sequence(array_min(map_keys({x})), array_max(map_keys({x}))), "
            "transform(sequence(array_min(map_keys({x})), array_max(map_keys({x}))), "
            "__mp_k -> coalesce(element_at({x}, __mp_k), 0)))"
        ),
        "mapExtractKeyLike": _pm_2arg_fa(
            "map_filter({f}, (__mk, __mv) -> __mk LIKE {a})"
        ),
        "isZeroOrNull": _pm_1arg(
            "(CASE WHEN {x} IS NULL OR {x} = 0 THEN 1 ELSE 0 END)"
        ),
        "toBool": _pm_1arg("CAST({x} AS BOOLEAN)"),
        "accurateCastOrNull": _pm_accurate_cast_or_null,
        "arrayFill": _pm_array_fill(reverse=False),
        "arrayReverseFill": _pm_array_fill(reverse=True),
        "mortonDecode": _pm_morton_decode,
        "arraySplit": _pm_array_split(reverse=False),  # batch 21
        "arrayReverseSplit": _pm_array_split(reverse=True),  # batch 21
        "tuplePlus": _pm_gate(
            "tuplePlus", "use arrays: zip_with(a, b, (x, y) -> x + y)"
        ),
        "tupleMinus": _pm_gate(
            "tupleMinus", "use arrays: zip_with(a, b, (x, y) -> x - y)"
        ),
        "tupleMultiplyByNumber": _pm_gate(
            "tupleMultiplyByNumber", "use arrays: transform(a, x -> x * n)"
        ),
        # cramersV / cramersVBiasCorrected / theilsU / contingency:
        # implemented in batch 25 (collect + Arrow UDF, functions/stats.py)
        "maxIntersectionsPosition": _pm_gate(
            "maxIntersectionsPosition",
            "explode (start,+1),(end,-1) events, running-sum window ordered "
            "by position, argmax of the running sum",
        ),
        # batch 23: the former "needs a UDF" gates, now Arrow UDFs
        # (functions/geo.py register_batch23_functions). The DL variant is
        # optimal-string-alignment (each substring edited once) — differs
        # from unrestricted DL only on cases like CA→ABC (3 vs 2).
        "damerauLevenshteinDistance": _pm_2arg_fa("chDamerauLevenshtein({f}, {a})"),
        "jaroSimilarity": _pm_2arg_fa("chJaroSimilarity({f}, {a})"),
        "jaroWinklerSimilarity": _pm_2arg_fa("chJaroWinkler({f}, {a})"),
    }
)


# ---------------------------------------------------------------------------
# vocab batch 15 (probe-driven): geo/bucket/decimal-format scalars, time
# slots, UUIDv7, untuple on columns, variadic byteSize, and loud gates for
# the bit-level / punycode family.


def _pm_to_decimal_string(args: list[str]) -> str:
    """toDecimalString(x, n) → fixed n-decimal string. n must be a literal
    (it becomes the DECIMAL scale); CH allows up to 77 digits, Spark
    DECIMAL(38) caps the shim at scale 37 — larger scales refuse loudly.
    Midpoint values round HALF_UP (Spark round); CH rounds floats
    half-to-even, so exact .5 midpoints can differ by one ulp of scale."""
    if len(args) != 2:
        raise NotImplementedError("toDecimalString: expected (x, n)")
    x, n = args
    try:
        scale = int(n)
    except ValueError:
        raise NotImplementedError("toDecimalString: n must be an integer literal")
    if not 0 <= scale <= 37:
        raise NotImplementedError(
            "toDecimalString: scale beyond DECIMAL(38) precision - CH allows "
            "up to 77 digits, this engine stops at 37"
        )
    return f"CAST(CAST(round({x}, {scale}) AS DECIMAL(38, {scale})) AS STRING)"


def _pm_width_bucket(args: list[str]) -> str:
    if len(args) != 4:
        raise NotImplementedError("widthBucket: expected (x, low, high, nbuckets)")
    return f"width_bucket({args[0]}, {args[1]}, {args[2]}, {args[3]})"


def _pm_time_slots(args: list[str]) -> str:
    """timeSlots(start, duration[, size=1800]) → array of slot starts
    (start rounded down to size) covering [start, start + duration]."""
    if len(args) == 2:
        start, dur = args
        size = "1800"
    elif len(args) == 3:
        start, dur, size = args
    else:
        raise NotImplementedError("timeSlots: expected (start, duration[, size])")
    lo = f"floor(unix_timestamp({start}) / ({size}))"
    hi = f"floor((unix_timestamp({start}) + ({dur})) / ({size}))"
    return (
        f"transform(sequence({lo}, {hi}), "
        f"__ts_s -> to_timestamp(__ts_s * ({size})))"
    )


def _pm_generate_uuid_v7(args: list[str]) -> str:
    """generateUUIDv7() → RFC 9562 v7: 48-bit unix-millis prefix, version
    nibble 7, remaining random bits (and the variant nibble) borrowed from
    a fresh v4. Time-ordered like CH's; random tail differs per call."""
    if args and any(a.strip() for a in args):
        raise NotImplementedError("generateUUIDv7 takes no arguments")
    ms = "lpad(lower(hex(unix_millis(current_timestamp()))), 12, '0')"
    u = "replace(uuid(), '-', '')"
    return (
        f"concat(substr({ms}, 1, 8), '-', substr({ms}, 9, 4), '-7', "
        f"substr({u}, 14, 3), '-', substr({u}, 17, 4), '-', substr({u}, 21, 12))"
    )


def _pm_untuple(args: list[str]) -> str:
    """untuple(col) → col.* — Spark star-expands struct ATTRIBUTES only, so
    inline tuple literals refuse with the subquery recipe."""
    if len(args) != 1:
        raise NotImplementedError("untuple takes exactly 1 argument")
    x = args[0].strip()
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", x):
        return f"{x}.*"
    raise NotImplementedError(
        "untuple of a non-column expression is not shimmed - name the tuple "
        "in a subquery (SELECT t.* FROM (SELECT <expr> AS t))"
    )


def _pm_byte_size(args: list[str]) -> str:
    """byteSize(a, b, ...) — CH's in-memory size estimate, variadic.
    Each arg is measured through the string model of the 1-arg SQL UDF
    (octet_length + 9, the CH string header; inlined here so the rewrite
    can't re-match itself) — a documented approximation for non-string
    args, whose CH value is the binary width."""
    if not args:
        raise NotImplementedError("byteSize needs at least 1 argument")
    return (
        "("
        + " + ".join(f"(octet_length(CAST({a} AS STRING)) + 9)" for a in args)
        + ")"
    )


def _pm_order_dependent_late(name: str, recipe: str):
    """Same loud gate as batch 6's _pm_order_dependent (defined below this
    point in the file, hence the local twin)."""

    def rw(args: list[str]) -> str:
        raise NotImplementedError(
            f"{name} depends on row arrival order within a block — "
            f"undefined in a distributed engine (ClickHouse's own docs "
            f"deprecate the neighbor/runningDifference family for the same "
            f"reason). Use a window function instead: {recipe}"
        )

    return rw


_PARAMETRIC.update(
    {
        # CH computes geoDistance on the WGS-84 ellipsoid; the shim reuses
        # the R=6371 km haversine (deviation <= ~0.5%, golden-tested with
        # tolerance like greatCircleDistance)
        "geoDistance": _pm_great_circle,
        "widthBucket": _pm_width_bucket,
        "byteSize": _pm_byte_size,
        "toDecimalString": _pm_to_decimal_string,
        "timeSlots": _pm_time_slots,
        "generateUUIDv7": _pm_generate_uuid_v7,
        "untuple": _pm_untuple,
        "groupArrayLast": _pm_order_dependent_late(
            "groupArrayLast",
            "use groupArraySorted(n)(x) or max_by(x, order_col) over an "
            "explicit order column",
        ),
        "bitSlice": _pm_gate(
            "bitSlice",
            "bit-level substrings have no Spark builtin; shift/mask integer "
            "columns or use substr for byte granularity",
        ),
        # batch 23: stdlib punycode/idna codecs over Arrow batches. Failure
        # convention deviates from CH (which THROWS on the non-try forms):
        # the plain forms return NULL and the try* forms CH's '' — a throw
        # inside a vectorized batch would fail the whole query for one row
        "punycodeEncode": _pm_1arg("chPunycodeEncode({x})"),
        "punycodeDecode": _pm_1arg("chPunycodeDecode({x})"),
        # try*: '' on decode FAILURE (CH) but NULL stays NULL — a bare
        # coalesce could not tell the two apart
        "tryPunycodeDecode": _pm_1arg(
            "(CASE WHEN ({x}) IS NOT NULL THEN coalesce(chPunycodeDecode({x}), '') END)"
        ),
        "idnaEncode": _pm_1arg("chIdnaEncode({x})"),
        "idnaDecode": _pm_1arg("chIdnaDecode({x})"),
        "tryIdnaEncode": _pm_1arg(
            "(CASE WHEN ({x}) IS NOT NULL THEN coalesce(chIdnaEncode({x}), '') END)"
        ),
        # groupArrayInsertAt: REAL rewrite in _PARAMETRIC2 (r9) — position
        # is an explicit argument, so the aggregate is NOT order-dependent
    }
)




# ---------------------------------------------------------------------------
# vocab batch 6: CH analytics aggregates — sequence aggregates (windowFunnel /
# sequenceMatch / sequenceCount / retention as SQL spellings over the same
# fold as operators/funnel.py), moment statistics, map aggregates, exact
# heavy hitters, generic -If combinators, and loud refusals for the
# block-order-dependent family CH itself deprecates.


def _pm_order_dependent(name: str, recipe: str):
    def rw(args: list[str]) -> str:
        raise NotImplementedError(
            f"{name} depends on row arrival order within a block — "
            f"undefined in a distributed engine (ClickHouse's own docs "
            f"deprecate the neighbor/runningDifference family for the same "
            f"reason). Use a window function instead: {recipe}"
        )

    return rw


def _pm_entropy(args: list[str]) -> str:
    """Shannon entropy of the value distribution (base 2, CH parity).
    HOF fold over collect_list — O(distinct x n) per group; for huge groups
    explode + two-level aggregate instead (documented)."""
    if len(args) != 1:
        raise NotImplementedError("entropy takes exactly 1 argument")
    x = args[0]
    lst = f"collect_list({x})"
    p = (
        f"(size(filter({lst}, __ee -> __ee <=> __ev)) / "
        f"CAST(size({lst}) AS DOUBLE))"
    )
    return f"aggregate(array_distinct({lst}), 0.0D, (__ea, __ev) -> __ea - {p} * log2({p}))"


def _pm_map_agg(kind: str):
    """maxMap/minMap/sumMap: per-key aggregation across rows. 1-arg Map form
    returns a Map (modern CH); 2-arg (keys, values) array form returns
    CH's tuple-of-arrays shape. HOF fold over the collected entries —
    bounded by (distinct keys x entries) per group; at scale explode the
    map and groupBy key (the agg_ch_showcase pattern) instead."""

    def rw(args: list[str]) -> str:
        if len(args) == 1:
            entries = (
                f"flatten(transform(collect_list({args[0]}), __mm -> map_entries(__mm)))"
            )
            tuple_form = False
        elif len(args) == 2:
            entries = (
                f"flatten(transform(collect_list(struct({args[0]} AS ks, {args[1]} AS vs)), "
                f"__mr -> zip_with(__mr.ks, __mr.vs, (__mk, __mv) -> "
                f"struct(__mk AS key, __mv AS value))))"
            )
            tuple_form = True
        else:
            raise NotImplementedError(f"{kind}Map takes a Map or (keys, values) arrays")
        ks = f"array_sort(array_distinct(transform({entries}, __me -> __me.key)))"
        vals_of = f"transform(filter({entries}, __me -> __me.key <=> __mk), __me -> __me.value)"
        if kind == "sum":
            val = f"aggregate({vals_of}, 0.0D, (__ma, __mx) -> __ma + __mx)"
        elif kind == "avg":
            val = (
                f"(aggregate({vals_of}, 0.0D, (__ma, __mx) -> __ma + __mx) "
                f"/ size({vals_of}))"
            )
        elif kind == "count":
            val = f"size({vals_of})"
        else:
            val = f"array_{kind}({vals_of})"
        vs = f"transform({ks}, __mk -> {val})"
        if tuple_form:
            return f"named_struct('keys', {ks}, 'values', {vs})"
        return f"map_from_arrays({ks}, {vs})"

    return rw


def _pm_retention(args: list[str]) -> str:
    """retention(c1, ..., ck) → array of 0/1: r1 = c1 held on some row;
    ri = c1 held on some row AND ci held on some row (CH's OR-of-rows
    bitmask state, finished as r1 & ri)."""
    if len(args) < 1:
        raise NotImplementedError("retention needs at least one condition")
    hit = [f"max(CASE WHEN {c} THEN 1 ELSE 0 END)" for c in args]
    cells = [hit[0]] + [f"({hit[0]} * {h})" for h in hit[1:]]
    return f"array({', '.join(cells)})"


# ---------------------------------------------------------------------------
# vocab batch 17 (probe-driven): stacked aggregate combinators
# (-ArrayIf, -IfOrNull), the -Map family's avg/count members, exact
# exclusive/inclusive quantiles, and loud gates for the
# order-dependent / statistics stragglers.


def _array_if(x: str, c: str) -> str:
    """The -ArrayIf guard: rows failing the condition contribute an EMPTY
    same-typed array (slice(a, 1, 0)), which every -Array body ignores
    (array_min/max of [] is NULL, folds add nothing, sizes are 0)."""
    return f"IF({c}, {x}, slice({x}, 1, 0))"


def _pm_array_if(body: str):
    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError("-ArrayIf takes (array, condition)")
        return body.format(x=_array_if(args[0], args[1]))

    return rw


_SUM_ELEMS = "aggregate({x}, CAST(0.0 AS DOUBLE), (__sa_a, __sa_v) -> __sa_a + __sa_v)"

_PARAMETRIC.update(
    {
        "sumArrayIf": _pm_array_if(f"sum({_SUM_ELEMS})"),
        # no matching row => every array is the empty slice => denominator 0;
        # CH's avgArrayIf yields nan there, while an unguarded division
        # throws under ANSI mode (round-6 advisory)
        "avgArrayIf": _pm_array_if(
            f"(CASE WHEN sum(size({{x}})) > 0 "
            f"THEN sum({_SUM_ELEMS}) / sum(size({{x}})) "
            f"ELSE CAST('NaN' AS DOUBLE) END)"
        ),
        "minArrayIf": _pm_array_if("min(array_min({x}))"),
        "maxArrayIf": _pm_array_if("max(array_max({x}))"),
        "countArrayIf": _pm_array_if("sum(size({x}))"),
        "uniqArrayIf": _pm_array_if("size(array_distinct(flatten(collect_list({x}))))"),
        # -IfOrNull: NULL (not 0 / not a default) when no row matches —
        # Spark aggregates over an all-NULL CASE column are already NULL
        "sumIfOrNull": _pm_2arg("sum(CASE WHEN {a} THEN {f} END)"),
        "avgIfOrNull": _pm_2arg("avg(CASE WHEN {a} THEN {f} END)"),
        "minIfOrNull": _pm_2arg("min(CASE WHEN {a} THEN {f} END)"),
        "maxIfOrNull": _pm_2arg("max(CASE WHEN {a} THEN {f} END)"),
        "countIfOrNull": _pm_2arg("nullif(count_if({a} AND ({f}) IS NOT NULL), 0)"),
        "avgMap": _pm_map_agg("avg"),
        "countMap": _pm_map_agg("count"),
        # sumMapFiltered: REAL rewrite in _PARAMETRIC2 (r9, batch 26)
        "groupConcat": _pm_order_dependent_late(
            "groupConcat",
            "array_join(groupArraySorted(n)(x), sep) or "
            "concat_ws(sep, collect_list(x)) if order is irrelevant",
        ),
        "aggThrow": _pm_gate(
            "aggThrow", "CH's fault-injection test aggregate; nothing to compute"
        ),
        # analysisOfVariance: REAL rewrite in batch 26 (chANOVA Arrow UDF
        # with a real incomplete-beta p-value) — registered below
        # meanZTest: implemented in batch 23 (_PARAMETRIC2, two-group form)
        # rankCorr: REAL (r9) — Spearman over midrank-tied ranks via the
        # chRankCorr Arrow UDF (collect-pairs state, the rank-test bound)
        "rankCorr": lambda a: (
            f"chRankCorr(collect_list(CASE WHEN ({a[0]}) IS NOT NULL AND "
            f"({a[1]}) IS NOT NULL THEN named_struct("
            f"'x', CAST(({a[0]}) AS DOUBLE), 'y', CAST(({a[1]}) AS DOUBLE)) END))"
            if len(a) == 2
            else (_ for _ in ()).throw(
                NotImplementedError("rankCorr expects (x, y)")
            )
        ),
    }
)


def _quantile_exact_interp(x: str, p: float, exclusive: bool) -> str:
    """Exact exclusive (R-6 / PERCENTILE.EXC) or inclusive (R-7 /
    PERCENTILE.INC) quantile over the sorted collected values."""
    s = f"array_sort(collect_list(CAST({x} AS DOUBLE)))"
    n = f"size({s})"
    h = f"({p} * ({n} + 1))" if exclusive else f"(1 + ({p}) * ({n} - 1))"
    k = f"CAST(floor({h}) AS INT)"
    lo = f"element_at({s}, greatest(least({k}, {n}), 1))"
    hi = f"element_at({s}, greatest(least({k} + 1, {n}), 1))"
    return (
        f"(CASE WHEN {n} = 0 THEN NULL "
        f"WHEN {h} < 1 THEN element_at({s}, 1) "
        f"WHEN {h} >= {n} THEN element_at({s}, {n}) "
        f"ELSE {lo} + ({h} - {k}) * ({hi} - {lo}) END)"
    )


def _rw_quantile_exact_variant(exclusive: bool, plural: bool):
    def rw(m: "re.Match[str]") -> str:
        ps = [float(p.strip()) for p in m.group(1).split(",") if p.strip()]
        x = m.group(2)
        cells = [_quantile_exact_interp(x, p, exclusive) for p in ps]
        if plural:
            return "array(" + ", ".join(cells) + ")"
        if len(cells) != 1:
            raise NotImplementedError("singular quantile takes exactly one level")
        return cells[0]

    return rw


_REWRITES.extend(
    [
        (
            re.compile(
                r"\bquantilesExactExclusive\(([0-9.,\s]+)\)\(([^()]*)\)", re.IGNORECASE
            ),
            _rw_quantile_exact_variant(True, True),
        ),
        (
            re.compile(
                r"\bquantilesExactInclusive\(([0-9.,\s]+)\)\(([^()]*)\)", re.IGNORECASE
            ),
            _rw_quantile_exact_variant(False, True),
        ),
        (
            re.compile(
                r"\bquantileExactExclusive\(([0-9.,\s]+)\)\(([^()]*)\)", re.IGNORECASE
            ),
            _rw_quantile_exact_variant(True, False),
        ),
        (
            re.compile(
                r"\bquantileExactInclusive\(([0-9.,\s]+)\)\(([^()]*)\)", re.IGNORECASE
            ),
            _rw_quantile_exact_variant(False, False),
        ),
        # -OrNull spellings of the pick aggregates (Spark's are already
        # NULL on the empty set)
        (re.compile(r"\banyOrNull\(", re.IGNORECASE), "any_value("),
        (re.compile(r"\banyLastOrNull\(", re.IGNORECASE), "last("),
    ]
)


_PARAMETRIC.update(
    {
        # moment statistics: Spark's skewness/kurtosis are the population
        # forms (m3/m2^1.5, m4/m2^2 - 3); CH's -Samp variants divide by the
        # SAMPLE variance instead — an exact ((n-1)/n)^p rescale
        "skewPop": _pm_1arg("skewness({x})"),
        "skewSamp": _pm_1arg(
            "(skewness({x}) * pow((count({x}) - 1.0D) / count({x}), 1.5D))"
        ),
        "kurtPop": _pm_1arg("(kurtosis({x}) + 3.0D)"),
        "kurtSamp": _pm_1arg(
            "((kurtosis({x}) + 3.0D) * pow((count({x}) - 1.0D) / count({x}), 2.0D))"
        ),
        "sumCount": _pm_1arg("named_struct('sum', sum({x}), 'count', count({x}))"),
        "entropy": _pm_entropy,
        # slope of the segment between the leftmost and rightmost points
        "boundingRatio": _pm_2arg_fa(
            "((max_by({a}, {f}) - min_by({a}, {f})) / CAST(max({f}) - min({f}) AS DOUBLE))"
        ),
        "simpleLinearRegression": _pm_2arg_fa(
            "named_struct('k', regr_slope({a}, {f}), 'b', regr_intercept({a}, {f}))"
        ),
        "singleValueOrNull": _pm_1arg(
            "(CASE WHEN count(DISTINCT {x}) = 1 THEN max({x}) END)"
        ),
        "maxMap": _pm_map_agg("max"),
        "minMap": _pm_map_agg("min"),
        "sumMap": _pm_map_agg("sum"),
        "retention": _pm_retention,
        # generic -If combinators (CASE keeps NULL for non-matching rows and
        # every target aggregate ignores NULLs — max_by/min_by skip NULL
        # ordering values, collect_list/collect_set skip NULL elements)
        "anyIf": _pm_2arg("any_value(CASE WHEN {a} THEN {f} END, true)"),
        "anyLastIf": _pm_2arg("last(CASE WHEN {a} THEN {f} END, true)"),
        "uniqIf": _pm_2arg("approx_count_distinct(CASE WHEN {a} THEN {f} END)"),
        "uniqExactIf": _pm_2arg("count(DISTINCT CASE WHEN {a} THEN {f} END)"),
        "groupArrayIf": _pm_2arg("collect_list(CASE WHEN {a} THEN {f} END)"),
        "groupUniqArrayIf": _pm_2arg("collect_set(CASE WHEN {a} THEN {f} END)"),
        # order-dependent family: loud refusal with the window recipe
        "neighbor": _pm_order_dependent(
            "neighbor", "lag(x, -offset) / lead(x, offset) OVER (ORDER BY ...)"
        ),
        "runningDifference": _pm_order_dependent(
            "runningDifference", "x - lag(x, 1) OVER (ORDER BY ...)"
        ),
        "runningAccumulate": _pm_order_dependent(
            "runningAccumulate", "sum(x) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)"
        ),
        "groupArrayMovingSum": _pm_order_dependent(
            "groupArrayMovingSum",
            "sum(x) OVER (ORDER BY ... ROWS BETWEEN n PRECEDING AND CURRENT ROW)",
        ),
        "groupArrayMovingAvg": _pm_order_dependent(
            "groupArrayMovingAvg",
            "avg(x) OVER (ORDER BY ... ROWS BETWEEN n PRECEDING AND CURRENT ROW)",
        ),
        # exponentialMovingAverage: REAL rewrite in _PARAMETRIC2 (r9) — it
        # is time-anchored, not arrival-order-dependent, so the old gate
        # here was wrong to lump it with the neighbor family
        "deltaSum": _pm_order_dependent(
            "deltaSum", "sum(greatest(x - lag(x) OVER (ORDER BY ...), 0))"
        ),
        # deltaSumTimestamp: REAL rewrite in batch 27 (r10) — it carries
        # its own ordering column, so the old arrival-order gate here was
        # wrong to lump it with the neighbor family
    }
)


# -- two-group parametric spellings: name(params)(args) ----------------------


def _argmaxmin_if(fn: str):
    def rw(args: list[str]) -> str:
        if len(args) != 3:
            raise NotImplementedError(f"{fn}If expects (arg, val, cond)")
        a, b, c = args
        target = "max_by" if fn == "argMax" else "min_by"
        return f"{target}({a}, CASE WHEN {c} THEN {b} END)"

    return rw


_PARAMETRIC.update(
    {"argMaxIf": _argmaxmin_if("argMax"), "argMinIf": _argmaxmin_if("argMin")}
)


# ---------------------------------------------------------------------------
# vocab batch 8 (round-5 probe): string search arg-order fixes, binary MD5,
# CH format()/char(), array vocabulary 3, the bitmap family (represented as
# sorted distinct ARRAY<BIGINT> — set semantics, not roaring bitmaps), and
# date mode arguments.


def _pm_position(args: list[str]) -> str | None:
    """CH position(haystack, needle[, start]) → locate(needle, haystack
    [, start]) — the ARG ORDER IS REVERSED vs Spark's builtin position
    (substr, str), which silently returns 0 for swapped args. The 1-arg
    spelling (ANSI ``position(x IN y)``) is declined and parses natively."""
    if len(args) == 2:
        return f"locate({args[1]}, {args[0]})"
    if len(args) == 3:
        return f"locate({args[1]}, {args[0]}, {args[2]})"
    return None


def _pm_round_bankers(args: list[str]) -> str:
    """roundBankers → bround (both HALF_EVEN). A textual rewrite rather
    than a SQL UDF because bround demands a LITERAL scale argument."""
    if len(args) == 1:
        return f"bround({args[0]})"
    if len(args) == 2:
        return f"bround({args[0]}, {args[1]})"
    raise NotImplementedError("roundBankers expects (x[, scale])")


def _pm_char(args: list[str]) -> str:
    """CH char(n1, n2, ...) — string built from the code points."""
    if not args:
        raise NotImplementedError("char needs at least one code point")
    return "concat(" + ", ".join(f"chr({a})" for a in args) + ")"


def _pm_format(args: list[str]) -> str:
    """CH format('{} and {}', a, b) / indexed '{0}…{1}' → format_string.
    The pattern must be a string LITERAL (the placeholder positions decide
    the argument order at rewrite time). ``{{``/``}}`` escape braces."""
    if len(args) < 2:
        raise NotImplementedError("format needs a pattern and arguments")
    m = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", args[0])
    if not m:
        raise NotImplementedError(
            "format needs a literal pattern string - for dynamic patterns "
            "use Spark's format_string directly"
        )
    pat, vals = m.group(1), args[1:]
    out: list[str] = []
    order: list[int] = []
    auto = i = 0
    while i < len(pat):
        c = pat[i]
        if pat.startswith("{{", i) or pat.startswith("}}", i):
            out.append(pat[i])
            i += 2
        elif c == "{":
            j = pat.index("}", i)
            token = pat[i + 1 : j].strip()
            order.append(int(token) if token else auto)
            if not token:
                auto += 1
            out.append("%s")
            i = j + 1
        elif c == "%":
            out.append("%%")
            i += 1
        else:
            out.append(c)
            i += 1
    if any(k >= len(vals) for k in order):
        raise NotImplementedError("format placeholder index out of range")
    picked = ", ".join(vals[k] for k in order)
    return f"format_string('{''.join(out)}', {picked})"


def _pm_is_constant(args: list[str]) -> str:
    """isConstant(x) — decided at rewrite time: literal-shaped argument
    (number / string / true/false/null) → 1, anything else → 0."""
    if len(args) != 1:
        raise NotImplementedError("isConstant expects one argument")
    a = args[0].strip()
    lit = re.fullmatch(r"-?\d+(\.\d+)?|'(?:[^']|'')*'|true|false|null", a, re.IGNORECASE)
    return "1" if lit else "0"


_ARRAY_REDUCE_FOLDS = {
    "sum": "aggregate({a}, CAST(0.0 AS DOUBLE), (__arr_a, __arr_v) -> __arr_a + __arr_v)",
    "min": "array_min({a})",
    "max": "array_max({a})",
    "avg": "(CASE WHEN size({a}) > 0 THEN aggregate({a}, CAST(0.0 AS DOUBLE), "
    "(__arr_a, __arr_v) -> __arr_a + __arr_v) / size({a}) END)",
    "count": "size({a})",
    "any": "element_at({a}, 1)",
    "anylast": "element_at({a}, -1)",
    "uniqexact": "size(array_distinct({a}))",
    # CH's uniq is sampling-approximate; exact is this repo's documented
    # mapping for the family (same deviation as the uniq aggregate)
    "uniq": "size(array_distinct({a}))",
    "groupuniqarray": "array_distinct({a})",
}


def _pm_array_reduce(args: list[str]) -> str:
    """arrayReduce('agg', arr) for the algebraic aggregates (sum/min/max/
    avg/count/any/anyLast/uniq/uniqExact/groupUniqArray) plus the
    parametric 'quantile[Exact](p)' spelling (exact interpolated quantile
    over the sorted array — CH's default is sampling-approximate, exact
    is the documented family deviation); sum/avg fold in DOUBLE (same
    widening rule as arrayCumSum). Other aggregate names refuse with the
    explode recipe."""
    if len(args) != 2:
        raise NotImplementedError("arrayReduce expects ('agg', arr)")
    qm = re.fullmatch(
        r"\s*'(?:quantile|quantileExact|median)\s*(?:\(\s*(0?\.\d+|[01])\s*\))?'\s*",
        args[0],
        re.IGNORECASE,
    )
    if qm:
        p = qm.group(1) or "0.5"
        a = args[1]
        # R-7 linear interpolation over the sorted array, pure JVM:
        # h = (n-1)*p; x[floor(h)] + (h - floor(h)) * (x[floor(h)+1] - x[floor(h)])
        srt = f"array_sort({a})"
        h = f"((size({a}) - 1) * CAST({p} AS DOUBLE))"
        lo = f"element_at({srt}, CAST(floor({h}) AS INT) + 1)"
        hi = f"element_at({srt}, least(CAST(floor({h}) AS INT) + 2, size({a})))"
        return (
            f"(CASE WHEN size({a}) > 0 THEN "
            f"CAST({lo} AS DOUBLE) + ({h} - floor({h})) * "
            f"(CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE)) END)"
        )
    m = re.fullmatch(r"\s*'(\w+)'\s*", args[0])
    if not m or m.group(1).lower() not in _ARRAY_REDUCE_FOLDS or m.group(1).lower() == "median":
        raise NotImplementedError(
            "arrayReduce supports 'sum','min','max','avg','count','any',"
            "'anyLast','uniq','uniqExact','groupUniqArray' and "
            "'quantile[Exact](p)'/'median' - for other aggregates "
            "explode the array and aggregate (LATERAL VIEW / arrayJoin)"
        )
    return "(" + _ARRAY_REDUCE_FOLDS[m.group(1).lower()].format(a=args[1]) + ")"


def _pm_array_resize(args: list[str]) -> str:
    """arrayResize(arr, n[, fill]) — truncate to n or pad with fill
    (NULL when omitted, vs CH's type-default; documented deviation).
    Negative n (pad/cut from the front) is refused."""
    if len(args) not in (2, 3):
        raise NotImplementedError("arrayResize expects (arr, n[, fill])")
    a, n = args[0], args[1]
    fill = args[2] if len(args) == 3 else "NULL"
    return (
        f"(CASE WHEN ({n}) < 0 THEN raise_error('arrayResize: negative size "
        f"is not supported') WHEN ({n}) <= size({a}) THEN slice({a}, 1, {n}) "
        f"ELSE concat({a}, transform(sequence(1, ({n}) - size({a})), "
        f"__rz_i -> {fill})) END)"
    )


def _pm_array_rotate(left: bool):
    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError("arrayRotate expects (arr, n)")
        a, n = args[0], ("(" + args[1] + ")") if left else f"(-({args[1]}))"
        k = f"pmod({n}, size({a}))"
        return (
            f"(CASE WHEN size({a}) <= 1 THEN {a} ELSE "
            f"concat(slice({a}, {k} + 1, size({a}) - {k}), slice({a}, 1, {k})) END)"
        )

    return rw


def _pm_array_shingles(args: list[str]) -> str:
    if len(args) != 2:
        raise NotImplementedError("arrayShingles expects (arr, n)")
    a, n = args
    return (
        f"(CASE WHEN size({a}) < ({n}) THEN slice(array({a}), 1, 0) ELSE "
        f"transform(sequence(1, size({a}) - ({n}) + 1), "
        f"__sh_i -> slice({a}, __sh_i, {n})) END)"
    )


def _pm_array_fold(args: list[str]) -> str:
    """CH arrayFold(lambda, arr, acc0) → aggregate(arr, acc0, lambda)."""
    if len(args) != 3:
        raise NotImplementedError("arrayFold expects (lambda, arr, acc0)")
    return f"aggregate({args[1]}, {args[2]}, {args[0]})"


def _pm_stem_refusal(args: list[str]) -> str:
    raise NotImplementedError(
        "stem needs a snowball stemmer, not available in this environment; "
        "approximate with regexp_replace suffix stripping or tokenize with "
        "operators/text_analysis.py"
    )


def _pm_to_day_of_week_mode(args: list[str]) -> str | None:
    """toDayOfWeek(t, mode): 0 = Mon 1-7, 1 = Mon 0-6, 2 = Sun 0-6,
    3 = Sun 1-7. The 1-arg spelling declines to the SQL UDF (mode 0)."""
    if len(args) == 1:
        return None
    if len(args) != 2:
        raise NotImplementedError("toDayOfWeek expects (t[, mode])")
    t, mode = args[0], args[1].strip()
    forms = {
        "0": f"(((dayofweek({t}) + 5) % 7) + 1)",
        "1": f"((dayofweek({t}) + 5) % 7)",
        "2": f"(dayofweek({t}) - 1)",
        "3": f"dayofweek({t})",
    }
    if mode not in forms:
        raise NotImplementedError("toDayOfWeek mode must be a literal 0-3")
    return forms[mode]


def _pm_to_week_mode(args: list[str]) -> str | None:
    """toWeek(t, mode): mode 3 (ISO) → weekofyear; mode 0 declines to the
    SQL UDF (Sunday-start, week 0 before the first Sunday). Other modes
    refuse — their first-week rules need per-year calendars."""
    if len(args) == 1:
        return None
    if len(args) == 2 and args[1].strip() == "3":
        return f"weekofyear({args[0]})"
    if len(args) == 2 and args[1].strip() == "0":
        return f"toWeek({args[0]})"  # the 1-arg SQL UDF computes mode 0
    raise NotImplementedError(
        "toWeek supports modes 0 (Sunday-start) and 3 (ISO); other "
        "first-week rules are not shimmed - use weekofyear for ISO weeks"
    )


# bitmap family: a bitmap IS a sorted distinct ARRAY<BIGINT> here (set
# semantics; CH's roaring-bitmap compression is an encoding detail its SQL
# surface never observes). bitmapMin/Max return NULL on empty where CH
# returns UINT32_MAX/0 — documented deviation.
_BITMAP_FAMILY = {
    "bitmapBuild": _pm_1arg("array_sort(array_distinct({x}))"),
    "bitmapToArray": _pm_1arg("({x})"),
    "bitmapCardinality": _pm_1arg("size({x})"),
    "bitmapMin": _pm_1arg("array_min({x})"),
    "bitmapMax": _pm_1arg("array_max({x})"),
    "bitmapAnd": _pm_2arg_fa("array_sort(array_intersect({f}, {a}))"),
    "bitmapOr": _pm_2arg_fa("array_sort(array_distinct(concat({f}, {a})))"),
    "bitmapXor": _pm_2arg_fa(
        "array_sort(concat(array_except({f}, {a}), array_except({a}, {f})))"
    ),
    "bitmapAndnot": _pm_2arg_fa("array_sort(array_except({f}, {a}))"),
    "bitmapContains": _pm_2arg_fa("array_contains({f}, {a})"),
    "bitmapHasAny": _pm_2arg_fa("arrays_overlap({f}, {a})"),
    "bitmapHasAll": _pm_2arg_fa("(size(array_except({a}, {f})) = 0)"),
    "bitmapAndCardinality": _pm_2arg_fa("size(array_intersect({f}, {a}))"),
    "bitmapOrCardinality": _pm_2arg_fa("size(array_distinct(concat({f}, {a})))"),
    "bitmapXorCardinality": _pm_2arg_fa(
        "(size(array_except({f}, {a})) + size(array_except({a}, {f})))"
    ),
    "bitmapAndnotCardinality": _pm_2arg_fa("size(array_except({f}, {a}))"),
}

def _char_gram_hashes(s: str, n: str) -> str:
    """xxhash64 array over character n-grams (empty-safe)."""
    return (
        f"CASE WHEN length({s}) < ({n}) THEN array(xxhash64({s})) "
        f"ELSE transform(sequence(1, length({s}) - ({n}) + 1), "
        f"__mh_i -> xxhash64(substring({s}, __mh_i, {n}))) END"
    )


def _word_shingle_hashes(s: str, n: str) -> str:
    """xxhash64 array over word n-shingles (split on whitespace)."""
    toks = f"filter(split({s}, '\\\\s+'), __mh_t -> __mh_t != '')"
    return (
        f"CASE WHEN size({toks}) < ({n}) THEN array(xxhash64({s})) "
        f"ELSE transform(sequence(1, size({toks}) - ({n}) + 1), "
        f"__mh_i -> xxhash64(array_join(slice({toks}, __mh_i, {n}), ' '))) END"
    )


def _pm_minhash(gram_fn):
    """ngramMinHash / wordShingleMinHash(s[, n]) → CH's (min, max) hash
    tuple over the gram hash set (the cheap per-row near-dup fingerprint;
    equal fingerprints ⇒ near-dup candidates). Hash values are xxhash64,
    not CH's — same-engine comparisons only (the cityHash64 policy)."""

    def rw(args: list[str]) -> str:
        if len(args) not in (1, 2, 3):
            raise NotImplementedError("minHash fingerprints expect (s[, n[, k]])")
        ghs = gram_fn(args[0], args[1] if len(args) > 1 else "3")
        return (
            f"named_struct('col1', array_min({ghs}), 'col2', array_max({ghs}))"
        )

    return rw


def _pm_simhash(gram_fn):
    """ngramSimHash / wordShingleSimHash(s[, n]) → 64-bit SimHash over the
    gram hashes: per-bit majority vote, spelled as ONE fold building the
    64 bit-counts then a zip_with assembling the fingerprint (no per-bit
    rescan of the gram array)."""

    def rw(args: list[str]) -> str:
        if len(args) not in (1, 2):
            raise NotImplementedError("simHash fingerprints expect (s[, n])")
        ghs = gram_fn(args[0], args[1] if len(args) > 1 else "3")
        counts = (
            f"aggregate({ghs}, transform(sequence(0, 63), __sh_b -> CAST(0 AS BIGINT)), "
            f"(__sh_acc, __sh_h) -> zip_with(__sh_acc, sequence(0, 63), "
            f"(__sh_c, __sh_b) -> __sh_c + (shiftright(__sh_h, CAST(__sh_b AS INT)) & 1)))"
        )
        return (
            f"aggregate(zip_with({counts}, sequence(0, 63), "
            f"(__sh_c, __sh_b) -> IF(2 * __sh_c >= size({ghs}), "
            f"shiftleft(CAST(1 AS BIGINT), __sh_b), CAST(0 AS BIGINT))), "
            f"CAST(0 AS BIGINT), (__sh_a, __sh_v) -> __sh_a | __sh_v)"
        )

    return rw


def _pm_corr_matrix(args: list[str]) -> str:
    """corrMatrix(c1, ..., cn) → n x n array of pairwise corr() — the
    expansion is exact (each cell is Spark's corr aggregate)."""
    if len(args) < 2:
        raise NotImplementedError("corrMatrix needs at least two columns")
    rows = ", ".join(
        "array(" + ", ".join(
            f"corr({a}, {b})" if a != b else "CAST(1.0 AS DOUBLE)"
            for b in args
        ) + ")"
        for a in args
    )
    return f"array({rows})"


def _pm_map_entry_hof(spark_fn: str):
    """mapExists/mapAll((k, v) -> cond, m) → exists/forall over
    map_entries with the lambda's parameters textually rebound to
    entry.key/entry.value (a two-arg lambda has no Spark map form)."""

    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError("map predicate HOFs expect (lambda, map)")
        mm = re.match(
            r"\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*(.+)$", args[0], re.DOTALL
        )
        if not mm:
            raise NotImplementedError(
                "map predicate HOFs need a ((k, v) -> cond) lambda literal"
            )
        k, v, body = mm.group(1), mm.group(2), mm.group(3)
        body = _sub_outside_strings(
            re.compile(r"\b" + re.escape(k) + r"\b"),
            lambda _m: "__mx_e.key",
            body,
        )
        body = _sub_outside_strings(
            re.compile(r"\b" + re.escape(v) + r"\b"),
            lambda _m: "__mx_e.value",
            body,
        )
        return f"{spark_fn}(map_entries({args[1]}), __mx_e -> ({body}))"

    return rw


def _pm_bit_test(all_of: bool):
    def rw(args: list[str]) -> str:
        if len(args) < 2:
            raise NotImplementedError("bitTestAll/Any expect (x, bit1[, ...])")
        x, bits = args[0], args[1:]
        tests = [f"((({x}) >> ({b})) & 1 = 1)" for b in bits]
        op = " AND " if all_of else " OR "
        return "(" + op.join(tests) + ")"

    return rw


# MySQL-style % tokens (CH parseDateTime follows MySQL) → Java datetime
# pattern pieces, the modern (23.1+) token semantics formatDateTime uses
_PARSE_DT_TOKENS = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "I": "hh", "i": "mm", "S": "ss",
    "s": "ss", "M": "MMMM", "b": "MMM", "a": "EEE", "W": "EEEE",
    "j": "DDD", "p": "a", "F": "yyyy-MM-dd", "T": "HH:mm:ss", "%": "%",
}


def _pm_parse_datetime(target: str, zero: str | None = None):
    """parseDateTime[OrNull|OrZero](s, '%-format'[, tz]) → to_timestamp
    with the format translated token-by-token at rewrite time (the format
    must be a literal; unknown % tokens refuse). Non-token characters are
    quoted so pattern letters in separators never misfire."""

    def rw(args: list[str]) -> str:
        if len(args) not in (2, 3):
            raise NotImplementedError("parseDateTime expects (value, format[, tz])")
        fm = re.fullmatch(r"\s*'([^']*)'\s*", args[1])
        if not fm:
            raise NotImplementedError(
                "parseDateTime needs a literal format string - use "
                "to_timestamp with a Java pattern for dynamic formats"
            )
        pat, out, i = fm.group(1), [], 0
        while i < len(pat):
            c = pat[i]
            if c == "%":
                if i + 1 >= len(pat):
                    raise NotImplementedError("dangling % in parseDateTime format")
                tok = pat[i + 1]
                if tok not in _PARSE_DT_TOKENS:
                    raise NotImplementedError(
                        f"parseDateTime token %{tok} is not supported"
                    )
                out.append(_PARSE_DT_TOKENS[tok])
                i += 2
            elif c.isalpha():
                out.append(f"'{c}'")  # quote letters so Java ignores them
                i += 1
            else:
                out.append(c)
                i += 1
        java = "".join(out).replace("''", "")
        expr = f"{target}({args[0]}, '{java}')"
        if zero is not None:
            expr = f"coalesce({expr}, {zero})"
        return expr

    return rw



def _pm_geohash_encode(args: list[str]) -> str:
    """geohashEncode(lon, lat[, precision]) — CH default precision 12."""
    if len(args) == 2:
        return f"chGeohashEncode({args[0]}, {args[1]}, 12)"
    if len(args) == 3:
        return f"chGeohashEncode({args[0]}, {args[1]}, {args[2]})"
    raise NotImplementedError("geohashEncode expects (lon, lat[, precision])")


_TUPLE_PAIR_RE = re.compile(r"\(\s*([^(),]+?)\s*,\s*([^(),]+?)\s*\)")


def _pm_point_in_polygon(args: list[str]) -> str:
    """pointInPolygon((x, y), [(x1, y1), ...]) — the tuple literals CH uses
    have no Spark spelling, so the handler decomposes them textually into
    (x, y, xs[], ys[]) for the Arrow UDF. Simple numeric/column tuple
    elements only; multi-ring polygons (holes) refuse."""
    if len(args) != 2:
        raise NotImplementedError(
            "pointInPolygon supports a single ring: ((x, y), [(x1, y1), ...])"
        )
    pm = _TUPLE_PAIR_RE.fullmatch(args[0].strip())
    if not pm:
        raise NotImplementedError(
            "pointInPolygon's first argument must be an (x, y) tuple literal"
        )
    px, py = pm.group(1), pm.group(2)
    ring = args[1].strip()
    am = re.fullmatch(r"array\s*\((.*)\)", ring, re.IGNORECASE | re.DOTALL)
    inner = am.group(1) if am else ring
    pairs = _TUPLE_PAIR_RE.findall(inner)
    if len(pairs) < 3:
        raise NotImplementedError(
            "pointInPolygon needs a ring of at least 3 (x, y) tuple literals"
        )
    xs = ", ".join(f"CAST({a} AS DOUBLE)" for a, _ in pairs)
    ys = ", ".join(f"CAST({b} AS DOUBLE)" for _, b in pairs)
    return (
        f"chPointInPolygon(CAST({px} AS DOUBLE), CAST({py} AS DOUBLE), "
        f"array({xs}), array({ys}))"
    )


def _pm_for_each(op_sql: str):
    """<agg>ForEach(arr): element-wise aggregate across rows' arrays in
    DOUBLE (the arrayCumSum widening rule); rows with shorter arrays
    contribute nothing at the missing positions (CH's contract)."""

    def rw(args: list[str]) -> str:
        if len(args) != 1:
            raise NotImplementedError("ForEach combinators take one array column")
        x = args[0]
        to_d = f"transform(__fe_a, __fe_v -> CAST(__fe_v AS DOUBLE))"
        return (
            f"aggregate(collect_list({x}), CAST(array() AS ARRAY<DOUBLE>), "
            f"(__fe_acc, __fe_a) -> CASE WHEN size(__fe_acc) = 0 THEN {to_d} "
            f"ELSE zip_with(__fe_acc, {to_d}, (__fe_p, __fe_q) -> {op_sql}) END)"
        )

    return rw


def _pm_interval_length_sum(args: list[str]) -> str:
    """intervalLengthSum(start, end): total length of the UNION of the
    segments — one sort + linear sweep, spelled as a fold over the sorted
    per-group interval list (exact, JVM-side)."""
    if len(args) != 2:
        raise NotImplementedError("intervalLengthSum expects (start, end)")
    s, e = args
    evs = f"array_sort(collect_list(named_struct('s', CAST({s} AS BIGINT), 'e', CAST({e} AS BIGINT))))"
    return (
        f"aggregate({evs}, "
        f"named_struct('tot', CAST(0 AS BIGINT), 'cs', CAST(NULL AS BIGINT), 'ce', CAST(NULL AS BIGINT)), "
        f"(__il_a, __il_v) -> CASE "
        f"WHEN __il_a.cs IS NULL THEN named_struct('tot', __il_a.tot, 'cs', __il_v.s, 'ce', __il_v.e) "
        f"WHEN __il_v.s > __il_a.ce THEN named_struct('tot', __il_a.tot + __il_a.ce - __il_a.cs, 'cs', __il_v.s, 'ce', __il_v.e) "
        f"ELSE named_struct('tot', __il_a.tot, 'cs', __il_a.cs, 'ce', greatest(__il_a.ce, __il_v.e)) END, "
        f"__il_a -> __il_a.tot + coalesce(__il_a.ce - __il_a.cs, 0))"
    )


def _pm_max_intersections(args: list[str]) -> str:
    """maxIntersections(start, end): max number of simultaneously
    intersecting half-open [s, e) intervals — +1/-1 events sorted by
    (t, delta) so an end releases before a coincident start, then a
    running-sum max fold (exact, JVM-side, same shape as
    intervalLengthSum)."""
    if len(args) != 2:
        raise NotImplementedError("maxIntersections expects (start, end)")
    s, e = args
    evs = (
        f"array_sort(flatten(collect_list(array("
        f"named_struct('t', CAST({s} AS BIGINT), 'd', 1), "
        f"named_struct('t', CAST({e} AS BIGINT), 'd', -1)))))"
    )
    return (
        f"aggregate({evs}, named_struct('c', 0, 'm', 0), "
        f"(__mi_a, __mi_v) -> named_struct('c', __mi_a.c + __mi_v.d, "
        f"'m', greatest(__mi_a.m, __mi_a.c + __mi_v.d)), __mi_a -> __mi_a.m)"
    )


def _pm_to_datetime64(args: list[str]) -> str:
    """toDateTime64(expr, precision[, tz]) → TIMESTAMP cast. Spark
    timestamps are fixed microsecond precision: the precision argument
    only matters above 6 (nanoseconds truncate — documented); a timezone
    argument is refused like the other tz-parameterized conversions."""
    if len(args) not in (2, 3):
        raise NotImplementedError("toDateTime64 expects (expr, precision[, tz])")
    if len(args) == 3:
        raise NotImplementedError(
            "toDateTime64 with a timezone argument is not supported - "
            "timestamps here are session-zone instants; convert with "
            "from_utc_timestamp/to_utc_timestamp explicitly"
        )
    return f"CAST({args[0]} AS TIMESTAMP)"


def _pm_json_keys_values(args: list[str]) -> str:
    """JSONExtractKeysAndValues(json, 'Type') → array of (key, value)
    structs via the typed map parser (strict JSON, like the JSONExtract
    family here)."""
    if len(args) != 2:
        raise NotImplementedError("JSONExtractKeysAndValues expects (json, 'Type')")
    m = re.fullmatch(r"\s*'([^']+)'\s*", args[1])
    if not m:
        raise NotImplementedError(
            "JSONExtractKeysAndValues needs a literal type string "
            "(e.g. 'Int64') - the value type decides the parse schema"
        )
    dtype, _ = parse_ch_type(m.group(1))
    return f"map_entries(from_json({args[0]}, 'map<string,{dtype.simpleString()}>'))"


def _pm_array_shift(left: bool):
    """arrayShiftLeft/Right(arr, n[, fill]) — n >= 0; vacated slots take
    ``fill`` (CH fills the element type's default; without an explicit
    fill this shim uses NULL, the engine-wide missing-value convention —
    documented deviation)."""

    def rw(args: list[str]) -> str:
        if len(args) not in (2, 3):
            raise NotImplementedError("arrayShift expects (arr, n[, fill])")
        a, n = args[0], args[1]
        nn = f"least(CAST({n} AS INT), size({a}))"
        fill = args[2] if len(args) == 3 else f"if(false, element_at({a}, 1), NULL)"
        if left:
            return (
                f"concat(slice({a}, {nn} + 1, greatest(size({a}) - {nn}, 0)), "
                f"array_repeat({fill}, {nn}))"
            )
        return (
            f"concat(array_repeat({fill}, {nn}), "
            f"slice({a}, 1, greatest(size({a}) - {nn}, 0)))"
        )

    return rw


def _g4(e: str) -> str:
    """4-gram SET of a string expression (strings shorter than 4 are one
    gram — their own text), for ngramDistance."""
    return (
        f"array_distinct(CASE WHEN length({e}) < 4 THEN array({e}) "
        f"ELSE transform(sequence(1, length({e}) - 3), "
        f"__nd_i -> substring({e}, __nd_i, 4)) END)"
    )


def _pm_ngram_distance(args: list[str]) -> str:
    """ngramDistance(a, b): 1 - |4-grams(a) ∩ 4-grams(b)| / |union| —
    the symmetric set form of CH's 4-gram profile distance (CH weights by
    occurrence counts; the set form agrees at 0 and 1 and ranks the same
    on near-dup text — documented deviation)."""
    if len(args) != 2:
        raise NotImplementedError("ngramDistance expects (a, b)")
    a, b = args
    ga, gb = _g4(a), _g4(b)
    return (
        f"(1.0D - size(array_intersect({ga}, {gb})) / "
        f"CAST(size(array_distinct(concat({ga}, {gb}))) AS DOUBLE))"
    )


def _pm_stats_test_refusal(name: str, recipe: str):
    def rw(args: list[str]) -> str:
        raise NotImplementedError(f"{name} is not shimmed - {recipe}")

    return rw


_PARAMETRIC.update(
    {
        "geohashEncode": _pm_geohash_encode,
        "geohashDecode": _pm_1arg("chGeohashDecode({x})"),
        "pointInPolygon": _pm_point_in_polygon,
        # -OrDefault: the numeric type default (0) on the empty set
        "sumOrDefault": _pm_1arg("coalesce(sum({x}), 0)"),
        "avgOrDefault": _pm_1arg("coalesce(avg({x}), 0)"),
        "minOrDefault": _pm_1arg("coalesce(min({x}), 0)"),
        "maxOrDefault": _pm_1arg("coalesce(max({x}), 0)"),
        "countOrNull": _pm_1arg("nullif(count({x}), 0)"),
        # -Array: aggregate over every ELEMENT of the rows' arrays.
        # sum/avg fold in DOUBLE (the arrayCumSum widening rule)
        "sumArray": _pm_1arg(
            "sum(aggregate({x}, CAST(0.0 AS DOUBLE), (__sa_a, __sa_v) -> __sa_a + __sa_v))"
        ),
        "countArray": _pm_1arg("sum(size({x}))"),
        "minArray": _pm_1arg("min(array_min({x}))"),
        "maxArray": _pm_1arg("max(array_max({x}))"),
        "avgArray": _pm_1arg(
            "(sum(aggregate({x}, CAST(0.0 AS DOUBLE), (__sa_a, __sa_v) -> __sa_a + __sa_v)) "
            "/ sum(size({x})))"
        ),
        "uniqArray": _pm_1arg("size(array_distinct(flatten(collect_list({x}))))"),
        "groupArrayArray": _pm_1arg("flatten(collect_list({x}))"),
        "groupUniqArrayArray": _pm_1arg("array_distinct(flatten(collect_list({x})))"),
        "sumForEach": _pm_for_each("coalesce(__fe_p, 0.0D) + coalesce(__fe_q, 0.0D)"),
        "minForEach": _pm_for_each(
            "CASE WHEN __fe_p IS NULL THEN __fe_q WHEN __fe_q IS NULL THEN __fe_p "
            "ELSE least(__fe_p, __fe_q) END"
        ),
        "maxForEach": _pm_for_each(
            "CASE WHEN __fe_p IS NULL THEN __fe_q WHEN __fe_q IS NULL THEN __fe_p "
            "ELSE greatest(__fe_p, __fe_q) END"
        ),
        "intervalLengthSum": _pm_interval_length_sum,
        "maxIntersections": _pm_max_intersections,
        "toDateTime64": _pm_to_datetime64,
        "JSONExtractKeysAndValues": _pm_json_keys_values,
        "arrayShiftLeft": _pm_array_shift(left=True),
        "arrayShiftRight": _pm_array_shift(left=False),
        # _pm_2arg binds {f}=first arg, {a}=second: map first, pattern second
        "mapContainsKeyLike": _pm_2arg("exists(map_keys({f}), __mck -> __mck LIKE {a})"),
        # probe batch 13 misc: materialize is identity (no constant-fold
        # distinction here); ignore always returns 0; indexHint filters
        # NOTHING (CH's documented contract: the expression only narrows
        # the index read range, rows outside it still return)
        "materialize": _pm_1arg("({x})"),
        "ignore": lambda args: "0",
        "indexHint": lambda args: "true",
        # vacated slot takes NULL, not CH's type default (documented, same
        # convention as arrayShiftLeft/Right)
        "emptyArrayToSingle": _pm_1arg(
            "(CASE WHEN size({x}) = 0 THEN array(if(false, element_at({x}, 1), NULL)) ELSE {x} END)"
        ),
        # statistical-test family: implemented in batch 23 — exact SQL
        # statistics + per-group Arrow p-value UDFs (_PARAMETRIC2 entries;
        # functions/stats.py holds the special functions)
    }
)


# -- vocab batch 27 (round 10, probe wave 27) --------------------------------


def _pm_throw_if(args: list[str]) -> str:
    """throwIf(cond[, message]) → per-row raise when cond is non-zero,
    else 0 (CH's UInt8 zero)."""
    if len(args) not in (1, 2):
        raise NotImplementedError("throwIf expects (condition[, message])")
    msg = args[1] if len(args) == 2 else "'throwIf: condition is non-zero'"
    return (
        f"(CASE WHEN CAST({args[0]} AS BOOLEAN) "
        f"THEN CAST(raise_error({msg}) AS INT) ELSE 0 END)"
    )


def _pm_ulid_to_datetime(args: list[str]) -> str:
    """ULIDStringToDateTime(ulid) → the 48-bit unix-millis prefix (10
    Crockford-base32 chars) as a timestamp. Length-checked loudly;
    charset is trusted (generateULID's own alphabet — a foreign char
    yields a garbage instant rather than a throw, documented)."""
    if len(args) not in (1, 2):
        raise NotImplementedError("ULIDStringToDateTime expects (ulid[, timezone])")
    if len(args) == 2:
        raise NotImplementedError(
            "ULIDStringToDateTime with a timezone argument is not supported - "
            "timestamps here are session-zone instants"
        )
    x = args[0]
    alpha = "'0123456789ABCDEFGHJKMNPQRSTVWXYZ'"
    ms = (
        f"aggregate(sequence(1, 10), CAST(0 AS BIGINT), (__ul_a, __ul_i) -> "
        f"__ul_a * 32 + instr({alpha}, substr(upper({x}), __ul_i, 1)) - 1)"
    )
    return (
        f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS TIMESTAMP) "
        f"WHEN length({x}) = 26 THEN timestamp_millis({ms}) "
        f"ELSE CAST(raise_error('ULIDStringToDateTime: a ULID is exactly "
        f"26 characters') AS TIMESTAMP) END)"
    )


def _pm_categorical_iv(args: list[str]) -> str:
    """categoricalInformationValue(cat1, ..., tag) → Array(Float64): per
    binary category column k, ((a/t1) − (b/t0))·ln((a/t1)/(b/t0)) with
    a = count(cat_k≠0 & tag≠0), b = count(cat_k≠0 & tag=0) — the CH docs
    formula. Rows with any NULL argument are skipped (CH aggregate NULL
    rule). Float edge cases (empty class, zero counts) surface as
    NULL/NaN rather than CH's ±inf — documented."""
    if len(args) < 2:
        raise NotImplementedError(
            "categoricalInformationValue expects (category1, ..., tag)"
        )
    tag = args[-1]
    nn = " AND ".join(f"({a}) IS NOT NULL" for a in args)
    t1 = f"sum(CASE WHEN {nn} AND ({tag}) != 0 THEN 1.0D ELSE 0.0D END)"
    t0 = f"sum(CASE WHEN {nn} AND ({tag}) = 0 THEN 1.0D ELSE 0.0D END)"
    vals = []
    for c in args[:-1]:
        a = f"sum(CASE WHEN {nn} AND ({tag}) != 0 AND ({c}) != 0 THEN 1.0D ELSE 0.0D END)"
        b = f"sum(CASE WHEN {nn} AND ({tag}) = 0 AND ({c}) != 0 THEN 1.0D ELSE 0.0D END)"
        # every count must be positive or the IV term is undefined (ln of
        # 0/inf; ANSI division would abort the block) — NULL those terms
        vals.append(
            f"(CASE WHEN ({a}) > 0 AND ({b}) > 0 AND ({t1}) > 0 AND ({t0}) > 0 "
            f"THEN (({a}) / ({t1}) - ({b}) / ({t0})) "
            f"* ln((({a}) / ({t1})) / (({b}) / ({t0}))) END)"
        )
    return f"array({', '.join(vals)})"


def _pm_max_intersections_position(args: list[str]) -> str:
    """maxIntersectionsPosition(start, end): the LEFT endpoint where the
    maximum interval overlap is first reached — the same +1/−1 sweep as
    maxIntersections, additionally recording the event position whenever
    the running count sets a new maximum (which can only happen on a
    start event)."""
    if len(args) != 2:
        raise NotImplementedError("maxIntersectionsPosition expects (start, end)")
    s, e = args
    evs = (
        f"array_sort(flatten(collect_list(array("
        f"named_struct('t', CAST({s} AS BIGINT), 'd', 1), "
        f"named_struct('t', CAST({e} AS BIGINT), 'd', -1)))))"
    )
    return (
        f"aggregate({evs}, named_struct('c', 0, 'm', 0, 'p', CAST(NULL AS BIGINT)), "
        f"(__mp_a, __mp_v) -> named_struct("
        f"'c', __mp_a.c + __mp_v.d, "
        f"'m', greatest(__mp_a.m, __mp_a.c + __mp_v.d), "
        f"'p', CASE WHEN __mp_a.c + __mp_v.d > __mp_a.m THEN __mp_v.t ELSE __mp_a.p END), "
        f"__mp_a -> __mp_a.p)"
    )


def _pm_delta_sum_timestamp(args: list[str]) -> str:
    """deltaSumTimestamp(value, timestamp) — REAL rewrite (r10 graduation
    from the arrival-order gate: unlike deltaSum, this form carries its
    own ordering column): sort the group by timestamp, sum the POSITIVE
    consecutive deltas (decreases ignored, first value is the baseline).
    Time ties order by value (CH keeps arrival order there — undefined
    distributed; the deterministic tiebreak is documented). DOUBLE out."""
    if len(args) != 2:
        raise NotImplementedError("deltaSumTimestamp expects (value, timestamp)")
    v, t = args
    pairs = (
        f"array_sort(collect_list(CASE WHEN ({v}) IS NOT NULL AND ({t}) IS NOT NULL "
        f"THEN named_struct('t', {t}, 'v', CAST({v} AS DOUBLE)) END))"
    )
    return (
        f"aggregate({pairs}, "
        f"named_struct('acc', CAST(0.0 AS DOUBLE), 'prev', CAST(NULL AS DOUBLE)), "
        f"(__dst_a, __dst_e) -> named_struct("
        f"'acc', __dst_a.acc + CASE WHEN __dst_a.prev IS NOT NULL "
        f"AND __dst_e.v > __dst_a.prev THEN __dst_e.v - __dst_a.prev "
        f"ELSE CAST(0.0 AS DOUBLE) END, "
        f"'prev', __dst_e.v), __dst_a -> __dst_a.acc)"
    )


def _pm_cut_ipv6(args: list[str]) -> str:
    if len(args) != 3:
        raise NotImplementedError(
            "cutIPv6 expects (addr, bytesToCutForIPv6, bytesToCutForIPv4)"
        )
    return (
        f"chCutIPv6({args[0]}, CAST({args[1]} AS INT), CAST({args[2]} AS INT))"
    )


# the isIPv4String pattern + octet fold, inlined so the OrNull/OrZero
# tails stay one expression (the SQL-UDF toIPv4 keeps the throwing form).
# Braces doubled: these strings pass through _pm_1arg's .format().
_IPV4_PAT = (
    r"'^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){{3}}"
    r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$'"
)
_IPV4_FOLD = (
    "aggregate(transform(split({x}, '\\\\.'), __ip_o -> CAST(__ip_o AS BIGINT)), "
    "CAST(0 AS BIGINT), (__ip_a, __ip_o) -> __ip_a * 256 + __ip_o)"
)

_PARAMETRIC.update(
    {
        "throwIf": _pm_throw_if,
        "ULIDStringToDateTime": _pm_ulid_to_datetime,
        "categoricalInformationValue": _pm_categorical_iv,
        "maxIntersectionsPosition": _pm_max_intersections_position,
        # r10 graduation: unlike deltaSum, this form carries its own
        # ordering column — overrides the batch-13 arrival-order gate
        "deltaSumTimestamp": _pm_delta_sum_timestamp,
        # any/anyLast are arbitrary-pick aggregates; the RESPECT NULLS
        # spellings keep the first/last value INCLUDING NULLs
        "any_respect_nulls": _pm_1arg("first({x})"),
        "anyLast_respect_nulls": _pm_1arg("last({x})"),
        "toIPv6": _pm_1arg("chToIPv6({x})"),
        "toIPv6OrNull": _pm_1arg("chToIPv6({x})"),
        "toIPv6OrZero": _pm_1arg("coalesce(chToIPv6({x}), '::')"),
        "toIPv4OrNull": _pm_1arg(
            f"(CASE WHEN ({{x}}) RLIKE {_IPV4_PAT} THEN {_IPV4_FOLD} "
            f"ELSE CAST(NULL AS BIGINT) END)"
        ),
        "toIPv4OrZero": _pm_1arg(
            f"(CASE WHEN ({{x}}) RLIKE {_IPV4_PAT} THEN {_IPV4_FOLD} "
            f"ELSE CAST(0 AS BIGINT) END)"
        ),
        "IPv6CIDRToRange": _pm_2arg("chIPv6CIDRToRange({f}, CAST({a} AS INT))"),
        "cutIPv6": _pm_cut_ipv6,
        "parseTimeDelta": _pm_1arg("chParseTimeDelta({x})"),
        # introspection/curve gates (loud, with recipes)
        "blockSize": _pm_gate(
            "blockSize",
            "blocks are a ClickHouse pipeline concept with no Spark "
            "equivalent - count rows explicitly (count() over the scope "
            "you mean)",
        ),
        # rowNumberInBlock: already gated by the arrival-order family
        "dumpColumnStructure": _pm_gate(
            "dumpColumnStructure",
            "column chunk layout is engine-specific - toTypeName gives "
            "the portable type name",
        ),
        "getMacro": _pm_gate(
            "getMacro",
            "server config macros do not exist here - inline the value "
            "or use a session variable",
        ),
        "isDecimalOverflow": _pm_gate(
            "isDecimalOverflow",
            "compare digits explicitly: countDigits(d) > p (countDigits "
            "is implemented)",
        ),
        "arrayEnumerateUniqRanked": _pm_gate(
            "arrayEnumerateUniqRanked",
            "ranked enumeration over nested arrays is not shimmed - "
            "flatten + arrayEnumerateUniq per level",
        ),
        "arrayEnumerateDenseRanked": _pm_gate(
            "arrayEnumerateDenseRanked",
            "ranked enumeration over nested arrays is not shimmed - "
            "flatten + arrayEnumerateDense per level",
        ),
        "hilbertEncode": _pm_gate(
            "hilbertEncode",
            "ClickHouse's Hilbert curve orientation comes from its own "
            "lookup tables (bit parity unverifiable here) - use "
            "mortonEncode for space-filling locality bucketing",
        ),
        "hilbertDecode": _pm_gate(
            "hilbertDecode",
            "ClickHouse's Hilbert curve orientation comes from its own "
            "lookup tables (bit parity unverifiable here) - use "
            "mortonDecode for space-filling locality bucketing",
        ),
    }
)


# -- vocab batch 27b (round 10, probe wave 27b) -------------------------------


def _pm_string_compare(args: list[str]) -> str:
    """stringCompare(a, b) → -1/0/1 (byte order == Spark's binary string
    collation). The 5-arg offset/length form needs slicing CH counts in
    BYTES — refused with the substr recipe."""
    if len(args) == 2:
        a, b = args
        return (
            f"(CASE WHEN ({a}) < ({b}) THEN -1 WHEN ({a}) > ({b}) THEN 1 ELSE 0 END)"
        )
    raise NotImplementedError(
        "stringCompare with offsets/lengths is not shimmed - slice "
        "explicitly with substr first"
    )


_UUID_PAT = (
    "'^[0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}"
    "-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}$'"
)

_TUPLE_MATH_RECIPE = "use arrays: zip_with(a, b, (x, y) -> x {op} y)"

_PARAMETRIC.update(
    {
        # CH's [sic] spelling is 'Continous'; both resolve (lambda: the
        # canonical handler is defined later in the module)
        "minSampleSizeContinous": lambda a: _pm_min_sample_size_continuous(a),
        "subtractTupleOfIntervals": lambda a: _pm_add_tuple_of_intervals(a, "-"),
        # UTF8 string variants: Spark strings are already UTF-8/codepoint
        # semantics, so the plain builtins ARE the UTF8 forms
        "startsWithUTF8": _pm_2arg("startswith({f}, {a})"),
        "endsWithUTF8": _pm_2arg("endswith({f}, {a})"),
        "substringIndexUTF8": lambda a: (
            f"substring_index({', '.join(a)})"
            if len(a) == 3
            else _raise_nie("substringIndexUTF8 expects (s, delim, count)")
        ),
        "stringCompare": _pm_string_compare,
        # -OrNull on argMax/argMin: Spark max_by/min_by already return
        # NULL on an empty group
        "argMaxOrNull": _pm_2arg("max_by({f}, {a})"),
        "argMinOrNull": _pm_2arg("min_by({f}, {a})"),
        # UUID checked conversions (CH zero UUID on failure for OrZero)
        "toUUIDOrNull": _pm_1arg(
            f"(CASE WHEN ({{x}}) RLIKE {_UUID_PAT} THEN lower({{x}}) END)"
        ),
        "toUUIDOrZero": _pm_1arg(
            f"(CASE WHEN ({{x}}) RLIKE {_UUID_PAT} THEN lower({{x}}) "
            f"ELSE '00000000-0000-0000-0000-000000000000' END)"
        ),
        # UUIDs are canonical strings here, so the UUID-typed form is the
        # string form (the 2-arg variant flag reorders bytes - gated)
        "UUIDToNum": lambda a: (
            f"unhex(replace({a[0]}, '-', ''))"
            if len(a) == 1
            else _raise_nie(
                "UUIDToNum with a variant argument is not shimmed - byte "
                "order variants need binary surgery (unhex + reverse slices)"
            )
        ),
        # isNullable: every Spark column is nullable (same convention as
        # toNullable's identity)
        "isNullable": _pm_1arg("(CASE WHEN ({x}) IS NULL THEN true ELSE true END)"),
        "isNotDistinctFrom": _pm_2arg("(({f}) <=> ({a}))"),
        # tuple arithmetic: struct arity is type metadata a textual shim
        # cannot inspect (the tuplePlus/tupleConcat family's gate)
        **{
            name: _pm_gate(name, _TUPLE_MATH_RECIPE.format(op=op))
            for name, op in [
                ("tupleMultiply", "*"),
                ("tupleDivide", "/"),
                ("tupleIntDiv", "div"),
                ("tupleModulo", "%"),
            ]
        },
        "tupleNegate": _pm_gate(
            "tupleNegate", "use arrays: transform(a, x -> -x)"
        ),
        "tupleDivideByNumber": _pm_gate(
            "tupleDivideByNumber", "use arrays: transform(a, x -> x / n)"
        ),
        "arrayReduceInRanges": _pm_gate(
            "arrayReduceInRanges",
            "per-range reduction is not shimmed - transform the ranges "
            "array with slice() + aggregate() (arrayReduce itself is "
            "implemented)",
        ),
        "sparseGrams": _pm_gate(
            "sparseGrams",
            "experimental CH tokenizer without a published stable "
            "contract - use ngrams()/tokens()",
        ),
        "javaHashUTF16LE": _pm_gate(
            "javaHashUTF16LE",
            "byte-reinterpreting hash - encode explicitly (javaHash over "
            "the UTF-16LE bytes you mean); javaHash itself is bit-exact",
        ),
        "reinterpretAsString": _pm_gate(
            "reinterpretAsString",
            "byte reinterpretation needs the value's in-memory width - "
            "use char()/chr() for codepoints or unhex(hex(x)) for bytes",
        ),
        "structureToProtobufSchema": _pm_gate(
            "structureToProtobufSchema",
            "schema transpilers are out of scope - derive from "
            "df.schema programmatically",
        ),
        "formatQuery": _pm_gate(
            "formatQuery",
            "SQL pretty-printing is a client concern - this engine has "
            "no CH-parity formatter (normalizeQuery is implemented)",
        ),
    }
)


def _raise_nie(msg: str):
    raise NotImplementedError(msg)


def _pm2_histogram(params: list[str] | None, args: list[str]) -> str:
    """histogram(n)(x) → Spark's histogram_numeric(x, n) — the same
    adaptive (Ben-Haim/Tom-Tov-style) histogram sketch. Shape deviation,
    documented: Spark returns (center x, height y) pairs where CH returns
    (lower, upper, height) triples."""
    if params is None or len(params) != 1 or len(args) != 1:
        raise NotImplementedError("histogram needs the (n)(x) form")
    return f"histogram_numeric({args[0]}, {params[0]})"

_PARAMETRIC.update(_BITMAP_FAMILY)
_PARAMETRIC.update(
    {
        "position": _pm_position,
        "positionUTF8": _pm_position,
        # CH MD5 returns the 16 RAW BYTES (FixedString(16)) so hex(MD5(x))
        # prints the uppercase digest; matches inside Engine.sql even when
        # spelled lowercase (CH is case-sensitive, but the collision with
        # Spark's hex-text md5 would be a silent-wrong-answer trap)
        "MD5": _pm_1arg("MD5Binary({x})"),
        "monthName": _pm_1arg("date_format({x}, 'MMMM')"),
        "roundBankers": _pm_round_bankers,
        "char": _pm_char,
        "format": _pm_format,
        "identity": _pm_1arg("({x})"),
        "isConstant": _pm_is_constant,
        # sleep/sleepEachRow: deliberate no-op returning CH's 0 — stalling
        # executor threads is hostile in a shared cluster (documented)
        "sleep": _pm_1arg("0"),
        "sleepEachRow": _pm_1arg("0"),
        "stem": _pm_stem_refusal,
        "rowNumberInAllBlocks": _pm_order_dependent(
            "rowNumberInAllBlocks",
            "row_number() OVER (ORDER BY <a deterministic key>)",
        ),
        "rowNumberInBlock": _pm_order_dependent(
            "rowNumberInBlock",
            "row_number() OVER (ORDER BY <a deterministic key>)",
        ),
        "toDayOfWeek": _pm_to_day_of_week_mode,
        "toWeek": _pm_to_week_mode,
        "arrayReduce": _pm_array_reduce,
        "arrayCompact": _pm_1arg(
            "(CASE WHEN size({x}) <= 1 THEN {x} ELSE transform(filter("
            "sequence(1, size({x})), __ac_i -> __ac_i = 1 OR NOT "
            "(element_at({x}, __ac_i) <=> element_at({x}, __ac_i - 1))), "
            "__ac_i -> element_at({x}, __ac_i)) END)"
        ),
        "arrayResize": _pm_array_resize,
        "arrayWithConstant": _pm_2arg_fa("array_repeat({a}, {f})"),
        "arrayProduct": _pm_1arg(
            "aggregate({x}, CAST(1.0 AS DOUBLE), (__ap_a, __ap_v) -> __ap_a * __ap_v)"
        ),
        "arrayRotateLeft": _pm_array_rotate(left=True),
        "arrayRotateRight": _pm_array_rotate(left=False),
        # CH only promises the first k sorted; fully sorted satisfies that
        "arrayPartialSort": _pm_2arg_fa("sort_array({a})"),
        "arrayPartialReverseSort": _pm_2arg_fa("sort_array({a}, false)"),
        "arrayFold": _pm_array_fold,
        "arrayShingles": _pm_array_shingles,
        "groupBitmap": _pm_1arg("count(DISTINCT {x})"),
        # view(SELECT ...) table function: the wrapper IS a subquery
        "view": lambda args: "(" + ", ".join(args) + ")",
        # now64([precision[, tz]]): timestamps here are µs already
        "now64": lambda args: "now()" if len(args) <= 2 else (_ for _ in ()).throw(
            NotImplementedError("now64 takes at most (precision, timezone)")
        ),
        "ngramDistance": _pm_ngram_distance,
        # CH rand() is UInt32-uniform — the spelling `rand() % 10` relies
        # on it; Spark's [0,1) double would make that silently fractional.
        # Emitted via `random()` (Spark's alias) so the fixpoint rescan
        # never re-matches `rand(`.
        "rand": lambda args: "CAST(floor(random() * 4294967296) AS BIGINT)",
        "rand32": lambda args: "CAST(floor(random() * 4294967296) AS BIGINT)",
        # 53 random mantissa bits spread over the int64 range (documented:
        # not all 64 bits are independent)
        "rand64": lambda args: "CAST(floor(random() * 9.223372036854775e18) AS BIGINT)",
        "randCanonical": lambda args: "random()",
        "randUniform": _pm_2arg_fa("(({f}) + random() * (({a}) - ({f})))"),
        "randNormal": _pm_2arg_fa("(randn() * ({a}) + ({f}))"),
        "randExponential": _pm_1arg("(-ln(random()) / ({x}))"),
        "randBernoulli": _pm_1arg("CAST(random() < ({x}) AS INT)"),
        # CH bin() pads to the byte width (Spark's is minimal digits);
        # routed through the binPadded SQL UDF — emitting `bin(` here would
        # re-match this handler forever (the MD5/unhex fixpoint trap)
        "bin": _pm_1arg("binPadded({x})"),
        "bitTestAll": _pm_bit_test(all_of=True),
        "bitTestAny": _pm_bit_test(all_of=False),
        "parseDateTime": _pm_parse_datetime("to_timestamp"),
        "parseDateTimeOrNull": _pm_parse_datetime("try_to_timestamp"),
        "parseDateTimeOrZero": _pm_parse_datetime(
            "try_to_timestamp", zero="TIMESTAMP '1970-01-01 00:00:00'"
        ),
        "arrayLast": _pm_2arg("try_element_at(filter({a}, {f}), -1)"),
        "arrayLastOrNull": _pm_2arg("try_element_at(filter({a}, {f}), -1)"),
        "arrayFirstOrNull": _pm_2arg("try_element_at(filter({a}, {f}), 1)"),
        # array_position returns 0 (not NULL) on no match — the guard must
        # test for 0, else the no-match case reports size(a)+1
        "arrayLastIndex": _pm_2arg(
            "(CASE WHEN array_position(reverse(transform({a}, {f})), true) = 0 "
            "THEN 0 ELSE size({a}) - "
            "array_position(reverse(transform({a}, {f})), true) + 1 END)"
        ),
        "arrayJaccardIndex": _pm_2arg_fa(
            "(size(array_intersect({f}, {a})) / "
            "CAST(size(array_distinct(concat({f}, {a}))) AS DOUBLE))"
        ),
        "nonNegativeDerivative": _pm_stats_test_refusal(
            "nonNegativeDerivative",
            "spell it as greatest((m - lag(m) OVER w) / (unix_timestamp(t) - "
            "unix_timestamp(lag(t) OVER w)), 0) with an explicit window",
        ),
        # map HOFs (CH lambda-first arg order → Spark map-first)
        "mapFilter": _pm_2arg("map_filter({a}, {f})"),
        # mapApply: REAL rewrite (r9) — textual lambda parse over
        # map_entries; defined below the dict (called at rewrite time)
        "mapApply": lambda args: _pm_map_apply(args),
        "mapConcat": lambda args: "map_concat(" + ", ".join(args) + ")",
        # mapUpdate: right side wins on key collisions (map_concat would
        # throw under Spark's EXCEPTION dedup policy)
        "mapUpdate": _pm_2arg_fa(
            "map_filter(map_zip_with({f}, {a}, (__mu_k, __mu_a, __mu_b) -> "
            "coalesce(__mu_b, __mu_a)), (__mu_k, __mu_v) -> __mu_v IS NOT NULL)"
        ),
        "mapExists": _pm_map_entry_hof("exists"),
        "mapAll": _pm_map_entry_hof("forall"),
        # per-element occurrence index (1st, 2nd, ... appearance) and
        # first-appearance dense rank — both pure positional folds, exact
        "arrayEnumerateUniq": _pm_1arg(
            "transform(sequence(1, size({x})), __aeu_i -> size(filter("
            "slice({x}, 1, __aeu_i), __aeu_e -> __aeu_e <=> "
            "element_at({x}, __aeu_i))))"
        ),
        "arrayEnumerateDense": _pm_1arg(
            "transform({x}, __aed_v -> CAST(array_position("
            "array_distinct({x}), __aed_v) AS INT))"
        ),
        "tryBase64Decode": _pm_1arg(
            "coalesce(CAST(try_to_binary({x}, 'base64') AS STRING), '')"
        ),
        "base64URLEncode": _pm_1arg(
            "translate(base64(CAST({x} AS BINARY)), '+/=', '-_')"
        ),
        "base64URLDecode": _pm_1arg(
            "CAST(unbase64(translate({x}, '-_', '+/')) AS STRING)"
        ),
        # CH near-dup fingerprints — the SQL spellings of the dedup tier
        "ngramMinHash": _pm_minhash(_char_gram_hashes),
        "wordShingleMinHash": _pm_minhash(_word_shingle_hashes),
        "ngramSimHash": _pm_simhash(_char_gram_hashes),
        "wordShingleSimHash": _pm_simhash(_word_shingle_hashes),
        "corrMatrix": _pm_corr_matrix,
        "arrayRandomSample": _pm_2arg_fa("slice(shuffle({f}), 1, {a})"),
        # proportionsZTest / kolmogorovSmirnovTest: implemented in batch 23
        # (proportionsZTest below; KS via _PARAMETRIC2 + chKSTest)
    }
)




def _pm2_window_funnel(params: list[str] | None, args: list[str]) -> str:
    """windowFunnel(window_s)(ts, c1, ..., ck) as a pure aggregate
    expression: the IDENTICAL any-anchor max-depth greedy fold as
    operators/funnel.py window_funnel (see its module docstring for the
    semantics), spelled with sort_array(collect_list(...)) + HOFs so it
    drops into any GROUP BY query. The repeated collect_list texts are one
    aggregate buffer (Catalyst dedupes equal aggregate expressions)."""
    if params is None:
        raise NotImplementedError("windowFunnel needs the (window)(...) form")
    if len(params) != 1:
        raise NotImplementedError(
            "windowFunnel modes (strict_order/strict_dedup/...) are not "
            "supported; use operators/funnel.py window_funnel"
        )
    if len(args) < 2:
        raise NotImplementedError("windowFunnel needs (timestamp, cond1[, ...])")
    w, ts, conds = params[0], args[0], args[1:]
    k = len(conds)
    cs = ", ".join(f"({c})" for c in conds)
    # CAST→TIMESTAMP first: CH accepts DateTime OR plain UInt epoch
    # timestamps here; a bare unix_timestamp() rejects numeric columns
    # (wave-29 finding)
    evs = (
        f"array_sort(collect_list(struct("
        f"unix_timestamp(CAST({ts} AS TIMESTAMP)) AS t, array({cs}) AS cs)))"
    )
    anchors = f"filter(sequence(1, size({evs})), __wfp -> element_at(element_at({evs}, __wfp).cs, 1))"
    seed = ", ".join(
        [f"element_at({evs}, __wfp).t AS t1"]
        + [f"CAST(NULL AS BIGINT) AS t{i}" for i in range(2, k + 1)]
    )
    merge_fields = ["__wfa.t1 AS t1"] + [
        f"coalesce(__wfa.t{i}, CASE WHEN __wfa.t{i-1} IS NOT NULL "
        f"AND element_at(__wfe.cs, {i}) AND __wfe.t - __wfa.t1 <= ({w}) "
        f"THEN __wfe.t END) AS t{i}"
        for i in range(2, k + 1)
    ]
    finish = "1"
    for i in range(2, k + 1):
        finish = f"CASE WHEN __wff.t{i} IS NOT NULL THEN {i} ELSE {finish} END"
    rest = f"slice({evs}, __wfp + 1, greatest(size({evs}) - __wfp, 0))"
    per_anchor = (
        f"aggregate({rest}, struct({seed}), "
        f"(__wfa, __wfe) -> struct({', '.join(merge_fields)}), "
        f"__wff -> {finish})"
    )
    return f"CAST(coalesce(array_max(transform({anchors}, __wfp -> {per_anchor})), 0) AS INT)"


def _ch_seq_pattern_to_regex(pat: str) -> str:
    """CH sequence pattern → regex over per-event step-code chars.
    Supported: (?N) condition refs and .* / . wildcards; time constraints
    ((?t op n)) raise. Events matching NO condition are dropped from the
    code string (CH's contract: unmatched events are invisible), so `.`
    means 'any CONDITION-matching event'."""
    out, i = [], 0
    while i < len(pat):
        if pat.startswith("(?t", i):
            raise NotImplementedError(
                "sequenceMatch time constraints ((?t op n)) are not supported; "
                "use operators/funnel.py window_funnel for windowed chains"
            )
        if pat.startswith("(?", i):
            j = pat.index(")", i)
            n = int(pat[i + 2 : j])
            if not 1 <= n <= 26:
                raise NotImplementedError("sequenceMatch supports conditions 1..26")
            out.append(chr(ord("A") + n - 1))
            i = j + 1
        elif pat.startswith(".*", i):
            # lazy: sequenceCount counts minimal non-overlapping chains
            # (greedy would swallow later chain starts into one match)
            out.append("[A-Z]*?")
            i += 2
        elif pat[i] == ".":
            out.append("[A-Z]")
            i += 1
        else:
            raise NotImplementedError(f"unsupported sequence pattern at {pat[i:]!r}")
    return "".join(out)


def _pm2_sequence(count: bool):
    def rw(params: list[str] | None, args: list[str]) -> str:
        name = "sequenceCount" if count else "sequenceMatch"
        if params is None or len(params) != 1:
            raise NotImplementedError(f"{name} needs the ('pattern')(...) form")
        pat = params[0].strip()
        if not (pat.startswith("'") and pat.endswith("'")):
            raise NotImplementedError(f"{name} pattern must be a string literal")
        regex = _ch_seq_pattern_to_regex(pat[1:-1])
        if len(args) < 2:
            raise NotImplementedError(f"{name} needs (timestamp, cond1[, ...])")
        ts, conds = args[0], args[1:]
        if len(conds) > 26:
            raise NotImplementedError(f"{name} supports at most 26 conditions")
        cs = ", ".join(f"({c})" for c in conds)
        # t only orders the chain; CAST→TIMESTAMP keeps CH's UInt-epoch
        # timestamp columns working (wave-29 finding)
        evs = (
            f"array_sort(collect_list(struct("
            f"unix_timestamp(CAST({ts} AS TIMESTAMP)) AS t, array({cs}) AS cs)))"
        )
        # an event matching several conditions codes as its FIRST match —
        # exact when conditions are mutually exclusive (the common case)
        code_case = "CASE " + " ".join(
            f"WHEN element_at(__sme.cs, {i + 1}) THEN '{chr(ord('A') + i)}'"
            for i in range(len(conds))
        ) + " END"
        code = (
            f"array_join(transform(filter({evs}, "
            f"__sme -> exists(__sme.cs, __smb -> __smb)), __sme -> {code_case}), '')"
        )
        if count:
            return f"regexp_count({code}, '{regex}')"
        return f"CAST({code} rlike '{regex}' AS INT)"

    return rw


def _pm2_uniq_up_to(params: list[str] | None, args: list[str]) -> str:
    if params is None or len(params) != 1 or len(args) != 1:
        raise NotImplementedError("uniqUpTo needs the (N)(x) form")
    return f"least(count(DISTINCT {args[0]}), CAST({params[0]} AS BIGINT) + 1)"


def _pm2_topk(params: list[str] | None, args: list[str]) -> str:
    """topK(k)(x) — EXACT heavy hitters (CH's is sampling-approximate;
    exact is a valid answer): distinct values ranked by count desc, value
    asc tiebreak. HOF over collect_list — O(distinct x n) per group."""
    if len(args) != 1:
        raise NotImplementedError("topK takes exactly one expression")
    k = params[0] if params else "10"
    x = args[0]
    lst = f"collect_list({x})"
    ranked = (
        f"array_sort(transform(array_distinct({lst}), __tv -> "
        f"struct(-size(filter({lst}, __te -> __te <=> __tv)) AS negn, __tv AS v)))"
    )
    return f"slice(transform({ranked}, __ts -> __ts.v), 1, {k})"


def _pm2_topk_if(params: list[str] | None, args: list[str]) -> str:
    """topKIf(k)(x, cond) — batch 22: the -If combinator over the exact
    topK. collect_list skips NULLs, so CASE WHEN cond THEN x END filters
    exactly (non-matching rows contribute nothing)."""
    if len(args) != 2:
        raise NotImplementedError("topKIf takes (x, cond)")
    return _pm2_topk(params, [f"(CASE WHEN {args[1]} THEN {args[0]} END)"])


def _pm2_topk_weighted(params: list[str] | None, args: list[str]) -> str:
    if len(args) != 2:
        raise NotImplementedError("topKWeighted takes (x, weight)")
    k = params[0] if params else "10"
    x, w = args
    lst = f"collect_list(struct({x} AS x, CAST({w} AS DOUBLE) AS w))"
    wt = (
        f"aggregate(filter({lst}, __te -> __te.x <=> __tv), 0.0D, "
        f"(__ta, __te) -> __ta + __te.w)"
    )
    ranked = (
        f"array_sort(transform(array_distinct(transform({lst}, __te -> __te.x)), "
        f"__tv -> struct(-{wt} AS negw, __tv AS v)))"
    )
    return f"slice(transform({ranked}, __ts -> __ts.v), 1, {k})"


def _pm2_approx_top_k(params: list[str] | None, args: list[str]) -> str:
    """approx_top_k(k)(x) / approxTopK — CH returns
    Array(Tuple(item, count, error)), NOT topK's bare value array (r10
    ADVICE: queries reading t.2/t.3 silently got the wrong type when these
    were aliased to topK). Counts here are exact, so error is always 0."""
    if len(args) != 1:
        raise NotImplementedError("approx_top_k takes exactly one expression")
    k = params[0] if params else "10"
    x = args[0]
    lst = f"collect_list({x})"
    cnt = f"size(filter({lst}, __te -> __te <=> __tv))"
    ranked = (
        f"array_sort(transform(array_distinct({lst}), __tv -> "
        f"struct(-{cnt} AS negn, __tv AS v)))"
    )
    return (
        f"slice(transform({ranked}, __ts -> named_struct("
        f"'item', __ts.v, 'count', CAST(-__ts.negn AS BIGINT), "
        f"'error', CAST(0 AS BIGINT))), 1, {k})"
    )


def _pm2_approx_top_sum(params: list[str] | None, args: list[str]) -> str:
    """approx_top_sum(k)(x, weight) / approxTopSum —
    Array(Tuple(item, count, error)) where count is the weight sum (CH
    weights are UInt64, so the sum stays BIGINT); error = 0 (exact)."""
    if len(args) != 2:
        raise NotImplementedError("approx_top_sum takes (x, weight)")
    k = params[0] if params else "10"
    x, w = args
    lst = f"collect_list(struct({x} AS x, CAST({w} AS BIGINT) AS w))"
    wt = (
        f"aggregate(filter({lst}, __te -> __te.x <=> __tv), "
        f"CAST(0 AS BIGINT), (__ta, __te) -> __ta + __te.w)"
    )
    ranked = (
        f"array_sort(transform(array_distinct(transform({lst}, __te -> __te.x)), "
        f"__tv -> struct(-{wt} AS negw, __tv AS v)))"
    )
    return (
        f"slice(transform({ranked}, __ts -> named_struct("
        f"'item', __ts.v, 'count', -__ts.negw, "
        f"'error', CAST(0 AS BIGINT))), 1, {k})"
    )


def _pm2_weighted_quantile(params: list[str] | None, args: list[str]) -> str:
    """All weighted-quantile spellings → Spark's exact weighted percentile
    (the approximate families are answered exactly — documented deviation,
    same direction as quantileExactLow/High)."""
    if params is None or len(params) != 1 or len(args) != 2:
        raise NotImplementedError("weighted quantiles need the (p)(x, w) form")
    return f"percentile({args[0]}, {params[0]}, CAST({args[1]} AS BIGINT))"


def _pm2_quantile_deterministic(params: list[str] | None, args: list[str]) -> str:
    """quantileDeterministic(p)(x, det) → exact percentile; the determinism
    seed exists to stabilize CH's reservoir sampling, which an exact
    computation doesn't need (documented deviation: exact, not sampled)."""
    if params is None or len(params) != 1 or len(args) != 2:
        raise NotImplementedError("quantileDeterministic needs the (p)(x, det) form")
    return f"percentile({args[0]}, {params[0]})"


def _pm2_group_array_sample(params: list[str] | None, args: list[str]) -> str:
    """groupArraySample(n[, seed])(x) — n values chosen by hash order
    (deterministic where CH's reservoir is seeded-random; both contracts
    are 'n representative elements')."""
    if params is None or len(params) not in (1, 2) or len(args) != 1:
        raise NotImplementedError("groupArraySample needs the (n[, seed])(x) form")
    n, x = params[0], args[0]
    seed = params[1] if len(params) == 2 else "0"
    ranked = (
        f"array_sort(transform(collect_list({x}), __gs_v -> "
        f"struct(xxhash64(__gs_v, {seed}) AS h, __gs_v AS v)))"
    )
    return f"transform(slice({ranked}, 1, {n}), __gs_s -> __gs_s.v)"


def _pm2_group_array_sorted(params: list[str] | None, args: list[str]) -> str:
    """groupArraySorted(n)(x) → the n smallest values, ascending —
    deterministic (value order, not arrival order)."""
    if params is None or len(params) != 1 or len(args) != 1:
        raise NotImplementedError("groupArraySorted needs the (n)(x) form")
    return f"slice(array_sort(collect_list({args[0]})), 1, {params[0]})"


def _pm2_quantile_gk(params: list[str] | None, args: list[str]) -> str:
    """quantileGK(accuracy, level)(x) → approx_percentile(x, level,
    accuracy) — both are Greenwald-Khanna sketches and both treat the
    first parameter as 'larger = more accurate'."""
    if params is None or len(params) != 2 or len(args) != 1:
        raise NotImplementedError("quantileGK needs the (accuracy, level)(x) form")
    acc, level = params
    return f"approx_percentile({args[0]}, {level}, {acc})"


def _pm2_quantile_if(params: list[str] | None, args: list[str]) -> str:
    """quantileIf(level)(x, cond) — the -If combinator over the exact
    percentile (CASE filters exactly: non-matching rows contribute
    nothing, the same device topKIf uses)."""
    if params is None or len(params) != 1 or len(args) != 2:
        raise NotImplementedError("quantileIf needs the (level)(x, cond) form")
    return f"percentile(CASE WHEN {args[1]} THEN {args[0]} END, {params[0]})"


def _pm2_quantiles_gk(params: list[str] | None, args: list[str]) -> str:
    """quantilesGK(accuracy, p1, p2, ...)(x) — the plural GK sketch:
    one approx_percentile call returning the level array."""
    if params is None or len(params) < 2 or len(args) != 1:
        raise NotImplementedError(
            "quantilesGK needs the (accuracy, level1, ...)(x) form"
        )
    acc, levels = params[0], ", ".join(params[1:])
    return f"approx_percentile({args[0]}, array({levels}), {acc})"


def _pm2_sparkbar(params: list[str] | None, args: list[str]) -> str:
    """sparkbar(buckets[, min_x, max_x])(x, y) → unicode frequency bar:
    y-mass per equal-width x bucket, heights scaled to the max bucket over
    the 8-level block ramp (empty bucket renders ▁ like CH). One
    collect_list per group — the buckets parameter bounds the render, the
    collected pair list is the group's rows (CH holds the same state)."""
    if params is None or len(params) not in (1, 3) or len(args) != 2:
        raise NotImplementedError("sparkbar needs the (buckets[, min, max])(x, y) form")
    n = params[0]
    x, y = args
    pairs = (
        f"filter(collect_list(named_struct("
        f"'x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))), "
        f"__sb_p -> __sb_p.x IS NOT NULL AND __sb_p.y IS NOT NULL)"
    )
    if len(params) == 3:
        lo, hi = f"CAST({params[1]} AS DOUBLE)", f"CAST({params[2]} AS DOUBLE)"
    else:
        lo = f"array_min(transform({pairs}, __sb_p -> __sb_p.x))"
        hi = f"array_max(transform({pairs}, __sb_p -> __sb_p.x))"
    span = f"greatest(({hi}) - ({lo}), 1e-300D)"
    bucket_of = (
        f"least(greatest(CAST(floor((__sb_p.x - ({lo})) / ({span}) * ({n})) AS INT), 0), ({n}) - 1)"
    )
    sums = (
        f"transform(sequence(0, ({n}) - 1), __sb_b -> "
        f"aggregate(filter({pairs}, __sb_p -> {bucket_of} = __sb_b), "
        f"0.0D, (__sb_acc, __sb_p) -> __sb_acc + __sb_p.y))"
    )
    mx = f"greatest(array_max({sums}), 1e-300D)"
    ramp = "array('▁', '▂', '▃', '▄', '▅', '▆', '▇', '█')"
    return (
        f"concat_ws('', transform({sums}, __sb_s -> "
        f"element_at({ramp}, least(greatest(CAST(ceil(__sb_s / ({mx}) * 8) AS INT), 1), 8))))"
    )


_PARAMETRIC2: dict[str, object] = {
    "groupArraySorted": _pm2_group_array_sorted,
    "quantileGK": _pm2_quantile_gk,
    # r10 wave 27 / r11 ADVICE: the approx_top_* family returns
    # Array(Tuple(item, count, error)) in CH — NOT topK's bare value array
    "approx_top_k": _pm2_approx_top_k,
    "approxTopK": _pm2_approx_top_k,
    "approx_top_sum": _pm2_approx_top_sum,
    "approxTopSum": _pm2_approx_top_sum,
    "quantilesGK": _pm2_quantiles_gk,
    "quantileIf": _pm2_quantile_if,
    "sparkbar": _pm2_sparkbar,
    "windowFunnel": _pm2_window_funnel,
    "quantileDeterministic": _pm2_quantile_deterministic,
    "groupArraySample": _pm2_group_array_sample,
    "histogram": _pm2_histogram,
    "sequenceMatch": _pm2_sequence(False),
    "sequenceCount": _pm2_sequence(True),
    "uniqUpTo": _pm2_uniq_up_to,
    "topK": _pm2_topk,
    "topKIf": _pm2_topk_if,
    "topKWeighted": _pm2_topk_weighted,
    "quantileExactWeighted": _pm2_weighted_quantile,
    "quantileInterpolatedWeighted": _pm2_weighted_quantile,
    "quantileTimingWeighted": _pm2_weighted_quantile,
    "quantileTDigestWeighted": _pm2_weighted_quantile,
    "quantileBFloat16Weighted": _pm2_weighted_quantile,
}
# _PARAMETRIC2_RE / _PARAMETRIC2_LOWER are built ONCE, after the batch-23
# update below — a build here would be silently shadowed (entries added
# between two builds look registered but never match)


def _rewrite_parametric2(sql: str) -> str:
    """Rewrite name(params)(args) spellings (quote-aware, literal-safe).
    Names with an optional params group (topK) also accept the single-group
    form. One splice per pass; fixpoint-bounded like _rewrite_parametric."""
    pos = 0
    for _ in range(128):
        m = _search_code(_PARAMETRIC2_RE, sql, pos)
        if not m:
            return sql
        end1 = _scan_balanced(sql, m.end())
        g1 = sql[m.end() : end1 - 1]
        j = end1
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j < len(sql) and sql[j] == "(":
            end2 = _scan_balanced(sql, j + 1)
            params: list[str] | None = _split_top(g1)
            call_args = _split_top(sql[j + 1 : end2 - 1])
            end = end2
        else:
            params, call_args, end = None, _split_top(g1), end1
        repl = _PARAMETRIC2_LOWER[m.group(1).lower()](params, call_args)
        sql = sql[: m.start()] + repl + sql[end:]
    raise NotImplementedError("two-group parametric rewrite did not converge")


# vocab batch 18 (probe-driven, round 7): string/date/array stragglers +
# loud gates for truncating decimal arithmetic (CH truncates toward zero
# where Spark's DECIMAL division rounds HALF_UP — a shim would be a silent
# value drift) and JSON-type introspection.
def _pm_zip_unaligned(args: list[str]) -> str:
    if len(args) < 2:
        raise NotImplementedError("arrayZipUnaligned takes 2+ arrays")
    n = "GREATEST(" + ", ".join(f"size({a})" for a in args) + ")"
    fields = ", ".join(
        f"try_element_at({a}, __zu_i) AS col{i + 1}" for i, a in enumerate(args)
    )
    # sequence(1, 0) DESCENDS in Spark, so the empty case needs a guard
    return (
        f"(CASE WHEN {n} <= 0 THEN array() "
        f"ELSE transform(sequence(1, {n}), __zu_i -> struct({fields})) END)"
    )


def _pm_array_intersect_variadic(args: list[str]) -> str:
    if len(args) < 2:
        raise NotImplementedError("arrayIntersect takes 2+ arrays")
    acc = f"array_intersect({args[0]}, {args[1]})"
    for a in args[2:]:
        acc = f"array_intersect({acc}, {a})"
    return acc


_PARAMETRIC.update(
    {
        # first line of a multi-line string (CH 23.x)
        "firstLine": _pm_1arg(r"element_at(split({x}, '\n', 2), 1)"),
        # millisecond component of a DateTime64 (CH 24.x)
        "toMillisecond": _pm_1arg(
            "CAST(FLOOR(pmod(unix_micros({x}), 1000000) / 1000) AS INT)"
        ),
        "arrayZipUnaligned": _pm_zip_unaligned,
        "arrayIntersect": _pm_array_intersect_variadic,
        # full-text token predicates (CH 25.x): CH's default tokenizer =
        # maximal alphanumeric runs — the tokens() SQL UDF registered in
        # functions/scalar.py
        "hasAnyTokens": _pm_2arg_fa("arrays_overlap(tokens({f}), {a})"),
        "hasAllTokens": _pm_2arg_fa(
            "(size(array_except({a}, tokens({f}))) = 0)"
        ),
        "divideDecimal": _pm_gate(
            "divideDecimal",
            "CH truncates the result toward zero at the given scale; Spark "
            "DECIMAL division rounds HALF_UP, so a shim would silently "
            "drift values - use CAST(a / b AS DECIMAL(38, s)) if HALF_UP "
            "rounding is acceptable",
        ),
        "multiplyDecimal": _pm_gate(
            "multiplyDecimal",
            "CH truncates the result toward zero at the given scale; use "
            "CAST(a * b AS DECIMAL(38, s)) if HALF_UP rounding is acceptable",
        ),
        "JSONAllPaths": _pm_gate(
            "JSONAllPaths",
            "requires the CH JSON object type; for text JSON use "
            "json_object_keys(col) for top-level keys or from_json with "
            "schema_of_json for full paths",
        ),
    }
)

_REWRITES.extend(
    [
        # camelCase alias of the standard date_trunc
        (re.compile(r"\bdateTrunc\(", re.IGNORECASE), "date_trunc("),
        # TCP connection id: in-process engine — one implicit connection,
        # same convention as hostName()/uptime()
        (re.compile(r"\bconnectionId\(\s*\)", re.IGNORECASE), "CAST(0 AS BIGINT)"),
        (re.compile(r"\bconnection_id\(\s*\)", re.IGNORECASE), "CAST(0 AS BIGINT)"),
    ]
)


# vocab batch 19 (probe-driven, round 7): map sorting, byte hamming,
# date-component replacement (CH changeYear family, day/field clamped the
# way CH saturates), UTC conversions, literal-scale decimal conversions,
# distinct/median -If forms, and loud gates for 128/256-bit integers +
# HTML-entity decoding (a 5-entity shim would silently drop &euro; etc.).
def _pm_map_sort(reverse: bool):
    inner = "array_sort(map_entries({x}))"
    if reverse:
        inner = f"reverse({inner})"

    def rw(args: list[str]) -> str:
        if len(args) != 1:
            raise NotImplementedError(
                "mapSort with a comparator lambda is not shimmed - sort "
                "map_entries(m) with array_sort((l, r) -> ...) and rebuild "
                "with map_from_entries"
            )
        return f"map_from_entries({inner.format(x=args[0])})"

    return rw


def _pm_change_part(part: str):
    comp = {
        "year": "{v}",
        "month": "GREATEST(1, LEAST({v}, 12))",
        "day": "GREATEST(1, {v})",
        "hour": "GREATEST(0, LEAST({v}, 23))",
        "minute": "GREATEST(0, LEAST({v}, 59))",
        "second": "GREATEST(0, LEAST({v}, 59))",
    }
    fields = {
        "year": "year({x})",
        "month": "month({x})",
        "day": "dayofmonth({x})",
        "hour": "hour({x})",
        "minute": "minute({x})",
        "second": "second({x})",
    }

    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError(f"change{part.capitalize()} takes (date, value)")
        y = comp["year"] if part == "year" else fields["year"]
        m = comp["month"] if part == "month" else fields["month"]
        d = comp["day"] if part == "day" else fields["day"]
        # the day ALWAYS clamps against the TARGET (year, month): CH
        # saturates, while an unclamped make_timestamp throws under ANSI —
        # changeYear(Feb 29, <non-leap>) and changeMonth(Mar 31, 2) are the
        # cases the naive spelling gets wrong
        d = f"LEAST({d}, dayofmonth(last_day(make_date({y}, {m}, 1))))"
        parts = [y, m, d] + [
            (comp[part] if part == p else fields[p])
            for p in ("hour", "minute", "second")
        ]
        # always a TIMESTAMP result; CH returns Date for Date inputs
        # (midnight here — documented deviation, goldens pin this form)
        return (
            "make_timestamp("
            + ", ".join(s.format(x=args[0], v=args[1]) for s in parts)
            + ")"
        )

    return rw


def _pm_to_decimal(precision: int):
    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError("toDecimalN takes (value, scale)")
        try:
            s = int(args[1].strip())
        except ValueError:
            raise NotImplementedError("toDecimalN: scale must be an integer literal")
        if not 0 <= s <= precision:
            raise NotImplementedError(
                f"toDecimalN: scale {s} out of range for DECIMAL({precision})"
            )
        return f"CAST({args[0]} AS DECIMAL({precision}, {s}))"

    return rw


# ---- batch 22 helpers (probe-driven, round 8) ----------------------------
def _pm_ngram_search(args: list[str]) -> str:
    """ngramSearch(haystack, needle): |4-grams(needle) ∩ 4-grams(haystack)|
    / |4-grams(needle)| — the non-symmetric similarity CH pairs with
    ngramDistance. Set form like the ngramDistance shim (CH weights by
    occurrence counts; sets agree at 0 and 1 and rank the same on
    near-dup text — same documented deviation). Empty needle-gram set
    (needle shorter than 4 chars after CH's padding convention differs)
    scores 0.0."""
    if len(args) != 2:
        raise NotImplementedError("ngramSearch expects (haystack, needle)")
    h, n = args
    gh, gn = _g4(h), _g4(n)
    return (
        f"(CASE WHEN size({gn}) = 0 THEN 0.0D ELSE "
        f"size(array_intersect({gn}, {gh})) / CAST(size({gn}) AS DOUBLE) END)"
    )


def _pm_array_filter(args: list[str]) -> str:
    """arrayFilter(f, a1[, a2]): Spark's filter for the 1-array form; the
    2-array form keeps a1's elements at positions where f(a1[i], a2[i])
    holds — flag vector via zip_with, positions via a guarded sequence
    (the arraySplit machinery's shape)."""
    if len(args) == 2:
        return f"filter({args[1]}, {args[0]})"
    if len(args) == 3:
        f, a1, a2 = args
        flags = f"zip_with(({a1}), ({a2}), {f})"
        return (
            f"transform(filter(sequence(1, greatest(size(({a1})), 1)), "
            f"__af2_i -> __af2_i <= size(({a1})) AND "
            f"coalesce(CAST(element_at({flags}, __af2_i) AS BOOLEAN), false)), "
            f"__af2_i -> element_at(({a1}), __af2_i))"
        )
    raise NotImplementedError("arrayFilter supports 1 or 2 array arguments")


def _pm_array_agg_lambda(kind: str):
    """arraySum/arrayAvg lambda forms: 1-array spelling declines to the
    typed SQL temp function (functions/scalar.py); (f, a) maps then
    folds; (f, a, b) folds over zip_with. NULL mapped values count as 0
    (the temp functions' convention)."""

    def rw(args: list[str]) -> str | None:
        if len(args) == 1:
            return None  # plain arraySum(arr) — the registered SQL UDF
        if len(args) == 2:
            mapped = f"transform(({args[1]}), {args[0]})"
        elif len(args) == 3:
            mapped = f"zip_with(({args[1]}), ({args[2]}), {args[0]})"
        else:
            raise NotImplementedError(f"array{kind} supports 1 or 2 array arguments")
        total = (
            f"aggregate({mapped}, CAST(0.0 AS DOUBLE), "
            f"(__aal_a, __aal_x) -> __aal_a + coalesce(CAST(__aal_x AS DOUBLE), 0.0D))"
        )
        if kind == "Sum":
            return total
        return f"(CASE WHEN size(({args[1]})) > 0 THEN {total} / size(({args[1]})) END)"

    return rw


def _pm_snowflake(shift_ms_epoch: str | None, millis: bool):
    """Snowflake-ID timestamp extraction: ms = (id >> 22) + epoch. The
    legacy snowflakeToDateTime pair pins the Twitter epoch 1288834974657;
    the snowflakeIDToDateTime pair takes CH's [epoch] argument (default
    0). Timezone arguments are refused — the engine pins UTC."""

    def rw(args: list[str]) -> str:
        if shift_ms_epoch is not None:  # legacy fixed-epoch form
            if len(args) != 1:
                raise NotImplementedError(
                    "snowflakeToDateTime timezone argument is not shimmed - "
                    "the engine runs UTC (SET session_timezone)"
                )
            ms = f"(shiftright({args[0]}, 22) + {shift_ms_epoch})"
        else:
            if len(args) == 1:
                ms = f"shiftright({args[0]}, 22)"
            elif len(args) == 2:
                ms = f"(shiftright({args[0]}, 22) + CAST({args[1]} AS BIGINT))"
            else:
                raise NotImplementedError(
                    "snowflakeIDToDateTime expects (id[, epoch_ms])"
                )
        if millis:
            return f"timestamp_millis({ms})"
        return f"timestamp_seconds({ms} div 1000)"

    return rw


# BYTE-wise, as CH defines it: length()/substring() count characters, so
# the comparison walks hex pairs of the UTF-8 encoding instead (one hex
# pair per byte) — 'é' vs 'e' is 2 (0xC3,0xA9 vs 0x65: 1 mismatch + 1
# length diff), which a character-based spelling would call 1
_BH_HEX_A = "hex(encode({a}, 'UTF-8'))"
_BH_HEX_B = "hex(encode({b}, 'UTF-8'))"
_BH_BODY = (
    f"(CASE WHEN LEAST(octet_length({{a}}), octet_length({{b}})) = 0 "
    f"THEN abs(octet_length({{a}}) - octet_length({{b}})) "
    f"ELSE size(filter(sequence(1, LEAST(octet_length({{a}}), octet_length({{b}}))), "
    f"__bh_i -> substring({_BH_HEX_A}, 2 * __bh_i - 1, 2) "
    f"<> substring({_BH_HEX_B}, 2 * __bh_i - 1, 2))) "
    f"+ abs(octet_length({{a}}) - octet_length({{b}})) END)"
)

_PARAMETRIC.update(
    {
        "mapSort": _pm_map_sort(False),
        "mapReverseSort": _pm_map_sort(True),
        # positionwise byte mismatches over the common prefix + the length
        # difference (CH's string Hamming convention)
        "byteHammingDistance": _pm_2arg_fa(_BH_BODY.replace("{a}", "{f}").replace("{b}", "{a}")),
        # timeDiff(first, second) = second - first, seconds
        "timeDiff": _pm_2arg_fa("(to_unix_timestamp({a}) - to_unix_timestamp({f}))"),
        "changeYear": _pm_change_part("year"),
        "changeMonth": _pm_change_part("month"),
        "changeDay": _pm_change_part("day"),
        "changeHour": _pm_change_part("hour"),
        "changeMinute": _pm_change_part("minute"),
        "changeSecond": _pm_change_part("second"),
        "toDecimal32": _pm_to_decimal(9),
        "toDecimal64": _pm_to_decimal(18),
        "toDecimal128": _pm_to_decimal(38),
        "toDecimal256": _pm_gate(
            "toDecimal256",
            "76-digit precision exceeds Spark's DECIMAL(38) - use "
            "toDecimal128 (38 digits) if the range fits",
        ),
        "countDistinctIf": _pm_2arg("count(DISTINCT CASE WHEN {a} THEN {f} END)"),
        "sumDistinctIf": _pm_2arg("sum(DISTINCT CASE WHEN {a} THEN {f} END)"),
        "medianIf": _pm_2arg("median(CASE WHEN {a} THEN {f} END)"),
        "toUInt128": _pm_gate(
            "toUInt128", "128-bit integers exceed BIGINT - CAST(x AS DECIMAL(38, 0)) covers ±1e38"
        ),
        "toInt128": _pm_gate(
            "toInt128", "128-bit integers exceed BIGINT - CAST(x AS DECIMAL(38, 0)) covers ±1e38"
        ),
        "toUInt256": _pm_gate(
            "toUInt256", "256-bit integers exceed BIGINT and DECIMAL(38)"
        ),
        "toInt256": _pm_gate(
            "toInt256", "256-bit integers exceed BIGINT and DECIMAL(38)"
        ),
        # batch 21: the full stdlib entity table via an Arrow UDF — the
        # earlier loud gate existed because a 5-entity subset would pass
        # &euro; etc. through silently; html.unescape carries the whole
        # HTML5 table, so the drift objection vanishes
        "decodeHTMLComponent": _pm_1arg("chDecodeHTMLComponent({x})"),
        "URLHierarchy": _pm_url_hierarchy(path_only=False),  # batch 21
        "URLPathHierarchy": _pm_url_hierarchy(path_only=True),  # batch 21
    }
)

_REWRITES.extend(
    [
        # CH's UTC conversions are Spark builtins under snake_case
        (re.compile(r"\btoUTCTimestamp\(", re.IGNORECASE), "to_utc_timestamp("),
        (re.compile(r"\bfromUTCTimestamp\(", re.IGNORECASE), "from_utc_timestamp("),
        # camelCase window-function aliases (empty-parens only, so the
        # gated rowNumberInAllBlocks/rowNumberInBlock spellings keep their
        # loud refusals)
        (re.compile(r"\bdenseRank\(\s*\)", re.IGNORECASE), "dense_rank()"),
        (re.compile(r"\browNumber\(\s*\)", re.IGNORECASE), "row_number()"),
    ]
)

_PARAMETRIC.update(
    {
        # intersection of every array in the group: fold array_intersect
        # over the collected arrays (group-sized state, like the
        # groupArray family it belongs to); seed = the first array
        "groupArrayIntersect": _pm_1arg(
            "aggregate(collect_list({x}), try_element_at(collect_list({x}), 1), "
            "(__gai_acc, __gai_e) -> array_intersect(__gai_acc, __gai_e))"
        ),
        # spelling variant of countDistinctIf
        "countIfDistinct": _pm_2arg("count(DISTINCT CASE WHEN {a} THEN {f} END)"),
    }
)

# vocab batch 22 (probe-driven, round 8): URL parameter names, ngramSearch,
# multi-array arrayFilter/arraySum/arrayAvg lambda forms, case-insensitive
# substring/match counters, hasToken*OrNull, checked-conversion -OrDefault
# family, Snowflake-ID / UUIDv7 timestamp extraction, toYYYYMMDDhhmmss,
# arrayROCAUC alias; loud gates for the genuinely non-expressible tails.
_PARAMETRIC.update(
    {
        # names of the query-string parameters, in order ('?flag' without
        # '=' contributes 'flag'; empty query -> [])
        "extractURLParameterNames": _pm_1arg(
            "filter(transform(split(coalesce(parse_url({x}, 'QUERY'), ''), '&'), "
            "__upn -> element_at(split(__upn, '='), 1)), __upn -> __upn <> '')"
        ),
        "ngramSearch": _pm_ngram_search,
        "arrayFilter": _pm_array_filter,
        "arraySum": _pm_array_agg_lambda("Sum"),
        "arrayAvg": _pm_array_agg_lambda("Avg"),
        "toYYYYMMDDhhmmss": _pm_1arg(
            "CAST(date_format({x}, 'yyyyMMddHHmmss') AS BIGINT)"
        ),
        "countSubstringsCaseInsensitive": _pm_2arg_fa(
            "(CASE WHEN length({a}) = 0 THEN 0 ELSE "
            "CAST((length({f}) - length(replace(lower({f}), lower({a}), ''))) "
            "/ length({a}) AS INT) END)"
        ),
        "countMatchesCaseInsensitive": _pm_2arg_fa(
            "CAST(regexp_count({f}, concat('(?i)', {a})) AS INT)"
        ),
        # NULL when the needle is not a single token (contains separators)
        # — the tokens() convention: a token is a maximal \\p{L}\\p{N} run
        "hasTokenOrNull": _pm_2arg_fa(
            r"(CASE WHEN {a} RLIKE '^[\\p{{L}}\\p{{N}}]+$' THEN hasToken({f}, {a}) END)"
        ),
        "hasTokenCaseInsensitiveOrNull": _pm_2arg_fa(
            r"(CASE WHEN {a} RLIKE '^[\\p{{L}}\\p{{N}}]+$' "
            r"THEN hasTokenCaseInsensitive({f}, {a}) END)"
        ),
        # the ROC-AUC spelling CH added alongside arrayAUC (the optional
        # 'scaled' 3rd argument is not shimmed)
        "arrayROCAUC": _pm_2arg_fa("arrayAUC({f}, {a})"),
        # Snowflake-ID timestamp extraction: legacy pair pins the Twitter
        # epoch; the ID pair takes CH's [epoch_ms] argument (default 0)
        "snowflakeToDateTime": _pm_snowflake("1288834974657", millis=False),
        "snowflakeToDateTime64": _pm_snowflake("1288834974657", millis=True),
        "snowflakeIDToDateTime": _pm_snowflake(None, millis=False),
        "snowflakeIDToDateTime64": _pm_snowflake(None, millis=True),
        "dateTimeToSnowflakeID": _pm_1arg("shiftleft(unix_millis({x}), 22)"),
        "dateTimeToSnowflake": _pm_1arg(
            "shiftleft(unix_millis({x}) - 1288834974657, 22)"
        ),
        # UUIDv7 carries unix-ms in its top 48 bits (RFC 9562)
        "UUIDv7ToDateTime": _pm_1arg(
            "timestamp_millis(CAST(conv(substring(replace(CAST({x} AS STRING), "
            "'-', ''), 1, 12), 16, 10) AS BIGINT))"
        ),
        # loud gates — each with the workable recipe
        "tupleToNameValuePairs": _pm_gate(
            "tupleToNameValuePairs",
            "struct field names are type metadata a textual shim cannot "
            "inspect - spell the pairs directly: map('1', t.col1, '2', t.col2) "
            "or map_entries over a map column",
        ),
        "arrayNormalizedGini": _pm_gate(
            "arrayNormalizedGini",
            "compute Gini from sorted cumulative shares: sort_array + one "
            "aggregate fold over the prefix sums",
        ),
        "randPoisson": _pm_gate(
            "randPoisson",
            "Spark refuses nondeterministic expressions inside the HOF fold "
            "an inverse-CDF spelling needs - draw with numpy inside "
            "mapInPandas, or use randExponential/randNormal",
        ),
        "randBinomial": _pm_gate(
            "randBinomial",
            "Spark refuses nondeterministic expressions inside the HOF fold "
            "a Bernoulli-sum spelling needs - draw with numpy inside "
            "mapInPandas, or use randUniform against p per row",
        ),
    }
)


# ---------------------------------------------------------------------------
# vocab batch 23 (probe-driven, round 8): the hypothesis-test family with
# REAL p-values (exact SQL statistics + per-group Arrow CDF UDFs from
# functions/stats.py), string-distance and codec UDF routing
# (functions/geo.py register_batch23_functions), Morton codes, standard-SQL
# type aliases, and loud gates for the window-decay forms.


def _lit_float23(arg: str, fn: str) -> float:
    m = re.fullmatch(r"[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?", arg.strip())
    if not m:
        raise NotImplementedError(
            f"{fn} needs literal numeric arguments (got {arg!r}) - the normal "
            "quantiles are computed at translation time"
        )
    return float(arg)


def _two_group_moments(v: str, i: str) -> tuple[str, ...]:
    """(n0, m0, v0, n1, m1, v1) aggregate spellings for the two-sample test
    family: index 0 vs everything else, NULL sample values skipped (the
    CASE projects non-members to NULL, which count/avg/var_samp ignore)."""
    x0 = f"(CASE WHEN CAST(({i}) AS INT) = 0 THEN CAST(({v}) AS DOUBLE) END)"
    x1 = f"(CASE WHEN CAST(({i}) AS INT) <> 0 THEN CAST(({v}) AS DOUBLE) END)"
    return (
        f"count({x0})",
        f"avg({x0})",
        f"var_samp({x0})",
        f"count({x1})",
        f"avg({x1})",
        f"var_samp({x1})",
    )


def _pm2_student_ttest(params: list[str] | None, args: list[str]) -> str:
    """studentTTest(sample_data, sample_index) → (t_statistic, p_value).
    Pooled-variance two-sample t; every moment is an algebraic aggregate
    (no collected state) and the p-value is one incomplete-beta UDF call
    per GROUP. The (confidence)(…) CI form is refused (needs the inverse
    t CDF; the t statistic + moments are all there to compute it offline)."""
    if params is not None:
        raise NotImplementedError(
            "studentTTest(confidence)(...) CI form is not shimmed - compute "
            "the CI offline from t_statistic and the avg/var aggregates"
        )
    if len(args) != 2:
        raise NotImplementedError("studentTTest expects (sample_data, sample_index)")
    n0, m0, v0, n1, m1, v1 = _two_group_moments(*args)
    df = f"({n0} + {n1} - 2)"
    # try_divide: an empty/degenerate group yields NULL (CH yields nan) —
    # under default ANSI a bare division would abort the whole query
    sp2 = f"try_divide((({n0} - 1) * {v0} + ({n1} - 1) * {v1}), {df})"
    t = (
        f"try_divide(({m0}) - ({m1}), "
        f"sqrt({sp2} * (try_divide(1.0D, {n0}) + try_divide(1.0D, {n1}))))"
    )
    return (
        f"named_struct('t_statistic', {t}, "
        f"'p_value', chStudentTP({t}, CAST({df} AS DOUBLE)))"
    )


def _pm2_welch_ttest(params: list[str] | None, args: list[str]) -> str:
    """welchTTest: unequal-variance t with the Welch–Satterthwaite df."""
    if params is not None:
        raise NotImplementedError(
            "welchTTest(confidence)(...) CI form is not shimmed - compute "
            "the CI offline from t_statistic and the avg/var aggregates"
        )
    if len(args) != 2:
        raise NotImplementedError("welchTTest expects (sample_data, sample_index)")
    n0, m0, v0, n1, m1, v1 = _two_group_moments(*args)
    a = f"try_divide({v0}, {n0})"
    b = f"try_divide({v1}, {n1})"
    t = f"try_divide(({m0}) - ({m1}), sqrt({a} + {b}))"
    df = (
        f"try_divide(power({a} + {b}, 2), "
        f"try_divide(power({a}, 2), {n0} - 1) + try_divide(power({b}, 2), {n1} - 1))"
    )
    return f"named_struct('t_statistic', {t}, 'p_value', chStudentTP({t}, {df}))"


def _pm2_mean_ztest(params: list[str] | None, args: list[str]) -> str:
    """meanZTest(pop_var_x, pop_var_y, confidence)(data, index) →
    (z_statistic, p_value, confidence_interval_low, confidence_interval_high).
    The variances may be any SQL expressions; the confidence level must be
    a literal (its normal quantile is computed at translation time)."""
    if params is None or len(params) != 3:
        raise NotImplementedError(
            "meanZTest expects (pop_var_x, pop_var_y, confidence)(data, index)"
        )
    if len(args) != 2:
        raise NotImplementedError("meanZTest expects (data, index) arguments")
    from clickhousedatamocker_spark.functions.stats import inv_normal_cdf

    conf = _lit_float23(params[2], "meanZTest")
    if not (0.0 < conf < 1.0):
        raise NotImplementedError("meanZTest confidence must be in (0, 1)")
    zc = inv_normal_cdf(1.0 - (1.0 - conf) / 2.0)
    n0, m0, _, n1, m1, _ = _two_group_moments(*args)
    se = (
        f"sqrt(try_divide(CAST(({params[0]}) AS DOUBLE), {n0}) "
        f"+ try_divide(CAST(({params[1]}) AS DOUBLE), {n1}))"
    )
    diff = f"(({m0}) - ({m1}))"
    z = f"try_divide({diff}, {se})"
    return (
        f"named_struct('z_statistic', {z}, 'p_value', chNormal2P({z}), "
        f"'confidence_interval_low', {diff} - {zc!r}D * {se}, "
        f"'confidence_interval_high', {diff} + {zc!r}D * {se})"
    )


def _rank_test_pairs(fn_name: str, args: list[str]) -> str:
    """collect_list of (value, group) for the rank tests (Mann–Whitney U,
    two-sample KS) — per-group aggregate state is O(group rows), the same
    bound ClickHouse's own implementations carry (their states hold every
    sample value too). Rows with a NULL value OR index project to NULL so
    collect_list drops them (CH aggregate NULL-skipping; an unguarded
    struct would crash the UDF's int64 conversion)."""
    if len(args) != 2:
        raise NotImplementedError(f"{fn_name} expects (sample_data, sample_index)")
    v, i = args
    return (
        f"collect_list(CASE WHEN ({v}) IS NOT NULL AND ({i}) IS NOT NULL "
        f"THEN named_struct('v', CAST(({v}) AS DOUBLE), "
        f"'g', CAST(CAST(({i}) AS INT) <> 0 AS INT)) END)"
    )


def _check_alt_two_sided(fn_name: str, params: list[str]) -> None:
    alt = params[0].strip().strip("'\"").lower()
    if alt != "two-sided":
        raise NotImplementedError(
            f"{fn_name}: only the 'two-sided' alternative is shimmed"
        )


def _pm2_mann_whitney(params: list[str] | None, args: list[str]) -> str:
    """mannWhitneyUTest([alternative[, continuity_correction]]) — CH's
    default applies the 0.5 continuity correction; both settings are
    supported via a literal 0/1 second parameter."""
    cc = "true"
    if params is not None:
        _check_alt_two_sided("mannWhitneyUTest", params)
        if len(params) > 2:
            raise NotImplementedError(
                "mannWhitneyUTest expects (alternative[, continuity_correction])"
            )
        if len(params) == 2:
            flag = params[1].strip()
            if flag not in ("0", "1"):
                raise NotImplementedError(
                    "mannWhitneyUTest continuity_correction must be a literal 0 or 1"
                )
            cc = "true" if flag == "1" else "false"
    return f"chMannWhitneyU({_rank_test_pairs('mannWhitneyUTest', args)}, {cc})"


def _pm2_ks_test(params: list[str] | None, args: list[str]) -> str:
    """kolmogorovSmirnovTest([alternative[, computation_method]]) — the D
    statistic is exact (integer h/(n0·n1)). p-value per the method param:
    'asymptotic' (default) = Stephens-adjusted Kolmogorov tail; 'exact' =
    the big-int Hodges lattice DP (r9 — tie-free, n0+n1 ≤ 1000, loud
    refusal otherwise); 'auto' = exact where it applies, else asymptotic
    (CH's auto switches on sample size the same way)."""
    m = "asymptotic"
    if params is not None:
        if len(params) > 2:
            raise NotImplementedError(
                "kolmogorovSmirnovTest takes at most (alternative, "
                "computation_method) parameters"
            )
        _check_alt_two_sided("kolmogorovSmirnovTest", params)
        if len(params) == 2:
            m = params[1].strip().strip("'\"").lower()
            if m not in ("asymptotic", "exact", "auto"):
                raise NotImplementedError(
                    "kolmogorovSmirnovTest: computation method must be "
                    "'asymptotic', 'exact' or 'auto'"
                )
    return f"chKSTest({_rank_test_pairs('kolmogorovSmirnovTest', args)}, '{m}')"


def _pm2_lttb(params: list[str] | None, args: list[str]) -> str:
    """largestTriangleThreeBuckets(n)(x, y) → the Steinarsson 2013 sweep
    over the x-sorted collected series (array of (x, y) structs — CH
    returns an array of tuples, same shape)."""
    if params is None or len(params) != 1 or len(args) != 2:
        raise NotImplementedError(
            "largestTriangleThreeBuckets expects (n)(x, y)"
        )
    x, y = args
    pts = (
        f"array_sort(collect_list(named_struct('x', CAST(({x}) AS DOUBLE), "
        f"'y', CAST(({y}) AS DOUBLE))))"
    )
    return f"chLTTB({pts}, CAST({params[0]} AS INT))"


def _pm_min_sample_size_conversion(args: list[str]) -> str:
    """minSampleSizeConversion(baseline, mde, power, alpha) — the standard
    two-proportion sample-size formula; all arguments must be literals
    (the normal quantiles are evaluated at translation time). Matches the
    public CH docs example to ~1e-9 relative (Acklam quantile precision)."""
    if len(args) != 4:
        raise NotImplementedError(
            "minSampleSizeConversion expects (baseline, mde, power, alpha)"
        )
    from clickhousedatamocker_spark.functions.stats import inv_normal_cdf
    import math as _math

    base, mde, power, alpha = (
        _lit_float23(a, "minSampleSizeConversion") for a in args
    )
    za = inv_normal_cdf(1.0 - alpha / 2.0)
    zp = inv_normal_cdf(power)
    p1, p2 = base, base + mde
    pbar = (p1 + p2) / 2.0
    n = (
        za * _math.sqrt(2.0 * pbar * (1.0 - pbar))
        + zp * _math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    ) ** 2 / mde**2
    return (
        f"named_struct('minimum_sample_size', {n!r}D, "
        f"'detect_range_lower', {base - mde!r}D, "
        f"'detect_range_upper', {base + mde!r}D)"
    )


def _pm_min_sample_size_continuous(args: list[str]) -> str:
    """minSampleSizeContinuous(baseline, sigma, mde, power, alpha) — mde is
    RELATIVE (CH contract); literals only, like the conversion form."""
    if len(args) != 5:
        raise NotImplementedError(
            "minSampleSizeContinuous expects (baseline, sigma, mde, power, alpha)"
        )
    from clickhousedatamocker_spark.functions.stats import inv_normal_cdf

    base, sigma, mde, power, alpha = (
        _lit_float23(a, "minSampleSizeContinuous") for a in args
    )
    za = inv_normal_cdf(1.0 - alpha / 2.0)
    zp = inv_normal_cdf(power)
    n = 2.0 * sigma**2 * (za + zp) ** 2 / (mde * base) ** 2
    return (
        f"named_struct('minimum_sample_size', {n!r}D, "
        f"'detect_range_lower', {base * (1.0 - mde)!r}D, "
        f"'detect_range_upper', {base * (1.0 + mde)!r}D)"
    )


def _pm_proportions_ztest(args: list[str]) -> str:
    """proportionsZTest(sx, sy, tx, ty, confidence, usevar) → (z_statistic,
    p_value, ci_low, ci_high). Counts may be expressions; confidence must
    be literal; usevar a literal 'pooled'/'unpooled'. The CI uses the
    UNPOOLED standard error in both modes (the conventional Wald CI)."""
    if len(args) not in (5, 6):
        raise NotImplementedError(
            "proportionsZTest expects (successes_x, successes_y, trials_x, "
            "trials_y, confidence[, 'pooled'|'unpooled'])"
        )
    from clickhousedatamocker_spark.functions.stats import inv_normal_cdf

    sx, sy, tx, ty = args[:4]
    conf = _lit_float23(args[4], "proportionsZTest")
    usevar = args[5].strip().strip("'\"").lower() if len(args) == 6 else "unpooled"
    if usevar not in ("pooled", "unpooled"):
        raise NotImplementedError("proportionsZTest usevar must be 'pooled' or 'unpooled'")
    zc = inv_normal_cdf(1.0 - (1.0 - conf) / 2.0)
    # try_divide: zero trials yield NULL rather than an ANSI abort
    p1 = f"try_divide(CAST(({sx}) AS DOUBLE), ({tx}))"
    p2 = f"try_divide(CAST(({sy}) AS DOUBLE), ({ty}))"
    se_u = (
        f"sqrt(try_divide({p1} * (1 - {p1}), ({tx})) "
        f"+ try_divide({p2} * (1 - {p2}), ({ty})))"
    )
    if usevar == "pooled":
        pp = f"try_divide(CAST(({sx}) + ({sy}) AS DOUBLE), (({tx}) + ({ty})))"
        se = (
            f"sqrt({pp} * (1 - {pp}) * "
            f"(try_divide(1.0D, ({tx})) + try_divide(1.0D, ({ty}))))"
        )
    else:
        se = se_u
    diff = f"({p1} - {p2})"
    z = f"try_divide({diff}, {se})"
    return (
        f"named_struct('z_statistic', {z}, 'p_value', chNormal2P({z}), "
        f"'confidence_interval_low', {diff} - {zc!r}D * {se_u}, "
        f"'confidence_interval_high', {diff} + {zc!r}D * {se_u})"
    )


def _pm_morton_encode(args: list[str]):
    """mortonEncode(c1[, ... c8]). The 2-D form DECLINES the rewrite — it
    resolves to the exact JVM-fold SQL UDF registered in scalar.py (the
    fast path and the pre-batch-23 surface). Other arities interleave via
    the chMortonEncode Arrow UDF (loud per-row failure when a value
    exceeds 63/n bits — silent wrap would be a wrong-answer trap)."""
    if len(args) == 2:
        return None  # keep the JVM mortonEncode(a, b)
    if not 1 <= len(args) <= 8:
        raise NotImplementedError("mortonEncode expects 1..8 coordinates")
    arr = "array(" + ", ".join(f"CAST(({a}) AS BIGINT)" for a in args) + ")"
    return f"chMortonEncode({arr})"


def _pm_morton_decode23(args: list[str]) -> str:
    """mortonDecode(n, code). The 2-D forms keep the original JVM-side
    mortonDecode2D SQL-UDF path and its STRUCT shape (pre-batch-23
    goldens pin it; the bare (code) form means 2-D); other dimensions
    decode via the chMortonDecode Arrow UDF and return an ARRAY of n
    coordinates (CH returns a tuple — documented shape deviation that
    keeps the decode to ONE UDF call)."""
    if len(args) == 1:
        return f"mortonDecode2D({args[0]})"
    if len(args) == 2 and args[0].strip() == "2":
        return f"mortonDecode2D({args[1]})"
    if len(args) == 2:
        return f"chMortonDecode(CAST({args[0]} AS INT), CAST(({args[1]}) AS BIGINT))"
    raise NotImplementedError("mortonDecode expects (n, code)")


_PARAMETRIC.update(
    {
        # UTF8-codepoint edit distances: Spark's levenshtein is already
        # codepoint-based, exactly CH's *UTF8 semantics
        "editDistanceUTF8": _pm_2arg_fa("levenshtein({f}, {a})"),
        "levenshteinDistanceUTF8": _pm_2arg_fa("levenshtein({f}, {a})"),
        "base32Encode": _pm_1arg("chBase32Encode({x})"),
        "base32Decode": _pm_1arg("chBase32Decode({x})"),
        "tryBase32Decode": _pm_1arg(
            "(CASE WHEN ({x}) IS NOT NULL THEN coalesce(chBase32Decode({x}), '') END)"
        ),
        "encodeURLFormComponent": _pm_1arg("chFormURLEncode({x})"),
        "decodeURLFormComponent": _pm_1arg("chFormURLDecode({x})"),
        # nowInBlock(): per-block evaluation is meaningless here — plain now()
        "nowInBlock": lambda args: "current_timestamp()",
        "mortonEncode": _pm_morton_encode,
        "mortonDecode": _pm_morton_decode23,
        "minSampleSizeConversion": _pm_min_sample_size_conversion,
        "minSampleSizeContinuous": _pm_min_sample_size_continuous,
        "proportionsZTest": _pm_proportions_ztest,
    }
)

# RFC-strict URL variants: the host parser here is already strict about
# scheme/authority, so the RFC spellings alias the base forms
for _rfc, _base in (
    ("domainRFC", "domain"),
    ("domainWithoutWWWRFC", "domainWithoutWWW"),
    ("topLevelDomainRFC", "topLevelDomain"),
    ("cutToFirstSignificantSubdomainRFC", "cutToFirstSignificantSubdomain"),
    ("firstSignificantSubdomainRFC", "firstSignificantSubdomain"),
    ("portRFC", "port"),
):
    if _base in _PARAMETRIC:
        _PARAMETRIC[_rfc] = _PARAMETRIC[_base]

# window-frame time decay: the frame-relative reference time cannot be
# reached by this textual rewriter (it would need OVER-clause surgery),
# and the naive max-shift two-pass under/overflows once the partition's
# time span exceeds ~700·lambda — the exact segmented-renormalization
# scan lives in operators/ema.py. Gate with that pointer.
for _etd in (
    "exponentialTimeDecayedSum",
    "exponentialTimeDecayedAvg",
    "exponentialTimeDecayedCount",
    "exponentialTimeDecayedMax",
):
    _PARAMETRIC[_etd] = _pm_gate(
        _etd,
        "frame-relative decay has no direct Spark spelling; use "
        "operators/ema.py exponential_time_decayed(df, decay, value_col, "
        "time_col, partition_cols) — the exact per-key segmented scan — or, "
        "for short bounded spans only, the two-pass form: tmax = max(t) "
        "OVER (frame), then aggregate v * exp((t - tmax) / lambda) OVER (frame)",
    )

def _pm2_exponential_moving_average(params: list[str] | None, args: list[str]) -> str:
    """exponentialMovingAverage(x)(value, timeunit) — exact aggregate
    rewrite: EMA = (1 − 2^(−1/x)) · Σ v_i·2^((t_i−T)/x), T = max(t) (the
    normalizer is CH's limit weight-sum of unit-spaced events). The max
    can't nest inside the sum in SQL, so the group is collected ONCE and
    folded with T bound via a 1-element transform; weights are in (0, 1]
    (graceful underflow, no overflow). NULL value/time rows are skipped
    (CH aggregate NULL rule); an all-NULL/empty group yields NULL.
    O(group) memory in the collected array — the dialect convenience
    path; operators/ema.py exponential_moving_average is the zero-collect
    two-pass for big groups."""
    if len(args) != 2:
        raise NotImplementedError(
            "exponentialMovingAverage expects (value, timeunit)"
        )
    if params is None or len(params) != 1:
        # the half-life parameter is REQUIRED in CH — inventing a default
        # would answer a query CH itself rejects (round-9 ADVICE)
        raise NotImplementedError(
            "exponentialMovingAverage takes exactly one parameter (half-life): "
            "exponentialMovingAverage(x)(value, timeunit)"
        )
    x = params[0]
    try:
        x_val = float(x)
    except ValueError:
        raise NotImplementedError(
            "exponentialMovingAverage: the half-life must be a literal number"
        ) from None
    if not x_val > 0:
        # x <= 0 would produce a finite, plausible-looking, WRONG value
        # (weights growing with age / NaN norm) — refuse like the operator
        raise NotImplementedError(
            f"exponentialMovingAverage: half-life must be > 0, got {x}"
        )
    v, t = args
    pair = (
        f"CASE WHEN ({v}) IS NOT NULL AND ({t}) IS NOT NULL THEN "
        f"named_struct('t', CAST({t} AS DOUBLE), 'v', CAST({v} AS DOUBLE)) END"
    )
    fold = (
        f"(1.0D - pow(2.0D, -1.0D / ({x}))) * aggregate(__ema_a, "
        f"CAST(0.0 AS DOUBLE), (__ema_s, __ema_e) -> "
        f"__ema_s + __ema_e.v * pow(2.0D, (__ema_e.t - __ema_T) / ({x})))"
    )
    return (
        f"element_at(transform(array(collect_list({pair})), __ema_a -> "
        f"CASE WHEN size(__ema_a) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE element_at(transform(array(array_max(__ema_a.t)), "
        f"__ema_T -> {fold}), 1) END), 1)"
    )


def _pm2_sequence_next_node(params: list[str] | None, args: list[str]) -> str:
    """sequenceNextNode(direction, base)(timestamp, event_column,
    base_condition, event1[, event2, ...]) — the value of event_column one
    step past a CONSECUTIVELY-matched event chain, over the per-group
    time-sorted event array (CH's experimental funnel-family aggregate).

    The four documented combos: ('forward','head') anchors at the first
    event, ('backward','tail') at the last, ('forward','first_match') at
    the first event1 match, ('backward','last_match') at the last event1
    match; backward walks the chain toward older events and returns the
    value just before it. In every mode the base event must satisfy
    base_condition (NULL conditions read as false, CH bitset parity), the
    chain events must satisfy event1..eventN on consecutive positions,
    and a chain running off the array yields NULL. Time ties sort by
    (t, v) for determinism (CH's own tie order is arrival-dependent).
    State is one collect_list per group — the same O(group) bound CH's
    implementation carries; all post-aggregation logic is JVM array ops.
    """
    if params is None or len(params) != 2:
        raise NotImplementedError(
            "sequenceNextNode expects (direction, base) parameters"
        )
    direction = params[0].strip().strip("'\"").lower()
    base = params[1].strip().strip("'\"").lower()
    if (direction, base) not in {
        ("forward", "head"),
        ("backward", "tail"),
        ("forward", "first_match"),
        ("backward", "last_match"),
    }:
        raise NotImplementedError(
            "sequenceNextNode: supported (direction, base) combos are "
            "(forward, head), (backward, tail), (forward, first_match), "
            "(backward, last_match)"
        )
    if len(args) < 4:
        raise NotImplementedError(
            "sequenceNextNode expects (timestamp, event_column, "
            "base_condition, event1[, event2, ...])"
        )
    t, v, bcond, *evconds = args
    n = len(evconds)
    cond_fields = ", ".join(
        f"'c{j + 1}', COALESCE(CAST(({c}) AS BOOLEAN), false)"
        for j, c in enumerate(evconds)
    )
    row = (
        f"CASE WHEN ({t}) IS NOT NULL THEN named_struct("
        f"'t', ({t}), 'v', ({v}), "
        f"'b', COALESCE(CAST(({bcond}) AS BOOLEAN), false), {cond_fields}) END"
    )
    # ANSI discipline: element_at beyond the array (or at index <= 0)
    # ABORTS the query, and Spark's AND does not short-circuit — so every
    # data-dependent index sits inside a CASE branch that its own guard
    # proves in-range, or goes through try_element_at with a provably
    # POSITIVE index (a negative index would silently wrap from the end).
    a = "__snn"
    sz = f"size({a})"
    if base == "head":
        # size > n proves indices 1..n+1 in range
        chain = " AND ".join(
            f"element_at({a}, {j + 1}).c{j + 1}" for j in range(n)
        )
        logic = (
            f"CASE WHEN {sz} > {n} THEN "
            f"CASE WHEN element_at({a}, 1).b AND {chain} "
            f"THEN element_at({a}, {n + 1}).v END END"
        )
    elif base == "tail":
        # size > n proves indices size-n..size in range
        chain = " AND ".join(
            f"element_at({a}, {sz} - {j}).c{j + 1}" for j in range(n)
        )
        logic = (
            f"CASE WHEN {sz} > {n} THEN "
            f"CASE WHEN element_at({a}, {sz}).b AND {chain} "
            f"THEN element_at({a}, {sz} - {n}).v END END"
        )
    else:
        if base == "first_match":
            bi = f"array_position({a}.c1, true)"
            # __bi >= 1 inside the branch, so __bi + j stays positive;
            # past-the-end reads come back NULL via try_element_at
            chain = " AND ".join(
                f"COALESCE(try_element_at({a}, __bi + {j}).c{j + 1}, false)"
                for j in range(1, n)
            ) or "true"
            res = f"try_element_at({a}, __bi + {n}).v"
        else:  # last_match, backward
            bi = (
                f"(CASE WHEN array_position(reverse({a}.c1), true) > 0 "
                f"THEN {sz} - array_position(reverse({a}.c1), true) + 1 "
                f"ELSE 0 END)"
            )
            # indices walk DOWN: each read is CASE-guarded >= 1
            chain = " AND ".join(
                f"(CASE WHEN __bi - {j} >= 1 "
                f"THEN element_at({a}, __bi - {j}).c{j + 1} ELSE false END)"
                for j in range(1, n)
            ) or "true"
            res = (
                f"CASE WHEN __bi - {n} >= 1 "
                f"THEN element_at({a}, __bi - {n}).v END"
            )
        logic = (
            f"element_at(transform(array(CAST({bi} AS INT)), __bi -> "
            f"CASE WHEN __bi > 0 THEN "
            f"CASE WHEN element_at({a}, __bi).b AND {chain} "
            f"THEN {res} END END), 1)"
        )
    return (
        f"element_at(transform(array(array_sort(collect_list({row}))), "
        f"{a} -> {logic}), 1)"
    )


def _pm2_group_array_insert_at(params: list[str] | None, args: list[str]) -> str:
    """groupArrayInsertAt[(default[, size])](x, pos) — place each value at
    its EXPLICIT 0-based position (order-independent, unlike the
    neighbor family); gaps fill with ``default``. With no params the gaps
    fill with NULL (CH fills with the TYPE default — '' / 0 — which a
    textual layer cannot infer; pass the default explicitly for parity,
    documented). Position collisions keep the MINIMUM value (CH keeps an
    arbitrary one; min is the deterministic choice, same rule as the
    merge-collapse families). Per-group state is the collected (pos, v)
    pairs; the fill is O(positions × pairs) — bounded by the explicit
    size, the same shape CH's own state carries."""
    if len(args) != 2:
        raise NotImplementedError("groupArrayInsertAt expects (x, pos)")
    default = "NULL"
    size = None
    if params:
        if len(params) > 2:
            raise NotImplementedError(
                "groupArrayInsertAt takes at most (default, size) parameters"
            )
        default = params[0]
        if len(params) == 2:
            size = params[1]
    x, pos = args
    # CH's position is UInt32 — a negative value errors at parse/insert
    # time there; silently dropping it here would drift (round-9 ADVICE)
    pos_guard = (
        f"CASE WHEN ({pos}) < 0 THEN CAST(raise_error(concat("
        f"'groupArrayInsertAt: negative position ', CAST(({pos}) AS STRING), "
        f"' (CH UInt32 position would refuse)')) AS INT) "
        f"ELSE CAST(({pos}) AS INT) END"
    )
    pairs = (
        f"collect_list(CASE WHEN ({pos}) IS NOT NULL THEN "
        f"named_struct('p', {pos_guard}, 'v', ({x})) END)"
    )
    n = size if size is not None else "coalesce(array_max(__ga_a.p) + 1, 0)"
    # a huge position would materialize an equally huge per-group array —
    # cap like CH's max_array_size_as_field-style limits (round-9 ADVICE)
    n = (
        f"CASE WHEN ({n}) > 1048576 THEN CAST(raise_error("
        f"'groupArrayInsertAt: derived array length exceeds the 1048576 "
        f"sanity cap (CH max_array_size_as_field-style limit)') AS INT) "
        f"ELSE ({n}) END"
    )
    lookup = (
        # try_element_at: gap positions filter to an EMPTY array, where
        # element_at(…, 1) aborts under ANSI
        "try_element_at(array_sort(transform(filter(__ga_a, "
        "__ga_e -> __ga_e.p = __ga_i), __ga_e -> __ga_e.v)), 1)"
    )
    # sequence(0, -1) DESCENDS in Spark, so the empty case needs a guard;
    # slice(values, 1, 0) is an empty array of the RIGHT element type
    return (
        f"element_at(transform(array({pairs}), __ga_a -> "
        f"CASE WHEN CAST(({n}) AS INT) <= 0 "
        f"THEN slice(transform(__ga_a, __ga_e -> __ga_e.v), 1, 0) "
        f"ELSE transform(sequence(0, CAST(({n}) AS INT) - 1), "
        f"__ga_i -> coalesce({lookup}, {default})) END), 1)"
    )


def _pm2_weighted_quantiles(params: list[str] | None, args: list[str]) -> str:
    """quantiles*Weighted (PLURAL) → one exact weighted percentile call
    returning the array (the approximate families answered exactly — the
    same documented deviation as the singular forms)."""
    if params is None or len(params) < 1 or len(args) != 2:
        raise NotImplementedError(
            "plural weighted quantiles need the (p1, p2, ...)(x, w) form"
        )
    ps = ", ".join(params)
    return f"percentile({args[0]}, array({ps}), CAST({args[1]} AS BIGINT))"


def _pm2_sum_map_filtered(params: list[str] | None, args: list[str]) -> str:
    """sumMapFiltered(keys_to_keep)(keys, values) — filter the zipped
    (key, value) pairs to the kept-key list, then emit the plain
    sumMap(keys, values) SPELLING: _rewrite_parametric runs after this
    pass and applies the map-aggregate rewrite to it."""
    if params is None or len(params) != 1 or len(args) not in (1, 2):
        raise NotImplementedError(
            "sumMapFiltered expects (keys_to_keep)(map) or (keys_to_keep)(keys, values)"
        )
    kl = params[0]
    if len(args) == 1:  # Map-column form
        return (
            f"sumMap(map_filter({args[0]}, "
            f"(__smf_k, __smf_v) -> array_contains({kl}, __smf_k)))"
        )
    k, v = args
    fp = (
        f"filter(zip_with({k}, {v}, (__smf_k, __smf_v) -> "
        f"named_struct('k', __smf_k, 'v', __smf_v)), "
        f"__smf_p -> array_contains({kl}, __smf_p.k))"
    )
    return f"sumMap({fp}.k, {fp}.v)"


_PARAMETRIC2.update(
    {
        "exponentialMovingAverage": _pm2_exponential_moving_average,
        "sequenceNextNode": _pm2_sequence_next_node,
        "sumMapFiltered": _pm2_sum_map_filtered,
        "groupArrayInsertAt": _pm2_group_array_insert_at,
        "quantilesExactWeighted": _pm2_weighted_quantiles,
        "quantilesInterpolatedWeighted": _pm2_weighted_quantiles,
        "quantilesTimingWeighted": _pm2_weighted_quantiles,
        "quantilesTDigestWeighted": _pm2_weighted_quantiles,
        "quantilesBFloat16Weighted": _pm2_weighted_quantiles,
        "studentTTest": _pm2_student_ttest,
        "welchTTest": _pm2_welch_ttest,
        "meanZTest": _pm2_mean_ztest,
        "mannWhitneyUTest": _pm2_mann_whitney,
        "kolmogorovSmirnovTest": _pm2_ks_test,
        "largestTriangleThreeBuckets": _pm2_lttb,
    }
)
_PARAMETRIC2_RE = re.compile(
    r"\b(" + "|".join(_PARAMETRIC2) + r")\s*\(", re.IGNORECASE
)
_PARAMETRIC2_LOWER = {k.lower(): v for k, v in _PARAMETRIC2.items()}


# vocab batch 24 (probe-driven, round 8): series analytics, all-matches
# group extraction, PR-AUC, jump consistent hash, misc stragglers


def _pm_make_date32(args: list[str]) -> str:
    """makeDate32(year, month, day) or (year, day_of_year) — Spark DATE
    covers the Date32 range."""
    if len(args) == 3:
        return f"make_date({args[0]}, {args[1]}, {args[2]})"
    if len(args) == 2:
        return f"date_add(make_date({args[0]}, 1, 1), CAST({args[1]} AS INT) - 1)"
    raise NotImplementedError("makeDate32 expects (year, month, day) or (year, day_of_year)")


_PARAMETRIC.update(
    {
        "extractAllGroupsVertical": _pm_2arg_fa(
            "chExtractAllGroupsVertical({f}, {a})"
        ),
        "extractAllGroupsHorizontal": _pm_2arg_fa(
            "chExtractAllGroupsHorizontal({f}, {a})"
        ),
        "seriesOutliersDetectTukey": _pm_1arg(
            "chSeriesOutliersTukey(CAST({x} AS ARRAY<DOUBLE>))"
        ),
        "seriesPeriodDetectFFT": _pm_1arg(
            "chSeriesPeriodFFT(CAST({x} AS ARRAY<DOUBLE>))"
        ),
        "arrayAUCPR": _pm_2arg_fa(
            "chArrayAUCPR(CAST({f} AS ARRAY<DOUBLE>), CAST({a} AS ARRAY<DOUBLE>))"
        ),
        "arrayPrAUC": _pm_2arg_fa(  # CH alias
            "chArrayAUCPR(CAST({f} AS ARRAY<DOUBLE>), CAST({a} AS ARRAY<DOUBLE>))"
        ),
        "jumpConsistentHash": _pm_2arg_fa(
            "chJumpConsistentHash(CAST({f} AS BIGINT), CAST({a} AS INT))"
        ),
        "makeDate32": _pm_make_date32,
        # L2SquaredDistance: the L2 fold without the sqrt (exact, no
        # round-trip through sqrt then square)
        "L2SquaredDistance": _pm_2arg_fa(
            "aggregate(zip_with({f}, {a}, (__l2p, __l2q) -> "
            "CAST(__l2p - __l2q AS DOUBLE) * CAST(__l2p - __l2q AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (__l2a, __l2v) -> __l2a + __l2v)"
        ),
        # session-zone UTC offset (seconds) at the given instant
        "timezoneOffset": _pm_1arg(
            "CAST(unix_timestamp({x}) "
            "- unix_timestamp(to_utc_timestamp({x}, current_timezone())) AS INT)"
        ),
        # r10 graduation: faithful numpy Cleveland-STL port
        # (functions/stl.py) — [seasonal, trend, residue, baseline]
        # Float32 arrays; decomposition identity exact, stl-cpp bit
        # parity NOT guaranteed (documented), recovery laws golden-tested
        "seriesDecomposeSTL": _pm_2arg_fa(
            "chSeriesDecomposeSTL(CAST({f} AS ARRAY<DOUBLE>), CAST({a} AS INT))"
        ),
        "tupleHammingDistance": _pm_gate(
            "tupleHammingDistance",
            "struct arity is type metadata a textual shim cannot inspect - "
            "use arrays: size(filter(zip_with(a, b, (x, y) -> x <> y), __t -> __t))",
        ),
        "kostikConsistentHash": _pm_gate(
            "kostikConsistentHash",
            "use jumpConsistentHash (same moved-keys guarantee) or "
            "pmod(xxhash64(key), n) when stability across resizes is not needed",
        ),
        "yandexConsistentHash": _pm_gate(
            "yandexConsistentHash",
            "use jumpConsistentHash (same moved-keys guarantee)",
        ),
        # sequenceNextNode: REAL rewrite in _PARAMETRIC2 (r9) — the four
        # documented (direction, base) combos over the sorted per-group
        # event array, all-JVM array logic
    }
)


# vocab batch 25 (probe-driven, round 8): categorical-association
# aggregates with real values, JSON merge patch, array edit distance,
# word counting, tuple-of-intervals arithmetic.


def _pm_assoc_agg(fn_name: str, udf: str):
    """cramersV / cramersVBiasCorrected / theilsU / contingency over (a, b)
    pairs: collect + one Arrow UDF per group (per-group state O(group
    rows) — the native aggregate states hold the full contingency map
    too). NULL on either side drops the row, the aggregate convention."""

    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError(f"{fn_name} expects (a, b)")
        a, b = args
        pairs = (
            f"collect_list(CASE WHEN ({a}) IS NOT NULL AND ({b}) IS NOT NULL "
            f"THEN named_struct('a', CAST(({a}) AS STRING), "
            f"'b', CAST(({b}) AS STRING)) END)"
        )
        return f"{udf}({pairs})"

    return rw


def _pm_json_merge_patch(args: list[str]) -> str:
    if len(args) < 1:
        raise NotImplementedError("JSONMergePatch expects at least 1 document")
    return f"chJSONMergePatch(array({', '.join(args)}))"


def _pm_add_tuple_of_intervals(args: list[str], op: str = "+") -> str:
    """addTupleOfIntervals(date, (i1, i2, ...)) — the interval tuple must
    be an inline literal (struct arity is type metadata a textual shim
    cannot inspect otherwise); rewrites to chained addition, which is
    exactly CH's documented left-to-right application order.
    ``op='-'`` serves subtractTupleOfIntervals (batch 27b)."""
    name = "addTupleOfIntervals" if op == "+" else "subtractTupleOfIntervals"
    if len(args) != 2:
        raise NotImplementedError(f"{name} expects (date, tuple)")
    base, tup = args[0], args[1].strip()
    if not (tup.startswith("(") and tup.endswith(")")):
        raise NotImplementedError(
            f"{name} needs an inline tuple literal of intervals - "
            f"spell a column tuple as chained {op} interval operations"
        )
    parts = _split_top(tup[1:-1])
    return "(" + f" {op} ".join([f"({base})"] + [f"({p})" for p in parts]) + ")"


_PARAMETRIC.update(
    {
        "cramersV": _pm_assoc_agg("cramersV", "chCramersV"),
        "cramersVBiasCorrected": _pm_assoc_agg(
            "cramersVBiasCorrected", "chCramersVBC"
        ),
        "theilsU": _pm_assoc_agg("theilsU", "chTheilsU"),
        "contingency": _pm_assoc_agg("contingency", "chContingency"),
        # countWords: maximal alphanumeric runs (CH's word definition)
        "countWords": _pm_1arg(
            r"size(filter(split({x}, '[^\\p{{L}}\\p{{N}}]+'), __cw -> __cw <> ''))"
        ),
        "JSONMergePatch": _pm_json_merge_patch,
        "jsonMergePatch": _pm_json_merge_patch,  # pre-24.4 CH spelling
        "addTupleOfIntervals": _pm_add_tuple_of_intervals,
        # raw arrays, no string cast: Python's numeric equality coerces
        # across int/float like CH's common-supertype comparison, where a
        # string rendering ('1.5E9' vs '1500000000') would drift
        "arrayLevenshteinDistance": _pm_2arg_fa(
            "chArrayLevenshtein({f}, {a})"
        ),
    }
)


def _pm_or_default(chty: str, body: str):
    """to<T>OrDefault(x, default) → coalesce(range-guarded try_cast,
    default) — the -OrNull machinery with a caller default. The 1-arg CH
    spelling (default = the type zero) rewrites to the existing -OrZero
    and re-enters the fixpoint scan."""

    def rw(args: list[str]) -> str:
        if len(args) == 1:
            return f"to{chty}OrZero({args[0]})"
        if len(args) == 2:
            return f"coalesce({body.format(x=args[0])}, {args[1]})"
        raise NotImplementedError(f"to{chty}OrDefault expects (value[, default])")

    return rw


for _chty, _body in _CHECKED_CONV.items():
    _PARAMETRIC[f"to{_chty}OrDefault"] = _pm_or_default(_chty, _body)


# vocab batch 26 (probe-driven, round 9): modulo/datetime/vector-normalize
# stragglers, ULID generation, one-way ANOVA with a real p-value (the
# sumMapFiltered real rewrite lives in _PARAMETRIC2 above), and a loud
# runningConcurrency gate (it previously fell through to Spark's
# UNRESOLVED_ROUTINE — the one failure mode this layer bans).


def _pm_positive_modulo(args: list[str]) -> str:
    if len(args) != 2:
        raise NotImplementedError("positiveModulo expects (a, b)")
    return f"pmod({args[0]}, {args[1]})"


def _pm_make_datetime64(args: list[str]) -> str:
    """makeDateTime64(y, m, d, h, mi, s[, fraction[, precision]]) —
    fraction is in 10^-precision-second units (CH default precision 3);
    Spark TIMESTAMP holds micros, so precision <= 6 is lossless and
    higher precisions refuse rather than silently truncate. The timezone
    form is not shimmed (session zone applies)."""
    if not 6 <= len(args) <= 8:
        raise NotImplementedError(
            "makeDateTime64 expects (year, month, day, hour, minute, "
            "second[, fraction[, precision]]) - the timezone form is not shimmed"
        )
    y, m, d, h, mi, s = args[:6]
    sec = f"CAST({s} AS DOUBLE)"
    if len(args) >= 7:
        prec = "3"
        if len(args) == 8:
            prec = args[7].strip()
            if not re.fullmatch(r"[0-6]", prec):
                raise NotImplementedError(
                    "makeDateTime64 precision must be a literal 0..6 "
                    "(Spark TIMESTAMP is microseconds)"
                )
        sec = f"(CAST({s} AS DOUBLE) + CAST({args[6]} AS DOUBLE) / pow(10, {prec}))"
    return f"make_timestamp({y}, {m}, {d}, {h}, {mi}, {sec})"


def _pm_vec_normalize(p: str):
    """L1Normalize / L2Normalize / LinfNormalize(arr) — divide every
    element by the vector norm, norm bound ONCE via a 1-element transform
    (no per-element re-aggregation). Zero vectors yield NaN elements
    (double division — ANSI only aborts integer division), CH parity."""

    def rw(args: list[str]) -> str:
        if len(args) != 1:
            raise NotImplementedError(f"L{p}Normalize takes one array")
        a = args[0]
        if p == "1":
            norm = f"aggregate({a}, 0.0D, (__vn_s, __vn_x) -> __vn_s + abs(CAST(__vn_x AS DOUBLE)))"
        elif p == "2":
            norm = (
                f"sqrt(aggregate({a}, 0.0D, (__vn_s, __vn_x) -> "
                f"__vn_s + CAST(__vn_x AS DOUBLE) * CAST(__vn_x AS DOUBLE)))"
            )
        else:  # inf
            norm = f"array_max(transform({a}, __vn_x -> abs(CAST(__vn_x AS DOUBLE))))"
        return (
            f"element_at(transform(array({norm}), __vn_n -> "
            f"transform({a}, __vn_e -> CAST(__vn_e AS DOUBLE) / __vn_n)), 1)"
        )

    return rw


def _pm_generate_ulid(args: list[str]) -> str:
    """generateULID([x]) → 26-char Crockford-base32 ULID: 48-bit
    unix-millis prefix (10 chars, top char carries 3 bits) + 80 random
    bits (2×40 from xxhash64 over fresh UUIDs). The optional argument is
    CH's CSE-breaker — accepted and ignored (the uuid() calls here are
    nondeterministic already)."""
    if len(args) > 1:
        raise NotImplementedError("generateULID takes at most one (ignored) argument")
    alpha = "'0123456789ABCDEFGHJKMNPQRSTVWXYZ'"

    def b32(field: str, nchars: int) -> str:
        return (
            f"array_join(transform(sequence({nchars - 1}, 0, -1), __ul_i -> "
            f"substr({alpha}, CAST((shiftrightunsigned(__ul_r.{field}, __ul_i * 5) & 31) AS INT) + 1, 1)), '')"
        )

    mask40 = (1 << 40) - 1
    seed = (
        f"named_struct('t', unix_millis(current_timestamp()), "
        f"'a', xxhash64(uuid()) & {mask40}, 'b', xxhash64(uuid()) & {mask40})"
    )
    return (
        f"element_at(transform(array({seed}), __ul_r -> "
        f"concat({b32('t', 10)}, {b32('a', 8)}, {b32('b', 8)})), 1)"
    )


def _pm_anova(args: list[str]) -> str:
    """analysisOfVariance(value, group) → (f_statistic, p_value): one-way
    ANOVA over the observed integer group labels via the per-group
    collect + chANOVA Arrow UDF (real p from the regularized incomplete
    beta). O(group rows) aggregate state — the same bound the rank tests
    (and CH's own moments-per-group state, asymptotically) carry."""
    if len(args) != 2:
        raise NotImplementedError("analysisOfVariance expects (value, group)")
    v, g = args
    pairs = (
        f"collect_list(CASE WHEN ({v}) IS NOT NULL AND ({g}) IS NOT NULL "
        f"THEN named_struct('v', CAST(({v}) AS DOUBLE), "
        f"'g', CAST(({g}) AS BIGINT)) END)"
    )
    return f"chANOVA({pairs})"


def _pm_map_apply(args: list[str]) -> str:
    """mapApply((k, v) -> (key_expr, value_expr), m) — CH's tuple-returning
    map lambda. Spark has no one-pass equivalent (transform_keys and
    transform_values can't see each other's outputs), so the lambda is
    PARSED textually: the two parameter names substitute for the entry's
    key/value fields and the tuple body becomes a struct over
    map_entries. Substitution applies outside string literals only;
    lambda params shadow outer columns of the same name (CH's own
    shadowing rule, so the textual substitution is semantics-preserving)."""
    if len(args) != 2:
        raise NotImplementedError("mapApply expects (lambda, map)")
    lam, m = args[0].strip(), args[1]
    arrow = lam.find("->")
    if arrow < 0:
        raise NotImplementedError("mapApply's first argument must be a lambda")
    params = lam[:arrow].strip()
    body = lam[arrow + 2 :].strip()
    if params.startswith("(") and params.endswith(")"):
        params = params[1:-1]
    names = [p.strip() for p in _split_top(params)]
    if len(names) != 2 or not all(re.fullmatch(r"[A-Za-z_]\w*", n) for n in names):
        raise NotImplementedError(
            "mapApply lambda must be (k, v) -> (key_expr, value_expr)"
        )
    low = body.lower()
    if low.startswith("tuple(") and body.endswith(")"):
        inner = body[6:-1]
    elif low.startswith("struct(") and body.endswith(")"):
        # the generic tuple(...) -> struct(...) rewrite runs before this one
        inner = body[7:-1]
    elif body.startswith("(") and body.endswith(")"):
        inner = body[1:-1]
    else:
        raise NotImplementedError(
            "mapApply lambda body must be a (key_expr, value_expr) tuple"
        )
    parts = _split_top(inner)
    if len(parts) != 2:
        raise NotImplementedError(
            "mapApply lambda body must return exactly (key_expr, value_expr)"
        )
    if "->" in inner:
        # a nested lambda's parameters would be blindly rewritten too
        # (scope-unaware textual substitution) — refuse rather than emit
        # unparseable SQL
        raise NotImplementedError(
            "mapApply with a NESTED lambda in the body is not shimmed - "
            "hoist the inner higher-order call out of the tuple"
        )
    ke, ve = parts
    # two-phase substitution: params named 'key'/'value' must not re-match
    # the field references the OTHER param's pass just wrote
    phases = (
        (names[0], "__ma_p0__"), (names[1], "__ma_p1__"),
        ("__ma_p0__", "__ma_e.key"), ("__ma_p1__", "__ma_e.value"),
    )
    for name, target in phases:
        pat = re.compile(rf"\b{re.escape(name)}\b")
        ke = _sub_outside_strings(pat, target, ke)
        ve = _sub_outside_strings(pat, target, ve)
    return (
        f"map_from_entries(transform(map_entries({m}), "
        f"__ma_e -> struct(({ke}) AS key, ({ve}) AS value)))"
    )


def _pm_json_type(args: list[str]) -> str:
    """JSONType(json[, key]) → 'Object'/'Array'/'String'/'Int64'/'Double'/
    'Bool'/'Null' via a real JSON parse (chJSONType Arrow UDF — the only
    way to keep '123'-the-string distinct from 123-the-number). Nested
    index paths are not shimmed (use JSONExtractRaw + JSONType)."""
    if len(args) == 1:
        return f"chJSONType({args[0]}, CAST(NULL AS STRING))"
    if len(args) == 2:
        # CH's integer second argument is 1-based array/member INDEXING
        # (negative = from the end) — a silent string coercion would
        # answer 'Null' for a valid index (round-9 ADVICE). Refuse loudly.
        if re.fullmatch(r"[+-]?\d+", args[1].strip()):
            raise NotImplementedError(
                "JSONType with an integer index (1-based element/member "
                "access) is not shimmed - slice first with JSONExtractRaw"
                "(json, idx), then JSONType the slice"
            )
        return f"chJSONType({args[0]}, {args[1]})"
    raise NotImplementedError(
        "JSONType with nested index paths is not shimmed - slice first "
        "with JSONExtractRaw, then JSONType the slice"
    )


def _pm_ip_in_range(args: list[str]) -> str:
    if len(args) != 2:
        raise NotImplementedError("isIPAddressInRange expects (address, cidr)")
    return f"chIPInRange({args[0]}, {args[1]})"


_DEFAULT_OF_TYPE = {
    "string": "''",
    "fixedstring": "''",
    "float32": "CAST(0.0 AS FLOAT)",
    "float64": "CAST(0.0 AS DOUBLE)",
    "date": "DATE'1970-01-01'",
    "date32": "DATE'1970-01-01'",
    "datetime": "TIMESTAMP'1970-01-01 00:00:00'",
    "datetime64": "TIMESTAMP'1970-01-01 00:00:00'",
    "uuid": "'00000000-0000-0000-0000-000000000000'",
    "bool": "false",
    **{
        t: f"CAST(0 AS {'BIGINT' if '64' in t else 'INT'})"
        for t in ("uint8", "uint16", "uint32", "uint64", "int8", "int16", "int32", "int64")
    },
}


def _pm_default_value_of_type_name(args: list[str]) -> str:
    """defaultValueOfTypeName('T') → the type's zero value, resolved at
    translation time (literal type names only, like CH)."""
    if len(args) != 1:
        raise NotImplementedError("defaultValueOfTypeName takes one literal type name")
    t = args[0].strip().strip("'\"").split("(")[0].lower()
    got = _DEFAULT_OF_TYPE.get(t)
    if got is None:
        raise NotImplementedError(
            f"defaultValueOfTypeName: no default mapped for type {t!r} - "
            f"supported: {sorted(_DEFAULT_OF_TYPE)}"
        )
    return got


def _pm_to_year_week(args: list[str]) -> str:
    """toYearWeek(date[, mode]) → YYYYWW (MySQL WEEK-mode semantics, the
    CH contract). Mode 0 (default): weeks start Sunday, week 1 starts at
    the year's FIRST Sunday, earlier days belong to the previous year's
    last week. Mode 3 = ISO 8601 (Spark's native weekofyear/YEAROFWEEK).
    Other literal modes refuse loudly rather than drift in edge weeks."""
    if len(args) not in (1, 2):
        raise NotImplementedError("toYearWeek expects (date[, mode])")
    d = f"CAST({args[0]} AS DATE)"
    mode = args[1].strip() if len(args) == 2 else "0"
    if mode == "3":
        return f"(extract(YEAROFWEEK FROM {d}) * 100 + weekofyear({d}))"
    if mode != "0":
        raise NotImplementedError(
            "toYearWeek: only literal modes 0 (MySQL default) and 3 (ISO) "
            "are shimmed - other modes differ only in edge weeks, which is "
            "exactly where a guessed shim would silently drift"
        )

    def first_sunday(y: str) -> str:
        jan1 = f"make_date({y}, 1, 1)"
        return f"date_add({jan1}, (8 - dayofweek({jan1})) % 7)"

    return (
        f"element_at(transform(array({d}), __yw_d -> "
        f"element_at(transform(array(CASE WHEN __yw_d >= {first_sunday('year(__yw_d)')} "
        f"THEN year(__yw_d) ELSE year(__yw_d) - 1 END), __yw_y -> "
        f"__yw_y * 100 + CAST(floor(datediff(__yw_d, {first_sunday('__yw_y')}) / 7) AS INT) + 1"
        f"), 1)), 1)"
    )


def _pm_array_slice(args: list[str]) -> str:
    """arraySlice(arr, offset[, length]) — CH's 1-based offset (negative
    from the end); a NEGATIVE length means 'to the end minus |length|'
    (arraySlice([1..5], 2, -1) = [2,3,4]), which Spark's slice() rejects
    at runtime, so the negative branch computes the count from the
    normalized start (CASE keeps slice() from ever seeing a negative
    length)."""
    if len(args) == 2:
        return f"slice({args[0]}, {args[1]}, size({args[0]}))"
    if len(args) != 3:
        raise NotImplementedError("arraySlice expects (array, offset[, length])")
    a, off, ln = args
    start = f"(CASE WHEN ({off}) > 0 THEN ({off}) ELSE size({a}) + ({off}) + 1 END)"
    neg_count = f"greatest(size({a}) + ({ln}) - {start} + 1, 0)"
    return (
        f"(CASE WHEN ({ln}) >= 0 THEN slice({a}, {off}, {ln}) "
        f"ELSE slice({a}, {off}, {neg_count}) END)"
    )


def _pm_array_uniq(args: list[str]) -> str:
    """arrayUniq(arr[, arr2, ...]) — one array: distinct element count;
    multiple arrays: distinct count of POSITION TUPLES across them (the CH
    multi-key form). Length mismatches read missing positions as NULL via
    try_element_at (CH throws; the NULL-tuple read keeps the block alive,
    documented deviation)."""
    if not args:
        raise NotImplementedError("arrayUniq takes 1+ array arguments")
    if len(args) == 1:
        return f"size(array_distinct({args[0]}))"
    fields = ", ".join(
        f"try_element_at({a}, CAST(__au_i AS INT)) AS f{i}" for i, a in enumerate(args)
    )
    n = "GREATEST(" + ", ".join(f"size({a})" for a in args) + ")"
    return (
        f"(CASE WHEN {n} <= 0 THEN 0 ELSE size(array_distinct("
        f"transform(sequence(1, {n}), __au_i -> struct({fields})))) END)"
    )


_DATE_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
}


def _pm_date_sub_unit(args: list[str]) -> str:
    """date_sub/dateSub: Spark's native date_sub is (date, days) — only the
    CH 3-arg unit-keyword form needs rewriting, to dateadd with a negated
    interval count. The 2-arg form DECLINES (returns None): the spelling
    is already a valid Spark call and the dispatcher leaves it verbatim."""
    if len(args) == 2:
        return None
    if len(args) == 3 and args[0].strip().strip("'\"").lower() in _DATE_UNITS:
        unit = args[0].strip().strip("'\"").upper()
        return f"dateadd({unit}, -({args[1]}), {args[2]})"
    raise NotImplementedError(
        "date_sub expects (date, days) or (UNIT, count, date)"
    )


def _pm_decimal_or(kind: str, precision: int):
    """toDecimalNN[OrNull|OrZero](value, scale) — checked casts into the
    family's full precision (Decimal32=9, 64=18, 128=38 digits; 256 would
    exceed Spark's DECIMAL(38) and is not registered). Scale must be a
    literal (it becomes part of the type)."""

    def rw(args: list[str]) -> str:
        if len(args) != 2 or not re.fullmatch(r"\d+", args[1].strip()):
            raise NotImplementedError(
                "toDecimal*OrNull/OrZero expect (value, literal_scale)"
            )
        s = int(args[1])
        if s > precision:
            raise NotImplementedError("decimal scale exceeds the family precision")
        t = f"DECIMAL({precision}, {s})"
        # CH TRUNCATES excess fractional digits where a plain cast would
        # round half-up (42.125 @ scale 2 -> CH 42.12, cast 42.13): cut the
        # extra digits on the string form first. Plain decimal strings
        # (and doubles via their shortest repr) truncate exactly;
        # scientific-notation strings fall through to the rounding cast
        # (documented deviation for that rare spelling).
        v = f"CAST({args[0]} AS STRING)"
        if s == 0:
            cut = f"regexp_replace({v}, '\\\\.[0-9]+$', '')"
        else:
            cut = f"regexp_replace({v}, '(\\\\.[0-9]{{{s}}})[0-9]+$', '$1')"
        guarded = (
            f"(CASE WHEN {v} RLIKE '^-?[0-9]+(\\\\.[0-9]+)?$' "
            f"THEN {cut} ELSE {v} END)"
        )
        e = f"try_cast({guarded} AS {t})"
        if kind == "zero":
            return f"coalesce({e}, CAST(0 AS {t}))"
        return e

    return rw


def _pm_point_in_ellipses(args: list[str]) -> str:
    """pointInEllipses(x, y, x0, y0, a0, b0[, x1, y1, a1, b1, ...]) — 1 if
    the point lies inside AT LEAST one axis-aligned ellipse (CH contract),
    pure arithmetic OR-chain."""
    if len(args) < 6 or (len(args) - 2) % 4 != 0:
        raise NotImplementedError(
            "pointInEllipses expects (x, y) + one or more (x0, y0, a, b) quads"
        )
    x, y = args[0], args[1]
    terms = []
    for i in range(2, len(args), 4):
        x0, y0, a, b = args[i : i + 4]
        terms.append(
            f"(pow((CAST({x} AS DOUBLE) - ({x0})) / ({a}), 2) + "
            f"pow((CAST({y} AS DOUBLE) - ({y0})) / ({b}), 2) <= 1.0D)"
        )
    return f"CAST(({' OR '.join(terms)}) AS INT)"


def _pm_best_effort(or_zero: bool = False):
    """parseDateTime[32|64]BestEffort[OrNull|OrZero] tails: the base form
    is already try_to_timestamp (null on unparseable — CH's throwing base
    is intentionally softened, documented at the base rename), so OrNull
    is the same expression and OrZero coalesces to the epoch."""

    def rw(args: list[str]) -> str:
        if len(args) != 1:
            raise NotImplementedError(
                "parseDateTimeBestEffort variants take (value) - the "
                "timezone argument is not shimmed (session zone applies)"
            )
        e = f"try_to_timestamp({args[0]})"
        if or_zero:
            return f"coalesce({e}, TIMESTAMP'1970-01-01 00:00:00')"
        return e

    return rw


_PARAMETRIC.update(
    {
        "positiveModulo": _pm_positive_modulo,
        "positive_modulo": _pm_positive_modulo,
        "toYearWeek": _pm_to_year_week,
        # probe wave 6 (r9): element-wise average, MAC codecs, settings gate
        "avgForEach": lambda a: (
            f"zip_with(sumForEach({a[0]}), "
            f"sumForEach(transform({a[0]}, __af_x -> "
            f"CASE WHEN __af_x IS NULL THEN CAST(NULL AS DOUBLE) ELSE 1.0D END)), "
            f"(__af_s, __af_c) -> CASE WHEN __af_c > 0 THEN __af_s / __af_c END)"
            if len(a) == 1
            else (_ for _ in ()).throw(
                NotImplementedError("avgForEach takes one array column")
            )
        ),
        # uppercase hex: CH's documented MAC format ('AA:BB:CC:DD:EE:FF');
        # Spark's hex() is already uppercase
        "MACNumToString": lambda a: (
            "concat_ws(':', "
            + ", ".join(
                f"lpad(hex(shiftright({a[0]}, {s}) & 255), 2, '0')"
                for s in (40, 32, 24, 16, 8, 0)
            )
            + ")"
        ),
        "MACStringToNum": lambda a: (
            f"CAST(conv(replace({a[0]}, ':', ''), 16, 10) AS BIGINT)"
        ),
        "MACStringToOUI": lambda a: (
            f"CAST(conv(replace(substr({a[0]}, 1, 8), ':', ''), 16, 10) AS BIGINT)"
        ),
        "getSetting": _pm_gate(
            "getSetting",
            "engine settings live per TABLE (system.tables settings column, "
            "ALTER TABLE ... MODIFY SETTING) and per QUERY (the SETTINGS "
            "clause) here - there is no mutable session-settings store to "
            "read a scalar from",
        ),
        # probe wave 5 (r9): arity/variadic gaps the earlier waves' shims
        # were too narrow for, logical xor, checked decimal casts, and the
        # unit-keyword date_sub form
        "xor": lambda a: (
            "CAST(("
            + " != ".join(f"CAST(({x}) AS BOOLEAN)" for x in a)
            + ") AS INT)"
            if len(a) >= 2
            else (_ for _ in ()).throw(
                NotImplementedError("xor takes 2+ arguments")
            )
        ),
        "arraySlice": _pm_array_slice,
        "arrayStringConcat": lambda a: (
            f"array_join({a[0]}, {a[1] if len(a) == 2 else chr(39) * 2})"
            if len(a) in (1, 2)
            else (_ for _ in ()).throw(
                NotImplementedError("arrayStringConcat expects (array[, separator])")
            )
        ),
        "arrayUniq": _pm_array_uniq,
        "dateSub": _pm_date_sub_unit,
        "date_sub": _pm_date_sub_unit,
        "toDecimal32OrNull": _pm_decimal_or("try_cast", 9),
        "toDecimal64OrNull": _pm_decimal_or("try_cast", 18),
        "toDecimal128OrNull": _pm_decimal_or("try_cast", 38),
        "toDecimal32OrZero": _pm_decimal_or("zero", 9),
        "toDecimal64OrZero": _pm_decimal_or("zero", 18),
        "toDecimal128OrZero": _pm_decimal_or("zero", 38),
        # probe wave 4 (r9): BestEffort parse tails, Joda formatting (Spark's
        # date_format IS the Java/Joda pattern dialect), bitmap slice,
        # NUL-terminated string cut, nullability no-op, multi-ellipse test
        "parseDateTimeBestEffortOrNull": _pm_best_effort(),
        "parseDateTimeBestEffortOrZero": _pm_best_effort(or_zero=True),
        "parseDateTime32BestEffort": _pm_best_effort(),
        "parseDateTime32BestEffortOrNull": _pm_best_effort(),
        "parseDateTime32BestEffortOrZero": _pm_best_effort(or_zero=True),
        "parseDateTime64BestEffort": _pm_best_effort(),
        "parseDateTime64BestEffortOrNull": _pm_best_effort(),
        "parseDateTime64BestEffortOrZero": _pm_best_effort(or_zero=True),
        "formatDateTimeInJodaSyntax": lambda a: (
            f"date_format({a[0]}, {a[1]})"
            if len(a) == 2
            else (_ for _ in ()).throw(
                NotImplementedError(
                    "formatDateTimeInJodaSyntax expects (datetime, format) - "
                    "the timezone argument is not shimmed"
                )
            )
        ),
        # bitmaps are sorted distinct arrays here; CH offset is 0-based
        "subBitmap": lambda a: (
            f"slice({a[0]}, CAST({a[1]} AS INT) + 1, CAST({a[2]} AS INT))"
            if len(a) == 3
            else (_ for _ in ()).throw(
                NotImplementedError("subBitmap expects (bitmap, offset, cardinality)")
            )
        ),
        "toStringCutToZero": lambda a: (
            f"(CASE WHEN instr({a[0]}, chr(0)) > 0 "
            f"THEN substr({a[0]}, 1, instr({a[0]}, chr(0)) - 1) ELSE {a[0]} END)"
        ),
        "toNullable": lambda a: f"({a[0]})",  # every Spark column is nullable
        "pointInEllipses": _pm_point_in_ellipses,
        # same-engine hash values only (the cityHash64 policy): xxhash64
        # over the registered normalizeQuery macro, not CH's SipHash
        "normalizedQueryHash": lambda a: f"xxhash64(normalizeQuery({', '.join(a)}))",
        "JSONType": _pm_json_type,
        "isIPAddressInRange": _pm_ip_in_range,
        "defaultValueOfTypeName": _pm_default_value_of_type_name,
        # visitParam* = the documented aliases of the simpleJSON* family
        # (both are registered SQL macros, so a direct spelling swap)
        "visitParamExtractRaw": lambda a: f"JSONExtractRaw({', '.join(a)})",
        "visitParamExtractString": lambda a: f"simpleJSONExtractString({', '.join(a)})",
        "visitParamExtractInt": lambda a: f"simpleJSONExtractInt({', '.join(a)})",
        # UInt parse: CH reads an UNSIGNED integer, so '-7' parses as 0 —
        # clamp the signed extraction (CASE keeps NULL-on-missing intact)
        "visitParamExtractUInt": lambda a: (
            f"(CASE WHEN simpleJSONExtractInt({', '.join(a)}) < 0 THEN 0 "
            f"ELSE simpleJSONExtractInt({', '.join(a)}) END)"
        ),
        "visitParamExtractFloat": lambda a: f"simpleJSONExtractFloat({', '.join(a)})",
        "visitParamExtractBool": lambda a: f"simpleJSONExtractBool({', '.join(a)})",
        "visitParamHas": lambda a: f"simpleJSONHas({', '.join(a)})",
        "tupleConcat": _pm_gate(
            "tupleConcat",
            "struct concatenation needs field introspection this textual "
            "layer lacks; use arrays (concat(a, b)) or name the fields "
            "explicitly in a struct() literal",
        ),
        "makeDateTime64": _pm_make_datetime64,
        "L1Normalize": _pm_vec_normalize("1"),
        "L2Normalize": _pm_vec_normalize("2"),
        "LinfNormalize": _pm_vec_normalize("inf"),
        "generateULID": _pm_generate_ulid,
        "analysisOfVariance": _pm_anova,
        "anova": _pm_anova,
        "runningConcurrency": _pm_gate(
            "runningConcurrency",
            "count open intervals per point with the bucketed range join "
            "(operators/rangejoin.py range_join_points) or the sweep "
            "spelling: explode (begin, +1), (end, -1) events and "
            "sum(delta) OVER (ORDER BY t)",
        ),
    }
)


_PARAMETRIC_RE = re.compile(
    r"\b(" + "|".join(_PARAMETRIC) + r")\s*\(", re.IGNORECASE
)
_PARAMETRIC_LOWER = {k.lower(): v for k, v in _PARAMETRIC.items()}


def _rewrite_parametric(sql: str) -> str:
    """Rewrite one outermost parametric call per pass; loop to fixpoint so
    nested occurrences (an arrayMap inside a multiIf branch) resolve too —
    the inner call's text survives the outer rewrite verbatim and is picked
    up on the next pass. Bounded: every pass removes one CH spelling."""
    pos = 0
    for _ in range(256):
        m = _search_code(_PARAMETRIC_RE, sql, pos)
        if not m:
            return sql
        if m.group(1).lower() == "range":
            # FROM range(N) / JOIN range(N) is Spark's table-valued range
            # (what the numbers() rewrite emits) — not CH's array builder
            prev = sql[: m.start()].rstrip().rsplit(None, 1)
            if prev and prev[-1].upper() in ("FROM", "JOIN", ","):
                pos = m.end()
                continue
        i = _scan_balanced(sql, m.end())
        args = _split_top(sql[m.end() : i - 1])
        repl = _PARAMETRIC_LOWER[m.group(1).lower()](args)
        if repl is None:
            # handler declined (the spelling is ALSO a valid Spark call in
            # this arity — e.g. 2-arg transform): leave THIS call verbatim,
            # but keep scanning from just past its name — its ARGUMENTS may
            # still hold parametric spellings (arrayMap nested in a 2-arg
            # transform produced by a previous pass)
            pos = m.end()
            continue
        sql = sql[: m.start()] + repl + sql[i:]
    raise NotImplementedError("parametric rewrite did not converge in 256 passes")


def _sub_ident(sql: str, name: str, repl: str) -> str:
    """Word-boundary substitution of a bare identifier, skipping string
    literals and comments, qualified references (``t.name``), and alias positions
    (``AS name`` — an output-column alias is a name, not an expression)."""

    def f(m: re.Match) -> str:
        before = sql[: m.start()].rstrip()
        if before.endswith("."):
            return m.group(0)
        tail = before.rsplit(None, 1)
        if tail and tail[-1].upper() == "AS":
            return m.group(0)
        return repl

    return _sub_outside_strings(re.compile(rf"\b{re.escape(name)}\b"), f, sql)


_AS_RE = re.compile(r"\bAS\b", re.IGNORECASE)


def _rsplit_top_as(item: str) -> tuple[str, str | None]:
    """Split ``expr AS alias`` at the LAST top-level ``AS`` whose right side
    is a bare identifier; returns (item, None) when there is no such AS."""
    positions = [
        i for i, c, d in scan(item) if d == 0 and c in "Aa" and _AS_RE.match(item, i)
    ]
    for p in reversed(positions):
        left, right = item[:p].strip(), item[p + 2 :].strip()
        if left and re.fullmatch(r"\w+", right):
            return left, right
    return item, None


_ARRAY_JOIN_RE = re.compile(r"\b(LEFT\s+)?ARRAY\s+JOIN\s+", re.IGNORECASE)
_AJ_STOP = re.compile(
    r"\b(WHERE|GROUP|HAVING|ORDER|LIMIT|SETTINGS|UNION|INNER|LEFT|RIGHT|FULL|"
    r"CROSS|JOIN|FORMAT|INTO)\b",
    re.IGNORECASE,
)


def _rewrite_array_join(sql: str) -> str:
    """ClickHouse's ``[LEFT] ARRAY JOIN <expr> [AS alias][, ...]`` clause →
    Spark ``LATERAL VIEW [OUTER] explode/inline``.

    - single array → ``LATERAL VIEW explode(expr) AS alias``
    - several arrays (CH zips them) → ``LATERAL VIEW inline(arrays_zip(...))``
      with positional aliases. Deviation: CH throws on unequal lengths,
      ``arrays_zip`` NULL-pads the shorter — documented, not detected.
    - LEFT → the OUTER modifier (empty arrays keep the row, element NULL).
    - unaliased bare column (``ARRAY JOIN arr``): CH rebinds the NAME to the
      element, so references elsewhere in the statement are rewritten to a
      generated element alias (strings / qualified / alias positions kept).
    """
    counter = 0
    while True:
        m = _search_code(_ARRAY_JOIN_RE, sql)
        if m is None:
            return sql
        # the clause ends at a depth-0 keyword or at the ')' closing an
        # enclosing subquery
        stop = next(
            (i for i, _, d in scan(sql, m.end()) if d < 0 or d == 0 and _AJ_STOP.match(sql, i)),
            len(sql),
        )
        outer = "OUTER " if m.group(1) else ""
        exprs, aliases, subs = [], [], {}
        for item in _split_top(sql[m.end() : stop]):
            expr, alias = _rsplit_top_as(item)
            if alias is None:
                if not re.fullmatch(r"\w+", expr.strip()):
                    raise NotImplementedError(
                        f"ARRAY JOIN item {item!r} needs an AS alias (only a bare "
                        "column name can be auto-aliased, CH rebinding semantics)"
                    )
                name = expr.strip()
                # rebind via the QUALIFIED generated-view reference: the
                # output column keeps the CH name (`__aj0.arr` selects as
                # `arr`) and unqualified ambiguity with the base column
                # never arises
                alias = name
                subs[name] = f"__aj{counter}.{name}"
            exprs.append(expr)
            aliases.append(alias)
        if len(exprs) == 1:
            lateral = f"LATERAL VIEW {outer}explode({exprs[0]}) __aj{counter} AS {aliases[0]}"
        else:
            lateral = (
                f"LATERAL VIEW {outer}inline(arrays_zip({', '.join(exprs)})) "
                f"__aj{counter} AS {', '.join(aliases)}"
            )
        pre, post = sql[: m.start()], sql[stop:]
        for name, alias in subs.items():
            pre = _sub_ident(pre, name, alias)
            post = _sub_ident(post, name, alias)
        sql = f"{pre}{lateral} {post}"
        counter += 1


_SELECT_RE = re.compile(r"\bSELECT\b", re.IGNORECASE)


def _rewrite_scalar_with(sql: str) -> str:
    """ClickHouse's scalar WITH form — ``WITH <expr> AS <name>[, ...]
    SELECT ...`` — inlines ``(expr)`` at every expression use of ``name``.
    The CTE form (``WITH name AS (subquery)``) is Spark-native and passes
    through untouched; any item that doesn't parse as ``expr AS bare_ident``
    leaves the whole statement unchanged."""
    m = re.match(r"^\s*WITH\b", sql, re.IGNORECASE)
    if m is None:
        return sql
    msel = find_top(sql, _SELECT_RE, m.end())
    if msel is None:
        return sql
    sel = msel.start()
    subs: list[tuple[str, str]] = []
    for item in _split_top(sql[m.end() : sel]):
        expr, name = _rsplit_top_as(item)
        if name is None or re.fullmatch(r"\w+", expr.strip()) and expr.strip() == name:
            return sql
        # CTE items (`name AS (subquery)`) never reach here: their right
        # side is parenthesized, so _rsplit_top_as returns None for them
        for prev, repl in subs:
            expr = _sub_ident(expr, prev, repl)
        subs.append((name, f"({expr})"))
    body = sql[sel:]
    for name, repl in subs:
        body = _sub_ident(body, name, repl)
    return sql[: m.start()] + body


_BRACKET_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE",
    "CASE", "END", "AS", "BY", "ON", "IN", "IS", "LIKE", "ILIKE", "BETWEEN",
    "HAVING", "LIMIT", "OFFSET", "UNION", "ALL", "DISTINCT", "RETURN",
    "RETURNS", "VALUES", "SET", "IF", "ARRAY", "USING", "INTERVAL", "OVER",
    "PARTITION", "ORDER", "GROUP", "ASC", "DESC", "NULLS", "FIRST", "LAST",
    "JOIN", "CROSS", "INNER", "LEFT", "RIGHT", "FULL", "OUTER", "EXISTS",
}


def _rewrite_brackets(sql: str) -> str:
    """ClickHouse bracket syntax → Spark spellings, one pair per pass:

    - array LITERAL ``[e1, e2, ...]`` (bracket not preceded by a value
      expression) → ``array(e1, e2, ...)``
    - array/map INDEXING ``expr[i]`` (bracket directly after an identifier,
      ``)``, or ``]``) → ``element_at(expr, i)`` — ClickHouse subscripts are
      1-BASED (negative = from the end), which is ``element_at``'s exact
      contract; Spark's native ``expr[i]`` is 0-based and would silently
      shift every element, so the bracket form must NOT pass through.

    The postfix expression for indexing is recovered by scanning backwards
    over identifier characters, dots, and balanced ()/[] groups — covering
    ``arr[1]``, ``t.arr[i]``, ``splitByChar(',', s)[2]``, and chains
    ``a[1][2]`` (the inner rewrite ends in ``)``, so the next pass sees an
    indexing bracket again). String literals are never touched.
    """
    for _ in range(256):
        pos = next((i for i, c, _ in scan(sql) if c == "["), -1)
        if pos < 0:
            return sql
        close = next((i for i, c, d in scan(sql, pos + 1, 1) if d == 0 and c == "]"), -1)
        if close < 0:
            raise ValueError("unbalanced '[' in SQL")
        inner = sql[pos + 1 : close]
        k = pos - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        prefix_is_value = k >= 0 and (sql[k].isalnum() or sql[k] in "_)]")
        if prefix_is_value and (sql[k].isalnum() or sql[k] == "_"):
            # an identifier directly before [ might be a KEYWORD (SELECT
            # [1,2] / THEN [] / IN ...), which prefixes a literal, not a
            # subscripted value
            w = k
            while w > 0 and (sql[w - 1].isalnum() or sql[w - 1] == "_"):
                w -= 1
            if sql[w : k + 1].upper() in _BRACKET_KEYWORDS:
                prefix_is_value = False
        if prefix_is_value:
            # indexing: walk back over the postfix expression
            s, opener = k + 1, _openers(sql, pos)
            while s > 0:
                c = sql[s - 1]
                if c.isalnum() or c in "_.":
                    s -= 1
                elif s - 1 in opener:
                    s = opener[s - 1]
                else:
                    break
            sql = (
                sql[:s]
                + f"element_at({sql[s : pos].rstrip()}, {inner.strip()})"
                + sql[close + 1 :]
            )
        else:
            sql = sql[:pos] + "array(" + inner + sql[close:].replace("]", ")", 1)
    raise NotImplementedError("bracket rewrite did not converge in 256 passes")


_TUPLE_DOT_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*(\d+)\b")


def _rewrite_tuple_dots(sql: str) -> str:
    """``x.1`` on a named value → ``x.col1`` (CH tuple positional access;
    an identifier can never start a float literal, so ident.digit is
    unambiguous). String literals are data and stay verbatim — URLs and
    version strings ('v1.5') must never be rewritten."""
    return _sub_outside_strings(_TUPLE_DOT_RE, r"\1.col\2", sql)


_CAST_OP_RE = re.compile(r"::\s*([A-Za-z_]\w*(?:\([^()]*\))?)")


def _rewrite_cast_operator(sql: str) -> str:
    """``expr::Type`` (CH/Postgres cast operator) → ``CAST(expr AS T)``
    with the type mapped through parse_ch_type. The operand is recovered
    by scanning backwards: a quoted literal, a number, a (possibly
    qualified) identifier, or a balanced ``(...)``/``[...]``/call group."""
    for _ in range(64):
        m = _search_code(_CAST_OP_RE, sql)
        if m is None:
            return sql
        i = m.start()
        # skip trailing whitespace before ::
        while i > 0 and sql[i - 1].isspace():
            i -= 1
        if i > 0 and sql[i - 1] in ")]":
            # balanced group (call, parens, bracket) + an optional leading name
            j = _openers(sql, i).get(i - 1, 0)
            while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "_."):
                j -= 1
            start = j
        elif i > 0 and sql[i - 1] in "'\"":
            # a string literal: its span ends at the operand's end
            start = next(a for a, b in _opaque_spans(sql[:i]) if b == i)
        else:
            j = i
            while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "_."):
                j -= 1
            start = j
        operand = sql[start:i]
        if not operand:
            raise NotImplementedError(f"cannot parse operand before :: in {sql!r}")
        dt, _ = parse_ch_type(m.group(1))
        sql = f"{sql[:start]}CAST({operand} AS {dt.simpleString()}){sql[m.end():]}"
    return sql


def _rewrite_brace_maps(sql: str) -> str:
    """CH map literal ``{'k': v, ...}`` → ``map('k', v, ...)``. Only fires
    when the first key is a quoted string or a number — ``{name:Type}``
    query-parameter placeholders (identifier key) pass through untouched.
    INNERMOST pair per pass, so nested map values resolve bottom-up."""
    for _ in range(64):
        # first '}' outside strings, then the nearest '{' before it —
        # that's the innermost brace pair
        pos = -1
        for close, c, _ in scan(sql):
            if c == "{":
                pos = close
            elif c == "}":
                break
        else:
            return sql
        if pos < 0:
            return sql
        j = close + 1
        inner = sql[pos + 1 : j - 1].strip()
        first = inner.lstrip()[:1]
        if inner and first not in "'\"0123456789":
            return sql  # parameter placeholder or not a map literal
        pairs = []
        for item in _split_top(inner):
            cut = next((i for i, c, d in scan(item) if d == 0 and c == ":"), -1)
            if cut < 0:
                return sql
            pairs.extend([item[:cut].strip(), item[cut + 1 :].strip()])
        sql = f"{sql[:pos]}map({', '.join(pairs)}){sql[j:]}"
    return sql


def parse_ch_lambda(text: str) -> tuple[list[str], str]:
    """CH SQL-UDF lambda ``(p1, p2) -> body`` / ``p -> body`` →
    (params, body). The split is at the FIRST top-level ``->`` so nested
    HOF lambdas inside the body survive."""
    s = text.strip().rstrip(";").strip()
    if s.startswith("("):
        close = _scan_balanced(s, 1)
        params = [p.strip() for p in s[1 : close - 1].split(",") if p.strip()]
        rest = s[close:].strip()
    else:
        m = re.match(r"(\w+)\s*(->.*)$", s, re.DOTALL)
        if not m:
            raise NotImplementedError(f"unparseable function lambda {text!r}")
        params, rest = [m.group(1)], m.group(2).strip()
    if not rest.startswith("->"):
        raise NotImplementedError(f"function lambda needs '->' after params: {text!r}")
    body = rest[2:].strip()
    if not body:
        raise NotImplementedError("function lambda has an empty body")
    for p in params:
        if not re.fullmatch(r"[A-Za-z_]\w*", p):
            raise NotImplementedError(f"function parameter {p!r} is not an identifier")
    return params, body


def expand_sql_macros(sql: str, macros: dict[str, dict]) -> str:
    """Expand CH ``CREATE FUNCTION`` macros textually: each call
    ``name(a1, ...)`` becomes the stored body with every parameter
    replaced by its (parenthesized) argument. Fixpoint-bounded so macros
    may call other macros; true recursion trips the bound loudly."""
    if not macros:
        return sql
    name_re = re.compile(
        r"\b(" + "|".join(re.escape(n) for n in macros) + r")\s*\(", re.IGNORECASE
    )
    lower = {n.lower(): (n, spec) for n, spec in macros.items()}
    for _ in range(64):
        m = _search_code(name_re, sql)
        if m is None:
            return sql
        _, spec = lower[m.group(1).lower()]
        end = _scan_balanced(sql, m.end())
        args = _split_top(sql[m.end() : end - 1])
        params = spec["params"]
        if len(args) != len(params):
            raise ValueError(
                f"function {m.group(1)} expects {len(params)} argument(s), "
                f"got {len(args)}"
            )
        body = spec["body"]
        for p, a in zip(params, args):
            # callable repl: an argument containing backslashes/\1 must
            # never pass through re's template expansion
            body = _sub_outside_strings(
                re.compile(r"\b" + re.escape(p) + r"\b"),
                lambda _mm, _rep=f"({a.strip()})": _rep,
                body,
            )
        sql = f"{sql[:m.start()]}({body}){sql[end:]}"
    raise NotImplementedError(
        "SQL function expansion did not converge - recursive CREATE FUNCTION "
        "definitions are not supported"
    )


_IN_FRAME_RE = re.compile(r"\b(lagInFrame|leadInFrame)\s*\(", re.IGNORECASE)
_FULL_FRAME_RE = re.compile(
    r"\s*ROWS\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+UNBOUNDED\s+FOLLOWING\s*",
    re.IGNORECASE,
)


def _rewrite_in_frame(sql: str) -> str:
    """lagInFrame/leadInFrame → lag/lead. CH requires an explicit window
    frame for these (the canonical idiom is the full ROWS BETWEEN
    UNBOUNDED..UNBOUNDED frame, under which they equal plain lag/lead);
    Spark's lag/lead reject any frame clause, so the full frame is
    stripped from the following OVER(...). A NARROWER frame changes the
    functions' semantics (they look only inside the frame) and has no
    Spark equivalent — refused loudly."""
    pos = 0
    while True:
        m = _IN_FRAME_RE.search(sql, pos)
        if m is None:
            return sql
        target = "lag(" if m.group(1).lower() == "laginframe" else "lead("
        args_end = _scan_balanced(sql, m.end())
        over = re.match(r"\s*OVER\s*\(", sql[args_end:], re.IGNORECASE)
        head = sql[: m.start()] + target + sql[m.end() : args_end]
        if over is None:
            sql = head + sql[args_end:]
            pos = m.start() + len(target)
            continue
        ov_open = args_end + over.end()
        ov_end = _scan_balanced(sql, ov_open)
        clause = sql[ov_open : ov_end - 1]
        stripped = _FULL_FRAME_RE.sub(" ", clause)
        if re.search(r"\b(ROWS|RANGE)\s+BETWEEN\b", stripped, re.IGNORECASE):
            raise NotImplementedError(
                f"{m.group(1)} with a frame narrower than ROWS BETWEEN "
                "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING looks only "
                "inside that frame - no Spark equivalent; restructure with "
                "collect_list over the frame + element_at"
            )
        sql = head + sql[args_end:ov_open] + stripped.rstrip() + sql[ov_end - 1 :]
        pos = m.start() + len(target)


def translate_ch_sql(sql: str) -> str:
    sql = _rewrite_brace_maps(sql)
    sql = _rewrite_brackets(_rewrite_scalar_with(_rewrite_array_join(sql)))
    sql = _rewrite_in_frame(sql)
    for pattern, repl in _REWRITES:
        sql = _sub_outside_strings(pattern, repl, sql)
    sql = _rewrite_cast_operator(sql)
    return _rewrite_parametric(_rewrite_parametric2(_rewrite_tuple_dots(sql)))


# -- DDL ---------------------------------------------------------------------

_CH_TYPES: dict[str, T.DataType] = {
    "uint8": T.IntegerType(),
    "uint16": T.IntegerType(),
    "uint32": T.IntegerType(),
    "uint64": T.LongType(),  # 1..10^18 fits signed (SURVEY §1.2)
    "int8": T.IntegerType(),
    "int16": T.IntegerType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    "date32": T.DateType(),  # wider range than Date; Spark DATE covers both
    "bool": T.BooleanType(),
    # UUID/IPv6 surface as their canonical text forms; IPv4 as the UInt32
    # number (matching IPv4StringToNum/IPv4NumToString's BIGINT convention)
    "uuid": T.StringType(),
    "ipv4": T.LongType(),
    "ipv6": T.StringType(),
    "json": T.StringType(),  # CH's JSON object type: raw text here
}

# ClickHouse's documented standard-SQL type aliases (batch 23). Kept to the
# common single-token spellings: every name added here is ALSO excluded as
# a candidate field name in named-Tuple parsing (see the tuple branch), so
# rare aliases that collide with plausible field names (text, byte, char)
# are deliberately omitted.
_CH_TYPES.update(
    {
        "tinyint": T.IntegerType(),
        "smallint": T.IntegerType(),
        "int": T.IntegerType(),
        "integer": T.IntegerType(),
        "mediumint": T.IntegerType(),
        "bigint": T.LongType(),
        "float": T.FloatType(),
        "real": T.FloatType(),
        "double": T.DoubleType(),
        "varchar": T.StringType(),
        "boolean": T.BooleanType(),
    }
)


def parse_ch_type(tstr: str) -> tuple[T.DataType, bool]:
    """ClickHouse type string → (Spark DataType, nullable). Handles the
    wrapper/parameterized forms: Nullable, LowCardinality, Array,
    Decimal(p,s) / Decimal32/64/128(s), DateTime('tz') / DateTime64(p[,tz]),
    Enum8/16(...), FixedString(n)."""
    s = tstr.strip()
    m = re.match(r"(\w+)\s*(?:\((.*)\))?$", s, re.DOTALL)
    if not m:
        raise NotImplementedError(f"unparseable ClickHouse type {tstr!r}")
    base, args = m.group(1).lower(), m.group(2)
    if base == "nullable":
        inner, _ = parse_ch_type(args)
        return inner, True
    if base == "lowcardinality":
        return parse_ch_type(args)  # a storage hint, not a logical type
    if base == "array":
        inner, inner_null = parse_ch_type(args)
        return T.ArrayType(inner, inner_null), False
    if base in ("decimal", "numeric", "dec"):
        if args is None:
            return T.DecimalType(10, 0), False  # bare NUMERIC: SQL default
        parts = [int(x) for x in _split_top(args)]
        p, sc = (parts[0], 0) if len(parts) == 1 else parts
        return T.DecimalType(p, sc), False
    if base in ("decimal32", "decimal64", "decimal128"):
        prec = {"decimal32": 9, "decimal64": 18, "decimal128": 38}[base]
        return T.DecimalType(prec, int(args)), False
    if base in ("datetime", "datetime64"):
        return T.TimestampType(), False  # tz/precision args accepted, dropped
    if base in ("enum8", "enum16"):
        return T.StringType(), False  # enums surface as their string labels
    if base == "fixedstring":
        return T.StringType(), False
    if base == "map":
        k, v = _split_top(args)
        kt, _ = parse_ch_type(k)
        vt, v_null = parse_ch_type(v)
        return T.MapType(kt, vt, v_null), False
    if base == "tuple":
        # both CH forms: unnamed Tuple(T1, T2) → col1/col2 field names
        # (matching the engine's tuple() value convention) and named
        # Tuple(a T1, b T2)
        fields = []
        for i, part in enumerate(_split_top(args), start=1):
            part = part.strip()
            nm = re.match(r"([A-Za-z_]\w*)\s+(.+)$", part, re.DOTALL)
            if nm and nm.group(1).lower() not in _CH_TYPES and not re.match(
                r"(?i)(nullable|lowcardinality|array|map|tuple|nested|decimal|"
                r"datetime|enum|fixedstring|aggregatefunction)$",
                nm.group(1),
            ):
                name, inner_s = nm.group(1), nm.group(2)
            else:
                name, inner_s = f"col{i}", part
            inner, inner_null = parse_ch_type(inner_s)
            fields.append(T.StructField(name, inner, inner_null))
        return T.StructType(fields), False
    if base == "nested":
        # CH flattens Nested(a T, b U) into parallel Array columns
        # (items.a, items.b); the Spark-natural shape is one
        # ARRAY<STRUCT<a, b>> column — documented deviation (same data,
        # row-group layout instead of parallel arrays)
        fields = []
        for part in _split_top(args):
            nm = re.match(r"([A-Za-z_]\w*)\s+(.+)$", part.strip(), re.DOTALL)
            if not nm:
                raise NotImplementedError(
                    f"Nested needs 'name Type' field declarations, got {part!r}"
                )
            inner, inner_null = parse_ch_type(nm.group(2))
            fields.append(T.StructField(nm.group(1), inner, inner_null))
        return T.ArrayType(T.StructType(fields), False), False
    if base == "aggregatefunction":
        _, dt = parse_ch_agg_type(args)
        return dt, False
    dt = _CH_TYPES.get(base)
    if dt is None:
        raise NotImplementedError(f"unsupported ClickHouse type {tstr!r}")
    return dt, False


def parse_ch_agg_type(args: str) -> tuple[str, T.DataType]:
    """``AggregateFunction(fn, T)`` → (fn, the Spark type its PARTIAL STATE
    occupies) — the storage side of the -State/-Merge combinator rewrites
    above, so an AggregatingMergeTree column holds exactly what uniqState/
    sumState/avgState/... produce:

    - uniq  → BINARY (a DataSketches HLL sketch; union of sketches == the
      sketch of the union, so merges are exact-sketch-equivalent)
    - sum   → the Spark SUM result type of the inner type (long for ints,
      double for floats, widened decimal)
    - min/max → the inner type itself
    - count → BIGINT
    - avg   → STRUCT<s: DOUBLE, c: BIGINT> (the avgState named_struct)
    """
    parts = _split_top(args)
    fn = parts[0].strip().lower()
    inner = parse_ch_type(parts[1])[0] if len(parts) > 1 else T.LongType()
    if fn == "uniq":
        return fn, T.BinaryType()
    if fn == "count":
        return fn, T.LongType()
    if fn == "avg":
        return fn, T.StructType(
            [T.StructField("s", T.DoubleType()), T.StructField("c", T.LongType())]
        )
    if fn in ("min", "max"):
        return fn, inner
    if fn == "sum":
        if isinstance(inner, (T.FloatType, T.DoubleType)):
            return fn, T.DoubleType()
        if isinstance(inner, T.DecimalType):
            return fn, T.DecimalType(38, inner.scale)
        return fn, T.LongType()
    raise NotImplementedError(
        f"AggregateFunction({fn}, …): only uniq/sum/min/max/count/avg states "
        "are supported (the combinator-rewrite vocabulary)"
    )


def _strip(sql: str) -> str:
    # line comments (create_local.sql:1-2) go; literals stay verbatim
    sql = _OPAQUE_RE.sub(lambda m: "" if m.group().startswith("--") else m.group(), sql)
    return sql.strip().rstrip(";").strip()


def parse_ch_insert(sql: str) -> dict | None:
    """Parse ``INSERT INTO <table> [(cols)] FORMAT <fmt>`` — the statement
    clickhouse-client runs with the payload on stdin
    (scripts/insert_data.sh:34-41: ``INSERT INTO ... FORMAT TabSeparated``
    ``< "$data_file"``). Returns None for non-INSERT statements; raises for
    INSERT forms the engine doesn't model (inline VALUES).

    Inline textual payloads are split off the RAW statement before any SQL
    normalization: ``_strip`` removes ``--`` comments and trailing ``;``,
    which inside data is silent corruption ('a--b' is a legal CSV value;
    clickhouse-client treats everything after the FORMAT line as verbatim
    data). The head (the SQL part) is normalized as usual."""
    if not re.match(r"\s*INSERT\s", sql, re.IGNORECASE):
        return None
    # textual inline payload: everything after the first newline following
    # 'FORMAT <fmt>' is verbatim data (FORMAT Values stays SQL — below)
    m_raw = re.match(
        r"\s*(INSERT\s+INTO\s+[\w.]+\s*(?:\([^)]*\))?\s*FORMAT\s+(?!Values\b)(\w+))"
        r"(?:[ \t]+|[ \t]*\r?\n)([\s\S]*\S[\s\S]*)$",
        sql,
        re.IGNORECASE,
    )
    if m_raw:
        head = _strip(m_raw.group(1))
        hm = re.match(
            r"INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*FORMAT\s+(\w+)\s*$",
            head,
            re.IGNORECASE,
        )
        if hm:
            cols = [c.strip() for c in hm.group(2).split(",")] if hm.group(2) else None
            return {
                "op": "insert",
                "table": hm.group(1).split(".")[-1],
                "columns": cols,
                "format": hm.group(3),
                "inline_payload": m_raw.group(3),
            }
    s = _strip(sql)
    if not s or not re.match(r"INSERT\s", s, re.IGNORECASE):
        return None
    m = re.match(
        r"INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*FORMAT\s+(\w+)\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        return {"op": "insert", "table": m.group(1).split(".")[-1], "columns": cols, "format": m.group(3)}
    # FROM INFILE: clickhouse-client reads the file itself and streams it —
    # here the engine reads it through the same FORMAT machinery
    m = re.match(
        r"INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*FROM\s+INFILE\s+"
        r"'([^']+)'\s*(?:COMPRESSION\s+'\w+'\s*)?FORMAT\s+(\w+)\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        return {
            "op": "insert",
            "table": m.group(1).split(".")[-1],
            "columns": cols,
            "format": m.group(4),
            "infile": m.group(3),
        }
    # FORMAT Values with inline tuples: the payload IS SQL (quoted strings,
    # numeric literals), so the normalized text routes onto the VALUES
    # machinery. Textual-format payloads are handled on the RAW statement
    # above — a same-line textual payload (no newline after the format
    # name) falls through to the loud refusal below.
    m = re.match(
        r"INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*FORMAT\s+Values\s+([\s\S]+)$",
        s,
        re.IGNORECASE,
    )
    if m:
        cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        return {
            "op": "insert_values",
            "table": m.group(1).split(".")[-1],
            "columns": cols,
            "values": m.group(3).rstrip().rstrip(";"),
        }
    if re.match(r"INSERT\s+INTO\s+[\w.]+\s*(?:\([^)]*\))?\s*\(?\s*(SELECT|WITH)\b", s, re.IGNORECASE):
        return None  # INSERT ... SELECT — handled as a statement by parse_ch_ddl
    mv = re.match(
        r"INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*VALUES\s+(\(.+)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if mv:
        # inline VALUES (clickhouse-client's default interactive form):
        # the tuple text is Spark-VALUES-compatible (quoted strings,
        # numeric literals), so the engine rewrites it into a SELECT *
        # FROM VALUES and routes through the admission-controlled insert
        cols = [c.strip() for c in mv.group(2).split(",")] if mv.group(2) else None
        return {
            "op": "insert_values",
            "table": mv.group(1).split(".")[-1],
            "columns": cols,
            "values": mv.group(3).rstrip().rstrip(";"),
        }
    raise NotImplementedError(
        "only 'INSERT INTO <table> [(cols)] FORMAT <fmt>' with an external "
        "payload, 'INSERT INTO <table> SELECT ...', and 'INSERT INTO "
        "<table> [(cols)] VALUES (...)' are supported"
    )


def parse_ch_ddl(sql: str) -> dict | None:
    """Parse one ClickHouse DDL statement into a catalog-op description, or
    return None when the statement is not DDL (plain query path)."""
    s = _strip(sql)
    # ON CLUSTER 'name': CH's execute-on-every-node modifier. This engine
    # is one process — the statement executes locally, and Distributed
    # fan-out is governed by the Engine's clusters dict — so the clause
    # drops out (same reasoning as the GLOBAL JOIN/IN rewrite).
    s = re.sub(r"\sON\s+CLUSTER\s+'?\w+'?", "", s, flags=re.IGNORECASE)
    # CREATE TEMPORARY TABLE: session-scoped in CH; here it lands in the
    # warehouse like any table (documented deviation — this engine has no
    # session lifetime shorter than the warehouse)
    s = re.sub(r"^(CREATE\s+)TEMPORARY\s+", r"\1", s, flags=re.IGNORECASE)
    if not s:
        return None
    # experimental CH push-query surface: loud gates with the equivalent
    # this engine DOES serve (silently creating a plain view would drop
    # the continuous-refresh semantics the user asked for)
    if re.match(r"CREATE\s+LIVE\s+VIEW\b", s, re.IGNORECASE):
        raise NotImplementedError(
            "LIVE VIEW (continuous refresh) is not supported - use CREATE "
            "MATERIALIZED VIEW (incrementally maintained on every insert, "
            "including under streaming ingest) and query it on demand"
        )
    if re.match(r"CREATE\s+WINDOW\s+VIEW\b", s, re.IGNORECASE):
        raise NotImplementedError(
            "WINDOW VIEW is not supported as DDL - use the Structured "
            "Streaming tier (streaming/windows.py tumbling/sliding/session "
            "helpers with watermarks) for continuous windowed aggregation"
        )
    if re.match(r"WATCH\s+\w+", s, re.IGNORECASE):
        raise NotImplementedError(
            "WATCH streams live-view updates - not supported; poll the "
            "materialized view, or attach a Structured Streaming sink"
        )
    # access-control statements: single-user engine ('default', no auth
    # plane) — a silent accept would fake a security posture, so gate loudly
    m = re.match(
        r"(GRANT|REVOKE|CREATE\s+(?:USER|ROLE|ROW\s+POLICY|QUOTA|SETTINGS\s+PROFILE)|"
        r"DROP\s+(?:USER|ROLE|ROW\s+POLICY|QUOTA|SETTINGS\s+PROFILE)|"
        r"ALTER\s+(?:USER|ROLE|QUOTA)|SET\s+(?:DEFAULT\s+)?ROLE|SHOW\s+GRANTS)\b",
        s,
        re.IGNORECASE,
    )
    if m:
        return {"op": "access_control", "stmt": " ".join(m.group(1).upper().split())}

    m = re.match(r"SHOW\s+SETTINGS(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "show_settings", "like": m.group(1)}

    m = re.match(r"SET\s+(\w+)\s*=\s*('[^']*'|[\w.]+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "set_setting", "key": m.group(1), "value": m.group(2).strip("'")}

    m = re.match(r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)", s, re.IGNORECASE)
    if m:
        return {"op": "drop", "name": m.group(2), "if_exists": bool(m.group(1))}

    # CREATE/DROP DATABASE: the engine hosts one warehouse; database names
    # are recorded so a migrating user's setup scripts run, and qualified
    # table references (db.table) already resolve by final segment
    m = re.match(r"CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "create_database", "name": m.group(2), "if_not_exists": bool(m.group(1))}
    m = re.match(r"DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "drop_database", "name": m.group(2), "if_exists": bool(m.group(1))}

    # BACKUP/RESTORE (simplified path form of CH's BACKUP TABLE ... TO ...)
    m = re.match(r"BACKUP\s+TABLE\s+(\w+)\s+TO\s+'([^']+)'\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "backup", "name": m.group(1), "path": m.group(2)}
    m = re.match(r"RESTORE\s+TABLE\s+(\w+)\s+FROM\s+'([^']+)'\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "restore", "name": m.group(1), "path": m.group(2)}

    m = re.match(
        r"CREATE\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+(SELECT\b.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return {
            "op": "view",
            "name": m.group(2),
            "if_not_exists": bool(m.group(1)),
            "select": m.group(3).rstrip().rstrip(";"),
        }

    m = re.match(r"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "drop", "name": m.group(2), "if_exists": bool(m.group(1))}

    m = re.match(
        r"CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
        r"(?:ENGINE\s*=\s*(\w+)(?:\(([^)]*)\))?\s+)?"
        r"(?:ORDER\s+BY\s+(?:\(([^)]*)\)|([\w]+))\s+)?AS\s+(SELECT\b.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        # groups: 1 IF NOT EXISTS, 2 name, 3 engine family, 4 engine args,
        # 5 parenthesized ORDER BY list, 6 bare ORDER BY column, 7 SELECT
        select = m.group(7).rstrip().rstrip(";")
        fm = re.search(r"\bFROM\s+([\w.]+)", select, re.IGNORECASE)
        if not fm:
            raise NotImplementedError("materialized view SELECT needs a plain FROM <table>")
        engine = None
        if m.group(3):
            engine = {
                "family": m.group(3),
                "args": [a.strip() for a in (m.group(4) or "").split(",") if a.strip()],
            }
        order_cols = [c.strip() for c in (m.group(5) or m.group(6) or "").split(",") if c.strip()]
        return {
            "op": "mv",
            "name": m.group(2),
            "if_not_exists": bool(m.group(1)),
            "src": fm.group(1).split(".")[-1],
            "select": select,
            "engine": engine,
            "order_columns": order_cols,
        }

    # -- schema evolution (metadata-only, CH's lazy-mutation model) --------
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
        r"([\w]+(?:\([^)]*\))?)(?:\s+DEFAULT\s+(.+?))?"
        r"(?:\s+(FIRST|AFTER\s+\w+))?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        pos = m.group(6)
        return {
            "op": "add_column",
            "name": m.group(1),
            "if_not_exists": bool(m.group(2)),
            "column": m.group(3),
            "type": m.group(4),
            "default": m.group(5),
            # FIRST / AFTER col: schema position (metadata-only here too);
            # keyword normalized, the anchor column keeps its case
            "position": (
                "FIRST"
                if pos and pos.upper() == "FIRST"
                else f"AFTER {pos.split()[1]}" if pos else None
            ),
        }
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COLUMN\s+(\w+)\s+DEFAULT\s+(.+?)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "modify_column_default",
            "name": m.group(1),
            "column": m.group(2),
            "default": m.group(3),
        }
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COLUMN\s+(\w+)\s+REMOVE\s+DEFAULT\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "modify_column_default",
            "name": m.group(1),
            "column": m.group(2),
            "default": None,
        }
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "drop_column",
            "name": m.group(1),
            "if_exists": bool(m.group(2)),
            "column": m.group(3),
        }
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COLUMN\s+(\w+)\s+([\w]+(?:\([^)]*\))?)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {"op": "modify_column", "name": m.group(1), "column": m.group(2), "type": m.group(3)}
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+COMMENT\s+COLUMN\s+(IF\s+EXISTS\s+)?(\w+)\s+'([^']*)'\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "comment_column",
            "name": m.group(1),
            "if_exists": bool(m.group(2)),
            "column": m.group(3),
            "comment": m.group(4),
        }
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+CLEAR\s+COLUMN\s+(IF\s+EXISTS\s+)?(\w+)"
        r"(?:\s+IN\s+PARTITION\s+'?([\w-]+)'?)?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "clear_column",
            "name": m.group(1),
            "if_exists": bool(m.group(2)),
            "column": m.group(3),
            "partition": m.group(4),
        }
    m = re.match(r"CHECK\s+TABLE\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "check_table", "name": m.group(1)}
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+INDEX\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(.+?)"
        r"\s+TYPE\s+(\w+(?:\([^)]*\))?)(?:\s+GRANULARITY\s+(\d+))?\s*;?\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return {
            "op": "add_index",
            "name": m.group(1),
            "if_not_exists": bool(m.group(2)),
            "index": {
                "name": m.group(3),
                "expr": " ".join(m.group(4).split()),
                "kind": m.group(5),
                "granularity": int(m.group(6) or 1),
            },
        }
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+INDEX\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "drop_index",
            "name": m.group(1),
            "if_exists": bool(m.group(2)),
            "index": m.group(3),
        }
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+(?:MATERIALIZE|CLEAR)\s+INDEX\s+(\w+)"
        r"(?:\s+IN\s+PARTITION\s+'?[\w-]+'?)?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        # index data is metadata-only here (no granule files to build/clear)
        return {"op": "noop_index", "name": m.group(1), "index": m.group(2)}
    m = re.match(
        r"CREATE\s+FUNCTION\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+(.+)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        params, body = parse_ch_lambda(m.group(3))
        return {
            "op": "create_function",
            "name": m.group(2),
            "if_not_exists": bool(m.group(1)),
            "params": params,
            "body": body,
        }
    m = re.match(
        r"DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE
    )
    if m:
        return {
            "op": "drop_function",
            "name": m.group(2),
            "if_exists": bool(m.group(1)),
        }
    m = re.match(r"KILL\s+(QUERY|MUTATION)\s+WHERE\s+.+$", s, re.IGNORECASE | re.DOTALL)
    if m:
        # queries are synchronous and mutations apply synchronously in this
        # engine — there is never an async one to kill; the statement is
        # accepted and reports zero waiting entries (CH's response shape)
        return {"op": "kill", "kind": m.group(1).lower()}
    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(IF\s+EXISTS\s+)?(\w+)\s+TO\s+(\w+)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "rename_column",
            "name": m.group(1),
            "if_exists": bool(m.group(2)),
            "column": m.group(3),
            "to": m.group(4),
        }

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+PROJECTION\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
        r"\(\s*(SELECT\s+.+?)\s*\)\s*;?\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return {
            "op": "add_projection",
            "name": m.group(1),
            "projection": m.group(3),
            "if_not_exists": bool(m.group(2)),
            "select": m.group(4),
        }

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+PROJECTION\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "drop_projection",
            "name": m.group(1),
            "projection": m.group(3),
            "if_exists": bool(m.group(2)),
        }

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+PROJECTION\s+(\w+)\s*;?\s*$", s, re.IGNORECASE
    )
    if m:
        return {"op": "materialize_projection", "name": m.group(1), "projection": m.group(2)}

    m = re.match(r"ALTER\s+TABLE\s+(\w+)\s+DELETE\s+WHERE\s+(.+)$", s, re.IGNORECASE | re.DOTALL)
    if m:
        return {"op": "mutate_delete", "name": m.group(1), "predicate": m.group(2).rstrip(";").strip()}

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+(DROP|DETACH|ATTACH)\s+PARTITION\s+'?([\w-]+)'?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": f"{m.group(2).lower()}_partition",
            "name": m.group(1),
            "partition": m.group(3),
        }

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+UPDATE\s+(.+?)\s+WHERE\s+(.+)$", s, re.IGNORECASE | re.DOTALL
    )
    if m:
        assignments = {}
        for part in _split_top(m.group(2)):
            k, v = part.split("=", 1)
            assignments[k.strip()] = v.strip()
        return {
            "op": "mutate_update",
            "name": m.group(1),
            "assignments": assignments,
            "predicate": m.group(3).rstrip(";").strip(),
        }

    m = re.match(
        r"OPTIMIZE\s+TABLE\s+(\w+)(?:\s+PARTITION\s+'?([\w-]+)'?)?"
        r"(\s+FINAL)?(\s+DEDUPLICATE)?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "optimize",
            "name": m.group(1),
            "partition": m.group(2),
            "deduplicate": bool(m.group(4)),
        }

    m = re.match(r"TRUNCATE\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "truncate", "name": m.group(2), "if_exists": bool(m.group(1))}

    m = re.match(r"RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "rename", "name": m.group(1), "to": m.group(2)}

    m = re.match(r"DETACH\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "detach_table", "name": m.group(2), "if_exists": bool(m.group(1))}
    m = re.match(r"ATTACH\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "attach_table", "name": m.group(2), "if_not_exists": bool(m.group(1))}
    # cache/log maintenance statements: CH server-side housekeeping with no
    # analog here (no mark/uncompressed cache, query log is an in-memory
    # view, DNS is the OS's) — accepted as no-ops so pasted ops runbooks
    # execute; SYSTEM RELOAD DICTIONARIES really re-registers the dicts
    m = re.match(
        r"SYSTEM\s+(FLUSH\s+LOGS|DROP\s+(?:MARK|UNCOMPRESSED|QUERY)\s+CACHE|"
        r"DROP\s+DNS\s+CACHE|RELOAD\s+CONFIG)\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {"op": "system_noop", "what": " ".join(m.group(1).upper().split())}
    m = re.match(
        r"SYSTEM\s+RELOAD\s+(?:DICTIONARIES|DICTIONARY\s+(\w+))\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {"op": "reload_dictionaries", "name": m.group(1)}
    m = re.match(r"SHOW\s+PROCESSLIST\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "show_processlist"}
    m = re.match(
        r"SYSTEM\s+(STOP|START)\s+MERGES(?:\s+(\w+))?\s*;?\s*$", s, re.IGNORECASE
    )
    if m:
        return {
            "op": "system_merges",
            "action": m.group(1).lower(),
            "table": m.group(2),
        }

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+TTL\s+(.+?)\s*;?\s*$", s, re.IGNORECASE | re.DOTALL
    )
    if m:
        return {"op": "modify_ttl", "name": m.group(1), "ttl": " ".join(m.group(2).split())}

    m = re.match(r"ALTER\s+TABLE\s+(\w+)\s+REMOVE\s+TTL\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "modify_ttl", "name": m.group(1), "ttl": None}

    m = re.match(r"EXCHANGE\s+TABLES\s+(\w+)\s+AND\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "exchange", "a": m.group(1), "b": m.group(2)}

    m = re.match(
        # partition values may hold dots/spaces/colons (DateTime/Decimal
        # keys) — accept any quoted value, or a bare word; existence is
        # validated downstream by _freeze_table (round-6 advisory)
        r"ALTER\s+TABLE\s+(\w+)\s+FREEZE(?:\s+PARTITION\s+(?:'([^']*)'|([\w-]+)))?\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {
            "op": "freeze",
            "name": m.group(1),
            "partition": m.group(2) if m.group(2) is not None else m.group(3),
        }

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COMMENT\s+'([^']*)'\s*;?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        return {"op": "modify_comment", "name": m.group(1), "comment": m.group(2)}

    m = re.match(r"UNDROP\s+TABLE\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "undrop", "name": m.group(1)}

    m = re.match(r"SHOW\s+CREATE\s+DATABASE\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "show_create_database", "name": m.group(1)}

    m = re.match(r"SHOW\s+DICTIONARIES\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "show_dictionaries"}

    # CH lightweight delete (22.8+): DELETE FROM t WHERE p — same mutation
    # machinery as ALTER ... DELETE here (we are always "synchronous")
    m = re.match(r"DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$", s, re.IGNORECASE | re.DOTALL)
    if m:
        return {"op": "delete_where", "name": m.group(1), "predicate": m.group(2)}

    m = re.match(r"SHOW\s+CREATE\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "show_create", "name": m.group(1)}

    m = re.match(r"SHOW\s+DATABASES\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "show_databases"}

    m = re.match(r"USE\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "use_database", "name": m.group(1)}

    m = re.match(r"SHOW\s+TABLES\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "show_tables"}

    m = re.match(r"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "describe", "name": m.group(1)}

    m = re.match(r"EXISTS\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", s, re.IGNORECASE)
    if m:
        return {"op": "exists", "name": m.group(1)}

    m = re.match(
        r"ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+SETTING\s+(.+)$", s, re.IGNORECASE | re.DOTALL
    )
    if m:
        settings = {}
        for part in m.group(2).split(","):
            k, v = part.split("=")
            settings[k.strip()] = int(v.strip())
        return {"op": "alter_setting", "name": m.group(1), "settings": settings}

    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+(\w+)\s*(.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m and m.group(3).upper() not in ("SELECT", "WITH"):
        if_not_exists, name, of, tail = bool(m.group(1)), m.group(2), m.group(3), m.group(4).strip()
        # CREATE TABLE x AS other [ENGINE = Distributed(cluster, db, table
        # [, sharding_key])] — schema-copying alias (create_distributed.sql).
        # A tail that is neither empty nor an ENGINE clause means this is
        # some other statement (e.g. CTAS with a parenthesized select) —
        # fall through rather than silently aliasing.
        distributed = None
        if tail:
            em = re.match(r"ENGINE\s*=\s*Distributed\s*\((.*)\)\s*$", tail, re.IGNORECASE | re.DOTALL)
            if em is None:
                raise NotImplementedError(
                    f"unsupported CREATE TABLE ... AS tail {tail!r} (only "
                    "ENGINE = Distributed(...) aliases are modeled)"
                )
            args = _split_top(em.group(1))
            if len(args) not in (3, 4):
                raise NotImplementedError(
                    "ENGINE = Distributed expects (cluster, database, table"
                    "[, sharding_key])"
                )
            distributed = {
                "cluster": args[0].strip("'\""),
                "sharding_key": args[3] if len(args) == 4 else None,
            }
        return {
            "op": "alias",
            "name": name,
            "of": of,
            "if_not_exists": if_not_exists,
            "distributed": distributed,
        }
    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
        r"(?:ENGINE\s*=\s*\w+(?:\([^)]*\))?\s+)?"
        r"(?:PARTITION\s+BY\s+(?:\([^)]*\)|\w+(?:\([^)]*\))?)\s+)?"
        r"(?:ORDER\s+BY\s+(?:\([^)]*\)|\w+(?:\(\s*\))?)\s+)?AS\s*\(?\s*((?:SELECT|WITH)\b.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        select = m.group(3).rstrip().rstrip(";").rstrip()
        if select.endswith(")") and select.count("(") < select.count(")"):
            select = select[:-1].rstrip()
        return {
            "op": "ctas",
            "name": m.group(2),
            "if_not_exists": bool(m.group(1)),
            "select": select,
        }

    m = re.match(
        r"INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*((?:SELECT|WITH)\b.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return {
            "op": "insert_select",
            "name": m.group(1).split(".")[-1],
            "columns": [c.strip() for c in m.group(2).split(",")] if m.group(2) else None,
            "select": m.group(3).rstrip().rstrip(";"),
        }

    if re.match(r"CREATE\s+TABLE\b.*\bENGINE\s*=\s*Kafka\b", s, re.IGNORECASE | re.DOTALL):
        raise NotImplementedError(
            "ENGINE = Kafka is not supported (no broker here). The equivalent "
            "pipeline is Structured Streaming: readStream -> foreachBatch -> "
            "Engine.insert (streaming/ingest.py) — the same consume-into-MVs "
            "flow a Kafka table + materialized view gives in ClickHouse"
        )

    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.*)\)\s*"
        r"ENGINE\s*=\s*Buffer\s*\(([^)]*)\)\s*;?\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        args = [a.strip() for a in m.group(4).split(",") if a.strip()]
        if len(args) < 2:
            raise NotImplementedError("Buffer needs at least (database, table) arguments")
        return {
            "op": "create_buffer",
            "name": m.group(2),
            "if_not_exists": bool(m.group(1)),
            "cols_src": m.group(3),
            "target": args[1],
            "args": args,
        }

    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.*)\)\s*"
        r"ENGINE\s*=\s*((?:Replicated)?(?:MergeTree|ReplacingMergeTree|SummingMergeTree|CollapsingMergeTree|VersionedCollapsingMergeTree|AggregatingMergeTree)|Null|Memory|TinyLog|StripeLog|Log)\s*(?:\(([^)]*)\))?\s*(.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        if_not_exists, name, cols_src, tail = (
            bool(m.group(1)),
            m.group(2),
            m.group(3),
            m.group(6),
        )
        engine = {
            "family": m.group(4),
            # parens are optional in CH: ENGINE = MergeTree == MergeTree()
            "args": [a.strip() for a in (m.group(5) or "").split(",") if a.strip()],
        }
        if engine["family"].startswith("Replicated"):
            # Replicated*MergeTree('/zk/path', 'replica'[, familyArgs...]):
            # this engine is single-process, so replication degenerates to
            # the base family — the leading quoted coordination args are
            # accepted and dropped (documented deviation), the family's own
            # trailing args (e.g. Replacing's version column) are kept
            engine["family"] = engine["family"][len("Replicated"):]
            while engine["args"] and engine["args"][0][:1] in ("'", '"'):
                engine["args"].pop(0)
        fields = []
        skip_indexes = []
        column_defaults: dict[str, str] = {}
        column_materialized: dict[str, str] = {}
        column_aliases: dict[str, dict] = {}
        for coldef in _split_top(cols_src):
            # data-skipping index clause: INDEX name expr TYPE kind [GRANULARITY g].
            # Accepted and recorded: the minmax kind is what Parquet row-group
            # statistics already provide natively under our sorted-within-part
            # layout (SURVEY §4.1); set/bloom_filter kinds are metadata-only.
            im = re.match(
                r"INDEX\s+(\w+)\s+(.+?)\s+TYPE\s+(\w+(?:\([^)]*\))?)"
                r"(?:\s+GRANULARITY\s+(\d+))?\s*$",
                coldef,
                re.IGNORECASE | re.DOTALL,
            )
            if im:
                skip_indexes.append(
                    {
                        "name": im.group(1),
                        "expr": " ".join(im.group(2).split()),
                        "kind": im.group(3),
                        "granularity": int(im.group(4) or 1),
                    }
                )
                continue
            cm = re.match(r"(\w+)\s+(.+)$", coldef, re.DOTALL)
            if not cm:
                raise NotImplementedError(f"unparseable column definition {coldef!r}")
            cname, rest = cm.group(1), cm.group(2).strip()
            # split DEFAULT/MATERIALIZED/ALIAS/CODEC/COMMENT tails off the
            # type expression. DEFAULT -> read-path fill (same mechanism as
            # ADD COLUMN DEFAULT); MATERIALIZED -> computed at insert,
            # stored; ALIAS -> computed at read, never stored; CODEC/
            # COMMENT/TTL are storage hints and drop.
            parts = re.split(
                r"\s+(DEFAULT|MATERIALIZED|ALIAS|CODEC|COMMENT|TTL)\s", rest, flags=re.IGNORECASE
            )
            for pi in range(1, len(parts) - 1, 2):
                kw = parts[pi].upper()
                if kw == "DEFAULT":
                    column_defaults[cname] = parts[pi + 1].strip()
                elif kw == "MATERIALIZED":
                    column_materialized[cname] = parts[pi + 1].strip()
                elif kw == "ALIAS":
                    column_aliases[cname] = {
                        "expr": parts[pi + 1].strip(),
                        "type": parts[0].strip(),
                    }
                else:
                    continue
                break
            rest = parts[0]
            if cname in column_aliases:
                continue  # ALIAS columns are virtual: never in the stored schema
            dt, nullable = parse_ch_type(rest)
            # AggregateFunction(fn, T) columns carry their merge discipline
            # as field metadata — _merge_collapse reads it to pick the
            # per-column combine (hll_union_agg / sum / min / ...)
            am = re.match(r"AggregateFunction\s*\((.*)\)\s*$", rest.strip(), re.IGNORECASE | re.DOTALL)
            # ch_type keeps the verbatim CH spelling so SHOW CREATE can
            # round-trip it (the Spark storage type alone can't)
            meta = (
                {"ch_agg": parse_ch_agg_type(am.group(1))[0], "ch_type": rest.strip()}
                if am
                else None
            )
            fields.append(T.StructField(cname, dt, nullable, metadata=meta))

        partition_column = None
        pm = re.search(r"PARTITION\s+BY\s+toYYYYMMDDhh\((\w+)\)", tail, re.IGNORECASE)
        if pm:
            if pm.group(1) != "event_time":
                raise NotImplementedError(
                    "hourly partitioning is wired to event_time (the reference's "
                    "only partition expression, create_local.sql:18)"
                )
            partition_column = "event_hour"
        elif re.search(r"PARTITION\s+BY", tail, re.IGNORECASE):
            raise NotImplementedError("only PARTITION BY toYYYYMMDDhh(...) is supported")

        order_columns: list[str] = []
        om = re.search(r"ORDER\s+BY\s+\(([^)]*)\)", tail, re.IGNORECASE)
        if om:
            order_columns = [c.strip() for c in om.group(1).split(",")]
        else:
            # CH also accepts a bare key: ORDER BY col  /  ORDER BY tuple().
            # A bare word followed by a non-empty "(...)" is an EXPRESSION
            # key (ORDER BY intDiv(ts, 3600)) — reject it explicitly rather
            # than silently treating the function name as a column.
            om = re.search(r"ORDER\s+BY\s+(\w+)\s*(\(\s*[^)]*?\s*\))?", tail, re.IGNORECASE)
            if om:
                word, parens = om.group(1), om.group(2)
                if parens is not None and parens.strip("() \t\n"):
                    raise NotImplementedError(
                        f"expression ORDER BY keys are not supported: "
                        f"ORDER BY {word}{parens}"
                    )
                if word.lower() != "tuple":
                    order_columns = [word]

        ttl = None
        tm = re.search(r"\bTTL\s+(.+?)(?=\s+SETTINGS\b|$)", tail, re.IGNORECASE | re.DOTALL)
        if tm:
            ttl = " ".join(tm.group(1).split())

        sample_by = None
        sbm = re.search(r"\bSAMPLE\s+BY\s+(\w+)", tail, re.IGNORECASE)
        if sbm:
            sample_by = sbm.group(1)

        settings: dict[str, int] = {}
        sm = re.search(r"SETTINGS\s+(.*)$", tail, re.IGNORECASE | re.DOTALL)
        if sm:
            for part in _split_top(sm.group(1)):
                k, v = part.split("=")
                settings[k.strip()] = int(v.strip())
        if partition_column == "event_hour":
            # hourly partitioning: a daily-horizon batch touches ≤24 values;
            # lets the writer size its shuffle to the key cardinality
            settings.setdefault("partition_buckets", 24)
        if column_defaults:
            settings["column_defaults"] = column_defaults
        if column_materialized:
            settings["column_materialized"] = column_materialized
        if column_aliases:
            settings["column_aliases"] = column_aliases

        return {
            "op": "create",
            "name": name,
            "if_not_exists": if_not_exists,
            "schema": T.StructType(fields),
            "partition_column": partition_column,
            "order_columns": order_columns,
            "settings": settings,
            "ttl": ttl,
            "engine": engine,
            "sample_by": sample_by,
            "skip_indexes": skip_indexes,
        }

    return None


# -- projections -------------------------------------------------------------


def parse_projection_select(sel: str) -> dict:
    """Parse a projection definition's SELECT into a routable spec.

    Two ClickHouse projection kinds:
    - **aggregate** (has GROUP BY): items are the group keys plus
      count/sum/min/max aggregates — stored pre-aggregated per block, so
      readers must merge partials (count→sum of partial counts, sum→sum,
      min→min, max→max: all decomposable aggregates).
    - **sort** (no GROUP BY): a column subset re-sorted by ORDER BY — the
      win at scale is row-group pruning on the new sort key.

    Raises NotImplementedError on anything outside that surface (loud, not
    silently ignored — the projection would otherwise never route).
    """
    m = re.match(
        r"SELECT\s+(.+?)(?:\s+GROUP\s+BY\s+([\w\s,]+?))?(?:\s+ORDER\s+BY\s+([\w\s,]+?))?\s*$",
        sel.strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise NotImplementedError(f"unparseable projection SELECT: {sel!r}")
    items_src, group_src, order_src = m.group(1), m.group(2), m.group(3)
    keys = [k.strip() for k in group_src.split(",")] if group_src else []
    order = [k.strip() for k in order_src.split(",")] if order_src else []
    cols: list[str] = []
    aggs: list[tuple[str, str, str]] = []  # (fn, arg, out_column)
    for item in _split_top(items_src):
        if re.fullmatch(r"\w+", item):
            cols.append(item)
            continue
        am = re.fullmatch(
            r"(count|sum|min|max)\s*\(\s*(\*|\w*)\s*\)(?:\s+AS\s+(\w+))?",
            item,
            re.IGNORECASE,
        )
        if not am:
            raise NotImplementedError(
                f"projection item {item!r} is outside the supported surface "
                "(bare columns and count/sum/min/max aggregates)"
            )
        fn = am.group(1).lower()
        arg = am.group(2) if am.group(2) not in ("", "*") else "*"
        out = am.group(3) or ("cnt" if fn == "count" else f"{fn}_{arg}")
        aggs.append((fn, arg, out))
    if keys:
        for c in cols:
            if c not in keys:
                raise NotImplementedError(
                    f"projection column {c!r} is not a GROUP BY key"
                )
        if not aggs:
            raise NotImplementedError("aggregate projection needs at least one aggregate")
        return {"kind": "agg", "keys": keys, "aggs": aggs, "order": order or keys}
    if aggs:
        raise NotImplementedError("aggregates in a projection require GROUP BY")
    if not cols:
        raise NotImplementedError("projection needs at least one column")
    for o in order:
        if o not in cols:
            raise NotImplementedError(f"projection ORDER BY {o!r} not in its columns")
    return {"kind": "sort", "cols": cols, "order": order or cols}


def render_projection_mv_select(spec: dict, table: str) -> str:
    """The maintenance SELECT for a projection's hidden backing table."""
    if spec["kind"] == "agg":
        parts = list(spec["keys"]) + [
            f"{fn}({'*' if arg == '*' else arg}) AS {out}" for fn, arg, out in spec["aggs"]
        ]
        return (
            f"SELECT {', '.join(parts)} FROM {table} GROUP BY {', '.join(spec['keys'])}"
        )
    return f"SELECT {', '.join(spec['cols'])} FROM {table}"


_SQL_WORD_WHITELIST = {
    "AND", "OR", "NOT", "IN", "LIKE", "BETWEEN", "IS", "NULL", "TRUE", "FALSE",
}


def predicate_identifiers(pred: str) -> set[str]:
    """Bare identifier tokens of a predicate, minus string literals and SQL
    keywords — used to decide whether a WHERE touches only projection
    columns. Conservative: any function call marks its name too, so an
    unknown function fails the subset check and routing is skipped."""
    code = _OPAQUE_RE.sub(" ", pred)
    return {w for w in re.findall(r"[A-Za-z_]\w*", code) if w.upper() not in _SQL_WORD_WHITELIST}



# -- vocab batch 27c (round 10, probe wave 27c): State/Merge grid, bitmap
# subset ops, remaining statistics, server introspection ---------------------


def _pm_bitmap_subset_in_range(args: list[str]) -> str:
    """bitmapSubsetInRange(bm, start, end) — values in [start, end)."""
    if len(args) != 3:
        raise NotImplementedError("bitmapSubsetInRange expects (bitmap, start, end)")
    bm, lo, hi = args
    return f"filter({bm}, __bs_v -> __bs_v >= ({lo}) AND __bs_v < ({hi}))"


def _pm_bitmap_subset_limit(args: list[str]) -> str:
    """bitmapSubsetLimit(bm, start, limit) — the `limit` smallest values
    >= start (the bitmap is sorted by construction)."""
    if len(args) != 3:
        raise NotImplementedError("bitmapSubsetLimit expects (bitmap, start, limit)")
    bm, lo, lim = args
    return f"slice(filter({bm}, __bs_v -> __bs_v >= ({lo})), 1, CAST({lim} AS INT))"


def _pm_bitmap_transform(args: list[str]) -> str:
    """bitmapTransform(bm, from_arr, to_arr) — replace values found in
    from_arr with the matching to_arr element; result re-normalized to a
    sorted distinct set (it is a bitmap)."""
    if len(args) != 3:
        raise NotImplementedError("bitmapTransform expects (bitmap, from, to)")
    bm, frm, to = args
    return (
        f"array_sort(array_distinct(transform({bm}, __bt_v -> "
        f"CASE WHEN array_position({frm}, __bt_v) > 0 "
        f"THEN element_at({to}, CAST(array_position({frm}, __bt_v) AS INT)) "
        f"ELSE __bt_v END)))"
    )


def _pm_group_bitmap_and(args: list[str]) -> str:
    """groupBitmapAnd(bm) → CARDINALITY of the intersection of all group
    bitmaps (the CH return contract). Fold over the collected bitmaps;
    empty group → 0."""
    if len(args) != 1:
        raise NotImplementedError("groupBitmapAnd expects one bitmap expression")
    bm = args[0]
    fold = (
        f"aggregate(collect_list({bm}), CAST(NULL AS ARRAY<BIGINT>), "
        f"(__gb_a, __gb_x) -> CASE WHEN __gb_a IS NULL THEN __gb_x "
        f"ELSE array_intersect(__gb_a, __gb_x) END)"
    )
    return f"coalesce(size({fold}), 0)"


def _pm_group_bitmap_or(args: list[str]) -> str:
    if len(args) != 1:
        raise NotImplementedError("groupBitmapOr expects one bitmap expression")
    return f"size(array_distinct(flatten(collect_list({args[0]}))))"


def _pm_group_bitmap_xor(args: list[str]) -> str:
    """groupBitmapXor: symmetric-difference fold → cardinality."""
    if len(args) != 1:
        raise NotImplementedError("groupBitmapXor expects one bitmap expression")
    fold = (
        f"aggregate(collect_list({args[0]}), CAST(array() AS ARRAY<BIGINT>), "
        f"(__gb_a, __gb_x) -> array_sort(concat("
        f"array_except(__gb_a, __gb_x), array_except(__gb_x, __gb_a))))"
    )
    return f"size({fold})"


def _pm_finalize_aggregation(args: list[str]) -> str:
    """finalizeAggregation(fState(args)) == f(args). The regex -State
    rewrites run BEFORE this parametric pass, so the argument arrives in
    one of three shapes: a still-literal fState(...) (the parametric
    states — strip the suffix and let the fixpoint resolve the direct
    aggregate), the avg (sum, count) struct (finish = s/c), or the uniq
    HLL sketch (finish = estimate). Anything else (sum/min/max/count)
    already IS the final value — identity."""
    if len(args) != 1:
        raise NotImplementedError("finalizeAggregation expects one state expression")
    arg = args[0]
    m = re.search(r"\b([A-Za-z0-9_]+)State\s*\(", arg)
    if m:
        # bases whose direct spelling is a REGEX rewrite (that pass has
        # already run) map straight to the Spark aggregate
        finish = {
            "uniqexact": "count(DISTINCT ",
            "uniq": "approx_count_distinct(",
            "grouparray": "collect_list(",
            "groupuniqarray": "collect_set(",
            "anylast": "last(",
            "any": "any_value(",
        }
        repl = finish.get(m.group(1).lower(), m.group(1) + "(")
        return arg[: m.start()] + repl + arg[m.end():]
    if "hll_sketch_agg(" in arg:
        return f"hll_sketch_estimate({arg})"
    if re.match(r"\s*named_struct\('s',", arg) or re.match(
        r"\s*initializeAggregation\s*\(\s*'avgState'", arg, re.IGNORECASE
    ):
        return f"try_divide(({arg}).s, ({arg}).c)"
    return f"({arg})"


def _pm_initialize_aggregation(args: list[str]) -> str:
    """initializeAggregation('fState', v) → the state of aggregating the
    single value v, for the algebraic states whose state IS the value."""
    if len(args) < 2:
        raise NotImplementedError("initializeAggregation expects ('fState', value, ...)")
    nm = re.fullmatch(r"\s*'(\w+)'\s*", args[0])
    if not nm:
        raise NotImplementedError("initializeAggregation: the state name must be a literal")
    base = nm.group(1).lower()
    v = args[1]
    if base in ("sumstate", "minstate", "maxstate", "anystate", "anyvaluestate"):
        return f"({v})"
    if base == "countstate":
        return "CAST(1 AS BIGINT)"
    if base == "avgstate":
        return f"named_struct('s', CAST({v} AS DOUBLE), 'c', CAST(1 AS BIGINT))"
    raise NotImplementedError(
        f"initializeAggregation: state {args[0]} has no literal form here - "
        "aggregate over a one-row relation instead"
    )


def _moment_state(x: str) -> str:
    """(n, Σx, Σx²) — the algebraic state behind var/stddev State/Merge."""
    xd = f"CAST({x} AS DOUBLE)"
    return (
        f"named_struct('n', CAST(count({x}) AS DOUBLE), "
        f"'s', sum({xd}), 'q', sum({xd} * {xd}))"
    )


def _moment_merge(x: str, pop: bool, sqrt: bool) -> str:
    n = f"sum(({x}).n)"
    s = f"sum(({x}).s)"
    q = f"sum(({x}).q)"
    denom = n if pop else f"({n} - 1)"
    var = f"try_divide({q} - try_divide({s} * {s}, {n}), {denom})"
    return f"sqrt({var})" if sqrt else f"({var})"


def _pm_covar_matrix(fn: str):
    """covarSampMatrix/covarPopMatrix — corrMatrix's expansion with the
    covariance aggregate (diagonal = covar(a, a) = variance)."""

    def rw(args: list[str]) -> str:
        if len(args) < 2:
            raise NotImplementedError("covariance matrices need at least two columns")
        rows = ", ".join(
            "array(" + ", ".join(f"{fn}({a}, {b})" for b in args) + ")"
            for a in args
        )
        return f"array({rows})"

    return rw


def _pm_great_circle_angle(args: list[str]) -> str:
    """greatCircleAngle(lon1, lat1, lon2, lat2) → central angle in DEGREES
    (the haversine central angle, no radius)."""
    if len(args) != 4:
        raise NotImplementedError("greatCircleAngle: expected (lon1, lat1, lon2, lat2)")
    lon1, lat1, lon2, lat2 = args
    return (
        f"degrees(2.0D * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def _pm_random_chars(base: int, span: int, note: str):
    """Deterministic-free random text: one char per sequence position from
    xxhash64(uuid(), i) — `note` documents the charset contract."""

    def rw(args: list[str]) -> str:
        if len(args) != 1:
            raise NotImplementedError(f"expected (length) - {note}")
        n = args[0]
        return (
            f"(CASE WHEN CAST({n} AS INT) <= 0 THEN '' ELSE "
            f"array_join(transform(sequence(1, CAST({n} AS INT)), __rc_i -> "
            f"chr({base} + pmod(xxhash64(uuid(), __rc_i), {span}))), '') END)"
        )

    return rw


_PARAMETRIC.update(
    {
        "bitmapSubsetInRange": _pm_bitmap_subset_in_range,
        "bitmapSubsetLimit": _pm_bitmap_subset_limit,
        "bitmapTransform": _pm_bitmap_transform,
        "groupBitmapAnd": _pm_group_bitmap_and,
        "groupBitmapOr": _pm_group_bitmap_or,
        "groupBitmapXor": _pm_group_bitmap_xor,
        "finalizeAggregation": _pm_finalize_aggregation,
        "initializeAggregation": _pm_initialize_aggregation,
        # State/Merge grid completion (the AggregatingMergeTree discipline;
        # sum/min/max/count/avg/uniq live in the regex section)
        "uniqExactState": _pm_1arg("collect_set({x})"),
        "uniqExactMerge": _pm_1arg(
            "size(array_distinct(flatten(collect_list({x}))))"
        ),
        "groupArrayState": _pm_1arg("collect_list({x})"),
        "groupArrayMerge": _pm_1arg("flatten(collect_list({x}))"),
        "argMaxState": _pm_2arg("named_struct('a', max_by({f}, {a}), 'k', max({a}))"),
        "argMaxMerge": _pm_1arg("max_by(({x}).a, ({x}).k)"),
        "argMinState": _pm_2arg("named_struct('a', min_by({f}, {a}), 'k', min({a}))"),
        "argMinMerge": _pm_1arg("min_by(({x}).a, ({x}).k)"),
        "varSampState": lambda a: _moment_state(_one(a, "varSampState")),
        "varPopState": lambda a: _moment_state(_one(a, "varPopState")),
        "stddevSampState": lambda a: _moment_state(_one(a, "stddevSampState")),
        "stddevPopState": lambda a: _moment_state(_one(a, "stddevPopState")),
        "varSampMerge": lambda a: _moment_merge(_one(a, "varSampMerge"), False, False),
        "varPopMerge": lambda a: _moment_merge(_one(a, "varPopMerge"), True, False),
        "stddevSampMerge": lambda a: _moment_merge(
            _one(a, "stddevSampMerge"), False, True
        ),
        "stddevPopMerge": lambda a: _moment_merge(
            _one(a, "stddevPopMerge"), True, True
        ),
        # covariance matrices (corrMatrix's expansion)
        "covarSampMatrix": _pm_covar_matrix("covar_samp"),
        "covarPopMatrix": _pm_covar_matrix("covar_pop"),
        "greatCircleAngle": _pm_great_circle_angle,
        "toLowCardinality": _pm_1arg("({x})"),  # an encoding hint, not a type
        # random text: printable-charset contract (CH randomString emits
        # arbitrary BYTES — unrepresentable in a UTF-8 string column;
        # documented deviation), UTF8 form emits CJK code points
        "randomPrintableASCII": _pm_random_chars(32, 95, "randomPrintableASCII"),
        "randomString": _pm_random_chars(32, 95, "randomString (printable deviation)"),
        "randomFixedString": _pm_random_chars(32, 95, "randomFixedString (printable)"),
        "randomStringUTF8": _pm_random_chars(19968, 20902, "randomStringUTF8"),
        # access control does not exist here: the truthful answers
        "currentProfiles": lambda a: "CAST(array() AS ARRAY<STRING>)",
        "currentRoles": lambda a: "CAST(array() AS ARRAY<STRING>)",
        "enabledProfiles": lambda a: "CAST(array() AS ARRAY<STRING>)",
        "enabledRoles": lambda a: "CAST(array() AS ARRAY<STRING>)",
        "defaultProfiles": lambda a: "CAST(array() AS ARRAY<STRING>)",
        "defaultRoles": lambda a: "CAST(array() AS ARRAY<STRING>)",
        "currentSchemas": lambda a: "array(current_database())",
        # CH's display_name defaults to the hostname (hostName's regex
        # rewrite has already run by this pass — inline the same constant)
        "displayName": lambda a: "'" + _socket.gethostname().replace("'", "") + "'",
        # server/fs introspection without an equivalent: loud gates
        "revision": _pm_gate(
            "revision", "there is no ClickHouse build revision here - "
            "version() returns the engine version string"
        ),
        "zookeeperSessionUptime": _pm_gate(
            "zookeeperSessionUptime", "no ZooKeeper in this engine"
        ),
        "transactionID": _pm_gate(
            "transactionID", "CH experimental transactions do not exist here"
        ),
        "showCertificate": _pm_gate(
            "showCertificate", "no TLS termination inside the engine"
        ),
        "filesystemCapacity": _pm_gate(
            "filesystemCapacity", "filesystem stats are a deployment "
            "concern - query the storage layer directly"
        ),
        "filesystemAvailable": _pm_gate(
            "filesystemAvailable", "filesystem stats are a deployment "
            "concern - query the storage layer directly"
        ),
        "filesystemUnreserved": _pm_gate(
            "filesystemUnreserved", "filesystem stats are a deployment "
            "concern - query the storage layer directly"
        ),
        "generateRandomStructure": _pm_gate(
            "generateRandomStructure", "schema fuzzing is out of scope - "
            "generateRandom('explicit schema') is implemented"
        ),
        "formatRow": _pm_gate(
            "formatRow", "per-row format rendering is a client concern - "
            "Spark's to_csv(struct(...)) / to_json(struct(...)) cover the "
            "common cases (quoting rules differ from CH's)"
        ),
        "formatRowNoNewline": _pm_gate(
            "formatRowNoNewline", "per-row format rendering is a client "
            "concern - Spark's to_csv(struct(...)) / to_json(struct(...))"
        ),
        "geohashesInBox": _pm_gate(
            "geohashesInBox", "grid enumeration is not shimmed - enumerate "
            "the box with sequence() + geohashEncode (implemented)"
        ),
        "geoToH3": _pm_gate(
            "geoToH3", "the h3 library is not available in this "
            "environment - use geohashEncode for cell bucketing"
        ),
        "h3ToGeo": _pm_gate(
            "h3ToGeo", "the h3 library is not available in this "
            "environment - use geohashDecode for cell centers"
        ),
        "stringToH3": _pm_gate(
            "stringToH3", "the h3 library is not available in this "
            "environment - use geohashEncode for cell bucketing"
        ),
        "h3ToString": _pm_gate(
            "h3ToString", "the h3 library is not available in this "
            "environment - use geohashEncode for cell bucketing"
        ),
    }
)


def _one(args: list[str], name: str) -> str:
    if len(args) != 1:
        raise NotImplementedError(f"{name} expects one expression")
    return args[0]


def _pm_accurate_cast_or_default(args: list[str]) -> str:
    """accurateCastOrDefault(x, 'T', default) → coalesce over the
    range-guarded try_cast (accurateCastOrNull's machinery)."""
    if len(args) != 3:
        raise NotImplementedError(
            "accurateCastOrDefault expects (value, 'Type', default) - the "
            "2-arg type-zero form is the to<T>OrZero family"
        )
    inner = _pm_accurate_cast_or_null(args[:2])
    return f"coalesce({inner}, {args[2]})"


_PARAMETRIC["accurateCastOrDefault"] = _pm_accurate_cast_or_default


def _pm2_student_ttest_one_sample(params: list[str] | None, args: list[str]) -> str:
    """studentTTestOneSample(popmean)(x) → (t_statistic, p_value): one
    sample against a population mean, algebraic moments + the same
    incomplete-beta p as the two-sample test."""
    if params is None or len(params) != 1 or len(args) != 1:
        raise NotImplementedError(
            "studentTTestOneSample needs the (population_mean)(sample) form"
        )
    mu, x = params[0], args[0]
    n = f"CAST(count({x}) AS DOUBLE)"
    t = (
        f"try_divide(avg(CAST({x} AS DOUBLE)) - ({mu}), "
        f"sqrt(try_divide(var_samp(CAST({x} AS DOUBLE)), {n})))"
    )
    return (
        f"named_struct('t_statistic', {t}, "
        f"'p_value', chStudentTP({t}, {n} - 1))"
    )


def _pm2_quantile_state(params: list[str] | None, args: list[str]) -> str:
    """quantileState(p)(x) → the collected value list (exact state — a
    valid superset of CH's sketch state, the documented quantile
    deviation). The level parameter rides in quantileMerge."""
    if len(args) != 1:
        raise NotImplementedError("quantileState needs the (level)(x) form")
    return f"collect_list(CAST({args[0]} AS DOUBLE))"


def _pm2_quantile_merge(params: list[str] | None, args: list[str]) -> str:
    """quantileMerge(p)(state) → exact R-7 interpolated percentile over
    the merged value lists (== Spark's percentile() plotting position)."""
    if params is None or len(params) != 1 or len(args) != 1:
        raise NotImplementedError("quantileMerge needs the (level)(state) form")
    p, s = params[0], args[0]
    body = (
        f"CASE WHEN size(__qm_a) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE element_at(__qm_a, CAST(floor((size(__qm_a) - 1) * ({p})) AS INT) + 1) "
        f"+ ((size(__qm_a) - 1) * ({p}) - floor((size(__qm_a) - 1) * ({p}))) "
        f"* (element_at(__qm_a, least(CAST(floor((size(__qm_a) - 1) * ({p})) AS INT) + 2, "
        f"size(__qm_a))) "
        f"- element_at(__qm_a, CAST(floor((size(__qm_a) - 1) * ({p})) AS INT) + 1)) END"
    )
    return (
        f"element_at(transform(array(array_sort(flatten(collect_list({s})))), "
        f"__qm_a -> {body}), 1)"
    )


def _pm2_gate_param(name: str, recipe: str):
    def rw(params, args):
        raise NotImplementedError(f"{name} is not shimmed - {recipe}")

    return rw


_PARAMETRIC2.update(
    {
        "studentTTestOneSample": _pm2_student_ttest_one_sample,
        "quantileState": _pm2_quantile_state,
        "quantileMerge": _pm2_quantile_merge,
        "stochasticLinearRegression": _pm2_gate_param(
            "stochasticLinearRegression",
            "SGD state depends on row arrival order - "
            "simpleLinearRegression (exact closed form) is implemented",
        ),
        "stochasticLogisticRegression": _pm2_gate_param(
            "stochasticLogisticRegression",
            "SGD state depends on row arrival order - the exact-GD "
            "classifier (operators/classifier.py) is the trained surface",
        ),
        "sequenceMatchEvents": _pm2_gate_param(
            "sequenceMatchEvents",
            "matched-event timestamp extraction is not shimmed - "
            "sequenceMatch/sequenceCount cover the predicate surface",
        ),
    }
)



# -- vocab batch 27d (round 10, probe wave 27d): Resample combinator, map
# aliases, sub-second date arithmetic, typed JSONExtract ---------------------


def _pm2_resample(base: str):
    """countResample(start, end, step)(key) / sum|min|max|avgResample
    (start, end, step)(value, key) -> one array entry per [b, b+step)
    bucket (the CH -Resample combinator). Integer literal bounds only;
    per-group state is the collected (key, value) list - the same bound
    CH's resample state carries."""

    def rw(params, args):
        if params is None or len(params) != 3:
            raise NotImplementedError(
                f"{base}Resample needs the (start, end, step)(...) form"
            )
        lo, hi, step = params
        for pval in (lo, hi, step):
            if not re.fullmatch(r"\s*-?\d+\s*", pval):
                raise NotImplementedError(
                    f"{base}Resample: start/end/step must be integer literals"
                )
        lo_i, hi_i, step_i = int(lo), int(hi), int(step)
        if step_i <= 0:
            raise NotImplementedError(
                f"{base}Resample: step must be a positive integer"
            )
        if hi_i <= lo_i:
            # CH yields an empty result; Spark's sequence() would throw.
            # filter(array(agg), false) keeps this an aggregate expression
            # with the right element type.
            elem = (
                "CAST(count(1) AS BIGINT)"
                if base == "count"
                else "CAST(count(1) AS DOUBLE)"
            )
            return f"filter(array({elem}), __rs_x -> false)"
        # CH restricts keys to [start, end): the LAST bucket clamps at end
        # when step does not divide (end - start)
        upper = f"least(__rs_b + {step_i}, {hi_i})"
        buckets = f"sequence({lo_i}L, {hi_i - 1}L, {step_i}L)"
        if base == "count":
            if len(args) != 1:
                raise NotImplementedError("countResample takes (key)")
            lst = f"collect_list(CAST({args[0]} AS BIGINT))"
            per = (
                f"size(filter({lst}, __rs_v -> "
                f"__rs_v >= __rs_b AND __rs_v < {upper}))"
            )
        else:
            if len(args) != 2:
                raise NotImplementedError(f"{base}Resample takes (value, key)")
            v, key = args
            lst = (
                f"collect_list(CASE WHEN ({key}) IS NOT NULL AND ({v}) IS NOT NULL "
                f"THEN named_struct('k', CAST({key} AS BIGINT), "
                f"'v', CAST({v} AS DOUBLE)) END)"
            )
            flt = (
                f"filter({lst}, __rs_e -> "
                f"__rs_e.k >= __rs_b AND __rs_e.k < {upper})"
            )
            vals = f"transform({flt}, __rs_e -> __rs_e.v)"
            if base == "sum":
                per = (
                    f"aggregate({flt}, CAST(0.0 AS DOUBLE), "
                    f"(__rs_a, __rs_e) -> __rs_a + __rs_e.v)"
                )
            elif base == "min":
                per = f"array_min({vals})"
            elif base == "max":
                per = f"array_max({vals})"
            else:  # avg
                per = (
                    f"try_divide(aggregate({flt}, CAST(0.0 AS DOUBLE), "
                    f"(__rs_a, __rs_e) -> __rs_a + __rs_e.v), size({flt}))"
                )
        return f"transform({buckets}, __rs_b -> {per})"

    return rw


_JSON_EXTRACT_TYPES = {
    "Int8": "INT", "Int16": "INT", "Int32": "INT", "Int64": "BIGINT",
    "UInt8": "INT", "UInt16": "INT", "UInt32": "BIGINT", "UInt64": "BIGINT",
    "Float32": "FLOAT", "Float64": "DOUBLE", "Bool": "BOOLEAN",
}


def _pm_json_extract_typed(args: list[str]) -> str:
    """JSONExtract(json, key, 'Type') -> typed get_json_object cast.
    Literal string key + scalar type only (nested paths and composite
    types are refused with the JSONExtractRaw recipe)."""
    if len(args) != 3:
        raise NotImplementedError(
            "JSONExtract is shimmed for the (json, key, 'Type') form - "
            "deeper paths: JSONExtractRaw then parse"
        )
    j, key, ty = args
    km = re.fullmatch(r"\s*'([^']*)'\s*", key)
    tm = re.fullmatch(r"\s*'(\w+)'\s*", ty)
    if not km or not tm:
        raise NotImplementedError(
            "JSONExtract needs a literal string key and type name"
        )
    if not re.fullmatch(r"[A-Za-z0-9_ -]+", km.group(1)):
        # '.', '[', '*', '$' would be read as JSONPath syntax by
        # get_json_object and silently address a different member
        raise NotImplementedError(
            "JSONExtract key must be a plain member name ([A-Za-z0-9_ -]+) "
            "- JSONPath metacharacters would address a different member; "
            "use JSONExtractRaw and parse for exotic keys"
        )
    raw = f"get_json_object({j}, '$.{km.group(1)}')"
    if tm.group(1) == "String":
        return raw
    if tm.group(1) not in _JSON_EXTRACT_TYPES:
        raise NotImplementedError(
            f"JSONExtract: type {ty} is not shimmed - supported: "
            f"{sorted(_JSON_EXTRACT_TYPES)} and String"
        )
    return f"CAST({raw} AS {_JSON_EXTRACT_TYPES[tm.group(1)]})"


_PARAMETRIC.update(
    {
        # CH aliases of the (keys[], values[]) map-aggregate form
        "sumMappedArrays": _pm_map_agg("sum"),
        "minMappedArrays": _pm_map_agg("min"),
        "maxMappedArrays": _pm_map_agg("max"),
        # sub-second starts: Spark timestamps are fixed microseconds
        "toStartOfMicrosecond": _pm_1arg("({x})"),
        "toStartOfNanosecond": _pm_1arg("({x})"),  # micros floor, documented
        "toStartOfMillisecond": _pm_1arg("timestamp_millis(unix_millis({x}))"),
        # floor division, not `div` (truncate-toward-zero): pre-epoch
        # negative nanos must land on the earlier microsecond, matching
        # the documented micros-floor of toStartOfNanosecond
        "fromUnixTimestamp64Nano": _pm_1arg(
            "timestamp_micros((CAST({x} AS BIGINT) - "
            "pmod(CAST({x} AS BIGINT), 1000)) div 1000)"
        ),
        "fromUnixTimestamp64Micro": _pm_1arg("timestamp_micros(CAST({x} AS BIGINT))"),
        "dateTime64ToSnowflakeID": _pm_1arg("shiftleft(unix_millis({x}), 22)"),
        "dateTime64ToSnowflake": _pm_1arg(
            "shiftleft(unix_millis({x}) - 1288834974657, 22)"
        ),
        # integer micros arithmetic — emitting Spark's timestampadd() would
        # re-match the CH timestampAdd handler forever (the unhex fixpoint
        # trap: the scan is case-insensitive and name-keyed)
        "addMilliseconds": _pm_2arg(
            "timestamp_micros(unix_micros({f}) + CAST({a} AS BIGINT) * 1000)"
        ),
        "subtractMilliseconds": _pm_2arg(
            "timestamp_micros(unix_micros({f}) - CAST({a} AS BIGINT) * 1000)"
        ),
        "addMicroseconds": _pm_2arg(
            "timestamp_micros(unix_micros({f}) + CAST({a} AS BIGINT))"
        ),
        "subtractMicroseconds": _pm_2arg(
            "timestamp_micros(unix_micros({f}) - CAST({a} AS BIGINT))"
        ),
        "addNanoseconds": _pm_gate(
            "addNanoseconds",
            "timestamps here are microsecond precision - addMicroseconds "
            "covers the representable range",
        ),
        "subtractNanoseconds": _pm_gate(
            "subtractNanoseconds",
            "timestamps here are microsecond precision - "
            "subtractMicroseconds covers the representable range",
        ),
        "JSONExtract": _pm_json_extract_typed,
        "addInterval": _pm_gate(
            "addInterval",
            "CH's interval-tuple arithmetic has no Spark type - chain "
            "additions on the date directly (addTupleOfIntervals is "
            "implemented for literal tuples)",
        ),
        "subtractInterval": _pm_gate(
            "subtractInterval",
            "CH's interval-tuple arithmetic has no Spark type - chain "
            "subtractions on the date directly",
        ),
        "JSONExtractKeysAndValuesRaw": _pm_gate(
            "JSONExtractKeysAndValuesRaw",
            "dynamic key enumeration with raw values is not shimmed - "
            "JSONExtractKeys + JSONExtractRaw per key",
        ),
    }
)

_PARAMETRIC2.update(
    {
        "countResample": _pm2_resample("count"),
        "sumResample": _pm2_resample("sum"),
        "minResample": _pm2_resample("min"),
        "maxResample": _pm2_resample("max"),
        "avgResample": _pm2_resample("avg"),
    }
)


# -- vocab batch 28 (round 11, probe wave 28): the -ArgMin/-ArgMax
# combinator family, port(), tupleNames gate ---------------------------------


def _pm_arg_extremum(base: str, is_min: bool):
    """<base>ArgMin/ArgMax(value, key): the CH combinator — the base
    aggregate over ONLY the rows whose key attains the group extremum.
    The extremum is taken over non-NULL keys; NULL values are then skipped
    by the base aggregate (the CH aggregate-NULL convention). 'any'
    answers deterministically with the MINIMUM qualifying value (the same
    rule as the documented argMax collision policy); sum/avg cast to
    DOUBLE (the dialect's combinator convention, as in -Resample)."""
    name = f"{base}Arg{'Min' if is_min else 'Max'}"

    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError(f"{name} takes (value, key)")
        v, k = args
        ext = f"{'array_min' if is_min else 'array_max'}(collect_list({k}))"
        pairs = (
            f"collect_list(CASE WHEN ({k}) IS NOT NULL THEN "
            f"named_struct('v', {v}, 'k', {k}) END)"
        )
        vals = (
            f"transform(filter({pairs}, __ae_p -> __ae_p.k <=> {ext} "
            f"AND __ae_p.v IS NOT NULL), __ae_p -> __ae_p.v)"
        )
        if base == "sum":
            return (
                f"aggregate({vals}, CAST(0.0 AS DOUBLE), "
                f"(__ae_a, __ae_x) -> __ae_a + CAST(__ae_x AS DOUBLE))"
            )
        if base == "avg":
            return (
                f"try_divide(aggregate({vals}, CAST(0.0 AS DOUBLE), "
                f"(__ae_a, __ae_x) -> __ae_a + CAST(__ae_x AS DOUBLE)), "
                f"size({vals}))"
            )
        if base == "count":
            return f"CAST(size({vals}) AS BIGINT)"
        if base in ("min", "any"):
            return f"array_min({vals})"
        return f"array_max({vals})"

    return rw


def _pm_port(args: list[str]) -> str:
    """port(url[, default]) — the numeric port from the URL authority,
    else the default (0). parse_url yields NULL on unparseable input,
    which also falls to the default — CH's 0-on-unparseable behavior."""
    if len(args) not in (1, 2):
        raise NotImplementedError("port takes (url[, default_port])")
    url = args[0]
    default = args[1] if len(args) == 2 else "0"
    return (
        f"CAST(coalesce(nullif(regexp_extract(parse_url({url}, 'AUTHORITY'), "
        f"':([0-9]+)$', 1), ''), CAST(({default}) AS STRING)) AS INT)"
    )


_PARAMETRIC.update(
    {
        "port": _pm_port,
        "tupleNames": _pm_gate(
            "tupleNames",
            "struct-field introspection is not available to the textual "
            "layer - SELECT the fields you need by name",
        ),
        **{
            f"{b}Arg{d}": _pm_arg_extremum(b, d == "Min")
            for b in ("sum", "min", "max", "avg", "count", "any")
            for d in ("Min", "Max")
        },
        # -- wave 28b ---------------------------------------------------
        "notILike": _pm_2arg("(NOT ilike({f}, {a}))"),
        "randLogNormal": _pm_2arg_fa("exp(randn() * ({a}) + ({f}))"),
        "randChiSquared": _pm_gate(
            "randChiSquared",
            "no closed-form transform of a uniform; "
            "randUniform/randNormal/randExponential/randLogNormal are "
            "implemented",
        ),
        "randStudentT": _pm_gate(
            "randStudentT",
            "no closed-form transform of a uniform; "
            "randUniform/randNormal/randExponential/randLogNormal are "
            "implemented",
        ),
        "randFisherF": _pm_gate(
            "randFisherF",
            "no closed-form transform of a uniform; "
            "randUniform/randNormal/randExponential/randLogNormal are "
            "implemented",
        ),
        # single-engine: the local session is shard 1 of 1 (same
        # convention as the Distributed alias routing)
        "shardNum": lambda args: "CAST(1 AS INT)",
        "shardCount": lambda args: "CAST(1 AS INT)",
        # CH's column-type introspection collapses to the data type here
        # (no LowCardinality/Const wrappers exist in Spark)
        "toColumnTypeName": _pm_1arg("typeof({x})"),
        "sqidEncode": _pm_gate(
            "sqidEncode",
            "the Sqids alphabet-shuffling codec needs the sqids library, "
            "not available in this environment",
        ),
        "sqidDecode": _pm_gate(
            "sqidDecode",
            "the Sqids alphabet-shuffling codec needs the sqids library, "
            "not available in this environment",
        ),
        # Spark's date_format IS the Java/Joda pattern dialect (the r9
        # formatDateTimeInJodaSyntax note)
        "fromUnixTimestampInJodaSyntax": _pm_2arg(
            "date_format(timestamp_seconds(CAST({f} AS BIGINT)), {a})"
        ),
        # CH: 1-based, negative from the end, 0 or out-of-range -> NULL
        "arrayElementOrNull": _pm_2arg(
            "(CASE WHEN CAST(({a}) AS INT) = 0 THEN NULL "
            "ELSE try_element_at({f}, CAST(({a}) AS INT)) END)"
        ),
        "lemmatize": _pm_gate(
            "lemmatize",
            "needs a lemmatizer dictionary, not available in this "
            "environment",
        ),
        "synonyms": _pm_gate(
            "synonyms",
            "needs a synonym-extension dictionary, not available in this "
            "environment",
        ),
        "detectLanguage": _pm_gate(
            "detectLanguage",
            "CH's detectLanguage needs its CLD-style model; the engine's "
            "n-gram langid operator (operators/text_analysis.py) is the "
            "language-ID surface",
        ),
        "detectLanguageMixed": _pm_gate(
            "detectLanguageMixed",
            "CH's language detector model is unavailable; "
            "operators/text_analysis.py langid is the surface",
        ),
        "detectCharset": _pm_gate(
            "detectCharset",
            "charset detection model unavailable; strings here are "
            "already unicode",
        ),
    }
)

# -- vocab batch 28c (round 11, third probe wave): encryption family onto
# Spark's aes_encrypt/aes_decrypt, URLHash, geo-IP region gates --------------

_AES_MODES = {"ecb": "ECB", "cbc": "CBC", "gcm": "GCM"}


def _pm_encrypt_family(name: str, decrypt: bool, try_mode: bool = False):
    """encrypt/decrypt/tryDecrypt/aes_*_mysql(mode, input, key[, iv[, aad]])
    onto Spark's native AES expressions. Contract notes (documented):
    - mode must be a literal 'aes-<128|192|256>-<ecb|cbc|gcm>'; CH's
      cfb/ofb/ctr modes have no Spark counterpart and refuse loudly.
    - the declared key width is ENFORCED at runtime (CH refuses mismatched
      keys too; the MySQL variants do NOT fold long keys here — Spark
      validates instead, a documented deviation).
    - ECB ciphertext is bit-compatible with CH (PKCS7). For CBC/GCM Spark
      PREPENDS the IV to the ciphertext where CH does not — round-trips
      within this engine are exact; raw blobs are not portable to a CH
      server. decrypt's iv argument is therefore accepted and ignored
      (Spark reads the IV from the blob prefix this engine's encrypt
      wrote)."""

    def rw(args: list[str]) -> str:
        if not 3 <= len(args) <= 5:
            raise NotImplementedError(f"{name} takes (mode, input, key[, iv[, aad]])")
        mode_lit, data, key = args[0], args[1], args[2]
        m = re.fullmatch(r"\s*'aes-(128|192|256)-([a-z0-9]+)'\s*", mode_lit.strip(), re.IGNORECASE)
        if not m:
            raise NotImplementedError(
                f"{name}: mode must be a literal 'aes-<128|192|256>-<ecb|cbc|gcm>'"
            )
        if m.group(2).lower() not in _AES_MODES:
            raise NotImplementedError(
                f"{name}: only ecb/cbc/gcm map onto Spark's aes functions - "
                f"'{m.group(2)}' is not available"
            )
        nbytes = int(m.group(1)) // 8
        smode = _AES_MODES[m.group(2).lower()]
        keyb = (
            f"(CASE WHEN octet_length(CAST({key} AS BINARY)) = {nbytes} "
            f"THEN CAST({key} AS BINARY) ELSE CAST(raise_error(concat("
            f"'{name}: key must be exactly {nbytes} bytes for {m.group(1)}-bit AES, got ', "
            f"CAST(octet_length(CAST({key} AS BINARY)) AS STRING))) AS BINARY) END)"
        )
        if decrypt:
            fn = "try_aes_decrypt" if try_mode else "aes_decrypt"
            tail = f", '{smode}', 'DEFAULT'"
            if len(args) == 5:  # aad rides through; iv is in the blob prefix
                tail += f", {args[4]}"
            return f"{fn}(CAST({data} AS BINARY), {keyb}{tail})"
        tail = f", '{smode}', 'DEFAULT'"
        if len(args) >= 4:
            tail += f", CAST({args[3]} AS BINARY)"
        if len(args) == 5:
            tail += f", {args[4]}"
        return f"aes_encrypt(CAST({data} AS BINARY), {keyb}{tail})"

    return rw


def _pm_url_hash(args: list[str]) -> str:
    """URLHash(url): same-engine hash (the cityHash64 policy) of the URL
    with trailing /# trimmed — CH's documented normalization."""
    if len(args) == 1:
        return f"xxhash64(regexp_replace({args[0]}, '[/#]+$', ''))"
    raise NotImplementedError(
        "URLHash(url, N) level hashes are not shimmed - compose "
        "xxhash64(element_at(URLPathHierarchy(url), N)) directly"
    )


_PARAMETRIC.update(
    {
        "encrypt": _pm_encrypt_family("encrypt", decrypt=False),
        "decrypt": _pm_encrypt_family("decrypt", decrypt=True),
        "tryDecrypt": _pm_encrypt_family("tryDecrypt", decrypt=True, try_mode=True),
        "aes_encrypt_mysql": _pm_encrypt_family("aes_encrypt_mysql", decrypt=False),
        "aes_decrypt_mysql": _pm_encrypt_family("aes_decrypt_mysql", decrypt=True),
        "URLHash": _pm_url_hash,
        # -- wave 28d: Date32/DateTime64 OrNull/OrZero tails ---------------
        # (scale argument accepted and ignored — Spark timestamps are fixed
        # microseconds, the toDateTime64 convention; OrZero falls to the
        # type's CH zero: 1900-01-01 for Date32, the epoch for DateTime64)
        "toDateTime64OrNull": lambda args: (
            f"try_cast({args[0]} AS TIMESTAMP)"
            if len(args) in (1, 2)
            else (_ for _ in ()).throw(
                NotImplementedError(
                    "toDateTime64OrNull expects (expr[, precision]) - "
                    "timezone arguments are not supported (session is UTC)"
                )
            )
        ),
        "toDateTime64OrZero": lambda args: (
            f"coalesce(try_cast({args[0]} AS TIMESTAMP), timestamp_seconds(0))"
            if len(args) in (1, 2)
            else (_ for _ in ()).throw(
                NotImplementedError(
                    "toDateTime64OrZero expects (expr[, precision]) - "
                    "timezone arguments are not supported (session is UTC)"
                )
            )
        ),
        "toDate32OrNull": _pm_1arg("try_cast({x} AS DATE)"),
        "toDate32OrZero": _pm_1arg(
            "coalesce(try_cast({x} AS DATE), DATE'1900-01-01')"
        ),
        # geo-IP region hierarchy: needs CH's regions_hierarchy files,
        # not available in this environment
        **{
            rname: _pm_gate(
                rname,
                "CH's embedded regions hierarchy files are not available "
                "in this environment - join your own region dimension "
                "table instead",
            )
            for rname in (
                "regionToCity", "regionToArea", "regionToDistrict",
                "regionToCountry", "regionToContinent",
                "regionToTopContinent", "regionToPopulation",
                "regionIn", "regionHierarchy",
            )
        },
    }
)

# ---------------------------------------------------------------------------
# vocab batch 29 (round 11, fifth probe wave, wave 29): 175 of
# 193 probed spellings were already answered — this batch closes every
# remaining UNRESOLVED_ROUTINE fall-through (Julian-day OrNull tails,
# YYYYMMDDToDate32, the URL cut stragglers, IPv4/IPv6 codec tails, the Joda
# parse family) plus the quantileExactWeightedInterpolated parametric miss.
# The wave's two real handler fixes (sequenceMatch/windowFunnel rejecting
# CH's UInt-epoch timestamp columns) live at those handlers.


def _pm_cut_url_parameter(args: list[str]) -> str:
    """CH cutURLParameter(url, name): remove name=value plus ONE adjoining
    separator from the query string (docs golden: '?a=b&c=d' minus 'a' →
    '?c=d'). The name must be a plain string literal of URL-identifier
    chars — an arbitrary expression would be interpolated into a regex
    (the JSONExtract refusal contract)."""
    if len(args) != 2:
        raise NotImplementedError("cutURLParameter expects (url, name)")
    m = re.fullmatch(r"\s*'([A-Za-z0-9_\-]+)'\s*", args[1])
    if not m:
        raise NotImplementedError(
            "cutURLParameter: the parameter name must be a plain string "
            "literal of [A-Za-z0-9_-] chars (the array-of-names and "
            "expression forms are not shimmed - chain scalar calls instead)"
        )
    name = m.group(1)
    inner = f"regexp_replace({args[0]}, '([?&]){name}=[^&#]*&', '$1')"
    return f"regexp_replace({inner}, '[?&]{name}=[^&#]*', '')"


def _pm_parse_joda(or_null: bool = False, or_zero: bool = False):
    """parseDateTimeInJodaSyntax[OrNull/OrZero](value, format): Spark's
    datetime patterns ARE the Java/Joda dialect (the
    formatDateTimeInJodaSyntax precedent), so the format passes through
    verbatim. Timezone third arguments refuse (session is UTC)."""

    def rw(args: list[str]) -> str:
        if len(args) != 2:
            raise NotImplementedError(
                "parseDateTimeInJodaSyntax expects (value, format) - "
                "timezone arguments are not supported (session is UTC)"
            )
        f, fmt = args
        if or_null:
            return f"try_to_timestamp({f}, {fmt})"
        if or_zero:
            return f"coalesce(try_to_timestamp({f}, {fmt}), timestamp_seconds(0))"
        return f"to_timestamp({f}, {fmt})"

    return rw


# octet = 0-255 with optional leading zeros up to 3 digits (CH accepts
# '192.168.00.1'); anchored 4-octet shape for the OrNull guard
_IPV4_OCTET_RE = "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
_IPV4_SHAPE_RE = f"'^({_IPV4_OCTET_RE}\\\\.){{{{3}}}}{_IPV4_OCTET_RE}$'"
_IPV4_TO_NUM = (
    "aggregate(transform(split({x}, '\\\\.'), __ip_o -> CAST(__ip_o AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, __ip_o) -> acc * 256 + __ip_o)"
)

_PARAMETRIC.update(
    {
        # MJD epoch 1858-11-17; OrNull bounds = Spark's DATE range
        # [0001-01-01, 9999-12-31] as day offsets (CH's Date32-extended
        # contract: out-of-range → NULL instead of a throw)
        "toModifiedJulianDayOrNull": _pm_1arg(
            "datediff(try_cast({x} AS DATE), DATE '1858-11-17')"
        ),
        "fromModifiedJulianDayOrNull": _pm_1arg(
            "(CASE WHEN CAST({x} AS BIGINT) BETWEEN -678575 AND 2973483 "
            "THEN date_add(DATE '1858-11-17', CAST({x} AS INT)) END)"
        ),
        # Spark DATE covers the whole Date32 range — same expr as the
        # YYYYMMDDToDate scalar row
        "YYYYMMDDToDate32": _pm_1arg("to_date(CAST({x} AS STRING), 'yyyyMMdd')"),
        # WithWWW = the no-www-special-casing cut. Our plain variant does
        # not www-strip before picking the significant label (documented
        # deviation), so plain and WithWWW coincide except on hosts where
        # 'www' abuts the effective TLD — where WithWWW's answer
        # ('www.tr' → 'www.tr', the docs golden) is exactly this expr.
        "cutToFirstSignificantSubdomainWithWWW": _pm_first_significant_subdomain(
            cut=True
        ),
        "cutToFirstSignificantSubdomainWithWWWRFC": _pm_first_significant_subdomain(
            cut=True
        ),
        "cutURLParameter": _pm_cut_url_parameter,
        "IPv4StringToNumOrNull": _pm_1arg(
            "(CASE WHEN {x} RLIKE " + _IPV4_SHAPE_RE + " THEN " + _IPV4_TO_NUM + " END)"
        ),
        "IPv4NumToStringClassC": _pm_1arg(
            "concat_ws('.', CAST(({x}) div 16777216 % 256 AS STRING), "
            "CAST(({x}) div 65536 % 256 AS STRING), "
            "CAST(({x}) div 256 % 256 AS STRING), 'xxx')"
        ),
        # binary 16-byte forms via the stdlib-ipaddress Arrow UDFs
        # (functions/geo.py batch 29); CH's FixedString(16) ↔ Spark BINARY
        "IPv6StringToNum": _pm_1arg("chIPv6StringToNum({x})"),
        "IPv6NumToString": _pm_1arg("chIPv6NumToString({x})"),
        "parseDateTimeInJodaSyntax": _pm_parse_joda(),
        "parseDateTimeInJodaSyntaxOrNull": _pm_parse_joda(or_null=True),
        "parseDateTimeInJodaSyntaxOrZero": _pm_parse_joda(or_zero=True),
    }
)

_PARAMETRIC2.update(
    {
        # interpolated sibling of quantileExactWeighted — same linear
        # interpolation over the exact weighted distribution the
        # quantileInterpolatedWeighted handler computes
        "quantileExactWeightedInterpolated": _pm2_weighted_quantile,
    }
)

# -- wave 29b (probe wave 29b; 71 of 92 probed spellings already
# answered): median sketch aliases, uniqCombined -If, toUUIDOrDefault,
# the plural quantilesDeterministic, visibleWidth; Lp norms, byte-level
# string stats, cartesian polygon measures and WKT points land as scalar
# SQL rows (functions/scalar.py); multiFuzzyMatchAny gates loudly
# (hyperscan's fuzzy-regex semantics have no Spark equivalent).

_PARAMETRIC.update(
    {
        # median aliases of the sketch quantile families: 0.5 through the
        # same mapping the quantile* spellings use (sketch → approx,
        # deterministic → exact; documented deviations live there)
        "medianTiming": _pm_1arg("percentile_approx({x}, 0.5)"),
        "medianTDigest": _pm_1arg("percentile_approx({x}, 0.5)"),
        "medianBFloat16": _pm_1arg("percentile_approx({x}, 0.5)"),
        "medianTimingWeighted": lambda a: _pm2_weighted_quantile(["0.5"], a),
        "medianTDigestWeighted": lambda a: _pm2_weighted_quantile(["0.5"], a),
        "medianBFloat16Weighted": lambda a: _pm2_weighted_quantile(["0.5"], a),
        "medianDeterministic": lambda a: _pm2_quantile_deterministic(["0.5"], a),
        "medianInterpolatedWeighted": lambda a: _pm2_weighted_quantile(["0.5"], a),
        # _UUID_PAT carries .format-escaped braces — route through
        # .format like the OrNull/OrZero siblings do via _pm_1arg
        "toUUIDOrDefault": lambda a: (
            (
                "coalesce((CASE WHEN ({x}) RLIKE " + _UUID_PAT + " "
                "THEN lower({x}) END), {d})"
            ).format(x=a[0], d=a[1])
            if len(a) == 2
            else _raise_nie("toUUIDOrDefault expects (value, default)")
        ),
        # exact distinct count is uniqCombined's documented mapping; -If
        # folds the predicate into the counted expression
        "uniqCombinedIf": _pm_2arg("count(DISTINCT CASE WHEN {a} THEN {f} END)"),
        "uniqCombined64If": _pm_2arg("count(DISTINCT CASE WHEN {a} THEN {f} END)"),
        "visibleWidth": _pm_1arg("length(coalesce(CAST({x} AS STRING), 'NULL'))"),
        "multiFuzzyMatchAny": _pm_gate(
            "multiFuzzyMatchAny",
            "hyperscan's edit-distance regex matching has no Spark "
            "equivalent - approximate with editDistance(s, needle) <= d "
            "or ngramDistance thresholds, or exact-match via "
            "multiSearchAny",
        ),
    }
)

_PARAMETRIC2.update(
    {
        # plural sibling of quantileDeterministic: exact percentile array,
        # determinism seed unused (exact computation needs no reservoir)
        "quantilesDeterministic": lambda params, args: (
            f"percentile({args[0]}, array({', '.join(params)}))"
            if params and len(args) == 2
            else _raise_nie(
                "quantilesDeterministic needs the (p1, ...)(x, det) form"
            )
        ),
    }
)


# -- wave 29c (probe wave 29c; 61 of 75 probed spellings already
# answered): the functional comparison family, MySQL-alias strings,
# checked IP/datetime tails, and the arrayElement out-of-bounds fix.
# and()/or()/not() function forms stay UNregistered deliberately: their
# names followed by '(' occur constantly as infix operators before a
# parenthesized group ("WHERE a AND (b OR c)") — a registry entry would
# rewrite ordinary SQL. Spark natively parses the function spelling for
# boolean args; only CH's UInt8-condition form errs, loudly.


def _pm_array_element(args: list[str]) -> str:
    """CH arrayElement(arr, i) / map access: try_element_at matches CH
    in-bounds (1-based, negative from the end, map keys) and yields NULL
    out-of-bounds where CH yields a typed default (0/'' — unknowable in a
    textual layer; documented deviation, arrayElementOrNull is the exact
    spelling). A LITERAL index 0 folds to NULL at rewrite time; a runtime
    0 from a column still aborts (Spark's element_at contract)."""
    if len(args) != 2:
        raise NotImplementedError("arrayElement expects (array_or_map, index_or_key)")
    if re.fullmatch(r"\s*[+-]?0+\s*", args[1]):
        return "NULL"
    return f"try_element_at({args[0]}, {args[1]})"


_PARAMETRIC.update(
    {
        "arrayElement": _pm_array_element,
        # functional comparison spellings (UInt8 in CH; booleans here so
        # they compose under WHERE/AND without ANSI int-condition errors)
        "equals": _pm_2arg("(({f}) = ({a}))"),
        "notEquals": _pm_2arg("(({f}) <> ({a}))"),
        "less": _pm_2arg("(({f}) < ({a}))"),
        "greater": _pm_2arg("(({f}) > ({a}))"),
        "lessOrEquals": _pm_2arg("(({f}) <= ({a}))"),
        "greaterOrEquals": _pm_2arg("(({f}) >= ({a}))"),
        "notLike": _pm_2arg("(({f}) NOT LIKE ({a}))"),
        # MySQL-alias strings
        "mid": lambda a: (
            f"substring({', '.join(a)})"
            if len(a) in (2, 3)
            else _raise_nie("mid expects (s, pos[, len])")
        ),
        # field(x, a1, a2, ...) → 1-based position of x in the list, 0 if
        # absent or x NULL (array_position's exact contract; NULL needle
        # guarded — Spark raises where MySQL/CH answer 0)
        "field": lambda a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN 0 "
            f"ELSE array_position(array({', '.join(a[1:])}), {a[0]}) END)"
            if len(a) >= 2
            else _raise_nie("field expects (needle, v1[, v2, ...])")
        ),
        # checked tails
        "toDateTime32": lambda a: f"toDateTime({', '.join(a)})",
        "toIPv4OrDefault": lambda a: (
            f"coalesce(toIPv4OrNull({a[0]}), {a[1]})"
            if len(a) == 2
            else _raise_nie("toIPv4OrDefault expects (value, default)")
        ),
        "toIPv6OrDefault": lambda a: (
            f"coalesce(toIPv6OrNull({a[0]}), {a[1]})"
            if len(a) == 2
            else _raise_nie("toIPv6OrDefault expects (value, default)")
        ),
        "BLAKE3": _pm_gate(
            "BLAKE3",
            "no BLAKE3 implementation ships with Spark or this python "
            "environment - use sha2(x, 256) for a stable cryptographic "
            "hash or xxhash64 for a fast non-cryptographic one",
        ),
    }
)

# batch 27c registers AFTER the one-time registry snapshots above — rebuild
# them so the new names resolve (the snapshot pattern exists for scan speed;
# keep this rebuild as the LAST registry mutation in the module)
_PARAMETRIC_RE = re.compile(
    r"\b(" + "|".join(_PARAMETRIC) + r")\s*\(", re.IGNORECASE
)
_PARAMETRIC_LOWER = {k.lower(): v for k, v in _PARAMETRIC.items()}
_PARAMETRIC2_RE = re.compile(
    r"\b(" + "|".join(_PARAMETRIC2) + r")\s*\(", re.IGNORECASE
)
_PARAMETRIC2_LOWER = {k.lower(): v for k, v in _PARAMETRIC2.items()}

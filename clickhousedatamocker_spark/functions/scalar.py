"""Scalar functions the reference's query surface needs.

Both are pure Column-expression compositions (JVM-side, whole-stage
codegen'd) — no Python UDFs in the query hot path. They are additionally
registered as Spark SQL *SQL-defined functions* so the reference's queries
(``sql/query_parts.sql:7,18``) run verbatim through ``spark.sql``.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# ClickHouse formatReadableSize unit ladder (binary units, 2 decimals).
_UNITS = ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]


def to_yyyymmddhh(col: Column | str) -> Column:
    """ClickHouse ``toYYYYMMDDhh(DateTime) -> UInt32`` (create_local.sql:18).

    e.g. 2026-01-01 12:34:56 -> 2026010112. Pure date_format -> int cast:
    stays inside codegen; usable as a partition expression.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyyMMddHH").cast("int")


def format_readable_size(col: Column | str) -> Column:
    """ClickHouse ``formatReadableSize(x)`` (query_parts.sql:7): binary units,
    2 decimals — 1023 -> '1023.00 B', 1536 -> '1.50 KiB'.

    Chain of WHEN over the unit ladder; division + format_string only — no UDF.
    """
    b = (F.col(col) if isinstance(col, str) else col).cast("double")
    # bround (HALF_EVEN) before %.2f: Java's Formatter rounds HALF_UP, but
    # C/Python printf — the reference behavior and the DuckDB oracle — round
    # half-even (1152/1024 = 1.125 must print '1.12 KiB', not '1.13 KiB')
    expr = F.format_string("%.2f EiB", F.bround(b / float(1024 ** 6), 2))
    # Build from largest to smallest so the first matching WHEN wins.
    for power in range(len(_UNITS) - 2, -1, -1):
        threshold = float(1024 ** (power + 1))
        scaled = b / float(1024 ** power) if power else b
        expr = F.when(
            b < threshold, F.format_string(f"%.2f {_UNITS[power]}", F.bround(scaled, 2))
        ).otherwise(expr)
    return expr


# formatDateTime %-token table — MODERN ClickHouse (23.1+) semantics:
# %M is the FULL MONTH NAME and %i is minutes (pre-23.1 CH rendered %M as
# minutes; that legacy spelling is deliberately not honored — golden tests
# pin the modern behavior). Every replacement inserts only Java
# DateTimeFormatter letters (never '%'), so the replace chain cannot
# re-match its own output and ordering is irrelevant; multi-token
# composites (%F %D %T %R) are expanded directly.
# Known deviation (documented, not fixable in a replace chain): literal
# LETTERS in the format string reach date_format unquoted and are read as
# Java pattern letters — use non-letter separators or %-tokens only.
_FDT_TOKENS = [
    ("%F", "yyyy-MM-dd"),  # ISO date (= %Y-%m-%d)
    ("%D", "MM/dd/yy"),    # US date  (= %m/%d/%y)
    ("%T", "HH:mm:ss"),    # ISO time (= %H:%i:%S)
    ("%R", "HH:mm"),       # 24h hh:mm (= %H:%i)
    ("%Y", "yyyy"),        # 4-digit year
    ("%y", "yy"),          # 2-digit year
    ("%M", "MMMM"),        # full month name (modern CH; legacy = minutes)
    ("%m", "MM"),          # month 01-12
    ("%W", "EEEE"),        # full weekday name
    ("%a", "EEE"),         # abbreviated weekday name
    ("%b", "MMM"),         # abbreviated month name
    ("%c", "MM"),          # month 01-12 (alias)
    ("%d", "dd"),          # day 01-31
    ("%H", "HH"),          # hour 00-23
    ("%h", "hh"),          # hour 01-12
    ("%I", "hh"),          # hour 01-12 (alias)
    ("%i", "mm"),          # minute 00-59
    ("%j", "DDD"),         # day of year 001-366
    ("%p", "a"),           # AM/PM
    ("%Q", "Q"),           # quarter 1-4
    ("%S", "ss"),          # second 00-59
    ("%s", "ss"),          # second 00-59 (alias)
]


def _format_datetime_body() -> str:
    """SQL body for the formatDateTime UDF.

    ``%%`` is parked on a char(1) sentinel first so a leftover raw '%'
    after the token chain can only mean an UNMAPPED token — which raises
    (raise_error) instead of leaking a cryptic Java pattern exception or,
    worse, silently formatting the wrong field. The sentinel is restored
    to a bare '%' at the end ('%' is a non-letter: literal in Java
    patterns, no quoting needed).
    """
    expr = "replace(f, '%%', char(1))"
    for tok, java in _FDT_TOKENS:
        expr = f"replace({expr}, '{tok}', '{java}')"
    expr = f"replace({expr}, '%n', char(10))"
    expr = f"replace({expr}, '%t', char(9))"
    return (
        f"CASE WHEN instr({expr}, '%') > 0 "
        "THEN raise_error(concat('formatDateTime: unsupported %-token in format: ', f)) "
        f"ELSE date_format(t, replace({expr}, char(1), '%')) END"
    )


def _ipv4_str(x: str) -> str:
    """SQL text rendering a BIGINT IPv4 as dotted-quad (shared by
    IPv4CIDRToRange; the standalone spelling is compat.py's parametric)."""
    return (
        f"concat_ws('.', CAST(({x}) div 16777216 % 256 AS STRING), "
        f"CAST(({x}) div 65536 % 256 AS STRING), "
        f"CAST(({x}) div 256 % 256 AS STRING), CAST(({x}) % 256 AS STRING))"
    )


def _reinterpret_le(n_bytes: int) -> str:
    """reinterpretAsUIntN body: first n bytes of the string, little-endian
    (CH's contract — x86 byte order), via hex chunks → conv. Exact for the
    ASCII/binary strings CH users feed it; shorter inputs zero-pad."""
    width = 2 * n_bytes
    h = f"substring(rpad(hex(encode(s, 'UTF-8')), {width}, '0'), 1, {width})"
    chunks = ", ".join(
        f"substring({h}, {width - 2 * i - 1}, 2)" for i in range(n_bytes)
    )
    return f"conv(concat({chunks}), 16, 10)"


# Euclid's algorithm as a bounded fold: int64 worst case (consecutive
# Fibonacci numbers) needs ~90 steps; 95 is a safe ceiling. JVM-side,
# whole-stage-codegen friendly — no UDF.
_GCD_BODY = (
    "aggregate(sequence(1, 95), named_struct('x', abs(a), 'y', abs(b)), "
    "(acc, i) -> CASE WHEN acc.y = 0 THEN acc "
    "ELSE named_struct('x', acc.y, 'y', acc.x % acc.y) END, acc -> acc.x)"
)


def _erf_body() -> str:
    """Abramowitz & Stegun 7.1.26 over t = 1/(1+p|x|), Horner form —
    constructed programmatically so the parens provably balance."""
    t = "(1.0D / (1.0D + 0.3275911D * abs(x)))"
    poly = "1.061405429D"
    for coef in ("-1.453152027D", "1.421413741D", "-0.284496736D", "0.254829592D"):
        poly = f"(({poly}) * {t} + {coef})"
    return f"sign(x) * (1.0D - ({poly}) * {t} * exp(-x * x))"


def _round6_probe_entries() -> list[tuple[str, str, str, str]]:
    """Round-6 probe-driven vocabulary (probe wave 13): integer
    exponentials, CH rounding ladders, vector norm/distance spellings,
    JSON path predicates, URL/IPv6 helpers, bit distance, and the
    remaining hash-name family (same documented xxhash64 deviation as
    cityHash64). All inlined SQL UDFs — native expressions."""
    l1 = "aggregate({a}, CAST(0.0 AS DOUBLE), (__a, __x) -> __a + abs(__x))"
    l2sq = "aggregate({a}, CAST(0.0 AS DOUBLE), (__a, __x) -> __a + __x * __x)"
    linf = "coalesce(array_max(transform({a}, __x -> abs(__x))), CAST(0.0 AS DOUBLE))"
    diff = "zip_with(a, b, (__x, __y) -> __x - __y)"
    # JSON string values need re-quoting before wrapping (get_json_object
    # strips quotes from string matches); chr(92) spells backslash without
    # a literal-escaping fight
    jv = "get_json_object(j, p)"
    jq_requote = (
        "CASE WHEN substr(" + jv + ", 1, 1) IN ('[', '" + chr(123) + "') "
        f"OR {jv} RLIKE '^-?[0-9]' "
        f"OR {jv} IN ('true', 'false', 'null') THEN {jv} "
        f"ELSE concat('\"', replace(replace({jv}, chr(92), concat(chr(92), chr(92))), "
        f"'\"', concat(chr(92), '\"')), '\"') END"
    )
    return [
        # -- integer exponentials (exact: no double round-trip) ------------
        ("intExp2", "(n INT)", "BIGINT", "shiftleft(CAST(1 AS BIGINT), n)"),
        (
            "intExp10",
            "(n INT)",
            "BIGINT",
            "CASE WHEN n <= 0 THEN 1 ELSE aggregate(sequence(1, n), "
            "CAST(1 AS BIGINT), (__a, __x) -> __a * 10) END",
        ),
        # -- CH rounding ladders (values straight from the CH docs) -------
        (
            "roundAge",
            "(x BIGINT)",
            "BIGINT",
            "CASE WHEN x < 1 THEN 0 WHEN x <= 17 THEN 17 WHEN x <= 24 THEN 18 "
            "WHEN x <= 34 THEN 25 WHEN x <= 44 THEN 35 WHEN x <= 54 THEN 45 "
            "ELSE 55 END",
        ),
        (
            "roundDuration",
            "(x BIGINT)",
            "BIGINT",
            "CASE WHEN x < 1 THEN 0 WHEN x < 10 THEN 1 WHEN x < 30 THEN 10 "
            "WHEN x < 60 THEN 30 WHEN x < 120 THEN 60 WHEN x < 180 THEN 120 "
            "WHEN x < 240 THEN 180 WHEN x < 300 THEN 240 WHEN x < 600 THEN 300 "
            "WHEN x < 1200 THEN 600 WHEN x < 1800 THEN 1200 WHEN x < 3600 THEN 1800 "
            "WHEN x < 7200 THEN 3600 WHEN x < 18000 THEN 7200 "
            "WHEN x < 36000 THEN 18000 ELSE 36000 END",
        ),
        # truncate toward zero with scale (trunc(x) 1-arg routes here via
        # the compat rewrite — Spark's trunc is the DATE truncation)
        (
            "truncate",
            "(x DOUBLE, n INT)",
            "DOUBLE",
            "CAST(CAST(x * power(10, n) AS BIGINT) AS DOUBLE) / power(10, n)",
        ),
        # -- dates ---------------------------------------------------------
        # inverse of toDaysSinceYearZero (anchor: 2026-01-01 = day 739982,
        # pinned by the forward function's golden)
        (
            "fromDaysSinceYearZero",
            "(n BIGINT)",
            "DATE",
            "date_add(DATE'2026-01-01', CAST(n - 739982 AS INT))",
        ),
        ("UTCTimestamp", "()", "TIMESTAMP", "to_utc_timestamp(now(), current_timezone())"),
        # the engine stores one timezone per session — every value's zone
        # IS the session zone (CH reports the column's zone the same way)
        ("timezoneOf", "(t TIMESTAMP)", "STRING", "current_timezone()"),
        # -- vector norms / distances (CH's array* spellings) --------------
        ("arrayL1Norm", "(a ARRAY<DOUBLE>)", "DOUBLE", l1.format(a="a")),
        ("arrayL2Norm", "(a ARRAY<DOUBLE>)", "DOUBLE", f"sqrt({l2sq.format(a='a')})"),
        ("arrayLinfNorm", "(a ARRAY<DOUBLE>)", "DOUBLE", linf.format(a="a")),
        ("arrayL1Distance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE", l1.format(a=diff)),
        (
            "arrayL2Distance",
            "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
            "DOUBLE",
            f"sqrt({l2sq.format(a=diff)})",
        ),
        ("arrayLinfDistance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE", linf.format(a=diff)),
        (
            "arrayCosineDistance",
            "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
            "DOUBLE",
            "cosineDistance(a, b)",
        ),
        ("dotProduct", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE", "arrayDotProduct(a, b)"),
        (
            "arrayCumSumNonNegative",
            "(arr ARRAY<DOUBLE>)",
            "ARRAY<DOUBLE>",
            "aggregate(arr, struct(CAST(array() AS ARRAY<DOUBLE>) AS out, "
            "CAST(0.0 AS DOUBLE) AS acc), (__s, __x) -> struct("
            "concat(__s.out, array(greatest(__s.acc + __x, CAST(0.0 AS DOUBLE)))), "
            "greatest(__s.acc + __x, CAST(0.0 AS DOUBLE))), __s -> __s.out)",
        ),
        # -- JSON path predicates (SQL/JSON spellings over get_json_object)
        (
            "JSON_EXISTS",
            "(j STRING, p STRING)",
            "INT",
            "CAST(get_json_object(j, p) IS NOT NULL AS INT)",
        ),
        (
            "JSON_QUERY",
            "(j STRING, p STRING)",
            "STRING",
            "CASE WHEN get_json_object(j, p) IS NULL THEN NULL ELSE "
            "concat('[', " + jq_requote + ", ']') END",
        ),
        # -- URL / IP ------------------------------------------------------
        (
            "extractURLParameters",
            "(u STRING)",
            "ARRAY<STRING>",
            "filter(split(coalesce(parse_url(u, 'QUERY'), ''), '&'), __x -> __x <> '')",
        ),
        (
            "isIPv6String",
            "(s STRING)",
            "INT",
            "CAST(s RLIKE '^([0-9A-Fa-f]{0,4}:){1,7}[0-9A-Fa-f]{0,4}$' "
            "AND s RLIKE ':' AS INT)",
        ),
        (
            "IPv4ToIPv6",
            "(n BIGINT)",
            "STRING",
            # dotted-quad inlined (IPv4NumToString is a compat rewrite, not
            # a UDF — not referenceable from a UDF body)
            "concat('::ffff:', CAST(shiftright(n, 24) & 255 AS STRING), '.', "
            "CAST(shiftright(n, 16) & 255 AS STRING), '.', "
            "CAST(shiftright(n, 8) & 255 AS STRING), '.', CAST(n & 255 AS STRING))",
        ),
        # -- bits ----------------------------------------------------------
        ("bitHammingDistance", "(a BIGINT, b BIGINT)", "INT", "CAST(bit_count(a ^ b) AS INT)"),
        # -- hash-name family: stable-64-bit CONTRACT, xxhash64 values
        # (same documented deviation as cityHash64/sipHash64 above) -------
        ("murmurHash2_64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        ("murmurHash3_64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        # hiveHash: Spark's hash() IS Hive-compatible murmur3-32 over rows
        ("hiveHash", "(s STRING)", "INT", "hash(s)"),
        # -- batch 14 (probe wave 14) -------------------------------------
        # ISO-year start = Monday of the week containing Jan 4 of the ISO
        # year (weekday(): Monday = 0)
        (
            "toStartOfISOYear",
            "(d DATE)",
            "DATE",
            "date_sub(make_date(extract(YEAROFWEEK FROM d), 1, 4), "
            "weekday(make_date(extract(YEAROFWEEK FROM d), 1, 4)))",
        ),
        # CH mode-0 weeks end Saturday: next-or-same Saturday
        (
            "toLastDayOfWeek",
            "(d DATE)",
            "DATE",
            "CASE WHEN dayofweek(d) = 7 THEN d ELSE next_day(d, 'SA') END",
        ),
        (
            "YYYYMMDDhhmmssToDateTime",
            "(n BIGINT)",
            "TIMESTAMP",
            "make_timestamp(CAST(n div 10000000000 AS INT), "
            "CAST((n div 100000000) % 100 AS INT), "
            "CAST((n div 1000000) % 100 AS INT), "
            "CAST((n div 10000) % 100 AS INT), "
            "CAST((n div 100) % 100 AS INT), CAST(n % 100 AS INT))",
        ),
        # index (1-based) of the needle with the LEFTMOST match; 0 if none.
        # (pos, idx) structs sort by position then needle order — CH's rule
        (
            "multiSearchFirstIndex",
            "(h STRING, ns ARRAY<STRING>)",
            "INT",
            "CASE WHEN size(ns) = 0 THEN 0 ELSE coalesce("
            "try_element_at(array_sort(filter(transform(sequence(1, size(ns)), "
            "__mi -> struct(locate(element_at(ns, __mi), h) AS p, __mi AS i)), "
            "__ms -> __ms.p > 0)), 1).i, 0) END",
        ),
        # Spark strings are UTF-8-validated on read (invalid bytes become
        # U+FFFD), so every reachable value is valid — documented constant
        ("isValidUTF8", "(s STRING)", "INT", "CAST(s IS NOT NULL AS INT)"),
        (
            "hasTokenCaseInsensitive",
            "(h STRING, t STRING)",
            "BOOLEAN",
            r"array_contains(regexp_extract_all(lower(h), '[\\p{L}\\p{N}]+', 0), lower(t))",
        ),
        ("countDigits", "(n BIGINT)", "INT", "length(CAST(abs(n) AS STRING))"),
        # backslash-escape regex metacharacters (chr(92) dodges literal-escape hell)
        (
            "regexpQuoteMeta",
            "(s STRING)",
            "STRING",
            "array_join(transform(split(s, ''), __c -> "
            "CASE WHEN __c IN ('\\\\', '|', '(', ')', '^', '$', '.', '[', ']', "
            "'?', '*', '+', chr(123), chr(125), '-') "
            "THEN concat(chr(92), __c) ELSE __c END), '')",
        ),
        (
            "bitmaskToArray",
            "(n BIGINT)",
            "ARRAY<BIGINT>",
            "transform(bitPositionsToArray(n), "
            "__bp -> shiftleft(CAST(1 AS BIGINT), CAST(__bp AS INT)))",
        ),
        # '123 MiB' -> bytes, rounded up (CH contract); binary and SI units
        (
            "parseReadableSize",
            "(s STRING)",
            "BIGINT",
            "CAST(ceil(CAST(regexp_extract(s, '^([0-9.]+)', 1) AS DOUBLE) * "
            "CASE trim(regexp_extract(s, '[0-9.\\\\s]+(.*)$', 1)) "
            "WHEN 'B' THEN 1 WHEN 'KiB' THEN 1024 WHEN 'MiB' THEN 1048576 "
            "WHEN 'GiB' THEN 1073741824 WHEN 'TiB' THEN 1099511627776 "
            "WHEN 'PiB' THEN 1125899906842624 "
            "WHEN 'KB' THEN 1000 WHEN 'MB' THEN 1000000 WHEN 'GB' THEN 1000000000 "
            "WHEN 'TB' THEN 1000000000000 WHEN 'PB' THEN 1000000000000000 "
            "END) AS BIGINT)",
        ),
        # wave 28b: the OrNull/OrZero tails — try_cast makes a malformed
        # number NULL, the ELSE-less CASE makes an unknown unit NULL
        (
            "parseReadableSizeOrNull",
            "(s STRING)",
            "BIGINT",
            "CAST(ceil(try_cast(regexp_extract(s, '^([0-9.]+)', 1) AS DOUBLE) * "
            "CASE trim(regexp_extract(s, '[0-9.\\\\s]+(.*)$', 1)) "
            "WHEN 'B' THEN 1 WHEN 'KiB' THEN 1024 WHEN 'MiB' THEN 1048576 "
            "WHEN 'GiB' THEN 1073741824 WHEN 'TiB' THEN 1099511627776 "
            "WHEN 'PiB' THEN 1125899906842624 "
            "WHEN 'KB' THEN 1000 WHEN 'MB' THEN 1000000 WHEN 'GB' THEN 1000000000 "
            "WHEN 'TB' THEN 1000000000000 WHEN 'PB' THEN 1000000000000000 "
            "END) AS BIGINT)",
        ),
        (
            "parseReadableSizeOrZero",
            "(s STRING)",
            "BIGINT",
            "coalesce(parseReadableSizeOrNull(s), CAST(0 AS BIGINT))",
        ),
    ]


def _round5_probe_entries() -> list[tuple[str, str, str, str]]:
    """Round-5 probe-driven vocabulary: date parts/truncations with modes,
    exact gcd/lcm/javaHash (pinned against Python in tests), CH-arg-order
    string splitters, JSON introspection, IPv4 helpers, and little-endian
    reinterpret casts. All inlined SQL UDFs — native expressions."""
    first_sunday = (
        "IF(dayofweek(make_date(year(t), 1, 1)) = 1, make_date(year(t), 1, 1), "
        "next_day(make_date(year(t), 1, 1), 'SU'))"
    )
    return [
        # -- dates --------------------------------------------------------
        ("toSecond", "(t TIMESTAMP)", "INT", "second(t)"),
        ("toDayOfYear", "(t TIMESTAMP)", "INT", "dayofyear(t)"),
        (
            "toStartOfFiveMinutes", "(t TIMESTAMP)", "TIMESTAMP",
            "timestamp_seconds(CAST(floor(unix_timestamp(t) / 300) AS BIGINT) * 300)",
        ),
        (
            "toStartOfTenMinutes", "(t TIMESTAMP)", "TIMESTAMP",
            "timestamp_seconds(CAST(floor(unix_timestamp(t) / 600) AS BIGINT) * 600)",
        ),
        (
            "toStartOfFifteenMinutes", "(t TIMESTAMP)", "TIMESTAMP",
            "timestamp_seconds(CAST(floor(unix_timestamp(t) / 900) AS BIGINT) * 900)",
        ),
        ("makeDate", "(y INT, m INT, d INT)", "DATE", "make_date(y, m, d)"),
        (
            "makeDateTime", "(y INT, mo INT, d INT, h INT, mi INT, s INT)",
            "TIMESTAMP", "make_timestamp(y, mo, d, h, mi, s)",
        ),
        # MySQL-compatible dateName parts (CH follows MySQL here); month /
        # weekday render full English names
        (
            "dateName", "(part STRING, t TIMESTAMP)", "STRING",
            "CASE lower(part) "
            "WHEN 'year' THEN CAST(year(t) AS STRING) "
            "WHEN 'quarter' THEN CAST(quarter(t) AS STRING) "
            "WHEN 'month' THEN date_format(t, 'MMMM') "
            "WHEN 'week' THEN CAST(weekofyear(t) AS STRING) "
            "WHEN 'dayofyear' THEN CAST(dayofyear(t) AS STRING) "
            "WHEN 'day' THEN CAST(day(t) AS STRING) "
            "WHEN 'weekday' THEN date_format(t, 'EEEE') "
            "WHEN 'hour' THEN CAST(hour(t) AS STRING) "
            "WHEN 'minute' THEN CAST(minute(t) AS STRING) "
            "WHEN 'second' THEN CAST(second(t) AS STRING) END",
        ),
        # toWeek default mode 0: Sunday-start, week 0 = days before the
        # year's first Sunday (MySQL WEEK(d, 0)); mode 3 (ISO) is a
        # parametric rewrite to weekofyear in compat.py
        (
            "toWeek", "(t TIMESTAMP)", "INT",
            f"CASE WHEN CAST(t AS DATE) < {first_sunday} THEN 0 "
            f"ELSE CAST(floor(datediff(CAST(t AS DATE), {first_sunday}) / 7) AS INT) + 1 END",
        ),
        # -- math ---------------------------------------------------------
        ("gcd", "(a BIGINT, b BIGINT)", "BIGINT", _GCD_BODY),
        (
            "lcm", "(a BIGINT, b BIGINT)", "BIGINT",
            f"CASE WHEN a = 0 OR b = 0 THEN 0 ELSE abs((a div {_GCD_BODY}) * b) END",
        ),
        ("exp2", "(x DOUBLE)", "DOUBLE", "power(2.0D, x)"),
        ("exp10", "(x DOUBLE)", "DOUBLE", "power(10.0D, x)"),
        ("sigmoid", "(x DOUBLE)", "DOUBLE", "1.0D / (1.0D + exp(-x))"),
        (
            "roundToExp2", "(x BIGINT)", "BIGINT",
            "CASE WHEN x < 1 THEN 0 ELSE CAST(power(2.0D, floor(log2(x))) AS BIGINT) END",
        ),
        # largest array element <= x; below all -> the smallest element
        (
            "roundDown", "(x DOUBLE, arr ARRAY<DOUBLE>)", "DOUBLE",
            "CASE WHEN x < array_min(arr) THEN array_min(arr) "
            "ELSE array_max(filter(arr, __rd_e -> __rd_e <= x)) END",
        ),
        ("max2", "(a DOUBLE, b DOUBLE)", "DOUBLE", "greatest(a, b)"),
        ("min2", "(a DOUBLE, b DOUBLE)", "DOUBLE", "least(a, b)"),
        # -- strings ------------------------------------------------------
        ("reverseUTF8", "(s STRING)", "STRING", "reverse(s)"),
        (
            "splitByWhitespace", "(s STRING)", "ARRAY<STRING>",
            r"filter(split(s, '\\s+'), __sw_v -> __sw_v != '')",
        ),
        (
            "alphaTokens", "(s STRING)", "ARRAY<STRING>",
            "regexp_extract_all(s, '[a-zA-Z]+', 0)",
        ),
        # CH's default tokenizer: maximal runs of alphanumerics (unicode
        # letter/digit classes here — a superset on non-ASCII text)
        (
            "tokens", "(s STRING)", "ARRAY<STRING>",
            r"regexp_extract_all(s, '[\\p{L}\\p{N}]+', 0)",
        ),
        (
            "ngrams", "(s STRING, n INT)", "ARRAY<STRING>",
            "CASE WHEN length(s) < n THEN array() "
            "ELSE transform(sequence(1, length(s) - n + 1), "
            "__ng_i -> substring(s, __ng_i, n)) END",
        ),
        # literal-folding subset: quoted strings and bare numbers → '?'
        # (CH also collapses IN lists and comments; documented subset)
        (
            "normalizeQuery", "(s STRING)", "STRING",
            "regexp_replace(regexp_replace(s, '\\'[^\\']*\\'', '?'), "
            "'(?<![a-zA-Z0-9_])[0-9]+(\\\\.[0-9]+)?', '?')",
        ),
        # -- hashes -------------------------------------------------------
        # xxHash32: truncated xxhash64 (contract-stable, not bit-compatible
        # with CH — same documented deviation as cityHash64)
        ("xxHash32", "(s STRING)", "BIGINT", "pmod(xxhash64(s), 4294967296)"),
        # halfMD5 IS bit-exact with ClickHouse: big-endian first 8 bytes of
        # the real MD5 == first 16 hex chars (DECIMAL(20,0) carries the
        # full unsigned range)
        (
            "halfMD5", "(s STRING)", "DECIMAL(20,0)",
            "CAST(conv(substring(md5(s), 1, 16), 16, 10) AS DECIMAL(20,0))",
        ),
        ("farmHash64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        ("farmFingerprint64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        # wave 28c: more same-engine hash spellings (stable contract, NOT
        # bit-compatible with CH — the documented cityHash64 deviation).
        # sipHash128 keeps the 16-byte BINARY shape via two xxhash64 lanes.
        (
            "sipHash128", "(s STRING)", "BINARY",
            "unhex(concat(lpad(hex(xxhash64(s)), 16, '0'), "
            "lpad(hex(xxhash64(s, 1)), 16, '0')))",
        ),
        ("intHash64", "(n BIGINT)", "BIGINT", "xxhash64(n)"),
        ("intHash32", "(n BIGINT)", "BIGINT", "pmod(xxhash64(n), 4294967296)"),
        # batch 27b: more same-engine 64/32-bit hash spellings (stable
        # integer contract, NOT bit-compatible with CH's algorithms —
        # the documented cityHash64 deviation)
        ("wyHash64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        ("gccMurmurHash", "(s STRING)", "BIGINT", "xxhash64(s)"),
        ("metroHash64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        ("CRC64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        ("kafkaMurmurHash", "(s STRING)", "BIGINT", "pmod(xxhash64(s), 2147483648)"),
        ("CRC32IEEE", "(s STRING)", "BIGINT", "pmod(xxhash64(s), 4294967296)"),
        # exact java.lang.String.hashCode for BMP text: h = 31*h + c with
        # 32-bit wrap, spelled as pmod at every step (mod is homomorphic
        # over + and *, so stepwise == final wrap)
        (
            "javaHash", "(s STRING)", "INT",
            "CASE WHEN length(s) = 0 THEN 0 ELSE CAST(aggregate("
            "sequence(1, length(s)), CAST(0 AS BIGINT), "
            "(__jh_a, __jh_i) -> pmod(__jh_a * 31 + ascii(substring(s, __jh_i, 1)), 4294967296), "
            "__jh_a -> IF(__jh_a >= 2147483648, __jh_a - 4294967296, __jh_a)) AS INT) END",
        ),
        # binary MD5 under a private name: the MD5 parametric rewrite in
        # compat.py targets this (emitting `md5(` would re-match itself —
        # the same fixpoint trap unhex documents)
        ("MD5Binary", "(s STRING)", "BINARY", "unhex(md5(s))"),
        # first-occurrence-only regex replace: locate the first match, run
        # the (backreference-capable) replace on just that slice
        (
            "replaceRegexpOne", "(h STRING, p STRING, r STRING)", "STRING",
            "CASE WHEN regexp_instr(h, p) = 0 THEN h ELSE concat("
            "substring(h, 1, regexp_instr(h, p) - 1), "
            "regexp_replace(regexp_substr(h, p), p, r), "
            "substring(h, regexp_instr(h, p) + length(regexp_substr(h, p)))) END",
        ),
        # CH's in-memory accounting for String: bytes + 9 (size prefix)
        ("byteSize", "(s STRING)", "INT", "octet_length(s) + 9"),
        # -- JSON introspection -------------------------------------------
        ("isValidJSON", "(j STRING)", "BOOLEAN", "try_parse_json(j) IS NOT NULL"),
        (
            "JSONLength", "(j STRING)", "INT",
            "coalesce(json_array_length(j), size(json_object_keys(j)), 0)",
        ),
        ("JSONExtractKeys", "(j STRING)", "ARRAY<STRING>", "json_object_keys(j)"),
        ("JSONArrayLength", "(j STRING)", "INT", "json_array_length(j)"),
        ("JSON_VALUE", "(j STRING, p STRING)", "STRING", "get_json_object(j, p)"),
        # -- IPv4 ---------------------------------------------------------
        (
            "isIPv4String", "(s STRING)", "BOOLEAN",
            r"s RLIKE '^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}"
            r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$'",
        ),
        (
            "toIPv4", "(s STRING)", "BIGINT",
            r"aggregate(transform(split(s, '\\.'), __ip_o -> CAST(__ip_o AS BIGINT)), "
            "CAST(0 AS BIGINT), (__ip_a, __ip_o) -> __ip_a * 256 + __ip_o)",
        ),
        (
            "IPv4CIDRToRange", "(ip BIGINT, b INT)",
            "STRUCT<lower: STRING, upper: STRING>",
            "named_struct('lower', "
            + _ipv4_str("ip div shiftleft(CAST(1 AS BIGINT), 32 - b) "
                        "* shiftleft(CAST(1 AS BIGINT), 32 - b)")
            + ", 'upper', "
            + _ipv4_str("ip div shiftleft(CAST(1 AS BIGINT), 32 - b) "
                        "* shiftleft(CAST(1 AS BIGINT), 32 - b) "
                        "+ shiftleft(CAST(1 AS BIGINT), 32 - b) - 1")
            + ")",
        ),
        # -- string similarity / search ------------------------------------
        ("editDistance", "(a STRING, b STRING)", "INT", "levenshtein(a, b)"),
        ("levenshteinDistance", "(a STRING, b STRING)", "INT", "levenshtein(a, b)"),
        ("countMatches", "(h STRING, p STRING)", "INT", "CAST(regexp_count(h, p) AS INT)"),
        # token = maximal alphanumeric run (the tokens() convention above)
        (
            "hasToken", "(h STRING, t STRING)", "BOOLEAN",
            r"array_contains(regexp_extract_all(h, '[\\p{L}\\p{N}]+', 0), t)",
        ),
        # subsequence check: one forward fold advancing a needle pointer
        (
            "hasSubsequence", "(h STRING, n STRING)", "BOOLEAN",
            "CASE WHEN length(n) = 0 THEN true WHEN length(h) = 0 THEN false "
            "ELSE aggregate(sequence(1, length(h)), 0, "
            "(__hs_a, __hs_i) -> IF(__hs_a < length(n) AND "
            "substring(h, __hs_i, 1) = substring(n, __hs_a + 1, 1), "
            "__hs_a + 1, __hs_a), __hs_a -> __hs_a = length(n)) END",
        ),
        # batch 28: the remaining hasSubsequence spellings. Spark strings
        # are codepoint sequences, so the UTF8 variants coincide with the
        # base forms (CH's non-UTF8 forms walk bytes — identical on ASCII)
        (
            "hasSubsequenceCaseInsensitive", "(h STRING, n STRING)", "BOOLEAN",
            "CASE WHEN length(n) = 0 THEN true WHEN length(h) = 0 THEN false "
            "ELSE aggregate(sequence(1, length(h)), 0, "
            "(__hs_a, __hs_i) -> IF(__hs_a < length(n) AND "
            "substring(lower(h), __hs_i, 1) = substring(lower(n), __hs_a + 1, 1), "
            "__hs_a + 1, __hs_a), __hs_a -> __hs_a = length(n)) END",
        ),
        (
            "hasSubsequenceUTF8", "(h STRING, n STRING)", "BOOLEAN",
            "CASE WHEN length(n) = 0 THEN true WHEN length(h) = 0 THEN false "
            "ELSE aggregate(sequence(1, length(h)), 0, "
            "(__hs_a, __hs_i) -> IF(__hs_a < length(n) AND "
            "substring(h, __hs_i, 1) = substring(n, __hs_a + 1, 1), "
            "__hs_a + 1, __hs_a), __hs_a -> __hs_a = length(n)) END",
        ),
        (
            "hasSubsequenceCaseInsensitiveUTF8", "(h STRING, n STRING)", "BOOLEAN",
            "CASE WHEN length(n) = 0 THEN true WHEN length(h) = 0 THEN false "
            "ELSE aggregate(sequence(1, length(h)), 0, "
            "(__hs_a, __hs_i) -> IF(__hs_a < length(n) AND "
            "substring(lower(h), __hs_i, 1) = substring(lower(n), __hs_a + 1, 1), "
            "__hs_a + 1, __hs_a), __hs_a -> __hs_a = length(n)) END",
        ),
        # Jaccard over the CHARACTER sets (CH computes over byte sets —
        # identical for ASCII, the common case; documented)
        (
            "stringJaccardIndex", "(a STRING, b STRING)", "DOUBLE",
            "CASE WHEN length(a) = 0 AND length(b) = 0 THEN 0.0D ELSE "
            "size(array_intersect(split(a, ''), split(b, ''))) / "
            "CAST(size(array_distinct(concat(split(a, ''), split(b, '')))) AS DOUBLE) END",
        ),
        ("initcapUTF8", "(s STRING)", "STRING", "initcap(s)"),
        # -- date arithmetic (CH add*/subtract* families) ------------------
        ("addSeconds", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(0, 0, 0, 0, 0, 0, n)"),
        ("subtractSeconds", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(0, 0, 0, 0, 0, 0, n)"),
        ("addMinutes", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(0, 0, 0, 0, 0, n)"),
        ("subtractMinutes", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(0, 0, 0, 0, 0, n)"),
        ("addWeeks", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(0, 0, n)"),
        ("subtractWeeks", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(0, 0, n)"),
        ("addMonths", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(0, n)"),
        ("subtractMonths", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(0, n)"),
        ("addQuarters", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(0, n * 3)"),
        ("subtractQuarters", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(0, n * 3)"),
        ("addYears", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(n)"),
        ("subtractYears", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(n)"),
        ("toStartOfSecond", "(t TIMESTAMP)", "TIMESTAMP", "date_trunc('second', t)"),
        # CH toTime: same wall-clock time on the fixed date 1970-01-02
        (
            "toTime", "(t TIMESTAMP)", "TIMESTAMP",
            "make_timestamp(1970, 1, 2, hour(t), minute(t), second(t))",
        ),
        # wall-time shift session-zone → tz (CH changes the DISPLAY zone;
        # with timezone-naive storage the shifted wall time is the
        # equivalent observable)
        (
            "toTimezone", "(t TIMESTAMP, tz STRING)", "TIMESTAMP",
            "from_utc_timestamp(to_utc_timestamp(t, current_timezone()), tz)",
        ),
        ("timeZone", "()", "STRING", "current_timezone()"),
        ("serverTimeZone", "()", "STRING", "current_timezone()"),
        ("toUnixTimestamp64Milli", "(t TIMESTAMP)", "BIGINT", "unix_millis(t)"),
        ("toUnixTimestamp64Micro", "(t TIMESTAMP)", "BIGINT", "unix_micros(t)"),
        ("fromUnixTimestamp64Milli", "(x BIGINT)", "TIMESTAMP", "timestamp_millis(x)"),
        ("fromUnixTimestamp64Micro", "(x BIGINT)", "TIMESTAMP", "timestamp_micros(x)"),
        ("toRelativeHourNum", "(t TIMESTAMP)", "BIGINT", "unix_timestamp(t) div 3600"),
        ("toRelativeMinuteNum", "(t TIMESTAMP)", "BIGINT", "unix_timestamp(t) div 60"),
        ("toRelativeSecondNum", "(t TIMESTAMP)", "BIGINT", "unix_timestamp(t)"),
        ("toRelativeMonthNum", "(t TIMESTAMP)", "BIGINT", "year(t) * 12 + month(t)"),
        ("toRelativeYearNum", "(t TIMESTAMP)", "BIGINT", "year(t)"),
        # MJD epoch = 1858-11-17; year-zero count uses the proleptic
        # Gregorian year 0 (366 days)
        (
            "toModifiedJulianDay", "(s STRING)", "INT",
            "datediff(CAST(s AS DATE), DATE '1858-11-17')",
        ),
        ("fromModifiedJulianDay", "(n INT)", "DATE", "date_add(DATE '1858-11-17', n)"),
        (
            "toDaysSinceYearZero", "(t TIMESTAMP)", "INT",
            "datediff(CAST(t AS DATE), DATE '0001-01-01') + 366",
        ),
        # -- special math (no Spark builtins; classic approximations) ------
        # Abramowitz & Stegun 7.1.26 (max abs error 1.5e-7), odd-extended
        (
            "erf", "(x DOUBLE)", "DOUBLE",
            _erf_body(),
        ),
        ("erfc", "(x DOUBLE)", "DOUBLE", "1.0D - erf(x)"),
        # Stirling series with shift-by-7 for small x (|err| < 1e-10 for
        # x > 0); tgamma = exp(lgamma) on the positive domain
        (
            "lgamma", "(x DOUBLE)", "DOUBLE",
            "CASE WHEN x <= 0 THEN double('NaN') ELSE "
            "(x + 7 - 0.5D) * ln(x + 7) - (x + 7) + 0.5D * ln(2 * pi()) "
            "+ 1.0D / (12 * (x + 7)) - 1.0D / (360 * pow(x + 7, 3)) "
            "+ 1.0D / (1260 * pow(x + 7, 5)) "
            "- ln(x) - ln(x + 1) - ln(x + 2) - ln(x + 3) - ln(x + 4) "
            "- ln(x + 5) - ln(x + 6) END",
        ),
        ("tgamma", "(x DOUBLE)", "DOUBLE", "CASE WHEN x <= 0 THEN double('NaN') ELSE exp(lgamma(x)) END"),
        # -- bit manipulation batch 2 --------------------------------------
        # 64-bit rotates (CH rotates at the operand's width; BIGINT here)
        (
            "bitRotateLeft", "(x BIGINT, n INT)", "BIGINT",
            "shiftleft(x, n % 64) | shiftrightunsigned(x, 64 - (n % 64))",
        ),
        (
            "bitRotateRight", "(x BIGINT, n INT)", "BIGINT",
            "shiftrightunsigned(x, n % 64) | shiftleft(x, 64 - (n % 64))",
        ),
        # byte reversal via hex-pair flip; width = 4 bytes for UInt32-range
        # values, else 8 (CH swaps at the value's declared type width)
        (
            "byteSwap", "(x BIGINT)", "BIGINT",
            "CASE WHEN x < 4294967296 THEN "
            "CAST(conv(concat(substring(lpad(hex(x), 8, '0'), 7, 2), "
            "substring(lpad(hex(x), 8, '0'), 5, 2), "
            "substring(lpad(hex(x), 8, '0'), 3, 2), "
            "substring(lpad(hex(x), 8, '0'), 1, 2)), 16, 10) AS BIGINT) ELSE "
            "CAST(conv(concat(substring(lpad(hex(x), 16, '0'), 15, 2), "
            "substring(lpad(hex(x), 16, '0'), 13, 2), "
            "substring(lpad(hex(x), 16, '0'), 11, 2), "
            "substring(lpad(hex(x), 16, '0'), 9, 2), "
            "substring(lpad(hex(x), 16, '0'), 7, 2), "
            "substring(lpad(hex(x), 16, '0'), 5, 2), "
            "substring(lpad(hex(x), 16, '0'), 3, 2), "
            "substring(lpad(hex(x), 16, '0'), 1, 2)), 16, 10) AS BIGINT) END",
        ),
        # morton Z-order: bit interleave / deinterleave, exact JVM folds —
        # the spatial-locality key a 100 TB geo partitioning scheme wants
        (
            "mortonEncode", "(a BIGINT, b BIGINT)", "BIGINT",
            "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__mz_acc, __mz_i) -> "
            "__mz_acc | shiftleft((a >> __mz_i) & 1, 2 * __mz_i) "
            "| shiftleft((b >> __mz_i) & 1, 2 * __mz_i + 1))",
        ),
        (
            "mortonDecode2D", "(z BIGINT)", "STRUCT<col1: BIGINT, col2: BIGINT>",  # via the mortonDecode(dims, code) rewrite
            "named_struct("
            "'col1', aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__md_a, __md_i) -> "
            "__md_a | shiftleft((z >> (2 * __md_i)) & 1, __md_i)), "
            "'col2', aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__md_a, __md_i) -> "
            "__md_a | shiftleft((z >> (2 * __md_i + 1)) & 1, __md_i)))",
        ),
        # bin target for the compat rewrite (CH pads to byte width)
        (
            "binPadded", "(x BIGINT)", "STRING",
            "lpad(bin(x), CAST(ceil(length(bin(x)) / 8.0) AS INT) * 8, '0')",
        ),
        # CH bin() pads to the byte width; unbin decodes 8-bit groups
        (
            "unbin", "(s STRING)", "STRING",
            "array_join(transform(sequence(1, CAST(ceil(length(s) / 8.0) AS INT)), "
            "__ub_i -> chr(conv(substring(lpad(s, "
            "CAST(ceil(length(s) / 8.0) AS INT) * 8, '0'), "
            "(__ub_i - 1) * 8 + 1, 8), 2, 10))), '')",
        ),
        # -- string leftovers ----------------------------------------------
        ("leftUTF8", "(s STRING, n INT)", "STRING", "left(s, n)"),
        ("rightUTF8", "(s STRING, n INT)", "STRING", "right(s, n)"),
        ("substringIndex", "(s STRING, d STRING, n INT)", "STRING", "substring_index(s, d, n)"),
        ("concatAssumeInjective", "(a STRING, b STRING)", "STRING", "concat(a, b)"),
        ("positionCaseInsensitiveUTF8", "(h STRING, n STRING)", "INT", "locate(lower(n), lower(h))"),
        # JVM strings are always valid UTF-16; the sanitizer is identity
        ("toValidUTF8", "(s STRING)", "STRING", "s"),
        # -- reinterpret casts (little-endian, CH's x86 byte order) -------
        ("reinterpretAsUInt8", "(s STRING)", "INT",
         f"CAST({_reinterpret_le(1)} AS INT)"),
        ("reinterpretAsUInt16", "(s STRING)", "INT",
         f"CAST({_reinterpret_le(2)} AS INT)"),
        ("reinterpretAsUInt32", "(s STRING)", "BIGINT",
         f"CAST({_reinterpret_le(4)} AS BIGINT)"),
        ("reinterpretAsUInt64", "(s STRING)", "DECIMAL(20,0)",
         f"CAST({_reinterpret_le(8)} AS DECIMAL(20,0))"),
    ]


def register_sql_functions(spark: SparkSession) -> None:
    """Register ``toYYYYMMDDhh`` / ``formatReadableSize`` as SQL-defined
    functions (Spark 4 SQL UDFs — still native expressions after inlining),
    so the reference's .sql files execute verbatim.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION toYYYYMMDDhh(t TIMESTAMP)
        RETURNS INT
        RETURN CAST(date_format(t, 'yyyyMMddHH') AS INT)
        """
    )
    # ClickHouse spells it camelCase (sql/query_parts.sql:9, create_distributed.sql:6)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION currentDatabase()
        RETURNS STRING
        RETURN current_database()
        """
    )
    # -- broader CH scalar vocabulary -------------------------------------
    # Each is a Spark-4 SQL UDF: inlined into the plan at analysis time, so
    # these are zero-overhead native expressions, not callbacks. Coverage is
    # the high-frequency functions a ClickHouse user types reflexively
    # (date truncation, digit-date keys, int division) — aggregates with CH
    # spellings (uniq, countIf, …) are textual rewrites in
    # functions/compat.py because SQL UDFs cannot define aggregates.
    for name, sig, ret, body in [
        ("toStartOfHour", "(t TIMESTAMP)", "TIMESTAMP", "date_trunc('hour', t)"),
        ("toStartOfMinute", "(t TIMESTAMP)", "TIMESTAMP", "date_trunc('minute', t)"),
        ("toStartOfDay", "(t TIMESTAMP)", "TIMESTAMP", "date_trunc('day', t)"),
        ("toStartOfMonth", "(t TIMESTAMP)", "DATE", "CAST(date_trunc('month', t) AS DATE)"),
        ("toYYYYMMDD", "(t TIMESTAMP)", "INT", "CAST(date_format(t, 'yyyyMMdd') AS INT)"),
        ("toDate", "(t TIMESTAMP)", "DATE", "CAST(t AS DATE)"),
        ("toHour", "(t TIMESTAMP)", "INT", "hour(t)"),
        ("toMinute", "(t TIMESTAMP)", "INT", "minute(t)"),
        # CH: 1 = Monday … 7 = Sunday; Spark dayofweek: 1 = Sunday
        ("toDayOfWeek", "(t TIMESTAMP)", "INT", "((dayofweek(t) + 5) % 7) + 1"),
        ("toMonth", "(t TIMESTAMP)", "INT", "month(t)"),
        ("toYear", "(t TIMESTAMP)", "INT", "year(t)"),
        ("toQuarter", "(t TIMESTAMP)", "INT", "quarter(t)"),
        ("toDayOfMonth", "(t TIMESTAMP)", "INT", "day(t)"),
        ("toStartOfQuarter", "(t TIMESTAMP)", "DATE", "CAST(date_trunc('quarter', t) AS DATE)"),
        ("toStartOfYear", "(t TIMESTAMP)", "DATE", "CAST(date_trunc('year', t) AS DATE)"),
        # CH toMonday == Monday-start week truncation (toStartOfWeek's
        # default mode 0 is Sunday-start — a different function; toMonday
        # is the unambiguous spelling, so only it is shimmed)
        ("toMonday", "(t TIMESTAMP)", "DATE", "CAST(date_trunc('week', t) AS DATE)"),
        ("intDiv", "(a BIGINT, b BIGINT)", "BIGINT", "a div b"),
        ("modulo", "(a BIGINT, b BIGINT)", "BIGINT", "a % b"),
        ("empty", "(s STRING)", "BOOLEAN", "s IS NULL OR length(s) = 0"),
        ("notEmpty", "(s STRING)", "BOOLEAN", "s IS NOT NULL AND length(s) > 0"),
        ("today", "()", "DATE", "current_date()"),
        ("yesterday", "()", "DATE", "date_sub(current_date(), 1)"),
        # round-5 probe batch 12: ISO year (year of the week's Thursday),
        # digit-date, 64-bit unix epochs, XML escapes, UUID binary forms,
        # snowflake ids (Twitter epoch 1288834974657), simpleJSON family
        # (CH's sloppy-scan variants — shimmed over the strict JSON parser,
        # so they require well-formed JSON; documented deviation)
        ("toISOYear", "(t TIMESTAMP)", "INT", "year(date_add(CAST(t AS DATE), 3 - weekday(t)))"),
        ("YYYYMMDDToDate", "(n BIGINT)", "DATE", "to_date(CAST(n AS STRING), 'yyyyMMdd')"),
        ("toUnixTimestamp64Milli", "(t TIMESTAMP)", "BIGINT", "unix_millis(t)"),
        ("toUnixTimestamp64Micro", "(t TIMESTAMP)", "BIGINT", "unix_micros(t)"),
        ("toUnixTimestamp64Nano", "(t TIMESTAMP)", "BIGINT", "unix_micros(t) * 1000"),
        (
            "encodeXMLComponent",
            "(s STRING)",
            "STRING",
            "replace(replace(replace(replace(replace(s, '&', '&amp;'), "
            "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), '''', '&apos;')",
        ),
        (
            "decodeXMLComponent",
            "(s STRING)",
            "STRING",
            "replace(replace(replace(replace(replace(s, '&apos;', ''''), "
            "'&quot;', '\"'), '&gt;', '>'), '&lt;', '<'), '&amp;', '&')",
        ),
        ("UUIDStringToNum", "(s STRING)", "BINARY", "unhex(replace(s, '-', ''))"),
        (
            "UUIDNumToString",
            "(b BINARY)",
            "STRING",
            "lower(concat(substr(hex(b), 1, 8), '-', substr(hex(b), 9, 4), '-', "
            "substr(hex(b), 13, 4), '-', substr(hex(b), 17, 4), '-', substr(hex(b), 21, 12)))",
        ),
        ("snowflakeToDateTime", "(id BIGINT)", "TIMESTAMP", "timestamp_millis(shiftright(id, 22) + 1288834974657)"),
        ("dateTimeToSnowflake", "(t TIMESTAMP)", "BIGINT", "shiftleft(unix_millis(t) - 1288834974657, 22)"),
        ("simpleJSONExtractInt", "(j STRING, k STRING)", "BIGINT", "CAST(get_json_object(j, concat('$.', k)) AS BIGINT)"),
        ("simpleJSONExtractFloat", "(j STRING, k STRING)", "DOUBLE", "CAST(get_json_object(j, concat('$.', k)) AS DOUBLE)"),
        ("simpleJSONExtractBool", "(j STRING, k STRING)", "BOOLEAN", "CAST(get_json_object(j, concat('$.', k)) AS BOOLEAN)"),
        ("simpleJSONExtractString", "(j STRING, k STRING)", "STRING", "get_json_object(j, concat('$.', k))"),
        ("simpleJSONHas", "(j STRING, k STRING)", "BOOLEAN", "get_json_object(j, concat('$.', k)) IS NOT NULL"),
        ("JSONExtractRaw", "(j STRING, k STRING)", "STRING", "get_json_object(j, concat('$.', k))"),
        # scalar-element arrays; raw nested-object elements need the strict
        # typed JSONExtract family instead (documented)
        ("JSONExtractArrayRaw", "(j STRING, k STRING)", "ARRAY<STRING>", "from_json(get_json_object(j, concat('$.', k)), 'array<string>')"),
        # probe batch 13: split/multi-search families, bitmask render,
        # HTML text, and the vector-distance family (the embeddings
        # engine's own CH spellings — pure zip_with/aggregate folds, JVM
        # codegen, no UDF)
        ("splitByNonAlpha", "(s STRING)", "ARRAY<STRING>", "filter(split(s, '[^A-Za-z0-9]+'), __t -> __t <> '')"),
        # CH arg order (regexp first); edge empties behave like Spark split
        ("splitByRegexp", "(re STRING, s STRING)", "ARRAY<STRING>", "split(s, re)"),
        ("multiMatchAny", "(s STRING, pats ARRAY<STRING>)", "INT", "CAST(exists(pats, __p -> s rlike __p) AS INT)"),
        ("multiMatchAnyIndex", "(s STRING, pats ARRAY<STRING>)", "INT", "CAST(coalesce(array_position(transform(pats, __p -> s rlike __p), true), 0) AS INT)"),
        ("multiSearchFirstPosition", "(s STRING, ns ARRAY<STRING>)", "INT", "coalesce(array_min(filter(transform(ns, __n -> instr(s, __n)), __p -> __p > 0)), 0)"),
        ("multiSearchAllPositions", "(s STRING, ns ARRAY<STRING>)", "ARRAY<INT>", "transform(ns, __n -> instr(s, __n))"),
        ("bitmaskToList", "(n BIGINT)", "STRING",
         "array_join(transform(filter(sequence(0, 62), __i -> (shiftright(n, __i) & 1) = 1), "
         "__i -> CAST(shiftleft(CAST(1 AS BIGINT), __i) AS STRING)), ',')"),
        ("bitPositionsToArray", "(n BIGINT)", "ARRAY<INT>",
         "CAST(filter(sequence(0, 62), __i -> (shiftright(n, __i) & 1) = 1) AS ARRAY<INT>)"),
        # script/style bodies die first, then tags, then whitespace folds —
        # the 80% of CH's HTML extractor without its entity decoding (pair
        # with decodeXMLComponent for the common entities)
        ("extractTextFromHTML", "(s STRING)", "STRING",
         "trim(regexp_replace(regexp_replace(regexp_replace(s, "
         "'(?is)<(script|style)[^>]*>.*?</(script|style)>', ' '), '<[^>]*>', ''), '\\\\s+', ' '))"),
        ("arrayDotProduct", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE",
         "aggregate(zip_with(a, b, (__x, __y) -> __x * __y), CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + __v)"),
        ("L2Norm", "(a ARRAY<DOUBLE>)", "DOUBLE",
         "sqrt(aggregate(a, CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + __v * __v))"),
        ("L2Distance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE",
         "sqrt(aggregate(zip_with(a, b, (__x, __y) -> (__x - __y) * (__x - __y)), CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + __v))"),
        ("L1Distance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE",
         "aggregate(zip_with(a, b, (__x, __y) -> abs(__x - __y)), CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + __v)"),
        ("LinfDistance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE",
         "array_max(zip_with(a, b, (__x, __y) -> abs(__x - __y)))"),
        ("cosineDistance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)", "DOUBLE",
         "CAST(1.0 AS DOUBLE) - arrayDotProduct(a, b) / (L2Norm(a) * L2Norm(b))"),
        ("normalizeL2", "(a ARRAY<DOUBLE>)", "ARRAY<DOUBLE>", "transform(a, __x -> __x / L2Norm(a))"),
        # -- wave 29b: Lp norm/distance stragglers (L2/L1/Linf distances
        # and L2Norm predate these; same fold conventions) ---------------
        ("L1Norm", "(a ARRAY<DOUBLE>)", "DOUBLE",
         "aggregate(a, CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + abs(__v))"),
        ("LinfNorm", "(a ARRAY<DOUBLE>)", "DOUBLE", "array_max(transform(a, __v -> abs(__v)))"),
        ("LpNorm", "(a ARRAY<DOUBLE>, p DOUBLE)", "DOUBLE",
         "pow(aggregate(a, CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + pow(abs(__v), p)), 1.0 / p)"),
        ("LpDistance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>, p DOUBLE)", "DOUBLE",
         "pow(aggregate(zip_with(a, b, (__x, __y) -> pow(abs(__x - __y), p)), "
         "CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + __v), 1.0 / p)"),
        # -- wave 29b: byte-level string statistics (CH operates on BYTES,
        # so the string is sliced as BINARY; empty input → 0 like CH) ----
        ("stringBytesUniq", "(s STRING)", "INT",
         "CASE WHEN s IS NULL THEN NULL WHEN octet_length(s) = 0 THEN 0 ELSE "
         "size(array_distinct(transform(sequence(1, octet_length(s)), "
         "__i -> substring(CAST(s AS BINARY), __i, 1)))) END"),
        ("stringBytesEntropy", "(s STRING)", "DOUBLE",
         "CASE WHEN s IS NULL THEN NULL WHEN octet_length(s) = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
         "-aggregate(transform(array_distinct(transform(sequence(1, octet_length(s)), "
         "__i -> substring(CAST(s AS BINARY), __i, 1))), "
         "__b -> CAST(size(filter(transform(sequence(1, octet_length(s)), "
         "__j -> substring(CAST(s AS BINARY), __j, 1)), __x -> __x = __b)) AS DOUBLE) "
         "/ octet_length(s)), CAST(0.0 AS DOUBLE), "
         "(__ac, __p) -> __ac + __p * log2(__p)) END"),
        # -- wave 29b: cartesian polygon measures over CH's nested
        # Polygon = Array(Ring) shape (ring auto-closed; area = outer ring
        # minus holes, both as absolute shoelace values; perimeter sums
        # every ring — boost::geometry's convention CH delegates to) -----
        ("polygonAreaCartesian",
         "(poly ARRAY<ARRAY<STRUCT<col1: DOUBLE, col2: DOUBLE>>>)", "DOUBLE",
         "aggregate(transform(sequence(1, size(poly)), __r -> "
         "(CASE WHEN __r = 1 THEN 1.0 ELSE -1.0 END) * 0.5 * abs("
         "aggregate(sequence(1, size(element_at(poly, __r))), CAST(0.0 AS DOUBLE), "
         "(__ac, __i) -> __ac "
         "+ element_at(element_at(poly, __r), __i).col1 "
         "* element_at(element_at(poly, __r), CASE WHEN __i = size(element_at(poly, __r)) THEN 1 ELSE __i + 1 END).col2 "
         "- element_at(element_at(poly, __r), CASE WHEN __i = size(element_at(poly, __r)) THEN 1 ELSE __i + 1 END).col1 "
         "* element_at(element_at(poly, __r), __i).col2))), "
         "CAST(0.0 AS DOUBLE), (__as, __a) -> __as + __a)"),
        ("polygonPerimeterCartesian",
         "(poly ARRAY<ARRAY<STRUCT<col1: DOUBLE, col2: DOUBLE>>>)", "DOUBLE",
         "aggregate(transform(sequence(1, size(poly)), __r -> "
         "aggregate(sequence(1, size(element_at(poly, __r))), CAST(0.0 AS DOUBLE), "
         "(__ac, __i) -> __ac + sqrt("
         "pow(element_at(element_at(poly, __r), __i).col1 "
         "- element_at(element_at(poly, __r), CASE WHEN __i = size(element_at(poly, __r)) THEN 1 ELSE __i + 1 END).col1, 2) "
         "+ pow(element_at(element_at(poly, __r), __i).col2 "
         "- element_at(element_at(poly, __r), CASE WHEN __i = size(element_at(poly, __r)) THEN 1 ELSE __i + 1 END).col2, 2)))), "
         "CAST(0.0 AS DOUBLE), (__ps, __p) -> __ps + __p)"),
        # -- wave 29b: WKT point forms (integral coordinates print without
        # a decimal tail, the CH text convention: POINT(1 2)) ------------
        ("readWKTPoint", "(s STRING)", "STRUCT<col1: DOUBLE, col2: DOUBLE>",
         "struct(CAST(regexp_extract(s, 'POINT\\\\s*\\\\(\\\\s*([-+0-9.eE]+)\\\\s+([-+0-9.eE]+)\\\\s*\\\\)', 1) AS DOUBLE) AS col1, "
         "CAST(regexp_extract(s, 'POINT\\\\s*\\\\(\\\\s*([-+0-9.eE]+)\\\\s+([-+0-9.eE]+)\\\\s*\\\\)', 2) AS DOUBLE) AS col2)"),
        ("wkt", "(p STRUCT<col1: DOUBLE, col2: DOUBLE>)", "STRING",
         "concat('POINT(', "
         "CASE WHEN p.col1 = floor(p.col1) THEN CAST(CAST(p.col1 AS BIGINT) AS STRING) ELSE CAST(p.col1 AS STRING) END, "
         "' ', "
         "CASE WHEN p.col2 = floor(p.col2) THEN CAST(CAST(p.col2 AS BIGINT) AS STRING) ELSE CAST(p.col2 AS STRING) END, ')')"),
        # pairwise-comparison AUC (ties count 0.5) - O(P*N) per row, the
        # per-row arrays a metrics column carries are small by construction
        ("arrayAUC", "(sc ARRAY<DOUBLE>, lb ARRAY<BIGINT>)", "DOUBLE",
         "CASE WHEN size(filter(lb, __l -> __l <> 0)) = 0 OR size(filter(lb, __l -> __l = 0)) = 0 "
         "THEN CAST(NULL AS DOUBLE) ELSE "
         "aggregate(flatten(transform("
         "filter(zip_with(sc, lb, (__s, __l) -> named_struct('s', __s, 'l', __l)), __p -> __p.l <> 0), "
         "__p -> transform("
         "filter(zip_with(sc, lb, (__s2, __l2) -> named_struct('s', __s2, 'l', __l2)), __q -> __q.l = 0), "
         "__n -> CASE WHEN __p.s > __n.s THEN CAST(1.0 AS DOUBLE) WHEN __p.s = __n.s THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END))), "
         "CAST(0.0 AS DOUBLE), (__ac, __v) -> __ac + __v) "
         "/ (size(filter(lb, __l -> __l <> 0)) * size(filter(lb, __l -> __l = 0))) END"),
        # string vocabulary (CH camelCase / arg-order spellings)
        (
            "splitByChar",
            "(sep STRING, s STRING)",
            "ARRAY<STRING>",
            r"split(s, concat('\\Q', sep, '\\E'))",  # \Q..\E: literal, not regex
        ),
        ("arrayStringConcat", "(arr ARRAY<STRING>, sep STRING)", "STRING", "array_join(arr, sep)"),
        # (startsWith/endsWith need no shim: Spark's startswith/endswith
        # builtins share CH's name — case-insensitive — and argument order)
        ("has", "(arr ARRAY<STRING>, x STRING)", "BOOLEAN", "array_contains(arr, x)"),
        ("lengthUTF8", "(s STRING)", "INT", "length(s)"),
        ("substringUTF8", "(s STRING, p INT, n INT)", "STRING", "substring(s, p, n)"),
        # time arithmetic / conversions
        ("toUnixTimestamp", "(t TIMESTAMP)", "BIGINT", "unix_timestamp(t)"),
        ("fromUnixTimestamp", "(x BIGINT)", "TIMESTAMP", "to_timestamp(x)"),
        ("addDays", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(0, 0, 0, n)"),
        ("subtractDays", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(0, 0, 0, n)"),
        ("addHours", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t + make_interval(0, 0, 0, 0, n)"),
        ("subtractHours", "(t TIMESTAMP, n INT)", "TIMESTAMP", "t - make_interval(0, 0, 0, 0, n)"),
        # numeric casts (CH to<T> spellings). STRING input + DECIMAL(38,9)
        # intermediate: exact for the whole int64 range (a DOUBLE funnel
        # would silently round ints above 2^53) while still truncating
        # fractional inputs like CH does.
        ("formatDateTime", "(t TIMESTAMP, f STRING)", "STRING", _format_datetime_body()),
        ("toInt64", "(x STRING)", "BIGINT", "CAST(CAST(x AS DECIMAL(38,9)) AS BIGINT)"),
        ("toInt32", "(x STRING)", "INT", "CAST(CAST(x AS DECIMAL(38,9)) AS INT)"),
        ("toInt16", "(x STRING)", "SMALLINT", "CAST(CAST(x AS DECIMAL(38,9)) AS SMALLINT)"),
        ("toInt8", "(x STRING)", "TINYINT", "CAST(CAST(x AS DECIMAL(38,9)) AS TINYINT)"),
        # unsigned CH types land in the next-wider signed Spark type so the
        # full unsigned range fits; toUInt64 values above int64-max are out
        # of range for this engine (documented deviation — SURVEY §1.2's
        # UInt64 decision applies engine-wide)
        ("toUInt8", "(x STRING)", "SMALLINT", "CAST(CAST(x AS DECIMAL(38,9)) AS SMALLINT)"),
        ("toUInt16", "(x STRING)", "INT", "CAST(CAST(x AS DECIMAL(38,9)) AS INT)"),
        ("toUInt32", "(x STRING)", "BIGINT", "CAST(CAST(x AS DECIMAL(38,9)) AS BIGINT)"),
        ("toUInt64", "(x STRING)", "BIGINT", "CAST(CAST(x AS DECIMAL(38,9)) AS BIGINT)"),
        ("toFloat64", "(x STRING)", "DOUBLE", "CAST(x AS DOUBLE)"),
        ("toFloat32", "(x STRING)", "FLOAT", "CAST(x AS FLOAT)"),
        # toString: the STRING parameter makes Spark's implicit cast do the
        # work; timestamps render 'yyyy-MM-dd HH:mm:ss' — CH's format too
        ("toString", "(x STRING)", "STRING", "x"),
        # toDateTime accepts CH's both shapes: epoch integers (implicitly
        # cast to a digit string by the STRING parameter) and datetime text
        (
            "toDateTime",
            "(x STRING)",
            "TIMESTAMP",
            "CASE WHEN x RLIKE '^[0-9]+$' THEN to_timestamp(CAST(x AS BIGINT)) "
            "ELSE CAST(x AS TIMESTAMP) END",
        ),
        # -- string search / replace (CH arg orders) ----------------------
        # (CH position(haystack, needle) is NOT shimmed: Spark refuses to
        # replace its builtin position(substr, str), whose arg order is the
        # REVERSE of CH's — a silent-wrong-answer trap if left; use locate.)
        ("positionCaseInsensitive", "(h STRING, n STRING)", "INT", "locate(lower(n), lower(h))"),
        ("match", "(s STRING, p STRING)", "BOOLEAN", "s RLIKE p"),
        # CH extract/extractAll return the FIRST subpattern when the regex
        # has capture groups; group-less patterns must be wrapped in parens
        # here (regexp_extract group 1), a documented deviation
        ("extractAll", "(s STRING, p STRING)", "ARRAY<STRING>", "regexp_extract_all(s, p, 1)"),
        ("replaceAll", "(h STRING, p STRING, r STRING)", "STRING", "replace(h, p, r)"),
        (
            "replaceOne",
            "(h STRING, p STRING, r STRING)",
            "STRING",
            "CASE WHEN locate(p, h) > 0 THEN concat(substring(h, 1, locate(p, h) - 1), r, "
            "substring(h, locate(p, h) + length(p))) ELSE h END",
        ),
        # Java-regex replacement: backreferences are $1, not re2's \\1
        ("replaceRegexpAll", "(h STRING, p STRING, r STRING)", "STRING", "regexp_replace(h, p, r)"),
        (
            "countSubstrings",
            "(h STRING, n STRING)",
            "INT",
            "CASE WHEN length(n) = 0 THEN 0 "
            "ELSE CAST((length(h) - length(replace(h, n, ''))) / length(n) AS INT) END",
        ),
        ("multiSearchAny", "(h STRING, pats ARRAY<STRING>)", "BOOLEAN", "exists(pats, p -> locate(p, h) > 0)"),
        ("lowerUTF8", "(s STRING)", "STRING", "lower(s)"),
        ("upperUTF8", "(s STRING)", "STRING", "upper(s)"),
        ("trimBoth", "(s STRING)", "STRING", "trim(s)"),
        ("trimLeft", "(s STRING)", "STRING", "ltrim(s)"),
        ("trimRight", "(s STRING)", "STRING", "rtrim(s)"),
        ("leftPad", "(s STRING, n INT, p STRING)", "STRING", "lpad(s, n, p)"),
        ("rightPad", "(s STRING, n INT, p STRING)", "STRING", "rpad(s, n, p)"),
        # -- URL family (CH's signature corpus-governance vocabulary) -----
        # parse_url handles well-formed URLs; the regex fallbacks cover CH's
        # scheme-less acceptances ('//cdn.x/y', 'example.com/path'); '' (not
        # NULL) for no-match, CH's contract
        ("protocol", "(u STRING)", "STRING", "regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)"),
        (
            "domain",
            "(u STRING)",
            "STRING",
            "coalesce(nullif(parse_url(u, 'HOST'), ''), "
            "nullif(regexp_extract(u, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#:]+)', 1), ''), "
            "nullif(regexp_extract(u, '^([^/?#:]+)', 1), ''), '')",
        ),
        ("domainWithoutWWW", "(u STRING)", "STRING", "regexp_replace(domain(u), '^www\\\\.', '')"),
        ("topLevelDomain", "(u STRING)", "STRING", "regexp_extract(domain(u), '\\\\.([^.]+)$', 1)"),
        ("path", "(u STRING)", "STRING", "coalesce(parse_url(u, 'PATH'), '')"),
        (
            "pathFull",
            "(u STRING)",
            "STRING",
            "concat(coalesce(parse_url(u, 'PATH'), ''), CASE WHEN parse_url(u, 'QUERY') "
            "IS NOT NULL THEN concat('?', parse_url(u, 'QUERY')) ELSE '' END)",
        ),
        ("queryString", "(u STRING)", "STRING", "coalesce(parse_url(u, 'QUERY'), '')"),
        ("fragment", "(u STRING)", "STRING", "coalesce(parse_url(u, 'REF'), '')"),
        ("extractURLParameter", "(u STRING, k STRING)", "STRING", "coalesce(parse_url(u, 'QUERY', k), '')"),
        ("cutQueryString", "(u STRING)", "STRING", "regexp_replace(u, '\\\\?[^#]*', '')"),
        ("cutFragment", "(u STRING)", "STRING", "regexp_replace(u, '#.*$', '')"),
        ("cutQueryStringAndFragment", "(u STRING)", "STRING", "regexp_replace(u, '[?#].*$', '')"),
        # -- hashes --------------------------------------------------------
        # cityHash64/sipHash64 keep the CONTRACT (stable 64-bit integer
        # hash) but not CH's exact values — both map onto xxhash64, Spark's
        # native 64-bit hash. Documented deviation: values differ from a
        # real CH server, so only same-engine comparisons are meaningful.
        ("cityHash64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        ("sipHash64", "(s STRING)", "BIGINT", "xxhash64(s)"),
        # BINARY return so CH's hex(SHA256(x)) idiom round-trips to the same
        # uppercase hex a CH server prints. (MD5 is NOT shimmed — Spark's
        # builtin md5 owns the name and returns lowercase hex text; CH users
        # porting hex(MD5(x)) should write upper(md5(x)).)
        ("SHA256", "(s STRING)", "BINARY", "unhex(sha2(s, 256))"),
        # -- math ----------------------------------------------------------
        # bit manipulation (CH spellings over Spark's native operators)
        ("bitAnd", "(a BIGINT, b BIGINT)", "BIGINT", "a & b"),
        ("bitOr", "(a BIGINT, b BIGINT)", "BIGINT", "a | b"),
        ("bitXor", "(a BIGINT, b BIGINT)", "BIGINT", "a ^ b"),
        ("bitNot", "(a BIGINT)", "BIGINT", "~a"),
        ("bitShiftLeft", "(a BIGINT, n INT)", "BIGINT", "shiftleft(a, n)"),
        ("bitShiftRight", "(a BIGINT, n INT)", "BIGINT", "shiftright(a, n)"),
        ("bitTest", "(a BIGINT, n INT)", "INT", "CAST(shiftright(a, n) & 1 AS INT)"),
        ("intDivOrZero", "(a BIGINT, b BIGINT)", "BIGINT", "CASE WHEN b = 0 THEN 0 ELSE a div b END"),
        ("moduloOrZero", "(a BIGINT, b BIGINT)", "BIGINT", "CASE WHEN b = 0 THEN 0 ELSE a % b END"),
        # (roundBankers: not shimmable — Spark's bround demands a LITERAL
        # scale, which a SQL-UDF parameter is not; bround itself IS
        # HALF_EVEN with CH's (x, n) arg shape, so users call it directly.
        # sign needs no shim — Spark's builtin shares CH's name/semantics.)
        # -- arrays (typed-signature forms; lambda spellings like arrayMap
        # are paren-aware rewrites in functions/compat.py) ----------------
        (
            "arraySum",
            "(arr ARRAY<DOUBLE>)",
            "DOUBLE",
            "aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + coalesce(x, CAST(0.0 AS DOUBLE)))",
        ),
        (
            "arrayAvg",
            "(arr ARRAY<DOUBLE>)",
            "DOUBLE",
            "CASE WHEN size(arr) > 0 THEN aggregate(arr, CAST(0.0 AS DOUBLE), "
            "(a, x) -> a + coalesce(x, CAST(0.0 AS DOUBLE))) / size(arr) END",
        ),
        # indexOf: 1-based, 0 when absent (array_position's exact contract);
        # non-string arrays reach it through Spark's implicit element cast
        ("indexOf", "(arr ARRAY<STRING>, x STRING)", "INT", "CAST(coalesce(array_position(arr, x), 0) AS INT)"),
    ] + _round5_probe_entries() + _round6_probe_entries():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} RETURNS {ret} RETURN {body}"
        )

    # Same WHEN ladder as format_readable_size, spelled in SQL.
    cases = []
    for power, unit in enumerate(_UNITS[:-1]):
        threshold = float(1024 ** (power + 1))
        scaled = "CAST(x AS DOUBLE)" if power == 0 else f"CAST(x AS DOUBLE) / {float(1024 ** power)!r}"
        # bround = HALF_EVEN, matching C/Python printf (see format_readable_size)
        cases.append(
            f"WHEN CAST(x AS DOUBLE) < {threshold!r} THEN format_string('%.2f {unit}', bround({scaled}, 2))"
        )
    cases_sql = "\n          ".join(cases)
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION formatReadableSize(x BIGINT)
        RETURNS STRING
        RETURN CASE
          {cases_sql}
          ELSE format_string('%.2f EiB', bround(CAST(x AS DOUBLE) / {float(1024 ** 6)!r}, 2))
        END
        """
    )

    # decimal sibling: 1000-based units, CH's 'KB/MB/GB' spellings
    dec_cases = []
    for power, unit in enumerate(["B", "KB", "MB", "GB", "TB", "PB"]):
        threshold = float(1000 ** (power + 1))
        scaled = (
            "CAST(x AS DOUBLE)" if power == 0
            else f"CAST(x AS DOUBLE) / {float(1000 ** power)!r}"
        )
        dec_cases.append(
            f"WHEN abs(CAST(x AS DOUBLE)) < {threshold!r} "
            f"THEN format_string('%.2f {unit}', bround({scaled}, 2))"
        )
    dec_sql = "\n          ".join(dec_cases)
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION formatReadableDecimalSize(x BIGINT)
        RETURNS STRING
        RETURN CASE
          {dec_sql}
          ELSE format_string('%.2f EB', bround(CAST(x AS DOUBLE) / {float(1000 ** 6)!r}, 2))
        END
        """
    )

    # human time spans, CH's exact rendering ('2 hours, 2 minutes and
    # 2 seconds'; months = 30.5 days, years = 365 days — CH's constants).
    # One fold over the unit ladder; the finish lambda assembles the
    # ', '-joined list with ' and ' before the last part.
    units = [
        ("year", 31536000), ("month", 2635200), ("day", 86400),
        ("hour", 3600), ("minute", 60), ("second", 1),
    ]
    unit_arr = ", ".join(
        f"named_struct('n', '{n}', 's', CAST({s} AS BIGINT))" for n, s in units
    )
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION formatReadableTimeDelta(x BIGINT)
        RETURNS STRING
        RETURN aggregate(
          array({unit_arr}),
          named_struct('rem', x, 'parts', CAST(array() AS ARRAY<STRING>)),
          (acc, u) -> named_struct(
            'rem', acc.rem % u.s,
            'parts', IF(acc.rem div u.s > 0,
              concat(acc.parts, array(concat(
                CAST(acc.rem div u.s AS STRING), ' ', u.n,
                IF(acc.rem div u.s = 1, '', 's')))),
              acc.parts)),
          acc -> CASE
            WHEN size(acc.parts) = 0 THEN '0 seconds'
            WHEN size(acc.parts) = 1 THEN element_at(acc.parts, 1)
            ELSE concat(array_join(slice(acc.parts, 1, size(acc.parts) - 1), ', '),
                        ' and ', element_at(acc.parts, -1))
          END)
        """
    )


def format_readable_size_oracle_sql(expr: str) -> str:
    """DuckDB-dialect equivalent of :func:`format_readable_size` applied to
    ``expr`` — used to build oracle SQL strings that must hash-match Spark.
    """
    cases = []
    for power, unit in enumerate(_UNITS[:-1]):
        threshold = float(1024 ** (power + 1))
        scaled = f"CAST({expr} AS DOUBLE)" if power == 0 else f"CAST({expr} AS DOUBLE) / {float(1024 ** power)!r}"
        cases.append(f"WHEN CAST({expr} AS DOUBLE) < {threshold!r} THEN printf('%.2f {unit}', {scaled})")
    cases_sql = "\n  ".join(cases)
    return (
        "CASE\n  "
        + cases_sql
        + f"\n  ELSE printf('%.2f EiB', CAST({expr} AS DOUBLE) / {float(1024 ** 6)!r})\nEND"
    )

"""The one SQL scanner of the dialect layer (``functions/compat.py``): every
rewrite agrees on what a string literal, a comment and depth 0 are.

A literal is '...' or "..." with backslash escapes, a comment runs from --
to the end of the line, and neither is code. Each statement below holds an
escaped quote or a -- inside a literal, which both ClickHouse and Spark
accept; a rewrite with its own lexical rule used to cut, split or rewrite
inside the literal."""

import os
import re

import pytest

from clickhousedatamocker_spark.engine import Engine
from clickhousedatamocker_spark.functions import compat
from clickhousedatamocker_spark.functions.compat import (
    _rsplit_top_as,
    _split_top,
    extract_query_settings,
    scan,
    translate_ch_sql,
)


def test_scan_skips_literals_and_comments_and_reports_depth():
    sql = "f(a, 'x(\\'', [b]) -- c(\n) \"y]\""
    code = [(sql[i], d) for i, _, d in scan(sql)]
    assert "".join(c for c, _ in code) == "f(a, , [b]) \n) "
    # an opener and its closer report the depth outside the pair
    assert [d for c, d in code if c in "()[]"] == [0, 1, 1, 0, -1]
    assert _split_top("'a,\\'b', c -- d, e\n, f") == ["'a,\\'b'", "c -- d, e", "f"]


@pytest.mark.parametrize(
    "sql, want",
    [
        (r"SELECT ['it\'s', 'x'] AS a", r"SELECT array('it\'s', 'x') AS a"),
        (
            r"SELECT arrayMap(x -> concat(x, 'a\')b'), ['p']) AS a",
            r"SELECT transform(array('p'), x -> concat(x, 'a\')b')) AS a",
        ),
        (r"WITH 'it\'s (x' AS s SELECT s", r"SELECT ('it\'s (x')"),
        (r"SELECT {'k\'': 1} AS m", r"SELECT map('k\'', 1) AS m"),
        ("SELECT {'a:b': 1} AS m", "SELECT map('a:b', 1) AS m"),
        (
            "SELECT splitByChar(')', s)[2] AS x FROM t",
            "SELECT element_at(splitByChar(')', s), 2) AS x FROM t",
        ),
        (
            "SELECT count() AS n FROM t -- system.parts, don't\n",
            "SELECT count(*) AS n FROM t -- system.parts, don't\n",
        ),
    ],
)
def test_translate_keeps_literals_and_comments_verbatim(sql, want):
    assert translate_ch_sql(sql) == want


def test_rsplit_top_as_skips_an_escaped_quote():
    assert _rsplit_top_as(r"concat('x\'', ' AS y') AS z") == (r"concat('x\'', ' AS y')", "z")


def test_statements_with_escaped_quotes_and_dashes_in_literals(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE s (k UInt64, v String) ENGINE = MergeTree() ORDER BY k")
    e.sql("INSERT INTO s VALUES (1, 'a--b')")
    e.sql(r"INSERT INTO s VALUES (2, 'p'), (2, 'q'), (3, 'don\'t LIMIT 1'), (4, 'it\'s ORDER BY')")
    assert e.sql("ALTER TABLE s UPDATE v = 'x--y' WHERE k = 2").first()[0] == 2
    rows = sorted(map(tuple, e.sql("SELECT k, v FROM s").collect()))
    assert rows == [(1, "a--b"), (2, "x--y"), (2, "x--y"), (3, "don't LIMIT 1"), (4, "it's ORDER BY")]

    don = e.sql(r"SELECT DISTINCT ON (k) k, v FROM s WHERE v <> 'don\'t LIMIT 1' ORDER BY k")
    assert [tuple(r) for r in don.collect()] == [(1, "a--b"), (2, "x--y"), (4, "it's ORDER BY")]
    qualify = e.sql(
        "SELECT k, v FROM s QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1 "
        r"AND v <> 'it\'s ORDER BY' ORDER BY k"
    )
    assert [tuple(r) for r in qualify.collect()] == [(1, "a--b"), (2, "x--y"), (3, "don't LIMIT 1")]


def test_query_settings_inside_a_literal_stay_in_the_query():
    sql = "SELECT v FROM t WHERE v = 'x SETTINGS final=1'"
    assert extract_query_settings(sql) == (sql, {})
    assert extract_query_settings(sql + " SETTINGS final=1") == (sql, {"final": "1"})


def test_distinct_on_splits_at_the_top_level_from(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE t (k UInt64, v String) ENGINE = MergeTree() ORDER BY k")
    e.sql("INSERT INTO t VALUES (1, 'a'), (1, 'b'), (2, 'c')")
    rows = e.sql(
        "SELECT DISTINCT ON (k) k, 'x FROM y' AS s, (SELECT max(v) FROM t) AS m FROM t ORDER BY k"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "x FROM y", "c"), (2, "x FROM y", "c")]


# a hand-rolled quote tracker: ``elif c in "'\""`` or ``elif c in ("'", '"')``
_QUOTE_TRACKER = re.compile(r"""elif\s+\w+\s+in\s+(?:"'\\""|\(\s*"'"\s*,\s*'"'\s*\))""")


def test_no_hand_rolled_quote_tracker_outside_the_scanner():
    package = os.path.dirname(os.path.dirname(compat.__file__))
    found = []
    for d, _, files in os.walk(package):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    for n, line in enumerate(fh, 1):
                        if _QUOTE_TRACKER.search(line):
                            found.append(f"{os.path.relpath(path, package)}:{n}")
    assert found == [], "use functions.compat.scan instead: " + ", ".join(found)

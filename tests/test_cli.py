"""python -m clickhousedatamocker_spark — the clickhouse-client-shaped CLI.

One subprocess invocation per JVM is slow (~15 s), so the e2e test packs
create+insert+select into one run and checks cross-invocation persistence
with a second. Statement splitting is unit-tested without Spark."""

import os
import subprocess
import sys

from clickhousedatamocker_spark.__main__ import _split_statements


def test_split_statements_quote_safe():
    assert _split_statements("a; b ;; c") == ["a", "b", "c"]
    assert _split_statements("SELECT ';' AS s; SELECT 1") == ["SELECT ';' AS s", "SELECT 1"]
    assert _split_statements('SELECT ";" ; x') == ['SELECT ";"', "x"]
    assert _split_statements("  ") == []
    # an escaped quote does not close the literal; -- inside a literal is
    # data, and a -- comment hides its ';' and quotes
    assert _split_statements(r"SELECT 'it\'s; x' AS s; SELECT 2") == [
        r"SELECT 'it\'s; x' AS s",
        "SELECT 2",
    ]
    assert _split_statements("SELECT 'a--b;c' AS s; SELECT 3") == ["SELECT 'a--b;c' AS s", "SELECT 3"]
    assert _split_statements("SELECT 1 -- don't; split\n; SELECT 4") == [
        "SELECT 1 -- don't; split",
        "SELECT 4",
    ]


def _run(wh, *args, input_text=None):
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return subprocess.run(
        [sys.executable, "-m", "clickhousedatamocker_spark", "--warehouse", wh, *args],
        capture_output=True,
        text=True,
        input=input_text,
        env=env,
        timeout=180,
    )


def test_cli_end_to_end_and_persistence(tmp_path):
    wh = str(tmp_path / "wh")
    r = _run(
        wh,
        "-q",
        "CREATE TABLE c (k UInt64, v Float64) ENGINE = MergeTree() ORDER BY k",
        "-q",
        "INSERT INTO c VALUES (1, 1.5), (2, 2.5); SELECT k, v FROM c ORDER BY k",
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert r.stdout.splitlines() == ["1\t1.5", "2\t2.5"]
    # second invocation: same warehouse, fresh process — tables persist;
    # stdin statement flow; error statements exit nonzero with one line
    r2 = _run(wh, input_text="SELECT sum(v) AS s FROM c; SELECT nope FROM c;")
    assert r2.returncode == 1
    assert r2.stdout.splitlines() == ["4.0"]
    assert r2.stderr.strip().splitlines()[-1].startswith("error:")


def test_cli_settings_observably_change_results(tmp_path):
    """--settings and in-session SET act on results (round-5 verdict ask
    #8): a session `limit` caps rows, SET inside the session overrides it,
    and session_timezone remaps timestamp rendering via the Spark conf."""
    wh = str(tmp_path / "wh")
    r = _run(
        wh,
        "--settings",
        "limit=2",
        "-q",
        "SELECT number FROM numbers(10) ORDER BY number",
        "-q",
        # per-query SETTINGS overrides the session default
        "SELECT number FROM numbers(10) ORDER BY number SETTINGS limit = 3",
        "-q",
        # in-session SET replaces the session default for later statements
        "SET limit = 1; SELECT number FROM numbers(10) ORDER BY number",
        "-q",
        # session_timezone maps onto spark.sql.session.timeZone
        "SET session_timezone = 'UTC'; "
        "SELECT CAST(toDateTime('2026-01-01 12:00:00') AS String) AS s",
    )
    assert r.returncode == 0, r.stderr[-800:]
    assert r.stdout.splitlines() == [
        "0",
        "1",
        "0",
        "1",
        "2",
        "0",
        "2026-01-01 12:00:00",
    ]

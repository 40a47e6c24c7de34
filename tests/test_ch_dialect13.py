"""Dialect batch 13 (probe-driven, probe wave 13): integer exponentials,
CH rounding ladders, numeric trunc, vector norms/distances, SQL/JSON path
predicates, URL/IPv6 helpers, bit distance, the remaining hash-name family,
and server introspection. Values are goldens from the CH docs / math, not
just execution checks (the round-5 memory trap: arg-order and contract bugs
run fine and return wrong values)."""

import tempfile

import pytest

from clickhousedatamocker_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, tempfile.mkdtemp(prefix="dialect13_"))


def one(eng, q):
    return eng.sql(q).first()["a"]


def test_integer_exponentials(eng):
    assert one(eng, "SELECT intExp2(4) AS a") == 16
    assert one(eng, "SELECT intExp2(0) AS a") == 1
    assert one(eng, "SELECT intExp10(3) AS a") == 1000
    assert one(eng, "SELECT intExp10(0) AS a") == 1
    # exact at the top of the long range — a double round-trip would be off
    assert one(eng, "SELECT intExp10(18) AS a") == 10**18


def test_rounding_ladders(eng):
    # CH docs ladder: <1->0, 1-17->17, 18-24->18, 25-34->25, ...
    assert one(eng, "SELECT roundAge(0) AS a") == 0
    assert one(eng, "SELECT roundAge(12) AS a") == 17
    assert one(eng, "SELECT roundAge(20) AS a") == 18
    assert one(eng, "SELECT roundAge(25) AS a") == 25
    assert one(eng, "SELECT roundAge(60) AS a") == 55
    assert one(eng, "SELECT roundDuration(0) AS a") == 0
    assert one(eng, "SELECT roundDuration(45) AS a") == 30
    assert one(eng, "SELECT roundDuration(4000) AS a") == 3600
    assert one(eng, "SELECT roundDuration(100000) AS a") == 36000


def test_numeric_trunc(eng):
    assert one(eng, "SELECT trunc(3.9) AS a") == 3.0
    assert one(eng, "SELECT trunc(-3.9) AS a") == -3.0
    assert one(eng, "SELECT truncate(3.99, 1) AS a") == 3.9
    # Spark's own DATE trunc is untouched (2-arg form has a comma)
    assert str(one(eng, "SELECT trunc(DATE'2026-03-15', 'year') AS a")) == "2026-01-01"


def test_from_days_since_year_zero_roundtrip(eng):
    assert str(one(eng, "SELECT fromDaysSinceYearZero(739982) AS a")) == "2026-01-01"
    assert one(
        eng,
        "SELECT fromDaysSinceYearZero(toDaysSinceYearZero(toDate('1999-12-31'))) "
        "= toDate('1999-12-31') AS a",
    )


def test_vector_norms_and_distances(eng):
    dbl = "CAST(array({}) AS ARRAY<DOUBLE>)"
    assert one(eng, f"SELECT arrayL1Norm({dbl.format('1, -2')}) AS a") == 3.0
    assert one(eng, f"SELECT arrayL2Norm({dbl.format('3, 4')}) AS a") == 5.0
    assert one(eng, f"SELECT arrayLinfNorm({dbl.format('1, -5')}) AS a") == 5.0
    a12, a31 = dbl.format("1, 2"), dbl.format("3, 1")
    assert one(eng, f"SELECT arrayL1Distance({a12}, {a31}) AS a") == 3.0
    assert one(eng, f"SELECT arrayL2Distance({dbl.format('0, 0')}, {dbl.format('3, 4')}) AS a") == 5.0
    assert one(eng, f"SELECT arrayLinfDistance({a12}, {dbl.format('4, 1')}) AS a") == 3.0
    assert one(eng, f"SELECT arrayCosineDistance({dbl.format('1, 0')}, {dbl.format('0, 1')}) AS a") == 1.0
    assert one(eng, f"SELECT dotProduct({a12}, {dbl.format('3, 4')}) AS a") == 11.0
    assert list(one(eng, f"SELECT arrayCumSumNonNegative({dbl.format('1, -3, 2')}) AS a")) == [1.0, 0.0, 2.0]


def test_sql_json_path_predicates(eng):
    assert one(eng, """SELECT JSON_EXISTS('{"a": 1}', '$.a') AS a""") == 1
    assert one(eng, """SELECT JSON_EXISTS('{"a": 1}', '$.b') AS a""") == 0
    # CH JSON_QUERY wraps matches in an array; string matches re-quote
    assert one(eng, """SELECT JSON_QUERY('{"a": [1, 2]}', '$.a') AS a""") == "[[1,2]]"
    assert one(eng, """SELECT JSON_QUERY('{"a": 1}', '$.a') AS a""") == "[1]"
    assert one(eng, """SELECT JSON_QUERY('{"a": "x"}', '$.a') AS a""") == '["x"]'
    assert one(eng, """SELECT JSON_QUERY('{"a": 1}', '$.b') AS a""") is None
    assert one(eng, "SELECT toJSONString(array(1, 2)) AS a") == "[1,2]"


def test_url_and_ip_helpers(eng):
    assert list(one(eng, "SELECT extractURLParameters('https://ch.com/?b=1&c=2') AS a")) == [
        "b=1",
        "c=2",
    ]
    assert one(eng, "SELECT isIPv6String('::1') AS a") == 1
    assert one(eng, "SELECT isIPv6String('2001:db8:85a3::8a2e:370:7334') AS a") == 1
    assert one(eng, "SELECT isIPv6String('192.168.0.1') AS a") == 0
    assert one(eng, "SELECT isIPv6String('hello') AS a") == 0
    assert (
        one(eng, "SELECT IPv4ToIPv6(IPv4StringToNum('192.168.0.1')) AS a")
        == "::ffff:192.168.0.1"
    )


def test_bit_and_hash_family(eng):
    assert one(eng, "SELECT bitHammingDistance(5, 3) AS a") == 2  # 101 ^ 011 = 110
    assert one(eng, "SELECT bitHammingDistance(7, 7) AS a") == 0
    # stable-64-bit-contract aliases (documented deviation: xxhash64 values,
    # same policy as cityHash64) — pinned so the alias target can't drift
    assert one(eng, "SELECT murmurHash2_64('a') = xxhash64('a') AS a")
    assert one(eng, "SELECT murmurHash3_64('a') = xxhash64('a') AS a")
    assert one(eng, "SELECT hiveHash('a') = hash('a') AS a")
    # sumKahan: accurate-sum contract via Spark's sum
    assert one(eng, "SELECT sumKahan(x) AS a FROM VALUES (1.0), (2.0) AS t(x)") == 3.0


def test_server_introspection(eng):
    u1 = one(eng, "SELECT serverUUID() AS a")
    u2 = one(eng, "SELECT serverUUID() AS a")
    assert u1 == u2 and len(u1) == 36  # stable for the process, like CH
    assert one(eng, "SELECT UTCTimestamp() IS NOT NULL AS a")
    assert one(eng, "SELECT timezoneOf(now()) AS a") == "UTC"

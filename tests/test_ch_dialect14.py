"""Dialect batch 14 (probe-driven, probe wave 14): date-interval
spellings, map merges, array fill/substr family, range-guarded checked
casts, misc predicates, mortonDecode(dims, code), and loud gates for the
non-expressible statistics. Values are goldens from CH docs / math."""

import datetime
import tempfile

import pytest

from clickhousedatamocker_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, tempfile.mkdtemp(prefix="dialect14_"))


def one(eng, q):
    return eng.sql(q).first()["a"]


def test_date_interval_spellings(eng):
    assert one(eng, "SELECT addDate(toDate('2026-01-01'), INTERVAL 3 DAY) AS a") == datetime.date(2026, 1, 4)
    assert one(eng, "SELECT subDate(toDate('2026-01-10'), INTERVAL 3 DAY) AS a") == datetime.date(2026, 1, 7)
    assert one(
        eng, "SELECT timestampAdd(toDateTime('2026-01-01 00:00:00'), INTERVAL 1 HOUR) AS a"
    ) == datetime.datetime(2026, 1, 1, 1, 0)
    assert one(
        eng, "SELECT timestampSub(toDateTime('2026-01-01 02:00:00'), INTERVAL 1 HOUR) AS a"
    ) == datetime.datetime(2026, 1, 1, 1, 0)
    # ISO year of 2026-01-01 is 2026; ISO week 1 starts Mon 2025-12-29
    assert one(eng, "SELECT toStartOfISOYear(toDate('2026-01-01')) AS a") == datetime.date(2025, 12, 29)
    # mode-0 weeks end Saturday; 2026-08-12 is a Wednesday
    assert one(eng, "SELECT toLastDayOfWeek(toDate('2026-08-12')) AS a") == datetime.date(2026, 8, 15)
    assert one(eng, "SELECT toLastDayOfWeek(toDate('2026-08-15')) AS a") == datetime.date(2026, 8, 15)
    assert one(eng, "SELECT YYYYMMDDhhmmssToDateTime(20260315103000) AS a") == datetime.datetime(2026, 3, 15, 10, 30)


def test_checked_casts_enforce_ch_ranges(eng):
    """Round-6: try_cast alone let 300 through toUInt8OrNull (Spark has no
    UInt8) — the checked conversions now carry explicit CH range guards."""
    assert one(eng, "SELECT toUInt8OrNull('42') AS a") == 42
    assert one(eng, "SELECT toUInt8OrNull('300') AS a") is None
    assert one(eng, "SELECT toUInt8OrNull('-1') AS a") is None
    assert one(eng, "SELECT toInt8OrNull('-128') AS a") == -128
    assert one(eng, "SELECT toInt8OrZero('-200') AS a") == 0
    assert one(eng, "SELECT toUInt16OrNull('65535') AS a") == 65535
    assert one(eng, "SELECT toUInt16OrNull('65536') AS a") is None
    assert one(eng, "SELECT toUInt32OrNull('4294967295') AS a") == 4294967295
    assert one(eng, "SELECT toUInt64OrNull('-1') AS a") is None
    assert one(eng, "SELECT accurateCastOrNull(300, 'UInt8') AS a") is None
    assert one(eng, "SELECT accurateCastOrNull(200, 'UInt8') AS a") == 200
    with pytest.raises(NotImplementedError, match="unsupported type"):
        eng.sql("SELECT accurateCastOrNull(1, 'LowCardinality(String)') AS a")


def test_array_family(eng):
    assert list(one(eng, "SELECT arraySymmetricDifference([1, 2], [2, 3]) AS a")) == [1, 3]
    assert one(eng, "SELECT hasSubstr([1, 2, 3, 4], [2, 3]) AS a") is True
    assert one(eng, "SELECT hasSubstr([1, 2, 3, 4], [2, 4]) AS a") is False
    assert one(eng, "SELECT hasSubstr([1, 2], CAST(array() AS ARRAY<INT>)) AS a") is True
    # CH doc example: fill-forward where the lambda fails
    assert list(one(eng, "SELECT arrayFill(x -> x < 10, [1, 20, 2, 30]) AS a")) == [1, 1, 2, 2]
    assert list(one(eng, "SELECT arrayReverseFill(x -> x < 10, [20, 1, 30, 2]) AS a")) == [1, 1, 2, 2]
    # leading element that fails the predicate stays as-is (nothing before)
    assert list(one(eng, "SELECT arrayFill(x -> x > 100, [1, 2]) AS a")) == [1, 2]
    assert one(eng, "SELECT indexOfAssumeSorted([1, 3, 5, 7], 5) AS a") == 3


def test_map_merges(eng):
    assert dict(one(eng, "SELECT mapAdd(map('k', 1), map('k', 2)) AS a")) == {"k": 3}
    assert dict(one(eng, "SELECT mapAdd(map('a', 1), map('b', 2)) AS a")) == {"a": 1, "b": 2}
    assert dict(one(eng, "SELECT mapSubtract(map('k', 5), map('k', 2)) AS a")) == {"k": 3}
    assert dict(one(eng, "SELECT mapPopulateSeries(map(1, 10, 4, 40)) AS a")) == {
        1: 10, 2: 0, 3: 0, 4: 40,
    }
    assert dict(one(eng, "SELECT mapExtractKeyLike(map('abc', 1, 'xyz', 2), 'a%') AS a")) == {"abc": 1}


def test_search_and_string_helpers(eng):
    # leftmost MATCH wins, not needle order: 'o' at 5 beats 'world' at 7
    assert one(eng, "SELECT multiSearchFirstIndex('hello world', ['xyz', 'wor']) AS a") == 2
    assert one(eng, "SELECT multiSearchFirstIndex('hello world', ['o', 'world']) AS a") == 1
    assert one(eng, "SELECT multiSearchFirstIndex('abc', ['x', 'y']) AS a") == 0
    assert one(eng, "SELECT hasTokenCaseInsensitive('hello World', 'world') AS a") is True
    assert one(eng, "SELECT hasTokenCaseInsensitive('helloworld x', 'world') AS a") is False
    assert one(eng, "SELECT countDigits(12345) AS a") == 5
    assert one(eng, "SELECT countDigits(-7) AS a") == 1
    assert one(eng, "SELECT regexpQuoteMeta('a.b?') AS a") == "a\\.b\\?"
    assert one(eng, "SELECT isValidUTF8('abc') AS a") == 1


def test_misc_and_morton(eng):
    assert one(eng, "SELECT sumWithOverflow(x) AS a FROM VALUES (1), (2) AS t(x)") == 3
    assert one(eng, "SELECT isZeroOrNull(0) AS a") == 1
    assert one(eng, "SELECT isZeroOrNull(5) AS a") == 0
    assert one(eng, "SELECT toBool('true') AS a") is True
    assert list(one(eng, "SELECT bitmaskToArray(10) AS a")) == [2, 8]
    assert one(eng, "SELECT parseReadableSize('1 KiB') AS a") == 1024
    assert one(eng, "SELECT parseReadableSize('1.5 MB') AS a") == 1500000
    # CH's real (dims, code) signature + the legacy 1-arg form both work
    assert tuple(one(eng, "SELECT mortonDecode(2, 9) AS a")) == (1, 2)
    assert tuple(one(eng, "SELECT mortonDecode(mortonEncode(123, 456)) AS a")) == (123, 456)
    # 3+-D decode graduated from a gate to the chMortonDecode UDF in
    # batch 23 (array shape, tests/test_ch_dialect23.py)
    assert list(one(eng, "SELECT mortonDecode(3, 53) AS a")) == [1, 2, 3]


def test_batch14_loud_gates(eng):
    for q, msg in [
        ("SELECT tuplePlus((1, 2), (3, 4)) AS a", "zip_with"),
        # cramersV / theilsU graduated to collect+UDF aggregates in
        # batch 25 — goldens in tests/test_ch_dialect25.py
        # damerauLevenshteinDistance / jaroWinklerSimilarity graduated to
        # Arrow UDFs in batch 23 — goldens in tests/test_ch_dialect23.py
        # arraySplit graduated from a gate to a shim in batch 21 — goldens
        # in tests/test_ch_dialect21.py; the 3+-array form still gates
        ("SELECT arraySplit((x, y, z) -> y, [1], [1], [1]) AS a", "arrays_zip"),
    ]:
        with pytest.raises(NotImplementedError, match=msg):
            eng.sql(q).collect()

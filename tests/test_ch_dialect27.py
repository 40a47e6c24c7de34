"""Dialect batch 27 (round 10, probe wave 27):
every UNRESOLVED_ROUTINE fall-through the wave surfaced, closed as a real
rewrite or a loud gate. 159 of 190 probed spellings already answered; the
31 failures triaged here.

Graduations: deltaSumTimestamp (carries its own ordering column — the old
arrival-order gate was wrong), maxIntersectionsPosition (the +1/−1 sweep
records where the max is first set). New rewrites: throwIf,
ULIDStringToDateTime (Crockford fold), categoricalInformationValue (CH's
binary-indicator IV formula, pure SQL), any/anyLast RESPECT NULLS, the
IPv6 conversion family (stdlib ipaddress UDFs), parseTimeDelta, the
approx_top_k/approx_top_sum aliases and plural quantilesGK. New gates:
blockSize/rowNumberInBlock (pipeline blocks), dumpColumnStructure,
getMacro, isDecimalOverflow, arrayEnumerate*Ranked, hilbertEncode/Decode
(CH's curve orientation lives in its lookup tables — bit parity
unverifiable; mortonEncode is the real locality-bucketing surface)."""

import datetime
import math

import pytest

from clickhousedatamocker_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("wh27")))


def one(eng, sql):
    rows = eng.sql(sql).collect()
    assert len(rows) == 1
    return rows[0]


def test_throw_if(eng):
    r = one(eng, "SELECT throwIf(false) AS a, throwIf(0, 'custom') AS b")
    assert r["a"] == 0 and r["b"] == 0
    with pytest.raises(Exception, match="boom"):
        eng.sql("SELECT throwIf(1 = 1, 'boom') AS a").collect()


def test_ulid_string_to_datetime(eng):
    """Reference decode of the canonical ULID-spec example, verified
    against an independent Python Crockford fold (1469922850259 ms)."""
    r = one(eng, "SELECT ULIDStringToDateTime('01ARZ3NDEKTSV4RRFFQ69G5FAV') AS a")
    assert r["a"] == datetime.datetime(2016, 7, 30, 23, 54, 10, 259000)
    # round-trip with our own generateULID: the instant is ~now
    r = one(
        eng,
        "SELECT ULIDStringToDateTime(generateULID()) "
        ">= current_timestamp() - INTERVAL 5 MINUTE AS a",
    )
    assert r["a"] is True
    with pytest.raises(Exception, match="26 characters"):
        eng.sql("SELECT ULIDStringToDateTime('short') AS a").collect()


def test_categorical_information_value(eng):
    """Hand-computed: rows (cat, tag) = (1,0),(1,1),(0,1): t1=2, t0=1,
    a=1, b=1 → (0.5 − 1)·ln(0.5) = 0.5·ln 2."""
    r = one(
        eng,
        "SELECT categoricalInformationValue(c, t) AS a "
        "FROM (VALUES (1, 0), (1, 1), (0, 1)) AS x(c, t)",
    )
    assert r["a"][0] == pytest.approx(0.5 * math.log(2.0), rel=1e-12)
    # multiple category columns → one entry each; NULL rows skipped; a
    # zero cell (c2 never fires in the tag=0 class) → NULL term, not an
    # ANSI division abort
    r = one(
        eng,
        "SELECT categoricalInformationValue(c1, c2, t) AS a FROM (VALUES "
        "(1, 0, 0), (1, 1, 1), (0, 1, 1), (CAST(NULL AS INT), 1, 0)) AS x(c1, c2, t)",
    )
    assert len(r["a"]) == 2
    assert r["a"][0] == pytest.approx(0.5 * math.log(2.0), rel=1e-12)
    assert r["a"][1] is None


def test_max_intersections_position(eng):
    """Intervals (1,3),(2,5),(10,12): the overlap maximum (2) is first
    reached at start=2 — the CH docs example."""
    r = one(
        eng,
        "SELECT maxIntersections(s, e) AS m, maxIntersectionsPosition(s, e) AS p "
        "FROM (VALUES (1, 3), (2, 5), (10, 12)) AS t(s, e)",
    )
    assert r["m"] == 2 and r["p"] == 2
    # single interval: max 1 at its own start
    r = one(
        eng,
        "SELECT maxIntersectionsPosition(s, e) AS p FROM (VALUES (7, 9)) AS t(s, e)",
    )
    assert r["p"] == 7


def test_delta_sum_timestamp(eng):
    """Rows arrive out of order; sorted by ts the series is 1, 3, 2 →
    positive deltas sum to 2 (first value is the baseline, the decrease
    is ignored). NULLs skipped."""
    r = one(
        eng,
        "SELECT deltaSumTimestamp(v, t) AS a FROM (VALUES "
        "(3, 11), (1, 10), (2, 12), (CAST(NULL AS INT), 13)) AS t(v, t)",
    )
    assert r["a"] == 2.0
    # monotone series: total - first
    r = one(
        eng,
        "SELECT deltaSumTimestamp(v, t) AS a FROM (VALUES "
        "(1, 1), (4, 2), (9, 3)) AS t(v, t)",
    )
    assert r["a"] == 8.0


def test_respect_nulls_aggregates(eng):
    r = one(
        eng,
        "SELECT any_respect_nulls(x) AS a, anyLast_respect_nulls(x) AS b "
        "FROM (VALUES (CAST(NULL AS INT)), (2)) AS t(x)",
    )
    assert r["a"] is None and r["b"] == 2


def test_ipv6_family(eng):
    r = one(
        eng,
        "SELECT toIPv6('192.168.0.1') AS a, toIPv6('2001:DB8::1') AS b, "
        "toIPv6OrNull('bad') AS c, toIPv6OrZero('bad') AS d",
    )
    assert r["a"] == "::ffff:192.168.0.1"  # CH dotted-quad mapped form
    assert r["b"] == "2001:db8::1"
    assert r["c"] is None and r["d"] == "::"
    r = one(eng, "SELECT IPv6CIDRToRange(toIPv6('2001:0db8::1'), 32) AS a")
    assert r["a"]["lower"] == "2001:db8::"
    assert r["a"]["upper"] == "2001:db8:ffff:ffff:ffff:ffff:ffff:ffff"
    # cutIPv6 zeroes the low 2 bytes of a v6 address
    r = one(
        eng,
        "SELECT cutIPv6(toIPv6('2001:db8:0:85a3::ac1f:8001'), 2, 0) AS a",
    )
    assert r["a"] == "2001:db8:0:85a3::ac1f:0"
    r = one(
        eng,
        "SELECT toIPv4OrNull('1.2.3.4') AS a, toIPv4OrNull('999.2.3.4') AS b, "
        "toIPv4OrZero('bad') AS c",
    )
    assert r["a"] == 16909060 and r["b"] is None and r["c"] == 0


def test_parse_time_delta(eng):
    """CH docs goldens: '11s+22min' = 1331, '1yr2mo' = 36806400."""
    r = one(
        eng,
        "SELECT parseTimeDelta('11s+22min') AS a, parseTimeDelta('1yr2mo') AS b, "
        "parseTimeDelta('1h 30m') AS c, parseTimeDelta('junk') AS d",
    )
    assert r["a"] == 1331.0 and r["b"] == 36806400.0 and r["c"] == 5400.0
    assert r["d"] is None


def test_approx_top_aliases_and_plural_gk(eng):
    # r11 ADVICE: CH's approx_top_* return Array(Tuple(item, count, error)),
    # not topK's bare value array — counts exact here, error always 0
    r = one(
        eng,
        "SELECT approx_top_k(2)(x) AS a FROM "
        "(SELECT 'x' AS x UNION ALL SELECT 'x' UNION ALL SELECT 'y')",
    )
    assert [(e["item"], e["count"], e["error"]) for e in r["a"]] == [
        ("x", 2, 0),
        ("y", 1, 0),
    ]
    r = one(
        eng,
        "SELECT approx_top_sum(1)(x, w) AS a FROM (VALUES ('a', 1), ('b', 5)) AS t(x, w)",
    )
    # weight-ranked, not count-ranked; count field carries the weight sum
    assert [(e["item"], e["count"], e["error"]) for e in r["a"]] == [("b", 5, 0)]
    r = one(
        eng,
        "SELECT quantilesGK(100, 0.25, 0.75)(x) AS a "
        "FROM (VALUES (1.0), (2.0), (3.0), (4.0)) AS t(x)",
    )
    assert len(r["a"]) == 2 and float(r["a"][0]) <= float(r["a"][1])


def test_batch27_loud_gates(eng):
    for sql, frag in [
        ("SELECT hilbertEncode(3, 4) AS a", "mortonEncode"),
        ("SELECT hilbertDecode(2, 31) AS a", "mortonDecode"),
        ("SELECT blockSize() AS a", "pipeline concept"),
        ("SELECT rowNumberInBlock() AS a", "arrival order"),
        ("SELECT dumpColumnStructure(1) AS a", "toTypeName"),
        ("SELECT getMacro('replica') AS a", "config macros"),
        ("SELECT isDecimalOverflow(toDecimal32(1.0, 0), 9) AS a", "countDigits"),
        ("SELECT arrayEnumerateUniqRanked(array(1)) AS a", "flatten"),
        ("SELECT arrayEnumerateDenseRanked(array(1)) AS a", "flatten"),
    ]:
        with pytest.raises(NotImplementedError, match=frag.replace("(", r"\(")):
            eng.sql(sql).collect()


# ---------------------------------------------------------------------------
# wave 27b (second probe wave: combinators, tuple math, UUID/XML/interval
# families — 82/119 spellings already answered; the 37 failures closed)


def test_wave27b_rewrites(eng):
    r = one(
        eng,
        "SELECT subtractTupleOfIntervals(toDate('2024-02-02'), "
        "(toIntervalDay(1), toIntervalMonth(1))) AS a",
    )
    assert str(r["a"]) == "2024-01-01"
    r = one(
        eng,
        "SELECT startsWithUTF8('héllo', 'hé') AS a, endsWithUTF8('héllo', 'lo') AS b, "
        "substringIndexUTF8('é.b.c', '.', 1) AS c",
    )
    assert r["a"] is True and r["b"] is True and r["c"] == "é"
    r = one(
        eng,
        "SELECT stringCompare('abc', 'abd') AS a, stringCompare('b', 'a') AS b, "
        "stringCompare('x', 'x') AS c",
    )
    assert (r["a"], r["b"], r["c"]) == (-1, 1, 0)
    r = one(
        eng,
        "SELECT argMaxOrNull(x, y) AS a FROM (SELECT 1 AS x, 2 AS y WHERE false)",
    )
    assert r["a"] is None
    r = one(
        eng,
        "SELECT toUUIDOrNull('bad') AS a, "
        "toUUIDOrNull('61F0C404-5CB3-11E7-907B-A6006AD3DBA0') AS b, "
        "toUUIDOrZero('bad') AS c",
    )
    assert r["a"] is None
    assert r["b"] == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert r["c"] == "00000000-0000-0000-0000-000000000000"
    # 16 raw bytes (octet_length — CH's length() on FixedString is bytes)
    r = one(
        eng,
        "SELECT octet_length(UUIDToNum(toUUID("
        "'61f0c404-5cb3-11e7-907b-a6006ad3dba0'))) AS a",
    )
    assert r["a"] == 16
    r = one(
        eng,
        "SELECT isNullable(1) AS a, isNotDistinctFrom(NULL, NULL) AS b, "
        "isNotDistinctFrom(1, 2) AS c",
    )
    assert r["a"] is True and r["b"] is True and r["c"] is False
    # the -If combinator over the exact percentile
    r = one(
        eng,
        "SELECT quantileIf(0.5)(x, x > 0) AS a "
        "FROM VALUES (1.0), (2.0), (3.0), (-5.0) AS t(x)",
    )
    assert r["a"] == 2.0
    # CH's [sic] 'Continous' spelling resolves to the canonical handler
    r = one(eng, "SELECT minSampleSizeContinous(100.0, 10.0, 0.05, 0.8, 0.05) AS a")
    assert r["a"]["minimum_sample_size"] > 0
    # same-engine hash contract: stable, deterministic, typed
    r = one(
        eng,
        "SELECT wyHash64('abc') AS a, wyHash64('abc') AS a2, "
        "kafkaMurmurHash('abc') AS b, CRC32IEEE('abc') AS c",
    )
    assert r["a"] == r["a2"] and r["b"] >= 0 and 0 <= r["c"] < 4294967296


def test_wave27b_loud_gates(eng):
    for sql, frag in [
        ("SELECT tupleMultiply((2, 3), (4, 5)) AS a", "zip_with"),
        ("SELECT tupleDivide((8.0, 9.0), (2.0, 3.0)) AS a", "zip_with"),
        ("SELECT tupleIntDiv((15, 10), (5, 3)) AS a", "zip_with"),
        ("SELECT tupleModulo((15, 10), (5, 3)) AS a", "zip_with"),
        ("SELECT tupleNegate((1, -2)) AS a", "transform"),
        ("SELECT tupleDivideByNumber((4.0, 6.0), 2) AS a", "transform"),
        (
            "SELECT arrayReduceInRanges('sum', array((1, 2)), array(1, 2, 3)) AS a",
            "arrayReduce itself",
        ),
        ("SELECT sparseGrams('hello') AS a", "ngrams"),
        ("SELECT javaHashUTF16LE('abc') AS a", "javaHash"),
        ("SELECT reinterpretAsString(65) AS a", "codepoints"),
        ("SELECT formatQuery('select 1') AS a", "normalizeQuery"),
        ("SELECT structureToProtobufSchema('x Int32') AS a", "df.schema"),
        ("SELECT stringCompare('a', 'b', 0, 0, 1) AS a", "substr"),
        (
            "SELECT UUIDToNum(toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0'), 2) AS a",
            "variant",
        ),
    ]:
        with pytest.raises(NotImplementedError, match=frag.replace("(", r"\(")):
            eng.sql(sql).collect()


# ---------------------------------------------------------------------------
# wave 27c (third probe wave: State/Merge grid, bitmap subset ops,
# remaining statistics, server introspection — 32/78 already answered)


def test_bitmap_subset_and_group_aggregates(eng):
    r = one(
        eng,
        "SELECT bitmapToArray(bitmapSubsetInRange(bitmapBuild(array(1,5,9)), 2, 9)) AS a, "
        "bitmapToArray(bitmapSubsetLimit(bitmapBuild(array(1,5,9)), 2, 2)) AS b, "
        "bitmapToArray(bitmapTransform(bitmapBuild(array(1,2)), array(1), array(9))) AS c",
    )
    assert list(r["a"]) == [5] and list(r["b"]) == [5, 9] and list(r["c"]) == [2, 9]
    r = one(
        eng,
        "SELECT groupBitmapAnd(b) AS a FROM ("
        "SELECT bitmapBuild(array(1,2,3)) AS b UNION ALL SELECT bitmapBuild(array(2,3,4)))",
    )
    assert r["a"] == 2  # {2,3}
    r = one(
        eng,
        "SELECT groupBitmapOr(b) AS a, groupBitmapXor(b) AS x FROM ("
        "SELECT bitmapBuild(array(1,2)) AS b UNION ALL SELECT bitmapBuild(array(2,3)))",
    )
    assert r["a"] == 3 and r["x"] == 2  # union {1,2,3}; xor {1,3}


def test_state_merge_grid_completion(eng):
    """The AggregatingMergeTree discipline over the newly covered bases:
    merging partial states == the direct aggregate."""
    r = one(
        eng,
        "SELECT uniqExactMerge(s) AS a FROM ("
        "SELECT uniqExactState(x) AS s FROM VALUES (1),(2),(2) AS t(x) "
        "UNION ALL SELECT uniqExactState(x) FROM VALUES (2),(3) AS t(x))",
    )
    assert r["a"] == 3
    r = one(
        eng,
        "SELECT array_sort(groupArrayMerge(s)) AS a FROM ("
        "SELECT groupArrayState(x) AS s FROM VALUES (2),(1) AS t(x))",
    )
    assert list(r["a"]) == [1, 2]
    r = one(
        eng,
        "SELECT argMaxMerge(s) AS a FROM ("
        "SELECT argMaxState(x, y) AS s FROM VALUES (1, 10),(2, 20) AS t(x, y) "
        "UNION ALL SELECT argMaxState(x, y) FROM VALUES (7, 30) AS t(x, y))",
    )
    assert r["a"] == 7
    # moments state: merged stddev over {1,2} ∪ {3} == stddev over {1,2,3}
    r = one(
        eng,
        "SELECT round(stddevSampMerge(s), 9) AS a FROM ("
        "SELECT stddevSampState(x) AS s FROM VALUES (1.0),(2.0) AS t(x) "
        "UNION ALL SELECT stddevSampState(x) FROM VALUES (3.0) AS t(x))",
    )
    assert float(r["a"]) == 1.0
    r = one(
        eng,
        "SELECT round(varPopMerge(s), 9) AS a FROM ("
        "SELECT varPopState(x) AS s FROM VALUES (1.0),(2.0),(3.0) AS t(x))",
    )
    assert float(r["a"]) == pytest.approx(2.0 / 3.0, rel=1e-9)
    # quantile: exact R-7 percentile over the merged value lists
    r = one(
        eng,
        "SELECT quantileMerge(0.5)(s) AS a FROM ("
        "SELECT quantileState(0.5)(x) AS s FROM VALUES (1.0),(2.0) AS t(x) "
        "UNION ALL SELECT quantileState(0.5)(x) FROM VALUES (3.0) AS t(x))",
    )
    assert r["a"] == 2.0
    # finalizeAggregation across the three state shapes + initialize
    r = one(
        eng,
        "SELECT finalizeAggregation(sumState(x)) AS a, "
        "round(finalizeAggregation(avgState(x)), 9) AS b, "
        "finalizeAggregation(uniqState(x)) AS c, "
        "finalizeAggregation(uniqExactState(x)) AS d "
        "FROM VALUES (1),(2),(2) AS t(x)",
    )
    assert r["a"] == 5 and float(r["b"]) == pytest.approx(5.0 / 3.0) and r["c"] == 2 and r["d"] == 2
    r = one(
        eng,
        "SELECT finalizeAggregation(initializeAggregation('sumState', 3)) AS a, "
        "finalizeAggregation(initializeAggregation('avgState', 4.0)) AS b",
    )
    assert r["a"] == 3 and r["b"] == 4.0


def test_one_sample_ttest_and_covar_matrices(eng):
    """t hand-computed: x=(1,2,3,2.5), mu=1.5 -> t = 0.625/sqrt((2.1875/3)/4)."""
    t_want = 0.625 / math.sqrt((2.1875 / 3.0) / 4.0)
    r = one(
        eng,
        "SELECT studentTTestOneSample(1.5)(x) AS a "
        "FROM VALUES (1.0),(2.0),(3.0),(2.5) AS t(x)",
    )
    assert r["a"]["t_statistic"] == pytest.approx(t_want, rel=1e-12)
    assert 0.2 < r["a"]["p_value"] < 0.28  # scipy: 0.2394
    r = one(
        eng,
        "SELECT covarSampMatrix(x, y) AS a FROM "
        "VALUES (1.0, 2.0),(2.0, 4.0),(3.0, 5.0) AS t(x, y)",
    )
    m = [[float(v) for v in row] for row in r["a"]]
    assert m[0][0] == pytest.approx(1.0) and m[0][1] == pytest.approx(1.5)
    assert m[1][1] == pytest.approx(7.0 / 3.0)


def test_wave27c_misc(eng):
    # central angle of a quarter arc along the equator is exactly 45 deg
    r = one(eng, "SELECT round(greatCircleAngle(0.0, 0.0, 45.0, 0.0), 9) AS a")
    assert float(r["a"]) == 45.0
    r = one(
        eng,
        "SELECT toLowCardinality('x') AS a, "
        "accurateCastOrDefault(300, 'UInt8', 7) AS b, "
        "accurateCastOrDefault(30, 'UInt8', 7) AS c",
    )
    assert r["a"] == "x" and r["b"] == 7 and r["c"] == 30
    r = one(
        eng,
        "SELECT length(randomPrintableASCII(10)) AS a, randomFixedString(0) AS b, "
        "length(randomStringUTF8(4)) AS c",
    )
    assert r["a"] == 10 and r["b"] == "" and r["c"] == 4
    r = one(
        eng,
        "SELECT currentProfiles() AS a, currentSchemas(true) AS b, "
        "displayName() IS NOT NULL AS c",
    )
    assert list(r["a"]) == [] and len(r["b"]) == 1 and r["c"] is True


def test_wave27c_loud_gates(eng):
    for sql, frag in [
        (
            "SELECT stochasticLinearRegression(0.1, 0.0, 5, 'SGD')(y, x) AS a "
            "FROM VALUES (1.0, 1.0) AS t(y, x)",
            "simpleLinearRegression",
        ),
        (
            "SELECT stochasticLogisticRegression(0.1, 0.0, 5, 'SGD')(y, x) AS a "
            "FROM VALUES (0.0, 1.0) AS t(y, x)",
            "arrival order",
        ),
        ("SELECT sequenceMatchEvents('(?1)')(1, true) AS a", "sequenceMatch"),
        ("SELECT revision() AS a", "version"),
        ("SELECT zookeeperSessionUptime() AS a", "ZooKeeper"),
        ("SELECT transactionID() AS a", "transactions"),
        ("SELECT filesystemCapacity() AS a", "storage layer"),
        ("SELECT formatRow('CSV', 1, 'a') AS a", "to_csv"),
        ("SELECT geohashesInBox(-1.0, -1.0, 1.0, 1.0, 3) AS a", "geohashEncode"),
        ("SELECT geoToH3(37.79, 55.71, 15) AS a", "h3 library"),
        ("SELECT h3ToGeo(644325524701193974) AS a", "h3 library"),
        ("SELECT generateRandomStructure(3) AS a", "generateRandom"),
        ("SELECT initializeAggregation('uniqState', 3) AS a", "one-row relation"),
    ]:
        with pytest.raises(NotImplementedError, match=frag.replace("(", r"\(")):
            eng.sql(sql).collect()


# ---------------------------------------------------------------------------
# wave 27d (fourth probe wave: -Resample combinator, map aliases,
# sub-second date arithmetic, typed JSONExtract — 35/53 already answered)


def test_resample_combinator(eng):
    """CH -Resample: one array entry per [b, b+step) bucket of the key."""
    r = one(
        eng,
        "SELECT countResample(0, 10, 5)(x) AS a FROM VALUES (1),(2),(7) AS t(x)",
    )
    assert list(r["a"]) == [2, 1]
    r = one(
        eng,
        "SELECT sumResample(0, 10, 5)(v, x) AS a, avgResample(0, 10, 5)(v, x) AS b, "
        "minResample(0, 10, 5)(v, x) AS c, maxResample(0, 10, 5)(v, x) AS d "
        "FROM VALUES (1.0, 1),(3.0, 2),(2.0, 7) AS t(v, x)",
    )
    assert list(r["a"]) == [4.0, 2.0]
    assert list(r["b"]) == [2.0, 2.0]
    assert list(r["c"]) == [1.0, 2.0] and list(r["d"]) == [3.0, 2.0]
    with pytest.raises(NotImplementedError, match="integer literals"):
        eng.sql(
            "SELECT countResample(0, x, 5)(x) AS a FROM VALUES (1) AS t(x)"
        ).collect()


def test_resample_clamp_and_empty(eng):
    """r11 ADVICE: keys live in [start, end) — a non-dividing step must NOT
    let the last bucket swallow keys >= end; end <= start yields empty."""
    r = one(
        eng,
        "SELECT countResample(0, 7, 5)(x) AS a, sumResample(0, 7, 5)(v, x) AS s "
        "FROM VALUES (1, 10.0), (6, 20.0), (8, 40.0) AS t(x, v)",
    )
    # key 8 >= end=7 is excluded from the clamped last bucket [5, 7)
    assert list(r["a"]) == [1, 1]
    assert list(r["s"]) == [10.0, 20.0]
    r = one(
        eng,
        "SELECT countResample(5, 5, 2)(x) AS a, avgResample(9, 4, 2)(v, x) AS b, "
        "count(1) AS n FROM VALUES (1, 1.0), (2, 2.0) AS t(x, v)",
    )
    # end <= start: CH yields empty arrays (Spark's sequence would throw);
    # still ONE aggregate row, not per-input-row literals
    assert list(r["a"]) == [] and list(r["b"]) == [] and r["n"] == 2
    with pytest.raises(NotImplementedError, match="positive integer"):
        eng.sql(
            "SELECT countResample(0, 10, 0)(x) AS a FROM VALUES (1) AS t(x)"
        ).collect()


def test_wave27d_dates_and_json(eng):
    r = one(
        eng,
        "SELECT addMilliseconds(toDateTime64('2024-01-01 00:00:00', 3), 1500) AS a, "
        "subtractMicroseconds(toDateTime64('2024-01-01 00:00:00', 6), 1) AS b, "
        "toStartOfMillisecond(toDateTime64('2024-01-01 00:00:00.1239', 4)) AS c",
    )
    assert r["a"] == datetime.datetime(2024, 1, 1, 0, 0, 1, 500000)
    assert r["b"] == datetime.datetime(2023, 12, 31, 23, 59, 59, 999999)
    assert r["c"] == datetime.datetime(2024, 1, 1, 0, 0, 0, 123000)
    r = one(
        eng,
        "SELECT fromUnixTimestamp64Nano(1704067200000000000) AS a, "
        "dateTime64ToSnowflakeID(toDateTime64('2021-08-15 18:57:56.123', 3)) AS b, "
        "fromUnixTimestamp64Nano(-1) AS c",
    )
    assert r["a"] == datetime.datetime(2024, 1, 1, 0, 0)
    # r11 ADVICE: pre-epoch nanos floor to the EARLIER microsecond
    # (truncate-toward-zero landed them 1 us late)
    assert r["c"] == datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)
    assert r["b"] == (1629053876123 << 22)
    r = one(
        eng,
        "SELECT JSONExtract('{\"a\": 3}', 'a', 'Int64') AS a, "
        "JSONExtract('{\"s\": \"x\"}', 's', 'String') AS b, "
        "JSONExtract('{\"f\": 1.5}', 'f', 'Float64') AS c",
    )
    assert r["a"] == 3 and r["b"] == "x" and r["c"] == 1.5
    # sumMappedArrays == the sumMap (keys[], values[]) form
    r = one(
        eng,
        "SELECT sumMappedArrays(ks, vs) AS a FROM ("
        "SELECT array(1, 2) AS ks, array(10, 20) AS vs "
        "UNION ALL SELECT array(2), array(5))",
    )
    assert list(r["a"]["keys"]) == [1, 2]
    assert [float(v) for v in r["a"]["values"]] == [10.0, 25.0]


def test_wave27d_loud_gates(eng):
    for sql, frag in [
        ("SELECT addInterval(INTERVAL 1 DAY, INTERVAL 1 MONTH) AS a", "interval-tuple"),
        ("SELECT addNanoseconds(now(), 5) AS a", "microsecond precision"),
        ("SELECT JSONExtract('{}', 'a', 'Array(Int64)') AS a", "literal string key"),
        # r11 ADVICE: JSONPath metacharacters in the key would silently
        # address a different member through get_json_object
        ("SELECT JSONExtract('{}', 'a.b', 'Int64') AS a", "plain member name"),
        ("SELECT JSONExtract('{}', 'a[0]', 'Int64') AS a", "plain member name"),
        (
            "SELECT JSONExtractKeysAndValuesRaw('{\"a\": 1}') AS a",
            "JSONExtractKeys",
        ),
    ]:
        with pytest.raises(NotImplementedError, match=frag.replace("(", r"\(")):
            eng.sql(sql).collect()

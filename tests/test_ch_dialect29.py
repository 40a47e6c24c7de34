"""Dialect batch 29 (round 11, fifth probe wave, wave 29):
closes the wave's UNRESOLVED_ROUTINE fall-throughs (Julian-day OrNull
tails, YYYYMMDDToDate32, cutToFirstSignificantSubdomainWithWWW,
cutURLParameter, IPv4/IPv6 codec tails, the Joda parse family,
quantileExactWeightedInterpolated) and pins the wave's two handler fixes:
sequenceMatch/sequenceCount/windowFunnel now accept CH's plain
UInt-epoch timestamp columns (they rejected everything unix_timestamp()
could not read)."""

import datetime

import pytest


def one(eng, sql):
    return eng.sql(sql).collect()[0]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    from clickhousedatamocker_spark.engine import Engine

    return Engine(spark, str(tmp_path_factory.mktemp("wh29")))


def test_modified_julian_day_or_null(eng):
    """OrNull tails: parse failure / out-of-DATE-range → NULL (CH's
    Date32-extended contract), valid inputs match the strict siblings."""
    r = one(
        eng,
        "SELECT toModifiedJulianDayOrNull('2020-01-01') AS a, "
        "toModifiedJulianDayOrNull('nope') AS b, "
        "fromModifiedJulianDayOrNull(58849) AS c, "
        "fromModifiedJulianDayOrNull(2973484) AS d, "
        "fromModifiedJulianDayOrNull(-678575) AS e",
    )
    assert r["a"] == 58849 and r["b"] is None
    assert r["c"] == datetime.date(2020, 1, 1) and r["d"] is None
    assert r["e"] == datetime.date(1, 1, 1)


def test_yyyymmdd_to_date32(eng):
    r = one(eng, "SELECT YYYYMMDDToDate32(20240115) AS a")
    assert r["a"] == datetime.date(2024, 1, 15)


def test_cut_to_first_significant_subdomain_with_www(eng):
    """CH docs goldens: the WithWWW variant keeps 'www' as a candidate
    significant label ('www.tr' → 'www.tr')."""
    r = one(
        eng,
        "SELECT cutToFirstSignificantSubdomainWithWWW('www.tr') AS a, "
        "cutToFirstSignificantSubdomainWithWWW("
        "'https://news.clickhouse.com.tr/') AS b, "
        "cutToFirstSignificantSubdomainWithWWWRFC('www.tr') AS c",
    )
    assert r["a"] == "www.tr" and r["b"] == "clickhouse.com.tr"
    assert r["c"] == "www.tr"


def test_cut_url_parameter(eng):
    """CH docs golden shape: removing a parameter drops name=value plus
    one adjoining separator, first/middle/last positions all clean."""
    r = one(
        eng,
        "SELECT cutURLParameter('http://bigmir.net/?a=b&c=d', 'a') AS a, "
        "cutURLParameter('http://bigmir.net/?a=b&c=d', 'c') AS b, "
        "cutURLParameter('http://x.io/?a=b&bb=2&c=d', 'bb') AS c, "
        "cutURLParameter('http://x.io/?a=b#frag', 'a') AS d, "
        "cutURLParameter('http://x.io/?ab=1', 'a') AS e",
    )
    assert r["a"] == "http://bigmir.net/?c=d"
    assert r["b"] == "http://bigmir.net/?a=b"
    assert r["c"] == "http://x.io/?a=b&c=d"
    assert r["d"] == "http://x.io/#frag"
    # name must not match a prefix of a longer parameter name
    assert r["e"] == "http://x.io/?ab=1"
    with pytest.raises(Exception, match="string literal"):
        eng.sql("SELECT cutURLParameter('http://x.io/?a=1', name) AS a "
                "FROM VALUES ('a') AS t(name)").collect()


def test_ipv4_codec_tails(eng):
    r = one(
        eng,
        "SELECT IPv4StringToNumOrNull('192.168.0.1') AS a, "
        "IPv4StringToNumOrNull('abc') AS b, "
        "IPv4StringToNumOrNull('999.1.1.1') AS c, "
        "IPv4NumToStringClassC(3232235521) AS d",
    )
    assert r["a"] == 3232235521 and r["b"] is None and r["c"] is None
    assert r["d"] == "192.168.0.xxx"


def test_ipv6_binary_codecs(eng):
    """IPv6StringToNum → the 16 address bytes (CH FixedString(16) ≙ Spark
    BINARY); NumToString round-trips to canonical compressed text with the
    CH dotted-quad form for IPv4-mapped input."""
    r = one(
        eng,
        "SELECT IPv6NumToString(IPv6StringToNum('2001:db8::1')) AS a, "
        "IPv6NumToString(IPv6StringToNum('192.168.0.1')) AS b, "
        "hex(IPv6StringToNum('::1')) AS c, "
        "IPv6StringToNum('not-an-ip') AS d",
    )
    assert r["a"] == "2001:db8::1"
    assert r["b"] == "::ffff:192.168.0.1"
    assert r["c"] == "00000000000000000000000000000001"
    assert r["d"] is None


def test_parse_datetime_joda_family(eng):
    r = one(
        eng,
        "SELECT parseDateTimeInJodaSyntax('2024-01-15 10:20:30', "
        "'yyyy-MM-dd HH:mm:ss') AS a, "
        "parseDateTimeInJodaSyntaxOrNull('nope', 'yyyy-MM-dd') AS b, "
        "parseDateTimeInJodaSyntaxOrZero('nope', 'yyyy-MM-dd') AS c",
    )
    assert r["a"] == datetime.datetime(2024, 1, 15, 10, 20, 30)
    assert r["b"] is None
    assert r["c"] == datetime.datetime(1970, 1, 1, 0, 0)
    with pytest.raises(Exception, match="timezone"):
        eng.sql(
            "SELECT parseDateTimeInJodaSyntax('x', 'y', 'UTC') AS a"
        ).collect()


def test_quantile_exact_weighted_interpolated(eng):
    r = one(
        eng,
        "SELECT quantileExactWeightedInterpolated(0.5)(x, w) AS a "
        "FROM VALUES (1.0, 1),(2.0, 1) AS t(x, w)",
    )
    assert r["a"] == 1.5


def test_sequence_and_funnel_accept_uint_timestamps(eng):
    """CH's sequence/funnel aggregates take DateTime OR plain UInt epoch
    columns; the old handlers fed the raw column to unix_timestamp(),
    which rejects numerics (wave-29 fix: CAST→TIMESTAMP first)."""
    r = one(
        eng,
        "SELECT sequenceCount('(?1)(?2)')(t2, e = 'a', e = 'b') AS a, "
        "sequenceMatch('(?1)(?2)')(t2, e = 'a', e = 'b') AS b, "
        "windowFunnel(10)(t2, e = 'a', e = 'b') AS c "
        "FROM VALUES (1, 'a'),(2, 'b'),(3, 'a'),(4, 'b') AS t(t2, e)",
    )
    assert r["a"] == 2 and r["b"] == 1 and r["c"] == 2
    # timestamp columns still work (regression guard for the CAST)
    r = one(
        eng,
        "SELECT windowFunnel(3600)(ts, e = 'a', e = 'b') AS a, "
        "sequenceMatch('(?1)(?2)')(ts, e = 'a', e = 'b') AS b "
        "FROM VALUES (TIMESTAMP'2024-01-01 00:00:01', 'a'),"
        "(TIMESTAMP'2024-01-01 00:10:00', 'b') AS t(ts, e)",
    )
    assert r["a"] == 2 and r["b"] == 1
    # windowFunnel window still binds on the numeric epoch: gap > window
    r = one(
        eng,
        "SELECT windowFunnel(2)(t2, e = 'a', e = 'b') AS a "
        "FROM VALUES (1, 'a'),(10, 'b') AS t(t2, e)",
    )
    assert r["a"] == 1


def test_wave29_already_answered_goldens(eng):
    """Docs-example pins for a sample of wave-29 probes that resolved
    without new code — byteSwap's CH docs golden, mapPopulateSeries'
    gap fill, bitmaskToList, arrayRotateLeft, sparkbar shape."""
    r = one(
        eng,
        "SELECT byteSwap(3351772109) AS a, "
        "mapPopulateSeries(map(1, 10, 4, 40)) AS b, "
        "bitmaskToList(50) AS c, "
        "arrayRotateLeft(array(1, 2, 3, 4), 1) AS d",
    )
    assert r["a"] == 3455829959
    assert r["b"] == {1: 10, 2: 0, 3: 0, 4: 40}
    assert r["c"] == "2,16,32"
    assert r["d"] == [2, 3, 4, 1]


# ---- probe wave 29b --------------------------------------------------------


def test_median_sketch_aliases(eng):
    """median* aliases of the sketch quantile families: 0.5 through the
    same exact/approx mapping the quantile* spellings use."""
    r = one(
        eng,
        "SELECT medianTiming(x) AS a, medianTDigest(x) AS b, "
        "medianBFloat16(x) AS c FROM VALUES (10.0),(20.0),(30.0) AS t(x)",
    )
    assert float(r["a"]) == 20.0 and float(r["b"]) == 20.0 and float(r["c"]) == 20.0
    r = one(
        eng,
        "SELECT medianTimingWeighted(x, w) AS a, medianDeterministic(x, x) AS b, "
        "medianInterpolatedWeighted(x, w) AS c "
        "FROM VALUES (1.0, 1),(2.0, 1) AS t(x, w)",
    )
    assert r["a"] == 1.5 and r["b"] == 1.5 and r["c"] == 1.5


def test_quantiles_deterministic_plural(eng):
    r = one(
        eng,
        "SELECT quantilesDeterministic(0.25, 0.5)(x, x) AS a "
        "FROM VALUES (1.0),(2.0),(3.0),(4.0) AS t(x)",
    )
    assert r["a"] == [1.75, 2.5]


def test_to_uuid_or_default(eng):
    r = one(
        eng,
        "SELECT toUUIDOrDefault('nope', "
        "toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0')) AS a, "
        "toUUIDOrDefault('61F0C404-5CB3-11E7-907B-A6006AD3DBA0', 'x') AS b",
    )
    assert r["a"] == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert r["b"] == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"


def test_uniq_combined_if(eng):
    r = one(
        eng,
        "SELECT uniqCombinedIf(x, x > 1) AS a, uniqCombined64If(x, x > 0) AS b "
        "FROM VALUES (1),(2),(3),(3) AS t(x)",
    )
    assert r["a"] == 2 and r["b"] == 3


def test_visible_width(eng):
    """CH visibleWidth: text-format width; NULL renders 4 cells."""
    r = one(
        eng,
        "SELECT visibleWidth('abc') AS a, visibleWidth(123) AS b, "
        "visibleWidth(CAST(NULL AS STRING)) AS c",
    )
    assert r["a"] == 3 and r["b"] == 3 and r["c"] == 4


def test_lp_norms_and_distances(eng):
    r = one(
        eng,
        "SELECT L1Norm(array(1.0, -2.0)) AS a, LinfNorm(array(1.0, -7.0)) AS b, "
        "round(LpNorm(array(3.0, 4.0), 3.0), 6) AS c, "
        "round(LpDistance(array(1.0, 2.0), array(2.0, 4.0), 3.0), 6) AS d",
    )
    assert r["a"] == 3.0 and r["b"] == 7.0
    assert r["c"] == round((27.0 + 64.0) ** (1.0 / 3.0), 6)
    assert r["d"] == round((1.0 + 8.0) ** (1.0 / 3.0), 6)


def test_string_bytes_stats(eng):
    """Byte-level string statistics; 'aabb' entropy = 1 bit exactly."""
    r = one(
        eng,
        "SELECT stringBytesUniq('hello') AS a, stringBytesUniq('') AS b, "
        "round(stringBytesEntropy('aabb'), 4) AS c, "
        "stringBytesEntropy('') AS d",
    )
    assert r["a"] == 4 and r["b"] == 0
    assert r["c"] == 1.0 and r["d"] == 0.0


def test_polygon_cartesian_measures(eng):
    """CH docs golden: polygonAreaCartesian([[(0,0),(0,5),(5,5)]]) = 12.5;
    perimeter of the 3-4-5 triangle = 12; holes subtract from area."""
    r = one(
        eng,
        "SELECT polygonAreaCartesian(array(array((0.0, 0.0), (0.0, 5.0), (5.0, 5.0)))) AS a, "
        "polygonPerimeterCartesian(array(array((0.0, 0.0), (0.0, 3.0), (4.0, 0.0)))) AS b, "
        "polygonAreaCartesian(array("
        "array((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)), "
        "array((2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0)))) AS c",
    )
    assert r["a"] == 12.5 and r["b"] == 12.0 and r["c"] == 96.0


def test_wkt_point_forms(eng):
    r = one(
        eng,
        "SELECT readWKTPoint('POINT (1.5 2)') AS a, wkt((1.0, 2.0)) AS b, "
        "wkt((1.25, -2.0)) AS c",
    )
    assert (r["a"]["col1"], r["a"]["col2"]) == (1.5, 2.0)
    assert r["b"] == "POINT(1 2)" and r["c"] == "POINT(1.25 -2)"


def test_multi_fuzzy_match_gate(eng):
    with pytest.raises(NotImplementedError, match="hyperscan"):
        eng.sql("SELECT multiFuzzyMatchAny('hello', 1, array('helo')) AS a").collect()


# ---- probe wave 29c --------------------------------------------------------


def test_array_element_out_of_bounds(eng):
    """CH arrayElement never aborts: out-of-bounds → NULL here (CH's typed
    default is unknowable textually — documented deviation), negative
    indexes from the end, map keys pass through, literal 0 folds to NULL.
    The old name-only element_at move aborted the whole query on OOB."""
    r = one(
        eng,
        "SELECT arrayElement(array(1, 2), 2) AS a, "
        "arrayElement(array(1), 5) AS b, "
        "arrayElement(array(1), -1) AS c, "
        "arrayElement(array(1), 0) AS d, "
        "arrayElement(map('a', 1), 'a') AS e, "
        "arrayElement(map('a', 1), 'zz') AS f",
    )
    assert r["a"] == 2 and r["b"] is None and r["c"] == 1 and r["d"] is None
    assert r["e"] == 1 and r["f"] is None


def test_functional_comparisons(eng):
    r = one(
        eng,
        "SELECT equals(1, 1) AS a, notEquals(1, 2) AS b, less(1, 2) AS c, "
        "greater(2, 1) AS d, lessOrEquals(1, 1) AS e, greaterOrEquals(2, 2) AS f, "
        "notLike('abc', 'b%') AS g",
    )
    assert all(r[k] for k in "abcdefg")
    # composes under WHERE (the reason these emit booleans, not UInt8)
    rows = eng.sql(
        "SELECT x FROM VALUES (1),(2),(3) AS t(x) WHERE equals(x, 2)"
    ).collect()
    assert [r["x"] for r in rows] == [2]
    # the infix keywords stay untouched by the registry (and/or/not are
    # deliberately NOT registered - see the wave-29c comment)
    assert one(
        eng,
        "SELECT count(*) AS a FROM VALUES (1),(2) AS t(x) "
        "WHERE x = 1 AND (x < 5 OR x > 9)",
    )["a"] == 1


def test_mysql_alias_strings(eng):
    r = one(
        eng,
        "SELECT mid('hello', 2, 3) AS a, field('b', 'a', 'b', 'c') AS b, "
        "field('z', 'a', 'b') AS c, field(CAST(NULL AS STRING), 'a') AS d, "
        "elt(2, 'a', 'b', 'c') AS e",
    )
    assert r["a"] == "ell" and r["b"] == 2 and r["c"] == 0 and r["d"] == 0
    assert r["e"] == "b"


def test_checked_tails_29c(eng):
    import datetime as _dt

    r = one(
        eng,
        "SELECT toDateTime32('2024-01-01 00:00:05') AS a, "
        "toIPv6OrDefault('nope', toIPv6('::1')) AS b",
    )
    assert r["a"] == _dt.datetime(2024, 1, 1, 0, 0, 5)
    assert r["b"] == "::1"
    with pytest.raises(NotImplementedError, match="BLAKE3"):
        eng.sql("SELECT BLAKE3('x') AS a").collect()


def test_array_join_multiplies_rows(eng):
    """arrayJoin's row multiplication (the CH explode) — pinned with
    counts, not just first-row shape."""
    rows = eng.sql("SELECT arrayJoin(array(1, 2, 3)) AS a").collect()
    assert sorted(r["a"] for r in rows) == [1, 2, 3]
    rows = eng.sql(
        "SELECT arrayJoin(xs) AS a, n FROM (SELECT array(1, 2) AS xs, 'x' AS n)"
    ).collect()
    assert sorted((r["a"], r["n"]) for r in rows) == [(1, "x"), (2, "x")]


# ---- probe wave 30 ---------------------------------------------------------


def test_asof_join_unsupported_form_refuses_loudly(eng):
    """Wave-30 fix: an ASOF spelling the matchers cannot serve (subquery
    right-hand side) must raise a recipe, not hand Spark an unparseable
    keyword (the bare-ParseException silent fall-through mode)."""
    with pytest.raises(NotImplementedError, match="ASOF JOIN form"):
        eng.sql(
            "SELECT t.k FROM (SELECT 1 AS k, 5 AS t2) t "
            "ASOF LEFT JOIN (SELECT 1 AS k, 3 AS t2) q "
            "ON t.k = q.k AND t.t2 >= q.t2"
        ).collect()


def test_wave30_select_dialect_pins(eng):
    """Already-answered wave-30 probes pinned: WITH TOTALS (NULL totals
    row), ORDER BY WITH FILL FROM/TO gap filling, LIMIT WITH TIES,
    DISTINCT ON, QUALIFY, tuple IN."""
    rows = eng.sql(
        "SELECT k, count(*) AS n FROM "
        "(SELECT 1 AS k UNION ALL SELECT 1 UNION ALL SELECT 2) t "
        "GROUP BY k WITH TOTALS ORDER BY k"
    ).collect()
    pairs = [(r["k"], r["n"]) for r in rows]
    assert (None, 3) in pairs and (1, 2) in pairs and (2, 1) in pairs
    rows = eng.sql("SELECT k FROM (SELECT 2 AS k) t ORDER BY k WITH FILL FROM 1 TO 5").collect()
    assert [r["k"] for r in rows] == [1, 2, 3, 4]
    rows = eng.sql(
        "SELECT k FROM (SELECT 1 AS k UNION ALL SELECT 1 UNION ALL SELECT 2) t "
        "ORDER BY k LIMIT 1 WITH TIES"
    ).collect()
    assert [r["k"] for r in rows] == [1, 1]
    rows = eng.sql(
        "SELECT DISTINCT ON (k) k, v FROM (SELECT 1 AS k, 'x' AS v "
        "UNION ALL SELECT 1, 'y' UNION ALL SELECT 2, 'z') ORDER BY k, v"
    ).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, "x"), (2, "z")]
    assert eng.sql("SELECT (1, 'a') IN ((1, 'a'), (2, 'b')) AS a").collect()[0]["a"]


def test_array_reduce_uniq_and_quantile(eng):
    """Wave-30b graduations: arrayReduce 'uniq' (exact, the family's
    documented deviation) and the parametric 'quantile[Exact](p)' /
    'median' spellings — R-7 interpolation over the sorted array."""
    r = one(
        eng,
        "SELECT arrayReduce('uniq', array(1, 1, 2)) AS a, "
        "arrayReduce('quantile(0.5)', array(1.0, 2.0, 3.0)) AS b, "
        "arrayReduce('quantile(0.25)', array(1.0, 2.0, 3.0, 4.0)) AS c, "
        "arrayReduce('quantileExact(0.5)', array(3.0, 1.0, 2.0)) AS d, "
        "arrayReduce('median', array(1.0, 3.0)) AS e, "
        "arrayReduce('quantile(0.5)', CAST(array() AS ARRAY<DOUBLE>)) AS f",
    )
    assert r["a"] == 2 and r["b"] == 2.0 and r["c"] == 1.75
    assert r["d"] == 2.0 and r["e"] == 2.0 and r["f"] is None
    with pytest.raises(NotImplementedError, match="arrayReduce supports"):
        eng.sql("SELECT arrayReduce('argMax', array(1)) AS a").collect()

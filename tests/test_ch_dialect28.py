"""Dialect batch 28 (round 11, probe wave 28):
the -ArgMin/-ArgMax combinator family, port(), the remaining
hasSubsequence spellings, tupleNames gate — plus goldens pinning
already-answered wave-28 probes against their public CH docs examples
(stringJaccardIndex, arrayJaccardIndex, widthBucket, soundex,
toDaysSinceYearZero, timeSlots, ngramDistance)."""

import datetime

import pytest


def one(eng, sql):
    return eng.sql(sql).collect()[0]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    from clickhousedatamocker_spark.engine import Engine

    return Engine(spark, str(tmp_path_factory.mktemp("wh28")))


def test_arg_extremum_combinators(eng):
    """CH -ArgMin/-ArgMax: the base aggregate over ONLY the rows whose
    key attains the group extremum."""
    r = one(
        eng,
        "SELECT sumArgMin(v, k) AS a, sumArgMax(v, k) AS b, "
        "minArgMin(v, k) AS c, maxArgMin(v, k) AS d, avgArgMin(v, k) AS e, "
        "countArgMin(v, k) AS f FROM VALUES (1.0, 2),(5.0, 1),(3.0, 1) AS t(v, k)",
    )
    assert r["a"] == 8.0 and r["b"] == 1.0
    assert float(r["c"]) == 3.0 and float(r["d"]) == 5.0
    assert r["e"] == 4.0 and r["f"] == 2
    # NULL keys never win the extremum; NULL values are skipped by the base
    r = one(
        eng,
        "SELECT sumArgMin(v, k) AS a, countArgMin(v, k) AS b FROM VALUES "
        "(1.0, CAST(NULL AS INT)),(5.0, 1),(CAST(NULL AS DOUBLE), 1) AS t(v, k)",
    )
    assert r["a"] == 5.0 and r["b"] == 1
    # grouped form
    rows = eng.sql(
        "SELECT k2, sumArgMin(v, k) AS a FROM VALUES (1.0, 2, 'x'),(5.0, 1, 'x'),"
        "(7.0, 9, 'y') AS t(v, k, k2) GROUP BY k2 ORDER BY k2"
    ).collect()
    assert [(r["k2"], r["a"]) for r in rows] == [("x", 5.0), ("y", 7.0)]


def test_port(eng):
    r = one(
        eng,
        "SELECT port('http://example.com:8080/a') AS a, "
        "port('http://example.com/a') AS b, "
        "port('http://example.com/a', 443) AS c, "
        "port('https://u:p@host.io:9440/x?q=1') AS d",
    )
    assert r["a"] == 8080 and r["b"] == 0 and r["c"] == 443 and r["d"] == 9440


def test_has_subsequence_spellings(eng):
    r = one(
        eng,
        "SELECT hasSubsequence('garbage', 'arg') AS a, "
        "hasSubsequenceCaseInsensitive('garbage', 'ARG') AS b, "
        "hasSubsequenceUTF8('garbage', 'gab') AS c, "
        "hasSubsequenceCaseInsensitiveUTF8('garbage', 'bGe') AS d, "
        "hasSubsequence('garbage', 'arbw') AS e, "
        "hasSubsequenceCaseInsensitive('garbage', '') AS f",
    )
    assert (r["a"], r["b"], r["c"], r["d"]) == (True, True, True, True)
    assert r["e"] is False and r["f"] is True


def test_wave28_docs_goldens(eng):
    """Spellings the wave found already answered — pin the public CH docs
    examples so graduations stay graduated."""
    r = one(
        eng,
        "SELECT stringJaccardIndex('clickhouse', 'mouse') AS a, "
        "arrayJaccardIndex(array(1, 2), array(2, 3)) AS b, "
        "widthBucket(10.15, 0, 20, 4) AS c, "
        "soundex('Robert') AS d, "
        "toDaysSinceYearZero(toDate('2023-09-08')) AS e, "
        "round(ngramDistance('ClickHouse', 'ClickHome'), 4) AS f",
    )
    assert r["a"] == 0.4
    assert abs(r["b"] - 1.0 / 3.0) < 1e-12
    assert r["c"] == 3
    assert r["d"] == "R163"
    assert r["e"] == 739136  # CH docs golden
    assert abs(r["f"] - 0.5556) < 1e-4
    r = one(
        eng,
        "SELECT timeSlots(toDateTime('2024-01-01 10:00:00'), CAST(3700 AS BIGINT)) AS a, "
        "bin(5) AS b, unbin('01000001') AS c",
    )
    assert [x.minute for x in r["a"]] == [0, 30, 0]
    assert r["b"] == "00000101" and r["c"] == "A"  # CH byte-width padding


def test_wave28_loud_gates(eng):
    for sql, frag in [
        ("SELECT tupleNames(tuple(1, 2)) AS a", "struct-field introspection"),
        ("SELECT sumArgMin(v) AS a FROM VALUES (1.0) AS t(v)", "takes"),
    ]:
        with pytest.raises(NotImplementedError, match=frag.replace("(", r"\(")):
            eng.sql(sql).collect()


# ---------------------------------------------------------------------------
# wave 28b (second probe wave: multiSearch/readable-size tails, random
# distributions, introspection, JSON tails — 71/90 already answered)


def test_wave28b_rewrites(eng):
    r = one(
        eng,
        "SELECT notILike('Hello', 'x%') AS a, notILike('Hello', 'hell%') AS b, "
        "parseReadableSizeOrNull('junk') AS c, parseReadableSizeOrNull('2 KiB') AS d, "
        "parseReadableSizeOrZero('junk') AS e, parseReadableSizeOrZero('1 MB') AS f",
    )
    assert r["a"] is True and r["b"] is False
    assert r["c"] is None and r["d"] == 2048 and r["e"] == 0 and r["f"] == 1000000
    r = one(
        eng,
        "SELECT shardNum() AS a, shardCount() AS b, "
        "fromUnixTimestampInJodaSyntax(1704067200, 'yyyy-MM-dd') AS c, "
        "arrayElementOrNull(array(1, 2), 5) AS d, "
        "arrayElementOrNull(array(1, 2), -1) AS e, "
        "arrayElementOrNull(array(1, 2), 0) AS f, "
        "toColumnTypeName(CAST(1 AS INT)) AS g",
    )
    assert r["a"] == 1 and r["b"] == 1 and r["c"] == "2024-01-01"
    assert r["d"] is None and r["e"] == 2 and r["f"] is None
    assert r["g"] == "int"
    assert one(eng, "SELECT length(FQDN()) AS a")["a"] > 0
    # randLogNormal: positive by construction
    assert one(eng, "SELECT randLogNormal(0, 1) AS a")["a"] > 0.0


def test_geohash_out_of_range_precision_is_12(eng):
    """CH contract: precision outside [1, 12] silently becomes 12 — the CH
    docs golden for precision 0 (a low clamp answered with 1 char)."""
    r = one(
        eng,
        "SELECT geohashEncode(-5.60302734375, 42.593994140625, 0) AS a, "
        "geohashEncode(-5.60302734375, 42.593994140625, 99) AS b",
    )
    assert r["a"] == "ezs42d000000"  # CH docs example
    assert len(r["b"]) == 12


def test_wave28b_loud_gates(eng):
    for sql, frag in [
        ("SELECT randChiSquared(5) AS a", "closed-form"),
        ("SELECT randStudentT(5) AS a", "closed-form"),
        ("SELECT randFisherF(5, 5) AS a", "closed-form"),
        ("SELECT sqidEncode(1, 2) AS a", "sqids"),
        ("SELECT lemmatize('en', 'wolves') AS a", "lemmatizer"),
        ("SELECT detectLanguage('hello') AS a", "text_analysis"),
        ("SELECT detectCharset('hello') AS a", "charset"),
    ]:
        with pytest.raises(NotImplementedError, match=frag.replace("(", r"\(")):
            eng.sql(sql).collect()


# ---------------------------------------------------------------------------
# wave 28c (third probe wave: encryption family onto Spark AES, URLHash,
# same-engine hash tails, geo-IP region gates — 30/34 answered)


def test_encryption_family(eng):
    """encrypt/decrypt/tryDecrypt onto Spark's native AES expressions.
    ECB is bit-compatible with CH (PKCS7, no IV); CBC/GCM round-trip
    exactly within the engine (Spark prepends the IV to the blob where CH
    does not — documented)."""
    K32 = "'01234567890123456789012345678901'"
    K16 = "'0123456789012345'"
    r = one(
        eng,
        f"SELECT CAST(decrypt('aes-256-ecb', encrypt('aes-256-ecb', 'secret', {K32}), {K32}) AS STRING) AS a, "
        f"CAST(decrypt('aes-256-cbc', encrypt('aes-256-cbc', 'secret', {K32}, {K16}), {K32}, {K16}) AS STRING) AS b, "
        f"CAST(decrypt('aes-256-gcm', encrypt('aes-256-gcm', 'secret', {K32}), {K32}) AS STRING) AS c, "
        f"CAST(aes_decrypt_mysql('aes-128-ecb', aes_encrypt_mysql('aes-128-ecb', 'x', {K16}), {K16}) AS STRING) AS d, "
        f"tryDecrypt('aes-256-ecb', unhex('00'), {K32}) AS e, "
        f"hex(encrypt('aes-256-ecb', 'secret', {K32})) AS f",
    )
    assert r["a"] == "secret" and r["b"] == "secret" and r["c"] == "secret"
    assert r["d"] == "x" and r["e"] is None
    # deterministic PKCS7-ECB: any correct AES gives these bytes (CH parity)
    assert r["f"] == "8735C1E4B2C1EA1251E60FF2A5F485D9"
    # declared key width is enforced at runtime
    with pytest.raises(Exception, match="32 bytes"):
        eng.sql(f"SELECT encrypt('aes-256-ecb', 'x', {K16}) AS a").collect()
    with pytest.raises(NotImplementedError, match="ecb/cbc/gcm"):
        eng.sql(f"SELECT encrypt('aes-128-ofb', 'x', {K16}) AS a").collect()


def test_wave28c_hashes_and_urlhash(eng):
    r = one(
        eng,
        "SELECT length(sipHash128('x')) AS a, intHash32(5) AS b, "
        "intHash64(5) AS c, URLHash('http://x.io/a/') AS d, "
        "URLHash('http://x.io/a') AS e",
    )
    assert r["a"] == 16  # FixedString(16) shape
    assert 0 <= r["b"] < 2**32 and isinstance(r["c"], int)
    assert r["d"] == r["e"]  # trailing-slash normalization
    with pytest.raises(NotImplementedError, match="URLPathHierarchy"):
        eng.sql("SELECT URLHash('http://x.io/a', 2) AS a").collect()


def test_wave28c_region_gates(eng):
    for fn in ("regionToCity", "regionToCountry", "regionIn"):
        with pytest.raises(NotImplementedError, match="regions hierarchy"):
            eng.sql(f"SELECT {fn}(213) AS a").collect()


# ---------------------------------------------------------------------------
# wave 28d (fourth probe wave: aggregate/array/rounding/type tails — 65/69
# answered, remaining 4 are loud gates)


def test_wave28d_rewrites(eng):
    r = one(
        eng,
        "SELECT arrayCount(array(true, false, true)) AS a, "
        "arrayCount(array(0, 1, 2)) AS b, "
        "arrayCount(x -> x > 1, array(1, 2, 3)) AS c, "
        "toDate32OrNull('junk') AS d, toDate32OrZero('junk') AS e, "
        "toDate32OrNull('2024-01-02') AS f, "
        "toDateTime64OrNull('junk', 3) AS g, toDateTime64OrZero('junk', 3) AS h",
    )
    assert r["a"] == 2 and r["b"] == 2 and r["c"] == 2
    assert r["d"] is None
    assert r["e"] == datetime.date(1900, 1, 1)  # CH Date32 zero
    assert r["f"] == datetime.date(2024, 1, 2)
    assert r["g"] is None
    assert r["h"] == datetime.datetime(1970, 1, 1, 0, 0)


def test_wave28d_loud_gates(eng):
    for sql, frag in [
        ("SELECT stringToH3('8f283473fffffff') AS a", "h3 library"),
        ("SELECT h3ToString(599686042433355775) AS a", "h3 library"),
        ("SELECT aggThrow(0.0) AS a FROM VALUES (1) AS t(x)", "fault-injection"),
    ]:
        with pytest.raises(NotImplementedError, match=frag.replace("(", r"\(")):
            eng.sql(sql).collect()

"""Corpus-governance operators (operators/corpus.py): segment-level exact
dedup, URL governance, deterministic mixture sampling.

Segment dedup and stratified sampling are checked against DuckDB
implementing the IDENTICAL logic (the same cross-engine discipline as
tests/test_oracle_parity.py — every hash/struct-min intermediate is exact
integer arithmetic both engines agree on). URL normalization is golden-
tested: pure string functions, engine-independent by construction.
"""

import duckdb
import pyspark.sql.functions as F
import pytest

from clickhousedatamocker_spark.operators.corpus import (
    cap_per_domain,
    filter_blocklisted,
    normalize_url,
    segment_dedup,
    stratified_sample,
    temperature_mix_rates,
    url_domain,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    return con


def test_segment_dedup_matches_duckdb(spark, duck):
    """Fixture docs + exact copies (ids offset by 100000): every copied
    segment's canonical occurrence is in the original, so copies collapse;
    result matches a DuckDB reimplementation row-for-row."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 100000)
    out = segment_dedup(docs.unionByName(dups), segment_tokens=16, max_duplication=1)
    got = {
        r["doc_id"]: (r["text"], r["n_segments"], r["n_dropped_segments"]) for r in out.collect()
    }

    want_rows = duck.execute(
        """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
), base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM all_docs
), segs AS (
  SELECT doc_id, i AS seg_no,
         array_to_string(toks[i*16+1 : i*16+16], ' ') AS segment
  FROM base, UNNEST(generate_series(0, CAST(ceil(len(toks)/16.0) AS INT) - 1)) AS t(i)
), stats AS (
  SELECT segment, COUNT(*) AS c,
         MIN(struct_pack(d := doc_id, s := seg_no)) AS canon
  FROM segs GROUP BY segment
), kept AS (
  SELECT s.doc_id, s.seg_no, s.segment,
         (st.c <= 1 OR (st.canon.d = s.doc_id AND st.canon.s = s.seg_no)) AS keep
  FROM segs s JOIN stats st USING (segment)
)
SELECT doc_id,
  COALESCE(array_to_string(
    list_transform(
      list_sort(list(struct_pack(s := seg_no, t := segment)) FILTER (WHERE keep)),
      e -> e.t), ' '), '') AS text,
  COUNT(*) AS n_segments,
  SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS n_dropped
FROM kept GROUP BY doc_id
"""
    ).fetchall()
    want = {r[0]: (r[1], r[2], r[3]) for r in want_rows}
    assert got == want
    # non-vacuous: the copies lost ALL their segments (canonical is original)
    for i in range(10):
        assert got[100000 + i][0] == ""
        assert got[100000 + i][2] == got[100000 + i][1]  # all dropped
    # originals with unique text are untouched
    some_intact = [d for d, (t, n, dropped) in got.items() if d < 100000 and dropped == 0]
    assert some_intact


def test_segment_dedup_plan_budget(spark):
    """Exchange budget: segment explode is narrow; the whole dedup is the
    frequency agg + the join back + the reassembly agg — and never a
    cartesian/broadcast-of-the-corpus shape."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = (
        segment_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # partial aggregation fires on both aggs (map-side combine before the wire)
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 4
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 4, f"{n_exchanges} exchanges — segment dedup shape regressed"


def test_segment_dedup_preserves_null_text_docs(spark):
    """A NULL text must not silently drop the document (posexplode over a
    NULL array emits no rows) — it is treated as empty and survives."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs, segment_tokens=4).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["text"] == "alpha beta gamma"
    assert out[2]["text"] == "" and out[3]["text"] == ""


def test_normalize_url_and_domain_golden(spark):
    cases = [
        # (raw, normalized, domain)
        ("HTTPS://WWW.Example.COM:443/Path/?q=1#frag", "https://www.example.com/Path", "example.com"),
        ("http://example.com:80/", "http://example.com", "example.com"),
        ("http://example.com:8080/a/b/", "http://example.com:8080/a/b", "example.com"),
        ("https://a.b.c.co.uk/x", "https://a.b.c.co.uk/x", "co.uk"),
        ("http://HOST", "http://host", "host"),
        ("https://site.org/deep/path?utm_source=x&y=2", "https://site.org/deep/path", "site.org"),
    ]
    df = spark.createDataFrame([(r,) for r, _, _ in cases], ["url"]).select(
        "url", normalize_url("url").alias("norm"), url_domain("url").alias("dom")
    )
    got = {r["url"]: (r["norm"], r["dom"]) for r in df.collect()}
    for raw, norm, dom in cases:
        assert got[raw] == (norm, dom), raw


def test_blocklist_and_domain_quota(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .withColumn(
            "url",
            F.concat(
                F.lit("https://sub.site"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.com/doc/"),
                F.col("doc_id").cast("string"),
            ),
        )
    )
    # registrable domain is example.com for every planted URL -> blocklist kills all
    assert filter_blocklisted(docs, "url", ["example.com"]).count() == 0
    assert filter_blocklisted(docs, "url", ["other.com"]).count() == docs.count()

    # per-domain quota: distinct registrable domain per doc_id%5 bucket needs
    # distinct domains — replant with the bucket in the registrable part
    docs2 = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://www.site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/doc/"),
            F.col("doc_id").cast("string"),
        ),
    )
    capped = cap_per_domain(docs2, "url", quota=7, order_col="doc_id")
    counts = {r["domain"]: r["n"] for r in capped.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {f"site{i}.com" for i in range(5)}
    assert all(n == 7 for n in counts.values())
    # deterministic preference: smallest doc_ids survive
    kept_ids = sorted(r["doc_id"] for r in capped.filter(F.col("domain") == "site0.com").collect())
    assert kept_ids == [0, 5, 10, 15, 20, 25, 30]


def test_stratified_sample_matches_duckdb(spark, duck):
    from clickhousedatamocker_spark.operators.corpus import sample_key_oracle_sql

    rates = {"src0": 0.5, "src1": 0.25, "src2": 1.0}  # src3+ dropped
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(r["doc_id"] for r in stratified_sample(docs, rates).collect())
    want = sorted(
        r[0]
        for r in duck.execute(
            f"""
SELECT doc_id FROM documents
WHERE {sample_key_oracle_sql('doc_id')} <
  CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25 WHEN 'src2' THEN 1.0 ELSE 0.0 END
"""
        ).fetchall()
    )
    assert got == want
    assert got  # non-vacuous


def test_stratified_sample_large_ids_no_overflow(spark, duck):
    """Ids near int64 max: without the pmod pre-reduction 48271*id wraps in
    Spark and raises in DuckDB — both engines must now agree exactly over
    the full id range (ADVICE r4)."""
    from clickhousedatamocker_spark.operators.corpus import sample_key_oracle_sql

    ids = [2**63 - 1, 2**63 - 12345, 10**18 + 7, 2 * 10**14, 1_999_999_999_999_999, 3, 0]
    df = spark.createDataFrame([(i, "s") for i in ids], "doc_id long, source string")
    got = sorted(r["doc_id"] for r in stratified_sample(df, {"s": 0.5}).collect())
    duck.execute("CREATE OR REPLACE TEMP TABLE big_ids(doc_id BIGINT)")
    duck.executemany("INSERT INTO big_ids VALUES (?)", [(i,) for i in ids])
    want = sorted(
        r[0]
        for r in duck.execute(
            f"SELECT doc_id FROM big_ids WHERE {sample_key_oracle_sql('doc_id')} < 0.5"
        ).fetchall()
    )
    assert got == want


def test_temperature_mix_rates(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    counts = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}

    # T=1: natural proportions -> every stratum gets the same rate
    rates1 = temperature_mix_rates(docs, temperature=1.0, target_rows=100)
    total = sum(counts.values())
    for s, n in counts.items():
        assert rates1[s] == pytest.approx(min(1.0, 100 / total), rel=1e-9)

    # high T flattens: expected per-stratum yields approach equality
    rates_hot = temperature_mix_rates(docs, temperature=100.0, target_rows=100)
    yields = sorted(rates_hot[s] * counts[s] for s in counts)
    assert yields[-1] - yields[0] < 5  # near-uniform contribution

    # expected total sample size ~= target (no stratum capped here)
    assert sum(rates_hot[s] * counts[s] for s in counts) == pytest.approx(100, rel=0.01)

    # end-to-end: applying the rates samples close to target, deterministically
    sampled = stratified_sample(docs, rates_hot)
    n1, n2 = sampled.count(), sampled.count()
    assert n1 == n2
    assert abs(n1 - 100) < 40  # hash-threshold sampling variance at n=100


def test_boilerplate_segment_collapses_to_canonical(spark):
    """A segment planted into MANY documents (cookie-banner shape) survives
    exactly once — in the smallest (doc_id, seg_no) — and every host
    document keeps its other segments intact."""
    banner = " ".join(f"bp{i}" for i in range(16))  # one full 16-token window
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
        .withColumn("text", F.concat(F.lit(banner + " "), F.col("text")))
    )
    out = segment_dedup(docs, segment_tokens=16, max_duplication=1)
    rows = {r["doc_id"]: r for r in out.collect()}
    keepers = [d for d, r in rows.items() if r["text"].startswith(banner)]
    assert keepers == [0]  # canonical = smallest doc id (banner is seg_no 0)
    # every other doc dropped its banner window (and possibly windows the
    # fixture naturally duplicates across docs); what survives is an
    # in-order subsequence of the doc's own 16-token windows, banner-free
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d, r in rows.items():
        if d == 0:
            continue
        assert not r["text"].startswith(banner)
        assert r["n_dropped_segments"] >= 1
        toks = orig[d].split(" ")
        windows = [" ".join(toks[i : i + 16]) for i in range(0, len(toks), 16)]
        kept_windows = []
        rest = r["text"]
        for wdw in windows:
            if rest == wdw or rest.startswith(wdw + " "):
                kept_windows.append(wdw)
                rest = rest[len(wdw) :].lstrip(" ")
        assert rest == "", f"doc {d}: survivors are not in-order original windows"
        assert banner not in kept_windows


def test_training_mix_pipeline_end_to_end(spark):
    """The corpus-governance ops COMPOSE: segment-dedup -> LM quality gate
    -> temperature-balanced mixture sample, with row accounting at each
    stage and end-to-end determinism."""
    from clickhousedatamocker_spark.operators.text_analysis import (
        score_bigram_logprob,
        train_bigram_lm,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text", "source")
    n0 = docs.count()

    deduped = segment_dedup(docs, segment_tokens=16, max_duplication=2).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    assert deduped.count() == n0  # dedup rewrites text, never drops docs

    model = train_bigram_lm(docs, vocab_size=256, max_bigrams=4096)
    scored = deduped.join(score_bigram_logprob(deduped, model), "doc_id")
    gated = scored.filter(F.col("mean_logprob") > model["log_alpha"] + model["log_oov"])
    n_gated = gated.count()
    assert 0 < n_gated <= n0

    rates = temperature_mix_rates(gated, temperature=2.0, target_rows=100)
    mixed = stratified_sample(gated, rates)
    n_mixed = mixed.count()
    assert 0 < n_mixed <= n_gated

    # deterministic end to end: the same pipeline yields the same ids
    again = stratified_sample(
        scored.filter(F.col("mean_logprob") > model["log_alpha"] + model["log_oov"]), rates
    )
    assert sorted(r["doc_id"] for r in mixed.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_fill_gaps_matches_duckdb(spark, duck):
    """WITH FILL semantics: an hourly rollup over sparse doc_ids gains one
    row per missing grid point, zero-filled counts; matches a DuckDB
    generate_series left join exactly."""
    from clickhousedatamocker_spark.operators.fill import fill_gaps

    rollup = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0)  # sparse keys
        .withColumn("bucket", F.floor(F.col("doc_id") / 50).cast("long"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    filled = fill_gaps(rollup, "bucket", step=1, fill_values={"n": 0})
    got = sorted((r["bucket"], r["n"]) for r in filled.collect())

    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
WITH rollup AS (
  SELECT CAST(floor(doc_id / 50.0) AS BIGINT) AS bucket, COUNT(*) AS n
  FROM documents WHERE doc_id % 7 = 0 GROUP BY 1
), grid AS (
  SELECT UNNEST(generate_series((SELECT MIN(bucket) FROM rollup),
                                (SELECT MAX(bucket) FROM rollup))) AS bucket
)
SELECT g.bucket, COALESCE(r.n, 0) AS n FROM grid g LEFT JOIN rollup r USING (bucket)
"""
        ).fetchall()
    )
    assert got == want
    # contiguous grid, no holes
    buckets = [b for b, _ in got]
    assert buckets == list(range(buckets[0], buckets[-1] + 1))
    # explicit bounds extend past the data (TO exclusive: -2..last+1)
    wide = fill_gaps(rollup, "bucket", from_val=-2, to_val=buckets[-1] + 2, fill_values={"n": 0})
    assert wide.count() == len(buckets) + 3
    # source rows OUTSIDE the grid are never dropped (CH keeps them)
    narrow = fill_gaps(rollup, "bucket", from_val=0, to_val=2, fill_values={"n": 0})
    assert narrow.count() == len(buckets)  # grid 0,1 ⊆ data keys; all data kept
    # fill_values touch ONLY synthesized rows: a genuine NULL survives
    with_null = rollup.withColumn(
        "n", F.when(F.col("bucket") == buckets[0], None).otherwise(F.col("n"))
    )
    refilled = {
        r["bucket"]: r["n"]
        for r in fill_gaps(with_null, "bucket", fill_values={"n": 0}).collect()
    }
    assert refilled[buckets[0]] is None  # original NULL is data, not a gap
    # empty input passes through
    assert fill_gaps(rollup.filter("bucket < -99"), "bucket").count() == 0


def test_fill_gaps_timestamp_grid_recipe(spark):
    """The docstring's timestamp recipe (epoch in, timestamp out) yields a
    gap-free hourly series with original rows intact."""
    from clickhousedatamocker_spark.operators.fill import fill_gaps

    rows = [("2026-01-01 00:10:00", 5), ("2026-01-01 03:40:00", 7), ("2026-01-01 06:05:00", 2)]
    hourly = (
        spark.createDataFrame(rows, ["ts", "n"])
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("epoch_h", (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600).cast("long"))
        .groupBy("epoch_h")
        .agg(F.sum("n").alias("n"))
    )
    filled = fill_gaps(hourly, "epoch_h", fill_values={"n": 0}).withColumn(
        "hour", F.timestamp_seconds(F.col("epoch_h") * 3600)
    )
    got = sorted((str(r["hour"]), r["n"]) for r in filled.collect())
    assert len(got) == 7  # 00:00 .. 06:00 inclusive (bounds from data)
    assert got[0] == ("2026-01-01 00:00:00", 5)
    assert got[3] == ("2026-01-01 03:00:00", 7)
    assert got[6] == ("2026-01-01 06:00:00", 2)
    assert all(n == 0 for h, n in got if h not in ("2026-01-01 00:00:00", "2026-01-01 03:00:00", "2026-01-01 06:00:00"))


def test_pack_token_sequences_laws_and_duckdb(spark):
    """Sequence packing laws: every sequence except each shard's last holds
    exactly seq_len tokens; concatenating a shard's sequences in seq_id
    order reproduces that shard's document token stream verbatim (packing
    is lossless and order-preserving); and the whole layout matches a
    DuckDB reimplementation exactly."""
    import duckdb

    from clickhousedatamocker_spark.operators.corpus import pack_token_sequences
    from tests.conftest import SF_DIR

    L, SHARDS = 32, 4
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120).select("doc_id", "text")
    packed = pack_token_sequences(docs, seq_len=L, n_shards=SHARDS).collect()

    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= set(range(SHARDS)) and by_shard
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["seq_id"])
        assert [r["seq_id"] for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r["n_tokens"] == L, f"shard {shard} seq {r['seq_id']}"
        assert 1 <= rows[-1]["n_tokens"] <= L
        # losslessness: sequences re-concatenate to the shard's doc stream
        stream = " ".join(r["text"] for r in rows)
        expect = " ".join(
            row["text"] + " <|endoftext|>"
            for row in sorted(
                docs.withColumn(
                    "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(SHARDS))
                ).filter(F.col("shard") == shard).collect(),
                key=lambda r: r["doc_id"],
            )
        )
        assert stream == expect, f"shard {shard} stream mismatch"

    # cross-engine: DuckDB reimplementation (hash replaced by a modulo
    # shard on doc_id ordinal is NOT equivalent, so feed Spark's shard
    # assignment in and check the packing arithmetic itself)
    con = duckdb.connect()
    sharded = docs.withColumn("shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(SHARDS)))
    con.register("sharded", sharded.toPandas())
    want = con.execute(f"""
        WITH toks AS (
          SELECT shard, doc_id, string_split(text || ' <|endoftext|>', ' ') AS t
          FROM sharded
        ), offs AS (
          SELECT shard, doc_id, t,
                 SUM(len(t)) OVER (PARTITION BY shard ORDER BY doc_id) - len(t) AS start
          FROM toks
        ), tok_rows AS (
          SELECT shard, start + u.i - 1 AS pos, t[u.i] AS tok
          FROM offs, UNNEST(range(1, len(t) + 1)) AS u(i)
        )
        SELECT shard, CAST(pos // {L} AS BIGINT) AS seq_id, COUNT(*) AS n_tokens,
               string_agg(tok, ' ' ORDER BY pos) AS text
        FROM tok_rows GROUP BY shard, pos // {L}
        ORDER BY shard, seq_id
    """).fetchall()
    got = sorted(((r["shard"], r["seq_id"], r["n_tokens"], r["text"]) for r in packed))
    assert got == sorted(map(tuple, want))


def test_split_corpus_deterministic_and_matches_duckdb(spark):
    """split_corpus laws: disjoint+exhaustive (every doc gets exactly one
    label), engine-portable (exact id-level parity with the DuckDB twin),
    stable under re-partitioning, and fraction-accurate at corpus size."""
    import duckdb

    from clickhousedatamocker_spark.operators.corpus import (
        split_corpus,
        split_corpus_oracle_sql,
    )
    from tests.conftest import SF_DIR

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    got = {r["doc_id"]: r["split"] for r in split_corpus(docs, fr).collect()}
    n = len(got)
    assert n == docs.count()  # exhaustive, one label each

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW docs AS SELECT doc_id FROM '{SF_DIR}/documents.parquet'"
    )
    want = dict(
        con.execute(
            f"SELECT doc_id, {split_corpus_oracle_sql(fr)} AS s FROM docs"
        ).fetchall()
    )
    assert got == want  # exact cross-engine id-level parity

    # partitioning independence: same labels after an adversarial shuffle
    re_got = {
        r["doc_id"]: r["split"]
        for r in split_corpus(docs.repartition(17), fr).collect()
    }
    assert re_got == got

    # fraction accuracy (hash uniformity): within 3 sigma at corpus size
    from collections import Counter

    counts = Counter(got.values())
    for name, f in fr.items():
        sigma = (n * f * (1 - f)) ** 0.5
        assert abs(counts[name] - n * f) < 4 * sigma, (name, counts[name], n * f)

    with __import__("pytest").raises(ValueError, match="sum to 1"):
        split_corpus(docs, {"a": 0.5})


def test_pipeline_select_dedup_pack_conserves_tokens(spark):
    """The composed select->dedup->pack pipeline conserves tokens: every
    packed sequence token is a survivor doc's token or its eos marker —
    sum(packed n_tokens) == sum over survivors of (doc tokens + 1)."""
    from clickhousedatamocker_spark.operators.corpus import pack_token_sequences
    from clickhousedatamocker_spark.operators.dedup import (
        fuzzy_dedup_canonical,
        minhash_lsh_pairs,
    )
    from clickhousedatamocker_spark.operators.importance import (
        dsir_select,
        train_hashed_ngram_model,
    )
    from clickhousedatamocker_spark.queries import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("source") == "src0")
    tm = train_hashed_ngram_model(target, num_buckets=4096)
    bm = train_hashed_ngram_model(docs, num_buckets=4096)
    selected = dsir_select(docs, tm, bm, keep_fraction=0.5).persist()
    pairs = minhash_lsh_pairs(selected, threshold=0.5)
    survivors = fuzzy_dedup_canonical(selected, pairs)

    n_sel = selected.count()
    n_surv = survivors.count()
    assert n_sel == max(1, round(docs.count() * 0.5))
    assert 0 < n_surv <= n_sel

    packed = pack_token_sequences(survivors, seq_len=512, n_shards=16)
    packed_tokens = packed.agg(F.sum("n_tokens")).first()[0]
    doc_tokens = survivors.select(
        (F.size(F.split("text", " ")) + 1).alias("n")
    ).agg(F.sum("n")).first()[0]
    assert packed_tokens == doc_tokens

    # the registered profile runs and agrees on the totals, and releases
    # every relation it cached (the verify stage's candidate pairs too)
    spark.catalog.clearCache()
    prof = REGISTRY["pipeline_select_dedup_pack"].fn(spark, sf_dir)
    rows = prof.collect()
    assert sum(r["n_tokens"] for r in rows) == doc_tokens
    assert set(prof.columns) == {"shard", "n_sequences", "n_tokens", "n_full"}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------------------
# weighted reservoir sampling (A-ES)


def test_weighted_sample_matches_duckdb(spark, duck):
    """Same ln(u)/w key, same tiebreak → same 40 documents in DuckDB (the
    fixed-seed pin for the ulp caveat in the docstring)."""
    from clickhousedatamocker_spark.operators.corpus import (
        weighted_sample,
        weighted_sample_oracle_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        r["doc_id"]
        for r in weighted_sample(docs, n=40, weight_col="n_chars", salt=3).collect()
    )
    want = sorted(
        r[0]
        for r in duck.execute(
            weighted_sample_oracle_sql(40, "n_chars", salt=3, select="doc_id")
        ).fetchall()
    )
    assert got == want
    assert len(got) == 40


def test_weighted_sample_laws(spark):
    """Size, determinism, weight-monotonicity, and the A-ES n=1 inclusion
    probability (selection frequency across salts tracks w_i / sum(w))."""
    from clickhousedatamocker_spark.operators.corpus import weighted_sample

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate([1.0, 2.0, 4.0, 0.0, -1.0, None, float("nan")])],
        "doc_id: long, w: double",
    )
    # non-positive / NULL / NaN weights never selected, even with n >
    # candidates (NaN passes a bare `w > 0` and would sort FIRST under the
    # desc key — the review-caught always-selected trap)
    got = weighted_sample(docs, n=10, weight_col="w")
    ids = {r["doc_id"] for r in got.collect()}
    assert ids == {0, 1, 2}

    # determinism: same salt → same sample; distinct salts → eventually differs
    big = spark.range(200).withColumn("w", (F.col("id") % 7 + 1).cast("double"))
    a = sorted(r["id"] for r in weighted_sample(big, 20, "w", id_col="id", salt=1).collect())
    b = sorted(r["id"] for r in weighted_sample(big, 20, "w", id_col="id", salt=1).collect())
    assert a == b
    assert len(a) == 20
    c = sorted(r["id"] for r in weighted_sample(big, 20, "w", id_col="id", salt=2).collect())
    assert a != c

    # monotone: raising a selected row's weight keeps it selected
    boosted = big.withColumn(
        "w", F.when(F.col("id") == a[0], F.col("w") * 100).otherwise(F.col("w"))
    )
    a2 = {r["id"] for r in weighted_sample(boosted, 20, "w", id_col="id", salt=1).collect()}
    assert a[0] in a2

    # n=1 inclusion probability: P(i) = w_i / sum(w) exactly under A-ES.
    # One Spark job: compute the per-salt winner for 600 salts in one pass
    # (same key arithmetic as weighted_sample, argmax per salt).
    trials = 600
    three = spark.createDataFrame(
        [(11, 1.0), (22, 2.0), (33, 5.0)], "doc_id: long, w: double"
    )
    salted = three.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(trials - 1)))
    )
    # _uniform_01_excl0 takes a literal salt; inline its arithmetic with the
    # salt COLUMN instead (same constants) for the sweep
    from clickhousedatamocker_spark.operators.corpus import _SP, _sample_key_int

    m = F.pmod(F.col("salt"), F.lit(_SP - 1)) + F.lit(1)
    v = F.pmod(_sample_key_int(F.col("doc_id")) * m, F.lit(_SP))
    u = (_sample_key_int(v) + F.lit(1)).cast("double") / F.lit(float(_SP + 1))
    keyed = salted.withColumn("key", F.log(u) / F.col("w"))
    winners = (
        keyed.groupBy("salt")
        .agg(F.max_by("doc_id", "key").alias("winner"))
        .groupBy("winner")
        .count()
        .collect()
    )
    freq = {r["winner"]: r["count"] / trials for r in winners}
    assert abs(freq.get(11, 0) - 1 / 8) < 0.06
    assert abs(freq.get(22, 0) - 2 / 8) < 0.07
    assert abs(freq.get(33, 0) - 5 / 8) < 0.08


# ---------------------------------------------------------------------------
# epoch mixture


def test_epoch_mixture_matches_duckdb(spark, duck):
    """Hash-exact cross-engine: floor/frac of literal epochs + the portable
    Lehmer key — every (doc_id, epoch) pair identical in DuckDB."""
    from clickhousedatamocker_spark.operators.corpus import (
        epoch_mixture,
        epoch_mixture_oracle_sql,
    )

    epochs = {"src0": 2.5, "src1": 1.0, "src2": 0.25, "src3": 3.0}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["epoch"])
        for r in epoch_mixture(docs, epochs).select("doc_id", "epoch").collect()
    )
    want = sorted(
        (r[0], r[1])
        for r in duck.execute(
            "SELECT doc_id, epoch FROM ("
            + epoch_mixture_oracle_sql(epochs)
            + ")"
        ).fetchall()
    )
    assert got == want
    assert len(got) > 0
    # integer epochs replicate exactly: every src1 doc once, every src3 doc
    # three times (copies 0..2)
    by_doc = {}
    for d, e in got:
        by_doc.setdefault(d, []).append(e)
    src1_ids = {r["doc_id"] for r in docs.filter(F.col("source") == "src1").collect()}
    src3_ids = {r["doc_id"] for r in docs.filter(F.col("source") == "src3").collect()}
    for d in src1_ids:
        assert by_doc[d] == [0]
    for d in src3_ids:
        assert sorted(by_doc[d]) == [0, 1, 2]
    # absent domains are dropped
    assert all(
        r["source"] in epochs
        for r in epoch_mixture(docs, epochs).select("source").distinct().collect()
    )


def test_epoch_mixture_plan_token_accounting(spark):
    """plan → apply: realized per-domain tokens land within one document of
    the budget share, and the max_epochs cap binds."""
    from clickhousedatamocker_spark.operators.corpus import (
        epoch_mixture,
        epoch_mixture_plan,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    weights = {"src0": 3.0, "src1": 1.0}
    budget = 30_000
    plan = epoch_mixture_plan(
        docs, weights, budget_tokens=budget, token_col="n_chars", max_epochs=16.0
    )
    assert set(plan) == {"src0", "src1"}
    mixed = epoch_mixture(docs, plan)
    realized = {
        r["source"]: r["tok"]
        for r in mixed.groupBy("source").agg(F.sum("n_chars").alias("tok")).collect()
    }
    # each domain within ~2 max-documents of its target share
    max_doc = max(r["n_chars"] for r in docs.select("n_chars").collect())
    for d, want_w in weights.items():
        target = budget * want_w / sum(weights.values())
        assert abs(realized[d] - target) <= 2 * max_doc, (d, realized[d], target)

    # cap binds: a huge budget cannot repeat more than max_epochs times
    capped = epoch_mixture_plan(
        docs, weights, budget_tokens=10**9, token_col="n_chars", max_epochs=4.0
    )
    assert all(e == 4.0 for e in capped.values())
    n_copies = (
        epoch_mixture(docs.filter(F.col("source") == "src0"), capped)
        .groupBy("doc_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert n_copies == 4


# ---------------------------------------------------------------------------
# corpus snapshot diff


def test_corpus_diff_matches_duckdb(spark, duck):
    """Hash-equality status == text-equality status (the DuckDB twin
    compares TEXT, so any xxhash64 drift or misclassification shows)."""
    from clickhousedatamocker_spark.operators.corpus import corpus_diff

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    # new snapshot: drop ids < 20 (removed), add 900000+ (added), edit
    # 100..119 (changed), keep the rest
    new = (
        docs.filter(F.col("doc_id") >= 20)
        .withColumn(
            "text",
            F.when(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 120),
                F.concat(F.col("text"), F.lit(" EDITED")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            spark.createDataFrame(
                [(900000 + i, f"fresh doc {i}") for i in range(7)],
                "doc_id: long, text: string",
            )
        )
    )
    new.createOrReplaceTempView("new_docs")
    got = sorted(
        (r["doc_id"], r["status"]) for r in corpus_diff(docs, new).collect()
    )

    duck.execute("CREATE OR REPLACE VIEW old_v AS SELECT doc_id, text FROM documents")
    spark_new = new.toPandas()
    duck.register("new_pdf", spark_new)
    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
       ELSE 'changed' END AS status
FROM old_v o FULL OUTER JOIN new_pdf n USING (doc_id)
"""
        ).fetchall()
    )
    assert got == want
    by = {}
    for _, s in got:
        by[s] = by.get(s, 0) + 1
    assert by["removed"] == 20 and by["added"] == 7 and by["changed"] == 20


def test_global_shuffle_matches_duckdb(spark, duck):
    """The full permutation — every (doc_id, shard, pos) triple — matches
    DuckDB's replay of the salted Lehmer key + modular shard + (key, id)
    row_number. Exact integers end to end, so equality is bitwise."""
    from clickhousedatamocker_spark.operators.corpus import (
        global_shuffle,
        shuffle_key_int_oracle_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    got = sorted(
        (r["doc_id"], r["shard"], r["pos"])
        for r in global_shuffle(docs, id_col="doc_id", n_shards=8, salt=11).collect()
    )
    key = shuffle_key_int_oracle_sql("doc_id", 11)
    want = sorted(
        duck.execute(
            f"""
WITH keyed AS (SELECT doc_id, ({key}) AS k FROM documents)
SELECT doc_id, CAST(((k % 8) + 8) % 8 AS INT) AS shard,
  ROW_NUMBER() OVER (PARTITION BY ((k % 8) + 8) % 8 ORDER BY k, doc_id) AS pos
FROM keyed
"""
        ).fetchall()
    )
    assert got == want
    assert len(got) == docs.count()


def test_global_shuffle_laws(spark):
    """Determinism, totality (each shard's positions are 1..n contiguous),
    salt sensitivity (different salt → different permutation), and
    hash-balance (no empty shard on a corpus >> n_shards)."""
    from clickhousedatamocker_spark.operators.corpus import global_shuffle

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = global_shuffle(docs, id_col="doc_id", n_shards=4, salt=1).collect()
    b = global_shuffle(docs, id_col="doc_id", n_shards=4, salt=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    c = global_shuffle(docs, id_col="doc_id", n_shards=4, salt=2).collect()
    assert sorted((r["doc_id"], r["shard"], r["pos"]) for r in a) != sorted(
        (r["doc_id"], r["shard"], r["pos"]) for r in c
    )
    # within a shard the order must not be the id order (it IS shuffled)
    s0 = [r["doc_id"] for r in sorted(a, key=lambda r: (r["shard"], r["pos"])) if r["shard"] == 0]
    assert s0 != sorted(s0)


def test_write_shuffle_shards_layout(spark, tmp_path):
    """The parquet export: one directory per shard, rows inside each
    shard file come back in pos order without sorting (parquet preserves
    write order within a file)."""
    import glob

    from clickhousedatamocker_spark.operators.corpus import (
        global_shuffle,
        write_shuffle_shards,
    )

    docs = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    sh = global_shuffle(docs, id_col="doc_id", n_shards=4, salt=5)
    out = str(tmp_path / "shards")
    write_shuffle_shards(sh, out)
    dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "1", "2", "3"]
    import pyarrow.parquet as pq

    for d in dirs:
        files = sorted(glob.glob(f"{d}/*.parquet"))
        rows = []
        for f in files:
            rows.extend(pq.read_table(f, columns=["pos"]).column("pos").to_pylist())
        assert rows == sorted(rows)
    # round-trip: reading all shards reproduces the full permutation
    back = spark.read.parquet(out)
    assert sorted(
        (r["doc_id"], int(r["shard"]), r["pos"]) for r in back.collect()
    ) == sorted((r["doc_id"], r["shard"], r["pos"]) for r in sh.collect())


def test_split_corpus_grouped_matches_duckdb(spark, duck):
    """Group-keyed split labels match DuckDB's replay of the polynomial
    hash + Lehmer mix + interval thresholds, per document."""
    from clickhousedatamocker_spark.operators.corpus import (
        split_corpus_grouped,
        split_corpus_grouped_oracle_sql,
    )

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["split"])
        for r in split_corpus_grouped(docs, fr, group_col="source").collect()
    )
    label = split_corpus_grouped_oracle_sql(fr, "source")
    want = sorted(
        duck.execute(f"SELECT doc_id, {label} AS split FROM documents").fetchall()
    )
    assert got == want


def test_split_corpus_grouped_laws(spark):
    """No group straddles two splits (the leakage guard — the point of
    the operator); labels are deterministic; every fraction-name appears
    given enough distinct groups; fraction-sum validation raises."""
    import pytest as _pytest

    from clickhousedatamocker_spark.operators.corpus import split_corpus_grouped

    rows = [(i, f"domain{i % 40}.com") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    fr = {"train": 0.6, "val": 0.2, "test": 0.2}
    out = split_corpus_grouped(df, fr, group_col="source").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())
    assert {r["split"] for r in out} == {"train", "val", "test"}
    again = split_corpus_grouped(df, fr, group_col="source").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a NULL group falls to the LAST interval (documented contract)
    null_df = spark.createDataFrame([(1, None)], "doc_id: long, source: string")
    assert split_corpus_grouped(null_df, fr, group_col="source").collect()[0]["split"] == "test"
    with _pytest.raises(ValueError, match="sum to 1"):
        split_corpus_grouped(df, {"a": 0.5}, group_col="source")


def test_global_shuffle_rejects_bad_shard_count(spark):
    import pytest as _pytest

    from clickhousedatamocker_spark.operators.corpus import global_shuffle

    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError, match="n_shards"):
        global_shuffle(docs, id_col="doc_id", n_shards=0)


def test_global_shuffle_plan_one_exchange(spark):
    """The scale claim, pinned: ONE hash exchange on shard, a per-shard
    sort + window, zero extra shuffles and zero Python stages — the
    permutation never needs a global rank barrier."""
    from clickhousedatamocker_spark.operators.corpus import global_shuffle

    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    sh = global_shuffle(docs, id_col="doc_id", n_shards=8, salt=3)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "row_number()" in plan
    for banned in ("ArrowEvalPython", "BatchEvalPython", "CartesianProduct"):
        assert banned not in plan

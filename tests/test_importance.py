"""DSIR importance scoring (operators/importance.py).

Reference strategy: bucket hashing is Spark's xxhash64 in BOTH engine
paths, so the test re-derives expected values from the collected bucket
arrays with pure-Python counting/summing — isolating the model math and
the two lookup paths from the hash."""

import math

import pytest
from pyspark.sql import functions as F

from clickhousedatamocker_spark.operators import importance as imp

NB = 64


@pytest.fixture(scope="module")
def corpora(spark):
    target = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
        + [(9, "quick fox quick fox")],
        "doc_id long, text string",
    )
    background = spark.createDataFrame(
        [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit") for i in range(7)],
        "doc_id long, text string",
    )
    candidates = spark.createDataFrame(
        [
            (1, "the quick fox jumps"),          # target-like
            (2, "lorem ipsum dolor sit"),        # background-like
            (3, "quick brown fox over the dog"),  # target-like
            (4, "consectetur adipiscing elit"),   # background-like
            (5, ""),                              # empty: score 0
            (6, None),                            # NULL text: score NULL
        ],
        "doc_id long, text string",
    )
    return target, background, candidates


def _buckets(df, nb=NB):
    rows = df.select("doc_id", imp._gram_buckets("text", nb).alias("b")).collect()
    return {r["doc_id"]: (None if r["b"] is None else list(r["b"])) for r in rows}


def test_model_matches_python_counting(spark, corpora):
    target, _, _ = corpora
    model = imp.train_hashed_ngram_model(target, num_buckets=NB)
    from collections import Counter

    c = Counter()
    for bs in _buckets(target).values():
        c.update(bs)
    total = sum(c.values()) + NB
    want = [(c.get(i, 0) + 1) / total for i in range(NB)]
    assert model == pytest.approx(want, abs=0)
    assert sum(model) == pytest.approx(1.0, rel=1e-9)


def test_score_matches_reference_and_arrow_path(spark, corpora, monkeypatch):
    target, background, cand = corpora
    tm = imp.train_hashed_ngram_model(target, num_buckets=NB)
    bm = imp.train_hashed_ngram_model(background, num_buckets=NB)
    lr = [math.log(t) - math.log(b) for t, b in zip(tm, bm)]
    want = {
        d: (None if bs is None else sum(lr[b] for b in bs))
        for d, bs in _buckets(cand).items()
    }
    got = {
        r["doc_id"]: r["importance"]
        for r in imp.dsir_score(cand, tm, bm).collect()
    }
    for d in want:
        if want[d] is None:
            assert got[d] is None
        else:
            assert got[d] == pytest.approx(want[d], abs=1e-9)
    assert got[5] == 0.0
    # Arrow path (forced) agrees exactly with the literal path
    monkeypatch.setattr(imp, "_LITERAL_MODEL_MAX", 0)
    arrow = {
        r["doc_id"]: r["importance"]
        for r in imp.dsir_score(cand, tm, bm).collect()
    }
    for d in want:
        if got[d] is None:
            assert arrow[d] is None
        else:
            assert arrow[d] == pytest.approx(got[d], abs=1e-9)


def test_scores_separate_target_from_background(spark, corpora):
    target, background, cand = corpora
    tm = imp.train_hashed_ngram_model(target, num_buckets=NB)
    bm = imp.train_hashed_ngram_model(background, num_buckets=NB)
    got = {r["doc_id"]: r["importance"] for r in imp.dsir_score(cand, tm, bm).collect()}
    assert min(got[1], got[3]) > max(got[2], got[4])
    kept = {r["doc_id"] for r in imp.dsir_select(cand, tm, bm, keep_fraction=0.4).collect()}
    assert kept == {1, 3}
    with pytest.raises(ValueError, match="keep_fraction"):
        imp.dsir_select(cand, tm, bm, keep_fraction=0.0)
    with pytest.raises(ValueError, match="bucket count"):
        imp.dsir_score(cand, tm, bm[:-1])


def test_literal_scoring_plan_has_no_exchange(spark, corpora):
    target, background, cand = corpora
    tm = imp.train_hashed_ngram_model(target, num_buckets=NB)
    bm = imp.train_hashed_ngram_model(background, num_buckets=NB)
    plan = (
        imp.dsir_score(cand, tm, bm)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_train_model_pair_equals_separate_training(spark):
    """One-pass pair training must be value-identical to two separate
    train_hashed_ngram_model calls (target = a slice of the corpus)."""
    from pyspark.sql import functions as F

    from clickhousedatamocker_spark.operators.importance import (
        train_hashed_ngram_model,
        train_hashed_ngram_model_pair,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for xe in (False, True):
        tm1 = train_hashed_ngram_model(
            docs.filter(F.col("source") == "src0"), num_buckets=512, use_xengine_hash=xe
        )
        bm1 = train_hashed_ngram_model(docs, num_buckets=512, use_xengine_hash=xe)
        tm2, bm2 = train_hashed_ngram_model_pair(
            docs, F.col("source") == "src0", num_buckets=512, use_xengine_hash=xe
        )
        assert tm1 == tm2 and bm1 == bm2


def _topk_expected(rows, k):
    """Ground truth for (score DESC NULLS LAST, id ASC) limit k."""
    key = lambda r: (-(float("-inf") if r[1] is None else r[1]), r[0])  # noqa: E731
    return sorted(sorted(rows, key=key)[:k])


def test_topk_threshold_filter_equals_sort_limit(spark):
    """The quantile-bracketed threshold filter (r12) must keep EXACTLY the
    orderBy(score DESC, id ASC).limit(k) set — across duplicate scores,
    NULL scores, k at both ends, and the caller-provided n_rows path."""
    rows = [(0, None), (1, 2.5), (2, 2.5), (3, -1.0), (4, 7.0), (5, 2.5),
            (6, None), (7, 0.0), (8, -0.0), (9, 7.0)] + [
        (10 + i, float(i % 4)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, score double")
    n = len(rows)
    for k in (1, 2, 3, n // 2, n - 1, n, n + 10):
        got = sorted(
            (r["id"], r["score"])
            for r in imp.topk_threshold_filter(df, "score", "id", k).collect()
        )
        assert got == _topk_expected(rows, min(k, n)), f"k={k}"
    got = sorted(
        (r["id"], r["score"])
        for r in imp.topk_threshold_filter(df, "score", "id", 7, n_rows=n).collect()
    )
    assert got == _topk_expected(rows, 7)


@pytest.mark.parametrize("offset", [0, 2**60, -(2**60)], ids=["0", "2^60", "-2^60"])
def test_topk_threshold_filter_tie_plateau(spark, offset):
    """A giant equal-score plateau with the cut inside it exercises the
    id-bracketing path (_kth_id_among_ties with min side > its budget) —
    the tie-break must stay exact and never touch a negated id. Offset ids
    lie past 2^53, where the quantile pivot's double cannot tell
    neighbouring ids apart."""
    n, k = 10_000, 5_000
    df = spark.range(n).select((F.col("id") + F.lit(offset)).alias("id"), F.lit(1.0).alias("score"))
    out = imp.topk_threshold_filter(df, "score", "id", k, n_rows=n)
    got = sorted(r["id"] for r in out.collect())
    assert got == [offset + i for i in range(k)]


def test_topk_threshold_filter_preserves_partitioning(spark):
    """The returned slice is a FILTER over the input — no sort, no global
    limit, no exchange in its own plan (the probes are separate bounded
    driver-side jobs)."""
    df = spark.range(0, 1000, 1, 8).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("score")
    )
    out = imp.topk_threshold_filter(df, "score", "id", 500, n_rows=1000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" not in plan
    assert out.rdd.getNumPartitions() == 8

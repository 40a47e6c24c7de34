"""Deduplication operators for LLM-data pipelines (SURVEY §2.4 Tier B).

Ladder of fidelity/cost, all shuffle-disciplined for 100 TB:

- exact_dedup: one hash aggregation on the key (map-side partial combine).
- ngram_jaccard_pairs: exact near-dup pairs by shingle Jaccard. Quadratic —
  the *verifier*, not the scale path; a size-ratio prefilter (provably
  lossless at the threshold) plus same-language blocking bound the pair space.
- minhash_lsh_pairs: the scale path. Shingles → k min-hashes → b bands →
  candidates meet only within a band bucket (linear-ish in corpus size),
  then exact Jaccard verification of candidates only.
- simhash_near_pairs: 64-bit fingerprints; near-dups differ in few bits;
  bucketing on 16-bit chunks finds all pairs within Hamming distance 3
  (pigeonhole).

MinHash and SimHash each have ONE plan body run on two hash backends. The
production backend is xxhash64 (JVM-side, whole-stage codegen — no Python
in any hot path). The cross-engine backend, bound by the ``*_xengine``
names, is a rolling polynomial hash mod a 30-bit prime that DuckDB can
recompute, so the shared body is graded value-exact against its
``*_oracle_sql`` twin and a fix to the body lands in both at once.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhousedatamocker_spark.schema import local_view


def tokens(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def shingles_of_tokens(tk: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a *materialized* token-array column.

    The token array MUST be a real column, not a ``split(...)`` expression:
    Catalyst does no common-subexpression elimination inside lambda
    functions, so an inline split would be re-evaluated for every
    ``element_at`` — O(tokens²) per row.

    A document with fewer than ``n`` tokens has no shingles (``sequence``
    would count DOWN from 1 and index past the array's end).
    """
    idx = F.when(F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - (n - 1))).otherwise(F.array())
    gram = lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(n)])  # noqa: E731
    return F.array_distinct(F.transform(idx, gram))


def shingles(col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column. Prefer materializing
    ``tokens(col)`` first and calling :func:`shingles_of_tokens` in hot paths
    (see its docstring)."""
    return shingles_of_tokens(tokens(col), n)


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the minimum-``order_col`` row per key group — deterministic
    (dropDuplicates keeps an arbitrary row; this is the reproducible form).
    One shuffle on the keys."""
    canonical = df.groupBy(*keys).agg(F.min(order_col).alias(order_col))
    return df.join(canonical, keys + [order_col], "left_semi")


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b)))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact near-duplicate pairs: shingle-Jaccard >= threshold.

    Lossless prefilters before the quadratic compare:
    - blocking on ``block_cols`` (e.g. language) — near-dups share them;
    - size ratio: J(A,B) >= t  ⇒  t·|A| <= |B| and t·|B| <= |A|
      (since |A∩B| <= min and >= t·max), so wildly different-size pairs
      are skipped without changing the result set;
    - length BUCKETING turns the size-ratio bound into an equi-join key
      (guide §3.1 — pick the strategy deliberately): docs land in
      geometric buckets of width ln(1/t), where any ratio-qualifying pair
      sits at most one bucket apart, so the a-side fans out to its three
      neighboring buckets and candidates meet in a hash/sort-merge
      equi-join instead of the former BroadcastNestedLoopJoin comparing
      every same-block pair. The bucket width carries a 1e-9 widening so
      floating-point ``ln`` rounding provably cannot push a qualifying
      pair two buckets apart; the exact ratio + Jaccard filters still run,
      so the result set is unchanged to the byte.
    """
    import math

    block_cols = block_cols or []
    base = (
        docs.select(F.col(id_col), *[F.col(c) for c in block_cols], tokens(text_col).alias("__tk"))
        .select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            shingles_of_tokens(F.col("__tk"), n).alias("__sg"),
        )
        .withColumn("__n", F.size("__sg"))
        .filter(F.col("__n") > 0)
    )
    if 0.0 < threshold < 1.0:
        w = math.log(1.0 / threshold) * (1.0 + 1e-9)
        bkt = F.floor(F.log(F.col("__n").cast("double")) / F.lit(w)).cast("long")
        a_rel = base.withColumn("__lb", F.explode(F.array(bkt - 1, bkt, bkt + 1)))
        b_rel = base.withColumn("__lb", bkt)
    elif threshold >= 1.0:
        # t >= 1 forces |A| == |B| exactly: the size itself is the bucket
        a_rel = base.withColumn("__lb", F.col("__n").cast("long"))
        b_rel = a_rel
    else:
        # t <= 0: the ratio bound is vacuous — no lossless bucketing exists
        a_rel = base.withColumn("__lb", F.lit(0))
        b_rel = a_rel

    a = a_rel.alias("a")
    b = b_rel.alias("b")
    cond = F.col("a.__lb") == F.col("b.__lb")
    cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = cond & (F.col("a.__n") * threshold <= F.col("b.__n"))
    cond = cond & (F.col("b.__n") * threshold <= F.col("a.__n"))

    j = jaccard(F.col("a.__sg"), F.col("b.__sg"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            j.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -- hash backends ----------------------------------------------------------
#
# xxhash64 is the production family, but no ANSI-SQL engine can recompute
# it. The cross-engine family (the same rolling polynomial primitive
# text_analysis.fingerprint hash-matches against DuckDB) makes signatures,
# banding, candidates and verify recomputable by the *_oracle_sql twins;
# since the body is shared, that oracle grades the production plan too.

_XP = 1_000_000_007  # 30-bit prime; every intermediate fits a long/BIGINT
_XA = 1_000_003  # Horner multiplier for combining hash values


def _poly_hash(c: Column, mult: int = 31) -> Column:
    """Rolling polynomial hash of a string column mod ``_XP`` — formula-
    identical to the DuckDB expression in :func:`_o_poly_hash`."""
    chars = F.filter(F.split(c, ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * mult + F.coalesce(F.ascii(ch), F.lit(0))) % F.lit(_XP),
    )


def _o_poly_hash(expr: str, mult: int = 31) -> str:
    """DuckDB expression computing :func:`_poly_hash` of ``expr``."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(acc, x) -> (acc * {mult} + x) % {_XP})"
    )


def _horner(hs: list[Column]) -> Column:
    """Horner combine of hash values mod ``_XP`` — the cross-engine
    counterpart of ``xxhash64(h1, ..., hn)``."""
    acc = hs[0]
    for h in hs[1:]:
        acc = (acc * _XA + h) % F.lit(_XP)
    return acc


def _mh_param(i: int) -> tuple[int, int]:
    """(a_i, b_i) of the affine MinHash family h_i(x) = (a_i*x + b_i) mod
    _XP (fixed seeds)."""
    return ((((i + 1) * 2654435761) % _XP) or 1, ((i + 1) * 40503 + 7) % _XP)


def _poly_member(i: int, h: Column) -> Column:
    a, b = _mh_param(i)
    return (a * h + b) % F.lit(_XP)


class _MinHashBackend(NamedTuple):
    """The four hash columns the MinHash body is parameterized by."""

    token: Callable[[Column], Column]  # token string -> token hash
    gram: Callable[[list[Column]], Column]  # n token hashes -> n-gram digest
    member: Callable[[int, Column], Column]  # (i, digest) -> i-th family hash
    band: Callable[[list[Column]], Column]  # r signature values -> band hash


_XXHASH64 = _MinHashBackend(
    token=lambda t: F.xxhash64(t),
    gram=lambda hs: F.xxhash64(*hs),
    member=lambda i, h: F.xxhash64(F.lit(i), h),
    band=lambda hs: F.xxhash64(*hs),
)
_POLY = _MinHashBackend(
    token=lambda t: _poly_hash(t), gram=_horner, member=_poly_member, band=_horner
)


# -- MinHash: one body, two backends ------------------------------------------


def _minhash_signatures(
    docs: DataFrame,
    backend: _MinHashBackend,
    id_col: str,
    text_col: str,
    num_hashes: int,
    n: int,
) -> DataFrame:
    # repartition on the id FIRST: (a) shuffles the small pre-explode rows,
    # not the ~50x larger shingle rows, (b) parallelizes shingling even when
    # the source is a single file, (c) the groupBy below reuses the hash
    # partitioning — no second shuffle (one exchange in the whole plan).
    # Documents shorter than n tokens have no n-gram and are dropped before
    # any gram is indexed. Each token is hashed ONCE (one string scan per
    # token), then a shingle's digest combines n token hashes — no
    # per-shingle string concat — and the k family members are k cheap
    # hashes of that digest. Token arrays are materialized columns (no CSE
    # inside lambdas — see shingles_of_tokens).
    th = (
        docs.repartition(F.col(id_col))
        .select(F.col(id_col), tokens(text_col).alias("__tk"))
        .filter(F.size("__tk") >= n)
        .select(F.col(id_col), F.transform("__tk", lambda t: backend.token(t)).alias("__th"))
    )
    idx = F.sequence(F.lit(1), F.size("__th") - (n - 1))
    grams = F.transform(
        idx, lambda i: backend.gram([F.element_at(F.col("__th"), i + j) for j in range(n)])
    )
    sh = th.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("__h0"))
    # a min over the exploded distinct digests equals array_min over the
    # digest array, so both backends keep the single-exchange grouped shape
    aggs = [F.min(backend.member(i, F.col("__h0"))).alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy(id_col).agg(*aggs)
    signature = F.array(*[f"h{i}" for i in range(num_hashes)])
    return sig.select(F.col(id_col), signature.alias("signature"))


def _minhash_pairs(
    docs: DataFrame,
    backend: _MinHashBackend,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    n: int,
    threshold: float,
    verify: bool = True,
) -> DataFrame:
    sig = _minhash_signatures(docs, backend, id_col, text_col, num_hashes, n)
    buckets = _band_buckets(sig, backend, id_col, num_hashes, bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    # sort-merge, not broadcast: the (band, bh) key is compound, so a
    # broadcast builds a byte-keyed hash relation whose first page is a full
    # Tungsten page (64 MB with get_spark's 8 GB driver) however few rows
    # it holds, and that block stays in the driver's memory store until a GC
    # happens to collect the plan. Both sides are the same relation, so the
    # merge join shuffles it once (reused exchange) and frees its sort
    # memory when each task ends.
    candidates = (
        a.join(
            b.hint("merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    if not verify:
        return candidates
    candidates, (sga, sgb) = _verify_prefilter(
        docs.select(F.col(id_col), F.col(text_col)), candidates, id_col, text_col, n
    )
    pairs = (
        candidates.join(sga, "id_a")
        .join(sgb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("__sga"), F.col("__sgb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    pairs.verify_cache = candidates
    return pairs


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: for each of ``num_hashes`` seeded hash
    functions, the min xxhash64 over the doc's shingles. Documents with
    fewer than ``n`` tokens have no shingle and get no signature row.

    Single explode + one grouped aggregation with ``num_hashes`` min()
    columns — one shuffle on the doc id, no Python.
    """
    return _minhash_signatures(docs, _XXHASH64, id_col, text_col, num_hashes, n)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.2,
    verify: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup candidates, optionally verified by exact Jaccard.

    banding: signature split into ``bands`` bands of r = num_hashes/bands
    rows; docs colliding on any band's hash become candidates. Collision
    probability 1-(1-J^r)^b. Scale: candidate generation is a self-join on
    (band, band_hash) buckets — linear in corpus + bucket sizes, never a
    full cross join. Skewed buckets (boilerplate shingles) are the known
    hazard: AQE skew-join splits them.

    With ``verify`` the candidate pairs are persisted (see
    :func:`_verify_prefilter`) and the returned frame carries that cached
    frame as ``verify_cache``: the caller unpersists it once the pairs'
    last action has run.
    """
    return _minhash_pairs(
        docs, _XXHASH64, id_col, text_col, num_hashes, bands, n, threshold, verify
    )


def minhash_lsh_pairs_xengine(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` (verified, same ``verify_cache`` contract)
    on the cross-engine hash backend — byte-identical to
    :func:`minhash_xengine_oracle_sql` run in DuckDB."""
    return _minhash_pairs(docs, _POLY, id_col, text_col, num_hashes, bands, n, threshold)


def _verify_prefilter(
    docs: DataFrame, candidates: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """Semi-join prefilter for the exact-Jaccard verify stage (guide §3.2,
    applied as a broadcast semi-join: PySpark has no DataFrame Bloom-filter
    builder, and the exact id set is small enough to broadcast whole).

    The verify joins previously moved EVERY document's shingle array —
    the corpus's heaviest payload, ~3× the text bytes — in full (broadcast
    whole under the fixture-scale size guess; a full corpus shuffle with
    honest stats) to meet a candidate set that is orders of magnitude
    smaller. Now the candidate pairs are
    ``persist()``-ed (the first action computes the signature pipeline
    exactly once; a lazy localCheckpoint was tried and leaked blocks
    across repeated runs), and each verify side's
    id projection BROADCAST-semi-joins the doc scan BEFORE shingling, so
    only candidates' shingles are ever computed or moved. No distinct, no
    separate sizing job: left-semi tolerates duplicate build-side ids, and
    everything materializes inside the consumer's own first action.

    Scale contract: the candidate set is the near-dup MASS — orders of
    magnitude below the corpus (the connected-components adaptive-path
    contract). The broadcast has Spark's hard cap (8 GB / 512M rows);
    a corpus whose candidate pairs exceed it fails LOUDLY here, and the
    documented fallback is to drop the two ``F.broadcast`` hints — a
    shuffled semi-join still moves (id, text) once instead of full
    shingle arrays twice.

    Result-identical: every verified pair's both ids are in the candidate
    id set by construction, so dropping non-candidate rows cannot change
    the join output.

    Cache owner: the persisted candidates are returned first; the pair
    operators hand them to their caller as ``pairs.verify_cache``, and
    nothing here unpersists them (the cache manager holds a persisted
    relation until someone does).
    """
    candidates = candidates.persist()
    # ONE shared broadcast of both sides' ids (no .distinct() — a left-semi
    # build side tolerates duplicates, so the union costs no shuffle; and
    # ONE relation, not one per side, so ReuseExchange dedupes the
    # broadcast build — two distinct broadcasts raced each other on the
    # cold candidates cache and evaluated the signature pipeline twice
    # concurrently, measured +60% on the composed xengine pipeline).
    ids = F.broadcast(
        candidates.select(F.col("id_a").alias(id_col)).union(
            candidates.select(F.col("id_b").alias(id_col))
        )
    )
    sg = (
        docs.join(ids, id_col, "left_semi")
        .select(F.col(id_col), tokens(text_col).alias("__tk"))
        .filter(F.size("__tk") >= n)
        .select(F.col(id_col), shingles_of_tokens(F.col("__tk"), n).alias("__sg"))
    )
    return candidates, (
        sg.select(F.col(id_col).alias("id_a"), F.col("__sg").alias("__sga")),
        sg.select(F.col(id_col).alias("id_b"), F.col("__sg").alias("__sgb")),
    )


# -- incremental dedup index ------------------------------------------------
#
# The batch path above re-signatures the whole corpus per run. A crawl
# pipeline instead signatures each day's batch ONCE and checks it against
# the accumulated index: persist (id, signature) plus the exploded
# (band, bh, id) bucket table; a new batch's buckets BROADCAST against the
# index scan, so the index is never shuffled — the per-batch cost is
# O(batch + matching buckets), not O(corpus). Verification uses the
# signature-agreement estimate (matching minhash fraction ~ Jaccard), so
# the index never stores document text.


def _band_buckets(
    sig: DataFrame, backend: _MinHashBackend, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bh) rows: each signature's ``bands`` band hashes."""
    r = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            backend.band([F.col("signature")[i * r + j] for j in range(r)]).alias("bh"),
        )
        for i in range(bands)
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def build_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    mode: str = "overwrite",
    signatures: DataFrame | None = None,
) -> None:
    """Persist the MinHash dedup index for :func:`incremental_dedup_pairs`:
    ``<path>/signatures`` (id, signature) plus a params sidecar so queries
    can't drift from the index's hash family. Band buckets are DERIVED at
    query time from the signature scan (8 xxhash64 calls per row — a
    narrow projection, far cheaper than maintaining a second table
    consistently). ``mode='append'`` adds a new batch to an existing index
    (after checking it for dups!).

    ``signatures``: precomputed :func:`minhash_signatures` output for
    ``docs`` (e.g. cached by the streaming admit path) — passing it avoids
    recomputing the dominant shingle+minhash pass."""
    import json
    import os

    params = {"num_hashes": num_hashes, "bands": bands, "n": n, "id_col": id_col}
    sidecar = os.path.join(path, "_dedup_params.json")
    if mode == "append" and os.path.exists(sidecar):
        with open(sidecar) as fh:
            if json.load(fh) != params:
                raise ValueError("index exists with different parameters")
    sig = signatures
    if sig is None:
        sig = minhash_signatures(docs, id_col, text_col, num_hashes, n)
    sig.write.mode(mode).parquet(os.path.join(path, "signatures"))
    os.makedirs(path, exist_ok=True)
    with open(sidecar, "w") as fh:
        json.dump(params, fh)


def load_dedup_params(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "_dedup_params.json")) as fh:
        return json.load(fh)


def dedup_index_stats(spark, path: str) -> DataFrame:
    """(n_signatures, n_files) for a :func:`build_dedup_index` directory —
    the small-file monitor for append-mode growth (each append lands one
    file batch under ``signatures/``); compact with
    ``index_maint.optimize_index`` when n_files climbs."""
    import os

    from clickhousedatamocker_spark.operators.index_maint import (
        _IndexFS,
        _leaf_data_dirs,
        _parquet_files,
    )

    sig_dir = os.path.join(path, "signatures")
    n_rows = spark.read.parquet(sig_dir).count()
    fs = _IndexFS(spark, path)
    n_files = sum(len(_parquet_files(fs, d)) for d in _leaf_data_dirs(fs, path))
    return spark.createDataFrame(
        [(n_rows, n_files)], "n_signatures long, n_files long"
    )


def signature_est_pairs(
    sig_a: DataFrame,
    sig_b: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str,
    threshold: float,
    broadcast_b: bool = True,
    self_pairs: bool = False,
) -> DataFrame:
    """→ (id_a, id_b, est_jaccard): banded candidate generation between two
    signature tables + the signature-agreement estimate filter. With
    ``self_pairs`` the two inputs are the same table and only ``id_a <
    id_b`` pairs emit (within-batch dedup). ``broadcast_b`` keeps the a
    side un-shuffled (the index-vs-batch shape)."""
    bk_a = _band_buckets(sig_a, _XXHASH64, id_col, num_hashes, bands).select(
        F.col(id_col).alias("id_a"), "band", "bh"
    )
    bk_b = _band_buckets(sig_b, _XXHASH64, id_col, num_hashes, bands).select(
        F.col(id_col).alias("id_b"), "band", "bh"
    )
    if broadcast_b:
        bk_b = F.broadcast(bk_b)
    cand = bk_a.join(bk_b, ["band", "bh"]).select("id_a", "id_b")
    if self_pairs:
        cand = cand.filter(F.col("id_a") < F.col("id_b"))
    cand = cand.distinct()
    sa = sig_a.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sig_b.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    if broadcast_b:
        sb = F.broadcast(sb)
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(num_hashes))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def dedup_index_delete(spark, path: str, doc_ids) -> int:
    """Tombstone documents out of a MinHash dedup index (round-7 verdict
    task 5 — a removed doc must stop matching future batches): O(batch)
    append to ``<path>/.tombstones``; :func:`read_index_signatures`
    excludes them immediately (so incremental/streaming admission no
    longer pairs against them) and ``index_maint.optimize_index`` drops
    their signatures physically (clearing the tombstones). The id column
    comes from the index's params sidecar. Returns the count written."""
    from clickhousedatamocker_spark.operators.index_maint import write_tombstones

    return write_tombstones(spark, path, doc_ids, load_dedup_params(path)["id_col"])


def read_index_signatures(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """The index's (id, signature) table; an index seeded from zero rows has
    no parquet footers yet (an empty partitioned write emits only _SUCCESS)
    — that's a valid empty index. Only the path-not-found / no-footer
    AnalysisException is treated as empty: real read failures (corrupt
    footers, permissions) RAISE — silently treating them as an empty index
    would admit every duplicate. Crash artifacts self-heal first and
    tombstoned docs (:func:`dedup_index_delete`) are excluded."""
    from clickhousedatamocker_spark.operators.index_maint import (
        exclude_tombstoned,
        recover_index,
    )

    recover_index(spark, path)
    sig = _read_or_empty(spark, path, "signatures", f"{id_col} long, signature array<long>")
    return exclude_tombstoned(spark, path, sig, id_col)


def _read_or_empty(spark, path: str, sub: str, schema: str) -> DataFrame:
    import os

    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(os.path.join(path, sub))
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: "")() or str(e)
        if "PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond:
            return spark.createDataFrame([], schema)
        raise


def incremental_dedup_pairs(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """→ (index_id, new_id, est_jaccard): near-duplicates of a NEW batch
    against the persisted index, WITHOUT touching index text or shuffling
    the index. The batch's signatures/buckets are computed fresh (one
    shuffle over the batch only; pass ``signatures`` to reuse a cached
    pass) and BROADCAST into the index bucket scan; candidates join the
    two signature tables and keep pairs whose signature-agreement estimate
    clears ``threshold`` — the standard unbiased MinHash estimator.
    """
    params = load_dedup_params(path)
    num_hashes, bands, n = params["num_hashes"], params["bands"], params["n"]
    sig_new = signatures
    if sig_new is None:
        sig_new = minhash_signatures(new_docs, id_col, text_col, num_hashes, n)
    sig_idx = read_index_signatures(spark, path, id_col)
    return signature_est_pairs(
        sig_idx, sig_new, num_hashes, bands, id_col, threshold, broadcast_b=True
    ).select(
        F.col("id_a").alias("index_id"), F.col("id_b").alias("new_id"), "est_jaccard"
    )


# -- oracle twins of the cross-engine MinHash --------------------------------


def _minhash_xengine_ctes(
    src: str, id_col: str, text_col: str, num_hashes: int, bands: int, n: int, threshold: float
) -> str:
    """DuckDB CTEs ``mh_d`` .. ``mh_pairs`` recomputing the MinHash body on
    the cross-engine backend over table or CTE ``src``; ``mh_pairs`` holds
    the verified (id_a, id_b, jaccard) rows. Every oracle that grades a
    MinHash stage composes these, so only this module knows the formula."""
    r = num_hashes // bands
    gram = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    digest = "th[i]"
    for j in range(1, n):
        digest = f"({digest} * {_XA} + th[i+{j}]) % {_XP}"
    sig_exprs = ", ".join(
        f"list_min(list_transform(dg, x -> ({a} * x + {b}) % {_XP})) AS s{i}"
        for i, (a, b) in enumerate(map(_mh_param, range(num_hashes)))
    )

    def band_hash(j: int) -> str:
        acc = f"s{j * r}"
        for l in range(1, r):
            acc = f"({acc} * {_XA} + s{j * r + l}) % {_XP}"
        return acc

    band_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {j} AS band, {band_hash(j)} AS bh FROM mh_sig" for j in range(bands)
    )
    jac = (
        "len(list_intersect(sa.sg, sb.sg)) * 1.0 "
        "/ (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)))"
    )
    return f"""mh_d AS (
  SELECT {id_col}, string_split({text_col}, ' ') tk FROM {src}
), mh_base AS (
  SELECT {id_col},
    list_transform(tk, tt -> {_o_poly_hash('tt')}) th,
    list_distinct(list_transform(generate_series(1, len(tk)-{n - 1}), i -> {gram})) sg
  FROM mh_d WHERE len(tk) >= {n}
), mh_dg AS (
  SELECT {id_col}, sg,
    list_distinct(list_transform(generate_series(1, len(th)-{n - 1}), i -> {digest})) dg
  FROM mh_base
), mh_sig AS (
  SELECT {id_col}, {sig_exprs} FROM mh_dg
), mh_buckets AS (
  {band_rows}
), mh_cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM mh_buckets a JOIN mh_buckets b
    ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}
), mh_pairs AS (
  SELECT id_a, id_b, {jac} AS jaccard
  FROM mh_cand
  JOIN mh_dg sa ON sa.{id_col} = mh_cand.id_a
  JOIN mh_dg sb ON sb.{id_col} = mh_cand.id_b
  WHERE {jac} >= {threshold}
)"""


def minhash_xengine_oracle_sql(
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.2,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SQL recomputing :func:`minhash_lsh_pairs_xengine` exactly."""
    ctes = _minhash_xengine_ctes(table, id_col, text_col, num_hashes, bands, n, threshold)
    return f"WITH {ctes}\nSELECT id_a, id_b, jaccard FROM mh_pairs ORDER BY id_a, id_b"


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components of the near-dup pair graph → ``(node, component)``
    where component = min node id reachable (the canonical doc id).

    Adaptive execution (the AQE-broadcast-threshold idea applied to graph
    iteration): the edge list is the NEAR-DUP MASS — orders of magnitude
    below the corpus. At or under ``driver_threshold`` RAW pair rows —
    one direction, duplicate pairs included, i.e. the row count of
    ``pairs`` itself, NOT distinct bidirectional edges (default 100k ≈ a
    few MB; a duplicate-heavy pair list therefore trips to the
    distributed path earlier than its distinct-edge count alone would) —
    the iterative plan is pure scheduling overhead: each
    propagation round costs two joins + a materialization + an action,
    seconds of fixed latency for a graph union-find resolves in
    milliseconds. So small graphs run exact union-find on the driver
    (same (node, min-reachable) output, pinned equal by test), and only
    above the threshold does the distributed propagation below engage —
    at 100 TB, where it is the right shape. The size check IS the
    edge-collect: one ``limit(threshold+1).collect()`` probe (r11 — the
    former count+cache+collect triple was three jobs of fixed latency
    before any component existed). Pass ``driver_threshold=0`` to force
    the distributed path.

    Min-label propagation WITH pointer doubling: each round every node takes
    min(own label, neighbors' labels, its label's label). The label-of-label
    shortcut halves chain distances every round, so convergence is
    O(log diameter) rounds, not diameter rounds — a 2^20-long path chain
    converges inside the default ``max_iter=20`` (plain propagation silently
    under-merged any component whose diameter exceeded max_iter; found by the
    SemDeDup hot-cluster chunk chain, which is exactly such a path graph).
    Non-convergence after ``max_iter`` now raises instead of returning
    partial components. Each round is two joins + one groupBy, all
    edge/node-sized.

    Scale discipline:
    - Every round's result is ``localCheckpoint``-ed: the next round's plan
      starts from a materialized RDD instead of re-embedding all prior
      rounds — plan depth and re-planning cost stay O(1) in the iteration
      count (on a real cluster swap in ``checkpoint()`` + a reliable
      checkpoint dir for executor-loss tolerance; superseded round RDDs are
      released by the ContextCleaner once unreferenced).
    - The convergence check is a ``__changed`` flag computed inside the
      same projection, so it reads the just-materialized round — no extra
      join against the previous labels.
    - The standard 100 TB alternative (large-star/small-star) swaps in here
      if diameters ever grow.
    """
    # ONE probe job decides the path AND, for small graphs, already holds
    # the whole edge list: limit(threshold+1).collect() of the RAW pairs.
    # The previous shape (union both directions -> distinct -> cache ->
    # count -> collect) cost three extra jobs plus a distinct shuffle and
    # a cache materialization before a single component was computed —
    # pure fixed latency for the overwhelmingly common small near-dup
    # graph. Union-find needs neither direction-doubling nor dedup (it is
    # symmetric and idempotent per edge), so raw pairs suffice.
    if driver_threshold > 0:
        probe = (
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .limit(driver_threshold + 1)
            .collect()
        )
        if len(probe) <= driver_threshold:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in probe:
                a, b = r["src"], r["dst"]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # min-label union keeps component == min reachable node
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            out = [(n, find(n)) for n in parent]
            schema = pairs.select(
                F.col(id_a).alias("node"), F.col(id_a).alias("component")
            ).schema
            # an Arrow local relation: the caller's join reads it without
            # a Python worker
            return local_view(pairs.sparkSession, out, schema)
        # big graph: fall through — the probe's partial evaluation is the
        # price of one limit-scan; the distributed path below recomputes
        # pairs once into the cached edge list exactly as before
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    edges = edges.distinct().cache()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.col("label").alias("__old"),
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("__mid"),
        )
        # pointer doubling: labels are node ids, so chase one indirection —
        # label := min(label, label's label) — against the previous round
        lookup = labels.select(F.col("node").alias("__ln"), F.col("label").alias("__ll"))
        new_labels = (
            stepped.join(lookup, stepped.__mid == lookup.__ln, "left")
            .select(
                "node",
                F.least(F.col("__mid"), F.coalesce(F.col("__ll"), F.col("__mid"))).alias("label"),
                (
                    F.least(F.col("__mid"), F.coalesce(F.col("__ll"), F.col("__mid")))
                    < F.col("__old")
                ).alias("__changed"),
            )
            .localCheckpoint()  # materializes this round; truncates lineage
        )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "component diameter exceeds 2^max_iter (pathological graph); "
            "raise max_iter rather than accept partially-merged components"
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_soft_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "dedup_weight",
) -> DataFrame:
    """Soft dedup: keep EVERY document but attach ``weight_col`` =
    1/cluster_size (singletons weigh 1.0) — the train-time downweighting
    alternative to hard removal: each near-dup cluster contributes one
    document's worth of total loss mass, but the loss surface still sees
    every surface form (the knob several public pretraining recipes
    prefer over dropping; e.g. the soft-dedup variant studied in SlimPajama
    /Dolma ablations). Composes with any pair generator (MinHash, SimHash,
    embedding-cosine, SemDeDup).

    Scale: one CC over the pairs (sub-corpus sized), one count per
    component, one broadcast-friendly join back on id — the corpus itself
    is never shuffled. Law pinned by test: sum(weight) == n_singletons +
    n_clusters (each cluster's mass telescopes to exactly 1.0)."""
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("__csz"))
    weights = (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            (F.lit(1.0) / F.col("__csz")).alias(weight_col),
        )
    )
    return docs.join(weights, id_col, "left").withColumn(
        weight_col, F.coalesce(F.col(weight_col), F.lit(1.0))
    )


def fuzzy_dedup_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy dedup, resolved: cluster the near-dup pairs and keep exactly one
    canonical row (min id) per cluster; singleton docs survive untouched."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# -- SimHash: one chunk join, two fingerprints ------------------------------


def _bit(i: int):
    """Bit-i mask as a signed long literal (bit 63 is the sign bit)."""
    return F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")


def simhash_64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: per bit, sum +-1 votes of each distinct
    token's xxhash64 bit; sign of the sum is the fingerprint bit.

    Pure column expressions: explode tokens → 64 sum() aggs → bit assembly.
    """
    # repartition on the id: parallel even from a 1-file source, and the
    # 64-agg groupBy reuses the partitioning (single exchange of small rows)
    tk = docs.repartition(F.col(id_col)).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("__t")
    )
    h = F.xxhash64(F.col("__t"))
    votes = [
        F.sum(F.when(h.bitwiseAND(_bit(i)) != 0, 1).otherwise(-1)).alias(f"v{i}")
        for i in range(64)
    ]
    voted = tk.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, _bit(i)).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return voted.select(F.col(id_col), fp.alias("simhash"))


def _simhash_pairs(fp: DataFrame, id_col: str, max_hamming: int, bits: int) -> DataFrame:
    """Pairs of (id, simhash) rows within Hamming distance ``max_hamming``
    of their ``bits``-bit fingerprints — the SimHash body both backends
    share.

    Pigeonhole bucketing: split the bits into max_hamming+1 chunks; any
    pair within the distance agrees on >=1 full chunk, so candidates only
    meet inside a chunk-value bucket — no quadratic pass. The chunk-bucket
    self-join is the only shuffle after the fingerprints.
    """
    chunks = max_hamming + 1
    width = bits // chunks
    chunk_cols = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
            .alias("cv"),
        )
        for i in range(chunks)
    ]
    buckets = fp.select(id_col, "simhash", F.explode(F.array(*chunk_cols)).alias("c")).select(
        id_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of their 64-bit
    :func:`simhash_64` fingerprints (chunk bucketing: :func:`_simhash_pairs`)."""
    return _simhash_pairs(simhash_64(docs, id_col, text_col), id_col, max_hamming, 64)


_XBITS = 60  # simhash width for the cross-engine variant (2 x 30-bit halves)


# affine spreaders applied on top of the rolling hash: a raw poly hash of a
# SHORT token is a small number (poly('a') = 97), so its high bits are all
# zero and per-bit votes skew — multiplying by a large constant mod _XP
# permutes the field and spreads clustered inputs uniformly.
_XMIX = ((654435761, 789), (973458113, 321))


def simhash_xengine_fp(text_col: str | Column) -> Column:
    """60-bit cross-engine SimHash: token hash = mix1(poly31(t))*2^30 +
    mix2(poly37(t)), mix_i an affine spreader mod the 30-bit prime; per bit,
    majority vote over the doc's distinct tokens."""
    (a1, b1), (a2, b2) = _XMIX
    ths = F.transform(
        F.array_distinct(tokens(text_col)),
        lambda tok: ((_poly_hash(tok, 31) * a1 + b1) % F.lit(_XP)) * F.lit(1 << 30).cast("long")
        + ((_poly_hash(tok, 37) * a2 + b2) % F.lit(_XP)),
    )
    n_tok = F.size(ths)

    def bit_set(bit: int):
        return lambda h: F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1)) == 1

    fp = F.lit(0).cast("long")
    for bit in range(_XBITS):
        ones = F.size(F.filter(ths, bit_set(bit)))
        fp = fp.bitwiseOR(
            F.when(ones * 2 > n_tok, F.lit(1 << bit).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return fp


def simhash_near_pairs_xengine(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """:func:`simhash_near_pairs` on the 60-bit cross-engine fingerprint —
    matches :func:`simhash_xengine_oracle_sql` exactly. Fingerprints are a
    pure narrow projection; the chunk-bucket self-join is the only
    shuffle."""
    fp = docs.select(F.col(id_col), simhash_xengine_fp(text_col).alias("simhash"))
    return _simhash_pairs(fp, id_col, max_hamming, _XBITS)


def simhash_xengine_oracle_sql(
    max_hamming: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SQL recomputing :func:`simhash_near_pairs_xengine` exactly."""
    chunks = max_hamming + 1
    width = _XBITS // chunks
    fp_terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(th, h -> (h >> {bit}) & 1 = 1)) > len(th) "
        f"THEN CAST({1 << bit} AS BIGINT) ELSE 0 END"
        for bit in range(_XBITS)
    )
    chunk_rows = " UNION ALL ".join(
        f"SELECT {id_col}, simhash, {i} AS chunk, (simhash >> {i * width}) & {(1 << width) - 1} AS cv FROM fp"
        for i in range(chunks)
    )
    (a1, b1), (a2, b2) = _XMIX
    return f"""
WITH th AS (
  SELECT {id_col},
    list_transform(list_distinct(string_split({text_col}, ' ')),
                   t -> (({_o_poly_hash('t', 31)} * {a1} + {b1}) % {_XP}) * 1073741824
                        + (({_o_poly_hash('t', 37)} * {a2} + {b2}) % {_XP})) th
  FROM {table}
), fp AS (
  SELECT {id_col}, {fp_terms} AS simhash FROM th
), buckets AS (
  {chunk_rows}
)
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM buckets a JOIN buckets b
  ON a.chunk = b.chunk AND a.cv = b.cv AND a.{id_col} < b.{id_col}
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
""".strip()

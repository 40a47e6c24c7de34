"""Tier-B operator tests: LSH recall, simhash sensitivity, multimodal
plumbing, embedding dedup — on fixtures plus injected near-duplicates
(the random fixture has no true dups; injection makes the checks non-vacuous).
"""

import duckdb
import pyspark.sql.functions as F
import pytest

from clickhousedatamocker_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_lsh_pairs_xengine,
    minhash_xengine_oracle_sql,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_near_pairs_xengine,
    simhash_xengine_oracle_sql,
)
from clickhousedatamocker_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
    extract_features,
    sample_frames,
)
from clickhousedatamocker_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_ann_topk,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """Fixture docs + near-duplicate copies of docs 0-19 (last token tweaked,
    ids offset by 100000)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dups = (
        docs.filter(F.col("doc_id") < 20)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" perturbed")))
    )
    return docs.unionByName(dups).cache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    return con


# the production (xxhash64) and cross-engine MinHash twins: one body, two
# hash backends, so every contract below holds for both
MINHASH_TWINS = pytest.mark.parametrize(
    "pairs_fn", [minhash_lsh_pairs, minhash_lsh_pairs_xengine], ids=lambda f: f.__name__
)


def test_exact_dedup_deterministic(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    out = exact_dedup(doubled, keys=["text"], order_col="doc_id")
    assert out.count() == docs.count()
    # canonical = min id -> the original rows survive
    assert out.filter(F.col("doc_id") >= 100000).count() == 0


def test_minhash_recall_vs_exact(spark, docs_with_dups):
    # no lang blocking here: the fixture contains true cross-language
    # near-dups (J~0.99), which unblocked LSH rightly finds
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    assert len(exact) >= 20  # the injected dups are found by the verifier
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs_with_dups, num_hashes=32, bands=8, threshold=0.5).collect()
    }
    # LSH never invents pairs above threshold (verify step) ...
    assert lsh <= exact
    # ... and at J>=0.5 with b=8,r=4 recall should be high
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall}"


def test_minhash_pairs_are_verified(spark, docs_with_dups):
    rows = minhash_lsh_pairs(docs_with_dups, threshold=0.5).collect()
    assert all(r["jaccard"] >= 0.5 for r in rows)


def test_simhash_finds_injected_dups(spark, docs_with_dups):
    # fixture docs are 23-88 tokens, so a one-token perturbation flips
    # ~1-10 simhash bits (measured); hamming<=7 captures nearly all
    pairs = simhash_near_pairs(docs_with_dups, max_hamming=7).collect()
    injected = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] - r["id_a"] == 100000}
    assert len(injected) >= 15
    assert all(r["hamming"] <= 7 for r in pairs)


@MINHASH_TWINS
def test_minhash_skips_documents_shorter_than_n(spark, pairs_fn):
    """A document with fewer than n tokens has no n-gram. Both twins drop it
    before indexing grams (the production twin used to fail on it with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT) and return exactly the pairs of the
    corpus without it."""
    text = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, text),
        (2, text + " again"),
        (3, text),
        (4, "an unrelated sentence about parquet files and spark jobs"),
    ]
    short = [(5, "two tokens"), (6, "")]
    schema = "doc_id long, text string"

    def pairs(data):
        out = pairs_fn(spark.createDataFrame(data, schema), threshold=0.5)
        return sorted(tuple(r) for r in out.collect())

    got = pairs(rows + short)
    assert got == pairs(rows)
    assert (1, 3, 1.0) in got


def test_minhash_xengine_matches_duckdb(spark, duck):
    """The MinHash body on the cross-engine backend equals its DuckDB twin,
    pair for pair and Jaccard for Jaccard."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in minhash_lsh_pairs_xengine(docs).collect()
    )
    oracle = duck.execute(minhash_xengine_oracle_sql()).fetchall()
    want = [(a, b, round(float(j), 12)) for a, b, j in oracle]
    assert got == want
    assert len(got) == 28


def test_simhash_xengine_matches_duckdb(spark, duck):
    """The SimHash chunk join on the 60-bit cross-engine fingerprint equals
    its DuckDB twin."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(tuple(r) for r in simhash_near_pairs_xengine(docs, max_hamming=3).collect())
    want = [tuple(r) for r in duck.execute(simhash_xengine_oracle_sql(3)).fetchall()]
    assert got == want
    assert len(got) == 1205


def test_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = lsh_ann_topk(emb, queries, k=10, num_planes=3).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls  # 3 planes -> 1/8 corpus per bucket


def test_connected_components_known_graph(spark):
    from clickhousedatamocker_spark.operators.dedup import connected_components

    # two chains and one isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)], ["id_a", "id_b"]
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    """A 200-node path graph (diameter 199) must fully merge on BOTH
    execution paths: driver union-find (small graphs) and distributed
    pointer doubling (O(log d) rounds — plain propagation silently
    under-merged past max_iter=20)."""
    from clickhousedatamocker_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(199)], ["id_a", "id_b"])
    for thr in (100_000, 0):  # driver path, then forced-distributed path
        comp = connected_components(pairs, driver_threshold=thr).collect()
        assert len(comp) == 200
        assert {r["component"] for r in comp} == {0}


def test_connected_components_driver_equals_distributed(spark):
    """The adaptive small-graph fast path must be output-identical to the
    distributed propagation on an arbitrary multi-component graph."""
    from clickhousedatamocker_spark.operators.dedup import connected_components

    edges = [(i, (i * 7) % 40 + 100) for i in range(0, 60, 3)] + [
        (200, 201), (201, 202), (300, 301)
    ]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    via_driver = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    via_dist = {
        (r["node"], r["component"])
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert via_driver == via_dist and via_driver


def test_connected_components_raises_on_nonconvergence(spark):
    from clickhousedatamocker_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(60)], ["id_a", "id_b"])
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2, driver_threshold=0)


def test_fuzzy_dedup_canonical_keeps_one_per_cluster(spark, docs_with_dups):
    from clickhousedatamocker_spark.operators.dedup import fuzzy_dedup_canonical

    pairs = ngram_jaccard_pairs(docs_with_dups, threshold=0.5)
    kept = fuzzy_dedup_canonical(docs_with_dups, pairs)
    # every injected near-dup (id >= 100000, J~0.99 to its source) is dropped
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0
    # and at most one survivor per pair-cluster remains overall
    from clickhousedatamocker_spark.operators.dedup import connected_components

    comp = connected_components(pairs)
    survivors = kept.join(comp, kept.doc_id == comp.node, "inner")
    per_cluster = survivors.groupBy("component").count().agg(F.max("count")).first()[0]
    assert per_cluster == 1


def test_ivf_recall_vs_bruteforce(spark):
    from clickhousedatamocker_spark.operators.similarity import ivf_topk, ivf_train

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).collect()
    centroids = ivf_train(emb, n_centroids=8, n_iters=2)
    assert len(centroids) == 8 and all(len(c) == 64 for c in centroids)
    # determinism: retraining gives the identical codebook
    assert centroids == ivf_train(emb, n_centroids=8, n_iters=2)
    approx = ivf_topk(emb, queries, k=10, nprobe=3, centroids=centroids).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    # 3/8 of the corpus probed; on random vectors recall tracks coverage
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_embedding_near_dup_on_injected(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dups = emb.filter(F.col("vec_id") < 10).withColumn("vec_id", F.col("vec_id") + 100000)
    with_dups = emb.unionByName(dups)
    pairs = embedding_near_dup_pairs(with_dups, threshold=0.999).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # identical vectors always share every LSH bucket -> all 10 found
    assert {(i, i + 100000) for i in range(10)} <= found


def test_multimodal_pipeline(spark):
    """attach_fake_media emits a VALID payload for every hash-assigned mime,
    so the whole mixed-mime column survives a real decode_media."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").limit(50)
    media = attach_fake_media(docs, "doc_id")
    assert media.schema["media"].dataType.names == ["uri", "mime", "n_bytes", "data"]

    decoded = decode_media(media)
    drows = decoded.collect()
    assert len(drows) == 50
    by_mime = {}
    for r in drows:
        by_mime.setdefault(r["media"]["mime"], []).append(r)
    assert set(by_mime) == {"image/png", "image/jpeg", "audio/wav", "video/mp4"}
    assert all((r["width"], r["height"], r["n_channels"]) == (8, 8, 3) for r in by_mime["image/png"])
    assert all(
        (r["width"], r["height"], r["n_channels"]) == (16, 16, 1) for r in by_mime["image/jpeg"]
    )
    assert all((r["width"], r["height"]) == (96, 8000) for r in by_mime["audio/wav"])
    for r in by_mime["video/mp4"]:  # tkhd dims per _mp4_params; pixel_sum
        # is the decoded frame-byte sum (1..3 frames of w*h*3 or w*h*3/2
        # sha-derived bytes, mean ~127.5/byte — bounded away from the old
        # duration semantics)
        assert r["width"] % 8 == 0 and 8 <= r["width"] <= 32
        assert r["height"] % 8 == 0 and 8 <= r["height"] <= 24
        assert r["n_channels"] in (1, 2) and r["pixel_sum"] > 0

    feats = extract_features(media)
    frows = feats.collect()
    assert all(len(r["features"]) == 16 for r in frows)
    norms = [sum(x * x for x in r["features"]) for r in frows]
    assert all(abs(n - 1.0) < 1e-3 for n in norms)  # L2-normalized

    # determinism: same ids -> same features
    again = {r["doc_id"]: r["features"] for r in extract_features(media).collect()}
    assert all(again[r["doc_id"]] == r["features"] for r in frows)

    frames = sample_frames(media.filter(F.col("media.mime").startswith("video/")))
    fr = frames.collect()
    assert fr  # video rows exist among 50 hash-assigned ids
    assert all(r["frame_offset"] == r["frame_no"] * 32 for r in fr)


def test_resize_media_real(spark):
    """resize_media REALLY resamples: the resized payload decodes to the
    target dims, and PNG content equals an independent nearest-neighbor
    resample of the original pixels."""
    from clickhousedatamocker_spark.operators.multimodal import attach_synth_png, resize_media
    from clickhousedatamocker_spark.operators.png import decode_png

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").limit(10)
    media = attach_synth_png(docs, "doc_id")  # 8x8 RGB
    resized = resize_media(media, 4, 4)
    assert resized.schema == media.schema  # struct shape preserved
    orig = {r["doc_id"]: bytes(r["media"]["data"]) for r in media.collect()}
    for r in resized.collect():
        w, h, c, px = decode_png(bytes(r["media"]["data"]))
        assert (w, h, c) == (4, 4, 3)
        assert r["media"]["n_bytes"] == len(r["media"]["data"])
        _, _, _, src = decode_png(orig[r["doc_id"]])
        # nearest-neighbor 8->4 keeps pixels at even source coords
        expect = b"".join(
            src[(2 * y * 8 + 2 * x) * 3 : (2 * y * 8 + 2 * x) * 3 + 3]
            for y in range(4)
            for x in range(4)
        )
        assert px == expect
    with pytest.raises(Exception, match="image payloads only"):
        from clickhousedatamocker_spark.operators.multimodal import attach_synth_wav

        resize_media(attach_synth_wav(docs, "doc_id"), 4, 4).collect()


def test_decode_unknown_mime_raises(spark):
    """Mimes with no vendored codec (real video codecs need ffmpeg) raise a
    clearly-marked NotImplementedError, surfaced from the executor."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").limit(8)
    media = attach_fake_media(docs, "doc_id").withColumn(
        "media",
        F.struct(
            F.col("media.uri").alias("uri"),
            F.lit("video/webm").alias("mime"),
            F.col("media.n_bytes").alias("n_bytes"),
            F.col("media.data").alias("data"),
        ),
    )
    with pytest.raises(Exception, match="no codec"):
        decode_media(media).collect()
    # corrupt payloads under a supported mime get the codec's own clear error
    garbage = attach_fake_media(docs, "doc_id").withColumn(
        "media",
        F.struct(
            F.col("media.uri").alias("uri"),
            F.lit("image/jpeg").alias("mime"),
            F.col("media.n_bytes").alias("n_bytes"),
            F.sha2(F.col("media.uri"), 256).cast("binary").alias("data"),
        ),
    )
    with pytest.raises(Exception, match="not a JPEG"):
        decode_media(garbage).collect()


def test_png_codec_roundtrip():
    """Vendored codec: encode->decode is identity for every filter type and
    supported color type; corrupted bytes are rejected by CRC."""
    import hashlib

    import pytest as _pytest

    from clickhousedatamocker_spark.operators.png import decode_png, encode_png

    px = b"".join(hashlib.sha256(str(i).encode()).digest() for i in range(20))
    for color_type, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        for ft in range(5):
            w, h = 10, 6
            pixels = px[: w * h * ch]
            data = encode_png(w, h, pixels, color_type=color_type, filter_type=ft)
            gw, gh, gch, gpx = decode_png(data)
            assert (gw, gh, gch) == (w, h, ch), (color_type, ft)
            assert gpx == pixels, f"roundtrip mismatch color={color_type} filter={ft}"
    good = encode_png(4, 4, px[: 4 * 4 * 3], color_type=2)
    corrupted = good[:40] + bytes([good[40] ^ 0xFF]) + good[41:]
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(corrupted)


def test_png_decode_media_real(spark):
    """decode_media really decodes synthetic PNGs: dims match the encoder's
    and pixel_sum equals the sha256-derived source bytes."""
    import hashlib

    from clickhousedatamocker_spark.operators.multimodal import attach_synth_png

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").limit(10)
    decoded = decode_media(attach_synth_png(docs, "doc_id")).collect()
    assert len(decoded) == 10
    for r in decoded:
        assert (r["width"], r["height"], r["n_channels"]) == (8, 8, 3)
        px = bytearray()
        i = 0
        while len(px) < 192:
            px.extend(hashlib.sha256(f"{r['doc_id']}:{i}".encode()).digest())
            i += 1
        assert r["pixel_sum"] == sum(px[:192])


def test_wav_decode_media_real(spark):
    """decode_audio really parses the RIFF framing: params match the
    encoder's and sample_sum equals the signed-16-bit view of the
    sha256-derived source bytes."""
    import hashlib
    import struct

    from clickhousedatamocker_spark.operators.multimodal import attach_synth_wav, decode_audio

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").limit(10)
    decoded = decode_audio(attach_synth_wav(docs, "doc_id")).collect()
    assert len(decoded) == 10
    for r in decoded:
        assert (r["sample_rate"], r["n_audio_samples"], r["n_audio_channels"]) == (8000, 96, 1)
        raw = bytearray()
        i = 0
        while len(raw) < 192:
            raw.extend(hashlib.sha256(f"{r['doc_id']}:{i}".encode()).digest())
            i += 1
        assert r["sample_sum"] == sum(struct.unpack("<96h", bytes(raw[:192])))


def test_incremental_dedup_index(spark, tmp_path):
    """build_dedup_index + incremental_dedup_pairs: a new batch checks
    against the persisted corpus index without re-signaturing or shuffling
    it — exact copies estimate 1.0, perturbed copies clear the threshold,
    genuinely-new docs match nothing, and every join keeps the index side
    un-shuffled (no SortMergeJoin; new side broadcast)."""
    from clickhousedatamocker_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    path = str(tmp_path / "dedup_index")
    build_dedup_index(docs, path)

    exact = docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 200000)
    perturbed = (
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail perturbation token")))
    )
    fresh = spark.range(300000, 300010).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f":{i}")), 256) for i in range(8)]
        ).alias("text"),
    )
    batch = exact.unionByName(perturbed).unionByName(fresh)

    pairs = incremental_dedup_pairs(spark, path, batch, threshold=0.5)
    got = {(r["index_id"], r["new_id"]): r["est_jaccard"] for r in pairs.collect()}
    for i in range(10):  # exact copies: all 32 minhashes agree
        assert got.get((i, 200000 + i)) == 1.0
    for i in range(10, 20):  # perturbed copies: found, high estimate
        assert got.get((i, 200000 + i), 0.0) >= 0.5
    assert not any(new_id >= 300000 for _, new_id in got)  # fresh docs clean

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, "index side got co-shuffled"
    assert plan.count("BroadcastHashJoin") >= 2  # bucket join + signature join


def test_ann_index_persisted_and_partition_pruned(spark, tmp_path):
    """build_ann_index + ann_query_indexed: results are IDENTICAL to the
    in-memory ivf_topk under the same codebook, and the index scan reads
    only the probed bucket partitions (PartitionFilters on bucket)."""
    from clickhousedatamocker_spark.operators.similarity import (
        ann_query_indexed,
        build_ann_index,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ann_index")
    cb = build_ann_index(emb, path, n_centroids=8)

    indexed = ann_query_indexed(spark, path, q, k=10, nprobe=3)
    direct = ivf_topk(emb, q, k=10, n_centroids=8, nprobe=3, centroids=cb)
    got = sorted(tuple(r) for r in indexed.collect())
    want = sorted(tuple(r) for r in direct.collect())
    assert got == want and got

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and any("bucket" in ln for ln in pf), "bucket filter not pushed to partitions"
    # and the filter is static (bucket IN (...)), visible in the scan
    assert any("bucket" in ln and ("IN" in ln or "in(" in ln.lower()) for ln in pf)


def test_mp4_codec_roundtrip():
    """Vendored ISO-BMFF codec: encode->parse recovers brand, timescale,
    duration, and per-track handler/fourcc/dims; truncated or non-BMFF
    input raises ValueError."""
    from clickhousedatamocker_spark.operators.bmff import encode_mp4, parse_mp4

    data = encode_mp4(
        600,
        36000,
        [
            {"handler": "vide", "fourcc": "avc1", "width": 640, "height": 360},
            {"handler": "soun", "fourcc": "mp4a", "sample_rate": 48000},
        ],
    )
    meta = parse_mp4(data)
    assert meta["major_brand"] == "isom"
    assert (meta["timescale"], meta["duration"], meta["duration_ms"]) == (600, 36000, 60000)
    assert meta["n_tracks"] == 2
    assert meta["tracks"][0] == {"handler": "vide", "fourcc": "avc1", "width": 640, "height": 360}
    assert meta["tracks"][1]["handler"] == "soun"
    assert meta["tracks"][1]["fourcc"] == "mp4a"
    for bad in [b"", b"\x00" * 12, data[:40], b"junk" + data]:
        with pytest.raises(ValueError):
            parse_mp4(bad)

    # well-sized boxes with SHORT payloads must raise, not read the
    # neighboring box's bytes
    import struct as _s

    box = lambda t, p: _s.pack(">I4s", 8 + len(p), t) + p  # noqa: E731
    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    for crafted in [
        box(b"moov", box(b"mvhd", b"\x00" * 6)),
        box(b"moov", box(b"trak", box(b"tkhd", b"\x00" * 6))),
        box(b"moov", box(b"trak", box(b"hdlr", b"\x00" * 6))),
        box(b"moov", box(b"trak", box(b"stsd", b"\x00" * 2))),
    ]:
        with pytest.raises(ValueError, match="truncated|missing"):
            parse_mp4(ftyp + crafted)


def test_mp4_decode_media_real(spark):
    """decode_media really walks the box tree AND demuxes the frames: every
    parsed field matches the sha256-derived parameters the synth encoder
    embedded, and pixel_sum equals the independently re-derived sum of
    every frame byte (the stsc/stsz/stco walk's ground truth)."""
    import hashlib

    from clickhousedatamocker_spark.operators.multimodal import _sha_stream, attach_synth_mp4

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").limit(10)
    decoded = decode_media(attach_synth_mp4(docs, "doc_id")).collect()
    assert len(decoded) == 10
    for r in decoded:
        d = hashlib.sha256(f"{r['doc_id']}:mp4".encode()).digest()
        w, h = 8 * (1 + d[2] % 4), 8 * (1 + d[3] % 3)
        assert r["width"] == w
        assert r["height"] == h
        assert r["n_channels"] == 1 + d[4] % 2
        fsz = w * h * 3 if d[5] % 2 == 0 else (w * h * 3) // 2
        want = sum(
            sum(_sha_stream(str(r["doc_id"]), fsz, salt=f":mp4f{i}"))
            for i in range(1 + d[6] % 3)
        )
        assert r["pixel_sum"] == want


def test_window_funnel_hot_key_guard(spark):
    """A bot user with 60k events (nearly all of them funnel anchors — the
    quadratic worst case) completes fast under max_events_per_user, normal
    users' results are EXACTLY the uncapped ones, and the guard is a
    spill-safe Window pre-filter (external sort), not a bigger in-memory
    buffer."""
    import time as _time

    from clickhousedatamocker_spark.operators.funnel import window_funnel

    base = F.lit("2026-01-01 00:00:00").cast("timestamp")
    # hot user 999: 60k events, clicks everywhere; one view at position 100;
    # the only purchase at the very END — beyond any reasonable cap
    hot = spark.range(60_000).select(
        F.lit(999).alias("user_id"),
        (base + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
        F.when(F.col("id") == 100, "view")
        .when(F.col("id") == 59_999, "purchase")
        .otherwise("click")
        .alias("event_type"),
    )
    # 50 normal users x 20 events: deterministic mix of steps
    normal = spark.range(1000).select(
        (F.col("id") % 50).alias("user_id"),
        (base + F.make_interval(secs=(F.col("id") * 7).cast("double"))).alias("ts"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("login"), F.lit("purchase")),
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
    )
    steps = ["click", "view", "purchase"]
    week = 7 * 86400

    t0 = _time.monotonic()
    capped = {
        r["user_id"]: r["funnel_depth"]
        for r in window_funnel(
            hot.unionByName(normal), steps, week, max_events_per_user=1000
        ).collect()
    }
    elapsed = _time.monotonic() - t0
    assert elapsed < 60, f"hot-key run took {elapsed:.0f}s — guard not bounding the fold"

    # the hot user's first 1000 events hold click anchors + the view but NOT
    # the final purchase -> depth exactly 2 under the cap
    assert capped[999] == 2
    # normal users (under the cap) must match the exact, uncapped semantics
    exact = {
        r["user_id"]: r["funnel_depth"] for r in window_funnel(normal, steps, week).collect()
    }
    assert {u: d for u, d in capped.items() if u != 999} == exact

    # the guard is a row_number Window (external sort, spills) feeding the
    # aggregate — visible in the executed plan
    plan = (
        window_funnel(hot, steps, week, max_events_per_user=1000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan and "row_number" in plan


def test_window_funnel_semantics(spark):
    """Hand-built scenario pinning the any-anchor max-depth semantics."""
    from clickhousedatamocker_spark.operators.funnel import window_funnel

    rows = [
        # user 1: full funnel inside the 1h window of the first click -> depth 3
        (1, "2026-01-01 00:00:00", "click"),
        (1, "2026-01-01 00:20:00", "view"),
        (1, "2026-01-01 00:40:00", "purchase"),
        # user 2: purchase BEFORE view -> depth 2 (order matters)
        (2, "2026-01-01 00:00:00", "click"),
        (2, "2026-01-01 00:30:00", "purchase"),
        (2, "2026-01-01 01:00:00", "view"),
        # user 3: view outside the 1h window of the first click -> depth 1
        (3, "2026-01-01 00:00:00", "click"),
        (3, "2026-01-01 02:00:00", "view"),
        # user 4: no step-1 event at all -> depth 0
        (4, "2026-01-01 00:00:00", "login"),
        # user 5: the view is outside the FIRST click's window but inside the
        # SECOND's — CH windowFunnel anchors on any step-1 event -> depth 2
        (5, "2026-01-01 00:00:00", "click"),
        (5, "2026-01-01 02:00:00", "click"),
        (5, "2026-01-01 02:10:00", "view"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        r["user_id"]: r["funnel_depth"]
        for r in window_funnel(ev, ["click", "view", "purchase"], 3600).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1, 4: 0, 5: 2}


def test_contamination_check_exact(spark):
    """Hash-path contamination counts must equal a string-level
    array_intersect ground truth on the same docs, and flag exactly the
    planted leaks."""
    import pyspark.sql.functions as F

    from clickhousedatamocker_spark.operators.contamination import contamination_check
    from clickhousedatamocker_spark.operators.dedup import shingles, tokens  # noqa: F401

    leak = "the quick brown fox jumps over the lazy dog again"
    clean = "completely different words in this training document entirely"
    train = spark.createDataFrame(
        [
            (1, f"prefix words here {leak} suffix words"),
            (2, clean + " more filler tokens to pad the text"),
            (3, f"{leak} and then some other unrelated content follows"),
        ],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [(100, f"eval question: {leak} answer choices")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_overlapping_grams"], r["contaminated"])
        for r in contamination_check(train, test, n=8).collect()
    }
    assert got[2] == (0, False)
    assert got[1][1] and got[3][1]

    # ground truth: string-level intersect of 8-gram sets
    tr = train.select("doc_id", shingles("text", 8).alias("g"))
    te = test.select(shingles("text", 8).alias("tg"))
    truth = {
        r["doc_id"]: r["n"]
        for r in tr.crossJoin(te)
        .select("doc_id", F.size(F.array_intersect("g", "tg")).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    for d in (1, 2, 3):
        assert got[d][0] == truth[d], (d, got[d], truth[d])


def test_contamination_broadcasts_test_side(spark):
    """The train corpus must never shuffle: the test-gram join is broadcast."""
    from clickhousedatamocker_spark.operators.contamination import contamination_check

    train = spark.createDataFrame([(1, "a b c d e f g h i j k l")], ["doc_id", "text"])
    test = spark.createDataFrame([(9, "a b c d e f g h")], ["doc_id", "text"])
    plan = contamination_check(train, test)._jdf.queryExecution().executedPlan().toString()
    # the gram-level join (train-corpus side) must be broadcast on the hash
    assert "BroadcastHashJoin [__gh" in plan
    # the only sort-merge allowed is the final doc-id result join, where both
    # sides are doc-cardinality aggregates (not broadcastable at corpus scale)
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "doc_id" in line, line


def test_repetition_signals_match_duckdb(spark):
    """Gopher repetition signals: the row-local HOF computation must equal a
    DuckDB ground truth computed the explode-and-group way, on the real
    documents fixture."""
    import duckdb
    import pyspark.sql.functions as F

    from clickhousedatamocker_spark.operators.text_analysis import (
        dup_token_fraction,
        top_bigram_fraction,
    )
    from clickhousedatamocker_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 120)
    got = {
        r["doc_id"]: (round(r["tbf"], 9), round(r["dtf"], 9))
        for r in docs.withColumn("__tk", F.split("text", " "))
        .select(
            "doc_id",
            top_bigram_fraction(F.col("__tk")).alias("tbf"),
            dup_token_fraction("text").alias("dtf"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    want = {
        int(r[0]): (round(r[1], 9), round(r[2], 9))
        for r in con.execute(
            """
            WITH tk AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 120
            ), grams AS (
              SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
              FROM tk, LATERAL unnest(range(1, greatest(len(toks), 1))) t(i)
            ), counts AS (
              SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
            ), top AS (
              SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_grams FROM counts GROUP BY 1
            )
            SELECT tk.doc_id,
                   CAST(COALESCE(top_c, 0) AS DOUBLE) / GREATEST(COALESCE(n_grams, 0), 1) AS tbf,
                   1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dtf
            FROM tk LEFT JOIN top ON tk.doc_id = top.doc_id
            """
        ).fetchall()
    }
    assert got == want


def test_repetition_filter_drops_boilerplate(spark):
    """A planted template-spam doc is dropped; natural-ish fixture docs pass."""
    from clickhousedatamocker_spark.operators.text_analysis import repetition_filter

    spam = " ".join(["buy now cheap deals"] * 30)
    natural = "the quick brown fox jumps over a lazy dog near the riverbank today"
    df = spark.createDataFrame([(1, spam), (2, natural)], ["doc_id", "text"])
    kept = [r["doc_id"] for r in repetition_filter(df).collect()]
    assert kept == [2]


def test_token_document_frequency_matches_duckdb(spark):
    """DF table equals DuckDB's distinct-unnest ground truth; the
    corpus-adaptive common-token fraction is computed without joining the
    corpus (plan-asserted)."""
    import duckdb
    import pyspark.sql.functions as F

    from clickhousedatamocker_spark.operators.text_analysis import (
        common_token_fraction,
        token_document_frequency,
    )
    from clickhousedatamocker_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    dft = token_document_frequency(docs)
    got = {r["token"]: r["doc_freq"] for r in dft.collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    want = dict(
        con.execute(
            "SELECT t.token, COUNT(*) FROM ("
            " SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token"
            " FROM documents) t GROUP BY 1"
        ).fetchall()
    )
    assert got == want

    scored = common_token_fraction(docs, dft, top_k=10)
    rows = scored.select("doc_id", "common_token_fraction").collect()
    assert len(rows) == docs.count()
    assert all(0.0 <= r["common_token_fraction"] <= 1.0 for r in rows)
    # the corpus's own most-common words must appear in most docs
    assert sum(r["common_token_fraction"] > 0 for r in rows) > len(rows) * 0.9
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan  # row-local fold


# ---------------------------------------------------------------------------
# vendored baseline JPEG codec (operators/jpeg.py)


def test_jpeg_constant_blocks_roundtrip_exactly():
    """All-ones quant + constant 8x8 blocks => DC-only spectra => the lossy
    format reproduces the pixels bit-exactly (the multimodal-oracle law)."""
    import hashlib

    import numpy as np

    from clickhousedatamocker_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for key in ["0", "17", "999"]:
        vals = hashlib.sha256(f"{key}:jpg".encode()).digest()[:4]
        px = np.zeros((16, 16), dtype=np.uint8)
        for k in range(4):
            by, bx = divmod(k, 2)
            px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = vals[k]
        w, h, c, out = decode_jpeg(encode_jpeg(16, 16, px.tobytes(), 1))
        assert (w, h, c) == (16, 16, 1)
        assert np.array_equal(np.frombuffer(out, dtype=np.uint8).reshape(16, 16), px)
        assert sum(out) == 64 * sum(vals)


def test_jpeg_general_content_roundtrips_within_one():
    """Arbitrary grayscale content: the only loss under all-ones quant is
    float DCT/IDCT rounding — each pixel within +-1."""
    import numpy as np

    from clickhousedatamocker_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg(40, 24, px.tobytes(), 1))
    assert (w, h, c) == (40, 24, 1)
    err = np.abs(np.frombuffer(out, dtype=np.uint8).reshape(24, 40).astype(int) - px.astype(int))
    assert int(err.max()) <= 1


def test_jpeg_rgb_roundtrip_bounded_and_structure_checks():
    import numpy as np
    import pytest

    from clickhousedatamocker_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = encode_jpeg(16, 16, px.tobytes(), 3)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    w, h, c, out = decode_jpeg(data)
    assert (w, h, c) == (16, 16, 3)
    err = np.abs(np.frombuffer(out, dtype=np.uint8).reshape(16, 16, 3).astype(int) - px.astype(int))
    assert int(err.max()) <= 3  # YCbCr<->RGB rounding, not DCT loss

    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01" + data[2:])  # corrupt SOI
    # subsampled / progressive inputs are honestly gated, not mis-decoded
    with pytest.raises(NotImplementedError):
        decode_jpeg(data[: data.index(b"\xff\xc0")] + b"\xff\xc2" + data[data.index(b"\xff\xc0") + 2 :])


def test_jpeg_corrupt_input_contract():
    """Truncation at ANY byte raises ValueError (never IndexError or
    struct.error), and spec-legal noise the marker loop must tolerate —
    0xFF fill bytes, standalone TEM — parses through."""
    import numpy as np
    import pytest

    from clickhousedatamocker_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    data = encode_jpeg(8, 8, px.tobytes(), 1)

    for cut in range(2, len(data) - 1, 7):
        with pytest.raises(ValueError):
            decode_jpeg(data[:cut])

    # fill bytes before a marker id + a standalone TEM marker are legal
    sof = data.index(b"\xff\xc0")
    padded = data[:sof] + b"\xff\xff\xff" + data[sof + 1 :]
    assert decode_jpeg(padded) == decode_jpeg(data)
    tem = data[:sof] + b"\xff\x01" + data[sof:]
    assert decode_jpeg(tem) == decode_jpeg(data)


def test_ivf_arrow_assignment_identity_with_literal_path(spark, tmp_path, monkeypatch):
    """The Arrow broadcast-codebook assignment (the large-k scale path) is
    RESULT-IDENTICAL to the plan-literal fold under the same codebook —
    for the in-memory ivf_topk AND the persisted index build/query path."""
    from clickhousedatamocker_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = S.ivf_train(emb, n_centroids=8, n_iters=2)
    lit = sorted(map(tuple, S.ivf_topk(emb, queries, k=10, nprobe=3, centroids=centroids).collect()))

    monkeypatch.setattr(S, "_LITERAL_CODEBOOK_MAX", 0)  # force the Arrow path at small k
    arrow = sorted(
        map(tuple, S.ivf_topk(emb, queries, k=10, nprobe=3, centroids=centroids).collect())
    )
    assert lit == arrow

    path = str(tmp_path / "ann_index_arrow")
    S.build_ann_index(emb, path, centroids=centroids)
    indexed = sorted(
        map(tuple, S.ann_query_indexed(spark, path, queries, k=10, nprobe=3).collect())
    )
    assert lit == indexed


def test_ivf_codebook_plan_size_bounded_at_k1024(spark):
    """k=1024 centroids (realistic-100TB shape, 1024 x 64 doubles) must NOT
    be folded into the expression tree — the r4 verdict's scale flag. The
    analyzed plan stays O(1) in k and the query still executes. (The
    literal fold at this k would put ~1.5 MB of doubles in the plan.)"""
    from clickhousedatamocker_spark.operators.similarity import (
        _LITERAL_CODEBOOK_MAX,
        ivf_topk,
    )

    k = 1024
    assert k > _LITERAL_CODEBOOK_MAX  # auto-selects the Arrow path
    centroids = [
        [(((i * 2654435761 + j * 40503) % 2_000_001) / 1_000_000.0) - 1.0 for j in range(64)]
        for i in range(k)
    ]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    df = ivf_topk(emb, queries, k=5, nprobe=2, centroids=centroids)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 100_000, f"codebook leaked into the plan: {len(plan)} chars"
    rows = df.collect()
    assert rows and all(r["rank"] <= 5 for r in rows)


def test_cross_doc_dup_stats_matches_duckdb(spark):
    """cross_doc_dup_stats == a DuckDB reimplementation over raw gram
    STRINGS (hash-free: identical grouping semantics, so equal counts
    prove the Spark hash path groups exactly the same windows). Corpus =
    fixture docs + planted cross-copies so shared grams provably exist."""
    import duckdb

    from clickhousedatamocker_spark.operators.text_analysis import cross_doc_dup_stats

    n = 5
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200).select("doc_id", "text")
    # plant: two exact copies and one half-overlap under fresh ids
    planted = spark.createDataFrame(
        [(900001, "the quick brown fox jumps over the lazy dog again and again"),
         (900002, "the quick brown fox jumps over the lazy dog again and again"),
         (900003, "completely different words that jump over the lazy dog again and again")],
        "doc_id long, text string",
    )
    corpus = docs.union(planted)
    got = {
        r["doc_id"]: (r["total_grams"], r["shared_grams"], r["dup_fraction"])
        for r in cross_doc_dup_stats(corpus, n=n).collect()
    }

    con = duckdb.connect()
    con.register("corpus_pd", corpus.toPandas())
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(f"""
            WITH tok AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM corpus_pd
            ), occ AS (
              SELECT doc_id,
                     array_to_string(list_slice(t, i, i + {n} - 1), chr(31)) AS g
              FROM tok, UNNEST(range(1, len(t) - {n} + 2)) AS u(i)
              WHERE len(t) >= {n}
            ), shared AS (
              SELECT g, COUNT(DISTINCT doc_id) > 1 AS is_shared FROM occ GROUP BY g
            )
            SELECT doc_id, COUNT(*) AS total_grams,
                   COUNT(*) FILTER (WHERE is_shared) AS shared_grams,
                   CAST(COUNT(*) FILTER (WHERE is_shared) AS DOUBLE) / COUNT(*) AS f
            FROM occ JOIN shared USING (g)
            GROUP BY doc_id
        """).fetchall()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][1] == want[k][1], (k, got[k], want[k])
        assert abs(got[k][2] - want[k][2]) < 1e-12
    # planted exact copies: every gram shared; the half-overlap: partial
    assert got[900001][2] == 1.0 and got[900002][2] == 1.0
    assert 0.0 < got[900003][2] < 1.0


def test_cross_doc_dup_stats_plan_never_broadcasts_gram_side(spark):
    """The shared-gram relation is one row per distinct gram — linear in
    corpus size — so it must join as a ShuffledHashJoin build side, never a
    BroadcastExchange (same contract as the q3/q5/q18 linear-side pins)."""
    from clickhousedatamocker_spark.operators.text_analysis import cross_doc_dup_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = cross_doc_dup_stats(docs, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_ann_index_incremental_add(spark, tmp_path):
    """ann_index_add: building on half the corpus then adding the other
    half yields an index IDENTICAL in query results to one built over the
    full corpus with the SAME codebook — assignment is codebook-pure, so
    increments can't drift results. Stats see every vector."""
    from clickhousedatamocker_spark.operators.similarity import (
        ann_index_add,
        ann_index_stats,
        ann_query_indexed,
        build_ann_index,
        ivf_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    total = emb.count()
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    q = emb.filter(F.col("vec_id") < 5)

    # one codebook, trained on the first half (the realistic shape: the
    # model predates the increment)
    cb = ivf_train(first, "vec_id", "embedding", 8, seed=42)

    inc_path = str(tmp_path / "inc_index")
    build_ann_index(first, inc_path, n_centroids=8, centroids=cb)
    added = ann_index_add(spark, inc_path, second)
    assert added == second.count()

    full_path = str(tmp_path / "full_index")
    build_ann_index(emb, full_path, n_centroids=8, centroids=cb)

    got = sorted(tuple(r) for r in ann_query_indexed(spark, inc_path, q, k=10, nprobe=3).collect())
    want = sorted(tuple(r) for r in ann_query_indexed(spark, full_path, q, k=10, nprobe=3).collect())
    assert got == want and got

    stats = ann_index_stats(spark, inc_path)
    assert stats.agg(F.sum("n_vectors")).first()[0] == total
    # the stats scan reads no vector data: only the partition column +count
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<>" in plan


def test_corpus_quality_gate_reasons_and_plan(spark):
    """corpus_quality_gate: keep <=> no reasons; every reason is truthful
    (re-derived in Python from the same doc); planted pathologies get the
    right labels; and the plan is a map-only scan (zero Exchange)."""
    from clickhousedatamocker_spark.operators.text_analysis import corpus_quality_gate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(300)
    planted = spark.createDataFrame(
        [
            (800001, "word " * 400),                       # one token repeated
            (800002, "tiny doc"),                          # too short
            (800003, "zzz qqq xxx vvv kkk " * 30),         # no stopwords
        ],
        "doc_id long, text string",
    )
    out = corpus_quality_gate(docs.select("doc_id", "text").union(planted)).collect()
    by_id = {r["doc_id"]: r for r in out}
    for r in out:
        assert r["keep"] == (len(r["reject_reasons"]) == 0)
    assert "repetitive_tokens" in by_id[800001]["reject_reasons"]
    assert "too_short" in by_id[800002]["reject_reasons"]
    assert set(by_id[800003]["reject_reasons"]) >= {"low_quality", "not_english"}
    # truthfulness spot-check: too_short iff whitespace tokens < 10
    for r in out:
        n = len(r["text"].split(" "))
        assert ("too_short" in r["reject_reasons"]) == (n < 10), r["doc_id"]

    plan = (
        corpus_quality_gate(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def _remove_spans_reference(all_docs, n, min_dup_tokens):
    """Pure-Python reimplementation of remove_duplicated_spans — the
    independent oracle (same algorithm, no Spark machinery)."""
    import collections

    toks = {i: t.split(" ") for i, t in all_docs}
    gram_docs = collections.defaultdict(set)
    for i, tk in toks.items():
        for p in range(len(tk) - n + 1):
            gram_docs[tuple(tk[p : p + n])].add(i)
    min_run = min_dup_tokens - n + 1
    out = {}
    for i, tk in toks.items():
        shared_ps = [
            p
            for p in range(len(tk) - n + 1)
            if len(gram_docs[tuple(tk[p : p + n])]) > 1
        ]
        covered: set[int] = set()
        run: list[int] = []
        for p in shared_ps + [None]:
            if run and (p is None or p != run[-1] + 1):
                if len(run) >= min_run:
                    covered.update(range(run[0], run[-1] + n))
                run = []
            if p is not None:
                run.append(p)
        out[i] = (
            " ".join(t for j, t in enumerate(tk) if j not in covered),
            len(covered & set(range(len(tk)))),
            len(tk),
        )
    return out


def test_remove_duplicated_spans_matches_reference(spark):
    from clickhousedatamocker_spark.operators.text_analysis import (
        remove_duplicated_spans,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n, mdt = 8, 24
    got = {
        r["doc_id"]: (r["text"], r["removed_tokens"], r["total_tokens"])
        for r in remove_duplicated_spans(docs, n=n, min_dup_tokens=mdt).collect()
    }
    want = _remove_spans_reference(
        [(r["doc_id"], r["text"]) for r in docs.collect()], n, mdt
    )
    assert got == want  # byte-identical cleaned texts + exact counts
    # docs with zero shared grams pass through untouched
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    for i, (text, removed, total) in got.items():
        if removed == 0:
            assert text == originals[i], i


def test_remove_duplicated_spans_plan_is_scalable(spark):
    from clickhousedatamocker_spark.operators.text_analysis import (
        remove_duplicated_spans,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = (
        remove_duplicated_spans(docs, n=8, min_dup_tokens=24)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the shared-gram relation is linear in corpus size: never broadcast,
    # never a nested-loop join; no Python in the plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def _plan_nodes(node):
    """Every node of a JVM physical plan, descending into adaptive plans."""
    out, stack = [], [node]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


@MINHASH_TWINS
def test_minhash_verify_prefilters_before_shingling(spark, docs_with_dups, pairs_fn):
    """r12: the exact-Jaccard verify stage must semi-join the doc scan by
    candidate ids BEFORE computing/shuffling shingle arrays (the corpus's
    heaviest payload). Plan pin: a LeftSemi join exists, and no Exchange
    sits between the parquet/input scan and that semi-join."""
    plan = pairs_fn(docs_with_dups, threshold=0.5)._jdf.queryExecution().executedPlan()
    semis = [
        n
        for n in _plan_nodes(plan)
        if "Join" in n.nodeName() and n.joinType().toString() == "LeftSemi"
    ]
    assert semis
    for semi in semis:
        probe = [n.nodeName() for n in _plan_nodes(semi.left())]
        assert any("Scan" in name for name in probe), probe
        assert not any("Exchange" in name for name in probe), probe


def test_ngram_jaccard_length_bucketing_lossless(spark):
    """r12 length-bucketed blocking: result set must be byte-identical to
    the unblocked quadratic compare, including pairs whose sizes sit
    EXACTLY at the ratio boundary t*|A| == |B| (one full bucket apart)."""
    t = 0.5
    docs = [
        # sizes 4 and 8 distinct shingles, overlap 4 -> J = 0.5 == t, and
        # size ratio exactly at the lossless bound 0.5*8 == 4
        (1, "a b c d e f"),
        (2, "a b c d e f g h i j"),
        # identical docs (J = 1.0, same bucket)
        (3, "x y z w v u"),
        (4, "x y z w v u"),
        # unrelated
        (5, "p q r s t p q r s t p q"),
        (6, "m n o"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(df, threshold=t).collect()
    }

    # brute-force ground truth in Python (3-gram shingles, exact Jaccard)
    def sh(text):
        tk = text.split(" ")
        return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}

    exp = set()
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i][1]), sh(docs[j][1])
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= t:
                exp.add((docs[i][0], docs[j][0], round(jac, 9)))
    assert got == exp
    assert any(abs(j - t) < 1e-12 for (_, _, j) in exp), "boundary pair must exist"

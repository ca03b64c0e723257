"""Training-data pipeline operators: dedup sketches, similarity, multimodal.
The oracle-paired queries are checked in tests/test_oracle.py; these tests
cover the sketch ops' semantic guarantees and pin each physical rewrite
(unrolled dot products, hashed shingle streams, occurrence-stream minhash,
join-then-distinct contamination) to the formulation it replaced."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.operators.dedup import (
    exact_dedup,
    hashed_shingle_stream,
    md5_prefix_hash_col,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_neardup_pairs,
    word_shingles,
)
from crawling_infrastructure_spark.operators.multimodal import (
    decode_media,
    extract_media_features,
    fake_feature,
    frame_sample_plan,
    sniff_format,
)
from crawling_infrastructure_spark.operators.similarity import (
    _fixed_dim,
    _norm_expr,
    cosine_topk_blocked,
    cosine_topk_bruteforce,
    with_staged_dot,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " extra token"),  # near dup of 0
        (3, "completely different words about spark window aggregation plans"),
        (4, "completely different words about spark window aggregation plan"),  # near dup of 3
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    rows = {r["keeper_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert rows[0] == 2  # docs 0 and 1 identical
    assert rows[2] == 1


def test_ngram_jaccard_finds_neardups(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, 3, 0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5
    assert (3, 4) in pairs
    assert (0, 3) not in pairs


def test_minhash_lsh_superset_of_high_jaccard(docs):
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # identical docs always collide in every band; verified output is exact
    assert (0, 1) in got
    for a, b in got:
        assert a < b


def test_simhash_identical_docs_same_fp(docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fps[0] == fps[1]
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_neardup_pairs(docs, 3).collect()}
    assert pairs[(0, 1)] == 0


def test_simhash_deterministic_across_runs(docs):
    a = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert a == b


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=8)
        v = (v / np.linalg.norm(v)).astype(float).tolist()
        rows.append((i, v, i % 4))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_bruteforce_topk_matches_numpy(vectors):
    got = cosine_topk_bruteforce(vectors.filter(F.col("vec_id") < 3), vectors, k=3).collect()
    pdf = vectors.toPandas().set_index("vec_id")
    M = np.stack(pdf["embedding"].to_numpy())
    for q in range(3):
        cos = (M @ M[q]) / (np.linalg.norm(M, axis=1) * np.linalg.norm(M[q]))
        cos[q] = -2
        order = np.argsort([(-round(c, 4), i) for i, c in enumerate(cos)], axis=0)
        want_top = sorted(range(len(cos)), key=lambda i: (-round(cos[i], 4), i))[:3]
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert mine == want_top


def test_blocked_topk_subset_of_block(vectors):
    got = cosine_topk_blocked(vectors.filter(F.col("vec_id") < 4), vectors, k=3).collect()
    for r in got:
        assert r["query_id"] % 4 == r["neighbor_id"] % 4  # same label block


def test_media_features_plumbing(spark):
    rows = [
        (0, b"\xff\xd8rest-of-jpeg"),
        (1, b"\x89PNG\r\n\x1a\nrest"),
        (2, b"RIFFxxxxWAVE"),
        (3, b"plain bytes"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert out[0]["format"] == "jpeg" and out[1]["format"] == "png"
    assert out[2]["format"] == "riff" and out[3]["format"] == "unknown"
    assert out[4]["format"] == "empty" and out[4]["n_bytes"] == 0
    assert len(out[0]["feature"]) == 8
    # deterministic fake feature
    assert out[3]["feature"] == [pytest.approx(x) for x in fake_feature(b"plain bytes").tolist()]


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8...")


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 25), (2, 3), (3, 0)], "media_id long, n_frames int")
    rows = frame_sample_plan(df, every_nth=10).collect()
    got = {}
    for r in rows:
        got.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert got[1] == [0, 10, 20]
    assert got[2] == [0]
    assert got[3] == [0]


def test_sniff_format_unit():
    assert sniff_format(b"") == "empty"
    assert sniff_format(b"\xff\xd8\xff") == "jpeg"


def test_resize_media_plumbing(spark):
    """Resize leg: mapInPandas consumes AND emits binary columns with a
    declared schema; pixel buffers are exactly width*height, deterministic
    across runs, and nearest-neighbor indices stay in-bounds for payloads
    smaller and larger than the target."""
    from crawling_infrastructure_spark.operators.multimodal import (
        fake_decode_image,
        resize_media,
    )

    rows = [
        (1, b"\x01\x02\x03"),                 # tiny payload, tiled up
        (2, bytes(range(256)) * 40),          # larger than target
        (3, None),                            # null payload -> zeros
    ]
    df = spark.createDataFrame(rows, schema="media_id long, payload binary")
    out = {r.media_id: r for r in resize_media(df, 16, 8).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert (r.width, r.height) == (16, 8)
        assert len(bytes(r.pixels)) == 16 * 8
    assert bytes(out[3].pixels) == bytes(16 * 8)
    # deterministic replay
    out2 = {r.media_id: bytes(r.pixels) for r in resize_media(df, 16, 8).collect()}
    assert out2 == {k: bytes(v.pixels) for k, v in out.items()}
    # the fake decoder honors the (height, width) contract a real one has
    img = fake_decode_image(b"\x09", 5, 4)
    assert img.shape == (4, 5) and img.dtype.name == "uint8"


def test_staged_dot_bit_identical_to_fold(emb):
    dim, n_bytes = _fixed_dim(emb, "embedding")
    assert dim == 24
    assert n_bytes == 40 * (24 * 4 + 16)  # rows x (width x 4 + 16)
    pairs = (
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
        .crossJoin(
            emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
        )
        .filter(F.col("ia") < F.col("ib"))
    )
    fold = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    got = (
        with_staged_dot(pairs, "ea", "eb", "_dot", dim)
        .withColumn("_fold", fold)
        .filter(F.col("_dot") != F.col("_fold"))
        .count()
    )
    # bit-identical, not approximately equal: same ops in the same order
    assert got == 0


@pytest.mark.parametrize(
    "rows, dot",
    [
        ([(i, []) for i in range(4)], 0.0),     # uniformly empty vectors
        ([(i, None) for i in range(4)], None),  # all-null vector column
    ],
    ids=["empty", "all_null"],
)
def test_fixed_dim_degenerate_vectors_fall_back_to_fold(spark, rows, dot):
    """Neither input has a positive uniform width, so _fixed_dim must
    return None and with_staged_dot take the fold; a width of 0 or -1 once
    skipped the _dot column (UNRESOLVED_COLUMN on the first use)."""
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dim, n_bytes = _fixed_dim(vecs, "embedding")
    assert dim is None
    assert n_bytes == 4 * 16  # no vector width: 16 B of row per vector
    pairs = vecs.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")).crossJoin(
        vecs.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    )
    got = with_staged_dot(pairs, "ea", "eb", "_dot", dim).select("_dot").collect()
    assert [r._dot for r in got] == [dot] * 16


def test_norm_expr_bit_identical_to_fold(emb):
    dim, _ = _fixed_dim(emb, "embedding")
    fold = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x)
    )
    got = (
        emb.select(_norm_expr(F.col("embedding"), dim).alias("a"), fold.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert got == 0


@pytest.fixture(scope="module")
def shingle_docs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "a b a b a b a b a b a b",
        "short",
        "",
        "double  space  tokens  here  double  space  tokens  here",
    ]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_hashed_shingle_stream_matches_word_shingles(shingle_docs):
    for n in (2, 3, 8):
        via_strings = (
            word_shingles(shingle_docs, n)
            .select("doc_id", md5_prefix_hash_col(F.col("shingle"), None).alias("wh"))
        )
        via_stream = hashed_shingle_stream(shingle_docs, n, distinct=True)
        assert via_strings.exceptAll(via_stream).count() == 0
        assert via_stream.exceptAll(via_strings).count() == 0


def test_minhash_signature_multiset_invariance(shingle_docs):
    # min() over the occurrence stream == min() over the distinct set: the
    # optimized signatures (no per-doc distinct) must equal a reference
    # aggregation over word_shingles' DISTINCT pairs with the same coeffs
    from crawling_infrastructure_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
        minhash_signatures,
    )

    num_perm, seed, n = 4, 42, 3
    got = minhash_signatures(shingle_docs, num_perm, n, seed)
    a, b = minhash_coeffs(num_perm, seed)
    hashed = word_shingles(shingle_docs, n).select(
        "doc_id", md5_prefix_hash_col(F.col("shingle")).alias("h")
    )
    want = hashed.groupBy("doc_id").agg(*[
        F.min((F.lit(a[j]) * F.col("h") + F.lit(b[j])) % F.lit(MINHASH_P)).alias(f"m{j}")
        for j in range(num_perm)
    ])
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_contamination_join_then_distinct(spark):
    # a training doc repeating a contaminated window many times must count
    # it ONCE (per-doc distinct semantics survive the join-first rewrite)
    from crawling_infrastructure_spark.operators.corpus import contamination

    tr = spark.createDataFrame(
        [(1, "a b c d a b c d a b c d"), (2, "x y z w")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    got = {r.doc_id: r.n_eval_windows
           for r in contamination(tr, ev, window=4).collect()}
    assert got == {1: 1}

"""Round-6 optimization equivalence pins.

Every optimization this round rewrote an operator's PHYSICAL shape while
promising identical values. These tests pin each promise against the
pre-optimization formulation, re-expressed inline:

- staged/unrolled dot products & norms == the zip_with/aggregate fold
- hashed_shingle_stream == md5-prefix over word_shingles (values and sets)
- lm_score broadcast_model=False (shuffle joins) == True (broadcasts)
- minhash signatures over the occurrence stream == over the distinct set
- contamination join-then-distinct == distinct-then-join counts
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.operators.dedup import (
    hashed_shingle_stream,
    md5_prefix_hash_col,
    word_shingles,
)
from crawling_infrastructure_spark.operators.similarity import (
    _fixed_dim,
    _norm_expr,
    with_staged_dot,
)


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (i, [((i * 7 + j * 13) % 29 - 14) / 7.0 for j in range(24)], i % 3)
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_staged_dot_bit_identical_to_fold(emb):
    dim = _fixed_dim(emb, "embedding")
    assert dim == 24
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
    dim = _fixed_dim(vecs, "embedding")
    assert dim is None
    pairs = vecs.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")).crossJoin(
        vecs.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    )
    got = with_staged_dot(pairs, "ea", "eb", "_dot", dim).select("_dot").collect()
    assert [r._dot for r in got] == [dot] * 16


def test_norm_expr_bit_identical_to_fold(emb):
    dim = _fixed_dim(emb, "embedding")
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
def docs(spark):
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


def test_hashed_shingle_stream_matches_word_shingles(docs):
    for n in (2, 3, 8):
        via_strings = (
            word_shingles(docs, n)
            .select("doc_id", md5_prefix_hash_col(F.col("shingle"), None).alias("wh"))
        )
        via_stream = hashed_shingle_stream(docs, n, distinct=True)
        assert via_strings.exceptAll(via_stream).count() == 0
        assert via_stream.exceptAll(via_strings).count() == 0


def test_minhash_signature_multiset_invariance(docs):
    # min() over the occurrence stream == min() over the distinct set: the
    # optimized signatures (no per-doc distinct) must equal a reference
    # aggregation over word_shingles' DISTINCT pairs with the same coeffs
    from crawling_infrastructure_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
        minhash_signatures,
    )

    num_perm, seed, n = 4, 42, 3
    got = minhash_signatures(docs, num_perm, n, seed)
    a, b = minhash_coeffs(num_perm, seed)
    hashed = word_shingles(docs, n).select(
        "doc_id", md5_prefix_hash_col(F.col("shingle")).alias("h")
    )
    want = hashed.groupBy("doc_id").agg(*[
        F.min((F.lit(a[j]) * F.col("h") + F.lit(b[j])) % F.lit(MINHASH_P)).alias(f"m{j}")
        for j in range(num_perm)
    ])
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_lm_score_shuffle_fallback_equals_broadcast(spark):
    from crawling_infrastructure_spark.operators.textstats import lm_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat"),
            (3, "dogs bark at the cat"),
            (4, "one"),
            (5, "the the the the"),
        ],
        "doc_id long, text string",
    )
    a = {r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
         for r in lm_score(docs, vocab_size=4, broadcast_model=True).collect()}
    b = {r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
         for r in lm_score(docs, vocab_size=4, broadcast_model=False).collect()}
    assert a == b
    assert 4 not in a  # single-token doc has no bigram evidence


def test_salted_pair_join_fallback_equals_broadcast(emb):
    # the huge-corpus path (salted (block, salt) shuffle join) must produce
    # the identical pair set and cosines as the broadcast default
    from crawling_infrastructure_spark.operators.dedup import embedding_cosine_neardup
    from crawling_infrastructure_spark.operators.similarity import semdedup

    a = embedding_cosine_neardup(emb, threshold=0.2, broadcast_pairs=True)
    b = embedding_cosine_neardup(emb, threshold=0.2, broadcast_pairs=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    sa = semdedup(emb, k=2, iters=2, threshold=0.5, broadcast_pairs=True)
    sb = semdedup(emb, k=2, iters=2, threshold=0.5, broadcast_pairs=False)
    assert sa.exceptAll(sb).count() == 0 and sb.exceptAll(sa).count() == 0


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

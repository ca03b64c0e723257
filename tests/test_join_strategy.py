"""The size rule that picks broadcast or shuffle for the pair joins and the
``lm_score`` model joins (``similarity._fits_broadcast``), and the promise
behind it: both paths give the same rows. The shuffle path is forced the
way a deployment reaches it, through autoBroadcastJoinThreshold."""

from __future__ import annotations


def test_fits_broadcast_reads_threshold_in_bytes(spark, broadcast_threshold):
    from crawling_infrastructure_spark.operators.similarity import _fits_broadcast

    # the session default (64 MB) fits a 3 MB lm_score model
    assert _fits_broadcast(spark, 257 ** 2 * 48)
    # a threshold set with units is compared in bytes
    broadcast_threshold("10MB")
    assert _fits_broadcast(spark, 10 * 1024 * 1024)
    assert not _fits_broadcast(spark, 10 * 1024 * 1024 + 1)
    # -1 turns broadcast off: not even an empty side fits
    broadcast_threshold(-1)
    assert not _fits_broadcast(spark, 0)


def test_lm_score_shuffle_fallback_equals_broadcast(spark, broadcast_threshold):
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

    def scores():
        return {r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
                for r in lm_score(docs, vocab_size=4).collect()}

    a = scores()
    broadcast_threshold(-1)
    b = scores()
    assert a == b
    assert 4 not in a  # single-token doc has no bigram evidence


def test_salted_pair_join_fallback_equals_broadcast(emb, broadcast_threshold):
    # the huge-corpus path (salted (block, salt) shuffle join) must produce
    # the identical pair set and cosines as the broadcast path
    from crawling_infrastructure_spark.operators.dedup import embedding_cosine_neardup
    from crawling_infrastructure_spark.operators.similarity import semdedup

    a = embedding_cosine_neardup(emb, threshold=0.2).collect()
    sa = semdedup(emb, k=2, iters=2, threshold=0.5).collect()
    broadcast_threshold(-1)
    b = embedding_cosine_neardup(emb, threshold=0.2).collect()
    sb = semdedup(emb, k=2, iters=2, threshold=0.5).collect()
    assert len(a) > 0 and sorted(a) == sorted(b)
    assert sorted(sa) == sorted(sb)

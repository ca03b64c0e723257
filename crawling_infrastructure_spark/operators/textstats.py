"""Text analysis operators for a training-data pipeline: language-ID
heuristic, quality scoring, token counting, document fingerprinting.

Every expression is chosen for *engine parity*: only functions whose
semantics are identical in Spark SQL and DuckDB (replace-counting instead of
regex-counting, single-space split instead of \\s+ split) so each operator
has an exact DuckDB oracle. All-JVM — no Python in any of these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny marker-word lists per language (public stopword heads)
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _count_occurrences(text_col, needle: str):
    """Occurrences of ``needle`` via the replace-length trick — byte-for-byte
    identical in Spark and DuckDB (no regex engine involved)."""
    return (
        (F.length(text_col) - F.length(F.replace(text_col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def lang_best_struct(text_col):
    """The (score, lang) argmax struct behind lang_id — exposed so callers
    composing several per-row features (the corpus funnel) can evaluate
    them in ONE projection instead of re-joining per-feature frames."""
    t = F.concat(F.lit(" "), F.lower(text_col), F.lit(" "))
    scores = [
        F.struct(
            sum(_count_occurrences(t, f" {m} ") for m in markers).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    return F.array_max(F.array(*scores))


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word scoring language guess. Returns (doc_id, guessed_lang,
    score). Implemented as array_max over (score, lang) structs, so the
    deterministic tie-break is language name DESCENDING (struct comparison
    is lexicographic) — the oracle must mirror that."""
    from crawling_infrastructure_spark.operators.dedup import _widen

    best = lang_best_struct(F.col(text_col))
    return _widen(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        best["lang"].alias("guessed_lang"),
        best["score"].cast("int").alias("score"),
    )


def quality_exprs(text_col) -> dict:
    """The per-row quality feature expressions behind quality_score —
    exposed (like lang_best_struct) for single-projection composition."""
    t = text_col
    n_chars = F.length(t)
    tokens = F.size(F.split(t, " "))
    punct = sum(_count_occurrences(t, p) for p in [".", ",", "!", "?", ";"])
    spaced = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    stop_hits = sum(_count_occurrences(spaced, f" {s} ") for s in STOPWORDS)
    return {
        "n_chars": n_chars,
        "n_tokens": tokens,
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(stop_hits / F.greatest(tokens, F.lit(1)), 4),
        "quality": F.round(
            (stop_hits / F.greatest(tokens, F.lit(1)))
            * F.least(tokens / F.lit(100.0), F.lit(1.0)),
            4,
        ),
    }


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a combined
    score, the usual pre-training corpus filter features."""
    from crawling_infrastructure_spark.operators.dedup import _widen

    e = quality_exprs(F.col(text_col))
    return _widen(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        *[e[k].alias(k) for k in ("n_chars", "n_tokens", "punct_ratio", "stopword_ratio", "quality")],
    )


def bpe_count_expr(text_col):
    """The BPE-ish token count expression from token_counts, exposed for
    single-projection composition (see lang_best_struct)."""
    return F.regexp_count(
        text_col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    ).cast("long")


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace tokens, a BPE-ish regex tokenization (maximal runs of
    letters / digits / other-non-space — the class structure of the GPT-2
    pre-tokenizer pattern, kept to plain character classes so Java and RE2
    engines agree), and the chars/4 rule-of-thumb estimate. All JVM
    expressions — whole-stage codegen, no Python."""
    from crawling_infrastructure_spark.operators.dedup import _widen

    toks = F.split(F.col(text_col), " ")
    return _widen(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        bpe_count_expr(F.col(text_col)).alias("n_bpe_tokens"),
        F.ceil(F.length(F.col(text_col)) / F.lit(4.0)).cast("long").alias("est_bpe_tokens"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalization fingerprint: md5 over lowercased, whitespace-collapsed
    text — the cheap exact-dup key robust to formatting noise."""
    from crawling_infrastructure_spark.operators.dedup import _widen

    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return _widen(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021, MassiveText §A1.1)
# ---------------------------------------------------------------------------


def _ngram_occurrences(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, gram) with one row per OCCURRENCE (not distinct — repetition
    measures need multiplicity, unlike the dedup shingles). Same
    single-space split and concat as word_shingles for engine parity, in
    the same flat explode-the-index codegen shape (_shingle_positions)."""
    from crawling_infrastructure_spark.operators.dedup import (
        _gram_col,
        _shingle_positions,
    )

    return _shingle_positions(docs, n, id_col, text_col).select(
        "doc_id", _gram_col(n).alias("gram")
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher repetition-quality features per document (the MassiveText
    filters a pre-training pipeline runs before anything model-based):

    - ``top_bigram_frac``:  occurrences of the most frequent 2-gram over
      total 2-gram occurrences (Gopher rejects > 0.20)
    - ``top_trigram_frac``: same for 3-grams (Gopher rejects > 0.18)
    - ``dup_trigram_frac``: fraction of 3-gram occurrences whose gram
      occurs more than once in the doc (duplicate-n-gram family)

    All-JVM: one explode + hash-aggregate per gram width (the shuffle
    carries (doc_id, gram) counts, map-side combined — at 100 TB the
    per-doc gram histogram never materializes anywhere except as partial
    aggregates). Docs shorter than the gram width get 0.0 (no repetition
    evidence), keeping the output total. The input is repartitioned to the
    session parallelism first: the fixture parquet is one scan split, and
    without the spread both explode+partial-aggregate map stages run in a
    single task (guide §2.5 input skew)."""
    from crawling_infrastructure_spark.operators.dedup import _widen

    docs = _widen(docs, id_col)

    def per_doc(n: int, prefix: str) -> DataFrame:
        counts = _ngram_occurrences(docs, n, id_col, text_col).groupBy(
            "doc_id", "gram"
        ).agg(F.count("*").alias("c"))
        return counts.groupBy("doc_id").agg(
            F.round(F.max("c") / F.sum("c"), 4).alias(f"top_{prefix}gram_frac"),
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
                / F.sum("c"),
                4,
            ).alias(f"dup_{prefix}gram_frac"),
        )
    bi = per_doc(2, "bi").drop("dup_bigram_frac")
    tri = per_doc(3, "tri")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(bi, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("top_trigram_frac", F.lit(0.0)).alias("top_trigram_frac"),
            F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (regex family shared verbatim with the oracle)
# ---------------------------------------------------------------------------

# Patterns restricted to constructs Java regex and RE2 evaluate identically
# (character classes, bounded repetition, \b) — no lookaround, no backrefs,
# so Spark's regexp_replace/regexp_count and DuckDB's regexp_* agree
# byte-for-byte. Redaction applies in dict order; counts run on the
# ORIGINAL text so replacements never mask each other.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    "phone": (r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
}


def pii_scrub(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc PII counts + redacted text — the scrub pass a training-data
    pipeline runs before tokenization. Returns (doc_id, n_email, n_ipv4,
    n_phone, redacted_md5): the redacted text itself stays distributed
    (only its md5 surfaces, so the operator's output is compare-sized at
    any corpus scale). All-JVM regex — whole-stage codegen, no Python."""
    from crawling_infrastructure_spark.operators.dedup import _widen

    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, (pat, _) in PII_PATTERNS.items()
    ]
    red = t
    for pat, token in PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, token)
    return _widen(docs, id_col).select(
        F.col(id_col).alias("doc_id"), *counts, F.md5(red).alias("redacted_md5")
    )


def lm_score(
    docs: DataFrame,
    vocab_size: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020):
    train an add-one-smoothed bigram LM on the corpus itself (vocabulary
    capped to the ``vocab_size`` most frequent tokens, everything else
    mapped to ``<unk>``) and score every document by its average negative
    log-probability under that model — low = fluent/typical, high =
    gibberish/outlier. The third leg of quality filtering next to the
    heuristic ratios (``quality_score``) and the Gopher repetition
    fractions (``repetition_stats``); CCNet buckets the corpus into
    head/middle/tail on exactly this number.

    Returns (doc_id, n_bigrams, avg_neg_logprob) for every doc with at
    least one bigram (docs under 2 tokens have no LM evidence and drop).

    Smoothing convention: the add-one denominator is the FIXED cap
    ``vocab_size + 1`` (not the realized distinct-token count) — the
    fixed-vocabulary convention of a pretrained LM (CCNet's SentencePiece
    model has a fixed size regardless of the scored corpus). A corpus
    with fewer distinct tokens than the cap keeps the same denominator;
    a literal ``<unk>`` token in the corpus shares the OOV bucket. Both
    choices are mirrored exactly in the DuckDB oracle.

    Scale shape: three streaming passes over the corpus and NOTHING
    corpus-sized is ever materialized — (1) unigram counts pick the top-V
    vocab, (2) the mapped bigram stream aggregates straight into the
    model (groupBy(mw1, mw2) with map-side partial aggregation — the
    shuffle carries model cells, not occurrences), (3) the scoring pass
    recomputes the cheap map-side bigram mapping and probes ONE broadcast
    (mw1, mw2, logprob) table precomputed from the model (<= (V+1)^2
    rows). The context counts c1 derive from the model by re-aggregation
    (c1 = sum of c12 over mw2 — the identical integers), so no separate
    stream pass. An earlier form localCheckpointed the mapped stream —
    an O(total-corpus-tokens) executor-disk write that contradicted the
    100 TB shape and cost more than the recompute it saved.
    Join strategy: the model is at most (V+1)^2 rows of 48 B (Spark's
    size for two strings and a double); when that fits the session's
    autoBroadcastJoinThreshold the vocab map is a driver-side set probe
    and the logprob probe broadcasts, otherwise both are shuffle joins.

    Determinism: the vocab top-V is totally ordered (count desc, token
    asc), and each bigram log-prob is rounded half-up to 9 decimals
    IN-ENGINE before the per-doc sum so partition summation-order noise
    (~1e-16) snaps to engine-independent values (same device as
    linkrank.pagerank); the published average rounds to 4.
    """
    from crawling_infrastructure_spark.operators.similarity import (
        _fits_broadcast,
        _parallelism,
    )

    # widen the scan: the fixture parquet is one row group -> one split,
    # which would serialize every explode/aggregate pass below; the text
    # shuffle this costs is one corpus pass, repaid three times (on a real
    # multi-file table the scan is already wide and this is a no-op cost)
    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    docs = docs.repartition(_parallelism(docs))
    toks = F.split(F.lower(F.col("text")), " ")
    uni = (
        docs.select(F.explode(toks).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c"))
    )
    vocab = (
        uni.orderBy(F.desc("c"), F.asc("gram"))
        .limit(vocab_size)
        .select(F.col("gram").alias("_v"))
    )
    # The vocab is computed ONCE either way (V strings — model state, same
    # class as k-means centroids): each mapped_bigrams() call maps both
    # bigram words and there are two calls, so a vocab left as a plan would
    # re-run the unigram aggregate 4x. With a broadcastable model it goes
    # to the driver and tokens map with a codegen'd set probe; on the
    # shuffle-join path it stays distributed as a V-row checkpoint.
    model_fits = _fits_broadcast(docs.sparkSession, (vocab_size + 1) ** 2 * 48)
    vocab_set: list[str] | None = None
    if model_fits:
        vocab_set = [r._v for r in vocab.collect()]
    else:
        vocab = vocab.localCheckpoint()

    def to_vocab(col):
        if not vocab_set:
            return F.lit("<unk>")
        return F.when(col.isin(*vocab_set), col).otherwise(F.lit("<unk>"))

    def mapped_bigrams() -> DataFrame:
        # one row per bigram occurrence, words mapped into the capped
        # vocab. (w1, w2) come straight from the token array via the flat
        # explode-the-index shape (identical values to the old
        # build-gram-string-then-resplit form, all plain codegen)
        from crawling_infrastructure_spark.operators.dedup import _shingle_positions

        bi = _shingle_positions(docs, 2, "doc_id", "text").select(
            "doc_id",
            F.element_at(F.col("_t"), F.col("_i")).alias("w1"),
            F.element_at(F.col("_t"), F.col("_i") + 1).alias("w2"),
        )
        if model_fits:
            return bi.select(
                "doc_id",
                to_vocab(F.col("w1")).alias("mw1"),
                to_vocab(F.col("w2")).alias("mw2"),
            )
        v1 = vocab.select(F.col("_v").alias("_v1"))
        v2 = vocab.select(F.col("_v").alias("_v2"))
        return (
            bi.join(v1, F.col("w1") == F.col("_v1"), "left")
            .join(v2, F.col("w2") == F.col("_v2"), "left")
            .select(
                "doc_id",
                F.coalesce("_v1", F.lit("<unk>")).alias("mw1"),
                F.coalesce("_v2", F.lit("<unk>")).alias("mw2"),
            )
        )

    model = mapped_bigrams().groupBy("mw1", "mw2").agg(F.count("*").alias("c12"))
    # c1 = occurrences of mw1 as a bigram head == sum of its model row
    # counts: identical integers to counting the stream, zero extra passes
    ctx = model.groupBy("mw1").agg(F.sum("c12").cast("long").alias("c1"))
    denom_add = float(vocab_size + 1)  # smoothing vocab includes <unk>
    lp = F.round(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.lit(denom_add))), 9
    )
    lp_table = model.join(ctx, "mw1").select("mw1", "mw2", lp.alias("_lp"))
    if model_fits:
        lp_table = F.broadcast(lp_table)
    scored = mapped_bigrams().join(lp_table, ["mw1", "mw2"])
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.sum("_lp") / F.count("*"), 4).alias("avg_neg_logprob"),
    )

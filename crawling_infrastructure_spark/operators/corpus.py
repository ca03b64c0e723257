"""End-to-end training-corpus construction — the pipeline a user of this
engine actually runs over crawled pages to produce LLM training data.

Composes the individually-oracled stages into one declarative plan:

  1. language gate      lang_id marker scoring (textstats.py)
  2. quality gate       stopword/length quality + token-count band
  3. exact dedup        keep min doc_id per md5(text) group
  4. near-dup dedup     MinHash-LSH pairs -> connected components ->
                        keep the component's min doc_id (dedup.py)

Everything is one Catalyst plan until the iterative component rounds; the
gates run BEFORE the expensive sketching, so at 100 TB the MinHash stage
sees only the filtered survivors (typically a small fraction of the crawl
— the cheap JVM gates are the guard band for the costly stages).

The matching DuckDB oracle (plans/queries.py training_corpus) recomputes
the identical funnel end-to-end, so the driver hash-compare pins stage
ORDER and thresholds, not just per-stage math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawling_infrastructure_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from crawling_infrastructure_spark.operators.textstats import token_counts

# Live localCheckpoint handles created by build_training_corpus. The
# checkpointed survivor blocks persist for the session lifetime unless
# unpersisted; a caller that re-runs the funnel (bench retry loops, repeated
# driver queries) must drain them between runs via release_checkpoints().
_live_checkpoints: list[DataFrame] = []


def release_checkpoints() -> int:
    """Unpersist every survivor checkpoint created since the last release,
    plus the component checkpoints dedup.connected_components parked.
    Safe to call at any time (idempotent, exception-tolerant: the session
    may already be gone). Returns the number released."""
    from crawling_infrastructure_spark.operators import dedup as _dedup

    n = _dedup.release_checkpoints()
    while _live_checkpoints:
        df = _live_checkpoints.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def build_training_corpus(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.02,
    min_tokens: int = 20,
    max_tokens: int = 1 << 20,
    minhash_threshold: float = 0.8,
    materialize_survivors: bool = True,
    eval_docs: DataFrame | None = None,
    decontam_window: int = 8,
) -> DataFrame:
    """The kept corpus: (doc_id, guessed_lang, n_tokens, quality) for every
    document surviving all four gates. Deterministic: every keep decision
    is a min-id rule, so replays and the oracle agree row-for-row.

    ``eval_docs`` (optional) adds benchmark decontamination as a fifth
    gate, applied after the exact-dedup window (and its checkpoint) and
    BEFORE the MinHash near-dup stage: it's a broadcast window-hash probe
    (see ``contamination``) over the exact survivors, which share text
    with their dropped duplicates and so their contamination status."""
    # every gate feature is a per-row expression over text, so the gated
    # set is ONE projection + filter over ONE scan — the previous
    # lang_id/quality_score joins recombined three projections of the same
    # table through two extra joins (identical values, three scans)
    from crawling_infrastructure_spark.operators.dedup import _widen
    from crawling_infrastructure_spark.operators.textstats import (
        lang_best_struct,
        quality_exprs,
    )

    if materialize_survivors:
        # Materialize the (doc_id, text) input once, widened to the session
        # parallelism. Catalyst pushes the gate predicate all the way into
        # the scan stage — correct at scale (filter near data over many
        # splits) but the fixture parquet is ONE split, so the whole
        # marker/quality arithmetic ran serially in the scan task (measured
        # 8-12 s; 2.4 s checkpoint + 0.7-3 s parallel gates after). A
        # repartition alone cannot help: the filter pushes straight through
        # the exchange. On a wide multi-split table the flag's False path
        # (pure plan, no input materialization) is the right choice.
        docs = _widen(docs.select("doc_id", "text"), "doc_id").localCheckpoint(
            eager=True
        )
        _live_checkpoints.append(docs)
    lang_col = lang_best_struct(F.col("text"))["lang"]
    q = quality_exprs(F.col("text"))
    base = (
        docs.select(
            "doc_id",
            "text",
            lang_col.alias("guessed_lang"),
            q["n_tokens"].alias("n_tokens"),
            q["quality"].alias("quality"),
        )
        .filter(
            F.col("guessed_lang").isin(*langs)
            & (F.col("quality") >= min_quality)
            & F.col("n_tokens").between(min_tokens, max_tokens)
        )
    )
    # exact dedup: min doc_id per text hash (hash-partition window — one
    # shuffle on the 32-byte hash, never on text)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if materialize_survivors:
        # The MinHash stage references the survivor set from several join
        # sides (signature agg, both band-join sides, both verification
        # sides) — without materialization Catalyst recomputes the whole
        # gate+window subtree per reference (measured 44 s -> 13 s at
        # sf0.1). localCheckpoint also truncates lineage ahead of the
        # iterative component rounds. Eager (not lazy): the first consumer
        # is the LSH signature aggregate fanning out to four join sides —
        # lazy checkpointing let that first multi-sided stage race the
        # materialization (VERDICT r4 next-steps #5).
        exact = exact.localCheckpoint(eager=True)
        _live_checkpoints.append(exact)
    if eval_docs is not None:
        # decontamination gate AFTER the exact-dedup checkpoint: exact
        # duplicates share identical text and therefore identical
        # contamination status, so gating here keeps the surviving set
        # identical while the probe's two references to the gated corpus
        # (flag set + anti-join left side) reuse the one materialization —
        # with the gate before the window, eval_docs cost a second
        # full-text checkpoint
        exact = decontaminate(exact, eval_docs, window=decontam_window)
    # near-dup keep-one among exact survivors: components need only the
    # PAIRS (vertices absent from every edge are singletons and stay), so
    # the drop set is computed without touching the corpus again and the
    # survivors subtree is referenced twice (shingling + final anti-join),
    # not three times
    pairs = minhash_lsh_pairs(
        exact.select("doc_id", "text"), num_perm=32, threshold=minhash_threshold
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    return exact.join(drop, "doc_id", "left_anti").select(
        "doc_id", "guessed_lang", "n_tokens", "quality"
    )


def _two_level_prefix(
    scored: DataFrame,
    token_col: str,
    id_col: str,
    bucket_bits: int,
    keys: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """The shared scaffolding of every skew-safe cumulative-sum operator
    here (budget sampler, sequence packer): bucket rows by the top
    ``bucket_bits`` of the md5-prefix id hash (bucket order == hash order)
    and compute each (keys, bucket)'s EXCLUSIVE token prefix sum from the
    per-bucket aggregate — <= |keys| x 2^bucket_bits rows, driver-scale.
    Returns (per, starts): ``per`` = scored + (_h, _b); ``starts`` =
    (keys..., _b, _before). Callers broadcast-join ``starts`` back
    (optionally pruning buckets first) and finish with
    ``_intra_cumsum``."""
    from crawling_infrastructure_spark.operators.dedup import md5_prefix_hash_col

    per = scored.withColumn(
        "_h", md5_prefix_hash_col(F.col(id_col).cast("string"), modulus=None)
    ).withColumn("_b", F.shiftright(F.col("_h"), 60 - bucket_bits))
    agg = per.groupBy(*keys, "_b").agg(F.sum(token_col).alias("_btoks"))
    wb = (
        Window.partitionBy(*keys)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    starts = agg.withColumn(
        "_before", F.coalesce(F.sum("_btoks").over(wb), F.lit(0))
    ).drop("_btoks")
    return per, starts


def _intra_cumsum(
    token_col: str, id_col: str, keys: tuple[str, ...] = (), inclusive: bool = True
):
    """The intra-bucket half of the two-level cumsum: per-(keys, bucket)
    window in (hash, id) order — max 2^-bucket_bits of a group per
    partition — plus the bucket's broadcast `_before`. ``inclusive``
    counts the current row's tokens (budget cut); exclusive gives the
    row's stream START (packing)."""
    wd = (
        Window.partitionBy(*keys, "_b")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return F.coalesce(F.sum(token_col).over(wd), F.lit(0)) + F.col("_before")


def sample_to_token_budget(
    scored: DataFrame,
    budgets: dict[str, int],
    token_col: str = "n_tokens",
    lang_col: str = "guessed_lang",
    bucket_bits: int = 13,
) -> DataFrame:
    """Deterministic per-language token-budget downsampling — the mixture
    step after ``corpus_language_budget`` says "we have 9T en tokens but the
    mixture wants 2T": keep, per language, the hash-ordered PREFIX of
    documents whose cumulative ``token_col`` stays within ``budgets[lang]``.
    Languages absent from ``budgets`` are dropped. Hash order (md5-prefix of
    the doc id — the engine's oracle-computable hash primitive) is a
    deterministic shuffle: replays, retries, and the DuckDB oracle pick the
    identical document set, and the sample is unbiased w.r.t. any corpus
    ordering.

    Scale shape: the naive form is one window per language — a single
    partition holding ALL of en at the 10^10-doc point, the canonical skew
    killer. Instead, two-level prefix selection: bucket docs by the hash's
    TOP bits (bucket order == hash order), aggregate per-bucket token sums
    (<= langs x 2^bucket_bits rows — driver-scale), window over THAT to get
    each bucket's cumulative-before, broadcast back, and run the intra-
    bucket cumulative window per (lang, bucket) — max 2^-bucket_bits of a
    language per partition. Buckets entirely past the budget are pruned
    before the join, so the big side is scanned once and filtered early.
    """
    spark = scored.sparkSession
    b = spark.createDataFrame(
        [(l, int(t)) for l, t in sorted(budgets.items())],
        schema=f"{lang_col} string, _budget long",
    )
    per, starts = _two_level_prefix(
        scored, token_col, "doc_id", bucket_bits, keys=(lang_col,)
    )
    cand = (
        starts.join(F.broadcast(b), lang_col)
        .filter(F.col("_before") < F.col("_budget"))
        .select(lang_col, "_b", "_before", "_budget")
    )
    return (
        per.join(F.broadcast(cand), [lang_col, "_b"])
        .withColumn(
            "_cum", _intra_cumsum(token_col, "doc_id", (lang_col,), inclusive=True)
        )
        .filter(F.col("_cum") <= F.col("_budget"))
        .drop("_h", "_b", "_before", "_budget", "_cum")
    )


def corpus_language_budget(docs: DataFrame, kept: DataFrame) -> DataFrame:
    """Per-language training-budget rollup over the KEPT corpus: document
    count, total BPE-ish tokens, mean quality. The numbers a data-mixture
    plan is written against (how much en/fr/de do we actually have?)."""
    toks = token_counts(docs).select("doc_id", "n_bpe_tokens")
    return (
        kept.join(toks, "doc_id")
        .groupBy("guessed_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.round(F.avg("quality"), 4).alias("mean_quality"),
        )
    )


def eval_window_hashes(
    eval_docs: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The eval side of ``contamination``, precomputed: one (wh) column of
    globally DISTINCT 60-bit window hashes. Static for a fixed benchmark —
    compute once (and localCheckpoint) when probing repeatedly, e.g. the
    crawl loop's per-epoch admission audit."""
    from crawling_infrastructure_spark.operators.dedup import hashed_shingle_stream

    # hash-before-distinct: the global distinct hash SET is identical
    # whether or not the per-doc string distinct ran first, and the
    # distinct shuffle carries 8-byte hashes instead of window strings
    return (
        hashed_shingle_stream(eval_docs, window, id_col, text_col)
        .select("wh")
        .dropDuplicates(["wh"])
    )


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame | None,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
    eval_windows: DataFrame | None = None,
) -> DataFrame:
    """Benchmark contamination flags — (doc_id, n_eval_windows) for every
    training document sharing at least one verbatim ``window``-token run
    with the held-out evaluation set (the GPT-3 Appendix C / Gopher /
    Llama decontamination rule, conventionally a 13-gram; the window is a
    parameter because the right n tracks the tokenizer).

    Scale shape: this is an asymmetric substring join — the eval side is
    benchmark-sized (10^4-10^6 docs -> 10^7-10^8 distinct window hashes of
    8 bytes each) while the training side is the 100 TB crawl. The eval
    window set therefore collapses to DISTINCT 60-bit md5-prefix hashes and
    broadcasts (``broadcast_eval``), so the training side is ONE scan +
    explode with a map-side hash probe — no shuffle of training data at
    all. With ``broadcast_eval=False`` it degrades gracefully to a shuffle
    semi-structured join on the window hash. Window sets are distinct per
    doc on the training side and globally distinct on the eval side, so
    ``count(*)`` after the join is exactly the number of DISTINCT
    contaminated windows per training doc. Same hash/tokenization as
    ``dedup.substring_dup_pairs`` (collision bound documented there).
    """
    from crawling_infrastructure_spark.operators.dedup import (
        _widen,
        hashed_shingle_stream,
    )

    ev = (
        eval_windows
        if eval_windows is not None
        else eval_window_hashes(eval_docs, window, id_col, text_col)
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    # training side: hash inside the per-doc transform (the probe joins on
    # the hash anyway) and run the per-doc distinct AFTER the probe: the
    # eval side is globally distinct on wh, so the map-side join preserves
    # (doc_id, wh) multiplicity exactly and distinct-then-join equals
    # join-then-distinct — but the join drops every non-matching window
    # first, so the only distinct shuffle left is the (tiny) matched set
    # instead of the whole corpus window stream. _widen spreads the
    # explode off the fixture's single scan split.
    tr = hashed_shingle_stream(_widen(docs, id_col), window, id_col, text_col)
    return (
        tr.join(ev, "wh")
        .dropDuplicates(["doc_id", "wh"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_windows"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """``docs`` minus every document ``contamination`` flags — the actual
    pre-training hygiene step (drop training docs that leak the benchmark).
    One anti-join against the flag set; column set passes through."""
    flagged = contamination(
        docs, eval_docs, window, id_col, text_col, broadcast_eval
    ).select(F.col("doc_id").alias(id_col))
    return docs.join(flagged, id_col, "left_anti")


def pack_sequences(
    scored: DataFrame,
    capacity: int,
    token_col: str = "n_bpe_tokens",
    id_col: str = "doc_id",
    bucket_bits: int = 13,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the final layout step before
    tokenized training: documents are laid end-to-end in deterministic
    hash order and the token stream is cut into fixed ``capacity``-token
    training sequences. Returns (doc_id, shard_id, shard_offset) where
    ``shard_id`` is the sequence containing the document's FIRST token and
    ``shard_offset`` its position inside that sequence — the standard
    GPT-style packing (documents may straddle a cut; the assignment is by
    start position, which is what a writer laying out shard files needs).

    Deterministic hash order (md5-prefix of the doc id) doubles as a
    shuffle: packing is unbiased w.r.t. crawl order and replays/retries/
    the DuckDB oracle lay out the identical stream.

    Scale shape: the naive form is ONE global cumulative-sum window — a
    single partition holding the entire corpus, the canonical skew killer.
    Same two-level construction as ``sample_to_token_budget``: bucket by
    the hash's top ``bucket_bits`` (bucket order == hash order), aggregate
    per-bucket token sums (<= 2^bucket_bits rows — driver-scale), one tiny
    window over THAT for each bucket's stream start, broadcast back, and
    run the intra-bucket exclusive cumsum per bucket — max 2^-bucket_bits
    of the corpus per partition, fully parallel."""
    per, starts = _two_level_prefix(scored, token_col, id_col, bucket_bits)
    return (
        per.join(F.broadcast(starts), "_b")
        .withColumn("_start", _intra_cumsum(token_col, id_col, (), inclusive=False))
        .select(
            F.col(id_col).alias("doc_id"),
            F.floor(F.col("_start") / capacity).cast("long").alias("shard_id"),
            (F.col("_start") % capacity).cast("long").alias("shard_offset"),
        )
    )


def arrange_packed(
    docs: DataFrame,
    layout: DataFrame,
    num_files: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Physically arrange a corpus for a packed-shard writer: join each doc
    to its ``pack_sequences`` layout row and range-partition by shard so a
    trainer (or ``.write.parquet``) streams each training sequence's docs
    contiguously and in offset order.

    Why range (not hash) partitioning: shard ids are the READ order — a
    range exchange keeps consecutive shards in the same output file, so a
    sequential reader touches one file at a time instead of striping every
    sequence across all of them. ``num_files`` is the writer fan-out, NOT
    one-dir-per-shard (a 10^6-shard corpus must not become 10^6 parquet
    directories — never use partitionBy(shard_id) for this). Sort is
    within-partition only: no global sort, and the range exchange samples
    only (shard_id) keys, never text. The id tie-break makes the layout
    replay-identical even when a zero-token doc shares its successor's
    (shard_id, shard_offset)."""
    return (
        docs.join(layout, id_col)
        .repartitionByRange(num_files, "shard_id")
        .sortWithinPartitions("shard_id", "shard_offset", id_col)
    )

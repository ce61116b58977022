"""Text-analysis operators over a document corpus — all built-in column
expressions (split / higher-order functions / regexp), zero Python UDFs, so
they run inside whole-stage codegen and scale linearly with corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_common_spark.functions.hashing import md5_int64

# Tiny per-language stopword profiles for the n-gram/stopword-voting
# language heuristic. Order matters: ties resolve to the earlier entry.
LANG_PROFILES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "a", "of", "and", "to", "is", "in")),
    ("de", ("der", "die", "das", "und", "ist", "zu", "ein")),
    ("es", ("el", "la", "los", "y", "es", "de", "que")),
    ("fr", ("le", "les", "des", "et", "est", "un", "une")),
    ("zh", ("的", "了", "是", "在", "我")),
)


def _tokens() -> Column:
    """The whitespace tokens of the ``text`` column."""
    return F.split(F.col("text"), " ")


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-document quality metrics: the standard cheap filters a training
    pipeline gates on (length, token shape, repetition, symbol noise),
    from the ``doc_id`` and ``text`` columns.

    Token array materialized once (dedicated projection) — inlining the
    split() into every metric re-tokenizes the row per reference; see
    lang_id for the CollapseProject argument. Still map-only."""
    tokened = docs.select(
        F.col("doc_id"),
        F.col("text").alias("__text"),
        _tokens().alias("__toks"),
    )
    toks = F.col("__toks")
    n_tokens = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")), F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return tokened.select(
        "doc_id",
        F.length(F.col("__text")).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (sum_len / n_tokens).alias("avg_token_len"),
        (F.size(F.array_distinct(toks)) / n_tokens).alias("distinct_token_ratio"),
        (
            F.length(F.regexp_replace(F.col("__text"), "[a-z0-9 ]", ""))
            / F.length(F.col("__text"))
        ).alias("symbol_ratio"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (≈ len/4 per word
    — the standard "chars/4" rule of thumb, computed per-token so long words
    weigh in correctly), per ``doc_id`` over the ``text`` column. Token
    array materialized once — see lang_id."""
    tokened = docs.select(
        F.col("doc_id"), _tokens().alias("__toks")
    )
    toks = F.col("__toks")
    bpeish = F.aggregate(
        F.transform(toks, lambda t: F.ceil(F.length(t) / 4.0).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return tokened.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("ws_tokens"),
        bpeish.alias("bpeish_tokens"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language heuristic: score each language by how many
    tokens (with multiplicity) hit its profile; argmax wins, ties resolve in
    profile order, all-zero scores → 'und' (undetermined). Reads
    ``doc_id`` and ``text``.

    The token array is materialized in its own projection: inlining the
    split() into every per-language score put ~40 tokenizations per row
    in the optimized plan (each score references the array twice — once
    in greatest(), once in its tie-break comparison); the dedicated
    projection pins it to ONE, and CollapseProject keeps it (split is
    non-cheap and multiply-referenced). Still a pure two-projection
    map-only scan — no shuffle."""
    tokened = docs.select(
        F.col("doc_id"), _tokens().alias("__toks")
    )
    toks = F.col("__toks")

    def profile_score(words: tuple[str, ...]) -> Column:
        # single-arg lambda: a second (defaulted) param would make PySpark
        # pass the element index into it
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: profile_score(words) for lang, words in LANG_PROFILES}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang, _ in reversed(LANG_PROFILES):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return tokened.select(
        "doc_id", pred.alias("lang_pred"), best.alias("best_score")
    )


def document_fingerprints(docs: DataFrame, n: int = 5) -> DataFrame:
    """Content fingerprints: full-text digest + a min-shingle (winnowing-
    style) fingerprint robust to local edits, of each ``doc_id``'s
    ``text``. Both md5-derived 60-bit ints.

    Token array materialized once: a split() referenced inside the
    per-shingle slice() lambda re-tokenizes the row PER SHINGLE POSITION
    (per-element lambda evaluation — worse than the per-reference
    duplication lang_id had), so the dedicated projection turns an
    O(doc_len) tokenization per row into one."""
    tokened = docs.select(
        F.col("doc_id"),
        F.col("text").alias("__text"),
        _tokens().alias("__toks"),
    )
    toks = F.col("__toks")
    starts = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - (n - 1)))
    shingle_hashes = F.transform(
        starts, lambda i: md5_int64(F.concat_ws(" ", F.slice(toks, i, n)))
    )
    return tokened.select(
        "doc_id",
        md5_int64(F.col("__text")).alias("full_digest"),
        F.array_min(shingle_hashes).alias("min_shingle_fp"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document — the keyword/topic-extraction pass
    of a corpus pipeline (tf · ln(N/df), plain IDF), over the ``doc_id``
    and ``text`` columns.

    Scale shape: explode → (doc, term) pairs; the tf aggregation shuffles on
    (doc_id, term) with map-side partial combine; the document-frequency
    table derives from tf (one more shuffle on term, combine again) and at
    corpus scale stays ~vocabulary-sized, so AQE will usually broadcast it
    back into the score join. The corpus count N rides in via a one-row
    broadcast cross join — never a driver-side ``.collect()``. Final top-k
    is a window over doc_id (same key as tf's shuffle, so AQE can reuse the
    partitioning). Scores are rounded to 6 dp BEFORE ranking so ordering is
    reproducible across engines/ulp differences; ties break on term asc.
    """
    from pyspark.sql import Window

    words = docs.select(
        F.col("doc_id"), F.explode(_tokens()).alias("term")
    ).filter(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def bigram_repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition metrics per document: total bigrams, fraction
    held by the single most frequent bigram, and distinct-bigram ratio —
    the repetition gates used to drop boilerplate/spam before training.
    Reads ``doc_id`` and ``text``.

    Documents with fewer than two tokens have no bigrams and are excluded
    (matching the oracle's WHERE). The bigram build is a per-row
    higher-order ``transform`` (no join, no shuffle); the only shuffles are
    the two aggregations, both keyed by doc_id so the second reuses the
    first's partitioning.
    """
    toks = _tokens()
    docs2 = docs.select(F.col("doc_id"), toks.alias("w")).filter(
        F.size("w") >= 2
    )
    bg = docs2.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")
        ).alias("bigram"),
    )
    per = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("distinct_bigram_ratio"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-unigram-LM quality score per document — the cheap stand-in
    for a perplexity filter: score each token by −ln p(token) under the
    corpus's own unigram distribution and average per document
    (``(doc_id, n_scored, avg_neg_logprob)`` from the ``doc_id`` and
    ``text`` columns). High values flag documents
    full of rare/garbage tokens; low values flag stopword soup — both
    standard pre-training gates.

    Scale shape (r7 restructure, arithmetic unchanged): identical tokens
    score identically, so occurrences pre-aggregate to per-doc
    (term, m) counts in ONE explode-shuffle (with a fan_out parallelism
    guard for single-split local scans); the vocabulary table derives
    from THOSE aggregates — no second occurrence pass — and the scoring
    join runs at per-doc-distinct size, weighted by the integer m as
    DECIMAL (exact, bit-identical to summing per occurrence).
    Determinism across engines: each token's −ln p is rounded to 6 dp
    and summed as DECIMAL(28,12) — exact, order-free addition — so
    partial-agg ordering can't drift the hash (the float-sum pitfall the
    money aggregates dodge the same way).
    """
    from kafka_streams_common_spark.operators.dedup import fan_out

    words_agg = (
        fan_out(docs)
        .select(
            F.col("doc_id"),
            F.explode(_tokens()).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    vocab = words_agg.groupBy("term").agg(F.sum("m").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        words_agg.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "m",
            F.round(-F.log(F.col("cnt") / F.col("total")), 6)
            .cast("decimal(28,12)")
            .alias("nl"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_scored"),
        F.round(
            F.sum(F.col("m").cast("decimal(10,0)") * F.col("nl")).cast("double")
            / F.sum("m"),
            6,
        ).alias("avg_neg_logprob"),
    )


def stratified_hash_sample(
    docs: DataFrame,
    rates_pct: dict[str, int],
    strata_col: str = "lang",
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep-percentages over
    an md5(``doc_id``) bucket in [0, 100) — the language-rebalancing primitive of a
    corpus pipeline (e.g. downsample English, keep all low-resource
    languages). Like :mod:`text_hash_sample`, selection is a pure function
    of the row id: reproducible bit-for-bit across runs, engines and
    cluster sizes, unlike ``DataFrame.sampleBy``. Strata absent from
    ``rates_pct`` are dropped (rate 0). Pure scan-level filter — no
    shuffle, no state, trivially parallel at any scale.
    """
    rate = F.lit(0)
    for stratum, pct in rates_pct.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return docs.filter(F.pmod(md5_int64("doc_id"), F.lit(100)) < rate)


def mix_corpus_by_tokens(
    docs: DataFrame,
    token_budgets: dict[str, int],
) -> DataFrame:
    """Token-BUDGET corpus mixing — the Pile/Dolma-style recipe step: given
    a target token count per stratum (language/source/domain), down-sample
    each stratum deterministically so its expected token mass meets the
    budget, keeping strata already under budget whole. The stratum is
    the ``lang`` column, the tokens are those of ``text`` and the row id
    is ``doc_id``.

    Per stratum: ``keep_rate = min(1, budget / stratum_tokens)``, applied
    as an md5(id) bucket test in parts-per-million —
    ``pmod(md5(id), 1e6) < floor(rate · 1e6)`` — so selection is a pure
    function of the row id: reproducible across runs, engines, cluster
    sizes and partitionings (and the DuckDB oracle replays it exactly;
    the bigint token sums make ``budget / stratum_tokens`` one exact
    double division on both engines). Strata absent from
    ``token_budgets`` are dropped — a mixing recipe is a whitelist.

    Scale shape: one scalar aggregation per stratum (map-side combined
    (stratum, count) rows — |strata| out), broadcast back onto the scan
    as a filter. The corpus itself never shuffles; sampling 100 TB is a
    scan. Token-budget sampling is BY DOCUMENT (a kept document keeps
    all its tokens), so the realized token mass converges to the budget
    with relative error ~1/sqrt(docs kept) — the standard recipe
    semantics, noted here because tiny strata land further from target.

    Output: the surviving rows with ``n_tokens`` appended.
    """
    if not token_budgets:
        raise ValueError("mix_corpus_by_tokens: token_budgets must be non-empty")
    if any(b < 0 for b in token_budgets.values()):
        raise ValueError(f"negative token budget in {token_budgets}")
    n_tokens = F.size(_tokens()).cast("bigint")
    with_toks = docs.withColumn("n_tokens", n_tokens)
    # explicit whitelist filter — NOT a null budget flowing into least():
    # Spark's least() SKIPS nulls (least(1.0, NULL) = 1.0), so an unlisted
    # stratum would silently sample at rate 1.0 instead of dropping
    totals = (
        with_toks.groupBy(F.col("lang").alias("__st"))
        .agg(F.sum("n_tokens").alias("__stream_tokens"))
        .filter(F.col("__st").isin(*token_budgets))
    )
    budget = F.lit(None).cast("bigint")
    for stratum, b in token_budgets.items():
        budget = F.when(F.col("__st") == stratum, F.lit(b)).otherwise(budget)
    rates = totals.select(
        "__st",
        F.floor(
            F.least(
                F.lit(1.0), budget.cast("double") / F.col("__stream_tokens")
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("__rate_ppm"),
    )
    return (
        with_toks.join(
            F.broadcast(rates), F.col("lang") == F.col("__st")
        )
        .filter(F.pmod(md5_int64("doc_id"), F.lit(1_000_000)) < F.col("__rate_ppm"))
        .drop("__st", "__rate_ppm")
    )


def hash_split(
    docs: DataFrame,
    weights: dict[str, int],
) -> DataFrame:
    """Deterministic train/val/test split: adds a ``split`` column assigned
    by md5(``doc_id``) bucket in [0, 100). ``weights`` maps split name → percent
    (must sum to ≤ 100; remainder falls into the last split). Like
    :func:`stratified_hash_sample`, assignment is a pure function of the
    row id — disjoint, exhaustive, reproducible across runs, engines and
    partitionings, immune to ``randomSplit``'s repartition sensitivity.
    Map-only (no shuffle).
    """
    if not weights:
        raise ValueError("hash_split: weights must name at least one split")
    total = sum(weights.values())
    if total > 100 or any(w < 0 for w in weights.values()):
        raise ValueError(
            f"hash_split: weights must be non-negative and sum to <= 100"
            f" (got {weights}, sum {total}); the last split absorbs any"
            f" remainder"
        )
    bucket = F.pmod(md5_int64("doc_id"), F.lit(100))
    expr = None
    lo = 0
    names = list(weights)
    for name in names:
        hi = lo + weights[name]
        cond = bucket < hi if name != names[-1] else F.lit(True)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    return docs.withColumn("split", expr)


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    n_groups: int = 64,
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget packs
    (training sequences) — ``(doc_id, n_tokens, pack_id)`` with every doc
    in exactly one pack and no pack over budget (unless a single document
    alone exceeds it). Tokens are the whitespace tokens of ``text``.

    Bin packing is inherently sequential, so the scalable shape is
    two-level: hash documents into ``n_groups`` independent groups (the
    only shuffle — size ``n_groups ≈ cluster parallelism``: every group
    runs on one core, so fewer groups than cores idles the cluster and
    ~corpus/n_groups docs must be small enough for one worker's memory —
    at 10⁹ docs and 10⁴ cores that is 10⁵ (id, count) pairs per group,
    trivially fine), then pack WITHIN each group as an Arrow-batched
    ``applyInPandas`` (each group holds ids and token counts only, never
    bodies). pack_id is globally unique by construction:
    group * 2³² + local pack index. In-group packing loses little fill
    vs a global pass (documents are i.i.d. across hash groups) and
    parallelizes embarrassingly.

    The in-group pass is big–small two-pointer packing, vectorized: sort
    once by token count, then each pack takes the largest remaining
    document plus a maximal run of the SMALLEST remaining documents —
    located with one ``searchsorted`` against the precomputed prefix-sum
    of the ascending size order, so the Python-level loop advances one
    PACK (not one document) per iteration and every step inside it is
    numpy. Linear total work, and with a stronger fill guarantee than a
    bounded-window first-fit scan: a pack only closes when the smallest
    remaining document no longer fits, so every closed pack's slack is
    less than the smallest document still unpacked — no later document
    could ever have used it, i.e. packs are maximally filled with
    respect to the remaining multiset.
    """
    import numpy as np
    import pandas as pd

    counts = docs.select(
        F.col("doc_id"),
        F.size(_tokens()).cast("bigint").alias("n_tokens"),
        F.pmod(md5_int64("doc_id"), F.lit(n_groups)).alias("grp"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["grp"].iloc[0])
        # ascending (size, id) order; bigs are taken from the tail,
        # smalls from the head — ties broken by doc_id for determinism
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[True, True])
        toks = pdf["n_tokens"].to_numpy(dtype="int64")
        d = len(toks)
        csum = np.concatenate(([0], np.cumsum(toks)))  # csum[m] = first m smalls
        assign = np.empty(d, dtype="int64")
        i, j, p = d - 1, 0, 0  # big pointer (tail), small pointer (head), pack id
        while j <= i:
            cap = max(0, budget_tokens - int(toks[i]))  # oversized doc sits alone
            assign[i] = p
            # maximal run of smalls [j, j+m) with sum <= cap, not crossing i
            m = int(np.searchsorted(csum, csum[j] + cap, side="right")) - 1 - j
            m = min(m, i - j)
            assign[j : j + m] = p
            j += m
            i -= 1
            p += 1
        out = pdf[["doc_id", "n_tokens"]].copy()
        out["pack_id"] = (grp << 32) + assign
        return out

    return counts.groupBy("grp").applyInPandas(
        pack, "doc_id bigint, n_tokens bigint, pack_id bigint"
    )


def token_budget_shards(
    docs: DataFrame,
    budget_tokens: int,
) -> DataFrame:
    """ORDER-PRESERVING token-budget sharding: walk the corpus in
    ``doc_id`` order and cut a new shard every ``budget_tokens`` tokens
    of ``text`` — ``shard = floor(start_offset / budget)`` where
    ``start_offset`` is the exact number of tokens strictly before the
    document. Returns ``(doc_id, n_tokens, shard)``.

    This is the writer shape for dataloaders that stream a REPRODUCIBLE
    global order (curriculum schedules, resumable epochs): unlike
    ``pack_sequences`` (order-free bin packing for maximal fill) the
    document sequence is preserved, every shard is a contiguous id
    range, and shard sizes are budget ± one document. Exact start
    offsets come from the distributed global prefix
    (``operators/prefix.py`` — bounded boundary collect, per-bucket
    parallel windows, no single-partition sort), so the assignment is
    deterministic, engine-exact integer arithmetic at any corpus size.
    """
    from kafka_streams_common_spark.operators.prefix import global_prefix

    counts = docs.select(
        F.col("doc_id"),
        F.size(_tokens()).cast("bigint").alias("n_tokens"),
    )
    run = global_prefix(counts, ["doc_id"], sum_cols=["n_tokens"])
    return run.select(
        "doc_id",
        "n_tokens",
        (
            (F.col("run_n_tokens") - F.col("n_tokens"))
            / F.lit(int(budget_tokens))
        )
        .cast("bigint")
        .alias("shard"),
    )


# Gopher quality-rule constants (Rae et al. 2021, "Scaling Language Models:
# ... Gopher", Appendix A1.1 — public paper). min_words is adapted down to
# the fixture's 10-99-word documents; callers pass the paper's 50 for a
# real corpus.
GOPHER_STOP_WORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality rules — the pre-training gate battery
    (word-count bounds, mean word length band, alphabetic-word fraction,
    stop-word presence) as ONE map-only projection over the ``doc_id``
    and ``text`` columns. The Gopher thresholds: 20 to 100,000 words,
    mean word length 3 to 10, at least 80% of words alphabetic, at least
    two ``GOPHER_STOP_WORDS`` hits.

    Every rule is a built-in column expression over the shared token
    array — materialized ONCE in its own projection (inlining the
    split() re-tokenizes the row per rule reference; see lang_id) — so
    the whole battery runs inside whole-stage codegen on a single scan:
    at 100 TB this is the cheapest possible shape (no shuffle, no
    Python, filters compose with downstream pushdown).
    Emits the per-rule booleans alongside ``keep`` (their conjunction)
    rather than filtering, so a pipeline can audit WHY documents drop —
    the standard curation-report requirement.
    """
    docs = docs.select(
        F.col("doc_id"), F.col("text"), _tokens().alias("__toks")
    )
    toks = F.col("__toks")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_len = sum_len / n_words
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / n_words
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOP_WORDS)))
    rules = {
        "word_count_ok": (n_words >= 20) & (n_words <= 100_000),
        "mean_word_len_ok": (mean_len >= 3.0) & (mean_len <= 10.0),
        "alpha_frac_ok": alpha_frac >= 0.80,
        "stop_words_ok": stop_hits >= 2,
    }
    keep = rules["word_count_ok"]
    for c in list(rules.values())[1:]:
        keep = keep & c
    # raw quotients, NOT round(x, 6): both are single double divisions of
    # small integers — bit-identical on any engine — while a 6-dp round
    # can straddle a half-ulp boundary across engines (JVM BigDecimal
    # HALF_UP vs DuckDB scaled-multiply; the bigram scorer hit exactly
    # that), so rounding would ADD a cross-engine hazard, not remove one
    return docs.select(
        F.col("doc_id"),
        n_words.cast("bigint").alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.cast("bigint").alias("stop_hits"),
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("keep"),
    )


def bigram_logprob(
    docs: DataFrame,
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram-LM quality score per document —
    ``(doc_id, n_bigrams, avg_neg_logprob)`` from the ``doc_id`` and
    ``text`` columns — one rung up the
    perplexity-filter ladder from :func:`unigram_logprob`: each bigram
    scores ``−ln(λ·p(cur|prev) + (1−λ)·p(cur))`` under the corpus's own
    counts, so repeated boilerplate transitions score cheap (low surprise)
    and garbage transitions score expensive even when both tokens are
    individually common — exactly what the unigram model cannot see.

    ``p(cur|prev) = c(prev,cur) / ctx(prev)`` uses CONTEXT counts
    (bigram occurrences of ``prev``), so the conditional properly
    normalizes; interpolation with the unigram term means unseen-bigram
    smoothing never divides by zero (every cur token exists in the
    vocabulary by construction).

    Scale shape (r7 restructure, arithmetic unchanged): identical
    bigrams score identically, so occurrences are pre-aggregated to
    per-doc (prev, cur, m) counts in ONE explode-shuffle, and the LM
    tables derive from aggregates, never from re-scanning occurrences —
    ``big`` re-aggregates pairs_agg, ``ctx`` re-aggregates ``big``
    (both observed-bigram-sized, sublinear in corpus bytes), and only
    the unigram vocabulary needs a second corpus pass (a bigram table
    cannot see single-token docs or final tokens). Scoring then joins
    the |distinct bigram| table — not the occurrence table — through
    ctx/vocab, and the per-doc readout is one join of pairs_agg against
    those scores, weighted by m. vs the per-occurrence formulation this
    removes two corpus explodes and moves three occurrence-sized joins
    to distinct-bigram-sized ones (measured 5.1 → ~2 s at sf0.1).
    Determinism across engines: integer counts everywhere, per-bigram
    −ln p rounded to 6 dp, weighted by the integer m as DECIMAL (exact)
    and summed as DECIMAL (exact order-free addition) — bit-identical
    to summing nl per occurrence, same as the unigram scorer.
    """
    from kafka_streams_common_spark.operators.dedup import fan_out

    # Materialize the token array ONCE: referencing the split() inside the
    # transform lambda inlines a fresh tokenization into every element_at
    # (4 split() nodes in the optimized plan — re-tokenizing the corpus
    # 4×); a dedicated projection pins it to one. fan_out guards against a
    # single-split local scan serializing the explode on one core (no-op
    # on a many-split production table — see fan_out's docstring).
    tokened = fan_out(docs).select(
        F.col("doc_id"), _tokens().alias("__toks")
    )
    toks = F.col("__toks")
    idx = F.when(F.size(toks) >= 2, F.sequence(F.lit(2), F.size(toks))).otherwise(
        F.array().cast("array<int>")
    )
    pairs_agg = (
        tokened.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(toks, i - 1).alias("prev"),
                        F.element_at(toks, i).alias("cur"),
                    ),
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg.prev", "bg.cur")
        .agg(F.count(F.lit(1)).alias("m"))
    )

    words = tokened.select(F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    vocab = words.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    total = vocab.agg(F.sum("c1").alias("total"))
    big = pairs_agg.groupBy("prev", "cur").agg(F.sum("m").alias("c2"))
    ctx = big.groupBy("prev").agg(F.sum("c2").alias("cprev"))

    p = F.lit(lam) * (F.col("c2") / F.col("cprev")) + F.lit(1.0 - lam) * (
        F.col("c1") / F.col("total")
    )
    scores = (
        big.join(ctx, "prev")
        .join(vocab.withColumnRenamed("term", "cur"), "cur")
        .crossJoin(F.broadcast(total))
        .select(
            "prev",
            "cur",
            F.round(-F.log(p), 6).cast("decimal(28,12)").alias("nl"),
        )
    )
    # NO final round: the exact DECIMAL sum cast to double and divided by
    # the count is bit-identical on both engines (numerator < 2^53 at this
    # scale, one correctly-rounded conversion + one division), whereas
    # round(avg, 6) can land on a half-ulp boundary where JVM BigDecimal
    # HALF_UP and DuckDB's scaled-multiply rounding legitimately disagree
    # (observed at sf0.01: avg = 3.3790014999999998 → 3.379001 vs
    # 3.379002 — a spurious hash mismatch, not a wrong answer)
    return (
        pairs_agg.join(scores, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            (
                F.sum(F.col("m").cast("decimal(10,0)") * F.col("nl")).cast(
                    "double"
                )
                / F.sum("m")
            ).alias("avg_neg_logprob"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the RAG/context-window
    preprocessing step: split each document into chunks of
    ``chunk_size`` whitespace tokens advancing by ``stride`` (overlap =
    ``chunk_size - stride``), so every token lands in at least one chunk
    and boundary-spanning passages land in two.

    Reads ``doc_id`` and ``text``. Returns ``(doc_id, chunk_id,
    n_chunk_tokens, chunk_text)`` with
    ``chunk_id`` 0-based per document. A document with ``n <=
    chunk_size`` tokens yields exactly one chunk; otherwise
    ``1 + ceil((n - chunk_size) / stride)`` chunks (the final chunk may
    be short — it is never dropped, truncation would lose corpus tail
    text).

    Scale shape: tokenize ONCE into a materialized array column, then a
    map-only sequence-explode — no shuffle, no UDF; output bytes ≈
    input bytes × (chunk_size / stride) overlap factor, the expected
    cost of overlapping windows.
    """
    if chunk_size < 1 or stride < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    if stride > chunk_size:
        raise ValueError("stride > chunk_size would drop tokens between chunks")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((F.col("__n") - F.lit(chunk_size)) / F.lit(float(stride))),
    )
    chunked = toks.select(
        "doc_id",
        "__toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
            "chunk_id"
        ),
    )
    window = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_size
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(window).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )


def classifier_score(docs: DataFrame) -> DataFrame:
    """Hashed-bag-of-words linear quality classifier — the fastText-style
    filter shape (CCNet / LLaMA-pipeline quality gate): each token hashes
    to a weight, the document's score is the weight sum, and the gate
    keeps documents whose logit is above 0. Returns ``(doc_id, logit,
    keep)`` from the ``doc_id`` and ``text`` columns. Weights here are md5-derived
    placeholders in [-1, 1] (a real deployment broadcasts trained
    weights; the plumbing — hashing, lookup-free scoring, gating — is
    identical and is what this operator pins).

    Engine-exact arithmetic: weights are integer MILLS (thousandths,
    ``md5_int64("w1|" + token) % 2001 - 1000``) accumulated as bigints —
    order-free — and divided back to a double logit once per document.

    Scale shape: tokenize once, one map-only fold per row — no explode,
    no shuffle, no weight-table join (the hash IS the lookup); the gate
    is a scan-level predicate downstream.
    """
    # ONE scoring core: the gate and its evaluation suite (AUC,
    # calibration, confusion, Spearman) must score the same model —
    # both derive from classifier_logit_mills
    scored = classifier_logit_mills(docs)
    logit = F.col("logit_mills") / 1000.0
    return scored.select(
        "doc_id",
        logit.alias("logit"),
        (logit > F.lit(0.0)).alias("keep"),
    )


def classifier_logit_mills(
    docs: DataFrame,
    extra_cols: tuple = (),
) -> DataFrame:
    """The :func:`classifier_score` logit kept in exact integer MILLS
    (bigint) — the form downstream *evaluation* needs: ranking by an
    integer is total and engine-exact, so AUC ranks and calibration bins
    built on it never hinge on float ties. ``extra_cols`` (Columns over
    the input, e.g. a label expression) ride along in the same map-only
    projection so callers never re-join on ``doc_id``. Same scale shape as the
    scorer: tokenize once, hash-is-the-lookup fold, no shuffle."""
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks"), *extra_cols
    )
    mills = lambda t: (  # noqa: E731
        md5_int64(F.concat(F.lit("w1|"), t)) % 2001 - 1000
    )
    carried = [
        fld.name
        for fld in toks.schema.fields
        if fld.name not in ("doc_id", "__toks")
    ]
    return toks.select(
        "doc_id",
        F.aggregate(
            F.transform(F.col("__toks"), mills),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("logit_mills"),
        *[F.col(c) for c in carried],
    )


def dsir_importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR-style data-selection weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every corpus document by the average hashed-bigram log-likelihood
    ratio between a TARGET distribution (the domain you want more of —
    an eval suite, a quality subset) and the corpus distribution. Docs
    whose n-gram profile looks more target-like than corpus-average
    score positive — the standard cheap importance filter a pretraining
    pipeline runs to tilt a 100 TB crawl toward a target domain.

    Both sides read ``doc_id`` and ``text``. Returns ``(doc_id,
    n_bigrams, dsir_score, keep)`` for every corpus doc; ``dsir_score`` = Σ m_f·lr_f / Σ m_f over the doc's bucket
    counts, ``lr_f = ln(p̂_target(f)/p̂_corpus(f))`` with add-one
    smoothing over ``n_buckets`` hashed buckets; ``keep`` = score > 0.

    Scale shape: one explode-shuffle per side builds (doc, bucket, m)
    counts (hashed-bucket domain, so the model tables are
    ``n_buckets``-bounded regardless of vocabulary); the corpus model
    re-aggregates the per-doc counts (no second corpus pass); scoring
    joins the per-doc counts against the BROADCAST bucket table. The
    only scalar aggregates are the two totals, carried via broadcast
    crossJoin — no driver collect.

    Determinism (repo convention): buckets from md5_int64 (cross-engine
    bytewise identical), per-bucket log-ratio rounded to 6 dp and cast
    DECIMAL(18,6) so every per-doc weighted sum is order-free exact;
    the final double division is a single IEEE op on exact inputs.
    """
    from kafka_streams_common_spark.functions.hashing import md5_int64
    from kafka_streams_common_spark.operators.dedup import fan_out

    def bucket_counts(docs: DataFrame) -> DataFrame:
        tokened = fan_out(docs).select(
            F.col("doc_id"), _tokens().alias("__toks")
        )
        toks = F.col("__toks")
        idx = F.when(
            F.size(toks) >= 2, F.sequence(F.lit(2), F.size(toks))
        ).otherwise(F.array().cast("array<int>"))
        grams = tokened.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i - 1), F.element_at(toks, i)
                    ),
                )
            ).alias("bigram"),
        )
        return grams.groupBy(
            "doc_id", (md5_int64("bigram") % n_buckets).alias("bucket")
        ).agg(F.count(F.lit(1)).alias("m"))

    corpus_doc_counts = bucket_counts(corpus).localCheckpoint(eager=True)
    cc = corpus_doc_counts.groupBy("bucket").agg(F.sum("m").alias("cc"))
    tc = bucket_counts(target).groupBy("bucket").agg(F.sum("m").alias("tc"))
    ctot = cc.agg(F.sum("cc").alias("ctot"))
    ttot = tc.agg(F.sum("tc").alias("ttot"))

    lr = (
        cc.join(tc, "bucket", "left")
        .crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double")
                        / (F.col("ttot") + n_buckets).cast("double")
                    )
                    / (
                        (F.col("cc") + 1).cast("double")
                        / (F.col("ctot") + n_buckets).cast("double")
                    )
                ),
                6,
            ).cast("decimal(18,6)").alias("lr"),
        )
    )
    scored = (
        corpus_doc_counts.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("lr")).alias("sum_lr"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("sum_lr").cast("double") / F.col("n_bigrams")).alias(
                "dsir_score"
            ),
        )
    )
    return (
        corpus.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            "dsir_score",
            F.coalesce(F.col("dsir_score") > 0, F.lit(False)).alias("keep"),
        )
    )


def weighted_priority_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    "Weighted random sampling with a reservoir"): each row gets key
    ``u^(1/w)`` for a uniform ``u``; the top-k keys ARE a weighted
    sample without replacement. The corpus-curation staple when docs
    deserve inclusion odds proportional to a quality/length weight —
    one distributed top-k, no sequential reservoir, no RNG state.

    Determinism (repo convention): ``u`` derives from md5 of ``doc_id``
    (reproducible on any engine/cluster/partitioning — the
    hash-as-uniform trick every sampling operator here uses), the
    ranking key is ``ln(u)/w`` (monotone in ``u^(1/w)``, avoids pow
    underflow) rounded to 12 dp with the id as tiebreak, and the top-k
    compiles to TakeOrderedAndProject — a per-partition heap + driver
    merge of k rows, never a global sort.

    Weights must be strictly positive; rows with NULL or non-positive
    weight are excluded (sampling odds zero).
    """
    from kafka_streams_common_spark.functions.hashing import md5_int64

    u = (md5_int64(F.col("doc_id")) + 1).cast("double") / float(1 << 60)
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 12)
    return (
        docs.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(k)
    )

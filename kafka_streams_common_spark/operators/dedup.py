"""Deduplication operators over a document corpus.

Four tiers, all shuffle-architected for 100 TB:

- :func:`exact_dedup` — hash-groupBy on md5(text): the shuffle key is a
  16-byte digest, not the document body, so shuffle volume is O(rows), not
  O(corpus bytes).
- :func:`ngram_jaccard_pairs` — exact set-similarity via shingle inverted
  index (explode → equi-join on shingle hash → count). One shuffle on the
  shingle hash; a ``max_df`` cap drops stop-shingles that would create
  quadratic hot keys (standard frequent-item mitigation for skew).
- :func:`minhash_lsh_pairs` — MinHash signatures + LSH banding: candidate
  generation joins on (band, band-hash) buckets — O(n·bands) shuffle rows
  instead of O(n²) comparisons — then exact-Jaccard verification on the
  candidates only. This is the scale path for fuzzy dedup.
- :func:`simhash_pairs` — 32-bit SimHash with 4-block pigeonhole banding:
  for hamming distance ≤ 3, two of four 8-bit blocks cannot all differ, so
  block-equality buckets generate candidates with ZERO false negatives —
  the banded result is exactly the brute-force result.

Everything is built-in expressions (md5/conv/explode/groupBy) — no UDFs —
and reproducible in ANSI SQL for the DuckDB oracles.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_common_spark.functions.hashing import md5_int64


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: one canonical (min-``doc_id``) row per distinct
    ``text``.

    Returns ``(doc_id, n_copies)`` — the surviving id and how many rows it
    represents. Grouping key is md5(text) so the exchange carries digests.
    """
    return (
        docs.groupBy(F.md5(F.col("text")).alias("__digest"))
        .agg(
            F.min(F.col("doc_id")).alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


def fan_out(df: DataFrame) -> DataFrame:
    """Parallelism guard for CPU-heavy per-row stages (shingling, hashing).

    A small local corpus arrives as one or two parquet splits, which would
    serialize the whole explode/md5 pipeline on one core. Repartition ONLY
    when the scan is genuinely narrower than the session's default
    parallelism — on a real cluster a 100 TB table already has thousands
    of splits, the branch is false, and no shuffle is inserted.

    Two-signal guard, cheap signal first:

    1. ``len(df.inputFiles())`` (driver-side file listing already cached by
       the scan relation — no plan translation). File count ≥ target means
       at least that many scan splits: done, zero extra driver work. This
       is the only branch a production many-file table ever takes.
    2. Only when the file count is SMALLER than the target (or the listing
       is unavailable — in-memory/cached frames), consult
       ``df.rdd.getNumPartitions()`` — the PLANNED partition count. This
       pays one plan translation, but it is exact: Spark's FilePartition
       math splits a single large parquet file into ~defaultParallelism
       scan partitions (``maxPartitionBytes``/``openCostInBytes``
       packing), and a cached frame reports its real partitioning — in
       both cases the guard is a no-op instead of inserting a spurious
       corpus-wide repartition Exchange (file count alone regressed
       exactly that way: 1 big file → forced shuffle before a broadcast
       join that needed none).

    Streaming frames pass through untouched (r16): micro-batch
    parallelism is the source's concern (maxFilesPerTrigger /
    partition count), and ``.rdd`` is illegal on an unstarted
    streaming plan — the guard must stay safe for encoders shared
    between batch and streaming pipelines.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file plans where the listing is unavailable
        n_files = 0
    if n_files >= target:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles of the ``text`` column per document:
    ``(doc_id, shingle)``.

    Documents shorter than ``n`` words contribute their full text as the one
    shingle (the ``greatest(1, ...)`` clamp).

    The token array is materialized in its own projection before the
    shingle transform: referencing the split() inside the per-element
    slice() inlines a fresh tokenization per shingle position —
    O(doc_len) splits per row in the optimized plan — where the
    dedicated projection pins it to ONE (CollapseProject keeps it:
    split is non-cheap and multiply-referenced).
    """
    tokened = fan_out(docs).select(
        F.col("doc_id"),
        F.split(F.col("text"), " ").alias("__toks"),
    )
    tokens = F.col("__toks")
    starts = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(tokens) - (n - 1)))
    shingles = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(tokens, i, n)))
    return tokened.select(
        "doc_id",
        F.explode(F.array_distinct(shingles)).alias("shingle"),
    )


def _hashed_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh) with sh = 60-bit shingle hash — narrow shuffle rows."""
    return word_shingles(docs, n).select(
        "doc_id", md5_int64("shingle").alias("sh")
    )


def shingle_pair_census(
    docs: DataFrame,
    n: int = 3,
    max_df: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The shared inverted-index census every shingle-overlap score is
    built from: ``(pairs, sizes)`` with pairs ``(doc_a, doc_b, common)``
    (``doc_a < doc_b``, count of shared distinct shingle hashes) and
    sizes ``(doc_id, sz)``, shingled from the ``doc_id`` and ``text``
    columns. Jaccard, containment and novelty differ only
    in the expression applied downstream — sharing the census keeps the
    max_df skew cap and the materialization pattern in one place.

    The hashed-shingle table is materialized once (same localCheckpoint
    pattern as the minhash/simhash signature tables; at cluster scale
    substitute a parquet persist): it feeds three-to-four consuming
    subtrees (df census, per-doc sizes, both self-join sides) and would
    otherwise re-shingle the corpus per subtree. ``max_df`` drops
    shingles appearing in more than that many documents — a handful of
    stop-shingles otherwise produce O(df²) join rows (key skew).
    """
    sh = _hashed_shingles(docs, n).localCheckpoint(eager=True)
    sh = _cap_buckets(sh, ["sh"], max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        _bucket_pairs(sh, ["sh"], "doc_id")
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return pairs, sizes


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    tau: float = 0.7,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs of the ``doc_id``/``text``
    corpus: ``(doc_a, doc_b, jaccard)``, ``doc_a < doc_b``,
    ``jaccard >= tau``.

    Inverted-index join (:func:`shingle_pair_census` — one materialized
    shingle table, df-capped, pair census + sizes), then
    ``|A∩B| / (|A|+|B|-|A∩B|)``. Dropping over-``max_df`` stop-shingles
    only lowers jaccard estimates for unrelated pairs.
    """
    common, sizes = shingle_pair_census(docs, n, max_df)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


_MERSENNE_31 = (1 << 31) - 1
# MinHash signature width and LSH band count, shared by the signature pass,
# both banding operators and the band-key width check: 32 bands of 4 rows.
_NUM_PERM = 128
_BANDS = 32


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (aᵢ, bᵢ), md5-seeded."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        (h(f"a:{i}") % (_MERSENNE_31 - 1) + 1, h(f"b:{i}") % _MERSENNE_31)
        for i in range(num_perm)
    ]


def _minhash_sig_udf(n: int):
    """Arrow-batched MinHash signature kernel (one call per record batch).

    Map-only: the (doc, shingle) rows never exist in the plan, so the only
    shuffles left in minhash dedup are the candidate join and the verify
    agg. Per batch: md5 each DISTINCT TOKEN once (memoized across the
    batch — corpus vocabularies are far smaller than token streams), then
    build every shingle hash with a vectorized polynomial combine of the
    token hashes (base powers mod 2³¹−1, Horner-free closed form) and take
    the 128 affine minima as one numpy broadcast. No per-shingle string
    construction, no per-shingle md5.

    The shingle hash is deliberately NOT the md5-of-shingle-string used by
    the exact-verify stage: signatures only need a deterministic,
    well-mixed hash (the md5-seeded token hashes provide the mixing; the
    polynomial distinguishes order), because banding is candidate
    GENERATION — the exact Jaccard verify recomputes truth from md5
    shingle sets, and the registered query's oracle is the brute-force
    ground-truth pair set. Min over the shingle MULTISET equals min over
    the set, so duplicate shingles need no dedup. v1 of this kernel
    (md5 per shingle string) measured ~4.1 s of the ~4.3 s warm sf0.1
    pipeline; this form cuts the signature stage to well under a second.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    ab = np.asarray(_perm_params(_NUM_PERM), dtype=np.int64)
    A, B = ab[:, 0][None, :], ab[:, 1][None, :]
    # polynomial base powers: base^(n-1), ..., base^0 mod M31
    base = 1_000_003
    powers = [1]
    for _ in range(n - 1):
        powers.append((powers[-1] * base) % _MERSENNE_31)
    powers = powers[::-1]

    def sig(text: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def tok_hash(w: str) -> int:
            h = memo.get(w)
            if h is None:
                h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % _MERSENNE_31
                memo[w] = h
            return h

        out = []
        for t in text:
            toks = t.split(" ")
            ids = np.fromiter((tok_hash(w) for w in toks), dtype=np.int64, count=len(toks))
            if len(toks) >= n:
                m = len(toks) - n + 1
                h = np.zeros(m, dtype=np.int64)
                for j in range(n):
                    h = (h + ids[j : j + m] * powers[j]) % _MERSENNE_31
            else:
                # short doc: whole token sequence as the one shingle
                h = np.array(
                    [sum(int(i) * base**k for k, i in enumerate(reversed(ids))) % _MERSENNE_31],
                    dtype=np.int64,
                )
            out.append(((A * h[:, None] + B) % _MERSENNE_31).min(axis=0))
        return pd.Series(out)

    sig.__annotations__ = {"text": pd.Series, "return": pd.Series}
    return pandas_udf(sig, "array<bigint>")


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """MinHash signature of the ``text`` column per document: ``(doc_id,
    sig array<bigint>)`` with ``_NUM_PERM`` (128) entries.

    The classical affine-permutation family: a 31-bit shingle hash (md5
    token hashes combined polynomially — see :func:`_minhash_sig_udf`),
    then hᵢ = (aᵢ·h + bᵢ) mod (2³¹−1) per permutation — a multiply-add
    instead of a hash each. The minima are computed in an Arrow-batched
    kernel, so the stage is map-only: no shingle explode, no signature
    shuffle.
    """
    return fan_out(docs).select(
        F.col("doc_id"),
        _minhash_sig_udf(n)(F.col("text")).alias("sig"),
    )


def _band_keys(sig: Column, width: int, bands: int) -> Column:
    """LSH band buckets of a ``width``-entry signature array as one
    higher-order expression: ``array<struct<band:int, bkey:string>>``,
    band ``b`` keyed by the md5 of its ``width // bands`` entries written
    as comma-joined decimal strings. A signature of any other width fails
    the query with an error naming both widths (``slice`` alone would
    quietly hash shorter bands). One expression instead of a per-band
    Column tree keeps analysis cost independent of ``bands``."""
    rows = width // bands
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string")
                    ),
                    ",",
                )
            ).alias("bkey"),
        ),
    )
    return F.when(
        F.size(sig) != width,
        F.raise_error(
            F.concat(
                F.lit(f"LSH signature must have {width} entries, got "),
                F.size(sig).cast("string"),
            )
        ),
    ).otherwise(keys)


def _cap_buckets(rows: DataFrame, keys: list[str], max_rows: int | None) -> DataFrame:
    """The hot-bucket cap of every candidate self-join: drop the buckets
    (rows sharing ``keys``) that hold more than ``max_rows`` rows, since
    a bucket of m rows enumerates m² candidates. One census aggregation
    (map-side combined, |buckets|-sized output), then an AQE-decided join
    back to the surviving buckets. ``None`` returns ``rows`` unchanged."""
    if max_rows is None:
        return rows
    ok = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") <= max_rows)
        .select(*keys)
    )
    return rows.join(ok, keys)


def _bucket_pairs(rows: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """The candidate self-join: every pair of rows that share ``keys``,
    once per bucket, with ``a.<id_col> < b.<id_col>``. The sides are
    aliased ``a`` and ``b``; a pair that collides in several buckets
    appears once per bucket, which callers deduplicate or count."""
    cond = reduce(
        operator.and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    return rows.alias("a").join(rows.alias("b"), cond)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    tau: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs of the ``doc_id``/``text`` corpus,
    exact-verified: ``(doc_a, doc_b, jaccard)``.

    1. signatures (one shuffle);
    2. band each signature into ``_BANDS`` (32) groups of
       ``_NUM_PERM / _BANDS`` (4) rows,
       bucket key = md5 of the band's values; equi-join on (band, bucket) —
       candidates only, never O(n²);
    3. verify candidates with exact Jaccard over shingle sets
       (``array_intersect`` on collect_set — candidate count is small).

    With r=4 rows/band and 32 bands, a pair at jaccard 0.8 is missed with
    probability (1-0.8⁴)³² ≈ 5e-8 — the verified output equals the exact
    tau-threshold pair set with overwhelming probability, which is what the
    semantic (brute-force) oracle asserts. Gate-failure odds for the
    registered query: the fixture's true pairs are exact or near-exact
    duplicates (jaccard ≈ 1 — at j=1 the per-pair miss probability is
    exactly 0, at j=0.97 it is ~1e-30); the 5e-8 worst case applies only
    to hypothetical pairs sitting exactly at the τ boundary, so the
    aggregate probability of a spurious hash-mismatch across the
    fixture's pair set is ≪ 1e-9.

    ``max_bucket`` is the banding tier's analog of ``ngram_jaccard_pairs``'
    ``max_df`` stop-shingle cap: drop (band, bucket) groups holding more
    than that many documents before the self-join. A template-heavy crawl
    corpus (boilerplate pages sharing most of their shingles) can land
    ~50% of documents in ONE bucket, making candidate enumeration O(hot²)
    even though every such pair fails exact verification — the
    adversarial-skew shape recorded in SCALE.md's adversarial-skew probe
    and pinned by ``test_minhash_max_bucket_cap_preserves_output``.
    Dropping a hot bucket only removes candidate-RECALL for pairs whose
    sole collision was that bucket: a true pair at jaccard ≥ 0.8 collides
    per band w.p. ≈ 0.41, so losing even several bands leaves the miss
    probability ≈ (1-0.41)^remaining ≈ 0. Default None keeps the
    registered query bit-identical to its SQL oracle.
    """
    # materialize the signature table ONCE: it is map-only output (no
    # exchange for ReuseExchange to share) consumed by both sides of the
    # band self-join and, transitively, every candidate re-expansion —
    # without this the Arrow kernel re-runs per consumer (measured 10
    # ArrowEvalPython instances in the un-checkpointed plan). The table is
    # O(rows · _NUM_PERM · 8B) — at 100 TB corpus scale this is the
    # signature layer one would persist to parquet anyway. Kept by
    # measurement (`probe.py dedup_minhash_lsh --runs 7`, 4 cores, two
    # sessions each): sf0.1 total median 2.74-2.92 s with it, 3.54-3.59 s
    # without.
    sig = minhash_signatures(docs, n).localCheckpoint(eager=True)
    buckets = sig.select(
        "doc_id", F.inline(_band_keys(F.col("sig"), _NUM_PERM, _BANDS))
    )
    buckets = _cap_buckets(buckets, ["band", "bkey"], max_bucket)
    cand = (
        _bucket_pairs(buckets, ["band", "bkey"], "doc_id")
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # candidates are consumed three times (verification join + both
        # sides of the id-union below); Catalyst's ReuseExchange shares the
        # shuffle output across the consumers, so NO .cache() here — an
        # explicit cache forces a blocking materialization job and an AQE
        # barrier that measured ~2× slower end-to-end
    )
    # verification needs shingle sets only for docs that appear in a
    # candidate pair — a tiny fraction of the corpus; semi-join the DOCS
    # (before shingling, not after) so the explode/hash work is
    # proportional to candidates, not to the corpus
    cand_ids = cand.select(F.col("doc_a").alias("__cid")).union(
        cand.select(F.col("doc_b").alias("__cid"))
    ).distinct()
    cand_docs = docs.join(
        F.broadcast(cand_ids), F.col("doc_id") == F.col("__cid"), "left_semi"
    )
    sets = (
        _hashed_shingles(cand_docs, n)
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("shset"), F.count(F.lit(1)).alias("sz"))
    )
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    common = F.size(F.array_intersect(F.col("sa.shset"), F.col("sb.shset")))
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (common / (F.col("sa.sz") + F.col("sb.sz") - common)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


def minhash_lsh_match(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = 3,
    tau: float = 0.8,
    new_sigs: DataFrame | None = None,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental (two-sided) MinHash+LSH near-dup matching:
    ``(new_id, corpus_id, jaccard ≥ tau)`` — each NEW document against
    the already-indexed CORPUS, the ingest-time dedup shape. The
    self-join form (:func:`minhash_lsh_pairs`) would recompare
    corpus×corpus on every batch; here the corpus side's signatures are
    computed once per call (and at production scale are the persisted
    signature layer — see the localCheckpoint note there), band buckets
    equi-join NEW×CORPUS only, and exact Jaccard verifies candidates.
    Same banding math and miss-probability analysis as the self-join
    form; same hashed-shingle verification, so the brute-force SQL
    ground truth is the oracle. Both sides read ``doc_id`` and ``text``.

    ``new_sigs`` / ``corpus_sigs`` (r17, guide §5/§6 — don't recompute
    what an index already persists): optionally supply PREBUILT
    signature tables in :func:`minhash_signatures` shape ``(doc_id,
    sig array<bigint>)`` — e.g. the parquet signature layer a
    production index maintains, or one shared in-run signature pass
    whose slices feed both sides — and that side's signature pass
    (fan_out + Arrow kernel + localCheckpoint) is skipped entirely.
    Supplied signatures MUST be the :func:`minhash_signatures` values
    for the same ``n`` over exactly that side's docs — the
    per-row kernel is deterministic, so any slice of a signature table
    computed over a superset of the docs is bit-identical to
    recomputing (results unchanged by construction; the no-index
    default path is untouched). Verification still reads the raw
    candidate docs — only the signature pass is indexable. A supplied
    signature of the wrong width fails the query (see :func:`_band_keys`).
    """

    def buckets_of(
        docs: DataFrame, out_id: str, sigs: DataFrame | None
    ) -> DataFrame:
        # prebuilt index path (r17): the signature pass is the side's only
        # corpus-scale kernel work — when the caller already holds the
        # signatures (persisted index, or one shared pass sliced two
        # ways), skip it; values are bit-identical by the kernel's
        # row-determinism, so the band keys (and everything downstream)
        # cannot differ
        sig = (
            sigs.select("doc_id", "sig")
            if sigs is not None
            else minhash_signatures(docs, n).localCheckpoint(eager=True)
        )
        return sig.select(
            F.col("doc_id").alias(out_id),
            F.inline(_band_keys(F.col("sig"), _NUM_PERM, _BANDS)),
        )

    b_new = buckets_of(new_docs, "new_id", new_sigs)
    b_cor = buckets_of(corpus_docs, "corpus_id", corpus_sigs)
    cand = (
        b_new.join(b_cor, ["band", "bkey"])
        .select("new_id", "corpus_id")
        .distinct()
    )

    def sets_of(docs: DataFrame, ids: DataFrame, idc: str) -> DataFrame:
        sel = docs.join(
            F.broadcast(ids.distinct()),
            F.col("doc_id") == F.col(idc),
            "left_semi",
        )
        return (
            _hashed_shingles(sel, n)
            .groupBy("doc_id")
            .agg(
                F.collect_set("sh").alias("shset"),
                F.count(F.lit(1)).alias("sz"),
            )
        )

    sa = sets_of(new_docs, cand.select("new_id"), "new_id").alias("sa")
    sb = sets_of(
        corpus_docs, cand.select("corpus_id"), "corpus_id"
    ).alias("sb")
    common = F.size(F.array_intersect(F.col("sa.shset"), F.col("sb.shset")))
    return (
        cand.join(sa, F.col("new_id") == F.col("sa.doc_id"))
        .join(sb, F.col("corpus_id") == F.col("sb.doc_id"))
        .select(
            "new_id",
            "corpus_id",
            (common / (F.col("sa.sz") + F.col("sb.sz") - common)).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= tau)
    )


def _simhash_udf(bits: int):
    """Arrow-batched SimHash kernel — one value per document text.

    Bit-identical to the declarative spelling (explode tokens → group
    counts → ``pmod(md5_int64(w), 2^bits)`` → ``bits`` signed
    count-weighted sums → sign bits): same UTF-8 md5, same 60-bit hex
    prefix reduction, and every step is INTEGER arithmetic, so parity with
    the DuckDB oracle (which replays the same definition in SQL) is exact
    by construction. Replaces a (doc, token) explode-shuffle + 32-column
    conditional-sum aggregate with a map-only numpy bit-matrix per batch —
    the declarative form measured ~2.5 s of the ~2.9 s sf0.1 query.
    """
    import hashlib
    from collections import Counter

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    # the token hash is the first 15 hex chars of md5 = 60 bits (the widest
    # md5 prefix that always fits signed int64 headroom AND matches the
    # oracle's substr(md5, 1, 15) replay); a width above 60 would leave the
    # top bits of every simhash constant zero — an advertised-64-bit hash
    # that discriminates like 60 — so refuse rather than silently weaken
    assert bits <= 60, f"bits={bits} exceeds the 60-bit md5-prefix entropy"
    J = np.arange(bits, dtype=np.int64)

    def sim(text: pd.Series) -> pd.Series:
        # token md5s memoized across the batch (values unchanged — this
        # must stay bit-identical to the oracle; corpus vocabularies are
        # far smaller than token streams, so the cache hits dominate)
        memo: dict[str, int] = {}

        def tok_hash(w: str) -> int:
            v = memo.get(w)
            if v is None:
                v = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % (1 << bits)
                memo[w] = v
            return v

        out = np.empty(len(text), dtype=np.int64)
        for k, t in enumerate(text.to_numpy()):
            cnt = Counter(t.split(" "))
            ws = list(cnt)
            h = np.fromiter((tok_hash(w) for w in ws), dtype=np.int64, count=len(ws))
            c = np.fromiter((cnt[w] for w in ws), dtype=np.int64, count=len(ws))
            s = ((2 * ((h[:, None] >> J[None, :]) & 1) - 1) * c[:, None]).sum(axis=0)
            out[k] = int(((s >= 0) * (np.int64(1) << J)).sum())
        return pd.Series(out)

    sim.__annotations__ = {"text": pd.Series, "return": pd.Series}
    return pandas_udf(sim, "bigint")


def simhash_values(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash of the ``text`` column per document: ``(doc_id,
    simhash)``.

    Token-frequency-weighted: bit j of the hash of each token contributes
    +count / -count to position j; the sign of the sum sets output bit j.
    Computed map-only in an Arrow-batched kernel (:func:`_simhash_udf`);
    the definition (and the DuckDB oracle) is the declarative
    ``floor(h / 2^j) % 2`` bit-sum form, which the kernel reproduces
    bit-for-bit in integer arithmetic.
    """
    return fan_out(docs).select(
        F.col("doc_id"),
        _simhash_udf(bits)(F.col("text")).alias("simhash"),
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs ``(doc_a, doc_b, hamming)``, hamming ≤ max_hamming,
    of the ``doc_id``/``text`` corpus.

    Pigeonhole banding: the ``bits``-wide hash splits into
    ``max_hamming + 1`` blocks; two hashes within hamming distance
    ``max_hamming`` cannot differ in every block, so joining on
    (block index, block value) yields candidates with NO false negatives —
    banded output ≡ brute force, at O(n·blocks) bucket rows instead of
    O(n²). Block count and width DERIVE from the parameters (bits=32,
    max_hamming=3 → the classic 4×8-bit layout); wider hashes band over
    the full width, so ``bits=60`` (the max honest width — the md5-prefix
    token hash carries 60 bits; wider asserts in the kernel) keeps the
    zero-false-negative guarantee rather than silently bucketing on the
    low 32 bits.

    ``max_bucket`` is the hot-bucket cap this operator shares with
    ``minhash_lsh_pairs`` (:func:`_cap_buckets`): drop (block, value)
    groups holding more than that many documents before the self-join.
    Candidate volume is Σ(occupancy²) per bucket, so a MODAL simhash
    class — boilerplate pages whose token multisets coincide, certain
    at corpus scale — otherwise lands m identical hashes in one bucket
    and enumerates m² candidate rows that the hamming filter then keeps
    (they ARE duplicates), which is exactly when the pair LIST stops
    being the right output shape. Unlike minhash (where hot candidates
    fail exact verify and the cap is output-neutral on realistic skew),
    capping here CAN drop true pairs whose only equal block is the hot
    one — the trade a curation pipeline makes deliberately: route modal
    classes to exact dedup (they are exact duplicates of each other),
    keep the near-dup join bounded. Default ``None`` keeps the
    registered query bit-identical to its SQL oracle. SCALE.md's
    modal-class hot-bucket probe records the capped/uncapped asymmetry;
    ``test_simhash_max_bucket_caps_modal_class`` pins it.
    """
    n_blocks = max_hamming + 1
    assert bits % n_blocks == 0, (
        f"bits={bits} must split evenly into max_hamming+1={n_blocks} pigeonhole"
        f" blocks (pad bits or adjust max_hamming)"
    )
    width = bits // n_blocks
    mask = (1 << width) - 1
    # materialize once — map-only kernel output feeds both sides of the
    # block self-join (same rationale as the minhash signature checkpoint)
    sim = simhash_values(docs, bits=bits).localCheckpoint(eager=True)
    blocks = F.array(
        *[
            F.struct(
                F.lit(k).alias("blk"),
                F.shiftright(F.col("simhash"), width * k).bitwiseAND(F.lit(mask)).alias(
                    "val"
                ),
            )
            for k in range(n_blocks)
        ]
    )
    bucketed = sim.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )
    bucketed = _cap_buckets(bucketed, ["blk", "val"], max_bucket)
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        _bucket_pairs(bucketed, ["blk", "val"], "doc_id")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def line_dedup(
    corpus: DataFrame,
    max_doc_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """Line-level exact dedup — the C4/RefinedWeb sub-document primitive:
    drop every line that appears in more than ``max_doc_freq`` DISTINCT
    documents (boilerplate headers, cookie banners, license blocks),
    rebuild each document from its surviving lines in original order.
    Returns ``(doc_id, clean_text, n_kept, n_dropped)`` for every input
    document (a fully-boilerplate document survives with empty
    ``clean_text``).

    ``delimiter`` is a LITERAL string (regex-escaped before the split):
    the default ``"\\n"`` is the C4/RefinedWeb newline-line semantics; a
    newline-free corpus can pass e.g. ``". "`` for sentence-level dedup
    (what the fixture query does, explicitly). Round-trip caveat: the
    split consumes the delimiter, so ``clean_text`` re-inserts it BETWEEN
    surviving lines only — a trailing delimiter (or, for ``". "``, the
    final sentence's period, which the split leaves attached but a
    trailing-delimiter text would not) is not restored. Exact for dedup
    analytics; if ``clean_text`` replaces the corpus body verbatim,
    normalize trailing delimiters first.

    Scale shape: lines explode to (doc_id, pos, md5-hash) — the
    line-frequency table groups by the 16-byte digest (never the line
    text), so its shuffle is O(total lines) narrow rows with map-side
    combine and its cardinality is |distinct lines| (sublinear in corpus
    under duplication). The rebuild joins frequencies back on the digest
    and re-aggregates per doc_id, pinning line order inside the agg
    (``array_sort(collect_list(struct(pos, line)))`` — collect_list alone
    does not honor upstream order).
    """
    import re as _re

    toks = F.split(F.col(text_col), _re.escape(delimiter))
    lines = fan_out(corpus).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos", "line"),
    ).withColumn("lh", F.md5(F.col("line")))
    freq = lines.groupBy("lh").agg(
        F.count_distinct(F.col("doc_id")).alias("ndocs")
    )
    joined = lines.join(freq, "lh")
    kept = F.when(F.col("ndocs") <= max_doc_freq, F.struct("pos", "line"))
    return joined.groupBy("doc_id").agg(
        F.concat_ws(
            delimiter,
            F.transform(F.array_sort(F.collect_list(kept)), lambda s: s.line),
        ).alias("clean_text"),
        F.count(kept).cast("bigint").alias("n_kept"),
        (F.count(F.lit(1)) - F.count(kept)).cast("bigint").alias("n_dropped"),
    )


def passage_dedup(
    corpus: DataFrame,
    k: int = 8,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Duplicated-PASSAGE excision — the ExactSubstr idea ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2021)
    re-expressed relationally: drop every token covered by some k-token
    window whose hash appears in more than ``max_doc_freq`` DISTINCT
    documents, rebuild the survivors in order. Reads ``doc_id`` and
    ``text``. Where :func:`line_dedup`
    needs a delimiter to agree with the boilerplate's framing,
    OVERLAPPING windows catch a duplicated run at ANY alignment — the
    cross-document half of suffix-array substring dedup (within-document
    repeats are bigram_repetition's department).

    Returns ``(doc_id, clean_text, n_kept, n_dropped)`` for every input
    document (fully-duplicated documents survive with empty
    ``clean_text``). Documents shorter than ``k`` tokens carry no window
    and always survive whole.

    Scale shape: the window table is (doc_id, start, 16-byte md5) — n
    windows per n-token document, built row-locally by one HOF pass
    (slice + concat_ws + md5, whole-stage codegen); the frequency
    aggregation groups by digest with map-side combine (cardinality =
    |distinct windows|, sublinear under duplication); dropped positions
    explode only from HOT windows (k small integers per hot window —
    zero rows on a clean corpus); the rebuild is the same
    order-pinned ``array_sort(collect_list(struct(pos, token)))``
    aggregation as line_dedup. Document bodies shuffle once (the token
    explode that feeds the rebuild); everything else moves digests and
    integer positions.
    """
    # token array materialized once — inlining the split() into the
    # per-window slice() re-tokenizes the row per window position (see
    # word_shingles for the same fix + CollapseProject argument)
    base = fan_out(corpus).select(
        F.col("doc_id"),
        F.split(F.col("text"), " ").alias("__toks"),
    )
    toks = F.col("__toks")
    n = F.size(toks)
    win_structs = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.struct(
                i.alias("start"),
                F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))).alias("wh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,wh:string>>"))
    wins = base.select(
        "doc_id", F.explode(win_structs).alias("w")
    ).select("doc_id", F.col("w.start").alias("start"), F.col("w.wh").alias("wh"))
    hot = (
        wins.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") > max_doc_freq)
        .select("wh")
    )
    dropped = (
        wins.join(hot, "wh")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (k - 1))).alias(
                "pos"
            ),
        )
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    tokens = base.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    kept = F.when(F.col("__drop").isNull(), F.struct("pos", "tok"))
    return (
        tokens.join(dropped, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(F.array_sort(F.collect_list(kept)), lambda s: s.tok),
            ).alias("clean_text"),
            F.count(kept).cast("bigint").alias("n_kept"),
            (F.count(F.lit(1)) - F.count(kept)).cast("bigint").alias("n_dropped"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document that shares at
    least one word ``n``-gram with a benchmark/eval set — the overlap
    filter run before training so eval data never leaks into the corpus.
    Both sides read ``doc_id`` and ``text``.

    Scale shape: the benchmark side is tiny relative to the corpus (an eval
    suite, not a second corpus), so its distinct shingle-hash set is
    FORCE-broadcast; the corpus streams once through that broadcast inner
    join to find contaminated doc ids. The final anti-join is NOT forced:
    the contaminated-id set is corpus-derived, and a heavily contaminated
    corpus would make a forced broadcast a driver OOM — AQE picks the
    strategy from the set's actual runtime size: broadcast when small
    (the common case — bodies then never leave their partitions), shuffled
    anti-join keyed on the id when not (correct at any contamination rate,
    where the forced broadcast simply dies).
    """
    bench_sh = (
        _hashed_shingles(benchmark, n).select("sh").distinct()
    )
    corpus_sh = _hashed_shingles(corpus, n)
    contaminated = (
        corpus_sh.join(F.broadcast(bench_sh), "sh").select("doc_id").distinct()
    )
    return corpus.join(
        contaminated,
        corpus["doc_id"] == contaminated["doc_id"],
        "left_anti",
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Per-benchmark-document leak census — the REPORT side of
    :func:`decontaminate`: for every benchmark/eval document, how many
    corpus documents share at least one word ``n``-gram with it and how
    many of its distinct shingles leak (both sides read ``doc_id`` and
    ``text``). A curation run publishes exactly
    this table next to the decontaminated corpus (which benchmarks are
    compromised, and how badly), and a benchmark owner reads it to decide
    whether eval numbers on the ORIGINAL corpus are trustworthy.

    Returns one row per benchmark document:
    ``(bench_doc_id, n_corpus_docs, n_shared_shingles)`` — zero-filled
    for clean benchmark docs, never dropped.

    Scale shape: identical to decontaminate's first stage — the tiny
    benchmark shingle set is FORCE-broadcast and the corpus streams once
    through the broadcast join; the census aggregation then keys on
    (bench_doc_id), a |benchmark|-bounded domain, so the only shuffle
    after the corpus scan carries (bench_doc, corpus_doc, shingle-hash)
    hit triples — leak-volume-sized, not corpus-sized. The final
    zero-fill is a broadcast-sized left join against the benchmark ids.
    """
    bench_sh = (
        _hashed_shingles(benchmark, n)
        .select(F.col("doc_id").alias("bench_doc_id"), "sh")
        .distinct()
    )
    hits = _hashed_shingles(corpus, n).join(
        F.broadcast(bench_sh), "sh"
    )
    per = hits.groupBy("bench_doc_id").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_corpus_docs"),
        F.count_distinct("sh").cast("bigint").alias("n_shared_shingles"),
    )
    return (
        benchmark.select(F.col("doc_id").alias("bench_doc_id"))
        .join(F.broadcast(per), "bench_doc_id", "left")
        .select(
            "bench_doc_id",
            F.coalesce("n_corpus_docs", F.lit(0)).cast("bigint").alias(
                "n_corpus_docs"
            ),
            F.coalesce("n_shared_shingles", F.lit(0)).cast("bigint").alias(
                "n_shared_shingles"
            ),
        )
    )


# Bloom filter size and probe count: the filter's build and every probe
# against it must agree on both.
_BLOOM_BITS = 1 << 20
_BLOOM_K = 4


def _bloom_probe_structs(key, m_bits: int, k: int):
    """array of k (word_idx, mask) probe structs for one key column."""
    out = []
    for s in range(k):
        pos = F.pmod(F.xxhash64(key, F.lit(s)), F.lit(m_bits))
        out.append(
            F.struct(
                (pos / 64).cast("long").alias("word_idx"),
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), pos.cast("int") % 64
                ).alias("mask"),
            )
        )
    return F.array(*out)


def bloom_filter_words(
    keys: DataFrame,
    key_col: str = "sh",
    m_bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Build a Bloom filter over a key column as a table of 64-bit words:
    ``(word_idx, bits)`` — only words with at least one set bit are
    present (≤ ``m_bits``/64 rows, 128 KiB of longs for the 2²⁰-bit
    default). Spark's ``bloom_filter_agg`` is not exposed to SQL/Python,
    so the same construction is composed from primitives: per key, ``k``
    seeded xxhash64 positions; explode to (word, bit-mask); BIT_OR per
    word — one map-side-combinable aggregation, fully JVM-side.
    """
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    return (
        keys.select(
            F.explode(_bloom_probe_structs(F.col(key_col), m_bits, k)).alias("m")
        )
        .groupBy(F.col("m.word_idx").alias("word_idx"))
        .agg(F.bit_or(F.col("m.mask")).alias("bits"))
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom pre-filter — bit-identical
    output (the Bloom admits false POSITIVES only; an exact verify pass
    removes them, and a genuinely shared shingle can never be missed),
    so the two share one oracle.

    Why at 100 TB: plain decontaminate broadcasts the benchmark's full
    distinct shingle-hash set to every corpus task — tens of MB for a
    real eval suite. Here the corpus-wide scan tests against a 128 KiB
    bitset instead (broadcast hash join on the word index — no driver
    collect anywhere), and only the surviving CANDIDATE docs, typically
    a sliver of the corpus, re-shingle through the exact broadcast
    join. Same pattern as parquet row-group bloom pruning: spend a tiny
    lossy structure corpus-wide to keep the exact structure off the hot
    path.

    False-positive posture: m = ``_BLOOM_BITS`` = 2²⁰ bits, k =
    ``_BLOOM_K`` = 4 →
    p ≈ (1-e^(-kn/m))^k ≈ 2.4e-3 per probed shingle at n=100k benchmark
    shingles, so candidate spill stays proportional to corpus shingle
    count × p — and every false candidate dies in the exact verify.
    """
    bench_sh = (
        _hashed_shingles(benchmark, n).select("sh").distinct()
        # consumed twice (bloom build + exact verify) — materialize once
        .localCheckpoint(eager=True)
    )
    bloom = bloom_filter_words(bench_sh)

    corpus_sh = _hashed_shingles(corpus, n)
    probes = corpus_sh.select(
        "doc_id",
        "sh",
        F.explode(_bloom_probe_structs(F.col("sh"), _BLOOM_BITS, _BLOOM_K)).alias("p"),
    )
    # a shingle MIGHT be in the benchmark iff all k probed bits are set;
    # inner join drops probes whose word is absent (all-zero word = bit
    # unset), so surviving count == k is the membership test
    might = (
        probes.join(F.broadcast(bloom), probes["p.word_idx"] == bloom.word_idx)
        .filter(F.col("p.mask").bitwiseAND(F.col("bits")) != 0)
        .groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).alias("nbits"))
        .filter(F.col("nbits") == _BLOOM_K)
        .select("doc_id")
        .distinct()
    )
    # exact verify: only candidate docs re-shingle against the true set
    cand_docs = corpus.join(might, "doc_id", "left_semi")
    contaminated = (
        _hashed_shingles(cand_docs, n)
        .join(F.broadcast(bench_sh), "sh")
        .select("doc_id")
        .distinct()
    )
    return corpus.join(
        contaminated,
        corpus["doc_id"] == contaminated["doc_id"],
        "left_anti",
    )

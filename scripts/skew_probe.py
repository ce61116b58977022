#!/usr/bin/env python3
"""Adversarial-SKEW probe for the dedup tier — the complement of
scripts/scale_probe.py (whose 8× duplication is heavy but key-UNIFORM).

Shape probed here: a template-heavy corpus — 50% of documents share a
~216-word boilerplate prefix (the web-crawl "same page chrome, different
payload" profile). Calibration: with per-doc bodies of ~54 words, a hot
pair's jaccard is ≈ t/(t+2·54) ≈ 0.67 — BELOW τ=0.8, so none of these
pairs belongs in the output — while the probability that a minhash
permutation's minimum falls inside the template is ≈ t/(t+54) ≈ 0.8,
so a pair of hot docs shares a band bucket w.p. ≈ (0.8⁴)² ≈ 0.17 per
band and ≈ 1-(1-0.17)³² ≈ 1.0 across 32 bands: essentially ALL
C(2500,2) ≈ 3.1M hot pairs become candidates that exact verification
must then discard. That is the hot-bucket O(hot²) failure mode the
``max_bucket`` cap exists for.

Measures, on sf0.1 (5,000 docs):
1. bucket census: largest (band, bucket) group and the implied
   uncapped candidate volume  sum C(size, 2);
2. minhash_lsh_pairs UNCAPPED vs CAPPED (max_bucket=200) wall time and
   output rows on the skewed corpus — the outputs must be IDENTICAL
   (every hot candidate fails verify; the cap just skips enumerating
   them) — plus the clean-corpus baseline time;
3. the ngram_jaccard analog: implied inverted-index join rows
   sum C(df, 2) with and without the max_df=100 stop-shingle cap
   (the uncapped join is ~670M rows — computed, not executed).

Usage: PYTHONPATH=. python scripts/skew_probe.py  → one JSON line.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from kafka_streams_common_spark.operators.dedup import (
    _band_keys,
    _hashed_shingles,
    minhash_lsh_pairs,
    minhash_signatures,
)
from kafka_streams_common_spark.queries.registry import table
from kafka_streams_common_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"

# deterministic ~216-word template from the fixture's own vocabulary
_WORDS = (
    "batch part spark line column order small sort value scan hash slow "
    "group fast agg filter query big key window row table stream merge data"
).split()
TEMPLATE = " ".join(_WORDS[i % len(_WORDS)] + "tpl" for i in range(216))


def skewed_docs(spark):
    docs = table(spark, SF_DIR, "documents")
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(TEMPLATE + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )


def timed(fn):
    t0 = time.perf_counter()
    rows = fn().count()
    return round(time.perf_counter() - t0, 2), rows


PASSAGE = " ".join(f"ptok{i}" for i in range(50))


def passage_probe() -> None:
    """Adversarial-coverage probe for passage_dedup: one 50-token
    boilerplate passage planted into 50% of sf0.1 documents (the
    "every page carries the same legal footer" profile).

    Unlike LSH banding, passage_dedup has NO O(hot²) pair enumeration to
    cap: the hot-window join is digest-keyed — each window OCCURRENCE
    matches at most one hot digest row — so the worst-case extra work is
    linear in hot coverage (|hot docs| × |passage windows| occurrences,
    ×k after the position explode), which is exactly the volume the
    operator must drop anyway. This probe measures that claim: wall time
    clean vs planted (expect a modest constant factor, not a blowup) and
    the exact per-doc excision (hot docs lose exactly the 50 planted
    tokens; boundary windows spanning into distinct bodies are unique
    per doc and never go hot).
    """
    from kafka_streams_common_spark.operators.dedup import passage_dedup

    spark = get_spark("passage-skew-probe")
    clean = table(spark, SF_DIR, "documents").localCheckpoint(eager=True)
    planted = clean.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(PASSAGE + " "), F.col("text")),
        ).otherwise(F.col("text")),
    ).localCheckpoint(eager=True)

    t_clean, rows_clean = timed(lambda: passage_dedup(clean, k=8))
    t_planted, rows_planted = timed(lambda: passage_dedup(planted, k=8))

    out = passage_dedup(planted, k=8)
    hot = out.filter(F.col("doc_id") % 2 == 0)
    excision = hot.agg(
        F.min("n_dropped").alias("min_drop"),
        F.max("n_dropped").alias("max_drop"),
        F.count(F.lit(1)).alias("n_hot"),
    ).collect()[0]
    leaked = hot.filter(F.col("clean_text").contains("ptok")).count()

    print(
        json.dumps(
            {
                "passage_clean_sec": t_clean,
                "passage_planted_sec": t_planted,
                "planted_over_clean_ratio": round(t_planted / t_clean, 2),
                "rows_clean": rows_clean,
                "rows_planted": rows_planted,
                "n_hot_docs": excision["n_hot"],
                "hot_min_n_dropped": excision["min_drop"],
                "hot_max_n_dropped": excision["max_drop"],
                "hot_docs_with_leaked_passage_tokens": leaked,
            }
        )
    )
    spark.stop()


def modal_probe() -> None:
    """Adversarial MODAL-CLASS probe for the pigeonhole band joins —
    ``simhash_pairs`` and ``ahash_near_dup_pairs`` (the two operators
    the r11 verdict named as cap-less).

    Shape probed: 10% of sf0.1 documents carry IDENTICAL content (the
    boilerplate-page / constant-thumbnail profile — certain at corpus
    scale). Every modal doc lands in the SAME bucket of every band, so
    uncapped candidate volume includes C(m,2) modal pairs per band —
    m=500 at sf0.1 → 124,750 pairs that also PASS verification (they
    are true duplicates of each other), i.e. the blowup is in both the
    join AND the output. ``max_bucket=200`` prunes the modal buckets
    (routing that class to exact dedup, where it belongs) while every
    cold-bucket pair survives — asserted, not assumed.

    Usage: PYTHONPATH=. python scripts/skew_probe.py --modal
    """
    from kafka_streams_common_spark.operators.dedup import simhash_pairs
    from kafka_streams_common_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        audio_near_dup_pairs,
        encode_pgm,
        encode_wav,
        encode_y4m,
        video_near_dup_pairs,
    )

    spark = get_spark("modal-skew-probe")
    docs = table(spark, SF_DIR, "documents")
    modal_text = "the same boilerplate page text repeated across the crawl"
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0, F.lit(modal_text)).otherwise(
            F.col("text")
        ),
    ).localCheckpoint(eager=True)
    m = planted.filter(F.col("doc_id") % 10 == 0).count()

    out: dict = {"modal_docs": m, "modal_pairs": m * (m - 1) // 2}

    for name, fn in (
        (
            # default 32-bit hash: 8-bit blocks = only 256 buckets/band,
            # so ambient occupancy is high (~n/256) and the cap prunes
            # ambient-hot buckets BESIDES the modal one — recorded
            # honestly; the production posture at corpus scale is the
            # 60-bit leg below (15-bit blocks, 32k buckets/band)
            "simhash32",
            lambda kw: simhash_pairs(planted, max_hamming=3, **kw),
        ),
        (
            "simhash60",
            lambda kw: simhash_pairs(planted, max_hamming=3, bits=60, **kw),
        ),
        (
            "ahash",
            lambda kw: ahash_near_dup_pairs(encode_pgm(planted), **kw),
        ),
        (
            "audio",
            lambda kw: audio_near_dup_pairs(encode_wav(planted), **kw),
        ),
        (
            "video",
            lambda kw: video_near_dup_pairs(encode_y4m(planted), **kw),
        ),
    ):
        t_unc, rows_unc = timed(lambda: fn({}))
        t_cap, rows_cap = timed(lambda: fn({"max_bucket": 200}))
        cols = fn({}).columns[:2]
        a_col, b_col = cols
        capped_df = fn({"max_bucket": 200})
        # every capped pair must also be an uncapped pair (cap only prunes)
        extra = (
            capped_df.select(a_col, b_col)
            .exceptAll(fn({}).select(a_col, b_col))
            .count()
        )
        # cold pairs (neither side modal) survive the cap exactly
        cold_pred = (F.col(a_col) % 10 != 0) & (F.col(b_col) % 10 != 0)
        cold_unc = fn({}).filter(cold_pred).count()
        cold_cap = capped_df.filter(cold_pred).count()
        out.update(
            {
                f"{name}_uncapped_sec": t_unc,
                f"{name}_capped_sec": t_cap,
                f"{name}_rows_uncapped": rows_unc,
                f"{name}_rows_capped": rows_cap,
                f"{name}_capped_minus_uncapped_pairs": extra,
                f"{name}_cold_pairs_uncapped": cold_unc,
                f"{name}_cold_pairs_capped": cold_cap,
            }
        )

    print(json.dumps(out))
    spark.stop()


def main() -> None:
    spark = get_spark("skew-probe")
    clean = table(spark, SF_DIR, "documents")
    skew = skewed_docs(spark).localCheckpoint(eager=True)

    # --- 1. bucket census on the skewed corpus ---------------------------
    sig = minhash_signatures(skew, 3, 128).localCheckpoint(eager=True)
    buckets = sig.select(F.inline(_band_keys(F.col("sig"), 128, 32)))
    census = (
        buckets.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.max("sz").alias("max_bucket"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("bigint")
            .alias("implied_candidates"),
            F.sum(
                F.when(
                    F.col("sz") <= 200, F.col("sz") * (F.col("sz") - 1) / 2
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("implied_candidates_capped"),
        )
        .collect()[0]
    )

    # --- 2. capped vs uncapped minhash on the skewed corpus --------------
    t_clean, rows_clean = timed(lambda: minhash_lsh_pairs(clean))
    t_capped, rows_capped = timed(
        lambda: minhash_lsh_pairs(skew, max_bucket=200)
    )
    t_uncapped, rows_uncapped = timed(lambda: minhash_lsh_pairs(skew))
    # identical outputs: every hot candidate fails exact verification
    diff = (
        minhash_lsh_pairs(skew, max_bucket=200)
        .select("doc_a", "doc_b")
        .exceptAll(minhash_lsh_pairs(skew).select("doc_a", "doc_b"))
        .count()
        + minhash_lsh_pairs(skew)
        .select("doc_a", "doc_b")
        .exceptAll(
            minhash_lsh_pairs(skew, max_bucket=200).select("doc_a", "doc_b")
        )
        .count()
    )

    # --- 3. ngram inverted-index skew: implied join rows -----------------
    df_census = (
        _hashed_shingles(skew, 3, "text", "doc_id")
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.max("df").alias("max_df_seen"),
            F.sum(F.col("df") * (F.col("df") - 1) / 2)
            .cast("bigint")
            .alias("implied_join_rows"),
            F.sum(
                F.when(
                    F.col("df") <= 100, F.col("df") * (F.col("df") - 1) / 2
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("implied_join_rows_max_df_100"),
        )
        .collect()[0]
    )

    print(
        json.dumps(
            {
                "hot_docs": skew.filter(F.col("doc_id") % 2 == 0).count(),
                "max_bucket_size": census["max_bucket"],
                "lsh_implied_candidates_uncapped": census["implied_candidates"],
                "lsh_implied_candidates_capped": census[
                    "implied_candidates_capped"
                ],
                "minhash_clean_sec": t_clean,
                "minhash_skew_capped_sec": t_capped,
                "minhash_skew_uncapped_sec": t_uncapped,
                "rows_clean": rows_clean,
                "rows_capped": rows_capped,
                "rows_uncapped": rows_uncapped,
                "capped_vs_uncapped_output_diff": diff,
                "ngram_max_df_seen": df_census["max_df_seen"],
                "ngram_implied_join_rows_uncapped": df_census[
                    "implied_join_rows"
                ],
                "ngram_implied_join_rows_max_df_100": df_census[
                    "implied_join_rows_max_df_100"
                ],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    import sys

    if "--passage" in sys.argv:
        passage_probe()
    elif "--modal" in sys.argv:
        modal_probe()
    else:
        main()

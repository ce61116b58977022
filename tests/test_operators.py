"""Extension-operator behavior tests (beyond oracle parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_common_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from kafka_streams_common_spark.operators.multimodal import (
    attach_fake_image_payload,
    extract_byte_histogram_features,
)
from kafka_streams_common_spark.operators.similarity import (
    brute_force_cosine_topk,
    cell_diverse_sample,
    ivf_cosine_topk,
    ivf_int8_rerank_topk,
    ivf_pq_topk,
    knn_graph,
)
from kafka_streams_common_spark.queries.registry import table
from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture(scope="module")
def docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different content about spark query engines at scale"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_counts(docs_df):
    out = {r["doc_id"]: r["n_copies"] for r in exact_dedup(docs_df).collect()}
    assert out[0] == 2  # doc 0 and 1 collapse, canonical min id survives
    assert 1 not in out
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_finds_near_dup(docs_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs_df, n=3, tau=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_near_dup(docs_df):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_lsh_pairs(docs_df, n=3, tau=0.5).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_jaccard_max_df_prunes_hot_shingles(spark):
    """The max_df skew cap drops stop-shingles: a shingle shared by every
    document would generate O(df²) join rows; with the cap those
    spurious low-similarity pairs vanish while true dups survive."""
    hot = "common stop phrase"  # one 3-gram shared by all filler docs
    rows = [(i, f"{hot} unique{i} token{i} filler{i}") for i in range(10)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta epsilon")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, tau=0.01).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, tau=0.01, max_df=5).collect()
    }
    assert (100, 101) in capped  # true dup pair survives the cap
    assert len(uncapped) == 45 + 1  # all C(10,2) hot-shingle pairs + the dup
    assert capped == {(100, 101)}  # hot-shingle pairs pruned


def test_simhash_exact_dup_distance_zero(docs_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             simhash_pairs(docs_df, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0


def test_simhash_max_bucket_caps_modal_class(spark):
    """The hot-bucket cap: a modal simhash class (m identical token
    multisets — the boilerplate-page profile) lands m docs in every one
    of its 4 block buckets, enumerating C(m,2) candidates. With
    ``max_bucket`` below m the modal pairs vanish (routed to exact
    dedup in a real pipeline) while near-dup pairs in cold buckets
    survive untouched."""
    modal = [(i, "the same boilerplate page text") for i in range(12)]
    # near-dup pair in a cold bucket: one repeated rare token differs
    cold = [
        (100, "alpha beta gamma delta epsilon zeta " + "eta " * 2),
        (101, "alpha beta gamma delta epsilon zeta " + "eta " * 3),
    ]
    docs = spark.createDataFrame(modal + cold, ["doc_id", "text"])
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(docs, max_hamming=3, max_bucket=8).collect()
    }
    assert {(a, b) for a in range(12) for b in range(a + 1, 12)} <= uncapped
    assert (100, 101) in uncapped
    assert (100, 101) in capped  # cold-bucket pair survives the cap
    assert not any(a < 12 and b < 12 for a, b in capped)  # modal class pruned


def test_simhash_bits60_banding_matches_bruteforce(spark):
    """The pigeonhole band layout derives from ``bits``: at bits=60 (the
    widest width the 60-bit md5-prefix token hash can honestly fill —
    wider now asserts, see _simhash_udf) the banded pair set must equal
    brute-force 60-bit hamming (zero false negatives at hamming ≤ 3),
    not silently band on the low 32 bits."""
    from kafka_streams_common_spark.operators.dedup import simhash_values

    docs = table(spark, SF_SMOKE, "documents")
    vals = {r["doc_id"]: r["simhash"] for r in simhash_values(docs, bits=60).collect()}
    ids = sorted(vals)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(vals[a] ^ vals[b]).count("1")
            if h <= 3:
                expect.add((a, b, h))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=3, bits=60).collect()
    }
    assert expect, "fixture must contain 60-bit near-dups for this test to bite"
    assert got == expect


def test_ivf_recall_vs_brute_force(spark):
    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = brute_force_cosine_topk(emb, queries, k=10)
    approx = ivf_cosine_topk(emb, queries, k=10, n_centroids=16, n_probe=4)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4/16 cells probed; random-ish embeddings are a worst case — the
    # operator contract is "meaningful recall at a fraction of the work"
    assert recall >= 0.3, f"IVF recall {recall:.2f} suspiciously low"
    assert len(a) == len(e)  # still returns k per query

    # Lloyd refinement re-balances the first-K-ids seeding; on the
    # clustered fixture it must not hurt, and typically lifts recall
    refined = ivf_cosine_topk(
        emb, queries, k=10, n_centroids=16, n_probe=4, kmeans_iters=2
    )
    r = {(row["q_id"], row["vec_id"]) for row in refined.collect()}
    recall_refined = len(e & r) / len(e)
    assert recall_refined >= recall - 0.05, (
        f"k-means refinement degraded recall: {recall_refined:.2f} < {recall:.2f}"
    )


def test_trained_ivf_recall_sf01(spark):
    """k-means++-trained centroids (train_ivf_centroids) pinned at recall
    ≥ 0.8 vs the brute-force baseline at sf0.1. The fixture embeddings are
    near-uniform random (within-label mean cosine ≈ 0.07 — no cluster
    structure), the worst case for ANY inverted-file partition, so the
    pinned operating point is 64 cells × 24 probes (~38% of the corpus
    scored ≈ 2.7× less than brute force). On clustered data the same
    trainer reaches higher recall at an 8× smaller probe fraction — see
    test_trained_ivf_clustered_low_probe_recall."""
    from kafka_streams_common_spark.operators.similarity import train_ivf_centroids

    emb = table(spark, "/root/testdata/sf0.1", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_cosine_topk(emb, queries, k=10).collect()
    }
    cent = train_ivf_centroids(emb, n_centroids=64)
    approx = {
        (r["q_id"], r["vec_id"])
        for r in ivf_cosine_topk(emb, queries, k=10, n_probe=24, centroids=cent).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"trained IVF recall {recall:.3f} < 0.8"


def test_trained_ivf_clustered_low_probe_recall(spark):
    """The regime real embedding corpora live in: clustered data. Planted
    20-cluster corpus → trained centroids recover the structure and 32
    cells × 4 probes (12.5% of the corpus scored) reaches recall ≥ 0.9 —
    the scale story for IVF is this probe-fraction cut, and it requires
    TRAINED centroids (the deterministic low-id seeding used by the
    hash-gated driver query is the replayable-but-weaker fallback)."""
    import numpy as np

    from kafka_streams_common_spark.operators.similarity import train_ivf_centroids

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(2000):
        v = centers[i % 20] + 0.15 * rng.normal(size=32)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_cosine_topk(emb, queries, k=10).collect()
    }
    cent = train_ivf_centroids(emb, n_centroids=32)
    approx = {
        (r["q_id"], r["vec_id"])
        for r in ivf_cosine_topk(emb, queries, k=10, n_probe=4, centroids=cent).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"clustered trained-IVF recall {recall:.3f} < 0.9"


def test_multimodal_plumbing(spark):
    docs = table(spark, SF_SMOKE, "documents")
    mm = attach_fake_image_payload(docs)
    feats = extract_byte_histogram_features(mm)
    row = feats.filter(F.col("doc_id") == 0).collect()[0]
    assert len(row["features"]) == 16
    assert abs(sum(row["features"]) - 1.0) < 1e-9  # normalized histogram
    assert 1 <= row["width"] <= 512 and 1 <= row["height"] <= 512
    assert feats.count() == docs.count()


def test_multimodal_payload_roundtrip(spark):
    docs = table(spark, SF_SMOKE, "documents")
    mm = attach_fake_image_payload(docs)
    back = mm.select("doc_id", F.decode("payload", "utf-8").alias("text2"))
    joined = back.join(docs, "doc_id").filter(F.col("text2") != F.col("text"))
    assert joined.count() == 0


def test_png_mixed_lake_decode_dispatches_and_recovers_content(spark):
    """Mixed PGM+PNG lake through ONE decode stage: magic-byte dispatch
    per row, PNG legs inflated + unfiltered (real DEFLATE, filters
    cycling by doc_id), and every recovered stat equal to the shared
    md5 arithmetic both encoders derive from."""
    import hashlib

    from kafka_streams_common_spark.operators.multimodal import (
        decode_image_features,
        encode_pgm,
        encode_png,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(40)
    mixed = encode_pgm(docs.filter(F.col("doc_id") % 2 == 0)).unionAll(
        encode_png(docs.filter(F.col("doc_id") % 2 == 1), level=9)
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r for r in decode_image_features(mixed).collect()}
    assert set(got) == set(texts)
    for did, text in texts.items():
        hx = hashlib.md5(text.encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        px = list((bytes.fromhex(hx) * ((w * h + 15) // 16))[: w * h])
        r = got[did]
        assert r["format"] == ("pgm" if did % 2 == 0 else "png"), did
        assert (r["width"], r["height"], r["n_px"]) == (w, h, w * h), did
        assert (r["min_px"], r["max_px"]) == (min(px), max(px)), did
        assert abs(r["mean_px"] - sum(px) / len(px)) < 1e-12, did


def test_pgm_encode_is_a_real_pgm_and_decode_recovers_content(spark):
    """The JVM-side encoder must emit byte-exact P5 files a pure-Python
    Netpbm reference reader opens, and the Spark decode stage must
    recover dims + pixel stats identical to that reference."""
    import hashlib

    from kafka_streams_common_spark.operators.multimodal import (
        decode_pgm_features,
        encode_pgm,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(50)
    imgs = encode_pgm(docs)
    rows = {r["doc_id"]: bytes(r["payload"]) for r in imgs.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    # reference decode per the published Netpbm spec, no repo code
    for did, payload in rows.items():
        hx = hashlib.md5(texts[did].encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(texts[did][::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        header = f"P5\n{w} {h}\n255\n".encode()
        digest = bytes.fromhex(hx)
        raster = (digest * ((w * h) // 16 + 1))[: w * h]
        assert payload == header + raster, did
    got = {
        r["doc_id"]: r
        for r in decode_pgm_features(imgs).collect()
    }
    for did, payload in rows.items():
        hx = hashlib.md5(texts[did].encode()).hexdigest()
        digest = bytes.fromhex(hx)
        w, h = got[did]["width"], got[did]["height"]
        px = [(digest * ((w * h) // 16 + 1))[i] for i in range(w * h)]
        r = got[did]
        assert r["channels"] == 1
        assert r["n_px"] == w * h == len(px)
        assert r["min_px"] == min(px) and r["max_px"] == max(px)
        assert abs(r["mean_px"] - sum(px) / len(px)) < 1e-12
        assert len(r["hist"]) == 16 and abs(sum(r["hist"]) - 1.0) < 1e-9


def test_ahash_near_dup_detects_perturbed_image(spark):
    """Controlled perceptual-hash check on hand-built PGM payloads:
    image B differs from A in exactly one SAMPLED pixel (hamming 1 —
    must pair, found via the 3 unchanged bands); image C is A inverted
    (hamming 64 — no band collision, no pair)."""
    from kafka_streams_common_spark.operators.multimodal import (
        _ahash_bands,
        ahash_near_dup_pairs,
    )

    w = h = 16

    def pgm(pixels: bytes) -> bytes:
        return f"P5\n{w} {h}\n255\n".encode() + pixels

    # left half 0, right half 255 — every 8x8 sample far from the mean
    a_px = bytes((0 if c < 8 else 255) for _ in range(h) for c in range(16))
    # flip sampled pixel (row 0, col 0): sample grid hits (2r, 2c), so
    # raster index 0 is sampled as bit 0
    b_px = bytes([255]) + a_px[1:]
    c_px = bytes(255 - v for v in a_px)

    assert _ahash_bands(pgm(a_px)) != _ahash_bands(pgm(b_px))
    df = spark.createDataFrame(
        [(1, bytearray(pgm(a_px))), (2, bytearray(pgm(b_px))), (3, bytearray(pgm(c_px)))],
        "doc_id long, payload binary",
    )
    pairs = {
        (r["a_doc"], r["b_doc"]): r["hamming"]
        for r in ahash_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert pairs == {(1, 2): 1}

    with pytest.raises(ValueError, match="hamming"):
        ahash_near_dup_pairs(df, max_hamming=9)

    # hot-bucket cap: a modal image class (constant-color thumbnails —
    # identical payloads, identical bands) floods its buckets with m
    # docs; max_bucket below m prunes the m² modal pairs while the
    # cold-bucket near-dup pair (1, 2) survives
    flat = pgm(bytes([7]) * (w * h))
    modal = [(100 + i, bytearray(flat)) for i in range(10)]
    df2 = spark.createDataFrame(
        [(1, bytearray(pgm(a_px))), (2, bytearray(pgm(b_px)))] + modal,
        "doc_id long, payload binary",
    )
    uncapped = {
        (r["a_doc"], r["b_doc"])
        for r in ahash_near_dup_pairs(df2, max_hamming=3).collect()
    }
    capped = {
        (r["a_doc"], r["b_doc"])
        for r in ahash_near_dup_pairs(df2, max_hamming=3, max_bucket=6).collect()
    }
    assert {(a, b) for a in range(100, 110) for b in range(a + 1, 110)} <= uncapped
    assert (1, 2) in capped
    assert not any(a >= 100 for a, b in capped)


def test_audio_near_dup_envelope_hash(spark):
    """Controlled temporal-envelope check on hand-built WAV clips:
    B = A with one SAMPLED point nudged across the mean (hamming 1 —
    must pair via the 3 unchanged bands); C = A inverted (every bit
    flips — no pair). Then the modal-class cap: m identical
    silence-like clips flood their buckets; max_bucket below m prunes
    the m² modal pairs while (A, B) survives."""
    import struct

    from kafka_streams_common_spark.operators.multimodal import (
        _audio_envelope_bands,
        audio_near_dup_pairs,
    )

    def wav(samples: bytes) -> bytes:
        n = len(samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + n + n % 2) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", n) + samples + b"\x00" * (n % 2)
        )

    # 128 samples: first half 0, second half 255 -> every envelope
    # point far from the mean; envelope point j samples index 2j
    a_s = bytes([0] * 64 + [255] * 64)
    b_s = bytes([255]) + a_s[1:]  # flips envelope point 0 only
    c_s = bytes(255 - v for v in a_s)
    assert _audio_envelope_bands(wav(a_s)) != _audio_envelope_bands(wav(b_s))
    df = spark.createDataFrame(
        [(1, bytearray(wav(a_s))), (2, bytearray(wav(b_s))), (3, bytearray(wav(c_s)))],
        "doc_id long, payload binary",
    )
    pairs = {
        (r["a_doc"], r["b_doc"]): r["hamming"]
        for r in audio_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert pairs == {(1, 2): 1}

    flat = wav(bytes([7]) * 100)  # constant tone: the audio modal class
    modal = [(100 + i, bytearray(flat)) for i in range(10)]
    df2 = spark.createDataFrame(
        [(1, bytearray(wav(a_s))), (2, bytearray(wav(b_s)))] + modal,
        "doc_id long, payload binary",
    )
    capped = {
        (r["a_doc"], r["b_doc"])
        for r in audio_near_dup_pairs(df2, max_hamming=3, max_bucket=6).collect()
    }
    uncapped = {
        (r["a_doc"], r["b_doc"])
        for r in audio_near_dup_pairs(df2, max_hamming=3).collect()
    }
    assert {(a, b) for a in range(100, 110) for b in range(a + 1, 110)} <= uncapped
    assert (1, 2) in capped
    assert not any(a >= 100 for a, b in capped)


def test_video_near_dup_envelope_hash_and_frame_order(spark):
    """Controlled spatio-temporal envelope check on hand-built Y4M
    clips: B = A with one SAMPLED luma nudged across the mean (hamming
    1 — pairs via the 3 unchanged bands); C = A inverted (no pair);
    D = A with the FRAMES SWAPPED — the stream order must drive the
    bits, so D's signature is A's inversion (no pair). Then the modal
    cap: m identical still clips flood their buckets; max_bucket below
    m prunes the m² modal pairs while (A, B) survives."""
    from kafka_streams_common_spark.operators.multimodal import (
        _video_envelope_bands,
        video_near_dup_pairs,
    )

    def y4m(*frames: bytes, w: int = 8, h: int = 8) -> bytes:
        head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode()
        return head + b"".join(b"FRAME\n" + f for f in frames)

    f0, f1 = bytes([0] * 64), bytes([255] * 64)
    a = y4m(f0, f1)  # 128-value stream: envelope point j samples 2j
    b = y4m(bytes([255]) + f0[1:], f1)  # flips envelope point 0 only
    c = y4m(f1, f0)  # frames swapped == stream inverted
    assert _video_envelope_bands(a) != _video_envelope_bands(b)
    assert _video_envelope_bands(c) == [
        v ^ 0xFFFF for v in _video_envelope_bands(a)
    ]
    df = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(b)), (3, bytearray(c))],
        "doc_id long, payload binary",
    )
    pairs = {
        (r["a_doc"], r["b_doc"]): r["hamming"]
        for r in video_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert pairs == {(1, 2): 1}

    still = y4m(bytes([7]) * 64, bytes([7]) * 64)  # video's modal class
    modal = [(100 + i, bytearray(still)) for i in range(10)]
    df2 = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(b))] + modal,
        "doc_id long, payload binary",
    )
    capped = {
        (r["a_doc"], r["b_doc"])
        for r in video_near_dup_pairs(df2, max_hamming=3, max_bucket=6).collect()
    }
    uncapped = {
        (r["a_doc"], r["b_doc"])
        for r in video_near_dup_pairs(df2, max_hamming=3).collect()
    }
    assert {(x, y) for x in range(100, 110) for y in range(x + 1, 110)} <= uncapped
    assert (1, 2) in capped
    assert not any(x >= 100 for x, y in capped)


def test_wav_encode_is_a_real_wav_and_decode_recovers_content(spark):
    """The JVM-side encoder must emit byte-exact RIFF/WAVE files that
    Python's stdlib ``wave`` module opens, and the Spark decode stage
    must recover clip stats identical to a pure-Python reference."""
    import hashlib
    import io
    import math
    import wave

    from kafka_streams_common_spark.operators.multimodal import (
        decode_wav_features,
        encode_wav,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(40)
    clips = encode_wav(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in clips.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, payload in payloads.items():
        hx = hashlib.md5(texts[did].encode()).hexdigest()
        n = int(hx[:15], 16) % 241 + 16
        ref_samples = (bytes.fromhex(hx) * 17)[:n]
        wf = wave.open(io.BytesIO(payload))  # the interchange check
        assert (
            wf.getnchannels(),
            wf.getframerate(),
            wf.getsampwidth(),
            wf.getnframes(),
        ) == (1, 8000, 1, n), did
        assert wf.readframes(n) == ref_samples, did
        # RIFF word alignment: odd data chunks carry a zero pad byte,
        # the data chunk size stays the unpadded n, and the RIFF form
        # size counts the pad
        assert len(payload) == 44 + n + n % 2, did
        if n % 2:
            assert payload[-1] == 0, did
        assert int.from_bytes(payload[4:8], "little") == 36 + n + n % 2, did
        assert int.from_bytes(payload[40:44], "little") == n, did
    got = {r["doc_id"]: r for r in decode_wav_features(clips).collect()}
    for did, payload in payloads.items():
        hx = hashlib.md5(texts[did].encode()).hexdigest()
        n = int(hx[:15], 16) % 241 + 16
        s = list((bytes.fromhex(hx) * 17)[:n])
        r = got[did]
        assert r["n_samples"] == n and r["sample_rate"] == 8000
        assert r["duration_ms"] == n * 1000.0 / 8000
        assert abs(r["mean_amp"] - sum(s) / n) < 1e-12
        assert abs(r["rms"] - math.sqrt(sum(v * v for v in s) / n)) < 1e-9
        assert r["peak"] == max(s)
        want_zc = sum(
            1 for i in range(n - 1) if (s[i] - 128.0) * (s[i + 1] - 128.0) < 0
        )
        assert r["zero_crossings"] == want_zc


def test_wav_parser_16bit_padding_and_errors():
    """The raw RIFF walker handles 16-bit signed PCM, odd-size chunk
    padding, and rejects malformed containers."""
    import struct

    import pytest as _pytest

    from kafka_streams_common_spark.operators.multimodal import _parse_wav

    def wav16(samples, extra_chunk=b""):
        data = b"".join(struct.pack("<h", v) for v in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        body = (
            extra_chunk
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    # odd-sized unknown chunk first: the walker must skip its pad byte
    odd = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    channels, rate, bits, s = _parse_wav(wav16([-5, 0, 7, -32768], extra_chunk=odd))
    assert (channels, rate, bits) == (1, 16000, 16)
    assert s[:, 0].tolist() == [-5, 0, 7, -32768]

    with _pytest.raises(ValueError, match="RIFF"):
        _parse_wav(b"RIFX" + b"\x00" * 20)
    with _pytest.raises(ValueError, match="truncated"):
        _parse_wav(wav16([1, 2, 3])[:-2])
    # format 2 (ADPCM) is not implemented; format 7 with 16-bit fmt
    # claims is malformed (μ-law codes are 8-bit on the wire)
    bad_fmt = wav16([1]).replace(struct.pack("<HH", 1, 1), struct.pack("<HH", 2, 1), 1)
    with _pytest.raises(ValueError, match="audio format"):
        _parse_wav(bad_fmt)
    mulaw16 = wav16([1]).replace(struct.pack("<HH", 1, 1), struct.pack("<HH", 7, 1), 1)
    with _pytest.raises(ValueError, match="8-bit"):
        _parse_wav(mulaw16)


def test_mulaw_expansion_matches_published_g711_values():
    """``_mulaw_expand`` reproduces the published G.711 decode table:
    the extremes (code 0x00 -> -32124, 0x80 -> +32124), both zeros
    (0xFF and the 'negative zero' 0x7F), and the segment structure
    (each exponent doubles the step size)."""
    import numpy as np

    from kafka_streams_common_spark.operators.multimodal import _mulaw_expand

    codes = np.arange(256, dtype=np.uint8)
    lin = _mulaw_expand(codes)
    assert lin[0x00] == -32124 and lin[0x80] == 32124
    assert lin[0xFF] == 0 and lin[0x7F] == 0
    # published first-segment positive values: codes 0xFF down to 0xF0
    # decode to 0, 8, 16, ... 120 (step 8 in segment 0)
    assert [int(lin[0xFF - k]) for k in range(16)] == [8 * k for k in range(16)]
    # sign symmetry: code c and c^0x80 decode to negatives of each other
    assert (lin[codes] == -lin[codes ^ 0x80]).all()
    # monotone decreasing over each sign half as the code descends
    assert (np.diff(lin[0x80:]) < 0).all() and (np.diff(lin[:0x80]) > 0).all()


def test_mulaw_wav_container_and_fact_chunk(spark):
    """``encode_wav(codec='mulaw')`` emits a spec-shaped non-PCM WAVE
    container: format tag 7, 18-byte fmt chunk with cbSize=0, a fact
    chunk carrying the frame count, 58+n+n%2 total bytes; the parser
    recovers EXPANDED linear samples and validates fact against data."""
    import hashlib
    import struct

    import pytest as _pytest

    from kafka_streams_common_spark.operators.multimodal import (
        _mulaw_expand,
        _parse_wav_full,
        encode_wav,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta beta"), (3, "gamma!")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: bytes(r["payload"])
            for r in encode_wav(docs, codec="mulaw").collect()}
    texts = {1: "alpha", 2: "beta beta", 3: "gamma!"}
    import numpy as np

    for did, payload in rows.items():
        hx = hashlib.md5(texts[did].encode()).hexdigest()
        n = int(hx[:15], 16) % 241 + 16
        assert len(payload) == 58 + n + (n % 2)
        # fixed canonical layout: fmt at 12, fact at 38, data at 50
        assert payload[12:16] == b"fmt "
        assert struct.unpack("<I", payload[16:20])[0] == 18
        assert struct.unpack("<H", payload[20:22])[0] == 7  # WAVE_FORMAT_MULAW
        assert struct.unpack("<H", payload[36:38])[0] == 0  # cbSize
        assert payload[38:42] == b"fact"
        assert struct.unpack("<I", payload[46:50])[0] == n
        tag, channels, rate, bits, s = _parse_wav_full(payload)
        assert (tag, channels, rate, bits) == (7, 1, 8000, 8)
        codes = np.frombuffer((bytes.fromhex(hx) * 17)[:n], dtype=np.uint8)
        assert s[:, 0].tolist() == _mulaw_expand(codes).tolist()
    # a fact chunk that contradicts the data chunk is rejected
    bad = bytearray(rows[1])
    bad[46:50] = struct.pack("<I", 999)
    with _pytest.raises(ValueError, match="fact"):
        _parse_wav_full(bytes(bad))


def test_y4m_encode_is_a_real_stream_and_decode_recovers_frames(spark):
    """The JVM-side Y4M encoder must emit byte-exact YUV4MPEG2 streams
    (validated against a pure-Python builder from the public spec), and
    the decode stage must recover frame segmentation + per-frame stats
    identical to the reference."""
    import hashlib

    from kafka_streams_common_spark.operators.multimodal import (
        decode_y4m_frame_stats,
        encode_y4m,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(30)
    clips = encode_y4m(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in clips.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def ref(text: str):
        hx = hashlib.md5(text.encode()).hexdigest()
        w = int(hx[:15], 16) % 8 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 8 + 1
        nf = int(hashlib.md5((text + "|nf").encode()).hexdigest()[:15], 16) % 6 + 2
        raster = (bytes.fromhex(hx) * 28)[: nf * w * h]
        payload = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode()
        frames = []
        for f in range(nf):
            fr = raster[f * w * h : (f + 1) * w * h]
            payload += b"FRAME\n" + fr
            frames.append(list(fr))
        return payload, w, h, frames

    for did, payload in payloads.items():
        want, _, _, _ = ref(texts[did])
        assert payload == want, did

    got: dict = {}
    for r in decode_y4m_frame_stats(clips).collect():
        got.setdefault(r["doc_id"], {})[r["frame_idx"]] = r
    for did in payloads:
        _, w, h, frames = ref(texts[did])
        assert len(got[did]) == len(frames), did
        prev = None
        for i, fr in enumerate(frames):
            r = got[did][i]
            m = sum(fr) / len(fr)
            assert (r["width"], r["height"]) == (w, h)
            assert abs(r["mean_luma"] - m) < 1e-12
            assert r["min_luma"] == min(fr) and r["max_luma"] == max(fr)
            if prev is None:
                assert r["diff_prev"] is None
            else:
                assert abs(r["diff_prev"] - abs(m - prev)) < 1e-12
            prev = m


def test_y4m_parser_c420_and_errors():
    """The raw Y4M parser handles the C420 default (luma stats from the
    Y plane), header-tag parsing, and rejects malformed streams."""
    import numpy as np
    import pytest as _pytest

    from kafka_streams_common_spark.operators.multimodal import _parse_y4m

    y = bytes(range(4 * 2))
    uv = b"\x80" * (2 * 1) * 2  # quarter-size U and V planes
    p = b"YUV4MPEG2 W4 H2 F30:1\n" + b"FRAME\n" + y + uv + b"FRAME\n" + y + uv
    w, h, frames = _parse_y4m(p)  # no C tag -> C420 default per spec
    assert (w, h, len(frames)) == (4, 2, 2)
    assert frames[0].tolist() == np.frombuffer(y, dtype=np.uint8).reshape(2, 4).tolist()

    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        _parse_y4m(b"AVI \x00\x00")
    with _pytest.raises(ValueError, match="FRAME"):
        _parse_y4m(b"YUV4MPEG2 W2 H2 Cmono\nXRAME\n" + b"\x00" * 4)
    with _pytest.raises(ValueError, match="truncated"):
        _parse_y4m(b"YUV4MPEG2 W2 H2 Cmono\nFRAME\n" + b"\x00" * 3)
    with _pytest.raises(ValueError, match="colourspace"):
        _parse_y4m(b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + b"\x00" * 12)


def test_netpbm_parser_p6_comments_and_errors():
    """The raw parser handles RGB P6, header comments, and rejects
    malformed containers — per the public Netpbm spec."""
    import numpy as np
    import pytest as _pytest

    from kafka_streams_common_spark.operators.multimodal import (
        _decode_image,
        _parse_netpbm,
    )

    raster = bytes(range(2 * 3 * 3))  # 3x2 RGB
    p6 = b"P6\n# a comment line\n3 2\n255\n" + raster
    channels, w, h, px = _parse_netpbm(p6)
    assert (channels, w, h) == (3, 3, 2)
    assert px.shape == (2, 3, 3) and px.ravel().tolist() == list(raster)
    stats = _decode_image(p6)
    assert stats["channels"] == 3 and stats["n_px"] == 6
    assert stats["mean_px"] == float(np.mean(list(raster)))
    with _pytest.raises(ValueError, match="not a binary"):
        _parse_netpbm(b"P3\n1 1\n255\n0")  # ASCII PPM unsupported
    with _pytest.raises(ValueError, match="raster"):
        _parse_netpbm(b"P5\n4 4\n255\n" + b"\x00" * 15)  # truncated
    with _pytest.raises(ValueError, match="maxval"):
        _parse_netpbm(b"P5\n1 1\n65535\n" + b"\x00\x00")  # 2-byte samples


def test_approx_distinct_accuracy(spark):
    """HLL++ estimate within its configured rsd of exact distinct counts
    (the bound the no-oracle agg_approx_distinct_users query relies on)."""
    ev = table(spark, SF_ORACLE, "events")
    approx = {
        r["event_type"]: r["approx_users"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    exact = {
        r["event_type"]: r["exact_users"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .collect()
    }
    assert set(approx) == set(exact)
    for etype, ex in exact.items():
        assert abs(approx[etype] - ex) <= max(2, 0.05 * ex), (etype, approx[etype], ex)


def test_tfidf_ranking_properties(spark):
    """Each doc gets ≤ k terms, ranks are 1..k dense, and a term present in
    every document scores exactly 0 (ln N/N)."""
    from kafka_streams_common_spark.operators.text import tfidf_top_terms

    docs = table(spark, SF_SMOKE, "documents")
    out = tfidf_top_terms(docs, k=3).cache()
    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx"), F.min("rank").alias("mn")
    )
    bad = per_doc.filter((F.col("n") > 3) | (F.col("mx") != F.col("n")) | (F.col("mn") != 1))
    assert bad.count() == 0
    assert out.filter(F.col("tfidf") < 0).count() == 0
    out.unpersist()


def test_stratified_sample_rates(spark):
    """Per-stratum sample fractions land near the configured percentages
    (md5 buckets are uniform) and selection is exactly reproducible."""
    from kafka_streams_common_spark.operators.text import stratified_hash_sample

    docs = table(spark, SF_ORACLE, "documents")
    rates = {"en": 30, "de": 80, "es": 80, "fr": 80, "zh": 100}
    s1 = stratified_hash_sample(docs, rates)
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert kept.get("zh", 0) == totals["zh"]  # 100% stratum keeps everything
    for lang, pct in rates.items():
        if pct < 100:
            frac = kept.get(lang, 0) / totals[lang]
            assert abs(frac - pct / 100) < 0.15, (lang, frac, pct)
    # deterministic: second run identical
    s2 = stratified_hash_sample(docs, rates)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0


def test_hash_split_disjoint_exhaustive(spark):
    from kafka_streams_common_spark.operators.text import hash_split

    docs = table(spark, SF_ORACLE, "documents")
    n = docs.count()
    out = hash_split(docs, {"train": 80, "val": 10, "test": 10}).cache()
    by = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(by.values()) == n  # exhaustive, disjoint (one row each)
    assert abs(by["train"] / n - 0.8) < 0.1
    # reproducible across invocations
    again = hash_split(docs, {"train": 80, "val": 10, "test": 10})
    assert out.exceptAll(again).count() == 0
    out.unpersist()


def test_pack_sequences_partitioning_invariant(spark):
    """Pack assignment is a pure function of (group membership, sorted
    order) — the input DataFrame's physical partitioning must not change a
    single pack id (the reproducibility contract a training pipeline needs
    to re-derive identical training sequences on any cluster)."""
    from kafka_streams_common_spark.operators.text import pack_sequences

    docs = table(spark, SF_ORACLE, "documents")
    a = {
        (r["doc_id"], r["pack_id"])
        for r in pack_sequences(docs, budget_tokens=300, n_groups=8).collect()
    }
    b = {
        (r["doc_id"], r["pack_id"])
        for r in pack_sequences(
            docs.repartition(7), budget_tokens=300, n_groups=8
        ).collect()
    }
    assert a == b


def test_pack_sequences_budget_and_coverage(spark):
    from kafka_streams_common_spark.operators.text import pack_sequences

    docs = table(spark, SF_ORACLE, "documents")
    n = docs.count()
    budget = 300
    packed = pack_sequences(docs, budget_tokens=budget, n_groups=8).cache()
    assert packed.count() == n  # every doc exactly once
    assert packed.select("doc_id").distinct().count() == n
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tok"), F.count(F.lit(1)).alias("docs")
    )
    # over-budget packs may exist only as single oversized docs
    bad = per_pack.filter((F.col("tok") > budget) & (F.col("docs") > 1))
    assert bad.count() == 0
    # packing does real work: fewer packs than docs, decent fill
    n_packs = per_pack.count()
    assert n_packs < n
    total_tokens = packed.agg(F.sum("n_tokens")).collect()[0][0]
    assert total_tokens / (n_packs * budget) > 0.5  # ≥50% fill on fixture
    packed.unpersist()


def test_ivf_int8_rerank_scores_exact_and_recall(spark):
    """The int8-scored shortlist + full-precision re-rank: (a) every
    returned score equals the brute-force exact cosine for that pair
    (re-rank runs on full precision — quantization error must NOT leak
    into final scores), (b) recall vs the exact top-k at least matches
    plain IVF at the same probe budget (the 30-deep shortlist can only
    widen the candidate net)."""
    from kafka_streams_common_spark.operators.similarity import ivf_int8_rerank_topk

    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = brute_force_cosine_topk(emb, queries, k=10)
    got = ivf_int8_rerank_topk(
        emb, queries, k=10, n_centroids=16, n_probe=4, shortlist=30
    )
    e_scores = {(r["q_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    g_scores = {(r["q_id"], r["vec_id"]): r["score"] for r in got.collect()}
    for pair, s in g_scores.items():
        if pair in e_scores:
            assert s == e_scores[pair], f"re-rank score drifted for {pair}"

    plain = ivf_cosine_topk(emb, queries, k=10, n_centroids=16, n_probe=4)
    p = {(r["q_id"], r["vec_id"]) for r in plain.collect()}
    recall_plain = len(set(e_scores) & p) / len(e_scores)
    recall_rerank = len(set(e_scores) & set(g_scores)) / len(e_scores)
    assert recall_rerank >= recall_plain - 0.05, (
        f"int8 rerank recall {recall_rerank:.2f} below plain IVF {recall_plain:.2f}"
    )


def test_trained_int8_rerank_clustered_recall(spark):
    """Trained k-means++ centroids wired into the int8 re-rank operator:
    on the planted-cluster corpus at the SCALE.md probe fraction (32
    cells × 4 probes = 12.5% of the index scored), recall@10 ≥ 0.8 —
    and, unlike the lowest-id seeded default (kept only for the
    SQL-replayable oracle query), independent of data order: the test
    feeds the corpus in a shuffled order and the trained path must land
    the same recall (train_ivf_centroids samples by md5(id), not by
    position)."""
    import numpy as np

    from kafka_streams_common_spark.operators.similarity import (
        ivf_int8_rerank_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(2000):
        v = centers[i % 20] + 0.15 * rng.normal(size=32)
        rows.append((i, [float(x) for x in v]))
    # shuffled arrival order — cluster structure must come from training,
    # never from which ids happen to sort first
    rng.shuffle(rows)
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # unique-id precondition of the max_by/any_value cell assignment
    assert emb.count() == emb.select("vec_id").distinct().count()
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_cosine_topk(emb, queries, k=10).collect()
    }
    cent = train_ivf_centroids(emb, n_centroids=32)
    got = {
        (r["q_id"], r["vec_id"])
        for r in ivf_int8_rerank_topk(
            emb, queries, k=10, n_probe=4, shortlist=30, centroids=cent
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"trained-int8 rerank recall {recall:.3f} < 0.8"


def test_ivf_fixture_ids_unique(spark):
    """The registered IVF/int8 queries ride on the embeddings fixture —
    pin the unique-vec_id precondition their max_by/any_value assignment
    depends on (operators/similarity.py docstrings)."""
    emb = table(spark, SF_ORACLE, "embeddings")
    assert emb.count() == emb.select("vec_id").distinct().count()


def test_minhash_max_bucket_cap_preserves_output(spark):
    """The hot-bucket cap (max_bucket) on a template-heavy corpus: 60
    docs share a long boilerplate prefix with distinct bodies sized so
    hot pairs sit BELOW tau (candidates that exact verification must
    discard) while their band buckets run hot. The capped run must
    return exactly the uncapped output — the cap only skips enumerating
    doomed candidates — and must still find the planted true dup."""
    import itertools

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    template = " ".join(
        words[i % len(words)] + str(i) for i in range(200)
    )
    rows = []
    for d in range(60):
        body = " ".join(f"body{d}w{j}" for j in range(40))
        rows.append((d, f"{template} {body}"))
    # planted true near-dup pair, no template (jaccard 1.0)
    rows.append((1000, "one two three four five six seven eight nine ten " * 3))
    rows.append((1001, "one two three four five six seven eight nine ten " * 3))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, max_bucket=None).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, max_bucket=30).collect()
    }
    assert (1000, 1001) in capped
    assert capped == uncapped
    # the hot template pairs must not be in the output at all
    assert not any(
        a < 60 and b < 60 for a, b in itertools.chain(capped, uncapped)
    )


def test_funnel_conversion_four_steps(spark):
    """The parameterized k-step funnel operator on a 4-stage synthetic
    funnel: strict-sequential-min ordering (each stage strictly after the
    previous stage's earliest qualifying event), monotone reached flags,
    users who never complete stage 1 are absent."""
    from kafka_streams_common_spark.operators.funnel import funnel_conversion

    rows = [
        # user 1: clean a→b→c→d
        (1, "a", 1), (1, "b", 2), (1, "c", 3), (1, "d", 4),
        # user 2: d fires BEFORE c's earliest qualifying ts → stops at c
        (2, "a", 1), (2, "b", 2), (2, "d", 3), (2, "c", 4),
        # user 3: entered only
        (3, "a", 5),
        # user 4: pre-entry b ignored; c ties b's ts (strict > fails)
        (4, "b", 1), (4, "a", 2), (4, "b", 3), (4, "c", 3),
        # user 5: never does "a" → not in the funnel at all
        (5, "b", 1), (5, "c", 2), (5, "d", 3),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, event_type string, ts bigint")
    stages = [(n, F.col("event_type") == n) for n in ("a", "b", "c", "d")]
    out = {r["user_id"]: r for r in funnel_conversion(ev, stages).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["funnel_stage"] == 4 and out[1]["reached_d"]
    assert out[2]["funnel_stage"] == 3
    assert out[2]["reached_c"] and not out[2]["reached_d"]
    assert out[3]["funnel_stage"] == 1 and not out[3]["reached_b"]
    assert out[4]["funnel_stage"] == 2
    assert out[4]["reached_b"] and not out[4]["reached_c"]
    # monotone flags: reached_{i+1} implies reached_i for every user
    for r in out.values():
        assert not (r["reached_c"] and not r["reached_b"])
        assert not (r["reached_d"] and not r["reached_c"])
    with pytest.raises(ValueError):
        funnel_conversion(ev, [("a", F.col("event_type") == "a")])
    with pytest.raises(ValueError):
        funnel_conversion(ev, [("a", F.lit(True)), ("a", F.lit(True))])


def test_funnel_keep_timestamps(spark):
    """keep_timestamps=True emits each stage's earliest qualifying
    timestamp as ts_<name> (null past the user's depth), matching the
    strict-sequential-min the flags are derived from — the contract the
    time-to-convert readout builds on."""
    from kafka_streams_common_spark.operators.funnel import funnel_conversion

    rows = [
        (1, "a", 1), (1, "b", 5), (1, "a", 2),   # second 'a' ignored (min=1)
        (2, "a", 3),                              # entered only
        (2, "b", 1),                              # pre-entry b must NOT count
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, event_type string, ts bigint")
    stages = [(n, F.col("event_type") == n) for n in ("a", "b")]
    out = {
        r["user_id"]: r
        for r in funnel_conversion(ev, stages, keep_timestamps=True).collect()
    }
    assert out[1]["ts_a"] == 1 and out[1]["ts_b"] == 5
    assert out[2]["ts_a"] == 3 and out[2]["ts_b"] is None
    # default path unchanged: no ts_ columns
    cols = funnel_conversion(ev, stages).columns
    assert not any(c.startswith("ts_") for c in cols)


def test_gopher_quality_rules(spark):
    from kafka_streams_common_spark.operators.text import gopher_quality

    rows = [
        # 24 words, clean english-ish, has stop words -> keep
        (0, "the cat sat of the mat and that was fine to see with " 
            "more words here to pad things out over twenty total"),
        # too short
        (1, "the of and short"),
        # no stop words (and symbol tokens drop alpha_frac)
        (2, " ".join(["1234"] * 30)),
        # mean word length too high
        (3, " ".join(["pneumonoultramicroscopic"] * 25) + " the of"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in gopher_quality(docs).collect()}
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[1]["word_count_ok"] is False
    assert out[2]["keep"] is False and out[2]["alpha_frac_ok"] is False
    assert out[2]["stop_words_ok"] is False
    assert out[3]["keep"] is False and out[3]["mean_word_len_ok"] is False
    # per-rule booleans must explain every drop: keep == AND of rules
    for d in out.values():
        assert d["keep"] == (
            d["word_count_ok"]
            and d["mean_word_len_ok"]
            and d["alpha_frac_ok"]
            and d["stop_words_ok"]
        )


def test_bigram_logprob_scores_surprise(spark):
    """The interpolated bigram LM must (a) cover every doc with >= 2
    tokens, (b) score a document of endlessly repeated transitions as
    LESS surprising than one built from transitions that occur once each
    — the property the unigram model cannot express (all four docs here
    share the same token multiset frequencies class-wise)."""
    from kafka_streams_common_spark.operators.text import bigram_logprob

    rows = [
        (0, "a b a b a b a b a b a b"),   # one dominant transition pair
        (1, "a b a b a b a b a b a b"),   # duplicate reinforces counts
        (2, "c d e f g h i j k l m n"),   # every transition unique
        (3, "x"),                          # single token: no bigrams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in bigram_logprob(docs).collect()}
    assert set(out) == {0, 1, 2}  # doc 3 has no bigrams -> no row
    assert out[0]["n_bigrams"] == 11
    assert out[0]["avg_neg_logprob"] == out[1]["avg_neg_logprob"]
    assert out[0]["avg_neg_logprob"] < out[2]["avg_neg_logprob"], (
        "repeated boilerplate transitions must score less surprising than "
        "all-unique transitions"
    )


def test_mix_corpus_by_tokens_budgets(spark):
    """Token-budget mixing: over-budget strata down-sample toward the
    budget, under-budget strata keep every row, unlisted strata drop,
    and the kept set is a pure function of ids (partitioning-invariant)."""
    from kafka_streams_common_spark.operators.text import mix_corpus_by_tokens

    rows = []
    for d in range(400):
        stratum = "big" if d < 300 else ("small" if d < 380 else "other")
        rows.append((d, stratum, "w " * 9 + "w"))  # 10 tokens each
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    budgets = {"big": 1000, "small": 5000}  # big: 3000 actual -> rate 1/3
    out = mix_corpus_by_tokens(docs, budgets)
    kept = out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok")
    )
    by = {r["lang"]: r for r in kept.collect()}
    assert set(by) == {"big", "small"}          # 'other' dropped
    assert by["small"]["n"] == 80               # under budget: kept whole
    # big: expected 100 docs / 1000 tokens; md5 uniformity within ~35%
    assert 65 <= by["big"]["n"] <= 135, by["big"]["n"]
    assert by["big"]["tok"] == by["big"]["n"] * 10
    # partitioning invariance
    re = mix_corpus_by_tokens(docs.repartition(13), budgets)
    assert {r["doc_id"] for r in re.select("doc_id").collect()} == {
        r["doc_id"] for r in out.select("doc_id").collect()
    }
    with pytest.raises(ValueError):
        mix_corpus_by_tokens(docs, {})
    with pytest.raises(ValueError):
        mix_corpus_by_tokens(docs, {"big": -1})


def test_cell_diverse_sample_coverage(spark):
    """Cell-stratified diverse sampling on a planted-cluster corpus with
    90/10 skew: every cluster is represented (a plain 10% hash sample of
    the minority cluster could miss it), no cell exceeds n_per_cell, and
    trained centroids recover the planted structure."""
    import numpy as np

    from kafka_streams_common_spark.operators.similarity import (
        cell_diverse_sample,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(10, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(1000):
        c = 0 if i < 900 else (i % 10)  # 90% in cluster 0
        v = centers[c] + 0.05 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = train_ivf_centroids(emb, n_centroids=10)
    out = cell_diverse_sample(emb, n_per_cell=4, centroids=cent).collect()
    per_cell = {}
    for r in out:
        per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
    assert all(n <= 4 for n in per_cell.values())
    # every occupied cell contributes — coverage of minority clusters
    assert len(per_cell) >= 8, per_cell
    # minority vectors (ids >= 900) must appear in the sample
    assert any(r["vec_id"] >= 900 for r in out)


def test_passage_dedup_cross_alignment(spark):
    """Duplicated-passage excision: a shared 10-token run is excised from
    both carriers regardless of alignment (mid-doc vs end-of-doc), organic
    text survives, sub-k documents pass through whole, and identical
    documents collapse to empty clean_text."""
    from kafka_streams_common_spark.operators.dedup import passage_dedup

    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (0, f"intro one two three {passage} outro four five"),
        (1, f"{passage} completely different trailing content here now"),
        (2, "organic text with no shared runs at all whatsoever today"),
        (3, "tiny doc"),  # shorter than k → no windows → untouched
        (4, "same full body twin content repeated verbatim here ok"),
        (5, "same full body twin content repeated verbatim here ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in passage_dedup(docs, k=8).collect()}
    assert len(out) == 6  # every doc survives as a row
    for d in (0, 1):
        for w in passage.split():
            assert w not in out[d]["clean_text"].split(), (d, w)
    assert "intro" in out[0]["clean_text"] and "outro" in out[0]["clean_text"]
    assert "trailing" in out[1]["clean_text"]
    assert out[2]["clean_text"] == rows[2][1]
    assert out[2]["n_dropped"] == 0
    assert out[3]["clean_text"] == "tiny doc"
    # identical docs: every token covered by a shared window → empty
    assert out[4]["clean_text"] == "" and out[5]["clean_text"] == ""
    assert out[4]["n_kept"] == 0


def test_funnel_max_gap_bounds_conversion(spark):
    """Time-bounded funnel: with max_gap, a stage event that arrives
    after the window no longer counts — and the gap measures from the
    previous stage's EARLIEST qualifying event."""
    from kafka_streams_common_spark.operators.funnel import funnel_conversion

    rows = [
        (1, "a", 100), (1, "b", 105),           # within gap of 10 → stage 2
        (2, "a", 100), (2, "b", 150),           # too late → stage 1
        (3, "a", 100), (3, "b", 105), (3, "b", 150),  # earliest b qualifies
        # user 4: first b misses the gap, but a LATER b at 108 is inside
        (4, "a", 100), (4, "b", 99), (4, "b", 108),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    stages = [("a", F.col("event_type") == "a"), ("b", F.col("event_type") == "b")]
    out = {r["user_id"]: r for r in funnel_conversion(ev, stages, max_gap=10).collect()}
    assert out[1]["reached_b"] is True
    assert out[2]["reached_b"] is False
    assert out[3]["reached_b"] is True
    assert out[4]["reached_b"] is True  # pre-entry b ignored, 108 <= 100+10
    # unbounded default unchanged: user 2 converts without the gap
    free = {r["user_id"]: r for r in funnel_conversion(ev, stages).collect()}
    assert free[2]["reached_b"] is True


def test_passage_dedup_half_corpus_coverage(spark):
    """50%-coverage boilerplate (the SCALE.md adversarial profile at unit
    scale): every hot doc loses EXACTLY the planted passage — boundary
    windows spanning into each doc's distinct body are unique per doc and
    must never go hot (no over-dropping) — and clean docs are untouched."""
    from kafka_streams_common_spark.operators.dedup import passage_dedup

    passage = " ".join(f"p{i}" for i in range(12))
    rows = []
    for d in range(20):
        body = " ".join(f"b{d}w{j}" for j in range(20))
        rows.append((d, f"{passage} {body}" if d % 2 == 0 else body))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in passage_dedup(docs, k=8).collect()}
    assert len(out) == 20
    for d in range(20):
        if d % 2 == 0:
            assert out[d]["n_dropped"] == 12, out[d]
            assert out[d]["clean_text"] == " ".join(
                f"b{d}w{j}" for j in range(20)
            )
        else:
            assert out[d]["n_dropped"] == 0
            assert "p0" not in out[d]["clean_text"].split()


def test_ivf_pq_rerank_recall_on_clustered_corpus(spark):
    """IVF-PQ end-to-end on the regime it exists for (clustered
    embeddings): trained cells + trained codebooks + ADC shortlist +
    exact re-rank reaches recall@10 ≥ 0.9 at an 8/32 probe; pure ADC
    (no re-rank) is deterministic across runs and returns k per query.
    PQ-resolution ceiling documented: pure ADC sits far below the
    re-ranked recall on tight clusters — the re-rank is load-bearing."""
    import numpy as np

    from kafka_streams_common_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_pq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = [
        (i, [float(x) for x in centers[i % 20] + 0.15 * rng.normal(size=32)])
        for i in range(2000)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cent = train_ivf_centroids(emb, n_centroids=32)
    cb = train_pq_codebooks(emb, m=8, k_codes=32)
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_cosine_topk(emb, queries, k=10).collect()
    }
    reranked = {
        (r["q_id"], r["vec_id"])
        for r in ivf_pq_topk(
            emb, queries, k=10, n_probe=8, rerank=50,
            centroids=cent, codebooks=cb,
        ).collect()
    }
    recall = len(exact & reranked) / len(exact)
    assert recall >= 0.9, f"IVF-PQ re-ranked recall {recall:.3f} < 0.9"

    adc1 = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, queries, k=10, n_probe=8, centroids=cent, codebooks=cb
            ).collect(),
        )
    )
    adc2 = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, queries, k=10, n_probe=8, centroids=cent, codebooks=cb
            ).collect(),
        )
    )
    assert adc1 == adc2, "ADC scores must be run-to-run deterministic"
    per_q = {}
    for q, v, s in adc1:
        per_q.setdefault(q, []).append(s)
    assert all(len(v) == 10 for v in per_q.values())


def test_random_projection_preserves_distances(spark):
    """JL property: with a ±1 projection 64→16, pairwise squared
    distances are preserved in expectation; check that over many pairs
    the mean distortion ratio is near 1 (not a per-pair guarantee)."""
    import math
    import random

    from kafka_streams_common_spark.operators.similarity import random_project

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    proj = {
        r["vec_id"]: [r[f"p{j}"] for j in range(16)]
        for r in random_project(df, 64, 16).collect()
    }
    orig = {i: v for i, v in rows}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ratios = []
    for i in range(0, 60, 2):
        a, b = i, i + 1
        num, den = d2(proj[a], proj[b]), d2(orig[a], orig[b])
        ratios.append(num / den)
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.3, mean  # E[ratio]=1, 30 pairs at k=16 -> wide band
    assert min(ratios) > 0.2 and max(ratios) < 3.0, (min(ratios), max(ratios))


def test_random_projection_deterministic_and_maponly(spark):
    from kafka_streams_common_spark.operators.similarity import random_project

    df = spark.createDataFrame(
        [(0, [0.5] * 8), (1, [-0.25] * 8)], ["vec_id", "embedding"]
    )
    a = sorted(map(tuple, random_project(df, 8, 4).collect()))
    b = sorted(map(tuple, random_project(df, 8, 4).collect()))
    assert a == b  # same seed -> bit-identical
    c = sorted(map(tuple, random_project(df, 8, 4, seed=99).collect()))
    assert a != c  # seed changes the matrix
    plan = (
        random_project(df, 8, 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure map-only projection

    with pytest.raises(ValueError, match=">= 1"):
        random_project(df, 8, 0)


def test_two_phase_cc_matches_label_propagation_and_beats_diameter(spark):
    """Large-star/small-star CC: identical labels to min-label
    propagation on a planted 64-node PATH component (diameter 63 — the
    shape that degenerates plain propagation) plus random components and
    singletons, converging in O(log n) rounds, not O(diameter)."""
    import random

    from kafka_streams_common_spark.operators.cluster import (
        connected_components,
        connected_components_two_phase,
    )

    rng = random.Random(7)
    # component 1: a 64-long chain over shuffled ids; plus random blobs
    chain_ids = rng.sample(range(1000, 2000), 64)
    edges = [(chain_ids[i], chain_ids[i + 1]) for i in range(63)]
    blob = rng.sample(range(3000, 4000), 30)
    edges += [tuple(rng.sample(blob, 2)) for _ in range(40)]
    all_nodes = sorted(set(chain_ids) | set(blob) | {9001, 9002})  # singletons
    nodes = spark.createDataFrame([(n,) for n in all_nodes], ["doc_id"])
    e = spark.createDataFrame(edges, ["doc_a", "doc_b"])

    want = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(nodes, e, max_iterations=80).collect()
    }
    stats: dict = {}
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_two_phase(
            nodes, e, _stats=stats
        ).collect()
    }
    assert got == want
    # chain labels all collapse to the chain's min id
    assert {c for n, c in got if n in set(chain_ids)} == {min(chain_ids)}
    # O(log n): 64-diameter graph must converge way under diameter rounds
    assert stats["rounds"] <= 12, stats


def test_bloom_filter_words_no_false_negatives_and_low_fp(spark):
    """The composed-from-primitives Bloom (operators.dedup): every
    inserted key passes the all-k-bits test (no false negatives — the
    decontamination equivalence depends on it) and the false-positive
    rate on disjoint probes stays near the analytic p ≈ (1-e^(-kn/m))^k."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.operators.dedup import (
        _bloom_probe_structs,
        bloom_filter_words,
    )

    m_bits, k = 1 << 14, 4
    keys = spark.range(0, 2000).select(F.xxhash64("id").alias("sh"))
    bloom = bloom_filter_words(keys, "sh", m_bits=m_bits, k=k)

    def membership_count(probe_df):
        probes = probe_df.select(
            "sh", F.explode(_bloom_probe_structs(F.col("sh"), m_bits, k)).alias("p")
        )
        return (
            probes.join(F.broadcast(bloom), probes["p.word_idx"] == bloom.word_idx)
            .filter(F.col("p.mask").bitwiseAND(F.col("bits")) != 0)
            .groupBy("sh")
            .agg(F.count(F.lit(1)).alias("nb"))
            .filter(F.col("nb") == k)
            .count()
        )

    assert membership_count(keys) == 2000  # zero false negatives
    outside = spark.range(100000, 110000).select(F.xxhash64("id").alias("sh"))
    fp = membership_count(outside) / 10000
    # n=2000, m=2^14, k=4 -> p ≈ (1-e^(-8000/16384))^4 ≈ 0.023
    assert fp < 0.05, fp


def test_zorder_key_tightens_multidim_file_boxes(spark):
    """Sorting by zkey and cutting into 'files' must bound each file's
    min/max span on BOTH dimensions — the zone-map property: a filter
    on EITHER column prunes files. Under a single-column sort the other
    column spans ~full width in every file (zero pruning for its
    predicates); under z-order both spans must be well under half the
    domain."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.operators.zorder import zorder_key
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")

    def avg_box_area(df, sort_col):
        n_files = 16
        ranked = df.withColumn(
            "f", F.ntile(n_files).over(Window.orderBy(sort_col, "o_orderkey"))
        )
        spans = ranked.groupBy("f").agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("dc"),
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("dp"),
        )
        tot = df.agg(
            (F.max("o_custkey") - F.min("o_custkey")).cast("double").alias("c"),
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("p"),
        ).collect()[0]
        rows = spans.collect()
        dc = sum(r["dc"] / tot["c"] for r in rows) / len(rows)
        dp = sum(r["dp"] / tot["p"] for r in rows) / len(rows)
        return dc, dp

    z = zorder_key(orders, ["o_custkey", "o_totalprice"], bits=16)
    dc_z, dp_z = avg_box_area(z, "zkey")
    dc_s, dp_s = avg_box_area(z, "o_custkey")
    # custkey sort: its own span is tiny (~1/16) but price spans ~all of
    # the domain in every file — a price predicate prunes nothing
    assert dp_s > 0.8, dp_s
    # z-order: BOTH spans bounded well under half the domain, so
    # predicates on either column prune files
    assert dc_z < 0.5 and dp_z < 0.5, (dc_z, dp_z)
    # ...and the price dimension specifically beats the custkey layout
    assert dp_z < dp_s * 0.6, (dp_z, dp_s)


def test_rollup_state_merge_is_tree_shape_invariant(spark):
    """Mergeable partial states: any merge tree over any batch split
    must produce the identical state as the direct aggregate — the
    algebraic property incremental view maintenance rests on."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.operators.rollup import (
        merge_agg_states,
        partial_agg_state,
    )
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    direct = partial_agg_state(orders, ["o_orderstatus"], "o_totalprice")

    def canon(df):
        return {
            (r["o_orderstatus"], r["n_rows"], str(r["sum_m"]),
             r["min_m"], r["max_m"])
            for r in df.collect()
        }

    want = canon(direct)
    parts = [
        partial_agg_state(
            orders.filter(F.col("o_orderkey") % 4 == i),
            ["o_orderstatus"], "o_totalprice",
        )
        for i in range(4)
    ]
    # flat merge
    assert canon(merge_agg_states(parts, ["o_orderstatus"])) == want
    # nested/unbalanced merge tree: ((0+1)+2)+3 vs (0+1)+(2+3)
    left = merge_agg_states(parts[:2], ["o_orderstatus"])
    right = merge_agg_states(parts[2:], ["o_orderstatus"])
    assert canon(merge_agg_states([left, right], ["o_orderstatus"])) == want
    deep = merge_agg_states(
        [merge_agg_states([merge_agg_states(parts[:2], ["o_orderstatus"]),
                           parts[2]], ["o_orderstatus"]), parts[3]],
        ["o_orderstatus"],
    )
    assert canon(deep) == want


def test_triangle_count_oriented_equals_known_graphs(spark):
    """Degree-oriented triangle counting against known answers: complete
    graphs (C(n,3)), bipartite graphs (0), and a hub star plus one
    closing edge (exactly 1) — the hub case the orientation exists for."""
    from kafka_streams_common_spark.operators.cluster import triangle_count

    def tc(pairs):
        df = spark.createDataFrame(pairs, ["a", "b"])
        return triangle_count(df).collect()[0]["n_triangles"]

    k6 = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    assert tc(k6) == 20  # C(6,3)
    bipartite = [(i, 100 + j) for i in range(5) for j in range(5)]
    assert tc(bipartite) == 0
    star_plus = [(0, i) for i in range(1, 20)] + [(1, 2)]
    assert tc(star_plus) == 1
    # duplicate + reversed edges must not inflate the count
    assert tc(k6 + [(j, i) for i, j in k6]) == 20


def test_mmr_diversifies_and_is_deterministic(spark):
    """MMR semantics: (1) step 1 is the plain cosine argmax; (2) the
    selected set is strictly more diverse (lower mean pairwise cosine)
    than the undiversified top-k whenever the two sets differ; (3) the
    greedy output is bit-stable across runs."""
    from kafka_streams_common_spark.operators.similarity import (
        mmr_diversified_topk,
    )
    from kafka_streams_common_spark.functions.vectors import cosine_similarity

    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    mmr = mmr_diversified_topk(emb, queries, k=5, shortlist=12)
    rows = mmr.collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["step"])):
        by_q.setdefault(r["q_id"], []).append(r)
    plain = {
        (r["q_id"], r["vec_id"]): r["score"]
        for r in brute_force_cosine_topk(emb, queries, k=12).collect()
    }
    top1 = {}
    for (q, v), s in plain.items():
        if q not in top1 or (-s, v) < (-top1[q][1], top1[q][0]):
            top1[q] = (v, s)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    import math

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        dot = sum(float(x) * float(y) for x, y in zip(va, vb))
        na = math.sqrt(sum(float(x) * float(x) for x in va))
        nb = math.sqrt(sum(float(x) * float(x) for x in vb))
        return dot / (na * nb)

    def mean_pairwise(ids):
        ps = [cos(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
        return sum(ps) / len(ps)

    saw_divergence = False
    for q, sel in by_q.items():
        assert [r["step"] for r in sel] == [1, 2, 3, 4, 5]
        assert sel[0]["vec_id"] == top1[q][0]  # step 1 = cosine argmax
        mmr_ids = [r["vec_id"] for r in sel]
        topk_ids = sorted(
            (v for (qq, v) in plain if qq == q),
            key=lambda v: (-plain[(q, v)], v),
        )[:5]
        if set(mmr_ids) != set(topk_ids):
            saw_divergence = True
            assert mean_pairwise(mmr_ids) < mean_pairwise(topk_ids) + 1e-12
    assert saw_divergence, "fixture never diversified — test has no bite"

    again = sorted(
        map(tuple, mmr.collect()), key=lambda t: (t[0], t[1])
    )
    first = sorted(map(tuple, rows), key=lambda t: (t[0], t[1]))
    assert again == first  # bit-stable across executions


def test_mmr_single_candidate_group_survives(spark):
    """A query whose shortlist holds exactly ONE candidate must still
    emit its step-1 row (the pair self-join has no rows for it — a
    LEFT join keeps the group; an inner join silently dropped it)."""
    from kafka_streams_common_spark.operators.similarity import (
        mmr_diversified_topk,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    rows = mmr_diversified_topk(df, q, k=3, shortlist=5).collect()
    assert [(r["step"], r["vec_id"]) for r in rows] == [(1, 1)]


def test_cross_modal_near_dup_composition(spark):
    """The r13 composition: one mixed five-format lake, one decode+
    signature scan, one modality-scoped band join. The same text in
    PGM, PNG, and GIF containers decodes to the SAME md5 raster, so the
    three image docs must pair pairwise at hamming 0 (cross-container
    agreement is the decoder gate); the WAV and Y4M docs ride along and
    must not pair with anything."""
    from kafka_streams_common_spark.operators.gif import encode_gif
    from kafka_streams_common_spark.operators.multimodal import (
        banded_hamming_pairs,
        cross_modal_near_dup_pairs,
        encode_pgm,
        encode_png,
        encode_wav,
        encode_y4m,
    )

    def one(did, enc, **kw):
        df = spark.createDataFrame([(did, "alpha")], ["doc_id", "text"])
        return enc(df, **kw).select("doc_id", "payload")

    lake = (
        one(1, encode_pgm)
        .unionAll(one(2, encode_png, level=6))
        .unionAll(one(3, encode_gif))
        .unionAll(one(4, encode_wav))
        .unionAll(one(5, encode_y4m))
    )
    pairs = {
        (r["modality"], r["a_doc"], r["b_doc"]): r["hamming"]
        for r in cross_modal_near_dup_pairs(lake, max_hamming=3).collect()
    }
    assert pairs == {
        ("image", 1, 2): 0,
        ("image", 1, 3): 0,
        ("image", 2, 3): 0,
    }

    # group scoping is load-bearing: identical band signatures in
    # DIFFERENT groups must never pair
    sig = spark.createDataFrame(
        [
            (1, "audio", 5, 6, 7, 8),
            (2, "video", 5, 6, 7, 8),
            (3, "audio", 5, 6, 7, 8),
        ],
        "doc_id long, modality string, b0 long, b1 long, b2 long, b3 long",
    )
    got = {
        (r["modality"], r["a_doc"], r["b_doc"])
        for r in banded_hamming_pairs(
            sig, max_hamming=3, group_cols=("modality",)
        ).collect()
    }
    assert got == {("audio", 1, 3)}

    # the per-group hot-bucket cap prunes a modal class in ONE group
    # without touching the identical band values in the other
    modal = [(100 + i, "audio", 9, 9, 9, 9) for i in range(6)]
    cold = [(200, "video", 9, 9, 9, 9), (201, "video", 9, 9, 9, 9)]
    sig2 = spark.createDataFrame(
        modal + cold,
        "doc_id long, modality string, b0 long, b1 long, b2 long, b3 long",
    )
    capped = {
        (r["modality"], r["a_doc"], r["b_doc"])
        for r in banded_hamming_pairs(
            sig2, max_hamming=3, max_bucket=4, group_cols=("modality",)
        ).collect()
    }
    assert capped == {("video", 200, 201)}


def test_knn_graph_recall_vs_brute_and_cell_cap(spark):
    """knn_graph edge list: every vector gets <= k neighbors; recall vs
    the exact per-vector top-k is meaningful at a fraction of the work
    (2/16 cells probed on near-uniform embeddings — the worst case);
    with trained centroids recall must not collapse. The max_cell cap
    prunes a planted modal class's intra-cell candidates while cold
    vectors keep their edges."""
    from kafka_streams_common_spark.operators.similarity import (
        knn_graph,
        train_ivf_centroids,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_cosine_topk(emb, queries, k=8).collect()
    }
    got = knn_graph(emb, k=8, n_centroids=16, n_probe=2).collect()
    g = {(r["vec_id"], r["neighbor_id"]) for r in got}
    per_vec = {}
    for r in got:
        per_vec[r["vec_id"]] = per_vec.get(r["vec_id"], 0) + 1
    assert max(per_vec.values()) <= 8
    assert len(per_vec) == emb.count()  # every vector gets edges
    recall = len(exact & g) / len(exact)
    assert recall >= 0.2, f"knn_graph recall {recall:.2f} suspiciously low"

    cent = train_ivf_centroids(emb, n_centroids=16)
    trained = {
        (r["vec_id"], r["neighbor_id"])
        for r in knn_graph(emb, k=8, n_centroids=16, n_probe=2, centroids=cent).collect()
    }
    recall_t = len(exact & trained) / len(exact)
    assert recall_t >= recall - 0.1, (
        f"trained centroids degraded graph recall: {recall_t:.2f} < {recall:.2f}"
    )

    # modal-class cap: plant m identical vectors (one hot cell); with
    # max_cell < m their intra-cell edges vanish (the HOME side is
    # pruned), while the cold pair in the other cell keeps both edges.
    # Seeds are the two lowest ids, so id 0 (cold axis) and id 1 (modal
    # axis) become the two cell centroids and the classes separate.
    import math

    dim = 8
    cold_a = [1.0] + [0.0] * (dim - 1)
    cold_b = [math.cos(0.05), math.sin(0.05)] + [0.0] * (dim - 2)
    modal_v = [0.0] * (dim - 1) + [1.0]
    rows = [(0, cold_a), (1, modal_v), (2, cold_b)] + [
        (10 + i, list(modal_v)) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {
        (r["vec_id"], r["neighbor_id"])
        for r in knn_graph(df, k=4, n_centroids=2, n_probe=1, max_cell=8).collect()
    }
    uncapped = {
        (r["vec_id"], r["neighbor_id"])
        for r in knn_graph(df, k=4, n_centroids=2, n_probe=1).collect()
    }
    assert capped <= uncapped
    assert capped == {(0, 2), (2, 0)}  # the cold pair survives, both ways
    assert any(a >= 10 and b >= 10 for a, b in uncapped)  # modal edges existed


def test_knn_block_kernel_bit_identical(spark):
    """r16 kNN kernels (``_assign_probes_udf`` + ``_block_topk_udf``) must
    reproduce the pre-r16 all-JVM formulation BIT-FOR-BIT: same edges,
    same float64 scores, on both the raw fixture and the planted-clone
    corpus shape. The reference below IS the old implementation — inline
    ``cosine_similarity`` per (row, centroid) with sort_array probing,
    pair-explode candidate join, corpus-wide rank window."""
    from pyspark.sql import Window

    from kafka_streams_common_spark.functions.vectors import (
        cosine_similarity,
        to_double_array,
    )
    from kafka_streams_common_spark.operators.similarity import knn_graph

    emb = table(spark, SF_SMOKE, "embeddings")
    k, n_centroids, n_probe = 8, 16, 2

    def reference(corpus):
        centroids = (
            corpus.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
            .orderBy(F.asc("c_id"))
            .limit(n_centroids)
        )
        cent_rows = centroids.select(
            "c_id", to_double_array(F.col("c_emb")).alias("c_emb")
        ).collect()
        cent_lit = F.array(
            *[
                F.struct(
                    F.lit(int(r["c_id"])).alias("c"),
                    F.array(*[F.lit(float(x)) for x in r["c_emb"]]).alias("e"),
                )
                for r in cent_rows
            ]
        )
        scored_cells = F.sort_array(
            F.transform(
                cent_lit,
                lambda c: F.struct(
                    cosine_similarity(F.col("embedding"), c["e"]).alias("s"),
                    (-c["c"]).alias("nc"),
                    c["c"].alias("c"),
                ),
            ),
            asc=False,
        )
        base = corpus.select(
            F.col("vec_id").alias("__id"),
            to_double_array(F.col("embedding")).alias("__v"),
            F.slice(scored_cells, 1, n_probe).alias("__probes"),
        ).localCheckpoint(eager=True)
        home = base.select(
            "__id", "__v", F.element_at("__probes", 1)["c"].alias("cell")
        )
        probes = base.select(
            F.col("__id").alias("__qid"),
            F.col("__v").alias("__qv"),
            F.explode(F.transform("__probes", lambda p: p["c"])).alias("cell"),
        )
        scored = (
            probes.join(home, "cell")
            .filter(F.col("__qid") != F.col("__id"))
            .select(
                F.col("__qid").alias("vec_id"),
                F.col("__id").alias("neighbor_id"),
                cosine_similarity(F.col("__qv"), F.col("__v")).alias("score"),
            )
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("vec_id", "neighbor_id", "score")
        )

    base2 = emb.select("vec_id", "embedding")
    for corpus in (
        emb,
        # planted clone family: near-identical vectors stress tie-breaks
        base2.unionAll(
            base2.select(
                (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: x.cast("double")
                    + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0)),
                ).alias("embedding"),
            )
        ),
    ):
        want = sorted(
            (r["vec_id"], r["neighbor_id"], r["score"])
            for r in reference(corpus).collect()
        )
        got = sorted(
            (r["vec_id"], r["neighbor_id"], r["score"])
            for r in knn_graph(
                corpus, k=k, n_centroids=n_centroids, n_probe=n_probe
            ).collect()
        )
        assert got == want  # exact float64 equality, not approx


def test_semantic_dedup_planted_clone_family(spark):
    """SemDeDup keep-list semantics on PLANTED near-duplicates (the
    fixture corpus has none — measured max pairwise cosine 0.513): a
    family of 6 tiny-perturbation clones of one direction must collapse
    into ONE cluster whose min-id member is the sole survivor, while
    distinct directions survive as singletons. Transitivity rides the
    CC step: the chain is connected through the graph even if the two
    extreme clones' edge misses the top-k."""
    import math

    from kafka_streams_common_spark.operators.similarity import semantic_dedup

    dim = 8

    def unit(axis, eps=0.0):
        v = [0.0] * dim
        v[axis] = math.cos(eps)
        v[(axis + 1) % dim] = math.sin(eps)
        return v

    # low ids = DISTINCT directions, so the seeded centroids (the 4
    # lowest ids) span the space instead of all landing on the clone
    # direction
    singles = [(j, unit(j)) for j in range(1, 5)]
    clones = [(100 + i, unit(0, eps=0.002 * i)) for i in range(6)]
    df = spark.createDataFrame(
        singles + clones, "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: (r["cluster_id"], r["keep"])
           for r in semantic_dedup(df, tau=0.9, k=4, n_centroids=4,
                                   n_probe=2).collect()}
    assert len(out) == 10
    # the clone family collapses to cluster 100; only 100 survives
    for vid in range(100, 106):
        assert out[vid] == (100, vid == 100), (vid, out[vid])
    # distinct directions are singletons and all survive
    for vid in (1, 2, 3, 4):
        assert out[vid] == (vid, True)
    # survivors semi-joined = the deduplicated corpus
    keep = {v for v, (_, k) in out.items() if k}
    assert keep == {1, 2, 3, 4, 100}


def test_alaw_expansion_extremes_and_stdlib_equivalence(spark):
    """G.711 A-law (r13): the expansion must hit the published extremes
    (0xAA → +32256, 0x2A → -32256, 0xD5 → +8, 0x55 → -8 — no true
    zero), and — import-gated, audioop exists through 3.12 — agree with
    the CPython stdlib decoder on ALL 256 codes, as must μ-law. Then
    the Spark side: a three-codec lake dispatches on the recovered
    format tag and the A-law branch round-trips content."""
    import numpy as np

    from kafka_streams_common_spark.operators.multimodal import (
        _alaw_expand,
        _mulaw_expand,
        decode_audio_codec_features,
        encode_wav,
    )

    ext = _alaw_expand(np.array([0xAA, 0x2A, 0xD5, 0x55], dtype=np.uint8))
    assert ext.tolist() == [32256, -32256, 8, -8]

    try:
        import audioop  # removed in Python 3.13

        codes = bytes(range(256))
        ref_a = np.frombuffer(audioop.alaw2lin(codes, 2), dtype="<i2")
        assert (_alaw_expand(np.frombuffer(codes, np.uint8)) == ref_a).all()
        ref_u = np.frombuffer(audioop.ulaw2lin(codes, 2), dtype="<i2")
        assert (_mulaw_expand(np.frombuffer(codes, np.uint8)) == ref_u).all()
    except ImportError:
        pass

    docs = spark.createDataFrame(
        [(0, "pcm doc"), (1, "mu doc"), (2, "a doc")], ["doc_id", "text"]
    )
    mixed = (
        encode_wav(docs.filter("doc_id = 0"))
        .unionAll(encode_wav(docs.filter("doc_id = 1"), codec="mulaw"))
        .unionAll(encode_wav(docs.filter("doc_id = 2"), codec="alaw"))
    )
    rows = {r["doc_id"]: r.asDict() for r in
            decode_audio_codec_features(mixed).collect()}
    assert rows[0]["codec"] == "pcm"
    assert rows[1]["codec"] == "mulaw"
    assert rows[2]["codec"] == "alaw"
    # A-law linear values are signed with |peak| <= 32256 and never 0
    import hashlib

    hx = hashlib.md5(b"a doc").hexdigest()
    n = int(hx[:15], 16) % 241 + 16
    lin = _alaw_expand(
        np.frombuffer((bytes.fromhex(hx) * 17)[:n], dtype=np.uint8)
    )
    assert rows[2]["n_samples"] == n
    assert rows[2]["peak_lin"] == int(np.abs(lin).max()) <= 32256
    assert abs(rows[2]["mean_lin"] - float(lin.mean())) < 1e-9


def test_color_image_lake_decodes_rgb_content(spark):
    """encode_ppm emits byte-exact P6 files (validated against a
    pure-Python builder) and the truecolor PNG leg (color type 2)
    recovers the identical RGB raster through DEFLATE + bpp=3 filters;
    decode_image_features reports channels=3 and stats over ALL 3wh
    channel values for both containers."""
    import hashlib

    from kafka_streams_common_spark.operators.multimodal import (
        decode_image_features,
        encode_png,
        encode_ppm,
    )

    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta beta"), (2, "gamma!"), (3, "delta? epsilon")],
        ["doc_id", "text"],
    )
    texts = {0: "alpha", 1: "beta beta", 2: "gamma!", 3: "delta? epsilon"}

    # byte-exactness of the JVM-side P6 encoder
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in encode_ppm(docs).collect()}
    for did, text in texts.items():
        hx = hashlib.md5(text.encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        raster = (bytes.fromhex(hx) * ((3 * w * h + 15) // 16))[: 3 * w * h]
        assert payloads[did] == f"P6\n{w} {h}\n255\n".encode() + raster

    mixed = encode_ppm(docs.filter("doc_id % 2 = 0")).unionAll(
        encode_png(docs.filter("doc_id % 2 = 1"), level=6, channels=3)
    )
    rows = {r["doc_id"]: r.asDict() for r in decode_image_features(mixed).collect()}
    for did, text in texts.items():
        hx = hashlib.md5(text.encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        raster = (bytes.fromhex(hx) * ((3 * w * h + 15) // 16))[: 3 * w * h]
        r = rows[did]
        assert r["format"] == ("ppm" if did % 2 == 0 else "png")
        assert r["channels"] == 3
        assert (r["width"], r["height"], r["n_px"]) == (w, h, w * h)
        assert r["min_px"] == min(raster) and r["max_px"] == max(raster)
        assert abs(r["mean_px"] - sum(raster) / len(raster)) < 1e-9


def test_pair_cosine_kernel_bit_identical(spark):
    """r17 LSH verify kernel (``_pair_cosine_udf``) must reproduce the JVM
    ``dot/(l2·l2)`` fold BIT-FOR-BIT on every emitted pair: the r16 block
    kernels pinned the kNN scoring stage, this pins the verify stage's
    per-pair arithmetic (a separate equivalence claim — no ranking/union
    argument, pure IEEE accumulation order). Checked on the raw fixture
    and the planted near-dup shape the registered queries run."""
    from kafka_streams_common_spark.functions.vectors import (
        dot_product,
        l2_norm,
        to_double_array,
    )
    from kafka_streams_common_spark.operators.similarity import (
        hyperplane_lsh_near_dup_pairs,
    )

    from kafka_streams_common_spark.operators.similarity import (
        _pair_cosine_udf,
        embedding_near_dup_pairs,
    )

    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")

    # 1. Direct kernel pin over DIVERSE cosines: every pair of a corpus
    # sample, kernel score vs the exact JVM fold expression it replaces.
    vecs = emb.limit(50).select(
        F.col("vec_id").alias("id"), to_double_array("embedding").alias("v")
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    both = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            _pair_cosine_udf()(F.col("a.v"), F.col("b.v")).alias("kernel_score"),
            (
                dot_product(F.col("a.v"), F.col("b.v"))
                / (l2_norm(F.col("a.v")) * l2_norm(F.col("b.v")))
            ).alias("jvm_score"),
        )
        .collect()
    )
    assert len(both) > 1000
    for r in both:
        assert r["kernel_score"] == r["jvm_score"], r  # exact float64 equality

    # 2. Operator level, at the registered queries' shape (planted clones,
    # τ=0.95 — per-pair LSH miss probability ~2e-14, deterministic in
    # practice): banded+kernel-verified result equals the brute-force
    # quadratic definition exactly, scores included.
    planted = emb.unionAll(
        emb.select(
            (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    got = {
        (r["id_a"], r["id_b"], r["score"])
        for r in hyperplane_lsh_near_dup_pairs(planted, tau=0.95, dim=64).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["score"])
        for r in embedding_near_dup_pairs(planted, tau=0.95).collect()
    }
    assert got == want and len(want) > 0


def test_knn_block_rows_subblocks_identical(spark):
    """r17 ``block_rows`` (the ADVICE r16 skew item): salting the grouped
    cell blocks into bounded sub-blocks must not change ONE emitted edge
    or score — the per-probe top-k is sub-block-invariant because every
    true top-k member survives its own sub-block's local top-k and the
    final (score DESC, id ASC) window re-ranks the union. block_rows=3
    forces many sub-blocks per cell at fixture scale (cells ≫ 3 rows)."""
    from kafka_streams_common_spark.operators.similarity import knn_graph

    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")

    def rows(block_rows):
        return sorted(
            (r["vec_id"], r["neighbor_id"], r["score"])
            for r in knn_graph(
                emb, k=8, n_centroids=4, n_probe=2, block_rows=block_rows
            ).collect()
        )

    want = rows(None)
    assert want == rows(3)  # exact float64 equality, not approx
    assert want == rows(1)  # degenerate bound: one vector per sub-block


def test_lsh_match_prebuilt_sigs_bit_identical(spark):
    """r17 persisted-signature parameter (VERDICT r16 #3): supplying a
    prebuilt signature slice must be bit-identical to the operator
    computing that side itself — the signature kernels are
    row-deterministic, so slices of one shared pass ARE the per-side
    passes. Checked for both two-sided incremental forms."""
    from kafka_streams_common_spark.operators.dedup import (
        minhash_lsh_match,
        minhash_signatures,
    )
    from kafka_streams_common_spark.operators.similarity import (
        _hyperplane_bits_udf,
        hyperplane_lsh_match,
    )
    from kafka_streams_common_spark.functions.vectors import to_double_array
    from kafka_streams_common_spark.operators.dedup import fan_out

    docs = table(spark, SF_SMOKE, "documents")
    new_d = docs.filter(F.col("doc_id") % 10 == 0)
    cor_d = docs.filter(F.col("doc_id") % 10 != 0)
    base = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in minhash_lsh_match(new_d, cor_d, n=3, tau=0.8).collect()
    )
    shared = minhash_signatures(docs, n=3).localCheckpoint(eager=True)
    indexed = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in minhash_lsh_match(
            new_d,
            cor_d,
            n=3,
            tau=0.8,
            new_sigs=shared.filter(F.col("doc_id") % 10 == 0),
            corpus_sigs=shared.filter(F.col("doc_id") % 10 != 0),
        ).collect()
    )
    assert base == indexed and len(base) > 0

    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    new_v = emb.filter(F.col("vec_id") % 7 == 0)
    cor_v = emb.filter(F.col("vec_id") % 7 != 0)
    base_v = sorted(
        (r["new_id"], r["corpus_id"], r["score"])
        for r in hyperplane_lsh_match(new_v, cor_v, tau=0.3, dim=64).collect()
    )
    shared_v = (
        fan_out(emb)
        .select(
            "vec_id",
            _hyperplane_bits_udf(320, 64)(
                to_double_array(F.col("embedding"))
            ).alias("sig"),
        )
        .localCheckpoint(eager=True)
    )
    indexed_v = sorted(
        (r["new_id"], r["corpus_id"], r["score"])
        for r in hyperplane_lsh_match(
            new_v,
            cor_v,
            tau=0.3,
            dim=64,
            new_sigs=shared_v.filter(F.col("vec_id") % 7 == 0),
            corpus_sigs=shared_v.filter(F.col("vec_id") % 7 != 0),
        ).collect()
    )
    assert base_v == indexed_v and len(base_v) > 0


def _unrolled_band_keys(width, bands, per_entry):
    """The per-band Column tree the LSH operators built before
    ``_band_keys``: MinHash read each entry with ``element_at``, the
    hyperplane forms sliced each band. Kept as the bit-identity
    reference."""
    rows = width // bands

    def band(b):
        if per_entry:
            vals = [
                F.element_at("sig", b * rows + r + 1).cast("string")
                for r in range(rows)
            ]
        else:
            vals = [
                F.transform(
                    F.slice(F.col("sig"), b * rows + 1, rows),
                    lambda x: x.cast("string"),
                )
            ]
        return F.struct(
            F.lit(b).alias("band"), F.md5(F.concat_ws(",", *vals)).alias("bkey")
        )

    return F.array(*[band(b) for b in range(bands)])


@pytest.mark.parametrize(
    "sig_type,width,bands,draw,per_entry",
    [
        ("bigint", 128, 32, lambda r: r.randrange(0, 2**31 - 1), True),
        ("int", 320, 20, lambda r: r.randrange(2), False),
    ],
    ids=["minhash", "hyperplane"],
)
def test_band_keys_match_unrolled_reference(
    spark, sig_type, width, bands, draw, per_entry
):
    """``_band_keys`` (one higher-order expression) yields the same
    ``(id, band, bkey)`` rows as the unrolled per-band tree it replaced,
    on a seeded table of MinHash signatures and hyperplane bit arrays at
    their default widths."""
    import random

    from kafka_streams_common_spark.operators.dedup import _band_keys

    rng = random.Random(17)
    sigs = spark.createDataFrame(
        [(i, [draw(rng) for _ in range(width)]) for i in range(64)],
        f"id long, sig array<{sig_type}>",
    )
    want = sigs.select(
        "id", F.explode(_unrolled_band_keys(width, bands, per_entry)).alias("bs")
    ).select("id", "bs.band", "bs.bkey")
    got = sigs.select("id", F.inline(_band_keys(F.col("sig"), width, bands)))
    assert got.schema.simpleString() == want.schema.simpleString()
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 64 * bands


def test_lsh_match_rejects_wrong_width_sigs(spark):
    """A prebuilt signature of the wrong width fails the query with an
    error naming the expected width, instead of hashing short bands."""
    from pyspark.errors import SparkRuntimeException

    from kafka_streams_common_spark.operators.dedup import minhash_lsh_match
    from kafka_streams_common_spark.operators.similarity import (
        hyperplane_lsh_match,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    short_mh = spark.createDataFrame(
        [(1, list(range(120)))], "doc_id long, sig array<bigint>"
    )
    with pytest.raises(SparkRuntimeException, match="128 entries, got 120"):
        minhash_lsh_match(docs, docs, new_sigs=short_mh).collect()

    vecs = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [0.5] * 64)], "vec_id long, embedding array<double>"
    )
    short_hp = spark.createDataFrame(
        [(1, [1] * 300)], "vec_id long, sig array<int>"
    )
    with pytest.raises(SparkRuntimeException, match="320 entries, got 300"):
        hyperplane_lsh_match(vecs, vecs, dim=64, corpus_sigs=short_hp).collect()


def test_integral_id_precondition_fails_fast(spark):
    """r17 (the ADVICE r16 item): the r16 Arrow block kernels materialize
    ids as int64, so non-integral id columns must fail fast with a clear
    TypeError instead of an opaque kernel cast error."""
    from kafka_streams_common_spark.operators.similarity import (
        ivf_cosine_topk,
        knn_graph,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integral"):
        knn_graph(df, k=1, n_centroids=1, n_probe=1)
    q = spark.createDataFrame([("q", [1.0, 0.0])], "q_id string, q_emb array<double>")
    ok_corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integral"):
        ivf_cosine_topk(ok_corpus, q, k=1, n_centroids=1, n_probe=1)


def test_assign_probes_null_and_ragged_rows_skipped(spark):
    """r17 dirty-data contract (the ADVICE r16 item): a NULL embedding or
    one whose length differs from the centroid dimension is silently
    dropped — it joins no cell as home and probes nothing — instead of
    crashing the Arrow kernel's ``np.vstack``. Clean rows' edges are
    unchanged (pre-r16 HOF behavior restored)."""
    from kafka_streams_common_spark.operators.similarity import knn_graph

    clean = [
        (i, [float(i == j) + 0.01 * j for j in range(4)]) for i in range(8)
    ]
    dirty = [(100, None), (101, [1.0, 2.0])]  # null + ragged (dim 2 vs 4)
    clean_df = spark.createDataFrame(clean, "vec_id long, embedding array<double>")
    dirty_df = spark.createDataFrame(
        clean + dirty, "vec_id long, embedding array<double>"
    )
    want = sorted(
        (r["vec_id"], r["neighbor_id"], r["score"])
        for r in knn_graph(clean_df, k=3, n_centroids=2, n_probe=2).collect()
    )
    got = sorted(
        (r["vec_id"], r["neighbor_id"], r["score"])
        for r in knn_graph(dirty_df, k=3, n_centroids=2, n_probe=2).collect()
    )
    assert got == want and len(want) > 0
    assert not any(v in (100, 101) or n in (100, 101) for v, n, _ in got)


def test_lloyd_refine_skips_ragged_rows(spark):
    """A ragged embedding gets no cell from the assignment kernel, so Lloyd
    refinement must leave it out of the centroid means: averaged in under
    a NULL ``c_id`` it formed a centroid the next step's kernel could not
    take ``int()`` of. Results equal the run without the ragged row."""
    schema = "vec_id long, embedding array<double>"
    clean = [(i, [float(i == j) + 0.01 * j for j in range(4)]) for i in range(8)]
    q = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.0, 0.0])], "q_id long, q_emb array<double>"
    )

    def run(rows):
        corpus = spark.createDataFrame(rows, schema)
        out = ivf_cosine_topk(corpus, q, k=3, n_centroids=2, n_probe=2, kmeans_iters=2)
        return sorted(tuple(r) for r in out.collect())

    want = run(clean)
    assert run(clean + [(101, [1.0, 2.0])]) == want and len(want) > 0


def test_connected_components_raise_at_iteration_cap(spark):
    """Both CC forms raise instead of returning labels that are not yet
    the component minima: label propagation needs one round per hop (a
    6-node path has diameter 5), and one star round cannot collapse a
    64-node path."""
    from kafka_streams_common_spark.operators.cluster import (
        connected_components,
        connected_components_two_phase,
    )

    def path(n):
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        return nodes, edges

    with pytest.raises(ValueError, match="max_iterations=3"):
        connected_components(*path(6), max_iterations=3)
    with pytest.raises(ValueError, match="max_iterations=1"):
        connected_components_two_phase(*path(64), max_iterations=1)


@pytest.mark.parametrize(
    "run",
    [
        lambda c, q: ivf_cosine_topk(c, q, k=1, n_centroids=2, n_probe=1),
        lambda c, q: ivf_cosine_topk(c, q, k=1, n_centroids=2, kmeans_iters=1),
        lambda c, q: knn_graph(c, k=1, n_centroids=2, n_probe=1),
        lambda c, q: ivf_int8_rerank_topk(c, q, k=1, n_centroids=2, n_probe=1),
        lambda c, q: cell_diverse_sample(c, n_per_cell=1, n_centroids=2),
        # supplied codebooks: the call goes straight to cell assignment
        lambda c, q: ivf_pq_topk(
            c,
            q,
            k=1,
            m=1,
            n_centroids=2,
            codebooks=c.sparkSession.createDataFrame(
                [(0, 0, [0.0, 0.0])], "sub_id int, code_id int, c array<double>"
            ),
        ),
    ],
    ids=[
        "ivf_cosine_topk",
        "ivf_cosine_topk_kmeans",
        "knn_graph",
        "ivf_int8_rerank_topk",
        "cell_diverse_sample",
        "ivf_pq_topk",
    ],
)
def test_ivf_operators_reject_empty_corpus(spark, run):
    """An empty corpus seeds no centroid, so no vector could be assigned
    a cell: every IVF operator raises the one ``empty centroid set``
    error while building the query."""
    corpus = spark.createDataFrame([], "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "q_id long, q_emb array<double>"
    )
    with pytest.raises(ValueError, match="empty centroid set"):
        run(corpus, queries)


@pytest.mark.parametrize("form", ["pairs", "match"])
def test_hyperplane_lsh_zero_norm_pair_never_emitted(spark, form):
    """A zero-norm vector scores 0/0 in verification. The contract is a
    NULL score, so the pair fails ``score >= tau`` and is never emitted,
    while the identical non-zero pair still is. (Spark orders NaN above
    every number, so a NaN score would pass any ``tau``.)"""
    from kafka_streams_common_spark.operators.similarity import (
        hyperplane_lsh_match,
        hyperplane_lsh_near_dup_pairs,
    )

    schema = "vec_id long, embedding array<double>"
    zero, v = [0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]
    params = dict(tau=0.5, dim=4, num_bits=16, bands=4)
    if form == "pairs":
        corpus = spark.createDataFrame([(0, zero), (1, zero), (2, v), (3, v)], schema)
        got = {
            (r["id_a"], r["id_b"])
            for r in hyperplane_lsh_near_dup_pairs(corpus, **params).collect()
        }
        assert got == {(2, 3)}
    else:
        new = spark.createDataFrame([(10, zero), (11, v)], schema)
        corpus = spark.createDataFrame([(0, zero), (1, v)], schema)
        got = {
            (r["new_id"], r["corpus_id"])
            for r in hyperplane_lsh_match(new, corpus, **params).collect()
        }
        assert got == {(11, 1)}

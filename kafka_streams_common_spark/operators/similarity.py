"""Similarity search over an ``array<float>`` embedding column.

- :func:`brute_force_cosine_topk` — exact top-k: the query set is broadcast
  (it is small by construction), the corpus streams once, and per-query
  ranking is a window over (query, score). Correct at any corpus size but
  O(|corpus|·|queries|) — the baseline and the oracle.
- :func:`ivf_cosine_topk` — IVF-style approximate search: corpus vectors are
  assigned to their nearest of C centroids (one broadcast join), queries
  probe the ``n_probe`` nearest cells, and scoring happens only inside
  probed cells — the 100 TB path (cuts scored pairs by ~C/n_probe).
- :func:`embedding_near_dup_pairs` — cosine near-duplicate pairs above a
  threshold; exact form for oracle-checkable semantics.

All vector math is built-in higher-order functions (functions.vectors) —
JVM-side, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_common_spark.functions.hashing import md5_int64
from kafka_streams_common_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    to_double_array,
)
from kafka_streams_common_spark.operators.dedup import (
    _band_keys,
    _bucket_pairs,
    _cap_buckets,
    fan_out,
)


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query: ``(q_id, vec_id, score)`` for
    ``(vec_id, embedding)`` corpus rows and ``(q_id, q_emb)`` queries.

    Deterministic ranking: (score desc, vec_id asc) is a total order, so
    results are stable under any parallelism. Self-matches are excluded.

    Plan note: this intentionally compiles to a BroadcastNestedLoopJoin —
    the corpus streams through ONCE scoring each row against the broadcast
    query set; for exact scoring against a small query set that is the
    optimal shape, not an accident (plan audited).
    """
    # precompute per-vector norms once (linear pass) instead of per pair;
    # the per-pair score dot/(na*nb) stays bit-identical to the inline form
    corpus_n = fan_out(corpus).select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("__cn")
    )
    queries_n = queries.select(
        "q_id", "q_emb", l2_norm(F.col("q_emb")).alias("__qn")
    )
    scored = (
        corpus_n.crossJoin(F.broadcast(queries_n))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            F.col("q_id"),
            F.col("vec_id"),
            (
                dot_product(F.col("embedding"), F.col("q_emb"))
                / (F.col("__cn") * F.col("__qn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "score")
    )


def _centroid_rows(
    centroids: DataFrame | None,
    frame: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
) -> list:
    """The collected IVF centroid set ``(c_id, c_emb double[])`` every IVF
    operator closes into the :func:`_assign_probes_udf` kernel.

    ``centroids=None`` seeds the ``n_centroids`` lowest-id vectors of
    ``frame[id_col, vec_col]``: deterministic, which is the form the SQL
    oracles replay, and a TakeOrderedAndProject (partial top-N per
    partition, merged on the driver) that never funnels the corpus
    through one partition the way a row_number over an unpartitioned
    window would. The collect holds at most ``n_centroids`` rows, the
    same constant-size driver state as centroid training. An empty set
    raises ``ValueError("empty centroid set")``: no vector could be
    assigned a cell."""
    if centroids is None:
        centroids = (
            frame.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_emb"))
            .orderBy(F.asc("c_id"))
            .limit(n_centroids)
        )
    rows = centroids.select(
        "c_id", to_double_array(F.col("c_emb")).alias("c_emb")
    ).collect()
    if not rows:
        raise ValueError("empty centroid set")
    return rows


def _lloyd_refine(corpus: DataFrame, n_centroids: int, iters: int) -> DataFrame:
    """Refine the seeded IVF centroids (:func:`_centroid_rows`) of a
    ``(vec_id, embedding)`` corpus with ``iters`` Lloyd (k-means) steps.

    Each step: assign every corpus vector to its nearest centroid (the
    map-only :func:`_assign_probes_udf` kernel over the collected
    centroid set), then recompute each centroid as the element-wise
    mean of its members via posexplode → avg per (cell, dim) →
    re-assemble in dim order. Shuffle volume per step is O(rows·dim)
    narrow (cell, dim, x) triples with map-side partial aggregation;
    empty cells simply drop out. Deterministic given deterministic
    seeding (double-avg ordering aside, which is why the hash-gated
    driver query keeps iters=0 — see queries/similarity.py). Same
    unique-``vec_id`` precondition as :func:`ivf_cosine_topk` (duplicate
    ids would double-weight their vectors in the mean).
    """
    centroids = None
    for _ in range(iters):
        cent_rows = _centroid_rows(centroids, corpus, "vec_id", "embedding", n_centroids)
        # a null or ragged vector gets no cell: keep it out of the means,
        # or it forms a NULL-keyed centroid the next step cannot assign to
        assigned = corpus.select(
            F.col("embedding"),
            F.element_at(
                _assign_probes_udf(cent_rows, 1)(
                    to_double_array(F.col("embedding"))
                )["cells"],
                1,
            ).alias("c_id"),
        ).where(F.col("c_id").isNotNull())
        centroids = (
            assigned.select("c_id", F.posexplode(to_double_array(F.col("embedding"))))
            .groupBy("c_id", "pos")
            .agg(F.avg("col").alias("x"))
            .groupBy("c_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "x"))),
                    lambda s: s.x,
                ).alias("c_emb")
            )
        )
    return centroids


def collect_training_sample(
    corpus: DataFrame,
    sample_size: int,
) -> list:
    """The deterministic md5-ordered training sample both index trainers
    draw from: the ``sample_size`` rows with the smallest
    ``(md5(vec_id), vec_id)`` key, as ``(__id, __v)`` rows holding
    ``vec_id`` and ``embedding`` (TakeOrderedAndProject — partial top-N per
    partition, constant-size driver merge). A prefix of a larger sample
    IS the smaller sample, so one collect can feed trainers of different
    sizes with bit-identical inputs."""
    return (
        corpus.select(
            F.col("vec_id").alias("__id"),
            to_double_array(F.col("embedding")).alias("__v"),
            md5_int64("vec_id").alias("__h"),
        )
        .orderBy(F.asc("__h"), F.asc("__id"))
        .limit(sample_size)
        .collect()
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    _sample_rows: list | None = None,
) -> DataFrame:
    """Deterministic sampled k-means++ centroid training for IVF over the
    ``(vec_id, embedding)`` corpus, then 10 spherical Lloyd iterations.

    Scale shape: the ONLY corpus-scale work is a deterministic sample —
    the ``n_centroids · 32`` vectors with the smallest
    md5(vec_id) (TakeOrderedAndProject: partial top-N per partition, merge on
    the driver — never a global sort, and md5 ordering is uniform i.i.d.
    regardless of how ids cluster). The sample is CONSTANT-SIZED in the
    corpus (k·32 rows ≈ a few hundred KB at any corpus scale), so running
    k-means++ init + Lloyd iterations driver-side in numpy is not a
    driver-loop anti-pattern: it is the standard "train on a sample,
    apply distributed" split (the apply side — cell assignment — stays a
    broadcast join in :func:`ivf_cosine_topk`). Everything is seeded:
    md5 sampling, ``numpy.random.default_rng(0)`` for k-means++ — the
    same corpus always yields the same centroids, on any cluster.

    Spherical k-means: vectors are L2-normalized so nearest-by-cosine =
    nearest-by-dot; empty cells re-seed to the point farthest from its
    current centroid (deterministic argmax, lowest index on ties).

    ``_sample_rows`` (r16): a caller that trains several index layers
    from the same corpus can collect the md5-ordered sample ONCE
    (:func:`collect_training_sample`) and pass the prefix-sliced rows
    in, skipping this function's own TakeOrdered+collect job — the rows
    are identical by construction (same total order), so results are
    unchanged.
    """
    import numpy as np

    spark = corpus.sparkSession
    sample_size = n_centroids * 32
    rows = (
        _sample_rows[:sample_size]
        if _sample_rows is not None
        else collect_training_sample(corpus, sample_size)
    )
    X = np.asarray([r["__v"] for r in rows], dtype="float64")
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n = len(Xn)
    k = min(n_centroids, n)
    rng = np.random.default_rng(0)

    # k-means++ init on cosine distance (1 - dot of normalized vectors)
    first = int(rng.integers(n))
    centers = [Xn[first]]
    d = 1.0 - Xn @ centers[0]
    for _ in range(1, k):
        w = np.maximum(d, 0.0)
        probs = w / w.sum() if w.sum() > 0 else np.full(n, 1.0 / n)
        nxt = int(rng.choice(n, p=probs))
        centers.append(Xn[nxt])
        d = np.minimum(d, 1.0 - Xn @ centers[-1])
    C = np.vstack(centers)

    for _ in range(10):
        sims = Xn @ C.T  # n×k
        assign = sims.argmax(axis=1)
        for c in range(k):
            members = Xn[assign == c]
            if len(members) == 0:
                # re-seed an empty cell at the worst-served point
                worst = int((sims.max(axis=1)).argmin())
                C[c] = Xn[worst]
            else:
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)

    return spark.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(k)],
        "c_id bigint, c_emb array<double>",
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed approximate cosine top-k: ``(q_id, vec_id, score)``.

    ``centroids`` (``(c_id, c_emb)``, e.g. from
    :func:`train_ivf_centroids`) is the production path — trained
    centroids are what make the cell partition match the data and lift
    recall (pinned ≥ 0.8 vs brute force in pytest). Without it, centroids
    seed as the ``n_centroids`` lowest-id corpus vectors (deterministic,
    TakeOrderedAndProject), optionally refined with ``kmeans_iters`` Lloyd
    steps (:func:`_lloyd_refine`) — the seeded form is what the hash-gated
    driver query replays in SQL (a trained-centroid run is gated by the
    recall pytest instead).
    Corpus→cell assignment is a map-only Arrow kernel over the collected
    centroids (:func:`_centroid_rows`); each query probes its ``n_probe``
    nearest cells, so only ~n_probe/n_centroids of the corpus is scored
    per query (:func:`_cell_topk`). Approximate: recall < 1 when a true
    neighbor lives in an unprobed cell (tested against the brute-force
    baseline).

    Reads ``(vec_id, embedding)`` corpus rows and ``(q_id, q_emb)``
    queries. PRECONDITION: ``vec_id`` must be unique per corpus row:
    self-matches are excluded by id and score ties rank by id, so
    duplicate ids make both ambiguous. Uniqueness is asserted in the
    pytest suite; real embedding stores key on a unique vector id by
    construction. ``vec_id``/``q_id`` must be INTEGRAL types (checked — see :func:`_require_integral_ids`);
    narrower ints widen to bigint in the output.
    """
    _require_integral_ids(corpus, "vec_id", "ivf_cosine_topk")
    _require_integral_ids(queries, "q_id", "ivf_cosine_topk")
    if centroids is None and kmeans_iters:
        centroids = _lloyd_refine(corpus, n_centroids, kmeans_iters)
    cent_rows = _centroid_rows(centroids, corpus, "vec_id", "embedding", n_centroids)
    corpus = fan_out(corpus)
    assigned = corpus.select(
        F.col("vec_id").alias("__id"),
        to_double_array(F.col("embedding")).alias("__v"),
        _assign_probes_udf(cent_rows, 1)(
            to_double_array(F.col("embedding"))
        ).alias("__a"),
    ).select(
        "__id",
        "__v",
        F.col("__a.n").alias("__n"),
        F.element_at("__a.cells", 1).alias("cell"),
    )
    probes = queries.select(
        F.col("q_id").alias("__qid"),
        to_double_array(F.col("q_emb")).alias("__qv"),
        _assign_probes_udf(cent_rows, n_probe)(
            to_double_array(F.col("q_emb"))
        ).alias("__a"),
    ).select(
        "__qid",
        "__qv",
        F.col("__a.n").alias("__qn"),
        F.explode("__a.cells").alias("cell"),
    )
    return _cell_topk(assigned, probes, k).select(
        F.col("__q").alias("q_id"), F.col("__nb").alias("vec_id"), "score"
    )


def _cell_topk(
    home: DataFrame, probes: DataFrame, k: int, block_rows: int | None = None
) -> DataFrame:
    """Per-probe top-``k`` over IVF cells: ``(__q, __nb, score)``, ranked
    ``(score desc, __nb asc)`` with self-matches excluded. ``home`` rows
    are ``(cell, __id, __v, __n)``, ``probes`` rows ``(cell, __qid, __qv,
    __qn)``; a probe scores every home vector of each cell it visits.

    Each side is grouped into one row per cell, so every vector crosses
    the exchange once instead of once per candidate pair, and each
    (home block, probe block) scores in :func:`_block_topk_udf`, which
    emits only each probe's block-local top-k. Because (score desc, id
    asc) is a strict total order, the global top-k is the top-k of the
    union of the block-local lists, so the final window ranks at most
    (blocks visited)·k rows per probe, not every candidate.

    ``block_rows`` bounds the physical size of a grouped block: a modal
    class of m near-identical vectors would otherwise put m full vectors
    in one ``collect_list`` row (Spark's 2 GiB row buffer at corpus
    scale). Each side then splits into ``ceil(|cell side| / block_rows)``
    sub-blocks by ``xxhash64`` of the id (deterministic, never rand())
    and the cell join crosses sub-blocks, so every (home, probe) pair
    still meets exactly once and the union argument above keeps the
    result identical."""

    def blocks(side: DataFrame, id_c: str, cols: list[str], out: str) -> DataFrame:
        if block_rows is not None:
            cnt = side.groupBy("cell").agg(F.count(F.lit(1)).alias("__cnt"))
            side = side.join(cnt, "cell").withColumn(
                "__sub",
                F.pmod(F.xxhash64(id_c), F.ceil(F.col("__cnt") / F.lit(block_rows))),
            )
            keys = ["cell", "__sub"]
        else:
            keys = ["cell"]
        grouped = side.groupBy(*keys).agg(F.collect_list(F.struct(*cols)).alias(out))
        return grouped.drop("__sub")

    home_g = blocks(home, "__id", ["__id", "__v", "__n"], "hs")
    probe_g = blocks(probes, "__qid", ["__qid", "__qv", "__qn"], "ps")
    pairs = (
        home_g.join(probe_g, "cell")
        .select(_block_topk_udf(k)(F.col("hs"), F.col("ps")).alias("__tk"))
        .select(F.explode("__tk").alias("t"))
        .select(
            F.col("t.q").alias("__q"),
            F.col("t.nb").alias("__nb"),
            F.col("t.sc").alias("score"),
        )
    )
    rank_w = Window.partitionBy("__q").orderBy(F.desc("score"), F.asc("__nb"))
    return (
        pairs.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= k)
        .select("__q", "__nb", "score")
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
    max_cell: int | None = None,
    block_rows: int | None = None,
) -> DataFrame:
    """Distributed k-NN GRAPH construction — every corpus vector gets its
    approximate ``k`` nearest neighbors as an edge list ``(vec_id,
    neighbor_id, score)``: the input to SemDeDup-style semantic-dedup
    clustering and corpus-scale label diagnostics (the documented 100 TB
    swap named in ``sim_knn_label_accuracy``).

    Scale shape (IVF-blocked candidate join, never all-pairs):

    - ``centroids`` (``(c_id, c_emb)``, e.g. :func:`train_ivf_centroids`)
      default to the ``n_centroids`` lowest-id corpus vectors. Either
      way they are collected once (:func:`_centroid_rows`) and closed
      into the Arrow assignment kernel (:func:`_assign_probes_udf`),
      which makes home-cell assignment AND probe selection one map-only
      pass: zero exchanges before the single cell-keyed candidate join.
    - Each vector probes its ``n_probe`` nearest cells; candidates =
      vectors whose HOME cell is probed, so scored pairs ≈
      ``n_probe/C · |corpus|²`` instead of ``|corpus|²``.
    - The assignment scan is ``localCheckpoint``'d once and feeds both
      join sides (the banded-join signature-checkpoint rationale).
    - ``max_cell`` caps hot HOME cells (:func:`_cap_buckets`, the
      near-dup operators' bucket cap): a modal embedding class
      (near-identical vectors) floods its cell with m members and the
      join enumerates ``n_probe·m²`` candidates; the cap prunes those
      CANDIDATES (capped-cell vectors still probe outward and keep
      their own edges into cold cells) and routes the modal class to
      exact dedup, the established trade. It also bounds the per-cell
      block the scoring kernel holds in memory.
    - ``block_rows`` bounds the PHYSICAL row size of the grouped cell
      blocks on BOTH sides, so an uncapped hot cell can never form a
      multi-GB single Spark row. ``None`` keeps one block per cell.
    - Candidate scoring + per-cell top-k run as ONE vectorized Arrow
      kernel per (cell, probe-block) — :func:`_cell_topk`, which carries
      the result-equivalence argument for the blocks and the final
      window.

    Approximate: recall < 1 when a true neighbor's home cell is not
    probed (pinned vs brute force in pytest). Deterministic end to end:
    seeding, assignment, probing, and ranking are total orders with
    explicit tie-breaks, so a SQL oracle replays the identical graph.
    Reads ``vec_id`` and ``embedding``. PRECONDITION: ``vec_id`` unique
    per row (as in ``ivf_cosine_topk``)
    and INTEGRAL (checked — see :func:`_require_integral_ids`; narrower
    ints widen to bigint in the output).
    """
    _require_integral_ids(corpus, "vec_id", "knn_graph")
    cent_rows = _centroid_rows(centroids, corpus, "vec_id", "embedding", n_centroids)
    corpus = fan_out(corpus)
    base = corpus.select(
        F.col("vec_id").alias("__id"),
        to_double_array(F.col("embedding")).alias("__v"),
        _assign_probes_udf(cent_rows, n_probe)(
            to_double_array(F.col("embedding"))
        ).alias("__a"),
    ).select(
        "__id",
        "__v",
        F.col("__a.n").alias("__n"),
        F.col("__a.cells").alias("__probes"),
    ).localCheckpoint(eager=True)
    home = base.select(
        "__id", "__v", "__n", F.element_at("__probes", 1).alias("cell")
    )
    home = _cap_buckets(home, ["cell"], max_cell)
    probes = base.select(
        F.col("__id").alias("__qid"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
        F.explode("__probes").alias("cell"),
    )
    return _cell_topk(home, probes, k, block_rows).select(
        F.col("__q").alias("vec_id"), F.col("__nb").alias("neighbor_id"), "score"
    )


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.35,
    k: int = 8,
    n_centroids: int = 16,
    n_probe: int = 2,
    max_cell: int | None = None,
    block_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication over an embedding corpus of
    ``(vec_id, embedding)`` rows — the composition the k-NN graph exists
    for: build the approximate k-NN edge list (:func:`knn_graph`, its
    centroids seeded from the corpus), keep edges with cosine ≥ ``tau``,
    collapse them into clusters with large-star/small-star rounds
    (:func:`operators.cluster.connected_components_two_phase` —
    singletons keep their own id), and mark each cluster's canonical
    (min-id) member as the survivor. Returns
    ``(vec_id, cluster_id, keep)`` — the keep list a curation pipeline
    semi-joins against the document store (bodies never enter the
    clustering shuffles, the ``dedup_apply_canonical_corpus``
    discipline).

    Scale shape: inherits the k-NN graph's IVF blocking (candidates ≈
    n_probe/C · |corpus|², cell-count grown with the corpus), the
    ``max_cell`` hot-cell cap, the ``block_rows`` physical row-size
    bound on the grouped cell blocks, and two-phase CC with per-round
    localCheckpoints, which takes O(log n) rounds whatever the clusters'
    diameter (the thresholded sf0.1 graph of ``sim_semantic_dedup``
    needs 21 min-label rounds, past that engine's cap of 20, and 6 here).
    The threshold prunes the edge list BEFORE the first CC exchange, so
    cluster work scales with near-duplicate mass, not graph size."""
    edges = (
        knn_graph(
            corpus,
            k=k,
            n_centroids=n_centroids,
            n_probe=n_probe,
            max_cell=max_cell,
            block_rows=block_rows,
        )
        .filter(F.col("score") >= tau)
        .select(F.col("vec_id").alias("doc_a"), F.col("neighbor_id").alias("doc_b"))
    )
    from kafka_streams_common_spark.operators.cluster import (
        connected_components_two_phase,
    )

    cc = connected_components_two_phase(
        corpus.select("vec_id"), edges, node_col="vec_id"
    )
    return cc.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.col("cluster_id")).alias("keep"),
    )


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral_ids(df: DataFrame, col: str, op: str) -> None:
    """Fail fast on non-integral id columns (r17, the ADVICE r16 item):
    the r16 block kernels materialize ids as int64 (numpy arrays, bigint
    return type), so a string/decimal id would crash inside the Arrow
    kernel with an opaque cast error — and silently narrow the output id
    type. Pre-r16 these operators were type-generic; the kernels trade
    that for the ~10²× scoring win, so the precondition is CHECKED, not
    implied. Narrower integer ids still work but widen to bigint in the
    output."""
    dt = dict(df.dtypes).get(col)
    if dt not in _INTEGRAL_TYPES:
        raise TypeError(
            f"{op}: id column {col!r} must be an integral type for the "
            f"Arrow block kernels (got {dt}); map string/decimal ids to a "
            "surrogate integer key upstream"
        )


def _block_topk_udf(k: int):
    """Arrow kernel for the kNN cell-block scoring stage: one input row per
    IVF cell — the cell's home vectors ``hs = [(__id, __v, __n)]`` and the
    probes visiting it ``ps = [(__qid, __qv, __qn)]`` — returns each
    probe's cell-local top-``k`` as ``array<struct<q, nb, sc>>``.

    Why it exists (r16, guide §4.2/§8): Spark evaluates higher-order-
    function lambdas by interpreting the expression tree per ELEMENT — the
    old pair-explode scoring walked ~10⁸ interpreted fold steps at sf0.1
    and shuffled two full vectors per candidate pair (measured 56 s for the
    planted-corpus scoring stage). Here every vector crosses the exchange
    ONCE (grouped per cell) and the pair work is vectorized numpy.

    Exactness contract (the repo's Arrow-kernel convention):

    - per-pair score = sequential-fold dot / (qn·vn), accumulated with
      index-ordered rank-1 numpy updates — each step adds the SAME IEEE
      double product the JVM ``F.aggregate`` fold adds, in the same order
      (numpy's ``np.dot``/``np.sum`` would round DIFFERENTLY — pairwise/
      SIMD summation — and are deliberately not used), so every score is
      bit-identical to the inline ``cosine_similarity`` (and to the
      oracle's ``list_sum(list_transform(...))`` replay); pinned by
      ``tests/test_operators.py::test_knn_block_kernel_bit_identical``;
    - per-probe ranking replays Spark's ``(score DESC, id ASC)`` window
      order including NaN-greatest semantics (NaN sorts as +inf here;
      fixture norms are all nonzero so the branch is dormant);
    - probe blocks are processed in bounded chunks so kernel memory stays
      O(chunk·|cell|) regardless of cell size (the ``max_cell`` cap bounds
      |cell| itself where template skew is a risk).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def block_topk(hs: pd.Series, ps: pd.Series) -> pd.Series:
        out = []
        for h_rows, p_rows in zip(hs, ps):
            if len(h_rows) == 0 or len(p_rows) == 0:
                out.append([])
                continue
            hid = np.asarray([r["__id"] for r in h_rows], dtype="int64")
            H = np.asarray([r["__v"] for r in h_rows], dtype="float64")
            hn = np.asarray([r["__n"] for r in h_rows], dtype="float64")
            qid = np.asarray([r["__qid"] for r in p_rows], dtype="int64")
            Q = np.asarray([r["__qv"] for r in p_rows], dtype="float64")
            qn = np.asarray([r["__qn"] for r in p_rows], dtype="float64")
            d = H.shape[1]
            res = []
            chunk = max(1, (1 << 22) // max(len(hid), 1))
            for s in range(0, len(qid), chunk):
                Qc, qidc, qnc = Q[s : s + chunk], qid[s : s + chunk], qn[s : s + chunk]
                acc = np.zeros((len(qidc), len(hid)), dtype="float64")
                for j in range(d):  # sequential left fold, same order as JVM
                    acc += Qc[:, j : j + 1] * H[:, j][None, :]
                sc = acc / (qnc[:, None] * hn[None, :])
                # Spark window order: score DESC (NaN greatest), id ASC
                key = np.where(np.isnan(sc), np.inf, sc)
                for i in range(len(qidc)):
                    mask = hid != qidc[i]  # self-match excluded
                    ids_i = hid[mask]
                    sc_i = sc[i][mask]
                    key_i = key[i][mask]
                    order = np.lexsort((ids_i, -key_i))[:k]
                    res.extend(
                        {"q": int(qidc[i]), "nb": int(ids_i[o]), "sc": float(sc_i[o])}
                        for o in order
                    )
            out.append(res)
        return pd.Series(out)

    block_topk.__annotations__ = {
        "hs": pd.Series,
        "ps": pd.Series,
        "return": pd.Series,
    }
    # asNondeterministic: guide §4.4 — the downstream explode's implicit
    # (size > 0 AND isnotnull) filter gets pushed below the projection
    # WITH A COPY of the UDF, so the whole block-scoring kernel ran twice
    # (two ArrowEvalPython nodes in the pre-fix plan). The kernel is
    # functionally deterministic; the flag only forbids the optimizer
    # from duplicating/reordering it — values unchanged (oracle-gated).
    return pandas_udf(
        block_topk, "array<struct<q: bigint, nb: bigint, sc: double>>"
    ).asNondeterministic()


def _assign_probes_udf(cent_rows, n_probe: int):
    """Arrow kernel for the kNN home/probe cell assignment: per corpus row,
    the L2 norm and the ``n_probe`` nearest centroid ids, best-first with
    the ``(score DESC, c_id ASC)`` tie-break the SQL oracles spell.

    Replaces the interpreted per-row ``transform``+``sort_array`` over the
    centroid literal array (|corpus|·C·dim interpreted fold steps — the
    second-largest term after candidate scoring once that stage moved to
    the block kernel). Bit-exactness: norms and per-centroid dots use the
    same sequential left-fold accumulation as the JVM expressions
    (``np.cumsum`` prefix / index-ordered rank-1 updates — see
    _block_topk_udf), centroid norms are folded the same way from the same
    collected doubles, and the ranking key replays Spark's NaN-greatest
    DESC order. Only the cell IDS leave the kernel — the sorted struct's
    score fields were dead columns downstream.

    Dirty-data contract (r17, the ADVICE r16 item): a NULL embedding, or
    one whose length differs from the centroid dimension, is SKIPPED —
    the kernel emits ``(n=NaN, cells=NULL)`` for that row, so it joins no
    cell as home (null keys drop from the cell equi-join) and probes
    nothing (explode of a null array emits no rows): such rows never
    emit edges and never appear as neighbors, instead of failing the
    task the way the raw ``np.vstack`` did (the pre-r16 HOF fold dropped
    them via null scores; this restores drop-not-crash).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    cid = np.asarray([int(r["c_id"]) for r in cent_rows], dtype="int64")
    C = np.asarray([r["c_emb"] for r in cent_rows], dtype="float64")
    cn = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
    dim = C.shape[1]

    def assign(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"n": pd.Series([], dtype="float64"),
                                 "cells": pd.Series([], dtype=object)})
        vals = vs.to_numpy()
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vals),
            dtype=bool,
            count=len(vals),
        )
        n_out = np.full(len(vals), np.nan, dtype="float64")
        cells_out: list = [None] * len(vals)
        if ok.any():
            V = np.vstack(vals[ok])
            vn = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            acc = np.zeros((len(V), len(cid)), dtype="float64")
            for j in range(V.shape[1]):  # sequential left fold, JVM order
                acc += V[:, j : j + 1] * C[:, j][None, :]
            sc = acc / (vn[:, None] * cn[None, :])
            key = np.where(np.isnan(sc), np.inf, sc)
            for row, i in enumerate(np.nonzero(ok)[0]):
                n_out[i] = vn[row]
                cells_out[i] = [
                    int(cid[o]) for o in np.lexsort((cid, -key[row]))[:n_probe]
                ]
        return pd.DataFrame({"n": n_out, "cells": cells_out})

    assign.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
    # asNondeterministic: same §4.4 duplication guard as _block_topk_udf —
    # the cell join key's implicit not-null filter was pushed below the
    # fan_out exchange with a second copy of this kernel (assignment ran
    # twice per corpus row in the pre-fix plan)
    return pandas_udf(assign, "struct<n: double, cells: array<bigint>>").asNondeterministic()


def _hyperplanes(num_bits: int, dim: int) -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes seeded by md5 — same
    signature on every run/engine, which is what lets the banded result be
    asserted against a brute-force oracle."""
    import hashlib

    out = []
    for j in range(num_bits):
        digest = b""
        while len(digest) < dim:
            digest += hashlib.md5(f"hp:{j}:{len(digest)}".encode()).digest()
        out.append([1.0 if byte & 1 else -1.0 for byte in digest[:dim]])
    return out


def _hyperplane_bits_udf(num_bits: int, dim: int):
    """Arrow-batched signature kernel: one numpy matmul per batch.

    The HOF spelling (``transform`` over 128 ``aggregate`` folds) is
    semantically identical but evaluates ~num_bits·dim interpreted lambda
    steps per row — measured ~6 s for 4k vectors at sf0.1, 95% of the
    near-dup query. A ``(batch×dim) @ (dim×num_bits)`` matmul does the same
    work vectorized; this is exactly the "vectorized Pandas UDF for
    embedding columns" seam the engine reserves for when built-in
    expressions can't stay on the fast path. Sign bits only need to be
    self-consistent within a run (they gate candidate RECALL, not emitted
    scores — those are exact JVM folds), so float summation order here is
    immaterial.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    H = np.asarray(_hyperplanes(num_bits, dim), dtype="float64").T  # dim×bits

    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # Arrow can deliver empty batches; vstack would raise
            return pd.Series([], dtype=object)
        if v.isna().any():
            raise ValueError(
                "hyperplane LSH: null embedding in batch — filter nulls upstream"
            )
        M = np.vstack(v.to_numpy())  # batch×dim
        bits = (M @ H >= 0.0).astype("int32")
        return pd.Series(list(bits))

    # explicit annotations (not the PEP-563 strings this module defers to)
    sig.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(sig, "array<int>")


def _pair_cosine_udf():
    """Arrow kernel for the LSH VERIFY stage: exact cosine per candidate
    pair ``(va, vb) -> dot/(||va||·||vb||)``.

    Why it exists (r17, guide §4.2 — the verify-stage twin of the r16
    block kernels): the JVM spelling is three interpreted ``F.aggregate``
    folds per pair (dot + both norms ≈ 3·dim lambda steps, ~200
    interpreted steps per candidate at dim 64), the same per-element
    interpreter cost the kNN scoring kernel removed. Here the folds run
    vectorized over the Arrow batch. Pair emission (banding, bucket
    equi-join, distinct) stays in the JVM — this kernel only SCORES the
    pairs the bands already emitted, so candidate RECALL is untouched
    and the equivalence claim is purely per-pair arithmetic, not a
    ranking/union argument.

    Exactness contract (the repo's Arrow-kernel convention):
    every accumulation is an index-ordered sequential left fold from
    0.0 — ``acc += A[:,j]*B[:,j]`` step by step — adding the SAME IEEE
    double each ``F.aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)``
    step adds, in the same order (``np.dot``/``np.einsum`` would round
    differently and are deliberately not used); norms are
    ``sqrt(fold(x*x))`` exactly as :func:`l2_norm` composes them, and
    the final expression replays ``dot / (sqrt(na) * sqrt(nb))`` with
    the same operation tree. Pinned bit-identical against the JVM folds
    by ``tests/test_operators.py::test_pair_cosine_kernel_bit_identical``.

    Dirty-data contract: a NULL or length-mismatched vector in a pair
    yields a NULL score, and so does a zero-norm vector (0/0 is NaN,
    which the Arrow conversion returns as NULL). A NULL score fails the
    ``score >= tau`` filter, so such a pair is never emitted; the task
    does not crash. (Spark orders NaN above every number, so a NaN
    score would have passed any ``tau``.) Pinned by
    ``tests/test_operators.py::test_hyperplane_lsh_zero_norm_pair_never_emitted``.

    asNondeterministic: guide §4.4 — the downstream ``score >= tau``
    filter references the kernel's output column and would otherwise be
    pushed below the projection WITH A COPY of the kernel (the
    duplicated-ArrowEvalPython shape the r16 fix documented). The
    kernel is functionally deterministic; the flag only forbids
    duplication/reordering — values unchanged (oracle-gated)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def score(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a_vals = va.to_numpy()
        b_vals = vb.to_numpy()
        ok = np.fromiter(
            (
                x is not None
                and y is not None
                and len(x) == len(y)
                for x, y in zip(a_vals, b_vals)
            ),
            dtype=bool,
            count=len(a_vals),
        )
        out = np.full(len(a_vals), np.nan, dtype="float64")
        if ok.any():
            A = np.vstack(a_vals[ok])
            B = np.vstack(b_vals[ok])
            dot = np.zeros(len(A), dtype="float64")
            na = np.zeros(len(A), dtype="float64")
            nb = np.zeros(len(A), dtype="float64")
            for j in range(A.shape[1]):  # sequential left fold, JVM order
                aj = A[:, j]
                bj = B[:, j]
                dot += aj * bj
                na += aj * aj
                nb += bj * bj
            out[ok] = dot / (np.sqrt(na) * np.sqrt(nb))
        return pd.Series(out)

    score.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    return pandas_udf(score, "double").asNondeterministic()


def hyperplane_lsh_near_dup_pairs(
    corpus: DataFrame,
    tau: float = 0.9,
    dim: int = 64,
    num_bits: int = 320,
    bands: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-safe cosine near-dup pairs ``(id_a, id_b, score)``, a < b,
    score ≥ tau — random-hyperplane LSH candidates + exact verification,
    mirroring :func:`operators.dedup.minhash_lsh_pairs`.

    1. **Signatures** (one linear pass, zero shuffle): ``num_bits`` sign
       bits per vector, bit_j = sign(v · h_j) over deterministic ±1
       hyperplanes. The hyperplane matrix is one constant-folded array
       literal; the per-row work is a built-in HOF fold — JVM-side.
    2. **Banding**: bits split into ``bands`` groups of ``num_bits/bands``;
       bucket key = md5 of the group. Candidates come from an equi-join on
       (band, bucket) — never a cartesian/BNLJ; at 100 TB the shuffle
       carries (id, 16-byte key) rows, O(n·bands).
    3. **Verify**: exact double-fold cosine on the candidate pairs only,
       then ``score ≥ tau``.

    With 16 bits/band × 20 bands (320 signature bits), a true near-dup at
    cos 0.999 (θ≈2.6°, p=1−θ/π≈0.986 per bit) is missed with probability
    (1−0.986¹⁶)²⁰ ≈ 2e-14 — even over 10⁴ such pairs the aggregate odds of
    a single miss (and hence a spurious oracle hash-mismatch in the
    registered, brute-force-gated query) stay below 1e-9. An unrelated
    pair at cos 0.5 still collides per band with probability only
    0.667¹⁶ ≈ 0.15%, so the candidate set remains a vanishing fraction of
    n² (band count scales candidates linearly, not quadratically).
    Approximation is only in candidate RECALL; every emitted score is exact.
    """
    vecs = fan_out(corpus).select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("v"),
    )
    bits = _hyperplane_bits_udf(num_bits, dim)(F.col("v"))
    # materialize the signature table ONCE before the band self-join —
    # same rationale as the minhash/simhash signature checkpoints
    # (operators/dedup.py): without this the Arrow kernel AND the whole
    # upstream corpus scan re-execute once per join side (measured 2.3×
    # the one-pass cost at sf0.1 — the r3→r5 bench drift's cause: a
    # doubled Python-worker stage amplifies any ambient load). The table
    # is O(rows · num_bits · 4B) — at 100 TB this is the signature layer
    # one would persist to parquet anyway.
    sigs = vecs.select("id", bits.alias("sig")).localCheckpoint(eager=True)
    buckets = sigs.select("id", F.inline(_band_keys(F.col("sig"), num_bits, bands)))
    cand = (
        _bucket_pairs(buckets, ["band", "bkey"], "id")
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    # r17 verify kernel (guide §4.2): exact per-pair cosine, vectorized —
    # replaces three interpreted F.aggregate folds per candidate pair
    # (~3·dim lambda steps each). Bit-identical by construction and by
    # pinned test; candidate emission above is untouched.
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            _pair_cosine_udf()(F.col("va"), F.col("vb")).alias("score"),
        )
        .filter(F.col("score") >= tau)
    )


def hyperplane_lsh_match(
    new_vecs: DataFrame,
    corpus_vecs: DataFrame,
    tau: float = 0.9,
    dim: int = 64,
    num_bits: int = 320,
    bands: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    new_sigs: DataFrame | None = None,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental (two-sided) cosine near-dup matching:
    ``(new_id, corpus_id, score ≥ tau)`` — each NEW vector against the
    already-indexed CORPUS, the embedding twin of
    ``operators/dedup.py: minhash_lsh_match`` (ingest-time semantic
    dedup of a fresh batch against the index, without re-pairing
    corpus×corpus). Same signature/banding math and miss-probability
    analysis as :func:`hyperplane_lsh_near_dup_pairs`; candidates are
    NEW×CORPUS bucket collisions only, every emitted score is the exact
    double-fold cosine; both forms band through
    ``operators/dedup.py: _band_keys``.

    ``new_sigs`` / ``corpus_sigs`` (r17, guide §5/§6 — don't recompute
    what an index already persists): optionally supply PREBUILT
    signature tables ``(id_col, sig array<int>)`` — the persisted
    hyperplane-bit layer of a production index, or one shared in-run
    signature pass sliced two ways — and that side's signature pass
    (fan_out + Arrow matmul kernel + localCheckpoint) is skipped.
    Supplied bits MUST be :func:`_hyperplane_bits_udf` values for the
    same ``(num_bits, dim)`` over exactly that side's vectors; the
    kernel is row-deterministic, so slices of a superset signature
    table are bit-identical to recomputing and results cannot differ.
    Exact-cosine verification still reads the raw vectors. Supplied bits
    of the wrong width fail the query.
    """

    def buckets_of(
        df: DataFrame, out_id: str, prebuilt: DataFrame | None
    ) -> DataFrame:
        if prebuilt is not None:
            sigs = prebuilt.select(F.col(id_col).alias(out_id), "sig")
        else:
            vecs = fan_out(df).select(
                F.col(id_col).alias(out_id),
                to_double_array(F.col(vec_col)).alias("v"),
            )
            bits = _hyperplane_bits_udf(num_bits, dim)(F.col("v"))
            sigs = vecs.select(out_id, bits.alias("sig")).localCheckpoint(
                eager=True
            )
        return sigs.select(
            out_id, F.inline(_band_keys(F.col("sig"), num_bits, bands))
        )

    cand = (
        buckets_of(new_vecs, "new_id", new_sigs)
        .join(buckets_of(corpus_vecs, "corpus_id", corpus_sigs), ["band", "bkey"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    va = new_vecs.select(
        F.col(id_col).alias("new_id"),
        to_double_array(F.col(vec_col)).alias("va"),
    )
    vb = corpus_vecs.select(
        F.col(id_col).alias("corpus_id"),
        to_double_array(F.col(vec_col)).alias("vb"),
    )
    # r17 verify kernel — same replacement (and same bit-exactness
    # argument) as hyperplane_lsh_near_dup_pairs above
    return (
        cand.join(va, "new_id")
        .join(vb, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            _pair_cosine_udf()(F.col("va"), F.col("vb")).alias("score"),
        )
        .filter(F.col("score") >= tau)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    tau: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicate pairs ``(id_a, id_b, score)``, a < b, score ≥ tau,
    over the ``vec_id`` and ``embedding`` columns.

    EXACT QUADRATIC FORM — the semantic definition used as the oracle and
    in tests; the registered query runs the scale path
    (:func:`hyperplane_lsh_near_dup_pairs`) and this form defines what that
    path must produce. Do not register this over a large corpus: the
    all-pairs theta-join is O(n²).
    """
    vecs = corpus.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    a = vecs.alias("a")
    b = vecs.alias("b")
    score = dot_product(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= tau)
    )


def quantize_embeddings_int8(corpus: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of the ``embedding`` column:
    appends ``scale`` and ``qvec array<int>`` to the input row, with
    ``q_i = round(x_i · scale)`` and ``scale = 127 / max|x|`` per vector —
    the storage/IO workhorse for large embedding stores (4× smaller than
    float32, 8× smaller than float64; reconstruction ``x̂_i = q_i / scale``
    bounded by ``0.5/scale``). Map-only: built-in HOF expressions per row,
    no shuffle, no Python — quantizing 100 TB of embeddings is a pure
    scan, and because the input columns pass through, downstream
    consumers (e.g. the registered query's reconstruction-error check)
    stay on that same single scan instead of joining back to the source.
    Deterministic: scale and rounding are pure double arithmetic, so the
    same vector always quantizes identically on any engine (round
    half-away-from-zero in both Spark and DuckDB).
    """
    v = to_double_array(F.col("embedding"))
    # the greatest() floor keeps an all-zero vector finite (q stays 0)
    amax = F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(1e-30))
    scale = F.lit(127.0) / amax
    return corpus.withColumn("scale", scale).withColumn(
        "qvec",
        F.transform(v, lambda x: F.round(x * F.col("scale"), 0).cast("int")),
    )


def embedding_centroids(corpus: DataFrame) -> DataFrame:
    """Per-``label`` centroid statistics of the ``embedding`` column,
    ``(label, centroid_norm, n_vectors)`` —
    the cluster-summary/statistics pass of an embedding pipeline (and the
    aggregation step a k-means/IVF trainer runs every iteration).

    Shape: ``posexplode`` the vectors to (label, dim, value) triples, then
    two aggregations — per-(label, dim) mean, then per-label reduction to
    the centroid's L2 norm. Both shuffles carry only scalar triples (never
    whole vectors), partial aggregation combines map-side, and cardinality
    after the first agg is |labels| × dims — tiny at any corpus scale. The
    norm is rounded to 6 dp: cross-engine summation order differs at the
    last ulp, the semantics don't.
    """
    pos = corpus.select(
        F.col("label"), F.posexplode("embedding").alias("pos", "v")
    )
    dim_stats = pos.groupBy("label", "pos").agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("cnt")
    )
    return dim_stats.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"),
        F.max("cnt").cast("bigint").alias("n_vectors"),
    )


def ivf_int8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    shortlist: int = 30,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Storage-aware IVF: int8-scored candidate search + full-precision
    re-rank — ``(q_id, vec_id, score)`` with EXACT final scores.

    The 100 TB ANN shape end-to-end: stages 1-3 (centroid seeding, cell
    assignment, probe scoring, shortlist selection) run entirely in the
    RECONSTRUCTED int8 space (:func:`quantize_embeddings_int8` — 8×
    smaller than float64, so the index scan reads ~12% of the bytes),
    then only the per-query ``shortlist`` survivors (a broadcast-sized
    set: |queries|·shortlist rows of (q_id, vec_id)) rejoin the
    full-precision table for exact cosine re-ranking. This is the
    standard quantized-index/re-rank split (IVF-SQ in the FAISS
    taxonomy): recall comes from probing quantized cells wide
    (shortlist ≥ 3k), precision comes from the exact re-rank.

    ``centroids`` (``(c_id, c_emb)``, e.g. from
    :func:`train_ivf_centroids`) is the production path — data-trained
    cells make recall independent of data ORDER (recall@10 ≥ 0.8 pinned
    in pytest on the planted-cluster corpus at the SCALE.md probe
    fraction). Without it, centroids seed as the ``n_centroids``
    lowest-id reconstructed vectors — deterministic and SQL-replayable,
    which is what the hash-gated driver query uses, but data-order-
    dependent: do not rely on the seeded default at scale.

    Fully deterministic given fixed centroids, hence hash-gateable:
    quantization is pure double arithmetic (round half-away-from-zero
    on both engines), and every ranking is a total order with the id as
    tie-break. The oracle replays the identical definition in SQL.

    Plan shape: cell assignment and probe selection are map-only Arrow
    kernels over the collected centroid set (zero exchanges — see
    ``_assign_probes_udf``), one cell-local candidate join against the
    broadcast probe set, one broadcast re-rank join — the corpus itself
    never shuffles. Reads ``(vec_id, embedding)`` corpus rows and
    ``(q_id, q_emb)`` queries; same unique-``vec_id`` precondition as
    the other IVF operators.
    """
    q8 = quantize_embeddings_int8(corpus)
    recon = q8.select(
        "vec_id",
        F.transform("qvec", lambda qq: qq.cast("double") / F.col("scale")).alias(
            "__r"
        ),
    )
    cent_rows = _centroid_rows(centroids, recon, "vec_id", "__r", n_centroids)
    recon = fan_out(recon)
    assigned = recon.select(
        "vec_id",
        "__r",
        F.element_at(
            _assign_probes_udf(cent_rows, 1)(F.col("__r"))["cells"], 1
        ).alias("cell"),
    )

    probes = queries.select(
        "q_id",
        "q_emb",
        F.explode(
            _assign_probes_udf(cent_rows, n_probe)(
                to_double_array(F.col("q_emb"))
            )["cells"]
        ).alias("cell"),
    )

    short_w = Window.partitionBy("q_id").orderBy(F.desc("score8"), F.asc("vec_id"))
    short = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "q_emb",
            "vec_id",
            cosine_similarity(F.col("__r"), F.col("q_emb")).alias("score8"),
        )
        .withColumn("rn", F.row_number().over(short_w))
        .filter(F.col("rn") <= shortlist)
        .select("q_id", "q_emb", "vec_id")
    )

    rank_w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        corpus.select("vec_id", "embedding")
        .join(F.broadcast(short), "vec_id")
        .select(
            "q_id",
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("q_emb")).alias("score"),
        )
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "score")
    )


def cell_diverse_sample(
    corpus: DataFrame,
    n_per_cell: int = 8,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Diversity-aware representative sampling over an embedding corpus:
    ``(vec_id, cell)`` — at most ``n_per_cell`` vectors per IVF cell,
    chosen uniformly WITHIN each cell by md5(vec_id) rank, from the
    ``vec_id`` and ``embedding`` columns.

    The curation use-case: a plain hash sample of a skewed corpus
    reproduces the skew (90% of a crawl can be one content genre); cell-
    stratified sampling guarantees coverage of every occupied region of
    embedding space — the cheap, deterministic stand-in for greedy
    MMR/k-center selection, whose sequential greediness does not
    distribute. Same cell machinery as :func:`ivf_cosine_topk`:
    ``centroids`` (e.g. :func:`train_ivf_centroids`) is the production
    path; default seeding is the lowest-id vectors (deterministic and
    SQL-replayable — what the hash-gated query uses). Same unique-id
    precondition as the other IVF operators.

    Scale shape: cell assignment is a map-only Arrow kernel over the
    collected centroid set (zero exchanges before the per-cell rank —
    the same ``_assign_probes_udf`` form as ``ivf_cosine_topk``), then a
    per-cell row_number window whose partition count is ``n_centroids``
    — each cell's rank runs on its own partition; with trained
    centroids cells are load-balanced by construction. md5 ranking
    means the per-cell choice is uniform-random-but-reproducible at any
    parallelism.
    """
    corpus = fan_out(corpus)
    cent_rows = _centroid_rows(centroids, corpus, "vec_id", "embedding", n_centroids)
    assigned = corpus.select(
        "vec_id",
        F.element_at(
            _assign_probes_udf(cent_rows, 1)(
                to_double_array(F.col("embedding"))
            )["cells"],
            1,
        ).alias("cell"),
    )
    w = Window.partitionBy("cell").orderBy(
        F.asc(md5_int64("vec_id")), F.asc("vec_id")
    )
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_per_cell)
        .select("vec_id", "cell")
    )


def centroid_cosine_outliers(
    corpus: DataFrame,
    tau: float = 0.0,
) -> DataFrame:
    """Embedding outlier detection against per-label centroids:
    ``(vec_id, label, centroid_cosine, is_outlier)`` from the ``vec_id``,
    ``label`` and ``embedding`` columns — the
    embedding-space quality gate a training pipeline runs before
    ingesting a labeled/clustered corpus (vectors pointing away from
    their cohort are mislabels, noise, or adversarial rows; SemDeDup's
    complement — prune the LONERS, not the duplicates).

    Exactness trick that makes a float pipeline hash-gateable WITHOUT
    rounding the output: centroid dimensions are computed as
    ``CAST(sum(DECIMAL(28,12)) AS DOUBLE)/count`` over values rounded to
    6 dp — decimal addition is exact and order-free, so the centroid is
    bit-identical at ANY parallelism and on any engine (a plain double
    avg is partial-aggregation-order-dependent: same numbers, different
    last ulp, broken value hash). The 6-dp pre-round keeps every decimal
    cast far from its 12-dp rounding boundary (same margin argument as
    the unigram-LM scorer). The per-vector cosine is then a sequential
    double fold against that exact centroid — deterministic end to end.

    Scale shape: the centroid pass shuffles scalar (label, dim, value)
    triples with map-side combine (|labels|·dims rows out); the scoring
    pass is one broadcast join of the tiny centroid table onto the
    corpus scan. No corpus shuffle anywhere.
    """
    v6 = F.transform(
        to_double_array(F.col("embedding")),
        lambda x: F.round(x, 6).cast("decimal(28,12)"),
    )
    pos = corpus.select(
        F.col("label").alias("__lbl"), F.posexplode(v6).alias("pos", "v")
    )
    cent = (
        pos.groupBy("__lbl", "pos")
        .agg((F.sum("v").cast("double") / F.count(F.lit(1))).alias("m"))
        .groupBy("__lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("c_emb")
        )
    )
    cos = cosine_similarity(F.col("embedding"), F.col("c_emb"))
    return (
        corpus.join(F.broadcast(cent), F.col("label") == F.col("__lbl"))
        .select(
            "vec_id",
            "label",
            cos.alias("centroid_cosine"),
            (cos < F.lit(tau)).alias("is_outlier"),
        )
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    _sample_rows: list | None = None,
) -> DataFrame:
    """Deterministic sampled product-quantization codebook training —
    ``(sub_id, code_id, c)`` with one k-means codebook per length-``d``
    subspace (``d = dim / m``; dim must divide evenly).

    Same train-on-sample/apply-distributed split as
    :func:`train_ivf_centroids` and the same scale argument: the ONLY
    corpus-scale work is the constant-size md5-ordered sample of 512
    ``(vec_id, embedding)`` rows (TakeOrderedAndProject), then 10
    plain-L2 Lloyd iterations per subspace run driver-side in numpy,
    seeded with ``default_rng(0)`` — the same corpus always yields
    the same codebooks on any cluster. Plain L2 (not spherical): PQ
    approximates the vector ITSELF; cosine comes back at ADC time from
    the reconstructed dot and norm. ``_sample_rows``: see
    :func:`train_ivf_centroids` — a shared pre-collected sample whose
    prefix is bit-identical to this function's own collect.
    """
    import numpy as np

    spark = corpus.sparkSession
    rows = (
        _sample_rows[:512]
        if _sample_rows is not None
        else collect_training_sample(corpus, 512)
    )
    X = np.asarray([r["__v"] for r in rows], dtype="float64")
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    rng = np.random.default_rng(0)
    out = []
    for s in range(m):
        Xs = X[:, s * d : (s + 1) * d]
        n = len(Xs)
        k = min(k_codes, n)
        # k-means++ init on L2
        first = int(rng.integers(n))
        centers = [Xs[first]]
        dist = ((Xs - centers[0]) ** 2).sum(axis=1)
        for _ in range(1, k):
            w = np.maximum(dist, 0.0)
            probs = w / w.sum() if w.sum() > 0 else np.full(n, 1.0 / n)
            nxt = int(rng.choice(n, p=probs))
            centers.append(Xs[nxt])
            dist = np.minimum(dist, ((Xs - centers[-1]) ** 2).sum(axis=1))
        C = np.vstack(centers)
        for _ in range(10):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = Xs[assign == c]
                if len(members) == 0:
                    C[c] = Xs[int(d2.min(axis=1).argmax())]
                else:
                    C[c] = members.mean(axis=0)
        out.extend(
            (s, int(c), [float(x) for x in C[c]]) for c in range(k)
        )
    return spark.createDataFrame(
        out, "sub_id int, code_id int, c array<double>"
    )


def _pq_encode_udf(codebooks: DataFrame):
    """Arrow kernel for map-only PQ encoding — per subspace, the
    L2-nearest codebook entry (ties → lowest code, deterministic).

    The codebooks are collected once (m·k rows — constant-size) into the
    kernel closure: the corpus never shuffles and never meets a join —
    one vectorized numpy argmin per Arrow batch, the same kernel pattern
    as the minhash/hyperplane signatures.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    cb = codebooks.orderBy("sub_id", "code_id").collect()
    m = 1 + max(r["sub_id"] for r in cb)
    k = 1 + max(r["code_id"] for r in cb)
    d = len(cb[0]["c"])
    C = np.zeros((m, k, d), dtype="float64")
    for r in cb:
        C[r["sub_id"], r["code_id"]] = r["c"]

    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray([np.asarray(v, dtype="float64") for v in vs])
        codes = np.empty((len(X), m), dtype="int32")
        for s in range(m):
            Xs = X[:, s * d : (s + 1) * d]
            d2 = ((Xs[:, None, :] - C[s][None, :, :]) ** 2).sum(-1)
            codes[:, s] = d2.argmin(axis=1)  # argmin: first (lowest) on ties
        return pd.Series(list(codes))

    # defeat `from __future__ import annotations` stringification (the
    # repo-wide kernel pattern — see dedup.py's signature kernels)
    encode.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    # asNondeterministic: §4.4 duplication guard (see _block_topk_udf) —
    # downstream implicit filters otherwise clone the encode pass
    return pandas_udf(encode, "array<int>").asNondeterministic()


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 16,
    n_probe: int = 4,
    rerank: int | None = None,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k over ``(vec_id, embedding)`` corpus rows
    and ``(q_id, q_emb)`` queries — ``(q_id, vec_id, score)`` where
    ``score`` is the ADC cosine (query against the PQ-RECONSTRUCTED
    candidate), the FAISS-taxonomy IVF-PQ shape done relationally:

    1. cell assignment + probing exactly as :func:`ivf_cosine_topk`
       (the collected-centroid Arrow kernel — zero exchanges, no window
       over the corpus; fused into the SAME projection as PQ encoding,
       so corpus codes and cells come from one map-only pass instead of
       two passes re-united by an id-equi-join — r16, guide §2.4);
    2. candidates = probed cells only (the IVF pruning);
    3. ADC scoring WITHOUT touching the vectors again: each candidate's
       m codes join a per-(query, subspace, code) LOOKUP TABLE built by
       crossing the queries against the m·k codebook rows (k = 16 codes
       per subspace when trained here) — broadcast-
       sized by construction — carrying the partial dot
       ``⟨q_sub, c⟩`` and partial squared norm ``|c|²``; per (query,
       candidate) the m partials aggregate to
       ``score = Σdot / (|q| · √Σ|c|²)``.

    The scoring path reads only (vec_id, codes) — dim/m× fewer bytes
    than the float corpus — plus constant-size broadcasts; the one
    shuffle is the (q_id, vec_id) partial-sum aggregation over candidate
    rows. Determinism across runs and engines: the partials are rounded
    to 9 dp and summed as DECIMAL(28,12) (exact, order-free — the money-
    aggregate convention), so the 8-way float additions cannot reorder;
    rankings tie-break on the id. Given fixed (seeded) centroids and
    codebooks the whole operator is deterministic; the codebook training
    itself is not SQL-expressible, so the registered query gates on
    in-engine invariants (ADC ≡ reconstructed-cosine consistency) rather
    than a value-replay oracle — the HLL/quantile-sketch convention.

    ``rerank=N`` selects an N-deep ADC shortlist per query and re-scores
    it against the FULL-PRECISION vectors (one broadcast-shortlist join,
    the :func:`ivf_int8_rerank_topk` pattern) — the production
    configuration: PQ resolution caps pure-ADC recall (tightly clustered
    neighbors differ by less than a 32-bit code can express; measured
    0.445 recall@10 on the planted-cluster corpus vs ≥ 0.9 with
    ``rerank=50``), so ADC serves the cheap scan and exact scores serve
    the final order. ``None`` returns raw ADC scores.
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, m=m)

    vecs = corpus.select("vec_id", to_double_array(F.col("embedding")).alias("__v"))
    cent_rows = _centroid_rows(centroids, vecs, "vec_id", "__v", n_centroids)
    # PQ encoding and cell assignment are both map-only kernels over the
    # same corpus scan: one projection computes both, where two passes
    # would need an id-equi-join (an Exchange of both sides) to re-unite
    # two derived columns of the same row
    codes_cells = fan_out(corpus).select(
        F.col("vec_id"),
        _pq_encode_udf(codebooks)(to_double_array(F.col("embedding"))).alias("codes"),
        F.element_at(
            _assign_probes_udf(cent_rows, 1)(to_double_array(F.col("embedding")))["cells"],
            1,
        ).alias("cell"),
    )

    qv = queries.select(
        "q_id", to_double_array(F.col("q_emb")).alias("__q")
    )
    probes = qv.select(
        "q_id",
        F.explode(
            _assign_probes_udf(cent_rows, n_probe)(F.col("__q"))["cells"]
        ).alias("cell"),
    )

    # per-(query, subspace, code) ADC lookup table — |q|·m·k rows
    sub_d = F.size(F.col("c"))
    q_sub = F.slice(F.col("__q"), F.col("sub_id") * sub_d + 1, sub_d)
    lut = (
        qv.crossJoin(F.broadcast(codebooks))
        .select(
            "q_id",
            "sub_id",
            "code_id",
            F.round(
                F.aggregate(
                    F.zip_with(q_sub, F.col("c"), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                9,
            )
            .cast("decimal(28,12)")
            .alias("pdot"),
            F.round(
                F.aggregate(
                    F.transform(F.col("c"), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                9,
            )
            .cast("decimal(28,12)")
            .alias("pn2"),
        )
    )
    qnorm = qv.select(
        "q_id", l2_norm(F.col("__q")).alias("__qn")
    )

    cand_codes = (
        codes_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            F.posexplode("codes").alias("sub_id", "code_id"),
        )
    )
    rank_w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    adc = (
        cand_codes.join(F.broadcast(lut), ["q_id", "sub_id", "code_id"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum("pdot").cast("double").alias("__dot"),
            F.sum("pn2").cast("double").alias("__n2"),
        )
        .join(F.broadcast(qnorm), "q_id")
        .select(
            "q_id",
            "vec_id",
            (
                F.col("__dot")
                / F.greatest(
                    F.col("__qn") * F.sqrt(F.col("__n2")), F.lit(1e-30)
                )
            ).alias("score"),
        )
        .withColumn("rn", F.row_number().over(rank_w))
    )
    if rerank is None:
        return adc.filter(F.col("rn") <= k).select("q_id", "vec_id", "score")
    short = adc.filter(F.col("rn") <= rerank).select("q_id", "vec_id")
    exact_w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        vecs.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine_similarity(F.col("__v"), F.col("__q")).alias("score"),
        )
        .withColumn("rn", F.row_number().over(exact_w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "score")
    )


def achlioptas_signs(
    in_dim: int, out_dim: int, seed: int = 7
) -> list[list[int]]:
    """Deterministic ±1 Achlioptas projection matrix, derived from md5 of
    ``(seed, i, j)`` — no RNG state, so ANY engine (or the DuckDB oracle)
    can regenerate the identical matrix from the three integers."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}|{i}|{j}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1
            for j in range(out_dim)
        ]
        for i in range(in_dim)
    ]


def random_project(
    vecs: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003): ``p_j = (Σ_i ± v_i) / sqrt(out_dim)`` —
    the cheap pre-projection in front of clustering / LSH / ANN when
    the raw embedding dimension makes those shuffles too wide. Reads the
    ``vec_id`` and ``embedding`` columns.

    Exact-reproducibility design: components are scaled to integers
    (``round(v * 1e6)`` as bigint) and summed with ±1 signs in integer
    arithmetic — order-free and engine-exact, the array-column analogue
    of the repo's DECIMAL-sum convention — then divided back once as a
    double. The scaled-int array is materialized ONCE per row and each
    output dimension reads ``element_at`` from it (the materialized-
    token rule: never re-evaluate a transform per reference).

    Scale shape: pure map-only projection, no shuffle, no UDF — the
    whole operator is whole-stage-codegen column arithmetic; output
    width is ``out_dim`` doubles per row regardless of input width.
    """
    import math

    if in_dim < 1 or out_dim < 1:
        raise ValueError("in_dim and out_dim must be >= 1")
    signs = achlioptas_signs(in_dim, out_dim, seed)
    ints = vecs.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1e6, 0).cast("bigint"),
        ).alias("__ints"),
    )
    scale = 1e6 * math.sqrt(float(out_dim))
    projections = []
    for j in range(out_dim):
        # shallow expression shape: a literal sign ARRAY + one zip_with +
        # one aggregate per output dim compiles in O(in_dim) — a 64-deep
        # chain of Add nodes triggers quadratic Catalyst tree walks (the
        # naive form measured ~3 s of pure plan compilation at ANY data
        # size; this form is ~10× lighter)
        signs_j = F.array(
            *[F.lit(signs[i][j]).cast("bigint") for i in range(in_dim)]
        )
        summed = F.aggregate(
            F.zip_with("__ints", signs_j, lambda v, s: v * s),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        projections.append(
            (summed.cast("double") / F.lit(scale)).alias(f"p{j}")
        )
    return ints.select("vec_id", *projections)


def mmr_diversified_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 12,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick ``k`` results per query maximizing
    ``0.7 * sim(q, c) - 0.3 * max_{s in selected} sim(c, s)`` —
    the RAG-retrieval staple that stops the result list collapsing onto
    near-duplicate passages.

    Shape: the greedy loop is inherently sequential PER QUERY but only
    over a SHORTLIST — so the corpus-sized work is the exact cosine
    shortlist (one broadcast scan, same plan as
    :func:`brute_force_cosine_topk`), the shortlist×shortlist pair
    similarities are computed JVM-side with the shared fold (tiny:
    |queries|·shortlist² rows), and the greedy selection runs inside one
    Arrow ``applyInPandas`` kernel per query group — distributed across
    queries, never a driver loop. The kernel performs only IEEE scalar
    multiply/subtract/max on similarities already computed by the JVM
    fold, so results are bit-reproducible against an engine-independent
    oracle. The relevance weight 0.7 and the diversity weight 0.3 are
    SEPARATE literals: deriving ``1 - 0.7`` in floating point yields
    0.30000000000000004 and breaks cross-engine parity with oracles that
    spell ``0.3``.

    Reads ``(vec_id, embedding)`` corpus rows and ``(q_id, q_emb)``
    queries. Returns ``(q_id, step, vec_id, mmr_score)`` with ``step``
    1-based in selection order.
    """
    import pandas as pd

    cand = brute_force_cosine_topk(corpus, queries, k=shortlist)
    emb = corpus.select(
        F.col("vec_id").alias("__eid"), F.col("embedding").alias("__evec")
    )
    c1 = cand.join(emb, F.col("vec_id") == F.col("__eid")).select(
        "q_id",
        F.col("vec_id").alias("a"),
        F.col("score").alias("qsim_a"),
        F.col("__evec").alias("__va"),
    )
    c2 = c1.select(
        F.col("q_id").alias("__q2"),
        F.col("a").alias("b"),
        F.col("__va").alias("__vb"),
    )
    # LEFT join: a query whose shortlist has exactly one candidate has
    # no (a, b) pair rows — an inner join would drop the whole group
    # and the query would silently vanish from the output
    pairs = (
        c1.join(
            c2,
            (F.col("q_id") == F.col("__q2")) & (F.col("a") != F.col("b")),
            "left",
        )
        .select(
            "q_id",
            "a",
            "qsim_a",
            "b",
            cosine_similarity(F.col("__va"), F.col("__vb")).alias("sim_ab"),
        )
    )

    out_schema = "q_id long, step long, vec_id long, mmr_score double"

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["q_id"].iloc[0]
        qsim: dict[int, float] = {}
        sim: dict[tuple[int, int], float] = {}
        for a, qs, b, s in zip(pdf["a"], pdf["qsim_a"], pdf["b"], pdf["sim_ab"]):
            qsim[int(a)] = float(qs)
            if not pd.isna(b):  # lone-candidate rows carry a NULL pair side
                sim[(int(a), int(b))] = float(s)
        cands = sorted(qsim)
        selected: list[int] = []
        rows = []
        for step in range(1, min(k, len(cands)) + 1):
            best_key = None
            best_score = None
            for c in cands:
                if c in selected:
                    continue
                pen = max((sim[(c, s)] for s in selected), default=0.0)
                score = 0.7 * qsim[c] - 0.3 * pen
                key = (-score, c)
                if best_key is None or key < best_key:
                    best_key, best_score = key, score
            picked = best_key[1]
            selected.append(picked)
            rows.append((qid, step, picked, best_score))
        return pd.DataFrame(
            rows, columns=["q_id", "step", "vec_id", "mmr_score"]
        )

    return pairs.groupBy("q_id").applyInPandas(greedy, out_schema)

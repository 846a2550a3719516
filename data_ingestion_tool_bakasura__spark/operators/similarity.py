"""Similarity search over embedding columns (B9 / C14).

The reference configures HNSW on Azure Search (``db_utils.py:93-110``,
cosine, m=4, efC=400, efS=500) but never issues a vector query
(``VectorizedQuery`` imported, unused — ``db_utils.py:24``). Here the
capability is first-class:

- exact brute-force cosine top-k — the correctness baseline. Scan +
  per-row O(dim) score + TakeOrderedAndProject (map-side partial top-k,
  so the reduce moves only k rows per partition, not the corpus).
- LSH-bucketed ANN (random-hyperplane signatures) — the scale path: an
  equi-join on bucket keys prunes the scan to candidate buckets;
  multiple hash tables trade recall for scan fraction. Signatures are
  deterministic (hash-seeded hyperplanes), so results are reproducible.
- IVF-style variant: assign vectors to the nearest of k seed centroids
  (deterministic hash-picked seeds), probe the query's nearest
  ``nprobe`` centroids only.

At 100 TB the brute-force path is one full scan per query batch —
usable for offline joins when batched (one scan serves all queries via
a broadcast of the query set); the LSH/IVF paths bound the scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_tool_bakasura__spark.functions.vector import cosine_similarity, dot


#: driver-collected query sets are bounded BY CONTRACT on the serving
#: paths (benchmark batches, interactive queries); this guard turns a
#: silent driver OOM into an actionable error (r9 verdict #6)
MAX_DRIVER_QUERIES = 10_000


def _collect_query_rows(
    queries: DataFrame,
    query_id: str,
    vec_col: str,
    who: str,
    max_queries: int | None = None,
) -> list:
    """Collect the (bounded) query side driver-side, sorted by id.

    The ADC/LUT paths build per-query numpy lookup tables on the
    driver, so the query set must be small — that assumption was only
    documented before; now it is enforced: feeding an unbounded query
    DataFrame raises with a pointer to the join-based paths
    (:func:`lsh_ann_topk`, :func:`cosine_topk_batch`) instead of
    silently OOMing the driver. The probe folds into the existing
    collect (one ``limit(max+1)``), no extra job."""
    if max_queries is None:
        max_queries = MAX_DRIVER_QUERIES  # read at call time (testable)
    rows = (
        queries.select(_c(query_id).alias("_q"), _c(vec_col).alias("_v"))
        .limit(max_queries + 1)
        .collect()
    )
    if not rows:
        raise ValueError(f"{who}: query set is empty")
    if len(rows) > max_queries:
        raise ValueError(
            f"{who}: query set exceeds max_queries={max_queries}; this path "
            "collects queries driver-side by contract — for unbounded query "
            "sets use the join-based lsh_ann_topk or cosine_topk_batch"
        )
    return sorted(rows, key=lambda r: r["_q"])


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def double_array_lit(values) -> Column:
    """One ``array<double>`` literal built in a single JVM call (a
    numpy array crosses py4j whole; ``F.array`` of per-element ``lit``
    makes one call per element)."""
    return F.lit(np.asarray(values, dtype=np.float64).ravel())


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k by cosine similarity to one query vector.

    The query vector is a literal array -> evaluated JVM-side per row;
    orderBy+limit compiles to TakeOrderedAndProject (no global sort).
    Deterministic tie-break on id. ``keep`` names corpus columns carried
    into the result, so a caller that needs them does not re-scan the
    corpus to join them back.
    """
    q = double_array_lit(query_vec)
    scored = corpus.select(
        _c(id_col).alias(id_col),
        *keep,
        F.round(cosine_similarity(_c(vec_col), q), 6).alias("cos_sim"),
    )
    if exclude_id is not None:
        scored = scored.filter(_c(id_col) != exclude_id)
    return scored.orderBy(F.desc("cos_sim"), _c(id_col)).limit(k)


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for a batch of query vectors in ONE corpus scan.

    broadcast(queries) x corpus -> score -> per-query window top-k.
    This is the shape that survives scale: the 100 TB corpus is read
    once regardless of query count; the window is partitioned by query
    id so the top-k state is per-query and map-side partial.
    """
    q = F.broadcast(
        queries.select(_c(query_id).alias("_qid"), _c(vec_col).alias("_qvec"))
    )
    scored = corpus.crossJoin(q).select(
        F.col("_qid").alias(query_id),
        _c(corpus_id).alias(corpus_id),
        F.round(cosine_similarity(_c(vec_col), F.col("_qvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), _c(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


# ---------------------------------------------------------------------------
# LSH ANN (random hyperplane / signed projections)
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible
    across sessions with no stored model state."""
    import hashlib

    rng = np.frombuffer(
        b"".join(
            hashlib.md5(f"hp|{table}|{bit}|{blk}".encode()).digest()
            for blk in range((dim * 8) // 16 + 1)
        ),
        dtype=np.uint8,
    )[: dim].astype(float)
    return (rng / 127.5 - 1.0).tolist()


def lsh_bucket_keys(
    vec_col: Column | str, dim: int, num_tables: int = 8, bits: int = 6
) -> Column:
    """array of ``num_tables`` bucket keys: 'table:signbits'.

    Sign of <v, h> for ``bits`` fixed hyperplanes per table; cosine-close
    vectors agree on most signs, so they collide in some table w.h.p.
    Pure expression over the vector column — signatures need no shuffle
    and no fitted model. (Reference/parity form; the hot path uses the
    Arrow-vectorized :func:`lsh_bucket_keys_udf`, which computes the
    same signs as one matmul per batch — 32 interpreted higher-order
    dot trees per row don't codegen and dominate wall time.)
    """
    keys = []
    for t in range(num_tables):
        bits_cols = []
        for b in range(bits):
            h = F.array(*[F.lit(x) for x in _hyperplane(dim, t, b)])
            bits_cols.append(F.when(dot(_c(vec_col), h) >= 0, F.lit("1")).otherwise(F.lit("0")))
        keys.append(F.concat(F.lit(f"{t}:"), *bits_cols))
    return F.array(*keys)


def lsh_bucket_keys_udf(dim: int, num_tables: int = 8, bits: int = 6, probes: int = 0):
    """Arrow-batched signature UDF: one (batch x dim) @ (dim x T*B)
    matmul per batch, signs packed to 'table:bits' keys. Identical
    hyperplanes (and hence keys) to :func:`lsh_bucket_keys`.

    ``probes`` > 0 enables query-directed multi-probe (Lv et al.,
    VLDB'07): per table, also emit the ``probes`` keys with ONE
    lowest-|margin| bit flipped — the bits a true near neighbor is most
    likely to disagree on. This is the efSearch-style recall knob: use
    it on the (broadcast) QUERY side only, so the corpus index keeps one
    key per table and the extra work scales with queries, not corpus.
    """
    H = np.array(
        [_hyperplane(dim, t, b) for t in range(num_tables) for b in range(bits)]
    ).T  # dim x (tables*bits)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _keys(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        if V.size and V.shape[1] != H.shape[0]:
            raise ValueError(
                f"lsh_bucket_keys_udf: vectors are {V.shape[1]}-d but dim={H.shape[0]}"
            )
        P = V @ H  # n x (tables*bits) raw margins; sign = bucket bit
        out = []
        for row in P:
            keys = []
            for t in range(num_tables):
                block = row[t * bits : (t + 1) * bits]
                base = block >= 0
                keys.append(
                    f"{t}:" + "".join("1" if x else "0" for x in base)
                )
                if probes:
                    for b in np.argsort(np.abs(block))[:probes]:
                        flipped = base.copy()
                        flipped[b] = not flipped[b]
                        keys.append(
                            f"{t}:" + "".join("1" if x else "0" for x in flipped)
                        )
            out.append(keys)
        return pd.Series(out)

    return _keys


def ann_index(
    corpus: DataFrame,
    dim: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 8,
    bits: int = 6,
) -> DataFrame:
    """(id, vector, bucket-key) rows — the PERSISTABLE corpus side of
    LSH ANN. Hash the corpus once, write this partitioned by ``bkey``
    prefix, and probe each query batch (or vector increment) against it
    with :func:`lsh_ann_topk_indexed` instead of re-hashing 100 TB of
    embeddings per search. Hyperplanes are seeded deterministically
    (``_hyperplane``), so an index built today matches keys computed at
    probe time with the same (dim, num_tables, bits). New vectors
    append incrementally: hashing is per-row, no global state."""
    keys_udf = lsh_bucket_keys_udf(dim, num_tables, bits)
    return corpus.select(
        _c(corpus_id).alias(corpus_id),
        _c(vec_col).alias("_cvec"),
        F.explode(keys_udf(_c(vec_col))).alias("bkey"),
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    num_tables: int = 8,
    bits: int = 6,
    probes: int = 2,
) -> DataFrame:
    """ANN top-k: candidates = bucket-key equi-join, then exact rescore.

    Scan fraction ~ sum of matching-bucket sizes instead of the full
    corpus; recall grows with num_tables and ``probes`` (query-side
    multi-probe), precision of pruning with bits. Rescoring is exact
    cosine on candidates only. See ANN.md for the measured
    recall-vs-scan-fraction table behind the defaults.
    """
    c_keyed = ann_index(corpus, dim, corpus_id, vec_col, num_tables, bits)
    return lsh_ann_topk_indexed(
        c_keyed, queries, dim, k, corpus_id, query_id, vec_col,
        num_tables, bits, probes,
    )


def lsh_ann_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    num_tables: int = 8,
    bits: int = 6,
    probes: int = 2,
) -> DataFrame:
    """ANN top-k against a prebuilt (possibly parquet-persisted)
    :func:`ann_index` — the search path that never re-hashes the
    corpus. ``index`` must carry (corpus_id, ``_cvec``, ``bkey``) built
    with the SAME (dim, num_tables, bits)."""
    probe_udf = lsh_bucket_keys_udf(dim, num_tables, bits, probes=probes)
    q_keyed = F.broadcast(
        queries.select(
            _c(query_id).alias(query_id),
            _c(vec_col).alias("_qvec"),
            F.explode(probe_udf(_c(vec_col))).alias("bkey"),
        )
    )
    # score map-side BEFORE deduplicating candidates: a pair that matches
    # in several tables is rescored (<= num_tables x ~2*dim flops) but the
    # dedup exchange then carries only (q_id, vec_id, cos_sim) scalar rows
    # instead of two dim-length vectors per row — at 100 TB the shuffle
    # bytes dominate, not the dot products
    cand = index.join(q_keyed, on="bkey").select(
        query_id,
        corpus_id,
        F.round(cosine_similarity(F.col("_cvec"), F.col("_qvec")), 6).alias("cos_sim"),
    )
    scored = cand.groupBy(query_id, corpus_id).agg(F.first("cos_sim").alias("cos_sim"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


# ---------------------------------------------------------------------------
# IVF-style coarse quantization
# ---------------------------------------------------------------------------

def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "c_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid — one scan, NO
    shuffle: the centroid set is by construction tiny (k lists), so it
    ships to executors inside an Arrow-vectorized argmax UDF (one
    (batch x dim) @ (dim x k) matmul per batch). Ties break to the
    lowest centroid id. Persist the result partitioned by centroid to
    get IVF list locality on disk.

    ``round_dp`` rounds similarities to that many decimals BEFORE the
    argmax: numpy's blocked dot product sums in a different order than
    a sequential engine, so two near-equal centroids can rank
    differently across engines by ~1 ulp. Rounding turns near-ties
    into exact ties broken identically (lowest centroid id) —
    :func:`~.dedup.semantic_dedup` uses this to stay value-comparable
    with a sequential-sum SQL oracle. IVF recall is insensitive to it.

    The previous form (crossJoin + row_number window) shuffled n*k rows
    on corpus_id — a plan that dies at 100 TB; assignment is a per-row
    map and should cost exactly one corpus scan."""
    rows = sorted(
        centroids.select(_c(centroid_id).alias("c"), _c(vec_col).alias("v")).collect(),
        key=lambda r: r["c"],
    )
    if not rows:
        raise ValueError("ivf_assign: centroid set is empty")
    cids = [r["c"] for r in rows]
    C = np.array([r["v"] for r in rows], dtype=np.float64)  # k x dim
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    @F.pandas_udf(centroids.schema[centroid_id].dataType)
    def _assign(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        sims = Vn @ Cn.T  # n x k; argmax takes the FIRST max -> lowest c_id on ties
        if round_dp is not None:
            sims = np.round(sims, round_dp)
        return pd.Series([cids[i] for i in np.argmax(sims, axis=1)])

    return corpus.select(
        _c(corpus_id).alias(corpus_id),
        _c(vec_col).alias(vec_col),
        _assign(_c(vec_col)).alias(centroid_id),
    )


def pick_seed_centroids(
    corpus: DataFrame, n: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic seed centroids: the n corpus vectors whose md5(id)
    sorts first — cheap, stateless stand-in for k-means at bootstrap."""
    return (
        corpus.select(_c(id_col).alias("c_id"), _c(vec_col).alias(vec_col))
        .orderBy(F.md5(F.col("c_id").cast("string")), F.col("c_id"))
        .limit(n)
    )


def _centroid_schema(corpus: DataFrame, id_col: str, vec_col: str) -> T.StructType:
    """Centroid-frame schema with ``c_id`` typed as the corpus id column
    (non-numeric ids round-trip instead of crashing on int() coercion)."""
    return T.StructType(
        [
            T.StructField("c_id", corpus.schema[id_col].dataType),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )


def _md5_sample(
    corpus: DataFrame, id_col: str, vec_col: str, cap: int
) -> tuple[list, "np.ndarray"]:
    """The bounded deterministic fit sample every driver-side trainer
    shares: the ``cap`` md5-first corpus rows as (ids, vectors). ONE
    scan (TakeOrdered); r18 hoists it so a composition like
    :func:`ivfadc_topk` collects it once for both the coarse k-means
    and the PQ codebooks instead of paying one identical scan per
    trainer (guide §1.2 — serial driver roundtrips)."""
    rows = (
        corpus.select(_c(id_col).alias("_id"), _c(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(cap)
        .collect()
    )
    ids = [r["_id"] for r in rows]
    V = np.array([r["_v"] for r in rows], dtype=np.float64)
    return ids, V


def _maxmin_greedy(ids: list, Vn: "np.ndarray", n: int) -> list[int]:
    """Farthest-first traversal over a normalized sample matrix: start
    from the md5-first row, greedily add the row with the largest
    cosine distance to its nearest chosen seed, ties -> lowest id.
    Returns chosen row indices (the shared core of
    :func:`maxmin_seed_centroids` and :func:`kmeans_centroids`)."""
    chosen = [0]  # md5-first row seeds the traversal
    mind = 1.0 - Vn @ Vn[0]
    for _ in range(min(n, len(ids)) - 1):
        dmax = mind.max()
        if dmax <= 0.0:
            break  # fewer distinct directions than requested seeds
        at_max = np.flatnonzero(mind == dmax)
        best = min((int(j) for j in at_max), key=lambda j: ids[j])  # ties -> lowest id
        chosen.append(best)
        mind = np.minimum(mind, 1.0 - Vn @ Vn[best])
    return chosen


def maxmin_seed_centroids(
    corpus: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 8192,
) -> DataFrame:
    """Deterministic farthest-first (max-min) seeding: start from the
    md5-first vector, then greedily add the vector with the LARGEST
    cosine distance to its nearest already-chosen seed (ties -> lowest
    id). The k-center init: it structurally cannot place two seeds
    inside one tight cluster (the second would have min-distance ~0),
    which is the local optimum plain hash seeding + Lloyd cannot escape
    (two seeds in one cluster -> two half-lists there and two true
    clusters merged elsewhere — observed on planted fixtures, pinned by
    test_kmeans_centroids_recover_planted_clusters).

    Cost: ONE scan (TakeOrdered of the ``sample_cap`` md5-first rows),
    then the n-step greedy runs driver-side in numpy over that bounded
    sample — seeding needs a representative sample, not the corpus, the
    same boundedness contract as :func:`ivf_assign`'s centroid collect.
    A naive distributed form (one argmax scan per seed) costs n full
    scans and is strictly worse at any scale.
    """
    ids, V = _md5_sample(corpus, id_col, vec_col, sample_cap)
    if not ids:
        raise ValueError("maxmin_seed_centroids: corpus is empty")
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    chosen = _maxmin_greedy(ids, Vn, n)
    spark = corpus.sparkSession
    # preserve the id column's original type (ADVICE r6: int() coercion
    # crashed on non-numeric ids, inconsistent with pick_seed_centroids)
    return spark.createDataFrame(
        [(ids[i], [float(x) for x in V[i]]) for i in chosen],
        _centroid_schema(corpus, id_col, vec_col),
    )


def kmeans_centroids(
    corpus: DataFrame,
    n: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "maxmin",
    sample_cap: int = 8192,
    sample: tuple[list, "np.ndarray"] | None = None,
) -> DataFrame:
    """Lloyd-refined IVF centroids, fit driver-side over the bounded
    md5-ordered sample (r5 verdict #5: hash-picked seeds give
    unbalanced lists, and balanced lists are what make
    ``nprobe/n_lists`` an honest scan-fraction dial):

    - init: ``"maxmin"`` (default) = farthest-first traversal over the
      sample — avoids the two-seeds-in-one-cluster local optimum Lloyd
      cannot escape; ``"seed"`` = the ``n`` md5-first sample rows
      (= :func:`pick_seed_centroids`; cheaper, no distance math).
    - Lloyd then runs in numpy over the SAME sample matrix: one
      (sample x dim) @ (dim x n) argmax per iteration (first max ->
      lowest ``c_id``, the :func:`ivf_assign` tiebreak) and per-list
      raw-vector means. Lists that lose every member keep their
      previous centroid (deterministic, no reseeding).

    Cost: ONE Spark job total — the sample TakeOrdered (or zero with a
    precollected ``sample`` from :func:`_md5_sample`, the shared-scan
    path :func:`ivfadc_topk` uses). The pre-r18 form ran the init scan
    plus one full corpus assign+mean job PER Lloyd iteration; k-means
    needs a representative sample, not every row (the stated 100 TB
    contract — fit on the sample, assign the full corpus once, after
    the fit), so those extra passes bought only float-summation-order
    differences in the means at fixture scale (sample_cap >= corpus)
    while costing 1 + iters serial driver roundtrips (guide §1.2).
    Full-probe search over ANY centroid set still equals the exact
    scan — the q_ivf_kmeans_search oracle contract is
    centroid-independent (contract-tested)."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if init not in ("maxmin", "seed"):
        raise ValueError(f"init must be 'maxmin' or 'seed', got {init!r}")
    ids, V = sample if sample is not None else _md5_sample(
        corpus, id_col, vec_col, sample_cap
    )
    if not ids:
        raise ValueError("kmeans_centroids: corpus is empty")
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    if init == "maxmin":
        chosen = _maxmin_greedy(ids, Vn, n)
    else:
        chosen = list(range(min(n, len(ids))))  # md5-first rows
    chosen = sorted(chosen, key=lambda i: ids[i])  # ascending c_id, the
    # argmax-first tiebreak order ivf_assign and the old collect used
    cids = [ids[i] for i in chosen]
    C = V[chosen].copy()
    for _ in range(iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        a = np.argmax(Vn @ Cn.T, axis=1)  # first max -> lowest c_id
        for j in range(len(cids)):
            mask = a == j
            if mask.any():
                C[j] = V[mask].mean(axis=0)
    return corpus.sparkSession.createDataFrame(
        [(cid, [float(x) for x in C[i]]) for i, cid in enumerate(cids)],
        _centroid_schema(corpus, id_col, vec_col),
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame | list,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    centroid_id: str = "c_id",
    probe_lists: list | None = None,
) -> DataFrame:
    """IVF search over :func:`ivf_assign` output: each query probes its
    ``nprobe`` nearest centroid LISTS and rescores exact cosine inside
    them only. ``assigned`` is the persisted corpus (persist it
    partitioned by ``centroid_id`` for list locality on disk); the join
    on the centroid id means the corpus is touched only on probed lists
    — with balanced lists the scan fraction is ~``nprobe``/n_lists, the
    IVF recall/scan dial. With ``nprobe`` >= n_lists the result equals
    :func:`cosine_topk_batch` exactly (same rescoring and tiebreak —
    tested). Centroids are collected driver-side (tiny by construction,
    same contract as ivf_assign); each corpus vector lives in exactly
    one list, so no candidate dedup is needed.

    ``probe_lists`` pins the probed centroid ids for EVERY query,
    bypassing the per-query probe UDF. The serving path computes the
    probe list driver-side to statically prune the list-partitioned
    scan; passing the SAME list here keeps scan pruning and probing
    bit-identical — without it, near-tie centroid similarities can
    round differently between the driver's dgemv and the UDF's dgemm
    and the UDF may probe a list the scan pruned away (r9 ADVICE).

    ``centroids`` is the centroid relation, or its rows already
    collected as (centroid id, vector) pairs — the serving path
    collects them once to compute ``probe_lists`` and passes them on."""
    if isinstance(centroids, DataFrame):
        centroids = centroids.select(_c(centroid_id), _c(vec_col)).collect()
    rows = sorted(centroids, key=lambda r: r[0])
    if not rows:
        raise ValueError("ivf_topk: centroid set is empty")
    cids = [r[0] for r in rows]
    if probe_lists is not None:
        unknown = set(probe_lists) - set(cids)
        if unknown:
            raise ValueError(f"ivf_topk: probe_lists not in centroids: {unknown}")
        probe_col = F.explode(
            F.array(*[F.lit(c) for c in probe_lists]).cast("array<long>")
        )
    else:
        C = np.array([r[1] for r in rows], dtype=np.float64)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        np_eff = min(nprobe, len(cids))

        def _probe_fn(vecs):
            V = np.array(vecs.tolist(), dtype=np.float64)
            if not len(V):
                return pd.Series([], dtype=object)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            sims = Vn @ Cn.T  # n x k_lists
            # argsort on (-sim, index): stable lowest-c_id tiebreak
            order = np.argsort(-sims, axis=1, kind="stable")[:, :np_eff]
            return pd.Series([[cids[i] for i in row] for row in order])

        _probe = F.pandas_udf(_probe_fn, T.ArrayType(T.LongType()))
        probe_col = F.explode(_probe(_c(vec_col)))

    q_probed = queries.select(
        _c(query_id).alias(query_id),
        _c(vec_col).alias("_qvec"),
        probe_col.alias(centroid_id),
    )
    cand = assigned.join(F.broadcast(q_probed), on=centroid_id)
    scored = cand.select(
        query_id,
        F.col(corpus_id),
        F.round(cosine_similarity(F.col(vec_col), F.col("_qvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 8192,
    sample: tuple[list, "np.ndarray"] | None = None,
) -> DataFrame:
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI'11): L2-normalize
    (cosine serving contract), split each vector into ``m`` subvectors,
    and fit ``n_codes`` k-means centroids per subspace. Returns the
    persistable codebook relation (subspace, code, centroid) —
    m x n_codes rows.

    Training runs driver-side in numpy over a bounded md5-ordered
    sample (ONE scan, or ZERO with a precollected ``sample`` from
    :func:`_md5_sample` — the shared-scan path :func:`ivfadc_topk`
    uses; the same boundedness contract as
    :func:`maxmin_seed_centroids` — PQ needs a representative sample,
    not the corpus). Deterministic: md5 sample order, farthest-first
    init per subspace, fixed Lloyd iterations, empty clusters keep
    their previous centroid.
    """
    if n_codes > 128:
        raise ValueError("n_codes > 128 does not fit the tinyint code column")
    _ids, V = sample if sample is not None else _md5_sample(
        corpus, id_col, vec_col, sample_cap
    )
    if not _ids:
        raise ValueError("pq_train: corpus is empty")
    if V.shape[1] % m:
        raise ValueError(f"dim {V.shape[1]} not divisible by m={m}")
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    return corpus.sparkSession.createDataFrame(
        _fit_pq_codebooks(Vn, m, n_codes, iters),
        "subspace int, code int, centroid array<double>",
    )


def _fit_pq_codebooks(X_all: "np.ndarray", m: int, n_codes: int, iters: int):
    """Per-subspace k-means over a driver-side sample matrix:
    farthest-first init + Lloyd, deterministic; returns the codebook
    relation rows (subspace, code, centroid)."""
    sub = X_all.shape[1] // m
    out = []
    for j in range(m):
        X = X_all[:, j * sub : (j + 1) * sub]
        k_eff = min(n_codes, len(X))
        # farthest-first init (L2 in the subspace), then Lloyd
        cents = [X[0]]
        d2 = ((X - X[0]) ** 2).sum(axis=1)
        for _ in range(k_eff - 1):
            if d2.max() <= 0:
                break
            nxt = int(np.argmax(d2))  # first max -> lowest sample index
            cents.append(X[nxt])
            d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
        C = np.array(cents)
        for _ in range(iters):
            # assign: argmin ||x-c||^2 = argmax x.c - ||c||^2/2
            scores = X @ C.T - 0.5 * (C * C).sum(axis=1)
            a = np.argmax(scores, axis=1)
            for c in range(len(C)):
                mask = a == c
                if mask.any():
                    C[c] = X[mask].mean(axis=0)
        out.extend(
            (j, c, [float(x) for x in C[c]]) for c in range(len(C))
        )
    return out


def pq_train_residual(
    corpus: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 8192,
    sample: tuple[list, "np.ndarray"] | None = None,
) -> DataFrame:
    """Residual PQ codebooks — the classic IVFADC fine quantizer
    (TPAMI'11 §V): codes quantize r = x_norm - centroid(assigned(x))
    instead of x_norm. Residuals are centered near zero with far
    smaller spread than raw vectors, so the same code budget buys a
    finer grid exactly where the probed list's vectors live; measured
    recall deltas in ANN.md. Same bounded-sample, deterministic
    training contract as :func:`pq_train` (and the same optional
    precollected ``sample`` shared-scan path)."""
    if n_codes > 128:
        raise ValueError("n_codes > 128 does not fit the tinyint code column")
    _ids, V = sample if sample is not None else _md5_sample(
        corpus, id_col, vec_col, sample_cap
    )
    if not _ids:
        raise ValueError("pq_train_residual: corpus is empty")
    if V.shape[1] % m:
        raise ValueError(f"dim {V.shape[1]} not divisible by m={m}")
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    c_rows = sorted(centroids.collect(), key=lambda r: r["c_id"])
    CC = np.array([r[vec_col] for r in c_rows], dtype=np.float64)
    CCn = CC / np.maximum(np.linalg.norm(CC, axis=1, keepdims=True), 1e-300)
    assign = np.argmax(Vn @ CCn.T, axis=1)  # same tiebreak as ivf_assign
    # residual against the RAW centroid (the reconstruction anchor —
    # the list mean), not the normalized direction used for the argmax:
    # subtracting the unit vector adds a radial error component that
    # inflates |r| (measured: it erases the residual-PQ gain entirely)
    R = Vn - CC[assign]
    return corpus.sparkSession.createDataFrame(
        _fit_pq_codebooks(R, m, n_codes, iters),
        "subspace int, code int, centroid array<double>",
    )


def _pq_codebook_np(codebooks: DataFrame) -> "np.ndarray":
    """Collect the (tiny) codebook relation to a dense m x n_codes x sub
    numpy array; missing codes (short subspace fits) are +inf-padded so
    they can never win an argmin/argmax."""
    rows = codebooks.collect()
    m = 1 + max(r["subspace"] for r in rows)
    n = 1 + max(r["code"] for r in rows)
    sub = len(rows[0]["centroid"])
    C = np.full((m, n, sub), np.inf)
    for r in rows:
        C[r["subspace"], r["code"]] = r["centroid"]
    return C


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to ``m`` one-byte codes (array<tinyint>): per
    subspace, the L2-nearest codebook centroid of the NORMALIZED
    vector. 64-d float32 -> 8 bytes is 32x compression (vs 4x for the
    int8 path) — the difference between executor-resident candidate
    lists and spill at 100 TB of vectors. One Arrow matmul per
    (subspace, batch); map-only, no shuffle."""
    C = _pq_codebook_np(codebooks)
    m, n, sub = C.shape
    Cf = np.where(np.isfinite(C), C, 0.0)
    # -inf bias on padded codes so they never win the argmax
    bias = np.where(
        np.isfinite(C).all(axis=2), -0.5 * (Cf * Cf).sum(axis=2), -np.inf
    )  # m x n

    @F.pandas_udf(T.ArrayType(T.ByteType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        if not len(V):
            return pd.Series([], dtype=object)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        codes = np.empty((len(V), m), dtype=np.int8)
        for j in range(m):
            X = Vn[:, j * sub : (j + 1) * sub]
            codes[:, j] = np.argmax(X @ Cf[j].T + bias[j], axis=1)
        return pd.Series([c.tolist() for c in codes])

    return corpus.withColumn(code_col, _enc(_c(vec_col)))


def pq_adc_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 3,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ serving top-k: ADC candidate scan + exact float
    rerank — the 32x-compression sibling of
    :func:`quantized_rerank_topk`.

    The inline composition: trains codebooks when none are given,
    encodes the corpus on the fly (:func:`pq_encode`, so the scan still
    reads floats once) and scores the codes with
    :func:`pq_adc_topk_indexed` — the same stage 1 and stage 2 the
    serving path runs over codes persisted at build time, where the 32x
    shows up. With shortlist >> k the output EQUALS the exact scan
    (contract-tested; q_pq_rerank reuses the exact scan's oracle).
    """
    if codebooks is None:
        codebooks = pq_train(
            corpus, m=m, n_codes=n_codes, iters=iters,
            id_col=corpus_id, vec_col=vec_col,
        )
    codes = pq_encode(
        corpus.select(_c(corpus_id).alias(corpus_id), _c(vec_col).alias(vec_col)),
        codebooks, vec_col,
    ).select(corpus_id, "pq_code")
    return pq_adc_topk_indexed(
        codes, corpus, queries, codebooks, k=k, shortlist=shortlist,
        corpus_id=corpus_id, query_id=query_id, vec_col=vec_col,
    )


def pq_adc_topk_indexed(
    codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """PQ top-k over STORED codes (``codes``: the (id, code) output of
    :func:`pq_encode`): ADC shortlist + exact float rerank.

    Stage 1 (ADC, asymmetric distance computation): each query builds a
    per-subspace lookup table LUT[j][c] = q_sub_j . centroid_{j,c}
    (query NOT quantized — the asymmetry that halves PQ error), and a
    vector's approximate cosine is m table adds instead of dim
    multiplies. The tables of all queries are ONE ``array<double>``
    literal, and the score is one codegen expression per code row (an
    ``aggregate`` over ``element_at`` into it) — no Python worker, no
    join against the query side. The per-query ``shortlist`` is a
    window top-n (ties on the corpus id). Stage 2 reranks it in exact
    float cosine with the identical rounding + tiebreak as
    :func:`cosine_topk_batch`, touching ``corpus`` vectors ONLY for the
    shortlist ids (broadcast join); the query vectors are a literal
    too. ``keep`` names corpus columns carried into the result.

    Queries are collected driver-side (the LUT is numpy), bounded by
    :data:`MAX_DRIVER_QUERIES`.
    """
    C = _pq_codebook_np(codebooks)
    mm, nn, sub = C.shape
    Cf = np.where(np.isfinite(C), C, 0.0)
    q_rows = _collect_query_rows(queries, query_id, vec_col, "pq_adc_topk_indexed")
    nq = len(q_rows)
    Q = np.array([r["_v"] for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    # LUT[q, j, c] = q_sub_j . centroid_{j,c}; flattened q-major, so
    # query q, subspace j, code c sits at 1 + q*mm*nn + j*nn + c
    lut = double_array_lit(np.einsum("qjs,jcs->qjc", Qn.reshape(nq, mm, sub), Cf))
    code = _c(code_col)

    def _adc(q):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(mm - 1)),
            F.lit(0.0),
            lambda acc, j: acc + F.element_at(
                lut,
                q * (mm * nn) + j * nn + F.element_at(code, j + 1).cast("int") + 1,
            ),
        )

    scored = codes.select(
        _c(corpus_id).alias(corpus_id),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(nq - 1)), _adc)
        ).alias("_qi", "_adc"),
    )
    w1 = Window.partitionBy("_qi").orderBy(F.desc("_adc"), _c(corpus_id))
    short = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= shortlist)
        .select(corpus_id, "_qi")
    )
    q_type = queries.select(_c(query_id)).schema.fields[0].dataType
    qids = F.array(*[F.lit(r["_q"]) for r in q_rows]).cast(T.ArrayType(q_type))
    dim = Q.shape[1]
    qvec = F.slice(double_array_lit(Q), F.col("_qi") * dim + 1, dim)
    rer = (
        corpus.join(F.broadcast(short), on=corpus_id)
        .select(
            F.element_at(qids, F.col("_qi") + 1).alias(query_id),
            _c(corpus_id).alias(corpus_id),
            *keep,
            F.round(cosine_similarity(_c(vec_col), qvec), 6).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), _c(corpus_id))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def pq_encode_residual(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector's IVF residual (x_norm - its nearest
    centroid) to ``m`` one-byte codes against residual codebooks
    (:func:`pq_train_residual`). The internal assignment reproduces
    :func:`ivf_assign` exactly (same normalization, same first-max
    tiebreak), so codes and list placement always agree. Map-only."""
    C = _pq_codebook_np(codebooks)
    m, n, sub = C.shape
    Cf = np.where(np.isfinite(C), C, 0.0)
    bias = np.where(
        np.isfinite(C).all(axis=2), -0.5 * (Cf * Cf).sum(axis=2), -np.inf
    )
    c_rows = sorted(centroids.collect(), key=lambda r: r["c_id"])
    CC = np.array([r[vec_col] for r in c_rows], dtype=np.float64)
    CCn = CC / np.maximum(np.linalg.norm(CC, axis=1, keepdims=True), 1e-300)

    @F.pandas_udf(T.ArrayType(T.ByteType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        if not len(V):
            return pd.Series([], dtype=object)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        # argmax on the normalized direction (= ivf_assign), residual
        # against the raw centroid (see pq_train_residual)
        R = Vn - CC[np.argmax(Vn @ CCn.T, axis=1)]
        codes = np.empty((len(V), m), dtype=np.int8)
        for j in range(m):
            X = R[:, j * sub : (j + 1) * sub]
            codes[:, j] = np.argmax(X @ Cf[j].T + bias[j], axis=1)
        return pd.Series([c.tolist() for c in codes])

    return corpus.withColumn(code_col, _enc(_c(vec_col)))


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    n_lists: int = 8,
    shortlist: int = 200,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 2,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVFADC (Jégou et al., TPAMI'11 §V — the billion-scale layout):
    IVF coarse pruning x PQ fine ranking x exact rerank, composed from
    this module's parts.

    1. coarse: :func:`kmeans_centroids` + :func:`ivf_assign` put every
       vector in one of ``n_lists`` lists; a query touches only its
       ``nprobe`` nearest lists (scan fraction ~ nprobe/n_lists with
       fitted centroids — measured in ANN.md).
    2. fine: candidates in probed lists are ranked by PQ-ADC over
       8-byte codes — the probed lists can stay executor-resident at
       100 TB because they are 32x smaller than the floats. With
       ``residual=True`` (classic IVFADC) the codes quantize
       r = x_norm - centroid(list) instead of x_norm
       (:func:`pq_train_residual`/:func:`pq_encode_residual`): the ADC
       score becomes q·centroid (a per-(query, probed-list) scalar
       attached to the broadcast probe pairs) + the same LUT sum over
       the residual codes — identical plan shape, finer grid where the
       list's vectors actually live (measured recall deltas in
       ANN.md). ``residual=False`` keeps codebooks list-independent
       and reusable by the flat :func:`pq_adc_rerank_topk`.
    3. exact: the per-query ``shortlist`` is reranked in float cosine
       with :func:`cosine_topk_batch`'s rounding + tiebreak, so at
       full probe with a generous shortlist the result EQUALS the
       exact scan for ANY centroid/codebook set — the oracle contract
       (tested; q_ivfadc_search).

    Scale shape: one corpus scan (assign + encode are map-only); the
    candidate exchange carries (corpus_id, query, adc_score) scalars;
    floats are re-read only for shortlist ids via broadcast semi-join.
    """
    # one md5 fit sample, shared by the coarse k-means AND the PQ
    # codebooks (they trained on the identical TakeOrdered scan anyway
    # — collecting it twice was a pure duplicate driver job, §1.2)
    fit_sample = (
        _md5_sample(corpus, corpus_id, vec_col, 8192)
        if centroids is None or codebooks is None
        else None
    )
    if centroids is None:
        centroids = kmeans_centroids(corpus, n_lists, iters=iters,
                                     id_col=corpus_id, vec_col=vec_col,
                                     sample=fit_sample)
    if codebooks is None:
        if residual:
            codebooks = pq_train_residual(corpus, centroids, m=m,
                                          n_codes=n_codes, iters=iters,
                                          id_col=corpus_id, vec_col=vec_col,
                                          sample=fit_sample)
        else:
            codebooks = pq_train(corpus, m=m, n_codes=n_codes, iters=iters,
                                 id_col=corpus_id, vec_col=vec_col,
                                 sample=fit_sample)
    assigned = ivf_assign(corpus, centroids, corpus_id, vec_col, "c_id")
    if residual:
        encoded = pq_encode_residual(assigned, centroids, codebooks, vec_col).select(
            corpus_id, "c_id", "pq_code"
        )
    else:
        encoded = pq_encode(assigned, codebooks, vec_col).select(
            corpus_id, "c_id", "pq_code"
        )

    C = _pq_codebook_np(codebooks)
    mm, nn, sub = C.shape
    Cf = np.where(np.isfinite(C), C, 0.0)
    q_rows = _collect_query_rows(queries, query_id, vec_col, "ivfadc_topk")
    qids = [r["_q"] for r in q_rows]
    qpos = {q: i for i, q in enumerate(qids)}
    Q = np.array([r["_v"] for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    LUT = np.einsum("qjs,jcs->qjc", Qn.reshape(len(Q), mm, sub), Cf)

    # probe: nearest nprobe centroid lists per query (same math as ivf_topk)
    c_rows = sorted(centroids.collect(), key=lambda r: r["c_id"])
    cids = [r["c_id"] for r in c_rows]
    CC = np.array([r[vec_col] for r in c_rows], dtype=np.float64)
    CCn = CC / np.maximum(np.linalg.norm(CC, axis=1, keepdims=True), 1e-300)
    np_eff = min(nprobe, len(cids))
    sims = Qn @ CCn.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :np_eff]
    spark = corpus.sparkSession
    # residual scoring: q.x_norm = q.raw_centroid(list) + q.residual,
    # so the exact first term rides the (tiny) broadcast probe pairs as
    # `_bias` (raw centroid — the residual's reconstruction anchor;
    # probe ORDER still uses the normalized direction, = ivf_topk)
    sims_raw = Qn @ CC.T
    probes = F.broadcast(
        spark.createDataFrame(
            [
                (q, int(cids[c]), float(sims_raw[qi, c]) if residual else 0.0)
                for qi, q in enumerate(qids)
                for c in order[qi]
            ]
        ).toDF(query_id, "c_id", "_bias")
    )

    @F.pandas_udf(T.DoubleType())
    def _adc(qs: pd.Series, codes: pd.Series) -> pd.Series:
        if not len(qs):
            return pd.Series([], dtype=float)
        qi = qs.map(qpos).to_numpy(dtype=np.int64)
        Cd = np.array(codes.tolist(), dtype=np.int64)  # n x m
        return pd.Series(LUT[qi[:, None], np.arange(mm)[None, :], Cd].sum(axis=1))

    cand = encoded.join(probes, on="c_id").select(
        query_id,
        corpus_id,
        (_adc(_c(query_id), F.col("pq_code")) + F.col("_bias")).alias("_adc"),
    )
    w1 = Window.partitionBy(query_id).orderBy(F.desc("_adc"), _c(corpus_id))
    short = (
        cand.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= shortlist)
        .select(query_id, corpus_id)
    )
    qdf = F.broadcast(
        spark.createDataFrame(
            [(q, [float(x) for x in Q[i]]) for i, q in enumerate(qids)]
        ).toDF(query_id, "_qvec")
    )
    rer = (
        corpus.join(F.broadcast(short), on=corpus_id)
        .join(qdf, on=query_id)
        .select(
            query_id,
            corpus_id,
            F.round(cosine_similarity(_c(vec_col), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), _c(corpus_id))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector max-abs int8 quantization:

        scale = max(|x|) / 127;  q_i = round(x_i / scale)  (int8)

    the standard memory trick for ANN serving — a 1536-dim float32
    embedding drops 4x to 1.5 KB, which at 100 TB of vectors is the
    difference between spilling and executor-resident candidate lists.
    Map-only (no UDF, no shuffle): the transform stays in whole-stage
    codegen, and dequantization is ``q_i * scale``. All-zero vectors get
    scale 0 and an all-zero code (guarded division). Reconstruction
    error is bounded by scale/2 per element.

    Arithmetic is pinned to DOUBLE before the divide so the DuckDB
    oracle (same widening, same round-half-away) is bit-reproducible.
    """
    x = F.transform(_c(vec_col), lambda v: v.cast("double"))
    amax = F.array_max(F.transform(x, F.abs))
    scale = amax / F.lit(127.0)
    q = F.when(amax == 0.0, F.transform(x, lambda v: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(x, lambda v: F.round(v / scale).cast("tinyint"))
    )
    return df.withColumn(scale_col, scale).withColumn(q_col, q)


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage serving top-k: int8-quantized candidate scan + exact
    float rerank — the memory-bandwidth shape for 100 TB of vectors
    (the hot scan touches 4x fewer bytes; full-precision math runs on
    ``shortlist`` rows per query, not the corpus).

    Stage 1 ranks by cosine over the int8 CODES: max-abs quantization
    scales each vector by a positive constant and cosine is scale-
    invariant, so no dequantization is needed for ranking. Stage 2
    reranks the per-query shortlist with exact float cosine, rounded
    identically to :func:`cosine_topk_batch` — with ``shortlist`` >> k
    the output EQUALS the exact scan (asserted in
    test_dedup_similarity; the oracle gate value-checks it per run),
    which is why the quantization error budget never reaches the
    reported scores.

    Same scale contract as :func:`cosine_topk_batch`: one corpus scan
    regardless of query count, broadcast queries, per-query window
    top-k with map-side partial rank (WindowGroupLimit) in both stages.

    Internal columns are ``_qz_``-prefixed so a corpus that already
    carries e.g. ``q_embedding`` is never clobbered (ADVICE r5).
    """
    qz = quantize_embeddings(corpus, vec_col, q_col="_qz_emb", scale_col="_qz_scale")
    q = F.broadcast(
        queries.select(_c(query_id).alias("_qz_qid"), _c(vec_col).alias("_qz_qvec"))
    )
    scored = qz.crossJoin(q).select(
        F.col("_qz_qid").alias(query_id),
        _c(corpus_id).alias(corpus_id),
        _c(vec_col).alias(vec_col),
        F.col("_qz_qvec"),
        cosine_similarity(F.col("_qz_emb"), F.col("_qz_qvec")).alias("_qz_qcos"),
    )
    w1 = Window.partitionBy(query_id).orderBy(F.desc("_qz_qcos"), _c(corpus_id))
    short = (
        scored.withColumn("_qz_r1", F.row_number().over(w1))
        .filter(F.col("_qz_r1") <= shortlist)
    )
    rer = short.select(
        query_id,
        corpus_id,
        F.round(cosine_similarity(_c(vec_col), F.col("_qz_qvec")), 6).alias("cos_sim"),
    )
    w2 = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), _c(corpus_id))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


# --- 1-bit (binary / sign) quantization + Hamming serving (r12) -------------

def binary_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "b_code",
) -> DataFrame:
    """Sign-bit quantization: each dimension contributes ONE bit
    (1 iff x > 0), packed 63 dims per BIGINT word — the 64th bit stays
    clear so the ``acc*2`` fold can never overflow signed 64 under
    ANSI arithmetic, costing 1/64 density for cross-engine exactness.
    A 1536-dim float32 embedding drops ~32x to 25 words (200 B): at
    100 TB of vectors the binary codes of a 10-billion-row corpus fit
    in ~2 TB — executor-resident where even int8 spills. Map-only
    whole-stage codegen (transform/aggregate over slices, no UDF);
    ranking quality comes from the rerank stage, not the codes.

    Cited shape: sign-random-projection / binary embedding serving
    (Charikar 2002 SimHash — here over the RAW dimensions, matching
    the common "binary quantization" of modern vector stores)."""
    x = F.transform(_c(vec_col), lambda v: v.cast("double"))
    nwords = F.ceil(F.size(x) / F.lit(63.0)).cast("int")
    code = F.transform(
        F.sequence(F.lit(1), nwords),
        lambda w: F.aggregate(
            F.slice(x, (w - 1) * F.lit(63) + 1, 63),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc * 2
            + F.when(v > 0.0, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
        ),
    )
    # empty/null guard: sequence(1, 0) is the DESCENDING [1, 0], which
    # would emit two spurious zero words — Hamming 0 to everything,
    # polluting every shortlist ahead of real candidates. An empty
    # vector gets an empty code; a NULL vector stays NULL (no
    # embedding != zero-dim embedding — callers filter on size
    # upstream, and the code column keeps the distinction honest).
    code = (
        F.when(_c(vec_col).isNull(), F.lit(None).cast("array<bigint>"))
        .when(F.size(x) > 0, code)
        .otherwise(F.array().cast("array<bigint>"))
    )
    return df.withColumn(code_col, code)


def binary_hamming(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two packed sign-bit codes
    (:func:`binary_quantize` layout): XOR + bit_count per word, summed
    — pure codegen, the cheapest possible candidate metric."""
    return F.aggregate(
        F.zip_with(
            _c(a), _c(b),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def binary_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage serving top-k over sign-bit codes: Hamming candidate
    scan (ascending, ties on the corpus id — deterministic) + exact
    float cosine rerank, the binary sibling of
    :func:`quantized_rerank_topk`. The Hamming stage touches ~32x
    fewer bytes than float32 (and 8x fewer than int8); unlike int8,
    sign bits do NOT preserve cosine order, so correctness lives in
    ``shortlist``: recall-vs-shortlist is measured in tests (ANN.md
    discipline) and the oracle twin re-derives the SAME two-stage
    pipeline — sign-disagreement Hamming, identical tie-breaks —
    rather than assuming exactness.

    Same scale contract as the siblings: one corpus scan regardless of
    query count, broadcast queries, per-query window top-k with
    map-side partial rank in both stages. ``_bq_``-prefixed internal
    columns."""
    bz = binary_quantize(corpus, vec_col, code_col="_bq_code")
    qz = binary_quantize(
        queries.select(
            _c(query_id).alias("_bq_qid"), _c(vec_col).alias("_bq_qvec")
        ),
        "_bq_qvec",
        code_col="_bq_qcode",
    )
    q = F.broadcast(qz)
    scored = bz.crossJoin(q).select(
        F.col("_bq_qid").alias(query_id),
        _c(corpus_id).alias(corpus_id),
        _c(vec_col).alias(vec_col),
        F.col("_bq_qvec"),
        binary_hamming(F.col("_bq_code"), F.col("_bq_qcode")).alias("_bq_ham"),
    )
    w1 = Window.partitionBy(query_id).orderBy(F.asc("_bq_ham"), _c(corpus_id))
    short = (
        scored.withColumn("_bq_r1", F.row_number().over(w1))
        .filter(F.col("_bq_r1") <= shortlist)
    )
    rer = short.select(
        query_id,
        corpus_id,
        F.round(
            cosine_similarity(_c(vec_col), F.col("_bq_qvec")), 6
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), _c(corpus_id))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def binary_topk_indexed(
    codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    code_col: str = "b_code",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`binary_rerank_topk` served from a PERSISTED code table
    (``codes``: the (id, packed words) output of
    :func:`binary_quantize`, built once): the Hamming stage scans ONLY
    the 200-byte-per-vector codes — the float corpus is touched just
    for the ``shortlist`` rerank rows per query (a semi-join-shaped
    second stage). Equals the fused form for the same shortlist
    (parity-tested in test_index_client). Queries quantize in-plan and
    broadcast. ``keep`` names corpus columns carried into the result."""
    qz = binary_quantize(
        queries.select(
            _c(query_id).alias("_bq_qid"), _c(vec_col).alias("_bq_qvec")
        ),
        "_bq_qvec",
        code_col="_bq_qcode",
    )
    q = F.broadcast(qz)
    scored = codes.crossJoin(q).select(
        F.col("_bq_qid").alias(query_id),
        _c(corpus_id).alias(corpus_id),
        F.col("_bq_qvec"),
        binary_hamming(_c(code_col), F.col("_bq_qcode")).alias("_bq_ham"),
    )
    w1 = Window.partitionBy(query_id).orderBy(F.asc("_bq_ham"), _c(corpus_id))
    short = (
        scored.withColumn("_bq_r1", F.row_number().over(w1))
        .filter(F.col("_bq_r1") <= shortlist)
        .select(query_id, corpus_id, "_bq_qvec")
    )
    rer = short.join(
        corpus.select(
            _c(corpus_id).alias(corpus_id), _c(vec_col).alias(vec_col), *keep
        ),
        corpus_id,
    ).select(
        query_id,
        corpus_id,
        *keep,
        F.round(
            cosine_similarity(_c(vec_col), F.col("_bq_qvec")), 6
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), _c(corpus_id))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )

"""Executor-local HNSW ANN search (B9 / r6 verdict #8).

The reference *configures* an HNSW vector index — m=4,
efConstruction=400, efSearch=500, cosine metric (``db_utils.py:93-110``)
— but never issues a vector query (``VectorizedQuery`` imported, never
called, ``db_utils.py:24``). This module closes that last capability
gap with the Spark-native analog of how HNSW actually serves at scale:
**one graph per partition (shard), queries fanned out to every shard,
per-shard top-k merged globally** — the same shard-and-merge layout
Vespa/Lucene/Milvus use, because a single graph cannot hold 100 TB of
vectors in one executor's memory.

Scale shape:

- **Build** is ``mapInPandas`` over the corpus — each task materializes
  ITS partition's vectors (bounded by partition sizing, the same
  contract as every other per-partition operator here), builds an
  in-memory graph, answers all queries against it, and emits only
  ``(q_id, vec_id, cos_sim)`` scalar rows. No vector ever crosses the
  wire after the scan; the merge exchange carries
  ``O(n_queries x k x n_shards)`` scalars.
- **Queries** ship driver-side to every task via the closure — the
  query set is tiny by contract (the same boundedness argument as
  :func:`~.similarity.cosine_topk_batch`'s broadcast).
- **Recall** composes per shard: each shard answers its local top-k
  with HNSW recall r, and the merge is exact over shard answers, so
  corpus-wide recall ≈ r (misses are independent across shards). The
  ``ANN.md`` serving table measures this against exact scan.
- **Persistence** (r7 verdict #4): :func:`hnsw_index` serializes each
  shard's graph to plain rows — one row per node carrying its
  normalized vector, level and per-layer neighbor lists as ordinals —
  so the build is paid ONCE per corpus and
  :func:`hnsw_topk_indexed` serves any number of query batches from
  the parquet-persisted graph without re-inserting a single vector
  (the same build-once/query-many closure as
  ``similarity.lsh_ann_topk_indexed``). The one-shot
  :func:`hnsw_topk` with default ``n_shards=None`` stays fully fused
  (build+search in one task, no vector ever crosses the wire); with
  an explicit ``n_shards`` it builds the IDENTICAL per-shard graphs
  as ``hnsw_index`` (same xxhash64 shard assignment), which is what
  makes the persisted path exactly parity-testable against the
  inline one.

Algorithm (public knowledge — Malkov & Yashunin, TPAMI 2018; the
SELECT-SIMPLE neighbor heuristic): multi-layer graph, geometric level
assignment with mL = 1/ln(M), greedy 1-NN descent through upper
layers, ef-bounded beam search at the target layer. Two deliberate
determinism substitutions (a distributed engine must give
bit-reproducible answers; the paper's randomness is incidental):

- levels come from ``md5(vec_id)`` instead of ``random()``, so the
  same corpus always builds the same graph;
- every heap/sort key is ``(distance, id)``, so ties never depend on
  insertion or hash order.
"""

from __future__ import annotations

import hashlib
import heapq
import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.operators.similarity import (
    _c,
    _collect_query_rows,
    _unit,
)
from data_ingestion_tool_bakasura__spark.operators.topk import grouped_topk


def _hash_unit(key: str) -> float:
    """Deterministic u in (0, 1] from md5(key) — replaces random() in
    the paper's level draw so graph construction is reproducible."""
    h = int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")
    return (h + 1) / float(2**64)


class LocalHNSW:
    """In-memory HNSW over a dense matrix of L2-normalized vectors.

    Distance is cosine distance (1 - cos) on the normalized rows, so
    argmin(dist) == argmax(cosine). Pure numpy + heapq; built once per
    partition inside :func:`hnsw_topk` and discarded with the task.
    """

    def __init__(self, m: int = 8, ef_construction: int = 100):
        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        self.m = m
        self.m0 = 2 * m  # layer-0 degree cap (paper's Mmax0)
        self.ef_c = max(ef_construction, m + 1)
        self.ml = 1.0 / math.log(m + 1)
        self.vn: np.ndarray | None = None
        self.ids: list = []
        self.levels: list[int] = []          # per INSERTION rank
        self.insert_order: list[int] = []    # node index per insertion rank
        self.level_of: dict[int, int] = {}   # node index -> level
        # adj[layer][node] -> list[node]; layers grow on demand
        self.adj: list[dict[int, list[int]]] = []
        self.entry: int | None = None

    # -- distance ----------------------------------------------------------
    def _dist(self, q: np.ndarray, i: int) -> float:
        return float(1.0 - self.vn[i] @ q)

    # -- beam search at one layer (Algorithm 2, ef-bounded) ----------------
    def _search_layer(
        self, q: np.ndarray, entries: list[int], ef: int, layer: int
    ) -> list[tuple[float, int]]:
        adj = self.adj[layer]
        visited = set(entries)
        cand: list[tuple[float, int]] = []  # min-heap on (dist, id)
        best: list[tuple[float, int]] = []  # max-heap via (-dist, -id)
        for e in entries:
            d = self._dist(q, e)
            heapq.heappush(cand, (d, e))
            heapq.heappush(best, (-d, -e))
        while cand:
            d, c = heapq.heappop(cand)
            if d > -best[0][0] and len(best) >= ef:
                break
            for nb in adj.get(c, ()):
                if nb in visited:
                    continue
                visited.add(nb)
                dn = self._dist(q, nb)
                if len(best) < ef or dn < -best[0][0]:
                    heapq.heappush(cand, (dn, nb))
                    heapq.heappush(best, (-dn, -nb))
                    if len(best) > ef:
                        heapq.heappop(best)
        return sorted((-nd, -ni) for nd, ni in best)

    # -- greedy 1-NN descent (Algorithm 5's upper-layer walk) --------------
    def _descend(self, q: np.ndarray, entry: int, from_layer: int, to_layer: int) -> int:
        cur = entry
        cur_d = self._dist(q, cur)
        for layer in range(from_layer, to_layer, -1):
            improved = True
            while improved:
                improved = False
                for nb in self.adj[layer].get(cur, ()):
                    dn = self._dist(q, nb)
                    if (dn, nb) < (cur_d, cur):  # (dist, id) tie-break
                        cur, cur_d, improved = nb, dn, True
        return cur

    # -- build -------------------------------------------------------------
    def fit(self, ids: list, vecs: np.ndarray) -> "LocalHNSW":
        self.vn = _unit(vecs).astype(np.float64)
        self.ids = list(ids)
        order = sorted(range(len(ids)), key=lambda i: (str(ids[i]), i))
        for node in order:
            self._insert(node)
        return self

    def extend(self, ids: list, vecs: np.ndarray) -> "LocalHNSW":
        """True incremental insertion into an existing (possibly
        reloaded) graph: new nodes wire into the current structure via
        the normal insert path — existing nodes are re-linked only
        where a new neighbor displaces one under the degree cap. The
        resulting graph is NOT byte-identical to a from-scratch build
        over the union (HNSW is insertion-order-dependent — the same
        caveat every incremental HNSW implementation carries); it IS
        deterministic for a given wave sequence (md5 levels, sorted
        within-wave insertion, (dist, id) tie-breaks)."""
        if not len(ids):
            return self
        add = _unit(vecs).astype(np.float64)
        base = len(self.ids)
        self.vn = add if self.vn is None else np.vstack([self.vn, add])
        self.ids.extend(ids)
        order = sorted(range(len(ids)), key=lambda i: (str(ids[i]), i))
        for j in order:
            self._insert(base + j)
        return self

    def _insert(self, node: int) -> None:
        lvl = int(-math.log(_hash_unit(str(self.ids[node]))) * self.ml)
        # max level BEFORE this insert — read before growing self.adj, so
        # a level-raising node correctly promotes itself to entry below
        # (the paper's Algorithm 1 step 17; reading len(adj)-1 AFTER the
        # growth made that branch unreachable and let upper layers search
        # from a low-level entry, accreting back-links above nodes'
        # nominal levels that serialization then dropped — r8 ADVICE)
        prev_max = len(self.adj) - 1
        while len(self.adj) <= lvl:
            self.adj.append({})
        self.levels.append(lvl)
        self.insert_order.append(node)
        self.level_of[node] = lvl
        q = self.vn[node]
        if self.entry is None:
            self.entry = node
            for layer in range(lvl + 1):
                self.adj[layer][node] = []
            return
        ep = self.entry
        if prev_max > lvl:
            ep = self._descend(q, ep, prev_max, lvl)
        for layer in range(min(lvl, prev_max), -1, -1):
            found = self._search_layer(q, [ep], self.ef_c, layer)
            cap = self.m0 if layer == 0 else self.m
            nbs = [i for _, i in found[: self.m]]
            self.adj[layer][node] = nbs
            for nb in nbs:  # bidirectional + degree-cap prune
                lst = self.adj[layer].setdefault(nb, [])
                lst.append(node)
                if len(lst) > cap:
                    lst.sort(key=lambda j: (self._dist(self.vn[nb], j), j))
                    del lst[cap:]
            ep = found[0][1]
        # new top layers hold only this node (no peers exist up there yet)
        for layer in range(prev_max + 1, lvl + 1):
            self.adj[layer][node] = []
        if lvl > prev_max:
            self.entry = node

    # -- query -------------------------------------------------------------
    def search(self, q: np.ndarray, k: int, ef_search: int) -> list[tuple[float, int]]:
        """Top-k (cos_sim DESC, id ASC) as [(cos_sim, row_idx)]."""
        if self.entry is None:
            return []
        qn = np.asarray(q, dtype=np.float64)
        qn = qn / max(float(np.linalg.norm(qn)), 1e-300)
        ep = self._descend(qn, self.entry, len(self.adj) - 1, 0)
        found = self._search_layer(qn, [ep], max(ef_search, k), 0)
        return [(1.0 - d, i) for d, i in found[:k]]


def hnsw_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ef_construction: int = 100,
    ef_search: int = 64,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "q_id",
    n_shards: int | None = None,
) -> DataFrame:
    """Sharded HNSW ANN top-k: one executor-local graph per partition,
    every query answered against every shard, exact merge of shard
    answers. Columns out: ``(q_id, vec_id, cos_sim)`` — the same
    contract as :func:`~.similarity.lsh_ann_topk`.

    The reference's knobs map directly: ``m`` (graph degree),
    ``ef_construction`` (build beam), ``ef_search`` (query beam —
    recall dial, cf. efSearch=500 at ``db_utils.py:101``). Recall vs
    the dials is measured in ``ANN.md`` (tools/ann_tuning.py hnsw).

    ``n_shards=None`` (default) builds one graph per NATURAL input
    partition — fully fused, no extra exchange, the one-shot path.
    An explicit ``n_shards`` groups by the deterministic
    :func:`_shard_expr` assignment instead, building exactly the
    graphs :func:`hnsw_index` persists — parity between this and
    :func:`hnsw_topk_indexed` over a parquet roundtrip is what
    test_hnsw pins.
    """
    q_rows = _collect_query_rows(queries, query_id, vec_col, "hnsw_topk")

    src = corpus.select(_c(corpus_id).alias(corpus_id), _c(vec_col).alias(vec_col))
    id_field = src.schema[corpus_id]
    q_field = queries.schema[query_id]
    out_schema = (
        f"{query_id} {q_field.dataType.simpleString()}, "
        f"{corpus_id} {id_field.dataType.simpleString()}, cos_sim double"
    )

    if n_shards is not None:

        def _grouped_build_search(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[corpus_id].tolist()
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            index = LocalHNSW(m=m, ef_construction=ef_construction).fit(ids, vecs)
            return _answer(index, q_rows, k, ef_search, query_id, corpus_id)

        shard_hits = (
            src.withColumn("_shard", _shard_expr(corpus_id, n_shards))
            .groupBy("_shard")
            .applyInPandas(_grouped_build_search, schema=out_schema)
        )
    else:

        def _shard_search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids: list = []
            mats: list[np.ndarray] = []
            for b in batches:  # materialize THIS partition only
                if len(b):
                    ids.extend(b[corpus_id].tolist())
                    mats.append(np.array(b[vec_col].tolist(), dtype=np.float64))
            if not ids:
                return
            index = LocalHNSW(m=m, ef_construction=ef_construction).fit(
                ids, np.vstack(mats)
            )
            yield _answer(index, q_rows, k, ef_search, query_id, corpus_id)

        shard_hits = src.mapInPandas(_shard_search, schema=out_schema)

    # exact merge of the shard answers: the global per-query top-k
    order = [F.desc("cos_sim"), F.col(corpus_id)]
    return grouped_topk(shard_hits, [query_id], order, k).drop("rnk")


def _answer(
    g: LocalHNSW, q_rows: list, k: int, ef_search: int, query_id: str, corpus_id: str
) -> pd.DataFrame:
    """One shard's answers: every query's local top-k as (query, id,
    cos_sim) rows. ``q_rows`` are the driver-collected queries (the
    guard of ``similarity._collect_query_rows``: beam search ships the
    query matrix to every task, so it must be bounded)."""
    hits = [
        (r["_q"], g.ids[row], round(sim, 6))
        for r in q_rows
        for sim, row in g.search(r["_v"], k, ef_search)
    ]
    return pd.DataFrame(hits, columns=[query_id, corpus_id, "cos_sim"])


# ---------------------------------------------------------------------------
# persisted shard index (build once, query many) — r7 verdict #4
# ---------------------------------------------------------------------------


def _shard_expr(corpus_id: str, n_shards: int) -> Column:
    """Deterministic shard id: ``pmod(xxhash64(str(id)), n_shards)``.
    The SAME expression drives ``hnsw_topk(n_shards=...)`` and
    :func:`hnsw_index`, so the fused and persisted paths build
    identical graphs."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    return F.pmod(F.xxhash64(_c(corpus_id).cast("string")), F.lit(n_shards)).cast("int")


def _graph_rows(index: LocalHNSW):
    """Serialize a fitted graph: one tuple per node of
    ``(ord, orig_pos, level, per-layer neighbor ordinals)``.

    ``ord`` is the node's INSERTION rank (``fit`` inserts in
    sorted-by-(str(id)) order; ``extend`` appends later waves after
    it), the stable on-disk identity that neighbor lists reference —
    in-memory row positions do not survive a parquet roundtrip, and
    the entry point is re-derived at load as the first-inserted node
    at the top layer. Neighbor LIST ORDER is preserved exactly: beam
    admission in ``_search_layer`` evolves with iteration order, so a
    reordered adjacency could answer differently."""
    order = index.insert_order
    ord_of = {node: j for j, node in enumerate(order)}
    # serialization completeness guard: _insert maintains the invariant
    # that a node only has adjacency at layers <= its nominal level (the
    # entry promotion fix); if that ever breaks, dropping layers here
    # would silently change persisted-path answers — fail loudly instead
    for layer, layer_adj in enumerate(index.adj):
        for node in layer_adj:
            if index.level_of[node] < layer:
                raise AssertionError(
                    f"hnsw serialize: node {node} (level "
                    f"{index.level_of[node]}) has adjacency at layer {layer}"
                )
    for j, node in enumerate(order):
        lvl = index.level_of[node]
        nbrs = [
            [ord_of[nb] for nb in index.adj[layer].get(node, [])]
            for layer in range(lvl + 1)
        ]
        yield j, node, lvl, nbrs


def _graph_pdf(g: LocalHNSW, shard: int, corpus_id: str) -> pd.DataFrame:
    """Serialize a local graph to the persisted-row pandas frame — the
    single construction shared by the build/extend/rebuild closures
    (r15 review: it was triplicated, so a schema change had to be
    edited in three places)."""
    rows = list(_graph_rows(g))
    return pd.DataFrame(
        {
            "shard": [shard] * len(rows),
            "ord": [r[0] for r in rows],
            corpus_id: [g.ids[r[1]] for r in rows],
            "level": [r[2] for r in rows],
            "vec": [g.vn[r[1]].tolist() for r in rows],
            "nbrs": [r[3] for r in rows],
        }
    )


def _graph_from_pdf(pdf: pd.DataFrame, id_col: str) -> LocalHNSW:
    """Rebuild an executor-local graph from persisted rows — array
    assembly only, no re-insertion: the O(n · efC · log n) build cost
    is paid once at :func:`hnsw_index` time.

    Torn-artifact guard (r15 review, the load-side twin of
    ``_graph_rows``' serialize guard): neighbor ordinals are
    POSITIONAL indexes into the ord-sorted rows, so duplicate or
    missing rows — a crashed or concurrent partition overwrite leaving
    old+new part files, or dropping one — would silently misalign
    every adjacency list and serve plausible-but-wrong top-k. Fail
    loudly instead."""
    pdf = pdf.sort_values("ord")
    ords = pdf["ord"].to_numpy()
    if len(ords) and not np.array_equal(ords, np.arange(len(ords))):
        raise ValueError(
            f"hnsw load: torn shard — {len(ords)} rows but ord values "
            f"are not 0..{len(ords) - 1} (duplicate/missing rows from a "
            "crashed or concurrent partition overwrite); restore or "
            "rebuild the shard"
        )
    g = LocalHNSW()
    g.vn = np.array(pdf["vec"].tolist(), dtype=np.float64)
    g.ids = pdf[id_col].tolist()
    levels = pdf["level"].to_numpy()
    g.levels = [int(x) for x in levels]
    g.insert_order = list(range(len(g.ids)))  # ord order IS insertion order
    g.level_of = {j: int(x) for j, x in enumerate(levels)}
    max_lvl = int(levels.max())
    g.adj = [{} for _ in range(max_lvl + 1)]
    for j, nbrs in enumerate(pdf["nbrs"]):
        for layer, lst in enumerate(nbrs):
            g.adj[layer][j] = [int(x) for x in lst]
    # entry point = first node (in insertion order) to reach the final
    # top layer: _insert promotes the entry exactly when a node's level
    # exceeds the previous max (so the entry is always the min-ord node
    # at the final max level), and rows are sorted by ord here
    g.entry = int(np.flatnonzero(levels == max_lvl)[0])
    return g


def hnsw_index(
    corpus: DataFrame,
    m: int = 8,
    ef_construction: int = 100,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_shards: int = 8,
) -> DataFrame:
    """Build the persistable sharded HNSW graph: one row per node —
    ``(shard, ord, vec_id, level, vec, nbrs)`` with ``vec`` the
    L2-normalized vector and ``nbrs`` the per-layer neighbor-ordinal
    lists. Write to parquet (partition or bucket by ``shard``) and
    serve any number of query batches with :func:`hnsw_topk_indexed`
    — the build-once/query-many closure every other ANN family here
    already has (cf. ``lsh_ann_topk_indexed``).

    Scale: ONE exchange of the corpus vectors (the groupBy-shard
    hash), then each task builds its shard's graph in memory and
    emits it as plain rows; the index is O(corpus) rows carrying the
    vector plus ~``(m .. 2m) x (levels+1)`` int ordinals each. At
    serve time no vector ever moves again.
    """
    src = corpus.select(
        _c(corpus_id).alias(corpus_id), _c(vec_col).alias(vec_col)
    ).withColumn("shard", _shard_expr(corpus_id, n_shards))
    id_t = src.schema[corpus_id].dataType.simpleString()
    out_schema = (
        f"shard int, ord int, {corpus_id} {id_t}, level int, "
        "vec array<double>, nbrs array<array<int>>"
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[corpus_id].tolist()
        vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        g = LocalHNSW(m=m, ef_construction=ef_construction).fit(ids, vecs)
        return _graph_pdf(g, int(pdf["shard"].iloc[0]), corpus_id)

    return src.groupBy("shard").applyInPandas(_build, schema=out_schema)


def hnsw_index_increment(
    index: DataFrame,
    new_vectors: DataFrame,
    m: int = 8,
    ef_construction: int = 100,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_shards: int = 8,
) -> DataFrame:
    """Insert a wave of new vectors into a persisted :func:`hnsw_index`
    WITHOUT rebuilding untouched shards: returns the full replacement
    rows for exactly the shards that receive new vectors (swap them in
    with a partitioned dynamic overwrite, or union with the untouched
    shards' rows). ``m``/``ef_construction``/``n_shards`` must match
    the original build — the shard expression and graph parameters are
    part of the index's identity, same contract as
    ``lsh_ann_topk_indexed``'s (dim, num_tables, bits).

    Scale: the increment is hashed once on the shard id; untouched
    shards are pruned by a broadcast semi-join on the (tiny) touched-
    shard set before any index row is deserialized. Within a touched
    shard the existing graph is rebuilt by array assembly and the new
    nodes pay normal O(log n) insertions — NOT a from-scratch refit
    (the amortization LSH/span/seen-vector indexes already have).
    Insertion-order caveat: the incremented graph is a valid HNSW but
    not byte-identical to a full rebuild over the union — inherent to
    the algorithm; determinism for a given wave sequence IS guaranteed
    and tested.
    """
    newv = new_vectors.select(
        _c(corpus_id).alias(corpus_id), _c(vec_col).alias(vec_col)
    ).withColumn("shard", _shard_expr(corpus_id, n_shards))
    # intra-wave dedup (r15 review): the replay guard below only
    # anti-joins against the STORED index, so a wave carrying the same
    # id twice (a retried upstream batch unioned with its original)
    # would insert two nodes with one vec_id — the exact duplicate
    # top-k state the guard exists to prevent — and make insertion
    # order depend on Spark row order. One row per id; conflicting
    # payloads for one id resolve to a single arbitrary row (upsert
    # semantics belong upstream).
    newv = newv.dropDuplicates([corpus_id])
    touched = newv.select("shard").distinct()
    old_touched = index.join(F.broadcast(touched), "shard", "semi")
    # replay idempotence (r8 ADVICE): a wave id already in the index hashes
    # to the same shard as its existing copy, so without this guard extend()
    # would insert a second node with the same id (same md5 level) and
    # hnsw_topk_indexed could return one vec_id twice in a single top-k.
    # Anti-join the wave against the touched shards' (shard, id) pairs —
    # cheap: the scan prunes to two scalar columns of only-touched shards.
    # A shard whose wave rows are ALL duplicates re-emits its graph rows
    # unchanged, so full-wave replay returns a byte-identical index.
    newv = newv.join(
        old_touched.select("shard", corpus_id), ["shard", corpus_id], "anti"
    )
    # BRAND-NEW shards (no index rows) cannot go through the cogroup:
    # deserializing the empty old side's nested array<array<int>> batch
    # segfaults pyarrow's arrow_to_pandas (empty-side + doubly-nested
    # list — reproduced on pyspark 4.1 / worker faulthandler). Build
    # them with the normal fit path instead — extend-from-empty and fit
    # insert in the SAME sorted-by-str(id) order, so the graphs are
    # identical; the cogroup only ever sees shards with old rows (the
    # possibly-empty NEW side is single-nested and deserializes fine).
    idx_shards = index.select("shard").distinct()
    fresh = newv.join(F.broadcast(idx_shards), "shard", "anti")
    newv = newv.join(F.broadcast(idx_shards), "shard", "semi")

    id_t = index.schema[corpus_id].dataType.simpleString()
    out_schema = (
        f"shard int, ord int, {corpus_id} {id_t}, level int, "
        "vec array<double>, nbrs array<array<int>>"
    )

    def _extend(old_pdf: pd.DataFrame, new_pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(old_pdf["shard"].iloc[0])
        g = _graph_from_pdf(old_pdf, corpus_id)
        g.m, g.m0, g.ef_c = m, 2 * m, max(ef_construction, m + 1)
        g.ml = 1.0 / math.log(m + 1)
        if len(new_pdf):
            g.extend(
                new_pdf[corpus_id].tolist(),
                np.array(new_pdf[vec_col].tolist(), dtype=np.float64),
            )
        return _graph_pdf(g, shard, corpus_id)

    extended = (
        old_touched.groupBy("shard")
        .cogroup(newv.groupBy("shard"))
        .applyInPandas(_extend, schema=out_schema)
    )
    fresh_built = hnsw_index(
        fresh.select(corpus_id, vec_col),
        m=m, ef_construction=ef_construction,
        corpus_id=corpus_id, vec_col=vec_col, n_shards=n_shards,
    )
    return extended.unionByName(fresh_built)


def hnsw_index_delete(
    index: DataFrame,
    keys: DataFrame,
    m: int = 8,
    ef_construction: int = 100,
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Remove vectors from a persisted :func:`hnsw_index` (the
    vector-index leg of the takedown path — ``maintenance.delete_keys``
    covers plain tables): returns replacement rows for exactly the
    shards that contain a deleted key; untouched shards are pruned by
    a broadcast semi-join and never deserialized.

    Touched shards REBUILD their graph from the surviving rows'
    stored vectors (no corpus re-scan) rather than tombstoning:
    deleted nodes would otherwise keep absorbing graph degree and
    beam budget forever, and a tombstone filter makes top-k
    under-return without over-searching. Exact-deletion cost is
    bounded to the touched shards — at production shard counts a
    takedown list touches a handful. ``keys`` is a DataFrame carrying
    ``corpus_id`` (or an iterable of values).

    FULLY-EMPTIED shards need one extra caller step (r15 review —
    the docstring used to claim the partition "empties", which is
    NOT how Spark works): a shard whose every vector is deleted
    emits ZERO rows here, and dynamic partition overwrite only
    replaces partitions PRESENT in the written data — the stale
    partition would keep serving the deleted vectors. After writing
    the returned rows, drop the emptied partitions explicitly.
    ``stored`` below is the pre-delete index read from ``gpath`` and
    ``keys`` is a DataFrame carrying the ``corpus_id`` column (the
    same value passed to this function); needs ``import os, shutil``.
    Collect ``touched`` BEFORE the overwrite (``stored`` lazily reads
    ``gpath``, the overwrite target), and checkpoint ``out`` before
    writing for the same reason::

        touched = {r["shard"] for r in stored.join(
            F.broadcast(keys), corpus_id, "semi")
            .select("shard").distinct().collect()}
        out = reliable_checkpoint(hnsw_index_delete(
            stored, keys, corpus_id=corpus_id))
        kept = {r["shard"]
                for r in out.select("shard").distinct().collect()}
        out.write.mode("overwrite") \\
           .option("partitionOverwriteMode", "dynamic") \\
           .partitionBy("shard").parquet(gpath)
        for s in touched - kept:          # fully-emptied shards
            shutil.rmtree(os.path.join(gpath, f"shard={s}"))

    The executable canonical recipe is
    ``test_hnsw_delete_full_shard_needs_explicit_partition_drop``
    in ``tests/test_hnsw.py``.
    """
    from pyspark.sql import SparkSession

    if not isinstance(keys, DataFrame):
        vals = list(keys)
        spark = SparkSession.getActiveSession()
        kind = "string" if vals and isinstance(vals[0], str) else "long"
        keys = spark.createDataFrame(
            [(k,) for k in vals], f"{corpus_id} {kind}"
        )
    keys = keys.select(_c(corpus_id).alias(corpus_id)).distinct()
    touched = (
        index.join(F.broadcast(keys), corpus_id, "semi").select("shard").distinct()
    )
    survivors = index.join(F.broadcast(touched), "shard", "semi").join(
        F.broadcast(keys), corpus_id, "anti"
    )

    id_t = index.schema[corpus_id].dataType.simpleString()
    out_schema = (
        f"shard int, ord int, {corpus_id} {id_t}, level int, "
        "vec array<double>, nbrs array<array<int>>"
    )

    def _rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[corpus_id].tolist()
        vecs = np.array(pdf["vec"].tolist(), dtype=np.float64)
        g = LocalHNSW(m=m, ef_construction=ef_construction).fit(ids, vecs)
        return _graph_pdf(g, int(pdf["shard"].iloc[0]), corpus_id)

    return survivors.groupBy("shard").applyInPandas(_rebuild, schema=out_schema)


def hnsw_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ef_search: int = 64,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a prebuilt (possibly parquet-persisted)
    :func:`hnsw_index` — the serving path that never re-inserts a
    vector. ``index`` must carry the :func:`hnsw_index` schema built
    with the SAME m/ef_construction the caller tuned for; ``ef_search``
    stays a query-time recall dial. Answers are identical to
    ``hnsw_topk(corpus, ..., n_shards=<build n_shards>)``."""
    q_rows = _collect_query_rows(queries, query_id, vec_col, "hnsw_topk_indexed")
    id_t = index.schema[corpus_id].dataType.simpleString()
    q_t = queries.schema[query_id].dataType.simpleString()
    out_schema = f"{query_id} {q_t}, {corpus_id} {id_t}, cos_sim double"

    def _search(pdf: pd.DataFrame) -> pd.DataFrame:
        g = _graph_from_pdf(pdf, corpus_id)
        return _answer(g, q_rows, k, ef_search, query_id, corpus_id)

    shard_hits = index.groupBy("shard").applyInPandas(_search, schema=out_schema)
    # exact merge of the shard answers: the global per-query top-k
    order = [F.desc("cos_sim"), F.col(corpus_id)]
    return grouped_topk(shard_hits, [query_id], order, k).drop("rnk")

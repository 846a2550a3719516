"""IndexClient — the reference's service API re-expressed over a Spark
table (drop-in parity layer; SURVEY §2.B, §3 EP2/EP3).

Reference surface (file:line into /root/reference/):
- ``initialize_search_client`` / create-or-update index schema
  (``db_utils.py:36-49,52-127``)  -> :meth:`IndexClient.initialize`
- ``store_embedding`` dedup-checked upsert (``db_utils.py:131-174``)
  -> :meth:`IndexClient.store` (batched, atomic per call)
- ``get_index_stats`` match-all count (``main.py:34-53``)
  -> :meth:`IndexClient.stats`
- ``get_document_stats`` count + filename facet (``db_utils.py:177-189``)
  -> :meth:`IndexClient.document_stats`
- search with filter/top/select/facets (``db_utils.py:135-146``)
  -> :meth:`IndexClient.search`
- embed connection test (``main.py:130-139``) -> :meth:`IndexClient.ping`

Differences by design: operations are set-oriented (one DataFrame in,
one atomic parquet append) instead of per-chunk HTTP round-trips; the
dedup probe is an anti-join, not a racy check-then-write.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_tool_bakasura__spark.functions import embed as E
from data_ingestion_tool_bakasura__spark.schema import INDEX_SCHEMA
from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint


def _is_staging_artifact(name: str) -> bool:
    """True for entries Spark's FileOutputCommitter (v1/v2) leaves
    behind in a torn first write — the ONLY things initialize()'s
    heal may delete. Anything else hidden (``.git``, ``.config``,
    ``_metadata`` from another system) is not ours to remove."""
    return (
        name == "_temporary"
        or name == "_SUCCESS"
        or name.startswith("_started_")
        or name.startswith("_committed_")
        or (name.startswith(".") and name.endswith(".crc"))
    )


class IndexClient:
    """Query/ingest client over one index table (parquet directory)."""

    def __init__(self, spark: SparkSession, path: str, embedding_dim: int = E.FIXTURE_DIM):
        self.spark = spark
        self.path = path
        self.embedding_dim = embedding_dim

    # -- lifecycle ---------------------------------------------------------

    def initialize(self) -> None:
        """Create-if-not-exists with the fixed schema (O7 idempotency):
        an empty dataframe write establishes schema + directory.

        Never destructive (r16 review, reproduced): the old
        check-then-``mode("overwrite")`` raced concurrent writers (the
        probe and the overwrite were separate steps, and the overwrite
        would wipe rows a second writer landed in between), and —
        worse — ``_exists`` swallowing EVERY exception turned any
        read error on a populated table into False and therefore into
        a data-destroying overwrite (observed: one type-mismatched
        append poisoned the read, the next ``initialize()`` silently
        emptied the table). Now: the probe runs under the writer lock,
        ``_exists`` only maps missing-path to False (anything else —
        corruption, mixed schema — raises), and the write itself is
        ``mode("ignore")``, which cannot clobber an existing path even
        if every other guard misfires.

        A TORN first write heals (r16 fix-chain review, reproduced):
        a crash during the initial create leaves the directory holding
        only Spark's ``_temporary`` staging — ``_exists`` raises
        UNABLE_TO_INFER_SCHEMA (not PATH_NOT_FOUND) and
        ``mode("ignore")`` no-ops because the path exists, wedging
        every retry. Under the lock, a directory holding ONLY known
        Spark staging artifacts (``_temporary``, ``_SUCCESS``,
        ``.*.crc``, ``_started_*``/``_committed_*`` markers) is
        cleared so the create can run; anything else raises. The
        r16 heal matched ANY all-hidden directory, which turned a
        misconfigured path (a dotfiles dir, a ``.git``-only
        checkout) into an rmtree target — contradicting this
        method's own never-destructive contract (r17 advice)."""
        import shutil

        with self._writer_lock():
            local = self.path.removeprefix("file://")
            if os.path.isdir(local):
                entries = os.listdir(local)
                if entries and all(_is_staging_artifact(e) for e in entries):
                    shutil.rmtree(local)
                elif entries and all(e.startswith(("_", ".")) for e in entries):
                    raise RuntimeError(
                        f"refusing to heal {self.path!r}: directory holds only "
                        f"hidden entries but they are not Spark staging "
                        f"artifacts ({entries[:5]!r}...); inspect and clear it "
                        f"manually if it is safe to discard"
                    )
            if not self._exists():
                empty = self.spark.createDataFrame([], INDEX_SCHEMA)
                empty.write.mode("ignore").parquet(self.path)

    def _exists(self) -> bool:
        """True if the table reads; False ONLY for a missing path.
        A path that exists but does not read cleanly raises — callers
        must never mistake a broken table for an absent one (r16
        review: that mistake made ``initialize()`` destructive)."""
        from pyspark.errors import AnalysisException

        try:
            self.spark.read.parquet(self.path).limit(1).collect()
            return True
        except AnalysisException as e:
            # Compare the structured error class, not the rendered
            # message — message wording changes across Spark versions
            # (r17 advice). Fall back to the substring only when the
            # accessor yields nothing (older connectors).
            cond = None
            for acc in ("getCondition", "getErrorClass"):
                fn = getattr(e, acc, None)
                if callable(fn):
                    with contextlib.suppress(Exception):
                        cond = fn()
                    if cond:
                        break
            if cond is not None:
                if cond == "PATH_NOT_FOUND":
                    return False
            elif "PATH_NOT_FOUND" in str(e):
                return False
            raise

    def table(self) -> DataFrame:
        """The index table, read with the known ``INDEX_SCHEMA`` (every
        write casts to it): no schema-inference job per read."""
        try:
            return self.spark.read.schema(INDEX_SCHEMA).parquet(self.path)
        except Exception as e:
            raise RuntimeError(
                f"index table not found at {self.path!r}: call initialize() first"
            ) from e

    @staticmethod
    def _embeddable(df: DataFrame) -> DataFrame:
        """The vector-bearing corpus every ANN build, increment, and
        serve mode (including 'exact') operates on: non-null,
        non-empty ``content_vector``. Empty arrays are excluded too —
        a zero-length embedding has no legitimate neighbors, scores
        cos_sim 0.0 (outranking negative-cosine docs), and for the
        binary kind yields an empty code whose null Hamming would
        sort nulls-first into the shortlist. ONE definition (r16
        fix-chain review): the documented exact==ANN mode parity
        depends on every site filtering identically."""
        return df.filter(
            F.col("content_vector").isNotNull()
            & (F.size("content_vector") > 0)
        )

    def ping(self) -> bool:
        """EP3 health check: 1 row through the embed provider; False on
        the zero-vector fallback (mirrors ``any(test)``, main.py:134)."""
        udf = E.embed_udf(E.HashEmbeddingProvider(self.embedding_dim))
        row = self.spark.range(1).select(udf(F.lit("test")).alias("v")).first()
        return any(x != 0.0 for x in row["v"])

    # -- ingest ------------------------------------------------------------

    @contextlib.contextmanager
    def _writer_lock(self, timeout: float = 120.0):
        """Serialize probe+append across concurrent writers.

        The reference's probe-then-upload races under two writers
        (``db_utils.py:135-169``) — the one bug SURVEY §7 pledges not to
        replicate. Plain parquet has no transaction log, so mutual
        exclusion is explicit: a kernel ``flock`` on a lock file next
        to the table. Each acquisition opens its own descriptor, so the
        lock serializes threads within one process as well as separate
        processes; the kernel releases it when the holder's descriptor
        closes, so a CRASHED writer frees the lock instantly — no
        staleness heuristic, and none of the mtime-check/break TOCTOU
        races an mkdir+stale-break scheme has (a waiter could read a
        stale mtime, lose the break race, then steal the freshly
        re-created lock of a live holder — observed once under the
        concurrent-store test before this was switched to flock).
        A leftover ``.lock`` FILE from a crash is inert (flock state
        lives in the kernel, not the file). Local-filesystem scope by
        design; on a cluster this becomes a lakehouse transactional
        MERGE (Delta/Iceberg), not a bigger lock.

        ``timeout`` bounds the WAIT, not the hold: a holder runs its
        whole Spark job under the lock (``increment_ann``'s dynamic
        overwrite can take minutes at scale), so a concurrent writer
        may exhaust the default 120s and raise ``TimeoutError``. That
        is the contract — the lock never breaks a live holder — so
        callers racing a long increment either pass a larger
        ``lock_timeout`` through the public methods or catch
        ``TimeoutError`` and retry (r15 ADVICE).
        """
        import fcntl

        lock = self.path.rstrip("/") + ".lock"
        # a stale mkdir-era lock DIRECTORY would make os.open fail EISDIR;
        # clear it once so upgrades from the old scheme don't wedge
        if os.path.isdir(lock):
            with contextlib.suppress(OSError):
                os.rmdir(lock)
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        deadline = time.monotonic() + timeout
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"could not acquire writer lock {lock!r}"
                        ) from None
                    time.sleep(0.05)
            yield
        finally:
            with contextlib.suppress(OSError):
                fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def store(self, index_rows: DataFrame, *, lock_timeout: float = 120.0) -> int:
        """Dedup-checked append (A18+A19, batched): drops rows whose
        text_hash already exists, appends the rest; returns rows added.
        The probe and append run under :meth:`_writer_lock`, so two
        concurrent ``store`` calls cannot both pass the probe and write
        duplicate keys. ``lock_timeout`` bounds the wait for that lock;
        raise it (or retry on ``TimeoutError``) when racing a long
        holder such as ``increment_ann``.

        r16 review hardening, each reproduced before fixing:

        - input columns are CAST to ``INDEX_SCHEMA``'s types (a
          type-incompatible batch raises at analysis instead of
          appending parquet files no later read can open — one
          ``array<double>`` batch used to poison the whole table);
        - the batch self-dedupes on ``text_hash`` first (two same-hash
          rows in ONE call both passed the table anti-join; the
          survivor among equal-hash rows is arbitrary, as with the
          reference's first-wins probe under arbitrary arrival order);
        - the input plan is materialized BEFORE the lock, so the
          critical section is the probe + append alone — not the
          caller's whole extract/embed pipeline (concurrent writers
          used to burn their ``lock_timeout`` waiting on upstream
          compute that needed no mutual exclusion)."""
        aligned = index_rows.select(
            [F.col(f.name).cast(f.dataType).alias(f.name) for f in INDEX_SCHEMA.fields]
        ).dropDuplicates(["text_hash"])
        aligned = reliable_checkpoint(aligned)
        with self._writer_lock(timeout=lock_timeout):
            fresh = aligned.join(
                self.table().select("text_hash").distinct(), on="text_hash", how="left_anti"
            ).cache()
            try:
                n = fresh.count()
                if n:
                    fresh.write.mode("append").parquet(self.path)
            finally:
                fresh.unpersist()
        return n

    # -- query surface (B1-B7) ---------------------------------------------

    def stats(self) -> dict:
        """EP2: total chunk count + unique files (B5/B6)."""
        t = self.table()
        row = t.agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("filename").alias("n_files"),
        ).first()
        return {"document_count": row["n_chunks"], "unique_files": row["n_files"]}

    def document_stats(self) -> DataFrame:
        """Filename facet (B6): chunks per file."""
        return self.table().groupBy("filename").agg(F.count("*").alias("n_chunks"))

    def search(
        self,
        where: str | None = None,
        select: list[str] | None = None,
        top: int | None = None,
        order_by: str | None = None,
    ) -> DataFrame:
        """The OData-ish surface: filter (B2) / project (B3) / top (B4)
        / sort (B7) as one lazy plan — predicates and pruning reach the
        parquet scan."""
        t = self.table()
        if where:
            t = t.filter(where)
        if order_by:
            t = t.orderBy(order_by)
        if select:
            t = t.select(*select)
        if top is not None:
            t = t.limit(top)
        return t

    # -- relevance search (B8/B9/B10: the leg the reference delegates
    # -- to Azure Search scoring / the VectorizedQuery it never issues)

    def search_text(self, query: str, k: int = 10) -> DataFrame:
        """Full-text relevance (B8): whitespace-tokenized query terms
        scored by one-scan Okapi BM25 over ``content``
        (case-insensitive). Returns (id, content, filename, bm25)."""
        from data_ingestion_tool_bakasura__spark.functions.ranking import bm25_topk

        t = self.table()
        terms = [w for w in query.split() if w]
        hits = bm25_topk(t, terms, k=k, id_col="id", text_col="content")
        return self._top(
            hits.join(t.select("id", "content", "filename"), "id")
            .select("id", "content", "filename", "bm25"),
            "bm25", k,
        )

    @staticmethod
    def _top(hits: DataFrame, score: str, k: int) -> DataFrame:
        """The final (score desc, id) order of a result of at most
        ``k`` rows. ``limit`` makes it a TakeOrderedAndProject; a bare
        ``orderBy`` would plan a range-partitioned sort, whose sampling
        job runs the whole search plan a second time."""
        return hits.orderBy(F.desc(score), "id").limit(k)

    # -- persisted ANN artifacts (r8 verdict #5: serve KNN from an
    # -- index, the way the reference's Azure side serves from its
    # -- HNSW index, db_utils.py:93-110 — never a full scan per query)

    ANN_KINDS = ("hnsw", "ivf", "pq", "binary")

    def _ann_dir(self, kind: str) -> str:
        if kind not in self.ANN_KINDS:
            raise ValueError(f"unknown ANN kind {kind!r}; one of {self.ANN_KINDS}")
        return os.path.join(self.path.rstrip("/") + ".ann", kind)

    def ann_manifest(self, kind: str) -> dict | None:
        """The build manifest of a persisted ANN artifact (params +
        row counts at build time), or None if never built. Staleness
        check: compare ``n_table_rows`` against
        ``stats()['document_count']`` — NOT ``n_rows``, which counts
        only the embeddable corpus (non-null, non-empty vectors) the
        artifact indexes; with any null-vector rows in the table the
        two never converge and the old docstring's recipe reported a
        fresh artifact permanently stale (r16 review)."""
        import json

        mpath = os.path.join(self._ann_dir(kind), "manifest.json")
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def _write_manifest(self, d: str, manifest: dict) -> None:
        """Atomic replace (r16 review): the old truncate-in-place
        ``open(..., "w")`` let a concurrent ``ann_manifest`` reader —
        or any reader after a mid-dump crash — see an empty/partial
        file and die on JSONDecodeError instead of the 'call
        build_ann first' guidance."""
        import json

        tmp = os.path.join(d, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(d, "manifest.json"))

    def build_ann(
        self,
        kind: str = "hnsw",
        *,
        m: int = 8,
        ef_construction: int = 100,
        n_shards: int = 8,
        n_lists: int = 8,
        iters: int = 3,
        pq_m: int = 8,
        n_codes: int = 32,
        lock_timeout: float = 120.0,
    ) -> dict:
        """Build and persist the ANN serving artifact for this index's
        ``content_vector`` column — pay the build ONCE, then every
        ``search_vector(index=kind)`` call serves from the stored
        structure (graphs / inverted lists / codebooks) instead of
        scanning the corpus. Rebuild after ingesting new rows (the
        manifest records ``n_table_rows`` so staleness is detectable);
        at production scale the incremental closures
        (``hnsw_index_increment`` etc.) take over from full rebuilds.

        Runs under :meth:`_writer_lock` (r16 review — the lock
        ``increment_ann`` takes only excludes races when BOTH sides
        take it): an unlocked build racing an increment interleaved
        the graph-dir overwrite commits (a shard with both writers'
        part files, or neither), and a build racing ``store`` wrote an
        artifact from one table snapshot but counted manifest rows
        from a later one, silently mis-reporting the artifact fresh.

        - ``hnsw``: sharded graph rows (``operators.hnsw.hnsw_index``).
        - ``ivf``: Lloyd-refined centroids (relabelled to dense long
          ordinals — the probe UDF's contract) + the corpus assigned to
          lists, written partitioned by list for disk locality.
        - ``pq``: product-quantization codebooks plus the corpus's
          ``pq_encode`` codes (8 bytes per vector at the defaults);
          serving scans only the codes for the ADC shortlist and
          touches floats for the rerank rows alone.
        - ``binary`` (r12): the 1-bit sign-code table
          (``similarity.binary_quantize``) — the smallest artifact in
          the family (~200 B per 1536-dim vector); serving scans only
          the codes for the Hamming shortlist and touches floats for
          the rerank rows alone.

        The manifest records each artifact's schema (``schemas``), and
        serving reads the artifacts with it instead of inferring it.
        """
        with self._writer_lock(timeout=lock_timeout):
            return self._build_ann_locked(
                kind, m=m, ef_construction=ef_construction,
                n_shards=n_shards, n_lists=n_lists, iters=iters,
                pq_m=pq_m, n_codes=n_codes,
            )

    def _build_ann_locked(
        self,
        kind: str,
        *,
        m: int,
        ef_construction: int,
        n_shards: int,
        n_lists: int,
        iters: int,
        pq_m: int,
        n_codes: int,
    ) -> dict:
        d = self._ann_dir(kind)
        corpus = self._embeddable(self.table().select("id", "content_vector"))
        params: dict = {}
        # each artifact's schema as written, read back once here so
        # that serving never runs a schema-inference job
        schemas: dict = {}
        if kind == "hnsw":
            from data_ingestion_tool_bakasura__spark.operators.hnsw import hnsw_index

            graph = hnsw_index(
                corpus, m=m, ef_construction=ef_construction,
                corpus_id="id", vec_col="content_vector", n_shards=n_shards,
            )
            # partitioned by shard so increment_ann can dynamically
            # overwrite ONLY the shards a wave touches
            graph.write.mode("overwrite").partitionBy("shard").parquet(
                os.path.join(d, "graph")
            )
            schemas["graph"] = self._written_schema(d, "graph")
            params = {"m": m, "ef_construction": ef_construction, "n_shards": n_shards}
        elif kind == "ivf":
            from pyspark.sql import Window

            from data_ingestion_tool_bakasura__spark.operators.similarity import (
                ivf_assign,
                kmeans_centroids,
            )

            cent = kmeans_centroids(
                corpus, n_lists, iters=iters, id_col="id", vec_col="content_vector"
            )
            # dense long list ids: ivf_topk's probe UDF emits array<long>
            cent = cent.withColumn(
                "_ord",
                F.row_number().over(Window.orderBy(F.col("c_id").cast("string"))) - 1,
            ).select(
                F.col("_ord").cast("long").alias("c_id"), "content_vector"
            )
            cent.write.mode("overwrite").parquet(os.path.join(d, "centroids"))
            cent_r = self.spark.read.parquet(os.path.join(d, "centroids"))
            schemas["centroids"] = cent_r.schema.jsonValue()
            assigned = ivf_assign(
                corpus, cent_r, corpus_id="id", vec_col="content_vector"
            )
            assigned.write.mode("overwrite").partitionBy("c_id").parquet(
                os.path.join(d, "assigned")
            )
            schemas["assigned"] = self._written_schema(d, "assigned")
            params = {"n_lists": n_lists, "iters": iters}
        elif kind == "pq":
            from data_ingestion_tool_bakasura__spark.operators.similarity import (
                pq_encode,
                pq_train,
            )

            books = pq_train(
                corpus, m=pq_m, n_codes=n_codes, iters=iters,
                id_col="id", vec_col="content_vector",
            )
            books.write.mode("overwrite").parquet(os.path.join(d, "codebooks"))
            schemas["codebooks"] = self._written_schema(d, "codebooks")
            pq_encode(corpus, books, "content_vector").select("id", "pq_code") \
                .write.mode("overwrite").parquet(os.path.join(d, "codes"))
            schemas["codes"] = self._written_schema(d, "codes")
            params = {"pq_m": pq_m, "n_codes": n_codes, "iters": iters}
        elif kind == "binary":
            from data_ingestion_tool_bakasura__spark.operators.similarity import (
                binary_quantize,
            )

            codes = binary_quantize(
                corpus, "content_vector", code_col="b_code"
            ).select("id", "b_code")
            codes.write.mode("overwrite").parquet(os.path.join(d, "codes"))
            schemas["codes"] = self._written_schema(d, "codes")
            params = {}

        manifest = {
            "kind": kind,
            "params": params,
            # n_rows: the embeddable corpus the artifact indexes;
            # n_table_rows: the whole table, for the stats() staleness
            # comparison (see ann_manifest) — under the writer lock
            # both counts see the same snapshot no concurrent store
            # can move
            "n_rows": corpus.count(),
            "n_table_rows": self.table().count(),
            "embedding_dim": self.embedding_dim,
            "schemas": schemas,
        }
        self._write_manifest(d, manifest)
        return manifest

    def _written_schema(self, d: str, name: str) -> dict:
        """Schema of the artifact just written under ``d/name``,
        inferred once (partition columns included) for the manifest."""
        return self.spark.read.parquet(os.path.join(d, name)).schema.jsonValue()

    def _read_artifact(self, kind: str, manifest: dict, name: str) -> DataFrame:
        """Artifact ``name`` of ``kind``, read with the schema its
        manifest recorded at build time."""
        schema = manifest.get("schemas", {}).get(name)
        if schema is None:
            raise RuntimeError(
                f"{kind!r} artifact for {self.path!r} has no recorded "
                f"{name!r} schema: rebuild it with build_ann({kind!r})"
            )
        return self.spark.read.schema(T.StructType.fromJson(schema)).parquet(
            os.path.join(self._ann_dir(kind), name)
        )

    def increment_ann(self, kind: str = "hnsw", *, lock_timeout: float = 120.0) -> dict:
        """Fold rows ingested SINCE the artifact was built into the
        persisted ANN structure without rebuilding it — the serving-side
        closure of the r8 increment operators, and the answer to a
        stale ``ann_manifest``: ``store()`` a wave, then
        ``increment_ann`` each artifact.

        The wave is discovered by an anti-join of the index table's ids
        against the artifact's ids (both scans pruned to the id
        column); an empty wave is a no-op.

        - ``hnsw``: ``hnsw_index_increment`` extends only the touched
          shards' graphs (replay-idempotent), and a DYNAMIC partition
          overwrite rewrites exactly those shard partitions on disk —
          untouched shards are neither read nor written. Incremented
          graphs are valid HNSW but not byte-identical to a full
          rebuild (insertion-order dependence, inherent).
        - ``ivf``: the wave is assigned to the EXISTING centroids (one
          Arrow argmax scan of the wave only) and appended to the
          list-partitioned assignment. Centroids are not refit —
          document-drift is the caller's rebuild trigger.
        - ``pq``: the wave is encoded against the STORED codebooks and
          its codes are appended to the code table. Codebook drift (a
          wave from a very different distribution) is, as with ivf, a
          rebuild trigger, not an increment.

        Returns the refreshed manifest. Runs under :meth:`_writer_lock`
        (r15 review): the hnsw leg is a read-then-dynamic-overwrite of
        the graph path, so two concurrent increments (or an increment
        racing ``build_ann``/``store``) could interleave the partition
        commit and leave a shard with both writers' part files — the
        torn state ``_graph_from_pdf``'s ord guard now refuses — or
        with neither; the ivf/pq/binary append legs would double-append
        the same wave.

        The lock is held for the DURATION of the increment job —
        minutes at scale — so concurrent ``store``/``increment_ann``
        callers should pass a matching ``lock_timeout`` or retry on
        ``TimeoutError`` (see :meth:`_writer_lock`)."""
        with self._writer_lock(timeout=lock_timeout):
            return self._increment_ann_locked(kind)

    def _increment_ann_locked(self, kind: str) -> dict:
        d = self._ann_dir(kind)
        manifest = self.ann_manifest(kind)
        if manifest is None:
            raise RuntimeError(
                f"no persisted {kind!r} artifact for {self.path!r}: "
                f"call build_ann({kind!r}) first"
            )
        corpus = self._embeddable(self.table().select("id", "content_vector"))
        p = manifest["params"]
        if kind == "hnsw":
            from data_ingestion_tool_bakasura__spark.operators.hnsw import (
                hnsw_index_increment,
            )

            gpath = os.path.join(d, "graph")
            idx = self._read_artifact(kind, manifest, "graph")
            wave = corpus.join(idx.select("id"), "id", "anti")
            if wave.limit(1).count():
                inc = hnsw_index_increment(
                    idx, wave, m=p["m"], ef_construction=p["ef_construction"],
                    corpus_id="id", vec_col="content_vector",
                    n_shards=p["n_shards"],
                )
                # materialize BEFORE the overwrite: the write plan lazily
                # reads gpath, and overwriting a path a plan is still
                # reading is undefined — a failure mid-commit would
                # destroy the touched shard partitions with no backup
                # (r9 ADVICE). The checkpoint cuts the read off the
                # target path, so the dynamic overwrite sees only
                # already-computed rows.
                inc = reliable_checkpoint(inc)
                (
                    inc.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("shard")
                    .parquet(gpath)
                )
        elif kind == "ivf":
            from data_ingestion_tool_bakasura__spark.operators.similarity import (
                ivf_assign,
            )

            apath = os.path.join(d, "assigned")
            assigned = self._read_artifact(kind, manifest, "assigned")
            wave = corpus.join(assigned.select("id"), "id", "anti")
            if wave.limit(1).count():
                cent = self._read_artifact(kind, manifest, "centroids")
                inc = ivf_assign(
                    wave, cent, corpus_id="id", vec_col="content_vector"
                )
                inc.write.mode("append").partitionBy("c_id").parquet(apath)
        else:  # pq, binary: encode the wave, append its codes
            from data_ingestion_tool_bakasura__spark.operators.similarity import (
                binary_quantize,
                pq_encode,
            )

            cpath = os.path.join(d, "codes")
            codes = self._read_artifact(kind, manifest, "codes")
            wave = corpus.join(codes.select("id"), "id", "anti")
            if wave.limit(1).count():
                if kind == "pq":
                    books = self._read_artifact(kind, manifest, "codebooks")
                    inc = pq_encode(wave, books, "content_vector")
                else:
                    inc = binary_quantize(wave, "content_vector", code_col="b_code")
                inc.select(codes.columns).write.mode("append").parquet(cpath)
        manifest["n_rows"] = corpus.count()
        manifest["n_table_rows"] = self.table().count()
        self._write_manifest(d, manifest)
        return manifest

    def _query_df(self, qv: list) -> DataFrame:
        """The query vector as a one-row relation built in the JVM: a
        literal over ``range``, so planning it starts no Python worker
        and scans no driver-side RDD."""
        from data_ingestion_tool_bakasura__spark.operators.similarity import (
            double_array_lit,
        )

        return self.spark.range(1, numPartitions=1).select(
            F.lit(0).cast("long").alias("q_id"),
            double_array_lit(qv).alias("content_vector"),
        )

    def search_vector(
        self,
        query: str,
        k: int = 10,
        index: str = "exact",
        ef_search: int = 64,
        nprobe: int = 2,
        shortlist: int | None = None,
    ) -> DataFrame:
        """Vector KNN (B9) — the query the reference CONFIGURES but
        never issues (``VectorizedQuery`` imported, never called,
        ``db_utils.py:24``): embed the query text with the same
        provider that built the index, then retrieve by ``index``:

        - ``"exact"`` (default): cosine top-k over the full table —
          the ground-truth path, O(corpus) per query.
        - ``"hnsw"`` / ``"ivf"`` / ``"pq"`` / ``"binary"``: serve from
          the persisted artifact of :meth:`build_ann`
          (``hnsw_topk_indexed`` beam search / probed inverted lists /
          ADC or Hamming shortlist over stored codes + exact rerank) —
          the scan-free scale path, with ``ef_search`` / ``nprobe`` /
          ``shortlist`` as the per-mode recall dials (at full beam /
          all lists / wide shortlist each mode equals exact —
          mode-parity tested). Raises with a pointer to ``build_ann``
          if the artifact is missing.

        Returns (id, content, filename, cos_sim)."""
        t = self.table()
        hits = self._vector_hits(
            t, query, k, index, ef_search=ef_search, nprobe=nprobe,
            shortlist=shortlist, keep=("content", "filename"),
        )
        return self._top(hits, "cos_sim", k)

    def _serving_manifest(self, index: str) -> dict:
        man = self.ann_manifest(index)
        if man is None:
            raise RuntimeError(
                f"no persisted {index!r} artifact for {self.path!r}: "
                f"call build_ann({index!r}) first"
            )
        built_dim = man.get("embedding_dim")
        if built_dim is not None and built_dim != self.embedding_dim:
            # fail fast: embedding the query at a different dim than
            # the artifact's vectors silently returns null/zero
            # similarities, i.e. garbage hits (r16 review, reproduced)
            raise ValueError(
                f"{index!r} artifact at {self.path!r} was built at "
                f"embedding_dim={built_dim}, but this client embeds "
                f"queries at {self.embedding_dim}: construct "
                f"IndexClient(..., embedding_dim={built_dim})"
            )
        return man

    def _vector_hits(
        self,
        t: DataFrame,
        query: str,
        k: int,
        index: str,
        *,
        ef_search: int = 64,
        nprobe: int = 2,
        shortlist: int | None = None,
        keep: tuple[str, ...] = (),
    ) -> DataFrame:
        """(id, *keep, cos_sim): the top-k hits of :meth:`search_vector`
        in no particular order. ``t`` is the caller's read of the table;
        the modes that rescore floats from it (exact, pq, binary) carry
        ``keep`` through that one scan, and the others join it once."""
        from data_ingestion_tool_bakasura__spark.operators.similarity import (
            binary_topk_indexed,
            cosine_topk,
            ivf_topk,
            pq_adc_topk_indexed,
        )

        qv = E.hash_embed_py(query, self.embedding_dim)
        # the same embeddable-corpus filter as every ANN build: a
        # zero-length vector scores cos_sim 0.0, outranking real docs
        # with negative cosine, and a null vector sorts into the tail —
        # both could appear in 'exact' output but never in any
        # artifact's, breaking the documented exact==ANN parity at full
        # dials (r16 review, reproduced)
        corpus = self._embeddable(t)
        if index == "exact":
            return cosine_topk(
                corpus, qv, k=k, id_col="id", vec_col="content_vector", keep=keep
            )
        man = self._serving_manifest(index)
        short = shortlist or max(4 * k, 50)
        if index == "binary":
            return binary_topk_indexed(
                self._read_artifact(index, man, "codes"), corpus,
                self._query_df(qv), k=k, shortlist=short,
                corpus_id="id", vec_col="content_vector", keep=keep,
            ).drop("q_id")
        if index == "pq":
            return pq_adc_topk_indexed(
                self._read_artifact(index, man, "codes"), corpus,
                self._query_df(qv), self._read_artifact(index, man, "codebooks"),
                k=k, shortlist=short,
                corpus_id="id", vec_col="content_vector", keep=keep,
            ).drop("q_id")
        if index == "hnsw":
            from data_ingestion_tool_bakasura__spark.operators.hnsw import (
                hnsw_topk_indexed,
            )

            hits = hnsw_topk_indexed(
                self._read_artifact(index, man, "graph"),
                self._query_df(qv), k=k, ef_search=ef_search,
                corpus_id="id", vec_col="content_vector",
            ).drop("q_id")
        else:  # ivf
            import numpy as np

            # static partition pruning: the probe list is computable
            # driver-side (query vector + tiny centroid set are both in
            # hand — same normalize/argsort-stable arithmetic as
            # ivf_topk's probe UDF), so filter the c_id-partitioned
            # scan explicitly; Spark's DPP does not fire for the
            # UDF-derived probe join, so without this the serve path
            # reads every list (verified in the physical plan)
            rows = sorted(
                ((r["c_id"], r["content_vector"])
                 for r in self._read_artifact(index, man, "centroids").collect()),
                key=lambda r: r[0],
            )
            C = np.array([v for _c, v in rows], dtype=np.float64)
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            q = np.asarray(qv, dtype=np.float64)
            qn = q / max(float(np.linalg.norm(q)), 1e-300)
            order = np.argsort(-(Cn @ qn), kind="stable")[: min(nprobe, len(rows))]
            probed = [rows[i][0] for i in order]
            assigned = self._read_artifact(index, man, "assigned").filter(
                F.col("c_id").isin(probed)
            )
            # pass the SAME driver-computed probe list (and the centroids
            # collected for it) into ivf_topk: scan pruning and probing
            # must agree bit-for-bit (a near-tie centroid could otherwise
            # round differently in the UDF's dgemm and probe a pruned
            # list — r9 ADVICE)
            hits = ivf_topk(
                assigned, rows,
                self._query_df(qv), k=k, nprobe=nprobe,
                corpus_id="id", vec_col="content_vector",
                probe_lists=probed,
            ).drop("q_id")
        if keep:
            hits = hits.join(t.select("id", *keep), "id").select("id", *keep, "cos_sim")
        return hits

    def search_hybrid(
        self,
        query: str,
        k: int = 10,
        index: str = "exact",
        rerank=False,
        **ann_dials,
    ) -> DataFrame:
        """Hybrid retrieval (B10): BM25 and vector legs each cut to
        their bounded top-(4k) first, fused by Reciprocal Rank Fusion
        (k=60). ``index`` (+ per-mode dials) selects the vector leg's
        retrieval path exactly as in :meth:`search_vector`, so hybrid
        serving composes with the persisted ANN artifacts through the
        same dial. Both legs are (id, score) hits over one read of the
        table, which is joined for content once, after the fuse.
        Returns (id, content, filename, rrf).

        ``rerank`` adds the reference's semantic second stage
        (``SemanticConfiguration``, ``db_utils.py:112-118``: Azure
        reranks the fused top-N with a cross-encoder): ``True`` scores
        the fused top-(4k) candidates with the deterministic default
        scorer; a callable ``(query, texts) -> scores`` serves a real
        cross-encoder. The scorer only ever sees the bounded candidate
        list — O(candidates), never O(corpus). With rerank the result
        adds a ``rerank`` column and is ordered by it."""
        from pyspark.sql import Window

        from data_ingestion_tool_bakasura__spark.functions.ranking import (
            bm25_topk,
            cross_rerank,
            rrf_fuse,
        )

        t = self.table()
        cut = max(4 * k, 20)
        terms = [w for w in query.split() if w]
        bm = bm25_topk(t, terms, k=cut, id_col="id", text_col="content").withColumn(
            "r_bm", F.row_number().over(Window.orderBy(F.desc("bm25"), "id"))
        )
        vec = self._vector_hits(t, query, cut, index, **ann_dials).withColumn(
            "r_vec", F.row_number().over(Window.orderBy(F.desc("cos_sim"), "id"))
        )
        topn = cut if rerank else k
        fused = rrf_fuse(bm, vec, "id", rank_a="r_bm", rank_b="r_vec", topn=topn)
        out = fused.join(
            t.select("id", "content", "filename"), "id"
        ).select("id", "content", "filename", "rrf")
        if rerank:
            scorer = None if rerank is True else rerank
            return cross_rerank(
                out, query, scorer=scorer, id_col="id", text_col="content", k=k
            )
        return self._top(out, "rrf", k)

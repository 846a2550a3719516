"""Streaming sinks: the foreachBatch closures behind incremental ingest,
dedup and crawl.

Reference parity: the reference re-ingests by a human re-uploading
files through Streamlit (``main.py:226-263``); its dedup probe
(``db_utils.py:133-146``) is a non-atomic per-chunk HTTP check. Here the
arrival of new files IS the stream: a file source feeds the same lazy
transforms as the batch operators, and `foreachBatch` gives the
transactional per-micro-batch boundary where dedup-against-the-index
and the bulk append happen atomically per batch.

The eight sinks:

- ``start_incremental_ingest`` — chunk -> hash -> embed -> append;
- ``start_streaming_upsert`` — key-addressed last-writer-wins merge;
- ``start_streaming_near_dedup`` — MinHash LSH near-dup corpus;
- ``start_streaming_semantic_dedup`` — SemDeDup decisions;
- ``start_streaming_span_dedup`` — substring-span surgery;
- ``start_streaming_image_dedup`` / ``start_streaming_video_dedup`` —
  perceptual-hash media corpora;
- ``start_streaming_crawl`` — WARC/WET pages -> gated page corpus.

The skeleton contract, per micro-batch, that every sink keeps:

1. **Replay guard.** The batch is anti-joined against what already
   landed (``_unseen`` for the exact-id sinks; text hashes for ingest,
   normalized URLs for the crawl, an idempotent re-merge for upsert)
   and materialized. File source + checkpoint gives exactly-once
   *input*; the guard turns a replayed foreachBatch call (a crash
   before the checkpoint commits) into exactly-once *output* — the
   dedup the reference does racily, done atomically.
2. **Compute.** The batch's keys are derived ONCE and probed against
   the persisted index; corpus text is never re-hashed.
3. **Durable writes in the documented order.** A frame appended to a
   table its own plan reads is materialized first. Id-keyed indexes
   (near, image, video) commit index-first (``_commit_index_first``);
   the id-less span index and the semantic decisions go output-first,
   each for the reason its sink states.
4. **Crash points.** ``_crash_point(name)`` fires right after each
   durable effect, so a test can kill the closure at every ordering
   edge and replay.

``_start_sink`` owns the checkpoint default and the trigger for all
eight.

Scale notes: the chunk/hash/embed stages are stateless -> no streaming
state at all; only the sink-side anti-joins touch the index, and they
read its key column only (column-pruned scan, broadcast-able). Per
micro-batch the work is identical to the batch pipeline, so the 100 TB
design notes in ``operators.ingest`` carry over; backlog catch-up is
governed by maxFilesPerTrigger / availableNow.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint
from data_ingestion_tool_bakasura__spark.operators.ingest import (
    IngestConfig,
    dedup_against_index,
    ingest_documents,
)


#: r13 (r12 verdict #7) — the streaming PLAN-AUDIT seam. The batch
#: catalog's 170 plans are walked mechanically every round by
#: ``tools/plan_audit.py``, but the micro-batch plans inside these
#: foreachBatch closures used to be invisible to it (only their
#: semantics were tested). When set, every closure in this module
#: calls the hook with (closure_name, final_frame) right before its
#: write, so the auditor can walk the REAL micro-batch physical plan
#: with the same anti-pattern visitor. ``None`` in production — the
#: cost is one truthiness check per micro-batch.
BATCH_AUDIT_HOOK = None


def _audit(name: str, df: DataFrame) -> None:
    if BATCH_AUDIT_HOOK is not None:
        BATCH_AUDIT_HOOK(name, df)


#: r15 (r14 verdict #3) — crash-point injection seam for the sinks'
#: ordering contracts. A sink performs one or more durable effects per
#: micro-batch (the crawl up to five: archive publish, link-graph fold,
#: ranks swap, bloom write, corpus append) whose ORDER is the
#: crash-safety argument; the r14 review found ordering bugs one at a
#: time, so the edges are now enumerable: when set, the sink calls the
#: hook with a named point right after that step's effect lands, and a
#: test raises from inside to simulate a driver crash at exactly that
#: edge before the checkpoint commits. ``None`` in production — the
#: cost is one truthiness check per point per micro-batch.
CRASH_HOOK = None


def _crash_point(name: str) -> None:
    if CRASH_HOOK is not None:
        CRASH_HOOK(name)


def stream_documents(spark: SparkSession, path: str, schema) -> DataFrame:
    """File stream of document rows (parquet parts arriving in ``path``)."""
    return spark.readStream.schema(schema).parquet(path)


def _local_or_raise(path: str, what: str) -> str:
    """Strip ``file://`` and REFUSE any other scheme (r14-late review):
    every replay/crash guard in this module — exists-checks, seen-set
    anti-joins, swap recovery — is a driver-local filesystem check. On
    an object-store path those guards silently never fire, so a
    replayed micro-batch appends full duplicates and the parquet upsert
    overwrites the table with one batch. Better a loud error at stream
    start than silent data loss per trigger; remote tables belong on
    the Delta path (lakehouse formats carry their own transaction
    log)."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"{what} requires a local or file:// path, got {path!r}: the "
            "parquet sinks' replay/crash guards are driver-local "
            "filesystem checks and cannot protect an object-store table "
            "— use the Delta path (delta-spark) for remote storage"
        )
    return path.removeprefix("file://")


def _has_table(path: str) -> bool:
    """True only when the local parquet table holds at least one
    non-hidden entry — mirrors ``operators.upsert``'s has_table check
    (r15, from the r14 advice): a crashed FIRST append leaves the
    directory holding only Spark's ``_temporary`` staging dir, so a
    bare ``os.path.exists`` gate would send every replayed batch into
    ``spark.read.parquet`` of a data-less directory — the read raises
    and the stream wedges until manual cleanup. Hidden (``_``/``.``)
    entries are staging/metadata, never data."""
    local = path.removeprefix("file://")
    return os.path.isdir(local) and any(
        not e.startswith(("_", ".")) for e in os.listdir(local)
    )


def _read_or(path: str, empty: DataFrame) -> DataFrame:
    """The table at ``path``, or ``empty`` (shaped like it) before its
    first append."""
    return empty.sparkSession.read.parquet(path) if _has_table(path) else empty


def _unseen(batch_df: DataFrame, seen_path: str, id_col: str) -> DataFrame | None:
    """The exact-id replay guard: drop the batch rows whose ``id_col``
    already landed in ``seen_path`` (a micro-batch replayed after a
    crash), materialize the rest, and return ``None`` when nothing is
    left."""
    if _has_table(seen_path):
        seen = batch_df.sparkSession.read.parquet(seen_path).select(id_col)
        batch_df = batch_df.join(seen, on=id_col, how="left_anti")
    batch_df = reliable_checkpoint(batch_df)
    return batch_df if batch_df.take(1) else None


def _commit_index_first(
    name: str,
    audit_name: str,
    batch_df: DataFrame,
    id_col: str,
    drop: DataFrame,
    keys: DataFrame,
    key_col: str,
    index: DataFrame,
    index_path: str,
    corpus_path: str,
) -> None:
    """The durable writes of the id-keyed sinks (near, image, video):
    the survivors' index rows, then the survivors themselves.

    ``keys`` are the batch's already-computed index rows keyed by
    ``key_col`` (no second hashing pass); ``drop`` is the one-column
    frame of dropped ``id_col`` values; ``index`` is the UNFILTERED
    persisted index — the orphan rows a probe excludes are exactly the
    ones a replay must not append twice.

    The INDEX appends first (r9 ADVICE on the image sink; near and
    video adopted it r15). A crash between the two writes leaves index
    rows whose ids are missing from the corpus: the replayed batch
    survives the corpus-id guard (``_unseen``), the probe ignores the
    batch's own ids, and the anti-join against ``index`` below
    reconciles without double-indexing. Corpus-first had the opposite
    failure: the corpus-id guard empties the replayed batch and the
    survivors' index rows are LOST FOREVER — every future near-dup of
    those items goes undetected. The id-less span index and the
    semantic decisions keep the contrasting output-first order on
    purpose: a span replay would cut against its own already-indexed
    grams, and the semantic guard reads the index, so index-first
    would empty the replay before its decisions land.
    """
    survivors = batch_df.join(F.broadcast(drop), on=id_col, how="left_anti")
    to_index = keys.join(
        F.broadcast(drop.toDF(key_col)), on=key_col, how="left_anti"
    ).join(index.select(key_col).distinct(), on=key_col, how="left_anti")
    # materialize: the append plan must not lazily read index_path
    # while appending to it
    reliable_checkpoint(to_index).write.mode("append").parquet(index_path)
    _crash_point(f"{name}_index_written")
    _audit(audit_name, survivors)
    survivors.write.mode("append").parquet(corpus_path)
    _crash_point(f"{name}_corpus_appended")


def _start_sink(name: str, stream: DataFrame, sink, checkpoint: str | None,
                available_now: bool):
    """Start ``sink`` as ``stream``'s foreachBatch closure and return
    the StreamingQuery. No ``checkpoint`` gets a fresh
    ``<name>_ckpt_`` temp dir; ``available_now`` drains the backlog
    then stops, otherwise the default trigger runs until stopped."""
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation",
        checkpoint or tempfile.mkdtemp(prefix=f"{name}_ckpt_"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _run_token(checkpoint: str) -> str:
    """Stable per-logical-stream token, persisted INSIDE the checkpoint
    directory (r14-late review): artifact keys derived from batch_id
    alone (archive dirs, link-graph wave ids) collide after checkpoint
    LOSS — the new run's batch 0 re-reads old files plus genuinely new
    ones, the exists/wave guards treat them as the old batch 0, and the
    new pages are silently never archived and their links never folded.
    The token lives with the checkpoint, so a restart of the same
    checkpoint keeps the same keys (replay guards hold) while a wiped
    or fresh checkpoint gets fresh keys (new pages re-archive under new
    names — duplicate capture records, never silent omission)."""
    os.makedirs(checkpoint, exist_ok=True)
    tok_path = os.path.join(checkpoint, "_run_token")
    if os.path.exists(tok_path):
        with open(tok_path) as f:
            return f.read().strip()
    tok = uuid.uuid4().hex[:12]
    tmp = tok_path + ".tmp"
    with open(tmp, "w") as f:
        f.write(tok)
    os.replace(tmp, tok_path)
    return tok


def start_incremental_ingest(
    docs_stream: DataFrame,
    index_path: str,
    cfg: IngestConfig | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Start the incremental ingest query writing to a parquet index.

    Each micro-batch: chunk -> hash -> within-batch dedup -> anti-join
    against the CURRENT index -> embed -> append. The append is
    idempotent w.r.t. replays only because the anti-join drops
    already-indexed hashes. Returns the StreamingQuery (caller
    awaits/stops).
    """
    cfg = cfg or IngestConfig()
    local_idx = _local_or_raise(index_path, "start_incremental_ingest")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # _has_table, NOT try/except (r14-late review): a transient
        # index-read failure treated as 'no index yet' silently disables
        # the anti-join that is this sink's only replay-idempotency
        # guard — the replayed batch then appends duplicates forever.
        # A genuinely failing read must fail the batch (Spark retries).
        index = (
            spark.read.parquet(index_path).select("text_hash")
            if _has_table(local_idx) else None
        )
        rows = ingest_documents(batch_df, index=index, cfg=cfg)
        # materialize before the self-append: the plan lazily reads
        # index_path (the anti-join) while appending to it
        rows = reliable_checkpoint(rows)
        _audit("incremental_ingest", rows)
        rows.write.mode("append").parquet(index_path)
        _crash_point("ingest_appended")

    return _start_sink("ingest", docs_stream, _sink, checkpoint, available_now)


def start_streaming_upsert(
    updates_stream: DataFrame,
    table_path: str,
    key: str = "id",
    order_by: list[str] | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Streaming key-addressed upsert (B11's incremental form): each
    micro-batch MERGES into the parquet table with the deterministic
    last-writer-wins-by-key semantics of ``operators.upsert`` — the
    streaming twin of the reference's re-upload-overwrites-by-id loop
    (``db_utils.py:54,169``), minus its probe-then-upload race: the
    merge + near-atomic directory swap happen inside the foreachBatch
    transaction boundary, serial per stream by construction.

    Replay-idempotent: re-processing a micro-batch after a restart
    re-merges the same keys to the same winning rows, so the table
    converges to the same state (exactly-once OUTPUT by idempotence,
    the strongest guarantee a non-transactional store offers). For
    replays that REGROUP batches (checkpoint loss re-reads all files as
    one batch), pass ``order_by`` — a version/sequence column — so
    winner election is grouping-insensitive; see ``upsert_by_key``.

    Scale notes: on the parquet path the merged table is fully
    rewritten per batch — right for dimension/index tables (the upsert
    target), wrong for fact streams (use ``start_incremental_ingest``'s
    append path there); the batch side of the anti-join is broadcast
    (see upsert_by_key). When delta-spark is importable and the target
    is a Delta table, ``upsert_into_path`` upgrades each micro-batch to
    a transactional ``MERGE INTO`` that rewrites only touched files —
    the 100 TB form of this sink (r6 verdict #7).
    """
    from data_ingestion_tool_bakasura__spark.operators.upsert import (
        elect_winners,
        upsert_into_path,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if BATCH_AUDIT_HOOK is not None:
            # audit the election half (the merge's shuffle shape);
            # the MERGE/swap itself happens inside upsert_into_path
            _audit("streaming_upsert",
                   elect_winners(batch_df, key=key, order_by=order_by))
        upsert_into_path(
            batch_df.sparkSession, table_path, batch_df, key=key, order_by=order_by
        )

    return _start_sink("upsert", updates_stream, _sink, checkpoint, available_now)


def start_streaming_near_dedup(
    docs_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 100,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Continuously NEAR-deduplicated corpus: each arriving batch is
    probed against the persisted LSH band index
    (``operators.dedup.minhash_lsh_increment``); docs near-duplicating
    the corpus are dropped, within-batch near-dup groups keep their
    min-id canonical (first-arrival-wins across batches, min-id within
    a batch — deterministic), and ONLY the survivors' text + band keys
    are appended to ``corpus_path`` / ``index_path``.

    This is the streaming closure of the incremental-dedup path: corpus
    text is never re-hashed — per batch the work is hashing the batch
    plus joining the buckets it touches, so a year of daily increments
    costs a year of increments, not 365 corpus re-scans. LSH is
    approximate: candidate recall (hence dedup recall) follows the
    banding parameters; pipe candidates through ``jaccard_pairs`` before
    dropping if exact verification is required.

    Replay and crash safety follow the module's skeleton contract: the
    exact-id guard against corpus ids, then the index-first commit
    (``_commit_index_first``). The LSH near-dup check alone would NOT
    catch a replay — a replayed doc does not near-duplicate its own
    first delivery (its orphan index rows are excluded from the probe).
    The guard is one column-pruned scan of corpus ids per batch, the
    same order of work as the band-index probe itself.
    """
    from data_ingestion_tool_bakasura__spark.operators.dedup import (
        lsh_band_index,
        minhash_lsh_increment,
    )

    _local_or_raise(corpus_path, "start_streaming_near_dedup corpus_path")
    _local_or_raise(index_path, "start_streaming_near_dedup index_path")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # exact-id replay guard: docs already in the corpus (a replayed
        # micro-batch after crash/restart) are dropped up front — the
        # near-dup check below can't do this, it ignores self-id pairs
        batch_df = _unseen(batch_df, corpus_path, id_col)
        if batch_df is None:
            return
        # Hash the batch ONCE: these uncapped band keys feed both the
        # near-dup probe (which applies the bucket cap internally) and,
        # filtered to survivors, the index append — without this the
        # MinHash pass over the batch text ran twice per micro-batch.
        batch_keys = lsh_band_index(
            batch_df, text_col, id_col, num_hashes, bands, shingle_n
        ).transform(reliable_checkpoint)
        # first batch: the empty index derives its schema from the
        # batch's OWN keys (r14-late review — the hardcoded
        # '_id long' form broke string ids under ANSI type checks)
        raw_index = _read_or(index_path, batch_keys.limit(0))
        # drop the batch's OWN orphan rows from the probe index (r15
        # review, the image closure's discipline): a replay after a
        # crash at neardedup_index_written otherwise counts each
        # already-indexed survivor on BOTH sides of the bucket cap —
        # a bucket at exactly max_bucket_size flips over the cap, its
        # pairs are silently skipped, and the first attempt's dup docs
        # (whose drop never persisted) land permanently. Also makes
        # self-pairs structurally impossible rather than filtered.
        index = raw_index.join(
            batch_df.select(F.col(id_col).alias("_id")),
            on="_id", how="left_anti",
        )
        pairs = minhash_lsh_increment(
            batch_df, index, text_col, id_col,
            num_hashes, bands, shingle_n, max_bucket_size,
            new_keyed=batch_keys,
        ).transform(reliable_checkpoint)
        new_ids = batch_df.select(F.col(id_col))
        # drop: any new doc paired with a CORPUS doc (id not in batch),
        # and any new doc paired with a smaller-id new doc (min-id keeps)
        dup_vs_corpus = (
            pairs.join(new_ids, pairs.id_a == new_ids[id_col], "left_anti")
            .select(F.col("id_b").alias(id_col))
            .unionByName(
                pairs.join(new_ids, pairs.id_b == new_ids[id_col], "left_anti")
                .select(F.col("id_a").alias(id_col))
            )
        )
        both_new = pairs.join(
            new_ids.select(F.col(id_col).alias("id_a")), on="id_a", how="left_semi"
        ).join(new_ids.select(F.col(id_col).alias("id_b")), on="id_b", how="left_semi")
        dup_in_batch = both_new.select(F.greatest("id_a", "id_b").alias(id_col))
        drop = dup_vs_corpus.unionByName(dup_in_batch).distinct()
        _commit_index_first(
            "neardedup", "near_dedup", batch_df, id_col, drop,
            batch_keys, "_id", raw_index, index_path, corpus_path,
        )

    return _start_sink("neardedup", docs_stream, _sink, checkpoint, available_now)


def start_streaming_semantic_dedup(
    vecs_stream: DataFrame,
    centroids: DataFrame,
    decisions_path: str,
    index_path: str,
    eps: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Streaming SemDeDup: each arriving micro-batch of vectors is
    assigned to the (offline-fitted, static) centroid set ONCE, probed
    against the persisted seen-vector index via
    ``operators.dedup.semantic_dedup_increment`` — one GEMM per touched
    cluster — and then (a) its decision rows append to
    ``decisions_path`` and (b) its assigned ``(id, c_id, vec)`` rows
    append to ``index_path``. First-seen-wins across batches, min-id
    within a batch; with id-ordered arrival the decisions equal the
    batch :func:`~..operators.dedup.semantic_dedup` exactly
    (parity-tested). The index stores every seen vector — kept AND
    dropped — because a SemDeDup witness need not itself survive.

    Replay-idempotent by exact id: the batch is anti-joined against
    the index ids first, so a replayed micro-batch (crash between the
    two appends) contributes no duplicate decisions or index rows.
    The decisions append reconciles itself too (r15 ADVICE): a crash
    between the decisions append and the index append replays the
    batch with decisions already recorded — the replay guard keys on
    the INDEX (appended last) so the batch recomputes, but its
    (deterministic) decision rows are anti-joined against
    ``decisions_path`` by id before the append, so nothing lands
    twice. Consumers read exactly-one decision per id.

    Scale: the corpus is never re-compared; a year of daily
    increments costs a year of assignments + cluster-local GEMMs.
    Centroids are fit once offline (kmeans on a sample — see
    ``kmeans_centroids``), exactly SemDeDup's serving shape.
    """
    from data_ingestion_tool_bakasura__spark.operators.dedup import (
        semantic_dedup_increment,
    )
    from data_ingestion_tool_bakasura__spark.operators.similarity import ivf_assign

    _local_or_raise(decisions_path, "start_streaming_semantic_dedup decisions_path")
    _local_or_raise(index_path, "start_streaming_semantic_dedup index_path")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _unseen(batch_df, index_path, id_col)
        if batch_df is None:
            return
        # assign ONCE: these rows feed both the probe and the index append
        assigned = ivf_assign(
            batch_df, centroids, corpus_id=id_col, vec_col=vec_col, round_dp=round_dp
        ).transform(reliable_checkpoint)
        index = _read_or(index_path, assigned.limit(0))
        decisions = semantic_dedup_increment(
            batch_df, index, centroids, eps,
            id_col=id_col, vec_col=vec_col, round_dp=round_dp,
            new_assigned=assigned,
        )
        # decisions FIRST is deliberate (r15 ordering sweep): the
        # replay guard reads the INDEX, so index-first would empty the
        # replayed batch and the batch's decisions (the sink's OUTPUT)
        # would never be written at all. The replay's duplicate
        # decision rows are reconciled here instead (r16, r15 ADVICE):
        # the recompute is deterministic (static centroids, index
        # unchanged by the crashed attempt), so an anti-join by id
        # against what already landed makes the append idempotent.
        if _has_table(decisions_path):
            prior = spark.read.parquet(decisions_path).select(id_col)
            decisions = decisions.join(prior, on=id_col, how="left_anti")
        _audit("semantic_dedup", decisions)
        # materialize: the append plan must not lazily read
        # decisions_path while appending to it
        decisions = decisions.transform(reliable_checkpoint)
        decisions.write.mode("append").parquet(decisions_path)
        _crash_point("semdedup_decisions_appended")
        assigned.write.mode("append").parquet(index_path)
        _crash_point("semdedup_index_appended")

    return _start_sink("semdedup", vecs_stream, _sink, checkpoint, available_now)


def start_streaming_span_dedup(
    docs_stream: DataFrame,
    cleaned_path: str,
    index_path: str,
    n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Streaming substring-span surgery — the third dedup family's
    streaming closure (LSH: ``start_streaming_near_dedup``; semantic:
    ``start_streaming_semantic_dedup``): each arriving micro-batch is
    probed against the persisted :func:`~..operators.dedup
    .span_gram_index` (spans whose n-gram was EVER seen get cut;
    within the batch the lowest-(doc, pos) occurrence is canonical),
    the cleaned docs append to ``cleaned_path``, and the batch's
    PRE-surgery gram hashes append to ``index_path`` — pre-surgery so
    a later doc repeating a span this batch canonically introduced is
    still caught. Corpus text is never re-tokenized; the index grows
    8 bytes per distinct gram.

    Replay-idempotent by exact id against the CLEANED table (appended
    FIRST): a replayed micro-batch is dropped before probing. The
    index append goes LAST because the opposite order is the dangerous
    one — with the index landing first, a crash before the cleaned
    append would replay the batch with its own grams already indexed,
    and its spans would cut against themselves. The window of the
    actual order (cleaned landed, index not) closes on replay: the
    index append covers the grams of the WHOLE batch, guard-dropped
    docs included, minus the grams already indexed — so the replay
    appends exactly the grams the crashed attempt missed. NOTE this is
    the OPPOSITE order from the LSH/image/video sinks (r15): those
    indexes are id-keyed, so index-first is replay-safe there and
    corpus-first would lose the keys; this gram index is id-LESS, so
    index-first would self-poison and cleaned-first is the only safe
    order.
    """
    from data_ingestion_tool_bakasura__spark.operators.dedup import (
        remove_repeated_spans_increment,
        span_gram_index,
    )

    _local_or_raise(cleaned_path, "start_streaming_span_dedup cleaned_path")
    _local_or_raise(index_path, "start_streaming_span_dedup index_path")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = _read_or(index_path, spark.createDataFrame([], "gh long"))
        fresh = _unseen(batch_df, cleaned_path, id_col)
        if fresh is not None:
            cleaned = remove_repeated_spans_increment(
                fresh, index, n=n, text_col=text_col, id_col=id_col
            ).transform(reliable_checkpoint)
            _audit("span_dedup", cleaned)
            cleaned.write.mode("append").parquet(cleaned_path)
            _crash_point("spandedup_cleaned_appended")
        # pre-surgery grams of the whole batch (see docstring); the
        # anti-join keeps the index append-only on distinct hashes (no
        # duplicate gh rows across batches or replays)
        new_grams = span_gram_index(
            batch_df, n=n, text_col=text_col, id_col=id_col
        ).join(
            index.select("gh"), on="gh", how="left_anti"
        ).transform(reliable_checkpoint)
        new_grams.write.mode("append").parquet(index_path)
        _crash_point("spandedup_index_appended")

    return _start_sink("spandedup", docs_stream, _sink, checkpoint, available_now)


def start_streaming_image_dedup(
    media_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_hamming: int = 8,
    max_bucket_size: int | None = 100,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Continuously near-deduplicated MEDIA corpus — the image-side
    twin of :func:`start_streaming_near_dedup` (C15 x C17): each
    arriving batch of (id, payload) rows is perceptual-hashed ONCE,
    probed against the persisted :func:`~..multimodal.media
    .image_hash_index` via ``image_near_dup_increment``, and only
    survivors' payloads + 65-byte hash rows are appended. Within a
    batch the min-id copy is canonical (the increment's pair contract
    makes ``id_b`` always the duplicate side); across batches first
    arrival wins. Payloads are hashed exactly once per image, ever —
    the corpus side contributes only its hash rows, so a year of
    daily media drops costs a year of increments.

    Replay-idempotent twice over: the module's skeleton contract (the
    exact-id guard against corpus ids, then ``_commit_index_first``),
    and the increment itself drops wave ids already present in the
    hash index. The oversized-band boilerplate cap applies per batch
    over index+wave combined populations.
    """
    from data_ingestion_tool_bakasura__spark.multimodal.media import (
        image_hash_index,
        image_near_dup_increment,
    )

    _local_or_raise(corpus_path, "start_streaming_image_dedup corpus_path")
    _local_or_raise(index_path, "start_streaming_image_dedup index_path")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _unseen(batch_df, corpus_path, id_col)
        if batch_df is None:
            return
        # hash the batch ONCE: feeds the near-dup probe AND (filtered
        # to survivors) the index append
        batch_h = image_hash_index(
            batch_df, id_col=id_col, payload_col=payload_col
        ).transform(reliable_checkpoint)
        index = _read_or(index_path, batch_h.limit(0))
        pairs = image_near_dup_increment(
            index, batch_df, id_col=id_col, payload_col=payload_col,
            bands=bands, max_hamming=max_hamming,
            max_bucket_size=max_bucket_size, new_hashes=batch_h,
        )
        # id_b is always the duplicate side (index witness or larger
        # within-batch id), so the drop set is exactly the id_b column
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        _commit_index_first(
            "imagededup", "image_dedup", batch_df, id_col, drop,
            batch_h, "media_id", index, index_path, corpus_path,
        )

    return _start_sink("imgdedup", media_stream, _sink, checkpoint, available_now)


def start_streaming_video_dedup(
    media_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    id_col: str = "media_id",
    media_col: str = "media",
    every_k: int = 2,
    min_jaccard: float = 0.5,
    max_videos_per_frame: int | None = 50,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Continuously near-deduplicated VIDEO corpus — the video-side
    twin of :func:`start_streaming_image_dedup` (C15 x C17): each
    arriving batch of (id, media) rows is frame-sampled and
    perceptual-hashed ONCE, probed against the persisted
    :func:`~..multimodal.media.video_fingerprint_index` via
    ``video_near_dup_increment``, and only survivors' payloads +
    (video_id, fh) fingerprint rows are appended. Within a batch the
    min-id copy is canonical (the increment's pair contract makes
    ``id_b`` always the duplicate side); across batches first arrival
    wins. Videos are sampled + hashed exactly once per video, ever.

    Same replay/crash contract as the image closure (the module's
    skeleton contract, ``_commit_index_first``); the increment drops
    wave ids already in the fingerprint index; the hot-frame
    boilerplate cap applies per batch over index+wave combined
    populations."""
    from data_ingestion_tool_bakasura__spark.multimodal.media import (
        video_fingerprint_index,
        video_near_dup_increment,
    )

    _local_or_raise(corpus_path, "start_streaming_video_dedup corpus_path")
    _local_or_raise(index_path, "start_streaming_video_dedup index_path")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _unseen(batch_df, corpus_path, id_col)
        if batch_df is None:
            return
        # sample + hash the batch ONCE: feeds the near-dup probe AND
        # (filtered to survivors) the index append
        batch_fp = video_fingerprint_index(
            batch_df, id_col=id_col, media_col=media_col, every_k=every_k
        ).transform(reliable_checkpoint)
        index = _read_or(index_path, batch_fp.limit(0))
        pairs = video_near_dup_increment(
            index, batch_df, id_col=id_col, media_col=media_col,
            every_k=every_k, min_jaccard=min_jaccard,
            max_videos_per_frame=max_videos_per_frame,
            new_fingerprints=batch_fp,
        )
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        _commit_index_first(
            "videodedup", "video_dedup", batch_df, id_col, drop,
            batch_fp, "video_id", index, index_path, corpus_path,
        )

    return _start_sink("viddedup", media_stream, _sink, checkpoint, available_now)


def start_streaming_crawl(
    pages_stream: DataFrame,
    corpus_path: str,
    url_col: str = "url",
    payload_col: str = "payload",
    order_col: str = "record_id",
    blocked_domains=None,
    robots_rules_path: str | None = None,
    host_ranks_path: str | None = None,
    min_host_rank: float = 0.0,
    keep_unranked_hosts: bool = True,
    max_per_domain_per_batch: int | None = None,
    max_per_domain_total: int | None = None,
    dsir_ratios_path: str | None = None,
    dsir_min_weight: float = 0.0,
    quality_gate: str | None = None,
    langid_profiles_path: str | None = None,
    allowed_langs=None,
    keep_und: bool = True,
    boilerplate_removal: bool | dict = False,
    seen_bloom: bool | dict = False,
    link_graph_path: str | None = None,
    ranks_refresh_every: int | None = None,
    compact_every: int | None = None,
    archive_path: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Continuously URL-deduplicated page corpus — the crawl-side
    closure (C20 x C17): feed ``read_warc(..., streaming=True)`` (or
    any stream with url + payload columns) and each micro-batch is
    URL-normalized, deduplicated within the batch (lowest ``order_col``
    wins), anti-joined against the PERSISTED corpus on ``norm_url``
    (first arrival wins across batches), blocklist/cap-filtered, and
    appended as (norm_url, url, domain, text, n_chars) rows with the
    HTML already extracted. ``read_wet(..., streaming=True)`` streams
    plug into the SAME closure (``payload_col="text"``): a string
    payload column is treated as already-extracted text and skips the
    charset-decode + html_to_text leg.

    Replay idempotence is structural here: there is exactly ONE write
    target, and the guard anti-join reads it — a crash-then-replayed
    micro-batch re-probes the corpus and contributes nothing. (The
    two-write ordering discipline of the image/dedup sinks is not
    needed.) ``robots_rules_path`` points at a persisted
    ``robots_rules_df`` table (host, prefix, allow, prefix_len): each
    batch passes the RFC 9309 longest-match gate before landing — the
    politeness filter every real crawler runs.
    ``max_per_domain_per_batch`` bounds a hostile batch;
    ``max_per_domain_total`` enforces a CORPUS-WIDE cap across batches
    by joining the persisted per-domain counts (an O(domains) exchange
    per batch — at crawl scale domains are millions of rows, so this
    is a plain join, never a broadcast of the count table).

    ``host_ranks_path`` points at a persisted link-graph rank table
    (``linkgraph.pagerank(...).write.parquet(...)``): each batch
    passes the host-quality prior (``crawl.host_rank_filter``) at the
    DOMAIN level before any per-page decode/extract cost —
    ``min_host_rank`` sets the floor, ``keep_unranked_hosts`` decides
    whether newly-discovered hosts pass (default True: a crawler must
    not starve hosts the last graph build never saw). The corpus
    schema is unchanged (the rank annotation is dropped after the
    gate).

    ``dsir_ratios_path`` points at a persisted DSIR log-ratio table
    (``dsir_log_ratios(...).write.parquet(...)``): each batch's
    extracted text is scored with ``dsir_apply`` (one broadcast join —
    the model is <= n_buckets rows) and only pages with
    ``log_weight >= dsir_min_weight`` land — the continuously-curated
    crawl: fit the importance model once against a target corpus, then
    every future trigger keeps only target-like pages.

    ``quality_gate`` (a '+'-combination of 'c4'/'gopher'/'rep')
    applies the C4 line cleaning / Gopher document-quality rules /
    Gopher repetition rules (functions/quality.py) to the extracted
    text of each batch — the FineWeb order (C4 cleans and gates
    first, the later gates judge the CLEANED text). Pure map-only
    codegen expressions, so the gate adds zero exchanges and zero
    stream state to the micro-batch plan.

    ``langid_profiles_path`` points at a persisted
    ``sampling.fit_lang_profiles`` table; each batch is classified
    with the char-trigram profiles (``operators.crawl
    .language_filter``, the oracle-checked C16 serve path) and, when
    ``allowed_langs`` is given, only pages guessing one of those
    languages land. Runs BEFORE the quality gate (the FineWeb order —
    quality thresholds are language-specific). The ``lang`` column is
    ALWAYS in the output schema (NULL when the gate is off), the same
    stable-schema contract as ``log_weight``.

    ``boilerplate_removal`` swaps the HTML leg's flat
    ``html_to_text`` for jusText main-content extraction
    (``functions.boilerplate.extract_main_content``): nav bars,
    footers and link lists drop out BEFORE the language/quality/DSIR
    gates judge the page — the trafilatura position in a real crawl
    stack. Pass a dict to override the classification thresholds
    (e.g. ``{"stopwords_high": 0.05}``). Costs one extra per-batch
    exchange on ``norm_url`` (the block window + re-join). WET
    streams ignore it: their payload is already extracted text.

    ``seen_bloom`` replaces the per-trigger corpus anti-join with a
    persisted Bloom seen-set at ``corpus_path + "_bloom"``
    (operators/bloom.py): definitely-new URLs (the steady-state
    majority) never touch the corpus, and the maybe-seen minority
    resolves through a broadcast-reversed exact check — ONE map-only
    corpus scan, the corpus never shuffled. The bitmap updates BEFORE
    each corpus append (superset invariant: a crash in between leaves
    harmless extra bits, never a false negative), and enabling the
    flag on an existing corpus bootstraps the bitmap from the landed
    URLs. Pass a dict to size it (``{"n_expected": ..., "fpp": ...}``).

    ``link_graph_path`` maintains the crawl's OWN host link graph as it
    goes: each micro-batch's HTML pages that survive the
    dedup/robots/host-rank/domain-cap stage — link capture happens at
    payload decode, BEFORE the boilerplate/language/quality gates, so
    links from pages those later gates drop still vote (the
    Common-Crawl reading: a low-quality page's outlinks are real
    discovery signal even when its text is not corpus-worthy) — run
    the one-pass anchor parser (``linkgraph.extract_links_html``) and
    fold into the persisted waved edge table via
    ``host_graph_increment`` with ``wave=f"batch-{batch_id}"`` —
    replay-idempotent by the wave-id guard, links parsed once per
    batch ever. Rebuild ranks from it
    anytime (``pagerank(load_host_graph(...))``) and feed them back as
    ``host_ranks_path`` — the full crawler loop (fetch -> extract ->
    graph -> prioritize) with no WAT dependency. WET streams (string
    payloads, no HTML) skip it.

    ``ranks_refresh_every`` (requires ``link_graph_path`` AND
    ``host_ranks_path``) closes the loop INSIDE the stream: every N-th
    micro-batch, after its links fold into the graph, PageRank is
    recomputed from the accumulated graph and swapped into
    ``host_ranks_path`` (near-atomic directory swap) — so the
    host-quality gate the NEXT batches apply reflects everything
    crawled so far. The self-prioritizing crawl: fetch -> extract ->
    graph -> re-rank -> gate, no external orchestration.

    ``compact_every`` fights the appender's small-files problem: every
    N-th micro-batch, after its append lands, the corpus is rewritten
    to right-sized files (``operators.maintenance.compact`` — layout
    only, rows preserved, near-atomic swap). Long-running crawls
    otherwise accumulate one file set per trigger and every
    seen-guard / domain-count read pays the listing + tiny-file tax.

    ``archive_path`` (r12) makes the crawl an ARCHIVE PUBLISHER: each
    micro-batch's surviving RAW responses (post dedup/robots/rank/cap,
    BEFORE extraction — a crawler archives wire bytes, not derived
    text) write as Common-Crawl-layout ``.warc.gz`` + sibling ``.cdxj``
    index files under ``archive_path/batch-<id>/``
    (``sources.warc.write_warc(gzip_members=True, cdx=True)`` with a
    warcinfo leader). Replay-safe via write-to-tmp + atomic rename +
    exists-guard: a COMPLETED batch dir is never touched again — in
    particular a replay AFTER the corpus append (whose seen-guard
    empties the batch) cannot destroy the published records — while a
    crash mid-write leaves only a tmp dir the replay clears and
    rewrites (archive BEFORE corpus, the graph ordering).
    ``read_cdx(archive_path + "/*/*.cdxj")`` then plans range-fetches
    over everything the crawl ever kept.
    """
    if ranks_refresh_every and not (link_graph_path and host_ranks_path):
        # a silent no-op here would read as "self-prioritizing" while
        # never ranking anything — fail loudly at stream construction
        raise ValueError(
            "ranks_refresh_every requires BOTH link_graph_path (the graph"
            " to rank) and host_ranks_path (where the gate reads ranks)"
        )
    if quality_gate is not None:
        from data_ingestion_tool_bakasura__spark.operators.crawl import (
            parse_quality_gate,
        )

        try:
            parse_quality_gate(quality_gate)
        except ValueError as exc:
            raise ValueError(f"quality_gate: {exc}") from None
    from data_ingestion_tool_bakasura__spark.functions import urls as U
    from data_ingestion_tool_bakasura__spark.functions.text import html_to_text_udf
    from data_ingestion_tool_bakasura__spark.operators import crawl as CR
    from data_ingestion_tool_bakasura__spark.sources.warc import decode_payload_udf

    # resolved here, not in _start_sink: _run_token keys off it
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="crawl_ckpt_")
    _local_or_raise(corpus_path, "start_streaming_crawl corpus_path")
    # the checkpoint must be driver-local too (r15, from the r14
    # advice): _run_token persists the run token with driver-side
    # os.makedirs/open INSIDE the checkpoint dir, so a remote
    # (hdfs://, s3a://) checkpoint would silently get a literal local
    # 'hdfs:' directory and a FRESH token per driver host — duplicate
    # archive dirs and link-graph wave ids on every driver move. The
    # corpus is already required local, so this costs no capability.
    # Only the run-token IO uses the stripped form; checkpointLocation
    # keeps the caller's original string (r15 review: a scheme-less
    # path resolves against fs.defaultFS, which on a non-local-default
    # cluster would split the Spark checkpoint from the token's dir —
    # the exact split-brain this gate exists to prevent).
    local_ckpt = _local_or_raise(checkpoint, "start_streaming_crawl checkpoint")
    if archive_path:
        _local_or_raise(archive_path, "start_streaming_crawl archive_path")
        # sweep ORPHANED attempt dirs at stream start (r15 hidden-temp
        # audit): a crashed archive attempt leaves batch-<token>-<id>_tmp,
        # and both read-back globs (read_warc(archive + "/*"),
        # read_cdx(archive + "/*/*.cdxj")) DO list it — Spark's
        # hidden-file filter does not apply to user-glob-expanded
        # directory levels (verified empirically, dot-prefixing does not
        # help). The per-batch replay cleanup only targets the SAME adir
        # name, so after checkpoint loss (fresh run token) the orphan
        # would pollute read-back forever. One writer per archive_path
        # (one streaming driver, the documented contract) makes the
        # sweep safe: any *_tmp entry at start belongs to a dead run.
        # only the attempt dirs THIS sink creates (batch-<token>-<id>_tmp,
        # directories) — r15 review: a bare *_tmp match would rmtree a
        # stray FILE (NotADirectoryError wedging stream start) or, with a
        # swap-managed table nested under archive_path, delete a crashed
        # swap's only full copy before recover_swap could restore it.
        aroot = archive_path.removeprefix("file://")
        if os.path.isdir(aroot):
            for e in os.listdir(aroot):
                p = os.path.join(aroot, e)
                if (e.startswith("batch-") and e.endswith("_tmp")
                        and os.path.isdir(p)):
                    shutil.rmtree(p)
    # run-scoped artifact keys (see _run_token): archive dirs and graph
    # wave ids must not collide across checkpoint generations
    token = _run_token(local_ckpt)
    bloom_holder: list = []  # loaded once, reused across micro-batches

    def _bloom(spark):
        from data_ingestion_tool_bakasura__spark.operators.bloom import (
            BloomSeenSet,
        )

        if bloom_holder:
            return bloom_holder[0]
        path = corpus_path.removeprefix("file://") + "_bloom"
        kw = dict(seen_bloom) if isinstance(seen_bloom, dict) else {}
        have_corpus = _has_table(corpus_path)
        landed = (
            spark.read.parquet(corpus_path).select("norm_url")
            if have_corpus else None
        )
        if landed is not None:
            kw.setdefault("n_expected", max(1_000_000, 2 * landed.count()))
        # load_or_create tolerates a torn/corrupt artifact (fresh set);
        # then ALWAYS reconcile from the landed corpus (r14-late
        # review): a bitmap that is stale relative to the corpus — runs
        # with seen_bloom off in between, a lost save, a rebuilt set —
        # would otherwise re-land seen URLs as permanent duplicates.
        # The OR is idempotent, so this is one corpus scan per stream
        # START (not per trigger) that makes the superset invariant
        # hold unconditionally at entry.
        b = BloomSeenSet.load_or_create(spark, path, **kw)
        if landed is not None:
            b.add_df(landed, "norm_url")
        bloom_holder.append(b)
        return b

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from data_ingestion_tool_bakasura__spark.operators.maintenance import (
            recover_swap,
        )

        spark = batch_df.sparkSession

        # un-wedge a crash between a prior swap's two renames BEFORE any
        # exists-check or read (r14-late review): the corpus seen-guard
        # would otherwise treat the displaced table as absent, recreate
        # it from one batch, and the next compact's swap-entry cleanup
        # would delete the only full copy; ditto the host-ranks gate,
        # which would silently run ungated until the next refresh.
        recover_swap(corpus_path.removeprefix("file://"))
        if host_ranks_path:
            recover_swap(host_ranks_path.removeprefix("file://"))
        batch = batch_df.withColumn("norm_url", U.url_normalize(F.col(url_col)))
        w = Window.partitionBy("norm_url").orderBy(F.col(order_col))
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        corpus_exists = _has_table(corpus_path)
        if seen_bloom:
            corpus_urls = (
                spark.read.parquet(corpus_path).select("norm_url")
                if corpus_exists else None
            )
            batch = _bloom(spark).guard_anti_join(
                batch, "norm_url", corpus_urls
            )
        elif corpus_exists:
            seen = spark.read.parquet(corpus_path).select("norm_url")
            batch = batch.join(seen, on="norm_url", how="left_anti")
        if blocked_domains:
            batch = CR.domain_blocklist_filter(batch, blocked_domains, url_col)
        if robots_rules_path:
            # persisted (host, prefix, allow, prefix_len) table from
            # robots_rules_df(...).write.parquet(...) — the politeness
            # gate every real crawler runs; rules fit memory per-host
            # and broadcast
            batch = CR.robots_filter(
                batch, spark.read.parquet(robots_rules_path), url_col
            )
        if host_ranks_path and _has_table(host_ranks_path):
            # persisted linkgraph.pagerank table (node, rank) — the
            # host-quality prior, applied at the domain level BEFORE
            # any per-page decode/extract cost; O(hosts) join, not a
            # broadcast (the persisted-domain-count precedent). A
            # missing table is the self-prioritizing bootstrap
            # (ranks_refresh_every writes it after the first fold),
            # not an error: no ranks yet = no gate yet.
            batch = CR.host_rank_filter(
                batch, spark.read.parquet(host_ranks_path), url_col,
                min_rank=min_host_rank, keep_unranked=keep_unranked_hosts,
            ).drop("host_rank")
        if max_per_domain_per_batch:
            batch = CR.domain_cap(
                batch, url_col, max_per_domain_per_batch, order_col=order_col
            )
        if max_per_domain_total:
            dom = U.registrable_domain(U.url_host(F.col(url_col)))
            batch = batch.withColumn("_dom2", dom)
            w2 = Window.partitionBy("_dom2").orderBy(F.col(order_col))
            batch = batch.withColumn("_rk", F.row_number().over(w2))
            if _has_table(corpus_path):
                have = (
                    spark.read.parquet(corpus_path)
                    .groupBy(F.col("domain").alias("_dom2"))
                    .agg(F.count("*").alias("_n_have"))
                )
                batch = batch.join(have, "_dom2", "left").na.fill({"_n_have": 0})
            else:
                batch = batch.withColumn("_n_have", F.lit(0))
            batch = batch.filter(
                F.col("_rk") + F.col("_n_have") <= max_per_domain_total
            ).drop("_rk", "_n_have", "_dom2")
        if archive_path:
            # archive BEFORE corpus (crash ordering, see docstring).
            # Write-to-tmp + atomic rename + exists-guard: a batch dir
            # that EXISTS is a completed first attempt and is never
            # touched again — a replay AFTER the corpus append sees an
            # emptied batch (the seen-guard drops every row) and a
            # naive rewrite would destroy the published archive (r12
            # review finding); a crash DURING the write leaves only
            # the tmp dir, which the replay clears and rewrites.
            from data_ingestion_tool_bakasura__spark.sources.warc import (
                write_warc,
            )

            # the archive leg adds its own action over the gated batch;
            # materialize so the corpus append below reuses the computed
            # rows instead of re-running the whole gate stack (the
            # checkpoint is GC-scoped: a failed attempt leaks no cache)
            batch = reliable_checkpoint(batch)
            adir = os.path.join(
                archive_path.removeprefix("file://"),
                f"batch-{token}-{batch_id:05d}",
            )
            # skip EMPTY gated batches: a checkpoint-loss replay
            # whose rows were all corpus-seen must not litter the
            # archive with empty batch dirs under the new run token
            if not os.path.exists(adir) and batch.take(1):
                tmp_dir = adir + "_tmp"
                if os.path.exists(tmp_dir):
                    shutil.rmtree(tmp_dir)  # partial crashed attempt
                date_col = ("warc_date" if "warc_date" in batch.columns
                            else None)
                asrc = batch
                if date_col is None:
                    asrc = asrc.withColumn(
                        "_adate", F.lit("1970-01-01T00:00:00Z")
                    )
                    date_col = "_adate"
                write_warc(
                    asrc, tmp_dir, url_col=url_col, date_col=date_col,
                    payload_col=payload_col,
                    status_col="http_status", ctype_col="content_type",
                    gzip_members=True, cdx=True,
                    cdx_filename_prefix=f"batch-{token}-{batch_id:05d}/",
                    warcinfo={"software": "bakasura-spark streaming crawl",
                              "format": "WARC File Format 1.0"},
                )
                _crash_point("archive_tmp_written")
                os.makedirs(os.path.dirname(adir), exist_ok=True)
                os.rename(tmp_dir, adir)
                _crash_point("archive_published")
        # WET streams (read_wet) carry already-extracted text: when the
        # payload column is a STRING it is used verbatim; binary
        # payloads (read_warc) take the charset-decode + html_to_text
        # leg. One closure serves both Common-Crawl formats.
        link_html = None
        if dict(batch.dtypes).get(payload_col) == "string":
            text_expr = F.col(payload_col)
        else:
            ctype = (F.col("content_type") if "content_type" in batch.columns
                     else F.lit("text/html"))
            decoded = decode_payload_udf()(F.col(payload_col), ctype)
            if link_graph_path:
                link_html = batch.select(
                    F.col(url_col).alias("url"), decoded.alias("html")
                )
            if boilerplate_removal:
                from data_ingestion_tool_bakasura__spark.functions.boilerplate import (
                    extract_main_content,
                )

                th = (boilerplate_removal
                      if isinstance(boilerplate_removal, dict) else {})
                # norm_url is unique within the batch here (post-dedup),
                # so it keys the block window and the re-join
                html_df = batch.withColumn("_html", decoded)
                mc = extract_main_content(html_df, "_html", "norm_url", **th)
                batch = html_df.join(
                    mc.select("norm_url", "main_text"), "norm_url"
                ).drop("_html")
                text_expr = F.col("main_text")
            else:
                text_expr = html_to_text_udf()(decoded)
        out = batch.select(
            "norm_url",
            F.col(url_col).alias("url"),
            U.registrable_domain(U.url_host(F.col(url_col))).alias("domain"),
            text_expr.alias("text"),
        ).withColumn("n_chars", F.length("text"))
        if langid_profiles_path:
            profiles = spark.read.parquet(langid_profiles_path)
            out = CR.language_filter(
                out, profiles, allowed_langs=allowed_langs,
                text_col="text", id_col="norm_url", keep_und=keep_und,
            )
        else:
            out = out.withColumn("lang", F.lit(None).cast("string"))
        if quality_gate:
            out = CR.web_quality_filter(out, "text", quality_gate).withColumn(
                "n_chars", F.length("text")
            )
        # log_weight is ALWAYS in the output schema (NULL when DSIR is
        # off): toggling dsir_ratios_path across runs of one corpus_path
        # must not produce mixed-schema parquet files — the seen-guard /
        # domain-count reads above use plain spark.read.parquet (no
        # mergeSchema) and would otherwise drop or trip on the column.
        if dsir_ratios_path:
            from data_ingestion_tool_bakasura__spark.operators.sampling import (
                dsir_apply,
            )

            ratios = spark.read.parquet(dsir_ratios_path)
            scored = dsir_apply(
                out.select(F.col("norm_url").alias("doc_id"), "text"), ratios
            ).filter(F.col("log_weight") >= dsir_min_weight)
            out = out.join(
                scored.select(F.col("doc_id").alias("norm_url"), "log_weight"),
                "norm_url",
            )
        else:
            out = out.withColumn("log_weight", F.lit(None).cast("double"))
        # materialize before the append: the plan lazily reads
        # corpus_path (the seen-guard) while appending to it
        out = reliable_checkpoint(out)
        if link_html is not None:
            # graph BEFORE corpus (crash ordering): a crash in between
            # replays the batch, the wave-id guard no-ops the graph
            # append and the corpus probe still lands the pages; the
            # reverse order would lose the batch's links forever (the
            # replayed batch dedups to empty before extraction)
            from data_ingestion_tool_bakasura__spark.operators import (
                linkgraph as LG,
            )

            LG.host_graph_increment(
                spark, link_graph_path,
                LG.extract_links_html(link_html, "html", "url"),
                wave_id=f"{token}-batch-{batch_id}",
            )
            _crash_point("graph_folded")
            if (ranks_refresh_every and host_ranks_path
                    and batch_id % ranks_refresh_every == 0):
                from data_ingestion_tool_bakasura__spark.operators.maintenance import (
                    swap_directory,
                )

                ranks = LG.pagerank(
                    LG.load_host_graph(spark, link_graph_path),
                    weight_col="n_links",
                )
                dst = host_ranks_path.removeprefix("file://")
                if os.path.exists(dst):
                    tmp = dst.rstrip("/") + "_ranks_tmp"
                    ranks.write.mode("overwrite").parquet(tmp)
                    swap_directory(spark, dst, tmp)
                else:
                    ranks.write.parquet(dst)
                _crash_point("ranks_swapped")
        if seen_bloom:
            # bloom BEFORE corpus (superset invariant): a crash between
            # the two leaves extra bits — harmless, the maybe-seen rows
            # re-resolve through the exact check on replay; the reverse
            # order could leave a landed URL out of the bitmap and
            # silently re-land it later
            _bloom(spark).add_df(out.select("norm_url"), "norm_url")
            _crash_point("bloom_written")
        _audit("crawl", out)
        out.write.mode("append").parquet(corpus_path)
        _crash_point("corpus_appended")
        if (compact_every and batch_id > 0
                and batch_id % compact_every == 0
                and _has_table(corpus_path)):
            from data_ingestion_tool_bakasura__spark.operators.maintenance import (
                compact,
            )

            # layout-only rewrite AFTER the append (a crash here loses
            # nothing: rows are already durable; the swap restores on
            # failure). Runs inside foreachBatch, so no reader races
            # with the swap within this stream.
            compact(spark, corpus_path.removeprefix("file://"))

    return _start_sink("crawl", pages_stream, _sink, checkpoint, available_now)


__all__ = [
    "IngestConfig",
    "dedup_against_index",
    "start_incremental_ingest",
    "start_streaming_crawl",
    "start_streaming_image_dedup",
    "start_streaming_near_dedup",
    "start_streaming_semantic_dedup",
    "start_streaming_span_dedup",
    "start_streaming_upsert",
    "start_streaming_video_dedup",
    "stream_documents",
]

"""The benchmark's workloads. Each drives the package only through its
public functions, from one process and one closed-loop client: the next
call starts when the previous one has returned.

A workload object has three steps, which ``run.py`` times:

- ``prepare()``: repeated (the median is part of ``setup_s``); makes the
  run's inputs from the seed and the empty fixtures they go into;
- ``base(tracer)``: once, part of ``setup_s``: the ``serve`` write path,
  index build and warm-up round of searches, or for ``curate`` only the
  session's first job and Python workers;
- ``window(seconds, tracer)``: the measured loop, whole batches until
  ``seconds`` have passed, at least one.

With tracing on, the window materializes each layer boundary that a lazy
plan would otherwise merge into the next call, so every span holds only
its own layer's jobs.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import shutil
import statistics
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

import gen

EMBED_DIM = 64
TOP_K = 10
ANN_KINDS = ("hnsw", "ivf", "pq", "binary")
#: Fewest index rows the ``serve`` check accepts. ``build_ann`` splits
#: the hnsw graph into 8 shards and the default beam is ``ef_search=64``
#: per shard, so below 8 * 64 rows every shard fits in the beam and
#: hnsw search is exhaustive, i.e. exact; this floor leaves each shard
#: twice the beam. The pq and binary shortlists are 50 rows and ivf
#: probes 2 of 8 lists, both well under it.
MIN_INDEX_ROWS = 2 * 8 * 64
SEARCH_MODES = ("text", "exact", "hnsw", "ivf", "pq", "binary", "hybrid")


@dataclass
class Window:
    """What one phase of a run did. ``calls`` holds (span name,
    seconds) for every timed call into the package; ``batches`` the
    latency of each batch (a wave stored and indexed, a round of
    searches, or a curation pass): the sum of its calls, without the
    benchmark's own checks; ``batch_cpu`` the CPU seconds the processes
    of the run (``cpu()``) spent over each batch."""

    cpu: Callable[[], float]
    calls: list[tuple[str, float]] = field(default_factory=list)
    batches: list[float] = field(default_factory=list)
    batch_cpu: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extras: dict[str, list[float]] = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def batch(self):
        n_calls, cpu0 = len(self.calls), self.cpu()
        yield
        self.batch_cpu.append(self.cpu() - cpu0)
        self.batches.append(sum(s for _, s in self.calls[n_calls:]))

    def fail(self, what: str, n: int = 1) -> None:
        """Count ``n`` failed operations, described by ``what``."""
        self.failed += n
        self.failures.append(what)

    def extra(self, name: str, value: float) -> None:
        self.extras.setdefault(name, []).append(float(value))

    def timed(self, tracer, name: str, fn, parent: str | None = None, lazy: bool = False):
        """One closed-loop call under its own span. Counts as one
        attempted operation; an exception counts it failed and yields
        None, and the workload goes on. A ``lazy`` call only builds a
        plan unless tracing materializes it, so untraced it is neither
        timed nor counted (unless it raises)."""
        counted = tracer.enabled or not lazy
        with tracer.span(name, parent):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # a failed call is a result, not a crash
                out = None
                counted = True
                self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            if counted:
                self.attempted += 1
                self.calls.append((name, time.perf_counter() - t0))
        return out


def _materialize(df):
    """Cut a lazy plan at a layer boundary (traced runs only)."""
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# serve: files -> index in set-up, then searches
# ---------------------------------------------------------------------------

@dataclass
class Probe:
    """One query with its known answer: the chunk whose content is the
    query, and the numpy brute-force top-k over the table."""

    chunk_id: str
    query: str
    text_query: str
    truth: list[tuple[str, float]]


class Serve:
    """The reference journey on one IndexClient. Set-up runs the write
    path: wave 0 of raw files is extracted, chunked, embedded and stored
    into an empty index; wave 1, which re-uploads some wave-0 files, is
    stored on top (the dedup-checked append against existing rows);
    then every ANN kind is built, and one warm-up round of searches
    pays each mode's one-off costs (plan code generation, Python worker
    imports). The window then searches only: rounds of one query per
    mode (text, exact, the four ANN kinds, hybrid), each round's query
    a known chunk, half of them from wave 1."""

    def __init__(self, spark, workdir: str, seed: int, cpu: Callable[[], float],
                 docs_per_wave: int, n_probes: int):
        self.spark = spark
        self.cpu = cpu
        self.workdir = workdir
        self.seed = seed
        self.docs_per_wave = docs_per_wave
        self.n_probes = n_probes
        self._prepared = 0

    def prepare(self) -> None:
        """Write the run's two waves of files."""
        self._prepared += 1
        self.root = os.path.join(self.workdir, f"serve{self._prepared}")
        self.files = gen.WaveGenerator(self.seed, os.path.join(self.root, "src"),
                                       self.docs_per_wave)
        for _ in range(2):
            self.files.next_wave()
        self.index_path = os.path.join(self.root, "index")

    # -- package calls -------------------------------------------------------

    def _docs(self, path: str, glob: str | None = None):
        from data_ingestion_tool_bakasura__spark.multimodal.extract import (
            assemble_documents,
            auto_ocr,
            auto_parse_pages,
            extract_pages,
        )
        from data_ingestion_tool_bakasura__spark.sources.readers import read_binary_files

        # extract_to_documents is extract_pages + assemble_documents,
        # called apart so the traced run can cut between them
        pages = extract_pages(read_binary_files(self.spark, path, glob=glob),
                              parser=auto_parse_pages, ocr=auto_ocr)
        return assemble_documents(pages).withColumnRenamed("path", "doc_id")

    @staticmethod
    def _rows(docs):
        from data_ingestion_tool_bakasura__spark.operators.ingest import (
            IngestConfig,
            ingest_documents,
        )

        return ingest_documents(docs, cfg=IngestConfig(embedding_dim=EMBED_DIM))

    def _search(self, mode: str, probe: Probe):
        c = self.client
        if mode == "text":
            df = c.search_text(probe.text_query, k=TOP_K)
        elif mode == "hybrid":
            df = c.search_hybrid(probe.query, k=TOP_K, index="hnsw")
        else:
            df = c.search_vector(probe.query, k=TOP_K, index=mode)
        return df.collect()

    # -- set-up: the write path ----------------------------------------------

    def base(self, tracer) -> Window:
        from data_ingestion_tool_bakasura__spark.index_client import IndexClient

        self.client = IndexClient(self.spark, self.index_path, embedding_dim=EMBED_DIM)
        self.client.initialize()
        w = Window(self.cpu)
        for wave in self.files.waves:
            self._wave(w, wave, tracer)
        for kind in ANN_KINDS:
            w.timed(tracer, f"build_ann.{kind}",
                    lambda kind=kind: self.client.build_ann(kind), "build")
        table = _read_index(self.index_path)
        w.attempted += 1
        for kind in ANN_KINDS:
            man = self.client.ann_manifest(kind)
            if man is None or man["n_table_rows"] != len(table["id"]):
                w.fail(f"build: {kind} manifest does not cover the table")
        w.attempted += 1
        w.record["table_rows"] = len(table["id"])
        if len(table["id"]) < MIN_INDEX_ROWS:
            w.fail(f"build: {len(table['id'])} index rows, fewer than the "
                   f"{MIN_INDEX_ROWS} at which ANN search differs from exact")
        w.record["table_files"] = _parquet_files(self.index_path)
        w.extra("store.table_files", w.record["table_files"])
        self.probes = self._probes(table)
        self._round(w, tracer, self.probes[-1], "warm-up")
        return w

    def _wave(self, w: Window, wave: gen.Wave, tracer) -> None:
        """Store one wave of files, then check what it left in the table."""
        from data_ingestion_tool_bakasura__spark.multimodal.extract import (
            auto_ocr,
            auto_parse_pages,
            dead_letters,
            extract_pages,
        )
        from data_ingestion_tool_bakasura__spark.sources.readers import read_binary_files

        parent = f"wave-{wave.index}"
        traced = tracer.enabled

        def extract():
            docs = self._docs(wave.path)
            # traced: the extract span runs the Python parse, and later
            # spans start from its materialized output
            return _materialize(docs) if traced else docs

        docs = w.timed(tracer, "extract", extract, parent, lazy=True)
        if docs is None:
            return

        def plan():
            rows = self._rows(docs)
            return _materialize(rows) if traced else rows

        rows = w.timed(tracer, "ingest_plan", plan, parent, lazy=True)
        if rows is None:
            return
        n_new = w.timed(tracer, "store", lambda: self.client.store(rows), parent)
        if n_new is None:
            return
        if traced:
            w.extra("ingest_plan.stored_share", n_new / max(1, rows.count()))

        table = _read_index(self.index_path)
        w.attempted += 1
        if wave.corrupt:
            bad = extract_pages(read_binary_files(self.spark, wave.path, glob="*_bad*"),
                                parser=auto_parse_pages, ocr=auto_ocr)
            dead = {os.path.basename(r["path"]) for r in dead_letters(bad).collect()}
            if dead != set(wave.corrupt):
                w.fail(f"{parent}: dead letters {sorted(dead)} != planted {wave.corrupt}")
        names = {os.path.basename(f) for f in table["filename"]}
        if set(wave.fresh) - names:
            w.fail(f"{parent}: fresh files missing from the table: "
                   f"{sorted(set(wave.fresh) - names)}")
        if names & set(wave.reuploads):
            w.fail(f"{parent}: re-uploads added rows: {sorted(names & set(wave.reuploads))}")
        hashes = table["text_hash"]
        if len(set(hashes)) != len(hashes):
            w.fail(f"{parent}: duplicate text_hash in the table")

    def _probes(self, table: dict) -> list[Probe]:
        """Seeded known-answer queries, alternating between chunks of
        wave 1 and of wave 0."""
        rng = random.Random(f"{self.seed}/probes")
        by_wave = [[], []]
        fresh_names = set(self.files.waves[1].fresh)
        # file order in the table directory is not stable across runs,
        # and ids embed the run's directory: order rows by file name and text
        order = sorted(range(len(table["filename"])),
                       key=lambda i: (os.path.basename(table["filename"][i]), table["content"][i]))
        for i in order:
            # a text query needs three corpus words; some chunks are
            # mostly page tags and OCR stand-in text
            if len({t for t in table["content"][i].split() if t in gen.VOCAB_RANK}) >= 3:
                by_wave[os.path.basename(table["filename"][i]) in fresh_names].append(i)
        probes = []
        for j in range(self.n_probes):
            i = rng.choice(by_wave[j % 2 == 0] or by_wave[j % 2 == 1])
            query = table["content"][i]
            terms = {t for t in query.split() if t in gen.VOCAB_RANK}
            probes.append(Probe(
                chunk_id=table["id"][i], query=query,
                text_query=" ".join(sorted(terms, key=gen.VOCAB_RANK.get)[-3:]),
                truth=_exact_topk(table, query),
            ))
        return probes

    # -- the measured loop: reads only ---------------------------------------

    def window(self, seconds: float, tracer) -> Window:
        w = Window(self.cpu)
        t_start = time.perf_counter()
        while not w.batches or time.perf_counter() - t_start < seconds:
            r = len(w.batches)
            self._round(w, tracer, self.probes[r % len(self.probes)], f"round-{r}")
        return w

    def _round(self, w: Window, tracer, probe: Probe, parent: str) -> None:
        with w.batch():
            for mode in SEARCH_MODES:
                hits = w.timed(tracer, f"search.{mode}",
                               lambda mode=mode: self._search(mode, probe), parent)
                if hits is not None:
                    self._check(w, mode, probe, hits, parent)

    @staticmethod
    def _check(w: Window, mode: str, probe: Probe, hits, parent: str) -> None:
        w.attempted += 1
        ids = [h["id"] for h in hits]
        if not ids or len(ids) > TOP_K or len(set(ids)) != len(ids):
            w.fail(f"{parent}: search.{mode} returned {len(ids)} rows with repeats")
        elif mode == "exact":
            if not _same_topk(hits, probe.truth):
                w.fail(f"{parent}: exact top-{TOP_K} differs from numpy brute force")
            elif probe.chunk_id not in ids:
                w.fail(f"{parent}: probe {probe.chunk_id} not found by exact")
        elif mode in ("hnsw", "ivf"):
            # the two kinds that return graph- or list-bounded candidates;
            # pq and binary rerank a shortlist by exact cosine
            found = len(set(ids) & {t[0] for t in probe.truth}) / len(probe.truth)
            w.extra(f"search.{mode}.recall_at_10", found)


def _parquet_files(path: str) -> int:
    return sum(
        1 for _, _, names in os.walk(path) for n in names if n.endswith(".parquet")
    )


def _read_index(path: str) -> dict:
    """The index table read straight from its parquet files, outside
    Spark: the oracle side of the checks."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["id", "content", "content_vector", "filename",
                                     "text_hash"])
    return t.to_pydict()


def _exact_topk(table: dict, query: str) -> list[tuple[str, float]]:
    """Numpy brute-force cosine top-k over the table's vectors, with the
    package's query embedding; ties broken by id as the index client
    does."""
    from data_ingestion_tool_bakasura__spark.functions.embed import hash_embed_py

    keep = [i for i, v in enumerate(table["content_vector"]) if v]
    if not keep:
        return []
    m = np.asarray([table["content_vector"][i] for i in keep], dtype=np.float64)
    q = np.asarray(hash_embed_py(query, EMBED_DIM), dtype=np.float64)
    sims = (m @ q) / np.maximum(np.linalg.norm(m, axis=1) * np.linalg.norm(q), 1e-300)
    order = sorted(range(len(keep)), key=lambda j: (-sims[j], table["id"][keep[j]]))
    return [(table["id"][keep[j]], float(sims[j])) for j in order[:TOP_K]]


def _same_topk(hits, truth, tol: float = 1e-6) -> bool:
    """Same ids in the same order, except where neighbouring scores tie
    within ``tol``; scores agree within ``tol``."""
    if len(hits) != len(truth):
        return False
    for h, (tid, ts) in zip(hits, truth):
        if abs(h["cos_sim"] - ts) > tol:
            return False
        if h["id"] != tid and not any(
            abs(ts - s) <= tol for i, s in truth if i == h["id"]
        ):
            return False
    return True


# ---------------------------------------------------------------------------
# curate: corpus -> curated splits
# ---------------------------------------------------------------------------

def reference_dedup(docs: list[dict], num_hashes: int, bands: int, shingle_n: int = 3,
                    max_bucket_size: int = 100) -> set[int]:
    """The doc ids that exact dedup and then MinHash-LSH near dedup keep,
    replayed outside Spark from the algorithm ``operators.dedup``
    documents: the lowest id per md5(text); distinct word ``shingle_n``
    -gram shingles of the whitespace-normalized text; one md5 per
    shingle split into two 52-bit ints h1, h2, hash k = min(h1 + k*h2);
    ``bands`` band keys of consecutive hashes, buckets above
    ``max_bucket_size`` dropped; connected components of the pairs that
    share a key; the lowest id of each component kept."""
    import re
    from collections import defaultdict

    first: dict[str, int] = {}
    for d in docs:
        h = hashlib.md5(d["text"].encode()).hexdigest()
        first[h] = min(first.get(h, d["doc_id"]), d["doc_id"])
    kept = sorted(first.values())
    text = {d["doc_id"]: d["text"] for d in docs}
    ks = np.arange(num_hashes, dtype=np.int64)
    rows = num_hashes // bands
    buckets: dict[str, list[int]] = defaultdict(list)
    for i in kept:
        toks = re.sub(r"\s+", " ", text[i]).strip(" ").split(" ")
        if len(toks) < shingle_n:
            grams = {" ".join(toks)}
        else:
            grams = {" ".join(toks[j:j + shingle_n]) for j in range(len(toks) - shingle_n + 1)}
        digests = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        h1 = np.array([int(x[:13], 16) for x in digests], dtype=np.int64)
        h2 = np.array([int(x[13:26], 16) for x in digests], dtype=np.int64)
        sig = (h1[None, :] + ks[:, None] * h2[None, :]).min(axis=1)
        for b in range(bands):
            buckets[f"{b}:" + ",".join(str(v) for v in sig[b * rows:(b + 1) * rows])].append(i)
    parent = {i: i for i in kept}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        if 1 < len(members) <= max_bucket_size:
            for m in members[1:]:
                a, b = find(members[0]), find(m)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    return {i for i in kept if find(i) == i}


class Curate:
    """Corpus curation, as the curation CLI composes it: exact dedup,
    MinHash-LSH near dedup (candidates -> union-find clusters -> keep
    the canonical member), repeated-span surgery, char-trigram LM
    scoring, the quality classifier, hash splits, and a parquet write
    partitioned by split. Each pass re-curates the same corpus into a
    fresh output directory, and must write the same rows as every other
    pass and as every earlier run of the same seed in the checkout
    (``earlier``: their window records). The first pass pays the
    package's cold costs, as every curation CLI run does."""

    SPAN_N = 20
    NUM_HASHES = 32
    BANDS = 8
    #: the generated text self-scores at 5.5-5.9 nats per trigram, so
    #: this gate keeps about half the corpus (the CLI's default, 5.38,
    #: is tuned to a different corpus and would keep none)
    NLL_MAX = 5.7
    MIN_QUALITY = 0.25
    SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}

    def __init__(self, spark, workdir: str, seed: int, cpu: Callable[[], float], n_docs: int,
                 earlier: list[dict]):
        self.spark = spark
        self.cpu = cpu
        self.workdir = workdir
        self.seed = seed
        self.n_docs = n_docs
        self.earlier = earlier
        self._prepared = 0
        self._expected = None

    def prepare(self) -> None:
        self._prepared += 1
        root = os.path.join(self.workdir, f"curate{self._prepared}")
        os.makedirs(root)
        self.root = root
        docs, self.ledger = gen.curate_corpus(self.seed, self.n_docs)
        self.docs = docs
        self._originals = ({d["doc_id"] for d in docs} - set(self.ledger.exact_copies)
                           - set(self.ledger.near_copies))
        h = hashlib.sha256()
        for d in docs:
            h.update(repr(sorted(d.items())).encode())
        self.input_sha256 = h.hexdigest()
        self.corpus_path = os.path.join(root, "corpus.parquet")
        gen.write_corpus_parquet(docs, self.corpus_path)

    def base(self, tracer) -> Window:
        """Start the session's first job and its Python workers, nothing
        of the package: a curation CLI run pays the package's own cold
        costs on every invocation, so the window keeps them (and a
        second, warm pass would cost a run more than its budget)."""
        import pandas as pd  # noqa: F401  (mapInPandas needs it on the driver)

        self.spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long").collect()
        return Window(self.cpu)

    def window(self, seconds: float, tracer) -> Window:
        w = Window(self.cpu)
        t_start = time.perf_counter()
        digests = []
        while not w.batches or time.perf_counter() - t_start < seconds:
            digests.append(self._run_pass(w, tracer, f"pass-{len(w.batches)}"))
        # one pass usually fills the window, so the output is also
        # checked against earlier runs of the same input
        earlier = [r["output_sha256"] for r in self.earlier
                   if r.get("input_sha256") == self.input_sha256 and r.get("output_sha256")]
        w.attempted += 1
        if None in digests or len(set(digests + earlier)) != 1:
            w.fail(f"output hash differs across passes {digests} or earlier runs {earlier}")
        w.record.update(input_sha256=self.input_sha256, output_sha256=digests[0],
                        runs_compared=len(earlier))
        return w

    def _run_pass(self, w: Window, tracer, parent: str) -> str | None:
        out = os.path.join(self.root, f"out-{parent}")
        self._cleaned = None
        with w.batch():
            ok = self._pass(self.spark.read.parquet(self.corpus_path), out, w, tracer, parent)
        digest = None
        if ok:
            # the span surgery output holds one row per doc that dedup
            # kept; reading its ids back is outside the timed pass
            deduped = {r[0] for r in self._cleaned.select("doc_id").collect()}
            digest = self._check(w, out, deduped, parent)
        shutil.rmtree(out, ignore_errors=True)
        return digest

    def _pass(self, docs, out: str, w: Window, tracer, parent: str) -> bool:
        from pyspark.sql import functions as F

        from data_ingestion_tool_bakasura__spark.operators.dedup import (
            dedup_clusters,
            exact_dedup,
            keep_canonical,
            minhash_lsh_candidates,
            remove_repeated_spans,
        )
        from data_ingestion_tool_bakasura__spark.operators.sampling import (
            char_trigram_nll,
            hash_split,
            quality_classifier_score,
        )

        traced = tracer.enabled

        def exact():
            keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
            kept = docs.join(keep, "doc_id", "left_semi")
            return _materialize(kept) if traced else kept

        survivors = w.timed(tracer, "exact_dedup", exact, parent, lazy=True)
        if survivors is None:
            return False

        def near():
            pairs = minhash_lsh_candidates(survivors, num_hashes=self.NUM_HASHES,
                                           bands=self.BANDS)
            n_pairs = None
            if traced:
                pairs = _materialize(pairs)
                n_pairs = pairs.count()
            return keep_canonical(survivors, dedup_clusters(pairs)), n_pairs

        res = w.timed(tracer, "near_dedup", near, parent)
        if res is None:
            return False
        deduped, n_pairs = res
        if n_pairs is not None:
            w.extra("near_dedup.candidate_pairs", n_pairs)

        # the curation CLI checkpoints the surgery output: the LM and
        # quality scorers both read it
        cleaned = w.timed(
            tracer, "span_surgery",
            lambda: remove_repeated_spans(deduped, n=self.SPAN_N).localCheckpoint(eager=True),
            parent,
        )
        if cleaned is None:
            return False
        self._cleaned = cleaned

        def lm():
            s = char_trigram_nll(cleaned, text_col="cleaned", id_col="doc_id")
            return _materialize(s) if traced else s

        def quality():
            q = quality_classifier_score(cleaned, text_col="cleaned", id_col="doc_id",
                                         threshold=self.MIN_QUALITY)
            return _materialize(q) if traced else q

        scored = w.timed(tracer, "lm_score", lm, parent, lazy=True)
        graded = w.timed(tracer, "quality", quality, parent, lazy=True)
        if scored is None or graded is None:
            return False

        def split_write():
            merged = (
                cleaned.select("doc_id", F.col("cleaned").alias("text"))
                .join(deduped.select("doc_id", "source", "lang"), "doc_id")
                .join(scored.select("doc_id", "nll"), "doc_id")
                .join(graded.select("doc_id", "q_score", "keep"), "doc_id")
            )
            kept = merged.filter(
                F.col("keep") & F.col("nll").isNotNull() & (F.col("nll") <= self.NLL_MAX)
            )
            hash_split(kept, "doc_id", self.SPLITS).write.partitionBy("split") \
                .mode("overwrite").parquet(out)

        w.timed(tracer, "split_write", split_write, parent)
        return os.path.isdir(out)

    def _check(self, w: Window, out: str, deduped: set[int], parent: str) -> str:
        """Each planted exact copy, near copy and span is one checked
        operation, and so is the rest of the dedup output. The docs
        that dedup kept must be the ones :func:`reference_dedup` keeps:
        a planted exact copy fails if it survives; a planted near copy
        if it survives where the reference drops it or the other way
        round. A span fails if it survives in the output more than once.
        The share of near copies that dedup drops is the run's recall
        (``near_dedup.recall``); the share of the docs near dedup drops
        that are planted near copies, its precision. Returns the
        output's content hash."""
        import pyarrow.dataset as ds

        ledger = self.ledger
        if self._expected is None:
            self._expected = reference_dedup(self.docs, self.NUM_HASHES, self.BANDS)
        expected = self._expected
        exact, near = set(ledger.exact_copies), set(ledger.near_copies)
        w.attempted += 2 + len(exact) + len(near) + len(ledger.spans)
        exact_left = sorted(deduped & exact)
        if exact_left:
            w.fail(f"{parent}: planted exact copies survived: {exact_left}", len(exact_left))
        near_wrong = sorted((deduped ^ expected) & near)
        if near_wrong:
            w.fail(f"{parent}: planted near copies kept or dropped unlike the reference: "
                   f"{near_wrong}", len(near_wrong))
        other_wrong = sorted((deduped ^ expected) - exact - near)
        if other_wrong:
            w.fail(f"{parent}: dedup kept or dropped unlike the reference: {other_wrong[:20]}")
        near_left = sorted(deduped & near)
        w.extra("near_dedup.recall", 1 - len(near_left) / len(near))
        w.record["near_copies_left"] = near_left
        # every doc that is not a planted copy should survive dedup
        originals_dropped = self._originals - deduped
        w.extra("near_dedup.precision", (len(near) - len(near_left))
                / max(1, len(near) - len(near_left) + len(originals_dropped)))
        w.record["originals_dropped"] = len(originals_dropped)
        files = ds.dataset(out, format="parquet", partitioning="hive")
        if "doc_id" not in files.schema.names:
            w.fail(f"{parent}: empty output")
            return ""
        t = files.to_table(columns=["doc_id", "text", "split"]).to_pydict()
        rows = sorted(zip(t["doc_id"], t["split"], t["text"]))
        if not {r[0] for r in rows} <= deduped:
            w.fail(f"{parent}: the output holds docs that dedup dropped")
        texts = [f" {r[2]} " for r in rows]
        for span in ledger.spans:
            n = sum(t_.count(f" {span} ") for t_ in texts)
            if n > 1:
                w.fail(f"{parent}: planted span survives {n} times")
        h = hashlib.sha256()
        for doc_id, split, text in rows:
            h.update(f"{doc_id}\t{split}\t{text}\n".encode())
        return h.hexdigest()


def summarize(w: Window) -> dict:
    """The window's end-to-end numbers (set-up and memory are added by
    the caller)."""
    return {
        "ok_share": 1.0 - w.failed / max(1, w.attempted),
        "batch_cpu_s": statistics.median(w.batch_cpu),
    }

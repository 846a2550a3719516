"""IndexClient parity tests (SURVEY §3 EP1-EP3): initialize is
idempotent, store dedups across calls, stats/search mirror the
reference's index API over a parquet table."""

from __future__ import annotations

from data_ingestion_tool_bakasura__spark.index_client import IndexClient
from data_ingestion_tool_bakasura__spark.operators.ingest import IngestConfig, ingest_documents
from data_ingestion_tool_bakasura__spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def _rows(spark, lo, hi):
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        f"doc_id >= {lo} and doc_id < {hi}"
    )
    return ingest_documents(docs, cfg=IngestConfig(embedding_dim=8))


def test_lifecycle_store_dedup_stats(spark, tmp_path):
    client = IndexClient(spark, str(tmp_path / "index"), embedding_dim=8)
    client.initialize()
    client.initialize()  # idempotent (O7)
    assert client.stats() == {"document_count": 0, "unique_files": 0}

    n1 = client.store(_rows(spark, 0, 20))
    assert n1 > 0
    # storing the same batch again adds nothing (A18 across calls)
    assert client.store(_rows(spark, 0, 20)) == 0
    # overlapping batch adds only the new docs' chunks
    n2 = client.store(_rows(spark, 10, 30))
    assert 0 < n2 <= n1

    stats = client.stats()
    assert stats["document_count"] == n1 + n2
    assert stats["unique_files"] > 0
    facet = {r["filename"]: r["n_chunks"] for r in client.document_stats().collect()}
    assert sum(facet.values()) == n1 + n2


def test_search_surface(spark, tmp_path):
    client = IndexClient(spark, str(tmp_path / "idx2"), embedding_dim=8)
    client.initialize()
    client.store(_rows(spark, 0, 15))
    hit = client.search(top=1).collect()
    assert len(hit) == 1
    one_hash = hit[0]["text_hash"]
    probe = client.search(where=f"text_hash = '{one_hash}'", select=["id"], top=1)
    assert probe.columns == ["id"] and probe.count() == 1
    ordered = client.search(select=["chunk_id"], order_by="chunk_id", top=3).collect()
    assert [r["chunk_id"] for r in ordered] == sorted(r["chunk_id"] for r in ordered)


def test_ping(spark, tmp_path):
    assert IndexClient(spark, str(tmp_path / "idx3"), embedding_dim=8).ping() is True


def test_concurrent_store_no_duplicate_keys(spark, tmp_path):
    """Two writers storing overlapping batches CONCURRENTLY must not
    both pass the dedup probe (the reference's check-then-upload race,
    db_utils.py:135-169): the writer lock serializes probe+append, so
    the final table has unique text_hash values."""
    from concurrent.futures import ThreadPoolExecutor

    client = IndexClient(spark, str(tmp_path / "idx_cc"), embedding_dim=8)
    client.initialize()
    batches = [_rows(spark, 0, 25), _rows(spark, 5, 30)]
    with ThreadPoolExecutor(2) as ex:
        added = list(ex.map(client.store, batches))
    t = client.table()
    assert t.count() == t.select("text_hash").distinct().count()
    assert sum(added) == t.count()


def test_writer_lock_crashed_holder_does_not_wedge(spark, tmp_path):
    """A lock whose holder died must not wedge ingestion: flock state
    lives in the kernel and is released when the holder's descriptor
    closes, so a dead writer's leftover .lock file blocks nothing.
    Simulated the hard way: a subprocess takes the lock and is killed
    mid-hold; store() must then acquire immediately (no 600 s staleness
    wait — the old mkdir scheme's cure, with its break races)."""
    import subprocess
    import sys

    client = IndexClient(spark, str(tmp_path / "idx_stale"), embedding_dim=8)
    client.initialize()
    lock = str(tmp_path / "idx_stale").rstrip("/") + ".lock"
    holder = (
        "import fcntl,os,sys,time;"
        f"fd=os.open({lock!r}, os.O_CREAT|os.O_RDWR);"
        "fcntl.flock(fd, fcntl.LOCK_EX);"
        "print('held', flush=True);"
        "time.sleep(60)"
    )
    p = subprocess.Popen([sys.executable, "-c", holder], stdout=subprocess.PIPE)
    try:
        assert p.stdout.readline().strip() == b"held"
        p.kill()
    finally:
        p.wait()
    # the kernel released the dead holder's flock: store acquires at once
    assert client.store(_rows(spark, 0, 5)) > 0


def test_concurrent_store_over_leftover_lock_serializes(spark, tmp_path):
    """Two writers racing over a leftover (unheld) lock file must still
    serialize — the failure mode this pins is the mtime-check/break
    TOCTOU of the old mkdir scheme, where a waiter could steal the
    freshly re-created lock of a live holder and both would write:
    unique text_hash values at the end."""
    import os
    import time as _t
    from concurrent.futures import ThreadPoolExecutor

    client = IndexClient(spark, str(tmp_path / "idx_race"), embedding_dim=8)
    client.initialize()
    lock = str(tmp_path / "idx_race").rstrip("/") + ".lock"
    if os.path.exists(lock):  # initialize() itself locks since r16
        os.remove(lock)
    os.mkdir(lock)  # stale mkdir-era leftover; cleared on first acquire
    old = _t.time() - 10_000
    os.utime(lock, (old, old))
    batches = [_rows(spark, 0, 25), _rows(spark, 5, 30)]
    with ThreadPoolExecutor(2) as ex:
        added = list(ex.map(client.store, batches))
    t = client.table()
    assert t.count() == t.select("text_hash").distinct().count()
    assert sum(added) == t.count()
    assert not os.path.isdir(lock)


def test_relevance_search_three_modes(spark, tmp_path):
    """r8: BM25 / vector-KNN / hybrid-RRF over the ingest index — the
    search leg the reference configures (HNSW, VectorizedQuery) but
    never issues. A planted distinctive chunk must top the lexical
    ranking for its own terms; vector search against a chunk's own
    text must self-hit at cos 1.0 (hash embeddings are deterministic);
    the hybrid fuse must surface a doc ranked by either leg."""
    from pyspark.sql import functions as F

    client = IndexClient(spark, str(tmp_path / "idx_rel"), embedding_dim=8)
    client.initialize()
    docs = load_table(spark, SF_SMOKE, "documents").filter("doc_id < 30").select(
        "doc_id",
        F.when(
            F.col("doc_id") == 7,
            F.lit("zanzibar quokka zanzibar quokka unique marker text"),
        ).otherwise(F.col("text")).alias("text"),
        "source", "lang",
    )
    client.store(ingest_documents(docs, cfg=IngestConfig(embedding_dim=8)))

    top = client.search_text("zanzibar quokka", k=5).collect()
    assert top and "zanzibar" in top[0]["content"]
    assert all("bm25" in r.asDict() for r in top)

    probe = client.table().filter("content like '%zanzibar%'").first()
    vec = client.search_vector(probe["content"], k=3).collect()
    assert vec[0]["id"] == probe["id"] and vec[0]["cos_sim"] == 1.0

    hyb = client.search_hybrid("zanzibar quokka", k=5).collect()
    assert any("zanzibar" in r["content"] for r in hyb)
    assert all(r["rrf"] > 0 for r in hyb)


def test_pipeline_cli_journey(spark, tmp_path, capsys):
    """The CLI drives the full reference journey in-process: ingest ->
    dedup re-ingest (0 new) -> text/vector/hybrid search -> stats."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import pipeline_cli

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("alpha notes about zanzibar quokka research")
    (src / "b.txt").write_text("beta notes about spark shuffles and joins")
    idx = str(tmp_path / "idx")

    def run(*argv):
        rc = pipeline_cli.main(list(argv))
        out = capsys.readouterr().out.strip().splitlines()
        return rc, [json.loads(ln) for ln in out if ln.startswith("{")]

    rc, out = run("ingest", str(src), idx, "--glob", "*.txt", "--dim", "16")
    assert rc == 0 and out[0]["new_chunks"] == 2 and out[0]["document_count"] == 2
    rc, out = run("ingest", str(src), idx, "--glob", "*.txt", "--dim", "16")
    assert out[0]["new_chunks"] == 0  # dedup probe holds across runs

    rc, out = run("search", idx, "zanzibar quokka", "--mode", "text", "-k", "2")
    assert "zanzibar" in out[0]["content"] and out[0]["bm25"] > 0
    # vector self-hit: query with a chunk's exact stored content
    stored = spark.read.parquet(idx).filter("content like '%spark shuffles%'").first()
    rc, out = run("search", idx, stored["content"], "--mode", "vector", "-k", "1")
    assert out[0]["id"] == stored["id"] and out[0]["cos_sim"] == 1.0
    rc, out = run("search", idx, "spark shuffles", "--mode", "hybrid", "-k", "2")
    assert out and all(o["rrf"] > 0 for o in out)
    rc, out = run("search", idx, "spark shuffles", "--mode", "hybrid", "--rerank", "-k", "2")
    assert out and out[0]["rerank"] >= out[-1]["rerank"]
    assert "spark shuffles" in out[0]["content"]

    rc, out = run("stats", idx)
    assert out[0] == {"document_count": 2, "unique_files": 2}

    # ANN leg (r8 verdict #5): persist the HNSW artifact, then serve
    # the same self-hit query from the stored graph instead of a scan
    rc, out = run("build-ann", idx, "--kind", "hnsw")
    assert rc == 0 and out[0]["event"] == "ann_built" and out[0]["n_rows"] == 2
    rc, out = run(
        "search", idx, stored["content"], "--mode", "vector",
        "--index", "hnsw", "-k", "1",
    )
    assert out[0]["id"] == stored["id"] and out[0]["cos_sim"] == 1.0


def test_ann_serving_mode_parity(spark, tmp_path):
    """r8 verdict #5: search_vector(index=...) serves from the
    persisted ANN artifacts. At full dials (exhaustive beam / all
    lists probed / corpus-wide shortlist) every mode must equal the
    exact scan row-for-row on the fixture index; a missing artifact
    raises with a build_ann pointer; the manifest records build params
    and row count (the staleness signal)."""
    import pytest

    client = IndexClient(spark, str(tmp_path / "idx_ann"), embedding_dim=8)
    client.initialize()
    client.store(_rows(spark, 0, 60))
    n = client.stats()["document_count"]

    with pytest.raises(RuntimeError, match="build_ann"):
        client.search_vector("anything", index="hnsw").collect()
    with pytest.raises(ValueError, match="unknown ANN kind"):
        client.build_ann("flat")

    m_h = client.build_ann("hnsw", m=8, ef_construction=100, n_shards=4)
    m_i = client.build_ann("ivf", n_lists=4, iters=2)
    m_p = client.build_ann("pq", pq_m=4, n_codes=8, iters=2)
    m_b = client.build_ann("binary")
    assert m_h["n_rows"] == m_i["n_rows"] == m_p["n_rows"] == n
    assert m_b["n_rows"] == n
    assert client.ann_manifest("hnsw")["params"]["n_shards"] == 4
    assert client.ann_manifest("ivf")["params"]["n_lists"] == 4

    probe = client.table().select("content").first()["content"]
    key = lambda df: [(r["id"], r["cos_sim"]) for r in df.collect()]
    exact = key(client.search_vector(probe, k=5))
    assert exact[0][1] == 1.0  # self-hit sanity
    assert key(client.search_vector(probe, k=5, index="hnsw", ef_search=500)) == exact
    assert key(client.search_vector(probe, k=5, index="ivf", nprobe=4)) == exact
    assert key(client.search_vector(probe, k=5, index="pq", shortlist=n)) == exact
    # r12: 1-bit codes — corpus-wide shortlist == exact (the Hamming
    # stage only orders the shortlist; rerank is full-precision)
    assert key(client.search_vector(probe, k=5, index="binary", shortlist=n)) == exact

    # hybrid composes through the same dial
    hyb = client.search_hybrid(probe, k=5, index="hnsw", ef_search=500).collect()
    assert hyb and all(r["rrf"] > 0 for r in hyb)

    # narrow dials still return k well-formed rows (recall, not crash)
    narrow = client.search_vector(probe, k=5, index="hnsw", ef_search=8).collect()
    assert len(narrow) == 5 and all(r["cos_sim"] <= 1.0 for r in narrow)


def test_ivf_serving_partial_probe_parity(spark, tmp_path):
    """r9 ADVICE: at nprobe < n_lists the serve path statically prunes
    the list-partitioned scan to the driver-computed probe list AND
    pins that same list inside ivf_topk — the two probe computations
    must not diverge (dgemv vs dgemm rounding on near-tie centroids).
    Pin: for every nprobe, serving == ivf_topk over the UNPRUNED
    assignment with the UDF probe path."""
    import os

    from pyspark.sql import functions as F

    from data_ingestion_tool_bakasura__spark.functions import embed as E
    from data_ingestion_tool_bakasura__spark.operators.similarity import ivf_topk

    client = IndexClient(spark, str(tmp_path / "idx_ivfp"), embedding_dim=8)
    client.initialize()
    client.store(_rows(spark, 0, 60))
    client.build_ann("ivf", n_lists=4, iters=2)

    probe = client.table().select("content").first()["content"]
    d = client._ann_dir("ivf")
    assigned_full = spark.read.parquet(os.path.join(d, "assigned"))
    cent = spark.read.parquet(os.path.join(d, "centroids"))
    qdf = client._query_df(E.hash_embed_py(probe, 8))

    for nprobe in (1, 2, 3):
        served = [
            (r["id"], r["cos_sim"])
            for r in client.search_vector(probe, k=5, index="ivf", nprobe=nprobe)
            .collect()
        ]
        direct = [
            (r["id"], r["cos_sim"])
            for r in ivf_topk(
                assigned_full, cent, qdf, k=5, nprobe=nprobe,
                corpus_id="id", vec_col="content_vector",
            ).orderBy(F.desc("cos_sim"), "id").collect()
        ]
        assert served == direct, f"nprobe={nprobe}: serve/UDF probe diverged"


def test_hybrid_rerank_seam(spark, tmp_path):
    """r8 'What's missing' #3: the semantic second stage. rerank=True
    rescores the fused top-N with the deterministic default scorer
    (bounded candidates only — one Arrow UDF over N rows, never the
    corpus); a custom (query, texts)->scores callable is the
    cross-encoder seam and fully controls the final order."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_bakasura__spark.operators.ingest import (
        IngestConfig,
        ingest_documents,
    )

    client = IndexClient(spark, str(tmp_path / "idx_rr"), embedding_dim=8)
    client.initialize()
    docs = load_table(spark, SF_SMOKE, "documents").filter("doc_id < 25").select(
        "doc_id",
        F.when(F.col("doc_id") == 3,
               F.lit("quokka research quokka island survey notes"))
        .when(F.col("doc_id") == 4,
              F.lit("survey of island research notes mentioning quokka once"))
        .otherwise(F.col("text")).alias("text"),
        "source", "lang",
    )
    client.store(ingest_documents(docs, cfg=IngestConfig(embedding_dim=8)))

    out = client.search_hybrid("quokka island survey", k=5, rerank=True).collect()
    assert out and "rerank" in out[0].asDict()
    # the doc with in-order bigram continuity outranks the scattered one
    ids = [r["id"] for r in out]
    dense = next(r for r in out if "quokka research quokka" in r["content"])
    assert dense["rerank"] > 0
    scores = [r["rerank"] for r in out]
    assert scores == sorted(scores, reverse=True)

    # custom scorer seam: an inverted scorer inverts the final order
    def inverted(query, texts):
        return texts.map(lambda t: -len(t or ""))

    custom = client.search_hybrid("quokka island survey", k=5, rerank=inverted).collect()
    lens = [len(r["content"]) for r in custom]
    assert lens == sorted(lens)  # shortest first under the inverted scorer


def test_increment_ann_closure(spark, tmp_path):
    """r9: serving-side increment closure. Build artifacts on wave 1,
    store wave 2, increment_ann — new ids become searchable in hnsw and
    ivf modes WITHOUT a rebuild (hnsw rewrites only touched shard
    partitions; ivf appends assignments against the existing
    centroids; pq and binary append the wave's codes), manifests track the
    grown row count (no stale-artifact signal left), a second
    increment is a no-op, and exact==ivf-full-probe parity holds on
    the grown corpus."""
    import os

    from pyspark.sql import functions as F

    client = IndexClient(spark, str(tmp_path / "idx_inc"), embedding_dim=8)
    client.initialize()
    client.store(_rows(spark, 0, 40))
    for kind, kw in (("hnsw", dict(m=8, ef_construction=100, n_shards=4)),
                     ("ivf", dict(n_lists=4, iters=2)),
                     ("pq", dict(pq_m=4, n_codes=8, iters=2)),
                     ("binary", {})):
        client.build_ann(kind, **kw)
    n1 = client.stats()["document_count"]

    client.store(_rows(spark, 40, 55))
    n2 = client.stats()["document_count"]
    assert n2 > n1
    assert client.ann_manifest("hnsw")["n_rows"] == n1  # stale, detectable

    graph_dir = str(tmp_path / "idx_inc.ann" / "hnsw" / "graph")
    mtimes_before = {
        p: os.path.getmtime(os.path.join(graph_dir, p))
        for p in os.listdir(graph_dir) if p.startswith("shard=")
    }
    for kind in ("hnsw", "ivf", "pq", "binary"):
        m = client.increment_ann(kind)
        assert m["n_rows"] == n2

    # a new-wave chunk self-hits through BOTH incremented artifacts
    probe = client.table().orderBy(F.desc("id")).first()
    hit_h = client.search_vector(probe["content"], k=1, index="hnsw",
                                 ef_search=200).first()
    assert hit_h["id"] == probe["id"] and hit_h["cos_sim"] == 1.0
    hit_i = client.search_vector(probe["content"], k=1, index="ivf",
                                 nprobe=4).first()
    assert hit_i["id"] == probe["id"] and hit_i["cos_sim"] == 1.0
    hit_b = client.search_vector(probe["content"], k=1, index="binary",
                                 shortlist=n2).first()
    assert hit_b["id"] == probe["id"] and hit_b["cos_sim"] == 1.0
    # pq serves from stored codes: a corpus-wide shortlist finds the
    # new chunk only if the increment appended its code
    hit_p = client.search_vector(probe["content"], k=1, index="pq",
                                 shortlist=n2).first()
    assert hit_p["id"] == probe["id"] and hit_p["cos_sim"] == 1.0

    # ivf at full probe still equals the exact scan on the grown corpus
    key = lambda df: [(r["id"], r["cos_sim"]) for r in df.collect()]
    assert key(client.search_vector(probe["content"], k=5, index="ivf", nprobe=4)) == \
           key(client.search_vector(probe["content"], k=5))

    # untouched hnsw shard partitions were not rewritten
    mtimes_after = {
        p: os.path.getmtime(os.path.join(graph_dir, p))
        for p in os.listdir(graph_dir) if p.startswith("shard=")
    }
    untouched = [p for p in mtimes_before
                 if mtimes_after.get(p) == mtimes_before[p]]
    rewritten = [p for p in mtimes_before
                 if mtimes_after.get(p, 0) != mtimes_before[p]]
    assert rewritten, "some shard must have received wave vectors"
    # 15 docs over 4 shards: possible all touched, but ids are whole
    # documents so typically at least one shard stays untouched — only
    # assert when the wave genuinely missed a shard
    from data_ingestion_tool_bakasura__spark.operators.hnsw import _shard_expr
    wave_shards = {
        r["s"] for r in client.table().join(
            spark.read.parquet(graph_dir).select("id"), "id", "semi"
        ).select(_shard_expr("id", 4).alias("s")).distinct().collect()
    }
    if len(wave_shards) < 4:
        assert untouched

    # second increment: no new ids -> manifests stable, search unchanged
    before = key(client.search_vector(probe["content"], k=5, index="hnsw", ef_search=200))
    for kind in ("hnsw", "ivf", "pq"):
        assert client.increment_ann(kind)["n_rows"] == n2
    assert key(client.search_vector(probe["content"], k=5, index="hnsw", ef_search=200)) == before


def test_pipeline_cli_crawl_journey(spark, tmp_path, capsys):
    """`crawl`: WARC archives -> URL dedup (utm twin collapses) ->
    domain blocklist -> html_to_text -> index; then search finds the
    page text."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import pipeline_cli

    def rec(rtype, uri, body, rid):
        head = (
            f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    def resp(html):
        return (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "a.warc").write_bytes(
        rec("response", "https://Good.Example.ORG/page?utm_source=x",
            resp(b"<html><body><p>walrus telemetry field notes</p></body></html>"), "g1")
        + rec("response", "https://good.example.org/page",  # same after normalize
              resp(b"<html><body><p>walrus telemetry field notes</p></body></html>"), "g2")
        + rec("response", "http://spam.junk/buy",
              resp(b"<html><body><p>spam spam</p></body></html>"), "s1")
    )
    idx = str(tmp_path / "idx")
    archive = str(tmp_path / "pub")

    rc = pipeline_cli.main(
        ["crawl", str(crawl), idx, "--dim", "16",
         "--block-domains", "spam.junk", "--archive", archive]
    )
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
    assert rc == 0 and out[0]["event"] == "crawled"
    assert out[0]["new_chunks"] == 1 and out[0]["document_count"] == 1

    # r12: --archive published the kept raw page as WARC+CDX
    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc

    arch = read_warc(spark, archive).collect()
    assert len(arch) == 1 and b"walrus telemetry" in bytes(arch[0]["payload"])
    assert list((tmp_path / "pub").glob("*.cdxj"))

    rc = pipeline_cli.main(["search", idx, "walrus telemetry", "--mode", "text", "-k", "1"])
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
    assert "walrus telemetry" in out[0]["content"]
    assert "good.example.org/page" in out[0]["filename"]


def test_pipeline_cli_crawl_gates(spark, tmp_path, capsys):
    """r11: `crawl --quality-gate --langid-profiles --allowed-langs` —
    the lorem-ipsum page dies at the C4 gate, the off-language page at
    the trigram gate; only the clean English page is indexed."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import pipeline_cli

    from data_ingestion_tool_bakasura__spark.operators.sampling import (
        fit_lang_profiles,
    )

    def rec(uri, body, rid):
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    def resp(html):
        return (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html

    good = (b"<html><body><p>The walrus swims in the cold sea today. "
            b"We watch the herd again and again to be sure of it. "
            b"It held up well! Did it dive? It did. That was the point. "
            b"More notes of the field land here with the rest of the log.</p></body></html>")
    lorem = (b"<html><body><p>Lorem ipsum dolor sit amet. "
             b"The walrus swims in the cold sea today. It held up well! "
             b"Did it dive? It did. That was the point. More notes here.</p></body></html>")
    french = (b"<html><body><p>Le morse nage dans la mer froide et le troupeau "
              b"revient encore et encore vers la plage chaque matin.</p></body></html>")

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "a.warc").write_bytes(
        rec("https://en.example/good", resp(good), "1")
        + rec("https://en.example/lorem", resp(lorem), "2")
        + rec("https://fr.example/page", resp(french), "3")
    )
    eng = ("the quick brown fox jumps over the lazy dog and the walrus swims "
           "in the sea while we watch the herd again to be sure of it")
    fra = ("le renard brun saute par dessus le chien et le morse nage dans la "
           "mer froide pendant que le troupeau revient vers la plage")
    profiles = str(tmp_path / "prof")
    fit_lang_profiles(
        spark.createDataFrame(
            [(0, eng, "en"), (1, fra, "fr")], "doc_id int, text string, lang string"
        )
    ).write.parquet(profiles)

    idx = str(tmp_path / "idx")
    rc = pipeline_cli.main([
        "crawl", str(crawl), idx, "--dim", "16",
        "--quality-gate", "c4+rep",
        "--langid-profiles", profiles, "--allowed-langs", "en",
    ])
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()
           if ln.startswith("{")]
    assert rc == 0 and out[0]["event"] == "crawled"
    assert out[0]["document_count"] == 1

    rc = pipeline_cli.main(["search", idx, "walrus swims", "--mode", "text", "-k", "1"])
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()
           if ln.startswith("{")]
    assert "en.example/good" in out[0]["filename"]


def test_initialize_never_destroys_and_exists_raises_on_broken_table(
        spark, tmp_path):
    """r16 serve-path review (reproduced): (1) initialize() used
    check-then-mode('overwrite') — a false-negative _exists() (any
    swallowed read error) emptied a populated table; now the write is
    mode('ignore') under the writer lock. (2) _exists() maps ONLY
    missing-path to False; a table that exists but cannot be read
    raises instead of being mistaken for absent."""
    import pytest

    path = str(tmp_path / "idx_init")
    client = IndexClient(spark, path, embedding_dim=8)
    client.initialize()
    n = client.store(_rows(spark, 0, 10))
    assert n > 0
    client.initialize()  # re-initialize on populated table: no-op
    assert client.stats()["document_count"] == n

    # even if _exists misfires, the write leg cannot clobber: simulate
    # by writing through the same mode the implementation uses
    from data_ingestion_tool_bakasura__spark.schema import INDEX_SCHEMA

    spark.createDataFrame([], INDEX_SCHEMA).write.mode("ignore").parquet(path)
    assert client.stats()["document_count"] == n

    # a path that EXISTS but is not a readable table raises from
    # _exists rather than reading as absent (a mixed-type poisoned
    # table is the same class but nondeterministic under limit(1) —
    # a junk file is deterministically unreadable)
    bad = str(tmp_path / "idx_bad")
    with open(bad, "wb") as f:
        f.write(b"not a parquet table")
    broken = IndexClient(spark, bad, embedding_dim=8)
    with pytest.raises(Exception):
        broken._exists()
    # ...and only a genuinely MISSING path reads as absent
    assert IndexClient(
        spark, str(tmp_path / "never_written"), embedding_dim=8
    )._exists() is False


def test_store_casts_types_and_dedupes_within_batch(spark, tmp_path):
    """r16 review (reproduced): (1) a batch whose content_vector was
    array<double> appended parquet files no later read could open —
    store now casts to INDEX_SCHEMA's types; (2) two rows sharing a
    text_hash within ONE call both passed the table anti-join —
    store now self-dedupes on text_hash first."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_bakasura__spark.schema import INDEX_SCHEMA

    path = str(tmp_path / "idx_cast")
    client = IndexClient(spark, path, embedding_dim=4)
    client.initialize()
    df = spark.createDataFrame(
        [("a", "H1", "same text", [1.0, 0.0, 0.0, 0.0]),
         ("b", "H1", "same text", [1.0, 0.0, 0.0, 0.0]),
         ("c", "H2", "other", [0.0, 1.0, 0.0, 0.0])],
        # deliberately array<double>: the table stores array<float>
        "id string, text_hash string, content string, "
        "content_vector array<double>",
    ).withColumn("filename", F.lit("f.pdf"))
    for f in INDEX_SCHEMA.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    assert client.store(df) == 2  # H1 deduped in-batch, H2 lands
    t = client.table()
    assert t.count() == 2  # and the table still READS after the append
    assert t.filter("text_hash = 'H1'").count() == 1


def test_search_vector_rejects_mismatched_embedding_dim(spark, tmp_path):
    """r16 review (reproduced): a client at the wrong embedding_dim
    served garbage (null/zero cosine) from a persisted artifact built
    at another dim; the manifest records the build dim, so the serve
    path now fails fast with the correct constructor call."""
    import pytest

    path = str(tmp_path / "idx_dim")
    client = IndexClient(spark, path, embedding_dim=8)
    client.initialize()
    client.store(_rows(spark, 0, 10))
    client.build_ann("binary")
    assert client.ann_manifest("binary")["embedding_dim"] == 8

    wrong = IndexClient(spark, path)  # default FIXTURE_DIM != 8
    with pytest.raises(ValueError, match="embedding_dim=8"):
        wrong.search_vector("query", k=2, index="binary")


def test_exact_mode_excludes_unembeddable_rows(spark, tmp_path):
    """r16 review (reproduced): an empty content_vector scored
    cos_sim 0.0 in the 'exact' mode, outranking real docs with
    negative cosine — while every ANN artifact filters such rows at
    build time, breaking the documented exact==ANN parity. Exact now
    applies the same embeddable-corpus filter."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_bakasura__spark.schema import INDEX_SCHEMA

    path = str(tmp_path / "idx_exact")
    client = IndexClient(spark, path, embedding_dim=4)
    client.initialize()
    df = spark.createDataFrame(
        [("neg", "HN", "negative doc", [-1.0, 0.0, 0.0, 0.0]),
         ("empty", "HE", "empty-vector doc", []),
         ("none", "HX", "null-vector doc", None)],
        "id string, text_hash string, content string, "
        "content_vector array<float>",
    ).withColumn("filename", F.lit("f.pdf"))
    for f in INDEX_SCHEMA.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    client.store(df)
    got = [r["id"] for r in client.search_vector("q", k=3, index="exact").collect()]
    assert "empty" not in got and "none" not in got
    assert got == ["neg"]


def test_manifest_staleness_via_n_table_rows(spark, tmp_path):
    """r16 review: manifest n_rows counts only the embeddable corpus,
    so comparing it to stats()['document_count'] mis-reported a fresh
    artifact as stale whenever null-vector rows existed; the manifest
    now records n_table_rows for that comparison, and build_ann under
    the writer lock snapshots both counts consistently."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_bakasura__spark.schema import INDEX_SCHEMA

    path = str(tmp_path / "idx_stale")
    client = IndexClient(spark, path, embedding_dim=4)
    client.initialize()
    df = spark.createDataFrame(
        [("a", "HA", "doc a", [1.0, 0.0, 0.0, 0.0]),
         ("b", "HB", "doc b", None)],  # un-embeddable row
        "id string, text_hash string, content string, "
        "content_vector array<float>",
    ).withColumn("filename", F.lit("f.pdf"))
    for f in INDEX_SCHEMA.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    client.store(df)
    man = client.build_ann("binary")
    assert man["n_rows"] == 1  # embeddable corpus only
    # the documented staleness comparison is exact on a fresh build
    assert man["n_table_rows"] == client.stats()["document_count"] == 2


def test_initialize_heals_torn_first_write(spark, tmp_path):
    """r16 fix-chain review (reproduced): a crash during the very
    first create leaves the directory holding only Spark's _temporary
    staging — _exists raised UNABLE_TO_INFER_SCHEMA forever and
    mode('ignore') no-opped because the path existed, wedging every
    retry. A dir with ONLY hidden entries now heals under the lock."""
    import os

    path = str(tmp_path / "idx_torn")
    os.makedirs(os.path.join(path, "_temporary", "0"))
    client = IndexClient(spark, path, embedding_dim=8)
    client.initialize()
    assert client.stats()["document_count"] == 0
    n = client.store(_rows(spark, 0, 5))
    assert n > 0


def test_initialize_heal_scoped_to_spark_staging_artifacts(spark, tmp_path):
    """r17 advice (reproduced): the r16 torn-write heal rmtree'd ANY
    directory whose entries were all hidden, so a client misconfigured
    at a dotfiles dir (or a .git-only checkout) was recursively
    deleted — contradicting initialize()'s never-destructive contract.
    The heal now deletes only directories holding nothing but Spark
    staging artifacts (_temporary/_SUCCESS/.*.crc/commit markers);
    other all-hidden directories raise for operator inspection."""
    import os

    import pytest

    # (1) a dotfiles dir must survive initialize() and raise
    dot = str(tmp_path / "dotfiles")
    os.makedirs(os.path.join(dot, ".git"))
    with open(os.path.join(dot, ".bashrc"), "w") as f:
        f.write("export X=1\n")
    client = IndexClient(spark, dot, embedding_dim=8)
    with pytest.raises(RuntimeError, match="refusing to heal"):
        client.initialize()
    assert os.path.exists(os.path.join(dot, ".bashrc"))  # untouched
    assert os.path.isdir(os.path.join(dot, ".git"))

    # (2) a mixed torn write (_SUCCESS-less staging + crc sidecars)
    # still heals — this is the exact artifact set a v1 committer
    # crash leaves behind
    torn = str(tmp_path / "idx_torn_mixed")
    os.makedirs(os.path.join(torn, "_temporary", "0"))
    with open(os.path.join(torn, ".part-00000.crc"), "wb") as f:
        f.write(b"\x00")
    healed = IndexClient(spark, torn, embedding_dim=8)
    healed.initialize()
    assert healed.stats()["document_count"] == 0
    assert healed.store(_rows(spark, 0, 3)) > 0


def test_store_failed_append_releases_cache(spark, tmp_path, monkeypatch):
    """store() caches its anti-join result for the count and the
    append; when the append raises, the cached frame must still be
    released, not left in the session's cache manager."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    client = IndexClient(spark, str(tmp_path / "idx_fail"), embedding_dim=8)
    client.initialize()
    rows = _rows(spark, 0, 5)
    spark.catalog.clearCache()

    def boom(self, *a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(OSError, match="disk full"):
        client.store(rows)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ann_manifest_without_schemas_points_to_rebuild(spark, tmp_path):
    """Serving reads each artifact with the schema build_ann recorded
    in its manifest; an artifact whose manifest has none (built before
    schemas were recorded — for pq, also before codes were stored)
    raises with a rebuild pointer instead of inferring it."""
    import pytest

    client = IndexClient(spark, str(tmp_path / "idx_old"), embedding_dim=8)
    client.initialize()
    client.store(_rows(spark, 0, 10))
    man = client.build_ann("pq", pq_m=4, n_codes=8, iters=2)
    assert set(man["schemas"]) == {"codebooks", "codes"}
    del man["schemas"]
    client._write_manifest(client._ann_dir("pq"), man)
    with pytest.raises(RuntimeError, match=r"build_ann\('pq'\)"):
        client.search_vector("anything", k=2, index="pq")


def test_warm_search_plan_and_codegen(spark, tmp_path):
    """A warm search pays only for its own work. For text, exact, ivf,
    pq and binary the executed plan holds no Python evaluation node
    and no driver-side RDD scan (the query vector is a JVM literal, pq
    scores stored codes in codegen), and scans the index table once —
    text three times: BM25 reads corpus statistics and postings in two
    scans, and the top-k's content in a third. A second round of all
    seven modes, on another query, compiles no class: the codegen
    cache holds a whole serving round."""
    import re

    from pyspark.sql import functions as F

    path = str(tmp_path / "idx_plan")
    client = IndexClient(spark, path, embedding_dim=8)
    client.initialize()
    client.store(_rows(spark, 0, 40))
    for kind, kw in (("hnsw", dict(n_shards=4)),
                     ("ivf", dict(n_lists=4, iters=2)),
                     ("pq", dict(pq_m=4, n_codes=8, iters=2)),
                     ("binary", {})):
        client.build_ann(kind, **kw)
    probes = [r["content"] for r in client.table().orderBy("id").limit(2).collect()]

    def searches(q):
        # three distinct terms: BM25's term filter is planned per term
        # count, so both rounds keep one plan shape
        words = " ".join(list(dict.fromkeys(q.lower().split()))[:3])
        return {
            "text": client.search_text(words, k=5),
            "exact": client.search_vector(q, k=5),
            "hnsw": client.search_vector(q, k=5, index="hnsw"),
            "ivf": client.search_vector(q, k=5, index="ivf"),
            "pq": client.search_vector(q, k=5, index="pq"),
            "binary": client.search_vector(q, k=5, index="binary"),
            "hybrid": client.search_hybrid(q, k=5, index="hnsw"),
        }

    table_scan = re.compile(r"FileScan parquet .*\[file:" + re.escape(path) + r"\]")
    # scan nodes print their location cut to this many characters
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        first = {mode: (df, df.collect()) for mode, df in searches(probes[0]).items()}
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    for mode, (df, rows) in first.items():
        assert rows, mode
        if mode in ("hnsw", "hybrid"):
            continue  # hnsw searches its graph shards in Python by design
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # the adaptive final plan
        assert not re.search(r"EvalPython|InPandas|InArrow", plan), (mode, plan)
        assert "ExistingRDD" not in plan, (mode, plan)
        scans = len(table_scan.findall(plan))
        assert scans == (3 if mode == "text" else 1), (mode, scans, plan)

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    for mode, df in searches(probes[1]).items():
        assert df.collect(), mode
    assert compiles.getCount() == before
    # the served pq hits are the inline pq_adc_rerank_topk's: the
    # stored codes are the codes pq_encode gives at query time
    from data_ingestion_tool_bakasura__spark.functions import embed as E
    from data_ingestion_tool_bakasura__spark.operators.similarity import (
        pq_adc_rerank_topk,
    )

    man = client.ann_manifest("pq")
    for q in probes:
        served = [(r["id"], r["cos_sim"])
                  for r in client.search_vector(q, k=5, index="pq", shortlist=8).collect()]
        inline = [(r["id"], r["cos_sim"]) for r in pq_adc_rerank_topk(
            client._embeddable(client.table()),
            client._query_df(E.hash_embed_py(q, 8)), k=5, shortlist=8,
            corpus_id="id", vec_col="content_vector",
            codebooks=client._read_artifact("pq", man, "codebooks"),
        ).orderBy(F.desc("cos_sim"), "id").collect()]
        assert served == inline

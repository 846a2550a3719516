"""Systematic crash-point sweep for the streaming crawl sink (r15,
r14 verdict #3): the sink performs up to five durable effects per
micro-batch — archive publish, link-graph fold, ranks swap, bloom
write, corpus append — whose ORDER is the crash-safety argument
(reference semantics at stake: the upsert/dedup contract,
``db_utils.py:133-170``). The r14 review found ordering bugs one at a
time; this test enumerates EVERY ordering edge by killing the
foreachBatch closure at each named point (``pipeline.CRASH_HOOK``,
armed by the ``crash_at`` fixture), replaying, and asserting the full
invariant set after every cut:

- corpus exactly-once: every crawled URL lands exactly once;
- archive completeness: every kept page's raw record is published
  exactly once (never silently skipped, never duplicated);
- graph fold exactly-once: each page's outlinks are folded into the
  waved edge table exactly once (wave-id guard);
- bloom superset: every corpus URL probes maybe-seen (no false
  negatives — the invariant whose inversion is silent re-lands);
- liveness: after the replay the stream keeps working (a later wave
  lands its new page and dedups its repeat).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.operators.bloom import BloomSeenSet
from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
from data_ingestion_tool_bakasura__spark.streaming import pipeline as SP

POINTS = [
    "archive_tmp_written",   # crash mid-publish: tmp dir on disk, final absent
    "archive_published",     # archive durable, nothing else yet
    "graph_folded",          # archive + graph durable
    "ranks_swapped",         # archive + graph + ranks durable
    "bloom_written",         # everything but the corpus append durable
    "corpus_appended",       # all effects durable, checkpoint not committed
]


def _rec(uri: str, html: bytes, rid: str) -> bytes:
    body = (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(html)}\r\n\r\n"
    ).encode() + html
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-14T00:00:00Z\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


_PAGE_A = ("https://site-a.org/p",
           b'<p>alpha</p><a href="https://t1.net/x">t</a>', "a1")
_PAGE_B = ("https://site-b.org/q",
           b'<p>beta</p><a href="https://t2.net/y">t</a>', "b1")
_PAGE_C = ("https://site-c.org/r",
           b'<p>gamma</p><a href="https://t3.net/z">t</a>', "c1")


@pytest.mark.parametrize("point", POINTS)
def test_crawl_sink_survives_crash_at_every_ordering_point(
        spark, tmp_path, crash_at, point):
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "archive")
    graph = str(tmp_path / "graph")
    ranks = str(tmp_path / "ranks")

    def run_once():
        q = SP.start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True), corpus,
            seen_bloom=True,
            link_graph_path=graph,
            host_ranks_path=ranks,
            ranks_refresh_every=1,
            archive_path=archive,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    (crawl / "w1.warc").write_bytes(_rec(*_PAGE_A) + _rec(*_PAGE_B))

    with crash_at(point), pytest.raises(Exception, match="injected crash"):
        run_once()
    run_once()  # the replay — must complete and repair/skip as designed

    # liveness: a later wave lands its new page and dedups its repeat
    (crawl / "w2.warc").write_bytes(
        _rec(*_PAGE_C)
        + _rec("https://site-a.org/p", b"<p>RE-LAND of alpha</p>", "a2"))
    run_once()

    urls = ["https://site-a.org/p", "https://site-b.org/q",
            "https://site-c.org/r"]
    # corpus exactly-once, first arrival wins
    rows = spark.read.parquet(corpus).select("norm_url", "text").collect()
    assert sorted(r["norm_url"] for r in rows) == urls
    assert {r["norm_url"]: r["text"] for r in rows}[urls[0]] == "alpha\nt"
    # archive completeness: each kept page's raw record exactly once
    arch = [r["url"] for r in read_warc(spark, archive + "/*").collect()]
    assert sorted(arch) == urls
    # no crashed-attempt debris left visible beside the batch dirs
    assert not [e for e in os.listdir(archive) if e.endswith("_tmp")]
    # graph fold exactly-once: one waved row per (src, dst)
    edges = spark.read.parquet(graph).groupBy("src", "dst").count().collect()
    assert sorted((r["src"], r["dst"], r["count"]) for r in edges) == [
        ("site-a.org", "t1.net", 1),
        ("site-b.org", "t2.net", 1),
        ("site-c.org", "t3.net", 1),
    ]
    # bloom superset: every corpus URL probes maybe-seen
    b = BloomSeenSet.load(spark, corpus + "_bloom")
    probe = b.maybe_contains(
        spark.createDataFrame([(u,) for u in urls], "norm_url string"),
        "norm_url",
    )
    assert probe.filter(~F.col("maybe_seen")).count() == 0
    # ranks table readable and swap-debris-free after the refresh loop
    assert spark.read.parquet(ranks).count() > 0
    assert not os.path.exists(ranks + "_ranks_tmp")


def test_orphaned_archive_attempt_swept_after_checkpoint_loss(
        spark, tmp_path, crash_at):
    """r15 hidden-temp audit: a crashed archive attempt leaves
    ``batch-<token>-<id>_tmp``, which BOTH read-back globs
    (``read_warc(archive + "/*")``, ``read_cdx(archive + "/*/*.cdxj")``)
    list — and after checkpoint LOSS the new run token means the
    per-batch replay cleanup never targets the old name, so the orphan
    polluted read-back forever. The stream-start sweep removes it."""
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "archive")

    def run_once():
        q = SP.start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True), corpus,
            archive_path=archive, checkpoint=ckpt,
        )
        q.awaitTermination(120)

    (crawl / "w1.warc").write_bytes(_rec(*_PAGE_A))

    with crash_at("archive_tmp_written"), \
            pytest.raises(Exception, match="injected crash"):
        run_once()
    # the attempt dir is orphaned AND the checkpoint is lost: the next
    # run's fresh token keys its batch dirs differently, so only the
    # stream-start sweep can ever reclaim the orphan
    import shutil

    assert [e for e in os.listdir(archive) if e.endswith("_tmp")]
    shutil.rmtree(ckpt)
    run_once()
    assert not [e for e in os.listdir(archive) if e.endswith("_tmp")]
    arch = [r["url"] for r in read_warc(spark, archive + "/*").collect()]
    assert arch == ["https://site-a.org/p"]  # exactly once, no orphan copy


def test_orphan_sweep_is_scoped_to_own_attempt_dirs(spark, tmp_path):
    """r15 review: the stream-start sweep must only reclaim the
    batch-*_tmp DIRECTORIES the sink itself creates — a bare *_tmp
    match rmtree'd a stray FILE (NotADirectoryError wedging stream
    start) and would delete a foreign swap temp (e.g. a ranks table
    nested under archive_path mid-swap) that recover_swap needs."""
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    archive = tmp_path / "archive"
    archive.mkdir()
    (archive / "stray_tmp").write_text("a user file, not ours")
    (archive / "ranks_ranks_tmp").mkdir()  # foreign swap temp
    (archive / "batch-dead00-00000_tmp").mkdir()  # our orphan
    (crawl / "w1.warc").write_bytes(_rec(*_PAGE_A))
    q = SP.start_streaming_crawl(
        read_warc(spark, str(crawl), streaming=True),
        str(tmp_path / "corpus"),
        archive_path=str(archive), checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert (archive / "stray_tmp").exists()        # untouched
    assert (archive / "ranks_ranks_tmp").exists()  # untouched
    assert not (archive / "batch-dead00-00000_tmp").exists()  # reclaimed

"""Link-graph analytics (operators/linkgraph.py + urls.resolve_url):
RFC 3986 resolution vs urllib.parse.urljoin on the supported subset,
host-graph construction traps, PageRank vs an independent pure-python
power iteration (sum-to-1, dangling redistribution, weighted edges),
and the WAT extraction path including the real Common-Crawl JSON
nesting."""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.functions import urls as U
from data_ingestion_tool_bakasura__spark.operators import linkgraph as L

# --- resolve_url -----------------------------------------------------------

RESOLVE_CASES = [
    # (base, href, expected = urljoin semantics for the supported subset)
    ("https://ex.com/a/b", "c", "https://ex.com/a/c"),
    ("https://ex.com/a/b/", "c", "https://ex.com/a/b/c"),
    ("https://ex.com", "c", "https://ex.com/c"),  # empty base path -> '/'
    ("https://ex.com/a/b", "/x/y", "https://ex.com/x/y"),
    ("https://ex.com:8080/a", "/x", "https://ex.com:8080/x"),  # port kept
    ("https://ex.com/a", "//cdn.net/l.js", "https://cdn.net/l.js"),
    ("http://ex.com/a", "//cdn.net/l.js", "http://cdn.net/l.js"),
    ("https://ex.com/a?q=1#f", "?page=2", "https://ex.com/a?page=2"),
    ("https://ex.com/a?q=1#f", "#sec", "https://ex.com/a?q=1"),
    ("https://ex.com/a?q=1#f", "", "https://ex.com/a?q=1"),
    ("https://ex.com/a", "mailto:x@y.z", "mailto:x@y.z"),
    ("https://ex.com/a", "HTTP://OTHER.ORG/p", "HTTP://OTHER.ORG/p"),
    ("https://ex.com/a/b?x=1", "c?y=2", "https://ex.com/a/c?y=2"),
]


def test_resolve_url_cases(spark):
    df = spark.createDataFrame(
        [(b, h) for b, h, _ in RESOLVE_CASES], ["base", "href"]
    )
    got = (
        df.withColumn("r", U.resolve_url(F.col("base"), F.col("href")))
        .orderBy("base", "href")
        .collect()
    )
    want = {(b, h): e for b, h, e in RESOLVE_CASES}
    for row in got:
        assert row["r"] == want[(row["base"], row["href"])], (
            row["base"], row["href"], row["r"])


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def test_resolve_sql_twin_parity_literals():
    """DuckDB twin agrees with the Spark expr on every case (same
    constants, same branch order — a drifted branch breaks this, not
    the oracle)."""
    con = duckdb.connect()
    for b, h, want in RESOLVE_CASES:
        e = U.resolve_sql(_sql_quote(b), _sql_quote(h))
        got = con.execute(f"SELECT {e}").fetchone()[0]
        assert got == want, (b, h, got, want)
    con.close()


@settings(max_examples=60, deadline=None)
@given(
    host=st.sampled_from(["ex.com", "a.b.org", "x.co.uk:8080"]),
    basepath=st.lists(
        st.text(alphabet="abcz09", min_size=1, max_size=3), max_size=3
    ),
    href=st.one_of(
        st.builds(
            lambda segs: "/".join(segs),
            st.lists(st.text(alphabet="pqr2", min_size=1, max_size=3),
                     min_size=1, max_size=3),
        ),
        st.builds(lambda s: "/" + s, st.text(alphabet="pq/", max_size=6)),
        st.builds(lambda s: "//cdn.net/" + s, st.text(alphabet="pq", max_size=4)),
        st.builds(lambda s: "?" + s, st.text(alphabet="k=v&", max_size=6)),
        st.just(""),
    ),
)
def test_resolve_matches_urljoin(host, basepath, href):
    """Property: on the supported subset (no dot segments, absolute
    http(s) base, protocol-relative hrefs carry a host) resolve_sql ==
    urllib.parse.urljoin. The DuckDB twin is the cheap proxy for the
    Spark expr (case parity above). '//' with an EMPTY authority is
    excluded: urljoin falls back to the base netloc, we emit an empty
    host that the downstream host != '' filters drop — either way the
    degenerate href never produces a usable edge."""
    from urllib.parse import urljoin

    from hypothesis import assume

    assume(not (href.startswith("//") and (len(href) == 2 or href[2] == "/")))
    # a BARE '?' (empty query): urljoin drops the '?', we keep it —
    # url_normalize canonicalizes both spellings to the same URL, so
    # the engines cannot disagree downstream.
    assume(href != "?")

    base = f"https://{host}/" + "/".join(basepath)
    want = urljoin(base, href)
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {U.resolve_sql(_sql_quote(base), _sql_quote(href))}"
    ).fetchone()[0]
    con.close()
    assert got == want, (base, href, got, want)


# --- extract_links ---------------------------------------------------------


def _wat_df(spark, rows):
    return spark.createDataFrame(rows, ["url", "json"])


def test_extract_links_basic_and_scheme_filter(spark):
    env = json.dumps({"links": [
        {"url": "p/1", "text": "rel"},
        {"url": "/abs", "text": "root"},
        {"url": "https://other.org/x", "text": "abs"},
        {"url": "mailto:a@b.c", "text": "mail"},
        {"url": "javascript:void(0)", "text": "js"},
    ]})
    out = L.extract_links(
        _wat_df(spark, [("https://ex.com/a/b", env)])
    ).collect()
    got = {(r["link_url"], r["anchor_text"]) for r in out}
    assert got == {
        ("https://ex.com/a/p/1", "rel"),
        ("https://ex.com/abs", "root"),
        ("https://other.org/x", "abs"),
    }


def test_extract_links_cc_nested_path(spark):
    """Real Common-Crawl WAT nesting works via links_path; extra
    attributes (path, title) are ignored by the pruned schema."""
    env = json.dumps({"Envelope": {"Payload-Metadata": {
        "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [
            {"path": "A@/href", "url": "https://t.org/1", "text": "one"},
            {"path": "IMG@/src", "url": "/i.png"},
        ]}}}}})
    out = L.extract_links(
        _wat_df(spark, [("https://ex.com/", env)]),
        links_path="$.Envelope.Payload-Metadata['HTTP-Response-Metadata']"
        "['HTML-Metadata'].Links",
    ).collect()
    got = {(r["link_url"], r["anchor_text"]) for r in out}
    assert got == {("https://t.org/1", "one"), ("https://ex.com/i.png", None)}


def test_extract_links_missing_or_junk_json(spark):
    out = L.extract_links(_wat_df(spark, [
        ("https://ex.com/", json.dumps({"nolinks": 1})),
        ("https://ex.com/", "not json at all"),
        ("https://ex.com/", json.dumps({"links": []})),
    ])).collect()
    assert out == []


# --- host_graph ------------------------------------------------------------


def test_host_graph_traps(spark):
    links = spark.createDataFrame(
        [
            ("https://a.ex.com/p", "https://b.other.org/x", "t"),
            ("https://ex.com/q", "HTTPS://B.OTHER.ORG:443/y", "t"),  # folds
            ("https://ex.com/q", "https://www.ex.com/self", "t"),  # self-loop
            ("https://ex.com/q", "https://cdn.net/z", "t"),
        ],
        ["page_url", "link_url", "anchor_text"],
    )
    got = {
        (r["src"], r["dst"]): r["n_links"]
        for r in L.host_graph(links).collect()
    }
    # a.ex.com and ex.com both collapse to ex.com; the two other.org
    # spellings fold into one edge of weight 2; the subdomain self-loop
    # (ex.com -> www.ex.com) is dropped at registrable-domain level.
    assert got == {("ex.com", "other.org"): 2, ("ex.com", "cdn.net"): 1}


# --- pagerank --------------------------------------------------------------


def _py_pagerank(edges, iterations=3, damping=0.85):
    """Independent reference: same synchronous sweep, dict arithmetic.
    edges = [(src, dst, w)]."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = float(len(nodes))
    outw: dict[str, float] = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dm = sum(r for v, r in rank.items() if v not in outw)
        contrib = {v: 0.0 for v in nodes}
        for s, d, w in edges:
            contrib[d] += rank[s] * (w / outw[s])
        rank = {
            v: (1.0 - damping) / n + damping * (contrib[v] + dm / n)
            for v in nodes
        }
    return rank


EDGES = [
    ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
    ("c", "a", 1.0), ("a", "sink", 1.0),  # 'sink' has no outlinks
]


def test_pagerank_matches_reference_and_sums_to_one(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank"]
        for r in L.pagerank(df, weight_col="w", iterations=3).collect()
    }
    want = _py_pagerank(EDGES)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_unweighted_and_more_iterations(spark):
    ew = [(s, d, 1.0) for s, d, _ in EDGES]
    df = spark.createDataFrame(
        [(s, d) for s, d, _ in EDGES], ["src", "dst"]
    )
    got = {
        r["node"]: r["rank"]
        for r in L.pagerank(df, iterations=5).collect()
    }
    want = _py_pagerank(ew, iterations=5)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v


def test_pagerank_sql_twin_matches_reference():
    con = duckdb.connect()
    vals = ", ".join(
        f"('{s}', '{d}', {w})" for s, d, w in EDGES
    )
    q = L.pagerank_sql(
        f"SELECT src, dst, w FROM (VALUES {vals}) AS t(src, dst, w)",
        iterations=3,
        weight_e="w",
    )
    got = dict(con.execute(q).fetchall())
    con.close()
    want = _py_pagerank(EDGES)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v


def test_top_hosts(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst", "w"])
    top = L.top_hosts(df, k=2, weight_col="w").collect()
    ranks = _py_pagerank(EDGES)
    want = sorted(ranks, key=lambda v: (-ranks[v], v))[:2]
    assert [r["node"] for r in top] == want


def test_pagerank_refreshes_release_their_checkpoints(spark, tmp_path):
    """pagerank's share points are GC-scoped checkpoints, so a
    long-running re-rank (the streaming crawl's ``ranks_refresh_every``)
    owns nothing to unpersist: once two written refreshes are dropped
    and collected, the context's persistent RDDs are back to their
    baseline."""
    import gc
    import time

    jsc = spark.sparkContext._jsc

    def cached():
        # RDDInfo rows, not the getPersistentRDDs() map: the map pins
        # every RDD in it for as long as the gateway holds it
        return {i.id() for i in jsc.sc().getRDDStorageInfo()}

    gc.collect()
    before = set(jsc.getPersistentRDDs().keys())
    cached_before = cached()
    df = spark.createDataFrame(EDGES, ["src", "dst", "w"])
    for i in range(2):
        ranks = L.pagerank(df, weight_col="w")
        ranks.write.parquet(str(tmp_path / f"ranks{i}"))
    assert cached() - cached_before, "pagerank materialized no share point"
    del ranks
    deadline = time.monotonic() + 60
    while cached() - cached_before and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert not set(jsc.getPersistentRDDs().keys()) - before, (
        "released pagerank checkpoints are still held")


# --- host_rank_filter (frontier-prioritization gate) ------------------------


def _ranks_df(spark):
    return spark.createDataFrame(
        [("good.org", 0.4), ("meh.org", 0.05)], ["node", "rank"]
    )


def test_host_rank_filter_threshold_and_unranked(spark):
    from data_ingestion_tool_bakasura__spark.operators import crawl as CR

    pages = spark.createDataFrame(
        [
            ("https://www.good.org/a",),   # ranked above floor
            ("https://meh.org/b",),        # ranked below floor
            ("https://fresh.net/c",),      # unranked
        ],
        ["url"],
    )
    kept = CR.host_rank_filter(pages, _ranks_df(spark), min_rank=0.1)
    got = {r["url"]: r["host_rank"] for r in kept.collect()}
    assert set(got) == {"https://www.good.org/a", "https://fresh.net/c"}
    assert got["https://www.good.org/a"] == pytest.approx(0.4)
    assert got["https://fresh.net/c"] is None

    closed = CR.host_rank_filter(
        pages, _ranks_df(spark), min_rank=0.1, keep_unranked=False
    )
    assert [r["url"] for r in closed.collect()] == ["https://www.good.org/a"]


def test_streaming_crawl_host_rank_gate(spark, tmp_path):
    """host_ranks_path on start_streaming_crawl: below-floor hosts are
    dropped before extraction, unranked hosts land, corpus schema
    unchanged (no host_rank column)."""
    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-15T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "w1.warc").write_bytes(
        rec("https://www.good.org/a", b"<p>keep ranked</p>", "r1")
        + rec("https://meh.org/b", b"<p>drop low rank</p>", "r2")
        + rec("https://fresh.net/c", b"<p>keep unranked</p>", "r3")
    )
    ranks = str(tmp_path / "ranks")
    _ranks_df(spark).write.parquet(ranks)
    corpus = str(tmp_path / "corpus")
    start_streaming_crawl(
        read_warc(spark, str(crawl), streaming=True),
        corpus,
        host_ranks_path=ranks,
        min_host_rank=0.1,
        checkpoint=str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    rows = spark.read.parquet(corpus)
    assert sorted(r["domain"] for r in rows.collect()) == ["fresh.net", "good.org"]
    assert "host_rank" not in rows.columns


# --- frontier_expand ---------------------------------------------------------


def test_frontier_expand(spark):
    links = spark.createDataFrame(
        [
            ("https://a.com/", "https://new.org/p?utm_source=x", "t"),
            ("https://b.com/", "https://new.org/p", "t"),      # same page
            ("https://b.com/", "https://new.org/q", "t"),
            ("https://b.com/", "https://seen.com/x", "t"),     # landed
            ("https://b.com/", "https://new.org/r", "t"),
        ],
        ["page_url", "link_url", "anchor_text"],
    )
    corpus = spark.createDataFrame(
        [("https://seen.com/x",)], ["norm_url"]
    )
    out = L.frontier_expand(links, corpus, max_per_domain=2)
    rows = {r["norm_url"]: r for r in out.collect()}
    # tracking-param twin merged -> 2 in-links; landed URL excluded;
    # 2-per-domain cap keeps the highest-in-linked first
    assert set(rows) == {"https://new.org/p", "https://new.org/q"}
    assert rows["https://new.org/p"]["n_inlinks"] == 2
    assert rows["https://new.org/p"]["rank_in_domain"] == 1
    assert rows["https://new.org/q"]["rank_in_domain"] == 2


def test_frontier_expand_host_ranks(spark):
    links = spark.createDataFrame(
        [("https://a.com/", "https://x.org/1", "t"),
         ("https://a.com/", "https://y.net/1", "t")],
        ["page_url", "link_url", "anchor_text"],
    )
    corpus = spark.createDataFrame([("https://z.io/",)], ["norm_url"])
    ranks = spark.createDataFrame([("x.org", 0.7)], ["node", "rank"])
    out = L.frontier_expand(links, corpus, host_ranks=ranks)
    got = {r["domain"]: r["host_rank"] for r in out.collect()}
    assert got["x.org"] == pytest.approx(0.7)
    assert got["y.net"] is None  # unranked annotated NULL, not dropped


# --- persisted / incremental host graph --------------------------------------


def _links_wave(spark, rows):
    return spark.createDataFrame(
        [(s, d, "t") for s, d in rows],
        ["page_url", "link_url", "anchor_text"],
    )


def test_host_graph_increment_parity_and_replay(spark, tmp_path):
    """Two waves == one batch (aggregated); replaying a wave_id is a
    no-op; pagerank over the persisted graph == fused."""
    w1 = [("https://a.com/1", "https://x.org/p"),
          ("https://a.com/2", "https://y.net/q")]
    w2 = [("https://b.com/1", "https://x.org/p"),
          ("https://a.com/3", "https://x.org/r")]
    path = str(tmp_path / "graph")
    n1 = L.host_graph_increment(spark, path, _links_wave(spark, w1), "w1")
    n2 = L.host_graph_increment(spark, path, _links_wave(spark, w2), "w2")
    assert n1 > 0 and n2 > 0
    # replay guard: same wave again appends nothing
    assert L.host_graph_increment(spark, path, _links_wave(spark, w2), "w2") == 0
    merged = {(r["src"], r["dst"]): r["n_links"]
              for r in L.load_host_graph(spark, path).collect()}
    batch = {(r["src"], r["dst"]): r["n_links"]
             for r in L.host_graph(_links_wave(spark, w1 + w2)).collect()}
    assert merged == batch

    fused = {r["node"]: r["rank"] for r in L.pagerank(
        L.host_graph(_links_wave(spark, w1 + w2)), weight_col="n_links"
    ).collect()}
    persisted = {r["node"]: r["rank"] for r in L.pagerank(
        L.load_host_graph(spark, path), weight_col="n_links"
    ).collect()}
    assert set(fused) == set(persisted)
    for k in fused:
        assert persisted[k] == pytest.approx(fused[k], abs=1e-12)


def test_build_ranks_cli_and_crawl_gate_journey(spark, tmp_path, capsys):
    """pipeline_cli build-ranks: WAT -> incremental graph -> ranks
    parquet; a second wave re-ranks; the output feeds --host-ranks."""
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import pipeline_cli

    def wat_rec(uri, links, rid):
        body = _json.dumps({"links": links}).encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: metadata\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-15T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    watdir = tmp_path / "wat"
    watdir.mkdir()
    (watdir / "w1.warc.wat").write_bytes(
        wat_rec("https://a.com/1",
                [{"url": "https://hub.org/x", "text": "t"}], "m1")
        + wat_rec("https://b.com/1",
                  [{"url": "https://hub.org/y", "text": "t"}], "m2")
    )
    graph = str(tmp_path / "graph")
    ranks = str(tmp_path / "ranks")
    rc = pipeline_cli.main([
        "build-ranks", str(watdir), graph, ranks, "--wave", "w1",
    ])
    ev = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and ev["n_edges_appended"] == 2 and ev["n_hosts"] == 3

    # second wave accumulates; replaying it is a no-op append
    (watdir / "w2.warc.wat").write_bytes(
        wat_rec("https://c.com/1",
                [{"url": "https://hub.org/z", "text": "t"}], "m3")
    )
    rc = pipeline_cli.main([
        "build-ranks", str(watdir), graph, ranks, "--wave", "w2",
    ])
    ev = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and ev["n_hosts"] == 4  # c.com joined the graph
    got = {r["node"]: r["rank"]
           for r in spark.read.parquet(ranks).collect()}
    # hub.org is the only in-linked host -> highest rank
    assert max(got, key=got.get) == "hub.org"


# --- raw-HTML outlink extraction ---------------------------------------------


def test_html_links_py_edges():
    from data_ingestion_tool_bakasura__spark.functions.htmlmeta import (
        html_links_py,
    )

    html = (
        '<a href="/a">one &amp; two</a>'
        "<a>no href</a>"
        '<a href="/b"><b>bold</b> text</a>'
        '<a href="/trunc">cut off'
    )
    got = html_links_py(html)
    assert ("/a", "one & two") in got
    assert ("/b", "bold text") in got
    assert ("/trunc", "cut off") in got          # EOF flush
    assert all(h != None for h, _ in got)
    assert len(got) == 3                         # hrefless skipped


def test_extract_links_html_matches_wat_shape(spark):
    """Raw-HTML extraction feeds the same downstream operators as the
    WAT path: identical columns, resolution and scheme filter."""
    pages = spark.createDataFrame(
        [("https://ex.com/a/b",
          '<a href="p/1">rel</a><a href="mailto:x@y">m</a>'
          '<a href="https://other.org/x">abs</a>')],
        ["url", "html"],
    )
    out = L.extract_links_html(pages).collect()
    got = {(r["link_url"], r["anchor_text"]) for r in out}
    assert got == {("https://ex.com/a/p/1", "rel"),
                   ("https://other.org/x", "abs")}
    edges = L.host_graph(L.extract_links_html(pages)).collect()
    assert {(r["src"], r["dst"]) for r in edges} == {("ex.com", "other.org")}


def test_streaming_crawl_link_graph(spark, tmp_path):
    """link_graph_path on start_streaming_crawl: each batch folds its
    surviving pages' outlinks into the persisted waved graph; a second
    wave accumulates; ranks rebuilt from it prioritize the hub."""
    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-15T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    graph = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    (crawl / "w1.warc").write_bytes(
        rec("https://a.com/1",
            b'<p>x</p><a href="https://hub.org/p">hub</a>', "a1")
        + rec("https://b.com/1",
              b'<a href="https://hub.org/q">hub too</a>', "b1")
    )
    start_streaming_crawl(
        read_warc(spark, str(crawl), streaming=True), corpus,
        link_graph_path=graph, checkpoint=ckpt,
    ).awaitTermination(120)
    g1 = {(r["src"], r["dst"]): r["n_links"]
          for r in L.load_host_graph(spark, graph).collect()}
    assert g1 == {("a.com", "hub.org"): 1, ("b.com", "hub.org"): 1}

    (crawl / "w2.warc").write_bytes(
        rec("https://c.com/1",
            b'<a href="https://hub.org/r">again</a>'
            b'<a href="/self">nav</a>', "c1")
    )
    start_streaming_crawl(
        read_warc(spark, str(crawl), streaming=True), corpus,
        link_graph_path=graph, checkpoint=ckpt,
    ).awaitTermination(120)
    g2 = {(r["src"], r["dst"]): r["n_links"]
          for r in L.load_host_graph(spark, graph).collect()}
    # self-link dropped at host level; hub accumulates a third source
    assert g2 == {("a.com", "hub.org"): 1, ("b.com", "hub.org"): 1,
                  ("c.com", "hub.org"): 1}
    ranks = {r["node"]: r["rank"] for r in L.pagerank(
        L.load_host_graph(spark, graph), weight_col="n_links"
    ).collect()}
    assert max(ranks, key=ranks.get) == "hub.org"


def test_streaming_crawl_self_prioritizing(spark, tmp_path):
    """ranks_refresh_every: the stream writes its own ranks table
    after folding links, and LATER batches gate on it — hub pages
    pass, a below-floor host is dropped before extraction."""
    from data_ingestion_tool_bakasura__spark.sources.warc import read_warc
    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    def rec(uri, html, rid):
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-15T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    corpus = str(tmp_path / "corpus")
    graph = str(tmp_path / "graph")
    ranks = str(tmp_path / "ranks")
    ckpt = str(tmp_path / "ckpt")

    def run():
        start_streaming_crawl(
            read_warc(spark, str(crawl), streaming=True), corpus,
            link_graph_path=graph, host_ranks_path=ranks,
            ranks_refresh_every=1, min_host_rank=0.2,
            keep_unranked_hosts=False, checkpoint=ckpt,
        ).awaitTermination(180)

    # wave 1 (no ranks yet -> ungated bootstrap): two sources link hub
    (crawl / "w1.warc").write_bytes(
        rec("https://a.com/1", b'<a href="https://hub.org/p">h</a>', "a1")
        + rec("https://b.com/1", b'<a href="https://hub.org/q">h</a>', "b1")
    )
    run()
    assert os.path.exists(ranks)  # refresh wrote the table
    r = {x["node"]: x["rank"] for x in spark.read.parquet(ranks).collect()}
    assert max(r, key=r.get) == "hub.org" and r["hub.org"] >= 0.2

    # wave 2 gates on wave 1's ranks: hub page lands, a host absent
    # from the ranked graph is dropped (keep_unranked=False)
    (crawl / "w2.warc").write_bytes(
        rec("https://hub.org/page", b"<p>hub content</p>", "h1")
        + rec("https://nobody.net/x", b"<p>stranger</p>", "n1")
    )
    run()
    doms = sorted(r["domain"] for r in spark.read.parquet(corpus).collect())
    assert "hub.org" in doms and "nobody.net" not in doms


def test_fetch_schedule(spark):
    links = spark.createDataFrame(
        [("https://s.com/", f"https://big.org/{i}", "t") for i in range(5)]
        + [("https://s.com/", "https://small.net/x", "t")],
        ["page_url", "link_url", "anchor_text"],
    )
    corpus = spark.createDataFrame([("https://z.io/",)], ["norm_url"])
    fr = L.frontier_expand(links, corpus, max_per_domain=10)
    sched = L.fetch_schedule(fr, per_slot=2)
    rows = sched.collect()
    by_slot: dict = {}
    for r in rows:
        by_slot.setdefault((r["slot"], r["domain"]), 0)
        by_slot[(r["slot"], r["domain"])] += 1
    # no domain exceeds per_slot in any slot; big.org spans 3 slots
    assert all(v <= 2 for v in by_slot.values())
    assert max(r["slot"] for r in rows if r["domain"] == "big.org") == 2
    assert all(r["slot"] == 0 for r in rows if r["domain"] == "small.net")
    # ranked input path is map-only: no extra window column left behind
    assert "_rk" not in sched.columns


def test_fetch_schedule_crawl_delay(spark):
    """r12: a planted robots Crawl-delay strides a host's slots —
    one batch of per_slot URLs every ceil(delay/tick) slots, so a
    fetcher draining one slot per tick spaces that host's fetches at
    least `delay` seconds apart; undeclared hosts keep stride 1."""
    links = spark.createDataFrame(
        [("https://s.com/", f"https://slow.org/{i}", "t") for i in range(6)]
        + [("https://s.com/", f"https://fast.net/{i}", "t") for i in range(4)],
        ["page_url", "link_url", "anchor_text"],
    )
    corpus = spark.createDataFrame([("https://z.io/",)], ["norm_url"])
    fr = L.frontier_expand(links, corpus, max_per_domain=10)
    delays = spark.createDataFrame(
        [("slow.org", 5.0)], "host string, crawl_delay double"
    )
    sched = L.fetch_schedule(
        fr, per_slot=2, delays=delays, tick_seconds=2.0
    ).collect()
    slow = sorted(r["slot"] for r in sched if r["domain"] == "slow.org")
    fast = sorted(r["slot"] for r in sched if r["domain"] == "fast.net")
    # stride = ceil(5.0/2.0) = 3: batches of 2 land at slots 0, 3, 6
    assert slow == [0, 0, 3, 3, 6, 6]
    # consecutive-batch spacing >= declared delay in fetcher seconds
    assert (3 - 0) * 2.0 >= 5.0
    # undeclared host: stride 1, unchanged from the delay-free path
    assert fast == [0, 0, 1, 1]
    by = {(r["slot"], r["domain"]) for r in sched}
    counts: dict = {}
    for r in sched:
        counts[(r["slot"], r["domain"])] = counts.get((r["slot"], r["domain"]), 0) + 1
    assert all(v <= 2 for v in counts.values())
    # the crawl_delay column is carried through (null when undeclared)
    assert {r["crawl_delay"] for r in sched if r["domain"] == "slow.org"} == {5.0}
    assert {r["crawl_delay"] for r in sched if r["domain"] == "fast.net"} == {None}


def test_frontier_cli_journey(spark, tmp_path, capsys):
    """pipeline_cli frontier: WAT + corpus -> slotted fetch list, with
    ranks annotation when --host-ranks is given."""
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import pipeline_cli

    def wat_rec(uri, links, rid):
        body = _json.dumps({"links": links}).encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: metadata\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: 2026-08-15T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    watdir = tmp_path / "wat"
    watdir.mkdir()
    (watdir / "w.warc.wat").write_bytes(
        wat_rec("https://a.com/1", [
            {"url": "https://new.org/p", "text": "t"},
            {"url": "https://new.org/q", "text": "t"},
            {"url": "https://seen.com/x", "text": "t"},
        ], "m1")
    )
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [("https://seen.com/x",)], ["norm_url"]
    ).write.parquet(corpus)
    out = str(tmp_path / "frontier")
    rc = pipeline_cli.main([
        "frontier", str(watdir), corpus, out, "--per-slot", "1",
    ])
    ev = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and ev["n_urls"] == 2 and ev["n_domains"] == 1
    rows = spark.read.parquet(out).collect()
    assert sorted(r["slot"] for r in rows) == [0, 1]  # 1/domain/tick

    # r12: --robots wires declared Crawl-delays into the slot stride
    # (www host folds to the registrable domain; 5s delay / 2s tick
    # -> stride 3: the second new.org URL moves from slot 1 to slot 3)
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        [("www.new.org", "User-agent: *\nCrawl-delay: 5")],
        "host string, body string",
    ).write.parquet(robots)
    out2 = str(tmp_path / "frontier2")
    rc = pipeline_cli.main([
        "frontier", str(watdir), corpus, out2, "--per-slot", "1",
        "--robots", robots, "--tick", "2",
    ])
    capsys.readouterr()
    assert rc == 0
    rows2 = spark.read.parquet(out2).collect()
    assert sorted(r["slot"] for r in rows2) == [0, 3]
    assert {r["crawl_delay"] for r in rows2} == {5.0}


def test_empty_graph_edges(spark, tmp_path):
    """Empty inputs stay safe: pagerank of an empty edge list is an
    empty frame (no divide-by-zero), a zero-edge first wave still
    creates a loadable graph, and a later real wave lands on top."""
    empty = spark.createDataFrame([], "src string, dst string")
    assert L.pagerank(empty).count() == 0

    path = str(tmp_path / "g")
    no_links = spark.createDataFrame(
        [], "page_url string, link_url string, anchor_text string"
    )
    assert L.host_graph_increment(spark, path, no_links, "w0") == 0
    assert L.load_host_graph(spark, path).count() == 0
    n = L.host_graph_increment(
        spark, path,
        spark.createDataFrame(
            [("https://a.com/", "https://b.org/", "t")],
            ["page_url", "link_url", "anchor_text"],
        ),
        "w1",
    )
    assert n == 1
    assert L.load_host_graph(spark, path).count() == 1


def test_ranks_refresh_requires_paths(spark, tmp_path):
    import pytest as _pytest

    from data_ingestion_tool_bakasura__spark.streaming.pipeline import (
        start_streaming_crawl,
    )

    with _pytest.raises(ValueError, match="ranks_refresh_every requires"):
        start_streaming_crawl(
            spark.readStream.format("rate").load(),  # never started
            str(tmp_path / "c"),
            ranks_refresh_every=2,
        )

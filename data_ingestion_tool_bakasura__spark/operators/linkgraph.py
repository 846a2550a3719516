"""Web link-graph analytics over the WAT metadata aperture (round 11):
outlink extraction, host-level graph construction, and fixed-iteration
PageRank — the frontier-prioritization / host-ranking pass a
Common-Crawl-scale curation pipeline runs to decide WHAT to crawl and
keep (CC publishes exactly this artifact as its host-level webgraph
ranks; FineWeb/RefinedWeb filter against such priors).

Scale shape:
- ``extract_links`` is map-only: one JSON path extraction + explode
  per WAT record, link resolution as pure codegen (``urls.resolve_url``).
- ``host_graph`` is ONE exchange on the (src, dst) domain pair.
- ``pagerank`` is the standard synchronous power iteration expressed
  as DataFrame joins: the transition matrix (edge weight / out-weight)
  is built ONCE and checkpointed; each sweep is one shuffle join on the
  source key plus one aggregation on the destination key, with the
  dangling mass derived by CONSERVATION from the contribution sums (a
  1-row reduce) and crossed in — with the node count — as *broadcast*
  nested-loop joins (bounded: never a CartesianProduct of two
  unbounded sides). The rank lineage is single-use, so only the
  per-sweep contribution frame is checkpointed. At 100 TB the host graph is
  ~10^8 nodes / 10^9 edges — each sweep shuffles the edge list once
  on ``src``; no driver-side state beyond the query plan.

The reference has no crawl surface; this family is from the mandated
training-data-pipeline extension list (frontier prioritization), fed
by ``sources/warc.py read_wat``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.functions import urls as U
from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint

#: WAT link entries: {"url": href, "text": anchor text}. Real
#: Common-Crawl WAT nests the array at
#: ``$.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Links``
#: (with ``path``/``title`` attributes this schema ignores); pass that
#: as ``links_path`` — unknown struct fields are dropped by from_json.
LINKS_SCHEMA = "array<struct<url:string,text:string>>"


def extract_links(
    wat: DataFrame,
    json_col: str = "json",
    base_col: str = "url",
    links_path: str = "$.links",
) -> DataFrame:
    """WAT rows -> one row per outlink: (page_url, link_url,
    anchor_text). Hrefs are resolved against the page URL
    (``urls.resolve_url``) and non-http(s) results (mailto:,
    javascript:, data:) are dropped. Map-only — JSON path extraction
    prunes the parse to the links array, the explode and the
    resolution are codegen.

    r17 optimization: for a simple top-level ``links_path`` (the
    default ``$.links``) the record is parsed ONCE with a pruned
    ``from_json`` struct schema instead of
    ``from_json(get_json_object(...))``, which parses every record
    twice (path extraction, then the extracted substring again) —
    value-identical on the fixtures (exceptAll both ways) and the
    oracle family re-certified; the JSON cost is per-byte and
    data-proportional at crawl scale. Nested paths (real Common-Crawl
    WAT's ``$.Envelope...Links``) keep the general two-step form.

    Corrupt-record semantics of the fast path (r17 ADVICE): the pruned
    ``from_json`` is PERMISSIVE over the WHOLE record — any malformed
    byte NULLs the row — while the two-step form can still extract a
    links array from a record whose JSON breaks only AFTER it. A
    partially-corrupt WAT record therefore yields no links on the fast
    path where the old form may have yielded some. That matches the
    crawl-scale dead-letter philosophy (malformed records are dropped,
    not half-parsed); if parity on corrupt-tail records ever matters,
    pass a nested-looking path (or any non-``$.name`` form) to force
    the two-step extraction."""
    import re as _re

    m = _re.fullmatch(r"\$\.(\w+)", links_path)
    if m:
        links = F.from_json(
            F.col(json_col), f"struct<{m.group(1)}:{LINKS_SCHEMA}>"
        )[m.group(1)]
    else:
        links = F.from_json(
            F.get_json_object(F.col(json_col), links_path), LINKS_SCHEMA
        )
    out = wat.select(
        F.col(base_col).alias("page_url"), F.explode(links).alias("_l")
    )
    resolved = U.resolve_url(F.col("page_url"), F.col("_l.url"))
    return out.select(
        "page_url",
        resolved.alias("link_url"),
        F.col("_l.text").alias("anchor_text"),
    ).filter(U.url_scheme(F.col("link_url")).isin("http", "https"))


def extract_links_html(
    pages: DataFrame,
    html_col: str = "html",
    base_col: str = "url",
) -> DataFrame:
    """Outlinks straight off RAW pages (no WAT needed): one
    Arrow-batched parser pass per page (``htmlmeta.html_links_udf``)
    yields the same (page_url, link_url, anchor_text) rows as
    ``extract_links``, so the whole family (host_graph, pagerank,
    frontier_expand, anchor aggregation) runs identically on a crawl
    that has only WARC HTML. Resolution + scheme filter are shared
    codegen."""
    from data_ingestion_tool_bakasura__spark.functions.htmlmeta import (
        html_links_udf,
    )

    out = pages.select(
        F.col(base_col).alias("page_url"),
        F.explode(html_links_udf()(F.col(html_col))).alias("_l"),
    )
    resolved = U.resolve_url(F.col("page_url"), F.col("_l.url"))
    return out.select(
        "page_url",
        resolved.alias("link_url"),
        F.col("_l.text").alias("anchor_text"),
    ).filter(U.url_scheme(F.col("link_url")).isin("http", "https"))


def host_graph(
    links: DataFrame,
    src_col: str = "page_url",
    dst_col: str = "link_url",
) -> DataFrame:
    """Collapse page-level links to a weighted host-level edge list
    (src, dst, n_links) on registrable domains; self-loops (intra-site
    navigation — the overwhelming majority of links on a real page)
    are dropped. ONE exchange on the (src, dst) pair."""
    e = links.select(
        U.registrable_domain(U.url_host(F.col(src_col))).alias("src"),
        U.registrable_domain(U.url_host(F.col(dst_col))).alias("dst"),
    ).filter((F.col("src") != "") & (F.col("dst") != "") & (F.col("src") != F.col("dst")))
    return e.groupBy("src", "dst").agg(F.count("*").alias("n_links"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration weighted PageRank -> (node, rank).

    rank_{i+1}(v) = (1-d)/N + d * (sum over in-edges u->v of
    rank_i(u) * w(u,v)/outw(u)  +  dangling_mass_i / N)

    where dangling mass is the total rank parked on nodes with no
    outlinks (uniformly redistributed — ranks sum to exactly 1 every
    iteration). Initial rank is uniform 1/N. A fixed iteration count
    (the production choice for frontier scoring: CC's host ranks are
    themselves a fixed-sweep artifact) keeps the plan deterministic
    and the DuckDB oracle expressible by unrolling (``pagerank_sql``).

    The dangling mass is computed by CONSERVATION, not by scanning the
    rank frame: every node with outlinks forwards exactly its rank
    (its transition weights sum to 1), so dangling = 1 - sum(contribs)
    — valid precisely because the redistribution keeps total rank at
    1 every sweep. That makes each sweep ONE join + one aggregation
    (plus a 1-row reduce over the already-aggregated contribution
    frame), and the rank lineage single-use, so no per-iteration
    materialization of the ranks is needed.

    Construction runs jobs: the edge list, the node set, the transition
    matrix and each sweep's contribution frame are share points, each
    materialized once through ``reliable_checkpoint`` (the returned
    ranks stay lazy over them). Their blocks are released when the
    returned frame is garbage-collected, so a long-running caller (the
    streaming crawl's ``ranks_refresh_every`` re-rank) holds no list of
    frames to unpersist."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # the edge list is the root of EVERY branch below (nodes,
    # out-weights, transition matrix) — materialize it first so an
    # expensive upstream (a WAT parse, a multi-join) runs exactly once,
    # then the two frames each sweep re-reads (nodes: the rank join;
    # trans: the contribution join)
    e = reliable_checkpoint(edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    ))
    nodes = reliable_checkpoint(
        e.select(F.explode(F.array("_src", "_dst")).alias("node")).distinct()
    )  # one scan of e, not a union's two
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_outw"))
    trans = reliable_checkpoint(
        e.join(outw, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_outw")).alias("_p"))
    )
    n1 = nodes.agg(F.count("*").cast("double").alias("_n"))  # 1 row
    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(iterations):
        # read twice: the 1-row reduce and the re-join
        contribs = reliable_checkpoint(
            trans.join(ranks, trans["_src"] == ranks["node"])
            .groupBy("_dst")
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_c"))
        )
        dangling = contribs.agg(
            (F.lit(1.0) - F.coalesce(F.sum("_c"), F.lit(0.0))).alias("_dm")
        )  # 1 row, by conservation (see docstring)
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["_dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n1))
            .select(
                "node",
                (
                    F.lit((1.0 - damping)) / F.col("_n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dm") / F.col("_n")
                    )
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


def pagerank_sql(
    edges_cte: str,
    iterations: int = 3,
    damping: float = 0.85,
    weight_e: str = "1.0",
) -> str:
    """DuckDB twin of ``pagerank``, unrolled: ``edges_cte`` is a SQL
    body producing (src, dst) [+ a weight column; ``weight_e`` must be
    its BARE column name — it is referenced both from an unaliased and
    an ``e``-aliased scan of the CTE]. Emits a full WITH query ending in
    ``SELECT node, rank FROM r{iterations}`` — same arithmetic, same
    branch structure, so parity holds to well under the oracle's 6-dp
    rounding."""
    d = repr(damping)
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        f"outw AS (SELECT src, sum(CAST({weight_e} AS DOUBLE)) AS ow FROM edges GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"sum(r.rank * (CAST({weight_e} AS DOUBLE) / o.ow)) AS c "
            f"FROM edges e JOIN r{p} r ON e.src = r.node "
            f"JOIN outw o ON e.src = o.src GROUP BY e.dst)"
        )
        parts.append(
            f"d{i} AS (SELECT 1.0 - coalesce(sum(c), 0.0) AS dm FROM c{i})"
        )
        parts.append(
            f"r{i} AS (SELECT nd.node, (1.0 - {d}) / (SELECT n FROM nn) + {d} * "
            f"(coalesce(c.c, 0.0) + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank "
            f"FROM nodes nd LEFT JOIN c{i} c ON nd.node = c.node)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM r{iterations}"


def frontier_expand(
    links: DataFrame,
    corpus_urls: DataFrame,
    link_col: str = "link_url",
    corpus_col: str = "norm_url",
    max_per_domain: int | None = None,
    host_ranks: DataFrame | None = None,
) -> DataFrame:
    """Next-wave fetch frontier: normalize the extracted link targets,
    drop everything already landed (anti-join against the corpus's
    normalized URLs), aggregate in-link counts as the page-level
    priority signal, optionally join the host-level rank prior, and
    cap per registrable domain (politeness) keeping the
    highest-in-linked pages first.

    Output: (norm_url, domain, n_inlinks[, host_rank]) ordered within
    each domain by (n_inlinks DESC, norm_url) — ``rank_in_domain``
    included when ``max_per_domain`` is set.

    Scale shape: one exchange on norm_url (the in-link count), one
    anti-join against the corpus on the same key, one window exchange
    on domain for the cap; ``host_ranks`` joins O(hosts) rows on the
    domain key (not broadcast — the persisted-domain-count precedent).
    This is the batch form of the crawl loop's "discover" step: feed
    ``extract_links`` of the last wave's WAT output and the corpus the
    streaming crawl maintains."""
    from pyspark.sql import Window

    cand = links.select(
        U.url_normalize(F.col(link_col)).alias("norm_url")
    ).groupBy("norm_url").agg(F.count("*").alias("n_inlinks"))
    seen = corpus_urls.select(F.col(corpus_col).alias("norm_url"))
    new = cand.join(seen, "norm_url", "left_anti").withColumn(
        "domain", U.registrable_domain(U.url_host(F.col("norm_url")))
    )
    if host_ranks is not None:
        r = host_ranks.select(
            F.col("node").alias("domain"),
            F.col("rank").cast("double").alias("host_rank"),
        )
        new = new.join(r, "domain", "left")
    if max_per_domain is not None:
        w = Window.partitionBy("domain").orderBy(
            F.desc("n_inlinks"), "norm_url"
        )
        new = new.withColumn(
            "rank_in_domain", F.row_number().over(w)
        ).filter(F.col("rank_in_domain") <= max_per_domain)
    return new


def host_graph_increment(
    spark: SparkSession,
    graph_path: str,
    links: DataFrame,
    wave_id: str,
    src_col: str = "page_url",
    dst_col: str = "link_url",
) -> int:
    """Fold one crawl wave's links into a PERSISTED host graph without
    rewriting it: the graph is an append-only parquet of
    (src, dst, n_links, wave) rows — a wave appends its own host_graph
    aggregate tagged with ``wave_id``, and readers re-aggregate across
    waves (``load_host_graph``). Links are extracted and hashed once
    per wave, ever.

    Replay idempotence is an exact-id guard, the image/video-index
    discipline: a ``wave_id`` already present in the graph makes the
    call a no-op (returns 0), so a crashed-then-replayed micro-batch
    cannot double-count edges. There is exactly ONE write target.
    Returns the number of edge rows appended. Compact with
    ``maintenance.compact`` when the per-wave file count grows."""
    import os

    new = host_graph(links, src_col, dst_col).withColumn(
        "wave", F.lit(wave_id)
    )
    if os.path.exists(graph_path.removeprefix("file://")):
        seen = (
            spark.read.parquet(graph_path)
            .select("wave").distinct()
            .filter(F.col("wave") == wave_id)
        )
        if seen.limit(1).count() > 0:
            return 0  # before the checkpoint: a replayed no-op parses nothing
    new = reliable_checkpoint(new)  # counted AND written: links parse once
    n = new.count()
    new.write.mode("append").parquet(graph_path)
    return n


def load_host_graph(spark: SparkSession, graph_path: str) -> DataFrame:
    """Aggregate the persisted waved graph back to (src, dst, n_links)
    — one exchange on the edge key; feed to ``pagerank`` /
    ``frontier_expand``."""
    return (
        spark.read.parquet(graph_path)
        .groupBy("src", "dst")
        .agg(F.sum("n_links").alias("n_links"))
    )


def fetch_schedule(
    frontier: DataFrame,
    per_slot: int = 1,
    domain_col: str = "domain",
    order_col: str = "rank_in_domain",
    delays: DataFrame | None = None,
    tick_seconds: float = 1.0,
    delay_host_col: str = "host",
) -> DataFrame:
    """Politeness scheduling over a frontier: assign each URL a fetch
    ``slot`` such that no domain appears more than ``per_slot`` times
    per slot — the batch form of per-host rate limiting (slot k =
    the k-th politeness tick; a fetcher drains slots in order and
    every domain gets at most ``per_slot`` requests per tick).

    slot = ((rank_in_domain - 1) // per_slot) * stride — pure
    arithmetic when ``frontier`` already carries ``frontier_expand``'s
    per-domain rank; otherwise one window on the domain computes it.
    Map-only in the ranked case; the fetcher groups by slot downstream.

    ``delays`` (r12): a ``(host, crawl_delay)`` table — the output of
    :func:`..operators.crawl.robots_delays_df`, keyed at the SAME
    granularity as ``domain_col`` (apply ``registrable_domain`` to the
    hosts first if the frontier is domain-keyed) — makes the schedule
    honor each host's declared robots ``Crawl-delay``: a host with
    delay d gets one batch of ``per_slot`` URLs per
    stride = max(1, ceil(d / tick_seconds)) slots, i.e. its fetches
    land ≥ d seconds apart when the fetcher drains one slot per tick.
    Hosts without a declared delay keep stride 1 (every slot). One
    O(hosts)-row left join on the domain key; null-delay rows cost
    nothing. Output gains a ``crawl_delay`` column (null = none
    declared) when ``delays`` is passed."""
    from pyspark.sql import Window

    if order_col in frontier.columns:
        rk = F.col(order_col)
    else:
        w = Window.partitionBy(domain_col).orderBy("norm_url")
        frontier = frontier.withColumn("_rk", F.row_number().over(w))
        rk = F.col("_rk")
    stride = F.lit(1)
    if delays is not None:
        d = delays.select(
            F.col(delay_host_col).alias(domain_col),
            F.col("crawl_delay").cast("double").alias("crawl_delay"),
        )
        frontier = frontier.join(d, domain_col, "left")
        stride = F.coalesce(
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(F.col("crawl_delay") / F.lit(float(tick_seconds))),
            ),
            F.lit(1).cast("bigint"),
        )
    out = frontier.withColumn(
        "slot", (F.floor((rk - 1) / F.lit(per_slot)) * stride).cast("int")
    )
    return out.drop("_rk") if "_rk" in out.columns else out


def top_hosts(
    edges: DataFrame,
    k: int = 20,
    **kw,
) -> DataFrame:
    """Convenience: the k highest-ranked hosts (TakeOrderedAndProject —
    no global sort materializes)."""
    return pagerank(edges, **kw).orderBy(F.desc("rank"), "node").limit(k)

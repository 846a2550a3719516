"""Document-pipeline queries: ingest semantics (SURVEY §2.A), index
query surface (§2.B) and text-analysis / dedup extensions (§2.C13/C16)
over the ``documents`` fixture, each with a DuckDB oracle.

Tokenization parity contract used throughout (Spark <-> DuckDB):
  normalize  = trim(regexp_replace(text, '\\s+', ' '))   [DuckDB adds 'g']
  tokens     = split(normalized, ' ')                    [regexp_split_to_array]
MinHash uses one md5 digest per shingle split into two 52-bit ints and
Kirsch-Mitzenmacher double hashing (h1 + k*h2) so the oracle can
reproduce signatures in ANSI SQL via ('0x' || substr(md5, ...))::BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.functions import text as TX
from data_ingestion_tool_bakasura__spark.functions import textstats as TS
from data_ingestion_tool_bakasura__spark.operators import dedup as DD
from data_ingestion_tool_bakasura__spark.sources.readers import load_table

ORACLE: dict[str, str] = {}

#: shared oracle fragments (kept in one place so Spark/SQL can't drift)
_NORM = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


# --- A12/A14/A15/A16: normalize, hash, sanitize, key synthesis ------------

def q_normalize_hash(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        TX.normalize_text("text").alias("norm_text"),
        TX.text_hash(TX.normalize_text("text")).alias("text_hash"),
        F.md5("text").alias("raw_hash"),
    ).orderBy("doc_id")


ORACLE["q_normalize_hash"] = f"""
SELECT doc_id,
       {_NORM} AS norm_text,
       md5({_NORM}) AS text_hash,
       md5(text) AS raw_hash
FROM documents
ORDER BY doc_id
"""


def q_chunk_keys(spark: SparkSession, sf: str) -> DataFrame:
    """A15/A16: sanitized deterministic chunk keys from (source, doc_id)."""
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        TX.sanitize_key(F.concat_ws("_", "source", F.col("doc_id").cast("string"))).alias(
            "chunk_key"
        ),
        TX.sanitize_key(F.concat(F.lit("a b!c."), F.col("source"))).alias("sanitized_demo"),
    ).orderBy("doc_id")


ORACLE["q_chunk_keys"] = """
SELECT doc_id,
       regexp_replace(concat_ws('_', source, doc_id::VARCHAR), '[^a-zA-Z0-9_\\-=]', '_', 'g') AS chunk_key,
       regexp_replace('a b!c.' || source, '[^a-zA-Z0-9_\\-=]', '_', 'g') AS sanitized_demo
FROM documents
ORDER BY doc_id
"""


# --- A13 (fixed-window variant) + posexplode: oracle-checkable chunking ---

def q_chunk_explode(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-window chunker (size=400, overlap=100 contract) + posexplode
    + per-chunk md5 — the SQL-checkable spine of the chunk pipeline."""
    docs = load_table(spark, sf, "documents")
    chunks = docs.select(
        "doc_id",
        F.posexplode(TX.chunk_fixed(TX.normalize_text("text"), 400, 100)).alias(
            "chunk_id", "content"
        ),
    ).filter(F.trim("content") != "")
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.length("content").cast("bigint").alias("chunk_len"),
        F.md5("content").alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


ORACLE["q_chunk_explode"] = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
w AS (
  SELECT doc_id, t,
         1 + ceil(greatest(length(t) - 400, 0) / 300.0)::INT AS n_chunks
  FROM n
),
c AS (
  SELECT doc_id, i - 1 AS chunk_id, substr(t, (i - 1) * 300 + 1, 400) AS content
  FROM w, range(1, 10000) r(i)
  WHERE i <= n_chunks
)
SELECT doc_id, chunk_id::INT AS chunk_id,
       length(content) AS chunk_len,
       md5(content) AS chunk_hash
FROM c
WHERE trim(content) <> ''
ORDER BY doc_id, chunk_id
"""


# --- B5/B6: count + facet (the reference's get_document_stats) ------------

def q_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


ORACLE["q_doc_stats"] = """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
ORDER BY source
"""


# --- B2/B3/B4/B7: filter + project + sort + limit -------------------------

def q_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.filter((F.col("lang") == "en") & (F.col("n_chars") > 200))
        .select("doc_id", "source", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(25)
    )


ORACLE["q_filter_project"] = """
SELECT doc_id, source, n_chars
FROM documents
WHERE lang = 'en' AND n_chars > 200
ORDER BY n_chars DESC, doc_id
LIMIT 25
"""


# --- B8: full-text boolean match + token-overlap scoring ------------------

def q_fulltext_match(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.filter(F.col("text").like("%spark%") & F.col("text").like("%join%"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_matches"))
        .orderBy("lang")
    )


ORACLE["q_fulltext_match"] = """
SELECT lang, count(*) AS n_matches
FROM documents
WHERE text LIKE '%spark%' AND text LIKE '%join%'
GROUP BY lang
ORDER BY lang
"""


def q_fulltext_score(spark: SparkSession, sf: str) -> DataFrame:
    """Scored full-text: rank docs by how many query terms they contain
    (B8 scoring / B10 rerank approximation)."""
    docs = load_table(spark, sf, "documents")
    terms = ["spark", "join", "fast", "stream"]
    score = sum(
        F.when(F.col("text").like(f"%{t}%"), 1).otherwise(0) for t in terms
    )
    return (
        docs.select("doc_id", score.alias("score"))
        .filter(F.col("score") >= 3)
        .orderBy(F.desc("score"), "doc_id")
    )


ORACLE["q_fulltext_score"] = """
SELECT doc_id,
       (CASE WHEN text LIKE '%spark%'  THEN 1 ELSE 0 END
      + CASE WHEN text LIKE '%join%'   THEN 1 ELSE 0 END
      + CASE WHEN text LIKE '%fast%'   THEN 1 ELSE 0 END
      + CASE WHEN text LIKE '%stream%' THEN 1 ELSE 0 END) AS score
FROM documents
WHERE (CASE WHEN text LIKE '%spark%'  THEN 1 ELSE 0 END
     + CASE WHEN text LIKE '%join%'   THEN 1 ELSE 0 END
     + CASE WHEN text LIKE '%fast%'   THEN 1 ELSE 0 END
     + CASE WHEN text LIKE '%stream%' THEN 1 ELSE 0 END) >= 3
ORDER BY score DESC, doc_id
"""


# --- A18/C13: exact dedup --------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup groups on md5 of the 80-char normalized prefix
    (prefix collision planted to exercise multi-row groups)."""
    docs = load_table(spark, sf, "documents")
    pref_hash = F.md5(F.substring(TX.normalize_text("text"), 1, 80))
    return (
        docs.select("doc_id", pref_hash.alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("prefix_hash")
    )


ORACLE["q_exact_dedup"] = f"""
SELECT md5(substr({_NORM}, 1, 80)) AS prefix_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY prefix_hash
"""


# --- C16: token counting, quality, lang-id, fingerprint -------------------

def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        TS.n_tokens_ws("text").cast("bigint").alias("n_tokens_ws"),
        TS.n_tokens_bpe("text").cast("bigint").alias("n_tokens_bpe"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        TS.punct_count("text").cast("bigint").alias("n_punct"),
    ).orderBy("doc_id")


ORACLE["q_token_stats"] = f"""
SELECT doc_id,
       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens_ws,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens_bpe,
       length(text) AS n_chars_actual,
       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
FROM documents
ORDER BY doc_id
"""


def q_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(
            "doc_id",
            F.round(TS.stopword_ratio("text"), 6).alias("stopword_ratio"),
            F.round(TS.punct_ratio("text"), 6).alias("punct_ratio"),
            TS.quality_score("text").alias("quality"),
        )
        .orderBy("doc_id")
    )


_SW = "('the','a','of','and','to','in','is','for','on','with')"
ORACLE["q_quality_scores"] = f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> lower(x) IN {_SW})) AS n_sw,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       round(CASE WHEN n_tok = 0 THEN 0.0 ELSE n_sw / n_tok::DOUBLE END, 6) AS stopword_ratio,
       round(CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct / n_chars::DOUBLE END, 6) AS punct_ratio,
       round(0.5 * least(n_chars / 1000.0, 1.0)
           + 0.5 * least((CASE WHEN n_tok = 0 THEN 0.0 ELSE n_sw / n_tok::DOUBLE END) * 5.0, 1.0)
           - 0.25 * least((CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct / n_chars::DOUBLE END) * 5.0, 1.0),
             6) AS quality
FROM t
ORDER BY doc_id
"""


def q_lang_facet(spark: SparkSession, sf: str) -> DataFrame:
    """Language facet + average doc length per language (B6 over lang)."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("lang")
    )


ORACLE["q_lang_facet"] = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic vs the labeled ``lang`` column, as a
    confusion matrix (labeled, guessed, n_docs): the oracle exercises
    the full stopword-hit argmax including 'und' fallback and the
    later-language tie-break. `lang_guess` is a pure Column expression —
    one scan, no UDF, pipelines with the corpus-filter pass."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select("lang", TS.lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "guess")
    )


def _lang_id_sql() -> str:
    """DuckDB twin of textstats.lang_guess, generated from the same
    STOPWORDS dict so query and oracle cannot drift."""
    hit_cols = ", ".join(
        "len(list_filter(tk, x -> lower(x) IN ({}))) AS {}".format(
            ", ".join(f"'{w}'" for w in sw), lang
        )
        for lang, sw in TS.STOPWORDS.items()
    )
    langs = list(TS.STOPWORDS)
    best = f"greatest({', '.join(langs)})"
    # later declaration order wins ties (matches the Spark when-chain)
    branches = " ".join(f"WHEN {lang} = {best} THEN '{lang}'" for lang in reversed(langs))
    return f"""
WITH t AS (
  SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents
), h AS (
  SELECT lang, {hit_cols} FROM t
)
SELECT lang,
       CASE WHEN {best} = 0 THEN 'und' {branches} END AS guess,
       count(*) AS n_docs
FROM h
GROUP BY lang, guess
ORDER BY lang, guess
"""


ORACLE["q_lang_id"] = _lang_id_sql()


def q_lang_id_trigram(spark: SparkSession, sf: str) -> DataFrame:
    """Char-trigram profile language ID (r11; C16 upgrade over the
    stopword heuristic — same fit/serve split as DSIR): profiles are
    fit on the labeled corpus, every doc is classified by max trigram
    log-likelihood, and the output is the confusion matrix (labeled,
    guessed, n_docs). On the fixtures this strictly dominates
    q_lang_id's stopword baseline (asserted in test_sampling).

    Fit and serve share ONE materialized doc_trigram_counts frame (the
    corpus-wide explode + (doc, tri) aggregation is by far the
    heaviest stage and Spark does not share subplans across DAG
    branches — without sharing it ran twice). reliable_checkpoint
    since late r18, not persist(): lineage truncation stops AQE
    re-deriving cached-subtree stages per consumer and the blocks are
    GC-scoped (alternating A/B at sf0.1, fresh sessions: persist
    6.40/7.24/6.07s vs checkpoint 5.16/5.91/4.72s — the same result
    as the deep-clean surgery and video share points). ``langs`` is
    passed as the corpus's own label column (r18): the default would
    re-derive the whole profile subtree a second time just to list
    the candidate languages, and the oracle's candidate set IS
    ``SELECT DISTINCT lang FROM documents`` — the label column is the
    exact twin."""
    from data_ingestion_tool_bakasura__spark.operators.sampling import (
        doc_trigram_counts,
        fit_lang_profiles,
        trigram_lang_id,
    )
    from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint

    docs = load_table(spark, sf, "documents")
    dc = reliable_checkpoint(doc_trigram_counts(docs, "text", "doc_id"))
    pred = trigram_lang_id(
        docs, fit_lang_profiles(docs, doc_counts=dc), doc_counts=dc,
        langs=docs.select("lang"),
    )
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "guess")
    )


from data_ingestion_tool_bakasura__spark.operators.sampling import (
    LANG_ID_OOV_LOGP as _PEN,
)

ORACLE["q_lang_id_trigram"] = f"""
WITH d AS (
  SELECT doc_id, lang,
         lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) AS t
  FROM documents
), tg AS (
  SELECT doc_id, lang,
         unnest([substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 0) + 1)]) AS tri
  FROM d
), dt AS (
  SELECT doc_id, tri, count(*) AS n FROM tg GROUP BY doc_id, tri
), dn AS (
  SELECT doc_id, CAST(sum(n) AS DOUBLE) AS nn FROM dt GROUP BY doc_id
), prof AS (
  SELECT lang, tri, count(*) AS c FROM tg GROUP BY lang, tri
), ptot AS (
  SELECT lang, CAST(sum(c) AS DOUBLE) AS pn FROM prof GROUP BY lang
), pl AS (
  SELECT p.lang, p.tri, ln(p.c) - ln(pt.pn) AS logp
  FROM prof p JOIN ptot pt USING (lang)
), adj AS (
  SELECT dt.doc_id, pl.lang, sum(dt.n * (pl.logp - ({_PEN}))) AS a
  FROM dt JOIN pl USING (tri) GROUP BY dt.doc_id, pl.lang
), langs AS (
  SELECT DISTINCT lang FROM d
), sc AS (
  SELECT dn.doc_id, l.lang,
         ({_PEN}) * dn.nn + coalesce(adj.a, 0) AS s
  FROM dn CROSS JOIN langs l
  LEFT JOIN adj ON adj.doc_id = dn.doc_id AND adj.lang = l.lang
), pred AS (
  SELECT doc_id, lang AS guess FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
    FROM sc
  ) WHERE rn = 1
)
SELECT d.lang, coalesce(pred.guess, 'und') AS guess, count(*) AS n_docs
FROM d LEFT JOIN pred USING (doc_id)
GROUP BY d.lang, guess ORDER BY d.lang, guess
"""


def q_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint (md5 of 128-char normalized prefix) +
    distinct-fingerprint count per source."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select("source", TS.fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(F.countDistinct("fp").alias("n_unique_fp"), F.count("*").alias("n_docs"))
        .orderBy("source")
    )


ORACLE["q_fingerprints"] = f"""
SELECT source,
       count(DISTINCT md5(substr({_NORM}, 1, 128))) AS n_unique_fp,
       count(*) AS n_docs
FROM documents
GROUP BY source
ORDER BY source
"""


# --- C16: winnowing fingerprints (rolling-hash local sketch) --------------

def q_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprint sketch per document (operators/dedup.py
    winnow_fingerprints: 3-gram md5 hashes, 4-gram sliding window, keep
    per-window minima — Schleimer et al. SIGMOD'03): sketch size, sum
    and min of the selected 52-bit hashes. The sum/min value-check
    pins the exact selected SET, not just its cardinality."""
    docs = load_table(spark, sf, "documents")
    fps = DD.winnow_fingerprints(docs, "text", "doc_id", shingle_n=3, window=4)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.sum("fp").alias("sum_fp"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


ORACLE["q_winnow_fingerprints"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
         END AS sh
  FROM toks
),
hl AS (
  SELECT doc_id,
         [('0x' || substr(md5(s), 1, 13))::BIGINT FOR s IN sh] AS hl
  FROM sh
),
fp AS (
  SELECT doc_id,
         list_distinct([list_min(hl[i:i+3])
                        FOR i IN range(1, greatest(len(hl) - 4, 0) + 2)]) AS fps
  FROM hl
)
SELECT doc_id,
       len(fps) AS n_fp,
       CAST(list_sum(fps) AS BIGINT) AS sum_fp,
       CAST(list_min(fps) AS BIGINT) AS min_fp
FROM fp
ORDER BY doc_id
"""


# --- C13: sub-document (paragraph) dedup ----------------------------------

#: Cross-doc repeated paragraph planted into every synthesized doc —
#: the C4 boilerplate case (same literal on the oracle side).
_PARA_BOILER = "Subscribe to our newsletter for updates."


def q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4/RefinedWeb-style sub-document dedup (operators/dedup.py
    dedup_paragraphs): canonical-occurrence paragraph dedup + in-order
    reassembly. The fixture's docs are single-paragraph, so the query
    SYNTHESIZES the interesting case (r6 verdict #3): each doc becomes
    three paragraphs — its own text, a boilerplate paragraph repeated
    across EVERY doc, and a whitespace-variant of its own text. The
    operator must then (a) keep the boilerplate only at its canonical
    (lowest doc_id, pos) site, (b) drop the whitespace twin everywhere
    (same normalized form, higher pos), (c) keep original text at its
    canonical doc and drop it at exact-dup docs, and (d) reassemble
    survivors in order — so n_dropped > 0 corpus-wide and the rebuilt
    length pins the reassembled string. Whitespace handling and
    idempotence are additionally pinned by
    test_dedup_paragraphs_canonical_reassembly_and_idempotence."""
    docs = load_table(spark, sf, "documents")
    synth = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.col("text"),
            F.lit(_PARA_BOILER),
            F.concat(F.lit("  "), F.col("text")),
        ).alias("text"),
    )
    out = DD.dedup_paragraphs(synth)
    return out.select(
        "doc_id",
        "n_paras",
        "n_dropped",
        F.length("text").cast("long").alias("n_chars_kept"),
    ).orderBy("doc_id")


ORACLE["q_paragraph_dedup"] = f"""
WITH s AS (
  SELECT doc_id,
         concat_ws(chr(10) || chr(10), text, '{_PARA_BOILER}',
                   '  ' || text) AS synth
  FROM documents
),
p AS (
  SELECT doc_id,
         unnest(string_split(synth, chr(10) || chr(10))) AS para,
         generate_subscripts(string_split(synth, chr(10) || chr(10)), 1) AS pos
  FROM s
),
n AS (
  SELECT doc_id, pos, para,
         trim(regexp_replace(para, '\\s+', ' ', 'g')) AS norm
  FROM p
),
r AS (
  SELECT doc_id, pos, para,
         row_number() OVER (
           PARTITION BY CASE WHEN norm = '' THEN 'E:' || doc_id || ':' || pos
                             ELSE md5(norm) END
           ORDER BY doc_id, pos) AS rn
  FROM n
),
g AS (
  SELECT doc_id,
         count(*) AS n_paras,
         sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_dropped,
         coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                             chr(10) || chr(10) ORDER BY pos), '') AS rebuilt
  FROM r GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(g.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(coalesce(g.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(len(g.rebuilt) AS BIGINT) AS n_chars_kept
FROM documents d LEFT JOIN g USING (doc_id)
ORDER BY doc_id
"""


# --- C13: winnowing overlap candidates (MOSS-style) -----------------------

def q_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-doc overlap candidates from the winnowing sketch
    (operators/dedup.py winnow_candidate_pairs): pairs sharing >= 2
    fingerprints with the shared count — the sketch-join sibling of
    q_jaccard_pairs (joins ~2/(w+1) of the grams, coverage-guaranteed
    for runs >= w + n - 1 tokens)."""
    docs = load_table(spark, sf, "documents")
    return DD.winnow_candidate_pairs(
        docs, "text", "doc_id", shingle_n=3, window=4, min_shared=2
    ).orderBy("id_a", "id_b")


ORACLE["q_winnow_pairs"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
         END AS sh
  FROM toks
),
hl AS (
  SELECT doc_id,
         [('0x' || substr(md5(s), 1, 13))::BIGINT FOR s IN sh] AS hl
  FROM sh
),
fp AS (
  SELECT doc_id, unnest(list_distinct([list_min(hl[i:i+3])
                        FOR i IN range(1, greatest(len(hl) - 4, 0) + 2)])) AS fp
  FROM hl
),
ok AS (
  SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 100
),
kept AS (
  SELECT f.doc_id, f.fp FROM fp f JOIN ok USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY id_a, id_b
"""


# --- C16: term frequency (tokenize + explode + agg) -----------------------

def q_term_frequency(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.explode(TS.tokens_ws("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


ORACLE["q_term_frequency"] = """
SELECT token, count(*) AS freq
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
"""


# --- C13: n-gram Jaccard near-dup (blocked exact) -------------------------

def q_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard over same-source doc pairs with sim >= 0.2.

    Inverted-index self-join blocked by source — the scalable exact
    verifier downstream of MinHash candidate generation."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.jaccard_pairs(
        docs, "text", "doc_id", block_col="source", shingle_n=3, threshold=0.2
    )
    return pairs.orderBy("id_a", "id_b")


ORACLE["q_jaccard_pairs"] = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, source, unnest(list_distinct(
           CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
           END)) AS sh
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / (sa.sz + sb.sz - n_common)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.sz + sb.sz - n_common)::DOUBLE >= 0.2
ORDER BY id_a, id_b
"""


# --- C13: MinHash signatures + LSH candidates -----------------------------

_MH_HASHES = 8
_MH_BANDS = 4


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Numeric MinHash signature (8 hashes) of 3-gram shingles, exposed
    as columns mh0..mh7. One md5 per shingle split into two 52-bit ints
    (h1, h2); hash k = min over shingles of h1 + k*h2 (Kirsch-
    Mitzenmacher) — per-row expressions, no shuffle, one digest
    amortized over all 8 hash functions."""
    docs = load_table(spark, sf, "documents")
    return DD.minhash_signatures(
        docs, "text", "doc_id", num_hashes=_MH_HASHES, shingle_n=3
    ).orderBy("doc_id")


_MH_H1 = "('0x' || substr(md5(s), 1, 13))::BIGINT"
_MH_H2 = "('0x' || substr(md5(s), 14, 13))::BIGINT"


def _mh_sql_exprs() -> str:
    cols = []
    for k in range(_MH_HASHES):
        cols.append(f"list_min([{_MH_H1} + {k} * {_MH_H2} FOR s IN sh]) AS mh{k}")
    return ",\n       ".join(cols)


ORACLE["q_minhash_signatures"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
           CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
           END) AS sh
  FROM toks
)
SELECT doc_id,
       {_mh_sql_exprs()}
FROM sh
ORDER BY doc_id
"""


def q_minhash_lsh_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding (4 bands x 2 rows) over the MinHash signature ->
    distinct candidate pairs; the join is an equi-join on band keys.
    Buckets larger than 100 are dropped (boilerplate-collision cap that
    keeps the self-join linear; mirrored in the oracle)."""
    docs = load_table(spark, sf, "documents")
    return DD.minhash_lsh_candidates(
        docs,
        "text",
        "doc_id",
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_n=3,
        max_bucket_size=100,
    ).orderBy("id_a", "id_b")


def _band_keys_sql() -> str:
    rows = _MH_HASHES // _MH_BANDS
    keys = []
    for b in range(_MH_BANDS):
        parts = " || ',' || ".join(f"mh{b * rows + r}::VARCHAR" for r in range(rows))
        keys.append(f"SELECT doc_id, '{b}:' || {parts} AS bkey FROM sig")
    return "\nUNION ALL\n".join(keys)


ORACLE["q_minhash_lsh_candidates"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
           CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
           END) AS sh
  FROM toks
),
sig AS (
  SELECT doc_id,
       {_mh_sql_exprs()}
  FROM sh
),
keys AS (
{_band_keys_sql()}
),
ok AS (
  SELECT bkey FROM keys GROUP BY bkey HAVING count(*) <= 100
),
kept AS (
  SELECT k.doc_id, k.bkey FROM keys k JOIN ok USING (bkey)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM kept a JOIN kept b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


# --- C13: incremental near-dup (increment vs persisted band index) --------

def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """The daily-increment dedup path: every 5th doc arrives as the
    increment and is probed against the band index of the other 80% —
    corpus text is never re-hashed, only its (id, band-key) index rows
    for buckets the increment hits (operators/dedup.py
    minhash_lsh_increment; parity with a full recompute proven in
    test_dedup_similarity.py). Same hash family / banding / cap as
    q_minhash_lsh_candidates, so the oracle is that query's SQL
    restricted to pairs touching an increment doc."""
    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    # Deliberately lazy (measured r17): the in-plan index simulation is
    # re-derived once per consumer branch inside minhash_lsh_increment
    # (30 text scans in the executed plan), but the branches run in
    # parallel and persisting read SLOWER at sf0.1 on local[32]
    # (min-of-3: index-persisted 6.87s vs lazy 2.64s) — a persist
    # serializes a materialization barrier that parallel re-scans of a
    # fixture-sized text column beat. In production this frame is a
    # parquet-persisted artifact (lsh_band_index docstring) and the
    # fan-out re-reads the narrow parquet, not raw text.
    index = DD.lsh_band_index(
        corpus, "text", "doc_id", num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3
    )
    return DD.minhash_lsh_increment(
        new,
        index,
        "text",
        "doc_id",
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_n=3,
        max_bucket_size=100,
    ).orderBy("id_a", "id_b")


ORACLE["q_incremental_dedup"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
           CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
           END) AS sh
  FROM toks
),
sig AS (
  SELECT doc_id,
       {_mh_sql_exprs()}
  FROM sh
),
keys AS (
{_band_keys_sql()}
),
ok AS (
  SELECT bkey FROM keys GROUP BY bkey HAVING count(*) <= 100
),
kept AS (
  SELECT k.doc_id, k.bkey FROM keys k JOIN ok USING (bkey)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM kept a JOIN kept b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
ORDER BY id_a, id_b
"""


# --- C16: the composed training-data corpus filter ------------------------

def q_corpus_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The realistic pre-training filter stage: language gate + length
    band + punctuation-ratio + stopword-ratio thresholds, reporting
    kept/dropped counts per source. One scan, one aggregation — every
    signal is a built-in expression, so the filter runs at scan speed
    and pushes nothing to Python."""
    docs = load_table(spark, sf, "documents")
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    n_toks = F.size(F.split(norm, " "))
    n_chars = F.length(norm)
    punct = F.length(F.regexp_replace(norm, "[^.,;:!?]", ""))
    keep = (
        (F.col("lang") == "en")
        & (n_toks >= 5)
        & (n_chars >= 30)
        & (n_chars <= 10000)
        & ((punct / F.greatest(n_chars, F.lit(1))) <= 0.1)
    )
    return (
        docs.select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            F.round(F.avg(F.col("keep").cast("double")), 6).alias("keep_rate"),
        )
        .orderBy("source")
    )


ORACLE["q_corpus_filter"] = f"""
WITH scored AS (
  SELECT source,
         (lang = 'en'
          AND len(string_split({_NORM}, ' ')) >= 5
          AND len({_NORM}) BETWEEN 30 AND 10000
          AND len(regexp_replace({_NORM}, '[^.,;:!?]', '', 'g'))::DOUBLE
              / greatest(len({_NORM}), 1) <= 0.1) AS keep
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(keep::INT) AS BIGINT) AS n_kept,
       round(avg(keep::INT::DOUBLE), 6) AS keep_rate
FROM scored
GROUP BY source
ORDER BY source
"""


# --- C12: higher-order array functions showcase ---------------------------

def q_array_ops(spark: SparkSession, sf: str) -> DataFrame:
    """transform / filter / aggregate / slice / array_join over the
    token array — the C12 higher-order surface in one query, all
    JVM-side expressions."""
    docs = load_table(spark, sf, "documents")
    toks = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    long_toks = F.filter(toks, lambda t: F.length(t) > 3)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(long_toks).alias("n_long_tokens"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).alias("total_chars"),
        F.array_join(
            F.transform(F.slice(toks, 1, 3), lambda t: F.upper(t)), "-"
        ).alias("first3_upper"),
    ).orderBy("doc_id")


ORACLE["q_array_ops"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents)
SELECT doc_id,
       len(tk) AS n_tokens,
       len(list_filter(tk, x -> len(x) > 3)) AS n_long_tokens,
       list_sum(list_transform(tk, x -> len(x)))::INT AS total_chars,
       array_to_string(list_transform(tk[1:3], x -> upper(x)), '-') AS first3_upper
FROM t
ORDER BY doc_id
"""


# --- C16/B10: TF-IDF scoring + rerank -------------------------------------

_TFIDF_TERMS = ("data", "hash", "scan")


def q_tfidf_topdocs(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF relevance for a fixed query-term set, top 20 docs.

    ONE tokenize+explode pass over the text: per-(doc,term) counts give
    TF, and the per-term document frequency is a window count over that
    same tiny tf table (partitionBy term) — NOT a second corpus scan and
    NOT a self-join on a recomputed subtree. The corpus size N is a lazy
    1-row broadcast scalar whose count aggregate prunes to zero columns
    (parquet footer metadata, no text bytes). Final ordering is
    TakeOrderedAndProject. This is the scored-search/rerank stage (B10)
    as plain relational algebra, one text scan total."""
    docs = load_table(spark, sf, "documents")
    n = docs.groupBy().agg(F.count("*").cast("double").alias("n_docs"))
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")).alias("tk"),
    ).filter(F.col("tk").isin(*_TFIDF_TERMS))
    tf = toks.groupBy("doc_id", "tk").agg(F.count("*").alias("tf"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("tk")))
        .join(F.broadcast(n))
        .withColumn("w", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("tfidf"))
    )
    return scored.orderBy(F.desc("tfidf"), "doc_id").limit(20)


ORACLE["q_tfidf_topdocs"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tk FROM documents
),
tf AS (
  SELECT doc_id, tk, count(*) AS tf FROM toks
  WHERE tk IN ('data', 'hash', 'scan') GROUP BY doc_id, tk
),
df_t AS (
  SELECT tk, count(DISTINCT doc_id) AS df FROM toks
  WHERE tk IN ('data', 'hash', 'scan') GROUP BY tk
)
SELECT tf.doc_id,
       round(sum(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df_t.df)), 6) AS tfidf
FROM tf JOIN df_t USING (tk)
GROUP BY tf.doc_id
ORDER BY tfidf DESC, doc_id
LIMIT 20
"""


# --- C13: SimHash (64-bit, exposed as 4x16-bit bands) ---------------------

def q_simhash_bands(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash of the token set as 4 x 16-bit band keys (the exact keys
    simhash_candidates buckets on). Aggregation fast path: one md5 per
    token + 64 map-side partial bit sums (the exchange is O(docs)); the
    oracle recomputes every bit vote in SQL, so the full 64-bit
    signature is value-checked."""
    docs = load_table(spark, sf, "documents")
    out = DD.simhash64_agg(docs, "text", "doc_id", out="sig").withColumnRenamed(
        "_id", "doc_id"
    )
    return out.selectExpr(
        "doc_id",
        *[f"cast(shiftrightunsigned(sig, {16 * b}) & 65535 as int) as band{b}" for b in range(4)],
    ).orderBy("doc_id")


def _simhash_vote_sql(bit: int) -> str:
    nib = f"('0x' || substr(md5(t), {bit // 4 + 1}, 1))::INT"
    return (
        f"list_sum([CASE WHEN (({nib} >> {3 - bit % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END FOR t IN toks])"
    )


def _simhash_band_sql(b: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_simhash_vote_sql(16 * b + i)} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(16)
    )
    return f"({bits})::INT AS band{b}"


ORACLE["q_simhash_bands"] = f"""
WITH toked AS (
  SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
)
SELECT doc_id,
       {", ".join(_simhash_band_sql(b) for b in range(4))}
FROM toked
ORDER BY doc_id
"""


# --- C13: duplicate clusters (connected components over LSH pairs) --------

def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash candidate pairs -> connected components -> (doc_id,
    cluster_id). Partition-local union-find + contraction on Spark; the oracle
    recomputes the SAME components with a recursive CTE (transitive
    closure), so the iterative algorithm is value-checked end-to-end."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.minhash_lsh_candidates(
        docs, "text", "doc_id",
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=3, max_bucket_size=100,
    )
    return DD.dedup_clusters(pairs).orderBy("doc_id")


ORACLE["q_dedup_clusters"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
           CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
           END) AS sh
  FROM toks
),
sig AS (
  SELECT doc_id,
       {_mh_sql_exprs()}
  FROM sh
),
keys AS (
{_band_keys_sql()}
),
ok AS (
  SELECT bkey FROM keys GROUP BY bkey HAVING count(*) <= 100
),
kept AS (
  SELECT k.doc_id, k.bkey FROM keys k JOIN ok USING (bkey)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk AS (
  WITH RECURSIVE w(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT w.src, e.dst FROM w JOIN edges e ON w.dst = e.src
  )
  SELECT * FROM w
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM walk
GROUP BY src
ORDER BY doc_id
"""


# --- B11/A19: key-addressed upsert ----------------------------------------

def q_upsert_by_key(spark: SparkSession, sf: str) -> DataFrame:
    """Merge semantics of the reference's key-addressed re-upload
    (``db_utils.py:54,169``): updates overwrite same-key rows, new keys
    insert, untouched rows survive — one broadcast anti-join + union."""
    from data_ingestion_tool_bakasura__spark.operators.upsert import upsert_by_key

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    updates = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.lit("updated:"), F.col("doc_id").cast("string")).alias("text"),
        F.lit("upd").alias("source"),
    ).unionByName(
        spark.createDataFrame([(1000000, "brand new", "upd")], "doc_id long, text string, source string")
    )
    merged = upsert_by_key(docs, updates, key="doc_id")
    return merged.select("doc_id", F.md5("text").alias("text_hash"), "source").orderBy("doc_id")


ORACLE["q_upsert_by_key"] = """
WITH updates AS (
  SELECT doc_id, 'updated:' || doc_id::VARCHAR AS text, 'upd' AS source
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 1000000, 'brand new', 'upd'
)
SELECT doc_id, md5(text) AS text_hash, source FROM updates
UNION ALL
SELECT d.doc_id, md5(d.text), d.source FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM updates)
ORDER BY doc_id
"""


# --- B8/B10: Okapi BM25 + hybrid RRF fusion -------------------------------

_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_topdocs(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) for the fixed query-term set, top 20.

    Delegates to the reusable :func:`~..functions.ranking.bm25_topk`
    (extracted round 8 so IndexClient.search_text shares the exact
    scorer): one-explode discipline with the doc length carried
    THROUGH the explode, so tf, df and dl all come from one text scan;
    N and avgdl are a 1-row broadcast; df is a window count over the
    tiny (doc, term) table. ``lowercase=False`` keeps the original
    case-sensitive oracle semantics."""
    from data_ingestion_tool_bakasura__spark.functions.ranking import bm25_topk

    docs = load_table(spark, sf, "documents")
    return bm25_topk(docs, _TFIDF_TERMS, k=20, lowercase=False)


_BM25_SQL = f"""
WITH stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(len({_TOKS}))::DOUBLE AS avgdl FROM documents
),
toks AS (
  SELECT doc_id, len({_TOKS}) AS dl, unnest({_TOKS}) AS tk FROM documents
),
tf AS (
  SELECT doc_id, tk, count(*) AS tf, first(dl) AS dl FROM toks
  WHERE tk IN ('data', 'hash', 'scan') GROUP BY doc_id, tk
),
df_t AS (
  SELECT tk, count(*) AS df FROM tf GROUP BY tk
)
SELECT tf.doc_id,
       round(sum(ln(1.0 + (stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * tf.dl / stats.avgdl))), 6)
           AS bm25
FROM tf JOIN df_t USING (tk) CROSS JOIN stats
GROUP BY tf.doc_id
"""

ORACLE["q_bm25_topdocs"] = f"""
{_BM25_SQL}
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def q_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with exact-cosine
    vector ranking (query = embedding of vec_id 0; embeddings align
    1:1 with doc_id) by Reciprocal Rank Fusion, k=60 — the semantic
    rerank stage (B10, ``db_utils.py:112-118``) as relational algebra.

    Scale shape: each leg is cut to its top-100 FIRST via orderBy+limit
    (TakeOrderedAndProject — distributed partial top-k), so the
    rank-assignment window runs over <=100 rows per leg (bounded by the
    cut, not the corpus) and the fusion join is a tiny full-outer.
    Delegates the BM25 leg and the RRF fuse to ``functions.ranking``
    (extracted round 8; IndexClient.search_hybrid shares them)."""
    from data_ingestion_tool_bakasura__spark.functions.ranking import (
        bm25_topk,
        rrf_fuse,
    )
    from data_ingestion_tool_bakasura__spark.functions.vector import cosine_similarity

    # lexical leg: same one-scan BM25 plan as q_bm25_topdocs, cut to 100
    docs = load_table(spark, sf, "documents")
    bm = bm25_topk(docs, _TFIDF_TERMS, k=100, lowercase=False)
    # rank over the bounded top-100 (not the corpus)
    bm_ranked = bm.withColumn(
        "r_bm",
        F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id")),
    ).select("doc_id", "r_bm")

    emb = load_table(spark, sf, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qvec"))
    )
    vec = (
        emb.crossJoin(qv)
        .filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity("embedding", "_qvec"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id")
        .limit(100)
    )
    vec_ranked = vec.withColumn(
        "r_vec",
        F.row_number().over(Window.orderBy(F.desc("cos_sim"), "doc_id")),
    ).select("doc_id", "r_vec")

    return rrf_fuse(
        bm_ranked, vec_ranked, "doc_id", rank_a="r_bm", rank_b="r_vec",
        k=60, topn=10,
    ).select("doc_id", "rrf")


ORACLE["q_hybrid_rrf"] = f"""
WITH bm_scored AS (
{_BM25_SQL}
),
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm
  FROM bm_scored ORDER BY bm25 DESC, doc_id LIMIT 100
),
vec AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r_vec
  FROM (
    SELECT e.vec_id AS doc_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
  ) ORDER BY cos_sim DESC, doc_id LIMIT 100
)
SELECT COALESCE(bm.doc_id, vec.doc_id) AS doc_id,
       round(COALESCE(1.0 / (60 + r_bm), 0) + COALESCE(1.0 / (60 + r_vec), 0), 6) AS rrf
FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


def q_semantic_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic second-stage rerank (B10's missing depth, r9): BM25
    retrieves the top-20 candidates, then the cross-encoder SEAM
    (:func:`~..functions.ranking.cross_rerank`, reference shape
    ``SemanticConfiguration`` db_utils.py:112-118) rescores ONLY those
    20 with the deterministic default scorer (query-term coverage +
    in-order bigram continuity) and returns the top-10 by rerank
    score. The stage-2 scorer is one Arrow pandas UDF over the
    bounded candidate list — O(candidates), never O(corpus) — which
    is the cost model that lets a real cross-encoder replace the
    default scorer at scale. Every score is re-derived in the DuckDB
    oracle, so the seam's default path is driver-value-checked."""
    from data_ingestion_tool_bakasura__spark.functions.ranking import (
        bm25_topk,
        cross_rerank,
    )

    docs = load_table(spark, sf, "documents")
    cands = bm25_topk(docs, _TFIDF_TERMS, k=20, lowercase=False).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    return cross_rerank(
        cands, " ".join(_TFIDF_TERMS), id_col="doc_id", text_col="text", k=10
    ).select("doc_id", "bm25", "rerank")


ORACLE["q_semantic_rerank"] = f"""
WITH bm_scored AS (
{_BM25_SQL}
),
cand AS (
  SELECT doc_id, bm25 FROM bm_scored ORDER BY bm25 DESC, doc_id LIMIT 20
),
scored AS (
  SELECT c.doc_id, c.bm25,
         regexp_split_to_array(trim(lower(d.text)), '\\s+') AS toks,
         array_to_string(regexp_split_to_array(trim(lower(d.text)), '\\s+'), ' ') AS joined
  FROM cand c JOIN documents d USING (doc_id)
)
SELECT doc_id, bm25,
       round(0.7 * ((list_contains(toks, 'data')::INT
                   + list_contains(toks, 'hash')::INT
                   + list_contains(toks, 'scan')::INT) / 3.0)
           + 0.3 * ((CASE WHEN position('data hash' IN joined) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position('hash scan' IN joined) > 0 THEN 1 ELSE 0 END) / 2.0),
             6) AS rerank
FROM scored
ORDER BY rerank DESC, doc_id
LIMIT 10
"""


# --- C16: intra-document repetition filter (Gopher-style) -----------------

def q_repetition_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document repetition signals used by training-corpus quality
    gates (Gopher/MassiveText-style 'repetition removal'): the fraction
    of occurrences claimed by the single most frequent word, and the
    duplicate-trigram fraction (1 - distinct/total trigrams). Trigrams
    come from the same window-lead pattern as the MinHash shingles
    (operators/dedup.py minhash_signatures) — one explode, two
    lead columns, no array materialization. The tokenized frame feeds
    two aggregations (word counts, trigram counts); Spark re-derives the
    cheap split lineage for each branch — at corpus scale you'd
    checkpoint the token frame exactly like token_budget_select
    checkpoints its scored projection. Thresholds (0.12 / 0.01) sit at
    ~p80 of the fixture distribution so both keep and drop are
    exercised."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", TX.normalize_text("text").alias("t"))
    words = docs.select(
        "doc_id", F.posexplode(F.split("t", " ")).alias("pos", "w"))

    wl = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        words.withColumn("w1", F.lead("w", 1).over(wl))
        .withColumn("w2", F.lead("w", 2).over(wl))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2").alias("tri"))
    )
    tri_stats = (
        tri.groupBy("doc_id", "tri").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tri"), F.count("*").alias("n_tri_distinct"))
    )
    w_stats = (
        words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_words"), F.max("c").alias("top_word_count"))
    )
    topf = F.col("top_word_count") / F.col("n_words")
    dupf = F.coalesce(
        F.lit(1.0) - F.col("n_tri_distinct") / F.col("n_tri"), F.lit(0.0))
    return (
        w_stats.join(tri_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.round(topf, 6).alias("top_word_frac"),
            F.round(dupf, 6).alias("dup_trigram_frac"),
            ((topf <= 0.12) & (dupf <= 0.01)).alias("keep"),
        )
        .orderBy("doc_id")
    )


ORACLE["q_repetition_filter"] = f"""
WITH idx AS (
  SELECT doc_id, {_TOKS} AS ws, len({_TOKS}) AS n FROM documents
), words AS (
  SELECT doc_id, ws[i] AS w FROM idx
  CROSS JOIN (SELECT unnest(generate_series(1, (SELECT max(n) FROM idx))) AS i) g
  WHERE i <= n
), tri AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tri FROM idx
  CROSS JOIN (SELECT unnest(generate_series(1, (SELECT max(n) FROM idx))) AS i) g
  WHERE i + 2 <= n
), w_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, max(c) AS top_word_count
  FROM (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w)
  GROUP BY doc_id
), t_stats AS (
  SELECT doc_id, sum(c) AS n_tri, count(*) AS n_tri_distinct
  FROM (SELECT doc_id, tri, count(*) AS c FROM tri GROUP BY doc_id, tri)
  GROUP BY doc_id
)
SELECT w.doc_id, n_words,
       round(top_word_count / n_words::DOUBLE, 6) AS top_word_frac,
       round(COALESCE(1 - n_tri_distinct / n_tri::DOUBLE, 0.0), 6) AS dup_trigram_frac,
       (top_word_count / n_words::DOUBLE <= 0.12
        AND COALESCE(1 - n_tri_distinct / n_tri::DOUBLE, 0.0) <= 0.01) AS keep
FROM w_stats w LEFT JOIN t_stats t USING (doc_id)
ORDER BY doc_id
"""


# --- full ingest composition, oracle-able twin ----------------------------

def q_ingest_pipeline_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """The whole EP1 ingest pipeline, value-checked end to end: normalize
    (A12) -> fixed-window chunk (A13 contract) -> md5 (A14) -> dedup
    keep-first (A18) -> key synthesis (A15/A16) -> epoch->UTC timestamp
    (A22) -> JSON metadata (A23) -> per-file accounting (A20), with the
    embedding (A17) reduced to its SQL-checkable invariants: dimension
    and unit L2 norm of the hash-embedding (the vector VALUES are only
    reachable by running md5 expansion; the recursive-chunker twin
    ``q_ingest_pipeline`` covers them rows-only + golden tests).

    Reference semantics: per-chunk loop at ``main.py:290-346``,
    accounting ``main.py:232-238,352-358``, epoch conversion
    ``db_utils.py:160-163`` (UTC done right, not the local-time bug).
    """
    from data_ingestion_tool_bakasura__spark.operators.ingest import (
        IngestConfig,
        ingest_accounting,
        ingest_documents,
    )

    docs = load_table(spark, sf, "documents")
    rows = ingest_documents(
        docs,
        cfg=IngestConfig(embedding_dim=16, use_recursive_chunker=False),
        ingest_ts=F.timestamp_seconds(F.lit(1_700_000_000)),
    )
    acct = ingest_accounting(rows)
    return (
        rows.withColumn("emb_dim", F.size("content_vector"))
        .withColumn(
            "emb_norm",
            F.round(
                F.sqrt(F.aggregate("content_vector", F.lit(0.0), lambda a, x: a + x * x)),
                4,
            ),
        )
        .drop("content_vector")
        .join(acct, on="filename")
        .orderBy("id")
    )


ORACLE["q_ingest_pipeline_fixed"] = f"""
WITH n AS (
  SELECT doc_id, 'doc_' || doc_id::VARCHAR AS filename, {_NORM} AS t
  FROM documents
),
w AS (
  SELECT doc_id, filename, t,
         1 + ceil(greatest(length(t) - 400, 0) / 300.0)::INT AS n_win
  FROM n
),
c AS (
  SELECT doc_id, filename, i - 1 AS chunk_id,
         substr(t, (i - 1) * 300 + 1, 400) AS content
  FROM w, range(1, 10000) r(i)
  WHERE i <= n_win
),
h AS (
  SELECT doc_id, filename, chunk_id, content, md5(content) AS text_hash
  FROM c WHERE trim(content) <> ''
),
d AS (
  SELECT *, row_number() OVER (
    PARTITION BY text_hash ORDER BY doc_id, filename, chunk_id) AS rn
  FROM h
),
k AS (SELECT filename, chunk_id, content, text_hash FROM d WHERE rn = 1),
rows_ AS (
  SELECT regexp_replace(filename || '_' || chunk_id::VARCHAR,
                        '[^a-zA-Z0-9_\\-=]', '_', 'g') AS id,
         content, filename, chunk_id::INT AS chunk_id, text_hash,
         TIMESTAMP '2023-11-14 22:13:20' AS timestamp,
         'text' AS file_type,
         0 AS page_number,
         '{{"filename":"' || filename || '","chunk_id":' || chunk_id::VARCHAR
           || ',"timestamp":"2023-11-14T22:13:20.000Z","text_hash":"'
           || text_hash || '","page_number":0}}' AS metadata,
         16 AS emb_dim,
         1.0 AS emb_norm
  FROM k
),
acct AS (
  SELECT filename, count(*) AS n_chunks, 0 AS n_errors
  FROM k GROUP BY filename
)
SELECT r.*, a.n_chunks, a.n_errors
FROM rows_ r JOIN acct a USING (filename)
ORDER BY id
"""




def q_corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card accounting in ONE scan + one 1-row aggregation —
    the report a corpus pipeline publishes after every run: volume
    (docs/tokens/chars), integrity (NULL-text count), exact-dup rate
    via countDistinct(md5(text)), diversity (langs/sources) and mean
    heuristic quality. The three distinct-aggregates share a single
    aggregation (Catalyst's Expand, 3 rows per input — still one scan,
    one exchange of partial maps); every column is re-derived in the
    DuckDB oracle to 6 decimals."""
    docs = load_table(spark, sf, "documents")
    return TS.corpus_report(docs)


ORACLE["q_corpus_report"] = f"""
WITH t AS (
  SELECT text, lang, source,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
         len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                         x -> lower(x) IN {_SW})) AS n_sw,
         length(regexp_replace(coalesce(text, ''), '[^.,;:!?]', '', 'g')) AS n_punct,
         length(coalesce(text, '')) AS nc
  FROM documents
), agg AS (
  SELECT count(*) AS n_docs,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(nc) AS BIGINT) AS n_chars,
         count(DISTINCT md5(coalesce(text, ''))) AS n_distinct_texts,
         count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources,
         round(avg(round(0.5 * least(nc / 1000.0, 1.0)
             + 0.5 * least((CASE WHEN n_tok = 0 THEN 0.0 ELSE n_sw / n_tok::DOUBLE END) * 5.0, 1.0)
             - 0.25 * least((CASE WHEN nc = 0 THEN 0.0 ELSE n_punct / nc::DOUBLE END) * 5.0, 1.0), 6)), 6)
           AS avg_quality
  FROM t
)
SELECT n_docs, n_null_text, n_tokens, n_chars, n_distinct_texts,
       n_langs, n_sources, avg_quality,
       round(1 - n_distinct_texts / n_docs::DOUBLE, 6) AS dup_rate
FROM agg
"""


QUERIES = {
    name: fn
    for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
}

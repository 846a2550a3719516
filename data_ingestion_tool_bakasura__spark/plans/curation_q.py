"""Corpus-curation queries (C16 training-pipeline extensions): hash
splits, stratified sampling, token-budget selection, contamination.

All membership decisions are md5-hash buckets (operators/sampling.py) —
reproducible across engines, so every query here has an exact DuckDB
oracle (bucket parity: ``conv(substr(md5(s),1,13),16,10)`` ==
``('0x' || substr(md5(s),1,13))::BIGINT``, 52 bits, overflow-free).

The reference has no sampling surface (nothing to cite); these follow
the mandated LLM-corpus extension list in BASELINE.json / the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.functions import textstats as TS
from data_ingestion_tool_bakasura__spark.operators import sampling as SP
from data_ingestion_tool_bakasura__spark.sources.readers import load_table

ORACLE: dict[str, str] = {}

#: DuckDB twin of sampling.hash_bucket
def _bucket_sql(salt: str) -> str:
    return (
        f"('0x' || substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT"
        f" % {SP.N_BUCKETS}"
    )


# --- deterministic train/val/test split -----------------------------------

def q_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """90/5/5 split assignment, aggregated per (split, lang) so the
    oracle checks both the thresholds and the assignment function."""
    docs = load_table(spark, sf, "documents")
    split = SP.hash_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return (
        split.groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("split", "lang")
    )


ORACLE["q_hash_split"] = f"""
WITH b AS (
  SELECT lang, n_chars, {_bucket_sql('split')} AS bucket FROM documents
)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1, 2 ORDER BY split, lang
"""


# --- stratified (per-language) subsampling --------------------------------

_RATES = {"en": 1.0, "de": 0.5, "fr": 0.25}
_DEFAULT_RATE = 0.1


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus mixing: keep all English, half German, a quarter French,
    10% of everything else — one CASE threshold, membership by id hash."""
    docs = load_table(spark, sf, "documents")
    return (
        SP.stratified_hash_sample(docs, "doc_id", "lang", _RATES, _DEFAULT_RATE)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


ORACLE["q_stratified_sample"] = f"""
SELECT doc_id, lang, source
FROM (SELECT doc_id, lang, source, {_bucket_sql('sample')} AS bucket FROM documents)
WHERE bucket < CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
                         WHEN 'fr' THEN 2500 ELSE 1000 END
ORDER BY doc_id
"""


# --- token-budget curation ------------------------------------------------

_BUDGET = 20_000


def q_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Highest-quality documents whose cumulative whitespace-token count
    fits a 20k training budget (C4/Gopher-style curation cut)."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        TS.quality_score("text").alias("quality"),
        TS.n_tokens_ws("text").cast("bigint").alias("n_tokens"),
    )
    return (
        SP.token_budget_select(docs, "quality", "n_tokens", _BUDGET, "doc_id")
        .orderBy(F.desc("quality"), "doc_id")
    )


_SW = "('the','a','of','and','to','in','is','for','on','with')"

ORACLE["q_token_budget"] = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> lower(x) IN {_SW})) AS n_sw,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), s AS (
  SELECT doc_id, n_tok AS n_tokens,
         round(0.5 * least(n_chars / 1000.0, 1.0)
             + 0.5 * least((CASE WHEN n_tok = 0 THEN 0.0 ELSE n_sw / n_tok::DOUBLE END) * 5.0, 1.0)
             - 0.25 * least((CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct / n_chars::DOUBLE END) * 5.0, 1.0),
               6) AS quality
  FROM t
)
SELECT doc_id, quality, n_tokens
FROM (
  SELECT *, sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM s
)
WHERE cum <= {_BUDGET}
ORDER BY quality DESC, doc_id
"""


# --- benchmark contamination ----------------------------------------------

_PROBE_CUT = 9_800  # top 2% of 'bench' buckets form the held-out probe set
_NGRAM = 8


def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination scan: corpus documents sharing any word 8-gram
    with the (hash-held-out) benchmark probe set, with overlap sizes.
    The probe side is broadcast; the corpus side never shuffles before
    the per-doc aggregation."""
    docs = load_table(spark, sf, "documents")
    bucket = SP.hash_bucket("doc_id", "bench")
    corpus = docs.filter(bucket < _PROBE_CUT)
    probe = docs.filter(bucket >= _PROBE_CUT)
    return (
        SP.ngram_overlap(corpus, probe, "text", "doc_id", n=_NGRAM)
        .orderBy("doc_id")
    )


_NORM = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

ORACLE["q_contamination"] = f"""
WITH b AS (
  SELECT doc_id, {_bucket_sql('bench')} AS bucket, {_TOKS} AS tk FROM documents
), g AS (
  SELECT doc_id, bucket,
         unnest(list_distinct(
           CASE WHEN len(tk) < {_NGRAM} THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+{_NGRAM - 1}], ' ')
                      FOR i IN range(1, len(tk) - {_NGRAM - 2})]
           END)) AS gram
  FROM b
)
SELECT c.doc_id AS doc_id,
       count(DISTINCT c.gram) AS n_shared_grams,
       count(DISTINCT p.doc_id) AS n_probe_docs
FROM (SELECT * FROM g WHERE bucket < {_PROBE_CUT}) c
JOIN (SELECT * FROM g WHERE bucket >= {_PROBE_CUT}) p ON c.gram = p.gram
GROUP BY c.doc_id
ORDER BY doc_id
"""


# --- cross-document repeated spans (substring-level dedup signal) ---------

_SPAN_N = 20


def q_repeated_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level duplication signal (the Lee et al. train-dedup
    shape at word granularity): word 20-grams occurring in MORE THAN ONE
    document, reported per source as (n_docs_with_repeats,
    n_repeated_grams). The gram table is (xxhash64(gram), doc_id) — an
    8-byte shuffle key regardless of span length (vs ~120 B raw grams
    or 32 B md5 hex), and xxhash64 is the cheap non-crypto JVM hash;
    the two aggregations (per-gram doc count, then per-source rollup)
    are the only exchanges. The hash never reaches the output — only
    DISTINCT COUNTS do — so the oracle counts raw gram strings and the
    results agree unless xxhash64 collides on this corpus (~1e-8 at 1M
    grams, deterministic, value-checked per round by the driver gate).
    Whole-doc dedup misses these partial overlaps; this is the scan
    that catches boilerplate and quotation reuse."""
    from pyspark.sql import Window

    from data_ingestion_tool_bakasura__spark.functions.text import normalize_text

    # NULL-text docs emit NO grams on either side: the oracle's
    # string_split(NULL) unnests to zero rows, while Spark's short_g
    # would otherwise see size(split(NULL)) = -1 < N and hand every
    # NULL-text doc the constant xxhash64(NULL) "gram" (ADVICE r7).
    docs = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    # gram construction via window lead() over exploded tokens, not the
    # word_ngrams array transform: flat row expressions stay inside
    # whole-stage codegen while nested higher-order array builds do not
    # (same finding as minhash_signatures' shingle path; measured 3.9s
    # -> 1.3s at sf0.1). Short docs contribute their whole token run,
    # matching word_ngrams / the oracle; occurrence duplicates within a
    # doc collapse via dropDuplicates so the per-gh window count stays
    # the DISTINCT doc count.
    norm = normalize_text("text")
    tok = docs.select(
        "doc_id", "source", F.posexplode(F.split(norm, " ")).alias("_pos", "_tk")
    )
    w = Window.partitionBy("doc_id").orderBy("_pos")
    leads = [F.lead("_tk", i).over(w) for i in range(1, _SPAN_N)]
    long_g = (
        tok.select(
            "doc_id",
            "source",
            F.concat_ws(" ", F.col("_tk"), *leads).alias("_g"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "source", F.xxhash64("_g").alias("gh"))
    )
    short_g = docs.select(
        "doc_id", "source", norm.alias("_g"), F.size(F.split(norm, " ")).alias("_n")
    ).filter(F.col("_n") < _SPAN_N).select(
        "doc_id", "source", F.xxhash64("_g").alias("gh")
    )
    grams = long_g.unionByName(short_g).dropDuplicates(["doc_id", "source", "gh"])
    nd = F.count("*").over(Window.partitionBy("gh"))
    return (
        grams.withColumn("nd", nd)
        .filter(F.col("nd") > 1)
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_with_repeats"),
            F.countDistinct("gh").alias("n_repeated_grams"),
        )
        .orderBy("source")
    )


ORACLE["q_repeated_spans"] = f"""
WITH g AS (
  SELECT doc_id, source,
         unnest(list_distinct(
           CASE WHEN len(tk) < {_SPAN_N} THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+{_SPAN_N - 1}], ' ')
                      FOR i IN range(1, len(tk) - {_SPAN_N - 2})]
           END)) AS gh
  FROM (SELECT doc_id, source,
               string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
        FROM documents)
), dup AS (
  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh)
  WHERE nd > 1
)
SELECT source,
       count(DISTINCT doc_id) AS n_docs_with_repeats,
       count(DISTINCT gh) AS n_repeated_grams
FROM g JOIN dup USING (gh)
GROUP BY source
ORDER BY source
"""


# --- the composed curation pipeline ---------------------------------------

def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end corpus curation pass, one lazy plan: quality
    filter (en + length band + punct ratio, scan-speed expressions) →
    exact dedup on md5(normalized text) (keep lowest doc_id; one
    hash aggregation) → drop benchmark members and any doc sharing a
    word 8-gram with them (broadcast probe, anti-join) → deterministic
    90/5/5 hash split → per-(split, source) accounting. This is the
    shape a production pre-training run executes nightly; every stage
    is a relational op Catalyst can reorder/push, and the only wide
    exchanges are the dedup aggregation and the final accounting.

    Scale note: the deduped-corpus subtree feeds both the gram explode
    and the kept-rows anti-join, and DataFrame branches share no
    subtrees — at fixture scale recomputing it is cheaper than a cache,
    but a 100 TB run materializes the deduped corpus to parquet between
    stages (as production pipelines do anyway for restartability) so
    the dedup window runs once."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    n_chars = F.length(norm)
    punct = F.length(F.regexp_replace(norm, "[^.,;:!?]", ""))
    keep = (
        (F.col("lang") == "en")
        & (F.size(F.split(norm, " ")) >= 5)
        & (n_chars >= 30)
        & (n_chars <= 10000)
        & ((punct / F.greatest(n_chars, F.lit(1))) <= 0.1)
    )
    filtered = docs.filter(keep).withColumn("norm", norm)

    w = Window.partitionBy(F.md5("norm")).orderBy("doc_id")
    deduped = filtered.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    bench_bucket = SP.hash_bucket("doc_id", "bench")
    corpus = deduped.filter(bench_bucket < _PROBE_CUT)
    probe = docs.filter(SP.hash_bucket("doc_id", "bench") >= _PROBE_CUT)
    contaminated = SP.ngram_overlap(corpus, probe, "text", "doc_id", n=_NGRAM).select("doc_id")
    clean = corpus.join(F.broadcast(contaminated), "doc_id", "left_anti")

    split = SP.hash_split(clean, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return (
        split.groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("norm", " ")).cast("bigint")).alias("sum_tokens"),
        )
        .orderBy("split", "source")
    )


_PIPE_NORM = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"

ORACLE["q_curation_pipeline"] = f"""
WITH filtered AS (
  SELECT doc_id, source, {_PIPE_NORM} AS norm, text
  FROM documents
  WHERE lang = 'en'
    AND len(string_split({_PIPE_NORM}, ' ')) >= 5
    AND len({_PIPE_NORM}) BETWEEN 30 AND 10000
    AND len(regexp_replace({_PIPE_NORM}, '[^.,;:!?]', '', 'g'))::DOUBLE
        / greatest(len({_PIPE_NORM}), 1) <= 0.1
), deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
    FROM filtered
  ) WHERE rn = 1
), corpus AS (
  SELECT * FROM deduped WHERE {_bucket_sql('bench')} < {_PROBE_CUT}
), probe_grams AS (
  SELECT DISTINCT unnest(list_distinct(
           CASE WHEN len(tk) < {_NGRAM} THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+{_NGRAM - 1}], ' ')
                      FOR i IN range(1, len(tk) - {_NGRAM - 2})]
           END)) AS gram
  FROM (SELECT string_split({_PIPE_NORM}, ' ') AS tk
        FROM documents WHERE {_bucket_sql('bench')} >= {_PROBE_CUT})
), corpus_grams AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(tk) < {_NGRAM} THEN [array_to_string(tk, ' ')]
                ELSE [array_to_string(tk[i:i+{_NGRAM - 1}], ' ')
                      FOR i IN range(1, len(tk) - {_NGRAM - 2})]
           END)) AS gram
  FROM (SELECT doc_id, string_split(norm, ' ') AS tk FROM corpus)
), contaminated AS (
  SELECT DISTINCT c.doc_id FROM corpus_grams c JOIN probe_grams p ON c.gram = p.gram
), clean AS (
  SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT CASE WHEN {_bucket_sql('split')} < 9000 THEN 'train'
            WHEN {_bucket_sql('split')} < 9500 THEN 'val'
            ELSE 'test' END AS split,
       source,
       count(*) AS n_docs,
       sum(len(string_split(norm, ' ')))::BIGINT AS sum_tokens
FROM clean
GROUP BY 1, 2
ORDER BY split, source
"""


# --- C19: corpus mixing to target token shares (water-filling) ------------

_MIX_SHARES = {"src0": 0.2, "src1": 0.4, "src2": 0.4}


def q_source_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Rebalance three sources to target char-weight shares, fully lazy
    (the collect-free twin of operators/sampling.mixture_rates): the
    water-filling scale is a whole-frame window min over the PER-SOURCE
    aggregate (3 rows — the documented bounded-cardinality pattern),
    each source's keep-rate becomes a hash-bucket threshold, and
    membership is the same md5 bucket as every sampling op — so the
    whole mixture is one deterministic plan DuckDB can replay."""
    docs = (
        load_table(spark, sf, "documents")
        .filter(F.col("source").isin(*_MIX_SHARES))
        .select("doc_id", "source", "n_chars")
    )
    share = F.when(F.col("source") == "src0", F.lit(0.2)).when(
        F.col("source") == "src1", F.lit(0.4)
    ).otherwise(F.lit(0.4))
    tot = (
        docs.groupBy("source")
        .agg(F.sum("n_chars").cast("double").alias("tok"))
        .withColumn("share", share)
    )
    from pyspark.sql import Window

    # whole-frame window over 3 aggregated rows (cardinality = |sources|)
    sc = tot.withColumn("scale", F.min(F.col("tok") / F.col("share")).over(Window.partitionBy()))
    rates = sc.select(
        "source",
        F.round(F.least(F.lit(1.0), F.col("share") * F.col("scale") / F.col("tok")) * SP.N_BUCKETS)
        .cast("bigint")
        .alias("thresh"),
    )
    return (
        docs.join(F.broadcast(rates), on="source")
        .filter(SP.hash_bucket("doc_id", "mix") < F.col("thresh"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


ORACLE["q_source_mixture"] = f"""
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
),
tot AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS tok,
         CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.4 ELSE 0.4 END AS share
  FROM d GROUP BY source
),
sc AS (SELECT *, min(tok / share) OVER () AS scale FROM tot),
r AS (
  SELECT source,
         CAST(round(least(1.0, share * scale / tok) * {SP.N_BUCKETS}) AS BIGINT) AS thresh
  FROM sc
)
SELECT doc_id, source
FROM d JOIN r USING (source)
WHERE {_bucket_sql('mix')} < thresh
ORDER BY doc_id
"""


# --- C16 extension: PII redaction -----------------------------------------

def q_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub over the corpus (functions/redact.py). The fixture text
    is digit-free, so deterministic PII is synthesized per doc — email
    for doc_id % 3 != 0, phone for % 4 != 0, IPv4 for % 5 != 0, SSN for
    % 7 == 0 — with the identical string expression in the oracle; the
    per-source aggregate then checks both the per-pattern match counts
    (taken on the original text) and the cascade-redacted lengths."""
    from data_ingestion_tool_bakasura__spark.functions import redact as RD

    docs = load_table(spark, sf, "documents")
    did = F.col("doc_id")

    def when_mod(m: int, eq: bool, *parts) -> F.Column:
        cond = (did % m == 0) if eq else (did % m != 0)
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    salted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            when_mod(3, False, F.lit(" contact user"), did.cast("string"),
                     F.lit("@mail.example.com")),
            when_mod(4, False, F.lit(" call +1 555-01"),
                     F.lpad((did % 100).cast("string"), 2, "0")),
            when_mod(5, False, F.lit(" host 10.2."),
                     (did % 256).cast("string"), F.lit(".7")),
            when_mod(7, True, F.lit(" ssn 123-45-6789")),
        ),
    )
    red = RD.redact_pii(salted, "text")
    return (
        red.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_pii_email").alias("n_email"),
            F.sum("n_pii_phone").alias("n_phone"),
            F.sum("n_pii_ipv4").alias("n_ipv4"),
            F.sum("n_pii_ssn").alias("n_ssn"),
            F.sum(F.length("text")).alias("redacted_chars"),
        )
        .orderBy("source")
    )


ORACLE["q_pii_redaction"] = r"""
WITH salted AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 3 <> 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 4 <> 0
                 THEN ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 5 <> 0
                 THEN ' host 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         AS text
  FROM documents
),
red AS (
  SELECT source, text,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]{1,320}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}')) AS n_email,
         len(regexp_extract_all(text, '\+\d(?:[\- ]?\d){7,}')) AS n_phone,
         len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
         len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]{1,320}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}', '[PII:email]', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '[PII:ssn]', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII:ipv4]', 'g'),
           '\+\d(?:[\- ]?\d){7,}', '[PII:phone]', 'g') AS redacted
  FROM salted
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
       CAST(sum(len(redacted)) AS BIGINT) AS redacted_chars
FROM red GROUP BY source ORDER BY source
"""


# --- C16 extension: sequence packing (concat-and-cut shards) --------------

def q_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Training-shard assignment (operators/sampling.py pack_sequences):
    seeded-shuffle order, 1000-token shard capacity, per-shard stats.
    ``first_pos`` > 0 marks shards whose opening tokens belong to a doc
    that started in the previous shard — the concat-and-cut overflow."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("tok")
    )
    packed = SP.pack_sequences(toks, "tok", capacity=1000)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("shard_tokens"),
            F.min("pack_pos").alias("first_pos"),
        )
        .orderBy("shard_id")
    )


ORACLE["q_sequence_packing"] = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS tok,
         md5('pack:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, tok,
         CAST(COALESCE(SUM(tok) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS excl
  FROM t
)
SELECT excl // 1000 AS shard_id, count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS shard_tokens,
       CAST(min(excl % 1000) AS BIGINT) AS first_pos
FROM c GROUP BY 1 ORDER BY shard_id
"""


def q_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level dedup with surgery (Lee et al. 2022 shape):
    every duplicated word {n}-gram keeps one canonical occurrence
    corpus-wide; the other occurrences' token spans are cut out after
    gaps-and-islands merging. Where q_repeated_spans COUNTS the
    duplicated-gram signal, this applies it and value-checks the full
    result — span count, tokens removed/kept, and the md5 of each
    cleaned document — against an oracle that re-derives the same
    canonical ranking, island merge and token surgery in SQL."""
    from data_ingestion_tool_bakasura__spark.operators.dedup import remove_repeated_spans

    docs = load_table(spark, sf, "documents")
    out = remove_repeated_spans(docs, n=_SPAN_N)
    return (
        docs.select("doc_id", "source")
        .join(out, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_spans",
            "n_tokens_removed",
            "n_tokens_kept",
            F.md5("cleaned").alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


def _span_pass_sql(k: int, src: str) -> str:
    """CTEs of one span-surgery pass over ``src`` (doc_id, tk): the
    canonical ranking, island merge and token surgery, suffixed ``k``
    — ``clean{k}`` holds the kept text, ``sp{k}`` the accounting."""
    return f"""tok{k} AS (
  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
  FROM {src}, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i)
  WHERE tk[i] <> ''
), g{k} AS (
  SELECT doc_id, i - 1 AS st, i + {_SPAN_N - 2} AS en,
         array_to_string(tk[i:i+{_SPAN_N - 1}], ' ') AS gh
  FROM {src}, LATERAL (SELECT unnest(range(1, len(tk) - {_SPAN_N - 2})) AS i)
  WHERE len(tk) >= {_SPAN_N}
), dup{k} AS (
  SELECT doc_id, st, en FROM (
    SELECT doc_id, st, en,
           row_number() OVER (PARTITION BY gh ORDER BY doc_id, st) AS rn
    FROM g{k})
  WHERE rn > 1
), isl{k} AS (
  SELECT doc_id, st, en,
         CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id ORDER BY st
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM dup{k}
), merged{k} AS (
  SELECT doc_id, island, min(st) AS st, max(en) AS en
  FROM (SELECT doc_id, st, en,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY st) AS island
        FROM isl{k})
  GROUP BY doc_id, island
), removed{k} AS (
  SELECT doc_id, unnest(range(st, en + 1)) AS pos FROM merged{k}
), kept{k} AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok{k} t LEFT JOIN removed{k} r ON t.doc_id = r.doc_id AND t.pos = r.pos
  WHERE r.doc_id IS NULL
), clean{k} AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned,
         count(*) AS n_tokens_kept
  FROM kept{k} GROUP BY doc_id
), sp{k} AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(en - st + 1) AS n_tokens_removed
  FROM merged{k} GROUP BY doc_id
)"""


# two passes, the second over the first's cleaned text
# (remove_repeated_spans); the accounting sums over both
ORACLE["q_substring_dedup"] = f"""
WITH d AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
), {_span_pass_sql(1, "d")}, d2 AS (
  SELECT d.doc_id, string_split(coalesce(c.cleaned, ''), ' ') AS tk
  FROM d LEFT JOIN clean1 c ON d.doc_id = c.doc_id
), {_span_pass_sql(2, "d2")}
SELECT d.doc_id, d.source,
       CAST(coalesce(s1.n_spans, 0) + coalesce(s2.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s1.n_tokens_removed, 0) + coalesce(s2.n_tokens_removed, 0)
            AS BIGINT) AS n_tokens_removed,
       CAST(coalesce(c.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       md5(coalesce(c.cleaned, '')) AS clean_hash
FROM d
LEFT JOIN clean2 c ON d.doc_id = c.doc_id
LEFT JOIN sp1 s1 ON d.doc_id = s1.doc_id
LEFT JOIN sp2 s2 ON d.doc_id = s2.doc_id
ORDER BY d.doc_id
"""


def q_lm_quality(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet/KenLM-style perplexity filter signal: char-trigram unigram
    LM trained on the corpus (MLE counts), each doc scored by average
    negative log-likelihood. The model aggregation, 1-row total
    normalizer, model join and per-doc average are all re-derived in
    the DuckDB oracle, value-checked to 6 decimals."""
    docs = load_table(spark, sf, "documents")
    out = SP.char_trigram_nll(docs)
    return (
        docs.select("doc_id", "source")
        .join(out, "doc_id")
        .select("doc_id", "source", "n_tri", "n_scored", "nll")
        .orderBy("doc_id")
    )


ORACLE["q_lm_quality"] = """
WITH d AS (
  SELECT doc_id, source,
         lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) AS t
  FROM documents
), tg AS (
  SELECT doc_id,
         unnest([substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 0) + 1)]) AS tri
  FROM d
), model AS (
  SELECT tri, count(*) AS c FROM tg GROUP BY tri
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n FROM model
), sc AS (
  SELECT t.doc_id, count(*) AS n_tri, count(m.c) AS n_scored,
         round(-avg(ln(m.c) - ln((SELECT n FROM tot))), 6) AS nll
  FROM tg t LEFT JOIN model m USING (tri)
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.source,
       CAST(coalesce(sc.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(coalesce(sc.n_scored, 0) AS BIGINT) AS n_scored,
       sc.nll
FROM d LEFT JOIN sc USING (doc_id)
ORDER BY d.doc_id
"""


def q_substring_dedup_incr(spark: SparkSession, sf: str) -> DataFrame:
    """The substring-surgery INCREMENT path at the driver: docs with
    id < 250 are the 'corpus' (only their 8-byte gram index is built),
    docs >= 250 are the increment probed against it. Because arrival is
    id-ordered, the incremental result equals the batch surgery over
    the whole corpus restricted to the increment — so the oracle is
    q_substring_dedup's SQL with that restriction, value-checking the
    semi/anti-join index probe and the within-increment ranking."""
    from data_ingestion_tool_bakasura__spark.operators.dedup import (
        remove_repeated_spans_increment,
        span_gram_index,
    )

    docs = load_table(spark, sf, "documents")
    idx = span_gram_index(docs.filter(F.col("doc_id") < 250), n=_SPAN_N)
    out = remove_repeated_spans_increment(
        docs.filter(F.col("doc_id") >= 250), idx, n=_SPAN_N
    )
    return (
        docs.select("doc_id", "source")
        .join(out, "doc_id")
        .select(
            "doc_id", "source", "n_spans", "n_tokens_removed", "n_tokens_kept",
            F.md5("cleaned").alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


_TEMP_ALPHA = 0.3


def q_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-rebalanced corpus mixing, fully IN-PLAN (the
    collect-free twin of temperature_shares + mixture_rates): per-source
    whitespace-token counts -> n^alpha shares (Conneau et al. 2019,
    alpha=0.3) -> water-filling rates (binding source keeps rate 1,
    everything else downsamples to match its temperature share).
    Two 1-row broadcast normalizers over a |sources|-row aggregate —
    no driver round-trip, so the same plan runs inside a larger
    pipeline. Value-checked: counts, shares and rates to 6 decimals."""
    docs = load_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.sum(TS.n_tokens_ws("text")).cast("double").alias("n")
    )
    z = per.agg(F.sum(F.pow("n", F.lit(_TEMP_ALPHA))).alias("z"))
    t1 = per.crossJoin(F.broadcast(z)).withColumn(
        "share", F.pow("n", F.lit(_TEMP_ALPHA)) / F.col("z")
    )
    scale = t1.agg(F.min(F.col("n") / F.col("share")).alias("scale"))
    return (
        t1.crossJoin(F.broadcast(scale))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_tokens"),
            F.round("share", 6).alias("share"),
            F.round(
                F.least(F.lit(1.0), F.col("share") * F.col("scale") / F.col("n")), 6
            ).alias("rate"),
        )
        .orderBy("source")
    )


ORACLE["q_temperature_mixture"] = f"""
WITH per AS (
  SELECT source,
         CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
              AS DOUBLE) AS n
  FROM documents GROUP BY source
), z AS (
  SELECT sum(pow(n, {_TEMP_ALPHA})) AS z FROM per
), t1 AS (
  SELECT source, n, pow(n, {_TEMP_ALPHA}) / (SELECT z FROM z) AS share FROM per
), sc AS (
  SELECT min(n / share) AS scale FROM t1
)
SELECT source, CAST(n AS BIGINT) AS n_tokens,
       round(share, 6) AS share,
       round(least(1.0, share * (SELECT scale FROM sc) / n), 6) AS rate
FROM t1
ORDER BY source
"""


def q_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering, the CCNet second-stage shape
    (Wenzek et al. 2020 run a fastText classifier after the LM
    perplexity filter): a logistic model over five deterministic text
    features, scored entirely in-plan — one scan, one codegen
    projection, the coefficients folded in as literals. Features,
    sigmoid and keep-flag are all re-derived in the DuckDB oracle and
    value-checked to 6 decimals. The weights parameter is the
    pretrained-model seam (any offline-trained linear classifier
    serves through the same expression)."""
    from data_ingestion_tool_bakasura__spark.operators.sampling import (
        _spread,
        quality_classifier_score,
    )

    # the operator itself is a pure exchange-free projection (plan
    # test); the fixture parquet is ONE split, so the regexp-heavy
    # features would run on one core without the scale-up guard
    # (a no-op at production split counts)
    docs = _spread(load_table(spark, sf, "documents"))
    return quality_classifier_score(docs).orderBy("doc_id")


ORACLE["q_quality_classifier"] = f"""
WITH f AS (
  SELECT doc_id,
         length(coalesce(text, '')) AS n_chars,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
         len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                         x -> lower(x) IN {_SW})) AS n_sw,
         length(regexp_replace(coalesce(text, ''), '[^.,;:!?]', '', 'g')) AS n_punct,
         length(regexp_replace(coalesce(text, ''), '\\s', '', 'g')) AS n_nonspace,
         len(regexp_extract_all(coalesce(text, ''), '[0-9]')) AS n_digit
  FROM documents
), x AS (
  SELECT doc_id,
         least(n_chars / 1000.0, 1.0) AS len_norm,
         CASE WHEN n_tok = 0 THEN 0.0 ELSE n_sw / n_tok::DOUBLE END AS stopword_ratio,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct / n_chars::DOUBLE END AS punct_ratio,
         CASE WHEN n_tok = 0 THEN 0.0
              ELSE abs(n_nonspace / n_tok::DOUBLE - 5.0) / 5.0 END AS word_len_dev,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE n_digit / n_chars::DOUBLE END AS digit_ratio
  FROM f
), z AS (
  SELECT *, -1.0 + 2.0 * len_norm + 3.0 * stopword_ratio - 4.0 * punct_ratio
            - 1.0 * word_len_dev - 2.0 * digit_ratio AS zz
  FROM x
)
SELECT doc_id,
       round(len_norm, 6) AS len_norm,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(word_len_dev, 6) AS word_len_dev,
       round(digit_ratio, 6) AS digit_ratio,
       round(1.0 / (1.0 + exp(-zz)), 6) AS q_score,
       round(1.0 / (1.0 + exp(-zz)), 6) >= 0.5 AS keep
FROM z
ORDER BY doc_id
"""


def q_deep_clean_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Round-7 capstone composition: substring-span surgery
    (remove_repeated_spans) -> char-trigram LM self-scoring of the
    POST-surgery text (the model trains on what survives, the CCNet
    ordering) -> per-source accounting (docs cut, tokens removed,
    average NLL, docs flagged above 5.38 nats), value-checked against
    a single DuckDB oracle that re-derives surgery, model and rollup
    in SQL.

    The surgery output is a GC-scoped checkpoint since r18 (the r17
    live-scan census counted 7 wide scans: the span surgery — the
    single most expensive per-byte operator in the engine — re-derived
    under the LM's model branch, its scoring branch, its totals and
    the rollup joins). Measured min-of-3 isolated at sf0.1: lazy
    7.20s, persist() 5.11s, reliable_checkpoint 3.98s — unlike the
    minhash/DSIR share points this one wins big either way because
    each re-derivation repeats the surgery's work, not a cheap scan.
    This is also the production seam: at 100 TB the cleaned corpus is
    written to parquet once and every downstream filter reads that,
    never re-runs the surgery."""
    from data_ingestion_tool_bakasura__spark.operators.dedup import (
        remove_repeated_spans,
    )
    from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint

    docs = load_table(spark, sf, "documents")
    cleaned = reliable_checkpoint(remove_repeated_spans(docs, n=_SPAN_N))
    # broadcast_model=True: caller-asserted small trigram domain (the
    # auto gate would run its size-estimate job at plan-build time);
    # q_lm_quality exercises the auto gate on the same corpus
    scored = SP.char_trigram_nll(
        cleaned, text_col="cleaned", id_col="doc_id", broadcast_model=True
    )
    return (
        docs.select("doc_id", "source")
        .join(cleaned.select("doc_id", "n_spans", "n_tokens_removed"), "doc_id")
        .join(scored.select("doc_id", "nll"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_spans") > 0, 1).otherwise(0)).alias("n_docs_cut"),
            F.sum("n_tokens_removed").cast("bigint").alias("tokens_removed"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.sum(F.when(F.col("nll") > 5.38, 1).otherwise(0)).alias("n_flagged"),
        )
        .orderBy("source")
    )


ORACLE["q_deep_clean_pipeline"] = f"""
WITH d AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
), tok AS (
  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
  FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i)
  WHERE tk[i] <> ''
), g AS (
  SELECT doc_id, i - 1 AS st, i + {_SPAN_N - 2} AS en,
         array_to_string(tk[i:i+{_SPAN_N - 1}], ' ') AS gh
  FROM d, LATERAL (SELECT unnest(range(1, len(tk) - {_SPAN_N - 2})) AS i)
  WHERE len(tk) >= {_SPAN_N}
), dup AS (
  SELECT doc_id, st, en FROM (
    SELECT doc_id, st, en,
           row_number() OVER (PARTITION BY gh ORDER BY doc_id, st) AS rn
    FROM g)
  WHERE rn > 1
), isl AS (
  SELECT doc_id, st, en,
         CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id ORDER BY st
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM dup
), merged AS (
  SELECT doc_id, island, min(st) AS st, max(en) AS en
  FROM (SELECT doc_id, st, en,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY st) AS island
        FROM isl)
  GROUP BY doc_id, island
), removed AS (
  SELECT doc_id, unnest(range(st, en + 1)) AS pos FROM merged
), kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.pos = r.pos
  WHERE r.doc_id IS NULL
), clean AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
), sp AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(en - st + 1) AS n_tokens_removed
  FROM merged GROUP BY doc_id
), cdoc AS (
  SELECT d.doc_id, d.source,
         lower(trim(regexp_replace(coalesce(clean.cleaned, ''), '\\s+', ' ', 'g'))) AS ct,
         coalesce(sp.n_spans, 0) AS n_spans,
         coalesce(sp.n_tokens_removed, 0) AS n_tokens_removed
  FROM d
  LEFT JOIN clean ON d.doc_id = clean.doc_id
  LEFT JOIN sp ON d.doc_id = sp.doc_id
), tg AS (
  SELECT doc_id,
         unnest([substr(ct, i, 3) FOR i IN range(1, greatest(len(ct) - 2, 0) + 1)]) AS tri
  FROM cdoc
), model AS (
  SELECT tri, count(*) AS c FROM tg GROUP BY tri
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n FROM model
), sc AS (
  SELECT t.doc_id, round(-avg(ln(m.c) - ln((SELECT n FROM tot))), 6) AS nll
  FROM tg t LEFT JOIN model m USING (tri)
  GROUP BY t.doc_id
)
SELECT cdoc.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN cdoc.n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_cut,
       CAST(sum(cdoc.n_tokens_removed) AS BIGINT) AS tokens_removed,
       round(avg(sc.nll), 6) AS avg_nll,
       CAST(sum(CASE WHEN sc.nll > 5.38 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM cdoc LEFT JOIN sc ON cdoc.doc_id = sc.doc_id
GROUP BY cdoc.source
ORDER BY cdoc.source
"""


def q_lm_quality_xcorpus(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus LM scoring — the 100 TB serving shape of
    q_lm_quality: the trigram model is trained on a REFERENCE slice
    (source = 'src0') and every document is scored against it, so
    out-of-vocabulary grams drop from the average and surface as
    n_scored < n_tri (fully-OOV docs score NULL). Exercises the
    pretrained-model seam and the operator's left-join path end-to-end
    at the driver."""
    docs = load_table(spark, sf, "documents")
    model = SP.char_trigram_counts(docs.filter(F.col("source") == "src0"))
    out = SP.char_trigram_nll(docs, model=model)
    return (
        docs.select("doc_id", "source")
        .join(out, "doc_id")
        .select("doc_id", "source", "n_tri", "n_scored", "nll")
        .orderBy("doc_id")
    )


ORACLE["q_substring_dedup_incr"] = ORACLE["q_substring_dedup"].replace(
    "ORDER BY d.doc_id", "WHERE d.doc_id >= 250 ORDER BY d.doc_id"
)

ORACLE["q_lm_quality_xcorpus"] = """
WITH d AS (
  SELECT doc_id, source,
         lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) AS t
  FROM documents
), tg AS (
  SELECT doc_id,
         unnest([substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 0) + 1)]) AS tri
  FROM d
), model AS (
  SELECT tri, count(*) AS c FROM (
    SELECT unnest([substr(t, i, 3) FOR i IN range(1, greatest(len(t) - 2, 0) + 1)]) AS tri
    FROM d WHERE source = 'src0'
  ) GROUP BY tri
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n FROM model
), sc AS (
  SELECT t.doc_id, count(*) AS n_tri, count(m.c) AS n_scored,
         round(-avg(ln(m.c) - ln((SELECT n FROM tot))), 6) AS nll
  FROM tg t LEFT JOIN model m USING (tri)
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.source,
       CAST(coalesce(sc.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(coalesce(sc.n_scored, 0) AS BIGINT) AS n_scored,
       sc.nll
FROM d LEFT JOIN sc USING (doc_id)
ORDER BY d.doc_id
"""


# --- DSIR importance resampling (Xie et al. 2023) --------------------------

#: the "benchmark-like" target slice for the DSIR queries
_DSIR_TARGET = "lang = 'en' AND source = 'src0'"
_DSIR_K = 25

#: DuckDB twin of sampling.hash_bucket over an arbitrary expression
def _bucket_of(e: str, salt: str) -> str:
    return (
        f"('0x' || substr(md5('{salt}:' || {e}), 1, 13))::BIGINT % {SP.N_BUCKETS}"
    )


_DSIR_TOKS = "unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))"

#: shared oracle CTE chain: token streams -> bucket counts -> smoothed
#: log-ratio table -> per-doc weights (unigram features; the bigram leg
#: is certified by unit test against a Python reference instead)
_DSIR_CTES = f"""
WITH t_toks AS (
  SELECT {_DSIR_TOKS} AS w FROM documents WHERE {_DSIR_TARGET}
), r_toks AS (
  SELECT doc_id, {_DSIR_TOKS} AS w FROM documents
), tc AS (
  SELECT {_bucket_of('w', 'dsir')} AS bucket, count(*) AS tc
  FROM t_toks WHERE w <> '' GROUP BY 1
), rc AS (
  SELECT {_bucket_of('w', 'dsir')} AS bucket, count(*) AS rc
  FROM r_toks WHERE w <> '' GROUP BY 1
), j AS (
  SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
         coalesce(tc.tc, 0) AS tc, coalesce(rc.rc, 0) AS rc
  FROM tc FULL JOIN rc ON tc.bucket = rc.bucket
), tot AS (
  SELECT sum(tc) AS t_n, sum(rc) AS r_n FROM j
), ratio AS (
  SELECT bucket,
         ln((tc + 1.0) / (t_n + {SP.N_BUCKETS}.0))
         - ln((rc + 1.0) / (r_n + {SP.N_BUCKETS}.0)) AS log_ratio
  FROM j, tot
), sums AS (
  SELECT doc_id, avg(log_ratio) AS lw
  FROM (SELECT doc_id, {_bucket_of('w', 'dsir')} AS bucket
        FROM r_toks WHERE w <> '') f
  JOIN ratio USING (bucket) GROUP BY doc_id
), weights AS (
  SELECT d.doc_id, coalesce(s.lw, 0.0) AS log_weight
  FROM documents d LEFT JOIN sums s USING (doc_id)
)
"""


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc DSIR log importance weight against the en/src0 target
    slice (unigram features for oracle parity)."""
    docs = load_table(spark, sf, "documents")
    return SP.dsir_weights(
        docs, docs.filter(_DSIR_TARGET), ngrams=(1,)
    ).orderBy("doc_id")


ORACLE["q_dsir_weights"] = f"""
{_DSIR_CTES}
SELECT doc_id, log_weight FROM weights ORDER BY doc_id
"""


def q_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """Gumbel-top-k importance resampling: k docs sampled without
    replacement proportional to importance, deterministically (the
    noise is a hash of the doc id — reproducible across engines)."""
    docs = load_table(spark, sf, "documents")
    return SP.dsir_select(docs, docs.filter(_DSIR_TARGET), k=_DSIR_K, ngrams=(1,))


ORACLE["q_dsir_select"] = f"""
{_DSIR_CTES}
SELECT doc_id, log_weight,
       log_weight - ln(-ln(({_bucket_of('doc_id', 'dsir-gumbel')} + 0.5)
                           / {SP.N_BUCKETS}.0)) AS key
FROM weights
ORDER BY key DESC, doc_id LIMIT {_DSIR_K}
"""


QUERIES = {
    name: fn
    for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
}

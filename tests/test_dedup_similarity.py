"""Near-dup + similarity operator tests (C13/C14): MinHash/LSH recall on
planted near-duplicates, SimHash locality, ANN recall vs exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.operators import dedup as DD
from data_ingestion_tool_bakasura__spark.operators import similarity as SIM
from data_ingestion_tool_bakasura__spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def _near_dup_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("today", "tomorrow")),  # near-dup of 1
        (3, "completely different content about spark query engines and shuffles"),
        (4, base),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_fast_path_equals_array_form(spark):
    """Regression guard: the window-shingle throughput path and the
    array-expression form are independent implementations of the same
    hash family — they must agree byte-for-byte on every edge class."""
    rows = [
        (1, ""), (2, "   "), (3, "two words"), (4, "exactly three tokens"),
        (5, "dup dup dup dup dup"), (6, "a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        r["doc_id"]: tuple(r[f"mh{k}"] for k in range(8))
        for r in DD.minhash_signatures(df, num_hashes=8, shingle_n=3).collect()
    }
    slow = {
        r["doc_id"]: tuple(r["mh_sig"])
        for r in DD.with_minhash(df, "text", num_hashes=8, shingle_n=3).collect()
    }
    assert fast == slow


def test_minhash_finds_planted_near_dups(spark):
    df = _near_dup_corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_candidates(df, num_hashes=16, bands=8).collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup collides in some band
    assert not any(3 in p for p in pairs)  # unrelated doc stays out


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.jaccard_pairs(df, shingle_n=1).collect()
    }
    assert abs(pairs[(1, 2)] - 3 / 5) < 1e-9  # |{a,b,c}| / |{a,b,c,d,e}|
    assert (1, 3) not in pairs or pairs[(1, 3)] == 0.0


def test_simhash_locality(spark):
    df = _near_dup_corpus(spark)
    sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select("doc_id", DD.simhash64("text").alias("sig")).collect()
    }
    assert sigs[1] == sigs[4]  # identical text -> identical signature
    mask = (1 << 64) - 1
    d_near = bin((sigs[1] ^ sigs[2]) & mask).count("1")
    d_far = bin((sigs[1] ^ sigs[3]) & mask).count("1")
    assert d_near < d_far  # locality: near-dup closer in Hamming space


def test_simhash_candidates_include_dups(spark):
    df = _near_dup_corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"]) for r in DD.simhash_candidates(df).collect()
    }
    assert (1, 4) in pairs


def test_lsh_ann_recall_vs_exact(spark):
    """ANN top-3 must recover most of the exact top-3 (recall >= 0.5 at
    these parameters on the fixture corpus)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["q_id"], r["vec_id"])
        for r in SIM.cosine_topk_batch(corpus, queries, k=3).collect()
    }
    ann = {
        (r["q_id"], r["vec_id"])
        for r in SIM.lsh_ann_topk(
            corpus, queries, dim=64, k=3, num_tables=12, bits=4
        ).collect()
    }
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_lsh_ann_default_config_recall_floor(spark):
    """ANN.md contract: the DEFAULT config (8 tables, 6 bits, 2 probes)
    measured recall@10 = 0.673 on the adversarial near-isotropic
    fixture (tools/ann_tuning.py). Hyperplanes are deterministically
    seeded, so the floor is reproducible; assert >= 0.6 here so a
    default regression is caught."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.limit(15).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {
        (r["q_id"], r["vec_id"])
        for r in SIM.cosine_topk_batch(emb, queries, k=10).collect()
    }
    ann = {
        (r["q_id"], r["vec_id"])
        for r in SIM.lsh_ann_topk(emb, queries, dim=64, k=10).collect()
    }
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.6, f"default-config recall below ANN.md floor: {recall}"


def test_cosine_top1_self(spark):
    """Property: a vector's nearest neighbor (including itself) is itself."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top1 = SIM.cosine_topk_batch(emb, q, k=1).collect()[0]
    assert top1["vec_id"] == 7
    assert abs(top1["cos_sim"] - 1.0) < 1e-6


def test_ivf_partitions_cover_corpus(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = SIM.pick_seed_centroids(emb, 8)
    assigned = SIM.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("c_id").distinct().count() <= 8


def test_simhash_agg_equals_expression_form(spark):
    """simhash64_agg (fast path) must produce bit-identical signatures
    to the simhash64 reference expression."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    ref = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", DD.simhash64("text").alias("sig")).collect()
    }
    fast = {
        r["_id"]: r["sig"] for r in DD.simhash64_agg(docs, "text", "doc_id").collect()
    }
    assert fast == ref


def test_lsh_multiprobe_improves_recall(spark):
    """Query-directed multi-probe (probes>0) must not lose candidates:
    probed buckets are a superset of base buckets, so recall is
    monotone in `probes`; on this corpus it strictly improves."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in SIM.cosine_topk_batch(emb, queries, k=5).collect()
    }

    def recall(probes):
        ann = {
            (r["q_id"], r["vec_id"])
            for r in SIM.lsh_ann_topk(
                emb, queries, dim=64, k=5, num_tables=8, bits=6, probes=probes
            ).collect()
        }
        return len(ann & exact) / len(exact)

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0
    assert r4 >= 0.5, f"multi-probe recall too low: {r4}"


def test_lsh_ann_recovers_planted_high_cos_neighbor(spark):
    """Curation regime: a planted cos>=0.98 neighbor must be retrieved
    at the default (8 tables, 6 bits, 2 probes) config — per-table hit
    rate ~(1-theta/pi)^6 ~ 0.67, miss probability over 8 tables+probes
    < 1e-4."""
    import numpy as np

    rng = [float(x) for x in np.cos(np.arange(64))]  # deterministic base vector
    near = list(rng)
    near[0] += 0.1  # tiny perturbation: cosine ~0.999
    rows = [(0, rng), (1, near)] + [
        (i, [float(x) for x in np.cos(np.arange(64) * i + 7)]) for i in range(2, 200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("q_id"), "embedding")
    got = {
        r["vec_id"]
        for r in SIM.lsh_ann_topk(emb.filter("vec_id > 0"), q, dim=64, k=3).collect()
    }
    assert 1 in got


def test_lsh_full_coverage_equals_exact(spark):
    """The q_lsh_exact_twin contract (r14): at bits=1 the per-table key
    space is exactly {t:0, t:1} and probes=1 emits the flipped key, so
    every query probes BOTH buckets of every table — candidate set ==
    full corpus STRUCTURALLY (independent of the hyperplane draw), and
    full-coverage LSH must equal the exact cosine top-k row-for-row
    (same round-6 scores, same tie-break)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = sorted(
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in SIM.cosine_topk_batch(corpus, queries, k=3).collect()
    )
    got = sorted(
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in SIM.lsh_ann_topk(
            corpus, queries, dim=64, k=3, num_tables=2, bits=1, probes=1
        ).collect()
    )
    assert got == exact
    # the structural half, pinned directly: the probe UDF at
    # bits=1/probes=1 emits BOTH keys of every table
    probe = SIM.lsh_bucket_keys_udf(64, num_tables=2, bits=1, probes=1)
    keys = queries.select(probe("embedding").alias("ks")).collect()
    for r in keys:
        assert sorted(r["ks"]) == ["0:0", "0:1", "1:0", "1:1"]


def test_lsh_increment_matches_batch_restriction(spark):
    """Incremental near-dup parity theorem: with no bucket cap, probing
    an increment against the persisted band index yields EXACTLY the
    pairs a full recompute over corpus+new produces that touch a new
    doc — and the corpus-only pairs are exactly the rest. The increment
    never re-reads corpus text, so this is the 100 TB daily-dedup path."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(120).cache()
    split = 80
    corpus = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)

    full = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_candidates(docs, max_bucket_size=None).collect()
    }
    old = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_candidates(corpus, max_bucket_size=None).collect()
    }
    index = DD.lsh_band_index(corpus)
    inc = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_increment(new, index, max_bucket_size=None).collect()
    }
    touching_new = {p for p in full if p[0] >= split or p[1] >= split}
    assert inc == touching_new
    assert old == full - touching_new


def test_lsh_increment_combined_cap(spark):
    """With a cap, increment bucket sizes are counted over index+new
    combined — its pairs must match the full recompute's new-touching
    pairs under the same cap (cap-crossing buckets drop on both sides)."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(120).cache()
    split = 80
    corpus = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)
    cap = 3  # small enough that real buckets cross it

    full = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_candidates(docs, max_bucket_size=cap).collect()
    }
    inc = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_increment(
            new, DD.lsh_band_index(corpus), max_bucket_size=cap
        ).collect()
    }
    assert inc == {p for p in full if p[0] >= split or p[1] >= split}


def test_ann_index_persists_and_probes_identically(spark, tmp_path):
    """The persisted-index search path: ann_index written to parquet,
    read back, probed with lsh_ann_topk_indexed — must return exactly
    what the one-shot lsh_ann_topk returns (deterministic seeded
    hyperplanes make index-time and probe-time keys agree), so a 100 TB
    corpus is hashed once, not per search."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)

    direct = sorted(
        map(tuple, SIM.lsh_ann_topk(corpus, queries, dim=64, k=3).collect())
    )
    p = str(tmp_path / "ann_index")
    SIM.ann_index(corpus, dim=64).write.parquet(p)
    via_index = sorted(
        map(
            tuple,
            SIM.lsh_ann_topk_indexed(
                spark.read.parquet(p), queries, dim=64, k=3
            ).collect(),
        )
    )
    assert direct == via_index


def test_ivf_topk_exact_at_full_probe_and_partial_recall(spark):
    """IVF search contract: probing ALL lists reproduces exact
    cosine_topk_batch byte-for-byte (same rescoring + tiebreak);
    probing 1 of 4 lists still finds a useful fraction while touching
    ~1/4 of the corpus."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    cents = SIM.pick_seed_centroids(corpus, 4)
    assigned = SIM.ivf_assign(corpus, cents)

    exact = sorted(map(tuple, SIM.cosine_topk_batch(corpus, queries, k=3).collect()))
    full = sorted(
        map(tuple, SIM.ivf_topk(assigned, cents, queries, k=3, nprobe=4).collect())
    )
    assert full == exact

    part = {
        (r["q_id"], r["vec_id"])
        for r in SIM.ivf_topk(assigned, cents, queries, k=3, nprobe=1).collect()
    }
    recall = len(set(map(lambda t: (t[0], t[1]), exact)) & part) / len(exact)
    assert recall >= 0.25, recall


def test_winnow_candidate_pairs_find_planted_overlap(spark):
    """MOSS-style sketch join: docs sharing a long token run must pair
    (coverage guarantee at min_shared=1); unrelated docs must not; the
    max_bucket cap drops universal-boilerplate fingerprints."""
    shared = "a long planted overlap run of nine whole tokens"
    rows = [
        (1, f"first document prefix {shared} and its own ending words"),
        (2, f"other beginning text {shared} completely different tail"),
        (3, "nothing in common with anything else at all here truly"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in DD.winnow_candidate_pairs(df, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)
    # boilerplate cap: a fingerprint shared by every doc is dropped
    # when max_bucket < corpus size, killing the pair explosion
    many = [(i, f"unique{i} words {shared} tail{i}") for i in range(10)]
    dfm = spark.createDataFrame(many, "doc_id long, text string")
    capped = DD.winnow_candidate_pairs(dfm, min_shared=1, max_bucket=5).collect()
    uncapped = DD.winnow_candidate_pairs(dfm, min_shared=1, max_bucket=100).collect()
    assert len(uncapped) > len(capped)


def test_dedup_paragraphs_canonical_reassembly_and_idempotence(spark):
    """C4/RefinedWeb sub-document dedup: duplicated paragraphs survive
    only at their canonical (lowest doc_id, pos) site, original text
    and order are preserved for survivors, whitespace paragraphs are
    kept, and a second pass is a no-op."""
    boiler = "subscribe to our newsletter today"
    docs = [
        (1, f"unique alpha\n\n{boiler}\n\nunique beta"),
        (2, f"{boiler}\n\nunique gamma\n\n{boiler}"),
        (3, f"unique delta\n\n \n\nunique epsilon"),
        (4, boiler),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.dedup_paragraphs(df).collect()}
    assert out[1]["text"] == docs[0][1]  # canonical site keeps everything
    assert out[1]["n_dropped"] == 0
    assert out[2]["text"] == "unique gamma"  # both boiler copies dropped
    assert out[2]["n_dropped"] == 2 and out[2]["n_paras"] == 3
    assert out[3]["text"] == docs[2][1]  # whitespace paragraph survives
    assert out[4]["text"] == "" and out[4]["n_dropped"] == 1
    # idempotence: re-running drops nothing further
    once = DD.dedup_paragraphs(df).select("doc_id", "text")
    twice = {r["doc_id"]: r for r in DD.dedup_paragraphs(once).collect()}
    for i in (1, 2, 3, 4):
        assert twice[i]["text"] == out[i]["text"]
        assert twice[i]["n_dropped"] == 0


def test_dedup_paragraphs_null_text_passthrough(spark):
    """ADVICE r6: split(NULL) explodes to zero rows, so an inner join
    silently dropped NULL-text docs. They must pass through with zeroed
    accounting, and real docs must dedup exactly as before."""
    boiler = "repeated boilerplate paragraph"
    docs = [
        (1, f"unique alpha\n\n{boiler}"),
        (2, None),
        (3, boiler),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.dedup_paragraphs(df).collect()}
    assert set(out) == {1, 2, 3}  # the NULL-text doc is NOT lost
    assert out[2]["text"] is None
    assert out[2]["n_paras"] == 0 and out[2]["n_dropped"] == 0
    assert out[1]["text"] == docs[0][1] and out[1]["n_dropped"] == 0
    assert out[3]["text"] == "" and out[3]["n_dropped"] == 1


def test_centroids_preserve_string_ids(spark):
    """ADVICE r6: maxmin/kmeans centroid frames hardcoded `c_id long`,
    crashing on non-numeric id columns. The id column's type must round
    trip through seeding, Lloyd refinement, and ivf_assign."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (f"doc-{i:03d}", [float(x) for x in rng.standard_normal(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    seeds = SIM.maxmin_seed_centroids(df, 4, id_col="vec_id")
    assert seeds.schema["c_id"].dataType.typeName() == "string"
    assert seeds.count() == 4
    cents = SIM.kmeans_centroids(df, 4, iters=2, id_col="vec_id")
    assert cents.schema["c_id"].dataType.typeName() == "string"
    assigned = SIM.ivf_assign(df, cents, corpus_id="vec_id")
    assert assigned.schema["c_id"].dataType.typeName() == "string"
    cid_set = {r["c_id"] for r in cents.collect()}
    assert {r["c_id"] for r in assigned.collect()} <= cid_set
    assert assigned.count() == 40


def test_pq_rerank_equals_exact_and_codes_are_bytes(spark):
    """PQ two-stage contract: ADC shortlist + exact rerank reproduces
    exact cosine_topk_batch byte-for-byte (the q_pq_rerank oracle
    contract; shortlist 200 because this isotropic fixture is PQ's
    adversarial case — worst measured ADC rank of a true top-3 item is
    140 of 495 here, and the pipeline is deterministic so the margin is
    fixed, not probabilistic), and pq_encode emits exactly m one-byte
    codes per vector within the tinyint code range."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = sorted(map(tuple, SIM.cosine_topk_batch(corpus, queries, k=3).collect()))
    got = sorted(
        map(
            tuple,
            SIM.pq_adc_rerank_topk(corpus, queries, k=3, shortlist=200).collect(),
        )
    )
    assert got == exact
    books = SIM.pq_train(corpus, m=8, n_codes=32)
    enc = SIM.pq_encode(corpus, books)
    rows = enc.select("pq_code").collect()
    assert all(len(r["pq_code"]) == 8 for r in rows)
    assert all(0 <= c < 32 for r in rows for c in r["pq_code"])
    # determinism: same corpus -> identical codebooks
    again = sorted(map(tuple, SIM.pq_train(corpus, m=8, n_codes=32).collect()))
    assert again == sorted(map(tuple, books.collect()))


def test_pq_adc_shortlist_matches_numpy_reference(spark):
    """The ADC stage of pq_adc_topk_indexed (one codegen expression
    over a flat LUT literal holding every query's table) against a
    numpy gather over the same codes: with shortlist == k the result is
    exactly each query's ADC shortlist, so its ids must be numpy's top
    ADC ids per query. The Spark sum runs left to right and numpy's
    pairwise, so ids may differ only where reference scores tie at the
    cut within 1e-12."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    books = SIM.pq_train(corpus, m=4, n_codes=8)
    codes = SIM.pq_encode(corpus, books).select("vec_id", "pq_code")
    sl = 7
    got = {}
    for r in SIM.pq_adc_topk_indexed(
        codes, corpus, queries, books, k=sl, shortlist=sl
    ).collect():
        got.setdefault(r["q_id"], set()).add(r["vec_id"])

    C = SIM._pq_codebook_np(books)
    m, _n, sub = C.shape
    Cf = np.where(np.isfinite(C), C, 0.0)
    rows = codes.collect()
    ids = np.array([r["vec_id"] for r in rows])
    Cd = np.array([r["pq_code"] for r in rows], dtype=np.int64)
    for q in queries.collect():
        v = np.asarray(q["embedding"], dtype=np.float64)
        lut = np.einsum("js,jcs->jc", (v / np.linalg.norm(v)).reshape(m, sub), Cf)
        score = lut[np.arange(m)[None, :], Cd].sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (-score[i], ids[i]))
        want = {ids[i] for i in order[:sl]}
        cut = score[order[sl - 1]]
        tied = {ids[i] for i in order if abs(score[i] - cut) <= 1e-12}
        assert got[q["q_id"]] - tied == want - tied


def test_ivfadc_full_probe_equals_exact_partial_prunes(spark):
    """IVFADC contract: full probe + generous shortlist reproduces the
    exact scan byte-for-byte (the q_ivfadc_search oracle); partial
    probe still returns k rows per query and a sane recall while
    touching ~nprobe/n_lists of the corpus."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = sorted(map(tuple, SIM.cosine_topk_batch(corpus, queries, k=3).collect()))
    # per-variant shortlists from the measured worst ADC rank of a true
    # top-3 item on THIS fixture (raw 140, residual ~200 of 495 — the
    # isotropic corpus is the adversarial case; deterministic pipeline,
    # so the margins are fixed, not probabilistic)
    for residual, shortlist in ((False, 200), (True, 300)):
        full = sorted(
            map(
                tuple,
                SIM.ivfadc_topk(
                    corpus, queries, k=3, nprobe=8, n_lists=8,
                    shortlist=shortlist, residual=residual,
                ).collect(),
            )
        )
        assert full == exact, f"residual={residual}"
    part = SIM.ivfadc_topk(
        corpus, queries, k=3, nprobe=2, n_lists=8, shortlist=100
    ).collect()
    assert len(part) == 15  # 5 queries x k=3 — probed lists cover enough
    ex = {(a, b) for a, b, _ in exact}
    got = {(r["q_id"], r["vec_id"]) for r in part}
    assert len(got & ex) / len(ex) >= 0.2


def test_winnow_fingerprints_match_reference_and_cover_shared_runs(spark):
    """winnow_fingerprints equals a direct python transcription of the
    winnowing algorithm (per-window minima of 52-bit md5 gram hashes),
    and the SIGMOD'03 coverage guarantee holds: docs sharing a token
    run of >= window + shingle_n - 1 tokens share >= 1 fingerprint."""
    import hashlib

    def ref_fp(text: str, n: int = 3, w: int = 4) -> set:
        toks = " ".join(text.split()).strip().split(" ")
        if len(toks) < n:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:13], 16) for g in grams]
        return {min(hs[i : i + w]) for i in range(max(len(hs) - w, 0) + 1)}

    shared = "one shared run of exactly six tokens"  # 6 >= 4 + 3 - 1
    docs = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away"),
        (2, "tiny doc"),
        (3, f"alpha beta {shared} gamma delta epsilon"),
        (4, f"completely different prefix then {shared} and another tail"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict = {i: set() for i, _ in docs}
    for r in DD.winnow_fingerprints(df).collect():
        got[r["doc_id"]].add(r["fp"])
    for i, t in docs:
        assert got[i] == ref_fp(t), f"doc {i}"
    assert got[3] & got[4], "coverage guarantee violated on planted shared run"
    assert not (got[1] & got[2])
    # density bound sanity: sketch is a small fraction of the gram count
    n_grams_1 = len(docs[0][1].split()) - 2
    assert len(got[1]) <= n_grams_1


def test_kmeans_centroids_recover_planted_clusters(spark):
    """Lloyd refinement contract on planted clusters: after 3
    iterations the fitted centroids separate well-spaced clusters
    perfectly (every member's nearest centroid is its own cluster's),
    while full-probe search over kmeans centroids still equals the
    exact scan — the invariant that keeps q_ivf_search's oracle sound
    for ANY centroid set."""
    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = [i % 4 for i in range(120)]
    vecs = centers[labels] + 0.05 * rng.standard_normal((120, 16))
    df = spark.createDataFrame(
        [(i, labels[i], [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, label int, embedding array<double>",
    )
    cents = SIM.kmeans_centroids(df, 4, iters=3)
    assigned = SIM.ivf_assign(df, cents)
    # purity: each fitted list contains exactly one planted cluster
    rows = assigned.join(df.select("vec_id", "label"), "vec_id").collect()
    by_list: dict = {}
    for r in rows:
        by_list.setdefault(r["c_id"], set()).add(r["label"])
    assert len(by_list) == 4
    assert all(len(s) == 1 for s in by_list.values()), by_list
    # full-probe equality holds with kmeans centroids too
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 3)
    kc = SIM.kmeans_centroids(corpus, 4, iters=2)
    kass = SIM.ivf_assign(corpus, kc)
    exact = sorted(
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in SIM.cosine_topk_batch(corpus, queries, k=3).collect()
    )
    full = sorted(
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in SIM.ivf_topk(kass, kc, queries, k=3, nprobe=4).collect()
    )
    assert full == exact


def test_kmeans_centroids_deterministic_below_sample_cap(spark):
    """ROADMAP 5(c): with ``sample_cap`` below half the corpus the fit
    sees only the md5-first rows, and which rows those are must not
    depend on the call or on the corpus's partitioning and row order —
    two calls and a repartition(7)-reordered copy give identical
    centroids."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cap = emb.count() // 2 - 1

    def fit(df):
        return sorted(
            (r["c_id"], tuple(r["embedding"]))
            for r in SIM.kmeans_centroids(df, 4, iters=2, sample_cap=cap).collect()
        )

    first = fit(emb)
    assert len(first) == 4
    assert fit(emb) == first
    assert fit(emb.repartition(7)) == first


def test_ivfadc_runs_no_scoring_udf(spark):
    """ivfadc_topk scores the probed (query, list) pairs with
    pq_adc_topk_indexed's ADC expression and reranks with its
    literal-query stage: at the defaults the executed plan holds two
    Python evaluation nodes (ivf_assign's and the PQ encode's) and no
    driver-side query relation — the one local relation in it is the
    broadcast probe pairs."""
    import re

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    df = SIM.ivfadc_topk(corpus, queries, k=3)
    assert len(df.collect()) == 15
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the adaptive final plan
    assert len(re.findall(r"(?:Arrow|Batch)EvalPython", plan)) == 2, plan
    local = re.findall(r"(?:LocalTableScan|ExistingRDD).*", plan)
    assert local and all("_bias" in node for node in local), local


def test_quantized_rerank_equals_exact(spark):
    """Two-stage quantized top-k contract: int8 candidate scan with a
    50-wide shortlist + exact rerank reproduces exact cosine_topk_batch
    byte-for-byte (same rounding + tiebreak) — the contract that lets
    q_quantized_rerank reuse the exact scan's oracle. Also checks the
    shortlist dial: a shortlist of exactly k degrades gracefully to
    whatever the quantized ranking says (still k rows per query)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = sorted(map(tuple, SIM.cosine_topk_batch(corpus, queries, k=3).collect()))
    rerank = sorted(
        map(
            tuple,
            SIM.quantized_rerank_topk(corpus, queries, k=3, shortlist=50).collect(),
        )
    )
    assert rerank == exact

    narrow = SIM.quantized_rerank_topk(corpus, queries, k=3, shortlist=3)
    per_q = {r["q_id"] for r in narrow.collect()}
    assert narrow.count() == 3 * len(per_q)


def test_driver_query_collect_guard(spark, monkeypatch):
    """r9 verdict #6: paths that collect the query set driver-side
    (ADC LUTs, HNSW beam search) must raise an actionable error on an
    unbounded query DataFrame — pointing at the join-based paths —
    instead of silently OOMing the driver."""
    import pytest

    from data_ingestion_tool_bakasura__spark.operators import hnsw as HN

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.limit(8).select(F.col("vec_id").alias("q_id"), "embedding")
    corpus = emb.limit(40)
    books = SIM.pq_train(corpus, m=4, n_codes=8)
    codes = SIM.pq_encode(corpus, books).select("vec_id", "pq_code")
    graph = HN.hnsw_index(corpus, n_shards=2)

    monkeypatch.setattr(SIM, "MAX_DRIVER_QUERIES", 5)
    with pytest.raises(ValueError, match="lsh_ann_topk"):
        SIM.pq_adc_rerank_topk(corpus, queries, k=2, m=4, n_codes=8)
    with pytest.raises(ValueError, match="lsh_ann_topk"):
        SIM.ivfadc_topk(corpus, queries, k=2, n_lists=2, m=4, n_codes=8)
    with pytest.raises(ValueError, match="lsh_ann_topk"):
        HN.hnsw_topk(corpus, queries, k=2)
    # the serving collectors IndexClient runs
    with pytest.raises(ValueError, match="lsh_ann_topk"):
        SIM.pq_adc_topk_indexed(codes, corpus, queries, books, k=2)
    with pytest.raises(ValueError, match="lsh_ann_topk"):
        HN.hnsw_topk_indexed(graph, queries, k=2)
    # under the cap the same calls work
    monkeypatch.setattr(SIM, "MAX_DRIVER_QUERIES", 10_000)
    assert SIM.pq_adc_rerank_topk(corpus, queries, k=2, m=4, n_codes=8).count() > 0


def test_binary_quantize_packing_and_hamming(spark):
    """r12: sign bits pack 63 dims per BIGINT word (64th bit clear —
    no ANSI overflow) and XOR+bit_count Hamming equals the per-dim
    sign-disagreement count."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_bakasura__spark.operators.similarity import (
        binary_hamming,
        binary_quantize,
    )

    import random

    random.seed(5)
    dim = 130  # 3 words: 63 + 63 + 4
    va = [random.uniform(-1, 1) for _ in range(dim)]
    vb = [random.uniform(-1, 1) for _ in range(dim)]
    df = spark.createDataFrame(
        [(1, va, vb)], "id int, a array<double>, b array<double>"
    )
    out = (
        binary_quantize(binary_quantize(df, "a", "ca"), "b", "cb")
        .select(
            "ca", "cb", binary_hamming("ca", "cb").alias("ham")
        )
        .first()
    )
    assert len(out["ca"]) == 3
    assert all(0 <= w < (1 << 63) for w in out["ca"])  # top bit clear
    want = sum((x > 0) != (y > 0) for x, y in zip(va, vb))
    assert out["ham"] == want
    # bit layout: word w, MSB-first over its slice
    bits = "".join(
        format(w, "063b")[-min(63, dim - i * 63):]
        for i, w in enumerate(out["ca"])
    )
    # the final word holds only dim-126=4 bits; reconstruct & compare
    flat = []
    for i, w in enumerate(out["ca"]):
        n = min(63, dim - i * 63)
        flat.extend(int(c) for c in format(w, "b").zfill(n))
    assert flat == [1 if x > 0 else 0 for x in va]
    assert len(bits) >= dim


def test_binary_quantize_empty_vector_guard(spark):
    """r13 ADVICE fix: an empty (or null) embedding must quantize to an
    EMPTY code, not sequence(1,0)'s descending [1,0] ghost words whose
    Hamming 0 would top every shortlist."""
    from data_ingestion_tool_bakasura__spark.operators.similarity import (
        binary_quantize,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -0.5]), (2, []), (3, None)],
        "id int, embedding array<double>",
    )
    got = {
        r["id"]: r["c"]
        for r in binary_quantize(df, "embedding", "c").collect()
    }
    assert len(got[1]) == 1
    assert got[2] == []
    # NULL input stays NULL (r13 ADVICE): no-embedding is not the same
    # row state as a zero-dimension embedding
    assert got[3] is None


def test_binary_rerank_recall_vs_shortlist(spark):
    """ANN.md discipline for the 1-bit path: recall@3 vs the exact
    scan rises with the Hamming shortlist and hits 1.0 when the
    shortlist covers the corpus."""
    import random

    from data_ingestion_tool_bakasura__spark.operators.similarity import (
        binary_rerank_topk,
        cosine_topk_batch,
    )

    random.seed(11)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(32)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    queries = emb.filter("vec_id < 5").selectExpr(
        "vec_id as q_id", "embedding"
    )
    corpus = emb.filter("vec_id >= 5")
    exact = {
        (r["q_id"], r["vec_id"])
        for r in cosine_topk_batch(
            corpus, queries, k=3, corpus_id="vec_id", query_id="q_id"
        ).collect()
    }

    def recall(shortlist):
        got = {
            (r["q_id"], r["vec_id"])
            for r in binary_rerank_topk(
                corpus, queries, k=3, shortlist=shortlist,
                corpus_id="vec_id", query_id="q_id",
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_small, r_mid, r_full = recall(5), recall(40), recall(115)
    assert r_full == 1.0  # shortlist covers the corpus -> exact
    assert r_small <= r_mid <= 1.0
    assert r_mid >= 0.5  # 32-dim gaussians: sign agreement carries signal

"""remove_repeated_spans (Lee et al. substring surgery) and
semantic_dedup (SemDeDup cluster-cosine prune) unit tests: planted
duplicates, canonical-keeps-first, island merging, idempotence, NULL
handling, witness semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_tool_bakasura__spark.operators import dedup as DD
from data_ingestion_tool_bakasura__spark.operators import similarity as SIM


def _span_corpus(spark):
    run = "w1 w2 w3 w4 w5"  # 5-token span shared verbatim
    rows = [
        (1, f"alpha beta {run} gamma delta"),          # canonical (lowest doc, pos)
        (2, f"intro {run} outro words here"),          # dup -> span cut
        (3, f"{run} and then {run} trailing"),         # two dup occurrences
        (4, "totally unrelated text with no overlap"),  # untouched
        (5, None),                                      # NULL text
        (6, f"x {run} y {run} z"),                      # dup twice, non-adjacent
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _result_map(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_remove_repeated_spans_planted(spark):
    out = _result_map(DD.remove_repeated_spans(_span_corpus(spark), n=5))
    # canonical occurrence (doc 1) keeps its text verbatim
    assert out[1]["cleaned"] == "alpha beta w1 w2 w3 w4 w5 gamma delta"
    assert out[1]["n_spans"] == 0 and out[1]["n_tokens_removed"] == 0
    # doc 2's single occurrence is cut
    assert out[2]["cleaned"] == "intro outro words here"
    assert out[2]["n_spans"] == 1 and out[2]["n_tokens_removed"] == 5
    # doc 3: BOTH its occurrences are duplicates of doc 1's canonical
    assert out[3]["cleaned"] == "and then trailing"
    assert out[3]["n_spans"] == 2 and out[3]["n_tokens_removed"] == 10
    # untouched doc
    assert out[4]["cleaned"] == "totally unrelated text with no overlap"
    # NULL text cleans to '' with zeroed accounting
    assert out[5]["cleaned"] == "" and out[5]["n_spans"] == 0
    assert out[5]["n_tokens_kept"] == 0
    # two disjoint islands in one doc
    assert out[6]["cleaned"] == "x y z"
    assert out[6]["n_spans"] == 2
    # kept + removed partitions the token count
    assert out[2]["n_tokens_kept"] == 4
    for d in (1, 2, 3, 4, 6):
        assert len(out[d]["cleaned"].split(" ")) == out[d]["n_tokens_kept"]


def test_remove_repeated_spans_overlap_merges_to_one_island(spark):
    # 7-token repeated run with n=5 -> 3 overlapping dup grams in doc 2
    # must merge into ONE island covering the whole run
    run = "r1 r2 r3 r4 r5 r6 r7"
    df = spark.createDataFrame(
        [(1, f"a {run} b"), (2, f"c {run} d")], "doc_id long, text string"
    )
    out = _result_map(DD.remove_repeated_spans(df, n=5))
    assert out[2]["n_spans"] == 1
    assert out[2]["n_tokens_removed"] == 7
    assert out[2]["cleaned"] == "c d"
    assert out[1]["cleaned"] == f"a {run} b"


def _nested_span_corpus(spark):
    """Doc 3 holds run A split by span B; A's and B's canonical copies
    sit in docs 1 and 2. Cutting B re-joins a whole second copy of A."""
    run_a = "a1 a2 a3 a4 a5 a6"
    span_b = "b1 b2 b3 b4 b5"
    rows = [
        (1, f"p {run_a} q"),
        (2, f"r {span_b} s"),
        (3, f"t a1 a2 a3 {span_b} a4 a5 a6 u"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_remove_repeated_spans_idempotent(spark):
    """A second pass over the cleaned corpus removes nothing: every
    surviving gram occurrence is canonical — also where cutting one
    span re-joins a duplicated run it split."""
    for corpus in (_span_corpus(spark), _nested_span_corpus(spark)):
        first = DD.remove_repeated_spans(corpus, n=5).select(
            "doc_id", F.col("cleaned").alias("text")
        )
        second = _result_map(DD.remove_repeated_spans(first, text_col="text", n=5))
        assert all(v["n_tokens_removed"] == 0 for v in second.values())
        firsts = {r["doc_id"]: r["text"] for r in first.collect()}
        assert all(second[d]["cleaned"] == firsts[d] for d in firsts)


def test_remove_repeated_spans_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "")], "doc_id long, text string"
    )
    out = _result_map(DD.remove_repeated_spans(df, n=5))
    # both below gram length -> no grams -> untouched even though equal
    assert out[1]["cleaned"] == "tiny doc" and out[2]["cleaned"] == "tiny doc"
    assert out[3]["cleaned"] == ""


def _vec(seed, bump=0.0):
    v = [0.0] * 8
    v[seed] = 1.0
    v[(seed + 1) % 8] = bump
    return v


def test_semantic_dedup_planted_clusters(spark):
    # two tight clusters (axes 0 and 4) + one singleton direction
    rows = [
        (10, _vec(0)),            # cluster A canonical
        (11, _vec(0, 0.05)),      # near-dup of 10
        (12, _vec(0, 0.10)),      # near-dup of 10
        (20, _vec(4)),            # cluster B canonical
        (21, _vec(4, 0.08)),      # near-dup of 20
        (30, _vec(2)),            # lone direction: kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(4)), (2, _vec(2))],
        "c_id long, embedding array<double>",
    )
    dec = {r["vec_id"]: r.asDict() for r in DD.semantic_dedup(df, cents, eps=0.9).collect()}
    assert not dec[10]["is_dup"] and not dec[20]["is_dup"] and not dec[30]["is_dup"]
    assert dec[11]["is_dup"] and dec[11]["dup_of"] == 10
    assert dec[12]["is_dup"] and dec[12]["dup_of"] == 10
    assert dec[21]["is_dup"] and dec[21]["dup_of"] == 20
    # witnesses stay within the cluster: 21 never points at 10/11/12
    assert dec[21]["dup_of"] not in (10, 11, 12)
    # kept rows carry NULL witness fields
    assert dec[30]["dup_of"] is None and dec[30]["max_sim"] is None


def test_semantic_dedup_eps_dial(spark):
    """Raising eps strictly shrinks the dropped set (monotone dial)."""
    rows = [(i, _vec(i % 4, 0.03 * (i // 4))) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = SIM.pick_seed_centroids(df, 4)
    drops = {}
    for eps in (0.8, 0.95, 0.999999):
        dec = DD.semantic_dedup(df, cents, eps=eps)
        drops[eps] = {r["vec_id"] for r in dec.filter("is_dup").collect()}
    assert drops[0.999999] <= drops[0.95] <= drops[0.8]
    # exact duplicates (same direction, bump 0) always drop at any eps:
    # ids 0..3 are canonicals; their exact twins at bump 0 don't exist
    # here, so just assert the top eps only keeps >= the canonical count
    assert len(drops[0.8]) >= len(drops[0.999999])


def test_char_trigram_nll_self_scoring(spark):
    from data_ingestion_tool_bakasura__spark.operators import sampling as SP
    import math

    df = spark.createDataFrame(
        [(1, "abcabc"), (2, "abc"), (3, "xy"), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in SP.char_trigram_nll(df).collect()}
    # doc 1: abca? trigrams of 'abcabc' = abc,bca,cab,abc -> 4; doc 2: abc -> 1
    assert out[1]["n_tri"] == 4 and out[2]["n_tri"] == 1
    # self-scoring: every trigram observed
    assert all(v["n_scored"] == v["n_tri"] for v in out.values())
    # short/NULL docs: no trigrams, NULL score
    assert out[3]["n_tri"] == 0 and out[3]["nll"] is None
    assert out[4]["n_tri"] == 0 and out[4]["nll"] is None
    # hand-check doc 2: corpus counts abc=3, bca=1, cab=1, total=5
    # nll(doc2) = -ln(3/5)
    assert abs(out[2]["nll"] - (-math.log(3 / 5))) < 1e-6
    # doc 1 mixes the frequent and rare grams -> higher nll than pure-abc doc
    expect1 = -(2 * math.log(3 / 5) + math.log(1 / 5) + math.log(1 / 5)) / 4
    assert abs(out[1]["nll"] - expect1) < 1e-6


def test_char_trigram_nll_pretrained_model_oov(spark):
    from data_ingestion_tool_bakasura__spark.operators import sampling as SP

    ref = spark.createDataFrame([(1, "abcabcabc")], "doc_id long, text string")
    model = SP.char_trigram_counts(ref)
    probe = spark.createDataFrame(
        [(10, "abc"), (11, "zzz"), (12, "abczzz")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in SP.char_trigram_nll(probe, model=model).collect()
    }
    # in-vocab doc scores on all grams
    assert out[10]["n_scored"] == out[10]["n_tri"] == 1
    # fully OOV doc: no scored grams, NULL nll — the OOV gap is visible
    assert out[11]["n_tri"] == 1 and out[11]["n_scored"] == 0
    assert out[11]["nll"] is None
    # mixed doc: OOV grams drop from the average, counts expose it
    assert out[12]["n_tri"] == 4 and 0 < out[12]["n_scored"] < 4


def test_semantic_dedup_increment_wave_parity(spark):
    """Id-ordered waves through semantic_dedup_increment reproduce the
    batch semantic_dedup decisions exactly — including dups whose
    witness was itself dropped (the index keeps every seen vector)."""
    rows = [(i, _vec(i % 3, 0.02 * i)) for i in range(18)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = SIM.pick_seed_centroids(df, 3)
    batch = {r["vec_id"]: r.asDict() for r in DD.semantic_dedup(df, cents, eps=0.9).collect()}

    waves = [df.filter(f"vec_id < 6"), df.filter("vec_id >= 6 and vec_id < 12"), df.filter("vec_id >= 12")]
    index = None
    inc: dict[int, dict] = {}
    for w in waves:
        from data_ingestion_tool_bakasura__spark.operators.similarity import ivf_assign

        assigned = ivf_assign(w, cents, round_dp=6)
        idx = index if index is not None else assigned.limit(0)
        dec = DD.semantic_dedup_increment(w, idx, cents, eps=0.9)
        inc.update({r["vec_id"]: r.asDict() for r in dec.collect()})
        index = idx.unionByName(assigned) if index is not None else assigned
        index = index.localCheckpoint(eager=True)
    assert set(inc) == set(batch)
    for k in batch:
        assert inc[k] == batch[k], (k, inc[k], batch[k])


def test_streaming_semantic_dedup_two_waves(spark, tmp_path):
    from data_ingestion_tool_bakasura__spark.streaming import pipeline as SP

    rows1 = [(1, _vec(0)), (2, _vec(0, 0.03)), (3, _vec(4))]
    rows2 = [(4, _vec(0, 0.06)), (5, _vec(2)), (6, _vec(2, 0.02)), (7, _vec(2, 0.04))]
    all_rows = spark.createDataFrame(rows1 + rows2, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(4)), (2, _vec(2))], "c_id long, embedding array<double>"
    )
    landing = str(tmp_path / "landing")
    decisions = str(tmp_path / "decisions")
    index = str(tmp_path / "index")
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)\
            .write.mode("append").parquet(landing)
        SP.start_streaming_semantic_dedup(
            SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
            cents, decisions, index, eps=0.9,
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination()

    dec = {r["vec_id"]: r.asDict() for r in spark.read.parquet(decisions).collect()}
    batch = {r["vec_id"]: r.asDict() for r in DD.semantic_dedup(all_rows, cents, eps=0.9).collect()}
    assert dec == batch  # id-ordered arrival == batch decisions
    # index holds EVERY seen vector (kept and dropped)
    assert {r["vec_id"] for r in spark.read.parquet(index).collect()} == set(range(1, 8))

    # checkpoint-loss replay: the exact-id guard keeps decisions unique
    SP.start_streaming_semantic_dedup(
        SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
        cents, decisions, index, eps=0.9,
        checkpoint=str(tmp_path / "ckpt_replay"),
    ).awaitTermination()
    assert spark.read.parquet(decisions).count() == 7
    assert spark.read.parquet(index).count() == 7


def test_semantic_dedup_kmeans_composition_and_string_ids(spark):
    """semantic_dedup composes with Lloyd-refined centroids, and the
    decision schema derives from the corpus id type (string ids
    round-trip through assignment, witness and dup_of)."""
    rows = [(f"doc-{i:02d}", _vec(i % 2, 0.04 * (i // 2))) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    cents = SIM.kmeans_centroids(df, 2, iters=2)
    dec = DD.semantic_dedup(df, cents, eps=0.9)
    assert dict(dec.dtypes)["vec_id"] == "string"
    assert dict(dec.dtypes)["dup_of"] == "string"
    got = {r["vec_id"]: r.asDict() for r in dec.collect()}
    assert len(got) == 10
    # lexicographically-first member of each direction survives
    assert not got["doc-00"]["is_dup"] and not got["doc-01"]["is_dup"]
    # every dropped row's witness precedes it lexicographically
    for k, v in got.items():
        if v["is_dup"]:
            assert v["dup_of"] < k


def test_remove_repeated_spans_increment_wave_parity(spark):
    """Doc-id-ordered waves through the gram-index increment reproduce
    the batch surgery exactly on the increment docs; the corpus text is
    never re-tokenized (only its 8-byte gram index is read)."""
    run = "w1 w2 w3 w4 w5"
    run2 = "z1 z2 z3 z4 z5"
    wave1 = [(1, f"alpha beta {run} gamma"), (2, f"{run2} solo here")]
    wave2 = [(3, f"intro {run} outro"), (4, f"pre {run2} post {run2} tail"),
             (5, "fresh new content no overlap"), (6, f"a {run} b {run2} c")]
    all_df = spark.createDataFrame(wave1 + wave2, "doc_id long, text string")
    batch = {r["doc_id"]: r.asDict()
             for r in DD.remove_repeated_spans(all_df, n=5).collect()}

    df1 = spark.createDataFrame(wave1, "doc_id long, text string")
    df2 = spark.createDataFrame(wave2, "doc_id long, text string")
    idx1 = DD.span_gram_index(df1, n=5)
    out1 = {r["doc_id"]: r.asDict()
            for r in DD.remove_repeated_spans_increment(
                df1, idx1.limit(0), n=5).collect()}
    out2 = {r["doc_id"]: r.asDict()
            for r in DD.remove_repeated_spans_increment(df2, idx1, n=5).collect()}
    got = {**out1, **out2}
    assert got == batch
    # sanity on the interesting rows: doc 3's run cut vs corpus, doc 4
    # cut twice vs corpus, doc 6 loses both runs
    assert got[3]["cleaned"] == "intro outro"
    assert got[4]["cleaned"] == "pre post tail" and got[4]["n_spans"] == 2
    assert got[6]["cleaned"] == "a b c"
    # index growth: appending wave2's index makes a LATER wave-3 doc
    # repeating wave-2-only content get cut (the corpus holds canon)
    idx2 = idx1.unionByName(DD.span_gram_index(df2, n=5)).distinct()
    df3 = spark.createDataFrame(
        [(7, "prefix fresh new content no overlap suffix")], "doc_id long, text string"
    )
    out3 = {r["doc_id"]: r.asDict()
            for r in DD.remove_repeated_spans_increment(df3, idx2, n=5).collect()}
    assert out3[7]["n_spans"] == 1  # doc 5's 5-gram arrived in wave 2
    assert out3[7]["cleaned"] == "prefix suffix"


def test_streaming_span_dedup_two_waves(spark, tmp_path):
    from data_ingestion_tool_bakasura__spark.streaming import pipeline as SP

    run = "s1 s2 s3 s4 s5"
    wave1 = [(1, f"head {run} tail"), (2, "nothing shared at all here")]
    wave2 = [(3, f"pre {run} post"), (4, f"{run} twice {run} end")]
    all_df = spark.createDataFrame(wave1 + wave2, "doc_id long, text string")
    batch = {r["doc_id"]: r["cleaned"]
             for r in DD.remove_repeated_spans(all_df, n=5).collect()}

    landing = str(tmp_path / "landing")
    cleaned = str(tmp_path / "cleaned")
    index = str(tmp_path / "index")
    for rows in (wave1, wave2):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)\
            .write.mode("append").parquet(landing)
        SP.start_streaming_span_dedup(
            SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
            cleaned, index, n=5, checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination()

    got = {r["doc_id"]: r["cleaned"] for r in spark.read.parquet(cleaned).collect()}
    assert got == batch  # id-ordered arrival == batch surgery
    assert got[3] == "pre post" and got[4] == "twice end"

    # checkpoint-loss replay: exact-id guard -> no duplicate rows, and
    # crucially no self-cut (docs would clean to '' without the guard)
    SP.start_streaming_span_dedup(
        SP.stream_documents(spark, landing, spark.read.parquet(landing).schema),
        cleaned, index, n=5, checkpoint=str(tmp_path / "ckpt_replay"),
    ).awaitTermination()
    replayed = spark.read.parquet(cleaned)
    assert replayed.count() == 4
    assert {r["doc_id"]: r["cleaned"] for r in replayed.collect()} == batch


def test_semantic_dedup_whale_cluster_cap(spark):
    """max_cluster_size salts an oversized cluster into deterministic
    sub-groups: memory bounds at cap^2 per task, each sub-group keeps
    one canonical of an all-identical whale, and the capped drop set is
    a subset of the uncapped one (the trade loses only cross-sub
    pairs, it never invents duplicates)."""
    rows = [(i, _vec(0)) for i in range(12)] + [(100, _vec(4))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(4))], "c_id long, embedding array<double>"
    )
    full = {r["vec_id"] for r in DD.semantic_dedup(df, cents, eps=0.99)
            .filter("is_dup").collect()}
    assert full == set(range(1, 12))  # one canonical of the whale
    capped_df = DD.semantic_dedup(df, cents, eps=0.99, max_cluster_size=4)
    capped = {r["vec_id"] for r in capped_df.filter("is_dup").collect()}
    # 12 identical vectors over ceil(12/4)=3 sub-groups: each non-empty
    # sub-group keeps exactly one -> 9..11 dropped, and only ever a
    # subset of the uncapped drops
    assert capped <= full and 12 - 3 <= len(capped) <= 11
    # determinism: same salt -> same decisions
    again = {r["vec_id"] for r in DD.semantic_dedup(df, cents, eps=0.99,
             max_cluster_size=4).filter("is_dup").collect()}
    assert again == capped
    # the singleton cluster is untouched either way
    assert 100 not in capped and 100 not in full


def test_remove_repeated_spans_rejects_degenerate_n(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for n in (0, 1, -3):
        with pytest.raises(ValueError):
            DD.remove_repeated_spans(df, n=n)
        with pytest.raises(ValueError):
            DD.remove_repeated_spans_increment(df, DD.span_gram_index(df, n=5), n=n)


def test_temperature_shares_dial(spark):
    """alpha=1 reproduces natural proportions, alpha=0 is uniform, and
    lowering alpha strictly flattens (low-resource share grows)."""
    import math

    from data_ingestion_tool_bakasura__spark.operators import sampling as SP

    rows = [("big", 900), ("mid", 90), ("small", 10)]
    df = spark.createDataFrame(rows, "src string, tok long")
    nat = SP.temperature_shares(df, "src", "tok", alpha=1.0)
    assert math.isclose(nat["big"], 0.9) and math.isclose(nat["small"], 0.01)
    uni = SP.temperature_shares(df, "src", "tok", alpha=0.0)
    assert all(math.isclose(v, 1 / 3) for v in uni.values())
    t = SP.temperature_shares(df, "src", "tok", alpha=0.3)
    assert nat["small"] < t["small"] < uni["small"]
    assert uni["big"] < t["big"] < nat["big"]
    assert math.isclose(sum(t.values()), 1.0)
    # composes with mixture_rates: shares are a valid target dict
    rates = SP.mixture_rates(df, "src", "tok", t)
    assert max(rates.values()) == 1.0 and all(0 < r <= 1 for r in rates.values())
    import pytest

    with pytest.raises(ValueError):
        SP.temperature_shares(df, "src", "tok", alpha=-0.1)

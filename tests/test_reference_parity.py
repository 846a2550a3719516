"""Randomized whole-corpus parity: the r7 operators vs direct Python
reference implementations (the winnow-test precedent — an independent
oracle beyond the planted fixtures and the DuckDB SQL). One seeded
corpus rich in collisions, one Spark job per operator."""

from __future__ import annotations

import math
import re
import random

import numpy as np

from data_ingestion_tool_bakasura__spark.operators import dedup as DD


def _random_corpus(seed=7, n_docs=40, alphabet=4, max_len=40):
    rng = random.Random(seed)
    toks = [f"t{i}" for i in range(alphabet)]
    rows = []
    for d in range(n_docs):
        ln = rng.randrange(0, max_len + 1)
        rows.append((d, " ".join(rng.choice(toks) for _ in range(ln)) if ln else ""))
    return rows


def _ref_surgery(rows, n):
    """The operator's two passes: the one-pass cut, then the same cut
    over the first pass's kept text; the accounting sums over both."""
    one = _ref_pass(rows, n)
    two = _ref_pass([(d, v[0]) for d, v in one.items()], n)
    return {d: (two[d][0], one[d][1] + two[d][1], one[d][2] + two[d][2], two[d][3]) for d in one}


def _ref_pass(rows, n):
    toks = {d: t.split() if t else [] for d, t in rows}
    first: dict[tuple, tuple] = {}
    for d in sorted(toks):
        tk = toks[d]
        for i in range(len(tk) - n + 1):
            first.setdefault(tuple(tk[i : i + n]), (d, i))
    out = {}
    for d in sorted(toks):
        tk = toks[d]
        spans = [
            (i, i + n - 1)
            for i in range(len(tk) - n + 1)
            if first[tuple(tk[i : i + n])] != (d, i)
        ]
        merged: list[list[int]] = []
        for st, en in spans:  # already sorted by st
            if merged and st <= merged[-1][1] + 0:  # overlap only (match operator)
                merged[-1][1] = max(merged[-1][1], en)
            else:
                merged.append([st, en])
        removed = {i for st, en in merged for i in range(st, en + 1)}
        kept = [tk[i] for i in range(len(tk)) if i not in removed]
        out[d] = (
            " ".join(kept),
            len(merged),
            sum(en - st + 1 for st, en in merged),
            len(kept),
        )
    return out


def test_remove_repeated_spans_matches_python_reference(spark):
    rows = _random_corpus()
    n = 4
    want = _ref_surgery(rows, n)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cleaned"], r["n_spans"], r["n_tokens_removed"], r["n_tokens_kept"])
        for r in DD.remove_repeated_spans(df, n=n).collect()
    }
    assert got == want
    # the random corpus must actually exercise the operator
    assert sum(v[1] for v in want.values()) > 10


def _ref_semantic(rows, cents, eps, dp=6):
    C = np.array([c for _, c in cents], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    cids = [i for i, _ in cents]
    assign = {}
    for vid, v in rows:
        vn = np.array(v) / max(np.linalg.norm(v), 1e-300)
        sims = np.round(vn @ Cn.T, dp)
        assign[vid] = cids[int(np.argmax(sims))]  # first max -> lowest c_id
    out = {}
    for vid, v in rows:
        wit = []
        vn = np.array(v) / max(np.linalg.norm(v), 1e-300)
        for wid, w in rows:
            if wid >= vid or assign[wid] != assign[vid]:
                continue
            wn = np.array(w) / max(np.linalg.norm(w), 1e-300)
            s = round(float(vn @ wn), dp)
            if s >= eps:
                wit.append((wid, s))
        if wit:
            out[vid] = (assign[vid], True, min(w for w, _ in wit), max(s for _, s in wit))
        else:
            out[vid] = (assign[vid], False, None, None)
    return out


def test_semantic_dedup_matches_python_reference(spark):
    rng = random.Random(11)
    rows = []
    for i in range(60):
        base = [0.0] * 6
        base[rng.randrange(6)] = 1.0
        v = [x + rng.uniform(-0.2, 0.2) for x in base]
        rows.append((i, v))
    cents = [(k, [1.0 if j == k else 0.0 for j in range(6)]) for k in range(6)]
    eps = 0.9
    want = _ref_semantic(rows, cents, eps)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(cents, "c_id long, embedding array<double>")
    got = {}
    for r in DD.semantic_dedup(df, cdf, eps=eps).collect():
        ms = r["max_sim"]
        got[r["vec_id"]] = (
            r["c_id"],
            r["is_dup"],
            r["dup_of"],
            round(ms, 6) if ms is not None else None,
        )
    # float tolerance on max_sim: both sides round to 6dp but numpy
    # matmul vs per-pair dot may differ in the last ulp pre-rounding
    assert set(got) == set(want)
    for k in want:
        gc, gd, gw, gs = got[k]
        wc, wd, ww, ws = want[k]
        assert (gc, gd, gw) == (wc, wd, ww), (k, got[k], want[k])
        if ws is None:
            assert gs is None
        else:
            assert gs is not None and math.isclose(gs, ws, abs_tol=2e-6), (k, gs, ws)
    assert sum(1 for v in want.values() if v[1]) > 10  # non-vacuous


def _ref_trigram_nll(rows):
    import collections

    tris = {}
    for d, t in rows:
        norm = " ".join((t or "").split()).lower()
        tris[d] = [norm[i : i + 3] for i in range(len(norm) - 2)]
    counts = collections.Counter(g for gs in tris.values() for g in gs)
    total = sum(counts.values())
    out = {}
    for d, gs in tris.items():
        if not gs:
            out[d] = (0, 0, None)
        else:
            nll = -sum(math.log(counts[g] / total) for g in gs) / len(gs)
            out[d] = (len(gs), len(gs), round(nll, 6))
    return out


def test_char_trigram_nll_matches_python_reference(spark):
    from data_ingestion_tool_bakasura__spark.operators import sampling as SP

    rng = random.Random(23)
    alphabet = "abcd "
    rows = [
        (d, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40))))
        for d in range(40)
    ]
    want = _ref_trigram_nll(rows)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tri"], r["n_scored"], r["nll"])
        for r in SP.char_trigram_nll(df).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d][:2] == want[d][:2], (d, got[d], want[d])
        if want[d][2] is None:
            assert got[d][2] is None
        else:
            assert math.isclose(got[d][2], want[d][2], abs_tol=2e-6), (d, got[d], want[d])
    assert sum(1 for v in want.values() if v[2] is not None) > 20  # non-vacuous


def _ref_quality_classifier(rows):
    """Direct Python re-implementation of quality_classifier_score's
    five features + sigmoid (weights = DEFAULT_QUALITY_WEIGHTS)."""
    sw = {"the", "a", "of", "and", "to", "in", "is", "for", "on", "with"}
    punct = set(".,;:!?")
    out = {}
    for d, t in rows:
        t = t or ""
        n_chars = len(t)
        # Spark's trim (and DuckDB's) strips SPACES only, so text made
        # of tabs/newlines is non-empty post-trim and splits into
        # empty-string tokens — both engines agree on this quirk and
        # the reference must mirror it, not Python's .strip()
        trimmed = t.strip(" ")
        toks = re.split(r"\s+", trimmed) if trimmed else []
        n_tok = len(toks)
        n_sw = sum(1 for x in toks if x.lower() in sw)
        n_punct = sum(1 for ch in t if ch in punct)
        nonspace = len(re.sub(r"\s", "", t))
        n_digit = sum(1 for ch in t if ch.isdigit() and ch.isascii())
        len_norm = min(n_chars / 1000.0, 1.0)
        sw_r = n_sw / n_tok if n_tok else 0.0
        p_r = n_punct / n_chars if n_chars else 0.0
        dev = abs(nonspace / n_tok - 5.0) / 5.0 if n_tok else 0.0
        d_r = n_digit / n_chars if n_chars else 0.0
        z = -1.0 + 2.0 * len_norm + 3.0 * sw_r - 4.0 * p_r - 1.0 * dev - 2.0 * d_r
        score = round(1.0 / (1.0 + math.exp(-z)), 6)
        out[d] = (round(len_norm, 6), round(sw_r, 6), round(p_r, 6),
                  round(dev, 6), round(d_r, 6), score, score >= 0.5)
    return out


def test_quality_classifier_matches_python_reference(spark):
    from data_ingestion_tool_bakasura__spark.operators.sampling import (
        quality_classifier_score,
    )

    rng = random.Random(31)
    words = ["the", "fox", "of", "runs", "42", "x9", "to", "graph", "!!", "a.b,c"]
    rows = [
        (d, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 30))))
        for d in range(50)
    ] + [(50, None), (51, ""), (52, "  \t \n ")]
    want = _ref_quality_classifier(rows)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["len_norm"], r["stopword_ratio"], r["punct_ratio"],
            r["word_len_dev"], r["digit_ratio"], r["q_score"], r["keep"],
        )
        for r in quality_classifier_score(df).collect()
    }
    assert set(got) == set(want)
    for d in want:
        for gi, wi in zip(got[d][:6], want[d][:6]):
            assert math.isclose(gi, wi, abs_tol=2e-6), (d, got[d], want[d])
        assert got[d][6] == want[d][6], (d, got[d], want[d])
    assert len({v[6] for v in want.values()}) == 2  # both decisions occur


def test_image_near_dup_matches_python_reference(spark):
    """Third independent implementation of the banded-aHash pipeline
    (the DuckDB oracle is the second): randomized payload corpus with
    planted exact/near/far structure, pairs and distances must match a
    direct Python banding + Hamming re-derivation exactly."""
    from data_ingestion_tool_bakasura__spark.multimodal.media import (
        ahash64_py,
        image_near_dup,
    )

    rng = random.Random(41)
    alphabet = "abcdefgh "
    payloads = {}
    for i in range(30):
        payloads[i] = "".join(rng.choice(alphabet) for _ in range(rng.randrange(80, 600)))
    for i in range(30, 40):  # planted twins of 0..9: one-char edits
        src = payloads[i - 30]
        j = rng.randrange(len(src))
        payloads[i] = src[:j] + "Z" + src[j + 1:]
    payloads[40] = payloads[0]  # exact duplicate

    def ref_pairs(bands=4, max_hamming=8):
        hashes = {i: ahash64_py(s) for i, s in payloads.items()}
        out = {}
        ids = sorted(hashes)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                ha, hb = hashes[a], hashes[b]
                if not any(ha[k * 16:(k + 1) * 16] == hb[k * 16:(k + 1) * 16] for k in range(bands)):
                    continue
                d = sum(x != y for x, y in zip(ha, hb))
                if d <= max_hamming:
                    out[(a, b)] = d
        return out

    df = spark.createDataFrame(list(payloads.items()), "media_id long, payload string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup(df, "media_id", "payload").collect()
    }
    want = ref_pairs()
    assert got == want
    assert (0, 40) in want and want[(0, 40)] == 0
    assert sum(1 for (a, b) in want if b == a + 30) >= 7  # most twins surface

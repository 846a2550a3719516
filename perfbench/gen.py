"""Seeded input generator for the benchmark workloads.

Stdlib only, one process, no threads: every byte it writes is a pure
function of the seed, so the same seed gives the same inputs on any
host. The program under test never sees the seed, only the generated
files (``serve``) and the generated parquet corpus (``curate``).

``serve`` inputs are waves of raw files, one directory per wave:

- minimal real PDFs (uncompressed content streams, computed xref), one
  text line per page, parsed by the package's stdlib PDF reader;
- multi-page plain-bytes docs: pages split on form feed, ``TABLE|``
  rows, and short pages that trip the OCR gate (< 100 chars);
- in the first wave, corrupt PDFs whose ``/FlateDecode`` content stream
  does not inflate, which must come out as dead letters;
- from the second wave on, byte-identical re-uploads of earlier good
  files under new names, which must add no rows.

``curate`` input is a document table with planted exact duplicates,
near-duplicates (one word changed) and repeated word spans, plus a
ledger of everything planted.
"""

from __future__ import annotations

import os
import random
import zlib
from dataclasses import dataclass, field

#: The fixture corpus's 31 words, then a fixed tail of made-up words so
#: that BM25 terms and MinHash shingles are discriminative. The tail is
#: a constant of the generator, not of the seed.
BASE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_SYL = ["ba", "ko", "ri", "tu", "me", "sa", "lo", "ni", "de", "vu", "zo", "pe"]
TAIL_WORDS = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:4]]
VOCAB = BASE_WORDS + TAIL_WORDS
#: Rank of each word by sampling weight; a higher rank is a rarer word.
VOCAB_RANK = {w: i for i, w in enumerate(VOCAB)}
#: Zipf-like weights: the base words are common, the tail is long.
_WEIGHTS = [1.0 / (i + 1) ** 0.8 for i in range(len(VOCAB))]

LANGS = ("en", "de", "fr", "es", "zh")
#: Share of a first wave's files that are corrupt, and of every later
#: wave's files that re-upload an earlier file.
CORRUPT_SHARE = 0.1
REUPLOAD_SHARE = 0.2


def words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(VOCAB, weights=_WEIGHTS, k=n)


# ---------------------------------------------------------------------------
# file formats
# ---------------------------------------------------------------------------

def _pdf_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def pdf_bytes(pages: list[str], corrupt: bool = False) -> bytes:
    """A PDF 1.4 file with one Helvetica text line per page. With
    ``corrupt`` each content stream claims ``/FlateDecode`` but holds
    bytes that do not inflate, so a reader must reject the file."""
    n = len(pages)
    font = 3 + 2 * n
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode(),
    ]
    for i, text in enumerate(pages):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 {font} 0 R >> >> >>"
            .encode()
        )
        body = f"BT /F1 12 Tf 72 720 Td ({_pdf_escape(text)}) Tj ET".encode()
        if corrupt:
            # a valid zlib header followed by a truncated deflate body
            body = zlib.compress(body)[:-6]
            objs.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(body), body)
            )
        else:
            objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), body))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(out)


def plain_doc_bytes(rng: random.Random) -> bytes:
    """Plain-bytes doc: 2-4 form-feed pages, some ``TABLE|`` rows, and
    about one page in four short enough to trip the OCR gate."""
    pages = []
    for _ in range(rng.randint(2, 4)):
        if rng.random() < 0.25:
            pages.append(" ".join(words(rng, rng.randint(3, 8))))
            continue
        lines = [" ".join(words(rng, rng.randint(8, 16))) for _ in range(rng.randint(3, 8))]
        for _ in range(rng.randint(0, 2)):
            lines.insert(rng.randrange(len(lines) + 1),
                         "TABLE|" + "|".join(words(rng, 3)))
        pages.append("\n".join(lines))
    return "\f".join(pages).encode()


# ---------------------------------------------------------------------------
# serve: waves of raw files
# ---------------------------------------------------------------------------

@dataclass
class Wave:
    index: int
    path: str
    fresh: list[str] = field(default_factory=list)      # new good files
    corrupt: list[str] = field(default_factory=list)    # must dead-letter
    reuploads: list[str] = field(default_factory=list)  # must add 0 rows


class WaveGenerator:
    """Writes wave ``i`` of a raw-file stream on demand. Wave
    contents depend only on (seed, i) and earlier waves, so a run
    that stops after k waves wrote exactly the first k waves of the
    stream any other run with the same seed writes."""

    def __init__(self, seed: int, root: str, docs_per_wave: int):
        self.seed = seed
        self.root = root
        self.docs_per_wave = docs_per_wave
        self._good: list[tuple[str, bytes]] = []  # (name, bytes) of earlier good files
        self.waves: list[Wave] = []

    def _file(self, rng: random.Random, name: str) -> tuple[str, bytes]:
        if rng.random() < 0.4:
            pages = []
            for _ in range(rng.randint(1, 3)):
                short = rng.random() < 0.3
                pages.append(" ".join(words(rng, rng.randint(4, 10) if short
                                           else rng.randint(25, 45))))
            return name + ".pdf", pdf_bytes(pages)
        return name + ".txt", plain_doc_bytes(rng)

    def next_wave(self) -> Wave:
        i = len(self.waves)
        rng = random.Random(f"{self.seed}/waves/{i}")
        wave = Wave(i, os.path.join(self.root, f"wave_{i:03d}"))
        os.makedirs(wave.path)
        n_corrupt = max(1, round(self.docs_per_wave * CORRUPT_SHARE)) if i == 0 else 0
        n_reup = min(len(self._good), round(self.docs_per_wave * REUPLOAD_SHARE))
        n_fresh = self.docs_per_wave - n_corrupt - n_reup
        files: list[tuple[str, bytes, list[str]]] = []
        for j in range(n_fresh):
            name, data = self._file(rng, f"w{i:03d}_d{j:03d}")
            files.append((name, data, wave.fresh))
            self._good.append((name, data))
        for j in range(n_corrupt):
            pages = [" ".join(words(rng, 30))]
            files.append((f"w{i:03d}_bad{j:02d}.pdf", pdf_bytes(pages, corrupt=True),
                          wave.corrupt))
        for j, (name, data) in enumerate(rng.sample(self._good[: -n_fresh or None], n_reup)):
            files.append((f"w{i:03d}_re{j:02d}_{name}", data, wave.reuploads))
        for name, data, bucket in files:
            with open(os.path.join(wave.path, name), "wb") as f:
                f.write(data)
            bucket.append(name)
        self.waves.append(wave)
        return wave


# ---------------------------------------------------------------------------
# curate: a corpus with planted duplicates
# ---------------------------------------------------------------------------

@dataclass
class CurateLedger:
    exact_copies: dict[int, int]  # copy doc_id -> original doc_id
    near_copies: dict[int, int]   # copy doc_id -> original doc_id
    spans: list[str]              # each planted in several docs


def curate_corpus(seed: int, n_docs: int) -> tuple[list[dict], CurateLedger]:
    """``n_docs`` original docs, plus planted copies: one in ten
    originals gets an exact copy, one in ten a near copy (one word
    substituted, >= 100 words so MinHash similarity stays ~0.94), and
    ``n_docs // 40`` distinct 30-word spans are each inserted into
    three to five originals. Copies get ids above every original, so
    the canonical (lowest-id) member of each cluster is the original."""
    rng = random.Random(f"{seed}/curate")
    docs = []
    for i in range(n_docs):
        docs.append({
            "doc_id": i,
            "text": " ".join(words(rng, rng.randint(100, 160))),
            "lang": rng.choice(LANGS),
            "source": f"src{i % 20}",
        })
    dup_pool = rng.sample(range(n_docs), n_docs // 5)
    exact_src, near_src = dup_pool[: n_docs // 10], dup_pool[n_docs // 10:]
    span_hosts = [i for i in range(n_docs) if i not in set(dup_pool)]
    spans = []
    for _ in range(max(1, n_docs // 40)):
        span = " ".join(words(rng, 30))
        spans.append(span)
        for host in rng.sample(span_hosts, rng.randint(3, 5)):
            toks = docs[host]["text"].split()
            at = rng.randrange(len(toks) + 1)
            docs[host]["text"] = " ".join(toks[:at] + span.split() + toks[at:])
    next_id = n_docs
    exact, near = {}, {}
    for src in exact_src:
        docs.append({**docs[src], "doc_id": next_id})
        exact[next_id] = src
        next_id += 1
    for src in near_src:
        toks = docs[src]["text"].split()
        pos = rng.randrange(len(toks))
        toks[pos] = rng.choice([w for w in TAIL_WORDS if w != toks[pos]])
        docs.append({**docs[src], "doc_id": next_id, "text": " ".join(toks)})
        near[next_id] = src
        next_id += 1
    rng.shuffle(docs)
    return docs, CurateLedger(exact, near, spans)


def write_corpus_parquet(docs: list[dict], path: str) -> None:
    """The corpus as one parquet file (pyarrow ships with pyspark's
    Arrow support, so no Spark job is spent writing the input)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
    })
    pq.write_table(table, path)
